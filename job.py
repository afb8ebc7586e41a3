"""spark-submit entry point: the whole GeoParser dataflow as one job.

    spark-submit --py-files geoparser_spark.zip job.py run \
        --input <docs parquet/iceberg dir> --gazetteer <allCountries.tsv> \
        --output <dir> [--resume] [--tiles]

Replaces the reference's multi-service bootstrap (Solr + Tika + Django
+ gazetteer server on fixed ports, Docker/entrypoint-geoparser.sh:16-19)
with a single Spark application (SURVEY.md §2.4 R5).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from geoparser_spark.operators.extract import extract_with_skew_split
from geoparser_spark.operators.geotag import geotag, points
from geoparser_spark.operators.tiles import build_tile_pyramid, write_tiles
from geoparser_spark.plans.caching import released
from geoparser_spark.plans.runtime import resumable_stage
from geoparser_spark.session import get_spark
from geoparser_spark.sources.geonames import read_geonames_tsv


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    sub = p.add_subparsers(dest="cmd", required=True)
    run = sub.add_parser("run")
    run.add_argument("--input", required=True)
    run.add_argument("--gazetteer", required=True)
    run.add_argument("--output", required=True)
    run.add_argument("--run-id", default=f"run-{os.getpid()}")
    run.add_argument("--partitions", type=int, default=None)
    run.add_argument("--n-logical-parts", type=int, default=256)
    run.add_argument("--tiles", action="store_true")
    run.add_argument(
        "--surface-broadcast", default="auto",
        choices=("auto", "always", "never"),
        help="tag-join strategy for the gazetteer surface table: "
             "'always' broadcasts, 'never' takes the shuffled "
             "first-token equi-join, 'auto' (default) counts surfaces "
             "against geotag.BROADCAST_SURFACE_ROW_BUDGET — the real "
             "12M-place GeoNames lands on the shuffled path "
             "(BENCH/GAZETTEER_SCALE.md)")
    run.add_argument(
        "--redistribute", choices=("mega-only", "all"), default="mega-only",
        help="'mega-only' (default) shuffles only mega-doc chunks; "
             "'all' restores the full-corpus salted repartition for "
             "sources whose own partitioning cannot provide parallelism")
    args = p.parse_args(argv)

    spark = get_spark(app_name="geoparser-job")
    t0 = time.monotonic()

    docs = spark.read.parquet(args.input)
    n_part = args.partitions or spark.sparkContext.defaultParallelism * 4

    extracted = resumable_stage(
        spark, docs,
        lambda df: extract_with_skew_split(df, n_part,
                                           redistribute=args.redistribute),
        output_dir=os.path.join(args.output, "extracted"),
        manifest_dir=os.path.join(args.output, "manifest"),
        run_id=args.run_id, n_parts=args.n_logical_parts,
    )

    gaz = read_geonames_tsv(spark, args.gazetteer)
    bc = {"always": True, "never": False}.get(args.surface_broadcast, "auto")
    tagged = geotag(extracted, gaz, broadcast_surfaces=bc)
    tagged.write.mode("overwrite").parquet(os.path.join(args.output, "geotagged"))

    pts = points(spark.read.parquet(os.path.join(args.output, "geotagged")))
    if args.tiles:
        # the build caches its membership rows for these two writes;
        # leaving the block drops that cache
        with released():
            tiles, extents = build_tile_pyramid(
                pts.select("latitude", "longitude", pts["loc_name"].alias("info"))
            )
            write_tiles(tiles, os.path.join(args.output, "tiles"))
            extents.write.mode("overwrite").parquet(os.path.join(args.output, "extents"))

    n_docs = spark.read.parquet(os.path.join(args.output, "extracted")).count()
    wall = time.monotonic() - t0
    print(json.dumps({"docs": n_docs, "wall_sec": round(wall, 2),
                      "docs_per_sec": round(n_docs / wall, 2)}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
