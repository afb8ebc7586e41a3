"""Tagging at GeoNames allCountries scale: the kernel against the join.

The design point for the gazetteer side is the real allCountries.txt
(~12M places, reference README.md:60-66); unit fixtures are ~200 rows.
This bench synthesizes a GeoNames-shaped gazetteer NATIVELY
(testing/gazetteer.big_gazetteer_df — spark.range + expressions) at
each requested size and tags one synthetic corpus three ways:

  * kernel: ``surface_index.tag_texts``, the one mapInArrow pass that
    ``geotag`` runs, over the compact index (built once per gazetteer,
    shipped with addFile, mmap'd by the workers).  Reported: the
    one-time index build wall, the per-run tag wall, the index bytes and
    the per-worker PSS (whole worker, and the pages of the index files).
  * broadcast: ``candidate_mentions(broadcast_surfaces=True)``.
  * shuffled: ``candidate_mentions(broadcast_surfaces=False)`` with
    autoBroadcastJoinThreshold=-1 — the corpus shuffles once on t0.

The join legs count candidate mentions (before resolve); the kernel leg
runs the whole stage (match, longest-match, scoring, primary).  Each leg
reports the min wall over 3 runs after one untimed warm-up run.

Prints ONE JSON line and rewrites BENCH/GAZETTEER_SCALE.md.

Usage:  python tools/gazetteer_scale_bench.py [n_docs] [surfaces ...]
        (default: 3000 docs at 2,000,000 and 12,000,000 surfaces)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from geoparser_spark.operators.geotag import (  # noqa: E402
    build_surface_forms,
    candidate_mentions,
)
from geoparser_spark.operators.surface_index import (  # noqa: E402
    shipped_index,
    tag_texts,
)
from geoparser_spark.session import get_spark  # noqa: E402
from geoparser_spark.testing.gazetteer import big_gazetteer_df  # noqa: E402

_SYL_A = ("'bran','cold','dun','east','fair','grim','hazel','iron',"
          "'jade','kiln','long','mill'")
_SYL_B = ("'field','ford','gate','holm','keep','mark','ness','port',"
          "'stead','ton','vale','wick'")
RUNS = 3


def synth_texts(spark, n_docs: int, n_names: int = 60):
    """Docs whose tokens come from the SAME syllable×number vocabulary
    big_gazetteer_df names use, so the probe side actually MATCHES —
    each doc is n_names 2-token place names; a name exists in an
    n-surface gazetteer with probability ≈ 1 - exp(-n / (144·9973))
    (≈0.75 at 2M, ≈1 at 12M), so every leg does real candidate
    expansion + longest-match work, not just hash probes."""
    expr = (
        f"array_join(transform(sequence(0, {n_names - 1}), k -> "
        f"concat(element_at(array({_SYL_A}), "
        f"cast(pmod(xxhash64(id, k), 12) as int) + 1), "
        f"element_at(array({_SYL_B}), "
        f"cast(pmod(xxhash64(id, k, 1), 12) as int) + 1), ' ', "
        f"cast(pmod(xxhash64(id, k, 2), 9973) as string))), ' ')"
    )
    par = spark.sparkContext.defaultParallelism
    return spark.range(0, n_docs, 1, par * 2).select(
        F.col("id").cast("string").alias("doc_id"), F.expr(expr).alias("text"))


def _walls(run) -> dict:
    run()  # plan-shape warm-up
    walls, rows = [], 0
    for _ in range(RUNS):
        t0 = time.monotonic()
        rows = run()
        walls.append(round(time.monotonic() - t0, 2))
    return {"rows": rows, "walls_sec": walls, "min_sec": min(walls)}


def _join_leg(spark, texts, surf, broadcast: bool) -> dict:
    """The candidate join; AQE auto-broadcast is disabled on the
    shuffled leg so the measured plan is the one a 12M-surface
    deployment of the join would get."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    if not broadcast:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        return _walls(lambda: candidate_mentions(
            texts, surf, broadcast_surfaces=broadcast).count())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def _worker_pss(spark, prefix: str) -> dict:
    """PSS of the Python workers, whole and of the index mappings,
    read from /proc/self/smaps inside tasks (workers are reused, so
    these are the processes that tagged)."""
    import pyarrow as pa

    def probe(batches):
        for _ in batches:
            pass
        total = index = 0
        in_index = False
        with open("/proc/self/smaps") as f:
            for line in f:
                head = line.split(None, 1)[0]
                if "-" in head and not head.endswith(":"):
                    in_index = prefix in line
                elif head == "Pss:":
                    kb = int(line.split()[1])
                    total += kb
                    index += kb if in_index else 0
        yield pa.RecordBatch.from_pydict(
            {"pid": [os.getpid()], "pss_kb": [total], "index_pss_kb": [index]})

    n = spark.sparkContext.defaultParallelism * 4
    rows = (spark.range(0, n, 1, n)
            .mapInArrow(probe, "pid long, pss_kb long, index_pss_kb long")
            .collect())
    per = {r.pid: (r.pss_kb, r.index_pss_kb) for r in rows}
    return {"workers": len(per),
            "pss_mb": sorted(round(v[0] / 1024, 1) for v in per.values()),
            "index_pss_mb": sorted(round(v[1] / 1024, 1) for v in per.values())}


def _kernel_leg(spark, texts, gaz) -> dict:
    t0 = time.monotonic()
    ref = shipped_index(gaz)
    build = round(time.monotonic() - t0, 2)
    leg = _walls(lambda: tag_texts(texts, gaz).count())
    leg.update(index_build_sec=build, index_bytes=ref.nbytes,
               **_worker_pss(spark, ref.prefix))
    return leg


def _leg(fn, *args) -> dict:
    try:
        return fn(*args)
    except Exception as e:  # a leg that cannot run at this size says so
        return {"failed": f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"}


def _md(out: dict) -> str:
    def cell(leg, key="min_sec"):
        return str(leg[key]) if key in leg else "failed"

    md = ["# Tagging at GeoNames scale (synthetic gazetteer)", "",
          f"Corpus: {out['n_docs']} docs of 60 two-token place names; "
          f"{out['cores']} cores (`local[{out['cores']}]`), "
          f"driver heap {out['driver_memory']}.  Each wall is the min of "
          f"{RUNS} runs after one warm-up run.", "",
          "| surfaces | kernel tag (s) | kernel build + tag (s) | broadcast join (s) "
          "| shuffled join (s) | index build (s) | index MB | worker PSS MB "
          "| index PSS MB per worker |",
          "|---|---|---|---|---|---|---|---|---|"]
    for lv in out["levels"].values():
        k = lv["kernel"]
        one_shot = (round(k["index_build_sec"] + k["min_sec"], 2)
                    if "min_sec" in k else "failed")
        md.append(
            f"| {lv['surface_rows']:,} | {cell(k)} | {one_shot} | {cell(lv['broadcast'])} "
            f"| {cell(lv['shuffled'])} | {cell(k, 'index_build_sec')} "
            f"| {round(k['index_bytes'] / 2**20, 1) if 'index_bytes' in k else 'failed'} "
            f"| {k.get('pss_mb', 'failed')} | {k.get('index_pss_mb', 'failed')} |")
    md += ["", "All legs: " + json.dumps(out["levels"]), "",
           "Reading: the join legs count candidate mentions only; the "
           "kernel leg runs the whole tag stage (match, longest-match, "
           "scoring, primary).  The join legs pay a per-execution build of the surface relation "
           "(broadcast) or an exchange of the corpus (shuffled) on every "
           "run; the kernel pays its index build once per gazetteer "
           "version and driver process: a one-shot run pays build + tag.  "
           "`job.py run` saves the index under its output directory, so "
           "only its first run per gazetteer version pays the build.  Each worker maps only the index pages its "
           "documents touch, shared with the other workers on the host "
           "(PSS splits shared pages between the processes that map "
           "them)."]
    return "\n".join(md) + "\n"


def main() -> int:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 3000
    sizes = [int(a) for a in sys.argv[2:]] or [2_000_000, 12_000_000]
    spark = get_spark(app_name="gazetteer-scale-bench")
    texts = synth_texts(spark, n_docs).persist()
    texts.count()

    out: dict = {"n_docs": n_docs,
                 "cores": spark.sparkContext.defaultParallelism,
                 "driver_memory": spark.conf.get("spark.driver.memory"),
                 "levels": {}}
    for n_surf in sizes:
        gaz = big_gazetteer_df(spark, n_surf)
        surf = build_surface_forms(gaz).persist()
        level = {"surface_rows": surf.count()}
        level["kernel"] = _leg(_kernel_leg, spark, texts, gaz)
        level["shuffled"] = _leg(_join_leg, spark, texts, surf, False)
        level["broadcast"] = _leg(_join_leg, spark, texts, surf, True)
        surf.unpersist()
        out["levels"][str(n_surf)] = level
        print(json.dumps({str(n_surf): level}), flush=True)
    texts.unpersist()

    path = os.path.join(os.path.dirname(__file__), "..", "BENCH",
                        "GAZETTEER_SCALE.md")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(_md(out))
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
