"""K-means tile pyramid — the khooshe map-rendering layer rebuilt.

The reference (vendored khooshe, geoparser_app/khooshe.py) pulls ALL
points into driver numpy arrays (solr.py:354-376), runs scipy kmeans
k=15 per level (khooshe.py:101 — nondeterministic), recurses until a
cluster has < 10 points (khooshe.py:135), and writes a CSV tree +
dict.csv extent manifest (khooshe.py:83-121).

Rebuild:
  * deterministic k-means (fixed evenly-spaced init over sorted points,
    fixed Lloyd iteration count — no RNG at all), because tile output
    feeds golden tests.
  * level 0 fits centroids on a deterministic bounded sample and
    assigns ALL points with a native whole-stage-codegen expression —
    the full dataset never leaves the executors (unlike khooshe's
    driver arrays).
  * below level 0, one grouped ``applyInPandas`` per level-1 cluster
    recurses locally down to the leaves, as khooshe itself does
    (khooshe.py:126-194). It emits one membership row per (point,
    level); a point whose cluster is a leaf at that level is flagged
    and carries the cluster's extent.
  * one Spark aggregate over the membership rows gives every centroid
    tile and the extents (dict.csv replacement) together.
  * every tile row carries its cluster's extent, so a viewport read is
    one filter over the tile table.

SURVEY.md §2.3 Q7 (dedup), Q8 (facet counts), Q9 (recursive k-means),
Q10 (extent aggregation), S8 (tile sink).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geoparser_spark.plans.caching import track

K_CENTROIDS = 15      # reference: khooshe.py:175 CENTROIDS_NUMBER
LEAF_MAX = 10         # reference: khooshe.py:135 (cluster < 10 → leaf)
_LLOYD_ITERS = 12
_SAMPLE_PER_K = 200   # sample size for the level-0 fit

_EXTENT = ["min_lat", "max_lat", "min_lon", "max_lon"]
_MEMBERS_SCHEMA = (
    "level int, cluster_path string, latitude double, longitude double, "
    "info string, is_leaf boolean, "
    "min_lat double, max_lat double, min_lon double, max_lon double"
)


def dedup_points(points: DataFrame) -> DataFrame:
    """Q7 — unique (lat, lon) before clustering; replaces the numpy
    view trick at khooshe.py:71-77.  Co-located points keep the least
    ``info`` (NULL read as ''), so the label does not depend on input
    row order."""
    return points.groupBy("latitude", "longitude").agg(
        F.min(F.coalesce(F.col("info"), F.lit(""))).alias("info"))


def kmeans_fit(pts: np.ndarray, k: int, iters: int = _LLOYD_ITERS) -> np.ndarray:
    """Deterministic Lloyd k-means: init = k evenly spaced points of the
    lexicographically sorted input; fixed iteration count; ties in
    assignment break to the lowest centroid index (argmin)."""
    pts = np.asarray(pts, dtype=np.float64)
    order = np.lexsort((pts[:, 1], pts[:, 0]))
    spts = pts[order]
    k = min(k, len(spts))
    idx = np.linspace(0, len(spts) - 1, k).astype(int)
    centroids = spts[idx].copy()
    for _ in range(iters):
        d = ((pts[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for c in range(k):
            members = pts[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
    return centroids


def assign_native(df: DataFrame, centroids: np.ndarray,
                  out_col: str = "cluster") -> DataFrame:
    """Assign every row to its nearest centroid with a pure SQL
    expression (array of literals + transform + array_position) — the
    big side stays inside whole-stage codegen, no Python, no shuffle."""
    cents = F.array(
        *[
            F.struct(F.lit(float(c[0])).alias("la"), F.lit(float(c[1])).alias("lo"))
            for c in centroids
        ]
    )
    dists = F.transform(
        cents,
        lambda c: (F.col("latitude") - c["la"]) * (F.col("latitude") - c["la"])
        + (F.col("longitude") - c["lo"]) * (F.col("longitude") - c["lo"]),
    )
    return df.withColumn(
        out_col,
        (F.array_position(dists, F.array_min(dists)) - 1).cast("int"),
    )


def _cluster_members(pdf: pd.DataFrame, k: int, leaf_max: int,
                     max_levels: int) -> pd.DataFrame:
    """Grouped-map kernel: recurse locally inside one level-1 cluster.

    Returns one row per (point, level) from level 1 down to the point's
    leaf. A cluster of <= ``leaf_max`` points is a leaf: its rows are
    flagged ``is_leaf`` and carry its extent (numpy min/max are exact).
    A larger one is split with ``kmeans_fit`` + argmin, its children
    named ``<path>/<index>``. Clusters at ``max_levels`` are neither
    leaves nor split.

    Rows are canonicalized to (latitude, longitude) order once: the
    shuffle delivers group rows in nondeterministic fetch order, and
    numpy's pairwise summation inside the Lloyd means is order-
    sensitive at the last-bit level. Every child keeps that order (its
    index array is a masked subsequence), so each fit sees its points
    sorted and the whole pyramid is bit-reproducible across runs."""
    pdf = pdf.sort_values(["latitude", "longitude"], kind="mergesort")
    pts = pdf[["latitude", "longitude"]].to_numpy(dtype=np.float64)
    clusters = []   # (level, path, member indices, leaf extent or None)
    todo = [(1, pdf["cluster_path"].iat[0], np.arange(len(pts)))]
    while todo:
        level, path, idx = todo.pop()
        sub = pts[idx]
        if level == max_levels:
            clusters.append((level, path, idx, None))
        elif len(idx) <= leaf_max:
            lo, hi = sub.min(axis=0), sub.max(axis=0)
            clusters.append((level, path, idx, (lo[0], hi[0], lo[1], hi[1])))
        else:
            clusters.append((level, path, idx, None))
            cents = kmeans_fit(sub, k)
            assign = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
            for c in np.unique(assign):
                todo.append((level + 1, f"{path}/{c}", idx[assign == c]))
    sizes = [len(c[2]) for c in clusters]
    rows = np.concatenate([c[2] for c in clusters])
    extent = np.array([c[3] or (np.nan,) * 4 for c in clusters], dtype=np.float64)
    out = pd.DataFrame({
        "level": np.repeat(np.array([c[0] for c in clusters], dtype=np.int32), sizes),
        "cluster_path": np.repeat(np.array([c[1] for c in clusters], dtype=object), sizes),
        "latitude": pts[rows, 0],
        "longitude": pts[rows, 1],
        "info": pdf["info"].to_numpy(dtype=object)[rows],
        "is_leaf": np.repeat([c[3] is not None for c in clusters], sizes),
    })
    out[_EXTENT] = np.repeat(extent, sizes, axis=0)
    return out


def build_tile_pyramid(
    points: DataFrame,
    k: int = K_CENTROIDS,
    leaf_max: int = LEAF_MAX,
    max_levels: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """points(latitude, longitude, info) → (tiles, extents).

    tiles: (level, cluster_path, latitude, longitude, label, info,
    is_leaf, min_lat, max_lat, min_lon, max_lon) — centroid rows per
    cluster per level; leaf clusters emit their raw points (khooshe
    leaf-tile behavior, khooshe.py:126-169). Each row carries its
    cluster's extent; level-0 leaves (the whole input fits one leaf)
    have none and carry NULLs.
    extents: (level, cluster_path, min/max lat/lon) — dict.csv
    replacement (khooshe.py:88-94).

    The membership rows are cached for the two writes that follow
    (``plans.caching.track``); run the build and its writes inside
    ``with released():`` to drop the cache afterwards."""
    state = dedup_points(points)
    # level 0 is one global cluster: fit on a deterministic sample,
    # assign natively — full data never reaches the driver.
    # tie-break the hash key on the coordinates themselves:
    # pmod collisions at the limit boundary would otherwise make
    # the sample (and the whole pyramid) run-dependent.
    limit = k * _SAMPLE_PER_K
    sample = (
        state.select("latitude", "longitude")
        .orderBy(
            F.pmod(F.xxhash64("latitude", "longitude"), F.lit(100003)),
            "latitude", "longitude",
        )
        .limit(limit)
        .toPandas()
        .to_numpy(dtype=np.float64)
    )
    # a sample shorter than its limit is the whole input, so only a
    # leaf_max at or above the limit needs a count
    if len(sample) <= leaf_max and (len(sample) < limit or state.count() <= leaf_max):
        # the whole input is one leaf at level 0; it has no extent
        tiles = state.select(
            F.lit(0).alias("level"), F.lit("0").alias("cluster_path"),
            "latitude", "longitude",
            F.lit(1).cast("long").alias("label"),
            "info",
            F.lit(True).alias("is_leaf"),
            *[F.lit(None).cast("double").alias(c) for c in _EXTENT],
        )
        return tiles, points.sparkSession.createDataFrame(
            [], "level int, cluster_path string, min_lat double, max_lat double, min_lon double, max_lon double"
        )

    cents = kmeans_fit(sample, k)
    level1 = assign_native(state, cents).select(
        F.concat_ws("/", F.lit("0"), F.col("cluster").cast("string")).alias("cluster_path"),
        "latitude", "longitude", "info",
    )
    members = track(level1.groupBy("cluster_path").applyInPandas(
        lambda pdf: _cluster_members(pdf, k, leaf_max, max_levels),
        schema=_MEMBERS_SCHEMA,
    ))
    # centroid display coordinates average through decimal: a double
    # sum's value depends on partial-aggregation merge order, so the
    # low-order bits (and a round() at the boundary) would differ
    # run to run; decimal sums are exact and order-free.
    agg = members.groupBy("level", "cluster_path").agg(
        F.avg(F.col("latitude").cast("decimal(24,16)"))
        .cast("double").alias("latitude"),
        F.avg(F.col("longitude").cast("decimal(24,16)"))
        .cast("double").alias("longitude"),
        F.count("*").alias("label"),
        F.min("info").alias("info"),
        F.min("latitude").alias("min_lat"),
        F.max("latitude").alias("max_lat"),
        F.min("longitude").alias("min_lon"),
        F.max("longitude").alias("max_lon"),
    )
    leaves = members.where(F.col("is_leaf")).select(
        "level", "cluster_path", "latitude", "longitude",
        F.lit(1).cast("long").alias("label"),
        "info", "is_leaf", *_EXTENT,
    )
    centroids = agg.select(
        "level", "cluster_path", "latitude", "longitude", "label", "info",
        F.lit(False).alias("is_leaf"), *_EXTENT,
    )
    return leaves.unionByName(centroids), agg.select("level", "cluster_path", *_EXTENT)


def facet_counts(points: DataFrame, col: str = "loc_name") -> DataFrame:
    """Q8 — group-by counts (cluster-size labels, khooshe.py:105-118)."""
    return points.groupBy(col).agg(F.count("*").alias("cnt"))


def write_tiles(tiles: DataFrame, path: str) -> None:
    """S8 — tile sink, partitioned by level (replaces the CSV tree at
    khooshe.py:110-121); partition pruning serves viewport queries.
    The rebalance on ``level`` packs each small level into one file (AQE
    coalesces its shuffle partitions) while AQE still splits a level
    larger than the advisory partition size over several tasks."""
    (
        tiles.hint("rebalance", "level")
        .write.mode("overwrite").partitionBy("level").parquet(path)
    )


def write_tiles_csv(tiles: DataFrame, extents: DataFrame, path: str) -> None:
    """S8 compatibility sink: khooshe's on-disk contract — a CSV tree
    with header ``latitude,longitude,label,info`` per tile folder
    (khooshe.py:110-121) plus a dict.csv-equivalent extent manifest
    (khooshe.py:83-94) — so existing khooshe-ol.js map clients can read
    the rebuild's output unchanged."""
    (
        tiles.select("level", "cluster_path", "latitude", "longitude",
                     "label", "info")
        .write.mode("overwrite")
        .partitionBy("level", "cluster_path")
        .option("header", True)
        .csv(f"{path}/tiles")
    )
    (
        extents.select(
            "level", "cluster_path",
            F.col("min_lat"), F.col("min_lon"), F.col("max_lat"), F.col("max_lon"),
        )
        .write.mode("overwrite")
        .option("header", True)
        .csv(f"{path}/dict")
    )


def viewport_tiles(tiles: DataFrame, extents: DataFrame,
                   min_lat: float, max_lat: float,
                   min_lon: float, max_lon: float) -> DataFrame:
    """Q11 — choose tiles whose extent intersects the viewport (client
    logic at static/js/khooshe-ol.js:228-269, as range predicates).

    Every tile row carries its cluster's extent, so this is one filter
    over ``tiles``; a NULL extent (level-0 leaves) never matches.
    ``extents`` is unused: it stays in the signature for existing
    callers."""
    return tiles.where(
        (F.col("min_lat") <= max_lat) & (F.col("max_lat") >= min_lat)
        & (F.col("min_lon") <= max_lon) & (F.col("max_lon") >= min_lon)
    )
