"""Operator-family tests: tiles, dedup, similarity, text analysis,
multimodal plumbing, serving ops, geonames source, table sinks, BM25.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import tempfile
import uuid
from contextlib import contextmanager

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from geoparser_spark.operators import dedup as D
from geoparser_spark.operators import serve
from geoparser_spark.operators import similarity as S
from geoparser_spark.operators import text_quality as TQ
from geoparser_spark.operators.multimodal import (
    extract_media_features,
    frame_sample_plan,
)
from geoparser_spark.operators.tiles import (
    build_tile_pyramid,
    dedup_points,
    kmeans_fit,
    viewport_tiles,
    write_tiles,
)
from geoparser_spark.schemas import TILES
from geoparser_spark.sources.geonames import read_geonames_tsv


@pytest.fixture(scope="module")
def tmpdir():
    d = tempfile.mkdtemp(prefix="gp_ops_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


# ------------------------------------------------------------- tiles

def _points_df(spark, n=400, seed=7):
    rng = np.random.RandomState(seed)
    # two well-separated geographic blobs + a tiny outlier cluster
    blob1 = rng.normal([40.0, -100.0], 1.0, size=(n // 2, 2))
    blob2 = rng.normal([-20.0, 130.0], 1.0, size=(n // 2, 2))
    outl = np.array([[70.0, 10.0], [70.1, 10.1], [70.2, 10.2]])
    pts = np.vstack([blob1, blob2, outl])
    rows = [
        Row(latitude=float(a), longitude=float(b), info=f"p{i}")
        for i, (a, b) in enumerate(pts)
    ]
    return spark.createDataFrame(rows)


def test_kmeans_fit_deterministic():
    pts = np.random.RandomState(0).normal(size=(200, 2))
    c1 = kmeans_fit(pts, 5)
    c2 = kmeans_fit(pts.copy(), 5)
    assert np.array_equal(c1, c2)


def test_tile_pyramid_shape_and_determinism(spark):
    pts = _points_df(spark)
    tiles1, extents1 = build_tile_pyramid(pts, k=4, leaf_max=10, max_levels=4)
    t1 = sorted(tiles1.collect())
    e1 = sorted(extents1.collect())
    tiles2, extents2 = build_tile_pyramid(pts.repartition(7), k=4, leaf_max=10, max_levels=4)
    assert sorted(tiles2.collect()) == t1
    assert sorted(extents2.collect()) == e1
    # level-1 centroid rows exist and their labels sum to the point count
    lvl1 = [r for r in t1 if r.level == 1 and not r.is_leaf]
    assert lvl1, "expected non-leaf centroid tiles at level 1"
    n_unique = pts.dropDuplicates(["latitude", "longitude"]).count()
    assert sum(r.label for r in lvl1) == n_unique
    # every leaf point is a real input point
    leaves = [r for r in t1 if r.is_leaf]
    src = {(r.latitude, r.longitude) for r in pts.collect()}
    assert all((r.latitude, r.longitude) in src for r in leaves)


def test_extents_bound_their_points(spark):
    pts = _points_df(spark, n=100)
    tiles, extents = build_tile_pyramid(pts, k=4, leaf_max=10, max_levels=3)
    for r in extents.collect():
        assert r.min_lat <= r.max_lat and r.min_lon <= r.max_lon


_TILE_COLS = ["level", "cluster_path", "latitude", "longitude", "label",
              "info", "is_leaf"]


def _rows(df, cols=None):
    return sorted(tuple(r) for r in (df.select(*cols) if cols else df).collect())


def _digest(rows) -> str:
    return hashlib.sha256(repr(rows).encode()).hexdigest()


@contextmanager
def _spark_jobs(spark):
    """Collect the ids of the Spark jobs run inside the block."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    ids: list[int] = []
    sc.setJobGroup(group, group)
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


# sha256 over the sorted tile rows (the seven columns above) and the
# sorted extent rows, captured from the level-at-a-time pyramid build
# (one Spark pass per level); the one-pass build must reproduce them
# bit for bit.
_GOLDEN_PYRAMIDS = {
    "k4_leaf10_levels4": (
        dict(n=400), dict(k=4, leaf_max=10, max_levels=4),
        "851ebce985f349e158ddae3bdc5942b9bc7d156fd854509304ff0321a7d4f6bd",
        "fe725dbcc9b238ede706619c7adf8ff97996b50b3a5f064cac4eb762c1ed8376"),
    "k4_leaf10_levels1": (
        dict(n=400), dict(k=4, leaf_max=10, max_levels=1),
        "db2dd10d7104296630068da05be17a3060090daa2e136dbb605ab30748921fbd",
        "214f9e09bfbca942cc7017a93bc8a7cb40863ef4493429c145a9d8b9c7b3d465"),
    "k4_leaf10_levels2": (
        dict(n=400), dict(k=4, leaf_max=10, max_levels=2),
        "62335c58d39080cf59366a52c7bff3449d1ef052df984b9736be9cd95339437c",
        "ab728de30304799809ebbeefa8122c3ed42910de649672b3d6172f4b5b5a41f6"),
    "level0_leaves_only": (
        dict(n=4), dict(k=4, leaf_max=10, max_levels=4),
        "7c62b96ecf8a118a5a519aa0f3aff73c731a5bd688109d7807998ba7b94a513b",
        "4f53cda18c2baa0c0354bb5f9a3ecbe5ed12ab4d8e11ba873c2f11161202b945"),
    "n3000_k15_leaf3": (
        dict(n=3000), dict(k=15, leaf_max=3),
        "671edc800fbc1582a3f714b5439007080b219760a5c9d1eebb7eb4a4759950bf",
        "82a6917ad25f367a4693c276617c2055997325f123206101686508c46b50697d"),
}


@pytest.mark.parametrize("case", sorted(_GOLDEN_PYRAMIDS))
def test_tile_pyramid_golden(spark, case):
    pts_kw, build_kw, tiles_sha, extents_sha = _GOLDEN_PYRAMIDS[case]
    tiles, extents = build_tile_pyramid(_points_df(spark, **pts_kw), **build_kw)
    assert _digest(_rows(tiles, _TILE_COLS)) == tiles_sha
    assert _digest(_rows(extents)) == extents_sha


def test_tile_pyramid_schema_is_tiles(spark):
    """The build's tile rows have the names and types of schemas.TILES,
    both for a multi-level pyramid and for level-0 leaves only."""
    want = [(f.name, f.dataType) for f in TILES]
    for n in (400, 4):
        tiles, _ = build_tile_pyramid(_points_df(spark, n=n), k=4, leaf_max=10)
        assert [(f.name, f.dataType) for f in tiles.schema] == want


def _intersects(ext, min_lat, max_lat, min_lon, max_lon):
    return (ext[0] <= max_lat and ext[1] >= min_lat
            and ext[2] <= max_lon and ext[3] >= min_lon)


def test_viewport_tiles_exact(spark):
    """viewport_tiles returns exactly the tiles whose (level,
    cluster_path) extent intersects the box. Extents are recomputed in
    pure Python as the bounding box of each cluster's leaf points."""
    pts = _points_df(spark)
    tiles, extents = build_tile_pyramid(pts, k=4, leaf_max=10)
    rows = _rows(tiles, _TILE_COLS)
    leaves = [r for r in rows if r[6]]
    # every distinct point sits in exactly one leaf, so a cluster's
    # points are the leaf points under its path
    assert sorted((r[2], r[3]) for r in leaves) == sorted(
        {(r.latitude, r.longitude) for r in pts.collect()})

    def bbox(path):
        inside = [r for r in leaves
                  if r[1] == path or r[1].startswith(path + "/")]
        lats, lons = [r[2] for r in inside], [r[3] for r in inside]
        return min(lats), max(lats), min(lons), max(lons)

    ext = {(r[0], r[1]): bbox(r[1]) for r in rows}
    assert ext == {(e[0], e[1]): e[2:] for e in _rows(extents)}
    boxes = [(30, 50, -110, -90),        # blob 1
             (-20.5, -19.5, 129.5, 130.5),  # inside blob 2
             (70.05, 70.15, 10.05, 10.15),  # between outlier points
             (0, 10, 0, 10)]             # no tile
    for box in boxes:
        want = [r for r in rows if _intersects(ext[(r[0], r[1])], *box)]
        got = _rows(viewport_tiles(tiles, extents, *box), _TILE_COLS)
        assert got == want, box
    assert not viewport_tiles(tiles, extents, 0, 10, 0, 10).collect()

    # level-0 leaves only: no tile has an extent, so no box hits
    tiles0, extents0 = build_tile_pyramid(_points_df(spark, n=4), k=4, leaf_max=10)
    assert tiles0.count() == 7 and extents0.count() == 0
    assert not viewport_tiles(tiles0, extents0, -90, 90, -180, 180).collect()


def test_tile_build_and_reads_job_counts(spark, tmpdir):
    """The build and its two writes run a fixed handful of Spark jobs
    (not a per-level loop) and leave nothing cached once the released()
    block ends (as job.py run --tiles does), a viewport read over the
    written tiles runs one, and each level= directory holds at most two
    files."""
    from geoparser_spark.plans.caching import released

    def n_cached():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    pts = _points_df(spark)
    pts.count()
    out = os.path.join(tmpdir, "guard")
    base = n_cached()
    with _spark_jobs(spark) as build_jobs, released():
        tiles, extents = build_tile_pyramid(pts)
        write_tiles(tiles, os.path.join(out, "tiles"))
        extents.write.mode("overwrite").parquet(os.path.join(out, "extents"))
        assert n_cached() == base + 1
    assert len(build_jobs) <= 12, build_jobs
    assert n_cached() == base
    t = spark.read.parquet(os.path.join(out, "tiles"))
    e = spark.read.parquet(os.path.join(out, "extents"))
    with _spark_jobs(spark) as read_jobs:
        got = viewport_tiles(t, e, 30, 50, -110, -90).collect()
    assert got and len(read_jobs) == 1, read_jobs
    levels = [d for d in os.listdir(os.path.join(out, "tiles")) if d.startswith("level=")]
    assert len(levels) >= 2
    for d in levels:
        files = [f for f in os.listdir(os.path.join(out, "tiles", d))
                 if f.endswith(".parquet")]
        assert 1 <= len(files) <= 2, (d, files)


def test_tile_sink_partitioned_by_level(spark, tmpdir):
    pts = _points_df(spark, n=60)
    tiles, _ = build_tile_pyramid(pts, k=3, leaf_max=10, max_levels=3)
    out = os.path.join(tmpdir, "tiles")
    write_tiles(tiles, out)
    assert any(p.startswith("level=") for p in os.listdir(out))
    back = spark.read.parquet(out)
    assert back.count() == tiles.count()
    # partition pruning: a level filter must prune the file listing
    plan = back.where(F.col("level") == 1)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(level" in plan


def test_dedup_points(spark):
    df = spark.createDataFrame(
        [Row(latitude=1.0, longitude=2.0), Row(latitude=1.0, longitude=2.0),
         Row(latitude=3.0, longitude=4.0)]
    )
    assert dedup_points(df).count() == 2


# ------------------------------------------------------------- dedup

_DOCS = [
    ("a", "the quick brown fox jumps over the lazy dog near the river bank"),
    ("b", "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of a
    ("c", "the quick brown fox jumps over the lazy dog near the river delta"),  # near dup
    ("d", "completely unrelated sentence about glacier survey expeditions in winter"),
]


def _docs_df(spark):
    return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in _DOCS])


def test_exact_dedup(spark):
    out = {r.keeper_id: r.dup_count for r in D.exact_dedup(_docs_df(spark)).collect()}
    assert out["a"] == 2 and out["c"] == 1 and out["d"] == 1


def test_ngram_jaccard_known_values(spark):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.ngram_jaccard_pairs(_docs_df(spark), n=3, threshold=0.0).collect()
    }
    assert pairs[("a", "b")] == pytest.approx(1.0)
    # a vs c: 13 tokens -> 11 distinct trigrams each; only the final
    # trigram differs -> |∩|=10, |∪|=12
    assert pairs[("a", "c")] == pytest.approx(10 / 12)
    assert pairs.get(("a", "d"), 0.0) == pytest.approx(0.0)


def test_line_dedup_drops_corpus_boilerplate(spark):
    """The C4 rule: a sentence occurring in > max_repeats distinct docs
    is boilerplate and drops from every doc; unique content stays in
    original order."""
    boiler = "Subscribe to our newsletter today!"
    rows = [
        Row(doc_id=1, text=f"Alpha unique one. {boiler} Beta follows."),
        Row(doc_id=2, text=f"{boiler} Gamma stands alone."),
        Row(doc_id=3, text=f"Delta text here. {boiler}"),
    ]
    out = {r.doc_id: r for r in
           D.line_dedup(spark.createDataFrame(rows), max_repeats=2).collect()}
    assert out[1].clean_text == "Alpha unique one. Beta follows."
    assert out[1].n_kept == 2 and out[1].n_dropped == 1
    assert out[2].clean_text == "Gamma stands alone."
    assert out[3].clean_text == "Delta text here."
    # with max_repeats=3 nothing is boilerplate
    out3 = {r.doc_id: r.clean_text for r in
            D.line_dedup(spark.createDataFrame(rows), max_repeats=3).collect()}
    assert out3[2] == f"{boiler} Gamma stands alone."


def test_lsh_recall_matrix_rejects_uneven_bands(spark):
    """ADVICE r4: (64, 24) would silently measure a 48-hash scheme
    (rows = nh // bands truncates) while reporting num_hashes=64 — the
    config must be rejected before any data is touched."""
    df = _docs_df(spark)
    with pytest.raises(ValueError, match="divide evenly"):
        D.lsh_recall_matrix(df, 1000, configs=[(64, 24)], thresholds=[0.5])
    with pytest.raises(ValueError, match="divide evenly"):
        D.lsh_recall_matrix(df, 1000, configs=[(32, 0)], thresholds=[0.5])


def test_minhash_lsh_finds_near_dups(spark):
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.minhash_lsh_pairs(_docs_df(spark), threshold=0.5).collect()
    }
    assert got[("a", "b")] == pytest.approx(1.0)
    assert ("a", "c") in got  # high-sim pair must survive banding
    assert all("d" not in k for k in got)
    # LSH verified-jaccard must equal the exact pairwise jaccard
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.ngram_jaccard_pairs(_docs_df(spark), threshold=0.5).collect()
    }
    for k, v in got.items():
        assert exact[k] == pytest.approx(v)


def test_simhash_near_dup_pairs(spark):
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in D.simhash_near_dup_pairs(_docs_df(spark), max_hamming=10).collect()
    }
    assert got[("a", "b")] == 0       # identical text -> identical fingerprint
    assert ("a", "d") not in got      # unrelated text stays far


def test_simhash_deterministic(spark):
    df = _docs_df(spark)
    s1 = {r.id: r.simhash for r in D.simhash(df).collect()}
    s2 = {r.id: r.simhash for r in D.simhash(df.repartition(5)).collect()}
    assert s1 == s2
    assert all(len(v) == 64 and set(v) <= {"0", "1"} for v in s1.values())


# -------------------------------------------------------- similarity

def _emb_df(spark, n=50, dim=8, seed=3):
    rng = np.random.RandomState(seed)
    vecs = rng.normal(size=(n, dim))
    return spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in v]) for i, v in enumerate(vecs)]
    ), vecs


def test_brute_force_topk_matches_numpy(spark):
    df, vecs = _emb_df(spark)
    q = [1.0] + [0.0] * 7
    got = S.brute_force_topk(df, q, k=5).collect()
    cos = vecs @ np.array(q) / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(q))
    want = sorted(range(len(cos)), key=lambda i: (-cos[i], i))[:5]
    assert [r.vec_id for r in got] == want
    for r, i in zip(got, want):
        assert r.cosine == pytest.approx(cos[i])


def test_ivf_topk_subset_of_probed_lists(spark):
    df, vecs = _emb_df(spark)
    q = [1.0] + [0.0] * 7
    cents = S.ivf_fit_centroids(df, n_lists=4, sample=50)
    got = S.ivf_topk(df, q, cents, k=5, nprobe=4)  # nprobe=all -> exact
    exact = S.brute_force_topk(df, q, k=5)
    assert [r.vec_id for r in got.collect()] == [r.vec_id for r in exact.collect()]


def test_lsh_topk_is_bucket_restricted_exact(spark):
    df, vecs = _emb_df(spark)
    q = [1.0] + [0.0] * 7
    got = S.lsh_topk(df, q, k=5, n_planes=2)
    ids = [r.vec_id for r in got.collect()]
    # every returned id must rank correctly among returned ones (exact
    # rerank inside the bucket)
    cos = vecs @ np.array(q) / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(q))
    assert ids == sorted(ids, key=lambda i: (-cos[i], i))


def test_prebucketed_lsh_prunes_partitions_and_matches_scan(spark, tmpdir):
    """Scale path: the bucket-partitioned materialization returns the
    same top-k as the scan variant, and its scan carries a
    PartitionFilters predicate on the bucket (file-level pruning)."""
    df, _ = _emb_df(spark)
    q = [1.0] + [0.0] * 7
    path = os.path.join(tmpdir, "lsh_idx")
    S.lsh_bucketize(df, path, n_planes=2)
    pre = S.lsh_topk_prebucketed(spark, path, q, k=5, n_planes=2)
    scan = S.lsh_topk(df, q, k=5, n_planes=2)
    assert [r.vec_id for r in pre.collect()] == [r.vec_id for r in scan.collect()]
    plan = pre._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan


def test_ivf_pruned_matches_scan(spark, tmpdir):
    df, _ = _emb_df(spark)
    q = [1.0] + [0.0] * 7
    cents = S.ivf_fit_centroids(df, n_lists=4, sample=50)
    path = os.path.join(tmpdir, "ivf_idx")
    S.ivf_materialize(df, cents, path)
    pre = S.ivf_topk_pruned(spark, path, q, cents, k=5, nprobe=2)
    scan = S.ivf_topk(df, q, cents, k=5, nprobe=2)
    assert [r.vec_id for r in pre.collect()] == [r.vec_id for r in scan.collect()]
    plan = pre._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "ivf_list" in plan


def test_cosine_near_dup_pairs(spark):
    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0]),
        Row(vec_id=1, embedding=[2.0, 0.0]),   # same direction as 0
        Row(vec_id=2, embedding=[0.0, 1.0]),   # orthogonal
    ]
    got = {(r.id_a, r.id_b): r.cosine
           for r in S.cosine_near_dup_pairs(spark.createDataFrame(rows), 0.9).collect()}
    assert got == {(0, 1): pytest.approx(1.0)}


# ------------------------------------------------------ text analysis

def test_token_count_values(spark):
    df = spark.createDataFrame([Row(doc_id=1, text="Hello, world! Twelve chars.")])
    r = TQ.token_count(df).collect()[0]
    assert r.n_tokens == 4
    assert r.n_whitespace_tokens == 4
    assert r.n_bpe_est == len("Hello, world! Twelve chars.") // 4


def test_language_id(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="the cat sat and it was happy in the sun"),
            Row(doc_id=2, text="der hund ist nicht mit der katze und das haus"),
            Row(doc_id=3, text="zzz qqq xxx"),
        ]
    )
    got = {r.doc_id: r.lang_pred for r in TQ.language_id(df).collect()}
    assert got == {1: "en", 2: "de", 3: "und"}


def test_language_id_eight_languages(spark):
    """Non-toy accuracy check: one natural sentence per supported
    language, every one classified correctly."""
    sentences = {
        "en": "the house was built on the hill and it is not far from the river",
        "de": "das haus wurde auf dem берg gebaut und es ist nicht weit von der stadt",
        "fr": "la maison est sur la colline et elle ne se trouve pas loin du fleuve",
        "es": "la casa es grande pero no se encuentra lejos de los campos que vimos",
        "it": "la casa non è lontana dal fiume e si trova nel mezzo della valle",
        "pt": "a casa foi construída no morro e não fica longe do rio como antes",
        "nl": "het huis staat op de heuvel en het is niet ver van de rivier",
        "sv": "huset byggdes på kullen och det är inte långt från floden som förr",
    }
    rows = [Row(doc_id=i, text=t, lang=l)
            for i, (l, t) in enumerate(sentences.items())]
    df = spark.createDataFrame([Row(doc_id=r.doc_id, text=r.text) for r in rows])
    got = {r.doc_id: r.lang_pred for r in TQ.language_id(df).collect()}
    for r in rows:
        assert got[r.doc_id] == r.lang, (r.lang, r.text, got[r.doc_id])


def test_quality_score_components(spark):
    text = "The research team measured the river and reported annual growth for the district."
    df = spark.createDataFrame([Row(doc_id=1, text=text)])
    r = TQ.quality_score(df).collect()[0]
    assert r.n_chars == len(text)
    assert r.n_tokens == 13
    assert r.quality_score == pytest.approx(4.0)  # passes all four gates


def test_repetition_signals(spark):
    """Gopher repetition ratios: a doc that repeats one sentence has a
    high dup_sent_frac; unique prose scores ~0."""
    rep = "Buy now and save big today. " * 4 + "One unique closer here."
    uniq = "Alpha reads the chart. Beta files the report. Gamma sails home."
    df = spark.createDataFrame([Row(doc_id=1, text=rep.strip()),
                                Row(doc_id=2, text=uniq)])
    got = {r.doc_id: r for r in TQ.repetition_signals(df).collect()}
    # 5 sentences, 2 distinct -> 1 - 2/5 = 0.6
    assert got[1].dup_sent_frac == pytest.approx(0.6)
    assert got[1].dup_2gram_frac > 0.4
    assert got[2].dup_sent_frac == 0.0
    assert got[2].dup_2gram_frac == 0.0


def test_fingerprint_stability(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="Alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            Row(doc_id=2, text="alpha  beta GAMMA delta epsilon zeta eta theta iota kappa"),
            Row(doc_id=3, text="different words entirely here now okay fine yes sure good"),
        ]
    )
    got = {r.doc_id: r for r in TQ.fingerprint(df).collect()}
    # normalization makes 1 and 2 identical
    assert got[1].md5_fp == got[2].md5_fp
    assert got[1].min_shingle_fp == got[2].min_shingle_fp
    assert got[1].md5_fp != got[3].md5_fp


# --------------------------------------------------------- multimodal

def test_media_features_deterministic_and_shaped(spark):
    rows = [
        Row(media_ref="m1", media_bytes=b"\x01\x02\x03"),
        Row(media_ref="m2", media_bytes=b"\x01\x02\x03"),
        Row(media_ref="m3", media_bytes=None),
    ]
    df = spark.createDataFrame(rows)
    got = {r.media_ref: r for r in extract_media_features(df, dim=16).collect()}
    assert len(got["m1"].feature) == 16
    assert got["m1"].feature == got["m2"].feature  # same bytes -> same feature
    assert got["m3"].decode_ok is False
    n = math.sqrt(sum(x * x for x in got["m1"].feature))
    assert n == pytest.approx(1.0, abs=1e-5)


def test_frame_sample_plan(spark):
    df = spark.createDataFrame(
        [
            Row(media_ref="v1", media_meta=Row(mime="video/mp4", width=10, height=10, duration_ms=3500)),
            Row(media_ref="v2", media_meta=Row(mime="video/mp4", width=10, height=10, duration_ms=500)),
        ]
    )
    got = frame_sample_plan(df, every_ms=1000).collect()
    per = {}
    for r in got:
        per.setdefault(r.media_ref, []).append((r.frame_idx, r.ts_ms))
    assert sorted(per["v1"]) == [(0, 0), (1, 1000), (2, 2000)]
    assert sorted(per["v2"]) == [(0, 0)]  # at least one frame


# ------------------------------------------------------- serving ops

def test_serve_search_points(spark):
    texts = spark.createDataFrame(
        [Row(doc_id="d1", text="glacier survey report"),
         Row(doc_id="d2", text="market festival news")]
    )
    pts = spark.createDataFrame(
        [Row(doc_id="d1", loc_name="X", latitude=1.0, longitude=2.0),
         Row(doc_id="d2", loc_name="Y", latitude=3.0, longitude=4.0)]
    )
    got = serve.search_points(texts, pts, "GLACIER").collect()
    assert [r.doc_id for r in got] == ["d1"]


def test_keyword_match_counts_reference_semantics(spark):
    """countMatch.py parity: tokenize on runs of non-ASCII-letters
    (digits split words), case-SENSITIVE membership."""
    from geoparser_spark.operators.serve import (
        keyword_match_counts,
        keyword_match_total,
    )

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="the cat and the2dog The THE the"),
            Row(doc_id=2, text="no keyword words here"),
        ]
    )
    got = {r.doc_id: r.n_hits for r in
           keyword_match_counts(df, ["the", "and"]).collect()}
    # doc 1 tokens: the cat and the dog The THE the ('the2dog' splits
    # on the digit) -> case-sensitive hits: 'the' x3 + 'and' x1 = 4;
    # 'The'/'THE' do NOT count (reference compares raw split words)
    assert got[1] == 4 and got[2] == 0
    tot = keyword_match_total(df, ["the", "and"]).collect()[0]
    assert tot.total_hits == 4 and tot.docs_with_hits == 1


def test_serve_non_empty_locations(spark):
    df = spark.createDataFrame(
        [Row(doc_id="a", locations=[Row(name="x")]), Row(doc_id="b", locations=[])]
    )
    assert [r.doc_id for r in serve.non_empty_locations(df).collect()] == ["a"]


def _haversine_km_ref(lat1, lon1, lat2, lon2):
    """Brute-force great-circle distance, written from the formula."""
    from geoparser_spark.operators.geojoin import EARTH_RADIUS_KM

    p1, p2 = math.radians(lat1), math.radians(lat2)
    h = (math.sin((p2 - p1) / 2) ** 2
         + math.cos(p1) * math.cos(p2)
         * math.sin(math.radians(lon2 - lon1) / 2) ** 2)
    return 2 * EARTH_RADIUS_KM * math.asin(math.sqrt(min(h, 1.0)))


def test_radius_search_matches_brute_force(spark):
    """Every point within the radius, and only those, against haversine
    over all points — including hits across the antimeridian and over
    both poles, where longitude differences are not distances."""
    rng = np.random.RandomState(11)
    pts = [(float(a), float(b)) for a, b in zip(rng.uniform(-90, 90, 300),
                                                rng.uniform(-180, 180, 300))]
    pts += [(10.0, 179.9), (10.2, -179.8), (9.5, -178.0), (10.0, 175.0),
            (89.8, 180.0), (89.6, -90.0), (89.9, 45.0), (88.0, 0.0),
            (90.0, 0.0), (-90.0, 123.0), (-89.3, -60.0), (-88.0, 10.0)]
    df = spark.createDataFrame(
        [(i, lat, lon) for i, (lat, lon) in enumerate(pts)],
        "pid int, latitude double, longitude double")
    queries = [(10.0, 179.5, 300.0),     # straddles the antimeridian
               (10.0, -180.0, 120.0),
               (89.5, 0.0, 200.0),       # north pole cap
               (-90.0, 0.0, 200.0),      # centered on the south pole
               (35.0, 20.0, 2500.0),
               (0.0, 0.0, 1.0)]          # nothing this close
    for lat, lon, r in queries:
        want = {}
        for i, (a, b) in enumerate(pts):
            d = round(_haversine_km_ref(lat, lon, a, b), 6)
            if d <= r:
                want[i] = d
        got = {row.pid: row.dist_km
               for row in serve.radius_search(df, lat, lon, r).collect()}
        assert set(got) == set(want), (lat, lon, r)
        for i, d in want.items():
            assert got[i] == pytest.approx(d, abs=2e-6), (lat, lon, r, i)
    # the cross-seam cases really are hits
    near_seam = {row.pid for row in
                 serve.radius_search(df, 10.0, 179.5, 300.0).collect()}
    assert {300, 301, 302} <= near_seam
    south = {row.pid for row in
             serve.radius_search(df, -90.0, 0.0, 200.0).collect()}
    assert {309, 310} <= south


def test_facet_counts_matches_counter(spark):
    """Group counts equal collections.Counter over the same column,
    NULL names counted as their own facet."""
    from collections import Counter

    from geoparser_spark.operators.tiles import facet_counts

    rng = np.random.RandomState(5)
    names = [None if k == 0 else f"place{k}"
             for k in rng.randint(0, 9, size=500)]
    df = spark.createDataFrame([(n,) for n in names], "loc_name string")
    got = {r.loc_name: r.cnt for r in facet_counts(df).collect()}
    assert got == dict(Counter(names))


# ------------------------------------------------- geonames TSV source

def test_read_geonames_tsv(spark, tmpdir):
    line = (
        "5381396\tPasadena\tPasadena\tPasadena city\t34.14778\t-118.14452\tP\tPPL\tUS\t\t"
        "CA\t037\t\t\t141371\t263\t262\tAmerica/Los_Angeles\t2011-05-14\n"
    )
    path = os.path.join(tmpdir, "mini.tsv")
    with open(path, "w") as f:
        f.write(line)
    df = read_geonames_tsv(spark, path)
    r = df.collect()[0]
    assert r.geonameid == 5381396
    assert r.name == "Pasadena"
    assert r.latitude == pytest.approx(34.14778)
    assert r.country_code == "US"
    assert r.admin1_code == "CA"
    assert r.population == 141371


def test_write_tiles_csv_khooshe_contract(spark, tmpdir):
    from geoparser_spark.operators.tiles import write_tiles_csv

    pts = _points_df(spark, n=60)
    tiles, extents = build_tile_pyramid(pts, k=3, leaf_max=10, max_levels=3)
    out = os.path.join(tmpdir, "khooshe")
    write_tiles_csv(tiles, extents, out)
    back = spark.read.option("header", True).csv(os.path.join(out, "tiles"))
    assert back.count() == tiles.count()
    assert {"latitude", "longitude", "label", "info"} <= set(back.columns)
    dback = spark.read.option("header", True).csv(os.path.join(out, "dict"))
    assert dback.count() == extents.count()


def test_catalog_parquet_fallback(spark, tmpdir):
    from geoparser_spark.sources import catalog as C

    assert not C.is_catalog_ref(os.path.join(tmpdir, "t"))
    assert C.is_catalog_ref("iceberg.db.docs")
    # dotted relative paths with data-file extensions are file paths,
    # not catalog tables (regression: 'out.parquet' routed to
    # spark.read.table)
    for p in ("out.parquet", "data.pq", "Events.CSV", "x.json", "t.orc"):
        assert not C.is_catalog_ref(p), p
    # explicit prefix always wins, and is stripped before use
    assert C.is_catalog_ref("table:weird.name.parquet")
    assert C.strip_catalog_prefix("table:db.t") == "db.t"
    assert C.strip_catalog_prefix("catalog:c.db.t") == "c.db.t"
    assert C.strip_catalog_prefix("/plain/path") == "/plain/path"
    df = spark.range(10).withColumnRenamed("id", "v")
    ref = os.path.join(tmpdir, "cat_tbl")
    C.write_table(df, ref)
    assert C.read_table(spark, ref).count() == 10
    C.write_table(df, ref, mode="append")
    assert C.read_table(spark, ref).count() == 20


def test_catalog_v2_writer_call_pattern(spark, monkeypatch):
    """No Iceberg jar in this sandbox, so pin the exact DataFrameWriterV2
    call pattern a catalog ref takes with a test double: overwrite →
    createOrReplace (a snapshot-replace commit on Iceberg), append →
    append with create fallback on first write, partitionedBy forwarded.
    """
    from geoparser_spark.sources import catalog as C

    calls = []

    class FakeV2Writer:
        def __init__(self, ref, fail_append=False):
            self.ref = ref
            self.fail_append = fail_append

        def partitionedBy(self, *cols):
            calls.append(("partitionedBy", self.ref, len(cols)))
            return self

        def append(self):
            if self.fail_append:
                raise RuntimeError("table does not exist")
            calls.append(("append", self.ref))

        def create(self):
            calls.append(("create", self.ref))

        def createOrReplace(self):
            calls.append(("createOrReplace", self.ref))

    fail_next = {"v": False}
    df = spark.range(3).withColumnRenamed("id", "part_id")
    # patch the CONCRETE class (pyspark.sql.classic overrides the
    # pyspark.sql.DataFrame base methods)
    monkeypatch.setattr(
        type(df), "writeTo",
        lambda self, ref: FakeV2Writer(ref, fail_next["v"]),
        raising=True,
    )

    C.write_table(df, "table:cat.db.t", mode="overwrite", partition_by=["part_id"])
    assert ("partitionedBy", "cat.db.t", 1) in calls
    assert ("createOrReplace", "cat.db.t") in calls

    C.write_table(df, "cat.db.t2", mode="append")
    assert ("append", "cat.db.t2") in calls

    # first-ever append: table absent -> create()
    fail_next["v"] = True
    C.write_table(df, "cat.db.t3", mode="append")
    assert ("create", "cat.db.t3") in calls


def test_resize_images_box_fit(spark):
    from geoparser_spark.operators.multimodal import resize_images

    schema = ("media_ref string, media_bytes binary, "
              "media_meta struct<mime:string,width:int,height:int,duration_ms:int>")
    rows = [
        ("big", b"x" * 100, ("image/png", 1024, 512, None)),
        ("small", b"y" * 10, ("image/png", 100, 50, None)),
    ]
    df = spark.createDataFrame(rows, schema)
    got = {r.media_ref: r for r in resize_images(df, 256, 256).collect()}
    # aspect preserved, fits in the box, never upscaled
    assert (got["big"].width, got["big"].height) == (256, 128)
    assert got["big"].resized is True
    assert (got["small"].width, got["small"].height) == (100, 50)
    assert got["small"].resized is False
    assert got["big"].media_bytes.startswith(b"RSZ:256x128:")


def test_extract_media_meta_real_headers_and_degrade(spark):
    from geoparser_spark.operators.image_meta import make_mini_jpeg, make_mini_png
    from geoparser_spark.operators.multimodal import extract_media_meta

    rows = [
        ("p", make_mini_png(6, 2, ["cap a", "cap b"])),
        ("j", make_mini_jpeg(3, 9)),
        ("bad", b"not an image"),
        ("empty", b""),
    ]
    df = spark.createDataFrame(rows, "media_ref string, media_bytes binary")
    got = {r.media_ref: r for r in extract_media_meta(df).collect()}
    assert (got["p"].mime, got["p"].width, got["p"].height, got["p"].n_texts,
            got["p"].decode_ok) == ("image/png", 6, 2, 2, True)
    assert (got["j"].mime, got["j"].width, got["j"].height,
            got["j"].n_texts) == ("image/jpeg", 3, 9, 0)
    for k in ("bad", "empty"):
        assert got[k].decode_ok is False and got[k].mime is None
        assert got[k].width is None and got[k].n_texts is None


def test_extract_audio_meta_real_headers_and_degrade(spark):
    from geoparser_spark.operators.audio_meta import make_mini_flac, make_mini_wav
    from geoparser_spark.operators.multimodal import extract_audio_meta

    rows = [
        ("w", make_mini_wav(44100, 2, 16, 22050, comments=["c1"])),
        ("f", make_mini_flac(48000, 1, 16, 96000)),
        ("bad", b"not audio"),
        ("empty", b""),
    ]
    df = spark.createDataFrame(rows, "media_ref string, media_bytes binary")
    got = {r.media_ref: r for r in extract_audio_meta(df).collect()}
    w = got["w"]
    assert (w.mime, w.sample_rate, w.channels, w.bits, w.duration_ms,
            w.n_texts, w.decode_ok) == ("audio/x-wav", 44100, 2, 16, 500, 1, True)
    f = got["f"]
    assert (f.mime, f.sample_rate, f.channels, f.duration_ms,
            f.n_texts) == ("audio/flac", 48000, 1, 2000, 0)
    for k in ("bad", "empty"):
        assert got[k].decode_ok is False and got[k].mime is None
        assert got[k].sample_rate is None and got[k].duration_ms is None


def test_clip_sample_plan_truncation_and_zero_duration(spark):
    from geoparser_spark.operators.multimodal import clip_sample_plan

    df = spark.createDataFrame(
        [("a", ("audio/x-wav", 12_001)), ("z", ("audio/x-wav", 0)),
         ("e", ("audio/x-wav", 10_000))],
        "media_ref string, media_meta struct<mime:string,duration_ms:int>",
    )
    got = {(r.media_ref, r.clip_idx): (r.start_ms, r.end_ms)
           for r in clip_sample_plan(df, clip_ms=5000).collect()}
    # 12,001 ms -> 3 clips, last truncated
    assert got[("a", 0)] == (0, 5000)
    assert got[("a", 1)] == (5000, 10000)
    assert got[("a", 2)] == (10000, 12001)
    # exact multiple -> exactly 2 clips, no empty tail clip
    assert got[("e", 1)] == (5000, 10000)
    assert ("e", 2) not in got
    # zero duration -> one empty probe clip
    assert got[("z", 0)] == (0, 0)
    assert len(got) == 6


# ----------------------------------------------------------------- BM25


def test_bm25_ranking_semantics(spark):
    """tf monotonicity, length normalization, rare-term preference."""
    from geoparser_spark.operators.serve import bm25_topk

    rows = [
        (1, "spark spark spark filler filler"),      # tf=3, short
        (2, "spark filler filler filler filler"),    # tf=1, same length
        (3, "spark " + "filler " * 50),              # tf=1, long doc
        (4, "rareword filler filler filler filler"),
        (5, "filler filler filler filler filler"),   # no hit
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = bm25_topk(docs, ["spark", "rareword"], k=10).collect()
    ids = [r.doc_id for r in got]
    score = {r.doc_id: r.score for r in got}
    assert 5 not in ids                       # no-hit docs filtered
    assert score[1] > score[2]                # higher tf wins
    assert score[2] > score[3]                # longer doc penalized
    # rareword (df=1) outscores a single common-term hit (df=3)
    assert score[4] > score[2]


def test_bm25_empty_and_plan(spark):
    from geoparser_spark.operators.serve import bm25_topk

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert bm25_topk(empty, ["x"], k=5).count() == 0

    docs = spark.createDataFrame(
        [(i, f"spark row {i}") for i in range(40)],
        "doc_id long, text string")
    q = bm25_topk(docs, ["spark", "row"], k=3)
    plan = q._jdf.queryExecution().executedPlan().toString()
    # global top-k must be per-partition heaps, never a full sort
    assert "TakeOrderedAndProject" in plan
    assert q.count() == 3


def test_compression_signal(spark):
    """Repetitive text compresses below varied text; empty text safe."""
    from geoparser_spark.operators.text_quality import compression_signal

    rows = [
        (1, "spam spam spam " * 50),
        (2, "the quick brown fox jumps over one lazy dog near a river "
            "while seventeen violet umbrellas quietly dissolve " * 5),
        (3, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in compression_signal(docs).collect()}
    assert got[1].compression_ratio < got[2].compression_ratio
    assert got[3].n_bytes == 0 and got[3].compression_ratio > 0  # no NaN/div0
    import zlib
    assert got[1].n_compressed == len(zlib.compress(rows[0][1].encode(), 6))


def test_bm25_empty_terms(spark):
    from geoparser_spark.operators.serve import bm25_topk

    docs = spark.createDataFrame([(1, "spark")], "doc_id long, text string")
    out = bm25_topk(docs, [], k=5)
    assert out.columns == ["doc_id", "score"] and out.count() == 0


def test_duplicated_window_fraction(spark):
    """Planted exact-substring copy: the copy's windows are all dups,
    the source's shared half is flagged, an unrelated doc scores 0;
    short docs yield zero windows without NaN."""
    from geoparser_spark.operators.dedup import duplicated_window_fraction

    body = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, body),                           # 8 tokens
        (2, "zeta eta theta"),               # last-3 window dup of doc 1
        (3, "one two three four five six"),  # unique
        (4, "too short"),                    # < n tokens
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in
           duplicated_window_fraction(docs, n=3).collect()}
    assert got[2].n_windows == 1 and got[2].dup_fraction == 1.0
    assert got[1].n_windows == 6 and got[1].n_dup_windows == 1
    assert got[3].dup_fraction == 0.0
    assert got[4].n_windows == 0 and got[4].dup_fraction == 0.0


def test_unicode_normalize(spark):
    """NFKC folds fullwidth/ligatures, Cf/Cc chars drop (newline/tab
    survive as whitespace), clean input passes through unchanged."""
    from geoparser_spark.operators.text_quality import unicode_normalize

    rows = [
        (1, "Ｈｅｌｌｏ ﬁne​world"),        # fullwidth + ligature + ZWSP
        (2, "plain text stays"),
        (3, "tab\there\nnewline\x07bell"),       # \x07 is Cc -> dropped
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in unicode_normalize(docs).collect()}
    assert got[1].clean_text == "Hello fineworld" and got[1].changed
    assert got[2].clean_text == "plain text stays" and not got[2].changed
    # Cc chars DROP (no space substituted): "newline\x07bell" fuses
    assert got[3].clean_text == "tab here newlinebell"
    assert got[3].n_chars_out < got[3].n_chars_in  # the Cc drop


def test_minhash_lsh_incremental(spark, tmp_path):
    """New batch probed against a band index MATERIALIZED TO PARQUET
    (the continuous-ingest path): a planted near-copy pairs with its
    original, a fresh doc pairs with nothing."""
    from geoparser_spark.operators.dedup import (
        lsh_band_index, minhash_lsh_incremental)

    body = ("the quick brown fox jumps over the lazy dog while rain "
            "falls softly on the quiet green meadow beyond the river")
    corpus = spark.createDataFrame(
        [(1, body),
         (2, "completely different words about spark shuffles and "
             "partition pruning strategies for columnar scans today")],
        "doc_id long, text string")
    idx_dir = str(tmp_path / "lsh_index")
    lsh_band_index(corpus, num_hashes=16, bands=8).write.parquet(idx_dir)

    new = spark.createDataFrame(
        [(10, body + " extra tail"),            # near-copy of doc 1
         (11, "nothing in common with either corpus document at all "
              "just unrelated filler sentences marching along here")],
        "doc_id long, text string")
    got = minhash_lsh_incremental(
        new, spark.read.parquet(idx_dir), corpus,
        num_hashes=16, bands=8, threshold=0.5).collect()
    assert [(r.new_id, r.corpus_id) for r in got] == [(10, 1)]
    assert got[0].jaccard > 0.5


def test_knn_join(spark):
    """Every query finds itself at rank 1 (cosine 1.0); top-k bounded;
    WindowGroupLimit partial appears in the plan."""
    from geoparser_spark.operators.similarity import knn_join

    import numpy as np
    rng = np.random.RandomState(3)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.where(F.col("vec_id") % 10 == 0)
    out = knn_join(q, emb, k=3, n_planes=2, dim=8)
    got = out.collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.q_id, []).append(r)
    for q_id, rows_ in by_q.items():
        assert len(rows_) <= 3
        best = min(rows_, key=lambda r: r.rank)
        assert best.c_id == q_id and best.cosine == 1.0  # self at rank 1
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_winnow_fingerprints(spark):
    """MOSS guarantee: two docs sharing a run of k+w-1 tokens share at
    least one fingerprint; short docs degrade predictably."""
    from geoparser_spark.operators.dedup import winnow_fingerprints

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 = k+w-1
    rows = [
        (1, "one two three " + shared + " tail words here"),
        (2, shared + " completely different continuation text now"),
        (3, "unrelated content with no overlap whatsoever at all"),
        (4, "tiny doc"),                       # < k tokens: no rows
        (5, "exactly four tokens yes"),        # k grams < w: one window
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {}
    for r in winnow_fingerprints(docs, k=4, w=5).collect():
        got.setdefault(r.doc_id, set()).add(r.fp)
    assert got[1] & got[2], "k+w-1 shared run must share a fingerprint"
    assert not (got[1] & got[3])
    assert 4 not in got
    assert len(got[5]) == 1
