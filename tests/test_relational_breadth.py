"""Tests for the round-3 relational-breadth family: profiling,
tf-idf term ranking, banded levenshtein near-dup pairs and
histograms."""

from __future__ import annotations

from pyspark.sql import Row

from geoparser_spark.operators.dedup import levenshtein_pairs
from geoparser_spark.operators.profile import profile_table
from geoparser_spark.operators.text_stats import tfidf_topk


def test_profile_table_counts_and_reprs(spark):
    df = spark.createDataFrame(
        [Row(a=1, b="x"), Row(a=None, b="y"), Row(a=3, b="y")]
    )
    out = {r["column"]: r for r in profile_table(df).collect()}
    assert out["a"]["n_rows"] == 3
    assert out["a"]["n_nulls"] == 1
    assert out["a"]["n_distinct"] == 2
    # native ordering then render: min is 1 not "1"-lexicographic quirk
    assert out["a"]["min_repr"] == "1" and out["a"]["max_repr"] == "3"
    assert out["b"]["n_nulls"] == 0 and out["b"]["n_distinct"] == 2


def test_profile_table_single_scan(spark):
    df = spark.createDataFrame([Row(a=1, b="x")])
    plan = profile_table(df)._jdf.queryExecution().executedPlan().toString()
    # one scan feeding one aggregate: the unpivot must not re-scan
    assert plan.count("ExistingRDD") <= 1


def test_tfidf_corpus_relative_scores(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="apple banana apple"),
            Row(doc_id=2, text="banana cherry"),
            Row(doc_id=3, text="banana"),
        ]
    )
    rows = {(r.doc_id, r.term): r for r in tfidf_topk(docs, k=3).collect()}
    # df: apple 1, banana 3, cherry 1; N=3, SCALE=1e6
    assert rows[(1, "apple")].tf == 2
    assert rows[(1, "apple")].df == 1
    assert rows[(1, "apple")].score == 2 * (3 * 1_000_000 // 1)
    assert rows[(3, "banana")].score == 1 * (3 * 1_000_000 // 3)
    # rarer term outranks the ubiquitous one within doc 1
    assert rows[(1, "apple")].score > rows[(1, "banana")].score


def test_tfidf_k_limits_per_doc(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="a b c d e f"), Row(doc_id=2, text="a b")]
    )
    out = tfidf_topk(docs, k=2).groupBy("doc_id").count().collect()
    assert all(r["count"] <= 2 for r in out)


def _ldocs(spark, rows):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t, lang="en", n_chars=len(t)) for i, t in rows]
    )


def test_levenshtein_pairs_finds_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog " * 3
    docs = _ldocs(
        spark,
        [(1, base), (2, "Z" + base[1:]), (3, "totally different text here")],
    )
    got = {(r.id_a, r.id_b): r.dist for r in levenshtein_pairs(docs).collect()}
    assert got == {(1, 2): 1}


def test_levenshtein_pairs_adjacent_bucket_recall(spark):
    # lengths straddle a bucket boundary (64): 60 vs 66 chars — the
    # adjacent-bucket explode must still pair them
    a = "x" * 60
    b = "x" * 58 + "yyyyyyyy"  # 66 chars, prefix edit distance 8
    docs = _ldocs(spark, [(1, a), (2, b)])
    got = levenshtein_pairs(docs, max_dist=8).collect()
    assert {(r.id_a, r.id_b) for r in got} == {(1, 2)}


def test_levenshtein_pairs_band_excludes_distant_lengths(spark):
    # same lang but length gap >= 2 buckets: banding excludes the pair
    docs = _ldocs(spark, [(1, "x" * 10), (2, "x" * 200)])
    assert levenshtein_pairs(docs).count() == 0


def test_levenshtein_pairs_no_self_and_canonical(spark):
    docs = _ldocs(spark, [(1, "same text"), (2, "same text")])
    got = levenshtein_pairs(docs).collect()
    assert [(r.id_a, r.id_b, r.dist) for r in got] == [(1, 2, 0)]


def test_histogram_edges(spark):
    """max value lands in the LAST bucket; counts cover all rows;
    min==max and empty inputs degrade cleanly."""
    from geoparser_spark.operators.profile import histogram

    df = spark.createDataFrame(
        [(float(x),) for x in range(0, 101)], "v double")
    h = histogram(df, "v", buckets=10).collect()
    assert [r.bucket for r in h] == list(range(10))
    assert sum(r.n_rows for r in h) == 101
    assert h[-1].n_rows == 11          # 90..100 incl. the max clamp
    assert h[0].lo == 0.0 and h[-1].hi == 100.0

    same = spark.createDataFrame([(5.0,), (5.0,)], "v double")
    one = histogram(same, "v").collect()
    assert len(one) == 1 and one[0].n_rows == 2

    empty = spark.createDataFrame([], "v double")
    assert histogram(empty, "v").count() == 0
