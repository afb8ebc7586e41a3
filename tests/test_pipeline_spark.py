"""End-to-end Spark-path tests: extraction equality, partitioning
invariance, mega-doc splitting, geotag fixtures, resume.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from geoparser_spark.operators.extract import extract
from geoparser_spark.operators.geotag import (
    build_surface_forms,
    candidate_mentions,
    geotag,
    resolve_mentions,
    select_primary,
)
from geoparser_spark.plans.runtime import (
    reassemble_chunks,
    resumable_stage,
    salted_repartition,
    split_mega_docs,
    with_part_id,
)
from geoparser_spark.testing.corpus import build_docs, build_expected

N_DOCS = 120
GEN = dict(seed=42, mega_every=40, mega_factor=20)


@pytest.fixture(scope="module")
def docs(spark):
    return build_docs(spark, N_DOCS, **GEN).cache()


@pytest.fixture(scope="module")
def expected(spark):
    return build_expected(spark, N_DOCS, **GEN).cache()


def _assert_span_equality(got, expected):
    j = got.alias("g").join(expected.alias("e"), "doc_id", "full")
    bad = j.where(
        F.col("g.spans").isNull()
        | F.col("e.spans").isNull()
        | ~(F.col("g.spans") == F.col("e.spans"))
    )
    assert bad.count() == 0


def test_extract_matches_golden(docs, expected):
    _assert_span_equality(extract(docs), expected)


def test_extract_invariant_under_repartition(docs, expected):
    # span order is data, not row order: any partitioning gives the
    # same per-doc sequence (SURVEY.md §4.2 determinism discipline)
    _assert_span_equality(extract(salted_repartition(docs, 13)), expected)


def test_split_mega_docs_roundtrip(docs, expected):
    # chunk spans keep their source offsets; extract per chunk
    # (chunk_id as a passthrough column) then reassemble in chunk order
    chunked = split_mega_docs(docs, max_spans=8)
    per_chunk = extract(chunked, passthrough=("chunk_id",))
    _assert_span_equality(reassemble_chunks(per_chunk), expected)


def test_extract_with_skew_split_matches_golden(docs, expected):
    from geoparser_spark.operators.extract import extract_with_skew_split

    _assert_span_equality(extract_with_skew_split(docs, 16, max_spans=8), expected)


def test_skew_split_handles_offset_shuffled_arrays(docs, expected):
    """Array order is untrusted data: a doc whose spans arrive in
    reversed array order must still reassemble in global offset order
    (regression: split_mega_docs used to chunk in raw array order, so
    only offset-pre-sorted inputs survived the split path)."""
    from geoparser_spark.operators.extract import extract_with_skew_split

    shuffled = docs.select("doc_id", F.reverse("spans").alias("spans"))
    _assert_span_equality(extract(shuffled), expected)  # plain path
    _assert_span_equality(extract_with_skew_split(shuffled, 16, max_spans=8), expected)


def test_resumable_stage_resumes(spark, docs, expected):
    tmp = tempfile.mkdtemp(prefix="gp_resume_")
    out_dir = f"{tmp}/out"
    man_dir = f"{tmp}/manifest"
    try:
        n_parts = 8
        # simulate a crashed first run: only partitions 0..3 completed
        first_half = with_part_id(docs, n_parts=n_parts).where(F.col("part_id") < 4)
        out1 = resumable_stage(
            spark, first_half.drop("part_id"), extract, out_dir, man_dir,
            run_id="r1", n_parts=n_parts,
        )
        done1 = spark.read.parquet(man_dir).where(F.col("status") == "done")
        assert done1.select("partition_id").distinct().count() == 4

        # resume over the full input: must process ONLY the remaining 4
        out2 = resumable_stage(
            spark, docs, extract, out_dir, man_dir, run_id="r2", n_parts=n_parts
        )
        man = spark.read.parquet(man_dir)
        r2_parts = (
            man.where(F.col("run_id") == "r2").select("partition_id").distinct()
        )
        assert r2_parts.count() == n_parts - 4
        # final output identical to an uninterrupted run
        _assert_span_equality(out2, expected)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_manifest_schema_matches_written_manifest(spark, docs, tmp_path):
    """schemas.MANIFEST declares the columns and types that
    resumable_stage writes (wall_ms is an int column)."""
    from geoparser_spark.schemas import MANIFEST

    man_dir = str(tmp_path / "manifest")
    resumable_stage(spark, docs.limit(8), extract, str(tmp_path / "out"),
                    man_dir, run_id="schema", n_parts=2)
    written = spark.read.parquet(man_dir).schema
    assert ([(f.name, f.dataType) for f in written]
            == [(f.name, f.dataType) for f in MANIFEST])


def test_resumable_stage_on_catalog_ref(spark, docs, expected):
    """The same resume protocol against CATALOG TABLE refs: output and
    manifest go through the DataFrameWriterV2 path (overwritePartitions
    / append — the calls that are snapshot commits on Iceberg), reads
    through spark.table.  Exercised end-to-end on the session catalog's
    parquet tables."""
    out_ref = "table:gp_resume_out"
    man_ref = "table:gp_resume_man"
    try:
        n_parts = 8
        first_half = with_part_id(docs, n_parts=n_parts).where(F.col("part_id") < 4)
        resumable_stage(
            spark, first_half.drop("part_id"), extract, out_ref, man_ref,
            run_id="r1", n_parts=n_parts,
        )
        man1 = spark.table("gp_resume_man").where(F.col("status") == "done")
        assert man1.select("partition_id").distinct().count() == 4

        out2 = resumable_stage(
            spark, docs, extract, out_ref, man_ref, run_id="r2", n_parts=n_parts
        )
        man = spark.table("gp_resume_man")
        assert (
            man.where(F.col("run_id") == "r2")
            .select("partition_id").distinct().count()
            == n_parts - 4
        )
        _assert_span_equality(out2, expected)
    finally:
        spark.sql("DROP TABLE IF EXISTS gp_resume_out")
        spark.sql("DROP TABLE IF EXISTS gp_resume_man")


def test_read_done_parts_fresh_manifest_is_nothing_done(spark, tmp_path,
                                                       monkeypatch):
    """A manifest that does not exist yet means "nothing done", found
    without a read attempt: the reader's failed lookup of the missing
    path is what logged a Java stack trace on every fresh run."""
    from geoparser_spark.plans.runtime import read_done_parts

    reads = []
    real = type(spark.read).parquet

    def recording_read(self, *paths, **kwargs):
        reads.append(paths)
        return real(self, *paths, **kwargs)

    monkeypatch.setattr(type(spark.read), "parquet", recording_read)
    assert read_done_parts(spark, str(tmp_path / "manifest")).count() == 0
    assert reads == []


def test_read_done_parts_uncommitted_manifest_is_nothing_done(spark,
                                                              tmp_path):
    """A first manifest append killed before its commit leaves only a
    ``_temporary`` directory: no row was committed, so nothing is done."""
    from geoparser_spark.plans.runtime import read_done_parts

    (tmp_path / "manifest" / "_temporary" / "0").mkdir(parents=True)
    assert read_done_parts(spark, str(tmp_path / "manifest")).count() == 0


def test_read_done_parts_corrupt_manifest_raises(spark, tmp_path):
    """A manifest that exists but cannot be read fails loudly instead of
    silently re-running every partition."""
    from geoparser_spark.plans.runtime import read_done_parts

    man = tmp_path / "manifest"
    man.mkdir()
    (man / "part-00000.snappy.parquet").write_bytes(b"PAR1 not parquet PAR1")
    with pytest.raises(Exception, match="(?i)parquet"):
        read_done_parts(spark, str(man)).collect()


# ----------------------------------------------------------- geotag

def test_geotag_fixtures(spark, gazetteer):
    texts = spark.createDataFrame(
        [
            ("d1", "He moved from Pasadena Texas to the coast."),
            ("d3", "Texas near Mexico border town."),
        ],
        ["doc_id", "text"],
    )
    surf = build_surface_forms(gazetteer)
    res = resolve_mentions(candidate_mentions(texts, surf))
    got = {
        (r.doc_id, r.gram): r.geonameid
        for r in res.select("doc_id", "gram", "geonameid").collect()
    }
    # alone: admin-hierarchy weight wins → US ADM1 Texas, US Pasadena
    assert got[("d1", "texas")] == 4736286
    assert got[("d1", "pasadena")] == 5381396
    # with "Mexico" co-mentioned: the MX Texas (the reference's naive
    # top-hit at 18.05333,-91.92139, README.md:69-82) wins
    assert got[("d3", "texas")] == 3516809


def test_geotag_primary_polar_geot(spark, gazetteer):
    # polar.geot golden contract (reference README.md:98-115): most
    # frequent entity is primary; China optional
    texts = spark.createDataFrame(
        [("p1", "United States team met China delegates in United States labs.")],
        ["doc_id", "text"],
    )
    surf = build_surface_forms(gazetteer)
    prim = select_primary(resolve_mentions(candidate_mentions(texts, surf)))
    rows = {r.name: (r.is_primary, r.latitude, r.longitude) for r in prim.collect()}
    assert rows["United States"] == (True, 39.76, -98.5)
    assert rows["China"][0] is False


def test_geotag_full_stage_and_ordering(spark, gazetteer):
    ext = spark.createDataFrame(
        [
            (
                "d1",
                [
                    {"kind": "text", "text": "Pasadena Texas visit", "media_ref": None, "order": 0},
                    {"kind": "image", "text": None, "media_ref": "i://1", "order": 1},
                ],
            )
        ],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,order:int>>",
    )
    out = geotag(ext, gazetteer).collect()
    assert len(out) == 1
    locs = out[0].locations
    assert [l.name for l in locs] == ["Pasadena", "Texas"]
    assert [l.is_primary for l in locs] == [True, False]


def test_geotag_multiword_and_alternatenames(spark, gazetteer):
    texts = spark.createDataFrame(
        [("m1", "Reports from USA confirm the findings.")],
        ["doc_id", "text"],
    )
    surf = build_surface_forms(gazetteer)
    res = resolve_mentions(candidate_mentions(texts, surf))
    rows = res.collect()
    assert len(rows) == 1 and rows[0].geonameid == 6252001  # USA → United States


def test_four_and_five_token_surfaces(spark, gazetteer):
    # MAX_NGRAM=5 recall: GeoNames-style long official names must match
    # and longest-match must shadow every contained shorter surface
    texts = spark.createDataFrame(
        [
            ("l1", "Signed by the United States of America today"),
            ("l2", "Envoys of the Grand Duchy of Upper Borduria arrived"),
        ],
        ["doc_id", "text"],
    )
    surf = build_surface_forms(gazetteer)
    res = resolve_mentions(candidate_mentions(texts, surf))
    got = {(r.doc_id, r.gram): r.geonameid for r in res.collect()}
    assert got[("l1", "united states of america")] == 6252001
    assert got[("l2", "grand duchy of upper borduria")] == 9200000
    # the contained "united states" 2-gram and "borduria" 1-gram are
    # shadowed by the longer match
    assert len([k for k in got if k[0] == "l1"]) == 1
    assert len([k for k in got if k[0] == "l2"]) == 1


def test_extract_arrow_edge_cases(spark):
    # null spans cell, empty spans array, doc with only media
    from geoparser_spark.schemas import DOCS

    rows = [
        ("d-null", None),
        ("d-empty", []),
        ("d-media", [("image", None, "img://x", 0)]),
        ("d-text", [("text", "  hello   world ", None, 0)]),
    ]
    docs = spark.createDataFrame(rows, DOCS)
    got = {r["doc_id"]: r["spans"] for r in extract(docs).collect()}
    assert got["d-null"] == []
    assert got["d-empty"] == []
    assert [tuple(s) for s in got["d-media"]] == [("image", None, "img://x", 0)]
    assert [tuple(s) for s in got["d-text"]] == [("text", "hello world", None, 0)]


def test_trigram_surfaces_and_text_boundary(spark, gazetteer):
    # 3-token alternatename at the very end of the text (lookahead
    # columns t1/t2 run off the array) and a 3-token name mid-text
    texts = spark.createDataFrame(
        [
            ("b1", "Delegates from the United Mexican States"),
            ("b2", "The State of Texas registry lists it"),
            ("b3", "Pasadena"),          # single token, whole text
            ("b4", "texas"),             # single token at position 0
        ],
        ["doc_id", "text"],
    )
    surf = build_surface_forms(gazetteer)
    res = resolve_mentions(candidate_mentions(texts, surf))
    got = {(r.doc_id, r.gram): r.geonameid for r in res.collect()}
    assert got[("b1", "united mexican states")] == 3996063  # -> Mexico PCLI
    assert got[("b2", "state of texas")] == 4736286         # -> US ADM1 Texas
    assert got[("b3", "pasadena")] == 5381396
    assert got[("b4", "texas")] == 4736286
    # longest-match: the contained "texas" inside "state of texas" is
    # shadowed, so b2 has exactly one mention
    assert len([k for k in got if k[0] == "b2"]) == 1
