"""The one-pass geotag kernel against two independent taggers.

``geotag`` runs ``surface_index``'s Arrow kernel.  Its locations must
equal both the JVM operator composition (build_surface_forms →
candidate_mentions → resolve_mentions → select_primary) and geobench's
dictionary tagger, on the crawl corpus mix, on mention-dense mega docs,
and on alternatenames and non-ASCII names.  Also pins the ingest batch
at a fixed handful of Spark jobs, and the index's reuse across driver
processes.
"""

from __future__ import annotations

import os
from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from geobench.reference import GeotagReference, locations_equal
from geoparser_spark.operators import surface_index
from geoparser_spark.operators.extract import extract_with_skew_split
from geoparser_spark.operators.geotag import (
    build_surface_forms,
    candidate_mentions,
    doc_texts,
    geotag,
    resolve_mentions,
    select_primary,
)
from geoparser_spark.plans.runtime import resumable_stage
from geoparser_spark.schemas import EXTRACTED, GAZETTEER, GEOTAGGED
from geoparser_spark.sources.geonames import read_geonames_tsv
from geoparser_spark.testing.corpus import build_docs, build_expected
from geoparser_spark.testing.gazetteer import gazetteer_rows, write_geonames_tsv


def _kernel(extracted, gazetteer) -> dict:
    return {r.doc_id: [tuple(loc) for loc in r.locations]
            for r in geotag(extracted, gazetteer).collect()}


def _jvm_oracle(extracted, gazetteer) -> dict:
    surfaces = build_surface_forms(gazetteer)
    primaries = select_primary(resolve_mentions(
        candidate_mentions(doc_texts(extracted), surfaces)))
    ranked = defaultdict(list)
    for r in primaries.collect():
        ranked[r.doc_id].append((r.rank, (r.name, r.latitude, r.longitude,
                                           r.geonameid, r.is_primary, r.score)))
    return {d: [loc for _, loc in sorted(v)] for d, v in ranked.items()}


def _reference(extracted, rows: list[dict]) -> dict:
    tagger = GeotagReference(rows)
    out = {}
    for r in extracted.collect():
        text = " ".join(s.text for s in (r.spans or [])
                        if s.kind == "text" and s.text is not None)
        locs = tagger.tag(text)
        if locs:
            out[r.doc_id] = locs
    return out


def _assert_same(got: dict, want: dict) -> None:
    assert set(got) == set(want)
    bad = [d for d in got if not locations_equal(got[d], want[d])]
    assert not bad, [(d, got[d], want[d]) for d in bad[:3]]


def _extracted(spark, texts: dict[str, str]):
    return spark.createDataFrame(
        [(d, [("text", t, None, 0)]) for d, t in texts.items()], EXTRACTED)


def test_geotag_schema_is_geotagged(spark, gazetteer):
    out = geotag(_extracted(spark, {"d": "Texas"}), gazetteer)
    assert ([(f.name, f.dataType) for f in out.schema]
            == [(f.name, f.dataType) for f in GEOTAGGED])


@pytest.mark.parametrize("seed", [1, 2])
def test_kernel_matches_oracles_on_crawl_corpus(spark, gazetteer, seed):
    # crawl_mixed's format mix and mega-doc shape
    ext = build_expected(spark, 400, seed=seed, mega_every=200,
                         mega_factor=100).cache()
    try:
        got = _kernel(ext, gazetteer)
        assert len(got) > 100
        _assert_same(got, _jvm_oracle(ext, gazetteer))
        _assert_same(got, _reference(ext, gazetteer_rows()))
    finally:
        ext.unpersist()


def test_kernel_matches_oracles_on_megadocs(spark, gazetteer):
    """The repeat pattern and the dense mega doc of
    test_geotag_megadoc: each 'united states of america' is one 4-gram
    mention; 'pasadena texas' fires both ambiguous 1-grams.  The
    dictionary tagger's longest-match is quadratic, so it checks a
    shorter dense doc."""
    ext = _extracted(spark, {
        "repeat": "United States of America " * 50,
        "dense": "Pasadena Texas " * 12_000,
    })
    got = _kernel(ext, gazetteer)
    _assert_same(got, _jvm_oracle(ext, gazetteer))
    assert [loc[3] for loc in got["repeat"]] == [6252001]
    short = _extracted(spark, {"repeat": "United States of America " * 50,
                               "dense": "Pasadena Texas " * 1_000})
    _assert_same(_kernel(short, gazetteer), _reference(short, gazetteer_rows()))


_INTL = [
    dict(geonameid=2657896, name="Zürich", asciiname="Zurich",
         alternatenames="Zuerich,Zurigo,Цюрих", latitude=47.36667,
         longitude=8.55, feature_class="P", feature_code="PPLA",
         country_code="CH", admin1_code="ZH", population=341730),
    dict(geonameid=2657895, name="Kanton Zürich", asciiname="Kanton Zurich",
         alternatenames="Zürich,Canton of Zurich", latitude=47.41667,
         longitude=8.66667, feature_class="A", feature_code="ADM1",
         country_code="CH", admin1_code="ZH", population=1553423),
    dict(geonameid=2658434, name="Switzerland", asciiname="Switzerland",
         alternatenames="Schweiz,Suisse,Svizzera,Confédération suisse",
         latitude=47.00016, longitude=8.01427, feature_class="A",
         feature_code="PCLI", country_code="CH", admin1_code=None,
         population=8516543),
    dict(geonameid=3448439, name="São Paulo", asciiname="Sao Paulo",
         alternatenames="San Pablo,サンパウロ,Σάο Πάολο", latitude=-23.5475,
         longitude=-46.63611, feature_class="P", feature_code="PPLA",
         country_code="BR", admin1_code="27", population=10021295),
    dict(geonameid=745044, name="İstanbul", asciiname="Istanbul",
         alternatenames="Constantinople,Κωνσταντινούπολη", latitude=41.01384,
         longitude=28.94966, feature_class="P", feature_code="PPLA",
         country_code="TR", admin1_code="34", population=14804116),
    dict(geonameid=264371, name="Athens", asciiname="Athens",
         alternatenames="Αθήνα,ΑΘΗΝΑΣ,Athína", latitude=37.98376,
         longitude=23.72784, feature_class="P", feature_code="PPLC",
         country_code="GR", admin1_code="ESYE31", population=664046),
    dict(geonameid=1850147, name="Tokyo", asciiname="Tokyo",
         alternatenames="東京,東京都,Tōkyō", latitude=35.6895,
         longitude=139.69171, feature_class="P", feature_code="PPLC",
         country_code="JP", admin1_code="40", population=8336599),
    dict(geonameid=524901, name="Moscow", asciiname="Moscow",
         alternatenames="Москва,Moskva", latitude=55.75222,
         longitude=37.61556, feature_class="P", feature_code="PPLC",
         country_code="RU", admin1_code="48", population=10381222),
    dict(geonameid=2980291, name="Saint-Étienne", asciiname="Saint-Etienne",
         alternatenames="St. Étienne", latitude=45.43389, longitude=4.39,
         feature_class="P", feature_code="PPLA3", country_code="FR",
         admin1_code=None, population=0),
]


def test_kernel_matches_oracles_on_alternatenames_and_non_ascii(spark):
    rows = [dict(r, admin2_code="", timezone="") for r in _INTL]
    gaz = spark.createDataFrame(rows, GAZETTEER)
    ext = _extracted(spark, {
        "ch": "Flüge ab Zürich (Schweiz) — Kanton Zürich, ZÜRICH!",
        "br": "From SÃO PAULO via San Pablo to サンパウロ and Σάο Πάολο.",
        "tr": "İSTANBUL, once Constantinople / Κωνσταντινούπολη",
        "gr": "ΑΘΗΝΑΣ and Αθήνα and athína",
        "jp": "東京都 東京 Tōkyō TOKYO",
        "ru": "Москва-Moskva, МОСКВА",
        "fr": "St. Étienne vs Saint-Etienne vs saint_étienne",
        "none": "nowhere in particular",
    })
    got = _kernel(ext, gaz)
    assert set(got) == {"ch", "br", "tr", "gr", "jp", "ru", "fr"}
    _assert_same(got, _jvm_oracle(ext, gaz))
    _assert_same(got, _reference(ext, rows))
    # "zürich" is both the city and the ADM1's alternatename: the city
    # wins on its +2 admin1 co-mention with the ADM1 itself
    assert got["ch"][0][3] == 2657896


def test_ingest_batch_job_count(spark, spark_jobs, tmp_path):
    """resumable_stage(extract_with_skew_split) + geotag + the geotagged
    write: a fixed handful of Spark jobs, and one geotagged file."""
    src, gaz_tsv = str(tmp_path / "docs"), str(tmp_path / "gaz.tsv")
    build_docs(spark, 200, seed=42, mega_every=50, mega_factor=20) \
        .write.mode("overwrite").parquet(src)
    write_geonames_tsv(gaz_tsv)
    docs = spark.read.parquet(src)
    out = str(tmp_path / "out")
    n_part = spark.sparkContext.defaultParallelism * 4
    with spark_jobs() as jobs:
        extracted = resumable_stage(
            spark, docs, lambda df: extract_with_skew_split(df, n_part),
            os.path.join(out, "extracted"), os.path.join(out, "manifest"),
            run_id="jobs", n_parts=16)
        geotag(extracted, read_geonames_tsv(spark, gaz_tsv)) \
            .write.mode("overwrite").parquet(os.path.join(out, "geotagged"))
    assert len(jobs) <= 12, jobs
    files = [f for f in os.listdir(os.path.join(out, "geotagged"))
             if f.endswith(".parquet")]
    assert len(files) == 1, files
    tagged = spark.read.parquet(os.path.join(out, "geotagged"))
    assert tagged.count() > 0
    assert tagged.where(F.size("locations") == 0).count() == 0


def test_index_persists_across_driver_processes(spark, tmp_path, monkeypatch):
    """With INDEX_DIR_CONF set, a file-scan gazetteer's index is saved
    once and a later driver process (here: an empty in-process cache)
    opens it without a build; changed input files get a new index, and
    an in-memory gazetteer is never saved."""
    gaz_tsv, root = str(tmp_path / "gaz.tsv"), str(tmp_path / "idx")
    write_geonames_tsv(gaz_tsv)
    monkeypatch.setattr(surface_index, "_BUILT", [])
    spark.conf.set(surface_index.INDEX_DIR_CONF, root)
    try:
        first = surface_index.shipped_index(read_geonames_tsv(spark, gaz_tsv))
        assert os.listdir(root) == [first.prefix]

        def no_build(*_):
            raise AssertionError("index rebuilt")

        monkeypatch.setattr(surface_index, "_BUILT", [])
        monkeypatch.setattr(surface_index, "_build_arrays", no_build)
        again = surface_index.shipped_index(read_geonames_tsv(spark, gaz_tsv))
        assert (again.prefix, again.paths) == (first.prefix, first.paths)
        ext = _extracted(spark, {"d": "Pasadena Texas, United States of America"})
        assert _kernel(ext, read_geonames_tsv(spark, gaz_tsv)) == \
            _jvm_oracle(ext, read_geonames_tsv(spark, gaz_tsv))

        monkeypatch.undo()
        monkeypatch.setattr(surface_index, "_BUILT", [])
        with open(gaz_tsv, "a") as f:
            f.write("\t".join(["9999999", "Newplace", "Newplace", ""] + [""] * 15) + "\n")
        changed = surface_index.shipped_index(read_geonames_tsv(spark, gaz_tsv))
        assert changed.prefix != first.prefix
        surface_index.shipped_index(spark.createDataFrame(gazetteer_rows(), GAZETTEER))
        assert sorted(os.listdir(root)) == sorted([first.prefix, changed.prefix])
    finally:
        spark.conf.unset(surface_index.INDEX_DIR_CONF)
