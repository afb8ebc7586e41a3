"""Span-sequence equality of the extraction core against generator
ground truth — pure Python (no Spark), so it covers many documents
cheaply.  The Spark-path equivalent lives in test_pipeline_spark.py.
"""

from geoparser_spark.operators.extract import extract_doc_spans_cols
from geoparser_spark.testing.corpus import generate_doc, span_columns


def _extract(spans):
    return extract_doc_spans_cols(*span_columns(spans), 0, len(spans))


def _expected(exp):
    return [(s["kind"], s["text"], s["media_ref"], s["order"])
            for s in exp["spans"]]


def test_span_sequence_equality_500_docs():
    for i in range(500):
        doc, exp = generate_doc(i, seed=42, mega_every=50, mega_factor=20)
        got = _extract(doc["spans"])
        assert got == _expected(exp), f"doc {i} span sequence mismatch"


def test_generation_is_deterministic():
    a = generate_doc(7, seed=42)
    b = generate_doc(7, seed=42)
    assert a == b
    c = generate_doc(7, seed=43)
    assert c != a


def test_offsets_drive_order_not_list_position():
    doc, _ = generate_doc(3, seed=42)
    spans = list(reversed(doc["spans"]))  # scramble list order
    assert _extract(spans) == _extract(doc["spans"])


def test_dense_order():
    doc, _ = generate_doc(11, seed=42, mega_every=50, mega_factor=20)
    out = _extract(doc["spans"])
    assert [s[3] for s in out] == list(range(len(out)))


def test_mega_doc_has_many_spans():
    doc, exp = generate_doc(49, seed=42, mega_every=50, mega_factor=20)
    assert len(doc["spans"]) >= 20
    assert _extract(doc["spans"]) == _expected(exp)
