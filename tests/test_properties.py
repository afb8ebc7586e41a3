"""Property-based tests (hypothesis) for the pure-Python kernels:
robustness (never crash), determinism, and structural invariants that
golden fixtures can't sweep broadly.
"""

from __future__ import annotations

import base64

from hypothesis import given, settings, strategies as st

from geoparser_spark.operators.extract import extract_doc_spans_cols
from geoparser_spark.operators.html_main import extract_html_blocks
from geoparser_spark.operators.pdf_text import extract_pdf_b64_text_blocks
from geoparser_spark.testing.corpus import span_columns

_SETTINGS = dict(max_examples=80, deadline=None)

# text that may contain markup-ish noise
_noise_text = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=400
)
_tagish = st.sampled_from(
    ["<p>", "</p>", "<div class='nav'>", "</div>", "<img src='x'>", "<a href='/'>",
     "</a>", "<script>", "</script>", "<br/>", "&amp;", "&lt;", "<!-- c -->",
     "<ul><li>", "<P CLASS=MENU>", "<"]
)
_html = st.lists(st.one_of(_noise_text, _tagish), max_size=30).map("".join)


@given(_html)
@settings(**_SETTINGS)
def test_html_extract_total_and_deterministic(html):
    out1 = extract_html_blocks(html)
    out2 = extract_html_blocks(html)
    assert out1 == out2
    for kind, text, ref in out1:
        if kind == "text":
            assert text is not None and text == " ".join(text.split())
        else:
            assert text is None and ref


@given(st.binary(max_size=300))
@settings(**_SETTINGS)
def test_pdf_extract_never_crashes_on_garbage(raw):
    b64 = base64.b64encode(raw).decode()
    out = extract_pdf_b64_text_blocks(b64)
    assert isinstance(out, list)
    assert all(isinstance(b, str) for b in out)


@given(st.binary(max_size=300))
@settings(**_SETTINGS)
def test_docx_extract_never_crashes_on_garbage(raw):
    from geoparser_spark.operators.office_text import extract_docx_text_blocks

    out = extract_docx_text_blocks(raw)
    assert isinstance(out, list) and all(isinstance(b, str) for b in out)


_docx_para = st.text(
    alphabet=st.characters(blacklist_categories=("Cs", "Cc")), min_size=1, max_size=120
)


@given(st.lists(_docx_para, min_size=0, max_size=6))
@settings(**_SETTINGS)
def test_docx_roundtrip_preserves_paragraphs(paras):
    from geoparser_spark.operators.office_text import (
        extract_docx_text_blocks,
        make_mini_docx,
    )

    out = extract_docx_text_blocks(make_mini_docx(paras))
    want = [" ".join(p.split()) for p in paras]
    assert out == [w for w in want if w]


@given(st.binary(max_size=600))
@settings(**_SETTINGS)
def test_doc_extract_never_crashes_on_garbage(raw):
    from geoparser_spark.operators.doc_legacy import extract_doc_text_blocks

    # raw garbage AND garbage wearing the CFB magic header
    for blob in (raw, b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1" + raw):
        out = extract_doc_text_blocks(blob)
        assert isinstance(out, list) and all(isinstance(b, str) for b in out)


@given(st.lists(st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=255),
                        min_size=1, max_size=80), min_size=1, max_size=4))
@settings(**_SETTINGS)
def test_doc_roundtrip_preserves_paragraphs(paras):
    from geoparser_spark.operators.doc_legacy import (
        extract_doc_text_blocks,
        make_mini_doc,
    )

    out = extract_doc_text_blocks(make_mini_doc(paras))
    # cp1252 has 27 unmappable codepoints in [32,255] (0x81 block etc.);
    # the writer substitutes '?' for them — mirror that in the oracle
    want = []
    for p in paras:
        enc = p.encode("cp1252", "replace").decode("cp1252")
        w = " ".join(enc.split())
        if w:
            want.append(w)
    assert out == want


@given(st.binary(max_size=300))
@settings(**_SETTINGS)
def test_pptx_xlsx_extract_never_crash_on_garbage(raw):
    from geoparser_spark.operators.office_text import (
        extract_pptx_text_blocks,
        extract_xlsx_text_blocks,
    )

    for fn in (extract_pptx_text_blocks, extract_xlsx_text_blocks):
        out = fn(raw)
        assert isinstance(out, list) and all(isinstance(b, str) for b in out)


@given(st.lists(st.lists(_docx_para, min_size=0, max_size=3), max_size=3))
@settings(**_SETTINGS)
def test_pptx_roundtrip_preserves_paragraphs(slides):
    from geoparser_spark.operators.office_text import (
        extract_pptx_text_blocks,
        make_mini_pptx,
    )

    out = extract_pptx_text_blocks(make_mini_pptx(slides))
    want = [" ".join(p.split()) for s in slides for p in s]
    assert out == [w for w in want if w]


@given(st.lists(st.lists(_docx_para, min_size=1, max_size=3), max_size=3))
@settings(**_SETTINGS)
def test_xlsx_roundtrip_preserves_rows(rows):
    from geoparser_spark.operators.office_text import (
        extract_xlsx_text_blocks,
        make_mini_xlsx,
    )

    out = extract_xlsx_text_blocks(make_mini_xlsx(rows))
    want = [" ".join(" ".join(r).split()) for r in rows]
    assert out == [w for w in want if w]


@given(_noise_text)
@settings(**_SETTINGS)
def test_rtf_extract_total_and_deterministic(s):
    from geoparser_spark.operators.office_text import extract_rtf_text_blocks

    rtf = "{\\rtf1 " + s.replace("\\", "").replace("{", "").replace("}", "") + "\\par}"
    out1 = extract_rtf_text_blocks(rtf)
    out2 = extract_rtf_text_blocks(rtf)
    assert out1 == out2
    assert all(b == " ".join(b.split()) for b in out1)
    # non-RTF input is always an empty parse, never an exception
    assert extract_rtf_text_blocks(s) == [] or s.startswith("{\\rtf")


_span = st.fixed_dictionaries(
    {
        "kind": st.sampled_from(["html", "text", "pdf_bytes", "image", "video", "weird"]),
        "text": st.one_of(st.none(), _noise_text),
        "media_ref": st.one_of(st.none(), st.text(max_size=20)),
        "offset": st.integers(min_value=0, max_value=10_000),
    }
)


@given(st.lists(_span, max_size=12), st.randoms())
@settings(**_SETTINGS)
def test_doc_spans_dense_order_and_offset_invariance(spans, rnd):
    out = extract_doc_spans_cols(*span_columns(spans), 0, len(spans))
    assert [o for *_, o in out] == list(range(len(out)))
    # input list order is irrelevant when offsets are distinct —
    # the offset column is the ordering authority (SURVEY.md §4.2)
    offsets = [s["offset"] for s in spans]
    if len(set(offsets)) == len(offsets):
        shuffled = list(spans)
        rnd.shuffle(shuffled)
        assert extract_doc_spans_cols(
            *span_columns(shuffled), 0, len(shuffled)) == out


@given(st.binary(max_size=300))
@settings(**_SETTINGS)
def test_odt_extract_never_crashes_on_garbage(raw):
    from geoparser_spark.operators.office_text import extract_odt_text_blocks

    out = extract_odt_text_blocks(raw)
    assert isinstance(out, list) and all(isinstance(b, str) for b in out)


@given(st.lists(st.text(max_size=60), max_size=5))
@settings(**_SETTINGS)
def test_odt_fixture_roundtrip(paras):
    from geoparser_spark.operators.office_text import (
        extract_odt_text_blocks, make_mini_odt)

    got = extract_odt_text_blocks(make_mini_odt(paras))
    want = [" ".join(p.split()) for p in paras]
    assert got == [w for w in want if w]


@given(st.binary(max_size=300))
@settings(**_SETTINGS)
def test_mp4_parse_never_crashes_on_garbage(raw):
    from geoparser_spark.operators.video_meta import parse_mp4

    out = parse_mp4(raw)
    assert out is None or isinstance(out, tuple)
