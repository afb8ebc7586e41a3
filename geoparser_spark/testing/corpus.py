"""Deterministic synthetic corpus of interleaved text + media documents.

Shape per BASELINE.json ``input_hint``:
    docs(doc_id string, spans array<struct<kind,text,media_ref,offset>>)

The generator embeds KNOWN content (paragraphs, pdf lines, media refs)
inside realistic boilerplate (nav/header/footer/link farms), so the
golden ``expected_spans`` output is derived from the generator's own
ground truth — NOT by running the extractor (no tautological tests).

Determinism: a per-document PRNG seeded by (global_seed, doc_index), so
generation is order-independent and can run distributed (spark.range →
mapInPandas) at any partitioning and still produce identical documents.

Skew fixture (FIXTURES.md §1): every ``mega_every``-th doc gets
``mega_factor``× the median span count — the mega-document skew the
chunk split and its rebalance must defuse.
"""

from __future__ import annotations

import random
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from geoparser_spark.operators.office_text import (
    make_mini_docx,
    make_mini_epub,
    make_mini_pptx,
    make_mini_xlsx,
)
from geoparser_spark.operators.pdf_text import make_mini_pdf
from geoparser_spark.schemas import DOCS, EXTRACTED
from geoparser_spark.testing.gazetteer import gazetteer_rows

import base64

_WORDS = (
    "ocean glacier research vessel survey expedition northern southern basin "
    "climate sediment camera station coastal satellite measured reported team "
    "harbor winter summer route traffic market festival museum river bridge "
    "council report annual growth policy transit energy water district local"
).split()

_BOILER_LINKS = ["Home", "About", "Contact", "Privacy", "Terms", "Sitemap", "Login"]


def _mention_names(seed: int) -> list[str]:
    """Gazetteer surface forms to seed into content text (fixture pairs
    first, per FIXTURES.md §1)."""
    names = [r["name"] for r in gazetteer_rows(seed)]
    fixtures = ["Pasadena Texas", "United States", "China"]
    return fixtures + names


def _sentence(rng: random.Random, mentions: list[str]) -> str:
    n = rng.randint(6, 12)
    words = [_WORDS[rng.randrange(len(_WORDS))] for _ in range(n)]
    if rng.random() < 0.45:
        words.insert(rng.randrange(len(words)), mentions[rng.randrange(len(mentions))])
    s = " ".join(words)
    return s[0].upper() + s[1:] + "."


def _paragraph(rng: random.Random, mentions: list[str]) -> str:
    return " ".join(_sentence(rng, mentions) for _ in range(rng.randint(1, 3)))


def _html_span(rng: random.Random, doc_id: str, idx: int, mentions: list[str]):
    """Build one HTML page; return (html, ground_truth_blocks)."""
    truth: list[tuple[str, str | None, str | None]] = []
    title = _sentence(rng, mentions).rstrip(".")
    paras = [_paragraph(rng, mentions) for _ in range(rng.randint(1, 4))]
    nav = "".join(f'<a href="/{w.lower()}">{w}</a>' for w in _BOILER_LINKS)
    parts = [
        "<html><head><title>ignored</title><script>var x=1;</script></head><body>",
        f"<nav>{nav}</nav>",
        f'<div class="sidebar"><a href="/a">Trending</a><a href="/b">Popular now</a></div>',
        f'<div class="content"><h1>{title}</h1>',
    ]
    truth.append(("text", title, None))
    for pi, p in enumerate(paras):
        parts.append(f"<p>{p}</p>")
        truth.append(("text", p, None))
        if rng.random() < 0.3:
            ref = f"img://{doc_id}/{idx}-{pi}"
            parts.append(f'<img src="{ref}"/>')
            truth.append(("image", None, ref))
    # link farm without a bad class name — must die by link density
    farm = "".join(f'<a href="/r{i}">{_WORDS[(i * 5 + idx) % len(_WORDS)]}</a> ' for i in range(6))
    parts.append(f"<div>{farm}</div>")
    parts.append(f'<footer>Copyright {1990 + idx % 30} example.org {nav}</footer>')
    parts.append("</body></html>")
    return "".join(parts), truth


def _pdf_span(rng: random.Random, mentions: list[str]):
    pages = [
        [_sentence(rng, mentions) for _ in range(rng.randint(1, 3))]
        for _ in range(rng.randint(1, 2))
    ]
    compress = rng.random() < 0.5
    # ~1/3 of PDFs carry an embedded image XObject (real JPEG payload);
    # the writer appends image objects after the page streams, so the
    # extractor's byte-order walk yields text blocks then media spans
    images = []
    if rng.random() < 0.34:
        images = [(rng.randint(1, 64), rng.randint(1, 64))]
    b64 = base64.b64encode(
        make_mini_pdf(pages, compress=compress, images=images)).decode("ascii")
    truth = [("text", " ".join(" ".join(lines).split()), None) for lines in pages]
    truth += [("image", None, f"img://jpeg/{w}x{h}") for w, h in images]
    return b64, truth


def _docx_span(rng: random.Random, mentions: list[str]):
    paras = [_paragraph(rng, mentions) for _ in range(rng.randint(1, 3))]
    b64 = base64.b64encode(make_mini_docx(paras)).decode("ascii")
    truth = [("text", " ".join(p.split()), None) for p in paras]
    return b64, truth


def _pptx_span(rng: random.Random, mentions: list[str]):
    slides = [
        [_sentence(rng, mentions) for _ in range(rng.randint(1, 2))]
        for _ in range(rng.randint(1, 2))
    ]
    b64 = base64.b64encode(make_mini_pptx(slides)).decode("ascii")
    truth = [("text", " ".join(p.split()), None)
             for slide in slides for p in slide]
    return b64, truth


def _xlsx_span(rng: random.Random, mentions: list[str]):
    rows = [
        [_sentence(rng, mentions) for _ in range(rng.randint(1, 3))]
        for _ in range(rng.randint(1, 3))
    ]
    b64 = base64.b64encode(make_mini_xlsx(rows)).decode("ascii")
    truth = [("text", " ".join(" ".join(r).split()), None) for r in rows]
    return b64, truth


def _epub_span(rng: random.Random, mentions: list[str]):
    chapters = [
        [_paragraph(rng, mentions) for _ in range(rng.randint(1, 2))]
        for _ in range(rng.randint(1, 2))
    ]
    b64 = base64.b64encode(make_mini_epub(chapters)).decode("ascii")
    truth = [("text", " ".join(p.split()), None)
             for ch in chapters for p in ch]
    return b64, truth


def _doc_span(rng: random.Random, mentions: list[str]):
    from geoparser_spark.operators.doc_legacy import make_mini_doc

    paras = [_paragraph(rng, mentions) for _ in range(rng.randint(1, 2))]
    b64 = base64.b64encode(make_mini_doc(paras)).decode("ascii")
    truth = [("text", " ".join(p.split()), None) for p in paras]
    return b64, truth


def _eml_span(rng: random.Random, mentions: list[str]):
    from geoparser_spark.operators.email_text import make_mini_eml

    subject = _sentence(rng, mentions).rstrip(".")
    paras = [_paragraph(rng, mentions) for _ in range(rng.randint(1, 2))]
    eml = make_mini_eml(subject, paras)
    truth = [("text", " ".join(subject.split()), None)] + [
        ("text", " ".join(p.split()), None) for p in paras
    ]
    return eml, truth


def _rtf_span(rng: random.Random, mentions: list[str]):
    paras = [_paragraph(rng, mentions) for _ in range(rng.randint(1, 2))]
    rtf = "{\\rtf1\\ansi " + "".join(p + "\\par " for p in paras) + "}"
    truth = [("text", " ".join(p.split()), None) for p in paras]
    return rtf, truth


def _xml_span(rng: random.Random, mentions: list[str]):
    from geoparser_spark.operators.xml_text import make_mini_xml

    items = [_sentence(rng, mentions) for _ in range(rng.randint(1, 3))]
    xml = make_mini_xml(items)
    truth = [("text", " ".join(s.split()), None) for s in items]
    return xml, truth


def _csv_span(rng: random.Random, mentions: list[str]):
    from geoparser_spark.operators.csv_text import make_mini_csv

    rows = [
        [_sentence(rng, mentions).rstrip(".")
         for _ in range(rng.randint(1, 3))]
        for _ in range(rng.randint(1, 3))
    ]
    delim = rng.choice([",", "\t"])
    doc = make_mini_csv(rows, delimiter=delim)
    truth = [("text", " ".join(" ".join(r).split()), None) for r in rows]
    return doc, truth


def _image_span(rng: random.Random, mentions: list[str]):
    from geoparser_spark.operators.image_meta import (
        make_mini_gif,
        make_mini_jpeg,
        make_mini_png,
    )

    w, h = rng.randint(1, 64), rng.randint(1, 64)
    caption = _sentence(rng, mentions)
    fmt = rng.choice(["png", "jpeg", "gif"])
    if fmt == "png":
        raw = make_mini_png(w, h, [caption])
    elif fmt == "jpeg":
        raw = make_mini_jpeg(w, h, [caption])
    else:
        raw = make_mini_gif(w, h, [caption])
    b64 = base64.b64encode(raw).decode("ascii")
    truth = [
        ("image", None, f"img://{fmt}/{w}x{h}"),
        ("text", " ".join(caption.split()), None),
    ]
    return b64, truth


def generate_doc(doc_index: int, seed: int = 42, mega_every: int = 1000,
                 mega_factor: int = 100) -> tuple[dict, dict]:
    """Return (doc_row, expected_row) for one document. Pure function of
    (doc_index, seed, mega_every, mega_factor)."""
    rng = random.Random(f"{seed}:{doc_index}")
    mentions = _mention_names(seed)
    doc_id = f"doc-{doc_index:08d}"
    n_spans = rng.randint(1, 5)
    if mega_every and doc_index % mega_every == mega_every - 1:
        n_spans *= mega_factor  # mega-document
    spans_in: list[dict] = []
    truth: list[tuple[str, str | None, str | None]] = []
    for i in range(n_spans):
        kind = rng.choices(
            ["html", "text", "pdf_bytes", "docx_bytes", "doc_bytes",
             "pptx_bytes", "xlsx_bytes", "epub_bytes", "rtf", "eml",
             "xml", "image_bytes", "csv", "image", "video"],
            weights=[4, 4, 2, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1],
        )[0]
        if kind == "html":
            html, t = _html_span(rng, doc_id, i, mentions)
            spans_in.append({"kind": "html", "text": html, "media_ref": None, "offset": i})
            truth.extend(t)
        elif kind == "text":
            txt = _paragraph(rng, mentions)
            spans_in.append({"kind": "text", "text": txt, "media_ref": None, "offset": i})
            truth.append(("text", txt, None))
        elif kind == "pdf_bytes":
            b64, t = _pdf_span(rng, mentions)
            spans_in.append({"kind": "pdf_bytes", "text": b64, "media_ref": None, "offset": i})
            truth.extend(t)
        elif kind == "docx_bytes":
            b64, t = _docx_span(rng, mentions)
            spans_in.append({"kind": "docx_bytes", "text": b64, "media_ref": None, "offset": i})
            truth.extend(t)
        elif kind == "doc_bytes":
            b64, t = _doc_span(rng, mentions)
            spans_in.append({"kind": "doc_bytes", "text": b64, "media_ref": None, "offset": i})
            truth.extend(t)
        elif kind == "epub_bytes":
            b64, t = _epub_span(rng, mentions)
            spans_in.append({"kind": "epub_bytes", "text": b64, "media_ref": None, "offset": i})
            truth.extend(t)
        elif kind == "pptx_bytes":
            b64, t = _pptx_span(rng, mentions)
            spans_in.append({"kind": "pptx_bytes", "text": b64, "media_ref": None, "offset": i})
            truth.extend(t)
        elif kind == "xlsx_bytes":
            b64, t = _xlsx_span(rng, mentions)
            spans_in.append({"kind": "xlsx_bytes", "text": b64, "media_ref": None, "offset": i})
            truth.extend(t)
        elif kind == "rtf":
            rtf, t = _rtf_span(rng, mentions)
            spans_in.append({"kind": "rtf", "text": rtf, "media_ref": None, "offset": i})
            truth.extend(t)
        elif kind == "eml":
            eml, t = _eml_span(rng, mentions)
            spans_in.append({"kind": "eml", "text": eml, "media_ref": None, "offset": i})
            truth.extend(t)
        elif kind == "xml":
            xml, t = _xml_span(rng, mentions)
            spans_in.append({"kind": "xml", "text": xml, "media_ref": None, "offset": i})
            truth.extend(t)
        elif kind == "image_bytes":
            b64, t = _image_span(rng, mentions)
            spans_in.append({"kind": "image_bytes", "text": b64, "media_ref": None, "offset": i})
            truth.extend(t)
        elif kind == "csv":
            doc, t = _csv_span(rng, mentions)
            spans_in.append({"kind": "csv", "text": doc, "media_ref": None, "offset": i})
            truth.extend(t)
        else:
            ref = f"{kind[:3]}://{doc_id}/{i}"
            spans_in.append({"kind": kind, "text": None, "media_ref": ref, "offset": i})
            truth.append((kind, None, ref))
    doc_row = {"doc_id": doc_id, "spans": spans_in}
    expected_row = {
        "doc_id": doc_id,
        "spans": [
            {"kind": k, "text": t, "media_ref": m, "order": o}
            for o, (k, t, m) in enumerate(truth)
        ],
    }
    return doc_row, expected_row


def span_columns(spans: list[dict]) -> tuple[list, list, list, list]:
    """Split span dicts into the parallel (kind, text, media_ref, offset)
    columns that ``extract.extract_doc_spans_cols`` reads, as the Arrow
    kernel hands them over.  A missing key reads as None."""
    return tuple([s.get(c) for s in spans]
                 for c in ("kind", "text", "media_ref", "offset"))


def _gen_batches(which: str, seed: int, mega_every: int, mega_factor: int):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                generate_doc(int(i), seed, mega_every, mega_factor)[0 if which == "docs" else 1]
                for i in pdf["id"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": [r["doc_id"] for r in rows],
                    "spans": [r["spans"] for r in rows],
                }
            )
    return fn


def build_docs(spark: SparkSession, n_docs: int, seed: int = 42,
               mega_every: int = 1000, mega_factor: int = 100,
               partitions: int | None = None) -> DataFrame:
    """Distributed generation: spark.range(n) → mapInPandas. Scales to
    any corpus size without driver materialization."""
    rng_df = spark.range(n_docs, numPartitions=partitions or spark.sparkContext.defaultParallelism)
    return rng_df.mapInPandas(_gen_batches("docs", seed, mega_every, mega_factor), schema=DOCS)


def build_expected(spark: SparkSession, n_docs: int, seed: int = 42,
                   mega_every: int = 1000, mega_factor: int = 100,
                   partitions: int | None = None) -> DataFrame:
    rng_df = spark.range(n_docs, numPartitions=partitions or spark.sparkContext.defaultParallelism)
    return rng_df.mapInPandas(_gen_batches("expected", seed, mega_every, mega_factor), schema=EXTRACTED)
