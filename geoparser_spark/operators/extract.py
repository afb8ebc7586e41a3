"""Extract stage: interleaved (html|text|pdf_bytes|media) spans →
ordered main-content text + media spans.

Reference dataflow replaced: per-doc HTTP round-trip to a Tika server
(geoparser_app/views.py:125,357-402 — ~0.6 docs/sec sequential) becomes
one Arrow-batched ``mapInArrow`` stage: JVM ships columnar batches to
the Python worker, the worker parses a whole batch, ships columnar
results back.  No per-row UDF, no driver loop, no network hop.

Scale notes (100 TB design point):
  * The stage is map-only — zero shuffle.  Upstream,
    ``extract_with_skew_split`` splits mega-documents (BASELINE skew
    fixture: 0.1% of docs own 100-1000x median span count) into chunks
    and spreads them with an AQE rebalance, which sizes the extract
    tasks by the data it hashes.
  * ``spark.sql.execution.arrow.maxRecordsPerBatch`` bounds Python-worker
    memory per batch regardless of doc size distribution.
  * Catalyst prunes unused columns before the Arrow hop because we
    select exactly (doc_id, spans).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame

from geoparser_spark.operators.html_main import extract_html_blocks
from geoparser_spark.operators.biff_legacy import (
    extract_ppt_b64_text_blocks,
    extract_xls_b64_text_blocks,
)
from geoparser_spark.operators.doc_legacy import extract_doc_b64_text_blocks
from geoparser_spark.operators.email_text import extract_eml_text_blocks
from geoparser_spark.operators.office_text import (
    extract_docx_b64_text_blocks,
    extract_epub_b64_text_blocks,
    extract_odt_b64_text_blocks,
    extract_pptx_b64_text_blocks,
    extract_rtf_text_blocks,
    extract_xlsx_b64_text_blocks,
)
from geoparser_spark.operators.csv_text import extract_csv_text_blocks
from geoparser_spark.operators.markdown_text import extract_markdown_spans
from geoparser_spark.operators.audio_meta import extract_audio_b64_spans
from geoparser_spark.operators.video_meta import extract_video_b64_spans
from geoparser_spark.operators.image_meta import extract_image_b64_spans
from geoparser_spark.operators.pdf_text import extract_pdf_b64_spans
from geoparser_spark.operators.xml_text import extract_xml_text_blocks
from geoparser_spark.operators.archive_text import (
    extract_gz_b64_spans,
    extract_tar_b64_spans,
    extract_zip_b64_spans,
)
from geoparser_spark.schemas import EXTRACTED

MEDIA_KINDS = frozenset({"image", "video", "audio", "table"})


def _norm_text(s: str) -> str:
    return " ".join(s.split())


def _as_text_spans(fn):
    """Lift a blocks extractor (payload → [str]) to the span-triple
    contract (payload → [(kind, text, media_ref)])."""
    def run(payload: str) -> list[tuple]:
        return [("text", block, None) for block in fn(payload)]
    return run


# The extract dispatch table — a format lands in the engine by
# registering here (the Tika auto-detect role,
# geoparser_app/views.py:125, resolved from the span's declared kind).
_SPAN_EXTRACTORS: dict = {
    "html": extract_html_blocks,  # emits (kind, text, media_ref) itself
    "pdf_bytes": extract_pdf_b64_spans,  # text + image-XObject media spans
    "docx_bytes": _as_text_spans(extract_docx_b64_text_blocks),
    "doc_bytes": _as_text_spans(extract_doc_b64_text_blocks),
    "pptx_bytes": _as_text_spans(extract_pptx_b64_text_blocks),
    "xlsx_bytes": _as_text_spans(extract_xlsx_b64_text_blocks),
    "xls_bytes": _as_text_spans(extract_xls_b64_text_blocks),
    "ppt_bytes": _as_text_spans(extract_ppt_b64_text_blocks),
    "epub_bytes": _as_text_spans(extract_epub_b64_text_blocks),
    "odt_bytes": _as_text_spans(extract_odt_b64_text_blocks),
    "rtf": _as_text_spans(extract_rtf_text_blocks),
    "eml": _as_text_spans(extract_eml_text_blocks),
    "xml": _as_text_spans(extract_xml_text_blocks),
    "csv": _as_text_spans(extract_csv_text_blocks),
    "image_bytes": extract_image_b64_spans,  # media span + embedded text
    "audio_bytes": extract_audio_b64_spans,  # media span + embedded tags
    "video_bytes": extract_video_b64_spans,  # media span + embedded tags
    "markdown": extract_markdown_spans,  # text blocks + image-link media spans
    # archive containers recurse into the same leaf extractors per
    # entry (Tika's RecursiveParserWrapper role) — see archive_text.py
    "zip_bytes": extract_zip_b64_spans,
    "tar_bytes": extract_tar_b64_spans,  # tar and tar.gz (r:* sniffs)
    "gz_bytes": extract_gz_b64_spans,
}


def extract_doc_spans_cols(kinds, texts, refs, offs, lo: int, hi: int) -> list[tuple]:
    """Pure-Python extract core over one document's spans, given as
    parallel flat columns sliced [lo, hi) the way the Arrow kernel
    reads them — no per-span dict allocation.  Returns the ordered
    output span tuples (kind, text, media_ref, order), ``order`` dense
    from 0.

    Deterministic; processes spans in ``offset`` order (offset is data,
    never implicit row order — SURVEY.md §4.2 ordering discipline).  The
    sort is stable, so spans with EQUAL offsets keep their input order,
    which is unspecified across a shuffle."""
    idx = sorted(range(lo, hi), key=lambda i: offs[i] if offs[i] is not None else 0)
    out: list[tuple] = []
    for i in idx:
        kind = kinds[i] or ""
        text = texts[i]
        media_ref = refs[i]
        fn = _SPAN_EXTRACTORS.get(kind)
        if fn is not None and text:
            out.extend(fn(text))
        elif kind == "text" and text:
            t = _norm_text(text)
            if t:
                out.append(("text", t, None))
        elif media_ref is not None and (kind in MEDIA_KINDS or not text):
            out.append((kind, None, media_ref))
        elif text:
            t = _norm_text(text)
            if t:
                out.append(("text", t, None))
    return [(k, t, m, i) for i, (k, t, m) in enumerate(out)]


def _extract_arrow_batches(passthrough: tuple[str, ...]):
    """mapInArrow kernel: decode the spans ListArray via its flat child
    columns (one C-loop to_pylist per column — no per-span Python dicts
    on either side of the boundary)."""
    import pyarrow as pa

    out_span_type = pa.list_(
        pa.struct(
            [
                ("kind", pa.string()),
                ("text", pa.string()),
                ("media_ref", pa.string()),
                ("order", pa.int32()),
            ]
        )
    )

    def kernel(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        for rb in batches:
            spans = rb.column(rb.schema.get_field_index("spans"))
            if isinstance(spans, pa.ChunkedArray):  # defensive; RBs are flat
                spans = spans.combine_chunks()
            lst = spans
            # element offsets into the flattened struct children; null
            # list slots may surface as None — carry the previous offset
            raw = lst.offsets.to_pylist()
            offsets: list[int] = []
            prev = 0
            for o in raw:
                if o is None:
                    o = prev
                offsets.append(o)
                prev = o
            structs = lst.values
            kinds = structs.field("kind").to_pylist()
            texts = structs.field("text").to_pylist()
            refs = structs.field("media_ref").to_pylist()
            offs = structs.field("offset").to_pylist()
            if lst.null_count:
                valid = lst.is_valid().to_pylist()
            else:
                valid = None
            results = [
                extract_doc_spans_cols(kinds, texts, refs, offs,
                                       offsets[i], offsets[i + 1])
                if valid is None or valid[i]
                else []
                for i in range(len(lst))
            ]
            arrays = [rb.column(rb.schema.get_field_index("doc_id"))]
            names = ["doc_id"]
            for c in passthrough:
                arrays.append(rb.column(rb.schema.get_field_index(c)))
                names.append(c)
            arrays.append(pa.array(results, type=out_span_type))
            names.append("spans")
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return kernel


def extract(docs: DataFrame, passthrough: tuple[str, ...] = ()) -> DataFrame:
    """docs(doc_id, spans[SPAN_IN]) → extracted(doc_id, spans[SPAN_OUT]).

    ``passthrough`` columns (e.g. chunk_id from
    plans.runtime.split_mega_docs) ride along unchanged.  Uses
    ``mapInArrow`` so the only per-span Python cost is the parse itself,
    not pandas/dict marshalling."""
    from pyspark.sql import types as T

    fields = [EXTRACTED["doc_id"]]
    fields += [docs.schema[c] for c in passthrough]
    fields.append(EXTRACTED["spans"])
    schema = T.StructType(fields)
    cols = ["doc_id", *passthrough, "spans"]
    return docs.select(*cols).mapInArrow(
        _extract_arrow_batches(tuple(passthrough)), schema=schema
    )


def extract_with_skew_split(docs: DataFrame, num_partitions: int,
                            max_spans: int = 64,
                            redistribute: str = "mega-only") -> DataFrame:
    """Skew-proof extract: mega-documents (the 0.1%-of-docs 100-1000x
    span-count fixture) are split into <= max_spans chunks BEFORE a
    rebalance on (doc_id, chunk_id), so no single task inherits a whole
    mega-doc; chunks are extracted independently and reassembled in
    chunk order.  This is the composition job.py / bench use (SURVEY.md
    §7 skew note).

    The rebalance is an AQE ``REBALANCE`` hint, not a fixed-count
    repartition: ``num_partitions`` is only its initial bucket count.
    At run time AQE merges partitions that are too small to pay for a
    Python task (each costs ~80 ms before its kernel runs) and splits
    skewed ones (``OptimizeSkewInRebalancePartitions``), so the number
    of extract tasks follows the bytes that reach the stage.

    ``redistribute="mega-only"`` (default) shuffles ONLY the mega-doc
    chunks: single-chunk docs — 99.9% of the corpus — extract where
    they sit (zero exchanges end-to-end: the rebalance AND the
    reassemble groupBy both apply to the 0.1% branch alone).  At 100 TB
    this converts two full-corpus shuffles into two 0.1%-sized ones;
    parallelism for the map branch comes from the source's own split
    planning (parquet scans split at maxPartitionBytes), which is the
    right lever at scale.  Measured at 20k docs/local[32]: 3.8 s →
    1.3 s (the full-corpus exchange alone was 2.3 s).  The price is a
    second pass over the source for the mega filter; scans are
    columnar + pushed-down and strictly cheaper than an exchange
    (write + read + row serialization) of the same bytes.

    ``redistribute="all"`` keeps the original single-branch shape for
    sources whose own partitioning is pathological (a handful of giant
    row-groups, heavily skewed file sizes) where the scan cannot
    provide parallelism and the up-front full shuffle is worth paying.
    """
    from pyspark.sql import functions as F

    from geoparser_spark.plans.runtime import reassemble_chunks, split_mega_docs

    if redistribute not in ("mega-only", "mega-only-strict", "all"):
        raise ValueError(
            "redistribute must be 'mega-only', 'mega-only-strict' or "
            f"'all', got {redistribute!r}")
    # adaptive guard: mega-only leans on the SOURCE for map parallelism,
    # which holds at target scale (a 100 TB scan yields thousands of
    # maxPartitionBytes splits per executor) but fails on small inputs
    # whose files the scan packs into a handful of fat splits
    # (openCostInBytes coalescing) — there the full rebalance is
    # cheap and buys back task-granularity load balancing, so fall back
    # WITH a log line (callers that must pin the zero-shuffle plan pass
    # "mega-only-strict").
    if redistribute == "mega-only":
        n_src = docs.rdd.getNumPartitions()
        if n_src < max(2, num_partitions // 2):
            import logging

            logging.getLogger(__name__).warning(
                "extract_with_skew_split: source provides only %d scan "
                "partitions for %d requested — falling back to "
                "redistribute='all' (pass 'mega-only-strict' to pin "
                "the zero-shuffle plan)", n_src, num_partitions)
            redistribute = "all"
    elif redistribute == "mega-only-strict":
        redistribute = "mega-only"
    if redistribute == "all":
        chunks = split_mega_docs(docs, max_spans).hint(
            "rebalance", num_partitions, "doc_id", "chunk_id")
        return reassemble_chunks(extract(chunks, passthrough=("chunk_id",)))
    # singles skip the chunking machinery entirely: n_chunks == 1 iff
    # size(spans) <= max_spans (F.size is -1 for NULL — still single),
    # and the extract kernel itself processes spans in offset order, so
    # the split's pre-sort adds nothing for an unsplit doc.  (Relative
    # order of EQUAL offsets is unspecified either way — the documented
    # stable-sort caveat on extract_doc_spans_cols.)
    singles = docs.where(F.size("spans") <= max_spans)
    mega = (
        split_mega_docs(docs.where(F.size("spans") > max_spans), max_spans)
        .hint("rebalance", num_partitions, "doc_id", "chunk_id")
    )
    ex_mega = reassemble_chunks(extract(mega, passthrough=("chunk_id",)))
    return extract(singles).unionByName(ex_mega)
