"""Seeded inputs for the workloads.

Every generator is a pure function of its seed and writes plain parquet
with pyarrow, so corpus generation never runs on
the engine under test and stays out of every timed window.  Each
generator also returns its golden output, derived from the generator's
own ground truth, never from the engine.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from geoparser_spark.testing.corpus import generate_doc

DOCS_SCHEMA = pa.schema([
    pa.field("doc_id", pa.string(), nullable=False),
    pa.field("spans", pa.list_(pa.struct([
        ("kind", pa.string()), ("text", pa.string()),
        ("media_ref", pa.string()), ("offset", pa.int32())]))),
])
EXTRACTED_SCHEMA = pa.schema([
    pa.field("doc_id", pa.string(), nullable=False),
    pa.field("spans", pa.list_(pa.struct([
        ("kind", pa.string()), ("text", pa.string()),
        ("media_ref", pa.string()), ("order", pa.int32())]))),
])
GEOTAGGED_SCHEMA = pa.schema([
    pa.field("doc_id", pa.string(), nullable=False),
    pa.field("locations", pa.list_(pa.struct([
        ("name", pa.string()), ("latitude", pa.float64()),
        ("longitude", pa.float64()), ("geonameid", pa.int64()),
        ("is_primary", pa.bool_()), ("score", pa.float64())]))),
])

_WORDS = (
    "ocean glacier research vessel survey expedition northern southern basin "
    "climate sediment camera station coastal satellite measured reported team "
    "harbor winter summer route traffic market festival museum river bridge"
).split()

# big_gazetteer_df's name syllables: the map corpus reuses its shape
_SYLL_A = ("bran", "cold", "dun", "east", "fair", "grim", "hazel", "iron",
           "jade", "kiln", "long", "mill")
_SYLL_B = ("field", "ford", "gate", "holm", "keep", "mark", "ness", "port",
           "stead", "ton", "vale", "wick")


def write_parquet(rows: list[dict], schema: pa.Schema, out_dir: str,
                  n_files: int) -> None:
    """Write ``rows`` as ``n_files`` parquet files of contiguous slices,
    so the engine's scan sees a multi-file crawl index."""
    os.makedirs(out_dir, exist_ok=True)
    per = -(-len(rows) // n_files)
    for f in range(n_files):
        part = rows[f * per:(f + 1) * per]
        if part:
            pq.write_table(pa.Table.from_pylist(part, schema=schema),
                           os.path.join(out_dir, f"part-{f:05d}.parquet"))


def crawl_corpus(seed: int, n_docs: int, out_dir: str, n_files: int,
                 mega_every: int, mega_factor: int) -> tuple[dict, int]:
    """The crawled-index format mix of ``testing.corpus.generate_doc``;
    returns (doc_id -> golden (kind, text, media_ref) span sequence,
    number of input spans)."""
    docs, golden = [], {}
    for i in range(n_docs):
        doc, expected = generate_doc(i, seed, mega_every, mega_factor)
        docs.append(doc)
        golden[doc["doc_id"]] = [(s["kind"], s["text"], s["media_ref"])
                                 for s in expected["spans"]]
    write_parquet(docs, DOCS_SCHEMA, out_dir, n_files)
    return golden, sum(len(d["spans"]) for d in docs)


def _mention_sentence(rng: random.Random, names: list[str],
                      p_mention: float) -> str:
    words = [rng.choice(_WORDS) for _ in range(rng.randint(5, 9))]
    if rng.random() < p_mention:
        for _ in range(rng.randint(1, 2)):
            words.insert(rng.randrange(len(words) + 1), rng.choice(names))
    s = " ".join(words)
    return s[0].upper() + s[1:] + "."


def text_docs(seed: int, n_docs: int, names: list[str],
              p_mention: float = 0.85, prefix: str = "doc") -> list[dict]:
    """Text-only documents (extract is a passthrough on them) whose
    sentences mostly mention a place from ``names``."""
    docs = []
    for i in range(n_docs):
        rng = random.Random(f"text:{seed}:{i}")
        spans = []
        for o in range(rng.randint(2, 4)):
            para = " ".join(_mention_sentence(rng, names, p_mention)
                            for _ in range(rng.randint(3, 5)))
            spans.append({"kind": "text", "text": para, "media_ref": None,
                          "offset": o})
        docs.append({"doc_id": f"{prefix}-{i:08d}", "spans": spans})
    return docs


def text_golden(docs: list[dict]) -> dict[str, list]:
    """Golden extract output of text-only docs: whitespace-normalized
    passthrough in offset order."""
    return {d["doc_id"]: [("text", " ".join(s["text"].split()), None)
                          for s in sorted(d["spans"], key=lambda s: s["offset"])]
            for d in docs}


def synthetic_places(n: int, first_id: int = 20_000_000) -> list[dict]:
    """``big_gazetteer_df``-shaped places (two-token names, PPL/PPLA,
    60 countries) as gazetteer rows, built in Python for the map corpus."""
    rows = []
    for i in range(n):
        name = (_SYLL_A[i % 12] + _SYLL_B[(i // 12) % 12]).capitalize() \
            + f" {i % 9973}"
        rows.append(dict(
            geonameid=first_id + i, name=name, asciiname=name,
            alternatenames=None,
            latitude=round((i * 0.137) % 170.0 - 85.0, 5),
            longitude=round((i * 0.291) % 360.0 - 180.0, 5),
            feature_class="P", feature_code="PPLA" if i % 50 == 0 else "PPL",
            country_code=f"C{i % 60}", admin1_code=f"0{i % 7}",
            admin2_code=None, population=(i * 7919) % 1_000_000,
            timezone=None))
    return rows


def read_gazetteer_tsv(path: str) -> list[dict]:
    """Parse an allCountries.txt-layout TSV (file or directory of part
    files) the way the engine's reader types it: empty strings are
    NULL, a missing population is 0."""
    files = [path] if os.path.isfile(path) else sorted(
        os.path.join(path, f) for f in os.listdir(path)
        if not f.startswith((".", "_")))
    rows = []
    for fp in files:
        with open(fp, encoding="utf-8") as f:
            for line in f:
                c = line.rstrip("\n").split("\t")
                rows.append(dict(
                    geonameid=int(c[0]), name=c[1] or None,
                    asciiname=c[2] or None, alternatenames=c[3] or None,
                    latitude=float(c[4]), longitude=float(c[5]),
                    feature_class=c[6] or None, feature_code=c[7] or None,
                    country_code=c[8] or None, admin1_code=c[10] or None,
                    admin2_code=c[11] or None,
                    population=int(c[14]) if c[14] else 0,
                    timezone=c[17] or None))
    return rows
