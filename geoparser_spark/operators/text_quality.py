"""Text analysis for corpus curation: language ID, quality scoring,
token counting, document fingerprinting.

All native column expressions — no UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from geoparser_spark.operators.geotag import normalize_text

# deterministic stopword sets: top function words per language (public
# frequency lists).  Shared with the DuckDB oracle as DATA — the
# scoring formula itself is mirrored independently on both sides.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "it", "that", "was", "for",
           "on", "are", "as", "with", "his", "they", "at", "be", "this",
           "have", "from", "or", "had", "by", "not", "but", "what", "were",
           "when", "there"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "eine", "mit",
           "den", "von", "zu", "im", "auf", "des", "sich", "dem", "er", "es",
           "auch", "an", "als", "wie", "bei", "aus", "nach", "wird", "sind",
           "einer", "um"],
    "fr": ["le", "la", "les", "et", "des", "est", "un", "une", "que", "dans",
           "pour", "qui", "sur", "pas", "plus", "par", "avec", "au", "il",
           "ne", "se", "ce", "du", "elle", "sont", "mais", "ou", "nous",
           "comme", "aux"],
    "es": ["el", "la", "los", "las", "de", "que", "es", "un", "una", "por",
           "con", "para", "no", "se", "su", "al", "lo", "como", "mas",
           "pero", "sus", "le", "ya", "entre", "cuando", "todo", "esta",
           "ser", "son", "dos"],
    "it": ["il", "la", "di", "che", "e", "un", "una", "per", "con", "non",
           "sono", "del", "le", "si", "da", "in", "al", "dei", "nel",
           "alla", "come", "anche", "piu", "questo", "della", "gli", "ha",
           "ma", "lo", "se"],
    "pt": ["o", "a", "os", "as", "de", "que", "um", "uma", "para", "com",
           "nao", "por", "no", "na", "se", "do", "da", "em", "mais", "foi",
           "como", "mas", "ao", "ele", "das", "tem", "seu", "sua", "ou",
           "ser"],
    "nl": ["de", "het", "een", "van", "en", "in", "is", "dat", "op", "te",
           "zijn", "met", "voor", "niet", "aan", "er", "ook", "als", "bij",
           "maar", "om", "dan", "zij", "nog", "wordt", "door", "naar",
           "heeft", "worden", "deze"],
    "sv": ["och", "det", "att", "i", "en", "som", "ar", "av", "pa", "for",
           "med", "den", "till", "inte", "om", "ett", "han", "men", "var",
           "sig", "fran", "vi", "sa", "kan", "nar", "har", "ska", "vid",
           "mot", "du"],
}


def _tokens(text_col: str) -> Column:
    return F.split(normalize_text(F.col(text_col)), " ")


def token_count(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Whitespace tokens + a BPE-ish unit count (word pieces and
    punctuation both count, the usual ~chars/4 proxy)."""
    return docs.select(
        F.col(id_col),
        F.size(_tokens(text_col)).alias("n_tokens"),
        *_token_count_exprs(text_col),
    )


def _token_count_exprs(text_col: str) -> list[Column]:
    """The non-normalized count columns — shared by token_count and
    all_signals (n_tokens comes from _quality_exprs there)."""
    return [
        F.size(
            F.split(F.col(text_col), r"\s+")
        ).alias("n_whitespace_tokens"),
        (F.length(text_col) / 4).cast("int").alias("n_bpe_est"),
    ]


def stopword_hits(text_col: str, lang: str) -> Column:
    stops = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(_tokens(text_col), lambda t: F.array_contains(stops, t)))


def _lang_struct(text_col: str) -> Column:
    """struct(lang_pred, stopword_hits) as ONE two-level bound
    expression: the token array is evaluated once (outer binding) and
    the 8 per-language hit counts once (inner binding) — referencing
    per-language hits as separate named columns re-evaluates
    split(normalize(text)) per language (8x per row; measured 1.71 s
    -> see bench for the bound form).  Deterministic tie-break: first
    language in en<de<es alphabetical order wins; 'und' when no
    stopwords hit."""
    langs = sorted(STOPWORDS)
    toks = _tokens(text_col)

    def contains(stops):
        return lambda t: F.array_contains(stops, t)

    def hits_body(tk):
        fields = []
        for lang in langs:
            stops = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
            fields.append(
                F.size(F.filter(tk, contains(stops))).alias(f"h_{lang}"))
        return F.struct(*fields)

    def pick_body(h):
        best = F.greatest(*[h[f"h_{l}"] for l in langs])
        lang_expr = F.lit("und")
        for lang in reversed(langs):
            lang_expr = F.when(
                (best > 0) & (h[f"h_{lang}"] == best), F.lit(lang)
            ).otherwise(lang_expr)
        return F.struct(lang_expr.alias("lang_pred"),
                        best.alias("stopword_hits"))

    hits = F.transform(F.array(toks), hits_body)[0]
    return F.transform(F.array(hits), pick_body)[0]


def language_id(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Stopword-ratio language ID with deterministic tie-break (first
    language in en<de<es<fr alphabetical order wins ties; 'und' =
    undetermined when no stopwords hit)."""
    p = _lang_struct(text_col)
    return docs.select(
        F.col(id_col),
        p["lang_pred"].alias("lang_pred"),
        p["stopword_hits"].alias("stopword_hits"),
    )


def quality_score(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Deterministic quality features + a composite score:
    length, punctuation ratio, stopword ratio, mean word length.
    Mirrors the usual curation heuristics (C4/Gopher-style rules)."""
    return docs.select(F.col(id_col), *_quality_exprs(text_col))


def _quality_exprs(text_col: str) -> list[Column]:
    """The aliased quality columns — shared by quality_score and
    all_signals."""
    n_chars = F.length(F.col(text_col))
    n_punct = n_chars - F.length(F.regexp_replace(F.col(text_col), r"[\.,;:!\?]", ""))
    toks = _tokens(text_col)
    n_tokens = F.size(toks)
    stops = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stops, t)))
    mean_wlen = (F.length(normalize_text(F.col(text_col))) - (n_tokens - 1)) / n_tokens
    punct_ratio = n_punct / F.greatest(n_chars, F.lit(1))
    stop_ratio = n_stop / F.greatest(n_tokens, F.lit(1))
    score = (
        F.when(n_tokens >= 10, 1.0).otherwise(0.0)
        + F.when((punct_ratio > 0.001) & (punct_ratio < 0.2), 1.0).otherwise(0.0)
        + F.when(stop_ratio > 0.02, 1.0).otherwise(0.0)
        + F.when((mean_wlen > 2.5) & (mean_wlen < 12), 1.0).otherwise(0.0)
    )
    return [
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(mean_wlen, 6).alias("mean_word_len"),
        score.alias("quality_score"),
    ]


def _repetition_struct(text_col: str):
    """Packed (dup_sent_frac, dup_2gram_frac, dup_3gram_frac) struct —
    shared by repetition_signals and all_signals.  Every array is a
    bound lambda variable: dup_frac references its array three times,
    and a derived expression there would evaluate three times per
    doc."""
    sent_sql = (
        f"""split(regexp_replace({text_col}, '([.!?])\\\\s+', '$1\\u001F'),
            '\\u001F')"""
    )
    norm_sql = (
        f"split(trim(lower(regexp_replace({text_col},"
        f" '[^\\\\p{{L}}\\\\p{{N}}]+', ' '))), ' ')"
    )

    def grams(n: int) -> str:
        return f"""CASE WHEN size(toks) >= {n} THEN
              transform(sequence(0, size(toks) - {n}),
                        i -> array_join(slice(toks, i + 1, {n}), ' '))
            ELSE CAST(array() AS array<string>) END"""

    dup_frac = (
        "CASE WHEN size({a}) > 0 THEN "
        "1.0 - CAST(size(array_distinct({a})) AS DOUBLE) / size({a}) "
        "ELSE 0.0 END"
    )
    # every array is a bound lambda variable: dup_frac references its
    # array three times, and a derived expression there would evaluate
    # three times per doc
    return F.expr(
        f"""transform(array({norm_sql}), toks ->
              transform(array({sent_sql}), sents ->
                transform(array({grams(2)}), g2 ->
                  transform(array({grams(3)}), g3 ->
                    struct(
                      {dup_frac.format(a='sents')} AS dup_sent_frac,
                      {dup_frac.format(a='g2')} AS dup_2gram_frac,
                      {dup_frac.format(a='g3')} AS dup_3gram_frac
                    ))[0])[0])[0])[0]"""
    )


def repetition_signals(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Gopher-style within-document repetition ratios: the fraction of
    duplicate sentences and duplicate token 2-/3-grams.  High values
    mark template/spam/keyword-stuffed pages.  All O(tokens) native
    expressions — the token and gram arrays are bound as lambda
    variables (the projection-collapse discipline), no UDFs, no
    shuffle."""
    return docs.select(
        F.col(id_col), _repetition_struct(text_col).alias("p")
    ).select(
        id_col,
        F.round("p.dup_sent_frac", 6).alias("dup_sent_frac"),
        F.round("p.dup_2gram_frac", 6).alias("dup_2gram_frac"),
        F.round("p.dup_3gram_frac", 6).alias("dup_3gram_frac"),
    )


def fingerprint(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", shingle: int = 8) -> DataFrame:
    """Document fingerprints:
      * md5 of the normalized text (exact-content identity), and
      * min-shingle fingerprint: lexicographic min of md5 over 8-token
        shingles (a deterministic rolling-window fingerprint; robust to
        local edits, the winnowing idea with w=∞)."""
    # One nested higher-order expression: the normalized text and its
    # token array are bound as lambda VARIABLES, evaluated once per row.
    # Leaving them as derived withColumn columns lets Catalyst's
    # projection collapse inline the normalization into every shingle
    # leg — a per-shingle recompute of the regex (the same blowup
    # measured and fixed in dedup.minhash_signatures; 2.1 s -> <0.5 s
    # on the bench slot for this operator).
    return docs.select(
        F.col(id_col), _fingerprint_struct(text_col, shingle).alias("p")
    ).select(id_col, "p.md5_fp", "p.min_shingle_fp")


def _fingerprint_struct(text_col: str, shingle: int = 8):
    """Packed (md5_fp, min_shingle_fp) struct — shared by fingerprint
    and all_signals; normalized text and token array are bound lambda
    variables (projection-collapse discipline, see fingerprint)."""
    norm_sql = (
        f"trim(lower(regexp_replace({text_col},"
        f" '[^\\\\p{{L}}\\\\p{{N}}]+', ' ')))"
    )
    return F.expr(
        f"""transform(array({norm_sql}), nrm ->
              transform(array(split(nrm, ' ')), toks ->
                struct(
                  md5(nrm) AS md5_fp,
                  CASE WHEN size(toks) >= {shingle} THEN
                    array_min(transform(sequence(0, size(toks) - {shingle}),
                      i -> md5(array_join(slice(toks, i + 1, {shingle}), ' '))))
                  ELSE md5(nrm) END AS min_shingle_fp))[0])[0]"""
    )


def compression_signal(docs: DataFrame, level: int = 6,
                       text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Compression-ratio quality signal (the C4/RefinedWeb-family
    boilerplate detector: machine-generated or highly repetitive text
    compresses far below natural prose).

    The one text signal here that genuinely needs Python — Spark has
    no SQL compress — so it runs as an Arrow-batched ``mapInPandas``
    kernel (zlib is a fixed public algorithm: same bytes in, same
    compressed length out, on every executor and in the pure-Python
    oracle replica).  Map-only: no shuffle, scan prunes to (id, text);
    zlib streams at tens of MB/s/core, so at 100 TB this is
    embarrassingly parallel and bounded by the scan.

    Columns: n_bytes (UTF-8), n_compressed (zlib at ``level``),
    compression_ratio = n_compressed / max(n_bytes, 1) — the division
    runs JVM-side on the two exact ints, one IEEE op on both engines.
    """
    import zlib
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("doc_id", docs.schema[id_col].dataType, False),
        T.StructField("n_bytes", T.IntegerType(), False),
        T.StructField("n_compressed", T.IntegerType(), False),
    ])

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            raw = [(t if isinstance(t, str) else "").encode("utf-8")
                   for t in pdf[text_col]]
            yield pd.DataFrame({
                "doc_id": pdf[id_col],
                "n_bytes": [len(b) for b in raw],
                "n_compressed": [len(zlib.compress(b, level)) for b in raw],
            })

    sized = docs.select(id_col, text_col).mapInPandas(kernel, schema=schema)
    return sized.select(
        "doc_id", "n_bytes", "n_compressed",
        (F.col("n_compressed").cast("double")
         / F.greatest(F.col("n_bytes"), F.lit(1)).cast("double")
         ).alias("compression_ratio"),
    )


def unicode_normalize(docs: DataFrame, form: str = "NFKC",
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Unicode normalization + control-character scrub — the cleanup
    pass real corpora need before tokenization (fullwidth forms,
    compatibility ligatures, zero-width joiners from scraped HTML).

    NFKC-normalize, drop Cc/Cf control/format characters (keeping
    \\n and \\t), collapse whitespace runs.  Spark has no SQL Unicode
    normalizer, so this is the second Arrow-batched Python kernel
    (zlib's sibling): map-only, no shuffle, scan pruned to (id, text).
    unicodedata implements the published Unicode tables, so engine
    and pure-Python oracle are the same algorithm by construction.

    Output: (doc_id, clean_text, n_chars_in, n_chars_out, changed).
    """
    import unicodedata
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("doc_id", docs.schema[id_col].dataType, False),
        T.StructField("clean_text", T.StringType(), False),
        T.StructField("n_chars_in", T.IntegerType(), False),
        T.StructField("n_chars_out", T.IntegerType(), False),
        T.StructField("changed", T.BooleanType(), False),
    ])

    def clean(t: str) -> str:
        norm = unicodedata.normalize(form, t)
        kept = "".join(
            ch for ch in norm
            if ch in "\n\t" or unicodedata.category(ch) not in ("Cc", "Cf")
        )
        return " ".join(kept.split())

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            raw = [(t if isinstance(t, str) else "") for t in pdf[text_col]]
            out = [clean(t) for t in raw]
            yield pd.DataFrame({
                "doc_id": pdf[id_col],
                "clean_text": out,
                "n_chars_in": [len(t) for t in raw],
                "n_chars_out": [len(t) for t in out],
                "changed": [a != b for a, b in zip(raw, out)],
            })

    return docs.select(id_col, text_col).mapInPandas(kernel, schema=schema)


def all_signals(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", shingle: int = 8) -> DataFrame:
    """EVERY expression-family signal in ONE projection — language ID,
    quality features, token counts, Gopher repetition ratios, content
    fingerprints — over a single (id, text) scan with zero exchanges.

    This is the production shape: running the five signal queries
    separately scans the corpus five times; at 100 TB the scan IS the
    cost, so the signal pass must be one map-only projection.  Each
    column reuses the exact builder its standalone operator uses
    (_lang_struct/_quality_exprs/_repetition_struct/
    _fingerprint_struct), so values are identical by construction.
    The zlib compression signal stays separate (it is a Python
    kernel, composable by chaining mapInPandas after this select)."""
    lang = _lang_struct(text_col)
    rep = _repetition_struct(text_col)
    fp = _fingerprint_struct(text_col, shingle)
    return docs.select(
        F.col(id_col),
        lang["lang_pred"].alias("lang_pred"),
        lang["stopword_hits"].alias("stopword_hits"),
        *_quality_exprs(text_col),
        *_token_count_exprs(text_col),
        F.round(rep["dup_sent_frac"], 6).alias("dup_sent_frac"),
        F.round(rep["dup_2gram_frac"], 6).alias("dup_2gram_frac"),
        F.round(rep["dup_3gram_frac"], 6).alias("dup_3gram_frac"),
        fp["md5_fp"].alias("md5_fp"),
        fp["min_shingle_fp"].alias("min_shingle_fp"),
    )
