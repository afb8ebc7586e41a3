"""Geotag stage: gazetteer-driven location extraction + resolution.

Replaces the reference's per-document HTTP chain
(Django → Tika GeoTopicParser → OpenNLP NER → lucene-geo-gazetteer,
reference: geoparser_app/views.py:146,357-402, ~0.6 docs/sec) with one
Arrow kernel per batch of documents.  ``geotag`` runs
``surface_index.tag_texts`` over ``doc_texts``: one ``mapInArrow``
stage that probes a compact gazetteer index (flat numpy arrays built
once per gazetteer input, shipped with ``addFile``, memory-mapped by
the workers) and tags each document in one pass over its tokens.  No
explode, no join, no shuffle; a ``rebalance`` hint sizes the output
files.

Semantics (the kernel implements them; the JVM operators below spell
them out as Spark plans and serve as the test oracle and as geobench's
traced probe):

  1. ``build_surface_forms``  gazetteer → (surface, n_tokens, candidate)
     rows: name, asciiname and each alternatename, normalized like
     document text (``normalize_text``), 1..MAX_NGRAM tokens, one row
     per (surface, geonameid).
  2. ``candidate_mentions``   every n-gram (n ≤ MAX_NGRAM) of the
     normalized document text that equals a surface is a mention;
     longest-match-wins: a mention contained in a strictly longer one
     is dropped ("Pasadena Texas" would otherwise also fire "Pasadena"
     + "Texas"; with no 2-gram surface both singles survive — reference
     behavior per README.md:69-82).
  3. ``resolve_mentions``     admin-hierarchy disambiguation scoring:
     co-mentioned country (+3) / admin1 (+2) among the candidates of
     the doc's kept mentions, feature-code weight, log10(population+1)/10
     tiebreak; the winner per mention by (score DESC, geonameid ASC).
     Replaces the reference's naive Lucene top-hit (README.md:69-82
     resolves "Texas" to a village in Tabasco, MX — we pin that case
     both ways in tests).
  4. ``select_primary``       entities ranked by (mention count DESC,
     name ASC, geonameid ASC); the first is primary — GeoTopicParser's
     Geographic_NAME vs Optional_NAME{i} contract (reference:
     README.md:98-115, views.py:98-111).  Each location carries its
     entity's best score.  Documents without a mention are dropped.

Determinism: every ranking orders on explicit data columns incl.
geonameid, never on row order (SURVEY.md §4.2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from geoparser_spark.operators.surface_index import (
    CLASS_WEIGHTS,
    MAX_NGRAM,
    tag_texts,
)


def normalize_text(col: Column) -> Column:
    """Lower-case, strip everything but letters/digits, collapse runs.

    Mirrors the reference's punctuation scrub
    (geoparser_app/views.py:114-116) as a native expression."""
    return F.trim(F.lower(F.regexp_replace(col, r"[^\p{L}\p{N}]+", " ")))


def doc_texts(extracted: DataFrame) -> DataFrame:
    """extracted(doc_id, spans) → (doc_id, text): concat of text spans
    in span order.  Native: filter/transform/array_join."""
    return extracted.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.filter("spans", lambda s: s["kind"] == F.lit("text")),
                lambda s: s["text"],
            ),
            " ",
        ).alias("text"),
    )


def build_surface_forms(gazetteer: DataFrame, max_tokens: int = MAX_NGRAM) -> DataFrame:
    """Gazetteer → one row per (surface form, candidate place).

    Surfaces = name + asciiname + each alternatename, normalized the
    same way as document text.  Filtered to 1..max_tokens tokens so the
    n-gram join is bounded."""
    surfaces = gazetteer.select(
        F.explode(
            F.array_union(
                F.array(F.col("name"), F.col("asciiname")),
                F.split(F.coalesce(F.col("alternatenames"), F.lit("")), ","),
            )
        ).alias("raw_surface"),
        "geonameid", "name", "latitude", "longitude",
        "feature_class", "feature_code", "country_code", "admin1_code",
        "population",
    )
    surfaces = surfaces.withColumn("surface", normalize_text("raw_surface"))
    surfaces = surfaces.where(F.col("surface") != "")
    surfaces = surfaces.withColumn("n_tokens", F.size(F.split("surface", " ")))
    surfaces = surfaces.where(F.col("n_tokens") <= max_tokens)
    return surfaces.drop("raw_surface").dropDuplicates(["surface", "geonameid"])


def _token_ctx_expr(max_n: int) -> Column:
    """tokens array → array<struct<pos, t0, t1, t2>>: each position with
    its next max_n-1 tokens (NULL past the end).  One generator pass,
    no string concatenation — n-gram verification happens against the
    pre-split surface tokens inside the join condition instead."""
    fields = ["i AS pos", "tokens[i] AS t0"] + [
        f"IF(i + {k} < size(tokens), tokens[i + {k}], CAST(NULL AS STRING)) AS t{k}"
        for k in range(1, max_n)
    ]
    typ = ",".join(["pos:INT", "t0:STRING"] + [f"t{k}:STRING" for k in range(1, max_n)])
    return F.expr(
        f"""CASE WHEN size(tokens) > 0 THEN
              transform(sequence(0, size(tokens) - 1),
                        i -> struct({", ".join(fields)}))
            ELSE CAST(array() AS array<struct<{typ}>>) END"""
    )


# Auto-selection budget between the broadcast tag join and its shuffled
# escape hatch, in SURFACE ROWS.  Sizing: a projected surface row
# (surface string + n_tokens + the candidate payload) serializes to
# ~100-150 B; 5M rows ≈ 0.5-0.75 GB — comfortably under the 8 GB
# torrent-broadcast hard limit and the ~1-2 GB practical executor-heap
# budget, while the full 12M-surface GeoNames build (~1.5+ GB) tips to
# the shuffled plan.  Measured both sides at 12M synthetic surfaces in
# BENCH/GAZETTEER_SCALE.md; the cutover is pinned by a plan test.
BROADCAST_SURFACE_ROW_BUDGET = 5_000_000


def candidate_mentions(texts: DataFrame, surfaces: DataFrame,
                       max_n: int = MAX_NGRAM,
                       broadcast_surfaces: bool | str = True) -> DataFrame:
    """(doc_id, text) × surfaces → candidate rows
    (doc_id, pos, n, gram, <gazetteer candidate cols>).

    One token-context row per text position (NOT one row per 1..max_n
    n-gram — that tripled the explode and concatenated gram strings for
    every position; at 500k docs the n-gram variant burned ~3 ms/doc of
    JVM CPU in this stage).  The broadcast hash join keys on the FIRST
    token; the rest of the n-gram equality rides in the join condition
    against the pre-split surface tokens, so non-matching positions
    never allocate a gram string.  Map-only: the corpus side never
    shuffles.  Longest-match-wins then drops spans contained in a
    strictly longer match.

    ``broadcast_surfaces=False`` is the escape hatch for gazetteers
    whose projected surface table exceeds the executor broadcast budget
    (the full 12M-place GeoNames with all alternatenames): the SAME
    join runs shuffled on the first-token equi key with the n-gram
    equality as the residual condition — the corpus then shuffles once
    on t0, and hot first tokens (surface forms starting with common
    words) are AQE skew-join territory.  ``broadcast_surfaces="auto"``
    counts the surface table (a gazetteer-grain job, trivial next to
    the corpus scan) and picks the broadcast plan at or below
    BROADCAST_SURFACE_ROW_BUDGET rows, the shuffled plan above —
    measured both ways at 12M synthetic surfaces in
    BENCH/GAZETTEER_SCALE.md, cutover pinned by a plan test."""
    if broadcast_surfaces == "auto":
        broadcast_surfaces = surfaces.count() <= BROADCAST_SURFACE_ROW_BUDGET
    stoks = F.split(F.col("surface"), " ")
    surf = surfaces.select(
        "*",
        stoks.getItem(0).alias("s0"),
        *[
            F.when(F.col("n_tokens") >= k + 1, stoks.getItem(k)).alias(f"s{k}")
            for k in range(1, max_n)
        ],
    )
    toks = (
        texts.withColumn("tokens", F.split(normalize_text(F.col("text")), " "))
        .select("doc_id", F.explode(_token_ctx_expr(max_n)).alias("g"))
        .select("doc_id", "g.pos", *[f"g.t{k}" for k in range(max_n)])
    )
    n_match = surf["n_tokens"] == 1
    for n in range(2, max_n + 1):
        clause = surf["n_tokens"] == n
        for k in range(1, n):
            clause = clause & (toks[f"t{k}"] == surf[f"s{k}"])
        n_match = n_match | clause
    cond = (toks["t0"] == surf["s0"]) & n_match
    surf_side = F.broadcast(surf) if broadcast_surfaces else surf
    matched = (
        toks.join(surf_side, cond, "inner")
        .select(
            "doc_id", "pos",
            F.col("n_tokens").alias("n"),
            F.col("surface").alias("gram"),
            *[c for c in surfaces.columns if c not in ("surface", "n_tokens")],
        )
    )

    # Longest-match-wins: a span is dropped iff a strictly longer match
    # in the same doc contains it.  KEY BOUND: every surface has
    # n <= max_n tokens, so a container's start can only lie within
    # max_n-1 positions BEFORE the contained span's start.  That turns
    # containment into two bounded RANGE-frame window maxima sharing
    # ONE (doc_id) exchange + ONE pos sort:
    #   * same-pos frame [0, 0]: max span end among matches at this
    #     exact position — a strictly longer same-start match has a
    #     strictly larger end;
    #   * before frame [-(max_n-1), -1]: max span end among matches
    #     starting 1..max_n-1 positions earlier — end >= this span's
    #     end forces a strictly longer container (s.pos < m.pos with
    #     s.end >= m.end implies s.n > m.n).
    # Each frame covers at most max_n positions' worth of rows, so a
    # gazetteer-dense mega-doc costs O(m · max_n · dup_candidates)
    # in its (single, but linear) window task — replacing the previous
    # per-doc collected-array shadow filter whose exists() sweep was
    # O(m²) per doc (one 10^5-mention doc = 10^10 comparisons in one
    # task).  No per-doc array is materialized at all, which also
    # sidesteps the projection-collapse O(m³) traps the array form had
    # to document around (rejected shapes: self-join — recomputes the
    # candidate subtree per branch; per-row collect windows — O(m²)
    # per ROW).  Both frames share (partitionBy doc_id, orderBy pos),
    # so Catalyst plans them in a single WindowExec.
    end = F.col("pos") + F.col("n")
    w_same = Window.partitionBy("doc_id").orderBy("pos").rangeBetween(0, 0)
    out = matched.withColumn("_same_end", F.max(end).over(w_same))
    keep = F.col("_same_end") <= end
    if max_n > 1:
        # max_n == 1: every span is 1 token, no earlier start can
        # contain a later one — and rangeBetween(0, -1) would be an
        # invalid frame, so the before-check only exists for n-grams
        w_before = (
            Window.partitionBy("doc_id").orderBy("pos")
            .rangeBetween(-(max_n - 1), -1)
        )
        out = out.withColumn("_before_end", F.max(end).over(w_before))
        keep = keep & (F.coalesce(F.col("_before_end"), F.lit(-1)) < end)
    return out.where(keep).drop("_same_end", "_before_end")


def _class_weight() -> Column:
    expr: Column = F.lit(1.0)
    for code, w in reversed(CLASS_WEIGHTS):
        expr = F.when(F.col("feature_code") == code, F.lit(w)).otherwise(expr)
    return expr


def resolve_mentions(cands: DataFrame) -> DataFrame:
    """Disambiguate each mention to exactly one gazetteer entry.

    score = 3*country-co-mention + 2*admin1-co-mention
            + class_weight(feature_code) + log10(population+1)/10
    winner per (doc_id, pos, gram) by (score DESC, geonameid ASC)."""
    # Per-doc co-mention sets via a window collect_set — NOT self-joins
    # (joining `cands` against projections of itself would recompute the
    # candidate-generation subtree once per branch).
    doc_w = Window.partitionBy("doc_id")
    cc_set = F.collect_set(
        F.when(F.col("feature_code") == "PCLI", F.col("country_code"))
    ).over(doc_w)
    # NULL-strict ADM1 key: concat_ws silently drops NULL components, so
    # a candidate and an ADM1 row both with NULL admin1_code would
    # collapse to the bare country code and spuriously match — SQL
    # equality (a1.admin1_code = c.admin1_code) is never true on NULL,
    # and neither is this key.
    a1_key = F.when(
        F.col("country_code").isNotNull() & F.col("admin1_code").isNotNull(),
        F.concat_ws("|", "country_code", "admin1_code"),
    )
    a1_set = F.collect_set(
        F.when(F.col("feature_code") == "ADM1", a1_key)
    ).over(doc_w)
    scored = (
        cands.withColumn("_cc", cc_set).withColumn("_a1", a1_set)
        .withColumn(
            "score",
            F.when(F.array_contains(F.col("_cc"), F.col("country_code")), 3.0).otherwise(0.0)
            + F.when(
                (F.col("feature_code") != "ADM1")
                & F.array_contains(F.col("_a1"), a1_key),
                2.0,
            ).otherwise(0.0)
            + _class_weight()
            + F.log10(F.col("population") + 1) / 10.0,
        )
        .drop("_cc", "_a1")
    )
    w = Window.partitionBy("doc_id", "pos", "gram").orderBy(
        F.col("score").desc(), F.col("geonameid").asc()
    )
    return scored.withColumn("rn", F.row_number().over(w)).where("rn = 1").drop("rn")


def select_primary(resolved: DataFrame) -> DataFrame:
    """Most-frequent entity per doc is primary (deterministic tie-break
    on (name, geonameid)) — GeoTopicParser's best-entity contract
    (reference README.md:98-115; parser views.py:98-111)."""
    per_entity = resolved.groupBy(
        "doc_id", "geonameid", "name", "latitude", "longitude"
    ).agg(F.count("*").alias("mention_count"), F.max("score").alias("score"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("mention_count").desc(), F.col("name").asc(), F.col("geonameid").asc()
    )
    return per_entity.withColumn("rank", F.row_number().over(w)).withColumn(
        "is_primary", F.col("rank") == 1
    )


def geotag(extracted: DataFrame, gazetteer: DataFrame,
           max_n: int = MAX_NGRAM,
           broadcast_surfaces: bool | str = True) -> DataFrame:
    """Full stage: extracted docs → GEOTAGGED(doc_id, locations).

    locations are in rank order (mention count, name, geonameid), the
    first one primary.  The gazetteer index is built on the first call
    for a gazetteer input and reused while the input is unchanged.
    ``broadcast_surfaces`` is unused: the kernel has no join strategy
    to choose (the parameter stays for callers that pass it)."""
    return tag_texts(doc_texts(extracted), gazetteer, max_n)


def points(geotagged: DataFrame) -> DataFrame:
    """Flatten to one row per (doc, location) — the reference's 'points'
    list (geoparser_app/solr.py:216-235) as real rows, not a
    stringified blob."""
    loc = F.explode("locations").alias("loc")
    return geotagged.select("doc_id", loc).select(
        "doc_id",
        F.col("loc.name").alias("loc_name"),
        F.col("loc.latitude").alias("latitude"),
        F.col("loc.longitude").alias("longitude"),
        F.col("loc.geonameid").alias("geonameid"),
        F.col("loc.is_primary").alias("is_primary"),
    )
