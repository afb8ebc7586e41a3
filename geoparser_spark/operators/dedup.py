"""Deduplication operators for large-scale corpus curation.

Beyond the reference's feature set (its only dedup is unique (lat,lon)
pairs, geoparser_app/khooshe.py:71-77) — these are the standard
training-data-pipeline dedup family, all expressed Spark-native:

  * exact          — hash groupBy (one shuffle, map-side combine)
  * n-gram Jaccard — verified pairwise similarity on candidate subsets
  * MinHash + LSH  — shingle → minhash signature → banded bucket join;
                     only same-bucket pairs are verified (the scale
                     path: candidate generation is O(n·bands), never
                     O(n²))
  * SimHash        — 64-bit fingerprint, banded for near-dup buckets

Everything runs in whole-stage codegen (xxhash64 / transform /
aggregate); zero Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from geoparser_spark.operators.geotag import normalize_text


def tokens_col(text_col: str = "text") -> F.Column:
    return F.split(normalize_text(F.col(text_col)), " ")


def _ngrams_of(col_name: str, n: int) -> F.Column:
    """Distinct word n-grams of a token-array column — pure SQL."""
    return F.array_distinct(
        F.expr(
            f"""CASE WHEN size({col_name}) >= {n} THEN
                  transform(sequence(0, size({col_name}) - {n}),
                            i -> array_join(slice({col_name}, i + 1, {n}), ' '))
                ELSE CAST(array() AS array<string>) END"""
        )
    )


def exact_dedup(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups: one row per distinct text with the
    deterministic keeper (min id) and the duplicate count."""
    return docs.groupBy(text_col).agg(
        F.min(id_col).alias("keeper_id"),
        F.count("*").alias("dup_count"),
    )


def exact_dedup_hashed(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Scale path for exact dedup: group on md5(text), so the shuffle
    carries 16-byte digests instead of document bodies — at 100 TB the
    plain groupBy(text) moves the whole corpus through the exchange.
    Digest collision probability is ~n²/2^129; where that matters, join
    the winning groups back to verify byte equality."""
    return docs.groupBy(F.md5(F.col(text_col)).alias("text_md5")).agg(
        F.min(id_col).alias("keeper_id"),
        F.count("*").alias("dup_count"),
    )


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3, threshold: float = 0.5,
                        text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact pairwise n-gram Jaccard over (a small/filtered) docs set.
    O(n²) verification — the correctness baseline the LSH variants are
    judged against; callers pre-filter or use minhash_lsh_pairs at
    scale."""
    grams = docs.select(
        F.col(id_col).alias("id"),
        F.col(text_col),
    ).withColumn("toks", tokens_col(text_col)).select(
        "id", _ngrams_of("toks", n).alias("gs")
    ).where(F.size("gs") > 0)
    a = grams.select(F.col("id").alias("id_a"), F.col("gs").alias("gs_a"))
    b = grams.select(F.col("id").alias("id_b"), F.col("gs").alias("gs_b"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    return (
        pairs.withColumn(
            "jaccard",
            F.size(F.array_intersect("gs_a", "gs_b"))
            / F.size(F.array_union("gs_a", "gs_b")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_signatures(docs: DataFrame, n: int = 3, num_hashes: int = 32,
                       text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, shingles, sig: array<long>[num_hashes]) — minhash_i =
    min over shingles of xxhash64(shingle, i).  All native.

    The whole computation is ONE nested higher-order expression: the
    token array and the shingle array are bound as lambda VARIABLES
    (evaluated once per row).  Leaving them as derived columns lets
    Catalyst's projection collapse inline the tokenize+shingle
    expression into each of the num_hashes array_min legs — a
    num_hashes-fold recompute of the text normalization (measured 6.6s
    -> 1s on the bench query)."""
    norm_sql = (
        f"split(trim(lower(regexp_replace({text_col},"
        f" '[^\\\\p{{L}}\\\\p{{N}}]+', ' '))), ' ')"
    )
    grams_sql = f"""CASE WHEN size(toks) >= {n} THEN
          array_distinct(transform(sequence(0, size(toks) - {n}),
                    i -> array_join(slice(toks, i + 1, {n}), ' ')))
        ELSE CAST(array() AS array<string>) END"""
    mins = ", ".join(
        f"array_min(transform(sh, s -> xxhash64(s, {i}L)))"
        for i in range(num_hashes)
    )
    packed = F.expr(
        f"""transform(array({norm_sql}), toks ->
              transform(array({grams_sql}), sh ->
                struct(sh AS shingles, array({mins}) AS sig))[0])[0]"""
    )
    return (
        docs.select(F.col(id_col).alias("id"), packed.alias("p"))
        .select("id", "p.shingles", "p.sig")
        .where(F.size("shingles") > 0)
    )


def shingle_sets(docs: DataFrame, n: int = 3,
                 text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, shingles) — distinct word n-grams per doc, with the token
    array bound as a lambda VARIABLE (same projection-collapse
    discipline as minhash_signatures: a named derived column would be
    inlined into the per-shingle lambda, re-tokenizing per element)."""
    norm_sql = (
        f"split(trim(lower(regexp_replace({text_col},"
        f" '[^\\\\p{{L}}\\\\p{{N}}]+', ' '))), ' ')"
    )
    grams_sql = f"""CASE WHEN size(toks) >= {n} THEN
          array_distinct(transform(sequence(0, size(toks) - {n}),
                    i -> array_join(slice(toks, i + 1, {n}), ' ')))
        ELSE CAST(array() AS array<string>) END"""
    packed = F.expr(f"transform(array({norm_sql}), toks -> {grams_sql})[0]")
    return (
        docs.select(F.col(id_col).alias("id"), packed.alias("shingles"))
        .where(F.size("shingles") > 0)
    )


def minhash_lsh_pairs(docs: DataFrame, n: int = 3, num_hashes: int = 32,
                      bands: int = 8, threshold: float = 0.5,
                      text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """MinHash+LSH near-dup pairs, exact-verified.

    num_hashes/bands rows per band; two docs collide if ANY band of
    their signatures is identical; collisions are then verified with
    exact shingle Jaccard.  The candidate join is an equi-join on
    (band_idx, band_hash) carrying IDS ONLY — shingle arrays do not
    ride through the band explode (which would duplicate every doc's
    shingle payload x bands through the exchange).  After
    dropDuplicates on the id pair, each side's shingles are
    re-attached with an equi-join against a slim (id, shingles) table,
    so shingles cross exactly two exchanges at 1x instead of one at
    bands-x.  Shuffle stays proportional to docs, not pairs."""
    rows = num_hashes // bands
    sigs = minhash_signatures(docs, n, num_hashes, text_col, id_col)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.xxhash64(
                    *[F.col("sig")[b * rows + r] for r in range(rows)]
                ).alias("band_hash"),
            )
            for b in range(bands)
        ]
    )
    banded = sigs.select("id", F.explode(band_structs).alias("bd")) \
        .select("id", "bd.band_idx", "bd.band_hash")
    l = banded.select(F.col("id").alias("id_a"), "band_idx", "band_hash")
    r = banded.select(F.col("id").alias("id_b"), "band_idx", "band_hash")
    cand_ids = (
        l.join(r, ["band_idx", "band_hash"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    grams = shingle_sets(docs, n, text_col, id_col)
    cand = (
        cand_ids
        .join(grams.select(F.col("id").alias("id_a"),
                           F.col("shingles").alias("gs_a")), "id_a")
        .join(grams.select(F.col("id").alias("id_b"),
                           F.col("shingles").alias("gs_b")), "id_b")
    )
    return (
        cand.withColumn(
            "jaccard",
            F.size(F.array_intersect("gs_a", "gs_b"))
            / F.size(F.array_union("gs_a", "gs_b")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _sentence_lines(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, pos, line, key) — sentence split via an inserted marker (no
    lookbehind: the oracle engine's RE2 regexes must mirror the split
    exactly)."""
    marked_text = F.regexp_replace(F.col(text_col), r"([.!?])\s+", "$1\u001F")
    return docs.select(
        F.col(id_col),
        F.posexplode(F.split(marked_text, "\u001F")).alias("pos", "line"),
    ).withColumn("key", F.lower(F.trim(F.col("line"))))


def _rebuild_docs(marked: DataFrame, id_col: str) -> DataFrame:
    """(id, pos, line, keep) → (id, clean_text, n_kept, n_dropped):
    kept lines re-joined in original sentence order, as one per-doc
    aggregate (arrays materialize once — the projection-collapse trap
    documented in text_quality applies here too)."""
    return marked.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.filter(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("pos"),
                                F.col("keep"),
                                F.col("line"),
                            )
                        )
                    ),
                    lambda s: s["keep"],
                ),
                lambda s: s["line"],
            ),
            " ",
        ).alias("clean_text"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(F.col("keep"), 0).otherwise(1)).alias("n_dropped"),
    )


def line_dedup(docs: DataFrame, max_repeats: int = 2,
               text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Corpus-level line/sentence dedup (the C4 boilerplate rule: drop
    any line that occurs in more than ``max_repeats`` distinct
    documents — navigation chrome, legal footers, share buttons).

    Shape: explode sentences with position; per-line doc counts come
    from groupBy(key).agg(countDistinct(doc_id)) joined back to the
    line rows.  Per-key aggregate state is a COUNTER, never a
    materialized id set: the previous window formulation
    (collect_set(doc_id) over partitionBy(key)) built the full distinct
    set per ROW, so a boilerplate line present in 10^7 docs ("Home")
    held a 10^7-element set in one task — OOM at 100 TB.  Empty keys
    (which the keep rule drops unconditionally) are filtered out before
    counting, so the degenerate \'\'-key partition never aggregates at
    all.  The join back on the line key is skew-prone for exactly the
    heavy hitters, but each probe row only picks up one small count row
    (AQE skew-join splits it); :func:`line_dedup_cms` trades exactness
    for a broadcast map-only second pass behind the same API.

    Output: (doc_id, clean_text, n_kept, n_dropped)."""
    lines = _sentence_lines(docs, text_col, id_col)
    counts = (
        lines.where(F.length("key") > 0)
        .groupBy("key")
        .agg(F.countDistinct(F.col(id_col)).alias("n_docs"))
    )
    counted = lines.join(counts, "key", "left")
    marked = counted.withColumn(
        "keep",
        F.coalesce(F.col("n_docs") <= max_repeats, F.lit(False))
        & (F.length("key") > 0),
    )
    return _rebuild_docs(marked, id_col)


def line_freq_sketch(docs: DataFrame, depth: int = 4, width: int = 8192,
                     text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Count-min sketch of per-line DISTINCT-DOC frequencies.

    Output (d, bucket, cnt) has at most depth x width rows regardless
    of how many distinct lines exist — the bounded-state scale path for
    heavy-hitter boilerplate detection.  Bucket_d(key) =
    pmod(xxhash64(key, d), width); counts increment once per distinct
    (doc, key) pair (dropDuplicates first, which map-side-combines), so
    the sketch estimates doc frequency exactly like line_dedup's
    countDistinct, with one-sided (over-estimate) CMS error
    <= e/width * total_pairs at probability 1 - (1/e)^depth."""
    lines = _sentence_lines(docs, text_col, id_col)
    pairs = (
        lines.where(F.length("key") > 0)
        .select(F.col(id_col), "key")
        .dropDuplicates()
    )
    rows = pairs.select(
        # d rides as LONG: Spark's xxhash64 hashes IntegerType through
        # a 4-byte path the pure-Python oracle does not replicate
        "key",
        F.explode(F.array(*[F.lit(d).cast("long") for d in range(depth)])).alias("d"),
    )
    return (
        rows.groupBy(
            "d",
            F.pmod(F.xxhash64(F.col("key"), F.col("d")), F.lit(width))
             .alias("bucket"),
        )
        .agg(F.count("*").alias("cnt"))
    )


def line_dedup_cms(docs: DataFrame, max_repeats: int = 2,
                   depth: int = 4, width: int = 8192,
                   text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """line_dedup with the per-line doc counts estimated from a
    broadcast count-min sketch instead of an exact join on the line key.

    Why this is the 100 TB shape: the exact variant\'s join-back keys on
    the line text — the heavy hitters it exists to find are exactly the
    skewed join keys.  Here the corpus-sized side never shuffles at
    all after the sketch is built: the sketch (depth x width rows,
    ~128 KB at 4x8192) broadcasts, and the estimate is depth
    BroadcastHashJoins + least(), a purely map-side second pass.  CMS
    error is one-sided (over-estimates), so boilerplate is never
    missed; rare lines can be falsely dropped with probability bounded
    by the sketch dimensions.

    Same output contract as :func:`line_dedup`."""
    # The sketch is persisted (and materialized) before the estimate
    # joins: each sk_d filter below otherwise drives an INDEPENDENT
    # subtree — depth full corpus scans + depth distinct shuffles
    # instead of one (observed in the committed plan before this fix).
    # The cache is bounded at depth x width rows (~32 K at 4x8192);
    # release is still enforced via plans.caching like the big ones.
    from geoparser_spark.plans.caching import track

    sketch = track(line_freq_sketch(docs, depth, width, text_col, id_col))
    sketch.count()
    lines = _sentence_lines(docs, text_col, id_col)
    est_cols = []
    out = lines
    for d in range(depth):
        sk_d = (
            sketch.where(F.col("d") == d)
            .select(F.col("bucket").alias(f"b{d}"),
                    F.col("cnt").alias(f"c{d}"))
        )
        out = out.withColumn(
            f"b{d}",
            F.pmod(F.xxhash64(F.col("key"), F.lit(d).cast("long")),
                   F.lit(width))
        ).join(F.broadcast(sk_d), f"b{d}", "left")
        est_cols.append(F.coalesce(F.col(f"c{d}"), F.lit(0)))
    marked = out.withColumn(
        "keep",
        (F.least(*est_cols) <= max_repeats) & (F.length("key") > 0),
    )
    return _rebuild_docs(marked, id_col)


def simhash_col(text_col: str = "text", bits: int = 64) -> Column:
    """The SimHash fingerprint as a pure COLUMN expression — usable in
    any projection, batch or streaming.  See :func:`simhash` for the
    design notes."""
    norm_sql = (
        f"split(trim(lower(regexp_replace({text_col},"
        f" '[^\\\\p{{L}}\\\\p{{N}}]+', ' '))), ' ')"
    )
    bit_legs = ", ".join(
        f"""CASE WHEN 2 * aggregate(hs, 0,
                 (acc, h) -> acc + CAST(shiftright(h, {j}) & 1L AS INT))
                 > size(hs) THEN '1' ELSE '0' END"""
        for j in range(bits)
    )
    return F.expr(
        f"""transform(array(array_distinct({norm_sql})), toks ->
              transform(array(transform(toks, t -> xxhash64(t))), hs ->
                concat({bit_legs}))[0])[0]"""
    )


def simhash(docs: DataFrame, text_col: str = "text",
            id_col: str = "doc_id", bits: int = 64) -> DataFrame:
    """64-bit SimHash fingerprint per doc: each distinct token votes ±1
    on every bit of its xxhash64; fingerprint bit j is 1 iff the vote
    sum > 0 (equivalently: 2·ones_j > n_tokens).  Returned as
    (id, simhash: string of '0'/'1') plus 16-bit band keys for near-dup
    bucketing (Hamming-distance candidates).

    The whole signature is ONE nested higher-order expression per doc —
    the distinct-token hash array is bound as a lambda VARIABLE and each
    bit leg is an `aggregate` over it.  No explode, no groupBy: the
    previous formulation shuffled the corpus at TOKEN grain into a
    64-column aggregate — at 100 TB that shuffles ~#tokens rows; this
    one shuffles nothing."""
    out = docs.select(
        F.col(id_col).alias("id"),
        simhash_col(text_col, bits).alias("simhash"),
    )
    for band in range(4):
        out = out.withColumn(
            f"band{band}", F.substring("simhash", band * 16 + 1, 16)
        )
    return out


def simhash_near_dup_pairs(docs: DataFrame, max_hamming: int = 3,
                           text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Near-dup pairs whose SimHash Hamming distance <= max_hamming.
    Candidates share at least one of four 16-bit bands (pigeonhole:
    distance <= 3 guarantees a shared band); verified exactly."""
    fp = simhash(docs, text_col, id_col)
    # band index is part of the key (band0 == band1 of another doc is
    # not a real collision)
    banded = fp.select(
        "id", "simhash",
        F.posexplode(F.array(*[F.col(f"band{b}") for b in range(4)])).alias("bidx", "bk"),
    )
    l = banded.select(F.col("id").alias("id_a"), F.col("simhash").alias("sh_a"), "bidx", "bk")
    r = banded.select(F.col("id").alias("id_b"), F.col("simhash").alias("sh_b"), "bidx", "bk")
    cand = (
        l.join(r, ["bidx", "bk"]).where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b").dropDuplicates(["id_a", "id_b"])
    )
    # Hamming distance between two '0'/'1' strings, natively:
    ham = F.size(
        F.filter(
            F.zip_with(
                F.split("sh_a", ""), F.split("sh_b", ""),
                lambda x, y: x != y,
            ),
            lambda d: d,
        )
    )
    return cand.withColumn("hamming", ham).where(
        F.col("hamming") <= max_hamming
    ).select("id_a", "id_b", "hamming")


def levenshtein_pairs(docs: DataFrame, prefix_len: int = 80,
                      bucket: int = 64, max_dist: int = 8,
                      id_col: str = "doc_id", text_col: str = "text",
                      lang_col: str = "lang",
                      len_col: str = "n_chars",
                      n_parts: int | None = None) -> DataFrame:
    """Edit-distance near-dup pairs, banded so the self-join never goes
    all-pairs: candidates must share a language and sit in the same or
    adjacent length bucket (floor(n_chars / bucket)) — near-dups by
    construction have near-equal lengths, so banding loses only pairs
    whose lengths differ by >= `bucket` chars, which a `max_dist`-edit
    pair cannot (choose bucket > max_dist).

    Shape at scale: the left side explodes to 2 bucket keys (b, b+1),
    the right side stays at 1, so the equi-join shuffle carries 3x the
    PREFIX payload (first `prefix_len` chars only, never the body) at
    (lang, bucket) grain.  Orientation is encoded IN the join
    condition — same-bucket pairs require id_l < id_r, adjacent-bucket
    pairs match exactly once by construction — so no pair is ever
    emitted twice and there is NO dedup aggregation (the naive
    dropDuplicates shuffles and sorts every candidate with both prefix
    payloads).  levenshtein runs threshold-banded (Spark's 3-arg form:
    O(max_dist * len) early-exit DP, -1 past the bound, the true
    distance within it — identical results to the unbounded form
    filtered at max_dist).  Within-bucket density is the skew knob:
    shrink `bucket` (or add a first-token band) if a bucket outgrows a
    task.

    Emits canonical (id_a < id_b) pairs with the prefix edit distance.
    """
    base = docs.select(
        F.col(id_col).alias("id"),
        F.col(lang_col).alias("lang"),
        F.expr(f"{len_col} div {bucket}").alias("b0"),
        F.substring(text_col, 1, prefix_len).alias("prefix"),
    )
    left = base.select(
        F.col("id").alias("id_l"), F.col("lang").alias("lang_l"),
        F.explode(F.array(
            F.struct(F.col("b0").alias("bkt"), F.lit(False).alias("adj")),
            F.struct((F.col("b0") + 1).alias("bkt"), F.lit(True).alias("adj")),
        )).alias("e"),
        F.col("prefix").alias("p_l"),
    ).select("id_l", "lang_l", F.col("e.bkt").alias("bkt"),
             F.col("e.adj").alias("adj"), "p_l")
    # the quadratic DP work rides the LEFT side's partitioning (the
    # join is broadcast/equi, no pair-grain exchange): a small input's
    # scan splits would bottleneck 32 cores on 2 tasks, so spread the
    # (tiny, prefix-only) exploded rows across the cluster first
    left = left.repartition(
        n_parts or docs.sparkSession.sparkContext.defaultParallelism)
    right = base.select(
        F.col("id").alias("id_r"), F.col("lang").alias("lang_r"),
        F.col("b0").alias("b0_r"), F.col("prefix").alias("p_r"),
    )
    cand = left.join(
        right,
        (F.col("lang_l") == F.col("lang_r"))
        & (F.col("bkt") == F.col("b0_r"))
        # same bucket (adj=false): one orientation only; adjacent
        # bucket (adj=true): matches once by construction, any ids
        & (F.col("adj") | (F.col("id_l") < F.col("id_r"))),
    ).select(
        F.least("id_l", "id_r").alias("id_a"),
        F.greatest("id_l", "id_r").alias("id_b"),
        F.when(F.col("id_l") < F.col("id_r"), F.col("p_l"))
        .otherwise(F.col("p_r")).alias("p_a"),
        F.when(F.col("id_l") < F.col("id_r"), F.col("p_r"))
        .otherwise(F.col("p_l")).alias("p_b"),
    )
    dist = F.levenshtein("p_a", "p_b", threshold=max_dist)
    return (
        cand.withColumn("dist", dist)
        .where(F.col("dist") >= 0)
        .select("id_a", "id_b", "dist")
    )


def duplicated_window_fraction(docs: DataFrame, n: int = 50,
                               text_col: str = "text",
                               id_col: str = "doc_id",
                               persist_hashed: bool = True) -> DataFrame:
    """Exact-substring duplication signal (Lee et al., "Deduplicating
    Training Data Makes Language Models Better"): per doc, the
    fraction of its n-token rolling windows that occur MORE THAN ONCE
    in the whole corpus — the standard companion to MinHash in
    RefinedWeb/SlimPajama-style pipelines (near-dup removal first,
    then exact-substring pruning of boilerplate runs).

    Shape: window fingerprints are chained xxhash64 over the n token
    columns (curation._gram_hashes — no gram string is ever built);
    n_windows per doc is map-only (array size).  The honest cost is
    the corpus-frequency count: one explode + window-grain aggregate
    (shuffle ∝ total windows — this op IS token-grain by definition;
    the suffix-array formulation the paper uses needs a dedicated
    machine instead), then a window-grain left-semi re-probe rolled up
    per doc.  Within-doc repeats count toward the corpus frequency,
    exactly like the paper's suffix-array occurrence counts.

    Output: (id_col, n_windows, n_dup_windows, dup_fraction) — the
    fraction is one IEEE division of the two exact ints.

    ``persist_hashed`` (default on): the (id, window-hash array) table
    feeds THREE plan branches (n_windows size, the frequency
    aggregate, the re-probe side) and Spark does not dedupe common
    subplans — without it the tokenize+hash scan executes three times
    (the same class text_stats.tfidf_topk's persist_tf documents).
    The cache is corpus-×-windows sized; release is ENFORCED via
    plans.caching (caller's ``with released():`` scope, or the global
    scope drained by ``release_all()`` — see plans/caching.py).
    """
    from geoparser_spark.operators.curation import _gram_hashes
    from geoparser_spark.plans.caching import track

    hashed = docs.select(
        F.col(id_col),
        _gram_hashes(tokens_col(text_col), n).alias("_wh"),
    )
    if persist_hashed:
        hashed = track(hashed)
    wind = hashed.select(id_col, F.explode("_wh").alias("h"))
    dup = (wind.groupBy("h").agg(F.count(F.lit(1)).alias("freq"))
           .where(F.col("freq") > 1).select("h"))
    dup_per_doc = (
        wind.join(dup, "h", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_dup_windows"))
    )
    return (
        hashed.select(id_col, F.size("_wh").alias("n_windows"))
        .join(dup_per_doc, id_col, "left")
        .select(
            id_col,
            "n_windows",
            F.coalesce("n_dup_windows", F.lit(0)).cast("long")
            .alias("n_dup_windows"),
            (F.coalesce("n_dup_windows", F.lit(0)).cast("double")
             / F.greatest(F.col("n_windows"), F.lit(1)).cast("double"))
            .alias("dup_fraction"),
        )
    )


def lsh_band_index(docs: DataFrame, n: int = 3, num_hashes: int = 32,
                   bands: int = 8, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """The materializable LSH index of a corpus: (id, band_idx,
    band_hash) — the slim table minhash_lsh_pairs builds inline,
    exposed so continuous ingest can WRITE it once and probe new
    batches against it forever (see minhash_lsh_incremental).  Store
    it bucketed on (band_idx, band_hash) (plans/bucketing.py) and the
    probe join runs co-located with zero index-side shuffle."""
    rows = num_hashes // bands
    sigs = minhash_signatures(docs, n, num_hashes, text_col, id_col)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.xxhash64(
                    *[F.col("sig")[b * rows + r] for r in range(rows)]
                ).alias("band_hash"),
            )
            for b in range(bands)
        ]
    )
    return (sigs.select("id", F.explode(band_structs).alias("bd"))
            .select("id", "bd.band_idx", "bd.band_hash"))


def minhash_lsh_incremental(new_docs: DataFrame, index_bands: DataFrame,
                            corpus_docs: DataFrame, n: int = 3,
                            num_hashes: int = 32, bands: int = 8,
                            threshold: float = 0.5,
                            text_col: str = "text",
                            id_col: str = "doc_id") -> DataFrame:
    """Incremental near-dup: which docs of a NEW batch near-duplicate
    the EXISTING corpus — without recomputing anything corpus-side.
    The production shape for continuous ingest (the snapshot layer's
    append_dedup is the exact-hash version of this; here the batch is
    probed against a standing MinHash index).

    ``index_bands`` is the materialized lsh_band_index of the corpus;
    ``corpus_docs`` is only touched to re-derive shingles for the
    candidate ids (a semi-join-bounded slice: at low dup rates the
    verify side reads a sliver of the corpus; on Iceberg the id filter
    prunes by file stats).  Shuffle ∝ new batch × bands, never corpus.

    Returns (new_id, corpus_id, jaccard), threshold-verified.
    """
    new_bands = (lsh_band_index(new_docs, n, num_hashes, bands,
                                text_col, id_col)
                 .withColumnRenamed("id", "new_id"))
    cand_ids = (
        new_bands.join(index_bands.withColumnRenamed("id", "corpus_id"),
                       ["band_idx", "band_hash"])
        .select("new_id", "corpus_id")
        .dropDuplicates(["new_id", "corpus_id"])
    )
    new_grams = shingle_sets(new_docs, n, text_col, id_col)
    corpus_grams = shingle_sets(
        corpus_docs.join(
            cand_ids.select(F.col("corpus_id").alias(id_col)).distinct(),
            id_col, "left_semi"),
        n, text_col, id_col)
    cand = (
        cand_ids
        .join(new_grams.select(F.col("id").alias("new_id"),
                               F.col("shingles").alias("gs_n")), "new_id")
        .join(corpus_grams.select(F.col("id").alias("corpus_id"),
                                  F.col("shingles").alias("gs_c")),
              "corpus_id")
    )
    return (
        cand.withColumn(
            "jaccard",
            F.size(F.array_intersect("gs_n", "gs_c"))
            / F.size(F.array_union("gs_n", "gs_c")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("new_id", "corpus_id", "jaccard")
    )


def winnow_fingerprints(docs: DataFrame, k: int = 4, w: int = 5,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    algorithm): hash every k-token gram, slide a w-hash window, keep
    each window's minimum — the selected set is guaranteed to share a
    fingerprint with any other document containing a common run of
    k + w - 1 tokens, at ~2/(w+1) the density of keeping every gram.
    The min-shingle fingerprint in text_quality is this with w = ∞
    (one fingerprint per doc); this is the overlap-DETECTION variant
    (plagiarism/near-clone search by fingerprint equi-join).

    One bound-array expression per doc (gram hashes via chained
    xxhash64 — no gram string is built), window minima by slice +
    array_min, distinct, then a posexplode-free explode to
    (id, fp) rows — map-only until the caller's join/aggregate.
    Docs with fewer than k tokens emit no rows.
    """
    from geoparser_spark.operators.curation import _gram_hashes

    def windows(hs):
        m = F.size(hs)
        return F.when(
            m >= w,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), m - w),
                    lambda j: F.array_min(F.slice(hs, j + 1, w)),
                )
            ),
        ).otherwise(
            # fewer than w grams: the whole doc is one window
            F.when(m > 0, F.array(F.array_min(hs)))
            .otherwise(F.array().cast("array<bigint>"))
        )

    bound = F.transform(
        F.array(_gram_hashes(tokens_col(text_col), k)), windows)[0]
    return docs.select(
        F.col(id_col), F.explode(bound).alias("fp"))


def lsh_recall_matrix(corpus: DataFrame, planted_offset: int,
                      configs: list[tuple[int, int]],
                      thresholds: list[float], n: int = 3,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Recall of the banded MinHash join vs EXACT shingle Jaccard,
    swept over (num_hashes, bands) x threshold — banding is
    probabilistic by design, and this turns the miss rate into a
    measured matrix instead of an assumption (the multi-config big
    sibling of the single-point eval_lsh_recall query).

    ``corpus`` must hold base docs (id < planted_offset) plus, for
    each grade g >= 1, a degraded copy of base doc i at id
    i + g * planted_offset (the caller grades overlap by keeping a
    token prefix).  Ground truth for a (base, grade) pair is its
    exact shingle Jaccard; the pair counts as FOUND under a config
    when ANY band of the two signatures collides (the same collision
    rule minhash_lsh_pairs' candidate join uses, checked here with a
    per-pair 3-key equi-join on (base_id, band_idx, band_hash) so no
    cross-doc candidate blowup enters the recall measurement).

    Signatures are computed ONCE at max(num_hashes) and sliced per
    config — seed k of a 64-hash signature IS seed k of the 32-hash
    one, so the corpus is scanned a single time for every config.

    Returns (num_hashes, bands, threshold, n_truth, n_truth_found,
    recall) with recall = 1.0 when n_truth = 0 (vacuous).
    """
    for nh, bands in configs:
        # a (64, 24) config would silently measure a 48-hash scheme
        # (rows = nh // bands truncates the signature tail) while
        # REPORTING num_hashes=64 — reject mislabeled measurements
        if bands <= 0 or nh % bands:
            raise ValueError(
                f"num_hashes must divide evenly into bands, got "
                f"({nh}, {bands})")
    from geoparser_spark.plans.caching import track

    spark = corpus.sparkSession
    max_h = max(nh for nh, _ in configs)
    # track() on top of the explicit unpersist at the end: if the run
    # dies mid-matrix the scope still drains the caches
    sigs = track(minhash_signatures(corpus, n, max_h, text_col, id_col))
    base = sigs.where(F.col("id") < planted_offset)
    plants = sigs.where(F.col("id") >= planted_offset).select(
        F.pmod("id", F.lit(planted_offset)).alias("base_id"),
        (F.col("id") / planted_offset).cast("int").alias("grade"),
        "shingles", "sig",
    )
    truth = (
        base.select(F.col("id").alias("base_id"),
                    F.col("shingles").alias("gs_a"))
        .join(plants.select("base_id", "grade",
                            F.col("shingles").alias("gs_b")), "base_id")
        .select(
            "base_id", "grade",
            (F.size(F.array_intersect("gs_a", "gs_b"))
             / F.size(F.array_union("gs_a", "gs_b"))).alias("jexact"),
        )
    )
    truth = track(truth)

    def banded(side: DataFrame, id_expr, extra: list[str],
               nh: int, bands: int) -> DataFrame:
        rows = nh // bands
        structs = F.array(*[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.xxhash64(*[F.col("sig")[b * rows + r]
                             for r in range(rows)]).alias("band_hash"),
            )
            for b in range(bands)
        ])
        return side.select(id_expr.alias("base_id"), *extra,
                           F.explode(structs).alias("bd")).select(
            "base_id", *extra, "bd.band_idx", "bd.band_hash")

    found_frames = []
    for nh, bands in configs:
        bl = banded(base, F.col("id"), [], nh, bands)
        br = banded(plants, F.col("base_id"), ["grade"], nh, bands)
        hit = (
            bl.join(br, ["base_id", "band_idx", "band_hash"])
            .select("base_id", "grade")
            .dropDuplicates(["base_id", "grade"])
            .select(F.lit(nh).alias("num_hashes"),
                    F.lit(bands).alias("bands"), "base_id", "grade")
        )
        found_frames.append(hit)
    found = found_frames[0]
    for f in found_frames[1:]:
        found = found.unionByName(f)
    fj = found.join(truth, ["base_id", "grade"])

    t_aggs = [
        F.count(F.when(F.col("jexact") >= F.lit(t), 1))
        .cast("long").alias(f"t{k}")
        for k, t in enumerate(thresholds)
    ]
    truth_agg = truth.agg(*t_aggs)
    f_aggs = [
        F.count(F.when(F.col("jexact") >= F.lit(t), 1))
        .cast("long").alias(f"f{k}")
        for k, t in enumerate(thresholds)
    ]
    found_agg = fj.groupBy("num_hashes", "bands").agg(*f_aggs)
    grid = spark.createDataFrame(
        [(nh, b) for nh, b in configs], "num_hashes: int, bands: int")
    m = grid.join(found_agg, ["num_hashes", "bands"], "left") \
            .crossJoin(F.broadcast(truth_agg))
    stack_args = ", ".join(
        f"CAST({t}D AS DOUBLE), t{k}, coalesce(f{k}, 0L)"
        for k, t in enumerate(thresholds))
    matrix = m.selectExpr(
        "num_hashes", "bands",
        f"stack({len(thresholds)}, {stack_args})"
        " AS (threshold, n_truth, n_truth_found)",
    ).select(
        "num_hashes", "bands", "threshold", "n_truth", "n_truth_found",
        F.when(F.col("n_truth") == 0, F.lit(1.0))
        .otherwise(F.col("n_truth_found") / F.col("n_truth"))
        .alias("recall"),
    )
    # The result is |configs| x |thresholds| rows (a 9-cell matrix at
    # the default sweep): materialize it NOW so the sigs/truth caches —
    # corpus-sized, feeding 1 + 2·configs plan branches — can be
    # released before returning, instead of pinning executor memory for
    # the caller's lifetime (the duplicated_window_fraction lesson).
    rows = matrix.collect()
    sigs.unpersist()
    truth.unpersist()
    return spark.createDataFrame(rows, schema=matrix.schema)
