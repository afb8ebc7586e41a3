"""Partitioning, skew handling, lineage manifests, checkpoint-resume.

Replaces the reference's hand-rolled batch-state machinery:
  * resume  — ``rows_processed = GetIndexSize(core)`` offset counter
              (reference: geoparser_app/views.py:322-339) becomes a
              per-partition manifest table; the done partition ids
              (at most n_parts) filter the input as a literal list.
  * skew    — the reference has none (a mega-document stalls its
              sequential loop, views.py:357); here mega-docs are split
              into chunk rows, processed, and reassembled in order.
  * metrics — per-partition lineage rows (rows_in/out, checksum,
              wall_ms) instead of a polled progress fraction
              (views.py:229-245).

Design notes for the 10^12-doc scale point:
  * ``part_id`` is a LOGICAL partition: pmod(xxhash64(doc_id), n).
    It is a pure function of the data, so resume is well-defined across
    cluster sizes, Spark versions and physical partitionings.
  * Output is written ``partitionBy(part_id)`` with dynamic partition
    overwrite: re-processing a partition atomically replaces its files,
    so a crash between data-write and manifest-write is idempotent.
    (On Iceberg this maps to snapshot-isolated REPLACE of the same
    partition; the parquet fallback keeps tests hermetic.)
  * checksum is order-insensitive (sum of per-doc hashes) so it is
    stable under any task scheduling.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_LOGICAL_PARTS = 256


# --------------------------------------------------------------- skew

def split_mega_docs(docs: DataFrame, max_spans: int = 64) -> DataFrame:
    """Explode mega-documents (the 0.1%-of-docs / 100-1000x-median skew
    fixture) into chunk rows of <= max_spans spans each, so no single
    task inherits an entire mega-doc.  Pure SQL: sequence + slice.

    Spans are sorted by ``offset`` BEFORE chunking: the extract kernel
    sorts only within its chunk, so chunk concatenation equals the
    global offset order only if the split respected it — array order is
    untrusted data (SURVEY.md §4.2), and a doc whose spans arrive
    offset-shuffled would otherwise reassemble wrong.  (For spans with
    EQUAL offsets the relative order is unspecified, matching the
    stable-sort caveat documented on extract_doc_spans_cols.)

    Output: (doc_id, chunk_id, n_chunks, spans).  Reassemble with
    :func:`reassemble_chunks` after a per-chunk stage."""
    # the offset-sorted array is bound as lambda variable `sp` so the
    # sort runs once per doc, not once per chunk slice (Catalyst
    # projection collapse would inline a derived column into every leg)
    chunks_expr = F.expr(
        f"""transform(array(
              array_sort(spans, (l, r) ->
                CASE WHEN coalesce(l.offset, 0) < coalesce(r.offset, 0) THEN -1
                     WHEN coalesce(l.offset, 0) > coalesce(r.offset, 0) THEN 1
                     ELSE 0 END)), sp ->
              transform(
                sequence(0, CAST(greatest(ceil(size(sp) / {max_spans}), 1) AS INT) - 1),
                c -> slice(sp, c * {max_spans} + 1, {max_spans})))[0]"""
    )
    return docs.select("doc_id", chunks_expr.alias("_chunks")).select(
        "doc_id",
        F.posexplode("_chunks").alias("chunk_id", "spans"),
        F.size("_chunks").alias("n_chunks"),
    )


def reassemble_chunks(extracted_chunks: DataFrame) -> DataFrame:
    """(doc_id, chunk_id, spans) → (doc_id, spans) with chunk arrays
    concatenated in chunk order and ``order`` re-densified 0..n-1.
    collect_list order is shuffle-nondeterministic, so chunk_id rides
    inside the collected struct and we array_sort on it — never rely on
    implicit row order (SURVEY.md §4.2)."""
    flat = (
        extracted_chunks.groupBy("doc_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("chunk_id"), F.col("spans")))
                    ),
                    lambda s: s["spans"],
                )
            ).alias("spans_raw")
        )
    )
    return flat.select(
        "doc_id",
        F.transform(
            "spans_raw",
            lambda s, i: F.struct(
                s["kind"].alias("kind"),
                s["text"].alias("text"),
                s["media_ref"].alias("media_ref"),
                i.alias("order"),
            ),
        ).alias("spans"),
    )


# ------------------------------------------------------ lineage/resume

def with_part_id(df: DataFrame, key: str = "doc_id",
                 n_parts: int = DEFAULT_LOGICAL_PARTS) -> DataFrame:
    return df.withColumn(
        "part_id", F.pmod(F.xxhash64(F.col(key)), F.lit(n_parts)).cast("int")
    )


def _spans_hash_col() -> F.Column:
    # per-doc span hash; the per-partition checksum is its sum, which
    # is order-insensitive
    return F.xxhash64(F.col("doc_id"), F.to_json(F.struct("spans")))


def _read_ref(spark: SparkSession, ref: str,
              schema: T.StructType | None = None) -> DataFrame:
    """Read a table ref.  A parquet path read with its known ``schema``
    skips schema inference, which is a Spark job of its own."""
    from geoparser_spark.sources.catalog import is_catalog_ref, strip_catalog_prefix

    if is_catalog_ref(ref):
        return spark.table(strip_catalog_prefix(ref))
    reader = spark.read.schema(schema) if schema is not None else spark.read
    return reader.parquet(ref)


def _write_partitioned(df: DataFrame, ref: str) -> None:
    """Write partitioned-by-part_id output to a parquet path (classic
    writer, dynamic partition overwrite) or a catalog table (v2 writer:
    overwritePartitions — on Iceberg this is a snapshot-isolated
    REPLACE of just the touched partitions; the session catalog's
    parquet tables give the same dynamic-overwrite semantics)."""
    from geoparser_spark.sources.catalog import is_catalog_ref, strip_catalog_prefix

    if is_catalog_ref(ref):
        tbl = strip_catalog_prefix(ref)
        if df.sparkSession.catalog.tableExists(tbl):
            try:
                # true v2 catalogs (Iceberg): snapshot-isolated dynamic
                # partition replace
                df.writeTo(tbl).overwritePartitions()
            except Exception:
                # session-catalog parquet tables are v1: same dynamic
                # semantics via insertInto under partitionOverwriteMode
                # = dynamic (set by resumable_stage)
                df.write.mode("overwrite").insertInto(tbl)
        else:
            df.writeTo(tbl).using("parquet").partitionedBy(F.col("part_id")).create()
        return
    df.write.mode("overwrite").partitionBy("part_id").parquet(ref)


def _append_ref(df: DataFrame, ref: str) -> None:
    from geoparser_spark.sources.catalog import is_catalog_ref, strip_catalog_prefix

    if is_catalog_ref(ref):
        tbl = strip_catalog_prefix(ref)
        if df.sparkSession.catalog.tableExists(tbl):
            try:
                df.writeTo(tbl).append()
            except Exception:  # v1 session-catalog table
                df.write.insertInto(tbl)
        else:
            df.writeTo(tbl).using("parquet").create()
        return
    df.write.mode("append").parquet(ref)


def read_done_parts(spark: SparkSession, manifest_dir: str) -> DataFrame:
    """Manifest partitions already completed, one row per 'done'
    manifest row (any run_id — restartable across job submissions, like
    the reference's resume offset but partition-grained).

    Only a manifest that does not exist yet means "nothing done"; every
    other read error raises, so a corrupt or unreadable manifest can
    never silently re-run the whole input."""
    from geoparser_spark.sources.catalog import is_catalog_ref, strip_catalog_prefix

    # an empty local relation: collecting it runs no Spark job
    nothing_done = spark.sql("SELECT CAST(NULL AS INT) AS part_id WHERE false")
    if is_catalog_ref(manifest_dir):
        tbl = strip_catalog_prefix(manifest_dir)
        if not spark.catalog.tableExists(tbl):
            return nothing_done
        m = spark.table(tbl)
    else:
        # the path's own Hadoop FileSystem, so hdfs:// or s3a:// manifests
        # resolve exactly as the reader would resolve them
        path = spark._jvm.org.apache.hadoop.fs.Path(manifest_dir)
        fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(path):
            return nothing_done
        # read the two columns needed with their written types: a first
        # manifest append killed before its commit leaves a directory
        # with no data files, which then reads as empty instead of
        # failing schema inference
        m = spark.read.schema("partition_id int, status string").parquet(
            manifest_dir)
    return m.where(F.col("status") == "done").select(
        F.col("partition_id").alias("part_id"))


def resumable_stage(
    spark: SparkSession,
    docs: DataFrame,
    stage: Callable[[DataFrame], DataFrame],
    output_dir: str,
    manifest_dir: str | None = None,
    run_id: str = "run-0",
    n_parts: int = DEFAULT_LOGICAL_PARTS,
    key: str = "doc_id",
) -> DataFrame:
    """Run ``stage`` over only the not-yet-done logical partitions of
    ``docs``; write results partitioned by part_id; append 'done'
    manifest rows with lineage metrics.  Returns the full output
    DataFrame (all completed partitions).

    Crash-safety: data is written with dynamic partition overwrite
    BEFORE its manifest rows are appended.  A crash in between leaves
    orphan data that the next run simply overwrites — at-least-once
    per partition, exactly-once in the output."""
    manifest_dir = manifest_dir or os.path.join(output_dir + "_manifest")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    # at most n_parts ids: filter with a literal list instead of
    # planning a broadcast anti-join (whose build side is a job of its
    # own, run by anything that plans `todo`)
    done = sorted({r.part_id for r in read_done_parts(spark, manifest_dir).collect()})
    docs_p = with_part_id(docs, key, n_parts)
    todo = docs_p.where(~F.col("part_id").isin(done)) if done else docs_p

    t0 = time.monotonic()
    out = with_part_id(stage(todo.drop("part_id")), key, n_parts)
    _write_partitioned(out, output_dir)
    wall_ms = int((time.monotonic() - t0) * 1000)

    # lineage in one aggregation: the todo rows (rows_in) and the
    # written rows of the not-done partitions, pruned by directory
    # (rows_out, checksum); a partition counts once it has both
    written = _read_ref(spark, output_dir, out.schema)
    if done:
        written = written.where(~F.col("part_id").isin(done))
    lineage = todo.select(
        "part_id", F.lit(1).alias("_in"), F.lit(None).cast("long").alias("_h")
    ).unionByName(
        written.select("part_id", F.lit(0).alias("_in"), _spans_hash_col().alias("_h"))
    )
    manifest = (
        lineage.groupBy("part_id")
        .agg(
            F.sum("_in").alias("rows_in"),
            F.count("_h").alias("rows_out"),
            F.sum(F.col("_h").cast("decimal(38,0)")).cast("string").alias("checksum"),
        )
        .where((F.col("rows_in") > 0) & (F.col("rows_out") > 0))
        .select(
            F.lit(run_id).alias("run_id"),
            F.col("part_id").alias("partition_id"),
            F.lit("done").alias("status"),
            "rows_in",
            "rows_out",
            "checksum",
            F.lit(wall_ms).alias("wall_ms"),
        )
    )
    _append_ref(manifest, manifest_dir)
    return _read_ref(spark, output_dir, out.schema).drop("part_id")
