"""Table catalog seam: Iceberg when available, Parquet fallback.

The 10^12-doc design point (BASELINE.json north_rule) targets Iceberg
tables — snapshot-isolated commits give the checkpoint-resume story its
atomicity, partition stats give pruning, and `MERGE INTO` gives
row-level location updates (SURVEY.md §1.3).  This sandbox has no
iceberg-spark-runtime jar, so every caller goes through this seam:
tests stay hermetic on Parquet paths, and a deployment only has to set
``spark.sql.catalog.<name>`` configs for the same code to address
Iceberg tables.

Resolution rule: an explicit ``table:`` / ``catalog:`` prefix always
names a catalog table; otherwise a ref containing '.' and no '/' is a
catalog table (``catalog.db.table``) UNLESS it ends in a known data-file
extension — a dotted relative path like ``out.parquet`` is a file path,
not a table in namespace ``out``.  Anything else is a Parquet directory
path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

_FILE_EXTS = (".parquet", ".pq", ".orc", ".csv", ".tsv", ".json", ".txt", ".avro")
_CATALOG_PREFIXES = ("table:", "catalog:")


def strip_catalog_prefix(ref: str) -> str:
    for p in _CATALOG_PREFIXES:
        if ref.startswith(p):
            return ref[len(p):]
    return ref


def is_catalog_ref(ref: str) -> bool:
    if ref.startswith(_CATALOG_PREFIXES):
        return True
    if "/" in ref or "." not in ref:
        return False
    return not ref.lower().endswith(_FILE_EXTS)


def read_table(spark: SparkSession, ref: str) -> DataFrame:
    if is_catalog_ref(ref):
        return spark.read.table(strip_catalog_prefix(ref))
    return spark.read.parquet(ref)


def write_table(df: DataFrame, ref: str, mode: str = "overwrite",
                partition_by: list[str] | None = None) -> None:
    """Overwrite/append semantics that map 1:1 onto Iceberg:
    catalog refs use the DataFrameWriterV2 path (createOrReplace /
    append — snapshot commits on Iceberg); parquet paths use the
    classic writer with dynamic partition overwrite."""
    if is_catalog_ref(ref):
        w = df.writeTo(strip_catalog_prefix(ref))
        if partition_by:
            from pyspark.sql import functions as F

            w = w.partitionedBy(*[F.col(c) for c in partition_by])
        if mode == "append":
            try:
                w.append()
            except Exception:  # first write: table absent
                w.create()
        else:
            w.createOrReplace()
        return
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(ref)
