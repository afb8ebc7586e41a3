"""SparkSession construction with scale-appropriate defaults.

Local-mode testing stands in for a multi-executor cluster; every config
here is one we would also set on a 1000-executor deployment (AQE, Arrow,
shuffle-partition sizing) — nothing is local-only magic.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "geoparser_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or local[*]).
    On a real cluster the caller passes no master and spark-submit wires
    it; everything else below is cluster-appropriate.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        # AQE: runtime coalesce + skew-join splitting. At 100 TB these are
        # the knobs that keep one mega-partition from stalling a stage.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Spark plans a query that feeds a cache with AQE off by default,
        # so a persisted grouped Python kernel (build_tile_pyramid's
        # membership rows) would run every shuffle partition as its own
        # Python task — 32 tasks of ~80 ms fixed cost each for <= 15
        # groups.  Let cached plans keep AQE so those partitions coalesce.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # Arrow for every JVM<->Python boundary (mapInPandas batches).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.session.timeZone", "UTC")
        # local mode: one JVM; keep the UI off for headless runs.
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # the gazetteer index build collects one Arrow row per gazetteer
        # entry: ~1.3 GB at 12M synthetic GeoNames entries, above the 1g
        # default (operators/surface_index._build_arrays)
        .config("spark.driver.maxResultSize", "4g")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
