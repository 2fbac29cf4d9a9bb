"""SparkSession construction tuned for this engine.

The reference builds its session with explicit jar classpaths and (variant B
only) AQE enablement (``spark_airports_final.py:7-13``,
``spark-jars/spark_airports_final.py:14``). Here session setup is one
function with scale-aware defaults:

- AQE on (runtime coalescing, skew-join splitting) — the 100 TB design point
  assumes stats are wrong at plan time.
- Arrow on — any unavoidable Python stage moves via Arrow batches.
- the runtime SQL confs every query relies on live in ONE table,
  ``RUNTIME_CONFS``, applied to the built session and re-applied per
  query (``apply_runtime_confs``) because a caller may bring its own
  session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime (non-static) SQL confs every query of this engine relies on.
# Applied defensively per-query too (apply_runtime_confs) because the
# driver harness owns its own SparkSession.
RUNTIME_CONFS: dict[str, str] = {
    # events.parquet stores TIMESTAMP(NANOS) which Spark's vectorized parquet
    # reader rejects; read as long then convert (catalog.load_table).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Pin wall-clock semantics so timestamp_ntz conversions and the DuckDB
    # oracle (naive timestamps) agree regardless of machine TZ.
    "spark.sql.session.timeZone": "UTC",
    # Runtime re-planning: partition coalescing + skew-join handling.
    "spark.sql.adaptive.enabled": "true",
    # Right-sized for the local[32] test/driver environment (the default 200
    # means 200 streaming state stores per agg). Cluster deployments override
    # to ~2-3x total cores; AQE coalescing absorbs the difference.
    "spark.sql.shuffle.partitions": "32",
}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Set the runtime confs this engine needs on an existing session."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # a caller-owned session may refuse a conf change
    return spark


def get_spark(
    app_name: str = "projet-etl-a-rien-spark",
    master: str | None = None,
    driver_memory: str = "8g",
    ui: bool = False,
) -> SparkSession:
    """Build (or reuse) a tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    On a real cluster pass ``master=None`` via spark-submit and let the
    submitter own master/memory; every other conf below is cluster-safe.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "true" if ui else "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return apply_runtime_confs(spark)
