"""Table access for the driver-generated parquet fixtures (TESTDATA.md).

One loader, schema-normalizing at the edge, so every operator downstream
sees stable types at any scale factor:

- ``events.ts`` is parquet TIMESTAMP(NANOS) → read as long (nanosAsLong)
  and truncated to microseconds as ``timestamp_ntz``, matching what a
  microsecond-native engine (e.g. the DuckDB oracle) sees.
- everything else passes through untouched — parquet column pruning and
  filter pushdown stay fully effective because this is a plain
  ``spark.read.parquet`` with a projection, no UDFs, no materialization.

At the 100 TB design point this module is where partition discovery /
bucketed-table metadata would live; the loader deliberately returns lazy
DataFrames so Catalyst sees the full lineage from scan to sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import apply_runtime_confs

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Event-time columns whose parquet physical type has CHANGED between
# driver rounds (TIMESTAMP(NANOS) in r1/r2 → TIMESTAMP(MICROS) in r3).
# Under the session's nanosAsLong conf a NANOS column surfaces as bigint;
# MICROS surfaces as timestamp_ntz directly — normalize either to µs ntz
# so every downstream operator sees one stable type at any data vintage.
_EVENT_TIME_COLS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table from ``{sf_dir}/{name}.parquet``, normalized."""
    apply_runtime_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    dtypes = dict(df.dtypes)
    for col in _EVENT_TIME_COLS.get(name, ()):
        if dtypes.get(col) == "bigint":
            # ns → µs: integer division (exact; values are positive so this
            # is floor, identical to a ns→µs cast in µs-native engines).
            df = df.withColumn(
                col,
                F.timestamp_micros(F.expr(f"{col} div 1000")).cast("timestamp_ntz"),
            )
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    use = names or TABLES
    return {n: load_table(spark, sf_dir, n) for n in use}


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register fixture tables as temp views so any SQL front end
    (``spark.sql``, thrift server, a notebook) can query the catalog by
    name — views stay LAZY (plain scans + the normalizing projection), so
    pushdown and pruning behave exactly as through ``load_table``."""
    for n, df in load_tables(spark, sf_dir, *names).items():
        df.createOrReplaceTempView(n)

