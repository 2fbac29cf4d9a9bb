"""Named query registry: the engine's operator surface as runnable queries.

Each entry pairs a Spark implementation (``(spark, sf_dir) -> DataFrame``)
with an equivalent ANSI-SQL oracle the driver runs on DuckDB over the same
parquet tables. The two are kept adjacent in one ``Q`` declaration so they
cannot drift silently; ``__spark_entry__.py`` re-exports this registry.

Cross-engine parity rules used throughout (see functions/exactmath.py):
- monetary aggregates in exact integer cents; final ``/100.0[/n]`` written
  with identical left-associative shape on both sides;
- oracle SUMs over integers wrapped ``CAST(... AS BIGINT)`` (DuckDB widens
  to HUGEINT otherwise, Spark stays bigint);
- every computed column aliased identically on both sides (the driver
  sorts columns by name before hashing);
- LIMIT/top-k always carries a total tie-break ordering;
- timestamps stay microsecond ``timestamp_ntz`` ↔ naive TIMESTAMP.

Operator provenance: generalizes the reference's observed operator classes
(SURVEY.md §2.10) — projection/cast/conditional (spark_airports_final.py:
31-64), global agg (ibid:67-74) → keyed groupBy/rollup/window/join/set-op
analytics over the TPC-H-ish fixtures; JSON ops (ibid:44-46, NiFi
tp.xml:543-559) → events.props extraction.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import load_table
from .fixtures import (
    AIRPORTS_MESSAGES_NUMERIC_ORACLE_CTE,
    AIRPORTS_MESSAGES_ORACLE_CTE,
    airports_messages,
    airports_messages_numeric,
)
from .functions.exactmath import avg_money, cents, sum_money, sum_product_money
from .operators.airports import (
    AIRPORT_SCHEMA_PERMISSIVE,
    airport_stats,
    clean_coords,
    parse_json_messages,
)


@dataclass(frozen=True)
class Q:
    """One registry entry: Spark impl + DuckDB oracle (None → rows-only)."""

    fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]
    doc: str = ""


REGISTRY: dict[str, Q] = {}


def register(name: str, oracle: Optional[str], doc: str = ""):
    def deco(fn):
        REGISTRY[name] = Q(fn=fn, oracle=oracle, doc=doc)
        return fn

    return deco


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# 1. Reference-parity pipeline (SURVEY.md §2.1-2.6, variant A semantics)
# --------------------------------------------------------------------------

_AIRPORTS_CLEAN_ORACLE_BODY = """
clean AS (
    SELECT id, name, icao,
           TRY_CAST(NULLIF(lat, '') AS DOUBLE) AS latitude,
           TRY_CAST(NULLIF(lon, '') AS DOUBLE) AS longitude
    FROM airports_msgs
)
"""


@register(
    "airports_clean",
    f"""
WITH {AIRPORTS_MESSAGES_ORACLE_CTE}, {_AIRPORTS_CLEAN_ORACLE_BODY}
SELECT id, name, icao, latitude, longitude
FROM clean
WHERE latitude IS NOT NULL AND longitude IS NOT NULL
""",
    doc="Kafka-wire JSON parse + variant-A clean (ref spark_airports_final.py:31-64); row-level parity.",
)
def q_airports_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    msgs = airports_messages(spark, sf_dir)
    return clean_coords(parse_json_messages(msgs))


@register(
    "airports_flagship",
    f"""
WITH {AIRPORTS_MESSAGES_ORACLE_CTE}, {_AIRPORTS_CLEAN_ORACLE_BODY}
SELECT COUNT(*) AS total_records,
       COUNT(DISTINCT id) AS unique_airports,
       CAST(SUM(CAST(ROUND(latitude * 100) AS BIGINT)) AS BIGINT) / 100.0 / COUNT(latitude) AS avg_latitude,
       CAST(SUM(CAST(ROUND(longitude * 100) AS BIGINT)) AS BIGINT) / 100.0 / COUNT(longitude) AS avg_longitude,
       MIN(latitude) AS min_latitude,
       MAX(latitude) AS max_latitude
FROM clean
WHERE latitude IS NOT NULL AND longitude IS NOT NULL
""",
    doc="Flagship 6-agg global stats after clean (ref spark_airports_final.py:67-74).",
)
def q_airports_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    return airport_stats(q_airports_clean(spark, sf_dir))


@register(
    "airports_stats_permissive",
    f"""
WITH {AIRPORTS_MESSAGES_NUMERIC_ORACLE_CTE}
SELECT COUNT(*) AS total_records,
       COUNT(DISTINCT icao) AS unique_airports,
       CAST(SUM(CAST(ROUND(lat * 100) AS BIGINT)) AS BIGINT) / 100.0 / COUNT(lat) AS avg_latitude,
       CAST(SUM(CAST(ROUND(lon * 100) AS BIGINT)) AS BIGINT) / 100.0 / COUNT(lon) AS avg_longitude,
       MIN(lat) AS min_latitude,
       MAX(lat) AS max_latitude
FROM airports_msgs_num
""",
    doc="Variant-B permissive mode: typed-at-parse, silent field-level nulls pass through, distinct on icao (ref spark-jars/spark_airports_final.py:40-62).",
)
def q_airports_stats_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    msgs = airports_messages_numeric(spark, sf_dir)
    parsed = parse_json_messages(msgs, schema=AIRPORT_SCHEMA_PERMISSIVE)
    return airport_stats(
        parsed, distinct_key="icao", lat_col="lat", lon_col="lon"
    )


@register(
    "airports_permissive_roundtrip",
    f"""
WITH {AIRPORTS_MESSAGES_NUMERIC_ORACLE_CTE}
SELECT id, name, icao, lat, lon FROM airports_msgs_num
""",
    doc="Variant-B FULL pipeline parity: unclean typed-at-parse rows written "
    "to the sink and read back through its own scan (ref spark-jars/"
    "spark_airports_final.py:75-98) — row-level check that silent "
    "field-level nulls survive the write/read roundtrip untouched.",
)
def q_airports_permissive_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from .pipelines import airports_permissive_pipeline

    msgs = airports_messages_numeric(spark, sf_dir)
    # per-run sink dir: a fixed shared path collides across concurrent
    # sessions (one run's overwrite races another's readback); the
    # readback is materialized before cleanup
    root = tempfile.mkdtemp(prefix="permissive_")
    try:
        sink = os.path.join(root, "sink")
        return airports_permissive_pipeline(
            spark, msgs, sink
        ).readback.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# --------------------------------------------------------------------------
# 2. Generalized relational analytics (SURVEY.md §2.10 / §7 step 2)
# --------------------------------------------------------------------------


@register(
    "tpch_q1_pricing_summary",
    """
SELECT l_returnflag, l_linestatus,
       SUM(l_quantity) AS sum_qty,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_base_price,
       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_disc_price,
       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_charge,
       SUM(l_quantity) / COUNT(*) AS avg_qty,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) / 100.0 / COUNT(l_extendedprice) AS avg_price,
       CAST(SUM(CAST(ROUND(l_discount * 100) AS BIGINT)) AS BIGINT) / 100.0 / COUNT(l_discount) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
    doc="TPC-H Q1 pricing summary: scan-filter-groupBy with map-side partial agg; exact-cents money math.",
)
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where("l_shipdate <= TIMESTAMP_NTZ'1998-09-02 00:00:00'")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            sum_money("l_extendedprice").alias("sum_base_price"),
            sum_product_money("l_extendedprice", 1 - F.col("l_discount")).alias(
                "sum_disc_price"
            ),
            sum_product_money(
                "l_extendedprice", 1 - F.col("l_discount"), 1 + F.col("l_tax")
            ).alias("sum_charge"),
            (F.sum("l_quantity") / F.count("*")).alias("avg_qty"),
            avg_money("l_extendedprice").alias("avg_price"),
            avg_money("l_discount").alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "tpch_q6_forecast_revenue",
    """
SELECT CAST(SUM(CAST(ROUND(l_extendedprice * l_discount * 100) AS BIGINT)) AS BIGINT) / 100.0 AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24
""",
    doc="TPC-H Q6: tight filter + global sum; predicates push to the parquet scan.",
)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(
            "l_shipdate >= TIMESTAMP_NTZ'1996-01-01 00:00:00'"
            " AND l_shipdate < TIMESTAMP_NTZ'1997-01-01 00:00:00'"
            " AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24"
        ).agg(sum_product_money("l_extendedprice", "l_discount").alias("revenue"))
    )


@register(
    "tpch_q3_top_orders",
    """
SELECT o.o_orderkey,
       CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) / 100.0 AS revenue,
       o.o_orderdate
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1996-01-01 00:00:00'
GROUP BY o.o_orderkey, o.o_orderdate
ORDER BY revenue DESC, o_orderkey
LIMIT 10
""",
    doc="TPC-H Q3 shape: selective dim filter, 3-way join (customer side broadcastable), group + deterministic top-k.",
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").where(
        "o_orderdate < TIMESTAMP_NTZ'1998-01-01 00:00:00'"
    )
    l = _t(spark, sf_dir, "lineitem").where(
        "l_shipdate > TIMESTAMP_NTZ'1996-01-01 00:00:00'"
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            sum_product_money("l_extendedprice", 1 - F.col("l_discount")).alias(
                "revenue"
            )
        )
        .select("o_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@register(
    "regional_revenue",
    """
SELECT r.r_name AS region, n.n_name AS nation,
       COUNT(*) AS n_lineitems,
       CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) / 100.0 AS revenue
FROM region r
JOIN nation n ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY r.r_name, n.n_name
""",
    doc="5-way star join region⋈nation⋈customer⋈orders⋈lineitem; dims broadcast, one fact shuffle.",
)
def q_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("n_lineitems"),
            sum_product_money("l_extendedprice", 1 - F.col("l_discount")).alias(
                "revenue"
            ),
        )
    )


@register(
    "mktsegment_stats",
    """
SELECT c_mktsegment,
       COUNT(*) AS n_customers,
       CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) / 100.0 / COUNT(c_acctbal) AS avg_acctbal,
       MIN(c_acctbal) AS min_acctbal,
       MAX(c_acctbal) AS max_acctbal,
       COUNT(DISTINCT c_nationkey) AS n_nations
FROM customer
GROUP BY c_mktsegment
""",
    doc="Keyed groupBy generalizing the reference's global-only aggs (SURVEY.md §2.5).",
)
def q_mktsegment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_customers"),
        avg_money("c_acctbal").alias("avg_acctbal"),
        F.min("c_acctbal").alias("min_acctbal"),
        F.max("c_acctbal").alias("max_acctbal"),
        F.count_distinct(F.col("c_nationkey")).alias("n_nations"),
    )


@register(
    "order_priority_rollup",
    """
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_totalprice
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
""",
    doc="ROLLUP super-aggregates (grouping-sets family; absent in the reference, SURVEY.md §2.9).",
)
def q_order_priority_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        sum_money("o_totalprice").alias("sum_totalprice"),
    )


@register(
    "topk_customers_per_segment",
    """
SELECT c_mktsegment, c_custkey, c_acctbal, rn
FROM (
    SELECT c_mktsegment, c_custkey, c_acctbal,
           ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                              ORDER BY c_acctbal DESC, c_custkey) AS rn
    FROM customer
) t
WHERE rn <= 3
""",
    doc="Top-k per group via ranking window; total tie-break ordering keeps it deterministic.",
)
def q_topk_customers_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    c = _t(spark, sf_dir, "customer")
    w = (
        Window.partitionBy("c_mktsegment")
        .orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    )
    return (
        c.select(
            "c_mktsegment",
            "c_custkey",
            "c_acctbal",
            F.row_number().over(w).alias("rn"),
        ).where(F.col("rn") <= 3)
    )


@register(
    "customer_running_order_total",
    """
SELECT o_custkey, o_orderkey, o_orderdate,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_cents
FROM orders
""",
    doc="Running-total analytic window (exact cents; explicit ROWS frame).",
)
def q_customer_running_order_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(cents("o_totalprice")).over(w).alias("running_cents"),
    )


@register(
    "building_customers_without_f_orders",
    """
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
EXCEPT
SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'
""",
    doc="Set difference (EXCEPT DISTINCT) — set-op family absent in the reference (SURVEY.md §2.9).",
)
def q_building_customers_without_f_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    left = c.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    right = o.where(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return left.subtract(right)


@register(
    "machinery_and_urgent_customers",
    """
SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
INTERSECT
SELECT o_custkey AS c_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
""",
    doc="Set intersection (INTERSECT DISTINCT).",
)
def q_machinery_and_urgent_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    left = c.where(F.col("c_mktsegment") == "MACHINERY").select("c_custkey")
    right = o.where(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return left.intersect(right)


@register(
    "customers_without_orders",
    """
SELECT c.c_custkey, c.c_name
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
    doc="Left anti join ↔ NOT EXISTS; Catalyst plans a broadcast anti join when the right side is small.",
)
def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@register(
    "suppliers_with_returns",
    """
SELECT s.s_suppkey, s.s_name
FROM supplier s
WHERE EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_suppkey = s.s_suppkey AND l.l_returnflag = 'R'
)
""",
    doc="Left semi join ↔ EXISTS.",
)
def q_suppliers_with_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _t(spark, sf_dir, "supplier")
    l = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    return s.join(l, s.s_suppkey == l.l_suppkey, "left_semi").select(
        "s_suppkey", "s_name"
    )


@register(
    "orders_by_year",
    """
SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS order_year,
       COUNT(*) AS n_orders,
       COUNT(DISTINCT o_custkey) AS n_customers,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_totalprice
FROM orders
GROUP BY 1
""",
    doc="Datetime extraction + multi-distinct aggregate.",
)
def q_orders_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.groupBy(F.year("o_orderdate").alias("order_year")).agg(
        F.count("*").alias("n_orders"),
        F.count_distinct(F.col("o_custkey")).alias("n_customers"),
        sum_money("o_totalprice").alias("sum_totalprice"),
    )


@register(
    "part_type_brand_matrix",
    """
SELECT p_type, COUNT(*) AS n_parts,
       COUNT(DISTINCT p_brand) AS n_brands,
       CAST(SUM(CAST(ROUND(p_retailprice * 100) AS BIGINT)) AS BIGINT) / 100.0 / COUNT(p_retailprice) AS avg_retail,
       MAX(p_size) AS max_size
FROM part
GROUP BY p_type
""",
    doc="Dimension profiling aggregate.",
)
def q_part_type_brand_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return p.groupBy("p_type").agg(
        F.count("*").alias("n_parts"),
        F.count_distinct(F.col("p_brand")).alias("n_brands"),
        avg_money("p_retailprice").alias("avg_retail"),
        F.max("p_size").alias("max_size"),
    )


# --------------------------------------------------------------------------
# 3. JSON / semi-structured (generalizes NiFi EvaluateJsonPath, tp.xml:543-559)
# --------------------------------------------------------------------------


@register(
    "events_json_kpi",
    """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_value
FROM events
GROUP BY event_type
""",
    doc="JSON property extraction from events.props (get_json_object ↔ json_extract_string) + keyed KPIs.",
)
def q_events_json_kpi(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").try_cast("int")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(k).alias("sum_k"),
        F.count_distinct(F.col("user_id")).alias("n_users"),
        sum_money("value").alias("sum_value"),
    )


@register(
    "events_hourly",
    """
SELECT date_trunc('hour', ts) AS hour,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_value
FROM events
GROUP BY 1
""",
    doc="Event-time bucketing (batch form of the streaming tumbling window; ns→µs normalized in catalog).",
)
def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return e.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour")).agg(
        F.count("*").alias("n_events"),
        F.count_distinct(F.col("user_id")).alias("n_users"),
        sum_money("value").alias("sum_value"),
    )


# The external driver verifies queries in registration order and only has
# budget for the first ~50 of them per round, so registration order IS the
# verification sampling order. The evidence ledger is derived at runtime
# from the CORRECTNESS_r*.json artifacts the driver commits (see
# _correctness_evidence below) — never-checked names sample first, then
# oldest evidence. _DRIVER_PRIORITY is the manual override slot: names
# whose computation changed since their last green CORRECTNESS row, so they
# sample first.
_DRIVER_PRIORITY: list[str] = [
    # one Arrow encoder for every BPE encode entry point
    "corpus_bpe_encode_stats",
    "corpus_bbpe_encode_stats",
    "corpus_bbpe_encode_stats_v2",
    "corpus_bbpe_encode_stats_ladder",
    "corpus_bbpe_fertility_by_lang",
    "corpus_bbpe_fertility_by_lang_v2",
    "corpus_stream_chunk_index_bbpe",
    "corpus_stream_chunk_index_bbpe_v2",
    "corpus_bbpe_roundtrip",
    # right-to-erasure rewrites run from a thread pool
    "postings_erasure_index",
    # co-purchase graph: hub guard + part-table degree certificate
    "parts_triangle_counts",
    "parts_triangle_counts_auto",
    "parts_triangle_estimate",
    "parts_triangle_estimate_p10",
    "parts_kcore",
    "parts_copurchase_bfs_3hop",
]


# (filename, mtime) fingerprint → parsed ledger. The driver calls
# queries()/oracle_sql() repeatedly and each call re-globbed and
# re-parsed every CORRECTNESS_r*.json (r14 verdict, minor #6 — on the
# driver's import path and growing by one file per round); the ledger
# is pure metadata derived from committed artifacts, so a
# fingerprint-keyed memo is exact: any new/edited artifact changes the
# fingerprint and re-parses.
_EVIDENCE_CACHE: tuple[tuple, dict[str, int]] | None = None


def _correctness_evidence() -> dict[str, int]:
    """name → freshest round with a GREEN driver CORRECTNESS row, read
    straight from the CORRECTNESS_r*.json files the driver commits into
    the repo root. Deriving the evidence ledger from the artifacts
    (instead of per-round hard-coded sets) makes the rotation
    self-maintaining: a new round's file reorders the next round's
    sampling automatically. Rows must be fully green to count — a
    mismatch keeps the name at its previous evidence level, so it
    re-sorts toward the front of the window."""
    global _EVIDENCE_CACHE
    import glob
    import json
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    files = sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json")))
    fingerprint = tuple(
        (f, os.path.getmtime(f)) for f in files if os.path.exists(f)
    )
    if _EVIDENCE_CACHE is not None and _EVIDENCE_CACHE[0] == fingerprint:
        return _EVIDENCE_CACHE[1]
    ledger: dict[str, int] = {}
    for f in files:
        m = re.search(r"CORRECTNESS_r(\d+)", os.path.basename(f))
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(f) as fh:
                data = json.load(fh)
        except (OSError, ValueError):
            continue
        for name, v in data.items():
            if not isinstance(v, dict):
                continue
            green = bool(v.get("rows_match")) and bool(
                v.get("schema_match")
            ) and bool(v.get("hash_match", True))
            if green:
                ledger[name] = max(ledger.get(name, 0), rnd)
    _EVIDENCE_CACHE = (fingerprint, ledger)
    return ledger


def _ordered_names() -> list[str]:
    """Registry names ordered by accumulated driver evidence, least
    first: names with no green driver CORRECTNESS row in any recorded
    round sample first (new additions), then oldest-evidence rounds
    ascending — so however many queries the driver's ~50-query budget
    covers, it always verifies the least-evidenced ones first. The
    ledger is read from the CORRECTNESS_r*.json artifacts; with no
    artifacts present the registration order stands."""
    _load_extensions()
    pri = [n for n in _DRIVER_PRIORITY if n in REGISTRY]
    seen = set(pri)
    ledger = _correctness_evidence()
    rest = [n for n in REGISTRY if n not in seen]
    rest.sort(key=lambda n: ledger.get(n, 0))  # stable within a round
    return pri + rest


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: REGISTRY[name].fn for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    return {
        name: REGISTRY[name].oracle
        for name in _ordered_names()
        if REGISTRY[name].oracle is not None
    }


def _load_extensions() -> None:
    """Import sibling registration modules (idempotent; avoids circular
    imports at module-load time — they import ``register`` from here)."""
    from . import queries_curation  # noqa: F401
    from . import queries_extra  # noqa: F401
    from . import queries_llm  # noqa: F401
    from . import queries_relational  # noqa: F401
    from . import queries_round4  # noqa: F401
    from . import queries_round5  # noqa: F401
    from . import queries_round6  # noqa: F401
    from . import queries_round7  # noqa: F401
    from . import queries_round8  # noqa: F401
    from . import queries_round9  # noqa: F401
    from . import queries_round10  # noqa: F401
    from . import queries_round11  # noqa: F401
    from . import queries_round12  # noqa: F401
    from . import queries_round13  # noqa: F401
    from . import queries_streaming  # noqa: F401
    from . import queries_tpch_full  # noqa: F401
