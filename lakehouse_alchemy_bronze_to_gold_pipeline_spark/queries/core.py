"""Reference-parity queries over the driver's synthetic tables.

Each query maps operators from SURVEY section 2 onto the TPC-H-ish
tables, with an exact DuckDB oracle.  Numeric policy for cross-engine
hash equality:

- money sums go through ``CAST(x AS DECIMAL(18,k))`` *before* SUM in
  BOTH engines — decimal addition is exact and associative, so the
  result is independent of partitioning/order (a raw double SUM is
  not);
- averages/ratios are computed from those exact sums and rounded;
- counts / row_numbers are cast to bigint (DuckDB's count type).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.dedup import dedup_keep_latest
from ..operators.quality import (
    QualityEngine,
    null_pk_rule,
    orphan_rule,
    positive_rule,
    whitespace_rule,
)
from ..operators.sessionize import sessionize, session_stats
from ..operators.star import DimSpec, build_fact
from .data import load, registry


def _dec_sum(col, scale: int = 2, out: str | None = None):
    """Exact, order-independent money sum (see module docstring)."""
    c = F.sum(col.cast(f"decimal(18,{scale})")).cast("double")
    return c.alias(out) if out else c


# --------------------------------------------------------------- S/P/J
# flagship: the reference's fact_sales star build (gold_transformation
# .py:92-147) re-expressed on lineitem/orders/customer/part


def q_fact_sales(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem")
    orders = load(spark, sf, "orders")
    customer = load(spark, sf, "customer")
    part = load(spark, sf, "part")

    fact = build_fact(
        fact=li,
        validity=[  # P9/P10 validity filters, pushed into the scan
            F.col("l_quantity") > 0,
            F.col("l_extendedprice") > 0,
            F.col("l_orderkey").isNotNull(),
            F.col("l_partkey").isNotNull(),
        ],
        dims=[
            # orders is fact-sized: no broadcast — AQE picks the join
            DimSpec(
                orders,
                fact_key="l_orderkey",
                dim_key="o_orderkey",
                columns={"o_custkey": "cust_key", "o_orderdate": "order_ts"},
                broadcast=False,
            ),
            # customer/part are dimensions: broadcast hash join (J1/J2)
            DimSpec(
                customer,
                fact_key="cust_key",
                dim_key="c_custkey",
                columns={"c_mktsegment": "mktsegment"},
            ),
            DimSpec(
                part,
                fact_key="l_partkey",
                dim_key="p_partkey",
                columns={"p_brand": "brand"},
            ),
        ],
        derived={  # P5 derived measure
            "net_value": F.col("l_extendedprice") * (1 - F.col("l_discount"))
        },
        partition_date_source="order_ts",  # L2 fix: derived date grain
    )
    return fact.select(
        F.col("l_orderkey").alias("order_key"),
        F.col("l_linenumber").alias("line_number"),
        F.col("cust_key"),
        F.col("mktsegment"),
        F.col("brand"),
        # dates ship as ISO strings: Spark DateType surfaces as python
        # objects in pandas while DuckDB DATE is datetime64 — strings
        # hash identically in both engines
        F.date_format("order_date", "yyyy-MM-dd").alias("order_date"),
        F.col("l_quantity").alias("quantity"),
        F.col("net_value"),
    )


SQL_FACT_SALES = """
SELECT l_orderkey AS order_key,
       l_linenumber AS line_number,
       o_custkey AS cust_key,
       c_mktsegment AS mktsegment,
       p_brand AS brand,
       strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS order_date,
       l_quantity AS quantity,
       l_extendedprice * (1 - l_discount) AS net_value
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN part ON l_partkey = p_partkey
WHERE l_quantity > 0 AND l_extendedprice > 0
  AND l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
"""


def q_dim_customer(spark: SparkSession, sf: str) -> DataFrame:
    """Dimension build: curated projection + initcap normalization (F1)
    + not-null filter (gold_transformation.py:42-50)."""
    c = load(spark, sf, "customer")
    return (
        c.filter(F.col("c_custkey").isNotNull())
        .select(
            F.col("c_custkey").alias("customer_id"),
            F.initcap(F.lower(F.col("c_mktsegment"))).alias("segment"),
            F.col("c_acctbal").alias("acctbal"),
        )
    )


SQL_DIM_CUSTOMER = """
SELECT c_custkey AS customer_id,
       upper(substr(lower(c_mktsegment), 1, 1)) || substr(lower(c_mktsegment), 2)
         AS segment,
       c_acctbal AS acctbal
FROM customer
WHERE c_custkey IS NOT NULL
"""


def q_dim_part(spark: SparkSession, sf: str) -> DataFrame:
    """Dimension build: lower normalization (F2) + compound filter
    (P10) (gold_transformation.py:69-74)."""
    p = load(spark, sf, "part")
    return (
        p.filter(F.col("p_partkey").isNotNull() & (F.col("p_retailprice") > 0))
        .select(
            F.col("p_partkey").alias("part_id"),
            F.lower(F.col("p_type")).alias("type_norm"),
            F.col("p_brand").alias("brand"),
            F.col("p_retailprice").alias("price"),
        )
    )


SQL_DIM_PART = """
SELECT p_partkey AS part_id,
       lower(p_type) AS type_norm,
       p_brand AS brand,
       p_retailprice AS price
FROM part
WHERE p_partkey IS NOT NULL AND p_retailprice > 0
"""


# ------------------------------------------------------------- quality


def _customer_rules():
    return [
        null_pk_rule(["c_custkey"]),
        whitespace_rule(["c_name"]),
        positive_rule(["c_acctbal"]),
    ]


def q_dq_violation_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Single-pass violation counting (L8 fix): every rule's count in
    one aggregation job, 0 (not NULL) over an empty table."""
    c = load(spark, sf, "customer")
    return QualityEngine(_customer_rules()).violation_counts(c)


SQL_DQ_VIOLATION_COUNTS = """
SELECT 'null_pk[c_custkey]' AS rule,
       COUNT(CASE WHEN c_custkey IS NULL THEN 1 END) AS n_violations
FROM customer
UNION ALL
SELECT 'whitespace[c_name]',
       COUNT(CASE WHEN length(c_name) <> length(trim(c_name)) THEN 1 END)
FROM customer
UNION ALL
SELECT 'positive[c_acctbal]',
       COUNT(CASE WHEN c_acctbal <= 0 THEN 1 END)
FROM customer
"""


def q_dq_failing_rows(spark: SparkSession, sf: str) -> DataFrame:
    """Failing-row capture from one scan, entity-tagged (L5 fix;
    silver_layer_data_quality_checks.py:162-174)."""
    c = load(spark, sf, "customer")
    rows = QualityEngine(_customer_rules()).failing_rows(c, "customer")
    return rows.select(
        "entity", "rule", F.col("c_custkey").alias("customer_id"),
        F.col("c_acctbal").alias("acctbal"),
    )


SQL_DQ_FAILING_ROWS = """
SELECT 'customer' AS entity, 'null_pk[c_custkey]' AS rule,
       c_custkey AS customer_id, c_acctbal AS acctbal
FROM customer WHERE c_custkey IS NULL
UNION ALL
SELECT 'customer', 'whitespace[c_name]', c_custkey, c_acctbal
FROM customer WHERE length(c_name) <> length(trim(c_name))
UNION ALL
SELECT 'customer', 'positive[c_acctbal]', c_custkey, c_acctbal
FROM customer WHERE c_acctbal <= 0
"""


def q_orphan_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Referential integrity via left-anti join (J3,
    gold_layer_data_quality_checks.py:89-98): orders with no
    lineitems."""
    orders = load(spark, sf, "orders")
    li = load(spark, sf, "lineitem")
    orphans = orphan_rule(orders, li, "o_orderkey", "l_orderkey")
    return orphans.select(
        F.col("o_orderkey").alias("order_key"),
        F.col("o_totalprice").alias("total_price"),
    )


SQL_ORPHAN_ORDERS = """
SELECT o_orderkey AS order_key, o_totalprice AS total_price
FROM orders o
WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
"""


def q_orders_with_big_items(spark: SparkSession, sf: str) -> DataFrame:
    """Left-semi join (EXISTS form)."""
    orders = load(spark, sf, "orders")
    li = load(spark, sf, "lineitem")
    big = li.filter(F.col("l_extendedprice") > 5000).select("l_orderkey")
    return orders.join(
        big, orders["o_orderkey"] == big["l_orderkey"], "left_semi"
    ).select(
        F.col("o_orderkey").alias("order_key"),
        F.col("o_orderstatus").alias("status"),
    )


SQL_ORDERS_WITH_BIG_ITEMS = """
SELECT o_orderkey AS order_key, o_orderstatus AS status
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_extendedprice > 5000)
"""


# -------------------------------------------------------- aggregations


def q_pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: hash aggregate with map-side
    partial aggregation; exact decimal sums (see module docstring)."""
    li = load(spark, sf, "lineitem")
    # NTZ literal: a to_timestamp() LTZ literal would be interpreted in
    # the (driver-controlled) session timezone and shift the cutoff
    cutoff = F.lit("1998-09-02 00:00:00").cast("timestamp_ntz")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    agg = (
        li.filter(F.col("l_shipdate") <= cutoff)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dec_sum(F.col("l_quantity"), 2, "sum_qty"),
            _dec_sum(F.col("l_extendedprice"), 2, "sum_base_price"),
            _dec_sum(disc_price, 6, "sum_disc_price"),
            _dec_sum(charge, 6, "sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )
    return agg.withColumn(
        "avg_qty", F.round(F.col("sum_qty") / F.col("count_order"), 4)
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
         AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                     AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
       COUNT(*) AS count_order,
       ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 4)
         AS avg_qty
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_top_customers_per_segment(spark: SparkSession, sf: str) -> DataFrame:
    """Window top-k per group (row_number) on exact decimal revenue."""
    orders = load(spark, sf, "orders")
    customer = load(spark, sf, "customer")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev_dec")
    )
    joined = rev.join(
        customer.select("c_custkey", "c_mktsegment"),
        rev["o_custkey"] == F.col("c_custkey"),
        "inner",
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("rev_dec").desc(), F.col("o_custkey")
    )
    return (
        joined.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= 3)
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_custkey").alias("customer_id"),
            F.col("rev_dec").cast("double").alias("revenue"),
            F.col("rn"),
        )
    )


SQL_TOP_CUSTOMERS_PER_SEGMENT = """
WITH rev AS (
  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev_dec
  FROM orders GROUP BY o_custkey
)
SELECT c_mktsegment AS segment,
       o_custkey AS customer_id,
       CAST(rev_dec AS DOUBLE) AS revenue,
       CAST(row_number() OVER (PARTITION BY c_mktsegment
                               ORDER BY rev_dec DESC, o_custkey) AS BIGINT) AS rn
FROM rev JOIN customer ON o_custkey = c_custkey
QUALIFY rn <= 3
"""


def q_revenue_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """ROLLUP aggregation over the region->nation->customer snowflake;
    nation/region broadcast (tiny dims)."""
    orders = load(spark, sf, "orders")
    customer = load(spark, sf, "customer")
    nation = load(spark, sf, "nation")
    region = load(spark, sf, "region")
    joined = (
        orders.join(
            customer.select("c_custkey", "c_nationkey"),
            orders["o_custkey"] == F.col("c_custkey"),
        )
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        joined.rollup(
            F.col("r_name").alias("region_name"),
            F.col("n_name").alias("nation_name"),
        )
        .agg(
            _dec_sum(F.col("o_totalprice"), 2, "revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


SQL_REVENUE_ROLLUP = """
SELECT r_name AS region_name, n_name AS nation_name,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


# ----------------------------------------------------- events / time


def q_events_hourly(spark: SparkSession, sf: str) -> DataFrame:
    """Tumbling event-time window aggregation (the batch shape of the
    streaming windowed agg in streaming/windows.py).

    Event time is bigint microseconds (see data.load: parquet
    TIMESTAMP_NS exceeds Spark's precision); hour buckets are exact
    integer arithmetic in both engines."""
    ev = load(spark, sf, "events")
    hour_us = F.col("ts_us") - (F.col("ts_us") % F.lit(3600000000))
    return (
        ev.groupBy(hour_us.alias("hour_start_us"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dec_sum(F.col("value"), 2, "sum_value"),
        )
    )


SQL_EVENTS_HOURLY = """
SELECT epoch_us(ts) - (epoch_us(ts) % 3600000000) AS hour_start_us,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
"""


def q_events_json_kv(spark: SparkSession, sf: str) -> DataFrame:
    """JSON extraction from a string column (get_json_object) — the
    scalar-level JSON path the reference only does at source level."""
    ev = load(spark, sf, "events")
    return ev.select(
        "event_id",
        F.get_json_object(F.col("props"), "$.k").cast("bigint").alias("k"),
    )


SQL_EVENTS_JSON_KV = """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
FROM events
"""


def q_props_variant_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-structured stats through Spark 4's VARIANT type:
    ``parse_json`` once into a variant column, then typed
    ``variant_get`` extraction and a ``schema_of_variant_agg``
    readout per event type — the shredding-friendly path that
    replaces repeated string JSON parsing at scale (the variant
    binary is parsed ONCE per row; every downstream access is a
    field lookup, not a re-parse).  Certified value-for-value
    against classic JSON-path extraction in DuckDB, which is the
    point: the new storage path changes nothing about the answers.
    """
    ev = load(spark, sf, "events")
    v = ev.select(
        "event_type", F.parse_json(F.col("props")).alias("v")
    ).select(
        "event_type",
        F.variant_get(F.col("v"), "$.k", "bigint").alias("k"),
        F.col("v"),
    )
    return (
        v.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.count("k").cast("bigint").alias("n_k"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.min("k").cast("bigint").alias("min_k"),
            F.max("k").cast("bigint").alias("max_k"),
            F.schema_of_variant_agg("v").alias("merged_schema"),
        )
        .orderBy("event_type")
    )


SQL_PROPS_VARIANT_STATS = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT))
            AS BIGINT) AS n_k,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
            AS BIGINT) AS sum_k,
       CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT))
            AS BIGINT) AS min_k,
       CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT))
            AS BIGINT) AS max_k,
       'OBJECT<k: BIGINT>' AS merged_schema
FROM events
GROUP BY 1
ORDER BY 1
"""


def q_pipe_syntax_flag_stats(spark: SparkSession, sf: str) -> DataFrame:
    """The Q1 pricing-summary shape written in Spark 4's SQL PIPE
    syntax (`FROM ... |> WHERE |> AGGREGATE ... GROUP BY |> ORDER
    BY`) — same Catalyst plan as the classic form, so the feature
    costs nothing at scale; certified value-for-value against the
    classic formulation in DuckDB.  Money sums ride the cent-scaled
    BIGINT rail."""
    load(spark, sf, "lineitem").createOrReplaceTempView(
        "pipe_lineitem_v"
    )
    return spark.sql(
        """
        FROM pipe_lineitem_v
        |> WHERE l_shipdate <= DATE '1998-09-02'
        |> EXTEND CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                       AS BIGINT) AS cents
        |> AGGREGATE COUNT(*) AS n_rows,
                     CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
                     SUM(cents) AS sum_cents
           GROUP BY l_returnflag, l_linestatus
        |> ORDER BY l_returnflag, l_linestatus
        """
    )


SQL_PIPE_SYNTAX_FLAG_STATS = """
SELECT l_returnflag, l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
       CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                     AS BIGINT)) AS BIGINT) AS sum_cents
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY 1, 2
ORDER BY 1, 2
"""


def q_sessionize_events(spark: SparkSession, sf: str) -> DataFrame:
    """Gap-based sessionization (30 min) -> per-session stats."""
    ev = load(spark, sf, "events").withColumn(
        "ts_sec", F.expr("ts_us DIV 1000000")
    )
    sessions = sessionize(
        ev, user_col="user_id", ts_col="ts_us", gap_seconds=1800,
        order_tiebreak="event_id", seconds_col="ts_sec",
    )
    return session_stats(sessions, ts_col="ts_us").select(
        "user_id",
        "session_id",
        "n_events",
        F.col("session_start").alias("session_start_us"),
        F.col("session_end").alias("session_end_us"),
    )


SQL_SESSIONIZE_EVENTS = """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
), flagged AS (
  SELECT user_id, event_id, ts_us,
         CASE WHEN lag(ts_us) OVER w IS NULL
                OR (ts_us // 1000000) - (lag(ts_us) OVER w // 1000000) > 1800
              THEN 1 ELSE 0 END AS boundary
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
), sess AS (
  SELECT user_id, ts_us,
         CAST(SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS session_id
  FROM flagged
)
SELECT user_id, session_id, COUNT(*) AS n_events,
       MIN(ts_us) AS session_start_us, MAX(ts_us) AS session_end_us
FROM sess GROUP BY 1, 2
"""


def q_session_conversion_daily(spark: SparkSession, sf: str) -> DataFrame:
    """Daily session conversion — the funnel KPI computed on TOP of
    gap sessionization (composition the driver checks end-to-end):
    sessions containing a ``purchase`` event over all sessions, per
    session-start day, plus mean session depth.

    Scale: sessionization's one user-keyed window shuffle, a
    same-key per-session aggregate (map-side partial), then a
    by-day rollup over the tiny session relation; day numbers are
    integer days since epoch (engine/timezone neutral)."""
    ev = load(spark, sf, "events").withColumn(
        "ts_sec", F.expr("ts_us DIV 1000000")
    )
    sessions = sessionize(
        ev, user_col="user_id", ts_col="ts_us", gap_seconds=1800,
        order_tiebreak="event_id", seconds_col="ts_sec",
    )
    per_sess = sessions.groupBy("user_id", "session_id").agg(
        F.min("ts_us").alias("start_us"),
        F.count("*").alias("n_events"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted"),
    )
    return (
        per_sess.groupBy(
            F.expr("start_us DIV 86400000000").alias("day_nr")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_sessions"),
            F.sum("converted").cast("bigint").alias("n_converted"),
            F.round(F.sum("converted") / F.count("*"), 6).alias(
                "conversion_rate"
            ),
            F.round(F.avg("n_events"), 6).alias("avg_session_events"),
        )
    )


SQL_SESSION_CONVERSION_DAILY = """
WITH e AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
  FROM events
), flagged AS (
  SELECT user_id, event_id, event_type, ts_us,
         CASE WHEN lag(ts_us) OVER w IS NULL
                OR (ts_us // 1000000) - (lag(ts_us) OVER w // 1000000) > 1800
              THEN 1 ELSE 0 END AS boundary
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
), sess AS (
  SELECT user_id, event_type, ts_us,
         SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
), per_sess AS (
  SELECT user_id, session_id,
         MIN(ts_us) AS start_us,
         COUNT(*) AS n_events,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS converted
  FROM sess GROUP BY 1, 2
)
SELECT start_us // 86400000000 AS day_nr,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(converted) AS BIGINT) AS n_converted,
       ROUND(SUM(converted) / CAST(COUNT(*) AS DOUBLE), 6)
         AS conversion_rate,
       ROUND(AVG(n_events), 6) AS avg_session_events
FROM per_sess
GROUP BY 1
"""


def q_dedup_events_keep_latest(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic keep-latest dedup via window row_number — the
    reproducible variant of the reference's arbitrary-survivor
    dropDuplicates (SURVEY 2.5 / A1)."""
    ev = load(spark, sf, "events")
    latest = dedup_keep_latest(
        ev, keys=["user_id"], order_by="ts_us", tiebreak=["event_id"]
    )
    return latest.select("user_id", "event_id", "ts_us", "event_type")


SQL_DEDUP_EVENTS_KEEP_LATEST = """
SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type
FROM events
QUALIFY row_number() OVER (PARTITION BY user_id
                           ORDER BY epoch_us(ts) DESC, event_id DESC) = 1
"""


# ------------------------------------------------------------ set ops


def q_set_ops_customers(spark: SparkSession, sf: str) -> DataFrame:
    """INTERSECT / EXCEPT (SURVEY 2.7): customers active in orders but
    absent from high-value orders."""
    orders = load(spark, sf, "orders")
    all_cust = orders.select(F.col("o_custkey").alias("customer_id"))
    big_cust = orders.filter(F.col("o_totalprice") > 400000).select(
        F.col("o_custkey").alias("customer_id")
    )
    return all_cust.distinct().exceptAll(big_cust.distinct())


SQL_SET_OPS_CUSTOMERS = """
SELECT DISTINCT o_custkey AS customer_id FROM orders
EXCEPT
SELECT DISTINCT o_custkey AS customer_id FROM orders WHERE o_totalprice > 400000
"""


# ----------------------------------------------------- batch 2: windows,
# multi-dim aggs, as-of join


def q_customer_running_spend(spark: SparkSession, sf: str) -> DataFrame:
    """Analytic windows: rank, running sum, lag — one shuffle on the
    partition key serves all three (same window frame family)."""
    from ..queries.data import load as _load

    o = _load(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        F.col("o_custkey").alias("customer_id"),
        F.col("o_orderkey").alias("order_key"),
        F.row_number().over(w).cast("bigint").alias("order_rank"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(run)
        .cast("double")
        .alias("running_spend"),
        F.lag("o_totalprice").over(w).alias("prev_price"),
    )


SQL_CUSTOMER_RUNNING_SPEND = """
SELECT o_custkey AS customer_id,
       o_orderkey AS order_key,
       CAST(row_number() OVER w AS BIGINT) AS order_rank,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_spend,
       lag(o_totalprice) OVER w AS prev_price
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


def q_order_priority_cube(spark: SparkSession, sf: str) -> DataFrame:
    """CUBE over two dimensions (SURVEY 2.4 'free via cube')."""
    o = load(spark, sf, "orders")
    return o.cube("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        _dec_sum(F.col("o_totalprice"), 2, "revenue"),
    )


SQL_ORDER_PRIORITY_CUBE = """
SELECT o_orderpriority, o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders
GROUP BY CUBE (o_orderpriority, o_orderstatus)
"""


def q_returnflag_pivot(spark: SparkSession, sf: str) -> DataFrame:
    """Pivot (explicit value list -> single pass, no extra job to
    discover pivot values — the form that scales)."""
    li = load(spark, sf, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double"))
    )


SQL_RETURNFLAG_PIVOT = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN l_linestatus = 'O'
                     THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS "O",
       CAST(SUM(CASE WHEN l_linestatus = 'F'
                     THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS "F"
FROM lineitem
GROUP BY l_returnflag
"""


def q_segment_distinct_customers(spark: SparkSession, sf: str) -> DataFrame:
    """Distinct aggregation (exact) alongside plain counts."""
    o = load(spark, sf, "orders")
    c = load(spark, sf, "customer")
    joined = o.join(
        c.select("c_custkey", "c_mktsegment"),
        o["o_custkey"] == F.col("c_custkey"),
    )
    return joined.groupBy("c_mktsegment").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


SQL_SEGMENT_DISTINCT_CUSTOMERS = """
SELECT c_mktsegment,
       COUNT(DISTINCT o_custkey) AS n_customers,
       COUNT(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def q_asof_latest_order(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join (operators.asof): each event picks up the user's
    most recent order at event time; ties on order timestamp resolve
    to the max order key in both engines."""
    from ..operators.asof import asof_join

    from .data import ntz_epoch_us

    ev = load(spark, sf, "events").select("event_id", "user_id", "ts_us")
    o = load(spark, sf, "orders").select(
        "o_custkey",
        F.col("o_orderkey").alias("order_key"),
        ntz_epoch_us("o_orderdate").alias("order_ts_us"),
    )
    out = asof_join(
        ev,
        o,
        left_on="user_id",
        right_on="o_custkey",
        left_ts="ts_us",
        right_ts="order_ts_us",
        right_values=["order_key"],
        tiebreak="order_key",
    )
    return out.select(
        "event_id", "user_id", "ts_us", "order_key",
        F.col("asof_ts").alias("order_ts_us"),
    )


SQL_ASOF_LATEST_ORDER = """
WITH e AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
), o AS (
  SELECT o_custkey, o_orderkey AS order_key,
         epoch_us(o_orderdate) AS order_ts_us
  FROM orders
  QUALIFY row_number() OVER (PARTITION BY o_custkey, o_orderdate
                             ORDER BY o_orderkey DESC) = 1
)
SELECT e.event_id, e.user_id, e.ts_us, o.order_key, o.order_ts_us
FROM e ASOF LEFT JOIN o
  ON e.user_id = o.o_custkey AND e.ts_us >= o.order_ts_us
"""


def q_scd1_upsert(spark: SparkSession, sf: str) -> DataFrame:
    """SCD-1 keep-latest merge (operators.merge.merge_keep_latest —
    the relational core of the reference's dim maintenance, SURVEY
    4.3-L6).  Base = orders at version 1; the update batch re-prices
    every 10th order (+10%) at version 2 AND every 20th again (+25%,
    status 'X') at version 3 — multiple update rows per key — plus
    brand-new keys (base max + offset) to exercise the insert path.
    ONE shuffle on the merge key."""
    from ..operators.merge import merge_keep_latest

    o = load(spark, sf, "orders").select(
        F.col("o_orderkey").alias("order_key"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("total"),
    )
    base = o.withColumn("version", F.lit(1).cast("int"))
    upd2 = (
        o.filter(F.col("order_key") % 10 == 0)
        .withColumn("total", F.col("total") * 1.10)
        .withColumn("version", F.lit(2).cast("int"))
    )
    upd3 = (
        o.filter(F.col("order_key") % 20 == 0)
        .withColumn("total", F.col("total") * 1.25)
        .withColumn("status", F.lit("X"))
        .withColumn("version", F.lit(3).cast("int"))
    )
    inserts = (
        o.filter(F.col("order_key") % 50 == 0)
        .withColumn("order_key", F.col("order_key") + F.lit(10_000_000))
        .withColumn("status", F.lit("N"))
        .withColumn("version", F.lit(2).cast("int"))
    )
    updates = upd2.unionByName(upd3).unionByName(inserts)
    return merge_keep_latest(base, updates, ["order_key"], "version")


SQL_SCD1_UPSERT = """
WITH o AS (
  SELECT o_orderkey AS order_key, o_orderstatus AS status,
         o_totalprice AS total
  FROM orders
), all_rows AS (
  SELECT order_key, status, total, CAST(1 AS INT) AS version FROM o
  UNION ALL
  SELECT order_key, status, total * 1.10, CAST(2 AS INT)
  FROM o WHERE order_key % 10 = 0
  UNION ALL
  SELECT order_key, 'X', total * 1.25, CAST(3 AS INT)
  FROM o WHERE order_key % 20 = 0
  UNION ALL
  SELECT order_key + 10000000, 'N', total, CAST(2 AS INT)
  FROM o WHERE order_key % 50 = 0
)
SELECT order_key, status, total, version
FROM all_rows
QUALIFY row_number() OVER (PARTITION BY order_key
                           ORDER BY version DESC) = 1
"""


QUERIES = (
    ("fact_sales", q_fact_sales, SQL_FACT_SALES),
    ("dim_customer", q_dim_customer, SQL_DIM_CUSTOMER),
    ("dim_part", q_dim_part, SQL_DIM_PART),
    ("dq_violation_counts", q_dq_violation_counts, SQL_DQ_VIOLATION_COUNTS),
    ("dq_failing_rows", q_dq_failing_rows, SQL_DQ_FAILING_ROWS),
    ("orphan_orders", q_orphan_orders, SQL_ORPHAN_ORDERS),
    ("orders_with_big_items", q_orders_with_big_items,
     SQL_ORDERS_WITH_BIG_ITEMS),
    ("pricing_summary", q_pricing_summary, SQL_PRICING_SUMMARY),
    ("top_customers_per_segment", q_top_customers_per_segment,
     SQL_TOP_CUSTOMERS_PER_SEGMENT),
    ("revenue_rollup", q_revenue_rollup, SQL_REVENUE_ROLLUP),
    ("events_hourly", q_events_hourly, SQL_EVENTS_HOURLY),
    ("events_json_kv", q_events_json_kv, SQL_EVENTS_JSON_KV),
    ("props_variant_stats", q_props_variant_stats, SQL_PROPS_VARIANT_STATS),
    ("pipe_syntax_flag_stats", q_pipe_syntax_flag_stats,
     SQL_PIPE_SYNTAX_FLAG_STATS),
    ("sessionize_events", q_sessionize_events, SQL_SESSIONIZE_EVENTS),
    ("session_conversion_daily", q_session_conversion_daily,
     SQL_SESSION_CONVERSION_DAILY),
    ("dedup_events_keep_latest", q_dedup_events_keep_latest,
     SQL_DEDUP_EVENTS_KEEP_LATEST),
    ("set_ops_customers", q_set_ops_customers, SQL_SET_OPS_CUSTOMERS),
    ("customer_running_spend", q_customer_running_spend,
     SQL_CUSTOMER_RUNNING_SPEND),
    ("order_priority_cube", q_order_priority_cube, SQL_ORDER_PRIORITY_CUBE),
    ("returnflag_pivot", q_returnflag_pivot, SQL_RETURNFLAG_PIVOT),
    ("segment_distinct_customers", q_segment_distinct_customers,
     SQL_SEGMENT_DISTINCT_CUSTOMERS),
    ("asof_latest_order", q_asof_latest_order, SQL_ASOF_LATEST_ORDER),
    ("scd1_upsert", q_scd1_upsert, SQL_SCD1_UPSERT),
)
SPARK_QUERIES, ORACLE_SQL = registry(QUERIES)
