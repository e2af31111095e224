"""Batch-3 analytic queries: percentiles, grouping sets, band join,
semi-join (EXISTS), scalar-subquery join-back, full outer join,
deep multi-join, and exact embedding similarity.

Same numeric policy as ``core.py``: exact decimal sums for money,
rounding for ratios, bigint counts, ISO date strings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


from ..functions import text as TX
from ..functions.window import const_bucket
from ..operators.rangejoin import band_join
from ..sources.tables import local_table
from .core import _dec_sum
from .data import load, registry


# ------------------------------------------------------- percentiles


def q_price_percentiles(spark: SparkSession, sf: str) -> DataFrame:
    """Exact interpolated percentiles per group (sort-based exact
    percentile — the approx_percentile sketch is the 100 TB variant,
    but it has no cross-engine-stable result)."""
    li = load(spark, sf, "lineitem")
    p = lambda q: F.round(F.percentile(F.col("l_extendedprice"), F.lit(q)), 6)
    return li.groupBy("l_returnflag").agg(
        p(0.25).alias("p25"),
        p(0.5).alias("p50"),
        p(0.75).alias("p75"),
        F.round(F.min("l_extendedprice"), 6).alias("lo"),
        F.round(F.max("l_extendedprice"), 6).alias("hi"),
    )


SQL_PRICE_PERCENTILES = """
SELECT l_returnflag,
       ROUND(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
       ROUND(quantile_cont(l_extendedprice, 0.50), 6) AS p50,
       ROUND(quantile_cont(l_extendedprice, 0.75), 6) AS p75,
       ROUND(MIN(l_extendedprice), 6) AS lo,
       ROUND(MAX(l_extendedprice), 6) AS hi
FROM lineitem
GROUP BY l_returnflag
"""


def q_price_percentiles_approx(spark: SparkSession, sf: str) -> DataFrame:
    """The 100 TB percentile: ``approx_percentile`` (Greenwald-Khanna
    sketch) — mergeable partial state, map-side combine, NO per-group
    sort buffer (the exact ``percentile`` buffers every value per
    group; this buffers O(accuracy)).

    Oracle-exact by construction, not by luck: the GK guarantee is
    rank error <= n/accuracy, so with accuracy chosen such that
    n/accuracy < 1 the returned element's rank is EXACTLY the target
    — i.e. the discrete order statistic DuckDB's ``quantile_disc``
    computes.  At real scale you drop ``accuracy`` to trade memory
    for bounded error; the plan shape is identical."""
    li = load(spark, sf, "lineitem")
    pct = F.approx_percentile(
        F.col("l_extendedprice"),
        F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)),
        F.lit(2_000_000),
    )
    return (
        li.groupBy("l_returnflag")
        .agg(pct.alias("q"), F.count(F.lit(1)).alias("n_items"))
        .select(
            "l_returnflag",
            F.col("q")[0].alias("p25"),
            F.col("q")[1].alias("p50"),
            F.col("q")[2].alias("p75"),
            "n_items",
        )
    )


SQL_PRICE_PERCENTILES_APPROX = """
SELECT l_returnflag,
       quantile_disc(l_extendedprice, 0.25) AS p25,
       quantile_disc(l_extendedprice, 0.50) AS p50,
       quantile_disc(l_extendedprice, 0.75) AS p75,
       COUNT(*) AS n_items
FROM lineitem
GROUP BY l_returnflag
"""


# ----------------------------------------------------- grouping sets


def q_revenue_grouping_sets(spark: SparkSession, sf: str) -> DataFrame:
    """Explicit GROUPING SETS (finer control than cube/rollup): region
    totals, region x nation, and grand total in ONE pass (Spark
    expands sets map-side; one shuffle)."""
    o = load(spark, sf, "orders")
    c = load(spark, sf, "customer")
    n = load(spark, sf, "nation")
    r = load(spark, sf, "region")
    joined = (
        o.join(c.select("c_custkey", "c_nationkey"),
               o["o_custkey"] == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return joined.groupingSets(
        [["r_name"], ["r_name", "n_name"], []], "r_name", "n_name"
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        _dec_sum(F.col("o_totalprice"), 2, "revenue"),
    )


SQL_REVENUE_GROUPING_SETS = """
SELECT r_name, n_name,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY GROUPING SETS ((r_name), (r_name, n_name), ())
"""


# -------------------------------------------------------- band join


def q_events_band_join(spark: SparkSession, sf: str) -> DataFrame:
    """Bucketed band self-join: same-type event pairs within 10
    minutes (operators.rangejoin — scales with matching pairs, not
    |L| x |R|)."""
    ev = load(spark, sf, "events").select("event_id", "event_type", "ts_us")
    l = ev.select(
        F.col("event_id").alias("id_a"),
        "event_type",
        F.col("ts_us").alias("ts_a"),
    )
    r = ev.select(
        F.col("event_id").alias("id_b"),
        "event_type",
        F.col("ts_us").alias("ts_b"),
    )
    out = band_join(
        l, r, "ts_a", "ts_b", lower=0, upper=600_000_000,
        keys=["event_type"],
    )
    return out.select(
        "event_type", "id_a", "id_b",
        (F.col("ts_b") - F.col("ts_a")).alias("delta_us"),
    )


SQL_EVENTS_BAND_JOIN = """
SELECT a.event_type,
       a.event_id AS id_a,
       b.event_id AS id_b,
       epoch_us(b.ts) - epoch_us(a.ts) AS delta_us
FROM events a
JOIN events b
  ON a.event_type = b.event_type
 AND epoch_us(b.ts) >  epoch_us(a.ts)
 AND epoch_us(b.ts) <= epoch_us(a.ts) + 600000000
"""


# --------------------------------------------- EXISTS / semi (Q4-ish)


def q_late_shipment_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Orders with >=1 lineitem shipped >90 days after order date,
    counted per priority — LEFT SEMI join (EXISTS shape): the probe
    side never duplicates, so the count stays per-order."""
    o = load(spark, sf, "orders")
    li = load(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (o["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"] > F.date_add(o["o_orderdate"], 90)),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_late_orders")
    )


SQL_LATE_SHIPMENT_ORDERS = """
SELECT o_orderpriority, COUNT(*) AS n_late_orders
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey
    AND l_shipdate > o_orderdate + INTERVAL 90 DAY
)
GROUP BY o_orderpriority
"""


# ------------------------------------- scalar-subquery shape (Q17-ish)


def q_brand_small_quantity_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """Per-part average join-back: lineitems below half their part's
    average quantity, revenue per brand.  The per-part aggregate is
    tiny relative to lineitem -> broadcast the join-back (Catalyst
    cannot decorrelate this by itself as cheaply)."""
    li = load(spark, sf, "lineitem")
    part = load(spark, sf, "part").select("p_partkey", "p_brand")
    avg_q = li.groupBy("l_partkey").agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    # avg_q / part scale with the data (unlike nation/region): no
    # forced broadcast — AQE sizes them at runtime and picks BHJ only
    # when they actually fit the threshold
    small = li.join(avg_q, "l_partkey").filter(
        F.col("l_quantity") < 0.5 * F.col("avg_qty")
    )
    return (
        small.join(part, small["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            _dec_sum(F.col("l_extendedprice"), 2, "revenue"),
        )
    )


SQL_BRAND_SMALL_QUANTITY_REVENUE = """
WITH avg_q AS (
  SELECT l_partkey AS pk, AVG(l_quantity) AS avg_qty
  FROM lineitem GROUP BY l_partkey
)
SELECT p_brand,
       COUNT(*) AS n_lines,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM lineitem
JOIN avg_q ON l_partkey = pk
JOIN part  ON l_partkey = p_partkey
WHERE l_quantity < 0.5 * avg_qty
GROUP BY p_brand
"""


# ------------------------------------------------- full outer join


def q_daily_activity(spark: SparkSession, sf: str) -> DataFrame:
    """Daily order counts FULL OUTER daily event counts — the date
    domains barely overlap, so both null sides are exercised.  Days
    derive from integer epoch math (timezone-free, see data.py)."""
    o = load(spark, sf, "orders")
    ev = load(spark, sf, "events")
    o_daily = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_orders"))
    e_daily = ev.groupBy(
        F.date_format(
            F.date_add(
                F.to_date(F.lit("1970-01-01")),
                (F.col("ts_us") / F.lit(86_400_000_000)).cast("int"),
            ),
            "yyyy-MM-dd",
        ).alias("day")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    return o_daily.join(e_daily, "day", "full_outer")


SQL_DAILY_ACTIVITY = """
WITH o_daily AS (
  SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS day,
         COUNT(*) AS n_orders
  FROM orders GROUP BY 1
), e_daily AS (
  SELECT strftime(DATE '1970-01-01'
                  + INTERVAL (CAST(epoch_us(ts) // 86400000000 AS INT)) DAY,
                  '%Y-%m-%d') AS day,
         COUNT(*) AS n_events
  FROM events GROUP BY 1
)
SELECT COALESCE(o.day, e.day) AS day, o.n_orders, e.n_events
FROM o_daily o FULL OUTER JOIN e_daily e ON o.day = e.day
"""


# ------------------------------------------------ deep multi-join (Q5)


def q_asia_nation_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table join, revenue per nation for one
    region.  Fixed-cardinality dims (nation, region) are broadcast
    explicitly; customer/supplier scale with the data, so their join
    strategy is left to AQE (runtime-sized broadcast or shuffle)."""
    li = load(spark, sf, "lineitem")
    o = load(spark, sf, "orders").select("o_orderkey", "o_custkey")
    c = load(spark, sf, "customer").select("c_custkey", "c_nationkey")
    s = load(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    n = load(spark, sf, "nation")
    r = load(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, F.col("o_custkey") == c["c_custkey"])
        .join(
            s,
            (li["l_suppkey"] == s["s_suppkey"])
            & (c["c_nationkey"] == s["s_nationkey"]),
        )
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("n_name")
        .agg(_dec_sum(rev.cast("decimal(18,4)"), 4, "revenue"))
    )


SQL_ASIA_NATION_REVENUE = """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
            AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
"""


# --------------------------------------------- top-k join-agg (Q3)


def q_top_unshipped_orders(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q3 shape: segment filter -> join -> grouped revenue ->
    deterministic top-10 (TakeOrdered, not a global sort)."""
    cutoff = F.lit("1996-06-30 00:00:00").cast("timestamp_ntz")
    c = load(spark, sf, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    o = load(spark, sf, "orders").filter(F.col("o_orderdate") < cutoff)
    li = load(spark, sf, "lineitem").filter(F.col("l_shipdate") > cutoff)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(
            F.col("l_orderkey").alias("order_key"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_orderpriority",
        )
        .agg(_dec_sum(rev.cast("decimal(18,4)"), 4, "revenue"))
        .orderBy(F.col("revenue").desc(), "order_key")
        .limit(10)
    )


SQL_TOP_UNSHIPPED_ORDERS = """
SELECT l_orderkey AS order_key,
       strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS order_date,
       o_orderpriority,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
            AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1996-06-30 00:00:00'
  AND l_shipdate  > TIMESTAMP '1996-06-30 00:00:00'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, order_key
LIMIT 10
"""


# --------------------------------------- range-frame window


def q_customer_recent_spend(spark: SparkSession, sf: str) -> DataFrame:
    """RANGE window frame: per order, the customer's spend over the
    previous 30 days (value-based frame — rows frames can't express
    this when order days are irregular)."""
    from pyspark.sql import Window

    o = load(spark, sf, "orders")
    day = F.unix_date(F.col("o_orderdate").cast("date"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(day)
        .rangeBetween(-30, -1)
    )
    prev = F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w)
    return o.select(
        F.col("o_orderkey").alias("order_key"),
        F.col("o_custkey").alias("customer_id"),
        day.cast("bigint").alias("day"),
        F.coalesce(prev.cast("double"), F.lit(0.0)).alias("spend_prev_30d"),
    )


SQL_CUSTOMER_RECENT_SPEND = """
SELECT o_orderkey AS order_key,
       o_custkey AS customer_id,
       CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
            AS BIGINT) AS day,
       COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
           PARTITION BY o_custkey
           ORDER BY datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
           RANGE BETWEEN 30 PRECEDING AND 1 PRECEDING
       ) AS DOUBLE), 0.0) AS spend_prev_30d
FROM orders
"""


# --------------------------------------- exact embedding similarity


def q_embedding_top_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Top-100 most-similar embedding pairs, exact brute-force self
    join (the correctness baseline for the LSH variant).  Vectors are
    L2-normalized BEFORE the join so the per-pair work is one dot
    product; top-k runs as per-partition TakeOrdered + driver merge,
    not a global sort."""
    from ..operators.similarity import cosine_pairs

    emb = load(spark, sf, "embeddings")
    pairs = cosine_pairs(emb, "vec_id", "embedding", threshold=None)
    return pairs.orderBy(
        F.col("cosine_sim").desc(), "id_a", "id_b"
    ).limit(100)


SQL_EMBEDDING_TOP_PAIRS = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 4)
         AS cosine_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
ORDER BY cosine_sim DESC, id_a, id_b
LIMIT 100
"""


#: LSH pair-mining parameters shared by the Spark query and its
#: generated oracle — change in ONE place only.
_LSH_PAIRS = dict(n_bands=12, n_bits=8, dim=64, seed=42, max_bucket=1000)


def q_embedding_top_pairs_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """Top-100 similar pairs via banded hyperplane LSH — the scale
    path that replaces the brute-force cartesian of
    ``embedding_top_pairs``: candidates come from (band, signature)
    bucket self-joins, exact cosine reranks only candidates.  Fully
    seeded/deterministic, so the oracle replicates it exactly."""
    from ..operators.similarity import lsh_pairs

    emb = load(spark, sf, "embeddings")
    pairs = lsh_pairs(emb, "vec_id", "embedding", **_LSH_PAIRS)
    return pairs.orderBy(
        F.col("cosine_sim").desc(), "id_a", "id_b"
    ).limit(100)


def q_embedding_neardup_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup pairs (cosine >= 0.5) via the same banded LSH — the
    scale twin of ``embedding_neardup``.  Recall for borderline pairs
    is a (n_bands, n_bits) parameter choice; the oracle replicates
    the seeded procedure exactly, so whatever it recalls is
    value-checked."""
    from ..operators.similarity import lsh_pairs

    emb = load(spark, sf, "embeddings")
    pairs = lsh_pairs(emb, "vec_id", "embedding", threshold=0.5, **_LSH_PAIRS)
    return pairs.orderBy("id_a", "id_b")


def _sql_lsh_pairs(tail: str) -> str:
    """Generate the DuckDB twin of ``operators.similarity.lsh_pairs``
    at the ``_LSH_PAIRS`` parameters: the seeded hyperplanes are
    emitted as array literals (float64 repr round-trips exactly), the
    sign-bit signatures as CASE sums, banding/cap/candidate/rerank as
    plain SQL; ``tail`` appends the query-specific filter/order.
    Same construction as the md5 MinHash oracle: determinism makes
    approximate operators value-checkable."""
    from ..operators.similarity import band_hyperplanes, band_signatures_sql

    p = _LSH_PAIRS
    planes = band_hyperplanes(p["dim"], p["n_bands"], p["n_bits"], p["seed"])
    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sigs AS ({band_signatures_sql(planes)}),
capped AS (
  SELECT vec_id, band, sig FROM sigs
  QUALIFY COUNT(*) OVER (PARTITION BY band, sig) <= {p["max_bucket"]}
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM capped a JOIN capped b
    ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
),
scored AS (
  SELECT c.id_a, c.id_b,
         ROUND(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                      CAST(eb.embedding AS DOUBLE[])), 4)
           AS cosine_sim
  FROM cand c
  JOIN embeddings ea ON ea.vec_id = c.id_a
  JOIN embeddings eb ON eb.vec_id = c.id_b
)
SELECT id_a, id_b, cosine_sim FROM scored
{tail}
"""


def sql_embedding_top_pairs_lsh() -> str:
    return _sql_lsh_pairs("ORDER BY cosine_sim DESC, id_a, id_b\nLIMIT 100")


def sql_embedding_neardup_lsh() -> str:
    return _sql_lsh_pairs("WHERE cosine_sim >= 0.5\nORDER BY id_a, id_b")


# ------------------------------------------- scalar-function breadth


def q_order_date_math(spark: SparkSession, sf: str) -> DataFrame:
    """Date/interval function coverage (year/quarter/iso-dow/
    last_day/add_months/datediff) — all timezone-free on the NTZ
    order date; grouped so the output is compact."""
    o = load(spark, sf, "orders")
    d = F.col("o_orderdate").cast("date")
    return (
        o.select(
            F.year(d).alias("yr"),
            F.quarter(d).alias("qtr"),
            (F.weekday(d) + 1).cast("int").alias("isodow"),
            F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
            F.date_format(F.add_months(d, 2), "yyyy-MM-dd").alias("plus_2m"),
            F.datediff(d, F.to_date(F.lit("1995-01-01"))).alias("days_since"),
        )
        .groupBy("yr", "qtr", "isodow")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.max("month_end").alias("max_month_end"),
            F.max("plus_2m").alias("max_plus_2m"),
            F.max("days_since").cast("bigint").alias("max_days_since"),
        )
    )


SQL_ORDER_DATE_MATH = """
WITH t AS (
  SELECT CAST(o_orderdate AS DATE) AS d FROM orders
)
SELECT CAST(year(d) AS INT) AS yr,
       CAST(quarter(d) AS INT) AS qtr,
       CAST(isodow(d) AS INT) AS isodow,
       COUNT(*) AS n_orders,
       MAX(strftime(last_day(d), '%Y-%m-%d')) AS max_month_end,
       MAX(strftime(d + INTERVAL 2 MONTH, '%Y-%m-%d')) AS max_plus_2m,
       CAST(MAX(datediff('day', DATE '1995-01-01', d)) AS BIGINT)
         AS max_days_since
FROM t
GROUP BY 1, 2, 3
"""


def q_token_array_ops(spark: SparkSession, sf: str) -> DataFrame:
    """Array-function coverage over document tokens: distinct size,
    sorted prefix, membership, existence predicate."""
    d = load(spark, sf, "documents")
    toks = F.array_distinct(TX.nonempty_tokens("text"))
    return d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_distinct_tokens"),
        F.concat_ws("|", F.slice(F.array_sort(toks), 1, 3)).alias("first3"),
        F.arrays_overlap(
            toks, F.array(F.lit("the"), F.lit("and"))
        ).alias("has_stopword"),
        F.exists(toks, lambda t: t.contains("data")).alias("mentions_data"),
    )


SQL_TOKEN_ARRAY_OPS = f"""
WITH t AS (
  SELECT doc_id, list_distinct({TX.nonempty_tokens_sql()}) AS toks
  FROM documents
)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_distinct_tokens,
       array_to_string(list_sort(toks)[1:3], '|') AS first3,
       len(list_intersect(toks, ['the', 'and'])) > 0 AS has_stopword,
       len(list_filter(toks, x -> contains(x, 'data'))) > 0 AS mentions_data
FROM t
"""


def q_events_window_fn(spark: SparkSession, sf: str) -> DataFrame:
    """Built-in ``F.window`` tumbling aggregation in BATCH mode — the
    exact plan the streaming engine runs (streaming/windows.py), minus
    state.  Window alignment is epoch-based so 15-minute buckets are
    timezone-independent; boundaries surface as ``unix_micros`` of the
    LTZ window bounds (also tz-free)."""
    ev = load(spark, sf, "events")
    with_ts = ev.withColumn("ts", F.timestamp_micros(F.col("ts_us")))
    return (
        with_ts.groupBy(F.window("ts", "15 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_micros(F.col("window.start")).alias("window_start_us"),
            F.unix_micros(F.col("window.end")).alias("window_end_us"),
            "event_type",
            "n_events",
        )
    )


SQL_EVENTS_WINDOW_FN = """
SELECT epoch_us(ts) - (epoch_us(ts) % 900000000) AS window_start_us,
       epoch_us(ts) - (epoch_us(ts) % 900000000) + 900000000
         AS window_end_us,
       event_type,
       COUNT(*) AS n_events
FROM events
GROUP BY 1, 2, 3
"""


def q_orders_profile(spark: SparkSession, sf: str) -> DataFrame:
    """One-pass column profiling of orders (operators.profile) —
    exact distinct here so DuckDB can verify; production uses the
    HLL sketch variant.  o_totalprice min/max is pinned to
    decimal(18,2) so its text form is engine-canonical (raw
    double-to-string formatting differs between Spark and DuckDB)."""
    from ..operators.profile import profile_table

    o = load(spark, sf, "orders")
    return profile_table(
        o,
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"],
        exact_distinct=True,
        casts={"o_totalprice": "decimal(18,2)"},
    )


SQL_ORDERS_PROFILE = """
WITH s AS (
  SELECT COUNT(*) AS n_rows FROM orders
)
SELECT col.column, s.n_rows, col.n_nulls, col.n_distinct,
       col.min_value, col.max_value
FROM s, (
  SELECT 'o_orderkey' AS column,
         CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_nulls,
         COUNT(DISTINCT o_orderkey) AS n_distinct,
         CAST(MIN(o_orderkey) AS VARCHAR) AS min_value,
         CAST(MAX(o_orderkey) AS VARCHAR) AS max_value
  FROM orders
  UNION ALL
  SELECT 'o_custkey',
         CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         COUNT(DISTINCT o_custkey),
         CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
  FROM orders
  UNION ALL
  SELECT 'o_orderstatus',
         CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
              AS BIGINT),
         COUNT(DISTINCT o_orderstatus),
         MIN(o_orderstatus), MAX(o_orderstatus)
  FROM orders
  UNION ALL
  SELECT 'o_totalprice',
         CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
              AS BIGINT),
         COUNT(DISTINCT o_totalprice),
         CAST(CAST(MIN(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR),
         CAST(CAST(MAX(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR)
  FROM orders
) col
"""


def q_user_retention_cohorts(spark: SparkSession, sf: str) -> DataFrame:
    """Weekly retention cohorts — THE product-analytics matrix: users
    cohorted by the week of their first event; for each (cohort week,
    weeks-since) cell, how many of them were active and what fraction
    of the cohort that is.  Weeks are integer weeks since epoch
    (``ts_us DIV 7·86400·10⁶``) — engine- and timezone-neutral.

    Scale: distinct (user, week) activity first (ONE shuffle that
    also serves the min-week cohort aggregate), then a user-keyed
    join of activity to cohorts, then the matrix groupBy — cells are
    |weeks|² at most, tiny.  The activity relation is persisted
    across its two consumers (cohort min + the join)."""
    ev = load(spark, sf, "events")
    # integer DIV, not double-divide-then-cast: exact at any
    # timestamp magnitude (truncation-vs-floor only diverges
    # pre-epoch, but the idiom should match session_conversion_daily
    # and the oracle's // everywhere)
    wk = F.expr("ts_us DIV 604800000000")
    activity = (
        ev.select("user_id", wk.alias("week")).distinct().persist()
    )
    cohorts = activity.groupBy("user_id").agg(
        F.min("week").alias("cohort_week")
    )
    sizes = cohorts.groupBy("cohort_week").agg(
        F.count("*").alias("cohort_size")
    )
    return (
        activity.join(cohorts, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(F.count("*").cast("bigint").alias("n_active"))
        .join(F.broadcast(sizes), "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "n_active",
            F.col("cohort_size").cast("bigint").alias("cohort_size"),
            F.round(
                F.col("n_active") / F.col("cohort_size"), 6
            ).alias("retention"),
        )
    )


SQL_USER_RETENTION_COHORTS = """
WITH activity AS (
  SELECT DISTINCT user_id,
         epoch_us(ts) // 604800000000 AS week
  FROM events
), cohorts AS (
  SELECT user_id, MIN(week) AS cohort_week FROM activity GROUP BY 1
), sizes AS (
  SELECT cohort_week, COUNT(*) AS cohort_size FROM cohorts GROUP BY 1
), cells AS (
  SELECT c.cohort_week, a.week - c.cohort_week AS week_offset,
         CAST(COUNT(*) AS BIGINT) AS n_active
  FROM activity a JOIN cohorts c USING (user_id)
  GROUP BY 1, 2
)
SELECT cohort_week, week_offset, n_active,
       CAST(cohort_size AS BIGINT) AS cohort_size,
       ROUND(n_active / CAST(cohort_size AS DOUBLE), 6) AS retention
FROM cells JOIN sizes USING (cohort_week)
"""


def q_order_backlog_daily(spark: SparkSession, sf: str) -> DataFrame:
    """Open-order backlog over time by interval sweep-line: each order
    contributes +1 on its order date and -1 the day after its last
    lineitem ships; the running sum over boundary days IS the backlog
    — no per-day interval join, no date spine.

    Scale: the per-order interval aggregate is one key shuffle; the
    delta relation then has at most 2·|distinct days| rows (thousands
    for decades of data), so the final ordered running-sum window runs
    single-partition over a relation that tiny by construction — the
    sweep-line's whole point is compressing the interval set before
    anything global happens."""
    o = load(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    last_ship = (
        load(spark, sf, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.max(F.col("l_shipdate").cast("date")).alias("last_ship"))
    )
    j = o.join(last_ship, o["o_orderkey"] == last_ship["l_orderkey"])
    deltas = (
        j.select(F.col("o_orderdate").alias("day"), F.lit(1).alias("d"))
        .unionByName(
            j.select(
                F.date_add("last_ship", 1).alias("day"),
                F.lit(-1).alias("d"),
            )
        )
        .groupBy("day")
        .agg(F.sum("d").cast("bigint").alias("delta"))
    )
    # deliberately-global running sum over the calendar-bounded day
    # grain; const_bucket keeps the spec non-empty (see functions/
    # window.py — single partition is the point here)
    w = (
        Window.partitionBy(const_bucket("day"))
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return deltas.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "delta",
        F.sum("delta").over(w).cast("bigint").alias("backlog"),
    )


SQL_ORDER_BACKLOG_DAILY = """
WITH last_ship AS (
  SELECT l_orderkey, MAX(CAST(l_shipdate AS DATE)) AS last_ship
  FROM lineitem GROUP BY 1
), j AS (
  SELECT o_orderdate, last_ship
  FROM orders JOIN last_ship ON o_orderkey = l_orderkey
), deltas AS (
  SELECT day, CAST(SUM(d) AS BIGINT) AS delta FROM (
    SELECT CAST(o_orderdate AS DATE) AS day, 1 AS d FROM j
    UNION ALL
    SELECT last_ship + INTERVAL 1 DAY, -1 FROM j
  ) GROUP BY 1
)
SELECT strftime(day, '%Y-%m-%d') AS day, delta,
       CAST(SUM(delta) OVER (ORDER BY day
                             ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS backlog
FROM deltas
"""


def q_brand_cooccurrence_top(spark: SparkSession, sf: str) -> DataFrame:
    """Market-basket co-occurrence: the top-20 brand pairs appearing
    in the same order — the itemset-mining primitive behind
    "frequently bought together".

    Scale: brands are collapsed to DISTINCT per order FIRST (one key
    shuffle, map-side partial), pairs are generated inside each
    order's collected brand set (bounded: |brands per order| is small
    and capped upstream by basket size, the same in-group generator
    as the LSH bucket pair stage — never a self-join of the fact
    table), then one count shuffle and TakeOrdered for the top-k."""
    li = load(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    part = load(spark, sf, "part").select("p_partkey", "p_brand")
    ob = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    baskets = ob.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("p_brand")).alias("brands")
    )
    pairs_expr = F.flatten(
        F.transform(
            F.col("brands"),
            lambda a, i: F.transform(
                F.slice(F.col("brands"), i + 2, F.size("brands")),
                lambda b: F.struct(a.alias("brand_a"), b.alias("brand_b")),
            ),
        )
    )
    return (
        baskets.select(F.explode(pairs_expr).alias("p"))
        .groupBy("p.brand_a", "p.brand_b")
        .agg(F.count("*").cast("bigint").alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), "brand_a", "brand_b")
        .limit(20)
    )


SQL_BRAND_COOCCURRENCE_TOP = """
WITH ob AS (
  SELECT DISTINCT l_orderkey, p_brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
), pairs AS (
  SELECT a.l_orderkey, a.p_brand AS brand_a, b.p_brand AS brand_b
  FROM ob a JOIN ob b ON a.l_orderkey = b.l_orderkey
   AND a.p_brand < b.p_brand
)
SELECT brand_a, brand_b, CAST(COUNT(*) AS BIGINT) AS n_orders
FROM pairs
GROUP BY 1, 2
ORDER BY n_orders DESC, brand_a, brand_b
LIMIT 20
"""


def q_brand_supplier_hhi(spark: SparkSession, sf: str) -> DataFrame:
    """Supply-concentration per brand: the Herfindahl–Hirschman index
    (sum of squared supplier market shares of shipped quantity) —
    1/n_suppliers when supply is even, →1 as one supplier dominates.

    Scale: two stacked aggregations on subset keys — (brand,
    supplier) quantity first, then the HHI reduce per brand; the
    second groupBy re-uses the first shuffle's partitioning (subset
    key), so only ONE wide exchange touches fact-table cardinality.
    The part dimension broadcasts."""
    li = load(spark, sf, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    part = load(spark, sf, "part").select("p_partkey", "p_brand")
    bs = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand", "l_suppkey")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty")
        )
    )
    return (
        bs.groupBy("p_brand")
        .agg(
            F.count("*").cast("bigint").alias("n_suppliers"),
            F.sum("qty").cast("double").alias("total_qty"),
            F.round(
                F.sum(
                    (F.col("qty").cast("double") * F.col("qty").cast("double"))
                )
                / (
                    F.sum(F.col("qty")).cast("double")
                    * F.sum(F.col("qty")).cast("double")
                ),
                6,
            ).alias("hhi"),
        )
        .select("p_brand", "n_suppliers", "total_qty", "hhi")
    )


SQL_BRAND_SUPPLIER_HHI = """
WITH bs AS (
  SELECT p_brand, l_suppkey,
         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1, 2
)
SELECT p_brand,
       CAST(COUNT(*) AS BIGINT) AS n_suppliers,
       CAST(SUM(qty) AS DOUBLE) AS total_qty,
       ROUND(SUM(CAST(qty AS DOUBLE) * CAST(qty AS DOUBLE))
             / (CAST(SUM(qty) AS DOUBLE) * CAST(SUM(qty) AS DOUBLE)), 6)
         AS hhi
FROM bs
GROUP BY 1
"""


#: attribution lookback window (µs): touches within 1 h of a purchase
_ATTR_WINDOW_US = 3_600_000_000


def q_purchase_attribution(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-touch attribution — the marketing-analytics staple:
    every purchase distributes conversion credit over the user's
    click/view touchpoints in the preceding hour, under three models
    at once (last-touch, first-touch, linear), rolled up per
    touchpoint type.

    Scale: purchases and touches shuffle ONCE on user_id for the
    equi-join (the time band is a residual filter, not a join
    condition explosion — per-user fanout is bounded by one hour of
    activity); both rank windows and the per-purchase count share the
    purchase_id partitioning, so attribution adds one more exchange.
    No self-join of the full event log."""
    ev = load(spark, sf, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts_us").alias("p_ts"),
    )
    t = ev.filter(F.col("event_type").isin("click", "view")).select(
        "user_id",
        F.col("event_id").alias("touch_id"),
        F.col("event_type").alias("touch_type"),
        F.col("ts_us").alias("t_ts"),
    )
    j = p.join(t, "user_id").filter(
        (F.col("t_ts") < F.col("p_ts"))
        & (F.col("t_ts") >= F.col("p_ts") - _ATTR_WINDOW_US)
    )
    w_last = Window.partitionBy("purchase_id").orderBy(
        F.col("t_ts").desc(), "touch_id"
    )
    w_first = Window.partitionBy("purchase_id").orderBy(
        F.col("t_ts").asc(), "touch_id"
    )
    j = (
        j.withColumn("r_last", F.row_number().over(w_last))
        .withColumn("r_first", F.row_number().over(w_first))
        .withColumn(
            "n_touches", F.count("*").over(Window.partitionBy("purchase_id"))
        )
    )
    return (
        j.groupBy("touch_type")
        .agg(
            F.countDistinct("purchase_id").cast("bigint").alias("n_purchases"),
            F.count("*").cast("bigint").alias("n_touches"),
            F.sum((F.col("r_last") == 1).cast("double")).alias(
                "last_touch_credit"
            ),
            F.sum((F.col("r_first") == 1).cast("double")).alias(
                "first_touch_credit"
            ),
            F.round(F.sum(1.0 / F.col("n_touches")), 6).alias(
                "linear_credit"
            ),
        )
        .orderBy("touch_type")
    )


SQL_PURCHASE_ATTRIBUTION = f"""
WITH p AS (
  SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS p_ts
  FROM events WHERE event_type = 'purchase'
), t AS (
  SELECT event_id AS touch_id, user_id, event_type AS touch_type,
         epoch_us(ts) AS t_ts
  FROM events WHERE event_type IN ('click', 'view')
), j AS (
  SELECT p.purchase_id, t.touch_type,
         ROW_NUMBER() OVER (PARTITION BY p.purchase_id
                            ORDER BY t.t_ts DESC, t.touch_id) AS r_last,
         ROW_NUMBER() OVER (PARTITION BY p.purchase_id
                            ORDER BY t.t_ts ASC, t.touch_id) AS r_first,
         COUNT(*) OVER (PARTITION BY p.purchase_id) AS n_touches
  FROM p JOIN t ON p.user_id = t.user_id
   AND t.t_ts < p.p_ts AND t.t_ts >= p.p_ts - {_ATTR_WINDOW_US}
)
SELECT touch_type,
       CAST(COUNT(DISTINCT purchase_id) AS BIGINT) AS n_purchases,
       CAST(COUNT(*) AS BIGINT) AS n_touches,
       SUM(CASE WHEN r_last = 1 THEN 1.0 ELSE 0.0 END)
         AS last_touch_credit,
       SUM(CASE WHEN r_first = 1 THEN 1.0 ELSE 0.0 END)
         AS first_touch_credit,
       ROUND(SUM(1.0 / n_touches), 6) AS linear_credit
FROM j
GROUP BY touch_type
ORDER BY touch_type
"""


#: PageRank free parameters for the brand graph query
_PR_DAMPING, _PR_ITERS = 0.85, 10


def _brand_edges(spark: SparkSession, sf: str) -> DataFrame:
    """Symmetric weighted brand graph: an edge per ordered pair of
    brands co-occurring in an order, weight = number of such orders
    (the ``brand_cooccurrence_top`` pair relation, both directions —
    so every node has out-edges and dangling mass is structurally
    zero, which the SQL oracle relies on).

    Execution shape: the per-order brand set is collected ONCE
    (``collect_set`` dedupes exactly like the former
    ``ob.distinct()``) and the ordered pairs are generated IN-ROW by
    array transforms — the ``brand_cooccurrence_top`` basket
    generator.  The former self-join spelling paid 4 exchanges and a
    sort-merge join over the 555k-row (order, brand) relation (dedup
    exchange + two join repartitions with sorts + the count
    exchange); this one pays 2 exchanges and no sort, with identical
    output: per order, every (a, b), a != b, of the distinct brand
    set appears exactly once either way, and the count aggregate
    never depends on generation order.  Basket size bounds the
    in-row fan-out, same contract as the LSH bucket pair stage."""
    li = load(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    part = load(spark, sf, "part").select("p_partkey", "p_brand")
    baskets = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy("l_orderkey")
        .agg(F.collect_set("p_brand").alias("brands"))
    )
    pairs_expr = F.flatten(
        F.transform(
            F.col("brands"),
            lambda a: F.transform(
                F.filter(F.col("brands"), lambda b: b != a),
                lambda b: F.struct(a.alias("src"), b.alias("dst")),
            ),
        )
    )
    return (
        baskets.select(F.explode(pairs_expr).alias("p"))
        .groupBy("p.src", "p.dst")
        .agg(F.count("*").cast("double").alias("w"))
    )


def q_brand_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted PageRank over the brand co-occurrence graph
    (``operators.pagerank``): which brands sit at the center of
    shared baskets.  The graph is tiny here (|brands|²) but the
    operator is the point — the same power iteration ranks source
    domains in a duplication/link graph at corpus scale.  Oracle:
    the DuckDB twin unrolls all 10 iterations as generated CTEs over
    the identical edge relation."""
    from ..operators.pagerank import pagerank

    pr = pagerank(
        _brand_edges(spark, sf),
        weight="w",
        damping=_PR_DAMPING,
        iters=_PR_ITERS,
    )
    return pr.select(
        F.col("node").alias("brand"), F.round("rank", 6).alias("rank")
    ).orderBy(F.col("rank").desc(), "brand")


def sql_brand_pagerank() -> str:
    """Unrolled power iteration (DuckDB 1.0 has no grouping in
    recursive CTEs): pr0 = 1/n, pr{k} = (1-d)/n + d·Σ incoming
    rank·frac.  The brand graph is symmetric, so the operator's
    dangling-mass term is identically zero and the SQL omits it
    (asymmetric-graph behavior is pinned by the numpy cross-check in
    tests/test_pagerank.py instead)."""
    d, iters = _PR_DAMPING, _PR_ITERS
    steps = []
    for k in range(1, iters + 1):
        steps.append(f"""pr{k} AS (
  SELECT nd.node,
         (1 - {d}) / nn.n + {d} * COALESCE(c.s, 0) AS rank
  FROM nodes nd CROSS JOIN nn
  LEFT JOIN (
    SELECT e.dst AS node, SUM(p.rank * e.frac) AS s
    FROM pr{k - 1} p JOIN edges e ON e.src = p.node
    GROUP BY e.dst
  ) c USING (node)
)""")
    chain = ",\n".join(steps)
    return f"""
WITH ob AS (
  SELECT DISTINCT l_orderkey, p_brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
), pairs AS (
  SELECT a.p_brand AS src, b.p_brand AS dst,
         CAST(COUNT(*) AS DOUBLE) AS w
  FROM ob a JOIN ob b
    ON a.l_orderkey = b.l_orderkey AND a.p_brand <> b.p_brand
  GROUP BY 1, 2
), edges AS (
  SELECT src, dst, w / SUM(w) OVER (PARTITION BY src) AS frac
  FROM pairs
), nodes AS (
  SELECT DISTINCT src AS node FROM pairs
  UNION SELECT DISTINCT dst FROM pairs
), nn AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes
), pr0 AS (
  SELECT node, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn
),
{chain}
SELECT node AS brand, ROUND(rank, 6) AS rank
FROM pr{iters}
ORDER BY rank DESC, brand
"""


def q_events_value_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """Robust per-type outlier profile — modified z-score
    |0.6745·(x − median)| / MAD with the Iglewicz–Hoaglin 3.5 cut:
    the data-quality screen that survives heavy tails where
    mean/stddev z-scores drown.

    Scale: two grouped EXACT percentile aggregates (median, then MAD
    over residuals) on a persisted 2-column projection — the
    projection is read twice but scanned from cache, and both
    join-backs broadcast a |event_type|-row aggregate.  At 100 TB the
    exact percentiles swap for the mergeable GK sketch exactly as in
    ``price_percentiles`` vs ``price_percentiles_approx``."""
    v = load(spark, sf, "events").select("event_type", "value").persist()
    med = v.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    r = v.join(F.broadcast(med), "event_type").withColumn(
        "absr", F.abs(F.col("value") - F.col("med"))
    )
    mad = r.groupBy("event_type").agg(
        F.percentile("absr", F.lit(0.5)).alias("mad")
    )
    z = r.join(F.broadcast(mad), "event_type").withColumn(
        "z",
        0.6745
        * (F.col("value") - F.col("med"))
        / F.greatest(F.col("mad"), F.lit(1e-9)),
    )
    return (
        z.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.min("med"), 6).alias("median"),
            F.round(F.min("mad"), 6).alias("mad"),
            F.sum((F.abs(F.col("z")) > 3.5).cast("bigint"))
            .cast("bigint")
            .alias("n_outliers"),
            F.round(F.max(F.abs(F.col("z"))), 6).alias("max_abs_z"),
        )
        .orderBy("event_type")
    )


SQL_EVENTS_VALUE_OUTLIERS = """
WITH v AS (
  SELECT event_type, value FROM events
), med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med FROM v GROUP BY 1
), r AS (
  SELECT v.event_type, v.value, m.med, ABS(v.value - m.med) AS absr
  FROM v JOIN med m USING (event_type)
), mad AS (
  SELECT event_type, quantile_cont(absr, 0.5) AS mad FROM r GROUP BY 1
), z AS (
  SELECT r.event_type, r.med, d.mad,
         0.6745 * (r.value - r.med) / GREATEST(d.mad, 1e-9) AS z
  FROM r JOIN mad d USING (event_type)
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(MIN(med), 6) AS median,
       ROUND(MIN(mad), 6) AS mad,
       CAST(SUM(CASE WHEN ABS(z) > 3.5 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers,
       ROUND(MAX(ABS(z)), 6) AS max_abs_z
FROM z
GROUP BY event_type
ORDER BY event_type
"""


def q_user_reach_sketch(spark: SparkSession, sf: str) -> DataFrame:
    """Mergeable distinct-count sketches — the 100 TB formulation of
    "unique users per event type": per-(type, day) Datasketches HLL
    sketches built in ONE partial-aggregating pass, then UNIONED per
    type (``hll_union_agg``) and estimated.  The two-level shape is
    the point: day-grain sketch tables persist and re-aggregate to
    any coarser grain or date range without touching raw events —
    exact distinct would re-shuffle the full log every time.

    No SQL oracle (the estimate is sketch-dependent); the error
    bound and the union-vs-flat consistency are pytest-pinned
    (tests/test_operators.py)."""
    ev = load(spark, sf, "events")
    daily = (
        ev.select(
            "event_type",
            F.expr("ts_us DIV 86400000000").alias("day"),
            "user_id",
        )
        .groupBy("event_type", "day")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
    )
    return (
        daily.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_days"),
            F.hll_sketch_estimate(F.hll_union_agg("sk"))
            .cast("bigint")
            .alias("reach_est"),
        )
        .orderBy("event_type")
    )


def q_reach_hll_relational(spark: SparkSession, sf: str) -> DataFrame:
    """Oracle-backed certification twin of ``user_reach_sketch`` (the
    ``_fixed`` pattern, fifth application — MG/SimHash/whitening/KMV
    precedent): a from-scratch HyperLogLog built RELATIONALLY from
    md5, so DuckDB reproduces every register value-for-value.

    m=16 registers; bucket = first md5 hex digit; the register rank
    (1 + leading zeros of the next 32-bit window) is computed with
    PURE STRING ops — trim leading '0' hex chars, then a CASE on the
    first nonzero digit — never float log2, so it is exact in any
    engine.  The harmonic denominator is carried as the exact integer
    ``zeros*2^33 + sum(2^(33-rank))`` (each term a dyadic rational
    scaled to bigint); the raw estimate does ONE double division of
    exact integers at the edge (bit-identical cross-engine), and is
    deliberately uncorrected (no ln-based linear counting — libm can
    differ at 1 ulp) with the exact distinct emitted beside it as
    the accuracy readout.

    Register construction/estimation live in ``operators/sketch.py``
    (``hll_registers`` / ``hll_estimate``) and are shared with the
    streaming register rollup (``streaming/sketch_rollup.
    streaming_hll``) — this query certifies that shared pipeline."""
    from ..operators.sketch import hll_estimate, hll_registers

    ev = load(spark, sf, "events")
    regs = hll_registers(
        ev.select("event_type", "user_id"), "event_type", "user_id"
    )
    est = hll_estimate(regs)
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("bigint").alias("true_distinct")
    )
    return (
        est.join(exact, est["grp"] == exact["event_type"])
        .select(
            "event_type",
            F.lit(16).cast("bigint").alias("m"),
            "zero_registers",
            "harmonic_den_scaled",
            "hll_raw_estimate",
            "true_distinct",
        )
        .orderBy("event_type")
    )


SQL_REACH_HLL_RELATIONAL = """
WITH r AS (
  SELECT event_type,
         strpos('0123456789abcdef',
                substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1
           AS bucket,
         trim(LEADING '0' FROM substr(md5(CAST(user_id AS VARCHAR)), 2, 8))
           AS rest
  FROM events
), ranked AS (
  SELECT event_type, bucket,
         CASE WHEN length(rest) = 0 THEN 33
              ELSE (8 - length(rest)) * 4
                   + CASE WHEN substr(rest, 1, 1) = '1' THEN 3
                          WHEN substr(rest, 1, 1) IN ('2','3') THEN 2
                          WHEN substr(rest, 1, 1) IN ('4','5','6','7') THEN 1
                          ELSE 0 END
                   + 1 END AS rank
  FROM r
), regs AS (
  SELECT event_type, bucket, MAX(rank) AS reg
  FROM ranked GROUP BY 1, 2
), per_type AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS hit,
         CAST(SUM(CAST(1 AS BIGINT) << CAST(33 - reg AS INT)) AS BIGINT)
           AS s_int
  FROM regs GROUP BY 1
), exact AS (
  SELECT event_type AS et, CAST(COUNT(DISTINCT user_id) AS BIGINT)
           AS true_distinct
  FROM events GROUP BY 1
)
SELECT p.event_type,
       CAST(16 AS BIGINT) AS m,
       CAST(16 - hit AS BIGINT) AS zero_registers,
       CAST((16 - hit) * 8589934592 + s_int AS BIGINT)
         AS harmonic_den_scaled,
       CAST(1479942650986.496 AS DOUBLE)
         / CAST((16 - hit) * 8589934592 + s_int AS DOUBLE)
         AS hll_raw_estimate,
       true_distinct
FROM per_type p JOIN exact e ON p.event_type = e.et
ORDER BY event_type
"""


def q_rolling_reach_hll(spark: SparkSession, sf: str) -> DataFrame:
    """Rolling 7-day audience reach from MERGEABLE HLL registers —
    the sketch-column swap ``rolling_distinct_users`` documents for
    extreme audiences, actually built: day-grain (day, bucket)
    registers (<= 16 rows/day forever, any history), merged across
    the window by a plain MAX over a RANGE frame — register
    mergeability IS max, so the windowed sketch is exactly the sketch
    of the windowed union.  The m=16 relational HLL pipeline is the
    one ``reach_hll_relational`` certifies (pure string ranks, exact
    integer harmonic denominator, ONE double division at the edge);
    the exact rolling distinct rides beside it as the accuracy
    readout.

    Scale: the register relation is |days|*16 rows regardless of
    event volume — the rolling window runs over THAT, not the events;
    the exact readout's set-union window is the calendar-bounded
    ``rolling_distinct_users`` class (and is the part you drop at
    extreme scale, keeping only the sketch)."""
    from ..operators.sketch import (
        HLL16_NUMERATOR,
        HLL16_TWO33,
        hll_bucket_rank,
    )

    ev = load(spark, sf, "events")
    day = F.expr("ts_us DIV 86400000000")
    bucket, rank = hll_bucket_rank("user_id")
    day_regs = (
        ev.select(day.alias("day"), bucket.alias("bucket"), rank.alias("rank"))
        .groupBy("day", "bucket")
        .agg(F.max("rank").alias("reg"))
    )
    days = ev.select(day.alias("day")).distinct()
    spine = days.crossJoin(
        F.broadcast(spark.range(16).select(F.col("id").alias("bucket")))
    )
    w = Window.partitionBy("bucket").orderBy("day").rangeBetween(-6, 0)
    rolled = spine.join(day_regs, ["day", "bucket"], "left").select(
        "day", "bucket", F.max("reg").over(w).alias("reg7")
    )
    est = rolled.groupBy("day").agg(
        F.sum(F.when(F.col("reg7").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("hit"),
        F.sum(
            F.when(
                F.col("reg7").isNotNull(),
                F.expr(
                    "shiftleft(cast(1 as bigint), cast(33 - reg7 as int))"
                ),
            ).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("s_int"),
    )
    den = (F.lit(16).cast("bigint") - F.col("hit")) * F.lit(
        HLL16_TWO33
    ).cast("bigint") + F.col("s_int")
    daily_sets = (
        ev.select(day.alias("day"), "user_id")
        .groupBy("day")
        .agg(F.collect_set("user_id").alias("us"))
    )
    # global 7-day range frame over the day grain (calendar-bounded,
    # docstring); const_bucket keeps the spec non-empty
    wx = (
        Window.partitionBy(const_bucket("day"))
        .orderBy("day")
        .rangeBetween(-6, 0)
    )
    exact = daily_sets.select(
        "day",
        F.size(F.array_distinct(F.flatten(F.collect_list("us").over(wx))))
        .cast("bigint")
        .alias("exact_7d"),
    )
    return (
        est.join(exact, "day")
        .select(
            "day",
            "exact_7d",
            (F.lit(16).cast("bigint") - F.col("hit")).alias(
                "zero_registers"
            ),
            den.cast("bigint").alias("harmonic_den_scaled"),
            (F.lit(HLL16_NUMERATOR) / den.cast("double")).alias(
                "hll_raw_estimate"
            ),
        )
        .orderBy("day")
    )


SQL_ROLLING_REACH_HLL = """
WITH base AS (
  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day, user_id,
         md5(CAST(user_id AS VARCHAR)) AS h
  FROM events
), ranked AS (
  SELECT day,
         strpos('0123456789abcdef', substr(h, 1, 1)) - 1 AS bucket,
         CASE WHEN length(rest) = 0 THEN 33
              ELSE (8 - length(rest)) * 4
                   + CASE WHEN substr(rest, 1, 1) = '1' THEN 3
                          WHEN substr(rest, 1, 1) IN ('2','3') THEN 2
                          WHEN substr(rest, 1, 1) IN ('4','5','6','7') THEN 1
                          ELSE 0 END
                   + 1 END AS rank
  FROM (SELECT day, h, trim(LEADING '0' FROM substr(h, 2, 8)) AS rest
        FROM base)
), regs AS (
  SELECT day, bucket, MAX(rank) AS reg FROM ranked GROUP BY 1, 2
), spine AS (
  SELECT d.day, r.range AS bucket
  FROM (SELECT DISTINCT day FROM base) d, range(16) r
), rolled AS (
  SELECT s.day, s.bucket,
         MAX(reg) OVER (PARTITION BY s.bucket ORDER BY s.day
                        RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
           AS reg7
  FROM spine s LEFT JOIN regs ON regs.day = s.day
                             AND regs.bucket = s.bucket
), est AS (
  SELECT day,
         CAST(SUM(CASE WHEN reg7 IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS hit,
         CAST(SUM(CASE WHEN reg7 IS NOT NULL
                       THEN CAST(1 AS BIGINT) << CAST(33 - reg7 AS INT)
                       ELSE 0 END) AS BIGINT) AS s_int
  FROM rolled GROUP BY 1
), exact AS (
  SELECT DISTINCT day,
         CAST(COUNT(DISTINCT user_id) OVER (
           ORDER BY day RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
           AS BIGINT) AS exact_7d
  FROM base
)
SELECT est.day, exact_7d,
       CAST(16 - hit AS BIGINT) AS zero_registers,
       CAST((16 - hit) * 8589934592 + s_int AS BIGINT)
         AS harmonic_den_scaled,
       CAST(1479942650986.496 AS DOUBLE)
         / CAST((16 - hit) * 8589934592 + s_int AS DOUBLE)
         AS hll_raw_estimate
FROM est JOIN exact ON est.day = exact.day
ORDER BY est.day
"""


def q_event_transition_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """First-order Markov transition matrix over the event stream:
    for every user, pair each event with the NEXT event (lead over
    the per-user timeline), then count and normalize transitions
    per source state — the behavioral model behind next-action
    prediction and funnel-drop diagnostics.

    Scale: ONE shuffle on user_id for the lead window (per-user
    sequences are bounded by a user's activity), then a partial+final
    aggregate to at most |event_types|^2 rows; the probability
    normalization is a window over that tiny relation, partitioned
    by the source state.  No self-join of the event log."""
    ev = load(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    trans = (
        ev.select("user_id", "ts_us", "event_id", "event_type")
        .withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count("*").cast("bigint").alias("n_transitions"))
    )
    w_src = Window.partitionBy("event_type")
    return trans.select(
        "event_type",
        "next_type",
        "n_transitions",
        F.round(
            F.col("n_transitions")
            / F.sum("n_transitions").over(w_src).cast("double"),
            6,
        ).alias("prob"),
    ).orderBy("event_type", "next_type")


SQL_EVENT_TRANSITION_MATRIX = """
WITH seq AS (
  SELECT event_type,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id)
           AS next_type
  FROM events
), t AS (
  SELECT event_type, next_type, CAST(COUNT(*) AS BIGINT) AS n_transitions
  FROM seq WHERE next_type IS NOT NULL
  GROUP BY event_type, next_type
)
SELECT event_type, next_type, n_transitions,
       ROUND(n_transitions / CAST(SUM(n_transitions) OVER
               (PARTITION BY event_type) AS DOUBLE), 6) AS prob
FROM t
ORDER BY event_type, next_type
"""


def _key_profile(df: DataFrame, key: str, rel: str) -> DataFrame:
    """One-row skew profile of a join/groupBy key: per-key counts,
    then a single aggregate computing cardinality, heaviest-key
    share, tail ratio, and normalized Shannon evenness.  Entropy
    folds into ONE pass via H = ln(total) - sum(c*ln c)/total —
    no second scan for the total."""
    counts = df.groupBy(key).agg(F.count("*").alias("c"))
    total = F.sum("c").cast("double")
    h = F.log(total) - F.sum(F.col("c") * F.log("c")) / total
    return counts.agg(
        F.lit(rel).alias("rel"),
        F.count("*").cast("bigint").alias("n_keys"),
        F.sum("c").cast("bigint").alias("n_rows"),
        F.round(F.max("c") / total, 6).alias("top1_share"),
        F.round(
            F.expr("percentile(c, 0.99)") / F.expr("percentile(c, 0.5)"), 6
        ).alias("p99_over_median"),
        F.round(h / F.log(F.count("*").cast("double")), 6).alias("evenness"),
    )


def q_key_skew_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Shuffle-key skew diagnostics — the profile that decides
    partitioning strategy BEFORE a 100 TB job runs: for each
    candidate join/groupBy key, its cardinality, the heaviest key's
    row share (the straggler bound: one task gets at least this
    fraction), the p99/median per-key count ratio, and normalized
    entropy (1.0 = perfectly even).  A key with top1_share >> 1/tasks
    needs salting or AQE skew handling; this query IS that check,
    run as data.

    Scale: one groupBy per profiled key (the shuffle being measured
    is the one you'd pay anyway), then a 1-row aggregate; the exact
    percentiles run over the per-key count relation (|keys| rows,
    not |rows|)."""
    ev = load(spark, sf, "events")
    li = load(spark, sf, "lineitem")
    o = load(spark, sf, "orders")
    parts = [
        _key_profile(ev, "user_id", "events.user_id"),
        _key_profile(li, "l_partkey", "lineitem.l_partkey"),
        _key_profile(o, "o_custkey", "orders.o_custkey"),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("rel")


SQL_KEY_SKEW_PROFILE = """
WITH prof AS (
  SELECT 'events.user_id' AS rel, user_id AS k, COUNT(*) AS c
  FROM events GROUP BY 1, 2
  UNION ALL
  SELECT 'lineitem.l_partkey', l_partkey, COUNT(*)
  FROM lineitem GROUP BY 1, 2
  UNION ALL
  SELECT 'orders.o_custkey', o_custkey, COUNT(*)
  FROM orders GROUP BY 1, 2
)
SELECT rel,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(c) AS BIGINT) AS n_rows,
       ROUND(MAX(c) / CAST(SUM(c) AS DOUBLE), 6) AS top1_share,
       ROUND(quantile_cont(c, 0.99) / quantile_cont(c, 0.5), 6)
         AS p99_over_median,
       ROUND((ln(CAST(SUM(c) AS DOUBLE))
              - SUM(c * ln(c)) / CAST(SUM(c) AS DOUBLE))
             / ln(CAST(COUNT(*) AS DOUBLE)), 6) AS evenness
FROM prof
GROUP BY rel
ORDER BY rel
"""


def q_nation_revenue_trend(spark: SparkSession, sf: str) -> DataFrame:
    """Per-nation revenue trend: ordinary-least-squares slope /
    intercept / r² of daily revenue vs day index.  The regression is
    computed from EXACT sufficient statistics (decimal sums of y, x·y,
    y²; bigint sums of x, x²) so the result is bit-stable across
    engines — ``regr_slope`` accumulates doubles whose merge order an
    engine is free to choose, which is exactly the cross-engine drift
    an oracle can't tolerate.

    Scale: two shuffles (daily rollup keyed (nation, day), then the
    5-number sufficient-stat reduce per nation) with map-side partial
    aggregation on both; dims broadcast.  The sufficient-stat shape is
    the textbook mergeable-aggregate — it holds at any scale."""
    o = load(spark, sf, "orders")
    c = load(spark, sf, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf, "nation").select("n_nationkey", "n_name")
    day = F.unix_date(F.col("o_orderdate").cast("date")).cast("bigint")
    daily = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", day.alias("x"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("y")
        )
    )
    stats = daily.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.expr("x * x")).alias("sxx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("x * y")).alias("sxy"),
        F.sum(F.expr("y * y")).alias("syy"),
    )
    nd, sx, sxx, sy, sxy, syy = (
        F.col(k).cast("double") for k in ("n", "sx", "sxx", "sy", "sxy", "syy")
    )
    num = nd * sxy - sx * sy
    den_x = nd * sxx - sx * sx
    den_y = nd * syy - sy * sy
    slope = num / den_x
    return stats.select(
        F.col("n_name").alias("nation"),
        F.col("n").cast("bigint").alias("n_days"),
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / nd, 4).alias("intercept"),
        F.round(num * num / (den_x * den_y), 6).alias("r2"),
    ).orderBy("nation")


SQL_NATION_REVENUE_TREND = """
WITH daily AS (
  SELECT n_name,
         datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
           AS x,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2
), stats AS (
  SELECT n_name,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(x) AS DOUBLE) AS sx,
         CAST(SUM(x * x) AS DOUBLE) AS sxx,
         CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(x * y) AS DOUBLE) AS sxy,
         CAST(SUM(y * y) AS DOUBLE) AS syy,
         CAST(COUNT(*) AS BIGINT) AS n_days
  FROM daily GROUP BY 1
)
SELECT n_name AS nation,
       n_days,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
       ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 4)
         AS intercept,
       ROUND((n * sxy - sx * sy) * (n * sxy - sx * sy)
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
FROM stats
ORDER BY nation
"""


def q_ewma_monthly_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """Exponentially-weighted moving average (alpha=0.2) of monthly
    revenue per region — the smoothing every ops dashboard runs, and
    a RECURSIVE definition no window frame expresses (each value
    depends on the full prefix).  Computed as a sequential
    ``F.aggregate`` fold over the month-sorted series, O(|months|)
    per group, exact.

    Scale: the fold runs per region over |months| elements — bounded
    by the calendar, not the data (100 TB of orders is still ~100
    months).  One rollup shuffle keyed (region, month) with map-side
    partials, then a |regions|-row collect_list of bounded arrays.
    The lambda matches the oracle's ``list_reduce`` term order
    (0.2*x + 0.8*s) so the doubles are IEEE-identical."""
    o = load(spark, sf, "orders")
    c = load(spark, sf, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf, "nation").select("n_nationkey", "n_regionkey")
    r = load(spark, sf, "region").select("r_regionkey", "r_name")
    month = F.date_format(
        F.date_trunc("month", F.col("o_orderdate").cast("date")), "yyyy-MM-dd"
    )
    monthly = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", month.alias("month"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("rv")
        )
    )
    srt = F.array_sort(F.collect_list(F.struct("month", "rv")))
    per_region = monthly.groupBy("r_name").agg(srt.alias("s"))
    ew = F.aggregate(
        F.col("s"),
        F.expr("CAST(array() AS ARRAY<DOUBLE>)"),
        lambda acc, x: F.concat(
            acc,
            F.array(
                F.when(
                    F.size(acc) == 0, x["rv"]
                ).otherwise(
                    F.lit(0.2) * x["rv"]
                    + F.lit(0.8) * F.element_at(acc, F.size(acc))
                )
            ),
        ),
    )
    return (
        per_region.select("r_name", F.posexplode(F.arrays_zip("s", ew.alias("e"))))
        .select(
            F.col("r_name").alias("region"),
            F.col("col.s.month").alias("month"),
            F.round(F.col("col.s.rv"), 2).alias("monthly_revenue"),
            F.round(F.col("col.e"), 6).alias("ewma"),
        )
        .orderBy("region", "month")
    )


SQL_EWMA_MONTHLY_REVENUE = """
WITH mo AS (
  SELECT r_name,
         strftime(date_trunc('month', CAST(o_orderdate AS DATE)),
                  '%Y-%m-%d') AS month,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rv
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY 1, 2
)
SELECT r_name AS region,
       month,
       ROUND(rv, 2) AS monthly_revenue,
       ROUND(list_reduce(
         list(rv) OVER (PARTITION BY r_name ORDER BY month
                        ROWS UNBOUNDED PRECEDING),
         (s, x) -> 0.2 * x + 0.8 * s), 6) AS ewma
FROM mo
ORDER BY region, month
"""


def q_segment_spend_gini(spark: SparkSession, sf: str) -> DataFrame:
    """Spend-concentration (Gini coefficient) per market segment via
    the rank formula  G = 2·Σ(i·yᵢ)/(n·Σy) − (n+1)/n  over customers
    sorted by total spend — the inequality profile that tells a
    pipeline whether a handful of keys dominate a segment.  Ties in
    spend are order-insensitive in the Σ(i·yᵢ) term (equal y swap
    freely), so the result is deterministic without a tiebreak.

    Scale: per-customer rollup (one shuffle), then a rank window
    PARTITIONED by segment (no global sort), then a per-segment
    reduce.  Spend sums are exact decimal; the formula divides exact
    scalars in double at the end."""
    o = load(spark, sf, "orders")
    c = load(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    spend = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("y")
        )
    )
    w = Window.partitionBy("c_mktsegment").orderBy("y", "o_custkey")
    ranked = spend.select(
        "c_mktsegment", "y", F.row_number().over(w).alias("i")
    )
    agg = ranked.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("i * y")).alias("siy"),
    )
    nd = F.col("n").cast("double")
    return agg.select(
        F.col("c_mktsegment").alias("segment"),
        F.col("n").cast("bigint").alias("n_customers"),
        F.col("sy").cast("double").alias("total_spend"),
        F.round(
            F.lit(2.0) * F.col("siy").cast("double")
            / (nd * F.col("sy").cast("double"))
            - (nd + F.lit(1.0)) / nd,
            6,
        ).alias("gini"),
    ).orderBy("segment")


SQL_SEGMENT_SPEND_GINI = """
WITH spend AS (
  SELECT c_mktsegment, o_custkey,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS y
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
), ranked AS (
  SELECT c_mktsegment, y,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY y, o_custkey) AS i
  FROM spend
), agg AS (
  SELECT c_mktsegment,
         CAST(COUNT(*) AS BIGINT) AS n,
         SUM(y) AS sy,
         SUM(i * y) AS siy
  FROM ranked GROUP BY 1
)
SELECT c_mktsegment AS segment,
       n AS n_customers,
       CAST(sy AS DOUBLE) AS total_spend,
       ROUND(2.0 * CAST(siy AS DOUBLE)
               / (CAST(n AS DOUBLE) * CAST(sy AS DOUBLE))
             - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE), 6) AS gini
FROM agg
ORDER BY segment
"""


def q_brand_triangles(spark: SparkSession, sf: str) -> DataFrame:
    """Triangle counting on the brand co-purchase graph (brands
    co-occurring in an order are adjacent) — the clustering-structure
    primitive under community detection and spam-graph analysis.
    Edges are canonically oriented (b1 < b2) so each triangle is
    enumerated exactly once by the two-path + closing-edge join.

    Scale: the vertex set (brands) is small by construction, but the
    SHAPE is the standard distributed algorithm — build the oriented
    edge list (dedup shuffle), self-join on the middle vertex, then
    hash-join the closing edge; at web scale you'd orient by degree
    instead of name to bound the join fan-out, which this layout
    permits by swapping the orientation key."""
    li = load(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    p = load(spark, sf, "part").select("p_partkey", "p_brand")
    # oriented edges via the in-basket pair generator
    # (brand_cooccurrence_top idiom) instead of the ob self-join —
    # per order the sorted distinct brand set yields every b1 < b2
    # pair exactly once, so the DISTINCT edge set is identical while
    # the 555k-row dedup exchange + sort-merge self-join disappear
    # (4 exchanges + 2 sorts -> 2 exchanges on this stage).
    baskets = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("p_brand")).alias("brands"))
    )
    pairs_expr = F.flatten(
        F.transform(
            F.col("brands"),
            lambda a, i: F.transform(
                F.slice(F.col("brands"), i + 2, F.size("brands")),
                lambda b: F.struct(a.alias("b1"), b.alias("b2")),
            ),
        )
    )
    e = (
        baskets.select(F.explode(pairs_expr).alias("p"))
        .select("p.b1", "p.b2")
        .distinct()
    )
    tri = (
        e.alias("e1")
        .join(
            e.alias("e2"), F.col("e1.b2") == F.col("e2.b1")
        )
        .join(
            e.alias("e3"),
            (F.col("e1.b1") == F.col("e3.b1"))
            & (F.col("e2.b2") == F.col("e3.b2")),
        )
        .select(
            F.col("e1.b1").alias("x"),
            F.col("e1.b2").alias("y"),
            F.col("e2.b2").alias("z"),
        )
    )
    return (
        tri.select(
            F.explode(F.array("x", "y", "z")).alias("brand")
        )
        .groupBy("brand")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
        .orderBy(F.col("n_triangles").desc(), "brand")
    )


SQL_BRAND_TRIANGLES = """
WITH ob AS (
  SELECT DISTINCT l_orderkey, p_brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
), e AS (
  SELECT DISTINCT a.p_brand AS b1, b.p_brand AS b2
  FROM ob a JOIN ob b ON a.l_orderkey = b.l_orderkey
  WHERE a.p_brand < b.p_brand
), tri AS (
  SELECT e1.b1 AS x, e1.b2 AS y, e2.b2 AS z
  FROM e e1
  JOIN e e2 ON e1.b2 = e2.b1
  JOIN e e3 ON e1.b1 = e3.b1 AND e2.b2 = e3.b2
)
SELECT brand, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM (
  SELECT x AS brand FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri
)
GROUP BY brand
ORDER BY n_triangles DESC, brand
"""


def q_rolling_distinct_users(spark: SparkSession, sf: str) -> DataFrame:
    """Rolling 7-day DISTINCT user reach per event type — the windowed
    count-distinct no window frame computes natively in Spark:
    distinct user SETS roll up at day grain (one groupBy), then a
    RANGE frame unions the last 7 days' sets per type
    (flatten + array_distinct) — set-union semantics as array algebra.

    Scale: the window runs over the (event_type, day) relation —
    calendar-bounded, NOT event-bounded — and is PARTITIONED by
    event_type.  Per-day sets are |daily audience|-sized; at extreme
    audience scale the same query swaps collect_set for an HLL sketch
    column (``user_reach_sketch``'s path) with identical shape."""
    ev = load(spark, sf, "events")
    day = F.expr("ts_us DIV 86400000000").alias("day")
    daily = ev.groupBy("event_type", day).agg(
        F.collect_set("user_id").alias("us")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rangeBetween(-6, 0)
    )
    return daily.select(
        "event_type",
        "day",
        F.size("us").cast("bigint").alias("n_daily"),
        F.size(F.array_distinct(F.flatten(F.collect_list("us").over(w))))
        .cast("bigint")
        .alias("n_7d"),
    ).orderBy("event_type", "day")


SQL_ROLLING_DISTINCT_USERS = """
WITH base AS (
  SELECT event_type,
         CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
         user_id
  FROM events
), win AS (
  SELECT DISTINCT event_type, day,
         CAST(COUNT(DISTINCT user_id) OVER (
           PARTITION BY event_type ORDER BY day
           RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_7d
  FROM base
), daily AS (
  SELECT event_type, day,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_daily
  FROM base GROUP BY 1, 2
)
SELECT daily.event_type, daily.day, n_daily, n_7d
FROM daily JOIN win USING (event_type, day)
ORDER BY event_type, day
"""


def q_gap_fill_interpolate(spark: SparkSession, sf: str) -> DataFrame:
    """Time-series gap fill with linear interpolation: per-nation
    daily revenue is SPARSE (not every nation orders every day), so
    the series is completed over a full day spine and holes are
    filled by lerp between the neighboring observed days (edges
    extend the nearest observation) — the regularization step before
    any rolling-window model touches the series.

    Cross-engine exactness: revenue is carried as cent-scaled BIGINT
    and the lerp is emitted as exact sufficient statistics —
    ``rev_filled_num`` = prev_c*(next_day-day) + next_c*(day-prev_day)
    and ``lerp_den`` = next_day-prev_day (both pure integers, so the
    hash is bit-identical in any engine; the filled value in currency
    units is num/(100*den)).  The earlier rounded-double formulation
    hit round-half boundaries that Spark and DuckDB resolve
    differently (77 of 60,125 cells off by 1 ulp on the driver).

    Scale: the spine is |nations| x |days| (calendar-bounded, built
    by sequence+explode — no driver loop); observed revenue joins on
    (nation, day); the prev/next scaffolding is two IGNORE-NULLS
    window passes PARTITIONED by nation over that bounded spine."""
    o = load(spark, sf, "orders")
    c = load(spark, sf, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf, "nation").select("n_nationkey", "n_name")
    day = F.unix_date(F.col("o_orderdate").cast("date")).cast("bigint")
    obs = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", day.alias("day"))
        .agg(
            F.sum(
                (F.col("o_totalprice").cast("decimal(18,2)") * 100)
                .cast("bigint")
            ).alias("rev")
        )
    )
    lim = obs.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = (
        n.select("n_name")
        .crossJoin(F.broadcast(lim))
        .select(
            "n_name",
            F.explode(F.sequence("d0", "d1")).alias("day"),
        )
    )
    g = spine.join(obs, ["n_name", "day"], "left")
    # Both scaffolds use GROWING (unbounded-preceding) frames, which
    # WindowExec maintains incrementally in O(1)/row — the "next"
    # side simply sorts DESCENDING.  The naive current-row ->
    # unbounded-FOLLOWING frame re-scans to the partition end per row
    # (O(n²)/partition: measured 14 s vs 1.5 s on this very query).
    wp = (
        Window.partitionBy("n_name")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = (
        Window.partitionBy("n_name")
        .orderBy(F.desc("day"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    prev_rev = F.last("rev", ignorenulls=True).over(wp)
    next_rev = F.last("rev", ignorenulls=True).over(wn)
    prev_day = F.last(
        F.when(F.col("rev").isNotNull(), F.col("day")), ignorenulls=True
    ).over(wp)
    next_day = F.last(
        F.when(F.col("rev").isNotNull(), F.col("day")), ignorenulls=True
    ).over(wn)
    lerp_num = F.when(
        F.col("rev").isNotNull(), F.col("rev")
    ).otherwise(
        F.when(prev_rev.isNull(), next_rev)
        .when(next_rev.isNull(), prev_rev)
        .otherwise(
            prev_rev * (next_day - F.col("day"))
            + next_rev * (F.col("day") - prev_day)
        )
    )
    lerp_den = F.when(
        F.col("rev").isNotNull()
        | prev_rev.isNull()
        | next_rev.isNull(),
        F.lit(1).cast("bigint"),
    ).otherwise((next_day - prev_day).cast("bigint"))
    return g.select(
        F.col("n_name").alias("nation"),
        "day",
        lerp_num.cast("bigint").alias("rev_filled_num"),
        lerp_den.alias("lerp_den"),
        F.col("rev").isNotNull().alias("observed"),
    ).orderBy("nation", "day")


SQL_GAP_FILL_INTERPOLATE = """
WITH obs AS (
  SELECT n_name,
         datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
           AS day,
         SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
           AS rev
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2
), lim AS (
  SELECT MIN(day) AS d0, MAX(day) AS d1 FROM obs
), spine AS (
  SELECT n_name, CAST(unnest(range(d0, d1 + 1)) AS BIGINT) AS day
  FROM nation CROSS JOIN lim
), g AS (
  SELECT spine.n_name, spine.day, obs.rev,
         last_value(obs.rev IGNORE NULLS) OVER wp AS prev_rev,
         first_value(obs.rev IGNORE NULLS) OVER wn AS next_rev,
         last_value(CASE WHEN obs.rev IS NOT NULL THEN spine.day END
                    IGNORE NULLS) OVER wp AS prev_day,
         first_value(CASE WHEN obs.rev IS NOT NULL THEN spine.day END
                     IGNORE NULLS) OVER wn AS next_day
  FROM spine LEFT JOIN obs USING (n_name, day)
  WINDOW wp AS (PARTITION BY spine.n_name ORDER BY spine.day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wn AS (PARTITION BY spine.n_name ORDER BY spine.day
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT n_name AS nation, day,
       CAST(CASE
         WHEN rev IS NOT NULL THEN rev
         WHEN prev_rev IS NULL THEN next_rev
         WHEN next_rev IS NULL THEN prev_rev
         ELSE prev_rev * (next_day - day)
              + next_rev * (day - prev_day)
       END AS BIGINT) AS rev_filled_num,
       CAST(CASE
         WHEN rev IS NOT NULL OR prev_rev IS NULL OR next_rev IS NULL
           THEN 1
         ELSE next_day - prev_day
       END AS BIGINT) AS lerp_den,
       rev IS NOT NULL AS observed
FROM g
ORDER BY nation, day
"""


def q_temporal_split_leakage(spark: SparkSession, sf: str) -> DataFrame:
    """Temporal train/test split hygiene: cut events at the midpoint
    timestamp and report, per event type, the split sizes and the
    USER LEAKAGE — distinct users active on both sides, the overlap
    that silently inflates offline eval metrics.  |A∩B| computed as
    |A|+|B|-|A∪B| from three distinct aggregates (one expand pass,
    no self-join).

    Scale: one groupBy with multi-distinct (Catalyst expands to one
    shuffle); the cut point is a 1-row aggregate broadcast."""
    ev = load(spark, sf, "events")
    # integer DIV on both sides: double-divide-then-cast TRUNCATES in
    # Spark but ROUNDS in DuckDB — off-by-one cut points on odd sums
    lim = ev.agg(
        F.expr("(min(ts_us) + max(ts_us)) DIV 2").alias("cut")
    )
    e = ev.crossJoin(F.broadcast(lim))
    train_u = F.count_distinct(
        F.when(F.col("ts_us") < F.col("cut"), F.col("user_id"))
    )
    test_u = F.count_distinct(
        F.when(F.col("ts_us") >= F.col("cut"), F.col("user_id"))
    )
    all_u = F.count_distinct("user_id")
    return (
        e.groupBy("event_type")
        .agg(
            F.sum((F.col("ts_us") < F.col("cut")).cast("bigint"))
            .alias("n_train"),
            F.sum((F.col("ts_us") >= F.col("cut")).cast("bigint"))
            .alias("n_test"),
            train_u.alias("u_train"),
            test_u.alias("u_test"),
            (train_u + test_u - all_u).alias("u_leaked"),
        )
        .orderBy("event_type")
    )


SQL_TEMPORAL_SPLIT_LEAKAGE = """
WITH e AS (
  SELECT event_type, user_id, epoch_us(ts) AS ts_us FROM events
), lim AS (
  SELECT (MIN(ts_us) + MAX(ts_us)) // 2 AS cut FROM e
)
SELECT event_type,
       CAST(SUM(CASE WHEN ts_us < cut THEN 1 ELSE 0 END) AS BIGINT)
         AS n_train,
       CAST(SUM(CASE WHEN ts_us >= cut THEN 1 ELSE 0 END) AS BIGINT)
         AS n_test,
       CAST(COUNT(DISTINCT CASE WHEN ts_us < cut THEN user_id END)
            AS BIGINT) AS u_train,
       CAST(COUNT(DISTINCT CASE WHEN ts_us >= cut THEN user_id END)
            AS BIGINT) AS u_test,
       CAST(COUNT(DISTINCT CASE WHEN ts_us < cut THEN user_id END)
            + COUNT(DISTINCT CASE WHEN ts_us >= cut THEN user_id END)
            - COUNT(DISTINCT user_id) AS BIGINT) AS u_leaked
FROM e CROSS JOIN lim
GROUP BY event_type
ORDER BY event_type
"""


def q_join_size_estimate(spark: SparkSession, sf: str) -> DataFrame:
    """Join-cardinality estimation by correlated key sampling — the
    optimizer diagnostic next to ``key_skew_profile``: estimate
    |orders ⋈ lineitem| (on orderkey) and |orders ⋈ customer| (on
    custkey) from a p=1/16 HASH sample OF THE KEY (both sides keep
    the same keys — correlated sampling — so E[|sample join|] =
    p·|join| for FK joins, vs p² for independent row sampling).
    The estimate is a deterministic function of md5, so the oracle
    checks the ESTIMATOR itself, exact-vs-estimate error included.

    Scale: two scans with the sample predicate pushed down + small
    joins of the samples; the exact sizes here are the ground truth
    column (at 100 TB you'd skip them — that's the point)."""
    li = load(spark, sf, "lineitem").select("l_orderkey")
    o = load(spark, sf, "orders").select("o_orderkey", "o_custkey")
    c = load(spark, sf, "customer").select("c_custkey")

    def keep(col):
        return F.md5(F.col(col).cast("string").cast("binary")) < "10"

    p = 16.0 / 256.0
    # ONE action for all four cardinalities — the former four
    # sequential .count() calls paid four driver round-trips and ran
    # their scans serially; a union of tagged 1-row aggregates
    # computes the same four counts in a single job whose branches
    # schedule concurrently (guide §2.6).  Values are unchanged.
    legs = {
        "est_ol": o.filter(keep("o_orderkey")).join(
            li.filter(keep("l_orderkey")), o.o_orderkey == li.l_orderkey
        ),
        "est_oc": o.filter(keep("o_custkey")).join(
            c.filter(keep("c_custkey")), o.o_custkey == c.c_custkey
        ),
        "exact_ol": o.join(li, o.o_orderkey == li.l_orderkey),
        "exact_oc": o.join(c, o.o_custkey == c.c_custkey),
    }
    counts_df = None
    for tag, df in legs.items():
        part = df.agg(F.count(F.lit(1)).alias("n")).select(
            F.lit(tag).alias("tag"), "n"
        )
        counts_df = part if counts_df is None else counts_df.unionByName(part)
    counts = {r["tag"]: r["n"] for r in counts_df.collect()}
    est_ol, est_oc = counts["est_ol"], counts["est_oc"]
    exact_ol, exact_oc = counts["exact_ol"], counts["exact_oc"]
    rows = [
        ("orders_x_lineitem", exact_ol, int(round(est_ol / p))),
        ("orders_x_customer", exact_oc, int(round(est_oc / p))),
    ]
    return local_table(
        spark,
        [
            (
                name,
                ex,
                est,
                float(round(abs(est - ex) / ex, 4)) if ex else None,
            )
            for name, ex, est in rows
        ],
        "join_name string, exact_rows bigint, est_rows bigint, "
        "rel_err double",
    ).orderBy("join_name")


SQL_JOIN_SIZE_ESTIMATE = """
WITH est_ol AS (
  SELECT COUNT(*) AS n
  FROM (SELECT o_orderkey FROM orders
        WHERE md5(CAST(o_orderkey AS VARCHAR)) < '10') o
  JOIN (SELECT l_orderkey FROM lineitem
        WHERE md5(CAST(l_orderkey AS VARCHAR)) < '10') l
    ON o.o_orderkey = l.l_orderkey
), est_oc AS (
  SELECT COUNT(*) AS n
  FROM (SELECT o_custkey FROM orders
        WHERE md5(CAST(o_custkey AS VARCHAR)) < '10') o
  JOIN (SELECT c_custkey FROM customer
        WHERE md5(CAST(c_custkey AS VARCHAR)) < '10') c
    ON o.o_custkey = c.c_custkey
), exact_ol AS (
  SELECT COUNT(*) AS n FROM orders JOIN lineitem
    ON o_orderkey = l_orderkey
), exact_oc AS (
  SELECT COUNT(*) AS n FROM orders JOIN customer
    ON o_custkey = c_custkey
), rows_out AS (
  SELECT 'orders_x_lineitem' AS join_name,
         (SELECT n FROM exact_ol) AS exact_rows,
         CAST(ROUND((SELECT n FROM est_ol) / (16.0/256.0))
              AS BIGINT) AS est_rows
  UNION ALL
  SELECT 'orders_x_customer',
         (SELECT n FROM exact_oc),
         CAST(ROUND((SELECT n FROM est_oc) / (16.0/256.0)) AS BIGINT)
)
SELECT join_name, exact_rows, est_rows,
       ROUND(ABS(est_rows - exact_rows)
             / CAST(exact_rows AS DOUBLE), 4) AS rel_err
FROM rows_out
ORDER BY join_name
"""


#: random-walk parameters shared by query + oracle
_WALKS = {"n_walks": 4, "length": 8}


def q_brand_random_walks(spark: SparkSession, sf: str) -> DataFrame:
    """DeepWalk-style corpus generation over the brand co-occurrence
    graph (``operators.walks``): 4 walks of length 8 from every
    node, next-hop chosen by ``md5(walk:step:node) mod degree`` —
    deterministic "randomness", so the walk CORPUS (the input a
    graph-embedding trainer consumes) is value-checked end to end by
    an unrolled 8-step SQL twin."""
    from ..operators.walks import deterministic_walks

    e = _brand_edges(spark, sf)
    return deterministic_walks(e, **_WALKS).orderBy("walk_id")


def sql_brand_random_walks() -> str:
    steps = []
    for s in range(_WALKS["length"]):
        steps.append(f"""f{s + 1} AS (
  SELECT f.walk_id, f.start, r.nxt AS cur, f.seq || '>' || r.nxt AS seq
  FROM (
    SELECT f0.walk_id, f0.start, f0.cur, f0.seq,
           CAST(CAST(('0x' || substr(md5(f0.walk_id || ':' || {s}
                        || ':' || f0.cur), 1, 13)) AS BIGINT)
                % d.deg + 1 AS INT) AS pr
    FROM f{s} f0 JOIN deg d ON d.node = f0.cur
  ) f
  JOIN ranked r ON r.node = f.cur AND r.rn = f.pr
)""")
    chain = ",\n".join(steps)
    return f"""
WITH ob AS (
  SELECT DISTINCT l_orderkey, p_brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
), e AS (
  SELECT DISTINCT a.p_brand AS src, b.p_brand AS dst
  FROM ob a JOIN ob b
    ON a.l_orderkey = b.l_orderkey AND a.p_brand <> b.p_brand
), ranked AS (
  SELECT src AS node, dst AS nxt,
         CAST(ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst)
              AS INT) AS rn
  FROM e
), deg AS (
  SELECT node, MAX(rn) AS deg FROM ranked GROUP BY node
), f0 AS (
  SELECT node || '#' || w AS walk_id, node AS start,
         node AS cur, node AS seq
  FROM deg CROSS JOIN (SELECT unnest(range(0, {_WALKS["n_walks"]})) AS w)
),
{chain}
SELECT walk_id, start, seq FROM f{_WALKS["length"]}
ORDER BY walk_id
"""


# ------------------------------------------------ k-core peeling

#: fixed peel parameters shared by query and oracle
_KCORE_K = 16
_KCORE_ROUNDS = 6
#: one order-year of baskets: a 7x smaller graph than all-time whose
#: peel actually cascades (all-time degrees sit far above any useful
#: k at bench scale), and a predicate the scan prunes
_KCORE_YEAR = ("1995-01-01", "1996-01-01")


def q_part_kcore_profile(spark: SparkSession, sf: str) -> DataFrame:
    """k-core peel trajectory of the part co-purchase graph
    over one order-year (``operators.kcore``): per round, the
    surviving node and edge counts at k={k} — the density diagnostic
    run before community mining; on this basket graph the peel
    cascades over all six rounds at every SF.  Rounds are FIXED
    so the DuckDB twin unrolls the identical chain; counts are exact
    integers.  The per-order pair fanout is bounded by basket size
    (<= 7 lineitems/order), so edge generation is linear in
    lineitem.""".format(k=_KCORE_K)
    from ..operators.kcore import kcore_profile

    lo, hi = _KCORE_YEAR
    li = load(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    o95 = (
        load(spark, sf, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit(lo).cast("date"))
            & (F.col("o_orderdate") < F.lit(hi).cast("date"))
        )
        .select("o_orderkey")
    )
    # the _brand_edges in-basket generator was tried here
    # and interleave-A/B-measured SLOWER (4.9 s vs 6.0 s at sf0.1) —
    # unlike the 25-node brand graph, the part-key pair relation is
    # dominated by its own high-cardinality dedup exchange, and the
    # collect_set groupBy costs more than the distinct it replaces.
    # Kept as the self-join form deliberately.
    ob = li.join(
        o95, li["l_orderkey"] == o95["o_orderkey"], "left_semi"
    ).distinct()
    a = ob.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("src"))
    b = ob.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("dst"))
    edges = (
        a.join(b, "k")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    return kcore_profile(edges, _KCORE_K, _KCORE_ROUNDS).orderBy("round")


def sql_part_kcore_profile() -> str:
    """Unrolled peel rounds: n{{r}} = degree filter, e{{r}} = edges
    with both endpoints surviving.  Every CTE is MATERIALIZED:
    inlined, each round references the previous one three times and
    DuckDB re-expands the whole chain exponentially (measured ~60 s
    at sf0.001 vs sub-second materialized)."""
    steps = []
    for r in range(1, _KCORE_ROUNDS + 1):
        steps.append(f"""n{r} AS MATERIALIZED (
  SELECT src FROM e{r - 1} GROUP BY src HAVING COUNT(*) >= {_KCORE_K}
), e{r} AS MATERIALIZED (
  SELECT e.src, e.dst FROM e{r - 1} e
  JOIN n{r} a ON e.src = a.src
  JOIN n{r} b ON e.dst = b.src
)""")
    unions = "\nUNION ALL\n".join(
            f"SELECT {r}::BIGINT AS round,"
            f" COUNT(DISTINCT src)::BIGINT AS n_nodes,"
            f" COUNT(*)::BIGINT AS n_edges FROM e{r}"
            for r in range(1, _KCORE_ROUNDS + 1)
        )
    return f"""
WITH ob AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderdate >= DATE '{_KCORE_YEAR[0]}'
    AND o_orderdate < DATE '{_KCORE_YEAR[1]}'
), e0 AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM ob a JOIN ob b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey <> b.l_partkey
),
{", ".join(steps)}
{unions}
ORDER BY round
"""


def q_copurchase_link_prediction(spark: SparkSession, sf: str) -> DataFrame:
    """Link prediction on the part co-purchase graph: for part pairs
    NEVER seen together in one order, score the likelihood of a
    future co-purchase by common-customer evidence — common-neighbor
    count plus the Adamic-Adar weight sum(1/ln(deg(c))) over the
    shared customers c (Adamic & Adar 2003; the standard
    recommender/graph-completion primitive).

    Scale shape — the reason this formulation survives 100 TB where
    naive two-hop part-adjacency does not: the middle vertex is the
    CUSTOMER, whose degree (distinct parts bought) is bounded by the
    data model (baskets don't grow with corpus size), so the pair
    fan-out sum(deg(c)^2) grows LINEARLY in customers, not
    quadratically in graph density.  A defensive degree cap (<= 256)
    drops pathological super-customers — the classic super-node
    treatment, estimator-principled because 1/ln(deg) already sends
    their contribution toward zero.  One data-scale self-join on the
    middle key + one groupBy; the co-order edge set is removed by a
    left-anti join; top-k ordered totally (count DESC, pa, pb) so
    the cutoff is deterministic cross-engine."""
    li = load(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    o = load(spark, sf, "orders").select("o_orderkey", "o_custkey")
    # persist: the customer-part relation feeds BOTH the degree
    # aggregate and the pair self-join (the _doc_terms lesson —
    # without it the join+distinct runs three times)
    cp = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select("o_custkey", "l_partkey")
        .distinct()
        .persist()
    )
    deg = (
        cp.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .filter((F.col("n_parts") >= 2) & (F.col("n_parts") <= 256))
    )
    cpd = cp.join(deg, "o_custkey")
    pairs = (
        cpd.alias("a")
        .join(cpd.alias("b"), "o_custkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("pa"),
            F.col("b.l_partkey").alias("pb"),
            (F.lit(1.0) / F.log(F.col("a.n_parts"))).alias("w"),
        )
        .groupBy("pa", "pb")
        .agg(
            F.count(F.lit(1)).alias("common_customers"),
            F.round(F.sum("w"), 4).alias("aa_score"),
        )
        # single-common-customer pairs are link-prediction noise and
        # dominate the pair relation (sf0.1: 11.5M of 11.9M); the
        # >= 2 support floor cuts the anti-join's left side ~30x
        # while never touching the released top-25 at any driver sf
        # (minimum top-25 support measured 12/6/4 at
        # sf0.001/0.01/0.1; sf0.1 IS the largest
        # driver scale).  The margin is PINNED by
        # tests/test_plans.py::test_copurchase_support_floor_has_margin
        # so a data regeneration that erodes it fails loudly, and the
        # HAVING clause mirrors the floor in the oracle either way
        # (oracle equality holds even at the floor; only the stability
        # of the released rows across data generations is at stake).
        .filter(F.col("common_customers") >= 2)
    )
    edges = (
        li.alias("x")
        .join(li.alias("y"), "l_orderkey")
        .filter(F.col("x.l_partkey") < F.col("y.l_partkey"))
        .select(
            F.col("x.l_partkey").alias("pa"),
            F.col("y.l_partkey").alias("pb"),
        )
        # no distinct: left-anti semantics ignore right-side
        # duplicates, so deduping here would only add a shuffle
    )
    return (
        pairs.join(edges, ["pa", "pb"], "left_anti")
        .orderBy(
            F.col("common_customers").desc(), F.col("pa"), F.col("pb")
        )
        .limit(25)
    )


SQL_COPURCHASE_LINK_PREDICTION = """
WITH cp AS (
  SELECT DISTINCT o.o_custkey, l.l_partkey
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), deg AS (
  SELECT o_custkey, COUNT(*) AS n_parts
  FROM cp GROUP BY o_custkey
  HAVING COUNT(*) >= 2 AND COUNT(*) <= 256
), cpd AS (
  SELECT cp.o_custkey, cp.l_partkey, deg.n_parts
  FROM cp JOIN deg USING (o_custkey)
), pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb,
         COUNT(*) AS common_customers,
         ROUND(SUM(1.0 / ln(a.n_parts)), 4) AS aa_score
  FROM cpd a JOIN cpd b
    ON a.o_custkey = b.o_custkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= 2
), edges AS (
  SELECT DISTINCT x.l_partkey AS pa, y.l_partkey AS pb
  FROM lineitem x JOIN lineitem y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
)
SELECT p.pa, p.pb, p.common_customers, p.aa_score
FROM pairs p ANTI JOIN edges e ON p.pa = e.pa AND p.pb = e.pb
ORDER BY p.common_customers DESC, p.pa, p.pb
LIMIT 25
"""


#: watermark-semantics constants shared by the Spark query, its SQL
#: oracle, and the real-stream parity pytest: arrival jitter modulus
#: (seconds), watermark delay (seconds), tumbling window + replay
#: batch grains (microseconds)
_WM_JITTER_S = 21600
_WM_DELAY_US = 7200 * 1_000_000
_WM_HOUR_US = 3_600_000_000
_WM_DAY_US = 86_400_000_000


def q_watermark_late_events_fixed(spark: SparkSession, sf: str) -> DataFrame:
    """Structured Streaming LATE-DATA semantics certified at rest
    (the decomposition-certification pattern):
    the events table replays as one micro-batch per ARRIVAL day —
    arrival = event time + a deterministic md5 jitter in
    [0, 6h), so a slice of every batch is late — through the exact
    watermark rules a ``withWatermark('ts', '2 hours') .groupBy(
    window('ts', '1 hour'))`` append-mode stream applies:

    - the watermark entering batch b is max event time over batches
      BEFORE b minus the delay (monotone running max — the first
      batch has none and accepts everything);
    - a row is DROPPED iff its window END <= that watermark (state
      for the window was already evicted; equality drops — pinned
      empirically and by the parity pytest);
    - at stream end a window is EMITTED (append mode) iff it retained
      >= 1 row and its end <= the FINAL watermark.

    Output, one row per hourly event-time window that received any
    row: (win_start_us, n_accepted, n_late_dropped, emitted).  Every
    rule is integer arithmetic over ``ts_us``, so the DuckDB twin
    replays the schedule value-for-value; that the relational model
    IS the streaming engine's behavior is pinned by
    tests/test_streaming_windows.py::test_watermark_fixed_model_
    matches_real_stream, which drives the same batches through a real
    checkpointed availableNow stream and compares emitted windows.

    Scale: two data-scale aggregations (per-batch max, per-window
    counts) + a 31-row watermark ledger (const_bucket running max)
    broadcast back onto the event grain — no window over data, no
    state bigger than |batches| + |hourly windows|."""
    ev = load(spark, sf, "events").select("event_id", "ts_us")
    jitter_s = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("late:"), F.col("event_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % _WM_JITTER_S
    )
    evb = ev.select(
        ((F.col("ts_us") + jitter_s * 1_000_000) / _WM_DAY_US)
        .cast("bigint")
        .alias("batch"),
        (F.col("ts_us") / _WM_HOUR_US).cast("bigint").alias("win"),
        "ts_us",
    )
    # NOTE: integer `/ then cast` floors here because every operand is
    # nonnegative; ts_us DIV would be identical.
    batch_max = evb.groupBy("batch").agg(F.max("ts_us").alias("bmax"))
    # watermark ledger: <= 31 rows (one per replay day) — the running
    # max over PRIOR batches, const_bucket keeps the deliberate
    # single-partition window warning-free and audit-visible
    wm_w = (
        Window.partitionBy(const_bucket("batch"))
        .orderBy("batch")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wmtab = batch_max.select(
        "batch",
        (F.max("bmax").over(wm_w) - F.lit(_WM_DELAY_US)).alias("wm_us"),
    )
    final_wm = batch_max.agg(
        (F.max("bmax") - F.lit(_WM_DELAY_US)).alias("final_wm_us")
    )
    accepted = F.col("wm_us").isNull() | (
        (F.col("win") + 1) * _WM_HOUR_US > F.col("wm_us")
    )
    perwin = (
        evb.join(F.broadcast(wmtab), "batch", "left")
        .groupBy("win")
        .agg(
            F.sum(accepted.cast("bigint")).alias("n_accepted"),
            F.sum((~accepted).cast("bigint")).alias("n_late_dropped"),
        )
    )
    return (
        perwin.crossJoin(F.broadcast(final_wm))
        .select(
            (F.col("win") * _WM_HOUR_US).alias("win_start_us"),
            "n_accepted",
            "n_late_dropped",
            (
                (F.col("n_accepted") >= 1)
                & ((F.col("win") + 1) * _WM_HOUR_US <= F.col("final_wm_us"))
            )
            .cast("bigint")
            .alias("emitted"),
        )
        .orderBy("win_start_us")
    )


#: DuckDB hex8-of-md5 parse (the strpos idiom shared with
#: queries/recsys.py — Spark's conv(substring(md5(x),1,8),16,10))
_WM_HEX8 = (
    "CAST(list_sum(list_transform(range(1, 9), pp -> "
    "(strpos('0123456789abcdef', substr(md5('late:' || "
    "CAST(event_id AS VARCHAR)), CAST(pp AS INT), 1)) - 1) "
    "* pow(16.0, 8 - CAST(pp AS INT)))) AS BIGINT)"
)

SQL_WATERMARK_LATE_EVENTS_FIXED = f"""
WITH evb AS (
  SELECT (epoch_us(ts) + ({_WM_HEX8} % {_WM_JITTER_S}) * 1000000)
           // {_WM_DAY_US} AS batch,
         epoch_us(ts) // {_WM_HOUR_US} AS win,
         epoch_us(ts) AS ts_us
  FROM events
), batch_max AS (
  SELECT batch, MAX(ts_us) AS bmax FROM evb GROUP BY batch
), wmtab AS (
  SELECT batch,
         MAX(bmax) OVER (ORDER BY batch
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING)
           - {_WM_DELAY_US} AS wm_us
  FROM batch_max
), fin AS (
  SELECT MAX(bmax) - {_WM_DELAY_US} AS final_wm_us FROM batch_max
), flagged AS (
  SELECT e.win,
         (w.wm_us IS NULL OR (e.win + 1) * {_WM_HOUR_US} > w.wm_us)
           AS ok
  FROM evb e LEFT JOIN wmtab w USING (batch)
)
SELECT win * {_WM_HOUR_US} AS win_start_us,
       CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT)
         AS n_accepted,
       CAST(SUM(CASE WHEN ok THEN 0 ELSE 1 END) AS BIGINT)
         AS n_late_dropped,
       CAST(CASE WHEN SUM(CASE WHEN ok THEN 1 ELSE 0 END) >= 1
                  AND (win + 1) * {_WM_HOUR_US}
                      <= (SELECT final_wm_us FROM fin)
                 THEN 1 ELSE 0 END AS BIGINT) AS emitted
FROM flagged
GROUP BY win
ORDER BY win_start_us
"""


QUERIES = (
    ("part_kcore_profile", q_part_kcore_profile, sql_part_kcore_profile()),
    ("watermark_late_events_fixed", q_watermark_late_events_fixed,
     SQL_WATERMARK_LATE_EVENTS_FIXED),
    ("copurchase_link_prediction", q_copurchase_link_prediction,
     SQL_COPURCHASE_LINK_PREDICTION),
    ("rolling_reach_hll", q_rolling_reach_hll, SQL_ROLLING_REACH_HLL),
    ("brand_random_walks", q_brand_random_walks, sql_brand_random_walks()),
    ("join_size_estimate", q_join_size_estimate, SQL_JOIN_SIZE_ESTIMATE),
    ("temporal_split_leakage", q_temporal_split_leakage,
     SQL_TEMPORAL_SPLIT_LEAKAGE),
    ("rolling_distinct_users", q_rolling_distinct_users,
     SQL_ROLLING_DISTINCT_USERS),
    ("gap_fill_interpolate", q_gap_fill_interpolate, SQL_GAP_FILL_INTERPOLATE),
    ("nation_revenue_trend", q_nation_revenue_trend, SQL_NATION_REVENUE_TREND),
    ("ewma_monthly_revenue", q_ewma_monthly_revenue, SQL_EWMA_MONTHLY_REVENUE),
    ("segment_spend_gini", q_segment_spend_gini, SQL_SEGMENT_SPEND_GINI),
    ("brand_triangles", q_brand_triangles, SQL_BRAND_TRIANGLES),
    ("brand_supplier_hhi", q_brand_supplier_hhi, SQL_BRAND_SUPPLIER_HHI),
    ("event_transition_matrix", q_event_transition_matrix,
     SQL_EVENT_TRANSITION_MATRIX),
    ("key_skew_profile", q_key_skew_profile, SQL_KEY_SKEW_PROFILE),
    ("purchase_attribution", q_purchase_attribution, SQL_PURCHASE_ATTRIBUTION),
    ("brand_pagerank", q_brand_pagerank, sql_brand_pagerank()),
    ("events_value_outliers", q_events_value_outliers,
     SQL_EVENTS_VALUE_OUTLIERS),
    # no oracle: Datasketches HLL estimates are sketch-implementation-
    # defined -> rows-only + pytest bounds; reach_hll_relational is its
    # oracle-backed register-level twin (md5 HLL, value-for-value)
    ("user_reach_sketch", q_user_reach_sketch, None),
    ("reach_hll_relational", q_reach_hll_relational, SQL_REACH_HLL_RELATIONAL),
    ("brand_cooccurrence_top", q_brand_cooccurrence_top,
     SQL_BRAND_COOCCURRENCE_TOP),
    ("order_backlog_daily", q_order_backlog_daily, SQL_ORDER_BACKLOG_DAILY),
    ("user_retention_cohorts", q_user_retention_cohorts,
     SQL_USER_RETENTION_COHORTS),
    ("price_percentiles", q_price_percentiles, SQL_PRICE_PERCENTILES),
    ("price_percentiles_approx", q_price_percentiles_approx,
     SQL_PRICE_PERCENTILES_APPROX),
    ("revenue_grouping_sets", q_revenue_grouping_sets,
     SQL_REVENUE_GROUPING_SETS),
    ("events_band_join", q_events_band_join, SQL_EVENTS_BAND_JOIN),
    ("late_shipment_orders", q_late_shipment_orders, SQL_LATE_SHIPMENT_ORDERS),
    ("brand_small_quantity_revenue", q_brand_small_quantity_revenue,
     SQL_BRAND_SMALL_QUANTITY_REVENUE),
    ("daily_activity", q_daily_activity, SQL_DAILY_ACTIVITY),
    ("customer_recent_spend", q_customer_recent_spend,
     SQL_CUSTOMER_RECENT_SPEND),
    ("top_unshipped_orders", q_top_unshipped_orders, SQL_TOP_UNSHIPPED_ORDERS),
    ("order_date_math", q_order_date_math, SQL_ORDER_DATE_MATH),
    ("token_array_ops", q_token_array_ops, SQL_TOKEN_ARRAY_OPS),
    ("orders_profile", q_orders_profile, SQL_ORDERS_PROFILE),
    ("events_window_fn", q_events_window_fn, SQL_EVENTS_WINDOW_FN),
    ("asia_nation_revenue", q_asia_nation_revenue, SQL_ASIA_NATION_REVENUE),
    ("embedding_top_pairs", q_embedding_top_pairs, SQL_EMBEDDING_TOP_PAIRS),
    ("embedding_top_pairs_lsh", q_embedding_top_pairs_lsh,
     sql_embedding_top_pairs_lsh()),
    ("embedding_neardup_lsh", q_embedding_neardup_lsh,
     sql_embedding_neardup_lsh()),
)
SPARK_QUERIES, ORACLE_SQL = registry(QUERIES)
