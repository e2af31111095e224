"""Decision-support batch: the remaining classic TPC-H plan shapes
(Q2, Q7, Q8, Q9, Q10, Q12, Q14, Q18, Q19, Q20 analogs) adapted to the
driver's synthetic tables (which have no partsupp — the Q2/Q20 shapes
use lineitem-derived supplier-part relations instead).

Each query exercises a DISTINCT optimizer pattern the registry did
not yet cover end-to-end:

- Q2   correlated-min subquery -> partitioned window min + filter
- Q7   two-sided dimension join with a disjunctive nation-pair
- Q8   market share: conditional aggregation ratio per group
- Q9   multi-way star with a LIKE filter and a signed profit measure
- Q10  top-k customers by filtered revenue (TakeOrdered, not sort)
- Q12  conditional counts over a derived bucket (CASE in agg)
- Q14  promo share: conditional-sum ratio over one month grain
- Q18  group-HAVING semijoin back to the fact (large-order customers)
- Q19  disjunction of conjunctive brackets pushed into one join
- Q20  self-relation share comparison (this-year vs last-year halves)

Same numeric policy as ``core.py``: money through exact DECIMAL sums
(order-independent), ratios divide two exact sums and round at the
edge, counts cast to bigint, double division only where bit-identical
cross-engine (a single IEEE op on identical inputs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .core import _dec_sum
from .data import load, registry


def _ntz(lit: str) -> F.Column:
    """NTZ timestamp literal (an LTZ ``to_timestamp`` literal would be
    interpreted in the driver-controlled session timezone)."""
    return F.lit(lit).cast("timestamp_ntz")


# ----------------------------------------------------------- Q2 shape


def q_min_cost_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q2 shape: for each LARGE small-size part, the EUROPE
    supplier(s) quoting the minimum unit price — the correlated-min
    subquery decorrelated as a part-partitioned window MIN + filter
    (one shuffle on l_partkey, no join-back scan).  Unit price is a
    single IEEE double division on identical inputs, so min/equality
    are bit-identical cross-engine."""
    p = load(spark, sf, "part").filter(
        (F.col("p_type") == "LARGE") & (F.col("p_size") <= 15)
    ).select("p_partkey", "p_size")
    s = load(spark, sf, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal", "s_nationkey"
    )
    n = load(spark, sf, "nation")
    r = load(spark, sf, "region").filter(F.col("r_name") == "EUROPE")
    eu_sup = s.join(
        F.broadcast(
            n.join(r, n["n_regionkey"] == r["r_regionkey"]).select(
                "n_nationkey", "n_name"
            )
        ),
        s["s_nationkey"] == F.col("n_nationkey"),
    )
    li = load(spark, sf, "lineitem").filter(F.col("l_quantity") > 0)
    # p and eu_sup SCALE with the data (unlike nation/region): no
    # forced broadcast — AQE sizes them at runtime and picks BHJ only
    # when they actually fit the threshold
    cand = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .join(eu_sup, li["l_suppkey"] == eu_sup["s_suppkey"])
        .select(
            "p_partkey",
            "p_size",
            "s_suppkey",
            "s_name",
            "s_acctbal",
            "n_name",
            (F.col("l_extendedprice") / F.col("l_quantity")).alias(
                "unit_price"
            ),
        )
    )
    w = Window.partitionBy("p_partkey")
    return (
        cand.withColumn("min_price", F.min("unit_price").over(w))
        .filter(F.col("unit_price") == F.col("min_price"))
        .groupBy(
            F.col("p_partkey").alias("part_key"),
            F.col("p_size").cast("bigint").alias("part_size"),
            F.col("s_name").alias("supplier"),
            F.col("n_name").alias("nation"),
            F.col("s_acctbal").alias("acctbal"),
            F.col("unit_price"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_quotes"))
        .orderBy(F.desc("acctbal"), "nation", "supplier", "part_key")
    )


SQL_MIN_COST_SUPPLIER = """
WITH cand AS (
  SELECT p_partkey, p_size, s_suppkey, s_name, s_acctbal, n_name,
         l_extendedprice / l_quantity AS unit_price,
         MIN(l_extendedprice / l_quantity)
           OVER (PARTITION BY p_partkey) AS min_price
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE p_type = 'LARGE' AND p_size <= 15 AND r_name = 'EUROPE'
    AND l_quantity > 0
)
SELECT p_partkey AS part_key, CAST(p_size AS BIGINT) AS part_size,
       s_name AS supplier, n_name AS nation, s_acctbal AS acctbal,
       unit_price, CAST(COUNT(*) AS BIGINT) AS n_quotes
FROM cand
WHERE unit_price = min_price
GROUP BY 1, 2, 3, 4, 5, 6
ORDER BY acctbal DESC, nation, supplier, part_key
"""


# ----------------------------------------------------------- Q7 shape


def q_nation_volume_shipping(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between a nation PAIR in both
    directions — the disjunctive two-sided dimension predicate
    ((s=A and c=B) or (s=B and c=A)) applied after independent
    broadcast joins to the supplier-side and customer-side nation."""
    pair = ("NATION_3", "NATION_8")
    li = load(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= _ntz("1999-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ntz("2001-01-01 00:00:00"))
    )
    o = load(spark, sf, "orders").select("o_orderkey", "o_custkey")
    c = load(spark, sf, "customer").select("c_custkey", "c_nationkey")
    s = load(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    n = load(spark, sf, "nation").filter(F.col("n_name").isin(*pair))
    n1 = F.broadcast(
        n.select(
            F.col("n_nationkey").alias("sn_key"),
            F.col("n_name").alias("supp_nation"),
        )
    )
    n2 = F.broadcast(
        n.select(
            F.col("n_nationkey").alias("cn_key"),
            F.col("n_name").alias("cust_nation"),
        )
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(n1, s["s_nationkey"] == F.col("sn_key"))
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(n2, c["c_nationkey"] == F.col("cn_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("ship_year"),
        )
        .agg(
            _dec_sum(vol, 4, "volume"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        )
        .orderBy("supp_nation", "cust_nation", "ship_year")
    )


SQL_NATION_VOLUME_SHIPPING = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS BIGINT) AS ship_year,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                     AS DECIMAL(18,4))) AS DOUBLE) AS volume,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
    OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
  AND l_shipdate >= TIMESTAMP '1999-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '2001-01-01 00:00:00'
GROUP BY 1, 2, 3
ORDER BY supp_nation, cust_nation, ship_year
"""


# ----------------------------------------------------------- Q8 shape


def q_nation_market_share(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_7's share of PROMO-part revenue sold to
    ASIA-region customers, per order year — conditional aggregation
    (numerator = CASE-gated sum, denominator = total sum, ONE pass)
    dividing two exact decimal sums at the edge."""
    li = load(spark, sf, "lineitem")
    o = load(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= _ntz("1999-01-01 00:00:00"))
        & (F.col("o_orderdate") < _ntz("2001-01-01 00:00:00"))
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    p = load(spark, sf, "part").filter(
        F.col("p_type") == "PROMO"
    ).select("p_partkey")
    c = load(spark, sf, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf, "nation")
    r = load(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    asia_keys = F.broadcast(
        n.join(r, n["n_regionkey"] == r["r_regionkey"]).select(
            F.col("n_nationkey").alias("cn_key")
        )
    )
    s = load(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    sn = F.broadcast(
        n.select(
            F.col("n_nationkey").alias("sn_key"),
            F.col("n_name").alias("supp_nation"),
        )
    )
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    joined = (  # p scales with the data: AQE decides the join side
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(asia_keys, c["c_nationkey"] == F.col("cn_key"), "left_semi")
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(sn, s["s_nationkey"] == F.col("sn_key"))
    )
    zero = F.lit(0).cast("decimal(18,4)")
    agg = joined.groupBy(
        F.year("o_orderdate").cast("bigint").alias("order_year")
    ).agg(
        F.sum(
            F.when(F.col("supp_nation") == "NATION_7", vol).otherwise(zero)
        ).alias("nat_d"),
        F.sum(vol).alias("tot_d"),
    )
    return agg.select(
        "order_year",
        F.col("nat_d").cast("double").alias("nation_volume"),
        F.col("tot_d").cast("double").alias("total_volume"),
        F.round(
            F.col("nat_d").cast("double") / F.col("tot_d").cast("double"),
            6,
        ).alias("mkt_share"),
    ).orderBy("order_year")


SQL_NATION_MARKET_SHARE = """
WITH agg AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
         SUM(CASE WHEN n1.n_name = 'NATION_7'
                  THEN CAST(l_extendedprice * (1 - l_discount)
                            AS DECIMAL(18,4))
                  ELSE CAST(0 AS DECIMAL(18,4)) END) AS nat_d,
         SUM(CAST(l_extendedprice * (1 - l_discount)
                  AS DECIMAL(18,4))) AS tot_d
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  WHERE p_type = 'PROMO'
    AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '2001-01-01 00:00:00'
    AND c_nationkey IN (SELECT n_nationkey FROM nation
                        JOIN region ON n_regionkey = r_regionkey
                        WHERE r_name = 'ASIA')
  GROUP BY 1
)
SELECT order_year,
       CAST(nat_d AS DOUBLE) AS nation_volume,
       CAST(tot_d AS DOUBLE) AS total_volume,
       ROUND(CAST(nat_d AS DOUBLE) / CAST(tot_d AS DOUBLE), 6)
         AS mkt_share
FROM agg ORDER BY order_year
"""


# ----------------------------------------------------------- Q9 shape


def q_product_profit_by_nation(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q9 shape: profit on parts whose name contains 'red',
    grouped by supplier nation and order year.  Profit subtracts a
    retail-cost proxy (no partsupp supplycost in this schema):
    amount = extprice*(1-disc) - 0.5*retailprice*qty, each term cast
    to an exact decimal BEFORE the sum so the signed total is
    order-independent."""
    p = load(spark, sf, "part").filter(
        F.col("p_name").contains("red")
    ).select("p_partkey", "p_retailprice")
    li = load(spark, sf, "lineitem")
    o = load(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    s = load(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    n = load(spark, sf, "nation").select("n_nationkey", "n_name")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    cost = (
        F.lit(0.5) * F.col("p_retailprice") * F.col("l_quantity")
    ).cast("decimal(18,4)")
    return (  # p scales with the data: AQE decides the join side
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("order_year"),
        )
        .agg(
            F.sum(rev - cost).cast("double").alias("profit"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        )
        .orderBy("nation", F.desc("order_year"))
    )


SQL_PRODUCT_PROFIT_BY_NATION = """
SELECT n_name AS nation,
       CAST(year(o_orderdate) AS BIGINT) AS order_year,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                     AS DECIMAL(18,4))
                - CAST(0.5 * p_retailprice * l_quantity
                       AS DECIMAL(18,4))) AS DOUBLE) AS profit,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
WHERE p_name LIKE '%red%'
GROUP BY 1, 2
ORDER BY nation, order_year DESC
"""


# ---------------------------------------------------------- Q10 shape


def q_returned_revenue_customers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by revenue lost to returns
    in one quarter — filtered star join, grouped to customer grain,
    then a DETERMINISTIC TakeOrderedAndProject top-k (revenue desc,
    custkey tiebreak; revenue is an exact decimal sum so the order is
    engine-independent)."""
    o = load(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= _ntz("2000-01-01 00:00:00"))
        & (F.col("o_orderdate") < _ntz("2000-04-01 00:00:00"))
    ).select("o_orderkey", "o_custkey")
    li = load(spark, sf, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    c = load(spark, sf, "customer")
    n = load(spark, sf, "nation").select("n_nationkey", "n_name")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(
            F.col("c_custkey").alias("customer_id"),
            F.col("c_name").alias("customer"),
            F.col("n_name").alias("nation"),
            F.col("c_acctbal").alias("acctbal"),
        )
        .agg(_dec_sum(rev, 4, "lost_revenue"))
        .orderBy(F.desc("lost_revenue"), "customer_id")
        .limit(20)
    )


SQL_RETURNED_REVENUE_CUSTOMERS = """
SELECT c_custkey AS customer_id, c_name AS customer, n_name AS nation,
       c_acctbal AS acctbal,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                     AS DECIMAL(18,4))) AS DOUBLE) AS lost_revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '2000-04-01 00:00:00'
GROUP BY 1, 2, 3, 4
ORDER BY lost_revenue DESC, customer_id
LIMIT 20
"""


# ---------------------------------------------------------- Q12 shape


def q_shipping_delay_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q12 shape (no shipmode column: the bucket is DERIVED
    from the ship delay) — conditional counts inside the aggregate:
    per delay bucket, how many lines belong to critical-priority
    orders vs not.  One join, one hash aggregate."""
    li = load(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    o = load(spark, sf, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    delay = F.datediff(
        F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
    )
    bucket = (
        F.when(delay <= 30, "0-30")
        .when(delay <= 90, "31-90")
        .otherwise("90+")
    )
    crit = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    one = F.lit(1).cast("bigint")
    zero = F.lit(0).cast("bigint")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(bucket.alias("delay_bucket"))
        .agg(
            F.sum(F.when(crit, one).otherwise(zero)).alias("critical_lines"),
            F.sum(F.when(crit, zero).otherwise(one)).alias("regular_lines"),
        )
        .orderBy("delay_bucket")
    )


SQL_SHIPPING_DELAY_BUCKETS = """
SELECT CASE
         WHEN datediff('day', CAST(o_orderdate AS DATE),
                       CAST(l_shipdate AS DATE)) <= 30 THEN '0-30'
         WHEN datediff('day', CAST(o_orderdate AS DATE),
                       CAST(l_shipdate AS DATE)) <= 90 THEN '31-90'
         ELSE '90+' END AS delay_bucket,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS critical_lines,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS regular_lines
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1
ORDER BY delay_bucket
"""


# ---------------------------------------------------------- Q14 shape


def q_promo_revenue_share(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q14 shape: the PROMO-part share of each 2000 month's
    revenue — conditional-sum ratio at month grain, both sums exact
    decimals, divided (and scaled to percent) only at the edge."""
    li = load(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= _ntz("2000-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ntz("2001-01-01 00:00:00"))
    )
    p = load(spark, sf, "part").select("p_partkey", "p_type")
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    zero = F.lit(0).cast("decimal(18,4)")
    agg = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("month"))
        .agg(
            F.sum(
                F.when(F.col("p_type") == "PROMO", vol).otherwise(zero)
            ).alias("promo_d"),
            F.sum(vol).alias("tot_d"),
        )
    )
    return agg.select(
        "month",
        F.col("promo_d").cast("double").alias("promo_revenue"),
        F.col("tot_d").cast("double").alias("total_revenue"),
        F.round(
            F.lit(100.0)
            * F.col("promo_d").cast("double")
            / F.col("tot_d").cast("double"),
            6,
        ).alias("promo_pct"),
    ).orderBy("month")


SQL_PROMO_REVENUE_SHARE = """
WITH agg AS (
  SELECT strftime(CAST(l_shipdate AS DATE), '%Y-%m') AS month,
         SUM(CASE WHEN p_type = 'PROMO'
                  THEN CAST(l_extendedprice * (1 - l_discount)
                            AS DECIMAL(18,4))
                  ELSE CAST(0 AS DECIMAL(18,4)) END) AS promo_d,
         SUM(CAST(l_extendedprice * (1 - l_discount)
                  AS DECIMAL(18,4))) AS tot_d
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '2001-01-01 00:00:00'
  GROUP BY 1
)
SELECT month,
       CAST(promo_d AS DOUBLE) AS promo_revenue,
       CAST(tot_d AS DOUBLE) AS total_revenue,
       ROUND(100.0 * CAST(promo_d AS DOUBLE) / CAST(tot_d AS DOUBLE), 6)
         AS promo_pct
FROM agg ORDER BY month
"""


# ---------------------------------------------------------- Q18 shape


def q_large_order_customers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q18 shape: customers who placed an order totalling more
    than 250 quantity units — the group-HAVING subquery realized as
    an aggregate-then-join back to orders/customer (the qualifying
    order set is small: AQE broadcasts it)."""
    li = load(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty_d"))
        .filter(F.col("qty_d") > 250)
    )
    o = load(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = load(spark, sf, "customer").select("c_custkey", "c_name")
    return (
        big.join(o, big["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            F.col("c_custkey").alias("customer_id"),
            F.col("c_name").alias("customer"),
            F.col("o_orderkey").alias("order_key"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            F.col("o_totalprice").alias("total_price"),
            F.col("qty_d").cast("double").alias("total_qty"),
        )
        .orderBy(F.desc("total_qty"), "order_key")
    )


SQL_LARGE_ORDER_CUSTOMERS = """
WITH big AS (
  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty_d
  FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250
)
SELECT c_custkey AS customer_id, c_name AS customer,
       o_orderkey AS order_key,
       strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS order_date,
       o_totalprice AS total_price,
       CAST(qty_d AS DOUBLE) AS total_qty
FROM big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY total_qty DESC, order_key
"""


# ---------------------------------------------------------- Q19 shape


def q_bracket_disjunction_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q19 shape: revenue matching ANY of three conjunctive
    (brand, size-range, quantity-range) brackets — the disjunctive
    predicate lives in ONE pass over one broadcast part join; the
    quantity half of each bracket references the fact side, so the
    filter evaluates post-join (Catalyst still pushes the
    brand/size disjunction down to the part scan)."""
    li = load(spark, sf, "lineitem")
    p = load(spark, sf, "part").select("p_partkey", "p_brand", "p_size")
    q = F.col("l_quantity")
    brackets = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & q.between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & q.between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#15")
            & F.col("p_size").between(1, 15)
            & q.between(20, 30)
        )
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (  # p scales with the data: AQE decides the join side
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .filter(brackets)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            _dec_sum(rev, 4, "revenue"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        )
        .orderBy("brand")
    )


SQL_BRACKET_DISJUNCTION_REVENUE = """
SELECT p_brand AS brand,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                     AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
GROUP BY 1
ORDER BY brand
"""


# ---------------------------------------------------------- Q20 shape


def q_excess_share_suppliers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q20 shape (no partsupp availqty: the threshold relation
    is LAST YEAR'S part volume instead): suppliers whose 2000
    shipments of a part exceed HALF that part's total 1999 volume —
    two aggregations of the same fact at different grains joined on
    the part key, collapsed to distinct suppliers with their nation.
    Quantities sum as exact decimals; the half-threshold compares by
    doubling the left side (2*q > total), never dividing."""
    li = load(spark, sf, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    cur = (
        li.filter(
            (F.col("l_shipdate") >= _ntz("2000-01-01 00:00:00"))
            & (F.col("l_shipdate") < _ntz("2001-01-01 00:00:00"))
        )
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(qty).alias("q_cur"))
    )
    prev = (
        li.filter(
            (F.col("l_shipdate") >= _ntz("1999-01-01 00:00:00"))
            & (F.col("l_shipdate") < _ntz("2000-01-01 00:00:00"))
        )
        .groupBy(F.col("l_partkey").alias("pk"))
        .agg(F.sum(qty).alias("q_prev"))
    )
    s = load(spark, sf, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    n = load(spark, sf, "nation").select("n_nationkey", "n_name")
    dominant = (
        cur.join(prev, cur["l_partkey"] == prev["pk"])
        .filter(F.col("q_cur") * 2 > F.col("q_prev"))
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_parts"))
    )
    return (
        dominant.join(s, dominant["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .select(
            F.col("s_name").alias("supplier"),
            F.col("n_name").alias("nation"),
            "n_parts",
        )
        .orderBy(F.desc("n_parts"), "supplier")
    )


SQL_EXCESS_SHARE_SUPPLIERS = """
WITH cur AS (
  SELECT l_suppkey, l_partkey,
         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS q_cur
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '2001-01-01 00:00:00'
  GROUP BY 1, 2
), prev AS (
  SELECT l_partkey AS pk,
         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS q_prev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1999-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '2000-01-01 00:00:00'
  GROUP BY 1
), dominant AS (
  SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n_parts
  FROM cur JOIN prev ON l_partkey = pk
  WHERE q_cur * 2 > q_prev
  GROUP BY 1
)
SELECT s_name AS supplier, n_name AS nation, n_parts
FROM dominant
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
ORDER BY n_parts DESC, supplier
"""


QUERIES = (
    ("min_cost_supplier", q_min_cost_supplier, SQL_MIN_COST_SUPPLIER),
    ("nation_volume_shipping", q_nation_volume_shipping,
     SQL_NATION_VOLUME_SHIPPING),
    ("nation_market_share", q_nation_market_share, SQL_NATION_MARKET_SHARE),
    ("product_profit_by_nation", q_product_profit_by_nation,
     SQL_PRODUCT_PROFIT_BY_NATION),
    ("returned_revenue_customers", q_returned_revenue_customers,
     SQL_RETURNED_REVENUE_CUSTOMERS),
    ("shipping_delay_buckets", q_shipping_delay_buckets,
     SQL_SHIPPING_DELAY_BUCKETS),
    ("promo_revenue_share", q_promo_revenue_share, SQL_PROMO_REVENUE_SHARE),
    ("large_order_customers", q_large_order_customers,
     SQL_LARGE_ORDER_CUSTOMERS),
    ("bracket_disjunction_revenue", q_bracket_disjunction_revenue,
     SQL_BRACKET_DISJUNCTION_REVENUE),
    ("excess_share_suppliers", q_excess_share_suppliers,
     SQL_EXCESS_SHARE_SUPPLIERS),
)
SPARK_QUERIES, ORACLE_SQL = registry(QUERIES)
