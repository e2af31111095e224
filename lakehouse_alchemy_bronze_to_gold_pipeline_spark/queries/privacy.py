"""Differential-privacy release queries — the privacy layer over
gold aggregates (engine extension; mechanism in ``operators/dp.py``).

Numeric policy (the ``mlaudit`` precedent): every released value is
an exact BIGINT — cents, counts, ppm epsilon ledger entries — and
the Laplace inverse-CDF noise is a shared 256-literal table, so the
DuckDB twin hashes bit-for-bit at full precision.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dp
from .data import load, registry

#: per-customer contribution bound, cents ($4M ~ p90 of per-customer
#: lifetime spend at every tested SF: clipping is demonstrably ACTIVE
#: — a bound above max() would make the sensitivity claim vacuous)
_CLIP_CENTS = 400_000_000
#: budget split: eps = 1.0 for the sum release, 0.5 for the count
#: release; sequential composition totals 1.5 (ppm ledger in-row)
_EPS_SUM_PPM = 1_000_000
_EPS_CNT_PPM = 500_000
#: Laplace scales b = sensitivity / eps: add/remove one customer
#: moves a clipped nation sum by <= CLIP and a nation count by <= 1
_TBL_SUM = dp.laplace_noise_table(_CLIP_CENTS / (_EPS_SUM_PPM / 1e6))
_TBL_CNT = dp.laplace_noise_table(1.0 / (_EPS_CNT_PPM / 1e6))

#: per-row exact cents idiom shared with mlaudit (decimal-rounds the
#: double price BEFORE scaling so both engines agree bit-for-bit)
_CENTS = "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"


def q_dp_revenue_release(spark: SparkSession, sf: str) -> DataFrame:
    """Per-nation customer-spend release under (1.5)-DP mechanism
    PLUMBING: per-customer lifetime spend exactly aggregated in cents,
    clipped at $4M, summed per nation, then Laplace-noised
    (b = clip/eps); the customer COUNT per nation is released beside
    it from a second budget slice.

    The non-private status is machine-visible, not just
    docstring-visible: every column that would break a
    real release — exact sums, exact counts, and the noise values
    themselves (subtractable) — carries an ``audit_`` prefix, and the
    in-row ``mechanism='deterministic-audit'`` marker states that the
    noise is a pure md5 function of the public group key, so the
    epsilon ledger documents the CALIBRATION being audited, not a
    privacy guarantee of this table.  A production release drops the
    ``audit_*`` columns into a restricted view and swaps the md5
    bucket for a CSPRNG draw (mechanism='laplace'), keeping the
    clipping/accounting path — and this query's oracle — unchanged.

    Mechanism determinism (retry-idempotence at 1000 executors) and
    the quantized-Laplace honesty caveat: ``operators/dp.py``.

    Scale: one groupBy over orders to customer grain, one narrow
    clip projection, one groupBy to nation grain (25 rows), one
    broadcast join for names, O(groups) literal noise lookups —
    exactly the two shuffles the non-private query already pays."""
    spend = (
        load(spark, sf, "orders")
        .select(F.col("o_custkey"), F.expr(_CENTS).alias("cents"))
        .groupBy("o_custkey")
        .agg(F.sum("cents").cast("bigint").alias("cents"))
    )
    # population = ALL customers (zero-order customers contribute 0
    # but are real units of the count release)
    units = (
        load(spark, sf, "customer")
        .select("c_custkey", "c_nationkey")
        .join(spend, F.col("c_custkey") == F.col("o_custkey"), "left")
        .select(
            "c_nationkey",
            F.coalesce(F.col("cents"), F.lit(0)).alias("cents"),
        )
    )
    agg = units.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum(F.when(F.col("cents") > _CLIP_CENTS, 1).otherwise(0))
        .cast("bigint")
        .alias("n_clipped"),
        F.sum("cents").cast("bigint").alias("raw_sum_cents"),
        F.sum(F.least(F.col("cents"), F.lit(_CLIP_CENTS)))
        .cast("bigint")
        .alias("exact_sum_cents"),
    )
    named = agg.join(
        F.broadcast(
            load(spark, sf, "nation").select("n_nationkey", "n_name")
        ),
        F.col("c_nationkey") == F.col("n_nationkey"),
    )
    noise_sum = dp.noise_value(_TBL_SUM, "dpsum", F.col("n_name"))
    noise_cnt = dp.noise_value(_TBL_CNT, "dpcnt", F.col("n_name"))
    return (
        named.select(
            "n_name",
            F.col("n_customers").alias("audit_n_customers"),
            F.col("n_clipped").alias("audit_n_clipped"),
            F.col("raw_sum_cents").alias("audit_raw_sum_cents"),
            F.col("exact_sum_cents").alias("audit_exact_sum_cents"),
            noise_sum.alias("audit_noise_sum_cents"),
            (F.col("exact_sum_cents") + noise_sum)
            .cast("bigint")
            .alias("noisy_sum_cents"),
            noise_cnt.alias("audit_noise_count"),
            (F.col("n_customers") + noise_cnt)
            .cast("bigint")
            .alias("noisy_count"),
            F.lit(_CLIP_CENTS).cast("bigint").alias("clip_cents"),
            F.lit(_EPS_SUM_PPM).cast("bigint").alias("eps_sum_ppm"),
            F.lit(_EPS_CNT_PPM).cast("bigint").alias("eps_count_ppm"),
            F.lit(_EPS_SUM_PPM + _EPS_CNT_PPM)
            .cast("bigint")
            .alias("eps_total_ppm"),
            F.lit(dp.MECHANISM).alias("mechanism"),
        )
        .orderBy("n_name")
    )


SQL_DP_REVENUE_RELEASE = f"""
WITH spend AS (
  SELECT o_custkey, CAST(SUM({_CENTS}) AS BIGINT) AS cents
  FROM orders GROUP BY o_custkey
),
units AS (
  SELECT c.c_nationkey, COALESCE(s.cents, 0) AS cents
  FROM customer c LEFT JOIN spend s ON c.c_custkey = s.o_custkey
),
agg AS (
  SELECT c_nationkey,
         CAST(COUNT(*) AS BIGINT) AS n_customers,
         CAST(SUM(CASE WHEN cents > {_CLIP_CENTS} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_clipped,
         CAST(SUM(cents) AS BIGINT) AS raw_sum_cents,
         CAST(SUM(LEAST(cents, {_CLIP_CENTS})) AS BIGINT)
           AS exact_sum_cents
  FROM units GROUP BY c_nationkey
)
SELECT n.n_name,
       a.n_customers AS audit_n_customers,
       a.n_clipped AS audit_n_clipped,
       a.raw_sum_cents AS audit_raw_sum_cents,
       a.exact_sum_cents AS audit_exact_sum_cents,
       {dp.noise_value_sql(_TBL_SUM, 'dpsum', 'n.n_name')}
         AS audit_noise_sum_cents,
       CAST(a.exact_sum_cents
            + {dp.noise_value_sql(_TBL_SUM, 'dpsum', 'n.n_name')}
            AS BIGINT) AS noisy_sum_cents,
       {dp.noise_value_sql(_TBL_CNT, 'dpcnt', 'n.n_name')}
         AS audit_noise_count,
       CAST(a.n_customers
            + {dp.noise_value_sql(_TBL_CNT, 'dpcnt', 'n.n_name')}
            AS BIGINT) AS noisy_count,
       CAST({_CLIP_CENTS} AS BIGINT) AS clip_cents,
       CAST({_EPS_SUM_PPM} AS BIGINT) AS eps_sum_ppm,
       CAST({_EPS_CNT_PPM} AS BIGINT) AS eps_count_ppm,
       CAST({_EPS_SUM_PPM + _EPS_CNT_PPM} AS BIGINT) AS eps_total_ppm,
       '{dp.MECHANISM}' AS mechanism
FROM agg a JOIN nation n ON a.c_nationkey = n.n_nationkey
ORDER BY n.n_name
"""


#: histogram release: unit = one order (each order lands in exactly
#: one bucket, so add/remove moves ONE bucket count by 1 — the
#: buckets partition the unit domain and PARALLEL composition applies:
#: one eps covers the whole histogram, independent of bucket count)
_HIST_EPS_PPM = 500_000
_HIST_WIDTH, _HIST_NBINS = 30_000, 20


def q_dp_histogram_release(spark: SparkSession, sf: str) -> DataFrame:
    """(0.5)-DP order-total histogram over the ``price_histogram``
    shape, built on the generic :func:`dp.release` operator — its
    first oracle-backed registry coverage.

    Two DP-histogram subtleties done right and visible in-row:

    * **Full public domain.** Every bucket 0..19 is released, noised,
      even when its exact count is zero — absence of a row would leak
      'no orders in this range' exactly (the spine join + coalesce-0
      before noising).
    * **Parallel, not sequential, composition.** One order contributes
      to exactly one bucket, so the whole 20-bucket release spends a
      single eps = 0.5 (sensitivity 1 per bucket) — ``eps_total_ppm``
      stays 500_000, NOT 20 x 500_000.

    The audit_ / mechanism convention matches ``dp_revenue_release``:
    exact counts and subtractable noise are audit_-prefixed; the
    released surface is (bucket, lo, hi, released_n_orders, ledger).

    Scale: ONE partial+final count aggregate over orders (the binning
    is a narrow floor-div projection), a 20-row broadcast spine join,
    O(buckets) literal noise lookups."""
    o = load(spark, sf, "orders")
    bucket = F.least(
        F.floor(F.col("o_totalprice") / _HIST_WIDTH),
        F.lit(_HIST_NBINS - 1),
    ).cast("bigint")
    counts = (
        o.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
    )
    spine = spark.range(_HIST_NBINS).select(
        F.col("id").cast("bigint").alias("bucket")
    )
    full = spine.join(counts, "bucket", "left").select(
        "bucket",
        F.coalesce(F.col("n_orders"), F.lit(0))
        .cast("bigint")
        .alias("n_orders"),
    )
    rel = dp.release(full, "bucket", [("n_orders", 1, _HIST_EPS_PPM)])
    return rel.select(
        "bucket",
        (F.col("bucket") * _HIST_WIDTH).cast("double").alias("lo"),
        ((F.col("bucket") + 1) * _HIST_WIDTH).cast("double").alias("hi"),
        F.col("n_orders").alias("audit_n_orders"),
        F.col("n_orders_noise").alias("audit_noise"),
        F.col("n_orders_released").alias("released_n_orders"),
        F.lit(_HIST_EPS_PPM).cast("bigint").alias("eps_ppm"),
        "eps_total_ppm",
        "mechanism",
    ).orderBy("bucket")


#: the same table release() builds internally: b = 1 / 0.5 = 2.0
_TBL_HIST = dp.laplace_noise_table(1.0 / (_HIST_EPS_PPM / 1e6))

SQL_DP_HISTOGRAM_RELEASE = f"""
WITH counts AS (
  SELECT LEAST(CAST(FLOOR(o_totalprice / {_HIST_WIDTH}) AS BIGINT),
               {_HIST_NBINS - 1}) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1
),
full_dom AS (
  SELECT CAST(r.range AS BIGINT) AS bucket,
         CAST(COALESCE(c.n_orders, 0) AS BIGINT) AS n_orders
  FROM range(0, {_HIST_NBINS}) r LEFT JOIN counts c
    ON CAST(r.range AS BIGINT) = c.bucket
)
SELECT bucket,
       CAST(bucket * {_HIST_WIDTH} AS DOUBLE) AS lo,
       CAST((bucket + 1) * {_HIST_WIDTH} AS DOUBLE) AS hi,
       n_orders AS audit_n_orders,
       {dp.noise_value_sql(_TBL_HIST, 'dp:n_orders', 'bucket')}
         AS audit_noise,
       CAST(n_orders
            + {dp.noise_value_sql(_TBL_HIST, 'dp:n_orders', 'bucket')}
            AS BIGINT) AS released_n_orders,
       CAST({_HIST_EPS_PPM} AS BIGINT) AS eps_ppm,
       CAST({_HIST_EPS_PPM} AS BIGINT) AS eps_total_ppm,
       '{dp.MECHANISM}' AS mechanism
FROM full_dom
ORDER BY bucket
"""


QUERIES = (
    ("dp_revenue_release", q_dp_revenue_release, SQL_DP_REVENUE_RELEASE),
    ("dp_histogram_release", q_dp_histogram_release, SQL_DP_HISTOGRAM_RELEASE),
)
SPARK_QUERIES, ORACLE_SQL = registry(QUERIES)
