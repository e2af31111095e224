"""Data-audit queries: distribution drift, robust anomaly flags,
first-digit law conformance — the monitoring layer a training-data
pipeline runs before trusting a new batch (engine extension; the
reference pipeline loads data but never audits it,
``reference/README.md`` pipeline overview).

Numeric policy (the ``daily_revenue_autocorr`` precedent): every
statistic leaves the engine as EXACT integers — counts, cent-scaled
sums, parts-per-million via integer division — so the DuckDB twins
hash bit-for-bit at full float precision.  No ln/log10 at runtime:
Benford's expected frequencies are pre-computed ppm literals shared
by both engines, and drift is reported as L1 ppm mass rather than a
PSI whose logs would diverge at the last ulp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.window import const_bucket
from .data import load, registry

# ----------------------------------------------------- drift report

#: $50k price bands; 10 buckets regardless of scale
_BAND_CENTS = 5_000_000
_N_BANDS = 10
#: reference period boundary (orders span 1992-1998)
_SPLIT = "1996-01-01"


def q_feature_drift_report(spark: SparkSession, sf: str) -> DataFrame:
    """Population drift of the order-value distribution between the
    reference period (< 1996) and the current one: per price band,
    each period's count and proportion (ppm, integer division) plus
    the band's L1 drift contribution |ppm_cur - ppm_ref|.

    Scale: ONE conditional aggregate over orders to a 10-row band
    relation; the spine keeps empty bands (row count is always 10),
    and the period totals are unpartitioned window sums over those 10
    rows — bounded by construction."""
    o = load(spark, sf, "orders").select(
        F.expr(
            "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
        ).alias("cents"),
        (F.col("o_orderdate") < F.lit(_SPLIT).cast("date")).alias("is_ref"),
    )
    counts = (
        o.select(
            F.least(
                F.expr(f"cents DIV {_BAND_CENTS}"), F.lit(_N_BANDS - 1)
            )
            .cast("bigint")
            .alias("band"),
            "is_ref",
        )
        .groupBy("band")
        .agg(
            F.sum(F.when(F.col("is_ref"), 1).otherwise(0))
            .cast("bigint")
            .alias("ref_cnt"),
            F.sum(F.when(~F.col("is_ref"), 1).otherwise(0))
            .cast("bigint")
            .alias("cur_cnt"),
        )
    )
    spine = spark.range(_N_BANDS).select(F.col("id").alias("band"))
    full = spine.join(counts, "band", "left").select(
        "band",
        F.coalesce("ref_cnt", F.lit(0)).cast("bigint").alias("ref_cnt"),
        F.coalesce("cur_cnt", F.lit(0)).cast("bigint").alias("cur_cnt"),
    )
    # deliberately-global window over the _N_BANDS-row band spine:
    # const_bucket keeps the spec non-empty (single partition is the
    # point; the relation is band-domain-bounded)
    w = Window.partitionBy(const_bucket("band")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    full = full.select(
        "band",
        "ref_cnt",
        "cur_cnt",
        F.sum("ref_cnt").over(w).alias("ref_total"),
        F.sum("cur_cnt").over(w).alias("cur_total"),
    )
    ppm_ref = F.expr("(ref_cnt * 1000000) DIV ref_total")
    ppm_cur = F.expr("(cur_cnt * 1000000) DIV cur_total")
    return full.select(
        "band",
        "ref_cnt",
        "cur_cnt",
        ppm_ref.cast("bigint").alias("ppm_ref"),
        ppm_cur.cast("bigint").alias("ppm_cur"),
        F.abs(ppm_cur - ppm_ref).cast("bigint").alias("l1_ppm"),
    ).orderBy("band")


SQL_FEATURE_DRIFT_REPORT = f"""
WITH o AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS cents,
         o_orderdate < DATE '{_SPLIT}' AS is_ref
  FROM orders
), counts AS (
  SELECT LEAST(cents // {_BAND_CENTS}, {_N_BANDS - 1})::BIGINT AS band,
         CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT)
           AS ref_cnt,
         CAST(SUM(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS BIGINT)
           AS cur_cnt
  FROM o GROUP BY 1
), full_bands AS (
  SELECT r.range::BIGINT AS band,
         COALESCE(ref_cnt, 0)::BIGINT AS ref_cnt,
         COALESCE(cur_cnt, 0)::BIGINT AS cur_cnt
  FROM range({_N_BANDS}) r LEFT JOIN counts ON counts.band = r.range
), tot AS (
  SELECT band, ref_cnt, cur_cnt,
         SUM(ref_cnt) OVER () AS ref_total,
         SUM(cur_cnt) OVER () AS cur_total
  FROM full_bands
)
SELECT band, ref_cnt, cur_cnt,
       ((ref_cnt * 1000000) // ref_total)::BIGINT AS ppm_ref,
       ((cur_cnt * 1000000) // cur_total)::BIGINT AS ppm_cur,
       ABS((cur_cnt * 1000000) // cur_total
           - (ref_cnt * 1000000) // ref_total)::BIGINT AS l1_ppm
FROM tot
ORDER BY band
"""


# ------------------------------------------------ MAD anomaly flags

#: 3 * 1.4826 (the normal-consistency MAD multiplier), in 1e-4 units
#: so the outlier test is pure integer cross-multiplication
_MAD_K_E4 = 44478


def q_revenue_anomaly_mad(spark: SparkSession, sf: str) -> DataFrame:
    """Robust outlier scan of the daily revenue series: median and
    MAD (median absolute deviation) picked as EXACT order statistics
    (lower-middle element, day as tiebreak — no interpolation, no
    float percentile), outliers flagged by integer cross-
    multiplication ``dev * 10^4 > 44478 * mad`` (the classic
    ``|x-med| > 3 * 1.4826 * MAD`` rule).  Top 10 deviations emitted.

    Scale: the windows are unpartitioned but run over the DAY-grain
    aggregate — bounded by the calendar (~2.4k rows) regardless of
    input size, the ``order_backlog_daily`` class."""
    o = load(spark, sf, "orders")
    daily = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("day")
    ).agg(
        F.expr(
            "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100"
            " AS BIGINT)"
        ).alias("rev_c")
    )
    # all three global windows run over the calendar-bounded day
    # grain (docstring); const_bucket("day") keeps the specs
    # non-empty without changing the single-partition evaluation
    w_all = Window.partitionBy(const_bucket("day")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = daily.select(
        "day",
        "rev_c",
        F.row_number()
        .over(
            Window.partitionBy(const_bucket("day")).orderBy("rev_c", "day")
        )
        .alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    )
    with_med = ranked.select(
        "day",
        "rev_c",
        "n",
        F.max(
            F.when(F.col("rn") == F.expr("(n + 1) DIV 2"), F.col("rev_c"))
        )
        .over(w_all)
        .alias("med_c"),
    )
    dev = with_med.select(
        "day",
        "rev_c",
        "n",
        "med_c",
        F.abs(F.col("rev_c") - F.col("med_c")).alias("dev_c"),
    )
    ranked2 = dev.select(
        "day",
        "rev_c",
        "med_c",
        "dev_c",
        F.row_number()
        .over(
            Window.partitionBy(const_bucket("day")).orderBy("dev_c", "day")
        )
        .alias("rn2"),
        "n",
    )
    with_mad = ranked2.select(
        "day",
        "rev_c",
        "med_c",
        "dev_c",
        F.max(
            F.when(F.col("rn2") == F.expr("(n + 1) DIV 2"), F.col("dev_c"))
        )
        .over(w_all)
        .alias("mad_c"),
    )
    return (
        with_mad.select(
            "day",
            "rev_c",
            "med_c",
            "mad_c",
            "dev_c",
            (
                F.col("dev_c") * 10_000 > F.lit(_MAD_K_E4) * F.col("mad_c")
            ).alias("is_anomaly"),
        )
        .orderBy(F.desc("dev_c"), "day")
        .limit(10)
    )


SQL_REVENUE_ANOMALY_MAD = f"""
WITH daily AS (
  SELECT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS day,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
           AS rev_c
  FROM orders GROUP BY 1
), ranked AS (
  SELECT day, rev_c,
         ROW_NUMBER() OVER (ORDER BY rev_c, day) AS rn,
         COUNT(*) OVER () AS n
  FROM daily
), with_med AS (
  SELECT day, rev_c, n,
         MAX(CASE WHEN rn = (n + 1) // 2 THEN rev_c END) OVER () AS med_c
  FROM ranked
), dev AS (
  SELECT day, rev_c, n, med_c, ABS(rev_c - med_c) AS dev_c
  FROM with_med
), ranked2 AS (
  SELECT day, rev_c, med_c, dev_c,
         ROW_NUMBER() OVER (ORDER BY dev_c, day) AS rn2, n
  FROM dev
), with_mad AS (
  SELECT day, rev_c, med_c, dev_c,
         MAX(CASE WHEN rn2 = (n + 1) // 2 THEN dev_c END) OVER ()
           AS mad_c
  FROM ranked2
)
SELECT day, rev_c, med_c, mad_c, dev_c,
       dev_c * 10000 > {_MAD_K_E4} * mad_c AS is_anomaly
FROM with_mad
ORDER BY dev_c DESC, day
LIMIT 10
"""


# -------------------------------------------------- Benford audit

#: round(log10(1 + 1/d) * 1e6) for d = 1..9 — shared ppm literals,
#: so neither engine computes a log at runtime
_BENFORD_PPM = (
    301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153, 45757,
)


def q_benford_digit_audit(spark: SparkSession, sf: str) -> DataFrame:
    """First-significant-digit audit of order values against
    Benford's law — the classic fabricated-data screen.  Observed
    frequencies in ppm by integer division; expected frequencies are
    the shared literals above; deviation is their exact difference.
    One narrow aggregate over orders to a 9-row relation."""
    o = load(spark, sf, "orders").select(
        F.expr(
            "CAST(SUBSTRING(CAST(CAST(CAST(o_totalprice AS"
            " DECIMAL(18,2)) * 100 AS BIGINT) AS STRING), 1, 1)"
            " AS BIGINT)"
        ).alias("digit")
    )
    counts = o.groupBy("digit").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    spine = spark.range(1, 10).select(F.col("id").alias("digit"))
    expected = F.element_at(
        F.array(*[F.lit(p) for p in _BENFORD_PPM]),
        F.col("digit").cast("int"),
    ).cast("bigint")
    # deliberately-global window over the 9-row digit spine:
    # const_bucket keeps the spec non-empty (the relation is
    # digit-domain-bounded; single partition is the point)
    w = Window.partitionBy(const_bucket("digit")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    full = spine.join(counts, "digit", "left").select(
        "digit",
        F.coalesce("cnt", F.lit(0)).cast("bigint").alias("cnt"),
    )
    full = full.select(
        "digit", "cnt", F.sum("cnt").over(w).alias("total")
    )
    obs_ppm = F.expr("(cnt * 1000000) DIV total")
    return full.select(
        "digit",
        "cnt",
        obs_ppm.cast("bigint").alias("obs_ppm"),
        expected.alias("exp_ppm"),
        (obs_ppm - expected).cast("bigint").alias("dev_ppm"),
    ).orderBy("digit")


_BENFORD_CASE = " ".join(
    f"WHEN {d} THEN {p}" for d, p in enumerate(_BENFORD_PPM, start=1)
)

SQL_BENFORD_DIGIT_AUDIT = f"""
WITH o AS (
  SELECT CAST(SUBSTR(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2))
              * 100 AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
  FROM orders
), counts AS (
  SELECT digit, COUNT(*)::BIGINT AS cnt FROM o GROUP BY 1
), full_digits AS (
  SELECT r.range::BIGINT AS digit, COALESCE(cnt, 0)::BIGINT AS cnt
  FROM range(1, 10) r LEFT JOIN counts ON counts.digit = r.range
), tot AS (
  SELECT digit, cnt, SUM(cnt) OVER () AS total FROM full_digits
)
SELECT digit, cnt,
       ((cnt * 1000000) // total)::BIGINT AS obs_ppm,
       (CASE digit {_BENFORD_CASE} END)::BIGINT AS exp_ppm,
       ((cnt * 1000000) // total
        - CASE digit {_BENFORD_CASE} END)::BIGINT AS dev_ppm
FROM tot
ORDER BY digit
"""


QUERIES = (
    ("feature_drift_report", q_feature_drift_report, SQL_FEATURE_DRIFT_REPORT),
    ("revenue_anomaly_mad", q_revenue_anomaly_mad, SQL_REVENUE_ANOMALY_MAD),
    ("benford_digit_audit", q_benford_digit_audit, SQL_BENFORD_DIGIT_AUDIT),
)
SPARK_QUERIES, ORACLE_SQL = registry(QUERIES)
