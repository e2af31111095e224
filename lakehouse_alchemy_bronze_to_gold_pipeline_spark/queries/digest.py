"""q-digest quantile sketch certification (the sketch family's
quantile member, next to MG/CMS/KMV/HLL).

``quantile_digest_accuracy`` builds a q-digest (Shrivastava et al.,
"Medians and Beyond: New Aggregation Techniques for Sensor
Networks", public literature) over lineitem extended price —
RELATIONALLY, with pure integer arithmetic end to end — then
estimates the 1/25/50/75/99th percentiles from the digest alone and
certifies the realized rank error against the theoretical bound
``2 * sigma * bits``, value-for-value against a DuckDB oracle that
replays the identical compression rounds as an unrolled CTE chain.

Numeric policy: every output column is BIGINT/INT/BOOLEAN — there
is no float anywhere in the pipeline (prices enter as the repo's
exact cent-scaled DECIMAL(18,2)*100 idiom), so the comparison is
bit-identical in any engine.

Scale: the leaf histogram is bounded by the universe (2^14 rows)
regardless of input size — the ONLY data-scale shuffle is the first
groupBy, map-side combined to <= |partitions| x 2^14 partials.  The
14 compression rounds and both cumulative windows operate on that
bounded relation (digest size <= sigma_frac + 14 nodes), which is
why the unpartitioned windows here are safe by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.window import const_bucket
from ..operators.sketch import qdigest_compress, qdigest_intervals
from ..sources.tables import local_table
from .data import load, registry

_QD_BITS = 14
_QD_U = 1 << _QD_BITS
#: cents DIV 8192 maps the ~10.5M-cent price range onto [0, 1282)
#: inside the 2^14 universe (LEAST-clamped for safety)
_QD_DIVISOR = 8192
#: sigma = max(1, n DIV 1024): digest <= ~1024 + 14 nodes; rank
#: error bound 2*sigma*14 ~= 2.7% of n
_QD_SIGMA_FRAC = 1024
_QD_PCTS = (1, 25, 50, 75, 99)


def q_quantile_digest_accuracy(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem").select(
        F.expr(
            "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
        ).alias("cents")
    )
    leaves = (
        li.select(
            F.least(
                F.expr(f"cents DIV {_QD_DIVISOR}"), F.lit(_QD_U - 1)
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    tot = leaves.agg(F.sum("cnt").alias("n")).select(
        "n",
        F.greatest(
            F.lit(1).cast("bigint"), F.expr(f"n DIV {_QD_SIGMA_FRAC}")
        ).alias("sigma"),
    )
    leaves_s = leaves.crossJoin(F.broadcast(tot)).persist()
    digest = qdigest_intervals(
        qdigest_compress(
            leaves_s.select(
                (F.lit(_QD_U) + F.col("bucket")).cast("bigint").alias("id"),
                "cnt",
                "sigma",
            ),
            _QD_BITS,
        ),
        _QD_BITS,
    )
    # cumulative counts: digest nodes in (hi, id) order, leaves in
    # bucket order — both relations bounded by construction (<= 2^14
    # rows), so the global windows are single-task by design;
    # const_bucket keeps their specs non-empty (functions/window.py)
    wd = (
        Window.partitionBy(const_bucket("id"))
        .orderBy("hi", "id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    dcum = digest.select(
        "hi", "id", F.sum("cnt").over(wd).alias("cum")
    ).select("hi", "cum")
    wl = (
        Window.partitionBy(const_bucket("bucket"))
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    lcum = leaves_s.select(
        "bucket", F.sum("cnt").over(wl).alias("cum")
    )
    qs = (
        local_table(spark, [(p,) for p in _QD_PCTS], "q_pct int")
        .crossJoin(F.broadcast(tot))
        .select(
            "q_pct",
            "n",
            "sigma",
            F.expr("(q_pct * n + 99) DIV 100").alias("target"),
        )
    )
    # nodes with cum >= target form a SUFFIX of the (hi, id) order
    # (cum is nondecreasing along it), so MIN(hi) over the suffix is
    # the first covering node's upper bound — no second window needed
    est = (
        qs.join(dcum, F.col("cum") >= F.col("target"))
        .groupBy("q_pct", "n", "sigma", "target")
        .agg(F.min("hi").alias("est_bucket"))
    )
    tru = (
        qs.select("q_pct", "target")
        .join(lcum, F.col("cum") >= F.col("target"))
        .groupBy("q_pct")
        .agg(F.min("bucket").alias("true_bucket"))
    )
    # exact rank interval of the estimated bucket from the leaf
    # cumsum: n_le = #values <= est_bucket, n_lt = #values < it
    ranks = (
        est.join(lcum, F.col("bucket") <= F.col("est_bucket"), "left")
        .groupBy("q_pct", "n", "sigma", "target", "est_bucket")
        .agg(
            F.coalesce(F.max("cum"), F.lit(0).cast("bigint")).alias(
                "n_le"
            ),
            F.coalesce(
                F.max(
                    F.when(
                        F.col("bucket") < F.col("est_bucket"),
                        F.col("cum"),
                    )
                ),
                F.lit(0).cast("bigint"),
            ).alias("n_lt"),
        )
    )
    err = F.greatest(
        F.lit(0).cast("bigint"),
        F.col("target") - F.col("n_le"),
        F.col("n_lt") + 1 - F.col("target"),
    )
    bound = (F.lit(2 * _QD_BITS).cast("bigint") * F.col("sigma")).alias(
        "err_bound"
    )
    return (
        ranks.join(tru, "q_pct")
        .select(
            "q_pct",
            "est_bucket",
            "true_bucket",
            F.col("target").alias("target_rank"),
            "n_le",
            err.cast("bigint").alias("rank_err"),
            bound,
            (err <= F.lit(2 * _QD_BITS) * F.col("sigma")).alias(
                "within_bound"
            ),
        )
        .orderBy("q_pct")
    )


def _sql_rounds(group_cols: str = "") -> str:
    """The 14 compression rounds as an unrolled CTE chain (r15 is
    the leaf relation; each round is the same single-groupBy step the
    Spark loop builds).  ``group_cols`` (e.g. ``"l_returnflag, "``)
    threads per-group digest keys through every round."""
    n_keys = group_cols.count(",")
    grp_by = ", ".join(str(i + 1) for i in range(n_keys + 2))
    parts = []
    prev = "r15"
    for lvl in range(_QD_BITS, 0, -1):
        parts.append(
            f"""r{lvl} AS (
  SELECT {group_cols}CASE WHEN id >= {1 << lvl} AND id < {1 << (lvl + 1)}
                   AND cnt < sigma
              THEN id // 2 ELSE id END AS id,
         sigma, SUM(cnt)::BIGINT AS cnt
  FROM {prev} GROUP BY {grp_by}
)"""
        )
        prev = f"r{lvl}"
    return ",\n".join(parts)


def _sql_width_case() -> str:
    return " ".join(
        f"WHEN id >= {1 << l} THEN {1 << (_QD_BITS - l)}"
        for l in range(_QD_BITS, -1, -1)
    )


SQL_QUANTILE_DIGEST_ACCURACY = f"""
WITH leaves AS (
  SELECT LEAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
               AS BIGINT) // {_QD_DIVISOR}, {_QD_U - 1}) AS bucket,
         COUNT(*)::BIGINT AS cnt
  FROM lineitem GROUP BY 1
), tot AS (
  SELECT SUM(cnt)::BIGINT AS n,
         GREATEST(1, SUM(cnt)::BIGINT // {_QD_SIGMA_FRAC}) AS sigma
  FROM leaves
), r15 AS (
  SELECT ({_QD_U} + bucket)::BIGINT AS id, cnt, sigma
  FROM leaves, tot
),
{_sql_rounds()},
digest AS (
  SELECT id, cnt,
         (id - {_QD_U} // (CASE {_sql_width_case()} END))
           * (CASE {_sql_width_case()} END)
           + (CASE {_sql_width_case()} END) - 1 AS hi
  FROM r1
), dcum AS (
  SELECT hi,
         SUM(cnt) OVER (ORDER BY hi, id ROWS UNBOUNDED PRECEDING)
           AS cum
  FROM digest
), lcum AS (
  SELECT bucket,
         SUM(cnt) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
           AS cum
  FROM leaves
), qs AS (
  SELECT q_pct, n, sigma, (q_pct * n + 99) // 100 AS target
  FROM (VALUES {", ".join(f"({p})" for p in _QD_PCTS)}) AS v(q_pct),
       tot
), est AS (
  SELECT q_pct, n, sigma, target, MIN(hi) AS est_bucket
  FROM qs JOIN dcum ON cum >= target
  GROUP BY 1, 2, 3, 4
), tru AS (
  SELECT q_pct, MIN(bucket) AS true_bucket
  FROM qs JOIN lcum ON cum >= target
  GROUP BY 1
), ranks AS (
  SELECT e.q_pct, e.n, e.sigma, e.target, e.est_bucket,
         COALESCE(MAX(l.cum), 0)::BIGINT AS n_le,
         COALESCE(MAX(CASE WHEN l.bucket < e.est_bucket
                           THEN l.cum END), 0)::BIGINT AS n_lt
  FROM est e LEFT JOIN lcum l ON l.bucket <= e.est_bucket
  GROUP BY 1, 2, 3, 4, 5
)
SELECT r.q_pct,
       r.est_bucket,
       t.true_bucket,
       r.target AS target_rank,
       r.n_le,
       GREATEST(0, r.target - r.n_le,
                r.n_lt + 1 - r.target)::BIGINT AS rank_err,
       (2 * {_QD_BITS} * r.sigma)::BIGINT AS err_bound,
       GREATEST(0, r.target - r.n_le, r.n_lt + 1 - r.target)
         <= 2 * {_QD_BITS} * r.sigma AS within_bound
FROM ranks r JOIN tru t USING (q_pct)
ORDER BY q_pct
"""


def q_quantile_digest_grouped(spark: SparkSession, sf: str) -> DataFrame:
    """Per-group q-digests (one independent digest per return flag,
    per-group sigma) — the grouped form that matches the KMV/HLL
    sketches' per-group state story, certified the same way: p25/50/
    75 estimated from each group's digest alone, realized rank error
    vs the group's exact histogram, all-BIGINT output.

    Unlike the global query, every window here is PARTITIONED by the
    group key — the grouped digest needs no unpartitioned-window
    allowance, and the compression rounds hash-partition by (group,
    id) so groups compress in parallel.  Per-group state stays
    <= sigma_frac + bits nodes; at a billion groups the digest
    relation is |groups| x that bound — the same linear-in-groups
    state as per-group KMV/HLL."""
    li = load(spark, sf, "lineitem").select(
        F.col("l_returnflag").alias("rf"),
        F.expr(
            "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
        ).alias("cents"),
    )
    leaves = (
        li.select(
            "rf",
            F.least(
                F.expr(f"cents DIV {_QD_DIVISOR}"), F.lit(_QD_U - 1)
            ).alias("bucket"),
        )
        .groupBy("rf", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    tots = leaves.groupBy("rf").agg(F.sum("cnt").alias("n")).select(
        "rf",
        "n",
        F.greatest(
            F.lit(1).cast("bigint"), F.expr(f"n DIV {_QD_SIGMA_FRAC}")
        ).alias("sigma"),
    )
    leaves_s = leaves.join(F.broadcast(tots), "rf").persist()
    digest = qdigest_intervals(
        qdigest_compress(
            leaves_s.select(
                "rf",
                (F.lit(_QD_U) + F.col("bucket")).cast("bigint").alias("id"),
                "cnt",
                "sigma",
            ),
            _QD_BITS,
            keys=("rf",),
        ),
        _QD_BITS,
        keys=("rf",),
    )
    wd = Window.partitionBy("rf").orderBy("hi", "id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    dcum = digest.select(
        "rf", "hi", F.sum("cnt").over(wd).alias("cum")
    )
    wl = Window.partitionBy("rf").orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, 0
    )
    lcum = leaves_s.select(
        "rf", "bucket", F.sum("cnt").over(wl).alias("cum")
    )
    qs = (
        local_table(spark, [(25,), (50,), (75,)], "q_pct int")
        .crossJoin(F.broadcast(tots))
        .select(
            "rf",
            "q_pct",
            "sigma",
            F.expr("(q_pct * n + 99) DIV 100").alias("target"),
        )
    )
    est = (
        qs.join(
            dcum.withColumnRenamed("rf", "rf2"),
            (F.col("rf") == F.col("rf2"))
            & (F.col("cum") >= F.col("target")),
        )
        .groupBy("rf", "q_pct", "sigma", "target")
        .agg(F.min("hi").alias("est_bucket"))
    )
    lc = lcum.withColumnRenamed("rf", "rf2")
    ranks = (
        est.join(
            lc,
            (F.col("rf") == F.col("rf2"))
            & (F.col("bucket") <= F.col("est_bucket")),
            "left",
        )
        .groupBy("rf", "q_pct", "sigma", "target", "est_bucket")
        .agg(
            F.coalesce(F.max("cum"), F.lit(0).cast("bigint")).alias(
                "n_le"
            ),
            F.coalesce(
                F.max(
                    F.when(
                        F.col("bucket") < F.col("est_bucket"),
                        F.col("cum"),
                    )
                ),
                F.lit(0).cast("bigint"),
            ).alias("n_lt"),
        )
    )
    err = F.greatest(
        F.lit(0).cast("bigint"),
        F.col("target") - F.col("n_le"),
        F.col("n_lt") + 1 - F.col("target"),
    )
    return ranks.select(
        "rf",
        "q_pct",
        "est_bucket",
        F.col("target").alias("target_rank"),
        err.cast("bigint").alias("rank_err"),
        (F.lit(2 * _QD_BITS).cast("bigint") * F.col("sigma")).alias(
            "err_bound"
        ),
        (err <= F.lit(2 * _QD_BITS) * F.col("sigma")).alias(
            "within_bound"
        ),
    ).orderBy("rf", "q_pct")


SQL_QUANTILE_DIGEST_GROUPED = f"""
WITH leaves AS (
  SELECT l_returnflag AS rf,
         LEAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
               AS BIGINT) // {_QD_DIVISOR}, {_QD_U - 1}) AS bucket,
         COUNT(*)::BIGINT AS cnt
  FROM lineitem GROUP BY 1, 2
), tots AS (
  SELECT rf, SUM(cnt)::BIGINT AS n,
         GREATEST(1, SUM(cnt)::BIGINT // {_QD_SIGMA_FRAC}) AS sigma
  FROM leaves GROUP BY 1
), r15 AS (
  SELECT leaves.rf, ({_QD_U} + bucket)::BIGINT AS id, cnt, sigma
  FROM leaves JOIN tots USING (rf)
),
{_sql_rounds("rf, ")},
digest AS (
  SELECT rf, id, cnt,
         (id - {_QD_U} // (CASE {_sql_width_case()} END))
           * (CASE {_sql_width_case()} END)
           + (CASE {_sql_width_case()} END) - 1 AS hi
  FROM r1
), dcum AS (
  SELECT rf, hi,
         SUM(cnt) OVER (PARTITION BY rf ORDER BY hi, id
                        ROWS UNBOUNDED PRECEDING) AS cum
  FROM digest
), lcum AS (
  SELECT rf, bucket,
         SUM(cnt) OVER (PARTITION BY rf ORDER BY bucket
                        ROWS UNBOUNDED PRECEDING) AS cum
  FROM leaves
), qs AS (
  SELECT rf, q_pct, sigma, (q_pct * n + 99) // 100 AS target
  FROM (VALUES (25), (50), (75)) AS v(q_pct), tots
), est AS (
  SELECT q.rf, q.q_pct, q.sigma, q.target, MIN(d.hi) AS est_bucket
  FROM qs q JOIN dcum d ON d.rf = q.rf AND d.cum >= q.target
  GROUP BY 1, 2, 3, 4
), ranks AS (
  SELECT e.rf, e.q_pct, e.sigma, e.target, e.est_bucket,
         COALESCE(MAX(l.cum), 0)::BIGINT AS n_le,
         COALESCE(MAX(CASE WHEN l.bucket < e.est_bucket
                           THEN l.cum END), 0)::BIGINT AS n_lt
  FROM est e LEFT JOIN lcum l
    ON l.rf = e.rf AND l.bucket <= e.est_bucket
  GROUP BY 1, 2, 3, 4, 5
)
SELECT rf, q_pct, est_bucket,
       target AS target_rank,
       GREATEST(0, target - n_le, n_lt + 1 - target)::BIGINT
         AS rank_err,
       (2 * {_QD_BITS} * sigma)::BIGINT AS err_bound,
       GREATEST(0, target - n_le, n_lt + 1 - target)
         <= 2 * {_QD_BITS} * sigma AS within_bound
FROM ranks
ORDER BY rf, q_pct
"""


QUERIES = (
    ("quantile_digest_accuracy", q_quantile_digest_accuracy,
     SQL_QUANTILE_DIGEST_ACCURACY),
    ("quantile_digest_grouped", q_quantile_digest_grouped,
     SQL_QUANTILE_DIGEST_GROUPED),
)
SPARK_QUERIES, ORACLE_SQL = registry(QUERIES)
