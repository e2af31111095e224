"""Recommender-system queries over the sales interaction matrix
(operators/als.py).

``als_rank1_fixed`` is the certification query for the ALS family:
three FULL alternating iterations of the rank-1 fixed-point half
step, unrolled into six exact-integer relational stages whose DuckDB
twin replays them value-for-value — the decomposition-certification
pattern (`ivf_stream_topk_fixed` precedent): hash equality IS the
proof that the distributed half-step operator computes alternating
least squares, and the in-row per-iteration loss exhibits the
monotone descent the float path (als_train) is pytest-pinned to.

``als_rank2_fixed`` extends the certification to rank 2: the
same unrolled-iteration idiom, but each half step solves the 2x2
ridge normal equations by Cramer's rule in exact BIGINT arithmetic
with an explicit engine-portable floor division and a box projection
onto [1, F2_MAX] (operators/als.py:rank2_half_step_int) — the first
driver-certified rank>1 coverage of the ALS family (before it only
the rank-1 path had a CORRECTNESS row and the float rank-k path was
pinned in-test by numpy replication).

Fixed-point overflow budget (all-positive BIGINT lattice, S = 100):
ratings q <= 100 (LEAST-capped), and the half step's output is
self-stabilizing at f <= q_max * sqrt(deg_max) / 2 (maximize
S*q*n*v / (n*v^2 + S^2) over v) — <= 5e3 even at deg 1e4.  Worst
terms: S * sum(q*v) <= 5e11; sum(v^2) <= 2.5e11; loss terms
((|q*S^2 - u*v|) DIV S)^2 <= 6.25e10 per cell, summed: 3.75e18 at
sf10's ~6e7 cells — inside BIGINT with margin.  Positivity means
integer division is floor == trunc in every engine, so the result is
independent of row order and partition layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.als import (
    F2_MAX,
    S,
    _floordiv_sql,
    _maybe_broadcast,
    rank1_half_step_int,
    rank2_half_step_int,
)
from .data import load, registry

#: per-(customer, part) rating cap — bounds every overflow term and
#: tames super-buyers, the same damping role as copurchase's degree cap
_Q_CAP = 100
#: ridge in fixed-point denominator units (lambda = 1 real)
_LAM_S2 = S * S
_ITERS = 3


def _ratings(spark: SparkSession, sf: str) -> DataFrame:
    """Implicit rating = total quantity customer c ever bought of
    part p, LEAST-capped: one join + one groupBy, the only data-scale
    stage of the whole query."""
    li = load(spark, sf, "lineitem").select(
        "l_orderkey",
        F.col("l_partkey").alias("p"),
        F.col("l_quantity").cast("bigint").alias("qty"),
    )
    o = load(spark, sf, "orders").select(
        "o_orderkey", F.col("o_custkey").alias("c")
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("c", "p")
        .agg(F.least(F.sum("qty"), F.lit(_Q_CAP)).cast("bigint").alias("q"))
    )


def _fixed_run(
    spark: SparkSession, sf: str
) -> tuple[DataFrame, list[tuple[DataFrame, DataFrame]], int, int]:
    """The shared fixed-point core: materialized ratings + the (u, v)
    factor tables after each of the three full iterations, every
    factor table localCheckpointed (the kmeans/pagerank lineage
    cut; |entities| rows, never data-scale).

    Ratings are localCheckpointed, not persist()ed: the six eager
    half-step checkpoints and the deferred loss/anti-join reads all
    consume the one materialization, and checkpoint blocks are
    reclaimed by the ContextCleaner when the query's DataFrames go
    out of scope — a bare persist() would leak cached blocks for the
    session (the als_train leak, fixed there with
    unpersist-in-finally; a registry query has no post-collect hook,
    so eager checkpoint is the leak-free form)."""
    r = _ratings(spark, sf).localCheckpoint()
    # integer init in [1, S]: md5-derived, no RNG state
    v = (
        r.select("p")
        .distinct()
        .select(
            "p",
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit("als:0:"), F.col("p").cast("string")
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("bigint")
                % S
                + 1
            ).alias("v"),
        )
        .localCheckpoint()
    )
    # factor-table row counts, once per side (cheap: the tables are
    # localCheckpointed |entities|-row RDDs; the key set never changes
    # across iterations).  They feed the broadcast gate:
    # under BROADCAST_FACTOR_ROWS_MAX the half steps and the fused
    # loss scan broadcast as before; past it they degrade to shuffle
    # joins instead of erroring.
    n_p = v.count()
    n_c: int | None = None
    hist = []
    for _ in range(_ITERS):
        u = rank1_half_step_int(
            r, "c", "p", v, "v", "u", _LAM_S2, partner_rows=n_p
        ).localCheckpoint()
        if n_c is None:
            n_c = u.count()
        v = rank1_half_step_int(
            r, "p", "c", u, "u", "v", _LAM_S2, partner_rows=n_c
        ).localCheckpoint()
        hist.append((u, v))
    return r, hist, n_c, n_p


def q_als_rank1_fixed(spark: SparkSession, sf: str) -> DataFrame:
    """Three full fixed-point rank-1 ALS iterations with the exact
    per-iteration loss ledger in-row: (iter, loss_s2, n_users,
    n_items, sum_u_s, sum_v_s) — one row per iteration, every value a
    deterministic BIGINT.  Monotone-descent and float-path agreement
    are pinned in tests/test_als.py.

    Scale: the ratings relation is built once and materialized (ONE
    loss scan + six half steps consume it); each half step is one
    broadcast join + one groupBy exchanged on the solving side's key
    — the Netflix-paper ALS data layout (plan-gated in
    tests/test_als.py)."""
    r, hist, n_c, n_p = _fixed_run(spark, sf)
    # ONE scan of the ratings for all three loss ledgers: every
    # iteration's factor tables chain-broadcast onto the same pass
    # (checkpointed RDDs have no stats, so without the hints each
    # join would re-shuffle r; with them the scan has ZERO shuffles
    # and the three residual sums reduce in a single aggregate),
    # checkpointed because three one-row reads would otherwise each
    # replay the scan.  The hints are count-gated: an
    # oversize factor side shuffle-joins instead of OOMing.
    joined = r
    for it, (u, v) in enumerate(hist, start=1):
        joined = joined.join(
            _maybe_broadcast(u.withColumnRenamed("u", f"u{it}"), n_c), "c"
        ).join(
            _maybe_broadcast(v.withColumnRenamed("v", f"v{it}"), n_p), "p"
        )
    sq = [
        F.expr(
            f"ABS(q * {S * S} - u{it} * v{it}) DIV {S}"
        )
        for it in range(1, _ITERS + 1)
    ]
    losses = joined.agg(
        *[
            F.sum(sq[it - 1] * sq[it - 1])
            .cast("bigint")
            .alias(f"loss{it}")
            for it in range(1, _ITERS + 1)
        ]
    ).localCheckpoint()
    out = []
    for it, (u, v) in enumerate(hist, start=1):
        us = u.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum("u").cast("bigint").alias("sum_u_s"),
        )
        vs = v.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.sum("v").cast("bigint").alias("sum_v_s"),
        )
        out.append(
            losses.select(F.col(f"loss{it}").alias("loss_s2"))
            .crossJoin(us)
            .crossJoin(vs)
            .select(
                F.lit(it).cast("bigint").alias("iter"),
                "loss_s2",
                "n_users",
                "n_items",
                "sum_u_s",
                "sum_v_s",
            )
        )
    first, *rest = out
    for df in rest:
        first = first.unionByName(df)
    return first.orderBy("iter")


#: recommendation readout constants: candidate pool size (broadcast
#: side) and released list size
_N_CAND = 64
_TOP_N = 25


def q_als_recommend_fixed(spark: SparkSession, sf: str) -> DataFrame:
    """The factorization put to work, exactly: top-25 (customer,
    part) recommendations among UNSEEN pairs, scored by the final
    fixed-point factors (score_s2 = u*v, an exact BIGINT at scale
    S^2).  Candidate generation is the 100 TB shape: only the top-64
    parts by item factor are scored (TakeOrdered -> broadcast), so
    the scored relation is |customers| x 64 — linear in customers,
    never the |C| x |P| cross product — and already-purchased pairs
    leave by anti-join.  Total order everywhere (factor desc, key
    asc), so the result is layout- and engine-exact."""
    r, hist, _n_c, _n_p = _fixed_run(spark, sf)
    u, v = hist[-1]
    cand = v.orderBy(F.col("v").desc(), "p").limit(_N_CAND)
    scored = u.join(F.broadcast(cand)).select(
        "c", "p", (F.col("u") * F.col("v")).cast("bigint").alias("score_s2")
    )
    unseen = scored.join(r.select("c", "p"), ["c", "p"], "left_anti")
    return unseen.orderBy(
        F.col("score_s2").desc(), "c", "p"
    ).limit(_TOP_N)


#: rank-2 certification runs two FULL iterations (four half steps —
#: both alternation directions exercised twice, iteration chaining
#: included); a third iteration would add one more ratings-scan pair
#: without certifying anything new
_ITERS2 = 2


def _init2(df: DataFrame) -> DataFrame:
    """Deterministic rank-2 integer init in [1, S]^2 per part:
    component j of part p is md5('als2:j:p') % S + 1 — the rank-1
    idiom, one column per component."""
    comps = [
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(f"als2:{j}:"), F.col("p").cast("string")
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % S
            + 1
        ).alias(f"v{j + 1}")
        for j in range(2)
    ]
    return df.select("p").distinct().select("p", *comps)


def q_als_rank2_fixed(spark: SparkSession, sf: str) -> DataFrame:
    """Two full fixed-point RANK-2 ALS iterations (Cramer-solved 2x2
    ridge normal equations, box-projected onto [1, F2_MAX]; see
    operators/als.py:rank2_half_step_int for the exact arithmetic and
    the BIGINT overflow budget) with the per-iteration ledger in-row:
    (iter, loss_s2, n_users, n_items, sum_u1_s, sum_u2_s, sum_v1_s,
    sum_v2_s) — every value a deterministic BIGINT, so the DuckDB
    twin replays the whole factorization value-for-value.

    Scale: identical shape to als_rank1_fixed — the ratings relation
    is built once and checkpointed, each half step is one (count-
    gated) broadcast join + one groupBy exchanged on the solving
    side's key, and ONE fused scan of the ratings produces both
    iterations' losses with zero shuffles."""
    r = _ratings(spark, sf).localCheckpoint()
    v = _init2(r).localCheckpoint()
    n_p = v.count()
    n_c: int | None = None
    hist = []
    for _ in range(_ITERS2):
        u = rank2_half_step_int(
            r, "c", "p", v, "v1", "v2", "u1", "u2", _LAM_S2,
            partner_rows=n_p,
        ).localCheckpoint()
        if n_c is None:
            n_c = u.count()
        v = rank2_half_step_int(
            r, "p", "c", u, "u1", "u2", "v1", "v2", _LAM_S2,
            partner_rows=n_c,
        ).localCheckpoint()
        hist.append((u, v))
    joined = r
    for it, (u, v) in enumerate(hist, start=1):
        ru = u.select(
            "c",
            F.col("u1").alias(f"u1_{it}"),
            F.col("u2").alias(f"u2_{it}"),
        )
        rv = v.select(
            "p",
            F.col("v1").alias(f"v1_{it}"),
            F.col("v2").alias(f"v2_{it}"),
        )
        joined = joined.join(_maybe_broadcast(ru, n_c), "c").join(
            _maybe_broadcast(rv, n_p), "p"
        )
    sq = [
        F.expr(
            f"ABS(q * {S * S} - (u1_{it} * v1_{it} + u2_{it} * v2_{it}))"
            f" DIV {S}"
        )
        for it in range(1, _ITERS2 + 1)
    ]
    losses = joined.agg(
        *[
            F.sum(sq[it - 1] * sq[it - 1])
            .cast("bigint")
            .alias(f"loss{it}")
            for it in range(1, _ITERS2 + 1)
        ]
    ).localCheckpoint()
    out = []
    for it, (u, v) in enumerate(hist, start=1):
        us = u.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum("u1").cast("bigint").alias("sum_u1_s"),
            F.sum("u2").cast("bigint").alias("sum_u2_s"),
        )
        vs = v.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.sum("v1").cast("bigint").alias("sum_v1_s"),
            F.sum("v2").cast("bigint").alias("sum_v2_s"),
        )
        out.append(
            losses.select(F.col(f"loss{it}").alias("loss_s2"))
            .crossJoin(us)
            .crossJoin(vs)
            .select(
                F.lit(it).cast("bigint").alias("iter"),
                "loss_s2",
                "n_users",
                "n_items",
                "sum_u1_s",
                "sum_u2_s",
                "sum_v1_s",
                "sum_v2_s",
            )
        )
    first, *rest = out
    for df in rest:
        first = first.unionByName(df)
    return first.orderBy("iter")


def _hex8_sql(arg: str) -> str:
    """DuckDB twin of Spark's conv(substring(md5(x),1,8),16,10) — the
    strpos hex-parse idiom (corpus.py precedent)."""
    return (
        f"CAST(list_sum(list_transform(range(1, 9), pp -> "
        f"(strpos('0123456789abcdef', substr(md5({arg}), "
        f"CAST(pp AS INT), 1)) - 1) * pow(16.0, 8 - CAST(pp AS INT))))"
        f" AS BIGINT)"
    )


def _half_sql(own: str, partner: str, prev: str, out: str, fcol: str,
              pcol: str) -> str:
    """One fixed-point half step as a CTE body ('//' on positive
    BIGINTs floors exactly like Spark's DIV)."""
    return (
        f"SELECT r.{own}, CAST(({S} * SUM(r.q * {prev}.{pcol})) // "
        f"(SUM({prev}.{pcol} * {prev}.{pcol}) + {_LAM_S2}) AS BIGINT)"
        f" AS {fcol} FROM r JOIN {prev} ON r.{partner} = "
        f"{prev}.{partner} GROUP BY r.{own}"
    )


def _iter_sql(it: int) -> str:
    """The three loss/summary scalar subqueries for iteration N."""
    return (
        f"SELECT CAST({it} AS BIGINT) AS iter,\n"
        f"  (SELECT CAST(SUM(((ABS(r.q * {S * S} - u.u * v.v)) // {S})"
        f" * ((ABS(r.q * {S * S} - u.u * v.v)) // {S})) AS BIGINT)\n"
        f"   FROM r JOIN u{it} u ON r.c = u.c"
        f" JOIN v{it} v ON r.p = v.p) AS loss_s2,\n"
        f"  (SELECT CAST(COUNT(*) AS BIGINT) FROM u{it}) AS n_users,\n"
        f"  (SELECT CAST(COUNT(*) AS BIGINT) FROM v{it}) AS n_items,\n"
        f"  (SELECT CAST(SUM(u) AS BIGINT) FROM u{it}) AS sum_u_s,\n"
        f"  (SELECT CAST(SUM(v) AS BIGINT) FROM v{it}) AS sum_v_s"
    )


#: the shared ratings CTE (rank-1 and rank-2 oracles both start here)
_R_SQL = f"""r AS (
  SELECT o.o_custkey AS c, l.l_partkey AS p,
         CAST(LEAST(SUM(CAST(l.l_quantity AS BIGINT)), {_Q_CAP})
              AS BIGINT) AS q
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_custkey, l.l_partkey
)"""

#: the shared unrolled-iteration prefix the rank-1 oracles build on
_SQL_CTES = f"""
WITH {_R_SQL},
v0 AS (
  SELECT p, {_hex8_sql("CONCAT('als:0:', CAST(p AS VARCHAR))")}
           % {S} + 1 AS v
  FROM (SELECT DISTINCT p FROM r)
),
u1 AS ({_half_sql('c', 'p', 'v0', 'u1', 'u', 'v')}),
v1 AS ({_half_sql('p', 'c', 'u1', 'v1', 'v', 'u')}),
u2 AS ({_half_sql('c', 'p', 'v1', 'u2', 'u', 'v')}),
v2 AS ({_half_sql('p', 'c', 'u2', 'v2', 'v', 'u')}),
u3 AS ({_half_sql('c', 'p', 'v2', 'u3', 'u', 'v')}),
v3 AS ({_half_sql('p', 'c', 'u3', 'v3', 'v', 'u')})"""


SQL_ALS_RANK1_FIXED = f"""{_SQL_CTES}
{_iter_sql(1)}
UNION ALL
{_iter_sql(2)}
UNION ALL
{_iter_sql(3)}
ORDER BY iter
"""


SQL_ALS_RECOMMEND_FIXED = f"""{_SQL_CTES},
cand AS (SELECT p, v FROM v3 ORDER BY v DESC, p LIMIT {_N_CAND}),
scored AS (
  SELECT u3.c, cand.p, CAST(u3.u * cand.v AS BIGINT) AS score_s2
  FROM u3 CROSS JOIN cand
)
SELECT c, p, score_s2 FROM scored s
WHERE NOT EXISTS (SELECT 1 FROM r WHERE r.c = s.c AND r.p = s.p)
ORDER BY score_s2 DESC, c, p
LIMIT {_TOP_N}
"""


def _fdiv_duck(n: str, d: str) -> str:
    """DuckDB twin of operators/als.py:_floordiv_sql — identical
    exact-multiple adjustment, `//` instead of `DIV` (both engines'
    native integer division truncates; the adjusted numerator divides
    exactly so the convention cannot matter)."""
    return f"((({n}) - (((({n}) % ({d})) + ({d})) % ({d}))) // ({d}))"


def _half2_sql(
    own: str, partner: str, prev: str, f1: str, f2: str, p1: str, p2: str
) -> str:
    """One rank-2 fixed-point half step as a CTE body: grouped 2x2
    normal-equation sums, Cramer numerators, exact floor division,
    box projection — value-for-value the arithmetic of
    operators/als.py:rank2_half_step_int.  DuckDB's SUM(BIGINT)
    widens to HUGEINT, a superset of the Spark side's in-budget
    BIGINT arithmetic, so intermediates agree exactly."""
    L = _LAM_S2
    det = f"((a11+{L})*(a22+{L}) - a12*a12)"
    n1 = f"({S} * (b1*(a22+{L}) - b2*a12))"
    n2 = f"({S} * (b2*(a11+{L}) - b1*a12))"
    return (
        f"SELECT {own}, "
        f"CAST(GREATEST(1, LEAST({F2_MAX}, {_fdiv_duck(n1, det)})) "
        f"AS BIGINT) AS {f1}, "
        f"CAST(GREATEST(1, LEAST({F2_MAX}, {_fdiv_duck(n2, det)})) "
        f"AS BIGINT) AS {f2} "
        f"FROM (SELECT r.{own}, "
        f"SUM({prev}.{p1}*{prev}.{p1}) AS a11, "
        f"SUM({prev}.{p1}*{prev}.{p2}) AS a12, "
        f"SUM({prev}.{p2}*{prev}.{p2}) AS a22, "
        f"SUM(r.q*{prev}.{p1}) AS b1, "
        f"SUM(r.q*{prev}.{p2}) AS b2 "
        f"FROM r JOIN {prev} ON r.{partner} = {prev}.{partner} "
        f"GROUP BY r.{own})"
    )


def _iter2_sql(it: int) -> str:
    """The rank-2 ledger row for iteration N (loss + factor-table
    summaries), mirroring q_als_rank2_fixed's fused-scan aliases."""
    res = f"(ABS(r.q * {S * S} - (u.u1*v.v1 + u.u2*v.v2))) // {S}"
    return (
        f"SELECT CAST({it} AS BIGINT) AS iter,\n"
        f"  (SELECT CAST(SUM(({res}) * ({res})) AS BIGINT)\n"
        f"   FROM r JOIN cu{it} u ON r.c = u.c"
        f" JOIN cv{it} v ON r.p = v.p) AS loss_s2,\n"
        f"  (SELECT CAST(COUNT(*) AS BIGINT) FROM cu{it}) AS n_users,\n"
        f"  (SELECT CAST(COUNT(*) AS BIGINT) FROM cv{it}) AS n_items,\n"
        f"  (SELECT CAST(SUM(u1) AS BIGINT) FROM cu{it}) AS sum_u1_s,\n"
        f"  (SELECT CAST(SUM(u2) AS BIGINT) FROM cu{it}) AS sum_u2_s,\n"
        f"  (SELECT CAST(SUM(v1) AS BIGINT) FROM cv{it}) AS sum_v1_s,\n"
        f"  (SELECT CAST(SUM(v2) AS BIGINT) FROM cv{it}) AS sum_v2_s"
    )


SQL_ALS_RANK2_FIXED = f"""
WITH {_R_SQL},
cv0 AS (
  SELECT p,
    {_hex8_sql("CONCAT('als2:0:', CAST(p AS VARCHAR))")} % {S} + 1 AS v1,
    {_hex8_sql("CONCAT('als2:1:', CAST(p AS VARCHAR))")} % {S} + 1 AS v2
  FROM (SELECT DISTINCT p FROM r)
),
cu1 AS ({_half2_sql('c', 'p', 'cv0', 'u1', 'u2', 'v1', 'v2')}),
cv1 AS ({_half2_sql('p', 'c', 'cu1', 'v1', 'v2', 'u1', 'u2')}),
cu2 AS ({_half2_sql('c', 'p', 'cv1', 'u1', 'u2', 'v1', 'v2')}),
cv2 AS ({_half2_sql('p', 'c', 'cu2', 'v1', 'v2', 'u1', 'u2')})
{_iter2_sql(1)}
UNION ALL
{_iter2_sql(2)}
ORDER BY iter
"""


#: float-path certification constants (shared with the SQL twin)
_FLOAT_K = 2
_FLOAT_ITERS = 2
_FLOAT_LAM = 0.1


def q_als_float_rank2_readout(spark: SparkSession, sf: str) -> DataFrame:
    """The PRODUCTION float rank-k ALS path (operators/als.py:
    als_train — md5 init, Arrow-batched sorted-order k x k ridge
    solves, per-iteration loss) certified by a tolerance-documented
    readout: two full rank-2 iterations over the
    sales ratings, released as one row per iteration carrying the
    loss rounded to WHOLE units plus the final factor tables' sizes
    and component sums rounded to TENS (em1).

    Tolerance analysis (why the rounded values are oracle-stable):
    the engines compute the same real-valued fixed arithmetic —
    Spark solves each entity's A f = b (A = V'V + lam*n*I) by LAPACK
    LU over partner-key-sorted rows, the DuckDB twin by Cramer's
    rule over its own SUM order — so results differ only in float
    rounding: per-factor relative error ~eps * cond(A), with
    cond(A) <= 1 + mean(v^2)/lam bounded by the ridge.  Measured
    end-to-end disagreement at sf0.001/0.01/0.1: <= 2e-6 absolute on
    losses of 1e6..1e8 (boundary margin >= 0.13 of the 0.5 rounding
    step — >= 5 orders of safety) and <= 6e-11 absolute on factor
    component sums (margin >= 0.058 of the 0.5 step at the TENS
    granularity — >= 8 orders).  Spark's own layout sensitivity
    (double-sum combine order in the loss scan and the released
    aggregates) sits at the same magnitudes and is absorbed by the
    same margins.
    tests/test_als.py::test_float_readout_rounding_margins pins the
    sf0.01 margins so a data regeneration that erodes them fails
    loudly before the driver can see a flip.

    Scale: same layout as als_rank1_fixed — ratings built once and
    persisted, each half step ONE exchange on the solving side's key
    (count-gated broadcast partner factors), loss a shuffle-free
    broadcast-join scan."""
    import math

    r = (
        _ratings(spark, sf)
        .withColumn("r", F.col("q").cast("double"))
        .select("c", "p", "r")
    )
    from ..operators.als import als_train

    uf, vf, losses = als_train(
        r, "c", "p", k=_FLOAT_K, iters=_FLOAT_ITERS, lam=_FLOAT_LAM
    )
    sums = (
        uf.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.round(F.sum(F.col("f")[0]) / 10)
            .cast("bigint")
            .alias("sum_u1_em1"),
            F.round(F.sum(F.col("f")[1]) / 10)
            .cast("bigint")
            .alias("sum_u2_em1"),
        )
        .crossJoin(
            vf.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_items"),
                F.round(F.sum(F.col("f")[0]) / 10)
                .cast("bigint")
                .alias("sum_v1_em1"),
                F.round(F.sum(F.col("f")[1]) / 10)
                .cast("bigint")
                .alias("sum_v2_em1"),
            )
        )
        .localCheckpoint()
    )
    assert not any(math.isnan(x) for x in losses)
    out = [
        sums.select(
            F.lit(it).cast("bigint").alias("iter"),
            F.round(F.lit(losses[it - 1])).cast("bigint").alias("loss_unit"),
            "n_users",
            "n_items",
            "sum_u1_em1",
            "sum_u2_em1",
            "sum_v1_em1",
            "sum_v2_em1",
        )
        for it in range(1, _FLOAT_ITERS + 1)
    ]
    first, *rest = out
    for df in rest:
        first = first.unionByName(df)
    return first.orderBy("iter")


def _fhex8(arg: str) -> str:
    """Float init component: Spark init_factors' exact value —
    (conv(substring(md5(x),1,8),16,10) + 1) / 2^32, a dyadic rational
    so the division is exact in both engines."""
    return f"(({_hex8_sql(arg)} + 1) / 4294967296.0)"


def _fhalf2_sql(
    own: str, partner: str, prev: str, f1: str, f2: str, p1: str, p2: str
) -> str:
    """One FLOAT rank-2 half step as a CTE body: weighted-lambda
    ridge normal equations solved by Cramer's rule in DOUBLE
    arithmetic (A = V'V + lam*n*I — the same real system Spark's
    LAPACK LU solves; agreement to ~eps*cond, absorbed by the
    readout rounding)."""
    lam = _FLOAT_LAM
    det = f"((a11 + {lam}*n)*(a22 + {lam}*n) - a12*a12)"
    return (
        f"SELECT {own}, "
        f"(b1*(a22 + {lam}*n) - b2*a12) / {det} AS {f1}, "
        f"(b2*(a11 + {lam}*n) - b1*a12) / {det} AS {f2} "
        f"FROM (SELECT r.{own}, COUNT(*)::DOUBLE AS n, "
        f"SUM({prev}.{p1}*{prev}.{p1}) AS a11, "
        f"SUM({prev}.{p1}*{prev}.{p2}) AS a12, "
        f"SUM({prev}.{p2}*{prev}.{p2}) AS a22, "
        f"SUM(r.q::DOUBLE*{prev}.{p1}) AS b1, "
        f"SUM(r.q::DOUBLE*{prev}.{p2}) AS b2 "
        f"FROM r JOIN {prev} ON r.{partner} = {prev}.{partner} "
        f"GROUP BY r.{own})"
    )


def _fiter_sql(it: int) -> str:
    res = f"(r.q::DOUBLE - (u.u1*v.v1 + u.u2*v.v2))"
    return (
        f"SELECT CAST({it} AS BIGINT) AS iter,\n"
        f"  (SELECT CAST(ROUND(SUM({res} * {res})) AS BIGINT)\n"
        f"   FROM r JOIN fu{it} u ON r.c = u.c"
        f" JOIN fv{it} v ON r.p = v.p) AS loss_unit,\n"
        f"  (SELECT CAST(COUNT(*) AS BIGINT) FROM fu{_FLOAT_ITERS})"
        f" AS n_users,\n"
        f"  (SELECT CAST(COUNT(*) AS BIGINT) FROM fv{_FLOAT_ITERS})"
        f" AS n_items,\n"
        f"  (SELECT CAST(ROUND(SUM(u1) / 10) AS BIGINT)"
        f" FROM fu{_FLOAT_ITERS}) AS sum_u1_em1,\n"
        f"  (SELECT CAST(ROUND(SUM(u2) / 10) AS BIGINT)"
        f" FROM fu{_FLOAT_ITERS}) AS sum_u2_em1,\n"
        f"  (SELECT CAST(ROUND(SUM(v1) / 10) AS BIGINT)"
        f" FROM fv{_FLOAT_ITERS}) AS sum_v1_em1,\n"
        f"  (SELECT CAST(ROUND(SUM(v2) / 10) AS BIGINT)"
        f" FROM fv{_FLOAT_ITERS}) AS sum_v2_em1"
    )


SQL_ALS_FLOAT_RANK2_READOUT = f"""
WITH {_R_SQL},
fv0 AS (
  SELECT p,
    {_fhex8("CONCAT('als:0:', CAST(p AS VARCHAR))")} AS v1,
    {_fhex8("CONCAT('als:1:', CAST(p AS VARCHAR))")} AS v2
  FROM (SELECT DISTINCT p FROM r)
),
fu1 AS ({_fhalf2_sql('c', 'p', 'fv0', 'u1', 'u2', 'v1', 'v2')}),
fv1 AS ({_fhalf2_sql('p', 'c', 'fu1', 'v1', 'v2', 'u1', 'u2')}),
fu2 AS ({_fhalf2_sql('c', 'p', 'fv1', 'u1', 'u2', 'v1', 'v2')}),
fv2 AS ({_fhalf2_sql('p', 'c', 'fu2', 'v1', 'v2', 'u1', 'u2')})
{_fiter_sql(1)}
UNION ALL
{_fiter_sql(2)}
ORDER BY iter
"""


QUERIES = (
    ("als_rank1_fixed", q_als_rank1_fixed, SQL_ALS_RANK1_FIXED),
    ("als_recommend_fixed", q_als_recommend_fixed, SQL_ALS_RECOMMEND_FIXED),
    ("als_rank2_fixed", q_als_rank2_fixed, SQL_ALS_RANK2_FIXED),
    ("als_float_rank2_readout", q_als_float_rank2_readout,
     SQL_ALS_FLOAT_RANK2_READOUT),
)
SPARK_QUERIES, ORACLE_SQL = registry(QUERIES)
