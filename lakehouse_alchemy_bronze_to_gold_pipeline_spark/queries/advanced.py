"""Breadth batch 5: multi-predicate EXISTS/NOT-EXISTS decorrelation
(TPC-H Q21 shape), asymmetric containment over MinHash candidate
pairs, Zipf-law corpus fit, tokenizer fertility, sampled kNN-graph
hubness, and DAU/WAU stickiness.

Same numeric policy as ``core.py``: exact decimal money sums, exact
bigint counts, ratios of exact integers rounded at the edge, and the
ordered-fold idiom (``F.aggregate`` == DuckDB ``list_reduce``) for
any sum whose accumulation order could otherwise drift cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as TX
from ..functions.vectors import cosine_sql
from .data import load, registry, spread_scan

# ---------------------------------------------------------------------
# Q21-shape: EXISTS + NOT EXISTS decorrelated into one grouped pass
# ---------------------------------------------------------------------


def q_sole_late_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """Suppliers who were the ONLY late shipper on a multi-supplier
    order (TPC-H Q21 shape: correlated EXISTS on another supplier +
    NOT EXISTS on another late supplier).

    Spark-first decorrelation: instead of two correlated subqueries,
    ONE groupBy(order, supplier) collapses lineitems to a per-order
    supplier roster with a late flag, then a groupBy(order) derives
    (n_supps, n_late) — the two EXISTS conditions become plain column
    predicates on a join-back.  Both aggregates and the join share
    the l_orderkey key, so AQE coalesces them onto one exchange
    lineage; supplier is a broadcast dim.  100 TB: nothing here
    materializes more than the per-(order, supplier) roster — no
    correlated re-scan per outer row, which is what the textbook
    nested form would cost."""
    o = load(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    li = load(spark, sf, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    s = load(spark, sf, "supplier").select("s_suppkey", "s_name")
    late = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            "l_orderkey",
            "l_suppkey",
            (F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 180))
            .cast("int")
            .alias("is_late"),
        )
    )
    roster = late.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("is_late").alias("late")
    )
    per_order = roster.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supps"),
        F.sum("late").alias("n_late"),
    )
    waiters = (
        roster.filter(F.col("late") == 1)
        .join(
            per_order.filter(
                (F.col("n_supps") > 1) & (F.col("n_late") == 1)
            ),
            "l_orderkey",
        )
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )
    return (
        waiters.join(s, waiters["l_suppkey"] == s["s_suppkey"])
        .select(F.col("s_name").alias("supplier_name"), "numwait")
        .orderBy(F.col("numwait").desc(), "supplier_name")
        .limit(20)
    )


SQL_SOLE_LATE_SUPPLIER = """
WITH roster AS (
  SELECT l_orderkey, l_suppkey,
         MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 180 DAY
                  THEN 1 ELSE 0 END) AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY l_orderkey, l_suppkey
), per_order AS (
  SELECT l_orderkey, COUNT(*) AS n_supps, SUM(late) AS n_late
  FROM roster GROUP BY l_orderkey
)
SELECT s_name AS supplier_name, COUNT(*) AS numwait
FROM roster
JOIN per_order USING (l_orderkey)
JOIN supplier ON s_suppkey = l_suppkey
WHERE roster.late = 1 AND n_supps > 1 AND n_late = 1
GROUP BY s_suppkey, s_name
ORDER BY numwait DESC, supplier_name
LIMIT 20
"""


# ---------------------------------------------------------------------
# asymmetric containment over the MinHash candidate pairs
# ---------------------------------------------------------------------


def q_pair_containment(spark: SparkSession, sf: str) -> DataFrame:
    """Containment classification of MinHash candidate pairs:
    C(A→B) = |shingles(A) ∩ shingles(B)| / |shingles(A)| next to
    symmetric Jaccard.  Jaccard alone misses subset duplication (a
    doc quoting another scores low-J but high-C) — the distinction
    that routes boilerplate/quote removal differently from full
    near-dup collapse (Broder's containment sketch, applied exactly
    on the LSH-bounded candidate set).

    Scale: identical pipeline to ``minhash_neardup_md5`` (the DuckDB
    oracle replays it value-for-value) — candidate generation is
    banded LSH with the bucket cap, so the exact set arithmetic runs
    only on candidate pairs, never all-pairs."""
    from ..operators.minhash import md5_signatures_and_pairs

    # spread the single-row-group scan before the heavy per-row
    # work (see queries/data.py:spread_scan; A/B-measured win)
    d = spread_scan(load(spark, sf, "documents"))
    sigs, pairs = md5_signatures_and_pairs(d, "doc_id", "text")
    sh_a = sigs.select(
        F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a")
    )
    sh_b = sigs.select(
        F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b")
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    # materialize (inter, na, nb) ONCE per pair: the three ratios AND
    # the filter below all reference inter — left as expressions,
    # CollapseProject inlines the array_intersect into every use
    # (~5 evaluations/row, measured ~4 s extra at sf0.1); the persist
    # is pair-sized and forces single evaluation
    base = (
        pairs.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .select(
            "id_a",
            "id_b",
            inter.alias("i"),
            F.size("sh_a").alias("na"),
            F.size("sh_b").alias("nb"),
        )
        .persist()
    )
    scored = base.select(
        "id_a",
        "id_b",
        F.round(
            F.col("i").cast("double")
            / (F.col("na") + F.col("nb") - F.col("i")),
            6,
        ).alias("jaccard"),
        F.round(F.col("i").cast("double") / F.col("na"), 6).alias(
            "cont_a"
        ),
        F.round(F.col("i").cast("double") / F.col("nb"), 6).alias(
            "cont_b"
        ),
    )
    rel = (
        F.when(F.col("jaccard") >= 0.5, F.lit("near_dup"))
        .when(
            F.greatest("cont_a", "cont_b") >= 0.8, F.lit("contains")
        )
        .otherwise(F.lit("overlap"))
    )
    return (
        scored.filter(F.greatest("cont_a", "cont_b") >= 0.3)
        .select("id_a", "id_b", "jaccard", "cont_a", "cont_b",
                rel.alias("relation"))
    )


def _sql_pair_containment() -> str:
    from .llm_ops import _minhash_md5_oracle_sql

    tail = """
SELECT id_a, id_b, jaccard, cont_a, cont_b,
       CASE WHEN jaccard >= 0.5 THEN 'near_dup'
            WHEN GREATEST(cont_a, cont_b) >= 0.8 THEN 'contains'
            ELSE 'overlap' END AS relation
FROM (
  SELECT id_a, id_b,
         ROUND(len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
               / (len(sa.shingles) + len(sb.shingles)
                  - len(list_intersect(sa.shingles, sb.shingles))), 6)
           AS jaccard,
         ROUND(len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
               / len(sa.shingles), 6) AS cont_a,
         ROUND(len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
               / len(sb.shingles), 6) AS cont_b
  FROM cand
  JOIN sigt sa ON sa.doc_id = id_a
  JOIN sigt sb ON sb.doc_id = id_b
)
WHERE GREATEST(cont_a, cont_b) >= 0.3
"""
    return _minhash_md5_oracle_sql(tail=tail)


# ---------------------------------------------------------------------
# Zipf-law fit over the term-frequency relation
# ---------------------------------------------------------------------

_ZIPF_TOP = 150


def q_zipf_fit_report(spark: SparkSession, sf: str) -> DataFrame:
    """Zipf-law fit of the corpus term distribution: OLS of
    ln(count) on ln(rank) over the top terms — alpha (the negated
    slope) near 1 is the natural-language signature; a flat or
    broken fit flags templated/synthetic text before it poisons a
    training mix.

    Determinism: ranks use (count DESC, term) total order; the four
    OLS sums run as SEQUENTIAL ``F.aggregate`` folds over ONE sorted
    array (struct sort_array gives the rank order), matching DuckDB
    ``list_reduce`` term-for-term — no engine-ordered double
    accumulation (the ``nation_revenue_trend`` lesson).  Scale: the
    term groupBy is the only shuffle; TakeOrdered cuts to
    ``_ZIPF_TOP`` rows before the single-row fold."""
    d = load(spark, sf, "documents")
    from ..functions.text import nonempty_tokens

    counts = (
        d.select(F.explode(nonempty_tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "term")
        .limit(_ZIPF_TOP)
    )
    # one sorted array of counts in rank order: sort key (-c, term)
    arr = counts.agg(
        F.transform(
            F.sort_array(
                F.collect_list(F.struct((-F.col("c")).alias("negc"),
                                        F.col("term"),
                                        F.col("c")))
            ),
            lambda s: s["c"],
        ).alias("cs")
    )
    n = F.size("cs").cast("double")
    idx = F.sequence(F.lit(1), F.size("cs"))

    def _fold(vals):
        return F.aggregate(
            vals, F.lit(0.0), lambda acc, x: acc + x
        )

    xs = F.transform(idx, lambda i: F.log(i.cast("double")))
    ys = F.transform(F.col("cs"), lambda c: F.log(c.cast("double")))
    folded = arr.select(
        n.alias("n"),
        _fold(xs).alias("sx"),
        _fold(ys).alias("sy"),
        _fold(F.transform(xs, lambda x: x * x)).alias("sxx"),
        _fold(F.transform(ys, lambda y: y * y)).alias("syy"),
        _fold(F.zip_with(xs, ys, lambda x, y: x * y)).alias("sxy"),
    )
    sxx_c = F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    syy_c = F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")
    sxy_c = F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")
    slope = sxy_c / sxx_c
    return folded.select(
        F.col("n").cast("bigint").alias("n_terms"),
        F.round(-slope, 6).alias("zipf_alpha"),
        F.round(
            F.col("sy") / F.col("n") - slope * F.col("sx") / F.col("n"), 6
        ).alias("intercept_ln"),
        F.round(sxy_c * sxy_c / (sxx_c * syy_c), 6).alias("r2"),
    )


SQL_ZIPF_FIT_REPORT = f"""
WITH terms AS (
  SELECT t AS term
  FROM documents, UNNEST({TX.nonempty_tokens_sql()}) AS u(t)
), counts AS (
  SELECT term, COUNT(*) AS c FROM terms GROUP BY term
), top AS (
  SELECT term, c FROM counts ORDER BY c DESC, term LIMIT {_ZIPF_TOP}
), arr AS (
  SELECT list(c ORDER BY c DESC, term) AS cs FROM top
), folded AS (
  SELECT len(cs)::DOUBLE AS n,
         list_reduce(list_prepend(0.0, list_transform(range(1, len(cs)+1),
           i -> ln(i::DOUBLE))), (a, x) -> a + x) AS sx,
         list_reduce(list_prepend(0.0, list_transform(cs,
           c -> ln(c::DOUBLE))), (a, x) -> a + x) AS sy,
         list_reduce(list_prepend(0.0, list_transform(range(1, len(cs)+1),
           i -> ln(i::DOUBLE) * ln(i::DOUBLE))), (a, x) -> a + x) AS sxx,
         list_reduce(list_prepend(0.0, list_transform(cs,
           c -> ln(c::DOUBLE) * ln(c::DOUBLE))), (a, x) -> a + x) AS syy,
         list_reduce(list_prepend(0.0, list_transform(range(1, len(cs)+1),
           i -> ln(i::DOUBLE) * ln(cs[i]::DOUBLE))), (a, x) -> a + x) AS sxy
  FROM arr
)
SELECT CAST(n AS BIGINT) AS n_terms,
       ROUND(-((sxy - sx*sy/n) / (sxx - sx*sx/n)), 6) AS zipf_alpha,
       ROUND(sy/n - ((sxy - sx*sy/n) / (sxx - sx*sx/n)) * sx/n, 6)
         AS intercept_ln,
       ROUND((sxy - sx*sy/n) * (sxy - sx*sy/n)
             / ((sxx - sx*sx/n) * (syy - sy*sy/n)), 6) AS r2
FROM folded
"""


# ---------------------------------------------------------------------
# tokenizer fertility per language
# ---------------------------------------------------------------------


def q_tokenizer_fertility(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer fertility per language: BPE-ish subword tokens per
    whitespace word, and characters per subword token — the
    cost-model numbers that decide context budgets and per-language
    sampling before a tokenizer is even trained (fertility >> 1
    flags scripts the pretokenizer fragments).

    All per-group sums are exact bigints; ratios divide at the edge.
    One narrow regex pass + one tiny groupBy — at 100 TB this is a
    single scan."""
    from ..functions.text import bpe_ish_tokens, nonempty_tokens

    d = load(spark, sf, "documents")
    per_doc = d.select(
        "lang",
        F.size(nonempty_tokens("text")).cast("bigint").alias("words"),
        F.size(bpe_ish_tokens("text")).cast("bigint").alias("bpe"),
        F.length("text").cast("bigint").alias("chars"),
    )
    g = per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("words").alias("n_words"),
        F.sum("bpe").alias("n_bpe_tokens"),
        F.sum("chars").alias("n_chars"),
    )
    return g.select(
        "lang",
        "n_docs",
        "n_words",
        "n_bpe_tokens",
        F.round(
            F.col("n_bpe_tokens").cast("double") / F.col("n_words"), 6
        ).alias("fertility"),
        F.round(
            F.col("n_chars").cast("double") / F.col("n_bpe_tokens"), 6
        ).alias("chars_per_token"),
    )


def _sql_tokenizer_fertility() -> str:
    return f"""
WITH per_doc AS (
  SELECT lang,
         len({TX.nonempty_tokens_sql()})::BIGINT AS words,
         len(regexp_extract_all(text, '{TX.BPE_ISH_PATTERN_SQL}'))::BIGINT
           AS bpe,
         length(text)::BIGINT AS chars
  FROM documents
)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(words) AS BIGINT) AS n_words,
       CAST(SUM(bpe) AS BIGINT) AS n_bpe_tokens,
       ROUND(CAST(SUM(bpe) AS DOUBLE) / SUM(words), 6) AS fertility,
       ROUND(CAST(SUM(chars) AS DOUBLE) / SUM(bpe), 6)
         AS chars_per_token
FROM per_doc GROUP BY lang
"""


# ---------------------------------------------------------------------
# sampled kNN-graph hubness
# ---------------------------------------------------------------------

_HUB_SAMPLE = 200
_HUB_K = 5


def q_ann_hubness_report(spark: SparkSession, sf: str) -> DataFrame:
    """Hubness profile of the embedding space: in-degree distribution
    of the exact 5-nn graph over a deterministic md5-ordered sample
    of query vectors.  High-hubness spaces (a few vectors appearing
    in everyone's neighbor list) break ANN recall and k-nn label
    scans — this is the diagnostic run before trusting either.

    Sampling is a pseudo-random TOTAL order (md5 of the id string),
    so the estimate is layout-independent and the DuckDB oracle
    reproduces it exactly; work is |sample| x |corpus|, the same
    bounded contract as ``knn_join``."""
    from ..operators.similarity import knn_join

    emb = load(spark, sf, "embeddings")
    queries = (
        emb.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(_HUB_SAMPLE)
    )
    edges = knn_join(queries, emb, k=_HUB_K + 1)
    # k+1 then drop self + re-rank: self is *usually* rank 1 but a
    # planted exact duplicate with a smaller id can outrank it, so
    # both engines re-rank after the self filter identically
    w = Window.partitionBy("query_id").orderBy("rank")
    neigh = (
        edges.filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("rank2", F.row_number().over(w))
        .filter(F.col("rank2") <= _HUB_K)
    )
    indeg = neigh.groupBy("neighbor_id").agg(
        F.count(F.lit(1)).alias("indeg")
    )
    return (
        indeg.groupBy("indeg")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .orderBy("indeg")
    )


SQL_ANN_HUBNESS_REPORT = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_HUB_SAMPLE}
), scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         {cosine_sql("e.embedding::DOUBLE[]", "q.qv")} AS cos_raw
  FROM embeddings e CROSS JOIN q
), ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY ROUND(cos_raw, 12) DESC, neighbor_id) AS rank
  FROM scored
), neigh AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY rank) AS rank2
  FROM ranked
  WHERE rank <= {_HUB_K + 1} AND neighbor_id != query_id
), indeg AS (
  SELECT neighbor_id, COUNT(*) AS indeg
  FROM neigh WHERE rank2 <= {_HUB_K}
  GROUP BY neighbor_id
)
SELECT indeg, COUNT(*) AS n_vectors FROM indeg GROUP BY indeg
ORDER BY indeg
"""


# ---------------------------------------------------------------------
# DAU/WAU stickiness
# ---------------------------------------------------------------------


def q_weekly_stickiness(spark: SparkSession, sf: str) -> DataFrame:
    """Product-analytics stickiness: avg daily distinct users over
    weekly distinct users, per epoch week.  Two exact distinct
    aggregates (day grain collapses first, so the second pass runs
    over |weeks|x|days| rows); the ratio of exact integers divides
    at the edge.  Week/day buckets use integer DIV on tz-free epoch
    micros — no calendar/timezone drift."""
    ev = load(spark, sf, "events").select(
        F.expr("ts_us DIV 604800000000").alias("week"),
        F.expr("ts_us DIV 86400000000").alias("day"),
        "user_id",
    )
    daily = ev.groupBy("week", "day").agg(
        F.countDistinct("user_id").alias("dau")
    )
    weekly_daily = daily.groupBy("week").agg(
        F.sum("dau").alias("sum_dau"), F.count(F.lit(1)).alias("n_days")
    )
    wau = ev.groupBy("week").agg(F.countDistinct("user_id").alias("wau"))
    j = weekly_daily.join(wau, "week")
    return j.select(
        "week",
        "n_days",
        F.round(
            F.col("sum_dau").cast("double") / F.col("n_days"), 6
        ).alias("avg_dau"),
        "wau",
        F.round(
            F.col("sum_dau").cast("double") / F.col("n_days")
            / F.col("wau"),
            6,
        ).alias("stickiness"),
    ).orderBy("week")


SQL_WEEKLY_STICKINESS = """
WITH ev AS (
  SELECT epoch_us(ts) // 604800000000 AS week,
         epoch_us(ts) // 86400000000 AS day, user_id
  FROM events
), daily AS (
  SELECT week, day, COUNT(DISTINCT user_id) AS dau
  FROM ev GROUP BY week, day
), weekly_daily AS (
  SELECT week, SUM(dau) AS sum_dau, COUNT(*) AS n_days
  FROM daily GROUP BY week
), wau AS (
  SELECT week, COUNT(DISTINCT user_id) AS wau FROM ev GROUP BY week
)
SELECT week, n_days,
       ROUND(CAST(sum_dau AS DOUBLE) / n_days, 6) AS avg_dau, wau,
       ROUND(CAST(sum_dau AS DOUBLE) / n_days / wau, 6) AS stickiness
FROM weekly_daily JOIN wau USING (week)
ORDER BY week
"""



# ---------------------------------------------------------------------
# day-of-week seasonality index
# ---------------------------------------------------------------------


def q_dow_seasonality(spark: SparkSession, sf: str) -> DataFrame:
    """Day-of-week seasonality index of order revenue: per-dow
    revenue against the uniform 1/7 share — the quick seasonal
    profile that calibrates traffic forecasts and anomaly baselines.
    Exact decimal sums; the index divides two exact aggregates at
    the edge.  One groupBy + a 1-row total broadcast."""
    from .core import _dec_sum

    o = load(spark, sf, "orders")
    per = o.groupBy(
        (F.dayofweek("o_orderdate") - 1).cast("bigint").alias("dow")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        _dec_sum(F.col("o_totalprice"), 2, "revenue"),
    )
    total = per.agg(
        F.sum(F.col("revenue").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_rev")
    )
    return (
        per.crossJoin(F.broadcast(total))
        .select(
            "dow",
            "n_orders",
            "revenue",
            F.round(
                F.col("revenue") * 7.0 / F.col("total_rev"), 6
            ).alias("seasonality_idx"),
        )
        .orderBy("dow")
    )


SQL_DOW_SEASONALITY = """
WITH per AS (
  SELECT CAST(dayofweek(o_orderdate) AS BIGINT) AS dow,
         COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           AS revenue
  FROM orders GROUP BY 1
), total AS (
  SELECT CAST(SUM(CAST(revenue AS DECIMAL(18,2))) AS DOUBLE)
           AS total_rev
  FROM per
)
SELECT dow, n_orders, revenue,
       ROUND(revenue * 7.0 / total_rev, 6) AS seasonality_idx
FROM per CROSS JOIN total
ORDER BY dow
"""


# ---------------------------------------------------------------------
# strictly-ordered three-step funnel
# ---------------------------------------------------------------------


def q_ordered_funnel_3step(spark: SparkSession, sf: str) -> DataFrame:
    """Strictly-ordered signup -> click -> purchase funnel: each
    user's first signup, first click AFTER that signup, first
    purchase AFTER that click — per-step reach and conversion.

    Decorrelated chain: three min-aggregates and two equi-joins, ALL
    keyed on user_id — the sequential "first X after Y" predicates
    are residual filters on co-partitioned joins, never time-range
    join conditions (which would nested-loop).  At scale the chain
    reuses one user_id exchange lineage end to end."""
    ev = load(spark, sf, "events").select("user_id", "event_type", "ts_us")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("s_us"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(s, "user_id")
        .filter(F.col("ts_us") > F.col("s_us"))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("c_us"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts_us") > F.col("c_us"))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("p_us"))
    )
    ns = s.agg(F.count(F.lit(1)).alias("n_signup"))
    nc = c.agg(F.count(F.lit(1)).alias("n_click_after"))
    np_ = p.agg(F.count(F.lit(1)).alias("n_purchase_after"))
    return (
        ns.crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(np_))
        .select(
            "n_signup",
            "n_click_after",
            "n_purchase_after",
            F.round(
                F.col("n_click_after").cast("double") / F.col("n_signup"),
                6,
            ).alias("rate_click"),
            F.round(
                F.col("n_purchase_after").cast("double")
                / F.col("n_click_after"),
                6,
            ).alias("rate_purchase"),
            F.round(
                F.col("n_purchase_after").cast("double")
                / F.col("n_signup"),
                6,
            ).alias("rate_overall"),
        )
    )


SQL_ORDERED_FUNNEL_3STEP = """
WITH s AS (
  SELECT user_id, MIN(epoch_us(ts)) AS s_us FROM events
  WHERE event_type = 'signup' GROUP BY user_id
), c AS (
  SELECT e.user_id, MIN(epoch_us(e.ts)) AS c_us
  FROM events e JOIN s USING (user_id)
  WHERE e.event_type = 'click' AND epoch_us(e.ts) > s.s_us
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, MIN(epoch_us(e.ts)) AS p_us
  FROM events e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.c_us
  GROUP BY e.user_id
)
SELECT (SELECT COUNT(*) FROM s) AS n_signup,
       (SELECT COUNT(*) FROM c) AS n_click_after,
       (SELECT COUNT(*) FROM p) AS n_purchase_after,
       ROUND((SELECT COUNT(*) FROM c)::DOUBLE
             / (SELECT COUNT(*) FROM s), 6) AS rate_click,
       ROUND((SELECT COUNT(*) FROM p)::DOUBLE
             / (SELECT COUNT(*) FROM c), 6) AS rate_purchase,
       ROUND((SELECT COUNT(*) FROM p)::DOUBLE
             / (SELECT COUNT(*) FROM s), 6) AS rate_overall
"""


# ---------------------------------------------------------------------
# label-propagation communities on the brand graph
# ---------------------------------------------------------------------

_LPA_ITERS = 4


def q_brand_label_propagation(spark: SparkSession, sf: str) -> DataFrame:
    """Synchronous label propagation (4 rounds) on the weighted
    brand co-occurrence graph: each round every node adopts the
    label with the highest incident edge weight (tie -> smallest
    label) — deterministic community detection, the fourth graph
    primitive next to PageRank / triangles / connected components.

    Scale: each round is ONE equi-join (edge dst -> label) + ONE
    groupBy vote + a node-partitioned rank window; rounds are
    chained lazily over the persisted edge relation, so the graph
    builds once.  Oracle: all rounds unrolled as generated CTEs."""
    from .analytics import _brand_edges

    edges = _brand_edges(spark, sf).persist()
    labels = edges.select(F.col("src").alias("node")).distinct()
    labels = labels.select("node", F.col("node").alias("label"))
    w = Window.partitionBy("node").orderBy(
        F.col("wsum").desc(), F.col("label")
    )
    for _ in range(_LPA_ITERS):
        votes = (
            edges.join(
                labels.select(
                    F.col("node").alias("dst"), "label"
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("node"), "label")
            .agg(F.sum("w").alias("wsum"))
        )
        labels = (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "label")
        )
    return labels.select(
        F.col("node").alias("brand"), F.col("label").alias("community")
    ).orderBy("brand")


def _sql_label_propagation() -> str:
    prev = "l0"
    its = []
    for i in range(1, _LPA_ITERS + 1):
        its.append(f"""
v{i} AS (
  SELECT e.src AS node, l.label, SUM(e.w) AS wsum
  FROM edges e JOIN {prev} l ON l.node = e.dst
  GROUP BY 1, 2
), l{i} AS (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node
                              ORDER BY wsum DESC, label) AS rn
    FROM v{i}
  ) WHERE rn = 1
)""")
        prev = f"l{i}"
    iters = ",".join(its)
    return f"""
WITH ob AS (
  SELECT DISTINCT l_orderkey AS k, p_brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
), edges AS (
  SELECT a.p_brand AS src, b.p_brand AS dst, COUNT(*)::DOUBLE AS w
  FROM ob a JOIN ob b USING (k)
  WHERE a.p_brand != b.p_brand
  GROUP BY 1, 2
), l0 AS (
  SELECT DISTINCT src AS node, src AS label FROM edges
),{iters}
SELECT node AS brand, label AS community FROM {prev} ORDER BY brand
"""



# ---------------------------------------------------------------------
# KMV distinct sketch: the oracle-checkable twin of the HLL reach
# ---------------------------------------------------------------------

_KMV_K = 64


def q_reach_kmv_accuracy(spark: SparkSession, sf: str) -> DataFrame:
    """Distinct-user reach per event type via a K-Minimum-Values
    sketch, with exact counts and realized relative error alongside
    — the oracle-checkable twin of ``user_reach_sketch`` (HLL is
    library-internal and not value-reproducible; KMV is pure md5 +
    order statistics, so DuckDB replays it bit-for-bit).

    Two-level mergeable shape, same as the HLL query: per-(type,
    day) k-smallest distinct hash arrays (a persistable day-grain
    summary), then a per-type merge of the day arrays — distinct →
    rank → k-th value — WITHOUT touching raw events again.  The
    estimator is (k-1)/u_k with u_k the k-th smallest normalized
    hash (Bar-Yossef et al., public literature); sigma ≈
    1/sqrt(k-2).  Every step is built-ins; bounded per-group state
    is enforced by the rank-before-collect (≤ k rows per group
    cross the aggregate)."""
    ev = load(spark, sf, "events").select(
        "event_type",
        F.expr("ts_us DIV 86400000000").alias("day"),
        "user_id",
    )
    h = F.expr(
        "CAST(conv(substring(md5(concat('kmv:', "
        "CAST(user_id AS STRING))), 1, 13), 16, 10) AS BIGINT)"
    )
    hashed = ev.select("event_type", "day", h.alias("h")).distinct()
    wd = Window.partitionBy("event_type", "day").orderBy("h")
    daily = (
        hashed.withColumn("rn", F.row_number().over(wd))
        .filter(F.col("rn") <= _KMV_K)
        .groupBy("event_type", "day")
        .agg(F.sort_array(F.collect_list("h")).alias("ks"))
    )
    # merge day summaries per type: distinct -> rank -> k-th value
    wt = Window.partitionBy("event_type").orderBy("h")
    merged = (
        daily.select("event_type", F.explode("ks").alias("h"))
        .distinct()
        .withColumn("rn", F.row_number().over(wt))
        .filter(F.col("rn") <= _KMV_K)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_min"),
            F.max("h").alias("h_k"),
        )
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    est = F.when(
        F.col("n_min") < _KMV_K, F.col("n_min").cast("double")
    ).otherwise(
        (_KMV_K - 1) * 4503599627370496.0 / (F.col("h_k") + 1)
    )
    return (
        merged.join(exact, "event_type")
        .select(
            "event_type",
            "exact_users",
            F.round(est, 4).alias("kmv_est"),
            F.round(
                F.abs(est - F.col("exact_users"))
                / F.col("exact_users"),
                4,
            ).alias("rel_err"),
        )
        .orderBy("event_type")
    )


SQL_REACH_KMV_ACCURACY = f"""
WITH ev AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS day, user_id
  FROM events
), hashed AS (
  SELECT DISTINCT event_type, day,
         CAST(('0x' || substr(md5('kmv:' || user_id::VARCHAR),
                              1, 13)) AS BIGINT) AS h
  FROM ev
), ranked AS (
  SELECT event_type, day, h,
         row_number() OVER (PARTITION BY event_type, day
                            ORDER BY h) AS rn
  FROM hashed
), daily AS (
  SELECT event_type, day, list_sort(list(h)) AS ks
  FROM ranked WHERE rn <= {_KMV_K}
  GROUP BY event_type, day
), pool AS (
  SELECT DISTINCT event_type, u.h
  FROM daily, UNNEST(ks) AS u(h)
), ranked2 AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM pool
), merged AS (
  SELECT event_type, COUNT(*) AS n_min, MAX(h) AS h_k
  FROM ranked2 WHERE rn <= {_KMV_K}
  GROUP BY event_type
), exact AS (
  SELECT event_type, COUNT(DISTINCT user_id) AS exact_users
  FROM ev GROUP BY event_type
)
SELECT m.event_type, e.exact_users,
       ROUND(CASE WHEN m.n_min < {_KMV_K} THEN m.n_min::DOUBLE
                  ELSE ({_KMV_K} - 1)::DOUBLE
                       * 4503599627370496.0::DOUBLE
                       / (m.h_k + 1) END, 4) AS kmv_est,
       ROUND(ABS(CASE WHEN m.n_min < {_KMV_K} THEN m.n_min::DOUBLE
                      ELSE ({_KMV_K} - 1)::DOUBLE
                           * 4503599627370496.0::DOUBLE
                           / (m.h_k + 1) END - e.exact_users)
             / e.exact_users, 4) AS rel_err
FROM merged m JOIN exact e USING (event_type)
ORDER BY m.event_type
"""


# ---------------------------------------------------------------------
# KMV set algebra: union / intersection / Jaccard between sketches
# ---------------------------------------------------------------------


def q_audience_overlap_kmv(spark: SparkSession, sf: str) -> DataFrame:
    """Audience-overlap matrix between event types via KMV *set
    algebra* — the theta-sketch capability (Beyer et al. 2007;
    Dasgupta et al., the DataSketches theta paper): given one
    bottom-k sketch per cohort, estimate |A ∪ B|, |A ∩ B| and
    Jaccard for every cohort pair WITHOUT re-touching the raw data.
    Items are (user_id, day) "active user-days", so the overlap
    question is "how much does the click audience-time overlap the
    purchase audience-time" — the canonical pre-join overlap probe
    at 100 TB, where the exact pairwise distinct-intersection over
    raw events would be a self-join of the whole fact table.

    Sketch math (all public literature): the union sketch of A, B
    is the bottom-k of the merged samples; K_union = (k-1)/u_k
    estimates |A ∪ B|; rho = |{h in union sketch : h in A and in
    B}| / |union sketch| estimates Jaccard; intersection = rho *
    K_union.  Everything after the one data-scale pass (distinct +
    per-cohort rank) runs on <= k rows per cohort — the pair matrix
    costs |cohorts|^2 * k tiny rows, NEVER a data-scale self-join.
    The exact counterparts computed alongside are the small-sf
    accuracy readout (realized relative error lands in the output,
    so the driver hash-certifies estimator quality, not just shape).
    DuckDB replays bit-for-bit: md5 bottom-k order statistics and
    double arithmetic with identical expression shape."""
    ev = load(spark, sf, "events").select(
        "event_type",
        F.expr("ts_us DIV 86400000000").alias("day"),
        "user_id",
    )
    h = F.expr(
        "CAST(conv(substring(md5(concat('kmvset:', "
        "CAST(user_id AS STRING), ':', CAST(day AS STRING))), "
        "1, 13), 16, 10) AS BIGINT)"
    )
    items = ev.select("event_type", h.alias("h")).distinct()
    wt = Window.partitionBy("event_type").orderBy("h")
    # persist: the <= |cohorts| * k sketch feeds THREE consumers
    # (the type spine and both pair-membership joins); without it
    # lazy evaluation re-runs the data-scale distinct+rank per
    # consumer (the crossdoc_span_coverage lesson).
    sk = (
        items.withColumn("rn", F.row_number().over(wt))
        .filter(F.col("rn") <= _KMV_K)
        .select("event_type", "h")
        .persist()
    )
    # |cohorts|^2 spine (<= 25 rows by construction — plan-lint
    # allowlisted with the other bounded spine generators)
    types = sk.select("event_type").distinct()
    pairs = (
        types.select(F.col("event_type").alias("type_a"))
        .crossJoin(types.select(F.col("event_type").alias("type_b")))
        .filter(F.col("type_a") < F.col("type_b"))
    )
    pa = pairs.join(
        sk.withColumnRenamed("event_type", "type_a"), "type_a"
    ).select(
        "type_a", "type_b", "h",
        F.lit(1).alias("in_a"), F.lit(0).alias("in_b"),
    )
    pb = pairs.join(
        sk.withColumnRenamed("event_type", "type_b"), "type_b"
    ).select(
        "type_a", "type_b", "h",
        F.lit(0).alias("in_a"), F.lit(1).alias("in_b"),
    )
    pool = (
        pa.unionByName(pb)
        .groupBy("type_a", "type_b", "h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    wp = Window.partitionBy("type_a", "type_b").orderBy("h")
    kk = (
        pool.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= _KMV_K)
        .groupBy("type_a", "type_b")
        .agg(
            F.count(F.lit(1)).alias("n_min"),
            F.max("h").alias("h_k"),
            F.sum(F.col("in_a") * F.col("in_b")).alias("n_both"),
        )
    )
    u_est = F.when(
        F.col("n_min") < _KMV_K, F.col("n_min").cast("double")
    ).otherwise(
        (_KMV_K - 1) * 4503599627370496.0 / (F.col("h_k") + 1)
    )
    j_est = F.col("n_both").cast("double") / F.col("n_min").cast("double")
    # exact counterparts (small-sf accuracy readout; the sketch path
    # above is the 100 TB path)
    du = ev.select("event_type", "user_id", "day").distinct().persist()
    ca = du.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_items"))
    inter = (
        du.select(F.col("event_type").alias("type_a"), "user_id", "day")
        .join(
            du.select(
                F.col("event_type").alias("type_b"), "user_id", "day"
            ),
            ["user_id", "day"],
        )
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("exact_inter"))
    )
    exact = (
        pairs.join(
            ca.withColumnRenamed("event_type", "type_a")
            .withColumnRenamed("n_items", "na"),
            "type_a",
        )
        .join(
            ca.withColumnRenamed("event_type", "type_b")
            .withColumnRenamed("n_items", "nb"),
            "type_b",
        )
        .join(inter, ["type_a", "type_b"], "left")
        .select(
            "type_a", "type_b",
            (
                F.col("na") + F.col("nb")
                - F.coalesce(F.col("exact_inter"), F.lit(0))
            ).alias("exact_union"),
            F.coalesce(F.col("exact_inter"), F.lit(0)).alias(
                "exact_inter"
            ),
        )
    )
    return (
        kk.join(exact, ["type_a", "type_b"])
        .select(
            "type_a",
            "type_b",
            "exact_union",
            "exact_inter",
            F.round(u_est, 4).alias("union_est"),
            F.round(j_est * u_est, 4).alias("inter_est"),
            F.round(j_est, 4).alias("jaccard_est"),
            F.round(
                F.abs(u_est - F.col("exact_union"))
                / F.col("exact_union"),
                4,
            ).alias("union_rel_err"),
            F.when(
                F.col("exact_inter") > 0,
                F.round(
                    F.abs(j_est * u_est - F.col("exact_inter"))
                    / F.col("exact_inter"),
                    4,
                ),
            ).alias("inter_rel_err"),
        )
        .orderBy("type_a", "type_b")
    )


SQL_AUDIENCE_OVERLAP_KMV = f"""
WITH ev AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS day, user_id
  FROM events
), items AS (
  SELECT DISTINCT event_type,
         CAST(('0x' || substr(md5('kmvset:' || user_id::VARCHAR
                                  || ':' || day::VARCHAR),
                              1, 13)) AS BIGINT) AS h
  FROM ev
), sk AS (
  SELECT event_type, h FROM (
    SELECT event_type, h,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY h) AS rn
    FROM items
  ) WHERE rn <= {_KMV_K}
), types AS (
  SELECT DISTINCT event_type FROM sk
), pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b
  FROM types a, types b WHERE a.event_type < b.event_type
), pool AS (
  SELECT type_a, type_b, h, MAX(in_a) AS in_a, MAX(in_b) AS in_b
  FROM (
    SELECT p.type_a, p.type_b, s.h, 1 AS in_a, 0 AS in_b
    FROM pairs p JOIN sk s ON s.event_type = p.type_a
    UNION ALL
    SELECT p.type_a, p.type_b, s.h, 0 AS in_a, 1 AS in_b
    FROM pairs p JOIN sk s ON s.event_type = p.type_b
  ) GROUP BY 1, 2, 3
), kk AS (
  SELECT type_a, type_b, COUNT(*) AS n_min, MAX(h) AS h_k,
         SUM(in_a * in_b) AS n_both
  FROM (
    SELECT *, row_number() OVER (PARTITION BY type_a, type_b
                                 ORDER BY h) AS rn
    FROM pool
  ) WHERE rn <= {_KMV_K} GROUP BY 1, 2
), du AS (
  SELECT DISTINCT event_type, user_id, day FROM ev
), ca AS (
  SELECT event_type, COUNT(*) AS n_items FROM du GROUP BY 1
), inter AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         COUNT(*) AS exact_inter
  FROM du a JOIN du b ON a.user_id = b.user_id AND a.day = b.day
  WHERE a.event_type < b.event_type GROUP BY 1, 2
), exact AS (
  SELECT p.type_a, p.type_b,
         ca1.n_items + ca2.n_items
           - COALESCE(i.exact_inter, 0) AS exact_union,
         COALESCE(i.exact_inter, 0) AS exact_inter
  FROM pairs p
  JOIN ca ca1 ON ca1.event_type = p.type_a
  JOIN ca ca2 ON ca2.event_type = p.type_b
  LEFT JOIN inter i ON i.type_a = p.type_a AND i.type_b = p.type_b
), raw AS (
  SELECT k.type_a, k.type_b, e.exact_union, e.exact_inter,
         CASE WHEN k.n_min < {_KMV_K} THEN k.n_min::DOUBLE
              ELSE ({_KMV_K} - 1)::DOUBLE * 4503599627370496.0::DOUBLE
                   / (k.h_k + 1) END AS u_est,
         k.n_both::DOUBLE / k.n_min::DOUBLE AS j_est
  FROM kk k JOIN exact e
    ON e.type_a = k.type_a AND e.type_b = k.type_b
)
SELECT type_a, type_b, exact_union, exact_inter,
       ROUND(u_est, 4) AS union_est,
       ROUND(j_est * u_est, 4) AS inter_est,
       ROUND(j_est, 4) AS jaccard_est,
       ROUND(ABS(u_est - exact_union) / exact_union, 4)
         AS union_rel_err,
       CASE WHEN exact_inter > 0
            THEN ROUND(ABS(j_est * u_est - exact_inter)
                       / exact_inter, 4)
            ELSE NULL END AS inter_rel_err
FROM raw ORDER BY type_a, type_b
"""



# ---------------------------------------------------------------------
# Q15-shape: scalar-subquery-equality (the max-of-aggregate filter)
# ---------------------------------------------------------------------


def q_top_supplier_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """Supplier(s) whose lineitem revenue equals the maximum over all
    suppliers (TPC-H Q15 shape: a view-aggregate filtered by its own
    scalar MAX subquery).  Decorrelated Spark-first: ONE per-supplier
    aggregate, a 1-row MAX broadcast by crossJoin, and an equality
    filter on EXACT decimal revenue (double revenue would make
    "equals the max" engine-dependent).  Ties all surface — the
    shape returns every argmax row, not an arbitrary first."""
    li = load(spark, sf, "lineitem")
    s = load(spark, sf, "supplier").select("s_suppkey", "s_name")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(
            (
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).cast("decimal(18,4)")
        ).alias("rev")
    )
    mx = rev.agg(F.max("rev").alias("max_rev"))
    top = rev.crossJoin(F.broadcast(mx)).filter(
        F.col("rev") == F.col("max_rev")
    )
    return (
        top.join(s, top["l_suppkey"] == s["s_suppkey"])
        .select(
            F.col("s_name").alias("supplier_name"),
            F.col("rev").cast("double").alias("total_revenue"),
        )
        .orderBy("supplier_name")
    )


SQL_TOP_SUPPLIER_REVENUE = """
WITH rev AS (
  SELECT l_suppkey,
         SUM(CAST(l_extendedprice * (1 - l_discount)
                  AS DECIMAL(18,4))) AS rev
  FROM lineitem GROUP BY l_suppkey
)
SELECT s_name AS supplier_name, CAST(rev AS DOUBLE) AS total_revenue
FROM rev JOIN supplier ON s_suppkey = l_suppkey
WHERE rev = (SELECT MAX(rev) FROM rev)
ORDER BY supplier_name
"""


# ---------------------------------------------------------------------
# percent-of-total via window (ratio_to_report)
# ---------------------------------------------------------------------


def q_nation_revenue_share(spark: SparkSession, sf: str) -> DataFrame:
    """Each nation's share of its region's order revenue — the
    ratio_to_report / percent-of-total window: one grouped aggregate
    to nation grain, then a region-partitioned window SUM as the
    denominator (no self-join, no second scan).  Shares divide two
    exact decimal sums at the edge."""
    from .core import _dec_sum

    o = load(spark, sf, "orders")
    c = load(spark, sf, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    r = load(spark, sf, "region").select("r_regionkey", "r_name")
    nat = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(
            F.col("r_name").alias("region"),
            F.col("n_name").alias("nation"),
        )
        .agg(_dec_sum(F.col("o_totalprice"), 2, "revenue"))
    )
    w = Window.partitionBy("region")
    return nat.select(
        "region",
        "nation",
        "revenue",
        F.round(
            F.col("revenue")
            / F.sum(F.col("revenue").cast("decimal(18,2)"))
            .over(w)
            .cast("double"),
            6,
        ).alias("region_share"),
    ).orderBy("region", "nation")


SQL_NATION_REVENUE_SHARE = """
WITH nat AS (
  SELECT r_name AS region, n_name AS nation,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           AS revenue
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY r_name, n_name
)
SELECT region, nation, revenue,
       ROUND(revenue / CAST(SUM(CAST(revenue AS DECIMAL(18,2)))
                            OVER (PARTITION BY region) AS DOUBLE), 6)
         AS region_share
FROM nat ORDER BY region, nation
"""


# ---------------------------------------------------------------------
# encoding-hygiene cleaning pass (deterministic injection, like PII)
# ---------------------------------------------------------------------

_MOJIBAKE = "\u00c3\u00a9"  # 'e-acute' seen through a latin-1 window
_CTRL_RE = r"[\x00-\x08\x0b\x0c\x0e-\x1f]"


def q_doc_cleaning_report(spark: SparkSession, sf: str) -> DataFrame:
    """Encoding-hygiene pass — the cleaning stage between scraping
    and tokenization: count and strip control characters, detect
    classic UTF-8-seen-as-latin-1 mojibake, measure the non-ASCII
    ratio, and account for bytes removed per source.

    The synthetic corpus is clean ASCII, so (the PII-report
    precedent) every 4th document gets a deterministic doc_id-derived
    blemish appended first — a control char and a mojibake pair —
    giving the detectors real matches with reproducible counts while
    untouched docs prove the no-op path.  One narrow JVM-side regex
    pass + one per-source aggregate, no UDF."""
    d = load(spark, sf, "documents")
    blemish = F.when(
        F.col("doc_id") % 4 == 0,
        F.concat(
            F.col("text"),
            F.lit("\x07 caf" + _MOJIBAKE),
        ),
    ).otherwise(F.col("text"))
    t = d.select("source", "doc_id", blemish.alias("t"))
    n_ctrl = F.size(F.regexp_extract_all("t", F.lit(_CTRL_RE), 0))
    n_moji = F.size(
        F.regexp_extract_all("t", F.lit(_MOJIBAKE), 0)
    )
    cleaned = F.regexp_replace(
        F.regexp_replace("t", _MOJIBAKE, "\u00e9"), _CTRL_RE, ""
    )
    n_nonascii = F.size(
        F.regexp_extract_all("t", F.lit(r"[^\x00-\x7f]"), 0)
    )
    per = t.select(
        "source",
        n_ctrl.alias("nc"),
        n_moji.alias("nm"),
        n_nonascii.alias("na"),
        (F.length("t") - F.length(cleaned)).alias("removed"),
        F.length("t").alias("len"),
    )
    return (
        per.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nc").alias("n_control_chars"),
            F.sum("nm").alias("n_mojibake"),
            F.round(
                F.sum("na").cast("double") / F.sum("len"), 6
            ).alias("nonascii_ratio"),
            F.sum("removed").alias("chars_removed"),
        )
        .orderBy("source")
    )


SQL_DOC_CLEANING_REPORT = r"""
WITH t AS (
  SELECT source, doc_id,
         CASE WHEN doc_id % 4 = 0
              THEN text || chr(7) || ' caf' || chr(195) || chr(169)
              ELSE text END AS t
  FROM documents
), per AS (
  SELECT source,
         len(regexp_extract_all(t,
             '[\x00-\x08\x0b\x0c\x0e-\x1f]')) AS nc,
         len(regexp_extract_all(t, chr(195) || chr(169))) AS nm,
         len(regexp_extract_all(t, '[^\x00-\x7f]')) AS na,
         length(t) - length(
           regexp_replace(
             regexp_replace(t, chr(195) || chr(169), chr(233), 'g'),
             '[\x00-\x08\x0b\x0c\x0e-\x1f]', '', 'g')
         ) AS removed,
         length(t) AS len
  FROM t
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(nc) AS BIGINT) AS n_control_chars,
       CAST(SUM(nm) AS BIGINT) AS n_mojibake,
       ROUND(CAST(SUM(na) AS DOUBLE) / SUM(len), 6) AS nonascii_ratio,
       CAST(SUM(removed) AS BIGINT) AS chars_removed
FROM per GROUP BY source ORDER BY source
"""



# ---------------------------------------------------------------------
# Holt linear-trend smoothing (doubly-recursive fold)
# ---------------------------------------------------------------------

_HOLT_A, _HOLT_B = 0.3, 0.2


def q_holt_revenue_forecast(spark: SparkSession, sf: str) -> DataFrame:
    """Holt's linear exponential smoothing over monthly revenue per
    region: level and trend evolve as COUPLED recursions (l' = a*x +
    (1-a)(l+b); b' = g(l'-l) + (1-g)b) — strictly more state than the
    EWMA fold, and still nothing a window frame can express.  One
    struct-accumulator ``F.aggregate`` fold per region over the
    month-sorted series; the one-step-ahead forecast l+b is the
    dashboard number.

    Cross-engine: the lambda's operation ORDER mirrors the DuckDB
    ``list_reduce`` term-for-term (the trend term re-derives l'
    inline with the identical expression), so the doubles are
    IEEE-identical before rounding.  Scale: same contract as
    ``ewma_monthly_revenue`` — the fold is calendar-bounded per
    region, one rollup shuffle feeds it."""
    o = load(spark, sf, "orders")
    c = load(spark, sf, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf, "nation").select("n_nationkey", "n_regionkey")
    r = load(spark, sf, "region").select("r_regionkey", "r_name")
    month = F.date_format(
        F.date_trunc("month", F.col("o_orderdate").cast("date")),
        "yyyy-MM-dd",
    )
    monthly = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name", month.alias("month"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("rv")
        )
    )
    srt = F.array_sort(F.collect_list(F.struct("month", "rv")))
    per_region = monthly.groupBy("r_name").agg(srt.alias("s"))
    a, g = _HOLT_A, _HOLT_B
    nl = lambda acc, x: (
        F.lit(a) * x["rv"] + F.lit(1 - a) * (acc["l"] + acc["b"])
    )
    fold = F.aggregate(
        F.col("s"),
        F.expr(
            "named_struct('l', CAST(0.0 AS DOUBLE), "
            "'b', CAST(0.0 AS DOUBLE), 'i', 0)"
        ),
        lambda acc, x: F.struct(
            F.when(acc["i"] == 0, x["rv"])
            .otherwise(nl(acc, x))
            .alias("l"),
            F.when(acc["i"] == 0, F.lit(0.0))
            .otherwise(
                F.lit(g) * (nl(acc, x) - acc["l"])
                + F.lit(1 - g) * acc["b"]
            )
            .alias("b"),
            (acc["i"] + 1).alias("i"),
        ),
    )
    folded = per_region.select(
        F.col("r_name").alias("region"), fold.alias("f")
    )
    return folded.select(
        "region",
        F.col("f.i").alias("n_months"),
        F.round(F.col("f.l"), 4).alias("level"),
        F.round(F.col("f.b"), 4).alias("trend"),
        F.round(F.col("f.l") + F.col("f.b"), 4).alias("forecast_next"),
    ).orderBy("region")


SQL_HOLT_REVENUE_FORECAST = f"""
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
), folded AS (
  -- accumulator is [level, trend, n]: DuckDB 1.0's list_reduce
  -- corrupts STRUCT-typed accumulators across chained steps (a
  -- single combine evaluates correctly, three chained do not), so
  -- the state rides a DOUBLE list; arithmetic term order matches
  -- the Spark lambda exactly
  SELECT r_name,
         list_reduce(
           list_prepend([0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE],
             list_transform(list(rv ORDER BY month),
                            x -> [x, 0.0::DOUBLE, -1.0::DOUBLE])),
           (acc, e) -> [
             CASE WHEN acc[3] = 0.0 THEN e[1]
                  ELSE {_HOLT_A}::DOUBLE * e[1]
                       + {1 - _HOLT_A}::DOUBLE * (acc[1] + acc[2])
             END,
             CASE WHEN acc[3] = 0.0 THEN 0.0::DOUBLE
                  ELSE {_HOLT_B}::DOUBLE
                       * (({_HOLT_A}::DOUBLE * e[1]
                           + {1 - _HOLT_A}::DOUBLE
                             * (acc[1] + acc[2])) - acc[1])
                       + {1 - _HOLT_B}::DOUBLE * acc[2]
             END,
             acc[3] + 1.0::DOUBLE]) AS f
  FROM mo GROUP BY r_name
)
SELECT r_name AS region, CAST(f[3] AS INT) AS n_months,
       ROUND(f[1], 4) AS level, ROUND(f[2], 4) AS trend,
       ROUND(f[1] + f[2], 4) AS forecast_next
FROM folded ORDER BY region
"""



# ---------------------------------------------------------------------
# point-in-time (leakage-free) feature join against SCD2 history
# ---------------------------------------------------------------------


def q_pit_feature_join(spark: SparkSession, sf: str) -> DataFrame:
    """Point-in-time feature attachment — the feature-store join that
    keeps training data leakage-free: every lineitem (fact, at ship
    time) gets its customer's cumulative spend and order count AS OF
    the ship date, never a later value.  The dimension history is the
    SCD2-style running version chain (one row per order event with a
    running feature); the lookup is the engine's own ``asof_join``
    (single-shuffle union+window, no range explosion — see
    operators/asof.py), ties on same-day versions resolving to the
    latest by order key, exactly like the history's own ordering.

    Facts whose ship date precedes the customer's first version keep
    NULL features (left-outer as-of) — the honest answer, not a
    default that leaks.  Scale: one fact-dim equi-shuffle for the
    custkey attach + the as-of's single exchange."""
    from ..operators.asof import asof_join

    o = load(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    versions = o.select(
        "o_custkey",
        "o_orderdate",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("cum_spend"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_orders"),
    )
    # the synthetic lineitem reuses line numbers within an order, so
    # collapse to the deterministic unique fact grain first (latest
    # ship per (order, line)) — the PIT answer is per fact KEY
    li = (
        load(spark, sf, "lineitem")
        .groupBy("l_orderkey", "l_linenumber")
        .agg(F.max("l_shipdate").alias("l_shipdate"))
    )
    facts = li.join(
        o.select(F.col("o_orderkey").alias("__ok"), "o_custkey"),
        li["l_orderkey"] == F.col("__ok"),
    ).drop("__ok")
    j = asof_join(
        facts,
        versions,
        "o_custkey",
        "o_custkey",
        "l_shipdate",
        "o_orderdate",
        ["cum_spend", "n_orders"],
        tiebreak="o_orderkey",
    )
    return j.select(
        F.col("l_orderkey").alias("order_key"),
        F.col("l_linenumber").alias("line_nr"),
        F.col("o_custkey").alias("customer_id"),
        F.col("l_shipdate").cast("string").alias("ship_ts"),
        F.round("cum_spend", 2).alias("spend_asof_ship"),
        F.col("n_orders").alias("orders_asof_ship"),
    )


SQL_PIT_FEATURE_JOIN = """
WITH versions AS (
  SELECT o_custkey, o_orderdate, o_orderkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
              OVER (PARTITION BY o_custkey
                    ORDER BY o_orderdate, o_orderkey
                    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_spend,
         CAST(row_number()
              OVER (PARTITION BY o_custkey
                    ORDER BY o_orderdate, o_orderkey) AS BIGINT)
           AS n_orders
  FROM orders
), li AS (
  SELECT l_orderkey, l_linenumber, MAX(l_shipdate) AS l_shipdate
  FROM lineitem GROUP BY 1, 2
), facts AS (
  SELECT l_orderkey, l_linenumber, l_shipdate, o_custkey
  FROM li JOIN orders ON l_orderkey = o_orderkey
), ranked AS (
  SELECT f.l_orderkey, f.l_linenumber, f.o_custkey, f.l_shipdate,
         v.cum_spend, v.n_orders,
         row_number() OVER (
           PARTITION BY f.l_orderkey, f.l_linenumber
           ORDER BY v.o_orderdate DESC NULLS LAST,
                    v.o_orderkey DESC NULLS LAST) AS rn
  FROM facts f
  LEFT JOIN versions v
    ON v.o_custkey = f.o_custkey AND v.o_orderdate <= f.l_shipdate
)
SELECT l_orderkey AS order_key, l_linenumber AS line_nr,
       o_custkey AS customer_id,
       CAST(l_shipdate AS VARCHAR) AS ship_ts,
       ROUND(cum_spend, 2) AS spend_asof_ship,
       n_orders AS orders_asof_ship
FROM ranked WHERE rn = 1
"""



# ---------------------------------------------------------------------
# two-proportion experiment readout
# ---------------------------------------------------------------------


def q_ab_test_zscore(spark: SparkSession, sf: str) -> DataFrame:
    """Experiment analysis: users split into two deterministic
    cohorts (user_id parity — the synthetic stand-in for an
    assignment table); conversion = a purchase within ONE HOUR of
    the user's first signup (the same windowed definition as
    ``signup_purchase_funnel`` — an unwindowed definition is
    degenerate on this corpus: nearly every user purchases
    eventually, p_pool -> 1 and the z-score's standard error
    collapses to 0, which is exactly the division-by-zero a naive
    dashboard hits).  Readout: pooled two-proportion z and the
    |z| > 1.96 significance flag, NULL-guarded when a cohort is
    empty or the pooled rate is degenerate.

    All counts are exact integers; the z arithmetic mirrors the
    oracle operation-for-operation so the doubles are
    IEEE-identical before rounding."""
    ev = load(spark, sf, "events").select(
        "user_id", "event_type", "ts_us"
    )
    first_signup = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("s_us"))
    )
    hour = 3_600_000_000
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts_us").alias("p_us")
    )
    conv = (
        first_signup.join(purchases, "user_id")
        .filter(
            (F.col("p_us") > F.col("s_us"))
            & (F.col("p_us") <= F.col("s_us") + hour)
        )
        .select("user_id")
        .distinct()
        .select("user_id", F.lit(1).alias("converted"))
    )
    base = first_signup.join(conv, "user_id", "left").select(
        "user_id",
        (F.col("user_id") % 2).cast("int").alias("cohort"),
        F.coalesce(F.col("converted"), F.lit(0)).alias("converted"),
    )
    # ONE conditional aggregate carries both cohorts in a single row
    # — no crossJoin of filtered aggregates (which the plan linter
    # rightly flags: a filter above an aggregate is not provably
    # 1-row), and one pass instead of two
    j = base.agg(
        F.sum(F.when(F.col("cohort") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(
            F.when(F.col("cohort") == 0, F.col("converted")).otherwise(0)
        )
        .cast("bigint")
        .alias("c_a"),
        F.sum(F.when(F.col("cohort") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
        F.sum(
            F.when(F.col("cohort") == 1, F.col("converted")).otherwise(0)
        )
        .cast("bigint")
        .alias("c_b"),
    )
    p_a = F.col("c_a").cast("double") / F.col("n_a")
    p_b = F.col("c_b").cast("double") / F.col("n_b")
    p_pool = (F.col("c_a") + F.col("c_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    se = F.sqrt(
        p_pool
        * (1.0 - p_pool)
        * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    z = F.when(se > 0, (p_a - p_b) / se)
    return j.select(
        "n_a",
        "c_a",
        F.round(p_a, 6).alias("rate_a"),
        "n_b",
        "c_b",
        F.round(p_b, 6).alias("rate_b"),
        F.round(z, 4).alias("z_score"),
        (F.abs(z) > 1.96).alias("significant_95"),
    )


SQL_AB_TEST_ZSCORE = """
WITH first_signup AS (
  SELECT user_id, MIN(epoch_us(ts)) AS s_us FROM events
  WHERE event_type = 'signup' GROUP BY user_id
), conv AS (
  SELECT DISTINCT f.user_id
  FROM first_signup f
  JOIN events e ON e.user_id = f.user_id
  WHERE e.event_type = 'purchase'
    AND epoch_us(e.ts) > f.s_us
    AND epoch_us(e.ts) <= f.s_us + 3600000000
), base AS (
  SELECT f.user_id, CAST(f.user_id % 2 AS INT) AS cohort,
         CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END AS converted
  FROM first_signup f LEFT JOIN conv c ON f.user_id = c.user_id
), j AS (
  SELECT CAST(SUM(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_a,
         CAST(SUM(CASE WHEN cohort = 0 THEN converted ELSE 0 END)
              AS BIGINT) AS c_a,
         CAST(SUM(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_b,
         CAST(SUM(CASE WHEN cohort = 1 THEN converted ELSE 0 END)
              AS BIGINT) AS c_b
  FROM base
), scored AS (
  SELECT n_a, c_a, n_b, c_b,
         CAST(c_a AS DOUBLE) / n_a AS p_a,
         CAST(c_b AS DOUBLE) / n_b AS p_b,
         SQRT((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
              * (1.0 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
              * (1.0 / n_a + 1.0 / n_b)) AS se
  FROM j
)
SELECT n_a, c_a, ROUND(p_a, 6) AS rate_a,
       n_b, c_b, ROUND(p_b, 6) AS rate_b,
       ROUND(CASE WHEN se > 0 THEN (p_a - p_b) / se END, 4) AS z_score,
       ABS(CASE WHEN se > 0 THEN (p_a - p_b) / se END) > 1.96
         AS significant_95
FROM scored
"""



# ---------------------------------------------------------------------
# lag-1 autocorrelation of daily revenue (exact sufficient statistics)
# ---------------------------------------------------------------------


def q_daily_revenue_autocorr(spark: SparkSession, sf: str) -> DataFrame:
    """Serial dependence of the daily revenue series: lag-1 Pearson
    autocorrelation over consecutive calendar days — the stationarity
    probe run before trusting any forecasting model (EWMA/Holt above
    assume the errors are roughly uncorrelated).

    Numeric policy: Pearson from EXACT decimal sufficient statistics
    (n, Σx, Σy, Σxy, Σx², Σy²) — the ``nation_revenue_trend`` lesson;
    engine-ordered double accumulation (native ``corr``) would drift
    cross-engine at this magnitude.  The lag is a CALENDAR join
    (day+1 = next day) so no global window appears anywhere —
    gapped days simply contribute no pair (documented, exact)."""
    o = load(spark, sf, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
    )
    d2 = daily.select(
        F.col("day").alias("day2"), F.col("rev").alias("rev_next")
    )
    pairs = daily.join(
        d2, F.date_add(F.col("day"), 1) == F.col("day2")
    )
    suff = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rev").cast("double").alias("sx"),
        F.sum("rev_next").cast("double").alias("sy"),
        F.sum(F.col("rev") * F.col("rev_next")).cast("double").alias("sxy"),
        F.sum(F.col("rev") * F.col("rev")).cast("double").alias("sxx"),
        F.sum(F.col("rev_next") * F.col("rev_next"))
        .cast("double")
        .alias("syy"),
    )
    n = F.col("n").cast("double")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return suff.select(
        F.col("n").alias("n_pairs"),
        F.round(F.when(den > 0, num / den), 6).alias("autocorr_lag1"),
    )


SQL_DAILY_REVENUE_AUTOCORR = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY 1
), pairs AS (
  SELECT a.rev AS x, b.rev AS y
  FROM daily a JOIN daily b ON a.day + 1 = b.day
), suff AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(x) AS DOUBLE) AS sx,
         CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(x * y) AS DOUBLE) AS sxy,
         CAST(SUM(x * x) AS DOUBLE) AS sxx,
         CAST(SUM(y * y) AS DOUBLE) AS syy
  FROM pairs
)
SELECT n AS n_pairs,
       ROUND(CASE WHEN SQRT((CAST(n AS DOUBLE) * sxx - sx * sx)
                            * (CAST(n AS DOUBLE) * syy - sy * sy)) > 0
                  THEN (CAST(n AS DOUBLE) * sxy - sx * sy)
                       / SQRT((CAST(n AS DOUBLE) * sxx - sx * sx)
                              * (CAST(n AS DOUBLE) * syy - sy * sy))
             END, 6) AS autocorr_lag1
FROM suff
"""



# ---------------------------------------------------------------------
# schema-wide referential-integrity sweep
# ---------------------------------------------------------------------

_FK_EDGES = (
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
)


def q_referential_integrity_sweep(spark: SparkSession, sf: str) -> DataFrame:
    """Every foreign-key edge of the schema in ONE report: child
    rows, orphan rows (left-anti against the parent key set), and
    the orphan rate — the whole-warehouse integrity dashboard that
    generalizes the single-edge ``orphan_orders`` check.

    Scale: each edge is one anti-join keyed on its FK (parent key
    sets broadcast when small, AQE otherwise); the report is
    |edges| rows.  Declared-edge-driven, so adding a table to the
    config extends the sweep without new code — the D1
    config-over-code discipline applied to integrity checking."""
    rows = []
    for child, fk, parent, pk in _FK_EDGES:
        c = load(spark, sf, child).select(F.col(fk).alias("k"))
        par = load(spark, sf, parent).select(F.col(pk).alias("k"))
        n_child = c.agg(F.count(F.lit(1)).alias("n_child"))
        n_orph = c.join(par, "k", "left_anti").agg(
            F.count(F.lit(1)).alias("n_orphans")
        )
        rows.append(
            n_child.crossJoin(F.broadcast(n_orph)).select(
                F.lit(f"{child}.{fk} -> {parent}.{pk}").alias("fk_edge"),
                "n_child",
                "n_orphans",
                F.round(
                    F.col("n_orphans").cast("double") / F.col("n_child"),
                    6,
                ).alias("orphan_rate"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("fk_edge")


def _sql_ri_sweep() -> str:
    parts = []
    for child, fk, parent, pk in _FK_EDGES:
        parts.append(f"""
SELECT '{child}.{fk} -> {parent}.{pk}' AS fk_edge,
       (SELECT COUNT(*) FROM {child}) AS n_child,
       (SELECT COUNT(*) FROM {child}
        WHERE {fk} NOT IN (SELECT {pk} FROM {parent}
                           WHERE {pk} IS NOT NULL)) AS n_orphans,
       ROUND((SELECT COUNT(*) FROM {child}
              WHERE {fk} NOT IN (SELECT {pk} FROM {parent}
                                 WHERE {pk} IS NOT NULL))::DOUBLE
             / (SELECT COUNT(*) FROM {child}), 6) AS orphan_rate""")
    return " UNION ALL ".join(parts) + " ORDER BY fk_edge"


# ---------------------------------------------------------------------
# bloom-filter semi-join reduction (runtime filter, self-measuring)
# ---------------------------------------------------------------------

_BLOOM_M = 1 << 13
_BLOOM_K = 5


def q_bloom_semijoin_prune(spark: SparkSession, sf: str) -> DataFrame:
    """Runtime-filter report: build a bloom filter over high-balance
    customers' keys, prune orders with it BEFORE any join, and
    measure what the exact semi-join would have kept — pass rate,
    false positives, and the realized false-positive rate.  The
    explicit, steerable, cross-engine-deterministic form of Spark's
    own bloom runtime filter (see ``operators/bloom.py``); at 100 TB
    the pruned side never pays shuffle cost for rows the filter
    rejects, and the filter itself is O(m) bits regardless of build
    cardinality."""
    from ..operators.bloom import bloom_build, bloom_prune

    cust = (
        load(spark, sf, "customer")
        .filter(F.col("c_acctbal") > 9500)
        .select("c_custkey")
    )
    words = bloom_build(cust, "c_custkey", _BLOOM_M, _BLOOM_K)
    orders = load(spark, sf, "orders").select("o_orderkey", "o_custkey")
    n_pass = bloom_prune(
        orders, "o_custkey", words, _BLOOM_M, _BLOOM_K
    ).agg(F.count(F.lit(1)).alias("n_bloom_pass"))
    n_true = orders.join(
        cust, orders["o_custkey"] == cust["c_custkey"], "left_semi"
    ).agg(F.count(F.lit(1)).alias("n_true_match"))
    n_probe = orders.agg(F.count(F.lit(1)).alias("n_probe"))
    n_build = cust.agg(
        F.countDistinct("c_custkey").alias("n_build_keys")
    )
    return (
        n_build.crossJoin(F.broadcast(n_probe))
        .crossJoin(F.broadcast(n_pass))
        .crossJoin(F.broadcast(n_true))
        .select(
            "n_build_keys",
            "n_probe",
            "n_bloom_pass",
            "n_true_match",
            (F.col("n_bloom_pass") - F.col("n_true_match")).alias(
                "n_false_pos"
            ),
            F.round(
                (F.col("n_bloom_pass") - F.col("n_true_match")).cast(
                    "double"
                )
                / (F.col("n_probe") - F.col("n_true_match")),
                6,
            ).alias("fpr"),
        )
    )


SQL_BLOOM_SEMIJOIN_PRUNE = f"""
WITH build AS (
  SELECT DISTINCT c_custkey AS key FROM customer WHERE c_acctbal > 9500
), bpos AS (
  SELECT CAST(('0x' || substr(md5(i::VARCHAR || ':' || key::VARCHAR),
                              1, 13)) AS BIGINT) % {_BLOOM_M} AS p
  FROM build CROSS JOIN UNNEST(range(0, {_BLOOM_K})) AS u(i)
), words AS (
  SELECT p // 32 AS word,
         bit_or(1::BIGINT << CAST(p % 32 AS INT)) AS bits
  FROM bpos GROUP BY 1
), ppos AS (
  SELECT o_orderkey, i,
         CAST(('0x' || substr(md5(i::VARCHAR || ':'
                                  || o_custkey::VARCHAR),
                              1, 13)) AS BIGINT) % {_BLOOM_M} AS p
  FROM orders CROSS JOIN UNNEST(range(0, {_BLOOM_K})) AS u(i)
), passed AS (
  SELECT o_orderkey
  FROM ppos JOIN words ON word = p // 32
       AND (bits & (1::BIGINT << CAST(p % 32 AS INT))) != 0
  GROUP BY o_orderkey HAVING COUNT(*) = {_BLOOM_K}
), stats AS (
  SELECT (SELECT COUNT(*) FROM build) AS n_build_keys,
         (SELECT COUNT(*) FROM orders) AS n_probe,
         (SELECT COUNT(*) FROM passed) AS n_bloom_pass,
         (SELECT COUNT(*) FROM orders
          WHERE o_custkey IN (SELECT key FROM build)) AS n_true_match
)
SELECT n_build_keys, n_probe, n_bloom_pass, n_true_match,
       n_bloom_pass - n_true_match AS n_false_pos,
       ROUND(CAST(n_bloom_pass - n_true_match AS DOUBLE)
             / (n_probe - n_true_match), 6) AS fpr
FROM stats
"""


# ---------------------------------------------------------------------
# count-min sketch calibration over bigram frequencies
# ---------------------------------------------------------------------

_CMS_DEPTH = 4
_CMS_WIDTH = 256


def q_cms_bigram_accuracy(spark: SparkSession, sf: str) -> DataFrame:
    """Count-min sketch calibration: estimate the 20 most frequent
    adjacent word-bigrams from a depth x width cell grid and report
    the (always >= 0) overestimate against exact counts — the
    measure-don't-guess readout before trusting the sketch where the
    exact bigram groupBy no longer fits (same role
    ``minhash_accuracy`` plays for the dedup sketch).  The grid is
    depth*width cells independent of vocabulary size; map-side
    combine bounds the exchange (see ``operators/sketch.cms_cells``)."""
    from ..operators.sketch import cms_cells, cms_estimate

    # spread the single-row-group scan before the heavy per-row
    # work (see queries/data.py:spread_scan; A/B-measured win)
    d = spread_scan(load(spark, sf, "documents"))
    from ..functions.text import nonempty_tokens

    toks = d.select(nonempty_tokens("text").alias("t")).filter(
        F.size("t") >= 2
    )
    pair = F.zip_with(
        F.slice("t", 1, F.size("t") - 1),
        F.slice("t", 2, F.size("t") - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    # NOT persisted (measured): caching the exploded bigram strings
    # costs as much as the re-scan it saves — unlike ngram_novelty's
    # md5-narrowed relation, the raw explode is cheap next to
    # materializing it (A/B at sf0.1: 2.68 s unpersisted vs 2.90 s
    # persisted, min of 3 alternated runs)
    bigrams = toks.select(F.explode(pair).alias("bigram"))
    cells = cms_cells(bigrams, "bigram", _CMS_DEPTH, _CMS_WIDTH)
    exact = (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .orderBy(F.col("exact_count").desc(), "bigram")
        .limit(20)
    )
    est = cms_estimate(exact, cells, "bigram", _CMS_DEPTH, _CMS_WIDTH)
    return (
        exact.join(est, "bigram")
        .select(
            "bigram",
            "exact_count",
            "cms_est",
            (F.col("cms_est") - F.col("exact_count")).alias(
                "overestimate"
            ),
        )
        .orderBy(F.col("exact_count").desc(), "bigram")
    )


SQL_CMS_BIGRAM_ACCURACY = f"""
WITH toks AS (
  SELECT {TX.nonempty_tokens_sql()} AS t
  FROM documents
), bigrams AS (
  SELECT bg AS bigram
  FROM toks,
       UNNEST(list_transform(range(1, len(t)),
                             i -> t[i] || ' ' || t[i+1])) AS u(bg)
  WHERE len(t) >= 2
), cells AS (
  SELECT r, CAST(('0x' || substr(md5(r::VARCHAR || ':' || bigram),
                                 1, 13)) AS BIGINT) % {_CMS_WIDTH}
              AS cell,
         COUNT(*) AS cnt
  FROM bigrams CROSS JOIN UNNEST(range(0, {_CMS_DEPTH})) AS u(r)
  GROUP BY 1, 2
), exact AS (
  SELECT bigram, COUNT(*) AS exact_count
  FROM bigrams GROUP BY bigram
  ORDER BY exact_count DESC, bigram LIMIT 20
), est AS (
  SELECT e.bigram,
         MIN(COALESCE(c.cnt, 0)) AS cms_est
  FROM exact e
  CROSS JOIN UNNEST(range(0, {_CMS_DEPTH})) AS u(r)
  LEFT JOIN cells c
    ON c.r = u.r
   AND c.cell = CAST(('0x' || substr(md5(u.r::VARCHAR || ':'
                                         || e.bigram),
                                     1, 13)) AS BIGINT) % {_CMS_WIDTH}
  GROUP BY e.bigram
)
SELECT e.bigram, e.exact_count, est.cms_est,
       est.cms_est - e.exact_count AS overestimate
FROM exact e JOIN est ON est.bigram = e.bigram
ORDER BY e.exact_count DESC, e.bigram
"""


# ---------------------------------------------------------------------
# fixed-size weighted sampling without replacement (A-ES keys)
# ---------------------------------------------------------------------

_WRS_K = 25


def q_weighted_reservoir_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-size weighted sample WITHOUT replacement via
    Efraimidis–Spirakis exponential keys: key = -ln(u)/w with u a
    deterministic md5 uniform — the k smallest keys ARE a weighted
    k-sample.  Complements ``doc_weighted_sample`` (Bernoulli, size
    in expectation only): training-mix builders that must hit an
    EXACT document budget need this form.  Scale: one narrow pass +
    TakeOrdered(k) — per-partition top-k then a driver merge of k
    rows per partition; no sort, no shuffle of the corpus.
    Determinism: u is a pure function of doc_id, so the sample is
    reshard/engine-independent and the DuckDB oracle reproduces it
    value-for-value."""
    d = load(spark, sf, "documents")
    u = (
        F.expr(
            "CAST(conv(substring(md5(concat('wrs:', "
            "CAST(doc_id AS STRING))), 1, 13), 16, 10) AS BIGINT)"
        ).cast("double")
        + 1.0
    ) / float(1 << 52)
    key = -F.log(u) / F.col("n_chars").cast("double")
    return (
        d.select(
            "doc_id",
            "source",
            F.col("n_chars").alias("weight"),
            F.round(key, 9).alias("es_key"),
        )
        .orderBy("es_key", "doc_id")
        .limit(_WRS_K)
    )


SQL_WEIGHTED_RESERVOIR_SAMPLE = f"""
SELECT doc_id, source, n_chars AS weight,
       ROUND(-ln((CAST(('0x' || substr(md5('wrs:' || doc_id::VARCHAR),
                                       1, 13)) AS BIGINT)::DOUBLE + 1.0)
                 / {float(1 << 52)})
             / n_chars::DOUBLE, 9) AS es_key
FROM documents
ORDER BY es_key, doc_id
LIMIT {_WRS_K}
"""


QUERIES = (
    ("sole_late_supplier", q_sole_late_supplier, SQL_SOLE_LATE_SUPPLIER),
    ("pair_containment", q_pair_containment, _sql_pair_containment()),
    ("zipf_fit_report", q_zipf_fit_report, SQL_ZIPF_FIT_REPORT),
    ("tokenizer_fertility", q_tokenizer_fertility, _sql_tokenizer_fertility()),
    ("ann_hubness_report_sampled", q_ann_hubness_report,
     SQL_ANN_HUBNESS_REPORT),
    ("weekly_stickiness", q_weekly_stickiness, SQL_WEEKLY_STICKINESS),
    ("bloom_semijoin_prune", q_bloom_semijoin_prune, SQL_BLOOM_SEMIJOIN_PRUNE),
    ("cms_bigram_accuracy", q_cms_bigram_accuracy, SQL_CMS_BIGRAM_ACCURACY),
    ("weighted_reservoir_sample", q_weighted_reservoir_sample,
     SQL_WEIGHTED_RESERVOIR_SAMPLE),
    ("dow_seasonality", q_dow_seasonality, SQL_DOW_SEASONALITY),
    ("ordered_funnel_3step", q_ordered_funnel_3step, SQL_ORDERED_FUNNEL_3STEP),
    ("brand_label_propagation", q_brand_label_propagation,
     _sql_label_propagation()),
    ("reach_kmv_accuracy", q_reach_kmv_accuracy, SQL_REACH_KMV_ACCURACY),
    ("audience_overlap_kmv", q_audience_overlap_kmv, SQL_AUDIENCE_OVERLAP_KMV),
    ("top_supplier_revenue", q_top_supplier_revenue, SQL_TOP_SUPPLIER_REVENUE),
    ("nation_revenue_share", q_nation_revenue_share, SQL_NATION_REVENUE_SHARE),
    ("doc_cleaning_report", q_doc_cleaning_report, SQL_DOC_CLEANING_REPORT),
    ("holt_revenue_forecast", q_holt_revenue_forecast,
     SQL_HOLT_REVENUE_FORECAST),
    ("pit_feature_join", q_pit_feature_join, SQL_PIT_FEATURE_JOIN),
    ("ab_test_zscore", q_ab_test_zscore, SQL_AB_TEST_ZSCORE),
    ("daily_revenue_autocorr", q_daily_revenue_autocorr,
     SQL_DAILY_REVENUE_AUTOCORR),
    ("referential_integrity_sweep", q_referential_integrity_sweep,
     _sql_ri_sweep()),
)
SPARK_QUERIES, ORACLE_SQL = registry(QUERIES)
