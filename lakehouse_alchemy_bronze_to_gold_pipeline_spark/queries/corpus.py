"""Corpus-preparation queries: the batch steps between "raw filtered
documents" and "tokens in a trainer" that large-scale LLM pipelines
run after dedup/quality (which live in ``llm_ops``).

Every query here is pure ``pyspark.sql.functions`` (zero UDFs) with a
DuckDB oracle:

- ``doc_pack_chunks``        sequence packing (concat-and-chunk) into
                             fixed context windows
- ``domain_mix_sample``      temperature-based source mixing with a
                             deterministic md5-threshold sample
- ``doc_repetition_filter``  Gopher/MassiveText-style repetition
                             signals (duplicate trigram fraction,
                             top-word fraction)
- ``filter_attrition_report`` survivor accounting for a quality-filter
                             cascade (the report every corpus build
                             ships with)
- ``embedding_dim_stats``    per-dimension moments of the embedding
                             column (whitening / normalization stats)

Scale notes are on each query; none of them shuffles more than once,
and the only window is partitioned by a bounded-size shard key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as TX
from .data import load, registry

#: context window (tokens) for sequence packing
PACK_CTX = 512
#: shard width: packing windows never span more than SHARD docs, so
#: the window partition (source, doc_id DIV SHARD) is bounded and the
#: sort parallelizes — the 100 TB formulation (chunks simply reset at
#: shard edges, which packing semantics allow)
PACK_SHARD = 1_000

#: temperature exponent for domain mixing (0.5 = sqrt smoothing) and
#: the token budget as a fraction of the corpus
MIX_ALPHA = 0.5
MIX_BUDGET_FRAC = 0.25

#: repetition-filter thresholds (Gopher-style)
REP_MAX_DUP_TRIGRAM_FRAC = 0.02
REP_MAX_TOP_WORD_FRAC = 0.15


def _tokens_df(spark: SparkSession, sf: str) -> DataFrame:
    """documents with a materialized whitespace-token array.

    The ``repartition`` exchange materializes ``w`` so downstream
    higher-order-function lambdas reference a physical column instead
    of re-evaluating the ``split`` per element, and it parallelizes
    the single-file test scans."""
    d = load(spark, sf, "documents")
    return d.select(
        "doc_id", "source", "lang", TX.tokens("text").alias("w")
    ).repartition(spark.sparkContext.defaultParallelism, "doc_id")


# ------------------------------------------------------ sequence packing


def q_doc_pack_chunks(spark: SparkSession, sf: str) -> DataFrame:
    """Concat-and-chunk sequence packing: within each (source, shard)
    stream ordered by doc_id, documents are conceptually concatenated
    and cut every PACK_CTX tokens; a document belongs to the chunk its
    first token lands in.  Output is the per-chunk manifest (doc count,
    token fill, doc-id span) a trainer's data loader consumes.

    Scale: one window partitioned by (source, shard) — shard width
    bounds partition size, so state and sort stay bounded no matter
    the corpus size; then one partial-aggregated groupBy on the same
    keys."""
    d = _tokens_df(spark, sf).select(
        "source",
        "doc_id",
        (F.col("doc_id") / PACK_SHARD).cast("bigint").alias("shard"),
        F.size("w").cast("bigint").alias("n_toks"),
    )
    win = (
        Window.partitionBy("source", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = d.withColumn("cum", F.sum("n_toks").over(win)).withColumn(
        "chunk_id",
        ((F.col("cum") - F.col("n_toks")) / PACK_CTX).cast("bigint"),
    )
    return packed.groupBy("source", "shard", "chunk_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("chunk_tokens"),
        F.min("doc_id").cast("bigint").alias("first_doc"),
        F.max("doc_id").cast("bigint").alias("last_doc"),
    )


SQL_DOC_PACK_CHUNKS = f"""
WITH t AS (
  SELECT source, doc_id,
         doc_id // {PACK_SHARD} AS shard,
         CAST(len({TX.tokens_sql()}) AS BIGINT)
           AS n_toks
  FROM documents
), c AS (
  SELECT source, shard, doc_id, n_toks,
         SUM(n_toks) OVER (PARTITION BY source, shard ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
)
SELECT source,
       CAST(shard AS BIGINT) AS shard,
       CAST((cum - n_toks) // {PACK_CTX} AS BIGINT) AS chunk_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_toks) AS BIGINT) AS chunk_tokens,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc,
       CAST(MAX(doc_id) AS BIGINT) AS last_doc
FROM c
GROUP BY 1, 2, 3
"""


# ------------------------------------------------------ domain mixing


def q_domain_mix_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-based data mixing: per-source weight ∝ tokens^α
    (α = 0.5 flattens the source distribution the way multilingual /
    multi-domain training mixes do), allocate a global token budget
    (25% of the corpus) across sources by weight, then draw the
    per-source sample deterministically with the md5-prefix threshold
    trick — reproducible across engines and runs, no RNG state.

    Scale: the tokenized projection ``d`` is consumed twice (the
    per-source stats aggregate, then the sampled-counts rejoin), so it
    is persisted — one corpus scan + tokenize instead of two; the
    cached relation is 4 narrow columns, a tiny fraction of the text
    it derives from.  The rate table (one row per source) joins by
    broadcast; the keep-predicate is a pure per-row expression.  In
    production the stats pass runs on the corpus manifest, not the
    text itself."""
    d = load(spark, sf, "documents").select(
        "source",
        "doc_id",
        TX.token_count("text").alias("n_toks"),
        F.substring(
            F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 8
        ).alias("hx"),
    ).persist()
    src = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("src_tokens"),
    )
    tot = src.agg(
        F.sum("src_tokens").cast("double").alias("total_tokens"),
        F.sum(F.pow(F.col("src_tokens").cast("double"), MIX_ALPHA)).alias(
            "sum_w"
        ),
    )
    rates = (
        src.crossJoin(F.broadcast(tot))
        .withColumn(
            "rate",
            F.least(
                F.lit(1.0),
                F.pow(F.col("src_tokens").cast("double"), MIX_ALPHA)
                / F.col("sum_w")
                * MIX_BUDGET_FRAC
                * F.col("total_tokens")
                / F.col("src_tokens"),
            ),
        )
        .withColumn(
            "thr",
            F.lower(
                F.lpad(
                    F.hex(
                        F.floor(F.col("rate") * F.lit(4294967296.0)).cast(
                            "bigint"
                        )
                    ),
                    8,
                    "0",
                )
            ),
        )
        .select("source", "n_docs", "src_tokens", "rate", "thr")
    )
    keep = (F.col("rate") >= 1.0) | (F.col("hx") < F.col("thr"))
    return (
        d.join(F.broadcast(rates), "source")
        .groupBy(
            "source",
            "n_docs",
            "src_tokens",
            F.round("rate", 6).alias("sample_rate"),
        )
        .agg(
            F.sum(F.when(keep, 1).otherwise(0)).cast("bigint").alias(
                "n_docs_sampled"
            ),
            F.coalesce(
                F.sum(F.when(keep, F.col("n_toks"))), F.lit(0)
            )
            .cast("bigint")
            .alias("tokens_sampled"),
        )
    )


SQL_DOMAIN_MIX_SAMPLE = f"""
WITH d AS (
  SELECT source, doc_id,
         CAST(len({TX.tokens_sql()}) AS BIGINT)
           AS n_toks,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS hx
  FROM documents
), s AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_toks) AS BIGINT) AS src_tokens
  FROM d GROUP BY 1
), tot AS (
  SELECT CAST(SUM(src_tokens) AS DOUBLE) AS total_tokens,
         SUM(pow(CAST(src_tokens AS DOUBLE), {MIX_ALPHA})) AS sum_w
  FROM s
), r AS (
  SELECT s.*,
         LEAST(1.0,
               pow(CAST(src_tokens AS DOUBLE), {MIX_ALPHA}) / sum_w
               * {MIX_BUDGET_FRAC} * total_tokens / src_tokens) AS rate
  FROM s, tot
), rt AS (
  SELECT *,
         lower(lpad(hex(CAST(floor(rate * 4294967296.0) AS BIGINT)),
                    8, '0')) AS thr
  FROM r
)
SELECT rt.source, rt.n_docs, rt.src_tokens,
       ROUND(rt.rate, 6) AS sample_rate,
       CAST(SUM(CASE WHEN rt.rate >= 1.0 OR d.hx < rt.thr
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_sampled,
       CAST(COALESCE(SUM(CASE WHEN rt.rate >= 1.0 OR d.hx < rt.thr
                              THEN d.n_toks END), 0) AS BIGINT)
         AS tokens_sampled
FROM rt JOIN d USING (source)
GROUP BY 1, 2, 3, 4
"""


# ------------------------------------------------------ repetition filter


def q_doc_repetition_filter(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style repetition signals per document: the fraction of
    word trigrams that are duplicates and the frequency share of the
    single most common word; docs exceeding either threshold are
    flagged for removal.

    Scale: a single narrow pass — the token array is materialized once
    through the repartition exchange and every signal is a per-row
    expression (no explode, no join, no window).  The top-word count
    is O(n log n) per document: sort the token array once, then one
    linear ``aggregate`` fold tracks the longest run of equal adjacent
    tokens (= the max frequency of any word).  The previous
    formulation (count every distinct word against the full array) was
    O(n_tokens × n_distinct) per row — quadratic for long documents,
    which is exactly the regime a repetition filter must handle."""
    t = _tokens_df(spark, sf)
    w = F.col("w")
    tri = F.when(
        F.size(w) >= 3,
        F.transform(
            F.sequence(F.lit(0), F.size(w) - 3),
            lambda i: F.concat_ws(
                " ", F.element_at(w, i + 1), F.element_at(w, i + 2),
                F.element_at(w, i + 3)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))

    def _run_fold(acc, x):
        # null-rejecting == (not eqNullSafe): a null token must never
        # extend a run, matching the DuckDB oracle's `y = x` and the
        # previous array_distinct/filter formulation.
        run = F.when(acc["prev"] == x, acc["run"] + 1).otherwise(
            F.lit(1).cast("bigint")
        )
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    # null on the empty array to match array_max-over-empty semantics
    top_cnt = F.when(
        F.size(w) > 0,
        F.aggregate(
            F.array_sort(w),
            F.struct(
                F.lit(None).cast("string").alias("prev"),
                F.lit(0).cast("bigint").alias("run"),
                F.lit(0).cast("bigint").alias("best"),
            ),
            _run_fold,
            lambda acc: acc["best"],
        ),
    )
    s = t.select(
        "doc_id",
        F.size(w).cast("bigint").alias("n_tokens"),
        F.size(tri).cast("bigint").alias("n_trigrams"),
        (F.size(tri) - F.size(F.array_distinct(tri)))
        .cast("bigint")
        .alias("n_dup_trigrams"),
        top_cnt.cast("bigint").alias("top_word_cnt"),
    )
    dup_frac = F.when(
        F.col("n_trigrams") > 0,
        F.col("n_dup_trigrams") / F.col("n_trigrams"),
    ).otherwise(F.lit(0.0))
    top_frac = F.col("top_word_cnt") / F.col("n_tokens")
    return s.select(
        "doc_id",
        "n_tokens",
        "n_trigrams",
        "n_dup_trigrams",
        F.round(dup_frac, 4).alias("dup_trigram_frac"),
        "top_word_cnt",
        F.round(top_frac, 4).alias("top_word_frac"),
        (
            (dup_frac <= REP_MAX_DUP_TRIGRAM_FRAC)
            & (top_frac <= REP_MAX_TOP_WORD_FRAC)
        )
        .cast("int")
        .alias("keep"),
    )


SQL_DOC_REPETITION_FILTER = f"""
WITH t AS (
  SELECT doc_id, {TX.tokens_sql()} AS w
  FROM documents
), s AS (
  SELECT doc_id,
         CAST(len(w) AS BIGINT) AS n_tokens,
         CASE WHEN len(w) >= 3
              THEN list_transform(range(len(w) - 2),
                     i -> w[i + 1] || ' ' || w[i + 2] || ' ' || w[i + 3])
              ELSE [] END AS tri,
         list_max(list_transform(list_distinct(w),
                    x -> len(list_filter(w, y -> y = x)))) AS top_cnt
  FROM t
), m AS (
  SELECT doc_id, n_tokens,
         CAST(len(tri) AS BIGINT) AS n_trigrams,
         CAST(len(tri) - len(list_distinct(tri)) AS BIGINT)
           AS n_dup_trigrams,
         CAST(top_cnt AS BIGINT) AS top_word_cnt
  FROM s
)
SELECT doc_id, n_tokens, n_trigrams, n_dup_trigrams,
       ROUND(CASE WHEN n_trigrams > 0
                  THEN CAST(n_dup_trigrams AS DOUBLE) / n_trigrams
                  ELSE 0.0 END, 4) AS dup_trigram_frac,
       top_word_cnt,
       ROUND(CAST(top_word_cnt AS DOUBLE) / n_tokens, 4)
         AS top_word_frac,
       CAST(CASE WHEN (CASE WHEN n_trigrams > 0
                            THEN CAST(n_dup_trigrams AS DOUBLE) / n_trigrams
                            ELSE 0.0 END) <= {REP_MAX_DUP_TRIGRAM_FRAC}
                  AND CAST(top_word_cnt AS DOUBLE) / n_tokens
                      <= {REP_MAX_TOP_WORD_FRAC}
             THEN 1 ELSE 0 END AS INT) AS keep
FROM m
"""


# ------------------------------------------------------ attrition report


def q_filter_attrition_report(spark: SparkSession, sf: str) -> DataFrame:
    """Survivor accounting for a quality-filter cascade: how many
    documents remain after each gate, applied in order.  One
    conditional-sum aggregate computes every cumulative survivor
    count in a single scan; ``stack`` unpivots the row into the
    per-stage report.

    Scale: one partial-aggregated pass over documents, constant-size
    result — the shape attrition dashboards need at any corpus
    size."""
    t = _tokens_df(spark, sf)
    w = F.col("w")
    s = t.select(
        (F.size(w) >= 25).cast("int").alias("f1"),
        (
            (
                TX.token_length_sum(w)
                / F.size(w)
            )
            <= 5.0
        )
        .cast("int")
        .alias("f2"),
        ((F.size(F.array_distinct(w)) / F.size(w)) >= 0.45)
        .cast("int")
        .alias("f3"),
        (TX.stopword_count(w) >= 1).cast("int").alias("f4"),
    )
    agg = s.agg(
        F.count(F.lit(1)).cast("bigint").alias("c0"),
        F.sum("f1").cast("bigint").alias("c1"),
        F.sum(F.col("f1") * F.col("f2")).cast("bigint").alias("c2"),
        F.sum(F.col("f1") * F.col("f2") * F.col("f3"))
        .cast("bigint")
        .alias("c3"),
        F.sum(F.col("f1") * F.col("f2") * F.col("f3") * F.col("f4"))
        .cast("bigint")
        .alias("c4"),
    )
    report = agg.selectExpr(
        """stack(5,
           0L, 'ingest',         c0, c0,
           1L, 'min_length',     c0, c1,
           2L, 'avg_word_len',   c1, c2,
           3L, 'distinct_ratio', c2, c3,
           4L, 'stopword',       c3, c4
        ) as (stage_id, stage, n_in, n_out)"""
    )
    return report.withColumn(
        "pass_rate",
        F.round(F.col("n_out") / F.nullif(F.col("n_in"), F.lit(0)), 4),
    )


SQL_FILTER_ATTRITION_REPORT = f"""
WITH t AS (
  SELECT {TX.tokens_sql()} AS w FROM documents
), f AS (
  SELECT CASE WHEN len(w) >= 25 THEN 1 ELSE 0 END AS f1,
         CASE WHEN CAST(list_sum(list_transform(w, x -> length(x)))
                        AS DOUBLE) / len(w) <= 5.0
              THEN 1 ELSE 0 END AS f2,
         CASE WHEN CAST(len(list_distinct(w)) AS DOUBLE) / len(w) >= 0.45
              THEN 1 ELSE 0 END AS f3,
         CASE WHEN len(list_filter(w, x -> x IN {TX.STOPWORDS_SQL})) >= 1
              THEN 1 ELSE 0 END AS f4
  FROM t
), c AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS c0,
         CAST(SUM(f1) AS BIGINT) AS c1,
         CAST(SUM(f1 * f2) AS BIGINT) AS c2,
         CAST(SUM(f1 * f2 * f3) AS BIGINT) AS c3,
         CAST(SUM(f1 * f2 * f3 * f4) AS BIGINT) AS c4
  FROM f
)
SELECT stage_id, stage, n_in, n_out,
       ROUND(CAST(n_out AS DOUBLE) / NULLIF(n_in, 0), 4) AS pass_rate
FROM (
  SELECT CAST(0 AS BIGINT) stage_id, 'ingest' stage, c0 n_in, c0 n_out FROM c
  UNION ALL
  SELECT 1, 'min_length',     c0, c1 FROM c
  UNION ALL
  SELECT 2, 'avg_word_len',   c1, c2 FROM c
  UNION ALL
  SELECT 3, 'distinct_ratio', c2, c3 FROM c
  UNION ALL
  SELECT 4, 'stopword',       c3, c4 FROM c
)
"""


# ------------------------------------------------------ embedding stats


def q_embedding_dim_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-dimension moments of the embedding column — the whitening /
    normalization statistics an embedding pipeline computes before
    quantization or PCA.

    Scale: posexplode is a narrow 1→d expansion and the groupBy key is
    the dimension index (fixed small cardinality), so partial
    aggregation collapses everything map-side; the shuffle carries
    d × partitions rows regardless of corpus size."""
    e = load(spark, sf, "embeddings").repartition(
        spark.sparkContext.defaultParallelism, "vec_id"
    )
    x = F.col("x").cast("double")
    return (
        e.select(F.posexplode("embedding").alias("dim", "x"))
        .groupBy(F.col("dim").cast("bigint").alias("dim"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.avg(x), 6).alias("mean_x"),
            F.round(F.var_pop(x), 6).alias("var_x"),
            F.round(F.min(x), 6).alias("min_x"),
            F.round(F.max(x), 6).alias("max_x"),
        )
    )


SQL_EMBEDDING_DIM_STATS = """
WITH e AS (
  SELECT CAST(unnest(range(len(embedding))) AS BIGINT) AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
)
SELECT dim,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(AVG(x), 6) AS mean_x,
       ROUND(VAR_POP(x), 6) AS var_x,
       ROUND(MIN(x), 6) AS min_x,
       ROUND(MAX(x), 6) AS max_x
FROM e
GROUP BY 1
"""


def q_corpus_train_val_split(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic stratified train/val/test split — the last gate
    before a training corpus ships: 90/5/5 by md5-prefix threshold,
    stratified per source so every domain appears in every split, and
    reproducible across engines/runs/reshards (the split is a pure
    function of doc_id, never of ordering or partitioning).  Reports
    doc and token counts per (source, split) for the split manifest.

    Scale: one narrow pass (hash + threshold CASE + token count) and
    one aggregation; the split predicate composes with any downstream
    filter pushdown."""
    d = load(spark, sf, "documents")
    hx = F.substring(
        F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 8
    )
    # 90% / 5% / 5% of the 32-bit hex space
    split = (
        F.when(hx < F.lit("e6666666"), "train")
        .when(hx < F.lit("f3333333"), "val")
        .otherwise("test")
    )
    return (
        d.select(
            "source",
            split.alias("split"),
            TX.token_count("text").alias("n_toks"),
        )
        .groupBy("source", "split")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("n_tokens"),
        )
    )


SQL_CORPUS_TRAIN_VAL_SPLIT = f"""
WITH t AS (
  SELECT source,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                   < 'e6666666' THEN 'train'
              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                   < 'f3333333' THEN 'val'
              ELSE 'test' END AS split,
         CAST(len({TX.tokens_sql()}) AS BIGINT)
           AS n_toks
  FROM documents
)
SELECT source, split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_toks) AS BIGINT) AS n_tokens
FROM t
GROUP BY source, split
"""


#: weighted-sample size (A-ES exact-k without replacement)
AES_K = 100


def q_doc_weighted_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-k weighted sampling WITHOUT replacement over the corpus
    (Efraimidis–Spirakis A-ES): every doc draws key = ln(u) / w with
    u ~ U(0,1) and weight w = n_chars, and the k largest keys are the
    sample — each doc's inclusion probability is proportional to its
    weight, the classic "sample long documents preferentially"
    curation step.

    Determinism: u derives from md5(doc_id) (first 8 hex digits as an
    exact 32-bit integer, the ``doc_classifier_score`` construction)
    — no RNG state, identical across engines, runs and reshards.

    Scale: one narrow pass computes keys, then ``orderBy().limit(k)``
    compiles to TakeOrderedAndProject — per-partition top-k + driver
    merge of k rows, never a global sort (plan-gated for the top-k
    family in tests/test_plans.py)."""
    d = load(spark, sf, "documents")
    u = (
        F.conv(
            F.substring(
                F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        + 0.5
    ) / F.lit(4294967296.0)
    key = F.log(u) / F.col("n_chars")
    return (
        d.select(
            "doc_id",
            "source",
            F.col("n_chars").cast("bigint").alias("weight"),
            F.round(key, 9).alias("aes_key"),
        )
        .orderBy(F.col("aes_key").desc(), "doc_id")
        .limit(AES_K)
    )


SQL_DOC_WEIGHTED_SAMPLE = f"""
WITH keyed AS (
  SELECT doc_id, source,
         CAST(n_chars AS BIGINT) AS weight,
         ln((list_sum(list_transform(range(1, 9),
              p -> (strpos('0123456789abcdef',
                           substr(md5(CAST(doc_id AS VARCHAR)),
                                  CAST(p AS INT), 1)) - 1)
                   * pow(16.0, 8 - CAST(p AS INT)))) + 0.5)
            / 4294967296.0) / n_chars AS k
  FROM documents
)
SELECT doc_id, source, weight, ROUND(k, 9) AS aes_key
FROM keyed
ORDER BY k DESC, doc_id
LIMIT {AES_K}
"""


#: preference-pair hygiene threshold: a (chosen, rejected) pair whose
#: texts exceed this 2-gram shingle-set Jaccard carries no preference
#: signal (the responses are near-identical) and is dropped — the
#: RLAIF/RLHF analogue of corpus near-dup filtering
PREF_NEAR_DUP_JACCARD = 0.5


def q_preference_pair_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """RLAIF-style preference-pair construction + hygiene readout.

    Preference datasets pair a CHOSEN and a REJECTED response per
    prompt pool; before training, three hygiene filters run (each a
    standard step in published RLHF data pipelines):

    1. ``n_exact_dup``       — chosen and rejected have the same
       normalized-content fingerprint (zero signal);
    2. ``n_near_identical``  — 2-gram shingle-set Jaccard >=
       ``PREF_NEAR_DUP_JACCARD`` (the minhash verify stage's exact
       measure, reused here pairwise — no LSH needed because the
       pairs are GIVEN, not discovered);
    3. ``n_dup_pairs``       — the unordered content-fingerprint pair
       already appeared in an earlier pair (cross-pair dedup; first
       occurrence kept).

    Pairs are built deterministically from the documents table: within
    each (lang, source) pool, rank by (n_chars DESC, doc_id) and pair
    consecutive ranks — rank 2k-1 is the chosen (longer) member, rank
    2k the rejected; an odd tail is unpaired and excluded.  The
    release is the per-pool ledger (counts partition ``n_pairs``
    by filter precedence exact > near > dup > kept) plus the exact
    integerized Jaccard mass ``sum_jacc_ppm`` (ppm, BIGINT — an exact
    SUM instead of an order-sensitive double AVG).

    Scale: one window partitioned by the bounded pool key, one
    groupBy on (pool, pair_id) that rebuilds each pair from exactly
    two rows (``first(when(...), ignorenulls)`` — no self-join, the
    shingle arrays move through ONE shuffle), one fingerprint-keyed
    window for cross-pair dedup (bounded per-key state), one final
    pool aggregate.  No cartesian, no collect, no global sort."""
    d = load(spark, sf, "documents")
    sh = TX.word_shingles(TX.nonempty_tokens("text"), 2)
    base = d.select(
        "lang",
        "source",
        "doc_id",
        "n_chars",
        sh.alias("shingles"),
        TX.fingerprint("text").alias("fp"),
    )
    rk = F.row_number().over(
        Window.partitionBy("lang", "source").orderBy(
            F.desc("n_chars"), "doc_id"
        )
    )
    ranked = base.withColumn("rk", rk).withColumn(
        "pair_id", F.expr("(rk + 1) DIV 2")
    )
    is_c = F.col("rk") % 2 == 1
    pairs = (
        ranked.groupBy("lang", "source", "pair_id")
        .agg(
            F.first(F.when(is_c, F.col("shingles")), ignorenulls=True)
            .alias("sh_c"),
            F.first(F.when(~is_c, F.col("shingles")), ignorenulls=True)
            .alias("sh_r"),
            F.first(F.when(is_c, F.col("fp")), ignorenulls=True)
            .alias("fp_c"),
            F.first(F.when(~is_c, F.col("fp")), ignorenulls=True)
            .alias("fp_r"),
        )
        .filter(F.col("fp_r").isNotNull())  # drop the odd unpaired tail
        .select(
            "lang",
            "source",
            "pair_id",
            "fp_c",
            "fp_r",
            F.round(TX.jaccard(F.col("sh_c"), F.col("sh_r")), 6)
            .alias("jacc"),
            F.concat(
                F.least("fp_c", "fp_r"),
                F.lit(":"),
                F.greatest("fp_c", "fp_r"),
            ).alias("pair_fp"),
        )
    )
    rn = F.row_number().over(
        Window.partitionBy("pair_fp").orderBy("lang", "source", "pair_id")
    )
    flagged = pairs.withColumn("rn", rn)
    exact = F.col("fp_c") == F.col("fp_r")
    near = (~exact) & (F.col("jacc") >= F.lit(PREF_NEAR_DUP_JACCARD))
    dup = (~exact) & (F.col("jacc") < F.lit(PREF_NEAR_DUP_JACCARD)) & (
        F.col("rn") > 1
    )
    kept = (~exact) & (F.col("jacc") < F.lit(PREF_NEAR_DUP_JACCARD)) & (
        F.col("rn") == 1
    )

    def n(cond, alias):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint").alias(
            alias
        )

    return flagged.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        n(exact, "n_exact_dup"),
        n(near, "n_near_identical"),
        n(dup, "n_dup_pairs"),
        n(kept, "n_kept"),
        F.sum(F.round(F.col("jacc") * 1000000).cast("bigint"))
        .cast("bigint")
        .alias("sum_jacc_ppm"),
    )


SQL_PREFERENCE_PAIR_DEDUP = f"""
WITH toks AS (
  SELECT doc_id, lang, source, n_chars,
         {TX.nonempty_tokens_sql()} AS t,
         {TX.fingerprint_sql()} AS fp
  FROM documents
), sh AS (
  SELECT doc_id, lang, source, n_chars, fp,
         list_distinct(list_transform(range(1, len(t)),
                                      i -> t[i] || ' ' || t[i+1]))
           AS shingles
  FROM toks
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY lang, source
                               ORDER BY n_chars DESC, doc_id) AS rk
  FROM sh
), c AS (
  SELECT lang, source, (rk+1)//2 AS pair_id,
         shingles AS sh_c, fp AS fp_c
  FROM ranked WHERE rk % 2 = 1
), r AS (
  SELECT lang, source, rk//2 AS pair_id,
         shingles AS sh_r, fp AS fp_r
  FROM ranked WHERE rk % 2 = 0
), p AS (
  SELECT lang, source, pair_id, fp_c, fp_r,
    ROUND(CASE WHEN len(list_distinct(list_cat(sh_c, sh_r))) > 0
               THEN len(list_intersect(sh_c, sh_r))::DOUBLE
                    / len(list_distinct(list_cat(sh_c, sh_r)))
               ELSE 0.0 END, 6) AS jacc,
    LEAST(fp_c, fp_r) || ':' || GREATEST(fp_c, fp_r) AS pair_fp
  FROM c JOIN r USING (lang, source, pair_id)
), flagged AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY pair_fp
                               ORDER BY lang, source, pair_id) AS rn
  FROM p
)
SELECT lang, source,
  CAST(COUNT(*) AS BIGINT) AS n_pairs,
  CAST(SUM(CASE WHEN fp_c = fp_r THEN 1 ELSE 0 END) AS BIGINT)
    AS n_exact_dup,
  CAST(SUM(CASE WHEN fp_c <> fp_r
                 AND jacc >= {PREF_NEAR_DUP_JACCARD} THEN 1 ELSE 0 END)
       AS BIGINT) AS n_near_identical,
  CAST(SUM(CASE WHEN fp_c <> fp_r AND jacc < {PREF_NEAR_DUP_JACCARD}
                 AND rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_pairs,
  CAST(SUM(CASE WHEN fp_c <> fp_r AND jacc < {PREF_NEAR_DUP_JACCARD}
                 AND rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
  CAST(SUM(CAST(ROUND(jacc * 1000000) AS BIGINT)) AS BIGINT)
    AS sum_jacc_ppm
FROM flagged
GROUP BY lang, source
"""


QUERIES = (
    ("corpus_train_val_split", q_corpus_train_val_split,
     SQL_CORPUS_TRAIN_VAL_SPLIT),
    ("doc_weighted_sample", q_doc_weighted_sample, SQL_DOC_WEIGHTED_SAMPLE),
    ("doc_pack_chunks", q_doc_pack_chunks, SQL_DOC_PACK_CHUNKS),
    ("domain_mix_sample", q_domain_mix_sample, SQL_DOMAIN_MIX_SAMPLE),
    ("doc_repetition_filter", q_doc_repetition_filter,
     SQL_DOC_REPETITION_FILTER),
    ("filter_attrition_report", q_filter_attrition_report,
     SQL_FILTER_ATTRITION_REPORT),
    ("embedding_dim_stats", q_embedding_dim_stats, SQL_EMBEDDING_DIM_STATS),
    ("preference_pair_dedup", q_preference_pair_dedup,
     SQL_PREFERENCE_PAIR_DEDUP),
)
SPARK_QUERIES, ORACLE_SQL = registry(QUERIES)
