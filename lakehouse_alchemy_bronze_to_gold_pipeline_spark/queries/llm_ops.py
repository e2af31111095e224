"""LLM-data-pipeline queries on ``documents`` / ``embeddings``.

Deduplication, similarity search, text analysis, and multimodal
plumbing (BASELINE.json north star).  SQL-expressible ops carry a
DuckDB oracle — including the FULL MinHash+LSH pipeline via the
md5-seeded Carter-Wegman hash family (``minhash_neardup_md5``),
which DuckDB reproduces value-for-value.  The xxhash64/simhash/ANN/mapInPandas
variants stay oracle-free (engine-specific hashing or pandas UDFs):
the driver records rows-only checks for those and tests/ verify them
against exact ground truth instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as TX
from ..functions.vectors import cosine_sql, vector_sql
from ..operators.minhash import minhash_near_duplicates
from ..operators.multimodal import attach_binary_payload, extract_features
from ..operators.simhash import simhash
from ..operators.similarity import (
    band_hyperplanes,
    band_signatures_sql,
    knn_join,
    topk_bruteforce,
)
from ..sources.tables import local_table
from .data import load, registry, spread_scan

#: fixed query text for n-gram similarity scoring
QUERY_TEXT = "spark query join filter group data"


# ------------------------------------------------------ text analysis


def q_text_token_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Token counting + quality-score ingredients, zero UDFs."""
    d = load(spark, sf, "documents")
    toks = TX.tokens("text")
    return (
        d.select(
            "doc_id",
            toks.alias("toks"),
            F.length("text").cast("bigint").alias("n_chars"),
        )
        .select(
            "doc_id",
            "n_chars",
            F.size("toks").cast("bigint").alias("n_tokens"),
            TX.token_length_sum(F.col("toks")).alias("sum_token_len"),
            TX.stopword_count(F.col("toks")).alias("n_stopwords"),
        )
        .withColumn(
            "avg_token_len",
            F.round(F.col("sum_token_len") / F.col("n_tokens"), 4),
        )
        .withColumn(
            "stopword_ratio",
            F.round(F.col("n_stopwords") / F.col("n_tokens"), 4),
        )
    )


SQL_TEXT_TOKEN_STATS = f"""
WITH t AS (
  SELECT doc_id,
         CAST(length(text) AS BIGINT) AS n_chars,
         {TX.tokens_sql()} AS toks
  FROM documents
)
SELECT doc_id, n_chars,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT)
         AS sum_token_len,
       CAST(len(list_filter(toks, x -> x IN {TX.STOPWORDS_SQL})) AS BIGINT)
         AS n_stopwords,
       ROUND(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
             / len(toks), 4) AS avg_token_len,
       ROUND(CAST(len(list_filter(toks, x -> x IN {TX.STOPWORDS_SQL}))
                  AS DOUBLE) / len(toks), 4) AS stopword_ratio
FROM t
"""


def q_lang_id_confusion(spark: SparkSession, sf: str) -> DataFrame:
    """Marker-word language ID vs the labeled ``lang`` column,
    aggregated to a confusion matrix."""
    d = load(spark, sf, "documents")
    return (
        d.select("lang", TX.lang_id("text").alias("predicted_lang"))
        .groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


SQL_LANG_ID_CONFUSION = f"""
WITH pred AS (
  SELECT lang, {TX.lang_id_sql()} AS predicted_lang
  FROM documents
)
SELECT lang, predicted_lang, COUNT(*) AS n_docs
FROM pred GROUP BY 1, 2
"""


def q_doc_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """Normalized-content md5 fingerprint per document."""
    d = load(spark, sf, "documents")
    return d.select("doc_id", TX.fingerprint("text").alias("fingerprint"))


SQL_DOC_FINGERPRINT = f"""
SELECT doc_id, {TX.fingerprint_sql()} AS fingerprint
FROM documents
"""


def q_dedup_documents_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-hash dedup groups: fingerprint -> survivor + copy count.
    Hash-groupBy shuffles only (fingerprint, id) pairs — at 100 TB the
    full text never moves."""
    d = load(spark, sf, "documents")
    return (
        d.select("doc_id", F.md5(F.col("text").cast("binary")).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


SQL_DEDUP_DOCUMENTS_EXACT = """
SELECT md5(text) AS fingerprint,
       MIN(doc_id) AS keep_doc_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY 1
"""


def q_ngram_jaccard_query(spark: SparkSession, sf: str) -> DataFrame:
    """Exact token-set Jaccard of each document vs a fixed query."""
    d = load(spark, sf, "documents")
    toks = F.array_distinct(TX.tokens("text", lowercase=True))
    q = F.array(*[F.lit(t) for t in QUERY_TEXT.split()])
    sim = TX.jaccard(toks, q)
    return (
        d.select("doc_id", F.round(sim, 6).alias("jaccard"))
        .filter(F.col("jaccard") > 0)
    )


SQL_NGRAM_JACCARD_QUERY = f"""
WITH t AS (
  SELECT doc_id,
         list_distinct({TX.tokens_sql(lowercase=True)}) AS toks,
         string_split('{QUERY_TEXT}', ' ') AS q
  FROM documents
)
SELECT doc_id,
       ROUND(CAST(len(list_intersect(toks, q)) AS DOUBLE)
             / len(list_distinct(list_cat(toks, q))), 6) AS jaccard
FROM t
WHERE len(list_intersect(toks, q)) > 0
"""


def q_token_count_bpe(spark: SparkSession, sf: str) -> DataFrame:
    """BPE-ish token accounting per document: whitespace count vs
    pretokenizer count and the chars-per-token ratio (the cost model
    of an LLM data pipeline)."""
    d = load(spark, sf, "documents")
    bpe = TX.bpe_ish_tokens("text")
    return d.select(
        "doc_id",
        TX.token_count("text").alias("n_ws_tokens"),
        F.size(bpe).cast("bigint").alias("n_bpe_tokens"),
        F.round(
            F.length("text").cast("double")
            / F.greatest(F.size(bpe).cast("double"), F.lit(1.0)),
            4,
        ).alias("chars_per_token"),
    )


SQL_TOKEN_COUNT_BPE = f"""
SELECT doc_id,
       CAST(len({TX.tokens_sql()}) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text,
         '{TX.BPE_ISH_PATTERN_SQL}')) AS BIGINT) AS n_bpe_tokens,
       ROUND(CAST(length(text) AS DOUBLE)
             / GREATEST(CAST(len(regexp_extract_all(text,
                 '{TX.BPE_ISH_PATTERN_SQL}')) AS DOUBLE), 1.0), 4)
         AS chars_per_token
FROM documents
"""


def _quality_score(toks: Column) -> Column:
    """Composite quality score of a document from its nonempty
    lowercase tokens ``toks``: length, stopword presence and
    alphabetic ratio, rounded to 4 dp."""
    n_tokens = F.size(toks).cast("double")
    stop_ratio = TX.stopword_count(toks).cast("double") / F.greatest(
        n_tokens, F.lit(1.0)
    )
    alpha_ratio = F.length(
        F.regexp_replace("text", "[^a-zA-Z]", "")
    ).cast("double") / F.greatest(F.length("text").cast("double"), F.lit(1.0))
    return F.round(
        0.4 * F.least(n_tokens / 100.0, F.lit(1.0))
        + 0.3 * F.least(stop_ratio * 5.0, F.lit(1.0))
        + 0.3 * alpha_ratio,
        4,
    )


def _quality_sql(keep: str) -> str:
    """DuckDB form of :func:`_quality_score`: CTE ``t`` holds the
    ``keep`` columns and the score's inputs per document, CTE ``s``
    adds ``quality_score``."""
    return f"""t AS (
  SELECT {keep},
         CAST(len({TX.nonempty_tokens_sql()}) AS DOUBLE) AS n_tokens,
         CAST(len(list_filter({TX.nonempty_tokens_sql()},
                              x -> x IN {TX.STOPWORDS_SQL})) AS DOUBLE)
           AS n_stop,
         CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
           AS n_alpha,
         CAST(length(text) AS DOUBLE) AS n_chars
  FROM documents
), s AS (
  SELECT *,
         ROUND(0.4 * LEAST(n_tokens / 100.0, 1.0)
               + 0.3 * LEAST(n_stop / GREATEST(n_tokens, 1.0) * 5.0, 1.0)
               + 0.3 * n_alpha / GREATEST(n_chars, 1.0), 4) AS quality_score
  FROM t
)"""


def q_doc_quality_score(spark: SparkSession, sf: str) -> DataFrame:
    """Composite quality score (length, stopword presence, alphabetic
    ratio) + bucket — the filter stage of a training-data pipeline,
    zero UDFs, one narrow pass."""
    d = load(spark, sf, "documents")
    score = _quality_score(TX.nonempty_tokens("text"))
    return d.select(
        "doc_id",
        score.alias("quality_score"),
        F.when(score >= 0.7, "high")
        .when(score >= 0.4, "medium")
        .otherwise("low")
        .alias("quality_bucket"),
    )


SQL_DOC_QUALITY_SCORE = f"""
WITH {_quality_sql("doc_id")}
SELECT doc_id, quality_score,
       CASE WHEN quality_score >= 0.7 THEN 'high'
            WHEN quality_score >= 0.4 THEN 'medium'
            ELSE 'low' END AS quality_bucket
FROM s
"""


# ------------------------------------------------- similarity search


#: the oracles' view of the corpus as DOUBLE[] vectors
_V_SQL = (
    "v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)"
)


def _ranked_sql(scored: str) -> str:
    """``scored``'s (query_id, neighbor_id, cos_raw) rows with their
    per-query rank ``rnk``: cosine at 12 dp descending, ties by
    neighbor_id."""
    return f"""
  SELECT query_id, neighbor_id, cos_raw,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY ROUND(cos_raw, 12) DESC, neighbor_id) AS rnk
  FROM {scored}
"""


def _top5_sql(ranked: str) -> str:
    """The top-5 readout of a :func:`_ranked_sql` CTE."""
    return f"""
SELECT query_id, neighbor_id,
       ROUND(cos_raw, 6) AS cosine_sim,
       CAST(rnk AS BIGINT) AS "rank"
FROM {ranked}
WHERE rnk <= 5
"""


def _exact_probe_sql(n_queries: int) -> str:
    """DuckDB form of ``knn_join`` for the queries ``vec_id <
    n_queries``: CTEs q, exact_scored (cosine to every vector) and
    exact_ranked, over ``v``."""
    return f"""q AS (SELECT vec_id AS query_id, v AS qv FROM v
      WHERE vec_id < {n_queries}),
exact_scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         {cosine_sql("e.v", "q.qv")} AS cos_raw
  FROM v e CROSS JOIN q
),
exact_ranked AS ({_ranked_sql("exact_scored")})"""


def q_embedding_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Exact one-vs-corpus cosine top-20 (brute-force baseline)."""
    emb = load(spark, sf, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    return topk_bruteforce(emb, qrow[0], k=20)


SQL_EMBEDDING_TOPK = f"""
WITH q AS (
  SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
), scored AS (
  SELECT vec_id,
         {cosine_sql("embedding::DOUBLE[]", "qv")} AS cos_raw
  FROM embeddings, q
)
SELECT vec_id, ROUND(cos_raw, 6) AS cosine_sim
FROM scored
ORDER BY ROUND(cos_raw, 12) DESC, vec_id
LIMIT 20
"""


def q_embedding_neardup(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (exact baseline of the fuzzy
    dedup family; see operators.similarity.cosine_pairs)."""
    from ..operators.similarity import cosine_pairs

    emb = load(spark, sf, "embeddings")
    return cosine_pairs(emb, "vec_id", "embedding", threshold=0.5)


SQL_EMBEDDING_NEARDUP = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_cosine_similarity(a.embedding::DOUBLE[],
                                    b.embedding::DOUBLE[]), 4)
         AS cosine_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE ROUND(list_cosine_similarity(a.embedding::DOUBLE[],
                                   b.embedding::DOUBLE[]), 4) >= 0.5
"""


def q_knn_join(spark: SparkSession, sf: str) -> DataFrame:
    """Exact 5-nn for each of 5 query vectors (broadcast knn join)."""
    emb = load(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return knn_join(queries, emb, k=5)


SQL_KNN_JOIN = (
    f"WITH {_V_SQL},\n{_exact_probe_sql(5)}{_top5_sql('exact_ranked')}"
)


# ------------------------------- oracle-free (rows-only) scale paths


def q_minhash_neardup(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, exact-Jaccard verified.
    Probabilistic candidate generation -> no SQL oracle; recall is
    property-tested against exact all-pairs ground truth."""
    d = load(spark, sf, "documents")
    return minhash_near_duplicates(
        d, "doc_id", "text", threshold=0.4, shingle_n=2
    )


def q_minhash_neardup_md5(spark: SparkSession, sf: str) -> DataFrame:
    """Oracle-checked MinHash+LSH near-dup pairs: the md5-seeded
    Carter-Wegman family is engine-agnostic (one digest per shingle,
    64 affine integer hashes), so DuckDB reproduces the ENTIRE
    pipeline (shingle -> 64 minhashes -> 16 band buckets -> candidate
    pairs -> exact-Jaccard verify) value-for-value."""
    from ..operators.minhash import minhash_near_duplicates_md5

    d = load(spark, sf, "documents")
    return minhash_near_duplicates_md5(
        d, "doc_id", "text", threshold=0.4, shingle_n=2
    )


def _minhash_md5_ctes_sql(n_hashes: int = 64, n_bands: int = 16) -> str:
    """DuckDB form of the md5 Carter-Wegman MinHash stages: CTEs toks,
    sh (distinct word-bigram shingles), hsh (one md5 digest per
    shingle), sigt (``n_hashes`` minhashes per document) and band (one
    bucket key per band), keyed by ``doc_id`` and its parity ``par``
    (the batch split of ``incremental_neardup_fixed``)."""
    band_rows = n_hashes // n_bands
    return f"""toks AS (
  SELECT doc_id, {TX.nonempty_tokens_sql()} AS t
  FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(t)),
                                      i -> t[i] || ' ' || t[i+1])) AS shingles
  FROM toks
), hsh AS (
  SELECT doc_id, shingles,
         list_transform(shingles,
           s -> CAST(('0x' || substr(md5(s), 1, 13)) AS BIGINT)
                % 2147483647) AS hx
  FROM sh WHERE len(shingles) > 0
), sigt AS (
  SELECT doc_id, doc_id % 2 AS par, shingles,
         list_transform(range(0, {n_hashes}),
           i -> list_min(list_transform(hx,
                  x -> (((1103515245 * (i + 1) + 12345) % 2147483647) * x
                        + (69069 * (i + 1) + 1) % 2147483647)
                       % 2147483647))) AS sig
  FROM hsh
), band AS (
  SELECT doc_id, par,
         b::VARCHAR || ':' ||
           array_to_string(list_slice(sig, b*{band_rows}+1,
                                      b*{band_rows}+{band_rows}), ',')
           AS bucket
  FROM sigt CROSS JOIN UNNEST(range(0, {n_bands})) AS u(b)
)"""


def _minhash_md5_oracle_sql(
    n_hashes: int = 64, n_bands: int = 16, max_bucket: int = 200,
    tail: str = "SELECT id_a, id_b, jaccard FROM scored"
    " WHERE jaccard >= 0.4",
) -> str:
    return f"""
WITH {_minhash_md5_ctes_sql(n_hashes, n_bands)}, ok_buckets AS (
  SELECT bucket FROM band GROUP BY 1
  HAVING COUNT(*) >= 2 AND COUNT(*) <= {max_bucket}
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM band a
  JOIN band b USING (bucket)
  JOIN ok_buckets USING (bucket)
  WHERE a.doc_id < b.doc_id
), scored AS (
  SELECT id_a, id_b,
         ROUND(len(list_filter(range(1, {n_hashes} + 1),
                               i -> sa.sig[i] = sb.sig[i]))::DOUBLE
               / {n_hashes}, 6) AS est_jaccard,
         ROUND(len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
               / len(list_distinct(list_cat(sa.shingles, sb.shingles))), 6)
           AS jaccard
  FROM cand
  JOIN sigt sa ON sa.doc_id = id_a
  JOIN sigt sb ON sb.doc_id = id_b
)
{tail}
"""


SQL_MINHASH_NEARDUP_MD5 = _minhash_md5_oracle_sql()

SQL_MINHASH_ACCURACY = _minhash_md5_oracle_sql(
    tail="SELECT id_a, id_b, est_jaccard, jaccard,"
    " ROUND(ABS(est_jaccard - jaccard), 6) AS abs_err FROM scored"
).replace(
    "FROM documents",
    "FROM documents WHERE md5(CAST(doc_id AS VARCHAR)) < '80'",
    1,
)


def q_minhash_accuracy(spark: SparkSession, sf: str) -> DataFrame:
    """Sketch calibration for the md5 MinHash family: every LSH
    candidate pair with its signature-agreement ESTIMATE of Jaccard,
    the exact shingle-set Jaccard, and the absolute error — run
    before a large dedup job to validate (n_hashes, bands) against
    the theoretical Var = J(1-J)/n_hashes.  Calibration is a SAMPLE
    property, so the pipeline runs on a deterministic ~50% md5
    hash-sample of the corpus (the full-corpus pass is the dedup job
    itself, ``minhash_neardup_md5`` — benching the estimator over the
    whole corpus would just re-measure that query).  Value-checked
    end to end (estimator included): the hash family and the sample
    predicate are engine-agnostic."""
    from ..operators.minhash import minhash_accuracy_md5

    # spread the single-row-group scan before the heavy per-row
    # work (see queries/data.py:spread_scan; A/B-measured win), but
    # filter FIRST — spreading before the ~50% md5
    # sample predicate exchanged the full relation and then discarded
    # half of it; the filter is row-local, so the order is
    # value-identical and the exchange moves half the bytes.
    d = spread_scan(
        load(spark, sf, "documents").filter(
            F.md5(F.col("doc_id").cast("string").cast("binary")) < "80"
        )
    )
    return minhash_accuracy_md5(d, "doc_id", "text", shingle_n=2)


#: incremental near-dup gate constants, shared verbatim by the Spark
#: query and its SQL oracle (md5 CW family: 64 hashes, 16 bands of 4)
_INC_THRESHOLD = 0.4
_INC_MAX_BUCKET = 200


def q_incremental_neardup_fixed(spark: SparkSession, sf: str) -> DataFrame:
    """The STREAMING near-dup gate certified at rest (the
    ``ivf_stream_topk_fixed`` decomposition pattern): the
    corpus arrives as two doc_id-parity batches, each pushed through
    the PURE micro-batch gate
    ``streaming.incremental_dedup.gate_batch_sigs`` — the exact
    function ``IncrementalNearDupFilter.dedup_batch`` commits per
    micro-batch — under the md5 Carter-Wegman hash family.  Batch 1
    gates against nothing; batch 2 gates against batch 1's SURVIVORS
    through the same (survivor-shingles, survivor-buckets) state
    relations the streaming filter persists as tables.  Output: every
    surviving doc with the batch it arrived in and its shingle count.

    The DuckDB twin replays BOTH passes value-for-value (within-batch
    smaller-id-wins pairs, then the width-capped cross-corpus bucket
    probe + exact-Jaccard verify), so hash equality certifies exactly
    the first-writer-wins dedup decisions the streaming wrapper
    commits; the writeStream/checkpoint/replay-guard machinery around
    the same core is pinned by tests/test_incremental_dedup.py,
    including a two-run-streaming == this-query equality test.

    Scale: identical to the batch md5 near-dup path — one signature
    pass per batch (Arrow CW kernel), ONE groupBy shuffle per
    within-batch pair stage, and a bucket-key equi-join against the
    survivor index (pruned to colliding buckets, width-capped at
    {max_bucket}) instead of anything corpus-quadratic."""
    from ..operators.minhash import md5_band_buckets, md5_minhash_signatures
    from ..streaming.incremental_dedup import gate_batch_sigs

    d = load(spark, sf, "documents")

    def bucketer(sigs):
        return md5_band_buckets(sigs, "doc_id", n_bands=16, band_rows=4)

    def gate(sigs, state_sigs, state_buckets):
        return gate_batch_sigs(
            sigs,
            state_sigs,
            state_buckets,
            id_col="doc_id",
            threshold=_INC_THRESHOLD,
            max_bucket=_INC_MAX_BUCKET,
            bucketer=bucketer,
            keys=["bucket"],
        )

    # ONE signature pass over the corpus, split after: signatures are
    # row-local, so computing them before or after the batch split is
    # value-identical — this halves the Arrow-kernel + repartition
    # cost vs signing each batch separately (measured 6.7 -> ~4 s at
    # sf0.1).  Batch-1 survivors are localCheckpointed exactly like
    # the streaming wrapper's state fold: batch 2's plan then probes
    # a materialized state relation instead of replaying the whole
    # batch-1 subtree through both state inputs.
    sigs = md5_minhash_signatures(d, "doc_id", "text", 64, 2).persist()
    sig1 = sigs.filter(F.col("doc_id") % 2 == 0)
    sig2 = sigs.filter(F.col("doc_id") % 2 != 0)
    f1 = gate(sig1, None, None).localCheckpoint(eager=True)
    f2 = gate(sig2, f1.select("doc_id", "shingles"), bucketer(f1))
    out = f1.select(
        "doc_id", F.lit(1).cast("bigint").alias("src_batch"),
        F.size("shingles").cast("bigint").alias("n_shingles"),
    ).unionByName(
        f2.select(
            "doc_id", F.lit(2).cast("bigint").alias("src_batch"),
            F.size("shingles").cast("bigint").alias("n_shingles"),
        )
    )
    return out.orderBy("doc_id")


def _inc_jaccard_sql(a: str, b: str) -> str:
    """Exact shingle-set Jaccard >= threshold, DuckDB form (unrounded
    ratio of small ints — IEEE-exact division both engines)."""
    return (
        f"len(list_intersect({a}.shingles, {b}.shingles))::DOUBLE"
        f" / len(list_distinct(list_cat({a}.shingles, {b}.shingles)))"
        f" >= {_INC_THRESHOLD}"
    )


def _inc_within_sql(par: int, tag: str) -> str:
    """Within-batch gate CTEs for parity ``par``: width-capped bucket
    pairs among that batch only, exact-Jaccard verified, larger id
    drops.  Emits okb{tag}, cand{tag}, dup{tag}."""
    return f"""okb{tag} AS (
  SELECT bucket FROM band WHERE par = {par}
  GROUP BY 1 HAVING COUNT(*) BETWEEN 2 AND {_INC_MAX_BUCKET}
),
cand{tag} AS (
  SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
  FROM band a JOIN band c USING (bucket) JOIN okb{tag} USING (bucket)
  WHERE a.par = {par} AND c.par = {par} AND a.doc_id < c.doc_id
),
dup{tag} AS (
  SELECT DISTINCT id_b AS doc_id FROM cand{tag}
  JOIN sigt sa ON sa.doc_id = id_a
  JOIN sigt sb ON sb.doc_id = id_b
  WHERE {_inc_jaccard_sql('sa', 'sb')}
)"""


def _inc_neardup_oracle_sql(n_hashes: int = 64, n_bands: int = 16) -> str:
    """DuckDB twin of ``q_incremental_neardup_fixed``: the shared md5
    Carter-Wegman signature/band CTEs (``_minhash_md5_ctes_sql``),
    then both incremental passes replayed exactly — batch-1
    within-batch gate; batch-2 within-batch gate; batch-2 survivors
    probing batch-1 SURVIVORS' buckets (width-capped over the stored
    side, mirroring the Window cap in ``gate_batch_sigs``) with exact
    Jaccard against stored shingles; first-writer-wins."""
    return f"""
WITH {_minhash_md5_ctes_sql(n_hashes, n_bands)},
{_inc_within_sql(0, '1')},
f1 AS (
  SELECT s.* FROM sigt s WHERE par = 0
  AND NOT EXISTS (SELECT 1 FROM dup1 d WHERE d.doc_id = s.doc_id)
),
{_inc_within_sql(1, '2')},
fresh2 AS (
  SELECT s.* FROM sigt s WHERE par = 1
  AND NOT EXISTS (SELECT 1 FROM dup2 d WHERE d.doc_id = s.doc_id)
),
stateb AS (
  SELECT b.doc_id, b.bucket FROM band b JOIN f1 USING (doc_id)
),
newb AS (
  SELECT b.doc_id, b.bucket FROM band b JOIN fresh2 USING (doc_id)
),
touched AS (
  SELECT s.doc_id AS old_id, s.bucket FROM stateb s
  WHERE s.bucket IN (SELECT DISTINCT bucket FROM newb)
  QUALIFY COUNT(*) OVER (PARTITION BY s.bucket) <= {_INC_MAX_BUCKET}
),
candx AS (
  SELECT DISTINCT n.doc_id, t.old_id
  FROM newb n JOIN touched t USING (bucket)
),
dupx AS (
  SELECT DISTINCT c.doc_id FROM candx c
  JOIN sigt sn ON sn.doc_id = c.doc_id
  JOIN sigt so ON so.doc_id = c.old_id
  WHERE {_inc_jaccard_sql('sn', 'so')}
),
f2 AS (
  SELECT s.* FROM fresh2 s
  WHERE NOT EXISTS (SELECT 1 FROM dupx d WHERE d.doc_id = s.doc_id)
)
SELECT doc_id, CAST(1 AS BIGINT) AS src_batch,
       CAST(len(shingles) AS BIGINT) AS n_shingles FROM f1
UNION ALL
SELECT doc_id, CAST(2 AS BIGINT) AS src_batch,
       CAST(len(shingles) AS BIGINT) AS n_shingles FROM f2
ORDER BY doc_id
"""


SQL_INCREMENTAL_NEARDUP_FIXED = _inc_neardup_oracle_sql()


def _neardup_clusters(d: DataFrame) -> DataFrame:
    """``(id, component)`` of the md5 MinHash near-dup pairs of ``d``:
    alternating large-star/small-star connected components
    (``operators.components``, O(log n) shuffle rounds), component =
    min doc_id of the duplicate group."""
    from ..operators.components import connected_components
    from ..operators.minhash import minhash_near_duplicates_md5

    pairs = minhash_near_duplicates_md5(
        d, "doc_id", "text", threshold=0.4, shingle_n=2
    )
    return connected_components(pairs, "id_a", "id_b")


#: DuckDB form of :func:`_neardup_clusters`: the md5 MinHash pairs
#: (value-for-value), components labelled by a recursive
#: min-reachability CTE ``clusters(doc_id, cluster_id)``
_NEARDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE pairs AS (
  SELECT id_a, id_b FROM ({_minhash_md5_oracle_sql()}) base
), edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
), walk(id, comp) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.v, w.comp FROM walk w JOIN edges e ON e.u = w.id
), clusters AS (
  SELECT id AS doc_id, MIN(comp) AS cluster_id FROM walk GROUP BY id
)"""


def q_dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Duplicate GROUPS from near-dup PAIRS (:func:`_neardup_clusters`)
    as (doc_id, cluster_id) — the keep-one-canonical-document step of
    corpus dedup."""
    return _neardup_clusters(load(spark, sf, "documents")).select(
        F.col("id").alias("doc_id"),
        F.col("component").alias("cluster_id"),
    )


SQL_DEDUP_CLUSTERS = (
    _NEARDUP_CLUSTERS_SQL + "\nSELECT doc_id, cluster_id FROM clusters\n"
)


def q_simhash_fingerprints(spark: SparkSession, sf: str) -> DataFrame:
    """64-bit SimHash per document (bitwise HOF expression)."""
    d = load(spark, sf, "documents")
    return simhash(d, "doc_id", "text")


def q_simhash_bits_md5(spark: SparkSession, sf: str) -> DataFrame:
    """Oracle-checked SimHash: md5-hex bit tests + sign fold emit a
    64-char bit string DuckDB reproduces exactly."""
    from ..operators.simhash import simhash_bits_md5

    d = load(spark, sf, "documents")
    return simhash_bits_md5(d, "doc_id", "text")


def _simhash_bits_sql(where: str = "") -> str:
    """DuckDB form of ``operators.simhash.simhash_bits_md5`` over
    ``documents`` (filtered by ``where``): CTEs toks, th and bits, the
    64-char md5 sign-fold fingerprint of every nonempty document."""
    return f"""toks AS (
  SELECT doc_id, {TX.nonempty_tokens_sql()} AS t
  FROM documents{where}
), th AS (
  SELECT doc_id, list_transform(t, tok -> md5(tok)) AS hs
  FROM toks WHERE len(t) > 0
), bits AS (
  SELECT doc_id,
         array_to_string(
           list_transform(range(0, 64), i ->
             CASE WHEN list_sum(list_transform(hs, h ->
                    CASE WHEN contains(
                           (['89abcdef', '4567cdef', '2367abef',
                             '13579bdf'])[i % 4 + 1],
                           substr(h, CAST(i // 4 AS INT) + 1, 1))
                         THEN 1 ELSE -1 END)) > 0
                  THEN '1' ELSE '0' END),
           '') AS bits
  FROM th
)"""


SQL_SIMHASH_BITS_MD5 = f"""
WITH {_simhash_bits_sql()}
SELECT doc_id, bits FROM bits
"""


#: banded LSH top-k parameters (shared by query + oracle)
_LSH_TOPK = {"n_bands": 12, "n_bits": 5, "dim": 64, "seed": 42}


def q_embedding_lsh_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Approximate knn via BANDED random-hyperplane LSH + exact
    rerank (``similarity.lsh_topk_banded``) — candidates share any
    of 12 five-bit band signatures, lifting recall@5 from ~0.26
    (full-signature bucket, the old cell) to ~0.8 while buckets stay
    selective (32 buckets/band).  Seeded and deterministic, so the banded probe is
    value-checked end to end."""
    from ..operators.similarity import lsh_topk_banded

    emb = load(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return lsh_topk_banded(emb, queries, k=5, **_LSH_TOPK)


def _lsh_probe_sql(n_queries: int) -> str:
    """DuckDB form of ``lsh_topk_banded`` at ``_LSH_TOPK`` for the
    queries ``vec_id < n_queries``: CTEs sigs (per-band sign-bit
    signatures), cand (OR-of-bands candidates, DISTINCT on the pair),
    lsh_scored (exact cosine rerank) and lsh_ranked, over ``v``."""
    p = _LSH_TOPK
    planes = band_hyperplanes(p["dim"], p["n_bands"], p["n_bits"], p["seed"])
    return f"""sigs AS ({band_signatures_sql(planes)}),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM sigs q
  JOIN sigs c ON q.band = c.band AND q.sig = c.sig
  WHERE q.vec_id < {n_queries}
),
lsh_scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         {cosine_sql("q.v", "c.v")} AS cos_raw
  FROM cand
  JOIN v q ON q.vec_id = cand.query_id
  JOIN v c ON c.vec_id = cand.neighbor_id
),
lsh_ranked AS ({_ranked_sql("lsh_scored")})"""


def sql_embedding_lsh_topk() -> str:
    """DuckDB twin of the BANDED probe (:func:`_lsh_probe_sql`);
    determinism makes the approximate operator value-checkable."""
    return f"WITH {_V_SQL},\n{_lsh_probe_sql(5)}{_top5_sql('lsh_ranked')}"


def q_embedding_ivf_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Approximate knn via IVF inverted lists (operators.ivf) — the
    second ANN scale path; recall property-tested vs knn_join."""
    from ..operators.ivf import ivf_topk

    emb = load(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    # n_probe=6/16: recall@5 0.63 -> 0.79 on the synthetic corpus
    # (quality knob documented in ann_recall_report; the fixed-head
    # oracle twin stays at 4 to keep its SQL pinned)
    return ivf_topk(emb, queries, k=5, n_lists=16, n_probe=6)


def _ivf_fixed_centroids():
    """(16, 64) seeded gaussian list heads — plan-time constants
    shared verbatim by the Spark query and its SQL oracle.  k-means
    training itself is verified by the planted-blob pytest suite;
    pinning the heads makes the assign/probe/rerank pipeline (where
    join/rank bugs would live) value-checkable in plain SQL."""
    import numpy as np

    rng = np.random.default_rng(7)
    return rng.standard_normal((16, 64))


def q_embedding_ivf_topk_fixed(spark: SparkSession, sf: str) -> DataFrame:
    """IVF probe/rerank over FIXED pretrained list heads — the
    oracle-backed twin of ``embedding_ivf_topk``."""
    from ..operators.ivf import ivf_topk

    emb = load(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return ivf_topk(
        emb, queries, k=5, n_probe=4, centroids=_ivf_fixed_centroids()
    )


def q_ivf_stream_topk_fixed(spark: SparkSession, sf: str) -> DataFrame:
    """Probe over an INCREMENTALLY-BUILT inverted-list relation: the
    corpus arrives as two hash-split batches, each assigned to the
    fixed list heads independently (``ivf_assign`` — the micro-batch
    unit of ``streaming.ivf_maintain.IncrementalIVFIndex``) and
    appended (union — what the index's append-only lists table
    holds), then queried through the unchanged ``ivf_probe``.  The
    oracle certifying this equals the one-shot build over the union
    IS the incremental-maintenance correctness claim; the writeStream
    /checkpoint/replay-guard machinery around the same two stages is
    pinned by tests/test_ivf_stream.py.

    The assign stage runs ONCE over the
    full corpus instead of once per batch.  ``ivf_assign`` is a
    row-local projection and the two xxhash parity batches partition
    the corpus exactly, so ``assign(b1) UNION assign(b2)`` and
    ``assign(b1 UNION b2)`` are the same multiset by the operator's
    own append-equivalence property (its docstring's definitional
    identity — which is precisely what this entry certifies); the
    probe's readout is order-insensitive (rank ties broken by
    neighbor_id).  This halves the encode work and the plan size
    (the old plan carried two copies of the assignment subtree);
    batch-split maintenance itself stays pinned by
    tests/test_ivf_stream.py, which runs real split batches through
    the streaming index.  Oracle re-verified green after the change
    at sf0.001/0.01/0.1."""
    from ..operators.ivf import ivf_assign, ivf_probe

    cents = _ivf_fixed_centroids()
    emb = load(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    lists = ivf_assign(emb, cents)
    return ivf_probe(lists, queries, cents, k=5, n_probe=4)


def _values_rows_sql(cents) -> str:
    """VALUES rows ``(i, [vector literal])``, one per fixed centroid."""
    return ",\n  ".join(f"({i}, {vector_sql(c)})" for i, c in enumerate(cents))


def _ivf_probe_sql(n_queries: int) -> str:
    """DuckDB form of ``ivf_topk`` over the fixed list heads
    (n_probe=4) for the queries ``vec_id < n_queries``: CTEs cents,
    dots, assigned (nearest list), probes (the 4 nearest lists; ties by
    larger list_id, matching the reversed array_sort in
    ``operators.ivf._nearest_lists``), ivf_scored (exact cosine rerank)
    and ivf_ranked, over ``v``."""
    return f"""cents(list_id, cv) AS (VALUES
  {_values_rows_sql(_ivf_fixed_centroids())}
),
dots AS (
  SELECT v.vec_id, v.v, c.list_id,
         list_dot_product(v.v, c.cv) AS dot
  FROM v CROSS JOIN cents c
),
assigned AS (
  SELECT vec_id, v, list_id FROM dots
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                             ORDER BY dot DESC, list_id DESC) = 1
),
probes AS (
  SELECT vec_id AS query_id, v AS qv, list_id FROM dots
  WHERE vec_id < {n_queries}
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                             ORDER BY dot DESC, list_id DESC) <= 4
),
ivf_scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         {cosine_sql("p.qv", "a.v")} AS cos_raw
  FROM probes p JOIN assigned a ON p.list_id = a.list_id
),
ivf_ranked AS ({_ranked_sql("ivf_scored")})"""


def sql_embedding_ivf_topk_fixed() -> str:
    """DuckDB twin of ``q_embedding_ivf_topk_fixed``
    (:func:`_ivf_probe_sql`)."""
    return f"WITH {_V_SQL},\n{_ivf_probe_sql(5)}{_top5_sql('ivf_ranked')}"


def q_training_corpus_prep(spark: SparkSession, sf: str) -> DataFrame:
    """END-TO-END training-data prep — the composed pipeline the
    individual LLM-ops queries are stages of:

      1. language gate (marker-word lang-id == 'en');
      2. quality gate (composite score >= 0.4, same formula as
         ``doc_quality_score``);
      3. exact dedup: lowest doc_id survives per normalized-content
         md5 fingerprint;
      4. corpus accounting per quality bucket: docs, BPE-ish token
         totals, exact mean score.

    Shape at 100 TB: stages 1-2 are narrow filter passes fused into
    the scan, stage 3 is the ONE shuffle (fingerprint), stage 4 a
    partial+final aggregate.  Token budgeting happens on the bucket
    totals (choose buckets until the budget fills) — a global
    take-until-budget cumsum would serialize on one reducer."""
    from pyspark.sql import Window

    d = load(spark, sf, "documents")
    score = _quality_score(TX.nonempty_tokens("text"))
    gated = (
        d.filter(TX.lang_id("text") == "en")
        .select(
            "doc_id",
            "text",
            score.alias("quality_score"),
            TX.fingerprint("text").alias("fp"),
        )
        .filter(F.col("quality_score") >= 0.4)
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    deduped = (
        gated.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "fp")
    )
    bucket = F.when(F.col("quality_score") >= 0.7, "high").otherwise("medium")
    return deduped.groupBy(bucket.alias("quality_bucket")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(TX.bpe_ish_tokens("text")).cast("bigint"))
        .cast("bigint")
        .alias("total_bpe_tokens"),
        F.round(
            F.sum(F.col("quality_score").cast("decimal(18,4)")).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("mean_quality"),
    )


SQL_TRAINING_CORPUS_PREP = f"""
WITH {_quality_sql("doc_id, text")}, gated AS (
  SELECT doc_id, text, quality_score, {TX.fingerprint_sql()} AS fp
  FROM s WHERE {TX.lang_id_sql()} = 'en' AND quality_score >= 0.4
), deduped AS (
  SELECT doc_id, text, quality_score FROM gated
  QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1
)
SELECT CASE WHEN quality_score >= 0.7 THEN 'high' ELSE 'medium' END
         AS quality_bucket,
       COUNT(*) AS n_docs,
       CAST(SUM(len(regexp_extract_all(text, '{TX.BPE_ISH_PATTERN_SQL}')))
            AS BIGINT) AS total_bpe_tokens,
       ROUND(CAST(SUM(CAST(quality_score AS DECIMAL(18,4))) AS DOUBLE)
             / COUNT(*), 4) AS mean_quality
FROM deduped
GROUP BY 1
"""


def q_doc_chunking(spark: SparkSession, sf: str) -> DataFrame:
    """Context-window chunking — split each document into overlapping
    token windows (size 40, stride 30), the 1->N reshape every
    RAG/training pipeline runs before embedding.  Pure built-in
    expressions: tokenize once, generate window starts with
    ``sequence``, slice per start, posexplode — a narrow per-row
    expansion, NO shuffle and no UDF.  Short docs yield one chunk."""
    d = load(spark, sf, "documents")
    toks = TX.nonempty_tokens("text", lowercase=False)
    size, stride = 40, 30
    # integer floor-division for the last window start (a double `/`
    # would round 31/30*30 to 30.99999... and cast to 30 vs DuckDB's
    # exact integer `//`)
    last_start = F.greatest(
        F.floor((F.size("__toks") - 1) / F.lit(stride)).cast("int")
        * F.lit(stride),
        F.lit(0),
    )
    starts = F.sequence(F.lit(0), last_start, F.lit(stride))
    chunks = F.transform(
        starts, lambda s: F.slice(F.col("__toks"), s + 1, size)
    )
    return (
        d.select("doc_id", toks.alias("__toks"))
        .filter(F.size("__toks") > 0)
        .select("doc_id", F.posexplode(chunks).alias("chunk_idx", "chunk"))
        # drop stride tails fully covered by the previous window
        .filter((F.col("chunk_idx") == 0) | (F.size("chunk") > size - stride))
        .select(
            "doc_id",
            F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
            F.concat_ws(" ", "chunk").alias("chunk_text"),
            F.size("chunk").cast("bigint").alias("n_tokens"),
        )
    )


SQL_DOC_CHUNKING = f"""
WITH t AS (
  SELECT doc_id, {TX.nonempty_tokens_sql(lowercase=False)} AS toks
  FROM documents
), nonempty AS (
  SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0
), chunks AS (
  SELECT doc_id,
         CAST(s.i / 30 AS BIGINT) AS chunk_idx,
         toks[s.i + 1 : s.i + 40] AS chunk
  FROM nonempty,
       LATERAL (SELECT unnest(range(0, GREATEST((n - 1) // 30 * 30, 0) + 1,
                                    30)) AS i) s
)
SELECT doc_id, chunk_idx,
       array_to_string(chunk, ' ') AS chunk_text,
       CAST(len(chunk) AS BIGINT) AS n_tokens
FROM chunks
WHERE chunk_idx = 0 OR len(chunk) > 10
"""


def q_eval_contamination(spark: SparkSession, sf: str) -> DataFrame:
    """Train/eval contamination check — which training documents
    share word 5-grams with a held-out eval split (doc_id % 10 == 7),
    the decontamination step run before every benchmark-clean
    training set.  Grams are md5'd to a fixed-width join key (the
    shuffle carries 32-byte strings, not arbitrary text) and the eval
    gram set is BROADCAST: eval corpora are MB-scale by construction,
    while the train side streams through map-side."""
    d = load(spark, sf, "documents")
    grams = TX.word_shingles(TX.nonempty_tokens("text"), 5)
    g = d.select(
        "doc_id", F.explode(grams).alias("gram")
    ).select("doc_id", F.md5("gram").alias("gram"))
    ev = (
        g.filter(F.col("doc_id") % 10 == 7).select("gram").distinct()
    )
    return (
        g.filter(F.col("doc_id") % 10 != 7)
        .join(F.broadcast(ev), "gram")
        # shingles are distinct per doc, so count(*) = distinct grams
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
        .orderBy(F.col("n_shared").desc(), "doc_id")
    )


#: the distinct md5-hashed word 5-grams of each document: CTEs toks
#: and grams(doc_id, gram)
_GRAMS5_SQL = f"""toks AS (
  SELECT doc_id, {TX.nonempty_tokens_sql()} AS t
  FROM documents
), grams AS (
  SELECT doc_id,
         md5(unnest(list_distinct(list_transform(range(1, len(t) - 3),
               i -> array_to_string(list_slice(t, i, i + 4), ' ')))))
           AS gram
  FROM toks
)"""


SQL_EVAL_CONTAMINATION = f"""
WITH {_GRAMS5_SQL}, ev AS (
  SELECT DISTINCT gram FROM grams WHERE doc_id % 10 = 7
)
SELECT doc_id, COUNT(*) AS n_shared
FROM grams JOIN ev USING (gram)
WHERE doc_id % 10 != 7
GROUP BY 1
ORDER BY n_shared DESC, doc_id
"""


def q_embedding_quantize_int8(spark: SparkSession, sf: str) -> DataFrame:
    """Per-vector symmetric int8 quantization (scale = max|x|/127) +
    reconstruction-error accounting — the 4x bandwidth/memory cut
    applied to embedding stores before ANN serving.  The (v, scale)
    relation is materialized behind a repartition BEFORE the
    per-element quantize lambda: CollapseProject would otherwise
    inline the array_max subtree into the lambda and re-evaluate it
    per element (O(dim^2) per row).  The repartition doubles as the
    compute-spread for the scan's single file split."""
    from ..functions.vectors import as_double_array

    emb = load(spark, sf, "embeddings")
    base = emb.select(
        "vec_id", as_double_array("embedding").alias("v")
    ).withColumn(
        "scale",
        F.array_max(F.transform("v", lambda x: F.abs(x))) / F.lit(127.0),
    )
    base = base.repartition(spark.sparkContext.defaultParallelism)
    q = F.when(
        F.col("scale") > 0,
        F.transform("v", lambda x: F.round(x / F.col("scale")).cast("int")),
    ).otherwise(F.transform("v", lambda x: F.lit(0)))
    sq_err = F.zip_with(
        "v", "q", lambda x, qq: F.pow(x - qq * F.col("scale"), F.lit(2.0))
    )
    # q_sum / l2_err are computed in withColumn stages so "scale"
    # resolves against the INPUT column: in a single select, lateral
    # column alias resolution would bind F.col("scale") inside the
    # error lambda to the just-aliased ROUNDED scale
    return (
        base.withColumn("q", q)
        .withColumn(
            "q_sum",
            F.aggregate("q", F.lit(0).cast("bigint"), lambda a, x: a + x),
        )
        .withColumn(
            "l2_err",
            F.round(
                F.sqrt(
                    F.aggregate(sq_err, F.lit(0.0), lambda a, x: a + x)
                ),
                6,
            ),
        )
        .select(
            "vec_id",
            F.round("scale", 6).alias("scale"),
            "q_sum",
            "l2_err",
        )
    )


SQL_EMBEDDING_QUANTIZE_INT8 = """
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), s AS (
  SELECT vec_id, v,
         list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
  FROM v
), q AS (
  SELECT vec_id, v, scale,
         CASE WHEN scale > 0
              THEN list_transform(v, x -> CAST(round(x / scale) AS INTEGER))
              ELSE list_transform(v, x -> 0) END AS q
  FROM s
)
SELECT vec_id,
       ROUND(scale, 6) AS scale,
       CAST(list_sum(q) AS BIGINT) AS q_sum,
       ROUND(sqrt(list_sum(list_transform(range(1, len(v) + 1),
               i -> pow(v[i] - q[i] * scale, 2)))), 6) AS l2_err
FROM q
"""


def q_dedup_keep_canonical(spark: SparkSession, sf: str) -> DataFrame:
    """The fuzzy-dedup OUTPUT: drop every non-canonical duplicate
    (cluster members whose doc_id != cluster min) and account for
    what survived — the last step of pairs → clusters → pruned
    corpus.  The drop-list is a LEFT ANTI join against the (tiny)
    cluster relation (:func:`_neardup_clusters`); the corpus never
    shuffles."""
    d = load(spark, sf, "documents")
    clusters = _neardup_clusters(d)
    drop = clusters.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias("doc_id")
    )
    kept = d.join(F.broadcast(drop), "doc_id", "left_anti")
    return kept.agg(
        F.count("*").alias("n_kept"),
        F.sum("n_chars").alias("kept_chars"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


SQL_DEDUP_KEEP_CANONICAL = _NEARDUP_CLUSTERS_SQL + """, kept AS (
  SELECT d.* FROM documents d
  WHERE d.doc_id NOT IN
    (SELECT doc_id FROM clusters WHERE doc_id != cluster_id)
)
SELECT COUNT(*) AS n_kept,
       CAST(SUM(n_chars) AS BIGINT) AS kept_chars,
       MIN(doc_id) AS min_doc_id,
       MAX(doc_id) AS max_doc_id
FROM kept
"""


def q_terms_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    """Approximate top terms via merged Misra-Gries summaries
    (``operators.sketch``): per-partition bounded-counter sketches,
    ONE groupBy over |partitions| x capacity summary rows — the
    100 TB path when the distinct-term dimension itself is too large
    to shuffle (exact twin: ``vocab_top_terms``).  Counter values are
    partition-layout-dependent -> no oracle; the no-miss/lower-bound
    guarantees are property-tested in tests/test_sketch.py."""
    from ..operators.sketch import heavy_hitters

    d = load(spark, sf, "documents")
    terms = d.select(
        F.explode(TX.nonempty_tokens("text")).alias("term")
    )
    return heavy_hitters(terms, "term", k=20, capacity=512)


# --------------------------------------------- corpus-level text IR

def _doc_terms(spark: SparkSession, sf: str):
    """(doc_id, term, tf) + (doc_id, dl) token-length relation —
    shared frame for TF-IDF / BM25 / LM scoring.  One explode + one
    groupBy shuffle, then PERSISTED: every consumer (document
    frequency, term frequency, corpus totals, the score join) is an
    aggregation or join over THIS cached relation — without the
    persist, Spark's lazy evaluation re-scans and re-tokenizes the
    corpus once per consumer, tripling the heaviest pass (verified in
    tests/test_plans.py: exactly one parquet scan of documents)."""
    # spread the single-row-group scan before the heavy per-row
    # work (see queries/data.py:spread_scan; A/B-measured win)
    d = spread_scan(load(spark, sf, "documents"))
    toks = d.select(
        "doc_id", TX.nonempty_tokens("text").alias("toks")
    ).filter(F.size("toks") > 0)
    tf = (
        toks.select("doc_id", F.explode("toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .persist()
    )
    # doc length == sum of term frequencies: derived from the cached
    # relation instead of a second tokenize pass over the text
    lens = tf.groupBy("doc_id").agg(
        F.sum("tf").cast("bigint").alias("dl")
    )
    return tf, lens


#: DuckDB form of :func:`_doc_terms`'s ``tf``: CTEs toks, nonempty
#: (documents with a token) and tf(doc_id, term, tf)
_DOC_TERMS_SQL = f"""toks AS (
  SELECT doc_id, {TX.nonempty_tokens_sql()} AS t
  FROM documents
), nonempty AS (
  SELECT doc_id, t FROM toks WHERE len(t) > 0
), tf AS (
  SELECT doc_id, u.term, COUNT(*) AS tf
  FROM nonempty, UNNEST(t) AS u(term)
  GROUP BY 1, 2
)"""


def q_tfidf_top_terms(spark: SparkSession, sf: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (smooth idf =
    ln((N+1)/(df+1))) — the keyword-extraction / feature-weighting
    pass of a text corpus pipeline.  Shape: the (doc, term, tf)
    relation aggregates once more per term for document frequency,
    joins back (shuffle join — the term dimension is corpus-sized,
    NOT broadcastable at scale), and a per-doc window takes the top
    terms.  N is a scalar aggregate broadcast by construction."""
    tf, lens = _doc_terms(spark, sf)
    n_docs = lens.agg(F.count("*").alias("n_docs"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term")
    )
    return (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)),
                6,
            ),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            "tfidf",
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


SQL_TFIDF_TOP_TERMS = f"""
WITH {_DOC_TERMS_SQL}, dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
), n AS (
  SELECT COUNT(*) AS n_docs FROM nonempty
)
SELECT doc_id, term, tf, df,
       ROUND(tf * ln((n_docs + 1.0) / (df + 1.0)), 6) AS tfidf,
       CAST(row_number() OVER (
         PARTITION BY doc_id
         ORDER BY tf * ln((n_docs + 1.0) / (df + 1.0)) DESC, term
       ) AS BIGINT) AS rank
FROM tf JOIN dfreq USING (term) CROSS JOIN n
QUALIFY rank <= 3
"""


#: BM25 free parameters (Robertson/Sparck Jones defaults).
_BM25_K1, _BM25_B = 1.2, 0.75


def q_bm25_search(spark: SparkSession, sf: str) -> DataFrame:
    """Top-20 documents for a fixed term query under BM25 — corpus
    search over the same one-shuffle (doc, term, tf) relation.  The
    per-query-term df/idf relation is tiny (|query| rows) and
    explicitly broadcast; dl/avgdl come from the token-length
    relation (scalar aggregate).  No text re-scan, no UDF."""
    qterms = QUERY_TEXT.split()
    tf, lens = _doc_terms(spark, sf)
    stats = lens.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    qtf = tf.filter(F.col("term").isin(qterms))
    dfreq = qtf.groupBy("term").agg(F.count("*").alias("df"))
    k1, b = _BM25_K1, _BM25_B
    idf = F.log(
        1.0
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    norm = F.col("tf") * (k1 + 1) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    )
    return (
        qtf.join(F.broadcast(dfreq), "term")
        .join(lens, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(idf * norm), 4).alias("bm25"),
            F.count("*").alias("n_matched"),
        )
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(20)
    )


SQL_BM25_SEARCH = f"""
WITH {_DOC_TERMS_SQL}, lens AS (
  SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM nonempty
), qtf AS (
  SELECT * FROM tf
  WHERE term IN ({", ".join("'" + t + "'" for t in QUERY_TEXT.split())})
), dfreq AS (
  SELECT term, COUNT(*) AS df FROM qtf GROUP BY 1
), stats AS (
  SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM lens
)
SELECT q.doc_id,
       ROUND(SUM(
         ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
         * q.tf * ({_BM25_K1} + 1)
           / (q.tf + {_BM25_K1}
              * (1 - {_BM25_B} + {_BM25_B} * l.dl / s.avgdl))
       ), 4) AS bm25,
       COUNT(*) AS n_matched
FROM qtf q
JOIN dfreq USING (term)
JOIN lens l ON l.doc_id = q.doc_id
CROSS JOIN stats s
GROUP BY q.doc_id
ORDER BY bm25 DESC, q.doc_id
LIMIT 20
"""


#: classifier vocabulary size (top terms by document frequency)
_CLF_VOCAB = 20


def q_doc_classifier_score(spark: SparkSession, sf: str) -> DataFrame:
    """Linear text-classifier INFERENCE over the corpus — the
    quality-filter stage of CCNet/DCLM-style pipelines, where a small
    trained model scores every document.  The shape that must scale:
    model weights live in a tiny relation BROADCAST to every
    executor, scoring is one narrow postings join + per-doc
    aggregate + sigmoid — no UDF, no per-row Python.

    Weights here are derived deterministically from md5(term)
    (a seeded stand-in for trained parameters: the container has no
    training stack, and the engine-side contract — weight-table
    broadcast, join, dot product, logistic link — is identical and
    value-checkable cross-engine).  Vocabulary = top-20 terms by
    document frequency, ties by term."""
    tf, lens = _doc_terms(spark, sf)
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    # md5 -> uniform in (0,1): first 8 hex digits as an exact 32-bit
    # integer (the DuckDB twin rebuilds the same value digit-by-digit)
    u = (
        F.conv(
            F.substring(F.md5(F.col("term").cast("binary")), 1, 8), 16, 10
        ).cast("bigint")
        + 0.5
    ) / F.lit(4294967296.0)
    vocab = (
        dfreq.orderBy(F.col("df").desc(), "term")
        .limit(_CLF_VOCAB)
        .select("term", (u - 0.5).alias("w"))
    )
    scored = (
        tf.join(F.broadcast(vocab), "term")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("tf") * F.col("w")).alias("dot"),
            F.count("*").cast("bigint").alias("n_terms_matched"),
        )
    )
    raw = 10.0 * F.col("dot") / F.col("dl")
    return (
        scored.join(lens, "doc_id")
        .select(
            "doc_id",
            "n_terms_matched",
            F.round(raw, 6).alias("margin"),
            F.round(1.0 / (1.0 + F.exp(-raw)), 6).alias("score"),
            (raw > 0).alias("flagged"),
        )
    )


SQL_DOC_CLASSIFIER_SCORE = f"""
WITH {_DOC_TERMS_SQL}, lens AS (
  SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1
), dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
), vocab AS (
  SELECT term,
         (list_sum(list_transform(range(1, 9),
            p -> (strpos('0123456789abcdef',
                         substr(md5(term), CAST(p AS INT), 1)) - 1)
                 * pow(16.0, 8 - CAST(p AS INT)))) + 0.5)
           / 4294967296.0 - 0.5 AS w
  FROM dfreq ORDER BY df DESC, term LIMIT {_CLF_VOCAB}
), scored AS (
  SELECT tf.doc_id, SUM(tf.tf * v.w) AS dot,
         CAST(COUNT(*) AS BIGINT) AS n_terms_matched
  FROM tf JOIN vocab v USING (term) GROUP BY 1
)
SELECT s.doc_id, s.n_terms_matched,
       ROUND(10.0 * s.dot / l.dl, 6) AS margin,
       ROUND(1.0 / (1.0 + exp(-(10.0 * s.dot / l.dl))), 6) AS score,
       (10.0 * s.dot / l.dl) > 0 AS flagged
FROM scored s JOIN lens l USING (doc_id)
"""


def q_vocab_top_terms(spark: SparkSession, sf: str) -> DataFrame:
    """Vocabulary building: global term frequencies, min-count floor,
    contiguous token ids by (count desc, term).  The global rank runs
    AFTER a TakeOrdered top-V cut (vocab output is small by
    definition), so no single-partition window ever sees the full
    term dimension."""
    tf, _ = _doc_terms(spark, sf)
    counts = (
        tf.groupBy("term")
        .agg(F.sum("tf").alias("n"), F.count("*").alias("n_docs"))
        .filter(F.col("n") >= 5)
        .orderBy(F.col("n").desc(), "term")
        .limit(500)
    )
    from pyspark.sql import Window

    from ..functions.window import const_bucket

    # global rank over the top-V cut (<= 500 rows by the limit above);
    # const_bucket keeps the spec non-empty (functions/window.py)
    w = Window.partitionBy(const_bucket("term")).orderBy(
        F.col("n").desc(), "term"
    )
    return counts.select(
        (F.row_number().over(w) - 1).cast("bigint").alias("token_id"),
        "term",
        "n",
        "n_docs",
    )


SQL_VOCAB_TOP_TERMS = f"""
WITH {_DOC_TERMS_SQL}, counts AS (
  SELECT term, SUM(tf) AS n, COUNT(*) AS n_docs
  FROM tf GROUP BY 1 HAVING SUM(tf) >= 5
  ORDER BY n DESC, term LIMIT 500
)
SELECT CAST(row_number() OVER (ORDER BY n DESC, term) - 1 AS BIGINT)
         AS token_id,
       term, CAST(n AS BIGINT) AS n, n_docs
FROM counts
"""


def q_multimodal_frames(spark: SparkSession, sf: str) -> DataFrame:
    """Frame-sampling plumbing: 1->N binary chunk rows per payload
    (mapInPandas; decode stubbed)."""
    from ..operators.multimodal import sample_frames

    d = load(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    with_payload = attach_binary_payload(d, "doc_id", "text")
    return sample_frames(with_payload, frame_bytes=32, stride=4)


def q_multimodal_image_features(spark: SparkSession, sf: str) -> DataFrame:
    """REAL image decode end-to-end: render a binary PPM per document
    (deterministic pixels from the text bytes), then parse it back —
    header scan + luminance stats in numpy over Arrow batches
    (operators.multimodal.decode_ppm).  Output: per-image width /
    height / mean / std luminance."""
    from ..operators.multimodal import extract_features, synthesize_ppm

    d = load(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    imgs = synthesize_ppm(d, "doc_id", "text")
    return extract_features(imgs).select(
        "doc_id",
        "n_bytes",
        F.col("f0").cast("int").alias("width"),
        F.col("f1").cast("int").alias("height"),
        F.round("f2", 6).alias("mean_luma"),
        F.round("f3", 6).alias("std_luma"),
    )


def q_multimodal_audio_features(spark: SparkSession, sf: str) -> DataFrame:
    """REAL audio decode end-to-end: render a PCM16 WAV per document,
    parse it with the stdlib ``wave`` reader, compute duration / RMS /
    zero-crossing rate (operators.multimodal.decode_wav)."""
    from ..operators.multimodal import extract_features, synthesize_wav

    d = load(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    wavs = synthesize_wav(d, "doc_id", "text")
    return extract_features(wavs).select(
        "doc_id",
        "n_bytes",
        F.round("f0", 6).alias("duration_s"),
        F.col("f1").cast("int").alias("n_channels"),
        F.round("f2", 6).alias("rms"),
        F.round("f3", 6).alias("zero_cross_rate"),
    )


def q_multimodal_codec_mix(spark: SparkSession, sf: str) -> DataFrame:
    """Every image decoder through one binary column: synthesize a
    PPM/PNG/JPEG/GIF/BMP/progressive-JPEG per document (container
    rotates by doc_id), decode with the magic-dispatch featureizer,
    aggregate fidelity stats per codec.  Per-codec row counts are
    exact sixths of the corpus; the luminance means agree across
    codecs up to JPEG quantization loss (PPM/PNG/GIF/BMP are
    lossless and agree exactly; the two JPEG modes decode the SAME
    pixels as each other by construction).

    Scale: same Arrow mapInPandas plumbing as the other multimodal
    queries; decode is per-row numpy; the final agg is 5 rows."""
    from ..operators.multimodal import synthesize_mixed_images

    d = load(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    imgs = synthesize_mixed_images(d, "doc_id", "text")
    # codec is a pure function of doc_id (id % 6) — recompute instead
    # of joining back through a second synthesis pass
    feats = extract_features(imgs.drop("codec")).withColumn(
        "codec",
        F.element_at(
            F.array(
                F.lit("ppm"), F.lit("png"), F.lit("jpeg"),
                F.lit("gif"), F.lit("bmp"), F.lit("jpeg_prog"),
            ),
            (F.col("doc_id") % 6 + 1).cast("int"),
        ),
    )
    return (
        feats.groupBy("codec")
        .agg(
            F.count("*").cast("bigint").alias("n_images"),
            F.round(F.avg("f2"), 4).alias("avg_luma_mean"),
            F.round(F.min("f2"), 4).alias("min_luma_mean"),
            F.round(F.max("f2"), 4).alias("max_luma_mean"),
            F.sum("n_bytes").cast("bigint").alias("total_bytes"),
        )
        .orderBy("codec")
    )


def q_multimodal_features(spark: SparkSession, sf: str) -> DataFrame:
    """Binary-payload plumbing + Arrow-batched feature extraction
    (text modality — see multimodal_image/audio_features for the real
    media decodes)."""
    d = load(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    with_payload = attach_binary_payload(d, "doc_id", "text")
    return extract_features(with_payload)


# ------------------------------------------- PII scrub + LM scoring

#: detection patterns shared by the Spark and DuckDB sides — kept to
#: the regex subset where Java regex and RE2 agree (no backrefs, no
#: lookaround).
PII_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PII_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def q_pii_redaction_report(spark: SparkSession, sf: str) -> DataFrame:
    """PII scrub pass — the compliance gate every training-data
    pipeline runs before release: detect emails / IPv4s, redact them
    to fixed placeholders, account for what was removed per source.

    The synthetic corpus carries no real PII, so every third document
    gets a deterministic doc_id-derived contact line appended first —
    the detect/redact machinery then runs on real matches with exact,
    reproducible counts (and the untouched docs prove the no-match
    path).

    Scale: one narrow pass (inject, two regexp_extract_all, two
    regexp_replace — all JVM-side, no UDF) + one per-source
    aggregation; the regexes stay in the whole-stage-codegen span."""
    d = load(spark, sf, "documents")
    injected = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".1"),
        ),
    ).otherwise(F.col("text"))
    t = d.select("source", "doc_id", injected.alias("t"))
    # idx=0: count whole-pattern matches (the patterns carry no
    # capture groups; DuckDB's default is also the full match)
    n_emails = F.size(F.regexp_extract_all("t", F.lit(PII_EMAIL_RE), 0))
    n_ips = F.size(F.regexp_extract_all("t", F.lit(PII_IPV4_RE), 0))
    redacted = F.regexp_replace(
        F.regexp_replace("t", PII_EMAIL_RE, "[EMAIL]"),
        PII_IPV4_RE,
        "[IP]",
    )
    per_doc = t.select(
        "source",
        n_emails.alias("n_emails"),
        n_ips.alias("n_ips"),
        (F.length("t") - F.length(redacted)).alias("chars_removed"),
    )
    return per_doc.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("n_emails") + F.col("n_ips") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("docs_with_pii"),
        F.sum("n_emails").cast("bigint").alias("total_emails"),
        F.sum("n_ips").cast("bigint").alias("total_ips"),
        F.sum("chars_removed").cast("bigint").alias("total_chars_removed"),
    )


SQL_PII_REDACTION_REPORT = f"""
WITH t AS (
  SELECT source,
         CASE WHEN doc_id % 3 = 0
              THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                   || '@example.com from 10.0.'
                   || CAST(doc_id % 256 AS VARCHAR) || '.1'
              ELSE text END AS t
  FROM documents
), per_doc AS (
  SELECT source,
         len(regexp_extract_all(t, '{PII_EMAIL_RE}')) AS n_emails,
         len(regexp_extract_all(t, '{PII_IPV4_RE}')) AS n_ips,
         length(t) - length(
           regexp_replace(
             regexp_replace(t, '{PII_EMAIL_RE}', '[EMAIL]', 'g'),
             '{PII_IPV4_RE}', '[IP]', 'g')
         ) AS chars_removed
  FROM t
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN n_emails + n_ips > 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS docs_with_pii,
       CAST(SUM(n_emails) AS BIGINT) AS total_emails,
       CAST(SUM(n_ips) AS BIGINT) AS total_ips,
       CAST(SUM(chars_removed) AS BIGINT) AS total_chars_removed
FROM per_doc
GROUP BY source
"""


def _unigram_scores(tf: DataFrame, score) -> DataFrame:
    """Per document of the ``(doc_id, term, tf)`` relation: ``n_toks``
    and ``score(lp)``, where ``lp`` is its mean token log-probability
    under the corpus unigram LM (term count / total tokens)."""
    term_freq = tf.groupBy("term").agg(F.sum("tf").alias("cnt"))
    total = term_freq.agg(F.sum("cnt").cast("double").alias("total"))
    lp = (
        F.sum(F.col("tf") * F.log(F.col("cnt"))) / F.sum("tf")
        - F.log(F.first("total"))
    )
    return (
        tf.join(term_freq, "term")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(F.sum("tf").cast("bigint").alias("n_toks"), score(lp))
    )


#: DuckDB form of the corpus unigram LM: CTEs freq(term, cnt) and
#: tot(total), over ``tf``
_UNIGRAM_LM_SQL = """freq AS (
  SELECT term, SUM(tf) AS cnt FROM tf GROUP BY 1
), tot AS (
  SELECT CAST(SUM(cnt) AS DOUBLE) AS total FROM freq
)"""


def _unigram_scored_sql(score) -> str:
    """DuckDB form of :func:`_unigram_scores`: CTEs freq, tot and
    ``scored`` of ``n_toks`` and ``score(lp)``, over ``tf``."""
    lp = "SUM(tf * ln(cnt)) / SUM(tf) - ln(ANY_VALUE(total))"
    return f"""{_UNIGRAM_LM_SQL}, scored AS (
  SELECT doc_id,
         CAST(SUM(tf) AS BIGINT) AS n_toks,
         {score(lp)}
  FROM tf JOIN freq USING (term) CROSS JOIN tot
  GROUP BY doc_id
)"""


def q_doc_unigram_logprob(spark: SparkSession, sf: str) -> DataFrame:
    """Unigram language-model scoring — the CCNet/Gopher-style
    "perplexity filter": train a unigram LM on the corpus itself
    (term frequency / total tokens), score each document by its mean
    token log-probability, and flag the lowest-scoring tail
    (bottom decile) as out-of-distribution.

    Scale: reuses the one-shuffle (doc, term, tf) relation; the LM
    join is a shuffle join on the corpus-sized term dimension (NOT
    broadcastable at 100 TB); totals are scalar aggregates broadcast
    by construction; the decile threshold is one approx-free
    percentile over the per-doc scores (constant-size relation: one
    row per doc, ~1e9 rows at 100 TB — a cheap exact percentile next
    to the corpus itself)."""
    tf, lens = _doc_terms(spark, sf)
    # persisted: the decile threshold and the final flag projection
    # both consume the doc-grain scores — without it the LM join +
    # aggregation over the (cached) term relation runs twice
    scored = _unigram_scores(
        tf, lambda lp: lp.alias("avg_logprob")
    ).persist()
    thr = scored.agg(
        F.expr("percentile(avg_logprob, 0.1)").alias("p10")
    )
    return (
        scored.crossJoin(F.broadcast(thr))
        .select(
            "doc_id",
            "n_toks",
            F.round("avg_logprob", 6).alias("avg_logprob"),
            (F.col("avg_logprob") < F.col("p10"))
            .cast("boolean")
            .alias("flag_low_lm_score"),
        )
    )


SQL_DOC_UNIGRAM_LOGPROB = f"""
WITH {_DOC_TERMS_SQL},
{_unigram_scored_sql(lambda lp: f"{lp} AS avg_logprob")}, thr AS (
  SELECT quantile_cont(avg_logprob, 0.1) AS p10 FROM scored
)
SELECT doc_id, n_toks,
       ROUND(avg_logprob, 6) AS avg_logprob,
       avg_logprob < p10 AS flag_low_lm_score
FROM scored CROSS JOIN thr
"""


def q_crossdoc_span_coverage(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-document span duplication — the n-gram-granularity form
    of exact-substring dedup (Lee et al., "Deduplicating Training
    Data"): for each document, the fraction of its distinct word
    5-grams that also occur in at least one OTHER document; documents
    past a threshold are span-duplicate suspects (boilerplate,
    templated content, copy-paste families) even when whole-document
    dedup misses them.

    Scale: distinct shingles stay at row grain (``word_shingles``,
    no explode) until the single explode into md5-hashed fixed-width
    gram keys; the (doc_id, hx) relation is PERSISTED because both
    the document-frequency groupBy and the join back consume it —
    without the persist, lazy evaluation re-shingles the corpus
    twice (the ``_doc_terms`` lesson, plan-gated in
    tests/test_plans.py).  Then ONE groupBy over the gram dimension
    and one join back — the TF-IDF two-shuffle shape, corpus-sized
    dimensions never broadcast or collected."""
    # spread the single-row-group scan before the heavy per-row
    # work (see queries/data.py:spread_scan; A/B-measured win)
    d = spread_scan(load(spark, sf, "documents"))
    g = (
        d.select(
            "doc_id",
            F.explode(
                TX.word_shingles(TX.nonempty_tokens("text"), 5)
            ).alias("gram"),
        )
        .select("doc_id", F.md5("gram").alias("hx"))
        .persist()
    )
    gd = g.groupBy("hx").agg(F.count("*").alias("df"))
    shared = F.sum(F.when(F.col("df") > 1, 1).otherwise(0))
    return (
        g.join(gd, "hx")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_grams"),
            shared.cast("bigint").alias("n_shared"),
            F.round(shared / F.count("*"), 6).alias("shared_frac"),
            (shared / F.count("*") > 0.3).alias("flag_span_dup"),
        )
    )


SQL_CROSSDOC_SPAN_COVERAGE = f"""
WITH {_GRAMS5_SQL}, gd AS (
  SELECT gram, COUNT(*) AS df FROM grams GROUP BY 1
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_shared,
       ROUND(SUM(CASE WHEN df > 1 THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS shared_frac,
       (SUM(CASE WHEN df > 1 THEN 1 ELSE 0 END)
        / CAST(COUNT(*) AS DOUBLE)) > 0.3 AS flag_span_dup
FROM grams JOIN gd USING (gram)
GROUP BY doc_id
"""


def q_embedding_fd_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Spectral profile of the embedding Gram matrix via a Frequent
    Directions sketch (operators/fd.py), with the EXACT spectrum and
    the FD deterministic error bound alongside — the certified-
    approximation readout pattern (reach_kmv_accuracy's shape, lifted
    to linear algebra).  One row per top component: exact eigenvalue
    of AᵀA, the sketch's estimate, the realized gap, and the FD
    guarantee ‖A‖_F²/ell the gap must stay under; plus the within-
    bound flag the pytest accuracy suite also pins.

    Scale: the FD pass ships ell·d doubles per partition (vs d² for
    the exact moment pass it replaces at large d); the exact twin
    here is the small-sf audit, never the 100 TB plan.  Rows-only:
    SVD has no SQL form; ``embedding_covariance_stats`` (oracle-
    green) certifies the same moment pipeline relationally."""
    import numpy as np

    from ..operators.fd import frequent_directions
    from ..operators.whiten import covariance_stats

    e = load(spark, sf, "embeddings")
    ell, top = 16, 8
    b, frob_sq, n = frequent_directions(e, "embedding", ell=ell, d=64)
    n2, mean, cov = covariance_stats(e)
    gram = n2 * (cov + np.outer(mean, mean))
    exact = np.sort(np.linalg.eigvalsh(gram))[::-1]
    fd_eig = np.sort(np.linalg.svd(b, compute_uv=False) ** 2)[::-1]
    bound = frob_sq / ell
    rows = [
        (
            int(i),
            float(round(exact[i], 4)),
            float(round(fd_eig[i], 4)),
            float(round(exact[i] - fd_eig[i], 4)),
            float(round(bound, 4)),
            bool(exact[i] - fd_eig[i] <= bound + 1e-6 * frob_sq),
        )
        for i in range(top)
    ]
    return local_table(
        spark,
        rows,
        "component bigint, exact_eig double, fd_eig double, "
        "gap double, fd_bound double, within_bound boolean",
    )


def q_fd_whitening_handoff(spark: SparkSession, sf: str) -> DataFrame:
    """The FD sketch as the 100 TB whitening DECISION PATH, end to
    end: maintain the sketch incrementally, read it, decide which
    directions dominate, derive the PCA-whitening transform FROM THE
    SKETCH, apply it, and certify the result — every claim carried
    in-row with its deterministic FD bound.

    Stages (each the micro-batch / readout unit of
    ``streaming.fd_maintain.IncrementalFDSketch``, decomposed in-plan
    the way ``ivf_stream_topk_fixed`` decomposes its maintainer; the
    writeStream/checkpoint/replay machinery is pinned by
    tests/test_fd_stream.py):

    1. mixed-scale features: dims 0/1 of the embedding carry 8x/4x
       the native scale (plan constants — the un-normalized-feature
       situation whitening exists for);
    2. the corpus arrives as two hash-split batches, each FD-sketched
       independently (``fd_partials`` — one narrow mapInPandas, no
       shuffle) and appended; ``fd_merge`` of the stored rows is the
       ``merged()`` readout;
    3. decision: component i is CERTIFIED dominant iff its sketch
       eigenvalue (a lower bound on the true Gram eigenvalue) exceeds
       2x the exact per-dimension average frob_sq/d — frob_sq is
       exact by mass conservation, so a True here is a PROOF, not an
       estimate (on the un-scaled corpus no component certifies:
       the honest isotropic verdict);
    4. handoff: project onto the keep_k certified directions, scaled
       by 1/sqrt(fd_eig/n) — PCA whitening from the sketch (uncentered
       second-moment convention: FD sketches A itself);
    5. certification: the whitened second moment diag, measured
       EXACTLY and relationally, must land in [1, 1 + bound/fd_eig_i]
       — the FD PSD sandwich (0 <= vᵀ(AᵀA - BᵀB)v <= ‖A‖_F²/ell)
       turned into a per-component checkable interval;
    6. audit: the exact spectrum from an ell=d (lossless) FD pass —
       ``within_bound`` pins exact_i - fd_i in [0, bound]; the
       one-shot pass doubles as the conservation twin
       (``n_conserved``: two-batch n/mass == one-shot n/mass).

    Scale: four narrow passes over the corpus, zero shuffles beyond
    them; everything collected is <= ell*d + d*d doubles.  Rows-only:
    SVD has no SQL form (``embedding_covariance_stats`` certifies the
    moment pipeline relationally; ``embedding_whitening_fixed``
    certifies the apply-side matmul against a SQL twin)."""
    import numpy as np

    from ..functions.vectors import as_double_array
    from ..operators.fd import fd_merge, fd_partials, frequent_directions
    from ..operators.whiten import whiten

    ell, d, top = 16, 64, 8
    schema = (
        "component bigint, fd_eig double, exact_eig double, "
        "fd_bound double, within_bound boolean, "
        "certified_dominant boolean, keep boolean, "
        "white_diag double, white_diag_max double, whitened_ok boolean, "
        "n_conserved boolean"
    )
    e = load(spark, sf, "embeddings")
    feats = e.select(
        "vec_id",
        F.transform(
            as_double_array("embedding"),
            lambda x, i: x
            * F.when(i == 0, F.lit(8.0))
            .when(i == 1, F.lit(4.0))
            .otherwise(F.lit(1.0)),
        ).alias("feat"),
    )
    b1 = feats.filter(F.xxhash64("vec_id") % 2 == 0)
    b2 = feats.filter(F.xxhash64("vec_id") % 2 != 0)
    # ONE collect for both batches' partials — union preserves
    # branch partition order, so the row list (and therefore the
    # fd_merge fold order and every float downstream) is exactly the
    # former two-collect concatenation, for one driver round-trip
    # fewer and concurrently scheduled branch scans.
    srows = (
        fd_partials(b1, "feat", ell, d)
        .unionByName(fd_partials(b2, "feat", ell, d))
        .collect()
    )
    if not srows:
        return local_table(spark, [], schema)
    b = fd_merge(
        [np.asarray(r["sketch"]).reshape(ell, d) for r in srows], ell
    )
    frob = float(sum(r["frob_sq"] for r in srows))
    n = int(sum(r["n"] for r in srows))
    # lossless one-shot twin: ell=d never shrinks, so its spectrum is
    # the EXACT Gram spectrum and its mass/count audit the two-batch
    # path's conservation
    b_exact, frob1, n1 = frequent_directions(feats, "feat", ell=d, d=d)
    exact = np.sort(np.linalg.svd(b_exact, compute_uv=False) ** 2)[::-1]
    _, s, vt = np.linalg.svd(b, full_matrices=False)
    fd_eig = s**2  # descending
    bound = frob / ell
    avg = frob / d
    n_conserved = bool(n == n1 and abs(frob - frob1) <= 1e-9 * frob)
    cert = fd_eig > 2.0 * avg
    keep_k = int(cert.sum())  # fd_eig descending => cert is a prefix
    diag = [None] * top
    if keep_k:
        kk = min(keep_k, top)
        proj = vt[:kk] / np.sqrt(fd_eig[:kk, None] / n)
        z = whiten(feats, np.zeros(d), proj, vec_col="feat", out_col="z")
        mom = z.agg(
            *[
                F.sum(F.col("z")[i] * F.col("z")[i]).alias(f"s{i}")
                for i in range(kk)
            ]
        ).collect()[0]
        for i in range(kk):
            diag[i] = float(mom[f"s{i}"]) / n
    rows = []
    for i in range(top):
        ub = 1.0 + bound / fd_eig[i] if fd_eig[i] > 0 else None
        ok = (
            None
            if diag[i] is None
            else bool(1.0 - 1e-6 <= diag[i] <= ub + 1e-6)
        )
        rows.append(
            (
                int(i),
                float(round(fd_eig[i], 4)),
                float(round(exact[i], 4)),
                float(round(bound, 4)),
                bool(-1e-6 * frob <= exact[i] - fd_eig[i]
                     <= bound + 1e-6 * frob),
                bool(cert[i]),
                bool(i < keep_k),
                None if diag[i] is None else float(round(diag[i], 6)),
                None if diag[i] is None else float(round(ub, 6)),
                ok,
                n_conserved,
            )
        )
    return local_table(spark, rows, schema)


def _covariance_readout(dims: DataFrame) -> DataFrame:
    """Covariance structure of a ``(vec_id, i, x)`` relation (one row
    per vector component, ``x`` double), reduced to one summary row:
    total variance (trace), Frobenius norm, and off-diagonal
    concentration.

    Scale: ``dims`` is persisted; the pair sums come from a SELF-JOIN
    co-partitioned on vec_id — ONE shuffle feeds both sides — and the
    (i, j) groupBy partial-aggregates map-side, so the exchange after
    the join carries at most |partitions|·d² summary rows,
    independent of n.  Per-dimension means broadcast (d rows).
    Nothing is collected."""
    dims = dims.persist()
    means = dims.groupBy("i").agg(
        F.avg("x").alias("mean_i"), F.count("*").alias("n")
    )
    b = dims.select(
        F.col("vec_id"), F.col("i").alias("j"), F.col("x").alias("y")
    )
    pairs = (
        dims.join(b, "vec_id")
        .groupBy("i", "j")
        .agg(F.sum(F.col("x") * F.col("y")).alias("sxy"),
             F.count("*").alias("n"))
    )
    mi = means.select("i", "mean_i")
    mj = means.select(
        F.col("i").alias("j"), F.col("mean_i").alias("mean_j")
    )
    cov = (
        pairs.join(F.broadcast(mi), "i")
        .join(F.broadcast(mj), "j")
        .select(
            "i",
            "j",
            (F.col("sxy") / F.col("n")
             - F.col("mean_i") * F.col("mean_j")).alias("c"),
        )
    )
    offdiag = F.when(F.col("i") != F.col("j"), F.abs("c"))
    return cov.crossJoin(
        F.broadcast(means.agg(F.max("n").cast("bigint").alias("n_vectors")))
    ).agg(
        F.first("n_vectors").alias("n_vectors"),
        F.countDistinct("i").cast("bigint").alias("dims"),
        F.round(F.sum(F.when(F.col("i") == F.col("j"), F.col("c"))), 6)
        .alias("trace"),
        F.round(F.sqrt(F.sum(F.col("c") * F.col("c"))), 6)
        .alias("frobenius"),
        F.round(F.max(offdiag), 6).alias("max_abs_offdiag"),
        F.round(F.avg(offdiag), 6).alias("avg_abs_offdiag"),
    )


def _covariance_readout_sql(dims: str) -> str:
    """DuckDB form of :func:`_covariance_readout`; ``dims`` is the WITH
    list up to and including the CTE ``dims(vec_id, i, x)``."""
    return f"""
WITH {dims}, means AS (
  SELECT i, AVG(x) AS mean_i, COUNT(*) AS n FROM dims GROUP BY 1
), pairs AS (
  SELECT a.i AS i, b.i AS j, SUM(a.x * b.x) AS sxy, COUNT(*) AS n
  FROM dims a JOIN dims b USING (vec_id)
  GROUP BY 1, 2
), cov AS (
  SELECT p.i, p.j, p.sxy / p.n - mi.mean_i * mj.mean_i AS c
  FROM pairs p
  JOIN means mi ON p.i = mi.i
  JOIN means mj ON p.j = mj.i
)
SELECT CAST((SELECT MAX(n) FROM means) AS BIGINT) AS n_vectors,
       CAST(COUNT(DISTINCT i) AS BIGINT) AS dims,
       ROUND(SUM(CASE WHEN i = j THEN c END), 6) AS trace,
       ROUND(sqrt(SUM(c * c)), 6) AS frobenius,
       ROUND(MAX(CASE WHEN i != j THEN abs(c) END), 6)
         AS max_abs_offdiag,
       ROUND(AVG(CASE WHEN i != j THEN abs(c) END), 6)
         AS avg_abs_offdiag
FROM cov
"""


def q_embedding_covariance_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Covariance structure of the embedding space — the whitening /
    PCA-readiness diagnostic (high off-diagonal mass means dimensions
    are correlated and a whitening transform would help downstream
    ANN and clustering): the full d×d population covariance matrix,
    computed distributively over one posexplode to the (vec_id, i, x)
    relation (n·d rows), reduced by :func:`_covariance_readout`."""
    e = load(spark, sf, "embeddings")
    return _covariance_readout(
        e.select(
            "vec_id", F.posexplode("embedding").alias("i", "x")
        ).withColumn("x", F.col("x").cast("double"))
    )


SQL_EMBEDDING_COVARIANCE_STATS = _covariance_readout_sql("""dims AS (
  SELECT vec_id, u.i AS i,
         CAST(embedding[u.i] AS DOUBLE) AS x
  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)
)""")


def _kmeans_profile(e: DataFrame, centroids) -> DataFrame:
    """Assign every embedding to its nearest centroid (narrow Arrow
    argmax) and profile each cluster in one groupBy: size and
    mean/min cosine of members to their centroid (cohesion)."""
    from ..functions.vectors import as_double_array, cosine, literal_vector
    from ..operators.kmeans import kmeans_assign

    assigned = kmeans_assign(e, centroids)
    sim = cosine(
        as_double_array("embedding"),
        F.element_at(
            F.array(*[literal_vector(c) for c in centroids]),
            (F.col("cluster") + 1).cast("int"),
        ),
    )
    return (
        assigned.withColumn("cos_to_centroid", sim)
        .groupBy("cluster")
        .agg(
            F.count("*").cast("bigint").alias("n_vectors"),
            F.round(F.avg("cos_to_centroid"), 4).alias("avg_cohesion"),
            F.round(F.min("cos_to_centroid"), 4).alias("min_cohesion"),
        )
        .orderBy("cluster")
    )


def q_embedding_kmeans_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus cartography via full-data spherical k-means
    (``operators.kmeans``): train k=8 centroids distributively
    (assignment is a narrow argmax pass per iteration; the update
    reduce returns only k×(d+1) numbers to the driver), then profile
    each cluster — size and mean/min cosine of members to their
    centroid (cohesion).  Iterative => no SQL oracle; determinism,
    planted-blob purity and cohesion floors are pytest-pinned
    (tests/test_kmeans.py)."""
    from ..operators.kmeans import kmeans_fit

    e = load(spark, sf, "embeddings")
    return _kmeans_profile(
        e, kmeans_fit(e, "embedding", "vec_id", k=8, iters=4)
    )


def _kmeans_fixed_centroids():
    """(8, 64) seeded unit-norm list heads — plan-time constants
    shared verbatim by the Spark query and its SQL oracle.  Training
    itself (the iterative Lloyd loop) is pinned by the planted-blob
    pytest suite; FIXING the centroids makes the assign + cohesion
    profile — where a wrong argmax tie-break or a normalization slip
    would hide — value-checkable in plain SQL (the
    ``embedding_ivf_topk_fixed`` construction)."""
    import numpy as np

    rng = np.random.default_rng(11)
    c = rng.standard_normal((8, 64))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def _kmeans_fixed_sql() -> str:
    """DuckDB form of the assignment to ``_kmeans_fixed_centroids``:
    CTEs v (with label), cents, assigned (nearest centroid by dot
    product, ties by SMALLER cluster id as np.argmax's first-max rule)
    and unitv (members scaled to unit length)."""
    return f"""v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
cents(cluster, cv) AS (VALUES
  {_values_rows_sql(_kmeans_fixed_centroids())}
),
assigned AS (
  SELECT v.vec_id, v.label, v.v, c.cluster, c.cv
  FROM v CROSS JOIN cents c
  QUALIFY ROW_NUMBER() OVER (PARTITION BY v.vec_id
                             ORDER BY list_dot_product(v.v, c.cv) DESC,
                                      c.cluster ASC) = 1
),
unitv AS (
  SELECT vec_id, label, cluster,
         list_transform(v, x -> x / sqrt(list_sum(
             list_transform(v, y -> y * y)))) AS u
  FROM assigned
)"""


def q_embedding_kmeans_profile_fixed(spark: SparkSession, sf: str) -> DataFrame:
    """Cluster cartography over FIXED pretrained centroids — the
    oracle-backed twin of ``embedding_kmeans_profile``: the same
    profile, minus the iterative training that has no SQL form."""
    return _kmeans_profile(
        load(spark, sf, "embeddings"), _kmeans_fixed_centroids()
    )


def sql_embedding_kmeans_profile_fixed() -> str:
    """DuckDB twin: the fixed-centroid assignment
    (:func:`_kmeans_fixed_sql`), cosine cohesion with the fold formula
    of SQL_EMBEDDING_TOPK."""
    return f"""
WITH {_kmeans_fixed_sql()},
scored AS (
  SELECT CAST(cluster AS BIGINT) AS cluster,
         {cosine_sql("v", "cv")} AS cos
  FROM assigned
)
SELECT cluster,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       ROUND(AVG(cos), 4) AS avg_cohesion,
       ROUND(MIN(cos), 4) AS min_cohesion
FROM scored
GROUP BY cluster
ORDER BY cluster
"""


#: interpolation weight between bigram-ML and unigram probabilities
_BIGRAM_LAMBDA = 0.7


def q_doc_bigram_logprob(spark: SparkSession, sf: str) -> DataFrame:
    """Interpolated bigram language-model scoring — one rung up from
    the unigram perplexity filter: score each document by its mean
    log P(w_i | w_{i-1}) under lambda*ML-bigram + (1-lambda)*unigram,
    trained on the corpus itself.  Repetitive/templated text scores
    HIGH (its transitions are predictable), scrambled text scores
    LOW — the two tails a curation pass clips.

    Scale: the per-doc bigram relation is one explode + groupBy
    (same class as ``_doc_terms``); global bigram counts, context
    totals and the unigram LM are aggregations of that relation; the
    score join shuffles on the (w1, w2) term dimension — corpus-
    sized, deliberately NOT broadcast.  Scalar totals broadcast by
    construction."""
    # spread the single-row-group scan before the heavy per-row
    # work (see queries/data.py:spread_scan; A/B-measured win)
    d = spread_scan(load(spark, sf, "documents"))
    toks = d.select(
        "doc_id", TX.nonempty_tokens("text").alias("toks")
    ).filter(F.size("toks") >= 2)
    pair = F.zip_with(
        F.slice("toks", 1, F.size("toks") - 1),
        F.slice("toks", 2, F.size("toks") - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    dbg = (
        toks.select("doc_id", F.explode(pair).alias("p"))
        .select("doc_id", "p.w1", "p.w2")
        .groupBy("doc_id", "w1", "w2")
        .agg(F.count("*").alias("c"))
        .persist()
    )
    bg = dbg.groupBy("w1", "w2").agg(F.sum("c").alias("bc"))
    ctx = bg.groupBy("w1").agg(F.sum("bc").alias("cc"))
    tf, _lens = _doc_terms(spark, sf)
    uni = tf.groupBy("term").agg(F.sum("tf").alias("cnt"))
    total = uni.agg(F.sum("cnt").cast("double").alias("total"))
    lam = _BIGRAM_LAMBDA
    p_interp = lam * F.col("bc") / F.col("cc") + (1.0 - lam) * F.col(
        "cnt"
    ) / F.col("total")
    return (
        dbg.join(bg, ["w1", "w2"])
        .join(ctx, "w1")
        .join(uni, F.col("w2") == F.col("term"))
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_bigrams"),
            F.round(
                F.sum(F.col("c") * F.log(p_interp)) / F.sum("c"), 6
            ).alias("avg_logprob_bi"),
        )
    )


SQL_DOC_BIGRAM_LOGPROB = f"""
WITH {_DOC_TERMS_SQL}, {_UNIGRAM_LM_SQL}, pos AS (
  SELECT doc_id, unnest(t) AS term, generate_subscripts(t, 1) AS ord
  FROM toks WHERE len(t) >= 2
), dbg AS (
  SELECT a.doc_id, a.term AS w1, b.term AS w2, COUNT(*) AS c
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.ord = a.ord + 1
  GROUP BY 1, 2, 3
), bg AS (
  SELECT w1, w2, SUM(c) AS bc FROM dbg GROUP BY 1, 2
), ctx AS (
  SELECT w1, SUM(bc) AS cc FROM bg GROUP BY 1
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_bigrams,
       ROUND(SUM(c * ln({_BIGRAM_LAMBDA} * bc / cc
                         + {1.0 - _BIGRAM_LAMBDA} * cnt / total))
             / SUM(c), 6) AS avg_logprob_bi
FROM dbg
  JOIN bg USING (w1, w2)
  JOIN ctx USING (w1)
  JOIN freq ON freq.term = dbg.w2
  CROSS JOIN tot
GROUP BY doc_id
"""


def _pq_fixed_codebooks():
    """(8, 16, 8) seeded gaussian PQ codebooks — plan-time constants
    shared verbatim by the Spark query and its SQL oracle.  Codebook
    TRAINING is pinned by pytest (planted-structure recall floors);
    fixing the books makes the encode-argmin + ADC-lookup + rank
    pipeline — where an off-by-one in the table lookup or a wrong
    tie-break would hide — value-checkable in plain SQL."""
    import numpy as np

    rng = np.random.default_rng(23)
    return rng.standard_normal((8, 16, 8))


def _pq_queries(emb: DataFrame) -> list:
    """The 5 query vectors (``vec_id < 5``) the PQ readouts score, as
    ``(vec_id, embedding)`` pairs collected to the driver."""
    return [
        (r["vec_id"], r["embedding"])
        for r in emb.filter(F.col("vec_id") < 5)
        .select("vec_id", "embedding")
        .collect()
    ]


def q_embedding_pq_topk_fixed(spark: SparkSession, sf: str) -> DataFrame:
    """Product-quantization ANN over FIXED codebooks: encode the
    corpus to 8 codes/vector (Arrow argmin), score 5 queries by
    asymmetric distance (built-in zip_with table lookups), top-5 per
    query.  The oracle-backed twin of ``embedding_pq_topk``."""
    from ..operators.pq import pq_topk

    emb = load(spark, sf, "embeddings")
    return pq_topk(emb, _pq_queries(emb), _pq_fixed_codebooks(), k=5)


def q_pq_stream_topk_fixed(spark: SparkSession, sf: str) -> DataFrame:
    """ADC top-k over an INCREMENTALLY-BUILT compressed corpus: two
    hash-split batches each encode against the fixed codebooks
    (``pq_encode`` — the micro-batch unit of
    ``streaming.ivf_maintain.IncrementalPQIndex``), union (what the
    index's append-only codes table holds), then the unchanged
    ``pq_topk`` reads the codes column.  Sharing
    ``embedding_pq_topk_fixed``'s oracle pins incremental-encode ==
    one-shot-encode; the writeStream/replay machinery is
    tests/test_ivf_stream.py's PQ case."""
    from ..operators.pq import pq_encode, pq_topk

    books = _pq_fixed_codebooks()
    emb = load(spark, sf, "embeddings")
    queries = _pq_queries(emb)
    b1 = emb.filter(F.xxhash64("vec_id") % 2 == 0)
    b2 = emb.filter(F.xxhash64("vec_id") % 2 != 0)
    codes = pq_encode(b1, books, "embedding", "pq_codes").unionByName(
        pq_encode(b2, books, "embedding", "pq_codes")
    )
    return pq_topk(codes, queries, books, k=5, codes_col="pq_codes")


def sql_embedding_pq_topk_fixed() -> str:
    """DuckDB twin: the 128 sub-centroids as list literals; corpus
    codes via per-(vector, subspace) argmin rank (ties by smaller
    code, matching np.argmin); ADC as the sum of the QUERY's squared
    subspace distances evaluated at each corpus vector's codes —
    computed from one shared (vector, subspace, code) distance
    relation, exactly the lookup-table factorization the Spark side
    executes."""
    cbs = _pq_fixed_codebooks()
    m, k, sub = cbs.shape
    rows = ",\n  ".join(
        f"({s}, {j}, {vector_sql(cbs[s, j])})"
        for s in range(m)
        for j in range(k)
    )
    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cb(sub, code, c) AS (VALUES
  {rows}
),
dists AS (
  SELECT v.vec_id, cb.sub, cb.code,
         list_sum(list_transform(
           list_zip(list_slice(v.v, cb.sub * {sub} + 1,
                               cb.sub * {sub} + {sub}), cb.c),
           x -> (x[1] - x[2]) * (x[1] - x[2]))) AS d2
  FROM v CROSS JOIN cb
),
codes AS (
  SELECT vec_id, sub, code FROM dists
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                             ORDER BY d2, code) = 1
),
scored AS (
  -- list_sum over a sub-ordered list, NOT SUM(): group-row order is
  -- nondeterministic, and a float sum in a different order breaks
  -- low-bit ties between same-code neighbors (clustered corpora
  -- quantize many vectors to identical codes, so exact ADC ties are
  -- the COMMON case, and rank must tie-break on neighbor_id alone).
  -- Spark's aggregate() folds the lookup array in subspace order;
  -- this reproduces that order bit-for-bit.
  SELECT qd.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_sum(list(qd.d2 ORDER BY qd.sub)) AS dist
  FROM codes c
  JOIN dists qd ON qd.sub = c.sub AND qd.code = c.code
  WHERE qd.vec_id < 5
  GROUP BY qd.vec_id, c.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, dist,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY dist, neighbor_id) AS rnk
  FROM scored
)
SELECT query_id, neighbor_id,
       ROUND(dist, 6) AS approx_dist,
       CAST(rnk AS BIGINT) AS "rank"
FROM ranked
WHERE rnk <= 5
ORDER BY query_id, rnk
"""


def q_embedding_pq_topk(spark: SparkSession, sf: str) -> DataFrame:
    """PQ ANN end-to-end with TRAINED codebooks (seeded sample-based
    per-subspace k-means): the compressed-domain scale path — the
    corpus could drop its raw vectors and keep 8 small ints per row.
    Iterative training has no SQL form => rows-only driver check;
    recall floors and encode determinism are pytest-pinned
    (tests/test_pq.py)."""
    from ..operators.pq import pq_topk, pq_train

    emb = load(spark, sf, "embeddings")
    books = pq_train(emb, m=8, k=16, iters=8, seed=42, dim=64)
    return pq_topk(emb, _pq_queries(emb), books, k=5)


def q_source_weighted_median_quality(spark: SparkSession, sf: str) -> DataFrame:
    """Token-WEIGHTED median quality per source — corpus curation
    reports token mass, not document counts (a million empty docs and
    one book are not the same corpus).  The weighted median is the
    smallest score whose cumulative token weight reaches half the
    source's total.

    Scale: one narrow scoring pass (the ``doc_quality_score``
    formula, zero UDFs), then ONE shuffle on source for the
    cumulative-weight window + final aggregate.  The half-total test
    is exact integer arithmetic (2*cum >= total) — no float
    threshold to drift cross-engine."""
    from pyspark.sql import Window

    d = load(spark, sf, "documents")
    toks = TX.nonempty_tokens("text")
    score = _quality_score(toks)
    scored = d.select(
        "doc_id",
        "source",
        score.alias("quality_score"),
        F.size(toks).cast("bigint").alias("n_tokens"),
    )
    w_cum = (
        Window.partitionBy("source")
        .orderBy("quality_score", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("source")
    return (
        scored.withColumn("cum", F.sum("n_tokens").over(w_cum))
        .withColumn("tot", F.sum("n_tokens").over(w_tot))
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.max("tot").cast("bigint").alias("total_tokens"),
            F.min(
                F.when(2 * F.col("cum") >= F.col("tot"), F.col("quality_score"))
            ).alias("weighted_median_score"),
        )
        .orderBy("source")
    )


SQL_SOURCE_WEIGHTED_MEDIAN_QUALITY = f"""
WITH {_quality_sql("doc_id, source")}, c AS (
  SELECT source, quality_score,
         SUM(n_tokens) OVER (PARTITION BY source
                             ORDER BY quality_score, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS cum,
         SUM(n_tokens) OVER (PARTITION BY source) AS tot
  FROM s
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MAX(tot) AS BIGINT) AS total_tokens,
       MIN(CASE WHEN 2 * cum >= tot THEN quality_score END)
         AS weighted_median_score
FROM c
GROUP BY source
ORDER BY source
"""


def q_source_dup_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-source contamination matrix: near-dup pairs (the
    oracle-reproducible md5 MinHash pipeline) rolled up to
    (source, source) — which domains duplicate INTO which.  The
    matrix drives dedup policy: a heavy diagonal means within-source
    boilerplate, off-diagonal mass means mirror/scrape overlap
    between corpora.

    Scale: the pair relation is tiny next to the corpus (bounded by
    the LSH bucket cap), so the two source-lookup joins stream it
    against the (doc_id, source) projection; the final groupBy is at
    most |sources|² rows."""
    from ..operators.minhash import minhash_near_duplicates_md5

    # spread the single-row-group scan before the heavy per-row
    # work (see queries/data.py:spread_scan; A/B-measured win)
    d = spread_scan(load(spark, sf, "documents"))
    pairs = minhash_near_duplicates_md5(d, "doc_id", "text", threshold=0.4)
    sa = d.select(F.col("doc_id").alias("id_a"), F.col("source").alias("sa"))
    sb = d.select(F.col("doc_id").alias("id_b"), F.col("source").alias("sb"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            F.least("sa", "sb").alias("src_a"),
            F.greatest("sa", "sb").alias("src_b"),
            "jaccard",
        )
        .groupBy("src_a", "src_b")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.round(F.avg("jaccard"), 6).alias("avg_jaccard"),
        )
    )


SQL_SOURCE_DUP_MATRIX = f"""
WITH pairs AS ({_minhash_md5_oracle_sql()})
SELECT least(da.source, db.source) AS src_a,
       greatest(da.source, db.source) AS src_b,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(AVG(jaccard), 6) AS avg_jaccard
FROM pairs
JOIN documents da ON da.doc_id = pairs.id_a
JOIN documents db ON db.doc_id = pairs.id_b
GROUP BY 1, 2
"""


def q_pmi_collocations(spark: SparkSession, sf: str) -> DataFrame:
    """Top adjacent-bigram collocations by pointwise mutual
    information — PMI(x,y) = log2(p(xy) / (p(x)p(y))) — the
    association mining behind phrase induction and tokenizer-merge
    candidates.  Counts are exact integers; the PMI arithmetic casts
    them to double in the SAME operation order as the oracle, so the
    doubles are IEEE-identical before rounding.

    Scale: a bigram groupBy (term-dim shuffle) and a unigram groupBy;
    the unigram count relation is vocabulary-sized -> broadcast to
    both join probes; corpus totals are 1-row aggregates broadcast by
    crossJoin.  TakeOrdered cuts the ranked output."""
    d = load(spark, sf, "documents")
    toks = d.select(TX.nonempty_tokens("text").alias("t")).filter(
        F.size("t") >= 2
    )
    pair = F.zip_with(
        F.slice("t", 1, F.size("t") - 1),
        F.slice("t", 2, F.size("t") - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    bi = (
        toks.select(F.explode(pair).alias("p"))
        .groupBy("p.w1", "p.w2")
        .agg(F.count(F.lit(1)).alias("cxy"))
    )
    uni = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cw"))
    )
    n1 = uni.agg(F.sum("cw").cast("double").alias("n1"))
    n2 = bi.agg(F.sum("cxy").cast("double").alias("n2"))
    ua = uni.select(F.col("w").alias("w1"), F.col("cw").alias("cx"))
    ub = uni.select(F.col("w").alias("w2"), F.col("cw").alias("cy"))
    pmi = F.log2(
        (F.col("cxy").cast("double") * F.col("n1") * F.col("n1"))
        / (F.col("n2") * F.col("cx").cast("double") * F.col("cy").cast("double"))
    )
    return (
        bi.join(F.broadcast(ua), "w1")
        .join(F.broadcast(ub), "w2")
        .crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(n2))
        .filter(F.col("cxy") >= 5)
        .select(
            "w1",
            "w2",
            F.col("cxy").alias("n_pair"),
            F.round(pmi, 6).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(40)
    )


SQL_PMI_COLLOCATIONS = f"""
WITH toks AS (
  SELECT {TX.nonempty_tokens_sql()} AS t
  FROM documents
), toks2 AS (
  SELECT t FROM toks WHERE len(t) >= 2
), bi AS (
  SELECT p[1] AS w1, p[2] AS w2, COUNT(*) AS cxy
  FROM (
    SELECT unnest(list_transform(range(1, len(t)),
                                 i -> [t[i], t[i+1]])) AS p
    FROM toks2
  )
  GROUP BY 1, 2
), uni AS (
  SELECT w, COUNT(*) AS cw
  FROM (SELECT unnest(t) AS w FROM toks2)
  GROUP BY 1
), n1 AS (SELECT CAST(SUM(cw) AS DOUBLE) AS n1 FROM uni),
n2 AS (SELECT CAST(SUM(cxy) AS DOUBLE) AS n2 FROM bi)
SELECT w1, w2, CAST(cxy AS BIGINT) AS n_pair,
       ROUND(log2((CAST(cxy AS DOUBLE) * n1 * n1)
                  / (n2 * CAST(ua.cw AS DOUBLE) * CAST(ub.cw AS DOUBLE))),
             6) AS pmi
FROM bi
JOIN uni ua ON ua.w = bi.w1
JOIN uni ub ON ub.w = bi.w2
CROSS JOIN n1 CROSS JOIN n2
WHERE cxy >= 5
ORDER BY pmi DESC, w1, w2
LIMIT 40
"""


def q_semantic_dedup_fixed(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup over fixed pretrained centroids: cluster-blocked
    near-dup pair mining (``operators.similarity.
    cluster_blocked_pairs``) — assign each embedding to its nearest
    list head, score cosine pairs ONLY within a cluster via one BLAS
    gram matrix per cluster.  The centroid set is the same plan-time
    constant as ``embedding_kmeans_profile_fixed``, so the oracle
    reproduces assignment, blocking, and scoring value-for-value."""
    from ..operators.similarity import cluster_blocked_pairs

    e = load(spark, sf, "embeddings")
    pairs = cluster_blocked_pairs(
        e, _kmeans_fixed_centroids(), threshold=0.4
    )
    return pairs.orderBy("cluster", "id_a", "id_b")


def sql_semantic_dedup_fixed() -> str:
    return f"""
WITH {_kmeans_fixed_sql()}
SELECT CAST(a.cluster AS BIGINT) AS cluster,
       a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_dot_product(a.u, b.u), 4) AS cosine_sim
FROM unitv a
JOIN unitv b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
WHERE ROUND(list_dot_product(a.u, b.u), 4) >= 0.4
ORDER BY cluster, id_a, id_b
"""


def q_image_phash_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-codec image dedup via perceptual hashing: groups of 3
    documents render the SAME image (pixel seed = the group leader's
    id + text) in rotating containers (PPM/PNG/JPEG/GIF/BMP), then
    every payload is decoded and 64-bit aHash/dHash fingerprinted —
    exact groupBy on the hash recovers the planted duplicate groups
    ACROSS container boundaries, JPEG's lossy re-encode included
    whenever quantization noise stays under the hash's resolution.

    The readout aggregates group sizes: a perfect perceptual hash
    puts every planted triple in one bucket (group_size=3); buckets
    of 1-2 measure how often JPEG noise escapes aHash — the
    image-side analogue of the MinHash accuracy report.

    Scale: decode+hash is one Arrow mapInPandas pass; dedup is ONE
    groupBy on a 64-bit key (the whole point — perceptual near-dup
    at 100 TB collapses to exact dedup on a robust fingerprint)."""
    from ..operators.multimodal import image_hashes, synthesize_mixed_images

    d = load(spark, sf, "documents").select(
        "doc_id", (F.col("doc_id") - F.col("doc_id") % 3).alias("leader")
    )
    lead = load(spark, sf, "documents").select(
        F.col("doc_id").alias("leader"), F.col("text").alias("src_text")
    )
    src = d.join(lead, "leader").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    imgs = synthesize_mixed_images(
        src, "doc_id", "src_text", pixel_id_col="leader"
    )
    hashes = image_hashes(imgs)
    groups = hashes.groupBy("ahash").agg(
        F.count(F.lit(1)).alias("group_size")
    )
    return (
        groups.groupBy("group_size")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_groups"))
        .orderBy("group_size")
    )


def q_hard_negative_mining(spark: SparkSession, sf: str) -> DataFrame:
    """Contrastive-pair mining over fixed centroids: per anchor
    vector, its most-similar same-label neighbor (positive) and
    most-similar different-label neighbor (hard negative), candidates
    blocked by nearest-centroid cluster — the training-pair prep for
    metric learning / embedding finetunes.  Fixed centroids make the
    whole pipeline (assign, block, argmax, tie-break) SQL-expressible
    for the oracle."""
    from ..operators.similarity import hard_negative_mining

    e = load(spark, sf, "embeddings")
    return hard_negative_mining(e, _kmeans_fixed_centroids()).orderBy(
        "anchor_id"
    )


def sql_hard_negative_mining() -> str:
    return f"""
WITH {_kmeans_fixed_sql()},
pairs AS (
  SELECT a.vec_id AS anchor_id, a.cluster,
         b.vec_id AS cand_id, b.label = a.label AS same_label,
         list_dot_product(a.u, b.u) AS s
  FROM unitv a
  JOIN unitv b ON a.cluster = b.cluster AND a.vec_id != b.vec_id
),
pos AS (
  SELECT anchor_id, cand_id AS pos_id, ROUND(s, 4) AS pos_sim
  FROM pairs WHERE same_label
  QUALIFY ROW_NUMBER() OVER (PARTITION BY anchor_id
                             ORDER BY s DESC, cand_id ASC) = 1
),
neg AS (
  SELECT anchor_id, cand_id AS neg_id, ROUND(s, 4) AS neg_sim
  FROM pairs WHERE NOT same_label
  QUALIFY ROW_NUMBER() OVER (PARTITION BY anchor_id
                             ORDER BY s DESC, cand_id ASC) = 1
)
SELECT a.vec_id AS anchor_id, CAST(a.cluster AS BIGINT) AS cluster,
       pos_id, pos_sim, neg_id, neg_sim
FROM assigned a
LEFT JOIN pos ON pos.anchor_id = a.vec_id
LEFT JOIN neg ON neg.anchor_id = a.vec_id
ORDER BY anchor_id
"""


def q_embedding_whitening(spark: SparkSession, sf: str) -> DataFrame:
    """ZCA whitening fit + apply + self-audit: fit mean/covariance in
    one distributed moment pass (bounded |partitions|·(d²+d+1) driver
    reduce), eigh the d×d on the driver, apply the whitening matmul
    per row, then re-measure the covariance of the WHITENED vectors —
    the 1-row readout asserts the transform did its job (diag ≈ 1,
    off-diag ≈ 0).  Rows-only: the eigendecomposition has no SQL
    form; the identity-covariance invariant is the stronger check."""
    from ..operators.whiten import covariance_stats, whiten, zca_matrix

    e = load(spark, sf, "embeddings")
    n, mean, cov = covariance_stats(e)
    w = zca_matrix(cov)
    white = whiten(e, mean, w)
    n2, mean2, cov2 = covariance_stats(white, "whitened")
    d = len(mean)
    diag = cov2.diagonal()
    off = cov2 - _np_diag(diag)
    return local_table(
        spark,
        [
            (
                int(n),
                int(d),
                float(round(abs(diag - 1.0).max(), 4)),
                float(round(abs(off).max(), 4)),
                float(round(abs(mean2).max(), 4)),
            )
        ],
        "n bigint, dim bigint, max_diag_dev double, "
        "max_offdiag double, max_mean_dev double",
    )


def _np_diag(v):
    import numpy as np

    return np.diag(v)


def q_media_triage_report(spark: SparkSession, sf: str) -> DataFrame:
    """Container-metadata triage over audio/video payloads: every doc
    carries an MP4 skeleton or MP3 CBR stream (real headers, no media
    data), ``media_probe`` reads duration/dimensions/track counts
    straight from the container — the routing pass a 100 TB ingest
    runs BEFORE any decode fleet — and the readout aggregates the
    fleet-sizing numbers per container.  Rows-only: header synthesis
    + box/frame parsing has no SQL form; the probe parsers are pinned
    by round-trip pytest fixtures instead."""
    from ..operators.multimodal import media_probe, synthesize_media_containers

    # project to the two columns the synth kernel reads BEFORE
    # the exchange and the opaque mapInPandas (guide §4.1 — Spark
    # cannot see which columns the Python function touches, so
    # without the select every documents column is shuffled and
    # shipped across the Arrow boundary)
    d = load(spark, sf, "documents").select("doc_id", "text").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    probed = media_probe(synthesize_media_containers(d))
    return (
        probed.groupBy("container")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_objects"),
            (F.sum("duration_ms") / 1000).cast("bigint").alias("total_sec"),
            F.round(F.avg("dim0"), 2).alias("avg_dim0"),
            F.round(F.avg("dim1"), 2).alias("avg_dim1"),
            F.sum("n_units").cast("bigint").alias("total_units"),
        )
        .orderBy("container")
    )


def q_ngram_novelty(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document n-gram NOVELTY in arrival (doc_id) order: the
    fraction of a doc's distinct word 5-grams whose first corpus
    occurrence is this doc — the marginal-contribution signal behind
    dedup-aware data valuation (a doc of all-seen grams adds nothing
    to a train set).  Grams are md5'd to fixed-width keys like the
    decontamination pipeline.

    Scale: one explode to (gram, doc) + one term-dim groupBy for
    first-arrival + a join back — the TF-IDF/span-coverage shape."""
    # spread the single-row-group scan before the heavy per-row
    # work (see queries/data.py:spread_scan; A/B-measured win)
    d = spread_scan(load(spark, sf, "documents"))
    grams = TX.word_shingles(TX.nonempty_tokens("text"), 5)
    # persisted: BOTH the first-arrival aggregate and the join-back
    # consume this relation — without it the corpus scan + explode +
    # md5 run twice (the _doc_terms persist lesson; measured ~1 s of
    # the query's ~3.5 s at sf0.1)
    g = (
        d.select("doc_id", F.explode(grams).alias("gram"))
        .select("doc_id", F.md5("gram").alias("gram"))
        .persist()
    )
    first = g.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    return (
        g.join(first, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                (F.col("first_doc") == F.col("doc_id")).cast("bigint")
            ).alias("n_new"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_new",
            F.round(
                F.col("n_new") / F.col("n_grams").cast("double"), 6
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )


SQL_NGRAM_NOVELTY = f"""
WITH {_GRAMS5_SQL}, first AS (
  SELECT gram, MIN(doc_id) AS first_doc FROM grams GROUP BY 1
)
SELECT g.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN first_doc = g.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_new,
       ROUND(SUM(CASE WHEN first_doc = g.doc_id THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS novelty
FROM grams g JOIN first USING (gram)
GROUP BY g.doc_id
ORDER BY g.doc_id
"""


def q_bpe_merge_candidates(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer induction, step one: the first BPE merge iteration —
    adjacent character-pair frequencies WITHIN words, weighted by
    corpus word frequency (exactly what a BPE trainer computes before
    its first merge).  Top pairs by total weight.

    Scale: the char-pair expansion runs over the WORD-FREQUENCY
    relation (vocabulary-sized, not corpus-sized) — the same
    compression BPE trainers rely on; only the word-count groupBy
    touches corpus scale."""
    d = load(spark, sf, "documents")
    words = (
        d.select(F.explode(TX.nonempty_tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.length("w") >= 2)
    )
    pairs = F.expr(
        "transform(sequence(1, length(w) - 1), "
        "i -> struct(substring(w, i, 1) AS a, substring(w, i+1, 1) AS b))"
    )
    return (
        words.select(F.explode(pairs).alias("p"), "cnt")
        .groupBy("p.a", "p.b")
        .agg(F.sum("cnt").alias("weight"))
        .orderBy(F.col("weight").desc(), "a", "b")
        .limit(20)
    )


SQL_BPE_MERGE_CANDIDATES = f"""
WITH words AS (
  SELECT w, COUNT(*) AS cnt
  FROM (SELECT unnest({TX.nonempty_tokens_sql()}) AS w FROM documents)
  GROUP BY 1
), pairs AS (
  SELECT substr(w, i, 1) AS a, substr(w, i + 1, 1) AS b, cnt
  FROM words, unnest(range(1, length(w))) AS u(i)
  WHERE length(w) >= 2
)
SELECT a, b, CAST(SUM(cnt) AS BIGINT) AS weight
FROM pairs
GROUP BY a, b
ORDER BY weight DESC, a, b
LIMIT 20
"""


def q_ann_recall_report(spark: SparkSession, sf: str) -> DataFrame:
    """Self-measuring ANN quality: recall@5 of every approximate
    index (signature LSH, IVF, PQ-ADC) against the exact knn ground
    truth over the SAME 20 query vectors — the "measure, don't
    guess" readout run before trusting an index at corpus scale.
    Recall = |approx∩exact| / k averaged over queries, per method.

    Scale: ground truth is the broadcast-bounded ``knn_join`` (20
    queries, corpus-side scan); each index runs its own documented
    scale path; the compare is a tiny join on (query, neighbor).

    BENCH_EXCLUDEd: the exact ground truth
    dominates the runtime and is never the plan at 100 TB — the four
    index paths are benched as their own registry entries, and the
    recall READOUT itself is value-certified by the deterministic
    ``ann_recall_exact_fixed`` twin."""
    from ..operators.ivf import ivf_topk
    from ..operators.pq import pq_topk, pq_topk_refined, pq_train

    emb = load(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    k = 5
    exact = knn_join(queries, emb, k=k).select(
        "query_id", "neighbor_id"
    )
    books = pq_train(emb, m=8, k=16, iters=8, seed=42, dim=64)
    qlist = [
        (r["vec_id"], r["embedding"])
        for r in queries.select("vec_id", "embedding").collect()
    ]
    from ..operators.similarity import lsh_topk_banded

    methods = {
        "lsh": lsh_topk_banded(emb, queries, k=k, **_LSH_TOPK),
        "ivf": ivf_topk(emb, queries, k=k, n_lists=16, n_probe=6),
        "pq": pq_topk(emb, qlist, books, k=k),
        "pq_refined": pq_topk_refined(
            emb, qlist, books, k=k, refine_factor=8
        ),
    }
    out = None
    for name, approx in methods.items():
        hits = (
            exact.join(
                approx.select("query_id", "neighbor_id"),
                ["query_id", "neighbor_id"],
            )
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("n_hit"))
        )
        rep = exact.select("query_id").distinct().join(
            hits, "query_id", "left"
        ).agg(
            F.lit(name).alias("method"),
            F.round(
                F.avg(F.coalesce(F.col("n_hit"), F.lit(0)) / F.lit(float(k))),
                4,
            ).alias("recall_at_5"),
            F.count(F.lit(1)).cast("bigint").alias("n_queries"),
        )
        out = rep if out is None else out.unionByName(rep)
    return out.orderBy("method")


def q_ann_recall_exact_fixed(spark: SparkSession, sf: str) -> DataFrame:
    """Oracle-backed twin of the ``ann_recall_report`` READOUT: the
    recall@5 intersect-join + per-query aggregation, run over the two
    fully deterministic index paths — fixed-centroid IVF (n_probe=4,
    the ``embedding_ivf_topk_fixed`` heads) and the seeded banded
    hyperplane LSH — against the exact knn ground truth for the SAME
    20 query vectors.  Emitted as EXACT integer sufficient statistics
    (hits / expected / recall as ppm by integer division) so the
    readout gets a value-level driver hash; the trained variants stay
    rows-only in ``ann_recall_report`` (the ``_fixed`` pattern, sixth
    application).

    Scale: ground truth is the broadcast-bounded ``knn_join`` (20
    query rows against the corpus scan); the compare is a tiny join
    on (query, neighbor).  BENCH_EXCLUDEd alongside the other exact
    small-sf baselines: exact kNN over the corpus is never the 100 TB
    plan, and the index paths this certifies are benched as their own
    registry entries (``embedding_lsh_topk``,
    ``embedding_ivf_topk_fixed``)."""
    from ..operators.ivf import ivf_topk
    from ..operators.similarity import lsh_topk_banded

    emb = load(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    k = 5
    exact = knn_join(queries, emb, k=k).select("query_id", "neighbor_id")
    methods = {
        "ivf_fixed": ivf_topk(
            emb, queries, k=k, n_probe=4, centroids=_ivf_fixed_centroids()
        ),
        "lsh": lsh_topk_banded(emb, queries, k=k, **_LSH_TOPK),
    }
    out = None
    for name, approx in methods.items():
        inter = exact.join(
            approx.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
        )
        base = exact.agg(
            F.count_distinct("query_id").cast("bigint").alias("n_queries"),
            F.count(F.lit(1)).cast("bigint").alias("n_expected"),
        )
        hits = inter.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_hits")
        )
        rep = base.crossJoin(hits).select(
            F.lit(name).alias("method"),
            "n_queries",
            "n_hits",
            "n_expected",
            F.expr("(1000000 * n_hits) div n_expected").alias("recall_ppm"),
        )
        out = rep if out is None else out.unionByName(rep)
    return out.orderBy("method")


def sql_ann_recall_exact_fixed() -> str:
    """DuckDB twin of ``q_ann_recall_exact_fixed``: exact top-5 per
    query (the SQL_KNN_JOIN probe at 20 queries), the fixed-IVF
    and banded-LSH probes of ``sql_embedding_ivf_topk_fixed`` and
    ``sql_embedding_lsh_topk``, then the integer recall readout per
    method."""
    return f"""
WITH {_V_SQL},
{_exact_probe_sql(20)},
{_ivf_probe_sql(20)},
{_lsh_probe_sql(20)},
base AS (
  SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries,
         CAST(COUNT(*) AS BIGINT) AS n_expected
  FROM exact_ranked WHERE rnk <= 5
),
hits AS (
  SELECT 'ivf_fixed' AS method, CAST(COUNT(*) AS BIGINT) AS n_hits
  FROM exact_ranked e JOIN ivf_ranked a USING (query_id, neighbor_id)
  WHERE e.rnk <= 5 AND a.rnk <= 5
  UNION ALL
  SELECT 'lsh', CAST(COUNT(*) AS BIGINT)
  FROM exact_ranked e JOIN lsh_ranked a USING (query_id, neighbor_id)
  WHERE e.rnk <= 5 AND a.rnk <= 5
)
SELECT method, n_queries, n_hits, n_expected,
       CAST((1000000 * n_hits) // n_expected AS BIGINT) AS recall_ppm
FROM base, hits
ORDER BY method
"""


def q_bpe_train_report(spark: SparkSession, sf: str) -> DataFrame:
    """REAL BPE training on the corpus (operators.bpe): 8 iterative
    merge rounds over the word-frequency relation — count adjacent
    symbol pairs on the CURRENT segmentation, merge the global
    argmax, recount — then the trained tokenizer re-applied to
    measure symbols-per-word compression.  One step beyond
    ``bpe_merge_candidates`` (which is exactly round 1 of this
    loop).  Rows-only: the training loop is iterative with per-round
    argmax; the trainer is pinned against a direct python reference
    implementation in tests/test_bpe.py instead.

    Scale: the corpus collapses to (word, count) once — the same
    vocabulary-relation leverage every BPE trainer uses; each round
    is one aggregation over it plus a 1-row driver argmax."""
    from ..operators.bpe import bpe_apply, bpe_train

    d = load(spark, sf, "documents")
    words = (
        d.select(F.explode(TX.nonempty_tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    ).persist()
    merges = bpe_train(words, n_merges=8)
    seg = bpe_apply(words, merges)
    comp = seg.agg(
        (
            F.sum(F.length("w") * F.col("cnt"))
            / F.sum(F.size("toks") * F.col("cnt"))
        ).alias("r")
    ).collect()[0]["r"]
    rows = [
        (i + 1, a, b, w, float(round(comp, 4)))
        for i, (a, b, w) in enumerate(merges)
    ]
    return local_table(
        spark,
        rows,
        "round bigint, a string, b string, weight bigint, "
        "chars_per_token double",
    )


def q_event_sequence_prep(spark: SparkSession, sf: str) -> DataFrame:
    """Behavioral-sequence dataset prep: each user's event types in
    exact time order, chunked into fixed-length (8) training windows
    with a per-chunk manifest — the event-log-to-sequence-model step
    (session2vec / next-event prediction).  Order is total
    ((ts_us, event_id) tiebreak) so chunk contents are deterministic.

    Scale: one groupBy(user) with a sorted-array build (per-user
    sequences are session-bounded in practice; the pack is a narrow
    1->N expansion, the ``doc_pack_chunks`` shape)."""
    ev = load(spark, sf, "events")
    seq = (
        ev.groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts_us", "event_id", "event_type"))
            ).alias("s")
        )
        .select(
            "user_id", F.transform("s", lambda x: x["event_type"]).alias("s")
        )
    )
    n_chunks = F.ceil(F.size("s") / F.lit(8)).cast("int")
    chunk = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.slice(F.col("s"), i * 8 + 1, 8),
    )
    return (
        seq.select("user_id", F.posexplode(chunk).alias("chunk_idx", "seq"))
        .select(
            "user_id",
            F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
            F.concat_ws(">", "seq").alias("seq"),
            F.size("seq").cast("bigint").alias("seq_len"),
        )
        .orderBy("user_id", "chunk_idx")
    )


SQL_EVENT_SEQUENCE_PREP = """
WITH seq AS (
  SELECT user_id,
         list(event_type ORDER BY epoch_us(ts), event_id) AS s
  FROM events GROUP BY user_id
), chunks AS (
  SELECT user_id,
         CAST(i AS BIGINT) AS chunk_idx,
         list_slice(s, i * 8 + 1, i * 8 + 8) AS seq
  FROM seq,
       unnest(range(0, CAST(ceil(len(s) / 8.0) AS BIGINT))) AS u(i)
)
SELECT user_id, chunk_idx,
       array_to_string(seq, '>') AS seq,
       CAST(len(seq) AS BIGINT) AS seq_len
FROM chunks
ORDER BY user_id, chunk_idx
"""


def q_label_noise_scan(spark: SparkSession, sf: str) -> DataFrame:
    """kNN label-agreement scan (the Cleanlab-style mislabel
    detector): per vector, the fraction of its 5 nearest
    within-cluster neighbors sharing its label — low agreement flags
    likely label noise before a classifier ever trains on it.
    Candidates are blocked by fixed pretrained centroids, so the
    whole pipeline (assign, block, rank, agree) is SQL-expressible
    for the oracle; ties in similarity break to the smaller
    candidate id."""
    from ..operators.similarity import knn_label_agreement

    e = load(spark, sf, "embeddings")
    return knn_label_agreement(
        e, _kmeans_fixed_centroids(), k=5
    ).orderBy("vec_id")


def sql_label_noise_scan() -> str:
    return f"""
WITH {_kmeans_fixed_sql()},
nn AS (
  SELECT a.vec_id, a.label,
         b.label = a.label AS agree,
         ROW_NUMBER() OVER (PARTITION BY a.vec_id
                            ORDER BY list_dot_product(a.u, b.u) DESC,
                                     b.vec_id ASC) AS rk
  FROM unitv a
  JOIN unitv b ON a.cluster = b.cluster AND a.vec_id != b.vec_id
)
SELECT vec_id, CAST(label AS BIGINT) AS label,
       CAST(COUNT(*) AS BIGINT) AS n_neighbors,
       ROUND(SUM(CASE WHEN agree THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 4) AS label_agreement
FROM nn WHERE rk <= 5
GROUP BY vec_id, label
ORDER BY vec_id
"""


def q_context_budget_report(spark: SparkSession, sf: str) -> DataFrame:
    """Context-window truncation planning: for candidate window
    sizes, how many documents fit whole, how many need chunking, and
    the token volume lost to truncate-vs-chunk policies — the
    capacity planning run before committing a packing layout.
    Token counts are the whitespace tokenizer's (exact, no UDF)."""
    d = load(spark, sf, "documents")
    n = TX.token_count("text")
    toks = d.select(n.alias("n"))
    out = None
    for ctx in (64, 128, 256):
        rep = toks.agg(
            F.lit(ctx).cast("bigint").alias("ctx"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("n") <= ctx).cast("bigint")).alias("fit_whole"),
            F.sum((F.col("n") > ctx).cast("bigint")).alias("need_chunking"),
            F.sum(F.least(F.col("n"), F.lit(ctx))).alias("tokens_if_truncate"),
            F.sum("n").alias("tokens_if_chunk"),
        )
        out = rep if out is None else out.unionByName(rep)
    return out.orderBy("ctx")


SQL_CONTEXT_BUDGET_REPORT = f"""
WITH toks AS (
  SELECT len({TX.tokens_sql()}) AS n
  FROM documents
), ctxs AS (SELECT unnest([64, 128, 256]) AS ctx)
SELECT CAST(ctx AS BIGINT) AS ctx,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN n <= ctx THEN 1 ELSE 0 END) AS BIGINT)
         AS fit_whole,
       CAST(SUM(CASE WHEN n > ctx THEN 1 ELSE 0 END) AS BIGINT)
         AS need_chunking,
       CAST(SUM(LEAST(n, ctx)) AS BIGINT) AS tokens_if_truncate,
       CAST(SUM(n) AS BIGINT) AS tokens_if_chunk
FROM toks CROSS JOIN ctxs
GROUP BY ctx
ORDER BY ctx
"""


#: feature-hashing dimensionality (vowpal-style hashing trick)
_FH_DIM = 64


def _fh_py(tokens) -> list[int]:
    """Driver-side twin of the hashed-BoW embedder (for the fixed
    query vector): bucket = md5 top-52-bits mod dim, sign = next bit
    — the same function the distributed side and the SQL oracle
    compute."""
    import hashlib

    v = [0] * _FH_DIM
    for t in tokens:
        h = int(hashlib.md5(t.encode()).hexdigest()[:13], 16)
        v[h % _FH_DIM] += 1 if (h // _FH_DIM) % 2 == 0 else -1
    return v


def q_feature_hash_embed(spark: SparkSession, sf: str) -> DataFrame:
    """Hashing-trick text vectors without a vocabulary: every doc
    maps to a signed 64-dim hashed bag-of-words (bucket = md5 mod
    dim, sign = md5 parity), scored against a fixed query text by
    cosine — retrieval with ZERO training and zero global state, the
    baseline every learned embedding should beat.  Deterministic end
    to end, so the oracle value-checks the EMBEDDER, not just the
    plumbing.

    Scale: tokens explode to (doc, bucket, sign) and aggregate
    sparsely — ONE shuffle keyed (doc, bucket) with map-side
    combine, densified per doc from <= dim entries (never a
    64x|tokens| per-dim rescan); the query vector is a plan-time
    literal; TakeOrdered cuts the ranked output."""
    d = load(spark, sf, "documents")
    tok = d.select(
        "doc_id", F.explode(TX.nonempty_tokens("text")).alias("t")
    )
    h = F.conv(
        F.substring(F.md5(F.col("t").cast("binary")), 1, 13), 16, 10
    ).cast("bigint")
    sparse = (
        tok.select(
            "doc_id",
            (h % _FH_DIM).alias("b"),
            F.when((h / F.lit(_FH_DIM)).cast("bigint") % 2 == 0, 1)
            .otherwise(-1)
            .alias("s"),
        )
        .groupBy("doc_id", "b")
        .agg(F.sum("s").alias("val"))
    )
    dense = sparse.groupBy("doc_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("b", "val"))
        ).alias("m")
    )
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(_FH_DIM - 1)),
        lambda i: F.coalesce(
            F.element_at(F.col("m"), i.cast("bigint")), F.lit(0)
        ),
    )
    qv = _fh_py(QUERY_TEXT.split(" "))
    qnorm = sum(x * x for x in qv) ** 0.5
    qarr = F.array(*[F.lit(int(x)) for x in qv])
    dot = F.aggregate(
        F.zip_with(F.col("v"), qarr, lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    ).cast("double")
    norm = F.sqrt(
        F.aggregate(
            F.col("v"), F.lit(0).cast("bigint"), lambda acc, x: acc + x * x
        ).cast("double")
    )
    return (
        dense.select("doc_id", vec.alias("v"))
        .select(
            "doc_id",
            F.size(F.filter("v", lambda x: x != 0))
            .cast("bigint")
            .alias("nnz"),
            F.round(norm, 4).alias("l2_norm"),
            F.round(dot / (norm * F.lit(float(qnorm))), 6)
            .alias("cos_to_query"),
        )
        .orderBy(F.col("cos_to_query").desc(), "doc_id")
        .limit(50)
    )


def sql_feature_hash_embed() -> str:
    q = QUERY_TEXT.replace("'", "''")
    return f"""
WITH docs AS (
  SELECT doc_id, {TX.nonempty_tokens_sql()} AS t
  FROM documents
), base AS (
  SELECT doc_id, t FROM docs WHERE len(t) > 0
  UNION ALL
  SELECT -1, string_split('{q}', ' ')
), vecs AS (
  SELECT doc_id,
         list_transform(range(0, {_FH_DIM}), d ->
           list_sum(list_transform(t, tok ->
             CASE WHEN CAST(('0x' || substr(md5(tok), 1, 13)) AS BIGINT)
                       % {_FH_DIM} = d
                  THEN CASE WHEN (CAST(('0x' || substr(md5(tok), 1, 13))
                                       AS BIGINT) // {_FH_DIM}) % 2 = 0
                            THEN 1 ELSE -1 END
                  ELSE 0 END))) AS v
  FROM base
), qv AS (SELECT v FROM vecs WHERE doc_id = -1)
SELECT d.doc_id,
       CAST(len(list_filter(d.v, x -> x != 0)) AS BIGINT) AS nnz,
       ROUND(sqrt(CAST(list_sum(list_transform(d.v, x -> x * x))
                       AS DOUBLE)), 4) AS l2_norm,
       ROUND(CAST(list_sum(list_transform(list_zip(d.v, qv.v),
                                          p -> p[1] * p[2])) AS DOUBLE)
             / (sqrt(CAST(list_sum(list_transform(d.v, x -> x * x))
                          AS DOUBLE))
                * sqrt(CAST(list_sum(list_transform(qv.v, x -> x * x))
                            AS DOUBLE))), 6) AS cos_to_query
FROM vecs d CROSS JOIN qv
WHERE d.doc_id != -1
ORDER BY cos_to_query DESC, doc_id
LIMIT 50
"""


# ------------------------------------------- oracle-backed twins


#: Misra-Gries twins: counters kept per bucket, terms reported
_MG_CAP, _MG_TOPK = 64, 20

#: a document's md5 bucket (8 buckets), Spark and DuckDB forms
_MG_BUCKET = (
    "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 13),"
    " 16, 10) AS BIGINT) % 8"
)
_MG_BUCKET_SQL = (
    "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))"
    " AS BIGINT) % 8"
)


def _mg_bound_report(
    merged: DataFrame, cnt: DataFrame, debt: DataFrame
) -> DataFrame:
    """The Misra-Gries bound readout: merged counters ``(term, est)``
    against the exact counts summed from ``cnt`` and the decrement
    debt ``max_debt``, certifying ``est <= true <= est + max_debt``;
    the top ``_MG_TOPK`` terms by estimate."""
    exact = cnt.groupBy("term").agg(F.sum("cnt").alias("true_cnt"))
    return (
        merged.join(exact, "term")
        .crossJoin(F.broadcast(debt))
        .select(
            "term",
            F.col("est").cast("bigint").alias("est"),
            F.col("true_cnt").cast("bigint").alias("true_cnt"),
            (F.col("true_cnt") - F.col("est"))
            .cast("bigint")
            .alias("underest"),
            "max_debt",
            (
                (F.col("est") <= F.col("true_cnt"))
                & (F.col("true_cnt") - F.col("est") <= F.col("max_debt"))
            ).alias("bound_ok"),
        )
        .orderBy(F.desc("est"), "term")
        .limit(_MG_TOPK)
    )


def _mg_compress_sql(tag: str, src: str) -> str:
    """DuckDB form of the batch-MG compress of ``src``'s
    ``(bucket, term, est)`` counters: per bucket, subtract the
    (cap+1)-th largest value and keep what stays positive.  CTEs
    r{tag} (ranked), thr{tag} (the per-bucket threshold) and
    s{tag} (the kept counters)."""
    return f"""r{tag} AS (
  SELECT bucket, term, est,
         row_number() OVER (PARTITION BY bucket
                            ORDER BY est DESC, term) AS rk
  FROM {src}
), thr{tag} AS (
  SELECT bucket, est AS thr FROM r{tag} WHERE rk = {_MG_CAP + 1}
), s{tag} AS (
  SELECT r.bucket, r.term, r.est - COALESCE(t.thr, 0) AS est
  FROM r{tag} r LEFT JOIN thr{tag} t USING (bucket)
  WHERE r.est - COALESCE(t.thr, 0) > 0
)"""


#: DuckDB form of :func:`_mg_bound_report`, closing a WITH list that
#: holds CTEs cnt, merged(term, est) and debt(max_debt)
_MG_REPORT_SQL = f""", exact AS (
  SELECT term, SUM(cnt) AS true_cnt FROM cnt GROUP BY 1
)
SELECT m.term,
       CAST(m.est AS BIGINT) AS est,
       CAST(e.true_cnt AS BIGINT) AS true_cnt,
       CAST(e.true_cnt - m.est AS BIGINT) AS underest,
       d.max_debt,
       (m.est <= e.true_cnt
        AND e.true_cnt - m.est <= d.max_debt) AS bound_ok
FROM merged m JOIN exact e USING (term) CROSS JOIN debt d
ORDER BY est DESC, term
LIMIT {_MG_TOPK}
"""


def q_mg_heavy_hitters_fixed(spark: SparkSession, sf: str) -> DataFrame:
    """Misra-Gries MERGE-stage certification over a FIXED partition
    layout: terms are routed to 8 deterministic md5 buckets, each
    bucket builds its batch-MG summary RELATIONALLY (exact per-bucket
    counts, subtract the (cap+1)-th largest, keep positive — exactly
    ``operators.sketch._mg_compress`` on a single batch), summaries
    merge by summed lower bound, and the readout joins exact global
    counts to certify the sketch contract value-for-value:
    ``est <= true <= est + Σ bucket thresholds``.  The mapInPandas
    operator path (``terms_heavy_hitters``) stays partition-layout-
    dependent and pytest-pinned; THIS entry pins the same summarize/
    compress/merge algebra where every step is engine-agnostic."""
    from pyspark.sql import Window

    cap = _MG_CAP
    d = load(spark, sf, "documents")
    # bucket hashed ONCE per document (projection order: hash, then
    # explode), not once per exploded token row
    terms = d.select(
        F.expr(_MG_BUCKET).alias("bucket"),
        TX.nonempty_tokens("text").alias("toks"),
    ).select("bucket", F.explode("toks").alias("term"))
    cnt = terms.groupBy("bucket", "term").agg(
        F.count(F.lit(1)).alias("cnt")
    ).persist()
    w = Window.partitionBy("bucket").orderBy(F.desc("cnt"), "term")
    ranked = cnt.withColumn("rk", F.row_number().over(w))
    thr = ranked.filter(F.col("rk") == cap + 1).select(
        "bucket", F.col("cnt").alias("thr")
    )
    # batch-MG compress: est = cnt - threshold, keep positive (the
    # filter IS the <=cap counter cap: rank > cap implies cnt <= thr)
    summ = (
        ranked.join(F.broadcast(thr), "bucket", "left")
        .withColumn(
            "est", F.col("cnt") - F.coalesce(F.col("thr"), F.lit(0))
        )
        .filter(F.col("est") > 0)
    )
    merged = summ.groupBy("term").agg(F.sum("est").alias("est"))
    debt = thr.agg(
        F.coalesce(F.sum("thr"), F.lit(0)).cast("bigint").alias("max_debt")
    )
    return _mg_bound_report(merged, cnt, debt)


SQL_MG_HEAVY_HITTERS_FIXED = f"""
WITH toks AS (
  SELECT {_MG_BUCKET_SQL} AS bucket, {TX.nonempty_tokens_sql()} AS t
  FROM documents
), cnt AS (
  SELECT bucket, u.term, COUNT(*) AS cnt
  FROM toks, UNNEST(t) AS u(term) GROUP BY 1, 2
), {_mg_compress_sql("1", "(SELECT bucket, term, cnt AS est FROM cnt)")},
merged AS (
  SELECT term, SUM(est) AS est FROM s1 GROUP BY 1
), debt AS (
  SELECT CAST(COALESCE(SUM(thr), 0) AS BIGINT) AS max_debt FROM thr1
){_MG_REPORT_SQL}"""


def q_mg_stream_topk_fixed(spark: SparkSession, sf: str) -> DataFrame:
    """Misra-Gries SEQUENTIAL-merge certification — the streamed-
    table decomposition (the ``ivf_stream_topk_fixed`` pattern
    applied to MG): the corpus arrives as two md5-split batches;
    batch 1's exact per-bucket term counts compress to <= cap
    counters per bucket (the classic decrement), batch 2's counts
    fold INTO the stored counters and re-compress — exactly what
    ``streaming.sketch_rollup.merge_mg_batch`` does per micro-batch,
    with deterministic relational summaries in place of the
    partition-level mapInPandas partials so DuckDB replays every
    counter value-for-value.  The readout joins exact global counts
    and the accumulated decrement debt to certify the mergeable-
    summaries contract (Agarwal et al.): after BOTH merge stages,
    ``est <= true <= est + sum(all thresholds)``.  Terms are routed
    to 8 md5 buckets (independent hash from the batch split) so
    every window is bucket-partitioned — the partitioned-MG layout a
    100 TB table would use; state is <= 8*cap rows between batches.
    ``mg_heavy_hitters_fixed`` certifies the PARALLEL merge of the
    same algebra; this entry certifies it SEQUENTIALLY, which is the
    maintenance path."""
    from pyspark.sql import Window

    cap = _MG_CAP
    d = load(spark, sf, "documents")
    terms = d.select(
        F.expr(
            "CAST(conv(substring(md5(concat('b:', "
            "CAST(doc_id AS STRING))), 1, 13), 16, 10) AS BIGINT) % 2"
        ).alias("b"),
        F.expr(_MG_BUCKET).alias("bucket"),
        TX.nonempty_tokens("text").alias("toks"),
    ).select("b", "bucket", F.explode("toks").alias("term"))
    cnt = terms.groupBy("b", "bucket", "term").agg(
        F.count(F.lit(1)).alias("cnt")
    ).persist()

    w = Window.partitionBy("bucket").orderBy(F.desc("est"), "term")

    def compress(df):
        """(bucket, term, est) -> (kept counters, per-bucket thr)."""
        ranked = df.withColumn("rk", F.row_number().over(w))
        thr = ranked.filter(F.col("rk") == cap + 1).select(
            "bucket", F.col("est").alias("thr")
        )
        summ = (
            ranked.join(F.broadcast(thr), "bucket", "left")
            .withColumn(
                "est", F.col("est") - F.coalesce(F.col("thr"), F.lit(0))
            )
            .filter(F.col("est") > 0)
            .select("bucket", "term", "est")
        )
        return summ, thr

    s1, thr1 = compress(
        cnt.filter(F.col("b") == 0).select(
            "bucket", "term", F.col("cnt").alias("est")
        )
    )
    folded = (
        s1.unionByName(
            cnt.filter(F.col("b") == 1).select(
                "bucket", "term", F.col("cnt").alias("est")
            )
        )
        .groupBy("bucket", "term")
        .agg(F.sum("est").alias("est"))
    )
    s2, thr2 = compress(folded)
    merged = s2.groupBy("term").agg(F.sum("est").alias("est"))
    debt = (
        thr1.select("thr")
        .unionByName(thr2.select("thr"))
        .agg(
            F.coalesce(F.sum("thr"), F.lit(0))
            .cast("bigint")
            .alias("max_debt")
        )
    )
    return _mg_bound_report(merged, cnt, debt)


SQL_MG_STREAM_TOPK_FIXED = f"""
WITH toks AS (
  SELECT CAST(('0x' || substr(md5('b:' || CAST(doc_id AS VARCHAR)), 1, 13))
              AS BIGINT) % 2 AS b,
         {_MG_BUCKET_SQL} AS bucket, {TX.nonempty_tokens_sql()} AS t
  FROM documents
), cnt AS (
  SELECT b, bucket, u.term, COUNT(*) AS cnt
  FROM toks, UNNEST(t) AS u(term) GROUP BY 1, 2, 3
), {_mg_compress_sql(
    "1", "(SELECT bucket, term, cnt AS est FROM cnt WHERE b = 0)")},
folded AS (
  SELECT bucket, term, SUM(est) AS est FROM (
    SELECT bucket, term, est FROM s1
    UNION ALL
    SELECT bucket, term, cnt AS est FROM cnt WHERE b = 1
  ) GROUP BY 1, 2
), {_mg_compress_sql("2", "folded")},
merged AS (
  SELECT term, SUM(est) AS est FROM s2 GROUP BY 1
), debt AS (
  SELECT CAST(COALESCE(SUM(thr), 0) AS BIGINT) AS max_debt FROM (
    SELECT thr FROM thr1 UNION ALL SELECT thr FROM thr2
  )
){_MG_REPORT_SQL}"""


def q_simhash_accuracy(spark: SparkSession, sf: str) -> DataFrame:
    """Sketch calibration for the md5 SimHash family (the
    ``minhash_accuracy`` pattern, third application): banded
    candidate pairs from the 64-bit fingerprint's four 16-bit chunks,
    then per pair the Hamming distance, the SimHash cosine ESTIMATE
    cos(pi*h/64), the EXACT token-count cosine, and the absolute
    error — run before trusting a Hamming threshold on a large
    near-dup sweep.  Every step (tokenize, md5 bit fold, chunk join,
    integer dot products) is engine-agnostic; the xxhash64 fast path
    (``simhash_fingerprints``) stays rows-only, pair-set-parity
    pinned by tests/test_fastpath_parity.py.  Runs on the same ~50%
    md5 doc sample as ``minhash_accuracy`` (calibration is a sample
    property; the full-corpus pass is the dedup job itself)."""
    from ..operators.simhash import simhash_bits_md5

    d = load(spark, sf, "documents").filter(
        F.md5(F.col("doc_id").cast("string").cast("binary")) < "80"
    )
    # persist the fingerprint relation —
    # unpersisted, its subtree (tokenize + per-token md5 + 64-bit
    # fold, the query's most expensive expression) was inlined FOUR
    # times into the final plan (both sides of the chunk self-join,
    # duplicated again under the dots branch because ``pairs`` is
    # referenced twice).  Same minhash-operator idiom: sigs persist
    # once, every consumer reads the cache.
    bits = simhash_bits_md5(d, "doc_id", "text").persist()
    chunks = bits.select(
        "doc_id",
        "bits",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("chunk_idx"),
                    F.substring("bits", i * 16 + 1, 16).alias("chunk_val"),
                )
                for i in range(4)
            ])
        ).alias("c"),
    ).select("doc_id", "bits", "c.chunk_idx", "c.chunk_val")
    left = chunks.select(
        F.col("doc_id").alias("id_a"), F.col("bits").alias("bits_a"),
        "chunk_idx", "chunk_val",
    )
    right = chunks.select(
        F.col("doc_id").alias("id_b"), F.col("bits").alias("bits_b"),
        "chunk_idx", "chunk_val",
    )
    # persisted for the same reason as ``bits``: the pair relation
    # feeds both the hamming/scored branch and the exact-cosine dots
    # branch — without the cache the whole candidate stage runs twice
    pairs = (
        left.join(right, ["chunk_idx", "chunk_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "bits_a", "bits_b")
        .distinct()
        .persist()
    )
    ham = F.expr(
        "CAST(size(filter(sequence(1, 64), "
        "i -> substr(bits_a, i, 1) != substr(bits_b, i, 1))) AS BIGINT)"
    )
    tf = (
        d.select(
            "doc_id", F.explode(TX.nonempty_tokens("text")).alias("term")
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist()
    )
    norms = tf.groupBy("doc_id").agg(
        F.sum(F.col("tf") * F.col("tf")).alias("sq")
    )
    ta = tf.select(
        F.col("doc_id").alias("id_a"), "term", F.col("tf").alias("tf_a")
    )
    tb = tf.select(
        F.col("doc_id").alias("id_b"), "term", F.col("tf").alias("tf_b")
    )
    dots = (
        pairs.select("id_a", "id_b")
        .join(ta, "id_a")
        .join(tb, ["id_b", "term"])
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("tf_a") * F.col("tf_b")).alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("id_a"), F.col("sq").alias("sq_a"))
    nb = norms.select(F.col("doc_id").alias("id_b"), F.col("sq").alias("sq_b"))
    scored = (
        pairs.withColumn("hamming", ham)
        .join(dots, ["id_a", "id_b"], "left")
        .join(F.broadcast(na), "id_a")
        .join(F.broadcast(nb), "id_b")
        .select(
            "id_a",
            "id_b",
            "hamming",
            F.round(
                F.cos(F.lit(3.141592653589793) * F.col("hamming") / 64), 6
            ).alias("est_cos"),
            F.round(
                F.coalesce(F.col("dot"), F.lit(0)).cast("double")
                / (F.sqrt(F.col("sq_a")) * F.sqrt(F.col("sq_b"))),
                6,
            ).alias("exact_cos"),
        )
    )
    return scored.select(
        "id_a", "id_b", "hamming", "est_cos", "exact_cos",
        F.round(F.abs(F.col("est_cos") - F.col("exact_cos")), 6)
        .alias("abs_err"),
    ).orderBy("id_a", "id_b")


SQL_SIMHASH_ACCURACY = f"""
WITH {_simhash_bits_sql(" WHERE md5(CAST(doc_id AS VARCHAR)) < '80'")},
chunks AS (
  SELECT doc_id, bits, u.i AS chunk_idx,
         substr(bits, CAST(u.i * 16 + 1 AS INT), 16) AS chunk_val
  FROM bits, UNNEST(range(0, 4)) AS u(i)
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.bits AS bits_a, b.bits AS bits_b
  FROM chunks a
  JOIN chunks b ON a.chunk_idx = b.chunk_idx
               AND a.chunk_val = b.chunk_val
               AND a.doc_id < b.doc_id
), tf AS (
  SELECT doc_id, u.term, COUNT(*) AS tf
  FROM toks, UNNEST(t) AS u(term)
  GROUP BY 1, 2
), norms AS (
  SELECT doc_id, SUM(tf * tf) AS sq FROM tf GROUP BY 1
), dots AS (
  SELECT p.id_a, p.id_b, SUM(a.tf * b.tf) AS dot
  FROM pairs p
  JOIN tf a ON a.doc_id = p.id_a
  JOIN tf b ON b.doc_id = p.id_b AND b.term = a.term
  GROUP BY 1, 2
), scored AS (
  SELECT p.id_a, p.id_b,
         CAST(len(list_filter(range(1, 65), i ->
           substr(p.bits_a, CAST(i AS INT), 1)
           != substr(p.bits_b, CAST(i AS INT), 1))) AS BIGINT) AS hamming,
         COALESCE(d.dot, 0) AS dot, na.sq AS sq_a, nb.sq AS sq_b
  FROM pairs p
  LEFT JOIN dots d ON d.id_a = p.id_a AND d.id_b = p.id_b
  JOIN norms na ON na.doc_id = p.id_a
  JOIN norms nb ON nb.doc_id = p.id_b
), rounded AS (
  SELECT id_a, id_b, hamming,
         ROUND(cos(pi() * hamming / 64), 6) AS est_cos,
         ROUND(CAST(dot AS DOUBLE) / (sqrt(sq_a) * sqrt(sq_b)), 6)
           AS exact_cos
  FROM scored
)
SELECT id_a, id_b, hamming, est_cos, exact_cos,
       ROUND(abs(est_cos - exact_cos), 6) AS abs_err
FROM rounded
ORDER BY id_a, id_b
"""


#: fixed-subspace whitening dimensions (first _WF_D embedding dims)
_WF_D = 16


def _wf_fixed_moments():
    """Deterministic FIXED moments (mean + SPD covariance) from pure
    integer formulas — the `_fixed` pattern's 'pretrained model'
    stand-in: both engines see the exact same doubles, so the ZCA
    matrix derived from them (numpy eigh, computed once per process)
    is plan-constant and embeddable in the oracle as literals.  The
    matrix's last bits follow the BLAS kernel numpy's OpenBLAS picks
    for the host CPU; within one process they are the same on both
    sides, which is all the oracle comparison needs."""
    import numpy as np

    j = np.arange(_WF_D)
    mu = ((7 * j) % 13 - 6) / 20.0
    a = (((31 * j[:, None] + 17 * j[None, :]) % 11) - 5) / 8.0
    cov = a @ a.T / _WF_D + 0.5 * np.eye(_WF_D)
    return mu, cov


def q_embedding_whitening_fixed(spark: SparkSession, sf: str) -> DataFrame:
    """ZCA whitening APPLY + re-measured covariance with FIXED
    moments (the `_fixed` pattern, 4th application — pretrained
    mean/covariance as plan constants): whiten the first 16 embedding
    dims through ``operators.whiten.whiten`` (the real Arrow matmul
    path), then measure the whitened covariance RELATIONALLY (the
    ``embedding_covariance_stats`` shape) and emit the structure
    readout (:func:`_covariance_readout`).  Unlike
    ``embedding_whitening`` (moments fitted on the data; eigh has no
    SQL form), every number here is reproducible in SQL because the
    whitening matrix is a literal.  Whiten is a narrow per-row
    pass."""
    from ..functions.vectors import as_double_array
    from ..operators.whiten import whiten, zca_matrix

    mu, cov = _wf_fixed_moments()
    w = zca_matrix(cov)
    e = load(spark, sf, "embeddings").select(
        "vec_id",
        F.slice(as_double_array("embedding"), 1, _WF_D).alias("emb16"),
    )
    white = whiten(e, mu, w, vec_col="emb16", out_col="whitened")
    return _covariance_readout(
        white.select("vec_id", F.posexplode("whitened").alias("i", "x"))
    )


def sql_embedding_whitening_fixed() -> str:
    """Oracle twin: the SAME fixed-moment ZCA matrix (identical
    ndarray, full-precision repr literals) applied per row with list
    lambdas, then the identical relational covariance readout."""
    from ..operators.whiten import zca_matrix

    mu, cov = _wf_fixed_moments()
    w = zca_matrix(cov)
    wlit = ", ".join(vector_sql(row) for row in w)
    return _covariance_readout_sql(f"""wmat AS (
  SELECT [{wlit}] AS w, {vector_sql(mu)} AS mu
), white AS (
  SELECT vec_id,
         list_transform(range(1, {_WF_D + 1}), i ->
           list_sum(list_transform(range(1, {_WF_D + 1}), j ->
             w[i][j] * (CAST(embedding[j] AS DOUBLE) - mu[j])))) AS v
  FROM embeddings CROSS JOIN wmat
), dims AS (
  SELECT vec_id, u.i AS i, v[u.i] AS x
  FROM white, UNNEST(range(1, {_WF_D + 1})) AS u(i)
)""")


def q_matryoshka_overlap_report(spark: SparkSession, sf: str) -> DataFrame:
    """Matryoshka-style truncation quality readout: how much of the
    FULL-dimension cosine top-5 ranking survives when embeddings are
    truncated to their first 16 / 32 dims — the go/no-go check before
    shipping truncated vectors to a cheaper ANN tier (MRL embeddings
    are trained so prefixes stay usable; this measures whether OURS
    are).  For 5 fixed query vectors and each prefix width, the top-5
    by prefix cosine is compared to the top-5 by full cosine:
    overlap@5 + mean absolute cosine gap on the agreed set.

    Scale: queries broadcast; per width the corpus is scored in one
    narrow pass (slice + fold, no shuffle until the per-query top-k
    window over |Q|x|corpus| scored rows partial-TakeOrdereds)."""
    from pyspark.sql import Window
    from ..functions.vectors import as_double_array

    emb = load(spark, sf, "embeddings")
    q = F.broadcast(
        emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"),
            as_double_array("embedding").alias("qv"),
        )
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        as_double_array("embedding").alias("cv"),
    )
    scored = q.crossJoin(c).filter(
        F.col("query_id") != F.col("neighbor_id")
    )

    def topk(width: int, k: int = 5):
        dot = F.expr(
            f"aggregate(zip_with(slice(qv, 1, {width}),"
            f" slice(cv, 1, {width}), (a, b) -> a * b),"
            " cast(0.0 as double), (s, x) -> s + x)"
        )
        nq = F.sqrt(F.expr(
            f"aggregate(slice(qv, 1, {width}), cast(0.0 as double),"
            " (s, x) -> s + x * x)"
        ))
        nc = F.sqrt(F.expr(
            f"aggregate(slice(cv, 1, {width}), cast(0.0 as double),"
            " (s, x) -> s + x * x)"
        ))
        w = Window.partitionBy("query_id").orderBy(
            F.round(F.col("cos_raw"), 12).desc(), F.col("neighbor_id")
        )
        return (
            scored.withColumn("cos_raw", dot / (nq * nc))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(
                "query_id", "neighbor_id",
                F.round("cos_raw", 6).alias(f"cos_{width}"),
            )
        )

    full = topk(64)
    # spine WITHOUT the broadcast hint: it is the LEFT side of the
    # per-width left join below, and a left-side broadcast hint on a
    # left OUTER join is unsupported (Spark drops it with a
    # HintErrorLogger warning and falls back to a sort-merge join of
    # a 5-row spine).  Hinting the small RIGHT side instead keeps the
    # join shuffle-free.
    spine = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id")
    )
    out = []
    for width in (16, 32):
        t = topk(width)
        agreed = full.join(t, ["query_id", "neighbor_id"])
        per_q = agreed.groupBy("query_id").agg(
            F.count(F.lit(1)).cast("bigint").alias("overlap5"),
            F.round(
                F.avg(F.abs(F.col("cos_64") - F.col(f"cos_{width}"))),
                6,
            ).alias("mean_cos_gap"),
        )
        # LEFT join from the query spine: a width whose top-5 shares
        # NOTHING with the full ranking must still report overlap5=0
        # (the go/no-go signal), not silently vanish
        out.append(
            spine.join(F.broadcast(per_q), "query_id", "left")
            .select(
                "query_id",
                F.lit(width).cast("bigint").alias("width"),
                F.coalesce(F.col("overlap5"), F.lit(0))
                .cast("bigint")
                .alias("overlap5"),
                "mean_cos_gap",
            )
        )
    res = out[0].unionByName(out[1])
    return res.orderBy("query_id", "width")


def _sql_matryoshka_scored(width: int) -> str:
    cos = cosine_sql(f"list_slice(q.embedding::DOUBLE[], 1, {width})",
                     f"list_slice(c.embedding::DOUBLE[], 1, {width})")
    return f"""
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {cos} AS cos_raw
  FROM embeddings q, embeddings c
  WHERE q.vec_id < 5 AND c.vec_id != q.vec_id
"""


def sql_matryoshka_overlap_report() -> str:
    parts = []
    for width in (16, 32, 64):
        parts.append(f"""
top{width} AS (
  SELECT query_id, neighbor_id, ROUND(cos_raw, 6) AS cos_{width}
  FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id
        ORDER BY ROUND(cos_raw, 12) DESC, neighbor_id) AS rnk
    FROM ({_sql_matryoshka_scored(width)}) s{width}
  ) r{width} WHERE rnk <= 5
)""")
    return f"""
WITH {', '.join(parts)}
SELECT s.query_id, CAST(s.width AS BIGINT) AS width,
       CAST(COALESCE(u.overlap5, 0) AS BIGINT) AS overlap5,
       u.mean_cos_gap
FROM (SELECT DISTINCT vec_id AS query_id, w.width
      FROM embeddings, (VALUES (16), (32)) AS w(width)
      WHERE vec_id < 5) s
LEFT JOIN (
  SELECT f.query_id, 16 AS width, COUNT(*) AS overlap5,
         ROUND(AVG(abs(f.cos_64 - t.cos_16)), 6) AS mean_cos_gap
  FROM top64 f JOIN top16 t USING (query_id, neighbor_id)
  GROUP BY 1
  UNION ALL
  SELECT f.query_id, 32 AS width, COUNT(*) AS overlap5,
         ROUND(AVG(abs(f.cos_64 - t.cos_32)), 6) AS mean_cos_gap
  FROM top64 f JOIN top32 t USING (query_id, neighbor_id)
  GROUP BY 1
) u ON u.query_id = s.query_id AND u.width = s.width
ORDER BY s.query_id, s.width
"""


def q_perplexity_bucket_report(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style perplexity bucketing: score every document under
    the corpus unigram LM (mean token log-prob, the
    ``doc_unigram_logprob`` model), split the corpus into quartile
    buckets at the LM-score quantiles, and report each bucket's
    volume — the head/middle/tail routing step CCNet uses to keep
    middle-perplexity text and route the tail to heavier filters.

    Buckets are assigned by CASE against the three 1-row quantile
    thresholds (broadcast) — no global ntile sort, so the doc-grain
    relation never single-partitions; thresholds AND scores compare
    on the 6-decimal grid so the cut is engine-exact."""
    tf, _lens = _doc_terms(spark, sf)
    scored = _unigram_scores(
        tf, lambda lp: F.round(lp, 6).alias("score")
    )
    qs = scored.agg(
        F.round(F.expr("percentile(score, 0.25)"), 6).alias("q1"),
        F.round(F.expr("percentile(score, 0.50)"), 6).alias("q2"),
        F.round(F.expr("percentile(score, 0.75)"), 6).alias("q3"),
    )
    bucket = (
        F.when(F.col("score") <= F.col("q1"), "q1_tail")
        .when(F.col("score") <= F.col("q2"), "q2")
        .when(F.col("score") <= F.col("q3"), "q3")
        .otherwise("q4_head")
    )
    return (
        scored.crossJoin(F.broadcast(qs))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("total_toks"),
            F.round(F.min("score"), 6).alias("min_score"),
            F.round(F.max("score"), 6).alias("max_score"),
        )
        .orderBy("bucket")
    )


SQL_PERPLEXITY_BUCKET_REPORT = f"""
WITH {_DOC_TERMS_SQL},
{_unigram_scored_sql(lambda lp: f"ROUND({lp}, 6) AS score")},
qs AS (
  SELECT ROUND(quantile_cont(score, 0.25), 6) AS q1,
         ROUND(quantile_cont(score, 0.50), 6) AS q2,
         ROUND(quantile_cont(score, 0.75), 6) AS q3
  FROM scored
)
SELECT CASE WHEN score <= q1 THEN 'q1_tail'
            WHEN score <= q2 THEN 'q2'
            WHEN score <= q3 THEN 'q3'
            ELSE 'q4_head' END AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_toks) AS BIGINT) AS total_toks,
       ROUND(MIN(score), 6) AS min_score,
       ROUND(MAX(score), 6) AS max_score
FROM scored CROSS JOIN qs
GROUP BY 1
ORDER BY bucket
"""


_DSIR_B = 1024  # hashed feature buckets


def q_dsir_importance_report(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR-style data selection (Xie et al., "Data Selection for
    Language Models via Importance Resampling", public literature):
    score every document by its importance weight for a TARGET
    distribution (here: the English sub-corpus) versus the RAW
    corpus, using hashed n-gram features — the published scalable
    recipe for "pick pretraining data that looks like the domain you
    care about" without training a classifier.

    Features are the doc's DISTINCT unigrams + word bigrams hashed
    into 1024 buckets (md5, deterministic); both distributions get
    +1/bucket additive smoothing, and the per-doc log importance
    weight is

        sum_b c_b * (ln(t_b+1) - ln(r_b+1))
          - n * (ln(T+1024) - ln(R+1024))

    — exact integer counts everywhere, ln at the edge only (the
    ``doc_unigram_logprob`` numeric precedent), score and threshold
    both rounded to 6 decimals before the flag compare (the
    ``perplexity_bucket_report`` precedent).

    Scale: one explode + one groupBy builds the (doc, bucket, c)
    relation; the bucket LM is 1024 rows — broadcast BY CONSTRUCTION
    no matter the corpus size (this is the entire point of hashed
    features: the model dimension is fixed); totals are scalar
    broadcasts; the top-quartile threshold is one exact percentile
    over the per-doc score relation.

    The scan is repartitioned to the default parallelism BEFORE the
    feature explode (guide §2.5 input skew): the corpus arrives
    as one row group, so the ~2M-feature md5 projection would
    otherwise run inside the single scan task; one tiny exchange of
    the raw text spreads the hashing across every core (measured
    sf0.1: 4.3-5.2 s -> 3.7-4.0 s warm, more when cold).  On a
    many-file corpus the exchange is a rebalance, not a semantic
    change — the downstream groupBy re-keys anyway."""
    d = spread_scan(
        load(spark, sf, "documents").select("doc_id", "lang", "text")
    )
    t = TX.nonempty_tokens("text")
    feats = d.select(
        "doc_id",
        "lang",
        F.explode(
            F.concat(F.array_distinct(t), TX.word_shingles(t, 2))
        ).alias("f"),
    ).select(
        "doc_id",
        "lang",
        F.expr(
            "CAST(conv(substring(md5(concat('dsir:', f)), 1, 13), "
            f"16, 10) AS BIGINT) % {_DSIR_B}"
        ).alias("b"),
    )
    dc = (
        feats.groupBy("doc_id", "lang", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .persist()
    )
    raw = dc.groupBy("b").agg(F.sum("c").alias("r"))
    tgt = (
        dc.filter(F.col("lang") == "en")
        .groupBy("b")
        .agg(F.sum("c").alias("t"))
    )
    lm = raw.join(tgt, "b", "left").select(
        "b",
        "r",
        F.coalesce(F.col("t"), F.lit(0).cast("bigint")).alias("t"),
    )
    tots = lm.agg(
        F.sum("r").alias("bigr"), F.sum("t").alias("bigt")
    ).select(
        (F.log(F.col("bigt") + _DSIR_B) - F.log(F.col("bigr") + _DSIR_B))
        .alias("norm")
    )
    scored = (
        dc.join(
            F.broadcast(
                lm.select(
                    "b",
                    (F.log(F.col("t") + 1) - F.log(F.col("r") + 1)).alias(
                        "lr"
                    ),
                )
            ),
            "b",
        )
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("c").cast("bigint").alias("n_feats"),
            F.sum(F.col("c") * F.col("lr")).alias("lw"),
        )
        .crossJoin(F.broadcast(tots))
        .select(
            "doc_id",
            "lang",
            "n_feats",
            F.round(
                F.col("lw") - F.col("n_feats") * F.col("norm"), 6
            ).alias("log_weight"),
        )
    )
    thr = scored.agg(
        F.round(F.expr("percentile(log_weight, 0.75)"), 6).alias("p75")
    )
    return scored.crossJoin(F.broadcast(thr)).select(
        "doc_id",
        "lang",
        "n_feats",
        "log_weight",
        (F.col("log_weight") > F.col("p75")).alias("flag_dsir_top25"),
    )


SQL_DSIR_IMPORTANCE_REPORT = f"""
WITH toks AS (
  SELECT doc_id, lang, {TX.nonempty_tokens_sql()} AS t
  FROM documents
), uni AS (
  SELECT DISTINCT doc_id, lang, u.f
  FROM toks, UNNEST(t) AS u(f)
), bi AS (
  SELECT DISTINCT doc_id, lang,
         array_to_string(t[u.i : u.i + 1], ' ') AS f
  FROM toks, UNNEST(range(1, len(t))) AS u(i)
), feats AS (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5('dsir:' || f), 1, 13)) AS BIGINT)
           % {_DSIR_B} AS b
  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
), dc AS (
  SELECT doc_id, lang, b, COUNT(*)::BIGINT AS c
  FROM feats GROUP BY 1, 2, 3
), raw AS (
  SELECT b, SUM(c)::BIGINT AS r FROM dc GROUP BY 1
), tgt AS (
  SELECT b, SUM(c)::BIGINT AS t FROM dc WHERE lang = 'en' GROUP BY 1
), lm AS (
  SELECT raw.b, raw.r, COALESCE(tgt.t, 0)::BIGINT AS t
  FROM raw LEFT JOIN tgt USING (b)
), tots AS (
  SELECT ln(SUM(t) + {_DSIR_B}) - ln(SUM(r) + {_DSIR_B}) AS norm
  FROM lm
), scored AS (
  SELECT doc_id, lang,
         CAST(SUM(c) AS BIGINT) AS n_feats,
         ROUND(SUM(c * (ln(lm.t + 1) - ln(lm.r + 1)))
               - SUM(c) * ANY_VALUE(norm), 6) AS log_weight
  FROM dc JOIN lm USING (b) CROSS JOIN tots
  GROUP BY 1, 2
), thr AS (
  SELECT ROUND(quantile_cont(log_weight, 0.75), 6) AS p75 FROM scored
)
SELECT doc_id, lang, n_feats, log_weight,
       log_weight > p75 AS flag_dsir_top25
FROM scored CROSS JOIN thr
"""


#: a None oracle marks a probabilistic or pandas-UDF path: the driver
#: checks rows only, and tests/ verify it against ground truth
QUERIES = (
    ("feature_hash_embed", q_feature_hash_embed, sql_feature_hash_embed()),
    ("event_sequence_prep", q_event_sequence_prep, SQL_EVENT_SEQUENCE_PREP),
    ("dsir_importance_report", q_dsir_importance_report,
     SQL_DSIR_IMPORTANCE_REPORT),
    ("label_noise_scan", q_label_noise_scan, sql_label_noise_scan()),
    ("context_budget_report", q_context_budget_report,
     SQL_CONTEXT_BUDGET_REPORT),
    ("bpe_train_report", q_bpe_train_report, None),
    ("ann_recall_report", q_ann_recall_report, None),
    ("ann_recall_exact_fixed", q_ann_recall_exact_fixed,
     sql_ann_recall_exact_fixed()),
    ("ngram_novelty", q_ngram_novelty, SQL_NGRAM_NOVELTY),
    ("bpe_merge_candidates", q_bpe_merge_candidates, SQL_BPE_MERGE_CANDIDATES),
    ("media_triage_report", q_media_triage_report, None),
    ("embedding_whitening", q_embedding_whitening, None),
    ("hard_negative_mining", q_hard_negative_mining,
     sql_hard_negative_mining()),
    ("image_phash_dedup", q_image_phash_dedup, None),
    ("text_token_stats", q_text_token_stats, SQL_TEXT_TOKEN_STATS),
    ("lang_id_confusion", q_lang_id_confusion, SQL_LANG_ID_CONFUSION),
    ("doc_fingerprint", q_doc_fingerprint, SQL_DOC_FINGERPRINT),
    ("dedup_documents_exact", q_dedup_documents_exact,
     SQL_DEDUP_DOCUMENTS_EXACT),
    ("doc_quality_score", q_doc_quality_score, SQL_DOC_QUALITY_SCORE),
    ("token_count_bpe", q_token_count_bpe, SQL_TOKEN_COUNT_BPE),
    ("embedding_neardup", q_embedding_neardup, SQL_EMBEDDING_NEARDUP),
    ("ngram_jaccard_query", q_ngram_jaccard_query, SQL_NGRAM_JACCARD_QUERY),
    ("embedding_topk", q_embedding_topk, SQL_EMBEDDING_TOPK),
    ("knn_join", q_knn_join, SQL_KNN_JOIN),
    ("minhash_neardup", q_minhash_neardup, None),
    ("minhash_neardup_md5", q_minhash_neardup_md5, SQL_MINHASH_NEARDUP_MD5),
    ("incremental_neardup_fixed", q_incremental_neardup_fixed,
     SQL_INCREMENTAL_NEARDUP_FIXED),
    ("minhash_accuracy", q_minhash_accuracy, SQL_MINHASH_ACCURACY),
    ("pmi_collocations", q_pmi_collocations, SQL_PMI_COLLOCATIONS),
    ("semantic_dedup_fixed", q_semantic_dedup_fixed,
     sql_semantic_dedup_fixed()),
    ("dedup_clusters", q_dedup_clusters, SQL_DEDUP_CLUSTERS),
    ("dedup_keep_canonical", q_dedup_keep_canonical, SQL_DEDUP_KEEP_CANONICAL),
    ("simhash_fingerprints", q_simhash_fingerprints, None),
    ("simhash_bits_md5", q_simhash_bits_md5, SQL_SIMHASH_BITS_MD5),
    ("embedding_lsh_topk", q_embedding_lsh_topk, sql_embedding_lsh_topk()),
    ("embedding_ivf_topk", q_embedding_ivf_topk, None),
    ("embedding_ivf_topk_fixed", q_embedding_ivf_topk_fixed,
     sql_embedding_ivf_topk_fixed()),
    # incremental build == one-shot build: the same SQL twin pins it
    ("ivf_stream_topk_fixed", q_ivf_stream_topk_fixed,
     sql_embedding_ivf_topk_fixed()),
    ("multimodal_frames", q_multimodal_frames, None),
    ("multimodal_features", q_multimodal_features, None),
    ("multimodal_image_features", q_multimodal_image_features, None),
    ("multimodal_audio_features", q_multimodal_audio_features, None),
    ("training_corpus_prep", q_training_corpus_prep, SQL_TRAINING_CORPUS_PREP),
    ("doc_chunking", q_doc_chunking, SQL_DOC_CHUNKING),
    ("tfidf_top_terms", q_tfidf_top_terms, SQL_TFIDF_TOP_TERMS),
    ("bm25_search", q_bm25_search, SQL_BM25_SEARCH),
    ("vocab_top_terms", q_vocab_top_terms, SQL_VOCAB_TOP_TERMS),
    ("doc_classifier_score", q_doc_classifier_score, SQL_DOC_CLASSIFIER_SCORE),
    ("eval_contamination", q_eval_contamination, SQL_EVAL_CONTAMINATION),
    ("embedding_quantize_int8", q_embedding_quantize_int8,
     SQL_EMBEDDING_QUANTIZE_INT8),
    ("terms_heavy_hitters", q_terms_heavy_hitters, None),
    ("pii_redaction_report", q_pii_redaction_report, SQL_PII_REDACTION_REPORT),
    ("doc_unigram_logprob", q_doc_unigram_logprob, SQL_DOC_UNIGRAM_LOGPROB),
    ("doc_bigram_logprob", q_doc_bigram_logprob, SQL_DOC_BIGRAM_LOGPROB),
    ("multimodal_codec_mix", q_multimodal_codec_mix, None),
    ("crossdoc_span_coverage", q_crossdoc_span_coverage,
     SQL_CROSSDOC_SPAN_COVERAGE),
    ("embedding_covariance_stats", q_embedding_covariance_stats,
     SQL_EMBEDDING_COVARIANCE_STATS),
    ("embedding_fd_profile", q_embedding_fd_profile, None),
    ("fd_whitening_handoff", q_fd_whitening_handoff, None),
    ("embedding_kmeans_profile", q_embedding_kmeans_profile, None),
    ("embedding_kmeans_profile_fixed", q_embedding_kmeans_profile_fixed,
     sql_embedding_kmeans_profile_fixed()),
    ("embedding_pq_topk", q_embedding_pq_topk, None),
    ("embedding_pq_topk_fixed", q_embedding_pq_topk_fixed,
     sql_embedding_pq_topk_fixed()),
    # incremental encode == one-shot encode: the same SQL twin pins it
    ("pq_stream_topk_fixed", q_pq_stream_topk_fixed,
     sql_embedding_pq_topk_fixed()),
    ("source_weighted_median_quality", q_source_weighted_median_quality,
     SQL_SOURCE_WEIGHTED_MEDIAN_QUALITY),
    ("source_dup_matrix", q_source_dup_matrix, SQL_SOURCE_DUP_MATRIX),
    ("mg_heavy_hitters_fixed", q_mg_heavy_hitters_fixed,
     SQL_MG_HEAVY_HITTERS_FIXED),
    ("mg_stream_topk_fixed", q_mg_stream_topk_fixed, SQL_MG_STREAM_TOPK_FIXED),
    ("simhash_accuracy", q_simhash_accuracy, SQL_SIMHASH_ACCURACY),
    ("embedding_whitening_fixed", q_embedding_whitening_fixed,
     sql_embedding_whitening_fixed()),
    ("matryoshka_overlap_report", q_matryoshka_overlap_report,
     sql_matryoshka_overlap_report()),
    ("perplexity_bucket_report", q_perplexity_bucket_report,
     SQL_PERPLEXITY_BUCKET_REPORT),
)
SPARK_QUERIES, ORACLE_SQL = registry(QUERIES)
