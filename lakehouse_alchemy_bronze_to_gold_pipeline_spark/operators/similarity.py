"""Embedding similarity search (north-star extension).

Two paths:

- ``topk_bruteforce``: exact one-vs-corpus cosine top-k. The query
  vector rides into the plan as a literal array (broadcast by value);
  scoring is a narrow pass over the corpus + a top-k sort that Spark
  executes as per-partition top-k + driver merge (``Limit`` after
  ``Sort`` -> TakeOrderedAndProject — no full global sort).
- ``knn_join``: small-queries x big-corpus exact knn via broadcast
  nested-loop + window top-k per query.
- ``lsh_topk``: random-hyperplane LSH bucketing (signed projections ->
  bit signature), candidates = signature-prefix buckets, exact rerank
  inside buckets.  The 100 TB path: corpus hashed once (narrow), the
  join shuffles only bucket keys, rerank touches ~corpus/2^bits rows
  per query.

Hyperplanes are generated from a seeded ``numpy`` RNG on the driver
(plan-time constants — deterministic, no data-dependent randomness).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import (
    as_double_array,
    cosine,
    cosine_arrow,
    literal_vector,
    vector_sql,
)


def cosine_topk(scored: DataFrame, k: int) -> DataFrame:
    """The k best neighbors per query of a scored (query_id,
    neighbor_id, cos_raw) relation, as (query_id, neighbor_id,
    cosine_sim, rank) — the readout every exact-rerank top-k shares."""
    # rank on cosine ROUNDED to 12 decimals: the two engines sum the
    # dot product in different orders (numpy pairwise vs sequential),
    # so unrounded near-ties can differ at ~1e-16 and flip a rank
    # cross-engine; at 12 decimals the order is identical in both and
    # neighbor_id stays the deterministic tiebreak
    w = Window.partitionBy("query_id").orderBy(
        F.round("cos_raw", 12).desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos_raw", 6).alias("cosine_sim"),
            "rank",
        )
    )


def topk_bruteforce(
    corpus: DataFrame,
    query_vec,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k of ``query_vec`` (python sequence) vs corpus."""
    v = as_double_array(vec_col)
    q = literal_vector(query_vec)
    scored = corpus.select(
        F.col(id_col), cosine(v, q).alias("cos_raw")
    )
    return (
        scored.orderBy(F.round("cos_raw", 12).desc(), F.col(id_col))
        .limit(k)
        .select(F.col(id_col), F.round("cos_raw", 6).alias("cosine_sim"))
    )


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    max_query_rows: int = 10_000,
) -> DataFrame:
    """Exact k-nn for each query row: broadcast the (small) query side
    against the corpus, window top-k per query.

    The broadcast makes total work |Q| x |corpus| and driver/executor
    memory O(|Q| x dim) — correct ONLY while the query side is small.
    ``max_query_rows`` enforces that contract (an unguarded large
    query side is a silent broadcast OOM at scale); large query sides
    belong on ``lsh_topk`` / ``ivf.ivf_topk``, whose shuffle is
    proportional to probed buckets, not |Q| x |corpus|."""
    n_q = queries.limit(max_query_rows + 1).count()
    if n_q > max_query_rows:
        raise ValueError(
            f"knn_join query side exceeds max_query_rows={max_query_rows}: "
            "it is broadcast against the whole corpus (O(|Q| x |corpus|) "
            "work, O(|Q|) executor memory). Use lsh_topk or ivf_topk for "
            "large query sides, or raise max_query_rows deliberately."
        )
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            as_double_array(vec_col).alias("qv"),
        )
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double_array(vec_col).alias("cv")
    )
    # Arrow kernel: |Q| x |corpus| rows make the interpreted HOF fold
    # the dominant cost (measured ~5x at 200 queries x 5k corpus);
    # see functions.vectors.cosine_arrow for the order-of-summation
    # note (immaterial at the 6-decimal rounding / rank grain)
    scored = q.crossJoin(c).withColumn(
        "cos_raw", cosine_arrow(F.col("qv"), F.col("cv"))
    )
    return cosine_topk(scored, k)


def cosine_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float | None = 0.5,
) -> DataFrame:
    """Exact embedding near-dup pairs: (id_a, id_b, cosine >= t);
    ``threshold=None`` returns every pair scored (for top-k callers).

    Vectors are L2-normalized BEFORE the self-join so per-pair work
    is a single dot product.  Brute-force O(n^2/2) — the correctness
    baseline; at 100 TB swap the crossJoin for an LSH-bucketed join
    (``lsh_topk``'s bucketing) and keep this verify predicate."""
    v = as_double_array(vec_col)
    norm = F.sqrt(
        F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    unit = df.select(
        F.col(id_col), F.transform(v, lambda x: x / norm).alias("uv")
    )
    # the scoring loop is compute-bound and the probe side inherits
    # the upstream split count (one small file locally -> one task):
    # spread it across every core; the build side broadcasts anyway
    a = unit.repartition(
        df.sparkSession.sparkContext.defaultParallelism, id_col
    ).select(F.col(id_col).alias("id_a"), F.col("uv").alias("ua"))
    b = unit.select(F.col(id_col).alias("id_b"), F.col("uv").alias("ub"))
    dot = F.aggregate(
        F.zip_with(F.col("ua"), F.col("ub"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine_sim", F.round(dot, 4))
    )
    if threshold is not None:
        pairs = pairs.filter(F.col("cosine_sim") >= threshold)
    return pairs.select("id_a", "id_b", "cosine_sim")


def _hyperplanes(dim: int, n_bits: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_bits, dim))


def signature_col(vec: F.Column, planes: np.ndarray) -> F.Column:
    """Sign-bit signature: bit i = (vec . plane_i) >= 0."""
    bits = []
    for i, plane in enumerate(planes):
        d = F.aggregate(
            F.zip_with(vec, literal_vector(plane), lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(
            F.when(d >= 0, F.shiftleft(F.lit(1).cast("bigint"), i)).otherwise(
                F.lit(0).cast("bigint")
            )
        )
    sig = bits[0]
    for b in bits[1:]:
        sig = sig + b
    return sig


def band_hyperplanes(
    dim: int, n_bands: int, n_bits: int, seed: int = 42
) -> np.ndarray:
    """(n_bands, n_bits, dim) seeded gaussian hyperplanes — one
    independent ``n_bits``-bit signature family per band (the
    OR-of-ANDs amplification construction: a pair is a candidate if
    ALL bits agree in ANY band)."""
    return _hyperplanes(dim, n_bands * n_bits, seed).reshape(
        n_bands, n_bits, dim
    )


def band_signatures_udf(planes: np.ndarray):
    """Arrow-vectorized band signatures: ``array<double>`` vector ->
    ``array<bigint>`` of ``n_bands`` sign-bit signatures, computed as
    ONE numpy matmul per batch.

    Why a Pandas UDF and not built-in expressions: a
    ``signature_col`` tree at (n_bands * n_bits) planes is
    ``n_bands*n_bits*dim`` literal terms — interpreted HOF evaluation
    rebuilds the literal plane arrays per aggregate step (measured
    ~6 s for 100 rows at 12x8x64); BLAS does the same work in
    microseconds and keeps the plan a single narrow node.  Output is
    bit-identical to the expression form up to float accumulation
    order, whose sign-flip probability at |dot| ~ N(0, dim) is
    negligible (~1e-14/dot) — the DuckDB oracles reproduce the same
    procedure (``band_signatures_sql``).
    """
    n_bands, n_bits, _ = planes.shape
    flat_t = planes.reshape(n_bands * n_bits, -1).T.copy()  # (dim, B*b)
    weights = 1 << np.arange(n_bits, dtype=np.int64)

    @F.pandas_udf("array<bigint>")
    def sigs(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        m = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        bits = (m @ flat_t) >= 0.0  # (batch, n_bands*n_bits)
        s = (bits.reshape(len(m), n_bands, n_bits) * weights).sum(axis=2)
        return pd.Series(list(s))

    return sigs


def band_signatures_sql(planes: np.ndarray) -> str:
    """DuckDB form of ``band_signatures_udf`` over a relation
    ``v(vec_id, v)``: one ``(vec_id, v, band, sig)`` SELECT per band,
    the sign bits as CASE sums over the planes as list literals,
    joined by UNION ALL."""
    bands = []
    for b, band in enumerate(planes):
        sig = "\n     + ".join(
            f"(CASE WHEN list_dot_product(v, {vector_sql(plane)}) >= 0 "
            f"THEN {1 << i} ELSE 0 END)"
            for i, plane in enumerate(band)
        )
        bands.append(
            f"SELECT vec_id, v, {b} AS band,\n"
            f"  CAST({sig} AS BIGINT) AS sig\nFROM v"
        )
    return "\nUNION ALL\n".join(bands)


def lsh_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bands: int = 12,
    n_bits: int = 8,
    dim: int = 64,
    seed: int = 42,
    threshold: float | None = None,
    max_bucket: int = 1000,
) -> DataFrame:
    """All-pairs mining WITHOUT the cartesian product: the 100 TB
    replacement for ``cosine_pairs``.

    Shape: one narrow pass computes ``n_bands`` sign-bit signatures
    per vector; candidates come from ONE groupBy shuffle of
    ``(band, signature, id)`` with pairs generated inside each
    grouped bucket list (same construction as the MinHash candidate
    stage — a bucket SELF-JOIN would re-execute the Arrow signature
    subtree on both sides and shuffle the banded relation twice).
    Shuffle volume is ``n_bands * n`` id rows; candidate pairs are
    bounded by ``n_bands * buckets * C(max_bucket, 2)`` instead of
    ``C(n, 2)``.  Buckets larger than ``max_bucket`` (degenerate
    skew: near-constant vectors all hashing together) are dropped —
    ``collect_list`` per bucket is safe BECAUSE of that cap.  Exact
    cosine rerank runs only on deduped candidates, via join-back to
    the raw vectors (2 equi-joins ~ 2n rows, cheaper than carrying
    vectors through the band explode at width x n_bands).

    Fully deterministic (seeded plan-time hyperplanes), so a SQL
    oracle can replicate it value-for-value — see
    ``queries.analytics.sql_embedding_top_pairs_lsh``.  Recall vs the
    brute-force baseline is a parameter choice: P[candidate] =
    1 - (1 - p^n_bits)^n_bands with p = 1 - angle/pi; tests assert
    it on planted near-dups.  At larger corpus sizes raise
    ``n_bits`` to keep bucket occupancy ~constant.
    """
    planes = band_hyperplanes(dim, n_bands, n_bits, seed)
    v = as_double_array(vec_col)
    sig_fn = band_signatures_udf(planes)
    # single-file scans arrive as ONE split: spread the matmul batches
    # across the cluster before the (Arrow-batched) signature pass
    banded = (
        df.repartition(df.sparkSession.sparkContext.defaultParallelism)
        .select(F.col(id_col), F.posexplode(sig_fn(v)).alias("band", "sig"))
    )
    buckets = (
        banded.groupBy("band", "sig")
        .agg(F.collect_list(id_col).alias("ids"))
        # skew guard as a size filter on the grouped list; singleton
        # buckets generate nothing
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
    )
    pairs_expr = F.flatten(
        F.transform(
            F.col("ids"),
            lambda a, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size("ids")),
                lambda b: F.struct(
                    F.least(a, b).alias("id_a"),
                    F.greatest(a, b).alias("id_b"),
                ),
            ),
        )
    )
    cand = (
        buckets.select(F.explode(pairs_expr).alias("p"))
        .select("p.id_a", "p.id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # rerank join-back: SHUFFLE_HASH on the vector side — candidates
    # stay the streamed side so the (interpreted-HOF) cosine runs on
    # the shuffle's full parallelism.  Without the hint the static
    # planner can broadcast the candidate relation (its post-agg size
    # estimate is tiny), which serializes the rerank onto the vector
    # scan's few tasks; a broadcast of the VECTORS would be fine here
    # but cannot scale — the corpus is the big relation at 100 TB.
    va = df.select(F.col(id_col).alias("id_a"), v.alias("__va")).hint(
        "shuffle_hash"
    )
    vb = df.select(F.col(id_col).alias("id_b"), v.alias("__vb")).hint(
        "shuffle_hash"
    )
    scored = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn(
            "cosine_sim", F.round(cosine(F.col("__va"), F.col("__vb")), 4)
        )
    )
    if threshold is not None:
        scored = scored.filter(F.col("cosine_sim") >= threshold)
    return scored.select("id_a", "id_b", "cosine_sim")


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_bits: int = 8,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Approximate knn: candidates share the full LSH signature bucket;
    exact cosine rerank within buckets.  Recall < 1 by construction —
    verify against ``knn_join`` in tests, not a SQL oracle."""
    planes = _hyperplanes(dim, n_bits, seed)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        as_double_array(vec_col).alias("cv"),
    ).withColumn("sig", signature_col(F.col("cv"), planes))
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            as_double_array(vec_col).alias("qv"),
        ).withColumn("sig", signature_col(F.col("qv"), planes))
    )
    scored = q.join(c, "sig").withColumn(
        "cos_raw", cosine(F.col("qv"), F.col("cv"))
    )
    return cosine_topk(scored, k)


def cluster_blocked_pairs(
    df: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.5,
    round_to: int = 4,
) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs: assign every vector to
    its nearest centroid (narrow Arrow argmax pass), then score pairs
    ONLY within a cluster — the blocking step that turns O(n²) pair
    mining into Σ O(|cluster|²).

    Per-cluster scoring runs as ``applyInPandas``: one groupBy
    shuffle keyed on cluster, then a single BLAS gram matrix per
    cluster instead of |cluster|² interpreted dot products.  At scale
    the cluster width is controlled by k (SemDeDup picks
    k ∝ n/target_cluster_size, exactly what ``kmeans_fit`` trains);
    a skewed cluster is the same failure mode as a hot LSH bucket and
    gets the same remedy (cap or re-split — the IVF list machinery).

    Returns (cluster, id_a < id_b, cosine_sim >= threshold).
    """
    from .kmeans import kmeans_assign

    assigned = kmeans_assign(df, centroids, vec_col=vec_col).select(
        F.col(id_col).alias("__id"), "cluster", as_double_array(vec_col).alias("__v")
    )

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["__id"].to_numpy()
        x = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["__v"]])
        x = x / np.linalg.norm(x, axis=1, keepdims=True)
        sim = np.round(x @ x.T, round_to)
        iu = np.triu_indices(len(ids), k=1)
        keep = sim[iu] >= threshold
        a, b = ids[iu[0][keep]], ids[iu[1][keep]]
        return pd.DataFrame(
            {
                "cluster": np.int64(pdf["cluster"].iloc[0]),
                "id_a": np.minimum(a, b),
                "id_b": np.maximum(a, b),
                "cosine_sim": sim[iu][keep],
            }
        )

    return assigned.groupBy("cluster").applyInPandas(
        score, "cluster bigint, id_a bigint, id_b bigint, cosine_sim double"
    )


def hard_negative_mining(
    df: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    round_to: int = 4,
) -> DataFrame:
    """Contrastive-pair mining for metric/embedding training: per
    anchor, the most-similar SAME-label neighbor (positive) and the
    most-similar DIFFERENT-label neighbor (hard negative), candidates
    blocked by nearest-centroid cluster — the standard recipe that
    keeps mining at Σ O(|cluster|²) instead of O(n²).

    Ties break to the smallest candidate id (cross-engine-stable);
    anchors with no same-/different-label neighbor in their cluster
    emit NULLs for that side.  Per-cluster scoring is one BLAS gram
    matrix via ``applyInPandas`` (the ``cluster_blocked_pairs``
    execution shape).
    """
    from .kmeans import kmeans_assign

    assigned = kmeans_assign(df, centroids, vec_col=vec_col).select(
        F.col(id_col).alias("__id"),
        F.col(label_col).cast("bigint").alias("__lab"),
        "cluster",
        as_double_array(vec_col).alias("__v"),
    )

    def mine(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["__id"].to_numpy()
        labs = pdf["__lab"].to_numpy()
        x = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["__v"]])
        x = x / np.linalg.norm(x, axis=1, keepdims=True)
        sim = x @ x.T
        cl = np.int64(pdf["cluster"].iloc[0])
        out = {
            "anchor_id": ids,
            "cluster": np.full(len(ids), cl),
        }
        for side, want_same in (("pos", True), ("neg", False)):
            bid = np.empty(len(ids), dtype=object)
            bsim = np.empty(len(ids), dtype=object)
            for i in range(len(ids)):
                m = (labs == labs[i]) if want_same else (labs != labs[i])
                m[i] = False
                idx = np.nonzero(m)[0]
                if len(idx) == 0:
                    bid[i] = None
                    bsim[i] = None
                    continue
                s = sim[i, idx]
                cand = idx[s == s.max()]
                j = cand[np.argmin(ids[cand])]
                bid[i] = int(ids[j])
                bsim[i] = float(np.round(sim[i, j], round_to))
            out[f"{side}_id"] = bid
            out[f"{side}_sim"] = bsim
        return pd.DataFrame(out)

    return assigned.groupBy("cluster").applyInPandas(
        mine,
        "anchor_id bigint, cluster bigint, pos_id bigint, "
        "pos_sim double, neg_id bigint, neg_sim double",
    )


def knn_label_agreement(
    df: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
) -> DataFrame:
    """Cleanlab-style label-noise scan: per vector, the fraction of
    its k nearest within-cluster neighbors sharing its label.  Same
    blocked ``applyInPandas`` shape as ``hard_negative_mining``;
    similarity ties break to the smaller candidate id so the ranking
    is cross-engine-stable.  Vectors alone in their cluster emit no
    row (no neighbors to agree with)."""
    from .kmeans import kmeans_assign

    assigned = kmeans_assign(df, centroids, vec_col=vec_col).select(
        F.col(id_col).alias("__id"),
        F.col(label_col).cast("bigint").alias("__lab"),
        "cluster",
        as_double_array(vec_col).alias("__v"),
    )

    def scan(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                {"vec_id": [], "label": [], "n_neighbors": [],
                 "label_agreement": []}
            )
        ids = pdf["__id"].to_numpy()
        labs = pdf["__lab"].to_numpy()
        x = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["__v"]])
        x = x / np.linalg.norm(x, axis=1, keepdims=True)
        sim = x @ x.T
        rows = []
        for i in range(n):
            order = sorted(
                (j for j in range(n) if j != i),
                key=lambda j: (-sim[i, j], ids[j]),
            )[:k]
            agree = sum(1 for j in order if labs[j] == labs[i])
            rows.append(
                (
                    int(ids[i]),
                    int(labs[i]),
                    len(order),
                    round(agree / len(order), 4),
                )
            )
        return pd.DataFrame(
            rows,
            columns=["vec_id", "label", "n_neighbors", "label_agreement"],
        )

    return assigned.groupBy("cluster").applyInPandas(
        scan,
        "vec_id bigint, label bigint, n_neighbors bigint, "
        "label_agreement double",
    )


def lsh_topk_banded(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_bands: int = 8,
    n_bits: int = 6,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Approximate knn with BANDED (multi-probe) LSH: candidates
    share ANY of ``n_bands`` short signatures instead of one long
    one — recall grows like 1-(1-p^bits)^bands while per-band bucket
    selectivity stays high.  ``lsh_topk`` (full-signature bucket) is
    the high-precision/low-recall corner; this is the production
    trade (measured recall@5 0.26 -> ~0.8 at (8, 6) on the synthetic
    corpus).

    Plan: one Arrow signature pass per side, posexplode to
    (band, sig), equi-join on the pair, distinct candidate ids, ONE
    corpus join-back for vectors, exact cosine rerank per query.
    """
    planes = band_hyperplanes(dim, n_bands, n_bits, seed)
    sig_udf = band_signatures_udf(planes)
    c = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            as_double_array(vec_col).alias("cv"),
        )
        .repartition(
            corpus.sparkSession.sparkContext.defaultParallelism,
            "neighbor_id",
        )
        .withColumn("sigs", sig_udf(F.col("cv")))
        .select(
            "neighbor_id",
            "cv",
            F.posexplode("sigs").alias("band", "sig"),
        )
    )
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            as_double_array(vec_col).alias("qv"),
        )
        .withColumn("sigs", sig_udf(F.col("qv")))
        .select(
            "query_id", "qv", F.posexplode("sigs").alias("band", "sig")
        )
    )
    cand = (
        q.join(c, ["band", "sig"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.first("qv").alias("qv"), F.first("cv").alias("cv"))
    )
    scored = cand.withColumn(
        "cos_raw", cosine(F.col("qv"), F.col("cv"))
    )
    return cosine_topk(scored, k)
