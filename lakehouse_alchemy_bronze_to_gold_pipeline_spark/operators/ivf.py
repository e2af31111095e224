"""IVF (inverted-file) approximate nearest neighbor — the second
scale path for embedding search next to random-hyperplane LSH
(``operators.similarity.lsh_topk``).

Recipe (classic IVF-Flat):

1. TRAIN: sample the corpus to the driver, run a few seeded k-means
   iterations in numpy -> ``n_lists`` centroid vectors (plan-time
   constants, like the LSH hyperplanes).  At 100 TB you sample ~1e5
   rows — centroid quality degrades gracefully and training stays
   O(sample).
2. ASSIGN: each corpus vector gets the id of its nearest centroid —
   a narrow per-row pass (no shuffle); the assignment expression is
   an unrolled argmin over ``n_lists`` dot products.
3. PROBE: each query computes its ``n_probe`` nearest centroid ids,
   explodes to (query, list_id), equi-joins the corpus on list_id
   (THE shuffle, proportional to probed lists only), exact-reranks
   inside, window top-k.

Recall knob: ``n_probe / n_lists``; cost knob: the same ratio times
corpus size.  Deterministic given the seed."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import as_double_array, cosine, literal_vector
from .similarity import cosine_topk


def _kmeans(sample: np.ndarray, n_lists: int, iters: int, seed: int) -> np.ndarray:
    """Seeded lloyd iterations on unit-normalized vectors (cosine
    k-means ~= spherical k-means)."""
    rng = np.random.default_rng(seed)
    norms = np.linalg.norm(sample, axis=1, keepdims=True)
    x = sample / np.clip(norms, 1e-12, None)
    centroids = x[rng.choice(len(x), size=n_lists, replace=False)]
    for _ in range(iters):
        sims = x @ centroids.T
        assign = sims.argmax(axis=1)
        for c in range(n_lists):
            members = x[assign == c]
            if len(members):
                m = members.mean(axis=0)
                centroids[c] = m / max(np.linalg.norm(m), 1e-12)
    return centroids


def _nearest_lists(vec: F.Column, centroids: np.ndarray, k: int) -> F.Column:
    """Array of the k centroid ids nearest (by dot product) to vec."""
    scored = F.array(
        *[
            F.struct(
                F.aggregate(
                    F.zip_with(
                        vec, literal_vector(c), lambda a, b: a * b
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("dot"),
                F.lit(i).alias("list_id"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    top = F.slice(F.reverse(F.array_sort(scored)), 1, k)
    return F.transform(top, lambda s: s["list_id"])


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    train_sample: int = 10_000,
    kmeans_iters: int = 5,
    seed: int = 42,
    train: str = "sample",
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """Approximate knn: probe the ``n_probe`` best inverted lists per
    query, exact cosine rerank inside.  Output matches ``knn_join``
    (query_id, neighbor_id, cosine_sim, rank).

    ``train="sample"`` (default) fits list heads on a bounded driver
    sample — O(1) cost, graceful quality; ``train="full"`` delegates
    to ``operators.kmeans.kmeans_fit`` for full-corpus distributed
    Lloyd training (O(iters) passes) when list balance matters more
    than training cost.  Passing ``centroids`` (an (n_lists, dim)
    ndarray) skips training entirely — the pretrained-list-heads
    workflow, and what lets a SQL oracle pin the assign/probe/rerank
    pipeline over fixed heads."""
    if centroids is not None:
        n_lists = len(centroids)
    elif train == "full":
        from .kmeans import kmeans_fit

        dim = len(corpus.select(as_double_array(vec_col)).first()[0])
        centroids = kmeans_fit(
            corpus, vec_col, id_col, k=n_lists, iters=kmeans_iters,
            dim=dim, seed=seed, allow_fewer=True,
        )
        n_lists = len(centroids)  # clamped like the sample path
    elif train == "sample":
        # pseudo-random, order-independent training sample: take the
        # train_sample smallest xxhash64(id, seed) rows (TakeOrdered =
        # per-partition top-n + driver merge, no global sort).  A bare
        # ``limit(n)`` takes the FIRST n rows — on a sorted/clustered
        # corpus that trains centroids on one corner of the space and
        # recall silently degrades; hash order is uniform regardless
        # of physical layout, and seeded so the plan stays
        # deterministic.
        sample = np.array(
            [
                r[0]
                for r in corpus.select(
                    as_double_array(vec_col).alias("__v"),
                    F.xxhash64(F.col(id_col), F.lit(seed)).alias("__h"),
                )
                .orderBy("__h")
                .limit(train_sample)
                .select("__v")
                .collect()
            ]
        )
        n_lists = min(n_lists, len(sample))
        centroids = _kmeans(sample, n_lists, kmeans_iters, seed)
    else:
        raise ValueError(f"train must be 'sample' or 'full', got {train!r}")

    return ivf_probe(
        ivf_assign(corpus, centroids, id_col, vec_col),
        queries, centroids, id_col=id_col, vec_col=vec_col,
        k=k, n_probe=n_probe,
    )


def _assign_kernel(centroids: np.ndarray):
    """Vectorized nearest-list assignment (r13, guide §4.2): one
    Arrow-batched pandas UDF replacing the unrolled 16-way
    interpreted-HOF argmax expression (each row paid n_lists
    zip_with+aggregate lambda folds; the expression also dominated
    plan size — ~1 KB of literals per centroid per occurrence).

    BIT-IDENTICAL to the expression form by construction: the
    Catalyst fold computes ``(((0.0 + v0*c0) + v1*c1) + ...)`` per
    (row, centroid); here ``acc`` starts at 0.0 and one vectorized
    ``acc += V[:, j] * C[:, j]`` per dimension applies the exact same
    IEEE multiply-then-add sequence to every element.  Ties (equal
    dots) take the LARGER list id, matching
    ``reverse(array_sort(...))``; an all-NaN row (null / wrong-length
    vector upstream — the expression form yields null dots there)
    likewise resolves to the largest list id, pinned by
    tests/test_llm_ops.py::test_ivf_assign_kernel_parity."""
    C = np.asarray(centroids, dtype=np.float64)
    n_lists, dim = C.shape

    @F.pandas_udf("int")
    def assign(vs: pd.Series) -> pd.Series:
        n = len(vs)
        V = np.full((n, dim), np.nan, dtype=np.float64)
        for i, v in enumerate(vs):
            if v is None:
                continue
            a = np.asarray(v, dtype=np.float64)
            if a.shape == (dim,):
                V[i] = a
        acc = np.zeros((n, n_lists), dtype=np.float64)
        for j in range(dim):
            acc += V[:, j, None] * C[None, :, j]
        # argmax with ties (and all-NaN rows) to the LARGER list id:
        # argmax over the column-reversed matrix returns the FIRST
        # max, i.e. the largest original index
        idx = (n_lists - 1) - np.argmax(acc[:, ::-1], axis=1)
        return pd.Series(idx.astype(np.int32))

    # guide §4.4: the probe join's implicit isnotnull(list_id) gets
    # pushed below the projection and DUPLICATES the kernel (two
    # ArrowEvalPython nodes, every corpus row encoded twice).  The
    # function is pure, but marking it non-deterministic stops the
    # optimizer from cloning it past the filter; values are untouched.
    return assign.asNondeterministic()


def ivf_assign(
    corpus: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ASSIGN stage as its own relation: (neighbor_id, cv, list_id).
    A narrow per-row argmin over the list heads — no shuffle — which
    makes it the unit of INCREMENTAL index maintenance: assigning a
    partition of the corpus batch-by-batch and unioning (appending)
    the results is definitionally identical to assigning the whole
    corpus at once, so an append-only inverted-list table stays
    probe-equivalent to a one-shot build forever (see
    streaming.ivf_maintain.IncrementalIVFIndex).  The argmin runs as
    the vectorized Arrow kernel (see :func:`_assign_kernel`), exactly
    reproducing the expression form's values."""
    return corpus.select(
        F.col(id_col).alias("neighbor_id"),
        as_double_array(vec_col).alias("cv"),
    ).withColumn("list_id", _assign_kernel(centroids)("cv"))


def ivf_probe(
    assigned: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 4,
) -> DataFrame:
    """PROBE stage over a pre-assigned inverted-list relation
    (neighbor_id, cv, list_id) — whether it came from ``ivf_assign``
    in the same plan or from a persisted index table maintained
    incrementally.  Output matches ``knn_join``."""
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            as_double_array(vec_col).alias("qv"),
        ).withColumn(
            "list_id",
            F.explode(_nearest_lists(F.col("qv"), centroids, n_probe)),
        )
    )
    scored = q.join(assigned, "list_id").withColumn(
        "cos_raw", cosine(F.col("qv"), F.col("cv"))
    )
    return cosine_topk(scored, k)
