"""Incrementally maintained IVF index: appending embedding batches
assigned to FIXED trained list heads must leave the stored index
probe-EQUAL (exact row equality, not approximately) to a one-shot
batch build over the union — and checkpoint replays / re-presented
ids must not double-fold."""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators.ivf import (
    ivf_topk,
)
from lakehouse_alchemy_bronze_to_gold_pipeline_spark.sources.deltalog import (
    DeltaLogTable,
)
from lakehouse_alchemy_bronze_to_gold_pipeline_spark.streaming.ivf_maintain import (
    IncrementalIVFIndex,
)

SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

SCHEMA = StructType([
    StructField("vec_id", LongType()),
    StructField("embedding", ArrayType(DoubleType())),
])


def _centroids():
    rng = np.random.default_rng(7)
    return rng.standard_normal((16, 64))


def _rows(df):
    return sorted(
        (r.query_id, r.neighbor_id, r.cosine_sim, r.rank)
        for r in df.collect()
    )


def test_incremental_ivf_matches_batch_build(spark, tmp_path):
    lists = DeltaLogTable(spark, str(tmp_path / "lists"))
    cents = _centroids()
    idx = IncrementalIVFIndex(lists, cents)

    emb = (
        spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
        .select("vec_id", F.col("embedding").cast("array<double>")
                .alias("embedding"))
    )
    queries = emb.filter(F.col("vec_id") < 5)

    # stream the corpus in two checkpointed runs (hash-split halves)
    src, cp = str(tmp_path / "src"), str(tmp_path / "cp")
    os.makedirs(src, exist_ok=True)
    b1 = emb.filter(F.xxhash64("vec_id") % 2 == 0)
    b2 = emb.filter(F.xxhash64("vec_id") % 2 != 0)
    b1.write.parquet(os.path.join(src, "p1"))

    def run():
        stream = (
            spark.readStream.schema(SCHEMA)
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        q = idx.writer(stream, cp).start()
        q.awaitTermination(120)

    run()
    n1 = lists.read().count()
    assert n1 == b1.count()

    b2.write.parquet(os.path.join(src, "p2"))
    run()  # checkpoint: p1 not re-folded

    stored = lists.read()
    assert stored.count() == emb.count()
    # ids fold exactly once
    assert stored.select("neighbor_id").distinct().count() == emb.count()

    # probe-equality vs the one-shot batch build: EXACT row equality
    got = _rows(idx.topk(queries, k=5, n_probe=4))
    want = _rows(ivf_topk(emb, queries, k=5, n_probe=4, centroids=cents))
    assert got == want
    assert len(got) == 25  # 5 queries x 5

    # re-presenting already-folded rows in a new batch is a no-op
    idx.append_batch(b1, app_id="late", batch_id=0)
    assert lists.read().count() == emb.count()
    assert _rows(idx.topk(queries, k=5, n_probe=4)) == want

    # genuinely new vectors DO fold in and become findable
    nv = spark.createDataFrame(
        [(900001, [float(x) for x in cents[3]])], SCHEMA
    )
    idx.append_batch(nv, app_id="late", batch_id=1)
    assert lists.read().count() == emb.count() + 1
    hits = idx.topk(nv, k=1, n_probe=1).collect()
    assert hits[0].neighbor_id == 900001  # finds itself (cos=1)


# ------------------------------------------------------------ property
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    n_batches=st.integers(1, 4),
    salt=st.integers(0, 1_000_000),
)
def test_any_batch_split_matches_one_shot(spark, n_batches, salt):
    """The decomposition invariant behind the incremental index, as a
    property: for ANY partition of the corpus into batches (random
    seeded hash split), union-of-per-batch-assignments fed to
    ivf_probe returns EXACTLY the one-shot ivf_topk rows.  The
    registry entry pins one split (2 halves) against the SQL oracle;
    this covers the family."""
    from pyspark.sql import functions as F

    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators.ivf import (
        ivf_assign,
        ivf_probe,
        ivf_topk,
    )

    cents = _centroids()
    emb = (
        spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
        .select("vec_id", F.col("embedding").cast("array<double>")
                .alias("embedding"))
    )
    queries = emb.filter(F.col("vec_id") < 3)

    parts = [
        emb.filter(
            F.pmod(F.xxhash64("vec_id", F.lit(salt)), F.lit(n_batches))
            == i
        )
        for i in range(n_batches)
    ]
    lists = ivf_assign(parts[0], cents)
    for p in parts[1:]:
        lists = lists.unionByName(ivf_assign(p, cents))

    got = _rows(ivf_probe(lists, queries, cents, k=5, n_probe=3))
    want = _rows(ivf_topk(emb, queries, k=5, n_probe=3, centroids=cents))
    assert got == want and len(got) == 15


# ---------------------------------------------------------------- PQ
def test_incremental_pq_matches_batch_build(spark, tmp_path):
    """PQ twin of the incremental-IVF equality: per-batch encoding
    appended to the codes table must leave ADC top-k EXACTLY equal to
    the one-shot pq_topk over the raw corpus, across two checkpointed
    runs, replays, and late additions."""
    import numpy as np

    from pyspark.sql import functions as F

    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators.pq import (
        pq_topk,
    )
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.streaming.ivf_maintain import (  # noqa: E501
        IncrementalPQIndex,
    )

    codes = DeltaLogTable(spark, str(tmp_path / "codes"))
    rng = np.random.default_rng(23)
    books = rng.standard_normal((8, 16, 8))
    idx = IncrementalPQIndex(codes, books)

    emb = (
        spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
        .select("vec_id", F.col("embedding").cast("array<double>")
                .alias("embedding"))
    )
    queries = [
        (r.vec_id, list(r.embedding))
        for r in emb.filter(F.col("vec_id") < 4).collect()
    ]

    src, cp = str(tmp_path / "pqsrc"), str(tmp_path / "pqcp")
    os.makedirs(src, exist_ok=True)
    b1 = emb.filter(F.xxhash64("vec_id") % 2 == 0)
    b2 = emb.filter(F.xxhash64("vec_id") % 2 != 0)
    b1.write.parquet(os.path.join(src, "p1"))

    def run():
        stream = (
            spark.readStream.schema(SCHEMA)
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        q = idx.writer(stream, cp).start()
        q.awaitTermination(120)

    run()
    b2.write.parquet(os.path.join(src, "p2"))
    run()  # checkpoint: p1 not re-encoded

    stored = codes.read()
    assert stored.count() == emb.count()

    def rows(df):
        return sorted(
            (r.query_id, r.neighbor_id, r.approx_dist, r.rank)
            for r in df.collect()
        )

    got = rows(idx.topk(queries, k=5))
    want = rows(pq_topk(emb, queries, books, k=5))
    assert got == want and len(got) == 20

    # a re-presented batch does not double-encode
    idx.append_batch(b1, app_id="late", batch_id=0)
    assert codes.read().count() == emb.count()
    assert rows(idx.topk(queries, k=5)) == want
