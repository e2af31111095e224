"""Incrementally maintained FD sketch: streaming batches into the
sketch table must conserve mass/row-count EXACTLY, keep the FD
spectral guarantee vs the exact Gram of everything ingested, survive
checkpoint replays without double-counting, and keep all of those
through compaction (including the replay guard, which compaction
must not erase)."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from lakehouse_alchemy_bronze_to_gold_pipeline_spark.sources.deltalog import (
    DeltaLogTable,
)
from lakehouse_alchemy_bronze_to_gold_pipeline_spark.streaming.fd_maintain import (
    IncrementalFDSketch,
)

SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

SCHEMA = StructType([
    StructField("vec_id", LongType()),
    StructField("embedding", ArrayType(DoubleType())),
])

ELL = 16


def _corpus(spark):
    return (
        spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
    )


def _exact(df):
    x = np.asarray(
        [np.asarray(r["embedding"], dtype=np.float64)
         for r in df.select("embedding").collect()]
    )
    return x.T @ x, float((x * x).sum()), len(x)


def _gap(g, b):
    return float(np.linalg.eigvalsh(g - b.T @ b).max())


def _sketch(spark, path, **kw):
    return IncrementalFDSketch(DeltaLogTable(spark, str(path)), **kw)


def test_incremental_fd_stream(spark, tmp_path):
    sk = _sketch(spark, tmp_path / "fdinc", ell=ELL, d=64)

    emb = _corpus(spark)
    g, mass, n_all = _exact(emb)

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
        q = sk.writer(stream, cp).start()
        q.awaitTermination(120)

    run()
    _, m1, n1 = sk.merged()
    g1, mass1, cnt1 = _exact(b1)
    assert n1 == cnt1
    assert m1 == pytest.approx(mass1, rel=1e-9)

    b2.write.parquet(os.path.join(src, "p2"))
    run()  # checkpoint: p1 not re-folded

    b, m, n = sk.merged()
    assert n == n_all
    assert m == pytest.approx(mass, rel=1e-9)
    assert _gap(g, b) <= m / ELL + 1e-9 * m

    # replay guard: re-presenting an already-folded batch of this
    # stream is a no-op (mass would double without it)
    assert sk.append_batch(b1, app_id=os.path.abspath(cp), batch_id=0) is None
    b_r, m_r, n_r = sk.merged()
    assert (n_r, m_r) == (n, m)


def test_fd_whitening_handoff_decision(spark, tmp_path):
    """The sketch-to-decision handoff query: certified dominance must
    agree with EXACT spectral dominance (computed here by an
    independent numpy path over the same scaled features), the
    whitened second-moment certificates must hold, and the decision
    derived from a REAL IncrementalFDSketch ingest (TableIO tables,
    append_batch) must equal the query's in-plan decomposition."""
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.queries.llm_ops import (
        q_fd_whitening_handoff,
    )

    out = {
        r["component"]: r
        for r in q_fd_whitening_handoff(spark, SF).collect()
    }
    assert len(out) == 8

    # exact ground truth, independent path: scale dims 0/1 by 8x/4x
    emb = _corpus(spark)
    x = np.asarray(
        [np.asarray(r["embedding"], dtype=np.float64)
         for r in emb.select("embedding").collect()]
    )
    x[:, 0] *= 8.0
    x[:, 1] *= 4.0
    exact = np.sort(np.linalg.eigvalsh(x.T @ x))[::-1]
    frob, n = float((x * x).sum()), len(x)
    for i, r in out.items():
        assert r["exact_eig"] == pytest.approx(exact[i], rel=1e-4)
        assert r["within_bound"] and r["n_conserved"]
        # certified dominance is SOUND: a True must hold exactly
        if r["certified_dominant"]:
            assert exact[i] > 2.0 * frob / 64
    # the planted 8x/4x scales are the (only) certified-dominant
    # directions at every sf (everything scales with n)
    assert [r["keep"] for r in out.values()] == [True, True] + [False] * 6
    for i in (0, 1):
        assert out[i]["whitened_ok"]
        assert 1.0 - 1e-6 <= out[i]["white_diag"] <= out[i]["white_diag_max"]

    # the real maintained-table path reaches the same decision
    sk = _sketch(spark, tmp_path / "fdwh", ell=ELL, d=64, vec_col="feat")
    feats = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda v, i: v
            * F.when(i == 0, F.lit(8.0))
            .when(i == 1, F.lit(4.0))
            .otherwise(F.lit(1.0)),
        ).alias("feat"),
    )
    even = F.xxhash64("vec_id") % 2 == 0
    for i, part in enumerate((even, ~even)):
        sk.append_batch(feats.filter(part), app_id="handoff", batch_id=i)
    b, m, n_s = sk.merged()
    assert n_s == n and m == pytest.approx(frob, rel=1e-9)
    fd_eig = np.sort(np.linalg.svd(b, compute_uv=False) ** 2)[::-1]
    cert = fd_eig > 2.0 * m / 64
    assert list(cert[:8]) == [
        out[i]["certified_dominant"] for i in range(8)
    ]


def test_fd_whitening_streaming_end_to_end(spark, tmp_path):
    """r10 verdict task 2(a), end to end through the STREAMING
    writer: scaled features arrive as two incremental file batches
    through the checkpointed ``writer`` (not the batch append API),
    the whitening projection is derived FROM the maintained table's
    ``merged()`` readout, applied with ``operators/whiten.whiten``
    (the Arrow matmul apply path the registered
    ``embedding_whitening_fixed`` certifies against a SQL twin), and
    the FD PSD-sandwich certificate is checked EXACTLY on the
    whitened output; the dominance decision must equal the registered
    ``q_fd_whitening_handoff`` release — closing the loop
    stream-ingest -> FD table -> whitening matrix -> applied
    projection -> certificate."""
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators.whiten import (
        whiten,
    )
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.queries.llm_ops import (
        q_fd_whitening_handoff,
    )

    sk = _sketch(spark, tmp_path / "fdstr", ell=ELL, d=64, vec_col="feat")

    emb = _corpus(spark)
    feats = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda v, i: v
            * F.when(i == 0, F.lit(8.0))
            .when(i == 1, F.lit(4.0))
            .otherwise(F.lit(1.0)),
        ).alias("feat"),
    )
    feat_schema = StructType([
        StructField("vec_id", LongType()),
        StructField("feat", ArrayType(DoubleType())),
    ])
    src, cp = str(tmp_path / "src"), str(tmp_path / "cp")
    os.makedirs(src, exist_ok=True)

    def run():
        stream = (
            spark.readStream.schema(feat_schema)
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        q = sk.writer(stream, cp).start()
        q.awaitTermination(120)

    feats.filter(F.xxhash64("vec_id") % 2 == 0).write.parquet(
        os.path.join(src, "p1")
    )
    run()
    feats.filter(F.xxhash64("vec_id") % 2 != 0).write.parquet(
        os.path.join(src, "p2")
    )
    run()  # checkpoint: p1 not re-folded

    b, m, n = sk.merged()
    assert n == feats.count()

    # whitening projection FROM the streamed sketch (the handoff
    # query's convention: uncentered, top certified directions scaled
    # by 1/sqrt(fd_eig/n))
    _, s, vt = np.linalg.svd(b, full_matrices=False)
    fd_eig = s**2
    cert = fd_eig > 2.0 * m / 64
    assert list(cert[:2]) == [True, True]  # the planted 8x/4x dims
    keep_k = int(cert.sum())
    w = vt[:keep_k] / np.sqrt(fd_eig[:keep_k] / n)[:, None]

    whitened = whiten(
        feats, np.zeros(64), w, vec_col="feat", out_col="z"
    )
    # exact whitened second-moment diagonal, computed distributively
    diag = {
        r["pos"]: r["d"]
        for r in whitened.select(
            F.posexplode("z").alias("pos", "zv")
        )
        .groupBy("pos")
        .agg((F.sum(F.col("zv") * F.col("zv")) / F.lit(float(n))).alias("d"))
        .collect()
    }
    bound = m / ELL
    for i in range(keep_k):
        # FD PSD sandwich: fd_eig <= v'A'Av <= fd_eig + ||A||_F^2/ell
        assert 1.0 - 1e-9 <= diag[i] <= 1.0 + bound / fd_eig[i] + 1e-9

    # the streamed decision equals the registered query's release
    released = {
        r["component"]: r["certified_dominant"]
        for r in q_fd_whitening_handoff(spark, SF).collect()
    }
    assert [bool(c) for c in cert[:8]] == [released[i] for i in range(8)]


def test_fd_compaction_preserves_state_and_guard(spark, tmp_path):
    sk = _sketch(spark, tmp_path / "fdcpt", ell=ELL, d=64)

    emb = _corpus(spark)
    g, mass, n_all = _exact(emb)
    src, cp = str(tmp_path / "src"), str(tmp_path / "cp")
    os.makedirs(src, exist_ok=True)

    def run():
        stream = (
            spark.readStream.schema(SCHEMA)
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        sk.writer(stream, cp).start().awaitTermination(120)

    # multi-partition batches: several partial-sketch rows per batch
    emb.filter(F.col("vec_id") % 3 == 0).repartition(4).write.parquet(
        os.path.join(src, "p1")
    )
    run()
    emb.filter(F.col("vec_id") % 3 != 0).repartition(4).write.parquet(
        os.path.join(src, "p2")
    )
    run()
    _, m0, n0 = sk.merged()
    rows_before = sk.table.read().count()
    assert rows_before > 2  # something to compact

    sk.compact()
    # storage collapsed to ONE row, no marker rows
    assert sk.table.read().count() == 1

    b, m, n = sk.merged()
    assert (n, m) == (n0, m0)
    assert m == pytest.approx(mass, rel=1e-9)
    assert _gap(g, b) <= m / ELL + 1e-9 * m

    # the guard SURVIVES compaction: a restarted stream replaying its
    # last batch through the runner is skipped...
    commits = os.path.join(cp, "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    os.remove(os.path.join(commits, str(last)))
    os.remove(os.path.join(commits, f".{last}.crc"))
    versions = sk.table.versions()
    run()
    assert sk.table.versions() == versions
    _, m2, n2 = sk.merged()
    assert (n2, m2) == (n, m)

    # ...while genuinely new batches still fold in
    spark.createDataFrame([(900001, [1.0] * 64)], SCHEMA).write.parquet(
        os.path.join(src, "p3")
    )
    run()
    _, m3, n3 = sk.merged()
    assert n3 == n + 1
    assert m3 == pytest.approx(m + 64.0, rel=1e-9)


def test_fd_two_checkpoints_feed_one_sketch(spark, tmp_path):
    """Two streams with their own checkpoints are two writers: each
    one's batch 0 counts, so ``n`` is every row that arrived."""
    sk = _sketch(spark, tmp_path / "fd2", ell=ELL, d=64)
    emb = _corpus(spark)
    src = str(tmp_path / "src")
    emb.write.parquet(src)
    for cp in ("cp_a", "cp_b"):
        stream = spark.readStream.schema(SCHEMA).parquet(src)
        sk.writer(stream, str(tmp_path / cp)).start().awaitTermination(120)
    _, m, n = sk.merged()
    _, mass, n_all = _exact(emb)
    assert n == 2 * n_all
    assert m == pytest.approx(2 * mass, rel=1e-9)
