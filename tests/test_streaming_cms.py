"""Streaming CMS rollup: two incremental runs must produce EXACTLY
the cell grid one batch build over the union produces — the additive
mergeability that justifies maintaining a frequency sketch
incrementally instead of re-aggregating history.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators.sketch import (
    cms_cells,
    cms_estimate,
)
from lakehouse_alchemy_bronze_to_gold_pipeline_spark.sources.deltalog import (
    DeltaLogTable,
)
from lakehouse_alchemy_bronze_to_gold_pipeline_spark.streaming.sketch_rollup import (
    streaming_cms,
)

SCHEMA = StructType([StructField("item", StringType())])
DEPTH, WIDTH = 4, 32


def _write(dirpath, name, items):
    os.makedirs(dirpath, exist_ok=True)
    with open(os.path.join(dirpath, name), "w") as f:
        for it in items:
            f.write(json.dumps({"item": it}) + "\n")


def test_streaming_cms_equals_batch_union(spark, tmp_path):
    cells = DeltaLogTable(spark, str(tmp_path / "cms_stream_cells"))
    src, cp = str(tmp_path / "src"), str(tmp_path / "cp")

    batch1 = ["a", "b", "a", "c", "d", "a"]
    batch2 = ["b", "b", "e", "a", "f", "f", "f"]

    def run():
        stream = spark.readStream.schema(SCHEMA).json(src)
        q = streaming_cms(
            stream, cells, "item", cp,
            depth=DEPTH, width=WIDTH,
        ).start()
        q.awaitTermination(120)

    _write(src, "b1.json", batch1)
    run()
    _write(src, "b2.json", batch2)
    run()  # checkpoint: b1 not double-counted

    union = spark.createDataFrame(
        [(x,) for x in batch1 + batch2], SCHEMA
    )
    want = {
        (r["r"], r["cell"]): r["cnt"]
        for r in cms_cells(union, "item", DEPTH, WIDTH).collect()
    }
    got = {
        (r["r"], r["cell"]): r["cnt"]
        for r in cells.read().collect()
    }
    assert got == want, "streamed cells != batch cells over the union"

    # and the merged sketch answers point queries with the one-sided
    # guarantee over ALL history
    probes = spark.createDataFrame([("a",), ("f",), ("zz",)], SCHEMA)
    est = {
        r["item"]: r["cms_est"]
        for r in cms_estimate(
            probes, cells.read(), "item", DEPTH, WIDTH
        ).collect()
    }
    assert est["a"] >= 4 and est["f"] >= 3 and est["zz"] >= 0


def test_streaming_kmv_equals_batch_union(spark, tmp_path):
    from pyspark.sql.types import LongType

    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.streaming.sketch_rollup import (
        kmv_estimates,
        merge_kmv_batch,
        streaming_kmv,
    )

    schema = StructType(
        [StructField("grp", StringType()), StructField("uid", LongType())]
    )
    streamed = DeltaLogTable(spark, str(tmp_path / "kmv_stream_sum"))
    one_shot = DeltaLogTable(spark, str(tmp_path / "kmv_batch_sum"))
    src, cp = str(tmp_path / "ksrc"), str(tmp_path / "kcp")

    b1 = [("a", i) for i in range(40)] + [("b", i) for i in range(5)]
    b2 = [("a", i) for i in range(20, 90)] + [("b", 99)]

    def _w(name, rows):
        os.makedirs(src, exist_ok=True)
        with open(os.path.join(src, name), "w") as f:
            for g, u in rows:
                f.write(json.dumps({"grp": g, "uid": u}) + "\n")

    def run():
        stream = spark.readStream.schema(schema).json(src)
        q = streaming_kmv(
            stream, streamed, "grp", "uid", cp, k=16
        ).start()
        q.awaitTermination(120)

    _w("b1.json", b1)
    run()
    _w("b2.json", b2)
    run()

    # streamed summary == one-shot merge over the union
    union = spark.createDataFrame(b1 + b2, schema)
    merge_kmv_batch(
        union, one_shot, "grp", "uid", k=16, app_id="one-shot", batch_id=0
    )
    got = {(r["grp"], r["h"]) for r in streamed.read().collect()}
    want = {(r["grp"], r["h"]) for r in one_shot.read().collect()}
    assert got == want

    est = {
        r["grp"]: r["est_distinct"]
        for r in kmv_estimates(streamed.read(), k=16).collect()
    }
    # group b has 6 distinct (< k): exact; group a (90 distinct) is
    # estimated within the sketch's 4-sigma band
    assert est["b"] == 6.0
    assert abs(est["a"] - 90) / 90 <= 4 / (16 - 2) ** 0.5


def test_streaming_mg_heavy_hitters(spark, tmp_path):
    """Streaming Misra-Gries rollup: state stays <= capacity rows
    across runs, the checkpoint prevents double-counting, and the
    mergeable-summaries guarantee holds against exact counts of
    everything ever streamed — est <= true <= est + n/(cap+1), with
    every value above the debt guaranteed present."""
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.streaming.sketch_rollup import (
        merge_mg_batch,
        mg_topk,
        streaming_mg,
    )

    CAP = 8
    counters = DeltaLogTable(spark, str(tmp_path / "mg_stream_sum"))
    src, cp = str(tmp_path / "msrc"), str(tmp_path / "mcp")

    b1 = ["hot1"] * 150 + ["hot2"] * 90 + [f"t{i}" for i in range(60)]
    b2 = ["hot1"] * 150 + ["hot2"] * 110 + [f"t{i}" for i in range(40, 120)]

    def run():
        stream = spark.readStream.schema(SCHEMA).json(src)
        q = streaming_mg(
            stream, counters, "item", cp, capacity=CAP
        ).start()
        q.awaitTermination(120)

    _write(src, "b1.json", b1)
    run()
    assert counters.read().count() <= CAP
    _write(src, "b2.json", b2)
    run()  # checkpoint: b1 not re-folded

    stored = {r["value"]: r["est"] for r in counters.read().collect()}
    assert len(stored) <= CAP  # bounded state forever

    import collections
    true = collections.Counter(b1 + b2)
    n = len(b1) + len(b2)
    debt = n // (CAP + 1)
    for v, est in stored.items():
        assert est <= true[v], (v, est, true[v])
        assert true[v] - est <= debt, (v, est, true[v], debt)
    # anything heavier than the debt CANNOT be missed (hot1=300,
    # hot2=200 vs debt n/9)
    for v, c in true.items():
        if c > debt:
            assert v in stored, (v, c, debt)

    top = mg_topk(counters.read(), k=2).collect()
    assert [r["value"] for r in top] == ["hot1", "hot2"]

    # a replay of the stream's last batch through the batch-level API
    # (same app id and batch id) is skipped: no commit, no mass added
    versions = counters.versions()
    assert merge_mg_batch(
        spark.createDataFrame([(x,) for x in b2], SCHEMA),
        counters, "item", capacity=CAP,
        app_id=os.path.abspath(cp), batch_id=1,
    ) is None
    assert counters.versions() == versions
    assert {r["value"]: r["est"]
            for r in counters.read().collect()} == stored

    # the same frame under a new batch id is new data: it merges, and
    # the upper bound keeps holding with the extra mass
    merge_mg_batch(
        spark.createDataFrame([(x,) for x in b2], SCHEMA),
        counters, "item", capacity=CAP,
        app_id=os.path.abspath(cp), batch_id=2,
    )
    true2 = true + collections.Counter(b2)
    stored2 = {r["value"]: r["est"] for r in counters.read().collect()}
    assert len(stored2) <= CAP
    for v, est in stored2.items():
        assert est <= true2[v]


def test_streaming_expectations_split(spark, tmp_path):
    from pyspark.sql.types import DoubleType, LongType

    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators.quality import (
        null_pk_rule,
        positive_rule,
    )
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.streaming.sketch_rollup import (
        streaming_expectations,
    )

    schema = StructType(
        [StructField("pk", LongType()), StructField("amt", DoubleType())]
    )
    passed = DeltaLogTable(spark, str(tmp_path / "exp_pass"))
    quarantined = DeltaLogTable(spark, str(tmp_path / "exp_quar"))
    src, cp = str(tmp_path / "esrc"), str(tmp_path / "ecp")
    rules = [null_pk_rule(["pk"]), positive_rule(["amt"])]

    os.makedirs(src, exist_ok=True)
    with open(os.path.join(src, "b1.json"), "w") as f:
        for row in (
            {"pk": 1, "amt": 5.0},
            {"pk": None, "amt": 2.0},
            {"pk": 3, "amt": -1.0},
        ):
            f.write(json.dumps(row) + "\n")

    q = streaming_expectations(
        spark.readStream.schema(schema).json(src),
        rules, passed, quarantined, cp,
    ).start()
    q.awaitTermination(120)

    assert [r["pk"] for r in passed.read().collect()] == [1]
    quar = {
        r["pk"]: r["violated_rules"]
        for r in quarantined.read().collect()
    }
    assert len(quar) == 2 and "positive" in quar[3]

    # second run with one more file: checkpoint means no replays
    with open(os.path.join(src, "b2.json"), "w") as f:
        f.write(json.dumps({"pk": 9, "amt": 1.0}) + "\n")
    q = streaming_expectations(
        spark.readStream.schema(schema).json(src),
        rules, passed, quarantined, cp,
    ).start()
    q.awaitTermination(120)
    assert sorted(r["pk"] for r in passed.read().collect()) == [1, 9]
    assert quarantined.read().count() == 2


def test_streaming_hll_registers_equal_batch_union(spark, tmp_path):
    from pyspark.sql.types import LongType

    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators.sketch import (
        hll_estimate,
        hll_registers,
    )
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.streaming.sketch_rollup import (
        streaming_hll,
    )

    schema = StructType(
        [StructField("grp", StringType()), StructField("uid", LongType())]
    )
    regs = DeltaLogTable(spark, str(tmp_path / "hll_stream_regs"))
    src, cp = str(tmp_path / "hsrc"), str(tmp_path / "hcp")

    b1 = [("a", i) for i in range(200)] + [("b", i) for i in range(8)]
    b2 = [("a", i) for i in range(100, 400)] + [("b", 9)]

    def _w(name, rows):
        os.makedirs(src, exist_ok=True)
        with open(os.path.join(src, name), "w") as f:
            for g, u in rows:
                f.write(json.dumps({"grp": g, "uid": u}) + "\n")

    def run():
        stream = spark.readStream.schema(schema).json(src)
        q = streaming_hll(stream, regs, "grp", "uid", cp).start()
        q.awaitTermination(120)

    _w("b1.json", b1)
    run()
    _w("b2.json", b2)
    run()  # checkpoint: b1 files not re-consumed

    # registers merge under MAX exactly: streamed table is
    # BIT-IDENTICAL to the one-shot build over the union
    union = spark.createDataFrame(b1 + b2, schema)
    want = {
        (r["grp"], r["bucket"]): r["reg"]
        for r in hll_registers(union, "grp", "uid").collect()
    }
    got = {
        (r["grp"], r["bucket"]): r["reg"]
        for r in regs.read().collect()
    }
    assert got == want, "streamed registers != batch registers"
    # state bound: never more than m=16 rows per group
    assert all(
        r["n"] <= 16
        for r in regs.read()
        .groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )

    # estimates from the maintained table land inside the 3-sigma
    # envelope (1.04/sqrt(16) per sigma) of the true distincts
    est = {r["grp"]: r["hll_raw_estimate"]
           for r in hll_estimate(regs.read()).collect()}
    true = {"a": 400, "b": 9}
    for g, t in true.items():
        assert abs(est[g] - t) / t < 0.78, (g, est[g], t)


def test_kmv_overlap_readout(spark, tmp_path):
    """Set algebra over a stored KMV summary (kmv_overlap): exact
    when every group fits its sketch (n < k: the union pool is the
    real sets), within the estimator's sigma band when estimated —
    and computed from the sketch table alone."""
    from pyspark.sql.types import LongType

    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.streaming.sketch_rollup import (
        kmv_overlap,
        merge_kmv_batch,
    )

    schema = StructType(
        [StructField("grp", StringType()), StructField("uid", LongType())]
    )
    exact = DeltaLogTable(spark, str(tmp_path / "kmv_ovl_exact"))
    estimated = DeltaLogTable(spark, str(tmp_path / "kmv_ovl_est"))

    # exact regime: |a|=30, |b|=20, |a ∩ b| = 10, k=64 > all
    rows = [("a", i) for i in range(30)] + [("b", i) for i in range(20, 40)]
    merge_kmv_batch(
        spark.createDataFrame(rows, schema), exact, "grp", "uid", k=64,
        app_id="one-shot", batch_id=0,
    )
    out = kmv_overlap(exact.read(), k=64).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["grp_a"], r["grp_b"]) == ("a", "b")
    assert r["union_est"] == 40.0
    assert r["inter_est"] == 10.0
    assert r["jaccard_est"] == 0.25

    # estimated regime: |a|=400, |b|=300, inter=100, k=32
    rows = [("a", i) for i in range(400)] + [
        ("b", i) for i in range(300, 600)
    ]
    merge_kmv_batch(
        spark.createDataFrame(rows, schema), estimated, "grp", "uid", k=32,
        app_id="one-shot", batch_id=0,
    )
    r = kmv_overlap(estimated.read(), k=32).collect()[0]
    sigma = 1 / (32 - 2) ** 0.5
    assert abs(r["union_est"] - 600) / 600 <= 4 * sigma
    # intersection compounds union + jaccard noise: wider band
    assert abs(r["inter_est"] - 100) / 100 <= 8 * sigma


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    a=st.sets(st.integers(0, 80), min_size=1, max_size=40),
    b=st.sets(st.integers(0, 80), min_size=1, max_size=40),
)
def test_kmv_overlap_exact_regime_property(spark, a, b):
    """When both sketches hold their full sets (n < k), kmv_overlap
    degrades to EXACT set algebra — for any pair of sets: union and
    intersection estimates equal the true sizes, Jaccard equals the
    true ratio (to the 4-decimal readout)."""
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.streaming.sketch_rollup import (
        kmv_overlap,
    )

    summary = spark.createDataFrame(
        [("a", int(h)) for h in a] + [("b", int(h)) for h in b],
        "grp string, h bigint",
    )
    [r] = kmv_overlap(summary, k=128).collect()
    assert r["union_est"] == float(len(a | b))
    assert r["inter_est"] == float(len(a & b))
    assert abs(r["jaccard_est"] - len(a & b) / len(a | b)) <= 5.0001e-5


def test_kmv_overlap_null_group_contract(spark):
    """NULL-keyed cohorts stay visible in kmv_estimates but are
    excluded from the overlap pair matrix — the documented contract
    (pair ordering has no total order over NULL)."""
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.streaming.sketch_rollup import (
        kmv_estimates,
        kmv_overlap,
    )

    summary = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 2), ("b", 3), (None, 1), (None, 9)],
        "grp string, h bigint",
    )
    est = {r["grp"]: r["est_distinct"]
           for r in kmv_estimates(summary, k=16).collect()}
    assert est[None] == 2.0 and est["a"] == 2.0
    out = kmv_overlap(summary, k=16).collect()
    assert [(r["grp_a"], r["grp_b"]) for r in out] == [("a", "b")]
