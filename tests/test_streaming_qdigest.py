"""Streaming q-digest rollup: incremental maintenance across two
checkpointed runs must conserve mass exactly, keep bounded state,
and answer quantiles within the accumulated merge error bound vs the
exact quantiles of everything streamed."""

from __future__ import annotations

import json
import os
import random

from pyspark.sql.types import IntegerType, StructField, StructType

from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators.sketch import (
    qdigest_quantiles,
)
from lakehouse_alchemy_bronze_to_gold_pipeline_spark.sources.deltalog import (
    DeltaLogTable,
)
from lakehouse_alchemy_bronze_to_gold_pipeline_spark.streaming.sketch_rollup import (
    streaming_qdigest,
)

from pyspark.sql.types import StringType

SCHEMA = StructType([StructField("bucket", IntegerType())])
GSCHEMA = StructType([
    StructField("grp", StringType()),
    StructField("bucket", IntegerType()),
])
BITS = 8
U = 1 << BITS
SIGMA_FRAC = 64


def _write(dirpath, name, values):
    os.makedirs(dirpath, exist_ok=True)
    with open(os.path.join(dirpath, name), "w") as f:
        for v in values:
            f.write(json.dumps({"bucket": int(v)}) + "\n")


def test_streaming_qdigest_two_runs(spark, tmp_path):
    table = DeltaLogTable(spark, str(tmp_path / "qd_stream_nodes"))
    src, cp = str(tmp_path / "src"), str(tmp_path / "cp")

    rng = random.Random(3)
    batch1 = [rng.randint(0, U - 1) for _ in range(4000)]
    batch2 = [min(U - 1, int(abs(rng.gauss(40, 15)))) for _ in range(4000)]

    def run():
        stream = spark.readStream.schema(SCHEMA).json(src)
        q = streaming_qdigest(
            stream, table, "bucket", cp,
            bits=BITS, sigma_frac=SIGMA_FRAC,
        ).start()
        q.awaitTermination(120)

    _write(src, "b1.json", batch1)
    run()
    _write(src, "b2.json", batch2)
    run()  # checkpoint: b1 not re-counted

    nodes = table.read()
    rows = nodes.collect()
    n = len(batch1) + len(batch2)
    # mass conservation is EXACT across merges
    assert sum(r.cnt for r in rows) == n
    # bounded state regardless of history
    assert len(rows) <= SIGMA_FRAC + BITS + 1
    sigma = max(1, n // SIGMA_FRAC)

    got = {
        r.q_pct: r.est_bucket
        for r in qdigest_quantiles(
            nodes, BITS, pcts=(10, 50, 90)
        ).collect()
    }
    import collections

    counts = collections.Counter(batch1 + batch2)
    cum, run_total = {}, 0
    for b in range(U):
        run_total += counts.get(b, 0)
        cum[b] = run_total
    # rank error of each answer vs its target, within the two-pass
    # accumulated bound (2 merge passes, each <= 2*sigma*BITS)
    for q_pct, est in got.items():
        target = (q_pct * n + 99) // 100
        n_le = cum[min(est, U - 1)]
        n_lt = cum[est - 1] if est > 0 else 0
        err = max(0, target - n_le, n_lt + 1 - target)
        assert err <= 2 * 2 * sigma * BITS, (q_pct, est, err)


def _write_grouped(dirpath, name, rows):
    os.makedirs(dirpath, exist_ok=True)
    with open(os.path.join(dirpath, name), "w") as f:
        for g, v in rows:
            f.write(json.dumps({"grp": g, "bucket": int(v)}) + "\n")


def test_streaming_qdigest_grouped_two_runs(spark, tmp_path):
    """Grouped twin of the rollup above: one INDEPENDENT digest per
    key, per-group sigma from each group's own streamed mass.  Two
    checkpointed runs with different per-group distributions must
    conserve each group's mass exactly, bound each group's state, and
    answer each group's quantiles within that group's accumulated
    merge error bound — the same per-group contract as the KMV/HLL
    rollups."""
    import collections

    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.streaming.sketch_rollup import (  # noqa: E501
        merge_qdigest_batch,
    )

    table = DeltaLogTable(spark, str(tmp_path / "qd_stream_grouped"))
    src, cp = str(tmp_path / "gsrc"), str(tmp_path / "gcp")

    rng = random.Random(11)
    # group "u": uniform; group "g": gaussian — different shapes so a
    # cross-group state or sigma leak would move a quantile visibly
    batch1 = [("u", rng.randint(0, U - 1)) for _ in range(3000)] + [
        ("g", min(U - 1, int(abs(rng.gauss(40, 15))))) for _ in range(1500)
    ]
    batch2 = [("u", rng.randint(0, U - 1)) for _ in range(1000)] + [
        ("g", min(U - 1, int(abs(rng.gauss(180, 25))))) for _ in range(2500)
    ]

    def run():
        stream = spark.readStream.schema(GSCHEMA).json(src)
        q = streaming_qdigest(
            stream, table, "bucket", cp,
            bits=BITS, sigma_frac=SIGMA_FRAC, keys=("grp",),
        ).start()
        q.awaitTermination(120)

    _write_grouped(src, "b1.json", batch1)
    run()
    _write_grouped(src, "b2.json", batch2)
    run()  # checkpoint: b1 not re-counted

    nodes = table.read()
    rows = nodes.collect()
    streamed = collections.defaultdict(list)
    for g, v in batch1 + batch2:
        streamed[g].append(v)
    # per-group mass conservation is EXACT across merges
    mass = collections.Counter()
    state = collections.Counter()
    for r in rows:
        mass[r.grp] += r.cnt
        state[r.grp] += 1
    assert set(mass) == {"u", "g"}
    for g, vals in streamed.items():
        assert mass[g] == len(vals), g
        # bounded state PER GROUP regardless of history
        assert state[g] <= SIGMA_FRAC + BITS + 1, g

    got = collections.defaultdict(dict)
    for r in qdigest_quantiles(
        nodes, BITS, pcts=(10, 50, 90), keys=("grp",)
    ).collect():
        got[r.grp][r.q_pct] = r.est_bucket
    for g, vals in streamed.items():
        n = len(vals)
        sigma = max(1, n // SIGMA_FRAC)
        counts = collections.Counter(vals)
        cum, run_total = {}, 0
        for b in range(U):
            run_total += counts.get(b, 0)
            cum[b] = run_total
        for q_pct, est in got[g].items():
            target = (q_pct * n + 99) // 100
            n_le = cum[min(est, U - 1)]
            n_lt = cum[est - 1] if est > 0 else 0
            err = max(0, target - n_le, n_lt + 1 - target)
            assert err <= 2 * 2 * sigma * BITS, (g, q_pct, est, err)

    # third merge through the batch-level API: still exact per-group
    # mass and bounded state (the path a foreachBatch clone exercises)
    extra = spark.createDataFrame(
        [("u", 5)] * 40 + [("g", 200)] * 60, GSCHEMA
    )
    merge_qdigest_batch(
        extra, table, "bucket",
        bits=BITS, sigma_frac=SIGMA_FRAC, keys=("grp",),
        app_id="extra", batch_id=0,
    )
    rows3 = table.read().collect()
    mass3 = collections.Counter()
    for r in rows3:
        mass3[r.grp] += r.cnt
    assert mass3["u"] == len(streamed["u"]) + 40
    assert mass3["g"] == len(streamed["g"]) + 60


def test_qdigest_grouped_null_key(spark, tmp_path):
    """NULL is a legal group key: groupBy keeps it as its own group,
    so the per-group sigma join (merge path) and the theta-join
    readout must be null-safe — a plain == would silently drop every
    NULL-keyed row, violating per-group mass conservation without an
    error."""
    import collections

    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.streaming.sketch_rollup import (  # noqa: E501
        merge_qdigest_batch,
    )

    table = DeltaLogTable(spark, str(tmp_path / "qd_null_grouped"))

    rng = random.Random(7)
    b1 = [("a", rng.randint(0, U - 1)) for _ in range(500)] + [
        (None, rng.randint(0, 63)) for _ in range(400)
    ]
    b2 = [("a", rng.randint(0, U - 1)) for _ in range(300)] + [
        (None, rng.randint(64, 127)) for _ in range(600)
    ]
    for i, batch in enumerate((b1, b2)):
        merge_qdigest_batch(
            spark.createDataFrame(batch, GSCHEMA), table, "bucket",
            bits=BITS, sigma_frac=SIGMA_FRAC, keys=("grp",),
            app_id="nulls", batch_id=i,
        )

    rows = table.read().collect()
    mass = collections.Counter()
    for r in rows:
        mass[r.grp] += r.cnt
    # NULL-keyed mass is conserved exactly across both merges
    assert mass[None] == 1000
    assert mass["a"] == 800

    got = collections.defaultdict(dict)
    for r in qdigest_quantiles(
        table.read(), BITS, pcts=(50,), keys=("grp",)
    ).collect():
        got[r.grp][r.q_pct] = r.est_bucket
    # the NULL group answers quantiles from its own digest
    assert None in got and 50 in got[None]
    assert "a" in got and 50 in got["a"]
    # NULL group's values all lie in [0, 127]; its median estimate
    # must too (plus merge slack bounded by sigma*BITS)
    sigma = max(1, 1000 // SIGMA_FRAC)
    assert got[None][50] <= 127 + 2 * 2 * sigma * BITS


# ------------------------------------------------------------ property
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", None]),   # NULL is a legal key
            st.integers(0, (1 << 8) - 1),
            st.integers(0, 2),                   # batch assignment
        ),
        min_size=1, max_size=60,
    ),
)
def test_grouped_merge_mass_conservation_any_split(
    spark, tmp_path_factory, rows
):
    """Property form of the grouped-merge contract: for ANY
    assignment of rows (including NULL-keyed ones) to up to three
    merge batches, the stored digest conserves every group's mass
    EXACTLY and keeps per-group state bounded.  The example-based
    tests pin two specific splits; this samples the family."""
    import collections

    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.streaming.sketch_rollup import (  # noqa: E501
        merge_qdigest_batch,
    )

    # a fresh table per example
    table = DeltaLogTable(spark, str(tmp_path_factory.mktemp("qd_fuzz")))

    batches = collections.defaultdict(list)
    for g, v, b in rows:
        batches[b].append((g, v))
    for b in sorted(batches):
        merge_qdigest_batch(
            spark.createDataFrame(batches[b], GSCHEMA), table, "bucket",
            bits=BITS, sigma_frac=SIGMA_FRAC, keys=("grp",),
            app_id="split", batch_id=b,
        )

    want = collections.Counter(g for g, _v, _b in rows)
    mass = collections.Counter()
    state = collections.Counter()
    for r in table.read().collect():
        mass[r.grp] += r.cnt
        state[r.grp] += 1
    assert mass == want
    for g, n in state.items():
        assert n <= SIGMA_FRAC + BITS + 1, g
