"""Delta-protocol log reader/writer (sources/deltalog.py): round
trips through our own writer, time travel, overwrite tombstones,
partitioned layouts, and a HAND-CRAFTED log simulating an external
writer (different field order, extra fields, commitInfo-less
commits) — the delta-spark-free answer to the reference's Delta
sinks (bronze_ingestion.py:83, gold_transformation.py:79-160).
"""

from __future__ import annotations

import json
import os

import pytest

from lakehouse_alchemy_bronze_to_gold_pipeline_spark.sources.deltalog import (
    DeltaLogTable,
)


def _ids(df):
    return sorted(r["id"] for r in df.collect())


def test_roundtrip_append_overwrite_time_travel(spark, tmp_path):
    t = DeltaLogTable(spark, str(tmp_path / "dt"))
    assert t.write(spark.range(0, 3), "append") == 0
    assert t.write(spark.range(3, 5), "append") == 1
    assert _ids(t.read()) == [0, 1, 2, 3, 4]
    assert _ids(t.read(0)) == [0, 1, 2]

    assert t.write(spark.range(9, 11), "overwrite") == 2
    assert _ids(t.read()) == [9, 10]
    # tombstoned files stay on disk: old versions still travel
    assert _ids(t.read(1)) == [0, 1, 2, 3, 4]
    hist = t.history()
    assert [h["version"] for h in hist] == [0, 1, 2]
    assert hist[2]["operationParameters"]["mode"] == "OVERWRITE"


def test_partitioned_write_and_pruned_read(spark, tmp_path):
    t = DeltaLogTable(spark, str(tmp_path / "dp"))
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "id bigint, k string"
    )
    t.write(df, "append", partition_by=["k"])
    got = t.read()
    assert sorted((r["id"], r["k"]) for r in got.collect()) == [
        (1, "a"), (2, "a"), (3, "b"),
    ]
    # partition column survives via basePath and prunes at the scan
    plan = got.filter(got.k == "a")._jdf.queryExecution().executedPlan().toString()
    assert "a" in plan
    # appending with DIFFERENT partitioning is refused
    with pytest.raises(ValueError, match="partition"):
        t.write(df, "append")
    # add actions carry the partitionValues map per the protocol
    adds = [
        a["add"]
        for a in (
            json.loads(line)
            for line in open(
                os.path.join(str(tmp_path / "dp"), "_delta_log",
                             f"{0:020d}.json")
            )
        )
        if "add" in a
    ]
    assert {a["partitionValues"]["k"] for a in adds} == {"a", "b"}


def test_reads_external_writer_log(spark, tmp_path):
    """A log we did NOT write: minimal JSON with extra/unknown fields
    and no commitInfo, as an external engine might produce."""
    root = tmp_path / "ext"
    data = root / "files"
    os.makedirs(data)
    spark.range(0, 4).coalesce(1).write.mode("overwrite").parquet(
        str(root / "_tmp")
    )
    part = next(
        f for f in os.listdir(root / "_tmp") if f.endswith(".parquet")
    )
    os.rename(root / "_tmp" / part, root / "f1.parquet")
    schema = spark.range(0, 1).schema.json()
    log = root / "_delta_log"
    os.makedirs(log)
    with open(log / f"{0:020d}.json", "w") as fh:
        fh.write(json.dumps({"protocol": {
            "minReaderVersion": 1, "minWriterVersion": 2,
            "somethingNew": True}}) + "\n")
        fh.write(json.dumps({"metaData": {
            "id": "x", "schemaString": schema, "partitionColumns": [],
            "format": {"provider": "parquet"},
            "configuration": {"delta.appendOnly": "false"}}}) + "\n")
        fh.write(json.dumps({"add": {
            "path": "f1.parquet", "partitionValues": {}, "size": 1,
            "modificationTime": 0, "dataChange": True,
            "stats": "{\"numRecords\":4}"}}) + "\n")
    t = DeltaLogTable(spark, str(root))
    assert _ids(t.read()) == [0, 1, 2, 3]
    # and our writer can append to the external table
    t.write(spark.range(4, 6), "append")
    assert _ids(t.read()) == [0, 1, 2, 3, 4, 5]


def test_honest_gates(spark, tmp_path):
    t = DeltaLogTable(spark, str(tmp_path / "gates"))
    with pytest.raises(FileNotFoundError):
        t.read()
    t.write(spark.range(0, 2), "append")
    with pytest.raises(ValueError, match="unknown version"):
        t.read(7)
    # unsupported reader feature raises, never mis-reads
    log = tmp_path / "gates" / "_delta_log"
    with open(log / f"{1:020d}.json", "w") as fh:
        fh.write(json.dumps({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["deletionVectors"]}}) + "\n")
    with pytest.raises(NotImplementedError, match="deletionVectors"):
        t.read()
    # truncated log (checkpoint vacuumed the head) is detected
    os.remove(log / f"{1:020d}.json")
    os.rename(log / f"{0:020d}.json", log / f"{3:020d}.json")
    with pytest.raises(ValueError, match="truncated"):
        t.read()


def test_empty_snapshot_keeps_schema(spark, tmp_path):
    t = DeltaLogTable(spark, str(tmp_path / "empty"))
    t.write(spark.range(0, 2), "append")
    t.write(spark.range(0, 0), "overwrite")   # tombstones everything
    got = t.read()
    assert got.count() == 0
    assert got.schema.fieldNames() == ["id"]


def test_exactly_once_foreach_batch_replay(spark, tmp_path):
    """txn-action idempotence: replaying an already-committed
    micro-batch (the restart case) is a no-op, a new batch commits."""
    t = DeltaLogTable(spark, str(tmp_path / "eo"))
    assert t.write_batch_exactly_once(spark.range(0, 3), "app", 0) == 0
    # replay of batch 0 after a simulated restart: skipped
    assert t.write_batch_exactly_once(spark.range(0, 3), "app", 0) is None
    assert _ids(t.read()) == [0, 1, 2]
    # next batch commits; a DIFFERENT app id keeps its own counter
    assert t.write_batch_exactly_once(spark.range(3, 4), "app", 1) == 1
    assert t.write_batch_exactly_once(spark.range(9, 10), "other", 0) == 2
    assert _ids(t.read()) == [0, 1, 2, 3, 9]
    assert t.last_txn_version("app") == 1
    assert t.last_txn_version("other") == 0
    assert t.last_txn_version("unseen") == -1


def test_exactly_once_through_real_stream(spark, tmp_path):
    """End to end through Structured Streaming foreachBatch +
    availableNow: run the SAME source twice with separate checkpoint
    dirs (forcing batch-id replay) — the table still holds exactly
    one copy."""
    src = tmp_path / "src"
    spark.range(0, 5).write.mode("overwrite").parquet(str(src))
    t = DeltaLogTable(spark, str(tmp_path / "eos"))
    for run in range(2):
        q = (
            spark.readStream.schema("id bigint")
            .parquet(str(src))
            .writeStream.foreachBatch(
                lambda b, i: t.write_batch_exactly_once(b, "stream-app", i)
            )
            .option("checkpointLocation", str(tmp_path / f"ck{run}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)
    assert _ids(t.read()) == [0, 1, 2, 3, 4]


def test_checkpoint_and_log_truncation(spark, tmp_path):
    """Checkpoint the snapshot, DELETE every JSON entry at or before
    it (log retention), and the table stays fully readable — incl.
    the txn watermark — while pre-checkpoint time travel raises."""
    t = DeltaLogTable(spark, str(tmp_path / "cp"))
    t.write(spark.range(0, 3), "append")                          # v0
    t.write_batch_exactly_once(spark.range(3, 5), "app", 7)       # v1
    t.write(spark.range(5, 6), "append")                          # v2
    assert t.checkpoint() == 2
    t.write(spark.range(6, 8), "append")                          # v3

    log = tmp_path / "cp" / "_delta_log"
    for v in (0, 1, 2):
        os.remove(log / f"{v:020d}.json")

    assert _ids(t.read()) == list(range(8))      # checkpoint + v3 tail
    assert _ids(t.read(2)) == list(range(6))     # exactly at checkpoint
    assert _ids(t.read(3)) == list(range(8))
    assert t.last_txn_version("app") == 7        # carried by checkpoint
    # replay of an old batch id is still skipped after truncation
    assert t.write_batch_exactly_once(spark.range(0, 1), "app", 6) is None
    with pytest.raises(ValueError, match="truncated|missing"):
        t.read(1)                                # predates checkpoint
    # a later checkpoint, taken with the JSON head gone, still carries
    # the watermark forward from the earlier checkpoint
    assert t.checkpoint() == 3
    os.remove(log / f"{3:020d}.json")
    os.remove(log / f"{2:020d}.checkpoint.parquet")
    assert t.last_txn_version("app") == 7
    assert _ids(t.read()) == list(range(8))


def test_checkpoint_partitioned_roundtrip(spark, tmp_path):
    t = DeltaLogTable(spark, str(tmp_path / "cpp"))
    df = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id bigint, k string"
    )
    t.write(df, "append", partition_by=["k"])
    t.checkpoint()
    log = tmp_path / "cpp" / "_delta_log"
    os.remove(log / f"{0:020d}.json")
    got = t.read()
    assert sorted((r["id"], r["k"]) for r in got.collect()) == [
        (1, "a"), (2, "b"),
    ]
    # appends after truncation still validate the partition spec
    t.write(
        spark.createDataFrame([(3, "c")], "id bigint, k string"),
        "append", partition_by=["k"],
    )
    assert len(t.read().collect()) == 3


def test_add_stats_data_skipping(spark, tmp_path):
    """Writer records footer min/max in add.stats; pruned_read skips
    files whose envelope misses the range, equal to a plain filter."""
    t = DeltaLogTable(spark, str(tmp_path / "ds"))
    # clustered layout: 4 range-partitioned files with disjoint ids
    df = spark.range(0, 1000).repartitionByRange(4, "id")
    t.write(df, "append")
    adds = [
        json.loads(line)["add"]
        for line in open(
            os.path.join(str(tmp_path / "ds"), "_delta_log",
                         f"{0:020d}.json")
        )
        if '"add"' in line
    ]
    assert len(adds) == 4
    for a in adds:
        st = json.loads(a["stats"])
        assert st["numRecords"] > 0
        assert st["minValues"]["id"] <= st["maxValues"]["id"]

    got, total, read = t.pruned_read("id", 100, 120)
    assert total == 4 and read == 1
    assert _ids(got) == list(range(100, 121))
    # empty envelope intersection
    got2, _, read2 = t.pruned_read("id", 5000, 6000)
    assert read2 == 0 and got2.count() == 0
    # checkpointed snapshots keep the stats (skipping survives
    # log truncation)
    t.checkpoint()
    os.remove(os.path.join(str(tmp_path / "ds"), "_delta_log",
                           f"{0:020d}.json"))
    got3, total3, read3 = t.pruned_read("id", 100, 120)
    assert total3 == 4 and read3 == 1
    assert _ids(got3) == list(range(100, 121))


def test_optimize_zorder_compacts_and_prunes(spark, tmp_path):
    """OPTIMIZE ZORDER: same rows, fewer files, dataChange:false
    commit, tighter skipping envelopes on the clustered layout."""
    t = DeltaLogTable(spark, str(tmp_path / "opt"))
    df = spark.createDataFrame(
        [(i, i % 97) for i in range(2000)], "id bigint, v bigint"
    ).repartition(8)
    t.write(df, "append")
    before = t._replay(None)
    assert len(before["files"]) == 8

    v = t.optimize(n_files=4, zorder_by=["id", "v"])
    after = t._replay(None)
    # repartitionByRange SAMPLES split points, so an empty range
    # partition (session-state dependent) may write no file: 2..4
    assert 2 <= len(after["files"]) <= 4
    assert _ids(t.read()) == list(range(2000))
    # pre-optimize version still travels to the 8-file layout
    assert _ids(t.read(v - 1)) == list(range(2000))
    # the OPTIMIZE commit is dataChange: false throughout
    acts = t._actions(v)
    flags = [
        a[k]["dataChange"]
        for a in acts
        for k in ("add", "remove")
        if k in a
    ]
    assert flags and not any(flags)
    assert t.history()[-1]["operation"] == "OPTIMIZE"
    # clustered files skip: a narrow id range misses at least one
    # file (Morton boundaries may straddle; exact count is layout-
    # dependent) and the pruned result equals the plain filter
    got, total, read = t.pruned_read("id", 0, 100)
    assert read < total
    assert _ids(got) == list(range(0, 101))


def test_upsert_merge_semantics(spark, tmp_path):
    t = DeltaLogTable(spark, str(tmp_path / "up"))
    schema = "id bigint, val string, ver bigint"
    t.write(
        spark.createDataFrame([(1, "a", 1), (2, "b", 1), (3, "c", 1)], schema),
        "append",
    )
    v = t.upsert(
        spark.createDataFrame([(2, "B2", 2), (4, "d", 1)], schema),
        keys=["id"],
        order_col="ver",
    )
    got = {(r["id"], r["val"]) for r in t.read().collect()}
    assert got == {(1, "a"), (2, "B2"), (3, "c"), (4, "d")}
    # pre-merge state still travels
    pre = {(r["id"], r["val"]) for r in t.read(v - 1).collect()}
    assert pre == {(1, "a"), (2, "b"), (3, "c")}


def test_vacuum_drops_unreferenced_keeps_retained(spark, tmp_path):
    t = DeltaLogTable(spark, str(tmp_path / "vac"))
    t.write(spark.range(0, 3), "append")        # v0
    t.write(spark.range(9, 12), "overwrite")    # v1 tombstones v0
    t.write(spark.range(12, 13), "append")      # v2
    stats = t.vacuum(keep_versions=2)           # retain v1+v2
    assert stats["deleted_files"] >= 1          # v0's files gone
    assert _ids(t.read()) == [9, 10, 11, 12]
    assert _ids(t.read(1)) == [9, 10, 11]       # retained travels
    with pytest.raises(Exception):              # vacuumed: scan fails
        t.read(0).collect()


def test_concurrent_writer_loses_create_race(spark, tmp_path):
    """Optimistic concurrency: a second writer that targets an
    already-claimed version fails the O_EXCL create — no silent
    overwrite of a committed transaction."""
    t = DeltaLogTable(spark, str(tmp_path / "race"))
    t.write(spark.range(0, 2), "append")
    # simulate the race: pre-claim version 1's log name
    claimed = os.path.join(
        str(tmp_path / "race"), "_delta_log", f"{1:020d}.json"
    )
    with open(claimed, "w") as fh:
        fh.write(json.dumps({"commitInfo": {"operation": "WRITE"}}) + "\n")
    # freeze this writer's view to the PRE-race log listing, as a
    # concurrent writer that read the log before the rival's commit
    orig = t.versions
    t.versions = lambda: [0]
    try:
        with pytest.raises(FileExistsError):
            t.write(spark.range(2, 4), "append")
    finally:
        t.versions = orig


def test_random_commit_sequences_match_model(spark, tmp_path):
    """Model-based check: a random interleaving of append/overwrite/
    checkpoint/optimize/restore commits must always read back exactly
    what a trivial in-Python model of the table holds, at EVERY version —
    with and without the JSON head truncated behind a checkpoint.
    (Deterministic seeded sequences; hypothesis adds little here
    beyond seeds because each step costs a Spark write.)"""
    import random

    rng = random.Random(42)
    for trial in range(3):
        t = DeltaLogTable(spark, str(tmp_path / f"mdl{trial}"))
        model: list[list[int]] = []   # model[v] = expected ids at v
        nxt = 0
        last_cp = None
        for step in range(6):
            op = rng.choice(["append", "append", "overwrite",
                             "checkpoint", "optimize", "restore"])
            cur = list(model[-1]) if model else []
            if op == "append":
                ids = list(range(nxt, nxt + rng.randint(1, 3)))
                nxt += len(ids)
                t.write(spark.createDataFrame(
                    [(i,) for i in ids], "id bigint"), "append")
                model.append(sorted(cur + ids))
            elif op == "overwrite":
                ids = list(range(nxt, nxt + rng.randint(1, 2)))
                nxt += len(ids)
                t.write(spark.createDataFrame(
                    [(i,) for i in ids], "id bigint"), "overwrite")
                model.append(sorted(ids))
            elif op == "checkpoint":
                if not model:
                    continue
                last_cp = t.checkpoint()
                continue                   # no new version
            elif op == "optimize":
                if not model or not cur:
                    continue
                t.optimize(n_files=1)
                model.append(sorted(cur))  # rows unchanged
            else:  # restore
                if not model:
                    continue
                back = rng.randrange(len(model))
                t.restore(back)
                model.append(list(model[back]))
            assert _ids(t.read()) == model[-1]
        # every version still replays to its model state
        for v, expect in enumerate(model):
            assert _ids(t.read(v)) == expect, (trial, v)
        # truncate behind the checkpoint (if any): tail still exact
        if last_cp is not None:
            log = os.path.join(t.path, "_delta_log")
            for v in range(last_cp + 1):
                p = os.path.join(log, f"{v:020d}.json")
                if os.path.exists(p):
                    os.remove(p)
            for v in range(last_cp, len(model)):
                assert _ids(t.read(v)) == model[v], (trial, "trunc", v)


def test_schema_enforcement_and_overwrite_evolution(spark, tmp_path):
    """Delta's signature behavior: a drifted APPEND raises (a plain
    parquet dir would silently drop/null the new column at read);
    an OVERWRITE may evolve the schema and logs a new metaData."""
    t = DeltaLogTable(spark, str(tmp_path / "se"))
    t.write(spark.createDataFrame([(1, "a")], "id bigint, v string"),
            "append")
    # extra column
    with pytest.raises(ValueError, match="schema mismatch"):
        t.write(
            spark.createDataFrame(
                [(2, "b", 1.5)], "id bigint, v string, w double"
            ),
            "append",
        )
    # same names, different type
    with pytest.raises(ValueError, match="schema mismatch"):
        t.write(
            spark.createDataFrame([(3, 4)], "id bigint, v bigint"),
            "append",
        )
    # overwrite evolves: new metaData action rides the commit
    v = t.write(
        spark.createDataFrame([(9, "z", 2.5)],
                              "id bigint, v string, w double"),
        "overwrite",
    )
    assert any("metaData" in a for a in t._actions(v))
    got = t.read()
    assert got.schema.fieldNames() == ["id", "v", "w"]
    # matching append now succeeds again
    t.write(
        spark.createDataFrame([(10, "y", 3.5)],
                              "id bigint, v string, w double"),
        "append",
    )
    assert _ids(t.read()) == [9, 10]
    # old-schema version still reads with ITS schema
    assert t.read(0).schema.fieldNames() == ["id", "v"]


def test_pruned_read_at_historical_version(spark, tmp_path):
    """Data skipping composes with time travel: pruning runs over the
    REQUESTED version's file set, not the latest."""
    t = DeltaLogTable(spark, str(tmp_path / "pv"))
    t.write(spark.range(0, 100).repartitionByRange(2, "id"), "append")
    t.write(spark.range(1000, 1100).repartitionByRange(2, "id"),
            "overwrite")
    got, total, read = t.pruned_read("id", 0, 40, version=0)
    assert total == 2 and read == 1
    assert _ids(got) == list(range(0, 41))
    got2, _, read2 = t.pruned_read("id", 0, 40)   # latest: nothing
    assert read2 == 0 and got2.count() == 0


def test_delta_inspect_tool_smoke(spark, tmp_path):
    """tools/delta_inspect.py renders the log health view without
    Spark or delta-spark."""
    import subprocess
    import sys as _sys

    t = DeltaLogTable(spark, str(tmp_path / "ins"))
    t.write(spark.range(0, 10), "append")
    t.write_batch_exactly_once(spark.range(10, 12), "app", 5)
    t.checkpoint()
    out = subprocess.run(
        [_sys.executable, "tools/delta_inspect.py", t.path],
        capture_output=True, text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert out.returncode == 0
    assert "CHECKPOINT" in out.stdout
    assert "txn watermark: app -> 5" in out.stdout
    assert "live files:" in out.stdout


def _partitioned_bigint_table(spark, path, *extra):
    """6 rows partitioned by a ``bigint`` column ``p`` (3 values),
    plus the ``extra`` column expressions."""
    t = DeltaLogTable(spark, path)
    t.write(
        spark.range(6).selectExpr("id", "id % 3 AS p", *extra),
        "append",
        partition_by=["p"],
    )
    return t


def test_bigint_partition_column_keeps_its_type(spark, tmp_path):
    """The log types the columns: hive-path partition discovery would
    read the ``bigint`` partition column back as ``int``."""
    t = _partitioned_bigint_table(spark, str(tmp_path / "pt"))
    types = dict(t.read().dtypes)
    assert types == {"id": "bigint", "p": "bigint"}
    got, _, _ = t.pruned_read("id", 0, 3)
    assert dict(got.dtypes) == types


def _assert_partitioned_by_p(t):
    snap = t._replay(None)
    assert snap["meta"]["partitionColumns"] == ["p"]
    assert snap["files"]
    for path, add in snap["files"].items():
        v = add["partitionValues"]["p"]
        assert path.startswith(f"p={v}/"), path


def test_upsert_and_forget_keep_partitioning(spark, tmp_path):
    """Both read-modify-overwrites rewrite a partitioned table as a
    partitioned table: the log's partitionColumns, every live add's
    partitionValues and the file layout stay in agreement."""
    t = _partitioned_bigint_table(
        spark, str(tmp_path / "pk"), "CAST(0 AS BIGINT) AS ver"
    )
    t.upsert(
        spark.createDataFrame(
            [(1, 1, 1), (7, 1, 1)], "id bigint, p bigint, ver bigint"
        ),
        keys=["id"],
        order_col="ver",
    )
    _assert_partitioned_by_p(t)
    assert dict(t.read().dtypes) == {
        "id": "bigint", "p": "bigint", "ver": "bigint"
    }
    assert sorted((r.id, r.p) for r in t.read().collect()) == [
        (i, i % 3) for i in range(6)
    ] + [(7, 1)]

    t.forget_keys("id", [0, 4])
    _assert_partitioned_by_p(t)
    want = [(i, i % 3) for i in (1, 2, 3, 5)] + [(7, 1)]
    assert sorted((r.id, r.p) for r in t.read().collect()) == want
    # the partition column still prunes like a plain filter
    assert sorted(
        (r.id, r.p) for r in t.read().filter("p = 1").collect()
    ) == [x for x in want if x[1] == 1]
    # an overwrite that drops the partitioning logs it, schema unchanged
    v = t.write(t.read(), "overwrite")
    assert any("metaData" in a for a in t._actions(v))
    snap = t._replay(None)
    assert snap["meta"]["partitionColumns"] == []
    assert all(a["partitionValues"] == {} for a in snap["files"].values())


def test_partitioned_read_keeps_the_logged_column_order(spark, tmp_path):
    """The parquet reader puts hive partition columns last; the read
    gives the logged order whether the snapshot has files or not."""
    t = DeltaLogTable(spark, str(tmp_path / "order"))
    t.write(
        spark.range(4).selectExpr("id % 2 AS p", "id"),
        "append",
        partition_by=["p"],
    )
    assert t.read().columns == ["p", "id"]
    assert sorted(tuple(r) for r in t.read().collect()) == [
        (0, 0), (0, 2), (1, 1), (1, 3),
    ]
    t.write(spark.range(0).selectExpr("id AS p", "id"), "overwrite",
            partition_by=["p"])
    assert t.read().columns == ["p", "id"]


def test_one_log_replay_per_guarded_commit(spark, tmp_path, monkeypatch):
    """A guarded commit replays the log once: the replay guard, the
    fold's snapshot and the commit's base version come from one pass
    that opens each of the table's k JSON entries once."""
    t = DeltaLogTable(spark, str(tmp_path / "replay"))
    k = 4
    for i in range(k):
        t.write(spark.range(i, i + 1), "append")
    opened = []
    real = DeltaLogTable._actions

    def counted(self, version):
        opened.append(version)
        return real(self, version)

    monkeypatch.setattr(DeltaLogTable, "_actions", counted)
    fold = lambda snap: snap.unionByName(spark.range(9, 10))  # noqa: E731
    assert t.write_batch_exactly_once(fold, "app", 0) == k
    assert sorted(opened) == list(range(k))
    opened.clear()
    assert t.write_batch_exactly_once(spark.range(5, 6), "app", 1) == k + 1
    assert sorted(opened) == list(range(k + 1))
    opened.clear()
    assert t.write_batch_exactly_once(fold, "app", 1) is None
    assert sorted(opened) == list(range(k + 2))
    assert _ids(t.read()) == [0, 1, 2, 3, 5, 9]
    # a batch that has not landed reads the latest snapshot off one
    # replay; only a replayed batch scans for its landing version
    opened.clear()
    assert _ids(t.read_before("app", 2)) == [0, 1, 2, 3, 5, 9]
    assert sorted(opened) == list(range(k + 2))
    opened.clear()
    assert _ids(t.read_before("app", 1)) == [0, 1, 2, 3, 9]
