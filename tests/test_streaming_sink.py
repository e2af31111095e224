"""One exactly-once streaming sink.

Every state sink commits through ``DeltaLogTable.write_batch_exactly_once``
via the one ``foreachBatch`` runner (``streaming/sink.py``), so a
batch that Spark replays after a crash is skipped in the log instead
of being applied twice.

- The crash-replay test runs two batches, deletes the last
  ``commits/N`` entry (and its ``.N.crc`` sidecar — with the sidecar
  left behind the restart fails on a "concurrent" commit log) and
  restarts: Spark re-runs batch N, and the table and its log must not
  change.
- The structural guard keeps it that way: one ``foreachBatch`` call in
  the package, and no catalog-table guards left in the moved sinks.
"""

from __future__ import annotations

import ast
import json
import os
import random
from pathlib import Path

import numpy as np
import pytest

from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators.merge import (
    streaming_upsert,
)
from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators.quality import (
    null_pk_rule,
    positive_rule,
)
from lakehouse_alchemy_bronze_to_gold_pipeline_spark.sources.deltalog import (
    DeltaLogTable,
)
from lakehouse_alchemy_bronze_to_gold_pipeline_spark.streaming import (
    sketch_rollup as sr,
)
from lakehouse_alchemy_bronze_to_gold_pipeline_spark.streaming.fd_maintain import (
    IncrementalFDSketch,
)
from lakehouse_alchemy_bronze_to_gold_pipeline_spark.streaming.incremental_dedup import (
    IncrementalNearDupFilter,
)
from lakehouse_alchemy_bronze_to_gold_pipeline_spark.streaming.ivf_maintain import (
    IncrementalIVFIndex,
    IncrementalPQIndex,
)
from lakehouse_alchemy_bronze_to_gold_pipeline_spark.streaming.rollup import (
    continuous_aggregate,
)

PKG = Path(__file__).resolve().parent.parent / (
    "lakehouse_alchemy_bronze_to_gold_pipeline_spark"
)

SCHEMA = (
    "grp string, item string, bucket bigint, amt double, "
    "ts timestamp, value double, embedding array<double>, id bigint, "
    "text string"
)

# near-duplicate texts: one word of a few base sentences replaced
BASES = [
    "the quick brown fox jumps over the lazy dog near the old river",
    "spark sql engines shuffle rows between executors at every stage",
    "each delta log entry commits one table version as a json file",
]
WORDS = ["red", "slow", "big", "one", "new", "odd"]

# sink name -> (table names, start(stream, tables, checkpoint))
SINKS = {
    "cms": (["t"], lambda s, t, cp: sr.streaming_cms(
        s, t[0], "item", cp, depth=4, width=32)),
    "kmv": (["t"], lambda s, t, cp: sr.streaming_kmv(
        s, t[0], "grp", "item", cp, k=8)),
    "hll": (["t"], lambda s, t, cp: sr.streaming_hll(
        s, t[0], "grp", "item", cp)),
    "mg": (["t"], lambda s, t, cp: sr.streaming_mg(
        s, t[0], "item", cp, capacity=4)),
    "qdigest": (["t"], lambda s, t, cp: sr.streaming_qdigest(
        s, t[0], "bucket", cp, bits=6, sigma_frac=8)),
    "expectations": (["pass", "quar"], lambda s, t, cp:
                     sr.streaming_expectations(
                         s, [null_pk_rule(["item"]), positive_rule(["amt"])],
                         t[0], t[1], cp)),
    "fd": (["t"], lambda s, t, cp: IncrementalFDSketch(
        t[0], ell=2, d=4).writer(s, cp)),
    "continuous_aggregate": (["t"], lambda s, t, cp: continuous_aggregate(
        s, t[0], ts_col="ts", window="15 minutes",
        watermark="30 minutes", checkpoint=cp)),
    "ivf": (["t"], lambda s, t, cp: IncrementalIVFIndex(
        t[0], np.random.default_rng(7).standard_normal((3, 4)),
        id_col="id").writer(s, cp)),
    "pq": (["t"], lambda s, t, cp: IncrementalPQIndex(
        t[0], np.random.default_rng(7).standard_normal((2, 4, 2)),
        id_col="id").writer(s, cp)),
    "neardup": (["sigs", "buckets", "out"], lambda s, t, cp:
                IncrementalNearDupFilter(
                    t[0], t[1], id_col="id").sink(s, t[2], cp)),
    "upsert": (["t"], lambda s, t, cp: streaming_upsert(
        s, t[0], ["grp"], "id", cp)),
}


def _write_batch(src: str, name: str, seed: int, n: int) -> None:
    rng = random.Random(seed)
    text_rng = random.Random(-seed)
    os.makedirs(src, exist_ok=True)
    with open(os.path.join(src, name), "w") as fh:
        for i in range(n):
            words = text_rng.choice(BASES).split()
            words[text_rng.randrange(len(words))] = text_rng.choice(WORDS)
            fh.write(json.dumps({
                "grp": rng.choice(["a", "b"]),
                "item": rng.choice([None, "x", "y", "z", "w", "v"]),
                "bucket": rng.randint(0, 63),
                "amt": rng.choice([-1.0, 2.0, 5.0]),
                "ts": f"2024-01-01 10:{rng.randint(0, 29):02d}:00",
                "value": float(rng.randint(1, 9)),
                "embedding": [rng.random() for _ in range(4)],
                "id": seed * 1000 + i,
                "text": " ".join(words),
            }) + "\n")


def _rows(table: DeltaLogTable) -> list:
    return sorted(repr(tuple(r)) for r in table.read().collect())


@pytest.fixture()
def no_empty_batches(spark):
    """A no-data micro-batch (run to advance the rollup's watermark)
    would otherwise be the last batch, and replaying it shows
    nothing."""
    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    yield
    spark.conf.set(key, old)


@pytest.mark.parametrize("sink", sorted(SINKS))
def test_crash_replay_is_skipped(spark, tmp_path, no_empty_batches, sink):
    names, start = SINKS[sink]
    tables = [DeltaLogTable(spark, str(tmp_path / n)) for n in names]
    src, cp = str(tmp_path / "src"), str(tmp_path / "cp")

    def run():
        stream = spark.readStream.schema(SCHEMA).json(src)
        q = start(stream, tables, cp).start()
        q.awaitTermination(120)
        return q

    _write_batch(src, "b1.json", seed=1, n=40)
    run()
    _write_batch(src, "b2.json", seed=2, n=30)
    run()
    clean = [_rows(t) for t in tables]
    versions = [t.versions() for t in tables]

    # crash after the batch's data commit, before Spark logged it done
    commits = os.path.join(cp, "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    os.remove(os.path.join(commits, str(last)))
    os.remove(os.path.join(commits, f".{last}.crc"))
    replay = run().recentProgress
    assert [(p.batchId, p.numInputRows > 0) for p in replay] == [
        (last, True)
    ]

    assert [t.versions() for t in tables] == versions
    assert [_rows(t) for t in tables] == clean


def _calls(tree: ast.AST, attr: str) -> list[ast.Call]:
    return [
        n for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == attr
    ]


def test_one_foreach_batch_call_in_the_package():
    """Every streaming sink goes through the runner: the package holds
    exactly one ``.foreachBatch(`` call (docstrings do not count)."""
    sites = [
        path.relative_to(PKG).as_posix()
        for path in sorted(PKG.rglob("*.py"))
        for _ in _calls(ast.parse(path.read_text()), "foreachBatch")
    ]
    assert sites == ["streaming/sink.py"]


@pytest.mark.parametrize(
    "module",
    ["streaming/sketch_rollup.py", "streaming/fd_maintain.py",
     "streaming/rollup.py", "streaming/ivf_maintain.py",
     "streaming/incremental_dedup.py"],
)
def test_moved_sinks_keep_no_guard_of_their_own(module):
    """The sinks on the log use no catalog table and no replay guard
    of their own: no ``tableExists``/``refreshTable``, no
    ``TableIO``/``rewrite``, and no ``batch_id`` column."""
    tree = ast.parse((PKG / module).read_text())
    names = {n.attr for n in ast.walk(tree) if isinstance(n, ast.Attribute)}
    names |= {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    names |= {
        a.name for n in ast.walk(tree) if isinstance(n, ast.ImportFrom)
        for a in n.names
    }
    assert not names & {"tableExists", "refreshTable", "rewrite", "TableIO"}
    literals = {
        n.value for n in ast.walk(tree)
        if isinstance(n, ast.Constant) and isinstance(n.value, str)
    }
    assert "batch_id" not in literals
