"""Table history on the Delta log (``DeltaLogTable``): time travel,
metadata-only restore, compaction, vacuum retention, the change feed
and erasure."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from lakehouse_alchemy_bronze_to_gold_pipeline_spark.sources.deltalog import (
    DeltaLogTable,
)


def _ids(df, col="id"):
    return sorted(r[col] for r in df.collect())


def _data_files(t: DeltaLogTable) -> dict[str, tuple[int, int]]:
    """Every parquet data file on disk -> (size, mtime_ns)."""
    out = {}
    for dirpath, _dirs, files in os.walk(t.path):
        if os.path.basename(dirpath) == "_delta_log":
            continue
        for f in files:
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(dirpath, f))
                rel = os.path.relpath(os.path.join(dirpath, f), t.path)
                out[rel] = (st.st_size, st.st_mtime_ns)
    return out


def test_versioned_table_time_travel(spark, tmp_path):
    t = DeltaLogTable(spark, str(tmp_path / "t"))
    with pytest.raises(FileNotFoundError):
        t.read()
    v0 = t.write(
        spark.createDataFrame([Row(k=1, v="a"), Row(k=2, v="b")]),
        "overwrite",
    )
    v1 = t.write(spark.createDataFrame([Row(k=3, v="c")]), "append")
    v2 = t.write(spark.createDataFrame([Row(k=9, v="z")]), "overwrite")
    assert (v0, v1, v2) == (0, 1, 2)
    assert t.read(0).count() == 2
    assert _ids(t.read(1), "k") == [1, 2, 3]
    assert _ids(t.read(2), "k") == [9]
    assert _ids(t.read(), "k") == [9]
    # roll back to v1 as a new version
    assert t.restore(1) == 3
    assert _ids(t.read(), "k") == [1, 2, 3]
    hist = t.history()
    assert [h["operation"] for h in hist] == [
        "WRITE", "WRITE", "WRITE", "RESTORE",
    ]
    assert hist[-1]["operationParameters"] == {"version": 1}
    # the pre-restore state still travels
    assert _ids(t.read(2), "k") == [9]
    with pytest.raises(ValueError):
        t.read(99)


def test_versioned_table_append_is_delta_only(spark, tmp_path):
    t = DeltaLogTable(spark, str(tmp_path / "t2"))
    t.write(spark.range(100).selectExpr("id AS k"), "overwrite")
    files0 = set(t._replay(0)["files"])
    t.write(spark.range(5).selectExpr("id + 100 AS k"), "append")
    # append wrote only the 5-row delta, as new files
    added = [a["add"] for a in t._actions(1) if "add" in a]
    assert sum(json.loads(a["stats"])["numRecords"] for a in added) == 5
    assert not {a["path"] for a in added} & files0
    assert set(t._replay(1)["files"]) == files0 | {a["path"] for a in added}
    assert t.read(1).count() == 105
    # restore is metadata-only: no data file written, moved or touched
    before = _data_files(t)
    v = t.restore(0)
    assert _data_files(t) == before
    acts = t._actions(v)
    assert not any("add" in a for a in acts)
    assert {a["remove"]["path"] for a in acts if "remove" in a} == {
        a["path"] for a in added
    }
    assert t.read().count() == 100


def test_compact_and_vacuum(spark, tmp_path):
    t = DeltaLogTable(spark, str(tmp_path / "vt"))
    t.write(spark.range(0, 3), "overwrite")            # v0
    t.write(spark.range(3, 5), "append")               # v1
    t.write(spark.range(5, 6), "append")               # v2
    assert t.read().count() == 6
    n_before = len(t._replay(None)["files"])

    v3 = t.optimize(n_files=1)                          # one file
    assert len(t._replay(v3)["files"]) == 1
    assert t.history()[-1]["operation"] == "OPTIMIZE"
    assert _ids(t.read()) == list(range(6))
    # pre-compact versions still travel
    assert t.read(1).count() == 5

    stats = t.vacuum(keep_versions=1)
    # every pre-compact file is gone; the compacted file survives
    assert stats["deleted_files"] == n_before
    assert _ids(t.read()) == list(range(6))
    with pytest.raises(Exception):
        t.read(1).collect()
    # ... and restoring it refuses rather than committing dead paths
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        t.restore(1)


def test_vacuum_keeps_dirs_referenced_by_restores(spark, tmp_path):
    t = DeltaLogTable(spark, str(tmp_path / "vt2"))
    t.write(spark.range(0, 4), "overwrite")            # v0
    t.write(spark.range(9, 10), "overwrite")           # v1
    n_v1 = len(t._replay(1)["files"])
    t.restore(0)                                        # v2 re-adds v0's
    stats = t.vacuum(keep_versions=1)                   # keep only v2
    # v0's files are referenced by the RETAINED restore: kept
    assert stats["deleted_files"] == n_v1
    assert _ids(t.read()) == [0, 1, 2, 3]


def test_changes_between_versions(spark, tmp_path):
    t = DeltaLogTable(spark, str(tmp_path / "vt3"))
    t.write(spark.range(0, 4).withColumn("v", F.col("id") * 10), "overwrite")
    t.write(
        spark.createDataFrame(
            [(1, 10), (2, 99), (4, 40)], "id bigint, v bigint"
        ),
        "overwrite",
    )
    ch = {
        r["id"]: r["change"]
        for r in t.changes(0, 1, keys=("id",)).collect()
    }
    assert ch == {0: "delete", 2: "update", 3: "delete", 4: "insert"}
    # v_to defaults to the latest version
    assert t.changes(0, keys=("id",)).count() == 4


def test_forget_keys_erases_history(spark, tmp_path):
    t = DeltaLogTable(spark, str(tmp_path / "vt4"))
    # one row per file: every key is the min and max of a file's stats
    t.write(spark.range(0, 5, numPartitions=5), "overwrite")
    t.write(spark.range(5, 8, numPartitions=3), "append")
    n_before = len(t._replay(None)["files"])
    stats = t.forget_keys("id", [2, 6])
    assert _ids(t.read()) == [0, 1, 3, 4, 5, 7]
    # every pre-erasure log entry is gone; a checkpoint stands in
    assert t.versions() == [stats["version"]]
    assert t._checkpoints() == [stats["version"]]
    # ... so no surviving add.stats quotes an erased key
    quoted = set()
    for acts in (t._actions(stats["version"]),
                 t._checkpoint_actions(stats["version"])):
        for a in acts:
            if "add" in a and a["add"].get("stats"):
                st = json.loads(a["add"]["stats"])
                quoted |= set(st["minValues"].values())
                quoted |= set(st["maxValues"].values())
    assert quoted and not quoted & {2, 6}
    # ... and every data file on disk is live in the new version
    assert stats["deleted_files"] == n_before
    assert set(_data_files(t)) == set(t._replay(None)["files"])


def test_vacuum_path_spelling_independent(spark, tmp_path):
    """Opening the same table via a differently-spelled path
    (relative, or through a symlink) must not make referenced data
    files look unreferenced to vacuum."""
    abs_path = str(tmp_path / "vt3")
    t = DeltaLogTable(spark, abs_path)
    t.write(spark.range(0, 4), "overwrite")            # v0
    t.write(spark.range(4, 6), "append")               # v1

    link = str(tmp_path / "link")
    os.symlink(abs_path, link)
    via_link = DeltaLogTable(spark, link)
    assert via_link.vacuum(keep_versions=1)["deleted_files"] == 0

    cwd = os.getcwd()
    os.chdir(str(tmp_path))
    try:
        rel = DeltaLogTable(spark, os.path.relpath(abs_path))
        stats = rel.vacuum(keep_versions=2)             # keeps v0+v1
        assert stats["deleted_files"] == 0
        assert rel.read().count() == 6
    finally:
        os.chdir(cwd)
    assert t.read().count() == 6
