"""Zone maps on the Delta log: the writer records each data file's
min/max in ``add.stats`` (from the parquet footer), and
``DeltaLogTable.pruned_read`` skips files whose envelope misses the
range — equal to a plain filter while opening fewer files."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from lakehouse_alchemy_bronze_to_gold_pipeline_spark.sources.deltalog import (
    DeltaLogTable,
)


def _clustered(spark, path, n=10_000, files=8) -> DeltaLogTable:
    t = DeltaLogTable(spark, path)
    t.write(
        spark.range(n)
        .select(
            F.col("id").alias("k"),
            (F.col("id") * 7 % 1000).alias("v"),
        )
        .repartitionByRange(files, "k"),
        "overwrite",
    )
    return t


def test_pruned_read_equals_filter_with_fewer_files(spark, tmp_path):
    t = _clustered(spark, str(tmp_path / "t"))

    df, total, read = t.pruned_read("k", 100, 300)
    assert total >= 4 and read < total, (total, read)
    want = sorted(
        r["k"]
        for r in t.read()
        .filter((F.col("k") >= 100) & (F.col("k") <= 300))
        .collect()
    )
    got = sorted(r["k"] for r in df.collect())
    assert got == want and len(got) == 201

    # a range outside the data opens NOTHING
    df0, _, read0 = t.pruned_read("k", 10**9, 2 * 10**9)
    assert read0 == 0 and df0.count() == 0


def test_zone_map_covers_every_file(spark, tmp_path):
    t = _clustered(spark, str(tmp_path / "t2"), n=2_000, files=4)
    stats = [
        json.loads(add["stats"])
        for add in t._replay(None)["files"].values()
    ]
    assert len(stats) == 4
    assert sum(st["numRecords"] for st in stats) == 2_000
    for st in stats:
        assert set(st["minValues"]) == set(st["maxValues"]) == {"k", "v"}
    # envelopes cover the global range with no gaps on the sorted key
    lows = sorted(st["minValues"]["k"] for st in stats)
    highs = sorted(st["maxValues"]["k"] for st in stats)
    assert lows[0] == 0 and highs[-1] == 1999
    for hi, lo in zip(highs, lows[1:]):
        assert lo == hi + 1
