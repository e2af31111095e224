"""Gold-layer write layout and Bronze schema freezing in
``MedallionPipeline``.

Pins the three properties of the medallion write path that keep its
file count and rescans bounded:

- the fact sink writes one parquet file per date per micro-batch (per
  call in batch), however many tasks the input spans;
- a clustered dim is written clustered in its one write — no snapshot
  copy, no second rewrite;
- Bronze infers an entity's schema once, when its table is created;
  later calls reuse the table's ``payload`` struct.
"""

from __future__ import annotations

import datetime
import json
import os
import shutil
from collections import Counter

import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from lakehouse_alchemy_bronze_to_gold_pipeline_spark.catalog import Lakehouse
from lakehouse_alchemy_bronze_to_gold_pipeline_spark.streaming import (
    pipeline as pipeline_mod,
)
from lakehouse_alchemy_bronze_to_gold_pipeline_spark.streaming.pipeline import (
    EntityConfig,
    MedallionPipeline,
)

DATES = (datetime.date(2024, 1, 1), datetime.date(2024, 1, 2),
         datetime.date(2024, 1, 3))
LINES = StructType([
    StructField("line_id", LongType()),
    StructField("product_id", LongType()),
    StructField("ts", TimestampType()),
])


@pytest.fixture()
def lakehouse(spark, tmp_path):
    lh = Lakehouse(spark, str(tmp_path / "wh"), prefix=f"g{os.getpid()}")
    yield lh
    for layer in ("bronze", "gold"):
        spark.sql(f"DROP DATABASE IF EXISTS {lh.prefix}_{layer} CASCADE")


def _land_lines(spark, path: str, first_id: int, n_files: int = 4) -> None:
    """``n_files`` parquet files, each holding lines on every date, so
    without a rebalance every task writes a file for every date."""
    for f in range(n_files):
        rows = [
            (first_id + f * 30 + i, i % 5,
             datetime.datetime.combine(DATES[i % 3], datetime.time(12)))
            for i in range(30)
        ]
        spark.createDataFrame(rows, LINES).coalesce(1).write.mode(
            "append"
        ).parquet(path)


def _files_per_date(pipe, table: str) -> Counter:
    loc = pipe.io._table_location(table).removeprefix("file:")
    return Counter(
        d
        for d in os.listdir(loc)
        if d.startswith("order_date=")
        for f in os.listdir(os.path.join(loc, d))
        if f.endswith(".parquet")
    )


@pytest.mark.parametrize("streaming", [True, False])
def test_fact_writes_one_file_per_date_per_batch(
    spark, lakehouse, tmp_path, streaming
):
    src = str(tmp_path / "lines")
    pipe = MedallionPipeline(spark, lakehouse, [])
    dim = spark.createDataFrame(
        [(p, f"cat{p % 2}") for p in range(5)], "product_id long, category string"
    )

    def run_batch():
        if streaming:
            lines = spark.readStream.schema(LINES).parquet(src)
        else:
            lines = spark.read.schema(LINES).parquet(src)
        fact = lines.join(F.broadcast(dim), "product_id").withColumn(
            "order_date", F.to_date("ts")
        )
        return pipe.build_gold_fact(fact, "fact_lines", partition_by=["order_date"])

    _land_lines(spark, src, first_id=0)
    table = run_batch()
    want = {f"order_date={d}": 1 for d in DATES}
    assert _files_per_date(pipe, table) == want

    # a second micro-batch (in batch, a second call over only the new
    # files) adds exactly one more file per date
    if not streaming:
        shutil.rmtree(src)
    _land_lines(spark, src, first_id=1000)
    run_batch()
    assert _files_per_date(pipe, table) == {k: 2 for k in want}
    assert spark.read.table(table).count() == 240


def test_clustered_dim_is_one_write_with_disjoint_ranges(
    spark, lakehouse, monkeypatch
):
    saved = []
    real = DataFrameWriter.saveAsTable

    def spy(self, name, *a, **kw):
        saved.append(name)
        return real(self, name, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "saveAsTable", spy)
    # keep all four range partitions (AQE would coalesce this small
    # dim into one file, which trivially has disjoint ranges)
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prior = spark.conf.get(key)
    spark.conf.set(key, "false")
    pipe = MedallionPipeline(spark, lakehouse, [])
    # key scattered over 8 input partitions, so every input task spans
    # the whole key range
    dim = spark.range(4000).select(
        F.pmod(F.col("id") * 2654435761, F.lit(4000)).alias("k"),
        F.col("id").alias("payload"),
    ).repartition(8)
    try:
        table = pipe.build_gold_dim("probe", dim, cluster_by=["k"])
    finally:
        spark.conf.set(key, prior)

    assert saved == [table]
    out = spark.read.table(table)
    assert out.count() == 4000
    ranges = sorted(
        (r.lo, r.hi)
        for r in out.groupBy(F.input_file_name())
        .agg(F.min("k").alias("lo"), F.max("k").alias("hi"))
        .collect()
    )
    assert len(ranges) > 1
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi < lo


def test_bronze_infers_schema_once_per_entity(
    spark, lakehouse, tmp_path, monkeypatch
):
    src = str(tmp_path / "src" / "things")
    os.makedirs(src)
    with open(os.path.join(src, "a.json"), "w") as fh:
        json.dump([{"id": 1, "name": "a"}], fh)
    calls = []
    real = pipeline_mod.infer_json_schema

    def counting(*a, **kw):
        calls.append(a)
        return real(*a, **kw)

    monkeypatch.setattr(pipeline_mod, "infer_json_schema", counting)
    pipe = MedallionPipeline(
        spark, lakehouse, [EntityConfig(name="things", source_dir=src)]
    )
    table = pipe.bronze_ingest("things")
    assert len(calls) == 1

    with open(os.path.join(src, "b.json"), "w") as fh:
        json.dump([{"id": 2, "name": "b"}], fh)
    pipe.bronze_ingest("things")
    assert len(calls) == 1
    rows = spark.read.table(table).select("payload.id", "payload.name")
    assert sorted(map(tuple, rows.collect())) == [(1, "a"), (2, "b")]
