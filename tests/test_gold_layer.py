"""Gold-layer write layout and Bronze schema freezing in
``MedallionPipeline``.

Pins the properties of the medallion write path that keep its file
count and rescans bounded:

- the fact sink sizes its files by bytes: a new fact too small for
  any date to fill a file (``spark.sql.files.maxPartitionBytes``) is
  written unpartitioned, range-partitioned on the date, at most
  shuffle-partitions files per micro-batch (per call in batch) with
  disjoint date ranges; a larger one, or a table already partitioned,
  gets one directory per date and one file per date per micro-batch,
  however many tasks the input spans;
- the bound on a write's bytes is the sum of its plan's leaf sizes,
  so a batch fact joined to parquet dims is sized by the bytes it
  reads, not by the optimizer's join estimate;
- a clustered dim is written clustered in its one write — no snapshot
  copy, no second rewrite;
- Bronze infers an entity's schema once, when its table is created;
  later calls reuse the table's ``payload`` struct.
"""

from __future__ import annotations

import contextlib
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
from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators.star import (
    DimSpec,
    build_fact,
)
from lakehouse_alchemy_bronze_to_gold_pipeline_spark.sources.tables import (
    _bytes_bound,
    _target_file_bytes,
    local_table,
)
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


def _data_files(pipe, table: str) -> set[str]:
    loc = pipe.io._table_location(table).removeprefix("file:")
    return {
        os.path.relpath(os.path.join(d, f), loc)
        for d, _, names in os.walk(loc)
        for f in names
        if f.endswith(".parquet")
    }


class _FactRun:
    """The medallion's fact sink over landed line files: streaming
    (one micro-batch per call over the new files) or batch (one call
    over only the new files)."""

    def __init__(self, spark, lakehouse, tmp_path, streaming):
        self.spark, self.streaming = spark, streaming
        self.src = str(tmp_path / "lines")
        self.pipe = MedallionPipeline(spark, lakehouse, [])
        # literal rows, so a batch plan's size estimate is their bytes
        self.dim = local_table(
            spark, [(p, f"cat{p % 2}") for p in range(5)],
            "product_id long, category string",
        )
        self.batches = 0

    def land(self):
        """Land the next batch of lines; the fact frame over them."""
        if self.batches and not self.streaming:
            shutil.rmtree(self.src)
        _land_lines(self.spark, self.src, first_id=1000 * self.batches)
        self.batches += 1
        reader = self.spark.readStream if self.streaming else self.spark.read
        lines = reader.schema(LINES).parquet(self.src)
        return lines.join(F.broadcast(self.dim), "product_id").withColumn(
            "order_date", F.to_date("ts")
        )

    def __call__(self) -> str:
        return self.pipe.build_gold_fact(
            self.land(), "fact_lines", partition_by=["order_date"]
        )


@contextlib.contextmanager
def _conf(spark, key: str, value: str):
    prior = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, prior)


#: far below one landed file, so any fact write reaches one target file
TINY_FILE = ("spark.sql.files.maxPartitionBytes", "256")


@pytest.mark.parametrize("streaming", [True, False])
def test_small_fact_is_unpartitioned_with_disjoint_date_ranges(
    spark, lakehouse, tmp_path, streaming
):
    run = _FactRun(spark, lakehouse, tmp_path, streaming)
    n_files = int(spark.conf.get("spark.sql.shuffle.partitions"))
    seen: set[str] = set()
    for _ in range(2):
        table = run()
        assert run.pipe.io._partition_columns(table) == []
        files = _data_files(run.pipe, table)
        new, seen = files - seen, files
        assert 1 <= len(new) <= n_files
        assert all(os.sep not in f for f in new)
        ranges = sorted(
            (r.lo, r.hi)
            for r in spark.read.table(table)
            .groupBy(F.input_file_name().alias("f"))
            .agg(F.min("order_date").alias("lo"),
                 F.max("order_date").alias("hi"))
            .collect()
            if os.path.basename(r.f) in new
        )
        assert len(ranges) == len(new)
        for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
            assert hi < lo

    out = spark.read.table(table)
    assert out.count() == 240
    every = out.collect()
    for d in DATES:
        got = sorted(r.line_id for r in out.filter(F.col("order_date") == d)
                     .collect())
        assert got == sorted(r.line_id for r in every if r.order_date == d)
        assert len(got) == 80


@pytest.mark.parametrize("streaming", [True, False])
def test_fact_over_one_file_writes_one_file_per_date_per_batch(
    spark, lakehouse, tmp_path, streaming
):
    run = _FactRun(spark, lakehouse, tmp_path, streaming)
    with _conf(spark, *TINY_FILE):
        table = run()
        want = {f"order_date={d}": 1 for d in DATES}
        assert _files_per_date(run.pipe, table) == want
        # a second micro-batch (in batch, a second call over only the
        # new files) adds exactly one more file per date
        run()
    assert _files_per_date(run.pipe, table) == {k: 2 for k in want}
    assert spark.read.table(table).count() == 240


@pytest.mark.parametrize("streaming", [True, False])
def test_partitioned_fact_keeps_its_directories_on_append(
    spark, lakehouse, tmp_path, streaming
):
    run = _FactRun(spark, lakehouse, tmp_path, streaming)
    with _conf(spark, *TINY_FILE):
        table = run()
    # the second write alone is far below one target file
    run()
    assert run.pipe.io._partition_columns(table) == ["order_date"]
    assert _files_per_date(run.pipe, table) == {
        f"order_date={d}": 2 for d in DATES
    }
    assert all(
        f.startswith("order_date=") for f in _data_files(run.pipe, table)
    )
    assert spark.read.table(table).count() == 240


@pytest.mark.parametrize("streaming", [True, False])
def test_layout_runs_no_job(spark, lakehouse, tmp_path, streaming):
    """Sizing the write (the byte bound of a new table, the catalog's
    partition columns of an existing one) is metadata only."""
    run = _FactRun(spark, lakehouse, tmp_path, streaming)
    fact = run.land()
    table = lakehouse.table("gold", "fact_lines")
    sc = spark.sparkContext
    group = "layout_probe_jobs"
    for _ in range(2):
        sc.setJobGroup(group, "layout")
        try:
            _, parts = run.pipe.io._layout(fact, table, ["order_date"])
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert parts == []
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        run()  # the second pass sizes an existing table


def test_batch_fact_with_parquet_dims_is_unpartitioned(
    spark, lakehouse, tmp_path
):
    """A batch fact over parquet orders and two parquet dims is bounded
    by the bytes it reads, the sum of its three scans.  The optimizer's
    estimate of the joins is the product of their inputs' sizes,
    gigabytes for these KB-sized tables, which would hive-partition
    the fact by date."""
    base = tmp_path / "star"
    spark.range(2000).select(
        F.col("id").alias("order_id"),
        (F.col("id") % 50).alias("customer_id"),
        (F.col("id") % 20).alias("product_id"),
        F.timestamp_seconds(
            F.lit(1704067200) + F.col("id") % 3 * 86400
        ).alias("ts"),
    ).write.parquet(str(base / "orders"))
    for name, n in (("customers", 50), ("products", 20)):
        spark.range(n).select(
            F.col("id").alias("k"),
            F.concat(F.lit(name), F.col("id")).alias("label"),
        ).write.parquet(str(base / name))

    def read(name):
        return spark.read.parquet(str(base / name))

    fact = build_fact(
        read("orders"),
        [
            DimSpec(read("customers"), "customer_id", "k",
                    {"label": "customer"}),
            DimSpec(read("products"), "product_id", "k",
                    {"label": "product"}),
        ],
        partition_date_source="ts",
    )
    on_disk = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, names in os.walk(base)
        for f in names
        if f.endswith(".parquet")
    )
    assert _bytes_bound(fact) == on_disk < _target_file_bytes(spark)
    pipe = MedallionPipeline(spark, lakehouse, [])
    table = pipe.build_gold_fact(fact, "fact_orders", partition_by=["order_date"])
    assert pipe.io._partition_columns(table) == []
    assert all(os.sep not in f for f in _data_files(pipe, table))
    assert spark.read.table(table).count() == 2000


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
