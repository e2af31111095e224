"""Delta-branch dispatch contract (r7 verdict task 4).

delta-spark is absent in this sandbox, so the ``fmt == "delta"``
branches of TableIO can't EXECUTE here — but their *selection logic*
can and must be pinned: if a future environment flips ``has_delta()``
to True, these tests are what guarantees the engine transparently
switches to the real Delta paths (and keeps issuing the exact
``OPTIMIZE ... ZORDER BY`` the reference runs,
gold_transformation.py:85,160) instead of silently staying on the
parquet fallback.  The third test proves the two OPTIMIZE
implementations the engine can dispatch to — ``TableIO.compact``'s
parquet rewrite and the from-scratch Delta-protocol
``DeltaLogTable.optimize`` — are equivalent on the same data:
identical content, same Morton clustering property.
"""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from lakehouse_alchemy_bronze_to_gold_pipeline_spark import session as sess
from lakehouse_alchemy_bronze_to_gold_pipeline_spark.sources.deltalog import (
    DeltaLogTable,
)
from lakehouse_alchemy_bronze_to_gold_pipeline_spark.sources.tables import (
    TableIO,
    rewrite_tmp,
)


def test_fmt_resolution_follows_has_delta(spark, monkeypatch):
    """TableIO's default format is delta WHEN AVAILABLE, parquet
    otherwise; an explicit fmt always wins over detection."""
    monkeypatch.setattr(sess, "_HAS_DELTA", False)
    assert TableIO(spark).fmt == "parquet"
    monkeypatch.setattr(sess, "_HAS_DELTA", True)
    assert TableIO(spark).fmt == "delta"
    # explicit fmt overrides detection in both directions
    assert TableIO(spark, fmt="parquet").fmt == "parquet"
    monkeypatch.setattr(sess, "_HAS_DELTA", False)
    assert TableIO(spark, fmt="delta").fmt == "delta"


def test_compact_delta_branch_issues_optimize_zorder(spark, monkeypatch):
    """On a delta table, compact() must dispatch to the REAL
    ``OPTIMIZE t ZORDER BY (cols)`` command and do nothing else — no
    snapshot-tmp rewrite, no extra SQL.  Captured via a stubbed
    spark.sql so the contract is pinned without delta-spark."""
    issued = []
    monkeypatch.setattr(
        spark, "sql", lambda q, *a, **kw: issued.append(q)
    )
    io = TableIO(spark, fmt="delta")
    io.compact("gold.fact_sales", ["customer_id", "product_id"])
    assert issued == [
        "OPTIMIZE gold.fact_sales ZORDER BY (customer_id, product_id)"
    ]


def _files_for(spark, df, pred):
    return (
        df.filter(pred)
        .select(F.input_file_name().alias("f"))
        .distinct()
        .count()
    )


def test_protocol_optimize_equals_compact_fallback(spark, tmp_path):
    """The two OPTIMIZE implementations the dispatcher can choose —
    parquet-table compact() and the Delta-protocol log's optimize()
    — must land the SAME table state from the same input: identical
    rows, and the same Morton-clustering property (a narrow 2-D key
    box touches a strict subset of files)."""
    table = "dispatch_probe"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{wh}/{table}", ignore_errors=True)

    # two scattered cluster keys so neither axis is pre-sorted
    df = spark.range(4000).select(
        F.pmod(F.col("id") * 2654435761, F.lit(256)).alias("k1"),
        F.pmod(F.col("id") * 40503, F.lit(256)).alias("k2"),
        F.col("id").alias("payload"),
    ).repartition(8)

    io = TableIO(spark, fmt="parquet")
    io.write_overwrite(df, table)
    io.compact(table, ["k1", "k2"], n_files=4)

    dl = DeltaLogTable(spark, str(tmp_path / "dl_probe"))
    dl.write(df, mode="overwrite")
    dl.optimize(n_files=4, zorder_by=["k1", "k2"])

    a = spark.read.table(table)
    b = dl.read()
    assert sorted(map(tuple, a.collect())) == sorted(
        map(tuple, b.collect())
    )

    # same clustering property on both: a 1/16-area key box prunes to
    # fewer files than the 4 both layouts pack the table into
    box = (
        (F.col("k1") >= 0) & (F.col("k1") < 64)
        & (F.col("k2") >= 0) & (F.col("k2") < 64)
    )
    assert a.select(F.input_file_name()).distinct().count() == 4
    assert _files_for(spark, a, box) < 4
    assert _files_for(spark, b, box) < 4
    assert not spark.catalog.tableExists(rewrite_tmp(table))

    spark.sql(f"DROP TABLE IF EXISTS {table}")


# ------------------------------------------------------------------
# r9 verdict task 6: pin the EXACT option strings each delta-branch
# writer emits, so a regression in the dispatch seam (a renamed
# option, a dropped trigger, a mode change) is caught without
# delta-spark installed.  A recording fake stands in for the
# DataFrame(Stream)Writer chain; it records the ``rebalance`` hint a
# partitioned write applies before ``.write``, since dropping it would
# bring back one file per (task, partition value).
# ------------------------------------------------------------------


class _Recorder:
    """Duck-typed DataFrameWriter/DataStreamWriter that records every
    chained call as (method, args, kwargs) and returns itself."""

    def __init__(self, log):
        self.log = log

    def __getattr__(self, name):
        def call(*a, **kw):
            self.log.append((name, a, kw))
            return self

        return call


class _FakeDF:
    def __init__(self, log):
        self._log = log

    def hint(self, name, *params):
        self._log.append(("hint", (name, *params), {}))
        return self

    @property
    def write(self):
        self._log.append(("write", (), {}))
        return _Recorder(self._log)

    @property
    def writeStream(self):
        self._log.append(("writeStream", (), {}))
        return _Recorder(self._log)


def test_delta_write_append_option_strings(spark):
    log = []
    TableIO(spark, fmt="delta").write_append(_FakeDF(log), "silver.events")
    assert log == [
        ("write", (), {}),
        ("format", ("delta",), {}),
        ("mode", ("append",), {}),
        ("saveAsTable", ("silver.events",), {}),
    ]


def test_delta_write_append_partitioned_option_strings(spark):
    log = []
    TableIO(spark, fmt="delta").write_append(
        _FakeDF(log), "gold.fact_sales", partition_by=["order_date"]
    )
    assert log == [
        ("hint", ("rebalance", "order_date"), {}),
        ("write", (), {}),
        ("format", ("delta",), {}),
        ("mode", ("append",), {}),
        ("partitionBy", ("order_date",), {}),
        ("saveAsTable", ("gold.fact_sales",), {}),
    ]


def test_delta_write_overwrite_option_strings(spark):
    log = []
    TableIO(spark, fmt="delta").write_overwrite(
        _FakeDF(log), "gold.dim_customer", partition_by=["order_date"]
    )
    assert log == [
        ("hint", ("rebalance", "order_date"), {}),
        ("write", (), {}),
        ("format", ("delta",), {}),
        ("mode", ("overwrite",), {}),
        ("option", ("overwriteSchema", "true"), {}),
        ("partitionBy", ("order_date",), {}),
        ("saveAsTable", ("gold.dim_customer",), {}),
    ]


def test_delta_write_stream_option_strings(spark):
    log = []
    TableIO(spark, fmt="delta").write_stream(
        _FakeDF(log),
        "silver.orders",
        checkpoint="/cp/orders",
        partition_by=["order_date"],
    )
    assert log == [
        ("hint", ("rebalance", "order_date"), {}),
        ("writeStream", (), {}),
        ("format", ("delta",), {}),
        ("outputMode", ("append",), {}),
        ("option", ("checkpointLocation", "/cp/orders"), {}),
        ("partitionBy", ("order_date",), {}),
        ("trigger", (), {"availableNow": True}),
        ("toTable", ("silver.orders",), {}),
    ]


def test_delta_write_bucketed_option_strings(spark):
    log = []
    TableIO(spark, fmt="delta").write_bucketed(
        _FakeDF(log),
        "gold.fact_sales",
        buckets=64,
        bucket_cols=["customer_id"],
        sort_cols=["order_ts"],
    )
    assert log == [
        ("write", (), {}),
        ("format", ("delta",), {}),
        ("mode", ("overwrite",), {}),
        ("bucketBy", (64, "customer_id"), {}),
        ("sortBy", ("order_ts",), {}),
        ("saveAsTable", ("gold.fact_sales",), {}),
    ]


def test_delta_read_stream_uses_table_source(spark, monkeypatch):
    """The delta branch must stream the TABLE (readStream.table —
    silver_transformation.py:78's incremental tail), never the file
    fallback; pinned by stubbing the session's readStream."""
    log = []

    class _FakeSession:
        @property
        def readStream(self):
            log.append(("readStream", (), {}))
            return _Recorder(log)

    io = TableIO(spark, fmt="delta")
    io.spark = _FakeSession()
    io.read_stream("silver.orders")
    assert log == [
        ("readStream", (), {}),
        ("table", ("silver.orders",), {}),
    ]
