"""Regression tests for queries/data.py's events loader.

The driver's synthetic ``events.parquet`` silently changed physical
ts type between rounds (TIMESTAMP(NANOS) -> timestamp[us]/NTZ), which
broke every events query.  These tests pin both formats so the next
upstream drift is a one-test diagnosis, not a dead round.  The footer
schema the loader hands Spark is pinned against Spark's own inference.
"""

from __future__ import annotations

import datetime
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from lakehouse_alchemy_bronze_to_gold_pipeline_spark.queries import data
from lakehouse_alchemy_bronze_to_gold_pipeline_spark.queries.data import load

# 2024-03-05T06:47:08.123456 UTC, as microseconds since epoch.
# minute=47 deliberately exercises the int32-overflow range of
# minute * 60_000_000 (overflows for minute >= 36 if not widened).
_US = 1709621228123456


def _write_events(path: str, ts_array: pa.Array) -> None:
    tbl = pa.table(
        {
            "event_id": pa.array([1], pa.int64()),
            "ts": ts_array,
            "user_id": pa.array([7], pa.int64()),
            "event_type": pa.array(["click"], pa.string()),
            "value": pa.array([1.5], pa.float64()),
            "props": pa.array(['{"k":"v"}'], pa.string()),
        }
    )
    pq.write_table(tbl, path)


def _load_events_row(spark, tmp_path):
    df = load(spark, str(tmp_path), "events")
    assert df.schema["ts_us"].dataType.simpleString() == "bigint"
    return df.collect()[0]


def test_events_ts_timestamp_us(spark, tmp_path):
    """Current driver format: parquet timestamp[us] (reads as NTZ)."""
    dt = datetime.datetime(2024, 3, 5, 6, 47, 8, 123456)
    _write_events(
        os.path.join(tmp_path, "events.parquet"),
        pa.array([dt], pa.timestamp("us")),
    )
    row = _load_events_row(spark, tmp_path)
    assert row["ts_us"] == _US


def test_events_ts_nanos_as_long(spark, tmp_path):
    """Legacy driver format: parquet TIMESTAMP(NANOS) -> bigint nanos."""
    _write_events(
        os.path.join(tmp_path, "events.parquet"),
        pa.array([_US * 1000], pa.timestamp("ns")),
    )
    row = _load_events_row(spark, tmp_path)
    assert row["ts_us"] == _US


def test_events_ts_timestamp_ltz(spark, tmp_path):
    """UTC-adjusted timestamp[us] (reads as LTZ): unix_micros must be
    exact under a non-UTC session timezone — field extraction on LTZ
    would shift by the zone offset."""
    dt = datetime.datetime(
        2024, 3, 5, 6, 47, 8, 123456, tzinfo=datetime.timezone.utc
    )
    _write_events(
        os.path.join(tmp_path, "events.parquet"),
        pa.array([dt], pa.timestamp("us", tz="UTC")),
    )
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        row = _load_events_row(spark, tmp_path)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)
    assert row["ts_us"] == _US


def test_events_ts_unsupported_dtype_raises(spark, tmp_path):
    _write_events(
        os.path.join(tmp_path, "events.parquet"),
        pa.array(["not-a-ts"], pa.string()),
    )
    with pytest.raises(TypeError, match="events.ts"):
        load(spark, str(tmp_path), "events")


def test_layout_repartition_lever(spark, monkeypatch):
    """The layout-invariance sweep's lever: with the env var set,
    every loaded table is round-robin repartitioned to that count
    (destroying file-order layout); unset, the scan layout is
    untouched (no exchange on the hot path)."""
    sf = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    monkeypatch.setenv("SPARK_GRAFT_LAYOUT_REPARTITION", "5")
    assert load(spark, sf, "region").rdd.getNumPartitions() == 5
    assert load(spark, sf, "events").rdd.getNumPartitions() == 5
    monkeypatch.delenv("SPARK_GRAFT_LAYOUT_REPARTITION")
    plan = load(spark, sf, "region")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_spread_scan_gates_on_observed_parallelism(spark):
    """r13 (r12-VERDICT item 8): spread_scan exists for the
    single-row-group bench tables (one scan task); an input that
    already resolves to >= defaultParallelism partitions must pass
    through UNTOUCHED — at 100 TB a many-file table scans wide and
    the extra full-data round-robin exchange is pure cost."""
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.queries.data import (
        spread_scan,
    )

    par = spark.sparkContext.defaultParallelism
    narrow = spark.range(100).coalesce(1)
    wide = spark.range(1000).repartition(par + 2)

    spread = spread_scan(narrow)
    assert spread.rdd.getNumPartitions() == par
    assert "Repartition" in spread._jdf.queryExecution().logical().toString()

    passthrough = spread_scan(wide)
    assert passthrough is wide  # identity: no exchange added


def _jobs_during(spark, fn):
    sc = spark.sparkContext
    group = "loader_probe_jobs"
    sc.setJobGroup(group, "load")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_load_runs_no_job_and_keeps_the_inferred_schema(
    spark, registry_plans, monkeypatch
):
    """``load`` hands Spark the footer's schema, so building a query
    runs no schema-inference job, and the schema is the one Spark
    infers, for every table at every scale of the driver's data."""
    root = os.path.dirname(registry_plans.SF)
    scales = sorted(d for d in os.listdir(root) if d.startswith("sf"))
    assert scales
    for sf in scales:
        for table in data.TABLES:
            sf_dir = os.path.join(root, sf)
            got, jobs = _jobs_during(spark, lambda: load(spark, sf_dir, table))
            assert jobs == [], (sf, table)
            with monkeypatch.context() as m:
                m.setattr(data, "_footer_schema", lambda *a: None)
                inferred = load(spark, sf_dir, table)
            assert got.schema == inferred.schema, (sf, table)


def test_footer_schema_matches_spark_inference(spark, tmp_path):
    """Every mapped type, a directory of Spark part files, TIMESTAMP
    (NANOS) under ``nanosAsLong``; INT96 and unmapped types are left
    to Spark."""
    wide = pa.table({
        "i8": pa.array([1], pa.int8()), "i16": pa.array([1], pa.int16()),
        "i32": pa.array([1], pa.int32()), "i64": pa.array([1], pa.int64()),
        "f32": pa.array([1.5], pa.float32()), "f64": pa.array([1.5]),
        "b": pa.array([True]), "s": pa.array(["x"]),
        "bin": pa.array([b"x"]), "d": pa.array([datetime.date(2024, 1, 1)]),
        "dec": pa.array([1], pa.decimal128(10, 2)),
        "ts_ntz": pa.array([1], pa.timestamp("us")),
        "ts_ltz": pa.array([1], pa.timestamp("us", tz="UTC")),
        "vec": pa.array([[1.0]], pa.list_(pa.float32())),
        "st": pa.array([{"a": 1, "b": "y"}]),
        "m": pa.array([[("k", 1)]], pa.map_(pa.string(), pa.int32())),
    })
    one = str(tmp_path / "wide.parquet")
    pq.write_table(wide, one)
    assert data._footer_schema(one, False) == spark.read.parquet(one).schema

    parts = str(tmp_path / "parts")
    # Spark writes LTZ timestamps as INT96 by default
    spark.read.parquet(one).drop("ts_ltz").repartition(2).write.parquet(parts)
    assert data._footer_schema(parts, False) == spark.read.parquet(parts).schema

    nanos = str(tmp_path / "nanos.parquet")
    pq.write_table(pa.table({"t": pa.array([1], pa.timestamp("ns"))}), nanos)
    key = "spark.sql.legacy.parquet.nanosAsLong"
    prior = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        assert data._footer_schema(nanos, True) == spark.read.parquet(nanos).schema
    finally:
        spark.conf.set(key, prior)
    assert data._footer_schema(nanos, False) is None

    int96 = str(tmp_path / "int96.parquet")
    pq.write_table(pa.table({"t": pa.array([1], pa.timestamp("ns"))}), int96,
                   use_deprecated_int96_timestamps=True)
    assert data._footer_schema(int96, True) is None
    uint = str(tmp_path / "uint.parquet")
    pq.write_table(pa.table({"u": pa.array([1], pa.uint32())}), uint)
    assert data._footer_schema(uint, False) is None
