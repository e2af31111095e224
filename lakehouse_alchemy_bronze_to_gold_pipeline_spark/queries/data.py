"""Test-table loaders for the driver's synthetic parquet tables, and
the registration helper every query module ends with."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def ntz_epoch_us(col: str) -> F.Column:
    """Microseconds since epoch of a TIMESTAMP_NTZ column, computed
    timezone-independently (``unix_micros`` requires LTZ and a cast
    would shift by the session timezone — which the driver controls,
    not us).  Field extraction on NTZ is tz-free."""
    # Explicit bigint casts: hour()/minute() return INT and e.g.
    # minute * 60000000 overflows int32 for minute >= 36 under ANSI.
    # date_part('SECOND') is DECIMAL(8,6): keeps the sub-second micros
    # that second() would truncate.
    return F.expr(
        f"unix_date(cast({col} as date)) * 86400000000"
        f" + cast(hour({col}) as bigint) * 3600000000"
        f" + cast(minute({col}) as bigint) * 60000000"
        f" + cast(date_part('SECOND', {col}) * 1000000 as bigint)"
    ).cast("bigint")


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Read one synthetic table; column pruning + predicate pushdown
    happen at the parquet scan because callers select/filter on the
    returned (lazy) DataFrame.

    ``events.ts`` has shipped in two physical formats across driver
    testdata generations: parquet TIMESTAMP(NANOS) (surfaced as bigint
    nanoseconds via the ``nanosAsLong`` legacy conf) and
    ``timestamp[us]`` (surfaced as TIMESTAMP_NTZ).  Either way we
    expose ``ts_us`` (bigint microseconds since epoch), which is the
    exact cross-engine representation: DuckDB oracles use
    ``epoch_us(ts)`` and both are timezone-free.  The branch keys on
    the *observed* dtype so an upstream regeneration can't silently
    break every events query again.
    """
    if table not in TABLES:
        raise ValueError(f"unknown table {table!r}")
    return _load(spark, sf_dir, table)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Expose every synthetic table as a temp view so users can hit
    the engine through ``spark.sql`` — the SQL half of the surface
    (same loaders, so ``events`` carries the normalized ``ts_us``).
    """
    for t in TABLES:
        _load(spark, sf_dir, t).createOrReplaceTempView(t)


def spread_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition a scan to the session's default
    parallelism BEFORE a CPU-heavy per-row projection (guide
    §2.5 "input skew": the bench tables ship as ONE parquet row group
    each, so every scan is a single task and any tokenise/md5/explode
    work fused onto it runs on one core of N).  The exchange moves
    only the scanned columns once and is a rebalance, not a semantic
    change — every registry entry is certified layout-invariant.
    Applied per query, only where an interleaved A/B at sf0.1
    measured a win (see OPTIMIZATION_r12.md), never in ``load``
    itself.

    Gated on the plan's OBSERVED scan
    parallelism — at 100 TB a many-file table already scans wide and
    the extra full-data round-robin exchange of raw text is pure
    cost.  When the input resolves to >= defaultParallelism
    partitions the df passes through untouched (no RoundRobin
    exchange in the plan); the single-row-group bench tables resolve
    to 1 partition, so sf0.1 behavior is unchanged.  The probe
    (``df.rdd.getNumPartitions()``) plans the subtree but runs no
    job."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= par:
        return df
    return df.repartition(par)


def _layout(df: DataFrame) -> DataFrame:
    """Deliberate physical-layout perturbation lever for the
    partition-layout invariance sweep (tools/layout_invariance.py):
    when ``SPARK_GRAFT_LAYOUT_REPARTITION`` is set, every table scan
    is round-robin repartitioned to that count, destroying the
    file-order layout every query otherwise sees.  A query whose
    RESULT changes under this lever depends on row-to-partition
    assignment (engine-ordered double accumulation, implicit
    first-row choice) — the class of bug that passes on local[32]
    and corrupts answers on a real cluster.  Read at call time, not
    import time, so the sweep can set it after module import.
    Unset (the default) this is a no-op on the hot path."""
    n = os.environ.get("SPARK_GRAFT_LAYOUT_REPARTITION")
    return df.repartition(int(n)) if n else df


def _load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{table}.parquet")
    if table == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":  # TIMESTAMP(NANOS) via nanosAsLong
            ts_us = F.expr("ts DIV 1000")
        elif ts_type == "timestamp_ntz":  # timestamp[us], isAdjustedToUTC=false
            ts_us = ntz_epoch_us("ts")
        elif ts_type == "timestamp":
            # LTZ carries instant semantics: unix_micros is exact and
            # session-timezone-independent (field extraction is NOT).
            ts_us = F.expr("unix_micros(ts)")
        else:
            raise TypeError(f"unsupported events.ts dtype {ts_type!r}")
        return _layout(
            df.select(
                "event_id",
                ts_us.alias("ts_us"),
                "user_id",
                "event_type",
                "value",
                "props",
            )
        )
    return _layout(spark.read.parquet(path))


def registry(rows) -> tuple[dict, dict]:
    """A module's ``SPARK_QUERIES`` and ``ORACLE_SQL`` from its one
    table of ``(name, builder, oracle SQL or None)`` rows; the row
    order is the registry order."""
    return (
        {name: build for name, build, _ in rows},
        {name: sql for name, _, sql in rows if sql is not None},
    )
