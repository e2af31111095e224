"""Test-table loaders for the driver's synthetic parquet tables, and
the registration helper every query module ends with."""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

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
        df = _read_parquet(spark, path)
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
    return _layout(_read_parquet(spark, path))


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema Spark would infer
    handed over up front: inference reads the footer in a Spark job,
    one per table per query build; ``_footer_schema`` reads it on the
    driver, once per file version."""
    nanos = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    schema = _footer_schema(path, nanos)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def _footer_schema(path: str, nanos_as_long: bool) -> T.StructType | None:
    """The schema Spark infers for the parquet file ``path`` (for a
    directory, its first part file, as Spark reads with mergeSchema
    off), read from the footer with pyarrow.  None where Spark's
    inference could differ: a partitioned directory, summary files,
    INT96 timestamps or a type outside ``_spark_type``'s map."""
    if os.path.isdir(path):
        names = sorted(os.listdir(path))
        if any(n in ("_metadata", "_common_metadata")
               or os.path.isdir(os.path.join(path, n)) for n in names):
            return None
        parts = [n for n in names if not n.startswith(("_", "."))]
        if not parts:
            return None
        path = os.path.join(path, parts[0])
    st = os.stat(path)
    return _file_schema(path, st.st_mtime_ns, st.st_size, nanos_as_long)


@functools.lru_cache(maxsize=256)
def _file_schema(
    path: str, mtime_ns: int, size: int, nanos_as_long: bool
) -> T.StructType | None:
    # keyed on the file's mtime and size too: a rewritten file is
    # read again
    import pyarrow.parquet as pq

    meta = pq.read_metadata(path)
    arrow = meta.schema.to_arrow_schema()
    types = [_spark_type(f.type, nanos_as_long) for f in arrow]
    int96 = any(
        meta.schema.column(i).physical_type == "INT96"
        for i in range(meta.num_columns)
    )
    if int96 or None in types:
        return None
    return T.StructType(
        [T.StructField(f.name, t) for f, t in zip(arrow, types)]
    )


def _spark_type(t, nanos_as_long: bool) -> T.DataType | None:
    """Spark's (nullable) type for an arrow type read from a parquet
    footer, None when unmapped."""
    import pyarrow as pa

    simple = {
        pa.bool_(): T.BooleanType(), pa.int8(): T.ByteType(),
        pa.int16(): T.ShortType(), pa.int32(): T.IntegerType(),
        pa.int64(): T.LongType(), pa.float32(): T.FloatType(),
        pa.float64(): T.DoubleType(), pa.string(): T.StringType(),
        pa.binary(): T.BinaryType(), pa.date32(): T.DateType(),
    }
    if t in simple:
        return simple[t]
    if pa.types.is_decimal(t):
        return T.DecimalType(t.precision, t.scale)
    if pa.types.is_timestamp(t):
        if t.unit == "ns":
            # TIMESTAMP(NANOS) reads only as bigint, under nanosAsLong
            return T.LongType() if nanos_as_long else None
        if t.unit == "us":
            return T.TimestampType() if t.tz else T.TimestampNTZType()
        return None
    if pa.types.is_list(t):
        elem = _spark_type(t.value_type, nanos_as_long)
        return None if elem is None else T.ArrayType(elem)
    if pa.types.is_struct(t):
        kids = [_spark_type(f.type, nanos_as_long) for f in t]
        if None in kids:
            return None
        return T.StructType(
            [T.StructField(f.name, k) for f, k in zip(t, kids)]
        )
    if pa.types.is_map(t):
        k = _spark_type(t.key_type, nanos_as_long)
        v = _spark_type(t.item_type, nanos_as_long)
        return None if k is None or v is None else T.MapType(k, v)
    return None


def registry(rows) -> tuple[dict, dict]:
    """A module's ``SPARK_QUERIES`` and ``ORACLE_SQL`` from its one
    table of ``(name, builder, oracle SQL or None)`` rows; the row
    order is the registry order."""
    return (
        {name: build for name, build, _ in rows},
        {name: sql for name, _, sql in rows if sql is not None},
    )
