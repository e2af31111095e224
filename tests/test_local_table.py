"""``sources.tables.local_table``: constant relations built in the
JVM.  ``spark.createDataFrame`` over a Python list is the reference
implementation — same schema (nullability included), bit-identical
values (``tests/test_plan_lint.py`` checks that only the reference
plans a Python-built RDD scan).  Also here: the parquet
``read_stream`` resolves its table location without a Spark job.
"""

from __future__ import annotations

import struct

import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from lakehouse_alchemy_bronze_to_gold_pipeline_spark.sources.tables import (
    TableIO,
    local_table,
)

_INF = float("inf")

#: (rows, schema): every call-site schema shape plus the edge values
#: a literal must carry through unchanged
_CASES = [
    ([(25,), (50,), (75,)], "q_pct int"),
    (
        [
            ("orders_x_lineitem", 2**40, -(2**33), 0.1234),
            ("ünïcødé ✓ 😀", 0, 1, None),
        ],
        "join_name string, exact_rows bigint, est_rows bigint, "
        "rel_err double",
    ),
    (
        [(0, float("nan"), _INF, -_INF, -0.0, True),
         (1, None, 0.0, 1e-308, 5e-324, None)],
        "component bigint, a double, b double, c double, d double, "
        "ok boolean",
    ),
    (
        [([1.5, -0.0, float("nan"), _INF], 2.5, 3, -1),
         ([], 0.0, 0, 4),
         (None, None, None, None)],
        "sketch array<double>, frob_sq double, n bigint, "
        "batch_id bigint",
    ),
    ([], "round bigint, a string, b string, weight bigint"),
    (
        [(1, "x"), (2, None)],
        StructType([
            StructField("id", LongType(), False),
            StructField("p", StringType(), True),
        ]),
    ),
    (
        [],
        StructType([
            StructField("id", LongType(), False),
            StructField("p", StringType(), True),
        ]),
    ),
]


def _bits(v):
    """Values compared by bit pattern: NaN == NaN, -0.0 != 0.0."""
    if isinstance(v, float):
        return ("f", struct.pack("<d", v))
    if isinstance(v, list):
        return ("l", tuple(_bits(x) for x in v))
    return (type(v).__name__, v)


@pytest.mark.parametrize("rows,schema", _CASES)
def test_local_table_matches_create_dataframe(spark, rows, schema):
    got = local_table(spark, rows, schema)
    ref = spark.createDataFrame(rows, schema)
    assert got.schema == ref.schema
    assert [tuple(map(_bits, r)) for r in got.collect()] == [
        tuple(map(_bits, r)) for r in ref.collect()
    ]


def test_parquet_read_stream_runs_no_job(spark):
    """Resolving the table directory for the parquet streaming
    fallback is catalog metadata: no Spark job may run for it."""
    io = TableIO(spark)
    table = "read_stream_probe"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    io.write_overwrite(spark.range(3), table)
    sc = spark.sparkContext
    group = "read_stream_probe_jobs"
    sc.setJobGroup(group, "parquet read_stream")
    try:
        stream = io.read_stream(table)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert stream.isStreaming
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    spark.sql(f"DROP TABLE {table}")
