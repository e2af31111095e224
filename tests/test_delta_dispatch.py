"""The two table paths a clustered layout can land on agree.

The engine writes catalog tables through ``TableIO`` (parquet) and
log tables through ``DeltaLogTable``; both take their clustered layout
from ``sources.tables.cluster``.  A catalog table written with that
layout and a log table rewritten by ``DeltaLogTable.optimize`` must
hold the same rows and the same Morton-clustering property.
"""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from lakehouse_alchemy_bronze_to_gold_pipeline_spark.sources.deltalog import (
    DeltaLogTable,
)
from lakehouse_alchemy_bronze_to_gold_pipeline_spark.sources.tables import (
    TableIO,
    cluster,
)


def _files_for(df, pred):
    return (
        df.filter(pred)
        .select(F.input_file_name().alias("f"))
        .distinct()
        .count()
    )


def test_protocol_optimize_equals_compact_fallback(spark, tmp_path):
    """A catalog table written in ``cluster``'s Z-order layout and a
    log table compacted by ``DeltaLogTable.optimize`` land the SAME
    table state from the same input: identical rows, the same file
    count, and a narrow 2-D key box touching a strict subset of
    files on both."""
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

    TableIO(spark).write_overwrite(cluster(df, ["k1", "k2"], n_files=4), table)

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
    assert b.select(F.input_file_name()).distinct().count() == 4
    assert _files_for(a, box) < 4
    assert _files_for(b, box) < 4

    spark.sql(f"DROP TABLE IF EXISTS {table}")
