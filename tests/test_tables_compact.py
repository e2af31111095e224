"""TableIO.compact (SURVEY S12): the OSS fallback for
``OPTIMIZE ... ZORDER BY`` (reference gold_transformation.py:85,160).

Asserts the two properties the maintenance op must deliver:
content is bit-identical after the rewrite, and rows become
range-clustered by the cluster key — a narrow key-range predicate
touches ~1 file instead of every file (file-level min/max pruning is
exactly what ZORDER buys at scale).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from lakehouse_alchemy_bronze_to_gold_pipeline_spark.sources.tables import (
    TableIO,
    rewrite_tmp,
)


def _fresh_table(spark, table: str):
    """Drop the table AND any orphaned managed location (a failed
    earlier run aborts before its DROP, and LOCATION_ALREADY_EXISTS
    would then cascade into unrelated failures).  The rewrite's own
    tmp table needs no clearing: ``TableIO.rewrite`` does that."""
    import shutil

    spark.sql(f"DROP TABLE IF EXISTS {table}")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{wh}/{table}", ignore_errors=True)


def _files_for(spark, table: str, pred):
    return (
        spark.read.table(table)
        .filter(pred)
        .select(F.input_file_name().alias("f"))
        .distinct()
        .count()
    )


def test_compact_clusters_and_preserves_content(spark):
    io = TableIO(spark, fmt="parquet")
    table = "compact_probe"
    _fresh_table(spark, table)
    # key deliberately scattered (multiplicative hash) so every file
    # spans the full key range before compaction
    df = spark.range(4000).select(
        F.pmod(F.col("id") * 2654435761, F.lit(4000)).alias("k"),
        F.col("id").alias("payload"),
    )
    df.repartition(8).write.format("parquet").saveAsTable(table)

    before = spark.read.table(table)
    pred = F.col("k") < 500
    assert _files_for(spark, table, pred) == 8  # every file has low keys
    expected = sorted((r.k, r.payload) for r in before.collect())

    io.compact(table, ["k"])

    after = spark.read.table(table)
    assert sorted((r.k, r.payload) for r in after.collect()) == expected
    # range-clustered: the same predicate now touches a single file
    # (one range partition owns keys 0..~500)
    assert _files_for(spark, table, pred) <= 2
    # the tmp swap table is gone
    assert not spark.catalog.tableExists(rewrite_tmp(table))
    spark.sql(f"DROP TABLE {table}")


def test_compact_zorder_prunes_every_dimension(spark):
    """Multi-key compact interleaves a Morton key: a narrow predicate
    on EITHER clustered column touches a strict subset of files.
    Lexicographic (x, y) clustering would leave y unpruned — every
    file spans the full y range."""
    io = TableIO(spark, fmt="parquet")
    table = "zorder_probe"
    _fresh_table(spark, table)
    # x and y independent and scattered: no file locality pre-compact
    df = spark.range(8000).select(
        F.pmod(F.col("id") * 2654435761, F.lit(1 << 16)).alias("x"),
        F.pmod(F.col("id") * 40503 + 7, F.lit(1 << 16)).alias("y"),
        F.col("id").alias("payload"),
    )
    df.repartition(8).write.format("parquet").saveAsTable(table)

    px = F.col("x") < (1 << 16) // 8
    py = F.col("y") < (1 << 16) // 8
    assert _files_for(spark, table, px) == 8
    assert _files_for(spark, table, py) == 8
    expected = sorted(
        (r.x, r.y, r.payload) for r in spark.read.table(table).collect()
    )

    io.compact(table, ["x", "y"], n_files=16)

    after = spark.read.table(table)
    assert (
        sorted((r.x, r.y, r.payload) for r in after.collect()) == expected
    )
    assert "__zorder_key" not in after.columns
    # 16 files = the top 4 interleaved bits (y,x,y,x): a 1/8-range
    # predicate zeroes a column's two top bits -> the 4
    # non-contiguous key stripes owning it; each stripe edge can pull
    # in one extra file because sampled range boundaries aren't
    # bit-aligned -> at most half the files (unclustered: all 16;
    # lexicographic (x,y): y would touch all 16)
    assert _files_for(spark, table, px) <= 8
    assert _files_for(spark, table, py) <= 8
    spark.sql(f"DROP TABLE {table}")


def test_compact_zorder_equidepth_balances_skew(spark):
    """On a skewed column, equi-width buckets collapse (90% of rows
    share one bucket -> one giant range partition); equi-depth
    boundaries from approx_percentile keep file sizes balanced AND
    both dimensions prunable."""
    io = TableIO(spark, fmt="parquet")
    table = "zorder_ed_probe"
    _fresh_table(spark, table)
    # x: 90% of rows in [0, 100), 10% spread over [100, 2^16)
    df = spark.range(8000).select(
        F.when(
            F.col("id") % 10 < 9, F.pmod(F.col("id") * 7919, F.lit(100))
        )
        .otherwise(F.pmod(F.col("id") * 2654435761, F.lit(1 << 16)))
        .alias("x"),
        F.pmod(F.col("id") * 40503 + 7, F.lit(1 << 16)).alias("y"),
        F.col("id").alias("payload"),
    )
    df.repartition(8).write.format("parquet").saveAsTable(table)
    expected = sorted(
        (r.x, r.y, r.payload) for r in spark.read.table(table).collect()
    )

    io.compact(table, ["x", "y"], n_files=16, equidepth=True)

    after = spark.read.table(table)
    assert (
        sorted((r.x, r.y, r.payload) for r in after.collect()) == expected
    )
    # balanced files: no file owns the hot-value bulk (perfect
    # balance would be 1/16 of rows per file)
    sizes = [
        r.n
        for r in after.groupBy(F.input_file_name())
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]
    assert max(sizes) < 0.2 * sum(sizes)
    # pruning survives the skew: x<10 is ~9% of ROWS (equi-depth
    # bucket < ~23 of 256 -> top two x bits zero -> the 4
    # non-contiguous key stripes owning it, each stripe edge adding
    # up to one boundary-wobble file -> at most half the files;
    # unclustered data would touch all 16
    assert _files_for(spark, table, F.col("x") < 10) <= 8
    assert (
        _files_for(spark, table, F.col("y") < (1 << 16) // 8) <= 8
    )
    spark.sql(f"DROP TABLE {table}")


def test_rewrite_clears_orphaned_tmp(spark):
    """A crashed rewrite leaves its tmp location on disk with no
    catalog entry, and ``saveAsTable`` refuses an existing managed
    path (LOCATION_ALREADY_EXISTS).  Every catalog self-rewrite —
    compact and the SCD-1 merge fallback — goes through
    ``TableIO.rewrite``, which clears that orphan first."""
    import os

    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators.merge import (
        upsert_keep_latest,
    )

    io = TableIO(spark, fmt="parquet")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")

    def plant_orphan(table):
        orphan = os.path.join(wh, rewrite_tmp(table))
        os.makedirs(orphan, exist_ok=True)
        with open(os.path.join(orphan, "part-00000.parquet"), "w") as fh:
            fh.write("left by a crashed run")
        assert not spark.catalog.tableExists(rewrite_tmp(table))

    compacted, merged = "orphan_compact", "orphan_merge"
    for t in (compacted, merged):
        _fresh_table(spark, t)

    io.write_overwrite(spark.range(100).withColumnRenamed("id", "k"),
                       compacted)
    plant_orphan(compacted)
    io.compact(compacted, ["k"])
    assert sorted(r.k for r in io.read(compacted).collect()) == list(
        range(100)
    )

    io.write_overwrite(
        spark.createDataFrame([(1, 1, "a"), (2, 1, "b")],
                              "id bigint, ver bigint, v string"),
        merged,
    )
    plant_orphan(merged)
    upsert_keep_latest(
        spark, io, merged,
        spark.createDataFrame([(2, 2, "B"), (3, 1, "c")],
                              "id bigint, ver bigint, v string"),
        keys=["id"], order_col="ver",
    )
    assert sorted((r.id, r.v) for r in io.read(merged).collect()) == [
        (1, "a"), (2, "B"), (3, "c"),
    ]

    for t in (compacted, merged):
        assert not spark.catalog.tableExists(rewrite_tmp(t))
        assert not os.path.exists(os.path.join(wh, rewrite_tmp(t)))
        spark.sql(f"DROP TABLE {t}")


def test_sketch_fold_reads_the_snapshot_it_replaces(spark, tmp_path):
    """A sketch merge is a fold on the Delta log: it reads the table's
    own current files and commits the result as an overwrite, with no
    tmp copy.  The overwritten files stay on disk, so the previous
    version still reads, and nothing but the log and data files is
    left in the table directory."""
    import os

    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.sources.deltalog import (
        DeltaLogTable,
    )
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.streaming.sketch_rollup import (
        merge_cms_batch,
    )

    cms = DeltaLogTable(spark, str(tmp_path / "cms"))
    items = spark.range(50).selectExpr("CAST(id % 7 AS STRING) AS item")
    for i in range(2):  # creates the table, then folds into it
        assert merge_cms_batch(
            items, cms, "item", app_id="fold", batch_id=i
        ) == i

    def per_row(df):
        return {r.n for r in df.groupBy("r").agg(F.sum("cnt").alias("n"))
                .collect()}

    assert per_row(cms.read()) == {100}
    assert per_row(cms.read(0)) == {50}
    assert sorted(
        e for e in os.listdir(cms.path) if not e.endswith(".parquet")
    ) == ["_delta_log"]
