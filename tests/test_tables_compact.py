"""DeltaLogTable.optimize: the engine's one compaction, the
protocol-path ``OPTIMIZE ... ZORDER BY`` (reference
gold_transformation.py:85,160).

Asserts the two properties the maintenance op must deliver:
content is bit-identical after the rewrite, and rows become
range-clustered by the cluster key — a narrow key-range predicate
touches ~1 file instead of every file (file-level min/max pruning is
exactly what ZORDER buys at scale).  The layout is
``sources.tables.cluster``: a range layout for one key, a Z-order
layout for several.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from lakehouse_alchemy_bronze_to_gold_pipeline_spark.sources.deltalog import (
    DeltaLogTable,
)


def _scattered(spark, tmp_path, name, df):
    """A log table holding ``df`` in 8 files, every file spanning the
    whole key range."""
    t = DeltaLogTable(spark, str(tmp_path / name))
    t.write(df.repartition(8), "overwrite")
    return t


def _files_for(df, pred):
    return (
        df.filter(pred)
        .select(F.input_file_name().alias("f"))
        .distinct()
        .count()
    )


def test_compact_clusters_and_preserves_content(spark, tmp_path):
    # key deliberately scattered (multiplicative hash) so every file
    # spans the full key range before compaction
    df = spark.range(4000).select(
        F.pmod(F.col("id") * 2654435761, F.lit(4000)).alias("k"),
        F.col("id").alias("payload"),
    )
    t = _scattered(spark, tmp_path, "compact_probe", df)

    pred = F.col("k") < 500
    assert _files_for(t.read(), pred) == 8  # every file has low keys
    expected = sorted((r.k, r.payload) for r in t.read().collect())

    t.optimize(n_files=8, zorder_by=["k"])

    after = t.read()
    assert sorted((r.k, r.payload) for r in after.collect()) == expected
    # range-clustered: the same predicate now touches a single file
    # (one range partition owns keys 0..~500)
    assert _files_for(after, pred) <= 2
    # and the log's footer stats skip the rest without opening them
    _, total, read = t.pruned_read("k", 0, 499)
    assert total == 8
    assert read <= 2


def test_compact_zorder_prunes_every_dimension(spark, tmp_path):
    """Multi-key compact interleaves a Morton key: a narrow predicate
    on EITHER clustered column touches a strict subset of files.
    Lexicographic (x, y) clustering would leave y unpruned — every
    file spans the full y range."""
    # x and y independent and scattered: no file locality pre-compact
    df = spark.range(8000).select(
        F.pmod(F.col("id") * 2654435761, F.lit(1 << 16)).alias("x"),
        F.pmod(F.col("id") * 40503 + 7, F.lit(1 << 16)).alias("y"),
        F.col("id").alias("payload"),
    )
    t = _scattered(spark, tmp_path, "zorder_probe", df)

    px = F.col("x") < (1 << 16) // 8
    py = F.col("y") < (1 << 16) // 8
    assert _files_for(t.read(), px) == 8
    assert _files_for(t.read(), py) == 8
    expected = sorted((r.x, r.y, r.payload) for r in t.read().collect())

    t.optimize(n_files=16, zorder_by=["x", "y"])

    after = t.read()
    assert (
        sorted((r.x, r.y, r.payload) for r in after.collect()) == expected
    )
    assert "__zorder_key" not in after.columns
    assert after.select(F.input_file_name()).distinct().count() == 16
    # 16 files = the top 4 interleaved bits (y,x,y,x): a 1/8-range
    # predicate zeroes a column's two top bits -> the 4
    # non-contiguous key stripes owning it; each stripe edge can pull
    # in one extra file because sampled range boundaries aren't
    # bit-aligned -> at most half the files (unclustered: all 16;
    # lexicographic (x,y): y would touch all 16)
    assert _files_for(after, px) <= 8
    assert _files_for(after, py) <= 8
    # a 1/16-area box in both keys zeroes all 4 top bits: one stripe,
    # plus its boundary wobble
    box = (F.col("x") < (1 << 14)) & (F.col("y") < (1 << 14))
    assert _files_for(after, box) <= 3


def test_compact_zorder_equidepth_balances_skew(spark, tmp_path):
    """On a skewed column, equi-width buckets collapse (90% of rows
    share one bucket -> one giant range partition); equi-depth
    boundaries from approx_percentile keep file sizes balanced AND
    both dimensions prunable."""
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
    t = _scattered(spark, tmp_path, "zorder_ed_probe", df)
    expected = sorted((r.x, r.y, r.payload) for r in t.read().collect())

    t.optimize(n_files=16, zorder_by=["x", "y"], equidepth=True)

    after = t.read()
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
    assert _files_for(after, F.col("x") < 10) <= 8
    assert _files_for(after, F.col("y") < (1 << 16) // 8) <= 8


def test_sketch_fold_reads_the_snapshot_it_replaces(spark, tmp_path):
    """A sketch merge is a fold on the Delta log: it reads the table's
    own current files and commits the result as an overwrite, with no
    tmp copy.  The overwritten files stay on disk, so the previous
    version still reads, and nothing but the log and data files is
    left in the table directory."""
    import os

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
