"""Capstone integration: one pipeline threads ten engine subsystems
end-to-end — generate → clean → gate → dedup → cluster → prune →
pack → split → Delta-log write → pruned read → erasure — proving
the pieces COMPOSE, not just pass their own tests.

The flow is the real training-data shape: a custom Spark-4 Python
DataSource stands in for ingestion, encoding hygiene and
expectations gating stand in for cleaning, MinHash + connected
components + canonical-keep is the dedup stage, chunk packing and
the hash split produce the training artifact, and the artifact
lands in a Delta-log table whose per-file stats serve pruned range
reads.  Every stage's output feeds the next stage's input
contract unchanged.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def test_training_pipeline_end_to_end(spark, tmp_path):
    # 1) ingest: deterministic synthetic corpus via the custom source
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.sources.pydatasource import (
        register,
    )

    register(spark)
    docs = (
        spark.read.format("synthetic_docs")
        .option("rows", 300)
        .option("partitions", 6)
        .option("seed", 11)
        .load()
    )
    # plant near-duplicates: clone 20 docs under new ids
    clones = docs.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 10_000).alias("doc_id"),
        "text",
        "lang",
        "source",
        "n_chars",
    )
    docs = docs.unionByName(clones)

    # 2) hygiene: strip control chars (none here, but the pass runs)
    cleaned = docs.withColumn(
        "text",
        F.regexp_replace("text", r"[\x00-\x08\x0b\x0c\x0e-\x1f]", ""),
    )

    # 3) expectations gate: non-empty text, positive length
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators.quality import (
        QualityRule,
        expectations_gate,
    )

    rules = [
        QualityRule("empty_text", F.length(F.trim("text")) == 0),
        QualityRule("bad_len", F.col("n_chars") <= 0),
    ]
    gated, quarantined = expectations_gate(cleaned, rules, "drop")
    assert quarantined.count() == 0

    # 4) fuzzy dedup: MinHash pairs -> connected components -> keep
    # the smallest doc_id per duplicate cluster
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators.components import (
        connected_components,
    )
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators.minhash import (
        minhash_near_duplicates_md5,
    )

    pairs = minhash_near_duplicates_md5(
        gated, "doc_id", "text", threshold=0.9
    )
    planted = pairs.filter(
        F.col("id_b") - F.col("id_a") == 10_000
    ).count()
    assert planted >= 18, "near-dup recall over the planted clones"
    comp = connected_components(
        pairs.select("id_a", "id_b"), "id_a", "id_b"
    )
    drop = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias("doc_id")
    )
    deduped = gated.join(drop, "doc_id", "left_anti")
    n_docs = deduped.count()
    assert n_docs <= 300, "every planted clone collapsed"

    # 5) chunk/pack + deterministic split
    toks = deduped.select(
        "doc_id",
        "source",
        F.size(F.split(F.trim("text"), r"\s+")).alias("n_tokens"),
    )
    split = toks.withColumn(
        "split",
        F.when(
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4),
                16,
                10,
            ).cast("bigint")
            % 10
            < 8,
            "train",
        ).otherwise("val"),
    )
    sizes = {
        r["split"]: r["n"]
        for r in split.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    assert set(sizes) == {"train", "val"} and sizes["train"] > sizes["val"]

    # 6) land the artifact in a Delta-log table, clustered on doc_id
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.sources.deltalog import (
        DeltaLogTable,
    )

    t = DeltaLogTable(spark, str(tmp_path / "corpus"))
    v0 = t.write(split.repartitionByRange(4, "doc_id"), "overwrite")
    assert t.read(v0).count() == n_docs

    # 7) the log's per-file min/max stats serve a pruned range read
    got, total, read = t.pruned_read("doc_id", 0, 50)
    assert read < total
    want = (
        t.read(v0)
        .filter((F.col("doc_id") >= 0) & (F.col("doc_id") <= 50))
        .count()
    )
    assert got.count() == want

    # 8) erasure closes the loop: forget two doc ids, history dies
    stats = t.forget_keys("doc_id", [5, 7])
    assert t.read().filter(F.col("doc_id").isin(5, 7)).count() == 0
    assert t.versions() == [stats["version"]]
