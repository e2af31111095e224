"""Empty-relation robustness: every custom operator must return an
empty (not crashing, not null-poisoned) result on empty input —
SURVEY S10's neutral-element discipline applied across the engine."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)


def _empty(spark, schema):
    return spark.createDataFrame([], schema)


DOCS = StructType(
    [StructField("doc_id", LongType()), StructField("text", StringType())]
)
EVENTS = StructType(
    [
        StructField("event_id", LongType()),
        StructField("k", LongType()),
        StructField("ts", LongType()),
    ]
)
VECS = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(DoubleType())),
    ]
)


def test_minhash_empty(spark):
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators.minhash import (
        minhash_near_duplicates,
    )

    assert minhash_near_duplicates(_empty(spark, DOCS), "doc_id", "text").count() == 0


def test_simhash_empty(spark):
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators.simhash import (
        simhash_near_duplicates,
    )

    assert (
        simhash_near_duplicates(_empty(spark, DOCS), "doc_id", "text").count() == 0
    )


def test_asof_empty_sides(spark):
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators.asof import (
        asof_join,
    )

    left = spark.createDataFrame([Row(event_id=1, k=1, ts=10)], EVENTS)
    empty = _empty(spark, EVENTS)
    # empty right: left rows survive with null attachment
    out = asof_join(left, empty, "k", "k", "ts", "ts", ["event_id"])
    assert out.count() == 1
    # empty left: no rows
    out2 = asof_join(empty, left, "k", "k", "ts", "ts", ["event_id"])
    assert out2.count() == 0


def test_band_join_empty(spark):
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators.rangejoin import (
        band_join,
    )

    left = spark.createDataFrame([Row(event_id=1, k=1, ts=10)], EVENTS)
    empty = _empty(spark, EVENTS).select(
        F.col("event_id").alias("id_b"), F.col("ts").alias("tb")
    )
    l = left.select(F.col("event_id").alias("id_a"), F.col("ts").alias("ta"))
    assert band_join(l, empty, "ta", "tb", 0, 100).count() == 0


def test_similarity_empty_corpus(spark):
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators.similarity import (
        cosine_pairs,
        knn_join,
    )

    empty = _empty(spark, VECS)
    assert cosine_pairs(empty).count() == 0
    one = spark.createDataFrame([Row(vec_id=1, embedding=[1.0, 0.0])], VECS)
    assert knn_join(one, empty).count() == 0


def test_dedup_and_sessionize_empty(spark):
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators.dedup import (
        dedup_keep_latest,
    )
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators.sessionize import (
        sessionize,
    )

    empty = _empty(spark, EVENTS)
    assert dedup_keep_latest(empty, ["k"], "ts").count() == 0
    ev = empty.select(
        F.col("k").alias("user_id"), F.col("ts"), F.col("event_id")
    )
    assert (
        sessionize(ev, user_col="user_id", ts_col="ts", gap_seconds=60,
                   order_tiebreak="event_id", seconds_col="ts").count() == 0
    )


def test_profile_empty(spark):
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators.profile import (
        profile_table,
    )

    rows = profile_table(_empty(spark, DOCS)).collect()
    assert {r.column for r in rows} == {"doc_id", "text"}
    assert all(r.n_rows == 0 and r.n_nulls == 0 for r in rows)


def test_flatten_empty(spark):
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators.flatten import (
        flatten,
    )

    nested = StructType(
        [
            StructField("id", LongType()),
            StructField(
                "payload",
                StructType([StructField("a", LongType())]),
            ),
        ]
    )
    out = flatten(_empty(spark, nested))
    assert out.columns == ["id", "payload_a"]
    assert out.count() == 0


def test_zorder_key_empty(spark):
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators.zorder import (
        zorder_key,
    )

    df = _empty(spark, EVENTS)
    out, key = zorder_key(df, ["k", "ts"])
    assert out.count() == 0
    assert key in out.columns


def test_connected_components_empty(spark):
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators.components import (
        connected_components,
    )

    df = _empty(spark, EVENTS).select(
        F.col("event_id").alias("src"), F.col("k").alias("dst")
    )
    assert connected_components(df, "src", "dst").count() == 0


def test_bloom_empty_build_side(spark):
    """An empty build set yields an all-zero filter that passes
    NOTHING — the neutral element for semi-join reduction."""
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators.bloom import (
        bloom_build,
        bloom_prune,
    )

    empty = _empty(spark, StructType([StructField("key", LongType())]))
    words = bloom_build(empty, "key", 1 << 10, 4)
    assert words == [0] * (1024 // 32)
    probe = spark.range(100).select(F.col("id").alias("key"))
    assert bloom_prune(probe, "key", words, 1 << 10, 4).count() == 0


def test_cms_empty_input(spark):
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators.sketch import (
        cms_cells,
        cms_estimate,
    )

    empty = _empty(spark, StructType([StructField("item", StringType())]))
    cells = cms_cells(empty, "item", 4, 64)
    assert cells.count() == 0
    probes = spark.createDataFrame([("x",)], "item string")
    est = cms_estimate(probes, cells, "item", 4, 64).collect()
    assert est[0]["cms_est"] == 0  # absent item estimates zero


def test_holt_single_month_has_zero_trend(spark, tmp_path):
    """One observation: level = the value, trend = 0, forecast =
    level — the fold's init convention, pinned."""
    import os

    import pyspark.sql.functions as SF

    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.queries.advanced import (
        q_holt_revenue_forecast,
    )

    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    src = "/root/testdata/sf0.001"
    one_month = (
        spark.read.parquet(f"{src}/orders.parquet")
        .filter(SF.date_format("o_orderdate", "yyyy-MM") == "1995-01")
    )
    one_month.write.parquet(f"{sf_dir}/orders.parquet")
    for t in ("customer", "nation", "region"):
        spark.read.parquet(f"{src}/{t}.parquet").write.parquet(
            f"{sf_dir}/{t}.parquet"
        )
    rows = q_holt_revenue_forecast(spark, sf_dir).collect()
    assert rows, "expected at least one region"
    for r in rows:
        assert r["n_months"] == 1
        assert r["trend"] == 0.0
        assert r["forecast_next"] == r["level"]


def test_expectations_gate_modes(spark):
    import pytest as _pt

    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators.quality import (
        expectations_gate,
        null_pk_rule,
        positive_rule,
    )

    df = spark.createDataFrame(
        [(1, 5.0), (None, 3.0), (3, -2.0), (4, 1.0)],
        "pk bigint, amt double",
    )
    rules = [null_pk_rule(["pk"]), positive_rule(["amt"])]

    ok, bad = expectations_gate(df, rules, "drop")
    assert ok.count() == 2 and bad.count() == 2
    tags = {
        (r["pk"], tuple(r["violated_rules"])) for r in bad.collect()
    }
    assert (3, ("positive_amt",)) in tags or any(
        r[0] == 3 for r in tags
    )

    ok_w, bad_w = expectations_gate(df, rules, "warn")
    assert ok_w.count() == 4 and bad_w.count() == 2

    ok_f, _ = expectations_gate(df, rules, "fail")
    with _pt.raises(Exception, match="expectation violated"):
        ok_f.count()
    # a clean frame passes the fail gate
    clean = spark.createDataFrame([(1, 5.0)], "pk bigint, amt double")
    ok_c, _ = expectations_gate(clean, rules, "fail")
    assert ok_c.count() == 1

    with _pt.raises(ValueError):
        expectations_gate(df, rules, "explode")


def test_expectations_gate_rejects_empty_rules(spark):
    import pytest as _pt

    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators.quality import (
        expectations_gate,
    )

    df = spark.createDataFrame([(1,)], "pk bigint")
    with _pt.raises(ValueError, match="non-empty"):
        expectations_gate(df, [], "drop")


def test_dq_counts_on_empty_input_are_zero(spark):
    """Every rule counts 0 over an empty frame, not NULL — in the
    aggregation and in the counts ``apply`` observes during its
    sink's write."""
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators.quality import (
        QualityEngine,
        null_pk_rule,
        positive_rule,
    )

    empty = spark.range(0).select(
        F.col("id").alias("pk"), F.col("id").cast("double").alias("amt")
    )
    eng = QualityEngine([null_pk_rule(["pk"]), positive_rule(["amt"])])
    zero = {"null_pk[pk]": 0, "positive[amt]": 0}
    counts = eng.violation_counts(empty).collect()
    assert {r.rule: r.n_violations for r in counts} == zero
    observed = eng.apply(
        empty,
        "e",
        lambda rows: rows.write.format("noop").mode("overwrite").save(),
    ).collect()
    assert {r.rule: r.n_violations for r in observed} == zero


def test_dp_release_empty_and_als_half_step_empty(spark):
    """The r9 operators under S10's neutral-element discipline: a DP
    release over an empty aggregate table is an empty release (zero
    rows, never a crash in the literal-table lookup), and an ALS half
    step over empty ratings is an empty factor table."""
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators import dp
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators.als import (
        rank1_half_step_int,
    )

    agg = _empty(
        spark,
        StructType(
            [StructField("k", LongType()), StructField("n", LongType())]
        ),
    )
    out = dp.release(agg, "k", [("n", 1, 1_000_000)])
    assert out.count() == 0
    assert "n_released" in out.columns and "eps_total_ppm" in out.columns

    ratings = _empty(
        spark,
        StructType(
            [
                StructField("c", LongType()),
                StructField("p", LongType()),
                StructField("q", LongType()),
            ]
        ),
    )
    factors = _empty(
        spark,
        StructType(
            [StructField("p", LongType()), StructField("v", LongType())]
        ),
    )
    assert (
        rank1_half_step_int(ratings, "c", "p", factors, "v", "u").count()
        == 0
    )
