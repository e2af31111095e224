"""DP release over incrementally-maintained aggregates: the readout
half of DP-at-scale (operators/dp.py::release + streaming/rollup.py).

The design rule under test: noise is NEVER folded into mergeable
state (merging would sum independent draws); exact partials are
maintained incrementally and noised only at publication — so the
incrementally-maintained rollup and a one-shot batch aggregate
release IDENTICAL values, and re-publishing is idempotent."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators import dp

SCHEMA = "user_id string, ts timestamp, value double"

_SPECS = [("n_events", 1, 1_000_000)]


def _write(d: str, name: str, rows: list[dict]) -> None:
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, name), "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")


def _released(spark, df):
    """Release per 15-min window keyed tz-free (epoch seconds)."""
    keyed = df.withColumn(
        "wkey", F.unix_timestamp("window_start").cast("bigint")
    )
    return {
        r["wkey"]: (r["n_events_noise"], r["n_events_released"])
        for r in dp.release(keyed, "wkey", _SPECS).collect()
    }


def test_incremental_and_batch_release_identically(spark, tmp_path):
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.sources.deltalog import (
        DeltaLogTable,
    )
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.streaming.rollup import (
        continuous_aggregate,
    )

    src, cp = str(tmp_path / "src"), str(tmp_path / "cp")
    table = DeltaLogTable(spark, str(tmp_path / "dp_rollup"))

    def run():
        stream = spark.readStream.schema(SCHEMA).json(src)
        q = continuous_aggregate(
            stream, table, ts_col="ts", window="15 minutes",
            watermark="30 minutes", checkpoint=cp,
        ).start()
        q.awaitTermination()

    _write(src, "a.json", [
        {"user_id": "u1", "ts": "2024-01-01 10:05:00", "value": 1.0},
        {"user_id": "u2", "ts": "2024-01-01 10:20:00", "value": 2.0},
    ])
    run()
    _write(src, "b.json", [
        {"user_id": "u3", "ts": "2024-01-01 10:06:00", "value": 5.0},
        {"user_id": "u1", "ts": "2024-01-01 11:00:00", "value": 3.0},
    ])
    run()

    maintained = table.read()
    inc = _released(spark, maintained)

    # one-shot batch twin over ALL the source data
    batch = (
        spark.read.schema(SCHEMA).json(src)
        .groupBy(F.window("ts", "15 minutes"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .select(F.col("window.start").alias("window_start"), "n_events")
    )
    one_shot = _released(spark, batch)

    assert inc == one_shot  # noise at readout, never in state
    assert len(inc) == 3
    # re-publication is idempotent (retry/rerun safety)
    assert _released(spark, maintained) == inc
    # noise came from the declared per-column mechanism
    tbl = dp.laplace_noise_table(1 / (_SPECS[0][2] / 1e6))
    assert all(n in tbl for n, _ in inc.values())


def test_release_ledger_and_multi_spec(spark):
    df = spark.createDataFrame(
        [(1, 10, 100), (2, 20, 200)], "k bigint, a bigint, b bigint"
    )
    out = dp.release(
        df, "k", [("a", 1, 500_000), ("b", 5, 250_000)]
    ).toPandas()
    assert (out["eps_total_ppm"] == 750_000).all()
    assert (out["a_released"] == out["a"] + out["a_noise"]).all()
    assert (out["b_released"] == out["b"] + out["b_noise"]).all()
    # per-column tags draw independent noise
    assert not (out["a_noise"] == out["b_noise"]).all()
