"""Event-time windowed streaming: watermarked tumbling windows with
cross-run late-data drop (checkpointed watermark), session windows,
and the applyInPandasWithState running-totals operator."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from lakehouse_alchemy_bronze_to_gold_pipeline_spark.streaming.windows import (
    running_totals,
    session_agg,
    sliding_agg,
    tumbling_agg,
)

SCHEMA = StructType(
    [
        StructField("user_id", StringType()),
        StructField("ts", TimestampType()),
        StructField("value", DoubleType()),
    ]
)


def _write(dirpath, name, rows):
    os.makedirs(dirpath, exist_ok=True)
    with open(os.path.join(dirpath, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _run_stream(spark, src, cp, agg_fn, mode="append"):
    """availableNow run collecting emitted rows via foreachBatch (the
    only sink that both supports checkpoint recovery and any output
    mode)."""
    rows = []
    stream = spark.readStream.schema(SCHEMA).json(src)
    q = (
        agg_fn(stream)
        .writeStream.foreachBatch(lambda df, _id: rows.extend(df.collect()))
        .outputMode(mode)
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return rows


def test_tumbling_watermark_drops_late_across_runs(spark, tmp_path):
    src, cp = str(tmp_path / "src"), str(tmp_path / "cp")
    agg = lambda s: tumbling_agg(s, "ts", "1 hour", "30 minutes")

    # run 1: events at 10:05 and 12:10 -> watermark advances to 11:40,
    # closing (and emitting) the 10:00-11:00 window
    _write(src, "a.json", [
        {"user_id": "u1", "ts": "2024-01-01 10:05:00", "value": 1.0},
        {"user_id": "u1", "ts": "2024-01-01 12:10:00", "value": 2.0},
    ])
    rows1 = _run_stream(spark, src, cp, agg)

    # run 2 (same checkpoint): one event behind the persisted watermark
    # (dropped) and one after 12:00 (counted)
    _write(src, "b.json", [
        {"user_id": "u1", "ts": "2024-01-01 10:30:00", "value": 100.0},
        {"user_id": "u1", "ts": "2024-01-01 12:20:00", "value": 3.0},
    ])
    rows2 = _run_stream(spark, src, cp, agg)

    rows = rows1 + rows2
    by_window = {r.window_start.strftime("%H:%M"): r for r in rows}
    # the 10:00 window closed in run 1 with ONLY the 10:05 event —
    # the late 10:30 arrival (value=100) never appears
    assert by_window["10:00"].n_events == 1
    assert by_window["10:00"].sum_value == 1.0
    assert "12:00" not in by_window or by_window["12:00"].n_events <= 2


def test_sliding_windows_multiply_membership(spark):
    df = spark.createDataFrame(
        [("u1", "2024-01-01 10:10:00", 1.0)], "user_id string, ts string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    out = sliding_agg(df, "ts", "1 hour", "15 minutes").collect()
    # one event belongs to 60/15 = 4 hopping windows
    assert len(out) == 4
    assert all(r.n_events == 1 for r in out)


def test_session_window_gap_merge(spark, tmp_path):
    src, cp = str(tmp_path / "src"), str(tmp_path / "cp")
    _write(src, "a.json", [
        {"user_id": "u1", "ts": "2024-01-01 10:00:00", "value": 1.0},
        {"user_id": "u1", "ts": "2024-01-01 10:10:00", "value": 1.0},
        {"user_id": "u1", "ts": "2024-01-01 12:00:00", "value": 1.0},
        {"user_id": "u2", "ts": "2024-01-01 10:00:00", "value": 1.0},
    ])
    agg = lambda s: session_agg(s, "ts", gap="30 minutes")
    rows = _run_stream(spark, src, cp, agg)
    # watermark reaches 11:30: the merged 10:00+10:10 session (ends
    # 10:40) emits; the 12:00 session is still open in state
    u1 = [r for r in rows if r.user_id == "u1"]
    assert [r.n_events for r in u1] == [2]
    assert len([r for r in rows if r.user_id == "u2"]) == 1

    # a later event pushes the watermark past 12:30 -> run 2 flushes
    # the pending 12:00 session from the checkpointed state store
    _write(src, "b.json", [
        {"user_id": "u3", "ts": "2024-01-01 14:00:00", "value": 1.0},
    ])
    rows2 = _run_stream(spark, src, cp, agg)
    flushed = [r for r in rows2 if r.user_id == "u1"]
    assert [r.n_events for r in flushed] == [1]
    assert flushed[0].session_start.strftime("%H:%M") == "12:00"


def test_running_totals_state_across_runs(spark, tmp_path):
    src, cp = str(tmp_path / "src"), str(tmp_path / "cp")
    _write(src, "a.json", [
        {"user_id": "u1", "ts": "2024-01-01 10:00:00", "value": 1.0},
        {"user_id": "u1", "ts": "2024-01-01 10:01:00", "value": 1.0},
        {"user_id": "u2", "ts": "2024-01-01 10:00:00", "value": 1.0},
    ])
    rows1 = _run_stream(
        spark, src, cp, lambda s: running_totals(s, "user_id"), mode="update"
    )
    got1 = {r.key: r.n_total for r in rows1}
    assert got1 == {"u1": 2, "u2": 1}

    # second availableNow run: state persists via checkpoint
    _write(src, "b.json", [
        {"user_id": "u1", "ts": "2024-01-01 11:00:00", "value": 1.0},
    ])
    rows2 = _run_stream(
        spark, src, cp, lambda s: running_totals(s, "user_id"), mode="update"
    )
    got2 = {r.key: r.n_total for r in rows2}
    assert got2["u1"] == 3  # 2 from run 1 state + 1 new


def test_stream_stream_join_attribution(spark, tmp_path):
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.streaming.joins import (
        stream_stream_join,
    )

    imp_dir, clk_dir = str(tmp_path / "imp"), str(tmp_path / "clk")
    _write(imp_dir, "a.json", [
        {"user_id": "u1", "ts": "2024-01-01 10:00:00", "value": 1.0},
        {"user_id": "u2", "ts": "2024-01-01 10:00:00", "value": 2.0},
    ])
    _write(clk_dir, "a.json", [
        {"user_id": "u1", "ts": "2024-01-01 10:05:00", "value": 10.0},  # in window
        {"user_id": "u2", "ts": "2024-01-01 10:20:00", "value": 20.0},  # past delay
        {"user_id": "u3", "ts": "2024-01-01 10:05:00", "value": 30.0},  # no imp
    ])
    imps = (
        spark.readStream.schema(SCHEMA).json(imp_dir)
        .select("user_id", F.col("ts").alias("imp_ts"), F.col("value").alias("imp_v"))
    )
    clicks = (
        spark.readStream.schema(SCHEMA).json(clk_dir)
        .select("user_id", F.col("ts").alias("click_ts"), F.col("value").alias("click_v"))
    )
    joined = stream_stream_join(
        imps, clicks, "user_id", "imp_ts", "click_ts", max_delay="10 minutes"
    )
    rows = []
    q = (
        joined.writeStream.foreachBatch(lambda df, _id: rows.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(r.user_id, r.imp_v, r.click_v) for r in rows}
    assert got == {("u1", 1.0, 10.0)}


def test_streaming_upsert_scd1(spark, tmp_path):
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators.merge import (
        streaming_upsert,
    )
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.sources.deltalog import (
        DeltaLogTable,
    )

    src, cp = str(tmp_path / "src"), str(tmp_path / "cp")
    table = DeltaLogTable(spark, str(tmp_path / "scd1"))

    _write(src, "a.json", [
        {"user_id": "u1", "ts": "2024-01-01 10:00:00", "value": 1.0},
        {"user_id": "u1", "ts": "2024-01-01 11:00:00", "value": 2.0},  # same key, newer
        {"user_id": "u2", "ts": "2024-01-01 10:00:00", "value": 5.0},
    ])
    stream = spark.readStream.schema(SCHEMA).json(src)
    streaming_upsert(stream, table, ["user_id"], "ts", cp).start().awaitTermination()
    got = {r.user_id: r.value for r in table.read().collect()}
    assert got == {"u1": 2.0, "u2": 5.0}  # in-batch dedup kept latest

    _write(src, "b.json", [
        {"user_id": "u2", "ts": "2024-01-01 12:00:00", "value": 7.0},   # update
        {"user_id": "u3", "ts": "2024-01-01 12:00:00", "value": 9.0},   # insert
        {"user_id": "u1", "ts": "2024-01-01 09:00:00", "value": 0.5},   # stale -> loses
    ])
    stream = spark.readStream.schema(SCHEMA).json(src)
    streaming_upsert(stream, table, ["user_id"], "ts", cp).start().awaitTermination()
    got = {r.user_id: r.value for r in table.read().collect()}
    assert got == {"u1": 2.0, "u2": 7.0, "u3": 9.0}


def test_continuous_aggregate_incremental_rollup(spark, tmp_path):
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.sources.deltalog import (
        DeltaLogTable,
    )
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.streaming.rollup import (
        continuous_aggregate,
    )

    src, cp = str(tmp_path / "src"), str(tmp_path / "cp")
    table = DeltaLogTable(spark, str(tmp_path / "rollup"))

    def run():
        stream = spark.readStream.schema(SCHEMA).json(src)
        q = continuous_aggregate(
            stream, table, ts_col="ts", window="15 minutes",
            watermark="30 minutes", checkpoint=cp,
        ).start()
        q.awaitTermination()

    _write(src, "a.json", [
        {"user_id": "u1", "ts": "2024-01-01 10:05:00", "value": 1.0},
        {"user_id": "u1", "ts": "2024-01-01 10:20:00", "value": 2.0},
    ])
    run()
    got = {
        r.window_start.strftime("%H:%M"): r.n_events
        for r in table.read().collect()
    }
    assert got == {"10:00": 1, "10:15": 1}

    # run 2: one more event for the STILL-LIVE 10:00 window + a new
    # window; only new files are processed (checkpoint), and the
    # refreshed 10:00 row replaces the old one
    _write(src, "b.json", [
        {"user_id": "u1", "ts": "2024-01-01 10:06:00", "value": 5.0},
        {"user_id": "u1", "ts": "2024-01-01 11:00:00", "value": 3.0},
    ])
    run()
    rows = table.read().collect()
    got = {r.window_start.strftime("%H:%M"): (r.n_events, r.sum_value) for r in rows}
    assert got == {"10:00": (2, 6.0), "10:15": (1, 2.0), "11:00": (1, 3.0)}
    assert len(rows) == 3  # exactly one row per window


def test_stream_stream_left_outer_emits_after_watermark(spark, tmp_path):
    """Left-outer stream-stream join: unmatched left rows emit with
    null right columns only once the watermark passes their join
    window — which requires a LATER batch to advance event time.
    This pins the two-run emission pattern (nothing outer in run 1,
    outer rows surface in run 2)."""
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.streaming.joins import (
        stream_stream_join,
    )

    imp_dir, clk_dir = str(tmp_path / "imp"), str(tmp_path / "clk")
    _write(imp_dir, "a.json", [
        {"user_id": "u1", "ts": "2024-01-01 10:00:00", "value": 1.0},
        {"user_id": "u2", "ts": "2024-01-01 10:00:00", "value": 2.0},
    ])
    _write(clk_dir, "a.json", [
        {"user_id": "u1", "ts": "2024-01-01 10:05:00", "value": 10.0},
        # u2 clicks past the 10-minute delay window -> never matches
        {"user_id": "u2", "ts": "2024-01-01 10:20:00", "value": 20.0},
    ])

    def run():
        imps = (
            spark.readStream.schema(SCHEMA).json(imp_dir)
            .select("user_id", F.col("ts").alias("imp_ts"),
                    F.col("value").alias("imp_v"))
        )
        clicks = (
            spark.readStream.schema(SCHEMA).json(clk_dir)
            .select("user_id", F.col("ts").alias("click_ts"),
                    F.col("value").alias("click_v"))
        )
        joined = stream_stream_join(
            imps, clicks, "user_id", "imp_ts", "click_ts",
            max_delay="10 minutes", watermark="30 minutes",
            how="left_outer",
        )
        rows = []
        q = (
            joined.writeStream
            .foreachBatch(lambda df, _id: rows.extend(df.collect()))
            .option("checkpointLocation", str(tmp_path / "cp"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return rows

    run1 = {(r.user_id, r.imp_v, r.click_v) for r in run()}
    assert run1 == {("u1", 1.0, 10.0)}  # outer rows NOT yet emitted

    # late traffic on BOTH sides advances the global watermark past
    # u2's join window (10:10 + 30 min) -> the outer row surfaces
    _write(imp_dir, "b.json", [
        {"user_id": "u9", "ts": "2024-01-01 12:00:00", "value": 9.0},
    ])
    _write(clk_dir, "b.json", [
        {"user_id": "u9", "ts": "2024-01-01 12:01:00", "value": 90.0},
    ])
    run2 = {(r.user_id, r.imp_v, r.click_v) for r in run()}
    assert ("u2", 2.0, None) in run2  # watermark-released outer row


def test_continuous_aggregate_versioned_history(spark, tmp_path):
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.sources.deltalog import (
        DeltaLogTable,
    )
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.streaming.rollup import (
        continuous_aggregate,
    )

    src, cp = str(tmp_path / "src"), str(tmp_path / "cp")
    vt = DeltaLogTable(spark, str(tmp_path / "rollup_hist"))

    def run():
        stream = spark.readStream.schema(SCHEMA).json(src)
        q = continuous_aggregate(
            stream, vt, ts_col="ts", window="15 minutes",
            watermark="30 minutes", checkpoint=cp,
        ).start()
        q.awaitTermination()

    _write(src, "a.json", [
        {"user_id": "u1", "ts": "2024-01-01 10:05:00", "value": 1.0},
        {"user_id": "u1", "ts": "2024-01-01 10:20:00", "value": 2.0},
    ])
    run()
    assert vt.versions() == [0]
    v0 = {r.window_start.strftime("%H:%M"): r.n_events
          for r in vt.read(0).collect()}
    assert v0 == {"10:00": 1, "10:15": 1}

    _write(src, "b.json", [
        {"user_id": "u1", "ts": "2024-01-01 10:06:00", "value": 5.0},
        {"user_id": "u1", "ts": "2024-01-01 11:00:00", "value": 3.0},
    ])
    run()
    assert vt.versions() == [0, 1]
    # latest reflects the refreshed live window + the new one...
    v1 = {r.window_start.strftime("%H:%M"): (r.n_events, r.sum_value)
          for r in vt.read().collect()}
    assert v1 == {"10:00": (2, 6.0), "10:15": (1, 2.0), "11:00": (1, 3.0)}
    # ...and the AS-OF read still answers with the pre-batch state
    v0_again = {r.window_start.strftime("%H:%M"): r.n_events
                for r in vt.read(0).collect()}
    assert v0_again == {"10:00": 1, "10:15": 1}
    # each version carries its batch's txn: the stream's watermark is
    # in the log, so a restarted stream skips what it already folded
    assert vt.last_txn_version(os.path.abspath(cp)) >= 1


def test_watermark_fixed_model_matches_real_stream(spark, tmp_path):
    """The r12 watermark certification, pinned from the STREAMING
    side: replaying real events (first 8 arrival-day batches of
    sf0.001, md5-jittered arrival order — the exact schedule
    ``watermark_late_events_fixed`` models) through a REAL
    checkpointed availableNow stream with withWatermark('2 hours') +
    hourly tumbling windows in append mode yields exactly the windows
    the relational model marks ``emitted``, with exactly its
    ``n_accepted`` counts.  The same python model over ALL batches is
    then asserted equal to the registry query itself, closing the
    chain: real stream == model == registry query (== DuckDB oracle,
    via the driver's hash check)."""
    import hashlib

    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.queries import (
        SPARK_QUERIES,
    )
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.queries.analytics import (
        _WM_DAY_US,
        _WM_DELAY_US,
        _WM_HOUR_US,
        _WM_JITTER_S,
    )
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.queries.data import (
        load,
    )

    sf = "/root/testdata/sf0.001"
    rows = load(spark, sf, "events").select("event_id", "ts_us").collect()

    def jitter_s(event_id: int) -> int:
        h = hashlib.md5(f"late:{event_id}".encode()).hexdigest()
        return int(h[:8], 16) % _WM_JITTER_S

    ev = [
        (
            (r.ts_us + jitter_s(r.event_id) * 1_000_000) // _WM_DAY_US,
            r.ts_us // _WM_HOUR_US,
            r.ts_us,
        )
        for r in rows
    ]
    batches = sorted({b for b, _, _ in ev})

    # ---- the relational model, in plain python (same arithmetic)
    def model(batch_subset):
        sub = [e for e in ev if e[0] in batch_subset]
        bmax = {}
        for b, _, ts in sub:
            bmax[b] = max(bmax.get(b, 0), ts)
        order = sorted(batch_subset)
        wm, run = {}, None
        for b in order:
            wm[b] = None if run is None else run - _WM_DELAY_US
            run = max(run or 0, bmax[b])
        final_wm = max(bmax.values()) - _WM_DELAY_US
        acc, drop = {}, {}
        for b, w, _ in sub:
            late = wm[b] is not None and (w + 1) * _WM_HOUR_US <= wm[b]
            tgt = drop if late else acc
            tgt[w] = tgt.get(w, 0) + 1
        emitted = {
            w * _WM_HOUR_US: n
            for w, n in acc.items()
            if n >= 1 and (w + 1) * _WM_HOUR_US <= final_wm
        }
        return acc, drop, emitted

    # ---- real stream over the first 8 arrival days
    head = set(batches[:8])
    src, cp, out = (
        str(tmp_path / "src"),
        str(tmp_path / "cp"),
        str(tmp_path / "out"),
    )
    os.makedirs(src)

    def run_stream():
        stream = (
            spark.readStream.schema("ts_us long")
            .json(src)
            .select(F.timestamp_micros(F.col("ts_us")).alias("ts"))
        )
        agg = (
            stream.withWatermark("ts", "2 hours")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n_accepted"))
            .select(
                F.unix_micros(F.col("w.start")).alias("win_start_us"),
                "n_accepted",
            )
        )
        q = (
            agg.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    for i, b in enumerate(sorted(head)):
        with open(os.path.join(src, f"b{i:02d}.json"), "w") as fh:
            for bb, _, ts in ev:
                if bb == b:
                    fh.write(json.dumps({"ts_us": ts}) + "\n")
        run_stream()

    got = {
        r.win_start_us: r.n_accepted
        for r in spark.read.parquet(out).collect()
    }
    _, _, want_emitted = model(head)
    assert got == want_emitted
    assert sum(model(head)[1].values()) > 0, (
        "fixture produced no late rows - the parity run never "
        "exercised the drop rule"
    )

    # ---- model over ALL batches == the registry query itself
    acc, drop, _ = model(set(batches))
    fixed = SPARK_QUERIES["watermark_late_events_fixed"](
        spark, sf
    ).collect()
    got_acc = {
        r.win_start_us // _WM_HOUR_US: r.n_accepted for r in fixed
    }
    got_drop = {
        r.win_start_us // _WM_HOUR_US: r.n_late_dropped
        for r in fixed
        if r.n_late_dropped
    }
    assert got_acc == {
        w: acc.get(w, 0) for w in got_acc
    } and set(acc) <= set(got_acc)
    assert got_drop == drop
