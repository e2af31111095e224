"""Continuous aggregate (hypertable-style rollup): an incrementally
maintained windowed-metrics table.

Composition of the engine's own parts: watermarked tumbling
aggregation (``streaming.windows.tumbling_agg``) upserted into a
rollup table keyed by (window_start, keys...) via the SCD-1 merge
sink (``operators.merge``).  Each ``availableNow`` run processes only
new source files (checkpoint), re-aggregates only LIVE windows
(watermark bounds state), and merges refreshed window rows over the
previous values — the classic continuous-aggregate contract:

- closed windows never change (late data past the watermark is
  dropped deterministically);
- the rollup table always holds exactly one row per (window, key);
- a full rebuild is never needed — cost per run is O(new data).

At 100 TB this is the pattern that replaces nightly full-table
re-aggregation with per-micro-batch incremental maintenance.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame

from ..operators.merge import merge_keep_latest, upsert_keep_latest
from ..sources.deltalog import DeltaLogTable
from ..sources.tables import TableIO
from .windows import tumbling_agg


def continuous_aggregate(
    events: DataFrame,
    io: TableIO,
    table: str,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "30 minutes",
    keys: Sequence[str] = (),
    checkpoint: str = "",
):
    """Returns a ready writeStream (call ``.start()``) that maintains
    ``table`` as the rollup of ``events``.

    ``update`` output mode re-emits a window row whenever it changes;
    the merge keeps the newest emission per (window_start, keys).
    ``n_events`` serves as the version column: counts are monotone
    per window (update mode only emits when new events arrived), so
    last-writer-wins on n_events is exactly
    newest-aggregation-wins."""
    agg = tumbling_agg(events, ts_col, window, watermark, keys=keys)
    merge_keys = ["window_start", *keys]
    spark = events.sparkSession

    def merge_batch(batch: DataFrame, _batch_id: int) -> None:
        if not batch.columns:
            return
        # one row per window/key within the batch is guaranteed by the
        # upstream aggregation; merge over the table keyed by window
        upsert_keep_latest(
            spark, io, table, batch, merge_keys, order_col="n_events"
        )

    return (
        agg.writeStream.foreachBatch(merge_batch)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def continuous_aggregate_versioned(
    events: DataFrame,
    versioned: DeltaLogTable,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "30 minutes",
    keys: Sequence[str] = (),
    checkpoint: str = "",
):
    """Continuous aggregate with HISTORY: every micro-batch commits
    the refreshed rollup as a new version of the Delta-log table
    ``versioned``, so the materialized view supports as-of reads
    ("what did the hourly rollup say before this batch landed?") and
    metadata-only ``restore`` — Delta history composed with
    incremental maintenance.

    Merge semantics match ``continuous_aggregate`` (newest window
    emission wins via n_events monotonicity); the difference is only
    the sink: read-latest + merge + overwrite commit.  The overwrite
    may read the table it replaces: the log only tombstones the old
    files, which stay on disk."""
    agg = tumbling_agg(events, ts_col, window, watermark, keys=keys)
    merge_keys = ["window_start", *keys]

    def merge_batch(batch: DataFrame, _batch_id: int) -> None:
        if not batch.columns or batch.isEmpty():
            return
        try:
            merged = merge_keep_latest(
                versioned.read(), batch, merge_keys, "n_events"
            )
        except FileNotFoundError:
            merged = batch
        versioned.write(merged, "overwrite")

    return (
        agg.writeStream.foreachBatch(merge_batch)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )
