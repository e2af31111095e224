"""Continuous aggregate (hypertable-style rollup): an incrementally
maintained windowed-metrics table.

Composition of the engine's own parts: watermarked tumbling
aggregation (``streaming.windows.tumbling_agg``) folded into a
rollup table keyed by (window_start, keys...) with the SCD-1
last-writer-wins merge (``operators.merge.merge_keep_latest``).
Each ``availableNow`` run processes only new source files
(checkpoint), re-aggregates only LIVE windows
(watermark bounds state), and merges refreshed window rows over the
previous values — the classic continuous-aggregate contract:

- closed windows never change (late data past the watermark is
  dropped deterministically);
- the rollup table always holds exactly one row per (window, key);
- a full rebuild is never needed — cost per run is O(new data).

The rollup table is a ``DeltaLogTable``: every micro-batch commits
the refreshed rollup as a new version, so the materialized view also
answers as-of reads ("what did the hourly rollup say before this
batch landed?") and metadata-only ``restore``.  The commit carries
the stream's ``txn``, so a batch replayed after a crash is skipped.

At 100 TB this is the pattern that replaces nightly full-table
re-aggregation with per-micro-batch incremental maintenance.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame

from ..operators.merge import merge_keep_latest
from ..sources.deltalog import DeltaLogTable
from .sink import foreach_batch
from .windows import tumbling_agg


def continuous_aggregate(
    events: DataFrame,
    table: DeltaLogTable,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "30 minutes",
    keys: Sequence[str] = (),
    checkpoint: str = "",
):
    """Returns a ready writeStream (call ``.start()``) that maintains
    ``table`` as the rollup of ``events``.

    ``update`` output mode re-emits a window row whenever it changes;
    each batch folds into the table's snapshot keeping the newest
    emission per (window_start, keys).  ``n_events`` serves as the
    version column: counts are monotone per window (update mode only
    emits when new events arrived), so last-writer-wins on n_events
    is exactly newest-aggregation-wins."""
    agg = tumbling_agg(events, ts_col, window, watermark, keys=keys)
    merge_keys = ["window_start", *keys]

    def merge_batch(batch: DataFrame, app_id: str, batch_id: int) -> None:
        # one row per window/key within the batch is guaranteed by the
        # upstream aggregation; merge over the table keyed by window
        table.write_batch_exactly_once(
            lambda snap: batch if snap is None
            else merge_keep_latest(snap, batch, merge_keys, "n_events"),
            app_id,
            batch_id,
        )

    return foreach_batch(agg, checkpoint, merge_batch).outputMode("update")
