"""The one ``foreachBatch`` runner every streaming sink goes through.

Spark's ``foreachBatch`` is at-least-once: a stream restarted after a
crash between a batch's data commit and its ``commits/N`` entry runs
that batch again.  The runner hands each non-empty micro-batch to
``commit(batch, app_id=..., batch_id=...)``, where ``app_id`` is the
checkpoint's absolute path and ``batch_id`` is Spark's.  A sink whose
state lives on the Delta log passes both to
``DeltaLogTable.write_batch_exactly_once``, whose ``txn`` action makes
the replay a no-op.  Two streams with different checkpoints are two
writers, so neither mistakes the other's batch 0 for a replay.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import DataStreamWriter


def foreach_batch(
    stream: DataFrame,
    checkpoint: str,
    commit: Callable[..., object],
) -> DataStreamWriter:
    """A ready writeStream (call ``.start()``) that runs ``commit`` on
    every non-empty micro-batch of ``stream`` under ``checkpoint``,
    ``availableNow``.  Chain ``.outputMode(...)`` on the result for an
    aggregated stream."""
    app_id = os.path.abspath(checkpoint)

    def run(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        commit(batch, app_id=app_id, batch_id=batch_id)

    return (
        stream.writeStream.foreachBatch(run)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )
