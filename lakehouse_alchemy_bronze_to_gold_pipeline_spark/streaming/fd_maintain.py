"""Incrementally maintained Frequent Directions sketch — the
spectral-summary half of the streamed index family (IVF lists, PQ
codes, near-dup signatures, and now the Gram sketch).

The batch ``operators.fd.frequent_directions`` sketches the whole
corpus in one pass; a training-data pipeline ingests embeddings
continuously.  FD is a MERGEABLE summary (the ‖A‖_F²/ell guarantee
survives arbitrary merge trees — Ghashami et al. 2016), so the
``IncrementalNearDupFilter`` pattern applies with one twist: what
accumulates in the table is not per-item state but per-batch
partition sketches —

- the sketch table (a ``DeltaLogTable``): (sketch array<double>
  (ell·d row-major), frob_sq, n) — one row per non-empty partition
  per micro-batch.

Ingest cost is one narrow mapInPandas pass over the batch (no
shuffle); the table grows O(batches · partitions) ROWS OF CONSTANT
SIZE, never O(corpus), and ``compact()`` folds any prefix into a
single row at any time WITHOUT changing readout semantics beyond
FD's own guarantee — mergeability makes compaction a pure storage
operation, the deltalog-OPTIMIZE analog for sketch state.

Replay guard: ``foreachBatch`` may re-present a micro-batch after a
checkpoint recovery.  Each append carries the stream's ``txn`` (its
checkpoint path and batch id) in the same log commit as the sketch
rows, so a replay is skipped — and the guard lives in the log, not in
the rows: ``compact()`` rewrites the rows and keeps it, and a second
stream with its own checkpoint is a different writer whose batch 0
still counts.

Readout: ``merged()`` collects the BOUNDED sketch rows (never data)
and returns (B, frob_sq, n) with the same contract as the one-shot
build; mass and row-count conservation are EXACT, the spectrum is
within the FD bound of the one-shot result (the pytest pins both).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from ..operators.fd import fd_merge, fd_partials
from ..sources.deltalog import DeltaLogTable
from ..sources.tables import local_table
from .sink import foreach_batch


class IncrementalFDSketch:
    """Append-only FD Gram sketch over an embedding stream."""

    def __init__(
        self,
        table: DeltaLogTable,
        ell: int = 16,
        d: int = 64,
        vec_col: str = "embedding",
    ):
        self.table = table
        self.ell = ell
        self.d = d
        self.vec_col = vec_col

    # ------------------------------------------------------ batch core
    def append_batch(
        self, batch: DataFrame, *, app_id: str, batch_id: int
    ) -> int | None:
        """Fold one micro-batch in: per-partition FD pass, append the
        constant-size sketch rows — skipped when the log already holds
        ``batch_id`` of writer ``app_id``."""
        return self.table.write_batch_exactly_once(
            fd_partials(batch, self.vec_col, self.ell, self.d),
            app_id,
            batch_id,
        )

    # ------------------------------------------------------- streaming
    def writer(self, stream: DataFrame, checkpoint: str):
        """writeStream maintaining the sketch from an embedding
        stream (availableNow + checkpoint, exactly once per batch)."""
        return foreach_batch(stream, checkpoint, self.append_batch)

    # --------------------------------------------------------- readout
    def merged(self, rows=None) -> tuple[np.ndarray, float, int]:
        """(B (ell, d), frob_sq, n) over everything ingested so far —
        the one-shot ``frequent_directions`` contract.  ``rows`` lets
        a caller pass a pre-collected snapshot (``compact`` folds the
        rows it will replace)."""
        if rows is None:
            rows = self.table.read().collect()  # bounded
        if not rows:
            return np.zeros((self.ell, self.d)), 0.0, 0
        b = fd_merge(
            [
                np.asarray(r["sketch"]).reshape(self.ell, self.d)
                for r in rows
            ],
            self.ell,
        )
        return (
            b,
            float(sum(r["frob_sq"] for r in rows)),
            int(sum(r["n"] for r in rows)),
        )

    def compact(self) -> None:
        """Fold all stored sketch rows into ONE row.  Mass / count
        conservation is exact; the spectral guarantee is preserved
        by FD mergeability.  The overwrite is a new log version, and
        the log's ``txn`` watermarks outlive it, so a replay of an
        already-folded batch is still skipped."""
        rows = self.table.read().collect()
        b, frob_sq, n = self.merged(rows)
        if n == 0:
            return
        one = local_table(
            self.table.spark,
            [(b.reshape(-1).tolist(), float(frob_sq), int(n))],
            "sketch array<double>, frob_sq double, n bigint",
        )
        self.table.write(one, "overwrite")
