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

- ``{name}_fd``: (batch_id, sketch array<double> (ell·d row-major),
  frob_sq, n) — one row per non-empty partition per micro-batch.

Ingest cost is one narrow mapInPandas pass over the batch (no
shuffle); the table grows O(batches · partitions) ROWS OF CONSTANT
SIZE, never O(corpus), and ``compact()`` folds any prefix into a
single row at any time WITHOUT changing readout semantics beyond
FD's own guarantee — mergeability makes compaction a pure storage
operation, the deltalog-OPTIMIZE analog for sketch state.

Replay guard: ``foreachBatch`` may re-present a micro-batch after a
checkpoint recovery.  Sketch rows carry ``batch_id``; a batch whose
id is already stored is skipped, keeping the fold idempotent
(exactly-once net effect) — the same guard the IVF/PQ maintainers
implement per-row, lifted to per-batch granularity because sketch
rows have no natural item key.

Readout: ``merged()`` collects the BOUNDED sketch rows (never data)
and returns (B, frob_sq, n) with the same contract as the one-shot
build; mass and row-count conservation are EXACT, the spectrum is
within the FD bound of the one-shot result (the pytest pins both).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.fd import fd_merge, fd_partials
from ..sources.tables import TableIO, local_table


class IncrementalFDSketch:
    """Append-only FD Gram sketch over an embedding stream."""

    def __init__(
        self,
        io: TableIO,
        name: str,
        ell: int = 16,
        d: int = 64,
        vec_col: str = "embedding",
    ):
        self.io = io
        self.name = name
        self.ell = ell
        self.d = d
        self.vec_col = vec_col

    @property
    def sketch_table(self) -> str:
        return f"{self.name}_fd"

    # ------------------------------------------------------ batch core
    def _seen(self, batch_id: int) -> bool:
        if not self.io.spark.catalog.tableExists(self.sketch_table):
            return False
        return bool(
            self.io.read(self.sketch_table)
            .filter(F.col("batch_id") == batch_id)
            .limit(1)
            .count()
        )

    def append_batch(self, batch: DataFrame, batch_id: int) -> None:
        """Fold one micro-batch in: per-partition FD pass, append the
        constant-size sketch rows.  Idempotent per batch_id."""
        if self._seen(batch_id):
            return
        parts = fd_partials(
            batch, self.vec_col, self.ell, self.d
        ).withColumn("batch_id", F.lit(int(batch_id)).cast("bigint"))
        parts = parts.localCheckpoint(eager=True)
        self.io.write_append(parts, self.sketch_table)
        try:
            self.io.spark.catalog.refreshTable(self.sketch_table)
        except Exception:
            pass

    # ------------------------------------------------------- streaming
    def writer(self, stream: DataFrame, checkpoint: str):
        """writeStream maintaining the sketch from an embedding
        stream (availableNow + checkpoint, the TableIO sink
        contract)."""

        def run(batch: DataFrame, batch_id: int) -> None:
            if batch.isEmpty():
                return
            self.append_batch(batch, batch_id)

        return (
            stream.writeStream.foreachBatch(run)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
        )

    # --------------------------------------------------------- readout
    def _rows(self):
        return self.io.read(self.sketch_table).collect()  # bounded

    def merged(self, rows=None) -> tuple[np.ndarray, float, int]:
        """(B (ell, d), frob_sq, n) over everything ingested so far —
        the one-shot ``frequent_directions`` contract.  Zero-mass
        rows (the post-compaction replay-guard markers) carry no
        sketch content and are skipped.  ``rows`` lets a caller pass
        a pre-collected snapshot so one read serves several derived
        views (``compact`` needs this: deriving the seen-set and the
        merge from DIFFERENT reads would let a batch appended between
        them be folded without a replay-guard marker)."""
        if rows is None:
            rows = self._rows()
        rows = [r for r in rows if r["n"] > 0]
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
        """Fold all stored sketch rows into ONE row (batch_id -1,
        reserved: foreachBatch ids are non-negative).  Mass / count
        conservation is exact; the spectral guarantee is preserved
        by FD mergeability.

        The replay guard SURVIVES compaction: every previously seen
        batch_id is re-written as a zero-mass marker row, so a
        checkpoint-recovery replay of an already-folded batch is
        still recognized and skipped — without the markers,
        compaction would erase the registry and a replay would
        double-count."""
        rows = self._rows()  # ONE snapshot feeds both derived views
        seen = sorted(
            {int(r["batch_id"]) for r in rows if r["batch_id"] >= 0}
        )
        b, frob_sq, n = self.merged(rows)
        if n == 0:
            return
        spark = self.io.spark
        out = [
            (b.reshape(-1).tolist(), float(frob_sq), int(n), -1)
        ] + [([], 0.0, 0, bid) for bid in seen]
        one = local_table(
            spark,
            out,
            "sketch array<double>, frob_sq double, n bigint, "
            "batch_id bigint",
        )
        self.io.write_overwrite(one, self.sketch_table)
        try:
            spark.catalog.refreshTable(self.sketch_table)
        except Exception:
            pass
