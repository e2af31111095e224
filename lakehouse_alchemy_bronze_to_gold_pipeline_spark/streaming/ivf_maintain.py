"""Incrementally maintained ANN indexes: IVF inverted lists and the
PQ-compressed corpus (the two halves of the classic IVF-PQ stack).

The batch ``operators.ivf.ivf_topk`` builds its inverted lists from
the whole corpus in one plan; a training-data pipeline ingests
embeddings continuously and cannot rebuild the index per query.  The
``IncrementalNearDupFilter`` pattern applies directly: corpus
knowledge lives in a ``DeltaLogTable``, new batches fold in by
equi-semantics, queries probe by equi-join —

- the lists table: (neighbor_id, cv array<double>, list_id) — the
  inverted-list index, append-only.

Assignment to a FIXED set of trained list heads is a narrow per-row
argmin (``ivf_assign``), so appending each batch's assignments is
definitionally identical to assigning the union at once: the stored
index is probe-equivalent to a one-shot batch build forever (the
pytest asserts two-run == one-run EXACTLY).  The query path is the
unchanged ``ivf_probe`` — the same code ``embedding_ivf_topk`` runs,
pointed at the table instead of an in-plan relation.

Each append commits with the stream's ``txn`` (checkpoint path and
batch id), so a batch replayed after a crash is skipped in the log.

Scale notes: per micro-batch cost is O(|batch| x n_lists) narrow
work plus one append — no shuffle, no state in the streaming engine
itself; the index grows O(corpus) rows of (id, vector, int).  At
cluster scale the lists table is partitioned by ``list_id`` so a
probe with ``n_probe`` lists prunes to those partitions only
(locally the equi-join prunes logically).  Centroid DRIFT is out of
scope by design: list heads are plan-time constants (the classic IVF
contract — FAISS retrains offline and swaps the index); retraining =
build a new lists table alongside and cut over.

Reference analog: the medallion pipeline's incremental Bronze->Silver
maintenance (silver_transformation.py:78-105) — arrive-once,
fold-into-state-once, readable any time.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.ivf import ivf_assign, ivf_probe
from ..operators.pq import pq_encode, pq_topk
from ..sources.deltalog import DeltaLogTable
from .sink import foreach_batch


class _AppendOnlyIndex:
    """An index table that grows by the rows of ids it does not hold
    yet: each batch maps to its index rows (``_rows``) and appends the
    unseen ones under the writer's ``txn``.

    Upstream contract: ids are IMMUTABLE — the anti-join is on id
    alone, so an id re-delivered in a later batch, even with a CHANGED
    embedding, is dropped (the stored row keeps serving).  If the
    source can update vectors in place, key the stream on (id,
    content-version) upstream or rebuild the index; the anti-join
    deliberately does not hash payloads (that would re-read every
    stored vector per batch)."""

    #: the id column of the stored index rows
    key: str

    def __init__(
        self,
        table: DeltaLogTable,
        heads: np.ndarray,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ):
        self.table = table
        self.heads = np.asarray(heads, dtype=float)
        self.id_col = id_col
        self.vec_col = vec_col

    def _rows(self, batch: DataFrame) -> DataFrame:
        raise NotImplementedError

    # ------------------------------------------------------ batch core
    def append_batch(
        self, batch: DataFrame, *, app_id: str, batch_id: int
    ) -> int | None:
        """Fold one batch in: its index rows whose id the table does
        not hold yet, appended — skipped when the log already holds
        ``batch_id`` of writer ``app_id``.  The anti-join touches only
        the id column of the stored index (column-pruned at the
        scan)."""
        rows = self._rows(batch)
        stored = self.table.read_before(app_id, batch_id)
        if stored is not None:
            rows = rows.join(stored.select(self.key), self.key, "left_anti")
        return self.table.write_batch_exactly_once(rows, app_id, batch_id)

    # ------------------------------------------------------- streaming
    def writer(self, stream: DataFrame, checkpoint: str):
        """writeStream maintaining the index from an embedding stream
        (availableNow + checkpoint, exactly once per batch)."""
        return foreach_batch(stream, checkpoint, self.append_batch)


class IncrementalIVFIndex(_AppendOnlyIndex):
    """Append-only IVF index over an embedding stream (``heads``: the
    trained list centroids), probe-equal to a one-shot batch build at
    every point in time."""

    key = "neighbor_id"

    def _rows(self, batch: DataFrame) -> DataFrame:
        return ivf_assign(batch, self.heads, self.id_col, self.vec_col)

    # --------------------------------------------------------- queries
    def topk(
        self, queries: DataFrame, k: int = 5, n_probe: int = 4
    ) -> DataFrame:
        """Unchanged ``ivf_probe`` over the stored index — identical
        output contract to ``operators.ivf.ivf_topk`` (query_id,
        neighbor_id, cosine_sim, rank)."""
        return ivf_probe(
            self.table.read(),
            queries,
            self.heads,
            id_col=self.id_col,
            vec_col=self.vec_col,
            k=k,
            n_probe=n_probe,
        )


class IncrementalPQIndex(_AppendOnlyIndex):
    """Append-only PQ-compressed index over an embedding stream
    (``heads``: the trained codebooks) — the memory half of the
    incremental IVF-PQ stack (per-row work at ingest, corpus knowledge
    as a table, readout unchanged).

    - the codes table: (vec_id, pq_codes array<int>) — m small ints
      per vector instead of d floats (~30x narrower at m=8, d=64).

    Encoding against FIXED codebooks (``operators.pq.pq_encode``) is
    a per-row Arrow argmin, so appending per-batch encodings equals
    encoding the union — the stored compressed corpus is
    ADC-probe-equivalent to a one-shot ``pq_topk`` forever.  Queries
    run the unchanged ``pq_topk`` with ``codes_col`` pointed at the
    table: the compressed-storage deployment it was designed for,
    arriving incrementally.  Codebook retraining = build a new codes
    table offline and cut over (the FAISS contract, same as the IVF
    list heads)."""

    @property
    def key(self) -> str:
        return self.id_col

    def _rows(self, batch: DataFrame) -> DataFrame:
        return pq_encode(batch, self.heads, self.vec_col, "pq_codes").select(
            F.col(self.id_col), "pq_codes"
        )

    # --------------------------------------------------------- queries
    def topk(self, queries, k: int = 5) -> DataFrame:
        """Unchanged ``pq_topk`` over the stored compressed corpus
        (queries: [(query_id, vector)] — the one-vs-corpus shape)."""
        return pq_topk(
            self.table.read(),
            queries,
            self.heads,
            k=k,
            id_col=self.id_col,
            codes_col="pq_codes",
        )
