"""Incrementally maintained ANN indexes: IVF inverted lists and the
PQ-compressed corpus (the two halves of the classic IVF-PQ stack).

The batch ``operators.ivf.ivf_topk`` builds its inverted lists from
the whole corpus in one plan; a training-data pipeline ingests
embeddings continuously and cannot rebuild the index per query.  The
``IncrementalNearDupFilter`` pattern applies directly: corpus
knowledge lives in an ordinary TABLE, new batches fold in by
equi-semantics, queries probe by equi-join —

- ``{name}_lists``: (neighbor_id, cv array<double>, list_id) — the
  inverted-list index, append-only.

Assignment to a FIXED set of trained list heads is a narrow per-row
argmin (``ivf_assign``), so appending each batch's assignments is
definitionally identical to assigning the union at once: the stored
index is probe-equivalent to a one-shot batch build forever (the
pytest asserts two-run == one-run EXACTLY).  The query path is the
unchanged ``ivf_probe`` — the same code ``embedding_ivf_topk`` runs,
pointed at the table instead of an in-plan relation.

Scale notes: per micro-batch cost is O(|batch| x n_lists) narrow
work plus one append — no shuffle, no state in the streaming engine
itself; the index grows O(corpus) rows of (id, vector, int).  At
cluster scale the lists table is partitioned by ``list_id`` so a
probe with ``n_probe`` lists prunes to those partitions only (the
partitioned-sink path of ``TableIO.write_stream`` / Hive-style
partitioning — locally the equi-join prunes logically).  Centroid
DRIFT is out of scope by design: list heads are plan-time constants
(the classic IVF contract — FAISS retrains offline and swaps the
index); retraining = build a new ``{name2}_lists`` alongside and cut
over.

Reference analog: the medallion pipeline's incremental Bronze->Silver
maintenance (silver_transformation.py:78-105) — arrive-once,
fold-into-state-once, readable any time.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from ..operators.ivf import ivf_assign, ivf_probe
from ..sources.tables import TableIO
from .sink import foreach_batch


class IncrementalIVFIndex:
    """Append-only IVF index over an embedding stream, probe-equal
    to a one-shot batch build at every point in time.

    Upstream contract: ids are IMMUTABLE — the replay guard anti-joins
    on id alone, so a re-ingested id with a CHANGED embedding is
    indistinguishable from a checkpoint replay and is dropped (the
    stored vector keeps serving).  If the source can update vectors
    in place, key the stream on (id, content-version) upstream or
    rebuild the index; the guard deliberately does not hash payloads
    (that would re-read every stored vector per batch)."""

    def __init__(
        self,
        io: TableIO,
        name: str,
        centroids: np.ndarray,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ):
        self.io = io
        self.name = name
        self.centroids = np.asarray(centroids, dtype=float)
        self.id_col = id_col
        self.vec_col = vec_col

    @property
    def lists_table(self) -> str:
        return f"{self.name}_lists"

    # ------------------------------------------------------ batch core
    def append_batch(self, batch: DataFrame) -> None:
        """Assign one batch to the fixed list heads and append.

        Replay guard: a checkpoint replay re-presents rows already
        folded in; dropping ids already present keeps the fold
        idempotent (exactly-once net effect), same as the near-dup
        filter's guard.  The anti-join touches only the id column of
        the stored index (column-pruned at the scan)."""
        spark = batch.sparkSession
        assigned = ivf_assign(
            batch, self.centroids, self.id_col, self.vec_col
        )
        if spark.catalog.tableExists(self.lists_table):
            seen = self.io.read(self.lists_table).select(
                "neighbor_id"
            )
            assigned = assigned.join(seen, "neighbor_id", "left_anti")
        # materialize before the append mutates the table the replay
        # guard's lineage reads
        assigned = assigned.localCheckpoint(eager=True)
        self.io.write_append(assigned, self.lists_table)
        try:
            self.io.spark.catalog.refreshTable(self.lists_table)
        except Exception:
            pass

    # ------------------------------------------------------- streaming
    def writer(self, stream: DataFrame, checkpoint: str):
        """writeStream maintaining the index from an embedding stream
        (availableNow + checkpoint, the TableIO sink contract)."""
        return foreach_batch(
            stream, checkpoint, lambda batch, **_ids: self.append_batch(batch)
        )

    # --------------------------------------------------------- queries
    def topk(
        self, queries: DataFrame, k: int = 5, n_probe: int = 4
    ) -> DataFrame:
        """Unchanged ``ivf_probe`` over the stored index — identical
        output contract to ``operators.ivf.ivf_topk`` (query_id,
        neighbor_id, cosine_sim, rank)."""
        return ivf_probe(
            self.io.read(self.lists_table),
            queries,
            self.centroids,
            id_col=self.id_col,
            vec_col=self.vec_col,
            k=k,
            n_probe=n_probe,
        )


class IncrementalPQIndex:
    """Append-only PQ-compressed index over an embedding stream —
    the memory half of the incremental IVF-PQ stack (same pattern as
    ``IncrementalIVFIndex``: per-row work at ingest, corpus knowledge
    as a table, readout unchanged; same id-immutability contract —
    see the IVF docstring).

    - ``{name}_codes``: (vec_id, pq_codes array<int>) — m small ints
      per vector instead of d floats (~30x narrower at m=8, d=64).

    Encoding against FIXED codebooks (``operators.pq.pq_encode``) is
    a per-row Arrow argmin, so appending per-batch encodings equals
    encoding the union — the stored compressed corpus is
    ADC-probe-equivalent to a one-shot ``pq_topk`` forever.  Queries
    run the unchanged ``pq_topk`` with ``codes_col`` pointed at the
    table: the compressed-storage deployment it was designed for,
    arriving incrementally.  Codebook retraining = build a new
    ``{name2}_codes`` table offline and cut over (the FAISS contract,
    same as the IVF list heads)."""

    def __init__(
        self,
        io: TableIO,
        name: str,
        codebooks: np.ndarray,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ):
        self.io = io
        self.name = name
        self.codebooks = np.asarray(codebooks, dtype=float)
        self.id_col = id_col
        self.vec_col = vec_col

    @property
    def codes_table(self) -> str:
        return f"{self.name}_codes"

    # ------------------------------------------------------ batch core
    def append_batch(self, batch: DataFrame) -> None:
        """Encode one batch against the fixed codebooks and append,
        with the standard replay guard (ids already folded are
        dropped, so checkpoint replays are idempotent)."""
        from pyspark.sql import functions as F

        from ..operators.pq import pq_encode

        spark = batch.sparkSession
        coded = pq_encode(
            batch, self.codebooks, self.vec_col, "pq_codes"
        ).select(F.col(self.id_col), "pq_codes")
        if spark.catalog.tableExists(self.codes_table):
            seen = self.io.read(self.codes_table).select(self.id_col)
            coded = coded.join(seen, self.id_col, "left_anti")
        coded = coded.localCheckpoint(eager=True)
        self.io.write_append(coded, self.codes_table)
        try:
            self.io.spark.catalog.refreshTable(self.codes_table)
        except Exception:
            pass

    # ------------------------------------------------------- streaming
    def writer(self, stream: DataFrame, checkpoint: str):
        return foreach_batch(
            stream, checkpoint, lambda batch, **_ids: self.append_batch(batch)
        )

    # --------------------------------------------------------- queries
    def topk(self, queries, k: int = 5) -> DataFrame:
        """Unchanged ``pq_topk`` over the stored compressed corpus
        (queries: [(query_id, vector)] — the one-vs-corpus shape)."""
        from ..operators.pq import pq_topk

        return pq_topk(
            self.io.read(self.codes_table),
            queries,
            self.codebooks,
            k=k,
            id_col=self.id_col,
            codes_col="pq_codes",
        )
