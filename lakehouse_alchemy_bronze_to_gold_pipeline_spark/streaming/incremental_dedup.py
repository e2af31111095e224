"""Incremental streaming near-duplicate filtering.

The batch MinHash operator answers "which pairs in THIS corpus are
near-dups"; a training-data pipeline needs the incremental question:
"is this NEW document a near-dup of ANYTHING seen so far".  Holding
the whole corpus in streaming state is impossible at 100 TB, so the
accumulated knowledge lives in two ``DeltaLogTable``s:

- the sigs table:    (id, shingles)            — verify-side lookup
- the buckets table: the LSH index — (id, band_idx, band_hash) for
  the xxhash family, (id, bucket) for the md5 oracle family

Per micro-batch (``foreachBatch``):

1. signature + bucket the batch docs (the batch-operator expressions);
2. read both state tables as they stood before this batch
   (``DeltaLogTable.read_before``) and drop ids already in the sigs
   table (an id re-delivered in a later batch was decided already);
3. within-batch dedup: verified pairs among new docs, smaller id wins;
4. cross-corpus dedup: new buckets equi-join the PERSISTED bucket
   table on the bucket key — the index prunes the corpus to
   colliding docs only — then exact-Jaccard verify against the stored
   shingles; any match drops the new doc (first-writer-wins);
5. commit the survivors to the sigs table, the buckets table and the
   output, each under the stream's ``txn``.

Exactly once across a crash inside a batch: the replay reads the same
pre-batch state, so it recomputes the same survivors, and each of the
three tables skips the commit that already landed.

Steps 3-4 are the PURE batch-gate core :func:`gate_batch_sigs` —
state in, survivors out, no table IO — which is also what the
oracle-certified registry entry ``incremental_neardup_fixed``
(queries/llm_ops.py) chains twice at rest under the md5 hash family:
its DuckDB twin replays both passes value-for-value, so hash equality
certifies exactly the dedup decisions the streaming wrapper commits.

Scale notes: step 4's join touches only buckets the batch collides
with (at cluster scale the bucket table is partitioned/bucketed by
the bucket key, so the probe prunes to matching files); per-bucket
width caps bound the candidate blowup exactly like the batch
operator; state grows O(corpus x n_bands) rows of 3 integers, not
O(corpus^2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import jaccard
from ..operators.minhash import (
    band_buckets,
    md5_band_buckets,
    md5_minhash_signatures,
    minhash_signatures,
    pairs_from_buckets,
)
from ..sources.deltalog import DeltaLogTable
from .sink import foreach_batch

#: Broadcast ceiling for a gate's dropped-id relation, in rows (one
#: BIGINT per row).  r13 (r12-VERDICT item 7): the survivor anti-joins
#: were the gate's heaviest exchanges — a SortMergeJoin LeftAnti
#: shuffles AND sorts the full (id, shingles, sig) batch relation
#: (raw shingle arrays included) against a dup-id list that is tiny
#: by construction (bounded by the width-capped candidate pairs).
#: Catalyst cannot see that bound (the dup subtree's post-aggregate
#: size estimate is garbage), so the hint is applied manually behind
#: the ALS-style count gate; past the ceiling the round degrades to
#: the shuffle join instead of OOMing.  The count runs on a persisted
#: relation the anti-join then reads back from cache.
BROADCAST_DUP_IDS_ROWS_MAX = 10_000_000


def gate_batch_sigs(
    sigs: DataFrame,
    state_sigs: DataFrame | None,
    state_buckets: DataFrame | None,
    *,
    id_col: str,
    threshold: float,
    max_bucket: int,
    bucketer,
    keys: list[str],
    cached: list | None = None,
) -> DataFrame:
    """The PURE incremental near-dup gate for one batch: signatures
    in, surviving signatures out — no table IO, so the streaming
    wrapper and the oracle-certified registry twin share it verbatim.

    ``sigs`` is the batch's (id, shingles, sig) relation (already
    replay-filtered by the caller); ``state_sigs`` (id, shingles) and
    ``state_buckets`` (id, *keys) carry everything previously
    accepted, or None on the first batch.  ``bucketer`` maps a sigs
    relation to its banded (id, *keys) form — ``band_buckets`` for
    the xxhash family, ``md5_band_buckets`` for the md5 oracle
    family.  Appends intermediate persists to ``cached`` (the
    caller's unpersist ledger) when given.

    Decision rule (first-writer-wins):
    - within batch: for every bucket-colliding pair (id_a < id_b)
      with exact Jaccard >= threshold, the LARGER id drops;
    - vs corpus: a surviving batch doc that bucket-collides with any
      STORED doc (old buckets width-capped at ``max_bucket``) and
      verifies >= threshold drops; stored docs never drop.
    """

    def _persist(df: DataFrame) -> DataFrame:
        df = df.persist()
        if cached is not None:
            cached.append(df)
        return df

    def _gated_broadcast_ids(ids: DataFrame) -> DataFrame:
        # materialize + count + gate (see BROADCAST_DUP_IDS_ROWS_MAX):
        # the eager localCheckpoint cuts the dup pipeline's lineage at
        # its (tiny) id-list result — the anti-join and the count read
        # the materialized blocks instead of re-running the verify
        # stage, and unlike persist() the checkpoint does not re-embed
        # the whole verify subtree at every downstream reference (the
        # persist form tripled the registry entry's plan text).  The
        # gated broadcast then keeps the heavy sigs side of the
        # anti-join un-shuffled.  Same eager-bounded-job-at-build-time
        # posture as the ALS/kmeans builders.
        ids = ids.localCheckpoint(eager=True)
        if ids.count() < BROADCAST_DUP_IDS_ROWS_MAX:
            return F.broadcast(ids)
        return ids

    # ---- within-batch: verified pairs, smaller id wins
    pairs = pairs_from_buckets(bucketer(sigs), id_col, keys, max_bucket)
    shl = sigs.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    shr = sigs.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    dup_in_batch = _gated_broadcast_ids(
        pairs.join(shl, "id_a")
        .join(shr, "id_b")
        .filter(jaccard(F.col("sh_a"), F.col("sh_b")) >= threshold)
        .select(F.col("id_b").alias(id_col))  # id_a < id_b: larger drops
        .distinct()
    )
    fresh = _persist(sigs.join(dup_in_batch, id_col, "left_anti"))

    # ---- cross-corpus: new buckets probe the persisted index.  ONE
    # groupBy shuffle of the tagged (new ∪ stored) bucket rows builds
    # per-bucket (news, olds) lists; pairs are emitted inside each
    # bucket with the stored side's width capped at ``max_bucket`` —
    # the same skew guard as pairs_from_buckets, and one exchange
    # where a probe-join + window-cap + candidate-join would pay
    # three.  At cluster scale the stored bucket table arrives
    # partitioned by the bucket key, so only colliding buckets
    # produce non-empty news lists.
    if state_sigs is not None and state_buckets is not None:
        id_type = dict(fresh.dtypes)[id_col]
        new_b = bucketer(fresh).select(
            *keys, F.col(id_col).alias("__nid"),
            F.lit(None).cast(id_type).alias("__oid"),
        )
        old_b = state_buckets.select(
            *keys, F.lit(None).cast(id_type).alias("__nid"),
            F.col(id_col).alias("__oid"),
        )
        grouped = (
            new_b.unionByName(old_b)
            .groupBy(*keys)
            .agg(
                F.collect_list("__nid").alias("news"),
                F.collect_list("__oid").alias("olds"),
            )
            .filter(
                (F.size("news") >= 1)
                & (F.size("olds") >= 1)
                & (F.size("olds") <= max_bucket)
            )
        )
        cand = (
            grouped.select(
                F.explode("news").alias(id_col), "olds"
            )
            .select(F.col(id_col), F.explode("olds").alias("__old_id"))
            .distinct()
        )
        old_sh = state_sigs.select(
            F.col(id_col).alias("__old_id"), F.col("shingles").alias("sh_old")
        )
        dup_vs_corpus = _gated_broadcast_ids(
            cand.join(fresh.select(id_col, "shingles"), id_col)
            .join(old_sh, "__old_id")
            .filter(
                jaccard(F.col("shingles"), F.col("sh_old")) >= threshold
            )
            .select(id_col)
            .distinct()
        )
        fresh = _persist(fresh.join(dup_vs_corpus, id_col, "left_anti"))
    return fresh


class IncrementalNearDupFilter:
    """First-writer-wins near-dup gate over an append-only doc stream,
    its state in ``sig_table`` and ``bucket_table``.

    ``family`` picks the hash family: ``"xxhash"`` (default — the
    engine-internal fast path) or ``"md5"`` (the cross-engine
    Carter-Wegman family whose every value a DuckDB oracle reproduces;
    the registry's ``incremental_neardup_fixed`` certification runs
    the gate under this family)."""

    def __init__(
        self,
        sig_table: DeltaLogTable,
        bucket_table: DeltaLogTable,
        id_col: str = "doc_id",
        text_col: str = "text",
        threshold: float = 0.5,
        n_hashes: int = 64,
        shingle_n: int = 2,
        n_bands: int = 16,
        max_bucket: int = 200,
        family: str = "xxhash",
    ):
        if family not in ("xxhash", "md5"):
            raise ValueError(f"unknown hash family {family!r}")
        self.sig_table = sig_table
        self.bucket_table = bucket_table
        self.id_col = id_col
        self.text_col = text_col
        self.threshold = threshold
        self.n_hashes = n_hashes
        self.shingle_n = shingle_n
        self.n_bands = n_bands
        self.band_rows = n_hashes // n_bands
        self.max_bucket = max_bucket
        self.family = family

    @property
    def bucket_keys(self) -> list[str]:
        return ["bucket"] if self.family == "md5" else [
            "band_idx", "band_hash"
        ]

    def signatures(self, df: DataFrame) -> DataFrame:
        if self.family == "md5":
            return md5_minhash_signatures(
                df, self.id_col, self.text_col, self.n_hashes,
                self.shingle_n,
            )
        return minhash_signatures(
            df, self.id_col, self.text_col, self.n_hashes, self.shingle_n
        )

    def buckets(self, sigs: DataFrame) -> DataFrame:
        if self.family == "md5":
            return md5_band_buckets(
                sigs, self.id_col, self.n_bands, self.band_rows
            )
        return band_buckets(sigs, self.id_col, self.n_bands, self.band_rows)

    # ------------------------------------------------------ batch core
    def dedup_batch(
        self, batch: DataFrame, *, app_id: str, batch_id: int
    ) -> DataFrame:
        """Return the batch rows that survive the near-dup gate, and
        commit the survivors to both state tables as batch
        ``batch_id`` of writer ``app_id`` (a table that already holds
        that commit skips it)."""
        idc = self.id_col
        state_sigs = self.sig_table.read_before(app_id, batch_id)
        state_buckets = self.bucket_table.read_before(app_id, batch_id)

        cached = []  # batch-lifetime persists, released before return
        sigs = self.signatures(batch).persist()
        cached.append(sigs)
        if state_sigs is not None:
            # an id re-delivered in a later batch was decided already
            seen = state_sigs.select(idc)
            sigs = sigs.join(seen, idc, "left_anti").persist()
            cached.append(sigs)

        fresh = gate_batch_sigs(
            sigs,
            None if state_sigs is None else state_sigs.select(idc, "shingles"),
            state_buckets,
            id_col=idc,
            threshold=self.threshold,
            max_bucket=self.max_bucket,
            bucketer=self.buckets,
            keys=self.bucket_keys,
            cached=cached,
        )
        # computed once: the two state commits and the caller's output
        # commit all read the survivors, and the gate is the batch's
        # heaviest plan
        fresh = fresh.localCheckpoint(eager=True)
        for df in cached:
            df.unpersist()
        self.sig_table.write_batch_exactly_once(
            fresh.select(idc, "shingles"), app_id, batch_id
        )
        self.bucket_table.write_batch_exactly_once(
            self.buckets(fresh), app_id, batch_id
        )
        return batch.join(fresh.select(idc), idc, "left_semi")

    # ------------------------------------------------------- streaming
    def sink(self, stream: DataFrame, out: DeltaLogTable, checkpoint: str):
        """foreachBatch writer: gate each micro-batch and append the
        survivors to ``out``, exactly once across a crash anywhere in
        the batch (see the module docstring)."""

        def run(batch: DataFrame, *, app_id: str, batch_id: int) -> None:
            out.write_batch_exactly_once(
                self.dedup_batch(batch, app_id=app_id, batch_id=batch_id),
                app_id,
                batch_id,
            )

        return foreach_batch(stream, checkpoint, run)
