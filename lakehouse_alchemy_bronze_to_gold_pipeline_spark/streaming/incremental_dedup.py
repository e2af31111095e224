"""Incremental streaming near-duplicate filtering.

The batch MinHash operator answers "which pairs in THIS corpus are
near-dups"; a training-data pipeline needs the incremental question:
"is this NEW document a near-dup of ANYTHING seen so far".  Holding
the whole corpus in streaming state is impossible at 100 TB, so the
accumulated knowledge lives in two ordinary tables:

- ``{name}_sigs``:    (id, shingles)            — verify-side lookup
- ``{name}_buckets``: the LSH index — (id, band_idx, band_hash) for
  the xxhash family, (id, bucket) for the md5 oracle family

Per micro-batch (``foreachBatch``):

1. signature + bucket the batch docs (the batch-operator expressions);
2. replay guard: drop ids already in ``{name}_sigs`` (a checkpoint
   replay re-presents rows whose state was already committed);
3. within-batch dedup: verified pairs among new docs, smaller id wins;
4. cross-corpus dedup: new buckets equi-join the PERSISTED bucket
   table on the bucket key — the index prunes the corpus to
   colliding docs only — then exact-Jaccard verify against the stored
   shingles; any match drops the new doc (first-writer-wins);
5. append survivors to the output + both state tables.

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
from ..sources.tables import TableIO
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
    """First-writer-wins near-dup gate over an append-only doc stream.

    ``family`` picks the hash family: ``"xxhash"`` (default — the
    engine-internal fast path) or ``"md5"`` (the cross-engine
    Carter-Wegman family whose every value a DuckDB oracle reproduces;
    the registry's ``incremental_neardup_fixed`` certification runs
    the gate under this family)."""

    def __init__(
        self,
        io: TableIO,
        name: str,
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
        self.io = io
        self.name = name
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
    def sig_table(self) -> str:
        return f"{self.name}_sigs"

    @property
    def bucket_table(self) -> str:
        return f"{self.name}_buckets"

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
    def dedup_batch(self, batch: DataFrame) -> DataFrame:
        """Return the batch rows that survive the near-dup gate, and
        fold the survivors into the persisted state tables."""
        spark = batch.sparkSession
        idc = self.id_col

        cached = []  # batch-lifetime persists, released before return
        sigs = self.signatures(batch).persist()
        cached.append(sigs)
        has_state = spark.catalog.tableExists(self.sig_table)
        if has_state:
            # replay guard: a checkpoint replay re-presents committed ids
            seen = self.io.read(self.sig_table).select(idc)
            sigs = sigs.join(seen, idc, "left_anti").persist()
            cached.append(sigs)

        fresh = gate_batch_sigs(
            sigs,
            self.io.read(self.sig_table).select(idc, "shingles")
            if has_state
            else None,
            self.io.read(self.bucket_table) if has_state else None,
            id_col=idc,
            threshold=self.threshold,
            max_bucket=self.max_bucket,
            bucketer=self.buckets,
            keys=self.bucket_keys,
            cached=cached,
        )

        # ---- fold survivors into state.  MATERIALIZE first: the
        # survivor lineage READS the state tables (replay guard,
        # bucket probe, shingle lookup), so appending and then lazily
        # re-evaluating would see the batch's own rows and drop them
        # as self-duplicates.  localCheckpoint cuts the lineage at the
        # computed result (persist() alone only caches best-effort).
        fresh = fresh.localCheckpoint(eager=True)
        # survivors materialize BEFORE the state appends touch the
        # tables their lineage reads (and stay materialized — the
        # caller's append must not re-evaluate against mutated state)
        survivors = batch.join(fresh.select(idc), idc, "left_semi")
        survivors = survivors.localCheckpoint(eager=True)
        self.io.write_append(fresh.select(idc, "shingles"), self.sig_table)
        self.io.write_append(self.buckets(fresh), self.bucket_table)
        self._refresh(self.sig_table)
        self._refresh(self.bucket_table)
        # everything downstream reads the two localCheckpoints; the
        # intermediate caches would otherwise pin executor storage for
        # the stream's lifetime (one leak per micro-batch)
        for df in cached:
            df.unpersist()
        return survivors

    def _refresh(self, table: str) -> None:
        """Invalidate the OWNING session's cached file listing.

        ``foreachBatch`` hands the batch a CLONED session; appends
        through it do not invalidate the parent session's relation
        cache, so a caller that read these tables before the batch
        would keep seeing the stale listing.  Refresh through the
        session ``TableIO`` was built with (the one callers read on).
        """
        try:
            self.io.spark.catalog.refreshTable(table)
        except Exception:
            pass  # table may not exist yet on first batch

    # ------------------------------------------------------- streaming
    def sink(self, stream: DataFrame, out_table: str, checkpoint: str):
        """foreachBatch writer: gate each micro-batch, append the
        survivors.  A batch replayed after a clean failure (nothing
        appended) re-runs in full, and a replay of an id already in
        ``_sigs`` is dropped by the id anti-join.

        NOT exactly-once across a crash inside a batch: the three
        appends (``_sigs``, ``_buckets``, ``out_table``) are separate
        commits.  A crash after the ``_sigs`` append and before the
        output append loses that batch's survivors — on replay the
        anti-join drops every id of the batch — and a crash before
        the ``_buckets`` append loses their buckets, so later near
        duplicates of them pass the gate."""

        def run(batch: DataFrame, **_ids) -> None:
            survivors = self.dedup_batch(batch)
            self.io.write_append(survivors, out_table)
            self._refresh(out_table)

        return foreach_batch(stream, checkpoint, run)
