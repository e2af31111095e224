"""Continuously maintained count-min sketch (streaming sketch
rollup).

CMS cells are ADDITIVE: the sketch of a union is the cell-wise sum
of the sketches — the property that makes a frequency sketch
maintainable incrementally where the exact per-item groupBy would
have to re-aggregate history every run.  Each micro-batch computes
its own depth x width grid (``operators.sketch.cms_cells``) and sums
it into the stored cells table; the table never exceeds depth*width
rows no matter how much history has streamed through.

This is the streaming twin of ``cms_bigram_accuracy``'s batch build:
the pytest proves two incremental runs produce EXACTLY the cells a
single batch build over the union produces (not approximately —
cell arithmetic is exact integers; only the estimate's collision
error is probabilistic).

At 100 TB/day the pattern holds: per-batch state is the fixed grid,
merge cost is O(depth*width), and the stored sketch answers point
frequency queries over ALL history at any time.

Every sketch table is a ``DeltaLogTable``, and every ``merge_*_batch``
below is one fold through ``DeltaLogTable.write_batch_exactly_once``:
the table's snapshot merged with the batch, committed as an overwrite
together with the writer's ``txn`` (``app_id``, ``batch_id``).  So a
batch replayed after a crash is skipped instead of adding its mass
twice.  A one-off batch merge names itself the same way.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.sketch import cms_cells
from ..sources.deltalog import DeltaLogTable
from .sink import foreach_batch


def _plus(fresh: DataFrame, snap: DataFrame | None) -> DataFrame:
    """The batch's summary, with the stored one unioned in when the
    table has a snapshot (``None`` before its first commit)."""
    return fresh if snap is None else fresh.unionByName(snap)


def merge_cms_batch(
    batch: DataFrame,
    table: DeltaLogTable,
    item_col: str,
    depth: int = 4,
    width: int = 256,
    *,
    app_id: str,
    batch_id: int,
) -> int | None:
    """Sum one batch's CMS grid into the stored cells table (cell-wise
    add of the batch's grid and the snapshot's)."""
    cells = cms_cells(batch, item_col, depth, width)
    return table.write_batch_exactly_once(
        lambda snap: _plus(cells, snap)
        .groupBy("r", "cell")
        .agg(F.sum("cnt").alias("cnt")),
        app_id,
        batch_id,
    )


def streaming_cms(
    stream: DataFrame,
    table: DeltaLogTable,
    item_col: str,
    checkpoint: str,
    depth: int = 4,
    width: int = 256,
):
    """Returns a ready writeStream (call ``.start()``) maintaining
    ``table`` as the CMS of every item ever streamed, each source file
    counted exactly once across runs and restarts."""
    return foreach_batch(stream, checkpoint, partial(
        merge_cms_batch, table=table, item_col=item_col, depth=depth,
        width=width,
    ))


def merge_kmv_batch(
    batch: DataFrame,
    table: DeltaLogTable,
    group_col: str,
    item_col: str,
    k: int = 64,
    *,
    app_id: str,
    batch_id: int,
) -> int | None:
    """Merge one batch into a per-group KMV summary table (<= k
    distinct minimum hashes per group): hash the batch's items,
    union with the stored summary, keep the k smallest distinct per
    group.  KMV merge = k-min of the union — the same additive story
    as the CMS above, for distinct counts.

    NULL group keys are first-class groups; NULL ITEMS are ignored
    (uniform sketch-family contract): a NULL hash would sort FIRST
    under the ascending-nulls-first window and steal the smallest
    k-min slot, poisoning ``h_k`` and every estimate for its group."""
    from pyspark.sql import Window

    h = F.expr(
        f"CAST(conv(substring(md5(concat('kmv:', "
        f"CAST({item_col} AS STRING))), 1, 13), 16, 10) AS BIGINT)"
    )
    fresh = (
        batch.filter(F.col(item_col).isNotNull())
        .select(F.col(group_col).alias("grp"), h.alias("h"))
        .distinct()
    )
    w = Window.partitionBy("grp").orderBy("h")

    def k_min(hashes: DataFrame) -> DataFrame:
        return (
            hashes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .select("grp", "h")
        )

    return table.write_batch_exactly_once(
        lambda snap: k_min(_plus(fresh, snap).distinct()), app_id, batch_id
    )


def _kmv_estimate(k: int) -> Column:
    """Distinct count of a KMV sketch from its ``n_min`` kept hashes
    and the largest of them, ``h_k``: exact if it holds < k hashes,
    else (k-1)/u_k with u_k = (h_k+1)/2^52 (52-bit hashes)."""
    return F.when(
        F.col("n_min") < k, F.col("n_min").cast("double")
    ).otherwise((k - 1) * 4503599627370496.0 / (F.col("h_k") + 1))


def kmv_estimates(summary: DataFrame, k: int = 64) -> DataFrame:
    """(grp, est_distinct) from a KMV summary table
    (:func:`_kmv_estimate`)."""
    agg = summary.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_min"), F.max("h").alias("h_k")
    )
    return agg.select(
        "grp", F.round(_kmv_estimate(k), 4).alias("est_distinct")
    )


def kmv_overlap(summary: DataFrame, k: int = 64) -> DataFrame:
    """Set algebra over a stored per-group KMV summary: for every
    unordered group pair, estimate |A ∪ B|, |A ∩ B| and Jaccard from
    the sketches ALONE — no raw data is ever re-touched (the
    theta-sketch capability; math as in
    ``queries.advanced.q_audience_overlap_kmv``, which carries the
    oracle-certified accuracy readout of the same estimator).

    Union sketch = bottom-k of the two groups' merged samples;
    K_union = (k-1)/u_k; rho = fraction of union-sketch samples
    present in BOTH sketches estimates Jaccard; intersection =
    rho·K_union.  Cost: every relation here is <= |groups|·k rows —
    the readout is free at any corpus size, which is the point of
    maintaining the sketch table.

    NULL group keys: a NULL-keyed cohort (which ``merge_kmv_batch``
    stores and ``kmv_estimates`` reports, per the grouped-sketch
    null-key contract) is EXCLUDED from the pair matrix explicitly —
    the pair spine orders groups with ``<``, which has no total
    order over NULL; filtering up front makes the exclusion a
    documented contract instead of a silent join-condition drop
    (the r7 advice lesson from the grouped q-digest)."""
    from pyspark.sql import Window

    sk = (
        summary.filter(F.col("grp").isNotNull())
        .select("grp", "h")
        .persist()
    )
    groups = sk.select("grp").distinct()
    pairs = (
        groups.select(F.col("grp").alias("grp_a"))
        .crossJoin(groups.select(F.col("grp").alias("grp_b")))
        .filter(F.col("grp_a") < F.col("grp_b"))
    )
    pa = pairs.join(
        sk.withColumnRenamed("grp", "grp_a"), "grp_a"
    ).select(
        "grp_a", "grp_b", "h",
        F.lit(1).alias("in_a"), F.lit(0).alias("in_b"),
    )
    pb = pairs.join(
        sk.withColumnRenamed("grp", "grp_b"), "grp_b"
    ).select(
        "grp_a", "grp_b", "h",
        F.lit(0).alias("in_a"), F.lit(1).alias("in_b"),
    )
    pool = (
        pa.unionByName(pb)
        .groupBy("grp_a", "grp_b", "h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    w = Window.partitionBy("grp_a", "grp_b").orderBy("h")
    kk = (
        pool.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .groupBy("grp_a", "grp_b")
        .agg(
            F.count(F.lit(1)).alias("n_min"),
            F.max("h").alias("h_k"),
            F.sum(F.col("in_a") * F.col("in_b")).alias("n_both"),
        )
    )
    u_est = _kmv_estimate(k)
    j_est = F.col("n_both").cast("double") / F.col("n_min").cast("double")
    return kk.select(
        "grp_a",
        "grp_b",
        F.round(u_est, 4).alias("union_est"),
        F.round(j_est * u_est, 4).alias("inter_est"),
        F.round(j_est, 4).alias("jaccard_est"),
    )


def streaming_kmv(
    stream: DataFrame,
    table: DeltaLogTable,
    group_col: str,
    item_col: str,
    checkpoint: str,
    k: int = 64,
):
    """writeStream maintaining a per-group KMV distinct sketch of
    every item ever streamed — state <= k rows per group forever."""
    return foreach_batch(stream, checkpoint, partial(
        merge_kmv_batch, table=table, group_col=group_col,
        item_col=item_col, k=k,
    ))


def streaming_expectations(
    stream: DataFrame,
    rules,
    pass_table: DeltaLogTable,
    quarantine_table: DeltaLogTable,
    checkpoint: str,
):
    """Streaming DLT-expectations sink: each micro-batch splits
    against the rule set (``operators.quality.expectations_gate``,
    drop mode) — passing rows append to ``pass_table``, violating
    rows (tagged with their ``violated_rules``) append to
    ``quarantine_table``.  Each append carries the stream's ``txn``
    in its own table's log, so a replayed batch adds to neither (and
    a crash between the two appends completes only the missing one).
    (Lives here with the other foreachBatch sinks; the gate itself
    is batch-agnostic.)"""
    from ..operators.quality import expectations_gate

    def _gate(batch: DataFrame, app_id: str, batch_id: int) -> None:
        ok, bad = expectations_gate(batch, rules, "drop")
        pass_table.write_batch_exactly_once(ok, app_id, batch_id)
        quarantine_table.write_batch_exactly_once(
            bad.withColumn(
                "violated_rules", F.array_join("violated_rules", ",")
            ),
            app_id,
            batch_id,
        )

    return foreach_batch(stream, checkpoint, _gate)


def merge_hll_batch(
    batch: DataFrame,
    table: DeltaLogTable,
    group_col: str,
    item_col: str,
    *,
    app_id: str,
    batch_id: int,
) -> int | None:
    """Merge one batch into a per-group HLL register table (m=16,
    <= 16 rows per group FOREVER): build the batch's registers
    (``operators.sketch.hll_registers`` — the same md5 string-rank
    pipeline the oracle-backed ``reach_hll_relational`` certifies),
    union with the stored registers, and re-MAX.  Registers merge
    under MAX exactly — the streamed table is BIT-IDENTICAL to the
    one-shot build over the union, not approximately equal — so
    only the estimate carries sketch error, never the maintenance."""
    from ..operators.sketch import hll_registers

    fresh = hll_registers(batch, group_col, item_col)
    return table.write_batch_exactly_once(
        lambda snap: _plus(fresh, snap)
        .groupBy("grp", "bucket")
        .agg(F.max("reg").alias("reg")),
        app_id,
        batch_id,
    )


def streaming_hll(
    stream: DataFrame,
    table: DeltaLogTable,
    group_col: str,
    item_col: str,
    checkpoint: str,
):
    """writeStream maintaining ``table`` as the per-group m=16 HLL
    registers of every item ever streamed — the third mergeable-
    sketch rollup next to CMS (cell SUM) and KMV (k-min), with the
    tightest state of the three (16 rows per group) and an exact
    merge.  Each source file counts exactly once across runs and
    restarts; ``operators.sketch.hll_estimate`` reads the
    estimate at any time."""
    return foreach_batch(stream, checkpoint, partial(
        merge_hll_batch, table=table, group_col=group_col,
        item_col=item_col,
    ))


def merge_mg_batch(
    batch: DataFrame,
    table: DeltaLogTable,
    item_col: str,
    capacity: int = 256,
    *,
    app_id: str,
    batch_id: int,
) -> int | None:
    """Merge one batch into a stored Misra-Gries heavy-hitters table
    (<= ``capacity`` counter rows FOREVER) — the fifth mergeable
    rollup, completing the streaming sketch family next to CMS (cell
    SUM), KMV (k-min), HLL (register MAX) and q-digest (tree
    re-compress).

    The batch collapses to bounded per-partition MG summaries
    (``operators.sketch.mg_summaries`` — one narrow mapInPandas, <=
    |partitions| x capacity rows), which union with the stored
    counters, sum per value, and re-compress by the classic MG
    decrement: subtract the (capacity+1)-th largest summed count from
    every counter and keep the positive ones.  MG summaries are
    mergeable with the SUMMED error budget (Agarwal et al.,
    "Mergeable Summaries", public literature): after any merge
    sequence, ``est <= true <= est + n_total/(capacity+1)`` and any
    value with true count above that debt survives in the table.

    The decrement threshold is the only driver scalar — collected
    from a relation already bounded at capacity+1 rows.  NULL items
    are ignored at ingest (uniform sketch-family contract)."""
    from ..operators.sketch import mg_summaries

    # the summaries feed both the threshold collect and the write
    fresh = mg_summaries(batch, item_col, capacity).persist()

    def decrement(counters: DataFrame) -> DataFrame:
        merged = counters.groupBy("value").agg(F.sum("est").alias("est"))
        head = (
            merged.orderBy(F.col("est").desc(), "value")
            .limit(capacity + 1)
            .collect()
        )
        d = int(head[capacity]["est"]) if len(head) > capacity else 0
        return merged.select(
            "value", (F.col("est") - F.lit(d)).alias("est")
        ).filter(F.col("est") > 0)

    try:
        return table.write_batch_exactly_once(
            lambda snap: decrement(_plus(fresh, snap)), app_id, batch_id
        )
    finally:
        fresh.unpersist()


def mg_topk(summary: DataFrame, k: int = 20) -> DataFrame:
    """(value, est) top-``k`` readout from a stored MG counter table
    — lower-bound counts, deterministic tie-break."""
    return summary.orderBy(F.col("est").desc(), "value").limit(k)


def streaming_mg(
    stream: DataFrame,
    table: DeltaLogTable,
    item_col: str,
    checkpoint: str,
    capacity: int = 256,
):
    """writeStream maintaining ``table`` as the MG heavy-hitters
    counters of every item ever streamed — state <= capacity rows
    forever.  Each source file counts exactly once across runs and
    restarts; ``mg_topk`` reads the current heavy hitters any time."""
    return foreach_batch(stream, checkpoint, partial(
        merge_mg_batch, table=table, item_col=item_col, capacity=capacity,
    ))


def merge_qdigest_batch(
    batch: DataFrame,
    table: DeltaLogTable,
    bucket_col: str,
    bits: int = 14,
    sigma_frac: int = 1024,
    keys=(),
    *,
    app_id: str,
    batch_id: int,
) -> int | None:
    """Merge one batch into a stored q-digest (quantile sketch) —
    the fourth mergeable rollup next to CMS (cell SUM), KMV (k-min)
    and HLL (register MAX).  Digest nodes are weighted tree nodes;
    merge = union the batch's leaf histogram with the stored nodes
    and re-run ``qdigest_compress`` with sigma recomputed from the
    MERGED total (n DIV sigma_frac), so state stays <= sigma_frac +
    bits rows forever while the freeze threshold tracks the mass
    streamed so far.

    ``keys`` maintains one INDEPENDENT digest per key group — the
    grouped form that matches the per-group KMV/HLL rollups: sigma is
    recomputed from each group's OWN merged mass (a key-partitioned
    groupBy, joined back without a broadcast hint so the plan holds
    at |groups| scale — AQE broadcasts when the totals are small),
    the compression rounds hash-partition by (keys, id), and state is
    |groups| x (sigma_frac + bits) rows.

    Unlike the other three, maintenance is NOT bit-identical to a
    one-shot build (compression order moves counts up the tree
    differently); what IS exact is mass conservation (per group), and
    rank-query uncertainty adds across merge passes (<= 2*sigma_pass*
    bits per pass — the q-digest merge property, public literature),
    which the pytest measures against exact quantiles of the full
    union, per group.
    """
    from ..operators.sketch import qdigest_compress

    keys = tuple(keys)
    u = 1 << bits
    # NULL measurement VALUES are ignored (uniform sketch-family
    # contract; NULL group KEYS remain first-class): a NULL bucket
    # would otherwise map to a NULL leaf id that the compression
    # rounds carry forever and the interval decoder cannot rank.
    batch = batch.filter(F.col(bucket_col).isNotNull())
    fresh = (
        batch.select(
            *keys,
            (
                F.lit(u)
                + F.least(
                    F.greatest(F.col(bucket_col), F.lit(0)),
                    F.lit(u - 1),
                )
            )
            .cast("bigint")
            .alias("id"),
        )
        .groupBy(*keys, "id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    # the data-scale batch groupBy feeds BOTH the per-group sigma
    # totals and the join below — persist so it runs once, not twice.
    fresh = fresh.persist()
    sigma = F.greatest(
        F.lit(1).cast("bigint"),
        F.expr(f"sum(cnt) DIV {sigma_frac}"),
    ).alias("sigma")

    def compress(nodes: DataFrame) -> DataFrame:
        if not keys:
            leaves = nodes.crossJoin(F.broadcast(nodes.agg(sigma)))
            return qdigest_compress(leaves, bits, keys=keys)
        # NULL is a legal group key (groupBy keeps it as its own
        # group), so the totals join must be null-safe or NULL-keyed
        # rows silently vanish from the stored digest — breaking the
        # per-group mass-conservation contract.
        tots = nodes.groupBy(*keys).agg(sigma)
        for k in keys:
            tots = tots.withColumnRenamed(k, f"__{k}")
        cond = F.lit(True)
        for k in keys:
            cond = cond & F.col(k).eqNullSafe(F.col(f"__{k}"))
        leaves = nodes.join(tots, cond).drop(*[f"__{k}" for k in keys])
        return qdigest_compress(leaves, bits, keys=keys)

    def fold(snap: DataFrame | None) -> DataFrame:
        if snap is None:
            return compress(fresh)
        return compress(
            fresh.unionByName(snap.select(*keys, "id", "cnt"))
            .groupBy(*keys, "id")
            .agg(F.sum("cnt").alias("cnt"))
        )

    try:
        return table.write_batch_exactly_once(fold, app_id, batch_id)
    finally:
        fresh.unpersist()


def streaming_qdigest(
    stream: DataFrame,
    table: DeltaLogTable,
    bucket_col: str,
    checkpoint: str,
    bits: int = 14,
    sigma_frac: int = 1024,
    keys=(),
):
    """writeStream maintaining ``table`` as a q-digest of every value
    ever streamed — bounded state, any-time quantile reads via
    ``operators.sketch.qdigest_quantiles``.  ``keys`` maintains one
    independent digest per key group (pass the same ``keys`` to the
    quantile readout)."""
    return foreach_batch(stream, checkpoint, partial(
        merge_qdigest_batch, table=table, bucket_col=bucket_col,
        bits=bits, sigma_frac=sigma_frac, keys=keys,
    ))
