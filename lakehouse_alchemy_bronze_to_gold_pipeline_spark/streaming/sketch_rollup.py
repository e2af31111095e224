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
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.sketch import cms_cells
from ..sources.tables import TableIO

# Every merge_*_batch below folds the batch into the stored table
# through ``TableIO.rewrite`` with the batch's own frame on the left of
# the union, so the final write runs in the micro-batch session and
# ``rewrite`` refreshes the table there as well as in ``io``'s session.


def merge_cms_batch(
    batch: DataFrame,
    io: TableIO,
    table: str,
    item_col: str,
    depth: int = 4,
    width: int = 256,
) -> None:
    """Sum one batch's CMS grid into the stored cells table (cell-wise
    add over ``TableIO.rewrite``, the same self-overwrite-safe path as
    the SCD-1 parquet merge)."""
    spark = batch.sparkSession
    cells = cms_cells(batch, item_col, depth, width)
    if spark.catalog.tableExists(table):
        io.rewrite(
            table,
            lambda snap: cells.unionByName(snap)
            .groupBy("r", "cell")
            .agg(F.sum("cnt").alias("cnt")),
        )
    else:
        io.write_overwrite(cells, table)


def streaming_cms(
    stream: DataFrame,
    io: TableIO,
    table: str,
    item_col: str,
    checkpoint: str,
    depth: int = 4,
    width: int = 256,
):
    """Returns a ready writeStream (call ``.start()``) maintaining
    ``table`` as the CMS of every item ever streamed.  Checkpointing
    makes each source file count exactly once across runs."""

    def _merge(batch: DataFrame, _batch_id: int) -> None:
        if batch.isEmpty():
            return
        merge_cms_batch(batch, io, table, item_col, depth, width)

    return (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def merge_kmv_batch(
    batch: DataFrame,
    io: TableIO,
    table: str,
    group_col: str,
    item_col: str,
    k: int = 64,
) -> None:
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

    spark = batch.sparkSession
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

    if spark.catalog.tableExists(table):
        io.rewrite(
            table, lambda snap: k_min(fresh.unionByName(snap).distinct())
        )
    else:
        io.write_overwrite(k_min(fresh), table)


def kmv_estimates(summary: DataFrame, k: int = 64) -> DataFrame:
    """(grp, est_distinct) from a KMV summary table: exact count if
    a group holds < k hashes, else (k-1)/u_k."""
    agg = summary.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_min"), F.max("h").alias("h_k")
    )
    est = F.when(
        F.col("n_min") < k, F.col("n_min").cast("double")
    ).otherwise((k - 1) * 4503599627370496.0 / (F.col("h_k") + 1))
    return agg.select("grp", F.round(est, 4).alias("est_distinct"))


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
    u_est = F.when(
        F.col("n_min") < k, F.col("n_min").cast("double")
    ).otherwise((k - 1) * 4503599627370496.0 / (F.col("h_k") + 1))
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
    io: TableIO,
    table: str,
    group_col: str,
    item_col: str,
    checkpoint: str,
    k: int = 64,
):
    """writeStream maintaining a per-group KMV distinct sketch of
    every item ever streamed — state <= k rows per group forever."""

    def _merge(batch: DataFrame, _batch_id: int) -> None:
        if batch.isEmpty():
            return
        merge_kmv_batch(batch, io, table, group_col, item_col, k)

    return (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def streaming_expectations(
    stream: DataFrame,
    io: TableIO,
    rules,
    pass_table: str,
    quarantine_table: str,
    checkpoint: str,
):
    """Streaming DLT-expectations sink: each micro-batch splits
    against the rule set (``operators.quality.expectations_gate``,
    drop mode) — passing rows append to ``pass_table``, violating
    rows (tagged with their ``violated_rules``) append to
    ``quarantine_table``.  Appends + checkpoint give exactly-once
    per source file; the quarantine table IS the audit log, replayed
    rows and all.  (Lives here with the other foreachBatch sinks;
    the gate itself is batch-agnostic.)"""
    from ..operators.quality import expectations_gate

    def _gate(batch: DataFrame, _batch_id: int) -> None:
        if batch.isEmpty():
            return
        ok, bad = expectations_gate(batch, rules, "drop")
        io.write_append(ok, pass_table)
        io.write_append(
            bad.withColumn(
                "violated_rules", F.array_join("violated_rules", ",")
            ),
            quarantine_table,
        )
        # appends ran on the micro-batch session CLONE: refresh the
        # owning session so its cached file listings see the new files
        for t in (pass_table, quarantine_table):
            io.spark.catalog.refreshTable(t)

    return (
        stream.writeStream.foreachBatch(_gate)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def merge_hll_batch(
    batch: DataFrame,
    io: TableIO,
    table: str,
    group_col: str,
    item_col: str,
) -> None:
    """Merge one batch into a per-group HLL register table (m=16,
    <= 16 rows per group FOREVER): build the batch's registers
    (``operators.sketch.hll_registers`` — the same md5 string-rank
    pipeline the oracle-backed ``reach_hll_relational`` certifies),
    union with the stored registers, and re-MAX.  Registers merge
    under MAX exactly — the streamed table is BIT-IDENTICAL to the
    one-shot build over the union, not approximately equal — so
    only the estimate carries sketch error, never the maintenance."""
    from ..operators.sketch import hll_registers

    spark = batch.sparkSession
    fresh = hll_registers(batch, group_col, item_col)
    if spark.catalog.tableExists(table):
        io.rewrite(
            table,
            lambda snap: fresh.unionByName(snap)
            .groupBy("grp", "bucket")
            .agg(F.max("reg").alias("reg")),
        )
    else:
        io.write_overwrite(fresh, table)


def hll_reach(summary: DataFrame) -> DataFrame:
    """(grp, zero_registers, harmonic_den_scaled, hll_raw_estimate)
    from a stored register table — delegates to the shared exact-
    integer estimator (``operators.sketch.hll_estimate``)."""
    from ..operators.sketch import hll_estimate

    return hll_estimate(summary)


def streaming_hll(
    stream: DataFrame,
    io: TableIO,
    table: str,
    group_col: str,
    item_col: str,
    checkpoint: str,
):
    """writeStream maintaining ``table`` as the per-group m=16 HLL
    registers of every item ever streamed — the third mergeable-
    sketch rollup next to CMS (cell SUM) and KMV (k-min), with the
    tightest state of the three (16 rows per group) and an exact
    merge.  Checkpointing makes each source file count exactly once
    across runs; ``hll_reach`` reads the estimate at any time."""

    def _merge(batch: DataFrame, _batch_id: int) -> None:
        if batch.isEmpty():
            return
        merge_hll_batch(batch, io, table, group_col, item_col)

    return (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def merge_mg_batch(
    batch: DataFrame,
    io: TableIO,
    table: str,
    item_col: str,
    capacity: int = 256,
) -> None:
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

    spark = batch.sparkSession
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

    if spark.catalog.tableExists(table):
        io.rewrite(table, lambda snap: decrement(fresh.unionByName(snap)))
    else:
        io.write_overwrite(decrement(fresh), table)
    fresh.unpersist()


def mg_topk(summary: DataFrame, k: int = 20) -> DataFrame:
    """(value, est) top-``k`` readout from a stored MG counter table
    — lower-bound counts, deterministic tie-break."""
    return summary.orderBy(F.col("est").desc(), "value").limit(k)


def streaming_mg(
    stream: DataFrame,
    io: TableIO,
    table: str,
    item_col: str,
    checkpoint: str,
    capacity: int = 256,
):
    """writeStream maintaining ``table`` as the MG heavy-hitters
    counters of every item ever streamed — state <= capacity rows
    forever.  Checkpointing makes each source file count exactly once
    across runs; ``mg_topk`` reads the current heavy hitters any
    time."""

    def _merge(batch: DataFrame, _batch_id: int) -> None:
        if batch.isEmpty():
            return
        merge_mg_batch(batch, io, table, item_col, capacity)

    return (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def merge_qdigest_batch(
    batch: DataFrame,
    io: TableIO,
    table: str,
    bucket_col: str,
    bits: int = 14,
    sigma_frac: int = 1024,
    keys=(),
) -> None:
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
    spark = batch.sparkSession
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

    if spark.catalog.tableExists(table):
        io.rewrite(
            table,
            lambda snap: compress(
                fresh.unionByName(snap.select(*keys, "id", "cnt"))
                .groupBy(*keys, "id")
                .agg(F.sum("cnt").alias("cnt"))
            ),
        )
    else:
        io.write_overwrite(compress(fresh), table)
    fresh.unpersist()


def streaming_qdigest(
    stream: DataFrame,
    io: TableIO,
    table: str,
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

    def _merge(batch: DataFrame, _batch_id: int) -> None:
        if batch.isEmpty():
            return
        merge_qdigest_batch(
            batch, io, table, bucket_col, bits, sigma_frac, keys
        )

    return (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )
