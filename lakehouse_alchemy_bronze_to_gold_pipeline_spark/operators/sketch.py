"""Bounded-memory heavy hitters (Misra-Gries / SpaceSaving family) —
the sketch answer to "top terms over 100 TB" when even the per-group
term dimension no longer fits an executor (exact
``vocab_top_terms``-style groupBy still shuffles EVERY distinct term).

Two-level mergeable shape, the only one that scales:

1. per-partition summaries of <= ``capacity`` counters via an
   Arrow-batched ``mapInPandas`` (the one place Python is justified:
   Spark has no bounded-counter aggregate, and the batch-compress
   loop is dict arithmetic over value_counts, not per-row work);
2. ONE groupBy over the tiny summary relation (|partitions| x
   capacity rows) sums lower-bound counters; top-k by summed bound.

Guarantee (Misra-Gries, public literature): a partition summary's
counter underestimates that partition's true count by at most
(batch rows)/(capacity+1) total compression debt; summed over
partitions, any value with true global count > n/(capacity+1) SURVIVES
in the merged summary and ``est <= true <= est + n/(capacity+1)``.
``capacity`` trades memory for that error band — it is the ONLY
memory knob, independent of the number of distinct terms.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.tables import local_table


def _mg_compress(counters: dict, cap: int) -> None:
    """Keep <= cap counters by subtracting the (cap+1)-th largest
    count from all (classic batch Misra-Gries decrement)."""
    if len(counters) <= cap:
        return
    counts = sorted(counters.values(), reverse=True)
    d = counts[cap]
    for k in list(counters):
        c = counters[k] - d
        if c > 0:
            counters[k] = c
        else:
            del counters[k]


def mg_summaries(
    df: DataFrame, col: str, capacity: int = 256
) -> DataFrame:
    """(value, est) per-partition Misra-Gries summaries, <=
    ``capacity`` counters per partition (NULL values ignored —
    pandas ``value_counts`` drops them; the uniform sketch-family
    contract).  The bounded mergeable unit shared by the one-shot
    ``heavy_hitters`` readout and the streaming rollup
    (``streaming/sketch_rollup.merge_mg_batch``)."""

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict = {}
        for pdf in batches:
            for v, c in pdf[col].value_counts().items():
                counters[v] = counters.get(v, 0) + int(c)
            _mg_compress(counters, capacity)
        if counters:
            yield pd.DataFrame(
                {"value": list(counters), "est": list(counters.values())}
            )

    return df.select(col).mapInPandas(
        summarize, schema="value string, est long"
    )


def heavy_hitters(
    df: DataFrame, col: str, k: int = 20, capacity: int = 256
) -> DataFrame:
    """(value, est) — top-``k`` values by merged Misra-Gries lower
    bound.  ``est`` never exceeds the true count; a value whose true
    count exceeds rows/(capacity+1) cannot be missed."""
    return (
        mg_summaries(df, col, capacity)
        .groupBy("value")
        .agg(F.sum("est").alias("est"))
        .orderBy(F.col("est").desc(), "value")
        .limit(k)
    )


# --------------------------------------------------------------- CMS


def cms_cells(
    df: DataFrame, item_col: str, depth: int = 4, width: int = 256
) -> DataFrame:
    """Count-min sketch build: (row, cell, cnt) — ``depth * width``
    cells TOTAL, independent of item cardinality.

    The complement to Misra-Gries above: MG answers "which values are
    heavy", CMS answers "how often does value X occur" for ANY probe
    with a one-sided error (never underestimates; overestimate
    bounded by e*n/width at e^-depth probability — Cormode &
    Muthukrishnan, public literature).  The build is one explode to
    ``depth`` hashed rows + ONE groupBy over the fixed cell grid —
    map-side combine collapses each partition to <= depth*width
    partial rows, so the exchange is bounded no matter the corpus.

    Hash rows use the repo's md5 idiom (``md5(r ':' item)`` top 52
    bits mod width) so a DuckDB oracle replays build + probe
    value-for-value — unlike xxhash64 or a library sketch.

    NULL items are IGNORED (aggregate-function semantics, uniform
    across the sketch family): a NULL hashes to a NULL cell, which
    would bank mass no probe can ever reach.
    """
    r = F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("r")
    rows = (
        df.select(F.col(item_col).alias("__item"))
        .filter(F.col("__item").isNotNull())
        .select("__item", r)
    )
    cell = F.expr(
        "CAST(conv(substring(md5(concat(CAST(r AS STRING), ':', "
        "CAST(__item AS STRING))), 1, 13), 16, 10) AS BIGINT)"
        f" % {width}"
    )
    return (
        rows.select("r", cell.alias("cell"))
        .groupBy("r", "cell")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(
    probes: DataFrame,
    cells: DataFrame,
    item_col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Point estimates for probe items: min over the ``depth`` hashed
    cells.  The cell grid is <= depth*width rows — broadcast to the
    probe side; the min collapses in one small groupBy."""
    r = F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("r")
    p = probes.select(F.col(item_col).alias("__item"), r)
    cell = F.expr(
        "CAST(conv(substring(md5(concat(CAST(r AS STRING), ':', "
        "CAST(__item AS STRING))), 1, 13), 16, 10) AS BIGINT)"
        f" % {width}"
    )
    joined = p.select("__item", "r", cell.alias("cell")).join(
        F.broadcast(cells), ["r", "cell"], "left"
    )
    return (
        joined.groupBy("__item")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_est"))
        .select(F.col("__item").alias(item_col), "cms_est")
    )


# --------------------------------------------------------------- HLL
# (m = 16 registers; bucket = first md5 hex digit)

#: 0.673 * 16^2 * 2^33 folded offline to ONE double literal so every
#: consumer (batch query, streaming rollup, DuckDB oracle) parses the
#: identical numerator — see queries/analytics.py reach_hll_relational
HLL16_NUMERATOR = 1479942650986.496
HLL16_TWO33 = 8589934592  # 2^33 scales the harmonic sum to integers


def hll_bucket_rank(item_col: str) -> tuple[F.Column, F.Column]:
    """(bucket, rank) columns of the relational m=16 HyperLogLog:
    bucket = first md5 hex digit of the item, rank = 1 + leading
    zeros of the next 32-bit window — computed with PURE STRING ops
    (trim leading '0' hex chars + CASE on the first nonzero digit,
    never float log2), so any engine reproduces the registers
    bit-for-bit.  Shared by the oracle-backed batch certification
    query (``reach_hll_relational``) and the streaming register
    rollup (``streaming/sketch_rollup.streaming_hll``)."""
    md5 = f"md5(cast({item_col} as string))"
    bucket = F.expr(
        f"instr('0123456789abcdef', substring({md5}, 1, 1)) - 1"
    ).cast("bigint")
    rest = F.expr(f"trim(LEADING '0' FROM substring({md5}, 2, 8))")
    first = F.substring(rest, 1, 1)
    sub = (
        F.when(first == "1", 3)
        .when(first.isin("2", "3"), 2)
        .when(first.isin("4", "5", "6", "7"), 1)
        .otherwise(0)
    )
    rank = (
        F.when(F.length(rest) == 0, F.lit(33))
        .otherwise((F.lit(8) - F.length(rest)) * 4 + sub + 1)
        .cast("bigint")
    )
    return bucket, rank


def hll_registers(
    df: DataFrame, group_col: str, item_col: str
) -> DataFrame:
    """(grp, bucket, reg) register table: <= 16 rows per group, the
    max rank seen in each bucket.  Registers merge under MAX, so two
    register tables union + re-max to the registers of the union —
    the mergeable property the streaming rollup relies on.

    NULL group keys are first-class groups (groupBy-native); NULL
    ITEMS are ignored (aggregate-function semantics — md5(NULL) is
    NULL, which would otherwise materialize a phantom NULL-bucket
    register that inflates ``hit`` in the estimator)."""
    bucket, rank = hll_bucket_rank(item_col)
    return (
        df.filter(F.col(item_col).isNotNull())
        .select(
            F.col(group_col).alias("grp"),
            bucket.alias("bucket"),
            rank.alias("rank"),
        )
        .groupBy("grp", "bucket")
        .agg(F.max("rank").alias("reg"))
    )


def hll_estimate(registers: DataFrame) -> DataFrame:
    """(grp, zero_registers, harmonic_den_scaled, hll_raw_estimate)
    from a register table: the harmonic denominator is carried as the
    EXACT integer ``zeros*2^33 + sum(2^(33-reg))`` and the raw
    estimate does one double division at the edge (bit-identical in
    any engine; deliberately uncorrected — no ln-based linear
    counting, libm can differ at 1 ulp)."""
    per_grp = registers.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("hit"),
        F.sum(
            F.expr("shiftleft(cast(1 as bigint), cast(33 - reg as int))")
        )
        .cast("bigint")
        .alias("s_int"),
    )
    den = (F.lit(16).cast("bigint") - F.col("hit")) * F.lit(
        HLL16_TWO33
    ).cast("bigint") + F.col("s_int")
    return per_grp.select(
        "grp",
        (F.lit(16).cast("bigint") - F.col("hit")).alias("zero_registers"),
        den.cast("bigint").alias("harmonic_den_scaled"),
        (F.lit(HLL16_NUMERATOR) / den.cast("double")).alias(
            "hll_raw_estimate"
        ),
    )


# ----------------------------------------------------------- q-digest


#: Pre-partition ceiling for the compress loop (r13, r12-VERDICT
#: item 5): the loop's input is bounded by the universe — <= 2^bits
#: rows per key group REGARDLESS of data scale — so for bits at or
#: under this cap (2^20 = 1M rows/group) the relation is partitioned
#: ONCE up front (by the key columns; to a single partition for the
#: global digest) and every round's groupBy is then satisfied by the
#: existing partitioning (Spark plans no further Exchange: a
#: HashPartitioning on a SUBSET of the grouping keys — or a single
#: partition — satisfies ClusteredDistribution).  The plan carries
#: 1 Exchange instead of ``bits``; measured 14 -> 1 at bits=14 with
#: bit-identical output.  Past the cap the per-round shuffles return
#: (a >1M-row per-group relation should not sit in one task).
QDIGEST_LOCAL_BITS_MAX = 20


def qdigest_compress(
    leaves: DataFrame, bits: int, keys=()
) -> DataFrame:
    """Compress a leaf histogram into a q-digest (Shrivastava et al.,
    "Medians and Beyond", public literature) — the mergeable QUANTILE
    sketch next to MG (heavy hitters), CMS (point counts), KMV/HLL
    (distinct counts).

    Input relation: ``id`` (heap-numbered leaf, ``2^bits + bucket``),
    ``cnt`` (exact leaf count), ``sigma`` (freeze threshold, same
    value on every row — ride-along so no driver scalar is needed).

    Fully relational and DETERMINISTIC (pure integer arithmetic, no
    sampling): ``bits`` rounds, each ONE projection + ONE groupBy —
    in-flight mass sits at exactly one tree level per round, a node
    with ``cnt < sigma`` promotes to ``id DIV 2`` (sibling counts
    merge in the groupBy), a node reaching ``sigma`` freezes and
    passes through unchanged (a frozen id is never a promotion
    target again, so pass-through cannot collide).  Every frozen
    internal node absorbed two sub-``sigma`` children, so carries
    ``cnt < 2*sigma``; at most ``bits`` ancestors straddle any query
    point, giving the rank-error bound ``2*sigma*bits``.

    Scale: the leaf histogram is bounded by the universe (``2^bits``
    rows) REGARDLESS of input size — the first groupBy upstream of
    this function is the only data-scale shuffle (map-side combined
    to <= |partitions| x 2^bits partials); all ``bits`` rounds here
    shuffle a bounded relation.  Digest size <= n/sigma + bits.
    Merging digests = union + one more ``qdigest_compress`` pass
    with the summed sigma.

    ``keys`` builds one INDEPENDENT digest per key group (per-group
    ``sigma`` rides each row, like the grouped KMV/HLL sketches) —
    state and error bound apply per group; groups compress in
    parallel (hash-partitioned by the keys).

    Exchange layout (r13): for ``bits <= QDIGEST_LOCAL_BITS_MAX`` the
    bounded relation is pre-partitioned once and all ``bits`` rounds
    aggregate WITHOUT further shuffles — see the constant's note.
    """
    keys = tuple(keys)
    nodes = leaves
    if bits <= QDIGEST_LOCAL_BITS_MAX:
        nodes = (
            nodes.repartition(*[F.col(k) for k in keys])
            if keys
            else nodes.repartition(1)
        )
    for lvl in range(bits, 0, -1):
        lo, hi = 1 << lvl, 1 << (lvl + 1)
        promote = (
            (F.col("id") >= lo)
            & (F.col("id") < hi)
            & (F.col("cnt") < F.col("sigma"))
        )
        nodes = (
            nodes.select(
                *keys,
                F.when(promote, F.expr("id DIV 2"))
                .otherwise(F.col("id"))
                .alias("id"),
                "cnt",
                "sigma",
            )
            .groupBy(*keys, "id", "sigma")
            .agg(F.sum("cnt").alias("cnt"))
        )
    return nodes.select(*keys, "id", "cnt", "sigma")


def qdigest_intervals(
    nodes: DataFrame, bits: int, keys=()
) -> DataFrame:
    """Annotate digest nodes with their value interval ``[lo, hi]``
    (bucket units) via pure-integer CASE level decoding (no float
    log2 — libm-free, so an oracle replays it bit-for-bit)."""
    lvl_case = " ".join(
        f"WHEN id >= {1 << l} THEN {l}" for l in range(bits, -1, -1)
    )
    width_case = " ".join(
        f"WHEN id >= {1 << l} THEN {1 << (bits - l)}"
        for l in range(bits, -1, -1)
    )
    # 2^lvl == 2^bits DIV width, so lo = (id - 2^lvl) * width needs
    # only the width CASE
    return nodes.select(
        *keys,
        "id",
        "cnt",
        "sigma",
        F.expr(f"CASE {lvl_case} END").cast("int").alias("lvl"),
        F.expr(
            f"(id - CAST({1 << bits} AS BIGINT) DIV (CASE {width_case} END))"
            f" * (CASE {width_case} END)"
        ).alias("lo"),
    ).withColumn(
        "hi",
        F.col("lo")
        + F.expr(f"CASE {width_case} END").cast("bigint")
        - F.lit(1),
    )


def qdigest_quantiles(
    nodes: DataFrame, bits: int, pcts=(50,), keys=()
) -> DataFrame:
    """(*keys, q_pct, est_bucket) quantile readout from a digest:
    order nodes by interval upper bound, cumulative-sum counts, and
    take the first node covering each target rank (nodes past the
    target form a suffix of the order, so MIN(hi) over them is that
    node's upper bound — one bounded window, no per-quantile sort).

    With ``keys`` every group reads from its own digest alone: the
    cumsum window is key-partitioned, targets come from per-group
    totals, and the theta-join spine is |pcts| x |groups| rows.  The
    global form keeps its deliberately-global window — the digest
    relation is universe-bounded (<= sigma_frac + bits rows) by
    construction; const_bucket keeps the spec non-empty
    (functions/window.py)."""
    spark = nodes.sparkSession
    from pyspark.sql import Window

    keys = tuple(keys)
    iv = qdigest_intervals(nodes, bits, keys=keys)
    if keys:
        w = Window.partitionBy(*keys).orderBy("hi", "id").rowsBetween(
            Window.unboundedPreceding, 0
        )
        cum = iv.select(*keys, "hi", "id", F.sum("cnt").over(w).alias("cum"))
        tot = nodes.groupBy(*keys).agg(F.sum("cnt").alias("n"))
        qs = (
            local_table(spark, [(int(p),) for p in pcts], "q_pct int")
            .crossJoin(tot)
            .select(
                *keys,
                "q_pct",
                F.expr("(q_pct * n + 99) DIV 100").alias("target"),
            )
        )
        cum2 = cum
        for k in keys:
            cum2 = cum2.withColumnRenamed(k, f"__{k}")
        # eqNullSafe: NULL is a legal group key (the digest's groupBy
        # keeps it as its own group), so plain == would silently drop
        # the NULL-keyed group from the quantile readout.
        cond = F.col("cum") >= F.col("target")
        for k in keys:
            cond = cond & F.col(k).eqNullSafe(F.col(f"__{k}"))
        return (
            qs.join(cum2, cond)
            .groupBy(*keys, "q_pct")
            .agg(F.min("hi").alias("est_bucket"))
            .orderBy(*keys, "q_pct")
        )
    from ..functions.window import const_bucket

    w = (
        Window.partitionBy(const_bucket("id"))
        .orderBy("hi", "id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = iv.select("hi", F.sum("cnt").over(w).alias("cum"))
    tot = nodes.agg(F.sum("cnt").alias("n"))
    qs = (
        local_table(spark, [(int(p),) for p in pcts], "q_pct int")
        .crossJoin(F.broadcast(tot))
        .select("q_pct", F.expr("(q_pct * n + 99) DIV 100").alias("target"))
    )
    return (
        qs.join(cum, F.col("cum") >= F.col("target"))
        .groupBy("q_pct")
        .agg(F.min("hi").alias("est_bucket"))
        .orderBy("q_pct")
    )
