"""Physical-plan regression tests: the properties that keep queries
fast at 100 TB (scan pruning, filter pushdown, broadcast joins, no
accidental shuffles / nested loops) — asserted on ``explain`` output
so a refactor that silently degrades the plan fails CI."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from lakehouse_alchemy_bronze_to_gold_pipeline_spark.queries import SPARK_QUERIES

SF = "/root/testdata/sf0.001"

#: session plan cache (conftest.RegistryPlanCache), bound by the
#: autouse fixture below: every test here reads plans through it, so
#: a query referenced by several tests (and by the registry-wide
#: sweeps in other modules) builds and plans exactly once per session
_CACHE = None


@pytest.fixture(autouse=True)
def _bind_plan_cache(registry_plans):
    global _CACHE
    _CACHE = registry_plans
    yield


def _formatted(spark, name: str) -> str:
    return _CACHE.formatted(name)


def _ops(plan: str) -> list[str]:
    """Operator names from the tree section of a formatted explain."""
    tree = plan.split("\n\n")[0]
    return re.findall(r"[+:]- ([A-Za-z]+)", tree) + re.findall(
        r"^([A-Za-z]+) \(\d+\)", tree, re.M
    )


def _shuffles(plan: str) -> int:
    """Shuffle exchanges (broadcast exchanges excluded)."""
    return plan.count("Arguments: hashpartitioning") + plan.count(
        "Arguments: rangepartitioning"
    )


def test_fact_sales_pushdown_pruning_broadcast(spark):
    plan = _formatted(spark, "fact_sales")
    ops = _ops(plan)
    # validity predicates reach the lineitem parquet scan
    assert "GreaterThan(l_quantity,0.0)" in plan
    assert "GreaterThan(l_extendedprice,0.0)" in plan
    # column pruning: untouched wide columns never leave the scan
    assert "l_returnflag" not in plan and "l_shipdate" not in plan
    # all dim joins broadcast; zero shuffles in the whole plan
    assert ops.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in ops
    assert _shuffles(plan) == 0


def test_pricing_summary_partial_aggregation(spark):
    plan = _formatted(spark, "pricing_summary")
    ops = _ops(plan)
    # map-side combine: partial + final HashAggregate around ONE
    # exchange on the grouping key
    assert ops.count("HashAggregate") == 2
    assert _shuffles(plan) == 1
    # the date cutoff prunes at the scan
    assert "LessThanOrEqual(l_shipdate" in plan


def test_asof_join_single_shuffle(spark):
    plan = _formatted(spark, "asof_latest_order")
    ops = _ops(plan)
    # union + one window partitioned by key: exactly one shuffle and
    # no join operator at all
    assert _shuffles(plan) == 1
    assert not any("Join" in o for o in ops)
    assert "Window" in ops


def test_band_join_is_hash_join_not_nested_loop(spark):
    plan = _formatted(spark, "events_band_join")
    ops = _ops(plan)
    assert "BroadcastNestedLoopJoin" not in ops
    assert "CartesianProduct" not in ops
    # equi-join on (event_type, bucket) with the band as post-filter
    assert any(
        j in ops for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )


def test_embedding_topk_take_ordered_not_global_sort(spark):
    plan = _formatted(spark, "embedding_topk")
    ops = _ops(plan)
    assert "TakeOrderedAndProject" in ops
    assert "Sort" not in ops  # no global sort of the corpus


def test_q5_broadcasts_every_dimension(spark):
    plan = _formatted(spark, "asia_nation_revenue")
    ops = _ops(plan)
    # customer/supplier/nation/region all broadcast
    assert ops.count("BroadcastExchange") >= 4
    assert "CartesianProduct" not in ops


def test_events_scan_prunes_props(spark):
    # a query that never touches `props` (a wide JSON string column)
    # must not read it: ReadSchema in the scan excludes it
    plan = _formatted(spark, "events_hourly")
    scan = plan.split("ReadSchema")[1].split("\n")[0]
    assert "props" not in scan


def test_whole_stage_codegen_on_hot_path(spark):
    df = SPARK_QUERIES["pricing_summary"](spark, SF)
    df.collect()  # finalize the adaptive plan
    final = df._jdf.queryExecution().executedPlan().toString()
    # `*(n)` marks operators fused into a WholeStageCodegen subtree
    assert "*(" in final


def test_scd1_merge_single_shuffle_no_join(spark):
    """Keep-latest merge = union + ONE window shuffle on the merge
    key — no join operator anywhere (a join-based MERGE would shuffle
    twice and break on duplicate update keys)."""
    plan = _formatted(spark, "scd1_upsert")
    ops = _ops(plan)
    assert _shuffles(plan) == 1
    assert not any("Join" in o for o in ops)
    assert "Window" in ops


def test_approx_percentile_is_partial_final_aggregate(spark):
    """The sketch percentile must keep the two-phase (partial ->
    exchange -> final) shape — mergeable state is the whole point;
    a plan that shipped raw rows to one node would be the exact
    percentile's buffer problem again."""
    plan = _formatted(spark, "price_percentiles_approx")
    ops = _ops(plan)
    aggs = [o for o in ops if o.endswith("HashAggregate")]
    assert len(aggs) == 2  # partial + final (objHashAggregate for GK)
    assert _shuffles(plan) == 1
    assert "Sort" not in ops  # no per-group sort buffer


def test_rank_functions_one_window_exchange(spark):
    """lead/lag/ntile/percent_rank/cume_dist share one window spec ->
    one shuffle on the partition key, one Window operator."""
    plan = _formatted(spark, "order_rank_functions")
    ops = _ops(plan)
    assert _shuffles(plan) == 1
    assert ops.count("Window") == 1


def test_date_spine_joins_reduced_daily_not_raw_events(spark):
    """The spine join must consume the AGGREGATED daily counts (spine
    x daily, both tiny) — the aggregate runs below the join, never
    after it."""
    plan = _formatted(spark, "event_date_spine")
    tree = plan.split("\n\n")[0]
    ops = _ops(plan)
    assert "CartesianProduct" not in ops
    # zero-fill join is a broadcast hash join (spine side is tiny)
    assert "BroadcastHashJoin" in ops
    # daily counts aggregate BELOW the join: partial+final pairs for
    # both the daily counts and the distinct types, none above it
    join_pos = tree.find("BroadcastHashJoin")
    assert join_pos != -1
    assert tree.find("HashAggregate") > join_pos  # deeper in the tree


def test_hash_sample_filter_in_scan_stage(spark):
    """The md5 sample predicate is a per-row filter directly over the
    scan — no exchange between scan and filter (sampling happens
    before any shuffle, so downstream stages see only the sample)."""
    plan = _formatted(spark, "lineitem_hash_sample")
    ops = _ops(plan)
    # exactly the one aggregation exchange; the filter adds none
    assert _shuffles(plan) == 1
    assert "Filter" in ops


def test_lsh_pairs_single_arrow_pass_no_cartesian(spark):
    """Banded LSH pair mining: the Arrow signature stage runs ONCE
    (a bucket self-join would duplicate the whole subtree on both
    sides), candidates come from an in-bucket pair generator, and no
    cartesian/nested-loop join appears anywhere."""
    plan = _formatted(spark, "embedding_top_pairs_lsh")
    tree = plan.split("\n\n")[0]
    ops = _ops(plan)
    assert tree.count("ArrowEvalPython") == 1
    assert "CartesianProduct" not in ops
    assert "BroadcastNestedLoopJoin" not in ops
    assert "TakeOrderedAndProject" in ops  # top-k, not global sort


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Two tables bucketed on the join key with equal bucket counts
    sort-merge-join with ZERO exchanges — the write-side co-location
    that removes the recurring fact-fact shuffle at scale."""
    from pyspark.sql import Row

    import os

    ta, tb = f"bkt_a_{os.getpid()}", f"bkt_b_{os.getpid()}"
    a = spark.createDataFrame([Row(k=i, va=i * 2) for i in range(1000)])
    b = spark.createDataFrame([Row(k=i, vb=i * 3) for i in range(1000)])
    for df, t in ((a, ta), (b, tb)):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        df.write.format("parquet").mode("overwrite").bucketBy(
            4, "k"
        ).sortBy("k").saveAsTable(t)

    # tiny test tables would auto-broadcast, which hides the property
    # under test: with broadcast off, the join must still need NO
    # exchange (bucket co-location feeds SortMergeJoin directly)
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table(ta).join(spark.table(tb), "k")
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        plan = joined._jdf.queryExecution().explainString(mode)
        assert _shuffles(plan) == 0
        assert "BroadcastExchange" not in plan
        assert "SortMergeJoin" in plan
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    spark.sql(f"DROP TABLE {ta}")
    spark.sql(f"DROP TABLE {tb}")


def test_partitioned_table_prunes_partitions(spark, tmp_path):
    """Writing with a derived-date partition column (the L2 fix) must
    let a date-filtered read prune directories: the scan's
    PartitionFilters carry the predicate instead of a row filter."""
    import os

    from pyspark.sql import Row

    t = f"part_prune_{os.getpid()}"
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    df = spark.createDataFrame(
        [Row(order_date=f"2024-01-{d:02d}", v=i) for i in range(300) for d in [(i % 10) + 1]]
    )
    df.write.format("parquet").mode("overwrite").partitionBy(
        "order_date"
    ).saveAsTable(t)

    q = spark.table(t).filter(F.col("order_date") == "2024-01-03")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = q._jdf.queryExecution().explainString(mode)
    assert "PartitionFilters" in plan
    assert "order_date" in plan.split("PartitionFilters")[1].split("\n")[0]
    assert q.count() == 30
    spark.sql(f"DROP TABLE {t}")


def test_price_histogram_single_agg_pass(spark):
    """Binning is a projection: the whole histogram must be one
    partial+final aggregate around ONE exchange — no sort, no window,
    no second scan."""
    plan = _formatted(spark, "price_histogram")
    ops = _ops(plan)
    assert ops.count("HashAggregate") == 2
    assert _shuffles(plan) == 1
    assert "Sort" not in ops and "Window" not in ops


def test_eval_contamination_broadcasts_eval_grams(spark):
    """The eval gram set must broadcast (eval corpora are MB-scale);
    the corpus-sized train side must never be on the build side of a
    sort-merge or nested-loop join."""
    plan = _formatted(spark, "eval_contamination")
    ops = _ops(plan)
    assert "BroadcastHashJoin" in ops
    assert "CartesianProduct" not in ops
    assert "BroadcastNestedLoopJoin" not in ops


def test_bm25_search_topk_and_no_cartesian_blowup(spark):
    """Global top-20 must be TakeOrdered (partial per-partition
    top-k), never a global sort; the only nested-loop join allowed is
    the 1-row scalar stats broadcast."""
    plan = _formatted(spark, "bm25_search")
    ops = _ops(plan)
    assert "TakeOrderedAndProject" in ops
    assert "CartesianProduct" not in ops
    assert ops.count("Sort") == 0


def test_embedding_quantize_is_narrow(spark):
    """Quantization is a per-row transform: zero hash/range shuffles
    (the repartition breaker is round-robin), no aggregate across
    rows, no join."""
    plan = _formatted(spark, "embedding_quantize_int8")
    ops = _ops(plan)
    assert _shuffles(plan) == 0
    assert not any("Join" in o for o in ops)
    assert "Exchange" in ops  # the materialization breaker is present


def test_aqe_splits_skewed_join(spark):
    """The engine's posture for skewed joins at scale is AQE's runtime
    skew split (manual salting in operators/skew.py is the fallback
    for non-AQE paths). Pin that the adaptive planner actually
    rewrites a pathologically skewed sort-merge join (one key owning
    ~90% of the big side) into skew-split form when thresholds are
    scaled to the test data."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        big = spark.range(60_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(7))
            .otherwise(F.col("id"))
            .alias("k"),
            F.col("id").alias("payload"),
        )
        small = spark.range(2_000).select(
            F.col("id").alias("k"), F.lit("x").alias("tag")
        )
        joined = big.join(small, "k")
        joined.collect()  # finalize THIS execution's adaptive plan
        final = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_pii_redaction_single_pass_no_udf(spark):
    plan = _formatted(spark, "pii_redaction_report")
    ops = _ops(plan)
    # one narrow scan -> partial/final agg around ONE exchange on
    # source; regexes are JVM expressions, not Python workers
    assert ops.count("HashAggregate") == 2
    assert _shuffles(plan) == 1
    assert "BatchEvalPython" not in ops and "ArrowEvalPython" not in ops
    # only the columns the query needs leave the parquet scan
    assert "n_chars" not in plan and "lang" not in plan


def test_unigram_logprob_single_tokenize_pass(spark):
    plan = _formatted(spark, "doc_unigram_logprob")
    ops = _ops(plan)
    tree = plan.split("\n\n")[0]
    # the (doc, term, tf) relation is persisted and shared: its four
    # consumers (LM freq, corpus total, score join, decile) must all
    # read the cache, leaving exactly ONE distinct parquet scan of
    # documents in the plan (without the persist, lazy evaluation
    # re-tokenizes the corpus once per consumer)
    scan_ids = set(re.findall(r"Scan parquet\s+\((\d+)\)", tree))
    assert len(scan_ids) == 1
    assert "InMemoryTableScan" in tree
    # 1-row scalar relations (total, p10) broadcast; no cartesian
    assert "CartesianProduct" not in ops


def test_tfidf_and_bm25_single_tokenize_pass(spark):
    for name in ("tfidf_top_terms", "bm25_search"):
        tree = _formatted(spark, name).split("\n\n")[0]
        scan_ids = set(re.findall(r"Scan parquet\s+\((\d+)\)", tree))
        assert len(scan_ids) == 1, name
        assert "InMemoryTableScan" in tree, name


def test_span_coverage_single_shingle_pass(spark):
    tree = _formatted(spark, "crossdoc_span_coverage").split("\n\n")[0]
    # the (doc_id, md5(gram)) relation is persisted and shared by the
    # document-frequency groupBy and the join back: exactly one
    # distinct parquet scan of documents survives in the plan
    scan_ids = set(re.findall(r"Scan parquet\s+\((\d+)\)", tree))
    assert len(scan_ids) == 1
    assert "InMemoryTableScan" in tree


def _unpartitioned_window_count(plan: str) -> int:
    """Number of Window nodes whose Arguments line carries no
    partition spec.  In a formatted explain a Window node's detail
    block prints ``Arguments: [exprs], [partSpec], [orderSpec]`` —
    but EMPTY specs are dropped, so two top-level bracket groups is
    ambiguous: ``[exprs], [orderSpec]`` (unpartitioned, the case we
    hunt) vs ``[exprs], [partSpec]`` (partitioned unordered, e.g.
    ``count(*) OVER (PARTITION BY k)`` — fine).  Disambiguate by the
    second group's content: order specs always carry a sort
    direction (``ASC NULLS`` / ``DESC NULLS``), partition specs
    never do."""
    n = 0
    for m in re.finditer(
        r"\(\d+\) Window\n(?:[^\n]*\n)*?Arguments: ([^\n]*)", plan
    ):
        groups, depth, cur = [], 0, []
        for ch in m.group(1):
            if ch == "[":
                if depth == 0:
                    cur = []
                depth += 1
            elif ch == "]":
                depth -= 1
                if depth == 0:
                    groups.append("".join(cur))
            elif depth >= 1:
                cur.append(ch)
        if len(groups) >= 3:
            unpart = not groups[1].strip()
        elif len(groups) == 2:
            second = groups[1]
            unpart = not second.strip() or (
                "ASC NULLS" in second or "DESC NULLS" in second
            )
        else:
            unpart = True
        if unpart:
            n += 1
    return n


def test_unpartitioned_window_inventory(spark):
    """A WindowExec with no PARTITION BY moves the whole relation to
    one task — a 100x-scale incident unless the input is bounded by
    construction.  Since r11 the inventory is EMPTY: the seven
    queries whose global windows are deliberate (bounded digit/band
    spines, calendar-day grains, top-500 cuts, 2^14-universe digest
    relations) partition by ``const_bucket`` (functions/window.py —
    constant-valued, non-foldable), which keeps single-partition
    evaluation and identical results while making the global window
    explicit at the call site and retiring the WindowExec warning
    (r10 verdict task 6).  Any future query that grows a TRULY
    unpartitioned window fails HERE instead of surfacing as a
    single-task straggler at scale; tests/test_window_partition.py
    re-checks the same invariant on analyzed logical plans."""
    offenders = {}
    for name in SPARK_QUERIES:
        n = _unpartitioned_window_count(_formatted(spark, name))
        if n:
            offenders[name] = n
    assert offenders == {}, offenders


def test_classifier_broadcasts_weights_single_scan(spark):
    plan = _formatted(spark, "doc_classifier_score")
    tree = plan.split("\n\n")[0]
    # model weights join by broadcast, never a shuffle of postings
    assert "BroadcastHashJoin" in _ops(plan)
    # one corpus scan: tf and lens both come from the persisted
    # _doc_terms relation
    assert len(set(re.findall(r"Scan parquet\s+\((\d+)\)", tree))) == 1


def test_weighted_sample_is_takeordered(spark):
    plan = _formatted(spark, "doc_weighted_sample")
    ops = _ops(plan)
    # A-ES top-k must compile to per-partition top-k + driver merge,
    # never a global sort
    assert "TakeOrderedAndProject" in ops
    assert _shuffles(plan) == 0


def test_attribution_no_cartesian_shared_window_exchange(spark):
    plan = _formatted(spark, "purchase_attribution")
    ops = _ops(plan)
    # the time band is a RESIDUAL filter on the user equi-join —
    # never a nested-loop/cartesian expansion (at this sf the tiny
    # purchase side broadcasts; at scale the same plan becomes an
    # SMJ on user_id)
    assert "CartesianProduct" not in ops
    assert "BroadcastNestedLoopJoin" not in ops
    # both rank windows + the per-purchase count share ONE
    # purchase_id exchange
    assert plan.count("Arguments: hashpartitioning(purchase_id") == 1
    assert _ops(plan).count("Window") == 3


def test_outliers_broadcast_joinbacks(spark):
    plan = _formatted(spark, "events_value_outliers")
    ops = _ops(plan)
    # every aggregate join-back broadcasts (med twice — the residual
    # branch recomputes from the cached projection — plus mad once);
    # no shuffle join of the event rows anywhere
    assert ops.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in ops
    assert "InMemoryTableScan" in plan.split("\n\n")[0]


def test_entity_resolution_broadcast_and_group_limit(spark):
    plan = _formatted(spark, "customer_entity_resolution")
    ops = _ops(plan)
    # the sparse probe side broadcasts against the blocked candidate
    # scan -- never a shuffle join of the master table
    assert ops.count("BroadcastHashJoin") == 1
    assert "SortMergeJoin" not in ops
    # rank-1 pushdown: WindowGroupLimit prunes per-probe candidates
    # before (and after) the window exchange instead of sorting the
    # full scored relation
    assert "WindowGroupLimit" in ops
    # probe sparsity predicate reaches the parquet scan
    assert "PushedFilters" in plan


def test_transition_matrix_single_sequence_shuffle(spark):
    plan = _formatted(spark, "event_transition_matrix")
    ops = _ops(plan)
    # ONE shuffle of the event log (user_id for the lead window); the
    # remaining exchanges move only the |types|^2 aggregate
    seq_exchanges = re.findall(
        r"Arguments: hashpartitioning\(([^,]+)", plan
    )
    assert seq_exchanges and seq_exchanges[0].startswith("user_id")
    # partial+final aggregate around the transition-count exchange
    assert ops.count("HashAggregate") == 2
    assert "SortMergeJoin" not in ops and "BroadcastNestedLoopJoin" not in ops


def test_weighted_median_shares_window_partitioning(spark):
    plan = _formatted(spark, "source_weighted_median_quality")
    ops = _ops(plan)
    # both windows (cumulative weight + per-source total) run on the
    # SAME source partitioning: exactly one hashpartitioning exchange
    # in the whole plan (the trailing rangepartitioning is the
    # 20-row final orderBy)
    assert plan.count("Arguments: hashpartitioning") == 1
    assert ops.count("Window") == 2


def test_revenue_trend_broadcasts_dims_two_shuffles(spark):
    """OLS sufficient stats: customer/nation broadcast; only the
    daily rollup + per-nation reduce shuffle (plus the output sort)."""
    plan = _formatted(spark, "nation_revenue_trend")
    assert "BroadcastHashJoin" in _ops(plan)
    assert "SortMergeJoin" not in _ops(plan)
    assert _shuffles(plan) <= 3


def test_pmi_broadcasts_unigrams_and_scalars(spark):
    """Bigram relation probes broadcast unigram counts + 1-row
    totals; ranked output is TakeOrdered, not a global sort."""
    plan = _formatted(spark, "pmi_collocations")
    ops = _ops(plan)
    assert "TakeOrderedAndProject" in ops
    assert ops.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in ops


def test_cluster_blocked_ops_single_groupby_shuffle(spark):
    """SemDeDup blocking and hard-negative mining: ONE shuffle (the
    groupBy cluster feeding applyInPandas) + at most the output sort;
    no join of the vector relation against itself outside the
    blocked pandas stage."""
    for name in ("semantic_dedup_fixed", "hard_negative_mining"):
        plan = _formatted(spark, name)
        ops = _ops(plan)
        assert "FlatMapGroupsInPandas" in ops, name
        assert "CartesianProduct" not in ops, name
        assert "SortMergeJoin" not in ops, name
        assert _shuffles(plan) <= 2, (name, _shuffles(plan))


def test_gap_fill_no_shrinking_window_frame(spark):
    """The next-value scaffold must use a growing frame on a DESC
    sort — a currentrow->unboundedfollowing frame re-scans to the
    partition end per row (O(n²)/partition; measured 14 s vs 1.5 s
    on this query at sf0.1)."""
    plan = _formatted(spark, "gap_fill_interpolate")
    assert "unboundedfollowing" not in plan.lower(), (
        "shrinking window frame reintroduced"
    )


def test_quantile_binning_one_window_exchange(spark):
    """ntile + stats: one hashpartitioning exchange on l_returnflag
    (AQE may add the output sort's range exchange)."""
    plan = _formatted(spark, "quantile_binning")
    assert plan.count("Arguments: hashpartitioning") <= 2
    assert "Window" in _ops(plan)


def test_phash_dedup_single_arrow_pass(spark):
    """Perceptual dedup: synthesize and decode+hash are ADJACENT
    mapInPandas stages (payloads never cross an exchange — the plan
    pipelines them in one task); dedup is a plain groupBy on the
    64-bit hash — no join back to payloads."""
    plan = _formatted(spark, "image_phash_dedup")
    ops = _ops(plan)
    assert ops.count("MapInPandas") == 2
    tree = plan.split("\n\n")[0]
    lines = [ln for ln in tree.splitlines() if "MapInPandas" in ln
             or "Exchange" in ln]
    mip = [i for i, ln in enumerate(lines) if "MapInPandas" in ln]
    assert mip[1] == mip[0] + 1, "exchange between synth and hash stages"
    assert "CartesianProduct" not in ops


def test_minhash_oracle_family_single_arrow_pass(spark):
    """The Carter-Wegman signature kernel is ONE ArrowEvalPython node
    fed by the balanced exchange; md5 stays JVM-side (one digest per
    shingle, inside the scan-side projection), and candidate pairs
    come from ONE bucket groupBy — no self-join of the banded
    relation."""
    plan = _formatted(spark, "minhash_neardup_md5")
    tree = plan.split("\n\n")[0]
    ops = _ops(plan)
    # the signature relation is persisted: every ArrowEvalPython in
    # the printed tree sits under an InMemoryTableScan reference (the
    # cached subtree prints once per consumer but RUNS once; the
    # per-reference print multiplicity varies with session cache
    # state, so gate the ratio, not an absolute count)
    n_arrow = tree.count("ArrowEvalPython")
    n_cache = tree.count("InMemoryTableScan")
    assert n_cache >= 2, "signature relation not cached"
    assert n_arrow % n_cache == 0, (n_arrow, n_cache)
    assert "CartesianProduct" not in ops


def test_label_noise_and_sequence_prep_shapes(spark):
    plan = _formatted(spark, "label_noise_scan")
    ops = _ops(plan)
    assert "FlatMapGroupsInPandas" in ops
    assert "SortMergeJoin" not in ops
    assert "CartesianProduct" not in ops
    plan2 = _formatted(spark, "event_sequence_prep")
    assert "CartesianProduct" not in _ops(plan2)
    # one user-key aggregation exchange (+ output sort)
    assert plan2.count("Arguments: hashpartitioning") <= 1


def test_ivf_stream_assign_narrow_probe_broadcast(spark):
    """Incremental-IVF decomposition (r8, re-pinned r13): the assign
    stage must stay NARROW (scan -> project -> one Arrow encode, no
    exchange below the probe join — at scale each appended batch is
    written without shuffling the index), the broadcast side of the
    probe join must be the exploded QUERY relation (never the
    corpus-sized lists), and the only shuffle is the per-query top-k
    window.  r13: the corpus is encoded ONCE by the vectorized Arrow
    kernel — the old plan carried the 16-centroid argmax expression
    twice (one copy per parity batch, ~135 KB of plan text); the
    non-deterministic mark keeps the join's isnotnull(list_id) from
    duplicating the kernel below the filter (guide §4.4)."""
    plan = _formatted(spark, "ivf_stream_topk_fixed")
    ops = _ops(plan)
    assert ops.count("BroadcastHashJoin") == 1
    assert "SortMergeJoin" not in ops and "CartesianProduct" not in ops
    # exactly ONE corpus encode pass, and no scan-side duplication
    assert ops.count("ArrowEvalPython") == 1
    # queries explode to (query, list_id) then broadcast: the Generate
    # sits INSIDE the broadcast subtree (parent-first tree text:
    # BroadcastExchange, then its Generate child, then the corpus
    # encode), so the corpus-sized lists are never the build side
    tree = plan.split("\n\n")[0]
    assert (tree.index("BroadcastExchange") < tree.index("Generate")
            < tree.index("ArrowEvalPython"))
    # one shuffle total: the rank window on query_id
    assert _shuffles(plan) == 1
    # partial top-k pushed below that exchange (WindowGroupLimit)
    assert ops.count("WindowGroupLimit") == 2


def test_audience_overlap_kmv_persisted_sketch(spark):
    """KMV set algebra: the <= |cohorts|*k sketch relation and the
    distinct (type, user, day) relation each feed multiple consumers
    and must come from the cache, not recomputed data-scale passes;
    the exact-side self-join stays an equi-join (never a nested
    loop over data-scale inputs)."""
    plan = _formatted(spark, "audience_overlap_kmv")
    tree = plan.split("\n\n")[0]
    assert "InMemoryTableScan" in tree
    ops = _ops(plan)
    # the only nested-loop is the <= |cohorts|^2 pair spine; the
    # exact intersection is a hash/sort equi-join on (user, day)
    assert "CartesianProduct" not in ops
    assert _shuffles(plan) <= 15


def test_copurchase_link_prediction_plan(spark):
    """Link prediction: the customer-part relation is persisted (it
    feeds the degree aggregate and both pair-join sides), co-order
    edges are removed by LEFT ANTI (no distinct materialization of
    the edge set), and nothing nested-loops."""
    plan = _formatted(spark, "copurchase_link_prediction")
    tree = plan.split("\n\n")[0]
    assert "InMemoryTableScan" in tree
    ops = _ops(plan)
    assert "CartesianProduct" not in ops
    assert "BroadcastNestedLoopJoin" not in ops
    assert "LeftAnti" in plan
    # top-k is a TakeOrdered, never a global sort of all candidates
    assert "TakeOrderedAndProject" in ops


def test_copurchase_support_floor_has_margin(spark):
    """The >= 2 support floor is output-invariant only while every
    released pair clears it; the measured top-25 minimum support
    declines with scale (12/6/4 at sf0.001/0.01/0.1 — r10 ADVICE), so
    pin a STRICT margin at the certification sf: if the released
    minimum ever reaches the floor, this fails before the floor can
    silently reshape the top-25."""
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.queries import (
        SPARK_QUERIES,
    )

    rows = SPARK_QUERIES["copurchase_link_prediction"](
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert rows, "empty link-prediction release"
    assert min(r["common_customers"] for r in rows) > 2


def test_copurchase_support_floor_margin_at_sf01(spark):
    """r11 ADVICE: the released minimum is TIGHTEST at sf0.1 (4 vs
    the >= 2 floor) — the largest driver scale is where a data
    regeneration eroding support would bite first, so the margin is
    pinned there too, not only at the certification sf."""
    import os

    import pytest

    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.queries import (
        SPARK_QUERIES,
    )

    if not os.path.isdir("/root/testdata/sf0.1"):
        pytest.skip("sf0.1 testdata absent")
    rows = SPARK_QUERIES["copurchase_link_prediction"](
        spark, "/root/testdata/sf0.1"
    ).collect()
    assert rows, "empty link-prediction release"
    assert min(r["common_customers"] for r in rows) > 2


def test_mg_stream_topk_fixed_plan(spark):
    """Sequential MG merge: the per-(batch, bucket, term) count
    relation is persisted (it feeds stage-1 compress, the fold, and
    the exact readout), every window is bucket-partitioned (the
    partitioned-MG table layout), the only nested-loop is the 1-row
    broadcast debt scalar, and the readout is a TakeOrdered."""
    plan = _formatted(spark, "mg_stream_topk_fixed")
    tree = plan.split("\n\n")[0]
    assert "InMemoryTableScan" in tree
    ops = _ops(plan)
    assert "CartesianProduct" not in ops
    assert ops.count("BroadcastNestedLoopJoin") <= 1  # 1-row debt
    assert "TakeOrderedAndProject" in ops
    # no global (unpartitioned) window: each row_number is keyed by
    # bucket, so compression parallelizes across the MG partitions —
    # the window exchanges hash-partition on bucket, and the only
    # SinglePartition exchanges are the bounded global aggregates
    # (debt scalar + final count checks), never a data-scale sort
    assert "hashpartitioning(bucket" in plan
    assert plan.count("Arguments: SinglePartition") <= 2


def test_dp_revenue_release_plan(spark):
    """DP release pays exactly what the non-private query pays: the
    two aggregate shuffles (+1 for the 25-row output sort), a
    broadcast join for nation names, pruned scans, and the noise as
    folded literals — no extra scan, no UDF, no nested loop."""
    plan = _formatted(spark, "dp_revenue_release")
    ops = _ops(plan)
    assert "CartesianProduct" not in ops
    assert "BroadcastNestedLoopJoin" not in ops
    assert ops.count("BroadcastHashJoin") == 2  # spend left-join + names
    assert ops.count("Scan") == 3  # orders, customer, nation — no 4th
    assert _shuffles(plan) <= 3
    # noise is a literal-table lookup, never a Python UDF
    assert "Python" not in plan.split("\n\n")[0]
    # orders scan prunes to the two columns the release needs
    assert "struct<o_custkey:bigint,o_totalprice:double>" in plan


def test_als_rank1_fixed_plan(spark):
    """Fixed-point ALS readout: the ratings relation is
    localCheckpointed (seven consumers: six half steps + ONE fused
    loss scan — a bare persist would leak session cache, see
    _fixed_run), the factor tables enter as checkpointed broadcast
    relations, the only nested-loops are the 1-row loss/summary
    scalar cross joins, and no Python runs anywhere on the fixed
    path."""
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.queries.recsys import (
        q_als_rank1_fixed,
    )

    df = q_als_rank1_fixed(spark, SF)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = df._jdf.queryExecution().explainString(mode)
    tree = plan.split("\n\n")[0]
    # checkpointed ratings feed the fused loss scan (RDD scan, not a
    # session-cache InMemoryTableScan)
    assert "Scan ExistingRDD" in tree
    assert "CartesianProduct" not in tree
    # 1-row scalar combinators only: 2 cross joins x 3 iterations
    assert tree.count("BroadcastNestedLoopJoin") <= 6
    assert "Python" not in tree


def test_als_recommend_fixed_plan(spark):
    """Recommendation readout: the candidate pool enters as a bounded
    broadcast (|C| x 64 scored pairs, linear in customers — never the
    |C| x |P| cross product), purchases leave by anti-join, and the
    top-25 is a TakeOrdered."""
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.queries.recsys import (
        q_als_recommend_fixed,
    )

    df = q_als_recommend_fixed(spark, SF)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = df._jdf.queryExecution().explainString(mode)
    tree = plan.split("\n\n")[0]
    ops = _ops(plan)
    assert "CartesianProduct" not in ops
    # the only nested loop is the bounded 64-row broadcast candidates
    assert tree.count("BroadcastNestedLoopJoin") <= 1
    assert "LeftAnti" in tree
    assert "TakeOrderedAndProject" in ops
    assert "Python" not in tree
