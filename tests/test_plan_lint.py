"""The plans package: plan facts + anti-pattern linting."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from lakehouse_alchemy_bronze_to_gold_pipeline_spark.plans import lint, report
from lakehouse_alchemy_bronze_to_gold_pipeline_spark.queries import SPARK_QUERIES
from lakehouse_alchemy_bronze_to_gold_pipeline_spark.sources.tables import (
    local_table,
)

SF = "/root/testdata/sf0.001"


def test_fact_sales_reports_clean(spark):
    df = SPARK_QUERIES["fact_sales"](spark, SF)
    r = report(df)
    assert r["cartesian_products"] == 0
    assert r["broadcast_joins"] == 3
    assert r["shuffles"] == 0
    assert r["pushed_filters"] >= 1
    assert lint(df) == []


def test_lint_flags_cartesian(spark):
    a = local_table(spark, [(1,), (2,)], "x bigint")
    b = local_table(spark, [(1,), (2,)], "y bigint")
    findings = lint(a.crossJoin(b))
    assert any(f.startswith("cartesian") for f in findings)


def test_lint_flags_unpartitioned_window(spark):
    df = local_table(spark, [(i,) for i in range(5)], "x bigint")
    w = Window.orderBy("x")
    bad = df.withColumn("rn", F.row_number().over(w))
    findings = lint(bad)
    assert any(f.startswith("unpartitioned-window") for f in findings)
    # and the documented opt-out for bounded-by-construction inputs
    assert lint(bad, allow_unpartitioned_window=True) == []


def test_lint_clean_on_partitioned_window(spark):
    df = local_table(
        spark, [(i % 2, i) for i in range(6)], "k bigint, x bigint"
    )
    w = Window.partitionBy("k").orderBy("x")
    ok = df.withColumn("rn", F.row_number().over(w))
    assert lint(ok) == []


def test_lint_flags_python_rdd_scan(spark):
    """A list handed to ``createDataFrame`` scans a Python-built RDD
    (forks Python workers when run); the same rows from
    ``local_table`` do not, and neither does a localCheckpoint — the
    other ``Scan ExistingRDD`` source, whose RDD lives in the JVM."""
    rows, schema = [(1, "a"), (2, "b")], "x bigint, s string"
    bad = spark.createDataFrame(rows, schema)
    assert report(bad)["python_rdd_scans"] == 1
    assert any(f.startswith("python-rdd-scan") for f in lint(bad))
    # the count is per scan
    both = bad.unionByName(spark.createDataFrame(rows, schema))
    assert report(both)["python_rdd_scans"] == 2
    ok = local_table(spark, rows, schema)
    assert report(ok)["python_rdd_scans"] == 0
    assert lint(ok) == []
    cp = spark.range(4).localCheckpoint(eager=True)
    assert report(cp)["python_rdd_scans"] == 0
    assert lint(cp) == []


#: bounded-by-construction unpartitioned windows (see
#: test_plans.test_unpartitioned_window_inventory for the rationale)
_WINDOW_OK = {"order_backlog_daily", "vocab_top_terms",
              # cumsums over the q-digest / leaf histogram: both
              # bounded by the 2^14 universe regardless of input size
              "quantile_digest_accuracy",
              # total/rank windows over relations bounded by
              # construction: 10 price bands, 9 digits, and the
              # calendar-bounded day grain (~2.4k rows at any SF)
              "feature_drift_report", "benford_digit_audit",
              "revenue_anomaly_mad",
              # exact-readout set-union window over the day grain
              # (the rolling_distinct_users class; the sketch side is
              # bucket-partitioned and |days|x16 by construction)
              "rolling_reach_hll"}
#: small-sf oracle baselines for the LSH twins: cartesian BY DESIGN,
#: excluded from the bench for the same reason
_CARTESIAN_OK = {"embedding_top_pairs", "embedding_neardup", "knn_join",
                 "embedding_topk", "ann_recall_report",
                 # same bounded-broadcast knn ground truth + 1-row
                 # aggregate join-backs (BENCH_EXCLUDEd baseline)
                 "ann_recall_exact_fixed",
                 "ngram_jaccard_query",
                 # |sample| x |corpus| broadcast knn by contract
                 # (knn_join's bounded-query-side guard applies)
                 "ann_hubness_report_sampled",
                 # date spine x distinct types: |days|*|types| by
                 # construction (calendar-bounded broadcast generator)
                 "event_date_spine",
                 # 5 broadcast query rows x corpus (knn_join's bounded
                 # contract), scored at three prefix widths
                 "matryoshka_overlap_report",
                 # 5 quantile rows theta-joined to the universe-
                 # bounded (<= 2^14 rows) digest / leaf-cumsum rels
                 "quantile_digest_accuracy",
                 # |pcts| x |groups| spine generator (3 x 3 rows)
                 "quantile_digest_grouped",
                 # |days| x 16-register broadcast spine generator
                 "rolling_reach_hll",
                 # |cohorts|^2 pair spine (<= 25 rows by
                 # construction) over the persisted <= |cohorts|*k
                 # KMV sketch
                 "audience_overlap_kmv",
                 # |customers| x 64 bounded-broadcast candidate pool
                 # (TakeOrdered-capped side; the |C|x|P| product is
                 # plan-gated away in tests/test_als.py)
                 "als_recommend_fixed"}
#: iterative operators (O(rounds) shuffle chains are the algorithm)
#: and deliberately multi-stage composites (three ANN indexes + exact
#: ground truth; triangle enumeration = 2 joins over 2 dedup passes)
_DEEP_OK = {"brand_pagerank", "dedup_clusters", "dedup_keep_canonical",
            "embedding_kmeans_profile", "bpe_train_report",
            "training_corpus_prep", "source_dup_matrix",
            "ann_recall_report", "brand_triangles",
            # TWO full incremental gate passes (per batch: balance
            # repartition + capped bucket groupBy + verify joins +
            # anti-join) plus the cross-corpus probe: a deliberate
            # 2-batch composite whose per-stage shuffles are each
            # bounded/capped; sits at 12-13 depending on whether the
            # session serves parts of the shared signature relation
            # from cache (which flips one join's build-side stats)
            "incremental_neardup_fixed",
            # exact ground truth + 2 deterministic indexes + integer
            # readout: deliberately multi-stage composite
            "ann_recall_exact_fixed",
            # 4 unrolled LPA rounds: join + vote groupBy + rank per
            # round by construction (same class as pagerank)
            "brand_label_propagation",
            # three per-width rank windows + overlap joins + union:
            # a deliberately multi-stage readout (13 shuffles over
            # <=15k scored rows; each stage is itself bounded)
            "matryoshka_overlap_report",
            # 14 compression rounds (one groupBy each) over the
            # universe-bounded node relation: O(bits) by construction
            "quantile_digest_accuracy", "quantile_digest_grouped",
            # sketch set-algebra + exact accuracy readout composite
            # (ann_recall_exact_fixed's class): every post-sketch
            # stage runs on <= |cohorts|*k persisted rows, the exact
            # twin adds the one data-scale self-join it exists for
            "audience_overlap_kmv"}


def test_whole_registry_lints_clean(spark, registry_plans):
    """Every registry query passes the anti-pattern linter, modulo
    the three documented exception classes — the registry-wide
    pre-flight that catches a scale-hostile plan at review time
    instead of at 100 TB.  Plans come from the session cache
    (conftest.RegistryPlanCache) so this sweep shares one build +
    capture per query with the other registry-wide gates."""
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.plans import (
        lint_plan,
    )

    bad = {}
    for name in SPARK_QUERIES:
        findings = lint_plan(
            registry_plans.formatted(name),
            allow_unpartitioned_window=name in _WINDOW_OK,
            max_shuffles=999 if name in _DEEP_OK else 12,
        )
        if name in _CARTESIAN_OK:
            findings = [f for f in findings if not f.startswith("cartesian")]
        if findings:
            bad[name] = findings
    assert bad == {}, bad
