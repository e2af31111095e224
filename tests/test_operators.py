"""Dedup, quality-rule engine, star builders, sessionize."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators.dedup import (
    dedup_exact,
    dedup_keep_latest,
)
from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators.quality import (
    QualityEngine,
    email_rule,
    integer_rule,
    null_pk_rule,
    orphan_rule,
    positive_rule,
    whitespace_rule,
)
from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators.sessionize import (
    sessionize,
)
from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators.star import (
    DimSpec,
    build_dim,
    build_fact,
)
from lakehouse_alchemy_bronze_to_gold_pipeline_spark.plans.inspect import (
    formatted,
    ops,
)


# ------------------------------------------------------------- dedup
def test_dedup_exact_and_missing_key_grace(spark):
    df = spark.createDataFrame([Row(k=1, v="a"), Row(k=1, v="b"), Row(k=2, v="c")])
    assert dedup_exact(df, ["k"]).count() == 2
    # graceful degradation (reference D3): absent keys -> no-op
    assert dedup_exact(df, ["nope"]).count() == 3


def test_dedup_keep_latest_deterministic(spark):
    df = spark.createDataFrame(
        [Row(k=1, ts=10, id=1, v="old"), Row(k=1, ts=20, id=2, v="new"),
         Row(k=1, ts=20, id=3, v="tie")]
    )
    out = dedup_keep_latest(df, ["k"], order_by="ts", tiebreak=["id"]).collect()
    assert len(out) == 1 and out[0].v == "tie"  # max ts, max id wins


# ----------------------------------------------------------- quality
def test_quality_single_pass_counts_and_rows(spark):
    df = spark.createDataFrame(
        [
            Row(id=None, email="x@y.com", qty=2.0, name=" pad"),
            Row(id=2, email="bad", qty=-1.0, name="ok"),
            Row(id=3, email="a@b.io", qty=1.5, name="ok"),
        ]
    )
    rules = [
        null_pk_rule(["id"]),
        email_rule("email"),
        positive_rule(["qty"]),
        integer_rule("qty"),
        whitespace_rule(["name"]),
    ]
    eng = QualityEngine(rules)
    counts = {r.rule: r.n_violations for r in eng.violation_counts(df).collect()}
    assert counts == {
        "null_pk[id]": 1,
        "email[email]": 1,
        "positive[qty]": 1,
        "integer[qty]": 1,
        "whitespace[name]": 1,
    }
    rows = eng.failing_rows(df, "t").collect()
    assert len(rows) == 5 and all(r.entity == "t" for r in rows)


def test_quality_observed_metrics_during_write(spark):
    """``apply`` collects the SAME counters as violation_counts, but
    during the sink's one action (here a noop write) — no second scan
    job."""
    df = spark.createDataFrame(
        [
            Row(id=None, email="x@y.com", qty=2.0, name=" pad"),
            Row(id=2, email="bad", qty=-1.0, name="ok"),
            Row(id=3, email="a@b.io", qty=1.5, name="ok"),
        ]
    )
    rules = [null_pk_rule(["id"]), email_rule("email"), positive_rule(["qty"])]
    eng = QualityEngine(rules)
    counts = eng.apply(
        df, "t", lambda rows: rows.write.format("noop").mode("overwrite").save()
    )
    expected = {
        r.rule: r.n_violations for r in eng.violation_counts(df).collect()
    }
    assert {r.rule: r.n_violations for r in counts.collect()} == expected
    assert counts.schema.simpleString() == "struct<rule:string,n_violations:bigint>"


def _dq_rows_and_rules(spark):
    # id=2 violates two rules; id=4's email is NULL, so email[email]'s
    # predicate is NULL there and the row violates nothing
    df = spark.createDataFrame(
        [
            Row(id=None, email="x@y.com", qty=2.0),
            Row(id=2, email="bad", qty=-1.0),
            Row(id=3, email="a@b.io", qty=1.5),
            Row(id=4, email=None, qty=1.0),
        ],
        "id bigint, email string, qty double",
    )
    return df, [null_pk_rule(["id"]), email_rule("email"), positive_rule(["qty"])]


def test_failing_rows_equals_per_rule_filters(spark):
    """The one-scan explode gives exactly the rows of one filter per
    rule unioned by name, the engine's former form."""
    df, rules = _dq_rows_and_rules(spark)
    got = QualityEngine(rules).failing_rows(df, "t")
    ref = None
    for r in rules:
        part = df.filter(r.predicate).withColumn("rule", F.lit(r.name))
        ref = part if ref is None else ref.unionByName(part)
    cols = ["id", "email", "qty", "rule"]
    key = lambda row: (row.rule, row.id is None, row.id or 0)
    assert sorted(got.select(*cols).collect(), key=key) == sorted(
        ref.select(*cols).collect(), key=key
    )
    assert sorted((r.id, r.rule) for r in got.collect() if r.id == 2) == [
        (2, "email[email]"), (2, "positive[qty]"),
    ]
    assert all(r.entity == "t" for r in got.collect())
    assert not [r for r in got.collect() if r.id == 4]


def test_failing_rows_scan_the_input_once(spark, tmp_path):
    df, rules = _dq_rows_and_rules(spark)
    path = str(tmp_path / "t")
    df.write.parquet(path)
    rows = QualityEngine(rules).failing_rows(spark.read.parquet(path), "t")
    tree = formatted(rows).split("\n\n")[0]
    assert len(re.findall(r"Scan parquet\s+\(\d+\)", tree)) == 1
    assert "Union" not in ops(formatted(rows))


def test_orphan_rule_anti_join(spark):
    fact = spark.createDataFrame([Row(fk=1), Row(fk=2), Row(fk=9)])
    dim = spark.createDataFrame([Row(k=1), Row(k=2)])
    out = orphan_rule(fact, dim, "fk", "k").collect()
    assert [r.fk for r in out] == [9]


# -------------------------------------------------------------- star
def test_build_dim_normalization_and_filters(spark):
    df = spark.createDataFrame(
        [Row(pid="P1", cat="TOOLS", price=3.0), Row(pid=None, cat="X", price=1.0),
         Row(pid="P2", cat="Y", price=-1.0)]
    )
    dim = build_dim(
        df,
        {"product_id": "pid", "category": F.lower(F.col("cat")), "price": "price"},
        not_null=["product_id"],
        filters=[F.col("price") > 0],
    )
    rows = dim.collect()
    assert [r.product_id for r in rows] == ["P1"]
    assert rows[0].category == "tools"
    assert "dim_created_ts" in dim.columns


def test_build_fact_joins_derived_and_date_partition(spark):
    fact = spark.createDataFrame(
        [Row(ok=1, ck=10, qty=2.0, price=5.0, ts="2024-03-01 10:00:00"),
         Row(ok=2, ck=99, qty=1.0, price=2.0, ts="2024-03-02 11:00:00")]
    )
    cust = spark.createDataFrame([Row(ck_dim=10, seg="A")])
    out = build_fact(
        fact.withColumn("ts", F.to_timestamp("ts")),
        dims=[DimSpec(cust, "ck", "ck_dim", {"seg": "segment"})],
        derived={"total": F.col("qty") * F.col("price")},
        validity=[F.col("qty") > 0],
        partition_date_source="ts",
    )
    rows = out.collect()
    assert len(rows) == 1  # inner join drops ck=99
    assert rows[0].total == 10.0 and rows[0].segment == "A"
    assert str(rows[0].order_date) == "2024-03-01"


def test_build_fact_broadcasts_dim(spark):
    fact = spark.createDataFrame([Row(k=1, v=1.0)])
    dim = spark.createDataFrame([Row(kd=1, d="x")])
    out = build_fact(fact, dims=[DimSpec(dim, "k", "kd", {"d": "dd"})])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


# --------------------------------------------------------- sessionize
def test_sessionize_gap_boundaries(spark):
    df = spark.createDataFrame(
        [Row(user_id=1, ts=0, event_id=1),
         Row(user_id=1, ts=100, event_id=2),
         Row(user_id=1, ts=5000, event_id=3),   # > 1800s gap -> new session
         Row(user_id=2, ts=50, event_id=4)]
    )
    out = sessionize(df, gap_seconds=1800, order_tiebreak="event_id").collect()
    sess = {(r.user_id, r.event_id): r.session_id for r in out}
    assert sess[(1, 1)] == 1 and sess[(1, 2)] == 1
    assert sess[(1, 3)] == 2
    assert sess[(2, 4)] == 1


# ---------------------------------------------------------- band join
def test_band_join_boundaries(spark):
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators.rangejoin import (
        band_join,
    )

    l = spark.createDataFrame([Row(id_a=1, k="x", ta=1000)])
    r = spark.createDataFrame(
        [Row(id_b=10, k="x", tb=1000),   # delta=0: excluded (lower open)
         Row(id_b=11, k="x", tb=1500),   # in band
         Row(id_b=12, k="x", tb=2000),   # delta=upper: included (closed)
         Row(id_b=13, k="x", tb=2001),   # past upper
         Row(id_b=14, k="y", tb=1500)]   # wrong key
    )
    out = band_join(l, r, "ta", "tb", lower=0, upper=1000, keys=["k"])
    assert sorted(row.id_b for row in out.collect()) == [11, 12]


def test_band_join_negative_band(spark):
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators.rangejoin import (
        band_join,
    )

    # band entirely in the past: right rows 5..10s BEFORE left
    l = spark.createDataFrame([Row(id_a=1, ta=10_000)])
    r = spark.createDataFrame(
        [Row(id_b=1, tb=4_999), Row(id_b=2, tb=5_000), Row(id_b=3, tb=9_000),
         Row(id_b=4, tb=10_000)]
    )
    out = band_join(l, r, "ta", "tb", lower=-5_000, upper=-1_000)
    assert sorted(row.id_b for row in out.collect()) == [3]


# ----------------------------------------------------------- as-of
def test_asof_join_backward_and_ties(spark):
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators.asof import (
        asof_join,
    )

    left = spark.createDataFrame(
        [Row(eid=1, k=1, ts=100),
         Row(eid=2, k=1, ts=50),    # before any right row
         Row(eid=3, k=2, ts=100)]   # key with no right rows
    )
    right = spark.createDataFrame(
        [Row(k=1, rts=60, val="a"),
         Row(k=1, rts=100, val="b"),   # exactly at left ts -> visible
         Row(k=1, rts=100, val="c"),   # tie -> max tiebreak wins
         Row(k=1, rts=101, val="d")]
    )
    out = asof_join(
        left, right, left_on="k", right_on="k", left_ts="ts",
        right_ts="rts", right_values=["val"], tiebreak="val",
    )
    got = {r.eid: (r.val, r.asof_ts) for r in out.collect()}
    assert got[1] == ("c", 100)
    assert got[2] == (None, None)
    assert got[3] == (None, None)


# ------------------------------------------------------------- skew
def test_salted_join_matches_plain_join(spark):
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators.skew import (
        salted_join,
    )

    # skewed big side: 90% of rows share key 1
    big = spark.createDataFrame(
        [Row(k=1 if i % 10 else 2, v=i) for i in range(200)]
    )
    small = spark.createDataFrame([Row(k=1, name="hot"), Row(k=2, name="cold")])
    got = sorted(
        (r.k, r.v, r.name)
        for r in salted_join(big, small, "k", n_salts=4).collect()
    )
    expected = sorted(
        (r.k, r.v, r.name) for r in big.join(small, "k").collect()
    )
    assert got == expected


def test_salted_join_left_outer_matches_plain_and_rejects_right(spark):
    import pytest as _pytest
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators.skew import (
        salted_join,
    )

    big = spark.createDataFrame(
        [Row(k=1, v=1), Row(k=2, v=2), Row(k=9, v=9)]  # k=9 unmatched
    )
    small = spark.createDataFrame([Row(k=1, name="a"), Row(k=2, name="b")])
    got = sorted(
        (r.k, r.v, r.name)
        for r in salted_join(big, small, "k", n_salts=4, how="left").collect()
    )
    expected = sorted(
        (r.k, r.v, r.name) for r in big.join(small, "k", "left").collect()
    )
    assert got == expected  # unmatched big row survives exactly once
    for bad in ("right", "full", "full_outer"):
        with _pytest.raises(ValueError, match="n_salts times"):
            salted_join(big, small, "k", how=bad)


def test_band_join_rejects_outer_modes(spark):
    import pytest as _pytest
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators.rangejoin import (
        band_join,
    )

    df = spark.createDataFrame([Row(k=1, ta=0, tb=0)])
    with _pytest.raises(ValueError, match="inner semantics only"):
        band_join(df, df, "ta", "tb", lower=0, upper=10, how="left")


def test_two_phase_distinct_matches_count_distinct(spark):
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators.skew import (
        two_phase_distinct,
    )

    df = spark.createDataFrame(
        [Row(g="a", u=i % 7) for i in range(50)]
        + [Row(g="b", u=i % 3) for i in range(20)]
    )
    got = {
        r.g: r.n_distinct_u for r in two_phase_distinct(df, ["g"], "u").collect()
    }
    assert got == {"a": 7, "b": 3}


# ------------------------------------------------- sketch accuracy
def test_approx_count_distinct_within_tolerance(spark):
    # the 100 TB path for distinct counts: HLL sketch, mergeable,
    # no per-key value state — verify rsd holds on real-ish data
    df = spark.range(100_000).select(
        (F.col("id") % 5).alias("g"), (F.col("id") % 9173).alias("u")
    )
    rows = df.groupBy("g").agg(
        F.countDistinct("u").alias("exact"),
        F.approx_count_distinct("u", rsd=0.02).alias("approx"),
    ).collect()
    for r in rows:
        assert abs(r.approx - r.exact) / r.exact < 0.06


def test_approx_percentile_within_tolerance(spark):
    df = spark.range(100_000).select((F.col("id") % 1000).alias("x"))
    exact, approx = df.select(
        F.percentile("x", F.lit(0.5)).alias("e"),
        F.percentile_approx("x", F.lit(0.5), F.lit(1000)).alias("a"),
    ).first()
    assert abs(approx - exact) <= 10


# ------------------------------------------------- SCD-1 merge contract
def test_upsert_duplicate_update_keys_land_once(spark, tmp_path):
    """The documented contract — 'any number of update rows per key' —
    through ``DeltaLogTable.upsert``, the engine's one SCD-1 upsert: a
    key duplicated in one update batch lands once, its highest ``ver``
    winning, and an update older than the stored row is a no-op."""
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.sources.deltalog import (
        DeltaLogTable,
    )

    t = DeltaLogTable(spark, str(tmp_path / "merge_probe"))
    base = spark.createDataFrame(
        [Row(pk=1, val="old", ver=1), Row(pk=2, val="keep", ver=5)]
    )
    t.upsert(base, ["pk"], "ver")
    updates = spark.createDataFrame(
        [
            Row(pk=1, val="mid", ver=2),
            Row(pk=1, val="new", ver=3),  # duplicate key in one batch
            Row(pk=2, val="stale", ver=4),  # older than target -> no-op
            Row(pk=3, val="ins", ver=1),
        ]
    )
    t.upsert(updates, ["pk"], "ver")
    got = sorted((r.pk, r.val, r.ver) for r in t.read().collect())
    assert got == [(1, "new", 3), (2, "keep", 5), (3, "ins", 1)]


@pytest.mark.parametrize("n_parts", [1, 2])
def test_upsert_ties_on_order_col_pick_one_winner(spark, tmp_path, n_parts):
    """Two update rows for one key with the same ``ver`` keep the same
    row whatever their input order or partitioning (a map column, which
    Spark cannot sort, rides along)."""
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.sources.deltalog import (
        DeltaLogTable,
    )

    schema = "pk long, val string, ver long, tags map<string, int>"
    rows = [(1, "a", 5, {"t": 1}), (1, "b", 5, {"t": 2}), (2, "c", 1, {})]
    got = set()
    for i, order in enumerate((rows, rows[::-1])):
        t = DeltaLogTable(spark, str(tmp_path / f"tie{i}"))
        t.upsert(spark.createDataFrame([(1, "old", 5, {})], schema),
                 ["pk"], "ver")
        updates = spark.createDataFrame(order, schema).coalesce(1)
        if n_parts > 1:
            updates = updates.repartition(n_parts)
        t.upsert(updates, ["pk"], "ver")
        got.add(tuple(sorted(
            (r.pk, r.val, r.ver, tuple(r.tags.items()))
            for r in t.read().collect()
        )))
    assert got == {((1, "b", 5, (("t", 2),)), (2, "c", 1, ()))}


# ------------------------------------------------- snapshot diff (CDC)
def test_snapshot_diff_classes_and_null_transitions(spark):
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators.diff import (
        snapshot_diff,
    )

    old = spark.createDataFrame(
        [
            Row(k=1, v="same", w=1),
            Row(k=2, v="old", w=1),
            Row(k=3, v="gone", w=1),
            Row(k=4, v=None, w=1),   # null -> value must count as update
            Row(k=5, v="x", w=1),    # value -> null must count as update
        ]
    )
    new = spark.createDataFrame(
        [
            Row(k=1, v="same", w=1),
            Row(k=2, v="new", w=1),
            Row(k=4, v="filled", w=1),
            Row(k=5, v=None, w=1),
            Row(k=6, v="born", w=1),
        ]
    )
    got = {r.k: r.change for r in snapshot_diff(old, new, ["k"]).collect()}
    assert got == {2: "update", 3: "delete", 4: "update",
                   5: "update", 6: "insert"}  # k=1 unchanged -> absent


def test_snapshot_diff_ignores_one_sided_columns(spark):
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators.diff import (
        snapshot_diff,
    )

    old = spark.createDataFrame([Row(k=1, v="a", legacy=1)])
    new = spark.createDataFrame([Row(k=1, v="a", added="z")])
    # schema evolution: columns present on only one side are ignored,
    # so the row is unchanged
    assert snapshot_diff(old, new, ["k"]).count() == 0


def test_hll_reach_sketch_bounds_and_merge(spark):
    """user_reach_sketch invariants: the HLL estimate lands within
    the sketch's relative-error envelope of the exact distinct count,
    and unioning per-day sketches equals sketching the flat stream
    (merge consistency — what makes the day-grain table re-aggregable
    to any range without touching raw events)."""
    from pyspark.sql import functions as F

    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.queries.analytics import (
        q_user_reach_sketch,
    )

    sf = "/root/testdata/sf0.001"
    got = {
        r.event_type: (r.n_days, r.reach_est)
        for r in q_user_reach_sketch(spark, sf).collect()
    }
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.queries.data import load

    ev = load(spark, sf, "events")
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(got) == set(exact)
    for t, n in exact.items():
        est = got[t][1]
        # default lgConfigK=12 -> rsd ~1.04/sqrt(2^12) ~ 1.6%; allow 5x
        assert abs(est - n) <= max(3, 0.08 * n), (t, est, n)
    # merge consistency: union of per-day sketches == flat sketch
    flat = {
        r.event_type: r.est
        for r in ev.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id"))
            .cast("bigint")
            .alias("est")
        )
        .collect()
    }
    for t in exact:
        assert got[t][1] == flat[t], (t, got[t][1], flat[t])
