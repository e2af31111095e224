"""Declarative data-quality rule engine (SURVEY P11-P15, F3-F4, F7, J3,
U1, S9-S10; fixes landmines L5 and L8).

The reference hard-codes per-entity rule dicts and runs one eager
``count()`` job per rule (``silver_layer_data_quality_checks.py:
91-159`` — 5-7 full-table scans per entity).  Here a rule is data:
``QualityRule(name, predicate)`` where the predicate is a Column
expression that is **true for BAD rows** (matching the reference's
filter-the-failures convention).  The engine then:

- tags each row ONCE with the array of rules it violates
  (``violated_rules``); the failing rows are that array's explode, one
  scan whatever the rule count, with named columns throughout — the L5
  fix for the reference's per-rule filters and fragile positional
  ``union``;
- counts every rule during the audit write itself: ``apply`` attaches
  the counters to the frame it hands the sink as an ``observe`` metric
  set, so the counts cost no scan or job of their own — the L8 fix.
  ``violation_counts`` computes the same counts as one aggregation for
  a caller with no write to ride on;
- appends the tagged failures to an audit table (S9 pattern).

Referential-integrity checks (J3, ``gold_layer_data_quality_checks.py:
89-98``) are expressed as ``orphan_rule`` — a left-anti join factory.
At scale the anti join broadcasts the dimension key set when small;
otherwise Catalyst/AQE picks a shuffled join — we only ship the *key
column* of the dimension to keep the build side minimal.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

#: Email regex, verbatim from ``silver_layer_data_quality_checks.py:100``.
EMAIL_RE = r"^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Z|a-z]{2,}$"


@dataclass(frozen=True)
class QualityRule:
    """A named predicate that is TRUE for rows violating the rule."""

    name: str
    predicate: Column


# ---------------------------------------------------------------- rule
# factories mirroring every check family in the reference


def null_pk_rule(cols: Sequence[str]) -> QualityRule:
    """Null primary key (``silver_layer_data_quality_checks.py:63-70``).
    Disjunctive fold over columns (P11)."""
    pred = F.lit(False)
    for c in cols:
        pred = pred | F.col(c).isNull()
    return QualityRule(f"null_pk[{','.join(cols)}]", pred)


def whitespace_rule(cols: Sequence[str]) -> QualityRule:
    """Untrimmed strings: ``length(c) != length(trim(c))``
    (``silver_layer_data_quality_checks.py:34-41``, F3)."""
    pred = F.lit(False)
    for c in cols:
        pred = pred | (F.length(F.col(c)) != F.length(F.trim(F.col(c))))
    return QualityRule(f"whitespace[{','.join(cols)}]", pred)


def date_range_rule(col: str, min_ts: str, max_ts: str) -> QualityRule:
    """Timestamp parses and falls in [min, max]
    (``silver_layer_data_quality_checks.py:46-58``, P13/F4)."""
    ts = F.to_timestamp(F.col(col))
    pred = ts.isNull() | (ts < F.lit(min_ts)) | (ts > F.lit(max_ts))
    return QualityRule(f"date_range[{col}]", pred)


def positive_rule(cols: Sequence[str]) -> QualityRule:
    """Strictly positive numerics (``:75-82``, P15)."""
    pred = F.lit(False)
    for c in cols:
        pred = pred | (F.col(c) <= 0)
    return QualityRule(f"positive[{','.join(cols)}]", pred)


def email_rule(col: str) -> QualityRule:
    """Negated-regex email validation (``:100``, P12/F7)."""
    return QualityRule(f"email[{col}]", ~F.col(col).rlike(EMAIL_RE))


def integer_rule(col: str) -> QualityRule:
    """Integrality: ``col % 1 != 0`` (``:114``, P14/F9)."""
    return QualityRule(f"integer[{col}]", (F.col(col) % 1) != 0)


def orphan_rule(
    fact: DataFrame, dim: DataFrame, fact_key: str, dim_key: str
) -> DataFrame:
    """Fact rows with no matching dim row — left-anti join (J3,
    ``gold_layer_data_quality_checks.py:89-98``).

    Only the dim's key column enters the join build side; Catalyst
    broadcasts it when small (the common dimension case)."""
    keys = dim.select(F.col(dim_key)).dropDuplicates([dim_key])
    return fact.join(keys, fact[fact_key] == keys[dim_key], "left_anti")


# -------------------------------------------------------------- engine


def _violated_rules(rules: Sequence[QualityRule]) -> Column:
    """Each row's array of the rules it violates, in rule order: one
    ``when(pred, name)`` per rule with the nulls filtered out, so a
    predicate that is NULL (or false) tags nothing."""
    return F.array_compact(
        F.array(*[F.when(r.predicate, F.lit(r.name)) for r in rules])
    )


class QualityEngine:
    """Run a rule set over an entity DataFrame."""

    def __init__(self, rules: Sequence[QualityRule]):
        self.rules = list(rules)

    def _counters(self) -> list[Column]:
        # count of a when() is 0, not NULL, over an empty input
        return [
            F.count(F.when(r.predicate, F.lit(1))).alias(r.name)
            for r in self.rules
        ]

    def violation_counts(self, df: DataFrame) -> DataFrame:
        """ALL rule counts in one scan (L8 fix), for a caller with no
        write to ride on (``apply`` counts during its audit write).

        One row per rule: (rule, n_violations).  Conditional counts
        are map-side combinable, so this is a single job with a
        one-row-per-partition shuffle regardless of rule count.
        """
        wide = df.agg(*self._counters())
        # unpivot to (rule, n_violations) — stack is a narrow op
        pairs = ", ".join(f"'{r.name}', `{r.name}`" for r in self.rules)
        return wide.selectExpr(
            f"stack({len(self.rules)}, {pairs}) as (rule, n_violations)"
        )

    def failing_rows(self, df: DataFrame, entity: str) -> DataFrame:
        """One row per (row, violated rule), from ONE scan of ``df``:
        the explode of each row's ``violated_rules`` array, named
        columns throughout (L5 fix), stamped with entity + check_ts
        like the reference's audit table
        (``silver_layer_data_quality_checks.py:162-174``)."""
        return (
            df.withColumn("rule", F.explode(_violated_rules(self.rules)))
            .withColumn("entity", F.lit(entity))
            .withColumn("check_ts", F.current_timestamp())
        )

    def apply(
        self, df: DataFrame, entity: str, sink: Callable[[DataFrame], None]
    ) -> DataFrame:
        """Hand ``df``'s failing rows to ``sink`` (the audit write) and
        return the rule counts, counted DURING that write: the counters
        ride ``df`` as an ``observe`` metric set, so counting costs no
        scan of its own.  The result is a ``VALUES`` table of ``(rule
        string, n_violations bigint)``, a ``LocalRelation``, so
        collecting it runs no job.

        ``sink`` must run exactly ONE full action on the frame it gets
        (a write).  A second action would count the rows twice, a
        partial one (``isEmpty()``, ``limit``) counts a partial scan,
        and a sink that runs none leaves ``Observation.get`` blocking.
        ``failing_rows`` adds no shuffle, so with a sink that adds
        none either the observation runs in the action's result stage,
        where Spark applies each task's counters exactly once."""
        obs = Observation()
        sink(self.failing_rows(df.observe(obs, *self._counters()), entity))
        got, args, rows = obs.get, {}, []
        for i, r in enumerate(self.rules):
            args[f"r{i}"], args[f"n{i}"] = r.name, got[r.name]
            rows.append(f"(:r{i}, CAST(:n{i} AS BIGINT))")
        return df.sparkSession.sql(
            f"SELECT * FROM VALUES {', '.join(rows)} AS t(rule, n_violations)",
            args=args,
        )


def expectations_gate(
    df: DataFrame,
    rules: Sequence[QualityRule],
    on_violation: str = "drop",
) -> tuple[DataFrame, DataFrame]:
    """DLT-expectations-style enforcement at the WRITE boundary: split
    ``df`` into (passed, quarantined) against a rule set, with the
    three canonical actions — ``"drop"`` routes violating rows to the
    quarantine side, ``"warn"`` passes EVERYTHING through but still
    returns the tagged violations for the audit sink, ``"fail"``
    raises on the first violation (enforced lazily, inside whatever
    action consumes the passed side — no extra eager count job).

    The reference's platform (Databricks) expresses this as
    ``@dlt.expect_or_drop`` etc.; this is the OSS Spark form.  Both
    sides test the same ``violated_rules`` array — narrow filters over
    the same scan, no shuffle; the quarantine side carries the array,
    so one row failing several rules stays ONE quarantined row
    (unlike ``failing_rows``' per-rule audit grain).
    """
    if on_violation not in ("drop", "warn", "fail"):
        raise ValueError(
            f"on_violation must be drop|warn|fail, got {on_violation!r}"
        )
    rules = list(rules)
    if not rules:
        raise ValueError("rules must be non-empty")
    tags = _violated_rules(rules)
    any_bad = F.size(tags) > 0
    bad = df.withColumn("violated_rules", tags).filter(
        F.size("violated_rules") > 0
    )
    if on_violation == "warn":
        return df, bad
    if on_violation == "drop":
        return df.filter(~any_bad), bad
    # fail: poison the passed side lazily — the guard lives in a
    # FILTER predicate (a dropped column would be pruned away and the
    # raise_error dead-code-eliminated), so it fires inside whatever
    # action consumes the frame, on the first violating row
    guard = F.when(
        any_bad,
        F.raise_error(
            F.concat(
                F.lit("expectation violated: "),
                F.array_join(tags, ","),
            )
        ).cast("boolean"),
    ).otherwise(F.lit(True))
    return df.filter(guard), bad
