"""Plan facts + linting over ``explain('formatted')`` output.

Text-level inspection is deliberate: the formatted explain is a
STABLE public surface (it is what humans read and what the plan
gates in tests/ assert on), while Catalyst's internal node classes
are not.  Everything here is pure string analysis — no execution.
"""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import DataFrame


def formatted(df: DataFrame) -> str:
    """The formatted explain string (tree + node details)."""
    spark = df.sparkSession
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


#: what differs between two captures of the same plan: expression
#: ids, exchange plan ids, lambda variable suffixes (a session-wide
#: counter), cached-relation statistics, RDD ids with their call
#: sites, and file paths
_NOISE = (
    (re.compile(r"\[plan_id=\d+\]"), ""),
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"\blambda (\w+?)_\d+\b"), r"lambda \1"),
    (re.compile(r"Statistics\([^)]*\)"), "Statistics()"),
    (re.compile(r"RDD\[\d+\] at [^,]*"), "RDD[]"),
    (re.compile(r"(?:file:)?(?:/[\w.=-]+){2,}"), "<path>"),
)


def normalize(plan: str) -> str:
    """A formatted explain with its run-to-run noise stripped: two
    sessions that plan the same query the same way print the same
    text."""
    for pattern, repl in _NOISE:
        plan = pattern.sub(repl, plan)
    return plan


def fingerprint(plan: str) -> str:
    """sha1 of :func:`normalize` — a stable identity of a plan's
    shape, for goldens that pin a whole registry's plans."""
    return hashlib.sha1(normalize(plan).encode()).hexdigest()


def ops(plan: str) -> list[str]:
    """Operator names from the tree section."""
    tree = plan.split("\n\n")[0]
    # children print as ``+- Name ...``; the root prints bare
    # (``Name [qualifiers] (n)``, e.g. ``CartesianProduct Inner (3)``)
    return re.findall(r"[+:]- \*?\s*([A-Za-z]+)", tree) + re.findall(
        r"^([A-Za-z]+)[^\n]*\(\d+\)$", tree, re.M
    )


def shuffles(plan: str) -> int:
    """Shuffle exchanges (broadcast exchanges excluded)."""
    return plan.count("Arguments: hashpartitioning") + plan.count(
        "Arguments: rangepartitioning"
    )


def unpartitioned_windows(plan: str) -> int:
    """Window nodes with no PARTITION BY — single-task funnels.
    A Window node's detail block prints ``Arguments: [exprs],
    [partSpec], [orderSpec]`` but EMPTY specs are dropped, so a
    two-group form is ambiguous: it is unpartitioned only when the
    second group is an ORDER spec (always carries a sort direction);
    bracket nesting inside expressions means the top-level groups
    must be scanned, not regexed."""
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


def python_rdd_scans(plan: str) -> int:
    """Scans of an RDD built from Python objects (``createDataFrame``
    over a list, a Python RDD's ``toDF``): running one forks the
    Python daemon and its workers.  The node prints as ``Scan
    ExistingRDD`` over an RDD made by ``applySchemaToPythonRDD``; a
    ``localCheckpoint`` prints the same node over a JVM-side RDD and
    is not counted."""
    return len(
        re.findall(
            r"\(\d+\) Scan ExistingRDD[^\n]*\n(?:[^\n]*\n)*?"
            r"Arguments: [^\n]* at applySchemaToPythonRDD ",
            plan,
        )
    )


def report(df: DataFrame) -> dict:
    """Structured plan facts for dashboards/CI."""
    plan = formatted(df)
    o = ops(plan)
    return {
        "shuffles": shuffles(plan),
        "broadcast_joins": o.count("BroadcastHashJoin"),
        "sort_merge_joins": o.count("SortMergeJoin"),
        "cartesian_products": o.count("CartesianProduct")
        + o.count("BroadcastNestedLoopJoin"),
        "scans": o.count("Scan"),
        "arrow_passes": o.count("ArrowEvalPython")
        + o.count("MapInPandas")
        + o.count("FlatMapGroupsInPandas"),
        "windows": o.count("Window"),
        "unpartitioned_windows": unpartitioned_windows(plan),
        "pushed_filters": plan.count("PushedFilters: ["),
        "in_memory_scans": plan.split("\n\n")[0].count("InMemoryTableScan"),
        "python_rdd_scans": python_rdd_scans(plan),
    }


#: finding codes -> human explanation (kept short; the lint caller
#: decides severity/policy)
_RULES = {
    "cartesian": "cartesian/nested-loop join: O(|L|*|R|) — bucket, "
    "band, or broadcast an equi-key instead",
    "unpartitioned-window": "window with no PARTITION BY moves the "
    "whole relation to ONE task",
    "many-shuffles": "plan has an unusually deep shuffle chain — "
    "look for repeated repartitioning or non-colocated joins",
    "python-rdd-scan": "scan of a Python-built RDD forks Python "
    "workers to run — build constant tables with "
    "sources.tables.local_table",
}


def lint(
    df: DataFrame,
    allow_unpartitioned_window: bool = False,
    max_shuffles: int = 8,
) -> list[str]:
    """Anti-pattern findings (empty list = clean).  The checks are
    the 100 TB failure modes the test-suite gates query-by-query,
    exposed as a reusable pre-flight."""
    return lint_plan(
        formatted(df),
        allow_unpartitioned_window=allow_unpartitioned_window,
        max_shuffles=max_shuffles,
    )


def lint_plan(
    plan: str,
    allow_unpartitioned_window: bool = False,
    max_shuffles: int = 8,
) -> list[str]:
    """:func:`lint` over an already-captured formatted explain string
    — lets a caller that holds many plans (the registry-wide test
    sweeps) capture each plan once and lint the text, instead of
    re-planning per check."""
    o = ops(plan)
    findings = []
    # a BroadcastNestedLoopJoin against a KEYLESS (scalar) aggregate
    # is the standard 1-row-constant broadcast (totals, cut points,
    # min/max limits) — O(|L|), not a cartesian blowup.  Each scalar
    # aggregate prints two nodes (partial + final), each with
    # ``Keys [0]: []`` in its detail block.
    bnlj = o.count("BroadcastNestedLoopJoin")
    scalar_aggs = plan.count("Keys: []") + plan.count("Keys [0]: []") // 2
    if "CartesianProduct" in o or bnlj > scalar_aggs:
        findings.append(f"cartesian: {_RULES['cartesian']}")
    if not allow_unpartitioned_window and unpartitioned_windows(plan):
        findings.append(
            f"unpartitioned-window: {_RULES['unpartitioned-window']}"
        )
    if shuffles(plan) > max_shuffles:
        findings.append(
            f"many-shuffles ({shuffles(plan)} > {max_shuffles}): "
            f"{_RULES['many-shuffles']}"
        )
    if python_rdd_scans(plan):
        findings.append(f"python-rdd-scan: {_RULES['python-rdd-scan']}")
    return findings
