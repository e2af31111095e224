"""Registry golden: every registry query's module, oracle SQL and
normalized physical plan at sf0.001, pinned in registry order
(``tests/golden/registry.json``).

A change to ``queries/`` that changes no result-defining text and no
plan keeps this test green; together with the DuckDB oracle sweep
(``tools/check_correctness.py``) that proves a refactor
behaviour-neutral.  A drift fails with the names of the queries that
moved.  Regenerate the golden with ``python tools/capture_plans.py``
only for a change that means to move plans, and give the reason in
CHANGES.md.

The golden's float literals come from the generic OpenBLAS kernel
that ``conftest.py`` pins (``OPENBLAS_CORETYPE``) for the whole suite:
numpy's OpenBLAS otherwise picks its kernel from the host CPU, and the
last bits of driver-side numpy results follow it.  Four entries carry
such literals: the plans of ``embedding_kmeans_profile``,
``embedding_ivf_topk`` and ``ann_recall_report`` (centroids) and the
oracle SQL of ``embedding_whitening_fixed`` (the ZCA matrix)."""

from __future__ import annotations

import hashlib
import importlib
import json
import os
import pkgutil

GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "registry.json")

#: fingerprinted on the plan tree only.  Both are multi-distinct
#: aggregates: Catalyst rewrites them through an Expand whose
#: projection order varies from one JVM to the next, so their node
#: details differ between two fresh sessions while the tree does not.
TREE_ONLY = frozenset({"orders_profile", "temporal_split_leakage"})


def registry_entries(registry_plans) -> dict:
    """``name -> {module, oracle_sha1, plan}`` in registry order."""
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark import queries
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.plans import (
        fingerprint,
    )

    module_of = {}
    for info in pkgutil.iter_modules(queries.__path__):
        mod = importlib.import_module(f"{queries.__name__}.{info.name}")
        for name in getattr(mod, "SPARK_QUERIES", ()):
            module_of[name] = info.name
    out = {}
    for name in queries.SPARK_QUERIES:
        sql = queries.ORACLE_SQL.get(name)
        plan = registry_plans.formatted(name)
        if name in TREE_ONLY:
            plan = plan.split("\n\n")[0]
        out[name] = {
            "module": module_of[name],
            "oracle_sha1": sql and hashlib.sha1(sql.encode()).hexdigest(),
            "plan": fingerprint(plan),
        }
    return out


def test_registry_matches_golden(registry_plans):
    with open(GOLDEN) as fh:
        want = json.load(fh)
    got = registry_entries(registry_plans)
    assert list(got) == list(want), {
        "added": sorted(set(got) - set(want)),
        "removed": sorted(set(want) - set(got)),
        "order_changed": set(got) == set(want),
    }
    drift = {
        name: sorted(k for k in want[name] if got[name][k] != want[name][k])
        for name in want
        if got[name] != want[name]
    }
    assert drift == {}, drift
