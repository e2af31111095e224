from __future__ import annotations

import os
import platform
import sys

import pytest

#: The OpenBLAS kernel numpy runs under for the whole suite.  numpy's
#: bundled OpenBLAS is built with DYNAMIC_ARCH and picks its BLAS/LAPACK
#: kernel from the host CPU, so the last bits of driver-side numpy
#: results (k-means and IVF centroids, the fixed ZCA matrix) that the
#: registry golden pins as plan or oracle-SQL literals follow the CPU.
#: PRESCOTT is the baseline SSE3 kernel every x86-64 CPU runs, and the
#: committed golden was captured under it.  OpenBLAS reads the variable
#: only when it loads, so it is set here, before anything imports
#: numpy; the Spark JVM and its Python workers inherit it.
#: ``tools/capture_plans.py`` sets the same literal before its imports.
OPENBLAS_CORETYPE = "PRESCOTT"

if platform.machine() in ("x86_64", "AMD64"):
    if (
        "numpy" in sys.modules
        and os.environ.get("OPENBLAS_CORETYPE") != OPENBLAS_CORETYPE
    ):
        raise pytest.UsageError(
            f"numpy was imported before tests/conftest.py could set "
            f"OPENBLAS_CORETYPE={OPENBLAS_CORETYPE}: the pin would be "
            f"ignored and the registry golden would drift.  Set "
            f"OPENBLAS_CORETYPE={OPENBLAS_CORETYPE} in the environment, "
            f"or keep numpy out of whatever loads before this conftest."
        )
    os.environ["OPENBLAS_CORETYPE"] = OPENBLAS_CORETYPE

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lakehouse_alchemy_bronze_to_gold_pipeline_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


class RegistryPlanCache:
    """Session-lifetime lazy cache of registry query DataFrames and
    their formatted explain strings.  The registry-wide sweeps (the
    plan linter, the unpartitioned-window inventory, the plan golden)
    and the tests that inspect a single query share one build per
    query and one captured plan per query: building the registry
    re-runs every builder's eager bounded jobs (ALS iterations,
    k-means updates, FD partials), so rebuilding it per sweep costs
    minutes.

    Each build starts from an empty session cache: a builder that
    persists an intermediate would otherwise plan against whatever an
    earlier build left cached, and its plan would depend on which
    queries were built before it.  The plan is captured right after
    the build, before a later build clears the cache again."""

    SF = "/root/testdata/sf0.001"

    def __init__(self, spark):
        self._spark = spark
        self._dfs: dict = {}
        self._plans: dict[str, str] = {}

    def df(self, name: str):
        if name not in self._dfs:
            from lakehouse_alchemy_bronze_to_gold_pipeline_spark.plans import (
                formatted,
            )
            from lakehouse_alchemy_bronze_to_gold_pipeline_spark.queries import (
                SPARK_QUERIES,
            )

            self._spark.catalog.clearCache()
            df = SPARK_QUERIES[name](self._spark, self.SF)
            self._dfs[name] = df
            self._plans[name] = formatted(df)
        return self._dfs[name]

    def formatted(self, name: str) -> str:
        self.df(name)
        return self._plans[name]


@pytest.fixture(scope="session")
def registry_plans(spark):
    return RegistryPlanCache(spark)


@pytest.fixture()
def warehouse(tmp_path):
    return str(tmp_path / "warehouse")
