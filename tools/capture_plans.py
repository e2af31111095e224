"""Regenerate the registry golden, ``tests/golden/registry.json``.

Usage: python tools/capture_plans.py [plan_dir]

Run it from the repository root: the Python workers that some
builders start import the package from the working directory.

Builds every registry query once at sf0.001 on ``local[4]`` through
the test suite's ``RegistryPlanCache`` — the session settings, build
order and cache clearing ``tests/test_registry_golden.py`` sees — and
writes one line per query in registry order: its module, the sha1 of
its oracle SQL (or null) and the fingerprint of its normalized
formatted plan.  With ``plan_dir``, each normalized plan is also
written to ``plan_dir/<query>.txt``: diff two such directories to see
what a drift moved.

Planning only — no query is executed through a sink — but a few
builders run bounded eager jobs (ALS iterations, k-means updates, FD
partials), so a capture runs those stages once.
"""

from __future__ import annotations

import importlib.util
import json
import os
import platform
import sys

# Pin numpy's OpenBLAS kernel before anything loads numpy: the golden's
# float literals follow the kernel.  The value is defined, with its
# reason, as OPENBLAS_CORETYPE in tests/conftest.py, which this tool
# loads only after the package has imported numpy, so the literal is
# repeated here.
if platform.machine() in ("x86_64", "AMD64"):
    os.environ["OPENBLAS_CORETYPE"] = "PRESCOTT"

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from lakehouse_alchemy_bronze_to_gold_pipeline_spark.plans import (  # noqa: E402
    normalize,
)
from lakehouse_alchemy_bronze_to_gold_pipeline_spark.session import (  # noqa: E402
    get_spark,
)


def _load(name: str):
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(ROOT, "tests", f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def main() -> None:
    plan_dir = sys.argv[1] if len(sys.argv) > 1 else None
    conftest, golden = _load("conftest"), _load("test_registry_golden")
    spark = get_spark("tests", master="local[4]", shuffle_partitions=4)
    cache = conftest.RegistryPlanCache(spark)
    entries = golden.registry_entries(cache)
    with open(golden.GOLDEN, "w") as fh:
        fh.write("{\n")
        fh.write(",\n".join(
            f"  {json.dumps(name)}: {json.dumps(entry)}"
            for name, entry in entries.items()
        ))
        fh.write("\n}\n")
    if plan_dir:
        os.makedirs(plan_dir, exist_ok=True)
        for name in entries:
            with open(os.path.join(plan_dir, f"{name}.txt"), "w") as fh:
                fh.write(normalize(cache.formatted(name)))
    print(f"{len(entries)} queries -> {golden.GOLDEN}")
    spark.stop()


if __name__ == "__main__":
    main()
