"""Physical-plan inspection and linting (the ``plans`` surface).

``tests/test_plans.py`` pins specific queries; this package is the
ENGINE-side API those gates build on, usable by operators and by
users before launching a large job: structured facts about a
DataFrame's physical plan (``report``) and an anti-pattern linter
(``lint``) that flags the shapes that melt at 100 TB — cartesian
products, unpartitioned windows, scans without column pruning,
shuffle counts, scans that fork Python workers.
"""

from .inspect import (
    fingerprint,
    formatted,
    lint,
    lint_plan,
    normalize,
    ops,
    python_rdd_scans,
    report,
    shuffles,
    unpartitioned_windows,
)

__all__ = [
    "formatted",
    "normalize",
    "fingerprint",
    "ops",
    "shuffles",
    "unpartitioned_windows",
    "python_rdd_scans",
    "report",
    "lint",
    "lint_plan",
]
