"""Keyed snapshot diff — the change-data-capture primitive computed
from two table states (what Delta's Change Data Feed emits
incrementally, derived here relationally for plain-parquet tables;
complements ``DeltaLogTable.upsert`` which APPLIES changes, this
DETECTS them).

Shape: ONE full outer join on the key columns; change class falls out
of null-side analysis plus a column-list comparison for updates.  At
100 TB both snapshots shuffle once on the keys — bucket both tables
on the keys (Spark's ``bucketBy`` writer) and the join goes
shuffle-free.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """(keys..., change) rows where ``change`` ∈ insert/delete/update;
    unchanged rows are dropped.  ``compare_cols`` defaults to every
    non-key column present in BOTH snapshots (schema evolution: a
    column only one side has is ignored rather than flagging every
    row as updated).  Key columns must be non-null (the usual keyed-
    table contract — a null key never equi-joins and would misreport
    as insert+delete)."""
    if compare_cols is None:
        shared = set(old.columns) & set(new.columns)
        compare_cols = [c for c in new.columns if c in shared and c not in keys]
    o = old.select(
        *[F.col(k).alias(f"__ko_{k}") for k in keys],
        *[F.col(c).alias(f"__o_{c}") for c in compare_cols],
    )
    n = new.select(
        *[F.col(k).alias(f"__kn_{k}") for k in keys],
        *[F.col(c).alias(f"__n_{c}") for c in compare_cols],
    )
    cond = [F.col(f"__ko_{k}") == F.col(f"__kn_{k}") for k in keys]
    j = o.join(n, cond, "full_outer")
    in_old = F.col(f"__ko_{keys[0]}").isNotNull()
    in_new = F.col(f"__kn_{keys[0]}").isNotNull()
    changed = F.lit(False)
    for c in compare_cols:
        # null-safe inequality so NULL -> value and value -> NULL
        # both count as updates
        changed = changed | ~F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))
    change = (
        F.when(in_old & ~in_new, F.lit("delete"))
        .when(~in_old & in_new, F.lit("insert"))
        .when(changed, F.lit("update"))
    )
    return (
        j.withColumn("change", change)
        .filter(F.col("change").isNotNull())
        .select(
            *[
                F.coalesce(F.col(f"__kn_{k}"), F.col(f"__ko_{k}")).alias(k)
                for k in keys
            ],
            "change",
        )
    )
