"""Star-schema (gold layer) builders (SURVEY P4-P10, J1-J2, S7-S8).

Generalizes ``gold_transformation.py``'s hard-coded dim/fact builds
into configurable builders:

- ``build_dim``: curated projection with renames (P4), normalization
  functions (F1 ``initcap`` / F2 ``lower``), not-null + compound
  filters (P9-P10), audit timestamp (P6).
- ``build_fact``: N-way join of a (streaming or batch) fact source
  against dimension tables (J1/J2 stream-static form), derived
  columns (P5), validity filter, audit ts, and a **derived date
  partition column** replacing the reference's raw-timestamp
  partitioning (fixes SURVEY 4.3-L2).

Scale posture: dimensions are explicitly ``broadcast()`` when marked
small (the reference relies on the 10 MB autoBroadcast default —
explicit is better at 100 TB where dims can exceed the threshold but
still be the right broadcast choice, or vice versa).  Fact-side
filters are applied *before* the joins so Catalyst pushes them into
the scan, and only needed dim columns enter the join (column pruning
helps, but being explicit keeps the broadcast payload minimal).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass
class DimSpec:
    """One dimension join: which table, on what keys, which columns."""

    df: DataFrame
    fact_key: str
    dim_key: str
    columns: Mapping[str, str]  # dim column -> output alias
    broadcast: bool = True  # dims default small -> broadcast hash join


def build_dim(
    df: DataFrame,
    columns: Mapping[str, Column | str],
    not_null: Sequence[str] = (),
    filters: Sequence[Column] = (),
    audit_col: str = "dim_created_ts",
) -> DataFrame:
    """Curated dimension projection (``gold_transformation.py:42-50``).

    ``columns`` maps output name -> source column name or Column expr
    (e.g. ``{"city": F.initcap("address_city")}``).
    """
    projected = df.select(
        *[
            (F.col(c) if isinstance(c, str) else c).alias(out)
            for out, c in columns.items()
        ]
    )
    for c in not_null:
        projected = projected.filter(F.col(c).isNotNull())
    for cond in filters:
        projected = projected.filter(cond)
    return projected.withColumn(audit_col, F.current_timestamp())


def build_fact(
    fact: DataFrame,
    dims: Sequence[DimSpec],
    derived: Mapping[str, Column] | None = None,
    validity: Sequence[Column] = (),
    partition_date_source: str | None = None,
    partition_col: str = "order_date",
    audit_col: str = "fact_created_ts",
) -> DataFrame:
    """Fact build: filters -> joins -> derived cols -> audit -> date.

    Mirrors ``gold_transformation.py:92-147`` with the L2 fix: when
    ``partition_date_source`` is set, a ``to_date`` derived column is
    added for the sink's ``partition_by`` — at most one directory per
    day, unlike the reference's per-distinct-timestamp layout, and
    none when the fact is too small for a day to fill a file: the
    sink then range-partitions on the date instead
    (``sources.tables.TableIO._layout``).
    """
    out = fact
    for cond in validity:  # filter BEFORE join -> pushed into the scan
        out = out.filter(cond)
    for d in dims:
        dim_cols = [F.col(d.dim_key)] + [
            F.col(src).alias(dst) for src, dst in d.columns.items()
        ]
        side = d.df.select(*dim_cols)
        if d.broadcast:
            side = F.broadcast(side)
        out = out.join(side, out[d.fact_key] == side[d.dim_key], "inner").drop(
            side[d.dim_key]
        )
    for name, expr in (derived or {}).items():
        out = out.withColumn(name, expr)
    out = out.withColumn(audit_col, F.current_timestamp())
    if partition_date_source is not None:
        out = out.withColumn(partition_col, F.to_date(F.col(partition_date_source)))
    return out
