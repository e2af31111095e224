"""SCD-1 upsert (SURVEY 4.3-L6: the reference rebuilds dims by full
overwrite; a keyed MERGE is the incremental-correct form).

With delta-spark present this issues a real ``MERGE INTO`` (matched ->
update, not matched -> insert).  The portable fallback is the
classic rewrite formulation::

    target ∪ updates  →  row_number() over (partition by keys
                                            order by order_col desc)
                      →  keep rank 1  →  overwrite

which is exactly what MERGE computes for last-writer-wins, expressed
as one shuffle on the merge keys.  At 100 TB the fallback rewrites
the whole table (Delta's MERGE rewrites only touched files) — that
asymmetry is the reason the engine prefers delta when installed.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.deltalog import DeltaLogTable
from ..sources.tables import TableIO


def collapse_keep_latest(
    df: DataFrame, keys: Sequence[str], order_col: str
) -> DataFrame:
    """One row per key: the highest-``order_col`` row wins.  This is
    the shared pre-dedup both MERGE entry points run on their update
    set, so the documented contract ("any number of update rows per
    key") holds on every branch — Delta's MERGE errors on multiple
    source matches per target row."""
    w = Window.partitionBy(*keys).orderBy(F.col(order_col).desc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def merge_keep_latest(
    target: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    order_col: str,
) -> DataFrame:
    """Pure last-writer-wins merge: one row per key survives from
    ``target ∪ updates``, the one with the highest ``order_col``
    (updates win ties against existing rows).  ONE shuffle on the
    merge keys — this is the relational core of SCD-1 MERGE, usable
    standalone and oracle-checkable (`QUALIFY row_number() = 1`)."""
    merged = target.withColumn("__upd", F.lit(0)).unionByName(
        updates.withColumn("__upd", F.lit(1))
    )
    w = Window.partitionBy(*keys).orderBy(
        F.col(order_col).desc(), F.col("__upd").desc()
    )
    return (
        merged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__upd")
    )


def upsert_keep_latest(
    spark: SparkSession,
    io: TableIO,
    table: str,
    updates: DataFrame,
    keys: Sequence[str],
    order_col: str,
) -> None:
    """Last-writer-wins upsert of ``updates`` into ``table`` keyed by
    ``keys``; ``order_col`` (descending) decides the winner among the
    existing row and any number of update rows per key."""
    if not spark.catalog.tableExists(table):
        io.write_overwrite(updates, table)
        return

    if io.fmt == "delta":
        one = collapse_keep_latest(updates, keys, order_col)
        one.createOrReplaceTempView("__merge_updates")
        on = " AND ".join(f"t.{k} = s.{k}" for k in keys)
        spark.sql(
            f"""
            MERGE INTO {table} t USING __merge_updates s ON {on}
            WHEN MATCHED AND s.{order_col} >= t.{order_col}
              THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *
            """
        )
        return

    io.rewrite(
        table, lambda snap: merge_keep_latest(snap, updates, keys, order_col)
    )


def streaming_upsert(
    stream: DataFrame,
    table: DeltaLogTable,
    keys: Sequence[str],
    order_col: str,
    checkpoint: str,
):
    """Streaming SCD-1 sink: each micro-batch, collapsed to its latest
    row per key, folds into ``table``'s snapshot with
    ``merge_keep_latest`` — the idiomatic way to get MERGE semantics
    out of Structured Streaming (a plain append sink would accumulate
    stale versions).  The fold commits with the stream's ``txn``, so a
    batch replayed after a crash is skipped."""
    from ..streaming.sink import foreach_batch

    def merge_batch(batch: DataFrame, app_id: str, batch_id: int) -> None:
        one = collapse_keep_latest(batch, keys, order_col)
        table.write_batch_exactly_once(
            lambda snap: one if snap is None
            else merge_keep_latest(snap, one, keys, order_col),
            app_id,
            batch_id,
        )

    return foreach_batch(stream, checkpoint, merge_batch)
