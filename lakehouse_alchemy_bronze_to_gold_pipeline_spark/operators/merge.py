"""SCD-1 upsert (SURVEY 4.3-L6: the reference rebuilds dims by full
overwrite; a keyed MERGE is the incremental-correct form).

The engine has ONE upsert, last-writer-wins on ``order_col``::

    updates  →  one row per key (highest order_col)
             →  target ∪ updates  →  row_number() over (partition by
                keys order by order_col desc)  →  keep rank 1

which is what ``MERGE INTO ... WHEN MATCHED AND s.v >= t.v THEN
UPDATE ... WHEN NOT MATCHED THEN INSERT`` computes, expressed as one
shuffle on the merge keys.  ``keep_latest_fold`` packages it as a
fold over a table's snapshot: ``DeltaLogTable.upsert`` commits it in
batch and ``streaming_upsert`` commits it once per micro-batch, both
as one overwrite on the Delta log.  Like a MERGE without deletion
vectors, each upsert rewrites the whole table.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..sources.deltalog import DeltaLogTable


def collapse_keep_latest(
    df: DataFrame, keys: Sequence[str], order_col: str
) -> DataFrame:
    """One row per key: the highest-``order_col`` row wins.  The
    upsert runs it on its update set first, so the contract "any
    number of update rows per key" holds (Delta's MERGE errors on
    multiple source matches per target row).  Rows tied on
    ``order_col`` fall to the greatest in a total order over the
    remaining columns, so the winner does not follow the batch's
    input order or partitioning."""
    rest = [c for c in df.columns if c not in (*keys, order_col)]
    w = Window.partitionBy(*keys).orderBy(
        F.col(order_col).desc(), *[_orderable(df, c).desc() for c in rest]
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _orderable(df: DataFrame, col: str) -> Column:
    # maps and variants have no ordering; their JSON text does
    t = df.schema[col].dataType.simpleString()
    return F.to_json(col) if "map<" in t or "variant" in t else F.col(col)


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
    standalone and oracle-checkable (`QUALIFY row_number() = 1`).
    ``updates`` should hold one row per key (``keep_latest_fold``
    collapses them first): two update rows tied on ``order_col`` keep
    whichever comes first."""
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


def keep_latest_fold(
    updates: DataFrame, keys: Sequence[str], order_col: str
) -> Callable[[DataFrame | None], DataFrame]:
    """The SCD-1 upsert of ``updates`` as a fold over a table's
    snapshot: ``updates`` collapsed to one row per key, then merged
    keep-latest into the snapshot (or alone when there is none)."""
    one = collapse_keep_latest(updates, keys, order_col)
    return lambda snap: one if snap is None else merge_keep_latest(
        snap, one, keys, order_col
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
        table.write_batch_exactly_once(
            keep_latest_fold(batch, keys, order_col), app_id, batch_id
        )

    return foreach_batch(stream, checkpoint, merge_batch)
