"""Table read/write with managed-format fallback (SURVEY S4-S9, S12).

Every reference sink is ``format("delta")`` (``bronze_ingestion.py:86``
etc.).  delta-spark is optional in this environment, so ``TableIO``
picks ``delta`` when available and falls back to ``parquet`` tables in
the session catalog otherwise.  All call-sites go through this class —
no raw ``format("delta")`` strings anywhere else in the engine.

Scale notes baked in here:

- Partitioned sinks take a *derived date* column, never a raw
  timestamp: ``partitionBy("order_timestamp")`` in the reference
  (``gold_transformation.py:157``) creates one directory per distinct
  timestamp string — pathological at scale (SURVEY 4.3-L2).
- Every partitioned write goes through ``rebalance_partitions``: one
  file per partition value per write (or micro-batch) instead of one
  per (task, value).  Without native Hadoop IO the local file system
  forks ``chmod`` for every file and partition directory it creates,
  so the file count is the cost of a partitioned write.
- ``compact()`` is the OSS fallback for ``OPTIMIZE ... ZORDER BY``
  (``gold_transformation.py:85,160``): ``repartitionByRange`` on the
  cluster keys + sortWithinPartitions gives the same data-skipping
  locality (min/max pruning on sorted parquet row groups) without
  Delta-only commands.  The layout step itself is ``cluster``, which a
  writer can also apply before a table's first write and skip the
  rewrite entirely.
- ``rewrite()`` is the one way a catalog table is replaced by a
  function of its own contents (compaction and the SCD-1 merge
  fallback): a parquet table cannot overwrite itself, so the snapshot
  goes through a tmp table first.  Streaming state tables live on the
  Delta log instead (``DeltaLogTable.write_batch_exactly_once``),
  where an overwrite can read the files it replaces.
- ``local_table()`` is how the engine builds a constant relation:
  typed literals in the JVM, never a Python list handed to
  ``createDataFrame`` (that forks Python workers to scan it).
"""

from __future__ import annotations

import os
import shutil
from typing import Callable
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StructType, _parse_datatype_string

from ..session import has_delta


def rebalance_partitions(
    df: DataFrame, partition_by: list[str] | None
) -> DataFrame:
    """Route each partition value of ``df`` to one task before a
    ``partitionBy`` write, so the write makes one file per value
    instead of one per (task, value).  ``REBALANCE`` rather than
    ``repartition``: in batch, AQE may still split a skewed value over
    several tasks or coalesce small ones; a streaming micro-batch gets
    a plain hash exchange.  No-op for an unpartitioned write."""
    if not partition_by:
        return df
    return df.hint("rebalance", *partition_by)


def cluster(
    df: DataFrame,
    cluster_by: list[str],
    n_files: int | None = None,
    equidepth: bool = False,
) -> DataFrame:
    """Lay ``df`` out clustered on ``cluster_by`` for the next write:
    ONE key -> range-partitioned + sorted (lexicographic is optimal for
    a single dimension); SEVERAL keys -> a Morton/Z-order interleave
    key (``operators.zorder``), so file-level min/max pruning works on
    EVERY clustered column, not just the leading one — the property
    ZORDER buys at scale.  ``n_files`` fixes the range partition count
    (default: the session's shuffle partitions, AQE-coalesced)."""
    if len(cluster_by) > 1:
        from ..operators.zorder import zorder_key, zorder_key_equidepth

        mk = zorder_key_equidepth if equidepth else zorder_key
        df, key = mk(df, cluster_by)
        parts = [F.col(key)]
    else:
        key = None
        parts = [F.col(c) for c in cluster_by]
    out = (
        df.repartitionByRange(n_files, *parts)
        if n_files
        else df.repartitionByRange(*parts)
    )
    out = out.sortWithinPartitions(*parts)
    return out.drop(key) if key else out


def local_table(
    spark: SparkSession, rows, schema: str | StructType
) -> DataFrame:
    """A small constant relation built entirely in the JVM.

    Same schema (nullability included) and bit-identical values as
    ``spark.createDataFrame`` gives for the same rows and schema —
    None, NaN, +-inf, -0.0, bigints, unicode, arrays, zero rows — but
    ``createDataFrame`` over a Python list plans as a scan of a
    pickled Python RDD, so running it forks the Python daemon and its
    workers.  Here every row is a struct of typed literals and the
    relation is ONE ``inline`` over their array on a 1-row range: a
    codegen'd ``Generate``, no Python process.  ``rows`` are
    sequences of values in ``schema`` order; ``schema`` is a DDL
    string or a ``StructType``.  For literal tables (percentile
    lists, driver-side readouts), not for data."""
    st = _parse_datatype_string(schema) if isinstance(schema, str) else schema
    structs = [
        F.struct(
            *[F.lit(v).cast(f.dataType).alias(f.name)
              for v, f in zip(row, st.fields)]
        )
        for row in rows
    ]
    # containsNull=False keeps non-nullable fields non-nullable:
    # inline marks every field nullable when the array may hold nulls
    return spark.range(1, numPartitions=1).select(
        F.inline(F.array(*structs).cast(ArrayType(st, False)))
    )


def rewrite_tmp(table: str) -> str:
    """Name of the tmp table ``TableIO.rewrite`` snapshots ``table``
    into (same database, so it lands next to the table)."""
    return f"{table}__rewrite_tmp"


class TableIO:
    """Format-agnostic batch/streaming table I/O."""

    def __init__(self, spark: SparkSession, fmt: str | None = None):
        self.spark = spark
        self.fmt = fmt or ("delta" if has_delta() else "parquet")

    # ---------------------------------------------------------- batch
    def read(self, table: str) -> DataFrame:
        """Batch table scan (SURVEY S5)."""
        return self.spark.read.table(table)

    def write_append(
        self, df: DataFrame, table: str, partition_by: list[str] | None = None
    ) -> None:
        """Batch append sink (SURVEY S9 — the DQ issue log pattern)."""
        writer = (
            rebalance_partitions(df, partition_by)
            .write.format(self.fmt)
            .mode("append")
        )
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.saveAsTable(table)

    def write_overwrite(
        self, df: DataFrame, table: str, partition_by: list[str] | None = None
    ) -> None:
        """Batch overwrite with schema evolution (SURVEY S8)."""
        writer = (
            rebalance_partitions(df, partition_by)
            .write.format(self.fmt)
            .mode("overwrite")
            .option("overwriteSchema", "true")
        )
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.saveAsTable(table)

    # ------------------------------------------------------ streaming
    def read_stream(self, table: str) -> DataFrame:
        """Streaming table source (SURVEY S4).

        Incremental tailing of a managed table.  With delta this is the
        reference's ``readStream.format("delta").table(t)``
        (``silver_transformation.py:78``); parquet tables do not
        support incremental streaming reads, so the fallback streams
        the table's files (exactly-once via the file-source log).
        """
        if self.fmt == "delta":
            return self.spark.readStream.table(table)
        # parquet fallback: stream the table directory as a file source
        location = self._table_location(table)
        schema = self.spark.read.table(table).schema
        return (
            self.spark.readStream.format("parquet").schema(schema).load(location)
        )

    def write_stream(
        self,
        df: DataFrame,
        table: str,
        checkpoint: str,
        partition_by: list[str] | None = None,
        available_now: bool = True,
    ):
        """Streaming append sink (SURVEY S6-S7).

        Uses ``trigger(availableNow=True)`` — the modern replacement
        for the reference's deprecated ``trigger(once=True)``
        (SURVEY 4.3-L9): availableNow respects source rate limits and
        splits a large backlog into multiple micro-batches instead of
        one unbounded batch.
        """
        writer = (
            rebalance_partitions(df, partition_by)
            .writeStream.format(self.fmt)
            .outputMode("append")
            .option("checkpointLocation", checkpoint)
        )
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.toTable(table)

    def write_bucketed(
        self,
        df: DataFrame,
        table: str,
        buckets: int,
        bucket_cols: list[str],
        sort_cols: list[str] | None = None,
    ) -> None:
        """Bucketed (hash-clustered) table write — the co-location
        primitive: two tables bucketed on the same keys with the same
        bucket count join WITHOUT a shuffle (each task reads matching
        bucket files from both sides).  At 100 TB this converts the
        recurring fact ⋈ fact shuffle into a one-time write-side
        cost.  Bucket count is fixed at write time: pick it for the
        TARGET cluster's parallelism, not the writer's."""
        writer = (
            df.write.format(self.fmt)
            .mode("overwrite")
            .bucketBy(buckets, *bucket_cols)
        )
        if sort_cols:
            writer = writer.sortBy(*sort_cols)
        writer.saveAsTable(table)

    # ---------------------------------------------------- maintenance
    def compact(
        self,
        table: str,
        cluster_by: list[str],
        n_files: int | None = None,
        equidepth: bool = False,
    ) -> None:
        """``OPTIMIZE t ZORDER BY (cols)`` (SURVEY S12) or fallback.

        Delta path issues the real command.  Parquet path ``rewrite``s
        the table through ``cluster`` (range key for one column,
        Z-order key for several).  A table about to be written anyway
        should be written through ``cluster`` instead: that skips the
        snapshot copy and the second full write.
        """
        if self.fmt == "delta":
            cols = ", ".join(cluster_by)
            self.spark.sql(f"OPTIMIZE {table} ZORDER BY ({cols})")
            return
        self.rewrite(
            table, lambda snap: cluster(snap, cluster_by, n_files, equidepth)
        )

    def rewrite(
        self, table: str, fn: Callable[[DataFrame], DataFrame]
    ) -> None:
        """Replace catalog ``table`` with ``fn(snapshot)``.

        A table cannot overwrite itself while a plan still reads it, so
        the current contents are copied into ``rewrite_tmp(table)``
        first, ``fn`` runs over that copy, and its result is written
        to ``table`` as the FINAL write: a clustered layout survives
        only then (copying a clustered tmp into the table re-packs the
        ranged files by SIZE, interleaving key ranges).  The tmp table
        is dropped afterwards.

        A tmp location orphaned by a crashed run is cleared first
        (``saveAsTable`` refuses a managed path that already exists).
        ``table`` is refreshed in this session and in the session of
        ``fn``'s frame: inside ``foreachBatch`` that is the micro-batch
        clone, whose relation cache keeps stale file lists otherwise.
        """
        tmp = rewrite_tmp(table)
        self.spark.sql(f"DROP TABLE IF EXISTS {tmp}")
        shutil.rmtree(self._default_location(tmp), ignore_errors=True)
        self.read(table).write.format(self.fmt).mode(
            "overwrite"
        ).saveAsTable(tmp)
        out = fn(self.read(tmp))
        self.write_overwrite(out, table)
        self.spark.sql(f"DROP TABLE {tmp}")
        for session in (self.spark, out.sparkSession):
            session.catalog.refreshTable(table)

    def _default_location(self, table: str) -> str:
        """Managed location of ``table`` (``<database dir>/<name>``),
        whether or not the table exists."""
        db, _, name = table.rpartition(".")
        loc = self.spark.catalog.getDatabase(
            db or self.spark.catalog.currentDatabase()
        ).locationUri
        return os.path.join(urlparse(loc).path, name.lower())

    def _table_location(self, table: str) -> str:
        # collect() hands back the command's local result rows with no
        # Spark job; a filter().first() on them would plan and run two
        desc = self.spark.sql(f"DESCRIBE TABLE EXTENDED {table}")
        for row in desc.collect():
            if row["col_name"] == "Location":
                return row["data_type"]
        raise ValueError(f"cannot resolve location of table {table!r}")
