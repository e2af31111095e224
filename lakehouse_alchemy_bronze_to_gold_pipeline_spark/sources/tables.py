"""Catalog table I/O for the medallion, plus the layout helpers every
table writer shares (SURVEY S4-S9).

Every reference sink is ``format("delta")`` (``bronze_ingestion.py:86``
etc.).  Here the medallion's tables are parquet tables in the session
catalog, written and streamed through ``TableIO``'s five calls; a
table that needs history, compaction (``OPTIMIZE ... ZORDER BY``) or
an SCD-1 upsert lives on the Delta log instead
(``sources.deltalog.DeltaLogTable``), where an overwrite can read the
files it replaces.  ``saveAsTable`` and ``toTable`` appear nowhere
else in the engine.

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
- ``cluster`` is the one layout step behind ``OPTIMIZE ... ZORDER BY``
  (``gold_transformation.py:85,160``): ``repartitionByRange`` on the
  cluster keys + sortWithinPartitions gives the data-skipping
  locality (min/max pruning on sorted parquet row groups).  A writer
  applies it before a table's first write (the medallion's clustered
  dims); ``DeltaLogTable.optimize`` applies it to a snapshot.
- ``local_table()`` is how the engine builds a constant relation:
  typed literals in the JVM, never a Python list handed to
  ``createDataFrame`` (that forks Python workers to scan it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StructType, _parse_datatype_string


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


class TableIO:
    """Batch/streaming I/O on parquet tables in the session catalog."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

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
            .write.format("parquet")
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
            .write.format("parquet")
            .mode("overwrite")
            .option("overwriteSchema", "true")
        )
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.saveAsTable(table)

    # ------------------------------------------------------ streaming
    def read_stream(self, table: str) -> DataFrame:
        """Streaming table source (SURVEY S4).

        Incremental tailing of a managed table, the reference's
        ``readStream.format("delta").table(t)``
        (``silver_transformation.py:78``): a parquet table supports no
        incremental streaming read, so this streams the table's files
        (exactly-once via the file-source log).
        """
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
            .writeStream.format("parquet")
            .outputMode("append")
            .option("checkpointLocation", checkpoint)
        )
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.toTable(table)

    def _table_location(self, table: str) -> str:
        # collect() hands back the command's local result rows with no
        # Spark job; a filter().first() on them would plan and run two
        desc = self.spark.sql(f"DESCRIBE TABLE EXTENDED {table}")
        for row in desc.collect():
            if row["col_name"] == "Location":
                return row["data_type"]
        raise ValueError(f"cannot resolve location of table {table!r}")
