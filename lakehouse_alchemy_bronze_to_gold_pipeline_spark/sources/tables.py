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
- Every ``TableIO`` write sizes its files by bytes, not by date
  (``TableIO._layout``).  Without native Hadoop IO the local file
  system forks ``chmod`` for every file and partition directory it
  creates, so the file count is the cost of a write.  A table that
  exists keeps its own partition columns.  A new table gets one
  directory per ``partition_by`` value only when a job-free upper
  bound on the write's bytes reaches one target file
  (``spark.sql.files.maxPartitionBytes``); below it no value can fill
  a file, so the table is written unpartitioned and range-partitioned
  on ``partition_by``: at most ``spark.sql.shuffle.partitions`` files
  per write (or micro-batch), each holding a disjoint range of the
  column, which parquet min/max pruning skips like a directory.  A
  partitioned write is rebalanced to one file per value per write
  instead of one per (task, value).  The limit: a new table over the
  bound whose values are each still far below a file keeps the
  directory layout; sizing those needs per-file stats a reader can
  prune on (the Delta log's ``add.stats``).
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


def _target_file_bytes(spark: SparkSession) -> int:
    """One target file: ``spark.sql.files.maxPartitionBytes``, the
    split a scan reads as one task."""
    conf = spark._jsparkSession.sessionState().conf()
    return int(conf.filesMaxPartitionBytes())


def _bytes_bound(df: DataFrame) -> float:
    """A job-free bound on the bytes ``df`` holds: the sum of its
    plan's leaf sizes, the bytes it reads, in batch and streaming
    alike.  Not the optimizer's ``sizeInBytes``: a join's is the
    product of its inputs', so a small fact with two dims would bound
    at gigabytes.  A static leaf counts its relation's
    ``stats().sizeInBytes``; a streaming file source counts the
    on-disk size of its path, listed through the Hadoop file system
    (all of a source's files bound any one micro-batch).  A leaf with
    no size (a streaming source that is not a path, or a ``LogicalRDD``
    at Spark's default estimate) bounds nothing: ``inf``."""
    jss = df.sparkSession._jsparkSession
    unknown = jss.sessionState().conf().defaultSizeInBytes()
    hadoop_conf = None
    total = 0
    leaves = df._jdf.queryExecution().analyzed().collectLeaves().iterator()
    while leaves.hasNext():
        leaf = leaves.next()
        if not leaf.isStreaming():
            size = int(leaf.stats().sizeInBytes())
            if size >= unknown:
                return float("inf")
            total += size
            continue
        if leaf.getClass().getSimpleName() != "StreamingRelation":
            return float("inf")
        path = leaf.dataSource().options().get("path")
        if not path.isDefined():
            return float("inf")
        hadoop_conf = hadoop_conf or jss.sessionState().newHadoopConf()
        glob = df.sparkSession._jvm.org.apache.hadoop.fs.Path(path.get())
        fs = glob.getFileSystem(hadoop_conf)
        for st in fs.globStatus(glob) or []:
            total += fs.getContentSummary(st.getPath()).getLength()
    return total


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
        df, parts = self._layout(df, table, partition_by)
        df.write.format("parquet").mode("append").partitionBy(
            *parts
        ).saveAsTable(table)

    def write_overwrite(
        self, df: DataFrame, table: str, partition_by: list[str] | None = None
    ) -> None:
        """Batch overwrite with schema evolution (SURVEY S8)."""
        df, parts = self._layout(df, table, partition_by)
        df.write.format("parquet").mode("overwrite").option(
            "overwriteSchema", "true"
        ).partitionBy(*parts).saveAsTable(table)

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
        df, parts = self._layout(df, table, partition_by)
        writer = (
            df.writeStream.format("parquet")
            .outputMode("append")
            .option("checkpointLocation", checkpoint)
            .partitionBy(*parts)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.toTable(table)

    # --------------------------------------------------------- layout
    def _layout(
        self, df: DataFrame, table: str, partition_by: list[str] | None
    ) -> tuple[DataFrame, list[str]]:
        """The frame to write and the partition columns to write it
        under, sized by bytes (module docstring).  A table that exists
        keeps its partition columns; a new one is partitioned on
        ``partition_by`` only when ``_bytes_bound(df)`` reaches one
        target file.  Unpartitioned, ``df`` is range-partitioned on
        ``partition_by`` (and, in batch, sorted within files, as
        ``cluster`` does; a stream cannot sort).  Runs no Spark job."""
        if self.spark.catalog.tableExists(table):
            parts = self._partition_columns(table)
        elif partition_by and _bytes_bound(df) >= _target_file_bytes(
            self.spark
        ):
            parts = list(partition_by)
        else:
            parts = []
        if parts:
            return df.hint("rebalance", *parts), parts
        if not partition_by:
            return df, []
        if df.isStreaming:
            return df.repartitionByRange(*partition_by), []
        return cluster(df, list(partition_by)), []

    def _partition_columns(self, table: str) -> list[str]:
        # the session catalog's metadata, where spark.catalog.listColumns
        # would run two jobs to hand it back
        jss = self.spark._jsparkSession
        ident = jss.sessionState().sqlParser().parseTableIdentifier(table)
        cols = jss.sessionState().catalog().getTableMetadata(
            ident
        ).partitionColumnNames()
        return [cols.apply(i) for i in range(cols.size())]

    def _table_location(self, table: str) -> str:
        # collect() hands back the command's local result rows with no
        # Spark job; a filter().first() on them would plan and run two
        desc = self.spark.sql(f"DESCRIBE TABLE EXTENDED {table}")
        for row in desc.collect():
            if row["col_name"] == "Location":
                return row["data_type"]
        raise ValueError(f"cannot resolve location of table {table!r}")

