"""SparkSession construction for the engine.

The reference assumes a Databricks runtime with Delta + Unity Catalog
pre-wired (``/root/reference/.../bronze_ingestion.py:26-28``).  We build
a plain OSS session instead, with no Delta extension: the medallion's
catalog tables are parquet (``sources.tables.TableIO``), and tables
that need history, compaction or an upsert live on the Delta log the
engine reads and writes itself (``sources.deltalog``).

Scale posture: these defaults are tuned so the *same* code runs on
``local[N]`` for tests and on a multi-executor cluster unchanged —
AQE handles runtime coalescing/skew, shuffle partitions default to
cluster parallelism, and session timezone is pinned UTC so event-time
semantics do not depend on driver locale.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

def get_spark(
    app_name: str = "lakehouse_alchemy_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    - AQE on (coalesce + skew-join): runtime re-planning is our skew
      defense at 100 TB; explicit salting helpers exist in
      ``operators.skew`` for the pathological cases AQE can't fix.
    - ``spark.sql.shuffle.partitions`` defaults to local parallelism in
      local mode (not Spark's legacy 200); on a real cluster leave it
      to AQE's coalescing from a high initial value.
    - Arrow enabled: every pandas_udf / toPandas crosses via Arrow.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if master.startswith("local") else 200

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
