"""Source-format breadth: CSV/TSV ingest (batch + streaming with
frozen schema)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from lakehouse_alchemy_bronze_to_gold_pipeline_spark.sources.csv_source import (
    infer_csv_schema,
    read_csv_batch,
    read_csv_stream,
)


def _write_csv(path: str, name: str, lines: list[str]) -> None:
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, name), "w") as fh:
        fh.write("\n".join(lines) + "\n")


def test_csv_batch_infer_and_frozen_schema(spark, tmp_path):
    d = str(tmp_path / "csv")
    _write_csv(d, "a.csv", ["k,v,ts", "1,alpha,2024-01-01", "2,beta,2024-01-02"])
    schema = infer_csv_schema(spark, d)
    assert [f.name for f in schema.fields] == ["k", "v", "ts"]
    assert schema["k"].dataType.simpleString() == "int"
    got = {r.k: r.v for r in read_csv_batch(spark, d, schema).collect()}
    assert got == {1: "alpha", 2: "beta"}


def test_csv_infer_raises_on_empty_dir(spark, tmp_path):
    d = str(tmp_path / "empty")
    os.makedirs(d)
    with pytest.raises(ValueError, match="no schema"):
        infer_csv_schema(spark, d)


def test_csv_failfast_rejects_malformed(spark, tmp_path):
    from pyspark.sql.types import (
        IntegerType,
        StructField,
        StructType,
    )

    d = str(tmp_path / "bad")
    _write_csv(d, "a.csv", ["k,n", "1,2", "3,not_an_int"])
    schema = StructType(
        [StructField("k", IntegerType()), StructField("n", IntegerType())]
    )
    with pytest.raises(Exception):  # Spark wraps the malformed-row error
        read_csv_batch(spark, d, schema).collect()


def test_tsv_same_code_path(spark, tmp_path):
    d = str(tmp_path / "tsv")
    _write_csv(d, "a.tsv", ["k\tv", "1\tx", "2\ty"])
    rows = read_csv_batch(spark, d, delimiter="\t").collect()
    assert {r.k: r.v for r in rows} == {1: "x", 2: "y"}


def test_csv_streaming_frozen_schema_incremental(spark, tmp_path):
    src = str(tmp_path / "stream")
    _write_csv(src, "a.csv", ["k,v", "1,one", "2,two"])
    schema = infer_csv_schema(spark, src)

    def run():
        rows = []
        q = (
            read_csv_stream(spark, src, schema)
            .withColumn("v_up", F.upper("v"))
            .writeStream.foreachBatch(
                lambda df, _id: rows.extend(df.collect())
            )
            .option("checkpointLocation", str(tmp_path / "cp"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return rows

    got1 = {r.k: r.v_up for r in run()}
    assert got1 == {1: "ONE", 2: "TWO"}
    # incremental: a new file processed once, old files not replayed
    _write_csv(src, "b.csv", ["k,v", "3,three"])
    got2 = {r.k: r.v_up for r in run()}
    assert got2 == {3: "THREE"}
