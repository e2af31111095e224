"""End-to-end medallion pipeline: JSON fixtures -> bronze -> silver,
then an incremental file -> second availableNow run -> checkpointed
dedup across runs (the reference's initial + ``*_new`` fixture flow,
SURVEY section 5)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from lakehouse_alchemy_bronze_to_gold_pipeline_spark.catalog import Lakehouse
from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators.quality import (
    email_rule,
    null_pk_rule,
    positive_rule,
)
from lakehouse_alchemy_bronze_to_gold_pipeline_spark.sources.json_source import (
    infer_json_schema,
)
from lakehouse_alchemy_bronze_to_gold_pipeline_spark.streaming.pipeline import (
    EntityConfig,
    MedallionPipeline,
)

CUSTOMERS = [
    {"customer_id": 1, "name": "Ada", "email": "ada@ex.com",
     "address": {"city": "oslo", "country": "no"}},
    {"customer_id": 2, "name": "Bo", "email": "not-an-email",
     "address": {"city": "bergen", "country": "no"}},
]
CUSTOMERS_NEW = [
    {"customer_id": 1, "name": "Ada", "email": "ada@ex.com",
     "address": {"city": "oslo", "country": "no"}},  # dup of id 1
    {"customer_id": 3, "name": "Cy", "email": "cy@ex.com",
     "address": {"city": "tromso", "country": "no"}},
]


def write_json(dirpath: str, name: str, records) -> None:
    os.makedirs(dirpath, exist_ok=True)
    with open(os.path.join(dirpath, name), "w") as f:
        json.dump(records, f)


@pytest.fixture()
def pipeline(spark, tmp_path):
    src = str(tmp_path / "src" / "customers")
    write_json(src, "customers.json", CUSTOMERS)
    lh = Lakehouse(spark, str(tmp_path / "wh"), prefix=f"t{os.getpid()}")
    cfg = EntityConfig(
        name="customers",
        source_dir=src,
        primary_keys=["customer_id"],
        quality_rules=[null_pk_rule(["customer_id"]), email_rule("email")],
    )
    pipe = MedallionPipeline(spark, lh, [cfg])
    yield pipe, src, lh
    for layer in ("bronze", "silver", "quality"):
        spark.sql(f"DROP DATABASE IF EXISTS {lh.prefix}_{layer} CASCADE")


def test_bronze_silver_incremental_dedup(spark, pipeline):
    pipe, src, lh = pipeline

    pipe.run_bronze_silver(["customers"])
    bronze = spark.read.table(lh.table("bronze", "customers"))
    assert bronze.count() == 2
    assert set(bronze.columns) == {"payload", "ingest_file", "bronze_ingest_ts"}
    assert bronze.select("ingest_file").first()[0].endswith("customers.json")

    silver = spark.read.table(lh.table("silver", "customers"))
    # struct flattened with prefix naming, dedup keys intact
    assert "address_city" in silver.columns
    assert silver.count() == 2

    # incremental: add *_new file, re-run -> only new rows processed,
    # checkpointed dedup drops the re-sent customer_id=1
    write_json(src, "customers_new.json", CUSTOMERS_NEW)
    pipe.run_bronze_silver(["customers"])
    bronze2 = spark.read.table(lh.table("bronze", "customers"))
    assert bronze2.count() == 4  # bronze is raw append (no dedup)
    silver2 = spark.read.table(lh.table("silver", "customers"))
    ids = sorted(r[0] for r in silver2.select("customer_id").collect())
    assert ids == [1, 2, 3]  # state store deduped id=1 across runs


def test_quality_layer_end_to_end(spark, pipeline):
    pipe, src, lh = pipeline
    pipe.run_bronze_silver(["customers"])
    counts = {r.rule: r.n_violations for r in
              pipe.run_quality("customers", "silver").collect()}
    assert counts["null_pk[customer_id]"] == 0
    assert counts["email[email]"] == 1
    issues = spark.read.table(lh.table("quality", "quality_issues"))
    assert issues.columns == ["entity", "rule", "check_ts", "record"]
    bad = issues.filter(F.col("rule").startswith("email")).collect()
    assert len(bad) == 1 and bad[0].entity == "customers"
    assert json.loads(bad[0].record)["customer_id"] == 2


def test_run_quality_counts_collect_with_no_job(spark, pipeline):
    """The counts are observed during the audit write, so collecting
    ``run_quality``'s result runs no Spark job."""
    pipe, src, lh = pipeline
    pipe.run_bronze_silver(["customers"])
    counts = pipe.run_quality("customers")
    sc = spark.sparkContext
    group = "run_quality_collect"
    sc.setJobGroup(group, "collect")
    try:
        rows = counts.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert {r.rule: r.n_violations for r in rows} == {
        "null_pk[customer_id]": 0, "email[email]": 1,
    }


def test_quality_audit_shared_by_entities_with_different_columns(
    spark, tmp_path
):
    """Every entity appends to the one ``quality_issues`` table, whose
    rows have a fixed (entity, rule, check_ts, record) schema, so an
    entity whose columns differ from the first one's appends too."""
    customers = str(tmp_path / "src" / "customers")
    products = str(tmp_path / "src" / "products")
    write_json(customers, "customers.json", CUSTOMERS)
    write_json(products, "products.json", [
        {"product_id": 10, "price": -1.0, "category": "a"},
        {"product_id": 11, "price": 0.0, "category": "b"},
        {"product_id": 12, "price": 5.0, "category": "c"},
    ])
    lh = Lakehouse(spark, str(tmp_path / "wh"), prefix=f"q{os.getpid()}")
    pipe = MedallionPipeline(spark, lh, [
        EntityConfig(
            name="customers", source_dir=customers,
            primary_keys=["customer_id"],
            quality_rules=[null_pk_rule(["customer_id"]),
                           email_rule("email")],
        ),
        EntityConfig(
            name="products", source_dir=products,
            primary_keys=["product_id"],
            quality_rules=[null_pk_rule(["product_id"]),
                           positive_rule(["price"])],
        ),
    ])
    try:
        pipe.run_bronze_silver()
        counts = {
            name: {r.rule: r.n_violations
                   for r in pipe.run_quality(name).collect()}
            for name in ("customers", "products")
        }
        assert counts["products"] == {
            "null_pk[product_id]": 0, "positive[price]": 2,
        }
        issues = spark.read.table(lh.table("quality", "quality_issues"))
        per_entity = {
            r.entity: r.n
            for r in issues.groupBy("entity").count()
            .withColumnRenamed("count", "n").collect()
        }
        assert per_entity == {
            name: sum(c.values()) for name, c in counts.items()
        }
        prices = sorted(
            json.loads(r.record)["price"]
            for r in issues.filter(F.col("entity") == "products").collect()
        )
        assert prices == [-1.0, 0.0]
    finally:
        for layer in ("bronze", "silver", "quality"):
            spark.sql(f"DROP DATABASE IF EXISTS {lh.prefix}_{layer} CASCADE")


def test_infer_schema_raises_on_empty(spark, tmp_path):
    empty = str(tmp_path / "empty")
    os.makedirs(empty, exist_ok=True)
    with pytest.raises(Exception):
        infer_json_schema(spark, empty)


def test_bronze_schema_frozen_at_first_ingest(spark, pipeline):
    """A field first seen in a later file lands without that field:
    Bronze freezes the schema inferred when the table was created and
    later calls reuse the table's ``payload`` struct.  Drift detection
    (ROADMAP item 5) will change this — the new field is to be recorded
    or evolved, not silently dropped."""
    pipe, src, lh = pipeline
    pipe.bronze_ingest("customers")
    write_json(src, "customers_new.json", [
        {"customer_id": 4, "name": "Di", "email": "di@ex.com",
         "address": {"city": "oslo", "country": "no"}, "phone": "555"},
    ])
    table = pipe.bronze_ingest("customers")
    bronze = spark.read.table(table)
    assert bronze.count() == 3
    payload = bronze.schema["payload"].dataType
    assert "phone" not in payload.fieldNames()
    new = bronze.filter(F.col("ingest_file").endswith("customers_new.json"))
    row = new.select("payload.*").first()
    assert (row.customer_id, row.name, row.address.city) == (4, "Di", "oslo")
