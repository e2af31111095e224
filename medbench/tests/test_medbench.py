"""The benchmark's own tests: seeded inputs repeat byte for byte, every
stage a traced run executes is attributed to exactly one span, and a
failing operation lowers ``ok_frac`` without stopping the run."""

from __future__ import annotations

import hashlib
import json
import os

import pytest

from gen import ENTITIES, Landing, write_registry_tables
from probe import Recorder
from run import END_TO_END, per_layer_names
from workloads import CheckFailed, Medallion, query_sample

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def tree_digest(root: str) -> str:
    h = hashlib.md5()
    for dirpath, _dirs, files in sorted(os.walk(root)):
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(dirpath, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def render(root: str, seed: int) -> tuple[str, list]:
    led = Landing(seed, str(root), 60, 20)
    exps = [led.base(10, 50), led.increment(10, 0.1)]
    return tree_digest(str(root)), exps


def test_generator_same_seed_same_bytes(tmp_path):
    a, exp_a = render(tmp_path / "a", 7)
    b, exp_b = render(tmp_path / "b", 7)
    c, _ = render(tmp_path / "c", 8)
    assert a == b and exp_a == exp_b
    assert a != c


def test_registry_tables_same_seed_same_bytes(tmp_path):
    write_registry_tables(str(tmp_path / "a"), 3, 0.001)
    write_registry_tables(str(tmp_path / "b"), 3, 0.001)
    write_registry_tables(str(tmp_path / "c"), 4, 0.001)
    assert tree_digest(str(tmp_path / "a")) == tree_digest(str(tmp_path / "b"))
    assert tree_digest(str(tmp_path / "a")) != tree_digest(str(tmp_path / "c"))


def test_ledger_plants_every_defect(tmp_path):
    led = Landing(5, str(tmp_path), 400, 100)
    exp = led.base(30, 300)
    assert exp.bronze["orders"] == 300
    lines = sum(len(o["items"]) for o in led.orders)
    assert 3.5 < lines / 300 < 4.5  # four lines per order, as in the test data
    assert exp.fact < exp.silver["orders"]  # orphans and bad quantities drop out
    for entity in ENTITIES:
        assert sum(exp.dq[entity].values()) > 0, entity
    inc = led.increment(30, 0.1)
    assert inc.bronze["orders"] == 30 + 3  # 10% new, plus re-sent copies
    assert inc.silver["orders"] == sum(len(o["items"]) for o in led.orders[-30:])
    assert inc.bronze["customers"] > inc.silver["customers"]
    assert inc.dims[0] > exp.dims[0]


def test_drops_stay_staged_until_published(tmp_path):
    led = Landing(6, str(tmp_path), 40, 20)
    base, inc = led.base(5, 20), led.increment(5, 0.1)
    assert not os.path.exists(tmp_path / "orders")
    led.publish(base)
    assert sorted(os.listdir(tmp_path / "orders")) == [f"drop0000_{k}.json" for k in range(4)]
    led.publish(inc)
    assert len(os.listdir(tmp_path / "orders")) == 6


def test_benchmark_json_names_match_the_code():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["end_to_end"]] == list(END_TO_END)
    assert [m["unit"] for m in bench["end_to_end"]] == list(END_TO_END.values())
    layers = per_layer_names()
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == layers
    assert len(layers) <= 128


def test_query_sample_is_fixed_and_stratified():
    names = query_sample()
    assert names == query_sample() and len(names) == len(set(names)) == 11
    for q in ("als_rank2_fixed", "quantile_digest_accuracy",
              "simhash_accuracy", "pricing_summary"):
        assert q in names


def test_failing_operation_lowers_ok_frac_and_run_goes_on():
    rec = Recorder(None, "t", traced=False, lakehouse_root=".")
    with rec.op("fine"):
        pass
    with rec.op("raises"):
        raise RuntimeError("boom")
    with rec.op("after"):
        pass
    assert [ok for _, _, ok in rec.ops] == [True, False, True]
    assert rec.errors == ["raises: RuntimeError: boom"]
    rec.fail(0, "CheckFailed: late mismatch")
    assert sum(ok for _, _, ok in rec.ops) / len(rec.ops) == pytest.approx(1 / 3)


def test_traced_pass_attributes_every_stage(spark, tmp_path):
    """A traced medallion pass: every stage, including those streaming
    queries run on their own threads, falls in one layer or check span,
    and per-layer task CPU sums to the timed section's."""
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    rec = Recorder(spark, "t", traced=True, lakehouse_root=warehouse)
    led = Landing(11, str(tmp_path / "landing"), 60, 20)
    exp = led.base(6, 24)
    m = Medallion(spark, rec, str(tmp_path), led, "attr")
    led.publish(exp)
    for e in ENTITIES:
        with rec.op("bronze"):
            m.bronze(e, exp)
        with rec.op("silver"):
            m.silver(e, exp)
    with rec.op("dims"):
        m.dim_customers(exp)
        m.dim_products(exp)
    with rec.op("fact"):
        m.fact(exp)
    with rec.op("quality"):
        m.quality("customers", exp)
    rec.close()
    m.verify_rows(rec)
    assert all(ok for _, _, ok in rec.ops), rec.errors
    assert rec.unattributed_stages == 0 and rec.missing_stages == 0
    layers = [s for s in rec.spans if s.name.startswith("pipeline.")]
    by_layer: dict[str, float] = {}
    for s in layers:
        by_layer[s.name] = by_layer.get(s.name, 0.0) + s.counters["task_cpu_s"]
    assert sum(by_layer.values()) == pytest.approx(rec.timed_task_cpu_s, abs=1e-6)
    silver = [s for s in layers if s.name == "pipeline.silver_transform"]
    assert all(s.counters["task_cpu_s"] > 0 and s.counters["batches"] == 1 for s in silver)
    assert all(s.counters["state_rows"] > 0 for s in silver)
    fact = [s for s in layers if s.name == "pipeline.build_gold_fact"]
    assert fact[0].counters["files_written"] > 0


def test_wrong_output_fails_the_operation(spark, tmp_path):
    rec = Recorder(spark, "t", traced=False, lakehouse_root=str(tmp_path))
    led = Landing(12, str(tmp_path / "landing"), 30, 10)
    exp = led.base(3, 9)
    m = Medallion(spark, rec, str(tmp_path), led, "bad")
    led.publish(exp)
    exp.bronze["customers"] -= 1  # a wrong expectation
    with rec.op("bronze"):
        m.bronze("customers", exp)
    with rec.op("silver"):
        m.silver("customers", exp)
    assert [ok for _, _, ok in rec.ops] == [True, True]  # checks run afterwards
    m.verify_rows(rec)
    assert [ok for _, _, ok in rec.ops] == [False, True]
    assert rec.errors == [
        f"bronze: CheckFailed: bronze customers rows from drop 0: got "
        f"{exp.bronze['customers'] + 1}, want {exp.bronze['customers']}"
    ]
    m.expect_rows("silver", "customers", 0, 1)  # outside any operation, a bad check raises
    with pytest.raises(CheckFailed):
        m.verify_rows(rec)
