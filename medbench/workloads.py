"""The benchmark's workloads.

Each is a closed loop with one client: the next operation starts when
the previous one has returned.  Each drives the engine only through its
public calls (``MedallionPipeline`` methods, ``operators.star``
builders and the ``queries.SPARK_QUERIES`` registry) and checks every
operation's output against the generator's ledger or a DuckDB oracle,
outside the timed section.  An operation that raises, or whose output
does not check, counts as failed; the run goes on.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import subprocess
import sys

from pyspark.sql import functions as F

from lakehouse_alchemy_bronze_to_gold_pipeline_spark.catalog import Lakehouse
from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators.quality import (
    date_range_rule,
    email_rule,
    null_pk_rule,
    positive_rule,
    whitespace_rule,
)
from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators.star import (
    DimSpec,
    build_dim,
    build_fact,
)
from lakehouse_alchemy_bronze_to_gold_pipeline_spark.streaming.pipeline import (
    EntityConfig,
    MedallionPipeline,
)

from gen import DQ_MAX_TS, DQ_MIN_TS, ENTITIES, Expect, Landing

HERE = os.path.dirname(os.path.abspath(__file__))


class CheckFailed(Exception):
    """An operation's output disagrees with the expected result."""


def expect_equal(what: str, got, want) -> None:
    if got != want:
        raise CheckFailed(f"{what}: got {got!r}, want {want!r}")


# ----------------------------------------------------------------------
# medallion pipeline wiring


def entity_configs(landing: str) -> list[EntityConfig]:
    return [
        EntityConfig(
            name="customers",
            source_dir=os.path.join(landing, "customers"),
            primary_keys=["customer_id"],
            quality_rules=[
                null_pk_rule(["customer_id"]),
                email_rule("email"),
                whitespace_rule(["name"]),
            ],
        ),
        EntityConfig(
            name="products",
            source_dir=os.path.join(landing, "products"),
            primary_keys=["product_id"],
            quality_rules=[null_pk_rule(["product_id"]), positive_rule(["price"])],
        ),
        EntityConfig(
            name="orders",
            source_dir=os.path.join(landing, "orders"),
            primary_keys=["order_id", "items_item_id"],
            explode_targets={"items"},
            quality_rules=[
                null_pk_rule(["order_id"]),
                positive_rule(["items_quantity"]),
                date_range_rule("timestamp", DQ_MIN_TS, DQ_MAX_TS),
            ],
        ),
    ]


class Medallion:
    """One lakehouse and the rendered landing zone that feeds it."""

    def __init__(self, spark, rec, work: str, ledger: Landing, prefix: str):
        self.spark = spark
        self.rec = rec
        self.ledger = ledger
        self.lh = Lakehouse(spark, os.path.join(work, f"{prefix}_lakehouse"), prefix=prefix)
        self.pipe = MedallionPipeline(spark, self.lh, entity_configs(ledger.root))
        # row counts to check after the timed section: (op, layer, entity, drop, want)
        self.pending: list[tuple[int | None, str, str, int, int]] = []

    def table(self, layer: str, name: str):
        return self.spark.read.table(self.lh.table(layer, name))

    def expect_rows(self, layer: str, entity: str, drop: int, want: int) -> None:
        """Defer a check: rows of ``layer.entity`` that came from drop
        ``drop``'s files.  Every layer keeps the landed file's path."""
        self.pending.append((self.rec.op_index, layer, entity, drop, want))

    def verify_rows(self, rec) -> None:
        """One grouped count per table for every deferred check; a
        mismatch fails the operation that wrote the rows (or raises,
        for a check made outside any operation)."""
        got: dict[tuple[str, str], dict[int, int]] = {}
        with rec.call("check"):
            for layer, entity in sorted({(p[1], p[2]) for p in self.pending}):
                drop = F.regexp_extract("ingest_file", r"/drop(\d+)_", 1).cast("int")
                rows = self.table(layer, entity).groupBy(drop.alias("d")).count().collect()
                got[layer, entity] = {r["d"]: r["count"] for r in rows}
        for op, layer, entity, drop, want in self.pending:
            n = got[layer, entity].get(drop, 0)
            if n == want:
                continue
            msg = f"{layer} {entity} rows from drop {drop}: got {n}, want {want}"
            if op is None:
                raise CheckFailed(msg)
            rec.fail(op, f"CheckFailed: {msg}")
        self.pending.clear()

    # ------------------------------------------------------------ calls
    def bronze(self, e: str, exp: Expect) -> None:
        with self.rec.call("pipeline.bronze_ingest"):
            self.pipe.bronze_ingest(e)
        self.expect_rows("bronze", e, exp.drop, exp.bronze[e])

    def silver(self, e: str, exp: Expect) -> None:
        with self.rec.call("pipeline.silver_transform"):
            self.pipe.silver_transform(e)
        self.expect_rows("silver", e, exp.drop, exp.silver[e])

    def dim_customers(self, exp: Expect) -> None:
        with self.rec.call("pipeline.build_gold_dim"):
            dim = build_dim(
                self.table("silver", "customers"),
                {
                    "customer_id": "customer_id",
                    "name": F.trim("name"),
                    "email": F.lower("email"),
                    "city": F.initcap("address_city"),
                    "country": F.upper("address_country"),
                },
                not_null=["customer_id"],
            )
            self.pipe.build_gold_dim("customers", dim)
        with self.rec.call("check"):
            got = self.table("gold", "dim_customers").count()
            expect_equal("dim_customers rows", got, exp.dims[0])

    def dim_products(self, exp: Expect) -> None:
        with self.rec.call("pipeline.build_gold_dim"):
            dim = build_dim(
                self.table("silver", "products"),
                {
                    "product_id": "product_id",
                    "product_name": F.lower("product_name"),
                    "category": "category",
                    "price": "price",
                },
                not_null=["product_id"],
                filters=[F.col("price") > 0],
            )
            self.pipe.build_gold_dim("products", dim, cluster_by=["product_id"])
        with self.rec.call("check"):
            got = self.table("gold", "dim_products").count()
            expect_equal("dim_products rows", got, exp.dims[1])

    def full_pass(self, exp: Expect) -> None:
        """Publish a rendered drop, then bronze -> silver per entity, gold
        dims, the stream-static fact, then DQ per entity; each call is
        one unit operation."""
        self.ledger.publish(exp)
        op = self.rec.op
        for e in ENTITIES:
            with op(f"bronze_ingest:{e}"):
                self.bronze(e, exp)
            with op(f"silver_transform:{e}"):
                self.silver(e, exp)
        with op("build_gold_dim:customers"):
            self.dim_customers(exp)
        with op("build_gold_dim:products"):
            self.dim_products(exp)
        with op("build_gold_fact"):
            self.fact(exp)
        for e in ENTITIES:
            with op(f"run_quality:{e}"):
                self.quality(e, exp)

    def fact(self, exp: Expect) -> None:
        with self.rec.call("pipeline.build_gold_fact"):
            fact = build_fact(
                self.pipe.io.read_stream(self.lh.table("silver", "orders")),
                dims=[
                    DimSpec(self.table("gold", "dim_customers"), "customer_customer_id",
                            "customer_id", {"city": "customer_city",
                                            "country": "customer_country"}),
                    DimSpec(self.table("gold", "dim_products"), "items_item_id",
                            "product_id", {"category": "product_category"}),
                ],
                derived={"line_total": F.col("items_quantity") * F.col("items_price")},
                validity=[F.col("items_quantity") > 0],
                partition_date_source="timestamp",
            )
            self.pipe.build_gold_fact(fact, "fact_sales", partition_by=["order_date"])
        self.expect_rows("gold", "fact_sales", exp.drop, exp.fact)

    def quality(self, e: str, exp: Expect) -> None:
        with self.rec.call("pipeline.run_quality"):
            rows = self.pipe.run_quality(e).collect()
        with self.rec.call("check"):
            got = {r["rule"]: r["n_violations"] for r in rows}
            expect_equal(f"DQ counts {e}", got, exp.dq[e])


# ----------------------------------------------------------------------
# workloads


class MedallionWorkload:
    """Full pass over every entity, then a 10% incremental drop spread
    over all dates and the same pass again, in a fresh lakehouse per
    repetition.  The unit operation is one public pipeline call.

    Density follows the repository's sf0.01 test data: 1,500 customers,
    2,000 products, 6.25 orders per date (15,000 orders over 2,400
    dates) and four lines per order.  The window is ``DAYS`` dates, not
    sf0.01's 2,400: the fact sink writes a file per (task, date), and
    2,400 dates cost 40-60 s of wall time in the fact write alone on
    four cores, more than a run can spend.  ``DAYS`` keeps a pass's
    fact write at a few hundred files, each from a handful of rows, the
    same shape as at sf0.01, within a run of under a minute.
    """

    name = "medallion"
    DAYS = 300
    ORDERS = round(6.25 * DAYS)
    CUSTOMERS, PRODUCTS = 1500, 2000
    INCREMENT = 0.1

    def __init__(self, work: str, seed: int, reps: int):
        self.work, self.seed, self.reps = work, seed, reps
        self.landed_bytes = 0
        self.lakehouses: list[Medallion] = []

    def render(self) -> None:
        """Every drop of every repetition, and the warm-up's."""
        self.drops = []
        for rep in range(self.reps):
            led = Landing(self.seed + rep, os.path.join(self.work, f"med{rep}_landing"),
                          self.CUSTOMERS, self.PRODUCTS)
            exps = (led.base(self.DAYS, self.ORDERS), led.increment(self.DAYS, self.INCREMENT))
            self.drops.append((led, exps))
        self.warm = Landing(0, os.path.join(self.work, "warm_landing"), 40, 20)
        self.warm_exp = self.warm.base(5, 20)

    def setup(self, spark, rec) -> None:
        """Warm-up: a tiny entity through bronze and silver, since a
        process's first streaming query costs several seconds more than
        later ones."""
        self.spark = spark
        m = Medallion(spark, rec, self.work, self.warm, "warm")
        m.ledger.publish(self.warm_exp)
        m.bronze("customers", self.warm_exp)
        m.silver("customers", self.warm_exp)
        m.verify_rows(rec)

    def run(self, rec, rep: int) -> None:
        led, (base, inc) = self.drops[rep]
        m = Medallion(self.spark, rec, self.work, led, f"med{rep}")
        m.full_pass(base)
        m.full_pass(inc)
        self.landed_bytes += led.landed_bytes
        self.lakehouses.append(m)

    def verify(self, rec) -> None:
        for m in self.lakehouses:
            m.verify_rows(rec)


#: query_mix sample: one query from each of the 11 registry modules.  Four
#: are fixed for the cost shape they stand for; the other seven are a
#: seeded pick among each module's oracle-backed queries.
#: ``als_rank2_fixed`` stands in for ``als_float_rank2_readout`` as the
#: build-heavy query: both build by eager ALS iterations, but the float
#: readout's ~17 s build alone would take a third of a run's time budget.
QUERY_SAMPLE_SEED = 20240101
NAMED = {
    "recsys": "als_rank2_fixed",  # build-heavy: eager driver jobs
    "digest": "quantile_digest_accuracy",  # task-overhead-heavy
    "llm_ops": "simhash_accuracy",  # compute-bound
    "core": "pricing_summary",  # plain SQL
}
MODULES = ("advanced", "analytics", "breadth", "core", "corpus", "decision", "digest",
           "llm_ops", "mlaudit", "privacy", "recsys")


def query_sample() -> list[str]:
    import importlib

    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.queries import BENCH_EXCLUDE

    rng = random.Random(QUERY_SAMPLE_SEED)
    out = []
    for mod in MODULES:
        if mod in NAMED:
            out.append(NAMED[mod])
            continue
        m = importlib.import_module(
            f"lakehouse_alchemy_bronze_to_gold_pipeline_spark.queries.{mod}"
        )
        names = sorted(n for n in m.SPARK_QUERIES if n in m.ORACLE_SQL
                       and n not in BENCH_EXCLUDE)
        out.append(rng.choice(names))
    return out


def _cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "<null>"
    if isinstance(v, float):
        return str(int(v)) if v == int(v) and abs(v) < 1e15 else repr(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def result_hash(columns: list[str], rows: list[tuple]) -> tuple[int, str]:
    """Order-insensitive (rows, md5) of a result: columns sorted by
    name, cells stringified with floats in full precision."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.md5()
    for line in lines:
        h.update(line.encode() + b"\n")
    return len(lines), h.hexdigest()


class QueryMixWorkload:
    """A fixed sample of registry queries over generated tables.  The
    unit operation is one query: build, then collect the result.  Each
    result is hashed in a check span and compared with its DuckDB oracle
    after the timed section.  Collecting, not writing to the ``noop``
    sink, lets the one measured execution also be the checked one; a
    noop write would need a second execution to check."""

    name = "query_mix"
    SF = 0.01

    def __init__(self, work: str, seed: int, reps: int):
        self.work, self.seed, self.reps = work, seed, reps
        self.landed_bytes = 0
        self.results: list[tuple[int, str, tuple[int, str]]] = []  # (op, query, hash)
        self.sf_dir = os.path.join(work, "tables")
        self.warm_dir = os.path.join(work, "warm_tables")

    def render(self) -> None:
        """The registry tables, and a tiny copy for the warm-up, each
        written by a child process."""
        for root, seed, sf in ((self.sf_dir, self.seed, self.SF), (self.warm_dir, 0, 0.001)):
            subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), root, str(seed),
                            str(sf)], check=True)

    def setup(self, spark, rec) -> None:
        """Warm-up: one small registry query, to load the classes the
        first timed query would otherwise load."""
        from lakehouse_alchemy_bronze_to_gold_pipeline_spark.queries import SPARK_QUERIES

        self.spark = spark
        self.names = query_sample()
        SPARK_QUERIES["pricing_summary"](spark, self.warm_dir).write.format("noop").mode(
            "overwrite").save()

    def run(self, rec, rep: int) -> None:
        from lakehouse_alchemy_bronze_to_gold_pipeline_spark.queries import SPARK_QUERIES

        for n in self.names:
            with rec.op(f"query:{n}"):
                with rec.call("queries.build"):
                    df = SPARK_QUERIES[n](self.spark, self.sf_dir)
                with rec.call("queries.exec"):
                    rows = df.collect()
                with rec.call("check"):
                    self.spark.catalog.clearCache()
                    got = result_hash(df.columns, [tuple(r) for r in rows])
                    self.results.append((rec.op_index, n, got))

    def verify(self, rec) -> None:
        """Compare every hashed result with its DuckDB oracle."""
        import duckdb

        from lakehouse_alchemy_bronze_to_gold_pipeline_spark.queries import ORACLE_SQL

        con = duckdb.connect()
        try:
            con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
            for t in ("region", "nation", "customer", "supplier", "part", "orders",
                      "lineitem", "events", "documents", "embeddings"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{os.path.join(self.sf_dir, t)}.parquet'")
            oracle = {}
            for op_index, n, got in self.results:
                if n not in ORACLE_SQL:
                    continue
                if n not in oracle:
                    cur = con.execute(ORACLE_SQL[n])
                    oracle[n] = result_hash([d[0] for d in cur.description], cur.fetchall())
                if got != oracle[n]:
                    rec.fail(op_index, f"CheckFailed: {n} (rows, hash) {got} vs DuckDB "
                                       f"{oracle[n]}")
        finally:
            con.close()


WORKLOADS = {w.name: w for w in (MedallionWorkload, QueryMixWorkload)}
