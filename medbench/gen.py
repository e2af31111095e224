"""Deterministic, seeded input generator for the benchmark.

Two kinds of input, both a pure function of the seed:

- ``Landing``: reference-shaped nested JSON for the medallion pipeline
  (customers with an ``address`` struct, products, orders with
  ``customer`` and ``payment`` structs, an ``items`` array of line
  structs and a ``metadata`` key/value array).  It plants known DQ
  violations, re-sent duplicates, orphan lines and late records, and
  keeps a ledger of what the pipeline must produce from them, so every
  pipeline call can be reconciled against the generator's own count.
- ``write_registry_tables``: the ten parquet tables the query registry
  reads (TPC-H-like star schema plus events, documents and embeddings),
  with the schemas, row counts, key and date cardinalities and value
  distributions of the repository's test data (TESTDATA.md); NOTES.md
  holds the measured comparison.  ``python3 gen.py ROOT SEED SF`` writes
  them from a separate process.

The program under test sees only the files written here.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import random
import sys
from dataclasses import dataclass, field

ENTITIES = ("customers", "products", "orders")

#: Date window of the pipeline's orders and the DQ ``date_range`` rule.
#: Out-of-range orders are planted beyond ``DQ_MAX_TS``.
FIRST_DAY = dt.date(2024, 1, 1)
DQ_MIN_TS = "2020-01-01 00:00:00"
DQ_MAX_TS = "2030-12-31 23:59:59"

#: Per-record defect rates.  Each is large enough that every DQ rule,
#: the orphan-line filter and the fact's validity filter see dozens of
#: planted rows at the medallion workload's size (so a rule that
#: miscounts shows), and small enough that the fact keeps about 97% of
#: the lines, as a clean feed would.
BAD_EMAIL, BAD_NAME, NULL_KEY = 0.02, 0.02, 0.01  # customers
BAD_PRICE = 0.03  # products
LATE_TS, BAD_QTY, ORPHAN = 0.01, 0.01, 0.01  # orders and their lines

#: Mean lines per order: the test data's lineitem keys are drawn
#: uniformly over orders, four per order (a Poisson(4) line count; orders
#: that draw none are dropped), which ``_n_items`` reproduces.
LINES_PER_ORDER = 4.0

_CITIES = ("oslo", "bergen", "lyon", "porto", "gdansk", "malmo", "ghent", "turin")
_COUNTRIES = ("no", "fr", "pt", "pl", "se", "be", "it")
_CATEGORIES = ("tools", "garden", "kitchen", "toys", "office", "sports")
_ADJ = ("red", "blue", "small", "large", "steel", "oak", "quiet", "rapid")
_NOUN = ("anvil", "widget", "bolt", "lamp", "kettle", "racket", "ring", "stool")
_METHODS = ("card", "paypal", "transfer", "voucher")


@dataclass
class Expect:
    """What one landing drop must produce, entity by entity, and the
    gold and DQ state the pipeline must hold once it has taken it in."""

    drop: int = 0
    bronze: dict[str, int] = field(default_factory=dict)
    silver: dict[str, int] = field(default_factory=dict)
    fact: int = 0
    dims: tuple[int, int] = (0, 0)  # dim_customers, dim_products rows
    dq: dict[str, dict[str, int]] = field(default_factory=dict)


class Landing:
    """Seeded generator of nested JSON drops plus the expected outcome.

    A drop is rendered into a staging directory beside the landing zone
    and becomes visible to the pipeline only when ``publish`` renames
    its files in, so every drop of a run can be rendered before Spark
    boots.  Every planted defect is decided by the seeded RNG when a
    record is first created; a re-sent duplicate is a byte-identical
    copy of an earlier record, so which copy the pipeline's dedup keeps
    never changes a count.
    """

    def __init__(self, seed: int, root: str, n_customers: int, n_products: int):
        self.rng = random.Random(seed)
        self.root = root
        self.n_drops = 0
        self.customers: dict[int | None, dict] = {}
        self.products: dict[str, dict] = {}
        self.orders: list[dict] = []  # every distinct order landed so far
        self.next_order = 0
        # silver state the pipeline should hold: distinct dedup keys
        self.silver_keys: dict[str, set] = {e: set() for e in ENTITIES}
        self.fact_keys: set = set()  # (order, item) keys the fact has seen
        self.landed_bytes = 0
        self._customer_batch = [self._customer(i) for i in range(n_customers)]
        self._product_batch = [self._product(i) for i in range(n_products)]
        self.next_id = {"customers": n_customers, "products": n_products}

    # ----------------------------------------------------------- records
    def _customer(self, cid: int) -> dict:
        r = self.rng.random()
        name, email = f"Customer {cid}", f"c{cid}@example.com"
        key: int | None = cid
        if r < BAD_EMAIL:
            email = f"c{cid}.example.com"  # email rule
        elif r < BAD_EMAIL + BAD_NAME:
            name = f" Customer {cid} "  # whitespace rule
        elif r < BAD_EMAIL + BAD_NAME + NULL_KEY:
            key = None  # null primary key
        return {
            "customer_id": key,
            "name": name,
            "email": email,
            "address": {
                "city": self.rng.choice(_CITIES),
                "postal_code": f"{self.rng.randrange(10**5):05d}",
                "country": self.rng.choice(_COUNTRIES),
            },
        }

    def _product(self, pid: int) -> dict:
        price = round(self.rng.uniform(2.0, 400.0), 2)
        if self.rng.random() < BAD_PRICE:
            price = -round(self.rng.uniform(0.5, 9.5), 2)  # positive rule
        return {
            "product_id": f"P{pid:05d}",
            "product_name": f"{self.rng.choice(_ADJ)} {self.rng.choice(_NOUN)}",
            "category": self.rng.choice(_CATEGORIES),
            "price": price,
        }

    def _n_items(self) -> int:
        """Poisson(LINES_PER_ORDER) line count, redrawn while zero."""
        while True:
            k, p, limit = 0, self.rng.random(), math.exp(-LINES_PER_ORDER)
            while p > limit:
                k += 1
                p *= self.rng.random()
            if k:
                return k

    def _order(self, day: int) -> dict:
        oid = self.next_order
        self.next_order += 1
        ts = dt.datetime.combine(FIRST_DAY + dt.timedelta(days=day), dt.time()) + (
            dt.timedelta(seconds=self.rng.randrange(86400))
        )
        if self.rng.random() < LATE_TS:
            ts += dt.timedelta(days=2600)  # date_range rule: lands in 2031
        cids = [c for c in self.customers if c is not None]
        cust = self.rng.choice(cids)
        pids = list(self.products)
        items = []
        for pid in self.rng.sample(pids, self._n_items()):
            qty = self.rng.randint(1, 9)
            if self.rng.random() < BAD_QTY:
                qty = -qty  # positive rule on the line quantity
            if self.rng.random() < ORPHAN:
                pid = f"X{pid[1:]}"  # orphan line: no such product
            items.append(
                {
                    "item_id": pid,
                    "product_name": self.products.get(pid, {}).get("product_name", "gone"),
                    "quantity": qty,
                    "price": round(self.rng.uniform(1.0, 500.0), 2),
                }
            )
        return {
            "order_id": f"O{oid:07d}",
            "timestamp": ts.strftime("%Y-%m-%dT%H:%M:%SZ"),
            "customer": {"customer_id": cust, "name": self.customers[cust]["name"]},
            "payment": {
                "method": self.rng.choice(_METHODS),
                "status": "paid" if self.rng.random() < 0.9 else "pending",
            },
            "items": items,
            "metadata": [
                {"key": "channel", "value": self.rng.choice(("web", "app", "store"))},
                {"key": "promo", "value": str(self.rng.random() < 0.2).lower()},
            ],
        }

    # ------------------------------------------------------------- drops
    def base(self, n_days: int, n_orders: int) -> Expect:
        """Full load: every customer and product, ``n_orders`` orders on
        dates drawn uniformly over ``n_days`` days."""
        for c in self._customer_batch:
            self.customers.setdefault(c["customer_id"], c)
        for p in self._product_batch:
            self.products[p["product_id"]] = p
        orders = [self._order(self.rng.randrange(n_days)) for _ in range(n_orders)]
        return self._land(
            {
                "customers": self._customer_batch,
                "products": self._product_batch,
                "orders": orders,
            },
            files_per_entity=4,
        )

    def increment(self, n_days: int, share: float) -> Expect:
        """An incremental drop of ``share`` x what has landed so far for
        every entity, orders spread over every date (late records for
        all but the newest), plus re-sent copies of earlier records, a
        tenth as many as the new ones."""
        drop: dict[str, list[dict]] = {}
        for entity, store, make in (
            ("customers", self.customers, self._customer),
            ("products", self.products, self._product),
        ):
            old = list(store.values())
            new = []
            for _ in range(max(1, int(len(old) * share))):
                new.append(make(self.next_id[entity]))
                self.next_id[entity] += 1
            for r in new:
                store.setdefault(self.keys(entity, r)[0], r)
            drop[entity] = new + self.rng.sample(old, max(1, len(new) // 10))
        n_new = max(1, int(len(self.orders) * share))
        orders = [self._order(self.rng.randrange(n_days)) for _ in range(n_new)]
        orders += self.rng.sample(self.orders, max(1, n_new // 10))
        self.rng.shuffle(orders)
        drop["orders"] = orders
        return self._land(drop, files_per_entity=2)

    def _staged(self, drop: int) -> str:
        return os.path.join(self.root, "_staged", f"drop{drop:04d}")

    def _land(self, records: dict[str, list[dict]], files_per_entity: int) -> Expect:
        drop = self.n_drops
        self.n_drops += 1
        exp = Expect(drop=drop)
        for entity, recs in records.items():
            d = os.path.join(self._staged(drop), entity)
            os.makedirs(d, exist_ok=True)
            for k in range(files_per_entity):
                part = recs[k::files_per_entity]
                if not part:
                    continue
                data = json.dumps(part, indent=1).encode()
                with open(os.path.join(d, f"drop{drop:04d}_{k}.json"), "wb") as f:
                    f.write(data)
                self.landed_bytes += len(data)
            exp.bronze[entity] = len(recs)
            exp.silver[entity] = self._new_keys(entity, recs)
        if "orders" in records:
            seen = {o["order_id"] for o in self.orders}
            self.orders += [o for o in records["orders"] if o["order_id"] not in seen]
            exp.fact = self._matched_lines(records["orders"])
        cust, prod = self.dim_keys()
        exp.dims = (len(cust), len(prod))
        exp.dq = {e: self.dq_expected(e) for e in ENTITIES}
        return exp

    def publish(self, exp: Expect) -> None:
        """Make a rendered drop visible: rename its files into the
        landing zone, one directory per entity."""
        staged = self._staged(exp.drop)
        for entity in sorted(os.listdir(staged)):
            dst = os.path.join(self.root, entity)
            os.makedirs(dst, exist_ok=True)
            for name in sorted(os.listdir(os.path.join(staged, entity))):
                os.rename(os.path.join(staged, entity, name), os.path.join(dst, name))

    # ------------------------------------------------------- reconciliation
    @staticmethod
    def keys(entity: str, rec: dict) -> list:
        """Silver dedup keys of one landed record (after explode)."""
        if entity == "customers":
            return [rec["customer_id"]]
        if entity == "products":
            return [rec["product_id"]]
        return [(rec["order_id"], it["item_id"]) for it in rec["items"]]

    def _new_keys(self, entity: str, recs: list[dict]) -> int:
        seen = self.silver_keys[entity]
        before = len(seen)
        for r in recs:
            seen.update(self.keys(entity, r))
        return len(seen) - before

    def dim_keys(self) -> tuple[set, set]:
        """Keys that survive the gold dimension filters."""
        cust = {c for c in self.silver_keys["customers"] if c is not None}
        prod = {
            p
            for p in self.silver_keys["products"]
            if p in self.products and self.products[p]["price"] > 0
        }
        return cust, prod

    def _matched_lines(self, orders: list[dict]) -> int:
        """Lines of never-seen (order, item) keys that join both dims and
        pass the fact's validity filter (positive quantity)."""
        cust, prod = self.dim_keys()
        n = 0
        for o in orders:
            for it in o["items"]:
                k = (o["order_id"], it["item_id"])
                if k in self.fact_keys:
                    continue
                self.fact_keys.add(k)
                if (
                    o["customer"]["customer_id"] in cust
                    and it["item_id"] in prod
                    and it["quantity"] > 0
                ):
                    n += 1
        return n

    def dq_expected(self, entity: str) -> dict[str, int]:
        """Rule violations silver must show for ``entity`` right now."""
        keys = self.silver_keys[entity]
        if entity == "customers":
            live = [self.customers[k] for k in keys if k in self.customers]
            return {
                "null_pk[customer_id]": int(None in keys),
                "email[email]": sum(
                    "@" not in c["email"] for c in live if c["customer_id"] is not None
                ),
                "whitespace[name]": sum(
                    c["name"] != c["name"].strip() for c in live if c["customer_id"] is not None
                ),
            }
        if entity == "products":
            return {
                "null_pk[product_id]": 0,
                "positive[price]": sum(self.products[k]["price"] <= 0 for k in keys),
            }
        lines = {
            (o["order_id"], it["item_id"]): (o, it) for o in self.orders for it in o["items"]
        }
        live = [lines[k] for k in keys]
        return {
            "null_pk[order_id]": 0,
            "positive[items_quantity]": sum(it["quantity"] <= 0 for _, it in live),
            "date_range[timestamp]": sum(o["timestamp"] >= "2031" for o, _ in live),
        }


# ----------------------------------------------------------------------
# registry tables


def write_registry_tables(root: str, seed: int, sf: float) -> dict[str, int]:
    """Write the registry's ten parquet tables at scale ``sf`` (lineitem
    has ~6M x sf rows); returns row counts per table.  Row counts,
    cardinalities and distributions follow the repository's test data
    at the same scale; NOTES.md lists the measured comparison."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), max(1, round(15_000 * sf))
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    day0 = np.datetime64("1995-01-01")
    tables: dict[str, pd.DataFrame] = {}

    tables["region"] = pd.DataFrame(
        {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    tables["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    tables["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
        }
    )
    tables["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    adj = np.array(["small", "red", "blue", "large", "shiny", "green", "old", "new"])
    noun = np.array(["ring", "widget", "bolt", "anvil", "gear", "lamp", "pipe", "valve"])
    types = np.array(["ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM", "PROMO"])
    tables["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": np.char.add(
                np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                noun[rng.integers(0, 8, n_part)],
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": types[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }
    )
    odate = day0 + rng.integers(0, 2405, n_ord).astype("timedelta64[D]")
    tables["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
            "o_orderdate": odate.astype("datetime64[us]"),
            "o_orderpriority": np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            )[rng.integers(0, 5, n_ord)],
        }
    )
    # as in the test data, line keys, numbers, prices and ship dates are
    # drawn independently: (order, line number) pairs repeat and ship
    # dates ignore the order date
    lkey = np.sort(rng.integers(0, n_ord, n_line)).astype(np.int64)
    tables["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": lkey,
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": (
                day0 + rng.integers(1, 2500, n_line).astype("timedelta64[D]")
            ).astype("datetime64[us]"),
        }
    )
    ev_ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        rng.integers(0, 30 * 86400 * 10**6, n_ev)
    ).astype("timedelta64[us]")
    tables["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": ev_ts,
            "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
            "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
                rng.integers(0, 5, n_ev)
            ],
            "value": np.round(rng.exponential(50.0, n_ev), 2) + 0.01,
            "props": np.char.add(
                np.char.add('{"k": ', rng.integers(0, 100, n_ev).astype(str)), "}"
            ),
        }
    )
    vocab = np.array(
        "a the key agg row scan slow fast table value part hash merge batch spark "
        "line sort window data column join small order group customer query big "
        "stream filter vector".split()
    )
    lens = rng.integers(10, 100, n_doc)
    words = vocab[rng.integers(0, len(vocab), int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    tables["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": np.array(["en", "de", "fr", "es", "zh"])[
                rng.choice(5, n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14])
            ],
            "source": np.char.add("src", rng.integers(0, 20, n_doc).astype(str)),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    centers = rng.normal(0.0, 1.0, (10, 64))
    label = rng.integers(0, 10, n_emb)
    emb = centers[label] + rng.normal(0.0, 0.6, (n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": list(emb),
            "label": label.astype(np.int32),
        }
    )
    for name, df in tables.items():
        df.to_parquet(os.path.join(root, f"{name}.parquet"), index=False)
    return {name: len(df) for name, df in tables.items()}


if __name__ == "__main__":
    # python3 gen.py ROOT SEED SF: the registry tables, written from a
    # process of their own so the benchmark's process never holds them
    write_registry_tables(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
