"""Uniform NULL contract across every grouped/streaming sketch family
(r8 verdict task 5) — pinned once, parameterized, instead of
per-incident:

- NULL group KEYS are first-class groups: stored, merged across runs
  null-safely, and read out as their own row (groupBy-native plus the
  eqNullSafe joins the q-digest fix introduced in r8).
- NULL ITEMS / measurement VALUES are IGNORED at ingest (aggregate-
  function semantics): a two-run merge over data WITH nulls must leave
  the stored table and every readout byte-identical to the same merge
  over the null-free data.  Without the ingest filters, each family
  corrupts differently — CMS banks mass in an unreachable NULL cell,
  KMV's NULL hash sorts first and steals a k-min slot, HLL grows a
  phantom register that inflates ``hit``, q-digest carries a NULL
  leaf id its interval decoder cannot rank.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators.sketch import (
    hll_estimate,
)
from lakehouse_alchemy_bronze_to_gold_pipeline_spark.sources.deltalog import (
    DeltaLogTable,
)
from lakehouse_alchemy_bronze_to_gold_pipeline_spark.streaming.sketch_rollup import (
    kmv_estimates,
    merge_cms_batch,
    merge_hll_batch,
    merge_kmv_batch,
    merge_mg_batch,
    merge_qdigest_batch,
    mg_topk,
)

SCHEMA = StructType([
    StructField("grp", StringType()),
    StructField("item", StringType()),
    StructField("bucket", LongType()),
])


def _batches():
    """Two micro-batches: groups 'a', 'b' and a NULL group, with NULL
    items/values sprinkled into every group on both runs."""
    rng = random.Random(31)
    out = []
    for run in range(2):
        rows = []
        for grp in ("a", "b", None):
            for _ in range(120):
                rows.append(
                    (grp, f"u{rng.randint(0, 60)}",
                     rng.randint(0, (1 << 10) - 1))
                )
            rows += [(grp, None, None)] * 15  # the null items/values
        out.append(rows)
    return out


def _clean(rows):
    return [r for r in rows if r[1] is not None]


def _sorted_rows(df):
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple((v is None, str(v)) for v in t),
    )


FAMILIES = {
    "cms": dict(
        merge=lambda b, t, **ids: merge_cms_batch(b, t, "item", **ids),
        readout=lambda t: t.read(),
    ),
    "kmv": dict(
        merge=lambda b, t, **ids: merge_kmv_batch(b, t, "grp", "item",
                                                  k=16, **ids),
        readout=lambda t: kmv_estimates(t.read(), k=16),
    ),
    "hll": dict(
        merge=lambda b, t, **ids: merge_hll_batch(b, t, "grp", "item",
                                                  **ids),
        readout=lambda t: hll_estimate(t.read()),
    ),
    "qdigest": dict(
        merge=lambda b, t, **ids: merge_qdigest_batch(
            b, t, "bucket", bits=10, sigma_frac=64, keys=("grp",), **ids
        ),
        readout=lambda t: t.read()
        .groupBy("grp")
        .agg(F.sum("cnt").alias("mass")),
    ),
    "mg": dict(
        # coalesce(1): MG partition summaries are layout-dependent by
        # design (unlike the exact CMS/KMV/HLL merges), so the
        # dirty-vs-clean comparison needs identical partitioning —
        # the contract under test is null handling, not layout
        merge=lambda b, t, **ids: merge_mg_batch(b.coalesce(1), t, "item",
                                                 capacity=32, **ids),
        readout=lambda t: mg_topk(t.read(), k=10),
    ),
}


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_sketch_null_contract(spark, tmp_path, family):
    fam = FAMILIES[family]
    t_dirty = DeltaLogTable(spark, str(tmp_path / "dirty"))
    t_clean = DeltaLogTable(spark, str(tmp_path / "clean"))

    # two-run merge: store, then merge again
    for i, rows in enumerate(_batches()):
        ids = dict(app_id="nulls", batch_id=i)
        fam["merge"](spark.createDataFrame(rows, SCHEMA), t_dirty, **ids)
        fam["merge"](
            spark.createDataFrame(_clean(rows), SCHEMA), t_clean, **ids
        )

    # NULL items were no-ops: stored state AND readout are identical
    # to the null-free twin's
    assert _sorted_rows(t_dirty.read()) == _sorted_rows(t_clean.read())
    got = _sorted_rows(fam["readout"](t_dirty))
    assert got == _sorted_rows(fam["readout"](t_clean))

    # grouped families: NULL key is its own group (cms/mg are keyless)
    if family not in ("cms", "mg"):
        grps = {r[0] for r in got}
        assert None in grps and {"a", "b"} <= grps
        if family == "qdigest":
            # per-group mass conservation counts only non-null VALUES
            mass = {r[0]: r[1] for r in got}
            assert mass == {"a": 240, "b": 240, None: 240}
