"""Property-based tests (hypothesis): engine operators vs naive
in-Python reference implementations on adversarial small inputs.
One shared SparkSession; deadlines disabled (JVM warmup skews the
first example)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators.asof import asof_join
from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators.rangejoin import (
    band_join,
)

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

ts_strategy = st.integers(min_value=0, max_value=50)
key_strategy = st.integers(min_value=0, max_value=2)


@settings(**SETTINGS)
@given(
    left=st.lists(st.tuples(key_strategy, ts_strategy), min_size=1, max_size=8),
    right=st.lists(st.tuples(key_strategy, ts_strategy), min_size=0, max_size=8),
)
def test_asof_join_matches_naive(spark, left, right):
    ldf = spark.createDataFrame(
        [Row(eid=i, k=k, ts=t) for i, (k, t) in enumerate(left)]
    )
    rdf = spark.createDataFrame(
        [Row(k=k, rts=t, val=i) for i, (k, t) in enumerate(right)],
        schema="k bigint, rts bigint, val bigint",
    )
    got = {
        r.eid: r.val
        for r in asof_join(
            ldf, rdf, "k", "k", "ts", "rts", ["val"], tiebreak="val"
        ).collect()
    }
    for i, (k, t) in enumerate(left):
        cands = [
            (rt, v) for j, (rk, rt) in enumerate(right)
            if rk == k and rt <= t
            for v in [j]
        ]
        expected = max(cands)[1] if cands else None
        assert got[i] == expected, (i, k, t, cands)


@settings(**SETTINGS)
@given(
    left=st.lists(ts_strategy, min_size=1, max_size=8),
    right=st.lists(ts_strategy, min_size=0, max_size=8),
    lower=st.integers(min_value=-10, max_value=10),
    width=st.integers(min_value=1, max_value=15),
)
def test_band_join_matches_naive(spark, left, right, lower, width):
    upper = lower + width
    ldf = spark.createDataFrame([Row(ida=i, ta=t) for i, t in enumerate(left)])
    rdf = spark.createDataFrame(
        [Row(idb=i, tb=t) for i, t in enumerate(right)],
        schema="idb bigint, tb bigint",
    )
    got = sorted(
        (r.ida, r.idb)
        for r in band_join(ldf, rdf, "ta", "tb", lower, upper).collect()
    )
    expected = sorted(
        (i, j)
        for i, ta in enumerate(left)
        for j, tb in enumerate(right)
        if lower < tb - ta <= upper
    )
    assert got == expected


@settings(**SETTINGS)
@given(
    words=st.lists(
        st.text(alphabet="abc", min_size=1, max_size=3), min_size=0, max_size=8
    ),
    n=st.integers(min_value=1, max_value=3),
)
def test_word_shingles_matches_naive(spark, words, n):
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.functions.text import (
        word_shingles,
    )

    text = " ".join(words)
    df = spark.createDataFrame([Row(t=text)])
    toks = F.filter(F.split(F.trim(F.col("t")), r"\s+"), lambda x: x != "")
    got = df.select(word_shingles(toks, n).alias("s")).first()[0]
    expected = list(
        dict.fromkeys(
            " ".join(words[i : i + n]) for i in range(len(words) - n + 1)
        )
    )
    assert got == expected


#: (key, version) rows, unique per list, so every key has ONE latest
#: row per list and the expected winner is well defined
versioned_rows = st.lists(
    st.tuples(key_strategy, st.integers(min_value=0, max_value=3)),
    max_size=6,
    unique=True,
)


@settings(**SETTINGS)
@given(base=versioned_rows, updates=versioned_rows)
def test_upsert_keeps_the_latest_row_per_key(
    spark, tmp_path_factory, base, updates
):
    """``DeltaLogTable.upsert`` vs a dict model: per key, the row with
    the highest ``ver`` among the stored row and every update row
    survives, an update winning a tie with the stored row."""
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.sources.deltalog import (
        DeltaLogTable,
    )
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.sources.tables import (
        local_table,
    )

    schema = "pk bigint, val string, ver bigint"
    t = DeltaLogTable(spark, str(tmp_path_factory.mktemp("upsert")))
    model: dict[int, tuple[int, int, str]] = {}
    for tag, rows in (("b", base), ("u", updates)):
        batch = [(k, f"{tag}{i}", v) for i, (k, v) in enumerate(rows)]
        t.upsert(local_table(spark, batch, schema), ["pk"], "ver")
        for k, val, v in batch:
            # the flag breaks a stored-vs-update tie for the update
            cand = (v, tag == "u", val)
            if k not in model or cand > model[k]:
                model[k] = cand
    got = sorted((r.pk, r.val, r.ver) for r in t.read().collect())
    assert got == sorted((k, val, v) for k, (v, _, val) in model.items())


# -------------------------------------------- image codec properties
# Pure-Python codecs (no Spark): full hypothesis budget, no fixture.


@settings(max_examples=25, deadline=None)
@given(
    h=st.integers(min_value=1, max_value=24),
    w=st.integers(min_value=1, max_value=24),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_png_roundtrip_any_shape(h, w, seed):
    import numpy as np
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    px = np.random.default_rng(seed).integers(
        0, 256, size=(h, w, 3), dtype=np.uint8
    )
    assert (decode_png(encode_png(px)) == px).all()


@settings(max_examples=15, deadline=None)
@given(
    h=st.integers(min_value=1, max_value=20),
    w=st.integers(min_value=1, max_value=20),
    quality=st.integers(min_value=30, max_value=100),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_jpeg_roundtrip_any_shape_bounded_error(h, w, quality, seed):
    """JPEG must decode to the right SHAPE for any dims (incl. 1x1 and
    non-multiple-of-8 edges) with worst-case error bounded by the
    largest quantization step at that quality."""
    import numpy as np
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    px = np.random.default_rng(seed).integers(
        0, 256, size=(h, w, 3), dtype=np.uint8
    )
    dec = decode_jpeg(encode_jpeg(px, quality=quality))
    assert dec.shape == px.shape
    err = np.abs(dec.astype(int) - px.astype(int)).mean()
    # random noise is the worst case for DCT coding; mean abs error
    # stays far below mid-gray even at quality 30
    assert err < 64


@settings(max_examples=20, deadline=None)
@given(
    n=st.integers(min_value=1, max_value=400),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_ulaw_roundtrip_error_bound(n, seed):
    """G.711 mu-law: segment-logarithmic quantization error bound —
    max error for |x| in segment s is half the segment step."""
    import numpy as np
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators.multimodal import (
        _ULAW,
        encode_ulaw,
    )

    x = np.random.default_rng(seed).integers(
        -32000, 32000, size=n, dtype=np.int16
    )
    back = _ULAW[encode_ulaw(x)]
    err = np.abs(back.astype(int) - x.astype(int))
    # the coarsest segment (exp=7) quantizes in steps of 8<<7 = 1024,
    # so the worst-case round-trip error is the half-step, 512
    assert err.max() <= 512


@settings(max_examples=25, deadline=None)
@given(
    h=st.integers(min_value=1, max_value=20),
    w=st.integers(min_value=1, max_value=20),
    interlace=st.booleans(),
    ncolors=st.integers(min_value=1, max_value=256),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_gif_roundtrip_any_shape(h, w, interlace, ncolors, seed):
    import numpy as np
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators.gifbmp import (
        decode_gif,
        encode_gif,
    )

    rng = np.random.default_rng(seed)
    palette = rng.integers(0, 256, size=(ncolors, 3), dtype=np.uint8)
    px = palette[rng.integers(0, ncolors, size=(h, w))]
    assert (decode_gif(encode_gif(px, interlace=interlace)) == px).all()


@settings(max_examples=25, deadline=None)
@given(
    h=st.integers(min_value=1, max_value=16),
    w=st.integers(min_value=1, max_value=16),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_bmp_roundtrip_any_shape(h, w, seed):
    import numpy as np
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators.gifbmp import (
        decode_bmp,
        encode_bmp,
    )

    px = np.random.default_rng(seed).integers(
        0, 256, size=(h, w, 3), dtype=np.uint8
    )
    assert (decode_bmp(encode_bmp(px)) == px).all()


@settings(max_examples=20, deadline=None)
@given(
    vals=st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
        min_size=1,
        max_size=40,
    )
)
def test_ewma_fold_matches_reference(spark, vals):
    """The registered EWMA fold (array aggregate) against the direct
    python recursion on arbitrary series."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "i int, x double"
    )
    srt = F.array_sort(F.collect_list(F.struct("i", "x")))
    ew = F.aggregate(
        srt,
        F.expr("CAST(array() AS ARRAY<DOUBLE>)"),
        lambda acc, s: F.concat(
            acc,
            F.array(
                F.when(F.size(acc) == 0, s["x"]).otherwise(
                    F.lit(0.2) * s["x"]
                    + F.lit(0.8) * F.element_at(acc, F.size(acc))
                )
            ),
        ),
    )
    got = df.agg(ew.alias("e")).collect()[0]["e"]
    ref = []
    for v in vals:
        ref.append(v if not ref else 0.2 * v + 0.8 * ref[-1])
    assert len(got) == len(ref)
    for g, r in zip(got, ref):
        assert abs(g - r) < 1e-9 * max(1.0, abs(r))


@settings(max_examples=10, deadline=None)
@given(
    h=st.integers(min_value=1, max_value=40),
    w=st.integers(min_value=1, max_value=40),
    quality=st.integers(min_value=30, max_value=100),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    subsample=st.booleans(),
)
def test_progressive_equals_baseline_any_shape(h, w, quality, seed, subsample):
    """Progressive and baseline deliver the SAME quantized
    coefficients, so their decodes must be pixel-identical for ANY
    shape, quality and sampling — including 1x1, non-multiple-of-8
    edges, and the 4:2:0 component-grid/MCU-grid divergence."""
    import numpy as np
    from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    px = np.random.default_rng(seed).integers(
        0, 256, size=(h, w, 3), dtype=np.uint8
    )
    base = decode_jpeg(encode_jpeg(px, quality=quality, subsample=subsample))
    prog = decode_jpeg(
        encode_jpeg_progressive(px, quality=quality, subsample=subsample)
    )
    assert np.array_equal(base, prog)
