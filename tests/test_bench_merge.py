"""Unit tests for bench.py's protocol helpers (pure python, no
Spark): the fingerprint-guarded cross-run min-merge and the float
canonicalization of the local correctness gate.
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys

#: root of the checkout these tests live in
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load(mod_name, path):
    spec = importlib.util.spec_from_file_location(
        mod_name, os.path.join(ROOT, path)
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules[mod_name] = mod
    spec.loader.exec_module(mod)
    return mod


def test_merge_prior_mins_guards(tmp_path):
    bench = _load("bench_under_test", "bench.py")

    def detail(name, fp, sf, queries):
        with open(tmp_path / name, "w") as fh:
            json.dump(
                {"fingerprint": fp, "sf": sf, "this_run": queries,
                 "queries": queries},
                fh,
            )

    times = {"q1": 2.0, "q2": 3.0}
    # same fingerprint + sf + query set -> min-merges
    detail("BENCH_DETAIL_a.json", "FP", 0.1, {"q1": 1.5, "q2": 9.0})
    # different fingerprint -> ignored
    detail("BENCH_DETAIL_b.json", "OTHER", 0.1, {"q1": 0.1, "q2": 0.1})
    # different sf -> ignored
    detail("BENCH_DETAIL_c.json", "FP", 0.01, {"q1": 0.1, "q2": 0.1})
    # different query set -> ignored
    detail("BENCH_DETAIL_d.json", "FP", 0.1, {"q1": 0.1})
    # corrupt file -> skipped, not fatal
    (tmp_path / "BENCH_DETAIL_e.json").write_text("{not json")

    merged, n, discarded = bench._merge_prior_mins(
        str(tmp_path), "FP", 0.1, times
    )
    assert n == 2
    assert discarded == 0
    assert merged == {"q1": 1.5, "q2": 3.0}


def test_merge_filters_on_core_count(tmp_path):
    """r12 VERDICT item 2: the merge was cpus-blind — an 8-core
    scaling run min-merged against 32-core priors (97/204 of the r12
    c8 run's merged values were byte-identical 32-core minima).  A
    prior merges only when its recorded ``cpus`` equals the current
    run's; legacy cpus-less files merge only with cpus-less calls."""
    bench = _load("bench_under_test_cpus", "bench.py")
    times = {"q1": 5.0}

    def detail(name, queries, cpus):
        body = {"fingerprint": "FP", "sf": 0.1, "this_run": queries}
        if cpus is not None:
            body["cpus"] = cpus
        with open(tmp_path / name, "w") as fh:
            json.dump(body, fh)

    detail("BENCH_DETAIL_1.json", {"q1": 1.0}, 32)    # 32-core prior
    detail("BENCH_DETAIL_2.json", {"q1": 3.0}, 8)     # 8-core prior
    detail("BENCH_DETAIL_3.json", {"q1": 2.0}, None)  # legacy, no cpus

    # an 8-core run merges ONLY the 8-core prior: the 32-core 1.0 and
    # the legacy 2.0 must not leak into its minima
    merged, n, _ = bench._merge_prior_mins(
        str(tmp_path), "FP", 0.1, times, cpus=8
    )
    assert n == 2
    assert merged == {"q1": 3.0}

    # a 32-core run merges only the 32-core prior
    merged, n, _ = bench._merge_prior_mins(
        str(tmp_path), "FP", 0.1, times, cpus=32
    )
    assert n == 2
    assert merged == {"q1": 1.0}

    # a cpus-less call (legacy behavior) matches only cpus-less files
    merged, n, _ = bench._merge_prior_mins(str(tmp_path), "FP", 0.1, times)
    assert n == 2
    assert merged == {"q1": 2.0}


def test_merge_skips_legacy_details_without_this_run(tmp_path):
    """r8 ADVICE: a legacy detail whose only payload is the
    already-merged ``queries`` map must NOT participate — through it
    an aged-out outlier would re-enter every merge, defeating the
    MERGE_CAP aging.  Same for a present-but-empty this_run."""
    bench = _load("bench_under_test4", "bench.py")
    times = {"q1": 5.0}
    with open(tmp_path / "BENCH_DETAIL_legacy.json", "w") as fh:
        json.dump({"fingerprint": "FP", "sf": 0.1,
                   "queries": {"q1": 0.1}}, fh)      # merged-only: skip
    with open(tmp_path / "BENCH_DETAIL_empty.json", "w") as fh:
        json.dump({"fingerprint": "FP", "sf": 0.1,
                   "this_run": {}, "queries": {"q1": 0.1}}, fh)

    merged, n, discarded = bench._merge_prior_mins(
        str(tmp_path), "FP", 0.1, times
    )
    assert n == 1 and discarded == 0
    assert merged == {"q1": 5.0}


def test_merge_discards_canary_contaminated_priors(tmp_path):
    """The steal-window canary gate: a prior whose worst canary
    exceeds CANARY_DISCARD_FACTOR x the best canary in the candidate
    series is dropped from the merge; canary-less priors (predating
    the probe) are kept."""
    bench = _load("bench_under_test5", "bench.py")
    times = {"q1": 5.0}

    def detail(name, queries, canary):
        body = {"fingerprint": "FP", "sf": 0.1, "this_run": queries}
        if canary is not None:
            body["canary_worst"] = canary
        with open(tmp_path / name, "w") as fh:
            json.dump(body, fh)

    detail("BENCH_DETAIL_1.json", {"q1": 3.0}, 0.10)   # clean: kept
    detail("BENCH_DETAIL_2.json", {"q1": 1.0}, 0.30)   # stolen: dropped
    detail("BENCH_DETAIL_3.json", {"q1": 4.0}, None)   # pre-canary: kept

    merged, n, discarded = bench._merge_prior_mins(
        str(tmp_path), "FP", 0.1, times, canary={"st": 0.11}
    )
    assert discarded == 1
    assert n == 3                    # current + clean + pre-canary
    assert merged == {"q1": 3.0}     # the stolen 1.0 did NOT win

    # with no current canary the best-of-priors is the reference
    merged, n, discarded = bench._merge_prior_mins(
        str(tmp_path), "FP", 0.1, times
    )
    assert discarded == 1 and merged == {"q1": 3.0}


def test_merge_discards_mt_canary_contaminated_priors(tmp_path):
    """The r9 lesson: a prior can read CLEAN on the 1-thread canary
    while the saturating probe (and the 32-thread sweep) ran slow —
    steal against the other cores is invisible to one thread.  EITHER
    probe blowing its series floor drops the prior."""
    bench = _load("bench_under_test5b", "bench.py")
    times = {"q1": 5.0}

    def detail(name, queries, st, mt):
        body = {"fingerprint": "FP", "sf": 0.1, "this_run": queries,
                "canary_worst": st}
        if mt is not None:
            body["canary_mt_worst"] = mt
        with open(tmp_path / name, "w") as fh:
            json.dump(body, fh)

    detail("BENCH_DETAIL_1.json", {"q1": 3.0}, 0.10, 0.23)  # clean
    # st clean, mt hot -> the r9 failure mode: dropped
    detail("BENCH_DETAIL_2.json", {"q1": 1.0}, 0.10, 0.40)
    detail("BENCH_DETAIL_3.json", {"q1": 4.0}, 0.10, None)  # pre-mt: kept

    merged, n, discarded = bench._merge_prior_mins(
        str(tmp_path), "FP", 0.1, times,
        canary={"st": 0.10, "mt": 0.24},
    )
    assert discarded == 1
    assert n == 3
    assert merged == {"q1": 3.0}


def test_merge_ignores_degraded_mt_readings(tmp_path):
    """r11 ADVICE: a DEGRADED mt probe is the 1-thread loop in
    disguise — systematically lower than a saturated reading.  It
    must neither (a) set an artificially low mt_best that discards
    clean priors, nor (b) let a hot degraded run pass the mt gate.
    Degraded priors are st-only gated."""
    bench = _load("bench_under_test5c", "bench.py")
    times = {"q1": 5.0}

    def detail(name, queries, st, mt, degraded=False):
        body = {"fingerprint": "FP", "sf": 0.1, "this_run": queries,
                "canary_worst": st, "canary_mt_worst": mt}
        if degraded:
            body["canary_mt_degraded"] = "mt-probe-failed"
        with open(tmp_path / name, "w") as fh:
            json.dump(body, fh)

    # clean saturated series at mt ~0.23
    detail("BENCH_DETAIL_1.json", {"q1": 3.0}, 0.10, 0.23)
    # degraded run whose 1-thread fallback read 0.10: were it gated
    # as a real mt value it would set mt_best = 0.10 and discard the
    # CLEAN 0.23 prior (0.23 > 1.5 x 0.10); excluded, both survive
    detail("BENCH_DETAIL_2.json", {"q1": 2.5}, 0.10, 0.10,
           degraded=True)
    merged, n, discarded = bench._merge_prior_mins(
        str(tmp_path), "FP", 0.1, times,
        canary={"st": 0.10, "mt": 0.24},
    )
    assert discarded == 0
    assert n == 3
    assert merged == {"q1": 2.5}

    # a degraded run that ran HOT (st shows it) is still st-gated
    detail("BENCH_DETAIL_3.json", {"q1": 0.5}, 0.30, 0.11,
           degraded=True)
    merged, n, discarded = bench._merge_prior_mins(
        str(tmp_path), "FP", 0.1, times,
        canary={"st": 0.10, "mt": 0.24},
    )
    assert discarded == 1          # the hot degraded run
    assert merged == {"q1": 2.5}   # its 0.5 did not win


def test_canary_probe_shape():
    bench = _load("bench_under_test6", "bench.py")
    v = bench._canary()
    assert 0.0 < v < 5.0  # a fixed busy loop, not a no-op
    m, degraded = bench._canary_mt(4)
    assert 0.0 < m < 5.0
    # on this box fork is available, so the real multi-core path must
    # run and the degradation flag must be clear (r10 ADVICE: a
    # permanently broken mt probe must be visible, not silent)
    assert degraded is None


def test_merge_series_capped_at_most_recent(tmp_path):
    """The BASELINE.md protocol cap: only the MERGE_CAP-1 most recent
    same-fingerprint priors join the merge — an old outlier run (here
    the very fast q1=0.1 in the OLDEST detail) ages out of the series
    instead of pinning the headline down forever."""
    bench = _load("bench_under_test3", "bench.py")
    cap = bench.MERGE_CAP
    times = {"q1": 5.0}
    # oldest first (sorted glob order = filename order): one stale
    # outlier, then cap-1 recent runs that are all slower than it
    with open(tmp_path / "BENCH_DETAIL_000.json", "w") as fh:
        json.dump({"fingerprint": "FP", "sf": 0.1,
                   "this_run": {"q1": 0.1}}, fh)
    for i in range(cap - 1):
        with open(tmp_path / f"BENCH_DETAIL_{i+1:03d}.json", "w") as fh:
            json.dump({"fingerprint": "FP", "sf": 0.1,
                       "this_run": {"q1": 4.0 + i * 0.1}}, fh)

    merged, n, _ = bench._merge_prior_mins(str(tmp_path), "FP", 0.1, times)
    assert n == cap                  # current + cap-1 priors, not cap+1
    assert merged == {"q1": 4.0}     # the aged-out 0.1 is NOT merged


def test_source_fingerprint_is_stable_and_content_sensitive(tmp_path):
    bench = _load("bench_under_test2", "bench.py")
    a = bench._source_fingerprint()
    b = bench._source_fingerprint()
    assert a == b and len(a) == 32


def test_correctness_cell_canon_full_precision():
    cc = _load("cc_under_test", "tools/check_correctness.py")
    # integral floats collapse (engine int/float parity)
    assert cc.cell(2.0) == "2"
    # NON-integral floats keep FULL precision: the r5 red cell was a
    # 1-ulp divergence the old %.6g canon could not see
    x = 54309.3462
    y = 54309.3463
    assert cc.cell(x) != cc.cell(y)
    assert cc.cell(float("nan")) == "<null>"
    assert cc.cell(None) == "<null>"
    # shortest-repr round-trips
    assert float(cc.cell(0.1)) == 0.1
