"""The output checks accept a correct answer and reject corrupted ones.

    python3 -m pytest perfbench/test_checks.py -q

No Spark: a correct answer is built from the generator's ground truth,
then one thing at a time is broken.
"""

from __future__ import annotations

import dataclasses
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))  # scripts.driver_sim

import bundles  # noqa: E402
import checks  # noqa: E402
from bundles import BUCKET, STEP  # noqa: E402

TOP_K = 3


def _answer(bundle):
    """A correct (anomalies, report) pair for ``bundle``."""
    spec = bundle.spec
    anomalies = []
    for s in bundle.series:
        for kind, events in (("changepoint", s.shifts), ("outlier", s.spikes)):
            anomalies += [(s.metric, s.name, kind, bundle.t0 + STEP * i)
                          for i in events]
    grid = checks._grid(bundle)
    report = []
    for b, (objs, cands) in sorted(
            checks.membership(bundle, anomalies, spec.cp_only).items()):
        cands = sorted(cands)
        if not cands:
            continue
        mat = np.stack([grid[c] for c in cands])
        for o in sorted(objs):
            corr, lag = checks.best_lags(grid[o], mat, b, spec.lag_max)
            order = sorted((i for i in range(len(cands)) if not np.isnan(corr[i])),
                           key=lambda i: -abs(corr[i]))
            report += [checks.Ranked(b, o, r + 1, cands[i], int(lag[i]),
                                     round(float(corr[i]), 4))
                       for r, i in enumerate(order[:TOP_K])]
    return anomalies, report


@pytest.fixture(scope="module", params=sorted(bundles.SPECS))
def case(request):
    bundle = bundles.generate(request.param, seed=11)
    return bundle, *_answer(bundle)


def _ranking(bundle, anomalies, report):
    spec = bundle.spec
    return checks.check_ranking(bundle, anomalies, report, top_k=TOP_K,
                                lag_max=spec.lag_max, cp_only=spec.cp_only)


def _first_copy_row(bundle, report):
    copies = {(s.metric, s.name) for s in bundle.series if s.copy_of}
    return next(i for i, r in enumerate(report) if r.rank == 1 and r.cand in copies)


def test_correct_answer_passes(case):
    bundle, anomalies, report = case
    assert report
    assert _ranking(bundle, anomalies, report) == []
    assert checks.check_planted_lags(bundle, report) == []
    assert checks.check_anomalies(bundle, anomalies) == []
    kept = {(s.metric, s.name) for s in bundle.series if not (s.short or s.flat)}
    assert checks.check_validity(bundle, kept) == []
    cells = sum(max(s.values.size for s in g) * len(g)
                for g in bundle.files().values())
    assert checks.check_ingest(bundle, cells, len(bundle.series)) == []


def test_lag_off_by_one_fails(case):
    bundle, anomalies, report = case
    i = _first_copy_row(bundle, report)
    bad = list(report)
    bad[i] = dataclasses.replace(bad[i], lag=bad[i].lag + 1)
    assert any("lag" in p for p in _ranking(bundle, anomalies, bad))
    assert checks.check_planted_lags(bundle, bad)


def test_perturbed_correlation_fails(case):
    bundle, anomalies, report = case
    bad = list(report)
    bad[-1] = dataclasses.replace(bad[-1], corr=bad[-1].corr - 0.001)
    assert any("recomputed" in p for p in _ranking(bundle, anomalies, bad))


def test_swapped_ranks_fail():
    # the fleet bundle has several candidates per objective and bucket
    bundle = bundles.generate("bundle_fleet", seed=11)
    anomalies, report = _answer(bundle)
    i = next(i for i in range(len(report) - 1)
             if report[i].rank == 1 and report[i + 1].rank == 2
             and abs(report[i].corr) > abs(report[i + 1].corr) + 1e-3)
    a, b = report[i], report[i + 1]
    bad = list(report)
    bad[i] = dataclasses.replace(b, rank=1)
    bad[i + 1] = dataclasses.replace(a, rank=2)
    assert any("order" in p for p in _ranking(bundle, anomalies, bad))


def test_missing_candidate_fails(case):
    bundle, anomalies, report = case
    i = _first_copy_row(bundle, report)
    bad = report[:i] + report[i + 1:]
    assert _ranking(bundle, anomalies, bad)
    assert checks.check_planted_lags(bundle, bad)


def test_dropped_series_fails(case):
    bundle, _, _ = case
    kept = sorted((s.metric, s.name) for s in bundle.series
                  if not (s.short or s.flat))
    assert checks.check_validity(bundle, set(kept[1:]))
    cells = sum(max(s.values.size for s in g) * len(g)
                for g in bundle.files().values())
    assert checks.check_ingest(bundle, cells - 480, len(bundle.series) - 1)


def test_flat_series_surviving_fails(case):
    bundle, _, _ = case
    kept = {(s.metric, s.name) for s in bundle.series if not s.short}
    assert any("near-constant" in p for p in checks.check_validity(bundle, kept))


def test_missing_planted_changepoint_fails():
    bundle = bundles.generate("bundle_reference", seed=11)
    anomalies, _ = _answer(bundle)
    shifted = next(s for s in bundle.series if s.shifts)
    bad = [a for a in anomalies
           if not (a[:3] == (shifted.metric, shifted.name, "changepoint"))]
    assert any("planted shift" in p for p in checks.check_anomalies(bundle, bad))
    # a change point four samples off is too far
    moved = [(m, s, k, t + 4 * STEP) if (m, s, k) == (shifted.metric, shifted.name,
                                                      "changepoint") else (m, s, k, t)
             for m, s, k, t in anomalies]
    assert checks.check_anomalies(bundle, moved)


def test_missing_spike_fails():
    bundle = bundles.generate("bundle_fleet", seed=11)
    anomalies, _ = _answer(bundle)
    bad = [a for a in anomalies if a[2] != "outlier" or a != next(
        x for x in anomalies if x[2] == "outlier")]
    assert any("spike" in p for p in checks.check_anomalies(bundle, bad))


def _per_side(obj, cand, bucket, lag):
    """The engine's formula: covariance of the complete pairs over the
    product of standard deviations each taken over its own side's values."""
    lo, hi = bucket * BUCKET, (bucket + 1) * BUCKET
    t = np.arange(max(lo, lo - lag), min(hi, hi - lag))
    o, c = obj[t], cand[t + lag]
    both = ~(np.isnan(o) | np.isnan(c))
    cov = np.cov(o[both], c[both])[0, 1]
    return cov / (np.nanstd(o, ddof=1) * np.nanstd(c, ddof=1))


def test_gap_probe_is_the_same_for_every_seed():
    a = bundles.generate("bundle_fleet", seed=5)
    b = bundles.generate("bundle_fleet", seed=6)
    bucket, obj = a.gap_key
    pa = [s for s in a.series if obj in ((s.metric, s.name), s.copy_of)]
    pb = [s for s in b.series if obj in ((s.metric, s.name), s.copy_of)]
    assert len(pa) == 2
    assert all(np.array_equal(x.values, y.values, equal_nan=True)
               for x, y in zip(pa, pb))
    lo = bucket * BUCKET
    assert np.isnan(pa[0].values[lo: lo + BUCKET]).sum() == 9
    assert bundles.generate("bundle_reference", seed=5).gap_key is None


def test_gap_inside_window_per_side_stddev_fails():
    bundle = bundles.generate("bundle_fleet", seed=11)
    anomalies, report = _answer(bundle)
    probe = bundle.gap_key
    copy = next(s for s in bundle.series if s.copy_of == probe[1])
    i = next(i for i, r in enumerate(report)
             if (r.bucket, r.obj) == probe and r.cand == (copy.metric, copy.name))
    grid = checks._grid(bundle)
    wrong = _per_side(grid[probe[1]], grid[(copy.metric, copy.name)],
                      probe[0], report[i].lag)
    assert abs(wrong - report[i].corr) > 0.01
    bad = list(report)
    bad[i] = dataclasses.replace(bad[i], corr=round(float(wrong), 4))
    spec = bundle.spec
    for_probe = checks.check_ranking(bundle, anomalies, bad, top_k=TOP_K,
                                     lag_max=spec.lag_max, cp_only=spec.cp_only,
                                     keep=lambda k: k == probe)
    assert any("recomputed" in p for p in for_probe)
    assert checks.check_ranking(bundle, anomalies, bad, top_k=TOP_K,
                                lag_max=spec.lag_max, cp_only=spec.cp_only,
                                keep=lambda k: k != probe) == []


def test_report_round_trip():
    text = (
        "### Time slice 3 (2021-12-27 07:00:00 … 2021-12-27 07:10:00)\n\n"
        "- **tidb_p99_rt:total/agg_val** — top correlated candidates:\n"
        "  1. `tikv_follower_0:by_instance/agg_val` (lag=-2, corr=0.9987)\n"
        "  2. `node_cpu_usage_2:by_instance:by_device/vda:172.17.16.11:9100` "
        "(lag=0, corr=-0.4123)\n"
    )
    rows = checks.parse_report(text)
    assert rows == [
        checks.Ranked(3, ("tidb_p99_rt:total", "agg_val"), 1,
                      ("tikv_follower_0:by_instance", "agg_val"), -2, 0.9987),
        checks.Ranked(3, ("tidb_p99_rt:total", "agg_val"), 2,
                      ("node_cpu_usage_2:by_instance:by_device",
                       "vda:172.17.16.11:9100"), 0, -0.4123),
    ]


def test_query_compare_is_exact_to_6dp():
    cols = ["a", "b"]
    assert checks.check_query("q", cols, [(1, 0.1234564)], cols, [(1, 0.1234561)]) == []
    assert checks.check_query("q", cols, [(1, 0.123456)], cols, [(1, 0.123457)])
    assert checks.check_query("q", cols, [(1, 0.1)], cols, [])
    assert checks.check_query("q", ["a"], [(1,)], ["b"], [(1,)])


def test_generator_is_deterministic():
    a = bundles.generate("bundle_fleet", seed=5)
    b = bundles.generate("bundle_fleet", seed=5)
    c = bundles.generate("bundle_fleet", seed=6)
    assert all(np.array_equal(x.values, y.values, equal_nan=True)
               for x, y in zip(a.series, b.series))
    assert [(x.metric, x.name) for x in a.series] == [(x.metric, x.name) for x in c.series]
    assert not all(np.array_equal(x.values, y.values, equal_nan=True)
                   for x, y in zip(a.series, c.series))
