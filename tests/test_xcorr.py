"""P8/A4/K1–K3 lagged cross-correlation (SURVEY.md §2.5/2.6/2.7)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from metrics_advisor_spark.operators import (
    bucket_correlation,
    positional_correlation,
    rank_correlations,
)
from metrics_advisor_spark.operators.xcorr import best_lag
from tests.conftest import epoch_dt, make_signals_df, pairwise_lagged_pearson

T0 = 1640588307


def _signals(spark, obj, cands: dict):
    objs = make_signals_df(spark, {("obj_m", "o"): obj}, t0=T0)
    cand_df = make_signals_df(spark, {("cand_" + k, k): v for k, v in cands.items()}, t0=T0)
    return objs, cand_df


def test_known_lag_recovered(spark):
    rng = np.random.default_rng(0)
    n = 80  # two buckets of 40
    base = np.sin(2 * np.pi * np.arange(n) / 20) + rng.normal(0, 0.05, n)
    lagged = np.roll(base, 2)  # candidate lags objective by 2 samples
    objs, cands = _signals(spark, base, {"lag2": lagged})
    corr = bucket_correlation(objs, cands, tmin=T0, lag_max=3, step_seconds=15)
    best = best_lag(corr).collect()
    assert len(best) == 2  # one per bucket
    for r in best:
        assert r["lag"] == 2
        assert r["corr"] > 0.9
        assert r["n_pairs"] == 38  # truncated overlap: 40 − |lag|


def test_anticorrelation_ranked_by_abs(spark):
    rng = np.random.default_rng(1)
    n = 40
    base = np.linspace(0, 1, n) + rng.normal(0, 0.01, n)
    objs, cands = _signals(
        spark, base,
        {"anti": -base + rng.normal(0, 0.001, n),          # |corr| ≈ 1, negative
         "weak": rng.normal(0, 1, n)},                     # |corr| small
    )
    corr = bucket_correlation(objs, cands, tmin=T0, lag_max=0)
    ranked = rank_correlations(best_lag(corr), top_k=3).collect()
    top = [r for r in ranked if r["rank"] == 1][0]
    assert top["cand_series"] == "anti"
    assert top["corr"] < -0.99


def _pearson_cases():
    """Two 40-sample windows, one objective, a lagged partner and an
    unrelated candidate; NaN marks a missing sample, which reads as null
    except in "obj_nan"."""
    rng = np.random.default_rng(5)
    n = 80
    a = rng.normal(0, 1, n)
    cands = {
        "lagged": np.roll(a, 2) + rng.normal(0, 0.3, n),
        "other": rng.normal(5, 2, n),
    }
    gap = dict(cands, lagged=cands["lagged"].copy())
    gap["lagged"][45:54] = np.nan  # 9-sample gap inside window 1
    obj_null = a.copy()
    obj_null[10] = np.nan
    return {
        "gap_free": (a, cands),
        "cand_gap": (a, gap),
        "obj_null": (obj_null, cands),
        "obj_nan": (obj_null, cands),
    }


PEARSON_CASES = _pearson_cases()
LAGGED_OPERATORS = {
    "bucket": lambda o, c: bucket_correlation(o, c, tmin=T0, lag_max=3),
    "positional": lambda o, c: positional_correlation(
        o, c, count_bucket=40, lag_max=3
    ),
}


@pytest.mark.parametrize("case", sorted(PEARSON_CASES))
@pytest.mark.parametrize("op", sorted(LAGGED_OPERATORS))
def test_matches_numpy_pairwise_pearson(spark, op, case):
    """At every (window, candidate, lag), corr is Pearson's r of the
    complete pairs and n_pairs counts only those.  On the gap-free grid
    timestamp and positional alignment coincide."""
    obj, cands = PEARSON_CASES[case]
    objs, cand_df = _signals(spark, obj, cands)
    if case == "obj_nan":  # a NaN sample, as prom-JSON "NaN" casts to
        objs = objs.withColumn("value", F.coalesce("value", F.lit(float("nan"))))
    got = {
        (r["bucket_id"], r["cand_series"], r["lag"]): (r["corr"], r["n_pairs"])
        for r in LAGGED_OPERATORS[op](objs, cand_df).collect()
    }
    want = {
        (b, name, lag): v
        for name, c in cands.items()
        for (b, lag), v in pairwise_lagged_pearson(obj, c, 3).items()
    }
    assert set(got) == set(want)
    for key, (corr, n_pairs) in want.items():
        assert got[key][1] == n_pairs, key
        assert abs(got[key][0] - corr) < 1e-9, key


def test_same_bucket_truncation_vs_full_overlap(spark):
    rng = np.random.default_rng(9)
    n = 80
    base = rng.normal(0, 1, n)
    objs, cands = _signals(spark, base, {"c": np.roll(base, 3)})
    trunc = bucket_correlation(objs, cands, tmin=T0, lag_max=3, same_bucket=True)
    full = bucket_correlation(objs, cands, tmin=T0, lag_max=3, same_bucket=False)
    # lag −3 in bucket 1 reaches back into bucket 0: truncated in
    # same-bucket mode, full overlap otherwise
    t3 = trunc.filter("lag = -3 and bucket_id = 1").first()
    f3 = full.filter("lag = -3 and bucket_id = 1").first()
    assert t3["n_pairs"] == 37   # truncated at the bucket edge
    assert f3["n_pairs"] == 40   # pulls 3 samples from the previous bucket


def _matrix_fixture(spark):
    """Multi-metric signals with correlated/missing/duplicate structure:
    exercises join multiplicity (two series per metric m1) and ragged
    timestamps (m3 missing the first 10 slots)."""
    rng = np.random.default_rng(17)
    n = 120
    base = np.sin(2 * np.pi * np.arange(n) / 30) + rng.normal(0, 0.1, n)
    series = {
        ("m1", "a"): base,
        ("m1", "b"): base + rng.normal(0, 0.2, n),   # duplicate-metric rows
        ("m2", "a"): -base + rng.normal(0, 0.1, n),  # anticorrelated
        ("m3", "a"): np.concatenate([np.full(10, np.nan), rng.normal(0, 1, n - 10)]),
        ("m4", "a"): 0.7 * base + rng.normal(0, 0.3, n),
    }
    df = make_signals_df(spark, series, t0=T0)
    return df.filter("value is not null")


def test_corr_matrix_blocked_equals_exact(spark):
    from metrics_advisor_spark.operators.xcorr import corr_matrix, corr_matrix_blocked

    # one missing sample in m4: every pair with m4 loses that timestamp
    missing = (F.col("metric") == "m4") & (F.col("ts") == epoch_dt(T0 + 15 * 50))
    sig = _matrix_fixture(spark).withColumn(
        "value", F.when(missing, None).otherwise(F.col("value"))
    )
    exact = {
        (r["metric_a"], r["metric_b"]): r
        for r in corr_matrix(sig).collect()
    }

    def values(metric):
        rows = sig.filter(F.col("metric") == metric).orderBy("ts").collect()
        return np.array([r["value"] for r in rows], dtype=float)

    m2, m4 = values("m2"), values("m4")
    ok = ~np.isnan(m2) & ~np.isnan(m4)
    assert exact[("m2", "m4")]["n_pairs"] == ok.sum() == 119
    want = np.corrcoef(m2[ok], m4[ok])[0, 1]
    assert abs(exact[("m2", "m4")]["corr"] - want) < 1e-9
    blocked = {
        (r["metric_a"], r["metric_b"]): r
        for r in corr_matrix_blocked(sig, num_blocks=8).collect()
    }
    assert set(exact) == set(blocked)
    for key, er in exact.items():
        br = blocked[key]
        assert br["n_pairs"] == er["n_pairs"], key
        assert abs(br["corr"] - er["corr"]) < 1e-9, key


def test_corr_matrix_blocked_topk_bounds_output(spark):
    from metrics_advisor_spark.operators.xcorr import corr_matrix_blocked

    sig = _matrix_fixture(spark)
    rows = corr_matrix_blocked(sig, num_blocks=8, topk_per_metric=1).collect()
    # with k=1 each metric keeps its single strongest |corr| partner;
    # dedup of symmetric picks leaves between ceil(k/2) and k pairs
    assert 2 <= len(rows) <= 4
    strongest = max(rows, key=lambda r: abs(r["corr"]))
    assert {strongest["metric_a"], strongest["metric_b"]} == {"m1", "m2"}
