"""Property-based invariances (SURVEY.md §5.4).

Each property runs a handful of hypothesis examples (Spark jobs are
seconds each, so max_examples stays small; the generators still explore
signs, scales and offsets)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from metrics_advisor_spark.operators.buckets import bucket_expr, time_extent
from metrics_advisor_spark.operators.normalize import get_relative
from metrics_advisor_spark.operators.validity import range_filter
from metrics_advisor_spark.operators.xcorr import best_lag, bucket_correlation

from conftest import make_signals_df, pairwise_lagged_pearson

T0 = 1640588307  # make_signals_df's default origin

PROP = settings(max_examples=5, deadline=None)


@PROP
@given(shift=st.integers(min_value=-10**5, max_value=10**5))
def test_time_shift_preserves_bucket_membership(spark, shift):
    """Shifting every timestamp by Δ leaves tmin-anchored bucket ids —
    and therefore memberships — unchanged."""
    rng = np.random.default_rng(42)
    vals = rng.normal(0, 1, 80)

    def memberships(t0):
        df = make_signals_df(spark, {("m", "s"): vals}, t0=t0)
        tmin, _ = time_extent(df)
        return sorted(
            (r["bucket_id"], r["metric"], int(r["value"] * 1e6))
            for r in df.withColumn(
                "bucket_id", bucket_expr(tmin, 600)
            ).collect()
        )

    assert memberships(1640588307) == memberships(1640588307 + shift * 15)


@PROP
@given(
    scale=st.floats(min_value=0.1, max_value=100.0, allow_nan=False),
    offset=st.floats(min_value=-50.0, max_value=50.0, allow_nan=False),
)
def test_affine_candidate_preserves_abs_corr(spark, scale, offset):
    """Positive-affine transform of a candidate leaves |corr| and the
    best lag unchanged (Pearson invariance)."""
    rng = np.random.default_rng(7)
    base = rng.normal(0, 1, 60)
    cand = np.roll(base, 2) + rng.normal(0, 0.1, 60)

    def run(c):
        obj = make_signals_df(spark, {("obj", "s"): base})
        cnd = make_signals_df(spark, {("cand", "s"): c})
        corr = bucket_correlation(
            obj, cnd, tmin=0, bucket_seconds=10**12, lag_max=3,
            step_seconds=15,
        )
        r = best_lag(corr).collect()[0]
        return r["lag"], round(abs(r["corr"]), 6)

    assert run(cand) == run(cand * scale + offset)


@PROP
@given(
    obj_missing=st.sets(st.integers(0, 39), max_size=10),
    cand_missing=st.sets(st.integers(0, 39), max_size=10),
)
def test_missing_samples_give_pairwise_pearson(spark, obj_missing, cand_missing):
    """With 0–10 missing samples on either side, the correlation at every
    lag is numpy's Pearson over the complete pairs, and n_pairs counts
    them."""
    rng = np.random.default_rng(11)
    obj = rng.normal(0, 1, 40)
    cand = np.roll(obj, 1) + rng.normal(0, 0.5, 40)
    obj[sorted(obj_missing)] = np.nan
    cand[sorted(cand_missing)] = np.nan
    rows = bucket_correlation(
        make_signals_df(spark, {("obj", "s"): obj}),
        make_signals_df(spark, {("cand", "s"): cand}),
        tmin=T0, lag_max=3,
    ).collect()
    got = {(r["bucket_id"], r["lag"]): (r["corr"], r["n_pairs"]) for r in rows}
    want = pairwise_lagged_pearson(obj, cand, 3)
    assert set(got) == set(want)
    for key, (corr, n_pairs) in want.items():
        assert got[key][1] == n_pairs, key
        assert abs(got[key][0] - corr) < 1e-9, key


@PROP
@given(const=st.floats(min_value=-1e6, max_value=1e6, allow_nan=False))
def test_constant_series_never_active(spark, const):
    """F2: a constant series never survives the range gate."""
    df = make_signals_df(spark, {("m", "s"): np.full(40, const)})
    assert range_filter(df, 0.005).count() == 0


@PROP
@given(scale=st.floats(min_value=0.1, max_value=1e4, allow_nan=False))
def test_relative_normalization_bounded(spark, scale):
    """P9 (fixed max|x| variant): output always within [-1, 1]."""
    rng = np.random.default_rng(3)
    df = make_signals_df(spark, {("m", "s"): rng.normal(0, scale, 50)})
    rows = get_relative(df).select("rel_value").collect()
    assert all(-1.0 <= r["rel_value"] <= 1.0 for r in rows)


def test_duplicate_doc_identical_signature(spark):
    """MinHash: identical texts yield identical signatures regardless of
    doc_id or row order."""
    from metrics_advisor_spark.functions.dedup import minhash_signatures

    texts = ["alpha beta gamma delta epsilon zeta", "one two three four five six"]
    df = spark.createDataFrame(
        [(i, texts[i % 2]) for i in range(6)], "doc_id long, text string"
    )
    sig = minhash_signatures(df, k=8).collect()
    by_doc = {}
    for r in sig:
        by_doc.setdefault(r["doc_id"], {})[r["perm_id"]] = r["minhash"]
    assert by_doc[0] == by_doc[2] == by_doc[4]
    assert by_doc[1] == by_doc[3] == by_doc[5]
    assert by_doc[0] != by_doc[1]


@PROP
@given(
    scale=st.floats(min_value=0.1, max_value=50.0, allow_nan=False),
    offset=st.floats(min_value=-100.0, max_value=100.0, allow_nan=False),
)
def test_regression_affine_equivariance(spark, scale, offset):
    """y → a·y + b maps slope → a·slope, intercept → a·intercept + b and
    leaves r² unchanged (the invariances that define an OLS fit)."""
    from metrics_advisor_spark.operators.trend import series_regression

    rng = np.random.default_rng(5)
    vals = rng.normal(0, 1, 60).cumsum()
    base = make_signals_df(spark, {("m", "s"): vals})
    fit0 = series_regression(base).collect()[0]
    fit1 = series_regression(
        base.withColumn("value", F.col("value") * scale + offset)
    ).collect()[0]
    assert fit1.slope_per_day == pytest.approx(
        fit0.slope_per_day * scale, rel=1e-3, abs=2e-5
    )
    assert fit1.intercept == pytest.approx(
        fit0.intercept * scale + offset, rel=1e-3, abs=2e-5
    )
    assert fit1.r2 == pytest.approx(fit0.r2, abs=2e-5)


@PROP
@given(offset=st.floats(min_value=-100.0, max_value=100.0, allow_nan=False))
def test_mad_outliers_shift_invariant(spark, offset):
    """MAD outlier membership is invariant under y → y + b."""
    from metrics_advisor_spark.operators.trend import mad_outliers

    rng = np.random.default_rng(6)
    vals = np.concatenate([rng.normal(0, 0.5, 50), [25.0, -30.0]])
    base = make_signals_df(spark, {("m", "s"): vals})
    e0 = sorted(r.epoch for r in mad_outliers(base).collect())
    e1 = sorted(
        r.epoch
        for r in mad_outliers(
            base.withColumn("value", F.col("value") + offset)
        ).collect()
    )
    assert e0 == e1 and e0


@PROP
@given(seed=st.integers(min_value=0, max_value=2**16))
def test_ewma_bounded_by_window_extrema(spark, seed):
    """A normalized convex combination stays inside the window's range."""
    from metrics_advisor_spark.operators.trend import ewma

    rng = np.random.default_rng(seed)
    vals = rng.uniform(-10, 10, 40)
    out = ewma(make_signals_df(spark, {("m", "s"): vals})).collect()
    lo, hi = vals.min() - 1e-6, vals.max() + 1e-6
    assert all(lo <= r.ewma <= hi for r in out)


@PROP
@given(n_copies=st.integers(min_value=2, max_value=4))
def test_zipf_slope_invariant_under_corpus_duplication(spark, n_copies):
    """Replicating every document k× multiplies every term frequency by
    k — a constant shift in ln(freq) — so the fitted Zipf slope must not
    move (ranks, and rank ties, are also preserved because relative
    frequencies are)."""
    from metrics_advisor_spark.functions.text import zipf_slope

    words = []
    for rank in range(1, 21):
        words += [f"w{rank:02d}"] * (200 // rank)
    docs = [(0, " ".join(words)), (1, "alpha beta alpha")]
    base = spark.createDataFrame(docs, "doc_id long, text string")
    dup = spark.createDataFrame(
        [(d + 1000 * c, t) for c in range(n_copies) for d, t in docs],
        "doc_id long, text string",
    )
    s_base = zipf_slope(base, top_n=15).collect()[0]["zipf_slope"]
    s_dup = zipf_slope(dup, top_n=15).collect()[0]["zipf_slope"]
    assert abs(s_base - s_dup) < 1e-6


@PROP
@given(scale=st.floats(min_value=0.1, max_value=50.0, allow_nan=False))
def test_quantile_over_time_scale_equivariance(spark, scale):
    """Positive scaling of values scales every exact quantile by the
    same factor (order statistics + linear interpolation are
    positively homogeneous)."""
    from metrics_advisor_spark.operators.trend import quantile_over_time

    rng = np.random.default_rng(11)
    vals = rng.normal(10, 3, 50)
    a = make_signals_df(spark, {("m", "s"): vals})
    b = make_signals_df(spark, {("m", "s"): vals * scale})
    qa = quantile_over_time(a).orderBy("slot_epoch").collect()
    qb = quantile_over_time(b).orderBy("slot_epoch").collect()
    assert len(qa) == len(qb)
    for ra, rb in zip(qa, qb):
        assert rb["p50"] == pytest.approx(ra["p50"] * scale, rel=1e-4, abs=1e-4)
        assert rb["p95"] == pytest.approx(ra["p95"] * scale, rel=1e-4, abs=1e-4)


@PROP
@given(shift_buckets=st.integers(min_value=-20, max_value=20))
def test_irate_time_shift_equivariance(spark, shift_buckets):
    """Shifting all timestamps by a whole number of buckets shifts
    bucket_epoch by exactly that and leaves every rate unchanged."""
    from metrics_advisor_spark.operators.trend import irate

    rng = np.random.default_rng(13)
    vals = np.cumsum(rng.uniform(0, 5, 60))  # a counter
    t0 = 1640588400
    a = make_signals_df(spark, {("m", "s"): vals}, t0=t0)
    b = make_signals_df(spark, {("m", "s"): vals}, t0=t0 + shift_buckets * 600)
    ra = {r["bucket_epoch"]: r["irate_per_s"] for r in irate(a).collect()}
    rb = {r["bucket_epoch"]: r["irate_per_s"] for r in irate(b).collect()}
    assert rb == {k + shift_buckets * 600: v for k, v in ra.items()}


@PROP
@given(seed=st.integers(min_value=0, max_value=10**6))
def test_global_shuffle_is_permutation_for_any_seed(spark, seed):
    """Whatever the seed, global_shuffle emits each doc exactly once
    with dense per-shard positions (a true permutation)."""
    from metrics_advisor_spark.functions.corpus import global_shuffle

    docs = spark.createDataFrame([(i,) for i in range(97)], "doc_id long")
    rows = global_shuffle(docs, n_shards=4, seed=seed).collect()
    assert sorted(r["doc_id"] for r in rows) == list(range(97))
    by_shard: dict[int, list[int]] = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r["shard_pos"])
    for pos in by_shard.values():
        assert sorted(pos) == list(range(len(pos)))


@PROP
@given(
    n_users=st.integers(min_value=5, max_value=40),
    seed=st.integers(min_value=0, max_value=10**6),
)
def test_funnel_counts_monotone_nonincreasing(spark, n_users, seed):
    """Completing step k requires completing step k-1 first, so funnel
    counts can never increase with depth — for ANY event history."""
    import numpy as np

    from metrics_advisor_spark.operators.sessions import funnel

    rng = np.random.default_rng(seed)
    types = ["view", "click", "purchase"]
    rows = []
    for u in range(n_users):
        for i in range(rng.integers(1, 8)):
            rows.append(
                (
                    u,
                    _ts_prop(int(rng.integers(0, 10_000))),
                    types[int(rng.integers(0, 3))],
                )
            )
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string"
    )
    got = sorted(
        funnel(ev, steps=tuple(types)).collect(),
        key=lambda r: r["step_idx"],
    )
    counts = [r["n_users"] for r in got]
    assert counts == sorted(counts, reverse=True)


def _ts_prop(s: int):
    from datetime import datetime, timezone

    return datetime.fromtimestamp(s, tz=timezone.utc).replace(tzinfo=None)


@PROP
@given(seed=st.integers(min_value=0, max_value=10**6))
def test_bloom_never_false_negative(spark, seed):
    """Every inserted hash must probe true — the Bloom guarantee the
    decontamination prefilter's losslessness rests on."""
    import numpy as np

    from metrics_advisor_spark.functions.curation import (
        bloom_probe_col,
        build_bloom,
    )

    rng = np.random.default_rng(seed)
    hashes = [int(x) for x in rng.integers(0, 2**55, 200)]
    df = spark.createDataFrame([(h,) for h in hashes], "shingle_hash long")
    m, k = 1 << 14, 5
    bloom = build_bloom(df, m_bits=m, k=k)
    admitted = (
        df.crossJoin(F.broadcast(bloom))
        .filter(bloom_probe_col("shingle_hash", m, k))
        .count()
    )
    assert admitted == df.distinct().count()


@PROP
@given(seed=st.integers(min_value=0, max_value=10**6))
def test_interval_merge_partitions_events(spark, seed):
    """Islands partition each user's events exactly: total n_events over
    islands == event count, islands are disjoint, ordered and ≥ gap
    apart."""
    from metrics_advisor_spark.operators.sessions import interval_merge
    from conftest import epoch_dt

    rng = np.random.default_rng(seed)
    times = np.cumsum(rng.integers(1, 4000, size=30))
    ev = spark.createDataFrame(
        [(int(i), 1, epoch_dt(int(t))) for i, t in enumerate(times)],
        "event_id long, user_id long, ts timestamp",
    )
    islands = sorted(
        interval_merge(ev, gap_seconds=1800).collect(),
        key=lambda r: r["island_start"],
    )
    assert sum(r["n_events"] for r in islands) == 30
    for a, b in zip(islands, islands[1:]):
        assert b["island_start"] - a["island_end"] > 1800
    for r in islands:
        assert r["island_start"] <= r["island_end"]


@PROP
@given(seed=st.integers(min_value=0, max_value=10**6))
def test_twap_bounded_by_extrema(spark, seed):
    """TWAP of any sample set lies within [min, max] of the values."""
    from metrics_advisor_spark.operators.resample import time_weighted_avg
    from conftest import epoch_dt

    rng = np.random.default_rng(seed)
    times = np.cumsum(rng.integers(1, 500, size=20))
    vals = rng.normal(0, 100, size=20)
    df = spark.createDataFrame(
        [
            ("m", "s", epoch_dt(int(t)), float(v))
            for t, v in zip(times, vals)
        ],
        "metric string, series string, ts timestamp, value double",
    )
    for r in time_weighted_avg(df, 3600).collect():
        assert vals.min() - 1e-9 <= r["twap"] <= vals.max() + 1e-9


@PROP
@given(seed=st.integers(min_value=0, max_value=10**6))
def test_interpolation_bounded_by_neighbours(spark, seed):
    """Every interpolated value lies between its two observed
    neighbours (linear interpolation cannot overshoot)."""
    from metrics_advisor_spark.operators.resample import interpolate_hourly
    from conftest import epoch_dt

    rng = np.random.default_rng(seed)
    # observed hourly points at random slots in [0, 48), values random
    slots = sorted(rng.choice(48, size=8, replace=False).tolist())
    vals = {s: float(rng.normal(0, 10)) for s in slots}
    df = spark.createDataFrame(
        [
            ("m", "s", epoch_dt(s * 3600), v)
            for s, v in vals.items()
        ],
        "metric string, series string, ts timestamp, value double",
    )
    out = sorted(
        interpolate_hourly(df).collect(), key=lambda r: r["slot_epoch"]
    )
    obs_slots = sorted(vals)
    for r in out:
        if not r["is_interpolated"]:
            continue
        s = r["slot_epoch"] // 3600
        lo = max(x for x in obs_slots if x < s)
        hi = min(x for x in obs_slots if x > s)
        lo_v, hi_v = sorted((vals[lo], vals[hi]))
        assert lo_v - 1e-9 <= r["value"] <= hi_v + 1e-9


@PROP
@given(seed=st.integers(min_value=0, max_value=10**6))
def test_typo_pairs_match_bruteforce(spark, seed):
    """The deletion-neighborhood join returns EXACTLY the brute-force
    levenshtein ≤ 1 pair set on a random vocabulary."""
    import itertools

    from metrics_advisor_spark.functions.text import typo_pairs

    rng = np.random.default_rng(seed)
    base = ["spark", "table", "query", "batch", "merge"]
    words = set(base)
    for w in base:  # perturbations: delete, substitute, insert
        i = int(rng.integers(0, len(w)))
        words.add(w[:i] + w[i + 1:])
        words.add(w[:i] + "z" + w[i + 1:])
        words.add(w[:i] + "q" + w[i:])
    words = {w for w in words if len(w) >= 4}

    def lev(a, b):
        d = np.zeros((len(a) + 1, len(b) + 1), dtype=int)
        d[:, 0] = np.arange(len(a) + 1)
        d[0, :] = np.arange(len(b) + 1)
        for i in range(1, len(a) + 1):
            for j in range(1, len(b) + 1):
                d[i, j] = min(
                    d[i - 1, j] + 1,
                    d[i, j - 1] + 1,
                    d[i - 1, j - 1] + (a[i - 1] != b[j - 1]),
                )
        return d[len(a), len(b)]

    expected = {
        (a, b)
        for a, b in itertools.combinations(sorted(words), 2)
        if lev(a, b) <= 1
    }
    vocab = spark.createDataFrame([(w,) for w in words], "w string")
    got = {
        (r["word_a"], r["word_b"]) for r in typo_pairs(vocab).collect()
    }
    assert got == expected


@PROP
@given(
    train_f=st.floats(min_value=0.5, max_value=0.9),
    val_f=st.floats(min_value=0.05, max_value=0.1),
)
def test_train_split_fractions_approximate(spark, train_f, val_f):
    """Split sizes track the requested fractions (id-hash uniformity)
    and every doc lands in exactly one split."""
    from metrics_advisor_spark.functions.curation import train_val_test_split

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    out = train_val_test_split(df, fractions=(train_f, val_f))
    counts = dict(
        map(tuple, out.groupBy("split").count().collect())
    )
    assert sum(counts.values()) == 2000
    assert abs(counts.get("train", 0) / 2000 - train_f) < 0.05


@PROP
@given(shift=st.floats(min_value=-100.0, max_value=100.0),
       scale=st.floats(min_value=0.1, max_value=50.0))
def test_theil_sen_affine_equivariance(spark, shift, scale):
    """slope(a·x + b) = a·slope(x): the Theil–Sen estimator is affine-
    equivariant (medians commute with monotone affine maps)."""
    from metrics_advisor_spark.operators.trend import theil_sen

    rng = np.random.default_rng(7)
    base = rng.normal(0, 5, 30)

    def slope(vals):
        df = spark.createDataFrame(
            [("m", h * 3600, float(v)) for h, v in enumerate(vals)],
            "metric string, slot_epoch long, value double",
        )
        return theil_sen(df).collect()[0]["slope_per_hour"]

    s0 = slope(base)
    s1 = slope(base * scale + shift)
    assert abs(s1 - s0 * scale) < max(1e-4, abs(s0 * scale) * 1e-3)


@PROP
@given(seed=st.integers(min_value=0, max_value=10**6))
def test_ks_drift_bounded_and_zero_on_identical(spark, seed):
    """KS ∈ [0, 1] for any data; ~0 when both halves share the values."""
    from datetime import datetime, timezone

    from metrics_advisor_spark.operators.quality import ks_drift

    rng = np.random.default_rng(seed)
    vals = rng.normal(0, 1, 60)
    rows = []
    for half in range(2):  # identical value multiset in each half
        for i, v in enumerate(vals):
            t = half * 100000 + i * 60
            rows.append(("m", datetime.fromtimestamp(
                t, tz=timezone.utc).replace(tzinfo=None), float(v)))
    sig = spark.createDataFrame(
        rows, "metric string, ts timestamp, value double"
    )
    got = ks_drift(sig).collect()[0]
    assert 0.0 <= got["ks"] <= 1.0
    assert got["ks"] < 1e-9


@PROP
@given(seed=st.integers(min_value=0, max_value=10**6))
def test_token_gini_bounds(spark, seed):
    """Gini ∈ [0, 1) for any corpus; 0 exactly for uniform counts."""
    from metrics_advisor_spark.functions.text import token_gini

    rng = np.random.default_rng(seed)
    words = [f"w{i}" for i in range(20)]
    text = " ".join(rng.choice(words, size=300))
    docs = spark.createDataFrame(
        [(1, text, "s")], "doc_id long, text string, source string"
    )
    g = token_gini(docs).collect()[0]["gini"]
    assert 0.0 <= g < 1.0


@PROP
@given(k=st.integers(min_value=10, max_value=200))
def test_rrf_fusion_agreement_tops_the_list(spark, k):
    """A document ranked #1 by BOTH lists outranks every doc present
    in only one list, for any RRF constant."""
    from metrics_advisor_spark.functions.text import rrf_fuse

    a = spark.createDataFrame(
        [(100, 1), (2, 2), (3, 3)], "doc_id long, rank int"
    )
    b = spark.createDataFrame(
        [(100, 1), (4, 2), (5, 3)], "doc_id long, rank int"
    )
    got = rrf_fuse(a, b, k_const=k, topk=10).collect()
    best = min(got, key=lambda r: r["rank"])
    assert best["doc_id"] == 100


@PROP
@given(mult=st.integers(min_value=2, max_value=5))
def test_dup_ngram_fraction_copies_saturate(spark, mult):
    """Replicating a doc m times drives every copy's dup_fraction to
    exactly 1 while leaving a unique doc at 0."""
    from metrics_advisor_spark.functions.dedup import dup_ngram_fraction

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, base) for i in range(mult)]
    rows.append((999, "one two three four five six seven eight nine ten"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["dup_fraction"]
           for r in dup_ngram_fraction(docs).collect()}
    assert all(got[i] == 1.0 for i in range(mult))
    assert got[999] == 0.0


@PROP
@given(tol=st.integers(min_value=1, max_value=3600))
def test_event_throttle_partition(spark, tol):
    """kept + dropped = total for every tolerance; kept ≥ 1 per
    non-empty (user, type) stream."""
    from datetime import datetime, timezone

    from metrics_advisor_spark.operators.sessions import event_throttle

    rng = np.random.default_rng(3)
    rows = []
    eid = 0
    for u in range(5):
        t = 0
        for _ in range(20):
            t += int(rng.integers(1, 120))
            rows.append((u, eid, datetime.fromtimestamp(
                t, tz=timezone.utc).replace(tzinfo=None), "e"))
            eid += 1
    ev = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, event_type string"
    )
    got = event_throttle(ev, tolerance_s=tol).collect()[0]
    assert got["n_kept"] + got["n_dropped"] == 100
    assert got["n_kept"] >= 5  # at least one island per user stream
