"""Lagged normalized cross-correlation (SURVEY.md §2 J1, P8, A4, K1–K3).

Reference semantics (/root/reference/metrics_advisor.py:183-196): for each
10-minute bucket, pair every objective signal with every candidate signal,
compute normalized cross-correlation at lags −lag_max…+lag_max over the
bucket's 40-sample windows, keep the (lag, corr) with max |corr|, and rank
candidates per (bucket, objective) by |corr| descending.

Spark-first plan (no UDF anywhere):

1. Candidate rows are replicated across the lag dimension by a single
   ``explode(sequence(-k, k))`` projection, shifting the JOIN timestamp by
   ``lag × step`` — correlating obj(t) with cand(t + lag·step).  This is a
   narrow transformation: no window function, no per-lag plan, no extra
   shuffle.
2. The objective side (≤ a handful of metrics, F4) is broadcast, so the
   pairing join never shuffles the big candidate side by anything other
   than its natural (ts) key — and with the broadcast hint, not at all.
3. ``pearson`` per (bucket, obj, cand, lag) — a hash aggregate
   with map-side partials.  Pearson of the two windows IS zero-normalized
   cross-correlation at that lag, matching mathbox ``ncc``.
4. Best lag via one row_number window over the tiny aggregate output
   (ties broken toward the smallest lag, matching Python ``max()`` which
   keeps the first of equals in ascending lag order).

Deviation from reference (documented, SURVEY Q3): windows align on
timestamps, not sample positions, so series with missing samples stay
aligned; at bucket edges a lagged candidate sample may come from the
neighboring bucket (full-overlap correlation) instead of truncating.

Deviation from reference (missing samples): a null or NaN sample is
missing (``present``).  A pair with a missing side is left out of the
window, so ``corr`` is Pearson's r of the complete pairs and ``n_pairs``
counts only those.  The reference's numpy arrays would carry a NaN into
the whole window's correlation instead.  ``bucket_correlation``,
``positional_correlation``, ``corr_matrix``, ``corr_matrix_blocked``,
the streaming correlation and the trend module's Spearman and ACF all
share ``present`` and ``pearson``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def lag_explode(
    candidates: DataFrame,
    lag_max: int,
    step_seconds: int,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Replicate candidate rows for each lag, shifting the join timestamp.

    Row (series, ts, value) → (series, lag, join_ts = ts − lag·step, value)
    for lag ∈ [−lag_max, lag_max]: candidate value at time t is paired with
    objective time t − lag·step, i.e. positive lag means the candidate
    LAGS the objective (reference ncc(a, b, lag) convention).
    ``passthrough`` columns are carried along unchanged.
    """
    return candidates.select(
        F.col("metric").alias("cand_metric"),
        F.col("series").alias("cand_series"),
        F.explode(F.sequence(F.lit(-lag_max), F.lit(lag_max))).alias("lag"),
        F.col("ts"),
        F.col("value").alias("cand_value"),
        *[F.col(c) for c in passthrough],
    ).withColumn(
        "join_ts",
        F.timestamp_add("SECOND", (-F.col("lag") * step_seconds).cast("int"), F.col("ts")),
    )


def present() -> Column:
    """The one rule for missing samples: a null or NaN ``value`` is missing.

    Every correlation drops its missing samples before it pairs them, so
    a pair with a missing side never reaches ``pearson``.
    """
    return F.col("value").isNotNull() & ~F.isnan("value")


def pearson(x: str, y: str) -> tuple[Column, Column]:
    """Pearson's r of columns ``x`` and ``y`` over a group's rows, and the
    row count, as ``corr`` and ``n_pairs``.

    Each row must pair two present samples (``present``), so that the
    covariance and both standard deviations are taken over the same
    complete pairs.  Spelled out rather than ``corr()``: under ANSI mode
    corr() raises DIVIDE_BY_ZERO on a zero-variance window (a constant
    series in a bucket); try_divide yields NULL there, which callers
    filter — the contract DuckDB's corr() has.
    """
    return (
        F.try_divide(
            F.covar_samp(x, y), F.stddev_samp(x) * F.stddev_samp(y)
        ).alias("corr"),
        F.count(F.lit(1)).alias("n_pairs"),
    )


def _lagged_pearson(
    objectives: DataFrame,
    candidates: DataFrame,
    step: int,
    *,
    lag_max: int,
    min_pairs: int,
    same_bucket: bool = True,
) -> DataFrame:
    """Per-(bucket, obj, cand, lag) Pearson of two keyed sample sides.

    Both sides are (metric, series, bucket_id, key, value) with an integer
    ``key`` that advances by ``step`` per sample.  Missing samples are
    dropped, and each candidate row is replicated per lag to pair with the
    objective sample at key − lag·step.  The objective side is broadcast,
    so the only aggregate is one hash aggregate with map-side partials.
    """
    obj = objectives.where(present()).select(
        F.col("metric").alias("obj_metric"),
        F.col("series").alias("obj_series"),
        "bucket_id",
        F.col("key").alias("obj_key"),
        F.col("value").alias("obj_value"),
    )
    cand = candidates.where(present()).select(
        F.col("metric").alias("cand_metric"),
        F.col("series").alias("cand_series"),
        F.col("bucket_id").alias("cand_bucket_id"),
        F.explode(F.sequence(F.lit(-lag_max), F.lit(lag_max))).alias("lag"),
        "key",
        F.col("value").alias("cand_value"),
    )
    cand = cand.withColumn(
        "join_key", F.col("key") - F.col("lag").cast("long") * step
    )
    cond = cand["join_key"] == obj["obj_key"]
    if same_bucket:
        cond = cond & (cand["cand_bucket_id"] == obj["bucket_id"])
    return (
        cand.join(F.broadcast(obj), cond, "inner")
        .groupBy(
            "bucket_id", "obj_metric", "obj_series",
            "cand_metric", "cand_series", "lag",
        )
        .agg(*pearson("obj_value", "cand_value"))
        .filter(F.col("n_pairs") >= min_pairs)
        .filter(F.col("corr").isNotNull())
    )


def bucket_correlation(
    objectives: DataFrame,
    candidates: DataFrame,
    *,
    tmin: int | DataFrame,
    bucket_seconds: int = 600,
    lag_max: int = 3,
    step_seconds: int = 15,
    min_pairs: int = 2,
    same_bucket: bool = True,
) -> DataFrame:
    """P8+J1: per-(bucket, obj, cand, lag) Pearson correlation.

    ``objectives``/``candidates`` are signals-shaped DataFrames.  Returns
    (bucket_id, obj_metric, obj_series, cand_metric, cand_series, lag,
    corr, n_pairs).

    ``same_bucket=True`` additionally requires the candidate SAMPLE to lie
    in the same bucket as the objective sample, reproducing the
    reference's truncated-overlap windows (a lag-k correlation uses
    40−|k| pairs, metrics_advisor.py:186-187); False allows full overlap
    across bucket edges.

    ``tmin`` may be a driver int OR a lazy 1-row ``(tmin, ...)`` aggregate
    DataFrame (``buckets.time_extent_df``): the latter is broadcast onto
    both sides, keeping the whole pipeline collect-free.
    """
    if isinstance(tmin, DataFrame):
        ext = tmin.select("tmin")
        objectives = objectives.crossJoin(F.broadcast(ext))
        candidates = candidates.crossJoin(F.broadcast(ext))
        tmin_obj = F.col("tmin")
    else:
        tmin_obj = F.lit(tmin)
    bucket = F.floor((F.unix_timestamp("ts") - tmin_obj) / F.lit(bucket_seconds))

    def keyed(df: DataFrame) -> DataFrame:
        return df.select(
            "metric", "series", bucket.alias("bucket_id"),
            F.unix_micros("ts").alias("key"), "value",
        )

    return _lagged_pearson(
        keyed(objectives),
        keyed(candidates),
        step_seconds * 1_000_000,
        lag_max=lag_max,
        min_pairs=min_pairs,
        same_bucket=same_bucket,
    )


def best_lag(correlations: DataFrame) -> DataFrame:
    """A4: per pair, keep the (lag, corr) maximizing |corr|.

    Tie-break: smallest lag first — Python ``max()`` keeps the first
    maximal element scanning lags in ascending order
    (metrics_advisor.py:193).
    """
    w = Window.partitionBy(
        "bucket_id", "obj_metric", "obj_series", "cand_metric", "cand_series"
    ).orderBy(F.abs(F.col("corr")).desc(), F.col("lag").asc())
    return (
        correlations.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def positional_correlation(
    objectives: DataFrame,
    candidates: DataFrame,
    *,
    count_bucket: int = 40,
    lag_max: int = 3,
    min_pairs: int = 2,
) -> DataFrame:
    """P8 in the reference's POSITIONAL mode (parity flag Q3).

    The reference slices windows by sample position, not timestamp
    (``data[40i:40i+40]``, metrics_advisor.py:186-187), so series with
    missing rows drift out of time alignment — reproduced here exactly:
    each series gets a 0-based row_number in ts order, bucket = pos //
    count_bucket, and a lag-k pair joins obj position p with candidate
    position p + k inside the same positional bucket.  Positions are
    assigned before missing samples are dropped, so a missing value
    still takes its slot, as it does in the reference's arrays.

    Same output schema as ``bucket_correlation``.  One row_number window
    per side (shuffle on (metric, series)) + the same broadcast join —
    the positional index replaces the timestamp as the join key.  The
    candidate side keeps its (metric, series) partitioning through the
    join, so the aggregate needs no further shuffle.
    """
    w = Window.partitionBy("metric", "series").orderBy("ts")

    def keyed(df: DataFrame) -> DataFrame:
        return df.select(
            "metric", "series", (F.row_number().over(w) - 1).alias("key"),
            "value",
        ).withColumn("bucket_id", F.floor(F.col("key") / count_bucket))

    return _lagged_pearson(
        keyed(objectives),
        keyed(candidates),
        1,
        lag_max=lag_max,
        min_pairs=min_pairs,
    )


def corr_matrix(signals: DataFrame, min_pairs: int = 2) -> DataFrame:
    """Pairwise Pearson correlation between ALL metric series on their
    aligned timestamps (the exploratory "what moves together" matrix).

    Self-join on ts with metric_a < metric_b (upper triangle), then one
    corr aggregate per pair — the join key is time, so co-located reads
    follow from time-partitioned storage.  Output: (metric_a, metric_b,
    corr, n_pairs).  At k metrics the result is k(k−1)/2 rows — the
    OUTPUT is quadratic in metrics, not the shuffle: rows join only
    within equal timestamps.
    """
    signals = signals.where(present())
    a = signals.select(
        F.col("metric").alias("metric_a"),
        F.col("ts"),
        F.col("value").alias("va"),
    )
    b = signals.select(
        F.col("metric").alias("metric_b"),
        F.col("ts"),
        F.col("value").alias("vb"),
    )
    return (
        a.join(b, "ts")
        .filter(F.col("metric_a") < F.col("metric_b"))
        .groupBy("metric_a", "metric_b")
        .agg(*pearson("va", "vb"))
        .filter(F.col("n_pairs") >= min_pairs)
        .filter(F.col("corr").isNotNull())
    )


def corr_matrix_blocked(
    signals: DataFrame,
    *,
    min_pairs: int = 2,
    num_blocks: int = 64,
    topk_per_metric: int | None = None,
    ts_chunk: int = 65536,
) -> DataFrame:
    """Scale path for ``corr_matrix``: identical output, bounded shuffles.

    ``corr_matrix``'s ts-keyed self-join materializes k² rows per
    timestamp — fine at hundreds of metrics, a scale-killer at 100×.
    This variant never materializes per-timestamp pairs.  Pearson over
    the join's pair-rows decomposes into sufficient statistics that are
    OUTER PRODUCTS of per-(ts, metric) aggregates:

        per ts:  c = row count, s = Σv, s2 = Σv²   (one pre-agg shuffle)
        N  = CᵀC    pair row count      S = SᵀS   Σ va·vb
        A  = SᵀC    Σ va over pairs     Q = S2ᵀC  Σ va² over pairs

    so each hash(ts)-block computes four k×k BLAS matmuls over its dense
    (T_block × k_block) slice and emits SPARSE upper-triangle partials
    (only co-occurring pairs).  A final groupBy(metric_a, metric_b) sum
    — with map-side combine, ≤ one row per co-occurring pair per block —
    reassembles exact global statistics.  Shuffled volume is
    O(distinct(ts, metric)) + O(blocks × co-occurring pairs), never
    O(rows × k).

    ``topk_per_metric`` optionally bounds the OUTPUT too (the strongest
    |corr| partners per metric), mirroring hamming_pairs vs
    hamming_pairs_blocked.  Per-block memory is T_chunk × k dense +
    4·k² partials; beyond k ≈ 5000 metrics, shard the metric vocabulary
    into pair-blocks on top of this (documented limit).

    Exactness: same pairs and n_pairs as ``corr_matrix``; corr agrees to
    FP-reassociation error (≈1e-12) — asserted in tests/test_xcorr.py.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    per_ts = (
        signals.where(present())
        .groupBy("ts", "metric")
        .agg(
            F.count(F.lit(1)).cast("double").alias("c"),
            F.sum("value").alias("s"),
            F.sum(F.col("value") * F.col("value")).alias("s2"),
        )
        .withColumn("blk", F.pmod(F.xxhash64("ts"), F.lit(num_blocks)))
    )

    partial_schema = T.StructType(
        [
            T.StructField("metric_a", T.StringType()),
            T.StructField("metric_b", T.StringType()),
            T.StructField("n", T.DoubleType()),
            T.StructField("sxy", T.DoubleType()),
            T.StructField("sx", T.DoubleType()),
            T.StructField("sy", T.DoubleType()),
            T.StructField("sxx", T.DoubleType()),
            T.StructField("syy", T.DoubleType()),
        ]
    )

    def emit_partials(pdf: pd.DataFrame) -> pd.DataFrame:
        metrics = np.sort(pdf["metric"].unique())
        k = metrics.size
        if k < 2:
            return pd.DataFrame(columns=[f.name for f in partial_schema.fields])
        code = {m: i for i, m in enumerate(metrics)}
        mi = pdf["metric"].map(code).to_numpy()
        ts_codes, _ = pd.factorize(pdf["ts"])
        N = np.zeros((k, k))
        S = np.zeros((k, k))
        A = np.zeros((k, k))
        Q = np.zeros((k, k))
        n_ts = int(ts_codes.max()) + 1
        for lo in range(0, n_ts, ts_chunk):
            hi = min(lo + ts_chunk, n_ts)
            sel = (ts_codes >= lo) & (ts_codes < hi)
            rows = ts_codes[sel] - lo
            cols = mi[sel]
            C = np.zeros((hi - lo, k))
            Sv = np.zeros((hi - lo, k))
            S2 = np.zeros((hi - lo, k))
            C[rows, cols] = pdf["c"].to_numpy()[sel]
            Sv[rows, cols] = pdf["s"].to_numpy()[sel]
            S2[rows, cols] = pdf["s2"].to_numpy()[sel]
            N += C.T @ C
            S += Sv.T @ Sv
            A += Sv.T @ C
            Q += S2.T @ C
        ia, ib = np.triu_indices(k, 1)
        keep = N[ia, ib] > 0
        ia, ib = ia[keep], ib[keep]
        return pd.DataFrame(
            {
                "metric_a": metrics[ia],
                "metric_b": metrics[ib],
                "n": N[ia, ib],
                "sxy": S[ia, ib],
                "sx": A[ia, ib],
                "sy": A[ib, ia],
                "sxx": Q[ia, ib],
                "syy": Q[ib, ia],
            }
        )

    partials = per_ts.groupBy("blk").applyInPandas(emit_partials, partial_schema)

    n = F.col("n")
    cov = (F.col("sxy") - F.col("sx") * F.col("sy") / n) / (n - 1)
    var_a = (F.col("sxx") - F.col("sx") * F.col("sx") / n) / (n - 1)
    var_b = (F.col("syy") - F.col("sy") * F.col("sy") / n) / (n - 1)
    out = (
        partials.groupBy("metric_a", "metric_b")
        .agg(
            F.sum("n").alias("n"),
            F.sum("sxy").alias("sxy"),
            F.sum("sx").alias("sx"),
            F.sum("sy").alias("sy"),
            F.sum("sxx").alias("sxx"),
            F.sum("syy").alias("syy"),
        )
        .filter(n >= min_pairs)
        .withColumn(
            "corr", F.try_divide(cov, F.sqrt(var_a) * F.sqrt(var_b))
        )
        .filter(F.col("corr").isNotNull())
        .select(
            "metric_a",
            "metric_b",
            "corr",
            n.cast("long").alias("n_pairs"),
        )
    )
    if topk_per_metric is not None:
        sym = out.unionByName(
            out.select(
                F.col("metric_b").alias("metric_a"),
                F.col("metric_a").alias("metric_b"),
                "corr",
                "n_pairs",
            )
        )
        w = Window.partitionBy("metric_a").orderBy(
            F.abs(F.col("corr")).desc(), F.col("metric_b")
        )
        out = (
            sym.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= topk_per_metric)
            .drop("rk")
            .select(
                F.least("metric_a", "metric_b").alias("metric_a"),
                F.greatest("metric_a", "metric_b").alias("metric_b"),
                "corr",
                "n_pairs",
            )
            .distinct()
        )
    return out


def rank_correlations(best: DataFrame, top_k: int | None = None) -> DataFrame:
    """K1–K3: rank candidates per (bucket, objective) by |corr| desc.

    Deterministic tie-break on candidate identity so top-k is stable.
    """
    w = Window.partitionBy("bucket_id", "obj_metric", "obj_series").orderBy(
        F.abs(F.col("corr")).desc(),
        F.col("cand_metric").asc(),
        F.col("cand_series").asc(),
    )
    ranked = best.withColumn("rank", F.row_number().over(w))
    if top_k is not None:
        ranked = ranked.filter(F.col("rank") <= top_k)
    return ranked
