"""Per-series trend statistics: OLS regression, MAD outliers, EWMA.

Beyond-reference operators extending the detection family
(reference analogue: the k-sigma residual test in
``/root/reference/metrics_advisor.py:56`` is a location/scale gate; these
add slope, robust-scale and recency-weighted variants).

All three are expressible with built-in JVM aggregates/windows — no
Python in the hot path.  Shuffle profile at 100 TB:

* ``series_regression`` — one hash aggregate keyed (metric, series)
  after a broadcast of the single-row global-epoch-min (the x shift
  keeps x² sums ~1e14 instead of 1e18, far from double trouble even
  with naive summation; Spark and DuckDB both use stable central-moment
  merges anyway).
* ``mad_outliers`` — two (metric, series)-keyed aggregates + two
  broadcast-back joins; medians are exact interpolated percentiles.
* ``ewma`` — one window sort per series; the exponential weights use a
  fixed-depth lag expansion so the whole thing stays inside
  whole-stage codegen (no UDF, no recursion).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from metrics_advisor_spark.operators.xcorr import pearson, present

SERIES_KEY = ("metric", "series")


def series_regression(signals: DataFrame, min_points: int = 3) -> DataFrame:
    """Per-series OLS fit of value against time.

    slope is reported per *day* so 6-decimal rounding keeps significant
    digits (per-second slopes on metric data are ~1e-9).
    """
    ext = signals.agg(F.min(F.unix_timestamp("ts")).alias("t0"))
    x = F.unix_timestamp("ts") - F.col("t0")
    # r² is assembled from covar/var aggregates rather than corr():
    # under ANSI mode (Spark 4 default) corr() THROWS DIVIDE_BY_ZERO on a
    # zero-variance group — a constant series is a legitimate input, and
    # the NULL-on-degenerate contract (try_divide) is what we want.
    fitted = (
        signals.crossJoin(F.broadcast(ext))
        .groupBy(*SERIES_KEY)
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.covar_pop(x, F.col("value")).alias("sxy"),
            F.var_pop(x).alias("sxx"),
            F.var_pop("value").alias("syy"),
            F.avg(x).alias("mx"),
            F.avg("value").alias("my"),
        )
        .filter((F.col("n_samples") >= min_points) & (F.col("sxx") > 0))
    )
    slope = F.col("sxy") / F.col("sxx")
    r2 = F.try_divide(
        F.col("sxy") * F.col("sxy"), F.col("sxx") * F.col("syy")
    )
    return fitted.select(
        "metric",
        "series",
        "n_samples",
        F.round(slope * 86400, 6).alias("slope_per_day"),
        F.round(F.col("my") - slope * F.col("mx"), 6).alias("intercept"),
        F.round(r2, 6).alias("r2"),
    )


def mad_outliers(signals: DataFrame, n_mads: float = 3.0) -> DataFrame:
    """Robust outliers: |value - median| > n_mads * 1.4826 * MAD.

    The MAD (median absolute deviation) resists the masking that makes
    k-sigma miss outliers in contaminated series; 1.4826 rescales MAD to
    σ under normality.  Exact interpolated medians on both engines.
    """
    med = signals.groupBy(*SERIES_KEY).agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    dev = signals.join(med, list(SERIES_KEY)).withColumn(
        "dev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy(*SERIES_KEY).agg(F.percentile("dev", F.lit(0.5)).alias("mad"))
    return (
        dev.join(mad, list(SERIES_KEY))
        .filter(F.col("dev") > F.lit(n_mads) * F.lit(1.4826) * F.col("mad"))
        .select(
            "metric",
            "series",
            F.unix_timestamp("ts").alias("epoch"),
            F.round("value", 6).alias("value"),
        )
    )


def ewma(signals: DataFrame, alpha: float = 0.2, depth: int = 12) -> DataFrame:
    """Recency-weighted rolling mean (pandas ``ewm(adjust=True)`` over a
    finite window): weights (1-alpha)^k over the last ``depth`` samples,
    normalized by the weights actually present.

    The fixed-depth lag expansion is deliberate: a closed-form
    ``(1-alpha)^(-i)`` prefix trick overflows for long series, and a
    recursive definition needs a sequential scan — both engines get the
    identical finite-window formula instead, fully inside codegen.
    """
    w = Window.partitionBy(*SERIES_KEY).orderBy("ts")
    decay = 1.0 - alpha
    num = F.lit(0.0)
    den = F.lit(0.0)
    for k in range(depth):
        lagged = F.lag("value", k).over(w)
        weight = F.lit(decay**k)
        num = num + F.coalesce(lagged * weight, F.lit(0.0))
        den = den + F.when(lagged.isNotNull(), weight).otherwise(F.lit(0.0))
    # try_divide: an all-NULL window (possible with NULL-valued samples)
    # yields NULL instead of an ANSI divide-by-zero error
    return signals.select(
        "metric",
        "series",
        F.unix_timestamp("ts").alias("epoch"),
        F.round(F.try_divide(num, den), 6).alias("ewma"),
    )


def counter_rate(
    signals: DataFrame,
    bucket_s: int = 600,
    order_col: str | None = None,
) -> DataFrame:
    """PromQL-style counter ``increase``/``rate`` per metric and bucket.

    Treats each (metric, series) as a counter sample stream: adjacent
    differences, with a counter *reset* (value dropped) contributing the
    post-reset value — the Prometheus extrapolation-free semantics.
    Per-series increases are then summed into fixed buckets per metric
    (the ``sum(rate(m[10m]))`` shape every metrics stack renders).

    One window sort per series plus one (metric, bucket)-keyed hash
    aggregate; both stages shuffle on uniform keys.  Pass ``order_col``
    to break equal-timestamp ties when the source can produce them
    (the driver's events table has unique per-series timestamps).
    """
    order = ["ts"] + ([order_col] if order_col else [])
    w = Window.partitionBy(*SERIES_KEY).orderBy(*order)
    prev = F.lag("value").over(w)
    delta = F.col("value") - prev
    increase = F.when(prev.isNull(), F.lit(None)).otherwise(
        F.when(delta < 0, F.col("value")).otherwise(delta)
    )
    bucket = (F.floor(F.unix_timestamp("ts") / bucket_s) * bucket_s).cast(
        "long"
    )
    return (
        signals.select(
            "metric", bucket.alias("bucket_epoch"), increase.alias("inc")
        )
        .filter(F.col("inc").isNotNull())
        .groupBy("metric", "bucket_epoch")
        .agg(
            F.round(F.sum("inc"), 6).alias("increase"),
            F.round(F.sum("inc") / bucket_s, 6).alias("rate_per_s"),
        )
    )


def predict_linear(signals: DataFrame, horizon_s: int = 3600) -> DataFrame:
    """PromQL ``predict_linear``: per-series OLS extrapolation
    ``horizon_s`` seconds past the series' LAST sample (the alerting
    primitive "disk full in 4 h?").

    Same single hash aggregate as :func:`series_regression` (covariance
    moments keyed by series, x shifted by the broadcast global epoch
    min), plus the per-series max-x carried in the same pass — one
    shuffle total, no window sort."""
    ext = signals.agg(F.min(F.unix_timestamp("ts")).alias("t0"))
    x = F.unix_timestamp("ts") - F.col("t0")
    fitted = (
        signals.crossJoin(F.broadcast(ext))
        .groupBy(*SERIES_KEY)
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.covar_pop(x, F.col("value")).alias("sxy"),
            F.var_pop(x).alias("sxx"),
            F.avg(x).alias("mx"),
            F.avg("value").alias("my"),
            F.max(x).alias("x_end"),
        )
        .filter((F.col("n_samples") >= 3) & (F.col("sxx") > 0))
    )
    slope = F.col("sxy") / F.col("sxx")
    intercept = F.col("my") - slope * F.col("mx")
    return fitted.select(
        "metric",
        "series",
        "n_samples",
        F.round(
            intercept + slope * (F.col("x_end") + F.lit(horizon_s)), 6
        ).alias("predicted"),
    )


def resets(signals: DataFrame, bucket_s: int = 600) -> DataFrame:
    """PromQL ``resets``: count of counter resets (value drops between
    adjacent samples) per series and fixed bucket; boundary pairs belong
    to the later sample's bucket, as in :func:`irate`.

    One window sort per series (``value`` as the deterministic tiebreak
    for duplicate timestamps, mirrored in the oracle) feeding a
    (series, bucket)-keyed aggregate whose key prefixes the sort key —
    one exchange total."""
    w = Window.partitionBy(*SERIES_KEY).orderBy("ts", "value")
    prev = F.lag("value").over(w)
    bucket = (F.floor(F.unix_timestamp("ts") / bucket_s) * bucket_s).cast(
        "long"
    )
    return (
        signals.select(
            "metric", "series", bucket.alias("bucket_epoch"),
            F.when(F.col("value") < prev, 1).otherwise(0).alias("_r"),
            prev.isNotNull().cast("int").alias("_p"),
        )
        .groupBy("metric", "series", "bucket_epoch")
        .agg(
            F.sum("_r").cast("long").alias("n_resets"),
            F.sum("_p").cast("long").alias("n_pairs"),
        )
        .filter(F.col("n_pairs") > 0)
    )


def quantile_over_time(
    signals: DataFrame,
    slot_s: int = 3600,
    quantiles: tuple[float, ...] = (0.5, 0.95),
) -> DataFrame:
    """PromQL ``quantile_over_time``: exact interpolated quantiles of each
    series within fixed time slots.

    One (metric, series, slot)-keyed hash aggregate; ``percentile`` is
    Spark's exact interpolated quantile (DuckDB ``quantile_cont`` parity).
    At 100 TB the slot key bounds group size by series cadence, so no
    single group can outgrow an executor.
    """
    slot = (F.floor(F.unix_timestamp("ts") / slot_s) * slot_s).cast("long")
    aggs = [
        F.round(F.percentile("value", F.lit(q)), 6).alias(f"p{round(q * 100)}")
        for q in quantiles
    ]
    return (
        signals.select("metric", "series", slot.alias("slot_epoch"), "value")
        .groupBy("metric", "series", "slot_epoch")
        .agg(*aggs, F.count(F.lit(1)).alias("n_samples"))
    )


def irate(
    signals: DataFrame,
    bucket_s: int = 600,
) -> DataFrame:
    """PromQL ``irate``: instantaneous rate from the LAST two samples of
    each series in each bucket (counter resets clamp to the post-reset
    value, as in :func:`counter_rate`).

    One window sort per series (lag + row_number share the same sort) —
    no second shuffle: the bucket key is a prefix function of the sort
    key.  ``value`` is the secondary sort key on BOTH windows (and in the
    oracle SQL) so duplicate timestamps within a series pick a
    deterministic sample pair."""
    w = Window.partitionBy(*SERIES_KEY).orderBy("ts", "value")
    prev_v = F.lag("value").over(w)
    prev_t = F.lag("ts").over(w)
    delta = F.col("value") - prev_v
    inc = F.when(delta < 0, F.col("value")).otherwise(delta)
    dt = F.unix_timestamp("ts") - F.unix_timestamp(prev_t)
    bucket = (F.floor(F.unix_timestamp("ts") / bucket_s) * bucket_s).cast("long")
    stamped = signals.select(
        "metric", "series", "ts", bucket.alias("bucket_epoch"),
        inc.alias("inc"), dt.alias("dt"),
    ).filter(F.col("inc").isNotNull() & (F.col("dt") > 0))
    wb = Window.partitionBy("metric", "series", "bucket_epoch").orderBy(
        F.col("ts").desc(), F.col("inc").desc(), F.col("dt").desc()
    )
    return (
        stamped.withColumn("_rn", F.row_number().over(wb))
        .filter(F.col("_rn") == 1)
        .select(
            "metric", "series", "bucket_epoch",
            F.round(F.try_divide(F.col("inc"), F.col("dt")), 6).alias(
                "irate_per_s"
            ),
        )
    )


def gap_detect(signals: DataFrame, factor: float = 2.0) -> DataFrame:
    """Missing-sample detection: rows whose gap to the previous sample is
    ≥ ``factor`` × the series' own base cadence (min positive gap).

    ONE pass: the per-series cadence is a whole-partition window ``min``
    over the same (metric, series) partitioning as the lag window, so
    both share a single exchange+sort — no aggregate, no join-back, and
    the signal scan executes once."""
    w = Window.partitionBy(*SERIES_KEY).orderBy("ts")
    wp = Window.partitionBy(*SERIES_KEY)
    gapped = signals.select(
        "metric", "series",
        F.unix_timestamp("ts").alias("epoch"),
        (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))).alias(
            "gap_s"
        ),
    ).filter(F.col("gap_s").isNotNull() & (F.col("gap_s") > 0))
    return (
        gapped.withColumn("step_s", F.min("gap_s").over(wp))
        .filter(F.col("gap_s") >= F.lit(factor) * F.col("step_s"))
        .select(
            "metric", "series", "epoch", "gap_s", "step_s",
            # floor(x + 0.5) instead of round(): HALF_UP vs banker's
            # rounding differs between engines at exact .5 ratios
            (F.floor(F.col("gap_s") / F.col("step_s") + F.lit(0.5)) - 1)
            .cast("long")
            .alias("n_missing"),
        )
    )


def changes(signals: DataFrame, bucket_s: int = 86400) -> DataFrame:
    """PromQL-style ``changes()``: per series per bucket, how many times
    the value changed between consecutive samples.

    The comparison window is scoped WITHIN the bucket (the first sample
    of a bucket has no predecessor to compare against), with a
    deterministic (ts, value) sample order so duplicate timestamps
    cannot flake the lag comparison.

    Scale: one window sort per (metric, series, bucket) partition and
    one hash aggregate on the same key — a single exchange; per-series
    data is the unit of parallelism, same as `resets`/`counter_rate`.
    """
    from pyspark.sql import Window

    bucket = (
        F.floor(F.unix_timestamp("ts") / bucket_s) * bucket_s
    ).cast("long")
    with_b = signals.withColumn("bucket_epoch", bucket)
    w = Window.partitionBy("metric", "series", "bucket_epoch").orderBy(
        "ts", "value"
    )
    changed = (
        F.lag("value").over(w).isNotNull()
        & (F.col("value") != F.lag("value").over(w))
    ).cast("long")
    return (
        with_b.withColumn("chg", changed)
        .groupBy("metric", "series", "bucket_epoch")
        .agg(
            F.sum("chg").alias("n_changes"),
            F.count("value").alias("n_samples"),
        )
    )


def deriv(signals: DataFrame, bucket_s: int = 86400) -> DataFrame:
    """PromQL-style ``deriv()``: per series per bucket, the simple
    least-squares slope of value over time (units: value per second).

    The x axis is re-based to the bucket start so the regression sums
    stay small regardless of the absolute epoch — identical formula to
    ``predict_linear`` (operators/trend.py:166) but per-bucket.

    Scale: ONE hash aggregate — `regr_slope` computes its moment sums in
    the partial (map-side) aggregate; no window, no second pass.
    """
    bucket = (
        F.floor(F.unix_timestamp("ts") / bucket_s) * bucket_s
    ).cast("long")
    x = (F.unix_timestamp("ts") - bucket).cast("double")
    return (
        signals.select(
            "metric",
            "series",
            bucket.alias("bucket_epoch"),
            x.alias("x"),
            "value",
        )
        .groupBy("metric", "series", "bucket_epoch")
        .agg(
            F.count("value").alias("n_samples"),
            F.regr_slope("value", "x").alias("slope"),
        )
        .where(F.col("n_samples") >= 2)
    )


def burst_detect(signals: DataFrame, bucket_s: int = 60,
                 n_sigmas: float = 3.0) -> DataFrame:
    """Rate-burst detection: bucket event counts per metric and flag
    buckets whose count exceeds mean + n·σ of that metric's own bucket
    distribution.

    Two aggregates: per-(metric, bucket) counts, then per-metric
    mean/σ over those counts, broadcast-joined back (the stats side is
    one row per metric).  No window over raw events, no second scan.

    Scale: the counting aggregate collapses map-side; the stats join is
    a broadcast of a metric-cardinality table.  Same shape at 1000×.
    """
    bucket = (F.floor(F.unix_timestamp("ts") / bucket_s) * bucket_s).cast(
        "long"
    )
    counts = signals.groupBy(
        F.col("metric"), bucket.alias("bucket_epoch")
    ).agg(F.count("*").alias("n_events"))
    return flag_bursts(counts, n_sigmas)


def flag_bursts(counts: DataFrame, n_sigmas: float = 3.0) -> DataFrame:
    """The stats-and-flag half of `burst_detect`, reusable over any
    (metric, bucket_epoch, n_events) frame — e.g. the drained state of
    a streaming windowed count."""
    stats = counts.groupBy("metric").agg(
        F.avg("n_events").alias("mu"),
        F.stddev_pop("n_events").alias("sigma"),
    )
    z = (F.col("n_events") - F.col("mu")) / F.col("sigma")
    return (
        counts.join(F.broadcast(stats), "metric")
        .where(F.col("sigma") > 0)
        .where(z > n_sigmas)  # filter on the RAW z; round only for output
        .select(
            "metric", "bucket_epoch", "n_events", F.round(z, 6).alias("z")
        )
    )


def seasonal_strength(hourly: DataFrame, period_slots: int = 24,
                      slot_s: int = 3600) -> DataFrame:
    """Seasonality diagnostic per metric: MASE-style ratio of the
    seasonal-naive forecast error (|v_t − v_{t−period}|) to the plain
    naive error (|v_t − v_{t−1 slot}|) over a step-aligned series.
    ratio < 1 ⇒ the seasonal pattern explains more than persistence.

    Expects the ``(metric, slot_epoch, value)`` hourly frame (the
    resample operator's output).  Lag lookups are equi-JOINs on exact
    slot offsets — gaps in the grid simply contribute no comparison
    row, rather than silently comparing across a gap as a positional
    lag would.

    Scale: two self-equi-joins on (metric, slot) — co-partitioned, AQE
    broadcasts the smaller post-filter sides — then one per-metric
    aggregate.
    """
    h = hourly.select("metric", "slot_epoch", "value")
    naive = h.alias("a").join(
        h.alias("b"),
        (F.col("a.metric") == F.col("b.metric"))
        & (F.col("a.slot_epoch") == F.col("b.slot_epoch") + slot_s),
    ).select(
        F.col("a.metric").alias("metric"),
        F.abs(F.col("a.value") - F.col("b.value")).alias("err"),
    )
    seasonal = h.alias("a").join(
        h.alias("b"),
        (F.col("a.metric") == F.col("b.metric"))
        & (
            F.col("a.slot_epoch")
            == F.col("b.slot_epoch") + period_slots * slot_s
        ),
    ).select(
        F.col("a.metric").alias("metric"),
        F.abs(F.col("a.value") - F.col("b.value")).alias("err"),
    )
    n_agg = naive.groupBy("metric").agg(
        F.sum("err").alias("naive_err"), F.count("*").alias("n_naive")
    )
    s_agg = seasonal.groupBy("metric").agg(
        F.sum("err").alias("seasonal_err"),
        F.count("*").alias("n_seasonal"),
    )
    return (
        n_agg.join(s_agg, "metric")
        .select(
            "metric",
            "n_naive",
            "n_seasonal",
            F.round("naive_err", 6).alias("naive_err"),
            F.round("seasonal_err", 6).alias("seasonal_err"),
            F.round(
                F.when(
                    F.col("naive_err") > 0,
                    (F.col("seasonal_err") / F.col("n_seasonal"))
                    / (F.col("naive_err") / F.col("n_naive")),
                ),
                6,
            ).alias("strength_ratio"),
        )
    )


def rolling_corr(
    joined: DataFrame,
    window_slots: int = 24,
    partition_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Rolling Pearson correlation between two aligned series: over each
    trailing ``window_slots``-row frame of a (slot_epoch, va, vb) frame,
    corr(va, vb).

    Zero-variance / single-row frames produce no output row (Spark
    yields NaN, engines differ — filtered on both sides by contract).

    Scale: the window partitions on ``partition_cols`` — for ONE series
    pair that is a single timeline (inherently sequential, ~10⁴ slots);
    a production sweep over many pairs passes the pair id here and every
    pair's timeline sorts independently.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*partition_cols)
        .orderBy("slot_epoch")
        .rowsBetween(-(window_slots - 1), 0)
    )
    out = joined.select(
        *partition_cols,
        "slot_epoch",
        F.count("*").over(w).alias("n_slots"),
        F.corr("va", "vb").over(w).alias("r"),
    )
    return out.where(
        F.col("r").isNotNull() & ~F.isnan("r")
    ).withColumn("r", F.round("r", 6))


def theil_sen(
    hourly: DataFrame,
    slot_col: str = "slot_epoch",
    value_col: str = "value",
    max_slots: int | None = None,
) -> DataFrame:
    """Theil–Sen robust trend per metric: the MEDIAN of all pairwise
    slopes over the (resampled) series — breakdown point ~29%, so a
    minority of outlier samples cannot fake or hide a trend the way
    they can with OLS (`series_regression`).

    Slopes are per HOUR of slot gap.  O(L²) pairs per series, joined
    within the metric key only — parallel across metrics, never across
    the corpus.  For very long series pass ``max_slots`` to subsample
    the tail deterministically (every k-th slot by rank) before pairing;
    the estimator is rank-based and degrades gracefully under regular
    thinning.
    """
    from pyspark.sql import Window

    s = hourly.select(
        "metric",
        F.col(slot_col).alias("slot"),
        F.col(value_col).cast("double").alias("v"),
    )
    if max_slots is not None:
        w = Window.partitionBy("metric").orderBy("slot")
        n = Window.partitionBy("metric")
        s = (
            s.withColumn("_rn", F.row_number().over(w) - 1)
            .withColumn(
                "_k",
                F.greatest(
                    F.ceil(F.count("*").over(n) / max_slots), F.lit(1)
                ),
            )
            .where(F.col("_rn") % F.col("_k") == 0)
            .drop("_rn", "_k")
        )
    a = s.select("metric", F.col("slot").alias("s1"), F.col("v").alias("v1"))
    b = s.select("metric", F.col("slot").alias("s2"), F.col("v").alias("v2"))
    pairs = a.join(b, "metric").where(F.col("s1") < F.col("s2"))
    slope = (F.col("v2") - F.col("v1")) / ((F.col("s2") - F.col("s1")) / 3600.0)
    return pairs.groupBy("metric").agg(
        F.round(F.percentile(slope, F.lit(0.5)), 6).alias("slope_per_hour"),
        F.count(F.lit(1)).alias("n_pairs"),
    )


def spearman_corr(hourly: DataFrame, min_slots: int = 3) -> DataFrame:
    """Spearman rank correlation between every metric pair on their
    shared hourly slots: Pearson over per-metric value ranks — the
    monotone-association matrix, robust to nonlinear but monotone
    coupling that `corr_matrix` understates.

    Ties take the MIN rank (SQL `rank()`), identical in Spark and every
    ANSI engine, so the statistic is deterministic without an
    average-rank convention.  Plan: one rank window per metric (narrow,
    partitioned by metric), then the same slot-equi-join upper-triangle
    shape as `corr_matrix` — rows meet only within equal slots, the
    quadratic term is the OUTPUT (metric pairs), never the shuffle.
    """
    from pyspark.sql import Window

    rho, n_slots = pearson("ra", "rb")
    ranked = hourly.where(present()).select(
        "metric",
        "slot_epoch",
        F.rank()
        .over(Window.partitionBy("metric").orderBy("value"))
        .cast("double")
        .alias("rk"),
    )
    a = ranked.select(
        F.col("metric").alias("metric_a"), "slot_epoch",
        F.col("rk").alias("ra"),
    )
    b = ranked.select(
        F.col("metric").alias("metric_b"), "slot_epoch",
        F.col("rk").alias("rb"),
    )
    out = (
        a.join(b, "slot_epoch")
        .where(F.col("metric_a") < F.col("metric_b"))
        .groupBy("metric_a", "metric_b")
        .agg(rho.alias("rho"), n_slots.alias("n_slots"))
        .where(F.col("n_slots") >= min_slots)
    )
    return out.where(
        F.col("rho").isNotNull() & ~F.isnan("rho")
    ).withColumn("rho", F.round("rho", 6))


def acf_profile(hourly: DataFrame, max_lag: int = 12,
                min_pairs: int = 3) -> DataFrame:
    """Autocorrelation profile: Pearson r between the series and its
    own lag for every lag 1..max_lag per metric — the diagnostic that
    picks the seasonality period / AR order before fitting anything.

    The lag dimension is a narrow `explode(sequence)` (same trick as
    the xcorr lag sweep): each sample row fans out max_lag times and
    equi-joins back on (metric, slot+lag) — no window over the whole
    series, no per-lag rescan; one shuffle keyed by (metric, slot).
    Correlations over fewer than ``min_pairs`` overlaps or with a
    constant side are dropped (NaN across engines otherwise).
    """
    acf, n_pairs = pearson("value", "v_lag")
    s = hourly.where(present()).select(
        "metric", F.col("slot_epoch").alias("slot"), "value"
    )
    lagged = s.select(
        "metric",
        F.explode(F.sequence(F.lit(1), F.lit(max_lag))).alias("lag"),
        (F.col("slot") + F.col("lag") * 3600).alias("slot"),
        F.col("value").alias("v_lag"),
    )
    out = (
        s.join(lagged, ["metric", "slot"])
        .groupBy("metric", "lag")
        .agg(acf.alias("acf"), n_pairs)
        .where(F.col("n_pairs") >= min_pairs)
    )
    return out.where(
        F.col("acf").isNotNull() & ~F.isnan("acf")
    ).withColumn("acf", F.round("acf", 6))


def weekly_profile(signals: DataFrame) -> DataFrame:
    """Hour-of-week activity profile per metric: (day-of-week, hour)
    event counts and mean value — the fingerprint seasonal baselines
    and on-call heatmaps are built from.

    Day-of-week derives from epoch arithmetic ((epoch//86400 + 4) % 7,
    0 = Sunday), NOT calendar functions, so the bucketing is identical
    in every engine and timezone-free.  One narrow projection + one
    hash aggregate on a 7×24-bounded key.
    """
    epoch = F.unix_timestamp("ts")
    day = F.floor(epoch / 86400)
    return (
        signals.select(
            "metric",
            ((day + 4) % 7).cast("int").alias("dow"),
            F.floor((epoch % 86400) / 3600).cast("int").alias("hour"),
            "value",
        )
        .groupBy("metric", "dow", "hour")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
    )


def slo_burn(
    events: DataFrame,
    error_type: str = "error",
    slo: float = 0.05,
    window_hours: int = 6,
) -> DataFrame:
    """SLO burn rate: rolling error-budget consumption speed — burn =
    (rolling error share) / (SLO target); burn > 1 means the budget
    dies before the period does (the SRE multi-window alert input).

    Hourly (errors, total) counts first — ONE aggregate collapses the
    raw stream, so the rolling window runs over the tiny hourly frame,
    ordered by slot within a single global timeline (per-service
    deployments would partition by service key).  Slots with no events
    at all simply don't exist; the rolling sums span the PRESENT slots
    in range (range-based frame, so absent hours don't stretch the
    window).
    """
    from pyspark.sql import Window

    hourly = (
        events.select(
            (F.floor(F.unix_timestamp("ts") / 3600) * 3600)
            .cast("long")
            .alias("slot"),
            (F.col("event_type") == error_type).cast("long").alias("is_err"),
        )
        .groupBy("slot")
        .agg(
            F.sum("is_err").alias("errs"),
            F.count("*").alias("total"),
        )
    )
    w = (
        Window.orderBy("slot")
        .rangeBetween(-(window_hours - 1) * 3600, 0)
    )
    out = hourly.select(
        "slot",
        F.sum("errs").over(w).cast("long").alias("win_errors"),
        F.sum("total").over(w).cast("long").alias("win_total"),
    )
    return out.select(
        "slot",
        "win_errors",
        "win_total",
        F.round(
            (F.col("win_errors") / F.col("win_total")) / slo, 6
        ).alias("burn_rate"),
    )


def rolling_level_shift(
    hourly: DataFrame,
    k: int = 12,
    min_points: int = 6,
) -> DataFrame:
    """Cheap SQL-only level-shift score per slot: |mean of next k −
    mean of previous k| / pooled σ over the 2k-slot neighborhood — the
    streaming-friendly complement to E-Divisive (no permutation test,
    one window pass, monotone with the actual jump size).

    Slots without ``min_points`` history on BOTH sides emit nothing
    (edge windows understate σ).  One window per metric timeline —
    partition-parallel across metrics exactly like every rolling
    operator here.
    """
    from pyspark.sql import Window

    left = (
        Window.partitionBy("metric")
        .orderBy("slot_epoch")
        .rowsBetween(-k, -1)
    )
    right = (
        Window.partitionBy("metric")
        .orderBy("slot_epoch")
        .rowsBetween(0, k - 1)
    )
    both = (
        Window.partitionBy("metric")
        .orderBy("slot_epoch")
        .rowsBetween(-k, k - 1)
    )
    scored = hourly.select(
        "metric",
        "slot_epoch",
        F.avg("value").over(left).alias("mu_l"),
        F.count("value").over(left).alias("n_l"),
        F.avg("value").over(right).alias("mu_r"),
        F.count("value").over(right).alias("n_r"),
        F.stddev_samp("value").over(both).alias("sd"),
    )
    return (
        scored.where(
            (F.col("n_l") >= min_points)
            & (F.col("n_r") >= min_points)
            & (F.col("sd") > 0)
        )
        .select(
            "metric",
            "slot_epoch",
            F.round(
                F.abs(F.col("mu_r") - F.col("mu_l")) / F.col("sd"), 6
            ).alias("shift_score"),
        )
    )


def seasonal_decompose(
    hourly: DataFrame,
    period_slots: int = 24,
    trend_halfwidth: int = 12,
) -> DataFrame:
    """Additive seasonal decomposition on the SQL surface: trend =
    centered rolling mean, seasonal = per-phase mean of the detrended
    series, residual = the rest — the classical-decomposition shape of
    STL without the loess fits, fully engine-neutral (the numpy STL
    path in operators/detect.py stays the high-fidelity variant; this
    is the cheap, oracle-checkable one).

    Slots without a COMPLETE centered trend window drop (edge trend is
    biased).  One window per metric timeline + one (metric × period)
    phase aggregate joined back broadcast.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy("metric")
        .orderBy("slot_epoch")
        .rowsBetween(-trend_halfwidth, trend_halfwidth)
    )
    full = 2 * trend_halfwidth + 1
    detr = (
        hourly.select(
            "metric",
            "slot_epoch",
            "value",
            F.avg("value").over(w).alias("trend"),
            F.count("value").over(w).alias("_n"),
        )
        .where(F.col("_n") == full)
        .select(
            "metric",
            "slot_epoch",
            "value",
            "trend",
            (F.col("value") - F.col("trend")).alias("detr"),
            (F.floor(F.col("slot_epoch") / 3600) % period_slots)
            .cast("int")
            .alias("phase"),
        )
    )
    seasonal = detr.groupBy("metric", "phase").agg(
        F.avg("detr").alias("seasonal")
    )
    return (
        detr.join(F.broadcast(seasonal), ["metric", "phase"])
        .select(
            "metric",
            "slot_epoch",
            F.round("trend", 6).alias("trend"),
            F.round("seasonal", 6).alias("seasonal"),
            F.round(F.col("detr") - F.col("seasonal"), 6).alias("resid"),
        )
    )


def alert_episodes(
    signals: DataFrame,
    n_sigmas: float = 2.0,
    cooldown_slots: int = 2,
    slot_s: int = 3600,
) -> DataFrame:
    """Alert debouncing: collapse point anomalies (k-sigma hourly
    slots) into alert EPISODES — consecutive anomalous slots, merged
    across gaps shorter than ``cooldown_slots`` — so one incident pages
    once, with its span and peak severity, not once per datapoint.

    Composes the k-sigma gate (two aggregates + broadcast stats) with
    the gaps-and-islands merge (one per-metric window) — the same two
    shapes the batch pipeline already uses, chained.
    """
    from pyspark.sql import Window

    hourly = (
        signals.groupBy(
            "metric",
            (F.floor(F.unix_timestamp("ts") / slot_s) * slot_s)
            .cast("long")
            .alias("slot"),
        )
        .agg(F.avg("value").alias("v"))
    )
    stats = hourly.groupBy("metric").agg(
        F.avg("v").alias("mu"), F.stddev_pop("v").alias("sd")
    )
    anom = (
        hourly.join(F.broadcast(stats), "metric")
        .where(
            (F.col("sd") > 0)
            & (F.abs(F.col("v") - F.col("mu")) > n_sigmas * F.col("sd"))
        )
        .select(
            "metric",
            "slot",
            (F.abs(F.col("v") - F.col("mu")) / F.col("sd")).alias("z"),
        )
    )
    w = Window.partitionBy("metric").orderBy("slot")
    gap = (F.col("slot") - F.lag("slot").over(w)) / slot_s
    is_new = F.when(gap.isNull() | (gap > cooldown_slots), 1).otherwise(0)
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    episodes = anom.withColumn("ep", F.sum(is_new).over(run))
    return episodes.groupBy("metric", "ep").agg(
        F.min("slot").alias("ep_start"),
        F.max("slot").alias("ep_end"),
        F.count("*").cast("long").alias("n_slots"),
        F.round(F.max("z"), 6).alias("peak_z"),
    )


def seasonal_zscore(
    signals: DataFrame, n_sigmas: float = 3.0, min_cell: int = 3
) -> DataFrame:
    """Seasonality-aware anomaly scoring: each hourly slot scored
    against ITS OWN hour-of-week cell's (μ, σ) — the baseline that
    stops Monday-morning ramps from paging (a plain global k-sigma
    flags every weekly peak).

    Hourly rollup first, then a (metric, dow, hour)-keyed baseline
    aggregate (7×24-bounded, broadcast back).  Cells with fewer than
    ``min_cell`` observations score nothing (μ, σ untrustworthy).
    """
    hourly = (
        signals.groupBy(
            "metric",
            (F.floor(F.unix_timestamp("ts") / 3600) * 3600)
            .cast("long")
            .alias("slot"),
        )
        .agg(F.avg("value").alias("v"))
        .select(
            "metric", "slot", "v",
            ((F.floor(F.col("slot") / 86400) + 4) % 7)
            .cast("int")
            .alias("dow"),
            F.floor((F.col("slot") % 86400) / 3600).cast("int").alias("hour"),
        )
    )
    base = hourly.groupBy("metric", "dow", "hour").agg(
        F.avg("v").alias("mu"),
        F.stddev_pop("v").alias("sd"),
        F.count("*").alias("n_obs"),
    )
    return (
        hourly.join(F.broadcast(base), ["metric", "dow", "hour"])
        .where(
            (F.col("n_obs") >= min_cell)
            & (F.col("sd") > 0)
            & (F.abs(F.col("v") - F.col("mu")) > n_sigmas * F.col("sd"))
        )
        .select(
            "metric", "slot", "dow", "hour",
            F.round("v", 6).alias("value"),
            F.round((F.col("v") - F.col("mu")) / F.col("sd"), 6).alias("z"),
        )
    )


def anomaly_cooccurrence(
    signals: DataFrame, n_sigmas: float = 2.0, min_common: int = 2
) -> DataFrame:
    """Which metrics go wrong TOGETHER: per metric pair, the count and
    Jaccard of co-anomalous hourly slots (each metric's anomalies from
    its own k-sigma gate) — the exploratory cut of the reference's
    bucket-correlation idea, over anomaly SETS instead of values.

    The pair join runs over anomaly slots only (tiny vs the stream),
    keyed by slot; per-metric anomaly counts broadcast back for the
    union sizes.
    """
    hourly = (
        signals.groupBy(
            "metric",
            (F.floor(F.unix_timestamp("ts") / 3600) * 3600)
            .cast("long")
            .alias("slot"),
        )
        .agg(F.avg("value").alias("v"))
    )
    stats = hourly.groupBy("metric").agg(
        F.avg("v").alias("mu"), F.stddev_pop("v").alias("sd")
    )
    anom = (
        hourly.join(F.broadcast(stats), "metric")
        .where(
            (F.col("sd") > 0)
            & (F.abs(F.col("v") - F.col("mu")) > n_sigmas * F.col("sd"))
        )
        .select("metric", "slot")
    )
    sizes = anom.groupBy("metric").agg(F.count("*").alias("n"))
    a = anom.select(F.col("metric").alias("metric_a"), "slot")
    b = anom.select(F.col("metric").alias("metric_b"), "slot")
    inter = (
        a.join(b, "slot")
        .where(F.col("metric_a") < F.col("metric_b"))
        .groupBy("metric_a", "metric_b")
        .agg(F.count("*").alias("n_common"))
        .where(F.col("n_common") >= min_common)
    )
    return (
        inter.join(
            F.broadcast(
                sizes.select(
                    F.col("metric").alias("metric_a"), F.col("n").alias("na")
                )
            ),
            "metric_a",
        )
        .join(
            F.broadcast(
                sizes.select(
                    F.col("metric").alias("metric_b"), F.col("n").alias("nb")
                )
            ),
            "metric_b",
        )
        .select(
            "metric_a", "metric_b",
            F.col("n_common").cast("long").alias("n_common"),
            F.round(
                F.col("n_common")
                / (F.col("na") + F.col("nb") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


def daily_quantiles(signals: DataFrame) -> DataFrame:
    """Per-(metric, day) latency-style quantile profile (p50/p95/p99)
    — the time-sliced version of the global metric_quantiles, the
    shape every latency SLA report takes.

    One exact-percentile hash aggregate keyed on (metric, day); no
    windows, no joins.
    """
    return (
        signals.select(
            "metric",
            F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day"),
            "value",
        )
        .groupBy("metric", "day")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
            F.round(F.percentile("value", F.lit(0.95)), 6).alias("p95"),
            F.round(F.percentile("value", F.lit(0.99)), 6).alias("p99"),
        )
    )


def mann_kendall(
    hourly: DataFrame,
    slot_col: str = "slot_epoch",
    value_col: str = "value",
    max_slots: int | None = None,
) -> DataFrame:
    """Mann–Kendall trend TEST per metric: S = Σ_{i<j} sign(x_j − x_i)
    with the normal-approximation Z (no-ties variance) — the
    nonparametric "is there a monotone trend at all" companion to the
    Theil–Sen ESTIMATOR (same pair frame; run them together).

    Same O(L²)-with-thinning contract as `theil_sen` (``max_slots``
    caps the per-series pair count; deterministic every-k-th rank
    selection).  Z uses the tie-free variance n(n−1)(2n+5)/18 — with
    continuous values ties are measure-zero; documented approximation.
    """
    from pyspark.sql import Window

    s = hourly.select(
        "metric",
        F.col(slot_col).alias("slot"),
        F.col(value_col).cast("double").alias("v"),
    )
    if max_slots is not None:
        w = Window.partitionBy("metric").orderBy("slot")
        n = Window.partitionBy("metric")
        s = (
            s.withColumn("_rn", F.row_number().over(w) - 1)
            .withColumn(
                "_k",
                F.greatest(
                    F.ceil(F.count("*").over(n) / max_slots), F.lit(1)
                ),
            )
            .where(F.col("_rn") % F.col("_k") == 0)
            .drop("_rn", "_k")
        )
    a = s.select("metric", F.col("slot").alias("s1"), F.col("v").alias("v1"))
    b = s.select("metric", F.col("slot").alias("s2"), F.col("v").alias("v2"))
    pairs = a.join(b, "metric").where(F.col("s1") < F.col("s2"))
    sgn = F.signum(F.col("v2") - F.col("v1"))
    agg = pairs.groupBy("metric").agg(
        F.sum(sgn).cast("long").alias("s_stat"),
        F.count(F.lit(1)).alias("n_pairs"),
    )
    # n from n_pairs = n(n−1)/2 → n = (1+sqrt(1+8p))/2
    n_est = (1 + F.sqrt(1 + 8 * F.col("n_pairs"))) / 2
    var = n_est * (n_est - 1) * (2 * n_est + 5) / 18
    z = F.when(
        F.col("s_stat") > 0, (F.col("s_stat") - 1) / F.sqrt(var)
    ).when(
        F.col("s_stat") < 0, (F.col("s_stat") + 1) / F.sqrt(var)
    ).otherwise(F.lit(0.0))
    return agg.select(
        "metric", "s_stat", "n_pairs", F.round(z, 6).alias("z")
    )


def late_arrival_audit(
    events: DataFrame, thresholds_s: tuple[int, ...] = (60, 600, 3600)
) -> DataFrame:
    """Out-of-orderness profile per metric: each event's lateness vs
    the running max event-time in ARRIVAL order (event_id), then the
    share of events later than each candidate threshold and the p99
    lateness — the measurement that SIZES A STREAMING WATERMARK
    instead of guessing it.

    One window per metric in arrival order; the running max is the
    same pattern every resequencer uses.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy("metric")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    late = events.select(
        F.col("event_type").alias("metric"),
        "event_id",
        F.unix_timestamp("ts").alias("epoch"),
    ).select(
        "metric",
        # coalesce the empty first-row window explicitly — NULL handling
        # in greatest() differs across engines
        F.greatest(
            F.coalesce(F.max("epoch").over(w), F.col("epoch"))
            - F.col("epoch"),
            F.lit(0),
        ).alias("late_s"),
    )
    aggs = [
        F.count("*").cast("long").alias("n_events"),
        F.round(F.percentile("late_s", F.lit(0.99)), 6).alias("p99_late_s"),
        F.max("late_s").cast("long").alias("max_late_s"),
    ]
    for t in thresholds_s:
        aggs.append(
            F.round(
                F.sum((F.col("late_s") > t).cast("long")) / F.count("*"), 6
            ).alias(f"share_gt_{t}s")
        )
    return late.groupBy("metric").agg(*aggs)


def period_detect(hourly: DataFrame, max_lag: int = 48,
                  min_acf: float = 0.2) -> DataFrame:
    """Dominant-period detection per metric: the lag (≥ 2 slots, so the
    trivial lag-1 continuity peak doesn't win) with the highest
    autocorrelation, reported only when it clears ``min_acf`` — the
    automated version of eyeballing the ACF for "is this daily or
    weekly?".

    Rides `acf_profile`'s single lag-explode join; the argmax is a
    max_by over the (metric × max_lag)-bounded ACF frame.
    """
    acf = acf_profile(hourly, max_lag=max_lag)
    cand = acf.where((F.col("lag") >= 2) & (F.col("acf") >= min_acf))
    return cand.groupBy("metric").agg(
        F.max_by(
            "lag", F.struct(F.col("acf"), (-F.col("lag")).alias("nl"))
        ).alias("period_slots"),
        F.round(F.max("acf"), 6).alias("peak_acf"),
    )


def max_drawdown(hourly: DataFrame) -> DataFrame:
    """Maximum drawdown per metric: the deepest drop from a running
    peak over the (time-ordered) hourly series — the worst-case
    "how far did it fall before recovering" number (finance's risk
    stat; equally meaningful for throughput/capacity metrics).

    One running-max window per metric + one aggregate; relative
    drawdown guards zero/negative peaks with try_divide.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy("metric")
        .orderBy("slot_epoch")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    dd = hourly.select(
        "metric",
        "slot_epoch",
        "value",
        (F.max("value").over(w) - F.col("value")).alias("dd"),
        F.max("value").over(w).alias("peak"),
    )
    return dd.groupBy("metric").agg(
        F.round(F.max("dd"), 6).alias("max_drawdown"),
        F.round(
            F.max(F.try_divide(F.col("dd"), F.abs(F.col("peak")))), 6
        ).alias("max_drawdown_rel"),
    )


def peak_detect(hourly: DataFrame, n_sigmas: float = 2.0) -> DataFrame:
    """Local-maximum peaks per metric: slots strictly above BOTH
    neighbours AND above μ + kσ — the spike list a capacity review
    reads (strict local max keeps plateaus out; the σ gate keeps
    noise wiggles out).

    One lag/lead window per metric + broadcast per-metric stats.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("metric").orderBy("slot_epoch")
    stats = hourly.groupBy("metric").agg(
        F.avg("value").alias("mu"), F.stddev_pop("value").alias("sd")
    )
    cand = hourly.select(
        "metric",
        "slot_epoch",
        "value",
        F.lag("value").over(w).alias("prev"),
        F.lead("value").over(w).alias("nxt"),
    )
    return (
        cand.join(F.broadcast(stats), "metric")
        .where(
            F.col("prev").isNotNull()
            & F.col("nxt").isNotNull()
            & (F.col("value") > F.col("prev"))
            & (F.col("value") > F.col("nxt"))
            & (F.col("sd") > 0)
            & (F.col("value") > F.col("mu") + n_sigmas * F.col("sd"))
        )
        .select(
            "metric", "slot_epoch",
            F.round("value", 6).alias("value"),
            F.round(
                (F.col("value") - F.col("mu")) / F.col("sd"), 6
            ).alias("z"),
        )
    )


def ecdf_sample(signals: DataFrame, n_grid: int = 20) -> DataFrame:
    """Exportable ECDF snapshot per metric: P(value ≤ x) at n_grid+1
    evenly spaced points across the metric's own [min, max] — the
    fixed-size distribution export a BI layer can chart without
    shipping raw rows.

    One per-metric extent aggregate (broadcast), a bounded grid
    explode, and one aggregate keyed on (metric, grid point).
    """
    ext = signals.groupBy("metric").agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    gridded = (
        signals.join(F.broadcast(ext), "metric")
        .select(
            "metric", "value", "lo", "hi",
            F.explode(
                F.sequence(F.lit(0), F.lit(n_grid))
            ).alias("i"),
        )
        .select(
            "metric",
            "i",
            F.round(
                F.col("lo")
                + (F.col("hi") - F.col("lo")) * F.col("i") / n_grid,
                6,
            ).alias("x"),
            "value",
        )
    )
    return gridded.groupBy("metric", "i", "x").agg(
        F.round(
            F.sum((F.col("value") <= F.col("x")).cast("long"))
            / F.count("*"),
            6,
        ).alias("cdf")
    )


def wow_change(signals: DataFrame) -> DataFrame:
    """Week-over-week change per metric: weekly value totals with the
    previous week's total and the percent change — the first table in
    every weekly business review.

    One (metric, week) aggregate + one lag window over the tiny weekly
    frame; try_divide yields NULL (not an error) against a zero prior
    week.
    """
    from pyspark.sql import Window

    weekly = (
        signals.select(
            "metric",
            F.floor(F.unix_timestamp("ts") / 604800).cast("long")
            .alias("week"),
            "value",
        )
        .groupBy("metric", "week")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum("value").alias("total"),
        )
    )
    w = Window.partitionBy("metric").orderBy("week")
    prev = F.lag("total").over(w)
    return weekly.select(
        "metric",
        "week",
        "n_events",
        F.round("total", 6).alias("total"),
        F.round(prev, 6).alias("prev_total"),
        F.round(
            F.try_divide(F.col("total") - prev, F.abs(prev)), 6
        ).alias("wow_pct"),
    )


def grid_completeness(signals: DataFrame, slot_s: int = 3600) -> DataFrame:
    """Sampling-grid completeness per metric: slots with ≥1 sample over
    the slots the metric's own [min, max] extent implies — the "is this
    feed actually continuous" number gap-sensitive consumers (rolling
    windows, seasonal baselines) should check first.

    One (metric, slot) distinct-ish aggregate + one per-metric rollup;
    the expected count is closed-form from the extent, no grid explode.
    """
    slots = (
        signals.select(
            "metric",
            (F.floor(F.unix_timestamp("ts") / slot_s)).cast("long")
            .alias("slot"),
        )
        .groupBy("metric", "slot")
        .agg(F.count("*").alias("_n"))
    )
    return slots.groupBy("metric").agg(
        F.count("*").cast("long").alias("n_present"),
        (F.max("slot") - F.min("slot") + 1).cast("long").alias("n_expected"),
        F.round(
            F.count("*") / (F.max("slot") - F.min("slot") + 1), 6
        ).alias("completeness"),
    )
