"""Structured Streaming re-skin of the metrics-advisor pipeline.

The reference is a batch report generator; its bucket loop
(/root/reference/metrics_advisor.py:123-136) is semantically a 10-minute
tumbling window over an unbounded metric stream, and its per-signal
detection loop (:144-167) is per-key stateful processing.  This module
re-expresses both with the idiomatic Structured Streaming constructs:

- ``windowed_stats``  — T2/A1 as ``withWatermark`` + tumbling ``window``
  groupBy: late data beyond the watermark is dropped (the reference has
  no late-data concept, metrics_advisor.py:85-88 defers it upstream).
- ``streaming_ksigma`` — P5/A5 as a stream-static broadcast join against
  a precomputed per-series baseline (μ, σ): the classic "train batch,
  score stream" split; no streaming state at all.
- ``detect_anomalies_stateful`` — P6/P7 via ``applyInPandasWithState``:
  per-(metric, series) state holds a bounded sample buffer plus the set
  of already-emitted anomaly timestamps, so each micro-batch emits only
  NEW change points / outliers (exactly-once downstream semantics come
  from the checkpoint).

Scale notes (1000-executor target): all three are keyed by
(metric, series) — state and shuffle partition by key, no driver
involvement, no global ordering requirement.  The stateful buffer is
bounded (``max_state_samples``), so state store size is
O(keys × buffer), independent of stream length.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from metrics_advisor_spark.operators.detect import (
    _series_seed,
    e_divisive_np,
    moving_median_np,
    stl_outliers_np,
)
from metrics_advisor_spark.operators.xcorr import (
    lag_explode,
    pearson,
    present,
)

SIGNAL_SCHEMA = T.StructType(
    [
        T.StructField("metric", T.StringType()),
        T.StructField("series", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
    ]
)

STREAM_ANOMALY_SCHEMA = T.StructType(
    [
        T.StructField("metric", T.StringType()),
        T.StructField("series", T.StringType()),
        T.StructField("kind", T.StringType()),  # 'changepoint' | 'outlier'
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
    ]
)

# state: bounded sample buffer + emitted-anomaly high-water sets
_STATE_SCHEMA = T.StructType(
    [
        T.StructField("ts_buf", T.ArrayType(T.LongType())),       # epoch s
        T.StructField("val_buf", T.ArrayType(T.DoubleType())),
        T.StructField("emitted_cp", T.ArrayType(T.LongType())),   # epoch s
        T.StructField("emitted_out", T.ArrayType(T.LongType())),  # epoch s
    ]
)


def stream_signals(
    spark: SparkSession, path: str, fmt: str = "parquet"
) -> DataFrame:
    """File-source signal stream in the canonical long schema.

    New files dropped into ``path`` become micro-batches — the streaming
    analog of the reference's tar-drop ingestion (S1/S2)."""
    return spark.readStream.schema(SIGNAL_SCHEMA).format(fmt).load(path)


def windowed_stats(
    stream: DataFrame,
    bucket_seconds: int = 600,
    watermark: str = "10 minutes",
) -> DataFrame:
    """T2 as a streaming tumbling window: per (window, metric, series)
    count/avg/min/max/range.

    The range column feeds the F2 gate downstream; with ``append`` output
    mode a window finalizes once the watermark passes its end."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", f"{bucket_seconds} seconds").alias("bucket"),
            "metric",
            "series",
        )
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.avg("value").alias("avg_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            (F.max("value") - F.min("value")).alias("value_range"),
        )
    )


def session_stats_stream(
    stream: DataFrame,
    gap_seconds: int = 1800,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Gap-based sessions as a native streaming aggregate
    (``session_window``): the streaming twin of
    ``operators.sessions.session_stats``.

    A session closes once the watermark passes its end + gap; state per
    open session is one row — Spark merges adjacent windows as events
    arrive, so no custom state code at all."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(
            F.session_window("ts", f"{gap_seconds} seconds").alias("session"),
            "metric",
            "series",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            "metric",
            "series",
            F.unix_timestamp("session.start").alias("session_start"),
            F.unix_timestamp("session.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def streaming_ksigma(
    stream: DataFrame, baseline: DataFrame, level: float = 3.0
) -> DataFrame:
    """P5 scored online: flag stream samples > level·σ from a static
    per-series baseline.

    ``baseline`` is a batch DataFrame with (metric, series, mu, sd) —
    e.g. from ``validity.series_stats`` extended with avg/stddev_pop.
    Stream-static joins broadcast the (small) baseline to every task, so
    scoring is stateless and shuffle-free on the stream side.

    The static side of a stream-static join is re-evaluated every
    micro-batch; here that is ONE cheap aggregate over the train
    corpus, and an r15 A/B measured driver-side materialization (the
    `streaming_ann_gate` LUT discipline) as a net loss at every drain
    size tried — callers with an EXPENSIVE baseline plan should
    materialize it before passing it in."""
    return (
        stream.join(F.broadcast(baseline), ["metric", "series"])
        .filter(
            (F.col("sd") > 0)
            & (F.abs(F.col("value") - F.col("mu")) > level * F.col("sd"))
        )
        .select("metric", "series", "ts", "value")
    )


def streaming_xcorr(
    stream: DataFrame,
    obj_metrics: tuple[str, ...],
    lag_max: int = 3,
    step_seconds: int = 15,
    bucket_seconds: int = 600,
    watermark: str = "10 minutes",
) -> DataFrame:
    """P8 as a streaming stream-stream join + windowed corr aggregate —
    the reference's correlation loop over an unbounded metric stream.

    The candidate side is lag-exploded FIRST and watermarked on its
    shifted timestamp (``join_ts``), so the join is an equality of two
    watermarked event-time columns — the cleanly-supported stream-stream
    join shape with bounded state; the lag shift changes effective
    lateness tolerance by ≤ lag_max·step.  Downstream, one windowed
    corr aggregate per (bucket, pair, lag) — chained stateful operators
    (join → agg), supported on Spark ≥3.4.
    """
    stream = stream.where(present())
    obj = (
        stream.filter(F.col("metric").isin(*obj_metrics))
        .select(
            F.col("metric").alias("obj_metric"),
            F.col("series").alias("obj_series"),
            F.col("ts").alias("obj_ts"),
            F.col("value").alias("obj_value"),
        )
        .withWatermark("obj_ts", watermark)
    )
    cand = lag_explode(
        stream.filter(~F.col("metric").isin(*obj_metrics)),
        lag_max,
        step_seconds,
    ).withWatermark("join_ts", watermark)
    joined = cand.join(obj, F.expr("join_ts = obj_ts"), "inner")
    return (
        joined.groupBy(
            F.window("obj_ts", f"{bucket_seconds} seconds").alias("bucket"),
            "obj_metric",
            "obj_series",
            "cand_metric",
            "cand_series",
            "lag",
        )
        .agg(*pearson("obj_value", "cand_value"))
    )


def streaming_exact_dedup(
    stream: DataFrame,
    text_col: str = "text",
    watermark_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Exact dedup on an unbounded document stream: first occurrence of
    each content hash wins.

    Keyed on md5(text); with a watermark column the dedup uses
    ``dropDuplicatesWithinWatermark`` so per-hash state is EVICTED as
    the watermark advances (bounded state — the 100 TB requirement;
    duplicates farther apart than the watermark delay re-admit, the
    documented trade).  Plain ``dropDuplicates`` with a watermark
    would NOT bound state here: the event-time column is not part of
    the dedup keys, so Spark never expires the hash entries (ADVICE
    r13).  Without a watermark column state grows with distinct
    content (dev/testing only)."""
    hashed = stream.withColumn("content_hash", F.md5(F.col(text_col)))
    if watermark_col is not None:
        return hashed.withWatermark(
            watermark_col, watermark
        ).dropDuplicatesWithinWatermark(["content_hash"])
    return hashed.dropDuplicates(["content_hash"])


def detect_anomalies_stateful(
    stream: DataFrame,
    *,
    median_window: int = 5,
    step_seconds: float = 15.0,
    f_min: float = 0.01 / 15,
    sigma_level: float = 3.0,
    cp_pvalue: float = 0.05,
    cp_permutations: int = 100,
    max_state_samples: int = 2048,
) -> DataFrame:
    """P6+P7 as per-key stateful streaming detection.

    Each micro-batch: append new samples to the bounded per-series
    buffer, rerun detection on the full buffer (change points are global
    features of the window, so they may appear in old data once new data
    arrives), and emit only anomalies not yet emitted — the emitted set
    lives in state next to the buffer.

    Hard part #2 from SURVEY §7: change-point state across window
    boundaries is exactly this buffer; its length bounds both state size
    and the O(n²) energy statistic.

    LATE / OUT-OF-ORDER POLICY (pinned by
    `test_stateful_detection_late_data`): there is deliberately NO
    watermark on this operator — the per-key buffer IS the lateness
    horizon.  A late row is merged into event-time position by the
    stable ts-sort and detection reruns over the corrected window, so
    an anomaly whose evidence arrives late is still emitted (with its
    original event timestamp).  A row older than the oldest retained
    sample falls off the ``max_state_samples`` cap and is silently
    dropped — the horizon is measured in SAMPLES per series, not wall
    time, which keeps state bounded without a clock coupling.  Callers
    that need a hard time horizon can pre-filter with
    ``withWatermark`` + a ts predicate upstream.
    """

    def fn(
        key: tuple[str, str],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        metric, series = key
        if state.exists:
            ts_buf, val_buf, emitted_cp, emitted_out = state.get
            ts_buf, val_buf = list(ts_buf), list(val_buf)
            emitted_cp, emitted_out = set(emitted_cp), set(emitted_out)
        else:
            ts_buf, val_buf = [], []
            emitted_cp, emitted_out = set(), set()

        for pdf in pdfs:
            ts_buf.extend(
                int(t) for t in pdf["ts"].astype("int64") // 1_000_000_000
            )
            val_buf.extend(float(v) for v in pdf["value"])

        order = np.argsort(ts_buf, kind="stable")[-max_state_samples:]
        ts_arr = np.asarray(ts_buf, dtype=np.int64)[order]
        val_arr = np.asarray(val_buf, dtype=np.float64)[order]

        med = moving_median_np(val_arr, median_window)
        cps = e_divisive_np(
            med,
            pvalue=cp_pvalue,
            permutations=cp_permutations,
            seed=_series_seed(metric, series),
        )
        outs = stl_outliers_np(
            val_arr,
            window=median_window,
            step_seconds=step_seconds,
            f_min=f_min,
            level=sigma_level,
        )

        rows: list[tuple[str, int, float]] = []
        for i in cps:
            t = int(ts_arr[i])
            if t not in emitted_cp:
                emitted_cp.add(t)
                rows.append(("changepoint", t, float(val_arr[i])))
        for i in outs:
            t = int(ts_arr[int(i)])
            if t not in emitted_out:
                emitted_out.add(t)
                rows.append(("outlier", t, float(val_arr[int(i)])))

        state.update(
            (
                [int(t) for t in ts_arr],
                [float(v) for v in val_arr],
                sorted(emitted_cp),
                sorted(emitted_out),
            )
        )

        if rows:
            kinds, ts_e, vals = zip(*rows)
            yield pd.DataFrame(
                {
                    "metric": metric,
                    "series": series,
                    "kind": list(kinds),
                    "ts": pd.to_datetime(list(ts_e), unit="s"),
                    "value": list(vals),
                }
            )

    return stream.groupBy("metric", "series").applyInPandasWithState(
        fn,
        STREAM_ANOMALY_SCHEMA,
        _STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def streaming_flagship(
    spark: SparkSession,
    source_dir: str,
    work_dir: str,
    *,
    obj_metrics: tuple[str, ...],
    bucket_seconds: int = 600,
    lag_max: int = 3,
    step_seconds: int = 15,
    cp_permutations: int = 30,
    watermark: str = "10 minutes",
):
    """The full advisor pipeline as its production streaming shape: two
    checkpointed jobs sharing one file source.

    Job 1 (stateful detection) appends anomalies to a parquet table;
    the anomaly table compacts into a (bucket, metric, series)
    membership snapshot — tiny, broadcast.  Job 2 (correlation) runs the
    stream-stream lag join + windowed corr, gated to member
    (bucket, series) pairs by stream-static semi-joins against the
    snapshot.  Each invocation drains with availableNow (continuous
    deployments just leave both queries running); returns the batch
    DataFrame of gated per-(bucket, pair, lag) correlations.

    Chaining note: applyInPandasWithState cannot feed further stateful
    operators inside ONE query — the two-job + compacted-snapshot split
    is the supported (and operationally standard) architecture.
    """
    import os

    anomalies_path = os.path.join(work_dir, "anomalies")
    ck1 = os.path.join(work_dir, "ck_detect")
    ck2 = os.path.join(work_dir, "ck_corr")
    corr_path = os.path.join(work_dir, "correlations")

    # job 1: stateful detection → anomaly table
    q1 = (
        detect_anomalies_stateful(
            stream_signals(spark, source_dir),
            step_seconds=float(step_seconds),
            cp_permutations=cp_permutations,
        )
        .writeStream.format("parquet")
        .option("path", anomalies_path)
        .option("checkpointLocation", ck1)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q1.awaitTermination()

    # compact anomalies → membership snapshot (batch; tiny)
    anomalies = spark.read.schema(STREAM_ANOMALY_SCHEMA).parquet(anomalies_path)
    membership = (
        anomalies.withColumn(
            "bucket_start",
            F.floor(F.unix_timestamp("ts") / bucket_seconds) * bucket_seconds,
        )
        .select("bucket_start", "metric", "series")
        .dropDuplicates(["bucket_start", "metric", "series"])
    )
    obj_members = membership.filter(F.col("metric").isin(*obj_metrics))
    cand_members = membership.filter(~F.col("metric").isin(*obj_metrics))

    # job 2: stream-stream lagged correlation, gated by membership
    corr = streaming_xcorr(
        stream_signals(spark, source_dir),
        obj_metrics,
        lag_max=lag_max,
        step_seconds=step_seconds,
        bucket_seconds=bucket_seconds,
        watermark=watermark,
    )
    q2 = (
        corr.writeStream.format("parquet")
        .option("path", corr_path)
        .option("checkpointLocation", ck2)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()

    drained = spark.read.parquet(corr_path)
    gated = (
        drained.withColumn(
            "bucket_start", F.unix_timestamp("bucket.start")
        )
        .join(
            F.broadcast(
                obj_members.withColumnsRenamed(
                    {"metric": "obj_metric", "series": "obj_series"}
                )
            ),
            ["bucket_start", "obj_metric", "obj_series"],
            "left_semi",
        )
        .join(
            F.broadcast(
                cand_members.withColumnsRenamed(
                    {"metric": "cand_metric", "series": "cand_series"}
                )
            ),
            ["bucket_start", "cand_metric", "cand_series"],
            "left_semi",
        )
    )
    return gated


def streaming_neardup_gate(
    stream: DataFrame,
    store_dir: str,
    out_dir: str,
    text_col: str = "text",
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    checkpoint: str | None = None,
) -> Any:
    """14th streaming surface: near-dup ADMISSION GATE on an unbounded
    document stream — MinHash-LSH per micro-batch via ``foreachBatch``,
    reusing the batch `minhash_bands` pipeline (the last big batch
    family with no streaming twin).

    Per micro-batch:
      1. compute the batch's (doc_id, band_id, band_hash) LSH bands;
      2. cross-batch: drop any doc sharing ≥1 band with the
         admitted-band STORE (a parquet dir appended per batch — the
         dedup state the Spark state store cannot hold because band
         keys must outlive any watermark; production compacts/buckets
         it periodically, and the lookup is one equi-join on
         (band_id, band_hash) against a store partitioned the same
         way — never a scan of admitted TEXT);
      3. within-batch: drop any doc sharing a band with a lower-doc_id
         batch doc (canonical min-id winner, arrival-order
         independent — same rule as the batch LSH pipeline);
      4. append survivors' bands to the store and survivors to
         ``out_dir``.

    For a single availableNow drain of a static source (one batch),
    the admitted set is exactly "docs where no lower-id doc shares a
    band" — the SQL-expressible oracle of the contract query.
    """
    import hashlib
    import uuid

    from pyspark.errors import AnalysisException

    from metrics_advisor_spark.functions.dedup import minhash_bands

    # out_dir and store_dir are laid out as run=<id>/batch=<n> leaf
    # dirs so a foreachBatch RETRY of the same batch overwrites its own
    # leaves idempotently instead of append-duplicating survivors,
    # while two checkpoint-less drains sharing one store (batch_id
    # restarts at 0 per query) never collide.  Partition discovery on
    # the root still reads every run's rows.
    # replay safety (r15, the span gate's r14-ADVICE discipline applied
    # family-wide): derive run_id from the checkpoint path when one is
    # given, so a lost-commit RESTART (new invocation, same checkpoint)
    # replays its batches onto the SAME run=/batch= leaves instead of
    # leaving the failed attempt's rows behind under a second run dir
    # (partition discovery would read both = duplicated output).
    run_id = (
        hashlib.md5(checkpoint.encode()).hexdigest()[:12]
        if checkpoint
        else uuid.uuid4().hex[:12]
    )

    def process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        bnd = minhash_bands(
            batch, text_col, n=n, k=k, bands=bands
        ).persist()
        surv_bands = None
        try:
            try:
                # run=/batch= leaf dirs surface as partition columns;
                # a replayed batch must not read the bands its failed
                # attempt appended (r15: the span gate's r14-ADVICE
                # guard b applied here too — without it a lost-commit
                # replay would see its own batch's bands as "already
                # admitted" and suppress every doc it introduced)
                store = spark.read.parquet(store_dir).where(
                    ~(
                        (F.col("run") == run_id)
                        & (F.col("batch") >= batch_id)
                    )
                )
            except AnalysisException:
                # PATH_NOT_FOUND / empty dir = first batch ever; any
                # other failure (transient FS error, corrupt parquet)
                # propagates — silently treating it as "no store"
                # would disable cross-batch suppression and admit
                # near-duplicates.
                store = None
            if store is not None:
                hit = (
                    bnd.join(store, ["band_id", "band_hash"], "left_semi")
                    .select("doc_id")
                    .distinct()
                )
                fresh = bnd.join(hit, "doc_id", "left_anti")
            else:
                fresh = bnd
            a, b = fresh.alias("a"), fresh.alias("b")
            suppressed = (
                a.join(
                    b,
                    (F.col("a.band_id") == F.col("b.band_id"))
                    & (F.col("a.band_hash") == F.col("b.band_hash"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")),
                )
                .select(F.col("b.doc_id").alias("doc_id"))
                .distinct()
            )
            surv_bands = fresh.join(
                suppressed, "doc_id", "left_anti"
            ).persist()
            survivors = batch.join(
                surv_bands.select("doc_id").distinct(), "doc_id", "left_semi"
            )
            leaf = f"run={run_id}/batch={batch_id}"
            # ORDER MATTERS: emit survivors BEFORE appending their
            # bands to the store — both plans re-read store_dir lazily,
            # and a store append first would make the survivors pass
            # see its own batch's bands as "already admitted" and
            # suppress the whole batch.
            survivors.write.mode("overwrite").parquet(f"{out_dir}/{leaf}")
            surv_bands.select(
                "doc_id", "band_id", "band_hash"
            ).write.mode("overwrite").parquet(f"{store_dir}/{leaf}")
        finally:
            bnd.unpersist()
            if surv_bands is not None:
                surv_bands.unpersist()

    writer = stream.writeStream.foreachBatch(process).trigger(
        availableNow=True
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    q = writer.start()
    q.awaitTermination()
    return q


def run_to_memory(
    df: DataFrame,
    name: str,
    checkpoint: str | None = None,
    output_mode: str = "append",
    state_partitions: int | None = 8,
) -> Any:
    """Drain a streaming DataFrame into an in-memory table with an
    availableNow trigger (test/dev helper; production uses a real sink).

    Windowed aggregations need ``output_mode='complete'`` here: with
    append, a window only emits once the watermark passes its end, which
    never happens for the final windows of a drained file stream.

    ``state_partitions`` narrows ``spark.sql.shuffle.partitions`` for
    the drain (restored afterwards): streaming state stores are
    per-shuffle-partition, and the r11 floor measurement (SCALE.md §19)
    found a stateful availableNow drain pays ~1.0 s of state-store
    init/commit at the session's 32 partitions vs ~0.05 s at 4-8 — a
    pure fixed tax at memory-sink drain scale (≤1M rows), while the
    post-shuffle compute stays amply parallel at 8.  Values are
    partition-count-invariant, so results (and contract hashes) are
    unchanged.  Pass ``None`` to keep the session setting (production
    streams sized for real shuffle volumes).

    ADVICE r11: the narrowed conf is SESSION-global for the drain's
    duration — OSS Spark has no per-query shuffle-partition override —
    so this helper is single-threaded test/dev only: it refuses to
    narrow while other streams are active on the session (a concurrent
    batch query would also silently run narrowed; don't share the
    session while draining)."""
    spark = df.sparkSession
    prev = None
    if state_partitions is not None:
        if spark.streams.active:
            raise RuntimeError(
                "run_to_memory: refusing to narrow "
                "spark.sql.shuffle.partitions while "
                f"{len(spark.streams.active)} other stream(s) are "
                "active on this session — the override is "
                "session-global; pass state_partitions=None or drain "
                "sequentially"
            )
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        writer = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
        )
        if checkpoint:
            writer = writer.option("checkpointLocation", checkpoint)
        q = writer.start()
        q.awaitTermination()
        return q
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)


def latest_by_key_stream(
    stream: DataFrame,
    key_cols: tuple[str, ...] = ("user_id",),
    ts_col: str = "ts",
    order_col: str = "event_id",
    value_cols: tuple[str, ...] = ("event_type", "value"),
) -> DataFrame:
    """Streaming CDC compaction: the continuously-maintained
    latest-row-per-key materialized view (the streaming analog of
    `operators.history.latest_by_key`, same (ts, order) tiebreak).

    One `max` over a (ts, order, values…) struct — a plain aggregate,
    so Spark keeps ONE struct per key in the state store and merges
    partial maxima map-side; no windows, no watermark needed (complete
    mode; at production scale this feeds an upsert sink keyed on
    ``key_cols`` in update mode instead).
    """
    latest = F.max(
        F.struct(F.col(ts_col), F.col(order_col), *[F.col(c) for c in value_cols])
    ).alias("latest")
    out = stream.groupBy(*key_cols).agg(latest)
    return out.select(
        *key_cols,
        F.col(f"latest.{ts_col}").alias(ts_col),
        F.col(f"latest.{order_col}").alias(order_col),
        *[F.col(f"latest.{c}").alias(c) for c in value_cols],
    )


def streaming_dsir_gate(
    stream: DataFrame,
    model: DataFrame,
    out_dir: str,
    threshold: float = 0.0,
    n_buckets: int = 4096,
    text_col: str = "text",
    id_col: str = "doc_id",
    checkpoint: str | None = None,
) -> Any:
    """15th streaming surface: DSIR QUALITY ADMISSION GATE on an
    unbounded document stream — score each micro-batch against a
    PRE-FIT hashed n-gram log-ratio model (`dsir_model`, fit offline on
    a reference corpus) and admit documents whose importance
    log-weight clears ``threshold``.  The streaming twin of
    `dsir_score`: a production curation stream gates crawl output on
    target-domain likeness without a learned classifier.

    Per micro-batch: tokenize → hashed (doc, bucket) counts →
    broadcast-join the ≤(n_buckets+1)-row model (unseen buckets take
    the model's sentinel default term) → deterministic bucket-ordered
    fold → filter ≥ threshold → append survivors.  The model table is
    static across batches — the only per-batch state is the batch
    itself, so unlike the near-dup gate no cross-batch store is needed
    and batches are embarrassingly independent.

    Writes survivors as run=<id>/batch=<n> leaf dirs (idempotent on
    foreachBatch retry, collision-free across drains — same scheme as
    `streaming_neardup_gate`).

    For a single availableNow drain of a static source, the admitted
    set equals the batch `dsir_score(...) >= threshold` — the
    SQL-expressible oracle of the contract query.
    """
    import hashlib
    import uuid

    from metrics_advisor_spark.functions.selection import dsir_score

    # replay safety (r15, the span gate's r14-ADVICE discipline applied
    # family-wide): derive run_id from the checkpoint path when one is
    # given, so a lost-commit RESTART (new invocation, same checkpoint)
    # replays its batches onto the SAME run=/batch= leaves instead of
    # leaving the failed attempt's rows behind under a second run dir
    # (partition discovery would read both = duplicated output).
    run_id = (
        hashlib.md5(checkpoint.encode()).hexdigest()[:12]
        if checkpoint
        else uuid.uuid4().hex[:12]
    )

    # The model is static across batches, but a foreachBatch closure
    # re-evaluates every DataFrame it references per micro-batch — and
    # `dsir_score` reads the model TWICE (the bucket>=0 broadcast and
    # the sentinel aggregate), so an unpersisted model replays its
    # whole fit plan (full reference-corpus scan + hashed-count
    # aggregate) 2× per batch (r15 profile: four identical
    # corpus-scan stages on a two-batch drain).  Persist it for the
    # drain's lifetime; ≤ n_buckets+1 rows, freed before returning.
    model = model.persist()
    model.count()

    def process(batch: DataFrame, batch_id: int) -> None:
        admitted = dsir_score(
            batch, model, n_buckets=n_buckets,
            text_col=text_col, id_col=id_col,
        ).where(F.col("log_weight") >= threshold)
        admitted.write.mode("overwrite").parquet(
            f"{out_dir}/run={run_id}/batch={batch_id}"
        )

    try:
        writer = stream.writeStream.foreachBatch(process).trigger(
            availableNow=True
        )
        if checkpoint:
            writer = writer.option("checkpointLocation", checkpoint)
        q = writer.start()
        q.awaitTermination()
    finally:
        model.unpersist()
    return q


def streaming_audio_features(
    stream: DataFrame,
    out_dir: str,
    window: int = 160,
    checkpoint: str | None = None,
) -> Any:
    """16th streaming surface: per-micro-batch AUDIO feature extraction
    over a binary WAV stream — the multimodal family's streaming twin.
    Each batch's payloads are header-parsed and PCM-framed by the REAL
    codec path (`functions/multimodal.audio_windows`: struct header
    parse + numpy frombuffer framing, integer-exact features), then
    appended as run=<id>/batch=<n> leaf dirs (idempotent on retry,
    collision-free across drains — the gate-family write scheme).

    Stateless across batches (a payload's features depend only on its
    own bytes), so a drain in ANY batching equals the batch operator —
    the SQL-expressible oracle of the contract query."""
    import hashlib
    import uuid

    from metrics_advisor_spark.functions.multimodal import audio_windows

    # replay safety (r15, the span gate's r14-ADVICE discipline applied
    # family-wide): derive run_id from the checkpoint path when one is
    # given, so a lost-commit RESTART (new invocation, same checkpoint)
    # replays its batches onto the SAME run=/batch= leaves instead of
    # leaving the failed attempt's rows behind under a second run dir
    # (partition discovery would read both = duplicated output).
    run_id = (
        hashlib.md5(checkpoint.encode()).hexdigest()[:12]
        if checkpoint
        else uuid.uuid4().hex[:12]
    )

    def process(batch: DataFrame, batch_id: int) -> None:
        audio_windows(batch, window=window).write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/run={run_id}/batch={batch_id}")

    writer = stream.writeStream.foreachBatch(process).trigger(
        availableNow=True
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    q = writer.start()
    q.awaitTermination()
    return q


def streaming_ann_gate(
    stream: DataFrame,
    codebook: DataFrame,
    references: DataFrame,
    out_dir: str,
    threshold: float = 1.0,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    checkpoint: str | None = None,
) -> Any:
    """17th streaming surface: PQ-scored ANN ADMISSION GATE on an
    unbounded embedding stream — the vector-domain twin of the DSIR
    quality gate.  Against a PRE-TRAINED product-quantization codebook
    (`functions/pq.pq_codebook`, fit offline) and a fixed REFERENCE
    vector set (e.g. the centroids of known near-duplicate clusters,
    or an already-ingested index sample), each micro-batch is
    PQ-encoded and ADC-scored, and a vector is admitted only when its
    minimum asymmetric distance to every reference EXCEEDS
    ``threshold`` — i.e. it is novel enough to ingest.  A production
    curation stream gates crawl embeddings on index novelty this way
    without ever touching the full index: the per-batch working set is
    the broadcast codebook (m·k rows) plus the broadcast
    reference↔codeword LUT (m·k·|references| rows), both independent
    of corpus AND stream size.

    The LUT (exact reference↔codeword distances per subspace) is
    computed ONCE up front — it is static across batches; per batch
    the plan is encode (broadcast codebook join + ordered-fold argmin)
    → LUT join → per-(vector, reference) subspace-ordered ADC fold →
    per-vector (distance, ref)-argmin → threshold filter.  The same
    determinism contract as `pq_search` (floor-form snap, id
    tiebreaks).  Output rows: (vec_id, nearest_ref, min_adc_dist).

    Writes admitted vectors as run=<id>/batch=<n> leaf dirs
    (idempotent on foreachBatch retry, collision-free across drains —
    the gate-family write scheme).  Stateless across batches, so a
    single availableNow drain of a static source equals the batch
    plan — the SQL-expressible oracle of the contract query."""
    import hashlib
    import uuid

    from metrics_advisor_spark.functions.pq import (
        _floor6,
        _sq_dist,
        _subvectors,
        pq_encode,
    )

    # replay safety (r15, the span gate's r14-ADVICE discipline applied
    # family-wide): derive run_id from the checkpoint path when one is
    # given, so a lost-commit RESTART (new invocation, same checkpoint)
    # replays its batches onto the SAME run=/batch= leaves instead of
    # leaving the failed attempt's rows behind under a second run dir
    # (partition discovery would read both = duplicated output).
    run_id = (
        hashlib.md5(checkpoint.encode()).hexdigest()[:12]
        if checkpoint
        else uuid.uuid4().hex[:12]
    )
    cb = codebook.select("s", "code", "centroid")
    lut_plan = (
        _subvectors(references, m, id_col, vec_col)
        .select(
            F.col("vec_id").alias("query_id"),
            "s",
            F.col("sub").alias("qsub"),
        )
        .join(F.broadcast(cb), "s")
        .select(
            "query_id",
            "s",
            "code",
            _sq_dist(F.col("qsub"), F.col("centroid")).alias("part"),
        )
    )
    # The LUT is static across batches and bounded at m·k·|references|
    # rows — small by contract (the gate's whole point is that the
    # per-batch working set is index-size-independent).  Materialize it
    # on the DRIVER and recreate it as a literal DataFrame rather than
    # localCheckpoint: local-checkpoint blocks live only on executors,
    # so on a real cluster one executor loss mid-drain would make the
    # LUT unrecoverable and fail the stream (r07 ADVICE), and the
    # uncheckpointed plan would otherwise re-evaluate per micro-batch.
    lut = stream.sparkSession.createDataFrame(
        lut_plan.collect(), schema=lut_plan.schema
    )

    def process(batch: DataFrame, batch_id: int) -> None:
        codes = pq_encode(batch, cb, m=m, id_col=id_col, vec_col=vec_col)
        scored = (
            codes.join(F.broadcast(lut), ["s", "code"])
            .groupBy("vec_id", "query_id")
            .agg(
                F.sort_array(
                    F.collect_list(F.struct("s", "part"))
                ).alias("ps")
            )
            .select(
                "vec_id",
                "query_id",
                _floor6(
                    F.aggregate(
                        "ps", F.lit(0.0), lambda acc, v: acc + v.part
                    )
                ).alias("adc_dist"),
            )
        )
        admitted = (
            scored.groupBy("vec_id")
            .agg(F.min(F.struct("adc_dist", "query_id")).alias("best"))
            .select(
                "vec_id",
                F.col("best.query_id").alias("nearest_ref"),
                F.col("best.adc_dist").alias("min_adc_dist"),
            )
            .where(F.col("min_adc_dist") > threshold)
        )
        admitted.write.mode("overwrite").parquet(
            f"{out_dir}/run={run_id}/batch={batch_id}"
        )

    writer = stream.writeStream.foreachBatch(process).trigger(
        availableNow=True
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    q = writer.start()
    q.awaitTermination()
    return q


def streaming_video_gate(
    stream: DataFrame,
    out_dir: str,
    min_duration_ms: int = 300,
    min_motion: int = 1,
    checkpoint: str | None = None,
) -> Any:
    """18th streaming surface: VIDEO admission gate on a binary AVI
    stream — a curation pipeline's first-pass filter before expensive
    frame work.  Each micro-batch's payloads are spec-parsed by the
    REAL codec (`functions/multimodal.video_meta`) and scored for
    motion energy (`video_motion`); a video is admitted only when its
    parsed duration reaches ``min_duration_ms`` AND every frame
    transition carries at least ``min_motion`` absolute pixel delta
    (static/frozen clips are dropped — the classic dead-camera filter).
    Zero-transition clips (n_frames == 1, so `video_motion` emits no
    rows) are REJECTED BY DESIGN: a single frame carries no evidence of
    motion, and a dead-camera filter must not admit what it cannot
    score — the left join below makes that policy explicit instead of
    relying on inner-join row loss (ADVICE r08).  Admitted rows:
    (doc_id, width, height, n_frames, duration_ms, min_frame_motion).

    Stateless across batches (a payload's verdict depends only on its
    own bytes), so a drain in ANY batching equals the batch plan — the
    SQL-expressible oracle of the contract query.  Writes
    run=<id>/batch=<n> leaf dirs (idempotent on retry, collision-free
    across drains — the gate-family write scheme)."""
    import hashlib
    import uuid

    from metrics_advisor_spark.functions.multimodal import (
        video_meta,
        video_motion,
    )

    # replay safety (r15, the span gate's r14-ADVICE discipline applied
    # family-wide): derive run_id from the checkpoint path when one is
    # given, so a lost-commit RESTART (new invocation, same checkpoint)
    # replays its batches onto the SAME run=/batch= leaves instead of
    # leaving the failed attempt's rows behind under a second run dir
    # (partition discovery would read both = duplicated output).
    run_id = (
        hashlib.md5(checkpoint.encode()).hexdigest()[:12]
        if checkpoint
        else uuid.uuid4().hex[:12]
    )

    def process(batch: DataFrame, batch_id: int) -> None:
        meta = video_meta(batch)
        motion = (
            video_motion(batch)
            .groupBy("doc_id")
            .agg(F.min("sum_abs_diff").alias("min_frame_motion"))
        )
        # LEFT join + explicit null rejection: a single-frame clip has
        # zero transitions, hence zero video_motion rows — it must be
        # rejected deliberately (no motion evidence), not silently
        # dropped by an inner join.
        admitted = (
            meta.join(motion, "doc_id", "left")
            .where(
                (F.col("duration_ms") >= min_duration_ms)
                & F.col("min_frame_motion").isNotNull()
                & (F.col("min_frame_motion") >= min_motion)
            )
            .select(
                "doc_id", "width", "height", "n_frames",
                "duration_ms", "min_frame_motion",
            )
        )
        admitted.write.mode("overwrite").parquet(
            f"{out_dir}/run={run_id}/batch={batch_id}"
        )

    writer = stream.writeStream.foreachBatch(process).trigger(
        availableNow=True
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    q = writer.start()
    q.awaitTermination()
    return q


def streaming_warc_gate(
    stream: DataFrame,
    out_dir: str,
    min_body_bytes: int = 1,
    checkpoint: str | None = None,
) -> Any:
    """19th streaming surface: WARC ingestion gate — the arrival-time
    shape of a crawl pipeline, where archives land continuously and
    each micro-batch is record-split, HTTP-parsed (chunked bodies
    dechunked, gzip members inflated — the full `sources/warc.py`
    parser) and admitted on response status 200 with a non-trivial
    body.  Admitted rows: (doc_id, http_status, target_uri,
    body_bytes).

    Stateless across batches (a payload's verdict depends only on its
    own bytes), so a drain in ANY batching equals the batch plan —
    the SQL-expressible oracle of the contract query.  Writes
    run=<id>/batch=<n> leaf dirs (the gate-family write scheme)."""
    import hashlib
    import uuid

    from metrics_advisor_spark.sources.warc import warc_records_df

    # replay safety (r15, the span gate's r14-ADVICE discipline applied
    # family-wide): derive run_id from the checkpoint path when one is
    # given, so a lost-commit RESTART (new invocation, same checkpoint)
    # replays its batches onto the SAME run=/batch= leaves instead of
    # leaving the failed attempt's rows behind under a second run dir
    # (partition discovery would read both = duplicated output).
    run_id = (
        hashlib.md5(checkpoint.encode()).hexdigest()[:12]
        if checkpoint
        else uuid.uuid4().hex[:12]
    )

    def process(batch: DataFrame, batch_id: int) -> None:
        recs = warc_records_df(batch)
        admitted = (
            recs.where(F.col("warc_type") == "response")
            .where(F.col("http_status") == 200)
            .where(F.length("body") >= min_body_bytes)
            .select(
                F.col("archive").cast("long").alias("doc_id"),
                "http_status",
                "target_uri",
                F.length("body").cast("long").alias("body_bytes"),
            )
        )
        admitted.write.mode("overwrite").parquet(
            f"{out_dir}/run={run_id}/batch={batch_id}"
        )

    writer = stream.writeStream.foreachBatch(process).trigger(
        availableNow=True
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    q = writer.start()
    q.awaitTermination()
    return q


def streaming_link_frontier(
    stream: DataFrame,
    *,
    id_col: str = "doc_id",
    url_col: str = "url",
    html_col: str = "html",
    ts_col: str | None = None,
    watermark: str = "1 hour",
    known_df: DataFrame | None = None,
) -> DataFrame:
    """20th streaming surface: link-frontier admission — the
    arrival-time shape of a crawler's discovery loop.  Each
    micro-batch of fetched pages is link-extracted (anchors resolved
    against the page URL per RFC 3986, honoring ``<base href>``,
    canonicalized to the frontier key), optionally anti-joined against
    a STATIC already-fetched table (stream-static join), then
    first-discovery-wins deduplicated ACROSS batches via
    ``dropDuplicates`` on the canonical key — the fetch-once
    discipline, genuinely stateful.

    With ``ts_col`` the discovery timestamp threads through and
    ``dropDuplicatesWithinWatermark`` bounds the per-key state (the
    100 TB requirement — state for a canonical URL is evicted once
    the watermark passes its discovery time; re-discoveries beyond
    the delay re-admit, the documented trade).  Plain
    ``dropDuplicates`` + watermark would NOT evict here because the
    event-time column is not among the dedup keys (ADVICE r13).
    Without ``ts_col`` state grows with distinct URLs (dev/testing
    only) — same policy as `streaming_exact_dedup`.

    Emits (doc_id, link_pos, href, resolved, canonical[, ts]) for
    each FIRST discovery; append-mode compatible."""
    from metrics_advisor_spark.functions.html import extract_links
    from metrics_advisor_spark.functions.url import canonicalize_url

    schema = (f"{id_col} long, link_pos int, href string, "
              "resolved string, canonical string")
    if ts_col is not None:
        schema += f", {ts_col} timestamp"
    cols = [id_col, url_col, html_col] + (
        [ts_col] if ts_col is not None else []
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                id_col: [], "link_pos": [], "href": [],
                "resolved": [], "canonical": [],
            }
            if ts_col is not None:
                out[ts_col] = []
            for i in range(len(pdf)):
                page = pdf[html_col].iloc[i]
                if page is None:
                    continue
                base = pdf[url_col].iloc[i]
                for pos, href, res in extract_links(page, base):
                    out[id_col].append(pdf[id_col].iloc[i])
                    out["link_pos"].append(pos)
                    out["href"].append(href)
                    out["resolved"].append(res)
                    out["canonical"].append(canonicalize_url(res))
                    if ts_col is not None:
                        out[ts_col].append(pdf[ts_col].iloc[i])
            out[id_col] = pd.Series(out[id_col], dtype="int64")
            out["link_pos"] = pd.Series(out["link_pos"], dtype="int32")
            yield pd.DataFrame(out)

    links = stream.select(*cols).mapInPandas(fn, schema)
    if known_df is not None:
        known = known_df.select(F.col(known_df.columns[0]).alias("__known"))
        links = links.join(
            known, links["canonical"] == known["__known"], "left_anti"
        )
    if ts_col is not None:
        return links.withWatermark(
            ts_col, watermark
        ).dropDuplicatesWithinWatermark(["canonical"])
    return links.dropDuplicates(["canonical"])


def streaming_perplexity_gate(
    stream: DataFrame,
    out_dir: str,
    max_nll_per_tri: float = 6.74,
    ref_lang: str = "en",
    text_col: str = "text",
    checkpoint: str | None = None,
) -> Any:
    """22nd streaming surface: CCNet-style PERPLEXITY ADMISSION GATE
    on an unbounded document stream — each micro-batch is scored
    against the frozen char-trigram LM (`text.char_lm_perplexity`'s
    ``ref_lang`` slice, a few-hundred-row broadcast) and documents
    whose NLL per trigram clears the ceiling are admitted.  The
    streaming twin of `Corpus.perplexity_gate`: production crawl
    curation thresholds LM quality in arrival time, before anything
    lands in the corpus store.

    Per micro-batch: trigram explode → broadcast model join → ONE
    integer aggregate per doc → floor-form mean → filter.  The model
    is static across batches and batches are embarrassingly
    independent (no cross-batch state), so a drain in ANY batching
    equals the batch plan — the SQL-expressible oracle of the
    contract query.  Writes run=<id>/batch=<n> leaf dirs (the
    gate-family scheme)."""
    import hashlib
    import uuid

    from metrics_advisor_spark.functions.text import char_lm_perplexity

    # replay safety (r15, the span gate's r14-ADVICE discipline applied
    # family-wide): derive run_id from the checkpoint path when one is
    # given, so a lost-commit RESTART (new invocation, same checkpoint)
    # replays its batches onto the SAME run=/batch= leaves instead of
    # leaving the failed attempt's rows behind under a second run dir
    # (partition discovery would read both = duplicated output).
    run_id = (
        hashlib.md5(checkpoint.encode()).hexdigest()[:12]
        if checkpoint
        else uuid.uuid4().hex[:12]
    )

    def process(batch: DataFrame, batch_id: int) -> None:
        admitted = char_lm_perplexity(
            batch, text_col, ref_lang=ref_lang
        ).where(F.col("nll_per_tri") <= max_nll_per_tri)
        admitted.write.mode("overwrite").parquet(
            f"{out_dir}/run={run_id}/batch={batch_id}"
        )

    writer = stream.writeStream.foreachBatch(process).trigger(
        availableNow=True
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    q = writer.start()
    q.awaitTermination()
    return q


def streaming_span_gate(
    stream: DataFrame,
    store_dir: str,
    out_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 64,
    stride: int = 16,
    checkpoint: str | None = None,
) -> Any:
    """23rd streaming surface: cross-batch SUBSTRING-LEVEL dedup on an
    unbounded document stream — the arrival-time form of the winnowed
    span family (`dedup.duplicate_spans`).  Material the stream has
    already carried is SCRUBBED from later arrivals at char
    granularity; the first arrival of any run survives intact
    (keep-first semantics in arrival order, then (doc_id, offset)
    within a batch).

    Per micro-batch via ``foreachBatch``:
      1. winnowed window keys per doc (`_winnow_windows` — the
         alignment-invariant selection, one Arrow pass);
      2. cross-batch hits: windows whose md5(key) is in the seen-key
         STORE (a parquet dir appended per batch — window keys must
         outlive any watermark, so the Spark state store cannot hold
         them; md5 keeps the store at 16 bytes/window and a collision
         needs 2^-128, documented);
      3. within-batch hits: non-first occurrences of windows
         duplicated inside the batch (row_number over the key,
         (doc_id, offset) order — exactly `keep_first=True`);
      4. hits merge per doc (gaps-and-islands) and splice out; fresh
         first-occurrence keys append to the store, scrubbed docs
         append to ``out_dir``.

    For a single availableNow drain of a static source (one batch,
    empty store) the output equals the batch
    ``scrub_duplicate_spans(keep_first=True)`` — the SQL-expressible
    oracle of the staged contract query.

    Replay safety (r14 ADVICE, medium): foreachBatch is
    at-least-once — a batch that appended its store leaf but crashed
    before the checkpoint commit is REPLAYED under the same
    batch_id.  Two guards make the replay idempotent: (a) ``run_id``
    derives from the checkpoint path, so the replayed batch
    overwrites the SAME run=/batch= leaves instead of leaving the
    failed attempt's docs behind under a second run; (b) the store
    read drops rows from this run with ``batch >= batch_id`` — the
    failed attempt's own keys — so the replay cannot see the batch's
    windows as 'seen' and scrub the canonical first occurrence
    (which would leave ZERO copies of material introduced in that
    batch, violating keep-first)."""
    import hashlib
    import uuid

    from pyspark.errors import AnalysisException

    from metrics_advisor_spark.functions.dedup import (
        _merge_spans,
        _splice_spans,
        _winnow_windows,
    )

    run_id = (
        hashlib.md5(checkpoint.encode()).hexdigest()[:12]
        if checkpoint
        else uuid.uuid4().hex[:12]
    )

    def process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        wins = _winnow_windows(
            batch, text_col, id_col, min_len=min_len, stride=stride,
        ).withColumn("wh", F.md5("w")).persist()
        try:
            try:
                # run=/batch= leaf dirs surface as partition columns;
                # a replayed batch must not read the keys its failed
                # attempt appended (r14 ADVICE guard b)
                store = spark.read.parquet(store_dir).where(
                    ~(
                        (F.col("run") == run_id)
                        & (F.col("batch") >= batch_id)
                    )
                ).select("wh")
            except AnalysisException:
                # first batch ever (PATH_NOT_FOUND); other failures
                # propagate — treating them as "no store" would
                # silently disable cross-batch suppression
                store = None
            if store is not None:
                seen = wins.join(store, "wh", "left_semi")
                fresh = wins.join(store, "wh", "left_anti")
            else:
                seen = wins.limit(0)
                fresh = wins
            from pyspark.sql.window import Window as _W

            rk = F.row_number().over(
                _W.partitionBy("wh").orderBy(id_col, "off")
            )
            ranked = fresh.withColumn("_rk", rk)
            inbatch = ranked.where(F.col("_rk") > 1)
            hits = seen.select(id_col, "off").unionByName(
                inbatch.select(id_col, "off")
            )
            spans = _merge_spans(hits, id_col, min_len)
            scrubbed = _splice_spans(
                batch, spans, text_col, id_col
            )
            leaf = f"run={run_id}/batch={batch_id}"
            # ORDER MATTERS: emit scrubbed docs BEFORE appending keys —
            # the store read is lazy, and appending first would make
            # the splice pass see the batch's own keys as seen
            scrubbed.write.mode("overwrite").parquet(
                f"{out_dir}/{leaf}"
            )
            # remember every FIRST occurrence this batch introduced
            ranked.where(F.col("_rk") == 1).select(
                "wh"
            ).distinct().write.mode("overwrite").parquet(
                f"{store_dir}/{leaf}"
            )
        finally:
            wins.unpersist()

    writer = stream.writeStream.foreachBatch(process).trigger(
        availableNow=True
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    q = writer.start()
    q.awaitTermination()
    return q


def streaming_audio_gate(
    stream: DataFrame,
    store_dir: str,
    out_dir: str,
    wav_col: str = "wav",
    id_col: str = "doc_id",
    max_distance: int = 4,
    window: int = 256,
    n_bands: int = 16,
    checkpoint: str | None = None,
) -> Any:
    """24th streaming surface (staged r15): AUDIO near-dup ADMISSION
    GATE on an unbounded media stream — clips the stream has already
    admitted suppress later re-encodes and re-levels, closing the
    multimodal loop the way `streaming_neardup_gate` closes text.

    Per micro-batch:
      1. `audio_fingerprint` 56-bit majority sketches (gain-invariant
         delta-sign codes).  Sub-window stubs (n_codes = 0) are
         ADMITTED untouched and never stored — no signal, no dedup
         decision (`Corpus.dedup_audio` rule);
      2. cross-batch: pigeonhole-band the batch sketches
         (``max_distance + 1`` disjoint bands over 56 bits — two
         sketches within Hamming ≤ d agree exactly on ≥ 1 band) and
         drop any clip within ≤ d of an admitted sketch in the STORE
         via a (band_id, band_bits) equi-join + true ``bit_count``
         filter: the store is banded the same way, so the lookup
         touches only band-colliding sketches, never a store scan;
      3. within-batch: `hamming_components` over the survivors
         (in-task popcount min-label fixpoint, no pair explosion),
         keep each component's min-id representative;
      4. append admitted representatives' bands to the store and
         admitted docs to ``out_dir``.

    The store holds 5 16-byte rows per admitted clip (bands of ONE
    56-bit sketch — ~10⁻⁵ of the audio bytes), partitioned by
    (band_id, band_bits) at read time via the equi-join; like the
    neardup gate's band store, production compacts/buckets it
    periodically and the lookup stays an equi-join against the
    compacted layout, never a scan of admitted PAYLOADS.

    A single availableNow drain of a static source over an empty
    store equals the batch ``Corpus.dedup_audio`` (stubs pass
    through, each cluster keeps its min doc_id) — the
    SQL-expressible oracle of the r16 contract query (the
    `audio_dup_components` analytic replay + representative filter).

    Replay-safe from day one (the r14-ADVICE discipline): ``run_id``
    derives from the checkpoint path so a lost-commit restart
    overwrites its own run=/batch= leaves, and the store read drops
    this run's ``batch >= batch_id`` rows so a replayed batch cannot
    be suppressed by its failed attempt's own sketches."""
    import hashlib
    import uuid

    from pyspark.errors import AnalysisException

    from metrics_advisor_spark.functions.dedup import (
        hamming_components,
    )
    from metrics_advisor_spark.functions.multimodal import (
        audio_fingerprint,
    )

    n_bnd = max_distance + 1
    base, rem = divmod(56, n_bnd)

    def band_exprs(col: str):
        out, lo = [], 0
        for b in range(n_bnd):
            width = base + (1 if b < rem else 0)
            mask = (1 << width) - 1
            out.append(
                F.struct(
                    F.lit(b).alias("band_id"),
                    F.expr(f"shiftright({col}, {lo})")
                    .bitwiseAND(F.lit(mask))
                    .alias("band_bits"),
                )
            )
            lo += width
        return out

    run_id = (
        hashlib.md5(checkpoint.encode()).hexdigest()[:12]
        if checkpoint
        else uuid.uuid4().hex[:12]
    )

    def process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        fp = audio_fingerprint(
            batch, wav_col, id_col, window=window, n_bands=n_bands
        ).persist()
        try:
            stubs = fp.where(F.col("n_codes") <= 0).select(
                F.col(id_col).alias("doc_id")
            )
            sk = fp.where(F.col("n_codes") > 0).select(
                F.col(id_col).alias("doc_id"), "fp56"
            )
            bnd = sk.select(
                "doc_id",
                "fp56",
                F.explode(F.array(*band_exprs("fp56"))).alias("band"),
            ).select("doc_id", "fp56", "band.band_id", "band.band_bits")
            try:
                store = (
                    spark.read.parquet(store_dir)
                    .where(
                        ~(
                            (F.col("run") == run_id)
                            & (F.col("batch") >= batch_id)
                        )
                    )
                    .select(
                        "band_id",
                        "band_bits",
                        F.col("fp56").alias("_stored_fp"),
                    )
                )
            except AnalysisException:
                # first batch ever; other failures propagate —
                # treating them as "no store" would silently admit
                # re-encodes of already-admitted audio
                store = None
            if store is not None:
                hit = (
                    bnd.join(store, ["band_id", "band_bits"])
                    .where(
                        F.expr(
                            "bit_count(fp56 ^ _stored_fp) "
                            f"<= {max_distance}"
                        )
                    )
                    .select("doc_id")
                    .distinct()
                )
                fresh = sk.join(hit, "doc_id", "left_anti")
            else:
                fresh = sk
            comp = hamming_components(
                fresh.select(
                    "doc_id", F.col("fp56").alias("simhash")
                ),
                max_distance=max_distance,
                n_bits=56,
            )
            reps = comp.where(
                F.col("doc_id") == F.col("component")
            ).select("doc_id")
            admitted = reps.unionByName(stubs)
            survivors = batch.join(
                admitted.withColumnRenamed("doc_id", id_col),
                id_col,
                "left_semi",
            )
            leaf = f"run={run_id}/batch={batch_id}"
            # ORDER MATTERS: emit survivors BEFORE appending bands —
            # the store read is lazy, and appending first would make
            # the survivors pass see its own batch's sketches as
            # already admitted
            survivors.write.mode("overwrite").parquet(
                f"{out_dir}/{leaf}"
            )
            fresh.join(reps, "doc_id", "left_semi").select(
                "fp56",
                F.explode(F.array(*band_exprs("fp56"))).alias("band"),
            ).select(
                "fp56", "band.band_id", "band.band_bits"
            ).write.mode("overwrite").parquet(f"{store_dir}/{leaf}")
        finally:
            fp.unpersist()

    writer = stream.writeStream.foreachBatch(process).trigger(
        availableNow=True
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    q = writer.start()
    q.awaitTermination()
    return q
