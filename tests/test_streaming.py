"""Structured Streaming re-skin: windowed stats, stream-static scoring,
stateful change-point detection with incremental emission."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from metrics_advisor_spark.streaming import (
    detect_anomalies_stateful,
    run_to_memory,
    stream_signals,
    streaming_ksigma,
    windowed_stats,
)

from conftest import make_signals_df

T0 = 1640588307


def _write_batch(spark, path, series, t0=T0):
    make_signals_df(spark, series, t0=t0).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def test_windowed_stats_matches_batch(spark, tmp_path):
    src = str(tmp_path / "sig")
    rng = np.random.default_rng(7)
    _write_batch(
        spark,
        src,
        {
            ("m1", "a"): rng.normal(10, 1, 120),
            ("m1", "b"): rng.normal(5, 2, 120),
        },
    )
    stream = stream_signals(spark, src)
    assert stream.isStreaming
    run_to_memory(
        windowed_stats(stream, bucket_seconds=600),
        "win_stats",
        checkpoint=str(tmp_path / "ck1"),
        output_mode="complete",
    )
    got = spark.table("win_stats")
    batch = (
        spark.read.parquet(src)
        .groupBy(F.window("ts", "600 seconds").alias("bucket"), "metric", "series")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.avg("value").alias("avg_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            (F.max("value") - F.min("value")).alias("value_range"),
        )
    )
    a = sorted(map(tuple, got.collect()))
    b = sorted(map(tuple, batch.collect()))
    assert a == b
    # 120 samples @15s = 30 min; t0 is not window-aligned → 4 clock-aligned
    # 600 s windows × 2 series
    assert len(a) == 2 * 4


def test_streaming_ksigma_flags_spike(spark, tmp_path):
    src = str(tmp_path / "sig")
    vals = np.ones(60)
    vals[30] = 100.0  # spike
    _write_batch(spark, src, {("m1", "a"): vals})
    baseline = spark.createDataFrame(
        [("m1", "a", 1.0, 0.5)], "metric string, series string, mu double, sd double"
    )
    run_to_memory(
        streaming_ksigma(stream_signals(spark, src), baseline, level=3.0),
        "ksig",
        checkpoint=str(tmp_path / "ck2"),
    )
    rows = spark.table("ksig").collect()
    assert len(rows) == 1
    assert rows[0]["value"] == 100.0


def test_stateful_detection_incremental(spark, tmp_path):
    """Two micro-batches via checkpointed availableNow runs: the step
    change is emitted once, not re-emitted on the second batch."""
    src = str(tmp_path / "sig")
    ck = str(tmp_path / "ck3")
    step = np.concatenate([np.full(60, 1.0), np.full(60, 10.0)])
    _write_batch(spark, src, {("m1", "a"): step})

    out = str(tmp_path / "anom_out")

    def drain():
        # memory sink can't recover from a checkpoint; the file sink can
        q = (
            detect_anomalies_stateful(
                stream_signals(spark, src), cp_permutations=30
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.schema(
            "metric string, series string, kind string, ts timestamp, value double"
        ).parquet(out).collect()

    first = drain()
    cps1 = [r for r in first if r["kind"] == "changepoint"]
    assert len(cps1) == 1
    assert abs(int(cps1[0]["ts"].timestamp()) - (T0 + 60 * 15)) <= 3 * 15

    # second batch: continuation of the high plateau — no new change point
    _write_batch(spark, src, {("m1", "a"): np.full(40, 10.0)}, t0=T0 + 120 * 15)
    second = drain()
    cps2 = [r for r in second if r["kind"] == "changepoint"]
    # cumulative output still holds exactly the one change point: the
    # emitted-set in state deduplicates across micro-batches
    assert len(cps2) == 1
    assert cps2[0]["ts"] == cps1[0]["ts"]


def test_stateful_detection_late_data(spark, tmp_path):
    """Pin the documented late/out-of-order policy of
    `detect_anomalies_stateful` (VERDICT r09 item 7): no watermark —
    a late row inside the retained per-key buffer is MERGED into
    event-time position (its anomaly is emitted, at the original
    event timestamp, once the evidence arrives); a row older than the
    oldest retained sample falls off the max_state_samples cap and is
    silently DROPPED."""
    src = str(tmp_path / "sig")
    ck = str(tmp_path / "ck_late")
    out = str(tmp_path / "late_out")
    spike_ts = T0 + 30 * 15

    def drain():
        q = (
            detect_anomalies_stateful(
                stream_signals(spark, src),
                cp_permutations=30,
                max_state_samples=60,
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.schema(
            "metric string, series string, kind string, ts timestamp,"
            " value double"
        ).parquet(out).collect()

    # batch 1: constant series with a GAP at index 30 (ts present
    # later as the late arrival)
    _write_batch(spark, src, {("m1", "a"): np.ones(30)})
    _write_batch(
        spark, src, {("m1", "a"): np.ones(29)}, t0=T0 + 31 * 15
    )
    first = drain()
    assert [r for r in first if r["kind"] == "outlier"] == []

    # batch 2: the spike arrives LATE, in the middle of batch 1's
    # event-time range — buffered policy: merged in order, detection
    # reruns, the outlier is emitted at its ORIGINAL event time
    _write_batch(spark, src, {("m1", "a"): [100.0]}, t0=spike_ts)
    second = drain()
    outs2 = [r for r in second if r["kind"] == "outlier"]
    assert len(outs2) == 1
    assert int(outs2[0]["ts"].timestamp()) == spike_ts
    assert outs2[0]["value"] == 100.0

    # batch 3: 60 fresh samples roll the 60-sample buffer fully
    # forward, PLUS an extreme row older than anything ever seen —
    # beyond the retained horizon: dropped, no emission
    _write_batch(
        spark, src, {("m1", "a"): np.ones(60)}, t0=T0 + 70 * 15
    )
    _write_batch(spark, src, {("m1", "a"): [500.0]}, t0=T0 - 15)
    third = drain()
    outs3 = [r for r in third if r["kind"] == "outlier"]
    assert outs3 == outs2  # nothing new: the too-late row fell off


def test_streaming_session_window(spark, tmp_path):
    """Native session_window aggregation over the file stream: two event
    clusters separated by > gap become two sessions."""
    import numpy as np
    from metrics_advisor_spark.streaming.pipeline import session_stats_stream

    src = str(tmp_path / "sess_sig")
    # cluster 1: 10 events @15s from T0; cluster 2: 5 events from T0+2h
    _write_batch(spark, src, {("m1", "a"): np.ones(10)}, t0=T0)
    _write_batch(spark, src, {("m1", "a"): np.full(5, 2.0)}, t0=T0 + 7200)
    run_to_memory(
        session_stats_stream(stream_signals(spark, src), gap_seconds=1800),
        "sess_win",
        checkpoint=str(tmp_path / "ck_sess"),
        output_mode="complete",
    )
    rows = sorted(
        spark.table("sess_win").collect(), key=lambda r: r["session_start"]
    )
    assert [(r["n_events"], r["total_value"]) for r in rows] == [
        (10, 10.0), (5, 10.0)
    ]
    # session extent = first event … last event + gap
    assert rows[0]["session_start"] == T0
    assert rows[0]["session_end"] == T0 + 9 * 15 + 1800
    assert rows[1]["session_start"] == T0 + 7200


def test_streaming_xcorr_matches_batch(spark, tmp_path):
    """Stream-stream lag join + windowed corr == the batch plan on the
    same data (complete mode drains all windows)."""
    import numpy as np
    from metrics_advisor_spark.operators.xcorr import bucket_correlation
    from metrics_advisor_spark.streaming.pipeline import streaming_xcorr

    rng = np.random.default_rng(31)
    base = rng.normal(0, 1, 80)
    src = str(tmp_path / "xc_sig")
    _write_batch(
        spark, src,
        {("obj_m", "s"): base, ("cand_m", "s"): np.roll(base, 1)},
    )
    out = str(tmp_path / "xc_out")

    def drain():
        # stream-stream joins only run in append mode; windows emit once
        # the watermark passes them
        q = (
            streaming_xcorr(
                stream_signals(spark, src), ("obj_m",),
                lag_max=2, step_seconds=15, bucket_seconds=600,
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "ck_xc"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    # push the watermark past every real window with far-future sentinels
    # on BOTH sides (global watermark is the min across inputs)
    _write_batch(
        spark, src,
        {("obj_m", "zz"): np.ones(1), ("cand_m", "zz"): np.ones(1)},
        t0=T0 + 86400,
    )
    drain()
    got = {
        (int(r["bucket"]["start"].timestamp()), r["cand_metric"], r["lag"]):
            (round(r["corr"], 9), r["n_pairs"])
        for r in spark.read.parquet(out).collect()
        if int(r["bucket"]["start"].timestamp()) < T0 + 80 * 15
    }
    assert got, "expected streaming correlations"

    # batch equivalent: clock-aligned windows == tmin=0 buckets of 600 s
    batch_df = spark.read.parquet(src)
    obj = batch_df.filter("metric = 'obj_m'")
    cand = batch_df.filter("metric = 'cand_m'")
    want = {
        (int(r["bucket_id"]) * 600, r["cand_metric"], r["lag"]):
            (round(r["corr"], 9), r["n_pairs"])
        for r in bucket_correlation(
            obj, cand, tmin=0, bucket_seconds=600, lag_max=2,
            step_seconds=15, same_bucket=False, min_pairs=1,
        ).collect()
    }
    assert got == want


def test_streaming_flagship_two_jobs(spark, tmp_path):
    """Composed streaming pipeline: detection job -> membership snapshot
    -> gated correlation job finds the planted correlated candidate in
    the co-anomalous bucket."""
    import numpy as np
    from metrics_advisor_spark.streaming.pipeline import streaming_flagship

    rng = np.random.default_rng(41)
    n = 120
    # step change at sample 60 for both objective and candidate (lag 0)
    obj = np.concatenate([np.full(60, 1.0), np.full(60, 9.0)])
    cand = np.concatenate([np.full(60, 3.0), np.full(60, 30.0)])
    src = str(tmp_path / "fs_sig")
    _write_batch(
        spark, src,
        {
            ("obj_m", "s"): obj + rng.normal(0, 0.05, n),
            ("cand_m", "s"): cand + rng.normal(0, 0.05, n),
            ("noise_m", "s"): rng.normal(5, 0.1, n),
        },
    )
    # sentinels push the correlation job's watermark past the real data
    _write_batch(
        spark, src,
        {("obj_m", "zz"): np.ones(1), ("cand_m", "zz"): np.ones(1)},
        t0=T0 + 86400,
    )
    gated = streaming_flagship(
        spark, src, str(tmp_path / "work"),
        obj_metrics=("obj_m",), cp_permutations=30,
    ).collect()
    assert gated, "expected gated correlations"
    pairs = {(r["obj_metric"], r["cand_metric"]) for r in gated}
    assert ("obj_m", "cand_m") in pairs
    # (noise_m may or may not appear: E-Divisive at p=0.05 with 30
    # permutations has legitimate false positives; the gate's job is
    # membership routing, which the planted pair proves)
    best = max(gated, key=lambda r: abs(r["corr"] or 0))
    assert best["cand_metric"] == "cand_m"
    assert best["lag"] == 0
    assert abs(best["corr"]) > 0.9


def test_streaming_link_frontier(spark, tmp_path):
    # 20th surface: link extraction per micro-batch, stream-static
    # anti-join against already-fetched, first-discovery-wins dedup
    # ACROSS batches (stateful dropDuplicates on the canonical key)
    from metrics_advisor_spark.streaming.pipeline import (
        run_to_memory,
        streaming_link_frontier,
    )

    def page(doc_id, *hrefs):
        html = "".join(f'<a href="{h}">x</a>' for h in hrefs)
        return (doc_id, f"https://example.org/p{doc_id}.html", html)

    src = tmp_path / "pages"
    src.mkdir()
    schema = "doc_id long, url string, html string"
    # batch 1: pages 1-2; batch 2: page 3 re-discovers /b and /known
    spark.createDataFrame(
        [page(1, "/a", "/b"), page(2, "/b?x=2&y=1", "/known")],
        schema,
    ).coalesce(1).write.parquet(str(src / "f1"))
    spark.createDataFrame(
        [page(3, "/b", "/known", "/c")], schema,
    ).coalesce(1).write.parquet(str(src / "f2"))

    known = spark.createDataFrame(
        [("https://example.org/known",)], "known string"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q = run_to_memory(
        streaming_link_frontier(stream, known_df=known),
        "frontier_t",
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    rows = spark.sql("select * from frontier_t").collect()
    got = sorted(r["canonical"] for r in rows)
    # /known filtered by the static anti-join in EVERY batch; /b kept
    # once (whichever discovery won); query normalization applies
    assert got == [
        "https://example.org/a",
        "https://example.org/b",
        "https://example.org/b?x=2&y=1",
        "https://example.org/c",
    ]
    assert len({r["canonical"] for r in rows}) == len(rows)


def test_watermarked_dedup_state_eviction(spark, tmp_path):
    # ADVICE r13: dropDuplicates(keys) NEVER evicts state when the
    # event-time column is not among the keys — both watermarked dedup
    # surfaces must use dropDuplicatesWithinWatermark.  This drives
    # the watermark branch of both and checks (a) in-horizon
    # duplicates are suppressed across batches, (b) the compiled plan
    # actually carries the WithinWatermark operator (the state-bound
    # form), not plain streaming dedup.
    from metrics_advisor_spark.streaming.pipeline import (
        run_to_memory,
        streaming_exact_dedup,
        streaming_link_frontier,
    )
    import datetime as dt

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)

    src = tmp_path / "wdocs"
    src.mkdir()
    schema = "doc_id long, ts timestamp, text string"
    spark.createDataFrame(
        [(1, t0, "alpha"), (2, t0, "beta")], schema,
    ).coalesce(1).write.parquet(str(src / "f1"))
    spark.createDataFrame(
        [(3, t0 + dt.timedelta(minutes=5), "alpha"),
         (4, t0 + dt.timedelta(minutes=5), "gamma")], schema,
    ).coalesce(1).write.parquet(str(src / "f2"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    deduped = streaming_exact_dedup(
        stream, watermark_col="ts", watermark="1 hour"
    )
    assert "WithinWatermark" in deduped._jdf.queryExecution().toString()
    q = run_to_memory(
        deduped, "wm_dedup", checkpoint=str(tmp_path / "ck1")
    )
    q.awaitTermination()
    texts = sorted(
        r["text"] for r in spark.table("wm_dedup").collect()
    )
    assert texts == ["alpha", "beta", "gamma"]

    # link frontier: ts threads through; in-horizon re-discovery of
    # /b in batch 2 is suppressed
    psrc = tmp_path / "wpages"
    psrc.mkdir()
    pschema = "doc_id long, url string, html string, ts timestamp"

    def page(doc_id, ts, *hrefs):
        html = "".join(f'<a href="{h}">x</a>' for h in hrefs)
        return (doc_id, f"https://example.org/p{doc_id}.html", html, ts)

    spark.createDataFrame(
        [page(1, t0, "/a", "/b")], pschema,
    ).coalesce(1).write.parquet(str(psrc / "f1"))
    spark.createDataFrame(
        [page(2, t0 + dt.timedelta(minutes=5), "/b", "/c")], pschema,
    ).coalesce(1).write.parquet(str(psrc / "f2"))

    pstream = (
        spark.readStream.schema(pschema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(psrc) + "/*")
    )
    frontier = streaming_link_frontier(
        pstream, ts_col="ts", watermark="1 hour"
    )
    assert "WithinWatermark" in frontier._jdf.queryExecution().toString()
    q2 = run_to_memory(
        frontier, "wm_frontier", checkpoint=str(tmp_path / "ck2")
    )
    q2.awaitTermination()
    got = sorted(
        r["canonical"] for r in spark.table("wm_frontier").collect()
    )
    assert got == [
        "https://example.org/a",
        "https://example.org/b",
        "https://example.org/c",
    ]
