"""Raw Prometheus JSON ingest vs the reshaped-CSV path on the same bundle."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from metrics_advisor_spark.sources import ingest_tar
from metrics_advisor_spark.sources.prom_json import ingest_prom_tar

BUNDLE = "/root/reference/metrics/full-index-lookup.tar.gz"


@pytest.fixture(scope="module")
def prom_signals(spark):
    sig = ingest_prom_tar(spark, BUNDLE).cache()
    yield sig
    sig.unpersist()


def test_nan_sample_reads_as_null(spark, tmp_path):
    """A "NaN" sample is missing, as in the CSV path: it reads as null, so
    a constant series with one NaN sample is dropped by the range gate."""
    from metrics_advisor_spark.operators.validity import range_filter
    from metrics_advisor_spark.sources.prom_json import read_prometheus_json

    t0 = 1640588307
    values = [[t0 + 15 * i, "NaN" if i == 7 else "3"] for i in range(40)]
    doc = {"status": "success", "data": {"resultType": "matrix", "result": [
        {"metric": {"instance": "db-1"}, "values": values},
    ]}}
    (tmp_path / "const_metric.json").write_text(json.dumps(doc))
    sig = read_prometheus_json(spark, str(tmp_path))
    rows = sig.orderBy("ts").collect()
    assert len(rows) == 40
    assert rows[7]["value"] is None
    assert {r["value"] for r in rows} == {3.0, None}
    assert range_filter(sig, 0.005).count() == 0


def test_prom_ingest_shape(prom_signals):
    metrics = {r["metric"] for r in prom_signals.select("metric").distinct().collect()}
    assert len(metrics) >= 40
    assert "node_disk_read_ops:by_instance:by_device" in metrics
    row = prom_signals.agg(
        F.min(F.unix_timestamp("ts")).alias("tmin"),
        F.max(F.unix_timestamp("ts")).alias("tmax"),
    ).first()
    assert row["tmin"] == 1640588307  # same extent as the reshaped CSVs


def test_prom_series_keys_match_csv_headers(spark, prom_signals):
    """The reshaper's CSV headers are the label values ':'-joined — both
    ingest paths must yield the same series set for a multi-label metric."""
    metric = "node_disk_read_ops:by_instance:by_device"
    csv_sig = ingest_tar(spark, BUNDLE)
    csv_series = {
        r["series"]
        for r in csv_sig.filter(F.col("metric") == metric)
        .select("series").distinct().collect()
    }
    prom_series = {
        r["series"]
        for r in prom_signals.filter(F.col("metric") == metric)
        .select("series").distinct().collect()
    }
    assert prom_series == csv_series


def test_prom_values_match_csv_values(spark, prom_signals):
    """Sample values agree between the raw JSON and the reshaped CSV."""
    metric = "tidb_conn_cnt:by_instance"
    csv_rows = {
        (r["series"], int(r["ts"].timestamp())): r["value"]
        for r in ingest_tar(spark, BUNDLE)
        .filter(F.col("metric") == metric).collect()
    }
    prom_rows = {
        (r["series"], int(r["ts"].timestamp())): r["value"]
        for r in prom_signals.filter(F.col("metric") == metric).collect()
    }
    shared = set(csv_rows) & set(prom_rows)
    assert len(shared) > 400
    for k in shared:
        assert csv_rows[k] == pytest.approx(prom_rows[k], rel=1e-9)


def test_heatmap_ingest(spark):
    """Heatmap sidecars melt into canonical signals: 4 measures × 28 key
    ranges × 90 time slots on full-index-lookup."""
    from metrics_advisor_spark.sources.heatmap import ingest_heatmap_tar

    sig = ingest_heatmap_tar(spark, BUNDLE).cache()
    metrics = {r["metric"] for r in sig.select("metric").distinct().collect()}
    assert metrics == {
        "heatmap_read_bytes", "heatmap_read_keys",
        "heatmap_written_bytes", "heatmap_written_keys",
    }
    counts = {
        r["metric"]: r["count"]
        for r in sig.groupBy("metric").count().collect()
    }
    assert counts["heatmap_read_bytes"] == 90 * 28
    n_series = (
        sig.filter("metric = 'heatmap_read_bytes'")
        .select("series").distinct().count()
    )
    assert n_series == 28
    # and the standard pipeline runs on it: hotspot ranges are detectable
    from metrics_advisor_spark.operators.validity import range_filter

    active = range_filter(sig, 0.005)
    assert 0 < active.select("metric", "series").distinct().count() <= 4 * 28
    sig.unpersist()
