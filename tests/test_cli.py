"""CLI surface: reference-compatible -i/-o invocation end-to-end."""

from __future__ import annotations

import io
import os
import re
import subprocess
import sys
import tarfile

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUNDLE = "/root/reference/metrics/full-index-lookup.tar.gz"


def test_cli_end_to_end(tmp_path):
    out_dir = str(tmp_path / "reports")
    proc = subprocess.run(
        [
            sys.executable, "-m", "metrics_advisor_spark.cli",
            "-i", BUNDLE, "-o", out_dir,
            "--permutations", "20",  # keep the E-Divisive stage quick
        ],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    report = os.path.join(out_dir, "report_full-index-lookup.md")
    assert proc.stdout.strip().endswith("report_full-index-lookup.md")
    with open(report) as f:
        md = f.read()
    assert "# Metrics Advisor Report" in md
    assert "Time slice" in md


def test_cli_help_mentions_reference_flags():
    proc = subprocess.run(
        [sys.executable, "-m", "metrics_advisor_spark.cli", "--help"],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert proc.returncode == 0
    for flag in ("-i", "-o", "--objectives", "--lag-max"):
        assert flag in proc.stdout


def test_cli_prom_source(tmp_path):
    out_dir = str(tmp_path / "prom_reports")
    proc = subprocess.run(
        [
            sys.executable, "-m", "metrics_advisor_spark.cli",
            "-i", BUNDLE, "-o", out_dir,
            "--source", "prom", "--permutations", "30",
        ],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    report = os.path.join(out_dir, "report_full-index-lookup.md")
    assert os.path.exists(report)
    assert "# Metrics Advisor Report" in open(report).read()


def _add(tf: tarfile.TarFile, name: str, data: bytes) -> None:
    info = tarfile.TarInfo(name)
    info.size = len(data)
    tf.addfile(info, io.BytesIO(data))


def _wide_csv(ts: np.ndarray, cols: dict[str, np.ndarray]) -> bytes:
    lines = ["timestamp," + ",".join(cols)]
    for i, t in enumerate(ts):
        lines.append(
            f"{int(t)}," + ",".join(f"{v[i]:.6f}" for v in cols.values())
        )
    return ("\n".join(lines) + "\n").encode()


def test_cli_synthetic_bundle(tmp_path):
    """The reference dialect end to end on a bundle built here: wide
    ``timestamp,<series…>`` CSVs at 15 s, an objective file whose name
    carries a ``:`` (escaped to ``%3A`` on extraction) with one level
    shift, a candidate that copies it two samples later, one noise
    series and a ``meta.yaml`` sidecar.  The report must rank the copy
    first for the objective, at lag 2."""
    rng = np.random.default_rng(7)
    rows, t0, lag = 120, 1_700_000_000, 2
    ts = t0 + 15 * np.arange(rows)
    obj = np.where(np.arange(rows) < 60, 1.0, 3.0) + rng.normal(0, 0.1, rows)
    copy = np.concatenate([np.full(lag, obj[0]), obj[:-lag]])
    copy = copy + rng.normal(0, 0.01, rows)
    noise = rng.normal(5.0, 0.5, rows)
    tar = tmp_path / "synthetic.tar.gz"
    with tarfile.open(tar, "w:gz") as tf:
        root = "synthetic/reshaped"
        _add(tf, f"{root}/tidb_p99_rt:total.csv",
             _wide_csv(ts, {"agg_val": obj}))
        _add(tf, f"{root}/tidb_copy_rt.csv",
             _wide_csv(ts, {"agg_val": copy}))
        _add(tf, f"{root}/node_noise.csv",
             _wide_csv(ts, {"inst0": noise}))
        _add(tf, f"{root}/meta.yaml",
             f"begin_timestamp: {t0}\nend_timestamp: {ts[-1]}\n".encode())
    out_dir = tmp_path / "reports"
    proc = subprocess.run(
        [
            sys.executable, "-m", "metrics_advisor_spark.cli",
            "-i", str(tar), "-o", str(out_dir), "--permutations", "20",
        ],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    report = out_dir / "report_synthetic.md"
    assert proc.stdout.strip().endswith(str(report))
    md = report.read_text()
    assert "**tidb_p99_rt:total/agg_val**" in md, md
    first = re.findall(r"^\s+1\. `(.+?)` \(lag=(-?\d+), corr=", md, re.M)
    assert first, md
    assert all(f == ("tidb_copy_rt/agg_val", str(lag)) for f in first), md
