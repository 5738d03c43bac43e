"""Engine configuration.

Everything the reference hard-codes (SURVEY.md §2.9 Q7) is a parameter here:
objective metric list (/root/reference/metrics_advisor.py:142), bucket
geometry (:123-124), thresholds (:43,:146), detection knobs (:148,:150) and
the correlation lag budget (:192).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class AdvisorConfig:
    # --- objective routing (F4; reference metrics_advisor.py:142) ---
    obj_signals: tuple[str, ...] = (
        "tidb_p99_rt:total",
        "tidb_p99_get_token_dur",
        "tidb_heap_size:by_instance",
    )

    # --- bucket geometry (T2; reference :123-124) ---
    sample_time_step: int = 15  # seconds between samples
    count_bucket: int = 40      # samples per bucket → 40*15 s = 10 min

    # --- ingest validity (S3; reference :43) ---
    min_rows: int = 20  # a file/series needs MORE than this many rows

    # --- near-constant gate (F2/F3; reference :146,185) ---
    min_range: float = 0.005  # keep only series with max-min > min_range

    # --- detection knobs (P6/P7; reference :148,150) ---
    median_window: int = 5          # rolling-median width (P1)
    # P3 filter family: 'fft' (vectorized brick-wall, bench path) or
    # 'butterworth' (the reference's own family — zero-phase order-n
    # Butterworth, pure numpy since scipy is absent; coefficients
    # validated against published values in tests/test_detect.py)
    lowpass_mode: str = "fft"
    # filter order (P3) — reference f_lowpass_filter(n=3); applies in
    # 'butterworth' mode (the FFT brick-wall has no order knob)
    lowpass_order: int = 3
    lowpass_fmin: float = 0.01 / 15  # cutoff frequency, Hz (P3)
    sigma_level: float = 3.0        # k-sigma outlier threshold (P5)
    cp_pvalue: float = 0.05         # E-Divisive significance (P7)
    cp_permutations: int = 100      # E-Divisive permutation count (P7)

    # --- correlation (P8; reference :192) ---
    lag_max: int = 3

    # --- ranking (K2/K3; reference :209, templates/report.tpl:26) ---
    top_k_report: int = 3

    # --- parity flags (SURVEY.md §2.9) ---
    # positional=True reproduces the reference's positional window slicing
    # (Q3, metrics_advisor.py:186-187); False aligns on timestamps.
    positional_windows: bool = False
    # cp_only=True reproduces Q1 (only change points populate anomaly
    # timestamps, metrics_advisor.py:155); False also buckets outliers.
    cp_only_anomaly_ts: bool = True

    @property
    def bucket_seconds(self) -> int:
        return self.sample_time_step * self.count_bucket
