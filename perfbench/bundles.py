"""Seeded metric bundles in the reference's tar dialect, with ground truth.

A bundle is a tar.gz of wide CSVs (``timestamp,<series...>``, one file per
metric, ``:`` in metric names) split over ``reshape/`` and ``reshaped/``
with a ``meta.yaml`` sidecar, exactly the shape the CLI ingests.  Next to
each series the generator keeps what it planted (level shifts, isolated
spikes, lagged copies of objective series, short files, near-constant
series, NaN gaps); the checks compare the program's output to that.
The program under test sees only the tar.
"""

from __future__ import annotations

import io
import json
import os
import tarfile
from dataclasses import dataclass, field

import numpy as np

T0 = 1640588307  # first sample of the reference's full-index-lookup bundle
STEP = 15
ROWS = 480
BUCKET = 40  # samples per 10-minute bucket
SHORT_FILES = 2  # files of <= 20 rows (dropped by validity)
FLAT_SERIES = 3  # near-constant series (range <= 0.005)
TRIMMED_FILES = 2  # files 1-3 rows shorter than the rest
GAP_METRIC = "tidb_slow_query_dur:total"  # objective of the gap probe
GAP_BUCKET = 5
GAP_LAG = 4
GAP_SEED = 2022


@dataclass(frozen=True)
class BundleSpec:
    """Make-up of one bundle and the analysis settings it is run with."""

    name: str
    objectives: tuple[tuple[str, int], ...]  # (metric, series count)
    cand_metrics: int
    series_per_metric: tuple[int, int]  # inclusive range
    shift_series: int  # candidate series with one planted level shift
    spike_series: int  # candidate series with one planted isolated spike
    seasonal_series: int  # candidate series with a slow sine (many CPs)
    spikes_per_bucket: bool  # every series gets one spike in each bucket
    permutations: int
    lag_max: int
    cp_only: bool
    gap_probe: bool  # add the fixed gap probe (see _gap_probe)


SPECS = {
    "bundle_reference": BundleSpec(
        name="bundle_reference",
        objectives=(
            ("tidb_p99_rt:total", 1),
            ("tidb_p99_get_token_dur", 1),
            ("tidb_heap_size:by_instance", 3),
        ),
        cand_metrics=10,
        series_per_metric=(1, 3),
        shift_series=5,
        spike_series=4,
        seasonal_series=2,
        spikes_per_bucket=False,
        permutations=100,
        lag_max=3,
        cp_only=True,
        gap_probe=False,
    ),
    "bundle_fleet": BundleSpec(
        name="bundle_fleet",
        objectives=(
            ("tidb_p99_rt:by_instance", 3),
            ("tidb_p999_rt:by_instance", 3),
            ("tidb_qps:by_instance", 3),
        ),
        cand_metrics=7,
        series_per_metric=(6, 6),
        shift_series=0,
        spike_series=0,
        seasonal_series=0,
        spikes_per_bucket=True,
        permutations=20,
        lag_max=10,
        cp_only=False,
        gap_probe=True,
    ),
}


@dataclass
class Series:
    metric: str
    name: str
    values: np.ndarray  # what was written, NaN where the cell is empty
    shifts: list[int] = field(default_factory=list)
    spikes: list[int] = field(default_factory=list)
    copy_of: tuple[str, str] | None = None
    lag: int = 0
    short: bool = False
    flat: bool = False


@dataclass
class Bundle:
    spec: BundleSpec
    t0: int
    series: list[Series]

    @property
    def objective_metrics(self) -> tuple[str, ...]:
        probe = (GAP_METRIC,) if self.spec.gap_probe else ()
        return tuple(m for m, _ in self.spec.objectives) + probe

    @property
    def gap_key(self) -> tuple[int, tuple[str, str]] | None:
        """(bucket, objective series) of the gap probe, if there is one."""
        return (GAP_BUCKET, (GAP_METRIC, "agg_val")) if self.spec.gap_probe else None

    def files(self) -> dict[str, list[Series]]:
        """metric -> its series, i.e. the columns of one CSV."""
        return _by_metric(self.series)


def _series_names(rng: np.random.Generator, metric: str, n: int) -> list[str]:
    if n == 1 and not metric.endswith("by_instance"):
        return ["agg_val"]
    if metric.endswith("by_device"):
        return [f"vd{chr(97 + i)}:172.17.16.{11 + i % 3}:9100" for i in range(n)]
    return [f"172.17.16.{11 + i}:{rng.choice([10080, 20180, 9100])}"
            for i in range(n)]


def _spike_positions(rng: np.random.Generator, n_rows: int, margin: int) -> list[int]:
    """One spike per bucket, far enough from the bucket edges that a copy
    shifted by up to ``margin`` samples keeps it in the same bucket."""
    return [b * BUCKET + int(rng.integers(margin + 2, BUCKET - margin - 2))
            for b in range(n_rows // BUCKET)]


def _lagged(values: np.ndarray, k: int) -> np.ndarray:
    """copy[t] = values[t - k]: positive k means the copy lags."""
    return values[np.clip(np.arange(ROWS) - k, 0, ROWS - 1)]


def _gap_probe(lag_max: int) -> list[Series]:
    """An objective series with a NaN gap inside bucket GAP_BUCKET, and its
    lagged copy; the same for every seed.

    The engine's ``bucket_correlation`` divides the covariance of complete
    pairs by standard deviations taken over each side's own present
    values, so its correlations with this objective in that bucket are
    not Pearson's (see the FOUND line on it in CHANGES.md).  The inputs do
    not depend on the seed, so the check of that one (bucket, objective)
    ranking fails in every run until the engine is fixed, and the run
    counts it as one failed operation.  The gap sits in the objective, not
    in a candidate, so no other objective's ranking is touched.
    """
    fixed = np.random.default_rng(GAP_SEED)
    obj = Series(GAP_METRIC, "agg_val", 100.0 + fixed.normal(0.0, 1.0, ROWS))
    obj.spikes = _spike_positions(fixed, ROWS, lag_max)
    for p in obj.spikes:
        obj.values[p] += 12.0 * fixed.choice([-1.0, 1.0])
    copy = Series("tikv_follower_gap:by_instance", "agg_val",
                  _lagged(obj.values, GAP_LAG) + fixed.normal(0.0, 0.05, ROWS),
                  copy_of=(obj.metric, obj.name), lag=GAP_LAG)
    copy.spikes = [p + GAP_LAG for p in obj.spikes]
    # nine samples of noise, clear of the bucket's spike
    lo = GAP_BUCKET * BUCKET
    at = lo + (2 if obj.spikes[GAP_BUCKET] - lo >= BUCKET // 2 else BUCKET - 11)
    obj.values[at: at + 9] = np.nan
    return [obj, copy]


def generate(workload: str, seed: int) -> Bundle:
    """Deterministic bundle for (workload, seed)."""
    spec = SPECS[workload]
    # The layout (names, series kinds, noise floors) is fixed per workload,
    # so every seed sends the same kinds of series to the same Spark tasks
    # and asks E-Divisive for about the same work: its spurious change
    # points on median-filtered noise, and so its cost, vary a lot with the
    # noise draw.  The seed sets the time origin, every planted event
    # (positions, signs, lags) and the hazards.
    layout = np.random.default_rng(sum(map(ord, workload)))
    rng = np.random.default_rng([seed, sum(map(ord, workload))])
    t0 = T0 + STEP * int(rng.integers(0, 1000))
    n_buckets = ROWS // BUCKET
    series: list[Series] = []

    def noise(scale: float = 1.0) -> np.ndarray:
        return layout.normal(0.0, scale, ROWS)

    # objectives: in the reference bundle each objective series has one
    # level shift mid-bucket (its only bucket membership under cp_only);
    # in the fleet bundle each has a spike in every bucket.
    obj_buckets = rng.permutation(np.arange(1, n_buckets - 1))
    objectives: list[Series] = []
    for metric, n in spec.objectives:
        for name in _series_names(layout, metric, n):
            base = 100.0 + noise()
            s = Series(metric, name, base)
            if spec.spikes_per_bucket:
                s.spikes = _spike_positions(rng, ROWS, spec.lag_max)
                for p in s.spikes:
                    base[p] += 12.0 * rng.choice([-1.0, 1.0])
            else:
                b = int(obj_buckets[len(objectives) % obj_buckets.size])
                at = b * BUCKET + int(rng.integers(14, 26))
                base[at:] += 8.0 * rng.choice([-1.0, 1.0])
                s.shifts = [at]
            objectives.append(s)
    series.extend(objectives)

    # candidate metrics
    kinds = (["shift"] * spec.shift_series + ["spike"] * spec.spike_series
             + ["seasonal"] * spec.seasonal_series)
    names: list[tuple[str, str]] = []
    families = ["tikv_grpc_msg_dur", "tikv_scheduler_cmd_dur", "node_cpu_usage",
                "node_disk_write_bw", "tidb_txn_dur", "pd_region_cnt",
                "tikv_raftstore_apply_dur", "tidb_cop_dur"]
    suffixes = ["by_instance", "total", "by_instance:by_device", "by_type"]
    for i in range(spec.cand_metrics):
        metric = f"{families[i % len(families)]}_{i}:{suffixes[i % len(suffixes)]}"
        lo, hi = spec.series_per_metric
        n = int(layout.integers(lo, hi + 1))
        names.extend((metric, s) for s in _series_names(layout, metric, n))
    kinds += ["noise"] * max(0, len(names) - len(kinds))
    kinds = list(layout.permutation(kinds[: len(names)]))
    # shift positions keep clear of the objectives' shifts, so only the
    # planted copy lines up with an objective's step
    taken = [a for o in objectives for a in o.shifts]
    for (metric, name), kind in zip(names, kinds):
        s = Series(metric, name, 50.0 + noise(2.0))
        if spec.spikes_per_bucket:
            s.spikes = _spike_positions(rng, ROWS, spec.lag_max)
            for p in s.spikes:
                s.values[p] += 24.0 * rng.choice([-1.0, 1.0])
        if kind == "shift":
            while True:
                at = int(rng.integers(BUCKET, ROWS - BUCKET))
                if all(abs(at - t) > 2 * spec.lag_max + 8 for t in taken):
                    break
            s.values[at:] += 16.0 * rng.choice([-1.0, 1.0])
            s.shifts = [at]
        elif kind == "spike":
            s.spikes = [int(rng.integers(BUCKET, ROWS - BUCKET))]
            s.values[s.spikes[0]] += 24.0 * rng.choice([-1.0, 1.0])
        elif kind == "seasonal":
            period = float(layout.integers(80, 200))
            s.values += 6.0 * np.sin(2 * np.pi * np.arange(ROWS) / period)
        series.append(s)

    # one lagged copy per objective series, in a metric of its own
    for i, o in enumerate(objectives):
        k = int(rng.integers(-spec.lag_max, spec.lag_max + 1))
        vals = _lagged(o.values, k) + noise(0.05)
        c = Series(f"tikv_follower_{i}:by_instance", o.name, vals,
                   copy_of=(o.metric, o.name), lag=k)
        c.shifts = [a + k for a in o.shifts]
        c.spikes = [p + k for p in o.spikes]
        series.append(c)

    # hazards: near-constant series, each with a NaN gap
    plain = [s for s in series[len(objectives):]
             if not (s.shifts or s.copy_of) and len(s.spikes) != 1]
    for s in plain[: FLAT_SERIES]:
        s.values = 7.0 + rng.uniform(0.0, 0.004, ROWS)
        gap = int(rng.integers(0, ROWS - 12))
        s.values[gap: gap + int(rng.integers(2, 10))] = np.nan
        s.flat, s.spikes = True, []
    for i in range(SHORT_FILES):
        n = int(rng.integers(5, 21))
        metric = f"tikv_snapshot_{i}:by_instance"
        for name in _series_names(layout, metric, int(layout.integers(1, 4))):
            series.append(Series(metric, name, 10.0 + noise()[:n], short=True))
    # whole files 1-3 rows shorter than the rest (reference misalignment)
    trimmable = [m for m, ss in _by_metric(series).items()
                 if not any(x.short or x.copy_of or x.shifts or x.spikes
                            or x.metric in dict(spec.objectives) for x in ss)]
    for metric in trimmable[: TRIMMED_FILES]:
        cut = int(rng.integers(1, 4))
        for s in series:
            if s.metric == metric:
                s.values = s.values[: ROWS - cut]
    if spec.gap_probe:
        series += _gap_probe(spec.lag_max)
    for s in series:
        s.values = np.round(s.values, 4)
    return Bundle(spec, t0, series)


def _by_metric(series: list[Series]) -> dict[str, list[Series]]:
    out: dict[str, list[Series]] = {}
    for s in series:
        out.setdefault(s.metric, []).append(s)
    return out


def _csv_bytes(bundle: Bundle, group: list[Series]) -> bytes:
    n = max(s.values.size for s in group)
    ts = bundle.t0 + STEP * np.arange(n, dtype=np.int64)
    buf = io.StringIO()
    buf.write(",".join(["timestamp"] + [s.name for s in group]) + "\n")
    for i in range(n):
        cells = [str(int(ts[i]))]
        for s in group:
            v = s.values[i] if i < s.values.size else np.nan
            cells.append("" if np.isnan(v) else repr(float(v)))
        buf.write(",".join(cells) + "\n")
    return buf.getvalue().encode()


def write_tar(bundle: Bundle, path: str) -> None:
    """Write the bundle as ``<name>.tar.gz`` in the reference layout."""
    root = os.path.basename(path).split(".")[0]
    meta = (f"tikv_instance_cnt: 3\nbegin_timestamp: {bundle.t0}\n"
            f"end_timestamp: {bundle.t0 + STEP * (ROWS - 1)}\n").encode()
    with tarfile.open(path, "w:gz") as tf:
        for i, (metric, group) in enumerate(sorted(bundle.files().items())):
            sub = "reshape" if i % 2 else "reshaped"
            _add(tf, f"{root}/{sub}/{metric}.csv", _csv_bytes(bundle, group))
        _add(tf, f"{root}/reshaped/meta.yaml", meta)


def _add(tf: tarfile.TarFile, name: str, data: bytes) -> None:
    info = tarfile.TarInfo(name)
    info.size = len(data)
    info.mtime = T0
    tf.addfile(info, io.BytesIO(data))


def write_manifest(bundle: Bundle, path: str) -> None:
    """Write the ground truth the checks use as plain JSON."""
    truth = {
        "workload": bundle.spec.name,
        "t0": bundle.t0,
        "series": [
            {"metric": s.metric, "series": s.name, "rows": int(s.values.size),
             "nan": int(np.isnan(s.values).sum()), "shifts": s.shifts,
             "spikes": s.spikes, "copy_of": s.copy_of, "lag": s.lag,
             "short": s.short, "flat": s.flat}
            for s in bundle.series
        ],
    }
    with open(path, "w") as f:
        json.dump(truth, f, indent=1)
