"""Output checks made apart from the program under test.

Bundle checks compare what the program reported with what the generator
planted, recomputing every correlation in numpy from the generator's own
arrays.  Each check returns a list of problems; an empty list passes.

Correlation window rules (the engine's documented default, Q3 fix):
objective and candidate samples are aligned by timestamp; a lag-``L``
pair joins the objective sample at ``t`` with the candidate sample at
``t + L*step``, and both must lie in the same 10-minute bucket, anchored
at the bundle's first timestamp.  The correlation is Pearson's over the
pairs where both values are present.  Per candidate the reported lag
maximises |corr| (smallest lag on ties); candidates are ranked by |corr|.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import numpy as np

from bundles import BUCKET, ROWS, STEP, Bundle

CP_TOLERANCE = 3  # samples
CORR_TOLERANCE = 6e-5  # the report prints 4 decimals
TIE = 1e-9


@dataclass(frozen=True)
class Ranked:
    bucket: int
    obj: tuple[str, str]
    rank: int
    cand: tuple[str, str]
    lag: int
    corr: float


_SLICE = re.compile(r"^### Time slice (\d+) ")
_OBJ = re.compile(r"^- \*\*(.+?)\*\* — top correlated candidates:")
_CAND = re.compile(r"^\s+(\d+)\. `(.+?)` \(lag=(-?\d+), corr=(-?[\d.]+|nan)\)")


def _split(name: str) -> tuple[str, str]:
    metric, _, series = name.partition("/")
    return metric, series


def parse_report(text: str) -> list[Ranked]:
    rows: list[Ranked] = []
    bucket, obj = None, None
    for line in text.splitlines():
        if m := _SLICE.match(line):
            bucket = int(m.group(1))
        elif m := _OBJ.match(line):
            obj = _split(m.group(1))
        elif m := _CAND.match(line):
            rows.append(Ranked(bucket, obj, int(m.group(1)), _split(m.group(2)),
                               int(m.group(3)), float(m.group(4))))
    return rows


def _grid(bundle: Bundle) -> dict[tuple[str, str], np.ndarray]:
    """Each series on the global sample grid, NaN where no value."""
    out = {}
    for s in bundle.series:
        g = np.full(ROWS, np.nan)
        g[: s.values.size] = s.values
        out[(s.metric, s.name)] = g
    return out


def correlations(obj: np.ndarray, cands: np.ndarray, bucket: int,
                 lag: int) -> np.ndarray:
    """Pearson of one objective window against each candidate row at
    ``lag``, pairs restricted to ``bucket``; NaN where undefined."""
    lo, hi = bucket * BUCKET, min((bucket + 1) * BUCKET, ROWS)
    t = np.arange(max(lo, lo - lag), min(hi, hi - lag))
    if t.size < 2:
        return np.full(cands.shape[0], np.nan)
    o = np.broadcast_to(obj[t], (cands.shape[0], t.size))
    c = cands[:, t + lag]
    mask = ~(np.isnan(o) | np.isnan(c))
    n = mask.sum(axis=1)
    with np.errstate(invalid="ignore", divide="ignore"):
        o = np.where(mask, o, 0.0)
        c = np.where(mask, c, 0.0)
        om = o.sum(1) / n
        cm = c.sum(1) / n
        od = np.where(mask, o - om[:, None], 0.0)
        cd = np.where(mask, c - cm[:, None], 0.0)
        r = (od * cd).sum(1) / np.sqrt((od * od).sum(1) * (cd * cd).sum(1))
    r[(n < 2) | ~np.isfinite(r)] = np.nan
    return r


def best_lags(obj: np.ndarray, cands: np.ndarray, bucket: int,
              lag_max: int) -> tuple[np.ndarray, np.ndarray]:
    """Per candidate: (corr, lag) maximising |corr|, smallest lag on ties."""
    lags = np.arange(-lag_max, lag_max + 1)
    table = np.stack([correlations(obj, cands, bucket, int(k)) for k in lags])
    mag = np.where(np.isnan(table), -1.0, np.abs(table))
    best = mag.max(axis=0)
    first = np.argmax(mag >= best - TIE, axis=0)  # ascending lag order
    cols = np.arange(cands.shape[0])
    return table[first, cols], lags[first]


def membership(bundle: Bundle, anomalies: list[tuple], cp_only: bool
               ) -> dict[int, tuple[set, set]]:
    """bucket -> (objective series, candidate series) from the reported
    anomalies ``(metric, series, kind, ts_epoch_s)``."""
    objs = set(bundle.objective_metrics)
    out: dict[int, tuple[set, set]] = {}
    for metric, series, kind, ts in anomalies:
        if cp_only and kind != "changepoint":
            continue
        b = (ts - bundle.t0) // (STEP * BUCKET)
        o, c = out.setdefault(int(b), (set(), set()))
        (o if metric in objs else c).add((metric, series))
    return out


def check_ranking(bundle: Bundle, anomalies: list[tuple], report: list[Ranked],
                  *, top_k: int, lag_max: int, cp_only: bool,
                  keep=lambda key: True) -> list[str]:
    """Correlation values, best lag, rank order and completeness of every
    reported (bucket, objective) for which ``keep((bucket, objective))``
    holds, against a numpy recompute."""
    grid = _grid(bundle)
    problems: list[str] = []
    got: dict[tuple, list[Ranked]] = {}
    for r in report:
        got.setdefault((r.bucket, r.obj), []).append(r)
    expected_keys = set()
    for b, (objs, cands) in sorted(membership(bundle, anomalies, cp_only).items()):
        cands = sorted(cands)
        if not cands:
            continue
        mat = np.stack([grid[c] for c in cands])
        for o in sorted(objs):
            if not keep((b, o)):
                continue
            corr, lag = best_lags(grid[o], mat, b, lag_max)
            ok = ~np.isnan(corr)
            if not ok.any():
                continue
            expected_keys.add((b, o))
            rows = sorted(got.get((b, o), []), key=lambda r: r.rank)
            where = f"bucket {b} objective {o[0]}/{o[1]}"
            want = min(top_k, int(ok.sum()))
            if len(rows) != want:
                problems.append(f"{where}: {len(rows)} ranked rows, expected {want}")
            index = {c: i for i, c in enumerate(cands)}
            seen = []
            for r in rows:
                i = index.get(r.cand)
                if i is None or not ok[i]:
                    problems.append(f"{where}: {r.cand} is not a candidate member")
                    continue
                if r.lag != lag[i]:
                    problems.append(f"{where}: {r.cand} lag {r.lag}, "
                                    f"|corr| is largest at lag {lag[i]}")
                if abs(r.corr - corr[i]) > CORR_TOLERANCE:
                    problems.append(f"{where}: {r.cand} corr {r.corr}, "
                                    f"recomputed {corr[i]:.6f}")
                seen.append(i)
            mags = np.abs(corr[seen])
            if np.any(np.diff(mags) > TIE):
                problems.append(f"{where}: ranks not in |corr| order")
            rest = [i for i in np.flatnonzero(ok) if i not in seen]
            if seen and rest and np.abs(corr[rest]).max() > mags.min() + TIE:
                problems.append(f"{where}: a candidate with larger |corr| "
                                "is missing from the top rows")
    for key in filter(keep, set(got) - expected_keys):
        problems.append(f"bucket {key[0]} objective {key[1]}: reported but "
                        "has no candidate with a defined correlation")
    return problems


def check_planted_lags(bundle: Bundle, report: list[Ranked],
                       keep=lambda key: True) -> list[str]:
    """Every lagged copy ranks #1 for its objective, at its lag, in each
    bucket its objective has a planted event in (for which
    ``keep((bucket, objective))`` holds)."""
    first = {(r.bucket, r.obj): r for r in report if r.rank == 1}
    problems = []
    for s in bundle.series:
        if s.copy_of is None:
            continue
        events = [s.shifts, s.spikes]
        for at in (a - s.lag for ev in events for a in ev):
            b = at // BUCKET
            if not keep((b, s.copy_of)):
                continue
            r = first.get((b, s.copy_of))
            if r is None or r.cand != (s.metric, s.name) or r.lag != s.lag:
                problems.append(f"bucket {b} objective {s.copy_of}: rank 1 is "
                                f"{r and (r.cand, r.lag)}, planted "
                                f"{(s.metric, s.name)} at lag {s.lag}")
    return problems


def check_anomalies(bundle: Bundle, anomalies: list[tuple]) -> list[str]:
    """Planted shifts reported as change points within CP_TOLERANCE samples;
    planted spikes reported as outliers at their exact timestamp."""
    cps: dict[tuple, list[int]] = {}
    outs: dict[tuple, set[int]] = {}
    for metric, series, kind, ts in anomalies:
        i = (ts - bundle.t0) // STEP
        if kind == "changepoint":
            cps.setdefault((metric, series), []).append(i)
        else:
            outs.setdefault((metric, series), set()).add(i)
    problems = []
    for s in bundle.series:
        key = (s.metric, s.name)
        for at in s.shifts:
            if not any(abs(c - at) <= CP_TOLERANCE for c in cps.get(key, [])):
                problems.append(f"{key}: planted shift at sample {at} not "
                                f"reported (change points {sorted(cps.get(key, []))})")
        for at in s.spikes:
            if at not in outs.get(key, set()):
                problems.append(f"{key}: planted spike at sample {at} not "
                                "reported as an outlier")
    return problems


def check_validity(bundle: Bundle, surviving: set[tuple[str, str]]) -> list[str]:
    want = {(s.metric, s.name) for s in bundle.series if not (s.short or s.flat)}
    problems = [f"{k}: survived validity, planted short or near-constant"
                for k in sorted(surviving - want)]
    problems += [f"{k}: dropped by validity" for k in sorted(want - surviving)]
    return problems


def check_ingest(bundle: Bundle, rows: int, series: int) -> list[str]:
    cells = sum(max(s.values.size for s in g) * len(g)
                for g in bundle.files().values())
    problems = []
    if rows != cells:
        problems.append(f"ingest: {rows} signal rows, the bundle has {cells} cells")
    if series != len(bundle.series):
        problems.append(f"ingest: {series} series, the bundle has "
                        f"{len(bundle.series)} columns")
    return problems


def check_bundle(bundle: Bundle, cfg, spark, signals, result,
                 report_path: str) -> tuple[list[str], list[str]]:
    """All bundle checks on one pass's outputs (Spark handles are read
    through the engine's public functions, after the timed region).

    Returns (problems, gap-probe problems): the second list holds what
    the rank checks find in the gap probe's (bucket, objective) ranking,
    which the engine gets wrong while its NaN-gap fault stands."""
    from pyspark.sql import functions as F

    from metrics_advisor_spark.operators.validity import range_filter

    agg = signals.agg(
        F.count(F.lit(1)).alias("rows"),
        F.countDistinct("metric", "series").alias("series"),
    ).first()
    problems = check_ingest(bundle, agg["rows"], agg["series"])
    surviving = {
        (r["metric"], r["series"]) for r in
        range_filter(result.signals, cfg.min_range)
        .select("metric", "series").distinct().collect()
    }
    problems += check_validity(bundle, surviving)
    anomalies = [
        (r["metric"], r["series"], r["kind"], int(r["t"])) for r in
        result.anomalies.select(
            "metric", "series", "kind", F.unix_timestamp("ts").alias("t")
        ).collect()
    ]
    problems += check_anomalies(bundle, anomalies)
    with open(report_path) as f:
        report = parse_report(f.read())
    probe = bundle.gap_key

    def ranking(keep) -> list[str]:
        return check_ranking(
            bundle, anomalies, report, top_k=cfg.top_k_report, lag_max=cfg.lag_max,
            cp_only=cfg.cp_only_anomaly_ts, keep=keep,
        ) + check_planted_lags(bundle, report, keep=keep)

    return problems + ranking(lambda k: k != probe), ranking(lambda k: k == probe)


def check_query(name: str, cols, rows, oracle_cols, oracle_rows) -> list[str]:
    from scripts.driver_sim import canon  # the driver's exact compare

    if sorted(cols) != sorted(oracle_cols):
        return [f"{name}: columns {sorted(cols)} vs oracle {sorted(oracle_cols)}"]
    if len(rows) != len(oracle_rows):
        return [f"{name}: {len(rows)} rows vs oracle {len(oracle_rows)}"]
    a, b = canon(rows, cols), canon(oracle_rows, oracle_cols)
    bad = [(x, y) for x, y in zip(a, b) if x != y]
    return [f"{name}: row {x} vs oracle {y}" for x, y in bad[:3]]
