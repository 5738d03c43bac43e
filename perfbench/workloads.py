"""The benchmark's workloads: what one pass does and how it is checked.

A pass is the workload's unit of work: for a bundle, the CLI path from
the tar to the written report; for the operator mix, one run of each of
its queries through the noop sink.  ``run`` repeats untraced passes until
the requested seconds have been timed.  ``run(traced=True)`` does a fixed
schedule instead: one untraced warm-up pass, one traced pass that forces
each layer on its own, and one untraced pass whose wall time the traced
pass is compared with (``trace.overhead_s``).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field

import bundles
import checks
import proc
import tables
from spans import Tracer, busiest_stage_tasks

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _layer_units() -> dict[str, str]:
    """Per-layer metric name -> unit, as BENCHMARK.json lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


@dataclass
class Outcome:
    wall: list[float] = field(default_factory=list)
    cpu: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    correct: bool = True
    log: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)

    def fail_check(self, what: str, problems: list[str]) -> None:
        if problems:
            self.correct = False
            self.log.extend(f"CHECK FAILED {what}: {p}" for p in problems[:20])

    def layer_metrics(self) -> dict:
        return {k: {"value": self.layers.get(k, 0), "unit": u}
                for k, u in _layer_units().items()}


def _timed(fn):
    c0, t0 = proc.tree_cpu_s(), time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0, proc.tree_cpu_s() - c0


class Workload:
    def untraced_pass(self, i: int, out: Outcome) -> float:
        raise NotImplementedError

    def traced_pass(self, i: int, out: Outcome, tracer: Tracer) -> float:
        raise NotImplementedError

    def run(self, seconds: float, traced: bool) -> Outcome:
        out = Outcome()
        if traced:
            self.untraced_pass(0, out)
            tracer = Tracer(self.spark)
            traced_wall = self.traced_pass(1, out, tracer)
            untraced_wall = self.untraced_pass(2, out)
            out.layers.update(tracer.totals())
            out.layers["trace.overhead_s"] = traced_wall - untraced_wall
            return out
        measured, i = 0.0, 0
        while True:
            measured += self.untraced_pass(i, out)
            i += 1
            if measured >= seconds:
                return out


class BundleWorkload(Workload):
    """The CLI path: tar -> extract -> wide-CSV scan -> analyze -> report."""

    def __init__(self, name: str, spark, seed: int, work: str):
        from metrics_advisor_spark import AdvisorConfig

        self.spark = spark
        self.work = work
        self.bundle = bundles.generate(name, seed)
        self.tar = os.path.join(work, f"{name}.tar.gz")
        bundles.write_tar(self.bundle, self.tar)
        bundles.write_manifest(self.bundle, os.path.join(work, "manifest.json"))
        spec = self.bundle.spec
        self.cfg = AdvisorConfig(
            obj_signals=self.bundle.objective_metrics,
            cp_permutations=spec.permutations,
            lag_max=spec.lag_max,
            cp_only_anomaly_ts=spec.cp_only,
        )

    def _report_path(self, i: int) -> str:
        out_dir = os.path.join(self.work, f"reports-{i}")
        os.makedirs(out_dir, exist_ok=True)
        return os.path.join(out_dir, f"report_{self.bundle.spec.name}.md")

    def _one_pass(self, i: int):
        """``metrics_advisor_spark.cli.main`` for one bundle, minus the
        scratch cleanup, which waits until the checks have read it."""
        from metrics_advisor_spark.plans.analyze import analyze
        from metrics_advisor_spark.plans.report import save_report
        from metrics_advisor_spark.sources.csv_tar import (
            extract_tar,
            read_wide_csv_dir,
        )

        scratch = extract_tar(self.tar)
        signals = read_wide_csv_dir(self.spark, scratch)
        result = analyze(signals, self.cfg)
        path = self._report_path(i)
        save_report(result, path, bucket_seconds=self.cfg.bucket_seconds)
        return scratch, signals, result, path

    def _check(self, out: Outcome, scratch, signals, result, path) -> None:
        try:
            problems, probe = checks.check_bundle(
                self.bundle, self.cfg, self.spark, signals, result, path
            )
            out.fail_check(self.bundle.spec.name, problems)
            if self.bundle.gap_key:
                # the gap probe's ranking is an operation of its own, on
                # the same inputs in every run (bundles._gap_probe)
                out.attempted += 1
                if probe:
                    out.failed += 1
                    out.log.extend(f"FAILED gap probe: {p}" for p in probe[:5])
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
            self.spark.catalog.clearCache()

    def untraced_pass(self, i: int, out: Outcome) -> float:
        out.attempted += 1
        (scratch, signals, result, path), wall, cpu = _timed(
            lambda: self._one_pass(i)
        )
        out.wall.append(wall)
        out.cpu.append(cpu)
        out.log.append(f"pass {i}: wall {wall:.3f} s, cpu {cpu:.3f} s")
        self._check(out, scratch, signals, result, path)
        return wall

    def traced_pass(self, i: int, out: Outcome, tracer: Tracer) -> float:
        from pyspark.sql import functions as F

        from metrics_advisor_spark.operators.validity import range_filter
        from metrics_advisor_spark.plans.analyze import analyze
        from metrics_advisor_spark.plans.report import save_report
        from metrics_advisor_spark.sources.csv_tar import (
            extract_tar,
            read_wide_csv_dir,
        )

        out.attempted += 1
        L = out.layers
        t0 = time.perf_counter()
        with tracer.span("sources.csv_tar") as sp:
            scratch = extract_tar(self.tar)
            signals = read_wide_csv_dir(self.spark, scratch).cache()
            rows = signals.count()
        L["sources.csv_tar.wall_s"] = sp.wall_s
        L["sources.csv_tar.rows"] = rows
        L["sources.csv_tar.files"] = len(os.listdir(scratch))
        with tracer.span("operators.validity") as sp:
            result = analyze(signals, self.cfg)
            result.signals.count()  # analyze caches the validated table
        L["operators.validity.wall_s"] = sp.wall_s
        with tracer.span("operators.detect") as sp:
            result.anomalies.count()  # analyze caches the anomalies
        L["operators.detect.wall_s"] = sp.wall_s
        L["operators.detect.python_cpu_s"] = sp.python_cpu_s
        for k, v in busiest_stage_tasks(tracer, sp).items():
            L[f"operators.detect.{k}"] = v
        run_s = sum(s.executorRunTime() for s in sp.stages) / 1e3
        out.log.append(f"operators.detect: executor run time {run_s:.2f} s, "
                       f"executorCpuTime {sp.jvm_cpu_s:.2f} s, "
                       f"Python worker CPU {sp.python_cpu_s:.2f} s")
        with tracer.span("plans.analyze.membership") as sp:
            L["plans.analyze.membership_rows"] = result.membership.cache().count()
        L["plans.analyze.membership_wall_s"] = sp.wall_s
        with tracer.span("operators.xcorr") as sp:
            L["operators.xcorr.corr_groups"] = result.correlations.cache().count()
            L["operators.xcorr.ranked_rows"] = result.ranked.cache().count()
        L["operators.xcorr.wall_s"] = sp.wall_s
        L["operators.xcorr.jvm_cpu_s"] = sp.jvm_cpu_s
        L["operators.xcorr.shuffle_write_mb"] = sp.shuffle_write_mb
        L["operators.xcorr.peak_exec_mb"] = sp.peak_exec_mb
        path = self._report_path(i)
        with tracer.span("plans.report") as sp:
            save_report(result, path, bucket_seconds=self.cfg.bucket_seconds)
        L["plans.report.wall_s"] = sp.wall_s
        traced_wall = sum(s.wall_s for s in tracer.spans)
        out.log.append(f"traced pass {i}: {traced_wall:.3f} s in spans, "
                       f"{time.perf_counter() - t0:.3f} s in all")
        # counts that need jobs of their own run outside the spans
        series = lambda df: df.select("metric", "series").distinct().count()  # noqa: E731
        L["operators.validity.series_in"] = series(signals)
        L["operators.validity.series_kept"] = series(
            range_filter(result.signals, self.cfg.min_range))
        L["operators.detect.series"] = L["operators.validity.series_kept"]
        kinds = {r["kind"]: r["n"] for r in
                 result.anomalies.groupBy("kind").agg(F.count("*").alias("n")).collect()}
        L["operators.detect.changepoints"] = kinds.get("changepoint", 0)
        L["operators.detect.outliers"] = kinds.get("outlier", 0)
        self._check(out, scratch, signals, result, path)
        return traced_wall


# operator mix: query -> the layer (module) it exercises
MIX = {
    "ivfpq_search": "functions.pq",
    "pq_reconstruction": "functions.pq",
    "streaming_ann_gate": "streaming.pipeline",
    "streaming_dsir_gate": "streaming.pipeline",
    "hamming_components": "functions.dedup",
    "tpch_q21": "plans.tpch",
    "tpch_q9": "plans.tpch",
}


class OperatorMix(Workload):
    """Fixed list of contract queries, each forced through the noop sink
    and checked against its DuckDB oracle on the same parquet tables."""

    def __init__(self, spark, seed: int, work: str):
        import duckdb

        import __spark_entry__ as entry

        self.spark = spark
        self.entry = entry
        self.data = os.path.join(work, "tables")
        tables.write_tables(seed, self.data)
        queries, oracles = entry.queries(), entry.oracle_sql()
        self.queries = {n: queries[n] for n in MIX}
        con = duckdb.connect()
        for t in ("nation", "supplier", "part", "orders", "lineitem",
                  "documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{self.data}/{t}.parquet'")
        self.oracle = {}
        for n in MIX:
            res = con.execute(oracles[n])
            self.oracle[n] = ([d[0] for d in res.description], res.fetchall())
        con.close()

    def _run_query(self, name: str, out: Outcome):
        """Build and force one query; returns its DataFrame or None."""
        out.attempted += 1
        t0 = time.perf_counter()
        try:
            df = self.queries[name](self.spark, self.data)
            df.write.format("noop").mode("overwrite").save()
            out.log.append(f"{name}: {time.perf_counter() - t0:.3f} s")
            return df
        except Exception as e:  # a failing query is counted, not fatal
            out.failed += 1
            out.log.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
            return None

    def _check(self, out: Outcome, frames: dict) -> None:
        for name, df in frames.items():
            if df is None:
                continue
            cols, want = self.oracle[name]
            rows = [tuple(r) for r in df.collect()]
            out.fail_check("operator_mix",
                           checks.check_query(name, df.columns, rows, cols, want))
        # each pass pays the same work: the entry module keeps the
        # streaming sources it wrote for the life of the process
        self.entry._STREAM_SRC_CACHE.clear()
        self.spark.catalog.clearCache()

    def untraced_pass(self, i: int, out: Outcome) -> float:
        def mix():
            return {n: self._run_query(n, out) for n in MIX}

        frames, wall, cpu = _timed(mix)
        out.wall.append(wall)
        out.cpu.append(cpu)
        out.log.append(f"pass {i}: wall {wall:.3f} s, cpu {cpu:.3f} s")
        self._check(out, frames)
        return wall

    def traced_pass(self, i: int, out: Outcome, tracer: Tracer) -> float:
        frames = {}
        for name, layer in MIX.items():
            with tracer.span(f"{layer}:{name}") as sp:
                frames[name] = self._run_query(name, out)
            L = out.layers
            for m, v in (("wall_s", sp.wall_s), ("jobs", sp.jobs),
                         ("stages", len(sp.stages)), ("tasks", sp.tasks)):
                L[f"{layer}.{m}"] = L.get(f"{layer}.{m}", 0) + v
        self._check(out, frames)
        return sum(s.wall_s for s in tracer.spans)


def make(name: str, spark, seed: int, work: str) -> Workload:
    if name == "operator_mix":
        return OperatorMix(spark, seed, work)
    return BundleWorkload(name, spark, seed, work)
