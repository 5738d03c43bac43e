#!/usr/bin/env python
"""Stage-level profiler for contract queries (guide §1/§7).

Usage:
    python scripts/profile_query.py q1 q2 ...

For each query: forces the plan through the noop sink, then prints the
per-stage task counts and aggregate metrics (wall, executor run time,
JVM CPU time, shuffle bytes) from the AppStatusStore, so AQE-coalesced
single-task stages and fetch-wait-bound stages are visible without the
UI.  Run twice per query: the second (warm) run is the honest one.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

import __spark_entry__ as em  # noqa: E402
from metrics_advisor_spark import get_spark  # noqa: E402


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = int(os.environ.get("PROFILE_RUNS", "2"))
    spark = get_spark("profile")
    sc = spark.sparkContext
    fns = dict(em.queries())
    fns["flagship_analyze"] = em.flagship
    # warm the session the same way bench.py does (abridged)
    spark.range(256).repartition(32).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()
    store = sc._jsc.sc().statusStore()

    def stage_list():
        empty = sc._jvm.java.util.ArrayList()
        seq = store.stageList(
            empty, False, False,
            getattr(store, "stageList$default$4")(),
            getattr(store, "stageList$default$5")(),
        )
        return list(
            sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq)
        )
    for name in sys.argv[1:]:
        fn = fns[name]
        for r in range(runs):
            spark.catalog.clearCache()
            sc.setJobDescription(f"{name}#run{r}")
            seen = {s.stageId() for s in stage_list()}
            t0 = time.perf_counter()
            force(fn(spark, sf_dir))
            wall = time.perf_counter() - t0
            if r != runs - 1:
                continue  # only report the warmest run
            print(f"\n=== {name}  wall={wall:.2f}s ===")
            stages = [
                s for s in stage_list()
                if s.stageId() not in seen
            ]
            stages.sort(key=lambda s: -s.executorRunTime())
            for s in stages[:14]:
                print(
                    f"  stage {s.stageId():>4} tasks={s.numCompleteTasks():>4} "
                    f"runTime={s.executorRunTime()/1e3:7.2f}s "
                    # JVM only: Python-worker CPU of applyInPandas stages is not in it
                    f"jvm_cpu={s.executorCpuTime()/1e9:7.2f}s "
                    f"shufR={s.shuffleReadBytes()/1e6:8.1f}MB "
                    f"shufW={s.shuffleWriteBytes()/1e6:8.1f}MB "
                    f"in={s.inputBytes()/1e6:8.1f}MB "
                    f"| {(str(s.description().get()) if s.description().isDefined() else '')[:60]}"
                )
        sc.setJobDescription(None)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
