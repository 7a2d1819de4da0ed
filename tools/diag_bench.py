"""Diagnose the min-of-2-resistant in-suite slowdowns (VERDICT r09 #2).

Hypotheses for queries that run 3x slower IN-SUITE than solo, on
unchanged code, with min-of-2 already applied (both timed runs slow —
so the cause survives the drains):

  H1  JIT code-cache exhaustion: every distinct whole-stage-codegen
      plan compiles fresh classes; the bench warm-up runs all ~329
      queries, and once ReservedCodeCacheSize (default 240 MB) fills,
      HotSpot disables compilation and the whole session runs
      interpreted/deoptimized (one-way, drain-immune, 2-10x).
  H2  Driver-heap / listener accumulation: job latency grows with
      retained execution state; per-job overhead inflates
      driver-loop-shaped queries (pca's 6 rounds) most.
  H3  Python-side growth (py4j callback / gc pressure).

This script measures, in ONE session: code-cache pool usage, heap,
JIT compilation time, and a canonical probe-job latency — sampled
before and after a bench-shaped warm-up load — then times the four
suspect queries exactly as bench.py would.  Run it twice (default
code cache vs -XX:ReservedCodeCacheSize bumped via
SPARK_GRAFT_EXTRA_JAVA_OPTIONS) to confirm/refute H1.

Usage: python tools/diag_bench.py [n_warm_queries]

FINDINGS (r10 session, the load-bearing numbers; raw stderr dump not kept):
  - code cache 139/243 MB after warm-running ALL ~329 queries — JIT was
    never disabled, refuting H1.
  - probe-job latency flat all session (~110-180 ms) — refuting H2/H3.
  - the four suspects ran FAST immediately post-warm-up at sf0.1
    (pca 2.69 s, label_drift 2.70 s, channel_affinity 0.46 s,
    stream_dq 1.19 s) — the in-suite inflations are transient
    debris/host conditions, not a cumulative JVM mechanism.  Defense:
    bench.py's slow-tail re-measure pass (min is the right estimator
    for one-sided noise).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

_REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_DIR)

import __spark_entry__ as entrymod
import bench
from marketing_attribution_etl_framework__maef_spark.session import get_spark

SUSPECTS = [
    "llm_embedding_pca",
    "llm_label_drift",
    "maef_channel_affinity",
    "maef_stream_dq",
]


def probe(spark) -> dict:
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    pools = mf.getMemoryPoolMXBeans()
    cc = {}
    for i in range(pools.size()):
        p = pools.get(i)
        name = p.getName()
        if "CodeHeap" in name or "Code Cache" in name:
            u = p.getUsage()
            cc[name] = {
                "used_mb": round(u.getUsed() / 1e6, 1),
                "max_mb": round(u.getMax() / 1e6, 1),
            }
    heap = mf.getMemoryMXBean().getHeapMemoryUsage()
    comp = mf.getCompilationMXBean()
    # canonical probe job: tiny 32-partition aggregate, median of 5
    lat = []
    for _ in range(5):
        t0 = time.perf_counter()
        spark.range(0, 3200, 1, 32).selectExpr("sum(id)").collect()
        lat.append(time.perf_counter() - t0)
    return {
        "code_cache": cc,
        "heap_used_gb": round(heap.getUsed() / 1e9, 2),
        "jit_total_compile_ms": comp.getTotalCompilationTime(),
        "probe_job_ms": round(statistics.median(lat) * 1000, 1),
    }


def time_suspects(spark, sf_dir: str) -> dict[str, float]:
    qs = entrymod.queries()
    out = {}
    for name in SUSPECTS:
        bench._drain(spark)
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        t = time.perf_counter() - t0
        bench._drain(spark)
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        out[name] = round(min(t, time.perf_counter() - t0), 2)
    return out


def main() -> None:
    n_warm = int(sys.argv[1]) if len(sys.argv) > 1 else 10**9
    spark = get_spark("diag-bench")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir

    print("== cold probe ==")
    print(json.dumps(probe(spark)))
    print("== solo suspect timings (cold session, sf0.1) ==")
    # stage the shared stores first, as bench does, so the numbers are
    # the queries' own plans
    bench.prestage(spark, sf_dir)
    print(json.dumps(time_suspects(spark, sf_dir)))
    print(json.dumps(probe(spark)))

    print(f"== warm-up load: all queries at {warm_dir} (cap {n_warm}) ==")
    qs = entrymod.queries()
    t0 = time.perf_counter()
    for i, (name, fn) in enumerate(qs.items()):
        if i >= n_warm:
            break
        fn(spark, warm_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        if (i + 1) % 50 == 0:
            print(f"after {i+1} warm queries: {json.dumps(probe(spark))}")
    print(f"warm-up wall: {time.perf_counter() - t0:.0f}s")
    print("== post-warm-up probe ==")
    print(json.dumps(probe(spark)))

    print("== in-suite-shaped suspect timings (post warm-up, sf0.1) ==")
    print(json.dumps(time_suspects(spark, sf_dir)))
    print(json.dumps(probe(spark)))


if __name__ == "__main__":
    main()
