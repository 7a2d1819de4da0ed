"""Seeded benchmark of the attribution engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Inputs are generated from ``--seed`` and
handed to the package only as parquet files. With ``--trace 0`` the
named workload runs untraced and every end-to-end metric is reported;
with ``--trace 1`` every workload is replayed with spans around each
layer call (the named one first, in the fresh session) and every
per-layer metric is reported. The last line of stdout is the result
JSON; the line before it holds the samples, sample counts, checks and
the environment. Spans go to ``.perfbench_out/``. The exit code is
nonzero when a check or an operation fails.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import platform
import shutil
import sys
import time

import metrics
import procs
import spans
import stats
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "marketing_attribution_etl_framework__maef_spark"


class Ctx:
    def __init__(self, seed: int, seconds: int, scratch: str):
        self.seed, self.seconds, self.scratch = seed, seconds, scratch
        self.ops = workloads.Ops()
        self.rss = procs.PeakRSS()
        self.detail: dict = {}
        self.spark = None


def config() -> dict:
    with open(os.path.join(HERE, "environment.json")) as f:
        return json.load(f)


def package_env(cfg: dict, scratch: str) -> dict:
    nproc = str(len(os.sched_getaffinity(0)))
    return {k: v.replace("$NPROC", nproc).replace("$SCRATCH", scratch) for k, v in cfg["package_env"].items()}


def start_session(ctx: Ctx) -> float:
    """This process's cold session start, timed from the package import
    until a trivial job completes. Returns the seconds."""
    t0 = time.perf_counter()
    from marketing_attribution_etl_framework__maef_spark.session import get_spark

    ctx.spark = get_spark("perfbench")
    ctx.spark.range(1).count()
    ctx.ops.add(True)
    return time.perf_counter() - t0


def run_untraced(ctx: Ctx, w) -> tuple[dict, dict]:
    w.prepare(ctx)
    steal0 = procs.steal_seconds()
    setup = start_session(ctx)
    samples = w.run(ctx)
    # what the session still holds after the last unit, whose caches
    # are left in place
    heap = procs.heap_live_mb(ctx.spark)
    # CPU time the hypervisor gave to other guests while this run
    # started and worked: large values flag a noisy host, not the code
    ctx.detail["steal_s"] = procs.steal_seconds() - steal0
    values = {
        "setup_s": setup,
        "warm_s": stats.median(samples["warm_s"]),
        "items_per_s": samples["items_per_s"][0],
        "peak_rss_mb": ctx.rss.mb(),
        "heap_live_mb": heap,
    }
    samples.update(setup_s=[setup], peak_rss_mb=[values["peak_rss_mb"]], heap_live_mb=[heap])
    ctx.detail["peak_rss_mb_by_process"] = ctx.rss.by_process()
    return values, samples


def run_traced(ctx: Ctx, name: str) -> tuple[dict, dict, list]:
    order = [name] + [n for n in workloads.WORKLOADS if n != name]
    ws = [workloads.WORKLOADS[n]() for n in order]
    for w in ws:
        w.prepare(ctx)
    values = {"session.start_s": start_session(ctx)}
    tr = spans.Tracer(ctx.spark)
    checks = []
    for w in ws:
        values.update(w.traced(ctx, tr))
        checks += w.check()
    out_dir = os.path.join(ROOT, config()["output_dir"])
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"spans-{name}-seed{ctx.seed}-{tr.run_id}.jsonl")
    tr.dump(path)
    ctx.detail["spans"] = os.path.relpath(path, ROOT)
    return values, {}, checks


def versions(spark) -> dict:
    import pyspark

    return {
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    for mod in (PACKAGE, "__spark_entry__"):
        if importlib.util.find_spec(mod) is None:
            print(f"perfbench: cannot import {mod} from {ROOT}", file=sys.stderr)
            return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    cfg = config()
    scratch = os.path.join(ROOT, cfg["scratch_root"], f"{args.workload}-{os.getpid()}")
    env = package_env(cfg, scratch)
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(scratch, sub), exist_ok=True)
    os.environ.update(env)
    ctx = Ctx(args.seed, args.seconds, scratch)
    try:
        if args.trace:
            values, samples, checks = run_traced(ctx, args.workload)
        else:
            w = workloads.WORKLOADS[args.workload]()
            values, samples = run_untraced(ctx, w)
            checks = w.check()
        for _, ok, _ in checks:
            ctx.ops.add(ok)
        ver = versions(ctx.spark)
    finally:
        if ctx.spark is not None:
            procs.stop_spark(ctx.spark)
        shutil.rmtree(scratch, ignore_errors=True)

    table = metrics.PER_LAYER if args.trace else metrics.END_TO_END
    if set(values) != set(table):
        raise RuntimeError(f"measured {sorted(values)} but declared {sorted(table)}")
    correct = all(ok for _, ok, _ in checks) and ctx.ops.failed == 0
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "samples": samples,
        "sample_counts": {k: len(v) for k, v in samples.items()},
        "checks": [{"name": n, "ok": ok, "detail": d} for n, ok, d in checks],
        "env": env,
        "versions": ver,
        "versions_expected": cfg["versions"],
        **ctx.detail,
    }
    if not all(ver[k].startswith(v) for k, v in cfg["versions"].items()):
        print(f"perfbench: versions differ from environment.json: {ver}", file=sys.stderr)
    print(json.dumps(detail))
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": ctx.ops.attempted,
                "failed": ctx.ops.failed,
                "metrics": {k: {"value": values[k], "unit": unit} for k, (unit, _, _) in table.items()},
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
