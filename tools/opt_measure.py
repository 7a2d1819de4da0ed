"""Optimization-round per-query isolation harness (guide §1).

For each named query: pre-stage the shared stores exactly as bench.py
does, drain, run the noop-sink materialization N times and record every
sample plus the min (one-sided noise -> min estimates the plan cost),
and optionally dump ``.explain("formatted")`` to plans/<tag>/<q>_<suffix>.txt
so the before/after plan shape is committed evidence.

Usage:
  python tools/opt_measure.py [--sf SF_DIR] [--n N] [--plans TAG:SUFFIX] q1 q2 ...
  python tools/opt_measure.py --all            # every query, 1 sample each

Results land in /tmp/opt_measure.json (merged across invocations per
sf_dir) so successive runs build up a session-local measurement ledger.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import io
import json
import os
import sys
import time

_REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_DIR)

import __spark_entry__ as entrymod
from bench import prestage
from marketing_attribution_etl_framework__maef_spark.session import get_spark

LEDGER = "/tmp/opt_measure.json"


def _drain(spark) -> None:
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(1.25)
    spark.sparkContext._jvm.System.gc()
    time.sleep(0.75)
    spark.range(0, 32 * 50000, 1, 32).selectExpr("sum(id)").write.format(
        "noop"
    ).mode("overwrite").save()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--n", type=int, default=2)
    ap.add_argument(
        "--plans",
        default=None,
        help="TAG:SUFFIX -> dump explain('formatted') to plans/TAG/<q>_SUFFIX.txt",
    )
    ap.add_argument("--no-prestage", action="store_true")
    ap.add_argument("--all", action="store_true")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    spark = get_spark("opt-measure")
    queries = entrymod.queries()
    names = list(queries) if args.all else args.queries
    unknown = [n for n in names if n not in queries]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")

    if not args.no_prestage:
        spark.sparkContext.setJobDescription("prestage shared stores")
        prestage(spark, args.sf)

    plan_dir = suffix = None
    if args.plans:
        tag, suffix = args.plans.split(":", 1)
        plan_dir = os.path.join(_REPO_DIR, "plans", tag)
        os.makedirs(plan_dir, exist_ok=True)

    try:
        with open(LEDGER) as fh:
            ledger = json.load(fh)
    except (OSError, ValueError):
        ledger = {}
    bucket = ledger.setdefault(args.sf, {})

    for name in names:
        fn = queries[name]
        samples = []
        for _ in range(args.n):
            _drain(spark)
            spark.sparkContext.setJobDescription(f"opt: {name}")
            t0 = time.perf_counter()
            fn(spark, args.sf).write.format("noop").mode("overwrite").save()
            samples.append(round(time.perf_counter() - t0, 3))
        bucket[name] = {"min": min(samples), "samples": samples, "t": time.time()}
        print(f"{name:45s} min={min(samples):7.3f}  samples={samples}", flush=True)
        if plan_dir:
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                fn(spark, args.sf).explain("formatted")
            with open(os.path.join(plan_dir, f"{name}_{suffix}.txt"), "w") as fh:
                fh.write(buf.getvalue())

    with open(LEDGER, "w") as fh:
        json.dump(ledger, fh, indent=1, sort_keys=True)
    total = sum(v["min"] for v in bucket.values())
    print(f"-- ledger {LEDGER}: {len(bucket)} queries at {args.sf}, sum(min)={total:.1f}s")


if __name__ == "__main__":
    main()
