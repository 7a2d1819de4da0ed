"""One measurement tool for the query registry, built on bench.py's drain
and staged-store prestage.

Subcommands:
  time     drained noop-sink samples per query; prints the samples and
           the min (the noise is one-sided, so the min estimates the
           plan cost).
  ab A B   same-session interleaved A/B.  A side is a registry query
           name or ``PATH.py:FUNC`` naming a ``(spark, sf_dir) ->
           DataFrame`` function, so an old formulation can live in a
           scratch file instead of the repo.  The sides alternate, the
           side that runs first flips every pair, and a drain precedes
           every sample.
  plans    one ``explain("formatted")`` capture per query, reduced to
           the PLANS.md table (scans, exchanges and keys, broadcasts,
           codegen spans); ``--all`` rewrites PLANS.md, ``--dump``
           also writes each raw plan.
  compare  per-query deltas between two BENCH_DETAIL.json-shaped files,
           largest regression first, plus totals.
  bench    interleaved perfbench A/B between two checkouts (either can
           be a plain ``git clone`` or ``git worktree`` of another
           commit): ``perfbench/run.py`` runs once per seed in each
           checkout for BENCHMARK.json's run length, the side that runs
           first flips every pair, and the per-metric medians, q1-q3
           and per-process peak RSS print.

Usage:
  python tools/measure.py time [--sf SF_DIR] [--n N] (--all | QUERY ...)
  python tools/measure.py ab [--sf SF_DIR] [--n N] A B
  python tools/measure.py plans [--sf SF_DIR] [--dump PATTERN] (--all | QUERY ...)
  python tools/measure.py compare OLD.json NEW.json [MIN_DELTA_S]
  python tools/measure.py bench DIR_A DIR_B --workload W --seeds N [N ...]

``--sf`` defaults to $SPARK_GRAFT_SF_DIR.  ``--dump`` takes a path with
``{q}`` in it, e.g. ``plans/r13/{q}_before.txt``.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import io
import json
import os
import re
import statistics
import subprocess
import sys
import time
from collections.abc import Callable, Iterable

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402
from bench import _drain, prestage  # noqa: E402
from marketing_attribution_etl_framework__maef_spark.session import get_spark  # noqa: E402

QueryFn = Callable[..., object]

# Static explain() shows nothing useful for these: a streaming query's
# returned handle is the memory-table scan, not the job, and the
# warehouse roundtrip's interesting part is its write/copy/verify path.
PLAN_SKIP = {
    "maef_stream_attribution",
    "maef_stream_windowed_volume",
    "maef_stream_journey_join",
    "maef_stream_cms",
    "maef_warehouse_roundtrip",
}


def resolve(spec: str, queries: dict[str, QueryFn]) -> QueryFn:
    """A registry query name, or ``PATH.py:FUNC`` loaded from that file."""
    if spec in queries:
        return queries[spec]
    path, _, func = spec.rpartition(":")
    if not path.endswith(".py") or not func:
        raise ValueError(f"unknown query {spec!r} (not in the registry, not PATH.py:FUNC)")
    mod_spec = importlib.util.spec_from_file_location(
        "measure_side_" + os.path.basename(path)[:-3], path
    )
    module = importlib.util.module_from_spec(mod_spec)
    mod_spec.loader.exec_module(module)
    if not callable(getattr(module, func, None)):
        raise ValueError(f"{path} defines no function {func!r}")
    return getattr(module, func)


def sample(spark, sf_dir: str, fn: QueryFn, label: str) -> float:
    """Drain, then time one full noop-sink materialization."""
    _drain(spark)
    spark.sparkContext.setJobDescription(f"measure: {label}")
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return round(time.perf_counter() - t0, 3)


def time_queries(spark, sf_dir: str, names: Iterable[str], n: int) -> None:
    queries = entrymod.queries()
    for name in names:
        samples = [sample(spark, sf_dir, queries[name], name) for _ in range(n)]
        print(f"{name:45s} min={min(samples):7.3f}  samples={samples}", flush=True)


def ab(spark, sf_dir: str, a: QueryFn, b: QueryFn, n: int) -> tuple[list[float], list[float]]:
    """Interleaved A/B: ``n`` pairs, A first on even pairs, B first on
    odd; returns (A samples, B samples) in pair order."""
    sides = (("A", a, []), ("B", b, []))
    for i in range(n):
        for tag, fn, acc in sides if i % 2 == 0 else sides[::-1]:
            acc.append(sample(spark, sf_dir, fn, f"ab {tag} #{i}"))
    return sides[0][2], sides[1][2]


def quartiles(samples: list[float]) -> list[float]:
    """[q1, median, q3] (inclusive method; one sample is all three)."""
    if len(samples) > 1:
        return statistics.quantiles(samples, n=4, method="inclusive")
    return list(samples) * 3


def summarize(samples: list[float]) -> str:
    q1, med, q3 = quartiles(samples)
    return (
        f"min={min(samples):7.3f} q1={q1:7.3f} median={med:7.3f} q3={q3:7.3f}"
        f"  samples={samples}"
    )


def plan_row(name: str, plan: str) -> tuple[str, ...]:
    """One PLANS.md table row from a formatted explain string."""
    ex_keys = re.findall(r"hashpartitioning\((\w+)", plan)
    # count Exchange NODES, not hashpartitioning mentions: a
    # ReusedExchange prints the partitioning again but is one runtime
    # shuffle, not two
    n_ex = len(re.findall(r"\(\d+\) Exchange", plan))
    n_reuse = len(re.findall(r"\(\d+\) ReusedExchange", plan))
    n_py = len(re.findall(r"MapInPandas|ArrowEvalPython|BatchEvalPython", plan))
    notes = []
    if n_py:
        notes.append("mapInPandas (by design)")
    if n_reuse:
        notes.append(f"{n_reuse} ReusedExchange")
    return (
        name,
        str(len(re.findall(r"Scan parquet", plan))),
        f"{n_ex} ({','.join(dict.fromkeys(ex_keys)) or '-'})",
        str(len(re.findall(r"BroadcastExchange", plan))),
        str(len(set(re.findall(r"codegen id : (\d+)", plan)))),
        "; ".join(notes),
    )


def plan_rows(spark, sf_dir: str, names: Iterable[str], dump: str | None = None) -> list[tuple]:
    queries = entrymod.queries()
    rows = []
    for name in names:
        if name in PLAN_SKIP:
            rows.append((name, "-", "-", "-", "-", "streaming/side-effecting — skipped"))
            continue
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            queries[name](spark, sf_dir).explain("formatted")
        plan = buf.getvalue()
        if dump:
            path = dump.format(q=name)
            os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
            with open(path, "w") as fh:
                fh.write(plan)
        rows.append(plan_row(name, plan))
    return rows


def plans_md(sf_dir: str, rows: list[tuple]) -> str:
    lines = [
        "# PLANS — physical-plan audit (generated by `tools/measure.py plans --all`)",
        "",
        f"Input: `{sf_dir}`. Exchange keys are deduplicated per query.",
        "",
        "Reading notes:",
        "- One `doc_id` exchange per llm_* query is the `_docs`/`_embs`",
        "  harness repartition (the shipped parquet is 1-3 splits; at real",
        "  scale the input is already split and the exchange disappears).",
        "- Dedup queries re-scan sources across self-join branches on",
        "  purpose: A/B measurement showed persisting the cheap-to-recompute",
        "  signatures SERIALIZES branch scans AQE runs in parallel (see",
        "  llm/dedup.py header). 0-scan rows are localCheckpoint-fed",
        "  (curate, clusters) — the lineage was materialized by design.",
        "- `events` scans resolve against the per-session cache",
        "  (domain.events), so repeated scans of it are cache reads.",
        "- Iterative driver-loop queries (llm_bpe_*, llm_ann_kmeans,",
        "  maef_markov_removal) show near-empty static plans: their work is",
        "  a bounded sequence of tiny-table jobs whose wall time is plan",
        "  analysis + job latency, CONSTANT in corpus size (the corpus-",
        "  scale part is the one aggregation that feeds the loop).",
        "- Exchange counts are STATIC plan nodes; AQE's runtime exchange",
        "  reuse (identical subplans collapse to one shuffle, e.g. the",
        "  funnel's shared user_id repartition) is not visible here, so",
        "  multi-consumer queries overstate their real shuffle count.",
        "",
        "| query | parquet scans | exchanges (keys) | broadcasts | codegen spans | note |",
        "|---|---|---|---|---|---|",
    ]
    lines += ["| " + " | ".join(r) + " |" for r in rows]
    return "\n".join(lines + [""])


def compare(old: dict, new: dict, min_delta: float = 0.25) -> list[str]:
    """bench detail diff: totals line, then NEW/GONE and every per-query
    delta of at least ``min_delta`` seconds, largest regression first."""
    oq, nq = old["queries"], new["queries"]
    rows = []
    for name in sorted(set(oq) | set(nq)):
        a, b = oq.get(name), nq.get(name)
        if a is None or b is None:
            rows.append((float("inf") if a is None else -float("inf"), name, a, b))
        elif abs(b - a) >= min_delta:
            rows.append((b - a, name, a, b))
    rows.sort(key=lambda r: -r[0])
    lines = [
        f"total: {old.get('value')} -> {new.get('value')} "
        f"({len(oq)} -> {len(nq)} queries, sf {old.get('sf')} -> {new.get('sf')})"
    ]
    for delta, name, a, b in rows:
        tag = "NEW" if a is None else ("GONE" if b is None else f"{delta:+6.2f}s")
        lines.append(
            f"{tag:>8}  {name:40s} {a if a is not None else '-':>7} -> "
            f"{b if b is not None else '-'}"
        )
    return lines


def perfbench_run(checkout: str, workload: str, seed: int, seconds: int) -> tuple[dict, dict]:
    """One untraced ``perfbench/run.py`` in ``checkout``: its (detail,
    result) lines, the last two of stdout."""
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
    ]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if len(lines) < 2:
        raise RuntimeError(f"perfbench in {checkout} printed no result:\n{proc.stderr[-2000:]}")
    detail, result = [json.loads(x) for x in lines[-2:]]
    return detail, result


def bench_report(
    runs_a: list[tuple[dict, dict]], runs_b: list[tuple[dict, dict]], better: dict[str, str]
) -> list[str]:
    """Per-metric median and q1-q3 of each side, B's median change, and
    the pairs B won (by the metric's ``better`` direction), then the
    median peak RSS per process name and the failed-operation counts.
    ``runs_*`` are (detail, result) pairs in pair order."""
    def values(runs, metric):
        return [r["metrics"][metric]["value"] for _, r in runs]

    def cell(xs):
        q1, med, q3 = quartiles(xs)
        return f"{med:10.2f} [{q1:.2f}, {q3:.2f}]"

    lines = [f"{'metric':14s} {'A median [q1, q3]':>28s} {'B median [q1, q3]':>28s}  {'B/A':>7s}  B won"]
    for metric in runs_a[0][1]["metrics"]:
        a, b = values(runs_a, metric), values(runs_b, metric)
        sign = 1 if better.get(metric, "lower") == "higher" else -1
        won = sum(sign * (y - x) > 0 for x, y in zip(a, b))
        change = statistics.median(b) / statistics.median(a) - 1 if statistics.median(a) else 0.0
        lines.append(
            f"{metric:14s} {cell(a):>28s} {cell(b):>28s}  {change:+7.1%}  {won}/{len(a)}"
        )
    lines.append("peak_rss_mb_by_process (median MB)     A          B")
    procs = dict.fromkeys(p for d, _ in runs_a + runs_b for p in d.get("peak_rss_mb_by_process", {}))
    for p in procs:
        med = [
            statistics.median([d.get("peak_rss_mb_by_process", {}).get(p, 0.0) for d, _ in runs])
            for runs in (runs_a, runs_b)
        ]
        lines.append(f"  {p:32s} {med[0]:10.1f} {med[1]:10.1f}")
    lines.append(
        "failed operations: "
        + "  ".join(
            f"{tag} {sum(r['failed'] for _, r in runs)}/{sum(r['attempted'] for _, r in runs)}"
            f" ({sum(r['correct'] for _, r in runs)}/{len(runs)} runs correct)"
            for tag, runs in (("A", runs_a), ("B", runs_b))
        )
    )
    return lines


def bench(dir_a: str, dir_b: str, workload: str, seeds: list[int]) -> list[str]:
    """Interleaved perfbench A/B: one pair per seed, A first on even
    pairs and B first on odd ones.  The run length and each metric's
    better direction come from ``dir_a``'s BENCHMARK.json."""
    with open(os.path.join(dir_a, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    runs: tuple[list, list] = ([], [])
    for i, seed in enumerate(seeds):
        for side in (0, 1) if i % 2 == 0 else (1, 0):
            checkout = (dir_a, dir_b)[side]
            runs[side].append(perfbench_run(checkout, workload, seed, spec["run_seconds"]))
            print(f"pair {i} seed {seed} {'AB'[side]} done", file=sys.stderr, flush=True)
    return bench_report(*runs, {m["name"]: m["better"] for m in spec["end_to_end"]})


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    sf = argparse.ArgumentParser(add_help=False)
    sf.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    p_time = sub.add_parser("time", parents=[sf])
    p_time.add_argument("--n", type=int, default=2)
    p_time.add_argument("--all", action="store_true")
    p_time.add_argument("queries", nargs="*")
    p_ab = sub.add_parser("ab", parents=[sf])
    p_ab.add_argument("--n", type=int, default=3)
    p_ab.add_argument("a")
    p_ab.add_argument("b")
    p_plans = sub.add_parser("plans", parents=[sf])
    p_plans.add_argument("--dump", help="raw plan path with {q}, e.g. plans/r13/{q}_before.txt")
    p_plans.add_argument("--all", action="store_true")
    p_plans.add_argument("queries", nargs="*")
    p_cmp = sub.add_parser("compare")
    p_cmp.add_argument("old")
    p_cmp.add_argument("new")
    p_cmp.add_argument("min_delta", nargs="?", type=float, default=0.25)
    p_bench = sub.add_parser("bench")
    p_bench.add_argument("dir_a")
    p_bench.add_argument("dir_b")
    p_bench.add_argument("--workload", required=True)
    p_bench.add_argument("--seeds", type=int, nargs="+", required=True)
    args = ap.parse_args()

    if args.cmd == "bench":
        print("\n".join(bench(args.dir_a, args.dir_b, args.workload, args.seeds)))
        return
    if args.cmd == "compare":
        with open(args.old) as fo, open(args.new) as fn:
            print("\n".join(compare(json.load(fo), json.load(fn), args.min_delta)))
        return
    if not args.sf:
        ap.error("--sf is required when $SPARK_GRAFT_SF_DIR is unset")
    queries = entrymod.queries()
    if args.cmd == "ab":
        try:
            fn_a, fn_b = resolve(args.a, queries), resolve(args.b, queries)
        except ValueError as e:
            ap.error(str(e))
    else:
        names = list(queries) if args.all else args.queries
        unknown = [n for n in names if n not in queries]
        if not names or unknown:
            ap.error(f"name registry queries or pass --all (unknown: {unknown})")

    spark = get_spark(f"measure-{args.cmd}")
    if args.cmd == "plans":
        out = plans_md(args.sf, plan_rows(spark, args.sf, names, args.dump))
        if args.all:
            with open(os.path.join(REPO, "PLANS.md"), "w") as fh:
                fh.write(out)
        print(out)
        return
    spark.sparkContext.setJobDescription("prestage shared stores")
    prestage(spark, args.sf)
    if args.cmd == "time":
        time_queries(spark, args.sf, names, args.n)
        return
    a, b = ab(spark, args.sf, fn_a, fn_b, args.n)
    print(f"A {args.a:45s} {summarize(a)}")
    print(f"B {args.b:45s} {summarize(b)}")
    print(f"B won {sum(y < x for x, y in zip(a, b))}/{args.n} pairs (ties count for neither)")


if __name__ == "__main__":
    main()
