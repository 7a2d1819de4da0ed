"""tools/measure.py: the bench-detail diff, A/B side resolution, and one
in-process interleaved A/B."""

from __future__ import annotations

import importlib.util
import json
import os

import pytest

_spec = importlib.util.spec_from_file_location(
    "measure",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "measure.py"),
)
measure = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(measure)

CHEAP = "maef_channel_report"


def test_compare_lists_new_gone_then_deltas_largest_regression_first():
    old = {"value": 10.0, "sf": 0.1, "queries": {"a": 1.0, "b": 2.0, "c": 3.0, "gone": 1.0}}
    new = {"value": 12.5, "sf": 0.1, "queries": {"a": 1.1, "b": 4.0, "c": 2.0, "new": 0.5}}
    assert measure.compare(old, new, 0.25) == [
        "total: 10.0 -> 12.5 (4 -> 4 queries, sf 0.1 -> 0.1)",
        f"{'NEW':>8}  {'new':40s} {'-':>7} -> 0.5",
        f"{'+2.00s':>8}  {'b':40s} {2.0:>7} -> 4.0",
        f"{'-1.00s':>8}  {'c':40s} {3.0:>7} -> 2.0",
        f"{'GONE':>8}  {'gone':40s} {1.0:>7} -> -",
    ]


def test_resolve_registry_name_file_function_and_unknown(tmp_path):
    queries = measure.entrymod.queries()
    assert measure.resolve(CHEAP, queries) is queries[CHEAP]
    side = tmp_path / "old_side.py"
    side.write_text("def old(spark, sf_dir):\n    return 42\n")
    assert measure.resolve(f"{side}:old", queries)(None, None) == 42
    for bad in ("no_such_query", f"{side}:missing"):
        with pytest.raises(ValueError):
            measure.resolve(bad, queries)


def test_ab_interleaves_one_sample_per_side(spark, sf_dir, tmp_path):
    side = tmp_path / "same.py"
    side.write_text(
        "import __spark_entry__ as e\n\n"
        f"def same(spark, sf_dir):\n    return e.queries()[{CHEAP!r}](spark, sf_dir)\n"
    )
    queries = measure.entrymod.queries()
    a, b = measure.ab(
        spark, sf_dir, measure.resolve(CHEAP, queries), measure.resolve(f"{side}:same", queries), n=1
    )
    assert len(a) == 1 and len(b) == 1
    assert a[0] > 0 and b[0] > 0


def _canned(items_per_s: float, peak: float, java_mb: float, failed: int = 0) -> tuple[dict, dict]:
    """One perfbench (detail, result) pair as run.py prints them."""
    detail = {"workload": "w", "peak_rss_mb_by_process": {"java": java_mb, "python3": peak - java_mb}}
    result = {
        "correct": failed == 0,
        "attempted": 10,
        "failed": failed,
        "metrics": {
            "items_per_s": {"value": items_per_s, "unit": "1/s"},
            "peak_rss_mb": {"value": peak, "unit": "MB"},
        },
    }
    return detail, result


def test_bench_report_medians_quartiles_wins_and_rss_by_process():
    a = [_canned(100.0, 1000.0, 900.0), _canned(110.0, 1010.0, 905.0), _canned(90.0, 990.0, 895.0)]
    b = [_canned(130.0, 1100.0, 900.0), _canned(105.0, 1090.0, 906.0), _canned(120.0, 1080.0, 894.0, failed=1)]
    lines = measure.bench_report(a, b, {"items_per_s": "higher", "peak_rss_mb": "lower"})
    by_metric = {ln.split()[0]: ln for ln in lines[1:3]}
    # items_per_s: A median 100 [95, 105], B median 120 [112.5, 125];
    # B won pairs 0 and 2 (130 > 100, 120 > 90), lost pair 1
    ips = by_metric["items_per_s"]
    assert "100.00 [95.00, 105.00]" in ips and "120.00 [112.50, 125.00]" in ips
    assert "+20.0%" in ips and ips.endswith("2/3")
    # peak_rss_mb is lower-is-better: B is higher in every pair
    assert by_metric["peak_rss_mb"].endswith("0/3") and "+9.0%" in by_metric["peak_rss_mb"]
    rss = {ln.split()[0]: ln.split()[1:] for ln in lines if ln.startswith("  ")}
    assert rss == {"java": ["900.0", "900.0"], "python3": ["100.0", "186.0"]}
    assert lines[-1] == "failed operations: A 0/30 (3/3 runs correct)  B 1/30 (2/3 runs correct)"


def test_perfbench_run_reads_the_last_two_stdout_lines(tmp_path):
    bench_dir = tmp_path / "perfbench"
    bench_dir.mkdir()
    detail, result = _canned(1.0, 2.0, 1.0)
    (bench_dir / "run.py").write_text(
        "import json, sys\n"
        "print('noise line')\n"
        f"print(json.dumps({detail!r}))\n"
        f"print(json.dumps({result!r}))\n"
        "sys.exit(1)\n"
    )
    assert measure.perfbench_run(str(tmp_path), "w", 1, 1) == (detail, result)
