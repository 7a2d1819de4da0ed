"""tools/measure.py: the bench-detail diff, A/B side resolution, and one
in-process interleaved A/B."""

from __future__ import annotations

import importlib.util
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
