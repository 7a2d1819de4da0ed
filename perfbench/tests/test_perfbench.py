"""The benchmark's own tests: seeded inputs, the tail-percentile rule,
and the metric declarations. No Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import stats  # noqa: E402

SMALL = dict(n_events=2_000, n_users=200, days=10, zipf_a=0.5)


def _inputs(seed: int, out: str) -> list[str]:
    gen.write_events(seed, os.path.join(out, "ev"), **SMALL)
    days = gen.write_day_files(seed, os.path.join(out, "days"), **SMALL)
    docs, _, _ = gen.write_documents(seed, out, 200, 20)
    cpath, qpath, _, _ = gen.write_embeddings(seed, out, 200, 10, 8, 4)
    return [os.path.join(out, "ev", "events.parquet"), *days, docs, cpath, qpath]


def _digest(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = _inputs(7, str(tmp_path / "a"))
    b = _inputs(7, str(tmp_path / "b"))
    for x, y in zip(a, b):
        assert _digest(x) == _digest(y), os.path.basename(x)


def test_different_seed_gives_different_inputs(tmp_path):
    a = _inputs(7, str(tmp_path / "a"))
    b = _inputs(8, str(tmp_path / "b"))
    for x, y in zip(a, b):
        assert _digest(x) != _digest(y), os.path.basename(x)


def test_day_files_partition_the_event_model(tmp_path):
    import pyarrow.parquet as pq

    days = gen.write_day_files(3, str(tmp_path), **SMALL)
    rows = [pq.read_table(p).to_pandas() for p in days]
    assert sum(len(r) for r in rows) == SMALL["n_events"]
    assert [os.path.getmtime(p) for p in days] == sorted(os.path.getmtime(p) for p in days)
    for d, r in enumerate(rows):
        assert (r.ts.dt.floor("D") - gen.EPOCH).dt.days.eq(d).all()


def test_planted_pairs_are_near_duplicates():
    texts, pairs = gen.document_texts(5, 300, 30)
    assert len(texts) == 300 and len(pairs) == 30
    for a, b in pairs:
        sa, sb = checks.shingle_set(texts[a]), checks.shingle_set(texts[b])
        assert 2 * len(sa & sb) >= len(sa | sb) and sa != sb


@pytest.mark.parametrize("n", [11, 20, 100, 1000])
def test_tail_percentile_has_ten_samples_beyond(n):
    xs = list(range(n, 0, -1))
    pct, value = stats.tail_percentile(xs)
    assert sum(x > value for x in xs) == 10
    assert pct == pytest.approx(100.0 * (n - 10) / n)
    # one rank higher would leave fewer than ten beyond
    assert sum(x > value + 1 for x in xs) < 10


def test_tail_percentile_needs_eleven_samples():
    assert stats.tail_percentile([1.0] * 10) is None
    assert stats.tail_percentile([]) is None
    assert stats.tail_percentile(list(range(100)))[0] == 90.0


def test_union_find_survivors_keep_min_of_each_component():
    assert checks.union_find_survivors(6, [(0, 3), (3, 5), (2, 4)]) == {0, 1, 2}


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_shape():
    b = _declared()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert b["paths"] == ["perfbench"]
    assert [w["name"] for w in b["workloads"]] == list(metrics.DECLARED)
    assert all(set(w) == {"name", "why"} for w in b["workloads"])
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])


@pytest.mark.parametrize("kind,table", [("end_to_end", metrics.END_TO_END), ("per_layer", metrics.PER_LAYER)])
def test_metrics_declared_with_unit_and_workload(kind, table):
    declared = {m["name"]: m for m in _declared()[kind]}
    assert list(declared) == list(table)
    for name, (unit, workloads, _) in table.items():
        assert re.fullmatch(r"[A-Za-z0-9_.-]+", name)
        assert declared[name]["unit"] == unit
        assert workloads and set(workloads) <= set(metrics.ALL)


def _report_fixture(tmp_path):
    """Events, the export oracle's own (linear) attribution as a parquet
    table, and the oracle's report over it: a report the check must
    accept."""
    sys.path.insert(0, ROOT)
    gen.write_events(11, str(tmp_path), **SMALL)
    con = checks._con([os.path.join(str(tmp_path), "events.parquet")])
    sql = checks._oracle("maef_channel_report_export")
    m = checks.ATTRIBUTION_CTE.search(sql)
    linear = sql[: m.start(1)].rstrip().rstrip(",") + " SELECT conv_id, session_id, ihc FROM attribution"
    attr, rep = tmp_path / "attribution", tmp_path / "report"
    attr.mkdir()
    rep.mkdir()
    con.execute(f"COPY ({linear}) TO '{attr}/part.parquet' (FORMAT parquet)")
    return con, sql, str(attr), str(rep)


def test_report_check_accepts_the_oracle_report(tmp_path):
    con, sql, attr, rep = _report_fixture(tmp_path)
    con.execute(f"COPY ({sql}) TO '{rep}/part.parquet' (FORMAT parquet)")
    ok, detail = checks._report_matches_oracle(con, attr, rep)
    assert ok, detail


def test_report_check_rejects_a_wrong_cost(tmp_path):
    con, sql, attr, rep = _report_fixture(tmp_path)
    con.execute(
        f"COPY (SELECT * REPLACE (CASE WHEN row_number() OVER () = 1 THEN cost + 0.01 ELSE cost END AS cost) "
        f"FROM ({sql})) TO '{rep}/part.parquet' (FORMAT parquet)"
    )
    ok, detail = checks._report_matches_oracle(con, attr, rep)
    assert not ok and "bad=1" in detail

