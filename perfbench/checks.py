"""Correctness checks, run after the timed region. Each returns
(name, ok, detail); every check counts as one operation."""

from __future__ import annotations

import hashlib
import os
import re

import duckdb
import numpy as np

Q20 = "CAST(FLOOR({} * 1048576.0 + 0.5) AS BIGINT)"


def _oracle(name: str) -> str:
    import __spark_entry__

    return __spark_entry__.oracle_sql()[name]


# the export oracle's attribution CTE (linear weights), up to the next CTE
ATTRIBUTION_CTE = re.compile(r"attribution AS \(.*?\),(\s*ar AS \()", re.S)


def _con(event_files: list[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    files = ", ".join(f"'{f}'" for f in event_files)
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet([{files}])")
    return con


def _ihc_matches_oracle(con, table_dir: str) -> tuple[bool, str]:
    con.execute(f"CREATE TABLE oracle AS {_oracle('maef_attribution_ihc')}")
    con.execute(
        f"CREATE TABLE got AS SELECT conv_id, session_id, {Q20.format('ihc')} AS ihc_q20 "
        f"FROM read_parquet('{table_dir}/*.parquet')"
    )
    n = con.execute("SELECT count(*) FROM oracle").fetchone()[0]
    extra = con.execute("SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM oracle)").fetchone()[0]
    missing = con.execute("SELECT count(*) FROM (SELECT * FROM oracle EXCEPT ALL SELECT * FROM got)").fetchone()[0]
    return n > 0 and extra == 0 and missing == 0, f"oracle_rows={n} extra={extra} missing={missing}"


def batch(events_path: str, warehouse: str) -> list[tuple[str, bool, str]]:
    con = _con([events_path])
    attr = os.path.join(warehouse, "attribution")
    out = [("batch.ihc_q20_matches_oracle", *_ihc_matches_oracle(con, attr))]
    worst = con.execute(
        f"SELECT max(abs(s - 1.0)) FROM (SELECT conv_id, sum(ihc) AS s "
        f"FROM read_parquet('{attr}/*.parquet') GROUP BY conv_id)"
    ).fetchone()[0]
    out.append(("batch.ihc_sums_to_one", worst is not None and worst <= 1e-9, f"max|sum-1|={worst}"))
    rep = os.path.join(warehouse, "report")
    n, bad = con.execute(
        f"""SELECT count(*), count(*) FILTER (WHERE
              abs(cpo - CASE WHEN ihc > 0 THEN cost / ihc ELSE 0.0 END) > 1e-9 * greatest(1.0, abs(cpo))
           OR abs(roas - CASE WHEN cost > 0 THEN ihc_revenue / cost ELSE 0.0 END) > 1e-9 * greatest(1.0, abs(roas)))
           FROM read_parquet('{rep}/*.parquet')"""
    ).fetchone()
    out.append(("batch.export_cpo_roas", n > 0 and bad == 0, f"rows={n} bad={bad}"))
    out.append(("batch.report_matches_oracle", *_report_matches_oracle(con, attr, rep)))
    return out


def _report_matches_oracle(con, attr_dir: str, report_dir: str) -> tuple[bool, str]:
    """The exported channel report equals the export oracle, with the
    oracle's attribution CTE replaced by the attribution table (which the
    IHC check has matched against its own oracle): this checks the cost
    join, the ihc and revenue sums and the CPO/ROAS derivation. Rows are
    matched on channel and date; values agree to 1e-6."""
    sql, n = ATTRIBUTION_CTE.subn(
        "attribution AS (SELECT CAST(conv_id AS VARCHAR) AS conv_id, CAST(session_id AS VARCHAR) AS session_id, "
        f"ihc FROM read_parquet('{attr_dir}/*.parquet')),\\1",
        _oracle("maef_channel_report_export"),
        count=1,
    )
    if n != 1:
        return False, "export oracle has no attribution CTE to replace"
    con.execute(f"CREATE TABLE report_oracle AS {sql}")
    cols = ("cost", "ihc", "ihc_revenue", "cpo", "roas")
    off = " OR ".join(f"abs(o.{c} - g.{c}) > 1e-6 * greatest(1.0, abs(o.{c}))" for c in cols)
    n, missing, extra, bad = con.execute(
        f"""SELECT count(o.date), count(*) FILTER (WHERE g.date IS NULL),
                   count(*) FILTER (WHERE o.date IS NULL), count(*) FILTER (WHERE {off})
            FROM report_oracle o FULL OUTER JOIN
                 (SELECT channel_name, CAST(date AS VARCHAR) AS date, {", ".join(cols)}
                  FROM read_parquet('{report_dir}/*.parquet')) g
              ON o.channel_name = g.channel_name AND o.date = g.date"""
    ).fetchone()
    return n > 0 and missing == extra == bad == 0, f"oracle_rows={n} missing={missing} extra={extra} bad={bad}"


def incremental(day_files: list[str], table_dir: str) -> list[tuple[str, bool, str]]:
    """The streamed table equals batch IHC over the union of the day
    files (the streaming/batch parity rule)."""
    con = _con(day_files)
    return [("incremental.parity_with_batch_ihc", *_ihc_matches_oracle(con, table_dir))]


# -- dedup -------------------------------------------------------------------


def shingle_set(text: str, k: int = 3) -> set[int]:
    """The package's hashed word k-shingles, recomputed in Python:
    lower/trim/collapse whitespace, split on spaces, join k words, keep
    the first 15 hex digits of md5 as an integer."""
    words = re.sub(r"\s+", " ", text.strip().lower()).split(" ")
    n = max(len(words) - (k - 1), 1)
    return {int(hashlib.md5(" ".join(words[i : i + k]).encode()).hexdigest()[:15], 16) for i in range(n)}


def union_find_survivors(n_docs: int, pairs: list[tuple[int, int]]) -> set[int]:
    parent = list(range(n_docs))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i for i in range(n_docs) if find(i) == i}


def dedup(texts: list[str], pairs: list[tuple], survivors: list[int]) -> list[tuple[str, bool, str]]:
    bad = 0
    for a, b, inter, union in pairs:
        sa, sb = shingle_set(texts[a]), shingle_set(texts[b])
        i, u = len(sa & sb), len(sa | sb)
        bad += not (i == inter and u == union and 2 * i >= u)
    expect = union_find_survivors(len(texts), [(a, b) for a, b, _, _ in pairs])
    return [
        ("dedup.pairs_exact_jaccard", len(pairs) > 0 and bad == 0, f"pairs={len(pairs)} bad={bad}"),
        (
            "dedup.survivors_union_find",
            set(survivors) == expect and len(survivors) == len(expect),
            f"survivors={len(survivors)} expected={len(expect)}",
        ),
    ]


# -- ANN ---------------------------------------------------------------------


def ann(corpus: np.ndarray, queries: np.ndarray, top: list[tuple], k: int) -> list[tuple[str, bool, str]]:
    """Every returned neighbour's cos_q20 equals its numpy cosine (to
    one q20 unit), and each query's ranks are 1..m in descending
    cosine with m <= k."""
    c = corpus.astype(np.float64)
    q = queries.astype(np.float64)
    cn, qn = np.linalg.norm(c, axis=1), np.linalg.norm(q, axis=1)
    by_q: dict[int, list] = {}
    bad = 0
    for qid, rank, vid, cos_q20 in top:
        want = np.floor(float(q[qid] @ c[vid]) / (qn[qid] * cn[vid]) * 1048576.0 + 0.5)
        bad += int(abs(want - cos_q20) > 1)
        by_q.setdefault(qid, []).append((rank, cos_q20))
    for rows in by_q.values():
        rows.sort()
        ranks = [r for r, _ in rows]
        scores = [s for _, s in rows]
        bad += ranks != list(range(1, len(rows) + 1)) or len(rows) > k or scores != sorted(scores, reverse=True)
    ok = bool(len(by_q) == len(queries) and bad == 0)
    return [("ann.topk_scores_and_ranks", ok, f"queries={len(by_q)}/{len(queries)} bad={bad}")]


def at_least(name: str, value: float, floor: float) -> tuple[str, bool, str]:
    """A quality figure (recall) that a faster but sloppier change must
    not trade away."""
    return name, value >= floor, f"value={value:.4f} floor={floor}"
