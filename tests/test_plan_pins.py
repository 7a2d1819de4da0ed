"""Plan pins for the global-window finishers (VERDICT r02 #7).

Four operators use an UNPARTITIONED window (`Window.orderBy` with no
partitionBy) to stamp a dense global rank. That is only acceptable
because each one runs over a `.limit(k)`-bounded input — a single task
ranking <= k rows, post-aggregation. These tests pin that shape into
the physical plan: if a refactor ever drops the limit below the
window, the global WindowExec would process the full corpus in one
task (the exact scale-killer the crosscheck's `WindowExec: No
Partition Defined` warning hints at) and the pin fails.

The pin reads the *optimized/physical* plan text: in these linear
plans the tree prints top-down, so "the GlobalLimit line appears after
the Window line" means the limit is an input (descendant) of the
window.
"""

from __future__ import annotations

import contextlib
import io

import pytest

import __spark_entry__ as entrymod


def _plan_text(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="simple")
    return buf.getvalue()


def _assert_global_window_above_limit(df, k: int) -> None:
    plan = _plan_text(df)
    lines = plan.splitlines()
    win = [i for i, ln in enumerate(lines) if "Window" in ln]
    lim = [i for i, ln in enumerate(lines) if "GlobalLimit" in ln or "TakeOrdered" in ln]
    assert win, f"expected a Window in plan:\n{plan}"
    assert lim, f"expected a GlobalLimit feeding the global window:\n{plan}"
    assert min(win) < min(lim), (
        "global Window must sit ABOVE (consume) the GlobalLimit so it "
        f"ranks <= {k} rows, not the corpus:\n{plan}"
    )


@pytest.mark.parametrize(
    "qname,k",
    [
        ("llm_bm25_topk", 10),
        ("llm_vocabulary", 200),
        ("llm_bigram_pmi", 50),
    ],
)
def test_topk_global_window_is_limit_bounded(spark, sf_dir, qname, k):
    df = entrymod.queries()[qname](spark, sf_dir)
    _assert_global_window_above_limit(df, k)


def test_kmeans_seed_global_window_is_limit_bounded(spark, sf_dir):
    """The k-means seed picker ranks a md5-ordered `.limit(k)` sample;
    its plan is consumed through localCheckpoint inside
    kmeans_centroids, so pin the seed expression directly."""
    from marketing_attribution_etl_framework__maef_spark.llm import similarity as sim

    q = sim.quantized_unit_vectors(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"), "vec_id", "embedding"
    )
    seed = sim._kmeans_seeds(q, 8)
    _assert_global_window_above_limit(seed, 8)


def test_percentile_disc_windows_are_partitioned(spark, sf_dir):
    """percentile_disc must never fall into a global window when group
    columns are supplied: every window spec in the plan carries the
    group key as its partitioning."""
    df = entrymod.queries()["llm_length_percentiles"](spark, sf_dir)
    plan = _plan_text(df)
    win_lines = [ln for ln in plan.splitlines() if "windowspecdefinition" in ln]
    assert win_lines, f"expected window specs in plan:\n{plan}"
    for ln in win_lines:
        # the partition spec is the leading argument list of
        # windowspecdefinition (before any ASC/DESC order expression)
        spec = ln.split("windowspecdefinition(", 1)[1]
        head = spec.split(" ASC")[0].split(" DESC")[0]
        assert "source#" in head, (
            f"window not partitioned by the group key:\n{ln}\n\nfull plan:\n{plan}"
        )


def test_ann_tuning_broadcasts_centroids_and_partitions_windows(spark, sf_dir):
    """r09 L299: the probe-frontier lineage must broadcast the bounded
    sides (centroid table, probe-level literals, scalar counts) and
    keep every rank window partitioned — an unpartitioned window here
    would rank the whole candidate set in one task."""
    df = entrymod.queries()["llm_ann_tuning"](spark, sf_dir)
    plan = _plan_text(df)
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan, plan
    assert "No Partition Defined" not in plan, plan


def test_skew_profile_prunes_to_key_columns(spark, sf_dir):
    """r09 L300: the skew audit reads ONLY the join-key column from
    each relation — a scan that drags the full row width for a
    key-frequency count is wrong at any scale."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        entrymod.queries()["rel_skew_profile"](spark, sf_dir).explain(mode="formatted")
    plan = buf.getvalue()
    import re

    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    # lineitem and orders scans must be single-key-column reads
    assert any(s.strip() == "l_orderkey:bigint" for s in schemas), schemas
    assert any(s.strip() == "o_custkey:bigint" for s in schemas), schemas


def test_pii_rate_is_shuffle_minimal_and_pruned(spark, sf_dir):
    """r10 L312: the PII audit is per-row regex algebra + ONE
    source-grain aggregate — its plan must read only (doc_id, source,
    text) and contain no join at all."""
    df = entrymod.queries()["llm_pii_rate"](spark, sf_dir)
    plan = _plan_text(df)
    assert "Join" not in plan, plan
    import re

    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert schemas and all(
        set(s.strip().split(",")) <= {"doc_id:bigint", "source:string", "text:string"}
        for s in schemas
    ), schemas


def test_vocab_coverage_cumsum_runs_at_vocab_grain(spark, sf_dir):
    """r10 L314: the coverage cutoffs aggregate per-term counts BEFORE
    the global rank window — the single-partition sort must sit above
    a vocab-grain HashAggregate, never above the raw token explode."""
    df = entrymod.queries()["llm_vocab_coverage"](spark, sf_dir)
    plan = _plan_text(df)
    assert "HashAggregate" in plan, plan
    # the broadcast of the 4-row pct table must be a broadcast join
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


def test_contamination_rate_broadcasts_eval_side(spark, sf_dir):
    """r10 L316: the eval shingle set is benchmark-sized and must
    arrive at the collision join as a broadcast, keeping the pass
    over the training corpus shuffle-free on the train side."""
    df = entrymod.queries()["llm_contamination_rate"](spark, sf_dir)
    plan = _plan_text(df)
    assert "BroadcastExchange" in plan, plan


def test_ivm_join_delta_is_three_key_joins_no_rescan(spark, sf_dir):
    """r10 L321 (VERDICT r10 #3): join_view_delta's value is cost
    proportional to the CHANGE — each delta term must be a
    delta ⋈ snapshot EQUI-join on the view key, never a
    rematerialize-both-states-and-diff rescan.  Pinned: the isolated
    delta plan contains exactly 3 join nodes (ΔL⋈R_old, L_old⋈ΔR,
    ΔL⋈ΔR), every one a hash/sort-merge equi-join keyed on custkey,
    and zero cartesian / nested-loop joins."""
    import re

    from pyspark.sql import functions as F

    from marketing_attribution_etl_framework__maef_spark import domain
    from marketing_attribution_etl_framework__maef_spark.operators import ivm

    orders = domain.load_table(spark, sf_dir, "orders")
    cust = domain.load_table(spark, sf_dir, "customer")
    l_all = orders.select(
        F.col("o_custkey").alias("custkey"), "o_orderkey", "o_orderpriority"
    )
    r_all = cust.select(F.col("c_custkey").alias("custkey"), "c_mktsegment")
    l_old = l_all.filter(F.col("o_orderkey") % 10 != 3)
    dl = l_all.filter(F.col("o_orderkey") % 10 == 3).withColumn(
        "op", F.lit(1).cast("long")
    )
    r_old = r_all.filter(F.col("custkey") % 20 != 5)
    dr = r_all.filter(F.col("custkey") % 20 == 5).withColumn(
        "op", F.lit(1).cast("long")
    )
    dv = ivm.join_view_delta(l_old, r_old, dl, dr, "custkey")
    plan = _plan_text(dv)
    join_lines = [
        ln
        for ln in plan.splitlines()
        if re.search(r"(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)", ln)
    ]
    assert len(join_lines) == 3, plan
    assert all("custkey" in ln for ln in join_lines), plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_duplicated_spans_single_lineage_no_join(spark, sf_dir):
    """r11 L323: the span extractor's cross-doc test is a frameless
    window, NOT a df-table self-join — the exploded instance grain
    must be scanned once (a join-back would shuffle it twice)."""
    from marketing_attribution_etl_framework__maef_spark.llm import dedup as dd

    df = dd.duplicated_spans(entrymod._span_docs(spark, sf_dir), k=8, min_docs=2)
    plan = _plan_text(df)
    assert "Join" not in plan, plan


def test_repeated_spans_doc_local_no_join(spark, sf_dir):
    """r11 L332: the within-doc repeat screen is doc-local — no join
    anywhere; the only shuffles key on (doc, sh) and doc."""
    from marketing_attribution_etl_framework__maef_spark.llm import dedup as dd

    df = dd.repeated_spans(entrymod._repeat_docs(spark, sf_dir), k=8, min_repeats=2)
    plan = _plan_text(df)
    assert "Join" not in plan, plan


def test_scrub_spans_joins_are_broadcast(spark, sf_dir):
    """r11 L328: the scrub touches the token grain only through
    BROADCAST joins against the foreground-sized span store (the
    left-semi doc filter and the multiplicity-1 range join) — a
    shuffled join here would re-shuffle the token explode at corpus
    scale."""
    import re

    from marketing_attribution_etl_framework__maef_spark.llm import dedup as dd

    spans = dd.duplicated_spans(entrymod._span_docs(spark, sf_dir), k=8, min_docs=2)
    df = dd.scrub_spans(entrymod._span_docs(spark, sf_dir), spans)
    plan = _plan_text(df)
    joins = [
        ln
        for ln in plan.splitlines()
        if re.search(r"(SortMergeJoin|ShuffledHashJoin|CartesianProduct)", ln)
    ]
    assert not joins, plan
    assert "Broadcast" in plan, plan


def test_ivm_distinct_maintenance_is_one_merge_join(spark, sf_dir):
    """r11 L330: distinct-view maintenance must be ONE outer-merge
    equi-join of (delta support aggregate) against the support
    snapshot on the full (channel, user) key — never a nested-loop
    and never a second pass over the facts."""
    import re

    df = entrymod.queries()["maef_ivm_distinct"](spark, sf_dir)
    plan = _plan_text(df)
    join_lines = [
        ln
        for ln in plan.splitlines()
        if re.search(r"(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)", ln)
    ]
    assert len(join_lines) == 1, plan
    assert "FullOuter" in join_lines[0], join_lines
    assert "CartesianProduct" not in plan, plan


def test_dataset_card_is_single_fused_scan(spark, sf_dir):
    """r11 L340: the card's whole point is ONE fused scan — stats,
    lang, pii flags are chained projections and the only corpus-wide
    fact (exact-dup membership) is a frameless window on md5(norm)
    over the SAME lineage.  Pinned: exactly one parquet scan of
    documents in the plan (the unfused 4-scan join shape the
    doc_profile docstring forbids would show here first)."""
    df = entrymod.queries()["llm_dataset_card"](spark, sf_dir)
    plan = _plan_text(df)
    scans = [
        ln
        for ln in plan.splitlines()
        if "Scan parquet" in ln or "FileScan parquet" in ln
    ]
    assert len(scans) == 1, plan


def test_zone_map_skipping_joins_never_shuffle(spark, sf_dir):
    """r11 L336: the probe replay must stay metadata-sized — the
    bounds row and the month table join the zone maps via BROADCAST
    only.  Pinned: no shuffle join anywhere in the plan (a
    SortMergeJoin here would mean the bounded cross join regressed
    into a fact-grain shuffle)."""
    df = entrymod.queries()["rel_zone_map_skipping"](spark, sf_dir)
    plan = _plan_text(df)
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


def test_geo_lift_dims_broadcast(spark, sf_dir):
    """r11 L338: the customer→nation enrich must broadcast — the fact
    scan aggregates straight to the 25-market grain with no
    fact-grain shuffle join."""
    df = entrymod.queries()["maef_geo_lift"](spark, sf_dir)
    plan = _plan_text(df)
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
