"""Every metric the benchmark reports: unit, the workloads that measure
it, and what it means. ``BENCHMARK.json`` declares the same names and
units (tests/test_perfbench.py keeps the two in step).

``BENCHMARK.json`` declares two workloads, B and C. End-to-end metrics
are reported by every untraced run, each workload measuring them on its
own unit of work. Per-layer metrics come from the traced run, which
replays all three pipelines (B, I and C, the named workload first), so
every traced run reports all of them; the workload column names the
replay that measures each one. I (attribution_incremental) still runs
on its own with ``--workload attribution_incremental``.
"""

from __future__ import annotations

B, I, C = "attribution_batch", "attribution_incremental", "corpus_curation"
ALL = (B, I, C)
DECLARED = (B, C)

END_TO_END = {
    "setup_s": ("s", DECLARED, "the run's cold session start: package import, get_spark(), one trivial job"),
    "warm_s": ("s", DECLARED, "median of the units of work after the first: run_staged (B), curation pass (C); package caches cleared before each"),
    "items_per_s": ("1/s", DECLARED, "events (B) or documents plus vectors (C) per second, over every unit of work including the first"),
    "peak_rss_mb": ("MB", DECLARED, "sum of VmHWM of the Python driver, the driver JVM and the Python workers; the JVM part is mostly its fixed 1 GB heap, so heap growth inside it does not show here"),
    "heap_live_mb": ("MB", DECLARED, "driver JVM heap still in use after full GCs following the last unit of work, whose caches are left in place"),
}

PER_LAYER = {
    # session
    "session.start_s": ("s", ALL, "cold session start of the traced run"),
    # domain
    "domain.events_scan_s": ("s", (B,), "events scan into the domain cache"),
    "domain.events_rows": ("count", (B,), "events read"),
    # operators.journeys
    "journeys.s": ("s", (B,), "journey construction, written to parquet"),
    "journeys.rows": ("count", (B,), "journey rows"),
    "journeys.fanout": ("ratio", (B,), "journey rows per conversion"),
    "journeys.jobs": ("count", (B,), "Spark jobs of the journeys stage"),
    # operators.attribution
    "attribution.s": ("s", (B,), "IHC attribution, written to parquet"),
    "attribution.jobs": ("count", (B,), "Spark jobs of the attribution stage"),
    # operators.reporting
    "reporting.s": ("s", (B,), "channel report plus CPO/ROAS export, written to parquet"),
    "reporting.jobs": ("count", (B,), "Spark jobs of the report stage"),
    "reporting.rows": ("count", (B,), "report rows"),
    # plans.pipeline
    "pipeline.gates_s": ("s", (B,), "the three run_staged gates"),
    "pipeline.gate_jobs": ("count", (B,), "eager Spark jobs the gates fire"),
    "pipeline.task_busy_frac": ("ratio", (B,), "executor task run time / (cores x replay wall): low means per-job and driver overhead, not task work"),
    # sources.io (stage tables)
    "io.bytes_written": ("bytes", (B,), "bytes of the three stage tables"),
    "io.write_amp": ("ratio", (B,), "stage-table bytes / input bytes"),
    # streaming.incremental + operators.loader
    "incr.process_batch_s": ("s", (I,), "median process_batch wall of the warm micro-batches"),
    "incr.batch_jobs": ("count", (I,), "median Spark jobs per micro-batch"),
    "incr.engine_s": ("s", (I,), "median triggerExecution - addBatch: engine time outside foreachBatch"),
    "incr.growth": ("ratio", (I,), "median latency of the last warm batches / the first (up to 10 each)"),
    "incr.rewrite_ratio": ("ratio", (I,), "attribution rows rewritten / rows newly attributed, whole stream"),
    "incr.session_store_bytes": ("bytes", (I,), "session store size at the end of the stream"),
    # llm.dedup
    "dedup.signatures_s": ("s", (C,), "shingling plus MinHash signatures"),
    "dedup.candidates_s": ("s", (C,), "LSH bands plus candidate pairs"),
    "dedup.verify_s": ("s", (C,), "exact Jaccard verification"),
    "dedup.cluster_s": ("s", (C,), "cluster_duplicates plus survivors"),
    "dedup.candidates": ("count", (C,), "candidate pairs"),
    "dedup.pairs": ("count", (C,), "verified pairs"),
    "dedup.precision": ("ratio", (C,), "verified pairs / candidate pairs"),
    "dedup.cluster_jobs": ("count", (C,), "Spark jobs of the clustering loop"),
    "dedup.pair_recall": ("ratio", (C,), "planted near-duplicate pairs found / planted"),
    # llm.similarity
    "ann.kmeans_s": ("s", (C,), "kmeans_centroids"),
    "ann.ivf_s": ("s", (C,), "ivf_topk for all queries"),
    "ann.scan_frac": ("ratio", (C,), "rows scored / (queries x corpus)"),
    "ann.recall_at_10": ("ratio", (C,), "overlap with numpy exact cosine top-10"),
    # the benchmark itself
    "trace.overhead_frac": ("ratio", (B,), "(traced replay - untraced run_staged) / untraced, warm medians"),
}
