"""The three workloads. Each one generates its inputs from the seed,
runs a fixed amount of work through the package's public entry points
(closed loop, one process: the next operation starts when the previous
one has finished), and returns its end-to-end samples plus the outputs
the correctness checks read. ``traced`` replays the same work with a
span around every call into a layer.

The amount of work is derived from ``--seconds`` and a fixed per-pass
budget, never from the clock, so both sides of an A/B run do the same
work whatever their speed.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

import checks
import gen
import stats

# 300k events give about 320k journey rows, 60 % of the repository's
# sf0.1 traffic; at 30k the passes were mostly fixed per-job cost.
# Several warm passes per run, because the JIT keeps speeding the
# passes up for a while after the cold one.
BATCH = dict(n_events=300_000, n_users=30_000, days=60, zipf_a=0.5)
BATCH_PASS_S = 6.0
INCR = dict(events_per_day=2_000, n_users=1_500, zipf_a=0.5)
INCR_BATCH_S = 2.5
CORPUS = dict(n_docs=3_000, n_planted=300, n_vectors=3_000, n_queries=200, dim=64, n_clusters=32)
CORPUS_PASS_S = 10.0
KMEANS_K, KMEANS_ITER, PROBE, TOP_K = 16, 2, 2, 10
# quality floors, gated as checks: the lowest value seen over seeds
# 1-30 at the sizes above (0.933 and 0.9595), less about 0.03
PAIR_RECALL_FLOOR = 0.90
RECALL_AT_10_FLOOR = 0.93
LOOKBACK_DAYS = 30
# how far the layer spans' cover may sit from the untraced wall
TRACE_TOLERANCE = 0.25
LAYER_FIELDS = ("jobs", "stages", "tasks", "task_s", "task_cpu_s")


def passes(seconds: int, per_pass: float, minimum: int = 2) -> int:
    return max(minimum, round(seconds / per_pass))


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


class Ops:
    """Operations attempted and failed: passes, micro-batches, session
    starts and correctness checks."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def add(self, ok: bool, n: int = 1) -> bool:
        self.attempted += n
        self.failed += 0 if ok else n
        return ok


def _fresh(ctx, name: str) -> str:
    path = os.path.join(ctx.scratch, name)
    shutil.rmtree(path, ignore_errors=True)
    return path


# ---------------------------------------------------------------------------
# attribution_batch
# ---------------------------------------------------------------------------


class AttributionBatch:
    name = "attribution_batch"

    def prepare(self, ctx):
        self.dir = gen.write_events(ctx.seed, os.path.join(ctx.scratch, "batch_in"), **BATCH)
        self.events_path = os.path.join(self.dir, "events.parquet")
        self.n_passes = passes(ctx.seconds, BATCH_PASS_S)

    def _pass(self, ctx, wh: str) -> None:
        from marketing_attribution_etl_framework__maef_spark import domain
        from marketing_attribution_etl_framework__maef_spark.plans.pipeline import (
            AttributionPipeline,
            PipelineConfig,
        )

        domain.clear_events_cache()
        ctx.spark.catalog.clearCache()
        AttributionPipeline(ctx.spark, self.dir, PipelineConfig(model="ihc")).run_staged(wh)

    def run(self, ctx) -> dict:
        walls, wh = [], None
        for i in range(self.n_passes):
            prev, wh = wh, _fresh(ctx, f"batch_wh{i}")
            t = time.perf_counter()
            self._pass(ctx, wh)
            walls.append(time.perf_counter() - t)
            ctx.ops.add(True)
            ctx.rss.sample()
            if prev:
                shutil.rmtree(prev, ignore_errors=True)
        self.warehouse = wh
        return {
            "cold_s": walls[:1],
            "warm_s": walls[1:],
            "items_per_s": [BATCH["n_events"] * len(walls) / sum(walls)],
        }

    def check(self) -> list:
        return checks.batch(self.events_path, self.warehouse)

    def traced(self, ctx, tr) -> dict:
        """A cold traced replay, then two untraced ``run_staged`` passes
        and two warm traced replays in the order untraced, traced,
        traced, untraced: the passes still speed up as the JIT warms, and
        this order lets neither side gain from it. Layer figures are
        medians over the warm replays; the untraced passes give the
        tracing overhead and the yardstick for the layer spans' cover."""
        self._replay(ctx, tr, _fresh(ctx, "batch_tr0"))
        reps, plain = [], []
        for i in range(4):
            if i in (0, 3):
                wh = _fresh(ctx, f"batch_pl{i}")
                t = time.perf_counter()
                self._pass(ctx, wh)
                plain.append(time.perf_counter() - t)
                ctx.ops.add(True)
                ctx.rss.sample()
            else:
                reps.append(self._replay(ctx, tr, _fresh(ctx, f"batch_tr{i}")))
        r = reps[-1]
        self.warehouse = r["wh"]
        names = r["layers"]
        layers = {n: {f: stats.median([x["layers"][n][f] for x in reps]) for f in names[n]} for n in names}
        wall, plain_wall = stats.median([x["wall"] for x in reps]), stats.median(plain)
        # the part of the replay the layer spans cover: the root's own
        # time (parquet reads between stages, Python glue) is left out
        cover = stats.median([sum(v["self_s"] for v in x["layers"].values()) for x in reps])
        ctx.detail["trace_batch"] = {
            "traced_replay_s": [x["wall"] for x in reps],
            "untraced_run_staged_s": plain,
            "layers": layers,
            "root_self_s": stats.median([x["root_self_s"] for x in reps]),
            "layer_cover_s": cover,
            "cover_tolerance": TRACE_TOLERANCE,
            "cover_within_tolerance": abs(cover - plain_wall) <= TRACE_TOLERANCE * plain_wall,
        }
        cores = ctx.spark.sparkContext.defaultParallelism
        return {
            "domain.events_scan_s": layers["domain.events_scan"]["self_s"],
            "domain.events_rows": r["events_rows"],
            "journeys.s": layers["journeys"]["self_s"],
            "journeys.rows": r["journey_rows"],
            "journeys.fanout": r["journey_rows"] / r["conversions"],
            "journeys.jobs": layers["journeys"]["jobs"],
            "attribution.s": layers["attribution"]["self_s"],
            "attribution.jobs": layers["attribution"]["jobs"],
            "reporting.s": layers["reporting"]["self_s"],
            "reporting.jobs": layers["reporting"]["jobs"],
            "reporting.rows": r["report_rows"],
            "pipeline.gates_s": layers["pipeline.gate"]["self_s"],
            "pipeline.gate_jobs": layers["pipeline.gate"]["jobs"],
            "pipeline.task_busy_frac": stats.median([x["task_s"] / (cores * x["wall"]) for x in reps]),
            "io.bytes_written": r["bytes_written"],
            "io.write_amp": r["bytes_written"] / os.path.getsize(self.events_path),
            "trace.overhead_frac": (wall - plain_wall) / plain_wall,
        }

    def _replay(self, ctx, tr, wh: str) -> dict:
        """run_staged stage by stage through the same public calls."""
        from pyspark.sql import functions as F

        from marketing_attribution_etl_framework__maef_spark import domain
        from marketing_attribution_etl_framework__maef_spark.operators import attribution as attr
        from marketing_attribution_etl_framework__maef_spark.operators import reporting as rpt
        from marketing_attribution_etl_framework__maef_spark.plans.pipeline import (
            AttributionPipeline,
            PipelineConfig,
        )

        spark = ctx.spark
        domain.clear_events_cache()
        spark.catalog.clearCache()
        cfg = PipelineConfig(model="ihc")
        pipe = AttributionPipeline(spark, self.dir, cfg)
        jpath, apath, rpath = (os.path.join(wh, n) for n in ("journeys", "attribution", "report"))
        t = time.perf_counter()
        with tr.span("pipeline.run_staged") as root:
            with tr.span("domain.events_scan"):
                events_rows = domain.events(spark, self.dir).count()
            with tr.span("journeys"):
                pipe.journeys().write.mode("overwrite").parquet(jpath)
            journeys = spark.read.parquet(jpath)
            with tr.span("pipeline.gate"):
                if journeys.limit(1).count() == 0:
                    raise ValueError("transform produced no journey entries")
            with tr.span("attribution"):
                attr.attribute(journeys, cfg.model).write.mode("overwrite").parquet(apath)
            attribution = spark.read.parquet(apath)
            with tr.span("pipeline.gate"):
                if (attribution.agg(F.sum("ihc")).first()[0] or 0.0) <= 0:
                    raise ValueError("total ihc <= 0")
            with tr.span("reporting"):
                report = rpt.channel_report(
                    attribution,
                    pipe.sessions(),
                    domain.session_costs(spark, self.dir),
                    pipe.conversions(),
                    mode=cfg.report_mode,
                )
                rpt.export_report(report).write.mode("overwrite").parquet(rpath)
            out = spark.read.parquet(rpath)
            with tr.span("pipeline.gate"):
                if out.limit(1).count() == 0:
                    raise ValueError("channel report is empty")
        wall = time.perf_counter() - t
        ctx.ops.add(True)
        ctx.rss.sample()
        layers: dict = {}
        for s in tr.spans:
            if s["parent"] == root["id"]:
                v = layers.setdefault(s["name"], dict.fromkeys(("self_s", *LAYER_FIELDS), 0))
                v["self_s"] += tr.self_time(s)
                for f in LAYER_FIELDS:
                    v[f] += tr.count(s, f)
        for v in layers.values():
            v["share"] = v["self_s"] / wall
        # untimed row counts for the ratios
        return {
            "wh": wh,
            "wall": wall,
            "layers": layers,
            "root_self_s": tr.self_time(root),
            "task_s": tr.count(root, "task_s"),
            "events_rows": events_rows,
            "journey_rows": spark.read.parquet(jpath).count(),
            "conversions": pipe.conversions().count(),
            "report_rows": out.count(),
            "bytes_written": sum(dir_bytes(p) for p in (jpath, apath, rpath)),
        }


# ---------------------------------------------------------------------------
# attribution_incremental
# ---------------------------------------------------------------------------


class AttributionIncremental:
    name = "attribution_incremental"

    def prepare(self, ctx):
        self.n_files = passes(ctx.seconds, INCR_BATCH_S, minimum=4)
        self.dir = os.path.join(ctx.scratch, "incr_in")
        self.files = gen.write_day_files(
            ctx.seed,
            self.dir,
            n_events=INCR["events_per_day"] * self.n_files,
            n_users=INCR["n_users"],
            days=self.n_files,
            zipf_a=INCR["zipf_a"],
        )

    def _stream(self, ctx, driver_cls, root: str):
        from marketing_attribution_etl_framework__maef_spark.streaming import incremental as inc

        drv = driver_cls(ctx.spark, root, model="ihc", lookback_days=LOOKBACK_DAYS)
        t = time.perf_counter()
        src = inc.stream_events_nanos(ctx.spark, self.dir, max_files_per_trigger=1)
        q = drv.start(src, checkpoint=os.path.join(root, "_checkpoint"))
        q.awaitTermination()
        wall = time.perf_counter() - t
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        ok = q.exception() is None and len(progress) == self.n_files
        ctx.ops.add(ok, n=self.n_files)
        ctx.rss.sample()
        self.root = root
        return wall, progress

    def run(self, ctx) -> dict:
        from marketing_attribution_etl_framework__maef_spark.streaming import incremental as inc

        wall, progress = self._stream(ctx, inc.IncrementalAttribution, _fresh(ctx, "incr_root"))
        lat = [p["durationMs"]["triggerExecution"] / 1000.0 for p in progress]
        tail = stats.tail_percentile(lat)
        ctx.detail["batch_latency_s"] = lat
        ctx.detail["batch_tail"] = None if tail is None else {"percentile": tail[0], "value_s": tail[1]}
        n_events = INCR["events_per_day"] * self.n_files
        return {"cold_s": lat[:1], "warm_s": lat[1:], "items_per_s": [n_events / wall]}

    def check(self) -> list:
        from marketing_attribution_etl_framework__maef_spark.streaming import incremental as inc

        return checks.incremental(self.files, os.path.join(self.root, inc.IncrementalAttribution.ATTRIBUTION))

    def traced(self, ctx, tr) -> dict:
        from marketing_attribution_etl_framework__maef_spark.streaming import incremental as inc

        class Traced(inc.IncrementalAttribution):
            def process_batch(self, batch_df, batch_id):
                with tr.span("incr.process_batch", batch=int(batch_id)):
                    super().process_batch(batch_df, batch_id)

        _, progress = self._stream(ctx, Traced, _fresh(ctx, "incr_root"))
        spans = sorted((s for s in tr.spans if s["name"] == "incr.process_batch"), key=lambda s: s["batch"])
        warm = [p["durationMs"] for p in progress[1:]]
        lat = [d["triggerExecution"] / 1000.0 for d in warm]
        k = max(1, min(10, len(lat) // 3))
        return {
            "incr.process_batch_s": stats.median([s["end"] - s["start"] for s in spans[1:]]),
            "incr.batch_jobs": stats.median([tr.count(s, "jobs") for s in spans[1:]]),
            "incr.engine_s": stats.median([(d["triggerExecution"] - d["addBatch"]) / 1000.0 for d in warm]),
            "incr.growth": stats.median(lat[-k:]) / stats.median(lat[:k]),
            "incr.rewrite_ratio": self.rewrite_ratio(),
            "incr.session_store_bytes": dir_bytes(os.path.join(self.root, inc.IncrementalAttribution.SESSIONS)),
        }

    def rewrite_ratio(self) -> float:
        """Attribution rows rewritten ÷ rows newly attributed, over the
        whole stream. Every batch rewrites the full table, so batch i
        writes size_i rows of which new_i are new; conversions arrive
        in day order, so each row's batch is its conversion's day file."""
        import pyarrow.parquet as pq

        from marketing_attribution_etl_framework__maef_spark.streaming import incremental as inc

        conv = pq.read_table(os.path.join(self.root, inc.IncrementalAttribution.ATTRIBUTION), columns=["conv_id"])
        ids = np.asarray(conv.column("conv_id").to_pylist(), dtype=np.int64)
        bounds = np.cumsum([pq.ParquetFile(f).metadata.num_rows for f in self.files])
        new = np.bincount(np.searchsorted(bounds, ids, side="right"), minlength=len(self.files))
        return float(np.cumsum(new).sum() / new.sum())


# ---------------------------------------------------------------------------
# corpus_curation
# ---------------------------------------------------------------------------


class CorpusCuration:
    name = "corpus_curation"

    def prepare(self, ctx):
        d = os.path.join(ctx.scratch, "corpus_in")
        c = CORPUS
        self.docs_path, self.texts, self.planted = gen.write_documents(ctx.seed, d, c["n_docs"], c["n_planted"])
        self.corpus_path, self.queries_path, self.corpus, self.queries = gen.write_embeddings(
            ctx.seed + 1, d, c["n_vectors"], c["n_queries"], c["dim"], c["n_clusters"]
        )
        self.n_passes = passes(ctx.seconds, CORPUS_PASS_S)

    def _inputs(self, ctx):
        r = ctx.spark.read
        return r.parquet(self.docs_path), r.parquet(self.corpus_path), r.parquet(self.queries_path)

    def run(self, ctx) -> dict:
        from marketing_attribution_etl_framework__maef_spark.llm import dedup as dd
        from marketing_attribution_etl_framework__maef_spark.llm import similarity as sim

        walls = []
        for _ in range(self.n_passes):
            ctx.spark.catalog.clearCache()
            docs, corpus, queries = self._inputs(ctx)
            t = time.perf_counter()
            pairs = dd.minhash_dedup_pairs(docs).localCheckpoint()
            survivors = [r[0] for r in dd.survivors_from_pairs(docs, pairs).select("doc_id").collect()]
            cents = sim.kmeans_centroids(corpus, k=KMEANS_K, n_iter=KMEANS_ITER)
            top = sim.ivf_topk(
                corpus, queries, sim.centroids_as_embeddings(cents), k=TOP_K, probe=PROBE
            ).collect()
            walls.append(time.perf_counter() - t)
            ctx.ops.add(True)
            ctx.rss.sample()
        self.out = {
            "pairs": [tuple(r) for r in pairs.select("doc_a", "doc_b", "inter_size", "union_size").collect()],
            "survivors": survivors,
            "top": [tuple(r) for r in top],
        }
        ctx.detail["dedup_pair_recall"] = self.pair_recall()
        ctx.detail["ann_recall_at_10"] = self.recall_at_10()
        items = CORPUS["n_docs"] + CORPUS["n_vectors"]
        return {
            "cold_s": walls[:1],
            "warm_s": walls[1:],
            "items_per_s": [items * len(walls) / sum(walls)],
        }

    def traced(self, ctx, tr) -> dict:
        from pyspark.sql import functions as F

        from marketing_attribution_etl_framework__maef_spark.llm import dedup as dd
        from marketing_attribution_etl_framework__maef_spark.llm import similarity as sim
        from marketing_attribution_etl_framework__maef_spark.llm import text as txt

        ctx.spark.catalog.clearCache()
        docs, corpus, queries = self._inputs(ctx)
        with tr.span("llm.dedup"):
            with tr.span("dedup.signatures") as s_sig:
                norm = txt.normalize_text(F.col("text"))
                exploded = docs.select("doc_id", F.explode(txt.word_shingles(txt.words(norm), 3)).alias("shingle"))
                sigs = dd.minhash_signatures(exploded).localCheckpoint()
            with tr.span("dedup.candidates") as s_cand:
                cands = dd.candidate_pairs(dd.lsh_bands(sigs)).localCheckpoint()
                n_cands = cands.count()
            with tr.span("dedup.verify") as s_ver:
                ids = cands.select(F.col("doc_a").alias("doc_id")).unionByName(
                    cands.select(F.col("doc_b").alias("doc_id"))
                ).distinct()
                sets = dd.shingle_sets(docs.join(ids, "doc_id", "left_semi"))
                scored = dd.verify_jaccard(cands, sets)
                pairs = scored.filter(F.col("inter_size") * 2 >= F.col("union_size")).localCheckpoint()
                n_pairs = pairs.count()
            with tr.span("dedup.cluster") as s_clu:
                survivors = [r[0] for r in dd.survivors_from_pairs(docs, pairs).select("doc_id").collect()]
        with tr.span("llm.similarity"):
            with tr.span("ann.kmeans") as s_km:
                cents = sim.kmeans_centroids(corpus, k=KMEANS_K, n_iter=KMEANS_ITER)
            with tr.span("ann.ivf") as s_ivf:
                top = sim.ivf_topk(
                    corpus, queries, sim.centroids_as_embeddings(cents), k=TOP_K, probe=PROBE
                ).collect()
        ctx.ops.add(True)
        ctx.rss.sample()
        self.out = {
            "pairs": [tuple(r) for r in pairs.select("doc_a", "doc_b", "inter_size", "union_size").collect()],
            "survivors": survivors,
            "top": [tuple(r) for r in top],
        }
        cq = np.array([r[1] for r in sorted(cents.collect())], dtype=np.float64)

        def dur(s):
            return s["end"] - s["start"]

        ctx.detail["trace_corpus"] = {
            s["name"]: {"wall_s": dur(s), **{f: tr.count(s, f) for f in LAYER_FIELDS}}
            for s in (s_sig, s_cand, s_ver, s_clu, s_km, s_ivf)
        }

        return {
            "dedup.signatures_s": dur(s_sig),
            "dedup.candidates_s": dur(s_cand),
            "dedup.verify_s": dur(s_ver),
            "dedup.cluster_s": dur(s_clu),
            "dedup.candidates": n_cands,
            "dedup.pairs": n_pairs,
            "dedup.precision": n_pairs / n_cands if n_cands else 0.0,
            "dedup.cluster_jobs": tr.count(s_clu, "jobs"),
            "dedup.pair_recall": self.pair_recall(),
            "ann.kmeans_s": dur(s_km),
            "ann.ivf_s": dur(s_ivf),
            "ann.scan_frac": self.scan_frac(cq),
            "ann.recall_at_10": self.recall_at_10(),
        }

    def check(self) -> list:
        o = self.out
        return [
            *checks.dedup(self.texts, o["pairs"], o["survivors"]),
            checks.at_least("dedup.pair_recall_floor", self.pair_recall(), PAIR_RECALL_FLOOR),
            *checks.ann(self.corpus, self.queries, o["top"], TOP_K),
            checks.at_least("ann.recall_at_10_floor", self.recall_at_10(), RECALL_AT_10_FLOOR),
        ]

    # -- quality, computed outside Spark ----------------------------------
    def pair_recall(self) -> float:
        found = {(a, b) for a, b, _, _ in self.out["pairs"]}
        return sum(p in found for p in self.planted) / len(self.planted)

    def exact_topk(self) -> np.ndarray:
        c = self.corpus.astype(np.float64)
        q = self.queries.astype(np.float64)
        cos = (q @ c.T) / np.outer(np.linalg.norm(q, axis=1), np.linalg.norm(c, axis=1))
        return np.argsort(-cos, axis=1, kind="stable")[:, :TOP_K]

    def recall_at_10(self) -> float:
        truth = self.exact_topk()
        got: dict[int, set] = {}
        for qid, _, vid, _ in self.out["top"]:
            got.setdefault(qid, set()).add(vid)
        hit = sum(len(got.get(i, set()) & set(row.tolist())) for i, row in enumerate(truth))
        return hit / truth.size

    def scan_frac(self, cq: np.ndarray) -> float:
        """Rows ivf_topk scores ÷ (queries × corpus): each query scans
        the corpus vectors assigned to its ``PROBE`` nearest centroids."""
        def unit(x):
            x = x.astype(np.float64)
            return x / np.linalg.norm(x, axis=1, keepdims=True)

        cu = unit(cq)
        sizes = np.bincount(np.argmax(unit(self.corpus) @ cu.T, axis=1), minlength=len(cu))
        probes = np.argsort(-(unit(self.queries) @ cu.T), axis=1, kind="stable")[:, :PROBE]
        return float(sizes[probes].sum() / (len(self.queries) * len(self.corpus)))


WORKLOADS = {w.name: w for w in (AttributionBatch, AttributionIncremental, CorpusCuration)}
