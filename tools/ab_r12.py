"""Round-12 same-session interleaved A/B harness.

The host's speed drifts 1.5-2x across minutes (r11 diagnosis), so
cross-run before/after comparisons are not decision-grade.  This
harness runs OLD and NEW formulations of each touched query
ALTERNATING inside one Spark session (drain before every sample, min
over samples) — both formulations exist in the new tree because every
library change is an optional parameter, and the removed inline
formulations are reproduced verbatim here.

Usage: python tools/ab_r12.py [--sf SF] [--n N] [pair ...]
"""

from __future__ import annotations

import argparse
import gc
import os
import sys
import time

_REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_DIR)

import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F

import __spark_entry__ as em
from bench import prestage
from marketing_attribution_etl_framework__maef_spark import domain
from marketing_attribution_etl_framework__maef_spark.llm import classify as cls
from marketing_attribution_etl_framework__maef_spark.llm import curation as cur
from marketing_attribution_etl_framework__maef_spark.llm import dedup as dd
from marketing_attribution_etl_framework__maef_spark.llm import similarity as sim
from marketing_attribution_etl_framework__maef_spark.llm import text as txt
from marketing_attribution_etl_framework__maef_spark.session import get_spark


def _drain(spark) -> None:
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(1.25)
    spark.sparkContext._jvm.System.gc()
    time.sleep(0.75)
    spark.range(0, 32 * 50000, 1, 32).selectExpr("sum(id)").write.format(
        "noop"
    ).mode("overwrite").save()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# OLD formulations (verbatim pre-r12 inline code)
# ---------------------------------------------------------------------------


def old_truth_excl(spark, sf):
    e = em._embs(spark, sf)
    c = sim._norm_vec(e, "vec_id", "embedding", "vec_id", "_v")
    q = sim._norm_vec(
        e.filter(F.col("vec_id") % 50 == 7), "vec_id", "embedding", "query_id", "_q"
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", sim._pair_cos("_q", "_v").alias("_cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("_cos"), F.asc("vec_id"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 5)
        .select("query_id", "vec_id")
    )


def old_ann_recall(spark, sf):
    e = em._embs(spark, sf)
    return sim.ann_recall_audit(
        e, e.filter(F.col("vec_id") % 50 == 7), e.filter(F.col("vec_id") < 8), k=5, probe=2
    )


def old_ann_tuning(spark, sf):
    e = em._embs(spark, sf)
    return sim.ivf_probe_frontier(
        e, e.filter(F.col("vec_id") % 50 == 7), e.filter(F.col("vec_id") < 8),
        k=5, probes=(1, 2, 4, 8),
    )


def old_ann_recall_drift(spark, sf):
    e = em._embs(spark, sf)
    return sim.ann_recall_drift(
        e, e.filter(F.col("vec_id") % 50 == 7), e.filter(F.col("vec_id") < 8), k=5, probe=2
    )


def old_ann_pq_recall(spark, sf):
    from marketing_attribution_etl_framework__maef_spark.llm import pq

    e = em._embs(spark, sf)
    pqr = pq.ann_pq_rerank(e).select("query_id", "vec_id")
    truth = old_truth_excl(spark, sf)
    q = sim._norm_vec(
        e.filter(F.col("vec_id") % 50 == 7), "vec_id", "embedding", "query_id", "_q"
    )
    hits = truth.join(pqr, ["query_id", "vec_id"], "left_semi").agg(
        F.count(F.lit(1)).cast("long").alias("sum_hits")
    )
    nq = q.agg(F.count(F.lit(1)).cast("long").alias("n_queries"))
    return nq.crossJoin(hits).select(
        "n_queries", F.lit(5).cast("long").alias("k"), "sum_hits",
        F.expr("(2 * sum_hits * 1048576 + 5 * n_queries) div (2 * 5 * n_queries)")
        .cast("long").alias("recall_q20"),
    )


def old_ann_lsh_recall(spark, sf):
    e = em._embs(spark, sf)
    lshr = sim.lsh_multiprobe_topk(
        e, e.filter(F.col("vec_id") % 50 == 7),
        sim.random_hyperplanes(spark, n_planes=6, dim=64), k=5, t=2, exclude_self=True,
    ).select("query_id", "vec_id")
    truth = old_truth_excl(spark, sf)
    q = sim._norm_vec(
        e.filter(F.col("vec_id") % 50 == 7), "vec_id", "embedding", "query_id", "_q"
    )
    hits = truth.join(lshr, ["query_id", "vec_id"], "left_semi").agg(
        F.count(F.lit(1)).cast("long").alias("sum_hits")
    )
    nq = q.agg(F.count(F.lit(1)).cast("long").alias("n_queries"))
    return nq.crossJoin(hits).select(
        "n_queries", F.lit(5).cast("long").alias("k"), "sum_hits",
        F.expr("(2 * sum_hits * 1048576 + 5 * n_queries) div (2 * 5 * n_queries)")
        .cast("long").alias("recall_q20"),
    )


def old_ann_ensemble_recall(spark, sf):
    e = em._embs(spark, sf)
    q_set = e.filter(F.col("vec_id") % 50 == 7)
    ivfr = sim.ivf_topk(
        e, q_set, e.filter(F.col("vec_id") < 8), k=5, probe=2, exclude_self=True
    ).select("query_id", "vec_id", "cos_q20")
    lshr = sim.lsh_multiprobe_topk(
        e, q_set, sim.random_hyperplanes(spark, n_planes=6, dim=64),
        k=5, t=2, exclude_self=True,
    ).select("query_id", "vec_id", "cos_q20")
    union = ivfr.unionByName(lshr).distinct()
    we = Window.partitionBy("query_id").orderBy(F.desc("cos_q20"), F.asc("vec_id"))
    ens = (
        union.withColumn("_rn", F.row_number().over(we))
        .filter(F.col("_rn") <= 5)
        .select("query_id", "vec_id")
    )
    truth = old_truth_excl(spark, sf)
    q = sim._norm_vec(q_set, "vec_id", "embedding", "query_id", "_q")
    h_ivf = truth.join(ivfr, ["query_id", "vec_id"], "left_semi").agg(
        F.count(F.lit(1)).cast("long").alias("sum_hits_ivf")
    )
    h_lsh = truth.join(lshr, ["query_id", "vec_id"], "left_semi").agg(
        F.count(F.lit(1)).cast("long").alias("sum_hits_lsh")
    )
    h_ens = truth.join(ens, ["query_id", "vec_id"], "left_semi").agg(
        F.count(F.lit(1)).cast("long").alias("sum_hits_ens")
    )
    nq = q.agg(F.count(F.lit(1)).cast("long").alias("n_queries"))
    return (
        nq.crossJoin(h_ivf).crossJoin(h_lsh).crossJoin(h_ens)
        .select(
            "n_queries", F.lit(5).cast("long").alias("k"),
            "sum_hits_ivf", "sum_hits_lsh", "sum_hits_ens",
            F.expr("(2 * sum_hits_ens * 1048576 + 5 * n_queries) div (2 * 5 * n_queries)")
            .cast("long").alias("recall_ens_q20"),
        )
    )


def old_minhash_accuracy(spark, sf):
    return dd.minhash_accuracy(em._aug_docs(spark, sf))


def old_ann_pq(spark, sf):
    from marketing_attribution_etl_framework__maef_spark.llm import pq

    return pq.ann_pq_rerank(em._embs(spark, sf))


def old_nb_langid(spark, sf):
    docs = em._docs(spark, sf)
    tf_tab = cls.token_tf(docs, "lang", "text", "doc_id")
    counts = tf_tab.groupBy("label", "word").agg(F.sum("tf").cast("long").alias("c"))
    model = cls.nb_train(docs, "lang", "text", counts=counts)
    pred = cls.nb_predict(
        docs, model, "text", "doc_id", tf=tf_tab.select("doc_id", "word", "tf")
    )
    return (
        docs.select(F.col("doc_id"), F.col("lang").alias("lang"))
        .join(pred, "doc_id")
        .groupBy("lang", "pred_label")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


def old_pipeline_e2e(spark, sf):
    import shutil

    from marketing_attribution_etl_framework__maef_spark.operators import attribution as attr
    from marketing_attribution_etl_framework__maef_spark.operators import reporting as rpt
    from marketing_attribution_etl_framework__maef_spark.plans.pipeline import (
        AttributionPipeline,
        PipelineConfig,
    )
    from marketing_attribution_etl_framework__maef_spark.sources.io import (
        Warehouse,
        merge_upsert,
    )

    root = os.path.join(
        os.environ.get("SPARK_GRAFT_SCRATCH", "/tmp/maef_spark_scratch"),
        ".wh_e2e_ab_old",
        os.path.basename(os.path.normpath(sf)),
    )
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    pipe = AttributionPipeline(
        spark, sf, PipelineConfig(model="linear", report_mode="corrected")
    )
    wh = Warehouse(spark, root)
    wh.create_initial_schema()
    journeys = em._journeys(spark, sf)
    if journeys.limit(1).count() == 0:
        raise ValueError("transform produced no journey entries")
    att = (
        attr.attribute(journeys, "linear")
        .select("conv_id", "session_id", "ihc")
        .localCheckpoint()
    )
    merge_upsert(wh, "attribution_customer_journey", att, ["conv_id", "session_id"])
    loaded = wh.read("attribution_customer_journey")
    checks = loaded.agg(
        F.count(F.lit(1)).alias("n"), F.sum("ihc").alias("total_ihc")
    ).first()
    if checks["n"] != att.count():
        raise ValueError("load verification failed")
    if (checks["total_ihc"] or 0.0) <= 0:
        raise ValueError("total ihc <= 0 after load")
    rep = rpt.channel_report(
        loaded, pipe.sessions(), domain.session_costs(spark, sf), pipe.conversions(),
        mode="corrected",
    )
    out = rpt.export_report(rep).localCheckpoint()
    if out.limit(1).count() == 0:
        raise ValueError("channel report is empty")
    return out.select(
        "channel_name", "date",
        F.round("cost", 6).alias("cost"), F.round("ihc", 6).alias("ihc"),
        F.round("ihc_revenue", 6).alias("ihc_revenue"),
        F.round("cpo", 6).alias("cpo"), F.round("roas", 6).alias("roas"),
    )


def old_export_pipeline(spark, sf):
    from marketing_attribution_etl_framework__maef_spark.llm import packing as pck

    aug = em._aug_docs(spark, sf)
    norm = txt.normalize_text(F.col("text"))
    tot = aug.select(
        F.size(F.regexp_extract_all(norm, F.lit(txt.TOKEN_REGEX), 0))
        .cast("long").alias("_t")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_all"),
        F.sum("_t").cast("long").alias("tokens_all"),
    )
    curated = cur.curate_corpus(
        aug, corpus_pairs=em._minhash_pairs(spark, sf)
    ).localCheckpoint()
    cur_agg = curated.agg(
        F.count(F.lit(1)).cast("long").alias("n_surv"),
        F.sum("n_tokens").cast("long").alias("surv_tokens"),
    )
    train = curated.filter(F.col("split") == "train")
    train_agg = train.agg(
        F.count(F.lit(1)).cast("long").alias("n_train"),
        F.sum("n_tokens").cast("long").alias("train_tokens"),
        F.sum(F.when(F.col("n_tokens") > 0, 1).otherwise(0)).cast("long").alias("n_packable"),
        F.sum(F.when(F.col("n_tokens") > 0, F.col("n_tokens")).otherwise(0))
        .cast("long").alias("packable_tokens"),
    )
    manifest = pck.pack_sequences(train, budget=4096, weight_col="n_tokens")
    pack_agg = manifest.agg(
        F.count(F.lit(1)).cast("long").alias("n_manifest"),
        F.sum("n_chars").cast("long").alias("packed_mass"),
        (F.max("seq_last") + 1).cast("long").alias("n_seqs"),
    )
    shard = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|pack"))), 1, 15
            ), 16, 10,
        ).cast("long") % 256
    )
    shard_agg = (
        manifest.groupBy(shard.alias("_s"))
        .agg(F.sum("n_chars").cast("long").alias("_c"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shards"),
            F.sum("_c").cast("long").alias("shard_mass"),
        )
    )
    return (
        tot.crossJoin(cur_agg).crossJoin(train_agg).crossJoin(pack_agg).crossJoin(shard_agg)
        .selectExpr(
            """stack(4,
              'curate', n_docs_all, n_surv, tokens_all, surv_tokens,
              'split_train', n_surv, n_train, surv_tokens, train_tokens,
              'pack', n_packable, n_seqs, packable_tokens, packed_mass,
              'shard', n_manifest, n_shards, packed_mass, shard_mass
            ) as (stage, n_in, n_out, mass_in, mass_out)"""
        )
        .select(
            "stage",
            F.col("n_in").cast("long").alias("n_in"),
            F.col("n_out").cast("long").alias("n_out"),
            F.col("mass_in").cast("long").alias("mass_in"),
            F.col("mass_out").cast("long").alias("mass_out"),
        )
    )


# old per-event-loop sessionizer (verbatim pre-r12)
def _old_make_sessionizer(gap_minutes: int, max_events: int):
    from pyspark.sql.streaming.state import GroupState

    gap_us = gap_minutes * 60 * 1_000_000

    def _emit(user_id, start_us, end_us, n, channels):
        return pd.DataFrame(
            {
                "user_id": [user_id],
                "session_start": [pd.Timestamp(start_us, unit="us")],
                "session_end": [pd.Timestamp(end_us, unit="us")],
                "n_events": [n],
                "channels": [channels],
            }
        )

    def fn(key, pdfs, state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            start_us, end_us, n, channels = state.get
            state.remove()
            yield _emit(user_id, start_us, end_us, n, channels)
            return
        frames = list(pdfs)
        batch = pd.concat(frames)
        batch = batch.sort_values(["ts", "_tb"] if "_tb" in batch.columns else "ts")
        cur_ = state.get if state.exists else None
        out = []
        for ts, channel in zip(batch["ts"], batch["channel_name"]):
            ts_us = int(ts.value // 1000)
            if cur_ is not None and (ts_us - cur_[1] > gap_us or cur_[2] >= max_events):
                out.append(_emit(user_id, *cur_))
                cur_ = None
            if cur_ is None:
                cur_ = (ts_us, ts_us, 1, str(channel))
            else:
                cur_ = (cur_[0], ts_us, cur_[2] + 1, cur_[3] + "," + str(channel))
        if cur_ is not None:
            state.update(cur_)
            state.setTimeoutTimestamp((cur_[1] + gap_us) // 1000)
        yield from out

    return fn


def _sessionize_state_query(spark, sf, sessionizer_fn):
    import shutil

    from pyspark.sql.streaming.state import GroupStateTimeout

    from marketing_attribution_etl_framework__maef_spark.streaming import incremental as inc
    from marketing_attribution_etl_framework__maef_spark.streaming.sessionize import (
        OUTPUT_SCHEMA,
        STATE_SCHEMA,
    )

    root = os.path.join(
        os.environ.get("SPARK_GRAFT_SCRATCH", "/tmp/maef_spark_scratch"),
        ".sessionize_state_ab",
        spark.sparkContext.applicationId,
        os.path.basename(os.path.normpath(sf)),
    )
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    ev = domain.events(spark, sf).select("user_id", "ts", "event_id", "event_type")
    mx = ev.agg(F.max("ts").alias("_mx"))
    sent = (
        ev.select("user_id").distinct().crossJoin(F.broadcast(mx))
        .select(
            "user_id", F.expr("_mx + interval 61 minutes").alias("ts"),
            F.lit(10**15).cast("long").alias("event_id"),
            F.lit("zz_flush").alias("event_type"),
        )
    )
    src = os.path.join(root, "src")
    ev.unionByName(sent).coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(
        "user_id long, ts timestamp, event_id long, event_type string"
    ).parquet(src)
    sess = stream.filter(F.col("event_type") != "purchase").select(
        "user_id", "ts", F.col("event_type").alias("channel_name"),
        F.col("event_id").alias("_tb"),
    ).withWatermark("ts", "0 seconds")
    out = sess.groupBy("user_id").applyInPandasWithState(
        sessionizer_fn,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    res = inc.run_to_memory(
        out, "ab_sessionize_sink",
        partitions=spark.sparkContext.defaultParallelism, output_mode="append",
    )
    return res.filter(F.col("channels") != "zz_flush").select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        F.col("n_events").cast("long").alias("n_events"),
        "channels",
    )


def old_sessionize_state(spark, sf):
    return _sessionize_state_query(spark, sf, _old_make_sessionizer(30, 20))


def new_sessionize_state(spark, sf):
    from marketing_attribution_etl_framework__maef_spark.streaming.sessionize import (
        make_sessionizer,
    )

    return _sessionize_state_query(spark, sf, make_sessionizer(30, 20))


PAIRS = {
    "llm_ann_recall": (old_ann_recall, None),
    "llm_ann_tuning": (old_ann_tuning, None),
    "llm_ann_pq_recall": (old_ann_pq_recall, None),
    "llm_ann_lsh_recall": (old_ann_lsh_recall, None),
    "llm_ann_ensemble_recall": (old_ann_ensemble_recall, None),
    "llm_ann_recall_drift": (old_ann_recall_drift, None),
    "llm_minhash_accuracy": (old_minhash_accuracy, None),
    "llm_ann_pq": (old_ann_pq, None),
    "llm_nb_langid": (old_nb_langid, None),
    "maef_pipeline_e2e": (old_pipeline_e2e, None),
    "llm_export_pipeline": (old_export_pipeline, None),
    "maef_stream_sessionize_state": (old_sessionize_state, new_sessionize_state),
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--n", type=int, default=3)
    ap.add_argument("pairs", nargs="*")
    args = ap.parse_args()
    names = args.pairs or list(PAIRS)

    spark = get_spark("ab-r12")
    queries = em.queries()
    spark.sparkContext.setJobDescription("prestage shared stores")
    prestage(
        spark,
        args.sf,
        (
            "events", "journeys", "minhash_pairs", "dup_clusters", "kmeans8",
            "aug_kmeans8", "ngram_sets", "aug_bands", "ann_truth", "pq_index",
        ),
    )

    for name in names:
        old_fn, new_fn = PAIRS[name]
        new_fn = new_fn or queries[name]
        olds, news = [], []
        for i in range(args.n):
            for tag, fn, acc in (("old", old_fn, olds), ("new", new_fn, news)):
                _drain(spark)
                spark.sparkContext.setJobDescription(f"ab {name} {tag} #{i}")
                t0 = time.perf_counter()
                _noop(fn(spark, args.sf))
                acc.append(round(time.perf_counter() - t0, 3))
        print(
            f"{name:38s} old_min={min(olds):7.3f} new_min={min(news):7.3f} "
            f"old={olds} new={news}",
            flush=True,
        )


if __name__ == "__main__":
    main()
