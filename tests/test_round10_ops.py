"""Round-10 session additions: the streaming ANN ingest store (merge
law vs the batch assignment), the export-pipeline conservation ledger's
pack/shard invariants, the per-source PII audit, the chunk-conservation
ledger, vocabulary-coverage cutoffs, and transition entropy."""

from __future__ import annotations

import math
import os
import shutil

from pyspark.sql import functions as F

from marketing_attribution_etl_framework__maef_spark.llm import packing as pck
from marketing_attribution_etl_framework__maef_spark.llm import similarity as sim
from marketing_attribution_etl_framework__maef_spark.streaming import incremental as inc

# ------------------------------------------------- streaming ANN store


def _vecs(spark):
    rows = []
    for i in range(4):  # 4 axis centroids
        v = [0.0] * 4
        v[i] = 1.0
        rows.append((i, v))
    for i in range(4, 16):  # corpus hugging axes 0/1
        v = [0.0] * 4
        v[i % 2] = 1.0
        v[2] = 0.01 * i
        rows.append((i, v))
    # float vectors + label, matching the embeddings table contract
    # (stream_embeddings reads with schemas.EMBEDDINGS)
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).select(
        "vec_id",
        F.col("embedding").cast("array<float>").alias("embedding"),
        F.lit(0).cast("int").alias("label"),
    )


def test_ann_store_matches_batch_assignment(spark, tmp_path):
    corpus = _vecs(spark)
    cents = corpus.filter(F.col("vec_id") < 4)
    # write the corpus as TWO parquet files -> two micro-batches under
    # maxFilesPerTrigger=1, exercising the merge law across batches
    src = str(tmp_path / "vecs")
    corpus.repartition(2).write.parquet(src)
    root = str(tmp_path / "store")
    drv = inc.IncrementalANNStore(spark, root, cents)
    drv.start(inc.stream_embeddings(spark, src)).awaitTermination()
    got = {r["centroid_id"]: r for r in drv.store().collect()}

    assign = sim.ivf_assign(corpus, cents)
    batch = {
        r["cluster"]: r
        for r in assign.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("vec_id").alias("mn"),
            F.max("vec_id").alias("mx"),
        )
        .collect()
    }
    assert set(got) == set(batch)
    for cid, b in batch.items():
        assert got[cid]["n_vectors"] == b["n"]
        assert got[cid]["min_vec_id"] == b["mn"]
        assert got[cid]["max_vec_id"] == b["mx"]
    # own-centroid coherence: every corpus vector sits near axis 0/1,
    # so both clusters' mean cosine must be high (> 0.9 => q20 > 943718)
    for cid in (0, 1):
        mean_q20 = got[cid]["sum_cos_q20"] / got[cid]["n_vectors"]
        assert mean_q20 > 943718


def test_ann_store_drops_zero_norm_vectors(spark, tmp_path):
    rows = [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (7, [0.0, 0.0]), (8, [1.0, 0.1])]
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).select(
        "vec_id",
        F.col("embedding").cast("array<float>").alias("embedding"),
        F.lit(0).cast("int").alias("label"),
    )
    src = str(tmp_path / "v2")
    corpus.coalesce(1).write.parquet(src)
    drv = inc.IncrementalANNStore(
        spark, str(tmp_path / "s2"), corpus.filter(F.col("vec_id") < 2)
    )
    drv.start(inc.stream_embeddings(spark, src)).awaitTermination()
    out = drv.store().agg(F.sum("n_vectors")).collect()[0][0]
    assert out == 3  # the zero vector is not assigned anywhere


# ------------------------------------------- export-pipeline invariants


def test_pack_manifest_is_gapless_and_conserves_mass(spark):
    docs = spark.createDataFrame(
        [(i, 100 + 37 * i) for i in range(40)], "doc_id long, n_tokens long"
    )
    m = pck.pack_sequences(docs, budget=256, weight_col="n_tokens")
    agg = m.agg(
        F.sum("n_chars").alias("mass"),
        (F.max("seq_last") + 1).alias("n_seqs"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    total = sum(100 + 37 * i for i in range(40))
    assert agg["mass"] == total
    assert agg["n"] == 40
    # gapless layout <=> the last sequence index is ceil(total/budget)-1
    assert agg["n_seqs"] == (total + 255) // 256


def test_export_pipeline_ledger_carries_mass(spark, sf_dir):
    import __spark_entry__ as entry

    rows = {r["stage"]: r for r in entry.q_export_pipeline(spark, sf_dir).collect()}
    assert set(rows) == {"curate", "split_train", "pack", "shard"}
    # stage chaining: n/mass out of one stage == into the next
    assert rows["split_train"]["n_in"] == rows["curate"]["n_out"]
    assert rows["split_train"]["mass_in"] == rows["curate"]["mass_out"]
    assert rows["pack"]["mass_in"] <= rows["split_train"]["mass_out"]
    # conservation inside pack and shard
    assert rows["pack"]["mass_out"] == rows["pack"]["mass_in"]
    assert rows["shard"]["mass_out"] == rows["pack"]["mass_out"]
    assert rows["shard"]["n_in"] == rows["pack"]["n_in"]
    # the funnel only narrows
    assert rows["curate"]["n_out"] <= rows["curate"]["n_in"]
    assert rows["split_train"]["n_out"] <= rows["split_train"]["n_in"]


def test_pack_shard_ledger_on_empty_manifest_matches_oracle(spark):
    import __spark_entry__ as entry

    docs = spark.createDataFrame([], "doc_id long, n_tokens long")
    manifest = pck.pack_sequences(docs, budget=4096, weight_col="n_tokens")
    row = entry._pack_shard_ledger(manifest).collect()
    # the oracle's packagg reads 0 manifest rows, 0 mass and 0 sequences
    # off an empty train split; SUM over zero shards stays NULL
    assert [tuple(r) for r in row] == [(0, 0, 0, 0, None)]


# --------------------------------------------------------- PII audit


def test_pii_rate_counts_handmade(spark, tmp_path, monkeypatch):
    import __spark_entry__ as entry

    docs = spark.createDataFrame(
        [
            (1, "write to a.b@c.de today", "s1"),
            (2, "call 01234567890 now", "s1"),
            (3, "clean text only", "s1"),
            (4, "clean too", "s2"),
        ],
        "doc_id long, text string, source string",
    ).withColumn("lang", F.lit("en")).withColumn("n_chars", F.length("text").cast("long"))
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    docs.coalesce(1).write.parquet(os.path.join(sf, "documents.parquet"))
    out = {r["source"]: r for r in entry.q_pii_rate(spark, sf).collect()}
    # doc 1: email; doc 2: long number; doc 3: clean; doc 4: clean
    # (no doc_id%7==0 in the fixture, so no injected suffix)
    assert out["s1"]["n_docs"] == 3
    assert out["s1"]["docs_with_pii"] == 2
    assert out["s1"]["n_emails"] == 1
    assert out["s1"]["n_long_numbers"] == 1
    assert out["s2"]["docs_with_pii"] == 0
    # half-up rational: 2/3 in q20
    assert out["s1"]["pii_rate_q20"] == (2 * 2 * 1048576 + 3) // (2 * 3)


# ------------------------------------------------- chunk conservation


def test_chunk_conservation_handmade(spark, tmp_path):
    import __spark_entry__ as entry

    # 100 words: window 64 / stride 48 -> segs at 0 (64 tokens) and
    # 48 (52 tokens): 116 chunk tokens, overlap 16
    long_text = " ".join(f"w{i}" for i in range(100))
    short_text = "a b c"
    docs = spark.createDataFrame(
        [(1, long_text, "s"), (2, short_text, "s")],
        "doc_id long, text string, source string",
    ).withColumn("lang", F.lit("en")).withColumn("n_chars", F.length("text").cast("long"))
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    docs.coalesce(1).write.parquet(os.path.join(sf, "documents.parquet"))
    row = entry.q_chunk_conservation(spark, sf).collect()[0]
    assert row["n_docs"] == 2
    assert row["n_chunks"] == 3
    assert row["doc_tokens"] == 103
    assert row["chunk_tokens"] == 119
    assert row["overlap_tokens"] == 16
    assert row["n_full_cover"] == 2


# ------------------------------------------------- vocabulary coverage


def test_vocab_coverage_handmade(spark, tmp_path):
    import __spark_entry__ as entry

    # term mass: a x 60, b x 30, c x 10 -> total 100
    text = " ".join(["a"] * 60 + ["b"] * 30 + ["c"] * 10)
    docs = spark.createDataFrame(
        [(1, text, "s")], "doc_id long, text string, source string"
    ).withColumn("lang", F.lit("en")).withColumn("n_chars", F.length("text").cast("long"))
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    docs.coalesce(1).write.parquet(os.path.join(sf, "documents.parquet"))
    out = {r["pct"]: r for r in entry.q_vocab_coverage(spark, sf).collect()}
    assert out[50]["vocab_size"] == 1 and out[50]["covered_occurrences"] == 60
    assert out[90]["vocab_size"] == 2 and out[90]["covered_occurrences"] == 90
    assert out[95]["vocab_size"] == 3
    assert out[99]["vocab_size"] == 3
    assert all(r["total_occurrences"] == 100 for r in out.values())


# ------------------------------------------------- contamination rate


def test_contamination_rate_handmade(spark, tmp_path):
    import __spark_entry__ as entry

    # doc 10 is EVAL (id%10==0); doc 1 shares its 5-shingle run,
    # docs 2/3 are clean
    shared = "alpha beta gamma delta epsilon zeta"
    docs = spark.createDataFrame(
        [
            (10, shared, "s1"),
            (1, "prefix " + shared + " suffix", "s1"),
            (2, "one two three four five six seven", "s1"),
            (3, "totally different words here again now", "s2"),
        ],
        "doc_id long, text string, source string",
    ).withColumn("lang", F.lit("en")).withColumn("n_chars", F.length("text").cast("long"))
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    docs.coalesce(1).write.parquet(os.path.join(sf, "documents.parquet"))
    out = {r["source"]: r for r in entry.q_contamination_rate(spark, sf).collect()}
    assert out["s1"]["n_train"] == 2
    assert out["s1"]["n_contaminated"] == 1
    assert out["s1"]["shared_shingles"] == 2  # both 5-shingles of the run
    assert out["s2"]["n_contaminated"] == 0
    assert out["s1"]["contamination_q20"] == (2 * 1 * 1048576 + 2) // (2 * 2)


# ------------------------------------------------- transition entropy


def test_transition_entropy_bounds(spark, sf_dir):
    import __spark_entry__ as entry

    for r in entry.q_transition_entropy(spark, sf_dir).collect():
        assert r["n_transitions"] >= r["n_next_channels"] >= 1
        # 0 <= H <= log2(n_next), in q20 with half-up slack of 1
        hi = math.log2(r["n_next_channels"]) * 1048576 + 1
        assert 0 <= r["entropy_q20"] <= hi


# ------------------------------------------- planted recall / packing


def test_planted_recall_invariants(spark, sf_dir):
    import __spark_entry__ as entry

    r = entry.q_dedup_planted_recall(spark, sf_dir).collect()[0]
    assert 0 <= r["n_recovered"] <= r["n_planted"]
    assert 0 <= r["recall_q20"] <= 1048576
    assert r["n_organic"] >= 0
    # the planted copies differ by 4 appended words — the LSH stack
    # must recover a meaningful share even on the smallest corpus
    assert r["n_recovered"] > 0


def test_multimodal_pack_conserves_bytes(spark, sf_dir):
    import __spark_entry__ as entry

    r = entry.q_multimodal_pack(spark, sf_dir).collect()[0]
    d = entry._docs(spark, sf_dir).select(
        F.octet_length(F.encode(F.col("text"), "UTF-8")).cast("long").alias("b")
    )
    exp = d.filter(F.col("b") > 0).agg(
        F.count(F.lit(1)).alias("n"), F.sum("b").alias("t")
    ).collect()[0]
    assert r["n_payloads"] == exp["n"]
    assert r["total_bytes"] == exp["t"]
    assert r["n_shards"] == (exp["t"] + 65535) // 65536
    assert 0 <= r["spanning_payloads"] <= r["n_payloads"]
    assert r["spanned_bytes"] >= r["spanning_payloads"]  # each spans >=1 byte


def test_length_diversity_corr_handmade(spark, tmp_path):
    import __spark_entry__ as entry

    # source s1: length up, diversity down -> r = -1 on 3 colinear pts?
    # Use exactly anti-monotone integer pairs and verify against the
    # same integer formula computed in Python.
    texts = [
        (1, "a b c d", "s1"),               # 4 words, 4 distinct: ttr 1
        (2, "a a b b c c d d", "s1"),        # 8 words, 4 distinct: ttr .5
        (3, "a a a a b b b b c c c c", "s1"),  # 12 words, 3 distinct
    ]
    docs = spark.createDataFrame(
        texts, "doc_id long, text string, source string"
    ).withColumn("lang", F.lit("en")).withColumn(
        "n_chars", F.length("text").cast("long")
    )
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    docs.coalesce(1).write.parquet(os.path.join(sf, "documents.parquet"))
    r = entry.q_length_diversity_corr(spark, sf).collect()
    assert len(r) == 1 and r[0]["source"] == "s1" and r[0]["n_docs"] == 3
    xs = [len(t[1]) for t in texts]
    q = 1048576
    ys = [(2 * 4 * q + 4) // 8, (2 * 4 * q + 8) // 16, (2 * 3 * q + 12) // 24]
    n = 3
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx, syy = sum(x * x for x in xs), sum(y * y for y in ys)
    num = n * sxy - sx * sy
    d1, d2 = n * sxx - sx * sx, n * syy - sy * sy
    exp = math.floor(num / math.sqrt(d1 * d2) * q + 0.5)
    assert r[0]["r_q20"] == exp
    assert r[0]["r_q20"] < 0  # longer => less diverse in this fixture


# --------------------------------------------- join-view maintenance


def test_join_view_delta_matches_recompute(spark):
    from marketing_attribution_etl_framework__maef_spark.operators import ivm

    l_old = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (3, 30)], "k long, lv long"
    )
    r_old = spark.createDataFrame([(1, "a"), (2, "b")], "k long, rv string")
    # insert (3,31); retract (1,11); new dim row (3,"c")
    dl = spark.createDataFrame(
        [(3, 31, 1), (1, 11, -1)], "k long, lv long, op long"
    )
    dr = spark.createDataFrame([(3, "c", 1)], "k long, rv string, op long")
    view_old = l_old.join(r_old, "k").withColumn("op", F.lit(1).cast("long"))
    dv = ivm.join_view_delta(l_old, r_old, dl, dr, "k")
    got = sorted(
        (r["k"], r["lv"], r["rv"], r["n"])
        for r in view_old.unionByName(dv.select(*view_old.columns))
        .groupBy("k", "lv", "rv")
        .agg(F.sum("op").alias("n"))
        .filter(F.col("n") != 0)
        .collect()
    )
    # final state: L = {(1,10),(2,20),(3,30),(3,31)}, R = {1a,2b,3c}
    exp = sorted([(1, 10, "a", 1), (2, 20, "b", 1), (3, 30, "c", 1), (3, 31, "c", 1)])
    assert got == exp


def test_ivm_join_query_matches_direct(spark, sf_dir):
    import __spark_entry__ as entry
    from marketing_attribution_etl_framework__maef_spark import domain

    got = {
        (r["c_mktsegment"], r["o_orderpriority"]): (r["n_orders"], r["total_cents"])
        for r in entry.q_ivm_join(spark, sf_dir).collect()
    }
    o = domain.load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 10 != 7
    )
    c = domain.load_table(spark, sf_dir, "customer")
    direct = {
        (r["c_mktsegment"], r["o_orderpriority"]): (r["n"], r["t"])
        for r in o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
            .cast("long")
            .alias("t"),
        )
        .collect()
    }
    assert got == direct


# --------------------------------------------- streaming PII / PQ recall


def test_stream_pii_gate_equals_batch(spark, sf_dir):
    import __spark_entry__ as entry

    batch = sorted(map(tuple, entry.q_pii_rate(spark, sf_dir).collect()))
    stream = sorted(map(tuple, entry.q_stream_pii_gate(spark, sf_dir).collect()))
    assert batch == stream


def test_ann_pq_recall_invariants(spark, sf_dir):
    import __spark_entry__ as entry

    r = entry.q_ann_pq_recall(spark, sf_dir).collect()[0]
    assert r["k"] == 5
    assert 0 <= r["sum_hits"] <= 5 * r["n_queries"]
    assert 0 <= r["recall_q20"] <= 1048576
    # ADC + rerank over 12 candidates should find a solid share
    assert r["sum_hits"] > 0
