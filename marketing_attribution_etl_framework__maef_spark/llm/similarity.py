"""Similarity search over an embedding column (array<float>).

Two paths, same interface:

- ``brute_topk``: exact cosine top-k — one pass over the corpus per
  query batch. The query side is broadcast, the corpus side streams:
  O(N * Q) left-fold dot products, no shuffle at all until the
  per-query top-k window. This is the correctness baseline and is
  perfectly fine when Q is small.
- ``ivf_topk``: IVF-flat pruning — vectors are assigned to their
  nearest centroid once, queries probe only the ``probe`` nearest
  clusters, so the scanned fraction is ~probe/n_centroids of the
  corpus. Centroid choice is pluggable; the default (first
  ``n_centroids`` vectors) is deterministic so results are exactly
  reproducible in the SQL oracle. At 100 TB you'd feed k-means
  centroids and partition the corpus by cluster id so probes prune at
  the parquet-partition level (dynamic partition pruning).

Dot products are left folds in element order over double-cast arrays,
so a float result is identical wherever it is evaluated.  Two forms
compute them: ``zip_with`` + ``aggregate`` column algebra (``dot``,
``cosine``, ``idot`` and the operators built on them), and the numpy
kernels of ``llm/kernels.py``, which ``quantized_unit_vectors``,
``kmeans_centroids``, ``ivf_assign`` and ``ivf_topk`` run through
``mapInArrow``.  The kernels fold in the same order, so both forms give
the same bits; they exist because the higher-order-function lambdas
are interpreted per element and dominated the k-means and IVF wall.
Cosines are emitted in 2^20 binary fixed point (``cos_q20``) — see
__spark_entry__._q20 for why decimal rounding is not engine-stable.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from marketing_attribution_etl_framework__maef_spark.llm import kernels

# Spark type of a kernel's integer id column, by numpy dtype
_SQL_INT = {"int8": "tinyint", "int16": "smallint", "int32": "int", "int64": "bigint"}


def as_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Left-fold dot product — element order fixed, so the float
    result is identical wherever the expression is evaluated."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def q20(c: Column) -> Column:
    """Binary fixed-point quantization (1/2^20 units) — cross-engine
    stable for comparison hashing."""
    return F.floor(c * F.lit(1048576.0) + F.lit(0.5)).cast("long")


def _norm_vec(df: DataFrame, id_col: str, vec_col: str, out_id: str, out_vec: str) -> DataFrame:
    """Project (id, double vector, precomputed L2 norm): norms are
    computed once per vector, so each candidate pair later costs ONE
    dot product instead of three (dot + both self-dots)."""
    v = as_double(F.col(vec_col))
    return df.select(
        F.col(id_col).alias(out_id),
        v.alias(out_vec),
        F.sqrt(dot(v, v)).alias(out_vec + "n"),
    )


def _pair_cos(va: str, vb: str) -> Column:
    return dot(F.col(va), F.col(vb)) / (F.col(va + "n") * F.col(vb + "n"))


def _id_type(df: DataFrame, col: str) -> str:
    return df.schema[col].dataType.simpleString()


def _collect(df: DataFrame, id_col: str, vec_col: str, dtype=np.float64):
    """(ids, (n, d) matrix, row mask) of a bounded vector table, read
    on the driver through Arrow."""
    t = df.select(id_col, vec_col).toArrow()
    m, ok = kernels.matrix(t.column(1).combine_chunks(), dtype)
    return kernels.ints(t.column(0).combine_chunks()), m, ok


def _vectors(df: DataFrame, id_col: str, vec_col: str) -> kernels.Vectors:
    """A bounded vector table (centroids, queries) for the kernels:
    sorted by id, norms precomputed, null and zero-norm rows dropped."""
    return kernels.vectors(*_collect(df, id_col, vec_col))


def _assigned(
    corpus: DataFrame, cents: kernels.Vectors, id_col: str, vec_col: str
) -> DataFrame:
    """(vec_id, _v, _vn, cluster, _cs): each nonzero corpus vector's
    max-cosine centroid, lowest centroid id on ties, and that cosine."""
    schema = (
        f"vec_id {_id_type(corpus, id_col)}, _v array<double>, _vn double,"
        f" cluster {_SQL_INT[cents.ids.dtype.name]}, _cs double"
    )
    return corpus.select(id_col, vec_col).mapInArrow(
        lambda batches: (kernels.assign(b, cents) for b in batches), schema
    )


def brute_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k: (query_id, rank, vec_id, cos_q20).
    Ties broken by vec_id so ranking is total and deterministic."""
    c = _norm_vec(corpus, id_col, vec_col, "vec_id", "_v")
    q = _norm_vec(queries, query_id_col, vec_col, "query_id", "_q")
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id", "vec_id", _pair_cos("_q", "_v").alias("_cos")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("_cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", q20(F.col("_cos")).alias("cos_q20"))
    )


def hybrid_rrf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k_list: int = 20,
    k_out: int = 10,
    k_const: int = 60,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hybrid retrieval via Reciprocal Rank Fusion: two ranking
    functions (cosine and raw dot product) computed from ONE corpus
    scan, each yielding a top-``k_list`` list per query, fused as
    rrf = 1/(k+r_cos) + 1/(k+r_dot) (a missing list contributes 0)
    and re-ranked to ``k_out``. This is the standard way multi-signal
    retrieval (dense + lexical, or here two dense scorers) is merged
    in training-data pipelines — rank fusion needs no score
    calibration between the signals.

    Cross-engine exactness: the fused score is a sum of two exact
    rationals of INTEGER ranks (denominators 61..80 — non-dyadic, so
    q20 never lands on a boundary); ties break by vec_id. 100-TB
    shape: identical to the brute baseline (queries broadcast, one
    corpus scan, two rank windows sharing the query_id partitioning);
    swap the scan for an IVF/LSH candidate set (ivf_topk/lsh_topk)
    for the approximate path — the fusion stage is unchanged.
    """
    c = _norm_vec(corpus, id_col, vec_col, "vec_id", "_v")
    q = _norm_vec(queries, id_col, vec_col, "query_id", "_q")
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id",
        "vec_id",
        dot(F.col("_q"), F.col("_v")).alias("_dot"),
        _pair_cos("_q", "_v").alias("_cos"),
    )
    wc = Window.partitionBy("query_id").orderBy(F.desc("_cos"), F.asc("vec_id"))
    wd = Window.partitionBy("query_id").orderBy(F.desc("_dot"), F.asc("vec_id"))
    ranked = scored.select(
        "query_id",
        "vec_id",
        F.row_number().over(wc).alias("_rc"),
        F.row_number().over(wd).alias("_rd"),
    ).filter((F.col("_rc") <= k_list) | (F.col("_rd") <= k_list))
    kc = F.lit(float(k_const))
    score = F.when(F.col("_rc") <= k_list, F.lit(1.0) / (kc + F.col("_rc"))).otherwise(
        F.lit(0.0)
    ) + F.when(F.col("_rd") <= k_list, F.lit(1.0) / (kc + F.col("_rd"))).otherwise(F.lit(0.0))
    wf = Window.partitionBy("query_id").orderBy(F.desc("_score"), F.asc("vec_id"))
    return (
        ranked.withColumn("_score", score)
        .withColumn("rank", F.row_number().over(wf))
        .filter(F.col("rank") <= k_out)
        .select("query_id", "rank", "vec_id", q20(F.col("_score")).alias("rrf_q20"))
    )


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid assignment (max cosine, centroid-id tie-break)
    -> (vec_id, _v, _vn, cluster).  The centroid table is bounded, so
    it is collected once; one kernel pass over the corpus assigns every
    vector.  Zero-norm (and null) vectors and centroids are dropped:
    they have no direction, and their cosine would divide by zero."""
    cents = _vectors(centroids, id_col, vec_col)
    return _assigned(corpus, cents, id_col, vec_col).drop("_cs")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    exclude_self: bool = False,
) -> DataFrame:
    """IVF-flat approximate top-k: assign corpus to clusters, probe the
    ``probe`` nearest clusters per query, brute-force only inside them.
    Output (query_id, rank, vec_id, cos_q20) like brute_topk — recall
    is traded for scanning ~probe/n_centroids of the corpus.

    Centroids and queries are the bounded side (brute_topk broadcasts
    its queries the same way): both are collected once.  One kernel
    pass over the corpus assigns each vector, scores only the pairs
    whose cluster the query probes, and keeps each batch's top ``k``
    per query; the final rank window and q20 run in Spark.  Zero-norm
    vectors, queries and centroids are dropped (see ivf_assign)."""
    cents = _vectors(centroids, id_col, vec_col)
    qs = _vectors(queries, query_id_col, vec_col)
    probes = kernels.probe_lists(qs, cents, probe)
    schema = (
        f"query_id {_id_type(queries, query_id_col)},"
        f" vec_id {_id_type(corpus, id_col)}, _cos double"
    )
    cand = corpus.select(id_col, vec_col).mapInArrow(
        lambda batches: (
            kernels.ivf_candidates(b, cents, qs, probes, k, exclude_self) for b in batches
        ),
        schema,
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("_cos"), F.asc("vec_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", q20(F.col("_cos")).alias("cos_q20"))
    )


def idot(a: Column, b: Column) -> Column:
    """Integer dot product over long arrays — exact, order-independent,
    so it is bit-identical across engines by construction (q20 unit
    vectors keep every partial sum far below 2^53)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, v: acc + v
    )


def quantized_unit_vectors(
    corpus: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(vec_id, q20-quantized unit vector): x -> floor(x/||v|| * 2^20
    + 1/2) as long. Normalizing first makes k-means on these integers
    *spherical* k-means (L2 on unit vectors is monotone in cosine), and
    quantizing makes every later distance/centroid computation exact
    integer math — the only floats are the one normalize division and
    the final cosine, both IEEE-identical across engines.

    All-zero vectors are dropped: they have no direction to cluster
    by, and 0/0 would otherwise produce NaN that the two engines
    coerce differently (Spark NaN->0 long, DuckDB errors on the
    cast)."""
    return corpus.select(id_col, vec_col).mapInArrow(
        lambda batches: map(kernels.quantize, batches),
        f"vec_id {_id_type(corpus, id_col)}, qv array<bigint>",
    )


def _kmeans_seeds(q: DataFrame, k: int) -> DataFrame:
    """The k initial centroids (cluster, cq): the q20 vectors with the
    smallest md5(vec_id), a fixed pseudo-random draw both engines
    replay, numbered 0..k-1 in that order."""
    w0 = Window.orderBy("_m", "vec_id")
    return (
        q.select("vec_id", "qv", F.md5(F.col("vec_id").cast("string")).alias("_m"))
        .orderBy("_m", "vec_id")
        .limit(k)
        .select(
            (F.row_number().over(w0) - 1).cast("long").alias("cluster"),
            F.col("qv").alias("cq"),
        )
    )


def kmeans_centroids(
    corpus: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed Lloyd k-means over q20 unit vectors -> (cluster, cq)
    centroid table (cq = array<long> in q20 units).

    Deterministic end to end: seeds are ``_kmeans_seeds``; assignment
    maximizes the exact integer 2 q.c - c.c (argmin of the squared L2,
    whose q.q term is constant per vector) with centroid-id tie-break;
    the centroid update is floor(SUM/COUNT) where SUM is an exact
    integer — no float accumulation anywhere, so the DuckDB oracle
    unrolls the same iterations bit-identically.

    Scale shape per iteration: the k-row centroid table is collected
    (bounded), one kernel pass over the persisted q20 vectors emits
    each batch's per-cluster component sums and counts (the map-side
    combine), and a groupBy(cluster, pos) reduce of k*dim rows per
    batch takes floor(SUM/COUNT). Centroids are localCheckpointed
    between iterations so the driver plan stays flat (see
    cluster_duplicates for why). Empty clusters drop out rather than
    being re-seeded — acceptable for IVF pruning, documented here.
    At 100 TB you would persist the assignment of the LAST iteration
    and write the corpus partitioned by cluster so IVF probes prune at
    the storage layer (dynamic partition pruning)."""
    q = quantized_unit_vectors(corpus, id_col, vec_col).persist(StorageLevel.MEMORY_AND_DISK)
    cents = _kmeans_seeds(q, k).localCheckpoint()
    for _ in range(n_iter):
        cids, cq, _ = _collect(cents, "cluster", "cq", np.int64)
        order = np.argsort(cids, kind="stable")
        cids, cq = cids[order], cq[order]
        partials = q.mapInArrow(
            lambda batches, cids=cids, cq=cq: (
                kernels.kmeans_partials(b, cids, cq) for b in batches
            ),
            "cluster bigint, pos bigint, s bigint, n bigint",
        )
        sums = partials.groupBy("cluster", "pos").agg(
            F.sum("s").alias("_s"), F.sum("n").alias("_n")
        )
        new_comp = F.floor(F.col("_s").cast("double") / F.col("_n")).cast("long")
        cents = (
            sums.select("cluster", "pos", new_comp.alias("comp"))
            .groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "comp"))), lambda s: s["comp"]
                ).alias("cq")
            )
            .localCheckpoint()
        )
    q.unpersist()
    return cents


def centroids_as_embeddings(cents: DataFrame) -> DataFrame:
    """Adapt a (cluster, cq) centroid table to the (vec_id, embedding)
    shape ivf_topk expects; q20 integers become integer-valued doubles
    (exact), and cosine is scale-invariant so the q20 scale is free."""
    return cents.select(
        F.col("cluster").alias("vec_id"),
        F.transform("cq", lambda x: x.cast("double")).alias("embedding"),
    )


def random_hyperplanes(spark, n_planes: int = 6, dim: int = 64) -> DataFrame:
    """Deterministic pseudo-random hyperplanes for sign-LSH: component
    (j, d) is the 60-bit md5 integer of "j_d" scaled into [-1, 1).
    md5-derived, so the oracle can rebuild the exact same planes in
    SQL — no RNG state anywhere."""
    d_idx = F.sequence(F.lit(1), F.lit(dim))
    comp = lambda d: (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("id").cast("string"), F.lit("_"), d.cast("string"))), 1, 15
            ),
            16,
            10,
        ).cast("long")
        / F.lit(float(1 << 59))
        - F.lit(1.0)
    )
    return spark.range(n_planes).select(
        F.col("id").cast("int").alias("plane"),
        F.transform(d_idx, comp).alias("h"),
    )


def lsh_sketch(
    corpus: DataFrame,
    planes: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Sign-LSH bucket per vector: bit j = sign(v . h_j); bucket =
    sum of set bits. One broadcast of the (tiny) plane table and one
    grouped SUM — n_planes dot products per vector, no shuffle of the
    vectors themselves beyond the final groupBy."""
    c = _norm_vec(corpus, id_col, vec_col, "vec_id", "_v")
    scored = c.crossJoin(F.broadcast(planes)).select(
        "vec_id",
        "_v",
        "_vn",
        F.when(
            dot(F.col("_v"), F.col("h")) >= 0,
            F.pow(F.lit(2.0), F.col("plane")).cast("long"),
        )
        .otherwise(F.lit(0))
        .alias("_bit"),
    )
    return scored.groupBy("vec_id", "_v", "_vn").agg(F.sum("_bit").alias("bucket"))


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    planes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
) -> DataFrame:
    """Sign-LSH approximate top-k: brute-force only within the query's
    bucket. The bucket join is an equi-join on the sketch — at scale,
    partition (or bucket-write) the corpus by sketch value and probes
    prune at the storage layer. More planes = smaller buckets = faster
    and lower recall; complements ivf_topk's centroid pruning."""
    c_sk = lsh_sketch(corpus, planes, id_col, vec_col)
    q_sk = lsh_sketch(queries, planes, query_id_col, vec_col).select(
        F.col("vec_id").alias("query_id"),
        F.col("_v").alias("_q"),
        F.col("_vn").alias("_qn"),
        "bucket",
    )
    cand = q_sk.join(c_sk, on="bucket", how="inner").select(
        "query_id", "vec_id", _pair_cos("_q", "_v").alias("_cos")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("_cos"), F.asc("vec_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", q20(F.col("_cos")).alias("cos_q20"))
    )


def lsh_multiprobe_topk(
    corpus: DataFrame,
    queries: DataFrame,
    planes: DataFrame,
    k: int = 5,
    t: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    exclude_self: bool = False,
) -> DataFrame:
    """Multiprobe sign-LSH top-k: each query probes its own bucket PLUS
    the ``t`` buckets reached by flipping the sign bit whose projection
    magnitude |q.h_j| is smallest — the planes the query sits closest
    to, i.e. exactly where a true neighbour most likely landed on the
    other side. Recovers most of the recall single-bucket LSH loses for
    a (t+1)/2^n_planes corpus-scan fraction instead of 1/2^n_planes.

    Flip choice is deterministic cross-engine: the dots are the same
    left-fold floats in both engines, ordered by (|dot|, plane). Each
    corpus vector lives in exactly one bucket, so probing distinct
    buckets can never produce duplicate candidates. Scale shape is the
    same equi-join as lsh_topk, with t+1 probe rows per query."""
    c_sk = lsh_sketch(corpus, planes, id_col, vec_col)
    q = _norm_vec(queries, query_id_col, vec_col, "query_id", "_q")
    qd = q.crossJoin(F.broadcast(planes)).select(
        "query_id", "_q", "_qn", "plane", dot(F.col("_q"), F.col("h")).alias("_d")
    )
    agg = qd.groupBy("query_id", "_q", "_qn").agg(
        F.sum(
            F.when(F.col("_d") >= 0, F.pow(F.lit(2.0), F.col("plane")).cast("long")).otherwise(
                F.lit(0)
            )
        ).alias("bucket"),
        F.array_sort(
            F.collect_list(F.struct(F.abs("_d").alias("a"), F.col("plane").alias("p")))
        ).alias("_fl"),
    )
    flip_buckets = F.transform(
        F.slice("_fl", 1, t),
        lambda f: F.col("bucket").bitwiseXOR(F.pow(F.lit(2.0), f["p"]).cast("long")),
    )
    ex = agg.select(
        "query_id",
        "_q",
        "_qn",
        F.explode(F.array_union(F.array(F.col("bucket")), flip_buckets)).alias("bucket"),
    )
    cand = ex.join(c_sk, on="bucket", how="inner").select(
        "query_id", "vec_id", _pair_cos("_q", "_v").alias("_cos")
    )
    if exclude_self:
        # recall audits compare against self-excluded exact truth (the
        # L322 convention): drop the query's own corpus row before
        # ranking so rank 1 is not a guaranteed free hit
        cand = cand.filter(F.col("vec_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(F.desc("_cos"), F.asc("vec_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", q20(F.col("_cos")).alias("cos_q20"))
    )


def embedding_neardup_pairs(
    corpus: DataFrame,
    threshold: float = 0.9,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-duplicate vector pairs with cosine >= threshold, blocked by
    ``block_col`` (cluster id / shard key): the join is quadratic only
    within a block. For open-corpus near-dup at scale, block by IVF
    cluster from ``ivf_assign`` instead of a label column — same shape,
    bounded blocks."""
    v = as_double(F.col(vec_col))
    n = F.sqrt(dot(v, v))
    # persist the normed projection: both join branches read it, so the
    # norm is computed once per vector, not once per side
    normed = corpus.select(
        F.col(block_col).alias("_blk"), F.col(id_col).alias("_id"), v.alias("_v"), n.alias("_n")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    a = normed.select(
        "_blk", F.col("_id").alias("vec_a"), F.col("_v").alias("_va"), F.col("_n").alias("_van")
    )
    b = normed.select(
        "_blk", F.col("_id").alias("vec_b"), F.col("_v").alias("_vb"), F.col("_n").alias("_vbn")
    )
    cos = _pair_cos("_va", "_vb")
    return (
        a.join(b, on="_blk", how="inner")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", cos.alias("_cos"))
        .filter(F.col("_cos") >= F.lit(float(threshold)))
        .select("vec_a", "vec_b", q20(F.col("_cos")).alias("cos_q20"))
    )


def semantic_dedup(
    corpus: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    tau_q20: int = 995000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the embeddings, then inside each
    cluster drop every vector that has a smaller-id neighbor with
    cosine >= tau. Returns survivors as (vec_id, cluster).

    The pairwise test runs ONLY within a cluster (the paper's central
    trick): cost is sum of cluster sizes squared, never corpus². The
    smaller-id-wins rule replaces the paper's keep-farthest-from-
    centroid so both engines pick identical survivors deterministically.

    The threshold is compared in q20 fixed point (cosines of float
    vectors are irrational-ish, so quantization ties cannot straddle
    engines — CLAUDE.md float policy).

    Scale: centroids broadcast (k rows); assignment is one corpus pass;
    the self-join shuffles on cluster id. At 100 TB pick k ~ n/5000 so
    clusters stay bounded, write the corpus partitioned by cluster, and
    the intra-cluster join becomes partition-local (no shuffle at all).
    Zero vectors have no direction, so (mirroring
    quantized_unit_vectors) they are excluded from clustering and kept
    as survivors with cluster = -1.
    """
    # ``centroids``: a precomputed kmeans_centroids table (cluster, cq)
    # — the production centroid store, staged once per session exactly
    # like the near-dup pair store; result-identical since the Lloyd
    # loop is a pure function of the corpus.
    cents = (
        kmeans_centroids(corpus, k=k, n_iter=n_iter, id_col=id_col, vec_col=vec_col)
        if centroids is None
        else centroids
    )
    normed = _norm_vec(corpus, id_col, vec_col, "vec_id", "_v")
    zeros = normed.filter(F.col("_vn") <= 0).select(
        "vec_id", F.lit(-1).cast("long").alias("cluster")
    )
    # ivf_assign drops the zero vectors itself. The assignment feeds
    # THREE consumers (both self-join branches + the survivor
    # anti-join) and its lineage is the whole kmeans+assignment
    # pipeline — materialize ONCE (A/B at sf0.1: localCheckpoint 4.0 s
    # vs lazy 4.9 s warm / 13.5 s cold; the plan audit showed 28 scans
    # lazily). At production scale this is the write of the
    # cluster-assignment table that IVF probing also wants
    # storage-partitioned.
    assign = ivf_assign(corpus, centroids_as_embeddings(cents), id_col, vec_col).localCheckpoint()

    a = assign.select(
        "cluster",
        F.col("vec_id").alias("id_a"),
        F.col("_v").alias("_va"),
        F.col("_vn").alias("_van"),
    )
    b = assign.select(
        "cluster",
        F.col("vec_id").alias("id_b"),
        F.col("_v").alias("_vb"),
        F.col("_vn").alias("_vbn"),
    )
    losers = (
        a.join(b, on="cluster", how="inner")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_b", q20(_pair_cos("_va", "_vb")).alias("_cq"))
        .filter(F.col("_cq") >= F.lit(int(tau_q20)))
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    survivors = assign.join(losers, "vec_id", "left_anti").select("vec_id", "cluster")
    return survivors.unionByName(zeros)


def random_projection(
    embs: DataFrame,
    out_dim: int = 16,
    in_dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Johnson-Lindenstrauss sign random projection: dim 64 -> 16 with
    a +-1 matrix derived from md5 (Achlioptas 2003 database-friendly
    projection) — the dimensionality-reduction front-end for ANN at
    scale (project, bucket, rerank exact on candidates).

    The sign matrix is a pure function of (d, j) via the repo's
    engine-portable md5-parity (CLAUDE.md hashing rule), materialized
    driver-side as ``out_dim`` literal sign arrays (bounded state:
    in_dim x out_dim values) so the projection is a per-row
    ``zip_with`` + ordered ``aggregate`` fold — no explode, no join,
    no shuffle until the caller aggregates.  hashlib.md5 here ==
    SQL md5 in both engines, so the oracle rebuilds the identical
    matrix from SQL.

    Output: (vec_id, j, comp_q20) — long grain, one row per output
    dimension; q20 absorbs fold-order vs group-sum ulp noise (sums of
    products of "random" floats sit ~1e-16 from a boundary with
    probability ~1e-10 per value — the ANN cosine argument).
    """
    import hashlib

    signs = [
        [
            1.0 if int(hashlib.md5(f"{d}_{j}".encode()).hexdigest()[:15], 16) % 2 == 0 else -1.0
            for d in range(in_dim)
        ]
        for j in range(out_dim)
    ]
    v = as_double(F.col(vec_col))
    comps = [
        F.aggregate(
            F.zip_with(v, F.array(*[F.lit(s) for s in signs[j]]), lambda x, s: x * s),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias(f"_c{j}")
        for j in range(out_dim)
    ]
    wide = embs.select(F.col(id_col), *comps)
    stacked = wide.select(
        id_col,
        F.expr(
            "stack({n}, {args}) as (j, comp)".format(
                n=out_dim,
                args=", ".join(f"cast({j} as bigint), _c{j}" for j in range(out_dim)),
            )
        ),
    )
    return stacked.select(id_col, "j", q20(F.col("comp")).alias("comp_q20"))


def ann_recall_audit(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    probe: int = 2,
    truth: DataFrame | None = None,
) -> DataFrame:
    """Recall@k audit of the IVF index against exact brute-force
    ground truth, per query — the ANN twin of the MinHash estimator
    calibration (llm/dedup.py minhash_accuracy): before trusting a
    bucketed index at scale, measure what its pruning actually costs
    on a query sample.

    Both rankings are deterministic (cosine desc, vec_id tie-break),
    so recall is an exact integer: |ivf_topk ∩ brute_topk| via a
    left-semi-style join on (query_id, vec_id).  recall_q20 is the
    half-up device over (hits, k).

    Scale: this runs on a QUERY SAMPLE (the ground truth is a brute
    scan per query — that is the audit's price, paid on q queries, not
    the corpus); the IVF side prunes normally.  Output:
    (query_id, n_hits, recall_q20), one row per query — queries whose
    probed buckets miss everything still appear (hits 0) because the
    truth side is the spine.

    ``truth``: optionally a precomputed (ideally checkpointed) exact
    top-k table with (query_id, vec_id) — result-identical to the
    inline ``brute_topk`` by the shared-truth-store argument
    (__spark_entry__._ann_truth); skips the brute corpus scan.
    """
    if truth is None:
        truth = brute_topk(corpus, queries, k).select("query_id", "vec_id")
    truth = truth.select("query_id", F.col("vec_id").alias("_tv"))
    approx = ivf_topk(corpus, queries, centroids, k=k, probe=probe).select(
        "query_id", F.col("vec_id").alias("_av"), F.lit(1).alias("_hit")
    )
    joined = truth.join(
        approx,
        (truth["query_id"] == approx["query_id"]) & (truth["_tv"] == approx["_av"]),
        "left",
    ).select(truth["query_id"], "_hit")
    return (
        joined.groupBy("query_id")
        .agg(F.coalesce(F.sum("_hit"), F.lit(0)).cast("long").alias("n_hits"))
        .select(
            "query_id",
            "n_hits",
            F.expr(f"(2 * n_hits * 1048576 + {k}) div (2 * {k})")
            .cast("long")
            .alias("recall_q20"),
        )
    )


def ivf_probe_frontier(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    probes: tuple = (1, 2, 4, 8),
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    truth: DataFrame | None = None,
) -> DataFrame:
    """IVF auto-tuning readout (VERDICT r08 #8a): the nprobe/recall
    frontier — for each probe level, aggregate recall@k of the IVF
    index against exact brute-force truth on the query sample, plus
    the candidate volume the level actually scans.  This is the IVF
    twin of the dedup threshold ladder (llm/dedup.py
    dedup_threshold_sweep): the operating-point table a deployment
    reads to pick nprobe, instead of trusting a single configured
    value (the L233 audit measures ONE point; this sweeps the curve).

    One lineage, no per-level recompute: the query->centroid ranking
    is computed once and every corpus candidate carries its probed
    centroid's rank, so level p's candidate set is just ``crank <=
    p`` — the levels explode a bounded literal array (|probes| rows
    per candidate), and one (probe, query) window ranks all levels
    together.  Truth is the brute top-k on the query sample (the
    audit's price, paid on q queries, not the corpus).

    Output per probe level: (probe, sum_hits, recall_q20,
    n_candidates, scan_share_q20) where recall = sum_hits /
    (k * n_queries) and scan_share = n_candidates / (n_queries *
    n_corpus) — both half-up q20.  Monotone by construction: larger
    probe supersets candidates, so recall and scan share both rise;
    the frontier's knee is the tuning answer.

    Scale: candidate volume is sum_p (p / n_centroids) of the
    query-sample x corpus cross product — the same pruning ivf_topk
    ships, summed over the grid; everything else is bounded
    (centroids broadcast, probe grid literal).
    """
    levels = sorted(set(int(p) for p in probes))
    max_p = levels[-1]
    assign = ivf_assign(corpus, centroids, id_col, vec_col)
    q = _norm_vec(queries, id_col, vec_col, "query_id", "_q")
    cents = _norm_vec(centroids, id_col, vec_col, "centroid_id", "_c")
    wq = Window.partitionBy("query_id").orderBy(F.desc("_cs"), F.asc("centroid_id"))
    probed = (
        q.crossJoin(F.broadcast(cents))
        .select(
            "query_id", "_q", "_qn", "centroid_id", _pair_cos("_q", "_c").alias("_cs")
        )
        .withColumn("_crank", F.row_number().over(wq))
        .filter(F.col("_crank") <= max_p)
        .select(
            "query_id", "_q", "_qn", F.col("centroid_id").alias("cluster"), "_crank"
        )
    )
    cand = probed.join(assign, "cluster").select(
        "query_id", "vec_id", "_crank", _pair_cos("_q", "_v").alias("_cos")
    )
    lv = F.explode(F.array(*[F.lit(p) for p in levels])).alias("probe")
    cl = cand.select("*", lv).filter(F.col("_crank") <= F.col("probe"))
    wpk = Window.partitionBy("probe", "query_id").orderBy(
        F.desc("_cos"), F.asc("vec_id")
    )
    if truth is None:
        # ``truth`` may be a precomputed exact top-k (query_id, vec_id)
        # table (__spark_entry__._ann_truth) — result-identical, skips
        # the brute corpus scan.
        truth = brute_topk(corpus, queries, k, id_col, vec_col).select(
            "query_id", "vec_id"
        )
    truth = truth.select("query_id", "vec_id", F.lit(1).alias("_h"))
    scored = cl.withColumn("_rn", F.row_number().over(wpk)).join(
        truth, ["query_id", "vec_id"], "left"
    )
    nq = queries.agg(F.count(F.lit(1)).cast("long").alias("_nq"))
    nc = corpus.agg(F.count(F.lit(1)).cast("long").alias("_nc"))
    return (
        scored.groupBy("probe")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_candidates"),
            F.sum(
                F.when((F.col("_rn") <= k) & F.col("_h").isNotNull(), 1).otherwise(0)
            )
            .cast("long")
            .alias("sum_hits"),
        )
        .crossJoin(F.broadcast(nq))
        .crossJoin(F.broadcast(nc))
        .select(
            F.col("probe").cast("long").alias("probe"),
            "sum_hits",
            F.expr(f"(2 * sum_hits * 1048576 + {k} * _nq) div (2 * {k} * _nq)")
            .cast("long")
            .alias("recall_q20"),
            "n_candidates",
            F.expr("(2 * n_candidates * 1048576 + _nq * _nc) div (2 * _nq * _nc)")
            .cast("long")
            .alias("scan_share_q20"),
        )
    )


def ann_recall_drift(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    truth: DataFrame | None = None,
) -> DataFrame:
    """Per-ingest-half recall@k audit in ONE lineage: the corpus is
    tagged half = vec_id % 2 and both the brute truth spine and the
    IVF candidates are ranked per (half, query_id) from a single
    corpus scan — result-identical to running ann_recall_audit twice
    on the filtered halves (ranking within a partition sees exactly
    that half's vectors), at half the scans and a third of the jobs
    (two separate audits measured 5.8 s at sf0.1; this form ~2 s).

    Queries and centroids are FIXED (full-corpus sample / seed), only
    the searched side varies.  Output: (half, n_queries, sum_hits,
    recall_q20) — recall = sum_hits/(k*n_queries), half-up q20.  An
    EMPTY half emits no row (cannot happen with consecutive ids; the
    two-audit form emits a zero row instead — documented difference).
    """
    c = _norm_vec(corpus, id_col, vec_col, "vec_id", "_v").withColumn(
        "half", (F.col("vec_id") % 2).cast("long")
    )
    q = _norm_vec(queries, id_col, vec_col, "query_id", "_q")
    cents = _norm_vec(centroids, id_col, vec_col, "centroid_id", "_c")

    if truth is None:
        scored = c.crossJoin(F.broadcast(q)).select(
            "half", "query_id", "vec_id", _pair_cos("_q", "_v").alias("_cos")
        )
        wt = Window.partitionBy("half", "query_id").orderBy(
            F.desc("_cos"), F.asc("vec_id")
        )
        truth = (
            scored.withColumn("_rk", F.row_number().over(wt))
            .filter(F.col("_rk") <= k)
            .select("half", "query_id", "vec_id")
        )
    # ``truth`` may be a precomputed per-half exact top-k
    # (half, query_id, vec_id) table (__spark_entry__._ann_truth) —
    # result-identical, skips the brute corpus scan.
    truth = truth.select("half", "query_id", F.col("vec_id").alias("_tv"))

    wa = Window.partitionBy("vec_id").orderBy(F.desc("_cs"), F.asc("centroid_id"))
    assign = (
        c.crossJoin(F.broadcast(cents))
        .select("half", "vec_id", "_v", "_vn", "centroid_id", _pair_cos("_v", "_c").alias("_cs"))
        .withColumn("_rn", F.row_number().over(wa))
        .filter(F.col("_rn") == 1)
        .select("half", "vec_id", "_v", "_vn", F.col("centroid_id").alias("cluster"))
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("_cs"), F.asc("centroid_id"))
    probes = (
        q.crossJoin(F.broadcast(cents))
        .select("query_id", "_q", "_qn", "centroid_id", _pair_cos("_q", "_c").alias("_cs"))
        .withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= probe)
        .select("query_id", "_q", "_qn", F.col("centroid_id").alias("cluster"))
    )
    cand = probes.join(assign, "cluster").select(
        "half", "query_id", "vec_id", _pair_cos("_q", "_v").alias("_cos")
    )
    wk = Window.partitionBy("half", "query_id").orderBy(F.desc("_cos"), F.asc("vec_id"))
    approx = (
        cand.withColumn("_rk", F.row_number().over(wk))
        .filter(F.col("_rk") <= k)
        .select("half", "query_id", F.col("vec_id").alias("_av"), F.lit(1).alias("_hit"))
    )
    per_q = (
        truth.join(
            approx,
            (truth["half"] == approx["half"])
            & (truth["query_id"] == approx["query_id"])
            & (truth["_tv"] == approx["_av"]),
            "left",
        )
        .groupBy(truth["half"], truth["query_id"])
        .agg(F.coalesce(F.sum("_hit"), F.lit(0)).cast("long").alias("n_hits"))
    )
    return (
        per_q.groupBy("half")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_queries"),
            F.sum("n_hits").cast("long").alias("sum_hits"),
        )
        .select(
            "half",
            "n_queries",
            "sum_hits",
            F.expr(
                f"cast(case when n_queries = 0 then 0 else"
                f" (2 * sum_hits * 1048576 + {k} * n_queries)"
                f" div (2 * {k} * n_queries) end as bigint)"
            ).alias("recall_q20"),
        )
    )


def filtered_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """FILTERED exact cosine top-k: candidates are restricted to
    corpus vectors sharing the query's ``label`` BEFORE scoring — the
    metadata-filtered vector search every retrieval stack ships
    (tenant / language / split filters), exercised here with the
    label column as the filter key.

    The filter composes with the scan, not after ranking: predicate
    pushdown prunes non-matching vectors before any dot product, so
    cost is Sigma over labels of |corpus_label| x |queries_label| —
    the partition-local shape an IVF-per-label layout gives at scale.
    Output: (query_id, rnk, vec_id, cos_q20), ties by vec_id.
    """
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(label_col).cast("long").alias("_lbl"),
        as_double(F.col(vec_col)).alias("_v"),
    ).withColumn("_vn", F.sqrt(dot(F.col("_v"), F.col("_v"))))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).cast("long").alias("_lbl"),
        as_double(F.col(vec_col)).alias("_q"),
    ).withColumn("_qn", F.sqrt(dot(F.col("_q"), F.col("_q"))))
    scored = c.join(F.broadcast(q), "_lbl").select(
        "query_id", "vec_id", _pair_cos("_q", "_v").alias("_cos")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("_cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", F.col("rnk").cast("long").alias("rnk"), "vec_id", q20(F.col("_cos")).alias("cos_q20"))
    )
