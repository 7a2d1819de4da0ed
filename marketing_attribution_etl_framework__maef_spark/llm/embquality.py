"""Embedding-table quality screens.

Upstream encoder bugs show up as NORM anomalies before they show up
anywhere else: truncated inputs give near-zero norms, fp overflows
give huge ones, a silently-changed normalization gives a second mode.
The screen below is the embedding-side twin of the MAD day-level
anomaly screen (operators/anomaly.py): exact integer median/MAD over
the q20-quantized norms, k*MAD outlier band.

Cross-engine contract: the norm is sqrt(left-fold dot) — one
correctly-rounded IEEE sqrt over an order-fixed sum, identical in both
engines — quantized q20, after which everything is integer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from marketing_attribution_etl_framework__maef_spark.llm.similarity import _norm_vec, q20


def _lower_median(df: DataFrame, col: str):
    """Exact lower median of an integer column as a 1-row DataFrame,
    computed on the DISTINCT-VALUE histogram: groupBy(value) + a
    cumulative count over the value order.  The window runs over the
    distinct-value grain (bounded by the q20 value range, not by
    rows), so no raw-row global sort exists — the two-phase trick the
    quantile operators use, specialized to weight = frequency."""
    hist = df.groupBy(F.col(col).alias("_v")).agg(
        F.count(F.lit(1)).cast("long").alias("_c")
    )
    w = Window.orderBy("_v").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.withColumn("_cum", F.sum("_c").over(w)).crossJoin(
        F.broadcast(hist.agg(F.sum("_c").cast("long").alias("_n")))
    )
    return cum.filter(F.lit(2) * F.col("_cum") >= F.col("_n")).agg(
        F.min("_v").cast("long").alias("median"), F.max("_n").cast("long").alias("n")
    )


def norm_band_screen(embeddings: DataFrame, k_mad: int = 3) -> DataFrame:
    """One-row corpus screen: (n_vecs, n_zero, median_nq, mad_nq,
    n_low, n_high) where nq = q20(L2 norm), mad = lower median of
    |nq - median|, and low/high count vectors outside median -+
    k_mad * mad.  All-zero vectors are counted separately (they have
    no direction, and downstream quantization drops them).

    Scale: two histogram aggregates (map-side combinable on the q20
    value key) + two bounded-grain windows; the only per-vector work
    is the one fold dot product.  No global row sort, no collect of
    anything unbounded.
    """
    e = _norm_vec(embeddings, "vec_id", "embedding", "vec_id", "_v")
    nq = e.select("vec_id", q20(F.col("_vn")).alias("nq"))
    nonzero = nq.filter(F.col("nq") > 0).localCheckpoint()
    med = _lower_median(nonzero, "nq").select(
        F.col("median").alias("median_nq"), F.col("n").alias("_n_nonzero")
    )
    dev = nonzero.crossJoin(F.broadcast(med)).select(
        "nq",
        "median_nq",
        F.abs(F.col("nq") - F.col("median_nq")).cast("long").alias("_dev"),
    )
    mad = _lower_median(dev, "_dev").select(F.col("median").alias("mad_nq"))
    flags = dev.crossJoin(F.broadcast(mad)).select(
        "nq",
        ((F.col("nq") - F.col("median_nq")) < -F.lit(k_mad) * F.col("mad_nq")).alias(
            "_low"
        ),
        ((F.col("nq") - F.col("median_nq")) > F.lit(k_mad) * F.col("mad_nq")).alias(
            "_high"
        ),
    )
    zero = nq.agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum((F.col("nq") <= 0).cast("long")).cast("long").alias("n_zero"),
    )
    agg = flags.agg(
        F.sum(F.col("_low").cast("long")).cast("long").alias("n_low"),
        F.sum(F.col("_high").cast("long")).cast("long").alias("n_high"),
    )
    return (
        zero.crossJoin(F.broadcast(med.select("median_nq")))
        .crossJoin(F.broadcast(mad))
        .crossJoin(F.broadcast(agg))
        .select("n_vecs", "n_zero", "median_nq", "mad_nq", "n_low", "n_high")
    )


def label_purity(embeddings: DataFrame) -> DataFrame:
    """Nearest-centroid label purity — the supervised-data quality
    screen: build the per-label centroid of the q20 unit vectors, then
    classify every vector to its nearest centroid by cosine and report
    per-label accuracy.  Low purity = mislabeled or inseparable
    classes; the readout that decides whether a labeled corpus is
    trainable before anyone trains on it.

    Arithmetic: centroid components are EXACT floor(sum/count) via the
    pmod device ((s - pmod(s, c)) div c — s-pmod(s,c) is divisible, so
    truncating div == floor in both engines, negatives included); dot
    products against centroids are exact integers (components <= 2^20,
    sums < 2^53); the comparison key cosine = idot / sqrt(|c|^2) is
    two IEEE ops on identical integers, tie-broken by label.  Output
    purity is the exact q20 of n_correct/n_vecs.

    Output: (label, n_vecs, n_correct, purity_q20).

    Scale: one posexplode aggregate for centroids (bounded reduce:
    labels x dims); centroids are BOUNDED driver state (the k-means /
    MMR pattern) turned into literal arrays, so classification is a
    single corpus scan with |labels| integer dots per row — no join,
    no shuffle beyond the final bounded label aggregate.
    """
    from marketing_attribution_etl_framework__maef_spark.llm.similarity import (
        idot,
        quantized_unit_vectors,
    )

    spark = embeddings.sparkSession
    # localCheckpoint: the centroid collect AND the scoring scan both
    # read this lineage — without the pin the quantization (explode +
    # norm fold) runs twice (measured 4.4 s at sf0.1; the raking/loop
    # -state rule applied to a two-consumer lineage)
    qv = (
        quantized_unit_vectors(embeddings)
        .join(embeddings.select("vec_id", "label"), "vec_id")
        .localCheckpoint()
    )
    ex = qv.select("label", F.posexplode("qv").alias("pos", "comp"))
    cent_rows = (
        ex.groupBy("label", "pos")
        .agg(F.sum("comp").cast("long").alias("s"), F.count(F.lit(1)).cast("long").alias("c"))
        .select(
            "label",
            "pos",
            F.expr("(s - pmod(s, c)) div c").cast("long").alias("comp"),
        )
        .collect()
    )
    cents: dict[int, list[int]] = {}
    for r in cent_rows:
        cents.setdefault(int(r["label"]), [0] * 0)
    for lbl in cents:
        comps = sorted(
            ((r["pos"], r["comp"]) for r in cent_rows if r["label"] == lbl)
        )
        cents[lbl] = [int(c) for _, c in comps]
    scored = qv.select(
        "vec_id",
        "label",
        F.array_sort(
            F.array(
                *[
                    F.struct(
                        (
                            -idot(
                                F.array(*[F.lit(x) for x in comps]), F.col("qv")
                            ).cast("double")
                            # sqrt on the exact integer-valued double:
                            # correctly-rounded IEEE in both engines
                            / F.sqrt(F.lit(float(sum(x * x for x in comps))))
                        ).alias("negcos"),
                        F.lit(lbl).cast("long").alias("cand"),
                    )
                    for lbl, comps in sorted(cents.items())
                ]
            )
        )[0]["cand"].alias("pred"),
    )
    return (
        scored.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.sum((F.col("pred") == F.col("label")).cast("long"))
            .cast("long")
            .alias("n_correct"),
        )
        .select(
            F.col("label").cast("long").alias("label"),
            "n_vecs",
            "n_correct",
            F.expr(
                "cast((2 * n_correct * 1048576 + n_vecs) div (2 * n_vecs) as bigint)"
            ).alias("purity_q20"),
        )
    )


def centroid_distance_outliers(
    embeddings: DataFrame, centroids: DataFrame, decile_cut: int = 1
) -> DataFrame:
    """Cluster-conditional embedding outlier screen: assign every
    vector to its nearest centroid (max cosine — llm/similarity.py
    ivf_assign, the same assignment the IVF index uses), then flag the
    vectors in each cluster's WORST cosine decile(s) — the points the
    cluster claims but barely fits, i.e. mislabeled / off-manifold /
    encoder-glitch candidates that a global norm band
    (norm_band_screen) cannot see because their norms are normal.

    The cut is rank-based, not threshold-based: per cluster, rank by
    (cosine asc, vec_id asc) and keep rnk * 10 <= decile_cut * n — an
    integer cross-multiplication, no percentile float.  Rank-based
    cuts adapt per cluster (a tight cluster and a diffuse one both
    yield their own worst 10%), which is what a triage queue wants.

    Scale: the centroid table is collected (bounded k); the
    assignment is one kernel pass over the corpus and the only
    data-scaled window is partitioned by cluster (the rank).  The
    per-cluster rank window shards on k
    partitions — at 100 TB use the log-histogram cut instead of the
    exact rank for the decile; k here is the operator's contract.

    Output: (cluster, vec_id, cos_q20, rnk) — outlier rows only.
    """
    from marketing_attribution_etl_framework__maef_spark.llm.similarity import (
        _assigned,
        _vectors,
    )

    # the assignment kernel also returns each vector's own-centroid
    # cosine, so no second pass over the centroids is needed
    scored = _assigned(
        embeddings, _vectors(centroids, "vec_id", "embedding"), "vec_id", "embedding"
    )
    w = Window.partitionBy("cluster").orderBy(F.asc("_cs"), F.asc("vec_id"))
    n = Window.partitionBy("cluster")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .withColumn("_n", F.count(F.lit(1)).over(n))
        .filter(F.col("rnk") * 10 <= F.lit(int(decile_cut)) * F.col("_n"))
        .select("cluster", "vec_id", q20(F.col("_cs")).alias("cos_q20"), "rnk")
    )


def principal_direction(embeddings: DataFrame, rounds: int = 6) -> DataFrame:
    """Top principal direction of the embedding cloud by EXACT-INTEGER
    power iteration over the q20 Gram matrix — the one-look encoder
    drift screen PCA gives: a collapsed embedding space (rank loss, a
    stuck dimension, a normalization regression) moves the dominant
    direction long before downstream retrieval metrics notice.

    Device (everything after quantization is integer-exact in both
    engines):

    1. q20 unit vectors (similarity.quantized_unit_vectors — zero
       vectors dropped, components <= 2^20);
    2. Gram A[i][j] = SUM over vectors of qv[i]*qv[j] — one posexplode
       + self-join on vec_id + map-side-combining groupBy(i, j); the
       reduce side is d^2 rows.  Exact in BIGINT for n*2^40 < 2^63,
       i.e. up to ~8e6 vectors per run — beyond that, shard the corpus
       and sum the (mergeable!) Gram matrices, which is also the
       100-TB shape: A is the only corpus-width pass, d^2 integers
       travel, never vectors;
    3. power iteration v_{r+1} = (A v_r) * 2^20 div max|A v_r| for a
       FIXED ``rounds`` (determinism needs identical arithmetic, not
       convergence) with division truncating toward zero (Spark
       DECIMAL(38,0) div == DuckDB HUGEINT //); the d x d state is
       driver-bounded (CLAUDE.md bounded-loop rule), mirrored by the
       oracle as unrolled MATERIALIZED CTE rounds;
    4. sign fixed by the first nonzero component (negate if negative).

    Output: (pos, comp_q20), d rows, 1-based pos — the q20 components
    of the L-infinity-normalized dominant eigenvector estimate.
    """
    from pyspark.sql import SparkSession

    from marketing_attribution_etl_framework__maef_spark.llm.similarity import (
        quantized_unit_vectors,
    )

    q = quantized_unit_vectors(embeddings)
    ex = q.select(
        "vec_id", F.posexplode("qv").alias("_p", "_x")
    ).select("vec_id", (F.col("_p") + 1).alias("i"), F.col("_x").alias("x"))
    ey = ex.select("vec_id", F.col("i").alias("j"), F.col("x").alias("y"))
    gram_rows = (
        ex.join(ey, "vec_id")
        .groupBy("i", "j")
        .agg(F.sum(F.col("x") * F.col("y")).cast("long").alias("a"))
        .collect()
    )
    spark = SparkSession.getActiveSession()
    if not gram_rows:
        return spark.createDataFrame([], "pos long, comp_q20 long")
    d = max(r["i"] for r in gram_rows)
    A = {(r["i"], r["j"]): int(r["a"]) for r in gram_rows}
    Q = 1 << 20

    def tdiv(a: int, b: int) -> int:
        # truncate toward zero (Spark DECIMAL div / DuckDB HUGEINT //)
        s = -1 if (a < 0) != (b < 0) else 1
        return s * (abs(a) // abs(b))

    v = [Q] * d
    for _ in range(rounds):
        u = [sum(A.get((i + 1, j + 1), 0) * v[j] for j in range(d)) for i in range(d)]
        m = max(abs(x) for x in u)
        v = [0] * d if m == 0 else [tdiv(x * Q, m) for x in u]
    lead = next((x for x in v if x != 0), 0)
    if lead < 0:
        v = [-x for x in v]
    return spark.createDataFrame(
        [(i + 1, v[i]) for i in range(d)], "pos long, comp_q20 long"
    )


def label_centroid_drift(embeddings: DataFrame) -> DataFrame:
    """Per-label embedding-centroid drift between vec_id ingest halves
    — the encoder-regression alarm at the LABEL grain: if a class's
    mean direction moves between two ingests (model swap, silent
    preprocessing change, poisoned batch), nearest-centroid routing
    (label_purity, L210) degrades before any retrieval metric does.
    This is the labeled sibling of the corpus-level PCA screen (L245).

    Device (exact integers after quantization): q20 unit vectors
    (zero vectors dropped), halves by vec_id parity; per (label, dim)
    the component sums s0/s1 are exact BIGINTs; the centroid L1 drift
    Sigma_d |s0*n1 - s1*n0| / (n0*n1) is computed as one exact
    DECIMAL(38,0) numerator sum and ONE truncating division (Spark
    DECIMAL div == DuckDB HUGEINT //), so the q20 result is
    bit-identical cross-engine.  Labels present in only one half are
    dropped (no centroid to compare).

    Shape: one posexplode + a map-side-combining (label, dim)
    aggregate — d x |labels| reduce rows; the numerator stays exact up
    to n0*n1*d*2^21 < 10^38 (DECIMAL38), far beyond any per-shard
    corpus; at 100 TB shard the sum and merge (it is additive).
    Output: (label, n_even, n_odd, drift_q20).
    """
    from marketing_attribution_etl_framework__maef_spark.llm.similarity import (
        quantized_unit_vectors,
    )

    q = quantized_unit_vectors(embeddings).join(
        embeddings.select("vec_id", F.col("label").cast("long").alias("label")),
        "vec_id",
    ).withColumn("half", (F.col("vec_id") % 2).cast("long"))
    counts = q.groupBy("label").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).cast("long").alias("n_even"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).cast("long").alias("n_odd"),
    ).filter((F.col("n_even") > 0) & (F.col("n_odd") > 0))
    ex = q.select("label", "half", F.posexplode("qv").alias("_d", "_x"))
    sums = ex.groupBy("label", "_d").agg(
        F.sum(F.when(F.col("half") == 0, F.col("_x")).otherwise(0)).alias("s0"),
        F.sum(F.when(F.col("half") == 1, F.col("_x")).otherwise(0)).alias("s1"),
    )
    num = (
        sums.join(counts, "label")
        .select(
            "label",
            "n_even",
            "n_odd",
            F.abs(
                F.col("s0").cast("decimal(38,0)") * F.col("n_odd")
                - F.col("s1").cast("decimal(38,0)") * F.col("n_even")
            ).alias("_t"),
        )
        .groupBy("label", "n_even", "n_odd")
        .agg(F.sum("_t").alias("_dn"))
    )
    return num.select(
        "label",
        "n_even",
        "n_odd",
        F.expr("cast((_dn div (n_even * n_odd)) as bigint)").alias("drift_q20"),
    )
