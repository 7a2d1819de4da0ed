"""Streaming ingestion + incremental attribution (SURVEY §2.9(a)).

The reference has no streaming — its closest analogue is the Airflow
re-run-per-date-range pattern (``dags/ihc_api_dag.py:40-54``), where
every run re-transforms the window and upserts attribution results.
This module re-expresses that contract on Structured Streaming:

- ``stream_events``: file-source intake of events-shaped records with
  an event-time watermark bounding lateness.
- ``windowed_channel_volume``: watermark + event-time window
  aggregation (per-channel volume), the canonical late-data-safe
  streaming agg.
- ``IncrementalAttribution``: ``foreachBatch`` micro-batch driver —
  each batch's sessions are appended to a parquet session store, each
  batch's conversions are attributed against the store (every session
  seen so far, bounded by the journey lookback), and results are
  idempotently upserted into the attribution table, exactly like the
  reference's INSERT OR REPLACE loader (``src/etl/load.py:125-143``).
- ``StreamDriver`` / ``PartStore``: the one foreachBatch mechanism the
  drivers share — an availableNow ``start``, and for the merge-law
  stores batch_id-keyed idempotent parts re-aggregated on read.

Semantics: a conversion is attributed in the micro-batch where it
arrives, against sessions ingested up to and including that batch.
Sessions later than their conversion's batch do not retro-attribute
(same as the reference: a DAG run never revisits loaded conversions);
bound intake lateness with the watermark if upstream is out of order.

Scale notes: state lives in parquet tables keyed the same way as the
batch pipeline (no driver-side state); each micro-batch runs the
identical journey join + window attribution that the batch path uses,
so plan properties (broadcast of batch-sized conversions, AQE skew
handling) carry over unchanged.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from marketing_attribution_etl_framework__maef_spark import domain, schemas
from marketing_attribution_etl_framework__maef_spark.llm import dedup as dd
from marketing_attribution_etl_framework__maef_spark.llm import similarity as sim
from marketing_attribution_etl_framework__maef_spark.llm import text as txt
from marketing_attribution_etl_framework__maef_spark.llm.curation import split_assign
from marketing_attribution_etl_framework__maef_spark.operators import attribution as attr
from marketing_attribution_etl_framework__maef_spark.operators import journeys as jny
from marketing_attribution_etl_framework__maef_spark.operators import loader as ldr
from marketing_attribution_etl_framework__maef_spark.operators import sketches


def run_to_memory(
    df: DataFrame,
    name: str,
    partitions: int = 8,
    output_mode: str = "complete",
) -> DataFrame:
    """Run a streaming DataFrame to completion under availableNow into
    a memory sink and return the final state table, localCheckpoint'd
    (the serving read must not re-trigger the stream).

    Centralizes the per-query pattern every streaming twin repeated
    inline (VERDICT r08 #6): a streaming query FREEZES its state-store
    partition count from ``spark.sql.shuffle.partitions`` at first
    start and commits one state store per partition per micro-batch,
    so the conf is pinned to ``partitions`` (sized to state volume —
    bounded-state twins want 4-8, not the batch 32) for the duration
    of the run and restored after.  The memory sink holds only the
    final aggregate state (bounded by construction for every gated
    twin), never the input.

    At 100 TB the equivalent is a real sink (Delta/parquet) with a
    long-lived checkpoint dir; availableNow-into-memory is the test
    harness's batch-parity device.
    """
    spark = df.sparkSession
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    try:
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        out = spark.table(name).localCheckpoint()
        spark.catalog.dropTempView(name)
        return out
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _file_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None,
    max_files_per_trigger: int | None,
) -> DataFrame:
    """FileStreamSource read of the parquet files at ``path``; a
    ``schema`` of None is peeked from the files' footers (no data
    scan).  FileStreamSource requires a directory (or glob) source
    path: a bare file fails with "Option 'basePath' must be a
    directory", so the harness's single-file layout is rewritten as a
    glob, which anchors basePath at the parent directory.  The schema is
    peeked from the original path: a batch read of the glob probes a
    ``<glob>/_spark_metadata`` that cannot exist and logs a
    FileStreamSink FileNotFoundException stack trace."""
    if schema is None:
        schema = spark.read.parquet(path).schema
    if path.endswith(".parquet") and not os.path.isdir(path):
        path = os.path.join(os.path.dirname(path), os.path.basename(path).replace(".parquet", "*.parquet"))
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def stream_events(
    spark: SparkSession,
    path: str,
    watermark: str = "1 hour",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming read of events-shaped parquet files with an event-time
    watermark (bounds how late a record may arrive and still join a
    windowed aggregate)."""
    return _file_stream(spark, path, schemas.EVENTS, max_files_per_trigger).withWatermark(
        "ts", watermark
    )


def stream_documents(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """Streaming read of documents-shaped parquet files — the intake
    side of the ingest-time chunk-store / dedup twins.  Documents have
    no event time, so there is no watermark; the downstream consumers
    (IncrementalChunkStore) are order-independent by construction."""
    return _file_stream(spark, path, schemas.DOCUMENTS, max_files_per_trigger)


def stream_embeddings(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """Streaming read of embeddings-shaped parquet files — the intake
    side of the ANN ingest-store twin (IncrementalANNStore).  Vectors
    have no event time, so no watermark; the downstream store's merge
    law is order-independent by construction."""
    return _file_stream(spark, path, schemas.EMBEDDINGS, max_files_per_trigger)


class StreamDriver:
    """A ``foreachBatch`` driver whose state lives under one directory,
    ``root``.  ``start`` attaches ``self.process_batch`` to a streaming
    DataFrame under ``trigger(availableNow=True)`` (backfill semantics:
    drain what is there, then stop) and checkpoints under ``root``
    unless given ``checkpoint``.  The sink is looked up on ``self``, so
    a subclass that overrides ``process_batch`` (a tracing or fault-
    injecting wrapper) sees every micro-batch."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def start(self, stream: DataFrame, checkpoint: str | None = None):
        writer = (
            stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint or self._path("_checkpoint"))
            .trigger(availableNow=True)
        )
        return writer.start()


class PartStore(StreamDriver):
    """A merge-law part store: each micro-batch reduces to a small part
    table (``part``) written under ``parts/batch_id=N``, and the live
    store (``store``) re-aggregates every part: ``groupBy(*KEY)`` with
    ``MERGE[c](c)`` for each column ``c``.  Every MERGE reducer is
    associative AND commutative, so the store is independent of how
    the source slices the stream into micro-batches — which is what
    lets a static-input availableNow run be oracle-gated against the
    batch recompute.  No per-key streaming state, no watermark; the
    parts are compactable to the key count at any time by rewriting
    the aggregated table.

    foreachBatch is at-least-once: a micro-batch replayed after a
    mid-run failure (resume from checkpoint) re-enters
    ``process_batch`` with the SAME batch_id.  Writing each part to its
    batch_id-keyed subdir in overwrite mode makes the replay replace
    its own part instead of double-counting a SUM.

    A store declares its KEY, its MERGE and ``part``; the write, the
    read and the re-aggregate live here."""

    KEY: tuple[str, ...] = ()
    MERGE: dict = {}

    def part(self, batch_df: DataFrame) -> DataFrame:
        raise NotImplementedError

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        self.part(batch_df).write.mode("overwrite").parquet(
            os.path.join(self._path("parts"), f"batch_id={int(batch_id)}")
        )

    def store(self) -> DataFrame:
        """The live store: one row per KEY."""
        return (
            self.spark.read.parquet(self._path("parts"))
            .groupBy(*self.KEY)
            .agg(*(law(c).alias(c) for c, law in self.MERGE.items()))
        )


class IncrementalANNStore(PartStore):
    """Streaming maintenance of the ANN ingest-side CLUSTER LEDGER —
    the per-cluster statistics an IVF index needs kept live while
    vectors stream in (VERDICT r09 #5b; the L244/L277 foreachBatch
    store pattern applied to the ANN side of the house).

    Each micro-batch assigns its vectors to their nearest centroid
    (broadcast centroid table — the SAME max-cosine, centroid-id
    tie-break rule as llm/similarity.py ivf_assign, so the streaming
    store is gated by the batch IVF assignment), reduces them to
    per-cluster parts, and appends the parts.  The live ledger is the
    re-aggregate of the parts under the merge law

        n_vectors    = SUM     min_vec_id = MIN
        max_vec_id   = MAX     sum_cos_q20 = SUM

    — all four reducers associative AND commutative, so the final
    ledger is independent of micro-batch slicing, which is what lets
    an availableNow run be oracle-gated against the batch assignment
    aggregate.  sum_cos_q20 sums the per-vector q20-quantized cosine
    to its own centroid: each term is cross-engine IEEE-stable (the
    cos_q20 device) and the sum is exact integer arithmetic, so the
    ledger doubles as a live cluster-coherence monitor (mean own-
    centroid cosine = sum/n per cluster — falling coherence says
    "retrain the centroids").

    Scale: no per-key streaming state, no watermark; parts are
    parquet appends at the n_centroids grain (compactable any time),
    the serving aggregate shuffles n_centroids rows per part.  Zero-
    norm vectors are dropped (no direction to assign — the
    quantized_unit_vectors convention)."""

    KEY = ("centroid_id",)
    MERGE = {"n_vectors": F.sum, "min_vec_id": F.min, "max_vec_id": F.max, "sum_cos_q20": F.sum}

    def __init__(self, spark: SparkSession, root: str, centroids: DataFrame):
        super().__init__(spark, root)
        # centroids are bounded (n_centroids rows) — collect once and
        # rebuild per batch so the foreachBatch closure never captures
        # a DataFrame tied to the outer query's lineage
        self._cent_rows = [
            (int(r["vec_id"]), [float(x) for x in r["embedding"]])
            for r in centroids.select("vec_id", "embedding").collect()
        ]

    def part(self, batch_df: DataFrame) -> DataFrame:
        cents = self.spark.createDataFrame(
            self._cent_rows, "vec_id long, embedding array<double>"
        )
        c = sim._norm_vec(batch_df, "vec_id", "embedding", "vec_id", "_v").filter(
            F.col("_vn") > 0
        )
        ct = sim._norm_vec(cents, "vec_id", "embedding", "centroid_id", "_c")
        scored = c.crossJoin(F.broadcast(ct)).select(
            "vec_id", "centroid_id", sim._pair_cos("_v", "_c").alias("_cs")
        )
        w = Window.partitionBy("vec_id").orderBy(F.desc("_cs"), F.asc("centroid_id"))
        best = scored.withColumn("_rn", F.row_number().over(w)).filter(
            F.col("_rn") == 1
        )
        return best.groupBy("centroid_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.min("vec_id").cast("long").alias("min_vec_id"),
            F.max("vec_id").cast("long").alias("max_vec_id"),
            F.sum(sim.q20(F.col("_cs"))).cast("long").alias("sum_cos_q20"),
        )


def stream_events_nanos(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming read of the harness's events parquet, decoding ``ts``
    identically to the batch path (``domain.load_table``) whatever the
    file's physical timestamp type:

    - TIMESTAMP(NANOS): read as long (the session-wide ``nanosAsLong``
      invariant) and truncated to a microsecond timestamp;
    - TIMESTAMP(MICROS) / NTZ: read natively with the file's own type.

    FileStreamSource needs a declared schema, so the file schema is
    peeked with a batch footer read first — no data scan."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    out = _file_stream(spark, path, None, max_files_per_trigger)
    ts_type = out.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        out = out.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(ts_type, T.TimestampNTZType):
        # watermarks require TIMESTAMP; with the session pinned to UTC
        # (session.py) this cast is an identity on the stored micros
        out = out.withColumn("ts", F.col("ts").cast("timestamp"))
    return out


def dedup_stream(events: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """Streaming exact dedup: drop duplicate events within the
    watermark horizon (state for a key is evicted once the watermark
    passes it, so state is bounded by the lateness window, not the
    stream length). Keys default to the event primary key."""
    return events.dropDuplicatesWithinWatermark(keys or ["event_id"])


def first_touch_state(events: DataFrame) -> DataFrame:
    """Streaming (channel, user) first-touch table: min(ts) per key in
    complete/update mode.  min is ORDER-INDEPENDENT, so the state is
    exact no matter how micro-batches slice the stream — the property
    a streaming dropDuplicates('channel','user') does NOT have (it
    keeps whichever row a batch saw first).  This is precisely the
    state any engine must carry to answer reach; on a real cluster,
    bound it with a watermark TTL at the reach horizon."""
    return (
        events.filter(F.col("event_type") != "purchase")
        .groupBy(F.col("event_type").alias("channel"), F.col("user_id"))
        .agg(F.min("ts").alias("first_ts"))
    )


def reach_from_first_touch(first: DataFrame) -> DataFrame:
    """Serving-side: first-touch state -> the L186 reach curve
    (channel, event_day, new_users, cum_reach).  Runs batch-side on
    the bounded (channel x day) grain after the streaming agg."""
    daily = first.groupBy(
        "channel", F.date_format("first_ts", "yyyy-MM-dd").alias("event_day")
    ).agg(F.count(F.lit(1)).cast("long").alias("new_users"))
    w = (
        Window.partitionBy("channel")
        .orderBy("event_day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return daily.select(
        "channel",
        "event_day",
        "new_users",
        F.sum("new_users").over(w).cast("long").alias("cum_reach"),
    )


def windowed_channel_volume(events: DataFrame, window: str = "1 day") -> DataFrame:
    """Watermarked event-time window aggregation: per-channel session
    count and value per window. Append-mode safe: a window closes once
    the watermark passes its end."""
    return (
        events.filter(F.col("event_type") != "purchase")
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type").alias("channel_name"))
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            # exact integer cents, not a double sum: value has 2-decimal
            # granularity and SUM(double) is order-sensitive; at large SF
            # accumulated ulp noise + ROUND ties flip cross-engine
            # (ADVICE r02 / CLAUDE.md float rule)
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("total_value_cents"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "channel_name",
            "n_sessions",
            "total_value_cents",
        )
    )


class IncrementalAttribution(StreamDriver):
    """foreachBatch driver: micro-batch -> session store append ->
    attribute new conversions -> upsert attribution table."""

    SESSIONS = "session_sources"
    ATTRIBUTION = "attribution_customer_journey"

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        model: str = "linear",
        lookback_days: int | None = 30,
        strict_before: bool = False,
    ):
        super().__init__(spark, root)
        self.model = model
        self.lookback_days = lookback_days
        self.strict_before = strict_before

    def _read_or_empty(self, name: str, schema) -> DataFrame:
        p = self._path(name)
        if os.path.exists(p):
            return self.spark.read.parquet(p)
        return self.spark.createDataFrame([], schema)

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """One micro-batch: split events, grow the session store,
        attribute the batch's conversions against all sessions seen,
        upsert results (idempotent on (conv_id, session_id) — a batch
        replay after failure converges to the same table)."""
        sess = domain.sessions_from_events(batch_df)
        # batch_id-keyed overwrite: foreachBatch is at-least-once, and a
        # replayed batch must not duplicate session rows (duplicated
        # touchpoints would change attribution weights before the upsert).
        sess.write.mode("overwrite").parquet(
            os.path.join(self._path(self.SESSIONS), f"batch_id={int(batch_id)}")
        )

        conv = domain.conversions_from_events(batch_df)
        all_sessions = self.spark.read.parquet(self._path(self.SESSIONS)).drop(
            "batch_id"
        )
        journeys = jny.build_journeys(
            conv,
            all_sessions,
            strict_before=self.strict_before,
            lookback_days=self.lookback_days,
        )
        result = attr.attribute(journeys, self.model)

        existing = self._read_or_empty(
            self.ATTRIBUTION, "conv_id string, session_id string, ihc double"
        )
        merged = ldr.upsert(existing, result)
        # write via temp + atomic directory rename: the upsert reads the
        # table it replaces, so it cannot overwrite in place. A rename
        # (not a second Spark read+write) makes the swap O(1) — the
        # same move an object-store table format does with a metadata
        # pointer flip.
        tmp = self._path(self.ATTRIBUTION + ".tmp")
        merged.write.mode("overwrite").parquet(tmp)
        final = self._path(self.ATTRIBUTION)
        shutil.rmtree(final, ignore_errors=True)
        os.replace(tmp, final)

    def attribution(self) -> DataFrame:
        return self.spark.read.parquet(self._path(self.ATTRIBUTION))


def stream_journey_join(
    conv_stream: DataFrame,
    sess_stream: DataFrame,
    lookback_days: int = 30,
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream interval join: the streaming face of the journey
    construction join (J1, ``src/etl/transform.py:211-227``). Both
    sides are events-shaped streams; conversions join every session of
    the same user in ``[conv_ts - lookback, conv_ts]``.

    This is Spark's canonical watermarked stream-stream inner join:
    the equality key (user_id) partitions state, the time-interval
    predicate + both watermarks bound it — a session older than
    ``conv_ts_max - lookback - watermark`` can never match a future
    conversion, so its state is evicted. State size is O(events inside
    the lookback+lateness horizon), independent of stream length.
    Matches emit immediately (inner-join semantics); the watermark
    exists for state cleanup, not output gating.

    Output: (conversion_id, session_id) pairs — over a static input
    run to completion this must EQUAL the batch journey join's pair
    set, which is the oracle (`maef_stream_journey_join`).
    """
    conv = (
        domain.conversions_from_events(conv_stream)
        .withColumnRenamed("user_id", "c_user_id")
        .withWatermark("conv_ts", watermark)
    )
    sess = (
        domain.sessions_from_events(sess_stream)
        .select("session_id", "user_id", "event_ts")
        .withWatermark("event_ts", watermark)
    )
    cond = (
        (F.col("c_user_id") == F.col("user_id"))
        & (F.col("event_ts") <= F.col("conv_ts"))
        & (F.col("event_ts") >= F.col("conv_ts") - F.expr(f"INTERVAL {int(lookback_days)} DAYS"))
    )
    return conv.join(sess, cond, "inner").select(
        F.col("conv_id").alias("conversion_id"), "session_id"
    )


class IncrementalCMS(PartStore):
    """Streaming maintenance of a Count-Min sketch
    (operators/sketches.py): each micro-batch's cell table is appended
    to a parquet part store, and the live sketch is the cellwise SUM
    of the parts — exactly the CMS merge law, which is what makes it a
    streaming-native sketch: no per-key state, no watermark needed,
    and the store is bounded by batches x d x w cells (compactable to
    d x w at any time by rewriting the summed table).

    Parity contract: over a static input run with availableNow, the
    summed sketch must EQUAL the batch-built sketch — cell for cell —
    because addition is associative and batching is the only
    difference. That is the oracle for ``maef_stream_cms``.
    """

    KEY = ("row", "bucket")
    MERGE = {"cnt": F.sum}

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        value_col: str = "user_id",
        d: int = 4,
        w: int = 256,
    ):
        super().__init__(spark, root)
        self.value_col = value_col
        self.d = d
        self.w = w

    def part(self, batch_df: DataFrame) -> DataFrame:
        return sketches.cms_table(
            batch_df.select(F.col(self.value_col).cast("string").alias("_v")),
            "_v",
            d=self.d,
            w=self.w,
        )

    sketch = PartStore.store


class IncrementalChunkStore(PartStore):
    """Streaming maintenance of the CDC chunk store (llm/dedup.py
    cdc_doc_chunks) — the ingest-time face of the L231/L239 family,
    the way maef_stream_dedup is L8's: documents arrive as a stream,
    each micro-batch's chunks are aggregated to per-chunk
    (owner, occurrence-count) parts, and the live store is the
    re-aggregate of the parts under the chunk-store MERGE LAW:

        owner(chunk)       = MIN over batches of (doc_id, source)
        occurrences(chunk) = SUM over batches

    Both reducers are associative AND commutative, so the final store
    is independent of how the file source slices the stream into
    micro-batches — that order-independence is what makes the parity
    oracle exact (same device as IncrementalCMS's cellwise sum; a
    first-writer-wins store would depend on batch order and could
    never be oracle-gated).

    Scale: no per-key streaming state and no watermark — parts are
    parquet appends keyed by chunk_md5, compactable to the distinct
    chunk count at any time by rewriting the aggregated table; the
    serving aggregate shuffles once on the 128-bit chunk hash.
    """

    KEY = ("chunk_md5",)
    # _o = struct(doc_id, source): MIN orders by doc_id, then source
    MERGE = {"_o": F.min, "n_occurrences": F.sum}

    def __init__(self, spark: SparkSession, root: str, w: int = 3, modulus: int = 8):
        super().__init__(spark, root)
        self.w = w
        self.modulus = modulus

    def part(self, batch_df: DataFrame) -> DataFrame:
        chunks = dd.cdc_doc_chunks(batch_df, w=self.w, modulus=self.modulus)
        return chunks.groupBy("chunk_md5").agg(
            F.min(F.struct("doc_id", "source")).alias("_o"),
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        )

    def store(self) -> DataFrame:
        """The live chunk store: one row per distinct chunk with its
        corpus-wide owner and total occurrence count."""
        return super().store().select(
            "chunk_md5",
            F.col("_o.doc_id").alias("owner_doc"),
            F.col("_o.source").alias("owner_source"),
            "n_occurrences",
        )


def enrich_stream(
    events: DataFrame,
    dim: DataFrame,
    stream_key: str,
    dim_key: str,
    window: str = "1 day",
    segment_col: str = "c_mktsegment",
) -> DataFrame:
    """Stream-static broadcast enrichment + windowed rollup — the
    everyday streaming verb the §2.9 set lacked: join each streaming
    event to a SLOW dimension (here: customer -> market segment) and
    aggregate per (event-time window, segment).

    The static side is explicitly ``F.broadcast``: a stream-static
    equi join must not shuffle the unbounded stream side; Spark
    re-plans the broadcast per micro-batch, so a dim refresh between
    batches is picked up (slowly-changing enrichment for free).  The
    windowed agg carries the stream's watermark, so state is bounded
    by (windows in flight) x (segments) regardless of stream length.

    Output: (window_start, window_end, segment, n_sessions,
    total_value_cents) — integer cents per the float policy.
    """
    enriched = events.filter(F.col("event_type") != "purchase").join(
        F.broadcast(dim.select(F.col(dim_key).alias(stream_key), F.col(segment_col).alias("segment"))),
        stream_key,
    )
    return (
        enriched.groupBy(F.window("ts", window).alias("w"), "segment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("total_value_cents"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "segment",
            "n_sessions",
            "total_value_cents",
        )
    )


def funnel_first_touch_state(events: DataFrame, steps: list[str]) -> DataFrame:
    """Streaming per-user funnel state: min(ts) per funnel step — the
    only per-user state a FIRST-OCCURRENCE funnel needs, and (being a
    min) order-independent across micro-batches, which is what makes
    the twin oracle-gatable (the first_touch_state device applied to
    funnel steps).  One streaming aggregate keyed by user."""
    aggs = [
        F.min(F.when(F.col("event_type") == s, F.col("ts"))).alias(f"t{i}")
        for i, s in enumerate(steps)
    ]
    return events.filter(F.col("event_type").isin(list(steps))).groupBy(
        "user_id"
    ).agg(*aggs)


def funnel_from_first_touch(state: DataFrame, n_steps: int) -> DataFrame:
    """Serving side: first-touch funnel state -> stage counts.

    Stage semantics are STRICT FIRST-OCCURRENCE: a user completes k
    stages iff first(step_1) < first(step_2) < ... < first(step_k) —
    deliberately stricter than the batch L53 funnel (which may advance
    on a LATER step-i event when the first one precedes step i-1);
    first-occurrence is the semantics whose state is a commutative min
    and therefore computable by a streaming aggregate with bounded
    per-user state.  The difference is documented, not hidden: this is
    the streaming-native funnel, L53 is the batch one.

    Output: (funnel_stage, n_users, n_reached) — n_reached(s) = users
    at stage >= s, via a range self-join on the bounded stage grain.
    """
    stage = F.lit(0).cast("long")
    cond = None
    for i in range(n_steps):
        c = F.col(f"t{i}").isNotNull()
        if i > 0:
            c = c & (F.col(f"t{i}") > F.col(f"t{i-1}"))
        cond = c if cond is None else (cond & c)
        stage = stage + cond.cast("long")
    per = state.select(stage.alias("funnel_stage"))
    at = per.groupBy("funnel_stage").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )
    b = at.select(F.col("funnel_stage").alias("_s2"), F.col("n_users").alias("_n2"))
    return (
        at.join(b, F.col("_s2") >= F.col("funnel_stage"))
        .groupBy("funnel_stage", "n_users")
        .agg(F.sum("_n2").cast("long").alias("n_reached"))
    )


class IncrementalVocabStore(PartStore):
    """Streaming maintenance of the corpus VOCABULARY store — the
    ingest-time face of the Heaps vocabulary-growth curve (llm/text.py
    vocab_growth), the way IncrementalChunkStore is L231's: documents
    arrive as a stream, each micro-batch's terms are reduced to
    per-term (first_doc, occurrences) parts, and the live store is the
    re-aggregate of the parts under the vocab-store MERGE LAW:

        first_doc(term)   = MIN over batches of doc_id
        occurrences(term) = SUM over batches

    Both reducers are associative AND commutative, so the final store
    is independent of micro-batch slicing — a static-input
    availableNow run is oracle-gated against the batch term table.

    Scale: no per-key streaming state and no watermark — parts are
    parquet appends keyed by term, compactable to the distinct-term
    count at any time; the serving aggregate shuffles once on the
    term.  This is the store a tokenizer-budget monitor reads: novel
    terms per ingest slice, occurrence mass per novelty decile.
    """

    KEY = ("term",)
    MERGE = {"first_doc": F.min, "n_occurrences": F.sum}

    def part(self, batch_df: DataFrame) -> DataFrame:
        ex = batch_df.select(
            "doc_id",
            F.explode(txt.words(txt.normalize_text(F.col("text")))).alias("term"),
        ).filter(F.col("term") != "")
        return ex.groupBy("term").agg(
            F.min("doc_id").cast("long").alias("first_doc"),
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        )


class IncrementalExportLedger(PartStore):
    """Streaming maintenance of the export WRITE-PATH ingest ledger
    (VERDICT r10 #6b — the streaming twin of the L310 conservation
    chain's front half): documents arrive as a stream, each
    micro-batch runs the STATELESS export gate — the exact
    quality + English-language head of ``curate_corpus`` plus the
    deterministic ``split_assign`` hash — and is reduced to per-split
    ``(n_docs, n_tokens)`` parts; gate-rejected docs are counted under
    the 'rejected' split so document AND token mass are conserved
    across the ledger (SUM over splits == corpus totals).  The live
    ledger is the re-aggregate of the parts under the merge law
    (n_docs = SUM, n_tokens = SUM — associative + commutative, so the
    ledger is independent of micro-batch slicing).

    Scope is deliberate: the gate, split and token count are per-row
    functions, so the streaming ledger equals the batch recompute bit
    for bit; the corpus-GLOBAL dedup stages (exact hash groups,
    near-dup pair graph) are owned by the staged pair store written at
    ingest (see ``curate_corpus``'s corpus_pairs note) and are gated
    separately by L310 — a streaming operator that claimed them would
    either hold unbounded per-content state or silently change
    survivor semantics with arrival order.

    Scale: no per-key streaming state, no watermark; parts are
    4-row parquet appends keyed by batch_id (overwrite mode —
    idempotent under foreachBatch's at-least-once replay); the serving
    aggregate reads |batches| x 4 tiny rows.  In production these
    counters are the live "what mass is heading to each split"
    dashboard the packing stage sizes itself against.
    """

    SPLITS = ("train", "val", "test", "rejected")
    KEY = ("split",)
    MERGE = {"n_docs": F.sum, "n_tokens": F.sum}

    def _gated(self, docs: DataFrame) -> DataFrame:
        """Per-doc stateless export columns: (split, n_tokens) with
        split='rejected' for docs failing the quality+lang gate —
        verbatim the curate_corpus head expressions."""
        prof = docs.select(
            "doc_id", txt.normalize_text(F.col("text")).alias("_norm")
        ).select(
            "doc_id",
            txt.words(F.col("_norm")).alias("_ws"),
            F.size(F.regexp_extract_all("_norm", F.lit(txt.TOKEN_REGEX), 0))
            .cast("long")
            .alias("n_tokens"),
        )
        n_words = F.size("_ws").cast("long")
        n_distinct = F.size(F.array_distinct("_ws")).cast("long")
        base = prof.select(
            "doc_id",
            "n_tokens",
            ((n_words >= 5) & (n_distinct * 10 >= n_words * 3)).alias("_q"),
            *txt.lang_cols(F.array_distinct(F.col("_ws"))),
        )
        gate = F.col("_q") & (F.col("lang_guess") == "en")
        return base.select(
            F.when(gate, split_assign(F.col("doc_id")))
            .otherwise(F.lit("rejected"))
            .alias("split"),
            "n_tokens",
        )

    def part(self, batch_df: DataFrame) -> DataFrame:
        return self._gated(batch_df).groupBy("split").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )

    ledger = PartStore.store


class IncrementalRepeatGate(PartStore):
    """Streaming within-doc repeat gate (the L332 screen at ingest) —
    the one span-family member that streams legitimately: the repeat
    test is DOC-LOCAL, so each micro-batch flags its own documents
    with a per-doc shingle-multiplicity aggregate (no keyed streaming
    state, no watermark — the (doc, sh) shuffle lives entirely inside
    the batch) and reduces to per-source counter parts; the live gate
    re-aggregates under SUM/SUM/SUM — associative + commutative, so
    the counters are independent of micro-batch slicing.  Parts are
    batch_id-keyed overwrites (idempotent under at-least-once
    replay).  The cross-doc span family, by contrast, needs corpus
    state and stays with the staged store — this class documents the
    boundary by construction."""

    KEY = ("source",)
    MERGE = {"n_docs": F.sum, "n_flagged": F.sum, "rep_instances": F.sum}
    # the expression set _gate builds from, shared with its batch twins
    _shingle_hash = staticmethod(dd.shingle_hash)
    _word_shingles = staticmethod(txt.word_shingles)
    _normalize_text = staticmethod(txt.normalize_text)
    _words = staticmethod(txt.words)

    def _gate(self, docs: DataFrame, k: int = 8) -> DataFrame:
        """Per-source (n_docs, n_flagged, rep_instances) over one
        batch of documents — the batch-recompute twin reads this too,
        so streaming and batch share one expression set.

        r11 optimization (guide §2.4, remove shuffles outright): the
        repeat test is DOC-LOCAL, so the shingle-multiplicity count
        never needs the (doc, sh) explode+shuffle the first version
        paid twice per micro-batch.  Sort the doc's hashed-shingle
        array and count the positions that are NOT singleton runs
        (a_i equal to a neighbour in sorted order) — Σ_{m(sh)>=2} m(sh)
        exactly, inside the projection; the only remaining exchange is
        the map-side-combinable per-source counter aggregate.
        Shifted-slice + zip_with keeps per-element lambda work tiny
        (the CLAUDE.md HOF rule); measured 5.4 -> 2.8 s solo at sf0.1."""
        sh = self._word_shingles(
            self._words(self._normalize_text(F.col("text"))), k
        )
        srt = F.array_sort(F.transform(sh, self._shingle_hash))
        rep_inst = (
            F.size("_s")
            - F.size(
                F.expr(
                    "filter(zip_with("
                    "  zip_with(_s, concat(array(cast(null as bigint)),"
                    "                      slice(_s, 1, greatest(size(_s) - 1, 0))),"
                    "           (a, p) -> a is distinct from p),"
                    "  zip_with(_s, concat(slice(_s, 2, greatest(size(_s) - 1, 0)),"
                    "                      array(cast(null as bigint))),"
                    "           (a, nx) -> a is distinct from nx),"
                    "  (x, y) -> x and y), b -> b)"
                )
            )
        ).cast("long")
        per_doc = docs.select(
            "doc_id", "source", srt.alias("_s")
        ).select("doc_id", "source", rep_inst.alias("_rep_inst"))
        return per_doc.groupBy("source").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("_rep_inst") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_flagged"),
            F.sum("_rep_inst").cast("long").alias("rep_instances"),
        )

    def part(self, batch_df: DataFrame) -> DataFrame:
        return self._gate(batch_df)

    gate = PartStore.store


class IncrementalContaminationGate(PartStore):
    """Streaming benchmark-contamination gate — the L316 audit run at
    ingest.  The contamination test is a join of each arriving train
    document's word 5-shingles against a STATIC eval-set shingle
    index (the benchmark is fixed while training data streams), so
    every micro-batch is a stream-static broadcast join with no keyed
    streaming state: per-doc shared-shingle counts reduce to
    per-source counter parts (n_train, n_contaminated,
    shared_shingles), written as batch_id-keyed overwrites (idempotent
    under at-least-once replay).  The live gate re-aggregates under
    SUM/SUM/SUM — associative + commutative, so the counters are
    independent of micro-batch slicing — and derives the q20 rate on
    the aggregated sums, the identical algebra the batch L316 query
    computes inside its aggregate.  Gated by the SAME oracle text as
    ``llm_contamination_rate``.

    100-TB shape: the eval side is benchmark-sized (broadcast once,
    localCheckpoint'd at construction so the stream never re-derives
    it), and each micro-batch's cost is its own shingle explode — the
    pass over a streaming training corpus stays shuffle-free."""

    KEY = ("source",)
    MERGE = {"n_train": F.sum, "n_contaminated": F.sum, "shared_shingles": F.sum}

    def __init__(self, spark: SparkSession, root: str, eval_docs: DataFrame):
        super().__init__(spark, root)
        # benchmark-sized: pin the distinct eval SHINGLE INDEX once —
        # the r11 optimization: pinning only the raw eval rows (as the
        # first version did) re-ran the eval-side shingle explode +
        # distinct on EVERY micro-batch; the index is what the join
        # actually needs, and it is what a production deployment would
        # broadcast once per benchmark release.
        self.eval_index = (
            eval_docs.select(F.explode(self._shingles()).alias("_h"))
            .distinct()
            .localCheckpoint(eager=True)
        )

    @staticmethod
    def _shingles():
        """Distinct hashed word 5-shingles of ``text``."""
        return F.array_distinct(
            F.transform(txt.word_shingles(txt.words(txt.normalize_text(F.col("text"))), 5), dd.shingle_hash)
        )

    def _gate(self, train_docs: DataFrame) -> DataFrame:
        """Per-source (n_train, n_contaminated, shared_shingles) over
        one batch of train documents — the batch-recompute twin reads
        this too, so streaming and batch share one expression set.

        r11 optimization (guide §2.3/§2.4): carry ``source`` through
        the train-side shingle explode so the hit counts aggregate
        straight to the per-source grain — the first version joined
        the per-doc hits BACK to the batch on doc_id (an extra
        micro-batch shuffle) just to recover ``source``; the
        uncontaminated-doc count now comes from a separate
        map-side-combinable per-source aggregate joined on the
        bounded source dimension (broadcast).

        Grain note (ADVICE r11): ``doc_id`` is assumed UNIQUE within a
        micro-batch (true of the documents source by construction —
        each doc arrives once).  If a source ever replayed duplicate
        doc_id rows in one batch, the (doc_id, source) hit groupBy
        would count the doc once while n_train counts rows; dedupe
        upstream before feeding such a stream."""
        tr = train_docs.select(
            "doc_id", "source", F.explode(self._shingles()).alias("_h")
        )
        # both sides pre-distinct => COUNT == distinct shared shingles
        hits = (
            tr.join(F.broadcast(self.eval_index), "_h")
            .groupBy("doc_id", "source")
            .agg(F.count(F.lit(1)).cast("long").alias("n_shared_shingles"))
        )
        per_source_hits = hits.groupBy("source").agg(
            F.count(F.lit(1)).cast("long").alias("n_contaminated"),
            F.sum("n_shared_shingles").cast("long").alias("shared_shingles"),
        )
        n_train = train_docs.groupBy("source").agg(
            F.count(F.lit(1)).cast("long").alias("n_train")
        )
        return n_train.join(F.broadcast(per_source_hits), "source", "left").select(
            "source",
            "n_train",
            F.coalesce(F.col("n_contaminated"), F.lit(0)).cast("long").alias("n_contaminated"),
            F.coalesce(F.col("shared_shingles"), F.lit(0)).cast("long").alias("shared_shingles"),
        )

    def part(self, batch_df: DataFrame) -> DataFrame:
        return self._gate(batch_df)

    def gate(self) -> DataFrame:
        """The live gate counters: one row per source, with the q20
        contamination rate derived on the aggregated sums (identical
        algebra to the batch aggregate — (2*c*2^20 + n) div (2*n))."""
        return self.store().select(
            "source",
            "n_train",
            "n_contaminated",
            "shared_shingles",
            F.expr("(2 * n_contaminated * 1048576 + n_train) div (2 * n_train)")
            .cast("long")
            .alias("contamination_q20"),
        )
