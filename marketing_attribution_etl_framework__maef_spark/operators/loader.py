"""Attribution-result loader (SURVEY §2 P2, P7, P12, A5-A6, A8, S10, W3).

The reference ingests JSON response envelopes from the external API
(``src/etl/load.py:16-147``): dispatch on envelope shape, validate,
type-enforce, dedup on (conv_id, session_id), upsert. Here each step is
a DataFrame transformation; the envelope dispatch becomes schema-driven
``explode`` instead of per-element Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from marketing_attribution_etl_framework__maef_spark import schemas


def read_envelopes(spark, path: str) -> DataFrame:
    """S6: JSON envelope files -> one row per envelope
    (``src/etl/load.py:18-24``)."""
    return spark.read.schema(schemas.API_RESPONSE_ENVELOPE).json(path, multiLine=True)


def explode_envelopes(envelopes: DataFrame) -> DataFrame:
    """P12 (``src/etl/load.py:34-67``): statusCode==200 envelopes ->
    exploded value rows. Non-200 / malformed rows are routed to the
    error path (``error_counts``), not dropped silently."""
    return (
        envelopes.filter(F.col("statusCode") == 200)
        .select(F.explode("value").alias("v"))
        .select("v.*")
    )


def pack_envelopes(
    rows: DataFrame, chunk: F.Column | None = None, n_chunks: int = 20
) -> DataFrame:
    """Inverse of ``explode_envelopes`` — the request-building half of
    the reference's external-API mode (``src/api/ihc_api.py:120-132``
    packs journey chunks into request bodies; responses come back in
    the same chunk shape, ``data/output/api_response.json``).

    Packs (conversion_id, session_id, ihc) rows into statusCode-200
    envelopes, one per chunk key (default: a hash of conversion_id —
    co-chunking all sessions of one conversion, as the reference's
    chunker guarantees). collect_list per chunk is bounded by the chunk
    size, never the table size."""
    key = (
        chunk
        if chunk is not None
        else F.pmod(F.crc32(F.col("conversion_id").cast("string")), F.lit(n_chunks))
    )
    return (
        rows.withColumn("_chunk", key)
        .groupBy("_chunk")
        .agg(
            F.collect_list(
                F.struct(
                    F.col("conversion_id"),
                    F.col("session_id"),
                    F.lit(None).cast("double").alias("initializer"),
                    F.lit(None).cast("double").alias("holder"),
                    F.lit(None).cast("double").alias("closer"),
                    F.col("ihc"),
                )
            ).alias("value")
        )
        .select(
            F.lit(200).alias("statusCode"),
            "value",
            F.lit(None).cast("array<string>").alias("partialFailureErrors"),
        )
    )


def error_counts(envelopes: DataFrame) -> DataFrame:
    """A8 (``src/etl/load.py:30,41-67``): histogram of failure classes."""
    return (
        envelopes.select(
            F.when(F.col("statusCode").isNull(), "missing_status")
            .when(F.col("statusCode") != 200, F.concat(F.lit("status_"), F.col("statusCode")))
            .when(F.col("value").isNull(), "missing_value")
            .otherwise("ok")
            .alias("error_code")
        )
        .groupBy("error_code")
        .count()
    )


def validate_results(rows: DataFrame) -> DataFrame:
    """P2 + P7 (``src/etl/load.py:91-106``): drop rows missing/blank
    conversion_id or session_id; enforce types; default ihc 0.0."""
    return rows.filter(
        F.col("conversion_id").isNotNull()
        & (F.col("conversion_id") != "")
        & F.col("session_id").isNotNull()
        & (F.col("session_id") != "")
    ).select(
        F.col("conversion_id").cast("string").alias("conv_id"),
        F.col("session_id").cast("string").alias("session_id"),
        F.coalesce(F.col("ihc").cast("double"), F.lit(0.0)).alias("ihc"),
    )


def dedup_results(rows: DataFrame, deterministic: bool = True) -> DataFrame:
    """A6 (``src/etl/load.py:89,108-113``): first-wins dedup on
    (conv_id, session_id). The reference's "first" is file order —
    nondeterministic under distribution — so the default here keeps the
    row with the *highest* ihc (stable, order-free); pass
    ``deterministic=False`` for plain ``dropDuplicates`` (any-wins).

    Hash aggregation, not a window sort: the validated row is exactly
    (conv_id, session_id, ihc), so highest-ihc-wins is ``max(ihc)`` per
    key — map-side partial agg shrinks the shuffle to one row per key
    per mapper, where a row_number window must shuffle every duplicate
    and sort each partition. At 100 TB duplicates are the common case
    (retried API chunks), so the partial agg is the difference between
    shuffling the dup multiset and shuffling the key set."""
    if not deterministic:
        return rows.dropDuplicates(["conv_id", "session_id"])
    return rows.groupBy("conv_id", "session_id").agg(F.max("ihc").alias("ihc"))


def check_total_ihc(rows: DataFrame, expect_rows: int | None = None) -> float:
    """A5 (``src/etl/load.py:120-123``): reject if sum(ihc) <= 0.  Given
    ``expect_rows``, the same agg also checks the loaded row count
    (``db_utils.py:86-102``), so a load verifies in one job."""
    got = rows.agg(F.sum("ihc").alias("t"), F.count(F.lit(1)).alias("n")).first()
    if expect_rows is not None and got["n"] != expect_rows:
        raise ValueError(f"load verification failed: {got['n']} loaded, {expect_rows} expected")
    total = got["t"] or 0.0
    if total <= 0:
        raise ValueError(f"total ihc {total} <= 0 — refusing to load")
    return float(total)


def positive_ihc_count(rows: DataFrame) -> int:
    """P8 (``src/etl/load.py:152-158``): count of ihc > 0 rows."""
    return rows.filter(F.col("ihc") > 0).count()


def invalid_samples(envelopes: DataFrame, limit: int = 3) -> DataFrame:
    """W3 (``src/etl/load.py:48-49,60-67``): keep <= 3 samples of
    invalid envelopes for diagnostics. Ordered before the limit so the
    sample is deterministic (a bare limit picks whichever partitions
    answer first); TakeOrdered, not a global sort."""
    return (
        envelopes.filter(
            F.col("statusCode").isNull() | (F.col("statusCode") != 200) | F.col("value").isNull()
        )
        .orderBy(
            F.col("statusCode").asc_nulls_first(),
            F.size(F.coalesce(F.col("value"), F.array())).asc(),
        )
        .limit(limit)
    )


def upsert(existing: DataFrame, incoming: DataFrame) -> DataFrame:
    """S10 (``src/etl/load.py:125-143``): INSERT OR REPLACE keyed
    (conv_id, session_id) — incoming wins. Without a Delta/Iceberg
    catalog this is the union-dedup formulation; on a lakehouse table
    it is ``MERGE INTO`` on the same key.

    Both sides are unique per key (incoming is post-``dedup_results``,
    existing is a loaded table), so incoming-wins is ``max_by(ihc, _src)``
    per key — a hash aggregation with map-side combine instead of a
    row_number window's shuffle-and-sort."""
    inc = incoming.select("conv_id", "session_id", "ihc").withColumn("_src", F.lit(1))
    ex = existing.select("conv_id", "session_id", "ihc").withColumn("_src", F.lit(0))
    return (
        inc.unionByName(ex)
        .groupBy("conv_id", "session_id")
        .agg(F.max_by("ihc", "_src").alias("ihc"))
    )
