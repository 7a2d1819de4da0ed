"""Adapters mapping the driver's scale-harness tables onto the MAEF
relational model.

The correctness/bench harness (TESTDATA.md) ships a TPC-H-ish star
schema plus an ``events`` stream table.  ``events`` is the
session_sources/conversions analogue (user_id + ts + type + value), so
the whole MAEF pipeline — journey construction, attribution, channel
reporting — runs over it at any scale factor:

- conversions      := events with ``event_type = 'purchase'``
                      (conv_id = event_id, revenue = value)
- session_sources  := all other events (session_id = event_id,
                      channel_name = event_type); engagement flags are
                      derived deterministically from the event type so
                      the IHC-style model has signal to work with
- session_costs    := paid-channel sessions ('click', 'signup') with
                      cost = value * 0.1 (subset-with-nullable-cost, as
                      in the reference where only paid sessions have a
                      cost row — FIXTURES.md session_costs)

These rules are mirrored verbatim in the DuckDB oracle SQL
(``__spark_entry__.py``), so both engines see identical inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from marketing_attribution_etl_framework__maef_spark import stores

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one harness table.

    ``events.ts`` is written as parquet TIMESTAMP(NANOS) which Spark
    has no native type for — it is read as a nanosecond long
    (``spark.sql.legacy.parquet.nanosAsLong``) and truncated to a
    microsecond timestamp, exactly what DuckDB does when it coerces
    TIMESTAMP_NS -> TIMESTAMP.

    ``nanosAsLong`` is an intentional session-wide invariant (also set
    in ``session.get_spark``): every parquet read in this engine treats
    TIMESTAMP(NANOS) as long + explicit truncation, which is the only
    deterministic cross-engine reading. It is re-asserted here for
    sessions not built by ``get_spark`` (e.g. the driver's own).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # integer div — double division would lose precision on ~1e18 nanos
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


@stores.staged
def events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared, cached events scan all MAEF tables derive from, a
    staged store: one pipeline run scans events.parquet once instead of
    once per derived table (conversions + session_sources +
    session_costs used to mean ~6 scans per report query).  Local/bench
    scale: ``.cache()`` is trivial memory; at 100 TB the equivalent move
    is materializing the three derived MAEF tables once per run via
    sources.io.Warehouse — same call sites, just swap events() for
    Warehouse.read."""
    return load_table(spark, sf_dir, "events").cache()


def clear_events_cache() -> None:
    """Drop and unpersist every staged events scan."""
    stores.clear("events")


def conversions_from_events(ev: DataFrame) -> DataFrame:
    """MAEF ``conversions`` (challenge_db_create.sql:6-13) from an
    events-shaped DataFrame (batch table or streaming micro-batch)."""
    return ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").cast("string").alias("conv_id"),
        F.col("user_id").cast("string").alias("user_id"),
        F.col("ts").alias("conv_ts"),
        F.col("value").alias("revenue"),
    )


def sessions_from_events(ev: DataFrame) -> DataFrame:
    """MAEF ``session_sources`` (challenge_db_create.sql:22-32) from an
    events-shaped DataFrame. Engagement flags are 0/1 ints per the JSON
    contract (``src/etl/transform.py:252-255``)."""
    return ev.filter(F.col("event_type") != "purchase").select(
        F.col("event_id").cast("string").alias("session_id"),
        F.col("user_id").cast("string").alias("user_id"),
        F.col("ts").alias("event_ts"),
        F.col("event_type").alias("channel_name"),
        F.col("event_type").isin("click", "view").cast("int").alias("holder_engagement"),
        (F.col("event_type") == "click").cast("int").alias("closer_engagement"),
        (F.col("event_type") == "view").cast("int").alias("impression_interaction"),
        F.col("value"),
    )


def conversions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return conversions_from_events(events(spark, sf_dir))


def session_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sessions_from_events(events(spark, sf_dir))


def session_costs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAEF ``session_costs`` (challenge_db_create.sql:16-20): paid subset."""
    return (
        session_sources(spark, sf_dir)
        .filter(F.col("channel_name").isin("click", "signup"))
        .select(
            "session_id",
            F.round(F.col("value") * F.lit(0.1), 6).alias("cost"),
        )
    )
