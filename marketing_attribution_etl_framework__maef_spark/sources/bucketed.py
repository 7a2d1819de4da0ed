"""Bucketed (hash-clustered) tables: the shuffle-elimination story.

At 100 TB the single biggest join cost is the shuffle. Spark's
bucketing clusters a table's files by ``hash(bucket_col) % n`` at
WRITE time; two tables bucketed on the same key with the same bucket
count then join with ZERO exchange — the scan itself satisfies the
join's distribution requirement (`.explain` shows SortMergeJoin fed
directly by the scans, no `Exchange hashpartitioning`). This is the
persistent-storage twin of `repartition()`: pay the shuffle once at
ingest, reuse it in every subsequent join/aggregation on that key.

Bucketing needs the session catalog (`saveAsTable`) — plain
`.parquet(path)` cannot record bucket metadata. Tables here are
EXTERNAL (explicit `path` option) so data lives where the caller
says, not in `spark-warehouse/` under the cwd; the in-memory catalog
entry is session-scoped, which is exactly right for the harness (a
production deployment swaps in a Hive/Unity metastore with the same
call sites).

The reference has no storage-level clustering at all (SQLite tables,
`/root/reference/src/database/db_utils.py`) — this is part of the
scale layer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    bucket_col: str,
    n_buckets: int = 16,
    sort_col: str | None = None,
) -> None:
    """Write ``df`` as an external bucketed parquet table registered
    in the session catalog (overwriting any previous version)."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    w = (
        df.write.mode("overwrite")
        .format("parquet")
        .option("path", path)
        .bucketBy(n_buckets, bucket_col)
    )
    if sort_col is not None:
        w = w.sortBy(sort_col)
    w.saveAsTable(table)


def has_join_exchange(df: DataFrame, key: str) -> bool:
    """True if the physical plan still shuffles on ``key`` — the
    assertion hook for co-located-join plan pins."""
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return f"hashpartitioning({key}" in buf.getvalue()
