"""SparkSession factory tuned for the test/bench harness.

Local mode is a single JVM; on a real cluster the same code runs
unchanged — the configs below (AQE, skew-join handling, shuffle
partition sizing) are exactly the knobs that matter at 100 TB, they are
just sized here for local[32].
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession


def scratch_dir(*parts: str) -> str:
    """A fresh, empty directory under the scratch root
    ($SPARK_GRAFT_SCRATCH, default /tmp/maef_spark_scratch): whatever a
    previous run left at ``root/parts...`` is removed first.  The root
    lives outside the repo tree so query side files never dirty it."""
    path = os.path.join(
        os.environ.get("SPARK_GRAFT_SCRATCH", "/tmp/maef_spark_scratch"), *parts
    )
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    return path


@contextmanager
def transient_scratch_dir(*parts: str) -> Iterator[str]:
    """``scratch_dir(*parts)`` for the length of a ``with`` block.  On
    exit the directory is removed, and so is each parent below the
    scratch root that it leaves empty, so nothing the block wrote
    outlives it."""
    path = scratch_dir(*parts)
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)
        for _ in parts[1:]:
            path = os.path.dirname(path)
            try:
                os.rmdir(path)
            except OSError:  # not empty: a concurrent run's dir lives there
                break


def get_spark(app_name: str = "maef_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the session.

    ``spark.sql.shuffle.partitions`` defaults to the local core count —
    at cluster scale this would be ~2-3x total cores or driven by AQE
    advisory sizes; AQE coalescing makes the static number mostly
    irrelevant as long as it is not absurdly small.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    # Python workers unpickle package functions (applyInPandasWithState
    # sessionizer, mapInPandas decoders) BY REFERENCE — they must be able
    # to import this package no matter what cwd the driver process uses.
    # PYTHONPATH must be set before the JVM launches (workers inherit it).
    repo_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if repo_dir not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = repo_dir + (os.pathsep + pp if pp else "")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # session-wide invariant (see domain.load_table): TIMESTAMP(NANOS)
        # parquet columns read as long + explicit truncation
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        # managed-table location for bucketed tables (sources.io
        # save_bucketed_table) — outside the repo tree
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/maef_spark_warehouse"),
        )
        # ContextCleaner reclaims shuffle files / broadcasts /
        # checkpointed RDDs only after a DRIVER GC collects their weak
        # references; the default periodic GC is every 30 min, so a
        # many-query session (the 69-query bench) accumulates blocks
        # and the heap-pressure tail randomly inflates later queries.
        .config("spark.cleaner.periodicGC.interval", "45s")
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
