"""The shared foreachBatch driver mechanism (streaming/incremental.py
StreamDriver / PartStore) and the entry-side harness that runs it
(__spark_entry__._run_stream_store)."""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F

from marketing_attribution_etl_framework__maef_spark import schemas
from marketing_attribution_etl_framework__maef_spark.streaming import incremental as inc


def test_start_dispatches_through_subclass_override(spark, tmp_path):
    """start() looks process_batch up on self, so a subclass wrapper
    (perfbench's traced incremental run) sees every micro-batch."""
    src = str(tmp_path / "events")
    for i, mode in enumerate(("error", "append")):
        row = (i, dt.datetime(2024, 1, 1 + i), 7, "click", 1.0, None)
        spark.createDataFrame([row], schemas.EVENTS).coalesce(1).write.mode(mode).parquet(src)
    seen = []

    class Recording(inc.IncrementalAttribution):
        def process_batch(self, batch_df, batch_id):
            seen.append((batch_id, batch_df.count()))

    drv = Recording(spark, str(tmp_path / "root"))
    q = drv.start(inc.stream_events(spark, src, max_files_per_trigger=1))
    q.awaitTermination(120)
    assert not q.isActive
    assert seen == [(0, 1), (1, 1)]


def test_stream_query_leaves_no_state_behind(spark, sf_dir, tmp_path, monkeypatch):
    """A stream store query writes nothing into the repo tree and
    removes its scratch root before returning; the served frame is
    localCheckpoint'd, so it stays readable without the root."""
    import __spark_entry__ as entry

    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    out = entry.q_stream_cms(spark, sf_dir)
    repo = os.path.dirname(os.path.abspath(entry.__file__))
    assert not os.path.exists(os.path.join(repo, ".stream_tmp", "cms_" + os.path.basename(sf_dir)))
    assert not (tmp_path / ".stream").exists()
    # every event adds 1 to one cell in each of the sketch's d=4 rows
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert out.agg(F.sum("cnt")).collect()[0][0] == 4 * n_events
