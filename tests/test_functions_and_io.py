"""Scalar helpers (P3, P10), date validation, chunking (A9), warehouse
copy/verify (S2-S4), single-file sinks (S5, S7), pipeline checks."""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest
from pyspark.sql import functions as F

from marketing_attribution_etl_framework__maef_spark.functions.cleaning import clean_float, normalize_channel, normalize_date
from marketing_attribution_etl_framework__maef_spark.functions.dates import validate_date_range
from marketing_attribution_etl_framework__maef_spark.operators.chunking import assign_chunks
from marketing_attribution_etl_framework__maef_spark.plans.pipeline import AttributionPipeline, PipelineConfig
from marketing_attribution_etl_framework__maef_spark.sources.io import Warehouse, write_csv_single, write_json_single


def test_clean_float(spark):
    df = spark.createDataFrame(
        [(1.5,), (float("nan"),), (float("inf"),), (float("-inf"),), (None,)], "x double"
    )
    got = [r.y for r in df.select(clean_float(F.col("x")).alias("y")).collect()]
    assert got == [1.5, 0.0, 0.0, 0.0, None]


def test_normalizers(spark):
    df = spark.createDataFrame([("", ""), (None, None), ("A", "2023-01-01")], "c string, d string")
    out = df.select(
        normalize_channel(F.col("c")).alias("c"),
        normalize_date(F.col("d"), F.lit("1970-01-01")).alias("d"),
    ).collect()
    assert [r.c for r in out] == ["unknown", "unknown", "A"]
    assert [r.d for r in out] == ["1970-01-01", "1970-01-01", "2023-01-01"]


def test_date_validation():
    validate_date_range("2023-01-01", "2023-06-30")
    with pytest.raises(ValueError):
        validate_date_range("2023-06-30", "2023-01-01")
    with pytest.raises(ValueError):
        validate_date_range("2023-01-01", "2024-06-01")  # > 365d
    with pytest.raises(ValueError):
        validate_date_range("2023/01/01", "2023-06-30")
    with pytest.raises(ValueError):
        validate_date_range("2023-01-01", "2023-06-30", today=dt.date(2023, 3, 1))


def test_chunking_caps(spark):
    rows = [(f"c{i:04d}", 40) for i in range(200)]  # 200 journeys x 40 sessions
    df = spark.createDataFrame(rows, "conversion_id string, n_sessions int")
    out = assign_chunks(df).groupBy("chunk_id").agg(
        F.count(F.lit(1)).alias("n_j"), F.sum("n_sessions").alias("n_s")
    )
    for r in out.collect():
        assert r.n_j <= 85
        # session cap respected up to one journey of overflow (greedy parity)
        assert r.n_s <= 2750 + 40


def test_chunking_caps_skewed(spark):
    # ADVICE r1: one huge journey used to pull all followers into its
    # chunk. 1 x 10000-session journey then 300 x 1-session journeys.
    rows = [("c0000", 10000)] + [(f"c{i:04d}", 1) for i in range(1, 301)]
    df = spark.createDataFrame(rows, "conversion_id string, n_sessions int")
    out = assign_chunks(df).groupBy("chunk_id").agg(
        F.count(F.lit(1)).alias("n_j"), F.max("n_sessions").alias("mx")
    )
    for r in out.collect():
        assert r.n_j <= 85, f"journey cap violated: {r.n_j}"


def test_chunking_bucketed(spark):
    rows = [(f"c{i:04d}", i % 7, 40) for i in range(400)]
    df = spark.createDataFrame(rows, "conversion_id string, bucket int, n_sessions int")
    out = assign_chunks(df, bucket_col="bucket")
    # ids distinct across buckets; caps hold within each chunk
    agg = out.groupBy("chunk_id").agg(
        F.count(F.lit(1)).alias("n_j"),
        F.countDistinct("bucket").alias("n_b"),
        F.sum("n_sessions").alias("n_s"),
    )
    for r in agg.collect():
        assert r.n_b == 1 and r.n_j <= 85 and r.n_s <= 2750 + 40


def test_warehouse_roundtrip(spark, tmp_path):
    src = Warehouse(spark, str(tmp_path / "src"))
    dst = Warehouse(spark, str(tmp_path / "dst"))
    src.create_initial_schema()
    df = spark.createDataFrame([("c1", "s1", 0.5)], "conv_id string, session_id string, ihc double")
    src.write("attribution_customer_journey", df)
    dst.copy_from(src)
    counts = dst.verify_copy(src)
    assert counts["attribution_customer_journey"] == 1
    dst.register_views()
    assert spark.sql("SELECT count(*) n FROM attribution_customer_journey").first().n == 1


def test_partitioned_write_prunes(spark, tmp_path):
    """Date-partitioned warehouse writes: a date predicate must reach
    the scan as a partition filter (no full-table read)."""
    from marketing_attribution_etl_framework__maef_spark import domain

    wh = Warehouse(spark, str(tmp_path / "wh"))
    sess = domain.session_sources(spark, "/root/testdata/sf0.001").withColumn(
        "event_date", F.date_format("event_ts", "yyyy-MM-dd")
    )
    wh.write("session_sources", sess, partition_by=["event_date"])
    one_day = wh.read("session_sources").filter(F.col("event_date") == "2024-01-05")

    import io as _io
    import contextlib

    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        one_day.explain(True)
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "event_date" in plan
    # partition values are type-inferred on read (string -> date)
    got_days = {str(r.event_date) for r in one_day.select("event_date").distinct().collect()}
    assert got_days <= {"2024-01-05"}


def test_merge_upsert_unpartitioned(spark, tmp_path):
    from marketing_attribution_etl_framework__maef_spark.sources.io import merge_upsert

    wh = Warehouse(spark, str(tmp_path / "wh"))
    base = spark.createDataFrame(
        [("k1", 1.0), ("k2", 2.0), ("k3", 3.0)], "k string, v double"
    )
    merge_upsert(wh, "t", base, ["k"])  # creates the table
    upd = spark.createDataFrame([("k2", 20.0), ("k4", 40.0)], "k string, v double")
    merge_upsert(wh, "t", upd, ["k"])
    got = {r.k: r.v for r in wh.read("t").collect()}
    assert got == {"k1": 1.0, "k2": 20.0, "k3": 3.0, "k4": 40.0}


def test_merge_upsert_partition_pruned(spark, tmp_path):
    """Dynamic-partition merge rewrites only the partitions present in
    the update batch; untouched partitions keep their original files."""
    import glob as g
    from marketing_attribution_etl_framework__maef_spark.sources.io import merge_upsert

    wh = Warehouse(spark, str(tmp_path / "wh"))
    base = spark.createDataFrame(
        [("d1", "k1", 1.0), ("d1", "k2", 2.0), ("d2", "k3", 3.0)],
        "day string, k string, v double",
    )
    merge_upsert(wh, "t", base, ["day", "k"], partition_cols=["day"])
    d2_files_before = set(g.glob(str(tmp_path / "wh" / "t" / "day=d2" / "*.parquet")))
    upd = spark.createDataFrame([("d1", "k2", 20.0), ("d1", "k9", 90.0)], "day string, k string, v double")
    merge_upsert(wh, "t", upd, ["day", "k"], partition_cols=["day"])
    got = {(r.day, r.k): r.v for r in wh.read("t").collect()}
    assert got == {
        ("d1", "k1"): 1.0, ("d1", "k2"): 20.0, ("d1", "k9"): 90.0, ("d2", "k3"): 3.0,
    }
    d2_files_after = set(g.glob(str(tmp_path / "wh" / "t" / "day=d2" / "*.parquet")))
    assert d2_files_after == d2_files_before  # d2 untouched on disk


def test_compact_table(spark, tmp_path):
    from marketing_attribution_etl_framework__maef_spark.sources.io import compact_table

    wh = Warehouse(spark, str(tmp_path / "wh"))
    df = spark.range(10_000).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("grp")
    )
    wh.write("t", df.repartition(24))
    stats = compact_table(wh, "t")
    assert stats["files_before"] >= 24 and stats["files_after"] == 1
    assert wh.read("t").count() == 10_000

    wh.write("p", df.repartition(24), partition_by=["grp"])
    stats = compact_table(wh, "p", partition_cols=["grp"])
    assert stats["files_after"] <= 3  # one file per hive partition
    assert wh.read("p").count() == 10_000


def test_single_file_sinks(spark, tmp_path):
    df = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
    jpath = str(tmp_path / "out.json")
    cpath = str(tmp_path / "out.csv")
    write_json_single(df, jpath)
    write_csv_single(df.orderBy("k"), cpath)
    lines = [json.loads(l) for l in open(jpath)]
    assert {l["k"] for l in lines} == {"a", "b"}
    body = open(cpath).read().strip().splitlines()
    assert body[0] == "k,v" and len(body) == 3


def test_pipeline_end_to_end_with_checks(spark, sf_dir, tmp_path):
    out = AttributionPipeline(spark, sf_dir, PipelineConfig(model="ihc")).run_staged(str(tmp_path))
    rows = out.collect()
    assert len(rows) > 0
    assert out.columns == ["channel_name", "date", "cost", "ihc", "ihc_revenue", "cpo", "roas"]
    # report grain is PK(channel_name, date)
    assert len(rows) == len({(r.channel_name, r.date) for r in rows})


def test_run_staged_gates_on_degenerate_input(spark, sf_dir, tmp_path):
    """Each run_staged gate fires on the input it guards: no journeys,
    sum(ihc) = 0, and an attribution that reports to no row."""
    # a conversion range before the data starts: no journeys
    past = AttributionPipeline(spark, sf_dir, PipelineConfig(start="2000-01-01", end="2000-01-31"))
    with pytest.raises(ValueError, match="transform produced no journey entries"):
        past.run_staged(str(tmp_path / "past"))

    pipe = AttributionPipeline(spark, sf_dir)
    sessions = [r.session_id for r in pipe.sessions().select("session_id").limit(3).collect()]

    def resume_report_over(name, conv_ids, ihc):
        wh = tmp_path / name
        spark.range(1).write.parquet(str(wh / "journeys"))  # the journeys gate only needs a row
        spark.createDataFrame(
            [(c, s, ihc) for c, s in zip(conv_ids, sessions)],
            "conv_id string, session_id string, ihc double",
        ).write.parquet(str(wh / "attribution"))
        pipe.run_staged(str(wh), resume_from="report")

    real_convs = [r.conv_id for r in pipe.conversions().select("conv_id").limit(3).collect()]
    with pytest.raises(ValueError, match="total ihc 0.0 <= 0"):
        resume_report_over("zero_ihc", real_convs, 0.0)
    with pytest.raises(ValueError, match="channel report is empty"):
        resume_report_over("no_conv", ["no_such_conversion"] * 3, 1.0)


def test_pipeline_date_range(spark, sf_dir):
    pipe = AttributionPipeline(
        spark, sf_dir, PipelineConfig(model="linear", start="2024-01-02", end="2024-01-05")
    )
    convs = pipe.conversions().select(F.date_format("conv_ts", "yyyy-MM-dd").alias("d")).distinct()
    ds = sorted(r.d for r in convs.collect())
    assert ds and ds[0] >= "2024-01-02" and ds[-1] <= "2024-01-05"


def test_merge_upsert_rejects_duplicate_update_keys(spark, tmp_path):
    import pytest
    from marketing_attribution_etl_framework__maef_spark.sources.io import merge_upsert

    wh = Warehouse(spark, str(tmp_path / "wh"))
    upd = spark.createDataFrame([("k1", 1.0), ("k1", 2.0)], "k string, v double")
    with pytest.raises(ValueError, match="repeats a key"):
        merge_upsert(wh, "t", upd, ["k"])


def test_harness_ts_decode_smoke(spark):
    """Regression: the harness has shipped events.ts as TIMESTAMP(NANOS)
    in one round and TIMESTAMP(MICROS)/NTZ in another. Both the batch
    decode path and every ts-arithmetic consumer (time_decay is the one
    that casts) must work against the real file, whatever its physical
    type this round."""
    from marketing_attribution_etl_framework__maef_spark import domain
    from marketing_attribution_etl_framework__maef_spark.operators import attribution, journeys

    ev = domain.load_table(spark, "/root/testdata/sf0.001", "events")
    ts_type = dict(ev.dtypes)["ts"]
    assert ts_type in ("timestamp", "timestamp_ntz"), ts_type

    j = journeys.build_journeys(
        domain.conversions_from_events(ev), domain.sessions_from_events(ev)
    )
    out = attribution.attribute_time_decay(j).limit(5).collect()
    assert all(0.0 <= r.ihc <= 1.0 for r in out)


def test_harness_ts_decode_streaming(spark, tmp_path):
    """Same regression for the streaming reader: stream_events_nanos
    must adapt to the file's actual timestamp type."""
    from marketing_attribution_etl_framework__maef_spark.streaming import incremental as inc

    ev = inc.stream_events_nanos(spark, "/root/testdata/sf0.001/events.parquet")
    assert dict(ev.dtypes)["ts"] in ("timestamp", "timestamp_ntz")
    q = (
        ev.writeStream.format("memory")
        .queryName("ts_decode_smoke")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.awaitTermination(120)
    n = spark.sql("SELECT count(*) AS n, min(ts) AS lo FROM ts_decode_smoke").first()
    assert n.n > 0 and n.lo is not None


def test_capabilities_report():
    """The environment-gated surface is machine-visible: every gated
    feature names a degraded mode and the packages that would enable
    it, and `available` tracks what is actually importable (the set of
    present packages has drifted between rounds — r03 gained
    `requests` — so the test asserts probe consistency, not a frozen
    environment)."""
    from importlib.util import find_spec

    from marketing_attribution_etl_framework__maef_spark.capabilities import capabilities

    caps = capabilities()
    assert set(caps) == {
        "multimodal_decode",
        "external_api_transport",
        "transform_with_state_sessionizer",
    }
    for feat in caps.values():
        assert {"available", "degraded_mode", "needs"} <= set(feat)
        assert isinstance(feat["available"], bool)
    assert caps["external_api_transport"]["available"] == (find_spec("requests") is not None)
    assert caps["multimodal_decode"]["available"] == any(
        find_spec(n) is not None for n in ("PIL", "soundfile", "torchaudio", "av")
    )
