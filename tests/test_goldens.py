"""Golden tests against the reference's own shipped artifacts
(/root/reference/data/output — SURVEY §5 'golden data'). These pin the
interchange contracts and loader/report semantics to real reference
outputs, not synthetic fixtures.

The reference ships no input DB, so the end-to-end CSV cannot be
re-derived; what CAN be pinned is pinned: the journey-entry contract
(required_format.json), the shipped strict-before transform output,
the sum(ihc)=1 invariant through our loader on the real API responses,
and the cpo/roas derived-metric formulas against the shipped report."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from marketing_attribution_etl_framework__maef_spark.operators import attribution as attr
from marketing_attribution_etl_framework__maef_spark.operators.loader import (
    dedup_results,
    error_counts,
    explode_envelopes,
    read_envelopes,
    validate_results,
)
from marketing_attribution_etl_framework__maef_spark.operators.reporting import export_report
from marketing_attribution_etl_framework__maef_spark.sources.io import read_journey_entries

GOLD = "/root/reference/data/output"

if not os.path.isdir(GOLD):
    pytest.skip(
        f"reference golden artifacts not present at {GOLD}; these tests pin "
        "against the reference checkout's shipped outputs and cannot run "
        "without it",
        allow_module_level=True,
    )


def test_required_format_contract(spark):
    """data/output/required_format.json — the challenge-canonical
    transform output (5,070 entries, 999 conversion=1 rows; SURVEY
    §2.8.1's evidence for the <= semantics decision)."""
    df = read_journey_entries(spark, f"{GOLD}/required_format.json", multiline=True)
    assert df.count() == 5070
    assert df.columns == [
        "conversion_id",
        "session_id",
        "timestamp",
        "channel_label",
        "holder_engagement",
        "closer_engagement",
        "conversion",
        "impression_interaction",
    ]
    assert df.filter(F.col("conversion") == 1).count() == 999
    # at most one conversion-flagged session per journey
    per = df.groupBy("conversion_id").agg(F.sum("conversion").alias("s"))
    assert per.filter(F.col("s") > 1).count() == 0


def test_strict_before_golden(spark):
    """transformed_data_2023-08-01_2023-09-30.json — what the shipped
    code actually produces: strict '<' journeys, so the conversion=1
    branch is dead (0 of 3,703 rows; src/etl/transform.py:237,245)."""
    df = read_journey_entries(
        spark, f"{GOLD}/transformed_data_2023-08-01_2023-09-30.json", multiline=True
    )
    assert df.count() == 3703
    assert df.filter(F.col("conversion") == 1).count() == 0


def test_api_response_sum_ihc_invariant(spark):
    """api_response.json through our loader chain: 23 envelopes, 1,940
    conversions, sum(ihc) == 1 per conversion (the invariant our native
    models must also satisfy; SURVEY §2.6)."""
    env = read_envelopes(spark, f"{GOLD}/api_response.json")
    assert env.count() == 23
    counts = {r.error_code: r["count"] for r in error_counts(env).collect()}
    assert counts == {"ok": 23}

    rows = validate_results(explode_envelopes(env))
    assert dedup_results(rows).count() == rows.count()  # no dups in the real data

    sums = rows.groupBy("conv_id").agg(F.sum("ihc").alias("s"))
    assert sums.count() == 1940
    assert sums.filter((F.col("s") < 0.999999) | (F.col("s") > 1.000001)).count() == 0
    assert rows.filter(F.col("ihc") < 0).count() == 0


def test_native_models_on_reference_journeys(spark):
    """Run the native attribution models over the reference's own
    journey entries: every model must satisfy the API's observable
    contract (weights >= 0, sum per conversion == 1)."""
    entries = read_journey_entries(spark, f"{GOLD}/required_format.json", multiline=True)
    journeys = entries.select(
        "conversion_id",
        "session_id",
        F.to_timestamp("timestamp").alias("event_ts"),
        "channel_label",
        "holder_engagement",
        "closer_engagement",
        "impression_interaction",
    )
    conv_ts = journeys.groupBy("conversion_id").agg(F.max("event_ts").alias("conv_ts"))
    journeys = journeys.join(conv_ts, "conversion_id")
    for model in ["linear", "first_touch", "last_touch", "u_shaped", "time_decay", "ihc"]:
        out = attr.attribute(journeys, model)
        sums = out.groupBy("conv_id").agg(F.sum("ihc").alias("s"))
        bad = sums.filter(F.abs(F.col("s") - 1.0) > 1e-9).count()
        assert bad == 0, f"{model}: sum(ihc) != 1"
        assert out.filter(F.col("ihc") < 0).count() == 0, f"{model}: negative weight"


def test_replicate_report_csv_end_to_end(spark, tmp_path):
    """S7 + §2.8.2 end to end (VERDICT r03 #5): replication-mode (fan-
    out) channel report over a 2023-08/09-shaped fixture, through the
    single-file CSV writer, diffed against the shipped
    channel_report.csv CONVENTIONS (the reference ships no input DB, so
    the exact CSV cannot be re-derived — the header/quoting/value
    round-trip contract can be, and the fan-out arithmetic is pinned
    numerically by hand here)."""
    from marketing_attribution_etl_framework__maef_spark.operators.reporting import channel_report
    from marketing_attribution_etl_framework__maef_spark.sources.io import write_csv_single

    conversions = spark.createDataFrame(
        [("C1", "2023-09-01 10:00:00", 100.0), ("C2", "2023-09-02 09:00:00", 50.0)],
        "conv_id string, conv_ts string, revenue double",
    ).withColumn("conv_ts", F.to_timestamp("conv_ts"))
    sources = spark.createDataFrame(
        [
            ("s1", "Affiliate & Partnerships", "2023-09-01 08:00:00"),
            ("s2", "TV, Radio & Print", "2023-09-01 07:00:00"),
            ("s3", "Direct", "2023-08-31 12:00:00"),
        ],
        "session_id string, channel_name string, event_ts string",
    ).withColumn("event_ts", F.to_timestamp("event_ts"))
    costs = spark.createDataFrame(
        [("s1", 2.0), ("s2", 3.5)], "session_id string, cost double"
    )
    attribution = spark.createDataFrame(
        [("C1", "s1", 0.6), ("C1", "s2", 0.4), ("C2", "s2", 1.0)],
        "conv_id string, session_id string, ihc double",
    )
    rep = channel_report(attribution, sources, costs, conversions, mode="replicate")
    from marketing_attribution_etl_framework__maef_spark.operators.reporting import export_report

    out = export_report(rep)
    # hand-computed fan-out arithmetic (src/etl/reporting.py:57-98):
    # (channel, date) pair-sum = per-side sums times the other side's count
    got = {(r.channel_name, r.date): r for r in out.collect()}
    ap = got[("Affiliate & Partnerships", "2023-09-01")]
    assert (ap.cost, ap.ihc, ap.ihc_revenue) == (2.0, 0.6, 60.0)
    tv = got[("TV, Radio & Print", "2023-09-01")]
    assert (tv.cost, round(tv.ihc, 12), tv.ihc_revenue) == (7.0, 1.4, 90.0)
    assert round(tv.cpo, 12) == 5.0 and round(tv.roas, 12) == round(90.0 / 7.0, 12)
    # 'Direct' has no attribution rows and 2023-08-31 < min conv date
    assert set(got) == {("Affiliate & Partnerships", "2023-09-01"),
                        ("TV, Radio & Print", "2023-09-01")}

    path = str(tmp_path / "channel_report.csv")
    write_csv_single(out, path)
    lines = open(path).read().splitlines()
    gold_header = open(f"{GOLD}/channel_report.csv").readline().strip()
    assert lines[0] == gold_header  # identical column order + names
    # embedded-comma channel names must be quoted, as CSV demands
    assert any(line.startswith('"TV, Radio & Print"') for line in lines[1:])
    # values round-trip exactly (Spark writes shortest round-trip repr)
    back = (
        spark.read.option("header", True).csv(path)
        .select(
            "channel_name", "date",
            *[F.col(c).cast("double").alias(c)
              for c in ("cost", "ihc", "ihc_revenue", "cpo", "roas")],
        )
    )
    assert back.exceptAll(out).count() == 0 and out.exceptAll(back).count() == 0


def test_export_metrics_match_shipped_csv(spark):
    """channel_report.csv — recompute cpo/roas from the shipped
    cost/ihc/ihc_revenue columns with our P11 projection and compare
    against the shipped derived columns (float-tolerant)."""
    rep = (
        spark.read.option("header", True)
        .csv(f"{GOLD}/channel_report.csv")
        .select(
            "channel_name",
            "date",
            F.col("cost").cast("double").alias("cost"),
            F.col("ihc").cast("double").alias("ihc"),
            F.col("ihc_revenue").cast("double").alias("ihc_revenue"),
            F.col("cpo").cast("double").alias("g_cpo"),
            F.col("roas").cast("double").alias("g_roas"),
        )
    )
    assert rep.count() == 117  # 118 file lines including header
    out = export_report(rep.select("channel_name", "date", "cost", "ihc", "ihc_revenue"))
    joined = out.join(
        rep.select("channel_name", "date", "g_cpo", "g_roas"), ["channel_name", "date"]
    )
    tol = 1e-9
    bad = joined.filter(
        (F.abs(F.col("cpo") - F.col("g_cpo")) > tol * F.greatest(F.abs("g_cpo"), F.lit(1.0)))
        | (F.abs(F.col("roas") - F.col("g_roas")) > tol * F.greatest(F.abs("g_roas"), F.lit(1.0)))
    ).count()
    assert bad == 0
