"""Channel reporting (SURVEY J2-J6, A1, P9-P11, W1) including the
§2.8.2 grain decision: corrected mode pre-aggregates; replicate mode
reproduces the shipped fan-out arithmetic. Null/empty normalization
paths from FIXTURES.md constraint 5."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from marketing_attribution_etl_framework__maef_spark.operators import reporting as rpt


def ts(s):
    return dt.datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def data(spark):
    sessions = spark.createDataFrame(
        [
            ("s1", "u1", ts("2023-08-01 10:00:00"), "Search", 1, 0, 0),
            ("s2", "u1", ts("2023-08-01 11:00:00"), "Search", 0, 1, 0),
            ("s3", "u1", ts("2023-08-02 09:00:00"), "", 0, 0, 0),      # empty channel
            ("s4", "u1", ts("2023-08-02 10:00:00"), "Email", 0, 0, 0),
        ],
        "session_id string, user_id string, event_ts timestamp, channel_name string, "
        "holder_engagement int, closer_engagement int, impression_interaction int",
    )
    costs = spark.createDataFrame(
        [("s1", 2.0), ("s2", None)],  # s3/s4 have no cost row; s2 cost NULL
        "session_id string, cost double",
    )
    conversions = spark.createDataFrame(
        [("c1", "u1", ts("2023-08-02 12:00:00"), 100.0)],
        "conv_id string, user_id string, conv_ts timestamp, revenue double",
    )
    attribution = spark.createDataFrame(
        [("c1", "s1", 0.5), ("c1", "s2", 0.25), ("c1", "s4", 0.25)],
        "conv_id string, session_id string, ihc double",
    )
    return attribution, sessions, costs, conversions


def test_channel_costs_normalizes_and_aggregates(spark, data):
    _, sessions, costs, _ = data
    got = {(r.channel_name, r.date): r.cost for r in rpt.channel_costs(sessions, costs).collect()}
    assert got[("Search", "2023-08-01")] == 2.0        # NULL cost -> contributes 0
    assert got[("unknown", "2023-08-02")] == 0.0       # '' -> 'unknown'


def test_report_corrected_grain(spark, data):
    attribution, sessions, costs, conversions = data
    rep = rpt.channel_report(attribution, sessions, costs, conversions).collect()
    rows = {(r.channel_name, r.date): r for r in rep}
    # PK grain holds
    assert len(rep) == len(rows)
    # 'unknown' filtered by HAVING
    assert all(k[0] != "unknown" for k in rows)
    # dates < min(conv_date) filtered: min conv date is 2023-08-02
    assert all(k[1] >= "2023-08-02" for k in rows)
    r = rows[("Email", "2023-08-02")]
    assert r.ihc == pytest.approx(0.25)
    assert r.ihc_revenue == pytest.approx(25.0)
    assert r.cost == 0.0


def test_report_replicate_fans_out(spark, data):
    """Two attribution rows x two cost rows on the same channel-day
    inflate the sums — the shipped behavior."""
    attribution, sessions, costs, conversions = data
    # put both Search sessions on the same date (already are) -> ar has 2
    # rows for (Search, 08-01), cc has 2 rows -> 4 joined rows
    rep = rpt.channel_report(attribution, sessions, costs, conversions, mode="replicate")
    # replicate mode has no HAVING date cut in the reference CTE? it does —
    # same filters apply; Search/08-01 is cut by min conv_date here, so
    # check the inflation on a fixture where dates pass: relax via direct call
    rows = rpt._channel_report_replicate(attribution, sessions, costs, conversions).collect()
    r = {(x.channel_name, x.date): x for x in rows}[("Search", "2023-08-01")]
    assert r.ihc == pytest.approx((0.5 + 0.25) * 2)    # x2 cost rows
    assert r.cost == pytest.approx(2.0 * 2)            # x2 attribution rows


def test_export_zero_guards(spark):
    rep = spark.createDataFrame(
        [("A", "2023-08-01", 10.0, 0.0, 5.0), ("B", "2023-08-01", 0.0, 2.0, 8.0)],
        "channel_name string, date string, cost double, ihc double, ihc_revenue double",
    )
    got = {r.channel_name: r for r in rpt.export_report(rep).collect()}
    assert got["A"].cpo == 0.0                            # ihc=0 guard
    assert got["A"].roas == pytest.approx(0.5)            # 5/10
    assert got["B"].roas == 0.0                           # cost=0 guard
    assert got["B"].cpo == pytest.approx(0.0 / 2.0)       # cost 0 / ihc 2
