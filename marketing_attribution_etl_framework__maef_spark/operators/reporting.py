"""Channel reporting (SURVEY §2 J2-J6, A1-A4, P9-P11, W1).

Reproduces the one declarative query in the reference — the CTE
aggregation in ``src/etl/reporting.py:57-98`` — and its export with
derived metrics (``:150-167``).

Two grain modes (SURVEY §2.8.2):

- ``corrected`` (default): cost and attributed revenue are each
  pre-aggregated to (channel_name, date) grain *before* the join, which
  is the evident intent. The shipped SQL joins per-attribution rows to
  per-session cost rows on (channel_name, date) — a many-to-many
  fan-out that inflates every SUM (the shipped CSV shows
  ihc=683210.63 for one channel-day, impossible under sum(ihc)=1 per
  conversion).
- ``replicate``: reproduces the fan-out arithmetic exactly, for
  golden-diff testing against ``data/output/channel_report.csv``.

Scale notes: both sides aggregate (map-side partial agg) down to
channel x day grain — tiny — before the join, so the join is
broadcastable no matter the input size. The HAVING-stage min(conv_date)
scalar subquery (``reporting.py:97``) is a 1-row aggregate crossJoin,
which Spark broadcasts automatically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from marketing_attribution_etl_framework__maef_spark.functions.cleaning import normalize_channel, normalize_date


def channel_costs(session_sources: DataFrame, session_costs: DataFrame) -> DataFrame:
    """J4 + pre-agg: per (channel_name, date) total cost.

    session_sources LEFT JOIN session_costs on session_id
    (``src/etl/reporting.py:74-83``), COALESCE(cost,0), channel/date
    normalized (P10), then summed to channel-day grain.
    """
    ss = session_sources.filter(
        F.col("event_ts").isNotNull()
    ).select(
        "session_id",
        normalize_channel(F.col("channel_name")).alias("channel_name"),
        F.date_format("event_ts", "yyyy-MM-dd").alias("date"),
    )
    joined = ss.join(session_costs, on="session_id", how="left")
    return joined.groupBy("channel_name", "date").agg(
        F.coalesce(F.sum("cost"), F.lit(0.0)).alias("cost")
    )


def attributed_revenue(
    attribution: DataFrame, session_sources: DataFrame, conversions: DataFrame
) -> DataFrame:
    """J2 + J3 + pre-agg: per (channel_name, date) sum(ihc) and
    sum(revenue * ihc) (``src/etl/reporting.py:57-72``).

    attribution INNER JOIN session_sources on session_id (1:1) INNER
    JOIN conversions on conv_id (N:1); channel filtered non-null/non-
    empty (P6); date = session's event date with conv_date fallback.
    """
    ss = session_sources.select(
        "session_id",
        F.col("channel_name"),
        F.date_format("event_ts", "yyyy-MM-dd").alias("event_date"),
    ).filter(F.col("channel_name").isNotNull() & (F.col("channel_name") != ""))
    conv = conversions.select(
        "conv_id",
        F.col("revenue"),
        F.date_format("conv_ts", "yyyy-MM-dd").alias("conv_date"),
    )
    j = (
        attribution.join(ss, on="session_id", how="inner")
        .join(conv, on="conv_id", how="inner")
        .select(
            F.col("channel_name"),
            normalize_date(F.col("event_date"), F.col("conv_date")).alias("date"),
            F.col("ihc"),
            (F.col("revenue") * F.col("ihc")).alias("attributed_revenue"),
        )
    )
    return j.groupBy("channel_name", "date").agg(
        F.coalesce(F.sum("ihc"), F.lit(0.0)).alias("ihc"),
        F.coalesce(F.sum("attributed_revenue"), F.lit(0.0)).alias("ihc_revenue"),
    )


def channel_report(
    attribution: DataFrame,
    session_sources: DataFrame,
    session_costs: DataFrame,
    conversions: DataFrame,
    mode: str = "corrected",
) -> DataFrame:
    """The full channel_reporting table: (channel_name, date, cost, ihc,
    ihc_revenue), HAVING channel != 'unknown' AND date >= min(conv_date)
    (``src/etl/reporting.py:85-98``), ordered by channel, date (W1).
    """
    if mode == "corrected":
        ar = attributed_revenue(attribution, session_sources, conversions)
        cc = channel_costs(session_sources, session_costs)
        # attribution side drives (left join, missing costs -> 0), as in
        # the reference's FROM attributed_revenue LEFT JOIN channel_costs.
        rep = ar.join(cc, on=["channel_name", "date"], how="left").select(
            "channel_name",
            "date",
            F.coalesce(F.col("cost"), F.lit(0.0)).alias("cost"),
            "ihc",
            "ihc_revenue",
        )
    elif mode == "replicate":
        rep = _channel_report_replicate(
            attribution, session_sources, session_costs, conversions
        )
    else:
        raise ValueError(f"unknown mode {mode!r}")

    # P9/J6: HAVING channel_name != 'unknown' AND date >= scalar
    # subquery MIN(conv_date) — uncorrelated, a 1-row broadcast.
    min_date = conversions.agg(
        F.min(F.date_format("conv_ts", "yyyy-MM-dd")).alias("_min_conv_date")
    )
    return (
        rep.crossJoin(F.broadcast(min_date))
        .filter((F.col("channel_name") != "unknown") & (F.col("date") >= F.col("_min_conv_date")))
        .drop("_min_conv_date")
        .orderBy("channel_name", "date")
    )


def _channel_report_replicate(
    attribution: DataFrame,
    session_sources: DataFrame,
    session_costs: DataFrame,
    conversions: DataFrame,
) -> DataFrame:
    """Exact replication of the shipped fan-out arithmetic
    (``src/etl/reporting.py:57-98``): the reference joins per-
    attribution rows to per-session cost rows many-to-many on
    (channel_name, date) and SUMs the inflated pairs. Summing over the
    cartesian pairs factorizes exactly —

        SUM_pairs(ihc)  = SUM_ar(ihc)  * max(n_cc, 1)
        SUM_pairs(cost) = SUM_cc(cost) * n_ar
        SUM_pairs(rev)  = SUM_ar(rev)  * max(n_cc, 1)

    (LEFT join: an ar key with no cc match keeps its rows once with
    NULL cost) — so this computes the same numbers from two channel-day
    pre-aggregates and a tiny dimension join, instead of materializing
    the M x N pair blow-up. Same inflated semantics, none of the
    quadratic shuffle."""
    ar_agg = (
        attribution.join(
            session_sources.select(
                "session_id",
                "channel_name",
                F.date_format("event_ts", "yyyy-MM-dd").alias("event_date"),
            ).filter(F.col("channel_name").isNotNull() & (F.col("channel_name") != "")),
            "session_id",
        )
        .join(
            conversions.select(
                "conv_id",
                "revenue",
                F.date_format("conv_ts", "yyyy-MM-dd").alias("conv_date"),
            ),
            "conv_id",
        )
        .select(
            F.col("channel_name"),
            normalize_date(F.col("event_date"), F.col("conv_date")).alias("date"),
            "ihc",
            (F.col("revenue") * F.col("ihc")).alias("attributed_revenue"),
        )
        .groupBy("channel_name", "date")
        .agg(
            F.sum("ihc").alias("_s_ihc"),
            F.sum("attributed_revenue").alias("_s_rev"),
            F.count(F.lit(1)).alias("_n_ar"),
        )
    )
    cc_agg = (
        session_sources.select(
            "session_id",
            normalize_channel(F.col("channel_name")).alias("channel_name"),
            F.date_format("event_ts", "yyyy-MM-dd").alias("date"),
        )
        .join(session_costs, "session_id", "left")
        .groupBy("channel_name", "date")
        .agg(
            F.sum(F.coalesce("cost", F.lit(0.0))).alias("_s_cost"),
            F.count(F.lit(1)).alias("_n_cc"),
        )
    )
    return ar_agg.join(cc_agg, on=["channel_name", "date"], how="left").select(
        "channel_name",
        "date",
        (F.coalesce(F.col("_s_cost"), F.lit(0.0)) * F.col("_n_ar")).alias("cost"),
        (F.col("_s_ihc") * F.coalesce(F.col("_n_cc"), F.lit(1))).alias("ihc"),
        (F.col("_s_rev") * F.coalesce(F.col("_n_cc"), F.lit(1))).alias("ihc_revenue"),
    )


def export_report(report: DataFrame) -> DataFrame:
    """P11 (``src/etl/reporting.py:150-167``): derived metrics with
    div-by-zero guards —
    cpo  = cost / ihc          if ihc  > 0 else 0  (valid because
           sum(ihc)=1 per conversion => sum(ihc) ~ attributed orders)
    roas = ihc_revenue / cost  if cost > 0 else 0.
    """
    return report.select(
        "channel_name",
        "date",
        "cost",
        "ihc",
        "ihc_revenue",
        F.when(F.col("ihc") > 0, F.col("cost") / F.col("ihc")).otherwise(F.lit(0.0)).alias("cpo"),
        F.when(F.col("cost") > 0, F.col("ihc_revenue") / F.col("cost")).otherwise(F.lit(0.0)).alias("roas"),
    )


def dormant_users(ev: DataFrame, cutoff: str) -> DataFrame:
    """Churn-risk audience: users with session activity on/after
    ``cutoff`` but no purchase on/after it, rolled up by their
    last-touch channel.

    The no-purchase set is a LEFT ANTI join — the relational complement
    missing from the reference's join matrix (its reporting joins are
    all inner/left, ``src/etl/reporting.py:57-98``). Last touch uses a
    per-user window with a total (ts, event_id) order so equal-ts ties
    cannot flip across engines or runs.

    100-TB shape: the cutoff predicate pushes to the scan (cast-to-date
    compare, Catalyst rewrites to a timestamp bound); both the anti
    join and the window shuffle on user_id, and AQE collapses the two
    identical-key exchanges at runtime (measured on the funnel twin —
    see CLAUDE.md perf notes).
    """
    from pyspark.sql import Window

    win = ev.filter(F.col("ts").cast("date") >= F.lit(cutoff).cast("date"))
    sessions = win.filter(F.col("event_type") != "purchase")
    buyers = win.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    dormant = sessions.join(buyers, "user_id", "left_anti")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    last = (
        dormant.withColumn("_rn", F.row_number().over(w))
        .withColumn("_n_sess", F.count(F.lit(1)).over(Window.partitionBy("user_id")))
        .filter(F.col("_rn") == 1)
    )
    return last.groupBy(F.col("event_type").alias("last_channel")).agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("_n_sess").cast("long").alias("n_sessions"),
    )


def channel_assists(journeys: DataFrame) -> DataFrame:
    """Assisted-conversion report — the standard complement to
    last-touch credit the reference's report (src/etl/reporting.py)
    never computes: per channel, how many conversions it merely
    ASSISTED (touched but did not close) vs CLOSED (was the last
    touch). Distinct-conversion counts, plus the integer-q20 assist
    ratio (assists * 2^20 div touched — no float crosses engines).

    100-TB shape: one journey-ordering window (the same
    (conversion_id; event_ts, session_id) sort every attribution model
    uses — AQE collapses the shared exchange), then one
    distinct-aggregate on the channel grain. The q20 division's BIGINT
    product is safe to ~8e12 touched conversions per channel; promote
    to DECIMAL(38,0) past that (rel_market_share pattern)."""
    from pyspark.sql import Window

    w = Window.partitionBy("conversion_id").orderBy("event_ts", "session_id")
    wall = Window.partitionBy("conversion_id")
    j = journeys.select(
        "conversion_id",
        "channel_label",
        (F.row_number().over(w) == F.count(F.lit(1)).over(wall)).alias("_is_last"),
    )
    agg = j.groupBy("channel_label").agg(
        F.countDistinct("conversion_id").cast("long").alias("n_touched"),
        F.countDistinct(F.when(F.col("_is_last"), F.col("conversion_id")))
        .cast("long")
        .alias("n_closed"),
        F.countDistinct(F.when(~F.col("_is_last"), F.col("conversion_id")))
        .cast("long")
        .alias("n_assists"),
    )
    return agg.withColumn(
        "assist_ratio_q20",
        F.expr("n_assists * 1048576 div n_touched").cast("long"),
    )


def ab_lift_report(events: DataFrame, salt: str = "ab", split_pct: int = 50) -> DataFrame:
    """A/B experiment readout: users assigned to variants by the
    repo's canonical salted-md5 bucket (deterministic, stable under
    data growth — the same expression behind split_assign and
    stratified sampling), then per variant: users, converters (any
    purchase), conversion count, exact-cents revenue, and the q20
    conversion rate (converters * 2^20 div users — integer, so no
    float crosses engines).

    The significance TEST belongs in the analyst's notebook; the
    warehouse job's contract is exact counts, which is what this
    emits. 100-TB shape: one user-grain aggregate (map-side combining
    conditional counts), then a |variants|-row roll-up."""
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("user_id").cast("string"), F.lit("|" + salt))), 1, 15
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    is_purchase = F.col("event_type") == "purchase"
    per_user = events.groupBy("user_id").agg(
        F.sum(is_purchase.cast("long")).cast("long").alias("_n_conv"),
        F.sum(
            F.when(is_purchase, F.round(F.col("value") * 100, 0).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
        .cast("long")
        .alias("_rev"),
    ).select(
        F.when(bucket < int(split_pct), F.lit("A")).otherwise(F.lit("B")).alias("variant"),
        "_n_conv",
        "_rev",
    )
    agg = per_user.groupBy("variant").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum((F.col("_n_conv") > 0).cast("long")).cast("long").alias("n_converters"),
        F.sum("_n_conv").cast("long").alias("n_conversions"),
        F.sum("_rev").cast("long").alias("revenue_cents"),
    )
    return agg.withColumn(
        "conv_rate_q20", F.expr("n_converters * 1048576 div n_users").cast("long")
    )


def budget_allocation(sessions: DataFrame, budget_cents: int = 100_000_000) -> DataFrame:
    """Integer budget apportionment across channels proportional to
    channel session value — Hamilton's largest-remainder method, the
    deterministic way to split a fixed budget with no fractional cents
    and no float: base_i = B * v_i div V, then the B - sum(base)
    leftover cents go one each to the channels with the largest
    remainder (B * v_i mod V), ties broken alphabetically.

    Every quantity is an exact integer on both engines, so the
    allocation (which sums to B exactly — the invariant float shares
    violate) is oracle-checkable bit for bit. 100-TB shape: one
    map-side-combining aggregate to the |channels|-row grain; the
    rank window runs on that dimension-sized table. The B * v_i
    product promotes to DECIMAL(38,0) (HUGEINT in the oracle) so the
    arithmetic survives any revenue scale."""
    from pyspark.sql import Window

    b = int(budget_cents)
    per = (
        sessions.filter(F.col("event_type") != "purchase")
        .select(
            F.col("event_type").alias("channel"),
            F.round(F.col("value") * 100, 0).cast("long").alias("_c"),
        )
        .groupBy("channel")
        .agg(F.sum("_c").cast("long").alias("value_cents"))
    )
    dec = "decimal(38,0)"
    scaled = per.select(
        "channel",
        "value_cents",
        F.expr(
            f"cast(cast({b} as {dec}) * cast(value_cents as {dec})"
            f" div sum(cast(value_cents as {dec})) over () as bigint)"
        ).alias("_base"),
        F.expr(
            f"cast(cast({b} as {dec}) * cast(value_cents as {dec})"
            f" % sum(cast(value_cents as {dec})) over () as {dec})"
        ).alias("_rem"),
    )
    w = Window.orderBy(F.desc("_rem"), F.asc("channel"))
    leftover = F.lit(b).cast("long") - F.sum("_base").over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        scaled.withColumn("_rk", F.row_number().over(w))
        .withColumn("_left", leftover)
        .select(
            "channel",
            "value_cents",
            (
                F.col("_base")
                + F.when(F.col("_rk") <= F.col("_left"), F.lit(1)).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("alloc_cents"),
        )
    )


def cac_payback(
    journeys: DataFrame, sessions: DataFrame, costs: DataFrame
) -> DataFrame:
    """CAC payback per channel: the first month in which cumulative
    last-touch attributed revenue covers cumulative acquisition cost —
    the FP&A readout that turns the channel report's monthly CPO/ROAS
    into a break-even DATE ("paid search pays back in month 3").

    Monthly revenue = last-touch credit (the same (event_ts,
    session_id)-ordered last row the attribution family uses) of each
    conversion's revenue, bucketed by conversion month.  Monthly cost
    = the session_costs subset joined back to its session's channel
    and month.  Both monthly ledgers window-cumsum per channel over
    the 'yyyy-MM' string order (lexicographic == chronological), and
    payback is the MIN month where

        cum_rev_cents * 10 >= cum_cost_mils

    — revenue in exact cents, cost in exact mils (3-decimal
    granularity per the repo money rule), compared by integer
    cross-multiplication, never a float division.  Channels that never
    break even emit NULL.

    Scale: both ledgers are map-side-combining aggregates to the
    channel x month grain; the cumsum windows run on that bounded
    table.  Output: (channel, payback_month, n_months,
    total_rev_cents, total_cost_mils).
    """
    from pyspark.sql import Window

    wl = Window.partitionBy("conversion_id").orderBy(
        F.desc("event_ts"), F.desc("session_id")
    )
    rev = (
        journeys.withColumn("_rn", F.row_number().over(wl))
        .filter(F.col("_rn") == 1)
        .groupBy(
            F.col("channel_label").alias("channel"),
            F.date_format("conv_ts", "yyyy-MM").alias("month"),
        )
        .agg(
            F.sum(F.round(F.col("revenue") * 100, 0).cast("long"))
            .cast("long")
            .alias("rev_cents")
        )
    )
    cost = (
        costs.join(
            sessions.select("session_id", "channel_name", "event_ts"), "session_id"
        )
        .groupBy(
            F.col("channel_name").alias("channel"),
            F.date_format("event_ts", "yyyy-MM").alias("month"),
        )
        .agg(
            F.sum(F.round(F.col("cost") * 1000, 0).cast("long"))
            .cast("long")
            .alias("cost_mils")
        )
    )
    m = (
        rev.join(cost, ["channel", "month"], "full_outer")
        .select(
            "channel",
            "month",
            F.coalesce("rev_cents", F.lit(0)).cast("long").alias("rev_cents"),
            F.coalesce("cost_mils", F.lit(0)).cast("long").alias("cost_mils"),
        )
    )
    w = (
        Window.partitionBy("channel")
        .orderBy("month")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = m.withColumn("_cr", F.sum("rev_cents").over(w)).withColumn(
        "_cc", F.sum("cost_mils").over(w)
    )
    return cum.groupBy("channel").agg(
        F.min(
            F.when(F.col("_cr") * 10 >= F.col("_cc"), F.col("month"))
        ).alias("payback_month"),
        F.count(F.lit(1)).cast("long").alias("n_months"),
        F.max("_cr").cast("long").alias("total_rev_cents"),
        F.max("_cc").cast("long").alias("total_cost_mils"),
    )
