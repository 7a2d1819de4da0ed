"""Time-spine gap filling and forward fill.

The reference's channel report (``src/etl/reporting.py:57-98``) emits a
row only for (channel, day) pairs that have data; a day with zero
sessions for a channel simply vanishes, which breaks downstream
day-over-day arithmetic (the classic dashboard bug). The standard fix
is a dense day spine per key, left-joined onto the sparse facts, with
missing measures either zero-filled (additive measures) or
forward-filled (level measures).

Cross-engine exactness: spines are integer day sequences between two
date literals; days are rendered as 'yyyy-MM-dd' strings (the one
day representation Spark, DuckDB, and the driver's value hash agree
on — see operators/anomaly.py). Forward fill is LAST(ignoreNulls)
over a (key, day)-ordered window — a total order, so ties cannot
exist and the fill is deterministic.

100-TB shape: the spine is |keys| x |days| rows generated ON the
executors (sequence + explode from the distinct-keys aggregate — the
spine is never collected or broadcast from the driver). The join
shuffles on the key like any other fact join; the forward-fill window
partitions by key, so no global window appears at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def day_spine(keys: DataFrame, start: str, end: str, day_col: str = "day") -> DataFrame:
    """One row per (key row, day) for every day in [start, end]
    (inclusive). ``keys`` is usually ``facts.select(k).distinct()``."""
    days = F.transform(
        F.sequence(
            F.lit(start).cast("date"),
            F.lit(end).cast("date"),
            F.expr("interval 1 day"),
        ),
        lambda d: F.date_format(d, "yyyy-MM-dd"),
    )
    return keys.select("*", F.explode(days).alias(day_col))


def fill_daily_gaps(
    facts: DataFrame,
    key_cols: list[str],
    day_col: str,
    start: str,
    end: str,
    zero_cols: list[str] | None = None,
    ffill_cols: list[str] | None = None,
) -> DataFrame:
    """Dense (keys x days) frame over [start, end]: additive measures
    in ``zero_cols`` null-fill to 0, level measures in ``ffill_cols``
    carry the last observed value forward (NULL before the first
    observation). ``facts.day_col`` must be 'yyyy-MM-dd' strings."""
    spine = day_spine(facts.select(*key_cols).distinct(), start, end, day_col)
    joined = spine.join(facts, [*key_cols, day_col], "left")
    out_cols: list = [*key_cols, day_col]
    for c in zero_cols or []:
        out_cols.append(F.coalesce(F.col(c), F.lit(0).cast("long")).alias(c))
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(day_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    for c in ffill_cols or []:
        out_cols.append(F.last(F.col(c), ignorenulls=True).over(w).alias(c))
    return joined.select(*out_cols)


def decayed_daily_sum(ev: DataFrame, horizon_days: int = 21) -> DataFrame:
    """Recency-weighted daily channel spend: for each (channel, day t),

        decay_cents_q20 = SUM_{d=0..H-1} cents(t-d) * 2^(H-1-d)

    — an exponentially decayed sum with dyadic half-life 1 day,
    truncated at ``horizon_days`` and scaled by 2^(H-1) so every term
    is an exact integer (no float ever crosses the engine boundary;
    with H=21 the scale is the repo's q20 fixed point). The standard
    'recency-weighted momentum' feature for budget pacing models.

    Why not a window frame: the weight depends on BOTH the frame row
    and the current row (2^(i-t)), which SUM-over-frame cannot express
    without an overflow-prone absolute-epoch exponent. Instead the raw
    scan collapses to the channel x day grain first (map-side combine)
    and the decayed sum is a range self-join ON THAT GRAIN — |channels|
    x |days| x H joined rows, bounded by the calendar and the horizon,
    not the data volume. At extreme daily volumes promote the product
    to DECIMAL(38,0) (cents/day ~1e13 * 2^20 * H nears int64).
    """
    h = int(horizon_days)
    daily = (
        ev.filter(F.col("event_type") != "purchase")
        .select(
            F.col("event_type").alias("channel"),
            F.date_format("ts", "yyyy-MM-dd").alias("event_day"),
            F.round(F.col("value") * 100, 0).cast("long").alias("_c"),
        )
        .groupBy("channel", "event_day")
        .agg(F.sum("_c").cast("long").alias("cents"))
    )
    t = daily.select("channel", F.col("event_day"), "cents")
    i = daily.select(
        F.col("channel").alias("_ch"),
        F.col("event_day").alias("_iday"),
        F.col("cents").alias("_ic"),
    )
    dd = F.datediff(F.col("event_day").cast("date"), F.col("_iday").cast("date"))
    joined = t.join(
        i,
        (F.col("channel") == F.col("_ch"))
        & (F.col("_iday").cast("date") <= F.col("event_day").cast("date"))
        & (F.col("_iday").cast("date") >= F.date_sub(F.col("event_day").cast("date"), h - 1)),
    )
    weight = F.expr(f"shiftleft(cast(1 as bigint), {h - 1} - datediff(cast(event_day as date), cast(_iday as date)))")
    return (
        joined.groupBy("channel", "event_day")
        .agg(
            F.max(F.when(dd == 0, F.col("_ic"))).cast("long").alias("cents"),
            F.sum(F.col("_ic") * weight).cast("long").alias("decay_cents_q20"),
        )
    )


def rolling_distinct_users(ev: DataFrame, window_days: int = 7) -> DataFrame:
    """Trailing ``window_days``-day distinct active users per day
    (rolling DAU/WAU) — the dashboard metric the reference's
    day-grain report (src/etl/reporting.py:57-98) cannot express
    because COUNT(DISTINCT) does not decompose over a window frame.

    Shape: collapse the raw scan to distinct (user, day) FIRST
    (map-side combinable, output bounded by users x days), then
    explode each observation to the ``window_days`` target days it
    participates in, and COUNT(DISTINCT) per target day. The explode
    factor is the window length (a constant), not the data — at
    100 TB the shuffled volume is users x days x 7, orders of
    magnitude below the raw event volume. Target days past the last
    observed day are clipped by a broadcast 1-row max-day aggregate
    (scalar-subquery lowering), never a driver collect.

    Output: day (yyyy-MM-dd string), n_active (long).
    """
    h = int(window_days)
    obs = (
        ev.select(
            F.col("user_id"),
            F.col("ts").cast("date").alias("_d"),
        )
        .distinct()
    )
    maxd = obs.agg(F.max("_d").alias("_maxd"))
    exploded = obs.select(
        "user_id",
        F.explode(
            F.sequence(F.col("_d"), F.date_add(F.col("_d"), h - 1))
        ).alias("_target"),
    )
    return (
        exploded.join(F.broadcast(maxd), exploded["_target"] <= maxd["_maxd"])
        .groupBy(F.date_format("_target", "yyyy-MM-dd").alias("day"))
        .agg(F.countDistinct("user_id").cast("long").alias("n_active"))
    )


def ols_trend(ev: DataFrame) -> DataFrame:
    """Per-channel ordinary-least-squares trend of daily revenue-
    bearing volume: slope of daily value cents against the day index
    (days since the channel's first observed day). The one-parameter
    'is this channel growing' fit every budget-allocation heuristic
    starts from.

    Exactness: y is exact integer cents, x an exact day index;
    slope = (n*sum(xy) - sum(x)*sum(y)) / (n*sum(xx) - sum(x)^2) is a
    ratio of exact DECIMAL(38,0) integers, emitted as q20 by integer
    division (Spark DECIMAL div truncates toward zero; the oracle
    mirrors with HUGEINT // which truncates identically — the repo's
    cross-engine division rule). No float exists anywhere in the
    result.

    Output: channel, n_days (long), slope_cents_q20 (long).
    """
    daily = (
        ev.filter(F.col("event_type") != "purchase")
        .select(
            F.col("event_type").alias("channel"),
            F.col("ts").cast("date").alias("_d"),
            F.round(F.col("value") * 100, 0).cast("long").alias("_c"),
        )
        .groupBy("channel", "_d")
        .agg(F.sum("_c").cast("long").alias("y"))
    )
    w = Window.partitionBy("channel")
    idx = daily.select(
        "channel",
        F.datediff(F.col("_d"), F.min("_d").over(w)).cast("decimal(38,0)").alias("x"),
        F.col("y").cast("decimal(38,0)").alias("yd"),
    )
    agg = idx.groupBy("channel").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(F.col("x") * F.col("yd")).alias("sxy"),
        F.sum("x").alias("sx"),
        F.sum("yd").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return agg.filter(den != F.lit(0).cast("decimal(38,0)")).select(
        "channel",
        F.col("n").cast("long").alias("n_days"),
        F.expr(
            "cast((cast(n as decimal(38,0)) * sxy - sx * sy) * 1048576"
            " div (cast(n as decimal(38,0)) * sxx - sx * sx) as bigint)"
        ).alias("slope_cents_q20"),
    )


def ewma_forecast_backtest(ev: DataFrame, horizon_days: int = 8) -> DataFrame:
    """One-step-ahead truncated-EWMA forecast of daily channel spend,
    backtested against the realized next day — entirely in exact
    integers.

    The forecast for day t+1 is the dyadic half-life-1-day EWMA over
    the last H days, normalized over the truncated window:

        f(t+1) = SUM_{d=0..H-1} cents(t-d) * 2^(H-1-d)  /  (2^H - 1)

    The numerator is EXACTLY ``decayed_daily_sum``'s decay column at
    horizon H (weights are powers of two, missing days contribute 0 —
    correct for additive spend), so the backtest error never touches
    a float: |cents(t+1) * (2^H - 1) - num| is an exact BIGINT
    cross-multiplication, and the per-channel MAE is emitted as q20
    via DECIMAL(38,0) division.

    Output: (channel, n_scored, mae_cents_q20) — n_scored counts days
    with a realized next day.

    100-TB shape: raw events collapse to the channel x day grain with
    map-side combine first; everything after runs on the bounded
    calendar grain (see decayed_daily_sum).
    """
    h = int(horizon_days)
    denom = (1 << h) - 1
    dec = decayed_daily_sum(ev, horizon_days=h).select(
        "channel", "event_day", "cents", F.col("decay_cents_q20").alias("num")
    )
    nxt = dec.select(
        # the numerator computed through day d forecasts day d+1
        "channel",
        F.date_format(F.date_add(F.col("event_day").cast("date"), 1), "yyyy-MM-dd").alias("event_day"),
        F.col("num").alias("_prev_num"),
    )
    scored = dec.join(nxt, ["channel", "event_day"]).select(
        "channel",
        F.expr(
            f"abs(cast(cents as decimal(38,0)) * {denom} - _prev_num)"
        ).alias("_abs_scaled"),
    )
    return (
        scored.groupBy("channel")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_scored"),
            F.sum("_abs_scaled").alias("_sae"),
        )
        .select(
            "channel",
            "n_scored",
            F.expr(
                f"cast(_sae * 1048576 div (cast(n_scored as decimal(38,0)) * {denom}) as bigint)"
            ).alias("mae_cents_q20"),
        )
    )


def seasonal_naive_backtest(ev: DataFrame, season_days: int = 7) -> DataFrame:
    """Seasonal-naive forecast backtest: predict day t's channel spend
    with day t - season's, report exact absolute-error sums.

    The prediction join is ON THE CALENDAR (p.day = t.day - season),
    not on row offsets — a LAG over existing rows would silently skip
    across gaps.  Output: (channel, n_scored, sum_abs_err_cents,
    mae_cents_q20); exact integer cents throughout, MAE quantized by
    integer division.
    """
    s = int(season_days)
    daily = (
        ev.filter(F.col("event_type") != "purchase")
        .select(
            F.col("event_type").alias("channel"),
            F.date_format("ts", "yyyy-MM-dd").alias("event_day"),
            F.round(F.col("value") * 100, 0).cast("long").alias("_c"),
        )
        .groupBy("channel", "event_day")
        .agg(F.sum("_c").cast("long").alias("cents"))
    )
    past = daily.select(
        "channel",
        F.date_format(F.date_add(F.col("event_day").cast("date"), s), "yyyy-MM-dd").alias("event_day"),
        F.col("cents").alias("pred"),
    )
    scored = daily.join(past, ["channel", "event_day"])
    return (
        scored.groupBy("channel")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_scored"),
            F.sum(F.abs(F.col("cents") - F.col("pred"))).cast("long").alias("sum_abs_err_cents"),
        )
        .select(
            "channel",
            "n_scored",
            "sum_abs_err_cents",
            F.expr(
                "cast(cast(sum_abs_err_cents as decimal(38,0)) * 1048576"
                " div n_scored as bigint)"
            ).alias("mae_cents_q20"),
        )
    )


def adstock_decay_fit(
    ev: DataFrame, halflives: tuple[int, ...] = (1, 2, 3), horizon_days: int = 8
) -> DataFrame:
    """Best-fit dyadic adstock decay per channel — exact-integer model
    selection: for each half-life m (decay 1/2^m) build the truncated
    adstocked spend over the DENSE day spine,

        a_m(t) = SUM_{d=0..H-1} cents(t-d) * 2^(m*(H-1-d)),

    compute the integer covariance numerator of a_m against total
    daily purchase cents, and pick per channel the m maximizing the
    weight-normalized covariance cov_m / W_m (W_m = the integer weight
    sum) by EXACT cross-multiplication cov_a * W_b vs cov_b * W_a —
    no float ever ranks the candidates.  Ties break to the smaller m.

    Output: (channel, halflife_m, w_sum, cov_num_str, is_best) — one
    row per (channel, m); cov_num exceeds BIGINT at scale so it ships
    as a decimal string.

    The candidate compare runs driver-side over the BOUNDED
    (channels x |halflives|) moment table (the markov/k-means
    bounded-collect pattern); the oracle ranks the same moments with a
    pairwise NOT-EXISTS cross-multiplication.  Widest integer:
    cov * W ~ 1e24 * 2.4e6 ~ 1e30 at the documented SF bound — inside
    DECIMAL(38,0)/HUGEINT (overflow-headroom rule).

    Scale: raw events collapse to (channel, day) map-side; the H-range
    join and the moment reduce run on the bounded calendar grain (the
    decayed_daily_sum device); the argmax is bounded driver state.
    """
    h = int(horizon_days)
    day = F.date_format("ts", "yyyy-MM-dd")
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("_d0"), F.max(F.to_date("ts")).alias("_d1")
    )
    spine = bounds.select(F.explode(F.sequence("_d0", "_d1")).alias("_d"))
    channels = (
        ev.filter(F.col("event_type") != "purchase")
        .select(F.col("event_type").alias("channel"))
        .distinct()
    )
    x = (
        ev.filter(F.col("event_type") != "purchase")
        .groupBy(F.col("event_type").alias("_xch"), day.alias("_xday"))
        .agg(F.sum(F.round(F.col("value") * 100, 0).cast("long")).cast("long").alias("_xc"))
    )
    y = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(day.alias("_yday"))
        .agg(F.sum(F.round(F.col("value") * 100, 0).cast("long")).cast("long").alias("_yc"))
    )
    grid = (
        spine.crossJoin(F.broadcast(channels))
        .join(
            x,
            (F.col("channel") == F.col("_xch"))
            & (F.date_format("_d", "yyyy-MM-dd") == F.col("_xday")),
            "left",
        )
        .join(
            F.broadcast(y),
            F.date_format("_d", "yyyy-MM-dd") == F.col("_yday"),
            "left",
        )
        .select(
            "channel",
            F.col("_d").alias("d"),
            F.coalesce(F.col("_xc"), F.lit(0)).cast("long").alias("cents"),
            F.coalesce(F.col("_yc"), F.lit(0)).cast("long").alias("y"),
        )
    )
    t = grid.select("channel", "d", "y")
    i = grid.select(
        F.col("channel").alias("_ch"), F.col("d").alias("_id"), F.col("cents").alias("_ic")
    )
    joined = t.join(
        i,
        (F.col("channel") == F.col("_ch"))
        & (F.col("_id") <= F.col("d"))
        & (F.col("_id") >= F.date_sub(F.col("d"), h - 1)),
    )
    acols = [
        F.sum(
            F.col("_ic")
            * F.expr(f"shiftleft(cast(1 as bigint), {m} * ({h - 1} - datediff(d, _id)))")
        )
        .cast("long")
        .alias(f"a{m}")
        for m in halflives
    ]
    per_day = joined.groupBy("channel", "d").agg(
        F.max("y").cast("long").alias("y"), *acols
    )
    mom = per_day.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.expr("cast(y as decimal(38,0))")).alias("sy"),
        *[
            F.sum(F.expr(f"cast(a{m} as decimal(38,0))")).alias(f"sa{m}")
            for m in halflives
        ],
        *[
            F.sum(F.expr(f"cast(a{m} as decimal(38,0)) * y")).alias(f"say{m}")
            for m in halflives
        ],
    )
    rows = mom.collect()  # bounded: one row per channel
    out = []
    for r in rows:
        n, sy = int(r["n"]), int(r["sy"])
        cands = []
        for m in halflives:
            w = ((1 << (m * h)) - 1) // ((1 << m) - 1)
            cov = n * int(r[f"say{m}"]) - int(r[f"sa{m}"]) * sy
            cands.append((m, w, cov))
        best = cands[0]
        for c in cands[1:]:
            # c beats best iff cov_c / w_c > cov_best / w_best (exact)
            if c[2] * best[1] > best[2] * c[1]:
                best = c
        for m, w, cov in cands:
            out.append((r["channel"], m, w, str(cov), 1 if m == best[0] else 0))
    return ev.sparkSession.createDataFrame(
        out,
        "channel string, halflife_m long, w_sum long, cov_num_str string, is_best long",
    )


def revenue_decomposition(ev: DataFrame) -> DataFrame:
    """Month-over-month price/volume decomposition of purchase revenue
    — the FP&A "did we sell more, or at higher value?" split, kept
    EXACT by scaling both effects by n_prev so no rational average
    ever materializes:

        price_num  = R_cur * n_prev - n_cur * R_prev
        volume_num = (n_cur - n_prev) * R_prev
        price_num + volume_num = n_prev * (R_cur - R_prev)   (identity)

    (R = exact revenue cents, n = order count; divide both by n_prev
    downstream to read cents.)  Output per month with a predecessor:
    (month, n_orders, rev_cents, n_prev, rev_prev_cents, volume_num,
    price_num).

    Scale: one month-grain aggregate (map-side combinable) and a LAG
    over the bounded calendar grain.
    """
    monthly = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.date_format("ts", "yyyy-MM").alias("month"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long"))
            .cast("long")
            .alias("rev_cents"),
        )
    )
    w = Window.orderBy("month")
    lagged = monthly.select(
        "month",
        "n_orders",
        "rev_cents",
        F.lag("n_orders").over(w).cast("long").alias("n_prev"),
        F.lag("rev_cents").over(w).cast("long").alias("rev_prev_cents"),
    ).filter(F.col("n_prev").isNotNull())
    return lagged.select(
        "month",
        "n_orders",
        "rev_cents",
        "n_prev",
        "rev_prev_cents",
        ((F.col("n_orders") - F.col("n_prev")) * F.col("rev_prev_cents"))
        .cast("long")
        .alias("volume_num"),
        (
            F.col("rev_cents") * F.col("n_prev")
            - F.col("n_orders") * F.col("rev_prev_cents")
        )
        .cast("long")
        .alias("price_num"),
    )


def _tdiv(a: int, d: int) -> int:
    """Truncating integer division (SQL semantics). Python ``//``
    floors, which differs on negatives; Spark long `div` and DuckDB
    HUGEINT ``//`` both truncate — mirror them exactly."""
    return -((-a) // d) if a < 0 else a // d


def _holt_state(ys: list[int]) -> tuple[int, int, int]:
    """The Holt alpha=beta=1/4 integer q20 recursion over one dense
    series — (final level, final trend, one-step MAE), all q20 cents.
    Shared by holt_linear_forecast (per channel) and forecast_topdown
    (the total series)."""
    q = 1 << 20
    n = len(ys)
    lev = q * ys[0]
    tr = q * (ys[1] - ys[0]) if n >= 2 else 0
    sae = 0
    for t in range(1, n):
        f = lev + tr
        sae += abs(q * ys[t] - f)
        lev_new = _tdiv(q * ys[t] + 3 * f, 4)
        tr = _tdiv((lev_new - lev) + 3 * tr, 4)
        lev = lev_new
    mae = _tdiv(sae, n - 1) if n >= 2 else 0
    return lev, tr, mae


def holt_linear_forecast(ev: DataFrame) -> DataFrame:
    """Holt double-exponential (level + additive trend) forecast of
    daily channel spend, in exact q20 integer cents end to end.

    EWMA (ewma_forecast_backtest) forgets trend: a channel ramping
    +10%/day is under-forecast every single day.  Holt carries a trend
    state; with dyadic alpha = beta = 1/4 the recursion stays in
    integers:

        L_t = (2^20 y_t + 3 (L_{t-1} + B_{t-1})) div 4
        B_t = ((L_t - L_{t-1}) + 3 B_{t-1})      div 4

    over the DENSE day spine (missing channel-days are genuine zero
    spend — spend is additive), init L_1 = 2^20 y_1,
    B_1 = 2^20 (y_2 - y_1); div is TRUNCATING on both engines
    (_tdiv / Spark `div` / DuckDB HUGEINT //), so every state value is
    bit-reproducible.  One-step backtest: f_t = L_{t-1} + B_{t-1},
    MAE = sum|2^20 y_t - f_t| div (n-1), accumulated in unbounded
    Python ints and emitted q20.

    Driver-side loop is legitimate bounded state (CLAUDE.md rule): the
    collected table is the channel x day GRAIN (bounded by calendar
    span and channel vocabulary, not input rows); raw events reduce
    map-side first.  The DuckDB oracle replays the identical
    recurrence with WITH RECURSIVE over the same materialized spine.

    Headroom: |L|,|B| <= ~2^20 * max daily cents, so longs hold to
    ~2^42 cents/day (~$40 B/channel/day); MAE divides before emitting.

    Output: (channel, n_days, level_cents_q20, trend_cents_q20,
    fc1_cents_q20, fc7_cents_q20, mae_onestep_cents_q20).
    """
    daily = (
        ev.filter(F.col("event_type") != "purchase")
        .groupBy(
            F.col("event_type").alias("channel"),
            F.col("ts").cast("date").alias("d"),
        )
        .agg(F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("y"))
    )
    # dense spine: every channel spans the GLOBAL [min(d), max(d)]
    rows = daily.collect()
    if not rows:
        return ev.sparkSession.createDataFrame(
            [],
            "channel string, n_days long, level_cents_q20 long, "
            "trend_cents_q20 long, fc1_cents_q20 long, fc7_cents_q20 long, "
            "mae_onestep_cents_q20 long",
        )
    d0 = min(r["d"] for r in rows)
    d1 = max(r["d"] for r in rows)
    n = (d1 - d0).days + 1
    series: dict[str, list[int]] = {}
    for r in rows:
        series.setdefault(r["channel"], [0] * n)[(r["d"] - d0).days] = int(r["y"])
    out = []
    for ch in sorted(series):
        lev, tr, mae = _holt_state(series[ch])
        out.append((ch, n, lev, tr, lev + tr, lev + 7 * tr, mae))
    return ev.sparkSession.createDataFrame(
        out,
        "channel string, n_days long, level_cents_q20 long, "
        "trend_cents_q20 long, fc1_cents_q20 long, fc7_cents_q20 long, "
        "mae_onestep_cents_q20 long",
    )


def dow_seasonal_index(ev: DataFrame) -> DataFrame:
    """Day-of-week seasonal index per channel: how each weekday's
    session value compares to the channel's flat-week expectation —
    index = 7 * dow_cents / total_cents in q20 (1.0 = no seasonality).

    The weekly companion to the hour-grain dayparting grid
    (operators/planning.py): pacing and bid schedulers consume exactly
    this shape.  Day-of-week is PURE INTEGER arithmetic — days since
    Monday 1970-01-05 mod 7 (0 = Monday) — because Spark's
    ``dayofweek`` (1 = Sunday) and DuckDB's (0 = Sunday) disagree;
    datediff-mod is identical in both engines and NTZ/LTZ-agnostic
    (date-literal compare rule, CLAUDE.md).

    Exact integer cents; the index division is DECIMAL(38,0) `div`
    (≡ DuckDB HUGEINT `//`), headroom 7 * cents * 2^20 < 10^38 for any
    conceivable channel.  Output: (channel, dow, n_sessions, cents,
    index_q20), bounded at channels x 7 rows — reduce-side trivial,
    map-side combined.
    """
    per = (
        ev.filter(F.col("event_type") != "purchase")
        .groupBy(
            F.col("event_type").alias("channel"),
            (
                F.datediff(F.col("ts").cast("date"), F.lit("1970-01-05").cast("date"))
                % 7
            )
            .cast("long")
            .alias("dow"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents"),
        )
    )
    # the total-per-channel window runs over the bounded channel x 7
    # grain (post-aggregate), not over raw rows
    per = per.withColumn(
        "_total", F.sum("cents").over(Window.partitionBy("channel"))
    )
    return per.select(
        "channel",
        "dow",
        "n_sessions",
        "cents",
        F.expr(
            "cast(case when _total = 0 then 0 else"
            " (7 * cast(cents as decimal(38,0)) * 1048576)"
            " div cast(_total as decimal(38,0)) end as bigint)"
        ).alias("index_q20"),
    )


def forecast_topdown(ev: DataFrame) -> DataFrame:
    """Top-down coherent channel forecast: Holt-forecast TOTAL daily
    spend one step ahead, then apportion it across channels by their
    trailing-7-day spend shares with Hamilton's largest-remainder
    method — so the per-channel forecasts SUM EXACTLY to the total
    forecast (the coherence property independent per-channel forecasts
    violate, and the reason hierarchical forecasting exists; this is
    Hyndman's "top-down by historical proportions" made integer-exact).

    Pipeline: (1) dense total daily series -> _holt_state (bounded
    driver recursion, same contract as holt_linear_forecast), forecast
    F = max(level + trend, 0) q20 cents (a negative extrapolated total
    apportions as zero); (2) trailing shares = each channel's cents in
    the last 7 spine days, one map-side-combining aggregate to the
    channel grain; (3) Hamilton: base_i = F * c_i div C, the F - sum
    leftover units go one each to the largest remainders, ties
    alphabetically (the budget_allocation device, DECIMAL(38,0) ==
    oracle HUGEINT).  If the trailing week is all-zero the allocation
    is zero rows' worth — every channel gets 0.

    Output: (channel, trail_cents, alloc_fc1_cents_q20); the invariant
    SUM(alloc) = F is oracle-checked implicitly (same integers both
    engines).
    """
    from pyspark.sql import Window

    daily = (
        ev.filter(F.col("event_type") != "purchase")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("y"))
    )
    rows = daily.collect()
    if not rows:
        return ev.sparkSession.createDataFrame(
            [], "channel string, trail_cents long, alloc_fc1_cents_q20 long"
        )
    d0 = min(r["d"] for r in rows)
    d1 = max(r["d"] for r in rows)
    n = (d1 - d0).days + 1
    ys = [0] * n
    for r in rows:
        ys[(r["d"] - d0).days] = int(r["y"])
    lev, tr, _ = _holt_state(ys)
    fc = max(lev + tr, 0)

    trail = (
        ev.filter(F.col("event_type") != "purchase")
        .filter(
            F.datediff(F.lit(d1.isoformat()).cast("date"), F.col("ts").cast("date"))
            < 7
        )
        .groupBy(F.col("event_type").alias("channel"))
        .agg(
            F.sum(F.round(F.col("value") * 100, 0).cast("long"))
            .cast("long")
            .alias("trail_cents")
        )
    )
    dec = "decimal(38,0)"
    tot = f"sum(cast(trail_cents as {dec})) over ()"
    scaled = trail.select(
        "channel",
        "trail_cents",
        F.expr(
            f"cast(case when {tot} = 0 then 0 else cast({fc} as {dec})"
            f" * cast(trail_cents as {dec}) div {tot} end as bigint)"
        ).alias("_base"),
        F.expr(
            f"cast(case when {tot} = 0 then 0 else cast({fc} as {dec})"
            f" * cast(trail_cents as {dec}) % {tot} end as {dec})"
        ).alias("_rem"),
    )
    w = Window.orderBy(F.desc("_rem"), F.asc("channel"))
    anyrow = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    leftover = (
        F.when(F.sum("trail_cents").over(anyrow) == 0, F.lit(0))
        .otherwise(F.lit(fc).cast("long") - F.sum("_base").over(anyrow))
        .cast("long")
    )
    return (
        scaled.withColumn("_rk", F.row_number().over(w))
        .withColumn("_left", leftover)
        .select(
            "channel",
            "trail_cents",
            (
                F.col("_base")
                + F.when(F.col("_rk") <= F.col("_left"), F.lit(1)).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("alloc_fc1_cents_q20"),
        )
    )


def _hw_state(ys: list[int], m: int = 7) -> tuple[int, int, list[int], int]:
    """Additive Holt-Winters alpha=beta=gamma=1/4 integer q20 recursion
    over one dense series — (level, trend, season list, one-step MAE),
    all q20 cents.  Init: level = first-season mean, trend = 0,
    seasonals = first-week deviations; recursion starts at t = m.
    Requires len(ys) > m (the init week plus at least one step)."""
    q = 1 << 20
    n = len(ys)
    lev = _tdiv(sum(q * y for y in ys[:m]), m)
    s = [q * ys[j] - lev for j in range(m)]
    tr = 0
    sae = 0
    for t in range(m, n):
        slot = t % m
        f = lev + tr + s[slot]
        sae += abs(q * ys[t] - f)
        lev2 = _tdiv(q * ys[t] - s[slot] + 3 * (lev + tr), 4)
        tr = _tdiv((lev2 - lev) + 3 * tr, 4)
        s[slot] = _tdiv(q * ys[t] - lev2 + 3 * s[slot], 4)
        lev = lev2
    mae = _tdiv(sae, n - m) if n > m else 0
    return lev, tr, s, mae


def holt_winters_forecast(ev: DataFrame, m: int = 7) -> DataFrame:
    """Additive Holt-Winters (level + trend + day-of-week seasonality)
    forecast of daily channel spend in exact q20 integer cents — the
    seasonal upgrade of holt_linear_forecast: Holt under-forecasts
    every Monday and over-forecasts every Sunday on retail-shaped
    traffic; the 7-slot seasonal state absorbs exactly that.

    Dyadic alpha = beta = gamma = 1/4 keeps the whole recursion in
    integers (truncating div on both engines):

        L_t = (2^20 y_t - S_{t-m} + 3 (L_{t-1} + B_{t-1})) div 4
        B_t = ((L_t - L_{t-1}) + 3 B_{t-1})                 div 4
        S_t = (2^20 y_t - L_t + 3 S_{t-m})                  div 4

    over the dense global day spine (missing days are genuine zero
    spend), initialized from the first season: L = mean of week 1,
    B = 0, S_j = 2^20 y_j - L.  One-step backtest runs t = m..n-1 with
    f_t = L_{t-1} + B_{t-1} + S_{t-m}.  Requires a spine longer than
    one season (n > m) — shorter inputs raise, mirroring the oracle's
    assumption.

    Driver-side loop is bounded state (channel x day grain, the
    holt_linear_forecast precedent); the oracle replays the identical
    recurrence with a LIST-typed season state in WITH RECURSIVE.
    Headroom: |L|,|B|,|S| <= ~2^21 * max daily cents — longs hold to
    ~2^41 cents/day per channel.

    Output: (channel, n_days, level_cents_q20, trend_cents_q20,
    snext_cents_q20, fc1_cents_q20, mae_hw_cents_q20) where snext is
    the season slot the next day lands on and fc1 = L + B + snext.
    """
    daily = (
        ev.filter(F.col("event_type") != "purchase")
        .groupBy(
            F.col("event_type").alias("channel"),
            F.col("ts").cast("date").alias("d"),
        )
        .agg(F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("y"))
    )
    rows = daily.collect()
    schema = (
        "channel string, n_days long, level_cents_q20 long, "
        "trend_cents_q20 long, snext_cents_q20 long, fc1_cents_q20 long, "
        "mae_hw_cents_q20 long"
    )
    if not rows:
        return ev.sparkSession.createDataFrame([], schema)
    d0 = min(r["d"] for r in rows)
    d1 = max(r["d"] for r in rows)
    n = (d1 - d0).days + 1
    if n <= m:
        raise ValueError(f"holt_winters_forecast needs > {m} spine days, got {n}")
    series: dict[str, list[int]] = {}
    for r in rows:
        series.setdefault(r["channel"], [0] * n)[(r["d"] - d0).days] = int(r["y"])
    out = []
    for ch in sorted(series):
        lev, tr, s, mae = _hw_state(series[ch], m)
        snext = s[n % m]
        out.append((ch, n, lev, tr, snext, lev + tr + snext, mae))
    return ev.sparkSession.createDataFrame(out, schema)


def seasonal_decomposition(ev: DataFrame) -> DataFrame:
    """Additive dow-seasonal profile of daily channel spend with the
    TREND REMOVED first — the STL-lite answer to "is Monday really
    +30%, or is the series just ramping": a centered 7-day moving
    average is the trend, the detrended residual is averaged per
    day-of-week.  dow_seasonal_index (L234) is the multiplicative,
    trend-naive cousin; this one survives a ramp.

    Everything is exact integers until the final q20: the residual is
    scaled by 7 (detr_x7 = 7*cents - sum of the centered 7-day window)
    so the moving average never divides; only FULL windows contribute
    (the first/last 3 spine days are edge-dropped, standard STL
    practice); dow = days-since-epoch-Monday mod 7 (the
    dow_seasonal_index device).  seasonal_q20 is a SIGN-AWARE half-up
    of sum_detr_x7 / (7 * n_days) in q20 cents (the plain half-up
    device assumes nonnegative numerators; residuals are signed).

    Scale: one map-side-combining aggregate to the channel x day
    grain; the spine is generated ON the executors (channels x days,
    bounded by calendar); one 7-row window per channel; the output is
    channels x 7 rows.

    Output: (channel, dow, n_days, sum_detr_x7, seasonal_q20).
    """
    daily = (
        ev.filter(F.col("event_type") != "purchase")
        .groupBy(
            F.col("event_type").alias("channel"),
            F.col("ts").cast("date").alias("d"),
        )
        .agg(F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents"))
    )
    span = daily.groupBy().agg(F.min("d").alias("_d0"), F.max("d").alias("_d1"))
    spine = (
        daily.select("channel")
        .distinct()
        .crossJoin(F.broadcast(span))
        .select(
            "channel",
            F.explode(
                F.sequence(F.col("_d0"), F.col("_d1"), F.expr("interval 1 day"))
            ).alias("d"),
        )
    )
    dense = spine.join(daily, ["channel", "d"], "left").select(
        "channel", "d", F.coalesce(F.col("cents"), F.lit(0)).cast("long").alias("cents")
    )
    w7 = Window.partitionBy("channel").orderBy("d").rowsBetween(-3, 3)
    full = (
        dense.withColumn("_ma7sum", F.sum("cents").over(w7))
        .withColumn("_wn", F.count(F.lit(1)).over(w7))
        .filter(F.col("_wn") == 7)
        .select(
            "channel",
            (
                F.datediff(F.col("d"), F.lit("1970-01-05").cast("date")) % 7
            )
            .cast("long")
            .alias("dow"),
            (F.lit(7) * F.col("cents") - F.col("_ma7sum")).alias("_detr"),
        )
    )
    per = full.groupBy("channel", "dow").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("_detr").cast("long").alias("sum_detr_x7"),
    )
    return per.select(
        "channel",
        "dow",
        "n_days",
        "sum_detr_x7",
        F.expr(
            "cast(case when sum_detr_x7 >= 0 then"
            " (2 * cast(sum_detr_x7 as decimal(38,0)) * 1048576 + 7 * n_days)"
            " div (2 * 7 * cast(n_days as decimal(38,0)))"
            " else -((2 * cast(-sum_detr_x7 as decimal(38,0)) * 1048576 + 7 * n_days)"
            " div (2 * 7 * cast(n_days as decimal(38,0)))) end as bigint)"
        ).alias("seasonal_q20"),
    )


def forecast_model_selection(ev: DataFrame) -> DataFrame:
    """Per-channel forecast MODEL SELECTION over the backtest family:
    join the truncated-EWMA (L158) and seasonal-naive (L159) one-step
    backtests on their shared (channel, n_scored, MAE-q20) contract
    and pick the lower-error model — the meta-table a forecasting
    pipeline reads to route each series to its champion before
    producing the plan-of-record (classic M-competition practice:
    per-series selection beats any single global model).

    best_model tie-breaks to 'ewma' (alphabetical) on equal q20 MAE so
    the pick is deterministic.  Exact integers throughout — both MAEs
    are the backtests' q20 integers, compared directly.

    Output: (channel, ewma_n, ewma_mae_q20, snaive_n, snaive_mae_q20,
    best_model).  Scale: both inputs collapse to the bounded
    channel x day grain before any math; the join grain is |channels|.
    """
    e = ewma_forecast_backtest(ev).select(
        "channel",
        F.col("n_scored").alias("ewma_n"),
        F.col("mae_cents_q20").alias("ewma_mae_q20"),
    )
    s = seasonal_naive_backtest(ev).select(
        "channel",
        F.col("n_scored").alias("snaive_n"),
        F.col("mae_cents_q20").alias("snaive_mae_q20"),
    )
    return e.join(s, "channel").withColumn(
        "best_model",
        F.when(F.col("snaive_mae_q20") < F.col("ewma_mae_q20"), F.lit("seasonal_naive"))
        .otherwise(F.lit("ewma")),
    )
