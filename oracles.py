"""DuckDB oracle SQL for every ``queries()`` entry (VERDICT r04 #7).

Split out of ``__spark_entry__.py`` so the driver-contract module stays
a reviewable surface of Spark query definitions; this module holds the
~4 kLoC of oracle strings and the oracle-generating helpers.  It is
imported LAZILY from ``__spark_entry__.oracle_sql()`` — after the entry
module has fully loaded — so the shared CTE fragments and constants are
imported back from it without a cycle.  Behavior identical to the
pre-split layout (same strings, same names); crosscheck-verified.
"""

from __future__ import annotations

from __spark_entry__ import (  # noqa: E402  (lazy, post-load import)
    BM25_QUERY_TERMS,
    DID_CUTOVER,
    LOOKBACK_DAYS,
    PII_SUFFIX,
    _ASOF_TOL_US,
    _AUG,
    _CONV,
    _COSTS,
    _DAILY_CENTS,
    _E_NORMED,
    _IHC_RAW,
    _JOURNEYS,
    _MINHASH_CTES,
    _NORM_AUG,
    _NORM_RAW,
    _REV_E4,
    _SESS,
    _SHINGLE5,
    _SHINGLED,
    _SPAN_CTES,
    _WF_US,
    _greedy_coverage_oracle,
    _kcore_oracle,
    _lang_case,
    _lang_score_cols,
    _sample_case,
    _sh_bands,
    _sh_value,
    _sh_votes,
    dd,
    seg,
    sim,
    txt,
)

_ORACLE_JOURNEY_ENTRIES = f"""
WITH {_CONV}, {_SESS}, {_JOURNEYS}
SELECT conversion_id, session_id,
       strftime(event_ts, '%Y-%m-%d %H:%M:%S') AS timestamp,
       channel_label, holder_engagement, closer_engagement,
       CASE WHEN event_ts = conv_ts THEN 1 ELSE 0 END AS conversion,
       impression_interaction
FROM journeys
"""

_ORACLE_ATTR_LINEAR = f"""
WITH {_CONV}, {_SESS}, {_JOURNEYS}
SELECT conversion_id AS conv_id, session_id,
       1.0 / COUNT(*) OVER (PARTITION BY conversion_id) AS ihc
FROM journeys
"""

_ORACLE_ATTR_LAST = f"""
WITH {_CONV}, {_SESS}, {_JOURNEYS}
SELECT conversion_id AS conv_id, session_id,
       CASE WHEN ROW_NUMBER() OVER w = COUNT(*) OVER (PARTITION BY conversion_id)
            THEN 1.0 ELSE 0.0 END AS ihc
FROM journeys
WINDOW w AS (PARTITION BY conversion_id ORDER BY event_ts, session_id)
"""

_ORACLE_ATTR_FIRST = f"""
WITH {_CONV}, {_SESS}, {_JOURNEYS}
SELECT conversion_id AS conv_id, session_id,
       CASE WHEN ROW_NUMBER() OVER w = 1 THEN 1.0 ELSE 0.0 END AS ihc
FROM journeys
WINDOW w AS (PARTITION BY conversion_id ORDER BY event_ts, session_id)
"""

_ORACLE_ATTR_U = f"""
WITH {_CONV}, {_SESS}, {_JOURNEYS}
SELECT conversion_id AS conv_id, session_id,
       CASE WHEN n = 1 THEN 1.0
            WHEN n = 2 THEN 0.5
            WHEN rn = 1 THEN 0.4
            WHEN rn = n THEN 0.4
            ELSE 0.2 / (n - 2) END AS ihc
FROM (
  SELECT conversion_id, session_id,
         ROW_NUMBER() OVER (PARTITION BY conversion_id ORDER BY event_ts, session_id) AS rn,
         COUNT(*) OVER (PARTITION BY conversion_id) AS n
  FROM journeys
)
"""

_ORACLE_ATTR_DECAY = f"""
WITH {_CONV}, {_SESS}, {_JOURNEYS},
weighted AS (
  SELECT conversion_id, session_id,
         POWER(2.0, -((epoch_us(conv_ts) - epoch_us(event_ts)) / 1e6 / 86400.0) / 7.0) AS w
  FROM journeys
)
SELECT conversion_id AS conv_id, session_id,
       ROUND(CASE WHEN SUM(w) OVER (PARTITION BY conversion_id) > 0
             THEN w / SUM(w) OVER (PARTITION BY conversion_id)
             ELSE 1.0 / COUNT(*) OVER (PARTITION BY conversion_id) END, 6) AS ihc
FROM weighted
"""

_ORACLE_ATTR_IHC = f"""
WITH {_CONV}, {_SESS}, {_JOURNEYS}, {_IHC_RAW}
SELECT conversion_id AS conv_id, session_id,
       CAST(FLOOR((CASE WHEN SUM(raw_w) OVER pw > 0
                        THEN raw_w / SUM(raw_w) OVER pw
                        ELSE 1.0 / n END) * 1048576.0 + 0.5) AS BIGINT) AS ihc_q20
FROM ihc_raw
WINDOW pw AS (PARTITION BY conversion_id)
"""

_ORACLE_ATTR_IHC_REDIST = f"""
WITH {_CONV}, {_SESS}, {_JOURNEYS}, {_IHC_RAW},
kept AS (
  SELECT *, (channel_label NOT IN ('view')) AND (raw_w >= 0.05) AS keep
  FROM ihc_raw
),
redist AS (
  SELECT conversion_id, session_id, n,
         CASE WHEN SUM(CASE WHEN keep THEN raw_w ELSE 0.0 END) OVER pw > 0
              THEN CASE WHEN keep THEN raw_w ELSE 0.0 END
              ELSE raw_w END AS raw2
  FROM kept
  WINDOW pw AS (PARTITION BY conversion_id)
)
SELECT conversion_id AS conv_id, session_id,
       CAST(FLOOR((CASE WHEN SUM(raw2) OVER pw > 0
                        THEN raw2 / SUM(raw2) OVER pw
                        ELSE 1.0 / n END) * 1048576.0 + 0.5) AS BIGINT) AS ihc_q20
FROM redist
WINDOW pw AS (PARTITION BY conversion_id)
"""

_ORACLE_ATTR_IHC_DIR = f"""
WITH {_CONV}, {_SESS}, {_JOURNEYS}, {_IHC_RAW},
dirw AS (
  SELECT b.conversion_id, b.session_id, b.n, b.rn, r.raw_w,
         (b.channel_label NOT IN ('view')) AS keep
  FROM ihc_base b
  JOIN ihc_raw r ON b.conversion_id = r.conversion_id AND b.session_id = r.session_id
),
stage AS (
  SELECT *,
         CASE WHEN keep THEN raw_w ELSE 0.0 END AS kept_w,
         CASE WHEN NOT keep THEN raw_w ELSE 0.0 END AS lost_w
  FROM dirw
),
stage2 AS (
  SELECT *,
         COALESCE(SUM(kept_w) OVER (PARTITION BY conversion_id ORDER BY rn
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS elig
  FROM stage
),
stage3 AS (
  SELECT *, CASE WHEN lost_w > 0 AND elig > 0 THEN lost_w / elig ELSE 0.0 END AS ratio
  FROM stage2
),
stage4 AS (
  SELECT *,
         COALESCE(SUM(ratio) OVER (PARTITION BY conversion_id ORDER BY rn
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0.0) AS gainf
  FROM stage3
),
final AS (
  SELECT conversion_id, session_id, n,
         kept_w * (1.0 + gainf)
         + CASE WHEN lost_w > 0 AND elig <= 0 THEN lost_w ELSE 0.0 END AS raw2
  FROM stage4
)
SELECT conversion_id AS conv_id, session_id,
       CAST(FLOOR((CASE WHEN SUM(raw2) OVER pw > 0
                        THEN raw2 / SUM(raw2) OVER pw
                        ELSE 1.0 / n END) * 1048576.0 + 0.5) AS BIGINT) AS ihc_q20
FROM final
WINDOW pw AS (PARTITION BY conversion_id)
"""

_ORACLE_JOURNEY_PATHS = f"""
WITH {_CONV}, {_SESS}, {_JOURNEYS}
SELECT conversion_id, COUNT(*) AS n_sessions,
       string_agg(session_id, ',' ORDER BY event_ts, session_id) AS path
FROM journeys
GROUP BY conversion_id
"""

_ORACLE_CHUNKS = f"""
WITH {_CONV}, {_SESS}, {_JOURNEYS},
grouped AS (
  SELECT conversion_id, COUNT(*) AS n_sessions FROM journeys GROUP BY 1
),
staged AS (
  SELECT conversion_id, n_sessions,
         CAST(FLOOR(COALESCE(SUM(GREATEST(n_sessions, 1)) OVER
           (ORDER BY conversion_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           / 2750) AS BIGINT) AS s_id
  FROM grouped
)
SELECT conversion_id, n_sessions,
       s_id * 2751
         + CAST(FLOOR((ROW_NUMBER() OVER (PARTITION BY s_id ORDER BY conversion_id) - 1)
                      / 85) AS BIGINT) AS chunk_id
FROM staged
"""

_ORACLE_REPORT_REPLICATE = f"""
WITH {_CONV}, {_SESS}, {_COSTS}, {_JOURNEYS},
attribution AS (
  SELECT conversion_id AS conv_id, session_id,
         1.0 / COUNT(*) OVER (PARTITION BY conversion_id) AS ihc
  FROM journeys
),
ar_agg AS (
  SELECT ss.channel_name,
         strftime(ss.event_ts, '%Y-%m-%d') AS date,
         SUM(a.ihc) AS s_ihc,
         SUM(c.revenue * a.ihc) AS s_rev,
         COUNT(*) AS n_ar
  FROM attribution a
  JOIN sess ss ON a.session_id = ss.session_id
  JOIN conv c ON a.conv_id = c.conv_id
  WHERE ss.channel_name IS NOT NULL AND ss.channel_name <> ''
  GROUP BY 1, 2
),
cc_agg AS (
  SELECT COALESCE(NULLIF(ss.channel_name, ''), 'unknown') AS channel_name,
         strftime(ss.event_ts, '%Y-%m-%d') AS date,
         SUM(COALESCE(co.cost, 0)) AS s_cost,
         COUNT(*) AS n_cc
  FROM sess ss LEFT JOIN costs co ON ss.session_id = co.session_id
  GROUP BY 1, 2
),
rep AS (
  SELECT ar.channel_name, ar.date,
         COALESCE(cc.s_cost, 0) * ar.n_ar AS cost,
         ar.s_ihc * COALESCE(cc.n_cc, 1) AS ihc,
         ar.s_rev * COALESCE(cc.n_cc, 1) AS ihc_revenue
  FROM ar_agg ar LEFT JOIN cc_agg cc
    ON ar.channel_name = cc.channel_name AND ar.date = cc.date
  WHERE ar.channel_name <> 'unknown'
    AND ar.date >= (SELECT MIN(strftime(conv_ts, '%Y-%m-%d')) FROM conv)
)
SELECT channel_name, date, ROUND(cost, 4) AS cost, ROUND(ihc, 4) AS ihc,
       ROUND(ihc_revenue, 4) AS ihc_revenue
FROM rep
"""

_ORACLE_LOADER_ROUNDTRIP = _ORACLE_ATTR_LINEAR  # loader must reproduce it exactly

_ORACLE_DATE_WINDOW = f"""
WITH {_CONV}, {_SESS},
journeys AS (
  SELECT c.conv_id AS conversion_id, c.conv_ts
  FROM conv c JOIN sess s ON c.user_id = s.user_id
  WHERE s.event_ts <= c.conv_ts
    AND s.event_ts >= c.conv_ts - INTERVAL {LOOKBACK_DAYS} DAY
    AND CAST(c.conv_ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-02-10'
    AND CAST(s.event_ts AS DATE) BETWEEN DATE '2024-01-10' - 30 AND DATE '2024-02-10'
)
SELECT strftime(conv_ts, '%Y-%m-%d') AS conv_date,
       COUNT(*) AS n_rows,
       COUNT(DISTINCT conversion_id) AS n_convs
FROM journeys
GROUP BY 1
"""

_ORACLE_CLEANING = """
WITH dirty AS (
  SELECT CASE WHEN event_id % 7 = 0 THEN '' ELSE event_type END AS ch,
         CASE WHEN event_id % 5 = 0 THEN CAST('NaN' AS DOUBLE)
              WHEN event_id % 5 = 1 THEN CAST('Infinity' AS DOUBLE)
              WHEN event_id % 5 = 2 THEN CAST('-Infinity' AS DOUBLE)
              ELSE value END AS v
  FROM events
),
cleaned AS (
  SELECT COALESCE(NULLIF(ch, ''), 'unknown') AS channel_name,
         CASE WHEN isnan(v) OR v = CAST('Infinity' AS DOUBLE)
                   OR v = CAST('-Infinity' AS DOUBLE)
              THEN 0.0 ELSE v END AS v
  FROM dirty
)
SELECT channel_name, COUNT(*) AS n_rows,
       CAST(SUM(CAST(ROUND(v * 100, 0) AS BIGINT)) AS BIGINT) AS total_value_cents
FROM cleaned
GROUP BY 1
"""

_ORACLE_STREAM_JOURNEY = f"""
WITH {_CONV}, {_SESS}, {_JOURNEYS}
SELECT conversion_id, session_id FROM journeys
"""

_ORACLE_STREAM_VOLUME = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       event_type AS channel_name,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS total_value_cents
FROM events WHERE event_type <> 'purchase'
GROUP BY 1, 2
"""

_ORACLE_WAREHOUSE = f"""
WITH {_CONV}, {_SESS}, {_COSTS}, {_JOURNEYS},
cs AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CAST(ROUND(cost * 1000, 0) AS BIGINT)) AS BIGINT) AS metric
  FROM costs
),
je AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CASE WHEN event_ts = conv_ts THEN 1 ELSE 0 END) AS BIGINT) AS metric
  FROM journeys
)
SELECT 'parquet' AS fmt, n_rows, metric FROM cs
UNION ALL SELECT 'csv', n_rows, metric FROM cs
UNION ALL SELECT 'json', n_rows, metric FROM cs
UNION ALL SELECT 'journey_json', n_rows, metric FROM je
"""

_ORACLE_ROLLING = """
WITH e AS (SELECT event_id, user_id, value, epoch_us(ts) AS es FROM events)
SELECT event_id, user_id,
       CAST(COUNT(*) OVER wr AS BIGINT) AS n_window,
       CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) OVER wr AS BIGINT) AS value_cents_window,
       CAST(COALESCE(es - LAG(es) OVER wl, -1) AS BIGINT) AS usecs_since_prev
FROM e
WINDOW wr AS (PARTITION BY user_id ORDER BY es
              RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW),
       wl AS (PARTITION BY user_id ORDER BY es, event_id)
"""

_ORACLE_ROLLUP = """
SELECT COALESCE(channel_name, 'ALL') AS channel_name,
       COALESCE(day, 'ALL') AS day,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS total_value_cents,
       CAST(GROUPING(channel_name) * 2 + GROUPING(day) AS BIGINT) AS gid
FROM (SELECT event_type AS channel_name, strftime(ts, '%Y-%m-%d') AS day, value
      FROM events WHERE event_type <> 'purchase')
GROUP BY ROLLUP (channel_name, day)
"""

_ORACLE_PIVOT = """
SELECT event_type AS channel_name,
       COALESCE(CAST(SUM(CASE WHEN strftime(ts, '%m') = '01' THEN CAST(ROUND(value * 100, 0) AS BIGINT) END) AS BIGINT), CAST(0 AS BIGINT)) AS m01,
       COALESCE(CAST(SUM(CASE WHEN strftime(ts, '%m') = '02' THEN CAST(ROUND(value * 100, 0) AS BIGINT) END) AS BIGINT), CAST(0 AS BIGINT)) AS m02,
       COALESCE(CAST(SUM(CASE WHEN strftime(ts, '%m') = '03' THEN CAST(ROUND(value * 100, 0) AS BIGINT) END) AS BIGINT), CAST(0 AS BIGINT)) AS m03,
       COALESCE(CAST(SUM(CASE WHEN strftime(ts, '%m') = '04' THEN CAST(ROUND(value * 100, 0) AS BIGINT) END) AS BIGINT), CAST(0 AS BIGINT)) AS m04,
       COALESCE(CAST(SUM(CASE WHEN strftime(ts, '%m') = '05' THEN CAST(ROUND(value * 100, 0) AS BIGINT) END) AS BIGINT), CAST(0 AS BIGINT)) AS m05,
       COALESCE(CAST(SUM(CASE WHEN strftime(ts, '%m') = '06' THEN CAST(ROUND(value * 100, 0) AS BIGINT) END) AS BIGINT), CAST(0 AS BIGINT)) AS m06,
       COALESCE(CAST(SUM(CASE WHEN strftime(ts, '%m') = '07' THEN CAST(ROUND(value * 100, 0) AS BIGINT) END) AS BIGINT), CAST(0 AS BIGINT)) AS m07,
       COALESCE(CAST(SUM(CASE WHEN strftime(ts, '%m') = '08' THEN CAST(ROUND(value * 100, 0) AS BIGINT) END) AS BIGINT), CAST(0 AS BIGINT)) AS m08,
       COALESCE(CAST(SUM(CASE WHEN strftime(ts, '%m') = '09' THEN CAST(ROUND(value * 100, 0) AS BIGINT) END) AS BIGINT), CAST(0 AS BIGINT)) AS m09,
       COALESCE(CAST(SUM(CASE WHEN strftime(ts, '%m') = '10' THEN CAST(ROUND(value * 100, 0) AS BIGINT) END) AS BIGINT), CAST(0 AS BIGINT)) AS m10,
       COALESCE(CAST(SUM(CASE WHEN strftime(ts, '%m') = '11' THEN CAST(ROUND(value * 100, 0) AS BIGINT) END) AS BIGINT), CAST(0 AS BIGINT)) AS m11,
       COALESCE(CAST(SUM(CASE WHEN strftime(ts, '%m') = '12' THEN CAST(ROUND(value * 100, 0) AS BIGINT) END) AS BIGINT), CAST(0 AS BIGINT)) AS m12
FROM events WHERE event_type <> 'purchase'
GROUP BY event_type
"""

_ORACLE_PROPS_STATS = """
WITH p AS (
  SELECT event_type AS channel_name,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
)
SELECT channel_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(k) AS BIGINT) AS n_parsed,
       CAST(SUM(k) AS BIGINT) AS sum_k,
       CAST(MIN(k) AS BIGINT) AS min_k,
       CAST(MAX(k) AS BIGINT) AS max_k,
       CAST(COUNT(DISTINCT k) AS BIGINT) AS n_distinct_k
FROM p GROUP BY channel_name
"""

_ORACLE_ATTR_STATS = f"""
WITH {_CONV}, {_SESS}, {_JOURNEYS},
lt AS (
  SELECT conversion_id AS conv_id, session_id,
         CASE WHEN ROW_NUMBER() OVER w = COUNT(*) OVER (PARTITION BY conversion_id)
              THEN 1.0 ELSE 0.0 END AS ihc
  FROM journeys
  WINDOW w AS (PARTITION BY conversion_id ORDER BY event_ts, session_id)
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN ihc > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_positive,
       CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_conversions,
       CAST(SUM(CAST(FLOOR(ihc * 1048576 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_ihc_q20
FROM lt
"""

# independent cross-check: DuckDB's NATIVE ASOF JOIN vs the Spark
# union-and-carry window formulation — two genuinely different
# algorithms must produce the same matches.
_ORACLE_SESSION_ASOF = f"""
WITH {_CONV}, {_SESS},
s1 AS (
  SELECT user_id, event_ts, MAX(CAST(session_id AS BIGINT)) AS sid
  FROM sess GROUP BY user_id, event_ts
),
m AS (
  SELECT c.conv_id, c.conv_ts, s.sid, s.event_ts
  FROM conv c ASOF LEFT JOIN s1 s
    ON c.user_id = s.user_id AND s.event_ts <= c.conv_ts
)
SELECT conv_id,
       COALESCE(CASE WHEN event_ts IS NOT NULL
             AND epoch_us(conv_ts) - epoch_us(event_ts) <= {_ASOF_TOL_US}
            THEN CAST(sid AS VARCHAR) END, '') AS session_id,
       COALESCE(CASE WHEN event_ts IS NOT NULL
             AND epoch_us(conv_ts) - epoch_us(event_ts) <= {_ASOF_TOL_US}
            THEN epoch_us(conv_ts) - epoch_us(event_ts) END, -1) AS gap_us
FROM m
"""

_ORACLE_SESSION_ASOF_FWD = f"""
WITH {_CONV}, {_SESS},
c1 AS (
  SELECT user_id, conv_ts, MAX(CAST(conv_id AS BIGINT)) AS cid
  FROM conv GROUP BY user_id, conv_ts
),
m AS (
  SELECT s.session_id, s.event_ts, c.cid, c.conv_ts
  FROM sess s ASOF LEFT JOIN c1 c
    ON s.user_id = c.user_id AND c.conv_ts >= s.event_ts
)
SELECT session_id,
       COALESCE(CAST(cid AS VARCHAR), '') AS conv_id,
       COALESCE(epoch_us(conv_ts) - epoch_us(event_ts), -1) AS wait_us
FROM m
"""

_ORACLE_SESSIONIZE = """
WITH base AS (
  SELECT user_id, ts, event_id AS tb, event_type AS channel_name
  FROM events WHERE event_type <> 'purchase'
),
lagged AS (
  SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, tb) AS prev_ts
  FROM base
),
brk AS (
  SELECT *, CASE WHEN prev_ts IS NULL THEN 0
                 WHEN epoch_us(ts) - epoch_us(prev_ts) > 30 * 60 * 1000000
                 THEN 1 ELSE 0 END AS b
  FROM lagged
),
g AS (
  SELECT *, SUM(b) OVER (PARTITION BY user_id ORDER BY ts, tb
                         ROWS UNBOUNDED PRECEDING) AS gs
  FROM brk
),
sub AS (
  SELECT *, CAST(FLOOR((ROW_NUMBER() OVER (PARTITION BY user_id, gs
                                           ORDER BY ts, tb) - 1) / 20.0)
                 AS BIGINT) AS sb
  FROM g
)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       STRING_AGG(channel_name, ',' ORDER BY ts, tb) AS channels
FROM sub GROUP BY user_id, gs, sb
"""

# L97 native session_window: pure gap sessions (no cap) — the same
# prefix-sum SQL without the sub-split, proving the Spark-native
# merging session aggregate against an algorithmically different
# formulation.
_ORACLE_SESSIONIZE_NATIVE = """
WITH base AS (
  SELECT user_id, ts, event_id AS tb, event_type AS channel_name
  FROM events WHERE event_type <> 'purchase'
),
lagged AS (
  SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, tb) AS prev_ts
  FROM base
),
brk AS (
  SELECT *, CASE WHEN prev_ts IS NULL THEN 0
                 WHEN epoch_us(ts) - epoch_us(prev_ts) > 30 * 60 * 1000000
                 THEN 1 ELSE 0 END AS b
  FROM lagged
),
g AS (
  SELECT *, SUM(b) OVER (PARTITION BY user_id ORDER BY ts, tb
                         ROWS UNBOUNDED PRECEDING) AS gs
  FROM brk
)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       STRING_AGG(channel_name, ',' ORDER BY ts, tb) AS channels
FROM g GROUP BY user_id, gs
"""

# L98 median/MAD outliers: PERCENTILE_DISC mirrored as the identical
# rank-window formulation (operators/quantiles.py percentile_disc:
# the row whose row_number equals ceil(p * n); 0.5 * n is an exact
# binary product so ceil is deterministic in both engines).
_ORACLE_ANOMALY_MAD = f"""
WITH {_DAILY_CENTS},
rmed AS (
  SELECT channel, cents,
         ROW_NUMBER() OVER (PARTITION BY channel ORDER BY cents) AS rn,
         COUNT(*) OVER (PARTITION BY channel) AS n
  FROM daily
),
med AS (SELECT channel, cents AS med FROM rmed WHERE rn = CAST(CEIL(0.5 * n) AS BIGINT)),
dev AS (
  SELECT d.channel, d.event_day, d.cents, m.med,
         ABS(d.cents - m.med) AS dv
  FROM daily d JOIN med m USING (channel)
),
rmad AS (
  SELECT channel, dv,
         ROW_NUMBER() OVER (PARTITION BY channel ORDER BY dv) AS rn,
         COUNT(*) OVER (PARTITION BY channel) AS n
  FROM dev
),
mad AS (SELECT channel, dv AS mad FROM rmad WHERE rn = CAST(CEIL(0.5 * n) AS BIGINT))
SELECT d.channel, d.event_day, d.cents,
       CAST(d.med AS BIGINT) AS median_cents,
       CAST(a.mad AS BIGINT) AS mad_cents,
       CAST(CASE WHEN d.dv > 3 * a.mad THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
FROM dev d JOIN mad a USING (channel)
"""

# L99 decayed daily sum: dyadic weights 2^(20-d) over a 21-day
# horizon — exact integer arithmetic mirroring
# operators/timeseries.py decayed_daily_sum.
_ORACLE_CHANNEL_DECAY = f"""
WITH {_DAILY_CENTS}
SELECT t.channel, t.event_day,
       CAST(MAX(CASE WHEN i.event_day = t.event_day THEN i.cents END) AS BIGINT) AS cents,
       CAST(SUM(i.cents * (CAST(1 AS BIGINT) <<
            (20 - date_diff('day', CAST(i.event_day AS DATE), CAST(t.event_day AS DATE)))))
            AS BIGINT) AS decay_cents_q20
FROM daily t JOIN daily i
  ON t.channel = i.channel
 AND CAST(i.event_day AS DATE) <= CAST(t.event_day AS DATE)
 AND CAST(i.event_day AS DATE) >= CAST(t.event_day AS DATE) - 20
GROUP BY 1, 2
"""

# L100 TPC-H Q3 shape (_REV_E4 inlined: that fragment is defined
# further down the module)
_ORACLE_REL_SHIPPING = """
SELECT l.l_orderkey AS orderkey,
       CAST(SUM(CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT)
                * CAST(100 - ROUND(l.l_discount * 100, 0) AS BIGINT)) AS BIGINT) AS revenue_e4,
       strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
       o.o_orderpriority
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
  AND CAST(o.o_orderdate AS DATE) <  DATE '1996-07-01'
  AND CAST(l.l_shipdate  AS DATE) >  DATE '1996-07-01'
GROUP BY 1, 3, 4
ORDER BY revenue_e4 DESC, orderdate ASC, orderkey ASC
LIMIT 10
"""

# L101 TPC-H Q16 shape (supplier-part pairs from lineitem; NOT IN
# exclusion of negative-balance suppliers)
_ORACLE_REL_PARTS_SUPPLIER = """
SELECT p.p_brand, CAST(p.p_size AS BIGINT) AS p_size,
       CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_size IN (1, 14, 23, 36, 49)
  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2
"""

# L102 TPC-H Q18 shape
_ORACLE_REL_BIG_SPENDERS = """
WITH big AS (
  SELECT l_orderkey,
         CAST(SUM(CAST(ROUND(l_quantity, 0) AS BIGINT)) AS BIGINT) AS total_qty
  FROM lineitem GROUP BY 1 HAVING total_qty > 300
)
SELECT c.c_name,
       o.o_orderkey AS orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
       CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT) AS totalprice_cents,
       b.total_qty
FROM big b
JOIN orders o   ON b.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
"""

# L103 streaming dedup parity: the doubled-then-deduped stream must
# reduce to the batch aggregate over the original unique events.
_ORACLE_STREAM_DEDUP = """
SELECT event_type AS channel_name,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct,
       CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
FROM events GROUP BY 1
"""

# L111 GDPR purge ledger: per table, before/after counts under the
# deterministic tombstone set, plus the must-be-zero remaining count.
_ORACLE_USER_PURGE = f"""
WITH {_CONV}, {_SESS},
tomb AS (SELECT DISTINCT user_id FROM events WHERE user_id % 31 = 7)
SELECT 'conversions' AS table_name,
       CAST((SELECT COUNT(*) FROM conv) AS BIGINT) AS n_before,
       CAST((SELECT COUNT(*) FROM conv
             WHERE CAST(user_id AS BIGINT) NOT IN (SELECT user_id FROM tomb)) AS BIGINT) AS n_after,
       CAST(0 AS BIGINT) AS n_tombstoned_remaining
UNION ALL
SELECT 'events',
       CAST((SELECT COUNT(*) FROM events) AS BIGINT),
       CAST((SELECT COUNT(*) FROM events
             WHERE user_id NOT IN (SELECT user_id FROM tomb)) AS BIGINT),
       CAST(0 AS BIGINT)
UNION ALL
SELECT 'session_sources',
       CAST((SELECT COUNT(*) FROM sess) AS BIGINT),
       CAST((SELECT COUNT(*) FROM sess
             WHERE CAST(user_id AS BIGINT) NOT IN (SELECT user_id FROM tomb)) AS BIGINT),
       CAST(0 AS BIGINT)
"""

# L120 TPC-H Q17 shape: decorrelated aggregate subquery + integer
# cross-multiplied 20%-of-average predicate
_ORACLE_REL_SMALL_QUANTITY = """
WITH pq AS (
  SELECT l_partkey,
         CAST(SUM(CAST(ROUND(l_quantity, 0) AS BIGINT)) AS BIGINT) AS sq,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY 1
)
SELECT p.p_brand,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS price_cents
FROM lineitem l
JOIN pq ON l.l_partkey = pq.l_partkey
JOIN part p ON l.l_partkey = p.p_partkey
WHERE CAST(ROUND(l.l_quantity, 0) AS BIGINT) * 5 * pq.cnt < pq.sq
GROUP BY 1
"""

# L118 ORC round-trip: the oracle emits the straight summary twice —
# the Spark side's ORC row must equal it bit for bit.
_ORACLE_ORC_ROUNDTRIP = f"""
WITH {_CONV}, {_SESS}, {_COSTS},
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CAST(ROUND(cost * 1000, 0) AS BIGINT)) AS BIGINT) AS metric
  FROM costs
)
SELECT 'orc' AS fmt, n_rows, metric FROM s
UNION ALL
SELECT 'parquet_direct', n_rows, metric FROM s
"""

# L113 TPC-H Q22 shape: anti-join + integer cross-multiplied
# above-average predicate
_ORACLE_REL_IDLE_CUSTOMERS = """
WITH pos AS (SELECT * FROM customer WHERE c_acctbal > 0),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT) AS tot
  FROM pos
),
recent AS (
  SELECT DISTINCT o_custkey FROM orders
  WHERE CAST(o_orderdate AS DATE) >= DATE '2000-01-01'
),
idle AS (
  SELECT p.* FROM pos p, stats s
  WHERE p.c_custkey NOT IN (SELECT o_custkey FROM recent)
    AND CAST(ROUND(p.c_acctbal * 100, 0) AS BIGINT) * s.n > s.tot
)
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_custs,
       CAST(SUM(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT) AS bal_cents
FROM idle GROUP BY 1
"""

# L114 TPC-H Q10 shape: returned-item revenue top-20
_ORACLE_REL_RETURNED_ITEMS = """
WITH per AS (
  SELECT o.o_custkey,
         CAST(SUM(CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT)
                  * CAST(100 - ROUND(l.l_discount * 100, 0) AS BIGINT)) AS BIGINT) AS revenue_e4,
         CAST(COUNT(*) AS BIGINT) AS n_items
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_returnflag = 'R'
    AND CAST(o.o_orderdate AS DATE) >= DATE '1996-01-01'
    AND CAST(o.o_orderdate AS DATE) <  DATE '1997-01-01'
  GROUP BY 1
  ORDER BY revenue_e4 DESC, o_custkey ASC
  LIMIT 20
)
SELECT CAST(p.o_custkey AS BIGINT) AS custkey, c.c_name, p.revenue_e4, p.n_items
FROM per p JOIN customer c ON p.o_custkey = c.c_custkey
"""

# L115 journey drop-off / survival curve
_ORACLE_JOURNEY_DROPOFF = f"""
WITH {_CONV}, {_SESS}, {_JOURNEYS},
lens AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS position
  FROM journeys GROUP BY conversion_id
),
at AS (SELECT position, CAST(COUNT(*) AS BIGINT) AS n_ending FROM lens GROUP BY 1)
SELECT a.position, a.n_ending,
       CAST((SELECT SUM(b.n_ending) FROM at b WHERE b.position >= a.position) AS BIGINT) AS n_reaching
FROM at a
"""

# L116 sketch merge law: the oracle builds the month histogram
# DIRECTLY from raw values; the Spark side merges daily sketches —
# equality proves mergeability.
_ORACLE_SKETCH_MERGE_LAW = """
WITH v AS (
  SELECT event_type AS channel, strftime(ts, '%Y-%m') AS month,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS x
  FROM events WHERE event_type <> 'purchase'
),
b AS (
  SELECT channel, month, CAST((x >> g) << g AS BIGINT) AS bucket_lb
  FROM (SELECT channel, month, x,
               CASE WHEN x = 0 THEN 0
                    WHEN length(printf('%b', x)) - 3 > 0
                    THEN length(printf('%b', x)) - 3 ELSE 0 END AS g
        FROM v)
)
SELECT channel, month, bucket_lb, CAST(COUNT(*) AS BIGINT) AS c
FROM b GROUP BY 1, 2, 3
"""

# L117 per-user inactivity profile
_ORACLE_USER_GAPS = """
WITH g AS (
  SELECT user_id,
         COALESCE(epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)), 0) AS gap
  FROM events
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MAX(gap) AS BIGINT) AS max_gap_usecs,
       CAST(CASE WHEN MAX(gap) > 604800000000 THEN 1 ELSE 0 END AS BIGINT) AS reactivated
FROM g GROUP BY 1
"""

# L112 bloom-pruned semi join: the sketch is semantically transparent
# (no false negatives; false positives removed by the exact semi
# join), so the oracle is the PLAIN semi join.
_ORACLE_BLOOM_PRUNED_JOIN = """
SELECT strftime(ts, '%Y-%m-%d') AS day,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
FROM events
WHERE event_type = 'purchase'
  AND user_id IN (SELECT DISTINCT user_id FROM events WHERE event_type = 'signup')
GROUP BY 1
"""

_ORACLE_WINDOW_FUNNEL = f"""
WITH base AS (
  SELECT user_id, event_type AS et, ts FROM events
  WHERE event_type IN ('signup', 'view', 'click', 'purchase')
),
s0 AS (SELECT user_id, MIN(ts) AS t0 FROM base WHERE et = 'signup' GROUP BY user_id),
s1 AS (
  SELECT b.user_id, MIN(s0.t0) AS t0, MIN(b.ts) AS t1
  FROM base b JOIN s0 ON b.user_id = s0.user_id
  WHERE b.et = 'view' AND b.ts > s0.t0
    AND epoch_us(b.ts) - epoch_us(s0.t0) <= {_WF_US}
  GROUP BY b.user_id
),
s2 AS (
  SELECT b.user_id, MIN(s1.t0) AS t0, MIN(b.ts) AS t2
  FROM base b JOIN s1 ON b.user_id = s1.user_id
  WHERE b.et = 'click' AND b.ts > s1.t1
    AND epoch_us(b.ts) - epoch_us(s1.t0) <= {_WF_US}
  GROUP BY b.user_id
),
s3 AS (
  SELECT b.user_id, MIN(b.ts) AS t3
  FROM base b JOIN s2 ON b.user_id = s2.user_id
  WHERE b.et = 'purchase' AND b.ts > s2.t2
    AND epoch_us(b.ts) - epoch_us(s2.t0) <= {_WF_US}
  GROUP BY b.user_id
),
stages AS (
  SELECT user_id, CAST(0 AS BIGINT) AS stage FROM (SELECT DISTINCT user_id FROM base)
  UNION ALL SELECT user_id, CAST(1 AS BIGINT) FROM s0
  UNION ALL SELECT user_id, CAST(2 AS BIGINT) FROM s1
  UNION ALL SELECT user_id, CAST(3 AS BIGINT) FROM s2
  UNION ALL SELECT user_id, CAST(4 AS BIGINT) FROM s3
),
fs AS (SELECT user_id, MAX(stage) AS funnel_stage FROM stages GROUP BY user_id),
at AS (SELECT funnel_stage, CAST(COUNT(*) AS BIGINT) AS n_users FROM fs GROUP BY funnel_stage)
SELECT a.funnel_stage, a.n_users,
       CAST((SELECT SUM(b.n_users) FROM at b WHERE b.funnel_stage >= a.funnel_stage) AS BIGINT) AS n_reached
FROM at a
"""

# L109 A/B lift readout (canonical salted-md5 bucket; integer counts)
_ORACLE_AB_LIFT = """
WITH pu AS (
  SELECT user_id,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n_conv,
         SUM(CASE WHEN event_type = 'purchase'
                  THEN CAST(ROUND(value * 100, 0) AS BIGINT) ELSE 0 END) AS rev
  FROM events GROUP BY 1
),
v AS (
  SELECT CASE WHEN CAST('0x' || substr(md5(CAST(user_id AS VARCHAR) || '|ab'), 1, 15) AS BIGINT) % 100 < 50
              THEN 'A' ELSE 'B' END AS variant,
         n_conv, rev
  FROM pu
)
SELECT variant,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(CASE WHEN n_conv > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_converters,
       CAST(SUM(n_conv) AS BIGINT) AS n_conversions,
       CAST(SUM(rev) AS BIGINT) AS revenue_cents,
       CAST(SUM(CASE WHEN n_conv > 0 THEN 1 ELSE 0 END) * 1048576 // COUNT(*) AS BIGINT) AS conv_rate_q20
FROM v GROUP BY 1
"""

# L104 assisted-conversion report over the shared journey ordering
_ORACLE_CHANNEL_ASSISTS = f"""
WITH {_CONV}, {_SESS}, {_JOURNEYS},
j AS (
  SELECT conversion_id, channel_label,
         ROW_NUMBER() OVER w = COUNT(*) OVER (PARTITION BY conversion_id) AS is_last
  FROM journeys
  WINDOW w AS (PARTITION BY conversion_id ORDER BY event_ts, session_id)
)
SELECT channel_label,
       CAST(COUNT(DISTINCT conversion_id) AS BIGINT) AS n_touched,
       CAST(COUNT(DISTINCT CASE WHEN is_last THEN conversion_id END) AS BIGINT) AS n_closed,
       CAST(COUNT(DISTINCT CASE WHEN NOT is_last THEN conversion_id END) AS BIGINT) AS n_assists,
       CAST(COUNT(DISTINCT CASE WHEN NOT is_last THEN conversion_id END) * 1048576
            // COUNT(DISTINCT conversion_id) AS BIGINT) AS assist_ratio_q20
FROM j GROUP BY 1
"""

# L106 journey-latency log-histogram sketch (same bucket SQL as the
# L87 length/revenue sketches; latency in truncated integer seconds)
_ORACLE_LATENCY_HISTOGRAM = f"""
WITH {_CONV}, {_SESS}, {_JOURNEYS},
v AS (
  SELECT channel_label,
         (epoch_us(conv_ts) - epoch_us(event_ts)) // 1000000 AS x
  FROM journeys
),
b AS (
  SELECT channel_label, CAST((x >> g) << g AS BIGINT) AS bucket_lb
  FROM (SELECT channel_label, x,
               CASE WHEN length(printf('%b', x)) - 3 > 0
                    THEN length(printf('%b', x)) - 3 ELSE 0 END AS g
        FROM v)
),
h AS (SELECT channel_label, bucket_lb, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY 1, 2),
cdf AS (
  SELECT channel_label, bucket_lb,
         CAST(SUM(c) OVER (PARTITION BY channel_label ORDER BY bucket_lb) AS BIGINT) AS cum,
         CAST(SUM(c) OVER (PARTITION BY channel_label) AS BIGINT) AS n
  FROM h
)
SELECT channel_label,
       CAST(MAX(n) AS BIGINT) AS n_values,
       CAST(MIN(CASE WHEN cum * 2 >= n * 1 THEN bucket_lb END) AS BIGINT) AS p50_lb,
       CAST(MIN(CASE WHEN cum * 10 >= n * 9 THEN bucket_lb END) AS BIGINT) AS p90_lb
FROM cdf GROUP BY 1
"""

# L105 per-user lifetime feature vector
_ORACLE_USER_FEATURES = """
SELECT user_id,
       CAST(SUM(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
       CAST(COUNT(DISTINCT CASE WHEN event_type <> 'purchase' THEN event_type END) AS BIGINT) AS n_channels,
       CAST(COUNT(DISTINCT strftime(ts, '%Y-%m-%d')) AS BIGINT) AS active_days,
       CAST(SUM(CASE WHEN event_type = 'purchase'
                     THEN CAST(ROUND(value * 100, 0) AS BIGINT) ELSE 0 END) AS BIGINT) AS revenue_cents,
       MIN(strftime(ts, '%Y-%m-%d')) AS first_day,
       MAX(strftime(ts, '%Y-%m-%d')) AS last_day
FROM events GROUP BY 1
"""

# L107 Hamilton largest-remainder budget apportionment (HUGEINT ==
# Spark's DECIMAL(38,0) for exact products; // and % truncate on
# nonnegative values in both engines)
_ORACLE_BUDGET_ALLOC = """
WITH per AS (
  SELECT event_type AS channel,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS value_cents
  FROM events WHERE event_type <> 'purchase' GROUP BY 1
),
tot AS (SELECT CAST(SUM(CAST(value_cents AS HUGEINT)) AS HUGEINT) AS v FROM per),
scaled AS (
  SELECT channel, value_cents,
         CAST(CAST(100000000 AS HUGEINT) * CAST(value_cents AS HUGEINT) // t.v AS BIGINT) AS base,
         CAST(100000000 AS HUGEINT) * CAST(value_cents AS HUGEINT) % t.v AS rem
  FROM per, tot t
),
rk AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, channel ASC) AS rk,
         (SELECT 100000000 - SUM(base) FROM scaled) AS leftover
  FROM scaled
)
SELECT channel, value_cents,
       CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc_cents
FROM rk
"""

_ORACLE_LOADER_ERRORS = f"""
WITH {_CONV}, {_SESS}, {_JOURNEYS},
att AS (SELECT DISTINCT conversion_id, session_id FROM journeys),
chunks AS (
  SELECT DISTINCT (CAST(conversion_id AS BIGINT) % 4096) AS c FROM att
)
SELECT 'ok' AS error_code,
       (SELECT COUNT(*) FROM chunks)
       + (CASE WHEN EXISTS (SELECT 1 FROM att WHERE session_id LIKE '%0')
               THEN 1 ELSE 0 END) AS count
UNION ALL SELECT 'status_500', CAST(2 AS BIGINT)
UNION ALL SELECT 'missing_status', CAST(1 AS BIGINT)
"""

_ORACLE_REPORT_BODY = f"""
WITH {_CONV}, {_SESS}, {_COSTS}, {_JOURNEYS},
attribution AS (
  SELECT conversion_id AS conv_id, session_id,
         1.0 / COUNT(*) OVER (PARTITION BY conversion_id) AS ihc
  FROM journeys
),
ar AS (
  SELECT ss.channel_name,
         strftime(ss.event_ts, '%Y-%m-%d') AS date,
         COALESCE(SUM(a.ihc), 0) AS ihc,
         COALESCE(SUM(c.revenue * a.ihc), 0) AS ihc_revenue
  FROM attribution a
  JOIN sess ss ON a.session_id = ss.session_id
  JOIN conv c ON a.conv_id = c.conv_id
  WHERE ss.channel_name IS NOT NULL AND ss.channel_name <> ''
  GROUP BY 1, 2
),
cc AS (
  SELECT COALESCE(NULLIF(ss.channel_name, ''), 'unknown') AS channel_name,
         strftime(ss.event_ts, '%Y-%m-%d') AS date,
         COALESCE(SUM(co.cost), 0) AS cost
  FROM sess ss LEFT JOIN costs co ON ss.session_id = co.session_id
  GROUP BY 1, 2
),
report AS (
  SELECT ar.channel_name, ar.date,
         COALESCE(cc.cost, 0) AS cost, ar.ihc, ar.ihc_revenue
  FROM ar LEFT JOIN cc ON ar.channel_name = cc.channel_name AND ar.date = cc.date
  WHERE ar.channel_name <> 'unknown'
    AND ar.date >= (SELECT MIN(strftime(conv_ts, '%Y-%m-%d')) FROM conv)
)
"""

_ORACLE_REPORT = (
    _ORACLE_REPORT_BODY
    + """
SELECT channel_name, date, ROUND(cost, 6) AS cost, ROUND(ihc, 6) AS ihc,
       ROUND(ihc_revenue, 6) AS ihc_revenue
FROM report
"""
)

_ORACLE_REPORT_EXPORT = (
    _ORACLE_REPORT_BODY
    + """
SELECT channel_name, date, ROUND(cost, 6) AS cost, ROUND(ihc, 6) AS ihc,
       ROUND(ihc_revenue, 6) AS ihc_revenue,
       ROUND(CASE WHEN ihc > 0 THEN cost / ihc ELSE 0 END, 6) AS cpo,
       ROUND(CASE WHEN cost > 0 THEN ihc_revenue / cost ELSE 0 END, 6) AS roas
FROM report
"""
)

_ORACLE_REPORT_SUMMARY = (
    _ORACLE_REPORT_BODY
    + """
SELECT COUNT(*) AS n_rows,
       COUNT(DISTINCT channel_name) AS n_channels,
       COUNT(DISTINCT date) AS n_dates,
       MIN(date) AS min_date,
       CAST(SUM(CAST(FLOOR(ihc * 1048576 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_ihc_q20
FROM report
"""
)

_ORACLE_TEXT_STATS = f"""
WITH {_NORM_RAW}
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars_raw,
       CAST(length(norm) AS BIGINT) AS n_chars_norm,
       CAST(len(ws) AS BIGINT) AS n_words,
       CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct_words,
       CAST(len(regexp_extract_all(norm, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_tokens,
       CAST(list_sum(list_transform(ws, w -> length(w))) AS BIGINT) AS sum_word_len,
       CAST(list_max(list_transform(ws, w -> length(w))) AS BIGINT) AS max_word_len,
       (len(ws) >= 5 AND len(list_distinct(ws)) * 10 >= len(ws) * 3) AS is_quality
FROM (SELECT doc_id, text, norm, string_split(norm, ' ') AS ws FROM nd)
"""

_ORACLE_LANG_ID = f"""
WITH {_NORM_RAW},
scores AS (
  SELECT doc_id,
       {_lang_score_cols}
  FROM (SELECT doc_id, list_distinct(string_split(norm, ' ')) AS dws FROM nd)
),
best AS (
  SELECT *, GREATEST(s_de, s_en, s_es, s_fr, s_zh) AS mx FROM scores
)
SELECT doc_id,
       CASE {_lang_case} ELSE 'zh' END AS lang_guess,
       mx AS lang_score
FROM best
"""

_ORACLE_TOP_TERMS = f"""
WITH {_NORM_RAW},
ex AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS term FROM nd),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM ex GROUP BY 1, 2),
df AS (SELECT term, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, term FROM ex) GROUP BY 1),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         CAST(tf.tf AS DOUBLE) / df.df AS score
  FROM tf JOIN df ON tf.term = df.term
)
SELECT doc_id, CAST(ROW_NUMBER() OVER w AS BIGINT) AS rnk, term, tf, df
FROM scored
WINDOW w AS (PARTITION BY doc_id ORDER BY score DESC, term)
QUALIFY ROW_NUMBER() OVER w <= 3
"""

_ORACLE_UNIGRAM_SURPRISAL = f"""
WITH {_NORM_RAW},
ex AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS term FROM nd),
tf AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS n_term FROM ex GROUP BY 1),
tot AS (SELECT CAST(SUM(n_term) AS BIGINT) AS n_total FROM tf)
SELECT ex.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_scored_words,
       CAST(SUM(LENGTH(bin(tot.n_total // tf.n_term)) - 1) AS BIGINT) AS surprisal_bits
FROM ex JOIN tf USING (term) CROSS JOIN tot
GROUP BY 1
"""

_bm25_terms_sql = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)

_ORACLE_BM25 = f"""
WITH {_NORM_RAW},
d AS (SELECT doc_id, string_split(norm, ' ') AS ws FROM nd),
dlen AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl, ws FROM d),
totals AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl
  FROM dlen
),
ex AS (SELECT doc_id, dl, unnest(ws) AS term FROM dlen),
tf AS (
  SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM ex WHERE term IN ({_bm25_terms_sql}) GROUP BY 1, 2, 3
),
dfx AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT tf.doc_id,
         ln(((t.n_docs - dfx.df + 0.5) / (dfx.df + 0.5)) + 1.0)
         * (tf.tf * 2.2)
         / (tf.tf + 1.2 * (0.25 + 0.75 * ((tf.dl * t.n_docs) / t.sum_dl))) AS w
  FROM tf JOIN dfx USING (term) CROSS JOIN totals t
),
agg AS (
  SELECT doc_id, SUM(w) AS score, CAST(COUNT(*) AS BIGINT) AS n_hit_terms
  FROM scored GROUP BY 1
),
q AS (
  SELECT doc_id, n_hit_terms,
         CAST(FLOOR(score * 1048576.0 + 0.5) AS BIGINT) AS score_q20
  FROM agg
)
SELECT CAST(ROW_NUMBER() OVER w AS BIGINT) AS rnk, doc_id, n_hit_terms, score_q20
FROM q
WINDOW w AS (ORDER BY score_q20 DESC, doc_id)
QUALIFY ROW_NUMBER() OVER w <= 20
"""

_ORACLE_FINGERPRINT = f"""
WITH {_NORM_RAW},
ex AS (
  SELECT doc_id,
         unnest(range(1, greatest(length(norm) - 6, 2))) AS pos,
         norm
  FROM nd
),
hashed AS (
  SELECT doc_id, pos, md5(substr(norm, CAST(pos AS INTEGER), 8)) AS h FROM ex
),
wmin AS (
  SELECT doc_id, pos,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
         MAX(pos) OVER (PARTITION BY doc_id) AS m
  FROM hashed
)
SELECT doc_id, COUNT(DISTINCT fp) AS n_fingerprints, MIN(fp) AS min_fp
FROM wmin
WHERE pos <= GREATEST(m - 3, 1)
GROUP BY doc_id
"""

_ORACLE_DEDUP_EXACT = f"""
WITH {_AUG}, {_NORM_AUG}
SELECT md5(norm) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
FROM nd
GROUP BY 1
"""

_ORACLE_DEDUP_MINHASH = f"""
WITH {_AUG}, {_NORM_AUG}, {_SHINGLED}, {_MINHASH_CTES}
SELECT doc_a, doc_b, inter_size, union_size
FROM scored WHERE inter_size * 2 >= union_size * 1
"""

# llm/dedup.py window_dedup_audit over the augmented corpus
_ORACLE_WINDOW_DEDUP = rf"""
WITH {_AUG},
h AS (
  SELECT doc_id AS id,
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS hsh
  FROM aug
),
lagged AS (
  SELECT id, LAG(id) OVER (PARTITION BY hsh ORDER BY id) AS prev FROM h
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN prev IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dups_full,
         CAST(SUM(CASE WHEN prev IS NOT NULL AND id - prev <= 1000 THEN 1 ELSE 0 END) AS BIGINT) AS n_dups_window
  FROM lagged
)
SELECT n_docs, n_dups_full, n_dups_window,
       CAST(CASE WHEN n_dups_full = 0 THEN 0
            ELSE (2 * n_dups_window * 1048576 + n_dups_full) // (2 * n_dups_full)
            END AS BIGINT) AS window_recall_q20
FROM agg
"""


# llm/dedup.py lsh_bucket_stats over the ingest-side corpus band table
# (doc_id < 100000, matching _neardup_corpus_bands)
_ORACLE_LSH_BUCKET_STATS = f"""
WITH {_AUG}, {_NORM_AUG}, {_SHINGLED}, {_MINHASH_CTES},
cb AS (SELECT * FROM bands WHERE doc_id < 100000),
sizes AS (
  SELECT band, key, CAST(COUNT(*) AS BIGINT) AS bucket_size
  FROM cb GROUP BY 1, 2
)
SELECT CAST(band AS BIGINT) AS band, bucket_size,
       CAST(COUNT(*) AS BIGINT) AS n_buckets
FROM sizes GROUP BY 1, 2
"""


# llm/text.py code_screen: class-deletion counts, half-up q20 ratios
_ORACLE_CODE_SCREEN = r"""
WITH d AS (
  SELECT doc_id,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(length(text) - length(regexp_replace(text, '[{}\[\]();=<>]', '', 'g')) AS BIGINT) AS n_symbol,
         CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digit
  FROM documents WHERE length(text) > 0
)
SELECT doc_id, n_chars, n_symbol, n_digit,
       CAST((2 * n_symbol * 1048576 + n_chars) // (2 * n_chars) AS BIGINT) AS symbol_q20,
       CAST((2 * n_digit * 1048576 + n_chars) // (2 * n_chars) AS BIGINT) AS digit_q20,
       CAST(CASE WHEN n_symbol * 100 >= n_chars * 3 THEN 1 ELSE 0 END AS BIGINT) AS is_codey
FROM d
"""


# llm/dedup.py dedup_threshold_sweep over the verified pair table
_ORACLE_DEDUP_THRESHOLD_SWEEP = f"""
WITH {_AUG}, {_NORM_AUG}, {_SHINGLED}, {_MINHASH_CTES},
pairs AS (
  SELECT inter_size, union_size FROM scored WHERE inter_size * 2 >= union_size * 1
),
ladder AS (
  SELECT * FROM (VALUES (1, 2), (3, 5), (7, 10), (4, 5), (9, 10)) AS t(num, den)
)
SELECT CAST(l.num AS BIGINT) AS threshold_num,
       CAST(l.den AS BIGINT) AS threshold_den,
       CAST(COALESCE(SUM(CASE WHEN p.inter_size * l.den >= p.union_size * l.num
                              THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_pairs
FROM ladder l LEFT JOIN pairs p ON TRUE
GROUP BY 1, 2
"""

# llm/dedup.py dup_degree_histogram over the verified pair table
_ORACLE_DUP_DEGREE_HIST = f"""
WITH {_AUG}, {_NORM_AUG}, {_SHINGLED}, {_MINHASH_CTES},
pairs AS (
  SELECT doc_a, doc_b FROM scored WHERE inter_size * 2 >= union_size * 1
),
deg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS degree
  FROM (SELECT doc_a AS doc_id FROM pairs UNION ALL SELECT doc_b FROM pairs)
  GROUP BY 1
)
SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_docs FROM deg GROUP BY 1
"""

_ORACLE_DEDUP_CLUSTERS = f"""
WITH RECURSIVE {_AUG}, {_NORM_AUG}, {_SHINGLED}, {_MINHASH_CTES},
pairs AS (
  SELECT doc_a, doc_b FROM scored WHERE inter_size * 2 >= union_size * 1
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
walk(doc_id, cluster_id) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, w.cluster_id
  FROM walk w JOIN edges e ON e.dst = w.doc_id
)
SELECT doc_id, MIN(cluster_id) AS cluster_id
FROM walk
GROUP BY doc_id
"""

_ORACLE_DEDUP_SIMHASH = f"""
WITH {_AUG}, {_NORM_AUG},
exw AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS w FROM nd),
hh AS (SELECT doc_id, CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) AS h FROM exw),
votes AS (
  SELECT doc_id,
         {_sh_votes}
  FROM hh GROUP BY doc_id
),
sim AS (SELECT doc_id, CAST({_sh_value} AS BIGINT) AS simhash FROM votes),
bands AS (
  {_sh_bands}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 6
"""

_ORACLE_DEDUP_NGRAM = f"""
WITH {_AUG}, {_NORM_AUG}, {_SHINGLED},
sets AS (
  SELECT doc_id, lang,
         list_distinct(list_transform(shingles,
           s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT))) AS ds
  FROM shingled
),
ex AS (
  SELECT lang, doc_id, CAST(len(ds) AS BIGINT) AS sz, unnest(ds) AS h FROM sets
),
hits AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sz AS sza, b.sz AS szb,
         COUNT(*) AS inter_size
  FROM ex a JOIN ex b ON a.lang = b.lang AND a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT doc_a, doc_b, CAST(inter_size AS BIGINT) AS inter_size,
       sza + szb - inter_size AS union_size
FROM hits WHERE inter_size * 10 >= (sza + szb - inter_size) * 3
"""

_ORACLE_SCRUB_PII = f"""
WITH pii AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN text || '{PII_SUFFIX}' ELSE text END AS text
  FROM documents
),
nd AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm FROM pii
),
nm AS (
  SELECT doc_id, norm,
         regexp_replace(norm, '{txt.EMAIL_RE}', '<email>', 'g') AS nomail
  FROM nd
)
SELECT doc_id,
       CAST(len(regexp_extract_all(norm, '{txt.EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(nomail, '{txt.LONG_NUMBER_RE}')) AS BIGINT) AS n_long_numbers,
       md5(regexp_replace(nomail, '{txt.LONG_NUMBER_RE}', '<number>', 'g')) AS scrub_hash
FROM nm
"""

_ORACLE_DECONTAMINATE = f"""
WITH {_AUG},
sha AS ({_SHINGLE5.format(src="aug")}),
she AS ({_SHINGLE5.format(src="documents WHERE doc_id % 10 = 0")}),
ev AS (SELECT DISTINCT unnest(ds) AS h FROM she),
tr AS (SELECT doc_id, unnest(ds) AS h FROM sha)
SELECT tr.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_shingles
FROM tr JOIN ev ON tr.h = ev.h
GROUP BY 1
"""

_ORACLE_REPETITION = f"""
WITH {_NORM_RAW},
bg AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(ws), 2)),
                        i -> concat_ws(' ', ws[i], ws[i+1])) AS b
  FROM (SELECT doc_id, string_split(norm, ' ') AS ws FROM nd)
)
SELECT doc_id,
       CAST(len(b) AS BIGINT) AS n_bigrams,
       CAST(len(list_distinct(b)) AS BIGINT) AS n_distinct_bigrams,
       (len(b) - len(list_distinct(b))) * 5 >= len(b) AS is_repetitive
FROM bg
"""

_ORACLE_PACK = f"""
WITH nd AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm FROM documents
),
st AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(norm, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_tokens
  FROM nd
),
c AS (
  SELECT doc_id, n_tokens,
         COALESCE(SUM(greatest(n_tokens, 1)) OVER
                  (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
  FROM st
),
s AS (SELECT doc_id, n_tokens, CAST(FLOOR(cumb / 512) AS BIGINT) AS s_id FROM c)
SELECT doc_id, n_tokens,
       CAST(s_id * 513 + FLOOR((ROW_NUMBER() OVER (PARTITION BY s_id ORDER BY doc_id) - 1) / 8) AS BIGINT) AS pack_id
FROM s
"""

_ORACLE_CORPUS_STATS = f"""
WITH {_NORM_RAW},
st AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(norm, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_tokens,
         CAST(len(ws) AS BIGINT) AS n_words,
         (len(ws) >= 5 AND len(list_distinct(ws)) * 10 >= len(ws) * 3) AS is_quality,
         ws
  FROM (SELECT doc_id, norm, string_split(norm, ' ') AS ws FROM nd)
),
scores AS (
  SELECT doc_id,
       {_lang_score_cols}
  FROM (SELECT doc_id, list_distinct(string_split(norm, ' ')) AS dws FROM nd)
),
best AS (SELECT *, GREATEST(s_de, s_en, s_es, s_fr, s_zh) AS mx FROM scores),
langg AS (SELECT doc_id, CASE {_lang_case} ELSE 'zh' END AS lang_guess FROM best),
vocab AS (
  SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS vocab_size
  FROM (SELECT unnest(string_split(norm, ' ')) AS w FROM nd)
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(st.n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(st.n_words) AS BIGINT) AS total_words,
       CAST(SUM(CASE WHEN st.is_quality THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
       CAST(SUM(CASE WHEN l.lang_guess = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
       ANY_VALUE(v.vocab_size) AS vocab_size
FROM st JOIN langg l USING (doc_id) CROSS JOIN vocab v
"""

_ORACLE_QUALITY_GATE = f"""
WITH pii AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN text || '{PII_SUFFIX}' ELSE text END AS text
  FROM documents
),
nd AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm FROM pii
),
st AS (
  SELECT doc_id,
         (len(ws) >= 5 AND len(list_distinct(ws)) * 10 >= len(ws) * 3) AS is_quality,
         (len(bg) - len(list_distinct(bg))) * 5 >= len(bg) AS is_repetitive
  FROM (
    SELECT doc_id, ws,
           list_transform(range(1, greatest(len(ws), 2)),
                          i -> concat_ws(' ', ws[i], ws[i+1])) AS bg
    FROM (SELECT doc_id, string_split(norm, ' ') AS ws FROM nd)
  )
),
scores AS (
  SELECT doc_id,
       {_lang_score_cols}
  FROM (SELECT doc_id, list_distinct(string_split(norm, ' ')) AS dws FROM nd)
),
best AS (SELECT *, GREATEST(s_de, s_en, s_es, s_fr, s_zh) AS mx FROM scores),
langg AS (SELECT doc_id, CASE {_lang_case} ELSE 'zh' END AS lang_guess FROM best),
pi AS (
  SELECT doc_id,
         len(regexp_extract_all(norm, '{txt.EMAIL_RE}'))
         + len(regexp_extract_all(
             regexp_replace(norm, '{txt.EMAIL_RE}', '<email>', 'g'),
             '{txt.LONG_NUMBER_RE}')) AS n_pii
  FROM nd
),
r AS (
  SELECT st.doc_id,
         concat_ws(',',
           CASE WHEN NOT st.is_quality THEN 'low_quality' END,
           CASE WHEN st.is_repetitive THEN 'repetitive' END,
           CASE WHEN l.lang_guess <> 'en' THEN 'lang' END,
           CASE WHEN p.n_pii > 0 THEN 'pii' END) AS reasons
  FROM st JOIN langg l USING (doc_id) JOIN pi p USING (doc_id)
)
SELECT doc_id, reasons, reasons = '' AS passes FROM r
"""

# __spark_entry__.q_stream_quality_gate: the L6b gate aggregated to
# the bounded (reasons, n_docs) counter grain — SAME gate text, so
# the streaming path is held to the batch verdicts
_ORACLE_STREAM_QUALITY_GATE = f"""
WITH g AS ({_ORACLE_QUALITY_GATE})
SELECT reasons, CAST(COUNT(*) AS BIGINT) AS n_docs FROM g GROUP BY 1
"""

# L340 dataset card: per-source datasheet — one fused scan's fields
# (stats/lang/pii) + the corpus-wide exact-dup window on md5(norm)
_ORACLE_DATASET_CARD = f"""
WITH nd AS (
  SELECT doc_id, source,
         regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
  FROM documents
),
st AS (
  SELECT doc_id, source, norm, string_split(norm, ' ') AS ws,
         regexp_replace(norm, '{txt.EMAIL_RE}', '<email>', 'g') AS nomail
  FROM nd
),
base AS (
  SELECT doc_id, source,
         CAST(len(ws) AS BIGINT) AS nw,
         (len(ws) >= 5 AND len(list_distinct(ws)) * 10 >= len(ws) * 3) AS is_q,
         list_distinct(ws) AS dws,
         (len(regexp_extract_all(norm, '{txt.EMAIL_RE}'))
          + len(regexp_extract_all(nomail, '{txt.LONG_NUMBER_RE}'))) > 0 AS has_pii,
         md5(norm) AS h
  FROM st
),
scores AS (
  SELECT doc_id,
       {_lang_score_cols}
  FROM base
),
best AS (SELECT *, GREATEST(s_de, s_en, s_es, s_fr, s_zh) AS mx FROM scores),
langg AS (SELECT doc_id, CASE {_lang_case} ELSE 'zh' END AS lang_guess FROM best),
dupd AS (
  SELECT doc_id, COUNT(*) OVER (PARTITION BY h) >= 2 AS is_dup FROM base
),
agg AS (
  SELECT b.source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(b.nw) AS BIGINT) AS total_words,
         CAST(SUM(CASE WHEN b.is_q THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
         CAST(SUM(CASE WHEN l.lang_guess = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
         CAST(SUM(CASE WHEN b.has_pii THEN 1 ELSE 0 END) AS BIGINT) AS n_pii_docs,
         CAST(SUM(CASE WHEN d.is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup
  FROM base b JOIN langg l USING (doc_id) JOIN dupd d USING (doc_id)
  GROUP BY 1
)
SELECT source, n_docs, total_words,
       CAST((2 * total_words * 1048576 + n_docs) // (2 * n_docs) AS BIGINT)
         AS mean_words_q20,
       n_quality, n_en, n_pii_docs, n_exact_dup
FROM agg
"""

# L336 zone-map skipping audit: 32-file min/max pruning replay under
# the scattered (md5%32) and date-ranged (equal-width shipdate)
# layouts, probed by every month in the data
_ORACLE_ZONE_MAP_SKIPPING = """
WITH li AS (
  SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS d FROM lineitem
),
b AS (SELECT MIN(d) AS mn, MAX(d) AS mx FROM li),
keyed AS (
  SELECT d,
         CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '|'
              || CAST(l_linenumber AS VARCHAR)), 1, 15) AS BIGINT) % 32 AS bs,
         (date_diff('day', b.mn, d) * 32) // (date_diff('day', b.mn, b.mx) + 1) AS bc
  FROM li, b
),
lng AS (
  SELECT d, 'scattered' AS layout, bs AS bucket FROM keyed
  UNION ALL
  SELECT d, 'date_ranged', bc FROM keyed
),
zone AS (
  SELECT layout, bucket, MIN(d) AS zmn, MAX(d) AS zmx,
         CAST(COUNT(*) AS BIGINT) AS zrows
  FROM lng GROUP BY 1, 2
),
mrows AS (
  SELECT CAST(date_trunc('month', d) AS DATE) AS probe_month,
         CAST(COUNT(*) AS BIGINT) AS rows_matching
  FROM li GROUP BY 1
),
pr AS (
  SELECT z.layout, m.probe_month, m.rows_matching,
         CAST(COUNT(*) AS BIGINT) AS n_buckets,
         CAST(SUM(CASE WHEN z.zmn <= last_day(m.probe_month)
                        AND z.zmx >= m.probe_month THEN 1 ELSE 0 END) AS BIGINT)
           AS buckets_scanned,
         CAST(SUM(CASE WHEN z.zmn <= last_day(m.probe_month)
                        AND z.zmx >= m.probe_month THEN z.zrows ELSE 0 END) AS BIGINT)
           AS rows_scanned
  FROM zone z CROSS JOIN mrows m
  GROUP BY 1, 2, 3
)
SELECT layout, strftime(probe_month, '%Y-%m-%d') AS probe_month,
       n_buckets, buckets_scanned, rows_scanned, rows_matching,
       CAST((2 * (n_buckets - buckets_scanned) * 1048576 + n_buckets)
            // (2 * n_buckets) AS BIGINT) AS skip_q20
FROM pr
"""

# L335 gate ablation: flags re-derived FROM the gate's own reasons
# string (textual parity with the L6b verdicts by construction) plus
# the per-doc word count on the same PII-augmented text; 4 rule rows
# via UNION ALL of the marginal aggregates
_ORACLE_GATE_ABLATION = f"""
WITH g AS ({_ORACLE_QUALITY_GATE}),
wds AS (
  SELECT doc_id,
         CAST(len(string_split(regexp_replace(lower(trim(
           CASE WHEN doc_id % 7 = 0 THEN text || '{PII_SUFFIX}' ELSE text END
         )), '\\s+', ' ', 'g'), ' ')) AS BIGINT) AS n_words
  FROM documents
),
fl AS (
  SELECT g.doc_id,
         list_contains(string_split(g.reasons, ','), 'low_quality') AS f_q,
         list_contains(string_split(g.reasons, ','), 'repetitive') AS f_r,
         list_contains(string_split(g.reasons, ','), 'lang') AS f_l,
         list_contains(string_split(g.reasons, ','), 'pii') AS f_p,
         CASE WHEN g.reasons = '' THEN 0
              ELSE len(string_split(g.reasons, ',')) END AS nfail,
         w.n_words
  FROM g JOIN wds w USING (doc_id)
)
SELECT 'low_quality' AS rule,
       CAST(SUM(CASE WHEN f_q THEN 1 ELSE 0 END) AS BIGINT) AS n_failing,
       CAST(SUM(CASE WHEN f_q AND nfail = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_sole,
       CAST(SUM(CASE WHEN f_q AND nfail = 1 THEN n_words ELSE 0 END) AS BIGINT) AS words_sole
FROM fl
UNION ALL
SELECT 'repetitive',
       CAST(SUM(CASE WHEN f_r THEN 1 ELSE 0 END) AS BIGINT),
       CAST(SUM(CASE WHEN f_r AND nfail = 1 THEN 1 ELSE 0 END) AS BIGINT),
       CAST(SUM(CASE WHEN f_r AND nfail = 1 THEN n_words ELSE 0 END) AS BIGINT)
FROM fl
UNION ALL
SELECT 'lang',
       CAST(SUM(CASE WHEN f_l THEN 1 ELSE 0 END) AS BIGINT),
       CAST(SUM(CASE WHEN f_l AND nfail = 1 THEN 1 ELSE 0 END) AS BIGINT),
       CAST(SUM(CASE WHEN f_l AND nfail = 1 THEN n_words ELSE 0 END) AS BIGINT)
FROM fl
UNION ALL
SELECT 'pii',
       CAST(SUM(CASE WHEN f_p THEN 1 ELSE 0 END) AS BIGINT),
       CAST(SUM(CASE WHEN f_p AND nfail = 1 THEN 1 ELSE 0 END) AS BIGINT),
       CAST(SUM(CASE WHEN f_p AND nfail = 1 THEN n_words ELSE 0 END) AS BIGINT)
FROM fl
"""

_ORACLE_SAMPLE = f"""
SELECT doc_id, lang
FROM documents
WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|sample'), 1, 15) AS BIGINT) % 100
      < (CASE {_sample_case} ELSE 0 END)
"""

_ORACLE_CURATE = f"""
WITH RECURSIVE {_AUG}, {_NORM_AUG},
stq AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(norm, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_tokens
  FROM (SELECT doc_id, norm, string_split(norm, ' ') AS ws FROM nd)
  WHERE len(ws) >= 5 AND len(list_distinct(ws)) * 10 >= len(ws) * 3
),
scores AS (
  SELECT doc_id,
       {_lang_score_cols}
  FROM (SELECT doc_id, list_distinct(string_split(norm, ' ')) AS dws FROM nd)
),
best AS (
  SELECT *, GREATEST(s_de, s_en, s_es, s_fr, s_zh) AS mx FROM scores
),
langg AS (
  SELECT doc_id, CASE {_lang_case} ELSE 'zh' END AS lang_guess FROM best
),
elig AS (
  SELECT nd.doc_id, nd.norm, l.lang_guess, s.n_tokens
  FROM nd JOIN stq s USING (doc_id) JOIN langg l USING (doc_id)
  WHERE l.lang_guess = 'en'
),
keep AS (SELECT MIN(doc_id) AS doc_id FROM elig GROUP BY md5(norm)),
surv1 AS (SELECT e.* FROM elig e JOIN keep USING (doc_id)),
shingled AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(ws) - 1, 2)),
                        i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2])) AS shingles
  FROM (SELECT doc_id, string_split(norm, ' ') AS ws FROM surv1)
),
{_MINHASH_CTES},
pairs AS (SELECT doc_a, doc_b FROM scored WHERE inter_size * 2 >= union_size * 1),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
walk(doc_id, cluster_id) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, w.cluster_id
  FROM walk w JOIN edges e ON e.dst = w.doc_id
),
losers AS (
  SELECT doc_id FROM (SELECT doc_id, MIN(cluster_id) AS c FROM walk GROUP BY doc_id)
  WHERE doc_id <> c
)
SELECT s.doc_id, s.lang_guess, s.n_tokens,
       CASE WHEN CAST('0x' || substr(md5(CAST(s.doc_id AS VARCHAR) || '|split'), 1, 15) AS BIGINT) % 100 < 90 THEN 'train'
            WHEN CAST('0x' || substr(md5(CAST(s.doc_id AS VARCHAR) || '|split'), 1, 15) AS BIGINT) % 100 < 95 THEN 'val'
            ELSE 'test' END AS split
FROM surv1 s LEFT JOIN losers l USING (doc_id)
WHERE l.doc_id IS NULL
"""

# L96 sketch-gated curation: quality -> lang -> per-lang p10..p90
# log-histogram bucket gate on n_tokens -> exact dedup -> split.
# The bucket expression mirrors operators/quantiles.py
# log_bucket_lower(sub_bits=2): keep the top 3 bits of the value
# (n_tokens >= 5 under the quality gate, so the x=0 branch is moot).
_ORACLE_CURATE_SKETCH = f"""
WITH {_NORM_RAW},
stq AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(norm, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_tokens
  FROM (SELECT doc_id, norm, string_split(norm, ' ') AS ws FROM nd)
  WHERE len(ws) >= 5 AND len(list_distinct(ws)) * 10 >= len(ws) * 3
),
scores AS (
  SELECT doc_id,
       {_lang_score_cols}
  FROM (SELECT doc_id, list_distinct(string_split(norm, ' ')) AS dws FROM nd)
),
best AS (SELECT *, GREATEST(s_de, s_en, s_es, s_fr, s_zh) AS mx FROM scores),
langg AS (SELECT doc_id, CASE {_lang_case} ELSE 'zh' END AS lang_guess FROM best),
base AS (
  SELECT s.doc_id, l.lang_guess, s.n_tokens
  FROM stq s JOIN langg l USING (doc_id)
),
bk AS (
  SELECT doc_id, lang_guess, n_tokens,
         CAST((n_tokens >> g) << g AS BIGINT) AS bucket_lb
  FROM (SELECT *,
               CASE WHEN length(printf('%b', n_tokens)) - 3 > 0
                    THEN length(printf('%b', n_tokens)) - 3 ELSE 0 END AS g
        FROM base)
),
h AS (SELECT lang_guess, bucket_lb, CAST(COUNT(*) AS BIGINT) AS c FROM bk GROUP BY 1, 2),
cdf AS (
  SELECT lang_guess, bucket_lb,
         CAST(SUM(c) OVER (PARTITION BY lang_guess ORDER BY bucket_lb) AS BIGINT) AS cum,
         CAST(SUM(c) OVER (PARTITION BY lang_guess) AS BIGINT) AS n
  FROM h
),
bounds AS (
  SELECT lang_guess,
         MIN(CASE WHEN cum * 10 >= n * 1 THEN bucket_lb END) AS lo_lb,
         MIN(CASE WHEN cum * 10 >= n * 9 THEN bucket_lb END) AS hi_lb
  FROM cdf GROUP BY 1
),
gated AS (
  SELECT bk.doc_id, bk.lang_guess, bk.n_tokens
  FROM bk JOIN bounds USING (lang_guess)
  WHERE bucket_lb >= lo_lb AND bucket_lb <= hi_lb
),
keep AS (
  SELECT MIN(g.doc_id) AS doc_id
  FROM gated g JOIN nd ON g.doc_id = nd.doc_id
  GROUP BY md5(nd.norm)
)
SELECT g.doc_id, g.lang_guess, g.n_tokens,
       CASE WHEN CAST('0x' || substr(md5(CAST(g.doc_id AS VARCHAR) || '|split'), 1, 15) AS BIGINT) % 100 < 90 THEN 'train'
            WHEN CAST('0x' || substr(md5(CAST(g.doc_id AS VARCHAR) || '|split'), 1, 15) AS BIGINT) % 100 < 95 THEN 'val'
            ELSE 'test' END AS split
FROM gated g JOIN keep k ON g.doc_id = k.doc_id
"""

_ORACLE_ANN_TOPK = f"""
WITH {_E_NORMED},
q AS (SELECT vec_id AS query_id, v AS qv, vn AS qn FROM e WHERE vec_id % 50 = 7),
scored AS (
  SELECT q.query_id, e.vec_id,
         list_dot_product(q.qv, e.v) / (q.qn * e.vn) AS cos
  FROM e, q
)
SELECT query_id,
       CAST(ROW_NUMBER() OVER w AS BIGINT) AS rnk,
       vec_id,
       CAST(FLOOR(cos * 1048576.0 + 0.5) AS BIGINT) AS cos_q20
FROM scored
WINDOW w AS (PARTITION BY query_id ORDER BY cos DESC, vec_id)
QUALIFY ROW_NUMBER() OVER w <= 10
"""

# L110 Reciprocal Rank Fusion of the cosine and raw-dot rankings
# (mirrors llm/similarity.py hybrid_rrf_topk: integer-rank rationals,
# fixed term order, q20 emit)
_ORACLE_HYBRID_RRF = f"""
WITH {_E_NORMED},
q AS (SELECT vec_id AS query_id, v AS qv, vn AS qn FROM e WHERE vec_id % 50 = 7),
scored AS (
  SELECT q.query_id, e.vec_id,
         list_dot_product(q.qv, e.v) AS d,
         list_dot_product(q.qv, e.v) / (q.qn * e.vn) AS cos
  FROM e, q
),
rk AS (
  SELECT query_id, vec_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rc,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d DESC, vec_id ASC) AS rd
  FROM scored
),
sc AS (
  SELECT query_id, vec_id,
         (CASE WHEN rc <= 20 THEN 1.0 / (60.0 + rc) ELSE 0.0 END)
         + (CASE WHEN rd <= 20 THEN 1.0 / (60.0 + rd) ELSE 0.0 END) AS s
  FROM rk WHERE rc <= 20 OR rd <= 20
)
SELECT query_id,
       CAST(ROW_NUMBER() OVER w AS BIGINT) AS rnk,
       vec_id,
       CAST(FLOOR(s * 1048576.0 + 0.5) AS BIGINT) AS rrf_q20
FROM sc
WINDOW w AS (PARTITION BY query_id ORDER BY s DESC, vec_id ASC)
QUALIFY ROW_NUMBER() OVER w <= 10
"""

_ORACLE_ANN_IVF = f"""
WITH {_E_NORMED},
q AS (SELECT vec_id AS query_id, v AS qv, vn AS qn FROM e WHERE vec_id % 50 = 7 AND vn > 0),
cents AS (SELECT vec_id AS centroid_id, v AS cv, vn AS cn FROM e WHERE vec_id < 8 AND vn > 0),
ascored AS (
  SELECT e.vec_id, e.v, e.vn, c.centroid_id,
         list_dot_product(e.v, c.cv) / (e.vn * c.cn) AS cs
  FROM e, cents c WHERE e.vn > 0
),
assign AS (
  SELECT vec_id, v, vn, centroid_id AS cluster FROM ascored
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cs DESC, centroid_id) = 1
),
qscored AS (
  SELECT q.query_id, q.qv, q.qn, c.centroid_id,
         list_dot_product(q.qv, c.cv) / (q.qn * c.cn) AS cs
  FROM q, cents c
),
probes AS (
  SELECT query_id, qv, qn, centroid_id AS cluster FROM qscored
  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cs DESC, centroid_id) <= 2
),
cand AS (
  SELECT p.query_id, a.vec_id,
         list_dot_product(p.qv, a.v) / (p.qn * a.vn) AS cos
  FROM probes p JOIN assign a ON p.cluster = a.cluster
)
SELECT query_id,
       CAST(ROW_NUMBER() OVER w AS BIGINT) AS rnk,
       vec_id,
       CAST(FLOOR(cos * 1048576.0 + 0.5) AS BIGINT) AS cos_q20
FROM cand
WINDOW w AS (PARTITION BY query_id ORDER BY cos DESC, vec_id)
QUALIFY ROW_NUMBER() OVER w <= 5
"""

def _kmeans_ctes(k: int = 8, n_iter: int = 2, dim: int = 64) -> str:
    """Unrolled Lloyd iterations as CTE layers (kqv -> kc0 -> ka_i ->
    ks_i -> kc_i). All integer math over q20 unit vectors, so every
    layer is bit-identical to the Spark loop in
    llm/similarity.py kmeans_centroids."""
    parts = [
        # WHERE vn > 0 mirrors quantized_unit_vectors' zero-vector drop
        "kqv AS (SELECT vec_id, list_transform(v, x -> "
        "CAST(floor(x / vn * 1048576.0 + 0.5) AS BIGINT)) AS qv FROM e WHERE vn > 0)",
        f"kseeds AS (SELECT vec_id, qv, md5(CAST(vec_id AS VARCHAR)) AS m "
        f"FROM kqv ORDER BY m, vec_id LIMIT {k})",
        "kc0 AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY m, vec_id) - 1 AS BIGINT) "
        "AS cluster, qv AS cq FROM kseeds)",
    ]
    for i in range(1, n_iter + 1):
        parts.append(f"""ka{i} AS (
  SELECT vec_id, qv, cluster FROM (
    SELECT t.vec_id, t.qv, c.cluster,
           CAST(list_dot_product(t.qv::DOUBLE[], t.qv::DOUBLE[])
                - 2.0 * list_dot_product(t.qv::DOUBLE[], c.cq::DOUBLE[])
                + list_dot_product(c.cq::DOUBLE[], c.cq::DOUBLE[]) AS BIGINT) AS d
    FROM kqv t CROSS JOIN kc{i - 1} c)
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cluster) = 1
)""")
        parts.append(
            f"kx{i} AS (SELECT cluster, p.pos, qv[p.pos + 1] AS comp FROM ka{i} "
            f"CROSS JOIN (SELECT unnest(range(0, {dim})) AS pos) p)"
        )
        parts.append(
            f"ks{i} AS (SELECT cluster, CAST(pos AS BIGINT) AS pos, "
            f"CAST(floor(CAST(SUM(comp) AS DOUBLE) / COUNT(*)) AS BIGINT) AS comp "
            f"FROM kx{i} GROUP BY 1, 2)"
        )
        parts.append(
            f"kc{i} AS (SELECT cluster, list(comp ORDER BY pos) AS cq FROM ks{i} GROUP BY 1)"
        )
    return ",\n".join(parts)

_ORACLE_ANN_KMEANS = f"""
WITH {_E_NORMED},
{_kmeans_ctes()}
SELECT cluster, pos, comp FROM ks2
"""

_ORACLE_ANN_IVF_KMEANS = f"""
WITH {_E_NORMED},
{_kmeans_ctes()},
cents AS (
  SELECT cluster AS centroid_id, cq::DOUBLE[] AS cv,
         sqrt(list_dot_product(cq::DOUBLE[], cq::DOUBLE[])) AS cn
  FROM kc2 WHERE list_dot_product(cq::DOUBLE[], cq::DOUBLE[]) > 0
),
q AS (SELECT vec_id AS query_id, v AS qv0, vn AS qn FROM e WHERE vec_id % 50 = 7 AND vn > 0),
ascored AS (
  SELECT e.vec_id, e.v, e.vn, c.centroid_id,
         list_dot_product(e.v, c.cv) / (e.vn * c.cn) AS cs
  FROM e, cents c WHERE e.vn > 0
),
assign AS (
  SELECT vec_id, v, vn, centroid_id AS cluster FROM ascored
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cs DESC, centroid_id) = 1
),
qscored AS (
  SELECT q.query_id, q.qv0, q.qn, c.centroid_id,
         list_dot_product(q.qv0, c.cv) / (q.qn * c.cn) AS cs
  FROM q, cents c
),
probes AS (
  SELECT query_id, qv0, qn, centroid_id AS cluster FROM qscored
  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cs DESC, centroid_id) <= 2
),
cand AS (
  SELECT p.query_id, a.vec_id,
         list_dot_product(p.qv0, a.v) / (p.qn * a.vn) AS cos
  FROM probes p JOIN assign a ON p.cluster = a.cluster
)
SELECT query_id,
       CAST(ROW_NUMBER() OVER w AS BIGINT) AS rnk,
       vec_id,
       CAST(FLOOR(cos * 1048576.0 + 0.5) AS BIGINT) AS cos_q20
FROM cand
WINDOW w AS (PARTITION BY query_id ORDER BY cos DESC, vec_id)
QUALIFY ROW_NUMBER() OVER w <= 5
"""

_ORACLE_ANN_LSH = f"""
WITH {_E_NORMED},
hp AS (
  SELECT CAST(j AS INTEGER) AS plane,
         list_transform(range(1, 65),
           d -> CAST('0x' || substr(md5(CAST(j AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 15) AS BIGINT)
                / CAST(576460752303423488 AS DOUBLE) - 1.0) AS h
  FROM range(0, 6) t(j)
),
sk AS (
  SELECT e.vec_id,
         SUM(CASE WHEN list_dot_product(e.v, hp.h) >= 0
                  THEN CAST(power(2.0, hp.plane) AS BIGINT) ELSE 0 END) AS bucket
  FROM e, hp
  GROUP BY e.vec_id
),
esk AS (SELECT e.vec_id, e.v, e.vn, sk.bucket FROM e JOIN sk ON e.vec_id = sk.vec_id),
qsk AS (
  SELECT vec_id AS query_id, v AS qv, vn AS qn, bucket
  FROM esk WHERE vec_id % 50 = 7
),
cand AS (
  SELECT q.query_id, c.vec_id,
         list_dot_product(q.qv, c.v) / (q.qn * c.vn) AS cos
  FROM qsk q JOIN esk c ON q.bucket = c.bucket
)
SELECT query_id,
       CAST(ROW_NUMBER() OVER w AS BIGINT) AS rnk,
       vec_id,
       CAST(FLOOR(cos * 1048576.0 + 0.5) AS BIGINT) AS cos_q20
FROM cand
WINDOW w AS (PARTITION BY query_id ORDER BY cos DESC, vec_id)
QUALIFY ROW_NUMBER() OVER w <= 5
"""

_ORACLE_ANN_LSH_MULTIPROBE = f"""
WITH {_E_NORMED},
hp AS (
  SELECT CAST(j AS INTEGER) AS plane,
         list_transform(range(1, 65),
           d -> CAST('0x' || substr(md5(CAST(j AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 15) AS BIGINT)
                / CAST(576460752303423488 AS DOUBLE) - 1.0) AS h
  FROM range(0, 6) t(j)
),
sk AS (
  SELECT e.vec_id,
         SUM(CASE WHEN list_dot_product(e.v, hp.h) >= 0
                  THEN CAST(power(2.0, hp.plane) AS BIGINT) ELSE 0 END) AS bucket
  FROM e, hp
  GROUP BY e.vec_id
),
esk AS (SELECT e.vec_id, e.v, e.vn, sk.bucket FROM e JOIN sk ON e.vec_id = sk.vec_id),
q AS (SELECT vec_id AS query_id, v AS qv0, vn AS qn FROM e WHERE vec_id % 50 = 7),
qd AS (
  SELECT q.query_id, hp.plane, list_dot_product(q.qv0, hp.h) AS d
  FROM q, hp
),
qb AS (
  SELECT query_id,
         SUM(CASE WHEN d >= 0 THEN CAST(power(2.0, plane) AS BIGINT) ELSE 0 END) AS bucket
  FROM qd GROUP BY 1
),
fl AS (
  SELECT query_id, plane FROM qd
  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY abs(d), plane) <= 2
),
pr AS (
  SELECT query_id, bucket FROM qb
  UNION
  SELECT f.query_id, xor(b.bucket, CAST(power(2.0, f.plane) AS BIGINT))
  FROM fl f JOIN qb b USING (query_id)
),
cand AS (
  SELECT q.query_id, c.vec_id,
         list_dot_product(q.qv0, c.v) / (q.qn * c.vn) AS cos
  FROM q JOIN pr ON q.query_id = pr.query_id
         JOIN esk c ON pr.bucket = c.bucket
)
SELECT query_id,
       CAST(ROW_NUMBER() OVER w AS BIGINT) AS rnk,
       vec_id,
       CAST(FLOOR(cos * 1048576.0 + 0.5) AS BIGINT) AS cos_q20
FROM cand
WINDOW w AS (PARTITION BY query_id ORDER BY cos DESC, vec_id)
QUALIFY ROW_NUMBER() OVER w <= 5
"""

# SemDeDup over the augmented embeddings: reuse the unrolled-Lloyd
# kmeans CTEs (seeded from the augmented set), assign with vn > 0,
# within-cluster q20-cosine prune, smaller vec_id wins.
_ORACLE_SEMDEDUP = f"""
WITH e0 AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 100000, list_transform(embedding::DOUBLE[], x -> x * 1.02)
  FROM embeddings WHERE vec_id % 25 = 0
),
e AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS vn FROM e0),
{_kmeans_ctes()},
cents AS (
  SELECT cluster AS centroid_id, cq::DOUBLE[] AS cv,
         sqrt(list_dot_product(cq::DOUBLE[], cq::DOUBLE[])) AS cn
  FROM kc2
),
ascored AS (
  SELECT e.vec_id, e.v, e.vn, c.centroid_id,
         list_dot_product(e.v, c.cv) / (e.vn * c.cn) AS cs
  FROM e, cents c WHERE e.vn > 0
),
assign AS (
  SELECT vec_id, v, vn, centroid_id AS cluster FROM ascored
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cs DESC, centroid_id) = 1
),
losers AS (
  SELECT DISTINCT b.vec_id
  FROM assign a JOIN assign b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE CAST(FLOOR(list_dot_product(a.v, b.v) / (a.vn * b.vn) * 1048576.0 + 0.5)
             AS BIGINT) >= 995000
)
SELECT s.vec_id, s.cluster FROM assign s
LEFT JOIN losers l ON s.vec_id = l.vec_id WHERE l.vec_id IS NULL
UNION ALL
SELECT vec_id, CAST(-1 AS BIGINT) AS cluster FROM e WHERE vn <= 0
"""

_ORACLE_KMV = """
WITH d AS (
  SELECT event_type AS channel_name,
         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
  FROM events GROUP BY 1, 2
),
kept AS (
  SELECT channel_name, h FROM d
  QUALIFY ROW_NUMBER() OVER (PARTITION BY channel_name ORDER BY h) <= 64
),
ex AS (
  SELECT event_type AS channel_name,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM events GROUP BY 1
)
SELECT k.channel_name, ANY_VALUE(ex.n_exact) AS n_exact,
       CAST(COUNT(*) AS BIGINT) AS n_seen, MAX(h) AS kth_min_hash
FROM kept k JOIN ex ON k.channel_name = ex.channel_name
GROUP BY k.channel_name
"""

_ORACLE_VOCAB = f"""
WITH {_NORM_RAW},
per_doc AS (
  SELECT doc_id, term, COUNT(*) AS m
  FROM (SELECT doc_id, unnest(string_split(norm, ' ')) AS term FROM nd)
  GROUP BY doc_id, term
),
agg AS (
  SELECT term, CAST(SUM(m) AS BIGINT) AS tf, CAST(COUNT(*) AS BIGINT) AS df
  FROM per_doc GROUP BY term
)
SELECT CAST(ROW_NUMBER() OVER w AS BIGINT) AS rnk, term, tf, df
FROM agg
WINDOW w AS (ORDER BY tf DESC, term)
QUALIFY ROW_NUMBER() OVER w <= 200
"""

_ORACLE_BIGRAM_PMI = f"""
WITH {_NORM_RAW},
base AS (
  SELECT string_split(norm, ' ') AS ws FROM nd
  WHERE len(string_split(norm, ' ')) >= 2
),
uni AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS n_u
  FROM (SELECT unnest(ws) AS term FROM base) GROUP BY term
),
bg AS (
  SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM (
    SELECT unnest(list_transform(range(1, len(ws)),
                                 i -> concat_ws(' ', ws[i], ws[i+1]))) AS bigram
    FROM base
  )
  GROUP BY bigram HAVING COUNT(*) >= 5
),
t AS (
  SELECT (SELECT CAST(SUM(n_u) AS BIGINT) FROM uni) AS t_u,
         (SELECT CAST(SUM(len(ws) - 1) AS BIGINT) FROM base) AS t_b
),
scored AS (
  SELECT b.bigram, b.n_ab, ua.n_u AS n_a, ub.n_u AS n_b,
         CAST(FLOOR((ln(CAST(b.n_ab AS DOUBLE)) - ln(CAST(t.t_b AS DOUBLE))
                     - ln(CAST(ua.n_u AS DOUBLE)) - ln(CAST(ub.n_u AS DOUBLE))
                     + 2.0 * ln(CAST(t.t_u AS DOUBLE))) * 1048576.0 + 0.5)
              AS BIGINT) AS pmi_q20
  FROM bg b
  JOIN uni ua ON ua.term = string_split(b.bigram, ' ')[1]
  JOIN uni ub ON ub.term = string_split(b.bigram, ' ')[2]
  CROSS JOIN t
)
SELECT CAST(ROW_NUMBER() OVER w AS BIGINT) AS rnk,
       bigram, n_ab, n_a, n_b, pmi_q20
FROM scored
WINDOW w AS (ORDER BY pmi_q20 DESC, bigram)
QUALIFY ROW_NUMBER() OVER w <= 50
"""

_ORACLE_CHUNK_DOCS = r"""
WITH w AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ws
  FROM documents
),
segs AS (
  SELECT doc_id, ws,
         unnest(range(0, GREATEST(1, CAST(CEIL((len(ws) - 8) / 24.0) AS BIGINT)))) AS seg_idx
  FROM w
)
SELECT doc_id, CAST(seg_idx AS BIGINT) AS seg_idx,
       CAST(seg_idx * 24 AS BIGINT) AS start_tok,
       CAST(len(ws[seg_idx*24+1 : seg_idx*24+32]) AS BIGINT) AS n_seg_tokens,
       array_to_string(ws[seg_idx*24+1 : seg_idx*24+32], ' ') AS seg_text
FROM segs
"""

_ORACLE_MIX_SAMPLE = r"""
WITH per_doc AS (
  SELECT doc_id, source,
         CAST(len(regexp_extract_all(norm, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_tokens,
         (len(ws) >= 5 AND len(list_distinct(ws)) * 10 >= len(ws) * 3) AS is_quality
  FROM (
    SELECT doc_id, source, norm, string_split(norm, ' ') AS ws
    FROM (SELECT doc_id, source,
                 regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
          FROM documents)
  )
),
ledger AS (
  SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS quality_tokens,
         CAST(LEAST(SUM(n_tokens), 800) AS BIGINT) AS capped_tokens
  FROM per_doc WHERE is_quality GROUP BY source
)
SELECT d.doc_id, d.source, d.n_tokens
FROM per_doc d JOIN ledger l ON d.source = l.source
WHERE d.is_quality
  AND CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || '|mix'), 1, 15) AS BIGINT)
      % l.quality_tokens < l.capped_tokens
"""

_ORACLE_LENGTH_PCT = """
WITH ranked AS (
  SELECT source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars) AS rn,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM documents
)
SELECT source, p, n_chars
FROM ranked CROSS JOIN (SELECT unnest([0.25, 0.5, 0.75]) AS p)
WHERE rn = CEIL(p * n)
"""

_ORACLE_SOURCE_MIX = """
WITH per_doc AS (
  SELECT source,
         CAST(len(regexp_extract_all(norm, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_tokens,
         (len(ws) >= 5 AND len(list_distinct(ws)) * 10 >= len(ws) * 3) AS is_quality
  FROM (
    SELECT source, norm, string_split(norm, ' ') AS ws
    FROM (SELECT source,
                 regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
          FROM documents)
  )
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN is_quality THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_docs,
       CAST(SUM(CASE WHEN is_quality THEN n_tokens ELSE 0 END) AS BIGINT) AS quality_tokens,
       CAST(LEAST(SUM(CASE WHEN is_quality THEN n_tokens ELSE 0 END), 50000) AS BIGINT) AS capped_tokens
FROM per_doc GROUP BY source
"""

# duplicate 8-gram coverage over the augmented documents; shingle ids
# are the engine-portable 60-bit md5 longs (llm/dedup.py shingle_hash)
_ORACLE_DUP_NGRAM = f"""
WITH {_AUG}, {_NORM_AUG},
sh8 AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(ws) - 6, 2)),
                        i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2], ws[i+3],
                                            ws[i+4], ws[i+5], ws[i+6], ws[i+7])) AS shingles
  FROM (SELECT doc_id, string_split(norm, ' ') AS ws FROM nd)
),
inst AS (
  SELECT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS sh,
         COUNT(*) AS m
  FROM (SELECT doc_id, unnest(shingles) AS s FROM sh8)
  GROUP BY doc_id, sh
),
dfx AS (SELECT sh, COUNT(*) AS n_docs FROM inst GROUP BY sh)
SELECT doc_id, CAST(SUM(m) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN n_docs >= 2 THEN m ELSE 0 END) AS BIGINT) AS n_dup
FROM inst JOIN dfx USING (sh) GROUP BY doc_id
"""

_ORACLE_EMB_NEARDUP = f"""
WITH eaug0 AS (
  SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings
  UNION ALL
  SELECT vec_id + 100000, list_transform(embedding::DOUBLE[], x -> x * 1.02), label
  FROM embeddings WHERE vec_id % 25 = 0
),
eaug AS (
  SELECT vec_id, v, label, sqrt(list_dot_product(v, v)) AS vn FROM eaug0
),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         list_dot_product(a.v, b.v) / (a.vn * b.vn) AS cos
  FROM eaug a JOIN eaug b ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, CAST(FLOOR(cos * 1048576.0 + 0.5) AS BIGINT) AS cos_q20
FROM pairs WHERE cos >= 0.9
"""

_ORACLE_MM_META = """
SELECT doc_id,
       CASE WHEN doc_id % 3 = 0 THEN 'image/png'
            WHEN doc_id % 3 = 1 THEN 'audio/wav'
            ELSE 'video/mp4' END AS media_type,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       sha256(text) AS sha256
FROM documents
"""

# document text is ASCII (verified: max codepoint 121), so SQL
# codepoints equal UTF-8 payload bytes and the Python stripe sums are
# reproducible exactly. stripe_len = ceil(n / 8) matches stripe_sums.
_ORACLE_MM_STRIPES = """
WITH media AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image/png'
              WHEN doc_id % 3 = 1 THEN 'audio/wav'
              ELSE 'video/mp4' END AS media_type,
         text, LENGTH(text) AS n
  FROM documents WHERE LENGTH(text) > 0
),
pos AS (
  SELECT doc_id, media_type, n, text,
         unnest(generate_series(1, n)) AS pos
  FROM media
)
SELECT doc_id, media_type,
       CAST((pos - 1) // CAST(ceil(n / 8.0) AS BIGINT) AS BIGINT) AS stripe,
       CAST(COUNT(*) AS BIGINT) AS n_stripe_bytes,
       CAST(SUM(unicode(substr(text, CAST(pos AS INT), 1))) AS BIGINT) AS sum_bytes
FROM pos GROUP BY 1, 2, 3
"""

# operators/experiments.py matched_lift: midpoint calendar split,
# per-user pre/post rollup, exact-cell match, sign-aware half-up q20
_ORACLE_MATCHED_LIFT = """
WITH span AS (
  SELECT MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1 FROM events
),
ev AS (
  SELECT user_id, event_type, value,
         datediff('day', (SELECT d0 FROM span), CAST(ts AS DATE)) * 2
           <= datediff('day', (SELECT d0 FROM span), (SELECT d1 FROM span)) AS pre
  FROM events
),
per_user AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN pre AND event_type <> 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS pre_sessions,
         CAST(MAX(CASE WHEN pre AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS pre_buyer,
         CAST(MAX(CASE WHEN NOT pre AND event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS treated,
         CAST(SUM(CASE WHEN NOT pre AND event_type = 'purchase'
                       THEN CAST(ROUND(value * 100, 0) AS BIGINT) ELSE 0 END) AS BIGINT) AS post_cents
  FROM ev GROUP BY 1
),
bucketed AS (
  SELECT CAST((pre_sessions >> g) << g AS BIGINT) AS cell_sessions_lb,
         pre_buyer, treated, post_cents
  FROM (SELECT *,
               CASE WHEN length(printf('%b', pre_sessions)) - 3 > 0
                    THEN length(printf('%b', pre_sessions)) - 3 ELSE 0 END AS g
        FROM per_user)
),
cells AS (
  SELECT cell_sessions_lb, pre_buyer,
         CAST(SUM(treated) AS BIGINT) AS n_treated,
         CAST(SUM(1 - treated) AS BIGINT) AS n_control,
         CAST(SUM(treated * post_cents) AS BIGINT) AS treated_cents,
         CAST(SUM((1 - treated) * post_cents) AS BIGINT) AS control_cents
  FROM bucketed GROUP BY 1, 2
)
SELECT cell_sessions_lb, pre_buyer, n_treated, n_control, treated_cents, control_cents,
       CASE WHEN n_treated > 0 AND n_control > 0 THEN
         CAST(CASE WHEN nm >= 0 THEN (2 * nm * 1048576 + dn) // (2 * dn)
                   ELSE -((2 * -nm * 1048576 + dn) // (2 * dn)) END AS BIGINT)
       END AS lift_cents_q20
FROM (
  SELECT *,
         CAST(treated_cents AS HUGEINT) * n_control - CAST(control_cents AS HUGEINT) * n_treated AS nm,
         CAST(n_treated AS HUGEINT) * n_control AS dn
  FROM cells
)
"""


# llm/multimodal.py waveform_stats: codepoint samples re-centered at
# 64, LAG window over the NONZERO sample sequence for zero crossings
_ORACLE_MM_WAVEFORM = """
WITH media AS (
  SELECT doc_id, text, LENGTH(text) AS n FROM documents WHERE LENGTH(text) > 0
),
pos AS (
  SELECT doc_id, n,
         unicode(substr(text, CAST(p AS INT), 1)) - 64 AS s,
         p
  FROM (SELECT doc_id, n, text, unnest(generate_series(1, n)) AS p FROM media)
),
amp AS (
  SELECT doc_id,
         CAST(MAX(n) AS BIGINT) AS n_samples,
         CAST(SUM(abs(s)) AS BIGINT) AS sum_abs,
         CAST(MAX(abs(s)) AS BIGINT) AS peak_abs
  FROM pos GROUP BY 1
),
nz AS (
  SELECT doc_id, s, LAG(s) OVER (PARTITION BY doc_id ORDER BY p) AS prev
  FROM pos WHERE s <> 0
),
zc AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN prev IS NOT NULL AND (s < 0) <> (prev < 0) THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
  FROM nz GROUP BY 1
)
SELECT a.doc_id, a.n_samples, a.sum_abs, a.peak_abs,
       COALESCE(z.zero_crossings, 0) AS zero_crossings
FROM amp a LEFT JOIN zc z USING (doc_id)
"""

# cross-document boilerplate-segment scrub over the augmented docs:
# fixed 8-word segments, removed when the exact segment text occurs in
# >= 2 distinct documents; the document is rebuilt from surviving
# segments in order and carried as (length, md5). string_agg skips the
# NULL (removed) branches exactly as Spark's collect_list does; the
# COALESCE('') matches Spark's array_join of an empty array.
_ORACLE_BOILERPLATE = f"""
WITH {_AUG}, {_NORM_AUG},
w AS (SELECT doc_id, string_split(norm, ' ') AS ws FROM nd),
seg0 AS (
  SELECT doc_id,
         list_transform(range(0, greatest((len(ws) + 7) // 8, 1)),
             i -> struct_pack(seg_idx := i,
                              seg_text := array_to_string(list_slice(ws, i*8+1, i*8+8), ' '))) AS segs
  FROM w
),
seg AS (SELECT doc_id, unnest(segs, recursive := true) FROM seg0),
dfx AS (SELECT seg_text, COUNT(DISTINCT doc_id) AS df FROM seg GROUP BY seg_text)
SELECT s.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_segments,
       CAST(SUM(CASE WHEN d.df < 2 THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
       CAST(length(COALESCE(string_agg(CASE WHEN d.df < 2 THEN s.seg_text END, ' ' ORDER BY s.seg_idx), '')) AS BIGINT) AS clean_n_chars,
       md5(COALESCE(string_agg(CASE WHEN d.df < 2 THEN s.seg_text END, ' ' ORDER BY s.seg_idx), '')) AS clean_fp
FROM seg s JOIN dfx d USING (seg_text)
GROUP BY s.doc_id
"""

# incremental-ingest exact dedup: batch = planted copies (>= 100000),
# corpus = originals; within-batch first-wins then corpus anti join
_ORACLE_DEDUP_INCREMENTAL = f"""
WITH {_AUG},
bh AS (
  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS content_hash
  FROM aug WHERE doc_id >= 100000
),
fw AS (SELECT content_hash, MIN(doc_id) AS doc_id FROM bh GROUP BY content_hash),
ch AS (
  SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS content_hash
  FROM aug WHERE doc_id < 100000
)
SELECT doc_id, content_hash FROM fw
WHERE content_hash NOT IN (SELECT content_hash FROM ch)
"""

# pure range-predicate join: DuckDB runs it natively (IEJoin); Spark
# runs the bucketed decomposition — results must agree exactly
_ORACLE_FLASH_WINDOWS = """
WITH w AS (
  SELECT event_id AS window_id, ts AS w_start, ts + INTERVAL 6 HOUR AS w_end
  FROM events WHERE event_type = 'purchase' AND value > 200
)
SELECT w.window_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users,
       CAST(SUM(CAST(ROUND(e.value * 100, 0) AS BIGINT)) AS BIGINT) AS value_cents
FROM w JOIN events e ON e.ts >= w.w_start AND e.ts < w.w_end
GROUP BY w.window_id
"""

# snapshot CDC diff: per-user profile as of 2024-01-20 vs end-of-data
_ORACLE_SNAPSHOT_DIFF = """
WITH oldp AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS value_cents
  FROM events WHERE CAST(ts AS DATE) < DATE '2024-01-20' GROUP BY user_id
),
newp AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS value_cents
  FROM events GROUP BY user_id
)
SELECT COALESCE(o.user_id, n.user_id) AS user_id,
       CASE WHEN o.user_id IS NULL THEN 'inserted'
            WHEN n.user_id IS NULL THEN 'deleted'
            WHEN o.n_events <> n.n_events OR o.value_cents <> n.value_cents THEN 'updated'
            ELSE 'unchanged' END AS change_type,
       COALESCE(o.n_events, -1) AS old_n_events,
       COALESCE(n.n_events, -1) AS new_n_events,
       COALESCE(o.value_cents, -1) AS old_value_cents,
       COALESCE(n.value_cents, -1) AS new_value_cents
FROM oldp o FULL JOIN newp n ON o.user_id = n.user_id
"""

# ordered 3-step funnel: each step's reach is a conditional MIN over
# events strictly after the previous step's time; stage 0 = has step
# events but never step 1. n_reached = cumulative users at >= stage.
_ORACLE_FUNNEL = """
WITH base AS (
  SELECT user_id, event_type AS et, ts FROM events
  WHERE event_type IN ('signup', 'view', 'click', 'purchase')
    AND CAST(ts AS DATE) < DATE '2024-01-04'
),
s0 AS (SELECT user_id, MIN(ts) AS t0 FROM base WHERE et = 'signup' GROUP BY user_id),
s1 AS (
  SELECT b.user_id, MIN(b.ts) AS t1
  FROM base b JOIN s0 ON b.user_id = s0.user_id
  WHERE b.et = 'view' AND b.ts > s0.t0 GROUP BY b.user_id
),
s2 AS (
  SELECT b.user_id, MIN(b.ts) AS t2
  FROM base b JOIN s1 ON b.user_id = s1.user_id
  WHERE b.et = 'click' AND b.ts > s1.t1 GROUP BY b.user_id
),
s3 AS (
  SELECT b.user_id, MIN(b.ts) AS t3
  FROM base b JOIN s2 ON b.user_id = s2.user_id
  WHERE b.et = 'purchase' AND b.ts > s2.t2 GROUP BY b.user_id
),
stages AS (
  SELECT user_id, CAST(0 AS BIGINT) AS stage FROM (SELECT DISTINCT user_id FROM base)
  UNION ALL SELECT user_id, CAST(1 AS BIGINT) FROM s0
  UNION ALL SELECT user_id, CAST(2 AS BIGINT) FROM s1
  UNION ALL SELECT user_id, CAST(3 AS BIGINT) FROM s2
  UNION ALL SELECT user_id, CAST(4 AS BIGINT) FROM s3
),
fs AS (SELECT user_id, MAX(stage) AS funnel_stage FROM stages GROUP BY user_id),
at AS (SELECT funnel_stage, CAST(COUNT(*) AS BIGINT) AS n_users FROM fs GROUP BY funnel_stage)
SELECT a.funnel_stage, a.n_users, CAST(SUM(b.n_users) AS BIGINT) AS n_reached
FROM at a JOIN at b ON b.funnel_stage >= a.funnel_stage
GROUP BY a.funnel_stage, a.n_users
"""

# cohort retention at day grain (one weekly cohort exists in the
# 30-day test window; days discriminate)
_ORACLE_COHORT = """
WITH firsts AS (
  SELECT user_id, CAST(date_trunc('day', MIN(ts)) AS DATE) AS cohort_period
  FROM events GROUP BY user_id
),
active AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS active_period FROM events
)
SELECT CAST(f.cohort_period AS VARCHAR) AS cohort_period,
       date_diff('day', f.cohort_period, a.active_period) // 1 AS period_offset,
       CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_active
FROM active a JOIN firsts f ON a.user_id = f.user_id
GROUP BY 1, 2
"""

# per-source top-3 by q20 lexical-diversity score, total ordering
_ORACLE_SOURCE_TOPK = """
WITH nd AS (
  SELECT source, doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
  FROM documents
),
sc AS (
  SELECT source, doc_id,
         (CAST(len(list_distinct(ws)) AS BIGINT) * 1048576) // CAST(len(ws) AS BIGINT) AS score_q20
  FROM (SELECT source, doc_id, string_split(norm, ' ') AS ws FROM nd)
)
SELECT source, CAST(ROW_NUMBER() OVER w AS BIGINT) AS rnk, doc_id, score_q20
FROM sc
WINDOW w AS (PARTITION BY source ORDER BY score_q20 DESC, doc_id)
QUALIFY ROW_NUMBER() OVER w <= 3
"""

# ingest-time near-dup search: the full-corpus LSH candidate set
# restricted to cross-set (corpus, batch) pairs is exactly the
# batch-vs-corpus band join (band collision is a per-pair property)
_ORACLE_NEARDUP_INCREMENTAL = f"""
WITH {_AUG}, {_NORM_AUG}, {_SHINGLED}, {_MINHASH_CTES}
SELECT doc_a, doc_b, inter_size, union_size
FROM scored
WHERE doc_a < 100000 AND doc_b >= 100000
  AND inter_size * 2 >= union_size * 1
"""

def _bpe_oracle_sql(n_merges: int = 8, encode: bool = False) -> str:
    """Unrolled-loop DuckDB twin of llm/tokenizer.py: per round, pair
    counts over the word histogram, argmax with (count DESC, pair ASC)
    total ordering, and greedy merge application via a ``list_reduce``
    string fold written as the exact accumulator program the Spark
    side runs in ``F.aggregate``. With ``encode=True`` the tail joins
    the final word -> token-length map back to the corpus
    (bpe_encode_counts) instead of emitting the merge table."""
    rounds = []
    for r in range(1, n_merges + 1):
        prev = f"s{r - 1}"
        rounds.append(f"""
p{r} AS (
  SELECT p[1] AS lhs, p[2] AS rhs, CAST(SUM(cnt) AS BIGINT) AS pair_count
  FROM (SELECT cnt,
               unnest(list_transform(range(1, len(syms)), i -> [syms[i], syms[i+1]])) AS p
        FROM {prev})
  GROUP BY 1, 2
),
b{r} AS (
  SELECT lhs, rhs, lhs || rhs AS merged, pair_count
  FROM p{r} ORDER BY pair_count DESC, lhs, rhs LIMIT 1
),
s{r} AS (
  SELECT w, cnt, string_split(list_reduce(syms, (acc, x) ->
    CASE WHEN x = b.rhs AND regexp_extract(acc, '([^ ]+)$') = b.lhs
         THEN CASE WHEN acc = b.lhs THEN b.merged
              ELSE left(acc, length(acc) - length(b.lhs)) || b.merged END
         ELSE acc || ' ' || x END), ' ') AS syms
  FROM {prev}, b{r} b
)""")
    if encode:
        tail = f"""
, final AS (SELECT w, CAST(len(syms) AS BIGINT) AS tl FROM s{n_merges}),
exd AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS w FROM nd)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(tl) AS BIGINT) AS n_bpe_tokens
FROM exd JOIN final USING (w) GROUP BY doc_id"""
    else:
        tail = "\n" + "\nUNION ALL\n".join(
            f"SELECT CAST({r} AS BIGINT) AS merge_rank, lhs, rhs, merged, pair_count FROM b{r}"
            for r in range(1, n_merges + 1)
        )
    head = r"""
WITH nd AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm FROM documents
),
wh AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(string_split(norm, ' ')) AS w FROM nd) GROUP BY w
),
s0 AS (
  SELECT w, cnt, list_transform(range(1, length(w) + 1), i -> w[i]) AS syms FROM wh
),"""
    return head + ",".join(rounds) + tail

_ORACLE_BPE = _bpe_oracle_sql(8)

_ORACLE_BPE_ENCODE = _bpe_oracle_sql(8, encode=True)

def _markov_removal_oracle_sql(horizon: int = 25) -> str:
    """Unrolled-SQL twin of operators/markov.py removal_effects: q20
    integer absorption probabilities under a fixed horizon, one
    scenario row per removed channel plus '(none)'. Integer arithmetic
    only (products then a single floor division per state per round),
    so the recurrence is bit-equal to the driver-side Python loop."""
    rounds = []
    for k in range(horizon):
        rounds.append(f"""
p{k + 1} AS MATERIALIZED (
  SELECT p.rm, p.s,
         CASE WHEN p.s = '(conversion)' THEN CAST(1048576 AS BIGINT)
              WHEN p.s = p.rm THEN CAST(0 AS BIGINT)
              ELSE COALESCE(agg.v, 0) END AS p
  FROM p{k} p
  LEFT JOIN (
    SELECT pk.rm, t.src AS s,
           CAST(SUM(t.n * CASE WHEN t.dst = pk.rm THEN 0 ELSE pk.p END)
                // MAX(tt.tot) AS BIGINT) AS v
    FROM p{k} pk
    JOIN t ON t.dst = pk.s
    JOIN tot tt ON tt.src = t.src
    GROUP BY pk.rm, t.src
  ) agg ON agg.rm = p.rm AND agg.s = p.s
)""")
    return f"""
WITH {_CONV}, {_SESS}, {_JOURNEYS},
ordered AS (
  SELECT conversion_id, channel_label,
         LAG(channel_label) OVER w AS prev,
         LEAD(channel_label) OVER w AS nxt
  FROM journeys
  WINDOW w AS (PARTITION BY conversion_id ORDER BY event_ts, session_id)
),
tr AS (
  SELECT COALESCE(prev, '(start)') AS src, channel_label AS dst FROM ordered
  UNION ALL
  SELECT channel_label AS src, '(conversion)' AS dst FROM ordered WHERE nxt IS NULL
),
t AS MATERIALIZED (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n FROM tr GROUP BY 1, 2),
tot AS MATERIALIZED (SELECT src, CAST(SUM(n) AS BIGINT) AS tot FROM t GROUP BY src),
scen AS (
  SELECT '(none)' AS rm
  UNION ALL SELECT DISTINCT src FROM t WHERE src <> '(start)'
),
states AS (SELECT src AS s FROM t UNION SELECT dst FROM t),
p0 AS MATERIALIZED (
  SELECT rm, s, CAST(CASE WHEN s = '(conversion)' THEN 1048576 ELSE 0 END AS BIGINT) AS p
  FROM scen, states
),{",".join(rounds)},
res AS (SELECT rm, p AS absorption_q20 FROM p{horizon} WHERE s = '(start)')
SELECT r.rm AS removed_channel, r.absorption_q20,
       CASE WHEN r.rm = '(none)' THEN CAST(0 AS BIGINT)
            ELSE f.a - r.absorption_q20 END AS removal_q20
FROM res r, (SELECT absorption_q20 AS a FROM res WHERE rm = '(none)') f
"""

_ORACLE_MARKOV_REMOVAL = _markov_removal_oracle_sql(25)


def _markov_path_length_oracle_sql(horizon: int = 25) -> str:
    """Unrolled-SQL twin of operators/markov.py expected_path_length:
    truncated-horizon expected steps in q20 integers, one e{k} CTE per
    round on the bounded transition matrix (the removal-effects oracle
    shape without the removal scenarios)."""
    rounds = []
    for k in range(horizon):
        rounds.append(f"""
e{k + 1} AS MATERIALIZED (
  SELECT st.s,
         CASE WHEN st.s = '(conversion)' THEN CAST(0 AS BIGINT)
              WHEN agg.v IS NULL AND tt.tot IS NULL THEN CAST(1048576 AS BIGINT)
              ELSE CAST(1048576 AS BIGINT) + COALESCE(agg.v, 0) END AS e
  FROM states st
  LEFT JOIN tot tt ON tt.src = st.s
  LEFT JOIN (
    SELECT t.src AS s, CAST(SUM(t.n * ek.e) // MAX(tt2.tot) AS BIGINT) AS v
    FROM e{k} ek
    JOIN t ON t.dst = ek.s
    JOIN tot tt2 ON tt2.src = t.src
    GROUP BY t.src
  ) agg ON agg.s = st.s
)""")
    return f"""
WITH {_CONV}, {_SESS}, {_JOURNEYS},
ordered AS (
  SELECT conversion_id, channel_label,
         LAG(channel_label) OVER w AS prev,
         LEAD(channel_label) OVER w AS nxt
  FROM journeys
  WINDOW w AS (PARTITION BY conversion_id ORDER BY event_ts, session_id)
),
tr AS (
  SELECT COALESCE(prev, '(start)') AS src, channel_label AS dst FROM ordered
  UNION ALL
  SELECT channel_label AS src, '(conversion)' AS dst FROM ordered WHERE nxt IS NULL
),
t AS MATERIALIZED (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n FROM tr GROUP BY 1, 2),
tot AS MATERIALIZED (SELECT src, CAST(SUM(n) AS BIGINT) AS tot FROM t GROUP BY src),
states AS (SELECT src AS s FROM t UNION SELECT dst FROM t),
e0 AS MATERIALIZED (SELECT s, CAST(0 AS BIGINT) AS e FROM states),{",".join(rounds)}
SELECT s AS state, e AS exp_steps_q20 FROM e{horizon} WHERE s <> '(conversion)'
"""


_ORACLE_MARKOV_PATH_LENGTH = _markov_path_length_oracle_sql(25)


# operators/markov.py budget_reallocation: the removal-effect oracle
# embedded as a subquery (WITH-in-subquery is legal DuckDB), joined to
# the exact-cents spend aggregate; sign-aware half-up shares with
# zero-total guards
_SHARE_SQL = (
    "CASE WHEN {tot} <= 0 THEN 0 ELSE"
    " CASE WHEN {col} >= 0 THEN"
    " (2 * CAST({col} AS HUGEINT) * 1048576 + {tot}) // (2 * CAST({tot} AS HUGEINT))"
    " ELSE -((2 * CAST(-{col} AS HUGEINT) * 1048576 + {tot}) // (2 * CAST({tot} AS HUGEINT))) END END"
)

_ORACLE_BUDGET_REALLOCATION = f"""
WITH rem AS (
  SELECT removed_channel AS channel, removal_q20
  FROM ({_ORACLE_MARKOV_REMOVAL}) WHERE removed_channel <> '(none)'
),
spend AS (
  SELECT event_type AS channel,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM events WHERE event_type <> 'purchase' GROUP BY 1
),
j AS (
  SELECT s.channel, s.cents, CAST(COALESCE(r.removal_q20, 0) AS BIGINT) AS removal_q20
  FROM spend s LEFT JOIN rem r USING (channel)
),
t AS (
  SELECT j.*, SUM(cents) OVER () AS tc, SUM(removal_q20) OVER () AS tr FROM j
)
SELECT channel, cents, removal_q20,
       CAST({_SHARE_SQL.format(col="cents", tot="tc")} AS BIGINT) AS spend_share_q20,
       CAST({_SHARE_SQL.format(col="removal_q20", tot="tr")} AS BIGINT) AS removal_share_q20,
       CAST(({_SHARE_SQL.format(col="removal_q20", tot="tr")})
            - ({_SHARE_SQL.format(col="cents", tot="tc")}) AS BIGINT) AS gap_q20
FROM t
"""


# operators/timeseries.py seasonal_decomposition: dense spine window
# sum (ROWS 3 PRECEDING..3 FOLLOWING), x7 residuals, full windows,
# sign-aware half-up q20
_ORACLE_SEASONAL_DECOMPOSITION = """
WITH daily AS (
  SELECT event_type AS channel, CAST(ts AS DATE) AS d,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM events WHERE event_type <> 'purchase' GROUP BY 1, 2
),
span AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM daily),
spine AS (
  SELECT c.channel, CAST(g.d AS DATE) AS d
  FROM (SELECT DISTINCT channel FROM daily) c
  CROSS JOIN span sp
  CROSS JOIN LATERAL (SELECT UNNEST(generate_series(sp.d0, sp.d1, INTERVAL 1 DAY)) AS d) g
),
dense AS (
  SELECT s.channel, s.d, COALESCE(dl.cents, 0) AS cents
  FROM spine s LEFT JOIN daily dl ON dl.channel = s.channel AND dl.d = s.d
),
win AS (
  SELECT channel, d, cents,
         SUM(cents) OVER w AS ma7sum,
         COUNT(*) OVER w AS wn
  FROM dense
  WINDOW w AS (PARTITION BY channel ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
full_w AS (
  SELECT channel,
         CAST(datediff('day', DATE '1970-01-05', d) % 7 AS BIGINT) AS dow,
         7 * cents - ma7sum AS detr
  FROM win WHERE wn = 7
),
per AS (
  SELECT channel, dow,
         CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(detr) AS BIGINT) AS sum_detr_x7
  FROM full_w GROUP BY 1, 2
)
SELECT channel, dow, n_days, sum_detr_x7,
       CAST(CASE WHEN sum_detr_x7 >= 0 THEN
              (2 * CAST(sum_detr_x7 AS HUGEINT) * 1048576 + 7 * n_days)
              // (2 * 7 * CAST(n_days AS HUGEINT))
            ELSE
              -((2 * CAST(-sum_detr_x7 AS HUGEINT) * 1048576 + 7 * n_days)
              // (2 * 7 * CAST(n_days AS HUGEINT)))
            END AS BIGINT) AS seasonal_q20
FROM per
"""


# operators/planning.py rank_stability: midpoint split, total-order
# ranks, exact-rational Spearman rho sign-aware half-up q20
_ORACLE_RANK_STABILITY = """
WITH span AS (
  SELECT MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1 FROM events
),
per AS (
  SELECT event_type AS channel,
         CAST(SUM(CASE WHEN datediff('day', (SELECT d0 FROM span), CAST(ts AS DATE)) * 2
                        <= datediff('day', (SELECT d0 FROM span), (SELECT d1 FROM span))
                       THEN CAST(ROUND(value * 100, 0) AS BIGINT) ELSE 0 END) AS BIGINT) AS cents_h1,
         CAST(SUM(CASE WHEN datediff('day', (SELECT d0 FROM span), CAST(ts AS DATE)) * 2
                        > datediff('day', (SELECT d0 FROM span), (SELECT d1 FROM span))
                       THEN CAST(ROUND(value * 100, 0) AS BIGINT) ELSE 0 END) AS BIGINT) AS cents_h2
  FROM events WHERE event_type <> 'purchase' GROUP BY 1
),
ranked AS (
  SELECT channel, cents_h1, cents_h2,
         CAST(ROW_NUMBER() OVER (ORDER BY cents_h1 DESC, channel ASC) AS BIGINT) AS rank_h1,
         CAST(ROW_NUMBER() OVER (ORDER BY cents_h2 DESC, channel ASC) AS BIGINT) AS rank_h2
  FROM per
),
d AS (
  SELECT *, CAST((rank_h1 - rank_h2) * (rank_h1 - rank_h2) AS BIGINT) AS d2 FROM ranked
),
t AS (
  SELECT d.*, COUNT(*) OVER () AS n, SUM(d2) OVER () AS sd2 FROM d
)
SELECT channel, cents_h1, cents_h2, rank_h1, rank_h2, d2,
       CASE WHEN n < 2 THEN NULL ELSE
         CAST(CASE WHEN nm >= 0 THEN (2 * nm * 1048576 + dn) // (2 * dn)
                   ELSE -((2 * -nm * 1048576 + dn) // (2 * dn)) END AS BIGINT)
       END AS rho_q20
FROM (
  SELECT *,
         CAST(n AS HUGEINT) * (n * n - 1) - 6 * CAST(sd2 AS HUGEINT) AS nm,
         CAST(n AS HUGEINT) * (n * n - 1) AS dn
  FROM t
)
"""


# llm/text.py surprisal_drift: the L6d whole-bit scorer per ingest half
_ORACLE_SURPRISAL_DRIFT = r"""
WITH ex AS (
  SELECT doc_id % 2 AS half,
         unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS term
  FROM documents
),
tf AS (SELECT term, COUNT(*) AS n_term FROM ex GROUP BY 1),
tot AS (SELECT SUM(n_term) AS n_total FROM tf),
scored AS (
  SELECT e.half,
         length(printf('%b', CAST((SELECT n_total FROM tot) // t.n_term AS BIGINT))) - 1 AS bits
  FROM ex e JOIN tf t USING (term)
),
per AS (
  SELECT CAST(half AS BIGINT) AS half,
         CAST(COUNT(*) AS BIGINT) AS n_scored_words,
         CAST(SUM(bits) AS BIGINT) AS total_bits
  FROM scored GROUP BY 1
)
SELECT half, n_scored_words, total_bits,
       CAST(CASE WHEN n_scored_words = 0 THEN 0
            ELSE (2 * CAST(total_bits AS HUGEINT) * 1048576 + n_scored_words)
                 // (2 * CAST(n_scored_words AS HUGEINT))
            END AS BIGINT) AS mean_bits_q20
FROM per
"""


# __spark_entry__.q_template_dup: the L266 template flag over the aug
# corpus joined to the near-dup cluster non-survivors (the ROI
# oracle's cluster CTEs + the template oracle's flag CTEs, verbatim)
_ORACLE_TEMPLATE_DUP = f"""
WITH RECURSIVE {_AUG}, {_NORM_AUG}, {_SHINGLED}, {_MINHASH_CTES},
pairs AS (
  SELECT doc_a, doc_b FROM scored WHERE inter_size * 2 >= union_size * 1
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
walk(doc_id, cluster_id) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, w.cluster_id FROM walk w JOIN edges e ON e.dst = w.doc_id
),
clus AS (SELECT doc_id, MIN(cluster_id) AS cluster_id FROM walk GROUP BY doc_id),
dups AS (SELECT doc_id FROM clus WHERE cluster_id <> doc_id),
p2 AS (
  SELECT DISTINCT doc_id, sh
  FROM (SELECT doc_id, unnest(shingles) AS sh FROM shingled)
),
dfx AS (SELECT sh, CAST(COUNT(*) AS BIGINT) AS df FROM p2 GROUP BY 1),
flags AS (
  SELECT p.doc_id,
         CASE WHEN SUM(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) * 5 >= 4 * COUNT(*)
              THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS is_template
  FROM p2 p JOIN dfx d USING (sh)
  GROUP BY 1
)
SELECT f.is_template,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(d.doc_id) AS BIGINT) AS n_dup_docs,
       CAST((2 * COUNT(d.doc_id) * 1048576 + COUNT(*)) // (2 * COUNT(*))
            AS BIGINT) AS dup_rate_q20
FROM flags f LEFT JOIN dups d ON f.doc_id = d.doc_id
GROUP BY 1
"""


# llm/text.py surprisal_mix: per-doc mean whole-bit surprisal band
# (total_bits // n_words) x source, share within source
_ORACLE_SURPRISAL_MIX = r"""
WITH ex AS (
  SELECT source, doc_id,
         unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS term
  FROM documents
),
tf AS (SELECT term, COUNT(*) AS n_term FROM ex GROUP BY 1),
tot AS (SELECT SUM(n_term) AS n_total FROM tf),
per_doc AS (
  SELECT e.source,
         CAST(SUM(length(printf('%b', CAST((SELECT n_total FROM tot) // t.n_term AS BIGINT))) - 1)
              // COUNT(*) AS BIGINT) AS band_bits
  FROM ex e JOIN tf t USING (term)
  GROUP BY e.source, e.doc_id
),
g AS (
  SELECT source, band_bits, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM per_doc GROUP BY 1, 2
)
SELECT source, band_bits, n_docs,
       CAST((2 * n_docs * 1048576 + SUM(n_docs) OVER (PARTITION BY source))
            // (2 * SUM(n_docs) OVER (PARTITION BY source)) AS BIGINT) AS share_q20
FROM g
"""


# llm/text.py oov_rate: top-1000 vocabulary under the (count DESC,
# term ASC) total order, per-source OOV rollup, half-up q20
_ORACLE_OOV_RATE = r"""
WITH ex AS (
  SELECT source,
         unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS term
  FROM documents
),
ex2 AS (SELECT source, term FROM ex WHERE term <> ''),
vocab AS (
  SELECT term FROM (
    SELECT term, COUNT(*) AS cnt FROM ex2 GROUP BY 1
  ) QUALIFY ROW_NUMBER() OVER (ORDER BY cnt DESC, term ASC) <= 1000
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       CAST((2 * SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) * 1048576 + COUNT(*))
            // (2 * COUNT(*)) AS BIGINT) AS oov_q20
FROM ex2 e LEFT JOIN vocab v USING (term)
GROUP BY 1
"""

def _pagerank_oracle_sql(iterations: int = 20) -> str:
    """Unrolled-SQL twin of operators/markov.py pagerank_channels: q20
    integer power method with per-term floors (one per inbound edge,
    one for the pooled dangling mass). Every pr_k is referenced twice
    per round (inbound sum + dangling sum) -> MATERIALIZED, per the
    CLAUDE.md exponential-CTE rule."""
    rounds = []
    for k in range(iterations):
        rounds.append(f"""
pr{k + 1} AS MATERIALIZED (
  SELECT nd.ch,
         CAST((3 * 1048576) // (20 * nn.n)
              + COALESCE(inb.v, 0)
              + (17 * dang.s) // (20 * nn.n) AS BIGINT) AS p
  FROM nodes nd
  CROSS JOIN nn
  LEFT JOIN (
    SELECT t.dst AS ch,
           CAST(SUM((17 * p.p * t.n) // (20 * d.deg)) AS BIGINT) AS v
    FROM t JOIN pr{k} p ON p.ch = t.src JOIN deg d ON d.ch = t.src
    GROUP BY 1
  ) inb ON inb.ch = nd.ch
  CROSS JOIN (
    SELECT CAST(COALESCE(SUM(p.p), 0) AS BIGINT) AS s
    FROM pr{k} p LEFT JOIN deg d ON d.ch = p.ch
    WHERE d.ch IS NULL
  ) dang
)""")
    return f"""
WITH {_CONV}, {_SESS}, {_JOURNEYS},
ordered AS (
  SELECT conversion_id, channel_label,
         LAG(channel_label) OVER w AS prev,
         LEAD(channel_label) OVER w AS nxt
  FROM journeys
  WINDOW w AS (PARTITION BY conversion_id ORDER BY event_ts, session_id)
),
tr AS (
  SELECT COALESCE(prev, '(start)') AS src, channel_label AS dst FROM ordered
  UNION ALL
  SELECT channel_label AS src, '(conversion)' AS dst FROM ordered WHERE nxt IS NULL
),
tall AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n FROM tr GROUP BY 1, 2),
t AS MATERIALIZED (
  SELECT * FROM tall WHERE src <> '(start)' AND dst <> '(conversion)'
),
nodes AS MATERIALIZED (SELECT src AS ch FROM t UNION SELECT dst FROM t),
nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
deg AS MATERIALIZED (SELECT src AS ch, CAST(SUM(n) AS BIGINT) AS deg FROM t GROUP BY 1),
pr0 AS MATERIALIZED (
  SELECT ch, CAST(1048576 // nn.n AS BIGINT) AS p FROM nodes, nn
),{",".join(rounds)}
SELECT ch AS channel, p AS pagerank_q20 FROM pr{iterations}
"""

_ORACLE_PAGERANK = _pagerank_oracle_sql(20)

# exact integer Shapley over the 4-channel coalition lattice;
# weights s!(3-s)! = 6,2,2,6; denom 4! = 24
_ORACLE_SHAPLEY = f"""
WITH {_CONV}, {_SESS}, {_JOURNEYS},
bm AS (
  SELECT conversion_id,
         BIT_OR(CASE channel_label WHEN 'click' THEN 1 WHEN 'error' THEN 2
                                   WHEN 'signup' THEN 4 WHEN 'view' THEN 8 END) AS mask
  FROM journeys GROUP BY 1
),
cnt AS (SELECT mask, CAST(COUNT(*) AS BIGINT) AS n_conv FROM bm GROUP BY 1),
lattice AS (SELECT unnest(range(0, 16)) AS smask),
v AS (
  SELECT l.smask, CAST(COALESCE(SUM(c.n_conv), 0) AS BIGINT) AS v
  FROM lattice l LEFT JOIN cnt c ON (c.mask & l.smask) = c.mask
  GROUP BY 1
),
players AS (SELECT * FROM (VALUES ('click', 1), ('error', 2), ('signup', 4), ('view', 8)) AS t(channel, b)),
pairs AS (
  SELECT p.channel, a.v AS vs, b2.v AS vsb,
         CASE bit_count(a.smask) WHEN 0 THEN 6 WHEN 1 THEN 2
                                 WHEN 2 THEN 2 WHEN 3 THEN 6 END AS w
  FROM players p
  JOIN v a ON (a.smask & p.b) = 0
  JOIN v b2 ON b2.smask = (a.smask | p.b)
)
SELECT channel, CAST(SUM(w * (vsb - vs)) AS BIGINT) AS phi_scaled,
       CAST(24 AS BIGINT) AS denom
FROM pairs GROUP BY channel
"""

# Markov-attribution transition matrix over per-conversion journeys
_ORACLE_CHANNEL_TRANSITIONS = f"""
WITH {_CONV}, {_SESS}, {_JOURNEYS},
ordered AS (
  SELECT conversion_id, channel_label,
         LAG(channel_label) OVER w AS prev,
         LEAD(channel_label) OVER w AS nxt
  FROM journeys
  WINDOW w AS (PARTITION BY conversion_id ORDER BY event_ts, session_id)
),
tr AS (
  SELECT COALESCE(prev, '(start)') AS src, channel_label AS dst FROM ordered
  UNION ALL
  SELECT channel_label AS src, '(conversion)' AS dst FROM ordered WHERE nxt IS NULL
)
SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n FROM tr GROUP BY 1, 2
"""

# co-located bucketed join: bucketing changes the PLAN, never the
# result — the oracle is the plain join
_ORACLE_BUCKETED_JOIN = f"""
WITH {_CONV}, {_SESS}
SELECT s.channel_name,
       CAST(COUNT(*) AS BIGINT) AS n_touch,
       CAST(SUM(CAST(ROUND(c.revenue * 100, 0) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM conv c JOIN sess s ON c.user_id = s.user_id
WHERE s.event_ts <= c.conv_ts
  AND s.event_ts >= c.conv_ts - INTERVAL {LOOKBACK_DAYS} DAY
GROUP BY 1
"""

# Count-Min heavy hitters: md5 row hashes make the sketch cells
# engine-portable; min over the 4 counters per probed term
_ORACLE_CMS = r"""
WITH nd AS (
  SELECT regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm FROM documents
),
ex AS (SELECT unnest(string_split(norm, ' ')) AS w FROM nd),
cnt AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS tf FROM ex GROUP BY w),
top AS (SELECT w, tf FROM cnt ORDER BY tf DESC, w LIMIT 10),
rws AS (SELECT unnest(range(0, 4)) AS j),
cms AS (
  SELECT j, CAST('0x' || substr(md5('cms' || j || '|' || w), 1, 15) AS BIGINT) % 256 AS bucket,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM ex, rws GROUP BY 1, 2
),
probes AS (
  SELECT t.w, t.tf, r.j,
         CAST('0x' || substr(md5('cms' || r.j || '|' || t.w), 1, 15) AS BIGINT) % 256 AS bucket
  FROM top t, rws r
)
SELECT p.w AS term, p.tf, CAST(MIN(c.cnt) AS BIGINT) AS cms_est
FROM probes p JOIN cms c ON c.j = p.j AND c.bucket = p.bucket
GROUP BY 1, 2
"""

# batch CMS over events.user_id — the streaming parity target
_ORACLE_STREAM_CMS = """
WITH rws AS (SELECT unnest(range(0, 4)) AS j)
SELECT j AS "row",
       CAST('0x' || substr(md5('cms' || j || '|' || CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) % 256 AS bucket,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM events, rws
GROUP BY 1, 2
"""

# one-pass data-quality ledger; NULL predicate results count as
# violations on both sides (COALESCE(..., TRUE))
_ORACLE_DATA_QUALITY = """
WITH agg AS (
  SELECT
    CAST(SUM(CASE WHEN COALESCE(event_id IS NULL, TRUE) THEN 1 ELSE 0 END) AS BIGINT) AS event_id_not_null,
    CAST(SUM(CASE WHEN COALESCE(user_id IS NULL, TRUE) THEN 1 ELSE 0 END) AS BIGINT) AS user_id_not_null,
    CAST(SUM(CASE WHEN COALESCE(value < 0, TRUE) THEN 1 ELSE 0 END) AS BIGINT) AS value_nonnegative,
    CAST(SUM(CASE WHEN COALESCE(event_type NOT IN ('click','view','signup','error','purchase'), TRUE) THEN 1 ELSE 0 END) AS BIGINT) AS known_event_type,
    CAST(SUM(CASE WHEN COALESCE(CAST(ts AS DATE) < DATE '2020-01-01' OR CAST(ts AS DATE) > DATE '2030-01-01', TRUE) THEN 1 ELSE 0 END) AS BIGINT) AS ts_in_range,
    CAST(COUNT(*) - COUNT(DISTINCT event_id) AS BIGINT) AS event_id_unique
  FROM events
)
SELECT 'event_id_not_null' AS rule, event_id_not_null AS n_violations FROM agg
UNION ALL SELECT 'user_id_not_null', user_id_not_null FROM agg
UNION ALL SELECT 'value_nonnegative', value_nonnegative FROM agg
UNION ALL SELECT 'known_event_type', known_event_type FROM agg
UNION ALL SELECT 'ts_in_range', ts_in_range FROM agg
UNION ALL SELECT 'event_id_unique', event_id_unique FROM agg
"""

_ORACLE_REL_PRICING = """
SELECT l_returnflag, l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(ROUND(l_quantity, 0) AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS sum_base_cents,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                * CAST(100 - ROUND(l_discount * 100, 0) AS BIGINT)) AS BIGINT) AS sum_disc_e4,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                * CAST(100 - ROUND(l_discount * 100, 0) AS BIGINT)
                * CAST(100 + ROUND(l_tax * 100, 0) AS BIGINT)) AS BIGINT) AS sum_charge_e6
FROM lineitem
WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""

_ORACLE_REL_SEGMENT = """
SELECT c.c_mktsegment, o.o_orderpriority,
       CAST(COUNT(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT)
                * CAST(100 - ROUND(l.l_discount * 100, 0) AS BIGINT)) AS BIGINT) AS revenue_e4
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE CAST(o.o_orderdate AS DATE) >= DATE '1996-01-01'
  AND CAST(o.o_orderdate AS DATE) < DATE '1997-01-01'
GROUP BY 1, 2
"""

# curriculum buckets: integer q20 score, histogram-CDF boundaries at
# integer ranks (k*n + 7) // 8, ties to the lower bucket — mirrors
# llm/curation.py curriculum_buckets step for step
_ORACLE_CURRICULUM = """
WITH nd AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm FROM documents
),
sc AS (
  SELECT doc_id,
         (CAST(len(list_distinct(ws)) AS BIGINT) * 1048576) // CAST(len(ws) AS BIGINT) AS score,
         CAST(len(ws) AS BIGINT) AS n_words
  FROM (SELECT doc_id, string_split(norm, ' ') AS ws FROM nd)
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM sc),
hist AS (SELECT score, COUNT(*) AS c FROM sc GROUP BY score),
cdf AS (SELECT score, SUM(c) OVER (ORDER BY score) AS cum FROM hist),
bounds AS (
  SELECT k, MIN(score) AS b
  FROM (SELECT unnest(range(1, 8)) AS k) ks, cdf, tot
  WHERE cum >= (k * n + 7) // 8
  GROUP BY k
),
bk AS (
  SELECT s.score, s.n_words,
         CAST(1 + (SELECT COUNT(*) FROM bounds WHERE s.score > bounds.b) AS BIGINT) AS bucket
  FROM sc s
)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_words) AS BIGINT) AS sum_words,
       MIN(score) AS min_score_q20,
       MAX(score) AS max_score_q20
FROM bk GROUP BY bucket
"""

_ORACLE_REL_MARKET_SHARE = f"""
WITH per_nation AS (
  SELECT n.n_name,
         CAST(SUM({_REV_E4}) AS BIGINT) AS revenue_e4
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n   ON s.s_nationkey = n.n_nationkey
  JOIN region r   ON n.n_regionkey = r.r_regionkey AND r.r_name = 'ASIA'
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  WHERE CAST(o.o_orderdate AS DATE) >= DATE '1996-01-01'
    AND CAST(o.o_orderdate AS DATE) <  DATE '1998-01-01'
  GROUP BY 1
)
SELECT n_name, revenue_e4,
       -- HUGEINT, not DECIMAL: DuckDB lowers DECIMAL(38)/DECIMAL(38) to
       -- double (precision loss near q20 boundaries); HUGEINT // is exact
       -- truncating division, matching Spark's DECIMAL(38,0) div.
       CAST((CAST(revenue_e4 AS HUGEINT) * 1048576)
            // (SELECT CAST(SUM(CAST(revenue_e4 AS HUGEINT)) AS HUGEINT)
                FROM per_nation) AS BIGINT) AS share_q20
FROM per_nation
"""

_ORACLE_REL_CUSTDIST = """
WITH pc AS (
  SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
  GROUP BY 1
)
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist FROM pc GROUP BY 1
"""

_ORACLE_REL_TOP_SUPPLIER = f"""
WITH ps AS (
  SELECT l.l_suppkey, CAST(SUM({_REV_E4}) AS BIGINT) AS revenue_e4
  FROM lineitem l
  WHERE CAST(l.l_shipdate AS DATE) >= DATE '1996-01-01'
    AND CAST(l.l_shipdate AS DATE) <  DATE '1996-04-01'
  GROUP BY 1
)
SELECT s.s_suppkey, s.s_name, ps.revenue_e4
FROM ps JOIN supplier s ON ps.l_suppkey = s.s_suppkey
WHERE ps.revenue_e4 = (SELECT MAX(revenue_e4) FROM ps)
"""

_ORACLE_REL_ORDER_PRIORITY = """
SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders o
WHERE CAST(o.o_orderdate AS DATE) >= DATE '1996-01-01'
  AND CAST(o.o_orderdate AS DATE) <  DATE '1996-07-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
GROUP BY 1
"""

_ORACLE_REL_NATION_MARGIN = f"""
SELECT n.n_name,
       CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT) AS o_year,
       CAST(SUM({_REV_E4}) AS BIGINT) AS revenue_e4
FROM lineitem l
JOIN part p     ON l.l_partkey = p.p_partkey AND p.p_type = 'PROMO'
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
JOIN orders o   ON l.l_orderkey = o.o_orderkey
GROUP BY 1, 2
"""

# HLL registers: 60-bit md5 hash -> register = h % 256, payload
# w = h // 256 (52 bits), rho = 53 - bit_length(w) (53 when w = 0);
# bit_length via binary string rendering — no floating log2.
_ORACLE_HLL = """
WITH h AS (
  SELECT event_type AS channel,
         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS hv
  FROM events
),
mr AS (
  SELECT channel, hv % 256 AS reg,
         MAX(CASE WHEN hv // 256 = 0 THEN 53
                  ELSE 53 - length(printf('%b', hv // 256)) END) AS rho
  FROM h GROUP BY 1, 2
),
agg AS (
  SELECT channel,
         CAST(COUNT(*) AS BIGINT) AS n_registers_hit,
         CAST(SUM(rho) AS BIGINT) AS sum_rho,
         CAST(CAST(SUM(CAST(1 AS BIGINT) << (53 - rho)) AS BIGINT)
              + (256 - CAST(COUNT(*) AS BIGINT)) * (CAST(1 AS BIGINT) << 53)
              AS BIGINT) AS harmonic_s53
  FROM mr GROUP BY 1
),
ex AS (
  SELECT event_type AS channel,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
  FROM events GROUP BY 1
)
SELECT a.channel, a.n_registers_hit, a.sum_rho, a.harmonic_s53, ex.exact_distinct
FROM agg a JOIN ex ON a.channel = ex.channel
"""

# z^2 > 4 by integer cross-multiplication — sqrt never computed
_ORACLE_ANOMALY = """
WITH d AS (
  SELECT event_type AS channel, strftime(date_trunc('day', ts), '%Y-%m-%d') AS event_day,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
),
s AS (
  SELECT channel, CAST(COUNT(*) AS BIGINT) AS d_days,
         CAST(SUM(n_events) AS BIGINT) AS s_sum,
         CAST(SUM(n_events * n_events) AS BIGINT) AS q_sum
  FROM d GROUP BY 1
)
SELECT d.channel, d.event_day, d.n_events,
       CAST((d.n_events * s.d_days - s.s_sum)
            * (d.n_events * s.d_days - s.s_sum) * (s.d_days - 1) AS BIGINT) AS z2_num,
       CAST(4 * s.d_days * (s.d_days * s.q_sum - s.s_sum * s.s_sum) AS BIGINT) AS z2_den,
       CAST(CASE WHEN (d.n_events * s.d_days - s.s_sum)
                      * (d.n_events * s.d_days - s.s_sum) * (s.d_days - 1)
                    > 4 * s.d_days * (s.d_days * s.q_sum - s.s_sum * s.s_sum)
                 THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
FROM d JOIN s ON d.channel = s.channel
"""

# single-window formulation of the two-phase prefix sum: total order
# (h % 256, h, doc_id) = Spark's (bucket offsets, within-bucket order)
_ORACLE_WEIGHTED_SAMPLE = """
WITH w AS (
  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS weight,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|wsamp'), 1, 15) AS BIGINT) AS h
  FROM documents
),
t AS (SELECT CAST(SUM(weight) AS BIGINT) AS tw FROM w),
c AS (
  SELECT doc_id, source, weight,
         CAST(SUM(weight) OVER (ORDER BY h % 256, h, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c_hi
  FROM w
)
SELECT doc_id, source, weight,
       CAST((c_hi * 25) // t.tw - ((c_hi - weight) * 25) // t.tw AS BIGINT) AS mult
FROM c, t
WHERE (c_hi * 25) // t.tw - ((c_hi - weight) * 25) // t.tw > 0
"""

_ORACLE_DORMANT = """
WITH win AS (
  SELECT * FROM events WHERE CAST(ts AS DATE) >= DATE '2024-01-28'
),
buyers AS (
  SELECT DISTINCT user_id FROM win WHERE event_type = 'purchase'
),
d AS (
  SELECT e.user_id, e.event_type, e.ts, e.event_id
  FROM win e LEFT JOIN buyers b ON e.user_id = b.user_id
  WHERE e.event_type <> 'purchase' AND b.user_id IS NULL
),
r AS (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS ns
  FROM d
)
SELECT event_type AS last_channel,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(ns) AS BIGINT) AS n_sessions
FROM r WHERE rn = 1 GROUP BY 1
"""

_ORACLE_CONTAINMENT = f"""
WITH {_AUG}, {_NORM_AUG}, {_SHINGLED},
sets AS (
  SELECT doc_id, lang,
         list_distinct(list_transform(shingles,
           s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT))) AS ds
  FROM shingled
),
ex AS (
  SELECT lang, doc_id, CAST(len(ds) AS BIGINT) AS sz, unnest(ds) AS h FROM sets
),
hits AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sz AS sza, b.sz AS szb,
         CAST(COUNT(*) AS BIGINT) AS inter_size
  FROM ex a JOIN ex b ON a.lang = b.lang AND a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT doc_a, doc_b, inter_size,
       sza AS size_a, szb AS size_b,
       CAST(CASE WHEN inter_size * 5 >= sza * 4 THEN 1 ELSE 0 END AS BIGINT) AS contained_a,
       CAST(CASE WHEN inter_size * 5 >= szb * 4 THEN 1 ELSE 0 END AS BIGINT) AS contained_b
FROM hits
WHERE (CASE WHEN inter_size * 5 >= sza * 4 THEN 1 ELSE 0 END
       + CASE WHEN inter_size * 5 >= szb * 4 THEN 1 ELSE 0 END) > 0
"""

_ORACLE_NGRAM_STORE_AUDIT = f"""
WITH {_AUG}, {_NORM_AUG}, {_SHINGLED},
sets AS (
  SELECT doc_id, lang,
         list_distinct(list_transform(shingles,
           s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT))) AS ds
  FROM shingled
),
per_doc AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CAST(len(ds) AS BIGINT)) AS BIGINT) AS sum_set_sizes
  FROM sets GROUP BY lang
),
ex AS (SELECT lang, doc_id, unnest(ds) AS h FROM sets),
dfreq AS (SELECT lang, h, CAST(COUNT(*) AS BIGINT) AS df FROM ex GROUP BY 1, 2),
cost AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_distinct_shingles,
         CAST(SUM(df * df) AS BIGINT) AS sum_df_sq,
         CAST(MAX(df) AS BIGINT) AS max_df
  FROM dfreq GROUP BY lang
)
SELECT p.lang AS block, p.n_docs, p.sum_set_sizes,
       CAST(COALESCE(c.n_distinct_shingles, 0) AS BIGINT) AS n_distinct_shingles,
       CAST(COALESCE(c.sum_df_sq, 0) AS BIGINT) AS sum_df_sq,
       CAST(COALESCE(c.max_df, 0) AS BIGINT) AS max_df
FROM per_doc p LEFT JOIN cost c ON p.lang = c.lang
"""

_ORACLE_REVENUE_HISTOGRAM = """
WITH v AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS event_day,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS x
  FROM events WHERE event_type = 'purchase'
),
b AS (
  SELECT event_day, CAST((x >> g) << g AS BIGINT) AS bucket_lb
  FROM (SELECT event_day, x,
               CASE WHEN length(printf('%b', x)) - 3 > 0
                    THEN length(printf('%b', x)) - 3 ELSE 0 END AS g
        FROM v)
),
h AS (SELECT event_day, bucket_lb, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY 1, 2),
cdf AS (
  SELECT event_day, bucket_lb,
         CAST(SUM(c) OVER (PARTITION BY event_day ORDER BY bucket_lb) AS BIGINT) AS cum,
         CAST(SUM(c) OVER (PARTITION BY event_day) AS BIGINT) AS n
  FROM h
)
SELECT event_day,
       CAST(MAX(n) AS BIGINT) AS n_values,
       CAST(MIN(CASE WHEN cum * 2 >= n * 1 THEN bucket_lb END) AS BIGINT) AS p50_lb,
       CAST(MIN(CASE WHEN cum * 10 >= n * 9 THEN bucket_lb END) AS BIGINT) AS p90_lb
FROM cdf GROUP BY event_day
"""

_ORACLE_CHANNEL_OVERLAP = """
WITH cu AS (
  SELECT DISTINCT event_type AS channel, user_id
  FROM events WHERE event_type <> 'purchase'
),
sizes AS (SELECT channel, CAST(COUNT(*) AS BIGINT) AS sz FROM cu GROUP BY 1),
pairs AS (
  SELECT a.channel AS chan_a, b.channel AS chan_b,
         CAST(COUNT(*) AS BIGINT) AS n_common
  FROM cu a JOIN cu b ON a.user_id = b.user_id AND a.channel < b.channel
  GROUP BY 1, 2
)
SELECT p.chan_a, p.chan_b, p.n_common,
       sa.sz AS size_a, sb.sz AS size_b
FROM pairs p
JOIN sizes sa ON sa.channel = p.chan_a
JOIN sizes sb ON sb.channel = p.chan_b
"""

_ORACLE_LANG_CONFUSION = f"""
WITH {_NORM_RAW},
scores AS (
  SELECT doc_id, lang AS declared,
       {{lang_score_cols}}
  FROM (SELECT doc_id, lang, list_distinct(string_split(norm, ' ')) AS dws FROM nd)
),
best AS (
  SELECT *, GREATEST(s_de, s_en, s_es, s_fr, s_zh) AS mx FROM scores
)
SELECT declared,
       CASE {{lang_case}} ELSE 'zh' END AS guessed,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM best GROUP BY 1, 2
""".replace("{lang_score_cols}", _lang_score_cols).replace("{lang_case}", _lang_case)

# model comparison: per-row q20 weights (bit-identical to the
# individually-oracled model queries) summed as exact integers
_ORACLE_MODEL_COMPARISON = f"""
WITH {_CONV}, {_SESS}, {_JOURNEYS},
base AS (
  SELECT conversion_id, session_id, channel_label,
         ROW_NUMBER() OVER w AS rn,
         COUNT(*) OVER (PARTITION BY conversion_id) AS n
  FROM journeys
  WINDOW w AS (PARTITION BY conversion_id ORDER BY event_ts, session_id)
),
weights AS (
  SELECT 'linear' AS model, channel_label, 1.0 / n AS ihc FROM base
  UNION ALL
  SELECT 'first_touch', channel_label, CASE WHEN rn = 1 THEN 1.0 ELSE 0.0 END FROM base
  UNION ALL
  SELECT 'last_touch', channel_label, CASE WHEN rn = n THEN 1.0 ELSE 0.0 END FROM base
  UNION ALL
  SELECT 'u_shaped', channel_label,
         CASE WHEN n = 1 THEN 1.0 WHEN n = 2 THEN 0.5
              WHEN rn = 1 THEN 0.4 WHEN rn = n THEN 0.4
              ELSE 0.2 / (n - 2) END FROM base
)
SELECT model, channel_label,
       CAST(SUM(CAST(FLOOR(ihc * 1048576 + 0.5) AS BIGINT)) AS BIGINT) AS credit_q20,
       CAST(COUNT(*) AS BIGINT) AS n_touches
FROM weights GROUP BY 1, 2
"""

# __spark_entry__.q_shard_balance: per-shard char mass under the
# L137 packing hash, exact distribution stats; global window is on
# the 256-shard grain (bounded by construction)
_ORACLE_SHARD_BALANCE = """
WITH m AS (
  SELECT CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|pack'), 1, 15)
              AS BIGINT) % 256 AS s,
         CAST(SUM(n_chars) AS BIGINT) AS c
  FROM documents WHERE n_chars > 0
  GROUP BY 1
),
ranked AS (
  SELECT c, ROW_NUMBER() OVER (ORDER BY c) AS rn, COUNT(*) OVER () AS n FROM m
),
p50 AS (
  SELECT c AS p50_chars FROM ranked WHERE rn = CAST(CEIL(0.5e0 * n) AS BIGINT)
),
scal AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_shards,
         CAST(SUM(c) AS BIGINT) AS total_chars,
         CAST(MIN(c) AS BIGINT) AS min_chars,
         CAST(MAX(c) AS BIGINT) AS max_chars
  FROM m
)
SELECT s.n_shards, s.total_chars, s.min_chars, s.max_chars,
       CAST(p.p50_chars AS BIGINT) AS p50_chars,
       CAST((2 * s.max_chars * s.n_shards * 1048576 + s.total_chars)
            // (2 * s.total_chars) AS BIGINT) AS imbalance_q20
FROM scal s, p50 p
"""

# __spark_entry__.q_transition_dwell: LAG over the journeys CTE,
# whole-second gaps by integer microsecond division, log2 buckets
_ORACLE_TRANSITION_DWELL = f"""
WITH {_CONV}, {_SESS}, {_JOURNEYS},
lagged AS (
  SELECT conversion_id,
         LAG(channel_label) OVER w AS pch,
         LAG(event_ts) OVER w AS pts,
         channel_label, event_ts
  FROM journeys
  WINDOW w AS (PARTITION BY conversion_id ORDER BY event_ts, session_id)
)
SELECT pch AS from_channel,
       channel_label AS to_channel,
       CAST(length(printf('%b',
            (epoch_us(event_ts) - epoch_us(pts)) // 1000000 + 1)) - 1
            AS BIGINT) AS gap_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_transitions
FROM lagged WHERE pch IS NOT NULL
GROUP BY 1, 2, 3
"""

# __spark_entry__.q_attribution_tau: exact Kendall pair counts over
# the L92 credit table (wrapped as a derived CTE); sign tests on q20
# credit differences, agreement share half-up q20
_ORACLE_ATTRIBUTION_TAU = f"""
WITH mc AS ({_ORACLE_MODEL_COMPARISON}),
sgn AS (
  SELECT a.model, a.channel_label AS ch_a, b.channel_label AS ch_b,
         CAST(CASE WHEN a.credit_q20 > b.credit_q20 THEN 1
                   WHEN a.credit_q20 < b.credit_q20 THEN -1
                   ELSE 0 END AS BIGINT) AS sgn
  FROM mc a JOIN mc b
    ON a.model = b.model AND a.channel_label < b.channel_label
)
SELECT p.model AS model_a, q.model AS model_b,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(COUNT(*) FILTER (WHERE p.sgn <> 0 AND p.sgn = q.sgn) AS BIGINT)
         AS concordant,
       CAST(COUNT(*) FILTER (WHERE p.sgn * q.sgn = -1) AS BIGINT) AS discordant,
       CAST(COUNT(*) FILTER (WHERE p.sgn = 0 OR q.sgn = 0) AS BIGINT) AS tied,
       CAST((2 * COUNT(*) FILTER (WHERE p.sgn <> 0 AND p.sgn = q.sgn) * 1048576
             + COUNT(*)) // (2 * COUNT(*)) AS BIGINT) AS agree_q20
FROM sgn p JOIN sgn q
  ON p.ch_a = q.ch_a AND p.ch_b = q.ch_b AND p.model < q.model
GROUP BY 1, 2
"""

# TF-IDF cosine pairs: whole-bit idf, stopword prune at df*10 > N,
# threshold 25*dot^2 >= 9*na2*nb2 in HUGEINT (dot^2 exceeds BIGINT)
_ORACLE_TFIDF_PAIRS = f"""
WITH {_AUG}, {_NORM_AUG},
ex AS (
  SELECT lang, doc_id, unnest(string_split(norm, ' ')) AS term FROM nd
),
tf AS (
  SELECT lang, doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM ex GROUP BY 1, 2, 3
),
nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM aug),
dfq AS (
  SELECT term, CAST(length(printf('%b', n // df)) AS BIGINT) AS ibits
  FROM (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1), nt
  WHERE df * 10 <= n
),
w AS (
  SELECT t.lang, t.doc_id, t.term, CAST(t.tf * d.ibits AS BIGINT) AS w
  FROM tf t JOIN dfq d ON t.term = d.term
),
norms AS (
  SELECT lang, doc_id, CAST(SUM(w * w) AS BIGINT) AS norm2 FROM w GROUP BY 1, 2
),
dots AS (
  SELECT a.lang, a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(SUM(a.w * b.w) AS BIGINT) AS dot
  FROM w a JOIN w b ON a.lang = b.lang AND a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3
)
SELECT d.doc_a, d.doc_b, d.dot, na.norm2 AS norm2_a, nb.norm2 AS norm2_b
FROM dots d
JOIN norms na ON na.lang = d.lang AND na.doc_id = d.doc_a
JOIN norms nb ON nb.lang = d.lang AND nb.doc_id = d.doc_b
WHERE CAST(25 AS HUGEINT) * d.dot * d.dot
      >= CAST(9 AS HUGEINT) * na.norm2 * nb.norm2
"""

_ORACLE_REL_MONTHLY_GROWTH = """
WITH m AS (
  SELECT o_orderpriority, strftime(o_orderdate, '%Y-%m') AS month,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS revenue_cents
  FROM orders GROUP BY 1, 2
)
SELECT o_orderpriority, month, n_orders, revenue_cents,
       CAST(revenue_cents - LAG(revenue_cents) OVER (
         PARTITION BY o_orderpriority ORDER BY month) AS BIGINT) AS mom_delta_cents
FROM m
"""

_ORACLE_CHANNEL_CUBE = """
WITH sess AS (
  SELECT event_type AS channel_name, strftime(ts, '%m') AS month,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS c
  FROM events WHERE event_type <> 'purchase'
)
SELECT COALESCE(channel_name, 'ALL') AS channel_name,
       COALESCE(month, 'ALL') AS month,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(c) AS BIGINT) AS cents,
       CAST(GROUPING(channel_name) * 2 + GROUPING(month) AS BIGINT) AS gid
FROM sess
GROUP BY CUBE (channel_name, month)
"""

_ORACLE_FD_PROFILE = """
WITH a AS (SELECT event_id, COUNT(DISTINCT user_id) AS nr FROM events GROUP BY 1),
     b AS (SELECT user_id, COUNT(DISTINCT event_type) AS nr FROM events GROUP BY 1)
SELECT 'event_id->user_id' AS dep,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(CASE WHEN nr > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_groups,
       CAST(MAX(nr) AS BIGINT) AS max_rhs_per_group
FROM a
UNION ALL
SELECT 'user_id->event_type',
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN nr > 1 THEN 1 ELSE 0 END) AS BIGINT),
       CAST(MAX(nr) AS BIGINT)
FROM b
"""

# log-histogram buckets: keep the top 3 bits (sub_bits = 2) —
# g = max(bitlen(x) - 3, 0), bucket_lb = (x >> g) << g
_ORACLE_LENGTH_HISTOGRAM = """
WITH v AS (SELECT source, CAST(n_chars AS BIGINT) AS x FROM documents),
b AS (
  SELECT source, CAST((x >> g) << g AS BIGINT) AS bucket_lb
  FROM (SELECT source, x,
               CASE WHEN length(printf('%b', x)) - 3 > 0
                    THEN length(printf('%b', x)) - 3 ELSE 0 END AS g
        FROM v)
),
h AS (SELECT source, bucket_lb, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY 1, 2),
cdf AS (
  SELECT source, bucket_lb,
         CAST(SUM(c) OVER (PARTITION BY source ORDER BY bucket_lb) AS BIGINT) AS cum,
         CAST(SUM(c) OVER (PARTITION BY source) AS BIGINT) AS n
  FROM h
)
SELECT source,
       CAST(MAX(n) AS BIGINT) AS n_values,
       CAST(MIN(CASE WHEN cum * 2 >= n * 1 THEN bucket_lb END) AS BIGINT) AS p50_lb,
       CAST(MIN(CASE WHEN cum * 10 >= n * 9 THEN bucket_lb END) AS BIGINT) AS p90_lb
FROM cdf GROUP BY source
"""

_ORACLE_CHANNEL_UNPIVOT = """
WITH sess AS (
  SELECT event_type AS channel_name, strftime(ts, '%m') AS month,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
  FROM events WHERE event_type <> 'purchase'
),
universe AS (
  SELECT c.channel_name, lpad(CAST(m.m AS VARCHAR), 2, '0') AS month
  FROM (SELECT DISTINCT channel_name FROM sess) c,
       (SELECT unnest(range(1, 13)) AS m) m
)
SELECT u.channel_name, u.month,
       CAST(COALESCE(SUM(s.cents), 0) AS BIGINT) AS cents
FROM universe u LEFT JOIN sess s
  ON u.channel_name = s.channel_name AND u.month = s.month
GROUP BY 1, 2
"""

_ORACLE_AUDIENCE_SETOPS = """
WITH click AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
     vw    AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'view')
SELECT 'click_and_view' AS audience,
       CAST((SELECT COUNT(*) FROM click WHERE user_id IN (SELECT user_id FROM vw)) AS BIGINT) AS n_users
UNION ALL
SELECT 'click_not_view',
       CAST((SELECT COUNT(*) FROM click WHERE user_id NOT IN (SELECT user_id FROM vw)) AS BIGINT)
UNION ALL
SELECT 'view_not_click',
       CAST((SELECT COUNT(*) FROM vw WHERE user_id NOT IN (SELECT user_id FROM click)) AS BIGINT)
UNION ALL
SELECT 'click_or_view',
       CAST((SELECT COUNT(DISTINCT user_id) FROM (SELECT user_id FROM click UNION SELECT user_id FROM vw)) AS BIGINT)
"""

# IVM parity: the incrementally-maintained aggregate must equal a
# from-scratch recompute over the final fact set (old rows minus the
# event_id % 97 retractions, plus everything on/after the cutoff).
_ORACLE_IVM_REPORT = """
SELECT event_type AS channel,
       strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS value_cents
FROM events
WHERE CAST(ts AS DATE) >= DATE '2024-01-20' OR event_id % 97 <> 0
GROUP BY 1, 2
"""

# Bloom: positions = md5_60('bloom{j}|' || v) % 8192, j = 0..3;
# word = p div 62, bit = p % 62 (62-bit words: DuckDB raises on a
# shift into the sign bit); build = BIT_OR of 1<<bit per word.
_ORACLE_BLOOM_CONVERTERS = """
WITH buyers AS (
  SELECT DISTINCT CAST(user_id AS VARCHAR) AS v FROM events
  WHERE event_type = 'purchase'
),
positions AS (
  SELECT CAST('0x' || substr(md5('bloom' || j || '|' || v), 1, 15) AS BIGINT) % 8192 AS p
  FROM buyers, (SELECT unnest(range(0, 4)) AS j)
),
bloom AS (
  SELECT p // 62 AS word_idx, bit_or(CAST(1 AS BIGINT) << CAST(p % 62 AS INTEGER)) AS bits
  FROM positions GROUP BY 1
),
sess AS (
  SELECT DISTINCT event_type AS channel, CAST(user_id AS VARCHAR) AS v
  FROM events WHERE event_type <> 'purchase'
),
probe AS (
  SELECT s.channel, s.v,
         CAST('0x' || substr(md5('bloom' || j.j || '|' || s.v), 1, 15) AS BIGINT) % 8192 AS p
  FROM sess s, (SELECT unnest(range(0, 4)) AS j) j
),
hits AS (
  SELECT pr.channel, pr.v,
         CASE WHEN COUNT(*) FILTER (WHERE
           (COALESCE(b.bits, 0) & (CAST(1 AS BIGINT) << CAST(pr.p % 62 AS INTEGER)))
             = (CAST(1 AS BIGINT) << CAST(pr.p % 62 AS INTEGER))) = 4
         THEN 1 ELSE 0 END AS might_contain
  FROM probe pr LEFT JOIN bloom b ON pr.p // 62 = b.word_idx
  GROUP BY 1, 2
),
flagged AS (
  SELECT e.event_type AS channel, CAST(e.user_id AS VARCHAR) AS v,
         h.might_contain,
         CASE WHEN bu.v IS NULL THEN 0 ELSE 1 END AS is_buyer
  FROM events e
  JOIN hits h ON h.channel = e.event_type AND h.v = CAST(e.user_id AS VARCHAR)
  LEFT JOIN buyers bu ON bu.v = CAST(e.user_id AS VARCHAR)
  WHERE e.event_type <> 'purchase'
)
SELECT channel,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(might_contain) AS BIGINT) AS bloom_hits,
       CAST(SUM(is_buyer) AS BIGINT) AS exact_hits
FROM flagged GROUP BY 1
"""

_ORACLE_FILL_GAPS = """
WITH spine AS (
  SELECT ch.channel, strftime(dd.d, '%Y-%m-%d') AS day
  FROM (SELECT DISTINCT event_type AS channel FROM events
        WHERE event_type <> 'purchase') ch,
       (SELECT unnest(generate_series(DATE '2024-01-01', DATE '2024-01-30',
                                      INTERVAL 1 DAY)) AS d) dd
),
daily AS (
  SELECT event_type AS channel,
         strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         CAST(COUNT(*) AS BIGINT) AS n_raw,
         CAST(MAX(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS max_cents_raw
  FROM events WHERE event_type <> 'purchase' GROUP BY 1, 2
)
SELECT s.channel, s.day,
       COALESCE(d.n_raw, 0) AS n_sessions,
       CAST(last_value(d.max_cents_raw IGNORE NULLS) OVER (
         PARTITION BY s.channel ORDER BY s.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS max_cents
FROM spine s LEFT JOIN daily d ON s.channel = d.channel AND s.day = d.day
"""

_ORACLE_FUZZY_CHANNELS = """
WITH canon AS (SELECT DISTINCT event_type AS channel FROM events),
variants AS (
  SELECT channel || 'x' AS dirty FROM canon
  UNION SELECT substr(channel, 2) FROM canon
  UNION SELECT 'zz' || channel FROM canon
  UNION SELECT 'qqqqqqqq'
),
scored AS (
  SELECT v.dirty, c.channel AS canonical,
         CAST(levenshtein(v.dirty, c.channel) AS BIGINT) AS distance
  FROM variants v JOIN canon c
    ON abs(length(v.dirty) - length(c.channel)) <= 2
  WHERE levenshtein(v.dirty, c.channel) <= 2
)
SELECT dirty, canonical, distance FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY dirty
            ORDER BY distance, canonical) AS rn
  FROM scored
) WHERE rn = 1
"""

_ORACLE_REL_LOCAL_VOLUME = f"""
SELECT n.n_name,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM({_REV_E4}) AS BIGINT) AS revenue_e4
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey AND r.r_name = 'EUROPE'
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey AND c.c_nationkey = s.s_nationkey
WHERE CAST(o.o_orderdate AS DATE) >= DATE '1996-01-01'
  AND CAST(o.o_orderdate AS DATE) <  DATE '1998-01-01'
GROUP BY 1
"""

_ORACLE_REL_NATION_TRADE = f"""
SELECT ns.n_name AS supp_nation,
       nc.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM({_REV_E4}) AS BIGINT) AS revenue_e4
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation ns  ON s.s_nationkey = ns.n_nationkey
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation nc  ON c.c_nationkey = nc.n_nationkey
WHERE ns.n_name IN ('NATION_3', 'NATION_8')
  AND nc.n_name IN ('NATION_3', 'NATION_8')
  AND ns.n_name <> nc.n_name
GROUP BY 1, 2, 3
"""

_ORACLE_REL_PROMO_SHARE = f"""
WITH a AS (
  SELECT CAST(SUM(CASE WHEN p.p_type = 'PROMO' THEN {_REV_E4} ELSE 0 END) AS BIGINT)
           AS promo_rev_e4,
         CAST(SUM({_REV_E4}) AS BIGINT) AS total_rev_e4
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
  WHERE CAST(l.l_shipdate AS DATE) >= DATE '1996-09-01'
    AND CAST(l.l_shipdate AS DATE) <  DATE '1996-10-01'
)
SELECT promo_rev_e4, total_rev_e4,
       CAST((CAST(promo_rev_e4 AS HUGEINT) * 1048576)
            // CAST(total_rev_e4 AS HUGEINT) AS BIGINT) AS promo_share_q20
FROM a
"""

_ORACLE_REL_DISJUNCTIVE = f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM({_REV_E4}) AS BIGINT) AS revenue_e4
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 10
        AND CAST(ROUND(l.l_quantity, 0) AS BIGINT) BETWEEN 1 AND 15)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 5 AND 20
        AND CAST(ROUND(l.l_quantity, 0) AS BIGINT) BETWEEN 10 AND 30)
   OR (p.p_brand = 'Brand#5' AND p.p_size BETWEEN 15 AND 50
        AND CAST(ROUND(l.l_quantity, 0) AS BIGINT) BETWEEN 25 AND 50)
"""

# EXISTS / NOT-EXISTS written literally here; the Spark side runs the
# decorrelated per-order aggregate — the parity check proves the rewrite.
_ORACLE_REL_RETURN_CULPRITS = """
SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem WHERE l_returnflag = 'R') l1
JOIN orders o   ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
JOIN supplier s ON s.s_suppkey = l1.l_suppkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey AND r.r_name = 'EUROPE'
WHERE EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY 1
"""

# offers referenced twice (per-part min + join back) => MATERIALIZED, per
# the CLAUDE.md DuckDB CTE-inlining rule.
_ORACLE_REL_MIN_COST_SUPPLIER = """
WITH offers AS MATERIALIZED (
  SELECT p.p_partkey, p.p_brand, CAST(p.p_size AS BIGINT) AS p_size,
         s.s_name, n.n_name,
         CAST(MIN(CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS cost_cents
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n   ON s.s_nationkey = n.n_nationkey
  JOIN region r   ON n.n_regionkey = r.r_regionkey AND r.r_name = 'EUROPE'
  JOIN part p     ON l.l_partkey = p.p_partkey AND p.p_size <= 10
  GROUP BY 1, 2, 3, 4, 5
)
SELECT o.p_partkey, o.p_brand, o.p_size, o.s_name, o.n_name, o.cost_cents
FROM offers o
WHERE o.cost_cents = (SELECT MIN(o2.cost_cents) FROM offers o2
                      WHERE o2.p_partkey = o.p_partkey)
"""

_ORACLE_REL_IMPORTANT_PARTS = f"""
WITH v AS MATERIALIZED (
  SELECT l.l_partkey AS partkey,
         CAST(SUM({_REV_E4}) AS BIGINT) AS value_e4
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n   ON s.s_nationkey = n.n_nationkey
  JOIN region r   ON n.n_regionkey = r.r_regionkey AND r.r_name = 'EUROPE'
  GROUP BY 1
)
SELECT partkey, value_e4 FROM v
WHERE CAST(value_e4 AS HUGEINT) * (SELECT COUNT(*) FROM v) * 2
      > (SELECT SUM(CAST(value_e4 AS HUGEINT)) FROM v) * 3
"""

_ORACLE_REL_PART_PROMOTION = """
WITH q AS MATERIALIZED (
  SELECT l.l_suppkey, l.l_partkey,
         CAST(SUM(CAST(ROUND(l.l_quantity, 0) AS BIGINT)) AS HUGEINT) AS sq
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
  WHERE p.p_name LIKE '%rod%' AND year(l.l_shipdate) = 1997
  GROUP BY 1, 2
)
SELECT s.s_name, n.n_name
FROM supplier s
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE s.s_suppkey IN (
  SELECT l_suppkey FROM q
  WHERE sq * (SELECT COUNT(*) FROM q) > (SELECT SUM(sq) FROM q) * 2)
"""

_ORACLE_REL_FORECAST_REVENUE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                * CAST(ROUND(l_discount * 100, 0) AS BIGINT)) AS BIGINT) AS discount_rev_e4
FROM lineitem
WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
  AND CAST(l_shipdate AS DATE) <  DATE '1997-01-01'
  AND CAST(ROUND(l_quantity, 0) AS BIGINT) < 24
  AND CAST(ROUND(l_discount * 100, 0) AS BIGINT) IN (5, 6, 7)
"""

_ORACLE_SCD2_CHANNELS = f"""
WITH {_SESS},
m AS (
  SELECT user_id, session_id, channel_name, event_ts,
         CASE WHEN lag(channel_name) OVER (PARTITION BY user_id
                ORDER BY event_ts, session_id) IS DISTINCT FROM channel_name
              THEN 1 ELSE 0 END AS chg
  FROM sess
),
v AS (
  SELECT user_id, channel_name, event_ts,
         SUM(chg) OVER (PARTITION BY user_id ORDER BY event_ts, session_id
                        ROWS UNBOUNDED PRECEDING) AS version
  FROM m
),
runs AS (
  SELECT user_id, CAST(version AS BIGINT) AS version, channel_name,
         CAST(MIN(epoch_us(event_ts)) AS BIGINT) AS valid_from_us,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM v GROUP BY 1, 2, 3
)
SELECT user_id, version, channel_name, valid_from_us,
       COALESCE(CAST(lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY version) AS BIGINT),
                CAST(-1 AS BIGINT)) AS valid_to_us,
       CAST(CASE WHEN lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY version) IS NULL
                 THEN 1 ELSE 0 END AS BIGINT) AS is_current,
       n_events
FROM runs
"""

_ORACLE_REL_PRIORITY_LINES = """
SELECT l.l_returnflag,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE CAST(l.l_shipdate AS DATE) >= DATE '1996-01-01'
  AND CAST(l.l_shipdate AS DATE) <  DATE '1997-01-01'
GROUP BY 1
"""

_ORACLE_SCD2_LOOKUP = f"""
WITH {_CONV}, {_SESS},
m AS (
  SELECT user_id, session_id, channel_name, event_ts,
         CASE WHEN lag(channel_name) OVER (PARTITION BY user_id
                ORDER BY event_ts, session_id) IS DISTINCT FROM channel_name
              THEN 1 ELSE 0 END AS chg
  FROM sess
),
v AS (
  SELECT user_id, channel_name, event_ts,
         SUM(chg) OVER (PARTITION BY user_id ORDER BY event_ts, session_id
                        ROWS UNBOUNDED PRECEDING) AS version
  FROM m
),
runs AS (
  SELECT user_id, CAST(version AS BIGINT) AS version, channel_name,
         CAST(MIN(epoch_us(event_ts)) AS BIGINT) AS valid_from_us
  FROM v GROUP BY 1, 2, 3
),
dim AS (
  SELECT user_id, version, channel_name, valid_from_us,
         COALESCE(CAST(lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY version) AS BIGINT),
                  CAST(-1 AS BIGINT)) AS valid_to_us
  FROM runs
)
SELECT c.conv_id, c.user_id, d.version, d.channel_name
FROM conv c
JOIN dim d ON c.user_id = d.user_id
WHERE d.valid_from_us <= epoch_us(c.conv_ts)
  AND (d.valid_to_us = -1 OR epoch_us(c.conv_ts) < d.valid_to_us)
"""

# L133 RFM segmentation: quintile = 1 + (5*(rank-1)) // n over the
# (metric, custkey) total order — the two-phase Spark rank equals the
# oracle's single ROW_NUMBER because the rank depends only on the
# total order, not the partitioning.  Recency is inverted (n+1-rank)
# so score 5 = most recent on every axis.
_ORACLE_RFM_SEGMENTS = """
WITH per_cust AS MATERIALIZED (
  SELECT o_custkey AS custkey,
         MAX(CAST(o_orderdate AS DATE)) AS last_d,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS monetary_cents
  FROM orders GROUP BY 1
),
anch AS (SELECT MAX(last_d) AS a FROM per_cust),
base AS (
  SELECT custkey, frequency, monetary_cents,
         CAST(date_diff('day', last_d, a) AS BIGINT) AS recency_days,
         CAST(COUNT(*) OVER () AS BIGINT) AS n
  FROM per_cust, anch
),
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (ORDER BY recency_days, custkey) AS rr,
         ROW_NUMBER() OVER (ORDER BY frequency, custkey)    AS rf,
         ROW_NUMBER() OVER (ORDER BY monetary_cents, custkey) AS rm
  FROM base
)
SELECT custkey, recency_days, frequency, monetary_cents,
       CAST(1 + (5 * ((n + 1 - rr) - 1)) // n AS INTEGER) AS r_score,
       CAST(1 + (5 * (rf - 1)) // n AS INTEGER)           AS f_score,
       CAST(1 + (5 * (rm - 1)) // n AS INTEGER)           AS m_score
FROM ranked
"""

# L134 survival analysis: the KM recurrence is replayed with WITH
# RECURSIVE over the materialized risk table — every step is integer
# (truncating //), so it is bit-identical to the Spark driver loop.
_ORACLE_SURVIVAL_KM = """
WITH RECURSIVE durs AS MATERIALIZED (
  SELECT user_id,
         CASE WHEN MIN(CASE WHEN event_type = 'purchase' THEN ts END) IS NOT NULL
              THEN CAST(date_diff('day', CAST(MIN(ts) AS DATE),
                        CAST(MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS DATE)) AS BIGINT)
              ELSE CAST(date_diff('day', CAST(MIN(ts) AS DATE),
                        CAST(MAX(ts) AS DATE)) AS BIGINT) END AS offset_days,
         CASE WHEN MIN(CASE WHEN event_type = 'purchase' THEN ts END) IS NOT NULL
              THEN 1 ELSE 0 END AS event
  FROM events GROUP BY user_id
),
day AS MATERIALIZED (
  SELECT offset_days,
         CAST(SUM(event) AS BIGINT) AS n_conv,
         CAST(SUM(1 - event) AS BIGINT) AS n_censored
  FROM durs GROUP BY 1
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM durs),
risk AS MATERIALIZED (
  SELECT offset_days, n_conv, n_censored,
         CAST(n - COALESCE(SUM(n_conv + n_censored) OVER (
             ORDER BY offset_days ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS n_risk,
         ROW_NUMBER() OVER (ORDER BY offset_days) AS rn
  FROM day, tot
),
km(rn, s) AS (
  SELECT CAST(0 AS BIGINT), CAST(1000000000 AS BIGINT)
  UNION ALL
  SELECT r.rn, km.s * (r.n_risk - r.n_conv) // r.n_risk
  FROM km JOIN risk r ON r.rn = km.rn + 1
)
SELECT r.offset_days, r.n_risk, r.n_conv, r.n_censored,
       CAST((r.n_conv * 1048576) // r.n_risk AS BIGINT) AS hazard_q20,
       CAST(k.s AS BIGINT) AS survival_e9
FROM risk r JOIN km k ON k.rn = r.rn
"""

# L135 basket pairs: lift_q20 = pair*n*2^20 // (cnt_a*cnt_b) in
# HUGEINT — truncating, matching Spark DECIMAL(38,0) div.
_ORACLE_REL_BASKET_PAIRS = """
WITH items AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS okey, l_partkey AS item FROM lineitem
),
capped AS MATERIALIZED (
  SELECT i.* FROM items i
  JOIN (SELECT okey FROM items GROUP BY okey HAVING COUNT(*) <= 8) s USING (okey)
),
tot AS (SELECT CAST(COUNT(DISTINCT okey) AS BIGINT) AS n_orders FROM capped),
sup AS MATERIALIZED (
  SELECT item, CAST(COUNT(*) AS BIGINT) AS cnt FROM capped GROUP BY 1
),
pairs AS (
  SELECT a.item AS item_a, b.item AS item_b, CAST(COUNT(*) AS BIGINT) AS pair_cnt
  FROM capped a JOIN capped b ON a.okey = b.okey AND a.item < b.item
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
)
SELECT p.item_a, p.item_b, p.pair_cnt,
       sa.cnt AS cnt_a, sb.cnt AS cnt_b, t.n_orders,
       CAST(CAST(p.pair_cnt AS HUGEINT) * t.n_orders * 1048576
            // (CAST(sa.cnt AS HUGEINT) * sb.cnt) AS BIGINT) AS lift_q20
FROM pairs p
JOIN sup sa ON sa.item = p.item_a
JOIN sup sb ON sb.item = p.item_b, tot t
"""

# L137 sequence packing: the two-phase Spark prefix sum equals the
# oracle's single window over the same (bucket, hash, id) total
# order; all integer.
_ORACLE_PACK_SEQUENCES = """
WITH base AS MATERIALIZED (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|pack'), 1, 15) AS BIGINT) AS h
  FROM documents WHERE n_chars > 0
),
ordered AS (
  SELECT doc_id, w,
         CAST(COALESCE(SUM(w) OVER (
             ORDER BY h % 256, h, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
  FROM base
)
SELECT doc_id, w AS n_chars, off AS "offset",
       CAST(off // 4096 AS BIGINT) AS seq_first,
       CAST((off + w - 1) // 4096 AS BIGINT) AS seq_last,
       CAST((off + w - 1) // 4096 - off // 4096 + 1 AS BIGINT) AS n_seqs
FROM ordered
"""

# __spark_entry__.q_pack_fragmentation: derived aggregate over the
# L137 packing manifest (the full pack oracle as a derived table)
_ORACLE_PACK_FRAGMENTATION = f"""
WITH m AS ({_ORACLE_PACK_SEQUENCES}),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt FROM m)
SELECT n_seqs,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST((2 * COUNT(*) * 1048576 + tot.nt) // (2 * tot.nt) AS BIGINT)
         AS doc_share_q20
FROM m, tot
GROUP BY n_seqs, tot.nt
"""

# L138 UCB1: integer evidence columns; the index is irrational
# (sqrt/ln) so q20 per the float policy.
_ORACLE_BANDIT_UCB = f"""
WITH {_CONV}, {_SESS}, {_JOURNEYS},
converted AS (SELECT DISTINCT session_id FROM journeys),
arm AS (
  SELECT s.channel_name,
         CAST(COUNT(*) AS BIGINT) AS plays,
         CAST(SUM(CASE WHEN c.session_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS reward_sum
  FROM sess s LEFT JOIN converted c USING (session_id)
  GROUP BY 1
),
tot AS (SELECT CAST(SUM(plays) AS BIGINT) AS n_total FROM arm)
SELECT channel_name, plays, reward_sum, n_total,
       CAST(FLOOR((CAST(reward_sum AS DOUBLE) / plays
            + sqrt(2.0 * ln(CAST(n_total AS DOUBLE)) / plays)) * 1048576 + 0.5) AS BIGINT)
         AS ucb_q20
FROM arm, tot
"""

# L139 triangle count: naive a<b<c three-way join over the same
# canonical (min, max) edge set the Spark side orients — the count is
# orientation-invariant, so the oracle needn't mirror the plan.
_ORACLE_REL_TRIANGLE_COUNT = """
WITH items AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS okey, l_partkey AS item FROM lineitem
),
capped AS MATERIALIZED (
  SELECT i.* FROM items i
  JOIN (SELECT okey FROM items GROUP BY okey HAVING COUNT(*) <= 8) s USING (okey)
),
edges AS MATERIALIZED (
  SELECT a.item AS a, b.item AS b
  FROM capped a JOIN capped b ON a.okey = b.okey AND a.item < b.item
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
nodes AS (
  SELECT DISTINCT v FROM (SELECT a AS v FROM edges UNION ALL SELECT b FROM edges)
),
tri AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS t
  FROM edges e1
  JOIN edges e2 ON e2.a = e1.b
  JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
)
SELECT CAST((SELECT COUNT(*) FROM nodes) AS BIGINT) AS n_nodes,
       CAST((SELECT COUNT(*) FROM edges) AS BIGINT) AS n_edges,
       (SELECT t FROM tri) AS n_triangles
"""

# L140 stratified sample: Hamilton quotas in HUGEINT (== Spark
# DECIMAL(38,0) div/%), selection by the same (bucket, hash, id)
# order the grouped two-phase rank uses.
_ORACLE_STRATIFIED_SAMPLE = """
WITH per AS MATERIALIZED (
  SELECT source AS s, CAST(COUNT(*) AS BIGINT) AS stratum_n FROM documents GROUP BY 1
),
tots AS (SELECT CAST(SUM(stratum_n) AS HUGEINT) AS tot FROM per),
scaled AS (
  SELECT s, stratum_n,
         CAST(CAST(137 AS HUGEINT) * stratum_n // tot AS BIGINT) AS base,
         CAST(137 AS HUGEINT) * stratum_n % tot AS rem
  FROM per, tots
),
quotas AS (
  SELECT s AS source, stratum_n,
         LEAST(stratum_n,
               base + CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, s ASC)
                                <= 137 - SUM(base) OVER () THEN 1 ELSE 0 END) AS quota
  FROM scaled
),
ranked AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|strat'), 1, 15) AS BIGINT) % 64,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|strat'), 1, 15) AS BIGINT),
             doc_id) AS rank
  FROM documents
)
SELECT r.doc_id, r.source, q.stratum_n, CAST(q.quota AS BIGINT) AS quota,
       CAST(r.rank AS BIGINT) AS rank
FROM ranked r JOIN quotas q USING (source)
WHERE r.rank <= q.quota
"""

# L141 embedding quantization: generate_subscripts is 1-based and
# posexplode 0-based — irrelevant cross-engine, the join is within
# one engine; the code VALUES and their dim order are what the
# string_agg/md5 pins.
_ORACLE_EMBED_QUANTIZE = """
WITH ex AS MATERIALIZED (
  SELECT vec_id,
         CAST(unnest(embedding) AS DOUBLE) AS x,
         generate_subscripts(embedding, 1) AS d
  FROM embeddings
),
stats AS MATERIALIZED (
  SELECT d, MIN(x) AS mn, MAX(x) AS mx FROM ex GROUP BY d
),
codes AS (
  SELECT e.vec_id, e.d,
         CASE WHEN s.mx = s.mn THEN CAST(0 AS BIGINT)
              ELSE CAST(FLOOR((e.x - s.mn) / (s.mx - s.mn) * 255.0 + 0.5) AS BIGINT) END AS c
  FROM ex e JOIN stats s USING (d)
)
SELECT vec_id,
       CAST(COUNT(*) AS BIGINT) AS n_dims,
       CAST(SUM(c) AS BIGINT) AS code_sum,
       CAST(MIN(c) AS BIGINT) AS code_min,
       CAST(MAX(c) AS BIGINT) AS code_max,
       md5(string_agg(CAST(c AS VARCHAR), ',' ORDER BY d)) AS codes_md5
FROM codes GROUP BY vec_id
"""

# L142 path motifs: consecutive-triple stitch via rn equi-joins.
_ORACLE_PATH_MOTIFS = f"""
WITH {_CONV}, {_SESS}, {_JOURNEYS},
base AS MATERIALIZED (
  SELECT conversion_id AS cid, channel_label AS ch,
         ROW_NUMBER() OVER (PARTITION BY conversion_id
                            ORDER BY event_ts, session_id) AS rn
  FROM journeys
)
SELECT b1.ch AS c1, b2.ch AS c2, b3.ch AS c3,
       CAST(COUNT(*) AS BIGINT) AS n_motif,
       CAST(COUNT(DISTINCT b1.cid) AS BIGINT) AS n_journeys
FROM base b1
JOIN base b2 ON b2.cid = b1.cid AND b2.rn = b1.rn + 1
JOIN base b3 ON b3.cid = b1.cid AND b3.rn = b1.rn + 2
GROUP BY 1, 2, 3 HAVING COUNT(*) >= 2
"""

# L143 item recommendations: basket CTEs + symmetrize + deterministic
# per-item top-3 window.
_ORACLE_REL_ITEM_RECS = """
WITH items AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS okey, l_partkey AS item FROM lineitem
),
capped AS MATERIALIZED (
  SELECT i.* FROM items i
  JOIN (SELECT okey FROM items GROUP BY okey HAVING COUNT(*) <= 8) s USING (okey)
),
tot AS (SELECT CAST(COUNT(DISTINCT okey) AS BIGINT) AS n_orders FROM capped),
sup AS MATERIALIZED (
  SELECT item, CAST(COUNT(*) AS BIGINT) AS cnt FROM capped GROUP BY 1
),
pairs AS (
  SELECT a.item AS item_a, b.item AS item_b, CAST(COUNT(*) AS BIGINT) AS pair_cnt
  FROM capped a JOIN capped b ON a.okey = b.okey AND a.item < b.item
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
enriched AS MATERIALIZED (
  SELECT p.item_a, p.item_b, p.pair_cnt,
         CAST(CAST(p.pair_cnt AS HUGEINT) * t.n_orders * 1048576
              // (CAST(sa.cnt AS HUGEINT) * sb.cnt) AS BIGINT) AS lift_q20
  FROM pairs p
  JOIN sup sa ON sa.item = p.item_a
  JOIN sup sb ON sb.item = p.item_b, tot t
),
sym AS (
  SELECT item_a AS item, item_b AS rec, pair_cnt, lift_q20 FROM enriched
  UNION ALL
  SELECT item_b, item_a, pair_cnt, lift_q20 FROM enriched
)
SELECT item, rec, CAST(rk AS BIGINT) AS rank, pair_cnt, lift_q20
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY item
          ORDER BY lift_q20 DESC, pair_cnt DESC, rec ASC) AS rk FROM sym)
WHERE rk <= 3
"""

# L144 NB language ID: counts exact; ln quantized to q20 at the same
# points as the Spark plan; scoring is integer sums -> bit-stable
# argmax.
_ORACLE_NB_LANGID = """
WITH nd AS MATERIALIZED (
  SELECT doc_id, lang, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
  FROM documents
),
toksf AS MATERIALIZED (
  SELECT doc_id, lang, w AS word
  FROM (SELECT doc_id, lang, unnest(string_split(norm, ' ')) AS w FROM nd)
  WHERE w <> ''
),
counts AS MATERIALIZED (
  SELECT lang AS label, word, CAST(COUNT(*) AS BIGINT) AS c FROM toksf GROUP BY 1, 2
),
tot AS MATERIALIZED (SELECT label, CAST(SUM(c) AS BIGINT) AS tot FROM counts GROUP BY 1),
vocab AS (SELECT CAST(COUNT(DISTINCT word) AS BIGINT) AS v FROM counts),
ndocs AS (SELECT lang AS label, CAST(COUNT(*) AS BIGINT) AS n_l FROM documents GROUP BY 1),
nall AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
classes AS MATERIALIZED (
  SELECT d.label,
         CAST(FLOOR(ln(CAST(d.n_l AS DOUBLE) / a.n) * 1048576 + 0.5) AS BIGINT) AS prior_q20,
         CAST(FLOOR(ln(1.0 / (t.tot + vv.v)) * 1048576 + 0.5) AS BIGINT) AS unseen_q20
  FROM ndocs d JOIN tot t ON t.label = d.label, nall a, vocab vv
),
weights AS MATERIALIZED (
  SELECT c.label, c.word,
         CAST(FLOOR(ln(CAST(c.c + 1 AS DOUBLE) / (t.tot + vv.v)) * 1048576 + 0.5) AS BIGINT) AS w_q20
  FROM counts c JOIN tot t ON t.label = c.label, vocab vv
),
tf AS MATERIALIZED (
  SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf FROM toksf GROUP BY 1, 2
),
doc_tot AS MATERIALIZED (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS tf_total FROM tf GROUP BY 1),
matched AS MATERIALIZED (
  SELECT t.doc_id, w.label,
         CAST(SUM(t.tf * w.w_q20) AS BIGINT) AS w_matched,
         CAST(SUM(t.tf) AS BIGINT) AS tf_matched
  FROM tf t JOIN weights w USING (word) GROUP BY 1, 2
),
scored AS (
  SELECT dt.doc_id, c.label,
         c.prior_q20 + COALESCE(m.w_matched, 0)
           + (dt.tf_total - COALESCE(m.tf_matched, 0)) * c.unseen_q20 AS score_q20
  FROM doc_tot dt CROSS JOIN classes c
  LEFT JOIN matched m ON m.doc_id = dt.doc_id AND m.label = c.label
),
pred AS (
  SELECT doc_id, label AS pred_label
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
            ORDER BY score_q20 DESC, label ASC) AS rk FROM scored)
  WHERE rk = 1
)
SELECT d.lang, p.pred_label, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM documents d JOIN pred p USING (doc_id)
GROUP BY 1, 2
"""

# L145 Benford screen: digit from the decimal string (exact), masses
# in q20.
_ORACLE_BENFORD_SCREEN = """
WITH pos AS (
  SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS c FROM orders
  WHERE CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) > 0
),
per AS MATERIALIZED (
  SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INTEGER) AS digit,
         CAST(COUNT(*) AS BIGINT) AS n_observed
  FROM pos GROUP BY 1
),
tot AS (SELECT CAST(SUM(n_observed) AS BIGINT) AS n_total FROM per)
SELECT digit, n_observed, n_total,
       (n_observed * 1048576) // n_total AS observed_q20,
       CAST(FLOOR(log10(1.0 + 1.0 / digit) * 1048576 + 0.5) AS BIGINT) AS expected_q20,
       (n_observed * 1048576) // n_total
         - CAST(FLOOR(log10(1.0 + 1.0 / digit) * 1048576 + 0.5) AS BIGINT) AS deviation_q20
FROM per, tot
"""

# L146 stream-static enrich parity: Spark's window('1 day') buckets
# are epoch-aligned UTC days == date_trunc('day').
_ORACLE_STREAM_ENRICH = """
SELECT strftime(date_trunc('day', e.ts), '%Y-%m-%d') AS day,
       c.c_mktsegment AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(CAST(ROUND(e.value * 100, 0) AS BIGINT)) AS BIGINT) AS total_value_cents
FROM events e JOIN customer c ON e.user_id = c.c_custkey
WHERE e.event_type <> 'purchase'
GROUP BY 1, 2
"""

_ORACLE_GREEDY_COVERAGE = _greedy_coverage_oracle(8)

# L148 isotonic calibration: minimax closed form over the bounded
# bucket grid; q20-quantized interval means make max/min exact.
_ORACLE_ISOTONIC_CALIBRATION = f"""
WITH {_CONV}, {_SESS}, {_JOURNEYS},
converted AS (SELECT DISTINCT session_id FROM journeys),
outcomes AS MATERIALIZED (
  SELECT CAST(ROUND(s.value * 100, 0) AS BIGINT) // 2500 AS bucket,
         CASE WHEN c.session_id IS NOT NULL THEN 1 ELSE 0 END AS hit
  FROM sess s LEFT JOIN converted c USING (session_id)
),
per AS MATERIALIZED (
  SELECT bucket AS b, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(hit) AS BIGINT) AS conv
  FROM outcomes GROUP BY 1
),
pref AS MATERIALIZED (
  SELECT b, n, conv,
         CAST(SUM(n) OVER (ORDER BY b) AS BIGINT) AS cn,
         CAST(SUM(conv) OVER (ORDER BY b) AS BIGINT) AS cs
  FROM per
),
spans AS MATERIALIZED (
  SELECT j.b AS j, k.b AS k,
         ((k.cs - (j.cs - j.conv)) * 1048576) // (k.cn - (j.cn - j.n)) AS avg_q20
  FROM pref j, pref k WHERE j.b <= k.b
),
mins AS MATERIALIZED (
  SELECT s.j, p.b AS i, MIN(s.avg_q20) AS mn
  FROM spans s JOIN per p ON s.j <= p.b AND s.k >= p.b
  GROUP BY 1, 2
),
fit AS (SELECT i, CAST(MAX(mn) AS BIGINT) AS iso_rate_q20 FROM mins GROUP BY 1)
SELECT p.b AS bucket, p.n, p.conv AS conversions,
       (p.conv * 1048576) // p.n AS raw_rate_q20,
       f.iso_rate_q20
FROM per p JOIN fit f ON f.i = p.b
"""

# L149 CUSUM: cusum'_t = N*prefix_t - t*S, exact longs; peak by
# (|cusum| DESC, day ASC).
_ORACLE_CUSUM_CHANGEPOINT = """
WITH daily AS MATERIALIZED (
  SELECT strftime(ts, '%Y-%m-%d') AS day,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS day_cents
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(day_cents) AS BIGINT) AS s FROM daily),
curve AS MATERIALIZED (
  SELECT day, day_cents,
         CAST(n * SUM(day_cents) OVER (ORDER BY day)
              - ROW_NUMBER() OVER (ORDER BY day) * s AS BIGINT) AS cusum_scaled
  FROM daily, tot
),
peak AS (SELECT day AS peak_day FROM curve ORDER BY abs(cusum_scaled) DESC, day ASC LIMIT 1)
SELECT c.day, c.day_cents, c.cusum_scaled,
       CAST(CASE WHEN c.day = p.peak_day THEN 1 ELSE 0 END AS BIGINT) AS is_peak
FROM curve c, peak p
"""

# L150 hashing-trick features: md5 bucket hash == Spark conv(md5);
# vector pinned by the ascending "idx:cnt" string.
_ORACLE_HASHED_FEATURES = """
WITH nd AS MATERIALIZED (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm FROM documents
),
terms AS MATERIALIZED (
  SELECT doc_id, t AS term
  FROM (SELECT doc_id, unnest(string_split(norm, ' ')) AS t FROM nd) WHERE t <> ''
),
cells AS MATERIALIZED (
  SELECT doc_id,
         CAST('0x' || substr(md5(term || '|feat'), 1, 15) AS BIGINT) % 64 AS idx,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM terms GROUP BY 1, 2
)
SELECT doc_id,
       CAST(SUM(cnt) AS BIGINT) AS n_terms,
       CAST(COUNT(*) AS BIGINT) AS nnz,
       md5(string_agg(CAST(idx AS VARCHAR) || ':' || CAST(cnt AS VARCHAR), ' ' ORDER BY idx)) AS vec_md5
FROM cells GROUP BY 1
"""

_ORACLE_REL_KCORE = _kcore_oracle(2, 12)

# L152 weighted median: lower weighted median via the tie-order-
# invariant min-over-passing-rows cut (2*cum >= tot).
_ORACLE_WEIGHTED_MEDIAN = """
WITH vals AS MATERIALIZED (
  SELECT l_returnflag AS grp,
         CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS v,
         CAST(ROUND(l_quantity, 0) AS BIGINT) AS w
  FROM lineitem
),
cum AS (
  SELECT grp, v, w,
         CAST(SUM(w) OVER (PARTITION BY grp ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c,
         CAST(SUM(w) OVER (PARTITION BY grp) AS BIGINT) AS tot
  FROM vals
)
SELECT grp AS l_returnflag, MIN(v) AS wmedian, MAX(tot) AS total_weight
FROM cum WHERE 2 * c >= tot GROUP BY 1
"""

# L153 gapped sequence patterns: first-occurrence collapse then two
# ordered joins.
_ORACLE_SEQUENCE_PATTERNS = f"""
WITH {_CONV}, {_SESS}, {_JOURNEYS},
firsts AS MATERIALIZED (
  SELECT cid, ch, MIN(rn) AS r FROM (
    SELECT conversion_id AS cid, channel_label AS ch,
           ROW_NUMBER() OVER (PARTITION BY conversion_id
                              ORDER BY event_ts, session_id) AS rn
    FROM journeys
  ) GROUP BY 1, 2
)
SELECT a.ch AS c1, b.ch AS c2, c.ch AS c3,
       CAST(COUNT(*) AS BIGINT) AS n_journeys
FROM firsts a
JOIN firsts b ON b.cid = a.cid AND a.r < b.r
JOIN firsts c ON c.cid = a.cid AND b.r < c.r
GROUP BY 1, 2, 3 HAVING COUNT(*) >= 2
"""

# L154 pseudonymization: token = md5('maef-pseudo-v1|' || id); the
# mapping join must recover every id.
_ORACLE_PSEUDONYMIZE = """
WITH pseudo AS MATERIALIZED (
  SELECT event_type,
         md5('maef-pseudo-v1|' || CAST(user_id AS VARCHAR)) AS token,
         user_id AS orig
  FROM events
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT token) AS BIGINT) AS n_tokens,
       CAST(COUNT(DISTINCT orig) AS BIGINT) AS n_users_recovered,
       CAST(SUM(CASE WHEN orig IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unrecovered
FROM pseudo GROUP BY 1
"""

# L136 robust stats: exact rank-based 5% trim; ties have equal cents
# so the row_number tiebreak cannot change any emitted value.
_ORACLE_ROBUST_STATS = f"""
WITH {_SESS},
vals AS MATERIALIZED (
  SELECT channel_name AS grp,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS v,
         session_id AS tb
  FROM sess
),
ranked AS (
  SELECT grp, v,
         ROW_NUMBER() OVER (PARTITION BY grp ORDER BY v, tb) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY grp) AS BIGINT) AS n
  FROM vals
),
sized AS (SELECT *, (5 * n) // 100 AS k FROM ranked),
agg AS (
  SELECT grp AS channel_name,
         MAX(n) AS n,
         CAST(MAX(k) AS BIGINT) AS k_trimmed,
         CAST(SUM(v) AS BIGINT) AS raw_sum_cents,
         CAST(SUM(CASE WHEN rn > k AND rn <= n - k THEN v END) AS BIGINT) AS trimmed_sum_cents,
         MAX(CASE WHEN rn = k + 1 THEN v END) AS lo_clip_cents,
         MAX(CASE WHEN rn = n - k THEN v END) AS hi_clip_cents
  FROM sized GROUP BY 1
)
SELECT channel_name, n, k_trimmed, raw_sum_cents, trimmed_sum_cents,
       CAST(trimmed_sum_cents + k_trimmed * (lo_clip_cents + hi_clip_cents) AS BIGINT)
         AS winsorized_sum_cents,
       lo_clip_cents, hi_clip_cents
FROM agg
"""

_ORACLE_GINI_CHANNEL = """
WITH per AS MATERIALIZED (
  SELECT event_type AS channel, user_id AS u,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM events WHERE event_type <> 'purchase' GROUP BY 1, 2
),
rk AS (
  SELECT channel, cents,
         ROW_NUMBER() OVER (PARTITION BY channel ORDER BY cents, u) AS r
  FROM per
),
ag AS (
  SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_units,
         CAST(SUM(cents) AS BIGINT) AS total_cents,
         SUM(CAST(r AS HUGEINT) * cents) AS s1
  FROM rk GROUP BY 1
)
SELECT channel, n_units, total_cents,
       CASE WHEN total_cents <= 0 THEN CAST(0 AS BIGINT)
            ELSE CAST((2 * s1 - (CAST(n_units AS HUGEINT) + 1) * total_cents)
                      * 1048576 // (CAST(n_units AS HUGEINT) * total_cents) AS BIGINT)
       END AS gini_q20
FROM ag
"""

# the SAME double-expression text the Spark side evaluates
# (operators/experiments.py) — single source of truth for the formula
from marketing_attribution_etl_framework__maef_spark.operators.experiments import (
    _WILSON_CENTER,
    _WILSON_HALF,
)

_ORACLE_WILSON_RATES = f"""
WITH touch AS MATERIALIZED (
  SELECT DISTINCT event_type AS channel, user_id
  FROM events WHERE event_type <> 'purchase'
),
buyers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
per AS (
  SELECT channel, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN b.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS s
  FROM touch t LEFT JOIN buyers b USING (user_id) GROUP BY 1
)
SELECT channel, n, s,
       CAST(floor((({_WILSON_CENTER}) - ({_WILSON_HALF})) * 1048576 + 0.5e0) AS BIGINT) AS lo_q20,
       CAST(floor((({_WILSON_CENTER}) + ({_WILSON_HALF})) * 1048576 + 0.5e0) AS BIGINT) AS hi_q20
FROM per
"""

_ORACLE_DID_LIFT = f"""
WITH asg AS MATERIALIZED (
  SELECT user_id,
         CAST(CAST('0x' || substr(md5(CAST(user_id AS VARCHAR) || '|did'), 1, 15) AS BIGINT) % 2 AS INT) AS treated
  FROM (SELECT DISTINCT user_id FROM events)
),
arm AS (SELECT treated, CAST(COUNT(*) AS BIGINT) AS arm_users FROM asg GROUP BY 1),
buys AS (
  SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
cells AS (
  SELECT a.treated, CASE WHEN b.day >= '{DID_CUTOVER}' THEN 1 ELSE 0 END AS post,
         CAST(SUM(b.cents) AS BIGINT) AS cell_cents
  FROM buys b JOIN asg a USING (user_id) GROUP BY 1, 2
),
mq AS (
  SELECT c.treated, c.post,
         CAST(CAST(cell_cents AS HUGEINT) * 1048576 // arm_users AS BIGINT) AS mean_q20
  FROM cells c JOIN arm USING (treated)
),
flat AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN treated = 1 AND post = 0 THEN mean_q20 END), 0) AS BIGINT) AS t_pre_q20,
         CAST(COALESCE(SUM(CASE WHEN treated = 1 AND post = 1 THEN mean_q20 END), 0) AS BIGINT) AS t_post_q20,
         CAST(COALESCE(SUM(CASE WHEN treated = 0 AND post = 0 THEN mean_q20 END), 0) AS BIGINT) AS c_pre_q20,
         CAST(COALESCE(SUM(CASE WHEN treated = 0 AND post = 1 THEN mean_q20 END), 0) AS BIGINT) AS c_post_q20
  FROM mq
)
SELECT *, CAST((t_post_q20 - t_pre_q20) - (c_post_q20 - c_pre_q20) AS BIGINT) AS did_q20
FROM flat
"""

_ORACLE_EWMA_FORECAST = f"""
WITH {_DAILY_CENTS},
dec AS MATERIALIZED (
  SELECT t.channel, t.event_day,
         SUM(i.cents * (CAST(1 AS BIGINT) <<
             (7 - date_diff('day', CAST(i.event_day AS DATE), CAST(t.event_day AS DATE))))) AS num
  FROM daily t JOIN daily i
    ON t.channel = i.channel
   AND CAST(i.event_day AS DATE) <= CAST(t.event_day AS DATE)
   AND CAST(i.event_day AS DATE) >= CAST(t.event_day AS DATE) - 7
  GROUP BY 1, 2
),
scored AS (
  SELECT d.channel, abs(CAST(d.cents AS HUGEINT) * 255 - p.num) AS ae
  FROM daily d JOIN dec p
    ON p.channel = d.channel
   AND CAST(p.event_day AS DATE) = CAST(d.event_day AS DATE) - 1
)
SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_scored,
       CAST(SUM(ae) * 1048576 // (CAST(COUNT(*) AS HUGEINT) * 255) AS BIGINT) AS mae_cents_q20
FROM scored GROUP BY 1
"""

_ORACLE_SEASONAL_NAIVE = f"""
WITH {_DAILY_CENTS},
scored AS (
  SELECT d.channel, abs(d.cents - p.cents) AS ae
  FROM daily d JOIN daily p
    ON p.channel = d.channel
   AND CAST(p.event_day AS DATE) = CAST(d.event_day AS DATE) - 7
)
SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_scored,
       CAST(SUM(ae) AS BIGINT) AS sum_abs_err_cents,
       CAST(CAST(SUM(ae) AS HUGEINT) * 1048576 // COUNT(*) AS BIGINT) AS mae_cents_q20
FROM scored GROUP BY 1
"""

_ORACLE_REL_GROUPING_SETS = """
WITH rev AS MATERIALIZED (
  SELECT n.n_name,
         CAST(year(CAST(o.o_orderdate AS DATE)) AS BIGINT) AS oyear,
         CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
)
SELECT n_name, oyear,
       CAST(GROUPING(n_name) AS BIGINT) AS g_nation,
       CAST(GROUPING(oyear) AS BIGINT) AS g_year,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(cents) AS BIGINT) AS cents
FROM rev GROUP BY GROUPING SETS ((n_name), (oyear), ())
"""

_ORACLE_SKYLINE_DAYS = """
WITH per AS MATERIALIZED (
  SELECT strftime(ts, '%Y-%m-%d') AS day,
         CAST(SUM(CASE WHEN event_type <> 'purchase'
                       THEN CAST(ROUND(value * 100, 0) AS BIGINT) ELSE 0 END) AS BIGINT) AS cost_cents,
         CAST(SUM(CASE WHEN event_type = 'purchase'
                       THEN CAST(ROUND(value * 100, 0) AS BIGINT) ELSE 0 END) AS BIGINT) AS rev_cents
  FROM events GROUP BY 1
)
SELECT day, cost_cents, rev_cents
FROM per p
WHERE NOT EXISTS (
  SELECT 1 FROM per q
  WHERE q.cost_cents <= p.cost_cents AND q.rev_cents >= p.rev_cents
    AND (q.cost_cents < p.cost_cents OR q.rev_cents > p.rev_cents)
)
"""

_ORACLE_LABEL_PROPAGATION = """
WITH items AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS okey, l_partkey AS item FROM lineitem
),
capped AS MATERIALIZED (
  SELECT i.* FROM items i
  JOIN (SELECT okey FROM items GROUP BY okey HAVING COUNT(*) <= 8) s USING (okey)
),
pairs AS MATERIALIZED (
  SELECT a.item AS a, b.item AS b
  FROM capped a JOIN capped b ON a.okey = b.okey AND a.item < b.item
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
bidir AS MATERIALIZED (
  SELECT a, b FROM pairs UNION ALL SELECT b AS a, a AS b FROM pairs
),
l0 AS MATERIALIZED (SELECT DISTINCT a AS node, a AS label FROM bidir),
n1 AS (
  SELECT t.a AS node, l.label, CAST(COUNT(*) AS BIGINT) AS c
  FROM bidir t JOIN l0 l ON l.node = t.b GROUP BY 1, 2
),
l1 AS MATERIALIZED (
  SELECT node, label FROM (
    SELECT node, label,
           ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, label ASC) AS rk
    FROM n1) WHERE rk = 1
),
n2 AS (
  SELECT t.a AS node, l.label, CAST(COUNT(*) AS BIGINT) AS c
  FROM bidir t JOIN l1 l ON l.node = t.b GROUP BY 1, 2
),
l2 AS (
  SELECT node, label FROM (
    SELECT node, label,
           ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, label ASC) AS rk
    FROM n2) WHERE rk = 1
)
SELECT CAST(node AS BIGINT) AS node, CAST(label AS BIGINT) AS label FROM l2
"""

_ORACLE_BIGRAM_SURPRISAL = f"""
WITH {_NORM_RAW},
d AS (SELECT doc_id, string_split(norm, ' ') AS ws FROM nd),
pr AS MATERIALIZED (
  SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
  FROM d, unnest(range(1, len(ws))) AS t(i)
),
uni AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1 FROM pr GROUP BY 1),
bi AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM pr GROUP BY 1, 2),
voc AS (
  SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v
  FROM (SELECT unnest(ws) AS w FROM d) WHERE w <> ''
)
SELECT pr.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(LENGTH(bin((c1 + v) // (c12 + 1))) - 1) AS BIGINT) AS surprisal_bits
FROM pr JOIN bi USING (w1, w2) JOIN uni USING (w1) CROSS JOIN voc
GROUP BY 1
"""

_ORACLE_TEMPERATURE_MIX = """
WITH per AS MATERIALIZED (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1
),
m AS (SELECT *, sqrt(CAST(n_tokens AS DOUBLE)) AS _m FROM per),
t AS (SELECT SUM(_m) AS s FROM m),
b AS MATERIALIZED (
  SELECT source, n_docs, n_tokens,
         CAST(floor(_m / t.s * 1048576 + 0.5e0) AS BIGINT) AS share_q20,
         CAST(floor(1000000e0 * _m / t.s) AS BIGINT) AS _base,
         1000000e0 * _m / t.s - floor(1000000e0 * _m / t.s) AS _frac
  FROM m, t
)
SELECT source, n_docs, n_tokens, share_q20,
       CAST(_base + CASE WHEN ROW_NUMBER() OVER (ORDER BY _frac DESC, source ASC)
                              <= 1000000 - (SELECT SUM(_base) FROM b)
                         THEN 1 ELSE 0 END AS BIGINT) AS alloc
FROM b
"""

_ORACLE_RANDOM_PROJECTION = """
WITH s AS MATERIALIZED (
  SELECT d, j,
         CASE WHEN CAST('0x' || substr(md5(CAST(d AS VARCHAR) || '_' || CAST(j AS VARCHAR)), 1, 15) AS BIGINT) % 2 = 0
              THEN 1e0 ELSE -1e0 END AS sgn
  FROM range(64) t1(d), range(16) t2(j)
),
e AS (
  SELECT vec_id,
         CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS d,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
),
p AS (SELECT vec_id, j, SUM(x * sgn) AS comp FROM e JOIN s USING (d) GROUP BY 1, 2)
SELECT vec_id, CAST(j AS BIGINT) AS j,
       CAST(floor(comp * 1048576 + 0.5e0) AS BIGINT) AS comp_q20
FROM p
"""

_ORACLE_RAKING_IPF = """
WITH base AS MATERIALIZED (
  SELECT event_type AS r,
         CAST(floor(log2(CAST(ROUND(value * 100, 0) AS BIGINT) + 2)) AS INT) AS c,
         event_id
  FROM events WHERE event_type <> 'purchase'
),
samp AS MATERIALIZED (
  SELECT r, c, CAST(COUNT(*) AS BIGINT) AS m FROM base
  WHERE CAST('0x' || substr(md5(CAST(event_id AS VARCHAR) || '|rake'), 1, 15) AS BIGINT) % 2 = 0
  GROUP BY 1, 2
),
rmarg AS MATERIALIZED (SELECT r, CAST(COUNT(*) AS BIGINT) AS tr FROM base GROUP BY 1),
cmarg AS MATERIALIZED (SELECT c, CAST(COUNT(*) AS BIGINT) AS tc FROM base GROUP BY 1),
c0 AS MATERIALIZED (SELECT r, c, CAST(m AS DOUBLE) AS m, 1e0 AS w FROM samp),
r1 AS (SELECT r, SUM(w * m) AS rs FROM c0 GROUP BY 1),
c1 AS MATERIALIZED (
  SELECT c0.r, c0.c, c0.m, c0.w * tr / rs AS w
  FROM c0 JOIN r1 USING (r) JOIN rmarg USING (r)
),
s1 AS (SELECT c, SUM(w * m) AS cs FROM c1 GROUP BY 1),
c2 AS MATERIALIZED (
  SELECT c1.r, c1.c, c1.m, c1.w * tc / cs AS w
  FROM c1 JOIN s1 USING (c) JOIN cmarg USING (c)
),
r2 AS (SELECT r, SUM(w * m) AS rs FROM c2 GROUP BY 1),
c3 AS MATERIALIZED (
  SELECT c2.r, c2.c, c2.m, c2.w * tr / rs AS w
  FROM c2 JOIN r2 USING (r) JOIN rmarg USING (r)
),
s2 AS (SELECT c, SUM(w * m) AS cs FROM c3 GROUP BY 1),
c4 AS (
  SELECT c3.r, c3.c, c3.m, c3.w * tc / cs AS w
  FROM c3 JOIN s2 USING (c) JOIN cmarg USING (c)
)
SELECT r, c, CAST(m AS BIGINT) AS m,
       CAST(floor(w * 1048576 + 0.5e0) AS BIGINT) AS w_q20
FROM c4
"""

_ORACLE_TOP_PATHS = f"""
WITH {_CONV}, {_SESS}, {_JOURNEYS},
paths AS (
  SELECT conversion_id,
         STRING_AGG(channel_label, '>' ORDER BY event_ts, session_id) AS path
  FROM journeys GROUP BY 1
)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_journeys
FROM paths GROUP BY 1
ORDER BY n_journeys DESC, path ASC
LIMIT 10
"""

_ORACLE_USER_MIX_ENTROPY = """
WITH c AS MATERIALIZED (
  SELECT user_id, event_type AS ch, CAST(COUNT(*) AS BIGINT) AS c
  FROM events WHERE event_type <> 'purchase' GROUP BY 1, 2
),
tot AS (SELECT user_id, CAST(SUM(c) AS BIGINT) AS n FROM c GROUP BY 1)
SELECT c.user_id,
       CAST(MAX(n) AS BIGINT) AS n_events,
       CAST(floor(sum((c / CAST(n AS DOUBLE)) * log2(CAST(n AS DOUBLE) / c))
            * 1048576 + 0.5e0) AS BIGINT) AS entropy_q20
FROM c JOIN tot USING (user_id)
GROUP BY 1
"""

_ORACLE_PEAK_CONCURRENCY = """
WITH base AS (
  SELECT user_id, ts, event_id AS tb, event_type AS channel_name
  FROM events WHERE event_type <> 'purchase'
),
lagged AS (
  SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, tb) AS prev_ts
  FROM base
),
brk AS (
  SELECT *, CASE WHEN prev_ts IS NULL THEN 0
                 WHEN epoch_us(ts) - epoch_us(prev_ts) > 30 * 60 * 1000000
                 THEN 1 ELSE 0 END AS b
  FROM lagged
),
g AS (
  SELECT *, SUM(b) OVER (PARTITION BY user_id ORDER BY ts, tb
                         ROWS UNBOUNDED PRECEDING) AS gs
  FROM brk
),
sub AS (
  SELECT *, CAST(FLOOR((ROW_NUMBER() OVER (PARTITION BY user_id, gs
                                           ORDER BY ts, tb) - 1) / 20.0)
                 AS BIGINT) AS sb
  FROM g
),
sess AS MATERIALIZED (
  SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end
  FROM sub GROUP BY user_id, gs, sb
),
bd AS (
  SELECT session_start AS ts, 1 AS delta, user_id AS u FROM sess
  UNION ALL
  SELECT session_end AS ts, -1 AS delta, user_id AS u FROM sess
),
cum AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day, delta,
         SUM(delta) OVER (ORDER BY ts ASC, delta DESC, u ASC
                          ROWS UNBOUNDED PRECEDING) AS c
  FROM bd
)
SELECT day,
       CAST(MAX(c + CASE WHEN delta = -1 THEN 1 ELSE 0 END) AS BIGINT) AS peak,
       CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_starts
FROM cum GROUP BY 1
"""

_ORACLE_CHANNEL_CORRELATION = """
WITH daily AS MATERIALIZED (
  SELECT event_type AS ch, strftime(ts, '%Y-%m-%d') AS day,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM events WHERE event_type <> 'purchase' GROUP BY 1, 2
),
j AS (
  SELECT a.ch AS ch_a, b.ch AS ch_b, a.cents AS xc, b.cents AS yc
  FROM daily a JOIN daily b ON a.day = b.day AND a.ch < b.ch
),
agg AS (
  SELECT ch_a, ch_b, CAST(COUNT(*) AS BIGINT) AS n_days,
         SUM(CAST(xc AS HUGEINT)) AS sx, SUM(CAST(yc AS HUGEINT)) AS sy,
         SUM(CAST(xc AS HUGEINT) * yc) AS sxy,
         SUM(CAST(xc AS HUGEINT) * xc) AS sxx,
         SUM(CAST(yc AS HUGEINT) * yc) AS syy
  FROM j GROUP BY 1, 2
),
m AS (
  SELECT ch_a, ch_b, n_days,
         CAST(n_days AS HUGEINT) * sxy - sx * sy AS num,
         CAST(n_days AS HUGEINT) * sxx - sx * sx AS d1,
         CAST(n_days AS HUGEINT) * syy - sy * sy AS d2
  FROM agg
)
SELECT ch_a, ch_b, n_days,
       CAST(floor(CAST(num AS DOUBLE) / sqrt(CAST(d1 AS DOUBLE) * CAST(d2 AS DOUBLE))
            * 1048576 + 0.5e0) AS BIGINT) AS r_q20
FROM m WHERE d1 > 0 AND d2 > 0
"""

# L172 fertility: the encode oracle wrapped as a derived table and
# re-aggregated to the source grain (DuckDB allows WITH inside a
# parenthesized subquery).
_ORACLE_TOKENIZER_FERTILITY = f"""
SELECT d.source,
       CAST(SUM(e.n_words) AS BIGINT) AS n_words,
       CAST(SUM(e.n_bpe_tokens) AS BIGINT) AS n_bpe_tokens,
       CAST(SUM(CAST(e.n_bpe_tokens AS HUGEINT)) * 1048576
            // SUM(CAST(e.n_words AS HUGEINT)) AS BIGINT) AS fertility_q20
FROM ({_bpe_oracle_sql(8, encode=True)}) e
JOIN documents d USING (doc_id)
GROUP BY 1
"""

# __spark_entry__.q_fertility_drift: the L172 fertility device at
# the even/odd ingest-half grain (frozen tokenizer, same encode CTE)
_ORACLE_FERTILITY_DRIFT = f"""
SELECT CAST(e.doc_id % 2 AS BIGINT) AS half,
       CAST(SUM(e.n_words) AS BIGINT) AS n_words,
       CAST(SUM(e.n_bpe_tokens) AS BIGINT) AS n_bpe_tokens,
       CAST(SUM(CAST(e.n_bpe_tokens AS HUGEINT)) * 1048576
            // SUM(CAST(e.n_words AS HUGEINT)) AS BIGINT) AS fertility_q20
FROM ({_bpe_oracle_sql(8, encode=True)}) e
GROUP BY 1
"""

# __spark_entry__.q_stream_skew: the L300 audit's events.user_id row
# — the streaming user-profile state must reproduce the batch
# key-frequency distribution
_ORACLE_STREAM_SKEW = """
WITH f AS (
  SELECT 'events.user_id' AS relation, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY user_id
),
scal AS (
  SELECT relation,
         CAST(SUM(c) AS BIGINT) AS n_rows,
         CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(MAX(c) AS BIGINT) AS max_rows
  FROM f GROUP BY 1
),
ranked AS (
  SELECT relation, c,
         ROW_NUMBER() OVER (PARTITION BY relation ORDER BY c) AS rn,
         COUNT(*) OVER (PARTITION BY relation) AS n
  FROM f
),
pct AS (
  SELECT relation,
         CAST(MAX(CASE WHEN rn = CAST(CEIL(0.5e0 * n) AS BIGINT) THEN c END)
              AS BIGINT) AS p50_rows,
         CAST(MAX(CASE WHEN rn = CAST(CEIL(0.99e0 * n) AS BIGINT) THEN c END)
              AS BIGINT) AS p99_rows
  FROM ranked GROUP BY 1
)
SELECT s.relation, s.n_rows, s.n_keys, s.max_rows,
       CAST((2 * s.max_rows * 1048576 + s.n_rows) // (2 * s.n_rows)
            AS BIGINT) AS top_share_q20,
       p.p50_rows, p.p99_rows
FROM scal s JOIN pct p USING (relation)
"""

_ORACLE_SOURCE_SIGNATURE_TERMS = """
WITH ex AS MATERIALIZED (
  SELECT source, unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS term
  FROM documents
),
fx AS (SELECT source, term FROM ex WHERE term <> ''),
tf AS MATERIALIZED (SELECT source, term, CAST(COUNT(*) AS BIGINT) AS tf FROM fx GROUP BY 1, 2),
dfx AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
st AS (SELECT CAST(COUNT(DISTINCT source) AS BIGINT) AS s FROM documents),
scored AS (
  SELECT tf.source, tf.term, tf.tf, dfx.df,
         CAST(tf.tf * (LENGTH(bin(st.s // dfx.df)) - 1) AS BIGINT) AS score
  FROM tf JOIN dfx USING (term) CROSS JOIN st
),
rk AS (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY source
                 ORDER BY score DESC, tf DESC, term ASC) AS BIGINT) AS rnk
  FROM scored
)
SELECT source, rnk, term, tf, df, score FROM rk WHERE rnk <= 5
"""


_ORACLE_REL_ROLLUP = """
WITH rev AS MATERIALIZED (
  SELECT n.n_name,
         CAST(year(CAST(o.o_orderdate AS DATE)) AS BIGINT) AS oyear,
         CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
)
SELECT n_name, oyear,
       CAST(GROUPING(n_name) AS BIGINT) AS g_nation,
       CAST(GROUPING(oyear) AS BIGINT) AS g_year,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(cents) AS BIGINT) AS cents
FROM rev GROUP BY ROLLUP (n_name, oyear)
"""

_ORACLE_COHORT_LTV = """
WITH firsts AS MATERIALIZED (
  SELECT user_id, CAST(date_trunc('day', MIN(ts)) AS DATE) AS cohort_period
  FROM events GROUP BY user_id
),
buys AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS buy_day,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
per AS MATERIALIZED (
  SELECT f.cohort_period,
         CAST(date_diff('day', f.cohort_period, b.buy_day) AS BIGINT) AS period_offset,
         CAST(SUM(b.cents) AS BIGINT) AS cents
  FROM buys b JOIN firsts f USING (user_id)
  GROUP BY 1, 2
)
SELECT CAST(cohort_period AS VARCHAR) AS cohort_period, period_offset, cents,
       CAST(SUM(cents) OVER (PARTITION BY cohort_period ORDER BY period_offset
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents
FROM per
"""


_ORACLE_CT_LANGID = """
WITH nd AS (
  SELECT doc_id, lang, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
  FROM documents
),
tri AS MATERIALIZED (
  SELECT doc_id, lang, substring(norm, CAST(i AS INT), 3) AS g
  FROM nd, unnest(range(1, greatest(length(norm) - 1, 1))) AS t(i)
),
lc AS (SELECT lang, g, CAST(COUNT(*) AS BIGINT) AS c FROM tri GROUP BY 1, 2),
lp AS MATERIALIZED (
  SELECT lang, g, lrank FROM (
    SELECT lang, g, CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY c DESC, g ASC) AS BIGINT) AS lrank
    FROM lc) WHERE lrank <= 15
),
dc AS (SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c FROM tri GROUP BY 1, 2),
dp AS MATERIALIZED (
  SELECT doc_id, g, drank FROM (
    SELECT doc_id, g, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, g ASC) AS BIGINT) AS drank
    FROM dc) WHERE drank <= 15
),
langs AS (SELECT DISTINCT lang FROM lp),
scored AS (
  SELECT d.doc_id, l.lang,
         CAST(SUM(COALESCE(abs(d.drank - p.lrank), 15)) AS BIGINT) AS score
  FROM dp d CROSS JOIN langs l
  LEFT JOIN lp p ON p.lang = l.lang AND p.g = d.g
  GROUP BY 1, 2
)
SELECT doc_id, lang AS pred_lang, score FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score ASC, lang ASC) AS rk
  FROM scored) WHERE rk = 1
"""


_ORACLE_ANN_INT8_RERANK = f"""
WITH {_E_NORMED},
ex AS MATERIALIZED (
  SELECT vec_id,
         CAST(unnest(embedding) AS DOUBLE) AS x,
         generate_subscripts(embedding, 1) AS d
  FROM embeddings
),
stats AS MATERIALIZED (
  SELECT d, MIN(x) AS mn, MAX(x) AS mx FROM ex GROUP BY d
),
cl AS MATERIALIZED (
  SELECT vec_id, list(CASE WHEN s.mx = s.mn THEN CAST(0 AS BIGINT)
              ELSE CAST(FLOOR((e.x - s.mn) / (s.mx - s.mn) * 255.0 + 0.5) AS BIGINT) END
              ORDER BY e.d) AS codes
  FROM ex e JOIN stats s USING (d) GROUP BY vec_id
),
cents AS (SELECT vec_id AS centroid_id, v AS cv, vn AS cn FROM e WHERE vec_id < 8),
ascored AS (
  SELECT e.vec_id, c.centroid_id,
         list_dot_product(e.v, c.cv) / (e.vn * c.cn) AS cs
  FROM e, cents c
),
assign AS MATERIALIZED (
  SELECT vec_id, centroid_id AS cluster FROM ascored
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cs DESC, centroid_id) = 1
),
qscored AS (
  SELECT q.query_id, c.centroid_id,
         list_dot_product(q.qv, c.cv) / (q.qn * c.cn) AS cs
  FROM (SELECT vec_id AS query_id, v AS qv, vn AS qn FROM e WHERE vec_id % 50 = 7) q,
       cents c
),
probes AS MATERIALIZED (
  SELECT query_id, centroid_id AS cluster FROM qscored
  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cs DESC, centroid_id) <= 2
),
pairs AS (
  SELECT p.query_id, a.vec_id AS cand_id,
         CAST(list_dot_product(qc.codes, qc.codes) + list_dot_product(cc.codes, cc.codes)
              - 2 * list_dot_product(qc.codes, cc.codes) AS BIGINT) AS d2
  FROM probes p
  JOIN assign a ON p.cluster = a.cluster
  JOIN cl qc ON qc.vec_id = p.query_id
  JOIN cl cc ON cc.vec_id = a.vec_id
  WHERE p.query_id <> a.vec_id
),
cands AS MATERIALIZED (
  SELECT query_id, cand_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2 ASC, cand_id ASC) AS rk
    FROM pairs) WHERE rk <= 12
),
ev AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
),
rer AS (
  SELECT c.query_id, c.cand_id,
         CAST(FLOOR(list_dot_product(qe.v, ce.v)
              / (sqrt(list_dot_product(qe.v, qe.v)) * sqrt(list_dot_product(ce.v, ce.v)))
              * 1048576.0 + 0.5) AS BIGINT) AS cos_q20
  FROM cands c
  JOIN ev qe ON qe.vec_id = c.query_id
  JOIN ev ce ON ce.vec_id = c.cand_id
)
SELECT query_id, CAST(rk AS BIGINT) AS rnk, cand_id AS vec_id, cos_q20 FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_q20 DESC, cand_id ASC) AS rk
  FROM rer) WHERE rk <= 5
"""


_ORACLE_STREAM_TOPK = """
WITH wm AS (SELECT MAX(ts) - INTERVAL 1 HOUR AS w FROM events),
vol AS MATERIALIZED (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP)
           + to_hours(6 * (CAST(extract(hour FROM ts) AS INT) // 6)) AS window_start,
         event_type AS channel_name,
         CAST(COUNT(*) AS BIGINT) AS n_sessions,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS total_value_cents
  FROM events WHERE event_type <> 'purchase'
  GROUP BY 1, 2
)
SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
       CAST(rk AS BIGINT) AS rnk, channel_name, n_sessions, total_value_cents
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY window_start
             ORDER BY total_value_cents DESC, channel_name ASC) AS rk
  FROM vol
  -- append-mode watermark eviction: only CLOSED windows are emitted
  -- (window_end <= max ts - 1h, closed comparison pinned by
  -- test_stream_topk_append_boundary)
  WHERE window_start + INTERVAL 6 HOUR <= (SELECT w FROM wm)
) WHERE rk <= 3
"""

_ORACLE_USER_EXPORT = """
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS first_ts,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS last_ts,
       CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS total_cents,
       md5(string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY ts, event_id)) AS bundle_md5
FROM events WHERE user_id % 97 = 3
GROUP BY user_id
"""


_ORACLE_ATTRIBUTION_BOOTSTRAP = f"""
WITH {_CONV}, {_SESS}, {_JOURNEYS},
lin AS (
  SELECT conversion_id AS conv_id, session_id, channel_label,
         1.0 / COUNT(*) OVER (PARTITION BY conversion_id) AS ihc
  FROM journeys
),
reps AS (
  SELECT l.conv_id, l.channel_label, l.ihc, t.r
  FROM lin l, unnest(range(0, 8)) AS t(r)
  WHERE CAST('0x' || substr(md5(l.conv_id || '|bs' || CAST(t.r AS VARCHAR)), 1, 15) AS BIGINT) % 2 = 0
),
per AS (
  SELECT channel_label, r,
         CAST(SUM(CAST(floor(ihc * 1048576 + 0.5) AS BIGINT)) AS BIGINT) AS credit_q20
  FROM reps GROUP BY 1, 2
)
SELECT channel_label,
       CAST(COUNT(*) AS BIGINT) AS n_resamples,
       CAST(MIN(credit_q20) AS BIGINT) AS min_q20,
       CAST(MAX(credit_q20) AS BIGINT) AS max_q20,
       CAST(CAST(SUM(credit_q20) AS HUGEINT) // COUNT(*) AS BIGINT) AS mean_q20
FROM per GROUP BY 1
"""

_ORACLE_TERM_DRIFT = """
WITH ex AS MATERIALIZED (
  SELECT CAST(doc_id % 2 AS INT) AS half,
         unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS term
  FROM documents
),
fx AS (SELECT half, term FROM ex WHERE term <> ''),
cnt AS (
  SELECT term,
         CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a,
         CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cnt_b
  FROM fx GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
         CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb
  FROM fx
)
SELECT term, cnt_a, cnt_b,
       CAST(abs(CAST(cnt_a AS HUGEINT) * nb - CAST(cnt_b AS HUGEINT) * na) AS BIGINT) AS drift_score
FROM cnt, tot
ORDER BY abs(CAST(cnt_a AS HUGEINT) * nb - CAST(cnt_b AS HUGEINT) * na) DESC, term ASC
LIMIT 10
"""


_ORACLE_TRAILING_WEEK = """
WITH daily AS MATERIALIZED (
  SELECT event_type AS channel, strftime(ts, '%Y-%m-%d') AS event_day,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM events WHERE event_type <> 'purchase' GROUP BY 1, 2
),
idx AS (
  SELECT *, date_diff('day', DATE '2024-01-01', CAST(event_day AS DATE)) AS d
  FROM daily
)
SELECT channel, event_day, cents,
       CAST(SUM(cents) OVER (PARTITION BY channel ORDER BY d
                             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
         AS trailing7_cents
FROM idx
"""


_ORACLE_ZIPF_SLOPE = f"""
WITH {_NORM_RAW},
ex AS (SELECT unnest(string_split(norm, ' ')) AS term FROM nd),
tf AS MATERIALIZED (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS freq FROM ex WHERE term <> '' GROUP BY 1
),
vv AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM tf),
rk AS (
  SELECT freq, CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, term DESC) AS BIGINT) AS r_desc
  FROM tf
),
pts AS (
  SELECT CAST(LENGTH(bin(r_desc)) - 1 AS BIGINT) AS x,
         CAST(LENGTH(bin(freq)) - 1 AS BIGINT) AS y
  FROM rk
),
ag AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
         SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
         SUM(CAST(x AS HUGEINT) * y) AS sxy, SUM(CAST(x AS HUGEINT) * x) AS sxx
  FROM pts
)
SELECT n_terms,
       CAST((CAST(n_terms AS HUGEINT) * sxy - sx * sy) * 1048576
            // (CAST(n_terms AS HUGEINT) * sxx - sx * sx) AS BIGINT) AS slope_q20
FROM ag
"""

_ORACLE_FREQUENCY_CAPPING = """
WITH ranked AS MATERIALIZED (
  SELECT event_type, user_id,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type, strftime(ts, '%Y-%m-%d')
                            ORDER BY ts, event_id) AS rn
  FROM events WHERE event_type <> 'purchase'
)
SELECT event_type AS channel,
       CAST(SUM(CASE WHEN rn <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS served,
       CAST(SUM(CASE WHEN rn > 3 THEN 1 ELSE 0 END) AS BIGINT) AS suppressed,
       CAST(COUNT(DISTINCT CASE WHEN rn > 3 THEN user_id END) AS BIGINT) AS affected_users
FROM ranked GROUP BY 1
"""

_ORACLE_ADSTOCK_HILL = f"""
WITH {_DAILY_CENTS},
dec AS MATERIALIZED (
  SELECT t.channel, t.event_day,
         CAST(SUM(i.cents * (CAST(1 AS BIGINT) <<
             (7 - date_diff('day', CAST(i.event_day AS DATE), CAST(t.event_day AS DATE))))) AS BIGINT) AS x
  FROM daily t JOIN daily i
    ON t.channel = i.channel
   AND CAST(i.event_day AS DATE) <= CAST(t.event_day AS DATE)
   AND CAST(i.event_day AS DATE) >= CAST(t.event_day AS DATE) - 7
  GROUP BY 1, 2
),
per AS (
  SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_days, CAST(SUM(x) AS BIGINT) AS s_total
  FROM dec GROUP BY 1
)
SELECT d.channel, d.event_day,
       CAST(floor(CAST(CAST(d.x AS HUGEINT) * p.n_days * (CAST(d.x AS HUGEINT) * p.n_days) AS DOUBLE)
            / (CAST(CAST(d.x AS HUGEINT) * p.n_days * (CAST(d.x AS HUGEINT) * p.n_days) AS DOUBLE)
               + CAST(CAST(p.s_total AS HUGEINT) * p.s_total AS DOUBLE))
            * 1048576 + 0.5e0) AS BIGINT) AS hill_share_q20
FROM dec d JOIN per p USING (channel)
"""


# --- r06 additions (L186-L193) -------------------------------------------

_ORACLE_REACH_CURVE = """
WITH first AS (
  SELECT event_type AS channel, user_id, MIN(strftime(ts, '%Y-%m-%d')) AS event_day
  FROM events WHERE event_type <> 'purchase' GROUP BY 1, 2
),
daily AS (
  SELECT channel, event_day, CAST(COUNT(*) AS BIGINT) AS new_users
  FROM first GROUP BY 1, 2
)
SELECT channel, event_day, new_users,
       CAST(SUM(new_users) OVER (PARTITION BY channel ORDER BY event_day) AS BIGINT) AS cum_reach
FROM daily
"""

_ORACLE_CONVERSION_LAG = f"""
WITH {_CONV}, {_SESS}, {_JOURNEYS},
per AS (
  SELECT conversion_id, MIN(event_ts) AS first_ts, MAX(conv_ts) AS cts,
         MAX(revenue) AS revenue
  FROM journeys GROUP BY 1
)
SELECT CAST(length(printf('%b', epoch_us(cts) - epoch_us(first_ts) + 1)) - 1 AS BIGINT) AS lag_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_conversions,
       CAST(SUM(CAST(ROUND(revenue * 100, 0) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM per GROUP BY 1
"""

_ORACLE_POSITION_CREDIT = f"""
WITH {_CONV}, {_SESS}, {_JOURNEYS},
ranked AS (
  SELECT conversion_id,
         ROW_NUMBER() OVER (PARTITION BY conversion_id
                            ORDER BY event_ts DESC, session_id DESC) AS p,
         COUNT(*) OVER (PARTITION BY conversion_id) AS len
  FROM journeys
)
SELECT CAST(LEAST(p, 9) AS BIGINT) AS position,
       CAST(COUNT(*) AS BIGINT) AS n_touches,
       CAST(SUM((2097152 + len) // (2 * len)) AS BIGINT) AS credit_q20
FROM ranked GROUP BY 1
"""

_ORACLE_VOLUME_RESPONSE = """
WITH x AS (
  SELECT event_type AS channel, strftime(ts, '%Y-%m-%d') AS event_day,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events WHERE event_type <> 'purchase' GROUP BY 1, 2
),
y AS (
  SELECT strftime(ts, '%Y-%m-%d') AS event_day,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
pts AS (
  SELECT x.channel, x.x, COALESCE(y.y, 0) AS y
  FROM x LEFT JOIN y USING (event_day)
),
m AS (
  SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_days,
         SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
         SUM(CAST(x AS HUGEINT) * y) AS sxy, SUM(CAST(x AS HUGEINT) * x) AS sxx
  FROM pts GROUP BY 1
)
SELECT channel, n_days,
       CAST((CAST(n_days AS HUGEINT) * sxy - sx * sy) * 1048576
            // (CAST(n_days AS HUGEINT) * sxx - sx * sx) AS BIGINT) AS slope_q20
FROM m WHERE CAST(n_days AS HUGEINT) * sxx - sx * sx <> 0
"""

_ORACLE_KMV_OVERLAP = """
WITH dh AS (
  SELECT DISTINCT event_type AS channel,
         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
  FROM events WHERE event_type <> 'purchase'
),
kept AS (
  SELECT channel, h FROM (
    SELECT channel, h, ROW_NUMBER() OVER (PARTITION BY channel ORDER BY h) AS rn FROM dh
  ) WHERE rn <= 64
),
sk AS (
  SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_seen, MAX(h) AS kth,
         list(h ORDER BY h) AS mh
  FROM kept GROUP BY 1
),
side AS (
  SELECT channel, n_seen,
         CASE WHEN n_seen >= 64 THEN kth
              ELSE CAST(1152921504606846976 AS BIGINT) END AS theta, mh
  FROM sk
),
pairs AS (
  SELECT a.channel AS channel_a, b.channel AS channel_b,
         a.n_seen AS n_seen_a, b.n_seen AS n_seen_b,
         LEAST(a.theta, b.theta) AS theta,
         CAST(len(list_filter(list_intersect(a.mh, b.mh),
                              x -> x < LEAST(a.theta, b.theta))) AS BIGINT) AS common
  FROM side a, side b WHERE a.channel < b.channel
)
SELECT channel_a, channel_b, n_seen_a, n_seen_b, common,
       CAST(CAST(common AS HUGEINT) * 1152921504606846976 // theta AS BIGINT) AS est_overlap
FROM pairs
"""


def _pq_ctes(m: int = 4, sub: int = 16, k: int = 8) -> str:
    """Unrolled PQ pipeline mirroring llm/pq.py: q20 sub-vectors ->
    per-subspace seeds -> ONE Lloyd round -> codes -> per-query ADC
    tables -> candidate scan.  All distances exact integers (q20
    component magnitudes keep every dot < 2^46, exact in the DOUBLE
    list_dot_product before the BIGINT cast)."""
    d2 = (
        "CAST(list_dot_product(p.sv::DOUBLE[], p.sv::DOUBLE[])"
        " - 2.0 * list_dot_product(p.sv::DOUBLE[], c.cq::DOUBLE[])"
        " + list_dot_product(c.cq::DOUBLE[], c.cq::DOUBLE[]) AS BIGINT)"
    )
    dq = (
        "CAST(list_dot_product(q.sv::DOUBLE[], q.sv::DOUBLE[])"
        " - 2.0 * list_dot_product(q.sv::DOUBLE[], c.cq::DOUBLE[])"
        " + list_dot_product(c.cq::DOUBLE[], c.cq::DOUBLE[]) AS BIGINT)"
    )
    return f"""kqv AS MATERIALIZED (
  SELECT vec_id, list_transform(v, x -> CAST(floor(x / vn * 1048576.0 + 0.5) AS BIGINT)) AS qv
  FROM e WHERE vn > 0
),
psub AS MATERIALIZED (
  SELECT vec_id, CAST(ss.s AS BIGINT) AS s,
         list_slice(qv, ss.s * {sub} + 1, ss.s * {sub} + {sub}) AS sv
  FROM kqv CROSS JOIN (SELECT unnest(range(0, {m})) AS s) ss
),
pc0 AS MATERIALIZED (
  SELECT s, CAST(rn - 1 AS BIGINT) AS cluster, sv AS cq FROM (
    SELECT s, sv, ROW_NUMBER() OVER (PARTITION BY s
      ORDER BY md5(CAST(vec_id AS VARCHAR) || '|pq' || CAST(s AS VARCHAR)), vec_id) AS rn
    FROM psub) WHERE rn <= {k}
),
pa1 AS MATERIALIZED (
  SELECT vec_id, s, sv, cluster FROM (
    SELECT p.vec_id, p.s, p.sv, c.cluster, {d2} AS d
    FROM psub p JOIN pc0 c ON p.s = c.s)
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d, cluster) = 1
),
ps1 AS (
  SELECT s, cluster, CAST(pp.pos AS BIGINT) AS pos,
         CAST(floor(CAST(SUM(sv[pp.pos + 1]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS comp
  FROM pa1 CROSS JOIN (SELECT unnest(range(0, {sub})) AS pos) pp
  GROUP BY 1, 2, 3
),
pc1 AS MATERIALIZED (
  SELECT s, cluster, list(comp ORDER BY pos) AS cq FROM ps1 GROUP BY 1, 2
),
pcodes AS MATERIALIZED (
  SELECT vec_id, s, cluster AS code FROM (
    SELECT p.vec_id, p.s, c.cluster, {d2} AS d
    FROM psub p JOIN pc1 c ON p.s = c.s)
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d, cluster) = 1
),
pq_q AS (SELECT vec_id AS query_id, s, sv FROM psub WHERE vec_id % 50 = 7),
pdtab AS MATERIALIZED (
  SELECT q.query_id, q.s, c.cluster AS code, {dq} AS d
  FROM pq_q q JOIN pc1 c ON q.s = c.s
),
padc AS (
  SELECT d.query_id, p.vec_id, CAST(SUM(d.d) AS BIGINT) AS adc
  FROM pcodes p JOIN pdtab d ON p.s = d.s AND p.code = d.code
  WHERE p.vec_id <> d.query_id GROUP BY 1, 2
),
pcand AS MATERIALIZED (
  SELECT query_id, vec_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rk
    FROM padc) WHERE rk <= 12
)"""


_ORACLE_ANN_PQ = f"""
WITH {_E_NORMED},
{_pq_ctes()},
ev2 AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
),
rer AS (
  SELECT c.query_id, c.vec_id,
         CAST(FLOOR(list_dot_product(qe.v, ce.v)
              / (sqrt(list_dot_product(qe.v, qe.v)) * sqrt(list_dot_product(ce.v, ce.v)))
              * 1048576.0 + 0.5) AS BIGINT) AS cos_q20
  FROM pcand c
  JOIN ev2 qe ON qe.vec_id = c.query_id
  JOIN ev2 ce ON ce.vec_id = c.vec_id
)
SELECT query_id, CAST(rk AS BIGINT) AS rnk, vec_id, cos_q20 FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_q20 DESC, vec_id ASC) AS rk
  FROM rer) WHERE rk <= 5
"""

_ORACLE_TRAIN_VAL_SPLIT = """
WITH d AS MATERIALIZED (
  SELECT source,
         CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|split'), 1, 15) AS BIGINT) % 20 >= 19 THEN 'test'
              WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|split'), 1, 15) AS BIGINT) % 20 >= 18 THEN 'val'
              ELSE 'train' END AS split,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS ch,
         CAST(len(list_filter(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
                              x -> x <> '')) AS BIGINT) AS tok
  FROM documents
),
leaked AS (
  SELECT ch, 1 AS leak FROM (
    SELECT ch, COUNT(DISTINCT split) AS ns FROM d GROUP BY 1) WHERE ns > 1
)
SELECT d.source, d.split, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(tok) AS BIGINT) AS n_tokens,
       CAST(SUM(COALESCE(leak, 0)) AS BIGINT) AS leaked_docs
FROM d LEFT JOIN leaked USING (ch)
GROUP BY 1, 2
"""

_ORACLE_PARTITIONED_SINK = """
WITH s AS MATERIALIZED (
  SELECT strftime(ts, '%Y-%m-%d') AS event_day, CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM events WHERE event_type = 'click' GROUP BY 1
)
SELECT 'partition_dir' AS surface, event_day, n_rows, cents FROM s
UNION ALL
SELECT 'pruned_filter' AS surface, event_day, n_rows, cents FROM s
"""


_ORACLE_IVT_SCREEN = """
WITH ev AS MATERIALIZED (
  SELECT user_id, event_type AS channel, epoch_us(ts) AS u
  FROM events WHERE event_type <> 'purchase'
),
bursts AS (
  SELECT user_id, MAX(c) AS mb FROM (
    SELECT user_id,
           COUNT(*) OVER (PARTITION BY user_id ORDER BY u
                          RANGE BETWEEN 86399999999 PRECEDING AND CURRENT ROW) AS c
    FROM ev) GROUP BY 1
),
bots AS (SELECT user_id, 1 AS bot FROM bursts WHERE mb > 6)
SELECT channel,
       CAST(COUNT(*) AS BIGINT) AS total_events,
       CAST(SUM(COALESCE(bot, 0)) AS BIGINT) AS bot_events,
       CAST(COUNT(DISTINCT CASE WHEN bot = 1 THEN ev.user_id END) AS BIGINT) AS bot_users
FROM ev LEFT JOIN bots ON ev.user_id = bots.user_id
GROUP BY 1
"""

_ORACLE_CHANNEL_SYNERGY = f"""
WITH {_CONV}, {_SESS}, {_JOURNEYS},
cc AS MATERIALIZED (
  SELECT DISTINCT conversion_id, channel_label AS channel FROM journeys
),
tot AS (SELECT CAST(COUNT(DISTINCT conversion_id) AS BIGINT) AS n_total FROM cc),
per AS (SELECT channel, CAST(COUNT(*) AS BIGINT) AS n FROM cc GROUP BY 1),
pairs AS (
  SELECT a.channel AS channel_a, b.channel AS channel_b,
         CAST(COUNT(*) AS BIGINT) AS n_both
  FROM cc a JOIN cc b ON a.conversion_id = b.conversion_id
  WHERE a.channel < b.channel GROUP BY 1, 2
)
SELECT p.channel_a, p.channel_b, p.n_both,
       pa.n AS n_a, pb.n AS n_b, t.n_total,
       CAST(CAST(p.n_both AS HUGEINT) * t.n_total * 1048576
            // (CAST(pa.n AS HUGEINT) * pb.n) AS BIGINT) AS lift_q20
FROM pairs p
JOIN per pa ON pa.channel = p.channel_a
JOIN per pb ON pb.channel = p.channel_b
CROSS JOIN tot t
"""

_ORACLE_CROSS_SOURCE_DUP = """
WITH sc AS MATERIALIZED (
  SELECT DISTINCT source,
         md5(array_to_string(list_slice(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '), 1, 5), ' ')) AS ch
  FROM documents
),
sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM sc GROUP BY 1),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(COUNT(*) AS BIGINT) AS shared_contents
  FROM sc a JOIN sc b ON a.ch = b.ch
  WHERE a.source < b.source GROUP BY 1, 2
)
SELECT p.source_a, p.source_b, p.shared_contents,
       sa.n AS contents_a, sb.n AS contents_b
FROM pairs p
JOIN sizes sa ON sa.source = p.source_a
JOIN sizes sb ON sb.source = p.source_b
"""

_ORACLE_HAPAX_DOCS = """
WITH dt AS MATERIALIZED (
  SELECT DISTINCT doc_id, term FROM (
    SELECT doc_id,
           unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS term
    FROM documents)
),
dt2 AS (SELECT doc_id, term FROM dt WHERE term <> ''),
dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM dt2 GROUP BY 1),
per AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
         CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
  FROM dt2 JOIN dfq USING (term) GROUP BY 1
)
SELECT doc_id, n_hapax, n_terms,
       CAST((2097152 * n_hapax + n_terms) // (2 * n_terms) AS BIGINT) AS hapax_ratio_q20
FROM per ORDER BY n_hapax DESC, doc_id ASC LIMIT 20
"""


# L198 dayparting: exact integer epoch-day dow ((date - epoch + 4) % 7,
# 0 = Sunday) — never a locale-dependent dayname().
_ORACLE_DAYPARTING = """
SELECT CAST((CAST(ts AS DATE) - DATE '1970-01-01' + 4) % 7 AS BIGINT) AS dow,
       CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour,
       CAST(SUM(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_conversions,
       CAST(SUM(CASE WHEN event_type = 'purchase'
                THEN CAST(ROUND(value * 100, 0) AS BIGINT) ELSE 0 END) AS BIGINT) AS revenue_cents
FROM events GROUP BY 1, 2
"""

_ORACLE_NEW_VS_RETURNING = """
WITH fu AS MATERIALIZED (
  SELECT user_id, MIN(strftime(ts, '%Y-%m-%d')) AS first_day FROM events GROUP BY 1
),
act AS (
  SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS event_day, user_id FROM events
),
pur AS MATERIALIZED (
  SELECT strftime(ts, '%Y-%m-%d') AS event_day, user_id,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
)
SELECT a.event_day,
       CAST(SUM(CASE WHEN a.event_day = f.first_day THEN 1 ELSE 0 END) AS BIGINT) AS n_new_users,
       CAST(SUM(CASE WHEN a.event_day <> f.first_day THEN 1 ELSE 0 END) AS BIGINT) AS n_returning_users,
       CAST(SUM(CASE WHEN a.event_day = f.first_day THEN COALESCE(p.cents, 0) ELSE 0 END) AS BIGINT) AS new_revenue_cents,
       CAST(SUM(CASE WHEN a.event_day <> f.first_day THEN COALESCE(p.cents, 0) ELSE 0 END) AS BIGINT) AS returning_revenue_cents
FROM act a JOIN fu f USING (user_id)
LEFT JOIN pur p ON p.event_day = a.event_day AND p.user_id = a.user_id
GROUP BY 1
"""

_ORACLE_MANN_KENDALL = """
WITH daily AS MATERIALIZED (
  SELECT event_type AS channel, strftime(ts, '%Y-%m-%d') AS event_day,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events WHERE event_type <> 'purchase' GROUP BY 1, 2
),
s AS (
  SELECT a.channel,
         CAST(SUM(CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
  FROM daily a JOIN daily b ON a.channel = b.channel AND a.event_day < b.event_day
  GROUP BY 1
),
n AS (SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_days FROM daily GROUP BY 1),
ties AS (
  SELECT channel, CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_sum
  FROM (SELECT channel, x, CAST(COUNT(*) AS BIGINT) AS t FROM daily GROUP BY 1, 2)
  GROUP BY 1
)
SELECT n.channel, n.n_days,
       CAST(COALESCE(s.s_stat, 0) AS BIGINT) AS s_stat,
       CAST(n.n_days * (n.n_days - 1) * (2 * n.n_days + 5) - ties.tie_sum AS BIGINT) AS var18
FROM n LEFT JOIN s ON n.channel = s.channel JOIN ties ON n.channel = ties.channel
"""

_ORACLE_LEADLAG = """
WITH bounds AS (SELECT MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1 FROM events),
spine AS MATERIALIZED (
  SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS d FROM bounds
),
chans AS (SELECT DISTINCT event_type AS channel FROM events WHERE event_type <> 'purchase'),
x AS MATERIALIZED (
  SELECT event_type AS channel, strftime(ts, '%Y-%m-%d') AS event_day,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events WHERE event_type <> 'purchase' GROUP BY 1, 2
),
y AS MATERIALIZED (
  SELECT strftime(ts, '%Y-%m-%d') AS event_day,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
grid AS MATERIALIZED (
  SELECT c.channel, CAST(s.d - DATE '1970-01-01' AS BIGINT) AS i,
         COALESCE(x.x, 0) AS x, COALESCE(y.y, 0) AS y
  FROM spine s CROSS JOIN chans c
  LEFT JOIN x ON x.channel = c.channel AND x.event_day = strftime(s.d, '%Y-%m-%d')
  LEFT JOIN y ON y.event_day = strftime(s.d, '%Y-%m-%d')
),
lags AS (SELECT CAST(unnest(range(0, 8)) AS BIGINT) AS lag)
SELECT gx.channel, l.lag, CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(CAST(COUNT(*) AS HUGEINT) * SUM(CAST(gx.x AS HUGEINT) * gy.y)
            - SUM(CAST(gx.x AS HUGEINT)) * SUM(CAST(gy.y AS HUGEINT)) AS BIGINT) AS cov_num
FROM grid gx CROSS JOIN lags l
JOIN grid gy ON gy.channel = gx.channel AND gy.i = gx.i + l.lag
GROUP BY 1, 2
"""

_ORACLE_BUDGET_PACING = """
WITH daily AS MATERIALIZED (
  SELECT event_type AS channel, strftime(ts, '%Y-%m-%d') AS event_day,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS spend_milli
  FROM events WHERE event_type IN ('click', 'signup') GROUP BY 1, 2
),
w AS (
  SELECT channel, substr(event_day, 1, 7) AS month, event_day, spend_milli,
         CAST(SUM(spend_milli) OVER (PARTITION BY channel, substr(event_day, 1, 7)
              ORDER BY event_day) AS BIGINT) AS cum_milli,
         CAST(SUM(spend_milli) OVER (PARTITION BY channel, substr(event_day, 1, 7))
              AS BIGINT) AS month_milli,
         CAST(EXTRACT(day FROM CAST(event_day AS DATE)) AS BIGINT) AS day_of_month,
         CAST(EXTRACT(day FROM last_day(CAST(event_day AS DATE))) AS BIGINT) AS days_in_month
  FROM daily
)
SELECT *, CASE WHEN cum_milli * days_in_month > month_milli * day_of_month THEN CAST(1 AS BIGINT)
               WHEN cum_milli * days_in_month < month_milli * day_of_month THEN CAST(-1 AS BIGINT)
               ELSE CAST(0 AS BIGINT) END AS pace_flag
FROM w
"""

# L203 word Simpson diversity: half-up rounding entirely in HUGEINT —
# floor(a/b + 1/2) = (2a + b) // (2b), matching Spark DECIMAL(38,0) div.
_ORACLE_WORD_SIMPSON = """
WITH counts AS (
  SELECT doc_id, w AS term, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT doc_id,
               unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS w
        FROM documents)
  WHERE w <> '' GROUP BY 1, 2
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_words,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_words,
       CAST(SUM(c * c) AS BIGINT) AS sum_sq,
       CAST((2 * CAST(SUM(c) AS HUGEINT) * SUM(c) * 1048576 + SUM(c * c))
            // (2 * CAST(SUM(c * c) AS HUGEINT)) AS BIGINT) AS inv_simpson_q20
FROM counts GROUP BY 1
"""


def _mmr_oracle(k: int = 5) -> str:
    """Unrolled k-round MMR selection (greedy-coverage unrolled-loop
    precedent: every round MATERIALIZED).  Integer dots over the q20
    unit vectors are exact in DOUBLE (components <= 2^20, 64 dims ->
    sums < 2^47), so list_dot_product + CAST is bit-exact."""
    idot_q = "CAST(list_dot_product(c.qv::DOUBLE[], (SELECT qv FROM qvec)::DOUBLE[]) AS BIGINT)"
    ctes = [
        _E_NORMED.strip(),
        """q AS MATERIALIZED (
  SELECT vec_id, list_transform(v, x -> CAST(floor(x / vn * 1048576.0 + 0.5) AS BIGINT)) AS qv
  FROM e WHERE vn > 0
)""",
        "qid AS (SELECT MIN(vec_id) AS id FROM q)",
        "qvec AS MATERIALIZED (SELECT qv FROM q WHERE vec_id = (SELECT id FROM qid))",
        f"""cand AS MATERIALIZED (
  SELECT c.vec_id, c.qv, {idot_q} AS rel
  FROM q c WHERE c.vec_id <> (SELECT id FROM qid)
)""",
    ]
    for j in range(1, k + 1):
        if j == 1:
            ctes.append(
                """r1 AS MATERIALIZED (
  SELECT CAST(1 AS BIGINT) AS round, vec_id, qv, rel, rel AS score
  FROM cand ORDER BY rel DESC, vec_id ASC LIMIT 1
)"""
            )
        else:
            pens = ", ".join(
                f"CAST(list_dot_product(c.qv::DOUBLE[], (SELECT qv FROM r{i})::DOUBLE[]) AS BIGINT)"
                for i in range(1, j)
            )
            pen = pens if j == 2 else f"GREATEST({pens})"
            excl = " UNION ALL ".join(f"SELECT vec_id FROM r{i}" for i in range(1, j))
            ctes.append(
                f"""r{j} AS MATERIALIZED (
  SELECT CAST({j} AS BIGINT) AS round, vec_id, qv, rel, score FROM (
    SELECT c.vec_id, c.qv, c.rel, c.rel - ({pen}) AS score
    FROM cand c WHERE c.vec_id NOT IN ({excl})
  ) ORDER BY score DESC, vec_id ASC LIMIT 1
)"""
            )
    sel = " UNION ALL ".join(f"SELECT * FROM r{j}" for j in range(1, k + 1))
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT round, vec_id, rel AS rel_idot, score AS mmr_score
FROM ({sel})
"""
    )


_ORACLE_MMR_DIVERSE = _mmr_oracle(5)


def _pca_oracle(rounds: int = 6) -> str:
    """Unrolled integer power iteration over the q20 Gram matrix
    (llm/embquality.py principal_direction) — every round
    MATERIALIZED per the unrolled-loop rule; HUGEINT throughout,
    division truncating toward zero (// on HUGEINT, the Spark
    DECIMAL(38,0)-div twin)."""
    ctes = [
        _E_NORMED.strip(),
        """q AS MATERIALIZED (
  SELECT vec_id, list_transform(v, x -> CAST(floor(x / vn * 1048576.0 + 0.5) AS BIGINT)) AS qv
  FROM e WHERE vn > 0
)""",
        """ex AS MATERIALIZED (
  SELECT vec_id, generate_subscripts(qv, 1) AS i, unnest(qv) AS x FROM q
)""",
        """gm AS MATERIALIZED (
  SELECT a.i AS i, b.i AS j, CAST(SUM(CAST(a.x AS HUGEINT) * b.x) AS HUGEINT) AS a
  FROM ex a JOIN ex b USING (vec_id) GROUP BY 1, 2
)""",
        "v0 AS MATERIALIZED (SELECT DISTINCT i, CAST(1048576 AS HUGEINT) AS val FROM ex)",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"""u{r} AS MATERIALIZED (
  SELECT gm.i, CAST(SUM(gm.a * v.val) AS HUGEINT) AS uv
  FROM gm JOIN v{r-1} v ON gm.j = v.i GROUP BY 1
)"""
        )
        ctes.append(f"m{r} AS MATERIALIZED (SELECT MAX(ABS(uv)) AS m FROM u{r})")
        ctes.append(
            f"""v{r} AS MATERIALIZED (
  SELECT i, CASE WHEN (SELECT m FROM m{r}) = 0 THEN CAST(0 AS HUGEINT)
            ELSE (uv * 1048576) // (SELECT m FROM m{r}) END AS val
  FROM u{r}
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
sg AS (SELECT CASE WHEN COALESCE(
         (SELECT val FROM v{rounds} WHERE val <> 0 ORDER BY i LIMIT 1), 0) < 0
       THEN -1 ELSE 1 END AS s)
SELECT CAST(i AS BIGINT) AS pos,
       CAST(val * (SELECT s FROM sg) AS BIGINT) AS comp_q20
FROM v{rounds}
"""
    )


_ORACLE_EMBEDDING_PCA = _pca_oracle(6)


# operators/planning.py share_of_voice: integer epoch-Monday weeks,
# exact cents, half-up q20 share, LAG delta vs previous observed week
_ORACLE_SHARE_OF_VOICE = """
WITH per AS (
  SELECT datediff('day', DATE '1970-01-05', CAST(ts AS DATE)) // 7 AS week,
         event_type AS channel,
         CAST(COUNT(*) AS BIGINT) AS n_sessions,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM events WHERE event_type <> 'purchase' GROUP BY 1, 2
),
t AS (SELECT week, CAST(SUM(CAST(cents AS HUGEINT)) AS HUGEINT) AS tot FROM per GROUP BY 1),
s AS (
  SELECT p.week, p.channel, p.n_sessions, p.cents,
         CAST(CASE WHEN t.tot = 0 THEN 0
              ELSE (2 * CAST(p.cents AS HUGEINT) * 1048576 + t.tot) // (2 * t.tot)
              END AS BIGINT) AS share_q20
  FROM per p JOIN t USING (week)
)
SELECT CAST(week AS BIGINT) AS week, channel, n_sessions, cents, share_q20,
       CAST(share_q20 - LAG(share_q20) OVER (PARTITION BY channel ORDER BY week) AS BIGINT) AS delta_q20
FROM s
"""


# llm/text.py length_drift: L87 log buckets of normalized char length,
# L235 chi-square between even/odd doc_id halves (HUGEINT, baseline-
# present totals only, NULL contribution for new buckets)
_ORACLE_LENGTH_DRIFT = r"""
WITH v AS (
  SELECT doc_id % 2 AS h,
         CAST(length(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS BIGINT) AS x
  FROM documents
),
b AS (
  SELECT h, CAST((x >> g) << g AS BIGINT) AS bucket_lb
  FROM (SELECT h, x,
               CASE WHEN length(printf('%b', x)) - 3 > 0
                    THEN length(printf('%b', x)) - 3 ELSE 0 END AS g
        FROM v)
),
per AS (
  SELECT bucket_lb,
         CAST(SUM(CASE WHEN h = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
         CAST(SUM(CASE WHEN h = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
  FROM b GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(CASE WHEN n_base > 0 THEN n_cur ELSE 0 END) AS HUGEINT) AS n,
         CAST(SUM(CASE WHEN n_base > 0 THEN n_base ELSE 0 END) AS HUGEINT) AS m
  FROM per
)
SELECT p.bucket_lb, p.n_base, p.n_cur,
       CASE WHEN p.n_base > 0 AND t.n > 0 THEN
         CAST((2 * (p.n_cur * t.m - t.n * p.n_base) * (p.n_cur * t.m - t.n * p.n_base) * 1048576
               + (t.n * p.n_base * t.m))
              // (2 * (t.n * p.n_base * t.m)) AS BIGINT)
       END AS chi2_contrib_q20
FROM per p, tot t
"""


# llm/dedup.py simhash_hamming_histogram: the L11 candidate pipeline
# with NO Hamming threshold, then the histogram
_ORACLE_SIMHASH_HAMMING = f"""
WITH {_AUG}, {_NORM_AUG},
exw AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS w FROM nd),
hh AS (SELECT doc_id, CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) AS h FROM exw),
votes AS (
  SELECT doc_id,
         {_sh_votes}
  FROM hh GROUP BY doc_id
),
sim AS (SELECT doc_id, CAST({_sh_value} AS BIGINT) AS simhash FROM votes),
bands AS (
  {_sh_bands}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT hamming, CAST(COUNT(*) AS BIGINT) AS n_pairs FROM pairs GROUP BY 1
"""


# operators/timeseries.py holt_winters_forecast: the holt recursion
# upgraded with a LIST-typed 7-slot season state; init = first-week
# mean level / zero trend / deviation seasonals, recursion from t=7;
# slot indexing is rn % 7 (1-based list access slot+1); // truncates
# like _tdiv
_ORACLE_HOLT_WINTERS = """
WITH RECURSIVE
daily AS MATERIALIZED (
  SELECT event_type AS channel, CAST(ts AS DATE) AS d,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
  FROM events WHERE event_type <> 'purchase' GROUP BY 1, 2
),
span AS MATERIALIZED (
  SELECT MIN(d) AS d0, datediff('day', MIN(d), MAX(d)) AS nmax FROM daily
),
spine AS MATERIALIZED (
  SELECT c.channel, CAST(r.rn AS BIGINT) AS rn, COALESCE(dl.y, 0) AS y
  FROM (SELECT DISTINCT channel FROM daily) c
  CROSS JOIN span sp
  CROSS JOIN LATERAL (SELECT UNNEST(generate_series(0, sp.nmax)) AS rn) r
  LEFT JOIN daily dl ON dl.channel = c.channel AND dl.d = sp.d0 + CAST(r.rn AS INTEGER)
),
init AS MATERIALIZED (
  SELECT channel,
         CAST(SUM(CASE WHEN rn < 7 THEN CAST(1048576 AS HUGEINT) * y ELSE 0 END) // 7 AS HUGEINT) AS lev
  FROM spine GROUP BY 1
),
s0 AS MATERIALIZED (
  SELECT s.channel,
         list(CAST(1048576 AS HUGEINT) * s.y - i.lev ORDER BY s.rn) AS sl
  FROM spine s JOIN init i USING (channel)
  WHERE s.rn < 7 GROUP BY 1
),
rec AS (
  SELECT i.channel, CAST(7 AS BIGINT) AS t, i.lev AS lev,
         CAST(0 AS HUGEINT) AS tr, s0.sl AS sl, CAST(0 AS HUGEINT) AS sae
  FROM init i JOIN s0 USING (channel)
  UNION ALL
  SELECT channel, t, lev2 AS lev,
         ((lev2 - lev) + 3 * tr) // 4 AS tr,
         list_transform(range(1, 8),
           i -> CASE WHEN i = slot + 1
                     THEN (qy - lev2 + 3 * sl[slot + 1]) // 4
                     ELSE sl[i] END) AS sl,
         sae2 AS sae
  FROM (
    SELECT r.channel, r.t + 1 AS t, r.lev AS lev, r.tr AS tr, r.sl AS sl,
           CAST(r.t % 7 AS BIGINT) AS slot,
           CAST(1048576 AS HUGEINT) * d.y AS qy,
           (CAST(1048576 AS HUGEINT) * d.y - r.sl[CAST(r.t % 7 AS BIGINT) + 1]
            + 3 * (r.lev + r.tr)) // 4 AS lev2,
           r.sae + abs(CAST(1048576 AS HUGEINT) * d.y
                       - (r.lev + r.tr + r.sl[CAST(r.t % 7 AS BIGINT) + 1])) AS sae2
    FROM rec r JOIN spine d ON d.channel = r.channel AND d.rn = r.t
  )
)
SELECT channel,
       CAST((SELECT nmax FROM span) + 1 AS BIGINT) AS n_days,
       CAST(lev AS BIGINT) AS level_cents_q20,
       CAST(tr AS BIGINT) AS trend_cents_q20,
       CAST(sl[CAST(((SELECT nmax FROM span) + 1) % 7 AS BIGINT) + 1] AS BIGINT) AS snext_cents_q20,
       CAST(lev + tr + sl[CAST(((SELECT nmax FROM span) + 1) % 7 AS BIGINT) + 1] AS BIGINT) AS fc1_cents_q20,
       CAST(CASE WHEN (SELECT nmax FROM span) >= 7
                 THEN sae // (CAST((SELECT nmax FROM span) AS HUGEINT) + 1 - 7)
                 ELSE 0 END AS BIGINT) AS mae_hw_cents_q20
FROM rec WHERE t = (SELECT nmax FROM span) + 1
"""


# streaming funnel: strict first-occurrence stages from per-user step
# minima (order-independent state == this batch SQL, the parity basis)
_ORACLE_STREAM_FUNNEL = """
WITH st AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t0,
         MIN(CASE WHEN event_type = 'view' THEN ts END) AS t1,
         MIN(CASE WHEN event_type = 'click' THEN ts END) AS t2,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t3
  FROM events WHERE event_type IN ('signup', 'view', 'click', 'purchase')
  GROUP BY 1
),
per AS (
  SELECT (CASE WHEN t0 IS NOT NULL THEN 1 ELSE 0 END
        + CASE WHEN t0 IS NOT NULL AND t1 IS NOT NULL AND t1 > t0 THEN 1 ELSE 0 END
        + CASE WHEN t0 IS NOT NULL AND t1 IS NOT NULL AND t1 > t0
                AND t2 IS NOT NULL AND t2 > t1 THEN 1 ELSE 0 END
        + CASE WHEN t0 IS NOT NULL AND t1 IS NOT NULL AND t1 > t0
                AND t2 IS NOT NULL AND t2 > t1
                AND t3 IS NOT NULL AND t3 > t2 THEN 1 ELSE 0 END) AS stage
  FROM st
),
at AS (
  SELECT CAST(stage AS BIGINT) AS funnel_stage,
         CAST(COUNT(*) AS BIGINT) AS n_users
  FROM per GROUP BY 1
)
SELECT a.funnel_stage, a.n_users, CAST(SUM(b.n_users) AS BIGINT) AS n_reached
FROM at a JOIN at b ON b.funnel_stage >= a.funnel_stage
GROUP BY 1, 2
"""

# L205 Theil-Sen: lower median over pairwise slopes; the double
# division is one IEEE op (identical both engines), the integer
# tiebreak totalizes the order, the emitted slope is the exact signed
# half-away-from-zero q20 of the chosen pair's rational dy/dx.
_ORACLE_THEIL_SEN = """
WITH daily AS MATERIALIZED (
  SELECT event_type AS channel, CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS x
  FROM events WHERE event_type <> 'purchase' GROUP BY 1, 2
),
pairs AS MATERIALIZED (
  SELECT a.channel, CAST(b.x - a.x AS BIGINT) AS dy, CAST(b.d - a.d AS BIGINT) AS dx,
         a.d AS d1, b.d AS d2
  FROM daily a JOIN daily b ON a.channel = b.channel AND a.d < b.d
),
ranked AS (
  SELECT channel, dy, dx,
         ROW_NUMBER() OVER (PARTITION BY channel
             ORDER BY CAST(dy AS DOUBLE) / dx, dy, dx, d1, d2) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY channel) AS BIGINT) AS n_pairs
  FROM pairs
)
SELECT channel, n_pairs, dy, dx,
       CAST(CASE WHEN dy >= 0 THEN (2 * dy * 1048576 + dx) // (2 * dx)
                 ELSE -((2 * (-dy) * 1048576 + dx) // (2 * dx)) END AS BIGINT) AS slope_q20
FROM ranked WHERE rn = (n_pairs + 1) // 2
"""

_ORACLE_MIX_OLS2 = """
WITH bounds AS (SELECT MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1 FROM events),
spine AS MATERIALIZED (
  SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS d FROM bounds
),
chans AS (SELECT DISTINCT event_type AS channel FROM events WHERE event_type <> 'purchase'),
x AS MATERIALIZED (
  SELECT event_type AS channel, strftime(ts, '%Y-%m-%d') AS event_day,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events WHERE event_type <> 'purchase' GROUP BY 1, 2
),
y AS MATERIALIZED (
  SELECT strftime(ts, '%Y-%m-%d') AS event_day,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
grid AS MATERIALIZED (
  SELECT c.channel, strftime(s.d, '%Y-%m-%d') AS event_day,
         COALESCE(x.x, 0) AS x, COALESCE(y.y, 0) AS y
  FROM spine s CROSS JOIN chans c
  LEFT JOIN x ON x.channel = c.channel AND x.event_day = strftime(s.d, '%Y-%m-%d')
  LEFT JOIN y ON y.event_day = strftime(s.d, '%Y-%m-%d')
),
m AS MATERIALIZED (
  SELECT a.channel AS channel_a, b.channel AS channel_b,
         CAST(COUNT(*) AS BIGINT) AS n_days,
         SUM(CAST(a.x AS HUGEINT)) AS sa, SUM(CAST(b.x AS HUGEINT)) AS sb,
         SUM(CAST(a.y AS HUGEINT)) AS sy,
         SUM(CAST(a.x AS HUGEINT) * a.x) AS saa, SUM(CAST(b.x AS HUGEINT) * b.x) AS sbb,
         SUM(CAST(a.x AS HUGEINT) * b.x) AS sab, SUM(CAST(a.x AS HUGEINT) * a.y) AS say,
         SUM(CAST(b.x AS HUGEINT) * a.y) AS sby
  FROM grid a JOIN grid b ON a.event_day = b.event_day AND a.channel < b.channel
  GROUP BY 1, 2
),
c AS (
  SELECT channel_a, channel_b, n_days,
         CAST(n_days AS HUGEINT) * saa - sa * sa AS caa,
         CAST(n_days AS HUGEINT) * sbb - sb * sb AS cbb,
         CAST(n_days AS HUGEINT) * sab - sa * sb AS cab,
         CAST(n_days AS HUGEINT) * say - sa * sy AS cay,
         CAST(n_days AS HUGEINT) * sby - sb * sy AS cby
  FROM m
),
d AS (
  SELECT *, caa * cbb - cab * cab AS det,
         cay * cbb - cby * cab AS b1n, cby * caa - cay * cab AS b2n
  FROM c
)
SELECT channel_a, channel_b, n_days, CAST(det AS VARCHAR) AS det_str,
       CAST(CASE WHEN b1n >= 0 THEN (2 * b1n * 1048576 + det) // (2 * det)
                 ELSE -((2 * (-b1n) * 1048576 + det) // (2 * det)) END AS BIGINT) AS b1_q20,
       CAST(CASE WHEN b2n >= 0 THEN (2 * b2n * 1048576 + det) // (2 * det)
                 ELSE -((2 * (-b2n) * 1048576 + det) // (2 * det)) END AS BIGINT) AS b2_q20
FROM d WHERE det <> 0
"""

_ORACLE_NORM_BAND = f"""
WITH {_E_NORMED.strip()},
nqt AS MATERIALIZED (
  SELECT vec_id, CAST(FLOOR(vn * 1048576.0 + 0.5) AS BIGINT) AS nq FROM e
),
nz AS MATERIALIZED (SELECT nq FROM nqt WHERE nq > 0),
hist AS (SELECT nq AS v, CAST(COUNT(*) AS BIGINT) AS c FROM nz GROUP BY 1),
med AS MATERIALIZED (
  SELECT CAST(MIN(v) AS BIGINT) AS median_nq FROM (
    SELECT v, SUM(c) OVER (ORDER BY v) AS cum, SUM(c) OVER () AS n FROM hist)
  WHERE 2 * cum >= n
),
dev AS MATERIALIZED (
  SELECT nq, abs(nq - (SELECT median_nq FROM med)) AS dv FROM nz
),
dhist AS (SELECT dv AS v, CAST(COUNT(*) AS BIGINT) AS c FROM dev GROUP BY 1),
mad AS MATERIALIZED (
  SELECT CAST(MIN(v) AS BIGINT) AS mad_nq FROM (
    SELECT v, SUM(c) OVER (ORDER BY v) AS cum, SUM(c) OVER () AS n FROM dhist)
  WHERE 2 * cum >= n
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM nqt) AS n_vecs,
       (SELECT CAST(COALESCE(SUM(CASE WHEN nq <= 0 THEN 1 ELSE 0 END), 0) AS BIGINT) FROM nqt) AS n_zero,
       (SELECT median_nq FROM med) AS median_nq,
       (SELECT mad_nq FROM mad) AS mad_nq,
       (SELECT CAST(COALESCE(SUM(CASE WHEN nq - (SELECT median_nq FROM med)
                < -3 * (SELECT mad_nq FROM mad) THEN 1 ELSE 0 END), 0) AS BIGINT) FROM nz) AS n_low,
       (SELECT CAST(COALESCE(SUM(CASE WHEN nq - (SELECT median_nq FROM med)
                > 3 * (SELECT mad_nq FROM mad) THEN 1 ELSE 0 END), 0) AS BIGINT) FROM nz) AS n_high
"""


# L209 bounce rate: gap sessions with the closed-interval merge rule
# (diff <= gap joins — the session_window semantics pin).
_ORACLE_BOUNCE_RATE = """
WITH marked AS MATERIALIZED (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR date_diff('microsecond', LAG(ts) OVER w, ts) <= 1800000000
              THEN 0 ELSE 1 END AS brk,
         ROW_NUMBER() OVER w AS ord
  -- purchases are excluded BEFORE sessionizing (ADVICE r05), matching
  -- sessionize_batch/sessionize_native's event population
  FROM events WHERE event_type <> 'purchase'
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
grouped AS MATERIALIZED (
  SELECT user_id, ts, event_id, event_type,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS g
  FROM marked
),
per_session AS (
  SELECT user_id, g, CAST(COUNT(*) AS BIGINT) AS n_events,
         MAX(CASE WHEN rn = 1 THEN event_type END) AS entry_channel
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, g
                                     ORDER BY ts, event_id) AS rn
        FROM grouped)
  GROUP BY 1, 2
)
SELECT entry_channel,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
       CAST((2 * SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1048576 + COUNT(*))
            // (2 * COUNT(*)) AS BIGINT) AS bounce_q20
FROM per_session GROUP BY 1
"""

# L210 label purity: exact integer centroids via the pmod floor-div
# device; classification key = idot/sqrt(cn2), two IEEE ops on
# identical integers; tie-break by candidate label.
_ORACLE_LABEL_PURITY = f"""
WITH {_E_NORMED.strip()},
q AS MATERIALIZED (
  SELECT vec_id, list_transform(v, x -> CAST(floor(x / vn * 1048576.0 + 0.5) AS BIGINT)) AS qv
  FROM e WHERE vn > 0
),
qx AS MATERIALIZED (
  SELECT q.vec_id, emb.label, unnest(q.qv) AS comp, generate_subscripts(q.qv, 1) AS pos
  FROM q JOIN embeddings emb USING (vec_id)
),
cent AS MATERIALIZED (
  SELECT label, pos,
         CAST((s - (((s % c) + c) % c)) // c AS BIGINT) AS comp
  FROM (SELECT label, pos, CAST(SUM(comp) AS BIGINT) AS s,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM qx GROUP BY 1, 2)
),
cn AS MATERIALIZED (
  SELECT label, CAST(SUM(comp * comp) AS BIGINT) AS cn2 FROM cent GROUP BY 1
),
scores AS MATERIALIZED (
  SELECT v.vec_id, v.label, c.label AS cand,
         CAST(SUM(v.comp * c.comp) AS BIGINT) AS ido
  FROM qx v JOIN cent c USING (pos)
  GROUP BY 1, 2, 3
),
pred AS (
  SELECT vec_id, label, cand AS pred FROM (
    SELECT s.*, ROW_NUMBER() OVER (
      PARTITION BY vec_id
      ORDER BY -(CAST(s.ido AS DOUBLE) / sqrt(CAST(n.cn2 AS DOUBLE))) ASC, s.cand ASC
    ) AS rk
    FROM scores s JOIN cn n ON s.cand = n.label)
  WHERE rk = 1
)
SELECT CAST(label AS BIGINT) AS label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(CASE WHEN pred = label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       CAST((2 * SUM(CASE WHEN pred = label THEN 1 ELSE 0 END) * 1048576 + COUNT(*))
            // (2 * COUNT(*)) AS BIGINT) AS purity_q20
FROM pred GROUP BY 1
"""


def _reach_frontier_oracle(k: int = 3) -> str:
    """Unrolled k-round greedy reach maximization (the
    _greedy_coverage_oracle shape at the channel->user grain)."""
    ctes = [
        """pairs AS MATERIALIZED (
  SELECT DISTINCT event_type AS channel, user_id
  FROM events WHERE event_type <> 'purchase'
)"""
    ]
    prev = None
    for j in range(1, k + 1):
        src = (
            "pairs"
            if prev is None
            else f"(SELECT p.* FROM pairs p ANTI JOIN {prev} USING (user_id))"
        )
        ctes.append(
            f"""r{j} AS MATERIALIZED (
  SELECT CAST({j} AS BIGINT) AS round, channel, CAST(COUNT(*) AS BIGINT) AS gain
  FROM {src} GROUP BY channel ORDER BY gain DESC, channel ASC LIMIT 1
)"""
        )
        new_u = f"SELECT user_id FROM pairs WHERE channel = (SELECT channel FROM r{j})"
        cov = new_u if prev is None else f"SELECT user_id FROM {prev} UNION {new_u}"
        ctes.append(f"c{j} AS MATERIALIZED ({cov})")
        prev = f"c{j}"
    sel = " UNION ALL ".join(f"SELECT * FROM r{j}" for j in range(1, k + 1))
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
sel AS ({sel})
SELECT round, channel, gain,
       CAST(SUM(gain) OVER (ORDER BY round
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS covered_total
FROM sel WHERE gain > 0
"""
    )


_ORACLE_REACH_FRONTIER = _reach_frontier_oracle(3)


def _markov2_removal_oracle_sql(horizon: int = 25) -> str:
    """Unrolled-SQL twin of operators/markov.py removal_effects_order2:
    the first-order oracle's scenario recurrence with pair states and a
    component-membership removal test (list_contains over the '|'
    split — channel names never contain '|', '(start)'/'(conversion)'
    never match a channel)."""
    rounds = []
    for k in range(horizon):
        rounds.append(f"""
q{k + 1} AS MATERIALIZED (
  SELECT p.rm, p.s,
         CASE WHEN p.s = '(conversion)' THEN CAST(1048576 AS BIGINT)
              WHEN list_contains(string_split(p.s, '|'), p.rm) THEN CAST(0 AS BIGINT)
              ELSE COALESCE(agg.v, 0) END AS p
  FROM q{k} p
  LEFT JOIN (
    SELECT pk.rm, t2.src AS s,
           CAST(SUM(t2.n * CASE WHEN list_contains(string_split(t2.dst, '|'), pk.rm)
                                THEN 0 ELSE pk.p END)
                // MAX(tt.tot) AS BIGINT) AS v
    FROM q{k} pk
    JOIN t2 ON t2.dst = pk.s
    JOIN tot2 tt ON tt.src = t2.src
    GROUP BY pk.rm, t2.src
  ) agg ON agg.rm = p.rm AND agg.s = p.s
)""")
    return f"""
WITH {_CONV}, {_SESS}, {_JOURNEYS},
ordered AS (
  SELECT conversion_id, channel_label,
         LAG(channel_label) OVER w AS prev,
         LEAD(channel_label) OVER w AS nxt
  FROM journeys
  WINDOW w AS (PARTITION BY conversion_id ORDER BY event_ts, session_id)
),
st AS (
  SELECT *, concat_ws('|', COALESCE(prev, '^'), channel_label) AS state FROM ordered
),
tr AS (
  SELECT '(start)' AS src, state AS dst FROM st WHERE prev IS NULL
  UNION ALL
  SELECT state AS src, concat_ws('|', channel_label, nxt) AS dst FROM st WHERE nxt IS NOT NULL
  UNION ALL
  SELECT state AS src, '(conversion)' AS dst FROM st WHERE nxt IS NULL
),
t2 AS MATERIALIZED (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n FROM tr GROUP BY 1, 2),
tot2 AS MATERIALIZED (SELECT src, CAST(SUM(n) AS BIGINT) AS tot FROM t2 GROUP BY src),
scen AS (
  SELECT '(none)' AS rm
  UNION ALL SELECT DISTINCT channel_label FROM journeys
),
states AS (SELECT src AS s FROM t2 UNION SELECT dst FROM t2),
q0 AS MATERIALIZED (
  SELECT rm, s, CAST(CASE WHEN s = '(conversion)' THEN 1048576 ELSE 0 END AS BIGINT) AS p
  FROM scen, states
),{",".join(rounds)},
res AS (SELECT rm, p AS absorption_q20 FROM q{horizon} WHERE s = '(start)')
SELECT r.rm AS removed_channel, r.absorption_q20,
       CASE WHEN r.rm = '(none)' THEN CAST(0 AS BIGINT)
            ELSE f.a - r.absorption_q20 END AS removal_q20
FROM res r, (SELECT absorption_q20 AS a FROM res WHERE rm = '(none)') f
"""


_ORACLE_MARKOV2_REMOVAL = _markov2_removal_oracle_sql(25)

# L216 SRM guardrail: canonical salted-md5 bucket, chi-square vs
# 3.8416 = 38416/10000 decided in exact integers.
_ORACLE_SRM_CHECK = """
WITH pu AS (
  SELECT DISTINCT user_id,
         (CAST('0x' || substr(md5(CAST(user_id AS VARCHAR) || '|ab'), 1, 15) AS BIGINT) % 100) AS b
  FROM events
),
a AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(CASE WHEN b < 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN b >= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
  FROM pu
)
SELECT n_users, n_a, n_b,
       CAST((n_a - n_b) * (n_a - n_b) AS BIGINT) AS chi2_num,
       CAST(n_a + n_b AS BIGINT) AS chi2_den,
       CAST(CASE WHEN (n_a - n_b) * (n_a - n_b) * 10000 > 38416 * (n_a + n_b)
            THEN 1 ELSE 0 END AS BIGINT) AS srm_flag
FROM a
"""

# L225 MDE planning: the z constant enters as the exact rational
# 784896256/10^8 (= 2.8016^2); everything else is counts.
_ORACLE_MDE = """
WITH pu AS MATERIALIZED (
  SELECT user_id,
         CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS cv,
         CASE WHEN (CAST('0x' || substr(md5(CAST(user_id AS VARCHAR) || '|ab'), 1, 15) AS BIGINT)
                    % 100) < 50 THEN 1 ELSE 0 END AS a
  FROM events GROUP BY user_id
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_users, CAST(SUM(a) AS BIGINT) AS n_a,
         CAST(SUM(cv) AS BIGINT) AS n_converters
  FROM pu
),
f AS (
  SELECT n_users, n_a, n_users - n_a AS n_b, n_converters,
         CAST(784896256 AS HUGEINT) * 2 * n_converters
           * (n_users - n_converters) * n_users AS num,
         CAST(100000000 AS HUGEINT) * n_users * n_users
           * n_a * (n_users - n_a) AS den
  FROM m
)
SELECT n_users, n_a, n_b, n_converters,
       CAST(num AS VARCHAR) AS mde2_num_str,
       CAST(den AS VARCHAR) AS mde2_den_str,
       CAST((2 * num * 1048576 + den) // (2 * den) AS BIGINT) AS mde2_q20
FROM f
"""

# L226 conversion velocity: exact PERCENTILE_DISC over the first-touch
# lag per channel (rank == ceil(p * n), the quantiles-kernel contract).
_ORACLE_CONVERSION_VELOCITY = f"""
WITH {_CONV}, {_SESS}, {_JOURNEYS},
firsts AS (
  SELECT channel_label AS channel,
         CAST(date_diff('microsecond', event_ts, conv_ts) AS BIGINT) AS lag_us
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY conversion_id
                                     ORDER BY event_ts, session_id) AS rn
        FROM journeys)
  WHERE rn = 1
),
ranked AS (
  SELECT channel, lag_us,
         ROW_NUMBER() OVER (PARTITION BY channel ORDER BY lag_us) AS rn,
         COUNT(*) OVER (PARTITION BY channel) AS n
  FROM firsts
)
SELECT channel, p, lag_us
FROM ranked, (SELECT unnest([0.5e0, 0.9e0]) AS p) pp
WHERE rn = CAST(ceil(p * n) AS BIGINT)
"""

# L224 frame sampling: evenly spaced byte windows; the offset double
# product is one IEEE multiply in both engines, FLOOR mirrors Spark's
# positive long cast; ASCII text makes SQL substr == payload bytes.
_ORACLE_MM_FRAMES = """
WITH media AS (
  SELECT doc_id, text, LENGTH(text) AS n
  FROM documents WHERE doc_id % 3 = 2
),
fr AS (
  SELECT doc_id, CAST(i AS BIGINT) AS frame_no,
         CAST(FLOOR(i * greatest((n - 16) / 4.0, 0)) AS BIGINT) + 1 AS off,
         text
  FROM media, (SELECT unnest(range(0, 4)) AS i) ii
)
SELECT doc_id, frame_no,
       md5(substr(text, CAST(off AS INT), 16)) AS frame_md5,
       CAST(LENGTH(substr(text, CAST(off AS INT), 16)) AS BIGINT) AS frame_len
FROM fr
"""

# L222 CUPED: cross-multiplied adjusted-lift numerator, theta never
# materializes; wide integers ship as decimal strings.
_ORACLE_CUPED = f"""
WITH pu AS MATERIALIZED (
  SELECT user_id,
         CAST(SUM(CASE WHEN CAST(ts AS DATE) < DATE '{DID_CUTOVER}' THEN 1 ELSE 0 END) AS BIGINT) AS x,
         CAST(SUM(CASE WHEN CAST(ts AS DATE) >= DATE '{DID_CUTOVER}' AND event_type = 'purchase'
                  THEN CAST(ROUND(value * 100, 0) AS BIGINT) ELSE 0 END) AS BIGINT) AS y,
         CASE WHEN (CAST('0x' || substr(md5(CAST(user_id AS VARCHAR) || '|ab'), 1, 15) AS BIGINT)
                    % 100) < 50 THEN 1 ELSE 0 END AS a
  FROM events GROUP BY user_id
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(a) AS BIGINT) AS n_a,
         SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx_raw, SUM(CAST(x AS HUGEINT) * y) AS sxy_raw,
         SUM(CAST(a AS HUGEINT) * x) AS sx_a, SUM(CAST(a AS HUGEINT) * y) AS sy_a
  FROM pu
),
c AS (
  SELECT n, n_a, n - n_a AS n_b, sx_a, sx - sx_a AS sx_b, sy_a, sy - sy_a AS sy_b,
         CAST(n AS HUGEINT) * sxx_raw - sx * sx AS sxx,
         CAST(n AS HUGEINT) * sxy_raw - sx * sy AS sxy
  FROM m
),
f AS (
  SELECT *,
         (sy_a * n_b - sy_b * n_a) * sxx - (sx_a * n_b - sx_b * n_a) * sxy AS adj
  FROM c
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       CAST(sx_a AS BIGINT) AS sx_a, CAST(sx_b AS BIGINT) AS sx_b,
       CAST(sy_a AS BIGINT) AS sy_a, CAST(sy_b AS BIGINT) AS sy_b,
       CAST(sxx AS VARCHAR) AS sxx_str, CAST(sxy AS VARCHAR) AS sxy_str,
       CAST(adj AS VARCHAR) AS adj_num_str,
       CAST(CASE WHEN adj > 0 THEN 1 WHEN adj < 0 THEN -1 ELSE 0 END AS BIGINT) AS adj_sign
FROM f
"""

# L220 minhash calibration audit: signature-position agreement vs the
# exact intersection/union, bucketed by the estimate — all integers.
_mh_est = " + ".join(
    f"CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END" for i in range(dd.NUM_HASHES)
)
_ORACLE_MINHASH_ACCURACY = f"""
WITH {_AUG}, {_NORM_AUG}, {_SHINGLED}, {_MINHASH_CTES},
est AS (
  SELECT c.doc_a, c.doc_b, CAST({_mh_est} AS BIGINT) AS est_matches
  FROM cand c
  JOIN sig a ON c.doc_a = a.doc_id
  JOIN sig b ON c.doc_b = b.doc_id
)
SELECT e.est_matches,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(s.inter_size) AS BIGINT) AS sum_inter,
       CAST(SUM(s.union_size) AS BIGINT) AS sum_union
FROM est e JOIN scored s ON e.doc_a = s.doc_a AND e.doc_b = s.doc_b
GROUP BY 1
"""

# L221 burstiness: sample variance vs mean in exact integers.
_ORACLE_BURSTINESS = """
WITH daily AS MATERIALIZED (
  SELECT event_type AS channel, strftime(ts, '%Y-%m-%d') AS event_day,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events WHERE event_type <> 'purchase' GROUP BY 1, 2
),
m AS (
  SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_days,
         SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(x AS HUGEINT) * x) AS sxx
  FROM daily GROUP BY 1
)
SELECT channel, n_days,
       CAST(sx AS BIGINT) AS total_sessions,
       CAST(CAST(n_days AS HUGEINT) * sxx - sx * sx AS BIGINT) AS var_num,
       CAST(CASE WHEN CAST(n_days AS HUGEINT) * sxx - sx * sx > (n_days - 1) * sx
            THEN 1 ELSE 0 END AS BIGINT) AS bursty_flag
FROM m
"""

# L218 revenue decomposition: price/volume split scaled by n_prev so
# both effects are integers; identity vol+price = n_prev * dR.
_ORACLE_REVENUE_DECOMPOSITION = """
WITH monthly AS MATERIALIZED (
  SELECT strftime(ts, '%Y-%m') AS month,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS rev_cents
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
lagged AS (
  SELECT month, n_orders, rev_cents,
         LAG(n_orders) OVER (ORDER BY month) AS n_prev,
         LAG(rev_cents) OVER (ORDER BY month) AS rev_prev_cents
  FROM monthly
)
SELECT month, n_orders, rev_cents,
       CAST(n_prev AS BIGINT) AS n_prev,
       CAST(rev_prev_cents AS BIGINT) AS rev_prev_cents,
       CAST((n_orders - n_prev) * rev_prev_cents AS BIGINT) AS volume_num,
       CAST(rev_cents * n_prev - n_orders * rev_prev_cents AS BIGINT) AS price_num
FROM lagged WHERE n_prev IS NOT NULL
"""

# L217 saturation curve: shingle first-occurrence decile (shingle CTE
# shape identical to the greedy-coverage oracle's pairs).
_ORACLE_SATURATION_CURVE = """
WITH nd AS MATERIALIZED (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
  FROM documents
),
pairs AS MATERIALIZED (
  SELECT DISTINCT doc_id, sh FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, greatest(len(ws) - 1, 2)),
                  i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))) AS sh
    FROM (SELECT doc_id, string_split(norm, ' ') AS ws FROM nd)
  ) WHERE sh <> ''
),
mx AS (SELECT CAST(MAX(doc_id) AS BIGINT) AS mxid FROM documents),
first AS MATERIALIZED (SELECT sh, MIN(doc_id) AS fd FROM pairs GROUP BY sh),
novel AS (
  SELECT CAST(least(9, fd * 10 // (mxid + 1)) AS BIGINT) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS novel_shingles
  FROM first, mx GROUP BY 1
),
mentions AS (
  SELECT CAST(least(9, doc_id * 10 // (mxid + 1)) AS BIGINT) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS distinct_mentions
  FROM pairs, mx GROUP BY 1
),
nd2 AS (
  SELECT CAST(least(9, doc_id * 10 // (mxid + 1)) AS BIGINT) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents, mx GROUP BY 1
)
SELECT n.bucket, n.n_docs,
       CAST(COALESCE(v.novel_shingles, 0) AS BIGINT) AS novel_shingles,
       CAST(COALESCE(m.distinct_mentions, 0) AS BIGINT) AS distinct_mentions
FROM nd2 n LEFT JOIN novel v USING (bucket) LEFT JOIN mentions m USING (bucket)
"""

# L215 lookback sensitivity: every window is a subset filter of the
# 30-day journeys (exact integer-microsecond bound), linear credit per
# (conversion, lookback) via the 1/len half-up device.
_ORACLE_LOOKBACK_SENSITIVITY = f"""
WITH {_CONV}, {_SESS}, {_JOURNEYS},
lbs AS (SELECT CAST(unnest([7, 14, 30]) AS BIGINT) AS lookback_days),
x AS (
  SELECT l.lookback_days, j.channel_label AS channel, j.conversion_id
  FROM journeys j CROSS JOIN lbs l
  WHERE date_diff('microsecond', j.event_ts, j.conv_ts) <= l.lookback_days * 86400000000
),
sized AS (
  SELECT *, CAST(COUNT(*) OVER (PARTITION BY conversion_id, lookback_days) AS BIGINT) AS n
  FROM x
)
SELECT lookback_days, channel,
       CAST(COUNT(DISTINCT conversion_id) AS BIGINT) AS n_conversions,
       CAST(COUNT(*) AS BIGINT) AS n_touches,
       CAST(SUM((2097152 + n) // (2 * n)) AS BIGINT) AS credit_q20
FROM sized GROUP BY 1, 2
"""

# L214 survivorship: the dedup_clusters recursive-CTE oracle with the
# final projection swapped for the longest-text-wins policy (string
# surgery on the shared prefix; asserted to have matched).
_DC_TAIL = """
SELECT doc_id, MIN(cluster_id) AS cluster_id
FROM walk
GROUP BY doc_id
"""
_ORACLE_DEDUP_SURVIVORS = _ORACLE_DEDUP_CLUSTERS.replace(
    _DC_TAIL,
    """,
cl AS (SELECT doc_id, MIN(cluster_id) AS cluster_id FROM walk GROUP BY doc_id),
lens AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars FROM aug),
j AS (SELECT c.doc_id, c.cluster_id, l.n_chars FROM cl c JOIN lens l USING (doc_id)),
surv AS (
  SELECT cluster_id, doc_id AS survivor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id
                                 ORDER BY n_chars DESC, doc_id ASC) AS rk
    FROM j) WHERE rk = 1
)
SELECT j.doc_id, j.cluster_id, s.survivor_id,
       CAST(CASE WHEN j.doc_id = s.survivor_id THEN 1 ELSE 0 END AS BIGINT) AS is_survivor,
       j.n_chars
FROM j JOIN surv s USING (cluster_id)
""",
)
assert _ORACLE_DEDUP_SURVIVORS != _ORACLE_DEDUP_CLUSTERS, "survivor tail splice failed"

# L223 cluster-size histogram: the same splice device — clusters CTE +
# a double aggregate.
_ORACLE_DUP_CLUSTER_SIZES = _ORACLE_DEDUP_CLUSTERS.replace(
    _DC_TAIL,
    """,
cl AS (SELECT doc_id, MIN(cluster_id) AS cluster_id FROM walk GROUP BY doc_id),
sizes AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size FROM cl GROUP BY 1)
SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
FROM sizes GROUP BY 1
""",
)
assert _ORACLE_DUP_CLUSTER_SIZES != _ORACLE_DEDUP_CLUSTERS, "sizes tail splice failed"
# splice point is after walk's closing paren: ')\n,' is valid only if the
# replacement starts by extending the WITH list — it does (leading comma).

# L213 adstock decay fit: candidate ranking by exact cross-multiplied
# weight-normalized covariance (cov_a * W_b vs cov_b * W_a) — ties to
# the smaller half-life, mirroring the Spark driver loop's strict >.
_ORACLE_ADSTOCK_DECAY_FIT = """
WITH bounds AS (SELECT MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1 FROM events),
spine AS MATERIALIZED (
  SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS d FROM bounds
),
chans AS (SELECT DISTINCT event_type AS channel FROM events WHERE event_type <> 'purchase'),
x AS MATERIALIZED (
  SELECT event_type AS channel, CAST(ts AS DATE) AS d,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM events WHERE event_type <> 'purchase' GROUP BY 1, 2
),
y AS MATERIALIZED (
  SELECT CAST(ts AS DATE) AS d,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS yc
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
grid AS MATERIALIZED (
  SELECT c.channel, s.d, COALESCE(x.cents, 0) AS cents, COALESCE(y.yc, 0) AS y
  FROM spine s CROSS JOIN chans c
  LEFT JOIN x ON x.channel = c.channel AND x.d = s.d
  LEFT JOIN y ON y.d = s.d
),
ms AS (SELECT CAST(unnest([1, 2, 3]) AS BIGINT) AS m),
ad AS MATERIALIZED (
  SELECT t.channel, t.d, mm.m, MAX(t.y) AS y,
         CAST(SUM(i.cents * (CAST(1 AS BIGINT) << (mm.m * (7 - (t.d - i.d))))) AS BIGINT) AS a
  FROM grid t
  JOIN grid i ON i.channel = t.channel AND i.d <= t.d AND i.d >= t.d - 7
  CROSS JOIN ms mm
  GROUP BY 1, 2, 3
),
mom AS MATERIALIZED (
  SELECT channel, m, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(y AS HUGEINT)) AS sy,
         SUM(CAST(a AS HUGEINT)) AS sa,
         SUM(CAST(a AS HUGEINT) * y) AS say
  FROM ad GROUP BY 1, 2
),
cov AS MATERIALIZED (
  SELECT channel, m,
         ((CAST(1 AS BIGINT) << (m * 8)) - 1) // ((CAST(1 AS BIGINT) << m) - 1) AS w,
         CAST(n AS HUGEINT) * say - sa * sy AS cv
  FROM mom
)
SELECT c.channel, c.m AS halflife_m, CAST(c.w AS BIGINT) AS w_sum,
       CAST(c.cv AS VARCHAR) AS cov_num_str,
       CAST(CASE WHEN NOT EXISTS (
         SELECT 1 FROM cov b WHERE b.channel = c.channel AND b.m <> c.m
           AND (b.cv * c.w > c.cv * b.w OR (b.cv * c.w = c.cv * b.w AND b.m < c.m))
       ) THEN 1 ELSE 0 END AS BIGINT) AS is_best
FROM cov c
"""


# --- r06 additions (operators/markov.py next_best_channel) ---
# Laplace-smoothed argmax next step per source state; all-integer
# smoothing device, BIGINT headroom (counts x 2^21 << 2^63)
_ORACLE_NEXT_BEST_CHANNEL = f"""
WITH {_CONV}, {_SESS}, {_JOURNEYS},
ordered AS (
  SELECT conversion_id, channel_label,
         LAG(channel_label) OVER w AS prev,
         LEAD(channel_label) OVER w AS nxt
  FROM journeys
  WINDOW w AS (PARTITION BY conversion_id ORDER BY event_ts, session_id)
),
tr AS (
  SELECT COALESCE(prev, '(start)') AS src, channel_label AS dst FROM ordered
  UNION ALL
  SELECT channel_label AS src, '(conversion)' AS dst FROM ordered WHERE nxt IS NULL
),
t AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n FROM tr GROUP BY 1, 2),
v AS (SELECT CAST(COUNT(DISTINCT dst) AS BIGINT) AS n_dst FROM t),
tot AS (SELECT src, CAST(SUM(n) AS BIGINT) AS n_total FROM t GROUP BY 1),
best AS (
  SELECT src, dst, n FROM t
  QUALIFY ROW_NUMBER() OVER (PARTITION BY src ORDER BY n DESC, dst) = 1
)
SELECT b.src, b.dst AS best_next, b.n AS n_best, tt.n_total, v.n_dst,
       CAST((2 * (b.n + 1) * 1048576 + (tt.n_total + v.n_dst))
            // (2 * (tt.n_total + v.n_dst)) AS BIGINT) AS prob_q20
FROM best b JOIN tot tt USING (src), v
"""

# operators/survival.py interpurchase_cadence: purchase-gap log-histogram
# quantiles per lifetime-purchase segment (same bucket SQL as the L106
# latency sketch; gaps in exact integer microseconds)
_ORACLE_INTERPURCHASE = """
WITH p AS (
  SELECT user_id, ts,
         LAG(ts) OVER w AS prev,
         COUNT(*) OVER (PARTITION BY user_id) AS np
  FROM events WHERE event_type = 'purchase'
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
gaps AS (
  SELECT user_id,
         CASE WHEN np >= 6 THEN '6+' WHEN np >= 4 THEN '4-5' ELSE '2-3' END AS cadence_bucket,
         epoch_us(ts) - epoch_us(prev) AS x
  FROM p WHERE prev IS NOT NULL
),
b AS (
  SELECT user_id, cadence_bucket, CAST((x >> g) << g AS BIGINT) AS bucket_lb
  FROM (SELECT user_id, cadence_bucket, x,
               CASE WHEN length(printf('%b', x)) - 3 > 0
                    THEN length(printf('%b', x)) - 3 ELSE 0 END AS g
        FROM gaps)
),
h AS (SELECT cadence_bucket, bucket_lb, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY 1, 2),
cdf AS (
  SELECT cadence_bucket, bucket_lb,
         CAST(SUM(c) OVER (PARTITION BY cadence_bucket ORDER BY bucket_lb) AS BIGINT) AS cum,
         CAST(SUM(c) OVER (PARTITION BY cadence_bucket) AS BIGINT) AS n
  FROM h
),
q AS (
  SELECT cadence_bucket,
         CAST(MAX(n) AS BIGINT) AS n_gaps,
         CAST(MIN(CASE WHEN cum * 2 >= n * 1 THEN bucket_lb END) AS BIGINT) AS p50_gap_lb,
         CAST(MIN(CASE WHEN cum * 10 >= n * 9 THEN bucket_lb END) AS BIGINT) AS p90_gap_lb
  FROM cdf GROUP BY 1
),
u AS (SELECT cadence_bucket, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM gaps GROUP BY 1)
SELECT q.cadence_bucket, u.n_users, q.n_gaps, q.p50_gap_lb, q.p90_gap_lb
FROM q JOIN u USING (cadence_bucket)
"""

# operators/timeseries.py holt_linear_forecast: the identical integer
# q20 recurrence replayed with WITH RECURSIVE over the materialized
# dense spine (CLAUDE.md: recursive chains rooted at parquet views must
# materialize); HUGEINT // truncates exactly like the Spark-side _tdiv
_ORACLE_HOLT_FORECAST = """
WITH RECURSIVE
daily AS MATERIALIZED (
  SELECT event_type AS channel, CAST(ts AS DATE) AS d,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
  FROM events WHERE event_type <> 'purchase' GROUP BY 1, 2
),
span AS MATERIALIZED (
  SELECT MIN(d) AS d0, datediff('day', MIN(d), MAX(d)) AS nmax FROM daily
),
spine AS MATERIALIZED (
  SELECT c.channel, CAST(r.rn AS BIGINT) AS rn, COALESCE(dl.y, 0) AS y
  FROM (SELECT DISTINCT channel FROM daily) c
  CROSS JOIN span sp
  CROSS JOIN LATERAL (SELECT UNNEST(generate_series(0, sp.nmax)) AS rn) r
  LEFT JOIN daily dl ON dl.channel = c.channel AND dl.d = sp.d0 + CAST(r.rn AS INTEGER)
),
rec AS (
  SELECT s.channel, CAST(1 AS BIGINT) AS t,
         CAST(1048576 AS HUGEINT) * s.y AS lev,
         COALESCE(CAST(1048576 AS HUGEINT) * (s2.y - s.y), CAST(0 AS HUGEINT)) AS tr,
         CAST(0 AS HUGEINT) AS sae
  FROM spine s LEFT JOIN spine s2 ON s2.channel = s.channel AND s2.rn = 1
  WHERE s.rn = 0
  UNION ALL
  SELECT channel, t, lev2 AS lev,
         ((lev2 - lev) + 3 * tr) // 4 AS tr,
         sae2 AS sae
  FROM (
    SELECT r.channel, r.t + 1 AS t, r.lev AS lev, r.tr AS tr,
           (CAST(1048576 AS HUGEINT) * d.y + 3 * (r.lev + r.tr)) // 4 AS lev2,
           r.sae + abs(CAST(1048576 AS HUGEINT) * d.y - (r.lev + r.tr)) AS sae2
    FROM rec r JOIN spine d ON d.channel = r.channel AND d.rn = r.t
  )
)
SELECT channel,
       CAST((SELECT nmax FROM span) + 1 AS BIGINT) AS n_days,
       CAST(lev AS BIGINT) AS level_cents_q20,
       CAST(tr AS BIGINT) AS trend_cents_q20,
       CAST(lev + tr AS BIGINT) AS fc1_cents_q20,
       CAST(lev + 7 * tr AS BIGINT) AS fc7_cents_q20,
       CAST(CASE WHEN (SELECT nmax FROM span) >= 1
                 THEN sae // (SELECT CAST(nmax AS HUGEINT) FROM span)
                 ELSE 0 END AS BIGINT) AS mae_onestep_cents_q20
FROM rec WHERE t = (SELECT nmax FROM span) + 1
"""

# llm/dedup.py doc_novelty: shingle -> min(doc_id) inverted index over
# the augmented corpus; counts are distinct-shingle counts (the
# _SHINGLE5 sets are list_distinct, matching shingle_sets)
_ORACLE_DOC_NOVELTY = f"""
WITH {_AUG},
sh AS ({_SHINGLE5.format(src="aug")}),
ex AS (SELECT doc_id, unnest(ds) AS s FROM sh),
f AS (SELECT s, MIN(doc_id) AS fd FROM ex GROUP BY 1)
SELECT e.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN f.fd = e.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       CAST((2 * SUM(CASE WHEN f.fd = e.doc_id THEN 1 ELSE 0 END) * 1048576 + COUNT(*))
            // (2 * COUNT(*)) AS BIGINT) AS novelty_q20
FROM ex e JOIN f USING (s) GROUP BY 1
"""

# llm/dedup.py cdc_chunk_table: rolling 3-word-window boundaries
# (60-bit md5 hash = 0 mod 8, never at the last word), chunks rebuilt
# by 1-based list_slice between consecutive bounds, md5 chunk store —
# the shared CTE chain under both CDC oracles
_CDC_CHUNK_CTES = r"""d AS (
  SELECT doc_id, source,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ws
  FROM documents
),
d2 AS (SELECT doc_id, source, ws, len(ws) AS n FROM d),
cuts AS (
  SELECT doc_id, source, ws, n,
         list_filter(
           list_transform(range(1, greatest(n - 1, 2)),
             i -> CASE WHEN CAST('0x' || substr(md5(concat_ws(' ', ws[i], ws[i+1], ws[i+2])), 1, 15) AS BIGINT) % 8 = 0
                        AND i + 2 < n
                       THEN i + 2 END),
           x -> x IS NOT NULL) AS cuts
  FROM d2
),
b3 AS (
  SELECT doc_id, source, ws,
         list_concat(list_concat([CAST(0 AS BIGINT)], cuts), [CAST(n AS BIGINT)]) AS bounds
  FROM cuts
),
ch AS (
  SELECT doc_id, source,
         unnest(list_transform(range(1, len(bounds)),
           j -> md5(array_to_string(list_slice(ws, bounds[j] + 1, bounds[j + 1]), ' ')))) AS chunk_md5
  FROM b3
)"""

_ORACLE_CDC_CHUNKS = f"""
WITH {_CDC_CHUNK_CTES}
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(COUNT(DISTINCT chunk_md5) AS BIGINT) AS n_distinct_chunks,
       CAST((2 * (COUNT(*) - COUNT(DISTINCT chunk_md5)) * 1048576 + COUNT(*))
            // (2 * COUNT(*)) AS BIGINT) AS dup_chunk_ratio_q20
FROM ch GROUP BY 1
"""

# llm/dedup.py cdc_cross_source: distinct (source, chunk) pairs
# self-joined on the chunk hash, a < b
_ORACLE_CDC_CROSS_SOURCE = f"""
WITH {_CDC_CHUNK_CTES},
p AS (SELECT DISTINCT source, chunk_md5 FROM ch)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(COUNT(*) AS BIGINT) AS shared_chunks
FROM p a JOIN p b ON a.chunk_md5 = b.chunk_md5 AND a.source < b.source
GROUP BY 1, 2
"""

# streaming/incremental.py IncrementalChunkStore +
# __spark_entry__.q_stream_cdc_store: the chunk store's merge law is
# order-independent (owner = min (doc_id, source), occurrences = sum),
# so the batch chunk table aggregated the same way IS the final
# streaming state — ownership per chunk, then per-owner-source rollup
_ORACLE_STREAM_CDC_STORE = f"""
WITH {_CDC_CHUNK_CTES},
store AS (
  SELECT chunk_md5,
         MIN(doc_id) AS owner_doc,
         arg_min(source, doc_id) AS owner_source,
         CAST(COUNT(*) AS BIGINT) AS n_occurrences
  FROM ch GROUP BY 1
)
SELECT owner_source AS source,
       CAST(COUNT(*) AS BIGINT) AS owned_chunks,
       CAST(SUM(n_occurrences) AS BIGINT) AS owned_occurrences,
       CAST((2 * SUM(n_occurrences) * 1048576 + COUNT(*)) // (2 * COUNT(*)) AS BIGINT) AS dup_pull_q20
FROM store GROUP BY 1
"""


# llm/embquality.py centroid_distance_outliers: ivf_assign's exact
# assignment SQL (same as _ORACLE_ANN_IVF) + per-cluster worst-decile
# rank cut by integer cross-multiplication
_ORACLE_EMBEDDING_OUTLIERS = f"""
WITH {_E_NORMED},
cents AS (SELECT vec_id AS centroid_id, v AS cv, vn AS cn FROM e WHERE vec_id < 8),
ascored AS (
  SELECT e.vec_id, e.v, e.vn, c.centroid_id,
         list_dot_product(e.v, c.cv) / (e.vn * c.cn) AS cs
  FROM e, cents c
),
assign AS (
  SELECT vec_id, v, vn, centroid_id AS cluster FROM ascored
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cs DESC, centroid_id) = 1
),
scored AS (
  SELECT a.cluster, a.vec_id,
         list_dot_product(a.v, c.cv) / (a.vn * c.cn) AS cs
  FROM assign a JOIN cents c ON a.cluster = c.centroid_id
),
r AS (
  SELECT cluster, vec_id, cs,
         CAST(ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY cs ASC, vec_id) AS BIGINT) AS rnk,
         COUNT(*) OVER (PARTITION BY cluster) AS n
  FROM scored
)
SELECT cluster, vec_id,
       CAST(FLOOR(cs * 1048576.0 + 0.5) AS BIGINT) AS cos_q20,
       rnk
FROM r WHERE rnk * 10 <= 1 * n
"""


# llm/similarity.py ann_recall_audit: brute truth spine LEFT JOIN the
# IVF result (the cand/assign CTEs are _ORACLE_ANN_IVF's verbatim)
_ORACLE_ANN_RECALL = f"""
WITH {_E_NORMED},
q AS (SELECT vec_id AS query_id, v AS qv, vn AS qn FROM e WHERE vec_id % 50 = 7),
truth AS (
  SELECT q.query_id, e.vec_id
  FROM q, e
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY q.query_id
    ORDER BY list_dot_product(q.qv, e.v) / (q.qn * e.vn) DESC, e.vec_id) <= 5
),
cents AS (SELECT vec_id AS centroid_id, v AS cv, vn AS cn FROM e WHERE vec_id < 8),
ascored AS (
  SELECT e.vec_id, e.v, e.vn, c.centroid_id,
         list_dot_product(e.v, c.cv) / (e.vn * c.cn) AS cs
  FROM e, cents c
),
assign AS (
  SELECT vec_id, v, vn, centroid_id AS cluster FROM ascored
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cs DESC, centroid_id) = 1
),
qscored AS (
  SELECT q.query_id, q.qv, q.qn, c.centroid_id,
         list_dot_product(q.qv, c.cv) / (q.qn * c.cn) AS cs
  FROM q, cents c
),
probes AS (
  SELECT query_id, qv, qn, centroid_id AS cluster FROM qscored
  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cs DESC, centroid_id) <= 2
),
approx AS (
  SELECT query_id, vec_id FROM (
    SELECT p.query_id, a.vec_id,
           list_dot_product(p.qv, a.v) / (p.qn * a.vn) AS cos
    FROM probes p JOIN assign a ON p.cluster = a.cluster
  )
  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) <= 5
)
SELECT t.query_id,
       CAST(COUNT(a.vec_id) AS BIGINT) AS n_hits,
       CAST((2 * COUNT(a.vec_id) * 1048576 + 5) // 10 AS BIGINT) AS recall_q20
FROM truth t LEFT JOIN approx a ON t.query_id = a.query_id AND t.vec_id = a.vec_id
GROUP BY 1
"""

# __spark_entry__.q_ann_tuning: the L233 audit swept over probe
# levels 1/2/4/8 — centroid rank computed once, each level filters
# crank <= p via a VALUES join, one (probe, query) rank window
_ORACLE_ANN_TUNING = f"""
WITH {_E_NORMED},
q AS (SELECT vec_id AS query_id, v AS qv, vn AS qn FROM e WHERE vec_id % 50 = 7),
cents AS (SELECT vec_id AS centroid_id, v AS cv, vn AS cn FROM e WHERE vec_id < 8),
truth AS (
  SELECT q.query_id, e.vec_id
  FROM q, e
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY q.query_id
    ORDER BY list_dot_product(q.qv, e.v) / (q.qn * e.vn) DESC, e.vec_id) <= 5
),
ascored AS (
  SELECT e.vec_id, e.v, e.vn, c.centroid_id,
         list_dot_product(e.v, c.cv) / (e.vn * c.cn) AS cs
  FROM e, cents c
),
assign AS (
  SELECT vec_id, v, vn, centroid_id AS cluster FROM ascored
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cs DESC, centroid_id) = 1
),
qscored AS (
  SELECT q.query_id, q.qv, q.qn, c.centroid_id,
         list_dot_product(q.qv, c.cv) / (q.qn * c.cn) AS cs
  FROM q, cents c
),
probes AS (
  SELECT query_id, qv, qn, centroid_id AS cluster,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cs DESC, centroid_id) AS BIGINT) AS crank
  FROM qscored
  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY cs DESC, centroid_id) <= 8
),
cand AS (
  SELECT p.query_id, a.vec_id, p.crank,
         list_dot_product(p.qv, a.v) / (p.qn * a.vn) AS cos
  FROM probes p JOIN assign a ON p.cluster = a.cluster
),
levels AS (SELECT CAST(probe AS BIGINT) AS probe
           FROM (VALUES (1), (2), (4), (8)) AS t(probe)),
cl AS (
  SELECT l.probe, c.query_id, c.vec_id, c.cos
  FROM cand c JOIN levels l ON c.crank <= l.probe
),
ranked AS (
  SELECT probe, query_id, vec_id,
         ROW_NUMBER() OVER (PARTITION BY probe, query_id
                            ORDER BY cos DESC, vec_id) AS rn
  FROM cl
),
nq AS (SELECT CAST(COUNT(*) AS BIGINT) AS nq FROM q),
ncorp AS (SELECT CAST(COUNT(*) AS BIGINT) AS nc FROM embeddings),
agg AS (
  SELECT r.probe,
         CAST(COUNT(*) AS BIGINT) AS n_candidates,
         CAST(COUNT(*) FILTER (WHERE r.rn <= 5 AND t.vec_id IS NOT NULL)
              AS BIGINT) AS sum_hits
  FROM ranked r
  LEFT JOIN truth t ON r.query_id = t.query_id AND r.vec_id = t.vec_id
  GROUP BY 1
)
SELECT probe, sum_hits,
       CAST((2 * sum_hits * 1048576 + 5 * nq.nq) // (2 * 5 * nq.nq)
            AS BIGINT) AS recall_q20,
       n_candidates,
       CAST((2 * n_candidates * 1048576 + nq.nq * ncorp.nc)
            // (2 * nq.nq * ncorp.nc) AS BIGINT) AS scan_share_q20
FROM agg, nq, ncorp
"""


# __spark_entry__.q_rel_skew_profile: key-frequency tables per join
# spine; percentiles mirror the Spark rank device (value at row_number
# == ceil(p * n) ordered by frequency asc) — never the engines' own
# quantile functions, whose index conventions differ
_ORACLE_SKEW_PROFILE = """
WITH f AS (
  SELECT 'events.user_id' AS relation, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY user_id
  UNION ALL
  SELECT 'lineitem.l_orderkey', CAST(COUNT(*) AS BIGINT)
  FROM lineitem GROUP BY l_orderkey
  UNION ALL
  SELECT 'orders.o_custkey', CAST(COUNT(*) AS BIGINT)
  FROM orders GROUP BY o_custkey
),
scal AS (
  SELECT relation,
         CAST(SUM(c) AS BIGINT) AS n_rows,
         CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(MAX(c) AS BIGINT) AS max_rows
  FROM f GROUP BY 1
),
ranked AS (
  SELECT relation, c,
         ROW_NUMBER() OVER (PARTITION BY relation ORDER BY c) AS rn,
         COUNT(*) OVER (PARTITION BY relation) AS n
  FROM f
),
pct AS (
  SELECT relation,
         CAST(MAX(CASE WHEN rn = CAST(CEIL(0.5e0 * n) AS BIGINT) THEN c END)
              AS BIGINT) AS p50_rows,
         CAST(MAX(CASE WHEN rn = CAST(CEIL(0.99e0 * n) AS BIGINT) THEN c END)
              AS BIGINT) AS p99_rows
  FROM ranked GROUP BY 1
)
SELECT s.relation, s.n_rows, s.n_keys, s.max_rows,
       CAST((2 * s.max_rows * 1048576 + s.n_rows) // (2 * s.n_rows)
            AS BIGINT) AS top_share_q20,
       p.p50_rows, p.p99_rows
FROM scal s JOIN pct p USING (relation)
"""


# llm_ann_recall_drift: the L233 recall audit per even/odd vec_id
# ingest half — queries and centroids fixed from the FULL corpus, only
# the searched side varies (truth spine and IVF both restricted to the
# half); per-half aggregate with the half-up q20 device
_ORACLE_ANN_RECALL_DRIFT = """
WITH """ + _E_NORMED + """,
q AS (SELECT vec_id AS query_id, v AS qv, vn AS qn FROM e WHERE vec_id % 50 = 7),
cents AS (SELECT vec_id AS centroid_id, v AS cv, vn AS cn FROM e WHERE vec_id < 8),
h0 AS (
  SELECT CAST(0 AS BIGINT) AS half,
         CAST(COUNT(*) AS BIGINT) AS n_queries,
         CAST(SUM(n_hits) AS BIGINT) AS sum_hits
  FROM (
    SELECT t.query_id, CAST(COUNT(a.vec_id) AS BIGINT) AS n_hits
    FROM (
      SELECT q.query_id, s.vec_id
      FROM q, e s WHERE s.vec_id % 2 = 0
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY q.query_id
        ORDER BY list_dot_product(q.qv, s.v) / (q.qn * s.vn) DESC, s.vec_id) <= 5
    ) t
    LEFT JOIN (
      SELECT query_id, vec_id FROM (
        SELECT p.query_id, a2.vec_id,
               list_dot_product(p.qv, a2.v) / (p.qn * a2.vn) AS cos
        FROM (
          SELECT q.query_id, q.qv, q.qn, c.centroid_id AS cluster
          FROM q, cents c
          QUALIFY ROW_NUMBER() OVER (PARTITION BY q.query_id
            ORDER BY list_dot_product(q.qv, c.cv) / (q.qn * c.cn) DESC, c.centroid_id) <= 2
        ) p
        JOIN (
          SELECT s.vec_id, s.v, s.vn, c.centroid_id AS cluster
          FROM e s, cents c WHERE s.vec_id % 2 = 0
          QUALIFY ROW_NUMBER() OVER (PARTITION BY s.vec_id
            ORDER BY list_dot_product(s.v, c.cv) / (s.vn * c.cn) DESC, c.centroid_id) = 1
        ) a2 ON p.cluster = a2.cluster
      )
      QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) <= 5
    ) a ON t.query_id = a.query_id AND t.vec_id = a.vec_id
    GROUP BY 1
  )
),
h1 AS (
  SELECT CAST(1 AS BIGINT) AS half,
         CAST(COUNT(*) AS BIGINT) AS n_queries,
         CAST(SUM(n_hits) AS BIGINT) AS sum_hits
  FROM (
    SELECT t.query_id, CAST(COUNT(a.vec_id) AS BIGINT) AS n_hits
    FROM (
      SELECT q.query_id, s.vec_id
      FROM q, e s WHERE s.vec_id % 2 = 1
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY q.query_id
        ORDER BY list_dot_product(q.qv, s.v) / (q.qn * s.vn) DESC, s.vec_id) <= 5
    ) t
    LEFT JOIN (
      SELECT query_id, vec_id FROM (
        SELECT p.query_id, a2.vec_id,
               list_dot_product(p.qv, a2.v) / (p.qn * a2.vn) AS cos
        FROM (
          SELECT q.query_id, q.qv, q.qn, c.centroid_id AS cluster
          FROM q, cents c
          QUALIFY ROW_NUMBER() OVER (PARTITION BY q.query_id
            ORDER BY list_dot_product(q.qv, c.cv) / (q.qn * c.cn) DESC, c.centroid_id) <= 2
        ) p
        JOIN (
          SELECT s.vec_id, s.v, s.vn, c.centroid_id AS cluster
          FROM e s, cents c WHERE s.vec_id % 2 = 1
          QUALIFY ROW_NUMBER() OVER (PARTITION BY s.vec_id
            ORDER BY list_dot_product(s.v, c.cv) / (s.vn * c.cn) DESC, c.centroid_id) = 1
        ) a2 ON p.cluster = a2.cluster
      )
      QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) <= 5
    ) a ON t.query_id = a.query_id AND t.vec_id = a.vec_id
    GROUP BY 1
  )
)
SELECT half, n_queries, sum_hits,
       CAST(CASE WHEN n_queries = 0 THEN 0
            ELSE (2 * sum_hits * 1048576 + 5 * n_queries) // (2 * 5 * n_queries)
            END AS BIGINT) AS recall_q20
FROM (SELECT * FROM h0 UNION ALL SELECT * FROM h1)
"""


# operators/timeseries.py dow_seasonal_index: days-since-Monday mod 7
# (engine-neutral dow), exact cents, HUGEINT // == DECIMAL(38,0) div
_ORACLE_DOW_INDEX = """
WITH per AS (
  SELECT event_type AS channel,
         CAST(datediff('day', DATE '1970-01-05', CAST(ts AS DATE)) % 7 AS BIGINT) AS dow,
         CAST(COUNT(*) AS BIGINT) AS n_sessions,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM events WHERE event_type <> 'purchase' GROUP BY 1, 2
),
t AS (SELECT channel, CAST(SUM(CAST(cents AS HUGEINT)) AS HUGEINT) AS total FROM per GROUP BY 1)
SELECT p.channel, p.dow, p.n_sessions, p.cents,
       CAST(CASE WHEN t.total = 0 THEN 0
            ELSE (7 * CAST(p.cents AS HUGEINT) * 1048576) // t.total END AS BIGINT) AS index_q20
FROM per p JOIN t USING (channel)
"""


# streaming mix-drift twin: daily counts restricted to CLOSED windows
# (day_end <= max ts - 1h, the stream_topk emission boundary), then
# the L235 chi-square anchored at the max EMITTED day
_ORACLE_STREAM_MIX_DRIFT = """
WITH wm AS (SELECT MAX(ts) - INTERVAL 1 HOUR AS w FROM events),
daily AS MATERIALIZED (
  SELECT event_type AS channel, CAST(ts AS DATE) AS d,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events WHERE event_type <> 'purchase'
  GROUP BY 1, 2
),
emitted AS (
  SELECT * FROM daily
  WHERE CAST(d AS TIMESTAMP) + INTERVAL 1 DAY <= (SELECT w FROM wm)
),
mx AS (SELECT MAX(d) AS mxd FROM emitted),
per AS (
  SELECT channel,
         CAST(SUM(CASE WHEN datediff('day', d, (SELECT mxd FROM mx)) < 7 THEN n ELSE 0 END) AS BIGINT) AS n_cur,
         CAST(SUM(CASE WHEN datediff('day', d, (SELECT mxd FROM mx)) >= 7 THEN n ELSE 0 END) AS BIGINT) AS n_base
  FROM emitted
  WHERE datediff('day', d, (SELECT mxd FROM mx)) < 14
  GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(CASE WHEN n_base > 0 THEN n_cur ELSE 0 END) AS HUGEINT) AS n,
         CAST(SUM(CASE WHEN n_base > 0 THEN n_base ELSE 0 END) AS HUGEINT) AS m
  FROM per
)
SELECT p.channel, p.n_cur, p.n_base,
       CASE WHEN p.n_base > 0 AND t.n > 0 THEN
         CAST((2 * (p.n_cur * t.m - t.n * p.n_base) * (p.n_cur * t.m - t.n * p.n_base) * 1048576
               + (t.n * p.n_base * t.m))
              // (2 * (t.n * p.n_base * t.m)) AS BIGINT)
       END AS chi2_contrib_q20
FROM per p, tot t
"""

# operators/reporting.py cac_payback: cumulative last-touch revenue
# cents vs cumulative cost mils, break-even month by integer
# cross-multiplication (x10), lexicographic yyyy-MM == chronological
_ORACLE_CAC_PAYBACK = f"""
WITH {_CONV}, {_SESS}, {_JOURNEYS}, {_COSTS},
lt AS (
  SELECT conversion_id, channel_label, conv_ts, revenue,
         ROW_NUMBER() OVER (PARTITION BY conversion_id
                            ORDER BY event_ts DESC, session_id DESC) AS rn
  FROM journeys
),
rev AS (
  SELECT channel_label AS channel, strftime(conv_ts, '%Y-%m') AS month,
         CAST(SUM(CAST(ROUND(revenue * 100, 0) AS BIGINT)) AS BIGINT) AS rev_cents
  FROM lt WHERE rn = 1 GROUP BY 1, 2
),
co AS (
  SELECT s.channel_name AS channel, strftime(s.event_ts, '%Y-%m') AS month,
         CAST(SUM(CAST(ROUND(c.cost * 1000, 0) AS BIGINT)) AS BIGINT) AS cost_mils
  FROM costs c JOIN sess s ON c.session_id = s.session_id GROUP BY 1, 2
),
m AS (
  SELECT COALESCE(r.channel, c.channel) AS channel,
         COALESCE(r.month, c.month) AS month,
         COALESCE(r.rev_cents, 0) AS rev_cents,
         COALESCE(c.cost_mils, 0) AS cost_mils
  FROM rev r FULL OUTER JOIN co c ON r.channel = c.channel AND r.month = c.month
),
cum AS (
  SELECT channel, month,
         CAST(SUM(rev_cents) OVER wmo AS BIGINT) AS cr,
         CAST(SUM(cost_mils) OVER wmo AS BIGINT) AS cc
  FROM m
  WINDOW wmo AS (PARTITION BY channel ORDER BY month
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT channel,
       MIN(CASE WHEN cr * 10 >= cc THEN month END) AS payback_month,
       CAST(COUNT(*) AS BIGINT) AS n_months,
       CAST(MAX(cr) AS BIGINT) AS total_rev_cents,
       CAST(MAX(cc) AS BIGINT) AS total_cost_mils
FROM cum GROUP BY 1
"""

# operators/anomaly.py dow_mad_outliers: the L-anomaly MAD stack
# conditioned on the engine-neutral (channel, dow) cell
_ORACLE_DOW_ANOMALY = f"""
WITH {_DAILY_CENTS},
dd AS (
  SELECT channel, event_day, cents,
         CAST(datediff('day', DATE '1970-01-05', CAST(event_day AS DATE)) % 7 AS BIGINT) AS dow
  FROM daily
),
rmed AS (
  SELECT channel, dow, cents,
         ROW_NUMBER() OVER (PARTITION BY channel, dow ORDER BY cents) AS rn,
         COUNT(*) OVER (PARTITION BY channel, dow) AS n
  FROM dd
),
med AS (SELECT channel, dow, cents AS med FROM rmed WHERE rn = CAST(CEIL(0.5 * n) AS BIGINT)),
dev AS (
  SELECT d.channel, d.event_day, d.dow, d.cents, m.med,
         ABS(d.cents - m.med) AS dv
  FROM dd d JOIN med m USING (channel, dow)
),
rmad AS (
  SELECT channel, dow, dv,
         ROW_NUMBER() OVER (PARTITION BY channel, dow ORDER BY dv) AS rn,
         COUNT(*) OVER (PARTITION BY channel, dow) AS n
  FROM dev
),
mad AS (SELECT channel, dow, dv AS mad FROM rmad WHERE rn = CAST(CEIL(0.5 * n) AS BIGINT))
SELECT d.channel, d.event_day, d.dow, d.cents,
       CAST(d.med AS BIGINT) AS median_cents,
       CAST(a.mad AS BIGINT) AS mad_cents,
       CAST(CASE WHEN d.dv > 3 * a.mad THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
FROM dev d JOIN mad a USING (channel, dow)
"""

# operators/sessions.py activity_streaks: islands-and-gaps via
# day_number - row_number(); engine-neutral epoch-day integers
_ORACLE_ACTIVITY_STREAKS = """
WITH days AS (
  SELECT DISTINCT user_id,
         datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS dn
  FROM events
),
isl AS (
  SELECT user_id, dn,
         dn - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY dn) AS grp
  FROM days
),
longest AS (
  SELECT user_id, CAST(MAX(len) AS BIGINT) AS streak_days
  FROM (SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS len FROM isl GROUP BY 1, 2)
  GROUP BY 1
)
SELECT streak_days, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM longest GROUP BY 1
"""

# operators/concentration.py top_decile_share: the oracle's single
# PARTITION BY rank window proves the grouped two-phase scan (same
# device as the gini oracle); decile cut r*10 > 9*n
_ORACLE_PARETO_SHARE = """
WITH per AS MATERIALIZED (
  SELECT event_type AS channel, user_id AS u,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM events WHERE event_type <> 'purchase' GROUP BY 1, 2
),
rk AS (
  SELECT channel, cents,
         ROW_NUMBER() OVER (PARTITION BY channel ORDER BY cents, u) AS r,
         COUNT(*) OVER (PARTITION BY channel) AS n
  FROM per
),
ag AS (
  SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_units,
         CAST(SUM(cents) AS BIGINT) AS total_cents,
         CAST(SUM(CASE WHEN r * 10 > 9 * n THEN 1 ELSE 0 END) AS BIGINT) AS top_users,
         CAST(SUM(CASE WHEN r * 10 > 9 * n THEN cents ELSE 0 END) AS BIGINT) AS top_cents
  FROM rk GROUP BY 1
)
SELECT channel, n_units, total_cents, top_users, top_cents,
       CASE WHEN total_cents = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST((2 * CAST(top_cents AS HUGEINT) * 1048576 + total_cents)
                      // (2 * CAST(total_cents AS HUGEINT)) AS BIGINT)
       END AS share_q20
FROM ag
"""

# operators/experiments.py mix_drift_chi2: k-cell composition drift,
# exact-rational chi-square contributions over self-anchored weekly
# windows; totals over baseline-present cells only
_ORACLE_MIX_DRIFT = """
WITH mx AS (
  SELECT MAX(CAST(ts AS DATE)) AS mxd FROM events WHERE event_type <> 'purchase'
),
d AS (
  SELECT event_type AS channel,
         datediff('day', CAST(ts AS DATE), (SELECT mxd FROM mx)) AS age
  FROM events WHERE event_type <> 'purchase'
),
per AS (
  SELECT channel,
         CAST(SUM(CASE WHEN age < 7 THEN 1 ELSE 0 END) AS BIGINT) AS n_cur,
         CAST(SUM(CASE WHEN age >= 7 THEN 1 ELSE 0 END) AS BIGINT) AS n_base
  FROM d WHERE age < 14 GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(CASE WHEN n_base > 0 THEN n_cur ELSE 0 END) AS HUGEINT) AS n,
         CAST(SUM(CASE WHEN n_base > 0 THEN n_base ELSE 0 END) AS HUGEINT) AS m
  FROM per
)
SELECT p.channel, p.n_cur, p.n_base,
       CASE WHEN p.n_base > 0 AND t.n > 0 THEN
         CAST((2 * (p.n_cur * t.m - t.n * p.n_base) * (p.n_cur * t.m - t.n * p.n_base) * 1048576
               + (t.n * p.n_base * t.m))
              // (2 * (t.n * p.n_base * t.m)) AS BIGINT)
       END AS chi2_contrib_q20
FROM per p, tot t
"""

# operators/timeseries.py forecast_topdown: the holt recursion on the
# TOTAL spine (single series), then Hamilton largest-remainder over
# trailing-7-day channel shares — SUM(alloc) == forecast exactly
_ORACLE_FORECAST_TOPDOWN = """
WITH RECURSIVE
daily AS MATERIALIZED (
  SELECT CAST(ts AS DATE) AS d,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
  FROM events WHERE event_type <> 'purchase' GROUP BY 1
),
span AS MATERIALIZED (
  SELECT MIN(d) AS d0, MAX(d) AS d1, datediff('day', MIN(d), MAX(d)) AS nmax FROM daily
),
spine AS MATERIALIZED (
  SELECT CAST(r.rn AS BIGINT) AS rn, COALESCE(dl.y, 0) AS y
  FROM span sp
  CROSS JOIN LATERAL (SELECT UNNEST(generate_series(0, sp.nmax)) AS rn) r
  LEFT JOIN daily dl ON dl.d = sp.d0 + CAST(r.rn AS INTEGER)
),
rec AS (
  SELECT CAST(1 AS BIGINT) AS t,
         CAST(1048576 AS HUGEINT) * s.y AS lev,
         COALESCE(CAST(1048576 AS HUGEINT) * (s2.y - s.y), CAST(0 AS HUGEINT)) AS tr
  FROM spine s LEFT JOIN spine s2 ON s2.rn = 1
  WHERE s.rn = 0
  UNION ALL
  SELECT t, lev2 AS lev, ((lev2 - lev) + 3 * tr) // 4 AS tr
  FROM (
    SELECT r.t + 1 AS t, r.lev AS lev, r.tr AS tr,
           (CAST(1048576 AS HUGEINT) * d.y + 3 * (r.lev + r.tr)) // 4 AS lev2
    FROM rec r JOIN spine d ON d.rn = r.t
  )
),
fc AS (
  SELECT greatest(lev + tr, CAST(0 AS HUGEINT)) AS f
  FROM rec WHERE t = (SELECT nmax FROM span) + 1
),
trail AS (
  SELECT event_type AS channel,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS trail_cents
  FROM events, span sp
  WHERE event_type <> 'purchase'
    AND datediff('day', CAST(ts AS DATE), sp.d1) < 7
  GROUP BY 1
),
tot AS (SELECT CAST(SUM(CAST(trail_cents AS HUGEINT)) AS HUGEINT) AS c FROM trail),
scaled AS (
  SELECT t.channel, t.trail_cents,
         CASE WHEN tt.c = 0 THEN CAST(0 AS HUGEINT)
              ELSE (SELECT f FROM fc) * CAST(t.trail_cents AS HUGEINT) // tt.c END AS base,
         CASE WHEN tt.c = 0 THEN CAST(0 AS HUGEINT)
              ELSE (SELECT f FROM fc) * CAST(t.trail_cents AS HUGEINT) % tt.c END AS rem
  FROM trail t, tot tt
),
lft AS (
  SELECT CASE WHEN (SELECT c FROM tot) = 0 THEN CAST(0 AS HUGEINT)
              ELSE (SELECT f FROM fc) - (SELECT SUM(base) FROM scaled) END AS leftover
)
SELECT s.channel, s.trail_cents,
       CAST(s.base + CASE WHEN CAST(ROW_NUMBER() OVER (ORDER BY s.rem DESC, s.channel) AS HUGEINT)
                               <= l.leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc_fc1_cents_q20
FROM scaled s, lft l
"""


# ---------------------------------------------------------------------------
# round-8 session oracles (r09 queue)
# ---------------------------------------------------------------------------

# llm/dedup.py lsh_hot_bucket_terms: minhash band buckets >= 3 docs,
# per-bucket argmax shingle by member df (tie: shingle asc), corpus df
_ORACLE_LSH_HOT_BUCKETS = f"""
WITH {_AUG}, {_NORM_AUG}, {_SHINGLED}, {_MINHASH_CTES},
sizes AS (
  SELECT band, key, CAST(COUNT(*) AS BIGINT) AS bucket_size
  FROM bands GROUP BY 1, 2 HAVING COUNT(*) >= 3
),
mem AS (
  SELECT b.doc_id, s.band, s.key, s.bucket_size
  FROM bands b JOIN sizes s ON b.band = s.band AND b.key = s.key
),
p2 AS (
  SELECT DISTINCT doc_id, sh
  FROM (SELECT doc_id, unnest(shingles) AS sh FROM shingled)
),
dfx AS (SELECT sh, CAST(COUNT(*) AS BIGINT) AS corpus_df FROM p2 GROUP BY 1),
bs AS (
  SELECT m.band, m.key, m.bucket_size, p.sh, CAST(COUNT(*) AS BIGINT) AS member_df
  FROM mem m JOIN p2 p USING (doc_id) GROUP BY 1, 2, 3, 4
),
top AS (
  SELECT band, key, bucket_size, sh, member_df FROM bs
  QUALIFY ROW_NUMBER() OVER (PARTITION BY band, key
                             ORDER BY member_df DESC, sh ASC) = 1
)
SELECT CAST(t.band AS BIGINT) AS band, t.key, t.bucket_size,
       t.sh AS top_shingle, t.member_df, d.corpus_df
FROM top t JOIN dfx d USING (sh)
"""

# llm/dedup.py template_docs: distinct (doc, shingle) pairs, df >= 2
# boilerplate share, 80% flag by integer cross-multiplication
_ORACLE_TEMPLATE_DOCS = f"""
WITH {_AUG}, {_NORM_AUG}, {_SHINGLED},
p2 AS (
  SELECT DISTINCT doc_id, sh
  FROM (SELECT doc_id, unnest(shingles) AS sh FROM shingled)
),
dfx AS (SELECT sh, CAST(COUNT(*) AS BIGINT) AS df FROM p2 GROUP BY 1)
SELECT p.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_boilerplate,
       SUM(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) * 5 >= 4 * COUNT(*) AS is_template
FROM p2 p JOIN dfx d USING (sh)
GROUP BY 1
"""

# llm/dedup.py dedup_roi: exact removals (window-min canonical), the
# minhash-cluster walk's marginal removals, CDC duplicate chunk
# occurrences with chunk char lengths — all over the augmented corpus
_ORACLE_DEDUP_ROI = f"""
WITH RECURSIVE {_AUG}, {_NORM_AUG}, {_SHINGLED}, {_MINHASH_CTES},
pairs AS (
  SELECT doc_a, doc_b FROM scored WHERE inter_size * 2 >= union_size * 1
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
walk(doc_id, cluster_id) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, w.cluster_id FROM walk w JOIN edges e ON e.dst = w.doc_id
),
clus AS (SELECT doc_id, MIN(cluster_id) AS cluster_id FROM walk GROUP BY doc_id),
base AS (
  SELECT doc_id, CAST(LENGTH(norm) AS BIGINT) AS n_chars, md5(norm) AS h FROM nd
),
exr AS (
  SELECT doc_id, n_chars FROM (
    SELECT doc_id, n_chars, MIN(doc_id) OVER (PARTITION BY h) AS keep FROM base
  ) WHERE doc_id <> keep
),
nearr AS (
  SELECT c.doc_id, b.n_chars
  FROM clus c JOIN base b USING (doc_id)
  WHERE c.cluster_id <> c.doc_id
    AND c.doc_id NOT IN (SELECT doc_id FROM exr)
),
cd2 AS (SELECT doc_id, ws, len(ws) AS n
        FROM (SELECT doc_id, string_split(norm, ' ') AS ws FROM nd)),
ccuts AS (
  SELECT doc_id, ws, n,
         list_filter(
           list_transform(range(1, greatest(n - 1, 2)),
             i -> CASE WHEN CAST('0x' || substr(md5(concat_ws(' ', ws[i], ws[i+1], ws[i+2])), 1, 15) AS BIGINT) % 8 = 0
                        AND i + 2 < n
                       THEN i + 2 END),
           x -> x IS NOT NULL) AS cuts
  FROM cd2
),
cb AS (
  SELECT doc_id, ws,
         list_concat(list_concat([CAST(0 AS BIGINT)], cuts), [CAST(n AS BIGINT)]) AS bounds
  FROM ccuts
),
cch AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(bounds)),
           j -> struct_pack(
             chunk_md5 := md5(array_to_string(list_slice(ws, bounds[j] + 1, bounds[j + 1]), ' ')),
             chunk_len := CAST(LENGTH(array_to_string(list_slice(ws, bounds[j] + 1, bounds[j + 1]), ' ')) AS BIGINT))),
           recursive := true)
  FROM cb
),
cagg AS (
  SELECT chunk_md5, CAST(COUNT(*) - 1 AS BIGINT) AS extra, MIN(chunk_len) AS clen
  FROM cch GROUP BY 1
)
SELECT 'corpus' AS family, CAST(COUNT(*) AS BIGINT) AS n_units,
       CAST(SUM(n_chars) AS BIGINT) AS chars_removed
FROM base
UNION ALL
SELECT 'exact', CAST(COUNT(*) AS BIGINT),
       CAST(COALESCE(SUM(n_chars), 0) AS BIGINT)
FROM exr
UNION ALL
SELECT 'near_dup', CAST(COUNT(*) AS BIGINT),
       CAST(COALESCE(SUM(n_chars), 0) AS BIGINT)
FROM nearr
UNION ALL
SELECT 'cdc_chunks', CAST(COALESCE(SUM(extra), 0) AS BIGINT),
       CAST(COALESCE(SUM(extra * clen), 0) AS BIGINT)
FROM cagg
"""

# __spark_entry__.q_dedup_pipeline: the four dedup families chained
# exact -> near-dup -> CDC -> semantic with per-stage marginal vs
# standalone removed mass.  The doc-level CTEs are the L267 ROI
# oracle's verbatim (aug corpus, minhash clusters, chunking); the
# chain adds the survivor-filtered chunk split and the SemDeDup
# subquery (the full L31 oracle as a derived table).
_ORACLE_DEDUP_PIPELINE = f"""
WITH RECURSIVE {_AUG}, {_NORM_AUG}, {_SHINGLED}, {_MINHASH_CTES},
pairs AS (
  SELECT doc_a, doc_b FROM scored WHERE inter_size * 2 >= union_size * 1
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
walk(doc_id, cluster_id) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, w.cluster_id FROM walk w JOIN edges e ON e.dst = w.doc_id
),
clus AS (SELECT doc_id, MIN(cluster_id) AS cluster_id FROM walk GROUP BY doc_id),
base AS (
  SELECT doc_id, CAST(LENGTH(norm) AS BIGINT) AS n_chars, md5(norm) AS h FROM nd
),
ns AS (SELECT doc_id FROM clus WHERE cluster_id <> doc_id),
labd AS (
  SELECT b.doc_id, b.n_chars,
         (b.doc_id <> MIN(b.doc_id) OVER (PARTITION BY b.h)) AS is_ex,
         (ns.doc_id IS NOT NULL) AS is_ns
  FROM base b LEFT JOIN ns ON b.doc_id = ns.doc_id
),
docscal AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n0,
         CAST(COUNT(*) FILTER (WHERE is_ex) AS BIGINT) AS e_n,
         CAST(COALESCE(SUM(n_chars) FILTER (WHERE is_ex), 0) AS BIGINT) AS e_c,
         CAST(COUNT(*) FILTER (WHERE NOT is_ex AND is_ns) AS BIGINT) AS nr_n,
         CAST(COALESCE(SUM(n_chars) FILTER (WHERE NOT is_ex AND is_ns), 0)
              AS BIGINT) AS nr_c,
         CAST(COALESCE(SUM(n_chars) FILTER (WHERE is_ns), 0) AS BIGINT) AS nr_sa_c
  FROM labd
),
surv2 AS (SELECT doc_id FROM labd WHERE NOT is_ex AND NOT is_ns),
cd2 AS (SELECT doc_id, ws, len(ws) AS n
        FROM (SELECT doc_id, string_split(norm, ' ') AS ws FROM nd)),
ccuts AS (
  SELECT doc_id, ws, n,
         list_filter(
           list_transform(range(1, greatest(n - 1, 2)),
             i -> CASE WHEN CAST('0x' || substr(md5(concat_ws(' ', ws[i], ws[i+1], ws[i+2])), 1, 15) AS BIGINT) % 8 = 0
                        AND i + 2 < n
                       THEN i + 2 END),
           x -> x IS NOT NULL) AS cuts
  FROM cd2
),
cb AS (
  SELECT doc_id, ws,
         list_concat(list_concat([CAST(0 AS BIGINT)], cuts), [CAST(n AS BIGINT)]) AS bounds
  FROM ccuts
),
cch AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(bounds)),
           j -> struct_pack(
             chunk_md5 := md5(array_to_string(list_slice(ws, bounds[j] + 1, bounds[j + 1]), ' ')),
             chunk_len := CAST(LENGTH(array_to_string(list_slice(ws, bounds[j] + 1, bounds[j + 1]), ' ')) AS BIGINT))),
           recursive := true)
  FROM cb
),
cagg2 AS (
  SELECT c.chunk_md5,
         CAST(COUNT(*) AS BIGINT) AS cnt,
         MIN(c.chunk_len) AS clen,
         CAST(COUNT(s.doc_id) AS BIGINT) AS scnt,
         MIN(CASE WHEN s.doc_id IS NOT NULL THEN c.chunk_len END) AS sclen
  FROM cch c LEFT JOIN surv2 s ON c.doc_id = s.doc_id
  GROUP BY 1
),
cdcscal AS (
  SELECT CAST(COALESCE(SUM(cnt - 1), 0) AS BIGINT) AS sa_occ,
         CAST(COALESCE(SUM((cnt - 1) * clen), 0) AS BIGINT) AS sa_chars,
         CAST(COALESCE(SUM(greatest(scnt - 1, 0)), 0) AS BIGINT) AS ch_occ,
         CAST(COALESCE(SUM(greatest(scnt - 1, 0) * COALESCE(sclen, 0)), 0)
              AS BIGINT) AS ch_chars
  FROM cagg2
),
vexp AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS v0 FROM (
    SELECT vec_id FROM embeddings
    UNION ALL
    SELECT vec_id + 100000 FROM embeddings WHERE vec_id % 25 = 0)
),
sem AS (SELECT CAST(COUNT(*) AS BIGINT) AS sv FROM ({_ORACLE_SEMDEDUP}) z)
SELECT 'exact' AS stage, 'docs' AS unit, n0 AS n_in, e_n AS n_removed,
       e_c AS mass_removed, e_c AS mass_standalone, n0 - e_n AS n_out
FROM docscal
UNION ALL
SELECT 'near_dup', 'docs', n0 - e_n, nr_n, nr_c, nr_sa_c, n0 - e_n - nr_n
FROM docscal
UNION ALL
SELECT 'cdc_chunks', 'chunk_occurrences', d.n0 - d.e_n - d.nr_n, c.ch_occ,
       c.ch_chars, c.sa_chars, d.n0 - d.e_n - d.nr_n
FROM docscal d, cdcscal c
UNION ALL
SELECT 'semantic', 'vectors', v.v0, v.v0 - s.sv, v.v0 - s.sv, v.v0 - s.sv, s.sv
FROM vexp v, sem s
"""


# llm/text.py vocab_growth: Heaps curve by doc-id decile; a term is
# NEW in the decile of its min doc_id; // truncates like Spark div
_ORACLE_VOCAB_GROWTH = f"""
WITH {_NORM_RAW},
exf AS (
  SELECT doc_id, term
  FROM (SELECT doc_id, unnest(string_split(norm, ' ')) AS term FROM nd)
  WHERE term <> ''
),
mx AS (SELECT MAX(doc_id) AS m FROM documents),
tok AS (
  SELECT CAST(least(9, doc_id * 10 // (m + 1)) AS BIGINT) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n_tokens
  FROM exf, mx GROUP BY 1
),
fst AS (SELECT term, MIN(doc_id) AS fd FROM exf GROUP BY 1),
fresh AS (
  SELECT CAST(least(9, fd * 10 // (m + 1)) AS BIGINT) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS new_terms
  FROM fst, mx GROUP BY 1
)
SELECT t.bucket, t.n_tokens,
       COALESCE(f.new_terms, 0) AS new_terms,
       CAST(SUM(t.n_tokens) OVER (ORDER BY t.bucket) AS BIGINT) AS cum_tokens,
       CAST(SUM(COALESCE(f.new_terms, 0)) OVER (ORDER BY t.bucket) AS BIGINT) AS cum_vocab
FROM tok t LEFT JOIN fresh f USING (bucket)
"""

# llm/text.py ngram_novelty: second-half (odd doc_id) distinct 8-grams
# per source anti-joined against the even-half gram set; half-up q20
_ORACLE_NGRAM_NOVELTY = """
WITH nd8 AS (
  SELECT doc_id, source,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS ws
  FROM documents
),
g AS (
  SELECT doc_id, source,
         unnest(list_transform(range(1, greatest(len(ws) - 6, 2)),
                i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2], ws[i+3],
                                    ws[i+4], ws[i+5], ws[i+6], ws[i+7]))) AS s
  FROM nd8
),
gh AS (SELECT doc_id, source, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS gram FROM g),
base AS (SELECT DISTINCT gram FROM gh WHERE doc_id % 2 = 0),
cur AS (SELECT DISTINCT source, gram FROM gh WHERE doc_id % 2 = 1),
novel AS (SELECT c.* FROM cur c ANTI JOIN base b USING (gram)),
na AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_grams FROM cur GROUP BY 1),
nn AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_novel FROM novel GROUP BY 1)
SELECT a.source, a.n_grams, COALESCE(n.n_novel, 0) AS n_novel,
       CAST((2 * COALESCE(n.n_novel, 0) * 1048576 + a.n_grams)
            // (2 * a.n_grams) AS BIGINT) AS novelty_q20
FROM na a LEFT JOIN nn n USING (source)
"""

# llm/embquality.py label_centroid_drift: q20 unit vectors, vec_id
# parity halves, exact HUGEINT numerator, one truncating division
_ORACLE_LABEL_DRIFT = f"""
WITH {_E_NORMED},
kqv AS (
  SELECT vec_id, list_transform(v, x -> CAST(floor(x / vn * 1048576.0 + 0.5) AS BIGINT)) AS qv
  FROM e WHERE vn > 0
),
j AS (
  SELECT k.vec_id, CAST(l.label AS BIGINT) AS label, k.qv, k.vec_id % 2 AS half
  FROM kqv k JOIN embeddings l USING (vec_id)
),
counts AS (
  SELECT label,
         CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_even,
         CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_odd
  FROM j GROUP BY 1
  HAVING SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) > 0
     AND SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) > 0
),
ex AS (
  SELECT label, half, generate_subscripts(qv, 1) AS d, unnest(qv) AS x FROM j
),
sums AS (
  SELECT label, d,
         SUM(CASE WHEN half = 0 THEN x ELSE 0 END) AS s0,
         SUM(CASE WHEN half = 1 THEN x ELSE 0 END) AS s1
  FROM ex GROUP BY 1, 2
)
SELECT s.label, c.n_even, c.n_odd,
       CAST(SUM(abs(CAST(s.s0 AS HUGEINT) * c.n_odd - CAST(s.s1 AS HUGEINT) * c.n_even))
            // (CAST(c.n_even AS HUGEINT) * c.n_odd) AS BIGINT) AS drift_q20
FROM sums s JOIN counts c USING (label)
GROUP BY 1, 2, 3
"""

# operators/planning.py effective_frequency: per-user touch count on
# the binary-magnitude grid (bucket = bit length), buyer flag,
# half-up q20 rate
_ORACLE_EFFECTIVE_FREQUENCY = """
WITH pu AS (
  SELECT user_id,
         SUM(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END) AS t,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS b
  FROM events GROUP BY 1
)
SELECT CAST(CASE WHEN t = 0 THEN 0 ELSE LENGTH(bin(t)) END AS BIGINT) AS touch_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(b) AS BIGINT) AS n_buyers,
       CAST((2 * SUM(b) * 1048576 + COUNT(*)) // (2 * COUNT(*)) AS BIGINT) AS buy_rate_q20
FROM pu GROUP BY 1
"""

# operators/planning.py channel_affinity: distinct user-channel
# incidence, pair co-audience vs independence, cross-multiplied q20
_ORACLE_CHANNEL_AFFINITY = """
WITH inc AS (
  SELECT DISTINCT user_id, event_type AS channel
  FROM events WHERE event_type <> 'purchase'
),
nu AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n FROM inc),
pc AS (SELECT channel, CAST(COUNT(*) AS BIGINT) AS n FROM inc GROUP BY 1),
pr AS (
  SELECT a.channel AS channel_a, b.channel AS channel_b,
         CAST(COUNT(*) AS BIGINT) AS n_pair
  FROM inc a JOIN inc b ON a.user_id = b.user_id AND a.channel < b.channel
  GROUP BY 1, 2
)
SELECT p.channel_a, p.channel_b, ca.n AS n_a, cb.n AS n_b, p.n_pair,
       CAST((2 * p.n_pair * u.n * 1048576 + ca.n * cb.n)
            // (2 * ca.n * cb.n) AS BIGINT) AS lift_q20
FROM pr p
JOIN pc ca ON p.channel_a = ca.channel
JOIN pc cb ON p.channel_b = cb.channel
CROSS JOIN nu u
"""

# operators/sessions.py session_depth: the L209 session construction
# verbatim, depth capped at 5+
_ORACLE_SESSION_DEPTH = """
WITH marked AS MATERIALIZED (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR date_diff('microsecond', LAG(ts) OVER w, ts) <= 1800000000
              THEN 0 ELSE 1 END AS brk,
         ROW_NUMBER() OVER w AS ord
  FROM events WHERE event_type <> 'purchase'
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
grouped AS MATERIALIZED (
  SELECT user_id, ts, event_id, event_type,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS g
  FROM marked
),
per_session AS (
  SELECT user_id, g, CAST(COUNT(*) AS BIGINT) AS n_events,
         MAX(CASE WHEN rn = 1 THEN event_type END) AS entry_channel
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, g
                                     ORDER BY ts, event_id) AS rn
        FROM grouped)
  GROUP BY 1, 2
)
SELECT entry_channel,
       CAST(least(n_events, 5) AS BIGINT) AS depth_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_sessions
FROM per_session GROUP BY 1, 2
"""

# operators/experiments.py ab_quantile_effects: buyers' exact-cents
# totals, canonical md5 split, exact PERCENTILE_DISC at p25/50/75
_ORACLE_AB_QUANTILES = """
WITH pu AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN event_type = 'purchase'
                       THEN CAST(ROUND(value * 100, 0) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS cents,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS b
  FROM events GROUP BY 1
),
buyers AS (
  SELECT CASE WHEN CAST('0x' || substr(md5(CAST(user_id AS VARCHAR) || '|ab'), 1, 15) AS BIGINT) % 100 < 50
              THEN 'A' ELSE 'B' END AS variant,
         cents
  FROM pu WHERE b = 1
),
ranked AS (
  SELECT variant, cents,
         ROW_NUMBER() OVER (PARTITION BY variant ORDER BY cents) AS rn,
         COUNT(*) OVER (PARTITION BY variant) AS n
  FROM buyers
),
q AS (
  SELECT p, variant, cents
  FROM ranked, (SELECT unnest([2.5e-1, 5e-1, 7.5e-1]) AS p) ps
  WHERE rn = CAST(ceil(p * n) AS BIGINT)
)
SELECT p,
       CAST(MAX(CASE WHEN variant = 'A' THEN cents END) AS BIGINT) AS cents_a,
       CAST(MAX(CASE WHEN variant = 'B' THEN cents END) AS BIGINT) AS cents_b,
       CAST(MAX(CASE WHEN variant = 'B' THEN cents END)
            - MAX(CASE WHEN variant = 'A' THEN cents END) AS BIGINT) AS diff_cents
FROM q GROUP BY 1
"""

# __spark_entry__.q_stream_dq: per event-time day violation counters —
# the batch SQL the streaming aggregate must reproduce
_ORACLE_STREAM_DQ = """
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_value,
       CAST(SUM(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg_value,
       CAST(SUM(CASE WHEN event_type NOT IN ('click','view','signup','error','purchase')
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_unknown_type,
       CAST(SUM(CASE WHEN json_extract_string(props, '$.k') IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_props
FROM events GROUP BY 1
"""


# streaming/incremental.py IncrementalVocabStore +
# __spark_entry__.q_stream_vocab: the vocab store's merge law is
# order-independent (first = min doc_id, occurrences = sum), so the
# batch term table aggregated the same way IS the final streaming
# state — per first-doc decile, terms owned + occurrence mass
_ORACLE_STREAM_VOCAB = f"""
WITH {_NORM_RAW},
exf AS (
  SELECT doc_id, term
  FROM (SELECT doc_id, unnest(string_split(norm, ' ')) AS term FROM nd)
  WHERE term <> ''
),
fst AS (
  SELECT term, MIN(doc_id) AS fd, CAST(COUNT(*) AS BIGINT) AS occ
  FROM exf GROUP BY 1
),
mx AS (SELECT MAX(doc_id) AS m FROM documents)
SELECT CAST(least(9, fd * 10 // (m + 1)) AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_terms,
       CAST(SUM(occ) AS BIGINT) AS n_occurrences
FROM fst, mx GROUP BY 1
"""

# llm/text.py sentence_stats: [.!?]+ regex splits of the normalized
# text, trimmed, empties dropped (normalizes the engines' trailing-
# empty split disagreement), per-source exact profile
_ORACLE_SENTENCE_STATS = """
WITH nd8 AS (
  SELECT doc_id, source,
         regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
  FROM documents
),
parts AS (
  SELECT doc_id, source, trim(unnest(string_split_regex(norm, '[.!?]+'))) AS s
  FROM nd8
),
sent AS (
  SELECT source, doc_id, CAST(LENGTH(s) AS BIGINT) AS slen
  FROM parts WHERE s <> ''
),
agg AS (
  SELECT source,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
         CAST(COUNT(*) AS BIGINT) AS n_sentences,
         CAST(SUM(slen) AS BIGINT) AS total_chars,
         CAST(MAX(slen) AS BIGINT) AS max_len
  FROM sent GROUP BY 1
)
SELECT source, n_docs, n_sentences, total_chars,
       CAST((2 * total_chars * 1048576 + n_sentences)
            // (2 * n_sentences) AS BIGINT) AS mean_len_q20,
       max_len
FROM agg
"""

# llm/dedup.py lsh_cost_audit: per-band predicted pair count from
# bucket sizes (sum n*(n-1)/2); the 'all' row's actual is the real
# distinct cross-band candidate count (the cand CTE)
_ORACLE_LSH_COST_AUDIT = f"""
WITH {_AUG}, {_NORM_AUG}, {_SHINGLED}, {_MINHASH_CTES},
sizes AS (
  SELECT band, key, CAST(COUNT(*) AS BIGINT) AS n FROM bands GROUP BY 1, 2
),
per_band AS (
  SELECT band,
         CAST(COUNT(*) AS BIGINT) AS n_buckets,
         CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS predicted_pairs
  FROM sizes GROUP BY 1
)
SELECT CAST(band AS VARCHAR) AS scope, n_buckets, predicted_pairs,
       predicted_pairs AS actual_pairs
FROM per_band
UNION ALL
SELECT 'all',
       CAST((SELECT SUM(n_buckets) FROM per_band) AS BIGINT),
       CAST((SELECT SUM(predicted_pairs) FROM per_band) AS BIGINT),
       CAST((SELECT COUNT(*) FROM cand) AS BIGINT)
"""

# operators/planning.py error_impact: per-user error/buyer flags,
# 2-row roll-up, half-up q20 rate
_ORACLE_ERROR_IMPACT = """
WITH pu AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS e,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS b
  FROM events GROUP BY 1
)
SELECT CAST(e AS BOOLEAN) AS has_error,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(b) AS BIGINT) AS n_buyers,
       CAST((2 * SUM(b) * 1048576 + COUNT(*)) // (2 * COUNT(*)) AS BIGINT) AS buy_rate_q20
FROM pu GROUP BY 1
"""

# __spark_entry__.q_rel_price_waterfall: per-customer-nation exact
# integer revenue decomposition (e4 = cents x cents-of-rate; tax e6)
_ORACLE_REL_PRICE_WATERFALL = """
WITH rows_ AS (
  SELECT n.n_name AS nation,
         CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT) AS p_e2,
         CAST(ROUND(l.l_discount * 100, 0) AS BIGINT) AS d_e2,
         CAST(ROUND(l.l_tax * 100, 0) AS BIGINT) AS t_e2
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
)
SELECT nation,
       CAST(SUM(p_e2 * 100) AS BIGINT) AS gross_e4,
       CAST(SUM(p_e2 * d_e2) AS BIGINT) AS discount_e4,
       CAST(SUM(p_e2 * 100) - SUM(p_e2 * d_e2) AS BIGINT) AS net_e4,
       CAST(SUM(p_e2 * (100 - d_e2) * t_e2) AS BIGINT) AS tax_e6
FROM rows_ GROUP BY 1
"""


# operators/timeseries.py forecast_model_selection: the EWMA (L158)
# and seasonal-naive (L159) backtest bodies joined on channel, champion
# by lower q20 MAE (tie -> ewma)
_ORACLE_FORECAST_ENSEMBLE = f"""
WITH {_DAILY_CENTS},
dec AS MATERIALIZED (
  SELECT t.channel, t.event_day,
         SUM(i.cents * (CAST(1 AS BIGINT) <<
             (7 - date_diff('day', CAST(i.event_day AS DATE), CAST(t.event_day AS DATE))))) AS num
  FROM daily t JOIN daily i
    ON t.channel = i.channel
   AND CAST(i.event_day AS DATE) <= CAST(t.event_day AS DATE)
   AND CAST(i.event_day AS DATE) >= CAST(t.event_day AS DATE) - 7
  GROUP BY 1, 2
),
e_scored AS (
  SELECT d.channel, abs(CAST(d.cents AS HUGEINT) * 255 - p.num) AS ae
  FROM daily d JOIN dec p
    ON p.channel = d.channel
   AND CAST(p.event_day AS DATE) = CAST(d.event_day AS DATE) - 1
),
e AS (
  SELECT channel, CAST(COUNT(*) AS BIGINT) AS ewma_n,
         CAST(SUM(ae) * 1048576 // (CAST(COUNT(*) AS HUGEINT) * 255) AS BIGINT) AS ewma_mae_q20
  FROM e_scored GROUP BY 1
),
s_scored AS (
  SELECT d.channel, abs(d.cents - p.cents) AS ae
  FROM daily d JOIN daily p
    ON p.channel = d.channel
   AND CAST(p.event_day AS DATE) = CAST(d.event_day AS DATE) - 7
),
s AS (
  SELECT channel, CAST(COUNT(*) AS BIGINT) AS snaive_n,
         CAST(CAST(SUM(ae) AS HUGEINT) * 1048576 // COUNT(*) AS BIGINT) AS snaive_mae_q20
  FROM s_scored GROUP BY 1
)
SELECT e.channel, e.ewma_n, e.ewma_mae_q20, s.snaive_n, s.snaive_mae_q20,
       CASE WHEN s.snaive_mae_q20 < e.ewma_mae_q20 THEN 'seasonal_naive'
            ELSE 'ewma' END AS best_model
FROM e JOIN s USING (channel)
"""

# operators/concentration.py ltv_concentration: first-touch channel
# (min (ts, event_id) non-purchase event), per-user lifetime purchase
# cents (0 for never-buyers), the L155 factored Gini pass
_ORACLE_LTV_CONCENTRATION = """
WITH first AS MATERIALIZED (
  SELECT user_id, event_type AS channel FROM (
    SELECT user_id, event_type,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
    FROM events WHERE event_type <> 'purchase'
  ) WHERE rn = 1
),
spend AS (
  SELECT user_id,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
per AS (
  SELECT f.channel, f.user_id AS u, COALESCE(s.cents, 0) AS cents
  FROM first f LEFT JOIN spend s USING (user_id)
),
rk AS (
  SELECT channel, cents,
         ROW_NUMBER() OVER (PARTITION BY channel ORDER BY cents, u) AS r
  FROM per
),
ag AS (
  SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_units,
         CAST(SUM(cents) AS BIGINT) AS total_cents,
         SUM(CAST(r AS HUGEINT) * cents) AS s1
  FROM rk GROUP BY 1
)
SELECT channel, n_units, total_cents,
       CASE WHEN total_cents <= 0 THEN CAST(0 AS BIGINT)
            ELSE CAST((2 * s1 - (CAST(n_units AS HUGEINT) + 1) * total_cents)
                      * 1048576 // (CAST(n_units AS HUGEINT) * total_cents) AS BIGINT)
       END AS gini_q20
FROM ag
"""

# __spark_entry__.q_length_mix: (source, bit-length n_chars bucket)
# doc counts + within-source share q20
_ORACLE_LENGTH_MIX = """
WITH per AS (
  SELECT source,
         CAST(CASE WHEN n_chars <= 0 THEN 0 ELSE LENGTH(bin(n_chars)) END AS BIGINT) AS len_bucket,
         CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY 1, 2
)
SELECT source, len_bucket, n_docs,
       CAST((2 * n_docs * 1048576 + SUM(n_docs) OVER (PARTITION BY source))
            // (2 * SUM(n_docs) OVER (PARTITION BY source)) AS BIGINT) AS share_q20
FROM per
"""

# llm/similarity.py filtered_topk: the ANN_TOPK scoring with the
# label-equality predicate applied BEFORE ranking
_ORACLE_ANN_FILTERED = f"""
WITH {_E_NORMED},
lab AS (SELECT vec_id, CAST(label AS BIGINT) AS lbl FROM embeddings),
el AS (SELECT e.vec_id, e.v, e.vn, l.lbl FROM e JOIN lab l USING (vec_id)),
q AS (SELECT vec_id AS query_id, v AS qv, vn AS qn, lbl
      FROM el WHERE vec_id % 50 = 7),
scored AS (
  SELECT q.query_id, el.vec_id,
         list_dot_product(q.qv, el.v) / (q.qn * el.vn) AS cos
  FROM el JOIN q ON el.lbl = q.lbl
)
SELECT query_id,
       CAST(ROW_NUMBER() OVER w AS BIGINT) AS rnk,
       vec_id,
       CAST(FLOOR(cos * 1048576.0 + 0.5) AS BIGINT) AS cos_q20
FROM scored
WINDOW w AS (PARTITION BY query_id ORDER BY cos DESC, vec_id)
QUALIFY ROW_NUMBER() OVER w <= 5
"""


# operators/skew.py salted_join parity: salting is result-neutral, so
# the oracle is the PLAIN join rolled up per priority
_ORACLE_REL_SALTED_JOIN = """
SELECT o.o_orderpriority AS priority,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY 1
"""

# operators/zorder.py zorder_value replayed bit-for-bit: bit b of
# column i lands at position b*2+i over (l_partkey, l_suppkey)
_z_terms = " + ".join(
    f"(((l_partkey >> {b}) & 1) << {2 * b}) + (((l_suppkey >> {b}) & 1) << {2 * b + 1})"
    for b in range(16)
)
_ORACLE_REL_ZORDER_LAYOUT = f"""
WITH z AS (
  SELECT ({_z_terms}) AS zv, l_partkey FROM lineitem
)
SELECT CAST(zv >> 16 AS BIGINT) AS zbucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts
FROM z GROUP BY 1
"""

# sources/io.py compact_table roundtrip: both surfaces must carry the
# same rows, so the oracle emits the session_costs summary twice (the
# L118 ORC-roundtrip device)
_ORACLE_COMPACTION_ROUNDTRIP = f"""
WITH {_CONV}, {_SESS}, {_COSTS},
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CAST(ROUND(cost * 1000, 0) AS BIGINT)) AS BIGINT) AS metric
  FROM costs
)
SELECT 'fragmented' AS phase, n_rows, metric FROM s
UNION ALL
SELECT 'compacted', n_rows, metric FROM s
"""


# __spark_entry__.q_attribution_gini: the L92 fused credit table as a
# subquery, then the L155 factored Gini per model over channel credit
_ORACLE_ATTRIBUTION_GINI = f"""
WITH mc AS MATERIALIZED (
  SELECT * FROM ({_ORACLE_MODEL_COMPARISON})
),
rk AS (
  SELECT model, credit_q20,
         ROW_NUMBER() OVER (PARTITION BY model
                            ORDER BY credit_q20, channel_label) AS r
  FROM mc
),
ag AS (
  SELECT model, CAST(COUNT(*) AS BIGINT) AS n_channels,
         CAST(SUM(credit_q20) AS BIGINT) AS total_credit_q20,
         SUM(CAST(r AS HUGEINT) * credit_q20) AS s1
  FROM rk GROUP BY 1
)
SELECT model, n_channels, total_credit_q20,
       CASE WHEN total_credit_q20 <= 0 THEN CAST(0 AS BIGINT)
            ELSE CAST((2 * s1 - (CAST(n_channels AS HUGEINT) + 1) * total_credit_q20)
                      * 1048576 // (CAST(n_channels AS HUGEINT) * total_credit_q20) AS BIGINT)
       END AS gini_q20
FROM ag
"""

# __spark_entry__.q_touch_agreement: first vs last touch channel per
# conversion journey, agreement share per entry channel
_ORACLE_TOUCH_AGREEMENT = f"""
WITH {_CONV}, {_SESS}, {_JOURNEYS},
base AS (
  SELECT conversion_id, channel_label,
         ROW_NUMBER() OVER w AS rn,
         COUNT(*) OVER (PARTITION BY conversion_id) AS n
  FROM journeys
  WINDOW w AS (PARTITION BY conversion_id ORDER BY event_ts, session_id)
),
per_conv AS (
  SELECT conversion_id,
         MAX(CASE WHEN rn = 1 THEN channel_label END) AS f,
         MAX(CASE WHEN rn = n THEN channel_label END) AS l
  FROM base WHERE rn = 1 OR rn = n GROUP BY 1
)
SELECT f AS entry_channel,
       CAST(COUNT(*) AS BIGINT) AS n_conversions,
       CAST(SUM(CASE WHEN f = l THEN 1 ELSE 0 END) AS BIGINT) AS n_same_channel,
       CAST((2 * SUM(CASE WHEN f = l THEN 1 ELSE 0 END) * 1048576 + COUNT(*))
            // (2 * COUNT(*)) AS BIGINT) AS agreement_q20
FROM per_conv GROUP BY 1
"""

# __spark_entry__.q_journey_length_dist: conversions by touch count
# (capped at 10+)
_ORACLE_JOURNEY_LENGTH_DIST = f"""
WITH {_CONV}, {_SESS}, {_JOURNEYS},
per AS (
  SELECT conversion_id, CAST(COUNT(*) AS BIGINT) AS n
  FROM journeys GROUP BY 1
)
SELECT CAST(least(n, 10) AS BIGINT) AS n_touchpoints,
       CAST(COUNT(*) AS BIGINT) AS n_journeys
FROM per GROUP BY 1
"""

# __spark_entry__.q_template_share: L266 over the RAW corpus rolled to
# the source grain
_ORACLE_TEMPLATE_SHARE = f"""
WITH {_NORM_RAW},
sh3 AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(ws) - 1, 2)),
                        i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2])) AS shingles
  FROM (SELECT doc_id, string_split(norm, ' ') AS ws FROM nd)
),
p2 AS (
  SELECT DISTINCT doc_id, sh
  FROM (SELECT doc_id, unnest(shingles) AS sh FROM sh3)
),
dfx AS (SELECT sh, CAST(COUNT(*) AS BIGINT) AS df FROM p2 GROUP BY 1),
flags AS (
  SELECT p.doc_id,
         SUM(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) * 5 >= 4 * COUNT(*) AS is_template
  FROM p2 p JOIN dfx d USING (sh) GROUP BY 1
)
SELECT s.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN f.is_template THEN 1 ELSE 0 END) AS BIGINT) AS n_templates,
       CAST((2 * SUM(CASE WHEN f.is_template THEN 1 ELSE 0 END) * 1048576 + COUNT(*))
            // (2 * COUNT(*)) AS BIGINT) AS template_q20
FROM flags f JOIN documents s USING (doc_id)
GROUP BY 1
"""


# L310 export-pipeline conservation ledger: the curate CTE chain
# (verbatim from _ORACLE_CURATE) extended with the pack/shard stage
# aggregates.  n_seqs is ceil(total/4096) — the value Spark derives
# from the REAL manifest's MAX(seq_last)+1, so equality gates the
# distributed prefix-sum layout being gapless.
_ORACLE_EXPORT_PIPELINE = f"""
WITH RECURSIVE {_AUG}, {_NORM_AUG},
stq AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(norm, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_tokens
  FROM (SELECT doc_id, norm, string_split(norm, ' ') AS ws FROM nd)
  WHERE len(ws) >= 5 AND len(list_distinct(ws)) * 10 >= len(ws) * 3
),
scores AS (
  SELECT doc_id,
       {_lang_score_cols}
  FROM (SELECT doc_id, list_distinct(string_split(norm, ' ')) AS dws FROM nd)
),
best AS (
  SELECT *, GREATEST(s_de, s_en, s_es, s_fr, s_zh) AS mx FROM scores
),
langg AS (
  SELECT doc_id, CASE {_lang_case} ELSE 'zh' END AS lang_guess FROM best
),
elig AS (
  SELECT nd.doc_id, nd.norm, l.lang_guess, s.n_tokens
  FROM nd JOIN stq s USING (doc_id) JOIN langg l USING (doc_id)
  WHERE l.lang_guess = 'en'
),
keep AS (SELECT MIN(doc_id) AS doc_id FROM elig GROUP BY md5(norm)),
surv1 AS (SELECT e.* FROM elig e JOIN keep USING (doc_id)),
shingled AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(ws) - 1, 2)),
                        i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2])) AS shingles
  FROM (SELECT doc_id, string_split(norm, ' ') AS ws FROM surv1)
),
{_MINHASH_CTES},
pairs AS (SELECT doc_a, doc_b FROM scored WHERE inter_size * 2 >= union_size * 1),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
walk(doc_id, cluster_id) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, w.cluster_id
  FROM walk w JOIN edges e ON e.dst = w.doc_id
),
losers AS (
  SELECT doc_id FROM (SELECT doc_id, MIN(cluster_id) AS c FROM walk GROUP BY doc_id)
  WHERE doc_id <> c
),
curated AS MATERIALIZED (
  SELECT s.doc_id, s.n_tokens,
         CASE WHEN CAST('0x' || substr(md5(CAST(s.doc_id AS VARCHAR) || '|split'), 1, 15) AS BIGINT) % 100 < 90 THEN 'train'
              WHEN CAST('0x' || substr(md5(CAST(s.doc_id AS VARCHAR) || '|split'), 1, 15) AS BIGINT) % 100 < 95 THEN 'val'
              ELSE 'test' END AS split
  FROM surv1 s LEFT JOIN losers l USING (doc_id)
  WHERE l.doc_id IS NULL
),
alltok AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs_all,
         CAST(SUM(len(regexp_extract_all(norm, '[a-z]+|[0-9]+|[^a-z0-9\\s]'))) AS BIGINT) AS tokens_all
  FROM nd
),
curagg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_surv,
         CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS surv_tokens
  FROM curated
),
tragg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_train,
         CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS train_tokens,
         CAST(COUNT(*) FILTER (WHERE n_tokens > 0) AS BIGINT) AS n_packable,
         CAST(COALESCE(SUM(n_tokens) FILTER (WHERE n_tokens > 0), 0) AS BIGINT)
           AS packable_tokens
  FROM curated WHERE split = 'train'
),
packagg AS (
  SELECT n_packable AS n_manifest, packable_tokens AS packed_mass,
         CAST((packable_tokens + 4095) // 4096 AS BIGINT) AS n_seqs
  FROM tragg
),
shardm AS (
  SELECT CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|pack'), 1, 15) AS BIGINT) % 256 AS s,
         CAST(SUM(n_tokens) AS BIGINT) AS c
  FROM curated WHERE split = 'train' AND n_tokens > 0 GROUP BY 1
),
shardagg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_shards, CAST(SUM(c) AS BIGINT) AS shard_mass
  FROM shardm
)
SELECT 'curate' AS stage, n_docs_all AS n_in, n_surv AS n_out,
       tokens_all AS mass_in, surv_tokens AS mass_out FROM alltok, curagg
UNION ALL
SELECT 'split_train', n_surv, n_train, surv_tokens, train_tokens FROM curagg, tragg
UNION ALL
SELECT 'pack', n_packable, n_seqs, packable_tokens, packed_mass FROM tragg, packagg
UNION ALL
SELECT 'shard', n_manifest, n_shards, packed_mass, shard_mass FROM packagg, shardagg
"""

# L311 streaming ANN ingest store: gated by the batch nearest-centroid
# assignment aggregate (the cand/assign CTEs are _ORACLE_ANN_IVF's
# assignment verbatim, plus the zero-norm drop the store documents)
_ORACLE_STREAM_ANN_STORE = f"""
WITH {_E_NORMED},
cents AS (SELECT vec_id AS centroid_id, v AS cv, vn AS cn FROM e WHERE vec_id < 8),
ascored AS (
  SELECT e.vec_id, c.centroid_id,
         list_dot_product(e.v, c.cv) / (e.vn * c.cn) AS cs
  FROM e, cents c WHERE e.vn > 0
),
assign AS (
  SELECT vec_id, centroid_id, cs FROM ascored
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cs DESC, centroid_id) = 1
)
SELECT centroid_id,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(MIN(vec_id) AS BIGINT) AS min_vec_id,
       CAST(MAX(vec_id) AS BIGINT) AS max_vec_id,
       CAST(SUM(CAST(FLOOR(cs * 1048576.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cos_q20
FROM assign GROUP BY 1
"""

# L312 per-source PII incidence (the L7 scrub devices at source grain)
_ORACLE_PII_RATE = f"""
WITH pii AS (
  SELECT source,
         CASE WHEN doc_id % 7 = 0 THEN text || '{PII_SUFFIX}' ELSE text END AS text
  FROM documents
),
nm AS (
  SELECT source, norm,
         regexp_replace(norm, '{txt.EMAIL_RE}', '<email>', 'g') AS nomail
  FROM (SELECT source, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm FROM pii)
),
x AS (
  SELECT source,
         CAST(len(regexp_extract_all(norm, '{txt.EMAIL_RE}')) AS BIGINT) AS ne,
         CAST(len(regexp_extract_all(nomail, '{txt.LONG_NUMBER_RE}')) AS BIGINT) AS nn
  FROM nm
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(*) FILTER (WHERE ne > 0 OR nn > 0) AS BIGINT) AS docs_with_pii,
       CAST(SUM(ne) AS BIGINT) AS n_emails,
       CAST(SUM(nn) AS BIGINT) AS n_long_numbers,
       CAST((2 * COUNT(*) FILTER (WHERE ne > 0 OR nn > 0) * 1048576 + COUNT(*))
            // (2 * COUNT(*)) AS BIGINT) AS pii_rate_q20
FROM x GROUP BY 1
"""

# L313 chunking conservation ledger (window=64, overlap=16, stride=48 —
# chunk_documents' defaults; the L39 oracle's arithmetic at those knobs)
_ORACLE_CHUNK_CONSERVATION = r"""
WITH w AS (
  SELECT doc_id, source,
         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ws
  FROM documents
),
segs AS (
  SELECT doc_id, ws,
         unnest(range(0, GREATEST(1, CAST(CEIL((len(ws) - 16) / 48.0) AS BIGINT)))) AS seg_idx
  FROM w
),
per_seg AS (
  SELECT doc_id, seg_idx * 48 AS start_tok,
         len(ws[seg_idx*48+1 : seg_idx*48+64]) AS n_seg
  FROM segs
),
per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nc, CAST(SUM(n_seg) AS BIGINT) AS ct,
         CAST(MAX(start_tok + n_seg) AS BIGINT) AS cov
  FROM per_seg GROUP BY 1
),
d AS (SELECT doc_id, source, CAST(len(ws) AS BIGINT) AS nt FROM w)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(nc) AS BIGINT) AS n_chunks,
       CAST(SUM(nt) AS BIGINT) AS doc_tokens,
       CAST(SUM(ct) AS BIGINT) AS chunk_tokens,
       CAST(SUM(ct) - SUM(nt) AS BIGINT) AS overlap_tokens,
       CAST(COUNT(*) FILTER (WHERE cov = nt) AS BIGINT) AS n_full_cover
FROM d JOIN per_doc USING (doc_id)
GROUP BY 1
"""

# L314 vocabulary-coverage cutoffs over the corpus term-frequency rank
_ORACLE_VOCAB_COVERAGE = f"""
WITH {_NORM_RAW},
tfv AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT unnest(string_split(norm, ' ')) AS term FROM nd)
  GROUP BY term
),
ranked AS (
  SELECT CAST(ROW_NUMBER() OVER w AS BIGINT) AS rnk,
         CAST(SUM(tf) OVER (ORDER BY tf DESC, term
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         CAST(SUM(tf) OVER () AS BIGINT) AS tot
  FROM tfv
  WINDOW w AS (ORDER BY tf DESC, term)
)
SELECT CAST(pct AS BIGINT) AS pct,
       CAST(MIN(rnk) AS BIGINT) AS vocab_size,
       CAST(MIN(cum) AS BIGINT) AS covered_occurrences,
       CAST(MAX(tot) AS BIGINT) AS total_occurrences
FROM ranked CROSS JOIN (SELECT unnest([50, 90, 95, 99]) AS pct)
WHERE cum * 100 >= tot * pct
GROUP BY 1
"""

# L316 per-source contamination rate (the L22 collision test as a
# source-grain decision readout; train = doc_id%10!=0, eval = %10==0)
_ORACLE_CONTAMINATION_RATE = f"""
WITH sht AS ({_SHINGLE5.format(src="documents WHERE doc_id % 10 <> 0")}),
she AS ({_SHINGLE5.format(src="documents WHERE doc_id % 10 = 0")}),
ev AS (SELECT DISTINCT unnest(ds) AS h FROM she),
tr AS (SELECT doc_id, unnest(ds) AS h FROM sht),
hits AS (
  SELECT tr.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM tr JOIN ev ON tr.h = ev.h GROUP BY 1
)
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_train,
       CAST(COUNT(h.doc_id) AS BIGINT) AS n_contaminated,
       CAST(COALESCE(SUM(h.n_shared), 0) AS BIGINT) AS shared_shingles,
       CAST((2 * COUNT(h.doc_id) * 1048576 + COUNT(*)) // (2 * COUNT(*)) AS BIGINT)
         AS contamination_q20
FROM documents d LEFT JOIN hits h USING (doc_id)
WHERE d.doc_id % 10 <> 0
GROUP BY 1
"""

# L317 planted-truth near-dup recall: the L9 pair store (verbatim
# CTEs) evaluated against the harness's planted +100000 near copies
_ORACLE_DEDUP_PLANTED_RECALL = f"""
WITH {_AUG}, {_NORM_AUG}, {_SHINGLED}, {_MINHASH_CTES},
pairs AS (
  SELECT doc_a, doc_b FROM scored WHERE inter_size * 2 >= union_size * 1
),
planted AS (
  SELECT doc_id AS doc_a, doc_id + 100000 AS doc_b
  FROM documents WHERE doc_id % 10 = 0
),
np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_planted FROM planted),
nr AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_recovered
  FROM planted p SEMI JOIN pairs q ON p.doc_a = q.doc_a AND p.doc_b = q.doc_b
),
norg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_organic
  FROM pairs WHERE doc_a < 100000 AND doc_b < 100000
)
SELECT n_planted, n_recovered,
       CAST((2 * n_recovered * 1048576 + n_planted) // (2 * n_planted) AS BIGINT)
         AS recall_q20,
       n_organic
FROM np, nr, norg
"""

# L318 multimodal shard planning: the L137 prefix-sum layout over
# payload byte weights (octet_length of the UTF-8 payload), 64 KiB
# shards, reduced to the spanning/conservation readout
_ORACLE_MULTIMODAL_PACK = """
WITH base AS MATERIALIZED (
  SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS w,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|pack'), 1, 15) AS BIGINT) AS h
  FROM documents WHERE octet_length(encode(text)) > 0
),
ordered AS (
  SELECT doc_id, w,
         CAST(COALESCE(SUM(w) OVER (
             ORDER BY h % 256, h, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
  FROM base
),
m AS (
  SELECT w, off // 65536 AS sf, (off + w - 1) // 65536 AS sl FROM ordered
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_payloads,
       CAST(SUM(w) AS BIGINT) AS total_bytes,
       CAST(MAX(sl) + 1 AS BIGINT) AS n_shards,
       CAST(COUNT(*) FILTER (WHERE sl > sf) AS BIGINT) AS spanning_payloads,
       CAST(COALESCE(SUM(w) FILTER (WHERE sl > sf), 0) AS BIGINT) AS spanned_bytes
FROM m
"""

# L319 length x TTR Pearson per source (the L171 HUGEINT device over
# (n_chars, half-up q20 type-token ratio))
_ORACLE_LENGTH_DIVERSITY_CORR = r"""
WITH d AS (
  SELECT source, CAST(n_chars AS BIGINT) AS xc,
         CAST((2 * len(list_distinct(ws)) * 1048576 + len(ws)) // (2 * len(ws)) AS BIGINT) AS yc
  FROM (SELECT source, n_chars,
               string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ws
        FROM documents)
),
agg AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         SUM(CAST(xc AS HUGEINT)) AS sx, SUM(CAST(yc AS HUGEINT)) AS sy,
         SUM(CAST(xc AS HUGEINT) * yc) AS sxy,
         SUM(CAST(xc AS HUGEINT) * xc) AS sxx,
         SUM(CAST(yc AS HUGEINT) * yc) AS syy
  FROM d GROUP BY 1
),
m AS (
  SELECT source, n_docs,
         CAST(n_docs AS HUGEINT) * sxy - sx * sy AS num,
         CAST(n_docs AS HUGEINT) * sxx - sx * sx AS d1,
         CAST(n_docs AS HUGEINT) * syy - sy * sy AS d2
  FROM agg
)
SELECT source, n_docs,
       CAST(floor(CAST(num AS DOUBLE) / sqrt(CAST(d1 AS DOUBLE) * CAST(d2 AS DOUBLE))
            * 1048576 + 0.5e0) AS BIGINT) AS r_q20
FROM m WHERE d1 > 0 AND d2 > 0
"""

# L321 incremental join-view maintenance: the oracle is the DIRECT
# recompute of the final state — the gate the delta algebra must hit
_ORACLE_IVM_JOIN = """
SELECT c.c_mktsegment, o.o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE o.o_orderkey % 10 <> 7
GROUP BY 1, 2
"""

# L322 PQ recall@5: the L191 PQ oracle as a derived table (the
# fertility-oracle WITH-in-subquery device) vs self-excluded exact
# cosine truth
_ORACLE_ANN_PQ_RECALL = f"""
WITH pqr AS ({_ORACLE_ANN_PQ}),
{_E_NORMED},
q AS (SELECT vec_id AS query_id, v AS qv, vn AS qn FROM e WHERE vec_id % 50 = 7),
truth AS (
  SELECT q.query_id, e.vec_id
  FROM q, e WHERE e.vec_id <> q.query_id
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY q.query_id
    ORDER BY list_dot_product(q.qv, e.v) / (q.qn * e.vn) DESC, e.vec_id) <= 5
),
hits AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS sum_hits
  FROM truth t SEMI JOIN pqr p ON p.query_id = t.query_id AND p.vec_id = t.vec_id
),
nq AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_queries FROM q)
SELECT n_queries, CAST(5 AS BIGINT) AS k, sum_hits,
       CAST((2 * sum_hits * 1048576 + 5 * n_queries) // (2 * 5 * n_queries) AS BIGINT)
         AS recall_q20
FROM nq, hits
"""

# L315 channel-transition entropy (the L169 entropy device over the
# L308 lag window; identical term expression text on both engines)
_ORACLE_TRANSITION_ENTROPY = f"""
WITH {_CONV}, {_SESS}, {_JOURNEYS},
lagged AS (
  SELECT conversion_id,
         LAG(channel_label) OVER w AS pch,
         channel_label
  FROM journeys
  WINDOW w AS (PARTITION BY conversion_id ORDER BY event_ts, session_id)
),
t AS (
  SELECT pch AS from_channel, channel_label AS to_channel,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM lagged WHERE pch IS NOT NULL GROUP BY 1, 2
),
tot AS (SELECT from_channel, CAST(SUM(c) AS BIGINT) AS n FROM t GROUP BY 1)
SELECT t.from_channel,
       CAST(MAX(n) AS BIGINT) AS n_transitions,
       CAST(COUNT(*) AS BIGINT) AS n_next_channels,
       CAST(floor(sum((c / CAST(n AS DOUBLE)) * log2(CAST(n AS DOUBLE) / c))
            * 1048576 + 0.5e0) AS BIGINT) AS entropy_q20
FROM t JOIN tot USING (from_channel)
GROUP BY 1
"""


# L323 duplicated-span coverage over the planted-span corpus: the
# llm/dedup.py duplicated_spans pipeline (k=8, min_docs=2) mirrored in
# _SPAN_CTES, rolled up to the per-doc remove-or-flag grain.
_ORACLE_DEDUP_SPANS = f"""
WITH {_SPAN_CTES}
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(span_tokens) AS BIGINT) AS dup_tokens,
       CAST(MAX(span_tokens) AS BIGINT) AS max_span
FROM spans GROUP BY doc_id
"""

# L324 planted-span recall: the planted boilerplate occupies tokens
# [n//2+1, n//2+12] of every doc_id%7==3 doc with >= 16 words; a span
# CONTAINING the plant counts as detected (boundary shingles shared
# between planted docs legitimately widen the maximal span).
_ORACLE_DEDUP_SPAN_RECALL = f"""
WITH {_SPAN_CTES},
pl AS (
  SELECT doc_id,
         CAST(len(ws)//2 + 1 AS BIGINT) AS span_start,
         CAST(len(ws)//2 + 12 AS BIGINT) AS span_end
  FROM (SELECT doc_id,
               string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS ws
        FROM documents WHERE doc_id % 7 = 3)
  WHERE len(ws) >= 16
),
np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_planted FROM pl),
ndet AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_detected
  FROM pl p SEMI JOIN spans s
    ON p.doc_id = s.doc_id AND s.span_start <= p.span_start AND s.span_end >= p.span_end
),
norg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_organic
  FROM spans s ANTI JOIN pl p
    ON p.doc_id = s.doc_id AND s.span_start <= p.span_start AND s.span_end >= p.span_end
)
SELECT n_planted, n_detected,
       CAST((2 * n_detected * 1048576 + n_planted) // (2 * n_planted) AS BIGINT)
         AS recall_q20,
       n_organic
FROM np, ndet, norg
"""


# L325 planted-truth contamination recall: eval = the 10-word excerpt
# at tokens [3,12] of every doc_id%31==1 doc with >= 12 words; the L22
# 5-gram collision detector (verbatim _SHINGLE5 devices) must flag
# every excerpt's source doc.
_ORACLE_CONTAMINATION_RECALL = f"""
WITH exc AS (
  SELECT doc_id, array_to_string(ws[3:12], ' ') AS text
  FROM (SELECT doc_id,
               string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS ws
        FROM documents WHERE doc_id % 31 = 1)
  WHERE len(ws) >= 12
),
sha AS ({_SHINGLE5.format(src="documents")}),
she AS ({_SHINGLE5.format(src="exc")}),
ev AS (SELECT DISTINCT unnest(ds) AS h FROM she),
tr AS (SELECT doc_id, unnest(ds) AS h FROM sha),
flagged AS (SELECT DISTINCT tr.doc_id FROM tr JOIN ev ON tr.h = ev.h),
np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_planted FROM exc),
nfp AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_flagged_planted
  FROM exc p SEMI JOIN flagged f ON p.doc_id = f.doc_id
),
nf AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_flagged FROM flagged)
SELECT n_planted, n_flagged_planted,
       CAST((2 * n_flagged_planted * 1048576 + n_planted) // (2 * n_planted) AS BIGINT)
         AS recall_q20,
       n_flagged,
       CAST((2 * n_flagged_planted * 1048576 + n_flagged) // (2 * n_flagged) AS BIGINT)
         AS precision_q20
FROM np, nfp, nf
"""


# L326 streaming export ledger: batch recompute of the stateless
# export gate (curate quality + en-lang head verbatim), the split
# hash, and TOKEN_REGEX token mass, per split with 'rejected'
# conservation.
_ORACLE_STREAM_EXPORT_LEDGER = f"""
WITH {_NORM_RAW},
stats AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(norm, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_tokens,
         (len(ws) >= 5 AND len(list_distinct(ws)) * 10 >= len(ws) * 3) AS is_q,
         list_distinct(ws) AS dws
  FROM (SELECT doc_id, norm, string_split(norm, ' ') AS ws FROM nd)
),
scores AS (
  SELECT doc_id, n_tokens, is_q,
       {_lang_score_cols}
  FROM stats
),
best AS (
  SELECT *, GREATEST(s_de, s_en, s_es, s_fr, s_zh) AS mx FROM scores
),
gated AS (
  SELECT doc_id, n_tokens,
         CASE WHEN is_q AND (CASE {_lang_case} ELSE 'zh' END) = 'en' THEN
           CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|split'), 1, 15) AS BIGINT) % 100 < 90 THEN 'train'
                WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|split'), 1, 15) AS BIGINT) % 100 < 95 THEN 'val'
                ELSE 'test' END
         ELSE 'rejected' END AS split
  FROM best
)
SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
FROM gated GROUP BY split
"""


# L327 sign-LSH recall@5 vs self-excluded exact truth: the
# _ORACLE_ANN_LSH_MULTIPROBE bucket chain with the self row dropped
# before ranking, evaluated with the L322 audit device.
_ORACLE_ANN_LSH_RECALL = f"""
WITH {_E_NORMED},
hp AS (
  SELECT CAST(j AS INTEGER) AS plane,
         list_transform(range(1, 65),
           d -> CAST('0x' || substr(md5(CAST(j AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 15) AS BIGINT)
                / CAST(576460752303423488 AS DOUBLE) - 1.0) AS h
  FROM range(0, 6) t(j)
),
sk AS (
  SELECT e.vec_id,
         SUM(CASE WHEN list_dot_product(e.v, hp.h) >= 0
                  THEN CAST(power(2.0, hp.plane) AS BIGINT) ELSE 0 END) AS bucket
  FROM e, hp
  GROUP BY e.vec_id
),
esk AS (SELECT e.vec_id, e.v, e.vn, sk.bucket FROM e JOIN sk ON e.vec_id = sk.vec_id),
q AS (SELECT vec_id AS query_id, v AS qv0, vn AS qn FROM e WHERE vec_id % 50 = 7),
qd AS (
  SELECT q.query_id, hp.plane, list_dot_product(q.qv0, hp.h) AS d
  FROM q, hp
),
qb AS (
  SELECT query_id,
         SUM(CASE WHEN d >= 0 THEN CAST(power(2.0, plane) AS BIGINT) ELSE 0 END) AS bucket
  FROM qd GROUP BY 1
),
fl AS (
  SELECT query_id, plane FROM qd
  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY abs(d), plane) <= 2
),
pr AS (
  SELECT query_id, bucket FROM qb
  UNION
  SELECT f.query_id, xor(b.bucket, CAST(power(2.0, f.plane) AS BIGINT))
  FROM fl f JOIN qb b USING (query_id)
),
lshr AS (
  SELECT q.query_id, c.vec_id,
         list_dot_product(q.qv0, c.v) / (q.qn * c.vn) AS cos
  FROM q JOIN pr ON q.query_id = pr.query_id
         JOIN esk c ON pr.bucket = c.bucket
  WHERE c.vec_id <> q.query_id
  QUALIFY ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY cos DESC, c.vec_id) <= 5
),
truth AS (
  SELECT q.query_id, e.vec_id
  FROM q, e WHERE e.vec_id <> q.query_id
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY q.query_id
    ORDER BY list_dot_product(q.qv0, e.v) / (q.qn * e.vn) DESC, e.vec_id) <= 5
),
hits AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS sum_hits
  FROM truth t SEMI JOIN lshr p ON p.query_id = t.query_id AND p.vec_id = t.vec_id
),
nq AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_queries FROM q)
SELECT n_queries, CAST(5 AS BIGINT) AS k, sum_hits,
       CAST((2 * sum_hits * 1048576 + 5 * n_queries) // (2 * 5 * n_queries) AS BIGINT)
         AS recall_q20
FROM nq, hits
"""


# L339 ANN ensemble recall: the self-excluded IVF and multiprobe-LSH
# top-5 chains (verbatim devices from _ORACLE_ANN_IVF /
# _ORACLE_ANN_LSH_RECALL, CTE-renamed to coexist), unioned and
# re-ranked on the shared q20 cosine, each side and the ensemble
# measured against the same exact truth
_ORACLE_ANN_ENSEMBLE_RECALL = f"""
WITH {_E_NORMED},
eq AS (SELECT vec_id AS query_id, v AS qv, vn AS qn FROM e WHERE vec_id % 50 = 7),
icents AS (SELECT vec_id AS centroid_id, v AS cv, vn AS cn FROM e WHERE vec_id < 8),
iascored AS (
  SELECT e.vec_id, e.v, e.vn, c.centroid_id,
         list_dot_product(e.v, c.cv) / (e.vn * c.cn) AS cs
  FROM e, icents c
),
iassign AS (
  SELECT vec_id, v, vn, centroid_id AS cluster FROM iascored
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cs DESC, centroid_id) = 1
),
iqscored AS (
  SELECT q.query_id, q.qv, q.qn, c.centroid_id,
         list_dot_product(q.qv, c.cv) / (q.qn * c.cn) AS cs
  FROM eq q, icents c
),
iprobes AS (
  SELECT query_id, qv, qn, centroid_id AS cluster FROM iqscored
  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cs DESC, centroid_id) <= 2
),
ivfr AS (
  SELECT query_id, vec_id, CAST(FLOOR(cos * 1048576.0 + 0.5) AS BIGINT) AS cq20
  FROM (
    SELECT p.query_id, a.vec_id,
           list_dot_product(p.qv, a.v) / (p.qn * a.vn) AS cos
    FROM iprobes p JOIN iassign a ON p.cluster = a.cluster
    WHERE a.vec_id <> p.query_id
  )
  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) <= 5
),
hp AS (
  SELECT CAST(j AS INTEGER) AS plane,
         list_transform(range(1, 65),
           d -> CAST('0x' || substr(md5(CAST(j AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 15) AS BIGINT)
                / CAST(576460752303423488 AS DOUBLE) - 1.0) AS h
  FROM range(0, 6) t(j)
),
sk AS (
  SELECT e.vec_id,
         SUM(CASE WHEN list_dot_product(e.v, hp.h) >= 0
                  THEN CAST(power(2.0, hp.plane) AS BIGINT) ELSE 0 END) AS bucket
  FROM e, hp
  GROUP BY e.vec_id
),
esk AS (SELECT e.vec_id, e.v, e.vn, sk.bucket FROM e JOIN sk ON e.vec_id = sk.vec_id),
lqd AS (
  SELECT q.query_id, hp.plane, list_dot_product(q.qv, hp.h) AS d
  FROM eq q, hp
),
lqb AS (
  SELECT query_id,
         SUM(CASE WHEN d >= 0 THEN CAST(power(2.0, plane) AS BIGINT) ELSE 0 END) AS bucket
  FROM lqd GROUP BY 1
),
lfl AS (
  SELECT query_id, plane FROM lqd
  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY abs(d), plane) <= 2
),
lpr AS (
  SELECT query_id, bucket FROM lqb
  UNION
  SELECT f.query_id, xor(b.bucket, CAST(power(2.0, f.plane) AS BIGINT))
  FROM lfl f JOIN lqb b USING (query_id)
),
lshr AS (
  SELECT query_id, vec_id, CAST(FLOOR(cos * 1048576.0 + 0.5) AS BIGINT) AS cq20
  FROM (
    SELECT q.query_id, c.vec_id,
           list_dot_product(q.qv, c.v) / (q.qn * c.vn) AS cos
    FROM eq q JOIN lpr ON q.query_id = lpr.query_id
              JOIN esk c ON lpr.bucket = c.bucket
    WHERE c.vec_id <> q.query_id
  )
  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) <= 5
),
uni AS (
  SELECT DISTINCT query_id, vec_id, cq20
  FROM (SELECT * FROM ivfr UNION ALL SELECT * FROM lshr)
),
ens AS (
  SELECT query_id, vec_id FROM uni
  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cq20 DESC, vec_id) <= 5
),
truth AS (
  SELECT q.query_id, e.vec_id
  FROM eq q, e WHERE e.vec_id <> q.query_id
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY q.query_id
    ORDER BY list_dot_product(q.qv, e.v) / (q.qn * e.vn) DESC, e.vec_id) <= 5
),
hiv AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS sum_hits_ivf
  FROM truth t SEMI JOIN ivfr p ON p.query_id = t.query_id AND p.vec_id = t.vec_id
),
hls AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS sum_hits_lsh
  FROM truth t SEMI JOIN lshr p ON p.query_id = t.query_id AND p.vec_id = t.vec_id
),
hen AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS sum_hits_ens
  FROM truth t SEMI JOIN ens p ON p.query_id = t.query_id AND p.vec_id = t.vec_id
),
nq AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_queries FROM eq)
SELECT n_queries, CAST(5 AS BIGINT) AS k, sum_hits_ivf, sum_hits_lsh, sum_hits_ens,
       CAST((2 * sum_hits_ens * 1048576 + 5 * n_queries) // (2 * 5 * n_queries) AS BIGINT)
         AS recall_ens_q20
FROM nq, hiv, hls, hen
"""

# L328 span scrub: excise covered positions (spans are disjoint per
# doc, so the range LEFT JOIN has multiplicity 1), rebuild the kept
# text in position order; COALESCE('') matches Spark's concat_ws('')
# when every token is covered.
_ORACLE_DEDUP_SPAN_SCRUB = f"""
WITH {_SPAN_CTES},
toks AS (
  SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS pos
  FROM (SELECT doc_id,
               string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS ws
        FROM sdocs
        WHERE doc_id IN (SELECT doc_id FROM spans))
),
cov AS (
  SELECT t.doc_id, t.pos, t.w, (s.doc_id IS NOT NULL) AS covered
  FROM toks t LEFT JOIN spans s
    ON t.doc_id = s.doc_id AND t.pos BETWEEN s.span_start AND s.span_end
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens_in,
       CAST(SUM(CASE WHEN covered THEN 1 ELSE 0 END) AS BIGINT) AS covered_tokens,
       CAST(SUM(CASE WHEN covered THEN 0 ELSE 1 END) AS BIGINT) AS n_tokens_out,
       md5(COALESCE(string_agg(CASE WHEN NOT covered THEN w END, ' ' ORDER BY pos), ''))
         AS scrub_md5
FROM cov GROUP BY doc_id
"""


# L329 span ROI by source: span coverage rolled up to the source grain
# (word-grain token mass; NULL-preserving left join mirrored).
_ORACLE_SPAN_ROI = f"""
WITH {_SPAN_CTES},
covd AS (
  SELECT doc_id, CAST(SUM(span_tokens) AS BIGINT) AS dup_tokens
  FROM spans GROUP BY doc_id
),
per_doc AS (
  SELECT s.doc_id, d.source,
         CAST(len(string_split(regexp_replace(lower(trim(s.text)), '\\s+', ' ', 'g'), ' ')) AS BIGINT) AS nw
  FROM sdocs s JOIN documents d ON s.doc_id = d.doc_id
)
SELECT p.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN c.dup_tokens IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_span_docs,
       CAST(SUM(p.nw) AS BIGINT) AS total_tokens,
       CAST(SUM(COALESCE(c.dup_tokens, 0)) AS BIGINT) AS dup_tokens,
       CAST((2 * SUM(COALESCE(c.dup_tokens, 0)) * 1048576 + SUM(p.nw)) // (2 * SUM(p.nw)) AS BIGINT)
         AS dup_rate_q20
FROM per_doc p LEFT JOIN covd c ON p.doc_id = c.doc_id
GROUP BY p.source
"""


# L330 distinct-count view maintenance: recompute of the FINAL fact
# set (the L83 oracle philosophy — parity with recompute IS the gate).
# L338 geo-holdout lift: treated markets vs the pooled-control
# share-scaled counterfactual, exact half-up integer cents
_ORACLE_GEO_LIFT = """
WITH grain AS (
  SELECT n.n_name AS nation, n.n_nationkey % 5 = 0 AS is_treated,
         CAST(SUM(CASE WHEN CAST(e.ts AS DATE) < DATE '2024-01-16'
                       THEN CAST(ROUND(e.value * 100, 0) AS BIGINT) ELSE 0 END) AS BIGINT)
           AS pre_cents,
         CAST(SUM(CASE WHEN CAST(e.ts AS DATE) >= DATE '2024-01-16'
                       THEN CAST(ROUND(e.value * 100, 0) AS BIGINT) ELSE 0 END) AS BIGINT)
           AS post_cents
  FROM events e
  JOIN customer c ON e.user_id = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  WHERE e.event_type = 'purchase'
  GROUP BY 1, 2
),
ctrl AS (
  SELECT CAST(SUM(pre_cents) AS BIGINT) AS ctrl_pre_cents,
         CAST(SUM(post_cents) AS BIGINT) AS ctrl_post_cents
  FROM grain WHERE NOT is_treated
)
SELECT g.nation, g.pre_cents, g.post_cents, c.ctrl_pre_cents, c.ctrl_post_cents,
       CAST((2 * c.ctrl_post_cents * g.pre_cents + c.ctrl_pre_cents)
            // (2 * c.ctrl_pre_cents) AS BIGINT) AS counterfactual_cents,
       CAST(g.post_cents - (2 * c.ctrl_post_cents * g.pre_cents + c.ctrl_pre_cents)
            // (2 * c.ctrl_pre_cents) AS BIGINT) AS lift_cents
FROM grain g CROSS JOIN ctrl c
WHERE g.is_treated
"""

# L337 incremental top-k view: the oracle is the final-state direct
# recompute — the maintained support + rank-at-read must equal it
_ORACLE_IVM_TOPK = """
WITH daily AS (
  SELECT event_type AS channel,
         strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS revenue_cents
  FROM events
  WHERE CAST(ts AS DATE) >= DATE '2024-01-20' OR event_id % 97 <> 0
  GROUP BY 1, 2
)
SELECT channel, CAST(ROW_NUMBER() OVER w AS BIGINT) AS rnk, day, revenue_cents
FROM daily
WINDOW w AS (PARTITION BY channel ORDER BY revenue_cents DESC, day ASC)
QUALIFY ROW_NUMBER() OVER w <= 3
"""

_ORACLE_IVM_DISTINCT = """
SELECT event_type AS channel,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct
FROM events
WHERE CAST(ts AS DATE) >= DATE '2024-01-20' OR event_id % 97 <> 0
GROUP BY 1
"""


# L332 within-doc repeated spans over the period-10-tail plant: the
# repeat test is a doc-local COUNT over (doc, sh); islands as in L323.
_ORACLE_REPEAT_SPANS = f"""
WITH rdocs AS (
  SELECT doc_id,
         CASE WHEN doc_id % 13 = 4 AND len(ws) >= 10 THEN
           concat_ws(' ', array_to_string(ws, ' '),
                          array_to_string(ws[len(ws)-9:len(ws)], ' '))
         ELSE text END AS text
  FROM (SELECT doc_id, text,
               string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS ws
        FROM documents)
),
rsh AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(ws) - 6, 2)),
                        i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2], ws[i+3],
                                            ws[i+4], ws[i+5], ws[i+6], ws[i+7])) AS shingles
  FROM (SELECT doc_id,
               string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS ws
        FROM rdocs)
),
rinst AS (
  SELECT doc_id, pos, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS sh
  FROM (SELECT doc_id, unnest(shingles) AS s,
               generate_subscripts(shingles, 1) AS pos
        FROM rsh)
),
rdup AS (
  SELECT doc_id, pos
  FROM (SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY doc_id, sh) AS m FROM rinst)
  WHERE m >= 2
),
risl AS (
  SELECT doc_id, pos,
         pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS g
  FROM rdup
),
rspans AS (
  SELECT doc_id,
         CAST(MIN(pos) AS BIGINT) AS span_start,
         CAST(MAX(pos) + 7 AS BIGINT) AS span_end,
         CAST(MAX(pos) - MIN(pos) + 8 AS BIGINT) AS span_tokens
  FROM risl GROUP BY doc_id, g
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(span_tokens) AS BIGINT) AS rep_tokens,
       CAST(MAX(span_tokens) AS BIGINT) AS max_span
FROM rspans GROUP BY doc_id
"""


# L333 streaming within-doc repeat gate: batch recompute of the
# doc-local multiplicity screen over the period-10-tail plant, per
# source with flagged-doc and repeated-instance counters.
_ORACLE_STREAM_REPEAT_GATE = f"""
WITH rdocs AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 13 = 4 AND len(ws) >= 10 THEN
           concat_ws(' ', array_to_string(ws, ' '),
                          array_to_string(ws[len(ws)-9:len(ws)], ' '))
         ELSE text END AS text
  FROM (SELECT doc_id, source, text,
               string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS ws
        FROM documents)
),
rsh AS (
  SELECT doc_id, source,
         list_transform(range(1, greatest(len(ws) - 6, 2)),
                        i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2], ws[i+3],
                                            ws[i+4], ws[i+5], ws[i+6], ws[i+7])) AS shingles
  FROM (SELECT doc_id, source,
               string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS ws
        FROM rdocs)
),
rinst AS (
  SELECT doc_id, source, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS sh,
         CAST(COUNT(*) AS BIGINT) AS m
  FROM (SELECT doc_id, source, unnest(shingles) AS s FROM rsh)
  GROUP BY 1, 2, 3
),
per_doc AS (
  SELECT doc_id, source,
         CAST(SUM(CASE WHEN m >= 2 THEN m ELSE 0 END) AS BIGINT) AS rep_inst
  FROM rinst GROUP BY 1, 2
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN rep_inst > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       CAST(SUM(rep_inst) AS BIGINT) AS rep_instances
FROM per_doc GROUP BY source
"""


def oracle_sql() -> dict[str, str]:
    return {
        # streaming twin gated by the batch L316 oracle text verbatim
        "llm_stream_contamination_gate": _ORACLE_CONTAMINATION_RATE,
        "llm_gate_ablation": _ORACLE_GATE_ABLATION,
        "rel_zone_map_skipping": _ORACLE_ZONE_MAP_SKIPPING,
        "maef_ivm_topk": _ORACLE_IVM_TOPK,
        "maef_geo_lift": _ORACLE_GEO_LIFT,
        "llm_ann_ensemble_recall": _ORACLE_ANN_ENSEMBLE_RECALL,
        "llm_dataset_card": _ORACLE_DATASET_CARD,
        "llm_dedup_spans": _ORACLE_DEDUP_SPANS,
        "llm_repeat_spans": _ORACLE_REPEAT_SPANS,
        "llm_stream_repeat_gate": _ORACLE_STREAM_REPEAT_GATE,
        "maef_ivm_distinct": _ORACLE_IVM_DISTINCT,
        "llm_span_roi": _ORACLE_SPAN_ROI,
        "llm_dedup_span_scrub": _ORACLE_DEDUP_SPAN_SCRUB,
        "llm_ann_lsh_recall": _ORACLE_ANN_LSH_RECALL,
        "llm_stream_export_ledger": _ORACLE_STREAM_EXPORT_LEDGER,
        "llm_contamination_recall": _ORACLE_CONTAMINATION_RECALL,
        "llm_dedup_span_recall": _ORACLE_DEDUP_SPAN_RECALL,
        "llm_export_pipeline": _ORACLE_EXPORT_PIPELINE,
        "llm_stream_ann_store": _ORACLE_STREAM_ANN_STORE,
        "llm_pii_rate": _ORACLE_PII_RATE,
        "llm_chunk_conservation": _ORACLE_CHUNK_CONSERVATION,
        "llm_vocab_coverage": _ORACLE_VOCAB_COVERAGE,
        "maef_transition_entropy": _ORACLE_TRANSITION_ENTROPY,
        "llm_contamination_rate": _ORACLE_CONTAMINATION_RATE,
        "llm_dedup_planted_recall": _ORACLE_DEDUP_PLANTED_RECALL,
        "llm_multimodal_pack": _ORACLE_MULTIMODAL_PACK,
        "llm_length_diversity_corr": _ORACLE_LENGTH_DIVERSITY_CORR,
        # streaming twin gated by the batch L312 oracle text verbatim
        "llm_stream_pii_gate": _ORACLE_PII_RATE,
        "maef_ivm_join": _ORACLE_IVM_JOIN,
        "llm_ann_pq_recall": _ORACLE_ANN_PQ_RECALL,
        "maef_attribution_gini": _ORACLE_ATTRIBUTION_GINI,
        "maef_touch_agreement": _ORACLE_TOUCH_AGREEMENT,
        "maef_journey_length_dist": _ORACLE_JOURNEY_LENGTH_DIST,
        "llm_template_share": _ORACLE_TEMPLATE_SHARE,
        # streaming twins gated by their batch oracle texts verbatim
        "maef_stream_error_impact": _ORACLE_ERROR_IMPACT,
        "llm_stream_length_mix": _ORACLE_LENGTH_MIX,
        "rel_salted_join": _ORACLE_REL_SALTED_JOIN,
        "rel_zorder_layout": _ORACLE_REL_ZORDER_LAYOUT,
        "maef_compaction_roundtrip": _ORACLE_COMPACTION_ROUNDTRIP,
        "maef_forecast_ensemble": _ORACLE_FORECAST_ENSEMBLE,
        "maef_ltv_concentration": _ORACLE_LTV_CONCENTRATION,
        "llm_length_mix": _ORACLE_LENGTH_MIX,
        "llm_ann_filtered": _ORACLE_ANN_FILTERED,
        "llm_stream_vocab": _ORACLE_STREAM_VOCAB,
        "llm_sentence_stats": _ORACLE_SENTENCE_STATS,
        "llm_lsh_cost_audit": _ORACLE_LSH_COST_AUDIT,
        "maef_error_impact": _ORACLE_ERROR_IMPACT,
        "rel_price_waterfall": _ORACLE_REL_PRICE_WATERFALL,
        # streaming twins gated by their batch oracle texts verbatim
        "maef_stream_depth": _ORACLE_SESSION_DEPTH,
        "maef_stream_frequency": _ORACLE_EFFECTIVE_FREQUENCY,
        "llm_lsh_hot_buckets": _ORACLE_LSH_HOT_BUCKETS,
        "llm_template_docs": _ORACLE_TEMPLATE_DOCS,
        "llm_dedup_roi": _ORACLE_DEDUP_ROI,
        "llm_dedup_pipeline": _ORACLE_DEDUP_PIPELINE,
        "llm_ann_tuning": _ORACLE_ANN_TUNING,
        "rel_skew_profile": _ORACLE_SKEW_PROFILE,
        "llm_pack_fragmentation": _ORACLE_PACK_FRAGMENTATION,
        "llm_surprisal_mix": _ORACLE_SURPRISAL_MIX,
        "llm_template_dup": _ORACLE_TEMPLATE_DUP,
        "llm_stream_quality_gate": _ORACLE_STREAM_QUALITY_GATE,
        "llm_fertility_drift": _ORACLE_FERTILITY_DRIFT,
        "maef_stream_skew": _ORACLE_STREAM_SKEW,
        "maef_attribution_tau": _ORACLE_ATTRIBUTION_TAU,
        "maef_transition_dwell": _ORACLE_TRANSITION_DWELL,
        "llm_shard_balance": _ORACLE_SHARD_BALANCE,
        "llm_vocab_growth": _ORACLE_VOCAB_GROWTH,
        "llm_ngram_novelty": _ORACLE_NGRAM_NOVELTY,
        "llm_label_drift": _ORACLE_LABEL_DRIFT,
        "maef_effective_frequency": _ORACLE_EFFECTIVE_FREQUENCY,
        "maef_channel_affinity": _ORACLE_CHANNEL_AFFINITY,
        "maef_session_depth": _ORACLE_SESSION_DEPTH,
        "maef_ab_quantiles": _ORACLE_AB_QUANTILES,
        # streaming twin gated by the batch L209 oracle text verbatim
        "maef_stream_bounce": _ORACLE_BOUNCE_RATE,
        "maef_stream_dq": _ORACLE_STREAM_DQ,
        "maef_next_best_channel": _ORACLE_NEXT_BEST_CHANNEL,
        "llm_ann_recall": _ORACLE_ANN_RECALL,
        "llm_ann_recall_drift": _ORACLE_ANN_RECALL_DRIFT,
        "llm_stream_cdc_store": _ORACLE_STREAM_CDC_STORE,
        "llm_embedding_pca": _ORACLE_EMBEDDING_PCA,
        "maef_share_of_voice": _ORACLE_SHARE_OF_VOICE,
        "llm_length_drift": _ORACLE_LENGTH_DRIFT,
        "llm_simhash_hamming": _ORACLE_SIMHASH_HAMMING,
        "maef_stream_funnel": _ORACLE_STREAM_FUNNEL,
        "maef_holt_winters": _ORACLE_HOLT_WINTERS,
        "maef_markov_path_length": _ORACLE_MARKOV_PATH_LENGTH,
        "llm_oov_rate": _ORACLE_OOV_RATE,
        "llm_surprisal_drift": _ORACLE_SURPRISAL_DRIFT,
        "maef_rank_stability": _ORACLE_RANK_STABILITY,
        "llm_dup_degree_hist": _ORACLE_DUP_DEGREE_HIST,
        "llm_dedup_threshold_sweep": _ORACLE_DEDUP_THRESHOLD_SWEEP,
        "llm_window_dedup": _ORACLE_WINDOW_DEDUP,
        "llm_lsh_bucket_stats": _ORACLE_LSH_BUCKET_STATS,
        "llm_code_screen": _ORACLE_CODE_SCREEN,
        "maef_budget_reallocation": _ORACLE_BUDGET_REALLOCATION,
        "maef_matched_lift": _ORACLE_MATCHED_LIFT,
        "maef_stream_sov": _ORACLE_SHARE_OF_VOICE,
        "maef_seasonal_decomposition": _ORACLE_SEASONAL_DECOMPOSITION,
        "llm_multimodal_waveform": _ORACLE_MM_WAVEFORM,
        "maef_dow_index": _ORACLE_DOW_INDEX,
        "maef_mix_drift": _ORACLE_MIX_DRIFT,
        "maef_forecast_topdown": _ORACLE_FORECAST_TOPDOWN,
        "maef_pareto_share": _ORACLE_PARETO_SHARE,
        "maef_activity_streaks": _ORACLE_ACTIVITY_STREAKS,
        "llm_cdc_cross_source": _ORACLE_CDC_CROSS_SOURCE,
        "maef_dow_anomaly": _ORACLE_DOW_ANOMALY,
        "maef_cac_payback": _ORACLE_CAC_PAYBACK,
        "maef_stream_mix_drift": _ORACLE_STREAM_MIX_DRIFT,
        "maef_interpurchase": _ORACLE_INTERPURCHASE,
        "maef_holt_forecast": _ORACLE_HOLT_FORECAST,
        "llm_doc_novelty": _ORACLE_DOC_NOVELTY,
        "llm_cdc_chunks": _ORACLE_CDC_CHUNKS,
        "llm_embedding_outliers": _ORACLE_EMBEDDING_OUTLIERS,
        "maef_journey_entries": _ORACLE_JOURNEY_ENTRIES,
        "maef_attribution_linear": _ORACLE_ATTR_LINEAR,
        "maef_attribution_last_touch": _ORACLE_ATTR_LAST,
        "maef_attribution_first_touch": _ORACLE_ATTR_FIRST,
        "maef_attribution_u_shaped": _ORACLE_ATTR_U,
        "maef_attribution_time_decay": _ORACLE_ATTR_DECAY,
        "maef_attribution_ihc": _ORACLE_ATTR_IHC,
        "maef_attribution_ihc_redist": _ORACLE_ATTR_IHC_REDIST,
        "maef_attribution_ihc_directional": _ORACLE_ATTR_IHC_DIR,
        "maef_channel_report": _ORACLE_REPORT,
        "maef_channel_report_export": _ORACLE_REPORT_EXPORT,
        # e2e DAG replay returns the identical export contract; the same
        # oracle hash-checks the whole five-stage chain
        "maef_pipeline_e2e": _ORACLE_REPORT_EXPORT,
        "maef_gini_channel": _ORACLE_GINI_CHANNEL,
        "maef_wilson_rates": _ORACLE_WILSON_RATES,
        "maef_did_lift": _ORACLE_DID_LIFT,
        "maef_ewma_forecast": _ORACLE_EWMA_FORECAST,
        "maef_seasonal_naive": _ORACLE_SEASONAL_NAIVE,
        "rel_grouping_sets": _ORACLE_REL_GROUPING_SETS,
        "maef_skyline_days": _ORACLE_SKYLINE_DAYS,
        "rel_label_propagation": _ORACLE_LABEL_PROPAGATION,
        "llm_bigram_surprisal": _ORACLE_BIGRAM_SURPRISAL,
        "llm_temperature_mix": _ORACLE_TEMPERATURE_MIX,
        "llm_random_projection": _ORACLE_RANDOM_PROJECTION,
        "maef_raking_ipf": _ORACLE_RAKING_IPF,
        "maef_top_paths": _ORACLE_TOP_PATHS,
        "maef_user_mix_entropy": _ORACLE_USER_MIX_ENTROPY,
        "maef_peak_concurrency": _ORACLE_PEAK_CONCURRENCY,
        "maef_channel_correlation": _ORACLE_CHANNEL_CORRELATION,
        "llm_tokenizer_fertility": _ORACLE_TOKENIZER_FERTILITY,
        "llm_source_signature_terms": _ORACLE_SOURCE_SIGNATURE_TERMS,
        "rel_rollup": _ORACLE_REL_ROLLUP,
        "maef_cohort_ltv": _ORACLE_COHORT_LTV,
        "llm_ct_langid": _ORACLE_CT_LANGID,
        "llm_ann_int8_rerank": _ORACLE_ANN_INT8_RERANK,
        "maef_stream_topk_channels": _ORACLE_STREAM_TOPK,
        "maef_user_export": _ORACLE_USER_EXPORT,
        "maef_attribution_bootstrap": _ORACLE_ATTRIBUTION_BOOTSTRAP,
        "llm_term_drift": _ORACLE_TERM_DRIFT,
        "maef_trailing_week_revenue": _ORACLE_TRAILING_WEEK,
        "llm_zipf_slope": _ORACLE_ZIPF_SLOPE,
        "maef_frequency_capping": _ORACLE_FREQUENCY_CAPPING,
        "maef_adstock_hill": _ORACLE_ADSTOCK_HILL,
        "maef_reach_curve": _ORACLE_REACH_CURVE,
        "maef_conversion_lag": _ORACLE_CONVERSION_LAG,
        "maef_position_credit": _ORACLE_POSITION_CREDIT,
        "maef_volume_response_ols": _ORACLE_VOLUME_RESPONSE,
        "maef_kmv_overlap": _ORACLE_KMV_OVERLAP,
        "llm_ann_pq": _ORACLE_ANN_PQ,
        "llm_train_val_split": _ORACLE_TRAIN_VAL_SPLIT,
        "maef_partitioned_sink": _ORACLE_PARTITIONED_SINK,
        "maef_ivt_screen": _ORACLE_IVT_SCREEN,
        "maef_channel_synergy": _ORACLE_CHANNEL_SYNERGY,
        "llm_cross_source_dup": _ORACLE_CROSS_SOURCE_DUP,
        "llm_hapax_docs": _ORACLE_HAPAX_DOCS,
        "maef_dayparting": _ORACLE_DAYPARTING,
        "maef_new_vs_returning": _ORACLE_NEW_VS_RETURNING,
        "maef_mann_kendall": _ORACLE_MANN_KENDALL,
        "maef_leadlag_response": _ORACLE_LEADLAG,
        "maef_budget_pacing": _ORACLE_BUDGET_PACING,
        # streaming twin gated by the batch L202 oracle text verbatim
        "maef_stream_pacing": _ORACLE_BUDGET_PACING,
        "llm_word_simpson": _ORACLE_WORD_SIMPSON,
        "llm_mmr_diverse": _ORACLE_MMR_DIVERSE,
        "maef_theil_sen": _ORACLE_THEIL_SEN,
        "maef_mix_ols2": _ORACLE_MIX_OLS2,
        "llm_norm_band": _ORACLE_NORM_BAND,
        # streaming reach parity: the stream must reproduce the batch
        # reach curve exactly (min-agg is micro-batch-order-free)
        "maef_stream_reach": _ORACLE_REACH_CURVE,
        "maef_bounce_rate": _ORACLE_BOUNCE_RATE,
        "llm_label_purity": _ORACLE_LABEL_PURITY,
        "maef_reach_frontier": _ORACLE_REACH_FRONTIER,
        "maef_markov2_removal": _ORACLE_MARKOV2_REMOVAL,
        "maef_adstock_decay_fit": _ORACLE_ADSTOCK_DECAY_FIT,
        "llm_dedup_survivors": _ORACLE_DEDUP_SURVIVORS,
        "maef_lookback_sensitivity": _ORACLE_LOOKBACK_SENSITIVITY,
        "maef_srm_check": _ORACLE_SRM_CHECK,
        "llm_saturation_curve": _ORACLE_SATURATION_CURVE,
        "maef_revenue_decomposition": _ORACLE_REVENUE_DECOMPOSITION,
        # streaming SRM parity: the stream must reproduce the batch
        # SRM readout exactly (user-count state is order-independent)
        "maef_stream_srm": _ORACLE_SRM_CHECK,
        "llm_minhash_accuracy": _ORACLE_MINHASH_ACCURACY,
        "maef_burstiness": _ORACLE_BURSTINESS,
        "maef_cuped_lift": _ORACLE_CUPED,
        "llm_dup_cluster_sizes": _ORACLE_DUP_CLUSTER_SIZES,
        "llm_multimodal_frames": _ORACLE_MM_FRAMES,
        "maef_mde_components": _ORACLE_MDE,
        "maef_conversion_velocity": _ORACLE_CONVERSION_VELOCITY,
        "maef_channel_report_replicate": _ORACLE_REPORT_REPLICATE,
        "maef_journey_paths": _ORACLE_JOURNEY_PATHS,
        "maef_chunk_assignment": _ORACLE_CHUNKS,
        "maef_report_summary": _ORACLE_REPORT_SUMMARY,
        "maef_loader_roundtrip": _ORACLE_LOADER_ROUNDTRIP,
        "maef_loader_errors": _ORACLE_LOADER_ERRORS,
        "maef_date_window": _ORACLE_DATE_WINDOW,
        # streaming/batch parity: the incremental streaming run over a
        # static input must equal the batch linear attribution exactly
        "maef_stream_attribution": _ORACLE_ATTR_LINEAR,
        "maef_cleaning": _ORACLE_CLEANING,
        "maef_attribution_stats": _ORACLE_ATTR_STATS,
        "maef_props_stats": _ORACLE_PROPS_STATS,
        "maef_channel_rollup": _ORACLE_ROLLUP,
        "maef_channel_pivot": _ORACLE_PIVOT,
        "maef_rolling_features": _ORACLE_ROLLING,
        "maef_stream_windowed_volume": _ORACLE_STREAM_VOLUME,
        "maef_stream_journey_join": _ORACLE_STREAM_JOURNEY,
        "maef_warehouse_roundtrip": _ORACLE_WAREHOUSE,
        "maef_session_asof": _ORACLE_SESSION_ASOF,
        "maef_session_asof_forward": _ORACLE_SESSION_ASOF_FWD,
        "maef_sessionize_batch": _ORACLE_SESSIONIZE,
        # L27 oracle gate: the applyInPandasWithState sessionizer must
        # reproduce the batch gap+cap semantics bit for bit
        "maef_stream_sessionize_state": _ORACLE_SESSIONIZE,
        "maef_sessionize_native": _ORACLE_SESSIONIZE_NATIVE,
        "maef_anomaly_mad": _ORACLE_ANOMALY_MAD,
        "maef_channel_decay": _ORACLE_CHANNEL_DECAY,
        "rel_shipping_priority": _ORACLE_REL_SHIPPING,
        "rel_parts_supplier": _ORACLE_REL_PARTS_SUPPLIER,
        "rel_big_spenders": _ORACLE_REL_BIG_SPENDERS,
        "maef_stream_dedup": _ORACLE_STREAM_DEDUP,
        "maef_channel_assists": _ORACLE_CHANNEL_ASSISTS,
        "maef_user_features": _ORACLE_USER_FEATURES,
        "maef_latency_histogram": _ORACLE_LATENCY_HISTOGRAM,
        "maef_budget_allocation": _ORACLE_BUDGET_ALLOC,
        "maef_window_funnel": _ORACLE_WINDOW_FUNNEL,
        "maef_ab_lift": _ORACLE_AB_LIFT,
        "llm_hybrid_rrf": _ORACLE_HYBRID_RRF,
        "maef_user_purge": _ORACLE_USER_PURGE,
        "maef_bloom_pruned_join": _ORACLE_BLOOM_PRUNED_JOIN,
        "rel_idle_customers": _ORACLE_REL_IDLE_CUSTOMERS,
        "rel_returned_items": _ORACLE_REL_RETURNED_ITEMS,
        "maef_journey_dropoff": _ORACLE_JOURNEY_DROPOFF,
        "maef_sketch_merge_law": _ORACLE_SKETCH_MERGE_LAW,
        "maef_user_gaps": _ORACLE_USER_GAPS,
        "maef_orc_roundtrip": _ORACLE_ORC_ROUNDTRIP,
        # streaming/batch parity: streaming session_window over static
        # input must equal the batch prefix-sum gap-session SQL
        "maef_stream_sessionize": _ORACLE_SESSIONIZE_NATIVE,
        "rel_small_quantity": _ORACLE_REL_SMALL_QUANTITY,
        "rel_local_volume": _ORACLE_REL_LOCAL_VOLUME,
        "rel_nation_trade": _ORACLE_REL_NATION_TRADE,
        "rel_return_culprits": _ORACLE_REL_RETURN_CULPRITS,
        "maef_scd2_channels": _ORACLE_SCD2_CHANNELS,
        "rel_promo_share": _ORACLE_REL_PROMO_SHARE,
        "rel_disjunctive": _ORACLE_REL_DISJUNCTIVE,
        "rel_min_cost_supplier": _ORACLE_REL_MIN_COST_SUPPLIER,
        "rel_important_parts": _ORACLE_REL_IMPORTANT_PARTS,
        "rel_part_promotion": _ORACLE_REL_PART_PROMOTION,
        "rel_forecast_revenue": _ORACLE_REL_FORECAST_REVENUE,
        "maef_scd2_lookup": _ORACLE_SCD2_LOOKUP,
        "rel_priority_lines": _ORACLE_REL_PRIORITY_LINES,
        "maef_rfm_segments": _ORACLE_RFM_SEGMENTS,
        "maef_survival_km": _ORACLE_SURVIVAL_KM,
        "rel_basket_pairs": _ORACLE_REL_BASKET_PAIRS,
        "maef_robust_stats": _ORACLE_ROBUST_STATS,
        "llm_pack_sequences": _ORACLE_PACK_SEQUENCES,
        "maef_bandit_ucb": _ORACLE_BANDIT_UCB,
        "rel_triangle_count": _ORACLE_REL_TRIANGLE_COUNT,
        "maef_stratified_sample": _ORACLE_STRATIFIED_SAMPLE,
        "llm_embed_quantize": _ORACLE_EMBED_QUANTIZE,
        "maef_path_motifs": _ORACLE_PATH_MOTIFS,
        "rel_item_recs": _ORACLE_REL_ITEM_RECS,
        "llm_nb_langid": _ORACLE_NB_LANGID,
        "maef_benford_screen": _ORACLE_BENFORD_SCREEN,
        "maef_stream_enrich": _ORACLE_STREAM_ENRICH,
        "llm_greedy_coverage": _ORACLE_GREEDY_COVERAGE,
        "maef_isotonic_calibration": _ORACLE_ISOTONIC_CALIBRATION,
        "maef_cusum_changepoint": _ORACLE_CUSUM_CHANGEPOINT,
        "llm_hashed_features": _ORACLE_HASHED_FEATURES,
        "rel_kcore": _ORACLE_REL_KCORE,
        "maef_weighted_median": _ORACLE_WEIGHTED_MEDIAN,
        "maef_sequence_patterns": _ORACLE_SEQUENCE_PATTERNS,
        "maef_pseudonymize": _ORACLE_PSEUDONYMIZE,
        "llm_text_stats": _ORACLE_TEXT_STATS,
        "llm_lang_id": _ORACLE_LANG_ID,
        "llm_top_terms": _ORACLE_TOP_TERMS,
        "llm_unigram_surprisal": _ORACLE_UNIGRAM_SURPRISAL,
        "llm_bm25_topk": _ORACLE_BM25,
        "llm_fingerprint": _ORACLE_FINGERPRINT,
        "llm_dedup_exact": _ORACLE_DEDUP_EXACT,
        "llm_dedup_minhash": _ORACLE_DEDUP_MINHASH,
        "llm_dedup_clusters": _ORACLE_DEDUP_CLUSTERS,
        "llm_dedup_simhash": _ORACLE_DEDUP_SIMHASH,
        "llm_dedup_ngram_jaccard": _ORACLE_DEDUP_NGRAM,
        "llm_curate": _ORACLE_CURATE,
        "llm_curate_sketch": _ORACLE_CURATE_SKETCH,
        "llm_sample": _ORACLE_SAMPLE,
        "llm_scrub_pii": _ORACLE_SCRUB_PII,
        "llm_decontaminate": _ORACLE_DECONTAMINATE,
        "llm_pack": _ORACLE_PACK,
        "llm_repetition": _ORACLE_REPETITION,
        "llm_corpus_stats": _ORACLE_CORPUS_STATS,
        "llm_boilerplate_scrub": _ORACLE_BOILERPLATE,
        "llm_dedup_incremental": _ORACLE_DEDUP_INCREMENTAL,
        "maef_flash_windows": _ORACLE_FLASH_WINDOWS,
        "maef_snapshot_diff": _ORACLE_SNAPSHOT_DIFF,
        "llm_curriculum": _ORACLE_CURRICULUM,
        "maef_funnel": _ORACLE_FUNNEL,
        "maef_cohort_retention": _ORACLE_COHORT,
        "llm_source_topk": _ORACLE_SOURCE_TOPK,
        "llm_neardup_incremental": _ORACLE_NEARDUP_INCREMENTAL,
        "llm_bpe_merges": _ORACLE_BPE,
        "llm_bpe_encode": _ORACLE_BPE_ENCODE,
        "maef_channel_transitions": _ORACLE_CHANNEL_TRANSITIONS,
        "maef_markov_removal": _ORACLE_MARKOV_REMOVAL,
        "rel_pricing_summary": _ORACLE_REL_PRICING,
        "rel_segment_priority": _ORACLE_REL_SEGMENT,
        "maef_bucketed_join": _ORACLE_BUCKETED_JOIN,
        "llm_cms_heavy_hitters": _ORACLE_CMS,
        "maef_stream_cms": _ORACLE_STREAM_CMS,
        "maef_data_quality": _ORACLE_DATA_QUALITY,
        "maef_shapley": _ORACLE_SHAPLEY,
        "llm_quality_gate": _ORACLE_QUALITY_GATE,
        "llm_ann_topk": _ORACLE_ANN_TOPK,
        "llm_ann_ivf": _ORACLE_ANN_IVF,
        "llm_ann_kmeans": _ORACLE_ANN_KMEANS,
        "llm_ann_ivf_kmeans": _ORACLE_ANN_IVF_KMEANS,
        "llm_ann_lsh": _ORACLE_ANN_LSH,
        "llm_ann_lsh_multiprobe": _ORACLE_ANN_LSH_MULTIPROBE,
        "llm_embedding_neardup": _ORACLE_EMB_NEARDUP,
        "llm_semdedup": _ORACLE_SEMDEDUP,
        "llm_dup_ngram_coverage": _ORACLE_DUP_NGRAM,
        "llm_kmv_users": _ORACLE_KMV,
        "llm_source_mix": _ORACLE_SOURCE_MIX,
        "llm_mix_sample": _ORACLE_MIX_SAMPLE,
        "llm_length_percentiles": _ORACLE_LENGTH_PCT,
        "llm_chunk_documents": _ORACLE_CHUNK_DOCS,
        "llm_vocabulary": _ORACLE_VOCAB,
        "llm_bigram_pmi": _ORACLE_BIGRAM_PMI,
        "rel_market_share": _ORACLE_REL_MARKET_SHARE,
        "rel_customer_distribution": _ORACLE_REL_CUSTDIST,
        "rel_top_supplier": _ORACLE_REL_TOP_SUPPLIER,
        "rel_order_priority": _ORACLE_REL_ORDER_PRIORITY,
        "rel_nation_margin": _ORACLE_REL_NATION_MARGIN,
        "llm_hll_users": _ORACLE_HLL,
        "maef_anomaly_days": _ORACLE_ANOMALY,
        "llm_weighted_sample": _ORACLE_WEIGHTED_SAMPLE,
        "maef_dormant_users": _ORACLE_DORMANT,
        "llm_containment": _ORACLE_CONTAINMENT,
        "llm_ngram_store_audit": _ORACLE_NGRAM_STORE_AUDIT,
        "maef_fill_gaps": _ORACLE_FILL_GAPS,
        "maef_fuzzy_channels": _ORACLE_FUZZY_CHANNELS,
        "llm_bloom_converters": _ORACLE_BLOOM_CONVERTERS,
        "maef_ivm_report": _ORACLE_IVM_REPORT,
        "maef_channel_unpivot": _ORACLE_CHANNEL_UNPIVOT,
        "maef_audience_setops": _ORACLE_AUDIENCE_SETOPS,
        "maef_pagerank_channels": _ORACLE_PAGERANK,
        "llm_length_histogram": _ORACLE_LENGTH_HISTOGRAM,
        "maef_channel_cube": _ORACLE_CHANNEL_CUBE,
        "maef_fd_profile": _ORACLE_FD_PROFILE,
        "rel_monthly_growth": _ORACLE_REL_MONTHLY_GROWTH,
        "llm_tfidf_pairs": _ORACLE_TFIDF_PAIRS,
        "maef_model_comparison": _ORACLE_MODEL_COMPARISON,
        "maef_channel_overlap": _ORACLE_CHANNEL_OVERLAP,
        "llm_lang_confusion": _ORACLE_LANG_CONFUSION,
        "maef_revenue_histogram": _ORACLE_REVENUE_HISTOGRAM,
        "llm_multimodal_meta": _ORACLE_MM_META,
        # the mapInPandas path IS value-checked via the exact-integer
        # stripe summary (same Arrow plumbing, no float output):
        "llm_multimodal_stripes": _ORACLE_MM_STRIPES,
        # llm_multimodal_features: intentionally no oracle — Python
        # (mapInPandas) feature extraction is not ANSI-SQL expressible;
        # the driver records a rows-only check for it.
    }
