"""Event-stream monitors over the `events` table: activity counts (DAU /
WAU, rolling 7-day actives, hour-of-week profile), anomaly and drift
detection (hourly z-scores, daily MAD, CUSUM, EWMA, p-charts, seasonal
weekday lift, burstiness / Fano factor), series statistics (OHLC bars,
per-type linear trend, moving correlation, autocorrelation, value
quartile bands, CUPED variance reduction), and sequence analytics
(user transitions, inter-arrival times, strict funnel patterns, time
to convert, session top paths, weekly survival cohorts, event-type
trigrams and co-occurrence, error-alert transitions, daily bounce
rate).

Parity: count-based statistics (z-scores, rates) come from exact
integer count sums (the `variance_order_value` fixed-point pattern), so
they divide identical integers and the doubles are bit-identical
cross-engine; pround/sql_round twins round the rest.
ntile() and lead/lag are deterministic because every window ordering
is total — ties break on (ts, event_id). Sequence windows partition
by user; the sequential folds (EWMA, CUSUM) run over bounded per-day
aggregates, never over the raw fact table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.portable import (
    SQL_EXACT_INT as _DEC,
    SQL_EXACT_INT as _DEC2,
    cents,
    pround,
    sql_cents,
    sql_round as R,
)
from ..operators.temporal import sessionize
from ..registry import query


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Hourly-count anomaly detection per event type: z-score of each hour's
# event count against that type's full-series mean/stddev, computed
# from exact integer sums (n, Σn, Σn²), flagging |z| ≥ 2.
# ---------------------------------------------------------------------------
@query(
    "events_hourly_anomalies",
    oracle=f"""
WITH hourly AS (
  SELECT event_type,
         strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
         count(*) AS n
  FROM events GROUP BY event_type, hour
), stats AS (
  SELECT event_type,
         count(*) AS n_hours,
         CAST(sum(n) AS BIGINT) AS sx,
         CAST(sum(n * n) AS BIGINT) AS sxx
  FROM hourly GROUP BY event_type
), z AS (
  SELECT h.event_type, h.hour, h.n,
         ((CAST(h.n AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n_hours AS DOUBLE))
          / sqrt((CAST(n_hours AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 / (CAST(n_hours AS DOUBLE) * (CAST(n_hours AS DOUBLE) - 1.0)))) AS zscore
  FROM hourly h JOIN stats s ON h.event_type = s.event_type
  WHERE n_hours > 1
)
SELECT event_type, hour, CAST(n AS BIGINT) AS n, {R("zscore", 4)} AS zscore
FROM z
WHERE abs(zscore) >= 2.0
ORDER BY event_type, hour
""",
)
def events_hourly_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00:00").alias("hour"),
    ).agg(F.count(F.lit(1)).alias("n"))
    stats = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("n").cast("long").alias("sx"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("sxx"),
    )
    nh = F.col("n_hours").cast("double")
    sxd = F.col("sx").cast("double")
    sxxd = F.col("sxx").cast("double")
    stddev = F.sqrt((nh * sxxd - sxd * sxd) / (nh * (nh - F.lit(1.0))))
    z = (
        hourly.join(F.broadcast(stats.filter(F.col("n_hours") > 1)), "event_type")
        .withColumn(
            "zscore", (F.col("n").cast("double") - sxd / nh) / stddev
        )
    )
    return (
        z.filter(F.abs(F.col("zscore")) >= 2.0)
        .select(
            "event_type", "hour", F.col("n").cast("long").alias("n"),
            pround("zscore", 4).alias("zscore"),
        )
        .orderBy("event_type", "hour")
    )


# ---------------------------------------------------------------------------
# DAU / WAU engagement: daily actives, the trailing-7-day actives for
# the same day, and the DAU/WAU stickiness ratio — exact distinct
# counts, integer-ratio double.
# ---------------------------------------------------------------------------
@query(
    "events_dau_wau",
    oracle=f"""
WITH du AS (
  SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS d,
         CAST(floor(epoch(ts) / 86400.0) AS BIGINT) AS day_num,
         user_id
  FROM events
), dau AS (
  SELECT d, day_num, count(*) AS dau FROM du GROUP BY d, day_num
), wau AS (
  SELECT a.d, a.day_num, count(DISTINCT b.user_id) AS wau
  FROM dau a JOIN du b ON b.day_num BETWEEN a.day_num - 6 AND a.day_num
  GROUP BY a.d, a.day_num
)
SELECT dau.d, CAST(dau.dau AS BIGINT) AS dau, CAST(wau.wau AS BIGINT) AS wau,
       {R("(CAST(dau.dau AS DOUBLE) / CAST(wau.wau AS DOUBLE))", 4)} AS stickiness
FROM dau JOIN wau ON dau.d = wau.d
ORDER BY dau.d
""",
)
def events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    du = ev.select(
        F.date_format("ts", "yyyy-MM-dd").alias("d"),
        F.floor(F.unix_timestamp("ts") / F.lit(86400.0)).cast("long").alias("day_num"),
        "user_id",
    ).distinct()
    dau = du.groupBy("d", "day_num").agg(F.count(F.lit(1)).alias("dau"))
    # trailing-7d distinct: range join day buckets (7× fanout, bounded)
    b = du.select(F.col("day_num").alias("bday"), F.col("user_id").alias("buser"))
    wau = (
        dau.select("d", "day_num")
        .join(
            b,
            (F.col("bday") >= F.col("day_num") - 6)
            & (F.col("bday") <= F.col("day_num")),
        )
        .groupBy("d", "day_num")
        .agg(F.countDistinct("buser").alias("wau"))
    )
    return (
        dau.join(wau, ["d", "day_num"])
        .select(
            "d",
            F.col("dau").cast("long").alias("dau"),
            F.col("wau").cast("long").alias("wau"),
            pround(
                F.col("dau").cast("double") / F.col("wau").cast("double"), 4
            ).alias("stickiness"),
        )
        .orderBy("d")
    )


# ---------------------------------------------------------------------------
# Event-sequence analytics (round 5): the Markov transition matrix and
# inter-arrival statistics a behavior-modeling (or session-LM training
# data) pipeline computes over the event stream. Both are one window
# pass partitioned by user_id — the shuffle key is the natural entity
# key, partitions are per-user and small, no global ordering anywhere.
# The window order is total (ts, event_id) so lead/lag are
# deterministic on both engines.
# ---------------------------------------------------------------------------
@query(
    "events_user_transitions",
    oracle=f"""
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM events
), pairs AS (
  SELECT event_type AS from_type, next_type AS to_type,
         CAST(count(*) AS BIGINT) AS n_trans
  FROM seq WHERE next_type IS NOT NULL
  GROUP BY event_type, next_type
), tot AS (
  SELECT from_type, CAST(sum(n_trans) AS BIGINT) AS from_total
  FROM pairs GROUP BY from_type
)
SELECT p.from_type, p.to_type, p.n_trans,
       {R("(CAST(p.n_trans AS DOUBLE) / CAST(t.from_total AS DOUBLE))", 6)} AS prob
FROM pairs p JOIN tot t ON p.from_type = t.from_type
ORDER BY p.from_type, p.to_type
""",
)
def events_user_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts/probabilities between
    consecutive event types within each user's timeline."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_trans"))
    )
    tot = pairs.groupBy("from_type").agg(
        F.sum("n_trans").cast("long").alias("from_total")
    )
    return (
        pairs.join(F.broadcast(tot), "from_type")
        .select(
            "from_type",
            "to_type",
            "n_trans",
            pround(
                F.col("n_trans").cast("double") / F.col("from_total").cast("double"),
                6,
            ).alias("prob"),
        )
        .orderBy("from_type", "to_type")
    )


@query(
    "events_interarrival_stats",
    oracle=f"""
WITH seq AS (
  SELECT event_type, epoch_us(ts) AS us,
         lag(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
  FROM events
), gaps AS (
  SELECT event_type, us - prev_us AS gap_us
  FROM seq WHERE prev_us IS NOT NULL
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_gaps,
       CAST(min(gap_us) AS BIGINT) AS min_gap_us,
       CAST(max(gap_us) AS BIGINT) AS max_gap_us,
       {R("(CAST(sum(gap_us) AS DOUBLE) / 1000000.0 / CAST(count(*) AS DOUBLE))", 6)}
         AS avg_gap_s
FROM gaps GROUP BY event_type ORDER BY event_type
""",
)
def events_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival gap stats between consecutive events of each user,
    grouped by the type of the LATER event. The average comes from an
    exact int64 microsecond sum — no double accumulation."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gaps = (
        ev.withColumn("gap_us", us - F.lag(us).over(w))
        .filter(F.col("gap_us").isNotNull())
    )
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_gaps"),
            F.min("gap_us").cast("long").alias("min_gap_us"),
            F.max("gap_us").cast("long").alias("max_gap_us"),
            pround(
                F.sum("gap_us").cast("double")
                / F.lit(1e6)
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("avg_gap_s"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Per-type linear trend (round 5): OLS slope/intercept of daily event
# counts against the day index — closed-form regression from integer
# moment sums (n, Σx, Σy, Σxy, Σx²), which stay exact in int64, so
# no Pandas UDF and no accumulation-order drift: the one double
# division happens at the end on both engines. The moment aggregate is
# a single map-side-combined shuffle on event_type; x is the day
# offset from the global min date (a broadcast scalar).
# ---------------------------------------------------------------------------
@query(
    "events_daily_trend",
    oracle=f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY event_type, CAST(ts AS DATE)
), x0 AS (
  SELECT min(d) AS d0 FROM daily
), m AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(datediff('day', x0.d0, d)) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(datediff('day', x0.d0, d) * y) AS BIGINT) AS sxy,
         CAST(sum(datediff('day', x0.d0, d) * datediff('day', x0.d0, d)) AS BIGINT) AS sxx
  FROM daily CROSS JOIN x0 GROUP BY event_type
)
SELECT event_type, n,
       {R("(CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE))", 6)}
         AS slope,
       {R("(CAST(sy AS DOUBLE) - (CAST(n * sxy - sx * sy AS DOUBLE)"
          " / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))"
          " / CAST(n AS DOUBLE)", 6)} AS intercept
FROM m ORDER BY event_type
""",
)
def events_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-count trend per event type: is each event stream growing
    or shrinking, and from what base — the drift monitor a pipeline
    alerts on."""
    daily = (
        _t(spark, sf_dir, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    x0 = daily.agg(F.min("d").alias("d0"))
    x = F.datediff(F.col("d"), F.col("d0")).cast("long")
    m = (
        daily.crossJoin(F.broadcast(x0))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(x).cast("long").alias("sx"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(x * F.col("y")).cast("long").alias("sxy"),
            F.sum(x * x).cast("long").alias("sxx"),
        )
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    ) / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    return m.select(
        "event_type",
        "n",
        pround(slope, 6).alias("slope"),
        pround(
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / F.col("n").cast("double"),
            6,
        ).alias("intercept"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Trailing 7-day rolling Pearson correlation between the daily counts
# of two event types (purchase vs view) — the co-movement monitor of a
# metrics pipeline. The window runs over the POST-AGGREGATE daily
# series (calendar-bounded, ~hundreds of rows at any SF — same
# precedent as window_running_revenue), with exact integer moment sums
# inside the frame; RANGE over a day ordinal so calendar gaps still
# bound the frame to 7 real days.
# ---------------------------------------------------------------------------


@query(
    "events_moving_corr_7d",
    oracle=f"""
WITH daily AS (
  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
         CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT)
           AS day_no,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
           AS p,
         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS v
  FROM events GROUP BY 1, 2
), win AS (
  SELECT day, day_no, p, v,
         CAST(count(*) OVER w AS BIGINT) AS k,
         CAST(sum(p) OVER w AS BIGINT) AS sp,
         CAST(sum(v) OVER w AS BIGINT) AS sv,
         CAST(sum(p * p) OVER w AS BIGINT) AS spp,
         CAST(sum(v * v) OVER w AS BIGINT) AS svv,
         CAST(sum(p * v) OVER w AS BIGINT) AS spv
  FROM daily
  WINDOW w AS (ORDER BY day_no RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT day, k AS n_days,
       CASE WHEN (k * spp - sp * sp) > 0 AND (k * svv - sv * sv) > 0 THEN
         {R("((CAST(k AS DOUBLE) * CAST(spv AS DOUBLE)"
            "   - CAST(sp AS DOUBLE) * CAST(sv AS DOUBLE))"
            " / (sqrt(CAST(k AS DOUBLE) * CAST(spp AS DOUBLE)"
            "         - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE))"
            "    * sqrt(CAST(k AS DOUBLE) * CAST(svv AS DOUBLE)"
            "           - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))))", 6)}
       END AS corr_pv
FROM win
ORDER BY day
""",
)
def events_moving_corr_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = (
        events.groupBy(
            F.col("ts").cast("date").cast("string").alias("day"),
            F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
            .cast("long")
            .alias("day_no"),
        )
        .agg(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("p"),
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
            .cast("long")
            .alias("v"),
        )
    )
    w = W.orderBy("day_no").rangeBetween(-6, 0)
    win = daily.select(
        "day",
        F.count(F.lit(1)).over(w).cast("long").alias("k"),
        F.sum("p").over(w).cast("long").alias("sp"),
        F.sum("v").over(w).cast("long").alias("sv"),
        F.sum(F.col("p") * F.col("p")).over(w).cast("long").alias("spp"),
        F.sum(F.col("v") * F.col("v")).over(w).cast("long").alias("svv"),
        F.sum(F.col("p") * F.col("v")).over(w).cast("long").alias("spv"),
    )
    k, sp, sv = F.col("k"), F.col("sp"), F.col("sv")
    spp, svv, spv = F.col("spp"), F.col("svv"), F.col("spv")
    kd = k.cast("double")
    num = kd * spv.cast("double") - sp.cast("double") * sv.cast("double")
    den = F.sqrt(kd * spp.cast("double") - sp.cast("double") * sp.cast("double")) * F.sqrt(
        kd * svv.cast("double") - sv.cast("double") * sv.cast("double")
    )
    return win.select(
        "day",
        k.alias("n_days"),
        F.when(
            ((k * spp - sp * sp) > 0) & ((k * svv - sv * sv) > 0),
            pround(num / den, 6),
        ).alias("corr_pv"),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# Strict sequential pattern match (MATCH_RECOGNIZE shape): per user,
# find view → cart → purchase as three CONSECUTIVE events completing
# within 30 minutes. lead() over per-user event order — partitions are
# bounded by per-user activity, never global. Time deltas in integer
# microseconds (epoch_us ↔ unix_micros with the NTZ-safe cast).
# ---------------------------------------------------------------------------


@query(
    "events_strict_funnel_pattern",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type, epoch_us(ts) AS us,
         lead(event_type, 1) OVER w AS t1,
         lead(event_type, 2) OVER w AS t2,
         lead(epoch_us(ts), 2) OVER w AS us2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_strict_funnels
FROM seq
WHERE event_type = 'view' AND t1 = 'cart' AND t2 = 'purchase'
  AND us2 - us <= 1800 * 1000000
GROUP BY user_id
ORDER BY user_id
""",
)
def events_strict_funnel_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        us.alias("us"),
        F.lead("event_type", 1).over(w).alias("t1"),
        F.lead("event_type", 2).over(w).alias("t2"),
        F.lead(us, 2).over(w).alias("us2"),
    )
    return (
        seq.filter(
            (F.col("event_type") == "view")
            & (F.col("t1") == "cart")
            & (F.col("t2") == "purchase")
            & (F.col("us2") - F.col("us") <= 1800 * 1000000)
        )
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_strict_funnels"))
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Funnel time-to-convert percentiles per signup-week cohort: for each
# user, first 'view' and the first 'purchase' at-or-after it; the gap
# distribution (exact integer microseconds, percentile_disc so the
# reported values are actual data points) grouped by the week of the
# first view. Both aggregations pre-reduce per user before the join,
# and the percentile sort runs inside each cohort-week group — never
# one global ordered reduction.
# ---------------------------------------------------------------------------


@query(
    "funnel_time_to_convert",
    oracle="""
WITH fv AS (
  SELECT user_id, min(epoch_us(ts)) AS fv_us
  FROM events WHERE event_type = 'view' GROUP BY user_id
), fp AS (
  SELECT e.user_id, min(epoch_us(e.ts)) AS fp_us
  FROM events e JOIN fv ON e.user_id = fv.user_id
  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= fv.fv_us
  GROUP BY e.user_id
), conv AS (
  SELECT CAST(floor(floor(fv.fv_us / 86400000000.0) / 7.0) AS BIGINT) AS cohort_week,
         fp.fp_us - fv.fv_us AS delta_us
  FROM fv JOIN fp ON fv.user_id = fp.user_id
)
SELECT cohort_week,
       CAST(count(*) AS BIGINT) AS n_converted,
       CAST(quantile_disc(delta_us, 0.25) AS BIGINT) AS p25_us,
       CAST(quantile_disc(delta_us, 0.50) AS BIGINT) AS p50_us,
       CAST(quantile_disc(delta_us, 0.75) AS BIGINT) AS p75_us
FROM conv
GROUP BY cohort_week
ORDER BY cohort_week
""",
)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    fv = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(us).alias("fv_us"))
    )
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", us.alias("p_us"))
        .join(fv, "user_id")
        .filter(F.col("p_us") >= F.col("fv_us"))
        .groupBy("user_id")
        .agg(F.min("p_us").alias("fp_us"))
    )
    conv = fv.join(fp, "user_id").select(
        F.floor(F.floor(F.col("fv_us") / F.lit(86400000000.0)) / F.lit(7.0))
        .cast("long")
        .alias("cohort_week"),
        (F.col("fp_us") - F.col("fv_us")).alias("delta_us"),
    )
    return (
        conv.groupBy("cohort_week")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_converted"),
            F.expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY delta_us)")
            .cast("long")
            .alias("p25_us"),
            F.expr("percentile_disc(0.50) WITHIN GROUP (ORDER BY delta_us)")
            .cast("long")
            .alias("p50_us"),
            F.expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY delta_us)")
            .cast("long")
            .alias("p75_us"),
        )
        .orderBy("cohort_week")
    )


# ---------------------------------------------------------------------------
# Robust anomaly detection on daily event counts: per-type median and
# MAD (median absolute deviation) via percentile_disc — both land on
# ACTUAL integer counts, so every comparison (|n − med| > 3·MAD) is
# exact integer arithmetic, immune to the mean/σ masking that a z-score
# suffers when the series contains the very spikes being hunted.
# The percentile sorts run per event type over the calendar-bounded
# daily series — bounded groups, no global ordered reduction.
# ---------------------------------------------------------------------------


@query(
    "events_daily_mad_anomalies",
    oracle="""
WITH daily AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 86400.0) AS BIGINT) AS day_num,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), med AS (
  SELECT event_type, CAST(quantile_disc(n, 0.5) AS BIGINT) AS med
  FROM daily GROUP BY event_type
), dev AS (
  SELECT d.event_type, abs(d.n - m.med) AS adev, m.med
  FROM daily d JOIN med m ON d.event_type = m.event_type
), mad AS (
  SELECT event_type, CAST(quantile_disc(adev, 0.5) AS BIGINT) AS mad
  FROM dev GROUP BY event_type
)
SELECT d.event_type, m.med, a.mad,
       CAST(count(*) AS BIGINT) AS n_days,
       CAST(sum(CASE WHEN abs(d.n - m.med) > 3 * a.mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_anomalies
FROM daily d
JOIN med m ON d.event_type = m.event_type
JOIN mad a ON d.event_type = a.event_type
GROUP BY d.event_type, m.med, a.mad
ORDER BY d.event_type
""",
)
def events_daily_mad_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "event_type",
            F.floor(F.unix_timestamp("ts") / F.lit(86400.0)).cast("long").alias("day_num"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    med = daily.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n)")
        .cast("long")
        .alias("med")
    )
    dev = daily.join(F.broadcast(med), "event_type").select(
        "event_type", "n", "med", F.abs(F.col("n") - F.col("med")).alias("adev")
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY adev)")
        .cast("long")
        .alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.sum(F.when(F.col("adev") > 3 * F.col("mad"), 1).otherwise(0))
            .cast("long")
            .alias("n_anomalies"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# OHLC bars: resample the event stream to hourly open/high/low/close
# per event type — the canonical timeseries-downsample operator.
# Spark side: ONE aggregation with min_by/max_by over a (ts, event_id)
# struct key — map-side partial agg, no window, no second shuffle; the
# struct key makes first/last deterministic even under equal
# timestamps. The DuckDB oracle proves the same result via the
# row_number formulation (its min_by lacks composite keys).
# ---------------------------------------------------------------------------


@query(
    "events_ohlc_hourly",
    oracle="""
WITH e AS (
  SELECT event_type, date_trunc('hour', ts) AS hour_start, value,
         row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                            ORDER BY ts, event_id) AS rn_a,
         row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events
)
SELECT event_type, hour_start,
       max(CASE WHEN rn_a = 1 THEN value END) AS open,
       max(value) AS high,
       min(value) AS low,
       max(CASE WHEN rn_d = 1 THEN value END) AS close,
       CAST(count(*) AS BIGINT) AS n_events
FROM e
GROUP BY event_type, hour_start
ORDER BY event_type, hour_start
""",
)
def events_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        ev.select(
            "event_type",
            F.date_trunc("hour", "ts").alias("hour_start"),
            "value",
            key.alias("k"),
        )
        .groupBy("event_type", "hour_start")
        .agg(
            F.expr("min_by(value, k)").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.expr("max_by(value, k)").alias("close"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
        .orderBy("event_type", "hour_start")
    )


# ---------------------------------------------------------------------------
# Session path mining: the 20 most common event-type journeys per
# 30-minute-gap session ("view>click>purchase"). Reuses the
# sessionize operator; the path string is assembled JVM-side with
# array_sort(collect_list(struct)) + transform — per-session arrays
# are bounded by session length, and the final top-20 ranks the small
# (distinct paths) aggregate, not the fact table.
# ---------------------------------------------------------------------------


@query(
    "session_top_paths",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800 * 1000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT *, sum(new_session) OVER (
      PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
), paths AS (
  SELECT user_id, session_id,
         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM sessions GROUP BY user_id, session_id
)
SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
FROM paths GROUP BY path
ORDER BY n_sessions DESC, path
LIMIT 20
""",
)
def session_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    sess = sessionize(ev, key="user_id", ts="ts", gap_seconds=1800, tiebreak=["event_id"])
    paths = sess.groupBy("user_id", "session_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
                lambda x: x["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Cohort survival curve: fraction of users still active k weeks after
# their first event (discrete Kaplan-Meier with no censoring — every
# user's horizon is their own last event). One pass computes each
# user's max week offset (datediff of min/max day — offsets are
# monotone in event date, so the extremes suffice); the reverse
# cumulative count runs over the tiny offset distribution (≤ #weeks
# rows), never over users. Rates are exact-integer ratios rounded with
# the portable twins.
# ---------------------------------------------------------------------------


@query(
    "user_weekly_survival",
    oracle=f"""
WITH per_user AS (
  SELECT user_id,
         CAST(floor(date_diff('day', min(CAST(ts AS DATE)), max(CAST(ts AS DATE))) / 7) AS BIGINT) AS max_off
  FROM events GROUP BY user_id
), dist AS (
  SELECT max_off, count(*) AS n_users FROM per_user GROUP BY max_off
), spine AS (
  SELECT unnest(generate_series(0, (SELECT max(max_off) FROM dist))) AS week_offset
)
SELECT s.week_offset,
       CAST(sum(d.n_users) FILTER (WHERE d.max_off >= s.week_offset) AS BIGINT) AS surviving,
       {R("CAST(sum(d.n_users) FILTER (WHERE d.max_off >= s.week_offset) AS DOUBLE)"
          " / (SELECT count(*) FROM per_user)", 6)} AS survival_rate
FROM spine s CROSS JOIN dist d
GROUP BY s.week_offset
ORDER BY s.week_offset
""",
)
def user_weekly_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.floor(
            F.datediff(F.max(F.to_date("ts")), F.min(F.to_date("ts"))) / 7
        ).alias("max_off")
    )
    dist = per_user.groupBy("max_off").agg(F.count(F.lit(1)).alias("n_users"))
    spine = dist.agg(
        F.max("max_off").alias("mx"), F.sum("n_users").alias("total")
    ).select(F.explode(F.sequence(F.lit(0).cast("long"), "mx")).alias("week_offset"), "total")
    # reverse cumulative count over the ≤#weeks-row distribution — a
    # bounded-aggregate window, per the house two-pass pattern
    joined = spine.join(dist, spine.week_offset == dist.max_off, "left").select(
        "week_offset", "total", F.coalesce("n_users", F.lit(0)).alias("n_users")
    )
    w = W.orderBy(F.desc("week_offset")).rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        joined.withColumn("surviving", F.sum("n_users").over(w).cast("long"))
        .select(
            "week_offset",
            "surviving",
            pround(F.col("surviving").cast("double") / F.col("total"), 6).alias(
                "survival_rate"
            ),
        )
        .orderBy("week_offset")
    )


# ---------------------------------------------------------------------------
# EWMA smoothing (alpha = 0.5) of the daily event count per type,
# emitted as a full series. The recurrence ewma_t = 0.5·ewma_{t-1} +
# 0.5·x_t is inherently sequential, so both engines run the SAME fold
# in the SAME order: Spark as an `aggregate` HOF over the
# array_sort'ed per-type daily series (bounded: one element per
# calendar day), DuckDB as a recursive CTE stepping day-by-day.
# Multiplying by 0.5 is exact in IEEE-754 (exponent decrement) and the
# single addition per step rounds identically in both engines, so the
# unrounded doubles are bit-identical; pround(6) is belt-and-braces.
# Per-type state never touches the driver and the fact table is
# aggregated before any per-day work.
# ---------------------------------------------------------------------------

_EWMA_SPARK = """
aggregate(
  a,
  named_struct('v', CAST(0.0 AS DOUBLE),
               'out', CAST(array() AS ARRAY<STRUCT<day: DATE, n: BIGINT, e: DOUBLE>>)),
  (acc, x) -> named_struct(
      'v', CASE WHEN size(acc.out) = 0 THEN CAST(x.n AS DOUBLE)
                ELSE acc.v * 0.5 + CAST(x.n AS DOUBLE) * 0.5 END,
      'out', array_append(acc.out, named_struct(
          'day', x.day, 'n', x.n,
          'e', CASE WHEN size(acc.out) = 0 THEN CAST(x.n AS DOUBLE)
                    ELSE acc.v * 0.5 + CAST(x.n AS DOUBLE) * 0.5 END))),
  acc -> acc.out)
"""


@query(
    "events_ewma_daily",
    oracle=f"""
WITH RECURSIVE daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
  FROM events GROUP BY event_type, CAST(ts AS DATE)
), idx AS (
  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
  FROM daily
), ew AS (
  SELECT event_type, day, n, rn, CAST(n AS DOUBLE) AS e
  FROM idx WHERE rn = 1
  UNION ALL
  SELECT i.event_type, i.day, i.n, i.rn, w.e * 0.5 + CAST(i.n AS DOUBLE) * 0.5
  FROM ew w JOIN idx i ON i.event_type = w.event_type AND i.rn = w.rn + 1
)
SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
       CAST(n AS BIGINT) AS daily_n, {R("e", 6)} AS ewma
FROM ew
ORDER BY event_type, day
""",
)
def events_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    per_type = daily.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("day", "n"))).alias("a")
    )
    return (
        per_type.select("event_type", F.explode(F.expr(_EWMA_SPARK)).alias("s"))
        .select(
            "event_type",
            F.date_format(F.col("s.day"), "yyyy-MM-dd").alias("day"),
            F.col("s.n").alias("daily_n"),
            pround(F.col("s.e"), 6).alias("ewma"),
        )
        .orderBy("event_type", "day")
    )


# ---------------------------------------------------------------------------
# Alerting state machine over the hourly error rate: alert iff
# errors/total > 25%, emitted ONLY at state transitions (enter/exit).
# The threshold test is the exact integer comparison 4·err > total (no
# float compare at the boundary); lag() runs over the bounded hourly
# aggregate (one row per hour), never the event stream.
# ---------------------------------------------------------------------------


@query(
    "events_error_alert_transitions",
    oracle=f"""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS hr,
         sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS err,
         count(*) AS tot
  FROM events GROUP BY date_trunc('hour', ts)
), flagged AS (
  SELECT hr, err, tot, (4 * err > tot) AS alert,
         lag(4 * err > tot) OVER (ORDER BY hr) AS prev_alert
  FROM hourly
)
SELECT strftime(hr, '%Y-%m-%d %H:%M:%S') AS hour_start,
       CAST(err AS BIGINT) AS err, CAST(tot AS BIGINT) AS tot,
       {R("CAST(err AS DOUBLE) / tot", 6)} AS error_rate,
       CASE WHEN alert THEN 'enter' ELSE 'exit' END AS transition
FROM flagged
WHERE (prev_alert IS NULL AND alert) OR alert <> prev_alert
ORDER BY hour_start
""",
)
def events_error_alert_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("hr")).agg(
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("err"),
        F.count(F.lit(1)).alias("tot"),
    )
    alert = 4 * F.col("err") > F.col("tot")
    flagged = hourly.select(
        "hr", "err", "tot", alert.alias("alert")
    ).withColumn("prev_alert", F.lag("alert").over(W.orderBy("hr")))
    return (
        flagged.filter(
            (F.col("prev_alert").isNull() & F.col("alert"))
            | (F.col("alert") != F.col("prev_alert"))
        )
        .select(
            F.date_format("hr", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            F.col("err").cast("long").alias("err"),
            F.col("tot").cast("long").alias("tot"),
            pround(F.col("err").cast("double") / F.col("tot"), 6).alias("error_rate"),
            F.when(F.col("alert"), "enter").otherwise("exit").alias("transition"),
        )
        .orderBy("hour_start")
    )


# ---------------------------------------------------------------------------
# CUSUM drift detection on the daily event count — the sequential
# change-point statistic streaming monitors run. Deviations are
# mean-centered WITHOUT division by scaling through n: dev_t = n·x_t −
# total (exact integers), and the two one-sided statistics fold as
#   S⁺_t = max(0, S⁺_{t−1} + dev_t),  S⁻_t = max(0, S⁻_{t−1} − dev_t).
# Like events_ewma_daily, both engines run the SAME fold in the SAME
# order — Spark as an `aggregate` HOF over the array_sort'ed daily
# series (bounded: one element per calendar day), DuckDB as a
# recursive CTE — and the state is all-integer, so results are exact,
# not merely bit-identical-by-luck. Drift flags when either side
# exceeds 2·total (a sustained shift of ~2 mean-days, scale-free).
# ---------------------------------------------------------------------------

_CUSUM_SPARK = """
aggregate(
  a,
  named_struct('u', CAST(0 AS BIGINT), 'd', CAST(0 AS BIGINT),
               'out', CAST(array() AS ARRAY<STRUCT<day: DATE, x: BIGINT, u: BIGINT, d: BIGINT>>)),
  (acc, e) -> named_struct(
      'u', greatest(CAST(0 AS BIGINT), acc.u + (n * e.x - t)),
      'd', greatest(CAST(0 AS BIGINT), acc.d - (n * e.x - t)),
      'out', array_append(acc.out, named_struct(
          'day', e.day, 'x', e.x,
          'u', greatest(CAST(0 AS BIGINT), acc.u + (n * e.x - t)),
          'd', greatest(CAST(0 AS BIGINT), acc.d - (n * e.x - t))))),
  acc -> acc.out)
"""


@query(
    "events_cusum_drift",
    oracle="""
WITH RECURSIVE daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY CAST(ts AS DATE)
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS t FROM daily
), idx AS (
  SELECT day, x, row_number() OVER (ORDER BY day) AS rn FROM daily
), c AS (
  SELECT rn, day, x,
         greatest(CAST(0 AS BIGINT), n * x - t) AS u,
         greatest(CAST(0 AS BIGINT), t - n * x) AS d
  FROM idx, tot WHERE rn = 1
  UNION ALL
  SELECT i.rn, i.day, i.x,
         greatest(CAST(0 AS BIGINT), c.u + (tot.n * i.x - tot.t)),
         greatest(CAST(0 AS BIGINT), c.d - (tot.n * i.x - tot.t))
  FROM c JOIN idx i ON i.rn = c.rn + 1, tot
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       CAST(x AS BIGINT) AS daily_n,
       CAST(u AS BIGINT) AS cusum_up,
       CAST(d AS BIGINT) AS cusum_down,
       (u > 2 * (SELECT t FROM tot) OR d > 2 * (SELECT t FROM tot)) AS drift_flag
FROM c
ORDER BY day
""",
)
def events_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    packed = daily.agg(
        F.array_sort(F.collect_list(F.struct("day", "x"))).alias("a"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("t"),
    )
    return (
        packed.select(
            F.explode(F.expr(_CUSUM_SPARK)).alias("s"), F.col("t").alias("t")
        )
        .select(
            F.date_format(F.col("s.day"), "yyyy-MM-dd").alias("day"),
            F.col("s.x").alias("daily_n"),
            F.col("s.u").alias("cusum_up"),
            F.col("s.d").alias("cusum_down"),
            ((F.col("s.u") > 2 * F.col("t")) | (F.col("s.d") > 2 * F.col("t"))).alias(
                "drift_flag"
            ),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Daily-count autocorrelation at lags 1/2/7/14 — the seasonality
# detector run before fitting any periodic model. Pairs align by
# CALENDAR join (day + lag = day', an equi-join on the bounded daily
# aggregate), not row offsets, so missing days can't shift the lag.
# Pearson r from exact int64 moment sums; the zero-variance guard is
# mirrored in both engines (Spark NULLs, DuckDB would raise/Inf).
# ---------------------------------------------------------------------------


@query(
    "events_autocorr_lags",
    oracle=f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY CAST(ts AS DATE)
), lags AS (
  SELECT unnest([1, 2, 7, 14]) AS lag
), pairs AS (
  SELECT l.lag, d1.x AS x, d2.x AS y
  FROM lags l
  JOIN daily d1 ON true
  JOIN daily d2 ON d2.day = d1.day + CAST(l.lag AS INTEGER)
), mo AS (
  SELECT lag, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
  FROM pairs GROUP BY lag
)
SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_pairs,
       CASE WHEN (n * sxx - sx * sx) = 0 OR (n * syy - sy * sy) = 0 THEN NULL
            ELSE {R("CAST(n * sxy - sx * sy AS DOUBLE) / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))", 6)}
       END AS autocorr
FROM mo
ORDER BY lag
""",
)
def events_autocorr_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    lags = ev.sparkSession.range(1).select(
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(7), F.lit(14))).alias("lag")
    )
    d1 = daily.select(F.col("day").alias("day1"), F.col("x").alias("x"))
    d2 = daily.select(F.col("day").alias("day2"), F.col("x").alias("y"))
    pairs = (
        F.broadcast(lags)
        .crossJoin(d1)
        .join(d2, F.col("day2") == F.date_add(F.col("day1"), F.col("lag").cast("int")))
    )
    mo = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return mo.select(
        F.col("lag").cast("long").alias("lag"),
        F.col("n").cast("long").alias("n_pairs"),
        F.when((vx == 0) | (vy == 0), F.lit(None).cast("double"))
        .otherwise(
            pround(
                cov.cast("double") / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double"))),
                6,
            )
        )
        .alias("autocorr"),
    ).orderBy("lag")


# ---------------------------------------------------------------------------
# Trailing-7-day active users per day ("rolling WAU") — a rolling
# COUNT DISTINCT, which no window frame can compute at scale.
# Scale-correct rewrite: each distinct (user, day) pair fans out to
# the 7 calendar days it keeps the user active for (bounded 7×
# explode of the deduplicated pair set — linear, never the raw event
# stream), then an exact two-stage distinct count per day; ghost days
# beyond the observed calendar are trimmed by joining the day spine.
# Stickiness = DAU / rolling-7d actives, exact-integer ratio.
# ---------------------------------------------------------------------------


@query(
    "events_rolling_7d_active_users",
    oracle=f"""
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), spine AS (
  SELECT DISTINCT day FROM ud
), fan AS (
  SELECT u.user_id, u.day + CAST(k AS INTEGER) AS tday
  FROM ud u, unnest(range(0, 7)) AS t(k)
), act AS (
  SELECT f.tday AS day, CAST(count(DISTINCT f.user_id) AS BIGINT) AS active_7d
  FROM fan f JOIN spine s ON f.tday = s.day
  GROUP BY f.tday
), dau AS (
  SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY day
)
SELECT strftime(a.day, '%Y-%m-%d') AS day, d.dau, a.active_7d,
       {R("CAST(d.dau AS DOUBLE) / CAST(a.active_7d AS DOUBLE)", 4)} AS stickiness
FROM act a JOIN dau d ON a.day = d.day
ORDER BY day
""",
)
def events_rolling_7d_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    spine = ud.select("day").distinct()
    fan = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.date_add("day", 6))
        ).alias("tday"),
    )
    act = (
        fan.join(spine.withColumnRenamed("day", "tday"), "tday")
        .groupBy("tday")
        .agg(F.countDistinct("user_id").cast("long").alias("active_7d"))
    )
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).cast("long").alias("dau"))
    return (
        act.join(dau, act.tday == dau.day)
        .select(
            F.date_format("tday", "yyyy-MM-dd").alias("day"),
            "dau",
            "active_7d",
            pround(
                F.col("dau").cast("double") / F.col("active_7d").cast("double"), 4
            ).alias("stickiness"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Burstiness census: Fano factor (variance/mean of daily counts) and
# the Goh–Barabási burstiness index B = (σ−μ)/(σ+μ) per event type —
# the "is this traffic Poisson?" monitor. All moments are exact
# integer sums over the bounded daily aggregate; Fano is a single
# exact-ratio division ((nΣx² − (Σx)²) / (n·Σx)); σ enters only
# through one sqrt of an identical double.
# ---------------------------------------------------------------------------


@query(
    "events_burstiness_fano",
    oracle=f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), m AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(CAST(n AS HUGEINT)) AS HUGEINT) AS s,
         CAST(sum(CAST(n AS HUGEINT) * n) AS HUGEINT) AS s2
  FROM daily GROUP BY event_type
)
SELECT event_type, n_days,
       {R("CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE)", 4)} AS mean_daily,
       {R("CAST(n_days * s2 - s * s AS DOUBLE) / (CAST(n_days AS DOUBLE) * CAST(s AS DOUBLE))", 6)} AS fano,
       {R("(sqrt(CAST(n_days * s2 - s * s AS DOUBLE)) / CAST(n_days AS DOUBLE)"
          " - CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE))"
          " / (sqrt(CAST(n_days * s2 - s * s AS DOUBLE)) / CAST(n_days AS DOUBLE)"
          " + CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE))", 6)} AS burstiness
FROM m
ORDER BY event_type
""",
)
def events_burstiness_fano(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    m = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(F.col("n").cast(_DEC)).alias("s"),
        F.sum((F.col("n").cast(_DEC) * F.col("n").cast(_DEC))).alias("s2"),
    )
    var_num = (F.col("n_days") * F.col("s2") - F.col("s") * F.col("s")).cast("double")
    n_d = F.col("n_days").cast("double")
    s_d = F.col("s").cast("double")
    sigma = F.sqrt(var_num) / n_d
    mu = s_d / n_d
    return m.select(
        "event_type",
        "n_days",
        pround(mu, 4).alias("mean_daily"),
        pround(var_num / (n_d * s_d), 6).alias("fano"),
        pround((sigma - mu) / (sigma + mu), 6).alias("burstiness"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Event-type co-occurrence lift: for each unordered pair of event
# types, how much more often does one user do BOTH than independence
# predicts? lift = c_xy·U / (c_x·c_y) — exact integer cross products,
# one division. The pair explode is the per-user distinct-type
# self-join: bounded K² fan-out per user (K = #types), linear in
# users; type margins re-aggregate from the deduplicated (user, type)
# set, single fact scan feeds everything.
# ---------------------------------------------------------------------------


@query(
    "events_type_cooccurrence",
    oracle=f"""
WITH ut AS (
  SELECT DISTINCT user_id, event_type FROM events
), tots AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS cu FROM ut GROUP BY event_type
), u AS (
  SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM ut
), pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(count(*) AS BIGINT) AS c_both
  FROM ut a JOIN ut b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY a.event_type, b.event_type
)
SELECT p.type_a, p.type_b, p.c_both, ta.cu AS c_a, tb.cu AS c_b,
       {R("CAST(CAST(p.c_both AS HUGEINT) * u.n_users AS DOUBLE)"
          " / CAST(CAST(ta.cu AS HUGEINT) * tb.cu AS DOUBLE)", 6)} AS lift
FROM pairs p
JOIN tots ta ON p.type_a = ta.event_type
JOIN tots tb ON p.type_b = tb.event_type
CROSS JOIN u
ORDER BY p.type_a, p.type_b
""",
)
def events_type_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    tots = ut.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("cu"))
    u = ut.agg(F.countDistinct("user_id").cast("long").alias("n_users"))
    b = ut.select(F.col("user_id").alias("u2"), F.col("event_type").alias("type_b"))
    pairs = (
        ut.join(
            b,
            (F.col("user_id") == F.col("u2"))
            & (F.col("event_type") < F.col("type_b")),
        )
        .groupBy(F.col("event_type").alias("type_a"), "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("c_both"))
    )
    ta = tots.select(F.col("event_type").alias("type_a"), F.col("cu").alias("c_a"))
    tb = tots.select(F.col("event_type").alias("type_b"), F.col("cu").alias("c_b"))
    lift_num = F.col("c_both").cast(_DEC) * F.col("n_users").cast(_DEC)
    lift_den = F.col("c_a").cast(_DEC) * F.col("c_b").cast(_DEC)
    return (
        pairs.join(F.broadcast(ta), "type_a")
        .join(F.broadcast(tb), "type_b")
        .crossJoin(F.broadcast(u))
        .select(
            "type_a",
            "type_b",
            "c_both",
            "c_a",
            "c_b",
            pround(lift_num.cast("double") / lift_den.cast("double"), 6).alias("lift"),
        )
        .orderBy("type_a", "type_b")
    )


# ---------------------------------------------------------------------------
# Event-value quartile bands per event type (the under-used `value`
# column): discrete quartiles (actual stored doubles — bit-exact),
# then an exact census of which band each event falls in. One
# aggregate for the bounded quartile table (broadcast back), one
# linear pass for the census.
# ---------------------------------------------------------------------------


@query(
    "events_value_quartile_bands",
    oracle=f"""
WITH q AS (
  SELECT event_type,
         quantile_disc(value, 0.25) AS q1,
         quantile_disc(value, 0.50) AS q2,
         quantile_disc(value, 0.75) AS q3
  FROM events GROUP BY event_type
)
SELECT e.event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       {R("q.q1", 4)} AS q1, {R("q.q2", 4)} AS q2, {R("q.q3", 4)} AS q3,
       CAST(sum(CASE WHEN e.value <= q.q1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b1,
       CAST(sum(CASE WHEN e.value > q.q1 AND e.value <= q.q2 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_b2,
       CAST(sum(CASE WHEN e.value > q.q2 AND e.value <= q.q3 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_b3,
       CAST(sum(CASE WHEN e.value > q.q3 THEN 1 ELSE 0 END) AS BIGINT) AS n_b4
FROM events e JOIN q ON e.event_type = q.event_type
GROUP BY e.event_type, q.q1, q.q2, q.q3
ORDER BY e.event_type
""",
)
def events_value_quartile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    q = ev.groupBy("event_type").agg(
        F.expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY value)").alias("q1"),
        F.expr("percentile_disc(0.50) WITHIN GROUP (ORDER BY value)").alias("q2"),
        F.expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY value)").alias("q3"),
    )
    v = F.col("value")
    return (
        ev.join(F.broadcast(q), "event_type")
        .groupBy("event_type", "q1", "q2", "q3")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.when(v <= F.col("q1"), 1).otherwise(0)).cast("long").alias("n_b1"),
            F.sum(F.when((v > F.col("q1")) & (v <= F.col("q2")), 1).otherwise(0))
            .cast("long")
            .alias("n_b2"),
            F.sum(F.when((v > F.col("q2")) & (v <= F.col("q3")), 1).otherwise(0))
            .cast("long")
            .alias("n_b3"),
            F.sum(F.when(v > F.col("q3"), 1).otherwise(0)).cast("long").alias("n_b4"),
        )
        .select(
            "event_type",
            "n_events",
            pround(F.col("q1"), 4).alias("q1"),
            pround(F.col("q2"), 4).alias("q2"),
            pround(F.col("q3"), 4).alias("q3"),
            "n_b1",
            "n_b2",
            "n_b3",
            "n_b4",
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# p-chart (attribute control chart) on the daily error-event
# proportion: 3σ limits around the pooled p̄, per-day n-adjusted
# (UCL/LCL = p̄ ± 3·sqrt(p̄(1−p̄)/n)) — classic SPC over the bounded
# daily aggregate, with the pooled rates exact integer ratios and the
# flag a comparison of identical doubles.
# ---------------------------------------------------------------------------


@query(
    "events_error_pchart",
    oracle=f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
           AS errs
  FROM events GROUP BY 1
), pooled AS (
  SELECT CAST(sum(errs) AS BIGINT) AS tot_e, CAST(sum(n) AS BIGINT) AS tot_n
  FROM daily
)
SELECT strftime(d.day, '%Y-%m-%d') AS day, d.n, d.errs,
       {R("CAST(d.errs AS DOUBLE) / CAST(d.n AS DOUBLE)", 6)} AS p,
       {R("CAST(p0.tot_e AS DOUBLE) / CAST(p0.tot_n AS DOUBLE)"
          " + 3.0 * sqrt(CAST(p0.tot_e AS DOUBLE) / CAST(p0.tot_n AS DOUBLE)"
          " * (1.0 - CAST(p0.tot_e AS DOUBLE) / CAST(p0.tot_n AS DOUBLE))"
          " / CAST(d.n AS DOUBLE))", 6)} AS ucl,
       {R("CAST(p0.tot_e AS DOUBLE) / CAST(p0.tot_n AS DOUBLE)"
          " - 3.0 * sqrt(CAST(p0.tot_e AS DOUBLE) / CAST(p0.tot_n AS DOUBLE)"
          " * (1.0 - CAST(p0.tot_e AS DOUBLE) / CAST(p0.tot_n AS DOUBLE))"
          " / CAST(d.n AS DOUBLE))", 6)} AS lcl,
       CAST(CASE WHEN CAST(d.errs AS DOUBLE) / CAST(d.n AS DOUBLE)
                      > CAST(p0.tot_e AS DOUBLE) / CAST(p0.tot_n AS DOUBLE)
                        + 3.0 * sqrt(CAST(p0.tot_e AS DOUBLE) / CAST(p0.tot_n AS DOUBLE)
                          * (1.0 - CAST(p0.tot_e AS DOUBLE) / CAST(p0.tot_n AS DOUBLE))
                          / CAST(d.n AS DOUBLE))
                   OR CAST(d.errs AS DOUBLE) / CAST(d.n AS DOUBLE)
                      < CAST(p0.tot_e AS DOUBLE) / CAST(p0.tot_n AS DOUBLE)
                        - 3.0 * sqrt(CAST(p0.tot_e AS DOUBLE) / CAST(p0.tot_n AS DOUBLE)
                          * (1.0 - CAST(p0.tot_e AS DOUBLE) / CAST(p0.tot_n AS DOUBLE))
                          / CAST(d.n AS DOUBLE))
                 THEN 1 ELSE 0 END AS BIGINT) AS out_of_control
FROM daily d CROSS JOIN pooled p0
ORDER BY day
""",
)
def events_error_pchart(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("long")
        .alias("errs"),
    )
    pooled = daily.agg(
        F.sum("errs").cast("long").alias("tot_e"),
        F.sum("n").cast("long").alias("tot_n"),
    )
    p = F.col("errs").cast("double") / F.col("n").cast("double")
    pbar = F.col("tot_e").cast("double") / F.col("tot_n").cast("double")
    half = F.lit(3.0) * F.sqrt(pbar * (F.lit(1.0) - pbar) / F.col("n").cast("double"))
    ucl = pbar + half
    lcl = pbar - half
    return (
        daily.crossJoin(F.broadcast(pooled))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n",
            "errs",
            pround(p, 6).alias("p"),
            pround(ucl, 6).alias("ucl"),
            pround(lcl, 6).alias("lcl"),
            F.when((p > ucl) | (p < lcl), 1).otherwise(0).cast("long").alias(
                "out_of_control"
            ),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Hour-of-week traffic fingerprint: events bucketed by (weekday, hour)
# with volume, distinct users, error counts and a portable share ratio.
# Weekday is Monday=0..6 in BOTH engines (Spark weekday(), DuckDB
# isodow()-1). One groupBy + a broadcast 1-row total — linear.
# ---------------------------------------------------------------------------
@query(
    "events_hour_of_week_profile",
    oracle=f"""
WITH b AS (
  SELECT CAST(isodow(ts) - 1 AS BIGINT) AS weekday,
         CAST(hour(ts) AS BIGINT) AS hour_of_day,
         user_id, event_type
  FROM events
), g AS (
  SELECT weekday, hour_of_day,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_errors
  FROM b GROUP BY weekday, hour_of_day
)
SELECT weekday, hour_of_day, n_events, n_users, n_errors,
       {R("CAST(n_events AS DOUBLE) / CAST((SELECT count(*) FROM events) AS DOUBLE)", 6)}
         AS share
FROM g
ORDER BY weekday, hour_of_day
""",
)
def events_hour_of_week_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    g = (
        ev.select(
            F.expr("weekday(ts)").cast("long").alias("weekday"),
            F.hour("ts").cast("long").alias("hour_of_day"),
            "user_id",
            "event_type",
        )
        .groupBy("weekday", "hour_of_day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.count_distinct("user_id").cast("long").alias("n_users"),
            F.sum((F.col("event_type") == "error").cast("long"))
            .cast("long")
            .alias("n_errors"),
        )
    )
    total = ev.agg(F.count(F.lit(1)).cast("double").alias("total"))
    return (
        g.join(F.broadcast(total))
        .select(
            "weekday",
            "hour_of_day",
            "n_events",
            "n_users",
            "n_errors",
            pround(F.col("n_events").cast("double") / F.col("total"), 6).alias(
                "share"
            ),
        )
        .orderBy("weekday", "hour_of_day")
    )


# ---------------------------------------------------------------------------
# Weekday seasonality lift: events per weekday normalized by how many
# distinct calendar days of that weekday the data covers, vs the
# overall daily rate. The denominator discipline (per-weekday day
# counts, not 1/7 of the span) keeps partial weeks honest.
# ---------------------------------------------------------------------------
@query(
    "events_zseason_weekday_lift",
    oracle=f"""
WITH d AS (
  SELECT CAST(isodow(ts) - 1 AS BIGINT) AS weekday, CAST(ts AS DATE) AS day
  FROM events
), g AS (
  SELECT weekday,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(count(DISTINCT day) AS BIGINT) AS n_days
  FROM d GROUP BY weekday
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS all_events,
         CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS all_days
  FROM events
)
SELECT weekday, n_events, n_days,
       {R("CAST(n_events AS DOUBLE) / CAST(n_days AS DOUBLE)", 4)} AS events_per_day,
       {R("(CAST(n_events AS DOUBLE) / CAST(n_days AS DOUBLE))"
          " / (CAST(all_events AS DOUBLE) / CAST(all_days AS DOUBLE))", 6)} AS lift
FROM g CROSS JOIN tot
ORDER BY weekday
""",
)
def events_zseason_weekday_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        F.expr("weekday(ts)").cast("long").alias("weekday"),
        F.to_date("ts").alias("day"),
    )
    g = d.groupBy("weekday").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.count_distinct("day").cast("long").alias("n_days"),
    )
    tot = ev.agg(
        F.count(F.lit(1)).cast("long").alias("all_events"),
        F.count_distinct(F.to_date("ts")).cast("long").alias("all_days"),
    )
    per_day = F.col("n_events").cast("double") / F.col("n_days").cast("double")
    overall = F.col("all_events").cast("double") / F.col("all_days").cast("double")
    return (
        g.join(F.broadcast(tot))
        .select(
            "weekday",
            "n_events",
            "n_days",
            pround(per_day, 4).alias("events_per_day"),
            pround(per_day / overall, 6).alias("lift"),
        )
        .orderBy("weekday")
    )


# ---------------------------------------------------------------------------
# Event-type trigram mining: the 25 most frequent length-3 behavioural
# patterns across per-user event sequences (ordered by ts with
# event_id tie-break). Pure window lead() — no explode, no self-join;
# at scale the window keys on user_id so it shuffles once.
# ---------------------------------------------------------------------------
@query(
    "event_type_trigrams",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type, 1) OVER w AS e2,
         lead(event_type, 2) OVER w AS e3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_type || '>' || e2 || '>' || e3 AS trigram,
       CAST(count(*) AS BIGINT) AS n
FROM seq WHERE e3 IS NOT NULL
GROUP BY trigram
ORDER BY n DESC, trigram
LIMIT 25
""",
)
def event_type_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    )
    return (
        seq.filter(F.col("e3").isNotNull())
        .select(F.concat_ws(">", "event_type", "e2", "e3").alias("trigram"))
        .groupBy("trigram")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.desc("n"), "trigram")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Daily bounce rate: share of 30-minute-gap sessions containing a
# single event, bucketed by session start date. Same sessionization
# construction as sessionize_events (lag + cumulative-flag windows);
# the rate is an exact count ratio.
# ---------------------------------------------------------------------------
@query(
    "events_bounce_rate_daily",
    oracle=f"""
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800 * 1000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT *, CAST(sum(new_session) OVER (
      PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM flagged
), per_session AS (
  SELECT user_id, session_id, count(*) AS n_events,
         strftime(min(ts), '%Y-%m-%d') AS day
  FROM sessions GROUP BY user_id, session_id
)
SELECT day,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounce,
       {R("CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)", 6)} AS bounce_rate
FROM per_session
GROUP BY day
ORDER BY day
""",
)
def events_bounce_rate_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.temporal import sessionize

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    sess = sessionize(ev, key="user_id", ts="ts", gap_seconds=1800, tiebreak=["event_id"])
    per = sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd").alias("day"),
    )
    return (
        per.groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_bounce"),
            pround(
                F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("bounce_rate"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# CUPED variance reduction (Deng et al. 2013) — the experimentation-
# platform adjustment that uses each user's PRE-period activity as a
# control covariate: θ = cov(X,Y)/var(X) and the adjusted metric
# Y − θ(X − X̄) has variance var(Y)·(1 − ρ²). Pre = Jan 1–15, post =
# Jan 16–30; per-user totals are exact integer cents (absent period =
# 0 — users must not drop or the covariance is biased), all moments
# exact DECIMAL/HUGEINT, θ / ρ² a fixed scalar-double sequence.
# Scale: one user rollup, one 1-row moment aggregate.
# ---------------------------------------------------------------------------
_CUPED_SPLIT = "2024-01-16"


@query(
    "events_cuped_variance_reduction",
    oracle=f"""
WITH per_user AS (
  SELECT user_id,
         CAST(sum(CASE WHEN ts < TIMESTAMP '{_CUPED_SPLIT} 00:00:00'
                  THEN {sql_cents("value")} ELSE 0 END) AS BIGINT) AS x,
         CAST(sum(CASE WHEN ts >= TIMESTAMP '{_CUPED_SPLIT} 00:00:00'
                  THEN {sql_cents("value")} ELSE 0 END) AS BIGINT) AS y
  FROM events GROUP BY user_id
), mom AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
         CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
  FROM per_user
), fit AS (
  SELECT n,
         CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS covn,
         CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS varx,
         CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vary
  FROM mom
)
SELECT n AS n_users,
       {R("covn / varx", 6)} AS theta,
       {R("100.0 * covn * covn / (varx * vary)", 4)} AS var_reduction_pct
FROM fit
""",
)
def events_cuped_variance_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    vc = cents("value")
    split = F.lit(_CUPED_SPLIT + " 00:00:00").cast("timestamp")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < split, vc).otherwise(0)).cast("long").alias("x"),
        F.sum(F.when(F.col("ts") >= split, vc).otherwise(0)).cast("long").alias("y"),
    )
    mom = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast(_DEC2).alias("sx"),
        F.sum("y").cast(_DEC2).alias("sy"),
        F.sum(F.col("x").cast(_DEC2) * F.col("y").cast(_DEC2)).alias("sxy"),
        F.sum(F.col("x").cast(_DEC2) * F.col("x").cast(_DEC2)).alias("sxx"),
        F.sum(F.col("y").cast(_DEC2) * F.col("y").cast(_DEC2)).alias("syy"),
    )
    n_d = F.col("n").cast("double")
    covn = n_d * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast("double")
    varx = n_d * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double")
    vary = n_d * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy").cast("double")
    return mom.select(
        F.col("n").alias("n_users"),
        pround(covn / varx, 6).alias("theta"),
        pround(F.lit(100.0) * covn * covn / (varx * vary), 4).alias(
            "var_reduction_pct"
        ),
    )
