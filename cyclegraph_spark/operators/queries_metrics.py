"""Driver-gate queries for the physics + session-metrics layers."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cyclegraph_spark.operators.queries import query
from cyclegraph_spark.tables import load


# --------------------------------------------------------------------------
# P5/P12 — wind projection + air density scalar surface
# --------------------------------------------------------------------------
@query(
    "physics_wind_density",
    oracle="""
    SELECT event_id,
           ROUND(
             LEAST(GREATEST(
               (1013.25 * 100 * POWER(GREATEST(1 - 0.0065 * GREATEST(value * 10, 0)
                                               / (15 + 273.15), 0.001),
                                      9.80665 / (287.05 * 0.0065)))
               / (287.05 * (15 + 273.15)), 0.6), 1.4), 4) AS rho,
           ROUND(GREATEST(5.0, 0) * COS(RADIANS(
             ((value * 7) % 360 - 135 % 360 + 360) % 360)), 4) AS wind_along,
           ROUND(GREATEST(value / 10.0 - GREATEST(5.0, 0) * COS(RADIANS(
             ((value * 7) % 360 - 135 % 360 + 360) % 360)), 0.1), 4) AS v_rel
    FROM events WHERE event_id % 5 = 0 ORDER BY event_id
    """,
)
def physics_wind_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 wind TO-convention projection + P12 barometric air density as
    pure column math (physics.rs:52-103) over synthesized inputs from
    the events table (altitude=value·10, heading=value·7 mod 360,
    wind 5 m/s toward 135°)."""
    from cyclegraph_spark.functions.physics import air_density, v_rel, wind_along

    ev = load(spark, sf_dir, "events").filter(F.col("event_id") % 5 == 0)
    heading = F.pmod(F.col("value") * 7, F.lit(360.0))
    alt = F.col("value") * 10
    return ev.select(
        "event_id",
        F.round(air_density(F.lit(15.0), F.lit(1013.25), alt), 4).alias("rho"),
        F.round(wind_along(heading, F.lit(135.0), F.lit(5.0)), 4).alias("wind_along"),
        F.round(v_rel(F.col("value") / 10.0, heading, F.lit(135.0), F.lit(5.0)), 4).alias(
            "v_rel"
        ),
    ).orderBy("event_id")


# --------------------------------------------------------------------------
# A8/W1/W2/A9/A10 — full session metric block (metrics.py) vs SQL oracle
# --------------------------------------------------------------------------
@query(
    "metrics_session_block",
    oracle="""
    WITH samples AS (
      SELECT user_id AS activity_id,
             epoch_us(ts) AS t,
             value AS watts,
             (value % 100) + 60 AS hr
      FROM events
    ), rolled AS (
      SELECT activity_id, watts, hr,
             AVG(watts) OVER (PARTITION BY activity_id ORDER BY t
                              ROWS BETWEEN 29 PRECEDING AND CURRENT ROW) AS roll
      FROM samples
    ), agg AS (
      SELECT activity_id,
             COUNT(*) AS n_samples,
             AVG(watts) AS avg_power,
             AVG(hr) AS avg_hr,
             POWER(AVG(POWER(roll, 4)), 0.25) AS np_windowed,
             QUANTILE_CONT(CASE WHEN hr > 0 THEN watts / hr END, 0.5) AS wpb_median,
             QUANTILE_CONT(watts - roll, 0.75) - QUANTILE_CONT(watts - roll, 0.25) AS iqr
      FROM rolled GROUP BY activity_id
    )
    SELECT activity_id,
           ROUND(avg_power, 2) AS avg_power,
           ROUND(CASE WHEN n_samples < 30 THEN avg_power ELSE np_windowed END, 2) AS np,
           ROUND(CASE WHEN avg_hr > 0 THEN avg_power / avg_hr ELSE 0 END, 2) AS w_per_beat,
           ROUND(CASE WHEN COALESCE(wpb_median,
                                    CASE WHEN avg_hr > 0 THEN avg_power / avg_hr ELSE 0 END) > 0
                 THEN (CASE WHEN avg_hr > 0 THEN avg_power / avg_hr ELSE 0 END)
                      / COALESCE(wpb_median,
                                 CASE WHEN avg_hr > 0 THEN avg_power / avg_hr ELSE 0 END)
                 ELSE 0 END, 2) AS pa_hr,
           ROUND(CASE WHEN ABS(iqr) > 0 THEN ABS(iqr) / 1.349 ELSE 0 END
                 / SQRT(LEAST(30, n_samples)), 4) AS precision_watt
    FROM agg ORDER BY activity_id
    """,
)
def metrics_session_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference session metric block (metrics.rs NP/PaHr/WpB/
    PrecisionWatt + round-2 contract) over events reshaped as samples —
    the flagship metrics operator under the DuckDB gate."""
    from cyclegraph_spark.operators.metrics import session_metrics

    ev = load(spark, sf_dir, "events")
    samples = ev.select(
        F.col("user_id").alias("activity_id"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
        F.col("value").alias("watts"),
        (F.pmod(F.col("value"), F.lit(100.0)) + 60).alias("hr"),
    )
    out = session_metrics(samples)
    return out.select(
        "activity_id", "avg_power", "np", "w_per_beat", "pa_hr", "precision_watt"
    ).orderBy("activity_id")


# --------------------------------------------------------------------------
# A17 — Badges v2.2 (docs/CGS_v1.md "Badges (v2.2)") under the DuckDB gate
# --------------------------------------------------------------------------
@query(
    "a17_badges_v22",
    oracle="""
    -- fortnight sessions from events: per (user, 14-day period) the
    -- reference metric block (same shapes as metrics_session_block),
    -- duration, then the 28-day ±25%-duration baseline (J4) and the
    -- three v2.2 badges. Fortnight grain: sessions reach the ≥30-sample
    -- Dialed-In floor while the prior period stays inside the 28-day
    -- baseline window, so every badge predicate fires both ways.
    WITH samples AS (
      -- calibrated users (user_id % 3 = 0) ride a precision power meter:
      -- a narrow 20 W band instead of the raw event value, so the corpus
      -- contains sessions that can clear the ±3 W Dialed-In floor
      SELECT user_id,
             DATE '2024-01-01'
               + (14 * floor(datediff('day', DATE '2024-01-01', ts::DATE) / 14.0))::INT
               AS week,
             epoch_us(ts) AS t,
             CASE WHEN user_id % 3 = 0 THEN 150 + (value % 20) ELSE value END AS watts,
             (value % 100) + 60 AS hr
      FROM events
    ), rolled AS (
      SELECT user_id, week, watts, hr, t,
             AVG(watts) OVER (PARTITION BY user_id, week ORDER BY t
                              ROWS BETWEEN 29 PRECEDING AND CURRENT ROW) AS roll
      FROM samples
    ), agg AS (
      SELECT user_id, week,
             COUNT(*) AS n_samples,
             AVG(watts) AS avg_power,
             AVG(hr) AS avg_hr,
             POWER(AVG(POWER(roll, 4)), 0.25) AS np_windowed,
             QUANTILE_CONT(CASE WHEN hr > 0 THEN watts / hr END, 0.5) AS wpb_median,
             QUANTILE_CONT(watts - roll, 0.75) - QUANTILE_CONT(watts - roll, 0.25) AS iqr,
             (MAX(t) - MIN(t)) / 1000000.0 AS duration_s
      FROM rolled GROUP BY user_id, week
    ), block AS (
      SELECT user_id, week, n_samples, duration_s,
             ROUND(CASE WHEN avg_power > 0 THEN
                     (CASE WHEN n_samples < 30 THEN avg_power ELSE np_windowed END)
                     / avg_power ELSE 0 END, 2) AS vi,
             ROUND(CASE WHEN COALESCE(wpb_median,
                                      CASE WHEN avg_hr > 0 THEN avg_power / avg_hr ELSE 0 END) > 0
                   THEN (CASE WHEN avg_hr > 0 THEN avg_power / avg_hr ELSE 0 END)
                        / COALESCE(wpb_median,
                                   CASE WHEN avg_hr > 0 THEN avg_power / avg_hr ELSE 0 END)
                   ELSE 0 END, 2) AS pa_hr,
             ROUND(CASE WHEN avg_hr > 0 THEN avg_power / avg_hr ELSE 0 END, 2) AS w_per_beat,
             ROUND(CASE WHEN ABS(iqr) > 0 THEN ABS(iqr) / 1.349 ELSE 0 END
                   / SQRT(LEAST(30, n_samples)), 4) AS precision_watt
      FROM agg
    ), based AS (
      SELECT cur.*,
             ROUND(QUANTILE_CONT(hist.w_per_beat, 0.5), 4) AS baseline_wpb
      FROM block cur
      LEFT JOIN block hist
        ON hist.user_id = cur.user_id
       AND hist.week < cur.week
       AND hist.week >= cur.week - INTERVAL 28 DAY
       AND hist.duration_s >= cur.duration_s * 0.75
       AND hist.duration_s <= cur.duration_s * 1.25
      GROUP BY ALL
    )
    SELECT user_id, week, n_samples,
           ROUND(duration_s, 2) AS duration_s,
           vi, pa_hr, w_per_beat, precision_watt, baseline_wpb,
           COALESCE(w_per_beat >= baseline_wpb * 1.06 AND duration_s >= 1800.0,
                    FALSE) AS badge_big_engine,
           COALESCE(vi <= 1.05 AND pa_hr <= 1.05, FALSE) AS badge_metronome,
           COALESCE((user_id % 3 = 0) AND precision_watt <= 3.0 AND n_samples >= 30,
                    FALSE) AS badge_dialed_in
    FROM based ORDER BY user_id, week
    """,
)
def a17_badges_v22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A17 — the full Badges v2.2 family (docs/CGS_v1.md: Big Engine /
    Metronome / Dialed In; apply hook cli/session.py:1941-1942) over
    fortnight sessions synthesized from events. Big Engine needs the J4
    28-day ±25%-duration WpB baseline; calibrated is synthesized as
    user_id % 3 == 0 (events carry no calibration dimension — the flag
    exercises both badge outcomes)."""
    from cyclegraph_spark.operators.metrics import session_metrics
    from cyclegraph_spark.operators.reports import with_badges_v22, with_baseline_28d

    ev = load(spark, sf_dir, "events")
    week = F.date_add(
        F.lit("2024-01-01").cast("date"),
        (
            F.floor(
                F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
                / 14.0
            )
            * 14
        ).cast("int"),
    )
    sid = F.concat_ws("#", F.col("user_id").cast("string"), F.date_format(week, "yyyy-MM-dd"))
    samples = ev.select(
        sid.alias("activity_id"),
        F.col("user_id"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
        # calibrated users (user_id % 3 == 0) ride a precision power
        # meter — narrow 20 W band — so Dialed In is reachable
        F.when(
            F.col("user_id") % 3 == 0, 150 + F.pmod(F.col("value"), F.lit(20.0))
        )
        .otherwise(F.col("value"))
        .alias("watts"),
        (F.pmod(F.col("value"), F.lit(100.0)) + 60).alias("hr"),
    ).drop("user_id")
    # duration comes out of the SAME aggregation pass (with_duration):
    # the old separate groupBy + join re-scanned events and re-built the
    # samples projection a second time for one column
    block = session_metrics(samples, with_duration=True)
    rep = (
        block
        .withColumn("user_id", F.split("activity_id", "#")[0].cast("long"))
        .withColumn("week", F.to_date(F.split("activity_id", "#")[1]))
        .select(
            "user_id", "week", "n_samples", "duration_s",
            "vi", "pa_hr", "w_per_beat", "precision_watt",
        )
    )
    based = with_baseline_28d(
        rep, date_col="week", dur_col="duration_s", wpb_col="w_per_beat",
        key_cols=("user_id",),
    ).drop("baseline_n", "wpb_vs_baseline")
    badged = with_badges_v22(
        based.withColumn("calibrated", F.col("user_id") % 3 == 0)
    )
    return badged.select(
        "user_id", "week", "n_samples",
        F.round("duration_s", 2).alias("duration_s"),
        "vi", "pa_hr", "w_per_beat", "precision_watt", "baseline_wpb",
        "badge_big_engine", "badge_metronome", "badge_dialed_in",
    ).orderBy("user_id", "week")


# --------------------------------------------------------------------------
# §2.8 — gap-based sessionization (operators/sessionize.py)
# --------------------------------------------------------------------------
@query(
    "w8_sessionize_gap",
    oracle="""
    WITH lagged AS (
      SELECT user_id, ts, value,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
      FROM events
    ), marked AS (
      SELECT user_id, ts, value,
             -- epoch_us: microsecond-exact, matching Spark's unix_micros
             -- (fractional epoch() doubles lose precision at 1e9 s)
             CASE WHEN prev IS NULL
                       OR epoch_us(ts) - epoch_us(prev) > 21600::BIGINT * 1000000
                  THEN 1 ELSE 0
             END AS new_s
      FROM lagged
    ), sess AS (
      SELECT user_id, ts, value,
             -- ::BIGINT: DuckDB window SUM over integers yields HUGEINT
             -- (int128); Spark emits BIGINT — the driver hashes typed
             -- values, so the uncast form diverges on representation
             -- (same class as a14, queries_analytics.py ::BIGINT fix).
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING)::BIGINT AS sess_id
      FROM marked
    )
    SELECT user_id, sess_id,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*)::BIGINT AS n_events,
           ROUND(SUM(value), 4) AS total_value
    FROM sess GROUP BY user_id, sess_id
    ORDER BY user_id, sess_id
    """,
)
def w8_sessionize_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inactivity-gap sessionization (gap = 6 h) over the events table
    (operators/sessionize.py; a pure-Python twin checks it in
    tests/test_properties.py). Reference semantics: session boundaries by
    idle gap, the reference's cli/strava_import.py:289-313.
    """
    from cyclegraph_spark.operators.sessionize import sessionize_batch

    e = load(spark, sf_dir, "events")
    return (
        sessionize_batch(e, gap_s=21600)
        .withColumn("total_value", F.round("total_value", 4))
        .withColumn("sess_id", F.col("sess_id").cast("long"))
        .select(
            "user_id", "sess_id", "session_start", "session_end",
            "n_events", "total_value",
        )
        .orderBy("user_id", "sess_id")
    )
