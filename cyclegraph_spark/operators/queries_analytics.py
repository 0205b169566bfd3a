"""Analytics operator queries — joins, windows, aggregations (SURVEY.md
§2.3–§2.6) re-expressed Spark-first, each with a DuckDB oracle.

Conventions: every computed column aliased identically on both sides;
double aggregates rounded to 4 decimals on both sides; deterministic
tie-breaks everywhere (O3/O6 discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cyclegraph_spark.operators.queries import query
from cyclegraph_spark.tables import load


# --------------------------------------------------------------------------
# J1 — result↔session pairing (equi join, left outer)
# --------------------------------------------------------------------------
@query(
    "j1_orders_customer_join",
    oracle="""
    SELECT c.c_mktsegment AS mktsegment,
           COUNT(*) AS n_orders,
           ROUND(SUM(o.o_totalprice), 4) AS total_price
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment ORDER BY mktsegment
    """,
)
def j1_orders_customer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 (trend9.py:181-210 result↔session pairing): left-outer equi
    join; customer side broadcasts (dimension ≪ fact)."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "left_outer")
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("total_price"),
        )
        .orderBy("mktsegment")
    )


# --------------------------------------------------------------------------
# J2 — as-of join (nearest hourly record; weather_metrics.py:64-148)
# --------------------------------------------------------------------------
@query(
    "j2_asof_nearest_view",
    oracle="""
    WITH c AS (
      SELECT event_id, user_id, floor(epoch(ts)) AS t FROM events WHERE event_type = 'purchase'
    ), v AS (
      SELECT user_id, floor(epoch(ts)) AS t, value FROM events WHERE event_type = 'view'
    )
    SELECT c.event_id, v.value AS asof_value
    FROM c JOIN v ON c.user_id = v.user_id AND ABS(c.t - v.t) <= 3600
    QUALIFY ROW_NUMBER() OVER (PARTITION BY c.event_id
                               ORDER BY ABS(c.t - v.t), v.t, v.value) = 1
    ORDER BY c.event_id
    """,
)
def j2_asof_nearest_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 as-of join: for each purchase, the nearest-in-time view of the
    same user within 1 h. Scale shape: equi-join on (user, hour-bucket)
    expanded ±1 — turns the interval join into 3 hash-join probes, no
    range-join blowup; min_by picks the winner without a window sort.
    """
    ev = load(spark, sf_dir, "events")
    c = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.unix_timestamp("ts").alias("t_c")
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.unix_timestamp("ts").alias("t_v"), "value"
    )
    c_b = c.withColumn("bucket", F.explode(F.array(*[
        (F.floor(F.col("t_c") / 3600) + d).cast("long") for d in (-1, 0, 1)
    ])))
    v_b = v.withColumn("bucket", F.floor(F.col("t_v") / 3600).cast("long"))
    joined = c_b.join(
        v_b, (c_b.user_id == v_b.v_user) & (c_b.bucket == v_b.bucket), "inner"
    ).filter(F.abs(F.col("t_c") - F.col("t_v")) <= 3600)
    best = (
        joined.groupBy("event_id")
        .agg(
            F.min_by(
                F.col("value"),
                F.struct(F.abs(F.col("t_c") - F.col("t_v")), F.col("t_v"), F.col("value")),
            ).alias("asof_value")
        )
        .orderBy("event_id")
    )
    return best


# --------------------------------------------------------------------------
# J4 — 28-day band join (cli/session.py:995-1022 baseline window)
# --------------------------------------------------------------------------
@query(
    "j4_band_join_28d",
    oracle="""
    SELECT cur.o_orderkey,
           COUNT(hist.o_orderkey) AS n_baseline,
           ROUND(QUANTILE_CONT(hist.o_totalprice, 0.5), 4) AS baseline_median
    FROM orders cur
    LEFT JOIN orders hist
      ON hist.o_custkey = cur.o_custkey
     AND hist.o_orderdate < cur.o_orderdate
     AND hist.o_orderdate >= cur.o_orderdate - INTERVAL 28 DAY
     AND hist.o_totalprice BETWEEN cur.o_totalprice * 0.75 AND cur.o_totalprice * 1.25
    WHERE cur.o_orderkey % 10 = 0
    GROUP BY cur.o_orderkey ORDER BY cur.o_orderkey
    """,
)
def j4_band_join_28d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: non-equi band join — candidates from the last 28 days with a
    ±25% magnitude band, aggregated to an exact median baseline. The
    equi key (custkey) carries the hash join; band predicates are
    post-join filters, so no nested-loop explosion."""
    o = load(spark, sf_dir, "orders")
    cur = o.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    hist = o.select(
        F.col("o_custkey").alias("h_custkey"),
        F.col("o_orderdate").alias("h_date"),
        F.col("o_totalprice").alias("h_price"),
    )
    joined = cur.join(
        hist,
        (F.col("h_custkey") == F.col("o_custkey"))
        & (F.col("h_date") < F.col("o_orderdate"))
        & (F.col("h_date") >= F.col("o_orderdate") - F.expr("INTERVAL 28 DAYS"))
        & (F.col("h_price") >= F.col("o_totalprice") * 0.75)
        & (F.col("h_price") <= F.col("o_totalprice") * 1.25),
        "left",
    )
    return (
        joined.groupBy("o_orderkey")
        .agg(
            F.count("h_custkey").alias("n_baseline"),
            F.round(F.percentile("h_price", 0.5), 4).alias("baseline_median"),
        )
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------------------
# J5 — dimension chain with coalesce defaults (profile fallback)
# --------------------------------------------------------------------------
@query(
    "j5_dim_coalesce_chain",
    oracle="""
    SELECT COALESCE(r.r_name, 'UNKNOWN') AS region_name,
           COUNT(*) AS n_customers, ROUND(AVG(c.c_acctbal), 4) AS avg_acctbal
    FROM customer c
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY region_name ORDER BY region_name
    """,
)
def j5_dim_coalesce_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 (session.py:1392-1426 profile fallback chain): two broadcast
    dim joins + coalesce default — the alias-resolution idiom."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left")
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey, "left")
        .groupBy(F.coalesce(F.col("r_name"), F.lit("UNKNOWN")).alias("region_name"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.avg("c_acctbal"), 4).alias("avg_acctbal"),
        )
        .orderBy("region_name")
    )


# --------------------------------------------------------------------------
# J6/O7 — semi-join intersection (final14.py:199-232)
# --------------------------------------------------------------------------
@query(
    "j6_semi_join_verify",
    oracle="""
    SELECT n.n_name AS nation_name, COUNT(*) AS n_with_open_orders
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
    GROUP BY nation_name ORDER BY nation_name
    """,
)
def j6_semi_join_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6/O7: left_semi = EXISTS — no fanout, no dedup needed."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(F.count(F.lit(1)).alias("n_with_open_orders"))
        .orderBy("nation_name")
    )


# --------------------------------------------------------------------------
# J7/O5 — calibration grid search (crossJoin + argmin)
# --------------------------------------------------------------------------
@query(
    "j7_grid_argmin",
    oracle="""
    WITH grid AS (
      SELECT UNNEST([0.003, 0.004, 0.005, 0.006, 0.007, 0.008]::DOUBLE[]) AS crr
    ), scored AS (
      SELECT l.l_returnflag, g.crr,
             AVG(ABS(l.l_discount / 10.0 - g.crr)) AS mae
      FROM lineitem l CROSS JOIN grid g
      GROUP BY l.l_returnflag, g.crr
    )
    SELECT l_returnflag, crr AS best_crr, ROUND(mae, 6) AS best_mae
    FROM scored
    QUALIFY ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY mae, crr) = 1
    ORDER BY l_returnflag
    """,
)
def j7_grid_argmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 (calibration.rs:112-150): Crr grid × segment crossJoin →
    MAE per cell → min_by argmin with deterministic (mae, crr)
    tie-break. The grid is 6 rows — broadcast nested-loop is free."""
    li = load(spark, sf_dir, "lineitem")
    crrs = (0.003, 0.004, 0.005, 0.006, 0.007, 0.008)
    # one aggregation pass with 6 MAE columns + an unpivot instead of a
    # 6× crossJoin row expansion: the fact table is scanned and hashed
    # once, not 6 times (guide §2.3 — don't multiply rows to vary a
    # constant). Same cells, same min_by argmin + tie-break downstream.
    per_flag = li.groupBy("l_returnflag").agg(
        *[
            F.avg(F.abs(F.col("l_discount") / 10.0 - F.lit(c))).alias(f"m{i}")
            for i, c in enumerate(crrs)
        ]
    )
    stack = F.expr(
        f"stack({len(crrs)}, "
        + ", ".join(f"CAST({c!r} AS DOUBLE), m{i}" for i, c in enumerate(crrs))
        + ") AS (crr, mae)"
    )
    scored = per_flag.select("l_returnflag", stack)
    return (
        scored.groupBy("l_returnflag")
        .agg(
            F.min_by("crr", F.struct("mae", "crr")).alias("best_crr"),
            F.round(F.min("mae"), 6).alias("best_mae"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# A12+ — CUBE / grouping sets (SURVEY §2.5 note: free once the pivot
# matrix grows beyond one dimension)
# --------------------------------------------------------------------------
@query(
    "a12_cube_totals",
    oracle="""
    SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           COUNT(*) AS n, ROUND(SUM(o_totalprice), 4) AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY status, priority
    """,
)
def a12_cube_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over the pivot dimensions — subtotals and the grand total in
    one pass (partial aggregation per grouping set)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 4).alias("total_price"),
        )
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
            "n",
            "total_price",
        )
        .orderBy("status", "priority")
    )


# --------------------------------------------------------------------------
# J3 — canonical weather-key dedup (sessions.py:284-414, weather.rs:45-84)
# --------------------------------------------------------------------------
@query(
    "j3_canonical_key_cache",
    extended=True,
    oracle="""
    WITH sessions AS (
      SELECT user_id,
             date_trunc('hour', MIN(ts)) AS hour_key,
             ROUND(QUANTILE_CONT(value, 0.5), 1) AS med_value
      FROM events GROUP BY user_id
    )
    SELECT COUNT(*) AS n_sessions,
           COUNT(DISTINCT (hour_key, med_value)) AS n_distinct_keys,
           ROUND(1.0 - COUNT(DISTINCT (hour_key, med_value))::DOUBLE / COUNT(*), 4)
             AS cache_hit_rate
    FROM sessions
    """,
)
def j3_canonical_key_cache(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: canonical key = (hour-floored start, rounded median coordinate)
    — dedup-before-join collapses near-duplicate lookups; the hit rate is
    the fraction of sessions served by an already-seen key (the keyed
    memo-cache + ≥95% hit DoD idiom, re-expressed as distinct-key
    pre-aggregation)."""
    ev = load(spark, sf_dir, "events")
    sessions = ev.groupBy("user_id").agg(
        F.date_trunc("hour", F.min(F.col("ts").cast("timestamp"))).alias("hour_key"),
        F.round(F.percentile("value", 0.5), 1).alias("med_value"),
    )
    return sessions.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.countDistinct("hour_key", "med_value").alias("n_distinct_keys"),
        F.round(
            1.0 - F.countDistinct("hour_key", "med_value") / F.count(F.lit(1)), 4
        ).alias("cache_hit_rate"),
    )


# --------------------------------------------------------------------------
# W2/A6 — PrecisionWatt: rolling residual IQR sigma (metrics.rs:309-370)
# --------------------------------------------------------------------------
@query(
    "w2_precision_sigma",
    oracle="""
    WITH rolled AS (
      SELECT user_id, value,
             AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 29 PRECEDING AND CURRENT ROW) AS roll
      FROM events WHERE event_type = 'view'
    ), resid AS (
      SELECT user_id, value - roll AS r FROM rolled
    )
    SELECT user_id,
           ROUND((QUANTILE_CONT(r, 0.75) - QUANTILE_CONT(r, 0.25)) / 1.349, 4) AS sigma,
           ROUND((QUANTILE_CONT(r, 0.75) - QUANTILE_CONT(r, 0.25)) / 1.349
                 / SQRT(30), 4) AS sigma_eff
    FROM resid GROUP BY user_id ORDER BY user_id
    """,
)
def w2_precision_sigma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: residual vs 30-row rolling mean; σ = IQR/1.349 with EXACT
    linear-interp quantiles (percentile, not percentile_approx — the
    reference is exact, metrics.rs:344-363); σ_eff = σ/√window."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "view")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-29, 0)
    resid = ev.select(
        "user_id", (F.col("value") - F.avg("value").over(w)).alias("r")
    )
    iqr = F.percentile("r", 0.75) - F.percentile("r", 0.25)
    return (
        resid.groupBy("user_id")
        .agg(
            F.round(iqr / 1.349, 4).alias("sigma"),
            F.round(iqr / 1.349 / F.sqrt(F.lit(30.0)), 4).alias("sigma_eff"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# W3/O4 — best 20-min window (FTP), range frame (analyze.py:216-238)
# --------------------------------------------------------------------------
@query(
    "w3_best_20min_window",
    oracle="""
    -- acceptance floor (cli/analyze.py:233-236): a window only counts when
    -- its actual span (t_right - min t in frame + 1) >= 1195 s; otherwise
    -- the reference's best_avg stays 0.0 (warm-up/short sessions fall
    -- through to the default FTP).
    WITH windowed AS (
      SELECT user_id,
             AVG(COALESCE(value, 0)) OVER (
               PARTITION BY user_id ORDER BY floor(epoch(ts))
               RANGE BETWEEN 1199 PRECEDING AND CURRENT ROW) AS wavg,
             floor(epoch(ts)) - MIN(floor(epoch(ts))) OVER (
               PARTITION BY user_id ORDER BY floor(epoch(ts))
               RANGE BETWEEN 1199 PRECEDING AND CURRENT ROW) + 1 AS window_sec
      FROM events
    )
    -- ROUND(wavg, 6) kills cross-engine summation noise; the final
    -- FLOOR(x*1e4 + 0.5)/1e4 is half-up on the BINARY value — pure double
    -- ops give bit-identical results on both engines, whereas ROUND(,4)
    -- diverges on exact decimal ties like 15.465*0.95 = 14.69175
    -- (DuckDB → .6918, Spark/Python → .6917).
    SELECT user_id,
           FLOOR(COALESCE(MAX(CASE WHEN window_sec >= 1195 THEN ROUND(wavg, 6) END),
                          0.0) * 0.95 * 10000 + 0.5) / 10000 AS ftp_estimate
    FROM windowed GROUP BY user_id ORDER BY user_id
    """,
)
def w3_best_20min_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: sliding ≤1200 s time window maximizing avg power, ×0.95 —
    the two-pointer loop (cli/analyze.py:215-237) becomes a rangeBetween
    frame. The reference only ACCEPTS windows whose span
    t_right − t_left + 1 ≥ 1195 s (analyze.py:233-236) — shorter frames
    (warm-up, short sessions) don't count, and when no window qualifies
    the estimate is 0.0 (callers fall through to the default FTP)."""
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-1199, 0)
    )
    ts = F.unix_timestamp("ts")
    return (
        ev.select(
            "user_id",
            F.avg(F.coalesce(F.col("value"), F.lit(0.0))).over(w).alias("wavg"),
            (ts - F.min(ts).over(w) + 1 >= 1195).alias("accepted"),
        )
        .groupBy("user_id")
        .agg(
            (
                F.floor(
                    F.coalesce(
                        F.max(F.when(F.col("accepted"), F.round(F.col("wavg"), 6))),
                        F.lit(0.0),
                    )
                    * 0.95
                    * 10000
                    + 0.5
                ).cast("double")
                / 10000
            ).alias("ftp_estimate")
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# W4 — trend of previous 3 (analyze.py:241-252)
# --------------------------------------------------------------------------
@query(
    "w4_trend_last3",
    extended=True,
    oracle="""
    SELECT event_id,
           ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING), 4)
             AS prev3_avg,
           ROUND(value, 4) AS cur_value
    FROM events WHERE user_id % 20 = 0
    ORDER BY event_id
    """,
)
def w4_trend_last3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4: avg of previous 3 per key (frame excludes current row)."""
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") % 20 == 0)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-3, -1)
    return ev.select(
        "event_id",
        F.round(F.avg("value").over(w), 4).alias("prev3_avg"),
        F.round("value", 4).alias("cur_value"),
    )


# --------------------------------------------------------------------------
# W5 — duration inference (session.py:582-611)
# --------------------------------------------------------------------------
@query(
    "w5_duration_infer",
    extended=True,
    oracle="""
    SELECT user_id,
           floor(epoch(MAX(ts)))::BIGINT - floor(epoch(MIN(ts)))::BIGINT + 1 AS duration_s,
           COUNT(*) AS n_samples
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def w5_duration_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            (
                F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts")) + 1
            ).alias("duration_s"),
            F.count(F.lit(1)).alias("n_samples"),
        )
    )


# --------------------------------------------------------------------------
# A2/W7 — time-weighted mean via lag dt (py/mod.rs:327-343)
# --------------------------------------------------------------------------
@query(
    "a2_time_weighted_mean",
    oracle="""
    WITH lagged AS (
      SELECT user_id, value,
             floor(epoch(ts)) - LAG(floor(epoch(ts))) OVER (PARTITION BY user_id
                                              ORDER BY ts, event_id) AS dt
      FROM events
    )
    SELECT user_id,
           ROUND(SUM(value * dt) / SUM(dt), 4) AS tw_mean
    FROM lagged WHERE dt IS NOT NULL AND dt > 0
    GROUP BY user_id ORDER BY user_id
    """,
)
def a2_time_weighted_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: Σ(x·dt)/Σdt with dt from the lag window (W7)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = ev.select(
        "user_id",
        "value",
        (F.unix_timestamp("ts") - F.lag(F.unix_timestamp("ts")).over(w)).alias("dt"),
    ).filter(F.col("dt").isNotNull() & (F.col("dt") > 0))
    return (
        lagged.groupBy("user_id")
        .agg(F.round(F.sum(F.col("value") * F.col("dt")) / F.sum("dt"), 4).alias("tw_mean"))
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# A3 — time-weighted mean over MOVING samples only (py/mod.rs:346-382)
# --------------------------------------------------------------------------
@query(
    "a3_tw_mean_moving_only",
    extended=True,
    oracle="""
    WITH lagged AS (
      SELECT user_id, value, event_type,
             floor(epoch(ts)) - LAG(floor(epoch(ts))) OVER (PARTITION BY user_id
                                              ORDER BY ts, event_id) AS dt
      FROM events
    )
    SELECT user_id,
           ROUND(SUM(value * dt) / SUM(dt), 4) AS tw_mean_moving
    FROM lagged
    WHERE dt IS NOT NULL AND dt > 0 AND event_type = 'view' AND value > 0.5
    GROUP BY user_id ORDER BY user_id
    """,
)
def a3_tw_mean_moving_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: same Σ(x·dt)/Σdt but filtered to moving samples
    (moving && v > 0.5 analog: event_type='view' && value > 0.5)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = ev.select(
        "user_id",
        "value",
        "event_type",
        (F.unix_timestamp("ts") - F.lag(F.unix_timestamp("ts")).over(w)).alias("dt"),
    ).filter(
        F.col("dt").isNotNull()
        & (F.col("dt") > 0)
        & (F.col("event_type") == "view")
        & (F.col("value") > 0.5)
    )
    return (
        lagged.groupBy("user_id")
        .agg(
            F.round(F.sum(F.col("value") * F.col("dt")) / F.sum("dt"), 4).alias(
                "tw_mean_moving"
            )
        )
    )


# --------------------------------------------------------------------------
# A7 — filtered avg with source tag (py/mod.rs:582-614)
# --------------------------------------------------------------------------
@query(
    "a7_filtered_avg",
    oracle="""
    SELECT event_type,
           ROUND(AVG(CASE WHEN value > 0 THEN value END), 4) AS avg_positive,
           COUNT(CASE WHEN value > 0 THEN 1 END) AS n_positive,
           COUNT(*) AS n_total
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def a7_filtered_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(F.avg(F.when(F.col("value") > 0, F.col("value"))), 4).alias(
                "avg_positive"
            ),
            F.count(F.when(F.col("value") > 0, F.lit(1))).alias("n_positive"),
            F.count(F.lit(1)).alias("n_total"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# A12/A13 — grouped pivot mean/std/count (trend9.py:254-289)
# --------------------------------------------------------------------------
@query(
    "a12_grouped_pivot_stats",
    extended=True,
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           ROUND(AVG(o_totalprice), 4) AS mean_price,
           ROUND(STDDEV_SAMP(o_totalprice), 4) AS std_price,
           COUNT(*) AS n
    FROM orders GROUP BY o_orderstatus, o_orderpriority
    ORDER BY o_orderstatus, o_orderpriority
    """,
)
def a12_grouped_pivot_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12: the pandas groupby(...).agg(['mean','std','count']) pivot as
    one hash aggregation (per-version split = partitioned write, not a
    driver loop)."""
    o = load(spark, sf_dir, "orders")
    # nanvl→NULL: Spark's stddev_samp yields NaN on a single-row group
    # while DuckDB's STDDEV_SAMP yields NULL — the same representation-
    # divergence class as the HUGEINT hash bug, latent because current
    # gate data has no singleton groups; align proactively
    std = F.stddev_samp("o_totalprice")
    return (
        o.groupBy("o_orderstatus", "o_orderpriority")
        .agg(
            F.round(F.avg("o_totalprice"), 4).alias("mean_price"),
            F.round(F.when(~F.isnan(std), std), 4).alias("std_price"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# --------------------------------------------------------------------------
# A14 — anomaly/robustness checks (trend9.py:291-321)
# --------------------------------------------------------------------------
@query(
    "a14_anomaly_checks",
    oracle="""
    -- ::BIGINT casts: DuckDB SUM over integers yields HUGEINT (INT128);
    -- Spark yields BIGINT — the value hash diverges on representation.
    SELECT event_type,
           SUM(CASE WHEN value < 0 THEN 1 ELSE 0 END)::BIGINT AS n_negative,
           SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
           SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null_key
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def a14_anomaly_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("value") < 0, 1).otherwise(0)).alias("n_negative"),
            F.sum(F.when(F.col("value").isNull(), 1).otherwise(0)).alias("n_null"),
            F.sum(F.when(F.col("user_id").isNull(), 1).otherwise(0)).alias("n_null_key"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# A9/A10/A11/A16/A17 — ratio metrics + CGS scoring + badges (cgs.rs:4-72)
# --------------------------------------------------------------------------
@query(
    "a16_cgs_scoring",
    oracle="""
    WITH base AS (
      SELECT user_id,
             AVG(value) AS avg_v, MAX(value) AS max_v,
             (floor(epoch(MAX(ts))) - floor(epoch(MIN(ts)))) / 60.0 AS minutes
      FROM events GROUP BY user_id
    ), scored AS (
      SELECT user_id, minutes,
             avg_v / max_v AS if_,
             100.0 * EXP(-POWER((avg_v / max_v - 0.9) / 0.1, 2)) AS intensity,
             100.0 * LN(1 + minutes / 30.0) / LN(7.0) AS duration_score
      FROM base WHERE max_v > 0
    )
    SELECT user_id, ROUND(if_, 4) AS if_,
           ROUND(intensity, 4) AS intensity,
           ROUND(duration_score, 4) AS duration_score,
           ROUND(0.4 * intensity + 0.6 * duration_score, 4) AS cgs,
           (if_ >= 0.85 AND minutes >= 30.0) AS badge_big_engine
    FROM scored ORDER BY user_id
    """,
)
def a16_cgs_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16 CGS: intensity = 100·exp(−((IF−0.9)/0.1)²), duration =
    100·ln(1+min/30)/ln 7, weighted combine; A17 badge predicate —
    deterministic column math post-agg (cgs.rs:4-72, docs/CGS_v1.md)."""
    ev = load(spark, sf_dir, "events")
    base = ev.groupBy("user_id").agg(
        F.avg("value").alias("avg_v"),
        F.max("value").alias("max_v"),
        ((F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))) / 60.0).alias(
            "minutes"
        ),
    ).filter(F.col("max_v") > 0)
    if_ = F.col("avg_v") / F.col("max_v")
    intensity = 100.0 * F.exp(-F.pow((if_ - 0.9) / 0.1, 2))
    duration_score = 100.0 * F.log(1 + F.col("minutes") / 30.0) / F.log(F.lit(7.0))
    return base.select(
        "user_id",
        F.round(if_, 4).alias("if_"),
        F.round(intensity, 4).alias("intensity"),
        F.round(duration_score, 4).alias("duration_score"),
        F.round(0.4 * intensity + 0.6 * duration_score, 4).alias("cgs"),
        ((if_ >= 0.85) & (F.col("minutes") >= 30.0)).alias("badge_big_engine"),
    ).orderBy("user_id")


@query(
    "a10_w_per_beat",
    extended=True,
    oracle="""
    SELECT user_id,
           ROUND(CASE WHEN AVG(CASE WHEN event_type = 'click' THEN value END) > 0
                 THEN AVG(CASE WHEN event_type = 'view' THEN value END)
                      / AVG(CASE WHEN event_type = 'click' THEN value END)
                 ELSE 0 END, 4) AS w_per_beat
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def a10_w_per_beat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 (metrics.rs:294-307): ratio of conditional means, 0-guarded."""
    ev = load(spark, sf_dir, "events")
    avg_v = F.avg(F.when(F.col("event_type") == "view", F.col("value")))
    avg_c = F.avg(F.when(F.col("event_type") == "click", F.col("value")))
    return (
        ev.groupBy("user_id")
        .agg(F.round(F.when(avg_c > 0, avg_v / avg_c).otherwise(0.0), 4).alias("w_per_beat"))
    )


# --------------------------------------------------------------------------
# O3 — newest-wins dedup (export13.py:96-106)
# --------------------------------------------------------------------------
@query(
    "o3_dedup_newest_wins",
    oracle="""
    SELECT user_id, event_type, value AS latest_value
    FROM events
    QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                               ORDER BY ts DESC, event_id DESC) = 1
    ORDER BY user_id, event_type
    """,
)
def o3_dedup_newest_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3: keep max-mtime row per key — row_number desc + filter; the
    deterministic tie-break is (ts, event_id)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", F.col("value").alias("latest_value"))
        .orderBy("user_id", "event_type")
    )


# --------------------------------------------------------------------------
# O8 — union of record sources (trend9.py:236-252)
# --------------------------------------------------------------------------
@query(
    "o8_union_sources",
    extended=True,
    oracle="""
    WITH unioned AS (
      SELECT doc_id AS id, 'document' AS src_kind, n_chars::DOUBLE AS metric
      FROM documents
      UNION ALL
      SELECT event_id AS id, 'event' AS src_kind, value AS metric FROM events
    )
    SELECT src_kind, COUNT(*) AS n, ROUND(AVG(metric), 4) AS avg_metric
    FROM unioned GROUP BY src_kind ORDER BY src_kind
    """,
)
def o8_union_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"),
        F.lit("document").alias("src_kind"),
        F.col("n_chars").cast("double").alias("metric"),
    )
    e = load(spark, sf_dir, "events").select(
        F.col("event_id").alias("id"),
        F.lit("event").alias("src_kind"),
        F.col("value").alias("metric"),
    )
    return (
        d.unionByName(e)
        .groupBy("src_kind")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("metric"), 4).alias("avg_metric"))
    )


# --------------------------------------------------------------------------
# P3 — loose numeric parse (session.py:1271-1291)
# --------------------------------------------------------------------------
@query(
    "p3_loose_numeric_parse",
    oracle="""
    -- TRY_CAST mirrors the Spark side's try_cast: a props value with no
    -- digits extracts '' and must SKIP to NULL (loose-parse semantics),
    -- not abort the scan — CAST('' AS DOUBLE) errors on both engines
    SELECT event_id,
           TRY_CAST(REPLACE(REGEXP_EXTRACT(props, '[-+]?[0-9]+(?:[.,][0-9]+)?', 0), ',', '.')
                AS DOUBLE) AS parsed
    FROM events WHERE props IS NOT NULL ORDER BY event_id
    """,
)
def p3_loose_numeric_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3: first-number extraction with decimal-comma tolerance."""
    ev = load(spark, sf_dir, "events").filter(F.col("props").isNotNull())
    parsed = F.regexp_extract(F.col("props"), r"[-+]?[0-9]+(?:[.,][0-9]+)?", 0)
    # try_cast: loose-parse semantics (session.py:1271 returns None on no
    # match) — a digit-less props extracts '' and under ANSI a plain cast
    # would crash the whole scan with CAST_INVALID_INPUT
    return ev.select(
        "event_id",
        F.replace(parsed, F.lit(","), F.lit(".")).try_cast("double").alias("parsed"),
    ).orderBy("event_id")


# --------------------------------------------------------------------------
# P13 — per-point classify (eff_calc.py:34-46)
# --------------------------------------------------------------------------
@query(
    "p13_efficiency_classify",
    extended=True,
    oracle="""
    SELECT CASE WHEN value < 1.0 THEN 'Lav effekt'
                WHEN value > 170 THEN 'Høy puls'
                ELSE 'OK' END AS status,
           COUNT(*) AS n, ROUND(AVG(value), 4) AS avg_value
    FROM events GROUP BY status ORDER BY status
    """,
)
def p13_efficiency_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    status = (
        F.when(F.col("value") < 1.0, "Lav effekt")
        .when(F.col("value") > 170, "Høy puls")
        .otherwise("OK")
    )
    return (
        ev.groupBy(status.alias("status"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("value"), 4).alias("avg_value"))
    )


# --------------------------------------------------------------------------
# P17 — running-sum integration + carry-forward (session_api.py:196-217)
# --------------------------------------------------------------------------
@query(
    "p17_running_integration",
    extended=True,
    oracle="""
    SELECT user_id, event_id,
           ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
             AS cum_value
    FROM events WHERE user_id % 25 = 0 ORDER BY event_id
    """,
)
def p17_running_integration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P17: cumulative integration (alt += slope·v·dt analog)."""
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") % 25 == 0)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return ev.select(
        "user_id", "event_id", F.round(F.sum("value").over(w), 4).alias("cum_value")
    )


# --------------------------------------------------------------------------
# JSON scalar surface (§2.7; the reference T11 matrix reader's tolerant JSON)
# --------------------------------------------------------------------------
@query(
    "json_extract_props",
    extended=True,
    oracle="""
    -- TRY_CAST: a non-numeric $.k value must skip to NULL (dropped by
    -- AVG) on both engines, not abort the scan
    SELECT event_type,
           ROUND(AVG(TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE)), 4) AS avg_k
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(
                # try_cast: non-numeric $.k skips (AVG ignores NULL)
                # instead of an ANSI cast abort
                F.avg(F.get_json_object("props", "$.k").try_cast("double")), 4
            ).alias("avg_k")
        )
    )


# --------------------------------------------------------------------------
# S3 — sampling-rate inference (io.py:145-222): 1/median(Δt)
# --------------------------------------------------------------------------
@query(
    "s3_hz_inference",
    oracle="""
    WITH dts AS (
      SELECT user_id,
             floor(epoch(ts)) - LAG(floor(epoch(ts))) OVER (PARTITION BY user_id
                                              ORDER BY ts, event_id) AS dt
      FROM events
    )
    SELECT user_id, ROUND(1.0 / QUANTILE_CONT(dt, 0.5), 6) AS hz
    FROM dts WHERE dt IS NOT NULL AND dt > 0
    GROUP BY user_id ORDER BY user_id
    """,
)
def s3_hz_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dts = ev.select(
        "user_id",
        (F.unix_timestamp("ts") - F.lag(F.unix_timestamp("ts")).over(w)).alias("dt"),
    ).filter(F.col("dt").isNotNull() & (F.col("dt") > 0))
    return (
        dts.groupBy("user_id")
        .agg(F.round(1.0 / F.percentile("dt", 0.5), 6).alias("hz"))
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# J2b — hourly weather dimension → per-session nearest-record context
# (cli/weather_metrics.py:83-148 load_weather_context / _nearest_index)
# --------------------------------------------------------------------------
_WX_EP0 = 1704067200  # 2024-01-01T00:00:00Z; grid covers 457 h (19 days),
# so session START times fall inside the table while session END times
# (events run to Jan 30) fall OUTSIDE — exercising both the bucketed
# in-range join and the boundary clamp. The oracle is a BRUTE-FORCE
# global nearest (cross join + QUALIFY), i.e. exactly the reference's
# _nearest_index scan — the bucketed implementation must equal it.


WEATHER_COLS = ("wind_ms", "wind_dir_deg", "air_temp_c", "air_pressure_hpa")


def weather_asof(
    anchors: DataFrame,
    weather: DataFrame,
    act: str = "activity_id",
    t_col: str = "t",
    weather_t: str = "t_w",
) -> DataFrame:
    """Per-anchor nearest hourly weather record — the reference's
    ``_nearest_index`` scan (cli/weather_metrics.py:64-81,107-115) as a
    distributed as-of join.

    anchors(act, t) × weather(t_w, wind_ms, wind_dir_deg, air_temp_c,
    air_pressure_hpa) → (act, *WEATHER_COLS).

    Scale shape (J2 idiom): equi-join on the hour bucket expanded ±1 — an
    hourly table always has its nearest record within one bucket of an
    in-range anchor, so no range-join blowup. Anchors OUTSIDE the table's
    time range (reference still returns the globally nearest record)
    clamp to the first/last record via a 2-row broadcast — for a sorted
    hourly table the global nearest of an out-of-range point is exactly
    one of the two boundary rows. Ties break to the EARLIER record
    (``_nearest_index`` keeps the first index on equal distance).
    """
    payload = F.struct(
        F.col(weather_t).alias("_tw"), *[F.col(c).alias(c) for c in WEATHER_COLS]
    )
    w = weather.select(F.col(weather_t), payload.alias("_wx"))
    order = lambda tcol: F.struct(  # noqa: E731 — (|Δt|, t_w) lexicographic
        F.abs(F.col(tcol) - F.col(weather_t)).alias("d"),
        F.col(weather_t).alias("tw"),
    )

    a_b = anchors.select(act, t_col).withColumn(
        "_bucket",
        F.explode(
            F.array(*[(F.floor(F.col(t_col) / 3600) + d).cast("long") for d in (-1, 0, 1)])
        ),
    )
    w_b = w.withColumn("_bucket", F.floor(F.col(weather_t) / 3600).cast("long"))
    in_range = (
        a_b.join(w_b, "_bucket")
        .groupBy(act)
        .agg(F.min_by("_wx", order(t_col)).alias("_wx"))
    )

    # boundary clamp for anchors with no record within ±1 bucket
    bounds = w.orderBy(weather_t).limit(1).unionByName(
        w.orderBy(F.col(weather_t).desc()).limit(1)
    )
    clamped = (
        anchors.select(act, t_col)
        .join(in_range.select(act), act, "left_anti")
        .crossJoin(F.broadcast(bounds))
        .groupBy(act)
        .agg(F.min_by("_wx", order(t_col)).alias("_wx"))
    )
    return in_range.unionByName(clamped).select(
        act, *[F.col(f"_wx.{c}").alias(c) for c in WEATHER_COLS]
    )


@query(
    "j2_weather_context",
    extended=True,
    oracle=f"""
    WITH h AS (
      SELECT {_WX_EP0} + i * 3600 AS t_w,
             (i * 7 % 13)::DOUBLE AS wind_ms,
             (i * 31 % 360)::DOUBLE AS wind_dir_deg,
             (i % 20 + 5)::DOUBLE AS air_temp_c,
             (i % 40 + 990)::DOUBLE AS air_pressure_hpa
      FROM (SELECT UNNEST(range(0, 457)) AS i)
    ), s AS (
      SELECT user_id,
             floor(epoch(MIN(ts)))::BIGINT AS t_start,
             floor(epoch(MAX(ts)))::BIGINT AS t_end
      FROM events GROUP BY user_id
    ), ns AS (
      SELECT s.user_id, h.wind_ms AS s_wind_ms, h.wind_dir_deg AS s_wind_dir_deg,
             h.air_temp_c AS s_air_temp_c, h.air_pressure_hpa AS s_air_pressure_hpa
      FROM s CROSS JOIN h
      QUALIFY ROW_NUMBER() OVER (PARTITION BY s.user_id
                                 ORDER BY ABS(s.t_start - h.t_w), h.t_w) = 1
    ), ne AS (
      SELECT s.user_id, h.wind_ms AS e_wind_ms, h.wind_dir_deg AS e_wind_dir_deg,
             h.air_temp_c AS e_air_temp_c, h.air_pressure_hpa AS e_air_pressure_hpa
      FROM s CROSS JOIN h
      QUALIFY ROW_NUMBER() OVER (PARTITION BY s.user_id
                                 ORDER BY ABS(s.t_end - h.t_w), h.t_w) = 1
    )
    SELECT * FROM ns JOIN ne USING (user_id) ORDER BY user_id
    """,
)
def j2_weather_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2b: per-session weather context from an hourly DIMENSION table —
    nearest record to the session start (in-range: ±1-hour-bucket equi
    join) and to the session end (out of table range: boundary clamp).
    The oracle brute-forces the reference's global _nearest_index scan."""
    ev = load(spark, sf_dir, "events")
    hours = spark.range(0, 457).select(
        (F.lit(_WX_EP0) + F.col("id") * 3600).alias("t_w"),
        (F.col("id") * 7 % 13).cast("double").alias("wind_ms"),
        (F.col("id") * 31 % 360).cast("double").alias("wind_dir_deg"),
        (F.col("id") % 20 + 5).cast("double").alias("air_temp_c"),
        (F.col("id") % 40 + 990).cast("double").alias("air_pressure_hpa"),
    )
    # one row per user, consumed by BOTH weather_asof calls (start and
    # end context) — materialize once or each side re-scans and
    # re-aggregates the full events table
    sessions = ev.groupBy("user_id").agg(
        F.min(F.unix_timestamp("ts")).alias("t_start"),
        F.max(F.unix_timestamp("ts")).alias("t_end"),
    ).localCheckpoint(eager=True)
    ctx_s = weather_asof(
        sessions.select("user_id", F.col("t_start").alias("t")), hours, act="user_id"
    ).select("user_id", *[F.col(c).alias(f"s_{c}") for c in WEATHER_COLS])
    ctx_e = weather_asof(
        sessions.select("user_id", F.col("t_end").alias("t")), hours, act="user_id"
    ).select("user_id", *[F.col(c).alias(f"e_{c}") for c in WEATHER_COLS])
    return ctx_s.join(ctx_e, "user_id")
