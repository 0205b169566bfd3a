"""Session metrics layer — the reference's scalar metric block re-expressed
as one windowed pass + one aggregation per activity group.

Semantics transplanted verbatim (cited):
- NP        /root/reference/core/src/metrics.rs:181-238 — window =
            max(floor(30·hz),1) rows, EXPANDING warm-up for the first
            window−1 rows, mean of 4th powers ^0.25; len<window → plain
            average.
- IF / VI   metrics.rs:241-256 — np/ftp, np/avg, 0-guarded.
- Pa:Hr     metrics.rs:258-292 — session w/beat ÷ exact median of the
            per-point p/h series (points with h>0, finite p).
- W/beat    metrics.rs:294-307 — avgP/avgHR, 0-guarded.
- PrecisionWatt metrics.rs:309-370 — window additionally clamped to
            len; σ = IQR(power−rolling)/1.349 with linear-interpolated
            quantiles (= Spark's exact ``percentile``); σ_eff = σ/√window;
            "±{:.1f} W" format metrics.rs:372-377.
- status    core/src/lib.rs:91-97 — eff<1 → "Lav effekt",
            avg_pulse>170 → "Høy puls", else "OK".
- round-2 determinism cli/session.py:786-794.

The whole block is ONE Window pass (rolling mean) + ONE groupBy
aggregation per activity — map-side partial aggs, no UDF, no collect.
``window`` is a plan-time constant (the reference calls the metric per
session with that session's hz); for mixed-rate corpora, group sessions
into hz cohorts and run one plan per cohort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def session_metrics(
    samples: DataFrame,
    act: str = "activity_id",
    t: str = "t",
    watts: str = "watts",
    hr: str = "hr",
    ftp: float | None = None,
    window: int = 30,
    with_duration: bool = False,
) -> DataFrame:
    """samples → one row per activity with the reference metric block.

    Output columns: activity_id, avg_power, avg_hr, np, if_, vi, pa_hr,
    w_per_beat, precision_watt, precision_watt_fmt, status, n_samples.
    Values rounded to 2 decimals (session.py:786-794), if_ to 3
    (session.py:455). ``with_duration=True`` appends ``duration_s`` =
    (max(t)−min(t))/1e6 from the SAME aggregation pass — callers that
    need it (a17 badges) otherwise re-scan and re-aggregate the samples
    a second time just to join one column back.
    """
    win = max(int(window), 1)
    order = Window.partitionBy(act).orderBy(t)
    w_np = order.rowsBetween(-(win - 1), 0)

    p = F.col(watts).cast("double")
    h = F.col(hr).cast("double")

    # rolling mean with expanding warm-up — Spark's rowsBetween is
    # expanding at partition start, exactly metrics.rs:199-204.
    # PrecisionWatt clamps window to len: for n<win rows the rowsBetween
    # frame only ever sees i+1 ≤ n rows, which equals the clamped
    # window's expanding warm-up, and once i+1 > n never happens — so the
    # same rolling column serves both (asserted against the twin).
    rolled = samples.select(
        F.col(act).alias("_act"),
        p.alias("_p"),
        h.alias("_h"),
        F.avg(p).over(w_np).alias("_roll"),
        *([F.col(t).alias("_t")] if with_duration else []),
    )

    wpb_point = F.when((F.col("_h") > 0) & ~F.isnan(F.col("_p")), F.col("_p") / F.col("_h"))
    resid = F.col("_p") - F.col("_roll")

    agg = rolled.groupBy("_act").agg(
        F.count(F.lit(1)).alias("n_samples"),
        F.avg("_p").alias("avg_power"),
        F.avg("_h").alias("avg_hr"),
        F.pow(F.avg(F.pow("_roll", 4)), 0.25).alias("_np_windowed"),
        F.percentile(wpb_point, 0.5).alias("_wpb_median"),
        (F.percentile(resid, 0.75) - F.percentile(resid, 0.25)).alias("_iqr"),
        *(
            [((F.max("_t") - F.min("_t")) / 1e6).alias("_duration_s")]
            if with_duration
            else []
        ),
    )

    np_val = F.when(F.col("n_samples") < win, F.col("avg_power")).otherwise(
        F.col("_np_windowed")
    )
    w_per_beat = F.when(F.col("avg_hr") > 0, F.col("avg_power") / F.col("avg_hr")).otherwise(0.0)
    pa_hr_base = F.coalesce(F.col("_wpb_median"), w_per_beat)
    pa_hr = F.when(pa_hr_base > 0, w_per_beat / pa_hr_base).otherwise(0.0)
    vi = F.when(F.col("avg_power") > 0, np_val / F.col("avg_power")).otherwise(0.0)
    eff = w_per_beat
    status = (
        F.when(eff < 1.0, "Lav effekt")
        .when(F.col("avg_hr") > 170.0, "Høy puls")
        .otherwise("OK")
    )
    # precision_watt window clamp: min(win, n)
    pw_window = F.least(F.lit(win), F.col("n_samples"))
    sigma = F.when(F.abs(F.col("_iqr")) > 0, F.abs(F.col("_iqr")) / 1.349).otherwise(0.0)
    pw = sigma / F.sqrt(pw_window.cast("double"))

    out = agg.select(
        F.col("_act").alias(act),
        F.round("avg_power", 2).alias("avg_power"),
        F.round("avg_hr", 2).alias("avg_hr"),
        F.round(np_val, 2).alias("np"),
        F.round(vi, 2).alias("vi"),
        F.round(pa_hr, 2).alias("pa_hr"),
        F.round(w_per_beat, 2).alias("w_per_beat"),
        F.round(pw, 4).alias("precision_watt"),
        F.format_string("±%.1f W", F.greatest(pw, F.lit(0.0))).alias("precision_watt_fmt"),
        status.alias("status"),
        F.col("n_samples"),
        *([F.col("_duration_s").alias("duration_s")] if with_duration else []),
    )
    if ftp is not None and ftp > 0:
        out = out.withColumn("if_", F.round(F.col("np") / F.lit(float(ftp)), 3))
    else:
        out = out.withColumn("if_", F.lit(0.0))
    return out


# --------------------------------------------------------------------------
# Single-node twins (faithful ports of the cited reference semantics)
# --------------------------------------------------------------------------

def reference_np(power: list[float], hz: float = 1.0) -> float:
    if not power:
        return 0.0
    hz = hz if hz > 0 else 1.0
    window = max(int(30.0 * hz), 1)
    if len(power) < window:
        return sum(power) / len(power)
    rolling = []
    s = 0.0
    for i, x in enumerate(power):
        s += x
        if i >= window:
            s -= power[i - window]
        rolling.append(s / window if i + 1 >= window else s / (i + 1))
    m4 = sum(r**4 for r in rolling) / len(rolling)
    return m4**0.25


def _quantile_linear(sorted_vals: list[float], q: float) -> float:
    if not sorted_vals:
        return 0.0
    n = len(sorted_vals)
    idx = q * (n - 1)
    lo, hi = int(idx), min(int(idx) + 1, n - 1)
    if lo == hi:
        return sorted_vals[lo]
    w = idx - lo
    return sorted_vals[lo] * (1 - w) + sorted_vals[hi] * w


def reference_precision_watt(power: list[float], hz: float = 1.0) -> float:
    if not power:
        return 0.0
    hz = hz if hz > 0 else 1.0
    window = min(max(int(30.0 * hz), 1), len(power))
    rolling = []
    s = 0.0
    for i, x in enumerate(power):
        s += x
        if i >= window:
            s -= power[i - window]
        rolling.append(s / window if i + 1 >= window else s / (i + 1))
    resid = sorted(p - m for p, m in zip(power, rolling))
    iqr = abs(_quantile_linear(resid, 0.75) - _quantile_linear(resid, 0.25))
    sigma = iqr / 1.349 if iqr > 0 else 0.0
    return sigma / window**0.5


def reference_pa_hr(hr: list[float], power: list[float]) -> float:
    if not hr or not power:
        return 0.0
    avg_hr = sum(hr) / len(hr)
    if avg_hr <= 0:
        return 0.0
    wpb_session = (sum(power) / len(power)) / avg_hr
    series = sorted(p / h for h, p in zip(hr, power) if h > 0)
    if series:
        n = len(series)
        baseline = series[n // 2] if n % 2 else (series[n // 2 - 1] + series[n // 2]) / 2
    else:
        baseline = wpb_session
    return wpb_session / baseline if baseline > 0 else 0.0
