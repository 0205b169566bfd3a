"""Report-level batch analytics — the 28-day baseline and badges v2.2
that registry query ``a17_badges_v22`` composes.

Reference semantics:
- J4 28-day baseline (cli/session.py:995-1022): candidates = history
  where date ∈ (cur−28d, cur) and duration ∈ [0.75, 1.25]×cur;
  baseline = exact median w_per_beat.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_baseline_28d(
    reports: DataFrame,
    date_col: str = "report_date",
    dur_col: str = "duration_s",
    wpb_col: str = "w_per_beat",
    key_cols: tuple[str, ...] = (),
) -> DataFrame:
    """J4: per report, exact-median w_per_beat over the prior 28 days
    within the ±25% duration band; NULL when no candidates (the
    reference returns None and skips the ratio)."""
    cur = reports
    hist = reports.select(
        *[F.col(k).alias(f"_h_{k}") for k in key_cols],
        F.col(date_col).alias("_h_date"),
        F.col(dur_col).alias("_h_dur"),
        F.col(wpb_col).alias("_h_wpb"),
        F.col("session_id").alias("_h_sid") if "session_id" in reports.columns else F.lit(None).alias("_h_sid"),
    )
    cond = (
        (F.col("_h_date") < F.col(date_col))
        & (F.col("_h_date") >= F.date_sub(F.col(date_col), 28))
        & (F.col("_h_dur") >= F.col(dur_col) * 0.75)
        & (F.col("_h_dur") <= F.col(dur_col) * 1.25)
    )
    for k in key_cols:
        cond = cond & (F.col(f"_h_{k}") == F.col(k))
    joined = cur.join(hist, cond, "left")
    group_cols = [c for c in cur.columns]
    agg = joined.groupBy(*group_cols).agg(
        F.round(F.percentile("_h_wpb", 0.5), 4).alias("baseline_wpb"),
        F.count("_h_wpb").alias("baseline_n"),
    )
    return agg.withColumn(
        "wpb_vs_baseline",
        F.when(
            F.col("baseline_wpb") > 0,
            F.round(F.col(wpb_col) / F.col("baseline_wpb"), 4),
        ),
    )


def with_badges_v22(
    reports: DataFrame,
    wpb_col: str = "w_per_beat",
    baseline_col: str = "baseline_wpb",
    dur_col: str = "duration_s",
    vi_col: str = "vi",
    pa_hr_col: str = "pa_hr",
    precision_col: str = "precision_watt",
    calibrated_col: str = "calibrated",
    samples_col: str = "n_samples",
) -> DataFrame:
    """Badges v2.2 (reference docs/CGS_v1.md "Badges (v2.2)"; apply hook
    cli/session.py:1941-1942) as three null-safe boolean flag columns:

    - **Big Engine**: WpB ≥ baseline × 1.06 AND duration ≥ 30 min.
      No baseline ("Ingen baseline" degrade rule) → no badge.
    - **Metronome**: VI ≤ 1.05 AND Pa:Hr ≤ 1.05.
    - **Dialed In** (v2.2): calibrated == true AND PrecisionWatt ≤ ±3 W
      AND samples ≥ 30.

    A NULL in any contributing metric never awards the badge (the
    reference's missing-HR / hr_only degrade rules skip the indicator).
    """

    def _flag(c):
        return F.coalesce(c, F.lit(False))

    big = (F.col(wpb_col) >= F.col(baseline_col) * 1.06) & (
        F.col(dur_col) >= 1800.0
    )
    metronome = (F.col(vi_col) <= 1.05) & (F.col(pa_hr_col) <= 1.05)
    dialed = (
        F.col(calibrated_col)
        & (F.col(precision_col) <= 3.0)
        & (F.col(samples_col) >= 30)
    )
    return (
        reports.withColumn("badge_big_engine", _flag(big))
        .withColumn("badge_metronome", _flag(metronome))
        .withColumn("badge_dialed_in", _flag(dialed))
    )
