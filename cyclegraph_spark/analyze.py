"""Hourly weather as an as-of join — the reference's nearest-record
lookup (cli/weather_metrics.py:64-148) as a distributed join of session
anchors against an hourly weather table. Registry query
``j2_weather_context`` uses it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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
