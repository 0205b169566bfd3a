"""Gap-based sessionization: a user's session closes when the user is
idle longer than ``gap_s`` seconds.

The reference's incremental import groups samples into activity sessions
by inactivity gaps between timestamps (its cli/strava_import.py:289-313
resumes at the last-seen boundary; session boundaries themselves are the
reference's CSV-file granularity).

``sessionize_batch`` is pure DataFrame: lag(ts) over (user, ts),
gap-exceeded marks start a new session, running sum of marks is the
session ordinal, one groupBy aggregates the session row. Two shuffles
(window + agg) both keyed on user_id, so AQE coalesces them into the
same exchange where possible. Registry query ``w8_sessionize_gap``
runs it under the DuckDB gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize_batch(
    events: DataFrame,
    gap_s: int = 21600,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """(user, session ordinal) rows with start/end/count/sum.

    Output: (user_id, sess_id, session_start, session_end, n_events,
    total_value); sess_id is the 1-based per-user session ordinal.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col)
    prev = F.lag(ts_col).over(w)
    # microsecond-exact gap test: unix_timestamp() truncates to whole
    # seconds, so a gap of gap_s + 0.4s would NOT open a session while
    # any sub-second-aware twin (the Python twin, the DuckDB oracle)
    # says it does — found as an off-by-one-session at sf0.1
    new_sess = F.when(
        prev.isNull()
        | (
            F.unix_micros(F.col(ts_col).cast("timestamp"))
            - F.unix_micros(prev.cast("timestamp"))
            > gap_s * 1_000_000
        ),  # testdata carries TIMESTAMP_NTZ; session tz is pinned UTC
        F.lit(1),
    ).otherwise(F.lit(0))
    marked = events.select(
        F.col(user_col).alias("user_id"),
        F.col(ts_col).alias("ts"),
        F.col(value_col).alias("value"),
        new_sess.alias("new_s"),
    )
    sess = marked.withColumn(
        "sess_id",
        F.sum("new_s").over(
            Window.partitionBy("user_id").orderBy("ts").rowsBetween(
                Window.unboundedPreceding, 0
            )
        ),
    )
    return sess.groupBy("user_id", "sess_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("total_value"),
    )
