"""Reference-golden parity for the session metrics block.

Inputs: the reference's OWN golden test corpus
(/root/reference/core/tests/golden/data/sess0*_streams.csv, header
time,hr,watts) and expected values with tolerances
(.../expected/sess01_expected.json: NP ±0.5, IF ±0.05, VI ±0.05,
Pa:Hr ±0.05, W/beat ±0.1) — SURVEY.md §5 / BASELINE.md.

Every session is additionally checked against the pure-Python twins
(faithful ports of metrics.rs semantics) to machine precision of the
round-2 contract. Synthetic sessions built in this file join the golden
ones, so the twin check runs even without the reference checkout.
"""

import csv
import json
import math

import pytest
from conftest import REFERENCE_DIR, reference_path
from pyspark.sql import types as T

from cyclegraph_spark.operators.metrics import (
    reference_np,
    reference_pa_hr,
    reference_precision_watt,
    session_metrics,
)

GOLDEN = REFERENCE_DIR / "core/tests/golden"

SCHEMA = T.StructType(
    [
        T.StructField("activity_id", T.StringType()),
        T.StructField("t", T.DoubleType()),
        T.StructField("hr", T.DoubleType()),
        T.StructField("watts", T.DoubleType()),
    ]
)


def _synthetic_series():
    """sid → (hr, watts) at 1 Hz: one session longer than the 30 s NP
    window with a zero-power coast, and one shorter than the window."""
    n = 180
    long_hr = [125.0 + 20.0 * math.sin(i / 23.0) + (i % 5) for i in range(n)]
    long_w = [
        0.0 if 60 <= i < 75 else 190.0 + 70.0 * math.sin(i / 9.0) + (i % 7) * 4.0
        for i in range(n)
    ]
    short_hr = [140.0 + (i % 3) for i in range(20)]
    short_w = [150.0 + 10.0 * (i % 4) for i in range(20)]
    return {"syn_long": (long_hr, long_w), "syn_short": (short_hr, short_w)}


def _load_sessions():
    series = _synthetic_series()
    rows = [
        (sid, float(i), h, w)
        for sid, (hrs, ws) in series.items()
        for i, (h, w) in enumerate(zip(hrs, ws))
    ]
    for p in sorted(GOLDEN.glob("data/sess0*_streams.csv")):
        sid = p.stem.replace("_streams", "")
        hrs, ws = [], []
        with open(p) as f:
            for r in csv.DictReader(f):
                rows.append((sid, float(r["time"]), float(r["hr"]), float(r["watts"])))
                hrs.append(float(r["hr"]))
                ws.append(float(r["watts"]))
        series[sid] = (hrs, ws)
    return rows, series


@pytest.fixture(scope="module")
def metrics_rows(spark):
    rows, series = _load_sessions()
    df = spark.createDataFrame(rows, SCHEMA)
    out = {r.activity_id: r for r in session_metrics(df, ftp=250.0).collect()}
    return out, series


def test_sess01_matches_reference_golden(metrics_rows):
    out, _ = metrics_rows
    exp = json.loads(
        reference_path("core/tests/golden/expected/sess01_expected.json").read_text()
    )
    got = out["sess01"]
    assert abs(got.np - exp["np"]["value"]) <= exp["np"]["tol"]
    assert abs(got["if_"] - exp["if"]["value"]) <= exp["if"]["tol"]
    assert abs(got.vi - exp["vi"]["value"]) <= exp["vi"]["tol"]
    assert abs(got.pa_hr - exp["pa_hr"]["value"]) <= exp["pa_hr"]["tol"]
    assert abs(got.w_per_beat - exp["w_per_beat"]["value"]) <= exp["w_per_beat"]["tol"]


def test_all_sessions_match_python_twins(metrics_rows):
    out, series = metrics_rows
    for sid, (hrs, ws) in series.items():
        got = out[sid]
        assert abs(got.np - round(reference_np(ws), 2)) <= 0.01, sid
        assert abs(got.pa_hr - round(reference_pa_hr(hrs, ws), 2)) <= 0.01, sid
        assert (
            abs(got.precision_watt - round(reference_precision_watt(ws), 4)) <= 1e-3
        ), sid
        avg_p, avg_h = sum(ws) / len(ws), sum(hrs) / len(hrs)
        assert abs(got.avg_power - round(avg_p, 2)) <= 0.01
        assert abs(got.w_per_beat - round(avg_p / avg_h, 2)) <= 0.01


def test_np_window_semantics_long_series(spark):
    """>window series exercises the warm-up + sliding branches."""
    import math

    ws = [100.0 + 50.0 * math.sin(i / 7.0) + (i % 13) for i in range(200)]
    hrs = [120.0 + (i % 9) for i in range(200)]
    rows = [("long", float(i), hrs[i], ws[i]) for i in range(200)]
    df = spark.createDataFrame(rows, SCHEMA)
    got = session_metrics(df).collect()[0]
    assert abs(got.np - round(reference_np(ws), 2)) <= 0.01
    assert abs(got.precision_watt - round(reference_precision_watt(ws), 4)) <= 1e-3
    assert got.vi == round(round(reference_np(ws), 10) / (sum(ws) / len(ws)), 2) or (
        abs(got.vi - round(reference_np(ws) / (sum(ws) / len(ws)), 2)) <= 0.01
    )


def test_status_classification(spark):
    rows = (
        [("low", float(i), 150.0, 100.0) for i in range(5)]  # eff<1 -> Lav effekt
        + [("high", float(i), 180.0, 300.0) for i in range(5)]  # hr>170 -> Høy puls
        + [("ok", float(i), 140.0, 200.0) for i in range(5)]
    )
    df = spark.createDataFrame(rows, SCHEMA)
    got = {r.activity_id: r.status for r in session_metrics(df).collect()}
    assert got == {"low": "Lav effekt", "high": "Høy puls", "ok": "OK"}
