"""E2E analysis against the reference's OWN golden variant CSVs
(tests/test_golden*.py analog, SURVEY.md §5): outdoor (GPS+speed+power),
indoor (power only), hr-only (LIMITED mode) — required report fields
(docs/schema.md:10-11), status/reason enums, and series invariants."""

import json

import pytest
from conftest import reference_path
from pyspark.sql import functions as F

from cyclegraph_spark.analyze import analyze_sessions, per_sample_series
from cyclegraph_spark.sources.csv_sessions import read_session_csv

REQUIRED = [
    "session_id", "duration_s", "samples", "avg_power", "np", "if_", "vi",
    "pa_hr", "w_per_beat", "precision_watt", "calibrated", "status",
    "schema_version",
]


def _weather():
    doc = json.loads(reference_path("tests/data/golden_weather.json").read_text())
    s0 = doc["samples"][0]
    return {
        "wind_ms": s0["wind_ms"],
        "wind_dir_deg": s0["wind_dir_deg"],
        "air_temp_c": s0["air_temp_c"],
        "air_pressure_hpa": s0["air_pressure_hpa"],
    }


@pytest.fixture(scope="module")
def golden_samples(spark):
    parts = []
    for name in ("golden_outdoor", "golden_indoor", "golden_hr_only"):
        df = read_session_csv(spark, str(reference_path(f"tests/data/{name}.csv"))).withColumn(
            "activity_id", F.lit(name)
        )
        parts.append(df)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.cache()


def test_reports_have_required_contract(spark, golden_samples):
    reports = analyze_sessions(golden_samples, weather=_weather())
    rows = {r.session_id: r for r in reports.collect()}
    assert set(rows) == {"golden_outdoor", "golden_indoor", "golden_hr_only"}
    for c in REQUIRED:
        assert c in reports.columns, f"missing required field {c}"
    assert all(r.schema_version == "0.7.0" for r in rows.values())

    outdoor, indoor, hr_only = (
        rows["golden_outdoor"], rows["golden_indoor"], rows["golden_hr_only"]
    )
    # analyzable sessions: full metric block, sane ranges, status enum
    for r in (outdoor, indoor):
        assert r.ok and r.np is not None and r.np > 0
        assert 0 < r["if_"] < 2.0
        # VI can dip below 1 when len≈window (warm-up rolling means sit
        # below the session average — reference semantics, metrics.rs:199-204)
        assert 0.5 < r.vi < 2.0
        assert r.status in ("OK", "Lav effekt", "Høy puls")
    # LIMITED mode (lib.rs:75-81): no power stream
    assert hr_only.ok is False
    assert hr_only.reason == "no_power_stream"
    assert hr_only.status == "LIMITED"
    assert hr_only.np is None


def test_outdoor_series_invariants(spark, golden_samples):
    """tests/test_golden.py:54-112 analog: v_rel > v_mid − wind_rel-ish
    invariants on the outdoor series, computed with the golden weather."""
    outdoor = golden_samples.filter(F.col("activity_id") == "golden_outdoor")
    series = per_sample_series(outdoor, weather=_weather()).collect()
    assert len(series) > 0
    for r in series:
        v = max(r.v_ms or 0.0, 0.0)
        assert r.v_rel >= 0.1 - 1e-9  # floor clamp (physics.rs:280)
        assert abs(r.v_rel - max(v - r.wind_rel, 0.1)) < 1e-9
        assert r.power >= 0.0


def test_indoor_uses_device_watts(spark, golden_samples):
    """Indoor (no speed): metrics must come from the device power stream,
    not the physics model (which would be ~0 W at v=0)."""
    reports = analyze_sessions(golden_samples)
    indoor = next(r for r in reports.collect() if r.session_id == "golden_indoor")
    # golden_indoor watts are ~190-260 range
    assert indoor.avg_power > 100


def _ramp_samples(spark, act_id: str, n_sec: int, watts: float = 300.0):
    rows = [(act_id, t, watts, 120.0) for t in range(n_sec)]
    return spark.createDataFrame(
        rows, "activity_id string, t long, watts double, hr double"
    )


def test_ftp_floor_short_session_falls_back_to_default(spark):
    """cli/analyze.py:233-236: windows with span < 1195 s are NOT accepted
    — a 10-min ride has no qualifying window, so ftp_auto must be NULL and
    the report falls back to DEFAULT_FTP (if_ = np / 250)."""
    from cyclegraph_spark.analyze import DEFAULT_FTP, resolve_ftp

    short = _ramp_samples(spark, "short", 600, watts=300.0)
    ftp = resolve_ftp(short).collect()
    assert len(ftp) == 1 and ftp[0].ftp_auto is None

    report = next(
        r for r in analyze_sessions(short).collect() if r.session_id == "short"
    )
    # constant 300 W: np == 300 → if_ must be computed against DEFAULT_FTP
    assert report.np == pytest.approx(300.0, abs=1.0)
    assert report["if_"] == pytest.approx(round(report.np / DEFAULT_FTP, 3), abs=1e-9)


def test_ftp_floor_long_session_uses_auto_estimate(spark):
    """A >=1195 s constant-power session qualifies: ftp_auto = 0.95 * avg."""
    from cyclegraph_spark.analyze import resolve_ftp

    long_ = _ramp_samples(spark, "long", 1400, watts=200.0)
    ftp = {r.activity_id: r.ftp_auto for r in resolve_ftp(long_).collect()}
    assert ftp["long"] == pytest.approx(0.95 * 200.0, abs=1e-6)


def test_ftp_floor_matches_reference_twin(spark):
    """Exact parity vs the reference two-pointer loop (estimate_ftp_20min95,
    cli/analyze.py:215-237) on a ramp that makes warm-up windows the max:
    watts DECREASE over time, so an unfloored implementation would pick an
    early short window and overestimate."""
    n = 1500
    rows = [("ramp", t, 400.0 - 0.2 * t) for t in range(n)]
    df = spark.createDataFrame(rows, "activity_id string, t long, watts double")
    from cyclegraph_spark.analyze import resolve_ftp

    got = resolve_ftp(df).collect()[0].ftp_auto

    # reference twin (two-pointer with the 1195 s acceptance floor)
    t = [r[1] for r in rows]
    w = [r[2] for r in rows]
    left, pow_sum, best = 0, 0.0, 0.0
    for right in range(n):
        pow_sum += w[right]
        while t[right] - t[left] + 1.0 > 1200.0 and left < right:
            pow_sum -= w[left]
            left += 1
        if t[right] - t[left] + 1.0 >= 1195.0:
            avg = pow_sum / max(1.0, right - left + 1)
            best = max(best, avg)
    assert got == pytest.approx(best * 0.95, rel=1e-12)


def test_weather_dimension_equals_dict_path(spark, golden_samples):
    """The hourly weather DIMENSION path (weather_asof → per-activity
    columns, cli/weather_metrics.py:83-148) must produce byte-identical
    reports to the session-level dict path when the record nearest each
    session start carries the golden weather; decoy hours carry junk, so
    a wrong pick changes the physics-modeled power."""
    wx = _weather()
    golden_row = (
        0,
        float(wx["wind_ms"]),
        float(wx["wind_dir_deg"]),
        float(wx["air_temp_c"]),
        float(wx["air_pressure_hpa"]),
    )
    decoys = [
        (3600 * (i + 1), 19.0, 271.0, -30.0, 870.0) for i in range(6)
    ]
    wdf = spark.createDataFrame(
        [golden_row, *decoys],
        "t_w long, wind_ms double, wind_dir_deg double,"
        " air_temp_c double, air_pressure_hpa double",
    )
    via_dict = {
        r.session_id: r for r in analyze_sessions(golden_samples, weather=wx).collect()
    }
    via_dim = {
        r.session_id: r
        for r in analyze_sessions(golden_samples, weather_df=wdf).collect()
    }
    assert set(via_dim) == set(via_dict)
    for sid, a in via_dict.items():
        assert via_dim[sid] == a, f"{sid}: {via_dim[sid]} != {a}"


def test_weather_asof_out_of_range_clamps_to_boundary(spark):
    """Anchors outside the table range must get the globally nearest
    record — the first/last row (reference _nearest_index scans all)."""
    from cyclegraph_spark.analyze import weather_asof

    wdf = spark.createDataFrame(
        [(7200, 1.0, 10.0, 5.0, 1000.0), (10800, 2.0, 20.0, 6.0, 1001.0),
         (14400, 3.0, 30.0, 7.0, 1002.0)],
        "t_w long, wind_ms double, wind_dir_deg double,"
        " air_temp_c double, air_pressure_hpa double",
    )
    anchors = spark.createDataFrame(
        [("before", 0), ("inside", 10700), ("after", 999999)],
        "activity_id string, t long",
    )
    got = {r.activity_id: r.wind_ms for r in weather_asof(anchors, wdf).collect()}
    assert got == {"before": 1.0, "inside": 2.0, "after": 3.0}
