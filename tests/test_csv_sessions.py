"""S1-S3 tolerant CSV source: alias headers, delimiters, encodings,
decimal commas, km/h inference — against generated fixture files and the
reference's own golden CSVs."""

from conftest import reference_path

from cyclegraph_spark.operators.metrics import session_metrics
from cyclegraph_spark.sources.csv_sessions import (
    filter_valid_samples,
    read_session_csv,
    sniff_format,
)

SESS01 = "core/tests/golden/data/sess01_streams.csv"


def test_reference_golden_outdoor_csv(spark):
    """tests/data/golden_outdoor.csv: time_s,latitude,longitude,v_ms,hr,watts
    — 'time_s' isn't an alias; falls back to row index; other cols map."""
    df = read_session_csv(spark, str(reference_path("tests/data/golden_outdoor.csv")))
    rows = df.collect()
    assert len(rows) > 0
    assert all(r.watts is not None and r.hr is not None for r in rows)
    assert all(r.latitude is not None for r in rows)


def test_reference_rust_golden_csv(spark):
    df = read_session_csv(spark, str(reference_path(SESS01)))
    rows = df.collect()
    assert len(rows) == 30
    assert rows[0].t is not None
    assert {round(r.watts) for r in rows} == {195}


def test_alias_semicolon_cp1252_decimal_comma(spark, tmp_path):
    p = tmp_path / "weird.csv"
    body = "Tid;Puls;Watt\n"  # no alias for Tid -> index; Puls->hr alias? no
    # use real aliases with semicolons, cp1252 chars, decimal commas
    body = "time;pulse;power_w;speed\n0;120;200,5;36\n1;121;201,5;54\nøst;122;x;40\n"
    p.write_bytes(body.encode("cp1252"))
    enc, delim = sniff_format(str(p))
    assert delim == ";"
    df = read_session_csv(spark, str(p))
    rows = df.collect()
    assert rows[0].watts == 200.5  # decimal comma parsed
    assert rows[0].hr == 120.0  # 'pulse' alias
    assert rows[0].v_ms == 36.0  # <=50 stays m/s... (36 <= 50)
    assert rows[1].v_ms == 15.0  # 54 km/h -> 15 m/s
    assert rows[2].t is None or rows[2].watts is None  # unparseable -> NULL, no crash


def test_latin1_fallback_and_filter(spark, tmp_path):
    p = tmp_path / "latin.csv"
    p.write_bytes(b"t,hr,watts,moving\n0,120,200,1\n1,0,0,0\n2,,300,1\n3,130,250,yes\n")
    df = read_session_csv(spark, str(p))
    valid = filter_valid_samples(df).collect()
    # row1: moving=0 dropped; row2: hr null dropped
    assert {r.t for r in valid} == {0.0, 3.0}


def test_end_to_end_csv_to_metrics(spark):
    """S1 → metrics: the reference CLI's main analysis path, distributed."""
    df = read_session_csv(spark, str(reference_path(SESS01)))
    df = df.withColumn("activity_id", df.t * 0 + 1)  # single session
    out = session_metrics(df, ftp=250.0).collect()[0]
    assert abs(out.np - 195.0) <= 0.5
    assert abs(out["if_"] - 0.78) <= 0.05
    assert abs(out.w_per_beat - 1.4498) <= 0.1
