"""P14-P16/A19 report contract."""

from pyspark.sql import functions as F
from pyspark.sql import types as T

from cyclegraph_spark.functions.report import (
    canonicalize_report_columns,
    estimated_error_pct,
    inject_schema_contract,
    loose_bool,
    precision_watt_numeric,
    weather_adjustment,
)


def test_report_canonicalization(spark):
    df = spark.createDataFrame(
        [(200.0, 0.9, "±3,2 W", "yes")],
        T.StructType([
            T.StructField("avg_watt", T.DoubleType()),
            T.StructField("IF", T.DoubleType()),
            T.StructField("PrecisionWatt", T.StringType()),
            T.StructField("ok_flag", T.StringType()),
        ]),
    )
    out = canonicalize_report_columns(df)
    assert "avg_power" in out.columns and "if_" in out.columns
    row = out.select(
        precision_watt_numeric(F.col("precision_watt")).alias("pw"),
        loose_bool(F.col("ok_flag")).alias("b"),
    ).collect()[0]
    assert row.pw == 3.2 and row.b is True


def test_schema_injection_and_reason_rule(spark):
    df = spark.createDataFrame([(True,), (False,)], "calibrated boolean")
    out = inject_schema_contract(df).collect()
    by_cal = {r.calibrated: r for r in out}
    assert by_cal[True].reason is None
    assert by_cal[False].reason == "calibration_context_missing"
    assert all(r.schema_version == "0.7.0" for r in out)


def test_weather_adjustment_and_error_heuristic(spark):
    df = spark.createDataFrame(
        [(85.0, 26.0, 990.0, 5.0), (50.0, 20.0, 1013.0, 1.0)],
        "humidity double, temp_c double, pressure double, wind double",
    )
    out = df.select(
        F.round(
            weather_adjustment(F.col("humidity"), F.col("temp_c"), F.col("pressure")), 6
        ).alias("adj"),
        *[
            v.alias(k)
            for k, v in estimated_error_pct(
                F.lit(True), F.lit(True), F.lit(False), F.lit(False), F.col("wind")
            ).items()
        ],
    ).collect()
    assert out[0].adj == round(0.95 * 0.97 * 0.98, 6)
    assert out[1].adj == 1.0
    assert out[0].estimated_error_pct == 8.0  # 18 - 8 - 2
    assert out[0].hint_windy is True and out[1].hint_windy is False

