"""The hourly-weather as-of join (``queries_analytics.weather_asof``)
that registry query ``j2_weather_context`` uses: the nearest record per
anchor, with anchors outside the table's range clamped to its boundary
rows."""


def test_weather_asof_out_of_range_clamps_to_boundary(spark):
    """Anchors outside the table range must get the globally nearest
    record — the first/last row (reference _nearest_index scans all)."""
    from cyclegraph_spark.operators.queries_analytics import weather_asof

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
