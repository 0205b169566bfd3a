"""The triple lift under Structured Streaming."""


def test_streaming_triple_lift_matches_batch(spark, tmp_path):
    """The lift path is narrow (scan → pandas UDF → explode → coerce),
    so it runs unchanged as a Structured Streaming stage: readStream
    over the pages table → lift → append sink must produce exactly the
    batch lift's triple multiset. This is the factory's incremental
    mode — new page partitions stream through without replanning."""
    from cyclegraph_spark.operators.triples import lift_html_pages
    from cyclegraph_spark.sources.pages import pages_df

    pages = pages_df(spark, 300, partitions=4)
    src = str(tmp_path / "pages_src")
    pages.write.parquet(src)

    batch = sorted(
        (r.subj, r.pred, r.obj, r.obj_dtype)
        for r in lift_html_pages(spark.read.parquet(src)).collect()
    )

    stream = spark.readStream.schema(pages.schema).parquet(src)
    q = (
        lift_html_pages(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("lift_stream")
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(
            (r.subj, r.pred, r.obj, r.obj_dtype)
            for r in spark.sql("SELECT * FROM lift_stream").collect()
        )
    finally:
        q.stop()
    assert got == batch and len(batch) > 0
