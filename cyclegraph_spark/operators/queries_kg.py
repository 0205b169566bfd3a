"""Driver-gate queries for the KG factory core: triple lifting (with a
full ANSI-SQL oracle of the reference mapper semantics), SHACL-as-SQL
violation counts, and rows-only checks for the HTML/linking/CC stages
(their exactness parity lives in tests/, vs single-node oracles).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cyclegraph_spark.operators.queries import query
from cyclegraph_spark.tables import load

# the stream-shaped projection of events used by entry() and these gates
_STREAM_SQL = """
      SELECT user_id::VARCHAR AS activity_id,
             event_id::VARCHAR AS idx,
             floor(epoch(ts))::VARCHAR AS time_s,
             ROUND(value % 100 + 60, 0)::VARCHAR AS hr,
             ROUND(value * 3, 0)::VARCHAR AS watts,
             CASE WHEN event_type = 'view' THEN '1' ELSE '0' END AS moving,
             value::VARCHAR AS altitude
      FROM events WHERE event_id % 20 = 0
"""


def _stream_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").filter(F.col("event_id") % 20 == 0)
    return ev.select(
        F.col("user_id").cast("string").alias("activity_id"),
        F.col("event_id").cast("string").alias("index"),
        F.unix_timestamp(F.col("ts").cast("timestamp")).cast("string").alias("time_s"),
        F.round(F.col("value") % 100 + 60, 0).cast("string").alias("hr"),
        F.round(F.col("value") * 3, 0).cast("string").alias("watts"),
        F.when(F.col("event_type") == "view", F.lit("1")).otherwise(F.lit("0")).alias("moving"),
        F.col("value").cast("string").alias("altitude"),
    )


# the full reference-mapper lift in SQL (shared by the stream-triples
# gate and the node-table gate)
_TRIPLES_SQL = f"""
    WITH s AS ({_STREAM_SQL}),
    u AS (
      SELECT concat('https://cyclegraph.dev/sample/', trim(activity_id), '/',
                    CASE WHEN trim(idx) = '' THEN 'unknown' ELSE trim(idx) END) AS subj,
             * FROM s
    )
    -- unconditional relation (csv_to_rdf.py:19)
    SELECT subj, 'https://cyclegraph.dev/ns#activity' AS pred,
           concat('https://cyclegraph.dev/activity/', trim(activity_id)) AS obj,
           'uri' AS obj_dtype
    FROM u
    UNION ALL  -- int via int(float(x)), skip on error (csv_to_rdf.py:22-43)
    SELECT subj, 'https://cyclegraph.dev/ns#timeS',
           TRUNC(TRY_CAST(trim(time_s) AS DOUBLE))::BIGINT::VARCHAR,
           'http://www.w3.org/2001/XMLSchema#integer'
    FROM u WHERE trim(time_s) != '' AND TRY_CAST(trim(time_s) AS DOUBLE) IS NOT NULL
    UNION ALL
    SELECT subj, 'https://cyclegraph.dev/ns#heartRate',
           TRUNC(TRY_CAST(trim(hr) AS DOUBLE))::BIGINT::VARCHAR,
           'http://www.w3.org/2001/XMLSchema#integer'
    FROM u WHERE trim(hr) != '' AND TRY_CAST(trim(hr) AS DOUBLE) IS NOT NULL
    UNION ALL
    SELECT subj, 'https://cyclegraph.dev/ns#power',
           TRUNC(TRY_CAST(trim(watts) AS DOUBLE))::BIGINT::VARCHAR,
           'http://www.w3.org/2001/XMLSchema#integer'
    FROM u WHERE trim(watts) != '' AND TRY_CAST(trim(watts) AS DOUBLE) IS NOT NULL
    UNION ALL  -- bool truthy sets, raw fallthrough (csv_to_rdf.py:45-54)
    SELECT subj, 'https://cyclegraph.dev/ns#moving',
           CASE WHEN lower(trim(moving)) IN ('true', '1') THEN 'true'
                WHEN lower(trim(moving)) IN ('false', '0') THEN 'false'
                ELSE trim(moving) END,
           'http://www.w3.org/2001/XMLSchema#boolean'
    FROM u WHERE trim(moving) != ''
    UNION ALL  -- float (csv_to_rdf.py:57-62)
    SELECT subj, 'https://cyclegraph.dev/ns#altitude',
           TRY_CAST(trim(altitude) AS DOUBLE)::VARCHAR,
           'http://www.w3.org/2001/XMLSchema#float'
    FROM u WHERE trim(altitude) != '' AND TRY_CAST(trim(altitude) AS DOUBLE) IS NOT NULL
"""


# --------------------------------------------------------------------------
# P1 — the flagship triple mapper under the DuckDB gate (full SQL oracle)
# --------------------------------------------------------------------------
@query(
    "kg_stream_triples",
    oracle=f"""
    SELECT * FROM ({_TRIPLES_SQL}) ORDER BY subj, pred, obj
    """,
)
def kg_stream_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 (csv_to_rdf.py:12-62): the record→RDF mapper itself under the
    DuckDB gate — URI minting, typed coercion, skip-on-error."""
    from cyclegraph_spark.operators.triples import lift_stream_rows

    return lift_stream_rows(_stream_df(spark, sf_dir)).orderBy("subj", "pred", "obj")


# --------------------------------------------------------------------------
# node table — the store's per-entity companion artifact, full SQL oracle
# --------------------------------------------------------------------------
@query(
    "kg_node_table",
    oracle=f"""
    WITH t AS ({_TRIPLES_SQL}),
    subs AS (
      SELECT subj AS id, COUNT(*) AS n_out,
             COUNT(DISTINCT CASE WHEN pred =
               'http://www.w3.org/1999/02/22-rdf-syntax-ns#type'
               THEN obj END) AS n_types,
             MIN(CASE WHEN pred = 'http://schema.org/name' THEN obj END) AS name
      FROM t GROUP BY subj
    ),
    objs AS (
      SELECT obj AS id, COUNT(*) AS n_in FROM t
      WHERE obj_dtype = 'uri' GROUP BY obj
    )
    SELECT COALESCE(s.id, o.id) AS id,
           COALESCE(n_out, 0)::BIGINT AS n_out,
           COALESCE(n_in, 0)::BIGINT AS n_in,
           COALESCE(n_types, 0)::BIGINT AS n_types,
           name
    FROM subs s FULL OUTER JOIN objs o ON s.id = o.id
    ORDER BY id
    """,
)
def kg_node_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Node table over the lifted stream triples: degree profile +
    display name per node (the north rule's "node tables" companion to
    the triple store; in the pipeline it is derived from the
    materialized store and written partitionBy(bucket), plans/
    pipeline.py). Two map-side-combined aggs + one full-outer join —
    no self-join, hot nodes are one row per agg."""
    from cyclegraph_spark.operators.nodes import node_table
    from cyclegraph_spark.operators.triples import lift_stream_rows

    triples = lift_stream_rows(_stream_df(spark, sf_dir))
    return node_table(triples).orderBy("id")


# --------------------------------------------------------------------------
# M3 — SHACL constraint counts under the DuckDB gate
# --------------------------------------------------------------------------
@query(
    "kg_shacl_counts",
    oracle=f"""
    WITH s AS ({_STREAM_SQL}),
    u AS (
      SELECT concat('https://cyclegraph.dev/sample/', trim(activity_id), '/',
                    CASE WHEN trim(idx) = '' THEN 'unknown' ELSE trim(idx) END) AS subj,
             * FROM s
    ),
    power_rows AS (
      SELECT subj, TRUNC(TRY_CAST(trim(watts) AS DOUBLE))::BIGINT::VARCHAR AS obj
      FROM u WHERE trim(watts) != '' AND TRY_CAST(trim(watts) AS DOUBLE) IS NOT NULL
    ),
    counts AS (
      SELECT u.subj, COUNT(p.obj) AS n
      FROM (SELECT DISTINCT subj FROM u) u LEFT JOIN power_rows p USING (subj)
      GROUP BY u.subj
    )
    SELECT 'minCount' AS "constraint", COUNT(*) AS n_violations
    FROM counts WHERE n < 1
    UNION ALL
    SELECT 'maxCount', COUNT(*) FROM counts WHERE n > 1
    UNION ALL
    -- every emitted power triple is xsd:integer; the shape demands float
    SELECT 'datatype', COUNT(*) FROM power_rows
    ORDER BY "constraint"
    """,
)
def kg_shacl_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHACL minCount/maxCount/datatype compiled to SQL predicates
    (validation.py + session_shape.ttl semantics) over the lifted stream
    triples, with cg:Sample type rows synthesized for targeting."""
    from cyclegraph_spark.operators.shacl import (
        RDF_TYPE,
        NodeShape,
        PropertyShape,
        validate,
    )
    from cyclegraph_spark.operators.triples import CG, lift_stream_rows

    triples = lift_stream_rows(_stream_df(spark, sf_dir))
    types = triples.select("subj").distinct().select(
        "subj",
        F.lit(RDF_TYPE).alias("pred"),
        F.lit(CG + "Sample").alias("obj"),
        F.lit("uri").alias("obj_dtype"),
    )
    shape = NodeShape(
        name=CG + "SampleShape",
        target_class=CG + "Sample",
        properties=[
            PropertyShape(
                path=CG + "power",
                datatype="http://www.w3.org/2001/XMLSchema#float",
                min_count=1,
                max_count=1,
                message="Power must be a single float value.",
            )
        ],
    )
    report = validate(triples.unionByName(types), [shape])
    counts = report.groupBy("constraint").agg(F.count(F.lit(1)).alias("_n"))
    kinds = spark.createDataFrame(
        [("datatype",), ("maxCount",), ("minCount",)], "constraint string"
    )
    return (
        kinds.join(counts, "constraint", "left")
        .select("constraint", F.coalesce(F.col("_n"), F.lit(0)).alias("n_violations"))
        .orderBy("constraint")
    )


# --------------------------------------------------------------------------
# HTML lift / linking / CC over the seeded corpus, gated against literal
# VALUES oracles generated by the single-node twins (parse_islands +
# reference coercion, reference_link over extract_text, union-find) —
# tools/gen_value_oracles.py; the inputs are pure functions of page id,
# so the oracle tables are stable at any sf_dir.
# --------------------------------------------------------------------------
from cyclegraph_spark.operators.oracles_values import VALUES_ORACLES


@query("kg_html_lift", oracle=VALUES_ORACLES["kg_html_lift"])
def kg_html_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2: microdata/RDFa/JSON-LD lifting over 500 deterministic synthetic
    pages (exact parity vs the single-node oracle in tests/test_triples)."""
    from cyclegraph_spark.operators.triples import lift_html_pages
    from cyclegraph_spark.sources.pages import pages_df

    return (
        lift_html_pages(pages_df(spark, 500, partitions=8))
        .groupBy("pred", "obj_dtype")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("pred", "obj_dtype")
    )


@query("kg_entity_links", oracle=VALUES_ORACLES["kg_entity_links"])
def kg_entity_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyclegraph_spark.operators.linking import link_mentions
    from cyclegraph_spark.sources.pages import alias_df, pages_with_text

    pages = pages_with_text(spark, 300, partitions=8).select("url", "text")
    return link_mentions(pages, alias_df(spark, 1000)).orderBy("url", "pos")


@query("kg_resume_parity", oracle=VALUES_ORACLES["kg_resume_parity"])
def kg_resume_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 resume correctness under the driver gate: phase 1 runs the
    factory over only the source buckets < 4 of 240 seeded pages (its CC
    sees a sameAs SUBGRAPH, so component minima can be locally wrong);
    phase 2 resumes over the full corpus — manifest-pruning completed
    buckets, merging prior labels into CC, remapping stale store rows
    (plans/pipeline.py). Returns the RESUMED store's distinct canonical
    triple count + order-independent xor fingerprint; the VALUES oracle
    is the pure-Python twin of a FRESH full run, so any resume/fresh
    divergence is a hash mismatch. Reference analog: idempotent
    atomic-write + history resume (server/routes/sessions.py:85-96,
    cli/strava_import.py:289-313)."""
    import shutil
    import tempfile

    from cyclegraph_spark.plans.materialize import bucket
    from cyclegraph_spark.plans.pipeline import run_pipeline
    from cyclegraph_spark.sources.pages import pages_df, resume_chain_records

    n_pages, buckets = 240, 8
    out = tempfile.mkdtemp(prefix="kg_resume_parity_")
    try:
        # the seeded corpus's sameAs components are stars whose minimum
        # is visible from any bucket subset; the crafted chain pages make
        # phase 1 commit a locally-wrong canonical id that phase 2 MUST
        # remap — the gate covers the remap path, not just the pruning
        crafted = spark.createDataFrame(
            resume_chain_records(buckets),
            "url string, warc_ts long, html binary, lang string",
        ).withColumn("warc_ts", F.timestamp_seconds("warc_ts"))
        pages = pages_df(spark, n_pages, partitions=8).unionByName(crafted)
        subset = pages.filter(bucket("url", buckets) < buckets // 2)
        run_pipeline(spark, subset, out, run_id="phase1", n_buckets=buckets)
        run_pipeline(spark, pages, out, run_id="phase2", n_buckets=buckets)
        store = (
            spark.read.parquet(out + "/data")
            .select("subj", "pred", "obj", "obj_dtype")
            .distinct()
        )
        # materialize (eager) before the temp store is removed
        return store.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.bit_xor(F.xxhash64("subj", "pred", "obj", "obj_dtype")).alias("fp"),
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(out, ignore_errors=True)


@query("kg_cc_components", oracle=VALUES_ORACLES["kg_cc_components"])
def kg_cc_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyclegraph_spark.operators.cc import connected_components
    from cyclegraph_spark.operators.triples import OWL_SAMEAS, lift_html_pages
    from cyclegraph_spark.sources.pages import pages_df

    triples = lift_html_pages(pages_df(spark, 400, partitions=8))
    edges = triples.filter(F.col("pred") == OWL_SAMEAS).select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    )
    labels = connected_components(edges)
    return (
        labels.groupBy("component")
        .agg(F.count(F.lit(1)).alias("size"))
        .orderBy(F.col("size").desc(), "component")
    )
