"""Tests of the benchmark's own code.

Run from the root of the repository:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import layers  # noqa: E402
import run  # noqa: E402
from twin import corpus_records, store_fingerprint  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def test_twin_matches_committed_resume_oracle():
    import duckdb

    from cyclegraph_spark.operators.oracles_values import VALUES_ORACLES

    oracle = duckdb.connect().execute(VALUES_ORACLES["kg_resume_parity"]).fetchall()
    assert [store_fingerprint(corpus_records(240, 1000, 42, 8))] == oracle


def test_resumed_corpus_keeps_the_stored_pages():
    fresh = corpus_records(40, 1000, 7, 8)
    resumed = corpus_records(40, 1000, 7, 8, old_buckets={0, 1, 2, 3}, old_seed=0)
    old = corpus_records(40, 1000, 0, 8)
    assert [r[0] for r in resumed] == [r[0] for r in fresh]
    assert resumed != fresh and resumed != old
    assert all(r in (f, o) for r, f, o in zip(resumed, fresh, old))


def test_metric_names_and_counts():
    spec = _spec()
    e2e = {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]}
    per_layer = {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]}
    assert e2e == run.END_TO_END
    assert per_layer == layers.per_layer_units()
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert 1 <= len(e2e) <= 16 and 1 <= len(per_layer) <= 128
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"] + spec["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.fullmatch(n) for n in names), [n for n in names if not NAME.fullmatch(n)]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())


def test_event_log_stats_groups_tasks_and_driver_time(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "cc"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
         "Properties": {"spark.jobGroup.id": "cc"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task End Reason": {"Reason": "Success"},
         "Task Metrics": {"Executor Run Time": 300, "Disk Bytes Spilled": 5,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 70}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1400},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1200,
         "Stage IDs": [1], "Properties": {"spark.jobGroup.id": "nodes"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task End Reason": {"Reason": "ExceptionFailure"}, "Task Metrics": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1600},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 1700,
         "Stage IDs": [2], "Properties": {"spark.jobGroup.id": "bench"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 1900},
    ]
    path = tmp_path / "log"
    path.write_text("".join(json.dumps(e) + "\n" for e in events))
    stats = layers.event_log_stats(str(path), (900, 2000))
    cc, nodes = stats["groups"]["cc"], stats["groups"]["nodes"]
    assert (cc["jobs"], cc["tasks"], cc["busy_ms"], cc["shuffle_bytes"], cc["spill_bytes"]) == (
        1, 1, 300, 70, 5)
    assert (nodes["tasks"], nodes["task_failures"]) == (1, 1)
    # layer jobs cover 1000..1600 of the 900..2000 window; "bench" is not a layer
    assert stats["driver_only_s"] == pytest.approx(0.5)


@pytest.fixture(scope="module")
def traced(tmp_path_factory):
    """One traced fresh pipeline run over 40 pages, with its event log."""
    pytest.importorskip("pyspark")
    from cyclegraph_spark.session import get_spark

    logs = tmp_path_factory.mktemp("events")
    spark = get_spark(
        app_name="perfbench-tests", master="local[2]",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + str(logs),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    bench = run.Bench(seed=3, trace=True, snapshot=None)
    bench.spark, bench.cores = spark, 2
    from cyclegraph_spark.sources.pages import alias_df, pages_df

    bench.pages = pages_df(spark, 40, 1000, 3, partitions=2).localCheckpoint(eager=True)
    bench.aliases = alias_df(spark, 1000, 3)
    bench.shapes = []
    tracer = layers.Tracer(spark)
    with tracer.installed():
        bench._pipeline(str(tmp_path_factory.mktemp("out") / "store"), "traced")
    spark.stop()
    yield tracer, layers.event_log_stats(layers.event_log_path(str(logs)), tracer.window_ms)


def test_traced_segments_sum_to_the_traced_wall_time(traced):
    tracer, _log = traced
    walls = tracer.layer_wall()
    assert sum(walls.values()) == pytest.approx(tracer.wall_s, abs=1e-6)
    # shacl is skipped without shapes; every other layer ran
    assert all(walls[layer] > 0 for layer in layers.LAYERS if layer != "shacl")
    assert tracer.bookkeeping_s < tracer.wall_s


def test_traced_jobs_land_in_layers(traced):
    tracer, log = traced
    metrics = layers.layer_metrics(tracer, log, cores=2)
    assert metrics["spark.jobs"] == sum(metrics[f"{lay}.jobs"] for lay in layers.LAYERS)
    for layer in ("extract", "triples", "cc", "linking", "materialize", "nodes"):
        assert metrics[f"{layer}.jobs"] > 0, layer
        assert metrics[f"{layer}.tasks"] > 0, layer
    assert metrics["spark.compiles"] == sum(tracer.layer_compiles().values())
    assert metrics["spark.task_failures"] == 0
    assert 0 <= metrics["spark.driver_only_s"] <= tracer.wall_s
