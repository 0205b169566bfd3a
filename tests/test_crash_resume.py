"""A resume that crashes at any write or commit point of ``run_pipeline``
and is then run again equals a resume that never crashed.

The scenario is the half-then-full resume whose crafted sameAs chain
makes the full run rewrite stale rows of the half run's buckets. Each
case copies the half run's store, crashes the full run right after one
point, runs it again cleanly, and compares the store, links, labels,
nodes and violations (count + ``bit_xor(xxhash64)``) and the manifest
with one shared run that never crashed. Every manifest entry must also
equal its bucket's fingerprint on disk.
"""

import itertools
import json
import os
import shutil
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from cyclegraph_spark.operators.shacl import NodeShape, PropertyShape
from cyclegraph_spark.operators.triples import SCHEMA, XSD_INT
from cyclegraph_spark.plans import materialize, pipeline
from cyclegraph_spark.plans.materialize import bucket
from cyclegraph_spark.plans.pipeline import run_pipeline
from cyclegraph_spark.sources.pages import alias_df, pages_df, resume_chain_records

BUCKETS = 8
OUTPUTS = ("data", "links", "labels", "nodes", "violations")


class Crash(Exception):
    """The injected crash."""


def _fingerprint(df):
    cols = ", ".join(sorted(df.columns))
    r = df.agg(F.count(F.lit(1)), F.expr(f"bit_xor(xxhash64({cols}))")).first()
    return tuple(r)


def _outputs(spark, out):
    return {name: _fingerprint(spark.read.parquet(os.path.join(out, name))) for name in OUTPUTS}


def _partitions(out):
    with open(os.path.join(out, "manifest.json"), encoding="utf-8") as f:
        return json.load(f)["partitions"]


def _on_disk(spark, out):
    """The manifest's ``partitions`` as the data on disk gives them."""
    data = spark.read.parquet(os.path.join(out, "data"))
    cols = ", ".join(c for c in data.columns if c != "part_id")  # in the store's order
    rows = data.groupBy("part_id").agg(
        F.count(F.lit(1)).alias("rows"),
        F.expr(f"bit_xor(xxhash64({cols}))").alias("xhash"),
    )
    return {str(r.part_id): {"rows": r.rows, "xhash": r.xhash} for r in rows.collect()}


@pytest.fixture(scope="module")
def resume(spark, tmp_path_factory):
    """The half run's store, the full resume's runner, and the outputs
    and manifest of a full resume that never crashed."""
    shapes = [
        NodeShape(
            "ExerciseActionShape",
            SCHEMA + "ExerciseAction",
            [PropertyShape(SCHEMA + p, XSD_INT, 1, 1) for p in ("power", "heartRate")],
        )
    ]
    aliases = alias_df(spark, 100)
    crafted = spark.createDataFrame(
        resume_chain_records(BUCKETS), "url string, warc_ts long, html binary, lang string"
    ).withColumn("warc_ts", F.timestamp_seconds("warc_ts"))
    pages = pages_df(spark, 120, n_entities=100, partitions=4).unionByName(crafted)

    def run(out, run_id, pg=pages):
        return run_pipeline(
            spark, pg, out, run_id, shapes=shapes, aliases=aliases, n_buckets=BUCKETS
        )

    base = tmp_path_factory.mktemp("crash_resume")
    half, ref = str(base / "half"), str(base / "ref")
    run(half, "p1", pages.filter(bucket("url", BUCKETS) < BUCKETS // 2))
    shutil.copytree(half, ref)
    assert "recanonicalize" in run(ref, "p2")
    return SimpleNamespace(
        run=run,
        half=half,
        outputs=_outputs(spark, ref),
        partitions=_partitions(ref),
    )


def _calls(path_end):
    """A ``write_parquet`` hit: a write whose path ends in ``path_end``."""
    return lambda df, path, *a, **k: path.endswith(path_end)


def _stage(name):
    """A ``materialize._commit`` hit: the commit of stage ``name``."""
    return lambda out_dir, run_id, stage, stats: stage == name


def _labels_rename(src, dst):
    return "labels" in os.path.basename(src)


# point -> (modules to patch, function name, hit predicate, nth hit, crash before the call)
POINTS = {
    "links write": ((materialize, pipeline), "write_parquet", _calls("links"), 1, False),
    "recanonicalize commit": ((materialize,), "_commit", _stage("recanonicalize"), 1, False),
    "recanonicalize write": ((materialize, pipeline), "write_parquet", _calls("data"), 1, False),
    "labels write": ((materialize, pipeline), "write_parquet", _calls("labels.tmp"), 1, False),
    "labels rename 1": ((os,), "rename", _labels_rename, 1, False),
    "labels rename 2": ((os,), "rename", _labels_rename, 2, False),
    "materialize write": ((materialize, pipeline), "write_parquet", _calls("data"), 2, False),
    "materialize commit": ((materialize,), "_commit", _stage("materialize"), 1, False),
    "violations write": ((materialize, pipeline), "write_parquet", _calls("violations"), 1, False),
    "nodes write": ((materialize, pipeline), "write_parquet", _calls("nodes"), 1, False),
    "lineage append": ((pipeline,), "append_lineage", lambda *a: True, 1, True),
}


def _inject(monkeypatch, modules, name, hit, nth, before):
    """Patch ``name`` on ``modules`` so that its ``nth`` call for which
    ``hit`` holds raises ``Crash``, before or after running."""
    real = getattr(modules[0], name)
    hits = itertools.count(1)

    def crashing(*args, **kwargs):
        at = hit(*args, **kwargs) and next(hits) == nth
        if at and before:
            raise Crash(name)
        out = real(*args, **kwargs)
        if at:
            raise Crash(name)
        return out

    for mod in modules:
        monkeypatch.setattr(mod, name, crashing)


def test_resume_equals_fresh_run(spark, tmp_path, resume):
    """The reference itself: the half-then-full resume writes the
    manifest and outputs of one fresh run over the whole corpus."""
    out = str(tmp_path / "fresh")
    resume.run(out, "f1")
    assert _partitions(out) == resume.partitions
    assert _outputs(spark, out) == resume.outputs


@pytest.mark.parametrize("point", list(POINTS))
def test_crashed_resume_equals_clean_resume(spark, tmp_path, monkeypatch, resume, point):
    out = str(tmp_path / "kg")
    shutil.copytree(resume.half, out)
    _inject(monkeypatch, *POINTS[point])
    with pytest.raises(Crash):  # the run reached the point
        resume.run(out, "p2")
    monkeypatch.undo()

    resume.run(out, "p2")
    assert _partitions(out) == _on_disk(spark, out)
    assert _partitions(out) == resume.partitions
    assert _outputs(spark, out) == resume.outputs
