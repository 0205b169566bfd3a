"""M6 — materialization, lineage, checkpoint manifest, idempotent resume."""

import hashlib
import json
import os

import pytest
from conftest import reference_path
from pyspark.sql import functions as F

from cyclegraph_spark.operators.shacl import NodeShape, PropertyShape
from cyclegraph_spark.operators.triples import SCHEMA, XSD_INT
from cyclegraph_spark.plans.materialize import (
    CheckpointManifest,
    bucket,
    compact_store,
    materialize_triples,
)
from cyclegraph_spark.plans.pipeline import run_pipeline
from cyclegraph_spark.sources.pages import alias_df, pages_df


@pytest.fixture()
def triples(spark):
    from cyclegraph_spark.operators.triples import lift_html_pages

    return lift_html_pages(pages_df(spark, 150, partitions=4)).withColumn(
        "part_id", bucket("src", 8)
    )


def test_materialize_and_manifest(spark, triples, tmp_path):
    out = str(tmp_path / "store")
    with pytest.raises(ValueError, match="part_id"):
        materialize_triples(triples.drop("part_id"), out, run_id="r0")
    res = materialize_triples(triples, out, run_id="r1")
    assert res["rows"] == triples.count()
    assert res["skipped"] == []
    man = json.loads((tmp_path / "store" / "manifest.json").read_text())
    assert len(man["partitions"]) == len(res["written"])
    assert os.path.exists(out + "/lineage.jsonl")
    store = spark.read.parquet(out + "/data")
    assert store.filter(F.col("part_id") != F.pmod(F.xxhash64("src"), F.lit(8))).isEmpty()
    assert man["partitions"] == {
        str(r.part_id): {"rows": r.rows, "xhash": r.xhash}
        for r in store.groupBy("part_id")
        .agg(F.count(F.lit(1)).alias("rows"),
             F.expr("bit_xor(xxhash64(src, subj, pred, obj, obj_dtype))").alias("xhash"))
        .collect()
    }


def test_manifest_digest_verifies_after_resave(tmp_path):
    """The stored sha256 digests the manifest without itself, also after
    a re-save (a resume or a recanonicalize commit)."""
    first = CheckpointManifest(str(tmp_path))
    first.record(0, 3, 11)
    first.save("r1")
    second = CheckpointManifest(str(tmp_path))
    second.record(1, 5, -7)
    second.save("r2")
    state = json.loads((tmp_path / "manifest.json").read_text())
    digest = state.pop("sha256")
    body = json.dumps(state, sort_keys=True, indent=1)
    assert digest == hashlib.sha256(body.encode()).hexdigest()
    assert state == {
        "run_id": "r2",
        "partitions": {"0": {"rows": 3, "xhash": 11}, "1": {"rows": 5, "xhash": -7}},
    }


def test_resume_skips_completed_buckets(spark, triples, tmp_path):
    out = str(tmp_path / "store")
    first = materialize_triples(triples, out, run_id="r1")
    total = spark.read.parquet(out + "/data").count()

    # full re-run: everything skipped, nothing appended
    second = materialize_triples(triples, out, run_id="r2")
    assert second["rows"] == 0
    assert second["skipped"] == first["written"]
    assert spark.read.parquet(out + "/data").count() == total


def test_partial_resume_completes_store(spark, triples, tmp_path):
    """Simulate a crash after half the buckets committed: resume writes
    exactly the missing buckets; final content equals a one-shot run."""
    out = str(tmp_path / "store")
    ref_out = str(tmp_path / "ref")
    materialize_triples(triples, ref_out, run_id="ref")
    ref_fp = {
        (r.part_id, r.rows, r.xhash)
        for r in spark.read.parquet(ref_out + "/data")
        .groupBy("part_id")
        .agg(F.count(F.lit(1)).alias("rows"),
             F.expr("bit_xor(xxhash64(src, subj, pred, obj, obj_dtype))").alias("xhash"))
        .collect()
    }

    # crashed run: only buckets 0..3 committed
    crashed = triples.filter(F.pmod(F.xxhash64(F.col("src")), F.lit(8)) < 4)
    materialize_triples(crashed, out, run_id="crash")
    assert set(CheckpointManifest(out).completed()) == {0, 1, 2, 3}

    res = materialize_triples(triples, out, run_id="resume")
    assert sorted(res["skipped"]) == [0, 1, 2, 3]
    got_fp = {
        (r.part_id, r.rows, r.xhash)
        for r in spark.read.parquet(out + "/data")
        .groupBy("part_id")
        .agg(F.count(F.lit(1)).alias("rows"),
             F.expr("bit_xor(xxhash64(src, subj, pred, obj, obj_dtype))").alias("xhash"))
        .collect()
    }
    assert got_fp == ref_fp


def test_fingerprint_parallelism_invariant(spark, tmp_path):
    """Same corpus at different parallelism → identical manifest
    fingerprints (determinism precondition for the scaling bench)."""
    from cyclegraph_spark.operators.triples import lift_html_pages

    fps = []
    for parts in (2, 8):
        out = str(tmp_path / f"store{parts}")
        tr = lift_html_pages(pages_df(spark, 100, partitions=parts))
        materialize_triples(tr.withColumn("part_id", bucket("src", 4)), out, run_id="x")
        man = json.loads((tmp_path / f"store{parts}" / "manifest.json").read_text())
        fps.append(man["partitions"])
    assert fps[0] == fps[1]


def test_full_pipeline_and_compaction(spark, tmp_path):
    from cyclegraph_spark.operators.shacl import parse_shapes_ttl

    out = str(tmp_path / "kg")
    shapes = parse_shapes_ttl(reference_path("shapes/session_shape.ttl").read_text())
    aliases = alias_df(spark, n_entities=100)
    pages = pages_df(spark, 120, n_entities=100, partitions=4)

    m = run_pipeline(spark, pages, out, run_id="r1", shapes=shapes, aliases=aliases, n_buckets=8)
    assert m["materialize"]["rows"] > 0
    assert m["validate"]["rows"] > 0  # corpus has malformed power values
    assert m["link"]["rows"] > 0
    assert m["cc"]["rounds"] >= 1  # convergence telemetry recorded

    # canonicalization rewired site-local URIs to global kg ids
    store = spark.read.parquet(out + "/data")
    assert store.filter(F.col("subj").contains("kg.example/entity/")).count() > 0

    # node table: one row per node, degrees consistent with the store,
    # the corpus's itemprop=name surfaces as a display name
    from cyclegraph_spark.operators.nodes import node_table

    nodes = spark.read.parquet(out + "/nodes")
    assert m["nodes"]["rows"] == nodes.count()
    assert nodes.select("id").distinct().count() == nodes.count()
    recomputed = {
        (r.id, r.n_out, r.n_in, r.n_types, r.name)
        for r in node_table(store.select("subj", "pred", "obj", "obj_dtype")).collect()
    }
    assert {
        (r.id, r.n_out, r.n_in, r.n_types, r.name) for r in nodes.drop("bucket").collect()
    } == recomputed
    assert nodes.filter(F.col("name").isNotNull()).count() > 0

    # resume: second run writes nothing new; links stay stable (dynamic
    # overwrite with an empty frame touches no partitions)
    n_links = spark.read.parquet(out + "/links").count()
    m2 = run_pipeline(spark, pages, out, run_id="r2", n_buckets=8, aliases=aliases)
    assert m2["materialize"]["rows"] == 0
    assert spark.read.parquet(out + "/links").count() == n_links

    # crash-replay: wipe the manifest (simulates dying before the commit)
    # and re-run — neither links NOR store triples may double
    # (idempotent dynamic partition overwrite on both writers)
    n_store = spark.read.parquet(out + "/data").count()
    os.remove(out + "/manifest.json")
    run_pipeline(spark, pages, out, run_id="r3", n_buckets=8, aliases=aliases)
    assert spark.read.parquet(out + "/links").count() == n_links
    assert spark.read.parquet(out + "/data").count() == n_store

    # compaction dedups globally and re-buckets by subject (re-read the
    # store: the pre-replay DataFrame references replaced files)
    store2 = spark.read.parquet(out + "/data")
    n = compact_store(spark, out, str(tmp_path / "compact"), n_buckets=8)
    assert 0 < n <= store2.select("subj", "pred", "obj", "obj_dtype").distinct().count()


def _assert_reports_match_registry(spark, out, shapes):
    """The violations and nodes a run wrote equal, as multisets, what the
    registry's ``validate`` and ``node_table`` compute over its store."""
    from collections import Counter

    from cyclegraph_spark.operators.nodes import NODE_COLUMNS, node_table
    from cyclegraph_spark.operators.shacl import validate

    def rows(df):
        return Counter(map(tuple, df.collect()))

    store = spark.read.parquet(out + "/data")
    violations = validate(store, shapes)
    written = spark.read.parquet(out + "/violations").select(*violations.columns)
    assert rows(written) == rows(violations)
    nodes = spark.read.parquet(out + "/nodes").select(*NODE_COLUMNS)
    assert rows(nodes) == rows(node_table(store))


def test_pipeline_stage_counts_match_written_outputs(spark, tmp_path):
    """Hermetic run (shapes built in code): the row counts a run reports
    equal the rows that landed, and lineage.jsonl holds one row per
    stage. A resume's link.rows counts only the buckets it processed; a
    rerun with every bucket done writes, and reports, no links."""
    out = str(tmp_path / "kg")
    buckets = 8
    shapes = [
        NodeShape(
            "ExerciseActionShape",
            SCHEMA + "ExerciseAction",
            [PropertyShape(SCHEMA + p, XSD_INT, 1, 1) for p in ("power", "heartRate")],
        )
    ]
    aliases = alias_df(spark, 100)
    pages = pages_df(spark, 120, n_entities=100, partitions=4)
    part = F.pmod(F.xxhash64(F.col("url")), F.lit(buckets))

    def run(run_id, pg):
        return run_pipeline(
            spark, pg, out, run_id, shapes=shapes, aliases=aliases, n_buckets=buckets
        )

    m1 = run("r1", pages.filter(part < 4))
    assert m1["link"]["rows"] == spark.read.parquet(out + "/links").count() > 0
    assert m1["validate"]["rows"] == spark.read.parquet(out + "/violations").count() > 0
    assert m1["nodes"]["rows"] == spark.read.parquet(out + "/nodes").count() > 0
    with open(out + "/lineage.jsonl", encoding="utf-8") as f:
        stage_rows = [r for r in map(json.loads, f) if "partition" not in r]
    assert [r["stage"] for r in stage_rows] == list(m1)
    assert all(r["run_id"] == "r1" for r in stage_rows)
    _assert_reports_match_registry(spark, out, shapes)

    done = sorted(CheckpointManifest(out).completed())
    m2 = run("r2", pages)
    links = spark.read.parquet(out + "/links")
    resumed = links.filter(~F.col("part_id").isin(*done)).count()
    assert m2["link"]["rows"] == resumed < links.count()
    assert m2["nodes"]["rows"] == spark.read.parquet(out + "/nodes").count()
    _assert_reports_match_registry(spark, out, shapes)

    m3 = run("r3", pages)
    assert m3["link"]["rows"] == 0
    assert m3["materialize"]["rows"] == 0

    # crash-replay: wipe the manifest (a run that died before its commit)
    # and re-run — neither links nor store rows may double (idempotent
    # dynamic partition overwrite on both writers)
    n_links = spark.read.parquet(out + "/links").count()
    n_store = spark.read.parquet(out + "/data").count()
    os.remove(out + "/manifest.json")
    run("r4", pages)
    assert spark.read.parquet(out + "/links").count() == n_links
    assert spark.read.parquet(out + "/data").count() == n_store

    # compaction dedups the store's quads globally
    quads = spark.read.parquet(out + "/data").select("subj", "pred", "obj", "obj_dtype")
    n = compact_store(spark, out, str(tmp_path / "compact"), n_buckets=buckets)
    assert n == quads.distinct().count() == spark.read.parquet(str(tmp_path / "compact")).count()


def test_pipeline_fails_loudly_without_success_marker(spark, tmp_path):
    """A committer that writes no _SUCCESS marker leaves the labels just
    written unreadable; the run must say so instead of crashing later."""
    key = "mapreduce.fileoutputcommitter.marksuccessfuljobs"
    out = str(tmp_path / "kg")
    before = spark.conf.get(key, None)
    spark.conf.set(key, "false")
    try:
        with pytest.raises(RuntimeError) as err:
            run_pipeline(spark, pages_df(spark, 30, partitions=2), out, "r1", n_buckets=4)
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)
    assert os.path.join(out, "labels") in str(err.value)
    assert key in str(err.value)


def test_partial_resume_through_cc_matches_fresh_run(spark, tmp_path):
    """ADVICE r1 (high): a partial resume must not diverge from a fresh
    run when sameAs components SPAN completed and remaining buckets.

    Scenario: run 1 commits a subset of source buckets (its CC sees only
    that subgraph, so component minima can be locally wrong); run 2
    resumes over the full corpus. The resumed store — including rows
    already written by run 1 — must equal the fresh one-shot store:
    one canonical id per entity, store-wide."""
    fresh_out = str(tmp_path / "fresh")
    out = str(tmp_path / "resumed")
    N, BUCKETS = 400, 8
    base = pages_df(spark, N, n_entities=100, partitions=4)

    # The seeded corpus alone can't diverge: every sameAs component is a
    # star around a kg.example hub URI that is also the lexicographic
    # minimum, so a subgraph CC finds the same minimum. Craft two pages
    # whose edges form a CHAIN across the bucket split: the subset sees
    # only b—c (local min b); the full graph adds a—b (global min a), so
    # run 2 must remap b → a in the already-written buckets.
    import datetime as _dt
    import json as _json

    from cyclegraph_spark.functions.xxh64 import spark_xxhash64_str
    from cyclegraph_spark.sources.pages import PAGES_SCHEMA

    def _bucket(url):  # twin of pmod(xxhash64(url), BUCKETS)
        return spark_xxhash64_str(url) % BUCKETS

    def _mk(url, subj, same):
        doc = {"@id": subj, "@type": "Thing", "sameAs": same}
        html = (
            "<html><head><script type=\"application/ld+json\">"
            + _json.dumps(doc)
            + "</script></head><body>x</body></html>"
        ).encode("utf-8")
        return (url, _dt.datetime(2024, 1, 1), html, "en")

    u_sub = next(
        f"https://z.example/sub/{i}" for i in range(1000)
        if _bucket(f"https://z.example/sub/{i}") < 4
    )
    u_rest = next(
        f"https://z.example/rest/{i}" for i in range(1000)
        if _bucket(f"https://z.example/rest/{i}") >= 4
    )
    crafted = spark.createDataFrame(
        [
            _mk(u_sub, "https://z.example/ent/b", "https://z.example/ent/c"),
            _mk(u_rest, "https://a.example/ent/a", "https://z.example/ent/b"),
        ],
        PAGES_SCHEMA,
    )
    pages = base.unionByName(crafted)

    run_pipeline(spark, pages, fresh_out, run_id="fresh", n_buckets=BUCKETS)

    # run 1: only pages whose source bucket < 4 (the hot entity e0000 is
    # on ~20% of ALL pages, so its component spans both halves)
    part = F.pmod(F.xxhash64(F.col("url")), F.lit(BUCKETS)).cast("int")
    subset = pages.withColumn("_p", part).filter(F.col("_p") < 4).drop("_p")
    m1 = run_pipeline(spark, subset, out, run_id="p1", n_buckets=BUCKETS)
    assert set(CheckpointManifest(out).completed()) == set(m1["materialize"]["written"])
    assert max(m1["materialize"]["written"]) < 4

    # run 2: resume over the full corpus — prunes buckets 0-3 at the
    # source, merges prior labels into CC, remaps stale store rows
    m2 = run_pipeline(spark, pages, out, run_id="p2", n_buckets=BUCKETS)
    assert sorted(m2["materialize"]["skipped"]) == sorted(m1["materialize"]["written"])

    fresh = {
        (r.src, r.subj, r.pred, r.obj, r.obj_dtype)
        for r in spark.read.parquet(fresh_out + "/data").collect()
    }
    resumed = {
        (r.src, r.subj, r.pred, r.obj, r.obj_dtype)
        for r in spark.read.parquet(out + "/data").collect()
    }
    assert resumed == fresh, (
        f"only-in-resumed={list(resumed - fresh)[:5]} "
        f"only-in-fresh={list(fresh - resumed)[:5]}"
    )

    # the divergence was real: run 1's subgraph must have assigned some
    # canonical id that run 2 had to remap (otherwise this test is vacuous)
    lineage = [
        json.loads(line)
        for line in open(out + "/lineage.jsonl", encoding="utf-8")
    ]
    assert any(r["stage"] == "recanonicalize" for r in lineage), (
        "no recanonicalize lineage row — the scenario did not exercise a merge"
    )

    # labels table equals the fresh run's (same connectivity, same minima)
    fresh_lab = {
        (r.id, r.component)
        for r in spark.read.parquet(fresh_out + "/labels").collect()
    }
    res_lab = {
        (r.id, r.component)
        for r in spark.read.parquet(out + "/labels").collect()
    }
    assert res_lab == fresh_lab


def _stage_rows(out):
    with open(os.path.join(out, "lineage.jsonl"), encoding="utf-8") as f:
        return [r for r in map(json.loads, f) if "partition" not in r]


def test_pipeline_lineage_order_is_fixed(spark, tmp_path):
    """The link branch runs on a pool thread beside the main branch, and
    both reports come from one aggregation, yet two identical fresh runs
    write the same stage rows, one per stage, in one fixed order."""
    shapes = [
        NodeShape(
            "ExerciseActionShape",
            SCHEMA + "ExerciseAction",
            [PropertyShape(SCHEMA + p, XSD_INT, 1, 1) for p in ("power", "heartRate")],
        )
    ]
    aliases = alias_df(spark, 100)
    pages = pages_df(spark, 120, n_entities=100, partitions=4)
    order = ["extract", "lift", "cc", "link", "materialize", "validate", "nodes"]
    runs = []
    for name in ("a", "b"):
        out = str(tmp_path / name)
        m = run_pipeline(spark, pages, out, "r1", shapes=shapes, aliases=aliases, n_buckets=8)
        assert list(m) == order
        runs.append([(r["stage"], r.get("rows")) for r in _stage_rows(out)])
    assert [s for s, _ in runs[0]] == order
    assert runs[0] == runs[1]


def test_failed_link_branch_commits_nothing(spark, tmp_path, monkeypatch):
    """A link branch that raises fails the run before the manifest
    commit and leaves no pool thread behind; a clean re-run then commits
    the same buckets as a run that never failed. The crafted sameAs
    chain makes the failed run rewrite stale store rows and persist new
    labels before it fails."""
    import threading

    from cyclegraph_spark.plans import pipeline
    from cyclegraph_spark.sources.pages import resume_chain_records

    buckets = 8
    aliases = alias_df(spark, 100)
    crafted = spark.createDataFrame(
        resume_chain_records(buckets), "url string, warc_ts long, html binary, lang string"
    ).withColumn("warc_ts", F.timestamp_seconds("warc_ts"))
    pages = pages_df(spark, 120, n_entities=100, partitions=4).unionByName(crafted)
    half = pages.filter(bucket("url", buckets) < buckets // 2)

    def run(out, run_id, pg):
        return run_pipeline(spark, pg, out, run_id, aliases=aliases, n_buckets=buckets)

    def partitions(out):
        with open(os.path.join(out, "manifest.json"), encoding="utf-8") as f:
            return json.load(f)["partitions"]

    ref, out = str(tmp_path / "ref"), str(tmp_path / "out")
    run(ref, "p1", half)
    assert "recanonicalize" in run(ref, "p2", pages)

    run(out, "p1", half)
    before = partitions(out)

    def broken_link(pages, aliases, key_cols):
        return pages.select(
            "url",
            F.raise_error(F.lit("link branch failed")).cast("int").alias("pos"),
            F.lit("a").alias("alias"),
            F.lit("e").alias("entity_id"),
            F.lit(1.0).alias("score"),
            "part_id",
        )

    monkeypatch.setattr(pipeline, "link_mentions", broken_link)
    threads = threading.active_count()
    with pytest.raises(Exception, match="link branch failed"):
        run(out, "p2", pages)
    assert threading.active_count() == threads
    assert partitions(out).keys() == before.keys()
    assert {r["run_id"] for r in _stage_rows(out)} == {"p1"}

    monkeypatch.undo()
    run(out, "p2", pages)
    assert partitions(out) == partitions(ref)
