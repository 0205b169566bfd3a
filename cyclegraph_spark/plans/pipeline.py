"""The flagship triple factory — end-to-end KG construction pipeline.

The factory is a DAG, and ``run_pipeline`` runs its two independent
branches side by side:

    pages(url, warc_ts, html, [text], lang)
      → resume-prune      (anti-filter completed source buckets BEFORE
                           the expensive stages, so a resumed run
                           re-reads only missing buckets)
      → extract text      (vectorized pandas UDF; one eager checkpoint
                           of html + text that both branches read)
      ├─ main thread:  lift (mapInArrow over the html islands, P1
      │                coercion) → CC over sameAs edges + prior labels
      │                → recanonicalize stale store rows (resume only)
      │                → write labels → canonicalize
      └─ link thread:  link mentions (one mapInArrow pass: each page's
                       n-grams probe the collected alias index)
                       → links write (dynamic overwrite)
      ⋈ join: the link thread is joined before materialize, because
        the manifest commit marks a bucket done only once every output
        derived from it has landed
      → materialize       (bucketed parquet + manifest commit + lineage)
      → report            (one checkpointed aggregation of the whole
                           store by node → violations, nodes)

Linking reads only the page text and the alias table, so it depends on
nothing the lift branch computes. Extract is not split per branch: both
branches read its one checkpoint, so a generated corpus is produced
once instead of once per branch. Both reports group the store by node,
so ``node_table(store, shapes)`` computes the node and SHACL columns in
one pass; the violations are exploded from it, the nodes selected.

The link thread comes from a one-thread ``ThreadPoolExecutor``. Its
context manager waits for the branch, so it does not outlive a raise on
the main thread; the branch's error surfaces through ``Future.result()``
before the commit. The task runs under
``inheritable_thread_target(spark)``, so it inherits the caller's Spark
local properties and session tags, and sets its own job group. It
returns its stage metrics; lineage rows keep one fixed stage order.

Per-stage lineage rows mirror the reference's per-step duration logging
(/root/reference/cli/session.py:338-352 ``_timed``). Under overlap, a
stage's ``sec`` is its own wall time, so the stage times add up to more
than the run's.

The pipeline is lazy end-to-end until materialize, apart from the
checkpoints of pages, triples, the CC labels and the report, each read
by several consumers; stage row counts come from an ``Observation`` on
each write (the count rides on the write job), not from mid-plan
``.count()`` actions that would re-execute the expensive prefix or from
re-reading what was just written.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cyclegraph_spark.extract.text import extract_text_udf
from cyclegraph_spark.operators.cc import canonicalize_triples, connected_components
from cyclegraph_spark.operators.linking import link_mentions
# validate stays a module global: perfbench/layers.py traces it by name
from cyclegraph_spark.operators.shacl import NodeShape, validate, violations
from cyclegraph_spark.operators.triples import OWL_SAMEAS, lift_html_pages
from cyclegraph_spark.plans.materialize import (
    LABELS,
    CheckpointManifest,
    append_lineage,
    bucket,
    materialize_triples,
    read_labels,
    recanonicalize_store,
    write_labels,
    write_parquet,
)


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    run_id: str,
    shapes: list[NodeShape] | None = None,
    aliases: DataFrame | None = None,
    n_buckets: int = 32,
) -> dict:
    """Run the factory; returns per-stage metrics {stage: {rows, sec}}."""
    os.makedirs(out_dir, exist_ok=True)
    metrics: dict[str, dict] = {}

    # --- resume prune on source bucket (high-watermark analog)
    done = CheckpointManifest(out_dir).completed()
    pages = pages.withColumn("part_id", bucket("url", n_buckets))
    if done:
        pages = pages.filter(~F.col("part_id").isin(*[int(d) for d in done]))

    # --- extract (skipped when the corpus already carries text).
    # Eagerly materialized: BOTH lift (html) and linking (text) consume
    # pages — without the checkpoint the pandas-UDF extraction re-runs
    # per consumer (measured: the link stage quadrupled).
    t0 = time.time()
    if "text" not in pages.columns:
        pages = pages.withColumn("text", extract_text_udf(F.col("html")))
    if aliases is not None:
        pages = pages.localCheckpoint(eager=True)
        metrics["extract"] = {"sec": round(time.time() - t0, 3)}

    with ThreadPoolExecutor(1) as pool:  # the link branch
        link = None
        if aliases is not None:
            link = pool.submit(inheritable_thread_target(spark)(_link), pages, aliases, out_dir)
        canon, stages = _lift_and_canonicalize(spark, pages, out_dir, run_id, done, n_buckets)
        metrics.update(stages)
        if link is not None:
            metrics["link"] = link.result()  # the join: links land before the commit

    # --- materialize canonical triples (manifest + lineage; bucket =
    # provenance/url bucket so resume-prune and manifest ids agree).
    # Commits the checkpoint manifest — completion marker for the run.
    t0 = time.time()
    res = materialize_triples(canon, out_dir, run_id)
    metrics["materialize"] = {
        "rows": res["rows"],
        "sec": round(time.time() - t0, 3),
        "written": res["written"],
        "skipped": res["skipped"],
    }
    metrics.update(_report(spark, out_dir, shapes, n_buckets))

    append_lineage(
        out_dir,
        [
            {"run_id": run_id, "stage": k, **{kk: vv for kk, vv in v.items() if kk != "written"}}
            for k, v in metrics.items()
        ],
    )
    return metrics


def _lift_and_canonicalize(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    run_id: str,
    done: set[int],
    n_buckets: int,
) -> tuple[DataFrame, dict[str, dict]]:
    """The main branch: lift, CC, the resume's store rewrite and the
    labels write. Returns the canonical triples with ``part_id`` and the
    metrics of the ``lift``, ``recanonicalize`` and ``cc`` stages."""
    metrics: dict[str, dict] = {}
    # --- lift. Materialize ONCE (eager localCheckpoint): CC, canonicalize
    # and the store write all consume `triples`; without this the
    # extract+lift prefix would re-execute for each consumer (measured:
    # the CC stage tripled in cost from lift recomputation).
    t0 = time.time()
    triples = (
        lift_html_pages(pages)
        .withColumn("part_id", bucket("src", n_buckets))
        .localCheckpoint(eager=True)
    )
    metrics["lift"] = {"sec": round(time.time() - t0, 3)}

    # --- canonicalize (CC over sameAs edges, then rewrite + dedup).
    # RESUME CORRECTNESS: a pruned run only sees the remaining buckets'
    # sameAs edges — entities spanning completed and new buckets would get
    # component minima computed over a SUBGRAPH, diverging from a fresh
    # run. Fix: union the persisted labels table (id→component rows are
    # connectivity facts capturing everything earlier runs learned) into
    # the CC input, then remap any store rows whose canonical id changed.
    t0 = time.time()
    edges = triples.filter(F.col("pred") == OWL_SAMEAS).select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    )
    prior = read_labels(spark, out_dir) if done else None
    if prior is not None:
        edges = edges.unionByName(
            prior.select(F.col("id").alias("src"), F.col("component").alias("dst"))
        )
    cc_stats: dict = {}
    # checkpointed: the store rewrite and write_labels below read it
    # without re-running CC
    labels = connected_components(edges, stats=cc_stats)
    if prior is not None:
        t_rc = time.time()
        rc = recanonicalize_store(spark, out_dir, labels, prior, run_id)
        if rc["partitions"]:
            metrics["recanonicalize"] = {"rows": rc["rows"], "sec": round(time.time() - t_rc, 3)}
    # persist AFTER the store rewrite: a resume after a crash in between
    # recomputes the same merge against the OLD labels, so it redoes a
    # rewrite that did not land and finds no stale ids in one that did
    # (its manifest entries were saved ahead of the overwrite);
    # persisting first would hide the merge (prior == new ⇒ no stale
    # ids) and leave stale rows forever.
    n_labels = write_labels(labels, out_dir)
    written_labels = read_labels(spark, out_dir)
    if written_labels is None:
        raise RuntimeError(
            f"labels written to {os.path.join(out_dir, LABELS)} have no _SUCCESS "
            "marker, so they cannot be read back; enable "
            "mapreduce.fileoutputcommitter.marksuccessfuljobs"
        )
    # canonicalize against the labels JUST WRITTEN, read back from
    # parquet: the file-backed side carries accurate file-based size
    # stats, so the planner's broadcast-vs-shuffle choice for the labels
    # join stays correct at any scale (guide §3.1: size estimates
    # through joins/aggs are unreliable; file stats are not).
    canon = canonicalize_triples(triples, written_labels, keep_cols=("src", "part_id"))
    metrics["cc"] = {
        "rows": n_labels,
        "sec": round(time.time() - t0, 3),
        "rounds": cc_stats["rounds"],
        "edges": cc_stats["edges"],
        "converged": cc_stats["converged"],
    }
    return canon, metrics


def _link(pages: DataFrame, aliases: DataFrame, out_dir: str) -> dict:
    """The link branch: best link per mention, written idempotently —
    partitioned by the pages' provenance bucket with DYNAMIC partition
    overwrite, so a crashed-then-resumed run rewrites exactly its
    buckets instead of double-appending."""
    t0 = time.time()
    links = link_mentions(
        pages.select("url", "text", "part_id"), aliases, key_cols=("url", "part_id")
    ).select("url", "pos", "alias", "entity_id", "score", "part_id")
    n = write_parquet(links, os.path.join(out_dir, "links"), by="part_id", dynamic=True)
    return {"rows": n, "sec": round(time.time() - t0, 3)}


def _report(
    spark: SparkSession, out_dir: str, shapes: list[NodeShape] | None, n_buckets: int
) -> dict[str, dict]:
    """The violations (given shapes) and the node table: REPORTS over the
    whole materialized store, full recompute + overwrite each run, so
    idempotent by design and correct even for nodes whose triples span
    buckets. The shared aggregation's time is booked to the first."""
    # looked up per call: perfbench/layers.py traces nodes.node_table
    from cyclegraph_spark.operators.nodes import NODE_COLUMNS, node_table

    metrics: dict[str, dict] = {}
    t0 = time.time()
    store = spark.read.parquet(os.path.join(out_dir, "data"))
    report = node_table(store, shapes).localCheckpoint(eager=True)
    if shapes:
        n = write_parquet(violations(report, shapes), os.path.join(out_dir, "violations"))
        metrics["validate"] = {"rows": n, "sec": round(time.time() - t0, 3)}
        t0 = time.time()
    nodes = report.select(*NODE_COLUMNS).withColumn("bucket", bucket("id", n_buckets))
    n = write_parquet(nodes, os.path.join(out_dir, "nodes"), by="bucket")
    metrics["nodes"] = {"rows": n, "sec": round(time.time() - t0, 3)}
    return metrics
