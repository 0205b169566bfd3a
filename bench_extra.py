#!/usr/bin/env python
"""Auxiliary measurement harness for optimization work (guide §1.4).

NOT the graded bench — bench.py is frozen for measurement. This file
exists so per-change A/B numbers can be taken with the same hygiene
(idle-window gating, best-of passes, noop sink) without touching the
frozen harness. Cited from OPTIMIZATION_r06.md.

Usage:
  python bench_extra.py queries [name ...]   # per-query noop timings at SF_DIR
  python bench_extra.py lift [n_pages]       # headline lift throughput
  python bench_extra.py pipeline             # 50k-page factory stage profile
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

import bench  # noqa: E402 - the frozen harness's gating helpers

SF_DIR = bench.SF_DIR
CPUS = bench.CPUS


def timed_passes(fn, n: int = 3, label: str = "") -> list[dict]:
    """n load-gated passes of fn(), each tagged clean/tainted; ``tps`` is
    passes per second, the key bench._best_pass ranks by."""
    gate = bench._LoadGate()
    out = []
    for i in range(n):
        gate.wait_clean(f"{label} pass{i}")
        t0 = time.time()
        fn()
        dt = time.time() - t0
        gate.post_check(bench._external_running(samples=3))
        out.append({"sec": round(dt, 3), "tps": 1.0 / dt, "clean": gate.events[-1]["clean"]})
        if label:
            print(f"  {label} pass{i}: {dt:.3f}s clean={out[-1]['clean']}", file=sys.stderr)
    return out


def _spark(app: str):
    from cyclegraph_spark.session import get_spark

    spark = get_spark(app_name=app, master=f"local[{CPUS}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run_queries(names: list[str]) -> None:
    import __spark_entry__ as entry_mod

    spark = _spark("bench-extra-queries")
    queries = entry_mod.queries()
    if not names:
        names = [
            "q1_pricing_summary", "rolling_np_per_user", "w2_precision_sigma",
            "w3_best_20min_window", "j2_asof_nearest_view", "j4_band_join_28d",
            "j7_grid_argmin", "median_mad_per_type", "dedup_exact_md5",
            "dedup_ngram_jaccard", "dedup_minhash_lsh", "dedup_simhash",
            "dedup_embedding_lsh", "ann_cosine_topk", "t_token_stats",
            "w8_sessionize_gap", "a17_badges_v22", "dedup_clusters",
            "t_split_contamination",
        ]
    queries["q1_pricing_summary"](spark, SF_DIR).count()  # warm-up
    result = {}
    for name in names:
        spark.sparkContext.setJobDescription(name)

        def one(name=name):
            df = queries[name](spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()

        result[name] = bench._best_pass(timed_passes(one, 3, label=name))["sec"]
    print(json.dumps(result))


def run_lift(n_pages: int) -> None:
    from pyspark.sql import functions as F  # noqa: F401

    from cyclegraph_spark.operators.triples import lift_html_pages
    from cyclegraph_spark.sources.pages import pages_df

    spark = _spark("bench-extra-lift")
    corpus = f"/tmp/r6/pages{n_pages // 1000}k"
    if not os.path.exists(corpus + "/_SUCCESS"):
        pages_df(spark, n_pages, partitions=max(64, n_pages // 1500)).write.mode(
            "overwrite"
        ).parquet(corpus)
    df = lift_html_pages(spark.read.parquet(corpus))
    n = df.count()  # warm-up
    passes = timed_passes(lambda: df.count(), 4, label="lift")
    b = bench._best_pass(passes)["sec"]
    print(json.dumps({"pages": n_pages, "triples": n, "sec": b, "tps": round(n / b, 1), "passes": passes}))


def run_pipeline() -> None:
    import shutil
    import tempfile

    from cyclegraph_spark.plans.pipeline import run_pipeline
    from cyclegraph_spark.sources.pages import alias_df, pages_df

    spark = _spark("bench-extra-pipeline")
    pipe_out = os.path.join(tempfile.gettempdir(), "cyclegraph_extra_pipeline")
    shutil.rmtree(pipe_out, ignore_errors=True)
    bench._LoadGate().wait_clean("pipeline")
    t0 = time.time()
    pm = run_pipeline(
        spark,
        pages_df(spark, 50_000, partitions=256),
        pipe_out,
        run_id="bench",
        aliases=alias_df(spark, 1000),
        n_buckets=32,
    )
    stats = {
        "pages": 50_000,
        "total_sec": round(time.time() - t0, 2),
        **{k: {kk: vv for kk, vv in v.items() if kk in ("rows", "sec")} for k, v in pm.items()},
    }
    print(json.dumps(stats))


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "queries"
    if mode == "queries":
        run_queries(sys.argv[2:])
    elif mode == "lift":
        run_lift(int(sys.argv[2]) if len(sys.argv) > 2 else 200_000)
    elif mode == "pipeline":
        run_pipeline()
    else:
        raise SystemExit(f"unknown mode {mode}")
