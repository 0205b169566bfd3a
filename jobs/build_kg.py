#!/usr/bin/env python
"""spark-submit entry point for the KG factory.

    spark-submit --py-files cyclegraph_spark.zip jobs/build_kg.py \
        --pages <parquet dir | synth:N> --out /path/kg --run-id r1 \
        --n-buckets 4096 [--shapes shapes.ttl] [--aliases N]

The north-rule operational shape: explicit partition counts, AQE on,
resumable via the checkpoint manifest in --out (re-submitting the same
command after a failure processes only missing buckets). Build the
zip with ``python jobs/build_kg.py --make-zip`` (emits
cyclegraph_spark.zip next to the repo).

Prints one JSON line of per-stage metrics on success.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _ensure_importable() -> None:
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if here not in sys.path:
        sys.path.insert(0, here)


def make_zip() -> str:
    _ensure_importable()
    from cyclegraph_spark.session import zip_package

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return zip_package(os.path.join(root, "cyclegraph_spark.zip"))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", help="input parquet dir, or synth:<N> for the generator")
    ap.add_argument("--out", help="output store directory")
    ap.add_argument("--run-id", default="run1")
    ap.add_argument("--n-buckets", type=int, default=32)
    ap.add_argument("--shapes", help="SHACL shapes TTL path", default=None)
    ap.add_argument("--aliases", type=int, default=0, help="entity-dict size (0 = skip linking)")
    ap.add_argument("--make-zip", action="store_true")
    args = ap.parse_args()

    if args.make_zip:
        print(make_zip())
        return
    if not args.pages or not args.out:
        ap.error("--pages and --out are required")

    _ensure_importable()
    from pyspark.sql import SparkSession

    from cyclegraph_spark.plans.pipeline import run_pipeline
    from cyclegraph_spark.session import ship_package

    spark = SparkSession.builder.appName("build_kg").getOrCreate()
    ship_package(spark)

    from cyclegraph_spark.operators.shacl import parse_shapes_ttl
    from cyclegraph_spark.sources.pages import alias_df, pages_df

    if args.pages.startswith("synth:"):
        pages = pages_df(spark, int(args.pages.split(":", 1)[1]))
    else:
        pages = spark.read.parquet(args.pages)

    shapes = None
    if args.shapes:
        with open(args.shapes, encoding="utf-8") as f:
            shapes = parse_shapes_ttl(f.read())
    aliases = alias_df(spark, args.aliases) if args.aliases else None

    metrics = run_pipeline(
        spark,
        pages,
        args.out,
        run_id=args.run_id,
        shapes=shapes,
        aliases=aliases,
        n_buckets=args.n_buckets,
    )
    print(json.dumps({"run_id": args.run_id, "stages": metrics}))


if __name__ == "__main__":
    main()
