#!/usr/bin/env python
"""Skew stress for the linking + CC path at bench scale (round-5 #5).

The CC worst-case topology is pinned at 10k edges in
tests/test_linking_cc.py, and the 800k-page scaling corpus is
star-friendly (its hot entity converges in one round). This one-off
recorded run plants REAL skew at bench scale and times the claims:

- link: 200k pages where every 2nd page carries an extra hot-alias
  mention (~100k planted + ~40k natural hot mentions) through
  ``link_mentions`` — each page is linked on its own against the alias
  index the worker closes over (no shuffle, no join), so the hot ENTITY
  never concentrates in one task.
- cc: a 100k-degree hub + 25k 8-node chains (~275k edges) through
  ``connected_components`` twice. At the default edge bound
  (``cc._UF_MAX_EDGES``) the graph fits, so it finishes in the one-task
  union-find without a star round. At bound 0 it is contracted by star
  rounds to their fixpoint: the chains force several rounds, and the
  hub's skewed star join is left to AQE's skew-join. (Recorded r5: an
  explicit broadcast split of hot minima ran 36.8 s vs 25.7 s without
  it on this graph, and 40-45 s vs 27-29 s with a 2M-degree hub,
  identical labels — see BENCH/BASELINE.md.)

Runs pinned to $SPARK_GRAFT_SCALE_4N cores (default 16 = the bench's 4N
level) in a subprocess; set SPARK_GRAFT_SKEW_HUB to change the hub
degree. Prints ONE JSON line; paste the numbers into BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = int(os.environ.get("SPARK_GRAFT_SCALE_4N", "16"))
PAGES = int(os.environ.get("SPARK_GRAFT_SKEW_PAGES", "200000"))
HUB_DEGREE = int(os.environ.get("SPARK_GRAFT_SKEW_HUB", "100000"))

_SNIPPET = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from cyclegraph_spark.session import get_spark
from cyclegraph_spark.operators import cc
from cyclegraph_spark.operators.linking import link_mentions
from cyclegraph_spark.sources.pages import _name, alias_df, pages_with_text

spark = get_spark(app_name="skew-stress", master="local[{cores}]")
spark.sparkContext.setLogLevel("ERROR")
out = {{"cores": {cores}, "pages": {pages}, "hub_degree": {hub}}}

# --- corpus with a planted hot mention on every 2nd page (untimed) ---
hot_sentence = " Report filed by " + _name(42) + " near the harbour."
pages = pages_with_text(spark, {pages}, partitions={cores} * 8).withColumn(
    "text",
    F.when(
        F.xxhash64("url") % 2 == 0, F.concat("text", F.lit(hot_sentence))
    ).otherwise(F.col("text")),
).localCheckpoint(eager=True)
aliases = alias_df(spark, 1000)

# --- link stage under mention skew ---
t0 = time.time()
links = link_mentions(pages, aliases)
links.write.format("noop").mode("overwrite").save()
link_sec = round(time.time() - t0, 2)
hot_rows = links.filter(F.col("entity_id") == "e0000").count()
out["link"] = {{
    "sec": link_sec,
    "rows": links.count(),
    "hot_entity_rows": hot_rows,
}}

# --- CC under hub skew: 100k-degree hub + 25k 8-node chains ---
hub = spark.range(1, {hub} + 1).select(
    F.lit(0).alias("src"), F.col("id").alias("dst")
)
# chains live on ids >= 10^6; each chain is 8 consecutive ids
chain = (
    spark.range(0, 25_000 * 8)
    .filter(F.col("id") % 8 != 7)
    .select(
        (F.col("id") + 1_000_000).alias("src"),
        (F.col("id") + 1_000_001).alias("dst"),
    )
)
edges = hub.unionByName(chain).repartition({cores} * 4).localCheckpoint(eager=True)

out["cc"] = {{}}
for bound in (cc._UF_MAX_EDGES, 0):
    cc._UF_MAX_EDGES = bound
    stats = {{}}
    t0 = time.time()
    labels = cc.connected_components(edges, stats=stats)
    sec = round(time.time() - t0, 2)
    out["cc"][f"bound_{{bound}}"] = {{
        "sec": sec,
        "rounds": stats["rounds"],
        "edges": stats["edges"],
        "vertices": labels.count(),
        "components": labels.select("component").distinct().count(),
    }}
print(json.dumps(out))
"""


def main() -> None:
    sys.path.insert(0, REPO)
    from bench import _external_running

    pre = _external_running()
    code = _SNIPPET.format(repo=REPO, cores=CORES, pages=PAGES, hub=HUB_DEGREE)
    res = subprocess.run(
        ["taskset", "-c", f"0-{CORES - 1}", sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=3600,
        check=True,
    )
    out = json.loads(res.stdout.strip().splitlines()[-1])
    out["pre_load"] = round(pre, 1)
    out["post_load"] = round(_external_running(), 1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
