"""Graph materialization — partitioned triple store with per-partition
lineage rows and a sha256 checkpoint manifest for idempotent resume.

Reference semantics transplanted:
- deterministic export pack: sorted JSONL + sha256 manifest
  (/root/reference/server/analysis/final14.py:18-32,248-254;
  /root/reference/server/analysis/export13.py:26-39) → here: a
  content-addressed per-partition fingerprint (order-independent
  bit_xor of row hashes — stable at any parallelism, unlike a hash of
  a row ORDER, which a distributed write cannot guarantee cheaply);
- atomic write+rename (/root/reference/server/routes/sessions.py:85-96)
  → manifest written to a temp file then os.replace;
- high-watermark resume (/root/reference/cli/strava_import.py:289-313,
  state/last_import.json) → completed-partition set; a re-run
  anti-filters completed buckets BEFORE the expensive stages, so the
  filter prunes at the source (predicate pushdown on the bucket id).

Layout (Iceberg-style: data files + manifest metadata):
    out_dir/data/part_id=<k>/*.parquet
    out_dir/manifest.json        {run_id, partitions: {k: {rows, xhash}}, sha256}
    out_dir/lineage.jsonl        one row per (run, stage, partition)

Commit rule: a manifest entry always holds the fingerprint of the rows
its bucket holds on disk. ``materialize_triples`` writes first and then
fingerprints the buckets that landed, because its entry is the bucket's
completion marker. ``recanonicalize_store`` rewrites buckets that are
already complete; it fingerprints its eager checkpoint of the rewrite
and saves those entries before the overwrite, so no crash leaves an
entry that no replay corrects.

Partitioning: part_id = bucket(src, n_buckets) = pmod(xxhash64(src), n) —
provenance bucketing: a page's url and every triple lifted from it land
in the same bucket, so a resumed run prunes completed buckets before
extraction. Only the compacted, query-optimized copy (compact_store) is
bucketed by subject, co-locating all triples of an entity. n_buckets is
explicit (north rule: explicit partition counts); at 100 TB you'd raise
it to O(10⁴-10⁵) so each bucket stays ≲ 1 GB.
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

MANIFEST = "manifest.json"
LINEAGE = "lineage.jsonl"


class CheckpointManifest:
    def __init__(self, out_dir: str):
        self.out_dir = out_dir
        self.path = os.path.join(out_dir, MANIFEST)
        self.state: dict = {"run_id": None, "partitions": {}}
        if os.path.exists(self.path):
            with open(self.path, encoding="utf-8") as f:
                self.state = json.load(f)

    def completed(self) -> set[int]:
        return {int(k) for k in self.state["partitions"]}

    def record(self, part_id: int, rows: int, xhash: int) -> None:
        self.state["partitions"][str(part_id)] = {"rows": rows, "xhash": xhash}

    def save(self, run_id: str) -> None:
        """Write the manifest atomically. ``sha256`` digests the saved
        state without itself, so it verifies after any re-save too."""
        self.state["run_id"] = run_id
        self.state.pop("sha256", None)
        body = json.dumps(self.state, sort_keys=True, indent=1)
        self.state["sha256"] = hashlib.sha256(body.encode()).hexdigest()
        tmp = self.path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(self.state, f, sort_keys=True, indent=1)
        os.replace(tmp, self.path)  # atomic write+rename


def append_lineage(out_dir: str, rows: list[dict]) -> None:
    path = os.path.join(out_dir, LINEAGE)
    with open(path, "a", encoding="utf-8") as f:
        for r in rows:
            f.write(json.dumps(r, sort_keys=True) + "\n")


def bucket(col: str | Column, n: int) -> Column:
    """The store's one bucket rule, ``pmod(xxhash64(col), n)`` as int.
    Pages are bucketed on ``url`` and their triples on ``src`` (the same
    value), so a resumed run's source prune and the manifest's bucket
    ids agree."""
    return F.pmod(F.xxhash64(col), F.lit(n)).cast("int")


def write_parquet(
    df: DataFrame, path: str, by: str | None = None, dynamic: bool = False
) -> int:
    """Overwrite ``path`` with ``df`` as parquet, partitioned by column
    ``by`` if given, and return the number of rows written.

    The count comes from an Observation on the write job itself. It sits
    ABOVE the rebalance hint: below it, AQE would replace an empty
    exchange's whole stage, CollectMetrics included, and lose the count.

    With ``by``, rows are rebalanced by that column before the write, so
    each bucket lands in one file instead of (write tasks × buckets)
    splinters (measured 589 files / 1.84 s for a 25 MB store vs 32 files
    / 0.60 s). The hint (vs a plain repartition) lets AQE split an
    oversized bucket over several write tasks at scale (guide §6).

    ``dynamic`` overwrites only the partitions ``df`` holds: a bucket
    being (re)processed replaces its directory on job commit, so a
    replayed crashed run cannot double-append rows, and every other
    bucket is left untouched.
    """
    if by is not None:
        df = df.hint("rebalance", by)
    obs = Observation()
    df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
    writer = df.write.mode("overwrite")
    if by is not None:
        writer = writer.partitionBy(by)
    if dynamic:
        writer = writer.option("partitionOverwriteMode", "dynamic")
    writer.parquet(path)
    # the overwrite replaced files under path — drop the session's cached
    # file listing or later reads resolve to deleted parquet parts
    df.sparkSession.catalog.refreshByPath(path)
    return obs.get["rows"]


def fingerprint(df: DataFrame) -> list[tuple[int, int, int]]:
    """``(part_id, rows, xhash)`` per bucket of ``df``, where xhash is
    ``bit_xor(xxhash64(<every column but part_id>))``: an order-
    independent content fingerprint, reproducible at any parallelism. It
    covers every data column (incl. provenance) so duplicate quads from
    two sources can't cancel out."""
    cols = ", ".join(c for c in df.columns if c != "part_id")
    agg = df.groupBy("part_id").agg(F.count(F.lit(1)), F.expr(f"bit_xor(xxhash64({cols}))"))
    return [tuple(map(int, r)) for r in agg.collect()]


def _commit(out_dir: str, run_id: str, stage: str, stats: list) -> list[dict]:
    """Record ``fingerprint`` rows in the checkpoint manifest and save it.
    Returns their ``stage`` lineage rows, for the caller to append once
    its write has landed."""
    manifest = CheckpointManifest(out_dir)
    for part, rows, xhash in stats:
        manifest.record(part, rows, xhash)
    manifest.save(run_id)
    keys = ("partition", "output_rows", "xhash")
    return [{"run_id": run_id, "stage": stage, **dict(zip(keys, s))} for s in stats]


def materialize_triples(triples: DataFrame, out_dir: str, run_id: str) -> dict:
    """Write triples into their ``part_id`` buckets (attach it with
    ``bucket``); skip buckets already in the checkpoint manifest; record
    lineage + fingerprints.

    Returns {written: [part_ids], skipped: [part_ids], rows: n}.
    """
    if "part_id" not in triples.columns:
        raise ValueError("materialize_triples needs a part_id column; attach it with bucket()")
    os.makedirs(out_dir, exist_ok=True)
    done = sorted(CheckpointManifest(out_dir).completed())
    # completed buckets are filtered out here, so the dynamic overwrite
    # never touches them
    pending = ~F.col("part_id").isin(*done) if done else F.lit(True)
    data_dir = os.path.join(out_dir, "data")
    rows = write_parquet(triples.filter(pending), data_dir, by="part_id", dynamic=True)
    # the manifest entry marks a bucket complete, so it is fingerprinted
    # from what landed and saved only after the write
    stats = fingerprint(triples.sparkSession.read.parquet(data_dir).filter(pending))
    append_lineage(out_dir, _commit(out_dir, run_id, "materialize", stats))
    return {"written": sorted(s[0] for s in stats), "skipped": done, "rows": rows}


LABELS = "labels"


def write_labels(labels: DataFrame, out_dir: str) -> int:
    """Persist the CC labels table (id → canonical component) with an
    atomic-ish directory swap: write to ``labels.tmp``, rotate the old
    dir to ``labels.old``, rename tmp into place. A crash between the
    renames leaves ``labels.old`` for the reader's fallback — prior
    connectivity facts are never lost to a torn overwrite (labels-as-
    edges are monotone facts: component membership stays true forever).
    Returns the rows written.
    """
    import shutil

    labels_dir = os.path.join(out_dir, LABELS)
    tmp, old = labels_dir + ".tmp", labels_dir + ".old"
    rows = write_parquet(labels, tmp)
    # labels.old is the only copy while labels is missing (a crash
    # between the renames), so it is dropped only once labels exists
    if os.path.exists(labels_dir):
        shutil.rmtree(old, ignore_errors=True)
        os.rename(labels_dir, old)
    os.rename(tmp, labels_dir)
    shutil.rmtree(old, ignore_errors=True)
    labels.sparkSession.catalog.refreshByPath(labels_dir)
    return rows


def read_labels(spark, out_dir: str) -> DataFrame | None:
    """Prior labels table, or None on first run. Falls back to
    ``labels.old`` if a crash interrupted the swap in write_labels."""
    for cand in (os.path.join(out_dir, LABELS), os.path.join(out_dir, LABELS) + ".old"):
        if os.path.exists(os.path.join(cand, "_SUCCESS")):
            return spark.read.parquet(cand)
    return None


def recanonicalize_store(
    spark, out_dir: str, labels: DataFrame, prior: DataFrame, run_id: str
) -> dict:
    """Rewrite already-materialized buckets whose canonical ids went
    STALE on resume: new edges merged an old component into a smaller
    id, so rows written in earlier runs still carry the old component.

    Store rows hold OLD canonical values (``prior``'s component, or the
    raw id if it had none), so the remap goes FROM the old canonical TO
    the component in ``labels``, for every id whose assignment changed.
    It is small (empty when the resumed buckets don't touch old
    components), so its probes broadcast. Only buckets holding a stale
    id are rewritten (dynamic overwrite). Their manifest entries are
    fingerprinted from the rewrite's eager checkpoint and saved BEFORE
    the overwrite, the ``recanonicalize`` lineage rows after it: a replay
    redoes a rewrite that did not land and finds no stale ids in one
    that did, whose entries are already saved.
    """
    data_dir = os.path.join(out_dir, "data")
    if not os.path.exists(data_dir):
        return {"rows": 0, "partitions": []}
    obs = Observation()
    rm = (
        labels.join(prior.select("id", F.col("component").alias("_old")), "id", "left")
        .select(F.coalesce("_old", "id").alias("_from"), F.col("component").alias("_to"))
        .filter(F.col("_from") != F.col("_to"))
        .distinct()
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    if obs.get["n"] == 0:
        return {"rows": 0, "partitions": []}

    rm_s = F.broadcast(rm.select(F.col("_from").alias("_sf"), F.col("_to").alias("_st")))
    rm_o = F.broadcast(rm.select(F.col("_from").alias("_of"), F.col("_to").alias("_ot")))

    def probe(df: DataFrame) -> DataFrame:  # new ids of stale subj/obj in _st/_ot
        df = df.join(rm_s, df["subj"] == rm_s["_sf"], "left")
        return df.join(rm_o, df["obj"] == rm_o["_of"], "left")

    store = spark.read.parquet(data_dir)
    stale = probe(store.select("subj", "obj", "part_id"))
    stale = stale.filter(F.col("_st").isNotNull() | F.col("_ot").isNotNull())
    parts = sorted(r.part_id for r in stale.select("part_id").distinct().collect())
    if not parts:
        return {"rows": 0, "partitions": []}

    rewritten = (
        probe(store.filter(F.col("part_id").isin(parts)))
        .withColumn("subj", F.coalesce("_st", "subj"))
        .withColumn("obj", F.coalesce("_ot", "obj"))
        .select(*store.columns)  # the store's column order, part_id last
        .distinct()  # merged components can collapse previously-distinct rows
        .localCheckpoint(eager=True)  # materialize BEFORE overwriting the source
    )
    lineage = _commit(out_dir, run_id, "recanonicalize", fingerprint(rewritten))
    rows = write_parquet(rewritten, data_dir, by="part_id", dynamic=True)
    append_lineage(out_dir, lineage)
    return {"rows": rows, "partitions": parts}


def compact_store(spark, out_dir: str, compact_dir: str, n_buckets: int = 32) -> int:
    """Compaction: provenance-partitioned append log → globally deduped,
    subject-bucketed layout (the query-optimized table; Iceberg rewrite
    analog). One shuffle (distinct) + one rebalanced-by-bucket write.
    Returns the rows written.
    """
    store = spark.read.parquet(os.path.join(out_dir, "data"))
    quads = store.select("subj", "pred", "obj", "obj_dtype").distinct()
    bq = quads.withColumn("part_id", bucket("subj", n_buckets))
    return write_parquet(bq, compact_dir, by="part_id")
