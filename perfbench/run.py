#!/usr/bin/env python3
"""Benchmark of the KG factory (``cyclegraph_spark.plans.pipeline``).

Usage, from the root of the repository:

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Each run is one batch job: one process starts a Spark session on
``local[<cores>]``, writes the seeded corpus, computes the expected
store with the pure-Python twin, then times exactly one pipeline run,
the first of the process, and checks its store against the twin:

- kg_build: a fresh build into an empty out dir;
- kg_resume: a resume on a fresh copy of a store snapshot that holds the
  source buckets < 16. The snapshot is built once per checkout, by a
  separate process, and kept under ``perfbench/.cache``.

``--trace 1`` traces that run and reports the per-layer metrics instead
of the end-to-end ones. The last line of stdout is one JSON object; see
README.md.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CACHE = os.path.join(HERE, ".cache")

N_PAGES = 2000
N_ENTITIES = 1000
N_BUCKETS = 32
CORPUS_FILES = 8
SNAPSHOT_SEED = 0
DRIVER_MEMORY = "2g"
RUN_TIMEOUT_S = 120.0  # a pipeline run slower than this counts as failed

WORKLOADS = ("kg_build", "kg_resume")
END_TO_END = {
    "wall_s": ("s", "lower"),
    "pages_per_s": ("pages/s", "higher"),
    "peak_rss_mb": ("MB", "lower"),
    "setup_s": ("s", "lower"),
}


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _prepare_work_dir() -> None:
    """Keep every file Spark, Python and the JVM write inside WORK."""
    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("tmp", "spark-local", "events"):
        os.makedirs(os.path.join(WORK, sub))
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")


def _host_rate(seconds: float = 0.5) -> float:
    """Single-thread sha256 rate of the host right now, in M hashes/s.
    The host's per-core speed drifts with its other tenants' load; this
    reading lets a slow run be told apart from a slow host."""
    h, n, t0 = b"x" * 64, 0, time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        for _ in range(1000):
            h = hashlib.sha256(h).digest()
        n += 1000
    return n / (time.perf_counter() - t0) / 1e6


# --------------------------------------------------------------------------
# memory of the Spark JVM and its Python workers
# --------------------------------------------------------------------------

def _process_tree(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _reset_peak_rss(root: int) -> None:
    for pid in _process_tree(root):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass  # the process ended meanwhile


def _peak_rss_mb(root: int) -> float:
    kib = 0
    for pid in _process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                kib += next((int(line.split()[1]) for line in f if line.startswith("VmHWM:")), 0)
        except OSError:
            pass
    return kib / 1024.0


# --------------------------------------------------------------------------
# the benchmark
# --------------------------------------------------------------------------

class Bench:
    def __init__(self, seed: int, trace: bool, snapshot: str | None) -> None:
        self.seed, self.trace, self.snapshot = seed, trace, snapshot
        self.cores = _cores()
        self.attempted = self.failed = 0
        self.done: set[int] = set()  # source buckets the snapshot holds
        self.wall: float | None = None
        self.peak = 0.0
        self.counts: dict[str, float] = {}
        self.host_rate = 0.0
        self.tracer = None
        self.spark = None

    # ---- set-up -----------------------------------------------------------
    def start_session(self) -> None:
        from pyspark import SparkContext

        from cyclegraph_spark.session import get_spark

        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(WORK, "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark(
            app_name="perfbench", master=f"local[{self.cores}]", extra_conf=conf
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_proc = SparkContext._gateway.proc

    def build_inputs(self) -> None:
        """Write the seeded corpus with the program's generator (which also
        starts the Python workers) and compute the expected store."""
        from pyspark.sql import functions as F

        from cyclegraph_spark.operators.shacl import NodeShape, PropertyShape
        from cyclegraph_spark.operators.triples import SCHEMA, XSD_INT
        from cyclegraph_spark.sources.pages import alias_df, pages_df, resume_chain_records

        from twin import corpus_records, source_bucket, store_fingerprint

        spark = self.spark
        crafted = spark.createDataFrame(
            resume_chain_records(N_BUCKETS), "url string, warc_ts long, html binary, lang string"
        ).withColumn("warc_ts", F.timestamp_seconds("warc_ts"))
        corpus = os.path.join(WORK, "corpus")
        (
            pages_df(spark, N_PAGES, N_ENTITIES, self.seed, partitions=2 * self.cores)
            .unionByName(crafted)
            .write.parquet(corpus)
        )
        self.pages = spark.read.parquet(corpus)
        self.aliases = alias_df(spark, N_ENTITIES, self.seed).localCheckpoint(eager=True)
        self.shapes = [
            NodeShape(
                "ExerciseActionShape",
                SCHEMA + "ExerciseAction",
                [PropertyShape(SCHEMA + p, XSD_INT, 1, 1) for p in ("power", "heartRate")],
            )
        ]
        if self.snapshot is not None:
            with open(os.path.join(self.snapshot, "manifest.json"), encoding="utf-8") as f:
                self.done = {int(k) for k in json.load(f)["partitions"]}
        # a resume prunes the snapshot's buckets: the store keeps the
        # SNAPSHOT_SEED version of their pages
        records = corpus_records(
            N_PAGES, N_ENTITIES, self.seed, N_BUCKETS, self.done, SNAPSHOT_SEED
        )
        self.pages_lifted = sum(
            1 for r in records if source_bucket(r[0], N_BUCKETS) not in self.done
        )
        self.expected = store_fingerprint(records)

    def set_up(self) -> None:
        for step in (self.start_session, self.build_inputs):
            t0 = time.perf_counter()
            step()
            print(f"setup {step.__name__} {time.perf_counter() - t0:.2f} s", file=sys.stderr)

    def _pipeline(self, out: str, run_id: str, pages=None) -> dict:
        from cyclegraph_spark.plans.pipeline import run_pipeline

        return run_pipeline(
            self.spark, self.pages if pages is None else pages, out, run_id,
            shapes=self.shapes, aliases=self.aliases, n_buckets=N_BUCKETS,
        )

    def write_snapshot(self, path: str) -> None:
        """The store of a run over the source buckets < N_BUCKETS/2."""
        from pyspark.sql import functions as F

        bucket = F.pmod(F.xxhash64(F.col("url")), F.lit(N_BUCKETS))
        self._pipeline(path, "snapshot", self.pages.filter(bucket < N_BUCKETS // 2))

    # ---- the timed run ----------------------------------------------------
    def timed_run(self) -> None:
        """The process's first pipeline run, timed, then its store checked."""
        if self.trace:
            from layers import Tracer

            self.tracer = Tracer(self.spark)
        self.attempted += 1
        out = os.path.join(WORK, "out")
        if self.snapshot is not None:
            shutil.copytree(self.snapshot, out)
        self.spark.sparkContext.setJobGroup("bench", "benchmark bookkeeping")
        self.host_rate = _host_rate()
        _reset_peak_rss(self.jvm_proc.pid)
        try:
            t0 = time.perf_counter()
            if self.tracer is None:
                stages = self._pipeline(out, "timed")
            else:
                with self.tracer.installed():
                    stages = self._pipeline(out, "timed")
            wall = time.perf_counter() - t0
            peak = _peak_rss_mb(self.jvm_proc.pid)
            got = self.check(out)
        except Exception:  # noqa: BLE001 - a failed run is counted, not fatal
            traceback.print_exc()
            self.failed += 1
            return
        if got != self.expected:
            print(f"store {got} != twin {self.expected}", file=sys.stderr)
            self.failed += 1
        elif wall > RUN_TIMEOUT_S:
            print(f"run took {wall:.1f} s, over the {RUN_TIMEOUT_S} s timeout", file=sys.stderr)
            self.failed += 1
        else:
            self.wall, self.peak = wall, peak
            self.counts = _counts(out, stages)

    def check(self, out: str) -> tuple[int, int]:
        from twin import spark_fingerprint

        return spark_fingerprint(self.spark.read.parquet(os.path.join(out, "data")))

    def stop(self) -> None:
        """Stop the session and wait until the JVM, and with it every
        Python worker, has ended."""
        self.spark.stop()
        proc = self.jvm_proc
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)

    # ---- report -----------------------------------------------------------
    def values(self, setup_s: float, external: float) -> dict[str, float]:
        """The measured metrics; only setup_s when the timed run failed."""
        if self.wall is None:
            return {} if self.trace else {"setup_s": setup_s}
        if not self.trace:
            return {
                "wall_s": self.wall,
                "pages_per_s": self.pages_lifted / self.wall,
                "peak_rss_mb": self.peak,
                "setup_s": setup_s,
            }
        from layers import event_log_path, event_log_stats, layer_metrics

        t = self.tracer
        log = event_log_stats(event_log_path(os.path.join(WORK, "events")), t.window_ms)
        return {
            **layer_metrics(t, log, self.cores),
            **self.counts,
            "materialize.recanonicalize_s": t.call_s["recanonicalize_store"],
            # the segments span the traced run; installing the tracer and
            # reading its counters at the ends is overhead outside them
            "trace.wall_s": t.wall_s,
            "trace.overhead_s": t.bookkeeping_s + (self.wall - t.wall_s),
            "host.external_running": external,
            "host.cpu_rate": self.host_rate,
        }


def _counts(out: str, stages: dict) -> dict[str, float]:
    """Pipeline counts of one run, from its returned stage metrics and
    the files it wrote."""
    files = sum(
        1
        for _d, _s, names in os.walk(os.path.join(out, "data"))
        for n in names
        if n.endswith(".parquet")
    )
    return {
        "cc.rounds": stages["cc"]["rounds"],
        "cc.edges": stages["cc"]["edges"],
        "linking.rows": stages["link"]["rows"],
        "materialize.rows": stages["materialize"]["rows"],
        "materialize.files": files,
        "materialize.buckets_written": len(stages["materialize"]["written"]),
        "materialize.recanonicalize_rows": stages.get("recanonicalize", {}).get("rows", 0),
        "shacl.violations": stages["validate"]["rows"],
        "nodes.rows": stages["nodes"]["rows"],
    }


def _snapshot_key() -> str:
    """Digest of the program's and this file's source: a cached snapshot
    is reused only by the code that wrote it."""
    h = hashlib.sha256()
    sources = glob.glob(os.path.join(ROOT, "cyclegraph_spark", "**", "*.py"), recursive=True)
    for path in sorted(sources) + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def ensure_snapshot() -> str:
    """The cached kg_resume snapshot, built first by a separate process
    if this checkout has none yet."""
    path = os.path.join(CACHE, f"snapshot-{_snapshot_key()}")
    if not os.path.isdir(path):
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--build-snapshot", path],
            check=True, timeout=600,
        )
    return path


def _build_snapshot(path: str) -> int:
    _prepare_work_dir()
    b = Bench(SNAPSHOT_SEED, trace=False, snapshot=None)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        b.set_up()
        b.write_snapshot(tmp)
    finally:
        if b.spark is not None:
            b.stop()
    os.replace(tmp, path)
    shutil.rmtree(WORK, ignore_errors=True)
    return 0


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="accepted for a uniform command line; a run times one cold pipeline run")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)

    sys.path[:0] = [HERE, ROOT]
    try:
        import bench as repo_bench
        import cyclegraph_spark.plans.pipeline  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if argv[:1] == ["--build-snapshot"] and len(argv) == 2:
        return _build_snapshot(argv[1])
    args = ap.parse_args(argv)

    snapshot = ensure_snapshot() if args.workload == "kg_resume" else None
    # runnable tasks of other tenants, sampled while nothing of ours runs
    external = repo_bench._external_running()
    t_process = time.perf_counter()
    _prepare_work_dir()
    b = Bench(args.seed, bool(args.trace), snapshot)
    try:
        b.set_up()
        setup_s = time.perf_counter() - t_process
        b.timed_run()
    finally:
        if b.spark is not None:
            b.stop()
    values = b.values(setup_s, external)
    shutil.rmtree(WORK, ignore_errors=True)

    from layers import per_layer_units

    units = per_layer_units() if b.trace else END_TO_END
    metrics = {n: {"value": float(values[n]), "unit": u} for n, (u, _b) in units.items()
               if n in values}
    print(f"workload {args.workload} seed {args.seed} cores {b.cores} "
          f"external_running {external:.2f} host_cpu_rate {b.host_rate:.3f}")
    for name, m in metrics.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": b.failed == 0 and len(metrics) == len(units),
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
