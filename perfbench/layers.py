"""Per-layer trace of one pipeline run, recorded from outside the program.

``Tracer.installed()`` replaces the layer functions that
``cyclegraph_spark.plans.pipeline`` calls (and ``operators.nodes.node_table``)
with wrappers. Each call closes the running segment and opens one for
its layer: it sets the Spark job group to the layer name and reads the
codegen compile counter. The group stays set until the next layer's call,
so the eager checkpoints, writes and counts that ``run_pipeline`` makes
between calls land in the layer that precedes them, and the segments
partition the run's wall time.

``event_log_stats`` then groups the event log's tasks by job group:
tasks, summed executor run time, shuffle bytes written, spill and task
failures per layer, and the time with no job running.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time
from collections import defaultdict

LAYERS = ("extract", "triples", "cc", "linking", "materialize", "shacl", "nodes")
LAYER_FIELDS = {
    "wall_s": ("s", "lower"),
    "jobs": ("count", "lower"),
    "tasks": ("count", "lower"),
    "busy_s": ("s", "lower"),
    "busy_share": ("ratio", "higher"),
    "shuffle_bytes": ("bytes", "lower"),
    "compiles": ("count", "lower"),
}
COUNTS = {
    "cc.rounds": ("count", "lower"),
    "cc.edges": ("count", "lower"),
    "linking.rows": ("count", "lower"),
    "materialize.rows": ("count", "lower"),
    "materialize.files": ("count", "lower"),
    "materialize.buckets_written": ("count", "lower"),
    "materialize.recanonicalize_s": ("s", "lower"),
    "materialize.recanonicalize_rows": ("count", "lower"),
    "shacl.violations": ("count", "lower"),
    "nodes.rows": ("count", "lower"),
}
ENGINE = {
    "spark.driver_only_s": ("s", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.compiles": ("count", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.spill_bytes": ("bytes", "lower"),
    "spark.task_failures": ("count", "lower"),
}
RUN = {
    "trace.wall_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
    "host.external_running": ("count", "lower"),
    "host.cpu_rate": ("M/s", "higher"),
}


def per_layer_units() -> dict[str, tuple[str, str]]:
    """Every per-layer metric name → (unit, better), in report order."""
    out = {f"{layer}.{f}": uf for layer in LAYERS for f, uf in LAYER_FIELDS.items()}
    return {**out, **COUNTS, **ENGINE, **RUN}


# name the pipeline module calls → layer it belongs to
PIPELINE_CALLS = {
    "extract_text_udf": "extract",
    "lift_html_pages": "triples",
    "read_labels": "cc",
    "connected_components": "cc",
    "write_labels": "cc",
    "canonicalize_triples": "cc",
    "recanonicalize_store": "materialize",
    "link_mentions": "linking",
    "materialize_triples": "materialize",
    "validate": "shacl",
}


class Tracer:
    """Segments of one traced run: (layer, start, end, compiles)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._mx = jvm.java.lang.management.ManagementFactory
        self.segments: list[tuple[str, float, float, int]] = []
        self.call_s: dict[str, float] = defaultdict(float)
        self.bookkeeping_s = 0.0  # time the tracer itself spent at layer boundaries
        self.window_ms = (0, 0)  # epoch milliseconds, the event log's clock
        self.gc_s = 0.0
        self._open: tuple[str, float, int] | None = None

    def compiles(self) -> int:
        return int(self._codegen.METRIC_COMPILATION_TIME().getCount())

    def _gc_ms(self) -> int:
        beans = self._mx.getGarbageCollectorMXBeans()
        return sum(max(0, int(b.getCollectionTime())) for b in beans)

    def _boundary(self, layer: str | None) -> None:
        """Close the running segment; open one for ``layer`` unless None."""
        now, c = time.perf_counter(), self.compiles()
        if self._open is not None:
            prev, t0, c0 = self._open
            self.segments.append((prev, t0, now, c - c0))
        self._open = None if layer is None else (layer, now, c)
        group = layer or "bench"  # after the run: the benchmark's own jobs
        self.sc.setJobGroup(group, group)
        self.bookkeeping_s += time.perf_counter() - now

    @property
    def wall_s(self) -> float:
        return self.segments[-1][2] - self.segments[0][1] if self.segments else 0.0

    def layer_wall(self) -> dict[str, float]:
        out = dict.fromkeys(LAYERS, 0.0)
        for layer, t0, t1, _c in self.segments:
            out[layer] += t1 - t0
        return out

    def layer_compiles(self) -> dict[str, int]:
        out = dict.fromkeys(LAYERS, 0)
        for layer, _t0, _t1, c in self.segments:
            out[layer] += c
        return out

    def _wrap(self, fn, layer: str, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            self._boundary(layer)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.call_s[name] += time.perf_counter() - t0

        return traced

    @contextlib.contextmanager
    def installed(self):
        """Trace the pipeline calls made inside the block. The block's
        start, before the first layer call, counts as extract."""
        from cyclegraph_spark.operators import nodes
        from cyclegraph_spark.plans import pipeline

        patches = [(pipeline, name, layer) for name, layer in PIPELINE_CALLS.items()]
        patches.append((nodes, "node_table", "nodes"))
        saved = [(mod, name, getattr(mod, name)) for mod, name, _l in patches]
        gc0, ms0 = self._gc_ms(), int(time.time() * 1000)
        try:
            for mod, name, layer in patches:
                setattr(mod, name, self._wrap(getattr(mod, name), layer, name))
            self._boundary(LAYERS[0])
            yield self
        finally:
            self._boundary(None)
            self.window_ms = (ms0, int(time.time() * 1000))
            self.gc_s = (self._gc_ms() - gc0) / 1000.0
            for mod, name, fn in saved:
                setattr(mod, name, fn)


def event_log_path(log_dir: str) -> str:
    """The one finished event log a stopped session left in ``log_dir``."""
    logs = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {logs}")
    return logs[0]


def event_log_stats(path: str, window_ms: tuple[int, int]) -> dict:
    """Tasks, busy time, shuffle, spill and failures per job group, plus
    the job count and the share of ``window_ms`` no job covered."""
    stage_group: dict[int, str | None] = {}
    jobs: dict[int, dict] = {}
    groups: dict[str, dict] = defaultdict(
        lambda: {"jobs": 0, "tasks": 0, "busy_ms": 0, "shuffle_bytes": 0, "spill_bytes": 0,
                 "task_failures": 0}
    )
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                jobs[ev["Job ID"]] = {"group": group, "start": ev["Submission Time"], "end": None}
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
                if group is not None:
                    groups[group]["jobs"] += 1
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif kind == "SparkListenerStageSubmitted":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                stage_group[ev["Stage Info"]["Stage ID"]] = group
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                if group is None:
                    continue
                g = groups[group]
                g["tasks"] += 1
                if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                    g["task_failures"] += 1
                m = ev.get("Task Metrics") or {}
                g["busy_ms"] += int(m.get("Executor Run Time", 0))
                g["shuffle_bytes"] += int(
                    (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                )
                g["spill_bytes"] += int(m.get("Disk Bytes Spilled", 0))

    lo, hi = window_ms
    spans = sorted(
        (max(lo, j["start"]), min(hi, j["end"] if j["end"] is not None else hi))
        for j in jobs.values()
        if j["group"] in LAYERS
    )
    covered, cur_lo, cur_hi = 0, None, None
    for a, b in spans:
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return {
        "groups": {k: dict(v) for k, v in groups.items()},
        "driver_only_s": max(0.0, (hi - lo - covered) / 1000.0),
    }


def layer_metrics(tracer: Tracer, log: dict, cores: int) -> dict[str, float]:
    """The ``<layer>.<field>`` and ``spark.*`` metrics of one traced run."""
    walls, compiles = tracer.layer_wall(), tracer.layer_compiles()
    out: dict[str, float] = {}
    for layer in LAYERS:
        g = log["groups"].get(layer, {})
        busy = g.get("busy_ms", 0) / 1000.0
        wall = walls[layer]
        out[f"{layer}.wall_s"] = wall
        out[f"{layer}.jobs"] = g.get("jobs", 0)
        out[f"{layer}.tasks"] = g.get("tasks", 0)
        out[f"{layer}.busy_s"] = busy
        out[f"{layer}.busy_share"] = busy / (cores * wall) if wall > 0 else 0.0
        out[f"{layer}.shuffle_bytes"] = g.get("shuffle_bytes", 0)
        out[f"{layer}.compiles"] = compiles[layer]
    in_layers = [log["groups"].get(layer, {}) for layer in LAYERS]
    out["spark.driver_only_s"] = log["driver_only_s"]
    out["spark.jobs"] = sum(g.get("jobs", 0) for g in in_layers)
    out["spark.compiles"] = sum(compiles.values())
    out["spark.gc_s"] = tracer.gc_s
    out["spark.spill_bytes"] = sum(g.get("spill_bytes", 0) for g in in_layers)
    out["spark.task_failures"] = sum(g.get("task_failures", 0) for g in in_layers)
    return out
