"""Connected-components canonicalization (entity resolution).

North-rule custom operator (SURVEY.md §4 item 1): collapse clusters of
equivalent entity URIs (owl:sameAs edges from JSON-LD islands + link
equivalences) to one canonical id = the MINIMUM id in the component —
a deterministic choice at any parallelism (the reference's newest-wins /
sorted-glob tie-break discipline, SURVEY.md §2.6 O3/O6, applied to ids).

Algorithm: CC costs what the graph costs, not a fixed number of
distributed rounds.

- Graphs of at most ``_UF_MAX_EDGES`` edges (what one Python worker
  holds comfortably) finish in ONE task: the edges are coalesced to a
  single partition and a ``mapInArrow`` worker runs the union-find loop
  of :func:`reference_components` over their Arrow batches. Its output
  is the labels table, every vertex included (self-loop-only ones label
  themselves). Measured in a warm session on a 4-core host over the
  4,415 sameAs edges of a 2,002-page corpus: 0.35–0.41 s and 1 job,
  against 3.3–6.0 s and 28 jobs for the star rounds; identical labels
  for all 5,003 ids.
- Larger graphs contract first: alternating large-star / small-star
  rounds (Kiveris et al., "Connected Components in MapReduce and
  Beyond", SoCC'14 — public literature) rewrite the edge set

      large-star: every node u hooks its strictly-larger neighbors to
                  m(u) = min(N(u) ∪ {u})
      small-star: every node u (as the larger endpoint) hooks its
                  smaller neighbors and itself to m(u)

  until it holds at most ``_UF_MAX_EDGES`` edges; the same union-find
  then finishes over the contracted edges. Contraction preserves
  connectivity and keeps every non-minimum vertex on an edge to a
  smaller one, so vertices absent from the contracted set are component
  minima (or isolated) and label themselves. Contraction cannot go below
  (vertices − components) edges, so a sparse graph above the bound
  reaches its fixpoint above it; that fixpoint is a forest of min-rooted
  stars, read off by one aggregation. The rounds converge in O(log n) on any
  topology, wherever the component minimum sits (regression-tested on
  a 10k chain × 4 hubs).

Scale notes:
- The bound is absolute, so no step collects to the driver and none
  holds more than ``_UF_MAX_EDGES`` edges in one task.
- Each star step is one hash aggregation (min per node — map-side
  partial agg, so a hot node — the "Boris Johnson problem", one entity
  on ~20% of pages — does not funnel through one reducer) + one join
  of edges against that per-node minimum. The join is skewed on a hot
  node; AQE's skew-join splits the oversized partition (an explicit
  broadcast split of hot minima measured slower on every planted-hub
  graph, tools/skew_stress.py).
- An eager ``localCheckpoint`` every round truncates the lineage chain
  — without it the plan doubles per iteration and the driver OOMs
  compiling it. Each round's edge count and (count, hash-xor)
  fingerprint ride on that checkpoint job as an ``Observation``.
- Convergence: stop below the bound or when the fingerprint is a
  fixpoint; ``max_iter`` bounds pathological inputs and warns.

Returns labels(id, component) on a checkpoint — join it back to the
triple table to rewrite subj/obj to canonical ids, then dedup (O3
keep-best); its consumers read it without re-running CC.
"""

from __future__ import annotations

import warnings
from collections.abc import Iterable, Iterator
from itertools import islice

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Graphs with at most this many edges finish in one union-find task;
# larger ones are contracted by star rounds until they fit.
_UF_MAX_EDGES = 2_000_000
# Rows per Arrow batch the union-find task emits.
_UF_BATCH_ROWS = 10_000


def _checkpoint(df: DataFrame, *aggs) -> tuple[DataFrame, dict]:
    """Eagerly ``localCheckpoint`` ``df``; return it with ``aggs``
    computed on that same job by an Observation.

    Eager on purpose: a lazy checkpoint freezes its physical plan before
    AQE's runtime re-optimization, and a planted-hub graph ran 24.7 s →
    45.9 s with all CC checkpoints lazy (identical labels).
    """
    obs = Observation()
    return df.observe(obs, *aggs).localCheckpoint(eager=True), obs.get


def _fingerprint() -> tuple:
    """(count, hash-xor) of an edge multiset: equal fingerprints before
    and after a round mark the fixpoint."""
    return F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64("u", "v")).alias("h")


def _large_star(e: DataFrame) -> DataFrame:
    """(u,v) undirected → for each node, larger neighbors hook to m(u).

    Output is a MULTISET: the trailing distinct this step used to carry
    is redundant in the round composition — ``_small_star`` immediately
    re-orients and distincts, so deduplicating here was a second full
    exchange per round for the same result (round-output hash-verified
    identical; guide §2.4). The volume risk of shipping duplicates into
    small-star's distinct is bounded by that distinct's map-side
    partial aggregation: within-partition duplicates collapse before
    the shuffle, so only cross-partition duplicates cross the wire.
    """
    sym = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).filter(F.col("u") != F.col("v"))
    w = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        sym.join(w, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """(u,v) → orient u=larger endpoint; u and its smaller neighbors hook to m(u)."""
    d = (
        e.filter(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .distinct()
    )
    w = d.groupBy("u").agg(F.min("v").alias("m"))
    hooked = d.join(w, "u")
    out = hooked.select(F.col("v").alias("u"), F.col("m").alias("v")).unionByName(
        w.select(F.col("u"), F.col("m").alias("v"))
    )
    return out.filter(F.col("u") != F.col("v")).distinct()


def _union_find_arrow(batches: Iterator) -> Iterator:
    """mapInArrow worker: the (u, v) batches of ONE partition →
    (id, component) batches of at most ``_UF_BATCH_ROWS`` rows, every
    id seen. Output types are the input's."""
    import pyarrow as pa

    parent: dict = {}
    id_type = None
    for b in batches:
        id_type = b.column(0).type
        _union(parent, zip(b.column(0).to_pylist(), b.column(1).to_pylist()))
    ids = iter(parent)
    while chunk := list(islice(ids, _UF_BATCH_ROWS)):
        roots = [_find(parent, x) for x in chunk]
        yield pa.RecordBatch.from_arrays(
            [pa.array(chunk, id_type), pa.array(roots, id_type)], names=["id", "component"]
        )


def _union_find(e: DataFrame) -> DataFrame:
    """labels(id, component) of the (u, v) edges ``e``, in one task."""
    t = e.schema["u"].dataType
    schema = T.StructType([T.StructField("id", t), T.StructField("component", t)])
    return e.coalesce(1).mapInArrow(_union_find_arrow, schema)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """edges(src, dst) → labels(id, component); component = min id.

    Edges with a NULL endpoint are dropped. At most ``_UF_MAX_EDGES``
    edges finish in one union-find task; larger graphs run star rounds
    (module docstring) first. The labels come back checkpointed.

    Pass ``stats={}`` to get telemetry back: ``rounds`` (star rounds
    run), ``edge_counts`` (edge count after each round — the observable
    for the O(log n) claim), ``edges`` (the edge count the finish ran
    on) and ``converged`` (False when ``max_iter`` stopped the rounds
    above the bound and short of a fixpoint).
    """
    pairs = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    if pairs.schema["u"].dataType != pairs.schema["v"].dataType:
        # one id type for both ends: the one a union of the two widens to
        t = pairs.select("u").union(pairs.select("v")).schema[0].dataType
        pairs = pairs.select(F.col("u").cast(t), F.col("v").cast(t))
    # materialize the caller's edge lineage exactly once: the union-find,
    # the contraction and the vertex set below all read it
    e0, seen = _checkpoint(
        pairs.filter(F.col("u").isNotNull() & F.col("v").isNotNull()),
        F.count(F.lit(1)).alias("n"),
    )
    stats = {} if stats is None else stats
    stats.update(rounds=0, edge_counts=[], edges=seen["n"], converged=True)
    if seen["n"] <= _UF_MAX_EDGES:
        return _union_find(e0).localCheckpoint(eager=True)

    # contract: self-loop-free and deduplicated in the orientation
    # _small_star emits (larger endpoint first), so an input that is
    # already a forest of min-rooted stars exits after one round
    e, fp = _checkpoint(
        e0.filter(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct(),
        *_fingerprint(),
    )
    fixpoint = False
    while fp["n"] > _UF_MAX_EDGES and not fixpoint and stats["rounds"] < max_iter:
        e, nxt = _checkpoint(_small_star(_large_star(e)), *_fingerprint())
        stats["rounds"] += 1
        stats["edge_counts"].append(nxt["n"])
        fixpoint, fp = nxt == fp, nxt
    stats["edges"] = fp["n"]
    stats["converged"] = fixpoint or fp["n"] <= _UF_MAX_EDGES
    if not stats["converged"]:
        # labels read off a mid-contraction edge set need not be the
        # component minima — never fail silently (ADVICE r2)
        warnings.warn(
            f"connected_components hit max_iter={max_iter} without an edge-"
            "fingerprint fixpoint; labels may be mid-contraction values — "
            "raise max_iter or inspect stats['edge_counts']",
            RuntimeWarning,
            stacklevel=2,
        )
    if fp["n"] <= _UF_MAX_EDGES:
        roots = _union_find(e)
    else:
        # a forest of stars: child u → its component minimum v
        roots = e.groupBy(F.col("u").alias("id")).agg(F.min("v").alias("component"))
    # vertices absent from the contracted edges are component minima
    # (contraction keeps every other vertex on an edge to a smaller one)
    verts = (
        e0.select(F.col("u").alias("id"))
        .unionByName(e0.select(F.col("v").alias("id")))
        .distinct()
    )
    return (
        verts.join(roots, "id", "left")
        .select("id", F.coalesce(F.col("component"), F.col("id")).alias("component"))
        .localCheckpoint(eager=True)
    )


def canonicalize_triples(
    triples: DataFrame,
    labels: DataFrame,
    id_col: str = "id",
    comp_col: str = "component",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Rewrite subj/obj through canonical component ids and dedup.

    Two left joins (labels is usually much smaller than triples after
    the distinct — broadcast when it fits) + one distinct (exact dedup,
    O3 analog). Non-entity nodes pass through unchanged via coalesce.
    ``keep_cols`` (e.g. the provenance bucket id) ride along; dedup is
    then per keep-cols group — global compaction is ``compact_store``'s
    job in plans.materialize.
    """
    lab_s = labels.select(
        F.col(id_col).alias("_s_id"), F.col(comp_col).alias("_s_comp")
    )
    lab_o = labels.select(
        F.col(id_col).alias("_o_id"), F.col(comp_col).alias("_o_comp")
    )
    out = (
        triples.join(lab_s, triples["subj"] == lab_s["_s_id"], "left")
        .join(lab_o, triples["obj"] == lab_o["_o_id"], "left")
        .select(
            F.coalesce(F.col("_s_comp"), F.col("subj")).alias("subj"),
            F.col("pred"),
            F.coalesce(F.col("_o_comp"), F.col("obj")).alias("obj"),
            F.col("obj_dtype"),
            *[F.col(c) for c in keep_cols],
        )
        .distinct()
    )
    return out


# --------------------------------------------------------------------------
# Union-find: the one-task finish and the single-node oracle
# --------------------------------------------------------------------------

def _find(parent: dict, x):
    while parent[x] != x:
        parent[x] = parent[parent[x]]
        x = parent[x]
    return x


def _union(parent: dict, edges: Iterable[tuple]) -> None:
    """Merge ``edges`` into ``parent``; a root is its component's min."""
    for a, b in edges:
        for v in (a, b):
            parent.setdefault(v, v)
        ra, rb = _find(parent, a), _find(parent, b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)


def reference_components(edges: list[tuple[str, str]]) -> dict[str, str]:
    """Union-find twin: id → min-id-of-component."""
    parent: dict = {}
    _union(parent, edges)
    return {v: _find(parent, v) for v in parent}
