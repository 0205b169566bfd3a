"""Connected-components canonicalization (entity resolution).

North-rule custom operator (SURVEY.md §4 item 1): collapse clusters of
equivalent entity URIs (owl:sameAs edges from JSON-LD islands + link
equivalences) to one canonical id = the MINIMUM id in the component —
a deterministic choice at any parallelism (the reference's newest-wins /
sorted-glob tie-break discipline, SURVEY.md §2.6 O3/O6, applied to ids).

Algorithm: alternating large-star / small-star edge contraction
(Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC'14 — public literature). Each round REWRITES the edge set:

    large-star: every node u hooks its strictly-larger neighbors to
                m(u) = min(N(u) ∪ {u})
    small-star: every node u (as the larger endpoint) hooks its
                smaller neighbors and itself to m(u)

and the edge set provably converges to per-component stars rooted at
the component minimum in O(log n) rounds. We previously ran min-label
propagation + pointer doubling over a STATIC edge set; that is
O(log n) only while one label front is live — when a smaller label
arrives late into an already-converged region (a hub grafted onto a
long chain's midpoint), it crawls the region at one hop per round
because every pointer already short-circuits to the regional minimum.
Star contraction rewires the region's star root directly to the new
minimum, so the same topology converges in O(log n) regardless of
label arrival order (regression-tested on a 10k chain × 4 hubs).

Scale notes:
- Each star step is one hash aggregation (min per node — map-side
  partial agg, so a hot node — the "Boris Johnson problem", one entity
  on ~20% of pages — does not funnel through one reducer) + one join
  of edges against that per-node minimum. The join is skewed on a hot
  node; AQE's skew-join splits the oversized partition (an explicit
  broadcast split of hot minima measured slower on every planted-hub
  graph, tools/skew_stress.py).
- ``localCheckpoint`` every round truncates the lineage chain — without
  it the plan doubles per iteration and the driver OOMs compiling it
  (this is the Spark analog of the reference's incremental checkpoint
  state, /root/reference/cli/strava_import.py:289-313).
- Convergence: stop when the edge multiset's (count, hash-xor)
  fingerprint is a fixpoint; sameAs graphs are star-shaped already
  (diameter ≤ 4), so 2-3 rounds in practice; ``max_iter`` bounds
  pathological inputs.

Returns labels(id, component) — join it back to the triple table to
rewrite subj/obj to canonical ids, then dedup (O3 keep-best).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """edges(src, dst) → labels(id, component); component = min id.

    Alternating large-star / small-star contraction (module docstring).
    One round = large-star + small-star + a (count, hash-xor) edge
    fingerprint action; stop at a fingerprint fixpoint. O(log n) rounds
    on any topology, independent of where the component minimum sits.

    Pass ``stats={}`` to get convergence telemetry back: ``rounds``
    (star rounds until fixpoint), ``edge_counts`` (surviving edge
    count per round — the observable for the O(log n) claim) and
    ``converged``.
    """
    # materialize the caller's edge lineage exactly ONCE: verts and e
    # both derive from it, and checkpointing each separately (the old
    # shape) recomputed the caller's (possibly expensive, un-checkpointed)
    # upstream plan twice before the first contraction round.
    # EAGER on purpose — measured, do not "optimize" to eager=False:
    # fusing the checkpoint into the next action looks like it saves a
    # job per round, but a lazy localCheckpoint freezes a physical plan
    # BEFORE AQE's runtime re-optimization (no shuffle-partition
    # coalescing on the small contracted relations), and a planted-hub
    # pathology test regressed 24.7 → 45.9 s when all CC checkpoints
    # went lazy (r5, local[32] idle, identical labels).
    # Round-6 A/B (kept as-is): skipping this checkpoint when the
    # caller's edge frame already sits on a checkpoint (dedup_clusters,
    # the pipeline) measured NEUTRAL-to-worse — on a materialized input
    # this job is nearly free, while without it the e-checkpoint and the
    # final verts join each re-derive (and re-compile) the projection.
    # Same verdict for skipping the e distinct below on guaranteed-clean
    # pair graphs. The CC job sequence is at its overhead floor
    # (r5 profile: ~8 × ~200 ms per-action cost, not a plan flaw).
    e0 = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
        .localCheckpoint(eager=True)
    )
    # lazy: one distinct over the checkpointed e0, executed by the final
    # labels join only (it is not consumed inside the loop)
    verts = (
        e0.select(F.col("u").alias("id"))
        .unionByName(e0.select(F.col("v").alias("id")))
        .distinct()
    )
    # NB: even for inputs that are already unique/self-loop-free (the
    # dedup pair graph) this distinct+checkpoint stays: an A/B this
    # round (skip it when the caller guarantees cleanliness) was
    # neutral-to-worse — without the materialized ``e`` the seed
    # fingerprint and both round-1 star steps each re-derive and
    # re-compile the projection subtree, costing more than the no-op
    # dedup shuffle saves.
    e = e0.filter(F.col("u") != F.col("v")).distinct().localCheckpoint(eager=True)

    if stats is not None:
        stats["rounds"] = 0
        stats["edge_counts"] = []

    def _fingerprint(d: DataFrame) -> tuple:
        row = d.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("u", "v")).alias("h"),
        ).first()
        return (row["n"], row["h"])

    # Seed the fixpoint test with the fingerprint of the input in the
    # round-output's canonical orientation (larger endpoint first — the
    # exact representation _small_star emits at fixpoint). An input that
    # is ALREADY a forest of min-rooted stars (the common shape for
    # sameAs corpora and dedup pair graphs) then exits after ONE
    # confirming round instead of two; any other input simply fails the
    # first comparison and the loop proceeds unchanged.
    prev_fp = _fingerprint(
        e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct()
    )
    converged = False
    for _ in range(max_iter):
        # truncate lineage every round; eager on purpose (see the
        # seed-checkpoint comment: lazy loses AQE re-optimization)
        e = _small_star(_large_star(e)).localCheckpoint(eager=True)
        fp = _fingerprint(e)
        if stats is not None:
            stats["rounds"] += 1
            stats["edge_counts"].append(fp[0])
        if fp == prev_fp:
            converged = True
            break
        prev_fp = fp
    if stats is not None:
        stats["converged"] = converged
    if not converged:
        # labels derived from a mid-contraction edge set need not be the
        # component minima — never fail silently (ADVICE r2)
        import warnings

        warnings.warn(
            f"connected_components hit max_iter={max_iter} without an edge-"
            "fingerprint fixpoint; labels may be mid-contraction values — "
            "raise max_iter or inspect stats['edge_counts']",
            RuntimeWarning,
            stacklevel=2,
        )

    # at fixpoint e is a forest of stars (child u → component-min v);
    # vertices absent from e (isolated / self-loop-only) label themselves
    star = e.groupBy(F.col("u").alias("id")).agg(F.min("v").alias("root"))
    return verts.join(star, "id", "left").select(
        "id", F.coalesce(F.col("root"), F.col("id")).alias("component")
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
# Single-node oracle (union-find) for parity tests
# --------------------------------------------------------------------------

def reference_components(edges: list[tuple[str, str]]) -> dict[str, str]:
    """Union-find twin: id → min-id-of-component."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        for v in (a, b):
            parent.setdefault(v, v)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}
