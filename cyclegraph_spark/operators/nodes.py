"""Node table — the per-entity companion artifact to the triple store.

North-rule deliverable ("materializing deduplicated triples and node
tables back to partitioned Iceberg"): one row per graph node with its
degree profile and display name, derived wholly from the canonical
triple relation, so it can be recomputed idempotently from the store
(no separate state to resume).

Plan shape: one map-side-combined aggregation — no join, no window.
Each triple is a row for its subject (``out``) and, if its object is a
uri, one for that object; one ``groupBy(id)`` computes every column,
and given SHACL shapes also the ``shacl.shape_columns`` the violations
are exploded from, so the factory builds both reports in one pass. A
hot node (the corpus's 20%-of-pages entity) is one output row, so skew
lives only in the agg's partial buffers, which combine map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cyclegraph_spark.operators.shacl import NodeShape, shape_columns
from cyclegraph_spark.operators.triples import RDF_TYPE, SCHEMA

NAME_PRED = SCHEMA + "name"
NODE_COLUMNS = ("id", "n_out", "n_in", "n_types", "name")


def node_table(triples: DataFrame, shapes: list[NodeShape] | None = None) -> DataFrame:
    """(subj, pred, obj, obj_dtype) → (id, n_out, n_in, n_types, name).

    - ``n_out``: triples with this node as subject;
    - ``n_in``: uri-valued triples pointing at it;
    - ``n_types``: distinct rdf:type values;
    - ``name``: MIN schema.org/name literal (deterministic tie-break,
      the O3/O6 discipline), NULL when the node has none.

    With ``shapes``, the ``shacl.shape_columns`` follow; ``shacl.violations``
    explodes them.
    """
    out = F.col("out")
    rows = triples.select("*", F.explode(F.array(F.lit(True), F.lit(False))).alias("out"))
    rows = rows.filter(out | (F.col("obj_dtype") == "uri"))
    return rows.groupBy(F.when(out, F.col("subj")).otherwise(F.col("obj")).alias("id")).agg(
        F.count_if(out).alias("n_out"),
        F.count_if(~out).alias("n_in"),
        # size(collect_set), not count_distinct: a distinct aggregate
        # shuffles twice, by (id, obj) and then by id
        F.size(F.collect_set(F.when(out & (F.col("pred") == RDF_TYPE), F.col("obj"))))
        .cast("bigint")
        .alias("n_types"),
        F.min(F.when(out & (F.col("pred") == NAME_PRED), F.col("obj"))).alias("name"),
        *shape_columns(shapes or [], out),
    )
