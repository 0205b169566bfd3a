"""Entity linking — mention detection + link scoring against an alias
dictionary.

Reference analog: the keyed lookup + canonical-key scoring pattern (the
reference's server/routes/sessions.py:284-414 canonical weather key,
core/src/physics.rs:446-507 keyword→value table) and the argmin/argmax
"best candidate" idiom (cli/analyze.py:226-238,
core/src/calibration.rs:146-150).

Every step is per document, so one Python function does them all:
1. tokenize with ``str.split``, which splits on Unicode whitespace too
   (``extract_text`` keeps ``&#160;`` as U+00A0),
2. probe every 1..MAX_NGRAM-token window against the alias index
   ``{alias: [(entity_id, prior)]}``,
3. count, per entity, the positions that propose it (the coherence
   support),
4. keep the best link per position: longest alias, then highest score,
   then lexicographically smallest entity_id (deterministic tie-break —
   the reference's newest-wins/sorted-glob discipline, SURVEY.md §2.6
   O3/O6).

``link_mentions`` runs that function in ONE ``mapInArrow`` pass over
(text, key columns), the pattern of ``extract_text_udf`` and the lift's
``_parse_pages_arrow``: no exchange, join, window or aggregation, since
a page's links depend on that page alone. ``reference_link`` runs the
same function over one document; it generated the committed
``kg_entity_links`` VALUES oracle.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import types as T

MAX_NGRAM = 3

# pos is NOT NULL, so a resumed links/ directory keeps one parquet schema
_LINK_FIELDS = [
    T.StructField("pos", T.IntegerType(), False),
    T.StructField("alias", T.StringType()),
    T.StructField("entity_id", T.StringType()),
    T.StructField("score", T.DoubleType()),
]


def _alias_index(alias_rows) -> dict[str, list[tuple[str, float]]]:
    """(alias, entity_id, prior) rows → {alias: [(entity_id, prior)]}."""
    index: dict[str, list[tuple[str, float]]] = {}
    for a, e, p in alias_rows:
        index.setdefault(a, []).append((e, p))
    return index


def _link_doc(
    text: str, index: dict[str, list[tuple[str, float]]], context_weight: float
) -> list[tuple[int, str, str, float]]:
    """[(pos, alias, entity_id, score)] of one document against ``index``."""
    toks = text.split()

    # pass 1: all candidates per position + per-entity support
    per_pos: dict[int, list[tuple[int, float, str, str]]] = {}
    support: dict[str, set[int]] = {}
    for pos in range(len(toks)):
        for n in range(1, MAX_NGRAM + 1):
            if pos + n > len(toks):
                break
            gram = " ".join(toks[pos : pos + n])
            for eid, prior in index.get(gram, []):
                per_pos.setdefault(pos, []).append((n, prior, eid, gram))
                support.setdefault(eid, set()).add(pos)

    # pass 2: best link per position
    out: list[tuple[int, str, str, float]] = []
    for pos in sorted(per_pos):
        scored = [
            (
                n,
                prior * (1.0 + context_weight * math.log(1.0 + (len(support[eid]) - 1))),
                eid,
                gram,
            )
            for n, prior, eid, gram in per_pos[pos]
        ]
        n, score, eid, gram = min(scored, key=lambda c: (-c[0], -c[1], c[2]))
        out.append((pos, gram, eid, round(score, 6)))
    return out


def link_mentions(
    pages: DataFrame,
    aliases: DataFrame,
    key_cols: tuple[str, ...] = ("url",),
    context_weight: float = 0.1,
) -> DataFrame:
    """pages(text, key_cols...) × aliases(alias, entity_id, prior) → best
    link per mention: (key_cols..., pos, alias, entity_id, score).

    score = prior × (1 + context_weight·ln(1 + support − 1)) where support
    = number of candidate positions in the same document that propose
    this entity (coherence feature: an ambiguous alias resolves toward
    the entity the rest of the document talks about — the "prior ×
    context features" design from SURVEY.md M4).

    Pages are tokenized with ``str.split()``, not the document family's
    ``textstats.tokens``: this linker's oracle is ``reference_link``, and
    extracted web text holds U+00A0 (``&#160;``), which must split.

    The alias table is a dimension table: it is collected once and the
    worker closes over its index (PySpark broadcasts a pickled function
    above 1 MiB, so a large index still ships once per executor). A NULL
    text yields no rows; key columns are copied per link with
    ``pc.take``, so they never cross into Python lists.
    """
    index = _alias_index(aliases.select("alias", "entity_id", "prior").collect())
    schema = T.StructType([pages.schema[k] for k in key_cols] + _LINK_FIELDS)

    def link_batches(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            texts = batch.column(0).to_pylist()
            links: list[tuple[int, str, str, float]] = []
            counts = np.zeros(len(texts), dtype=np.int64)
            for i, text in enumerate(texts):
                if text is not None:
                    doc = _link_doc(text, index, context_weight)
                    counts[i] = len(doc)
                    links.extend(doc)
            rows = pa.array(np.repeat(np.arange(len(texts)), counts))
            keys = [pc.take(batch.column(j), rows) for j in range(1, len(key_cols) + 1)]
            pos, alias, eid, score = zip(*links) if links else ((), (), (), ())
            vals = [
                pa.array(pos, pa.int32()),
                pa.array(alias, pa.string()),
                pa.array(eid, pa.string()),
                pa.array(score, pa.float64()),
            ]
            yield pa.RecordBatch.from_arrays([*keys, *vals], names=schema.names)

    return pages.select("text", *key_cols).mapInArrow(link_batches, schema)


# --------------------------------------------------------------------------
# Single-node oracle
# --------------------------------------------------------------------------

def reference_link(
    text: str,
    alias_rows: list[tuple[str, str, float]],
    context_weight: float = 0.1,
) -> list[tuple[int, str, str, float]]:
    """The per-document function of link_mentions over one document.

    Returns [(pos, alias, entity_id, score)] — best link per position,
    score = prior × (1 + w·ln(1 + (support − 1))) with support = distinct
    candidate positions proposing that entity in this document.

    It keeps ``str.split()`` rather than ``textstats.reference_tokens``:
    it is the oracle of the factory's linker, not of a DuckDB leaf, and
    splits the U+00A0 that ``extract_text`` keeps from ``&#160;``.
    """
    return _link_doc(text, _alias_index(alias_rows), context_weight)
