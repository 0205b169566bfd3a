"""Pure-Python twin of the pipeline's canonical store.

The expected store of a fresh run is computed without Spark: every page
is lifted by the single-node island parser (``_lift_page_rows`` of
``tools/gen_value_oracles.py``), the sameAs edges go through the
union-find ``reference_components``, subjects and objects are rewritten
to their component, and the distinct quads are folded into Spark's
``bit_xor(xxhash64(subj, pred, obj, obj_dtype))`` with the pure-Python
XXH64. A resumed run must reach the same store, so one twin checks both
workloads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

QUAD = ("subj", "pred", "obj", "obj_dtype")


def source_bucket(url: str, n_buckets: int) -> int:
    """The pipeline's ``pmod(xxhash64(url), n_buckets)``; for a power-of-two
    ``n_buckets`` the low bits of the signed and unsigned hash agree."""
    from cyclegraph_spark.functions.xxh64 import spark_xxhash64_str

    return spark_xxhash64_str(url) % n_buckets


def corpus_records(
    n_pages: int,
    n_entities: int,
    seed: int,
    n_buckets: int,
    old_buckets: set[int] = frozenset(),
    old_seed: int = 0,
) -> list:
    """The seeded pages plus the two crafted sameAs-chain pages, as
    ``(url, warc_ts, html, lang)`` tuples. Pages in ``old_buckets`` are
    built with ``old_seed``: they are the ones an existing store holds."""
    from cyclegraph_spark.sources.pages import page_record, resume_chain_records

    pages = []
    for i in range(n_pages):
        rec = page_record(i, n_entities, seed)
        if old_buckets and source_bucket(rec[0], n_buckets) in old_buckets:
            rec = page_record(i, n_entities, old_seed)
        pages.append(rec)
    return pages + resume_chain_records(n_buckets)


def store_fingerprint(records: list) -> tuple[int, int]:
    """(distinct canonical quads, signed xor fingerprint) of a fresh
    store built from ``records``."""
    from cyclegraph_spark.functions.xxh64 import _to_signed, xxh64_bytes
    from cyclegraph_spark.operators.cc import reference_components
    from cyclegraph_spark.operators.triples import OWL_SAMEAS
    from tools.gen_value_oracles import _lift_page_rows

    triples = []
    for url, _ts, html, _lang in records:
        triples.extend(_lift_page_rows(url, html))
    labels = reference_components([(s, o) for s, p, o, _d in triples if p == OWL_SAMEAS])
    canon = {(labels.get(s, s), p, labels.get(o, o), d) for s, p, o, d in triples}

    acc = 0
    for row in canon:
        carry = 42  # Spark's xxhash64 over columns chains the seed
        for col in row:
            carry = xxh64_bytes(col.encode("utf-8"), carry)
        acc ^= carry
    return len(canon), _to_signed(acc)


def spark_fingerprint(store: DataFrame) -> tuple[int, int]:
    """The same fingerprint over a materialized store, computed by
    Spark SQL alone (no code of the program under test)."""
    row = (
        store.select(*QUAD)
        .distinct()
        .agg(F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(*QUAD)).alias("fp"))
        .first()
    )
    return int(row["n"]), int(row["fp"] or 0)
