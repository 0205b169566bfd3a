#!/usr/bin/env python
"""Generate literal-VALUES DuckDB oracles for the gate queries whose
semantics are not ANSI-SQL-computable (hash permutations, HTML parsing,
iterative CC, n-gram linking).

THE GENERATOR IS THE SINGLE-NODE TWIN, NEVER THE SPARK OUTPUT:
- MinHash/SimHash: pure-Python XXH64 (functions/xxh64.py, implemented
  from the public xxHash spec) over reference_shingles / reference_tokens;
- kg_html_lift: parse_islands + the reference literal-coercion rules
  (reference_lift_page semantics, multiset);
- kg_cc_components: union-find (operators/cc.py reference_components);
- kg_entity_links: reference_link (operators/linking.py) over
  extract_text (extract/text.py single-node extractor).

Inputs are deterministic: the seeded pages generator (pure function of
id) and the fixed sf0.01 documents corpus the driver gates at.

Writes cyclegraph_spark/operators/oracles_values.py (committed). Re-run
when the corpus, the seeded generators, or the operator parameters
change; tests/test_value_oracles.py asserts freshness on samples.

Usage: python tools/gen_value_oracles.py
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF001_DOCS = "/root/testdata/sf0.01/documents.parquet"
OUT = os.path.join(REPO, "cyclegraph_spark", "operators", "oracles_values.py")

MINHASH_K = 64
MINHASH_BANDS, MINHASH_ROWS = 16, 4
MINHASH_EST_THRESHOLD = 0.1
# the banded Spark plan has FULL recall for hamming <= max_hamming
# (pigeonhole over max_hamming+1 bands), so the twin is plain brute
# force — if the banding ever lost a pair the VALUES gate would catch it
SIMHASH_MAX_HAMMING = 6
HTML_LIFT_PAGES = 500
CC_PAGES = 400
LINK_PAGES = 300
LINK_ENTITIES = 1000
RESUME_PAGES = 240


def load_documents() -> list[tuple[int, str]]:
    import duckdb

    con = duckdb.connect()
    return con.execute(
        f"SELECT doc_id, text FROM read_parquet('{SF001_DOCS}') ORDER BY doc_id"
    ).fetchall()


# --------------------------------------------------------------------------
# twins
# --------------------------------------------------------------------------

def minhash_lsh_twin(docs: list[tuple[int, str]]) -> list[tuple[int, int, float]]:
    from cyclegraph_spark.functions.xxh64 import (
        xxh64_bytes,
        xxh64_int,
        xxh64_long,
        _to_signed,
    )
    from cyclegraph_spark.operators.dedup import reference_shingles

    sig_cache: dict[str, list[int]] = {}

    def shingle_sig(sh: str) -> list[int]:
        # twin of the hash-once chain: _h = xxhash64(sh); per-seed value
        # = xxhash64(_h, i) = hashInt(i, carry=hashLong(_h, 42))
        got = sig_cache.get(sh)
        if got is None:
            h = _to_signed(xxh64_bytes(sh.encode("utf-8"), 42))
            seed = xxh64_long(h, 42)
            got = [_to_signed(xxh64_int(i, seed)) for i in range(MINHASH_K)]
            sig_cache[sh] = got
        return got

    sigs: dict[int, list[int]] = {}
    for doc_id, text in docs:
        shs = reference_shingles(text)
        if not shs:
            continue
        sig = [min(shingle_sig(sh)[i] for sh in shs) for i in range(MINHASH_K)]
        sigs[doc_id] = sig

    def band_hash(vals: list[int]) -> int:
        # twin of F.xxhash64(array<bigint>): fold carry = hashLong(elem, carry)
        carry = 42
        for v in vals:
            carry = xxh64_long(v, carry)
        return _to_signed(carry)

    buckets: dict[tuple[int, int], list[int]] = {}
    for doc_id, sig in sigs.items():
        for b in range(MINHASH_BANDS):
            vals = sig[b * MINHASH_ROWS : (b + 1) * MINHASH_ROWS]
            buckets.setdefault((b, band_hash(vals)), []).append(doc_id)

    cands: set[tuple[int, int]] = set()
    for ids in buckets.values():
        ids = sorted(ids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                cands.add((ids[i], ids[j]))

    out = []
    for a, b in sorted(cands):
        agree = sum(1 for x, y in zip(sigs[a], sigs[b]) if x == y)
        est = agree / MINHASH_K
        if est >= MINHASH_EST_THRESHOLD:
            out.append((a, b, est))
    return out


def simhash_signatures(docs: list[tuple[int, str]]) -> dict[int, int]:
    """doc_id -> 63-bit SimHash signature; docs with no token are left out."""
    from cyclegraph_spark.functions.xxh64 import xxh64_bytes
    from cyclegraph_spark.operators.textstats import reference_tokens

    tok_cache: dict[str, int] = {}

    def tok_hash(t: str) -> int:
        got = tok_cache.get(t)
        if got is None:
            got = xxh64_bytes(t.encode("utf-8"), 42)  # unsigned: bits identical
            tok_cache[t] = got
        return got

    sigs: dict[int, int] = {}
    for doc_id, text in docs:
        toks = [t for t in reference_tokens(text) if t != ""]
        if not toks:
            continue
        votes = [0] * 63
        for t in toks:
            h = tok_hash(t)
            for b in range(63):
                votes[b] += 1 if (h >> b) & 1 else -1
        sig = 0
        for b in range(63):
            if votes[b] > 0:
                sig |= 1 << b
        sigs[doc_id] = sig
    return sigs


def simhash_twin(docs: list[tuple[int, str]]) -> list[tuple[int, int, int]]:
    sigs = simhash_signatures(docs)
    out = []
    ids = sorted(sigs)
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            ham = bin(sigs[ids[i]] ^ sigs[ids[j]]).count("1")
            if ham <= SIMHASH_MAX_HAMMING:
                out.append((ids[i], ids[j], ham))
    return sorted(out)


def _lift_page_rows(url: str, html: bytes) -> list[tuple[str, str, str, str]]:
    """Multiset variant of reference_lift_page (the Spark lift emits one
    ROW per parsed island property — duplicates are not collapsed)."""
    from cyclegraph_spark.operators.triples import (
        PROPERTY_RULES,
        XSD_BOOL,
        XSD_FLOAT,
        XSD_INT,
        XSD_STRING,
        parse_islands,
    )

    out: list[tuple[str, str, str, str]] = []
    for subj, pred, raw, kind in parse_islands(html):
        if kind == "uri":
            out.append((subj, pred, raw, "uri"))
            continue
        rule = PROPERTY_RULES.get(pred.rsplit("/", 1)[-1], "string")
        v = raw.strip()
        if v == "":
            continue
        if rule == "integer":
            try:
                out.append((subj, pred, str(int(float(v))), XSD_INT))
            except ValueError:
                pass
        elif rule == "float":
            try:
                out.append((subj, pred, str(float(v)), XSD_FLOAT))
            except ValueError:
                pass
        elif rule == "boolean":
            low = v.lower()
            val = "true" if low in ("true", "1") else "false" if low in ("false", "0") else v
            out.append((subj, pred, val, XSD_BOOL))
        else:
            out.append((subj, pred, v, XSD_STRING))
    return out


def html_lift_twin() -> list[tuple[str, str, int]]:
    from cyclegraph_spark.sources.pages import page_record

    counts: dict[tuple[str, str], int] = {}
    for i in range(HTML_LIFT_PAGES):
        url, _, html, _ = page_record(i)
        for _, pred, _, dtype in _lift_page_rows(url, html):
            counts[(pred, dtype)] = counts.get((pred, dtype), 0) + 1
    return sorted((p, d, n) for (p, d), n in counts.items())


def cc_components_twin() -> list[tuple[str, int]]:
    from cyclegraph_spark.operators.cc import reference_components
    from cyclegraph_spark.operators.triples import OWL_SAMEAS
    from cyclegraph_spark.sources.pages import page_record

    edges = []
    for i in range(CC_PAGES):
        url, _, html, _ = page_record(i)
        for subj, pred, obj, _ in _lift_page_rows(url, html):
            if pred == OWL_SAMEAS:
                edges.append((subj, obj))
    labels = reference_components(edges)
    sizes: dict[str, int] = {}
    for comp in labels.values():
        sizes[comp] = sizes.get(comp, 0) + 1
    # query orders by size desc, component asc — emit any order, the
    # driver compares order-insensitively; keep it sorted for diffability
    return sorted(((c, n) for c, n in sizes.items()), key=lambda t: (-t[1], t[0]))


def resume_parity_twin() -> list[tuple[int, int]]:
    """FRESH-run twin of the factory's canonical store over RESUME_PAGES
    seeded pages: lift → union-find CC over sameAs → canonical rewrite
    (subj and obj through component labels, O3 dedup) → one
    (row count, order-independent xor fingerprint) row. The gate runs
    the 2-phase RESUMED pipeline on the Spark side, so resume != fresh
    is a hash mismatch."""
    from cyclegraph_spark.functions.xxh64 import _to_signed, xxh64_bytes
    from cyclegraph_spark.operators.cc import reference_components
    from cyclegraph_spark.operators.triples import OWL_SAMEAS
    from cyclegraph_spark.sources.pages import page_record, resume_chain_records

    triples: list[tuple[str, str, str, str]] = []
    for i in range(RESUME_PAGES):
        url, _, html, _ = page_record(i)
        triples.extend(_lift_page_rows(url, html))
    for url, _, html, _ in resume_chain_records(8):
        triples.extend(_lift_page_rows(url, html))
    edges = [(s, o) for s, _p, o, _d in triples if _p == OWL_SAMEAS]
    labels = reference_components(edges)
    canon = {
        (labels.get(s, s), p, labels.get(o, o), d) for s, p, o, d in triples
    }

    def row_hash(cols: tuple[str, ...]) -> int:
        carry = 42  # Spark xxhash64 chain: carry = hash(child, carry)
        for c in cols:
            carry = xxh64_bytes(c.encode("utf-8"), carry)
        return carry

    acc = 0
    for row in canon:
        acc ^= row_hash(row)
    return [(len(canon), _to_signed(acc))]


def entity_links_twin() -> list[tuple[str, int, str, str, float]]:
    from cyclegraph_spark.extract.text import extract_text
    from cyclegraph_spark.operators.linking import reference_link
    from cyclegraph_spark.sources.pages import build_alias_rows, page_record

    aliases = build_alias_rows(LINK_ENTITIES)
    out = []
    for i in range(LINK_PAGES):
        url, _, html, _ = page_record(i)
        for pos, alias, eid, score in reference_link(extract_text(html), aliases):
            out.append((url, pos, alias, eid, score))
    return out


# --------------------------------------------------------------------------
# SQL emission
# --------------------------------------------------------------------------

def _sql_lit(v) -> str:
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, float):
        return f"CAST({v!r} AS DOUBLE)"
    return str(v)


def values_sql(rows: list[tuple], cols: list[tuple[str, str]], note: str) -> str:
    """rows + [(name, duckdb_type)] → a VALUES-backed SELECT with casts
    matching the Spark result schema exactly."""
    if not rows:
        raise ValueError("refusing to emit an empty VALUES oracle (0-row parity is no evidence)")
    body = ",\n      ".join("(" + ", ".join(_sql_lit(v) for v in r) + ")" for r in rows)
    sel = ", ".join(f"CAST({n} AS {t}) AS {n}" for n, t in cols)
    names = ", ".join(n for n, _ in cols)
    return (
        f"\n    -- {note}\n"
        f"    SELECT {sel}\n"
        f"    FROM (VALUES\n      {body}\n    ) AS t({names})\n    "
    )


HEADER = '''"""GENERATED by tools/gen_value_oracles.py — do not edit by hand.

Literal VALUES oracles for gate queries whose semantics are not
ANSI-SQL-computable. Each table below was produced by the SINGLE-NODE
TWIN of the operator (see the generator for provenance), never by the
Spark implementation under test, over deterministic inputs (seeded page
generator / the fixed sf0.01 documents corpus the driver gates at).
"""

VALUES_ORACLES: dict[str, str] = {
'''


def build_oracles(docs: list[tuple[int, str]]) -> dict[str, str]:
    """Every VALUES oracle, regenerated from the twins. Shared by main()
    and tests/test_value_oracles.py's freshness check — one source of
    truth for the oracle set and its parameters."""
    oracles: dict[str, str] = {}
    oracles["dedup_minhash_lsh"] = values_sql(
        minhash_lsh_twin(docs),
        [("doc_a", "BIGINT"), ("doc_b", "BIGINT"), ("est_jaccard", "DOUBLE")],
        "twin: pure-Python XXH64 MinHash(64, hash-once chain) + 16x4 banding over sf0.01 documents",
    )
    oracles["dedup_simhash"] = values_sql(
        simhash_twin(docs),
        [("doc_a", "BIGINT"), ("doc_b", "BIGINT"), ("hamming", "INTEGER")],
        "twin: pure-Python XXH64 SimHash(63-bit), brute-force hamming<=6 over sf0.01 documents (Spark side: 7-band pigeonhole blocking, full recall)",
    )
    oracles["kg_html_lift"] = values_sql(
        html_lift_twin(),
        [("pred", "VARCHAR"), ("obj_dtype", "VARCHAR"), ("n", "BIGINT")],
        f"twin: parse_islands + reference coercion over {HTML_LIFT_PAGES} seeded pages",
    )
    oracles["kg_cc_components"] = values_sql(
        cc_components_twin(),
        [("component", "VARCHAR"), ("size", "BIGINT")],
        f"twin: union-find over sameAs edges of {CC_PAGES} seeded pages",
    )
    oracles["kg_resume_parity"] = values_sql(
        resume_parity_twin(),
        [("n_rows", "BIGINT"), ("fp", "BIGINT")],
        f"twin: fresh-run lift + union-find CC + canonical rewrite over {RESUME_PAGES} seeded pages",
    )
    oracles["kg_entity_links"] = values_sql(
        entity_links_twin(),
        [
            ("url", "VARCHAR"),
            ("pos", "INTEGER"),
            ("alias", "VARCHAR"),
            ("entity_id", "VARCHAR"),
            ("score", "DOUBLE"),
        ],
        f"twin: reference_link over extract_text of {LINK_PAGES} seeded pages",
    )
    return oracles


def main() -> None:
    t0 = time.time()
    docs = load_documents()
    oracles = build_oracles(docs)
    print(f"all twins done {time.time() - t0:.1f}s", flush=True)

    with open(OUT, "w", encoding="utf-8") as f:
        f.write(HEADER)
        for name, sql in oracles.items():
            f.write(f"    {name!r}: {sql!r},\n")
        f.write("}\n")
    print(f"wrote {OUT} ({os.path.getsize(OUT)} bytes)")


if __name__ == "__main__":
    main()
