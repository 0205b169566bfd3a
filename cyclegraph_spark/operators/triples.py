"""Triple lifting — record → RDF triple mapper, Spark-first.

Reimplements the semantics of the reference RDF mapper
(/root/reference/cli/csv_to_rdf.py:12-62) as declarative DataFrame ops:

- URI minting: ``smp:{activity_id}/{index}`` (``/unknown`` when index
  empty), ``act:{activity_id}``        (csv_to_rdf.py:14-16)
- unconditional relation (sample, cg:activity, act)   (csv_to_rdf.py:19)
- typed literal coercion, SKIP-ON-ERROR:
  int via ``int(float(x))``             (csv_to_rdf.py:22-43)
  bool via truthy sets, raw fallthrough (csv_to_rdf.py:45-54)
  float                                  (csv_to_rdf.py:57-62)
  empty-after-strip → no triple.

Coercion runs JVM-side (``try_cast`` + ``when``) — cast failures become
NULL and the triple row is dropped, which is exactly the reference's
"except ValueError: pass". The 1→N row fanout is ``explode`` over an
array of candidate triple structs (no UDF, no UDTF).

Output schema (long/narrow triple table, SURVEY.md §1.1):
    triples(subj string, pred string, obj string, obj_dtype string)
plus a ``src`` column (source url / file) retained for lineage.

The same module lifts HTML pages: a mapInArrow stage PARSES
microdata / RDFa / JSON-LD islands into flat raw (subj, pred, raw_value)
rows (parsing is the only Python stage); typed coercion is then the
same shared Column logic.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Namespaces — verbatim from /root/reference/cli/csv_to_rdf.py:8-10
CG = "https://cyclegraph.dev/ns#"
ACT = "https://cyclegraph.dev/activity/"
SMP = "https://cyclegraph.dev/sample/"
SCHEMA = "http://schema.org/"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
OWL_SAMEAS = "http://www.w3.org/2002/07/owl#sameAs"

XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"
XSD_FLOAT = "http://www.w3.org/2001/XMLSchema#float"
XSD_BOOL = "http://www.w3.org/2001/XMLSchema#boolean"
XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"

TRIPLE_FIELDS = "subj string, pred string, obj string, obj_dtype string"

# predicate → coercion rule for lifted web properties (SURVEY.md §7.0:
# literal rules transplanted verbatim; property set from the synthetic
# corpus mirrors the reference's sample-stream columns)
PROPERTY_RULES: dict[str, str] = {
    "power": "integer",
    "heartRate": "integer",
    "timeS": "integer",
    "altitude": "float",
    "moving": "boolean",
    "name": "string",
    "identifier": "string",
}


def _int_literal(raw: Column) -> Column:
    """int(float(x)) with skip-on-error: NULL when not parseable.

    Truncation toward zero matches Python int(float(.)) for doubles.
    try_cast on the long conversion: under ANSI mode a plain cast of an
    out-of-range double ('1e20', 'inf') would CRASH the whole lift job
    with CAST_OVERFLOW instead of skipping the cell. Values beyond
    ±2^63 are skipped — a declared 64-bit engine bound (the reference's
    Python int is arbitrary-precision there, and its exact lexical form
    is NOT reachable via decimal: Spark's double→decimal renders the
    shortest repr, e.g. 1e25 → 1 and 25 zeros, while Python prints the
    exact binary value …905969664 — measured). 'inf'/'nan' cells skip;
    the reference itself raises uncaught OverflowError on int('inf').
    """
    d = raw.try_cast(T.DoubleType())
    return F.when(
        d.isNotNull() & ~F.isnan(d),
        d.try_cast(T.LongType()).cast(T.StringType()),
    )


def _float_literal(raw: Column) -> Column:
    """str(float(x)) with skip-on-error. Non-finite lexical forms are
    pinned to the reference's Python rendering — 'nan', 'inf', '-inf' —
    because Spark's own double→string says 'NaN'/'Infinity'/'-Infinity'
    (Spark's parser accepts 'inf'/'INF'/'Infinity'/'+inf', same set
    Python float() takes — measured). Finite values use Spark's cast;
    its scientific-notation threshold differs from Python's outside
    ~1e-3..1e7 ('1.0E20' vs '1e+20'), documented as out of the stream
    domain (hr/watts/altitude magnitudes)."""
    d = raw.try_cast(T.DoubleType())
    return F.when(
        d.isNotNull(),
        F.when(F.isnan(d), F.lit("nan"))
        .when(d == float("inf"), F.lit("inf"))
        .when(d == float("-inf"), F.lit("-inf"))
        .otherwise(d.cast(T.StringType())),
    )


def _bool_literal(raw: Column) -> Column:
    """csv_to_rdf.py:45-54 — truthy/falsy sets, else keep RAW string
    (rdflib would emit an ill-typed boolean literal; we preserve that).

    The match is an ASCII case-insensitive regex anchored at both ends,
    not ``lower(raw)``: the first case mapping in a JVM initializes ICU
    (1.6–2.1 s per process), and no non-ASCII code point lowercases into
    t/r/u/e/f/a/l/s, so the results are the same. ``\\z``, not ``$``,
    which also matches before a final newline."""
    return (
        F.when(raw.rlike(r"^(?i:true|1)\z"), F.lit("true"))
        .when(raw.rlike(r"^(?i:false|0)\z"), F.lit("false"))
        .otherwise(raw)
    )


def coerce_literal(raw: Column, rule: str) -> tuple[Column, Column]:
    """→ (obj, obj_dtype) columns; obj NULL means 'skip this triple'."""
    stripped = F.trim(raw)
    nonempty = stripped.isNotNull() & (stripped != "")
    if rule == "integer":
        return F.when(nonempty, _int_literal(stripped)), F.lit(XSD_INT)
    if rule == "float":
        return F.when(nonempty, _float_literal(stripped)), F.lit(XSD_FLOAT)
    if rule == "boolean":
        return F.when(nonempty, _bool_literal(stripped)), F.lit(XSD_BOOL)
    if rule == "string":
        return F.when(nonempty, stripped), F.lit(XSD_STRING)
    raise ValueError(f"unknown coercion rule {rule!r}")


def _triple_struct(subj: Column, pred: str | Column, obj: Column, dtype: Column) -> Column:
    p = F.lit(pred) if isinstance(pred, str) else pred
    return F.struct(
        subj.alias("subj"), p.alias("pred"), obj.alias("obj"), dtype.alias("obj_dtype")
    )


def lift_stream_rows(df: DataFrame, src_col: str | None = None) -> DataFrame:
    """P1 — the reference CSV→RDF mapper over a DataFrame.

    Input columns (strings, the reference stream CSV header,
    csv_to_rdf.py:67): activity_id, index, time_s, hr, watts, moving,
    altitude. Output: triples(subj, pred, obj, obj_dtype).

    Single narrow stage: project → explode → filter. No shuffle.
    """
    aid = F.trim(F.coalesce(F.col("activity_id").cast("string"), F.lit("")))
    idx = F.trim(F.coalesce(F.col("index").cast("string"), F.lit("")))
    sample = F.concat(
        F.lit(SMP), aid, F.lit("/"), F.when(idx != "", idx).otherwise(F.lit("unknown"))
    )
    act = F.concat(F.lit(ACT), aid)

    candidates = [
        _triple_struct(sample, CG + "activity", act, F.lit("uri")),
    ]
    for col_name, pred, rule in [
        ("time_s", CG + "timeS", "integer"),
        ("hr", CG + "heartRate", "integer"),
        ("watts", CG + "power", "integer"),
        ("moving", CG + "moving", "boolean"),
        ("altitude", CG + "altitude", "float"),
    ]:
        obj, dtype = coerce_literal(F.col(col_name).cast("string"), rule)
        candidates.append(_triple_struct(sample, pred, obj, dtype))

    cols = [F.explode(F.array(*candidates)).alias("t")]
    if src_col:
        cols.insert(0, F.col(src_col).alias("src"))
    out = df.select(*cols).select(
        *([F.col("src")] if src_col else []),
        "t.subj",
        "t.pred",
        "t.obj",
        "t.obj_dtype",
    )
    return out.filter(F.col("obj").isNotNull())


# --------------------------------------------------------------------------
# HTML island parsing (microdata / RDFa / JSON-LD) — the parse-only UDF
# --------------------------------------------------------------------------

_RE_MICRO_ITEM = re.compile(
    r'<(\w+)[^>]*\bitemscope\b[^>]*\bitemtype="([^"]+)"[^>]*\bitemid="([^"]+)"[^>]*>(.*?)</\1\s*>',
    re.DOTALL,
)
_RE_MICRO_PROP = re.compile(r'\bitemprop="([^"]+)"[^>]*>([^<]*)<')
_RE_RDFA_ITEM = re.compile(
    r'<(\w+)[^>]*\btypeof="([^"]+)"[^>]*\babout="([^"]+)"[^>]*>(.*?)</\1\s*>',
    re.DOTALL,
)
_RE_RDFA_PROP = re.compile(r'\bproperty="(?:schema:)?([^"]+)"[^>]*\bcontent="([^"]*)"')
_RE_JSONLD = re.compile(
    r'<script[^>]*type="application/ld\+json"[^>]*>(.*?)</script\s*>', re.DOTALL
)

_CURIE = {"schema:": SCHEMA}


def _finditer_tag(pattern, s: str, needle: str):
    """Exact ``pattern.finditer(s)`` twin for island patterns anchored at
    ``<`` whose match requires the literal ``needle`` within a no-``>``
    span after the start (true for the microdata/RDFa/JSON-LD item
    patterns: ``<tag [^>]* needle ...``).

    re.finditer drives the regex engine over every character; this jumps
    between ``needle`` occurrences with C-speed ``str.find`` and only
    attempts anchored matches at the ``<`` candidates that could start a
    match containing that occurrence (those after the last ``>`` before
    it — ``[^>]*`` cannot cross ``>``). Candidates are tried left-to-
    right and scanning resumes at ``m.end()``, so match set and order
    are identical to finditer; equivalence is differential-fuzzed in
    tests/test_triples.py and by the hypothesis island suite.
    MEASURED on corpus pages: micro 38.7 → 15.6 µs, RDFa 38.0 → 10.4 µs
    per page incl. property scans (guide §1.2 step 2: per-task work).
    """
    pos = 0
    find = s.find
    rfind = s.rfind
    match = pattern.match
    while True:
        p = find(needle, pos)
        if p == -1:
            return
        lo = rfind(">", pos, p) + 1
        if lo < pos:
            lo = pos
        c = find("<", lo, p)
        m = None
        while c != -1:
            m = match(s, c)
            if m is not None:
                break
            c = find("<", c + 1, p)
        if m is None:
            pos = p + 1
        else:
            yield m
            pos = m.end()


def _finditer_at(pattern, s: str, needle: str):
    """Exact ``pattern.finditer(s)`` twin for patterns that can only
    match AT a ``needle`` occurrence (pattern starts ``\\b`` + needle —
    the itemprop/property attribute patterns)."""
    pos = 0
    find = s.find
    match = pattern.match
    while True:
        p = find(needle, pos)
        if p == -1:
            return
        m = match(s, p)
        if m is None:
            pos = p + 1
        else:
            yield m
            pos = m.end()


def _expand(term: str) -> str:
    for pfx, ns in _CURIE.items():
        if term.startswith(pfx):
            return ns + term[len(pfx):]
    if term.startswith("http://") or term.startswith("https://"):
        return term
    return SCHEMA + term


def _walk_jsonld(node, out: list[tuple[str, str, str, str]]) -> None:
    if isinstance(node, dict):
        nid = node.get("@id")
        if nid:
            ntype = node.get("@type")
            if isinstance(ntype, str):
                out.append((nid, RDF_TYPE, _expand(ntype), "uri"))
            same = node.get("sameAs")
            if isinstance(same, str):
                out.append((nid, OWL_SAMEAS, same, "uri"))
            elif isinstance(same, list):
                for s in same:
                    if isinstance(s, str):
                        out.append((nid, OWL_SAMEAS, s, "uri"))
            ident = node.get("identifier")
            if isinstance(ident, str):
                # string literal, not a URI (rdflib Literal semantics)
                out.append((nid, SCHEMA + "identifier", ident, "raw"))
        for v in node.values():
            _walk_jsonld(v, out)
    elif isinstance(node, list):
        for v in node:
            _walk_jsonld(v, out)


def parse_islands(html: bytes | None) -> list[tuple[str, str, str, str]]:
    """Pure parser: html → [(subj, pred, raw_value, kind)].

    kind ∈ {'uri', 'raw'} — 'uri' rows skip literal coercion.
    Shared by the Spark mapInArrow stage and the single-node fixture oracle,
    so P/R measures COERCION+PLAN parity, not parser parity.
    """
    if html is None:
        return []
    try:
        s = html.decode("utf-8")
    except UnicodeDecodeError:
        s = html.decode("latin-1")
    out: list[tuple[str, str, str, str]] = []
    for m in _finditer_tag(_RE_MICRO_ITEM, s, "itemscope"):
        itemtype, itemid, body = m.group(2), m.group(3), m.group(4)
        out.append((itemid, RDF_TYPE, itemtype, "uri"))
        for pm in _finditer_at(_RE_MICRO_PROP, body, "itemprop"):
            out.append((itemid, _expand(pm.group(1)), pm.group(2), "raw"))
    for m in _finditer_tag(_RE_RDFA_ITEM, s, "typeof"):
        typeof, about, body = m.group(2), m.group(3), m.group(4)
        out.append((about, RDF_TYPE, _expand(typeof), "uri"))
        for pm in _finditer_at(_RE_RDFA_PROP, body, "property"):
            out.append((about, _expand(pm.group(1)), pm.group(2), "raw"))
    for m in _RE_JSONLD.finditer(s):
        try:
            doc = json.loads(m.group(1))
        except (json.JSONDecodeError, ValueError):
            continue  # tolerant-parse discipline (as the reference T11 matrix reader)
        tl: list[tuple[str, str, str, str]] = []
        _walk_jsonld(doc, tl)
        out.extend(tl)
    return out


_RAW_TRIPLE_FIELDS = "src string, subj string, pred string, raw string, kind string"


def _parse_pages_arrow(batches):
    """mapInArrow worker: (src, html) record batches → FLAT raw-triple
    batches (src, subj, pred, raw, kind), one output row per triple.

    Why flat mapInArrow instead of a pandas UDF returning
    array<struct<...>> (the round-1..5 shape): the nested return forced
    (a) a Python-object list-of-tuples per page converted by
    pandas→Arrow into a nested array — the dominant serialization cost —
    and (b) a JVM explode over the nested array. Emitting flat string
    columns built directly with pyarrow removes both; the src column is
    replicated per triple by a C-level ``pc.take`` (urls never cross
    into Python lists at all). Parity with :func:`parse_islands` is by
    construction — the parser itself is unchanged and shared.
    MEASURED (200k-page corpus, local[32], interleaved best-of-6):
    3.09 s → 1.70 s for the full lift+count (guide §4.1/§4.2).
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    empty = pa.array([], pa.string())
    for batch in batches:
        htmls = batch.column(1).to_pylist()
        trips: list[tuple[str, str, str, str]] = []
        counts = np.empty(len(htmls), dtype=np.int64)
        for i, h in enumerate(htmls):
            t = parse_islands(h)
            counts[i] = len(t)
            trips.extend(t)
        if trips:
            subj, pred, raw, kind = (pa.array(c, pa.string()) for c in zip(*trips))
            src = pc.take(batch.column(0), pa.array(np.repeat(np.arange(len(htmls)), counts)))
        else:
            src = subj = pred = raw = kind = empty
        yield pa.RecordBatch.from_arrays(
            [src, subj, pred, raw, kind], names=["src", "subj", "pred", "raw", "kind"]
        )


def lift_html_pages(pages: DataFrame, url_col: str = "url") -> DataFrame:
    """pages(url, html, ...) → triples(src, subj, pred, obj, obj_dtype).

    Stage shape: scan → mapInArrow parse (flat triple rows out) →
    column coercion. Narrow end-to-end (no shuffle, no explode); scales
    linearly with input splits. The explicit two-column select before
    mapInArrow is the guide-§4 column-pruning discipline: Spark cannot
    see which columns an opaque function touches, so without it every
    page column would be read and shipped to Python. The parse emits
    (src, subj, pred, raw, kind); the coercion types ``raw`` into
    (obj, obj_dtype).
    """
    raw = pages.select(F.col(url_col).alias("src"), "html").mapInArrow(
        _parse_pages_arrow, _RAW_TRIPLE_FIELDS
    )
    # substring-after-last-'/' without the regex split + array alloc of
    # element_at(split(...)) — same value for every input (split("/")[-1]
    # IS the text after the last '/', or the whole string when absent)
    pred_name = F.substring_index(F.col("pred"), "/", -1)
    # typed coercion per PROPERTY_RULES; unknown raw predicates take the
    # STRING rule (trim + empty-skip), matching reference_lift_page — a
    # bare F.col("raw") default would keep untrimmed/empty literals.
    obj, dtype = coerce_literal(F.col("raw"), "string")
    for prop, rule in PROPERTY_RULES.items():
        o, d = coerce_literal(F.col("raw"), rule)
        cond = (F.col("kind") == "raw") & (pred_name == prop)
        obj = F.when(cond, o).otherwise(obj)
        dtype = F.when(cond, d).otherwise(dtype)
    obj = F.when(F.col("kind") == "uri", F.col("raw")).otherwise(obj)
    dtype = F.when(F.col("kind") == "uri", F.lit("uri")).otherwise(dtype)

    return (
        raw.withColumn("obj", obj)
        .withColumn("obj_dtype", dtype)
        .filter(F.col("obj").isNotNull())
        .select("src", "subj", "pred", "obj", "obj_dtype")
    )


# --------------------------------------------------------------------------
# Single-node oracle twin of the reference mapper (fixture generator)
# --------------------------------------------------------------------------

def reference_add_row(activity_id: str, row: dict[str, str]) -> set[tuple[str, str, str, str]]:
    """Pure-Python twin of /root/reference/cli/csv_to_rdf.py:12-62 add_row.

    Returns the triple SET for one CSV row — the parity fixture for
    lift_stream_rows. (rdflib unavailable in this env; literal string
    forms follow rdflib's lexical mapping: str(int), 'true'/'false',
    str(float).)
    """
    triples: set[tuple[str, str, str, str]] = set()
    idx = row.get("index", "").strip()
    sample = f"{SMP}{activity_id}/{idx}" if idx != "" else f"{SMP}{activity_id}/unknown"
    act = f"{ACT}{activity_id}"
    triples.add((sample, CG + "activity", act, "uri"))

    for key, pred, kind in [
        ("time_s", "timeS", int),
        ("hr", "heartRate", int),
        ("watts", "power", int),
    ]:
        v = row.get(key, "").strip()
        if v != "":
            try:
                triples.add((sample, CG + pred, str(int(float(v))), XSD_INT))
            except ValueError:
                pass
    mv = row.get("moving", "").strip()
    if mv != "":
        if mv.lower() in ("true", "1"):
            val = "true"
        elif mv.lower() in ("false", "0"):
            val = "false"
        else:
            val = mv
        triples.add((sample, CG + "moving", val, XSD_BOOL))
    alt = row.get("altitude", "").strip()
    if alt != "":
        try:
            triples.add((sample, CG + "altitude", str(float(alt)), XSD_FLOAT))
        except ValueError:
            pass
    return triples


def reference_lift_page(url: str, html: bytes) -> set[tuple[str, str, str, str]]:
    """Single-node oracle for lift_html_pages (coercion in pure Python)."""
    out: set[tuple[str, str, str, str]] = set()
    for subj, pred, raw, kind in parse_islands(html):
        if kind == "uri":
            out.add((subj, pred, raw, "uri"))
            continue
        prop = pred.rsplit("/", 1)[-1]
        rule = PROPERTY_RULES.get(prop, "string")
        v = raw.strip()
        if v == "":
            continue
        if rule == "integer":
            try:
                out.add((subj, pred, str(int(float(v))), XSD_INT))
            except ValueError:
                pass
        elif rule == "float":
            try:
                out.add((subj, pred, str(float(v)), XSD_FLOAT))
            except ValueError:
                pass
        elif rule == "boolean":
            low = v.lower()
            val = "true" if low in ("true", "1") else "false" if low in ("false", "0") else v
            out.add((subj, pred, val, XSD_BOOL))
        else:
            out.add((subj, pred, v, XSD_STRING))
    return out
