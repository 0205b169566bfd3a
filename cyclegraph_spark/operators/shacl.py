"""SHACL-style shape validation compiled to Spark SQL predicates.

The reference validates RDF graphs with pyshacl
(/root/reference/cli/validation.py:1-16) against a shapes graph
(/root/reference/shapes/session_shape.ttl:5-25) using exactly this
vocabulary: ``sh:NodeShape`` + ``sh:targetClass`` + property shapes with
``sh:path``, ``sh:datatype``, ``sh:minCount``, ``sh:maxCount``,
``sh:message``. We compile those constraint kinds into DataFrame
predicates over the long triple table (subj, pred, obj, obj_dtype):

- targets        = subjects of (s, rdf:type, targetClass)
- minCount       = per-focus property count < minCount (left join keeps
                   zero-count focus nodes — the anti-join case)
- maxCount       = per-focus property count > maxCount
- datatype       = property rows whose obj_dtype differs from the
                   expected datatype, or whose lexical form is invalid
                   for it (ill-typed literals) — per SHACL spec
                   DatatypeConstraintComponent semantics, which is what
                   pyshacl implements.

``inference="rdfs"`` in the reference call is a no-op for these shapes
(no subclass axioms in the shapes graph) — documented and skipped
(SURVEY.md §3.3).

Report schema mirrors pyshacl's result fields:
    violations(focus_node, path, constraint, message, value)

Scale shape: one shuffle per property shape (groupBy focus) over a
pred-filtered scan — the pred filter pushes down to parquet when the
triple table is stored partitioned/sorted by pred. Shapes are driver-side
metadata (a few rows), never joined at scale.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

VIOLATION_SCHEMA = T.StructType(
    [
        T.StructField("focus_node", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("constraint", T.StringType(), False),
        T.StructField("message", T.StringType(), True),
        T.StructField("value", T.StringType(), True),
    ]
)

_XSD = "http://www.w3.org/2001/XMLSchema#"


@dataclass
class PropertyShape:
    path: str
    datatype: str | None = None
    min_count: int | None = None
    max_count: int | None = None
    message: str | None = None


@dataclass
class NodeShape:
    name: str
    target_class: str
    properties: list[PropertyShape] = field(default_factory=list)


# --------------------------------------------------------------------------
# Minimal Turtle reader for the shape vocabulary (driver-side, tiny input)
# --------------------------------------------------------------------------

_RE_PREFIX = re.compile(r"@prefix\s+(\w*):\s+<([^>]+)>\s*\.")
_RE_TOKEN = re.compile(
    r"""\s*(?:
        (?P<iri><[^>]+>) |
        (?P<lit>"(?:[^"\\]|\\.)*"(?:\^\^\S+)?) |
        (?P<punct>[\[\];.,]) |
        (?P<word>[^\s\[\];.,]+)
    )""",
    re.VERBOSE,
)


def _tokens(text: str) -> list[str]:
    body = "\n".join(
        line for line in text.splitlines() if not line.strip().startswith("#")
    )
    body = _RE_PREFIX.sub(" ", body)
    return [m.group(0).strip() for m in _RE_TOKEN.finditer(body) if m.group(0).strip()]


def _expand_term(tok: str, prefixes: dict[str, str]) -> str:
    if tok.startswith("<") and tok.endswith(">"):
        return tok[1:-1]
    if tok.startswith('"'):
        m = re.match(r'"((?:[^"\\]|\\.)*)"', tok)
        return m.group(1).replace('\\"', '"') if m else tok
    if ":" in tok:
        pfx, local = tok.split(":", 1)
        if pfx in prefixes:
            return prefixes[pfx] + local
    return tok


def parse_shapes_ttl(text: str) -> list[NodeShape]:
    """Parse the constrained SHACL-shapes Turtle subset the reference
    uses (prefixes, one NodeShape per subject, bracketed property
    shapes with path/datatype/minCount/maxCount/message)."""
    prefixes = dict(_RE_PREFIX.findall(text))
    toks = _tokens(text)
    shapes: list[NodeShape] = []
    i = 0

    def expand(t: str) -> str:
        return _expand_term(t, prefixes)

    while i < len(toks):
        subj = toks[i]
        i += 1
        shape = NodeShape(name=expand(subj), target_class="")
        # statements until the terminating '.'
        while i < len(toks) and toks[i] != ".":
            pred = toks[i]
            i += 1
            if pred == ";":
                continue
            if pred in ("a",) or pred.endswith(":type"):
                i += 1  # skip object (sh:NodeShape)
            elif pred == "sh:targetClass":
                shape.target_class = expand(toks[i])
                i += 1
            elif pred == "sh:property":
                assert toks[i] == "[", f"expected '[' after sh:property, got {toks[i]}"
                i += 1
                ps = PropertyShape(path="")
                while toks[i] != "]":
                    p = toks[i]
                    i += 1
                    if p == ";":
                        continue
                    v = toks[i]
                    i += 1
                    if p == "sh:path":
                        ps.path = expand(v)
                    elif p == "sh:datatype":
                        ps.datatype = expand(v)
                    elif p == "sh:minCount":
                        ps.min_count = int(v)
                    elif p == "sh:maxCount":
                        ps.max_count = int(v)
                    elif p == "sh:message":
                        ps.message = expand(v)
                i += 1  # ']'
                shape.properties.append(ps)
            else:
                i += 1  # unknown predicate: skip its object
        i += 1  # '.'
        if shape.target_class:
            shapes.append(shape)
    return shapes


# --------------------------------------------------------------------------
# Lexical validity per datatype (SHACL ill-typed literal detection)
# --------------------------------------------------------------------------

# Python float()'s grammar over ASCII (see _lexical_ok)
_DIGITS = r"[0-9](?:_?[0-9])*"
_WS = r"[\t\n\x0B\f\r ]*"
_FLOAT_LEXICAL = (
    rf"^{_WS}[+-]?(?:(?:{_DIGITS}(?:\.(?:{_DIGITS})?)?|\.{_DIGITS})"
    rf"(?:[eE][+-]?{_DIGITS})?|(?i:inf|infinity|nan)){_WS}\z"
)


def _lexical_ok(obj: Column, datatype: str) -> Column:
    """Whether ``obj`` is a valid lexical form of ``datatype``, as
    ``reference_validate`` decides it.

    xsd:float, xsd:double and xsd:decimal follow Python ``float()`` over
    ASCII: optional surrounding whitespace and sign, digit groups joined
    by single ``_``, an optional point and exponent, or inf/infinity/nan
    in any case. A cast to double is not the same test: it accepts
    ``1.5d``, ``1.5f`` and ``0x1p3`` and rejects ``1_000``. Non-ASCII
    digits, which ``float()`` also parses (``"١٢"``), are ill-typed here.
    """
    if datatype == _XSD + "integer":
        # \z, not $: $ also matches before a final newline ("12\n")
        return obj.rlike(r"^[+-]?[0-9]+\z")
    if datatype in (_XSD + "float", _XSD + "double", _XSD + "decimal"):
        return obj.rlike(_FLOAT_LEXICAL)
    if datatype == _XSD + "boolean":
        return obj.isin("true", "false", "1", "0")
    return F.lit(True)


def validate(triples: DataFrame, shapes: list[NodeShape]) -> DataFrame:
    """triples(subj, pred, obj, obj_dtype) × shapes → violations DF."""
    spark = triples.sparkSession
    parts: list[DataFrame] = []
    for shape in shapes:
        targets = (
            triples.filter(
                (F.col("pred") == RDF_TYPE) & (F.col("obj") == shape.target_class)
            )
            .select(F.col("subj").alias("focus_node"))
            .distinct()
        )
        for ps in shape.properties:
            prop = triples.filter(F.col("pred") == ps.path).select(
                F.col("subj").alias("focus_node"), "obj", "obj_dtype"
            )
            if ps.min_count is not None or ps.max_count is not None:
                counts = (
                    targets.join(prop, "focus_node", "left")
                    .groupBy("focus_node")
                    .agg(F.count("obj").alias("n"))
                )
                if ps.min_count is not None:
                    parts.append(
                        counts.filter(F.col("n") < ps.min_count).select(
                            "focus_node",
                            F.lit(ps.path).alias("path"),
                            F.lit("minCount").alias("constraint"),
                            F.lit(ps.message).alias("message"),
                            F.lit(None).cast("string").alias("value"),
                        )
                    )
                if ps.max_count is not None:
                    parts.append(
                        counts.filter(F.col("n") > ps.max_count).select(
                            "focus_node",
                            F.lit(ps.path).alias("path"),
                            F.lit("maxCount").alias("constraint"),
                            F.lit(ps.message).alias("message"),
                            F.lit(None).cast("string").alias("value"),
                        )
                    )
            if ps.datatype is not None:
                bad = targets.join(prop, "focus_node").filter(
                    (F.col("obj_dtype") != ps.datatype)
                    | ~_lexical_ok(F.col("obj"), ps.datatype)
                )
                parts.append(
                    bad.select(
                        "focus_node",
                        F.lit(ps.path).alias("path"),
                        F.lit("datatype").alias("constraint"),
                        F.lit(ps.message).alias("message"),
                        F.col("obj").alias("value"),
                    )
                )
    if not parts:
        return spark.createDataFrame([], VIOLATION_SCHEMA)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# --------------------------------------------------------------------------
# Single-node oracle (pyshacl stand-in for the golden tests)
# --------------------------------------------------------------------------

def reference_validate(
    triples: set[tuple[str, str, str, str]], shapes: list[NodeShape]
) -> set[tuple[str, str, str, str | None]]:
    """Pure-Python validator with SHACL-spec semantics for the
    min/max-count + datatype constraint kinds (what pyshacl computes for
    the reference's shapes graph). Returns
    {(focus, path, constraint, value)}."""

    def lex_ok(obj: str, dt: str) -> bool:
        if dt == _XSD + "integer":
            return re.fullmatch(r"[+-]?[0-9]+", obj) is not None
        if dt in (_XSD + "float", _XSD + "double", _XSD + "decimal"):
            try:
                float(obj)
                return True
            except ValueError:
                return False
        if dt == _XSD + "boolean":
            return obj in ("true", "false", "1", "0")
        return True

    out: set[tuple[str, str, str, str | None]] = set()
    for shape in shapes:
        focus_nodes = {s for s, p, o, _ in triples if p == RDF_TYPE and o == shape.target_class}
        for ps in shape.properties:
            for focus in focus_nodes:
                vals = [(o, d) for s, p, o, d in triples if s == focus and p == ps.path]
                n = len(vals)
                if ps.min_count is not None and n < ps.min_count:
                    out.add((focus, ps.path, "minCount", None))
                if ps.max_count is not None and n > ps.max_count:
                    out.add((focus, ps.path, "maxCount", None))
                if ps.datatype is not None:
                    for o, d in vals:
                        if d != ps.datatype or not lex_ok(o, ps.datatype):
                            out.add((focus, ps.path, "datatype", o))
    return out
