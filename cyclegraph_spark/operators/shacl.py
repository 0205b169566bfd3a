"""SHACL-style shape validation compiled to Spark SQL predicates.

The reference validates RDF graphs with pyshacl
(/root/reference/cli/validation.py:1-16) against a shapes graph
(/root/reference/shapes/session_shape.ttl:5-25) using exactly this
vocabulary: ``sh:NodeShape`` + ``sh:targetClass`` + property shapes with
``sh:path``, ``sh:datatype``, ``sh:minCount``, ``sh:maxCount``,
``sh:message``. We compile those constraint kinds into DataFrame
predicates over the long triple table (subj, pred, obj, obj_dtype):

- targets        = subjects of (s, rdf:type, targetClass)
- minCount       = per-focus count of non-NULL property values < minCount
                   (a focus node with no value counts 0)
- maxCount       = per-focus count of non-NULL property values > maxCount
- datatype       = property values whose obj_dtype differs from the
                   expected datatype, or whose lexical form is invalid
                   for it (ill-typed literals) — per SHACL spec
                   DatatypeConstraintComponent semantics, which is what
                   pyshacl implements.

``inference="rdfs"`` in the reference call is a no-op for these shapes
(no subclass axioms in the shapes graph) — documented and skipped
(SURVEY.md §3.3).

Report schema mirrors pyshacl's result fields:
    violations(focus_node, path, constraint, message, value)

Scale shape: no plan of its own. ``nodes.node_table`` groups the
triples by node once; ``shape_columns`` adds aggregates to that groupBy
— per shape the focus flag, per property the value count and the
``collect_list`` of ill-typed values — and ``violations`` explodes them
in one pass. So the plan holds one scan and one shuffle whatever the
number of shapes and properties, and the factory derives this report
and the node table from one checkpointed aggregation. Shapes are
driver-side metadata (a few rows), never joined at scale.
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


def shape_columns(shapes: list[NodeShape], out: Column) -> list[Column]:
    """The aggregates ``violations`` reads, over triple rows grouped by
    node where ``out`` marks the rows whose subject is the node
    (``nodes.node_table``): per shape, whether the node is typed by its
    target class; per property, the count of non-NULL values and the
    ill-typed ones. Catalyst computes a repeated aggregate once."""
    pred, obj = F.col("pred"), F.col("obj")
    cols = []
    for i, shape in enumerate(shapes):
        target = out & (pred == RDF_TYPE) & (obj == shape.target_class)
        cols.append(F.bool_or(target).alias(f"_target{i}"))
        for j, ps in enumerate(shape.properties):
            on_path = out & (pred == ps.path)
            cols.append(F.count(F.when(on_path, obj)).alias(f"_count{i}_{j}"))
            if ps.datatype is not None:
                ill = (F.col("obj_dtype") != ps.datatype) | ~_lexical_ok(obj, ps.datatype)
                # a list, not a set: a value stored twice is reported twice
                cols.append(F.collect_list(F.when(on_path & ill, obj)).alias(f"_bad{i}_{j}"))
    return cols


def _violation(
    ps: PropertyShape, constraint: str, cond: Column, value: Column | None = None
) -> Column:
    """A violation struct where ``cond`` holds, else NULL."""
    row = F.struct(
        F.lit(ps.path).alias("path"),
        F.lit(constraint).alias("constraint"),
        F.lit(ps.message).cast("string").alias("message"),
        (F.lit(None).cast("string") if value is None else value).alias("value"),
    )
    return F.when(cond, row)


def violations(report: DataFrame, shapes: list[NodeShape]) -> DataFrame:
    """``node_table(triples, shapes)`` → violations DF: one row per
    minCount or maxCount violation of a focus node, one per ill-typed
    value of a focus node."""
    parts = []  # arrays of violation structs, NULL where a node conforms
    for i, shape in enumerate(shapes):
        focus = F.col(f"_target{i}")
        for j, ps in enumerate(shape.properties):
            n = F.col(f"_count{i}_{j}")
            if ps.min_count is not None:
                parts.append(F.array(_violation(ps, "minCount", focus & (n < ps.min_count))))
            if ps.max_count is not None:
                parts.append(F.array(_violation(ps, "maxCount", focus & (n > ps.max_count))))
            if ps.datatype is not None:
                bad = F.col(f"_bad{i}_{j}")
                parts.append(F.transform(bad, lambda v: _violation(ps, "datatype", focus, v)))
    if not parts:
        return report.sparkSession.createDataFrame([], VIOLATION_SCHEMA)
    return (
        report.select(F.col("id").alias("focus_node"), F.explode(F.concat(*parts)).alias("v"))
        .filter(F.col("v").isNotNull())
        .select("focus_node", "v.*")
    )


def validate(triples: DataFrame, shapes: list[NodeShape]) -> DataFrame:
    """triples(subj, pred, obj, obj_dtype) × shapes → violations DF."""
    from cyclegraph_spark.operators.nodes import node_table  # nodes imports this module

    return violations(node_table(triples, shapes), shapes)


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
