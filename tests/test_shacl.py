"""M3 — SHACL-as-SQL conformance parity.

Golden pair from the reference (/root/reference/data/sample.ttl ×
/root/reference/shapes/session_shape.ttl, FIXTURES.md §2.2): the
conforming graph yields zero violations; mutated graphs yield exactly
the pyshacl-style violation rows (minCount / maxCount / datatype).
The same cases also run against ``fixtures/session_shape.ttl``, a shapes
file written in this repository from the §2.2 vocabulary.
"""

from pathlib import Path

import pytest
from conftest import reference_path
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cyclegraph_spark.operators.shacl import (
    RDF_TYPE,
    NodeShape,
    PropertyShape,
    parse_shapes_ttl,
    reference_validate,
    validate,
)

EX = "http://example.org/cyclegraph/"
SCHEMA = "http://schema.org/"
XSD = "http://www.w3.org/2001/XMLSchema#"

TRIPLE_SCHEMA = T.StructType(
    [T.StructField(c, T.StringType(), True) for c in ["subj", "pred", "obj", "obj_dtype"]]
)


def _sample_graph() -> set[tuple[str, str, str, str]]:
    """Triple set of /root/reference/data/sample.ttl (4 ExerciseActions,
    float power/heartRate literals)."""
    g = set()
    vals = [(200, 150), (220, 152), (210, 148), (230, 151)]
    for i, (p, h) in enumerate(vals, start=1):
        s = f"{EX}session{i}"
        g.add((s, RDF_TYPE, SCHEMA + "ExerciseAction", "uri"))
        g.add((s, SCHEMA + "power", f"{p}", XSD + "float"))
        g.add((s, SCHEMA + "heartRate", f"{h}", XSD + "float"))
    return g


@pytest.fixture(scope="module")
def shapes():
    return parse_shapes_ttl(reference_path("shapes/session_shape.ttl").read_text())


@pytest.fixture(scope="module")
def repo_shapes():
    path = Path(__file__).parent / "fixtures" / "session_shape.ttl"
    return parse_shapes_ttl(path.read_text())


@pytest.fixture(params=["shapes", "repo_shapes"])
def each_shapes(request):
    """The reference shapes file, then the repository's own."""
    return request.getfixturevalue(request.param)


def _df(spark, graph):
    return spark.createDataFrame(sorted(graph), TRIPLE_SCHEMA)


def _assert_session_shapes(shapes):
    assert len(shapes) == 1
    sh = shapes[0]
    assert sh.target_class == SCHEMA + "ExerciseAction"
    assert {p.path for p in sh.properties} == {SCHEMA + "power", SCHEMA + "heartRate"}
    for p in sh.properties:
        assert p.datatype == XSD + "float"
        assert p.min_count == 1 and p.max_count == 1
        assert "must be a single float value" in p.message


def test_parse_reference_shapes(shapes):
    _assert_session_shapes(shapes)


def test_parse_repo_shapes(repo_shapes):
    _assert_session_shapes(repo_shapes)


def test_conforming_graph(spark, shapes):
    assert validate(_df(spark, _sample_graph()), shapes).isEmpty()


def _assert_parity(spark, graph, shapes):
    got = {
        (r.focus_node, r.path, r.constraint, r.value)
        for r in validate(_df(spark, graph), shapes).collect()
    }
    exp = reference_validate(graph, shapes)
    assert got == exp, f"missing={exp - got} extra={got - exp}"
    return got


def _missing_power():
    g = _sample_graph()
    g.discard((f"{EX}session2", SCHEMA + "power", "220", XSD + "float"))
    return g


def _duplicate_heart_rate():
    g = _sample_graph()
    g.add((f"{EX}session3", SCHEMA + "heartRate", "99", XSD + "float"))
    return g


def _integer_power():
    g = _sample_graph()
    g.discard((f"{EX}session1", SCHEMA + "power", "200", XSD + "float"))
    g.add((f"{EX}session1", SCHEMA + "power", "200", XSD + "integer"))
    return g


def test_min_count_violation(spark, shapes):
    got = _assert_parity(spark, _missing_power(), shapes)
    assert (f"{EX}session2", SCHEMA + "power", "minCount", None) in got
    assert len(got) == 1


def test_max_count_violation(spark, shapes):
    got = _assert_parity(spark, _duplicate_heart_rate(), shapes)
    assert (f"{EX}session3", SCHEMA + "heartRate", "maxCount", None) in got
    assert len(got) == 1


def test_datatype_violation(spark, shapes):
    got = _assert_parity(spark, _integer_power(), shapes)
    assert (f"{EX}session1", SCHEMA + "power", "datatype", "200") in got


def test_repo_shapes_conforming_graph(spark, repo_shapes):
    assert validate(_df(spark, _sample_graph()), repo_shapes).isEmpty()


@pytest.mark.parametrize(
    "graph, violation",
    [
        (_missing_power, (f"{EX}session2", SCHEMA + "power", "minCount", None)),
        (_duplicate_heart_rate, (f"{EX}session3", SCHEMA + "heartRate", "maxCount", None)),
        (_integer_power, (f"{EX}session1", SCHEMA + "power", "datatype", "200")),
    ],
    ids=["minCount", "maxCount", "datatype"],
)
def test_repo_shapes_violation(spark, repo_shapes, graph, violation):
    assert _assert_parity(spark, graph(), repo_shapes) == {violation}


def test_ill_typed_lexical_violation(spark, each_shapes):
    # "abc"^^xsd:float is ill-typed — pyshacl flags DatatypeConstraint
    g = _sample_graph()
    g.discard((f"{EX}session4", SCHEMA + "heartRate", "151", XSD + "float"))
    g.add((f"{EX}session4", SCHEMA + "heartRate", "abc", XSD + "float"))
    got = _assert_parity(spark, g, each_shapes)
    assert (f"{EX}session4", SCHEMA + "heartRate", "datatype", "abc") in got


def test_untargeted_nodes_ignored(spark, each_shapes):
    # nodes without rdf:type ExerciseAction are not focus nodes
    g = _sample_graph()
    g.add((f"{EX}other1", SCHEMA + "power", "nope", XSD + "string"))
    _assert_parity(spark, g, each_shapes)
    assert validate(_df(spark, g), each_shapes).isEmpty()


def test_lifted_corpus_violations_shape(spark, each_shapes):
    """End-to-end: lifted synthetic pages validated against the
    session shapes — malformed power values (skip-on-error drops the
    triple) surface as minCount violations."""
    from cyclegraph_spark.operators.triples import lift_html_pages
    from cyclegraph_spark.sources.pages import pages_df

    triples = lift_html_pages(pages_df(spark, 200, partitions=4)).drop("src")
    report = validate(triples, each_shapes)
    rows = report.collect()
    # corpus has ~2/17 of pages with malformed/empty power → minCount
    kinds = {r.constraint for r in rows}
    assert "minCount" in kinds
    # microdata+rdfa both emit power for healthy pages → no maxCount
    # (different subjects), and integer-typed power → datatype violations
    assert "datatype" in kinds
    assert report.columns == ["focus_node", "path", "constraint", "message", "value"]


def test_integer_lexical_parity(spark):
    """xsd:integer's lexical check agrees with the oracle's fullmatch:
    a trailing newline or a leading space is ill-typed, a sign is not."""
    shapes = [
        NodeShape("S", SCHEMA + "ExerciseAction", [PropertyShape(SCHEMA + "power", XSD + "integer")])
    ]
    g = set()
    for i, v in enumerate(["12\n", " 12", "+3", "12"]):
        s = f"{EX}session{i}"
        g.add((s, RDF_TYPE, SCHEMA + "ExerciseAction", "uri"))
        g.add((s, SCHEMA + "power", v, XSD + "integer"))
    got = _assert_parity(spark, g, shapes)
    assert {r[3] for r in got} == {"12\n", " 12"}


FLOAT_EDGE_VALUES = [
    "1.5", "-2", "+.5e-0", "5.", ".5", "1e5", "1E+5", "1.5e-3",
    "1.5d", "1.5D", "1.5f", "1.5F", "0x1p3", "1,5", "--1",
    "1_000", "1_000.5_5e1_0", "1__000", "_1", "1_", "1_.5", "1._5", "1e_5",
    "inf", "-Infinity", "+nan", "NaN", "iNfInItY", "infinit", "nanx",
    " 1.5\n", "\t-2\r", "\x0b3\x0c", "\x1c1", "1\x00",
    ".", "", " ", "1e", "e5",
]
FLOAT_TOKENS = ["1", "02", "_", ".", "e", "E", "-", "+", " ", "\n", "d", "F", "0x", "p",
                "inf", "Infinity", "nan", "\x0b"]


def _float_ok(v):
    try:
        float(v)
        return True
    except ValueError:
        return False


def _float_parity(spark, values):
    """Spark's lexical check for xsd:double against Python ``float()``."""
    from cyclegraph_spark.operators.shacl import _lexical_ok

    df = spark.createDataFrame([(v,) for v in values], "obj string")
    rows = df.select("obj", _lexical_ok(F.col("obj"), XSD + "double").alias("ok"))
    bad = [(r.obj, r.ok) for r in rows.collect() if r.ok != _float_ok(r.obj)]
    assert not bad, bad


def test_float_lexical_parity_on_edge_values(spark):
    """xsd:float/double/decimal literals are well-typed exactly when
    ``float()`` parses them: a cast to double would accept ``1.5d`` and
    ``0x1p3`` and reject ``1_000``. Non-ASCII digits are out of scope:
    ``float()`` parses them, the Spark check does not."""
    _float_parity(spark, FLOAT_EDGE_VALUES)
    dts = [XSD + dt for dt in ("float", "double", "decimal")]
    shapes = [
        NodeShape("S", SCHEMA + "ExerciseAction", [PropertyShape(dt, dt) for dt in dts])
    ]
    g = set()
    for i, v in enumerate(FLOAT_EDGE_VALUES):
        s = f"{EX}session{i}"
        g.add((s, RDF_TYPE, SCHEMA + "ExerciseAction", "uri"))
        for dt in dts:
            g.add((s, dt, v, dt))
    got = _assert_parity(spark, g, shapes)
    ill = {r[3] for r in got}
    assert "1.5d" in ill and "0x1p3" in ill and "1_000" not in ill


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(values=st.lists(
    st.lists(st.sampled_from(FLOAT_TOKENS), max_size=6).map("".join)
    | st.text(alphabet="0123_.eE+- \t\nxpdDfFinatyIN", max_size=8),
    min_size=1, max_size=40,
))
def test_float_lexical_parity_property(spark, values):
    _float_parity(spark, values)


def test_value_stored_twice_is_reported_twice(spark, repo_shapes):
    """An ill-typed quad stored under two provenances (``src``) is two
    values: two datatype violations and one maxCount violation, not one
    of each — the report is a multiset, as the store is."""
    from collections import Counter

    focus, path = f"{EX}session1", SCHEMA + "heartRate"
    g = _sample_graph()
    g.discard((focus, path, "150", XSD + "float"))
    bad = (focus, path, "abc", XSD + "float")
    rows = [("a", *q) for q in sorted(g)] + [("a", *bad), ("b", *bad)]
    df = spark.createDataFrame(
        rows, "src string, subj string, pred string, obj string, obj_dtype string"
    )
    got = Counter(
        (r.focus_node, r.path, r.constraint, r.value) for r in validate(df, repo_shapes).collect()
    )
    assert got == Counter({(focus, path, "datatype", "abc"): 2, (focus, path, "maxCount", None): 1})


def _null_power():
    """A focus node whose power row has a NULL obj, typed xsd:string."""
    g = _sample_graph()
    g.discard((f"{EX}session2", SCHEMA + "power", "220", XSD + "float"))
    g.add((f"{EX}session2", SCHEMA + "power", None, XSD + "string"))
    return g


def test_null_obj_raises(spark, repo_shapes):
    """A NULL value under a minCount 1 / xsd:float shape is neither a
    missing value nor an ill-typed one: the aggregation fails, naming
    the column, the path and the subject."""
    with pytest.raises(Exception, match=f"column obj is NULL on path {SCHEMA}power of subject {EX}session2"):
        validate(_df(spark, _null_power()), repo_shapes).collect()


def test_reference_null_obj_raises(repo_shapes):
    with pytest.raises(ValueError, match=f"column obj is NULL on path {SCHEMA}power of subject {EX}session2"):
        reference_validate(_null_power(), repo_shapes)


CLASSES = [EX + "Ride", EX + "Run"]
PATHS = [SCHEMA + "power", SCHEMA + "heartRate", SCHEMA + "name"]
SUBJECTS = [f"{EX}session{i}" for i in range(4)]
OBJ_DTYPES = [XSD + "integer", XSD + "float", XSD + "boolean", XSD + "string", "uri"]
LEXICAL = ["1", "-2", "2.5", "1e3", "1_000", " 7", "true", "0", "abc", ""]

_property_shapes = st.builds(
    PropertyShape,
    path=st.sampled_from(PATHS),
    datatype=st.sampled_from([None, XSD + "integer", XSD + "float", XSD + "boolean"]),
    min_count=st.none() | st.integers(0, 2),
    max_count=st.none() | st.integers(0, 2),
    message=st.none() | st.just("bad value"),
)


@st.composite
def _graphs(draw):
    """Subjects typed by 0, 1 or 2 target classes, with 0-3 values per
    path; uri values point at other subjects, so those gain inbound
    triples that must not count as their values."""
    g = set()
    for s in SUBJECTS:
        for c in draw(st.lists(st.sampled_from(CLASSES), max_size=2, unique=True)):
            g.add((s, RDF_TYPE, c, "uri"))
        for p in PATHS:
            for _ in range(draw(st.integers(0, 3))):
                dt = draw(st.sampled_from(OBJ_DTYPES))
                pool = SUBJECTS if dt == "uri" else LEXICAL
                g.add((s, p, draw(st.sampled_from(pool)), dt))
    return g


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    graph=_graphs(),
    shapes=st.lists(
        st.builds(
            NodeShape,
            name=st.just("S"),
            target_class=st.sampled_from(CLASSES),
            properties=st.lists(_property_shapes, min_size=1, max_size=3),
        ),
        min_size=1,
        max_size=2,
    ),
)
def test_validate_matches_reference_property(spark, graph, shapes):
    """``validate`` equals ``reference_validate`` on random small graphs
    under one or two shapes drawn from three paths, so a subject can be
    the focus of two shapes that constrain the same path."""
    _assert_parity(spark, graph, shapes)
