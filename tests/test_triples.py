"""M2 — triple lifting parity: Spark plan vs single-node reference twin.

Gate from BASELINE.json: triple P/R >= 0.95 vs reference-emitted
(subj, pred, obj) sets. We assert exact parity (P=R=1.0) on fixtures,
and the >=0.95 gate on the generated corpus.
"""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from cyclegraph_spark.operators.triples import (
    lift_html_pages,
    lift_stream_rows,
    reference_add_row,
    reference_lift_page,
)
from cyclegraph_spark.sources.pages import page_record, pages_df

STREAM_SCHEMA = T.StructType(
    [
        T.StructField(c, T.StringType(), True)
        for c in ["activity_id", "index", "time_s", "hr", "watts", "moving", "altitude"]
    ]
)

# fixture rows exercising every coercion branch of csv_to_rdf.py:12-62
FIXTURE_ROWS = [
    # normal row (mock_activity.csv style)
    {"activity_id": "123456789", "index": "0", "time_s": "0", "hr": "60",
     "watts": "100", "moving": "1", "altitude": "50"},
    # True/False capitalization (strava_ride.csv style)
    {"activity_id": "123456789", "index": "1", "time_s": "1", "hr": "61",
     "watts": "101", "moving": "True", "altitude": "50.5"},
    # empty index -> /unknown; empty cells -> skipped triples
    {"activity_id": "987", "index": "", "time_s": "", "hr": "70",
     "watts": "", "moving": "", "altitude": ""},
    # unparseable numerics -> ValueError -> skip; weird bool kept raw
    {"activity_id": "987", "index": "2", "time_s": "abc", "hr": "12,5",
     "watts": "N/A", "moving": "maybe", "altitude": "x"},
    # float-ish ints: int(float("12.9")) == 12 (truncation)
    {"activity_id": "987", "index": "3", "time_s": "12.9", "hr": "80.2",
     "watts": "250.7", "moving": "0", "altitude": "12"},
    # whitespace-padded values are stripped first
    {"activity_id": "55", "index": " 4 ", "time_s": " 7 ", "hr": " 90 ",
     "watts": " 300 ", "moving": " false ", "altitude": " 1.25 "},
]


def _expected_set():
    out = set()
    for row in FIXTURE_ROWS:
        out |= reference_add_row(row.get("activity_id", "").strip(), row)
    return {(s, p, o) for s, p, o, _ in out}


def test_stream_lift_exact_parity(spark):
    df = spark.createDataFrame(
        [tuple(r[c.name] for c in STREAM_SCHEMA) for r in FIXTURE_ROWS], STREAM_SCHEMA
    )
    got = {(r.subj, r.pred, r.obj) for r in lift_stream_rows(df).collect()}
    exp = _expected_set()
    assert got == exp, (
        f"missing={sorted(exp - got)[:5]} extra={sorted(got - exp)[:5]}"
    )


def test_stream_lift_dtype_column(spark):
    df = spark.createDataFrame(
        [tuple(r[c.name] for c in STREAM_SCHEMA) for r in FIXTURE_ROWS], STREAM_SCHEMA
    )
    rows = lift_stream_rows(df).collect()
    dtypes = {r.pred.rsplit("#", 1)[-1]: r.obj_dtype for r in rows}
    assert dtypes["timeS"].endswith("integer")
    assert dtypes["moving"].endswith("boolean")
    assert dtypes["altitude"].endswith("float")
    assert dtypes["activity"] == "uri"


def test_html_lift_pr_gate(spark):
    """P/R >= 0.95 on the synthetic corpus; exact parity expected."""
    n = 300
    expected = set()
    for i in range(n):
        url, ts, html, lang = page_record(i)
        expected |= {(url, s, p, o) for s, p, o, _ in reference_lift_page(url, html)}

    got_rows = lift_html_pages(pages_df(spark, n, partitions=4)).collect()
    got = {(r.src, r.subj, r.pred, r.obj) for r in got_rows}

    tp = len(got & expected)
    precision = tp / max(len(got), 1)
    recall = tp / max(len(expected), 1)
    assert precision >= 0.95 and recall >= 0.95, (
        f"P={precision:.4f} R={recall:.4f} "
        f"missing={sorted(expected - got)[:3]} extra={sorted(got - expected)[:3]}"
    )
    # and in fact exact:
    assert got == expected


def test_out_of_dictionary_itemprop_parity(spark):
    """Unknown raw predicates (not in PROPERTY_RULES) must take the string
    rule — trim + empty-skip — exactly like reference_lift_page. Includes
    empty and whitespace-only values (must yield NO triple) and a padded
    value (must be trimmed)."""
    html = (
        '<div itemscope itemtype="http://schema.org/Thing" '
        'itemid="https://x.example/t1">'
        '<span itemprop="color"> deep blue </span>'
        '<span itemprop="flavour"></span>'
        '<span itemprop="texture">   </span>'
        '<span itemprop="weightKg">12.5</span>'
        "</div>"
    ).encode("utf-8")
    df = spark.createDataFrame([("u1", html)], "url string, html binary")
    got = {
        (r.subj, r.pred, r.obj, r.obj_dtype)
        for r in lift_html_pages(df).collect()
    }
    exp = reference_lift_page("u1", html)
    assert got == exp
    # the trimmed out-of-dictionary literal is present, empties are not
    objs = {o for _, p, o, _ in got if p.endswith("color")}
    assert objs == {"deep blue"}
    assert not any(p.endswith(("flavour", "texture")) for _, p, _, _ in got)


def test_anchored_finditer_matches_re_finditer():
    """_finditer_tag/_finditer_at are drop-in re.finditer twins: the
    needle-anchored scan must yield the IDENTICAL match sequence
    (spans + groups) on adversarial inputs — stray '<'/'>' inside
    attributes, needles in body text, overlapping islands, truncation."""
    import random

    from cyclegraph_spark.operators.triples import (
        _RE_JSONLD,
        _RE_MICRO_ITEM,
        _RE_MICRO_PROP,
        _RE_RDFA_ITEM,
        _RE_RDFA_PROP,
        _finditer_at,
        _finditer_tag,
    )

    rng = random.Random(7)
    alphabet = list('<>"= abitemscopyfdlnk/') + [
        "itemscope", 'itemtype="', 'itemid="', 'typeof="', 'about="',
        'property="', 'content="', 'itemprop="', "<div ", "</div>",
        "<span ", "</span >", '<script type="application/ld+json">',
        "</script>", '{"@id":"x"}', "scope", "\n", "x>", "<<", ">>",
    ]
    cases = [
        (_RE_MICRO_ITEM, "itemscope", _finditer_tag),
        (_RE_RDFA_ITEM, "typeof", _finditer_tag),
        (_RE_JSONLD, "application/ld+json", _finditer_tag),
        (_RE_MICRO_PROP, "itemprop", _finditer_at),
        (_RE_RDFA_PROP, "property", _finditer_at),
    ]
    for _ in range(4000):
        s = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 40)))
        for pat, needle, fn in cases:
            expect = [(m.span(), m.groups()) for m in pat.finditer(s)]
            got = [(m.span(), m.groups()) for m in fn(pat, s, needle)]
            assert got == expect, (s, needle)


# boolean-cell values where matching by lower() and by an ASCII
# case-insensitive regex could part ways: case, padding, a final newline,
# code points whose case mappings reach ASCII (U+0130, the Kelvin sign)
# and fullwidth letters
BOOL_EDGE_VALUES = [
    "true", "TRUE", "tRuE", "1", "01", "false", "FALSE", "0", " true", "true\n",
    "", "truee", "\u0130", "\u212a", "\uff54\uff52\uff55\uff45", "fal\u017fe", None,
]


def _bool_parity(spark, values):
    from pyspark.sql import functions as F

    from cyclegraph_spark.operators.triples import _bool_literal

    low = F.lower(F.col("raw"))
    by_lower = (
        F.when(low.isin("true", "1"), F.lit("true"))
        .when(low.isin("false", "0"), F.lit("false"))
        .otherwise(F.col("raw"))
    )
    df = spark.createDataFrame([(v,) for v in values], "raw string")
    rows = df.select("raw", by_lower.alias("old"), _bool_literal(F.col("raw")).alias("new"))
    bad = [(r.raw, r.old, r.new) for r in rows.collect() if r.old != r.new]
    assert not bad, bad


def test_bool_literal_matches_lower_on_edge_values(spark):
    _bool_parity(spark, BOOL_EDGE_VALUES)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(values=st.lists(
    st.text(alphabet="tTrRuUeEfFaAlLsS01 \n\u0130\u212a\u017f\uff54", max_size=6)
    | st.text(max_size=8),
    min_size=1, max_size=30,
))
def test_bool_literal_matches_lower_property(spark, values):
    _bool_parity(spark, values)
