"""M4/M5 — entity linking + connected-components parity and determinism."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cyclegraph_spark.operators import cc
from cyclegraph_spark.operators.cc import (
    canonicalize_triples,
    connected_components,
    reference_components,
)
from cyclegraph_spark.extract.text import extract_text
from cyclegraph_spark.operators.linking import link_mentions, reference_link
from cyclegraph_spark.sources.pages import alias_df, build_alias_rows, pages_with_text

EDGE_SCHEMA = T.StructType(
    [T.StructField("src", T.StringType()), T.StructField("dst", T.StringType())]
)


@pytest.fixture
def star_rounds(monkeypatch):
    """Edge bound 0: every graph is contracted by star rounds to its
    fixpoint instead of finishing in the one-task union-find."""
    monkeypatch.setattr(cc, "_UF_MAX_EDGES", 0)


def test_link_parity_with_oracle(spark):
    n = 120
    aliases = alias_df(spark, n_entities=200)
    alias_rows = build_alias_rows(n_entities=200)
    pages = pages_with_text(spark, n, n_entities=200, partitions=4).select("url", "text")

    got_rows = link_mentions(pages, aliases).collect()
    got = {(r.url, r.pos, r.alias, r.entity_id, r.score) for r in got_rows}

    exp = set()
    for r in pages.collect():
        for pos, alias, eid, score in reference_link(r.text, alias_rows):
            exp.add((r.url, pos, alias, eid, score))

    assert got == exp, (
        f"missing={sorted(exp - got)[:3]} extra={sorted(got - exp)[:3]}"
    )


def test_link_context_feature_flips_ambiguous_alias(spark):
    """Document coherence: an ambiguous alias resolves to the entity the
    rest of the document supports once ln-support outweighs the prior
    gap (score = prior × (1 + 0.1·ln(1 + support−1)))."""
    aliases = spark.createDataFrame(
        [("X", "e9", 0.5), ("X", "e1", 0.45), ("B", "e1", 0.9)],
        "alias string, entity_id string, prior double",
    )
    # 'X' once, 'B' (an e1 alias) four times → e1 support=5, e9 support=1
    doc = [(u"d1", "X w B w B w B w B")]
    pages = spark.createDataFrame(doc, "url string, text string")
    links = {r.pos: r.entity_id for r in link_mentions(pages, aliases).collect()}
    assert links[0] == "e1"  # flipped by context (prior alone picks e9)
    # and with context off, the prior wins
    links0 = {
        r.pos: r.entity_id
        for r in link_mentions(pages, aliases, context_weight=0.0).collect()
    }
    assert links0[0] == "e9"
    # oracle agrees on the flip
    got = reference_link("X w B w B w B w B", [("X", "e9", 0.5), ("X", "e1", 0.45), ("B", "e1", 0.9)])
    assert got[0][2] == "e1"


def test_link_deterministic_across_parallelism(spark):
    aliases = alias_df(spark, n_entities=100)
    out = []
    for parts in (2, 8):
        pages = pages_with_text(spark, 80, n_entities=100, partitions=parts).select(
            "url", "text"
        )
        rows = link_mentions(pages, aliases).collect()
        out.append(sorted((r.url, r.pos, r.entity_id, r.score) for r in rows))
    assert out[0] == out[1]


def test_link_text_edge_cases_match_oracle(spark):
    """Aliases holding ' and \\, and words separated by non-ASCII or
    leading whitespace (U+00A0 from ``&#160;``, a leading newline): links
    equal the oracle's, positions included."""
    alias_rows = [
        ("O'Brien\\x Ltd", "e1", 0.9),
        ("it's", "e2", 0.5),
        ("a\\b", "e3", 0.7),
        ("\\'", "e4", 0.6),
        ("plain", "e5", 0.4),
        ("Vinvin Kamoe", "e6", 0.8),
        ("Kamoe", "e7", 0.55),
        ("B", "e8", 0.3),
    ]
    aliases = spark.createDataFrame(alias_rows, "alias string, entity_id string, prior double")
    extracted = extract_text(b"<p>Vinvin&#160;Kamoe</p><p>met\tKamoe&#160;B</p>")
    assert "\xa0" in extracted
    texts = [
        ("d1", "met O'Brien\\x Ltd and it's a\\b plain"),
        ("d2", "O'Brien Ltd its ab a\\\\b \\' '"),
        ("d3", "met Vinvin\xa0Kamoe and B"),
        ("d4", "\nKamoe B"),
        ("d5", extracted),
    ]
    pages = spark.createDataFrame(texts, "url string, text string")
    got = {(r.url, r.pos, r.alias, r.entity_id, r.score) for r in link_mentions(pages, aliases).collect()}
    exp = {
        (url, *link) for url, text in texts for link in reference_link(text, alias_rows)
    }
    assert got == exp
    assert {e for *_x, e, _s in got} == {f"e{i}" for i in range(1, 9)}
    assert {(p, a) for u, p, a, *_r in got if u == "d3"} == {
        (1, "Vinvin Kamoe"), (2, "Kamoe"), (4, "B")
    }


def test_link_is_one_arrow_pass(spark):
    """Linking is one mapInArrow over the pages: no exchange, window or
    join in the executed plan. A NULL text yields no rows, and the key
    columns keep their types."""
    aliases = spark.createDataFrame(
        [("Kamoe", "e7", 0.55), ("B", "e8", 0.3)], "alias string, entity_id string, prior double"
    )
    pages = spark.createDataFrame(
        [("d1", "Kamoe and B", 3), ("d2", None, 5)], "url string, text string, part_id int"
    )
    links = link_mentions(pages, aliases, key_cols=("url", "part_id"))
    rows = links.collect()
    plan = links._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1, plan
    for node in ("Exchange", "Window", "BroadcastHashJoin"):
        assert node not in plan, plan
    assert links.schema["part_id"].dataType == T.IntegerType()
    assert links.columns == ["url", "part_id", "pos", "alias", "entity_id", "score"]
    assert sorted((r.url, r.part_id, r.pos, r.entity_id) for r in rows) == [
        ("d1", 3, 0, "e7"), ("d1", 3, 2, "e8")
    ]


def test_cc_parity_chain_and_stars(spark):
    edges = (
        # chain a-b-c-d (diameter test)
        [("b", "a"), ("c", "b"), ("d", "c")]
        # star with hub z
        + [("z", f"leaf{i}") for i in range(20)]
        # singleton pair + disjoint component
        + [("m", "n"), ("q", "p")]
        # self-loop-only vertex: must label itself, not vanish
        + [("solo", "solo")]
    )
    df = spark.createDataFrame(edges, EDGE_SCHEMA)
    got = {(r.id, r.component) for r in connected_components(df).collect()}
    exp = set(reference_components(edges).items())
    assert got == exp


def test_cc_nonconvergence_is_loud(spark, star_rounds):
    """Exhausting max_iter without an edge-fingerprint fixpoint must
    surface (warning + stats flag), never silently label from a
    mid-contraction edge set (ADVICE r2)."""
    import warnings

    edges = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(64)]
    df = spark.createDataFrame(edges, EDGE_SCHEMA)
    stats: dict = {}
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        connected_components(df, max_iter=1, stats=stats).collect()
    assert stats["converged"] is False
    assert any("fixpoint" in str(w.message) for w in caught)
    # and the healthy path reports converged=True with no warning
    stats2: dict = {}
    with warnings.catch_warnings(record=True) as caught2:
        warnings.simplefilter("always")
        got = {
            (r.id, r.component)
            for r in connected_components(df, stats=stats2).collect()
        }
    assert stats2["converged"] is True
    assert not [w for w in caught2 if "fixpoint" in str(w.message)]
    assert got == set(reference_components(edges).items())


def test_cc_long_chain_converges_logarithmically(spark, star_rounds):
    """Pointer doubling: a 300-link path must converge well under the
    chain length (O(log n) rounds; max_iter=15 would fail without it)."""
    n = 300
    edges = [(f"n{i:04d}", f"n{i + 1:04d}") for i in range(n)]
    df = spark.createDataFrame(edges, EDGE_SCHEMA)
    got = {(r.id, r.component) for r in connected_components(df, max_iter=15).collect()}
    assert got == {(f"n{i:04d}", "n0000") for i in range(n + 1)}


def test_cc_10k_chain_multi_hub_topology(spark, star_rounds):
    """Nasty topology: a 10k-link path (worst case for plain min-label
    propagation — O(n) rounds without shortcutting) fused with four
    1.5k-leaf hubs, plus a disjoint pair to catch cross-component label leaks.

    Asserts union-find parity AND that star contraction converges in
    O(log n) rounds (log2(10001) ≈ 13.3; bound 18 leaves slack for the
    hub merge; plain label propagation would need ~5,000 rounds here
    because the hub's smaller label arrives after the chain's left half
    has already converged to its regional minimum)."""
    n = 10_000
    edges = [(f"n{i:05d}", f"n{i + 1:05d}") for i in range(n)]
    for h in range(4):
        edges += [(f"hub{h}", f"hub{h}-leaf{i:04d}") for i in range(1_500)]
    # ring the hubs together and graft them onto the chain's midpoint
    edges += [(f"hub{h}", f"hub{(h + 1) % 4}") for h in range(4)]
    edges += [("hub0", f"n{n // 2:05d}"), ("x1", "x2")]

    df = spark.createDataFrame(edges, EDGE_SCHEMA).repartition(32)
    stats: dict = {}
    labels = connected_components(df, max_iter=20, stats=stats)
    got = {(r.id, r.component) for r in labels.collect()}
    exp = set(reference_components(edges).items())
    assert got == exp
    assert stats["rounds"] <= 18, stats
    # the contracted edge set must reach a fixpoint, not plateau mid-merge
    assert stats["edge_counts"][-1] == stats["edge_counts"][-2]


def test_cc_hot_entity_skew_from_corpus(spark):
    """End-to-end: sameAs edges lifted from the corpus; hot entity e0000
    appears on ~20% of pages → one big star component."""
    from cyclegraph_spark.operators.triples import OWL_SAMEAS, lift_html_pages
    from cyclegraph_spark.sources.pages import pages_df

    triples = lift_html_pages(pages_df(spark, 400, partitions=8))
    edges = triples.filter(F.col("pred") == OWL_SAMEAS).select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    )
    exp = reference_components([(r.src, r.dst) for r in edges.collect()])
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(cc, "_UF_MAX_EDGES", 0)
        star = {(r.id, r.component) for r in connected_components(edges).collect()}
    assert star == set(exp.items())
    labels = connected_components(edges)
    got = {(r.id, r.component) for r in labels.collect()}
    assert got == set(exp.items())

    # the hot component has many members (site-local URIs from many sites)
    sizes = labels.groupBy("component").count()
    hot = sizes.orderBy(F.col("count").desc()).first()
    assert "e0000" in hot.component or hot["count"] >= 50


def test_cc_union_find_empty_edges(spark):
    stats: dict = {}
    labels = connected_components(spark.createDataFrame([], EDGE_SCHEMA), stats=stats)
    assert labels.collect() == []
    assert [f.dataType for f in labels.schema] == [T.StringType(), T.StringType()]
    assert stats == {"rounds": 0, "edge_counts": [], "edges": 0, "converged": True}


def test_cc_union_find_long_ids(spark):
    """Long ids stay long; an int end is widened to the other's long."""
    edges = [(5, 3), (3, 9), (8, 2**40), (7, 7), (11, 2**40)]
    df = spark.createDataFrame(edges, "src int, dst long")
    labels = connected_components(df)
    assert [f.dataType for f in labels.schema] == [T.LongType(), T.LongType()]
    assert {(r.id, r.component) for r in labels.collect()} == set(
        reference_components(edges).items()
    )


def test_cc_union_find_self_loop_only_vertices(spark):
    edges = [("solo", "solo"), ("b", "a"), ("z", "z"), ("z", "z")]
    stats: dict = {}
    got = {
        (r.id, r.component)
        for r in connected_components(spark.createDataFrame(edges, EDGE_SCHEMA), stats=stats).collect()
    }
    assert got == {("solo", "solo"), ("a", "a"), ("b", "a"), ("z", "z")}
    assert stats["rounds"] == 0 and stats["edges"] == 4


def test_cc_union_find_drops_null_endpoints(spark):
    edges = [("a", None), (None, "b"), (None, None), ("d", "c")]
    stats: dict = {}
    got = {
        (r.id, r.component)
        for r in connected_components(spark.createDataFrame(edges, EDGE_SCHEMA), stats=stats).collect()
    }
    assert got == {("c", "c"), ("d", "c")}
    assert stats["edges"] == 1


def test_cc_contracts_then_finishes_below_bound(spark, monkeypatch):
    """Above the bound, star rounds run only until the contracted edge
    set fits (a clique collapses to a star); the union-find finishes
    over it and the vertex join labels the ids contraction dropped."""
    clique = [(f"k{i:02d}", f"k{j:02d}") for i in range(25) for j in range(i)]
    edges = clique + [(f"n{i}", f"n{i + 1}") for i in range(10)] + [("x", "x"), ("y2", "y1")]
    monkeypatch.setattr(cc, "_UF_MAX_EDGES", 200)
    stats: dict = {}
    labels = connected_components(spark.createDataFrame(edges, EDGE_SCHEMA), stats=stats)
    assert {(r.id, r.component) for r in labels.collect()} == set(
        reference_components(edges).items()
    )
    assert stats["rounds"] >= 1 and stats["converged"] is True
    assert stats["edges"] == stats["edge_counts"][-1] <= 200


def test_canonicalize_triples_dedup(spark):
    triples = spark.createDataFrame(
        [
            ("site1/ent/7", "p:knows", "site2/ent/9", "uri"),
            ("kg/e7", "p:knows", "kg/e9", "uri"),  # same fact post-canon
            ("kg/e7", "p:name", "Alice", "str"),
        ],
        T.StructType(
            [T.StructField(c, T.StringType()) for c in ["subj", "pred", "obj", "obj_dtype"]]
        ),
    )
    labels = spark.createDataFrame(
        [("site1/ent/7", "kg/e7"), ("site2/ent/9", "kg/e9"), ("kg/e7", "kg/e7"), ("kg/e9", "kg/e9")],
        T.StructType([T.StructField("id", T.StringType()), T.StructField("component", T.StringType())]),
    )
    out = {(r.subj, r.pred, r.obj) for r in canonicalize_triples(triples, labels).collect()}
    assert out == {("kg/e7", "p:knows", "kg/e9"), ("kg/e7", "p:name", "Alice")}
