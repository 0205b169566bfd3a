"""Property-based tests (hypothesis): cross-validate the pure-Python
twins and operator invariants on randomized inputs.

These complement the fixed-corpus gates: the twins (xxh64, sessionize,
banding brute-force) GENERATE the VALUES oracles the driver grades
against, so the twins themselves must be pinned to Spark's behavior on
arbitrary inputs, not just the seeded corpus.
"""

from __future__ import annotations

import datetime as dt

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from cyclegraph_spark.functions.xxh64 import (
    _to_signed,
    spark_xxhash64_str,
    spark_xxhash64_str_int,
    xxh64_long,
)

_SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# printable-ish unicode incl. multi-byte; Spark hashes UTF-8 bytes
_texts = st.text(min_size=0, max_size=40)
_longs = st.integers(min_value=-(2**63), max_value=2**63 - 1)


def _twin():
    """tools/gen_value_oracles.py, the module of the twins that generate
    the VALUES oracles, loaded once."""
    import importlib.util
    import os
    import sys

    if "gen_value_oracles" not in sys.modules:
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        spec = importlib.util.spec_from_file_location(
            "gen_value_oracles", os.path.join(repo, "tools", "gen_value_oracles.py")
        )
        mod = importlib.util.module_from_spec(spec)
        sys.modules["gen_value_oracles"] = mod
        spec.loader.exec_module(mod)
    return sys.modules["gen_value_oracles"]


@settings(**_SETTINGS)
@given(items=st.lists(st.tuples(_texts, st.integers(0, 63)), min_size=1, max_size=40))
def test_xxh64_twin_matches_spark(spark, items):
    """The XXH64 twin (which generates every VALUES oracle) must equal
    Spark's xxhash64 on arbitrary strings, string+int seeds chains, and
    longs — not just the seeded corpus."""
    df = spark.createDataFrame(items, "s string, i int")
    got = df.select(
        F.xxhash64("s").alias("h1"),
        F.xxhash64("s", "i").alias("h2"),
        F.xxhash64(F.xxhash64("s")).alias("h3"),
    ).collect()
    for (s, i), r in zip(items, got):
        assert r["h1"] == spark_xxhash64_str(s), (s,)
        assert r["h2"] == spark_xxhash64_str_int(s, i), (s, i)
        assert r["h3"] == _to_signed(xxh64_long(spark_xxhash64_str(s))), (s,)


def _reference_sessionize(rows, gap_s):
    """Single-node twin: sort per user, split on gap > gap_s (micros)."""
    by_user: dict = {}
    for u, ts, v in rows:
        by_user.setdefault(u, []).append((ts, v))
    out = set()
    for u, evs in by_user.items():
        evs.sort(key=lambda e: e[0])
        sess: list = []
        sessions = []
        prev = None
        for ts, v in evs:
            us = int((ts - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
            if prev is not None and us - prev > gap_s * 1_000_000:
                sessions.append(sess)
                sess = []
            sess.append((us, v))
            prev = us
        sessions.append(sess)
        for k, s in enumerate(sessions, start=1):
            out.add(
                (
                    u,
                    k,
                    min(e[0] for e in s),
                    max(e[0] for e in s),
                    len(s),
                    sum(e[1] for e in s),
                )
            )
    return out


@settings(**_SETTINGS)
@given(
    data=st.lists(
        st.tuples(
            st.integers(0, 3),  # user
            st.integers(0, 2000),  # offset seconds
            st.integers(0, 999_999),  # offset micros
            st.integers(-100, 100),  # integer value (exact float sum)
        ),
        min_size=1,
        max_size=120,
    ),
    gap_s=st.integers(1, 600),
)
def test_sessionize_batch_matches_twin(spark, data, gap_s):
    """W8 batch sessionization vs a pure-Python twin on random event
    streams — microsecond-exact gap splits, arbitrary gaps and ties."""
    base = dt.datetime(2030, 1, 1)
    rows = [
        (u, base + dt.timedelta(seconds=s, microseconds=us), float(v))
        for u, s, us, v in data
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    from cyclegraph_spark.operators.sessionize import sessionize_batch

    got = {
        (
            r.user_id,
            r.sess_id,
            int((r.session_start - dt.datetime(1970, 1, 1)).total_seconds() * 1e6),
            int((r.session_end - dt.datetime(1970, 1, 1)).total_seconds() * 1e6),
            r.n_events,
            r.total_value,
        )
        for r in sessionize_batch(df, gap_s=gap_s).collect()
    }
    assert got == _reference_sessionize(rows, gap_s)


_url_component = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd")),
    min_size=1,
    max_size=8,
)


@settings(**_SETTINGS)
@given(
    parts=st.lists(
        st.tuples(
            st.sampled_from(["http", "HTTP", "https", "HTTPS"]),
            _url_component,  # host
            st.sampled_from(["", ":80", ":443", ":8080"]),
            st.lists(_url_component, min_size=0, max_size=3),  # path segs
            st.lists(
                st.tuples(
                    st.sampled_from(["a", "b", "utm_source", "utm_c", "z"]),
                    _url_component,
                ),
                min_size=0,
                max_size=4,
            ),
        ),
        min_size=1,
        max_size=30,
    ),
    garbage=st.lists(_texts.filter(lambda s: "://" not in s), max_size=10),
)
def test_canonical_url_idempotent_and_strips_utm(spark, parts, garbage):
    """canonical_url is a projection: canonical(canonical(u)) ==
    canonical(u) for every input, no utm_ parameter survives, and
    non-absolute inputs pass through byte-identical (ADVICE r2 guard)."""
    from cyclegraph_spark.functions.urls import canonical_url

    urls = [
        f"{scheme}://{host}{port}{''.join('/' + p for p in path)}"
        + ("?" + "&".join(f"{k}={v}" for k, v in q if k) if q else "")
        for scheme, host, port, path, q in parts
    ] + garbage
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    out = df.select(
        "url",
        canonical_url(F.col("url")).alias("c1"),
        canonical_url(canonical_url(F.col("url"))).alias("c2"),
    ).collect()
    for r in out:
        assert r["c1"] == r["c2"], f"not idempotent: {r['url']!r} -> {r['c1']!r} -> {r['c2']!r}"
        if "://" in r["url"]:
            assert "utm_" not in (r["c1"].split("?", 1) + [""])[1], r["c1"]
        else:
            assert r["c1"] == r["url"]  # pass-through branch


# Adversarial-but-in-domain value pool for the CSV→RDF mapper: the
# reference's lexical mapping is Python str(int/float); Spark's
# double→string cast agrees inside ~1e-3..1e7 magnitude (both engines
# switch to scientific notation at different thresholds outside it, and
# the reference's stream values — hr/watts/altitude — live well inside).
# Exclusions, each a DOCUMENTED engine-policy divergence pinned by
# test_lift_literal_engine_policy rather than twin parity:
#   'inf'/'Infinity' — reference int path raises uncaught OverflowError
#     (a crash); the engine skips the int triple and emits the pinned
#     'inf' float literal;
#   |v| > 2^63 ('1e20') — 64-bit engine bound: int rule skips where the
#     reference emits a Python-bigint literal (exact form unreachable,
#     see _int_literal);
#   scientific-notation floats ('1e20' float rule) — lexical-form
#     threshold differs between Java and Python rendering.
_cell = st.sampled_from(
    [
        "", " ", "  12  ", "007", "+3", "-12.7", "12.999", ".5", "5.",
        "1e3", "-1e2", "2.5", "100.0", "0", "1", "true", "TRUE", "False",
        "yes", "abc", "1,5", "nan", "-0", "3.14159", "99999",
    ]
)


@settings(**_SETTINGS)
@given(
    rows=st.lists(
        st.fixed_dictionaries(
            {
                "activity_id": st.sampled_from(["42", "a1", "9"]),
                "index": st.sampled_from(["", "0", "17", " 3 "]),
                "time_s": _cell,
                "hr": _cell,
                "watts": _cell,
                "moving": _cell,
                "altitude": _cell,
            }
        ),
        min_size=1,
        max_size=30,
    )
)
def test_lift_stream_rows_matches_reference_twin(spark, rows):
    """P1 mapper vs the reference_add_row twin on adversarial cells:
    signed/zero-padded/exponent numerics, truncation-toward-zero cases,
    decimal commas, boolean case variants, junk → skip-not-crash."""
    from cyclegraph_spark.operators.triples import (
        lift_stream_rows,
        reference_add_row,
    )

    cols = ["activity_id", "index", "time_s", "hr", "watts", "moving", "altitude"]
    df = spark.createDataFrame(
        [tuple(r[c] for c in cols) for r in rows],
        ", ".join(f"{c} string" for c in cols),
    )
    got = {
        (r.subj, r.pred, r.obj, r.obj_dtype)
        for r in lift_stream_rows(df).collect()
    }
    exp = set()
    for r in rows:
        exp |= reference_add_row(r["activity_id"].strip(), r)
    assert got == exp, (
        f"only-spark={sorted(got - exp)[:4]} only-twin={sorted(exp - got)[:4]}"
    )


def test_lift_literal_engine_policy(spark):
    """Pins the engine's out-of-domain literal policy (the documented
    divergences the property pool above excludes): int-rule overflow and
    infinities SKIP instead of crashing the job (ANSI CAST_OVERFLOW
    guard), float-rule non-finites use the reference's Python lexical
    forms ('inf'/'-inf'/'nan'), and in-range big ints still lift."""
    from cyclegraph_spark.operators.triples import lift_stream_rows

    cols = ["activity_id", "index", "time_s", "hr", "watts", "moving", "altitude"]
    rows = [
        ("9", "0", "1e20", "inf", "Infinity", "", "inf"),
        ("9", "1", "", "", "", "", "-Infinity"),
        ("9", "2", "9.3e18", "", "", "", ""),  # > 2^63: skip, no crash
        ("9", "3", "9e18", "", "", "", ""),  # < 2^63: lifts
    ]
    df = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in cols))
    by_sample = {}
    for r in lift_stream_rows(df).collect():
        if r.pred.endswith("activity"):
            continue
        by_sample.setdefault(r.subj.rsplit("/", 1)[-1], []).append((r.obj, r.obj_dtype.rsplit("#")[-1]))
    assert by_sample.get("0") == [("inf", "float")]  # int overflows skipped
    assert by_sample.get("1") == [("-inf", "float")]
    assert "2" not in by_sample  # 9.3e18 > 2^63 → skipped
    assert by_sample.get("3") == [("9000000000000000000", "integer")]


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 40)),
        min_size=1,
        max_size=60,
    )
)
def test_connected_components_matches_union_find(spark, edges):
    """CC vs the union-find twin on random graphs — self-loops,
    duplicates, multi-component, arbitrary label order — through the
    one-task union-find (default edge bound) and through star rounds
    (bound 0)."""
    from cyclegraph_spark.operators import cc

    df = spark.createDataFrame(edges, "src long, dst long")
    exp = set(cc.reference_components([(a, b) for a, b in edges]).items())
    for bound in (cc._UF_MAX_EDGES, 0):
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(cc, "_UF_MAX_EDGES", bound)
            got = {(r.id, r.component) for r in cc.connected_components(df).collect()}
        assert got == exp, bound


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    base_sigs=st.lists(
        st.integers(0, 2**63 - 1), min_size=2, max_size=30, unique=True
    ),
    flips=st.lists(
        st.tuples(st.integers(0, 29), st.sets(st.integers(0, 62), max_size=8)),
        max_size=6,
    ),
    max_h=st.sampled_from([3, 6]),
)
def test_simhash_banding_full_recall_random_signatures(
    spark, base_sigs, flips, max_h
):
    """Pigeonhole banding recall on RANDOM signatures (the corpus test
    pins real docs; this pins the guarantee itself), with crafted
    mutations at and just over the hamming budget."""
    from cyclegraph_spark.operators.dedup import simhash_near_pairs

    sigs = [s & ~(1 << 63) for s in base_sigs]
    next_id = len(sigs)
    rows = [(i, s) for i, s in enumerate(sigs)]
    for src, bits in flips:
        if src < len(sigs):
            mut = sigs[src]
            for b in bits:
                mut ^= 1 << b
            rows.append((next_id, mut & ~(1 << 63)))
            next_id += 1
    df = spark.createDataFrame(rows, "doc long, simhash long")
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_near_pairs(df, max_hamming=max_h).collect()
    }
    brute = {}
    for i, (da, sa) in enumerate(rows):
        for db, sb in rows[i + 1 :]:
            h = bin(sa ^ sb).count("1")
            if h <= max_h:
                a, b = (da, db) if da < db else (db, da)
                brute[(a, b)] = h
    assert got == brute


def _reference_session_metrics(series, win):
    """Single-node twin of the reference metric block on one (p, h)
    series — NP expanding warm-up + len<window branch
    (core/src/metrics.rs:181-238), PrecisionWatt IQR/1.349 with
    linear-interpolated quantiles and the min(window, len) clamp
    (metrics.rs:309-370), Pa:Hr exact-median base (metrics.rs:258-292),
    status thresholds (core/src/lib.rs:91-97)."""
    import math

    import numpy as np

    p = [float(w) for w, _ in series]
    h = [float(x) for _, x in series]
    n = len(p)
    roll = [
        sum(p[max(0, i - win + 1) : i + 1]) / (i + 1 - max(0, i - win + 1))
        for i in range(n)
    ]
    avg_p = sum(p) / n
    avg_h = sum(h) / n
    np_val = avg_p if n < win else (sum(r**4 for r in roll) / n) ** 0.25
    wpb = avg_p / avg_h if avg_h > 0 else 0.0
    pts = [pi / hi for pi, hi in zip(p, h) if hi > 0 and not math.isnan(pi)]
    med = float(np.percentile(pts, 50)) if pts else None
    base = med if med is not None else wpb
    pa_hr = wpb / base if base > 0 else 0.0
    vi = np_val / avg_p if avg_p > 0 else 0.0
    resid = [pi - r for pi, r in zip(p, roll)]
    iqr = float(np.percentile(resid, 75) - np.percentile(resid, 25))
    sigma = abs(iqr) / 1.349 if abs(iqr) > 0 else 0.0
    pw = sigma / math.sqrt(min(win, n))
    status = (
        "Lav effekt" if wpb < 1.0 else ("Høy puls" if avg_h > 170.0 else "OK")
    )
    return {
        "avg_power": avg_p,
        "avg_hr": avg_h,
        "np": np_val,
        "vi": vi,
        "pa_hr": pa_hr,
        "w_per_beat": wpb,
        "precision_watt": pw,
        "status": status,
    }


# integer-valued watts/hr keep every sum/mean exactly representable in a
# double, so the only Spark-vs-twin FP drift left is in the pow4 / sqrt
# chains — the tolerances below are 1 rounding step at the output's own
# precision, tight enough that any BRANCH divergence (warm-up, clamp,
# guard) fails by whole units.
_watts_i = st.integers(min_value=-50, max_value=2000)
_hr_i = st.integers(min_value=0, max_value=220)


@settings(**_SETTINGS)
@given(
    series_a=st.lists(st.tuples(_watts_i, _hr_i), min_size=1, max_size=40),
    series_b=st.lists(st.tuples(_watts_i, _hr_i), min_size=0, max_size=10),
    win=st.sampled_from([1, 2, 5, 30]),
)
def test_session_metrics_matches_reference_twin(spark, series_a, series_b, win):
    """W1 (NP expanding warm-up + len<window branch) and W2
    (PrecisionWatt IQR sigma + window clamp) vs the pure-Python twin on
    randomized series — these twins anchor metrics_session_block and the
    reference goldens, so they must hold on arbitrary inputs, not just
    the fixture corpus."""
    from cyclegraph_spark.operators.metrics import session_metrics

    rows = [(1, i, float(w), float(x)) for i, (w, x) in enumerate(series_a)]
    rows += [(2, i, float(w), float(x)) for i, (w, x) in enumerate(series_b)]
    df = spark.createDataFrame(
        rows, "activity_id long, t long, watts double, hr double"
    )
    got = {r.activity_id: r for r in session_metrics(df, window=win).collect()}
    for act, series in ((1, series_a), (2, series_b)):
        if not series:
            continue
        exp = _reference_session_metrics(series, win)
        g = got[act]
        assert g.n_samples == len(series)
        for name in ("avg_power", "avg_hr", "np", "vi", "pa_hr", "w_per_beat"):
            # 0.011 = one HALF_UP-vs-banker's flip at 2 decimals + FP dust
            assert abs(getattr(g, name) - round(exp[name], 2)) <= 0.011, (
                name, act, win, getattr(g, name), exp[name],
            )
        assert abs(g.precision_watt - round(exp["precision_watt"], 4)) <= 2e-4, (
            act, win, g.precision_watt, exp["precision_watt"],
        )
        assert g.status == exp["status"], (act, win)


@settings(**_SETTINGS)
@given(
    win=st.integers(min_value=2, max_value=30),
    delta=st.sampled_from([-1, 0, 1]),
    seed_rows=st.lists(st.tuples(_watts_i, _hr_i), min_size=31, max_size=31),
)
def test_np_branch_and_pw_clamp_at_window_boundary(spark, win, delta, seed_rows):
    """Adversarial boundary for the two branchy twins: series of length
    window−1 / window / window+1. NP must be the PLAIN average strictly
    below the window (metrics.rs:193-197) and the windowed 4th-power
    mean at or above it; PrecisionWatt's divisor must clamp to
    min(window, len) exactly at the seam (metrics.rs:320-324)."""
    from cyclegraph_spark.operators.metrics import session_metrics

    n = win + delta
    series = seed_rows[:n]
    rows = [(1, i, float(w), float(x)) for i, (w, x) in enumerate(series)]
    df = spark.createDataFrame(
        rows, "activity_id long, t long, watts double, hr double"
    )
    g = session_metrics(df, window=win).collect()[0]
    exp = _reference_session_metrics(series, win)
    if n < win:
        # below the window the branch MUST collapse to the plain mean
        assert abs(g.np - round(exp["avg_power"], 2)) <= 0.011
    assert abs(g.np - round(exp["np"], 2)) <= 0.011, (win, delta)
    assert abs(g.precision_watt - round(exp["precision_watt"], 4)) <= 2e-4, (
        win, delta,
    )


_words = st.lists(
    st.sampled_from(["alpha", "beta", "gamma", "delta", "epsil", "zeta"]),
    min_size=0,
    max_size=12,
)
# whitespace the oracle's RE2 '\s' splits on, then U+000B (Java's \s
# only) and two Unicode spaces neither splits on
_separators = st.sampled_from([" ", "\t", "\n", "\r", "\f", "\x0b", "\xa0", "\u2003"])


@st.composite
def _ws_text(draw):
    """Drawn words joined by drawn separators, with optional leading and
    trailing whitespace."""
    words = draw(_words)
    edge = st.one_of(st.just(""), _separators)
    text = draw(edge)
    for i, w in enumerate(words):
        text += (draw(_separators) if i else "") + w
    return text + draw(edge)


# each fails a tokenizer the oracle does not use: U+000B splits under
# Java's \s, U+00A0 and U+2003 under str.split, an edge tab leaves an
# empty first token the oracle keeps, and the oracle's trim strips edge
# U+00A0 and U+2003 where Spark's trim strips only U+0020; a U+000B
# inside a phone number is part of it under Java's \s only
_WS_EXAMPLES = [
    "alpha\x0bbeta gamma delta epsil",
    "tel +1 555\x0b123 4567 now",
    "alpha\xa0beta gamma delta epsil",
    "alpha\u2003beta gamma delta",
    "\talpha beta gamma delta",
    "\xa0alpha beta gamma\u2003",
    "alpha beta gamma delta\n",
    "",
    "   ",
    "\n",
]


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(doc_texts=st.lists(_ws_text(), min_size=1, max_size=12))
@example(doc_texts=_WS_EXAMPLES)
def test_minhash_twin_matches_spark(spark, doc_texts):
    """The MinHash twin in tools/gen_value_oracles.py GENERATES the
    dedup_minhash_lsh VALUES oracle, so its whole chain — shingling,
    hash-once per-seed values, 64-way min, band-slice xxhash64 fold,
    candidate pairing, agreement estimate — must equal the Spark
    operators on arbitrary texts, not just the seeded sf0.01 corpus.
    Small word alphabet forces shingle collisions across docs; the
    separators and edge whitespace pin the shared tokenizer."""
    twin = _twin()
    from cyclegraph_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signatures,
    )

    from cyclegraph_spark.functions.xxh64 import (
        _to_signed,
        xxh64_bytes,
        xxh64_int,
        xxh64_long,
    )
    from cyclegraph_spark.operators.dedup import reference_shingles

    docs = list(enumerate(doc_texts))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    sigs_df = minhash_signatures(df, k=64)
    got_sigs = {r.doc: tuple(r.sig) for r in sigs_df.collect()}
    # twin signature chain (shingle set -> per-seed min), doc for doc
    exp_sigs = {}
    for doc_id, text in docs:
        shs = reference_shingles(text)
        if not shs:
            continue
        per_sh = {}
        for sh in shs:
            h = _to_signed(xxh64_bytes(sh.encode("utf-8"), 42))
            seed = xxh64_long(h, 42)
            per_sh[sh] = [_to_signed(xxh64_int(i, seed)) for i in range(64)]
        exp_sigs[doc_id] = tuple(
            min(per_sh[sh][i] for sh in shs) for i in range(64)
        )
    assert got_sigs == exp_sigs

    got_pairs = {
        (r.doc_a, r.doc_b, round(r.est_jaccard, 9))
        for r in minhash_lsh_pairs(
            sigs_df, bands=16, rows=4, est_threshold=0.1
        ).collect()
    }
    exp_pairs = {(a, b, round(est, 9)) for a, b, est in twin.minhash_lsh_twin(docs)}
    assert got_pairs == exp_pairs


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(doc_texts=st.lists(_ws_text(), min_size=1, max_size=14))
@example(doc_texts=_WS_EXAMPLES)
def test_simhash_twin_matches_spark(spark, doc_texts):
    """The SimHash twin (which generates the dedup_simhash VALUES
    oracle) must equal the Spark operator — signature bit-for-bit
    including vote ties, and near-pair set at max_hamming=6 — on random
    word docs, not just the seeded corpus. The small alphabet yields
    duplicate and near-duplicate docs, so the pair stage is exercised,
    and repeated tokens pin the frequency-weighted voting; the
    separators and edge whitespace pin the shared tokenizer."""
    twin = _twin()
    from cyclegraph_spark.operators.dedup import simhash, simhash_near_pairs

    docs = list(enumerate(doc_texts))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    sigs_df = simhash(df)
    got_sigs = {r.doc: r.simhash for r in sigs_df.collect()}
    assert got_sigs == twin.simhash_signatures(docs)

    got_pairs = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_near_pairs(sigs_df, max_hamming=6).collect()
    }
    assert got_pairs == set(twin.simhash_twin(docs))


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(doc_texts=st.lists(_ws_text(), min_size=1, max_size=8))
@example(doc_texts=_WS_EXAMPLES)
def test_whitespace_leaves_match_oracle_sql(spark, tmp_path, doc_texts):
    """The leaves that count, split or normalize on whitespace equal
    their committed oracle SQL, run in DuckDB over the same drawn
    documents. The doc_ids are multiples of 385, so every row passes the
    % 5, % 7 and % 11 filters. The leaves' \\s in Spark is RE2's class,
    as in DuckDB: Java's \\s also holds U+000B."""
    import tempfile

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cyclegraph_spark.operators.queries import (
        all_oracles,
        all_queries,
        extended_oracles,
        extended_queries,
    )

    # one directory per example: hypothesis shares tmp_path among them
    sf_dir = tempfile.mkdtemp(dir=tmp_path)
    ids = pa.array([385 * i for i in range(len(doc_texts))], pa.int64())
    pq.write_table(
        pa.table({"doc_id": ids, "text": pa.array(doc_texts, pa.string())}),
        f"{sf_dir}/documents.parquet",
    )
    queries = {**all_queries(), **extended_queries()}
    oracles = {**all_oracles(), **extended_oracles()}
    with duckdb.connect() as con:
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
        )
        for name, cols in (
            ("t_quality_features", ("doc_id", "n_chars", "n_tokens", "n_punct", "n_stopwords")),
            ("t_token_count_bpe", None),
            ("t_pii_redaction", None),
            ("dedup_exact_md5", ("fingerprint", "keeper_id", "n_dupes")),
        ):
            df = queries[name](spark, sf_dir)
            cols = cols or tuple(df.columns)
            got = sorted(tuple(r[c] for c in cols) for r in df.collect())
            res = con.execute(oracles[name])
            at = [[d[0] for d in res.description].index(c) for c in cols]
            exp = sorted(tuple(row[i] for i in at) for row in res.fetchall())
            assert got == exp, name


@st.composite
def _link_case(draw):
    """Random docs + alias dictionary over a tiny shared vocabulary so
    1..3-gram aliases collide with document n-grams, the same alias maps
    to competing entities (tie-break path), and repeated mentions build
    context support. Words are separated by ASCII and non-ASCII
    whitespace (U+00A0 and U+2003 included), with optional leading and
    trailing whitespace, as extracted web text has them."""
    vocab = ["aa", "bb", "cc", "dd", "ee"]
    space = st.sampled_from([" ", "  ", "\t", "\n", "\xa0", "\u2003"])
    edge = st.one_of(st.just(""), space)
    word_lists = draw(
        st.lists(
            st.lists(st.sampled_from(vocab), min_size=0, max_size=12),
            min_size=1,
            max_size=4,
        )
    )
    docs = []
    for ws in word_lists:
        text = draw(edge)
        for i, w in enumerate(ws):
            text += (draw(space) if i else "") + w
        docs.append(text + draw(edge))
    n_alias = draw(st.integers(min_value=1, max_value=8))
    seen: set[tuple[str, str]] = set()
    rows = []
    for _ in range(n_alias):
        k = draw(st.integers(min_value=1, max_value=3))
        alias = " ".join(
            draw(st.sampled_from(vocab)) for _ in range(k)
        )
        eid = draw(st.sampled_from(["e1", "e2", "e3"]))
        if (alias, eid) in seen:
            continue
        seen.add((alias, eid))
        prior = draw(st.sampled_from([0.3, 0.45, 0.5, 0.62, 0.75, 0.9]))
        rows.append((alias, eid, prior))
    return docs, rows


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(case=_link_case())
def test_linking_twin_matches_spark(spark, case):
    """reference_link GENERATES the kg_entity_links VALUES oracle, so it
    must equal link_mentions — positions, longest-alias/score/entity
    tie-break, ln-support context scores, and the rounded score's exact
    lexical value — on arbitrary docs and whitespace, not just the
    seeded corpus."""
    from cyclegraph_spark.operators.linking import link_mentions, reference_link

    docs, alias_rows = case
    pages = spark.createDataFrame(
        [(f"u{i}", text) for i, text in enumerate(docs)],
        "url string, text string",
    )
    aliases = spark.createDataFrame(
        alias_rows, "alias string, entity_id string, prior double"
    )

    got = {
        (r.url, r.pos, r.alias, r.entity_id, r.score)
        for r in link_mentions(pages, aliases).collect()
    }
    exp = set()
    for i, text in enumerate(docs):
        for pos, alias, eid, score in reference_link(text, alias_rows):
            exp.add((f"u{i}", pos, alias, eid, score))
    assert got == exp, (
        f"missing={sorted(exp - got)[:3]} extra={sorted(got - exp)[:3]}"
    )


_lift_values = st.sampled_from(
    ["", "  ", "1", "0", "12.9", " 300 ", "true", " False ", "N/A",
     "7.25", "-3", "x y", "deep blue", "12,5"]
)
_lift_props = st.sampled_from(
    ["power", "heartRate", "timeS", "altitude", "moving", "name",
     "identifier", "color", "schema:power"]
)
_lift_types = st.sampled_from(
    ["http://schema.org/Thing", "https://schema.org/Person",
     "schema:Widget", "Gadget"]
)


@st.composite
def _lift_pages(draw):
    """Random pages of well-formed microdata/RDFa islands (+ at most one
    generator-shaped JSON-LD script) interleaved with junk prose. Values
    exercise every coercion branch inside the engine-parity pool (the
    beyond-2^63 / non-finite policy divergences are pinned separately by
    test_lift_literal_engine_policy)."""
    import json as _json

    pages = []
    for pi in range(draw(st.integers(min_value=1, max_value=3))):
        parts = ["<html><body><p>junk prose</p>"]
        for ii in range(draw(st.integers(min_value=0, max_value=3))):
            fam = draw(st.sampled_from(["micro", "rdfa", "jsonld"]))
            iid = f"https://x.example/p{pi}i{ii}"
            if fam == "micro":
                props = "".join(
                    f'<span itemprop="{draw(_lift_props)}">{draw(_lift_values)}</span>'
                    for _ in range(draw(st.integers(0, 4)))
                )
                parts.append(
                    f'<div itemscope itemtype="{draw(_lift_types)}" '
                    f'itemid="{iid}">{props}</div>'
                )
            elif fam == "rdfa":
                props = "".join(
                    f'<meta property="{draw(_lift_props)}" '
                    f'content="{draw(_lift_values)}">'
                    for _ in range(draw(st.integers(0, 4)))
                )
                parts.append(
                    f'<section typeof="{draw(_lift_types)}" '
                    f'about="{iid}">{props}</section>'
                )
            elif "ld+json" not in "".join(parts):  # one script per page
                # empty @id must yield NO triples (the Python walker
                # skips falsy @id, not just null)
                doc = {"@id": draw(st.sampled_from([iid, iid, iid, ""]))}
                if draw(st.booleans()):
                    doc["@type"] = draw(_lift_types)
                if draw(st.booleans()):
                    doc["identifier"] = draw(_lift_values)
                if draw(st.booleans()):
                    doc["agent"] = [
                        {"@id": f"{iid}a{k}", "sameAs": f"https://same.example/{k}"}
                        for k in range(draw(st.integers(1, 2)))
                    ]
                parts.append(
                    '<script type="application/ld+json">'
                    + _json.dumps(doc)
                    + "</script>"
                )
        parts.append("</body></html>")
        pages.append((f"https://x.example/pg{pi}", "".join(parts).encode("utf-8")))
    return pages


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(pages=_lift_pages())
def test_html_lift_twin_matches_udf(spark, pages):
    """The HTML-lift twin (_lift_page_rows, which GENERATES the
    kg_html_lift VALUES oracle) must equal lift_html_pages as a MULTISET
    on arbitrary islands — including bare/CURIE itemtypes, which only
    the corpus's absolute URIs left untested."""
    from collections import Counter

    twin = _twin()
    from cyclegraph_spark.operators.triples import lift_html_pages

    df = spark.createDataFrame(pages, "url string, html binary")
    got = Counter(
        (r.src, r.subj, r.pred, r.obj, r.obj_dtype)
        for r in lift_html_pages(df).collect()
    )
    exp = Counter(
        (url, s, p, o, d)
        for url, html in pages
        for s, p, o, d in twin._lift_page_rows(url, html)
    )
    assert got == exp, (
        f"missing={sorted((exp - got).keys())[:3]} "
        f"extra={sorted((got - exp).keys())[:3]}"
    )
