"""Deduplication operators for web-scale corpora: exact, n-gram Jaccard,
MinHash+LSH, SimHash.

Reference analog: newest-wins dedup (O3, export13.py:96-106) and the
canonical-key collapse (J3, sessions.py:284-414). Everything below is
pure Column/SQL (xxhash64 is Spark's built-in 64-bit hash — JVM-side,
deterministic across runs and cluster sizes).

Scale notes (the part that matters at 100 TB):
- exact: one shuffle on the 128-bit digest; survivors via min_by.
- shingle Jaccard: explode(shingles) → self-join on shingle. The join
  explodes on COMMON shingles, so we drop the most frequent shingles
  (document-frequency cap) before joining — the standard stopword-
  shingle cut that keeps the candidate set near-linear.
- MinHash: k independent permutations approximated by xxhash64 with k
  seeds; ONE aggregation produces all k mins (no k passes). LSH bands
  hash b groups of r rows; candidates = equi-join on (band, bandhash) —
  a pure hash-partition join, skew handled by AQE.
- SimHash: 64-bit signature from per-token hash bit votes; one explode +
  one aggregation; near-dups = hamming distance via bit_count(xor).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cyclegraph_spark.operators.textstats import WHITESPACE, reference_tokens, tokens, trim_spaces

SHINGLE_N = 3


def shingles_from_tokens(toks: Column, n: int = SHINGLE_N) -> Column:
    """Word n-gram shingle array (distinct) from a PRE-SPLIT token array
    column. Docs shorter than n tokens yield an empty array
    (sequence(0, negative) would count DOWN in Spark — guard with a
    when). Taking tokens rather than text matters: a split expression
    referenced inside the transform lambda re-evaluates per array
    element — O(tokens²) per doc (measured on the former SQL linker's
    n-gram candidates at 50k pages: ~1.7×)."""
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - n)
    ).otherwise(F.expr("array()").cast("array<int>"))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    )


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup by content digest; survivor = min id (deterministic).

    Output: (fingerprint, keeper_id, n_dupes).
    """
    norm = F.regexp_replace(F.lower(trim_spaces(F.col(text_col))), WHITESPACE, " ")
    return (
        df.select(F.md5(norm).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keeper_id"),
            (F.count(F.lit(1)) - 1).alias("n_dupes"),
        )
    )


def _doc_shingles(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    from cyclegraph_spark.tables import ensure_min_partitions

    # small corpora arrive as 1-2 parquet splits — the explode (and every
    # stage pipelined with it) would run on ONE task; widen first
    # (no-op when the scan is already wide). Tokenize in its own select
    # so the shingle transform references a materialized array, not a
    # per-element re-split.
    toked = ensure_min_partitions(
        df.select(F.col(id_col).alias("doc"), F.col(text_col))
    ).select("doc", tokens(F.col(text_col)).alias("_toks"))
    return toked.select(
        "doc", F.explode(shingles_from_tokens(F.col("_toks"))).alias("sh")
    ).filter(F.col("sh") != "")


def _capped_posting_lists(sh: DataFrame, max_doc_freq: int) -> DataFrame:
    """(sh, docs) posting lists for shingles in ≤ max_doc_freq docs.

    COUNT-FIRST discipline: the df cap must be applied with a map-side-
    combinable count aggregate, not by filtering collect_set output — a
    boilerplate shingle ("all rights reserved") can sit in ~10^8 docs at
    corpus scale, and a collect_set that materializes the full posting
    set before the filter OOMs one reducer on exactly the keys the cap
    exists to kill. Count (bounded state) → filter → join survivors →
    collect_set (provably ≤ max_doc_freq elements per group). Plan shape
    locked by tests/test_dedup.py::test_ngram_cap_counts_before_collect_set.
    """
    rare = (
        sh.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= max_doc_freq)
        .select("sh")
    )
    return sh.join(rare, "sh").groupBy("sh").agg(
        F.collect_set("doc").alias("docs")
    )


def _assert_unique_ids(df: DataFrame, id_col: str, caller: str) -> None:
    """One count/countDistinct action over the id column; raises
    ValueError on duplicates OR any NULL id. Opt-in (see
    ``check_unique``): the gated corpora own the invariant, but a
    library caller violating it would otherwise get silently wrong
    jaccard/signatures. NULLs need their own check — ``count(col)`` and
    ``count_distinct`` both SKIP nulls, so several NULL-id rows would
    pass a rows-vs-distinct comparison yet still merge into one groupBy
    key downstream (ADVICE r5)."""
    r = df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.count(F.col(id_col)).alias("n"),
        F.count_distinct(F.col(id_col)).alias("nd"),
    ).first()
    if r["rows"] != r["n"]:
        raise ValueError(
            f"{caller}: id column '{id_col}' has {r['rows'] - r['n']} NULLs "
            "— NULL ids merge into a single group downstream; assign real "
            f"ids or drop the rows before calling {caller}"
        )
    if r["n"] != r["nd"]:
        raise ValueError(
            f"{caller}: id column '{id_col}' has duplicates "
            f"({r['n']} rows, {r['nd']} distinct) — dedup on '{id_col}' "
            "first; duplicated ids silently corrupt set semantics"
        )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
    check_unique: bool = False,
) -> DataFrame:
    """Exact word-trigram SET Jaccard for candidate pairs (distinct
    shingles per doc — matching ``reference_jaccard``'s set semantics;
    multiplicity counting would diverge on any doc with a repeated
    trigram).

    PRECONDITION: ``id_col`` is unique in ``df`` (one row per document);
    pass ``check_unique=True`` to enforce it with one extra count action.
    Duplicated (id, text) rows would inflate the per-shingle document
    frequencies and intersection counts, so jaccard would diverge from
    set semantics. The documents table owns that invariant; callers with
    a non-keyed input must dedup on ``id_col`` first (cheap relative to
    the shingle explode this function performs).

    Output: (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard >= threshold.

    ``max_doc_freq`` is the scale path: shingles appearing in more than
    that many docs are boilerplate and are dropped, and — because every
    surviving shingle now has a bounded posting list — the pair
    candidates come from ONE groupBy(shingle) + a bounded in-row pair
    explode (≤ d·(d-1)/2 ≤ 120 pairs at d=16) instead of a shingle
    self-join. That removes the join's second full shuffle of the
    posting relation AND halves the exploded volume (combinations, not
    ordered pairs). ``max_doc_freq=None`` keeps the self-join as the
    exact all-pairs baseline (an unbounded posting list would make the
    in-row explode a single-task hot spot — worse than the join).
    """
    if check_unique:
        _assert_unique_ids(df, id_col, "ngram_jaccard_pairs")
    # _doc_shingles explodes array_distinct output, so (doc, sh) rows
    # are ALREADY unique — a .distinct() here would re-shuffle the
    # largest relation in the plan for nothing
    sh = _doc_shingles(df, id_col, text_col)
    if max_doc_freq is not None:
        # materialize the capped posting lists ONCE: three consumers
        # (inter, sz_a, sz_b) otherwise each re-derive the full
        # scan→explode→cap chain — the executed plan showed 6 parquet
        # scans and zero exchange reuse (AQE cannot reuse across the
        # differing downstream subtrees). The checkpointed relation is
        # the CAPPED inverted index: ≤ max_doc_freq ids per surviving
        # shingle — exactly what a production pipeline would persist.
        # (Measured at sf0.1, idle host: pairs 7.3 → 3.9-4.5 s,
        # dedup_clusters 7.4 → 4.9 s.)
        buckets = _capped_posting_lists(sh, max_doc_freq).localCheckpoint(
            eager=True
        )
        posting = buckets.select(F.explode("docs").alias("doc"))
        sizes = posting.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
        pair = F.explode(
            F.filter(
                F.flatten(
                    F.transform(
                        "docs",
                        lambda a: F.transform(
                            "docs", lambda b: F.struct(a.alias("a"), b.alias("b"))
                        ),
                    )
                ),
                lambda p: p["a"] < p["b"],
            )
        ).alias("p")
        inter = (
            buckets.filter(F.size("docs") >= 2)
            .select(pair)
            .groupBy(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    else:
        sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
        a = sh.select(F.col("doc").alias("doc_a"), "sh")
        b = sh.select(F.col("doc").alias("doc_b"), "sh")
        inter = (
            a.join(b, "sh")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    sz_a = sizes.select(F.col("doc").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sz_b = sizes.select(F.col("doc").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sz_a, "doc_a")
        .join(sz_b, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def dedup_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """End-to-end near-dup clustering — the canonical training-data
    dedup shape: pair generation (capped trigram Jaccard) → connected
    components over the pair graph (transitive closure: A~B and B~C
    put A,C in one cluster even below pairwise threshold) → canonical
    survivor = MIN doc id per cluster (O3/O6 determinism discipline).

    Reuses the CC operator: a pair graph within its edge bound clusters
    in one union-find task; a larger one first contracts in O(log n)
    star rounds, where AQE's skew join splits hot near-dup hubs (one
    boilerplate page with thousands of copies).

    Output: (doc_id, canonical_id) for every doc that belongs to a
    cluster of size ≥ 2 (singletons are their own canonical and are
    omitted — at 100 TB that keeps the output proportional to the
    duplicated subset, not the corpus).
    """
    from cyclegraph_spark.operators.cc import connected_components

    # connected_components checkpoints its input once, so the
    # shingle→posting→pair plan runs once
    pairs = ngram_jaccard_pairs(
        df, id_col=id_col, text_col=text_col,
        threshold=threshold, max_doc_freq=max_doc_freq,
    )
    labels = connected_components(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    return labels.select(
        F.col("id").alias("doc_id"), F.col("component").alias("canonical_id")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 64,
    check_unique: bool = False,
) -> DataFrame:
    """k-permutation MinHash signature per doc in ONE aggregation.

    Hash-once discipline: the variable-length shingle STRING is xxhashed
    exactly once per row; the k per-permutation values then rehash that
    8-byte long with each seed (``xxhash64(_h, i)`` = two fixed-width
    lane operations), instead of re-hashing the string k times. Same
    uniformity, ~k× less byte-hashing on the hot path; single-node twin
    mirrors the chain (tools/gen_value_oracles.py ``shingle_sig``).

    PRECONDITION: ``id_col`` unique (see ngram_jaccard_pairs) — MIN is
    duplicate-tolerant for identical texts, but conflicting texts under
    one id would silently merge into one signature. Pass
    ``check_unique=True`` to enforce it with one extra count action.

    Aggregate shape, MEASURED (sf0.1, local[16], interleaved ×4): the k
    scalar ``min`` buffers below are the FASTEST bounded-state plan —
    0.89 s best vs 1.04 s for the "fused" per-row
    ``transform(sequence(0,k-1), i -> xxhash64(_h,i))`` array feeding k
    ``F.get`` mins (identical signatures, bit_xor-checksummed; the array
    form adds a per-row allocation without saving any hash work), and a
    ``collect_list``+elementwise-fold merge is disqualified outright:
    unbounded per-group state (n_shingles × k longs). Each min buffer is
    map-side combinable, so reducer state is k longs per doc regardless
    of corpus size.

    Output: (doc, sig: array<bigint> length k).
    """
    if check_unique:
        _assert_unique_ids(df, id_col, "minhash_signatures")
    sh = _doc_shingles(df, id_col, text_col)
    hashed = sh.select("doc", F.xxhash64("sh").alias("_h"))
    # F.expr strings, not per-column builders: each Column-API call is a
    # py4j round trip, and k=64 permutations × ~5 calls each cost ~0.9 s
    # of pure DRIVER time per query construction (measured; guide §1.2
    # step 2 — per-task work includes the driver's plan building). The
    # parsed expressions resolve to the identical operators.
    mins = [F.expr(f"min(xxhash64(_h, {i})) AS h{i}") for i in range(k)]
    agg = hashed.groupBy("doc").agg(*mins)
    sig = "array(" + ", ".join(f"h{i}" for i in range(k)) + ") AS sig"
    return agg.select("doc", F.expr(sig))


def minhash_lsh_pairs(
    signatures: DataFrame, bands: int = 16, rows: int = 4, est_threshold: float = 0.5
) -> DataFrame:
    """LSH banding over signatures → candidate pairs → similarity
    ESTIMATE = fraction of agreeing signature positions.

    Output: (doc_a, doc_b, est_jaccard >= est_threshold).
    """
    # the candidate join consumes the signature relation on BOTH sides,
    # and each side would re-derive the whole explode+64-min aggregation
    # (no exchange reuse across the differing downstream subtrees); the
    # relation is tiny — one 64-long array per doc — so materialize once
    signatures = signatures.localCheckpoint(eager=True)
    # band hash = xxhash64 over the band's signature SLICE (Spark's hash
    # folds array elements through the carry: carry = hashLong(elem,
    # carry) — the twin mirrors the fold); hashing the longs directly
    # beats stringifying 4 values per band × 16 bands per row.
    # One F.expr for the whole banded explode (py4j-chatter discipline,
    # see minhash_signatures).
    band_structs = ", ".join(
        f"struct({b} AS band, xxhash64(slice(sig, {b * rows + 1}, {rows})) AS bandhash)"
        for b in range(bands)
    )
    banded = signatures.select(
        "doc", "sig", F.expr(f"explode(array({band_structs})) AS bh")
    ).select("doc", "sig", "bh.band", "bh.bandhash")

    a = banded.select(
        F.col("doc").alias("doc_a"), F.col("sig").alias("sig_a"), "band", "bandhash"
    )
    b = banded.select(
        F.col("doc").alias("doc_b"), F.col("sig").alias("sig_b"), "band", "bandhash"
    )
    cands = (
        a.join(b, ["band", "bandhash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sig_a", "sig_b")
        .distinct()
    )
    agree = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda same: same
        )
    )
    return (
        cands.withColumn("est_jaccard", agree / F.size("sig_a"))
        .filter(F.col("est_jaccard") >= est_threshold)
        .select("doc_a", "doc_b", "est_jaccard")
    )


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """63-bit SimHash per doc (bit 63 left clear to stay non-negative).

    Per-token 64-bit hash; each bit votes ±1 weighted by token frequency;
    signature bit b = 1 iff vote sum > 0. One explode + one agg + one
    projection — no UDF.
    Output: (doc, simhash: bigint).
    """
    from cyclegraph_spark.tables import ensure_min_partitions

    toks = ensure_min_partitions(
        df.select(F.col(id_col).alias("doc"), F.col(text_col))
    ).select(
        "doc",
        F.explode(tokens(F.col(text_col))).alias("tok"),
    ).filter(F.col("tok") != "")
    hashed = toks.select("doc", F.xxhash64("tok").alias("_h"))
    # vote_b > 0 ⇔ 2·ones_b > n_tokens (ones_b = count of set bits b):
    # a plain masked-bit SUM per position instead of a conditional ±1 —
    # same signature bit-for-bit (ties included), fewer expressions in
    # the hot 63-column aggregate. Built as F.expr strings: the
    # Column-API form cost ~2.6 s of py4j round trips PER QUERY
    # CONSTRUCTION for the 63 bits (measured; the parsed expressions
    # resolve identically — see minhash_signatures).
    ones = [F.expr(f"sum(shiftright(_h, {b}) & 1) AS o{b}") for b in range(63)]
    agg = hashed.groupBy("doc").agg(*ones, F.count(F.lit(1)).alias("_n"))
    sig = " ^ ".join(
        f"shiftleft(IF(o{b} * 2 > _n, 1L, 0L), {b})" for b in range(63)
    )
    return agg.select("doc", F.expr(f"({sig}) AS simhash"))


def simhash_near_pairs(
    sigs: DataFrame, max_hamming: int = 6, bands: int | None = None
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance — pigeonhole multi-band
    blocking with FULL recall.

    The 63 signature bits split into ``bands`` contiguous bands (default
    ``max_hamming + 1``). Two signatures within ``max_hamming`` differing
    bits can touch at most ``max_hamming`` bands, so at least one band is
    bit-identical — the union of the per-band equi-joins therefore
    surfaces EVERY qualifying pair (recall 1.0 for hamming < bands; the
    exact ``bit_count(xor)`` filter then removes band-collision false
    positives). Versus a single bit-prefix block this trades b small
    selective joins for guaranteed recall and kills the (n/blocks)²
    residual all-pairs inside one block: each band value is ~63/b bits,
    so candidates stay near-linear at corpus scale, and the per-band
    joins are plain hash joins AQE can skew-split.

    Output: (doc_a, doc_b, hamming <= max_hamming).
    """
    # both join sides re-derive the signature aggregation otherwise;
    # one (doc, long) row per doc — materialize once
    b = bands if bands is not None else max_hamming + 1
    if b <= max_hamming:
        # pigeonhole needs more bands than differing bits, else a pair
        # can differ in every band and full recall silently breaks
        raise ValueError(
            f"bands={b} must exceed max_hamming={max_hamming} for the "
            "pigeonhole full-recall guarantee"
        )
    sigs = sigs.localCheckpoint(eager=True)
    base, rem = divmod(63, b)
    widths = [base + (1 if i < rem else 0) for i in range(b)]
    offs = [sum(widths[:i]) for i in range(b)]
    # one F.expr for the banded explode (py4j-chatter discipline)
    band_structs = ", ".join(
        f"struct({i} AS band, "
        f"shiftright(simhash, {offs[i]}) & {(1 << widths[i]) - 1} AS val)"
        for i in range(b)
    )
    banded = sigs.select(
        "doc", "simhash", F.expr(f"explode(array({band_structs})) AS bv")
    ).select("doc", "simhash", F.col("bv.band").alias("band"), F.col("bv.val").alias("val"))
    a = banded.select(
        F.col("doc").alias("doc_a"), F.col("simhash").alias("s_a"), "band", "val"
    )
    bb = banded.select(
        F.col("doc").alias("doc_b"), F.col("simhash").alias("s_b"), "band", "val"
    )
    return (
        a.join(bb, ["band", "val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "s_a", "s_b")
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("s_a").bitwiseXOR(F.col("s_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


# --------------------------------------------------------------------------
# Single-node oracles for the pytest parity checks
# --------------------------------------------------------------------------

def reference_shingles(text: str, n: int = SHINGLE_N) -> set[str]:
    toks = reference_tokens(text)
    if len(toks) < n:
        return set()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def reference_jaccard(a: str, b: str, n: int = SHINGLE_N) -> float:
    sa, sb = reference_shingles(a, n), reference_shingles(b, n)
    if not sa or not sb:
        return 0.0
    return len(sa & sb) / len(sa | sb)


def split_contamination(
    df: DataFrame,
    is_train: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = SHINGLE_N,
) -> DataFrame:
    """Train/eval decontamination check: for each EVAL doc, how many of
    its distinct word n-gram shingles also occur anywhere in the TRAIN
    split.

    Output: (doc_id, n_sh, n_contaminated, contamination) for eval docs
    with at least one shingle; contamination = n_contaminated / n_sh.

    Scale shape: one distinct-shingle explode, one distinct over the
    train shingle set, one left-semi-style join keyed on the shingle —
    all hash-partitioned on `sh`, AQE-skew-safe. At 100 TB put a bloom
    filter on the train shingle set first (`spark.sql.optimizer.
    runtime.bloomFilter.enabled` covers the shuffle-join case
    automatically) so the eval side prunes before the shuffle.
    """
    base = df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("_t"), is_train.alias("_tr"))
    toked = base.select("doc", "_tr", tokens(F.col("_t")).alias("_toks"))
    # shingles_from_tokens is array_distinct per doc, so (doc, sh) is
    # already unique — no distinct shuffle needed
    sh = toked.select(
        "doc", "_tr",
        F.explode(shingles_from_tokens(F.col("_toks"), n)).alias("sh"),
    ).filter(F.col("sh") != "")
    train_sh = sh.filter(F.col("_tr")).select("sh").distinct()
    eval_sh = sh.filter(~F.col("_tr"))
    hits = eval_sh.join(train_sh.withColumn("_hit", F.lit(1)), "sh", "left")
    return (
        hits.groupBy(F.col("doc").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_contaminated"),
        )
        .withColumn(
            "contamination",
            F.col("n_contaminated") / F.col("n_sh"),
        )
    )


def hash_split(
    id_col: Column,
    cuts: tuple[tuple[str, str], ...] = (("train", "cc"), ("val", "e6")),
    last: str = "test",
) -> Column:
    """Deterministic train/val/test assignment by content hash of the id.

    md5 hex is fixed-width lowercase, so lexicographic order IS numeric
    order: a cut at hex prefix 'cc' (204/256) puts ~79.7% below it,
    'e6' (230/256) the next ~10.2%, remainder ~9.8%. Assignment depends
    only on the id — stable under repartitioning, re-runs, corpus
    growth, and engine (any md5 implementation agrees), which is what a
    training-data pipeline needs so yesterday's val doc never leaks
    into tomorrow's train shard.
    """
    h = F.md5(id_col.cast("string").cast("binary"))
    expr = F.lit(last)
    for name, cut in reversed(cuts):
        expr = F.when(h < F.lit(cut), F.lit(name)).otherwise(expr)
    return expr
