"""Entity linking — mention detection + link scoring against a broadcast
alias dictionary.

Reference analog: the keyed lookup + canonical-key scoring pattern
(/root/reference/server/routes/sessions.py:284-414 canonical weather key;
/root/reference/core/src/physics.rs:446-507 keyword→value table) and the
argmin/argmax "best candidate" idiom (/root/reference/cli/analyze.py:226-238,
/root/reference/core/src/calibration.rs:146-150).

Spark-first design — NO per-row Python anywhere:
1. tokenize text with ``split`` (JVM),
2. generate candidate 1..K-token n-grams with ``transform(sequence(...))``
   + ``slice`` + ``concat_ws`` (pure SQL array ops, whole-stage codegen),
3. explode → **broadcast hash join** against the alias dictionary
   (dictionary ~10³-10⁶ rows → broadcast; at larger dictionary scale
   switch to a shuffled join on alias — the hot-alias skew lives on the
   PAGES side of that join, which AQE skew-split handles),
4. best link per (url, pos): longest alias wins, then highest prior,
   then lexicographically smallest entity_id (deterministic tie-break —
   the reference's newest-wins/sorted-glob discipline, SURVEY.md §2.6
   O3/O6).

Selection is ``min_by`` over an order-encoding struct — a single hash
aggregation with map-side partial combine. No row_number window, so no
per-(url,pos) sort and no skew hotspot when one page has many mentions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

MAX_NGRAM = 3

# Upper bound on the first-word prefilter set (link_mentions): above
# this the literal InSet would bloat the plan, so the prefilter is
# skipped and the broadcast join does all the filtering (the pre-round-6
# behavior). ~10⁴ short strings ≪ 1 MB of plan — safe to inline.
MAX_PREFILTER_WORDS = 10_000


def candidate_ngrams(
    df: DataFrame,
    text_col: str = "text",
    key_cols: tuple[str, ...] = ("url",),
    first_words: list[str] | None = None,
) -> DataFrame:
    """→ (key_cols..., pos, n, gram): all 1..MAX_NGRAM-token windows.

    Tokenization happens ONCE per row into a materialized array column —
    referencing ``split(text)`` inside the transform/filter lambdas
    re-evaluates the regex split per array ELEMENT, turning candidate
    generation O(tokens²) per page (measured at 50k pages: explode
    5.2 s → 3.1 s, full link stage 9.2 s → 5.2 s when hoisted).

    ``first_words`` (optional): positions whose token is NOT in this set
    are dropped BEFORE the gram structs are built. Lossless when the set
    contains every alias's first token — a gram can only match an alias
    if its first token does — so the join output is identical; it only
    avoids constructing the ~90% of gram strings that can never match
    (guide §2.3 "don't compute things you throw away"; measured at 50k
    pages: candidates+join 2.24 s → 0.90 s). The membership probe is one
    InSet hash lookup per position vs a concat_ws + join probe per gram.
    It is computed once per token, into a boolean array the three n-gram
    filters share, from ONE SQL expression: a Python ``isin`` makes one
    py4j literal per word per call (measured 0.4–0.9 s of plan
    construction per call for 756 words).
    """
    toked = df.select(
        *key_cols, F.split(F.trim(F.col(text_col)), r"\s+").alias("_toks")
    )
    toks = F.col("_toks")
    if first_words is not None:
        # IN () is a syntax error; IN (NULL) matches nothing
        words = ", ".join(_sql_string(w) for w in first_words) or "NULL"
        toked = toked.withColumn("_hit", F.expr(f"transform(_toks, t -> t IN ({words}))"))

    # NB: lambdas passed to F.filter/F.transform must take exactly ONE
    # parameter — a two-parameter lambda is interpreted as (element,
    # array-index) by the higher-order-function binding — so ``n`` is
    # captured via this factory, not a default argument.
    def _gram_array(n: int):
        # guard: sequence(0, negative) counts DOWN in Spark — clamp the
        # upper bound to 0 and filter out-of-range positions (the filter
        # runs BEFORE the transform, so short texts yield an empty typed
        # array and dead positions never build a gram string)
        positions = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))

        def keep(i):
            ok = i <= F.size(toks) - n
            if first_words is not None:
                ok = ok & F.try_element_at(F.col("_hit"), i + 1)
            return ok

        def build(i):
            return F.struct(
                i.alias("pos"),
                F.lit(n).alias("n"),
                F.concat_ws(" ", F.slice(toks, i + 1, n)).alias("gram"),
            )

        return F.transform(F.filter(positions, keep), build)

    grams = [_gram_array(n) for n in range(1, MAX_NGRAM + 1)]
    return toked.select(
        *key_cols, F.explode(F.flatten(F.array(*grams))).alias("g")
    ).select(*key_cols, "g.pos", "g.n", "g.gram")


def _sql_string(s: str) -> str:
    """``s`` as a Spark SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _alias_first_words(aliases: DataFrame) -> list[str] | None:
    """Distinct first tokens of the alias dictionary, for the candidate
    prefilter — or None when the set exceeds MAX_PREFILTER_WORDS (the
    plan-size guard). The collect is bounded by the same reasoning that
    lets the dictionary broadcast at all: it is a dimension table; the
    first-word projection is strictly smaller than the broadcast.
    """
    rows = (
        aliases.select(
            F.split(F.trim(F.col("alias")), r"\s+").getItem(0).alias("w")
        )
        .distinct()
        .limit(MAX_PREFILTER_WORDS + 1)
        .collect()
    )
    if len(rows) > MAX_PREFILTER_WORDS:
        return None
    return [r.w for r in rows if r.w is not None]


def link_mentions(
    pages: DataFrame,
    aliases: DataFrame,
    text_col: str = "text",
    key_cols: tuple[str, ...] = ("url",),
    context_weight: float = 0.1,
) -> DataFrame:
    """pages × alias(alias, entity_id, prior) → best link per mention.

    Output: (key_cols..., pos, alias, entity_id, score).

    score = prior × (1 + context_weight·ln(1 + support)) where support =
    number of OTHER candidate positions in the same document that also
    propose this entity (coherence feature: an ambiguous alias resolves
    toward the entity the rest of the document talks about — the
    "prior × context features as columns" design from SURVEY.md M4).
    Computed relationally: one groupBy (doc, entity) for support counts,
    joined back — no second text pass.

    Selection: ``min_by`` over struct(-n, -score, entity_id) — struct
    comparison is lexicographic, so the minimum is exactly (longest n,
    highest score, smallest entity_id) — deterministic at any
    parallelism.
    """
    cands = candidate_ngrams(
        pages, text_col, key_cols, first_words=_alias_first_words(aliases)
    )
    joined = cands.join(
        F.broadcast(aliases), cands["gram"] == aliases["alias"], "inner"
    )
    # ONE exchange serves both the support window and the final
    # aggregation: HashPartitioning(key_cols) satisfies the window's
    # clustering on (key_cols, entity_id) AND the aggregate's on
    # (key_cols, pos), so the explicit repartition here replaces the two
    # separate shuffles the planner would otherwise insert (guide §2.4
    # "two operations keyed the same way can share one exchange";
    # plan-audited: 2 Exchange → 1). The projection drops ``gram``
    # (equal to ``alias`` after the join) before rows cross the wire
    # (guide §2.3 project-before-the-exchange).
    matched = joined.select(
        *key_cols, "pos", "n", "alias", "entity_id", "prior"
    ).repartition(*key_cols)
    # context support: per (doc, entity), number of candidate positions —
    # a whole-partition window instead of a groupBy+self-join, so the
    # n-gram explode + broadcast join runs ONCE (a join back would
    # recompute the candidate scan as the other join input)
    w_support = Window.partitionBy(*key_cols, "entity_id")
    support_pos = F.size(F.collect_set("pos").over(w_support))
    score = F.col("prior") * (
        1.0 + context_weight * F.log(1.0 + (support_pos - 1).cast("double"))
    )
    # window result must be projected before the aggregate can use it
    scored = matched.withColumn("_score", score)
    order_key = F.struct(
        (-F.col("n")).alias("neg_n"),
        (-F.col("_score")).alias("neg_score"),
        F.col("entity_id").alias("entity_id"),
    )
    payload = F.struct(
        F.col("alias").alias("alias"),
        F.col("entity_id").alias("entity_id"),
        F.col("_score").alias("score"),
    )
    w_keys = [*key_cols, "pos"]
    return (
        scored.groupBy(*w_keys)
        .agg(F.min_by(payload, order_key).alias("best"))
        .select(*w_keys, "best.alias", "best.entity_id", F.round("best.score", 6).alias("score"))
    )


# --------------------------------------------------------------------------
# Single-node oracle for the parity test
# --------------------------------------------------------------------------

def reference_link(
    text: str,
    alias_rows: list[tuple[str, str, float]],
    context_weight: float = 0.1,
) -> list[tuple[int, str, str, float]]:
    """Pure-Python twin of link_mentions over one document.

    Returns [(pos, alias, entity_id, score)] — best link per position,
    score = prior × (1 + w·ln(1 + (support − 1))) with support = distinct
    candidate positions proposing that entity in this document.
    """
    import math

    by_alias: dict[str, list[tuple[str, float]]] = {}
    for a, e, p in alias_rows:
        by_alias.setdefault(a, []).append((e, p))
    toks = text.strip().split()

    # pass 1: all candidates per position + per-entity support
    per_pos: dict[int, list[tuple[int, float, str, str]]] = {}
    support: dict[str, set[int]] = {}
    for pos in range(len(toks)):
        for n in range(1, MAX_NGRAM + 1):
            if pos + n > len(toks):
                break
            gram = " ".join(toks[pos : pos + n])
            for eid, prior in by_alias.get(gram, []):
                per_pos.setdefault(pos, []).append((n, prior, eid, gram))
                support.setdefault(eid, set()).add(pos)

    out: list[tuple[int, str, str, float]] = []
    for pos in sorted(per_pos):
        scored = [
            (
                n,
                prior * (1.0 + context_weight * math.log(1.0 + (len(support[eid]) - 1))),
                eid,
                gram,
            )
            for n, prior, eid, gram in per_pos[pos]
        ]
        n, score, eid, gram = min(scored, key=lambda c: (-c[0], -c[1], c[2]))
        out.append((pos, gram, eid, round(score, 6)))
    return out
