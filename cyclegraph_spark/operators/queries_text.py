"""Text-analysis / dedup / similarity queries over ``documents`` and
``embeddings`` — the training-data-pipeline operator family, each with a
DuckDB oracle where SQL-expressible (MinHash/SimHash/LSH are registered
as rows-only checks; their exactness parity lives in tests/test_dedup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cyclegraph_spark.operators.queries import query
from cyclegraph_spark.tables import load


# --------------------------------------------------------------------------
# token counting + quality features (JVM-only column math)
# --------------------------------------------------------------------------
@query(
    "t_token_stats",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           ROUND(AVG(len(string_split_regex(trim(text), '\\s+'))), 4) AS avg_tokens,
           ROUND(AVG(length(text)::DOUBLE
                 / GREATEST(len(string_split_regex(trim(text), '\\s+')), 1)), 4)
             AS avg_token_len
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def t_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace tokenizer) aggregated per language."""
    from cyclegraph_spark.operators.textstats import token_count

    d = load(spark, sf_dir, "documents")
    n_tok = token_count(F.col("text"))
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg(n_tok), 4).alias("avg_tokens"),
            F.round(
                F.avg(
                    F.length("text").cast("double") / F.greatest(n_tok, F.lit(1))
                ),
                4,
            ).alias("avg_token_len"),
        )
        .orderBy("lang")
    )


@query(
    "t_quality_features",
    oracle="""
    SELECT doc_id,
           length(text) AS n_chars,
           len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
           len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct,
           len(regexp_extract_all(text, '(?i)\\b(the|and|of|to|is)\\b')) AS n_stopwords
    FROM documents WHERE doc_id % 7 = 0 ORDER BY doc_id
    """,
)
def t_quality_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-feature extraction (length/punct/stopword counts)."""
    from cyclegraph_spark.operators.textstats import token_count

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 7 == 0)
    # long casts: DuckDB len()/length() yield BIGINT while Spark's
    # length/size/regexp_count yield INT — align representations so the
    # driver's typed-value hash can never see a width mismatch (the
    # preflight type-parity audit flags this class).
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        token_count(F.col("text")).cast("long").alias("n_tokens"),
        F.regexp_count("text", F.lit(r"[.,;:!?]")).cast("long").alias("n_punct"),
        F.regexp_count("text", F.lit(r"(?i)\b(the|and|of|to|is)\b"))
        .cast("long")
        .alias("n_stopwords"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# exact dedup by content digest
# --------------------------------------------------------------------------
@query(
    "dedup_exact_md5",
    oracle="""
    WITH fp AS (
      SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
             doc_id
      FROM documents
    )
    SELECT fingerprint, MIN(doc_id) AS keeper_id, COUNT(*) - 1 AS n_dupes
    FROM fp GROUP BY fingerprint
    HAVING COUNT(*) > 0
    ORDER BY keeper_id
    """,
)
def dedup_exact_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5 of normalized text, survivor = min doc_id."""
    from cyclegraph_spark.operators.dedup import exact_dedup

    d = load(spark, sf_dir, "documents")
    return exact_dedup(d).orderBy("keeper_id")


# exact capped trigram-Jaccard pairs in SQL (shared by the pairs gate and
# the cluster gate)
_JACCARD_PAIRS_SQL = """
    WITH sh AS (
      SELECT doc_id AS doc, UNNEST(list_distinct(sh_list)) AS sh FROM (
        SELECT doc_id,
               CASE WHEN len(string_split_regex(trim(text), '\\s+')) >= 3 THEN
                 list_transform(
                   range(1, len(string_split_regex(trim(text), '\\s+')) - 1),
                   i -> concat_ws(' ',
                        string_split_regex(trim(text), '\\s+')[i],
                        string_split_regex(trim(text), '\\s+')[i+1],
                        string_split_regex(trim(text), '\\s+')[i+2]))
               ELSE [] END AS sh_list
        FROM documents
      )
    ), rare AS (
      -- document-frequency cap (mirror of max_doc_freq=16): shingles in
      -- more than 16 docs are boilerplate and are dropped BEFORE the
      -- self-join — the candidate-explosion guard at scale
      SELECT sh FROM (SELECT sh, COUNT(DISTINCT doc) AS df FROM sh GROUP BY sh)
      WHERE df <= 16
    ), shf AS (
      SELECT doc, sh FROM sh JOIN rare USING (sh)
    ), sizes AS (
      SELECT doc, COUNT(DISTINCT sh) AS n_sh FROM shf GROUP BY doc
    ), inter AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS n_inter
      FROM shf a JOIN shf b USING (sh)
      WHERE a.doc < b.doc
      GROUP BY a.doc, b.doc
    )
    SELECT doc_a, doc_b,
           ROUND(n_inter / (sa.n_sh + sb.n_sh - n_inter), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc = doc_a
    JOIN sizes sb ON sb.doc = doc_b
    WHERE n_inter / (sa.n_sh + sb.n_sh - n_inter) >= 0.12
"""


# --------------------------------------------------------------------------
# exact n-gram Jaccard near-dup pairs
# --------------------------------------------------------------------------
@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    SELECT * FROM ({_JACCARD_PAIRS_SQL}) ORDER BY doc_a, doc_b
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-trigram Jaccard pairs (threshold tuned so the word-
    salad corpus yields a non-empty answer — a 0-row parity is no
    evidence). Gated with the SCALE-SAFE configuration: max_doc_freq=16
    drops boilerplate shingles before the self-join (the cap is mirrored
    in the oracle SQL, so parity covers the guarded plan)."""
    from cyclegraph_spark.operators.dedup import ngram_jaccard_pairs

    d = load(spark, sf_dir, "documents")
    return (
        ngram_jaccard_pairs(d, threshold=0.12, max_doc_freq=16)
        .withColumn("jaccard", F.round("jaccard", 4))
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------------------
# URL canonicalization (page-node identity for the KG)
# --------------------------------------------------------------------------
@query(
    "t_url_canonical",
    oracle=r"""
    WITH seeded AS (
      SELECT doc_id,
             concat('HTTP', CASE WHEN doc_id % 2 = 0 THEN 'S' ELSE '' END,
                    '://Site', (doc_id % 7)::VARCHAR, '.Example.COM',
                    CASE WHEN doc_id % 3 = 0
                         THEN CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END
                         ELSE '' END,
                    CASE WHEN doc_id % 5 = 0 THEN ''
                         ELSE concat('/Path/', (doc_id % 11)::VARCHAR) END,
                    '?utm_source=feed&b=', (doc_id % 4)::VARCHAR,
                    '&a=1&&utm_campaign=x',
                    '#frag', doc_id::VARCHAR) AS url
      FROM documents WHERE doc_id % 4 = 0
    ), parts AS (
      SELECT doc_id, url,
             lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
             lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS auth0,
             regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path0,
             regexp_extract(url, '\?([^#]*)', 1) AS q
      FROM seeded
    ), norm AS (
      SELECT doc_id, scheme,
             CASE WHEN scheme = 'http' AND auth0 LIKE '%:80'
                    THEN regexp_replace(auth0, ':80$', '')
                  WHEN scheme = 'https' AND auth0 LIKE '%:443'
                    THEN regexp_replace(auth0, ':443$', '')
                  ELSE auth0 END AS auth,
             CASE WHEN path0 = '' THEN '/' ELSE path0 END AS path,
             list_sort(list_filter(string_split(q, '&'),
                       p -> p != '' AND NOT starts_with(p, 'utm_'))) AS params
      FROM parts
    )
    SELECT doc_id,
           concat(scheme, '://', auth, path,
                  CASE WHEN len(params) > 0
                       THEN concat('?', array_to_string(params, '&'))
                       ELSE '' END) AS canonical
    FROM norm ORDER BY doc_id
    """,
)
def t_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization over deterministically seeded messy URLs
    (mixed case, default ports, utm params, out-of-order query, empty
    paths, fragments): canonical form = page-node identity for the KG.
    Pure Column regex/array ops; the oracle reimplements the identical
    rules in DuckDB."""
    from cyclegraph_spark.functions.urls import canonical_url

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 4 == 0)
    seeded = d.select(
        "doc_id",
        F.concat(
            F.lit("HTTP"),
            F.when(F.col("doc_id") % 2 == 0, F.lit("S")).otherwise(F.lit("")),
            F.lit("://Site"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".Example.COM"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.when(F.col("doc_id") % 2 == 0, F.lit(":443")).otherwise(F.lit(":80")),
            ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 5 == 0, F.lit("")).otherwise(
                F.concat(F.lit("/Path/"), (F.col("doc_id") % 11).cast("string"))
            ),
            F.lit("?utm_source=feed&b="), (F.col("doc_id") % 4).cast("string"),
            F.lit("&a=1&&utm_campaign=x"),
            F.lit("#frag"), F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    return seeded.select(
        "doc_id", canonical_url(F.col("url")).alias("canonical")
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# PII scrubbing (email / IPv4 / phone redaction + typed counts)
# --------------------------------------------------------------------------
@query(
    "t_pii_redaction",
    oracle=r"""
    WITH seeded AS (
      -- the corpus has no real PII; plant deterministic PII per doc so
      -- the redaction is exercised non-vacuously and stays reproducible
      SELECT doc_id,
             concat(text, ' contact user', doc_id::VARCHAR,
                    '@mail.example.com or 10.2.', (doc_id % 256)::VARCHAR,
                    '.9 tel +1-555-010-', (doc_id % 97)::VARCHAR) AS text
      FROM documents WHERE doc_id % 5 = 0
    ), step1 AS (
      SELECT doc_id,
             len(regexp_extract_all(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT
               AS n_email,
             regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                 '[EMAIL]', 'g') AS t1
      FROM seeded
    ), step2 AS (
      SELECT doc_id, n_email,
             len(regexp_extract_all(t1,
                 '\b(\d{1,3}\.){3}\d{1,3}\b'))::BIGINT AS n_ipv4,
             regexp_replace(t1, '\b(\d{1,3}\.){3}\d{1,3}\b',
                            '[IP]', 'g') AS t2
      FROM step1
    ), step3 AS (
      SELECT doc_id, n_email, n_ipv4,
             len(regexp_extract_all(t2,
                 '\+?\d[\d().\-\s]{6,}\d'))::BIGINT AS n_phone,
             regexp_replace(t2, '\+?\d[\d().\-\s]{6,}\d',
                            '[PHONE]', 'g') AS redacted
      FROM step2
    )
    SELECT doc_id, n_email, n_ipv4, n_phone, md5(redacted) AS redacted_md5
    FROM step3 ORDER BY doc_id
    """,
)
def t_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over documents with deterministic planted PII (the
    word-salad corpus has none): typed counts + md5 of the fully
    redacted text, verified against DuckDB running the identical
    RE2/Java-compatible patterns."""
    from cyclegraph_spark.operators.textstats import pii_counts, redact_pii

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    seeded = d.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@mail.example.com or 10.2."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".9 tel +1-555-010-"), (F.col("doc_id") % 97).cast("string"),
        ).alias("text"),
    )
    counts = pii_counts(F.col("text"))
    return seeded.select(
        "doc_id",
        counts["n_email"].cast("long").alias("n_email"),
        counts["n_ipv4"].cast("long").alias("n_ipv4"),
        counts["n_phone"].cast("long").alias("n_phone"),
        F.md5(redact_pii(F.col("text"))).alias("redacted_md5"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# deterministic hash-based split assignment
# --------------------------------------------------------------------------
@query(
    "t_split_assign",
    oracle="""
    WITH h AS (
      SELECT doc_id, md5(doc_id::VARCHAR) AS hex FROM documents
    ), assigned AS (
      SELECT doc_id,
             CASE WHEN hex < 'cc' THEN 'train'
                  WHEN hex < 'e6' THEN 'val'
                  ELSE 'test' END AS split
      FROM h
    )
    SELECT split, COUNT(*)::BIGINT AS n, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
    FROM assigned GROUP BY split ORDER BY split
    """,
)
def t_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~80/10/10 split by md5(doc_id) hex range —
    engine-independent (any md5 agrees), stable under repartitioning
    and corpus growth. Gated on the per-split counts + id extrema."""
    from cyclegraph_spark.operators.dedup import hash_split

    d = load(spark, sf_dir, "documents")
    return (
        d.select("doc_id", hash_split(F.col("doc_id")).alias("split"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .orderBy("split")
    )


# --------------------------------------------------------------------------
# train/eval split decontamination (shingle overlap across splits)
# --------------------------------------------------------------------------
@query(
    "t_split_contamination",
    oracle="""
    WITH sh0 AS (
      SELECT doc_id AS doc, UNNEST(list_distinct(sh_list)) AS sh FROM (
        SELECT doc_id,
               CASE WHEN len(string_split_regex(trim(text), '\\s+')) >= 3 THEN
                 list_transform(
                   range(1, len(string_split_regex(trim(text), '\\s+')) - 1),
                   i -> concat_ws(' ',
                        string_split_regex(trim(text), '\\s+')[i],
                        string_split_regex(trim(text), '\\s+')[i+1],
                        string_split_regex(trim(text), '\\s+')[i+2]))
               ELSE [] END AS sh_list
        FROM documents
      )
    ), split AS (
      SELECT doc, sh, (doc % 10) < 8 AS tr FROM sh0 WHERE sh != ''
    ), train_sh AS (
      SELECT DISTINCT sh FROM split WHERE tr
    ), ev AS (
      SELECT doc, sh FROM split WHERE NOT tr
    )
    SELECT doc AS doc_id, COUNT(*)::BIGINT AS n_sh,
           SUM(CASE WHEN t.sh IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
             AS n_contaminated,
           ROUND(SUM(CASE WHEN t.sh IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
                 / COUNT(*), 6) AS contamination
    FROM ev LEFT JOIN train_sh t USING (sh)
    GROUP BY doc ORDER BY doc_id
    """,
)
def t_split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination audit: trigram-shingle overlap of each eval doc
    (doc_id %% 10 >= 8) against the train split's shingle set — the
    standard benchmark-leakage check a training-data pipeline runs
    before every release."""
    from cyclegraph_spark.operators.dedup import split_contamination

    d = load(spark, sf_dir, "documents")
    return (
        split_contamination(d, is_train=(F.col("doc_id") % 10) < 8)
        .withColumn("contamination", F.round("contamination", 6))
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# near-dup clustering: pairs → connected components → canonical survivor
# --------------------------------------------------------------------------
@query(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_JACCARD_PAIRS_SQL}),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION
      SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    -- transitive closure by label spreading: every node starts as its
    -- own origin; each step carries origins one hop; UNION dedups, so
    -- the recursion terminates at the reachability fixpoint
    walk AS (
      SELECT u AS id, u AS origin FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT e.v AS id, w.origin FROM walk w JOIN edges e ON e.u = w.id
    )
    SELECT id AS doc_id, MIN(origin) AS canonical_id
    FROM walk GROUP BY id ORDER BY doc_id
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering over documents (threshold 0.12, capped at
    df<=16): transitive closure of the Jaccard pair graph via the
    star-contraction CC operator, canonical survivor = min doc id. The
    oracle recomputes the closure with a recursive CTE — a fully
    computed SQL oracle for an iterative operator."""
    from cyclegraph_spark.operators.dedup import dedup_clusters as _dc

    d = load(spark, sf_dir, "documents")
    return _dc(d, threshold=0.12, max_doc_freq=16).orderBy("doc_id")


# --------------------------------------------------------------------------
# brute-force cosine top-k (correctness baseline for ANN)
# --------------------------------------------------------------------------
_QUERY_VEC_SQL = """
    SELECT embedding::DOUBLE[] AS q FROM embeddings WHERE vec_id = 0
"""


@query(
    "ann_cosine_topk",
    oracle=f"""
    WITH q AS ({_QUERY_VEC_SQL})
    SELECT e.vec_id,
           ROUND(
             list_dot_product(e.embedding::DOUBLE[], q.q)
             / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                * sqrt(list_dot_product(q.q, q.q))), 4) AS cos_sim
    FROM embeddings e CROSS JOIN q
    WHERE e.vec_id != 0
    ORDER BY list_dot_product(e.embedding::DOUBLE[], q.q)
             / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                * sqrt(list_dot_product(q.q, q.q))) DESC, e.vec_id ASC
    LIMIT 10
    """,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-10 for the vec_id=0 query vector.
    zip_with/aggregate dot product in DOUBLE — JVM-side, no UDF."""
    from cyclegraph_spark.operators.similarity import cosine_topk

    e = load(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    out = cosine_topk(e.filter(F.col("vec_id") != 0), qvec, k=10)
    return out.withColumn("cos_sim", F.round("cos_sim", 4))


@query(
    "ann_ivf_topk",
    oracle=f"""
    WITH q AS ({_QUERY_VEC_SQL})
    SELECT e.vec_id,
           ROUND(
             list_dot_product(e.embedding::DOUBLE[], q.q)
             / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                * sqrt(list_dot_product(q.q, q.q))), 4) AS cos_sim
    FROM embeddings e CROSS JOIN q
    WHERE e.vec_id != 0
    ORDER BY list_dot_product(e.embedding::DOUBLE[], q.q)
             / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                * sqrt(list_dot_product(q.q, q.q))) DESC, e.vec_id ASC
    LIMIT 10
    """,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN gated in its exact mode: every cell probed, so the answer
    equals brute-force top-10 REGARDLESS of the k-means clustering —
    this gate checks the index plumbing (each vector assigned to exactly
    one cell, probe filter + re-rank lossless). The approximate mode
    (nprobe < n_cells) is recall-tested in tests/test_similarity_ivf.py;
    at scale the assigned table is written partitionBy(cell) so a probe
    is partition pruning, not a scan."""
    from cyclegraph_spark.operators.similarity import ivf_index, ivf_topk

    e = load(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    n_cells = 8
    assigned, centroids = ivf_index(e.filter(F.col("vec_id") != 0), n_cells=n_cells)
    out = ivf_topk(assigned, centroids, qvec, k=10, nprobe=n_cells)
    return out.withColumn("cos_sim", F.round("cos_sim", 4))


# --------------------------------------------------------------------------
# embedding-cosine near-dup pairs (exact baseline, SQL oracle)
# --------------------------------------------------------------------------
@query(
    "dedup_embedding_cosine",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v))
                    * sqrt(list_dot_product(b.v, b.v))), 4) AS cos_sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v))
             * sqrt(list_dot_product(b.v, b.v))) >= 0.4
    ORDER BY id_a, id_b
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (exact all-pairs baseline;
    LSH-bucketed variant = embedding_near_dups(n_planes>0), recall-tested
    in tests/test_dedup.py)."""
    from cyclegraph_spark.operators.similarity import embedding_near_dups

    e = load(spark, sf_dir, "embeddings")
    return (
        embedding_near_dups(e, threshold=0.4)
        .withColumn("cos_sim", F.round("cos_sim", 4))
        .orderBy("id_a", "id_b")
    )


# --------------------------------------------------------------------------
# BPE-ish token counting (regex segmentation; RE2- and Java-compatible)
# --------------------------------------------------------------------------
_BPE_PATTERN = r"'(?:s|d|m|t|ll|ve|re)| ?[A-Za-zÀ-ÿ]+| ?[0-9]+| ?[^\sA-Za-zÀ-ÿ0-9]+"
_BPE_SPARK = _BPE_PATTERN.replace(r"\s", r" \t\n\f\r")  # RE2's \s; Java's holds U+000B


@query(
    "t_token_count_bpe",
    extended=True,
    oracle=f"""
    SELECT doc_id,
           len(string_split_regex(trim(text), '\\s+')) AS n_ws_tokens,
           len(regexp_extract_all(text, '{_BPE_PATTERN.replace("'", "''")}')) AS n_bpe_tokens
    FROM documents WHERE doc_id % 11 = 0 ORDER BY doc_id
    """,
)
def t_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace + a BPE-ish regex segmenter
    (GPT2-style contraction/letter/digit/punct classes, lookahead-free so
    RE2 and Java agree)."""
    from cyclegraph_spark.operators.textstats import token_count

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 11 == 0)
    # long casts: align with DuckDB len() BIGINT (see t_quality_features).
    return d.select(
        "doc_id",
        token_count(F.col("text")).cast("long").alias("n_ws_tokens"),
        F.regexp_count("text", F.lit(_BPE_SPARK)).cast("long").alias("n_bpe_tokens"),
    )


# --------------------------------------------------------------------------
# hash-sketch dedup under generated VALUES oracles: xxhash64 permutations
# are not ANSI-SQL-computable, so the oracle is a literal table produced
# by the pure-Python XXH64 twin (tools/gen_value_oracles.py) over the
# deterministic sf0.01 corpus the driver gates at.
# --------------------------------------------------------------------------
from cyclegraph_spark.operators.oracles_values import VALUES_ORACLES


@query("dedup_minhash_lsh", oracle=VALUES_ORACLES["dedup_minhash_lsh"])
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64) + 16×4 LSH banding candidate pairs with estimated
    Jaccard ≥ 0.1 (est threshold tuned to the word-salad corpus)."""
    from cyclegraph_spark.operators.dedup import minhash_lsh_pairs, minhash_signatures

    d = load(spark, sf_dir, "documents")
    sigs = minhash_signatures(d, k=64)
    return minhash_lsh_pairs(sigs, bands=16, rows=4, est_threshold=0.1).orderBy(
        "doc_a", "doc_b"
    )


@query("dedup_simhash", oracle=VALUES_ORACLES["dedup_simhash"])
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming ≤ 6 of 63 bits) on the 7-band
    pigeonhole blocking plan — full recall by construction, so the
    brute-force twin's VALUES table gates the banding itself."""
    from cyclegraph_spark.operators.dedup import simhash, simhash_near_pairs

    d = load(spark, sf_dir, "documents")
    return simhash_near_pairs(simhash(d), max_hamming=6).orderBy("doc_a", "doc_b")


def _bucket_sql(vec_expr: str, n_planes: int, seed: int = 42) -> str:
    """DuckDB twin of similarity.lsh_signature: the hyperplanes are
    deterministic (seeded Gaussian, driver-side), so the sign-bit bucket
    is SQL-expressible by inlining the plane literals."""
    from cyclegraph_spark.operators.similarity import hyperplanes

    planes = hyperplanes(64, n_planes, seed)  # embeddings are dim-64
    terms = [
        f"CASE WHEN list_dot_product({vec_expr}, "
        f"[{', '.join(repr(x) for x in p)}]::DOUBLE[]) > 0 "
        f"THEN {1 << i} ELSE 0 END"
        for i, p in enumerate(planes)
    ]
    return "(" + " + ".join(terms) + ")::BIGINT"


@query(
    "ann_lsh_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT v AS qv, {_bucket_sql('v', 8)} AS qsig FROM e WHERE vec_id = 0),
    cand AS (
      SELECT e.vec_id, e.v, q.qv
      FROM e CROSS JOIN q
      WHERE e.vec_id != 0
        AND bit_count(xor({_bucket_sql('e.v', 8)}, q.qsig)) <= 4
    )
    SELECT vec_id,
           ROUND(list_dot_product(v, qv)
                 / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))),
                 4) AS cos_sim
    FROM cand
    ORDER BY list_dot_product(v, qv)
             / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) DESC,
             vec_id ASC
    LIMIT 10
    """,
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH-restricted cosine top-10 (the ANN scale path).
    The oracle inlines the seeded plane literals, so the full multiprobe
    bucket filter + exact re-rank is under the DuckDB gate."""
    from cyclegraph_spark.operators.similarity import lsh_topk

    e = load(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    out = lsh_topk(e.filter(F.col("vec_id") != 0), qvec, k=10, n_planes=8, probe_hamming=4)
    return out.withColumn("cos_sim", F.round("cos_sim", 4))


@query(
    "dedup_embedding_lsh",
    oracle=f"""
    -- the LSH-BUCKETED near-dup path (scale-safe configuration): pairs
    -- must share the full sign-bit bucket, slashing the self-join from
    -- all-pairs to per-bucket. Plane literals inlined (seed 42).
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             {_bucket_sql('embedding::DOUBLE[]', 4)} AS bucket
      FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v))
                    * sqrt(list_dot_product(b.v, b.v))), 4) AS cos_sim
    FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v))
             * sqrt(list_dot_product(b.v, b.v))) >= 0.4
    ORDER BY id_a, id_b
    """,
)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs on the LSH-BUCKETED plan (n_planes=4) —
    the configuration that survives 100 TB (candidates shrink ~2^planes;
    the bucket join is a plain hash join AQE can skew-split). The exact
    all-pairs baseline stays gated as dedup_embedding_cosine; recall of
    this path vs that baseline is asserted in tests/test_dedup.py."""
    from cyclegraph_spark.operators.similarity import embedding_near_dups

    e = load(spark, sf_dir, "embeddings")
    return (
        embedding_near_dups(e, threshold=0.4, n_planes=4)
        .withColumn("cos_sim", F.round("cos_sim", 4))
        .orderBy("id_a", "id_b")
    )


def _lang_id_oracle_sql() -> str:
    """Generate the DuckDB twin of textstats.lang_id from the SAME marker
    table (argmax over marker-hit counts; alphabetical-first tie-break;
    'und' when all scores are zero)."""
    from cyclegraph_spark.operators.textstats import LANG_MARKERS

    scores = ",\n             ".join(
        f"len(regexp_extract_all(text, '(?i)\\b({'|'.join(words)})\\b')) AS s_{lang}"
        for lang, words in sorted(LANG_MARKERS.items())
    )
    langs = sorted(LANG_MARKERS)
    g = "GREATEST(" + ", ".join(f"s_{la}" for la in langs) + ")"
    case = "CASE WHEN " + g + " = 0 THEN 'und' " + " ".join(
        f"WHEN s_{la} = {g} THEN '{la}'" for la in langs
    ) + " END"
    return f"""
    WITH scored AS (
      SELECT lang,
             {scores}
      FROM documents
    )
    SELECT lang, {case} AS lang_pred, COUNT(*) AS n
    FROM scored GROUP BY lang, lang_pred ORDER BY lang, lang_pred
    """


@query("t_lang_id", oracle=_lang_id_oracle_sql())
def t_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-stopword language-ID heuristic, confusion counts vs the
    corpus lang label; oracle generated from the same marker table."""
    from cyclegraph_spark.operators.textstats import lang_id

    d = load(spark, sf_dir, "documents")
    return (
        d.select("lang", lang_id(F.col("text")).alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "lang_pred")
    )
