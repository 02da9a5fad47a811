"""Extension-operator registry entries: text analysis, document dedup,
similarity search (SURVEY §2.13 / BASELINE.json north-star ops).

Oracle SQL is generated from the SAME constants as the Spark expressions
(functions/text.py) so both engines always evaluate the same formula; float
outputs follow the bit-determinism rules documented in registry.py.

LSH-based queries keep exact oracles where the miss probability is
negligible by construction (minhash at j≥0.8 with r=2,b=32: ~5e-15 per
pair); genuinely hash-dependent outputs (simhash, hyperplane-LSH top-k) are
registered without oracles → the driver records rows-only checks, and
tests/test_dedup.py pins their semantics against brute-force ground truth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import (
    BPE_ISH_PATTERN,
    EN_STOPWORDS,
    LANG_MARKERS,
    bpe_ish_token_count,
    char_count,
    fingerprint,
    gopher_rules,
    lang_id,
    punct_count,
    quality_score,
    token_count,
    tokens,
)
from ..operators.dedup import (
    exact_dedup_by_fingerprint,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_neardup_pairs,
)
from ..operators.similarity import (
    brute_force_topk,
    hyperplane_lsh_topk,
    sign_lsh_neardup_pairs,
)
from .registry import _fresh_copy_of, _t, query

# --- shared DuckDB SQL fragments (generated from the same constants) -------

_NORM = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
_TOKS = f"string_split({_NORM}, ' ')"


def _sql_list(words: list[str]) -> str:
    return "[" + ", ".join("'" + w.replace("'", "''") + "'" for w in words) + "]"


def _sql_count_in(words: list[str]) -> str:
    return f"len(list_filter({_TOKS}, t -> list_contains({_sql_list(words)}, t)))"


def _lang_case() -> str:
    scores = {lang: f"s_{lang}" for lang in LANG_MARKERS}
    mx = "greatest(" + ", ".join(scores.values()) + ")"
    whens = "".join(
        f" WHEN {scores[lang]} = {mx} THEN '{lang}'" for lang in sorted(LANG_MARKERS)
    )
    return f"CASE WHEN {mx} = 0 THEN 'und'{whens} END"


def _shingles_sql(n: int) -> str:
    """DuckDB twin of functions.text.token_shingles(n): distinct n-gram
    token shingles (generated from the same n so both engines shingle
    identically)."""
    return (
        f"list_distinct(list_transform("
        f"range(1, greatest(len({_TOKS}) - {n - 1}, 0) + 1), "
        f"i -> array_to_string(list_slice({_TOKS}, i, i + {n - 1}), ' ')))"
    )


_SHINGLES = _shingles_sql(3)

_DOT = "list_sum(list_transform(list_zip(cv, qv), x -> x[1]*x[2]))"
_NORM_CV = "sqrt(list_sum(list_transform(cv, x -> x*x)))"
_NORM_QV = "sqrt(list_sum(list_transform(qv, x -> x*x)))"


# --- text analysis ---------------------------------------------------------


@query(
    "text_stats",
    oracle=f"""
    SELECT doc_id,
           len({_TOKS}) AS n_tokens,
           len(regexp_extract_all({_NORM}, '{BPE_ISH_PATTERN}')) AS n_bpe_tokens,
           length(text) AS n_chars,
           length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS n_punct,
           md5({_NORM}) AS fingerprint
    FROM documents
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text statistics per document: whitespace token count, BPE-ish lexer
    token count, char/punctuation counts, content fingerprint — the cheap
    single-scan profile pass of a training-data pipeline (all codegen'd
    expressions, no Python)."""
    (docs,) = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        token_count(t).alias("n_tokens"),
        bpe_ish_token_count(t).alias("n_bpe_tokens"),
        char_count(t).alias("n_chars"),
        punct_count(t).alias("n_punct"),
        fingerprint(t).alias("fingerprint"),
    )


@query(
    "lang_id",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, lang,
             {", ".join(f"{_sql_count_in(m)} AS s_{lang}" for lang, m in LANG_MARKERS.items())}
      FROM documents
    )
    SELECT doc_id, lang, {_lang_case()} AS lang_guess FROM s
    """,
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID (stopword-marker argmax, alphabetical tie-break,
    'und' when no markers hit) next to the declared label."""
    (docs,) = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang", lang_id(F.col("text")).alias("lang_guess"))


@query(
    "quality_score",
    oracle=f"""
    WITH c AS (
      SELECT doc_id,
             CAST(len({_TOKS}) AS DOUBLE) AS n_tok,
             CAST(length(text) AS DOUBLE) AS n_char,
             CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE) AS n_punct,
             CAST({_sql_count_in(EN_STOPWORDS)} AS DOUBLE) AS n_stop,
             CAST(length(regexp_replace({_NORM}, ' ', '', 'g')) AS DOUBLE) AS n_nonspace
      FROM documents
    )
    SELECT doc_id,
           CAST(n_tok AS BIGINT) AS n_tokens,
           0.3 * least(n_tok / 100.0, 1.0)
             + 0.3 * (1.0 - n_punct / greatest(n_char, 1.0))
             + 0.2 * least(n_stop / greatest(n_tok, 1.0) * 5.0, 1.0)
             + 0.2 * least(n_nonspace / greatest(n_tok, 1.0) / 8.0, 1.0)
             AS quality
    FROM c
    """,
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite document quality score (length/punctuation/stopword/word-
    shape signals) — the standard cheap pre-filter before expensive pipeline
    stages; identical scalar IEEE expression tree in both engines."""
    (docs,) = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        token_count(t).alias("n_tokens"),
        quality_score(t).alias("quality"),
    )


@query(
    "gopher_quality_filter",
    oracle=f"""
    WITH c AS (
      SELECT doc_id,
             CAST(len({_TOKS}) AS DOUBLE) AS n_tok,
             CAST(length(regexp_replace({_NORM}, ' ', '', 'g')) AS DOUBLE) AS n_nonspace,
             CAST(len(list_filter({_TOKS}, t -> regexp_matches(t, '[a-z]'))) AS DOUBLE) AS n_alpha,
             CAST({_sql_count_in(EN_STOPWORDS)} AS DOUBLE) AS n_stop,
             CAST(len(list_distinct({_TOKS})) AS DOUBLE) AS n_distinct
      FROM documents
    ),
    r AS (
      SELECT doc_id,
             n_tok >= 10 AND n_tok <= 100000 AS r_word_count,
             n_nonspace / greatest(n_tok, 1.0) >= 3.0
               AND n_nonspace / greatest(n_tok, 1.0) <= 10.0 AS r_mean_word_len,
             n_alpha / greatest(n_tok, 1.0) >= 0.8 AS r_alpha_fraction,
             n_stop >= 2 AS r_stopwords,
             n_distinct / greatest(n_tok, 1.0) >= 0.3 AS r_distinct_fraction
      FROM c
    )
    SELECT doc_id, r_word_count, r_mean_word_len, r_alpha_fraction, r_stopwords,
           r_distinct_fraction,
           r_word_count AND r_mean_word_len AND r_alpha_fraction
             AND r_stopwords AND r_distinct_fraction AS passes
    FROM r
    """,
)
def q_gopher_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style hard quality gates per document (functions/text.py
    `gopher_rules`): one boolean column per rule plus the conjunction —
    the auditable rule-by-rule pre-filter a pretraining pipeline runs
    before any expensive stage (vs `quality_score`'s blended float).
    Single scan, all codegen'd expressions; the oracle evaluates the
    identical rule formulas."""
    import functools

    (docs,) = _t(spark, sf_dir, "documents")
    rules = gopher_rules(F.col("text"))
    passes = functools.reduce(lambda a, b: a & b, rules.values())
    return docs.select(
        "doc_id",
        *[v.alias(k) for k, v in rules.items()],
        passes.alias("passes"),
    )


# --- dedup family ----------------------------------------------------------


@query(
    "doc_dedup_exact",
    oracle=f"""
    SELECT md5({_NORM}) AS fingerprint,
           MIN(doc_id) AS canonical_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def q_doc_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized-content fingerprint: one shuffle on the
    128-bit hash; canonical = smallest doc_id (deterministic)."""
    (docs,) = _t(spark, sf_dir, "documents")
    return exact_dedup_by_fingerprint(docs)


@query(
    "ngram_neardup",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SHINGLES} AS sh FROM documents),
    f AS (SELECT doc_id, sh FROM t WHERE len(sh) > 0)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / (CAST(len(a.sh) + len(b.sh) AS DOUBLE)
                - CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)) AS jaccard
    FROM f a, f b
    WHERE a.doc_id < b.doc_id
      AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / (CAST(len(a.sh) + len(b.sh) AS DOUBLE)
               - CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)) >= 0.5
    """,
)
def q_ngram_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs (threshold 0.5) — the O(N²)
    verification oracle for the MinHash path; run it only on blocks/samples
    at scale."""
    (docs,) = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, threshold=0.5)


@query(
    "minhash_neardup",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SHINGLES} AS sh FROM documents),
    f AS (SELECT doc_id, sh FROM t WHERE len(sh) > 0)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / (CAST(len(a.sh) + len(b.sh) AS DOUBLE)
                - CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)) AS jaccard
    FROM f a, f b
    WHERE a.doc_id < b.doc_id
      AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / (CAST(len(a.sh) + len(b.sh) AS DOUBLE)
               - CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)) >= 0.8
    """,
)
def q_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs at j≥0.8 (64 hashes, 32 bands × r=2):
    LSH candidates + exact-Jaccard verification. The oracle is the exact
    brute-force pair set — valid because the banding miss probability at
    j≥0.8 is ~(1-0.8²)³² ≈ 5e-15 per pair. The scalable replacement for
    ngram_neardup."""
    (docs,) = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, num_hashes=64, n_bands=32, threshold=0.8)


def _simhash_oracle(max_hamming: int = 3) -> str:
    """DuckDB twin of operators.dedup.simhash64 + simhash_neardup_pairs.

    Same computation, same hash: per-token md5, 64 bit votes from the first
    16 hex nibbles, majority-vote signature. The signature is materialized
    as four 16-bit chunk integers (never a signed 64-bit value, avoiding
    the sign-bit shift), and hamming = Σ bit_count(xor(chunk)). The oracle
    brute-forces all pairs — valid because pigeonhole blocking at
    hamming ≤ 3 over 4 chunks has recall exactly 1 (≤3 differing bits
    cannot touch all 4 chunks), so blocked and brute-force pair sets are
    identical by construction."""
    unigrams = _shingles_sql(1)

    def digit(ci: int) -> str:
        return f"(strpos('0123456789abcdef', substr(h, {ci + 1}, 1)) - 1)"

    votes = ",\n             ".join(
        f"SUM(CASE WHEN (({digit(i // 4)} >> {i % 4}) & 1) = 1 "
        f"THEN 1 ELSE -1 END) AS b{i}"
        for i in range(64)
    )
    chunks = ",\n           ".join(
        "("
        + " + ".join(
            f"(CASE WHEN b{c * 16 + j} > 0 THEN {1 << j} ELSE 0 END)"
            for j in range(16)
        )
        + f") AS c{c}"
        for c in range(4)
    )
    ham = " + ".join(f"bit_count(xor(a.c{c}, b.c{c}))" for c in range(4))
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest({unigrams}) AS tok FROM documents
    ),
    hashed AS (SELECT doc_id, md5(tok) AS h FROM tok),
    votes AS (SELECT doc_id,
             {votes}
      FROM hashed GROUP BY doc_id),
    sigs AS (SELECT doc_id,
           {chunks}
      FROM votes)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST({ham} AS INTEGER) AS hamming
    FROM sigs a, sigs b
    WHERE a.doc_id < b.doc_id AND ({ham}) <= {max_hamming}
    """


@query("simhash_neardup", oracle=_simhash_oracle(3))
def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-64 near-dup pairs (hamming ≤ 3, pigeonhole-blocked). The
    md5-nibble hash makes the signature engine-portable, so this carries an
    EXACT oracle (see _simhash_oracle — brute-force is equivalent because
    4-chunk pigeonhole blocking at hamming ≤ 3 has recall 1);
    tests/test_dedup.py additionally verifies recall on planted near-dups."""
    (docs,) = _t(spark, sf_dir, "documents")
    return simhash_neardup_pairs(docs, max_hamming=3)


# --- similarity search -----------------------------------------------------


@query(
    "ann_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
    s AS (
      SELECT query_id, vec_id, {_DOT} / ({_NORM_CV} * {_NORM_QV}) AS cos_sim
      FROM c, q WHERE vec_id <> query_id
    ),
    r AS (
      SELECT query_id, vec_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, vec_id ASC) AS rk
      FROM s
    )
    SELECT query_id, vec_id, cos_sim, rk FROM r WHERE rk <= 10
    """,
)
def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 cosine neighbors for 5 query vectors: broadcast queries,
    one corpus scan, window top-k — the similarity-search correctness
    baseline (cosine folds are bit-identical across engines)."""
    (emb,) = _t(spark, sf_dir, "embeddings")
    out = brute_force_topk(emb, emb.filter(F.col("vec_id") < 5), k=10)
    return out.withColumn("rk", F.col("rk").cast("bigint"))


@query(
    "embedding_neardup",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                      sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x*x))) AS nrm
               FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           list_sum(list_transform(list_zip(a.v, b.v), x -> x[1]*x[2]))
             / (a.nrm * b.nrm) AS cos_sim
    FROM e a, e b
    WHERE a.vec_id < b.vec_id
      AND list_sum(list_transform(list_zip(a.v, b.v), x -> x[1]*x[2]))
            / (a.nrm * b.nrm) >= 0.4
    """,
)
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (≥0.4) by SANCTIONED brute force —
    the verification oracle for `semantic_neardup` below, which is the
    first-class (LSH-blocked, shuffle-join) form of this operator. This
    cross join is O(N²) by definition and exists to pin ground truth at
    test scale; run `semantic_neardup` on real corpora. Norms are
    precomputed once per vector (per-row sqrt yields the same IEEE value as
    per-pair, so results are unchanged) — per pair only the dot product
    remains: ~3× fewer float ops than the naive form."""
    from ..functions.vectors import dot, norm
    from ..operators.skew import fan_out

    (emb,) = _t(spark, sf_dir, "embeddings")
    emb = fan_out(emb)
    a = emb.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
        norm(F.col("embedding")).alias("na"),
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
        norm(F.col("embedding")).alias("nb"),
    )
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias(
                "cos_sim"
            ),
        )
        .filter(F.col("cos_sim") >= 0.4)
    )


@query(
    "decontamination",
    oracle=f"""
    WITH t AS (SELECT doc_id, source, {_shingles_sql(5)} AS sh FROM documents),
    ev AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS g
           FROM t WHERE source = 'src0'),
    tr AS (SELECT doc_id, unnest(sh) AS g FROM t WHERE source <> 'src0')
    SELECT ev.doc_id AS eval_doc_id, tr.doc_id AS train_doc_id,
           COUNT(*) AS shared_ngrams,
           CAST(COUNT(*) AS DOUBLE) / CAST(MAX(ev.n_sh) AS DOUBLE)
             AS contamination
    FROM ev JOIN tr ON ev.g = tr.g
    GROUP BY 1, 2
    """,
)
def q_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (LLM-pipeline core op): which training
    documents share 5-gram spans with the held-out corpus (source='src0'
    standing in for the eval set)? Posting-list equi-join on the gram —
    never a document cross product; output is the (eval, train) pairs with
    shared-gram counts and the contaminated fraction of each eval doc."""
    from ..operators.dedup import cross_corpus_ngram_overlap

    (docs,) = _t(spark, sf_dir, "documents")
    return cross_corpus_ngram_overlap(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        n=5,
    )


def _raw_grams_sql(n: int) -> str:
    """Non-distinct n-gram list (repetition metrics need multiplicity)."""
    return (
        f"list_transform(range(1, greatest(len({_TOKS}) - {n - 1}, 0) + 1), "
        f"i -> array_to_string(list_slice({_TOKS}, i, i + {n - 1}), ' '))"
    )


def _dup_frac_sql(n: int) -> str:
    g = _raw_grams_sql(n)
    return (
        f"CASE WHEN len({g}) = 0 THEN 0.0 ELSE "
        f"CAST(len({g}) - len(list_distinct({g})) AS DOUBLE) / CAST(len({g}) AS DOUBLE) END"
    )


@query(
    "repetition_score",
    oracle=f"""
    SELECT doc_id,
           {_dup_frac_sql(2)} AS dup_2gram_frac,
           {_dup_frac_sql(3)} AS dup_3gram_frac,
           CASE WHEN len({_TOKS}) = 0 THEN 0.0 ELSE
             CAST(list_max(list_transform(list_distinct({_TOKS}),
                    t -> len(list_filter({_TOKS}, x -> x = t)))) AS DOUBLE)
               / CAST(len({_TOKS}) AS DOUBLE) END AS top_token_frac
    FROM documents
    """,
)
def q_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signals (the published Gopher-rule family:
    duplicate-n-gram fraction and most-frequent-token fraction flag
    boilerplate/spam before pretraining). All higher-order array expressions
    inside codegen — one scan, no Python, no shuffle; each fraction is a
    single double division so values reproduce bit-exactly."""
    from ..functions.text import tokens

    (docs,) = _t(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))

    def raw_grams(n: int):
        cnt = F.size(toks) - (n - 1)
        return F.when(cnt <= 0, F.array().cast("array<string>")).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.greatest(cnt, F.lit(1))),
                lambda i: F.array_join(F.slice(toks, i, n), " "),
            )
        )

    def dup_frac(n: int):
        g = raw_grams(n)
        return F.when(F.size(g) == 0, F.lit(0.0)).otherwise(
            (F.size(g) - F.size(F.array_distinct(g))).cast("double")
            / F.size(g).cast("double")
        )

    top_token = F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
        F.array_max(
            F.transform(
                F.array_distinct(toks),
                lambda t: F.size(F.filter(toks, lambda x: x == t)),
            )
        ).cast("double")
        / F.size(toks).cast("double")
    )
    return docs.select(
        "doc_id",
        dup_frac(2).alias("dup_2gram_frac"),
        dup_frac(3).alias("dup_3gram_frac"),
        top_token.alias("top_token_frac"),
    )


@query(
    "stratified_sample",
    oracle="""
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents)
    WHERE rn <= 5
    """,
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: exactly 5 docs per source, chosen by
    hash order — the per-domain quota draw behind training-data mixture
    weights. Pure function of the keys (no RNG), so the sample is identical
    across runs, engines, partitionings, and executor counts; one shuffle on
    the stratum key."""
    from pyspark.sql import Window as W

    (docs,) = _t(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()
    )
    return (
        docs.select("doc_id", "source", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 5)
        .select("doc_id", "source")
    )


@query(
    "token_histogram",
    oracle=f"""
    SELECT CAST(floor(len({_TOKS}) / 50) AS BIGINT) AS bucket,
           COUNT(*) AS n_docs,
           CAST(MIN(len({_TOKS})) AS BIGINT) AS min_tokens,
           CAST(MAX(len({_TOKS})) AS BIGINT) AS max_tokens
    FROM documents
    GROUP BY 1
    """,
)
def q_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length histogram (50-token buckets): the corpus-shape profile
    every training-data pipeline reports before sampling decisions. One
    scan, one tiny aggregate — at 100 TB this is the query you run FIRST."""
    (docs,) = _t(spark, sf_dir, "documents")
    tc = token_count(F.col("text"))
    return docs.groupBy(
        F.floor(tc / 50).cast("bigint").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min(tc).cast("bigint").alias("min_tokens"),
        F.max(tc).cast("bigint").alias("max_tokens"),
    )


def _sign_bands_sql(n_bands: int, band_size: int) -> str:
    """DuckDB twin of sign_lsh_neardup_pairs' banding: per (vector, band),
    the key is the sign bitmap of `band_size` consecutive components.
    Generated from the SAME constants as the Spark expression; sign bits of
    stored values involve no float arithmetic, so both engines produce the
    identical candidate set (DuckDB lists are 1-indexed, hence the +1)."""
    rows = []
    for j in range(n_bands):
        key = " + ".join(
            f"(CASE WHEN v[{j * band_size + i + 1}] >= 0 THEN {1 << i} ELSE 0 END)"
            for i in range(band_size)
        )
        rows.append(f"SELECT vec_id, {j} AS band, {key} AS key FROM e")
    return " UNION ALL ".join(rows)


@query(
    "semantic_neardup",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                      sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x*x))) AS nrm
               FROM embeddings),
    bands AS ({_sign_bands_sql(16, 4)}),
    cands AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
              FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
              WHERE a.vec_id < b.vec_id)
    SELECT c.id_a, c.id_b,
           list_sum(list_transform(list_zip(a.v, b.v), x -> x[1]*x[2]))
             / (a.nrm * b.nrm) AS cos_sim
    FROM cands c
    JOIN e a ON a.vec_id = c.id_a
    JOIN e b ON b.vec_id = c.id_b
    WHERE list_sum(list_transform(list_zip(a.v, b.v), x -> x[1]*x[2]))
            / (a.nrm * b.nrm) >= 0.4
    """,
)
def q_semantic_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-class semantic dedup: embedding near-dup pairs (cos ≥ 0.4) via
    sign-LSH blocking + exact cosine verify within blocks — one band-key
    shuffle join, no Cartesian product; the 100 TB replacement for
    `embedding_neardup`'s sanctioned brute force. The oracle reproduces the
    blocking bit-for-bit (sign bits involve no float arithmetic), so this is
    an EXACT oracle of the blocked semantics, not a rows-only check; recall
    vs unblocked brute force is pinned in tests/test_similarity.py."""
    (emb,) = _t(spark, sf_dir, "embeddings")
    return sign_lsh_neardup_pairs(emb, threshold=0.4, dim=64, band_size=4)


def _probe_flips(band_size: int, multi_probe: bool) -> str:
    """Probe-key xor masks: the bucket itself (0), plus each single-bit
    flip when multi-probing."""
    flips = [0] + ([1 << j for j in range(band_size)] if multi_probe else [])
    return "[" + ", ".join(str(f) for f in flips) + "]"


def _lsh_ann_oracle(
    n_bits: int = 16,
    dim: int = 64,
    seed: int = 42,
    n_bands: int = 8,
    multi_probe: bool = False,
) -> str:
    """EXACT SQL twin of hyperplane_lsh_topk: the float hyperplane dots are
    reproduced with the SAME strict-left-fold + string→double constant
    parsing that makes embedding_project bit-exact (training._jl_oracle
    documents both 1-ulp traps) — and the signature only consumes the SIGN
    of each dot, so bit-identical dots give bit-identical buckets. The rest
    (band split, bucket join, exact cosine re-rank, tie-pinned top-k) is
    the ann_topk oracle pattern over the candidate set. multi_probe adds
    the query-side single-bit-flip probe keys (xor with 0 = the bucket
    itself) — still pure bit arithmetic, still exact."""
    from ..operators.similarity import _hyperplane

    band_size = n_bits // n_bands
    mask = (1 << band_size) - 1
    terms = []
    for b in range(n_bits):
        consts = "[" + ", ".join(f"'{c!r}'" for c in _hyperplane(dim, b, seed)) + "]"
        dotb = (
            "list_reduce(list_prepend(0.0, "
            f"list_transform(list_zip(v, {consts}::DOUBLE[]), x -> x[1]*x[2])), "
            "(acc, x) -> acc + x)"
        )
        terms.append(f"(CASE WHEN {dotb} >= 0 THEN {1 << b} ELSE 0 END)")
    sig = "\n           + ".join(terms)
    bands = "[" + ", ".join(str(i) for i in range(n_bands)) + "]"
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    s AS (SELECT vec_id, CAST({sig} AS BIGINT) AS sig FROM e),
    bk AS (
      SELECT vec_id, band, (sig >> (band * {band_size})) & {mask} AS key
      FROM (SELECT vec_id, sig, unnest({bands}) AS band FROM s)
    ),
    qk AS (
      SELECT vec_id, band, xor(key, f) AS key
      FROM bk, (SELECT unnest({_probe_flips(band_size, multi_probe)}) AS f)
      WHERE vec_id < 5
    ),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id
      FROM bk c JOIN qk q ON c.band = q.band AND c.key = q.key
      WHERE c.vec_id <> q.vec_id
    ),
    scored AS (
      -- nrm > 0 guards mirror the Spark side's zero-norm exclusion: a zero
      -- vector has no defined cosine (this division would yield inf/nan).
      SELECT cand.query_id, cand.vec_id,
             list_sum(list_transform(list_zip(cv.v, qv.v), x -> x[1]*x[2]))
               / (sqrt(list_sum(list_transform(cv.v, x -> x*x)))
                  * sqrt(list_sum(list_transform(qv.v, x -> x*x)))) AS cos_sim
      FROM cand
      JOIN e cv ON cv.vec_id = cand.vec_id
      JOIN e qv ON qv.vec_id = cand.query_id
      WHERE sqrt(list_sum(list_transform(cv.v, x -> x*x))) > 0
        AND sqrt(list_sum(list_transform(qv.v, x -> x*x))) > 0
    ),
    r AS (
      SELECT query_id, vec_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, vec_id ASC) AS rk
      FROM scored
    )
    SELECT query_id, vec_id, cos_sim, CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= 10
    """


@query("lsh_ann_topk", oracle=_lsh_ann_oracle())
def q_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH approximate top-k (16-bit signatures, 8 two-bit
    bands): the 100 TB path — bucket join instead of cross product, exact
    cosine re-rank within candidates. Round 3: EXACT oracle — the bucket
    keys are signs of strict-fold hyperplane dots, reproducible
    bit-for-bit in SQL (see _lsh_ann_oracle), leaving ivf_ann_topk (MLlib
    float k-means centroids) as the only hash-path rows-only ANN entry.
    Recall vs the exact baseline stays pinned in tests/test_similarity.py."""
    (emb,) = _t(spark, sf_dir, "embeddings")
    out = hyperplane_lsh_topk(emb, emb.filter(F.col("vec_id") < 5), k=10)
    return out.withColumn("rk", F.col("rk").cast("bigint"))


@query("lsh_multiprobe_ann_topk", oracle=_lsh_ann_oracle(multi_probe=True))
def q_lsh_multiprobe_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe hyperplane-LSH top-k (Lv et al., VLDB'07): per band,
    the query additionally probes every bucket one sign-bit away, so a
    near neighbor that landed one flipped hyperplane off still becomes a
    candidate. Recall is tuned at QUERY time — candidates grow
    ~(1+band_size)× on the query side only; the stored corpus index is
    byte-identical to lsh_ann_topk's (the production property: no index
    rebuild to trade latency for recall). Probe keys are pure bit
    arithmetic, so the variant keeps an EXACT value oracle; recall ≥ the
    single-probe path is pinned in tests and surfaced as a row in
    ann_recall_report."""
    (emb,) = _t(spark, sf_dir, "embeddings")
    out = hyperplane_lsh_topk(
        emb, emb.filter(F.col("vec_id") < 5), k=10, multi_probe=True
    )
    return out.withColumn("rk", F.col("rk").cast("bigint"))


# Shared recursive-CTE skeleton: exact brute-force near-dup pairs (j≥0.8,
# equal to the LSH pair set up to ~5e-15 miss probability) closed into
# connected components — ends with a `comp(node, component)` CTE.
_NEARDUP_COMPONENTS_CTE = f"""
    WITH RECURSIVE t AS (SELECT doc_id, {_SHINGLES} AS sh FROM documents),
    f AS (SELECT doc_id, sh FROM t WHERE len(sh) > 0),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM f a, f b
      WHERE a.doc_id < b.doc_id
        AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / (CAST(len(a.sh) + len(b.sh) AS DOUBLE)
                 - CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)) >= 0.8
    ),
    e AS (SELECT id_a AS u, id_b AS v FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
    reach AS (
      SELECT u AS node, v AS r FROM e
      UNION
      SELECT reach.node, e.v FROM reach JOIN e ON reach.r = e.u
    ),
    comp AS (
      SELECT node, LEAST(node, MIN(r)) AS component
      FROM reach GROUP BY node
    )"""


@query(
    "doc_dedup_clusters",
    oracle=f"""
    {_NEARDUP_COMPONENTS_CTE}
    SELECT node, component FROM comp
    """,
)
def q_doc_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: MinHash pairs (j≥0.8) → connected components →
    (doc, component=min doc id). The iterative min-label propagation
    (operators/graph.py) is the genuinely non-single-pass step of a dedup
    pipeline; the oracle recomputes it with exact brute-force pairs + a
    recursive transitive closure (valid because the LSH pair set equals the
    exact pair set up to ~5e-15 miss probability). 'Keep the component
    representative' is then a plain filter node == component."""
    from ..operators.graph import connected_components

    (docs,) = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, num_hashes=64, n_bands=32, threshold=0.8)
    return connected_components(pairs.select("id_a", "id_b"))


@query(
    "leakage_safe_split",
    oracle=f"""
    {_NEARDUP_COMPONENTS_CTE}
    SELECT d.doc_id,
           COALESCE(comp.component, d.doc_id) AS component,
           CASE WHEN substring(md5(CAST(COALESCE(comp.component, d.doc_id)
                                        AS VARCHAR)), 1, 1) IN ('0', '1')
                THEN 'eval' ELSE 'train' END AS split
    FROM documents d LEFT JOIN comp ON comp.node = d.doc_id
    """,
)
def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval split that can never leak near-duplicates across the
    boundary: documents are first clustered by near-dup connected component
    (MinHash j≥0.8 pairs → min-label components; singletons = their own
    id), then the WHOLE component is assigned to eval iff the first md5
    nibble of the component id is in {{0,1}} (~1/8 eval — the same
    hash-membership idiom as deterministic_sample, so the split is stable
    under corpus growth and identical across engines). Splitting by doc
    would let a near-copy of an eval document sit in train — the classic
    contamination bug this operator exists to prevent.

    Scale: component ids ride the dedup pipeline already being run; the
    split itself is one broadcast-free left join + a hash expression."""
    from ..operators.graph import connected_components

    (docs,) = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, num_hashes=64, n_bands=32, threshold=0.8)
    comp = connected_components(pairs.select("id_a", "id_b")).withColumnRenamed(
        "node", "doc_id"
    )
    joined = docs.select("doc_id").join(comp, "doc_id", "left")
    component = F.coalesce(F.col("component"), F.col("doc_id"))
    nibble = F.substring(F.md5(component.cast("string")), 1, 1)
    return joined.select(
        "doc_id",
        component.alias("component"),
        F.when(nibble.isin("0", "1"), F.lit("eval"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )


@query(
    "neardup_survivors",
    oracle=f"""
    WITH RECURSIVE t AS (SELECT doc_id, {_SHINGLES} AS sh FROM documents),
    f AS (SELECT doc_id, sh FROM t WHERE len(sh) > 0),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM f a, f b
      WHERE a.doc_id < b.doc_id
        AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / (CAST(len(a.sh) + len(b.sh) AS DOUBLE)
                 - CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)) >= 0.8
    ),
    e AS (SELECT id_a AS u, id_b AS v FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
    reach AS (
      SELECT u AS node, v AS r FROM e
      UNION
      SELECT reach.node, e.v FROM reach JOIN e ON reach.r = e.u
    ),
    comp AS (SELECT node, LEAST(node, MIN(r)) AS component
             FROM reach GROUP BY node)
    SELECT d.doc_id, d.source, d.n_chars
    FROM documents d
    LEFT JOIN comp ON d.doc_id = comp.node
    WHERE comp.node IS NULL OR comp.component = d.doc_id
    """,
)
def q_neardup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end near-dedup PRODUCT: the corpus that survives MinHash
    near-dedup — pairs (j≥0.8) → connected components → keep each
    component's min-id representative, drop the other members. This is the
    operation a pretraining pipeline actually ships (CCNet/RefinedWeb keep
    one document per duplicate cluster); the pair/cluster queries above are
    its observable intermediates.

    Scale: pairs and components are near-dup-graph-sized (tiny vs corpus);
    the final keep/drop is one broadcast-able LEFT ANTI join against the
    loser set — the corpus itself is scanned once and never shuffled. The
    oracle recomputes the same thing from exact brute-force pairs + a
    recursive transitive closure (LSH == exact pair set up to ~5e-15)."""
    from ..operators.graph import connected_components

    (docs,) = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, num_hashes=64, n_bands=32, threshold=0.8)
    comp = connected_components(pairs.select("id_a", "id_b"))
    losers = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    return docs.join(F.broadcast(losers), "doc_id", "left_anti").select(
        "doc_id", "source", "n_chars"
    )


@query(
    "deterministic_sample",
    oracle="""
    SELECT doc_id, n_chars
    FROM documents
    WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1')
    """,
)
def q_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~1/8 hash sample (md5 of the key, first nibble < 2) —
    the reproducible alternative to TABLESAMPLE for training-data splits:
    membership is a pure function of the key, so the sample is stable across
    runs, partitionings, engines, and incremental reprocessing (a doc never
    migrates in or out when the corpus grows)."""
    (docs,) = _t(spark, sf_dir, "documents")
    return docs.filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin("0", "1")
    ).select("doc_id", "n_chars")


@query(
    "pretrain_filter",
    oracle=f"""
    WITH c AS (
      SELECT doc_id, lang,
             CAST(len({_TOKS}) AS DOUBLE) AS n_tok,
             CAST(length(text) AS DOUBLE) AS n_char,
             CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE) AS n_punct,
             CAST({_sql_count_in(EN_STOPWORDS)} AS DOUBLE) AS n_stop,
             CAST(length(regexp_replace({_NORM}, ' ', '', 'g')) AS DOUBLE) AS n_nonspace,
             {", ".join(f"{_sql_count_in(m)} AS s_{lang}" for lang, m in LANG_MARKERS.items())}
      FROM documents
    ),
    q AS (
      SELECT doc_id, lang,
             CAST(n_tok AS BIGINT) AS n_tokens,
             0.3 * least(n_tok / 100.0, 1.0)
               + 0.3 * (1.0 - n_punct / greatest(n_char, 1.0))
               + 0.2 * least(n_stop / greatest(n_tok, 1.0) * 5.0, 1.0)
               + 0.2 * least(n_nonspace / greatest(n_tok, 1.0) / 8.0, 1.0)
               AS quality,
             {_lang_case()} AS lang_guess
      FROM c
    )
    SELECT doc_id, n_tokens, quality, lang_guess
    FROM q
    WHERE quality >= 0.5 AND n_tokens >= 10 AND lang_guess = lang
    """,
)
def q_pretrain_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed pretraining keep-filter: quality ≥ 0.5, ≥10 tokens, and
    the language guess agreeing with the declared label — the standard gate
    before expensive dedup/tokenization stages. One scan, all codegen'd
    expressions; at 100 TB this is the pass that pays for itself by
    shrinking every later stage."""
    (docs,) = _t(spark, sf_dir, "documents")
    t = F.col("text")
    scored = docs.select(
        "doc_id",
        "lang",
        token_count(t).alias("n_tokens"),
        quality_score(t).alias("quality"),
        lang_id(t).alias("lang_guess"),
    )
    return scored.filter(
        (F.col("quality") >= 0.5)
        & (F.col("n_tokens") >= 10)
        & (F.col("lang_guess") == F.col("lang"))
    ).select("doc_id", "n_tokens", "quality", "lang_guess")


@query(
    "text_clean",
    oracle="""
    SELECT doc_id,
           trim(regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(text, '<[^>]+>', ' ', 'g'),
                 'https?://[^\\s]+', '<URL>', 'g'),
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\\s+', ' ', 'g')) AS cleaned
    FROM documents
    """,
)
def q_text_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining text cleanup (functions/text.py clean_text): strip HTML
    tags, mask emails/URLs with typed placeholders, collapse whitespace —
    all JVM-side regexp_replace in one codegen'd projection. Patterns stay
    in the Java-regex ∩ RE2 subset so the oracle reproduces the exact
    output."""
    from ..functions.text import clean_text

    (docs,) = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", clean_text(F.col("text")).alias("cleaned"))


# --- document fingerprinting & term weighting (round 2) --------------------

_WINNOW_K = 5  # k-gram length (tokens)
_WINNOW_W = 4  # winnowing window (consecutive k-gram hashes)


def _pos_shingles_sql(n: int) -> str:
    """DuckDB twin of functions.text.positional_token_shingles(n): ordered,
    NON-distinct n-gram shingles (position and multiplicity preserved)."""
    return (
        f"list_transform("
        f"range(1, greatest(len({_TOKS}) - {n - 1}, 0) + 1), "
        f"i -> array_to_string(list_slice({_TOKS}, i, i + {n - 1}), ' '))"
    )


_POS_SHINGLES = _pos_shingles_sql(_WINNOW_K)


@query(
    "winnow_fingerprint",
    oracle=f"""
    WITH g AS (
      SELECT doc_id,
             unnest({_POS_SHINGLES}) AS gram,
             generate_subscripts({_POS_SHINGLES}, 1) AS pos,
             len({_POS_SHINGLES}) AS m
      FROM documents
    )
    SELECT DISTINCT doc_id,
           MIN(md5(gram)) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN CURRENT ROW
                                AND {_WINNOW_W - 1} FOLLOWING) AS fp
    FROM g
    QUALIFY pos <= greatest(m - {_WINNOW_W - 1}, 1)
    """,
)
def q_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every token 5-gram, slide a
    4-hash window per document, keep each window's minimum, emit the
    distinct selected hashes. Guarantees any shared run of ≥ k+w-1 tokens
    between two documents shares a fingerprint, with a ~2/(w+1) sampling
    density — the plagiarism/near-dup index primitive between exact-hash
    and MinHash on the recall/cost curve.

    Spark plan: one projection builds the positional shingle array
    (positional_token_shingles), posexplode streams (pos, gram) pairs, a
    single window-min over (doc_id, pos) selects fingerprints — ONE shuffle
    on doc_id, everything codegen'd JVM-side (md5 + lexicographic string
    min ≡ DuckDB's MIN over the same hex). Documents shorter than k tokens
    produce no fingerprints; shorter than k+w-1 produce exactly one (the
    pos=1 truncated window) in both engines. At 100 TB the (doc_id, fp)
    pairs feed an inverted fingerprint index (group by fp) — the same
    banding-join shape as minhash_neardup, no cross product."""
    from ..functions.text import positional_token_shingles

    (docs,) = _t(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        positional_token_shingles(F.col("text"), _WINNOW_K).alias("grams"),
    )
    ex = base.select(
        "doc_id",
        F.size("grams").alias("m"),
        F.posexplode("grams").alias("pos0", "gram"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos0")
        .rowsBetween(Window.currentRow, _WINNOW_W - 1)
    )
    return (
        ex.withColumn("fp", F.min(F.md5("gram")).over(w))
        .filter(
            F.col("pos0") + 1
            <= F.greatest(F.col("m") - (_WINNOW_W - 1), F.lit(1))
        )
        .select("doc_id", "fp")
        .distinct()
    )


@query(
    "tfidf_topk",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS}) AS term FROM documents
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf
      FROM toks
      WHERE NOT list_contains({_sql_list(EN_STOPWORDS)}, term) AND term <> ''
      GROUP BY doc_id, term
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    sc AS (
      SELECT doc_id, term, tf,
             COUNT(*) OVER (PARTITION BY term) AS df
      FROM tf
    )
    SELECT doc_id, term, tf, df,
           CAST(tf * n_docs AS DOUBLE) / df AS score,
           CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY CAST(tf * n_docs AS DOUBLE) / df DESC,
                                            term) AS BIGINT) AS rnk
    FROM sc, n
    QUALIFY rnk <= 3
    """,
)
def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by TF-IDF, log-free variant:
    score = tf · N/df (raw inverse document frequency). The log is dropped
    DELIBERATELY: JVM Math.log and libm ln() disagree in the last ulp for
    ~8% of inputs (measured), which would flip rankings and break the
    cross-engine hash; tf·N/df is an exact-integer product and ONE IEEE
    division, so both engines produce bit-identical doubles and identical
    rankings (term asc pins ties). Rank order equals tf·ln(N/df) order
    whenever tf ties break by df — the usual keyword-extraction regime.

    Plan: explode tokens (stopwords/empties dropped pre-shuffle), one
    shuffle for per-(doc, term) counts, df via a window over term (second
    shuffle), N broadcast as a 1-row scalar aggregate, top-3 via
    row_number — rank filter prunes before any sort of the full term
    space. At 100 TB: identical shape; the term-partition window is the
    df posting-list aggregate every search engine builds."""
    (docs,) = _t(spark, sf_dir, "documents")
    from ..functions.text import tokens as _tok

    toks = docs.select(
        "doc_id", F.explode(_tok(F.col("text"))).alias("term")
    ).filter(~F.col("term").isin(EN_STOPWORDS) & (F.col("term") != ""))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    sc = tf.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("term")))
    scored = sc.join(F.broadcast(n)).withColumn(
        "score", (F.col("tf") * F.col("n_docs")).cast("double") / F.col("df")
    )
    rw = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(rw).cast("bigint"))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tf", "df", "score", "rnk")
    )


@query(
    "paragraph_dedup",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS t FROM documents
    ),
    chunks AS (
      SELECT doc_id, CAST(u.i AS INTEGER) AS pos,
             array_to_string(list_slice(t, CAST(u.i*10+1 AS BIGINT),
                                           CAST(u.i*10+10 AS BIGINT)), ' ') AS chunk
      FROM toks, UNNEST(range(CAST(ceil(len(t)/10.0) AS BIGINT))) AS u(i)
    ),
    ranked AS (
      SELECT doc_id, pos, chunk,
             row_number() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rn
      FROM chunks
    ),
    kept AS (SELECT doc_id, pos, chunk FROM ranked WHERE rn = 1),
    totals AS (SELECT doc_id, COUNT(*) AS total FROM chunks GROUP BY doc_id)
    SELECT t.doc_id,
           COALESCE(string_agg(k.chunk, ' ' ORDER BY k.pos), '') AS clean_text,
           CAST(COUNT(k.chunk) AS BIGINT) AS kept_chunks,
           CAST(ANY_VALUE(t.total) - COUNT(k.chunk) AS BIGINT) AS dropped_chunks
    FROM totals t LEFT JOIN kept k USING (doc_id)
    GROUP BY t.doc_id
    """,
)
def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level paragraph dedup (CCNet/RefinedWeb line-dedup pass):
    drop every 10-token segment whose text already appeared earlier in the
    corpus, reassemble documents from the survivors. One row per document
    with (clean_text, kept_chunks, dropped_chunks). The oracle's
    window-rank survivor pick proves the operator's min-struct aggregate
    equivalent. See operators/dedup.py:chunk_dedup for the scale plan."""
    (docs,) = _t(spark, sf_dir, "documents")
    from ..operators.dedup import chunk_dedup

    return chunk_dedup(docs, id_col="doc_id", text_col="text", chunk_tokens=10)


def _pii_inject_sql() -> str:
    return (
        "text"
        " || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)"
        " || '@example.com' ELSE '' END"
        " || CASE WHEN doc_id % 4 = 0 THEN ' call 555-'"
        " || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'"
        " || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END"
        " || CASE WHEN doc_id % 5 = 0 THEN ' from 10.0.'"
        " || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST(doc_id % 100 AS VARCHAR)"
        " ELSE '' END"
        " || CASE WHEN doc_id % 7 = 0 THEN ' ssn 123-45-'"
        " || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END"
    )


def _pii_scrub_sql(col: str) -> str:
    from ..functions.text import PII_PATTERNS

    out = col
    for k, p in PII_PATTERNS.items():
        out = f"regexp_replace({out}, '{p}', '<{k.upper()}>', 'g')"
    return out


def _pii_oracle() -> str:
    from ..functions.text import PII_PATTERNS

    counts = ", ".join(
        f"CAST(len(regexp_extract_all(t, '{p}')) AS BIGINT) AS n_{k}"
        for k, p in PII_PATTERNS.items()
    )
    return (
        f"WITH inj AS (SELECT doc_id, {_pii_inject_sql()} AS t FROM documents) "
        f"SELECT doc_id, {_pii_scrub_sql('t')} AS scrubbed, {counts} FROM inj"
    )


@query("pii_scrub", oracle=_pii_oracle())
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII masking pass: typed placeholders for emails, US 3-3-4 phones,
    SSN-like 3-2-4 ids, and dotted-quad IPv4s, plus per-category match
    counts. The synthetic corpus carries no PII, so the query deterministically
    injects category samples keyed off doc_id (identically in both engines —
    stated test scaffolding; production use is pii_scrub(text) directly).

    Plan: pure JVM regexp_replace / regexp_count expressions in one
    projection — whole-stage codegen, zero shuffles, trivially linear at
    100 TB. Patterns live in functions/text.py:PII_PATTERNS in the
    Java/RE2-shared syntax subset, so both engines match identical spans."""
    from ..functions.text import pii_counts, pii_scrub

    (docs,) = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    injected = F.concat(
        F.col("text"),
        F.when(
            did % 3 == 0,
            F.concat(F.lit(" contact user"), s(did), F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(
            did % 4 == 0,
            F.concat(
                F.lit(" call 555-"),
                F.lpad(s(did % 1000), 3, "0"),
                F.lit("-"),
                F.lpad(s(did % 10000), 4, "0"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 5 == 0,
            F.concat(
                F.lit(" from 10.0."), s(did % 256), F.lit("."), s(did % 100)
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 7 == 0,
            F.concat(F.lit(" ssn 123-45-"), F.lpad(s(did % 10000), 4, "0")),
        ).otherwise(F.lit("")),
    )
    counts = pii_counts(injected)
    return docs.select(
        "doc_id",
        pii_scrub(injected).alias("scrubbed"),
        *[v.alias(f"n_{k}") for k, v in counts.items()],
    )


@query(
    "bpe_merge_candidates",
    oracle=f"""
    WITH t AS (SELECT {_TOKS} AS tk FROM documents),
    b AS (
      SELECT unnest(list_transform(range(2, len(tk) + 1),
                                   i -> tk[i - 1] || ' ' || tk[i])) AS pair
      FROM t WHERE len(tk) >= 2
    ),
    c AS (SELECT pair, COUNT(*) AS n FROM b GROUP BY pair)
    SELECT pair, n
    FROM (SELECT pair, n,
                 ROW_NUMBER() OVER (ORDER BY n DESC, pair ASC) AS rk
          FROM c)
    WHERE rk <= 20
    """,
)
def q_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE merge iteration over the corpus: count every ADJACENT token
    pair and rank the top-20 merge candidates — the inner loop of tokenizer
    training (Sennrich et al., ACL'16), run corpus-wide. Adjacent pairs come
    from a JVM-side `transform(sequence(...))` over the token array (no
    Python, no self-join); count+top-k is one shuffle plus a 20-row
    TakeOrdered.

    Scale: pair explosion is linear in corpus tokens and map-side-combines
    into the count shuffle; the rank is over the (vocab²-bounded, heavily
    combined) pair table, never the corpus. Deterministic tie-break
    (count desc, pair asc) keeps the cut stable across engines."""
    from ..functions.text import tokens

    (docs,) = _t(spark, sf_dir, "documents")
    tk = tokens(F.col("text"))
    pairs = (
        docs.select(tk.alias("tk"))
        .filter(F.size("tk") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(2, size(tk)),"
                    " i -> concat(element_at(tk, i - 1), ' ', element_at(tk, i)))"
                )
            ).alias("pair")
        )
    )
    counted = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("n"))
    # TakeOrderedAndProject (total order: count desc, pair asc) — NOT a
    # global row_number window, which would sort the whole pair table on
    # one partition
    return (
        counted.orderBy(F.col("n").desc(), F.col("pair").asc())
        .limit(20)
        .select("pair", "n")
    )


@query(
    "hard_negatives",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, label AS qlabel,
                      embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id, label, embedding::DOUBLE[] AS cv FROM embeddings),
    s AS (
      SELECT query_id, vec_id, {_DOT} / ({_NORM_CV} * {_NORM_QV}) AS cos_sim
      FROM c, q WHERE label <> qlabel
    ),
    r AS (
      SELECT query_id, vec_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, vec_id ASC) AS rk
      FROM s
    )
    SELECT query_id, vec_id, cos_sim, rk FROM r WHERE rk <= 5
    """,
)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor
    (the 5 query vectors) the top-5 most-similar vectors with a DIFFERENT
    label — the negatives that actually move a contrastive loss. Same
    broadcast-one-corpus-scan shape as ann_topk with the label inequality
    pushed into the join condition, so disqualified candidates never reach
    the scorer; at real scale the blocked (LSH/IVF) variants swap in
    exactly as they do for plain ANN."""
    from ..functions.vectors import cosine
    from ..operators.skew import fan_out

    (emb,) = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("qv"),
    )
    c = fan_out(emb).select("vec_id", "label", F.col("embedding").alias("cv"))
    scored = (
        c.join(F.broadcast(q), F.col("label") != F.col("qlabel"))
        .select(
            "query_id",
            "vec_id",
            cosine(F.col("cv"), F.col("qv")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .withColumn("rk", F.col("rk").cast("bigint"))
    )


@query(
    "editdist_neardup",
    oracle=f"""
    WITH n AS (SELECT doc_id, {_NORM} AS nt FROM documents),
    b AS (SELECT doc_id, nt, substring(nt, 1, 12) AS blk FROM n)
    SELECT a.doc_id AS id_a, c.doc_id AS id_b,
           CAST(levenshtein(a.nt, c.nt) AS BIGINT) AS edit_dist
    FROM b a JOIN b c ON a.blk = c.blk AND a.doc_id < c.doc_id
    WHERE levenshtein(a.nt, c.nt) <= 20
    """,
)
def q_editdist_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level near-dup pairs: Levenshtein distance ≤ 20 between
    normalized texts, computed only WITHIN blocks sharing a 12-char
    normalized prefix — the character-granular member of the dedup family
    (catches small in-place edits that survive token-level shingling). The
    blocking is the same banding idea as the LSH joins: the quadratic
    distance only ever runs inside prefix buckets, never across the corpus;
    both engines compute the identical integer distance, so the oracle is
    exact. Prefix blocking assumes edits do not hit the first 12 chars —
    the standard cheap block for template-derived corpora; compose with
    other block keys (length bucket, fingerprint band) to cover prefix
    edits at scale."""
    from ..functions.text import norm_text

    (docs,) = _t(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        norm_text(F.col("text")).alias("nt"),
        F.substring(norm_text(F.col("text")), 1, 12).alias("blk"),
    )
    a = d.select(
        F.col("doc_id").alias("id_a"), F.col("nt").alias("nt_a"), "blk"
    )
    b = d.select(
        F.col("doc_id").alias("id_b"), F.col("nt").alias("nt_b"), "blk"
    )
    dist = F.levenshtein("nt_a", "nt_b")
    return (
        a.join(b, "blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(dist <= 20)
        .select("id_a", "id_b", dist.cast("bigint").alias("edit_dist"))
    )


@query(
    "ngram_lm_counts",
    oracle=f"""
    WITH t AS (SELECT {_TOKS} AS tk FROM documents),
    g AS (
      SELECT unnest(list_transform(range(1, greatest(len(tk) - 2, 0) + 1),
                    i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) AS tri
      FROM t
    ),
    c AS (SELECT tri, COUNT(*) AS n_tri FROM g GROUP BY tri),
    x AS (
      SELECT tri, n_tri,
             array_to_string(list_slice(string_split(tri, ' '), 1, 2), ' ') AS ctx
      FROM c
    ),
    y AS (
      -- window BEFORE the n_tri filter (SQL WHERE would otherwise exclude
      -- hapax trigrams from the context denominator)
      SELECT tri, n_tri,
             CAST(SUM(n_tri) OVER (PARTITION BY ctx) AS BIGINT) AS n_ctx
      FROM x
    )
    SELECT tri, n_tri, n_ctx,
           CAST(n_tri AS DOUBLE) / CAST(n_ctx AS DOUBLE) AS p_mle
    FROM y
    WHERE n_tri >= 2
    """,
)
def q_ngram_lm_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram language-model counts with their bigram-context denominators
    and MLE probability P(w3 | w1 w2) — the count-collection step of
    classical LM training / data scoring. Context totals are derived FROM
    the trigram counts (one window over the aggregated table), so
    probabilities sum to 1 per context by construction.

    Scale: positional trigrams explode map-side and combine into one count
    shuffle (vocab³-bounded, heavily combined); the context window runs
    over the aggregated count table, not the corpus. p_mle is a single
    division of two exact longs — bit-deterministic. n_tri ≥ 2 bounds the
    hapax tail in the output."""
    from ..functions.text import tokens

    (docs,) = _t(spark, sf_dir, "documents")
    tris = (
        docs.select(tokens(F.col("text")).alias("tk"))
        .filter(F.size("tk") >= 3)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(tk) - 2),"
                    " i -> concat_ws(' ', element_at(tk, i),"
                    " element_at(tk, i + 1), element_at(tk, i + 2)))"
                )
            ).alias("tri")
        )
    )
    counted = tris.groupBy("tri").agg(F.count(F.lit(1)).alias("n_tri"))
    ctx = F.concat_ws(" ", F.slice(F.split(F.col("tri"), " "), 1, 2))
    w = Window.partitionBy(ctx)
    return (
        counted.withColumn("n_ctx", F.sum("n_tri").over(w))
        .filter(F.col("n_tri") >= 2)
        .select(
            "tri",
            "n_tri",
            "n_ctx",
            (F.col("n_tri").cast("double") / F.col("n_ctx").cast("double")).alias(
                "p_mle"
            ),
        )
    )


@query(
    "lm_familiarity",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
    g AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(tk) - 2, 0) + 1),
                    i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])) AS tri
      FROM t
    ),
    c AS (SELECT tri, COUNT(*) AS n FROM g GROUP BY tri)
    SELECT g.doc_id,
           COUNT(*) AS n_tri,
           CAST(SUM(CASE WHEN c.n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           CAST(SUM(c.n) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS familiarity
    FROM g JOIN c ON g.tri = c.tri
    GROUP BY g.doc_id
    """,
)
def q_lm_familiarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document corpus-LM familiarity — the exact-arithmetic stand-in
    for the CCNet-style LM-perplexity quality filter: for each document,
    the mean corpus frequency of its positional trigrams (high = formulaic
    boilerplate the corpus has seen many times; low ≈ high perplexity =
    novel or noisy text) plus the count of trigrams unique to this document.
    A true log-perplexity would hinge on ln() being bit-identical across
    engines (it isn't — Math.log is an unrounded intrinsic), so the score
    is deliberately one division of exact longs, fully hash-verifiable.

    Scale: positional trigrams explode map-side and feed two branches —
    the combined count shuffle (vocab³-bounded) and the per-doc join on the
    trigram — then one groupBy(doc). Docs with <3 tokens have no trigrams
    and drop out, same in both engines."""
    from ..functions.text import positional_token_shingles

    (docs,) = _t(spark, sf_dir, "documents")
    g = docs.select(
        "doc_id",
        F.explode(positional_token_shingles(F.col("text"), 3)).alias("tri"),
    )
    c = g.groupBy("tri").agg(F.count(F.lit(1)).alias("n"))
    return (
        g.join(c, "tri")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tri"),
            F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_novel"),
            (F.sum("n").cast("double") / F.count(F.lit(1)).cast("double")).alias(
                "familiarity"
            ),
        )
    )


@query(
    "incremental_neardup",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SHINGLES} AS sh FROM documents),
    f AS (SELECT doc_id, sh FROM t WHERE len(sh) > 0),
    i AS (SELECT * FROM f WHERE doc_id % 5 = 0),
    c AS (SELECT * FROM f WHERE doc_id % 5 <> 0)
    SELECT i.doc_id AS incoming_id, c.doc_id AS corpus_id,
           CAST(len(list_intersect(i.sh, c.sh)) AS DOUBLE)
             / (CAST(len(i.sh) + len(c.sh) AS DOUBLE)
                - CAST(len(list_intersect(i.sh, c.sh)) AS DOUBLE)) AS jaccard
    FROM i, c
    WHERE CAST(len(list_intersect(i.sh, c.sh)) AS DOUBLE)
            / (CAST(len(i.sh) + len(c.sh) AS DOUBLE)
               - CAST(len(list_intersect(i.sh, c.sh)) AS DOUBLE)) >= 0.8
    """,
)
def q_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dedup: which documents of an incoming batch
    (doc_id % 5 = 0 stands in for "today's crawl") duplicate the EXISTING
    corpus (the rest) — the production shape of dedup, where each new batch
    joins against a persisted index instead of re-pairing the whole corpus.
    One-sided MinHash banding: both sides' band keys come from the same
    pure function (minhash_band_keys), the candidate join is incoming ×
    corpus only (never corpus × corpus), and candidates are exact-Jaccard
    verified. At scale the corpus band table is a bucketed, persisted index
    that each batch joins against; cost is O(batch) not O(corpus).
    Oracle: brute-force cross-split Jaccard (LSH == exact up to ~5e-15 at
    j≥0.8)."""
    from ..operators.dedup import minhash_lsh_incremental

    (docs,) = _t(spark, sf_dir, "documents")
    return minhash_lsh_incremental(
        docs, F.col("doc_id") % 5 == 0, num_hashes=64, n_bands=32, threshold=0.8
    )


@query(
    "winsorize",
    oracle="""
    WITH q AS (
      SELECT event_type,
             quantile_cont(value, 0.01) AS lo,
             quantile_cont(value, 0.99) AS hi
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.value,
           least(greatest(e.value, q.lo), q.hi) AS value_winsorized
    FROM events e JOIN q USING (event_type)
    """,
)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization: clamp values to the group's [p1, p99] — the
    outlier-clipping pass between profiling and model input. Exact
    interpolated percentiles (Spark `percentile` ≡ DuckDB `quantile_cont`,
    the parity exact_quantiles pins), broadcast back onto the stream; the
    clamp is least/greatest on the raw doubles, so every output bit is
    reproducible.

    Scale: the percentile aggregate sorts within groups (bounded by the
    largest group, one shuffle); the corpus itself is never shuffled —
    same broadcast-moments shape as zscore_normalize. At 100 TB swap the
    exact percentile for approx_percentile and keep the identical plan."""
    (events,) = _t(spark, sf_dir, "events")
    q = (
        events.groupBy("event_type")
        .agg(F.expr("percentile(value, array(0.01, 0.99))").alias("__q"))
        .select(
            "event_type",
            F.col("__q")[0].alias("lo"),
            F.col("__q")[1].alias("hi"),
        )
    )
    return (
        events.join(F.broadcast(q), "event_type")
        .select(
            "event_id",
            "event_type",
            "value",
            F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi")).alias(
                "value_winsorized"
            ),
        )
    )


@query(
    "vocab_growth",
    oracle=f"""
    WITH g AS (
      SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
    ),
    fs AS (SELECT tok, MIN(doc_id) AS first_doc FROM g GROUP BY tok),
    nt AS (SELECT doc_id, COUNT(*) AS n_tokens
           FROM g GROUP BY doc_id),
    nv AS (SELECT first_doc AS doc_id, COUNT(*) AS new_types FROM fs GROUP BY 1)
    SELECT nt.doc_id,
           CAST(SUM(nt.n_tokens) OVER (ORDER BY nt.doc_id) AS BIGINT)
             AS cum_tokens,
           CAST(SUM(COALESCE(nv.new_types, 0)) OVER (ORDER BY nt.doc_id)
                AS BIGINT) AS vocab_size
    FROM nt LEFT JOIN nv ON nt.doc_id = nv.doc_id
    """,
)
def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve (Heaps' law): cumulative token count vs
    distinct-type count in doc_id order — the corpus-shape diagnostic that
    tells you whether more data still buys vocabulary. Running distinct is
    computed WITHOUT distinct-state: each type contributes at its
    first-seen doc (one group-by), then a cumulative sum over the per-doc
    table — same first-seen trick as running_distinct_users.

    Scale: two token-keyed shuffles (first-seen, per-doc counts) over the
    exploded stream, both map-side combined; the cumulative window runs
    over the |docs|-row table, not the corpus. The single-partition
    ORDER BY window is bounded by |docs| rows of 3 longs."""
    from ..functions.text import tokens

    (docs,) = _t(spark, sf_dir, "documents")
    g = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    fs = g.groupBy("tok").agg(F.min("doc_id").alias("first_doc"))
    nt = g.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tokens"))
    nv = fs.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("new_types")
    )
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    return (
        nt.join(nv, "doc_id", "left")
        .select(
            "doc_id",
            F.sum("n_tokens").over(w).cast("bigint").alias("cum_tokens"),
            F.sum(F.coalesce(F.col("new_types"), F.lit(0)))
            .over(w)
            .cast("bigint")
            .alias("vocab_size"),
        )
    )


@query(
    "class_weights",
    oracle="""
    WITH c AS (SELECT label, COUNT(*) AS n FROM embeddings GROUP BY label),
    t AS (SELECT CAST(SUM(n) AS BIGINT) AS total, CAST(COUNT(*) AS BIGINT)
                   AS n_classes FROM c)
    SELECT c.label, c.n,
           CAST(t.total AS DOUBLE)
             / (CAST(t.n_classes AS DOUBLE) * CAST(c.n AS DOUBLE)) AS weight
    FROM c, t
    """,
)
def q_class_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced class weights (sklearn's n/(k·n_c) convention) from label
    counts — what a training loop feeds its loss to counter class
    imbalance. Weight is one double expression over exact longs, so it is
    bit-deterministic; the totals side is a 1-row broadcast.

    Scale: one map-side-combined count shuffle; everything downstream
    operates on the k-row class table."""
    (emb,) = _t(spark, sf_dir, "embeddings")
    c = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    t = c.agg(
        F.sum("n").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
    )
    return c.crossJoin(F.broadcast(t)).select(
        "label",
        "n",
        (
            F.col("total").cast("double")
            / (F.col("n_classes").cast("double") * F.col("n").cast("double"))
        ).alias("weight"),
    )


@query(
    "dedup_rate_report",
    oracle=f"""
    WITH RECURSIVE t AS (SELECT doc_id, {_SHINGLES} AS sh FROM documents),
    f AS (SELECT doc_id, sh FROM t WHERE len(sh) > 0),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM f a, f b
      WHERE a.doc_id < b.doc_id
        AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / (CAST(len(a.sh) + len(b.sh) AS DOUBLE)
                 - CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)) >= 0.8
    ),
    e AS (SELECT id_a AS u, id_b AS v FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
    reach AS (
      SELECT u AS node, v AS r FROM e
      UNION
      SELECT reach.node, e.v FROM reach JOIN e ON reach.r = e.u
    ),
    comp AS (SELECT node, LEAST(node, MIN(r)) AS component
             FROM reach GROUP BY node),
    exact AS (SELECT COUNT(*) - COUNT(DISTINCT md5({_NORM})) AS n_exact_dups
              FROM documents)
    SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
           CAST((SELECT n_exact_dups FROM exact) AS BIGINT) AS n_exact_dups,
           (SELECT COUNT(*) FROM comp WHERE node <> component)
             AS n_neardup_losers,
           (SELECT COUNT(DISTINCT component) FROM comp) AS n_neardup_clusters,
           (SELECT COUNT(*) FROM documents)
             - (SELECT COUNT(*) FROM comp WHERE node <> component)
             AS n_survivors
    """,
)
def q_dedup_rate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-row corpus-health summary a dedup pipeline publishes after
    every batch: total docs, exact-duplicate rows (docs minus distinct
    fingerprints), near-dup cluster losers/clusters (MinHash j≥0.8 →
    connected components), and the surviving corpus size — the numbers that
    drive 'is today's crawl worth keeping' decisions. Composes the exact
    and near-dup operators already proven above; every count is an exact
    integer, so the report hash-matches by construction.

    Scale: the same plans as doc_dedup_exact + neardup_survivors, ending in
    three tiny scalar aggregates; nothing new shuffles."""
    from ..operators.graph import connected_components

    (docs,) = _t(spark, sf_dir, "documents")
    # fully lazy: the doc count and exact-dup count come from ONE aggregate,
    # never a driver-side .count()
    exact = docs.select(fingerprint(F.col("text")).alias("fp")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        (F.count(F.lit(1)) - F.countDistinct("fp"))
        .cast("bigint")
        .alias("n_exact_dups"),
    )
    pairs = minhash_lsh_pairs(docs, num_hashes=64, n_bands=32, threshold=0.8)
    comp = connected_components(pairs.select("id_a", "id_b"))
    # coalesce: a corpus with NO near-dup pairs yields an empty component
    # frame, where SUM aggregates to NULL — the report must say 0, matching
    # the oracle's scalar subqueries
    stats = comp.agg(
        F.coalesce(
            F.sum(
                F.when(
                    F.col("node") != F.col("component"), F.lit(1)
                ).otherwise(F.lit(0))
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("n_neardup_losers"),
        F.countDistinct("component").alias("n_neardup_clusters"),
    )
    return (
        exact.crossJoin(stats)
        .select(
            "n_docs",
            "n_exact_dups",
            "n_neardup_losers",
            "n_neardup_clusters",
            (F.col("n_docs") - F.col("n_neardup_losers"))
            .cast("bigint")
            .alias("n_survivors"),
        )
    )


@query(
    "source_overlap",
    oracle=f"""
    WITH v AS (
      SELECT DISTINCT source, unnest({_TOKS}) AS tok FROM documents
    ),
    sz AS (SELECT source, COUNT(*) AS n_types FROM v GROUP BY source),
    inter AS (
      SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared
      FROM v a JOIN v b ON a.tok = b.tok AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT i.source_a, i.source_b, i.n_shared,
           CAST(i.n_shared AS DOUBLE)
             / CAST(sa.n_types + sb.n_types - i.n_shared AS DOUBLE) AS jaccard
    FROM inter i
    JOIN sz sa ON i.source_a = sa.source
    JOIN sz sb ON i.source_b = sb.source
    """,
)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary overlap between corpus sources (type-level
    Jaccard) — the domain-similarity matrix mixture tuning reads: sources
    whose vocabularies nearly coincide are redundant; disjoint ones add
    coverage. The pair set comes from a posting-list self-join on the
    distinct (source, token) table — cost O(token collisions), never
    |docs|²; counts are exact integers and the Jaccard is one division.

    Scale: the distinct (source, token) table is vocabulary-sized; the
    self-join key is the token (heavy tokens are the only skew — cap
    document frequency as in decontamination if a token appears in every
    source)."""
    from ..functions.text import tokens

    (docs,) = _t(spark, sf_dir, "documents")
    v = docs.select(
        "source", F.explode(tokens(F.col("text"))).alias("tok")
    ).distinct()
    sz = v.groupBy("source").agg(F.count(F.lit(1)).alias("n_types"))
    a = v.select(F.col("source").alias("source_a"), "tok")
    b = v.select(F.col("source").alias("source_b"), "tok")
    inter = (
        a.join(b, "tok")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sz.select(F.col("source").alias("source_a"), F.col("n_types").alias("na"))
    sb = sz.select(F.col("source").alias("source_b"), F.col("n_types").alias("nb"))
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            (
                F.col("n_shared").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_shared")).cast("double")
            ).alias("jaccard"),
        )
    )


# --- end-to-end curation funnel (capstone composition) ----------------------

_CURATION_CTES = f"""
    WITH g AS (
      SELECT doc_id, text,
             CAST(len({_TOKS}) AS DOUBLE) AS n_tok,
             CAST(length(regexp_replace({_NORM}, ' ', '', 'g')) AS DOUBLE)
               AS n_nonspace,
             CAST(len(list_filter({_TOKS}, t -> regexp_matches(t, '[a-z]')))
               AS DOUBLE) AS n_alpha,
             CAST({_sql_count_in(EN_STOPWORDS)} AS DOUBLE) AS n_stop,
             CAST(len(list_distinct({_TOKS})) AS DOUBLE) AS n_distinct
      FROM documents
    ),
    quality AS (
      SELECT doc_id, text FROM g
      WHERE n_tok >= 10 AND n_tok <= 100000
        AND n_nonspace / greatest(n_tok, 1.0) >= 3.0
        AND n_nonspace / greatest(n_tok, 1.0) <= 10.0
        AND n_alpha / greatest(n_tok, 1.0) >= 0.8
        AND n_stop >= 2
        AND n_distinct / greatest(n_tok, 1.0) >= 0.3
    ),
    canon AS (
      SELECT MIN(doc_id) AS doc_id
      FROM (SELECT doc_id, md5({_NORM}) AS fp FROM quality)
      GROUP BY fp
    ),
    exact_surv AS (SELECT q.doc_id, q.text FROM quality q JOIN canon USING (doc_id)),
    sh AS (
      SELECT doc_id, {_SHINGLES} AS sh FROM exact_surv
    ),
    f AS (SELECT doc_id, sh FROM sh WHERE len(sh) > 0),
    nd_pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM f a, f b
      WHERE a.doc_id < b.doc_id
        AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / (CAST(len(a.sh) + len(b.sh) AS DOUBLE)
                 - CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)) >= 0.8
    ),
    curated AS (
      SELECT doc_id, text FROM exact_surv
      WHERE doc_id NOT IN (SELECT id_b FROM nd_pairs)
    )
"""

_SQL_CURATION = (
    _CURATION_CTES
    + f"""
    SELECT
      (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_raw,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM quality) AS n_quality,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM exact_surv) AS n_exact,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM curated) AS n_curated,
      (SELECT CAST(SUM(len({_TOKS})) AS BIGINT) FROM curated) AS total_tokens,
      (SELECT CAST(SUM(CAST(floor(CAST(greatest(len({_TOKS}) - 17, 0) AS DOUBLE)
                                  / 16.0) AS BIGINT) + 1) AS BIGINT)
       FROM curated) AS n_chunks
"""
)

_SQL_CURATION_AUDIT = (
    _CURATION_CTES
    + """
    SELECT d.doc_id,
           CASE WHEN q.doc_id IS NULL THEN 'gopher'
                WHEN c.doc_id IS NULL THEN 'exact_dup'
                WHEN nd.id_b IS NOT NULL THEN 'near_dup'
                ELSE 'kept' END AS stage
    FROM documents d
    LEFT JOIN quality q ON q.doc_id = d.doc_id
    LEFT JOIN canon c ON c.doc_id = d.doc_id
    LEFT JOIN (SELECT DISTINCT id_b FROM nd_pairs) nd ON nd.id_b = d.doc_id
    """
)


@query("curation_funnel", oracle=_SQL_CURATION)
def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole pretraining-data curation pipeline as ONE lazy plan, with
    each stage applied to the previous stage's survivors (a sequential
    funnel, unlike dedup_rate_report's independent per-operator counts):

      raw → Gopher hard quality gates → exact fingerprint dedup (min-id
      canonical) → MinHash-LSH near-dedup with the monotone min-id drop
      rule (no iterative closure, so the funnel stays a pure lazy plan)
      → final-corpus accounting (documents, whitespace tokens, and the
      32/16 sliding-window chunk count via the closed-form
      floor(max(n-W+S-1,0)/S)+1 — no explode needed to COUNT chunks).

    One row: n_raw, n_quality, n_exact, n_curated, total_tokens, n_chunks.
    The oracle replays the funnel with brute-force Jaccard in place of the
    banded MinHash (equivalent at j≥0.8 up to the ~5e-15 band-miss bound,
    the same sanction minhash_neardup carries). Scale shape: each stage is
    the already-audited plan of its standalone operator; the five 1-row
    stage aggregates join by broadcast."""
    import functools

    from ..functions.text import token_count
    from ..operators.dedup import minhash_lsh_pairs

    (docs,) = _t(spark, sf_dir, "documents")
    rules = gopher_rules(F.col("text"))
    quality = docs.filter(functools.reduce(lambda a, b: a & b, rules.values()))
    canon = (
        quality.select("doc_id", fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    exact_surv = quality.join(canon, "doc_id", "left_semi")
    losers = (
        minhash_lsh_pairs(exact_surv, threshold=0.8)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    curated = exact_surv.join(losers, "doc_id", "left_anti")

    n_tok = token_count(F.col("text"))
    n_chunks_doc = (
        F.floor(
            F.greatest(n_tok - F.lit(17), F.lit(0)).cast("double") / F.lit(16.0)
        ).cast("bigint")
        + F.lit(1).cast("bigint")
    )
    return (
        docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_raw"))
        .crossJoin(quality.agg(F.count(F.lit(1)).cast("bigint").alias("n_quality")))
        .crossJoin(exact_surv.agg(F.count(F.lit(1)).cast("bigint").alias("n_exact")))
        .crossJoin(
            curated.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_curated"),
                F.sum(n_tok).cast("bigint").alias("total_tokens"),
                F.sum(n_chunks_doc).cast("bigint").alias("n_chunks"),
            )
        )
    )


@query("curation_audit", oracle=_SQL_CURATION_AUDIT)
def q_curation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level provenance for the curation funnel: every document labeled
    with the FIRST stage that dropped it — 'gopher' (failed a hard quality
    gate), 'exact_dup' (same fingerprint as a smaller-id quality doc),
    'near_dup' (MinHash loser among exact survivors), or 'kept'. The
    audit table is what pipeline debugging actually needs (WHY did doc X
    disappear; which gate dominates per source) — counts alone
    (curation_funnel) can't answer it. Same stage plans as the funnel,
    composed as three left joins of id-only marker frames against the raw
    corpus: the wide text column never travels through the markers."""
    import functools

    from ..operators.dedup import minhash_lsh_pairs

    (docs,) = _t(spark, sf_dir, "documents")
    rules = gopher_rules(F.col("text"))
    quality = docs.filter(functools.reduce(lambda a, b: a & b, rules.values()))
    canon = (
        quality.select("doc_id", fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    exact_surv = quality.join(canon, "doc_id", "left_semi")
    nd_losers = (
        minhash_lsh_pairs(exact_surv, threshold=0.8)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    q_ids = quality.select("doc_id").withColumn("__q", F.lit(1))
    c_ids = canon.withColumn("__c", F.lit(1))
    nd_ids = nd_losers.withColumn("__nd", F.lit(1))
    return (
        docs.select("doc_id")
        .join(q_ids, "doc_id", "left")
        .join(c_ids, "doc_id", "left")
        .join(nd_ids, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("__q").isNull(), F.lit("gopher"))
            .when(F.col("__c").isNull(), F.lit("exact_dup"))
            .when(F.col("__nd").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("kept"))
            .alias("stage"),
        )
    )


# --- Spark 4 Python DataSource: deterministic synthetic load generator ------

_SYN_MD5 = (
    "('0x' || substr(md5('42:' || p::VARCHAR || ':' || i::VARCHAR || ':{f}'),"
    " 1, 16))::UBIGINT"
)

_SQL_SYNTH = f"""
    WITH pp AS (SELECT unnest(generate_series(0, 3)) AS p),
    ii AS (SELECT unnest(generate_series(0, 499)) AS i),
    idx AS (SELECT p, i FROM pp, ii),
    f AS (
      SELECT p * 500 + i AS event_id,
             {_SYN_MD5.format(f="e")} % 5 AS ei,
             {_SYN_MD5.format(f="v")} % 10000 AS cents
      FROM idx
    )
    SELECT ['play','pause','skip','like','share'][CAST(ei + 1 AS INTEGER)] AS event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(cents AS BIGINT)) AS BIGINT) AS value_cents,
           CAST(MIN(event_id) AS BIGINT) AS min_event_id,
           CAST(MAX(event_id) AS BIGINT) AS max_event_id
    FROM f GROUP BY event_type
"""


@query("synthetic_source_agg", oracle=_SQL_SYNTH)
def q_synthetic_source_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate over the custom Python DataSource (sources/synthetic.py,
    Spark 4 DataSource API): 4 partitions × 500 generated events grouped by
    event_type. The generator is a pure md5 function of (seed, partition,
    row), so even a SOURCE WITH NO STORAGE carries an exact DuckDB oracle —
    the oracle regenerates the same rows from the same hash. value sums go
    through exact integer cents (floor(value·100 + 0.5) inverts the
    generator's cents/100 exactly), never order-dependent double sums.
    sf_dir is unused by design: this is the load-generation surface for
    arbitrary-scale shakeout runs with zero input files."""
    from ..sources.synthetic import register

    register(spark)
    df = (
        spark.read.format("synthetic_events")
        .option("rows_per_partition", 500)
        .option("num_partitions", 4)
        .load()
    )
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint"))
        .cast("bigint")
        .alias("value_cents"),
        F.min("event_id").cast("bigint").alias("min_event_id"),
        F.max("event_id").cast("bigint").alias("max_event_id"),
    )


# --- JVM-side synthetic documents (scale-study load generation) -------------


def _sql_synth_docs() -> str:
    from ..sources.synthetic import synthetic_documents_sql

    return f"""
    WITH g AS ({synthetic_documents_sql(2000)})
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           md5(text) AS text_md5
    FROM g
    """


@query("synthetic_docs_stats", oracle=_sql_synth_docs())
def q_synthetic_docs_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Determinism contract of the JVM-side synthetic documents generator
    (sources/synthetic.synthetic_documents — the whole-stage-codegen
    load-gen that drives the 10-50x scale studies in tools/scale_study.py):
    2000 generated docs, per-doc token count and md5 of the FULL text. The
    oracle regenerates the corpus in DuckDB from the same md5 token draws
    (synthetic_documents_sql), so a value-hash match proves the generated
    text is bit-identical across engines — scale-study inputs are portable
    and re-runnable anywhere. sf_dir is unused by design (zero input
    files)."""
    from ..sources.synthetic import synthetic_documents

    docs = synthetic_documents(spark, 2000)
    return docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
        F.md5(F.col("text")).alias("text_md5"),
    )


# --- deterministic weighted sampling ----------------------------------------

_WS_KEY_SQL = (
    "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::UBIGINT"
    " AS DOUBLE) / CAST(n_chars AS DOUBLE)"
)

_SQL_WEIGHTED_SAMPLE = f"""
    SELECT doc_id, source, n_chars, sample_key FROM (
      SELECT doc_id, source, n_chars,
             {_WS_KEY_SQL} AS sample_key,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY {_WS_KEY_SQL} ASC, doc_id ASC) AS rn
      FROM documents WHERE n_chars > 0)
    WHERE rn <= 5
"""


@query("weighted_sample", oracle=_SQL_WEIGHTED_SAMPLE)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted bottom-k sample: per source, the 5 documents
    with the smallest h/w priority key, where h is a 60-bit md5 hash of
    the doc id and w = n_chars — the priority-sampling family (Duffield,
    Lund & Thorup, JACM 2007): selection probability rises with weight,
    yet membership is a pure function of (key, weight), so the sample is
    identical across runs, engines, partitionings, and corpus growth —
    the reproducible form of length-weighted mixture draws (vs
    stratified_sample's unweighted quota). The key is ONE IEEE double
    division over exact integers (division is correctly rounded — unlike
    ln/pow formulations whose libm results differ across engines), so
    the ordering replays bit-for-bit in SQL. One shuffle on the stratum."""
    from pyspark.sql import Window as W

    (docs,) = _t(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("bigint")
    key = h.cast("double") / F.col("n_chars").cast("double")
    w = W.partitionBy("source").orderBy(key.asc(), F.col("doc_id").asc())
    return (
        docs.filter(F.col("n_chars") > 0)
        .select("doc_id", "source", "n_chars", key.alias("sample_key"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .drop("rn")
    )


_SQL_SYNTH_STREAM = f"""
    WITH pp AS (SELECT unnest(generate_series(0, 2)) AS p),
    ii AS (SELECT unnest(generate_series(0, 99)) AS i),
    idx AS (SELECT p, i FROM pp, ii),
    f AS (
      SELECT {_SYN_MD5.format(f="e")} % 5 AS ei,
             {_SYN_MD5.format(f="v")} % 10000 AS cents
      FROM idx
    )
    SELECT ['play','pause','skip','like','share'][CAST(ei + 1 AS INTEGER)]
             AS event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(cents AS BIGINT)) AS BIGINT) AS value_cents
    FROM f GROUP BY event_type
"""


@query("streaming_synthetic_agg", oracle=_SQL_SYNTH_STREAM)
def q_streaming_synthetic_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming aggregation over the custom Python DataSource's
    STREAM half (sources/synthetic.py): three trigger-once micro-batches
    share one checkpoint, each folding 100 more generated events into a
    complete-mode groupBy — exercising offset tracking, state-store
    recovery between runs, and the replayable-source contract end-to-end.
    Because each batch is a pure md5 function of its offset, even this
    STREAMING result carries an exact DuckDB oracle (regenerate batches
    0-2, aggregate). sf_dir unused by design (storage-free source)."""
    import shutil
    import tempfile

    from ..sources.synthetic import register

    register(spark)
    sink = "streaming_synthetic_mem"
    sdf = (
        spark.readStream.format("synthetic_events")
        .option("rows_per_batch", 100)
        .load()
    )
    agg = sdf.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint"))
        .cast("bigint")
        .alias("value_cents"),
    )
    from ..streaming.pipeline import sized_state_partitions

    d = tempfile.mkdtemp(prefix="synthstream_")
    try:
        # storage-free source -> no input bytes -> floor partition count
        with sized_state_partitions(spark):
            for _ in range(3):
                (
                    agg.writeStream.outputMode("complete")
                    .format("memory")
                    .queryName(sink)
                    .option("checkpointLocation", d + "/ck")
                    .trigger(once=True)
                    .start()
                    .awaitTermination()
                )
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return spark.table(sink)


_SQL_SOURCE_QUALITY = f"""
    WITH g AS (
      SELECT source,
             CAST(len({_TOKS}) AS BIGINT) AS n_tok,
             CAST(length(regexp_replace({_NORM}, ' ', '', 'g')) AS DOUBLE)
               AS n_nonspace,
             CAST(len(list_filter({_TOKS}, t -> regexp_matches(t, '[a-z]')))
               AS DOUBLE) AS n_alpha,
             CAST({_sql_count_in(EN_STOPWORDS)} AS DOUBLE) AS n_stop,
             CAST(len(list_distinct({_TOKS})) AS DOUBLE) AS n_distinct,
             n_chars
      FROM documents
    ),
    r AS (
      SELECT source, n_tok, n_chars,
             CASE WHEN n_tok >= 10 AND n_tok <= 100000
                   AND n_nonspace / greatest(CAST(n_tok AS DOUBLE), 1.0) >= 3.0
                   AND n_nonspace / greatest(CAST(n_tok AS DOUBLE), 1.0) <= 10.0
                   AND n_alpha / greatest(CAST(n_tok AS DOUBLE), 1.0) >= 0.8
                   AND n_stop >= 2
                   AND n_distinct / greatest(CAST(n_tok AS DOUBLE), 1.0) >= 0.3
             THEN 1 ELSE 0 END AS pass
      FROM g
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(pass) AS BIGINT) AS n_pass,
           CAST(SUM(pass) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS pass_rate,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_chars
    FROM r GROUP BY source
"""


@query("source_quality_report", oracle=_SQL_SOURCE_QUALITY)
def q_source_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus health dashboard: document count, Gopher-gate pass
    count/rate, total whitespace tokens, mean document length — the
    monitoring view a curation pipeline watches per ingest source (which
    domain is degrading, which to re-crawl). One scan + one groupBy(source);
    rates are single IEEE divisions over exact integer counts, so the row
    values are engine-exact."""
    import functools

    (docs,) = _t(spark, sf_dir, "documents")
    rules = gopher_rules(F.col("text"))
    passes = functools.reduce(lambda a, b: a & b, rules.values())
    n_tok = token_count(F.col("text"))
    return (
        docs.select(
            "source",
            n_tok.alias("n_tok"),
            F.col("n_chars"),
            F.when(passes, 1).otherwise(0).alias("pass"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("pass").cast("bigint").alias("n_pass"),
            (F.sum("pass").cast("double") / F.count(F.lit(1)).cast("double")).alias(
                "pass_rate"
            ),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
            (
                F.sum("n_chars").cast("double") / F.count(F.lit(1)).cast("double")
            ).alias("avg_chars"),
        )
    )


_SQL_INTRA_DOC = f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    s AS (
      SELECT doc_id,
             list_transform(
               range(0, CAST(ceil(len(toks) / 10.0) AS BIGINT)),
               i -> array_to_string(list_slice(toks, i*10 + 1, i*10 + 10), ' '))
               AS segs
      FROM t
    ),
    k AS (
      SELECT doc_id, segs,
             list_filter(segs, (x, i) -> list_position(segs, x) = i) AS kept
      FROM s
    )
    SELECT doc_id,
           CAST(len(segs) AS BIGINT) AS n_segments,
           CAST(len(kept) AS BIGINT) AS kept_segments,
           array_to_string(kept, ' ') AS clean_text
    FROM k
"""


@query("intra_doc_dedup", oracle=_SQL_INTRA_DOC)
def q_intra_doc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-document segment dedup — the CCNet intra-doc repetition
    cleaner that complements paragraph_dedup's cross-corpus pass: segment
    each document (same fixed 10-token windows as chunk_dedup, stated
    substitution for newline splits on this corpus), keep only each
    segment's FIRST occurrence in document order, reassemble. Entirely
    per-row higher-order expressions (transform/filter with index lambda;
    first-occurrence via array_position) — zero shuffles, zero joins: the
    ideal scale shape because intra-doc state never leaves the row."""
    from ..functions.text import tokens

    toks = tokens(F.col("text"))
    n_seg = F.ceil(F.size(toks) / F.lit(10.0)).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), n_seg - 1),
        lambda i: F.array_join(F.slice(toks, i * 10 + 1, 10), " "),
    )
    (docs,) = _t(spark, sf_dir, "documents")
    d = docs.select("doc_id", segs.alias("segs"))
    kept = F.filter(
        "segs", lambda x, i: F.array_position(F.col("segs"), x) == i + 1
    )
    return d.select(
        "doc_id",
        F.size("segs").cast("bigint").alias("n_segments"),
        F.size(kept).cast("bigint").alias("kept_segments"),
        F.array_join(kept, " ").alias("clean_text"),
    )


@query(
    "repeated_spans",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    s AS (
      SELECT doc_id, toks,
             unnest(CASE WHEN len(toks) >= 10
                         THEN generate_series(1, len(toks) - 9, 1)
                         ELSE CAST([] AS BIGINT[]) END) AS st
      FROM t
    ),
    w AS (
      SELECT doc_id,
             md5(array_to_string(list_slice(toks, st, st + 9), ' ')) AS fp
      FROM s
    ),
    f AS (SELECT fp, COUNT(DISTINCT doc_id) AS docs FROM w GROUP BY fp),
    d AS (
      SELECT w.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_windows,
             CAST(SUM(CASE WHEN f.docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_repeated
      FROM w JOIN f USING (fp) GROUP BY 1
    )
    SELECT doc_id, n_windows, n_repeated,
           CAST(n_repeated AS DOUBLE) / CAST(n_windows AS DOUBLE)
             AS repeated_fraction
    FROM d
    """,
)
def q_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style repeated-span report
    (operators/dedup.repeated_window_stats): dense 10-token windows
    (10-gram shingles) fingerprinted and counted across documents; any
    verbatim clone of ≥ 10 tokens shares a full window whatever its
    alignment, so cross-doc duplication is caught with recall 1 and scored per doc
    as repeated_fraction — the signal ExactSubstr dedup cuts on (Lee et
    al. 2022). Window text is md5'd before any shuffle; one fp groupBy,
    one join back, one doc groupBy. The single float division happens
    once per output row — engine-exact."""
    from ..operators.dedup import repeated_window_stats

    (docs,) = _t(spark, sf_dir, "documents")
    return repeated_window_stats(docs, window_tokens=10, stride=1)


@query(
    "vocab_coverage",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest({_TOKS}) AS tok FROM documents
    ),
    t AS (SELECT source, tok FROM tok WHERE tok <> ''),
    vocab AS (
      SELECT tok FROM (
        SELECT tok, COUNT(*) AS cnt FROM t GROUP BY tok
        ORDER BY cnt DESC, tok ASC LIMIT 1000
      )
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS oov_tokens,
           CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS oov_rate
    FROM t LEFT JOIN vocab v USING (tok)
    GROUP BY source
    """,
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage audit: build the top-1000 token vocab
    (count desc, token asc — the deterministic tie-break every top-k here
    uses) and measure each source's out-of-vocabulary OCCURRENCE rate —
    the number a tokenizer/vocab decision is judged by before committing
    to a pretraining run. The vocab is broadcast (1000 rows) against the
    exploded token stream, so the corpus shuffles once for the counts and
    once for the per-source rollup; the single float division per source
    row is engine-exact."""
    from ..functions.text import tokens

    (docs,) = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(tokens(F.col("text"))).alias("tok")
    ).filter(F.col("tok") != "")
    vocab = (
        tok.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("tok").asc())
        .limit(1000)
        .select("tok", F.lit(1).alias("__v"))
    )
    return (
        tok.join(F.broadcast(vocab), "tok", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("__v").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("oov_tokens"),
        )
        .withColumn(
            "oov_rate",
            F.col("oov_tokens").cast("double") / F.col("n_tokens").cast("double"),
        )
    )


# --- PMI collocation mining -------------------------------------------------


def _pmi_oracle() -> str:
    from ..operators.classify import log2_fp_sql

    lg = lambda x: log2_fp_sql(x, dialect="duck")  # noqa: E731
    return f"""
    WITH t AS (SELECT {_TOKS} AS tk FROM documents),
    g AS (
      SELECT unnest(list_transform(range(1, greatest(len(tk) - 1, 0) + 1),
                    i -> [tk[i], tk[i + 1]])) AS bg
      FROM t
    ),
    c AS (
      SELECT bg[1] AS w1, bg[2] AS w2, CAST(COUNT(*) AS BIGINT) AS c_xy
      FROM g WHERE bg[1] <> '' AND bg[2] <> '' GROUP BY 1, 2
    ),
    win AS (
      SELECT w1, w2, c_xy,
             CAST(SUM(c_xy) OVER (PARTITION BY w1) AS BIGINT) AS c_left,
             CAST(SUM(c_xy) OVER (PARTITION BY w2) AS BIGINT) AS c_right
      FROM c
    ),
    tot AS (SELECT CAST(SUM(c_xy) AS BIGINT) AS n_total FROM c)
    SELECT w1, w2, c_xy, c_left, c_right,
           {lg("c_xy")} + {lg("n_total")} - {lg("c_left")} - {lg("c_right")}
             AS pmi_fp
    FROM win, tot WHERE c_xy >= 5
    """


@query("token_pmi", oracle=_pmi_oracle())
def q_token_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise-mutual-information collocation mining over adjacent token
    bigrams — the classical phrase detector (Church & Hanks '90; the
    word2vec-phrases preprocessing step): PMI(x,y) = log2(p(xy) /
    (p(x·)·p(·y))) with the marginals taken as left-slot / right-slot
    bigram occupancy, so probabilities share one denominator and the score
    is four integer-log terms. High-PMI pairs are multiword units worth
    fusing into single tokens before tokenizer training; the c_xy ≥ 5
    support floor is the standard hapax guard.

    Exactness: pmi_fp is the fixed-point piecewise-linear log2 over exact
    bigint counts (operators/classify.log2_fp_sql, scale 65536 ≈ 1/65536
    bit resolution, max interpolation error ~0.086 bit) — all-integer on
    both engines, so an information-theoretic score carries a bit-exact
    oracle. Scale: bigrams explode map-side into one combined count
    shuffle (vocab²-bounded); the marginal windows run over the AGGREGATED
    bigram table keyed by single tokens, never the corpus; the grand total
    is a 1-row aggregate broadcast back — no corpus-wide window, no second
    corpus scan."""
    from ..operators.classify import log2_fp_sql

    (docs,) = _t(spark, sf_dir, "documents")
    bigrams = (
        docs.select(tokens(F.col("text")).alias("tk"))
        .filter(F.size("tk") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(tk) - 1),"
                    " i -> array(element_at(tk, i), element_at(tk, i + 1)))"
                )
            ).alias("bg")
        )
        .select(
            F.col("bg").getItem(0).alias("w1"),
            F.col("bg").getItem(1).alias("w2"),
        )
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
    )
    counted = bigrams.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("c_xy")
    )
    win = counted.withColumn(
        "c_left", F.sum("c_xy").over(Window.partitionBy("w1"))
    ).withColumn("c_right", F.sum("c_xy").over(Window.partitionBy("w2")))
    total = counted.agg(F.sum("c_xy").cast("bigint").alias("n_total"))
    lg = lambda x: F.expr(log2_fp_sql(x, dialect="spark"))  # noqa: E731
    return (
        win.join(F.broadcast(total))
        .filter(F.col("c_xy") >= 5)
        .select(
            "w1",
            "w2",
            "c_xy",
            "c_left",
            "c_right",
            (lg("c_xy") + lg("n_total") - lg("c_left") - lg("c_right")).alias(
                "pmi_fp"
            ),
        )
    )


def _cluster_keywords_oracle() -> str:
    from .clustering import _N_ITER as _KM_ITER
    from .clustering import _kmeans_ctes

    return (
        _kmeans_ctes()
        + f"""
    , ctoks AS (
      SELECT a.cid AS cluster, unnest({_TOKS}) AS term
      FROM a{_KM_ITER} a JOIN documents d ON d.doc_id = a.vec_id
    ),
    ctf AS (
      SELECT cluster, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM ctoks
      WHERE NOT list_contains({{stoplist}}, term) AND term <> ''
      GROUP BY cluster, term
    ),
    nc AS (
      SELECT CAST(COUNT(DISTINCT cid) AS BIGINT) AS n_clusters
      FROM a{_KM_ITER}
    ),
    csc AS (
      SELECT cluster, term, tf,
             CAST(COUNT(*) OVER (PARTITION BY term) AS BIGINT) AS df
      FROM ctf
    )
    SELECT cluster, term, tf, df,
           CAST(tf * n_clusters AS DOUBLE) / df AS score,
           CAST(ROW_NUMBER() OVER (PARTITION BY cluster
                                   ORDER BY CAST(tf * n_clusters AS DOUBLE) / df DESC,
                                            term) AS BIGINT) AS rnk
    FROM csc, nc
    QUALIFY rnk <= 5
    """
    ).replace("{stoplist}", _sql_list(EN_STOPWORDS))


@query("cluster_keywords", oracle=_cluster_keywords_oracle())
def q_cluster_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 characteristic terms per k-means cluster — class-TF-IDF
    (BERTopic's c-TF-IDF, Grootendorst 2022, log-free variant): treat
    each cluster's member documents as ONE pseudo-document, score term t
    in cluster c as tf(t,c) · n_clusters / df_clusters(t). This is the
    "describe your clusters" step every embedding-curation pipeline needs
    after SemDeDup-style clustering: the same deterministic int8 k-means
    assignment (kmeans_clusters) composed with the tfidf_topk token
    machinery, so the FULL composition — Lloyd iterations through keyword
    ranking — still carries an exact DuckDB oracle. Log dropped for the
    same last-ulp reason as tfidf_topk; ranks are identical whenever ties
    break by df.

    Plan: the narrow (vec_id, cluster) assignment joins documents on the
    shared key, tokens explode map-side AFTER text is projected away from
    the shuffle, one groupBy(cluster, term), cluster-df via one window
    over term, n_clusters broadcast as a 1-row aggregate, top-5 via
    row_number. At 100 TB the per-(cluster, term) frame is bounded by
    k · vocabulary, not corpus size."""
    from ..operators.clustering import kmeans_int8
    from ..functions.text import tokens as _tok
    from .clustering import _DIM as _KM_DIM
    from .clustering import _K as _KM_K
    from .clustering import _N_ITER as _KM_ITER

    docs, emb = _t(spark, sf_dir, "documents", "embeddings")
    assign = kmeans_int8(emb, k=_KM_K, n_iter=_KM_ITER, dim=_KM_DIM).select(
        "vec_id", "cluster"
    )
    toks = (
        docs.join(assign, docs.doc_id == assign.vec_id)
        .select("cluster", F.explode(_tok(F.col("text"))).alias("term"))
        .filter(~F.col("term").isin(EN_STOPWORDS) & (F.col("term") != ""))
    )
    tf = toks.groupBy("cluster", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    nc = assign.agg(F.countDistinct("cluster").cast("bigint").alias("n_clusters"))
    sc = tf.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("term")).cast("bigint")
    )
    scored = sc.join(F.broadcast(nc)).withColumn(
        "score",
        (F.col("tf") * F.col("n_clusters")).cast("double") / F.col("df"),
    )
    rw = Window.partitionBy("cluster").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(rw).cast("bigint"))
        .filter(F.col("rnk") <= 5)
        .select("cluster", "term", "tf", "df", "score", "rnk")
    )


# --- conjunctive keyword search ---------------------------------------------

_SEARCH_TERMS = ["vector", "merge", "window"]
_SEARCH_SCALE = 1000
_SEARCH_K = 20


@query(
    "keyword_search",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS}) AS term FROM documents
    ),
    qt AS (SELECT unnest({_sql_list(_SEARCH_TERMS)}) AS term),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks JOIN qt USING (term)
      GROUP BY doc_id, term
    ),
    df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    hits AS (
      SELECT doc_id,
             CAST(SUM(tf * n_docs * {_SEARCH_SCALE} // df) AS BIGINT) AS score
      FROM tf JOIN df USING (term), n
      GROUP BY doc_id
      HAVING COUNT(*) = {len(_SEARCH_TERMS)}
    )
    SELECT doc_id, score,
           CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT)
             AS rnk
    FROM hits
    QUALIFY rnk <= {_SEARCH_K}
    """,
)
def q_keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive (AND) keyword retrieval: top-20 documents containing
    ALL query terms, ranked by summed scaled TF-IDF — the boolean-search
    primitive every corpus-inspection tool needs ("show me the docs about
    X and Y"). Scoring is Σ_t (tf·N·1000 div df_t) in exact bigint: one
    floor division per term makes the per-term contributions integers, so
    the sum is associative and partition-order-independent — a ranking
    both engines reproduce bit-for-bit (the float Σ tf·N/df would hash-
    flap on addition order).

    Plan (100 TB): tokens are filtered to the |Q| query terms BEFORE any
    shuffle (the inverted-index posting lists are built only for queried
    terms — corpus tokens never shuffle); per-(doc, term) tf is one
    map-side-combinable aggregation; df is an aggregate of the tf frame
    itself (3 rows, broadcast back); the AND is HAVING count = |Q|; final
    top-20 is sort+limit (TakeOrderedAndProject — never a global sort)."""
    (docs,) = _t(spark, sf_dir, "documents")
    from ..functions.text import tokens as _tok

    toks = docs.select(
        "doc_id", F.explode(_tok(F.col("text"))).alias("term")
    ).filter(F.col("term").isin(_SEARCH_TERMS))
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    n = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    hits = (
        tf.join(F.broadcast(df), "term")
        .join(F.broadcast(n))
        .withColumn(
            "contrib",
            F.expr(f"(tf * n_docs * {_SEARCH_SCALE}) div df"),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("contrib").cast("bigint").alias("score"),
            F.count(F.lit(1)).alias("n_terms"),
        )
        .filter(F.col("n_terms") == len(_SEARCH_TERMS))
    )
    top = hits.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(
        _SEARCH_K
    )
    rw = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return top.withColumn("rnk", F.row_number().over(rw).cast("bigint")).select(
        "doc_id", "score", "rnk"
    )


# --- BM25 ranked retrieval ----------------------------------------------------

# k1/b as parts-per-thousand (the Robertson defaults 1.2 / 0.75); TF
# normalization carries scale 10^6; IDF uses the fixed-point log2 at its
# native 65536. avg_len enters as the INTEGER floor(total_tokens/n_docs) —
# corpus-size-independent, which keeps every intermediate inside int64 at
# any corpus size (the exact-rational form would overflow at tot ~ 1e12).
_BM25_K1, _BM25_B, _BM25_SCALE, _BM25_K = 1200, 750, 1_000_000, 20


def _bm25_sql(where: str = "") -> str:
    from ..operators.classify import log2_fp_sql

    lg = lambda x: log2_fp_sql(x, dialect="duck")  # noqa: E731
    num = f"(tf * {_BM25_K1 + 1000} * 1000 * avgl)"
    den = (
        f"(tf * {_BM25_SCALE} * avgl"
        f" + {_BM25_K1 * (1000 - _BM25_B)} * avgl"
        f" + {_BM25_K1 * _BM25_B} * len)"
    )
    corpus = f"documents WHERE {where}" if where else "documents"
    return f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM {corpus}),
    lens AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS len FROM d),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS avgl
      FROM lens
    ),
    toks AS (SELECT doc_id, unnest(toks) AS term FROM d),
    qt AS (SELECT unnest({_sql_list(_SEARCH_TERMS)}) AS term),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks JOIN qt USING (term)
      GROUP BY doc_id, term
    ),
    df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
    contrib AS (
      SELECT tf.doc_id,
             ({lg("2 * n_docs + 2")} - {lg("2 * df + 1")})
               * (({num} * {_BM25_SCALE}) // {den}) AS c
      FROM tf
      JOIN df USING (term)
      JOIN lens ON lens.doc_id = tf.doc_id, stats
    ),
    hits AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS score,
             CAST(COUNT(*) AS BIGINT) AS n_terms
      FROM contrib GROUP BY doc_id
    )
    SELECT doc_id, score, n_terms,
           CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT)
             AS rnk
    FROM hits
    QUALIFY rnk <= {_BM25_K}
    """


@query("bm25_search", oracle=_bm25_sql())
def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (VERDICT r5 next-round #7 — the scoring
    upgrade over keyword_search's pre-BM25 tf·N/df): top-20 documents for
    the query terms under the Robertson/Lucene formulation, DISJUNCTIVE
    (any matching term scores; keyword_search keeps the conjunctive AND
    slot), every quantity exact fixed-point integer arithmetic so the
    ranking carries a bit-exact DuckDB oracle:

        idf_fp(t)  = lg2_fp(2N + 2) − lg2_fp(2·df_t + 1)
                     — the Lucene idf ln((N+1)/(df+0.5)) with the 0.5s
                     cleared by doubling and the log base shifted to 2
                     (a constant factor: ranking unchanged), via the
                     piecewise-linear integer log2 (PMI's primitive);
        tfc_fp     = (tf·(k1+1)·10⁹·avgl) div
                     (tf·10⁶·avgl + k1ₛ(1000−bₛ)·avgl + k1ₛbₛ·len)
                     — the k1/b saturation with k1=1.2, b=0.75 as
                     parts-per-thousand and avg_len as the INTEGER
                     floor(Σlen/N), which bounds every operand
                     independent of corpus size (the exact-rational
                     avg_len would overflow int64 near 10¹² tokens);
        score      = Σ_t idf_fp·tfc_fp — a sum of exact bigints, so
                     associative and partition-order-independent.

    Overflow bound: the widest operand is tf·(k1+1)·10⁹·avgl, safe while
    tf·avgl < 4·10⁶ (tf = one term's count in ONE document — e.g. tf up
    to 4,000 at avg_len 1,000; ANSI mode faults loudly past it, and
    lowering _BM25_SCALE trades a scoring decimal for headroom).

    Plan (100 TB): doc lengths are one narrow map-side projection; N and
    the floored avg_len are a 1-row broadcast; posting lists are built
    ONLY for the query terms before any shuffle (corpus tokens never
    shuffle); df re-aggregates the tiny tf frame; top-20 is sort+limit
    (TakeOrderedAndProject). The one doc-keyed join (tf ⋈ lens) moves
    (doc_id, len) pairs, never text."""
    from ..operators.classify import log2_fp_sql
    from ..functions.text import tokens as _tok

    (docs,) = _t(spark, sf_dir, "documents")
    lens = docs.select(
        "doc_id", F.size(_tok(F.col("text"))).cast("bigint").alias("len")
    )
    stats = lens.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.expr("sum(len) div count(1)").cast("bigint").alias("avgl"),
    )
    toks = docs.select(
        "doc_id", F.explode(_tok(F.col("text"))).alias("term")
    ).filter(F.col("term").isin(_SEARCH_TERMS))
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    lg = lambda x: log2_fp_sql(x, dialect="spark")  # noqa: E731
    num = f"(tf * {_BM25_K1 + 1000} * 1000 * avgl)"
    den = (
        f"(tf * {_BM25_SCALE} * avgl"
        f" + {_BM25_K1 * (1000 - _BM25_B)} * avgl"
        f" + {_BM25_K1 * _BM25_B} * len)"
    )
    contrib = (
        tf.join(F.broadcast(df), "term")
        .join(lens, "doc_id")
        .join(F.broadcast(stats))
        .withColumn(
            "c",
            F.expr(
                f"({lg('2 * n_docs + 2')} - {lg('2 * df + 1')})"
                f" * (({num} * {_BM25_SCALE}) div {den})"
            ),
        )
    )
    hits = contrib.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("score"),
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
    )
    top = hits.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(
        _BM25_K
    )
    rw = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return top.withColumn("rnk", F.row_number().over(rw).cast("bigint")).select(
        "doc_id", "score", "n_terms", "rnk"
    )


# --- proximity search (positional index) ------------------------------------

_PROX_A, _PROX_B, _PROX_K = "hash", "join", 20


@query(
    "proximity_search",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    pos AS (
      SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos,
             unnest(toks) AS term
      FROM d
    ),
    occ AS (
      SELECT doc_id, pos, term,
             lag(term) OVER (PARTITION BY doc_id ORDER BY pos) AS prev_term,
             lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev_pos
      FROM pos WHERE term IN ('{_PROX_A}', '{_PROX_B}')
    ),
    agg AS (
      SELECT doc_id,
             CAST(MIN(CASE WHEN prev_term <> term
                           THEN pos - prev_pos END) AS BIGINT) AS min_gap,
             CAST(SUM(CASE WHEN term = '{_PROX_A}' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN term = '{_PROX_B}' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_b
      FROM occ GROUP BY doc_id
    )
    SELECT doc_id, min_gap, n_a, n_b,
           CAST(ROW_NUMBER() OVER (ORDER BY min_gap ASC, doc_id ASC)
             AS BIGINT) AS rnk
    FROM agg WHERE min_gap IS NOT NULL
    QUALIFY rnk <= {_PROX_K}
    """,
)
def q_proximity_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proximity retrieval over a positional inverted index: top-20
    documents where the query terms 'hash' and 'join' appear CLOSEST
    together (min token gap), plus per-term occurrence counts — the
    near-operator ("X NEAR Y") that conjunctive keyword_search cannot
    express, and the positional-postings primitive phrase/slop queries
    build on.

    The naive plan crosses every A-occurrence with every B-occurrence per
    document (n_a x n_b pairs — quadratic in occurrence count for hot
    docs). This plan never builds pairs: with both terms' positions
    merged in sorted order, the globally closest opposite-term pair is
    always ADJACENT in that order, so one window lag per occurrence
    finds min_gap in linear work — gaps, counts, and ranks are all exact
    integers, so both engines rank identically (ties by doc_id).

    Plan (100 TB): tokens are position-exploded and filtered to the |Q|
    query terms BEFORE any shuffle (corpus tokens never travel — same
    posting-list discipline as keyword_search); the only shuffle is the
    partitionBy(doc_id) window over query-term occurrences; min_gap and
    the occurrence counts come out of the same single groupBy(doc_id);
    top-20 is sort+limit (TakeOrderedAndProject, never a global sort)."""
    from ..functions.text import tokens as _tok

    (docs,) = _t(spark, sf_dir, "documents")
    occ = (
        docs.select("doc_id", F.posexplode(_tok(F.col("text"))).alias("pos", "term"))
        .filter(F.col("term").isin([_PROX_A, _PROX_B]))
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    lagged = occ.withColumn("prev_term", F.lag("term").over(w)).withColumn(
        "prev_pos", F.lag("pos").over(w)
    )
    agg = (
        lagged.groupBy("doc_id")
        .agg(
            F.min(
                F.when(
                    F.col("prev_term") != F.col("term"),
                    F.col("pos") - F.col("prev_pos"),
                )
            )
            .cast("bigint")
            .alias("min_gap"),
            F.sum(F.when(F.col("term") == _PROX_A, 1).otherwise(0))
            .cast("bigint")
            .alias("n_a"),
            F.sum(F.when(F.col("term") == _PROX_B, 1).otherwise(0))
            .cast("bigint")
            .alias("n_b"),
        )
        .filter(F.col("min_gap").isNotNull())
    )
    top = agg.orderBy(F.col("min_gap").asc(), F.col("doc_id").asc()).limit(_PROX_K)
    rw = Window.orderBy(F.col("min_gap").asc(), F.col("doc_id").asc())
    return top.withColumn("rnk", F.row_number().over(rw).cast("bigint")).select(
        "doc_id", "min_gap", "n_a", "n_b", "rnk"
    )


# --- asymmetric containment near-dup ----------------------------------------

_CONT_T = 0.8


@query(
    "containment_neardup",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SHINGLES} AS sh FROM documents),
    f AS (SELECT doc_id, sh FROM t WHERE len(sh) > 0)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter,
           CAST(len(a.sh) AS BIGINT) AS n_a,
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / CAST(len(a.sh) AS DOUBLE) AS containment
    FROM f a, f b
    WHERE a.doc_id <> b.doc_id
      AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / CAST(len(a.sh) AS DOUBLE) >= {_CONT_T}
    """,
)
def q_containment_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup (operators/dedup.containment_pairs):
    ordered pairs where ≥ 80% of doc A's 3-gram shingles appear in doc B —
    the quote/re-post/subset detector symmetric Jaccard misses when sizes
    differ (C(A,B)=1.0 can coexist with J≈0.1). Candidates come from the
    asymmetric prefix filter (A-prefix ⋈ full postings under the global
    frequency-ascending order), verified with the exact intersection, so
    the output equals the brute-force O(N²) definition the oracle states.
    On THIS synthetic corpus every containment pair is a mutual near-dup
    (both directions emit); the operator's value is the asymmetric case,
    pinned separately in tests. containment is one double division of two
    exact bigints — bit-deterministic on both engines."""
    from ..operators.dedup import containment_pairs

    (docs,) = _t(spark, sf_dir, "documents")
    return containment_pairs(docs, threshold=_CONT_T)


# --- exact-phrase search (positional adjacency) ------------------------------

_PHRASE = ("table", "hash")
_PHRASE_K = 20

_PHRASE_MATCH_SQL = " AND ".join(
    ["term = '" + _PHRASE[0] + "'"]
    + [
        f"lead(term, {i}) OVER w = '{t}' AND lead(pos, {i}) OVER w = pos + {i}"
        for i, t in enumerate(_PHRASE[1:], start=1)
    ]
)

_SQL_PHRASE_SEARCH = f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    pos AS (
      SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos,
             unnest(toks) AS term
      FROM d
    ),
    occ AS (
      SELECT doc_id, pos,
             CASE WHEN {_PHRASE_MATCH_SQL} THEN 1 ELSE 0 END AS m
      FROM pos WHERE term IN ({', '.join("'" + t + "'" for t in set(_PHRASE))})
      WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    agg AS (
      SELECT doc_id, CAST(SUM(m) AS BIGINT) AS n_matches,
             CAST(MIN(CASE WHEN m = 1 THEN pos - 1 END) AS BIGINT) AS first_pos
      FROM occ GROUP BY doc_id
    )
    SELECT doc_id, n_matches, first_pos,
           CAST(ROW_NUMBER() OVER (ORDER BY n_matches DESC, doc_id ASC)
             AS BIGINT) AS rnk
    FROM agg WHERE n_matches > 0
    QUALIFY rnk <= {_PHRASE_K}
    """


@query("phrase_search", oracle=_SQL_PHRASE_SEARCH)
def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase retrieval (the _PHRASE tokens ADJACENT, in order) —
    the third retrieval operator after conjunctive AND (keyword_search)
    and NEAR (proximity_search), and the one inverted indexes need
    positional postings for. Output: top-_PHRASE_K docs by
    phrase-occurrence count with the first match position (0-based), all
    exact integers so both engines rank identically (ties by doc_id).

    A phrase match needs term(p)=t0 .. term(p+i)=ti; because matched
    tokens are adjacent in the ORIGINAL stream, they are also adjacent in
    the subsequence filtered to the phrase's terms, so lead(term, i) /
    lead(pos, i) over that filtered stream decides every candidate in
    linear work — no positions self-join, no n_t0 x n_t1 pair blow-up on
    hot documents.

    Plan (100 TB): position-explode filters to the |phrase| query terms
    BEFORE any shuffle (posting-list discipline — corpus tokens never
    travel); one partitionBy(doc_id) window plus the groupBy(doc_id) it
    feeds; top-k is sort+limit (TakeOrderedAndProject)."""
    from ..functions.text import tokens as _tok

    (docs,) = _t(spark, sf_dir, "documents")
    occ = docs.select(
        "doc_id", F.posexplode(_tok(F.col("text"))).alias("pos", "term")
    ).filter(F.col("term").isin(list(set(_PHRASE))))
    w = Window.partitionBy("doc_id").orderBy("pos")
    m = F.col("term") == _PHRASE[0]
    for i, t in enumerate(_PHRASE[1:], start=1):
        m = (
            m
            & (F.lead("term", i).over(w) == t)
            & (F.lead("pos", i).over(w) == F.col("pos") + i)
        )
    agg = (
        occ.select("doc_id", "pos", F.when(m, 1).otherwise(0).alias("m"))
        .groupBy("doc_id")
        .agg(
            F.sum("m").cast("bigint").alias("n_matches"),
            F.min(F.when(F.col("m") == 1, F.col("pos")))
            .cast("bigint")
            .alias("first_pos"),
        )
        .filter(F.col("n_matches") > 0)
    )
    top = agg.orderBy(F.col("n_matches").desc(), F.col("doc_id").asc()).limit(
        _PHRASE_K
    )
    rw = Window.orderBy(F.col("n_matches").desc(), F.col("doc_id").asc())
    return top.withColumn("rnk", F.row_number().over(rw).cast("bigint")).select(
        "doc_id", "n_matches", "first_pos", "rnk"
    )


_BM25_INDEX_PARAMS = "v1:ws-tokenizer"  # bump on any tokenizer/layout change


def ensure_bm25_index(spark: SparkSession, sf_dir: str, rebuild: bool = False):
    """(postings, doclens, stats) read from the stored BM25 inverted
    index, building + persisting only when absent/stale or `rebuild` —
    the retrieval twin of plans/clustering.ensure_pq_index (index = pure
    function of corpus + frozen tokenizer; sf-tagged in-repo scratch path
    + params marker pin both). Exposed because plans/hybrid.py serves its
    lexical half from this store."""
    from pathlib import Path

    from ..operators.retrieval import (
        bm25_index_build,
        read_bm25_index,
        write_bm25_index,
    )

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    base = str(
        Path(__file__).resolve().parents[2]
        / "spark-warehouse"
        / f"bm25_index_{tag}"
    )
    from .clustering import _corpus_stamp

    marker = Path(base) / "_PARAMS"
    stamp = f"{_BM25_INDEX_PARAMS}:{_corpus_stamp(sf_dir, 'documents')}"
    if rebuild or not marker.exists() or marker.read_text() != stamp:
        (docs,) = _t(spark, sf_dir, "documents")
        write_bm25_index(*bm25_index_build(docs), base)
        marker.write_text(stamp)
    return read_bm25_index(spark, base)


@query("bm25_index_search", oracle=_bm25_sql())
def q_bm25_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 served from the PERSISTED inverted index — the build-once/
    serve-many seam for the retrieval family (the text twin of
    pq_index_search): tokenize the corpus once, write (postings, doclens,
    stats) as parquet — postings range-partitioned and sorted by term so
    a term probe prunes row groups by min/max stats — then answer the
    query by READING the stored tables; raw text is never rescanned (a
    delete-the-raw-documents test pins it). Scoring arithmetic is
    bit-identical to the live bm25_search, so this carries the SAME exact
    oracle — the round trip through storage must not move a single rank.

    Plan (100 TB): the serve-side scan reads ~the queried posting lists
    (PushedFilters In(term,...) against the sorted layout); df
    re-aggregates those rows; the 1-row stats broadcast and the
    (doc_id, len) join are bm25_search's. The build is paid only when the
    stored index is absent (`ensure_bm25_index` reuses a params-matched
    store), so steady-state timings here measure the read-and-serve path
    — the same build/serve split as the PQ and IVF-PQ index families.
    Implementation: operators/retrieval.py (cites bm25_search's
    fixed-point formulation)."""
    from ..operators.retrieval import bm25_index_search

    postings, doclens, stats = ensure_bm25_index(spark, sf_dir)
    return bm25_index_search(postings, doclens, stats, _SEARCH_TERMS)


@query("bm25_index_append", oracle=_bm25_sql())
def q_bm25_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index maintenance: build the stored index over TWO
    THIRDS of the corpus, then fold the remaining third in with
    bm25_index_append — tokenizing only the delta (per-doc posting rows
    are disjoint, so merged postings are a plain union and stats
    recompute from the merged doclens) — and serve the query from the
    result. Carries the FULL-corpus exact oracle: append-then-search must
    be bit-identical to rebuild-then-search, rank for rank. The frozen
    contract is the tokenizer (pq_index_append freezes the codebook; a
    retrieval index freezes preprocessing — change it and you rebuild)."""
    import tempfile

    from ..operators.retrieval import (
        bm25_index_append,
        bm25_index_build,
        bm25_index_search,
        read_bm25_index,
        write_bm25_index,
    )

    (docs,) = _t(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 3 != 0)
    new = docs.filter(F.col("doc_id") % 3 == 0)
    idx = tempfile.mkdtemp(prefix="bm25_idx_base_")
    write_bm25_index(*bm25_index_build(base), idx)
    postings, doclens, _ = read_bm25_index(spark, idx)
    p2, l2, s2 = bm25_index_append(postings, doclens, new)
    return bm25_index_search(p2, l2, s2, _SEARCH_TERMS)


@query("streaming_bm25_maintain", oracle=_bm25_sql())
def q_streaming_bm25_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING index maintenance — the fifth stored-artifact foreachBatch
    consumer, composing the replay-safe consumer family (epoch ledger +
    crash-safe install) with the frozen-tokenizer bm25_index_append seam:
    an inverted index that TRACKS a document stream, the thing a
    production retrieval stack actually runs. The stored index is seeded
    batch-side over two thirds of the corpus (how a deployment backfills
    before attaching the stream); the remaining third streams through
    streaming.pipeline.foreach_batch_bm25_maintain, which per epoch
    tokenizes ONLY the delta, unions it into the stored postings/doclens,
    recomputes the 1-row stats, and installs all three tables + the epoch
    ledger in ONE atomic swap (no reader can see epoch-N postings with
    epoch-N-1 stats).

    Carries the FULL-corpus exact oracle: maintain-then-search must be
    bit-identical to rebuild-then-search, rank for rank — the same
    identity bm25_index_append proves batch-side, now through the
    streaming consumer. The ledger is LOAD-BEARING here (a replayed epoch
    re-appended would double-count postings and corrupt df/avgl/n_docs);
    same-epoch-twice + cross-epoch-id-reuse pinned in
    tests/test_streaming_index_maintain.py."""
    import tempfile

    from ..operators.retrieval import (
        bm25_index_build,
        bm25_index_search,
        read_bm25_index,
        write_bm25_index,
    )
    from ..session import ensure_utc
    from ..sources.readers import table_path
    from ..streaming.pipeline import foreach_batch_bm25_maintain, stream_source

    ensure_utc(spark)
    (docs,) = _t(spark, sf_dir, "documents")
    idx = tempfile.mkdtemp(prefix="stream_bm25_") + "/index"
    write_bm25_index(*bm25_index_build(docs.filter(F.col("doc_id") % 3 != 0)), idx)

    schema = spark.read.parquet(table_path(sf_dir, "documents")).schema
    src = stream_source(
        spark, sf_dir, schema, watermark=None, path_glob_filter="documents.parquet"
    ).filter(F.col("doc_id") % 3 == 0)
    (
        src.writeStream.foreachBatch(foreach_batch_bm25_maintain(idx))
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_bm25_"))
        .start()
        .awaitTermination()
    )
    postings, doclens, stats = read_bm25_index(spark, idx)
    return bm25_index_search(postings, doclens, stats, _SEARCH_TERMS)


# Seed-index cache for the streaming-maintain bench rows (VERDICT r9 #1):
# the seed build is INPUT STATE for the maintain operator, not its cost —
# timing it per run made the bench row measure build+maintain+verify
# lifecycle instead of maintain+serve. The first execution (bench.py's
# untimed per-query warmup) builds the seed once per sf_dir; every timed
# run starts from a cheap fs copy of it, so run-to-run work is identical
# and the timed path is exactly: attach stream to an existing index,
# apply one delta epoch, serve. Compaction and pre/post-compaction serve
# equality live in tests/test_streaming_index_maintain.py (pinned there
# for all three segment families), not in the timed plan.
_BM25_SEG_SEED: dict[str, str] = {}


@query("streaming_bm25_maintain_segmented", oracle=_bm25_sql())
def q_streaming_bm25_maintain_segmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """streaming_bm25_maintain with O(delta) per-epoch writes — the Lucene
    segment model on parquet (streaming.pipeline.
    foreach_batch_bm25_maintain_segmented): each epoch commits an
    immutable segment dir holding only the delta's postings/doclens
    (term-sorted within the segment) together with the manifest listing
    it, under the index's ledger — no index rewrite, no window where a
    reader sees a partial index. The
    serve path unions the segments and recomputes the 1-row stats with
    the build's exact integer formula, so the segmented serve is
    bit-identical to a monolithic rebuild — this row carries the same
    full-corpus exact oracle as the whole-rewrite consumer.

    r10 (VERDICT r9 #1): the row now measures MAINTAIN + SERVE only —
    the seed index is built once per sf_dir (bench warmup pays it) and
    each run streams its delta into a fresh copy; the mid-plan
    compaction and the double serve-equality collect moved to
    tests/test_streaming_index_maintain.py where they were already
    pinned (compaction keeps no bench row: its cost is a cadence
    lifecycle op, bounded in SCALE_r9.jsonl's tiered-merge measurement,
    not a per-epoch plan)."""
    import tempfile

    from ..operators.retrieval import bm25_index_search
    from ..session import ensure_utc
    from ..sources.readers import table_path
    from ..streaming.pipeline import (
        foreach_batch_bm25_maintain_segmented,
        read_bm25_index_segmented,
        seed_bm25_index_segmented,
        stream_source,
    )

    ensure_utc(spark)
    (docs,) = _t(spark, sf_dir, "documents")
    if sf_dir not in _BM25_SEG_SEED:
        seed = tempfile.mkdtemp(prefix="stream_bm25_seed_") + "/index"
        seed_bm25_index_segmented(docs.filter(F.col("doc_id") % 3 != 0), seed)
        _BM25_SEG_SEED[sf_dir] = seed
    idx = _fresh_copy_of(_BM25_SEG_SEED[sf_dir], "stream_bm25_seg_")

    schema = spark.read.parquet(table_path(sf_dir, "documents")).schema
    src = stream_source(
        spark, sf_dir, schema, watermark=None, path_glob_filter="documents.parquet"
    ).filter(F.col("doc_id") % 3 == 0)
    (
        src.writeStream.foreachBatch(foreach_batch_bm25_maintain_segmented(idx))
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_bm25s_"))
        .start()
        .awaitTermination()
    )
    return bm25_index_search(*read_bm25_index_segmented(spark, idx), _SEARCH_TERMS)


# time-travel store cache: the store is built ONCE per sf_dir (seed +
# two published epochs) and never mutated by the row — read_at is a pure
# catalog-filtered serve, so timed runs share it (no fresh copy needed)
_BM25_TT_STORE: dict[str, str] = {}


@query(
    "bm25_index_read_at",
    oracle=_bm25_sql(where="(doc_id % 3 <> 0) OR (doc_id % 2 = 0)"),
)
def q_bm25_index_read_at(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-TRAVEL serve of the segmented BM25 store (VERDICT r10 next
    #6): the store holds a seed (doc_id % 3 != 0, the pre-stream epoch
    -1) plus two published epochs splitting the remaining third by
    parity; `read_bm25_index_segmented_at(idx, 0)` resolves the
    `_manifest` catalog + per-segment epoch coverage to serve the index
    EXACTLY as it stood after epoch 0 — seed + even-id delta — while
    epoch 1 stays live in the store. Because segments are immutable and
    epoch-stamped, the as-of serve is a catalog filter over the same
    plan-level union scan the live read uses: no data copied, no history
    rewritten. Oracle: the batch BM25 build over exactly the prefix
    corpus (WHERE doc_id%3<>0 OR doc_id%2=0) — bit-equal, rank for rank,
    proving read_at(N) == build(epochs <= N). The reproducible
    training-data snapshot an LLM pipeline audits against (pairs with
    the curation funnel and shard export); compaction semantics —
    still-cataloged epochs stay exact, folded epochs raise — are pinned
    in tests/test_time_travel.py."""
    from ..operators.retrieval import bm25_index_search
    from ..streaming.pipeline import (
        foreach_batch_bm25_maintain_segmented,
        read_bm25_index_segmented_at,
        seed_bm25_index_segmented,
    )

    (docs,) = _t(spark, sf_dir, "documents")
    if sf_dir not in _BM25_TT_STORE:
        import tempfile

        idx = tempfile.mkdtemp(prefix="bm25_tt_") + "/index"
        seed_bm25_index_segmented(docs.filter(F.col("doc_id") % 3 != 0), idx)
        sink = foreach_batch_bm25_maintain_segmented(idx)
        third = docs.filter(F.col("doc_id") % 3 == 0)
        sink(third.filter(F.col("doc_id") % 2 == 0), 0)
        sink(third.filter(F.col("doc_id") % 2 == 1), 1)
        _BM25_TT_STORE[sf_dir] = idx
    return bm25_index_search(
        *read_bm25_index_segmented_at(spark, _BM25_TT_STORE[sf_dir], 0),
        _SEARCH_TERMS,
    )


_KFOLD_K = 5


@query(
    "kfold_split",
    oracle=f"""
    {_NEARDUP_COMPONENTS_CTE}
    SELECT d.doc_id,
           COALESCE(comp.component, d.doc_id) AS component,
           CAST(('0x' || substr(md5('fold:' ||
                 CAST(COALESCE(comp.component, d.doc_id) AS VARCHAR)), 1, 15))
             ::UBIGINT % {_KFOLD_K} AS BIGINT) AS fold
    FROM documents d LEFT JOIN comp ON comp.node = d.doc_id
    """,
)
def q_kfold_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe k-fold assignment — leakage_safe_split's
    cross-validation generalization: documents cluster by near-dup
    connected component first, then the WHOLE component lands in fold
    md5(component) % k, so a near-copy can never sit in a different fold
    than its original (the contamination bug naive per-doc k-fold has).
    Hash-membership (not row_number % k) keeps folds stable under corpus
    growth and identical across engines — the deterministic_sample idiom.
    Fold sizes concentrate at n/k by hash uniformity (~±2% at this corpus,
    pinned in tests). Scale: component ids ride the dedup pipeline already
    being run; the assignment is one hash expression, no extra shuffle."""
    from ..operators.graph import connected_components

    (docs,) = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, num_hashes=64, n_bands=32, threshold=0.8)
    comp = connected_components(pairs.select("id_a", "id_b")).withColumnRenamed(
        "node", "doc_id"
    )
    joined = docs.select("doc_id").join(comp, "doc_id", "left")
    component = F.coalesce(F.col("component"), F.col("doc_id"))
    fold = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("fold:"), component.cast("string"))), 1, 15
            ),
            16,
            10,
        ).cast("bigint")
        % _KFOLD_K
    )
    return joined.select(
        "doc_id", component.alias("component"), fold.cast("bigint").alias("fold")
    )


_ZIPF_TOP = 256


def _zipf_sql() -> str:
    from ..operators.classify import log2_fp_sql

    lgr = log2_fp_sql("rnk", dialect="duck")
    lgf = log2_fp_sql("freq", dialect="duck")
    return f"""
    WITH tok AS (SELECT unnest({_TOKS}) AS t FROM documents),
    freqs AS (
      SELECT t, CAST(COUNT(*) AS BIGINT) AS freq
      FROM tok WHERE t <> '' GROUP BY t
    ),
    ranked AS (
      SELECT freq,
             CAST(row_number() OVER (ORDER BY freq DESC, t ASC) AS BIGINT)
               AS rnk
      FROM freqs
    ),
    xy AS (
      SELECT {lgr} AS x, {lgf} AS y
      FROM ranked WHERE rnk <= {_ZIPF_TOP}
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx
      FROM xy
    )
    SELECT n AS n_tokens,
           n * sxy - sx * sy AS cov_num,
           n * sxx - sx * sx AS var_num,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) AS zipf_slope
    FROM s
"""


@query("zipf_fit", oracle=_zipf_sql())
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit of the corpus frequency curve — the vocabulary
    diagnostic (natural text slopes near −1 on log-log rank/frequency;
    synthetic or templated corpora run much shallower — THIS testdata
    measures −0.198 over its 31-token vocabulary, flagging it as
    synthetic, which is exactly what the gate is for): OLS slope of
    log2(freq) vs log2(rank) over the top-256
    tokens, every moment an exact bigint over the fixed-point integer
    log2 (PMI's primitive), the final slope ONE double division of two
    exact bigints (the _exact_avg discipline — int64→double casts are
    correctly rounded identically on both engines, so even the double
    hash-matches). Output (n_tokens, cov_num, var_num, zipf_slope).

    Plan (100 TB): token counts are the one corpus-scan shuffle (vocab
    granularity out); ranking windows over the top slice; the fit is a
    1-row aggregate. cov_num ≤ n²·lg²_max ≈ 9e16 — inside bigint with
    the slope kept as an exact ratio, which is WHY there is no scaled
    integer division here (trunc-vs-floor diverges on negative
    quotients; a ratio avoids division entirely)."""
    from ..functions.text import tokens as _tok
    from ..operators.classify import log2_fp_sql

    (docs,) = _t(spark, sf_dir, "documents")
    freqs = (
        docs.select(F.explode(_tok(F.col("text"))).alias("t"))
        .filter(F.col("t") != "")
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    w = Window.orderBy(F.col("freq").desc(), F.col("t").asc())
    ranked = freqs.select(
        "freq", F.row_number().over(w).cast("bigint").alias("rnk")
    ).filter(F.col("rnk") <= _ZIPF_TOP)
    lgr = log2_fp_sql("rnk", dialect="spark")
    lgf = log2_fp_sql("freq", dialect="spark")
    xy = ranked.select(
        F.expr(lgr).alias("x"), F.expr(lgf).alias("y")
    )
    s = xy.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    return s.select(
        F.col("n").alias("n_tokens"),
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("cov_num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("var_num"),
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        ).alias("zipf_slope"),
    )


from .registry import REGISTRY as _REG2  # noqa: E402


@query(
    "lang_confusion",
    oracle=f"""
    WITH pred AS ({_REG2["lang_id"].oracle})
    SELECT lang AS true_lang, lang_guess AS pred_lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN lang = lang_guess THEN 1 ELSE 0 END)
             AS BIGINT) AS n_correct
    FROM pred GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix — the EVAL step for the lang_id gate
    (classifier_calibration's pattern applied to language identification):
    heuristic predictions crossed against the declared labels at (true,
    pred) granularity, n_correct folded per cell so precision/recall/
    accuracy all derive from this one table. Composes lang_id's exact
    oracle as a CTE (the quality_classifier_trained discipline), so the
    whole eval is value-exact. One label-granularity aggregate after the
    per-doc marker scan — the matrix is |langs|² rows regardless of
    corpus size."""
    pred = _REG2["lang_id"].fn(spark, sf_dir)
    return (
        pred.groupBy(
            F.col("lang").alias("true_lang"),
            F.col("lang_guess").alias("pred_lang"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(
                F.when(F.col("lang") == F.col("lang_guess"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_correct"),
        )
        .orderBy("true_lang", "pred_lang")
    )


_RSPAN_W = 8  # window width in tokens (Lee et al. used 50 at web scale;
#               8 suits this corpus's 30-60-token documents)


@query(
    "repeated_span_report",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    spans AS (
      SELECT t.doc_id,
             ('0x' || substr(md5('sp:' ||
                array_to_string(list_slice(t.toks, g.i, g.i + {_RSPAN_W} - 1), ' ')),
                1, 15))::UBIGINT AS h
      FROM t, LATERAL (
        SELECT unnest(generate_series(1, len(t.toks) - {_RSPAN_W} + 1)) AS i
      ) g
      WHERE len(t.toks) >= {_RSPAN_W}
    ),
    per_doc AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= {_RSPAN_W}
                  THEN len(toks) - {_RSPAN_W} + 1 ELSE 0 END AS n_spans
      FROM t
    ),
    freq AS (SELECT h, COUNT(*) AS c FROM spans GROUP BY h),
    rep AS (
      SELECT s.doc_id, COUNT(*) AS n_repeated
      FROM spans s JOIN freq f ON f.h = s.h AND f.c >= 2
      GROUP BY s.doc_id
    )
    SELECT p.doc_id,
           CAST(p.n_spans AS BIGINT) AS n_spans,
           CAST(COALESCE(r.n_repeated, 0) AS BIGINT) AS n_repeated,
           CAST(CASE WHEN p.n_spans = 0 THEN 0
                ELSE COALESCE(r.n_repeated, 0) * 10000 // p.n_spans
                END AS BIGINT) AS dup_ratio_bp
    FROM per_doc p LEFT JOIN rep r USING (doc_id)
    ORDER BY doc_id
""",
)
def q_repeated_span_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-SPAN detection
    (operators/dedup.repeated_span_report) — the exact-substring-dedup
    primitive of Lee et al. 2021 (arXiv:2107.06499) at 8-token
    granularity: per document, how many of its sliding token windows
    occur more than once anywhere in the corpus — the boilerplate /
    templated-passage signal document-level and near-dup detectors miss
    when surrounding text differs. Exact value oracle: the md5-int60
    span hashes rebuild bit-for-bit in DuckDB. Plan: span STRINGS never
    leave the map side — the shuffles move (doc_id, hash) pairs only;
    one frequency groupBy, one hash join back, one doc rollup."""
    from ..operators.dedup import repeated_span_report

    (docs,) = _t(spark, sf_dir, "documents")
    return repeated_span_report(docs, w=_RSPAN_W).orderBy("doc_id")


def _rspan_trim_ctes(src: str) -> str:
    """The repeated-span-trim replay as DuckDB CTEs over `src` (prefixed
    rt_ so they compose inside other oracles, e.g. the curation funnel):
    identical arithmetic to operators/dedup.repeated_span_trim — md5-int60
    span hashes, (doc_id, pos) keep-one ranking, dense-position w-row
    coverage window."""
    return f"""
    rt_t AS (SELECT doc_id, {_TOKS} AS toks FROM {src}),
    rt_tok AS (
      SELECT rt_t.doc_id, g.i - 1 AS pos, rt_t.toks[g.i] AS tok
      FROM rt_t, LATERAL (
        SELECT unnest(generate_series(1, len(rt_t.toks))) AS i
      ) g
    ),
    rt_spans AS (
      SELECT rt_t.doc_id, g.i - 1 AS pos,
             ('0x' || substr(md5('sp:' ||
                array_to_string(list_slice(rt_t.toks, g.i, g.i + {_RSPAN_W} - 1), ' ')),
                1, 15))::UBIGINT AS h
      FROM rt_t, LATERAL (
        SELECT unnest(generate_series(1, len(rt_t.toks) - {_RSPAN_W} + 1)) AS i
      ) g
      WHERE len(rt_t.toks) >= {_RSPAN_W}
    ),
    rt_dup AS (
      SELECT doc_id, pos, TRUE AS dup_start FROM (
        SELECT doc_id, pos,
               COUNT(*) OVER (PARTITION BY h) AS c,
               ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
        FROM rt_spans)
      WHERE c >= 2 AND rn >= 2
    ),
    rt_cov AS (
      SELECT k.doc_id, k.pos, k.tok,
             MAX(CASE WHEN d.dup_start THEN 1 ELSE 0 END) OVER (
               PARTITION BY k.doc_id ORDER BY k.pos
               ROWS BETWEEN {_RSPAN_W - 1} PRECEDING AND CURRENT ROW) AS covered
      FROM rt_tok k LEFT JOIN rt_dup d ON d.doc_id = k.doc_id AND d.pos = k.pos
    ),
    rt_kept AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             string_agg(tok, ' ' ORDER BY pos) AS clean_text
      FROM rt_cov WHERE covered = 0 GROUP BY doc_id
    )"""


_RSPAN_TRIM_ORACLE = f"""
    WITH {_rspan_trim_ctes("documents")}
    SELECT rt_t.doc_id,
           CAST(len(rt_t.toks) AS BIGINT) AS n_tokens,
           CAST(len(rt_t.toks) - COALESCE(k.n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(k.clean_text, '') AS clean_text
    FROM rt_t LEFT JOIN rt_kept k USING (doc_id)
    ORDER BY doc_id
"""


@query("repeated_span_trim", oracle=_RSPAN_TRIM_ORACLE)
def q_repeated_span_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-span TRIM (operators/dedup.repeated_span_trim) — the
    transform half of Lee et al. 2021's exact-substring dedup (VERDICT
    r9 #2): `repeated_span_report` measures repeated w-token windows;
    this row EDITS the corpus — the first (doc_id, pos) occurrence of
    each repeated span survives, every later occurrence's tokens are
    dropped, and the cleaned text is emitted per document. Exact value
    oracle: the md5-int60 span hashes, the (doc_id, pos) keep-one
    ranking, and the w-row coverage window all rebuild bit-for-bit in
    DuckDB, down to the cleaned strings. Plan: span strings never leave
    the map side; keep-one is one hash-partition window; coverage is a
    dense-position sliding max — no self-join anywhere."""
    from ..operators.dedup import repeated_span_trim

    (docs,) = _t(spark, sf_dir, "documents")
    return repeated_span_trim(docs, w=_RSPAN_W).orderBy("doc_id")


_SQL_CURATION_TRIMMED = (
    _CURATION_CTES
    + ","
    + _rspan_trim_ctes("curated")
    + f"""
    SELECT
      (SELECT CAST(COUNT(*) AS BIGINT) FROM curated) AS n_curated,
      (SELECT CAST(SUM(len(toks)) AS BIGINT) FROM rt_t) AS total_tokens,
      (SELECT CAST(SUM(len(toks)) - SUM(COALESCE(k.n_kept, 0)) AS BIGINT)
       FROM rt_t LEFT JOIN rt_kept k USING (doc_id)) AS span_removed_tokens,
      (SELECT CAST(SUM(COALESCE(k.n_kept, 0)) AS BIGINT)
       FROM rt_t LEFT JOIN rt_kept k USING (doc_id)) AS total_tokens_clean
"""
)


@query("curation_funnel_trimmed", oracle=_SQL_CURATION_TRIMMED)
def q_curation_funnel_trimmed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation funnel extended with Lee et al. exact-substring span
    TRIM as its final stage (VERDICT r9 #2's composition ask): raw →
    Gopher gates → exact dedup → MinHash-LSH near-dedup (the
    curation_funnel stages verbatim) → repeated_span_trim over the
    SURVIVORS — document-level dedup removes whole near-copies, the span
    stage then removes the boilerplate blocks that survive inside
    otherwise-distinct documents (the duplication class doc-granularity
    passes cannot see). One accounting row: n_curated, total_tokens
    (pre-trim), span_removed_tokens, total_tokens_clean — the
    token-budget delta the trim buys. Exact value oracle end-to-end: the
    funnel CTEs compose with the rt_ trim CTEs over `curated`. Scale
    shape: each stage is its standalone operator's audited plan; the
    trim adds its three key-only shuffles over the curated subset."""
    import functools

    from ..operators.dedup import minhash_lsh_pairs, repeated_span_trim

    (docs,) = _t(spark, sf_dir, "documents")
    rules = gopher_rules(F.col("text"))
    quality = docs.filter(functools.reduce(lambda a, b: a & b, rules.values()))
    canon = (
        quality.select("doc_id", fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    exact_surv = quality.join(canon, "doc_id", "left_semi")
    losers = (
        minhash_lsh_pairs(exact_surv, threshold=0.8)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    curated = exact_surv.join(losers, "doc_id", "left_anti")
    trimmed = repeated_span_trim(curated, w=_RSPAN_W)
    return (
        curated.agg(F.count(F.lit(1)).cast("bigint").alias("n_curated"))
        .crossJoin(
            trimmed.agg(
                F.sum("n_tokens").cast("bigint").alias("total_tokens"),
                F.sum("n_removed").cast("bigint").alias("span_removed_tokens"),
                (F.sum("n_tokens") - F.sum("n_removed"))
                .cast("bigint")
                .alias("total_tokens_clean"),
            )
        )
    )


_DECON_MOD = 97  # doc_id % 97 == 0 plays the held-out evaluation set


@query(
    "benchmark_decontaminate",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    corp AS (SELECT * FROM t WHERE doc_id % {_DECON_MOD} <> 0),
    bench AS (SELECT * FROM t WHERE doc_id % {_DECON_MOD} = 0),
    bh AS (
      SELECT DISTINCT ('0x' || substr(md5('sp:' ||
               array_to_string(list_slice(b.toks, g.i, g.i + {_RSPAN_W} - 1), ' ')),
               1, 15))::UBIGINT AS h
      FROM bench b, LATERAL (
        SELECT unnest(generate_series(1, len(b.toks) - {_RSPAN_W} + 1)) AS i
      ) g
      WHERE len(b.toks) >= {_RSPAN_W}
    ),
    cs AS (
      SELECT c.doc_id,
             ('0x' || substr(md5('sp:' ||
               array_to_string(list_slice(c.toks, g.i, g.i + {_RSPAN_W} - 1), ' ')),
               1, 15))::UBIGINT AS h
      FROM corp c, LATERAL (
        SELECT unnest(generate_series(1, len(c.toks) - {_RSPAN_W} + 1)) AS i
      ) g
      WHERE len(c.toks) >= {_RSPAN_W}
    ),
    hits AS (
      SELECT cs.doc_id, COUNT(*) AS n_contaminated
      FROM cs JOIN bh USING (h) GROUP BY cs.doc_id
    )
    SELECT c.doc_id,
           CAST(CASE WHEN len(c.toks) >= {_RSPAN_W}
                THEN len(c.toks) - {_RSPAN_W} + 1 ELSE 0 END AS BIGINT)
             AS n_spans,
           CAST(COALESCE(h.n_contaminated, 0) AS BIGINT) AS n_contaminated,
           COALESCE(h.n_contaminated, 0) > 0 AS contaminated
    FROM corp c LEFT JOIN hits h USING (doc_id)
    ORDER BY doc_id
""",
)
def q_benchmark_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination
    (operators/dedup.benchmark_contamination_report) — the GPT-3
    appendix-C n-gram test-set-overlap gate: training documents sharing
    any 8-token window with the held-out evaluation set (stand-in:
    doc_id % 97 == 0) are flagged per-document with their contaminated
    window count. The corpus's near-dup fixtures make the overlap real,
    not synthetic. Exact value oracle: the md5-int60 window hashes and
    the distinct-set membership replay bit-for-bit in DuckDB. Plan: the
    benchmark window-hash set broadcasts (eval suites are small by
    contract), so the corpus span stream is probed entirely map-side —
    the ONLY shuffle is the final per-doc rollup; contamination against
    a FIXED set needs no hash-partition shuffle (contrast
    repeated_span_report)."""
    from ..operators.dedup import benchmark_contamination_report

    (docs,) = _t(spark, sf_dir, "documents")
    corp = docs.filter(F.col("doc_id") % _DECON_MOD != 0)
    bench = docs.filter(F.col("doc_id") % _DECON_MOD == 0)
    return benchmark_contamination_report(corp, bench, w=_RSPAN_W).orderBy(
        "doc_id"
    )


@query(
    "streaming_dedup_gate",
    oracle=f"""
    SELECT d.doc_id, md5({_NORM}) AS fp
    FROM documents d
    JOIN (
      SELECT md5({_NORM}) AS kfp, MIN(doc_id) AS keeper
      FROM documents GROUP BY 1
    ) k ON k.keeper = d.doc_id
    ORDER BY d.doc_id
""",
)
def q_streaming_dedup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING exactly-once exact-dedup — the eleventh stored-artifact
    foreachBatch consumer (streaming.pipeline.foreach_batch_dedup_gate):
    the documents stream through THREE ordered epochs (ascending doc_id
    ranges, each its own availableNow run on one checkpoint — the
    epoch-order-pinning idiom); each epoch's batch is fingerprinted,
    deduped within the batch (min-id survivor), anti-joined against the
    persisted bucketed fingerprint store, and its accepted rows become
    an immutable corpus segment, committed together with the
    fingerprints they fold back and the gate's ledger by the bucketed
    stores' epoch commit. The accepted union must equal the batch exact-dedup
    survivor corpus: one row per content fingerprint, held by the
    smallest doc_id (epochs ascend by doc_id, so first-epoch-wins IS
    global min). Exact oracle over the full corpus."""
    import glob as _glob
    import shutil as _sh
    import tempfile

    from ..session import ensure_utc
    from ..streaming.pipeline import (
        foreach_batch_dedup_gate,
        read_dedup_gate_corpus,
        stream_source,
    )

    ensure_utc(spark)
    (docs,) = _t(spark, sf_dir, "documents")
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).collect()[0]
    cut1, cut2 = lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3
    store = tempfile.mkdtemp(prefix="dedup_gate_") + "/store"
    staging = tempfile.mkdtemp(prefix="gate_delta_")
    ckpt = tempfile.mkdtemp(prefix="ckpt_gate_")
    sink = foreach_batch_dedup_gate(store)
    slices = [
        docs.filter(F.col("doc_id") <= cut1),
        docs.filter((F.col("doc_id") > cut1) & (F.col("doc_id") <= cut2)),
        docs.filter(F.col("doc_id") > cut2),
    ]
    for i, sl in enumerate(slices):
        tmpd = tempfile.mkdtemp(prefix=f"gate_e{i}_")
        sl.coalesce(1).write.parquet(f"{tmpd}/out")
        _sh.copy(
            _glob.glob(f"{tmpd}/out/part-*.parquet")[0],
            f"{staging}/d{i}.parquet",
        )
        # one availableNow run per staged file, same checkpoint: epoch
        # order is pinned by the run sequence, not file mtimes
        (
            stream_source(spark, staging, docs.schema, watermark=None)
            .writeStream.foreachBatch(sink)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
            .awaitTermination()
        )
    return (
        read_dedup_gate_corpus(spark, store)
        .select("doc_id", F.col("__fp").alias("fp"))
        .orderBy("doc_id")
    )


# time-travel store cache: built once per sf_dir by direct sink epochs
# (the streaming lifecycle itself is streaming_dedup_gate's contract);
# the snapshot/diff rows time the PURE as-of serves
_GATE_TT_STORE: dict[str, str] = {}


def _gate_tt_store(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per sf_dir) the three-epoch dedup-gate store the
    time-travel rows serve from: the same ascending-doc_id epoch split
    as streaming_dedup_gate, applied by direct sink calls."""
    from ..streaming.pipeline import foreach_batch_dedup_gate

    if sf_dir not in _GATE_TT_STORE:
        import tempfile

        (docs,) = _t(spark, sf_dir, "documents")
        lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).collect()[0]
        cut1, cut2 = lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3
        store = tempfile.mkdtemp(prefix="gate_tt_") + "/store"
        sink = foreach_batch_dedup_gate(store)
        sink(docs.filter(F.col("doc_id") <= cut1), 0)
        sink(docs.filter((F.col("doc_id") > cut1) & (F.col("doc_id") <= cut2)), 1)
        sink(docs.filter(F.col("doc_id") > cut2), 2)
        _GATE_TT_STORE[sf_dir] = store
    return _GATE_TT_STORE[sf_dir]


@query(
    "dedup_gate_corpus_read_at",
    oracle=f"""
    WITH b AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM documents),
    prefix AS (
      SELECT d.* FROM documents d, b
      WHERE d.doc_id <= b.lo + 2 * ((b.hi - b.lo) // 3)
    )
    SELECT d.doc_id, md5({_NORM}) AS fp
    FROM prefix d
    JOIN (
      SELECT md5({_NORM}) AS kfp, MIN(doc_id) AS keeper
      FROM prefix GROUP BY 1
    ) k ON k.keeper = d.doc_id
    ORDER BY d.doc_id
""",
)
def q_dedup_gate_corpus_read_at(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REPRODUCIBLE TRAINING-DATA SNAPSHOT from the dedup gate (VERDICT
    r10 next #6's stated consumer need): the gate's accepted corpus is
    immutable per-epoch segments that never compact, so
    `read_dedup_gate_corpus_at(store, 1)` serves the deduped corpus
    EXACTLY as it stood after the second ingestion epoch — the snapshot
    a training run pins so its data is auditable forever — while epoch
    2's documents stay live in the store. The store ingests the same
    three ascending-doc_id epochs as streaming_dedup_gate (built once
    per sf_dir; this row times the pure as-of serve: a name filter over
    the segment listing + the same plan-level union scan as the live
    read). Oracle: batch exact-dedup min-id survivors over exactly the
    first two epochs' id range — epochs ascend by doc_id, so
    first-epoch-wins IS global min over the prefix corpus."""
    from ..streaming.pipeline import read_dedup_gate_corpus_at

    store = _gate_tt_store(spark, sf_dir)
    return (
        read_dedup_gate_corpus_at(spark, store, 1)
        .select("doc_id", F.col("__fp").alias("fp"))
        .orderBy("doc_id")
    )


@query(
    "dedup_gate_corpus_diff",
    oracle=f"""
    WITH b AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM documents),
    prefix AS (
      SELECT d.* FROM documents d, b
      WHERE d.doc_id <= b.lo + 2 * ((b.hi - b.lo) // 3)
    ),
    keep AS (
      SELECT md5({_NORM}) AS kfp, MIN(doc_id) AS keeper
      FROM prefix GROUP BY 1
    )
    SELECT d.doc_id, md5({_NORM}) AS fp
    FROM prefix d
    JOIN keep k ON k.keeper = d.doc_id
    JOIN b ON d.doc_id > b.lo + ((b.hi - b.lo) // 3)
    ORDER BY d.doc_id
""",
)
def q_dedup_gate_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORPUS DIFF between two gate snapshots — "what new training data
    entered between data version A and B": accepted segments are
    immutable and per-epoch, so `read_dedup_gate_corpus_diff(store, 0,
    1)` IS the epoch-1 segment set — a name filter plus a union scan of
    exactly the between-snapshot segments; neither snapshot is computed,
    nothing else is read. Oracle: the semantic contract proven
    independently — batch exact-dedup min-id survivors of the
    first-two-epoch corpus restricted to ids ABOVE the first epoch's
    range (survivors the second epoch added: epochs ascend by doc_id, so
    a keeper above cut1 is exactly an epoch-1 acceptance). Shares the
    once-per-sf_dir store with dedup_gate_corpus_read_at."""
    from ..streaming.pipeline import read_dedup_gate_corpus_diff

    store = _gate_tt_store(spark, sf_dir)
    return (
        read_dedup_gate_corpus_diff(spark, store, 0, 1)
        .select("doc_id", F.col("__fp").alias("fp"))
        .orderBy("doc_id")
    )


@query(
    "streaming_neardup_gate",
    oracle=f"""
    WITH shng AS (SELECT doc_id, {_SHINGLES} AS sh FROM documents),
    f AS (SELECT doc_id, sh FROM shng WHERE len(sh) > 0),
    nd AS (
      SELECT DISTINCT b.doc_id AS id_b
      FROM f a, f b
      WHERE a.doc_id < b.doc_id
        AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / (CAST(len(a.sh) + len(b.sh) AS DOUBLE)
                 - CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)) >= 0.8
    )
    SELECT doc_id FROM documents
    WHERE doc_id NOT IN (SELECT id_b FROM nd)
    ORDER BY doc_id
""",
)
def q_streaming_neardup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING near-dup gate — the twelfth stored-artifact foreachBatch
    consumer (streaming.pipeline.foreach_batch_neardup_gate): documents
    stream through THREE ordered epochs (ascending doc_id ranges, one
    availableNow run each on a shared checkpoint); every epoch is banded
    against the PERSISTED MinHash band index of everything seen so far,
    candidates are exact-Jaccard verified against stored shingles, and a
    doc is dropped iff a smaller-id SEEN doc is >= 0.8 similar — the
    monotone min-id drop rule corpus-wide, which is exactly what the
    batch oracle replays (brute-force Jaccard survivor set; the banded
    probe's ~5e-15 band-miss bound is the same sanction minhash_neardup
    carries). Dropped docs are indexed too: a kept-only index would
    silently turn the rule into order-dependent greedy."""
    import glob as _glob
    import shutil as _sh
    import tempfile

    from ..session import ensure_utc
    from ..streaming.pipeline import (
        foreach_batch_neardup_gate,
        read_neardup_gate_corpus,
        stream_source,
    )

    ensure_utc(spark)
    (docs,) = _t(spark, sf_dir, "documents")
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).collect()[0]
    cut1, cut2 = lo + (hi - lo) // 3, lo + 2 * (hi - lo) // 3
    store = tempfile.mkdtemp(prefix="ndgate_") + "/store"
    staging = tempfile.mkdtemp(prefix="ndgate_delta_")
    ckpt = tempfile.mkdtemp(prefix="ckpt_ndgate_")
    sink = foreach_batch_neardup_gate(store)
    slices = [
        docs.filter(F.col("doc_id") <= cut1),
        docs.filter((F.col("doc_id") > cut1) & (F.col("doc_id") <= cut2)),
        docs.filter(F.col("doc_id") > cut2),
    ]
    for i, sl in enumerate(slices):
        tmpd = tempfile.mkdtemp(prefix=f"ndgate_e{i}_")
        sl.coalesce(1).write.parquet(f"{tmpd}/out")
        _sh.copy(
            _glob.glob(f"{tmpd}/out/part-*.parquet")[0],
            f"{staging}/d{i}.parquet",
        )
        (
            stream_source(spark, staging, docs.schema, watermark=None)
            .writeStream.foreachBatch(sink)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
            .awaitTermination()
        )
    return (
        read_neardup_gate_corpus(spark, store)
        .select("doc_id")
        .orderBy("doc_id")
    )
