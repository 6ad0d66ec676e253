"""LLM-data-pipeline operators as oracle-checked queries (SURVEY.md §7.5).

Each entry pairs a Spark builder from ``getdbt_spark.pipeline`` with a
DuckDB oracle that re-computes the SAME formula (same tokenization,
same hash where portable, same double-promotion order), so the
order-insensitive value-hash comparison is exact — no tolerance knobs.

Where the Spark plan is approximate-by-structure (LSH banding, IVF
bucketing) the oracle is the exact computation; the operators are
parameterized so the approximation provably cannot miss above the
output threshold at these scales (see pipeline.py for the math).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .. import functions as E
from .. import pipeline as P
from ..io import load_table, scalar_anchor
from ..session import lineage_cut
from . import query


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def _embs(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def _utf8_bytes_sql(texpr: str) -> str:
    """DuckDB fragment: UTF-8 byte-value list of a string expression.

    The multimodal oracles compare against Arrow kernels that operate
    on the ENCODED PAYLOAD BYTES (np.frombuffer(..., uint8)), so the
    oracle must produce true byte values at true byte positions —
    ``[ascii(c) for c in string_split(text, '')]`` equals that only
    for pure-ASCII corpora (r6 ADVICE; the multibyte corpus variant
    exercises the difference).  Each char expands to its 1-4 UTF-8
    bytes from the code point — the standard UTF-8 bit layout — and
    flatten() keeps the whole thing one linear list op per document.
    Note string_split('','') is [''] (ascii 0), mirroring the old
    fragment's one-spurious-element shape on empty docs, so empty-doc
    zip-pad behavior (and every ASCII hash) is unchanged.
    """
    return f"""flatten([
      CASE WHEN ascii(c) < 128 THEN [ascii(c)]
           WHEN ascii(c) < 2048 THEN [192 + ascii(c)//64, 128 + ascii(c)%64]
           WHEN ascii(c) < 65536 THEN [224 + ascii(c)//4096,
                                       128 + (ascii(c)//64)%64,
                                       128 + ascii(c)%64]
           ELSE [240 + ascii(c)//262144, 128 + (ascii(c)//4096)%64,
                 128 + (ascii(c)//64)%64, 128 + ascii(c)%64]
      END
      for c in string_split({texpr}, '')])"""


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@query(
    "dedup_exact",
    oracle="""
    SELECT md5(lower(trim(text))) AS fingerprint,
           min(doc_id) AS keep_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy on the canonical text, keep min doc_id.

    Pure map-side-combinable aggregation — at 100 TB this is one
    shuffle on a 128-bit fingerprint with near-perfect partial
    aggregation (each executor collapses its local copies first).
    """
    d = _docs(spark, sf_dir)
    key = F.md5(F.lower(F.trim(F.col("text"))))
    return d.groupBy(key.alias("fingerprint")).agg(
        F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies")
    )


@query(
    "dedup_exact_prefix",
    oracle="""
    SELECT substr(lower(text), 1, 40) AS prefix_key,
           min(doc_id) AS keep_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY 1
    HAVING count(*) > 1
    """,
)
def dedup_exact_prefix(spark, sf_dir):
    """Prefix-canonicalized dedup — groups that share the first 40
    normalized chars (the corpus seeds ~20 such collision groups, so
    this exercises actual collapse, not just identity grouping)."""
    d = _docs(spark, sf_dir)
    key = F.substring(F.lower(F.col("text")), 1, 40)
    return (
        d.groupBy(key.alias("prefix_key"))
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
        .filter(F.col("n_copies") > 1)
    )


@query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct([w[i] || '|' || w[i+1] || '|' || w[i+2]
                            for i in range(1, len(w) - 1)]) AS s
      FROM toks WHERE len(w) >= 3
    ), pairs AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             round(len(list_intersect(a.s, b.s))::DOUBLE
                   / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    )
    SELECT a_id, b_id, jaccard FROM pairs
    WHERE jaccard >= {P.JACCARD_THRESHOLD}
    """,
)
def dedup_minhash_lsh(spark, sf_dir):
    """Near-dup pairs via MinHash signatures + banded LSH + exact verify.

    The oracle is brute-force all-pairs Jaccard (fine at 500 docs);
    the Spark plan never goes all-pairs — candidates come from the
    banded signature join (P(miss | J>=0.6) ~ 4e-13 with 64 bands of
    2, see pipeline.py), then only candidates get the exact check.
    """
    return P.minhash_lsh_pairs(_docs(spark, sf_dir))


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct([w[i] || '|' || w[i+1] || '|' || w[i+2]
                            for i in range(1, len(w) - 1)]) AS s
      FROM toks WHERE len(w) >= 3
    ), pairs AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             round(len(list_intersect(a.s, b.s))::DOUBLE
                   / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    )
    SELECT a_id, b_id, jaccard FROM pairs
    WHERE jaccard >= {P.JACCARD_THRESHOLD}
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    """EXACT word-trigram Jaccard near-dup pairs via ℓ-prefix
    filtering — the deterministic complement to the MinHash plan.

    The oracle is brute-force all-pairs; the Spark plan explodes only
    each doc's sorted-gram ℓ-prefix (|S| - ceil(0.6|S|) + ℓ elements,
    ℓ = min(3, ceil(0.6|S|))), joins on the gram hash, keeps pairs that
    share at least min(ℓ_A, ℓ_B) prefix grams, and exact-verifies those
    candidates — provably complete, never all-pairs (see
    pipeline.ngram_jaccard_pairs).
    """
    return P.ngram_jaccard_pairs(_docs(spark, sf_dir))


@query(
    "dedup_cluster_canonical",
    oracle=f"""
    WITH RECURSIVE toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct([w[i] || '|' || w[i+1] || '|' || w[i+2]
                            for i in range(1, len(w) - 1)]) AS s
      FROM toks WHERE len(w) >= 3
    ), pairs AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE round(len(list_intersect(a.s, b.s))::DOUBLE
                  / len(list_distinct(list_concat(a.s, b.s))), 6)
            >= {P.JACCARD_THRESHOLD}
    ), edges AS (
      SELECT a_id AS src, b_id AS dst FROM pairs
      UNION ALL
      SELECT b_id AS src, a_id AS dst FROM pairs
    ), walk(id, comp) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, w.comp FROM walk w JOIN edges e ON e.src = w.id
    ), comp AS (
      SELECT id, min(comp) AS canonical FROM walk GROUP BY id
    )
    SELECT d.doc_id,
           coalesce(c.canonical, d.doc_id) AS canonical_id,
           d.doc_id = coalesce(c.canonical, d.doc_id) AS keep
    FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
    """,
)
def dedup_cluster_canonical(spark, sf_dir):
    """Near-dup CLUSTERS, not just pairs: connected components over the
    exact trigram-Jaccard pair graph, minimum doc_id elected canonical,
    ``keep`` = the per-document training-set verdict (exactly one
    survivor per cluster).

    Spark: the ℓ-prefix-filtered pair graph (pipeline.
    ngram_jaccard_pairs), then alternating large-star/small-star rounds
    — one window pass per half-round over the edge set, O(log n)
    convergence on any graph shape (pipeline.connected_components).
    Each round is one action, an eager lineage cut (session.
    lineage_cut: localCheckpoint, or a reliable checkpoint where the
    deployment set a checkpoint dir).  The oracle is a recursive-CTE transitive
    closure — exact, and exponential-ish in DuckDB, which is fine at
    oracle scale and exactly the plan shape Spark must NOT use.
    """
    return P.near_dup_canonical(_docs(spark, sf_dir))


@query(
    "dedup_simhash",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS w
      FROM documents
    ), tok AS (
      SELECT doc_id, unnest(w) AS t FROM toks
    ), h AS (
      SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS hv FROM tok
    ), votes AS (
      SELECT doc_id, j,
             sum(CASE WHEN (hv >> j) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM h CROSS JOIN range(60) r(j)
      GROUP BY 1, 2
    )
    SELECT doc_id,
           sum(CASE WHEN v > 0 THEN 1::BIGINT << j ELSE 0 END)::BIGINT AS simhash
    FROM votes GROUP BY 1
    """,
)
def dedup_simhash(spark, sf_dir):
    """60-bit SimHash fingerprint per document (md5-based so the oracle
    can recompute it bit-for-bit). Near-dup detection at scale becomes
    a self-join on the fingerprint (or banded substrings of it) —
    fixed-width state per doc instead of shingle sets.  Runs in the
    Arrow simhash kernel (pipeline.simhash60_kernel — the per-bit HOF
    form measured ~11 s at sf0.1, the kernel is sub-second);
    repartitioned first so one parquet split doesn't serialize the
    whole kernel onto one core."""
    d = _docs(spark, sf_dir)
    n_cores = spark.sparkContext.defaultParallelism
    return (
        d.select("doc_id", "text")
        .repartition(n_cores)
        .select("doc_id", P.simhash60_kernel()(F.col("text")).alias("simhash"))
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

_COSINE_ORACLE_CORE = """
    WITH e AS (
      SELECT vec_id, embedding,
             sqrt(list_sum([x::DOUBLE * x::DOUBLE for x in embedding])) AS norm
      FROM embeddings
    ), p AS (
      -- isfinite guard == pipeline.cosine's NaN->NULL contract: a
      -- corrupt (NaN/Inf-component) vector has undefined cosine and
      -- must rank LAST (NULL), not first (raw NaN sorts greatest in
      -- BOTH engines under DESC) — the nanvec random-corpus find.
      -- Zero-norm stays NULL via DuckDB's 0/0 -> NULL division.
      SELECT vec_id, neighbor_id,
             CASE WHEN isfinite(c0) THEN c0 END AS c
      FROM (
        SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
               list_sum([a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE
                         for i in range(1, len(a.embedding) + 1)])
                 / (a.norm * b.norm) AS c0
        FROM e a JOIN e b ON a.vec_id <> b.vec_id)
    )
"""

# Oracle twin of pipeline.finite_vec (embedding validity: every
# component present and finite) appears inline in five oracles below
# as:  isfinite(list_sum([abs(x)...])) AND no NULL component.
# DuckDB's list_sum SKIPS NULL elements where Spark's fold propagates
# them, so the NULL-component check is mirrored explicitly — a
# null-component corpus variant filters the vector in BOTH engines
# (r6 ADVICE).


@query(
    "sim_topk_cosine",
    oracle=_COSINE_ORACLE_CORE
    + """
    , r AS (
      SELECT vec_id, neighbor_id, round(c, 6) AS cos_sim,
             row_number() OVER (
               PARTITION BY vec_id ORDER BY c DESC, neighbor_id) AS rnk
      FROM p
    )
    SELECT vec_id, rnk, neighbor_id, cos_sim FROM r WHERE rnk <= 10
    """,
)
def sim_topk_cosine(spark, sf_dir):
    """Brute-force cosine top-10 — the ANN correctness baseline.

    Runs as a distributed block matrix product (see
    pipeline.topk_cosine_blocked): index hash-sharded, query side
    chunked, one numpy ``Q @ M.T`` per block, global top-k via one
    window — exact by construction, no driver collect, no broadcast
    ceiling.  At 100 TB, size index_shards to the task memory budget
    or switch to sim_ann_ivf / sim_ann_lsh.
    """
    return P.topk_cosine_blocked(_embs(spark, sf_dir), k=10)


@query(
    "sim_ann_ivf",
    oracle=_COSINE_ORACLE_CORE
    + """
    , cent AS (
      SELECT vec_id AS cent_id, embedding, norm FROM e WHERE vec_id < 16
    ), assign_scored AS (
      -- same isfinite guard as the p CTE: a corrupt centroid (or
      -- query) must not capture every vector via NaN-ranks-first
      SELECT vec_id, cent_id, CASE WHEN isfinite(c0) THEN c0 END AS c
      FROM (
        SELECT e.vec_id, cent.cent_id,
               list_sum([e.embedding[i]::DOUBLE * cent.embedding[i]::DOUBLE
                         for i in range(1, len(e.embedding) + 1)])
                 / (e.norm * cent.norm) AS c0
        FROM e CROSS JOIN cent)
    ), assign AS (
      SELECT vec_id, cent_id FROM (
        SELECT vec_id, cent_id,
               row_number() OVER (
                 PARTITION BY vec_id ORDER BY c DESC, cent_id) AS rn
        FROM assign_scored) WHERE rn = 1
    ), bucketed AS (
      SELECT p.vec_id, p.neighbor_id, p.c
      FROM p
      JOIN assign qa ON qa.vec_id = p.vec_id
      JOIN assign na ON na.vec_id = p.neighbor_id
      WHERE qa.cent_id = na.cent_id
    )
    SELECT vec_id, rnk, neighbor_id, cos_sim FROM (
      SELECT vec_id, neighbor_id, round(c, 6) AS cos_sim,
             row_number() OVER (
               PARTITION BY vec_id ORDER BY c DESC, neighbor_id) AS rnk
      FROM bucketed) WHERE rnk <= 5
    """,
)
def sim_ann_ivf(spark, sf_dir):
    """IVF-bucketed ANN: assign every vector to its nearest centroid,
    then search only within the bucket — the 100 TB plan shape.

    Centroids here are the first 16 vectors (deterministic, so the
    oracle can replicate the assignment exactly); production swaps in
    sampled k-means centroids without changing the plan.

    Round-13 assignment shape (guide §2.3, §2.4; the map-only pattern
    proven on the k-means family): the codebook folds into ONE
    broadcast row carrying ``array<struct<cent_id, cvec, cnorm>>``, so
    scoring is a per-row ``transform`` over that array and the argmax
    a per-row ``array_max`` over ``(c IS NOT NULL, c, -cent_id)`` sort
    keys — which reproduces the old window's ``ORDER BY c DESC NULLS
    LAST, cent_id`` rank-1 pick exactly (non-NULL beats NULL, higher c
    wins, lower cent_id breaks ties; all-NULL rows fall back to the
    lowest cent_id).  The old form fanned out k rows per vector
    (BroadcastNestedLoopJoin), ranked them back down with a
    per-vector window (an exchange + sort of k× the corpus), and then
    shuffled the vectors AGAIN to join the assignment back.  All
    three costs are gone: assignment is map-only, the in-bucket search
    is the per-bucket block-matmul kernel (one exchange per
    replication constant instead of a Σ|cell|² pair self-join), and
    the final top-k window folds ≤ k×shards rows per query.  The
    1-row codebook crossJoin is still the one allow-listed
    BroadcastNestedLoopJoin (``plans.BOUNDED_NLJ_ALLOW``).
    """
    # spread BEFORE the map-only scoring: a toy parquet scan is one
    # split, and without the old window exchange nothing downstream
    # re-parallelizes the per-row codebook fold (no-op on a real
    # many-split corpus scan).
    e = P.with_norm(P.spread(_embs(spark, sf_dir)))
    cent = e.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cent_id"),
        F.col("embedding").alias("cvec"),
        F.col("norm").alias("cnorm"),
    )
    # lineage-cut (lazy): both replicated sides of the bucketed block
    # search consume it, and a joined frame feeding both sides of a
    # cogroup needs the cut to pass the ambiguous-self-join check (see
    # session.lineage_cut).  The in-bucket search is the shared
    # block-matmul kernel (pipeline.topk_cosine_blocked per bucket):
    # one dense numpy product per (bucket, chunk, shard) block instead
    # of a Σ|cell|² pair self-join scored by the interpreted zip_with
    # cosine fold.
    ea = lineage_cut(spark)(P.assign_nearest_cosine(e, cent), eager=False)
    return P.topk_cosine_blocked(ea, k=5, bucket="cent_id")


@query(
    "dedup_embedding_cosine",
    oracle=_COSINE_ORACLE_CORE
    + f"""
    SELECT vec_id AS a_id, neighbor_id AS b_id, round(c, 6) AS cos_sim
    FROM p WHERE vec_id < neighbor_id AND round(c, 6) >= {P.COSINE_TAU}
    """,
)
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (cos >= 0.45; the corpus
    tops out at ~0.51 so the threshold surfaces the closest pairs).

    Brute-force at test scale; the 100 TB path replaces the self-join
    with an LSH/IVF bucket key (see sim_ann_ivf) so candidate pairs
    are generated per bucket instead of all-pairs.

    The pair graph is ``_emb_exact_pairs`` — the same brute-force
    scan ``dedup_embedding_cluster`` clusters.
    """
    return _emb_exact_pairs(spark, sf_dir)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

_STOP_SQL = "['" + "','".join(P.STOPWORDS) + "']"


@query(
    "text_quality_score",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, n_chars, string_split(lower(text), ' ') AS w
      FROM documents
    ), m AS (
      SELECT doc_id, n_chars, len(w) AS n_tokens,
             list_sum(list_transform(w, x -> len(x)))::DOUBLE / len(w)
               AS avg_token_len,
             len(list_filter(w, x -> list_contains({_STOP_SQL}, x)))::DOUBLE
               / len(w) AS stopword_ratio
      FROM toks
    )
    SELECT doc_id, n_chars, n_tokens,
           round(avg_token_len, 6) AS avg_token_len,
           round(stopword_ratio, 6) AS stopword_ratio,
           CASE WHEN n_tokens >= 50 AND stopword_ratio BETWEEN 0.02 AND 0.5
                THEN 'good'
                WHEN n_tokens >= 20 THEN 'fair'
                ELSE 'poor' END AS quality
    FROM m
    """,
)
def text_quality_score(spark, sf_dir):
    """Heuristic quality scoring: token count, mean token length,
    stopword ratio, bucketed verdict — all higher-order Column
    functions, zero Python in the loop."""
    d = _docs(spark, sf_dir)
    w = P.ws_tokens(F.col("text"))
    stop = F.array(*[F.lit(s) for s in P.STOPWORDS])
    d = d.select(
        "doc_id",
        "n_chars",
        F.size(w).alias("n_tokens"),
        (
            F.aggregate(
                F.transform(w, F.length), F.lit(0), lambda acc, x: acc + x
            ).cast("double")
            / F.size(w)
        ).alias("avg_token_len"),
        (
            F.size(F.filter(w, lambda x: F.array_contains(stop, x))).cast("double")
            / F.size(w)
        ).alias("stopword_ratio"),
    )
    quality = (
        F.when(
            (F.col("n_tokens") >= 50)
            & F.col("stopword_ratio").between(0.02, 0.5),
            "good",
        )
        .when(F.col("n_tokens") >= 20, "fair")
        .otherwise("poor")
    )
    return d.select(
        "doc_id",
        "n_chars",
        "n_tokens",
        E.round_to(F.col("avg_token_len"), 6).alias("avg_token_len"),
        E.round_to(F.col("stopword_ratio"), 6).alias("stopword_ratio"),
        quality.alias("quality"),
    )


_LANG_PROFILES = {
    "en": ("the", "a", "of", "and", "to"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "et", "les", "des"),
    "es": ("el", "los", "y", "que", "en"),
}


def _profile_sql(lang: str) -> str:
    return "['" + "','".join(_LANG_PROFILES[lang]) + "']"


@query(
    "text_langid",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang AS actual_lang, string_split(lower(text), ' ') AS w
      FROM documents
    ), s AS (
      SELECT doc_id, actual_lang,
             len(list_filter(w, x -> list_contains({_profile_sql('en')}, x))) AS s_en,
             len(list_filter(w, x -> list_contains({_profile_sql('de')}, x))) AS s_de,
             len(list_filter(w, x -> list_contains({_profile_sql('fr')}, x))) AS s_fr,
             len(list_filter(w, x -> list_contains({_profile_sql('es')}, x))) AS s_es
      FROM toks
    )
    SELECT doc_id, actual_lang,
           CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en > 0
                  THEN 'en'
                WHEN s_de >= s_fr AND s_de >= s_es AND s_de > 0 THEN 'de'
                WHEN s_fr >= s_es AND s_fr > 0 THEN 'fr'
                WHEN s_es > 0 THEN 'es'
                ELSE 'und' END AS pred_lang
    FROM s
    """,
)
def text_langid(spark, sf_dir):
    """Stopword-profile language ID (first-match argmax, deterministic
    tie-break en>de>fr>es>und). On this synthetic shared-vocab corpus
    the prediction is mostly 'en' — the oracle checks the HEURISTIC,
    not ground truth; actual_lang is carried for downstream accuracy
    queries."""
    d = _docs(spark, sf_dir)
    w = P.ws_tokens(F.col("text"))

    def hits(lang: str):
        prof = F.array(*[F.lit(s) for s in _LANG_PROFILES[lang]])
        return F.size(F.filter(w, lambda x: F.array_contains(prof, x)))

    d = d.select(
        "doc_id",
        F.col("lang").alias("actual_lang"),
        hits("en").alias("s_en"),
        hits("de").alias("s_de"),
        hits("fr").alias("s_fr"),
        hits("es").alias("s_es"),
    )
    pred = (
        F.when(
            (F.col("s_en") >= F.col("s_de"))
            & (F.col("s_en") >= F.col("s_fr"))
            & (F.col("s_en") >= F.col("s_es"))
            & (F.col("s_en") > 0),
            "en",
        )
        .when(
            (F.col("s_de") >= F.col("s_fr"))
            & (F.col("s_de") >= F.col("s_es"))
            & (F.col("s_de") > 0),
            "de",
        )
        .when((F.col("s_fr") >= F.col("s_es")) & (F.col("s_fr") > 0), "fr")
        .when(F.col("s_es") > 0, "es")
        .otherwise("und")
    )
    return d.select("doc_id", "actual_lang", pred.alias("pred_lang"))


@query(
    "text_token_stats",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             string_split(lower(text), ' ') AS w,
             regexp_extract_all(lower(text), '{P.BPE_TOKEN_RE}') AS bpe
      FROM documents
    )
    SELECT doc_id, len(w) AS n_ws_tokens, len(bpe) AS n_bpe_tokens,
           len(list_distinct(w)) AS n_distinct,
           round(len(list_distinct(w))::DOUBLE / len(w), 6) AS distinct_ratio
    FROM t
    """,
)
def text_token_stats(spark, sf_dir):
    """Token counting two ways: whitespace tokens and a BPE-ish regex
    pre-tokenization (letter runs / digit runs / punctuation marks),
    plus the type-token ratio."""
    d = _docs(spark, sf_dir)
    w = P.ws_tokens(F.col("text"))
    bpe = F.regexp_extract_all(F.lower(F.col("text")), F.lit(P.BPE_TOKEN_RE), F.lit(0))
    return d.select(
        "doc_id",
        F.size(w).alias("n_ws_tokens"),
        F.size(bpe).alias("n_bpe_tokens"),
        F.size(F.array_distinct(w)).alias("n_distinct"),
        E.round_to(
            F.size(F.array_distinct(w)).cast("double") / F.size(w), 6
        ).alias("distinct_ratio"),
    )


@query(
    "doc_fingerprint",
    oracle="""
    WITH toks AS (
      SELECT doc_id, text, string_split(lower(text), ' ') AS w FROM documents
    ), grams AS (
      SELECT doc_id, text,
             [w[i] || '|' || w[i+1] for i in range(1, len(w))] AS g
      FROM toks WHERE len(w) >= 2
    )
    SELECT doc_id, md5(text) AS md5_full,
           list_min(list_transform(g,
             x -> ('0x' || substr(md5(x), 1, 15))::BIGINT)) AS rolling_min
    FROM grams
    """,
)
def doc_fingerprint(spark, sf_dir):
    """Document fingerprinting: full-content md5 plus a rolling-hash
    style min-hash over word bigrams (the winnowing primitive — at
    scale, k min values per doc give a locality-sensitive sketch)."""
    d = P.spread(_docs(spark, sf_dir))
    w = P.ws_tokens(F.col("text"))
    grams = P.word_grams(w, 2)
    return d.filter(F.size(w) >= 2).select(
        "doc_id",
        F.md5(F.col("text")).alias("md5_full"),
        F.array_min(F.transform(grams, P.md5_long)).alias("rolling_min"),
    )


# ---------------------------------------------------------------------------
# Multimodal columns
# ---------------------------------------------------------------------------


@query(
    "multimodal_meta",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                  ELSE 'video' END AS modality,
             octet_length(encode(text)) AS n_bytes
      FROM documents
    )
    SELECT doc_id, modality, n_bytes,
           64 + n_bytes % 577 AS width,
           64 + (n_bytes * 31) % 353 AS height,
           CASE WHEN modality = 'video' THEN 1 + n_bytes % 96 ELSE 1 END
             AS n_frames
    FROM base
    """,
)
def multimodal_meta(spark, sf_dir):
    """Multimodal plumbing: opaque binary payload + typed metadata,
    decoded through an Arrow-batched mapInPandas stub.

    The payload is the utf-8 text bytes standing in for image/audio/
    video blobs; the decode stub derives dimensions deterministically
    from payload size (real codecs are not in this container — see
    pipeline.decode_multimodal). The Spark-side contract — binary
    column, explicit schema, batch iterator — is the real part and
    what the oracle checks.
    """
    d = _docs(spark, sf_dir)
    modality = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    payload = d.select(
        "doc_id",
        modality.alias("modality"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )
    return P.decode_multimodal(payload)


@query(
    "multimodal_frame_sample",
    oracle=f"""
    WITH base AS (
      SELECT doc_id,
             CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                  ELSE 'video' END AS modality,
             text, octet_length(encode(text)) AS n_bytes
      FROM documents
    ), v AS (
      -- byte-value list computed ONCE per doc (linear), then sliced
      -- per frame below: frames partition the byte range, so total
      -- sliced length ≤ n_bytes per doc.  True UTF-8 bytes — frame
      -- boundaries are BYTE offsets and legally split a multibyte
      -- char across frames, which no char-level oracle can express.
      SELECT doc_id, modality, n_bytes,
             {_utf8_bytes_sql('text')} AS bs,
             CASE WHEN modality = 'video' THEN 1 + n_bytes % 96 ELSE 1 END
               AS n_frames,
             64 + n_bytes % 577 AS w,
             64 + (n_bytes * 31) % 353 AS h
      FROM base
    ), fr AS (
      SELECT doc_id, modality, bs, n_bytes, n_frames, w, h,
             unnest(range(0, n_frames, 7)) AS frame_idx
      FROM v
    )
    SELECT doc_id, modality, frame_idx,
           (frame_idx * n_bytes) // n_frames AS frame_offset,
           ((frame_idx + 1) * n_bytes) // n_frames
             - (frame_idx * n_bytes) // n_frames AS frame_len,
           -- 1-based inclusive list slice == byte range [s, e);
           -- empty slice is NULL → coalesce 0 (empty frames)
           CAST(coalesce(list_sum(
             bs[(frame_idx * n_bytes) // n_frames + 1 :
                ((frame_idx + 1) * n_bytes) // n_frames]
           ), 0) AS BIGINT) AS frame_checksum,
           w * 224 // greatest(w, h) AS resized_w,
           h * 224 // greatest(w, h) AS resized_h
    FROM fr
    """,
)
def multimodal_frame_sample(spark, sf_dir):
    """Frame-sample + resize over binary payloads (every 7th frame of
    the fake-decoded frame grid, aspect-preserving 224-box resize).

    One input row fans out to N output rows through the Arrow batch
    iterator — the mapInPandas contract a real video pipeline needs;
    the byte checksum stands in for the per-frame codec call (the
    oracle expands chars to UTF-8 bytes — _utf8_bytes_sql — so the
    sum is byte-exact on multibyte corpora too).
    """
    d = _docs(spark, sf_dir)
    modality = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    payload = d.select(
        "doc_id",
        modality.alias("modality"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )
    return P.sample_frames(payload)


# ---------------------------------------------------------------------------
# Embedding maintenance & mixture sampling
# ---------------------------------------------------------------------------


@query(
    "emb_l2_normalize",
    oracle="""
    WITH e AS (
      SELECT vec_id, embedding,
             sqrt(list_sum([(x::DOUBLE) * (x::DOUBLE)
                            for x in embedding])) AS nrm
      FROM embeddings
    ), g AS (
      -- finite-positive guard (mirrors pipeline.l2_normalize): a
      -- NaN/Inf norm (corrupt components, nanvec probe) must NULL
      -- every unit element, not crash the BIGINT serialization
      SELECT vec_id, embedding, nrm,
             CASE WHEN isfinite(nrm) AND nrm > 0 THEN nrm END AS safe
      FROM e
    )
    SELECT vec_id,
           array_to_string(
             [coalesce(CAST(CAST(sign(u) * floor(abs(u) * 1000000.0 + 0.5)
                                 AS BIGINT) AS VARCHAR), 'null')
              for u in [x::DOUBLE / safe for x in embedding]],
             ',') AS unit_q6,
           round(nrm, 6) AS norm
    FROM g
    """,
)
def emb_l2_normalize(spark, sf_dir):
    """Unit-norm embeddings (cosine → plain dot product downstream).

    Left-fold sum of squares + element-wise divide as JVM higher-order
    expressions; both engines fold the same float→double casts in the
    same order.  The unit vector is serialized as a CSV of micro-unit
    BIGINTs (``sign(u)·floor(|u|·1e6 + 0.5)`` — round_to(6)'s internal
    integer) because the driver's canonicalizer cannot hash
    array-typed cells (CORRECTNESS_r03 ``unhashable type: 'list'``);
    the product API (pipeline.l2_normalize) still returns real arrays.
    """
    out = P.l2_normalize(_embs(spark, sf_dir))
    q6 = F.transform(
        "unit",
        lambda v: F.coalesce(
            (F.signum(v) * F.floor(F.abs(v) * F.lit(1e6) + F.lit(0.5)))
            .cast("long")
            .cast("string"),
            F.lit("null"),
        ),
    )
    return out.select("vec_id", F.concat_ws(",", q6).alias("unit_q6"), "norm")


@query(
    "emb_quantize_int8",
    oracle="""
    WITH e AS (
      SELECT vec_id, embedding,
             list_max([abs(x::DOUBLE) for x in embedding]) AS maxabs
      FROM embeddings
    ), g AS (
      -- finite-positive guard (mirrors pipeline.quantize_int8): a
      -- NaN/Inf max|x| NULLs the quantization instead of crashing
      -- the INT32 cast (nanvec probe)
      SELECT vec_id, embedding,
             CASE WHEN isfinite(maxabs) AND maxabs > 0
                  THEN maxabs END AS safe
      FROM e
    )
    SELECT vec_id,
           array_to_string(
             [coalesce(CAST(floor(x::DOUBLE / safe * 127
                                  + 0.5)::INTEGER AS VARCHAR), 'null')
              for x in embedding], ',') AS q_csv,
           round(safe / 127, 9) AS scale
    FROM g
    """,
)
def emb_quantize_int8(spark, sf_dir):
    """Symmetric per-vector int8 quantization — 4× smaller ANN index.

    floor(x/max|x|*127 + 0.5) lands in [-127, 127] without a clamp;
    the floor form is bit-identical across engines where round() tie
    rules differ (see pipeline.quantize_int8).  The int8 array is
    serialized to a CSV string for the oracle harness (driver canon
    can't hash list cells); pipeline.quantize_int8 keeps the array.
    """
    out = P.quantize_int8(_embs(spark, sf_dir))
    csv = F.transform(
        "q", lambda v: F.coalesce(v.cast("string"), F.lit("null"))
    )
    return out.select("vec_id", F.concat_ws(",", csv).alias("q_csv"), "scale")


_MIX_RATES = {"en": 30, "de": 70, "es": 70, "fr": 70, "zh": 90}


@query(
    "sample_stratified",
    oracle="""
    SELECT doc_id, text, lang, source, n_chars
    FROM documents
    WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100
          < CASE lang WHEN 'en' THEN 30 WHEN 'de' THEN 70 WHEN 'es' THEN 70
                      WHEN 'fr' THEN 70 WHEN 'zh' THEN 90 ELSE 0 END
    """,
)
def sample_stratified(spark, sf_dir):
    """Deterministic language-mixture sampling: downsample the dominant
    language, upsample low-resource ones — the training-mix weighting
    step.  Keep-decision is md5(doc_id) mod 100 < rate[lang]: a pure
    row function (no rand()), identical across retries, executors,
    partition layouts, and engines; the predicate is a scan-level
    filter (pushdown-friendly), never a sample() pass.
    """
    return P.stratified_sample(_docs(spark, sf_dir), _MIX_RATES)


@query(
    "sim_ann_lsh",
    oracle=_COSINE_ORACLE_CORE
    + """
    , dots AS (
      SELECT e.vec_id, j.j,
             list_sum([e.embedding[i]::DOUBLE *
                       (CASE WHEN ('0x' || substr(md5(j.j || '-' || (i-1)),
                                                  1, 15))::BIGINT & 1 = 1
                             THEN 1.0 ELSE -1.0 END)
                       for i in range(1, len(e.embedding) + 1)]) AS d
      FROM e CROSS JOIN range(8) j(j)
    ), bucket AS (
      SELECT vec_id,
             sum(CASE WHEN d > 0 THEN (1::BIGINT << j) ELSE 0 END)::BIGINT
               AS b
      FROM dots GROUP BY 1
    ), bucketed AS (
      SELECT p.vec_id, p.neighbor_id, p.c
      FROM p
      JOIN bucket qb ON qb.vec_id = p.vec_id
      JOIN bucket nb ON nb.vec_id = p.neighbor_id
      WHERE qb.b = nb.b
    )
    SELECT vec_id, rnk, neighbor_id, cos_sim FROM (
      SELECT vec_id, neighbor_id, round(c, 6) AS cos_sim,
             row_number() OVER (
               PARTITION BY vec_id ORDER BY c DESC, neighbor_id) AS rnk
      FROM bucketed) WHERE rnk <= 5
    """,
)
def sim_ann_lsh(spark, sf_dir):
    """Random-hyperplane (sign-random-projection) bucketed ANN — the
    LSH counterpart to ``sim_ann_ivf``: no centroid fit, buckets come
    from md5-derived hyperplane sign bits, search happens only within
    a bucket.  One shuffle on the bucket key + per-bucket top-k
    window; multi-probe (flipping the lowest-margin bits) is the
    recall knob at scale, same plan shape.  8 bits here so the
    fixture's 500 vectors land ~2 per bucket and the oracle exercises
    the sign-parity claim on a dense result (16 bits left all-singleton
    buckets — a nearly vacuous 6-row check); production picks nbits by
    target bucket size n/2^nbits.
    """
    # In-bucket search: the pair fold (pipeline.cosine_topk), NOT the
    # per-bucket block kernel that sim_ann_ivf/_trained use.
    # Measured both ways in round 13: this fixture dials nbits=8 so
    # buckets hold ~8 vectors (B² ≈ 64 pairs/bucket), and the kernel's
    # per-bucket cogroup groups + two grouping exchanges cost MORE
    # than the tiny interpreted fold they replace (1.35 → 1.93 s at
    # sf0.1, flagged by the bench share gate).  The crossover is
    # bucket size: production dials nbits for target bucket sizes in
    # the hundreds, where the kernel's dense matmul wins — swap in
    # P.topk_cosine_blocked(e, k=5, index_shards=1, query_chunks=1,
    # bucket="bucket") at that operating point.
    e = P.lsh_bucket(P.with_norm(_embs(spark, sf_dir)), nbits=8).persist()
    return P.cosine_topk(e, e, "bucket").withColumn(
        "rnk", F.col("rnk").cast("long")
    )


# ---------------------------------------------------------------------------
# Training-set assembly: packing, profiling, per-group sampling, centroids
# ---------------------------------------------------------------------------


@query(
    "pack_token_budget",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ), c AS (
      SELECT doc_id, lang, n_tokens,
             CAST(sum(n_tokens) OVER (
               PARTITION BY lang ORDER BY doc_id) AS BIGINT) AS cum
      FROM t
    )
    SELECT doc_id, lang, n_tokens,
           CAST(cum - n_tokens AS BIGINT) AS start_offset,
           CAST(floor((cum - n_tokens) / 2048.0) AS BIGINT) AS bin_id
    FROM c
    """,
)
def pack_token_budget(spark, sf_dir):
    """Sequence packing for training shards: assign each document a
    deterministic (bin, offset) inside per-language streams of
    2048-token context windows — the contiguous-fill packing every
    large pretraining pipeline runs before writing tokenized shards.

    The assignment is deterministic (cumulative token count per
    language in doc_id order; bin = start_offset div budget): no RNG,
    no driver state, stable under retries and re-partitioning.  The
    running total uses ``functions.with_running_total`` — a
    lang-PARTITIONED window funnels each language's whole token
    stream through one task, and languages are catalog-sized keys
    with DATA-sized row counts (a monolingual corpus = one window
    task for ~all documents); the grouped slice-offset prefix sum
    keeps every stage bounded while producing the identical
    byte-stable layout.
    """
    d = _docs(spark, sf_dir)
    n_tokens = F.size(F.split("text", " ")).cast("long")
    c = E.with_running_total(
        d.select("doc_id", "lang", n_tokens.alias("n_tokens")),
        order=[F.asc("doc_id")],
        out_col="cum",
        weight="n_tokens",
        group="lang",
    )
    start = (F.col("cum") - F.col("n_tokens")).cast("long")
    return c.select(
        "doc_id",
        "lang",
        "n_tokens",
        start.alias("start_offset"),
        F.floor(start / F.lit(2048.0)).cast("long").alias("bin_id"),
    )


@query(
    "text_ngram_profile",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, string_split(lower(text), ' ') AS w
      FROM documents
    ), g AS (
      SELECT doc_id, lang,
             unnest(list_distinct(
               [w[i] || '|' || w[i+1] || '|' || w[i+2]
                for i in range(1, len(w) - 1)])) AS gram
      FROM toks WHERE len(w) >= 3
    ), f AS (
      SELECT lang, gram, CAST(count(*) AS BIGINT) AS doc_freq
      FROM g GROUP BY 1, 2
    )
    SELECT lang, gram, doc_freq, rnk FROM (
      SELECT lang, gram, doc_freq,
             CAST(row_number() OVER (
               PARTITION BY lang ORDER BY doc_freq DESC, gram) AS INT) AS rnk
      FROM f
    ) WHERE rnk <= 5
    """,
)
def text_ngram_profile(spark, sf_dir):
    """Corpus n-gram profile: the top-5 word trigrams per language by
    DOCUMENT frequency — the corpus-analytics pass behind boilerplate
    detection (headers/footers shared across many documents rank
    top) and contamination checks.

    Per-doc distinct grams (document frequency, not term frequency)
    keep one spammy document from dominating the profile.  Plan:
    map-side explode → one (lang, gram) aggregation → per-language
    top-k window; at 100 TB the agg is map-combinable and the window
    input is one row per distinct gram, not per occurrence.  Ties
    break on the gram string so top-5 is deterministic across engines.
    """
    from pyspark.sql import Window

    d = P.spread(_docs(spark, sf_dir))
    w = P.ws_tokens(F.col("text"))
    f = (
        d.select(
            "lang",
            F.explode(F.array_distinct(P.word_grams(w, 3))).alias("gram"),
        )
        .groupBy("lang", "gram")
        .agg(F.count("*").alias("doc_freq"))
    )
    rnk = F.row_number().over(
        Window.partitionBy("lang").orderBy(F.col("doc_freq").desc(), "gram")
    )
    return (
        f.withColumn("rnk", rnk)
        .filter(F.col("rnk") <= 5)
        .select("lang", "gram", "doc_freq", "rnk")
    )


@query(
    "sample_reservoir_per_source",
    oracle="""
    SELECT doc_id, source, rnk FROM (
      SELECT doc_id, source,
             CAST(row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS rnk
      FROM documents
    ) WHERE rnk <= 20
    """,
)
def sample_reservoir_per_source(spark, sf_dir):
    """Deterministic fixed-size per-group sample: 20 documents per
    source, ordered by md5(doc_id) — a reproducible stand-in for
    per-group reservoir sampling (manual-inspection panels, eval
    slices) with none of ``rand()``'s retry instability.

    Scale shape: one window per group keyed on the partition column —
    no global sort, no collect; the md5 order is uniform so the panel
    is unbiased, and the same (engine-portable) hash makes the sample
    identical on Spark and the oracle.
    """
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    rnk = F.row_number().over(
        Window.partitionBy("source").orderBy(
            F.md5(F.col("doc_id").cast("string")), "doc_id"
        )
    )
    return (
        d.select("doc_id", "source")
        .withColumn("rnk", rnk)
        .filter(F.col("rnk") <= 20)
    )


@query(
    "emb_centroid_per_label",
    oracle="""
    WITH x AS (
      -- valid vectors only (pipeline.finite_vec): one NaN component
      -- would crash the BIGINT quantization; one Inf would silently
      -- poison the centroid sum (nanvec probe)
      SELECT label, embedding,
             unnest(generate_series(1, len(embedding))) AS i
      FROM embeddings
      WHERE isfinite(list_sum([abs(x::DOUBLE) for x in embedding]))
        AND len(list_filter(embedding, x -> x IS NULL)) = 0
    ), q AS (
      SELECT label, i - 1 AS pos,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000000.0)
                  AS BIGINT) AS qv
      FROM x
    ), g AS (
      SELECT label, pos, sum(qv) AS s, CAST(count(*) AS BIGINT) AS n
      FROM q GROUP BY 1, 2
    )
    , c AS (
      SELECT label, pos, n,
             CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 10000000.0) AS cv
      FROM g
    )
    SELECT label, max(n) AS n_vectors,
           string_agg(CAST(CAST(sign(cv) * floor(abs(cv) * 1000000.0 + 0.5)
                                AS BIGINT) AS VARCHAR),
                      ',' ORDER BY pos) AS centroid_q6
    FROM c GROUP BY label
    """,
)
def emb_centroid_per_label(spark, sf_dir):
    """Per-class mean embedding (the k-means / prototype primitive of
    embedding analytics).

    Element sums run in EXACT integer space — each float is promoted
    to double (exact) and quantized ``floor(x·1e7)`` to a long before
    the group sum — because a floating-point mean is summation-order-
    dependent and Spark's partial aggregation order differs from any
    single-threaded oracle; integer sums are order-free, so the
    result is bit-identical across engines AND across cluster
    re-partitionings.  Plan: posexplode → (label, pos) map-combinable
    agg → per-label ordered array rebuild; dims × labels rows after
    the first agg, trivial at any scale.
    """
    e = _embs(spark, sf_dir).filter(P.finite_vec("embedding"))
    q = F.transform(
        "embedding", lambda v: F.floor(v.cast("double") * F.lit(1e7)).cast("long")
    )
    g = (
        e.select("label", F.posexplode(q).alias("pos", "qv"))
        .groupBy("label", "pos")
        .agg(F.sum("qv").alias("s"), F.count("*").alias("n"))
    )
    cv = F.col("s").cast("double") / (F.col("n").cast("double") * F.lit(1e7))
    # micro-unit BIGINT per element (round_to(6)'s internal integer):
    # the driver canon can't hash array cells, so the centroid ships as
    # an ordered CSV string; values are identical to the old rounded
    # doubles up to the final /1e6.
    kq = (F.signum(cv) * F.floor(F.abs(cv) * F.lit(1e6) + F.lit(0.5))).cast(
        "long"
    )
    return (
        g.select("label", "pos", F.col("n"), kq.alias("kq"))
        .groupBy("label")
        .agg(
            F.max("n").alias("n_vectors"),
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "kq"))),
                    lambda x: x["kq"].cast("string"),
                ),
            ).alias("centroid_q6"),
        )
    )


@query(
    "emb_knn_classify",
    oracle=_COSINE_ORACLE_CORE
    + """
    , r AS (
      SELECT vec_id, neighbor_id,
             row_number() OVER (
               PARTITION BY vec_id ORDER BY c DESC, neighbor_id) AS rnk
      FROM p
    ), k AS (
      SELECT r.vec_id, e2.label
      FROM r JOIN embeddings e2 ON e2.vec_id = r.neighbor_id
      WHERE rnk <= 10
    ), v AS (
      SELECT vec_id, label, CAST(count(*) AS BIGINT) AS votes
      FROM k GROUP BY 1, 2
    )
    SELECT vec_id, CAST(label AS INT) AS pred_label, votes FROM (
      SELECT vec_id, label, votes,
             row_number() OVER (
               PARTITION BY vec_id ORDER BY votes DESC, label) AS vr
      FROM v
    ) WHERE vr = 1
    """,
)
def emb_knn_classify(spark, sf_dir):
    """kNN majority-vote label prediction — the compositional payoff of
    the similarity stack: exact top-10 neighbors from the blocked
    matrix kNN (no driver state, no broadcast ceiling), neighbor
    labels joined in (tiny side — AQE broadcasts it), one vote
    aggregation, deterministic winner (votes desc, label asc).

    At 100 TB swap the exact kNN for sim_ann_ivf/sim_ann_lsh
    candidates; the vote/argmax stages are unchanged — which is the
    point of keeping neighbor generation and classification as
    separate composable operators.
    """
    from pyspark.sql import Window

    embs = _embs(spark, sf_dir)
    topk = P.topk_cosine_blocked(embs, k=10)
    labels = embs.select(F.col("vec_id").alias("neighbor_id"), "label")
    votes = (
        topk.join(labels, "neighbor_id")
        .groupBy("vec_id", "label")
        .agg(F.count("*").alias("votes"))
    )
    vr = F.row_number().over(
        Window.partitionBy("vec_id").orderBy(F.col("votes").desc(), "label")
    )
    return (
        votes.withColumn("vr", vr)
        .filter(F.col("vr") == 1)
        .select("vec_id", F.col("label").alias("pred_label"), "votes")
    )


@query(
    "sim_ann_lsh_multiprobe",
    oracle=_COSINE_ORACLE_CORE
    + """
    , dots AS (
      SELECT e.vec_id, j.j,
             list_sum([e.embedding[i]::DOUBLE *
                       (CASE WHEN ('0x' || substr(md5(j.j || '-' || (i-1)),
                                                  1, 15))::BIGINT & 1 = 1
                             THEN 1.0 ELSE -1.0 END)
                       for i in range(1, len(e.embedding) + 1)]) AS d
      FROM e CROSS JOIN range(8) j(j)
    ), bucket AS (
      SELECT vec_id,
             sum(CASE WHEN d > 0 THEN (1::BIGINT << j) ELSE 0 END)::BIGINT
               AS b
      FROM dots GROUP BY 1
    ), bucketed AS (
      SELECT p.vec_id, p.neighbor_id, p.c
      FROM p
      JOIN bucket qb ON qb.vec_id = p.vec_id
      JOIN bucket nb ON nb.vec_id = p.neighbor_id
      WHERE bit_count(xor(qb.b, nb.b)) <= 1
    )
    SELECT vec_id, rnk, neighbor_id, cos_sim FROM (
      SELECT vec_id, neighbor_id, round(c, 6) AS cos_sim,
             row_number() OVER (
               PARTITION BY vec_id ORDER BY c DESC, neighbor_id) AS rnk
      FROM bucketed) WHERE rnk <= 5
    """,
)
def sim_ann_lsh_multiprobe(spark, sf_dir):
    """Multi-probe LSH ANN — the recall knob the single-bucket variant
    documents, implemented: each query probes its own bucket PLUS the
    8 one-bit-flip neighbor buckets (the buckets a borderline
    hyperplane margin could have landed it in), lifting recall at
    ~(nbits+1)× candidate cost with NO re-hashing and the same plan
    shape — the query side explodes its probe list and the join stays
    an equi shuffle on the bucket key.  At 100 TB the probe count
    (and flipping lowest-|margin| bits first) tunes the recall/cost
    trade per query.
    """
    e = P.lsh_bucket(P.with_norm(_embs(spark, sf_dir)), nbits=8).persist()
    # query side: own bucket + the 8 one-bit flips
    probes = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(1 << j)) for j in range(8)],
    )
    q = e.select(
        "vec_id", "embedding", "norm", F.explode(probes).alias("bucket")
    )
    # e stays persisted (two consumers); the sweep/bench harnesses
    # clearCache between queries — same ownership rule as sim_ann_lsh.
    return P.cosine_topk(q, e, "bucket")


@query(
    "pack_shard_manifest",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ), c AS (
      SELECT doc_id, lang, n_tokens,
             CAST(sum(n_tokens) OVER (
               PARTITION BY lang ORDER BY doc_id) AS BIGINT) AS cum
      FROM t
    ), b AS (
      SELECT doc_id, lang, n_tokens,
             CAST(floor((cum - n_tokens) / 2048.0) AS BIGINT) AS bin_id
      FROM c
    )
    SELECT lang, bin_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
             AS doc_ids_csv
    FROM b GROUP BY 1, 2
    """,
)
def pack_shard_manifest(spark, sf_dir):
    """The shard manifest downstream of ``pack_token_budget``: one row
    per (language, bin) with its document list in write order — what a
    tokenizer-writer job consumes to emit training shards, and what a
    data-lineage audit reads back ("which documents are in shard 17?").

    Same grouped slice-offset prefix sum as the packer (a
    lang-partitioned window would funnel a dominant language through
    one task — see ``pack_token_budget``), then one map-combinable
    aggregation; the per-shard doc list is bounded by the token budget
    (2048 tokens / min doc length), so collect_list stays small by
    construction at any corpus size.
    """
    d = _docs(spark, sf_dir)
    n_tokens = F.size(F.split("text", " ")).cast("long")
    c = E.with_running_total(
        d.select("doc_id", "lang", n_tokens.alias("n_tokens")),
        order=[F.asc("doc_id")],
        out_col="cum",
        weight="n_tokens",
        group="lang",
    )
    b = c.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.floor((F.col("cum") - F.col("n_tokens")) / F.lit(2048.0))
        .cast("long")
        .alias("bin_id"),
    )
    return b.groupBy("lang", "bin_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("shard_tokens"),
        # CSV, not array<long>: the driver canon can't hash list cells
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(F.collect_list("doc_id")),
                lambda x: x.cast("string"),
            ),
        ).alias("doc_ids_csv"),
    )


@query(
    "text_normalize",
    oracle="""
    SELECT doc_id,
           md5(trim(regexp_replace(regexp_replace(lower(text),
                 '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS norm_md5,
           CAST(length(trim(regexp_replace(regexp_replace(lower(text),
                 '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS BIGINT)
             AS norm_len
    FROM documents
    """,
)
def text_normalize(spark, sf_dir):
    """Canonical text normalization: lowercase → strip non-alphanumeric
    to spaces → collapse runs → trim.  The pre-pass that makes exact
    dedup robust to punctuation/casing noise; emitted as an md5 so
    the row stays fixed-width (the normalized text itself would be
    re-derived in the consuming stage).  Pure codegen'd regex chain,
    map-only; both engines apply the identical replacement pipeline
    so the fingerprints hash-match.
    """
    d = _docs(spark, sf_dir)
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "),
            " +",
            " ",
        )
    )
    return d.select(
        "doc_id",
        F.md5(norm).alias("norm_md5"),
        F.length(norm).cast("long").alias("norm_len"),
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination / repetition filtering / dataset splitting
# ---------------------------------------------------------------------------


@query(
    "text_decontaminate",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source, string_split(lower(text), ' ') AS w
      FROM documents WHERE len(string_split(lower(text), ' ')) >= 3
    ), grams AS (
      SELECT doc_id, source,
             unnest(list_distinct(
               [w[i] || '|' || w[i+1] || '|' || w[i+2]
                for i in range(1, len(w) - 1)])) AS g
      FROM toks
    ), bench AS (
      SELECT DISTINCT doc_id AS bench_id, g FROM grams WHERE doc_id % 97 = 0
    ), hits AS (
      SELECT DISTINCT c.doc_id, c.source, b.bench_id
      FROM grams c JOIN bench b USING (g)
      WHERE c.doc_id % 97 != 0
    )
    SELECT doc_id, source, count(*) AS n_bench_hits
    FROM hits GROUP BY doc_id, source
    """,
)
def text_decontaminate(spark, sf_dir):
    """Benchmark decontamination: flag corpus documents sharing any
    word 3-gram with a held-out benchmark set (docs with
    ``doc_id % 97 == 0`` stand in for an eval suite), reporting how
    many distinct benchmark documents each one collides with.

    The n-gram-overlap filter every LLM training pipeline runs before
    training (the reference corpus here has a tiny vocabulary, so
    3-grams give the realistic ~1/3 contamination rate that 13-grams
    give on natural text).  Scale shape: the benchmark side is small
    by construction (eval suites are thousands of docs, not billions),
    so its exploded gram set is **broadcast** — the corpus side stays
    map-only through shingling and the hash join, and the only shuffle
    is the final groupBy over candidate hits, which is bounded by the
    contaminated subset, not the corpus.
    """
    d = P.spread(_docs(spark, sf_dir))
    w = P.ws_tokens(F.col("text"))
    base = d.select(
        "doc_id",
        "source",
        F.explode(F.array_distinct(P.word_grams(w, 3))).alias("g"),
    )
    # Bench side pre-aggregated to one row per gram carrying the set of
    # benchmark ids: the corpus join is then 1:1 per matched gram (the
    # matched-gram × bench-doc fan-out never materializes as rows), and
    # the per-doc distinct-benchmark count is an array union over the
    # small per-gram sets instead of a corpus-wide pair distinct.
    bench_sets = (
        base.filter(F.col("doc_id") % 97 == 0)
        .select(F.col("doc_id").alias("bench_id"), "g")
        .groupBy("g")
        .agg(F.collect_set("bench_id").alias("bids"))
    )
    hits = base.filter(F.col("doc_id") % 97 != 0).join(
        F.broadcast(bench_sets), "g"
    )
    return hits.groupBy("doc_id", "source").agg(
        F.size(F.array_distinct(F.flatten(F.collect_list("bids"))))
        .cast("long")
        .alias("n_bench_hits")
    )


@query(
    "text_repetition_stats",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w
      FROM documents WHERE len(string_split(lower(text), ' ')) >= 2
    ), words AS (
      SELECT doc_id, unnest(w) AS word FROM toks
    ), wc AS (
      SELECT doc_id, word, count(*) AS c FROM words GROUP BY 1, 2
    ), wstat AS (
      SELECT doc_id, round(max(c)::DOUBLE / sum(c), 6) AS top_word_frac
      FROM wc GROUP BY doc_id
    ), grams AS (
      SELECT doc_id,
             [w[i] || '|' || w[i+1] for i in range(1, len(w))] AS g
      FROM toks
    ), gstat AS (
      SELECT doc_id,
             round(1.0 - len(list_distinct(g))::DOUBLE / len(g), 6)
               AS dup_bigram_frac
      FROM grams
    )
    SELECT w.doc_id, w.top_word_frac, g.dup_bigram_frac,
           (w.top_word_frac > 0.12 OR g.dup_bigram_frac > 0.06)
             AS is_repetitive
    FROM wstat w JOIN gstat g USING (doc_id)
    """,
)
def text_repetition_stats(spark, sf_dir):
    """Repetition-based quality filtering (the Gopher/MassiveText rule
    family): fraction of tokens taken by the single most frequent
    word, and the duplicate word-bigram fraction, with a combined
    repetitiveness flag.

    Two scale-safe branches joined on doc_id: the top-word branch is
    explode → two map-combinable aggregations (never a per-doc
    O(vocab²) HOF — linear at any doc length); the bigram branch
    stays un-exploded, computing distinct/total ratios with array
    HOFs inside codegen on the document row.  Thresholds (0.12 /
    0.06) are calibrated to the synthetic corpus the same way
    Gopher's 0.2 / 0.2 are calibrated to web text.
    """
    d = _docs(spark, sf_dir)
    w = P.ws_tokens(F.col("text"))
    toks = d.filter(F.size(w) >= 2).select("doc_id", w.alias("w"))
    wstat = (
        toks.select("doc_id", F.explode("w").alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            E.round_to(
                F.max("c").cast("double") / F.sum("c"), 6
            ).alias("top_word_frac")
        )
    )
    grams = P.word_grams(F.col("w"), 2)
    gstat = toks.select(
        "doc_id",
        E.round_to(
            F.lit(1.0)
            - F.size(F.array_distinct(grams)).cast("double")
            / F.size(grams),
            6,
        ).alias("dup_bigram_frac"),
    )
    return wstat.join(gstat, "doc_id").select(
        "doc_id",
        "top_word_frac",
        "dup_bigram_frac",
        (
            (F.col("top_word_frac") > 0.12)
            | (F.col("dup_bigram_frac") > 0.06)
        ).alias("is_repetitive"),
    )


@query(
    "sample_train_test_split",
    oracle="""
    WITH tagged AS (
      SELECT source, n_chars,
             CASE
               WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                      ::BIGINT % 10 < 8 THEN 'train'
               WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                      ::BIGINT % 10 = 8 THEN 'val'
               ELSE 'test'
             END AS split
      FROM documents
    )
    SELECT split, source, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           round(avg(n_chars), 6) AS avg_chars
    FROM tagged GROUP BY split, source
    """,
)
def sample_train_test_split(spark, sf_dir):
    """Deterministic 80/10/10 train/val/test split by hashed doc id,
    summarized per split × source.

    The split decision is a pure function of the stable id (portable
    60-bit md5 prefix, no RNG state), so membership is reproducible
    run-to-run, engine-to-engine, and under repartitioning — the
    property that matters when the split must stay frozen across
    months of pipeline reruns.  Map-only tag + one map-combinable
    aggregation; the filter form (``split = 'train'``) is sargable
    enough to push into a scan when the tag is materialized as a
    partition column.
    """
    d = _docs(spark, sf_dir)
    bucket = P.md5_long(F.col("doc_id").cast("string")) % 10
    split = (
        F.when(bucket < 8, F.lit("train"))
        .when(bucket == 8, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        d.select(split.alias("split"), "source", "n_chars")
        .groupBy("split", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            E.round_to(F.avg("n_chars"), 6).alias("avg_chars"),
        )
    )


@query(
    "dedup_containment",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w
      FROM documents WHERE len(string_split(lower(text), ' ')) >= 3
    ), sh AS (
      SELECT doc_id, list_distinct(
               [w[i] || '|' || w[i+1] || '|' || w[i+2]
                for i in range(1, len(w) - 1)]) AS s
      FROM toks
    ), g AS (
      SELECT doc_id, unnest(s) AS gram FROM sh
    ), df AS (
      SELECT gram, count(*) AS dfc FROM g GROUP BY gram
    ), rare AS (
      SELECT g.doc_id, g.gram FROM g JOIN df USING (gram)
      WHERE df.dfc <= 10
    ), cand AS (
      SELECT DISTINCT a.doc_id AS aid, b.doc_id AS bid
      FROM rare a JOIN rare b USING (gram)
      WHERE a.doc_id < b.doc_id
    )
    SELECT c.aid, c.bid,
           CAST(len(sa.s) AS BIGINT) AS n_a,
           CAST(len(sb.s) AS BIGINT) AS n_b,
           round(len(list_intersect(sa.s, sb.s))::DOUBLE
                 / least(len(sa.s), len(sb.s)), 6) AS containment
    FROM cand c
    JOIN sh sa ON sa.doc_id = c.aid
    JOIN sh sb ON sb.doc_id = c.bid
    WHERE len(list_intersect(sa.s, sb.s))::DOUBLE
          / least(len(sa.s), len(sb.s)) >= 0.5
    """,
)
def dedup_containment(spark, sf_dir):
    """Asymmetric containment near-dup detection: flag pairs where
    ≥50% of the SMALLER document's word 3-gram set appears in the
    larger one — catches a snippet embedded in a longer page, which
    symmetric Jaccard misses (the intersection is small relative to
    the union but large relative to the snippet).

    Candidate generation is rare-gram blocking, part of the operator's
    CONTRACT (the oracle applies the identical rule): only grams with
    document frequency ≤ 10 generate pairs, so boilerplate n-grams —
    the quadratic hot keys at corpus scale — never join; the fan-out
    of any gram is capped at df², giving Σ df(g)² bounded candidates.
    On this corpus the blocking finds 25/25 of the brute-force pairs;
    at 100 TB the df cap is the standard recall/cost dial (suffix
    blocking in dedup literature).  Verification ships the two
    (distinct-gram) arrays per candidate and intersects them JVM-side.

    Shingles come from the Arrow ``_shingles_and_sig`` kernel as
    64-bit HASHED grams (the interpreted ``word_grams`` HOF was
    the query's hot spot at sf0.1) — df counts, blocking, and
    intersection sizes over hashed grams equal the oracle's textual
    grams up to ~n²/2^64 collisions, the same equivalence the
    minhash verify is driver-green on.
    """
    # The shingle frame feeds FIVE consumers (df counts, both sides of
    # the candidate self-join, both sides of the verify join): the
    # near-dup plans' one persisted, stats-counted frame.
    sh = P._shingle_frame(_docs(spark, sf_dir), 3, with_sig=False)
    g = sh.select("doc_id", F.explode("s").alias("gram"))
    df_c = g.groupBy("gram").agg(F.count("*").alias("dfc"))
    rare = g.join(df_c.filter(F.col("dfc") <= 10), "gram")
    a = rare.select(F.col("doc_id").alias("aid"), "gram")
    b = rare.select(F.col("doc_id").alias("bid"), "gram")
    cand = (
        a.join(b, "gram")
        .filter(F.col("aid") < F.col("bid"))
        .select("aid", "bid")
        .distinct()
    )
    sa = sh.select(F.col("doc_id").alias("aid"), F.col("s").alias("sa"))
    sb = sh.select(F.col("doc_id").alias("bid"), F.col("s").alias("sb"))
    cont = F.size(F.array_intersect("sa", "sb")).cast("double") / F.least(
        F.size("sa"), F.size("sb")
    )
    return (
        cand.join(sa, "aid")
        .join(sb, "bid")
        .filter(cont >= 0.5)
        .select(
            "aid",
            "bid",
            F.size("sa").cast("long").alias("n_a"),
            F.size("sb").cast("long").alias("n_b"),
            E.round_to(cont, 6).alias("containment"),
        )
    )


@query(
    "text_perplexity_proxy",
    oracle="""
    WITH words AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
      FROM documents
    ), freq AS (
      SELECT word,
             count(*)::DOUBLE
               / (SELECT count(*) FROM words) AS p
      FROM words GROUP BY word
    ), nats AS (
      SELECT w.doc_id,
             CAST(floor(-ln(f.p) * 1000000) AS BIGINT) AS micro_nats
      FROM words w JOIN freq f USING (word)
    )
    SELECT doc_id, count(*) AS n_tokens,
           round(sum(micro_nats) / count(*) / 1000000.0, 6)
             AS avg_neg_log_p
    FROM nats GROUP BY doc_id
    """,
)
def text_perplexity_proxy(spark, sf_dir):
    """Unigram language-model quality score: average per-token
    surprisal −ln p(word) under the corpus's own unigram distribution
    — the cheap stand-in for the KenLM perplexity filter every
    pretraining pipeline runs (high surprisal ⇒ gibberish / OCR noise;
    low ⇒ boilerplate).

    Cross-engine determinism: per-token surprisal is quantized to
    integer micro-nats BEFORE summation, so the per-doc aggregate is
    an order-free integer sum (double addition order differs between
    engines and partitionings); the single division at the end is
    deterministic.  Caveat: ``floor(-ln(p)·1e6)`` assumes JVM and
    libm ``ln`` agree to the last bit at every floor boundary — ln is
    not required to be correctly rounded, so a 1-ULP platform
    difference could flip one micro-nat on some other host.  Exact on
    this host (and any pair of correctly-rounding libms); a portable
    hardening would coarsen the grain or pre-round ln's argument.
    The frequency table is vocabulary-sized — broadcast — so the
    token stream is map-only into one map-combinable aggregation.
    """
    d = _docs(spark, sf_dir)
    words = d.select(
        "doc_id", F.explode(P.ws_tokens(F.col("text"))).alias("word")
    )
    total = words.count()
    freq = words.groupBy("word").agg(
        (F.count("*").cast("double") / F.lit(float(total))).alias("p")
    )
    nats = words.join(F.broadcast(freq), "word").select(
        "doc_id",
        F.floor(-F.log(F.col("p")) * 1000000).cast("long").alias(
            "micro_nats"
        ),
    )
    return nats.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        E.round_to(
            F.sum("micro_nats") / F.count("*") / 1000000.0, 6
        ).alias("avg_neg_log_p"),
    )


@query(
    "pipeline_end_to_end",
    oracle="""
    WITH raw AS (
      SELECT doc_id, text, lang, n_chars,
             string_split(lower(text), ' ') AS w
      FROM documents
    ), s1_lang AS (
      SELECT * FROM raw WHERE lang IN ('en', 'de', 'fr', 'es')
    ), s2_quality AS (
      SELECT * FROM s1_lang
      WHERE n_chars >= 100 AND len(w) >= 20
            AND len(list_distinct(w))::DOUBLE / len(w) > 0.15
    ), s3_exact AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY md5(lower(trim(text))) ORDER BY doc_id) AS rn
        FROM s2_quality) WHERE rn = 1
    ), s4_neardup AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY list_aggregate(
            list_sort(list_distinct(list_transform(
              [w[i] || '|' || w[i+1] for i in range(1, len(w))],
              x -> ('0x' || substr(md5(x), 1, 15))::BIGINT)))[1:4],
            'string_agg', ',')
          ORDER BY doc_id) AS rn2
        FROM s3_exact) WHERE rn2 = 1
    ), s5_train AS (
      SELECT * FROM s4_neardup
      WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
              ::BIGINT % 10 < 8
    )
    SELECT stage, n_docs FROM (
      SELECT 0 AS ord, 'raw' AS stage, count(*) AS n_docs FROM raw
      UNION ALL SELECT 1, 'lang_filter', count(*) FROM s1_lang
      UNION ALL SELECT 2, 'quality_filter', count(*) FROM s2_quality
      UNION ALL SELECT 3, 'exact_dedup', count(*) FROM s3_exact
      UNION ALL SELECT 4, 'neardup_dedup', count(*) FROM s4_neardup
      UNION ALL SELECT 5, 'train_split', count(*) FROM s5_train
    ) ORDER BY ord
    """,
)
def pipeline_end_to_end(spark, sf_dir):
    """The full training-data funnel COMPOSED from the engine's own
    primitives — language filter → quality filter → exact dedup →
    near-dup dedup (k=4 winnowing signature) → train split — reporting
    survivors per stage.  Proves the pipeline operators are composable
    stages of one lazy plan, not isolated demos: Catalyst fuses the
    three filters into the scan, and the two dedup windows are the
    only exchanges before the stage counts.

    Every stage reuses a primitive that is independently oracle-
    checked (`text_langid` family, `text_token_stats` ratios,
    `dedup_exact`, `doc_fingerprint`'s rolling-min winnowing (densified to k=4),
    `sample_train_test_split`), so a red here localizes to the
    composition, not the operators.

    SINGLE-PASS shape (round-13, guide §8 / §2.3 / §2.4): the old
    6-branch union re-derived every stage prefix per branch — six
    scans of ``documents``, six tokenizations, and the dedup windows
    re-computed in three branches, with the window exchanges carrying
    ``text`` and the token array.  Now each document is scanned ONCE,
    the per-stage survival flags and both dedup keys are computed
    map-side, the heavy columns are projected away BEFORE the first
    exchange, and the two dedup "keeps" are min-doc_id-per-key window
    aggregates over the narrow (doc_id, keys, flags) rows — survival
    at stage k is ``doc_id == min(doc_id among stage-(k-1) survivors
    in my key group)``, which is exactly the old ``row_number() == 1
    ORDER BY doc_id`` keep because doc_id is unique.  One final
    single-row aggregation counts every flag and unpivots to the same
    six (stage, n_docs) rows.  At 100 TB: one pass over the corpus,
    two narrow shuffles, instead of six passes and five full-width
    window shuffles.
    """
    from pyspark.sql import Window

    d = P.spread(_docs(spark, sf_dir))
    w = P.ws_tokens(F.col("text"))
    raw = d.select("doc_id", "text", "lang", "n_chars", w.alias("w"))
    f1 = F.col("lang").isin("en", "de", "fr", "es")
    ttr = F.size(F.array_distinct("w")).cast("double") / F.size("w")
    f2 = f1 & (
        (F.col("n_chars") >= 100) & (F.size("w") >= 20) & (ttr > 0.15)
    )
    exact_key = F.md5(F.lower(F.trim(F.col("text"))))
    grams = P.word_grams(F.col("w"), 2)
    # winnowing signature: the FOUR smallest distinct bigram hashes
    # (a single min collides globally on a tiny vocabulary; k=4 is the
    # standard winnowing density dial)
    near_key = F.concat_ws(
        ",",
        F.slice(
            F.array_sort(F.array_distinct(F.transform(grams, P.md5_long))),
            1,
            4,
        ),
    )
    # Narrow per-doc row: all heavy text/token work ends here, before
    # any exchange.
    flagged = raw.select(
        F.col("doc_id"),
        f1.alias("f1"),
        f2.alias("f2"),
        exact_key.alias("exact_key"),
        near_key.alias("near_key"),
    )
    # Stage-3 keep among stage-2 survivors: min(doc_id) over the
    # exact-key group restricted to f2 rows (min skips NULLs, so the
    # conditional projection restricts the group while non-survivors
    # stay in the frame for the raw/f1 counts).
    w_exact = Window.partitionBy("exact_key")
    f3 = F.col("f2") & (
        F.col("doc_id")
        == F.min(F.when(F.col("f2"), F.col("doc_id"))).over(w_exact)
    )
    flagged = flagged.withColumn("f3", f3)
    w_near = Window.partitionBy("near_key")
    f4 = F.col("f3") & (
        F.col("doc_id")
        == F.min(F.when(F.col("f3"), F.col("doc_id"))).over(w_near)
    )
    flagged = flagged.withColumn("f4", f4)
    f5 = F.col("f4") & (
        P.md5_long(F.col("doc_id").cast("string")) % 10 < 8
    )
    counts = flagged.agg(
        F.count("*").alias("n_raw"),
        F.count_if(F.col("f1")).alias("n_s1"),
        F.count_if(F.col("f2")).alias("n_s2"),
        F.count_if(F.col("f3")).alias("n_s3"),
        F.count_if(F.col("f4")).alias("n_s4"),
        F.count_if(f5).alias("n_s5"),
    )
    return counts.select(
        F.expr(
            "stack(6, 'raw', n_raw, 'lang_filter', n_s1,"
            " 'quality_filter', n_s2, 'exact_dedup', n_s3,"
            " 'neardup_dedup', n_s4, 'train_split', n_s5)"
        ).alias("stage", "n_docs")
    )


@query(
    "sim_recall_at_k",
    oracle=_COSINE_ORACLE_CORE
    + """
    , exact5 AS (
      SELECT vec_id, neighbor_id FROM (
        SELECT vec_id, neighbor_id,
               row_number() OVER (
                 PARTITION BY vec_id ORDER BY c DESC, neighbor_id) AS rnk
        FROM p) WHERE rnk <= 5
    ), cent AS (
      SELECT vec_id AS cent_id, embedding, norm FROM e WHERE vec_id < 16
    ), assign_scored AS (
      -- same isfinite guard as the p CTE: a corrupt centroid (or
      -- query) must not capture every vector via NaN-ranks-first
      SELECT vec_id, cent_id, CASE WHEN isfinite(c0) THEN c0 END AS c
      FROM (
        SELECT e.vec_id, cent.cent_id,
               list_sum([e.embedding[i]::DOUBLE * cent.embedding[i]::DOUBLE
                         for i in range(1, len(e.embedding) + 1)])
                 / (e.norm * cent.norm) AS c0
        FROM e CROSS JOIN cent)
    ), assign AS (
      SELECT vec_id, cent_id FROM (
        SELECT vec_id, cent_id,
               row_number() OVER (
                 PARTITION BY vec_id ORDER BY c DESC, cent_id) AS rn
        FROM assign_scored) WHERE rn = 1
    ), ivf5 AS (
      SELECT vec_id, neighbor_id FROM (
        SELECT p.vec_id, p.neighbor_id,
               row_number() OVER (
                 PARTITION BY p.vec_id ORDER BY p.c DESC, p.neighbor_id)
                 AS rnk
        FROM p
        JOIN assign qa ON qa.vec_id = p.vec_id
        JOIN assign na ON na.vec_id = p.neighbor_id
        WHERE qa.cent_id = na.cent_id) WHERE rnk <= 5
    )
    SELECT (SELECT count(DISTINCT vec_id) FROM e) AS n_queries,
           (SELECT count(*) FROM ivf5 JOIN exact5 USING (vec_id, neighbor_id))
             AS n_hits,
           round((SELECT count(*) FROM ivf5 JOIN exact5
                  USING (vec_id, neighbor_id))::DOUBLE
                 / (5 * (SELECT count(DISTINCT vec_id) FROM e)), 6)
             AS recall_at_5
    """,
)
def sim_recall_at_k(spark, sf_dir):
    """ANN quality evaluation: recall@5 of the IVF index against the
    exact brute-force top-5 — the metric that decides whether an
    approximate index is shippable, computed inside the engine (no
    external eval harness).

    Composes the two independently oracle-checked builders
    (`sim_topk_cosine`, `sim_ann_ivf`) and reduces their overlap to
    one row: hits / (k·queries).  Missing neighbors (bucket smaller
    than k) count against recall, per the standard definition.  The
    join is on (query, neighbor) ids — aggregate-grain, k rows per
    query — so the evaluation costs a fraction of either index build
    at any corpus size.

    The measured ~0.20 recall is itself the correct result for THIS
    corpus: isotropic random vectors have no cluster structure, so
    nearest neighbors rarely share the single nearest of 16 centroids
    (nprobe=1).  Real embedding spaces are clustered, and the nprobe
    dial (union over top-n assignments, see the multiprobe LSH
    variant) is how production trades compute for recall — this
    operator is the measurement that tunes it.
    """
    exact5 = sim_topk_cosine(spark, sf_dir).filter(F.col("rnk") <= 5)
    ivf5 = sim_ann_ivf(spark, sf_dir)
    e = _embs(spark, sf_dir)
    hits = ivf5.join(
        exact5.select("vec_id", "neighbor_id"), ["vec_id", "neighbor_id"]
    )
    n_queries = e.select("vec_id").distinct().count()
    return hits.agg(
        F.lit(n_queries).cast("long").alias("n_queries"),
        F.count("*").alias("n_hits"),
        E.round_to(
            F.count("*").cast("double") / F.lit(float(5 * n_queries)), 6
        ).alias("recall_at_5"),
    )


from . import ORACLES as _ORACLES  # composition: reuse a registered oracle


@query(
    "text_lang_confusion",
    oracle="WITH preds AS (\n"
    + _ORACLES["text_langid"]
    + """)
    SELECT actual_lang, pred_lang, count(*) AS n,
           round(count(*)::DOUBLE / sum(count(*)) OVER (
             PARTITION BY actual_lang), 6) AS row_share
    FROM preds GROUP BY actual_lang, pred_lang
    """,
)
def text_lang_confusion(spark, sf_dir):
    """Language-ID evaluation: the confusion matrix of the stopword
    classifier against the labeled lang column, with per-true-class
    shares (row-normalized) — the in-engine quality report that
    decides whether the cheap n-gram classifier is good enough before
    anything downstream trusts its routing.

    Composes the oracle-checked `text_langid` output; the matrix is a
    langs² aggregation over per-doc predictions — the evaluation is
    O(docs) map-combinable work and a constant-size result at any
    corpus scale.
    """
    preds = text_langid(spark, sf_dir)
    from pyspark.sql import Window

    counts = preds.groupBy("actual_lang", "pred_lang").agg(
        F.count("*").alias("n")
    )
    w = Window.partitionBy("actual_lang")
    return counts.select(
        "actual_lang",
        "pred_lang",
        "n",
        E.round_to(
            F.col("n").cast("double") / F.sum("n").over(w), 6
        ).alias("row_share"),
    )


@query(
    "multimodal_dedup_phash",
    oracle="""
    WITH payloads AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN 'image'
                  WHEN doc_id % 3 = 1 THEN 'audio'
                  ELSE 'video' END AS modality,
             lower(trim(text)) AS body
      FROM documents
    ), hashed AS (
      SELECT doc_id, modality,
             md5(substr(body, 1, 16) || '|' ||
                 CAST(length(body) // 64 AS VARCHAR)) AS phash
      FROM payloads
    )
    SELECT modality, phash,
           count(*) AS n_assets,
           min(doc_id) AS canonical_id
    FROM hashed
    GROUP BY modality, phash
    HAVING count(*) > 1
    """,
)
def multimodal_dedup_phash(spark, sf_dir):
    """Perceptual-hash-style dedup over opaque binary payloads: a
    locality fingerprint from a leading payload window plus a coarse
    size bucket (tolerant of tail edits/padding — the common
    re-encode artifact) groups copies of the same asset; keep = min
    doc id per (modality, fingerprint) group.

    Real perceptual hashes (pHash DCT, chromaprint) are codec work
    inside the same mapInPandas decode stub as the other multimodal
    ops; the FINGERPRINT-then-groupBy shape here is the production
    plan either way — a map-only digest (reads three 8-byte windows,
    never the full blob into the hash) followed by one key-bounded
    aggregation, identical in cost to exact dedup at any corpus size.
    The digest is computed on the decoded byte stream both engine-side
    and oracle-side, so the grouping is hash-verifiable.
    """
    d = _docs(spark, sf_dir)
    modality = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    body = F.lower(F.trim(F.col("text")))
    blen = F.length(body)
    phash = F.md5(
        F.concat_ws(
            "|",
            F.substring(body, 1, 16),
            F.floor(blen / 64).cast("string"),
        )
    )
    return (
        d.select(
            "doc_id", modality.alias("modality"), phash.alias("phash")
        )
        .groupBy("modality", "phash")
        .agg(
            F.count("*").alias("n_assets"),
            F.min("doc_id").alias("canonical_id"),
        )
        .filter(F.col("n_assets") > 1)
    )


@query(
    "text_keyword_tfidf",
    oracle="""
    WITH words AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
      FROM documents
    ), tf AS (
      SELECT doc_id, word, count(*) AS tf
      FROM words GROUP BY doc_id, word
    ), df AS (
      SELECT word, count(DISTINCT doc_id) AS df FROM words GROUP BY word
    ), n AS (
      SELECT count(DISTINCT doc_id) AS n_docs FROM words
    ), scored AS (
      SELECT tf.doc_id, tf.word,
             CAST(floor(tf.tf * ln(n.n_docs::DOUBLE / df.df) * 1000000)
                  AS BIGINT) AS micro_score
      FROM tf JOIN df USING (word), n
    )
    SELECT doc_id, rnk, word, micro_score FROM (
      SELECT doc_id, word, micro_score,
             row_number() OVER (
               PARTITION BY doc_id
               ORDER BY micro_score DESC, word) AS rnk
      FROM scored) WHERE rnk <= 3 AND micro_score > 0
    """,
)
def text_keyword_tfidf(spark, sf_dir):
    """TF-IDF keyword extraction: each document's top-3 most
    distinctive terms — the classic relevance/tagging primitive,
    computed wholly in-engine.

    Cross-engine determinism: the tf·ln(N/df) score is quantized to
    integer micro-units BEFORE the ranking window, so rank order (and
    the tie-break on the term itself) cannot flip on a last-ulp
    double difference between engines.  Same ``floor(·ln·)`` boundary
    caveat as text_perplexity_proxy: a non-correctly-rounded libm ln
    could flip one micro-unit at an exact floor boundary on another
    platform.  Plan shape: two
    map-combinable aggregations (term frequency, document frequency),
    a vocabulary-sized broadcast join, one ranking window partitioned
    by document — the raw token stream shuffles once.
    """
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    words = d.select(
        "doc_id", F.explode(P.ws_tokens(F.col("text"))).alias("word")
    )
    n_docs = d.count()
    tf = words.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    df_t = words.groupBy("word").agg(
        F.count_distinct("doc_id").alias("df")
    )
    scored = tf.join(F.broadcast(df_t), "word").select(
        "doc_id",
        "word",
        F.floor(
            F.col("tf")
            * F.log(F.lit(float(n_docs)) / F.col("df"))
            * 1000000
        )
        .cast("long")
        .alias("micro_score"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("micro_score").desc(), F.col("word")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter((F.col("rnk") <= 3) & (F.col("micro_score") > 0))
        .select("doc_id", "rnk", "word", "micro_score")
    )


@query(
    "dedup_embedding_cluster",
    oracle="WITH RECURSIVE e AS (\n"
    + f"""      SELECT vec_id, embedding,
             sqrt(list_sum([x::DOUBLE * x::DOUBLE for x in embedding]))
               AS norm
      FROM embeddings
    ), p AS (
      -- isfinite: a corrupt (NaN-component) vector has NO edges —
      -- raw NaN compares greater than any threshold in BOTH engines,
      -- which would chain every corrupt vector into one mega-cluster
      -- (the nanvec find; mirrors pipeline.cosine's NaN->NULL)
      SELECT a_id, b_id FROM (
        SELECT a.vec_id AS a_id, b.vec_id AS b_id,
               list_sum([a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE
                         for i in range(1, len(a.embedding) + 1)])
                 / (a.norm * b.norm) AS c0
        FROM e a JOIN e b ON a.vec_id < b.vec_id)
      WHERE isfinite(c0) AND round(c0, 6) >= {P.COSINE_TAU}
    ), edges AS (
      SELECT a_id AS src, b_id AS dst FROM p
      UNION ALL
      SELECT b_id AS src, a_id AS dst FROM p
    ), walk(id, comp) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e2.dst, w.comp FROM walk w JOIN edges e2 ON e2.src = w.id
    ), comp AS (
      SELECT id, min(comp) AS canonical FROM walk GROUP BY id
    )
    SELECT emb.vec_id,
           coalesce(c.canonical, emb.vec_id) AS canonical_id,
           emb.vec_id = coalesce(c.canonical, emb.vec_id) AS keep
    FROM embeddings emb LEFT JOIN comp c ON c.id = emb.vec_id
    """,
)
def dedup_embedding_cluster(spark, sf_dir):
    """SEMANTIC near-dup clusters: connected components over the
    embedding-cosine pair graph (cos ≥ 0.45), minimum vec_id elected
    canonical — the embedding-space counterpart of
    ``dedup_cluster_canonical``'s lexical clusters, closing the same
    pairs→verdict gap for semantic dedup (paraphrases chain A~B~C even
    when A and C are not pairwise similar).

    Reuses the alternating large-star/small-star component engine
    (pipeline.connected_components — reliable checkpoint cadence,
    never a driver-side graph); pair generation is the brute-force
    oracle-checkable baseline at test scale, with the IVF/LSH bucket
    keys (sim_ann_*) as the documented candidate generator at 100 TB.
    The oracle walks the same graph with a recursive CTE.
    """
    pairs = _emb_exact_pairs(spark, sf_dir)
    comp = P.connected_components(pairs)
    emb = _embs(spark, sf_dir).select("vec_id")
    return (
        emb.join(comp, emb.vec_id == comp.id, "left")
        .select(
            "vec_id",
            F.coalesce("comp", "vec_id").alias("canonical_id"),
        )
        .withColumn("keep", F.col("vec_id") == F.col("canonical_id"))
    )


def _emb_exact_pairs(spark, sf_dir):
    """The brute-force near-dup pair graph (cos ≥ 0.45 over all a<b
    pairs, NULL-scored corrupt vectors never pass the threshold) —
    ``dedup_embedding_cluster``'s candidate generator, shared with
    ``dedup_cluster_recall`` so the recall denominator is BY
    CONSTRUCTION the same graph the exact baseline clusters.
    Quadratic in the corpus — the measured ground-truth path, never
    the 100 TB one (that's the IVF variants).

    The non-equi (a_id < b_id) join plans as a nested-loop over the
    broadcast b side, and its parallelism is the STREAMED side's task
    count — a local parquet corpus arrives as one split, so without a
    repartition the whole quadratic scan runs in one or two tasks
    (found by the r10 sf1 decade: 2 of 32 cores busy for the entire
    pair scan).  Spreading the streamed side across the cluster is the
    same fix minhash_lsh_pairs documents; the exchange moves only the
    narrow (id, vec, norm) projection."""
    n_cores = spark.sparkContext.defaultParallelism
    e = P.with_norm(_embs(spark, sf_dir))
    return P.cosine_edges(e.repartition(n_cores), e)


# ---------------------------------------------------------------------------
# Corpus curation, round 4: span-level dedup, composite quality rules,
# audio chunking
# ---------------------------------------------------------------------------


@query(
    "text_paragraph_dedup",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks
      FROM documents WHERE length(text) > 0
    ), s AS (
      -- zipped unnest + grouped string_agg: the list-slice span form
      -- (toks[p*10+1 : p*10+10] per span, list carried per row) is
      -- O(tokens) PER SLICE in DuckDB — an O(L²) oracle stall on
      -- ~1 MB docs (hugedoc probe); probed value-identical, empty
      -- tokens preserved
      SELECT doc_id, unnest(toks) AS tok,
             unnest(range(0, len(toks))) AS idx
      FROM t
    ), sp AS (
      SELECT doc_id, idx // 10 AS pos,
             string_agg(tok, ' ' ORDER BY idx) AS span
      FROM s GROUP BY doc_id, idx // 10
    ),d AS (
      SELECT span, count(DISTINCT doc_id) AS span_df FROM sp GROUP BY span
    )
    SELECT sp.doc_id,
           count(*) AS n_spans,
           CAST(sum(CASE WHEN d.span_df > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_spans,
           round(sum(CASE WHEN d.span_df > 1 THEN 1 ELSE 0 END)
                 / count(*), 6) AS dup_ratio,
           coalesce(string_agg(CASE WHEN d.span_df = 1 THEN sp.span END,
                               ' ' ORDER BY sp.pos), '') AS kept_text
    FROM sp JOIN d USING (span)
    GROUP BY sp.doc_id
    """,
)
def text_paragraph_dedup(spark, sf_dir):
    """Cross-document span-level exact dedup — the paragraph/line
    dedup stage every web-scrape curation pipeline runs (boilerplate
    headers, navigation, cookie banners repeat VERBATIM across pages;
    CCNet/RefinedWeb drop them at paragraph granularity).  The fixture
    corpus has no newlines, so the unit is a consecutive 10-word span;
    a span is boilerplate when it appears in MORE THAN ONE document
    (within-doc repeats are text_repetition_stats' domain), and each
    doc is reassembled from its surviving spans in position order.

    Scale shape: explode to spans (map-only, linear in corpus size) →
    one map-combinable groupBy(span) for document frequency → shuffle
    join back on span → groupBy(doc_id) reassembly.  Two exchanges
    total on span/doc_id; no driver state, no all-pairs anything —
    the span-df table is the only corpus-sized intermediate and it
    partitions by hash(span) evenly (spans are near-unique).
    """
    d = _docs(spark, sf_dir)
    # Bind the token array as a COLUMN before the span transform:
    # referencing the raw split(text) EXPRESSION inside the HOF lambda
    # re-evaluates the full split once PER SPAN (no common-subexpression
    # elimination across lambda boundaries) — O(words²/10) per doc,
    # which turned a 0.2 s query into a 10-minute stall on ~1 MB docs
    # (the hugedoc random-corpus probe).  A bound attribute is
    # evaluated once per row; same shape as pipeline_curation_v2.
    t = d.filter(F.length("text") > 0).select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    )
    n_spans = F.ceil(F.size("toks") / F.lit(10.0)).cast("int")
    spans = t.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_spans - 1),
                lambda i: F.array_join(
                    F.slice("toks", i * 10 + 1, 10), " "
                ),
            )
        ).alias("pos", "span"),
    )
    span_df = spans.groupBy("span").agg(
        F.count_distinct("doc_id").alias("span_df")
    )
    flagged = spans.join(span_df, "span")
    dup = F.when(F.col("span_df") > 1, 1).otherwise(0)
    return flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.sum(dup).alias("n_dup_spans"),
        F.round(F.sum(dup) / F.count("*"), 6).alias("dup_ratio"),
        F.array_join(
            F.transform(
                F.filter(
                    F.sort_array(
                        F.collect_list(
                            F.struct(
                                F.col("pos"),
                                F.col("span"),
                                (F.col("span_df") == 1).alias("keep"),
                            )
                        )
                    ),
                    lambda s: s["keep"],
                ),
                lambda s: s["span"],
            ),
            " ",
        ).alias("kept_text"),
    )


_GOPHER_STOPWORDS = ("the", "a", "of", "to", "and", "in", "is", "on")


@query(
    "text_gopher_rules",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM documents
    ), m AS (
      SELECT doc_id,
             len(words) AS n_words,
             list_sum([length(x) for x in words]) AS sum_len,
             len(list_filter(words,
                             x -> regexp_matches(x, '[A-Za-z]')))
               AS n_alpha,
             len(list_intersect(
               list_distinct(words),
               {list(_GOPHER_STOPWORDS)!r})) AS n_stopwords
      FROM w
    )
    SELECT doc_id,
           n_words,
           round(sum_len / n_words, 4) AS mean_word_len,
           round(n_alpha / n_words, 4) AS frac_alpha,
           n_stopwords,
           CAST(n_words BETWEEN 50 AND 100000 AS INT) AS rule_wc,
           CAST(sum_len / n_words BETWEEN 3 AND 10 AS INT) AS rule_wl,
           CAST(n_alpha / n_words >= 0.8 AS INT) AS rule_alpha,
           CAST(n_stopwords >= 2 AS INT) AS rule_stop,
           CAST(n_words BETWEEN 50 AND 100000
                AND sum_len / n_words BETWEEN 3 AND 10
                AND n_alpha / n_words >= 0.8
                AND n_stopwords >= 2 AS INT) AS keep
    FROM m
    """,
)
def text_gopher_rules(spark, sf_dir):
    """Composite rule-based quality filter in the style of the Gopher
    curation rules (Rae et al. 2021, appendix A): word-count bounds,
    mean-word-length bounds, minimum fraction of alphabetic words,
    and a minimum count of distinct common stopwords.  Emitted as
    per-rule 0/1 columns plus the conjunction, so downstream mixes
    can re-weight individual rules instead of re-scanning the corpus.

    All features are integer counts; the two ratios are the SAME
    int/int IEEE-double divisions on both engines, so the rule
    comparisons (and the hash) are exact — no tolerance.  Plan shape:
    pure projection over the documents scan (one stage, no shuffle);
    the split→HOF pipeline stays in the JVM.
    """
    d = _docs(spark, sf_dir)
    stops = F.array(*[F.lit(s) for s in _GOPHER_STOPWORDS])
    m = d.select(
        "doc_id",
        F.split(F.col("text"), " ").alias("words"),
    ).select(
        "doc_id",
        F.size("words").alias("n_words"),
        F.aggregate(
            "words",
            F.lit(0).cast("long"),
            lambda acc, x: acc + F.length(x),
        ).alias("sum_len"),
        F.size(
            F.filter("words", lambda x: x.rlike("[A-Za-z]"))
        ).alias("n_alpha"),
        F.size(
            F.array_intersect(F.array_distinct("words"), stops)
        ).alias("n_stopwords"),
    )
    mean_wl = F.col("sum_len") / F.col("n_words")
    frac_alpha = F.col("n_alpha") / F.col("n_words")
    rule_wc = F.col("n_words").between(50, 100000)
    rule_wl = mean_wl.between(3, 10)
    rule_alpha = frac_alpha >= 0.8
    rule_stop = F.col("n_stopwords") >= 2
    return m.select(
        "doc_id",
        "n_words",
        F.round(mean_wl, 4).alias("mean_word_len"),
        F.round(frac_alpha, 4).alias("frac_alpha"),
        "n_stopwords",
        rule_wc.cast("int").alias("rule_wc"),
        rule_wl.cast("int").alias("rule_wl"),
        rule_alpha.cast("int").alias("rule_alpha"),
        rule_stop.cast("int").alias("rule_stop"),
        (rule_wc & rule_wl & rule_alpha & rule_stop)
        .cast("int")
        .alias("keep"),
    )


@query(
    "multimodal_audio_chunks",
    oracle=f"""
    WITH a AS (
      -- n_bytes > 0: an empty doc must emit nothing, but the zipped
      -- unnest pads unequal lengths with NULL (string_split('','')
      -- is [''] while range(0,0) is empty), manufacturing a NULL
      -- chunk row per empty doc
      SELECT doc_id, text, octet_length(encode(text)) AS n_bytes
      FROM documents WHERE doc_id % 3 = 1 AND length(text) > 0
    ), ch AS (
      -- per-BYTE zipped unnest (true UTF-8 byte values — the kernel
      -- sums payload bytes, not code points), grouped by chunk: the
      -- indexed form (text[i+1] per byte) re-seeks the string per
      -- byte — O(L²) oracle stall on ~1 MB payloads (hugedoc probe).
      -- Chunks partition the bytes (no empties: offsets stop
      -- < n_bytes), so a plain GROUP BY i//512 reproduces every row.
      SELECT doc_id,
             unnest({_utf8_bytes_sql('text')}) AS code,
             unnest(range(0, n_bytes)) AS i
      FROM a
    )
    SELECT doc_id,
           i // 512 AS chunk_idx,
           (i // 512) * 512 AS chunk_off,
           count(*) AS chunk_len,
           CAST(sum(code) AS BIGINT) AS checksum,
           CAST(sum(code * code) AS BIGINT) AS energy,
           CAST(max(code) AS BIGINT) AS peak
    FROM ch
    GROUP BY doc_id, i // 512
    """,
)
def multimodal_audio_chunks(spark, sf_dir):
    """Fixed-window audio chunking over opaque binary payloads (the
    audio-modality third of the corpus, ``doc_id % 3 = 1`` matching
    multimodal_meta's modality assignment): 512-byte windows with
    integer summary features via the Arrow ``chunk_audio`` kernel —
    the framing stage before any resample/fbank/VAD call.  The oracle
    expands each char to its UTF-8 bytes (_utf8_bytes_sql), so the
    byte arithmetic is exact on any corpus, multibyte included (same
    as multimodal_frame_sample).
    """
    d = _docs(spark, sf_dir).filter(F.col("doc_id") % 3 == 1)
    payload = d.select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )
    return P.chunk_audio(payload)


@query(
    "emb_matryoshka_truncate",
    oracle="""
    WITH e AS (
      SELECT vec_id, embedding[1:16] AS t16,
             sqrt(list_sum([(x::DOUBLE) * (x::DOUBLE)
                            for x in embedding])) AS nrm_full,
             sqrt(list_sum([(x::DOUBLE) * (x::DOUBLE)
                            for x in embedding[1:16]])) AS nrm16
      FROM embeddings
    )
    SELECT vec_id,
           array_to_string(
             [coalesce(CAST(CAST(sign(u) * floor(abs(u) * 1000000.0
                                                 + 0.5)
                                 AS BIGINT) AS VARCHAR), 'null')
              -- finite-positive guard, as in emb_l2_normalize
              for u in [x::DOUBLE / (CASE WHEN isfinite(nrm16)
                                          AND nrm16 > 0
                                     THEN nrm16 END) for x in t16]],
             ',') AS unit16_q6,
           round(nrm16, 6) AS norm16,
           round(nrm16 / nullif(nrm_full, 0), 6) AS norm_retained
    FROM e
    """,
)
def emb_matryoshka_truncate(spark, sf_dir):
    """Matryoshka-style truncation: keep the first 16 embedding
    dimensions, re-normalize to unit length, and report how much of
    the original L2 norm the prefix retains — the storage/recall dial
    of nested-representation embeddings (a 16-d prefix index screens
    candidates, the full vector reranks).

    Same JVM higher-order fold and float→double cast order as
    emb_l2_normalize, and the same micro-unit CSV serialization for
    the driver's list-free canonicalizer.  Pure projection — no
    shuffle; at 100 TB the prefix index is dim/16× cheaper to scan
    and shuffle than the full-vector index it screens for.
    """
    t16 = F.slice(
        F.transform("embedding", lambda v: v.cast("double")), 1, 16
    )
    ss = lambda arr: F.aggregate(  # noqa: E731 — local fold helper
        arr, F.lit(0.0), lambda acc, v: acc + v * v
    )
    e = _embs(spark, sf_dir).select(
        "vec_id",
        t16.alias("t16"),
        F.sqrt(
            ss(F.transform("embedding", lambda v: v.cast("double")))
        ).alias("nrm_full"),
        F.sqrt(ss(t16)).alias("nrm16"),
    )
    safe16 = F.when(
        (F.col("nrm16") > 0) & (F.col("nrm16") < F.lit(float("inf"))),
        F.col("nrm16"),
    )
    q6 = F.transform(
        F.col("t16"),
        lambda v: F.coalesce(
            (
                F.signum(v / safe16)
                * F.floor(F.abs(v / safe16) * F.lit(1e6) + F.lit(0.5))
            )
            .cast("long")
            .cast("string"),
            F.lit("null"),
        ),
    )
    return e.select(
        "vec_id",
        F.concat_ws(",", q6).alias("unit16_q6"),
        F.round(F.col("nrm16"), 6).alias("norm16"),
        F.round(
            F.col("nrm16")
            / F.when(F.col("nrm_full") > 0, F.col("nrm_full")),
            6,
        ).alias("norm_retained"),
    )


def _km_dist_sql(v: str, c: str) -> str:
    """Integer squared-distance between two quantized list columns."""
    return (
        f"CAST(list_sum([({v}[i + 1] - {c}[i + 1])"
        f" * ({v}[i + 1] - {c}[i + 1])"
        f" for i in range(len({v}))]) AS BIGINT)"
    )


def _km_round_sql(
    n: int, prev_c: str, qe: str = "qe", dims: int = 64, pfx: str = ""
) -> str:
    """One unrolled Lloyd's round: score vs ``prev_c``, argmin with
    cent_id tie-break, floor-integer centroid means, empty clusters
    keep their previous centroid.  ``qe``/``dims``/``pfx`` let a
    caller unroll INDEPENDENT trainers side by side (the PQ
    per-subspace codebooks) without CTE-name collisions; the defaults
    keep every existing oracle byte-identical."""
    return f"""
    {pfx}s{n} AS (
      SELECT e.vec_id, c.cent_id,
             {_km_dist_sql('e.qv', 'c.cvec')} AS dist
      FROM {qe} e, {prev_c} c
    ), {pfx}a{n} AS (
      SELECT vec_id, cent_id FROM (
        SELECT vec_id, cent_id,
               row_number() OVER (
                 PARTITION BY vec_id ORDER BY dist, cent_id) AS rn
        FROM {pfx}s{n}) WHERE rn = 1
    ), {pfx}u{n} AS (
      SELECT a.cent_id, gs.i,
             CAST(floor(sum(e.qv[gs.i]) / count(*)) AS BIGINT) AS val
      FROM {pfx}a{n} a JOIN {qe} e USING (vec_id),
           generate_series(1, {dims}) AS gs(i)
      GROUP BY a.cent_id, gs.i
    ), {pfx}n{n} AS (
      SELECT cent_id, list(val ORDER BY i) AS cvec
      FROM {pfx}u{n} GROUP BY cent_id
    ), {pfx}c{n} AS (
      SELECT {prev_c}.cent_id,
             coalesce({pfx}n{n}.cvec, {prev_c}.cvec) AS cvec
      FROM {prev_c} LEFT JOIN {pfx}n{n} USING (cent_id)
    )"""


@query(
    "emb_kmeans_train",
    oracle=f"""
    WITH qe AS (
      -- valid vectors only (pipeline.kmeans_quantized's finite_vec
      -- filter): corrupt vectors train nothing and get no cluster
      SELECT vec_id,
             [CAST(floor(x::DOUBLE * 1000000.0) AS BIGINT)
              for x in embedding] AS qv
      FROM embeddings
      WHERE isfinite(list_sum([abs(x::DOUBLE) for x in embedding]))
        AND len(list_filter(embedding, x -> x IS NULL)) = 0
    ), c0 AS (
      SELECT vec_id AS cent_id, qv AS cvec FROM qe WHERE vec_id < 8
    ),{_km_round_sql(1, 'c0')},{_km_round_sql(2, 'c1')},
    sf AS (
      SELECT e.vec_id, c.cent_id,
             {_km_dist_sql('e.qv', 'c.cvec')} AS dist
      FROM qe e, c2 c
    )
    SELECT vec_id, cent_id AS cluster, dist AS dist_q FROM (
      SELECT vec_id, cent_id, dist,
             row_number() OVER (
               PARTITION BY vec_id ORDER BY dist, cent_id) AS rn
      FROM sf) WHERE rn = 1
    """,
)
def emb_kmeans_train(spark, sf_dir):
    """Distributed Lloyd's k-means (k=8, 2 rounds) over
    integer-quantized embeddings — the trainer that produces real IVF
    codebooks (sim_ann_ivf's "production swaps in sampled k-means
    centroids" path).  Quantizing to micro-unit BIGINTs first makes
    every distance an order-free integer sum and every centroid update
    a floor-integer mean, so the whole 2-round trajectory is
    bit-reproducible across engines and partitionings — the oracle
    replays it exactly, CTE per round.  See pipeline.kmeans_quantized
    for the per-round plan shape (bounded broadcast fan-out + k×d-cell
    map-combinable update; no driver-side state).
    """
    return P.kmeans_quantized(_embs(spark, sf_dir), k=8, iters=2)


@query(
    "text_chunk_windows",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks
      FROM documents WHERE length(text) > 0
    ), tk AS (
      -- per-token rows instead of per-window list slices: carrying
      -- the token list per window row and slicing it is O(tokens)
      -- per window in DuckDB — an O(L²) oracle stall on ~1 MB docs
      -- (hugedoc probe).  Each token belongs to at most TWO 32-token
      -- stride-16 windows (idx//16 and idx//16 - 1), so the fan-out
      -- is exactly 2× and every window reassembles by string_agg.
      SELECT doc_id, len(toks) AS n, unnest(toks) AS tok,
             unnest(range(0, len(toks))) AS idx
      FROM t
    ), cand AS (
      SELECT doc_id, n, tok, idx,
             unnest([idx // 16, idx // 16 - 1]) AS w
      FROM tk
    )
    SELECT doc_id,
           w AS win_idx,
           w * 16 AS start,
           CAST(least(32, min(n) - w * 16) AS BIGINT) AS n_tokens,
           string_agg(tok, ' ' ORDER BY idx) AS chunk_text
    FROM cand
    WHERE w >= 0 AND w * 16 < n
    GROUP BY doc_id, w
    """,
)
def text_chunk_windows(spark, sf_dir):
    """Overlapping token-window chunking — the retrieval/pretraining
    segmentation stage (split every document into 32-token windows at
    stride 16, 50% overlap, so no sentence is lost to a hard
    boundary; each chunk then feeds the embedding / packing stages).

    Map-only 1→N fan-out via a per-row explode of the literal stride
    sequence — no shuffle, no UDF; linear in corpus size, and at
    100 TB it composes with emb_* / pack_token_budget downstream
    exactly as a production RAG ingest does.
    """
    d = _docs(spark, sf_dir).filter(F.length("text") > 0)
    toks = F.split(F.col("text"), " ")
    s = d.select(
        "doc_id",
        toks.alias("toks"),
        F.explode(
            F.sequence(
                F.lit(0),
                F.size(toks) - 1,
                F.lit(16),
            )
        ).alias("start"),
    )
    return s.select(
        "doc_id",
        (F.col("start") / 16).cast("long").alias("win_idx"),
        "start",
        F.least(F.lit(32), F.size("toks") - F.col("start"))
        .cast("long")
        .alias("n_tokens"),
        F.array_join(
            F.slice("toks", F.col("start") + 1, 32), " "
        ).alias("chunk_text"),
    )


@query(
    "sim_ann_ivf_trained",
    oracle=_COSINE_ORACLE_CORE
    + f"""
    , qe AS (
      -- valid vectors only (pipeline.kmeans_quantized's finite_vec
      -- filter): corrupt vectors train nothing and get no cluster
      SELECT vec_id,
             [CAST(floor(x::DOUBLE * 1000000.0) AS BIGINT)
              for x in embedding] AS qv
      FROM embeddings
      WHERE isfinite(list_sum([abs(x::DOUBLE) for x in embedding]))
        AND len(list_filter(embedding, x -> x IS NULL)) = 0
    ), c0 AS (
      SELECT vec_id AS cent_id, qv AS cvec FROM qe WHERE vec_id < 8
    ),{_km_round_sql(1, 'c0')},{_km_round_sql(2, 'c1')},
    sfin AS (
      SELECT e2.vec_id, c.cent_id,
             {_km_dist_sql('e2.qv', 'c.cvec')} AS dist
      FROM qe e2, c2 c
    ), af AS (
      SELECT vec_id, cent_id FROM (
        SELECT vec_id, cent_id,
               row_number() OVER (
                 PARTITION BY vec_id ORDER BY dist, cent_id) AS rn
        FROM sfin) WHERE rn = 1
    ), bucketed AS (
      SELECT p.vec_id, p.neighbor_id, p.c
      FROM p
      JOIN af qa ON qa.vec_id = p.vec_id
      JOIN af na ON na.vec_id = p.neighbor_id
      WHERE qa.cent_id = na.cent_id
    )
    SELECT vec_id, rnk, neighbor_id, cos_sim FROM (
      SELECT vec_id, neighbor_id, round(c, 6) AS cos_sim,
             row_number() OVER (
               PARTITION BY vec_id ORDER BY c DESC, neighbor_id) AS rnk
      FROM bucketed) WHERE rnk <= 5
    """,
)
def sim_ann_ivf_trained(spark, sf_dir):
    """IVF search over TRAINED centroids — the full ANN production
    path composed from two independently-verified stages: the
    integer-exact k-means trainer (emb_kmeans_train) produces the
    codebook/assignment, and the bucketed cosine search (sim_ann_ivf's
    shape) runs within each learned bucket.  Versus sim_ann_ivf's
    first-16 codebook, the trained buckets follow the data
    distribution, which is what keeps bucket sizes (and so per-bucket
    quadratic search cost) balanced at 100 TB.  Every float cosine is
    computed only WITHIN buckets; the assignment itself is integer
    arithmetic end-to-end.  The in-bucket search is the shared
    per-bucket block-matmul kernel (``pipeline.topk_cosine_blocked``
    with a bucket key — see sim_ann_ivf).
    """
    e = P.with_norm(_embs(spark, sf_dir))
    assign = P.kmeans_quantized(e, k=8, iters=2).select(
        "vec_id", F.col("cluster").alias("cent_id")
    )
    ea = lineage_cut(spark)(e.join(assign, "vec_id"), eager=False)
    return P.topk_cosine_blocked(ea, k=5, bucket="cent_id")


@query(
    "pack_ffd_bins",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               % 8 AS shard,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           true AS no_overfull_bins,
           true AS bins_within_ffd_bounds
    FROM t GROUP BY shard
    """,
)
def pack_ffd_bins(spark, sf_dir):
    """First-fit-decreasing sequence packing into 256-token training
    bins, sharded 8 ways (pipeline.ffd_pack) — the batch-construction
    step that pack_token_budget's window-based next-fit approximates;
    FFD recovers the space next-fit wastes (≤ 11/9·OPT + 1 bins).
    applyInPandas runs the exact greedy per shard; the sequential
    region is one shard (sized by shard count, not corpus), shards
    pack concurrently, and the output is deterministic for any input
    partitioning.

    FFD's backtracking greedy has no set-oriented SQL twin, so the
    registered form emits the per-shard INVARIANT SUMMARY of the
    packing (VERDICT r4 #5) and the oracle recomputes the exact parts
    from the raw corpus: doc/distinct counts (equality proves every
    document placed exactly once — FFD dropping or duplicating a doc
    shifts the count vs DuckDB's ground truth), token-mass
    conservation, plus two booleans the oracle pins to true:

    - ``no_overfull_bins``: every bin over capacity holds exactly one
      (oversized) document — a multi-doc bin may never exceed 256;
    - ``bins_within_ffd_bounds``: per shard, ``n_oversized +
      ceil(rest/cap) <= n_bins <= n_oversized + floor(2*rest/cap) + 1``
      — the lower bound is volume, the upper is the first-fit theorem
      (at most one open bin is at most half full).

    The full per-document assignment stays pinned by the Python replay
    + partitioning-invariance tests in tests/test_pipeline.py.
    """
    cap = 256
    packed = P.ffd_pack(_docs(spark, sf_dir), capacity=cap, shards=8)
    bins = packed.groupBy("shard", "bin_idx").agg(
        F.sum("n_tokens").alias("bin_tokens"),
        F.count("*").alias("bin_docs"),
    )
    bin_stats = bins.groupBy("shard").agg(
        F.count("*").alias("n_bins"),
        F.max(
            F.when(
                (F.col("bin_tokens") > cap) & (F.col("bin_docs") > 1), 1
            ).otherwise(0)
        ).alias("overfull_flag"),
    )
    doc_stats = packed.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("doc_id").alias("n_distinct_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum(F.when(F.col("n_tokens") > cap, 1).otherwise(0)).alias(
            "n_oversized"
        ),
        F.sum(
            F.when(F.col("n_tokens") <= cap, F.col("n_tokens")).otherwise(0)
        ).alias("rest_tokens"),
    )
    lb = F.col("n_oversized") + F.ceil(F.col("rest_tokens") / F.lit(cap))
    ub = (
        F.col("n_oversized")
        + F.floor(F.col("rest_tokens") * 2 / F.lit(cap))
        + 1
    )
    return (
        doc_stats.join(bin_stats, "shard")
        .select(
            "shard",
            "n_docs",
            "n_distinct_docs",
            "total_tokens",
            (F.col("overfull_flag") == 0).alias("no_overfull_bins"),
            (F.col("n_bins").between(lb, ub)).alias(
                "bins_within_ffd_bounds"
            ),
        )
    )


@query(
    "sample_hard_negatives",
    oracle=_COSINE_ORACLE_CORE
    + """
    , lbl AS (SELECT vec_id, label FROM embeddings)
    SELECT vec_id, neighbor_id AS hard_negative_id,
           round(c, 6) AS cos_sim
    FROM (
      SELECT p.vec_id, p.neighbor_id, p.c,
             -- rank on the 6-decimal score: the Spark side re-ranks
             -- the blocked-kNN output whose cos_sim is already
             -- quantized, so both engines must break near-ties the
             -- same way (id asc at equal rounded score)
             row_number() OVER (
               PARTITION BY p.vec_id
               ORDER BY round(p.c, 6) DESC, p.neighbor_id
             ) AS rn
      FROM p
      JOIN lbl a ON a.vec_id = p.vec_id
      JOIN lbl b ON b.vec_id = p.neighbor_id
      WHERE a.label <> b.label
    ) WHERE rn = 1
    """,
)
def sample_hard_negatives(spark, sf_dir):
    """Hard-negative mining for contrastive training: for every
    vector, the single most-similar vector with a DIFFERENT label —
    the negatives that actually teach a metric-learning model (random
    negatives are trivially separable; the near-miss neighbor defines
    the decision boundary).

    Composes the blocked exact-kNN machinery with a label filter: at
    this scale the pair scoring is the distributed block product
    (topk_cosine_blocked shape); at 100 TB the same label-filtered
    top-1 runs over the ANN candidates (sim_ann_ivf_trained) instead
    of the exact product — the plan swaps, the semantics don't.  A
    cross-label rank-1 window per query vector, deterministic
    tie-break on neighbor id.
    """
    from pyspark.sql import Window

    e = P.with_norm(_embs(spark, sf_dir))
    # k must guarantee a cross-label neighbor survives the top-k cut:
    # the worst case is a query whose entire label cohort outranks every
    # other label, so k = (largest label cohort) + 1 is sufficient and
    # exact for ANY fixture (a fixed k=499 silently diverged from the
    # all-pairs oracle once a label exceeded ~500 members).  One tiny
    # scalar aggregate, same anchor pattern as the max-date literals.
    k_needed = (
        e.groupBy("label").count().agg(F.max("count")).first()[0] or 0
    ) + 1
    topk = P.topk_cosine_blocked(_embs(spark, sf_dir), k=k_needed)
    lbl = e.select("vec_id", "label")
    cand = (
        topk.join(lbl.withColumnsRenamed({"label": "q_label"}), "vec_id")
        .join(
            lbl.withColumnsRenamed(
                {"vec_id": "neighbor_id", "label": "n_label"}
            ),
            "neighbor_id",
        )
        .filter(F.col("q_label") != F.col("n_label"))
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            F.col("neighbor_id").alias("hard_negative_id"),
            "cos_sim",
        )
    )


@query(
    "text_compression_ratio",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           true AS compressed_in_codec_bounds,
           true AS ratio_consistent
    FROM documents
    """,
)
def text_compression_ratio(spark, sf_dir):
    """Per-document zlib compressibility (pipeline.compression_ratio)
    — the C4/Gopher-lineage quality dial: ratios near 0 mean
    boilerplate repetition, near (or above) 1 mean noise; pretraining
    filters keep the middle band.  Deterministic: zlib level pinned,
    ratio quantized to integer 1e-4 units.

    No SQL engine exposes zlib, so the registered form carries the
    CODEC-INVARIANT columns (VERDICT r4 #5) and the oracle pins them:
    exact UTF-8 byte length per doc (hash-checked vs DuckDB
    ``octet_length``; proves the kernel saw the full text), plus two
    booleans — the compressed size sits inside zlib's hard bounds
    (>= 8-byte minimum stream; <= input + 2+4 stream overhead + 5 per
    16383-byte stored block, the RFC-1950/1951 worst case), and the
    reported ``ratio_q4`` is exactly ``n_compressed*1e4 // n_bytes``.
    The raw ratio values stay pinned by the stdlib replay test in
    tests/test_pipeline.py (same codec, same level).
    """
    r = P.compression_ratio(_docs(spark, sf_dir))
    worst_case = (
        F.col("n_bytes")
        + F.lit(6)
        + (F.floor(F.col("n_bytes") / F.lit(16383)) + 1) * 5
    )
    in_bounds = (F.col("n_compressed") >= 8) & (
        F.col("n_compressed") <= worst_case
    )
    consistent = F.col("ratio_q4") == F.when(
        F.col("n_bytes") > 0,
        F.floor(F.col("n_compressed") * 10000 / F.col("n_bytes")),
    ).otherwise(0)
    return r.select(
        "doc_id",
        "n_bytes",
        in_bounds.alias("compressed_in_codec_bounds"),
        consistent.alias("ratio_consistent"),
    )


@query(
    "multimodal_scene_cuts",
    oracle=f"""
    WITH base AS (
      SELECT doc_id,
             CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                  ELSE 'video' END AS modality,
             text, octet_length(encode(text)) AS n_bytes
      FROM documents
    ), v AS (
      SELECT doc_id, text, n_bytes, 1 + n_bytes % 96 AS n_frames
      FROM base WHERE modality = 'video'
    ), fr AS (
      SELECT doc_id, n_bytes, n_frames,
             unnest(range(0, CAST(n_frames AS BIGINT))) AS frame_idx
      FROM v
    ), ch AS (
      -- per-BYTE zipped unnest of the true UTF-8 byte values (the
      -- indexed text[i+1] form is O(L²), hugedoc probe); byte i
      -- belongs to frame ((i+1)·k − 1) // n (the inverse of the
      -- floor(f·n/k) frame boundaries)
      SELECT doc_id,
             unnest({_utf8_bytes_sql('text')}) AS code,
             unnest(range(0, n_bytes)) AS i,
             n_bytes, n_frames
      FROM v
    ), feat0 AS (
      SELECT doc_id,
             ((i + 1) * n_frames - 1) // n_bytes AS frame_idx,
             sum(code) AS checksum
      FROM ch GROUP BY doc_id, ((i + 1) * n_frames - 1) // n_bytes
    ), feat AS (
      -- LEFT JOIN onto the frame spine: a doc shorter than its frame
      -- count has EMPTY frames, whose checksum-0 rows the old form
      -- emitted and a bare GROUP BY would drop
      SELECT fr.doc_id, fr.frame_idx,
             CAST(coalesce(f0.checksum, 0) AS BIGINT) AS checksum
      FROM fr LEFT JOIN feat0 f0 USING (doc_id, frame_idx)
    ), d AS (
      SELECT doc_id, frame_idx, checksum,
             abs(checksum - lag(checksum) OVER (
               PARTITION BY doc_id ORDER BY frame_idx)) AS delta
      FROM feat
    )
    SELECT doc_id,
           count(*) AS n_frames,
           CAST(sum(CASE WHEN delta > 1000 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_cuts,
           CAST(coalesce(max(delta), 0) AS BIGINT) AS max_delta
    FROM d GROUP BY doc_id
    """,
)
def multimodal_scene_cuts(spark, sf_dir):
    """Shot-boundary detection over per-frame features: every video's
    full frame grid is decoded to integer features by the
    ``sample_frames`` Arrow kernel (stride 1 — every frame), and a cut
    is a frame whose feature jumps more than a threshold from its
    predecessor — the standard |Δfeature| scene-cut heuristic, with
    the byte checksum standing in for a frame histogram at the
    documented stub boundary.  Plan shape: map-only 1→N decode, ONE
    window exchange on doc_id (frames of one video colocate — at
    100 TB video count scales out, frames per video stay bounded),
    and a map-combinable per-video rollup on the same key.
    """
    from pyspark.sql import Window

    d = _docs(spark, sf_dir).filter(F.col("doc_id") % 3 == 2)
    payload = d.select(
        "doc_id",
        F.lit("video").alias("modality"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )
    frames = P.sample_frames(payload, stride=1)
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    delta = F.abs(
        F.col("frame_checksum") - F.lag("frame_checksum").over(w)
    )
    feat = frames.select("doc_id", "frame_idx", delta.alias("delta"))
    return feat.groupBy("doc_id").agg(
        F.count("*").alias("n_frames"),
        F.sum(F.when(F.col("delta") > 1000, 1).otherwise(0))
        .cast("long")
        .alias("n_cuts"),
        F.coalesce(F.max("delta"), F.lit(0)).cast("long").alias("max_delta"),
    )


@query(
    "emb_dim_variance_prune",
    oracle="""
    WITH q AS (
      -- valid vectors only (pipeline.finite_vec): a corrupt component
      -- crashes the quantization / silently skews the variance ranks
      SELECT vec_id,
             [CAST(floor(x::DOUBLE * 1000000.0) AS BIGINT)
              for x in embedding] AS qv
      FROM embeddings
      WHERE isfinite(list_sum([abs(x::DOUBLE) for x in embedding]))
        AND len(list_filter(embedding, x -> x IS NULL)) = 0
    ), cell AS (
      SELECT gs.i - 1 AS dim_idx, qv[gs.i] AS v
      FROM q, generate_series(1, 64) AS gs(i)
    ), s AS (
      -- var_num stays HUGEINT here (n·Σv² ≈ 1e20 at the sf10 decade —
      -- the r9 BIGINT-overflow class) and is emitted as DOUBLE: one
      -- deterministic cast of the same exact integer on both engines;
      -- the rank is taken on the EXACT value before the cast
      SELECT dim_idx,
             count(*) AS n,
             CAST(sum(v) AS BIGINT) AS sum_q,
             count(*) * sum(v * v) - sum(v) * sum(v) AS var_num
      FROM cell GROUP BY dim_idx
    )
    SELECT dim_idx, n, sum_q, CAST(var_num AS DOUBLE) AS var_num,
           CAST(row_number() OVER (ORDER BY var_num DESC, dim_idx)
                AS BIGINT) AS var_rank,
           CAST(row_number() OVER (ORDER BY var_num DESC, dim_idx) <= 16
                AS INT) AS keep
    FROM s
    """,
)
def emb_dim_variance_prune(spark, sf_dir):
    """Variance-based dimension pruning: rank embedding dimensions by
    corpus variance and keep the top 16 — the data-driven cousin of
    the matryoshka prefix (emb_matryoshka_truncate keeps dims 1-16 by
    POSITION; this keeps whichever carry signal — near-constant
    dimensions add storage and dot-product FLOPs but no separation).

    Exactness: components quantize to micro-unit BIGINTs, and the
    ranking key is the integer variance NUMERATOR n·Σv² − (Σv)² —
    no division, no float, so the rank (and hash) cannot drift
    between engines.  Plan shape: posexplode to (dim, value) cells →
    ONE map-combinable groupBy of d groups → a d-row window; the
    corpus-sized stage is map-only.
    """
    from pyspark.sql import Window

    q = _embs(spark, sf_dir).filter(P.finite_vec("embedding")).select(
        F.posexplode(
            F.transform(
                "embedding",
                lambda x: F.floor(x.cast("double") * 1e6).cast("long"),
            )
        ).alias("dim_idx", "v")
    )
    # var_num accumulates in DECIMAL(38,0): per-row v² fits BIGINT but
    # n·Σv² is ~1e20 at the sf10 decade (the r9 overflow class — the
    # DuckDB oracle's HUGEINT hid it).  Rank on the EXACT decimal,
    # emit it as one deterministic double cast, same as the oracle.
    dec = "decimal(38,0)"
    s = q.groupBy("dim_idx").agg(
        F.count("*").alias("n"),
        F.sum("v").alias("sum_q"),
        (
            F.count("*").cast(dec)
            * F.sum((F.col("v") * F.col("v")).cast(dec))
            - F.sum(F.col("v").cast(dec)) * F.sum(F.col("v").cast(dec))
        ).alias("var_num"),
    )
    w = Window.orderBy(F.desc("var_num"), F.asc("dim_idx"))
    rnk = F.row_number().over(w)
    return s.select(
        F.col("dim_idx").cast("long").alias("dim_idx"),
        "n",
        F.col("sum_q").cast("long").alias("sum_q"),
        F.col("var_num").cast("double").alias("var_num"),
        rnk.cast("long").alias("var_rank"),
        (rnk <= 16).cast("int").alias("keep"),
    )


@query(
    "text_source_divergence",
    oracle="""
    WITH w AS (
      SELECT source, unnest(string_split(text, ' ')) AS word
      FROM documents
    ), sw AS (
      SELECT source, word, count(*) AS n FROM w GROUP BY 1, 2
    ), st AS (
      SELECT source, sum(n) AS n_src FROM sw GROUP BY 1
    ), ct AS (
      SELECT word, sum(n) AS n_corpus FROM sw GROUP BY 1
    ), tot AS (SELECT sum(n) AS n_all FROM sw),
    terms AS (
      SELECT sw.source,
             sw.n / st.n_src AS p,
             ct.n_corpus / tot.n_all AS q
      FROM sw
      JOIN st USING (source)
      JOIN ct USING (word), tot
    )
    SELECT source,
           CAST(sum(CAST(floor(
             (p * ln(2 * p / (p + q))) * 1000000000
           ) AS BIGINT)) AS BIGINT) AS kl_p_m_nano,
           CAST(count(*) AS BIGINT) AS n_terms
    FROM terms GROUP BY source
    """,
)
def text_source_divergence(spark, sf_dir):
    """Per-source vocabulary drift: each source's unigram distribution
    P against the corpus mixture Q, scored by the P-side half of
    Jensen-Shannon divergence Σ p·ln(2p/(p+q)) — the curation signal
    for "this crawl slice reads differently from the rest" (domain
    drift, template floods, language leaks).

    Determinism: each term's contribution is quantized to integer
    nano-nats BEFORE the per-source sum, so the aggregate is an
    order-free integer sum (the perplexity-proxy discipline); same
    ``floor(·ln·)`` last-ulp boundary caveat as there.  Plan shape:
    one map-combinable (source, word) count, two tiny rollups joined
    back (vocabulary-sized — broadcast), one final rollup per source.
    """
    d = _docs(spark, sf_dir)
    w = d.select(
        "source", F.explode(P.ws_tokens(F.col("text"))).alias("word")
    )
    sw = w.groupBy("source", "word").agg(F.count("*").alias("n"))
    st = sw.groupBy("source").agg(F.sum("n").alias("n_src"))
    ct = sw.groupBy("word").agg(F.sum("n").alias("n_corpus"))
    n_all = float(
        scalar_anchor(sw, F.sum("n"), 1)
    )  # scalar anchor (two-phase literal; empty-safe)
    p = F.col("n").cast("double") / F.col("n_src").cast("double")
    q = F.col("n_corpus").cast("double") / F.lit(n_all)
    contrib = F.floor(
        (p * F.log(2 * p / (p + q))) * F.lit(1e9)
    ).cast("long")
    terms = (
        sw.join(st, "source")
        .join(F.broadcast(ct), "word")
        .select("source", contrib.alias("c"))
    )
    return terms.groupBy("source").agg(
        F.sum("c").cast("long").alias("kl_p_m_nano"),
        F.count("*").alias("n_terms"),
    )


@query(
    "dedup_incremental_lsh",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct([w[i] || '|' || w[i+1] || '|' || w[i+2]
                            for i in range(1, len(w) - 1)]) AS s
      FROM toks WHERE len(w) >= 3
    )
    SELECT n.doc_id AS new_id, i.doc_id AS match_id,
           round(len(list_intersect(n.s, i.s))::DOUBLE
                 / len(list_distinct(list_concat(n.s, i.s))), 6)
             AS jaccard
    FROM sh n JOIN sh i
      ON n.doc_id % 5 = 0 AND i.doc_id % 5 <> 0
    WHERE round(len(list_intersect(n.s, i.s))::DOUBLE
                / len(list_distinct(list_concat(n.s, i.s))), 6)
          >= {P.JACCARD_THRESHOLD}
    """,
)
def dedup_incremental_lsh(spark, sf_dir):
    """Incremental ingestion dedup: today's batch (``doc_id % 5 = 0``)
    screened against the existing corpus index — candidates are
    generated ONLY new × index (pipeline.minhash_lsh_pairs_incremental),
    never history × history, so the daily cost tracks batch size and
    collision rate regardless of corpus age.  The oracle is the
    brute-force new × index Jaccard (exact at this SF); the plan's
    banded join is the scale path.
    """
    d = _docs(spark, sf_dir)
    return P.minhash_lsh_pairs_incremental(
        d.filter(F.col("doc_id") % 5 == 0),
        d.filter(F.col("doc_id") % 5 != 0),
    )


@query(
    "emb_cluster_purity",
    oracle=f"""
    WITH qe AS (
      -- valid vectors only (pipeline.kmeans_quantized's finite_vec
      -- filter): corrupt vectors train nothing and get no cluster
      SELECT vec_id,
             [CAST(floor(x::DOUBLE * 1000000.0) AS BIGINT)
              for x in embedding] AS qv
      FROM embeddings
      WHERE isfinite(list_sum([abs(x::DOUBLE) for x in embedding]))
        AND len(list_filter(embedding, x -> x IS NULL)) = 0
    ), c0 AS (
      SELECT vec_id AS cent_id, qv AS cvec FROM qe WHERE vec_id < 8
    ),{_km_round_sql(1, 'c0')},{_km_round_sql(2, 'c1')},
    sfin AS (
      SELECT e2.vec_id, c.cent_id,
             {_km_dist_sql('e2.qv', 'c.cvec')} AS dist
      FROM qe e2, c2 c
    ), af AS (
      SELECT vec_id, cent_id AS cluster FROM (
        SELECT vec_id, cent_id,
               row_number() OVER (
                 PARTITION BY vec_id ORDER BY dist, cent_id) AS rn
        FROM sfin) WHERE rn = 1
    ), joined AS (
      SELECT af.cluster, e.label FROM af
      JOIN embeddings e USING (vec_id)
    ), cl AS (
      SELECT cluster, label, count(*) AS n FROM joined GROUP BY 1, 2
    ), ranked AS (
      SELECT cluster, label, n,
             row_number() OVER (
               PARTITION BY cluster ORDER BY n DESC, label) AS rn,
             sum(n) OVER (PARTITION BY cluster) AS n_total
      FROM cl
    ), top AS (
      SELECT cluster, label AS majority_label, n AS n_majority, n_total
      FROM ranked WHERE rn = 1
    )
    SELECT cluster, majority_label,
           CAST(n_majority AS BIGINT) AS n_majority,
           CAST(n_total AS BIGINT) AS n_total,
           round(n_majority / n_total, 4) AS purity
    FROM top
    """,
)
def emb_cluster_purity(spark, sf_dir):
    """Clustering evaluation: per-cluster label purity of the trained
    k-means assignment — the standard unsupervised-quality readout
    (majority label share per cluster) that decides whether learned
    IVF buckets align with semantics.  Composes emb_kmeans_train's
    bit-reproducible assignment with the label column; everything
    after the trainer is two tiny rollups and a k-row window.
    """
    from pyspark.sql import Window

    assign = P.kmeans_quantized(_embs(spark, sf_dir), k=8, iters=2)
    joined = assign.join(
        _embs(spark, sf_dir).select("vec_id", "label"), "vec_id"
    )
    cl = joined.groupBy("cluster", "label").agg(F.count("*").alias("n"))
    w = Window.partitionBy("cluster").orderBy(F.desc("n"), F.asc("label"))
    tot = Window.partitionBy("cluster")
    top = (
        cl.withColumn("rn", F.row_number().over(w))
        .withColumn("n_total", F.sum("n").over(tot))
        .filter(F.col("rn") == 1)
    )
    return top.select(
        "cluster",
        F.col("label").alias("majority_label"),
        F.col("n").cast("long").alias("n_majority"),
        F.col("n_total").cast("long").alias("n_total"),
        E.round_to(F.col("n") / F.col("n_total"), 4).alias("purity"),
    )


@query(
    "pipeline_curation_v2",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks
      FROM documents WHERE length(text) > 0
    ), s AS (
      -- zipped unnest + grouped string_agg: the list-slice span form
      -- (toks[p*10+1 : p*10+10] per span, list carried per row) is
      -- O(tokens) PER SLICE in DuckDB — an O(L²) oracle stall on
      -- ~1 MB docs (hugedoc probe); probed value-identical, empty
      -- tokens preserved
      SELECT doc_id, unnest(toks) AS tok,
             unnest(range(0, len(toks))) AS idx
      FROM t
    ), sp AS (
      SELECT doc_id, idx // 10 AS pos,
             string_agg(tok, ' ' ORDER BY idx) AS span
      FROM s GROUP BY doc_id, idx // 10
    ),dfc AS (
      SELECT span, count(DISTINCT doc_id) AS span_df FROM sp GROUP BY span
    ), ratio AS (
      SELECT sp.doc_id,
             sum(CASE WHEN dfc.span_df > 1 THEN 1 ELSE 0 END)
               / count(*) AS dup_ratio
      FROM sp JOIN dfc USING (span) GROUP BY sp.doc_id
    ), s1 AS (
      SELECT t.doc_id, t.toks FROM t
      JOIN ratio USING (doc_id) WHERE ratio.dup_ratio <= 0.5
    ), g AS (
      SELECT doc_id, toks,
             len(toks) AS n_words,
             list_sum([length(x) for x in toks]) AS sum_len,
             len(list_filter(toks,
                             x -> regexp_matches(x, '[A-Za-z]')))
               AS n_alpha,
             len(list_intersect(
               list_distinct(toks),
               {list(_GOPHER_STOPWORDS)!r})) AS n_stop
      FROM s1
    ), s2 AS (
      SELECT doc_id, toks, n_words FROM g
      WHERE n_words BETWEEN 50 AND 100000
        AND sum_len / n_words BETWEEN 3 AND 10
        AND n_alpha / n_words >= 0.8 AND n_stop >= 2
    ), ch AS (
      SELECT doc_id,
             least(32, n_words - start) AS win_tokens
      FROM (SELECT doc_id, n_words,
                   unnest(range(0, n_words, 16)) AS start FROM s2)
    )
    SELECT * FROM (
      SELECT 0 AS ord, 'raw' AS stage,
             CAST(count(*) AS BIGINT) AS n FROM t
      UNION ALL SELECT 1, 'span_dedup', count(*) FROM s1
      UNION ALL SELECT 2, 'gopher_rules', count(*) FROM s2
      UNION ALL SELECT 3, 'chunk_windows', count(*) FROM ch
      UNION ALL SELECT 4, 'packed_bins_lb',
        CAST(ceil(coalesce(sum(win_tokens), 0) / 256.0) AS BIGINT)
        FROM ch
    ) ORDER BY ord
    """,
)
def pipeline_curation_v2(spark, sf_dir):
    """The round-4 curation funnel COMPOSED: span-level boilerplate
    dedup (drop docs more than half made of cross-document spans) →
    Gopher-style rule filter → 32/16 overlapping chunk windows →
    packing lower bound (⌈Σ window tokens / 256⌉ bins) — survivors
    per stage, proving the new operators compose as one lazy plan
    exactly as pipeline_end_to_end proved for the round-2 set.

    SINGLE-PASS shape (round-13, guide §8 / §2.3 / §2.4): the old
    5-branch union re-derived the span pipeline per branch (~4 full
    evaluations), shuffled the exploded span table TWICE (groupBy for
    span-df, then the join back onto ``sp``), and the ``s1`` join
    shuffled the full token arrays by doc_id.  Now: the span-df
    "appears in >1 doc" test is a min/max window over ONE exchange of
    the narrow (doc_id, span) rows (``count_distinct(doc_id) > 1`` ⇔
    ``min(doc_id) != max(doc_id)`` per span group); the Gopher stats
    are computed map-side per doc BEFORE any exchange so only narrow
    (doc_id, 4 ints) rows join the ratio side; the chunk-window count
    and packed-bin token sum fold per doc as closed-form array
    expressions (no explode); one final aggregation counts every
    stage flag and unpivots to the same five (ord, stage, n) rows.
    """
    from pyspark.sql import Window

    d = _docs(spark, sf_dir).filter(F.length("text") > 0)
    toks = F.split(F.col("text"), " ")
    t = d.select("doc_id", toks.alias("toks"))
    n_spans = F.ceil(F.size("toks") / F.lit(10.0)).cast("int")
    sp = t.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_spans - 1),
                lambda i: F.array_join(
                    F.slice("toks", i * 10 + 1, 10), " "
                ),
            )
        ).alias("pos", "span"),
    )
    # span_df > 1  ⇔  the span's doc_id group holds >1 distinct doc
    # ⇔  min(doc_id) != max(doc_id) over the span partition: one
    # exchange of (doc_id, span), no join back.
    wsp = Window.partitionBy("span")
    is_dup = F.min("doc_id").over(wsp) != F.max("doc_id").over(wsp)
    ratio = (
        sp.select("doc_id", is_dup.alias("is_dup"))
        .groupBy("doc_id")
        .agg(
            (
                F.sum(F.when(F.col("is_dup"), 1).otherwise(0))
                / F.count("*")
            ).alias("dup_ratio")
        )
    )
    stops = F.array(*[F.lit(s) for s in _GOPHER_STOPWORDS])
    # Gopher stats map-side over the scan: only (doc_id, 4 ints)
    # reach the join exchange — the token arrays never shuffle.
    g = t.select(
        "doc_id",
        F.size("toks").alias("n_words"),
        F.aggregate(
            "toks", F.lit(0).cast("long"), lambda a, x: a + F.length(x)
        ).alias("sum_len"),
        F.size(
            F.filter("toks", lambda x: x.rlike("[A-Za-z]"))
        ).alias("n_alpha"),
        F.size(
            F.array_intersect(F.array_distinct("toks"), stops)
        ).alias("n_stop"),
    )
    # Inner join is total: every doc with length(text) > 0 has >= 1
    # span, so ratio carries every doc_id of t.
    per_doc = g.join(ratio, "doc_id")
    s1f = F.col("dup_ratio") <= 0.5
    s2f = (
        s1f
        & F.col("n_words").between(50, 100000)
        & (F.col("sum_len") / F.col("n_words")).between(3, 10)
        & (F.col("n_alpha") / F.col("n_words") >= 0.8)
        & (F.col("n_stop") >= 2)
    )
    # Per-doc chunk-window count and window-token sum in closed form
    # over the same starts sequence the old explode enumerated.
    starts = F.sequence(F.lit(0), F.col("n_words") - 1, F.lit(16))
    n_ch_doc = F.size(starts).cast("long")
    win_sum_doc = F.aggregate(
        starts,
        F.lit(0).cast("long"),
        lambda a, s: a + F.least(F.lit(32), F.col("n_words") - s),
    )
    counts = per_doc.agg(
        F.count("*").cast("long").alias("n_raw"),
        F.count_if(s1f).alias("n_s1"),
        F.count_if(s2f).alias("n_s2"),
        F.coalesce(
            F.sum(F.when(s2f, n_ch_doc)), F.lit(0).cast("long")
        ).alias("n_ch"),
        F.ceil(
            F.coalesce(F.sum(F.when(s2f, win_sum_doc)), F.lit(0)) / 256.0
        )
        .cast("long")
        .alias("n_bins"),
    )
    return counts.select(
        F.expr(
            "stack(5, 0, 'raw', n_raw, 1, 'span_dedup', n_s1,"
            " 2, 'gopher_rules', n_s2, 3, 'chunk_windows', n_ch,"
            " 4, 'packed_bins_lb', n_bins)"
        ).alias("ord", "stage", "n")
    ).orderBy("ord")


@query(
    "dedup_simhash_radius",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS w
      FROM documents
    ), tok AS (
      SELECT doc_id, unnest(w) AS t FROM toks
    ), h AS (
      SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS hv FROM tok
    ), votes AS (
      SELECT doc_id, j,
             sum(CASE WHEN (hv >> j) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM h CROSS JOIN range(60) r(j)
      GROUP BY 1, 2
    ), sh AS (
      SELECT doc_id,
             sum(CASE WHEN v > 0 THEN 1::BIGINT << j ELSE 0 END)::BIGINT
               AS simhash
      FROM votes GROUP BY 1
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT)
             AS hamming
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def dedup_simhash_radius(spark, sf_dir):
    """Hamming-radius near-dup pairs over SimHash fingerprints — the
    fixed-width alternative to shingle-set Jaccard: two documents are
    near-dups when their 60-bit fingerprints differ in ≤ 3 bits.

    The scale mechanism is PIGEONHOLE BLOCKING, provably complete:
    the fingerprint splits into 4 disjoint 15-bit blocks, and any
    pair within Hamming distance 3 must agree EXACTLY on at least one
    block (3 flipped bits can touch at most 3 of 4 blocks) — so
    candidates come from four equality self-joins on (block_idx,
    block_value), never all-pairs, and the exact popcount(xor) verify
    touches only candidates.  The oracle is the brute-force all-pairs
    check over the identical md5-vote fingerprint.

    Cache ownership: the fingerprint table stays persisted after the
    lazy result is returned (blocking + verify both read it); the
    caller owns cleanup via ``spark.catalog.clearCache()`` between
    queries — same rule as sim_ann_lsh / dedup_containment.
    """
    d = _docs(spark, sf_dir)
    n_cores = spark.sparkContext.defaultParallelism
    sh = (
        d.select("doc_id", "text")
        .repartition(n_cores)
        .select(
            "doc_id", P.simhash60_kernel()(F.col("text")).alias("simhash")
        )
        .persist()
    )
    # Plan the block self-join below against the MEASURED cached size:
    # static estimates below Arrow kernels are ~50× low and would
    # statically broadcast a data-sized fingerprint table at scale
    # (the r9 sf10 broadcast-OOM class, pipeline._plan_with_real_stats).
    sh = P._plan_with_real_stats(sh)
    blocks = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk_idx"),
                        F.shiftright(F.col("simhash"), i * 15)
                        .bitwiseAND(F.lit((1 << 15) - 1))
                        .alias("blk"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "simhash", "b.blk_idx", "b.blk")
    a = blocks.select(
        F.col("doc_id").alias("a_id"),
        F.col("simhash").alias("sim_a"),
        "blk_idx",
        "blk",
    )
    b = blocks.select(
        F.col("doc_id").alias("b_id"),
        F.col("simhash").alias("sim_b"),
        "blk_idx",
        "blk",
    )
    hamming = F.expr("bit_count(sim_a ^ sim_b)")
    return (
        a.join(b, ["blk_idx", "blk"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", "sim_a", "sim_b")
        .distinct()
        .filter(hamming <= 3)
        .select(
            "a_id", "b_id", hamming.cast("long").alias("hamming")
        )
    )
