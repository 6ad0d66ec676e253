"""LLM-training-data pipeline operators over ``documents``/``embeddings``.

The reference project is a media-analytics dbt pipeline with no
user-defined-code surface (SURVEY.md §2.8: "macros/ is empty"), so
this module is the engine's extension layer: the operations a
large-scale training-data pipeline needs, built Spark-first —

- **Deduplication**: exact (hash groupBy), near-dup via MinHash+LSH
  (shingle → minhash signature → banded bucket join → exact-Jaccard
  verify), SimHash fingerprints, embedding-cosine near-dup.
- **Similarity search**: brute-force cosine top-k (correctness
  baseline) and two bucketed 100 TB scale paths — IVF (centroid
  assignment) and random-hyperplane LSH (no centroid fit).
- **Text analysis**: quality scoring, language-ID heuristic, token
  statistics, document fingerprinting.
- **Multimodal columns**: binary payload + typed metadata, decoded
  via an Arrow-batched ``mapInPandas`` stub.

Most operators are JVM-side Column expressions (``transform``/
``zip_with``/``aggregate`` higher-order functions) that whole-stage
codegen covers end to end.  The dense numeric kernels (the cosine
block top-k ``topk_cosine_blocked``, the k-means and PQ rounds) and
the row-expanding operators (frame sampling, chunking, bin packing,
the multimodal decode stub) run Python in the hot path, as
Arrow-batched ``mapInPandas`` / ``applyInPandas`` kernels.
Every cosine pair path goes through one place: ``cosine`` is the only
scoring expression, ``_threshold_edges`` (behind ``cosine_edges``)
the only threshold tail, and ``_rank_topk`` the only top-k ranking
window.

Scale design notes (local[32] tests ≠ the target; a 1000-executor
cluster reading 100 TB is):

- MinHash-LSH is **bucketed, never all-pairs**: candidate generation
  is a shuffle on (band_id, band_hash) whose fan-in is bounded by
  collision rate, and the exact-Jaccard verify only touches candidate
  pairs. All-pairs O(n²) appears solely in the DuckDB *oracle*.
- Brute-force cosine top-k is quadratic by definition — it is the
  *correctness baseline*; ``sim_ann_ivf`` shows the bucketed plan
  (assign to nearest centroid, search within bucket) that replaces it
  at scale, where centroids come from a sampled k-means fit and the
  bucket id becomes the shuffle/partition key.
- SimHash/fingerprints reduce each document to a fixed-width value —
  near-dup detection becomes a groupBy/self-join on a 64-bit key.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import functions as E
from .session import lineage_cut

# ---------------------------------------------------------------------------
# Shared text primitives (engine-parity critical: every formula here has an
# exact DuckDB equivalent used by the oracles — see pipeline_queries.py)
# ---------------------------------------------------------------------------

STOPWORDS = ("the", "a", "of", "and", "to")

# BPE-ish pre-tokenizer: letter runs, digit runs, single non-alnum marks.
BPE_TOKEN_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def md5_long(col: Column | str) -> Column:
    """Deterministic 60-bit hash portable across engines.

    ``conv(substr(md5(x),1,15),16,10)`` here == DuckDB
    ``('0x' || substr(md5(x),1,15))::BIGINT`` — verified identical, so
    simhash/fingerprint outputs are oracle-checkable, unlike
    xxhash64/hash whose implementations differ per engine.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def ws_tokens(col: Column | str) -> Column:
    """Whitespace tokens of the lowercased text (corpus is single-spaced)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.lower(c), " ")


def word_grams(tokens: Column, k: int) -> Column:
    """Word k-grams in token order, '|'-joined, NOT deduplicated: the
    i-th element (0-based) is the gram starting at token i + 1.

    Rows with fewer than ``k`` tokens (a NULL array included) give an
    empty array, so callers need no size pre-filter: ``sequence`` with
    a stop below its start would count downward, and ``element_at``
    past the end raises under ANSI.

    ``tokens`` is re-bound as a LAMBDA VARIABLE (the single-element
    array wrap) before the per-gram transform: a raw expression
    argument (e.g. ``split(text)``) captured inside a HOF lambda is
    re-evaluated on every element — no common-subexpression
    elimination crosses a lambda boundary — making gram building
    O(k·words²) on the caller's expression.  The hugedoc random-corpus
    probe measured minutes-per-document on ~1 MB texts; the lambda
    binding evaluates the argument exactly once per row for every
    caller, whatever they pass.
    """

    def _grams(toks: Column) -> Column:
        return F.when(
            F.size(toks) >= k,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (k - 1)),
                lambda i: F.concat_ws(
                    "|", *[F.element_at(toks, i + j) for j in range(k)]
                ),
            ),
        ).otherwise(F.array())

    return F.flatten(F.transform(F.array(tokens), _grams))


# ---------------------------------------------------------------------------
# MinHash + LSH near-duplicate detection
# ---------------------------------------------------------------------------

MINHASH_N = 128  # signature length
LSH_ROWS = 2  # rows per band  -> 64 bands
LSH_BANDS = MINHASH_N // LSH_ROWS
# P(miss | J=0.6) = (1 - 0.6^2)^64 ≈ 4e-13: the banded index is
# effectively exhaustive above the verify threshold, so the exact
# brute-force oracle and the LSH plan agree.
JACCARD_THRESHOLD = 0.6
# Embedding near-duplicate cut: a pair is an edge when its cosine,
# rounded to 1e-6, is >= this (``cosine_edges``; the oracles read it).
COSINE_TAU = 0.45
# Width of the zero-padded byte matrix the shingle kernel hashes each
# token over; longer tokens share their prefix's hash bucket.
TOKEN_BYTES = 24


def _mix64(v: "np.ndarray") -> "np.ndarray":
    """splitmix64 finalizer, vectorized over uint64 (wrapping mul).

    A full-avalanche 64-bit mixer: every output bit depends on every
    input bit, so ``_mix64(x ^ seed_i)`` acts as an independent-ish
    permutation per seed — the property minhash needs and the old
    non-wrapping ``lo + i*hi`` scheme lacked."""
    v = v.astype(np.uint64, copy=True)
    v ^= v >> np.uint64(30)
    v *= np.uint64(0xBF58476D1CE4E5B9)
    v ^= v >> np.uint64(27)
    v *= np.uint64(0x94D049BB133111EB)
    v ^= v >> np.uint64(31)
    return v


def _shingles_and_sig(k: int = 3, with_sig: bool = True):
    """Arrow-batched kernel: raw text → (shingles, minhash sig) per doc.

    One vectorized pass does ALL the per-doc work — tokenize, hash
    every token, combine k consecutive token hashes into 64-bit
    shingles (XOR of distinct rotations), distinct them, and fold the
    128-seed minimum (g_i = min over shingles of
    ``_mix64(shingle ^ seed_i)`` — an independent-ish permutation per
    slot).  Why a Pandas UDF: the per-element Column/HOF
    version of this kernel is interpreted (never codegen'd) and
    measured ~5 s for 5 000 × ~500-token docs at sf0.1, plus another
    ~3 s for a JVM ``transform(w, xxhash64)`` token-hash pass; this
    Arrow batch runs the same math in well under a second.

    Token hashing is FNV-style over a zero-padded ``TOKEN_BYTES``-
    wide byte matrix — fully vectorized (one multiply-XOR per byte
    position over the whole batch), deterministic across executors
    (no Python string-hash salt), tokens longer than the width share a
    prefix bucket (harmless for a Jaccard estimate at the 0.6
    threshold; collisions perturb ~n²/2^64 of pairs).  Tokenization is
    ``lower().split(" ")`` on UTF-8 bytes — byte-for-byte the
    ``ws_tokens`` convention.  Docs with < k tokens yield NULL arrays
    (callers filter), mirroring the old JVM pre-filter.

    Still embarrassingly parallel: no shuffle, column-pruned input; at
    100 TB it scales with the map stage.
    """
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    # per-slot seed constants: pure function of the slot index (no RNG
    # dependence), pre-mixed so slot 0 isn't the identity permutation
    seeds = _mix64(np.arange(1, MINHASH_N + 1, dtype=np.uint64))
    rots = [(1 + 21 * j) % 64 for j in range(k)]
    fnv = np.uint64(1099511628211)

    @F.pandas_udf(
        StructType(
            [
                StructField("shingles", ArrayType(LongType())),
                StructField("sig", ArrayType(LongType())),
            ]
        )
    )
    def _kernel(texts: pd.Series) -> pd.DataFrame:
        tok_lists = [
            ("" if t is None else t).lower().encode("utf-8").split(b" ")
            for t in texts  # null text == empty text (no shingles emitted)
        ]
        counts = np.fromiter(
            (len(t) for t in tok_lists), dtype=np.int64, count=len(tok_lists)
        )
        flat = [tok for lst in tok_lists for tok in lst]
        if flat:
            m = np.frombuffer(
                np.array(flat, dtype=f"S{TOKEN_BYTES}"), dtype=np.uint8
            ).reshape(len(flat), TOKEN_BYTES)
            h = np.zeros(len(flat), dtype=np.uint64)
            for pos in range(TOKEN_BYTES):
                h = h * fnv ^ m[:, pos].astype(np.uint64)
        else:
            h = np.zeros(0, dtype=np.uint64)
        offs = np.concatenate(([0], np.cumsum(counts)))
        ndocs = len(tok_lists)
        # Whole-batch gram build: one rotation-XOR pass over the FLAT
        # token-hash array (gram starts that would straddle a document
        # boundary are simply never indexed), replacing the former
        # per-document Python loop — bit-identical grams, ~batch-size
        # fewer numpy dispatches.
        n_grams = np.maximum(counts - k + 1, 0)
        nflat = len(h)
        if nflat >= k:
            g_full = np.zeros(nflat - k + 1, dtype=np.uint64)
            for j, r in enumerate(rots):
                hj = h[j : nflat - k + 1 + j]
                g_full ^= (hj << np.uint64(r)) | (hj >> np.uint64(64 - r))
        else:
            g_full = np.zeros(0, dtype=np.uint64)
        doc_idx = np.repeat(np.arange(ndocs), n_grams)
        gram_offs = np.concatenate(([0], np.cumsum(n_grams)))
        within = np.arange(len(doc_idx)) - np.repeat(gram_offs[:-1], n_grams)
        g = g_full[np.repeat(offs[:-1], n_grams) + within]
        # Per-doc distinct, batch-global: lexsort by (doc, gram) then a
        # neighbor-change mask == np.unique per document (ascending
        # order per doc, exactly the old output).
        order = np.lexsort((g, doc_idx))
        ds, gs = doc_idx[order], g[order]
        keep = np.ones(len(gs), dtype=bool)
        keep[1:] = (ds[1:] != ds[:-1]) | (gs[1:] != gs[:-1])
        ds_u, gs_u = ds[keep], gs[keep]
        u_counts = np.bincount(ds_u, minlength=ndocs)
        u_offs = np.concatenate(([0], np.cumsum(u_counts)))
        if with_sig and len(gs_u):
            # Proper per-seed permutation: splitmix64 finalizer of
            # (shingle ^ seed_i), minned per seed.  The previous
            # ``min(lo + i*hi)`` double-hash NEVER WRAPPED uint64
            # (i*hi <= 2^39), so for growing i the argmin converged
            # to the global smallest-hi shingle — all 128 slots
            # correlated, and editing one word near that shingle
            # flipped essentially the whole signature (measured
            # 1/128 matching slots at J=0.94; the banded LSH then
            # MISSED a true near-dup the exact oracle reports —
            # round-6 random-corpus find).  _mix64 makes each slot
            # an independent-ish permutation, restoring the
            # textbook (1-J^r)^b miss bound (~1e-60 at J=0.94).
            # One seed at a time: segment-min via minimum.reduceat
            # over the doc boundaries keeps peak memory at one
            # batch-length vector (a single book-scale doc would make
            # the (n_shingles, 128) matrix gigabytes), same op count.
            doc_starts = u_offs[:-1][u_counts > 0]
            sig_mat = np.empty((len(doc_starts), MINHASH_N), dtype=np.uint64)
            for s in range(MINHASH_N):
                sig_mat[:, s] = np.minimum.reduceat(
                    _mix64(gs_u ^ seeds[s]), doc_starts
                )
        sh_out, sig_out = [], []
        row = 0
        for i in range(ndocs):
            if u_counts[i] == 0:
                sh_out.append(None)
                sig_out.append(None)
                continue
            sh_out.append(gs_u[u_offs[i] : u_offs[i + 1]].view(np.int64))
            if with_sig:
                sig_out.append(sig_mat[row].view(np.int64))
                row += 1
            else:
                # shingles-only callers (the exact-Jaccard path) skip
                # the n_shingles×128 fold — the kernel's heaviest op —
                # which Catalyst cannot prune through the UDF boundary.
                sig_out.append(None)
        return pd.DataFrame({"shingles": sh_out, "sig": sig_out})

    # Non-deterministic marking (it IS deterministic — this only gates
    # the optimizer): every caller filters on the kernel output
    # (``ss.shingles IS NOT NULL``), and Catalyst pushes that filter
    # through the parallelizing round-robin exchange by DUPLICATING the
    # UDF — plans showed two ArrowEvalPython nodes per caller, the
    # pushed copy running at raw-scan parallelism (a local parquet file
    # is ONE split), so the corpus was shingled twice, once nearly
    # single-threaded.  asNondeterministic forbids the duplication:
    # one kernel pass, after the exchange, at full width.
    return _kernel.asNondeterministic()


def _plan_with_real_stats(df: DataFrame) -> DataFrame:
    """Eagerly materialize a persisted kernel-stage frame so Catalyst
    plans every downstream join against the cache's TRUE size.

    Catalyst estimates an Arrow/pandas kernel's output size from its
    INPUT columns' pruned widths — it cannot see the kernel's
    expansion factor (a shingle+signature struct is ~30× the source
    text column; measured at sf10: estimate 10.7 MiB, true cached
    size hundreds of MiB).  With the under-estimate, the planner
    BROADCASTS data-sized join sides: harmless at sf0.1, but at the
    sf10 decade it planned a 32M-row band table into the 8 GB driver
    and died in BroadcastExchange (the r9 scale find — AQE cannot
    demote a statically planned broadcast).  Counting the persisted
    frame first swaps the estimate for the measured cached size, so
    broadcast-vs-shuffle decisions stay correct at EVERY scale: small
    corpora keep their broadcast fast path, large ones shuffle.  The
    extra action costs one traversal the first consumer was about to
    pay anyway — the cache fills now instead of then.
    """
    df.count()
    return df


def _shingle_frame(
    docs: DataFrame, k: int = 3, with_sig: bool = True
) -> DataFrame:
    """Persisted ``(doc_id, s[, sig])`` frame of the near-dup plans:
    each doc's distinct k-shingles ``s`` and (``with_sig``) its MinHash
    signature, from one ``_shingles_and_sig`` pass.  Docs with < k
    tokens come back NULL and are dropped, matching the oracles'
    ``len(w) >= k`` filter.

    The frame has several consumers in every caller (band explode or
    gram explode plus both sides of the verify join), so it is cached
    rather than recomputing the tokenize+hash+kernel scan per consumer
    (MEMORY_AND_DISK so a 100 TB run spills instead of evicting
    mid-plan), and counted once so joins plan against its true size.
    """
    from pyspark import StorageLevel

    n_cores = docs.sparkSession.sparkContext.defaultParallelism
    cols = [F.col("ss.shingles").alias("s")]
    if with_sig:
        cols.append(F.col("ss.sig").alias("sig"))
    sh = (
        # Spread the kernel across cores even when the source arrives
        # as few input splits (a local parquet file is ONE split → one
        # task): shuffling the narrow (doc_id, text) projection is
        # cheap relative to the per-doc CPU it unlocks.  On a real
        # cluster with thousands of splits this is a no-op-sized
        # exchange, never a bottleneck.
        docs.select("doc_id", "text")
        .repartition(n_cores)
        .select(
            "doc_id",
            _shingles_and_sig(k, with_sig=with_sig)("text").alias("ss"),
        )
        .filter(F.col("ss.shingles").isNotNull())
        .select("doc_id", *cols)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return _plan_with_real_stats(sh)


# Join keys of the LSH band table: band index plus its LSH_ROWS slots.
_BAND_KEYS = ["band"] + [f"h{r}" for r in range(LSH_ROWS)]


def _lsh_bands(sh: DataFrame) -> DataFrame:
    """Band explode of a ``_shingle_frame``: ``(doc_id, band, h0..)``,
    LSH_BANDS rows per doc.

    ONE small HOF expression instead of an unrolled 64-struct array
    literal: same rows, but a plan node of constant size — the
    unrolled form made Catalyst/codegen chew a 192-field expression
    tree on every compile.  64 interpreted elements per row is noise
    next to the shuffle that follows.
    """
    return sh.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(LSH_BANDS - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    *[
                        F.element_at("sig", b * LSH_ROWS + r + 1).alias(
                            f"h{r}"
                        )
                        for r in range(LSH_ROWS)
                    ],
                ),
            )
        ).alias("bk"),
    ).select("doc_id", "bk.*")


def minhash_lsh_pairs(docs: DataFrame) -> DataFrame:
    """Near-duplicate pairs (a_id < b_id, jaccard >= threshold).

    Plan shape at scale: narrow shingle+signature projection
    (``_shingle_frame``) → explode to 64 (band, hash-pair) rows per doc
    → shuffle on the band key (candidate generation; skew-safe because
    identical bands mean near-identical docs) → distinct candidate
    pairs → join back the two shingle sets → exact Jaccard filter. No
    stage is all-pairs.  All per-doc math runs in one Arrow/numpy
    kernel (``_shingles_and_sig``).
    """
    sh = _shingle_frame(docs)
    bands = _lsh_bands(sh)
    candidates = (
        bands.alias("l")
        .join(bands.alias("r"), on=_BAND_KEYS)
        .filter(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(
            F.col("l.doc_id").alias("a_id"), F.col("r.doc_id").alias("b_id")
        )
        .distinct()
    )
    return _verify_jaccard(candidates, sh, sh, JACCARD_THRESHOLD)


def _verify_jaccard(
    candidates: DataFrame,
    a_sets: DataFrame,
    b_sets: DataFrame,
    threshold: float,
) -> DataFrame:
    """Exact verify tail of the near-dup pair plans: ``(a_id, b_id,
    jaccard)`` for the candidate pairs whose Jaccard, rounded to 1e-6,
    reaches ``threshold``.  ``a_id`` looks up ``a_sets``, ``b_id``
    ``b_sets`` (the same frame for a self-join).

    The sets are ``(doc_id, s)`` with each ``s`` free of duplicates (the
    shingle kernel emits per-doc distinct grams), so |A∪B| is
    |A| + |B| − |A∩B|: one ``array_intersect`` per candidate, no
    ``array_union``, and the same double as intersect/union.
    """
    a = a_sets.select(F.col("doc_id").alias("a_id"), F.col("s").alias("sa"))
    b = b_sets.select(F.col("doc_id").alias("b_id"), F.col("s").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    jac = inter / (F.size("sa") + F.size("sb") - inter)
    return (
        candidates.join(a, "a_id")
        .join(b, "b_id")
        .select("a_id", "b_id", E.round_to(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# Shared prefix grams a candidate pair needs (ℓ of the ℓ-prefix filter,
# capped per set at ⌈t·|S|⌉).  Distinct candidates measured at sf0.1
# (5,000 docs, 256 true pairs): ℓ=1 193,273 (68,688 with the PPJoin
# positional filter), ℓ=2 6,690, ℓ=3 456, ℓ=4 262.  Each step of ℓ
# lengthens every prefix by one gram; past 3 it prunes few more pairs.
_PREFIX_ELL = 3


def ngram_jaccard_pairs(
    docs: DataFrame, k: int = 3, threshold: float = 0.6
) -> DataFrame:
    """EXACT word-n-gram Jaccard near-dup pairs via ℓ-prefix filtering.

    Complements ``minhash_lsh_pairs``: no signatures, no probabilistic
    miss — the prefix filter guarantees completeness.  J(A,B) >= t
    implies |A∩B| >= c_A = ⌈t·|A|⌉.  Under one global gram order, a
    set's ℓ-prefix is its first ``|A| - c_A + ℓ_A`` sorted grams, with
    ``ℓ_A = min(3, c_A)`` (Wang, Li, Feng, "Can We Beat the Prefix
    Filtering?", SIGMOD 2012; ℓ=1 is the classic PPJoin prefix).  Two
    sets with J >= t share at least ``min(ℓ_A, ℓ_B)`` grams inside both
    prefixes: their shared grams appear in the same order in both, A's
    suffix holds only c_A - ℓ_A grams, so A's prefix holds the first
    ℓ_A shared grams — and likewise for B.  The cap at c_A is what
    keeps this true for sets that need fewer than 3 shared grams (a
    1-gram exact duplicate shares one gram, never three).  So
    candidate generation explodes ONLY the ℓ-prefix, joins on the gram
    hash and keeps a pair only when it meets at ``min(ℓ_A, ℓ_B)`` or
    more prefix grams; everything else is pruned before any verify.

    The prefix is taken under the PPJoin gram order — ascending
    document frequency, gram hash as tie-break — NOT hash order.  This
    is the load-bearing scale property: under a random (hash) order,
    corpus-common grams ("of the") land in prefixes and the inverted-
    index join explodes quadratically in their document frequency
    (measured: 7.3M candidates for 256 real pairs over 5k docs).
    Frequency order pushes common grams into the pruned suffixes, so a
    gram joins only the documents where it ranks among the rarest —
    candidate count tracks true-duplicate density, not vocabulary
    skew.  Completeness is order-independent: ANY single global total
    order satisfies the prefix lemma.  A size filter
    (``t·|A| ≤ |B| ≤ |A|/t``) prunes candidates that could never reach
    the threshold before the verify join.  There is no per-row PPJoin
    positional filter: its bound holds only at a pair's FIRST shared
    gram, and applied to every row before the count it would drop the
    later shared grams the ℓ count needs.

    Plan shape at scale: gram document-frequency aggregation
    (map-combinable) → frequency-ordered prefix explode → shuffle on
    gram hash (the inverted index) → size-filtered per-pair count of
    shared prefix grams (one exchange, as the old ``distinct``) →
    exact verify on the full sorted-gram arrays (``_verify_jaccard``).
    No stage is all-pairs; the O(n²) form exists only in the DuckDB
    oracle.

    Gram sets come from the same Arrow/numpy shingle kernel MinHash
    uses (``_shingles_and_sig``): Jaccard is invariant under ANY
    injective gram→int64 map, so the kernel's FNV-rotation shingles
    give bit-identical jaccard values to the oracle's string grams
    while replacing a ~4 s interpreted per-element HOF hash pass (5k
    docs, sf0.1) with a sub-second vectorized batch.  (Same collision
    caveat as MinHash: ~n²/2^64 spurious merges, plus the 24-byte
    token-prefix bucket — corpus tokens are ≤ ~12 bytes.)
    """
    from pyspark import StorageLevel
    from pyspark.sql import Window

    sh = _shingle_frame(docs, k, with_sig=False)
    # Gram set size rides along from the array (free — no count
    # aggregation or window needed for |A|).
    grams = sh.select(
        "doc_id", F.size("s").alias("n"), F.explode("s").alias("g")
    )
    dfreq = grams.groupBy("g").agg(F.count("*").alias("df"))
    # Rank each doc's grams under the PPJoin order with ONE window pass
    # (row_number over (df, g) per doc) instead of re-collecting and
    # array-sorting per-doc gram arrays — same shuffle key, no array
    # churn.
    wd = Window.partitionBy("doc_id").orderBy("df", "g")
    need = F.ceil(F.lit(threshold) * F.col("n")).cast("int")
    pre = (
        grams.join(dfreq, "g")
        .withColumn("pos", F.row_number().over(wd))
        .withColumn("l", F.least(F.lit(_PREFIX_ELL), need))
        .filter(F.col("pos") <= F.col("n") - need + F.col("l"))
        .select("doc_id", "n", "l", "g")
        .persist(StorageLevel.MEMORY_AND_DISK)  # both sides of the self-join
    )
    pre = _plan_with_real_stats(pre)
    candidates = (
        pre.alias("a")
        .join(pre.alias("b"), "g")
        .filter(
            (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("b.n") * threshold <= F.col("a.n"))
            & (F.col("a.n") * threshold <= F.col("b.n"))
        )
        .groupBy(
            F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id")
        )
        .agg(
            F.count("*").alias("shared"),
            F.min(F.least("a.l", "b.l")).alias("l"),
        )
        .filter(F.col("shared") >= F.col("l"))
        .select("a_id", "b_id")
    )
    return _verify_jaccard(candidates, sh, sh, threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash60_kernel():
    """Arrow-batched kernel: raw text → 60-bit SimHash (md5-based).

    Bit j of the fingerprint is 1 iff the majority of the document's
    DISTINCT token md5-hashes set bit j (votes of ±1 per token per
    bit).  md5 keeps the hash engine-portable — DuckDB's
    ``('0x' || substr(md5(t),1,15))::BIGINT`` reproduces every token
    hash bit-for-bit, so the oracle hash-matches; 60 bits because 15
    hex digits fit a signed long.

    Why a Pandas UDF: the per-bit Column/HOF formulation evaluates 60
    interpreted ``aggregate()`` chains per row (never codegen'd) and
    measured ~11 s for 5 000 docs at sf0.1; this kernel runs the same
    math as one numpy bit-matrix per doc plus a per-batch memoized
    md5 pass over unique tokens (~27 k distinct corpus-wide), well
    under a second.  Tokenization is ``lower().split(" ")`` on UTF-8
    bytes — byte-for-byte the ``ws_tokens`` convention, same as the
    MinHash kernel.  Map-only: no shuffle, scales with input splits.
    """
    import hashlib

    from pyspark.sql.types import LongType

    shifts = np.arange(60, dtype=np.uint64)

    @F.pandas_udf(LongType())
    def _kernel(texts: pd.Series) -> pd.Series:
        cache: dict[bytes, int] = {}
        out = np.empty(len(texts), dtype=np.int64)
        for i, t in enumerate(texts):
            toks = set(
                ("" if t is None else t).lower().encode("utf-8").split(b" ")
            )
            hs = np.empty(len(toks), dtype=np.uint64)
            for j, tok in enumerate(toks):
                v = cache.get(tok)
                if v is None:
                    v = int(hashlib.md5(tok).hexdigest()[:15], 16)
                    cache[tok] = v
                hs[j] = v
            bits = (hs[:, None] >> shifts[None, :]) & np.uint64(1)
            votes = (2 * bits.astype(np.int64) - 1).sum(axis=0)
            out[i] = int(((votes > 0).astype(np.uint64) << shifts).sum())
        return pd.Series(out)

    return _kernel


# ---------------------------------------------------------------------------
# Embedding similarity
# ---------------------------------------------------------------------------


def _dot_double(a: Column, b: Column) -> Column:
    """Sequential-fold dot product with per-element double promotion.

    float→double casts are exact and the left fold order matches
    DuckDB's list_sum, so the result is bit-identical across engines
    (the parity the oracle hash needs).
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def finite_vec(col: Column | str = "embedding") -> Column:
    """True iff every component of the vector is present and finite.

    One O(d) fold over |x|: the abs-sum is NaN iff any component is
    NaN, +Inf iff any is ±Inf, and NULL iff the array or any element
    is NULL — so a single scalar check classifies the vector.  This is
    the validity predicate of the embedding family (the `nanvec`
    random-corpus probe: ~3% corrupt components crashed every
    quantize-to-int path under ANSI and silently poisoned centroid
    sums): corrupt vectors cost THAT VECTOR — NULL per-vector outputs,
    excluded from training aggregates — never the job.  Oracles mirror
    with ``isfinite(list_sum([abs(x::DOUBLE) for x in embedding]))``.
    """
    s = F.aggregate(
        F.transform(_col_of(col), lambda v: F.abs(v.cast("double"))),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return ~F.isnan(s) & (s < F.lit(float("inf")))


def _col_of(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def with_norm(embs: DataFrame) -> DataFrame:
    """Attach the L2 norm once, before any join fans the vectors out."""
    return embs.withColumn(
        "norm", F.sqrt(_dot_double(F.col("embedding"), F.col("embedding")))
    )


def cosine(a_vec: Column, b_vec: Column, a_norm: Column, b_norm: Column) -> Column:
    """NULL on any undefined side: zero-norm (try_divide's 0/0 → NULL,
    the `zerovec` find) and non-finite components (dot or norm NaN/Inf
    → NaN result, the `nanvec` find — Spark and DuckDB both rank a
    raw NaN FIRST under DESC, so a corrupt vector would top every
    similarity list).  ANSI `/` would abort the whole job instead.
    NULL is the right engineering outcome: a NULL score never passes
    a threshold filter and ranks after every real score under DESC
    NULLS LAST (both engines' default).  The oracle core applies the
    same isfinite guard."""
    raw = F.try_divide(_dot_double(a_vec, b_vec), a_norm * b_norm)
    # nanvl, not when(~isnan(raw), raw): the when-form references the
    # whole dot-product fold twice and codegen re-evaluates it (+24%
    # on the IVF assignment); nanvl is a single-pass NaN->NULL.
    return F.nanvl(raw, F.lit(None).cast("double"))


def assign_nearest_cosine(e: DataFrame, cent: DataFrame) -> DataFrame:
    """``e`` (vec_id, embedding, norm) + the ``cent_id`` of its
    nearest centroid by cosine — MAP-ONLY (guide §2.3/§2.4; the
    round-13 pattern proven on the k-means family).

    ``cent`` (cent_id, cvec, cnorm) folds into ONE broadcast row
    carrying ``array<struct<...>>``; scoring is a per-row
    ``transform`` over that array and the argmax a per-row
    ``array_max`` over ``(c IS NOT NULL, c, -cent_id)`` sort keys —
    exactly the old window's ``ORDER BY c DESC NULLS LAST, cent_id``
    rank-1 pick (non-NULL beats NULL, higher c wins, lower cent_id
    breaks ties, all-NULL rows fall back to the lowest cent_id).  The
    previous shape paid three data-sized costs per assignment that
    this removes: a k-row BroadcastNestedLoopJoin fan-out, a
    per-vector ranking window (exchange + sort of k× the corpus), and
    a shuffle join of the vectors back onto the assignment.  The
    1-row codebook crossJoin remains the one allow-listed bounded
    NLJ shape.
    """
    cb = cent.agg(
        F.collect_list(F.struct("cent_id", "cvec", "cnorm")).alias("cb")
    )
    scored_arr = F.transform(
        F.col("cb"),
        lambda cc: F.struct(
            cosine(
                F.col("embedding"), cc["cvec"], F.col("norm"), cc["cnorm"]
            ).alias("c"),
            cc["cent_id"].alias("cent_id"),
        ),
    )
    # second transform re-binds the scored struct so the cosine fold
    # is evaluated once per codebook entry
    best = F.array_max(
        F.transform(
            scored_arr,
            lambda s: F.struct(
                s["c"].isNotNull().alias("has"),
                s["c"].alias("c"),
                (-s["cent_id"]).alias("negid"),
            ),
        )
    )
    return e.crossJoin(F.broadcast(cb)).select(
        "vec_id", "embedding", "norm", (-best["negid"]).alias("cent_id")
    )


def _block_topk_fn(k: int):
    """Per-block cosine top-``k`` kernel for the cogroup block layouts
    (``topk_cosine_blocked``, whole-corpus or per bucket): dense numpy
    ``Q @ M.T`` over one (query-chunk, index-shard) block, per-query
    top-k candidates by (score DESC, neighbor_id ASC) with NaN scores
    ordered LAST and emitted as NULL.

    The per-block lexsort applies the SAME total order as the global
    fold window (reals DESC, then NaN/NULL by ascending neighbor_id —
    numpy sorts NaN after every real and lexsort's stability preserves
    the id-ascending secondary among them), so the union of per-block
    top-ks is a superset of the global top-k INCLUDING the
    corrupt-vector NULL semantics."""
    import numpy as np
    import pandas as pd

    def _block_topk(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"vec_id": pd.Series(dtype="int64"),
             "neighbor_id": pd.Series(dtype="int64"),
             "c": pd.Series(dtype="float64")}
        )
        if left.empty or right.empty:
            return empty
        q = np.stack(left["embedding"].to_numpy()).astype(np.float64)
        m = np.stack(right["embedding"].to_numpy()).astype(np.float64)
        q_norm = np.sqrt((q * q).sum(axis=1))
        m_norm = np.sqrt((m * m).sum(axis=1))
        with np.errstate(invalid="ignore"):  # zero-norm 0/0 → NaN→NULL below
            scores = (q @ m.T) / (q_norm[:, None] * m_norm[None, :])
        q_ids = left["vec_id"].to_numpy()
        i_ids = right["vec_id"].to_numpy()
        out: dict[str, list] = {"vec_id": [], "neighbor_id": [], "c": []}
        for qi, row in zip(q_ids, scores):
            mask = i_ids != qi  # exclude self
            cand_ids, cand = i_ids[mask], row[mask]
            top = np.lexsort((cand_ids, -cand))[:k]  # desc score, id asc
            out["vec_id"].extend([qi] * len(top))
            out["neighbor_id"].extend(cand_ids[top])
            out["c"].extend(cand[top])
        # A zero-norm (corrupt) vector makes the 0/0 above a NaN — but
        # Spark sorts NaN FIRST under desc (NaN > +Inf) while the
        # DuckDB oracle's NULL-on-zero-divide sorts last, so a corrupt
        # vector would silently WIN the global ranking.  Emit NULL at
        # the source (nullable Float64 → Arrow null) so the window
        # ranks it DESC-NULLS-LAST like the oracle; the lexsort above
        # already places NaN last, consistently.  (Found by the
        # `zerovec` random-corpus variant.  NOT fixable with a nanvl
        # projection on the cogroup output: a Project directly atop
        # FlatMapCoGroupsInPandas mis-prunes the right group's input
        # columns down to the grouping key in Spark 4.1.)
        cvals = np.asarray(out["c"], dtype="float64")
        carr = pd.array(cvals, dtype="Float64")
        carr[np.isnan(cvals)] = pd.NA
        return pd.DataFrame(
            {"vec_id": out["vec_id"], "neighbor_id": out["neighbor_id"],
             "c": carr}
        )

    return _block_topk


def _rank_topk(partial: DataFrame, k: int) -> DataFrame:
    """The one cosine top-``k`` tail: ``(vec_id, neighbor_id, c)``
    candidates → ``(vec_id, rnk, neighbor_id, cos_sim)`` ranked per
    query by (c DESC NULLS LAST, neighbor_id) — the oracles' ``ORDER
    BY c DESC, neighbor_id`` — with the cosine rounded to 1e-6 AFTER
    the rank, so a tie inside the rounding grid still breaks on the
    unrounded score exactly as the oracle breaks it."""
    from pyspark.sql import Window

    w = Window.partitionBy("vec_id").orderBy(
        F.col("c").desc(), F.col("neighbor_id")
    )
    return (
        partial.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "vec_id",
            "rnk",
            "neighbor_id",
            E.round_to(F.col("c"), 6).alias("cos_sim"),
        )
    )


def _pair_side(df: DataFrame, on: str | None, id_as: str, v: str, n: str):
    """Project one side of a cosine pair join: ``(on?, id, vec, norm)``
    from a ``(vec_id, embedding, norm)`` frame."""
    return df.select(
        *([on] if on else []),
        F.col("vec_id").alias(id_as),
        F.col("embedding").alias(v),
        F.col("norm").alias(n),
    )


def _threshold_edges(pairs: DataFrame) -> DataFrame:
    """The one cosine threshold tail: scored ``(a_id, b_id, va, na,
    vb, nb)`` pairs → ``(a_id, b_id, cos_sim)`` kept where the cosine
    rounded to 1e-6 clears ``COSINE_TAU`` (the oracles' ``round(c, 6)
    >= tau``).  A NULL score (zero-norm or non-finite vector) never
    passes."""
    return pairs.select(
        "a_id",
        "b_id",
        E.round_to(
            cosine(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")), 6
        ).alias("cos_sim"),
    ).filter(F.col("cos_sim") >= COSINE_TAU)


def cosine_edges(
    a: DataFrame, b: DataFrame, on: str | None = None
) -> DataFrame:
    """Near-duplicate cosine edges ``(a_id, b_id, cos_sim)`` between
    two ``(vec_id, embedding, norm)`` frames: every ``a_id < b_id``
    pair sharing the ``on`` bucket key (an equi shuffle join), or ALL
    such pairs when ``on`` is None (the brute-force non-equi join,
    planned as a nested loop over the broadcast ``b`` side — its
    parallelism is ``a``'s partition count), scored with the
    ``cosine`` fold and kept by ``_threshold_edges``."""
    a = _pair_side(a, on, "a_id", "va", "na")
    b = _pair_side(b, on, "b_id", "vb", "nb")
    lt = F.col("a_id") < F.col("b_id")
    pairs = a.join(b, lt) if on is None else a.join(b, on).filter(lt)
    return _threshold_edges(pairs)


def cosine_candidate_edges(cand: DataFrame, e: DataFrame) -> DataFrame:
    """``cosine_edges`` over an explicit ``(a_id, b_id)`` candidate
    list: each candidate pair picks up both vectors from the
    ``(vec_id, embedding, norm)`` frame ``e`` (two equi joins on the
    ids) and is scored once, so a caller that de-duplicates its
    candidates never re-scores a pair."""
    return _threshold_edges(
        cand.join(_pair_side(e, None, "a_id", "va", "na"), "a_id").join(
            _pair_side(e, None, "b_id", "vb", "nb"), "b_id"
        )
    )


def cosine_topk(q: DataFrame, ix: DataFrame, on: str) -> DataFrame:
    """Within-bucket cosine top-5 ``(vec_id, rnk, neighbor_id,
    cos_sim)`` through the pair fold: every query row of ``q`` meets
    the ``ix`` rows sharing its ``on`` bucket (one equi shuffle join —
    a query side that lists several probe buckets just carries one row
    per probe), self-pairs are dropped, each pair is scored with the
    ``cosine`` fold, and ``_rank_topk`` ranks.  Both sides are
    ``(vec_id, embedding, norm, on)`` frames.  k is 5, the depth every
    approximate-search id and its oracle (``rnk <= 5``) use.  The
    right shape for small buckets; large ones belong to
    ``topk_cosine_blocked``."""
    pairs = (
        _pair_side(q, on, "vec_id", "va", "na")
        .join(_pair_side(ix, on, "neighbor_id", "vb", "nb"), on)
        .filter(F.col("vec_id") != F.col("neighbor_id"))
        .select(
            "vec_id",
            "neighbor_id",
            cosine(F.col("va"), F.col("vb"), F.col("na"), F.col("nb"))
            .alias("c"),
        )
    )
    return _rank_topk(pairs, 5)


def topk_cosine_blocked(
    embs: DataFrame,
    k: int = 10,
    index_shards: int = 4,
    query_chunks: int = 4,
    bucket: str | None = None,
) -> DataFrame:
    """Exact cosine top-``k`` ``(vec_id, rnk, neighbor_id, cos_sim)``
    as a distributed block matrix product — over the whole corpus, or
    within each ``bucket`` (the IVF in-bucket search of ``sim_ann_ivf``
    and ``sim_ann_ivf_trained``).

    The exact-kNN baseline with NO driver materialization anywhere:
    the index side is hash-sharded on ``vec_id % index_shards``, the
    query side on ``vec_id % query_chunks``, each side replicated
    across the other's blocks (query rows ×S, index rows ×Q — the
    standard block nested-loop layout), and every (bucket, chunk,
    shard) block meets in one ``cogroup().applyInPandas`` task that
    runs a dense numpy ``Q @ M.T``.  Per-block per-query top-k
    candidates then fold into the global top-k through ``_rank_topk``
    — correct because a global top-k is always a subset of the union
    of per-shard top-ks.  Vector bytes cross the exchange once per
    replication constant, never per pair (the round-13 replacement for
    the bucket self-join scored by the interpreted fold).

    At 100 TB this replaces the old broadcast-index design (driver
    ``collect()`` + ~30 GB executor ceiling): pick ``index_shards`` so
    one shard's dense matrix fits a task (shard size ≈ N·d·8/S bytes)
    and ``query_chunks`` for parallelism; data movement is
    Q·S + I·Qc rows — the provably minimal replication for an exact
    all-pairs scan without a shared index.  Both replication factors
    are plan constants, so Catalyst sizes the shuffle correctly.

    Scoring mirrors the DuckDB oracle — ``dot / (norm_a · norm_b)``
    with float→double promotion before the multiply, then
    round_to(…, 6) AFTER the global rank — so value hashes match
    (matmul's blocked summation differs from a sequential fold only at
    ~1e-16, far inside the 1e-6 rounding grid; rank ties break on
    neighbor_id exactly like the oracle's ``ORDER BY c DESC,
    neighbor_id``).  The NaN→NULL corrupt-vector semantics are the
    kernel's (see ``_block_topk_fn``).
    """
    # The cogroup keys MUST have identical types on both sides:
    # pmod(bigint, int) is BIGINT while explode(sequence(int, int)) is
    # INT, and Spark's HashPartitioning hash is TYPE-SENSITIVE
    # (murmur3 of 2L != murmur3 of 2) — with mismatched key types the
    # two shuffles scatter equal keys to DIFFERENT partitions and
    # blocks silently never pair.  The bug is LATENT at small SF:
    # AQE coalesces small shuffles to few partitions where the
    # sort-merge still pairs them (all 16 blocks pair at sf0.01 —
    # driver-green), then detonates as data grows (6/16 blocks at
    # sf0.1, 0/16 at sf1 → zero output).  Found by the round-10
    # decade run; pinned by test_pipeline.
    # Each side projects the bucket alias FRESH from ``embs`` (a shared
    # aliased attribute on both cogroup sides trips the ambiguous-
    # self-join check).
    def keyed(*cols):
        b = [F.col(bucket).alias("__b")] if bucket else []
        return embs.select(*b, *cols, "vec_id", "embedding")

    qs = keyed(
        F.pmod("vec_id", F.lit(query_chunks)).cast("int").alias("qc"),
        F.explode(
            F.sequence(F.lit(0), F.lit(index_shards - 1))
        ).alias("shard"),
    )
    ix = keyed(
        F.explode(
            F.sequence(F.lit(0), F.lit(query_chunks - 1))
        ).alias("qc"),
        F.pmod("vec_id", F.lit(index_shards)).cast("int").alias("shard"),
    )
    keys = (["__b"] if bucket else []) + ["qc", "shard"]
    partial = (
        qs.groupBy(*keys)
        .cogroup(ix.groupBy(*keys))
        .applyInPandas(
            _block_topk_fn(k), schema="vec_id long, neighbor_id long, c double"
        )
    )
    return _rank_topk(partial, k)


# ---------------------------------------------------------------------------
# Multimodal decode stub (the one deliberate non-JVM operator)
# ---------------------------------------------------------------------------

MULTIMODAL_SCHEMA = (
    "doc_id long, modality string, n_bytes long, width long, height long, "
    "n_frames long"
)


def decode_multimodal(df: DataFrame) -> DataFrame:
    """Arrow-batched decode of opaque binary payloads via mapInPandas.

    STUB: the container has no image/audio codecs, so the decode is a
    deterministic fake — real deployments replace ``_fake_decode``
    with PIL/torchaudio/ffmpeg calls; the Spark-side contract (binary
    column in, typed metadata out, batch-at-a-time Arrow transfer,
    schema pinned by MULTIMODAL_SCHEMA) is the real, tested part.
    """

    def _decode(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            pdf = pdf[pdf["payload"].notna()]  # missing media: skip
            n_bytes = pdf["payload"].map(len)
            # _fake_decode: dimensions derived from payload size only.
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "modality": pdf["modality"],
                    "n_bytes": n_bytes,
                    "width": 64 + n_bytes % 577,
                    "height": 64 + (n_bytes * 31) % 353,
                    "n_frames": np.where(
                        pdf["modality"] == "video", 1 + n_bytes % 96, 1
                    ),
                }
            )

    return df.mapInPandas(_decode, schema=MULTIMODAL_SCHEMA)


FRAME_SCHEMA = (
    "doc_id long, modality string, frame_idx long, frame_offset long, "
    "frame_len long, frame_checksum long, resized_w long, resized_h long"
)


def sample_frames(df: DataFrame, stride: int = 7, box: int = 224) -> DataFrame:
    """Frame-sample + resize plumbing over opaque binary payloads.

    Input: ``(doc_id, modality, payload binary)``.  Each payload is
    treated as ``n_frames`` equal byte slices (the ``decode_multimodal``
    frame count: ``1 + n_bytes % 96`` for video, 1 otherwise); every
    ``stride``-th frame is emitted with its byte extent, a checksum of
    its bytes (the stand-in for "decode this frame"), and the
    aspect-preserving resize of the fake decode dims into a
    ``box``×``box`` budget.

    STUB boundary, same as ``decode_multimodal``: the per-frame
    checksum is where a real deployment calls ffmpeg/PIL per slice.
    The Spark contract is the real part — one input row fans out to a
    variable number of output rows through ``mapInPandas`` (an Arrow
    batch iterator may yield MORE rows than it receives), payload
    bytes never leave the executor, and the output is a flat typed
    frame table ready for a downstream feature join.  At 100 TB this
    is a map-only stage: no shuffle, scales with input splits.
    """

    def _sample(batches):
        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "modality", "frame_idx", "frame_offset",
                "frame_len", "frame_checksum", "resized_w", "resized_h",
            )}
            for doc_id, modality, payload in zip(
                pdf["doc_id"], pdf["modality"], pdf["payload"]
            ):
                if payload is None:  # missing media: skip
                    continue
                raw = np.frombuffer(payload, dtype=np.uint8)
                n_bytes = len(raw)
                n_frames = 1 + n_bytes % 96 if modality == "video" else 1
                w = 64 + n_bytes % 577
                h = 64 + (n_bytes * 31) % 353
                scale_den = max(w, h)
                rw = w * box // scale_den
                rh = h * box // scale_den
                for idx in range(0, n_frames, stride):
                    lo = idx * n_bytes // n_frames
                    hi = (idx + 1) * n_bytes // n_frames
                    out["doc_id"].append(doc_id)
                    out["modality"].append(modality)
                    out["frame_idx"].append(idx)
                    out["frame_offset"].append(lo)
                    out["frame_len"].append(hi - lo)
                    out["frame_checksum"].append(int(raw[lo:hi].sum()))
                    out["resized_w"].append(rw)
                    out["resized_h"].append(rh)
            yield pd.DataFrame(out)

    return df.mapInPandas(_sample, schema=FRAME_SCHEMA)


CHUNK_SCHEMA = (
    "doc_id long, chunk_idx long, chunk_off long, chunk_len long, "
    "checksum long, energy long, peak long"
)


def chunk_audio(df: DataFrame, chunk: int = 512) -> DataFrame:
    """Fixed-window chunking of opaque audio payloads: one row per
    ``chunk``-byte window with integer summary features (byte sum,
    sum of squares as an energy stand-in, peak byte).

    Input: ``(doc_id, payload binary)``.  STUB boundary, same as
    ``sample_frames``: the per-window features are where a real
    deployment calls a resampler / fbank / VAD kernel per window.
    The Spark contract is the real part — Arrow batch iterator, 1→N
    row fan-out, payload bytes stay on the executor, integer-only
    outputs so the cross-engine hash needs no float tolerance.  At
    100 TB this is a map-only stage: no shuffle, scales with input
    splits; the downstream groupBy(doc_id) consumers pay the only
    exchange.
    """

    def _chunks(batches):
        cols = (
            "doc_id", "chunk_idx", "chunk_off", "chunk_len",
            "checksum", "energy", "peak",
        )
        for pdf in batches:
            out = {k: [] for k in cols}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:  # missing media: skip
                    continue
                raw = np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
                n = len(raw)
                for ci, lo in enumerate(range(0, n, chunk)):
                    seg = raw[lo : lo + chunk]
                    out["doc_id"].append(doc_id)
                    out["chunk_idx"].append(ci)
                    out["chunk_off"].append(lo)
                    out["chunk_len"].append(len(seg))
                    out["checksum"].append(int(seg.sum()))
                    out["energy"].append(int((seg * seg).sum()))
                    out["peak"].append(int(seg.max()))
            yield pd.DataFrame(out)

    return df.mapInPandas(_chunks, schema=CHUNK_SCHEMA)


# ---------------------------------------------------------------------------
# Near-duplicate cluster canonicalization (connected components)
# ---------------------------------------------------------------------------


def connected_components(pairs: DataFrame) -> DataFrame:
    """Component labels over an undirected pair graph: ``(id, comp)``
    where ``comp`` is the minimum node id reachable from ``id``.

    Pair lists are only half the dedup story: a keep/drop decision
    needs CLUSTERS (doc A~B, B~C ⇒ {A,B,C} is one group keeping one
    canonical member), so this closes the pipeline from near-dup pairs
    to a per-document verdict.

    Algorithm: alternating large-star/small-star rounds (Kiveris et
    al., "Connected Components in MapReduce and Beyond").  Each
    iteration rewrites the edge set toward a star per component —
    large-star hangs every node's strictly-larger neighbors off the
    neighborhood minimum (collapsing long paths), small-star re-hangs
    the smaller neighbors — converging in O(log n) iterations on ANY
    graph shape (min-label propagation needs O(diameter), which a
    pathological chain makes linear).  Near-dup clusters are dense, so
     1-2 iterations suffice in practice; the worst case is still
    logarithmic.  Each half-round is one groupBy + one equi-join on
    the EDGE set — never all-pairs, never a driver-side graph.

    Lineage cuts (``session.lineage_cut``): the edge set is cut at
    entry and every round, so round N reads a constant-depth plan
    instead of nesting all N-1 predecessors.  On a deployment with a
    checkpoint dir the cut is a reliable checkpoint, so an executor
    loss recomputes at most one star round, never the iteration
    history.

    The convergence probe fuses into the per-round dedup aggregation:
    one groupBy answers "did the edge set change" AND materializes the
    next round's input, and the answer is read from an ``Observation``
    filled by that materializing action — one action per round total.
    """
    from pyspark.sql import Observation

    cut = lineage_cut(pairs.sparkSession)
    u, v, m = F.col("u"), F.col("v"), F.col("m")
    # Orient every pair large→small; the loop invariant is u > v.
    edges = cut(
        pairs.filter(F.col("a_id") != F.col("b_id"))
        .select(
            F.greatest("a_id", "b_id").alias("u"),
            F.least("a_id", "b_id").alias("v"),
        )
        .distinct()
    )
    from pyspark.sql import Window

    # Per-round cost shape (the round-13 optimization): ONE action and
    # three exchanges.  The old loop's two-branch small-star union made
    # Catalyst recompute BOTH window passes per branch (no common-
    # subtree sharing), its distinct was a separate exchange, and the
    # symmetric-difference convergence probe was a second job per
    # round on top of the checkpoint-write jobs — ~7 exchanges and 2-3
    # jobs per round of fixed overhead on an edge set that is tiny
    # next to the corpus.  Now the small-star emit is one per-row
    # explode (single subtree), and dedup + convergence fuse into one
    # groupBy whose materializing action also fills the convergence
    # Observation.
    while True:
        # Large-star: over the symmetric neighborhood N(x), hang every
        # neighbor y > x off m(x) = min(N(x) ∪ {x}).  One window over
        # the center key instead of a groupBy+self-join — half the
        # shuffles per half-round; m(x) = least(min over N(x), x).
        sym = edges.select("u", "v").unionAll(
            edges.select(v.alias("u"), u.alias("v"))
        )
        wu = Window.partitionBy("u")
        large = (
            sym.withColumn("m", F.least(F.min("v").over(wu), u))
            .filter(v > u)
            .select(v.alias("u"), m.alias("v"))
        )
        # Small-star: over the smaller-neighbor set Γ⁻(x) (edges are
        # oriented, so that is just x's out-edges), re-hang x and every
        # smaller neighbor off m(x) = min(Γ⁻(x)).  Emit as ONE per-row
        # explode — (v, m) when v≠m plus always (u, m) — exactly the
        # old two-branch union's multiset, without re-running the
        # window subtree once per branch.
        sm = large.withColumn("m", F.min("v").over(wu))
        emit = sm.select(
            F.explode(
                F.when(
                    v != m,
                    F.array(
                        F.struct(v.alias("u"), m.alias("v")),
                        F.struct(u.alias("u"), m.alias("v")),
                    ),
                ).otherwise(F.array(F.struct(u.alias("u"), m.alias("v"))))
            ).alias("e")
        ).select("e.u", "e.v")
        # Dedup AND convergence in one aggregation: a (u,v) key sits in
        # the new multiset iff some row carries is_new=1 and in the old
        # set iff some row carries 0, so the symmetric difference is
        # nonempty iff any group is single-sided (min == max).
        grouped = emit.withColumn("is_new", F.lit(1)).unionAll(
            edges.select("u", "v").withColumn("is_new", F.lit(0))
        ).groupBy("u", "v").agg(
            F.min("is_new").alias("mn"), F.max("is_new").alias("mx")
        )
        # Materialize AND truncate the logical plan every round.  With
        # persist-only anchoring, round N's LOGICAL plan still nests
        # all N-1 predecessors, so Catalyst/AQE re-analyze a growing
        # tree each round and no generated class is ever reused —
        # measured 2.1→3.8 s/round on a 256-edge set, vs ~0.55 s
        # steady-state once every round reads a constant-depth
        # LogicalRDD and hits the codegen cache (round 1 pays the one
        # compile).  The convergence count rides on that same action
        # through an Observation: no separate aggregate job per round.
        seen = Observation()
        grouped = grouped.observe(
            seen, F.sum((F.col("mn") == F.col("mx")).cast("int")).alias("d")
        )
        grouped = cut(grouped)
        changed = seen.get["d"]
        edges = grouped.filter(F.col("mx") == 1).select("u", "v")
        if not changed:
            break
    # Cut blocks (or checkpoint files) of earlier rounds are freed by
    # the ContextCleaner once their frames are collected.
    # At the fixpoint the edge set is a star per component (u → root).
    return edges.select(u.alias("id"), v.alias("comp")).unionAll(
        edges.select(v.alias("id"), v.alias("comp")).distinct()
    )


def near_dup_canonical(
    docs: DataFrame, k: int = 3, threshold: float = JACCARD_THRESHOLD
) -> DataFrame:
    """Per-document dedup verdict: ``(doc_id, canonical_id, keep)``.

    Builds the exact n-gram-Jaccard pair graph (``ngram_jaccard_pairs``
    — prefix-filtered, complete), labels its connected components, and
    elects the minimum doc_id of each cluster canonical.  Documents in
    no near-dup pair are their own canonical.  ``keep`` is the final
    training-set filter: exactly one document survives per cluster.
    """
    pairs = ngram_jaccard_pairs(docs, k=k, threshold=threshold)
    comp = connected_components(pairs)
    return (
        docs.select("doc_id")
        .join(comp, docs.doc_id == comp.id, "left")
        .select(
            "doc_id",
            F.coalesce("comp", "doc_id").alias("canonical_id"),
        )
        .withColumn("keep", F.col("doc_id") == F.col("canonical_id"))
    )


# ---------------------------------------------------------------------------
# Embedding maintenance: normalization & quantization
# ---------------------------------------------------------------------------


def kmeans_quantized(
    embs: DataFrame, k: int = 8, iters: int = 2
) -> DataFrame:
    """Lloyd's k-means over integer-quantized embeddings:
    ``(vec_id, cluster, dist_q)`` after ``iters`` update rounds from a
    deterministic init (the first ``k`` vectors).

    Exactness is the point: components are quantized to micro-unit
    BIGINTs (``floor(x·1e6)``) up front, so every distance is an
    integer sum (order-free — no float addition-order drift across
    partitionings or engines), argmin ties break on cluster id, and
    centroid updates use ``floor(Σ/n)`` integer means.  The whole
    trajectory is therefore bit-reproducible and a SQL oracle can
    replay it — the usual float k-means can't cross an engine
    boundary.  Production IVF (sim_ann_ivf) swaps its first-k
    codebook for these trained centroids without changing its plan.

    Scale shape per iteration (``_pq_train``): assignment + partial
    cell sums are ONE map-only vectorized Arrow pass over the cached
    corpus; the round's only exchange carries k×d partial cells per
    map partition — never vectors; the codebook rebuild is a
    model-sized (k×d) driver collect, MLlib KMeans' own shape.  Empty
    clusters keep their previous centroid.  ``iters`` is small and
    fixed, so the lineage stays shallow; a long-running trainer would
    cut lineage per round like connected_components.
    """
    # Fan-out parallelism guard (same as the deployment-IVFPQ stack):
    # every round's scoring is a map-side pass over THIS frame, so a
    # one-split toy scan would serialize the N·k work onto one core;
    # results are partitioning-independent by construction (integer
    # sums are order-free, ranks tie-break on ids), and spread() is a
    # no-op whenever the scan is already split.
    return kmeans_probe_assign(spread(embs), k, iters, nprobe=1).select(
        "vec_id", F.col("cent_id").alias("cluster"), "dist_q"
    )


def _kmeans_quantize_valid(embs: DataFrame) -> DataFrame:
    """Micro-unit quantized ``(vec_id, qv)`` over VALID vectors only
    (finite_vec): a NaN component would abort the micro-unit
    quantization under ANSI, and an Inf would overflow the integer
    distance — and even a non-crashing float trainer would silently
    smear one corrupt row across every centroid it touches (the
    nanvec find).  Corrupt vectors simply receive no cluster; oracles
    mirror the predicate."""
    return embs.filter(finite_vec("embedding")).select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.floor(x.cast("double") * 1e6).cast("long")
        ).alias("qv"),
    )


def _np_codebook(rows) -> tuple:
    """``(ids, mat)`` int64 arrays from ``(cent_id, cvec)`` rows,
    sorted ascending by cent_id.

    The ascending sort is load-bearing: every argmin/rank below ties
    on the LOWEST cent_id by taking the FIRST minimum position
    (``np.argmin`` / stable ``np.argsort``), which reproduces the
    engine's historical ``ORDER BY dist, cent_id`` semantics (and the
    DuckDB oracles') bit-for-bit."""
    import numpy as np

    srows = sorted((int(r[0]), list(r[1])) for r in rows)
    if not srows:
        return np.empty(0, np.int64), np.empty((0, 0), np.int64)
    ids = np.array([cid for cid, _ in srows], dtype=np.int64)
    mat = np.array([cv for _, cv in srows], dtype=np.int64)
    return ids, mat


def _np_sq_dists(Q, C):
    """Exact integer squared-L2 distances (n×k) via the expansion
    identity ``|q-c|² = |q|² + |c|² - 2q·c`` — int64 end to end (numpy
    integer matmul is exact), so the values equal the per-component
    fold at any magnitude below int64 overflow.  Micro-unit quantized
    components are ~1e6-1e7, so per-pair dot products are ≤ ~1e16 —
    two orders of magnitude inside int64 (the same headroom the
    previous JVM ``long`` fold had)."""
    import numpy as np

    Q = np.ascontiguousarray(Q)
    q2 = (Q * Q).sum(axis=1, dtype=np.int64)
    c2 = (C * C).sum(axis=1, dtype=np.int64)
    return q2[:, None] + c2[None, :] - 2 * (Q @ C.T)


def _pq_train(q: DataFrame, spec: list) -> list:
    """Fused Lloyd's trainer over pre-quantized vectors: trains ONE
    integer-exact codebook per ``spec`` entry ``(lo, hi, k, iters)``
    (a column slice of ``qv``; ``hi=None`` means full width) in a
    SINGLE loop, and returns ``[(ids, mat), ...]`` numpy codebooks.

    Per round the plan is MLlib KMeans' exact shape (guide §4.2,
    §2.3): one map-only Arrow pass over the cached corpus computes
    every slice's assignments AND the per-partition partial cell sums
    in vectorized numpy (the N·k·d work that interpreted Catalyst
    higher-order functions made the dominant cost of the K=256
    deployment stacks), one map-combinable exchange carries only
    partials (≤ partitions × Σ k_m×d_m narrow rows — never vectors),
    and one MODEL-sized collect (Σ k_m×d_m cells — the same payload
    every previous shape already broadcast as the codebook) rebuilds
    the codebooks on the driver, exactly like MLlib's per-round
    ``collect`` of cluster sums.  ``q`` is persisted: each round is
    one pass over the cached corpus instead of re-running
    scan+quantize+spread per round (MLlib warns on uncached Lloyd
    input for the same reason).

    Exactness contract (pinned by
    ``test_kmeans_quantized_matches_python_replay`` and every DuckDB
    oracle over this family): init is the ``vec_id < k`` rows;
    distances are exact int64; argmin ties take the lowest cent_id;
    the centroid update is ``floor(float64(sum)/count)`` — float64
    division, NOT exact integer floor-division, matching both the
    previous Spark ``floor(sum(val)/count(*))`` and the oracles'
    ``floor(sum/cnt)``; empty cells keep their previous centroid.
    Integer sums are order-free, so the trajectory is
    partitioning-invariant."""
    import numpy as np

    q = q.persist()
    max_k = max(k for (_, _, k, _) in spec)
    init = (
        q.filter(F.col("vec_id") < max_k).select("vec_id", "qv").collect()
    )
    cbs = []
    for lo, hi, k, _ in spec:
        rows = [
            (int(r["vec_id"]), list(r["qv"])[lo:hi])
            for r in init
            if int(r["vec_id"]) < k
        ]
        cbs.append(_np_codebook(rows))

    slices = [(lo, hi) for (lo, hi, _, _) in spec]
    max_iters = max(it for (_, _, _, it) in spec)
    sc = q.sparkSession.sparkContext

    for rnd in range(max_iters):
        live = [m for m, (_, _, _, it) in enumerate(spec) if rnd < it]
        bc = sc.broadcast([(m, slices[m], cbs[m]) for m in live])

        def _partials(it_pdf, _bc=bc):
            import numpy as np
            import pandas as pd

            parts = _bc.value
            S = [np.zeros(cb[1].shape, np.int64) for (_, _, cb) in parts]
            N = [
                np.zeros(cb[1].shape[0], np.int64) for (_, _, cb) in parts
            ]
            for pdf in it_pdf:
                if not len(pdf):
                    continue
                Q = np.array(pdf["qv"].to_list(), dtype=np.int64)
                for i, (_, (lo, hi), (ids, C)) in enumerate(parts):
                    if len(ids) == 0:
                        continue
                    Qm = Q[:, lo:hi]
                    am = _np_sq_dists(Qm, C).argmin(axis=1)
                    np.add.at(S[i], am, Qm)
                    N[i] += np.bincount(am, minlength=len(ids))
            ms, cis, poss, ss, ns = [], [], [], [], []
            for i, (m, _, (ids, _)) in enumerate(parts):
                d_m = S[i].shape[1]
                for j in np.nonzero(N[i])[0]:
                    ms.append(np.full(d_m, m, np.int32))
                    cis.append(np.full(d_m, ids[j], np.int64))
                    poss.append(np.arange(d_m, dtype=np.int32))
                    ss.append(S[i][j])
                    ns.append(np.full(d_m, N[i][j], np.int64))
            if ms:
                yield pd.DataFrame(
                    {
                        "m": np.concatenate(ms),
                        "ci": np.concatenate(cis),
                        "pos": np.concatenate(poss),
                        "s": np.concatenate(ss),
                        "n": np.concatenate(ns),
                    }
                )

        try:
            agg = (
                q.select("qv")
                .mapInPandas(
                    _partials, "m int, ci long, pos int, s long, n long"
                )
                .groupBy("m", "ci", "pos")
                .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
                .collect()
            )
        finally:
            # The round's codebook broadcast is only read inside this
            # round's collect — destroy it now so a long-running
            # trainer / repeated bench reps don't accumulate one
            # executor-resident broadcast per round (r13 ADVICE).  The
            # `q` persist intentionally stays: every caller feeds the
            # SAME cached frame to the assignment/LUT passes right
            # after training (one pass each instead of re-running
            # scan+quantize), and it is released by the session's
            # clearCache / ContextCleaner like every other
            # intermediate.  The `_pq_assign`/`_pq_lut_codes`
            # broadcasts cannot be eagerly destroyed: their frames are
            # lazy and may be consumed more than once; ContextCleaner
            # reclaims them when the plan is garbage-collected.
            bc.destroy()
        cells: dict = {}
        for r in agg:
            cells.setdefault((r["m"], r["ci"]), {})[r["pos"]] = (
                r["s"],
                r["n"],
            )
        for m in live:
            ids, C = cbs[m]
            if len(ids) == 0:
                continue
            C2 = C.copy()
            for j, cid in enumerate(ids):
                cell = cells.get((m, int(cid)))
                if cell is None:
                    continue  # empty cell keeps its previous centroid
                s = np.array(
                    [cell[p][0] for p in range(C.shape[1])], dtype=np.int64
                )
                n = cell[0][1]
                C2[j] = np.floor(
                    s.astype(np.float64) / np.float64(n)
                ).astype(np.int64)
            cbs[m] = (ids, C2)
    return cbs


def _pq_assign(
    q: DataFrame, cbs: list, spec: list, with_subspace: bool = False
) -> DataFrame:
    """MAP-ONLY multi-slice assignment: for every vector and every
    ``spec`` entry ``(m, lo, hi, nprobe)``, the ``nprobe`` nearest
    codebook cells of the matching ``cbs`` entry as ``(vec_id[,
    subspace], cent_id, dist, probe_rank)`` — one vectorized Arrow
    pass, no fan-out, no window, no exchange, no join-back (guide
    §4.2; ranks via stable argsort over cent_id-sorted codebooks, so
    ties reproduce the historical ``ORDER BY dist, cent_id``)."""
    sc = q.sparkSession.sparkContext
    bc = sc.broadcast(
        [(m, lo, hi, p, cbs[i]) for i, (m, lo, hi, p) in enumerate(spec)]
    )

    def _assign(it_pdf, _bc=bc):
        import numpy as np
        import pandas as pd

        parts = _bc.value
        for pdf in it_pdf:
            if not len(pdf):
                continue
            Q = np.array(pdf["qv"].to_list(), dtype=np.int64)
            vids = pdf["vec_id"].to_numpy(dtype=np.int64)
            n = len(vids)
            frames = []
            for m, lo, hi, nprobe, (ids, C) in parts:
                k = len(ids)
                if k == 0:
                    continue
                d = _np_sq_dists(Q[:, lo:hi], C)
                p = min(nprobe, k)
                order = np.argsort(d, axis=1, kind="stable")[:, :p]
                frames.append(
                    pd.DataFrame(
                        {
                            "vec_id": np.repeat(vids, p),
                            "subspace": np.full(n * p, m, np.int64),
                            "cent_id": ids[order].ravel(),
                            "dist": np.take_along_axis(
                                d, order, axis=1
                            ).ravel(),
                            "probe_rank": np.tile(
                                np.arange(1, p + 1, dtype=np.int32), n
                            ),
                        }
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    out = q.select("vec_id", "qv").mapInPandas(
        _assign,
        "vec_id long, subspace long, cent_id long, dist long, "
        "probe_rank int",
    )
    return out if with_subspace else out.drop("subspace")


def _pq_lut_codes(q: DataFrame, cbs: list, slices: list) -> DataFrame:
    """Per-vector ADC lookup tables and codes in ONE map-only Arrow
    pass: ``(vec_id, codes array<long>, luts array<array<long>>)``
    where ``luts[m][j]`` is the exact integer distance of the vector's
    ``m``-th subvector to the ``j``-th centroid of ``cbs[m]`` in
    cent_id-sorted (dense-position) order, and ``codes[m]`` is the
    dense position of its argmin (first-minimum = lowest cent_id on
    ties, the historical tie-break).

    This row shape is the production ADC contract: a query carries
    its M×K LUT once, a candidate carries M one-byte-class codes, and
    scoring a pair is M array lookups — no K-fan-out rows, no
    (vec_id, subspace, code) join, no per-pair groupBy (guide §8:
    shuffle keys and metadata, attach the heavy LUT exactly once)."""
    sc = q.sparkSession.sparkContext
    bc = sc.broadcast(list(zip(slices, cbs)))

    def _lut(it_pdf, _bc=bc):
        import numpy as np
        import pandas as pd

        parts = _bc.value
        if any(len(ids) == 0 for _, (ids, _) in parts):
            # empty codebooks (empty corpus / no vec_id<k rows) carry
            # no distances: emit nothing, matching the historical
            # empty-LUT row set
            return
        for pdf in it_pdf:
            if not len(pdf):
                continue
            Q = np.array(pdf["qv"].to_list(), dtype=np.int64)
            vids = pdf["vec_id"].to_numpy(dtype=np.int64)
            dists = []
            codes = []
            for (lo, hi), (ids, C) in parts:
                d = _np_sq_dists(Q[:, lo:hi], C)
                dists.append(d)
                codes.append(d.argmin(axis=1))
            code_mat = np.stack(codes, axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": vids,
                    "codes": [row.tolist() for row in code_mat],
                    "luts": [
                        [d[i].tolist() for d in dists]
                        for i in range(len(vids))
                    ],
                }
            )

    return q.select("vec_id", "qv").mapInPandas(
        _lut, "vec_id long, codes array<long>, luts array<array<long>>"
    )


def kmeans_probe_assign(
    embs: DataFrame, k: int = 8, iters: int = 2, nprobe: int = 2
) -> DataFrame:
    """IVF MULTIPROBE assignment: each valid vector's ``nprobe``
    nearest trained cells as ``(vec_id, cent_id, probe_rank,
    dist_q)`` — ``nprobe`` rows per vector.

    This is the standard IVF recall dial: candidates generated within
    ANY shared probed cell recover most near-dup pairs that straddle
    a single-cell boundary (the documented recall caveat of
    ``dedup_embedding_cluster_ivf``), at ``nprobe×`` the candidate
    mass — still Σ|cell|²-bounded, never all-pairs.
    ``kmeans_quantized`` is its ``nprobe=1`` view, so the trainer,
    init, quantization, and tie-breaks are shared and a SQL oracle
    replays it with one extra rank bound."""
    q = _kmeans_quantize_valid(embs)
    cbs = _pq_train(q, [(0, None, k, iters)])
    return _pq_assign(q, cbs, [(0, 0, None, nprobe)]).select(
        "vec_id",
        "cent_id",
        "probe_rank",
        F.col("dist").alias("dist_q"),
    )


def l2_normalize(embs: DataFrame) -> DataFrame:
    """Unit-norm embeddings: ``(vec_id, unit, norm)``.

    Cosine similarity over pre-normalized vectors degrades to a plain
    dot product — at 100 TB that halves the FLOPs of every ANN scan
    and lets the index store unit vectors once instead of
    re-normalizing per query.  Pure JVM higher-order expressions
    (left-fold sum of squares, element-wise divide) — codegen'd, no
    Python, no shuffle; zero vectors yield NULL (guarded divide).
    """
    x = F.transform("embedding", lambda v: v.cast("double"))
    ss = F.aggregate(
        x, F.lit(0.0), lambda acc, v: acc + v * v
    )
    norm = F.sqrt(ss)
    # finite-positive guard: zero vectors AND corrupt ones (NaN norm
    # compares false; an Inf norm would send Inf/Inf=NaN into the
    # downstream int serialization — ANSI abort, the nanvec find)
    safe = F.when((norm > 0) & (norm < F.lit(float("inf"))), norm)
    # round_to, never F.round: the engine round() implementations
    # diverge on binary-representation edge cases (functions.py:165 —
    # the repo-wide rule for every double the oracle harness hashes).
    return embs.select(
        "vec_id",
        F.transform(x, lambda v: E.round_to(v / safe, 6)).alias("unit"),
        E.round_to(norm, 6).alias("norm"),
    )


def quantize_int8(embs: DataFrame) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``(vec_id, q, scale)``.

    ``q_i = floor(x_i / max|x| * 127 + 0.5)``, ``scale = max|x| / 127``
    (reconstruction ``x ≈ q * scale``).  4× memory/IO reduction on the
    embedding column — the difference between an ANN index that fits
    executor memory and one that spills.  No clamp is needed:
    ``x/max|x| ∈ [-1, 1]`` exactly, and ``floor(±127 + 0.5)`` already
    lands in [-127, 127].  ``floor(… + 0.5)`` (half-toward-+inf) is
    used instead of engine ``round`` because both Spark and DuckDB
    evaluate it bit-identically; engine round() tie conventions
    differ.  Zero vectors yield NULL elements and NULL scale.
    """
    x = F.transform("embedding", lambda v: v.cast("double"))
    maxabs = F.array_max(F.transform(x, F.abs))
    # finite-positive guard (see l2_normalize): NaN/Inf max|x| must
    # NULL the whole quantization, not crash the int8 cast
    safe = F.when((maxabs > 0) & (maxabs < F.lit(float("inf"))), maxabs)
    q = F.transform(
        x,
        lambda v: F.floor(v / safe * 127 + F.lit(0.5)).cast("int"),
    )
    return embs.select(
        "vec_id",
        q.alias("q"),
        E.round_to(safe / 127, 9).alias("scale"),
    )


# ---------------------------------------------------------------------------
# Deterministic mixture sampling
# ---------------------------------------------------------------------------


def stratified_sample(docs: DataFrame, rates: dict[str, int]) -> DataFrame:
    """Reproducible per-language mixture sampling: keep a document iff
    ``md5(doc_id) mod 100 < rates[lang]`` (percent).

    This is how a training mix is weighted across languages/sources:
    the keep decision is a pure function of the row (no RNG state, no
    ``rand()``), so it is stable across retries, executors, partition
    layouts, and engines — resampling the same corpus twice yields the
    same training set, and upstream/downstream joins on ``doc_id``
    stay consistent.  ``sample()``/``rand()`` cannot promise any of
    that.  Languages absent from ``rates`` are dropped (rate 0).
    Fully pushdown-friendly: the predicate is a scan-level filter.
    """
    bucket = F.pmod(md5_long(F.col("doc_id").cast("string")), F.lit(100))
    rate = None
    for lang, pct in rates.items():
        cond = F.col("lang") == lang
        rate = F.when(cond, pct) if rate is None else rate.when(cond, pct)
    rate = rate.otherwise(0) if rate is not None else F.lit(0)
    return docs.withColumn("_bucket", bucket).filter(
        F.col("_bucket") < rate
    ).drop("_bucket")


# ---------------------------------------------------------------------------
# Random-hyperplane LSH bucketing (sign-random-projection ANN)
# ---------------------------------------------------------------------------


def _lsh_signs(nbits: int, dim: int) -> list[list[float]]:
    """Deterministic ±1 hyperplane matrix derived from md5 so the
    DuckDB oracle reproduces the identical planes (no RNG state)."""
    import hashlib

    return [
        [
            1.0
            if int(
                hashlib.md5(f"{j}-{i}".encode()).hexdigest()[:15], 16
            )
            & 1
            else -1.0
            for i in range(dim)
        ]
        for j in range(nbits)
    ]


def lsh_bucket(embs: DataFrame, nbits: int = 16, dim: int = 64) -> DataFrame:
    """Sign-random-projection bucket per vector: bit j of the bucket is
    ``dot(v, h_j) > 0`` for md5-derived ±1 hyperplanes ``h_j``.

    The SimHash-for-vectors construction: cosine-similar vectors agree
    on each bit with probability ``1 − θ/π``, so near neighbors
    collide in a bucket with high probability and the ANN search
    shuffles on a 64-bit key — same plan shape as IVF but without a
    centroid fit, which makes it the drop-in when no training pass is
    wanted.  Every dot is the same left-fold ``zip_with`` the cosine
    oracle parity relies on, so buckets are engine-reproducible
    bit-for-bit (a bit could only diverge if some dot were within one
    double ulp of 0).

    The column is one SQL text (one Py4J call) rather than
    ``nbits × dim`` ``F.lit`` calls.  Its literals are ``D``-suffixed:
    a bare ``1.0`` in Spark SQL is DECIMAL, and the planes and the
    fold's zero must stay DOUBLE like ``_dot_double``'s.
    """
    signs = _lsh_signs(nbits, dim)
    bits = []
    for j in range(nbits):
        plane = ", ".join(f"{s:.1f}D" for s in signs[j])
        dot = (
            f"aggregate(zip_with(embedding, array({plane}), "
            "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            "0.0D, (acc, v) -> acc + v)"
        )
        bits.append(f"CASE WHEN {dot} > 0 THEN {1 << j}L ELSE 0L END")
    # Dim guard: a vector whose length differs from the plane width
    # would zip_with NULL pads → NULL dots → every bit's ELSE 0
    # branch → ALL mismatched vectors silently colliding in bucket 0,
    # turning the downstream bucket join into one hot all-pairs
    # partition.  NULL bucket instead: mismatched vectors drop out of
    # the equi join (NULL keys never match) rather than degrade it.
    bucket = f"CASE WHEN size(embedding) = {dim} THEN 0L + {' + '.join(bits)} END"
    return embs.withColumn("bucket", F.expr(bucket))


def spread(df) -> "DataFrame":
    """Round-robin repartition to the session's parallelism when the
    input arrives in fewer splits than cores.

    A small parquet file is one split, so a CPU-heavy per-row stage
    (shingle HOFs, winnowing signatures) would otherwise run on ONE
    core regardless of cluster size.  On a real corpus the scan
    already yields many splits and this is a no-op — the guard makes
    the shuffle exist only when it pays for itself (the same policy
    as the Arrow-kernel paths at minhash_signatures/ngram_sets).
    """
    n_cores = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < n_cores:
        return df.repartition(n_cores)
    return df


PACK_SCHEMA = "doc_id long, shard long, bin_idx long, n_tokens long"


def ffd_pack(
    docs: DataFrame, capacity: int = 256, shards: int = 8
) -> DataFrame:
    """First-fit-decreasing sequence packing: assign each document to
    a training bin of at most ``capacity`` tokens, minimizing wasted
    bin space — the batch-construction step before writing packed
    training shards (FFD is the standard heuristic: ≤ 11/9·OPT + 1
    bins).

    FFD is inherently sequential, so it cannot be a window expression
    (pack_token_budget's running-sum NEXT-fit can; first-fit backtracks
    into earlier bins).  The engine shape: documents are hashed into
    ``shards`` deterministic buckets (even md5 split — each shard's
    token mass is ~total/shards), and ``applyInPandas`` runs the exact
    greedy per shard: sort by (tokens desc, doc_id), place each doc
    into the first bin with room, open a new bin otherwise.  At 100 TB
    the sequential region is one shard — sized by the shard count, not
    the corpus — and shards pack concurrently; the output is
    deterministic for any input partitioning (hash shard + stable
    sort), which the tests pin by re-running under a different
    partition count.
    """

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["n_tokens", "doc_id"], ascending=[False, True]
        )
        space: list[int] = []  # remaining capacity per open bin
        out = []
        for doc_id, shard, n in zip(
            pdf["doc_id"], pdf["shard"], pdf["n_tokens"]
        ):
            placed = None
            for i, free in enumerate(space):
                if n <= free:
                    placed, space[i] = i, free - n
                    break
            if placed is None:
                placed = len(space)
                # an oversized doc gets its own (over-full) bin
                space.append(max(capacity - n, 0))
            out.append((int(doc_id), int(shard), placed, int(n)))
        return pd.DataFrame(
            out, columns=["doc_id", "shard", "bin_idx", "n_tokens"]
        )

    sized = docs.select(
        "doc_id",
        (md5_long(F.col("doc_id").cast("string")) % shards).alias("shard"),
        # null text == zero tokens (empty-input-safe weight)
        F.coalesce(
            F.size(ws_tokens(F.col("text"))).cast("long"), F.lit(0)
        ).alias("n_tokens"),
    )
    return sized.groupBy("shard").applyInPandas(_pack, schema=PACK_SCHEMA)


COMPRESS_SCHEMA = (
    "doc_id long, n_bytes long, n_compressed long, ratio_q4 long"
)


def compression_ratio(docs: DataFrame, level: int = 6) -> DataFrame:
    """zlib compressibility per document — the classic cheap quality
    signal (C4/Gopher lineage): highly compressible text is
    boilerplate/repetition, incompressible text is noise/binary
    junk; the keep-band sits in the middle.  Arrow-batched kernel
    (zlib is stdlib, level pinned for determinism); ratio is reported
    as an integer in 1e-4 units so downstream thresholds and the test
    replay are exact.  Map-only — scales with input splits.
    """

    def _ratios(batches):
        import zlib

        for pdf in batches:
            raw = [t.encode("utf-8") for t in pdf["text"].fillna("")]
            comp = [len(zlib.compress(b, level)) for b in raw]
            n = [len(b) for b in raw]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": n,
                    "n_compressed": comp,
                    "ratio_q4": [
                        (c * 10000) // b if b else 0
                        for c, b in zip(comp, n)
                    ],
                }
            )

    return docs.select("doc_id", "text").mapInPandas(
        _ratios, schema=COMPRESS_SCHEMA
    )


def minhash_lsh_pairs_incremental(
    new_docs: DataFrame, index_docs: DataFrame
) -> DataFrame:
    """Incremental near-dup detection: candidates are generated ONLY
    between the new batch and the existing corpus index — the daily
    ingestion shape, where history is never re-deduped against itself
    (that was yesterday's job) and the per-day cost is
    O(batch × collision rate), independent of corpus age.

    Output: ``(new_id, match_id, jaccard)`` for every new doc whose
    Jaccard with an indexed doc reaches the threshold.  Same kernel,
    banding, and exact-verify contract as ``minhash_lsh_pairs``; at
    warehouse scale the index side's band table is a MATERIALIZED
    table keyed by band hash that each day's batch shuffles against —
    here both sides derive from their input frames directly.

    Cache ownership: both shingle tables stay persisted after the
    lazy result is returned (they back two consumers each — the band
    join and the exact-verify join — and unpersisting before the
    caller's action would recompute the Arrow kernel).  The caller
    owns cleanup via ``spark.catalog.clearCache()`` between queries —
    the same ownership rule as sim_ann_lsh / dedup_containment; the
    bench/sweep/verify harnesses all do this.
    """
    sh_new, sh_idx = _shingle_frame(new_docs), _shingle_frame(index_docs)
    a = _lsh_bands(sh_new).withColumnRenamed("doc_id", "a_id")
    b = _lsh_bands(sh_idx).withColumnRenamed("doc_id", "b_id")
    candidates = a.join(b, _BAND_KEYS).select("a_id", "b_id").distinct()
    pairs = _verify_jaccard(candidates, sh_new, sh_idx, JACCARD_THRESHOLD)
    return pairs.select(
        F.col("a_id").alias("new_id"), F.col("b_id").alias("match_id"), "jaccard"
    )
