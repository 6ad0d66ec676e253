"""Property tests for the round-8 curation operators (queries/curation.py).

Planted-truth tests build tiny purpose-made corpora (disjoint
per-document vocabularies so no accidental gram collisions); the
distribution-level properties run on the driver corpus at sf0.001.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from getdbt_spark.queries import QUERIES, load_all

SF = "/root/testdata/sf0.001"

load_all()


def _write_docs(spark, tmp_path_factory, name, texts, langs=None):
    out = str(tmp_path_factory.mktemp(name))
    langs = langs or ["en"] * len(texts)
    rows = [
        (i, t, langs[i], f"src{i % 3}", len(t))
        for i, t in enumerate(texts)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{out}/documents.parquet")
    return out


def test_substring_spans_planted_duplicate(spark, tmp_path_factory):
    """A 12-token span shared by exactly two docs must surface in both
    with the exact extent (k=8 anchoring covers spans >= k fully),
    and an all-unique doc must report zero coverage."""
    shared = " ".join(f"s{i}" for i in range(12))
    a = " ".join(f"a{i}" for i in range(20))
    b = " ".join(f"b{i}" for i in range(20))
    c = " ".join(f"c{i}" for i in range(20))
    d = " ".join(f"d{i}" for i in range(20))
    e = " ".join(f"e{i}" for i in range(40))
    sf = _write_docs(
        spark,
        tmp_path_factory,
        "span_sf",
        [f"{a} {shared} {b}", f"{c} {shared} {d}", e],
    )
    rows = {
        r["doc_id"]: r
        for r in QUERIES["dedup_substring_spans"](spark, sf).collect()
    }
    for doc in (0, 1):
        assert rows[doc]["n_dup_spans"] == 1
        assert rows[doc]["dup_tokens"] == 12
        assert rows[doc]["n_tokens"] == 52
    assert rows[2]["n_dup_spans"] == 0
    assert rows[2]["dup_tokens"] == 0
    assert rows[2]["dup_fraction"] == 0.0


def test_substring_spans_identical_docs_fully_covered(spark, tmp_path_factory):
    text = " ".join(f"w{i}" for i in range(30))
    sf = _write_docs(spark, tmp_path_factory, "dupdoc_sf", [text, text])
    for r in QUERIES["dedup_substring_spans"](spark, sf).collect():
        assert r["dup_tokens"] == 30
        assert r["dup_fraction"] == 1.0
        assert r["n_dup_spans"] == 1


def test_substring_spans_below_k_invisible(spark, tmp_path_factory):
    """A shared run shorter than SPAN_K tokens anchors no k-gram and
    must not count — the operator's documented resolution floor."""
    shared = " ".join(f"s{i}" for i in range(7))  # k-1 tokens
    a = " ".join(f"a{i}" for i in range(15))
    b = " ".join(f"b{i}" for i in range(15))
    sf = _write_docs(
        spark, tmp_path_factory, "short_sf", [f"{a} {shared}", f"{b} {shared}"]
    )
    for r in QUERIES["dedup_substring_spans"](spark, sf).collect():
        assert r["n_dup_spans"] == 0


def test_dsir_upweights_target_distribution(spark, tmp_path_factory):
    """Docs drawn from the target (en) vocabulary must score a higher
    importance weight than docs from a disjoint non-target vocab."""
    en = [" ".join(f"t{i % 30}" for i in range(j, j + 40)) for j in range(6)]
    zh = [" ".join(f"z{i % 30}" for i in range(j, j + 40)) for j in range(6)]
    sf = _write_docs(
        spark,
        tmp_path_factory,
        "dsir_sf",
        en + zh,
        langs=["en"] * 6 + ["zh"] * 6,
    )
    rows = QUERIES["dsir_importance_weights"](spark, sf).collect()
    w = {r["doc_id"]: r["dsir_log_weight"] for r in rows}
    en_mean = sum(w[i] for i in range(6)) / 6
    zh_mean = sum(w[i] for i in range(6, 12)) / 6
    assert en_mean > 0 > zh_mean


def test_mix_weights_normalized_and_temperature_flattens(spark):
    rows = QUERIES["mix_domain_weights"](spark, SF).collect()
    total_w = sum(r["mix_weight"] for r in rows)
    assert abs(total_w - 1.0) < 1e-4  # rounding of 20 six-decimal weights
    # temperature 0.5 upsamples small domains: the smallest domain's
    # weight/share ratio must exceed the largest domain's
    smallest = min(rows, key=lambda r: r["n_tokens"])
    largest = max(rows, key=lambda r: r["n_tokens"])
    assert smallest["n_tokens"] < largest["n_tokens"]
    assert (
        smallest["mix_weight"] / smallest["token_share"]
        > largest["mix_weight"] / largest["token_share"]
    )
    # epochs bookkeeping: budget * weight == epochs * domain tokens
    for r in rows:
        assert (
            abs(r["effective_epochs"] * r["n_tokens"] - 1_000_000 * r["mix_weight"])
            < 0.01 * r["n_tokens"]
        )


def test_quality_logreg_keep_is_logit_sign_and_splits(spark):
    rows = QUERIES["quality_logreg_score"](spark, SF).collect()
    kept = sum(r["keep"] for r in rows)
    assert 0 < kept < len(rows)  # the weights actually separate
    for r in rows:
        if abs(r["quality_logit"]) > 1e-5:  # away from the rounding seam
            assert r["keep"] == (r["quality_logit"] > 0)
        assert 0.0 <= r["stop_ratio"] <= 1.0
        assert 0.0 < r["distinct_ratio"] <= 1.0


def test_bpe_pair_stats_rank_contract(spark):
    rows = QUERIES["bpe_pair_stats"](spark, SF).collect()
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    occs = [r["n_occurrences"] for r in rows]
    assert occs == sorted(occs, reverse=True)
    for r in rows:
        assert 1 <= r["n_docs"] <= r["n_occurrences"]
        assert "|" in r["pair"]


def test_hashed_features_conserve_gram_mass(spark):
    """Sum of bucket counts == total unigrams + bigrams (2n-1 per doc):
    hashing relocates grams, never drops or invents them."""
    feats = QUERIES["text_hashed_ngram_features"](spark, SF)
    got = feats.agg(F.sum("cnt")).collect()[0][0]
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    n = F.size(F.split(F.lower("text"), " "))
    want = docs.agg(F.sum(2 * n - 1)).collect()[0][0]
    assert got == want
    assert feats.filter((F.col("bucket") < 0) | (F.col("bucket") >= 64)).count() == 0


def test_sem_dedup_matches_numpy_replay(spark):
    """Exact replay of assignment + within-cluster domination in numpy:
    the Spark plan's keep set must match brute force bit-for-bit."""
    res = {
        r["vec_id"]: (r["cent_id"], r["is_kept"])
        for r in QUERIES["sem_dedup"](spark, SF).collect()
    }
    embs = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .orderBy("vec_id")
        .collect()
    )
    ids = [r["vec_id"] for r in embs]
    m = np.array([r["embedding"] for r in embs], dtype=np.float64)
    norms = np.sqrt((m * m).sum(axis=1))
    cent_rows = [i for i, v in enumerate(ids) if v < 16]
    cm, cn = m[cent_rows], norms[cent_rows]
    cids = [ids[i] for i in cent_rows]
    cos = (m @ cm.T) / np.outer(norms, cn)
    # argmax with tie -> lowest cent_id (cids ascending keeps argmax first)
    assign = {ids[i]: cids[int(np.argmax(cos[i]))] for i in range(len(ids))}
    for vid, (cent, _) in res.items():
        assert assign[vid] == cent, vid
    full = (m @ m.T) / np.outer(norms, norms)
    for i, vid in enumerate(ids):
        dominated = any(
            assign[ids[j]] == assign[vid]
            and ids[j] < vid
            and round(full[i, j], 6) >= 0.45
            for j in range(len(ids))
        )
        assert res[vid][1] == (not dominated), vid


@pytest.mark.parametrize(
    "qid",
    [
        "dedup_substring_spans",
        "dsir_importance_weights",
        "mix_domain_weights",
        "quality_logreg_score",
        "bpe_pair_stats",
        "text_hashed_ngram_features",
    ],
)
def test_curation_ops_survive_single_token_docs(spark, tmp_path_factory, qid):
    """Degenerate docs (one token, empty-ish) exercise every n<k guard."""
    sf = _write_docs(
        spark, tmp_path_factory, f"tiny_{qid}", ["x", "y y", "z"]
    )
    QUERIES[qid](spark, sf).count()  # must not raise


def test_winnowing_guarantee_and_determinism(spark, tmp_path_factory):
    """The MOSS guarantee: two docs sharing a run of >= w + k - 1 = 6
    tokens share at least one fingerprint hash; and identical docs
    produce identical fingerprint sets (position-stable selection)."""
    shared = "s1 s2 s3 s4 s5 s6"  # exactly the guarantee length
    a = " ".join(f"a{i}" for i in range(10))
    b = " ".join(f"b{i}" for i in range(10))
    sf = _write_docs(
        spark,
        tmp_path_factory,
        "winnow_sf",
        [f"{a} {shared}", f"{shared} {b}", a, a],
    )
    rows = QUERIES["doc_winnow_fingerprints"](spark, sf).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp_hash"])
    assert by_doc[0] & by_doc[1], "guarantee violated: no shared fingerprint"
    # doc 2's vocabulary (a0..a9) is disjoint from doc 1's (shared+b*),
    # so they must share no fingerprint hash
    assert not (by_doc[2] & by_doc[1]), "disjoint-vocab docs share a hash"
    # identical docs -> identical (pos, hash) fingerprint sets
    fp2 = {(r["fp_pos"], r["fp_hash"]) for r in rows if r["doc_id"] == 2}
    fp3 = {(r["fp_pos"], r["fp_hash"]) for r in rows if r["doc_id"] == 3}
    assert fp2 == fp3 and fp2
    # density: winnowing selects ~2/(w+1) of grams, never more than all
    n_grams = 10 - 2
    assert 1 <= len(fp2) <= n_grams


@pytest.mark.slow
def test_curation_ops_linear_on_book_scale_doc(spark, tmp_path_factory):
    """Pins the HOF quadratic-re-evaluation class (the hugedoc find):
    referencing the token-array EXPRESSION inside a transform lambda
    re-evaluates it per element — O(words²), a >7-minute stall on a
    ~1 MB document. With the lambda-variable re-bind these ops are
    linear; a 100k-token doc must finish in seconds, so a generous
    wall bound distinguishes linear from quadratic by ~two orders of
    magnitude without being flaky."""
    import time

    big = " ".join(f"w{i % 97}" for i in range(100_000))
    sf = _write_docs(
        spark, tmp_path_factory, "book_sf", [big, "a b c d e f g h i j"]
    )
    for qid in (
        "dedup_substring_spans",
        "bpe_pair_stats",
        "text_hashed_ngram_features",
    ):
        t0 = time.time()
        QUERIES[qid](spark, sf).count()
        took = time.time() - t0
        assert took < 90, f"{qid} took {took:.0f}s on a 100k-token doc"


def _write_embs(spark, tmp_path_factory, name, vecs):
    out = str(tmp_path_factory.mktemp(name))
    rows = [(i, [float(x) for x in v], 0) for i, v in enumerate(vecs)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{out}/embeddings.parquet")
    return out


def test_sem_dedup_trained_agrees_with_first16_on_planted_dups(
    spark, tmp_path_factory
):
    """Planted truth: two duplicate groups (exact copies of an axis
    vector, scaled — cosine 1.0) and one far-from-everything diagonal
    vector (cosine 1/sqrt(8) ~ 0.354 < tau to every axis).  BOTH the
    first-16-codebook variant and the k-means-trained variant must
    drop exactly the non-minimal members of each duplicate group and
    keep everything else — the trained codebook changes the buckets,
    never the verdict, on a corpus whose dups are unambiguous."""
    dim = 8
    vecs = []
    for i in range(dim):  # ids 0-7: one-hot axes (also the kmeans init)
        v = [0.0] * dim
        v[i] = 1.0
        vecs.append(v)
    for _ in range(2):  # ids 8,9: scaled copies of axis 0
        v = [0.0] * dim
        v[0] = 0.9
        vecs.append(v)
    for _ in range(2):  # ids 10,11: scaled copies of axis 3
        v = [0.0] * dim
        v[3] = 1.1
        vecs.append(v)
    vecs.append([0.5] * dim)  # id 12: diagonal, near nothing
    sf = _write_embs(spark, tmp_path_factory, "semtrained_sf", vecs)

    want_dropped = {8, 9, 10, 11}
    for qid in ("sem_dedup", "sem_dedup_trained"):
        rows = QUERIES[qid](spark, sf).collect()
        assert len(rows) == len(vecs), qid
        dropped = {r["vec_id"] for r in rows if not r["is_kept"]}
        assert dropped == want_dropped, (qid, dropped)


def test_winnow_match_planted_recall(spark, tmp_path_factory):
    """Pair-level MOSS guarantee: docs sharing a run of >= w + k - 1
    = 6 tokens must surface as a pair (n_shared >= 1); a 12-token
    shared run has 7 all-inside windows whose identical content picks
    identical mins, and one hash can be the min of at most w = 4
    consecutive windows, so >= ceil(7/4) = 2 distinct shared hashes —
    an is_match verdict.  Disjoint-vocab docs must pair with nobody."""
    m = " ".join(f"m{i}" for i in range(12))
    s = " ".join(f"s{i}" for i in range(6))  # exactly guarantee length
    a = " ".join(f"a{i}" for i in range(10))
    b = " ".join(f"b{i}" for i in range(10))
    c = " ".join(f"c{i}" for i in range(10))
    d = " ".join(f"d{i}" for i in range(10))
    e = " ".join(f"e{i}" for i in range(20))
    sf = _write_docs(
        spark,
        tmp_path_factory,
        "winnow_match_sf",
        [f"{a} {m}", f"{m} {b}", f"{c} {s}", f"{s} {d}", e],
    )
    rows = {
        (r["doc_a"], r["doc_b"]): r
        for r in QUERIES["dedup_winnow_match"](spark, sf).collect()
    }
    assert (0, 1) in rows and rows[(0, 1)]["is_match"]
    assert rows[(0, 1)]["n_shared"] >= 2
    assert (2, 3) in rows and rows[(2, 3)]["n_shared"] >= 1
    assert 0.0 < rows[(0, 1)]["fp_jaccard"] <= 1.0
    for pair in rows:
        assert 4 not in pair, f"disjoint doc paired: {pair}"
        assert pair not in {(0, 2), (0, 3), (1, 2), (1, 3)}, pair


def test_bpe_encode_roundtrip_and_greedy_runs(spark, tmp_path_factory):
    """Decode invariant: merged units join with ' ', so concatenating
    each doc's units in pos order must restore the original regex
    token stream exactly — merges reshape boundaries, never content.
    Run parity: with top pair (a, a), a run 'a a a a a' merges
    greedy-leftmost into ('a a', 'a a', 'a') before later rounds."""
    import re

    from getdbt_spark import pipeline as P

    texts = [
        "a a a a a b c",
        "a a b c a a",
        "x y z",
        "q",
    ]
    sf = _write_docs(spark, tmp_path_factory, "bpe_sf", texts)
    rows = QUERIES["bpe_encode"](spark, sf).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append((r["pos"], r["unit"]))
    for i, t in enumerate(texts):
        toks = re.findall(P.BPE_TOKEN_RE, t.lower())
        units = [u for _, u in sorted(by_doc[i])]
        assert " ".join(units) == " ".join(toks), i
        assert [p for p, _ in sorted(by_doc[i])] == list(range(len(units)))
    # round 1 merges (a, a): doc 0's five-a run becomes aa|aa|a
    units0 = [u for _, u in sorted(by_doc[0])]
    assert units0[0].startswith("a a"), units0
    n_raw = sum(len(re.findall(P.BPE_TOKEN_RE, t.lower())) for t in texts)
    assert len(rows) < n_raw  # merges actually compressed the corpus


def test_bpe_trains_once_per_session_and_corpus(spark, tmp_path_factory):
    """The merge table is a trained artifact: running all three BPE
    consumers (encode, merge table, packer) over the same corpus must
    execute the trainer exactly once (VERDICT r9 #4), and the memoized
    results must be the exact frames each consumer would have built —
    asserted by the decode invariant still holding on the shared rows
    and the rule table matching the encode output's merged units."""
    from getdbt_spark.queries import curation as C

    texts = ["p p p q r", "p p q r r", "s t u"]
    sf = _write_docs(spark, tmp_path_factory, "bpe_memo_sf", texts)
    runs0 = C._BPE_TRAIN_RUNS
    enc = QUERIES["bpe_encode"](spark, sf).collect()
    mt = QUERIES["bpe_merge_table"](spark, sf).collect()
    pk = QUERIES["pack_bpe_budget"](spark, sf).collect()
    assert C._BPE_TRAIN_RUNS == runs0 + 1, "trainer re-ran for a consumer"
    assert enc and mt and pk
    # same trained rules drive the encode output: every multi-token
    # unit's adjacent pair must appear in the merge table's closure
    merged = {(r["t1"], r["t2"]) for r in mt}
    assert ("p", "p") in merged
    assert any(" " in r["unit"] for r in enc)
    # a distinct corpus must retrain, not reuse
    sf2 = _write_docs(spark, tmp_path_factory, "bpe_memo_sf2", ["z z z"])
    QUERIES["bpe_encode"](spark, sf2).collect()
    assert C._BPE_TRAIN_RUNS == runs0 + 2


def test_winnow_cluster_transitive_canonical(spark, tmp_path_factory):
    """Transitivity: doc 0 pairs with 1 (shared run M), 1 pairs with 2
    (shared run N), 0 and 2 share nothing — all three must land in one
    cluster with canonical 0 and exactly one survivor; the disjoint
    doc 3 stays its own canonical."""
    m = " ".join(f"m{i}" for i in range(12))
    n = " ".join(f"n{i}" for i in range(12))
    a = " ".join(f"a{i}" for i in range(10))
    b = " ".join(f"b{i}" for i in range(10))
    e = " ".join(f"e{i}" for i in range(20))
    sf = _write_docs(
        spark,
        tmp_path_factory,
        "winnow_cc_sf",
        [f"{a} {m}", f"{m} {n}", f"{n} {b}", e],
    )
    rows = {
        r["doc_id"]: r
        for r in QUERIES["dedup_winnow_cluster"](spark, sf).collect()
    }
    assert len(rows) == 4
    for doc in (0, 1, 2):
        assert rows[doc]["canonical_id"] == 0, rows
    assert rows[0]["keep"] and not rows[1]["keep"] and not rows[2]["keep"]
    assert rows[3]["canonical_id"] == 3 and rows[3]["keep"]


def test_embedding_cluster_ivf_matches_planted_truth(spark, tmp_path_factory):
    """The IVF-bucketed cluster dedup must agree with the planted
    truth on the sem-dedup corpus: each duplicate group collapses to
    its minimum vec_id, the far-from-everything diagonal vector
    survives alone."""
    dim = 8
    vecs = []
    for i in range(dim):
        v = [0.0] * dim
        v[i] = 1.0
        vecs.append(v)
    for _ in range(2):
        v = [0.0] * dim
        v[0] = 0.9
        vecs.append(v)
    for _ in range(2):
        v = [0.0] * dim
        v[3] = 1.1
        vecs.append(v)
    vecs.append([0.5] * dim)
    sf = _write_embs(spark, tmp_path_factory, "ivfcc_sf", vecs)
    rows = {
        r["vec_id"]: r
        for r in QUERIES["dedup_embedding_cluster_ivf"](spark, sf).collect()
    }
    assert len(rows) == len(vecs)
    assert rows[8]["canonical_id"] == 0 and not rows[8]["keep"]
    assert rows[9]["canonical_id"] == 0 and not rows[9]["keep"]
    assert rows[10]["canonical_id"] == 3 and not rows[10]["keep"]
    assert rows[11]["canonical_id"] == 3 and not rows[11]["keep"]
    for vid in (0, 1, 2, 3, 4, 5, 6, 7, 12):
        assert rows[vid]["keep"] and rows[vid]["canonical_id"] == vid


def test_multiprobe_matches_planted_truth_and_dominates_ivf(
    spark, tmp_path_factory
):
    """nprobe=2 widens candidate reach MONOTONICALLY: on the planted
    corpus the multiprobe verdicts must collapse both duplicate
    groups exactly as the single-probe variant does (its candidates
    are a superset, and the exact graph has nothing more to find),
    and its pair count must be >= the single-probe count."""
    dim = 8
    vecs = []
    for i in range(dim):
        v = [0.0] * dim
        v[i] = 1.0
        vecs.append(v)
    for _ in range(2):
        v = [0.0] * dim
        v[0] = 0.9
        vecs.append(v)
    for _ in range(2):
        v = [0.0] * dim
        v[3] = 1.1
        vecs.append(v)
    vecs.append([0.5] * dim)
    sf = _write_embs(spark, tmp_path_factory, "mpcc_sf", vecs)
    rows = {
        r["vec_id"]: r
        for r in QUERIES["dedup_cluster_multiprobe"](spark, sf).collect()
    }
    assert len(rows) == len(vecs)
    assert rows[8]["canonical_id"] == 0 and not rows[8]["keep"]
    assert rows[9]["canonical_id"] == 0 and not rows[9]["keep"]
    assert rows[10]["canonical_id"] == 3 and not rows[10]["keep"]
    assert rows[11]["canonical_id"] == 3 and not rows[11]["keep"]
    for vid in (0, 1, 2, 3, 4, 5, 6, 7, 12):
        assert rows[vid]["keep"] and rows[vid]["canonical_id"] == vid


def test_cluster_recall_invariants_and_multiprobe_recovery(spark):
    """The recall report's structural invariants on the driver corpus:
    variant pairs are a SUBSET of exact pairs (hits == pairs), recalls
    live in [0, 1], the denominators agree across variants, and
    multiprobe recall is >= single-probe recall on BOTH metrics (its
    candidate set is a superset by construction)."""
    rows = {
        r["variant"]: r
        for r in QUERIES["dedup_cluster_recall"](spark, SF).collect()
    }
    assert set(rows) == {"ivf", "multiprobe", "multiprobe3"}
    iv, mp, t3 = rows["ivf"], rows["multiprobe"], rows["multiprobe3"]
    assert iv["n_exact_pairs"] == mp["n_exact_pairs"] == t3["n_exact_pairs"] > 0
    assert iv["n_exact_copairs"] == mp["n_exact_copairs"] == t3["n_exact_copairs"] > 0
    for r in (iv, mp, t3):
        assert r["n_pair_hits"] == r["n_pairs"], "variant found a non-exact pair"
        assert 0.0 <= r["pair_recall"] <= 1.0
        assert 0.0 <= r["cluster_recall"] <= 1.0
    # each extra probe widens the candidate superset monotonically
    assert mp["n_pairs"] >= iv["n_pairs"]
    assert mp["pair_recall"] >= iv["pair_recall"]
    assert mp["cluster_recall"] >= iv["cluster_recall"]
    assert t3["n_pairs"] >= mp["n_pairs"]
    assert t3["pair_recall"] >= mp["pair_recall"]
    assert t3["cluster_recall"] >= mp["cluster_recall"]


def test_cluster_recall_nprobe3_clears_gate_on_driver_corpus(spark):
    """VERDICT r10 #8's decision gate: on the sf0.01 driver corpus the
    margin analysis (SCALE.md, Round-11 changes) ruled OUT a
    selective residual rerank — the nprobe=2 misses' (d3−d1)/d1
    margins sit inside the bulk of an isotropic margin distribution,
    so flagging them flags ~95% of vectors.  Uniform nprobe=3 is the
    implemented dial and must clear ≥0.9 pair recall (measured 1.0)."""
    rows = {
        r["variant"]: r
        for r in QUERIES["dedup_cluster_recall"](
            spark, "/root/testdata/sf0.01"
        ).collect()
    }
    assert rows["multiprobe3"]["pair_recall"] >= 0.9, rows["multiprobe3"]


def test_winnow_match_culls_boilerplate_hashes(spark, tmp_path_factory):
    """MOSS common-code elimination: 70 IDENTICAL boilerplate docs
    (> WINNOW_MAXDF = 64) select identical fingerprint sets, so every
    hash has df = 70 and is culled BEFORE pairing — zero pairs among
    them (2,415 otherwise); the rare 12-token run shared by exactly
    two docs still matches.  (Docs that merely EMBED boilerplate keep
    their boundary-window fingerprints and may still pair — that is
    MOSS's intended near-dup evidence, not a cull failure.)"""
    boiler = " ".join(f"s{i}" for i in range(12))
    rare = " ".join(f"m{i}" for i in range(12))
    texts = [boiler for _ in range(70)]
    texts += [f"p0 p1 p2 p3 {rare}", f"{rare} q0 q1 q2 q3"]
    sf = _write_docs(spark, tmp_path_factory, "winnow_cull_sf", texts)
    rows = {
        (r["doc_a"], r["doc_b"]): r
        for r in QUERIES["dedup_winnow_match"](spark, sf).collect()
    }
    assert set(rows) == {(70, 71)}, sorted(rows)[:5]
    assert rows[(70, 71)]["is_match"]


def test_dsir_resample_is_deterministic_and_rate_sensible(spark, tmp_path_factory):
    """The keep verdict must be a pure function of (doc_id, weight):
    two runs agree row-for-row; target-distribution (en) docs must be
    accepted at a higher rate than the disjoint-vocab non-target docs
    (the entire point of importance resampling); keep matches the
    integer coin/threshold comparison exactly."""
    en = [" ".join(f"t{i % 30}" for i in range(j, j + 40)) for j in range(8)]
    zh = [" ".join(f"z{i % 30}" for i in range(j, j + 40)) for j in range(8)]
    sf = _write_docs(
        spark, tmp_path_factory, "dsir_rs_sf",
        en + zh, langs=["en"] * 8 + ["zh"] * 8,
    )
    r1 = sorted(QUERIES["dsir_resample"](spark, sf).collect())
    r2 = sorted(QUERIES["dsir_resample"](spark, sf).collect())
    assert r1 == r2
    for r in r1:
        assert 0 <= r["coin_micro"] < 1_000_000
        assert 0 <= r["keep_prob_micro"] <= 1_000_000
        assert r["keep"] == (r["coin_micro"] < r["keep_prob_micro"])
    p_en = sum(r["keep_prob_micro"] for r in r1 if r["doc_id"] < 8)
    p_zh = sum(r["keep_prob_micro"] for r in r1 if r["doc_id"] >= 8)
    assert p_en > p_zh
