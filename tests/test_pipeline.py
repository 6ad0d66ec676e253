"""LLM-pipeline operator properties that the driver's oracle gate
cannot express: completeness guarantees, kernel determinism, and
fan-out invariants (SURVEY.md §7.5).
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from getdbt_spark import pipeline as P
from getdbt_spark.io import load_table
from getdbt_spark.queries import QUERIES, load_all

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF, "documents")


def test_ngram_prefix_filter_is_complete(spark, docs):
    """PPJoin guarantee: the prefix-filtered plan finds EXACTLY the
    pairs brute-force all-pairs Jaccard finds (no probabilistic miss —
    that is the whole point vs MinHash-LSH)."""
    toks = P.ws_tokens(F.col("text"))
    gram = F.transform(
        F.sequence(F.lit(0), F.size("w") - 2),
        lambda i: F.xxhash64(
            F.concat_ws("|", F.element_at("w", i + 1), F.element_at("w", i + 2))
        ),
    )
    sh = (
        docs.select("doc_id", toks.alias("w"))
        .filter(F.size("w") >= 2)
        .select("doc_id", F.array_sort(F.array_distinct(gram)).alias("s"))
    )
    a = sh.select(F.col("doc_id").alias("a_id"), F.col("s").alias("sa"))
    b = sh.select(F.col("doc_id").alias("b_id"), F.col("s").alias("sb"))
    jac = F.size(F.array_intersect("sa", "sb")) / F.size(
        F.array_union("sa", "sb")
    )
    brute = {
        (r.a_id, r.b_id)
        for r in a.crossJoin(b)
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(jac >= P.JACCARD_THRESHOLD)
        .collect()
    }
    # k=2 on this corpus is the adversarial case for prefix filtering
    # (tiny bigram vocabulary → weak gram selectivity): completeness
    # must hold even when nearly every pair becomes a candidate.
    fast = {
        (r.a_id, r.b_id)
        for r in P.ngram_jaccard_pairs(docs, k=2).collect()
    }
    assert fast == brute
    assert brute  # the corpus seeds near-dup pairs: the test must bite


def test_ngram_prefix_filter_is_complete_on_tiny_sets(spark):
    """The ℓ-prefix filter needs min(ℓ_A, ℓ_B) shared prefix grams, with
    ℓ capped at ⌈t·|S|⌉: a 1-trigram exact duplicate shares ONE gram
    and a 2-trigram set needs two, so an uncapped ℓ=3 loses every pair
    below.  Documents of 3-6 tokens (1-4 trigrams), exact and near
    duplicates, one pair exactly at J = 0.6, one doc whose repeated
    trigram collapses to a single gram and one doc too short to have a
    trigram; the result must equal brute-force all-pairs Jaccard."""
    texts = {
        1: "a b c",
        2: "a b c",
        3: "a b c d",
        4: "a b c d",
        5: "a b c d e",
        6: "a b c d e f",
        7: "x b c d e f",
        8: "q r s",
        9: "q r s t",
        10: "z z z",
        11: "z z z z",
        12: "a b",
    }
    grams = {}
    for i, t in texts.items():
        w = t.lower().split(" ")
        if len(w) >= 3:
            grams[i] = {tuple(w[j : j + 3]) for j in range(len(w) - 2)}
    brute = {}
    for a in grams:
        for b in grams:
            if a < b:
                inter = len(grams[a] & grams[b])
                j = round(inter / len(grams[a] | grams[b]), 6)
                if j >= P.JACCARD_THRESHOLD:
                    brute[(a, b)] = j
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    fast = {
        (r.a_id, r.b_id): r.jaccard
        for r in P.ngram_jaccard_pairs(docs).collect()
    }
    assert fast == brute
    # the boundary cases are in the expected set, so the test bites
    assert {(1, 2), (3, 4), (3, 5), (6, 7), (10, 11)} <= set(brute)
    assert brute[(6, 7)] == 0.6


def test_cluster_canonical_job_count(spark, docs):
    """One dedup_cluster_canonical build plus collect at sf0.001 starts
    at most 28 Spark jobs: the connected-components convergence count
    rides on each round's materializing action (an Observation), not a
    job of its own.  A separate aggregate per round made it 32."""
    load_all()
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    lo = dag.nextJobId()  # documents already loaded: no schema job
    QUERIES["dedup_cluster_canonical"](spark, SF).toPandas()
    jobs = dag.nextJobId() - lo
    spark.catalog.clearCache()
    assert jobs <= 28, jobs


def test_minhash_kernel_deterministic_across_invocations(spark, docs):
    """The FNV byte-matrix hash has no per-process salt: two separate
    kernel invocations (separate Python worker calls) must produce
    identical shingle sets and signatures for every doc."""
    udf = P._shingles_and_sig(3)
    one = {
        r.doc_id: (tuple(r.ss.shingles), tuple(r.ss.sig))
        for r in docs.repartition(4)
        .select("doc_id", udf("text").alias("ss"))
        .filter(F.col("ss.shingles").isNotNull())
        .collect()
    }
    two = {
        r.doc_id: (tuple(r.ss.shingles), tuple(r.ss.sig))
        for r in docs.coalesce(1)
        .select("doc_id", udf("text").alias("ss"))
        .filter(F.col("ss.shingles").isNotNull())
        .collect()
    }
    assert one == two
    assert all(len(v[1]) == P.MINHASH_N for v in one.values())


def test_frame_sample_covers_payload(spark, docs):
    """Frame extents partition the payload: offsets are in-bounds,
    stride-sampled indices are exactly 0, 7, 14, …, and a
    single-frame (image/audio) doc's checksum equals the whole-payload
    byte sum."""
    payload = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("modality"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )
    frames = P.sample_frames(payload).collect()
    n_bytes = {
        r.doc_id: r.n for r in docs.select(
            "doc_id", F.octet_length(F.encode("text", "utf-8")).alias("n")
        ).collect()
    }
    byte_sum = {
        r.doc_id: r.s for r in docs.select(
            "doc_id",
            F.aggregate(
                F.transform(
                    F.split(F.col("text"), ""), lambda c: F.ascii(c)
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("s"),
        ).collect()
    }
    assert frames
    for r in frames:
        assert r.frame_idx % 7 == 0
        assert 0 <= r.frame_offset <= n_bytes[r.doc_id]
        assert r.frame_offset + r.frame_len <= n_bytes[r.doc_id]
        assert max(r.resized_w, r.resized_h) <= 224
        if r.modality != "video":
            assert r.frame_idx == 0
            assert r.frame_len == n_bytes[r.doc_id]
            assert r.frame_checksum == byte_sum[r.doc_id]


def test_connected_components_chain_and_clique(spark):
    """Chain A-B-C-D (diameter 3: the slow-convergence shape) plus a
    separate 2-clique and an isolated pair-free node must collapse to
    min-id labels exactly."""
    pairs = spark.createDataFrame(
        [("b", "c"), ("a", "b"), ("c", "d"), ("x", "y")],
        ["a_id", "b_id"],
    )
    got = {
        (r["id"], r["comp"])
        for r in P.connected_components(pairs).collect()
    }
    assert got == {
        ("a", "a"), ("b", "a"), ("c", "a"), ("d", "a"),
        ("x", "x"), ("y", "x"),
    }


def test_near_dup_canonical_keeps_one_per_cluster(spark, docs):
    out = P.near_dup_canonical(docs).cache()
    n_docs = docs.count()
    assert out.count() == n_docs
    # every cluster elects exactly one keeper: distinct canonical ids
    # == number of kept docs, and keepers are their own canonical
    kept = out.filter("keep")
    assert kept.count() == out.select("canonical_id").distinct().count()
    assert kept.filter(F.col("doc_id") != F.col("canonical_id")).count() == 0
    out.unpersist()


def test_quantize_reconstruction_error_bounded(spark):
    """x ≈ q*scale within scale/2 per element (half-step rounding)."""
    embs = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25]), (2, [0.0, 0.0, 2.0])],
        ["vec_id", "embedding"],
    ).select("vec_id", F.col("embedding").cast("array<float>").alias("embedding"))
    rows = {r["vec_id"]: r for r in P.quantize_int8(embs).collect()}
    for vid, orig in ((1, [0.5, -1.0, 0.25]), (2, [0.0, 0.0, 2.0])):
        q, scale = rows[vid]["q"], rows[vid]["scale"]
        assert all(qv is None or -127 <= qv <= 127 for qv in q)
        for x, qv in zip(orig, q):
            # + 1e-7 covers the 9-decimal rounding of scale (up to
            # 127 * 0.5e-9 reconstruction drift at the tie point)
            assert abs(x - qv * scale) <= scale / 2 + 1e-7


def test_l2_normalize_unit_norm(spark):
    embs = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [0.0, 0.0])], ["vec_id", "embedding"]
    ).select("vec_id", F.col("embedding").cast("array<float>").alias("embedding"))
    rows = {r["vec_id"]: r for r in P.l2_normalize(embs).collect()}
    assert rows[1]["unit"] == [0.6, 0.8] and rows[1]["norm"] == 5.0
    # zero vector: NULL elements, norm 0 — never a divide-by-zero crash
    assert rows[2]["unit"] == [None, None]


def test_stratified_sample_deterministic_and_rate(spark, docs):
    rates = {"en": 30, "de": 70, "es": 70, "fr": 70, "zh": 90}
    a = P.stratified_sample(docs, rates)
    b = P.stratified_sample(docs, rates)
    ka = sorted(r["doc_id"] for r in a.collect())
    assert ka == sorted(r["doc_id"] for r in b.collect())
    # realized rate per language within a loose binomial envelope
    got = {r["lang"]: r["n"] for r in
           a.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    tot = {r["lang"]: r["n"] for r in
           docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lang, pct in rates.items():
        realized = 100 * got.get(lang, 0) / tot[lang]
        assert abs(realized - pct) < 25, (lang, realized)


def test_lsh_bucket_signs_and_dim_guard(spark):
    """Bucket bits follow the md5-derived sign matrix exactly, and a
    vector of the wrong dimension gets a NULL bucket (never a silent
    bucket-0 collision that degrades the join to all-pairs)."""
    import hashlib

    dim, nbits = 4, 3
    signs = P._lsh_signs(nbits, dim)
    # independent re-derivation straight from hashlib
    for j in range(nbits):
        for i in range(dim):
            bit = int(hashlib.md5(f"{j}-{i}".encode()).hexdigest()[:15], 16) & 1
            assert signs[j][i] == (1.0 if bit else -1.0)
    embs = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0, 4.0]), (2, [0.5] * 4), (3, [1.0, 2.0])],
        ["vec_id", "embedding"],
    ).select("vec_id", F.col("embedding").cast("array<float>").alias("embedding"))
    rows = {r["vec_id"]: r["bucket"]
            for r in P.lsh_bucket(embs, nbits=nbits, dim=dim).collect()}
    for vid, vec in ((1, [1.0, 2.0, 3.0, 4.0]), (2, [0.5] * 4)):
        expect = sum(
            (1 << j)
            for j in range(nbits)
            if sum(x * s for x, s in zip(vec, signs[j])) > 0
        )
        assert rows[vid] == expect
    assert rows[3] is None  # wrong dim -> NULL bucket, drops from join


def test_topk_cosine_blocked_shard_invariant_and_distributed(spark):
    """The block-matrix kNN must (a) give identical results for any
    (index_shards, query_chunks) split — the partial-top-k union is a
    superset of the global top-k — and (b) never materialize the index
    on the driver: no collect()/broadcast in the function source (the
    old broadcast design had a ~30 GB executor ceiling)."""
    import inspect

    src = inspect.getsource(P.topk_cosine_blocked)
    assert ".collect(" not in src and "broadcast(" not in src

    embs = load_table(spark, SF, "embeddings")
    key = ["vec_id", "rnk"]
    a = (
        P.topk_cosine_blocked(embs, k=3, index_shards=1, query_chunks=1)
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    b = (
        P.topk_cosine_blocked(embs, k=3, index_shards=5, query_chunks=2)
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    assert a.astype(str).equals(b.astype(str))
    assert (a.groupby("vec_id")["rnk"].max() == 3).all()


def test_connected_components_random_graph_vs_union_find(spark):
    """The star-round algorithm against a reference union-find on a
    seeded random graph (bridges two cliques + isolated pairs + a long
    chain — shapes beyond the fixed chain/clique test)."""
    import numpy as np

    rng = np.random.default_rng(3)
    edges = set()
    # random sparse graph
    for _ in range(60):
        a, b = int(rng.integers(0, 40)), int(rng.integers(0, 40))
        if a != b:
            edges.add((min(a, b), max(a, b)))
    # a long chain appended on distinct node ids (worst case for
    # min-label propagation, the shape star rounds must crush)
    for i in range(100, 130):
        edges.add((i, i + 1))
    edges = sorted(edges)

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    want = {x: find(x) for x in parent}

    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges], "a_id long, b_id long"
    )
    got = {
        r["id"]: r["comp"] for r in P.connected_components(pairs).collect()
    }
    assert got == want


def test_decontaminate_flags_only_true_overlaps(spark, docs):
    """Every flagged doc genuinely shares a word 3-gram with the
    benchmark set, no benchmark doc is flagged, and the hit counts
    never exceed the benchmark size."""
    from getdbt_spark.queries.pipeline_queries import text_decontaminate

    out = text_decontaminate(spark, SF).collect()
    grams = F.array_distinct(P.word_grams(P.ws_tokens(F.col("text")), 3))
    bench = {
        r.doc_id: set(r.g)
        for r in docs.select("doc_id", grams.alias("g")).collect()
        if r.doc_id % 97 == 0
    }
    corpus = {
        r.doc_id: set(r.g)
        for r in docs.select("doc_id", grams.alias("g")).collect()
    }
    for row in out:
        assert row.doc_id % 97 != 0
        true_hits = sum(
            1 for g in bench.values() if corpus[row.doc_id] & g
        )
        assert row.n_bench_hits == true_hits > 0


def test_repetition_stats_bounds_and_extremes(spark):
    """Fractions stay in [0,1]; a fully repeated doc maxes both
    metrics, an all-distinct doc zeroes the bigram metric."""
    from getdbt_spark.queries import QUERIES, load_all

    load_all()
    df = QUERIES["text_repetition_stats"](spark, SF)
    bad = df.filter(
        (F.col("top_word_frac") < 0)
        | (F.col("top_word_frac") > 1)
        | (F.col("dup_bigram_frac") < 0)
        | (F.col("dup_bigram_frac") > 1)
    )
    assert bad.count() == 0

    probe = spark.createDataFrame(
        [(1, "a a a a a a"), (2, "b c d e f g")], "doc_id long, text string"
    )
    rows = {
        r.doc_id: r
        for r in _repetition_over(spark, probe).collect()
    }
    assert rows[1].top_word_frac == 1.0 and rows[1].dup_bigram_frac > 0.7
    assert rows[2].top_word_frac < 0.2 and rows[2].dup_bigram_frac == 0.0


def _repetition_over(spark, probe):
    """Run the repetition metric formula over an in-memory frame (the
    registered query is bound to the documents table; the formula is
    re-applied here to characterize extremes)."""
    from getdbt_spark import functions as E

    w = P.ws_tokens(F.col("text"))
    toks = probe.filter(F.size(w) >= 2).select("doc_id", w.alias("w"))
    wstat = (
        toks.select("doc_id", F.explode("w").alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            E.round_to(F.max("c").cast("double") / F.sum("c"), 6).alias(
                "top_word_frac"
            )
        )
    )
    grams = F.transform(
        F.sequence(F.lit(1), F.size(F.col("w")) - 1),
        lambda i: F.concat_ws(
            "|", F.element_at("w", i), F.element_at("w", i + 1)
        ),
    )
    gstat = toks.select(
        "doc_id",
        E.round_to(
            F.lit(1.0)
            - F.size(F.array_distinct(grams)).cast("double") / F.size(grams),
            6,
        ).alias("dup_bigram_frac"),
    )
    return wstat.join(gstat, "doc_id")


def test_train_test_split_partitions_every_doc_once(spark, docs):
    """Split shares are ~80/10/10, every doc lands in exactly one
    split, and membership is stable across two runs."""
    from getdbt_spark.queries import QUERIES, load_all

    load_all()
    agg = QUERIES["sample_train_test_split"](spark, SF)
    totals = {}
    for r in agg.collect():
        totals[r.split] = totals.get(r.split, 0) + r.n_docs
    n = docs.count()
    assert sum(totals.values()) == n
    assert 0.6 * n <= totals.get("train", 0) <= 0.95 * n
    a = agg.collect()
    b = QUERIES["sample_train_test_split"](spark, SF).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_chunk_audio_partitions_payload_exactly(spark, docs):
    """Chunk extents tile each payload with no gap or overlap, chunk
    checksums sum to the whole-payload byte sum, and every non-final
    chunk is exactly the window size."""
    payload = docs.select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )
    chunks = P.chunk_audio(payload, chunk=512).collect()
    n_bytes = {
        r.doc_id: r.n
        for r in docs.select(
            "doc_id", F.octet_length(F.encode("text", "utf-8")).alias("n")
        ).collect()
    }
    byte_sum = {
        r.doc_id: r.s
        for r in docs.select(
            "doc_id",
            F.aggregate(
                F.transform(F.split(F.col("text"), ""), lambda c: F.ascii(c)),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("s"),
        ).collect()
    }
    assert chunks
    per_doc: dict[int, list] = {}
    for r in chunks:
        per_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, rows in per_doc.items():
        rows.sort(key=lambda r: r.chunk_idx)
        off = 0
        for i, r in enumerate(rows):
            assert r.chunk_idx == i
            assert r.chunk_off == off
            assert 0 <= r.peak <= 255
            assert r.energy >= r.checksum  # bytes>=1 ⇒ b² ≥ b; b=0 ⇒ equal
            if i < len(rows) - 1:
                assert r.chunk_len == 512
            off += r.chunk_len
        assert off == n_bytes[doc_id]
        assert sum(r.checksum for r in rows) == byte_sum[doc_id]


def test_paragraph_dedup_kept_text_roundtrip(spark):
    """A span shared by two docs is dropped from BOTH; unique spans
    survive verbatim in position order; a doc of only-shared spans
    reassembles to the empty string."""
    from getdbt_spark.queries import QUERIES, load_all

    load_all()
    out = {
        r.doc_id: r
        for r in QUERIES["text_paragraph_dedup"](spark, SF).collect()
    }
    docs = load_table(spark, SF, "documents").collect()
    spans_by_doc = {}
    for d in docs:
        toks = d.text.split(" ")
        spans_by_doc[d.doc_id] = [
            " ".join(toks[i : i + 10]) for i in range(0, len(toks), 10)
        ]
    from collections import Counter

    df_count = Counter()
    for spans in spans_by_doc.values():
        for s in set(spans):
            df_count[s] += 1
    for doc_id, spans in spans_by_doc.items():
        r = out[doc_id]
        expect_kept = " ".join(s for s in spans if df_count[s] == 1)
        assert r.n_spans == len(spans)
        assert r.n_dup_spans == sum(1 for s in spans if df_count[s] > 1)
        assert r.kept_text == expect_kept


def test_gopher_rules_flags_match_feature_columns(spark):
    """Every rule column is the boolean of its own feature column, and
    keep is the conjunction — so a mix can recompute any rule from the
    emitted features alone."""
    from getdbt_spark.queries import QUERIES, load_all

    load_all()
    rows = QUERIES["text_gopher_rules"](spark, SF).collect()
    assert rows
    for r in rows:
        assert r.rule_wc == int(50 <= r.n_words <= 100000)
        assert r.rule_stop == int(r.n_stopwords >= 2)
        assert r.keep == int(
            bool(r.rule_wc and r.rule_wl and r.rule_alpha and r.rule_stop)
        )
        assert 0.0 <= r.frac_alpha <= 1.0


def test_kmeans_quantized_matches_python_replay(spark):
    """The 2-round integer Lloyd's trajectory equals an independent
    Python replay: same quantization, argmin tie-break on cluster id,
    floor-integer centroid means, empty clusters keeping their
    previous centroid."""
    import math

    embs = load_table(spark, SF, "embeddings")
    got = {
        r.vec_id: (r.cluster, r.dist_q)
        for r in P.kmeans_quantized(embs, k=8, iters=2).collect()
    }
    vecs = {
        r.vec_id: [int(math.floor(float(x) * 1e6)) for x in r.embedding]
        for r in embs.collect()
    }
    cents = {i: vecs[i][:] for i in range(8) if i in vecs}

    def assign(c):
        out = {}
        for vid, qv in vecs.items():
            best = min(
                (sum((a - b) * (a - b) for a, b in zip(qv, cv)), cid)
                for cid, cv in c.items()
            )
            out[vid] = best  # (dist, cent_id): min is argmin w/ tiebreak
        return out

    for _ in range(2):
        a = assign(cents)
        members: dict[int, list] = {}
        for vid, (_, cid) in a.items():
            members.setdefault(cid, []).append(vecs[vid])
        nxt = {}
        for cid, cv in cents.items():
            if cid in members:
                m = members[cid]
                nxt[cid] = [
                    int(math.floor(sum(col) / len(m)))
                    for col in zip(*m)
                ]
            else:
                nxt[cid] = cv
        cents = nxt
    final = assign(cents)
    assert set(got) == set(vecs)
    for vid, (dist, cid) in final.items():
        assert got[vid] == (cid, dist), vid

    re_got = {
        r.vec_id: (r.cluster, r.dist_q)
        for r in P.kmeans_quantized(
            embs.repartition(17), k=8, iters=2
        ).collect()
    }
    assert re_got == got  # partitioning-invariant trajectory


def test_ffd_pack_matches_python_replay_and_partition_invariant(spark, docs):
    """The per-shard FFD assignment equals an independent Python
    replay; no bin exceeds capacity (except a single oversized doc);
    the result is identical under a different input partitioning."""
    got = P.ffd_pack(docs, capacity=256, shards=8).collect()
    got_set = {(r.doc_id, r.shard, r.bin_idx, r.n_tokens) for r in got}

    sized = [
        (r.doc_id, r.shard, r.n)
        for r in docs.select(
            "doc_id",
            (P.md5_long(F.col("doc_id").cast("string")) % 8).alias(
                "shard"
            ),
            F.size(P.ws_tokens(F.col("text"))).alias("n"),
        ).collect()
    ]
    expect = set()
    by_shard: dict[int, list] = {}
    for doc_id, shard, n in sized:
        by_shard.setdefault(shard, []).append((doc_id, n))
    for shard, items in by_shard.items():
        items.sort(key=lambda t: (-t[1], t[0]))
        space: list[int] = []
        for doc_id, n in items:
            placed = None
            for i, free in enumerate(space):
                if n <= free:
                    placed, space[i] = i, free - n
                    break
            if placed is None:
                placed = len(space)
                space.append(max(256 - n, 0))
            expect.add((doc_id, shard, placed, n))
    assert got_set == expect

    fill: dict[tuple, int] = {}
    for doc_id, shard, b, n in got_set:
        fill[(shard, b)] = fill.get((shard, b), 0) + n
    singles = {
        (r.shard, r.bin_idx)
        for r in got
        if r.n_tokens > 256
    }
    for key, tot in fill.items():
        assert tot <= 256 or key in singles

    re_got = {
        (r.doc_id, r.shard, r.bin_idx, r.n_tokens)
        for r in P.ffd_pack(
            docs.repartition(17), capacity=256, shards=8
        ).collect()
    }
    assert re_got == got_set


def test_compression_ratio_matches_stdlib_replay(spark, docs):
    """The Arrow kernel's per-doc byte counts and quantized ratio
    equal a direct zlib replay; ratios are sane (compressible ASCII
    corpus ⇒ well below 1)."""
    import zlib

    got = {r.doc_id: r for r in P.compression_ratio(docs).collect()}
    for d in docs.collect():
        raw = d.text.encode("utf-8")
        comp = len(zlib.compress(raw, 6))
        r = got[d.doc_id]
        assert r.n_bytes == len(raw)
        assert r.n_compressed == comp
        assert r.ratio_q4 == (comp * 10000) // len(raw)
        # short docs can exceed 1.0 (zlib header overhead) — that's
        # the "incompressible" end of the quality dial, not a bug
        assert 0 < r.ratio_q4 < 20000


def test_zero_norm_vectors_score_null_and_rank_last(spark):
    """A corrupt all-zero embedding (zero L2 norm) must score NULL —
    never crash (ANSI divide-by-zero) and never NaN (Spark ranks NaN
    FIRST under desc, silently winning the top-k the DuckDB oracle's
    NULL loses).  Found by the `zerovec` random-corpus variant; both
    the JVM cosine (try_divide) and the numpy block kernel (nullable
    Float64 out) are pinned here."""
    rows = [
        (0, [0.0, 0.0, 0.0]),          # corrupt: zero norm
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.0, 1.0, 0.0]),
    ]
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    # JVM path: cosine of/with the zero vector is NULL, others real.
    e = P.with_norm(embs)
    a = e.select(F.col("vec_id").alias("a_id"),
                 F.col("embedding").alias("va"), F.col("norm").alias("na"))
    b = e.select(F.col("vec_id").alias("b_id"),
                 F.col("embedding").alias("vb"), F.col("norm").alias("nb"))
    pairs = {
        (r.a_id, r.b_id): r.c
        for r in a.join(b, F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id",
                P.cosine(F.col("va"), F.col("vb"),
                         F.col("na"), F.col("nb")).alias("c"))
        .collect()
    }
    assert all(v is None for k, v in pairs.items() if 0 in k)
    assert all(v is not None for k, v in pairs.items() if 0 not in k)

    # Block-kernel path: NULL score, ranked after every real neighbor.
    got = P.topk_cosine_blocked(embs, k=3, index_shards=2, query_chunks=2)
    rows_by_q = {}
    for r in got.collect():
        rows_by_q.setdefault(r.vec_id, []).append(r)
    for q, rs in rows_by_q.items():
        rs.sort(key=lambda r: r.rnk)
        if q == 0:  # zero query: every score NULL, ids ascending
            assert [r.cos_sim for r in rs] == [None] * 3
            assert [r.neighbor_id for r in rs] == [1, 2, 3]
        else:       # zero NEIGHBOR ranks strictly last with NULL score
            assert rs[-1].neighbor_id == 0 and rs[-1].cos_sim is None
            assert all(r.cos_sim is not None for r in rs[:-1])


def test_corrupt_embeddings_cost_the_vector_not_the_job(spark):
    """The nanvec contract: a vector with ANY non-finite component is
    invalid — NULL per-vector outputs, NULL cosine (never a raw NaN,
    which ranks FIRST under DESC in both engines), excluded from
    k-means training — and one corrupt row can never crash a stage or
    chain every cluster together."""
    nan, inf = float("nan"), float("inf")
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),          # valid
        (1, [0.0, nan, 0.0, 0.0]),          # NaN component
        (2, [inf, 1.0, 1.0, 1.0]),          # +Inf component
        (3, [nan, nan, nan, nan]),          # all-NaN
        (4, [0.0, 1.0, 0.0, 0.0]),          # valid
        (5, [1.0, 1.0, 0.0, -inf]),         # -Inf component
    ]
    embs = spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )

    # validity classifier
    valid = {
        r.vec_id
        for r in embs.filter(P.finite_vec("embedding")).collect()
    }
    assert valid == {0, 4}

    # per-vector transforms: invalid -> NULL outputs, no ANSI crash
    ln = {r.vec_id: r for r in P.l2_normalize(embs).collect()}
    assert ln[0].unit is not None and ln[0].unit[0] is not None
    assert all(u is None for u in ln[1].unit)
    assert all(u is None for u in ln[2].unit)
    q8 = {r.vec_id: r for r in P.quantize_int8(embs).collect()}
    assert q8[4].scale is not None
    assert q8[2].scale is None and all(v is None for v in q8[2].q)

    # cosine: any invalid side -> NULL, valid x valid -> real score
    e = P.with_norm(embs)
    a = e.select(F.col("vec_id").alias("ai"),
                 F.col("embedding").alias("va"), F.col("norm").alias("na"))
    b = e.select(F.col("vec_id").alias("bi"),
                 F.col("embedding").alias("vb"), F.col("norm").alias("nb"))
    pairs = {
        (r.ai, r.bi): r.c
        for r in a.join(b, F.col("ai") < F.col("bi")).select(
            "ai", "bi",
            P.cosine(F.col("va"), F.col("vb"),
                     F.col("na"), F.col("nb")).alias("c"),
        ).collect()
    }
    assert pairs[(0, 4)] == 0.0
    bad = {1, 2, 3, 5}
    assert all(v is None for k, v in pairs.items() if set(k) & bad)

    # k-means: trains and assigns over valid vectors only
    km = P.kmeans_quantized(embs, k=2, iters=1)
    assert {r.vec_id for r in km.collect()} == {0, 4}


def test_blocked_topk_pairs_all_blocks_beyond_aqe_coalescing(spark):
    """Regression pin for the round-10 cogroup key-type bug: the
    block matrix product's two sides keyed (qc, shard) with
    MISMATCHED types (pmod -> BIGINT vs explode(sequence) -> INT) —
    Spark's HashPartitioning hash is type-sensitive, so equal keys
    scattered to different partitions and blocks silently never
    paired once the shuffle outgrew AQE's coalescing (sf0.1: 6/16
    blocks; sf1: 0/16 -> ZERO output).  On a corpus big enough to
    keep multiple shuffle partitions, every query must get exactly k
    ranked neighbors and a planted duplicate pair must find each
    other at rank 1."""
    import numpy as np

    rng = np.random.RandomState(7)
    n = 2000
    vecs = rng.randn(n, 64).astype("float32")
    vecs[1501] = vecs[1500]  # planted duplicate pair
    rows = [(i, [float(x) for x in v], 0) for i, v in enumerate(vecs)]
    embs = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    tk = P.topk_cosine_blocked(embs, k=10)
    got = tk.collect()
    assert len(got) == n * 10, f"{len(got)} != {n * 10} — unpaired blocks"
    assert len({r.vec_id for r in got}) == n
    best = {r.vec_id: r.neighbor_id for r in got if r.rnk == 1}
    assert best[1500] == 1501 and best[1501] == 1500


def test_assign_nearest_cosine_matches_window_ranking_semantics(spark):
    """Round-13 map-only assignment pin: assign_nearest_cosine must
    reproduce the old ``row_number() OVER (ORDER BY c DESC, cent_id)
    == 1`` pick exactly — higher cosine wins, the LOWER cent_id
    breaks exact ties, and a vector whose every score is NULL (the
    zero vector: try_divide 0/0) falls back to the lowest cent_id
    rather than dropping out."""
    embs = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),   # aligned with centroid 10
            (1, [0.0, 1.0]),   # aligned with centroid 11
            (2, [1.0, 1.0]),   # ties 2.0/2.83... closer to neither axis
            (3, [0.0, 0.0]),   # zero vector: all scores NULL
        ],
        "vec_id long, embedding array<double>",
    )
    e = P.with_norm(embs)
    cents = spark.createDataFrame(
        # two identical centroids (12 duplicates 10) force an exact
        # cosine tie for every vector — the tie must go to cent_id 10
        [(10, [1.0, 0.0]), (11, [0.0, 1.0]), (12, [1.0, 0.0])],
        "cent_id long, cvec array<double>",
    ).withColumn(
        "cnorm",
        F.sqrt(
            F.aggregate(
                F.transform("cvec", lambda x: x * x),
                F.lit(0.0),
                lambda a, x: a + x,
            )
        ),
    )
    got = {
        r.vec_id: r.cent_id
        for r in P.assign_nearest_cosine(e, cents).collect()
    }
    assert got[0] == 10  # exact tie with duplicate centroid 12 -> lower id
    assert got[1] == 11
    assert got[2] == 10  # 45-degree tie between 10 and 11 -> lower id
    assert got[3] == 10  # all-NULL scores -> lowest cent_id, not dropped


def test_funnel_single_pass_plan_shape(spark):
    """Round-13 funnel rewrite pin: the stage-count funnels must stay
    SINGLE-PASS — one scan of documents per funnel (the old 6-branch
    union re-scanned and re-tokenized the corpus per stage branch)."""
    load_all()
    for qid in ("pipeline_end_to_end", "pipeline_curation_v2"):
        df = QUERIES[qid](spark, SF)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        n_scans = len(re.findall(r"\(\d+\) Scan parquet", plan))
        assert n_scans <= 2, (
            f"{qid}: {n_scans} parquet scans — the funnel lost its "
            "single-pass shape"
        )
