"""Round-10 training-pipeline operators.

Operators a production pretraining-data pipeline runs between
curation and the trainer, each composing already-verified stages:

- ``sim_ann_ivf_multiprobe`` — IVF ANN search with query-side
  nprobe=2 (the recall dial ``sim_recall_at_k`` documents, wired);
- ``sim_recall_multiprobe`` — recall@5 of the trained IVF index at
  nprobe=1 and nprobe=2 against the exact top-5, one row per setting;
- ``sample_curriculum_order`` — deterministic quality-curriculum
  ordering of the kept training set (scale-safe global rank);
- ``mix_token_budget_allocation`` — exact integer Hamilton
  (largest-remainder) allocation of a token budget across source
  domains under the temperature-scaled mixture weights;
- ``text_ccnet_buckets`` — CCNet's head/middle/tail perplexity
  terciles per language;
- ``emb_pq_encode`` — product quantization (Jégou et al. 2011):
  per-subspace integer-exact codebooks + one code per subspace;
- ``sim_ann_ivfpq`` — the IVFPQ ANN stack: IVF cell candidates scored
  by asymmetric distance computation over the PQ codes, integer
  end-to-end;
- ``dq_psi_drift`` — population-stability-index drift monitor between
  two hash-split corpus windows, per source;
- ``quality_nb_train`` / ``quality_nb_score`` — trainable Bernoulli
  Naive-Bayes quality filter (fastText/CCNet recipe: bootstrap labels
  from the cheap heuristic, learn token log-odds, serve the verdict),
  trained once per session (``_NB_TRAINED`` memo);
- ``aug_span_corruption`` — deterministic T5-style span-corruption
  accounting (hash-seeded spans, overlap merge), entirely map-side;
- ``bpe_fertility`` — per-language tokenizer fertility / compression
  of the trained BPE vocabulary;
- ``mix_epoch_schedule`` — data-constrained epoch schedule: capped
  epochs per source + one exact-integer Hamilton redistribution of
  the capped-off budget (overflow-safe at any corpus size via the
  q/r product decomposition);
- ``dq_psi_token_drift`` — vocabulary-drift PSI over hashed unigrams
  (the DSIR bucketing trick), per language;
- ``dedup_substring_remove`` — keep-first-occurrence cut step of
  exact-substring dedup (idempotent, coordination-free survivor);
- ``quality_ensemble_vote`` — majority vote over the three quality
  filters (Gopher rules / logistic heuristic / trained NB);
- ``sim_recall_ivfpq`` — recall@5 of the ADC-scored IVFPQ stack vs
  the exact baseline (closing the measured-recall loop);
- ``sim_recall_clustered`` (round 11) — the same recall metrics on a
  deterministic CLUSTERED variant of the corpus (the production
  regime; the isotropic numbers are the hard-case floor);
- ``pack_curriculum_shards`` — fixed-token shards in curriculum
  order via ``functions.with_running_total`` (the scale-safe global
  prefix sum: range repartition + per-slice Arrow prefix sums +
  in-plan slice offsets);
- ``emb_whitening`` — per-dimension standardization from exact
  integer moments (z = (v·n − Σv)/√(n·Σv² − (Σv)²), one float op
  chain over exact integers; constant dims → NULL);
- ``doc_pagerank_winnow`` — two exact-integer PageRank iterations
  over the winnow fingerprint-similarity graph (template-hub
  authority, the centrality-weighting curation step);
- ``emb_pca_power_iteration`` — top principal component by
  matrix-free integer-exact power iteration (v ← Xᵀ(Xv), L∞
  renormalization — no sqrt in the loop; the 64-long round vector is
  the only driver traffic).

Same conventions as the rest of the registry: portable hashing,
integer arithmetic wherever a float boundary could flip a verdict,
DuckDB oracles composed from the SAME registered oracle text as the
stages they reuse (``ORACLES[...]`` interpolation), identical column
aliases both sides.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from .. import functions as E
from .. import pipeline as P
from ..session import lineage_cut
from . import ORACLES, query
from .pipeline_queries import (
    _COSINE_ORACLE_CORE,
    _docs,
    _embs,
    _km_dist_sql,
    _km_round_sql,
    sim_topk_cosine,
)

# ---------------------------------------------------------------------------
# IVF multiprobe ANN + its recall report
# ---------------------------------------------------------------------------

# Trained-codebook probe ranking, shared by both sim oracles below:
# identical trainer replay to the sim_ann_ivf_trained oracle, but
# ranked so consumers can bound the probe depth per side.
_SIM_PROBE_SQL = f"""
    qe AS (
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
    ), ranked AS (
      SELECT vec_id, cent_id,
             row_number() OVER (
               PARTITION BY vec_id ORDER BY dist, cent_id) AS rn
      FROM sfin
    )"""


@query(
    "sim_ann_ivf_multiprobe",
    oracle=_COSINE_ORACLE_CORE
    + f""",
    {_SIM_PROBE_SQL},
    af1 AS (SELECT vec_id, cent_id FROM ranked WHERE rn = 1),
    af2 AS (SELECT vec_id, cent_id FROM ranked WHERE rn <= 2),
    bucketed AS (
      SELECT p.vec_id, p.neighbor_id, p.c
      FROM p
      JOIN af2 qa ON qa.vec_id = p.vec_id
      JOIN af1 na ON na.vec_id = p.neighbor_id
       AND na.cent_id = qa.cent_id
    )
    SELECT vec_id, rnk, neighbor_id, cos_sim FROM (
      SELECT vec_id, neighbor_id, round(c, 6) AS cos_sim,
             row_number() OVER (
               PARTITION BY vec_id ORDER BY c DESC, neighbor_id) AS rnk
      FROM bucketed) WHERE rnk <= 5
    """,
)
def sim_ann_ivf_multiprobe(spark, sf_dir):
    """``sim_ann_ivf_trained`` with the standard IVF recall dial
    wired: each QUERY probes its TWO nearest trained cells while every
    INDEX vector stays in exactly one cell (the classic multiprobe
    asymmetry — candidates cannot duplicate because the index side is
    single-homed, so no distinct is needed), and the top-5 ranks over
    the widened candidate set.

    Same trainer, quantization, tie-breaks and cosine contract as the
    single-probe variant (shared ``kmeans_probe_assign`` helpers and
    oracle text); candidate mass is ≤ 2× single-probe and still
    Σ|cell|-bounded per query.  ``sim_recall_multiprobe`` reports the
    recall this buys.  Scale shape: the probe table is (2 rows ×
    vectors), the search an equi-join on cent_id — hash-partitioned,
    never all-pairs; one vec_id window takes the top-5 (planned as
    WindowGroupLimit, a per-partition partial top-k before the
    shuffle).

    Both pair-scan sides derive from ONE persisted embedding⋈probe
    frame, exactly like ``sim_ann_ivf_trained``'s ``ea`` — with two
    lazy sides the trainer lineage (codebook rounds + assignment
    window) re-executed per side and the join planned against
    unmaterialized estimates: measured 103 s vs 20 s at sf1 (the r10
    decade find; single-probe is 16.6 s, so the shared-cache shape is
    the expected ≈1.2× — the 5× was pure recomputation).
    """
    return _ivf_top5(_ivf_probe_frame(_embs(spark, sf_dir)), max_probe=2)


def _ivf_probe_frame(embs):
    """The shared trained-IVF search frame: embeddings with L2 norms
    joined to their nprobe=2 trained-cell assignments, PERSISTED so
    both pair-scan sides of a downstream search read one
    materialization (the r10 decade find — lazy sides re-execute the
    trainer lineage per side, 5× at sf1)."""
    e = P.with_norm(embs)
    probes = P.kmeans_probe_assign(e, k=8, iters=2, nprobe=2)
    return e.join(probes, "vec_id").persist()


def _ivf_top5(ep, max_probe: int):
    """Cosine top-5 within the trained IVF cells of ``ep``
    (``_ivf_probe_frame``'s output): query side probes its
    ``max_probe`` nearest cells, index side stays single-homed
    (probe_rank 1).  ``max_probe=2`` is ``sim_ann_ivf_multiprobe``
    byte-for-byte; ``max_probe=1`` is the single-probe search over
    the same shared frame."""
    return P.cosine_topk(
        ep.filter(F.col("probe_rank") <= max_probe),
        ep.filter(F.col("probe_rank") == 1),
        "cent_id",
    )


@query(
    "sim_recall_multiprobe",
    oracle=_COSINE_ORACLE_CORE
    + f""",
    {_SIM_PROBE_SQL},
    af1 AS (SELECT vec_id, cent_id FROM ranked WHERE rn = 1),
    af2 AS (SELECT vec_id, cent_id FROM ranked WHERE rn <= 2),
    exact5 AS (
      SELECT vec_id, neighbor_id FROM (
        SELECT vec_id, neighbor_id,
               row_number() OVER (
                 PARTITION BY vec_id ORDER BY c DESC, neighbor_id) AS rnk
        FROM p) WHERE rnk <= 5
    ), iv5 AS (
      SELECT vec_id, neighbor_id FROM (
        SELECT p.vec_id, p.neighbor_id,
               row_number() OVER (
                 PARTITION BY p.vec_id ORDER BY p.c DESC, p.neighbor_id)
                 AS rnk
        FROM p
        JOIN af1 qa ON qa.vec_id = p.vec_id
        JOIN af1 na ON na.vec_id = p.neighbor_id
         AND na.cent_id = qa.cent_id) WHERE rnk <= 5
    ), mp5 AS (
      SELECT vec_id, neighbor_id FROM (
        SELECT p.vec_id, p.neighbor_id,
               row_number() OVER (
                 PARTITION BY p.vec_id ORDER BY p.c DESC, p.neighbor_id)
                 AS rnk
        FROM p
        JOIN af2 qa ON qa.vec_id = p.vec_id
        JOIN af1 na ON na.vec_id = p.neighbor_id
         AND na.cent_id = qa.cent_id) WHERE rnk <= 5
    ), nq AS (SELECT count(DISTINCT vec_id) AS n FROM e)
    SELECT 1::BIGINT AS nprobe,
           (SELECT n FROM nq)::BIGINT AS n_queries,
           (SELECT count(*) FROM iv5 JOIN exact5
              USING (vec_id, neighbor_id))::BIGINT AS n_hits,
           round((SELECT count(*) FROM iv5 JOIN exact5
                  USING (vec_id, neighbor_id))::DOUBLE
                 / (5 * (SELECT n FROM nq)), 6) AS recall_at_5
    UNION ALL
    SELECT 2::BIGINT, (SELECT n FROM nq)::BIGINT,
           (SELECT count(*) FROM mp5 JOIN exact5
              USING (vec_id, neighbor_id))::BIGINT,
           round((SELECT count(*) FROM mp5 JOIN exact5
                  USING (vec_id, neighbor_id))::DOUBLE
                 / (5 * (SELECT n FROM nq)), 6)
    """,
)
def sim_recall_multiprobe(spark, sf_dir):
    """Recall@5 of the TRAINED IVF index at nprobe=1 and nprobe=2
    against the exact brute-force top-5 — one row per probe depth,
    quantifying exactly what the multiprobe dial buys
    (``sim_recall_at_k``'s metric, applied to the trained-codebook
    family it left unmeasured).

    Composes three independently hash-verified builders
    (``sim_topk_cosine``, ``sim_ann_ivf_trained``,
    ``sim_ann_ivf_multiprobe``); hits are an aggregate-grain join on
    (query, neighbor), so the evaluation costs a fraction of either
    index build at any corpus size.  Missing neighbors count against
    recall, per the standard definition.
    """
    from .pipeline_queries import sim_ann_ivf_trained

    exact5 = lineage_cut(spark)(
        sim_topk_cosine(spark, sf_dir)
        .filter(F.col("rnk") <= 5)
        .select("vec_id", "neighbor_id")
    )
    e = _embs(spark, sf_dir)
    n_queries = e.select("vec_id").distinct().count()
    rows = []
    for nprobe, builder in (
        (1, sim_ann_ivf_trained),
        (2, sim_ann_ivf_multiprobe),
    ):
        n_hits = (
            builder(spark, sf_dir)
            .select("vec_id", "neighbor_id")
            .join(exact5, ["vec_id", "neighbor_id"])
            .count()
        )
        rows.append((nprobe, n_queries, n_hits))
    out = spark.createDataFrame(
        rows, "nprobe long, n_queries long, n_hits long"
    )
    return out.select(
        "nprobe",
        "n_queries",
        "n_hits",
        E.round_to(
            F.col("n_hits").cast("double")
            / (F.lit(5) * F.col("n_queries")),
            6,
        ).alias("recall_at_5"),
    )


# ---------------------------------------------------------------------------
# Curriculum ordering
# ---------------------------------------------------------------------------


def _curriculum_oracle() -> str:
    return f"""
    WITH q AS ({ORACLES['quality_logreg_score']}),
    k AS (SELECT doc_id, quality_logit FROM q WHERE keep),
    n AS (SELECT count(*) AS n FROM k),
    r AS (
      SELECT doc_id, quality_logit,
             row_number() OVER (
               ORDER BY quality_logit DESC, doc_id) AS curriculum_rank
      FROM k
    )
    SELECT doc_id, quality_logit,
           curriculum_rank::BIGINT AS curriculum_rank,
           (((curriculum_rank - 1) * 4) // n.n + 1)::BIGINT AS stage
    FROM r, n
    """


@query("sample_curriculum_order", oracle=_curriculum_oracle())
def sample_curriculum_order(spark, sf_dir):
    """Deterministic quality-curriculum ordering of the TRAINING SET:
    the kept documents (``quality_logreg_score``'s keep verdict),
    globally ranked cleanest-first by the rounded quality logit
    (doc_id tie-break — a total order), and cut into four curriculum
    stages by exact integer arithmetic (``((rank-1)·4) div n + 1`` —
    no ntile, whose uneven-group boundary differs across engines).

    The global rank is DATA-SIZED (document grain), so it uses
    ``functions.with_running_total`` — range repartition, per-slice
    Arrow local ranks, in-plan slice offsets, broadcast join —
    never a single-task unpartitioned window (the r8/r9
    global-window scale class).  The stage boundary needs n, one
    bounded scalar anchor.

    Curriculum scheduling (easy→hard by a cleanliness proxy) is a
    standard pretraining data-order lever; this operator emits the
    order as a materializable table the packer/loader consumes, which
    is how a 100 TB run actually implements it (sort once, shard in
    rank order).
    """
    from .curation import quality_logreg_score

    kept = quality_logreg_score(spark, sf_dir).filter(F.col("keep")).select(
        "doc_id", "quality_logit"
    )
    n = kept.count()
    ranked = E.with_running_total(
        kept,
        order=[F.desc("quality_logit"), F.asc("doc_id")],
        out_col="curriculum_rank",
    )
    return ranked.select(
        "doc_id",
        "quality_logit",
        F.col("curriculum_rank").cast("long").alias("curriculum_rank"),
        F.expr(
            f"CAST((curriculum_rank - 1) * 4 DIV {n} + 1 AS BIGINT)"
        ).alias("stage"),
    )


# ---------------------------------------------------------------------------
# Exact integer token-budget allocation (Hamilton / largest remainder)
# ---------------------------------------------------------------------------

ALLOC_BUDGET = 1_000_000  # tokens to allocate across source domains


@query(
    "mix_token_budget_allocation",
    oracle=f"""
    WITH s AS (
      SELECT source, count(*) AS n_docs,
             sum(len(string_split(lower(text), ' ')))::BIGINT AS n_tokens
      FROM documents GROUP BY source
    ), t AS (
      SELECT *, (SELECT sum(n_tokens) FROM s) AS tot FROM s
    ), q AS (
      SELECT source, n_tokens,
             CAST(floor(sqrt(n_tokens / tot) * 1000000) AS BIGINT)
               AS micro_w
      FROM t
    ), nrm AS (
      SELECT *, (SELECT sum(micro_w) FROM q) AS norm FROM q
    ), base AS (
      SELECT source, n_tokens, micro_w, norm,
             ({ALLOC_BUDGET} * micro_w) // norm AS base_alloc,
             ({ALLOC_BUDGET} * micro_w) % norm AS rem
      FROM nrm
    ), ranked AS (
      SELECT *,
             row_number() OVER (ORDER BY rem DESC, source) AS rem_rank,
             (SELECT {ALLOC_BUDGET} - sum(base_alloc) FROM base)
               AS shortfall
      FROM base
    )
    SELECT source, n_tokens,
           round(micro_w / norm, 6) AS mix_weight,
           (base_alloc
            + CASE WHEN rem_rank <= shortfall THEN 1 ELSE 0 END)::BIGINT
             AS alloc_tokens
    FROM ranked
    """,
)
def mix_token_budget_allocation(spark, sf_dir):
    """EXACT integer allocation of a fixed token budget across source
    domains under the temperature-scaled mixture
    (``mix_domain_weights``'s α=0.5 weights): Hamilton /
    largest-remainder apportionment — floor the proportional share,
    then give the leftover tokens to the largest remainders
    (deterministic source tie-break).  Σ alloc_tokens == BUDGET
    exactly, which is the property a shard planner needs (floats
    "summing to ~1" lose or invent tokens at the boundary).

    Entirely integer arithmetic on BOTH engines: the quantized weight
    ``micro_w`` and its normalizer are the same order-free integers
    ``mix_domain_weights`` builds; shares divide as
    ``(B·micro_w) div norm`` with the remainder compared as
    ``(B·micro_w) mod norm`` — no float crosses a verdict boundary
    anywhere (B·micro_w ≤ 1e12 — far inside BIGINT).

    Scale: one map-combinable groupBy(source); every window runs over
    the source-domain grain — catalog-bounded by construction, the
    GLOBAL_WINDOW_ALLOW category (b) shape, same as
    ``mix_domain_weights`` itself.
    """
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    s = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split(F.lower(F.col("text")), " ")))
        .cast("long")
        .alias("n_tokens"),
    )
    w_all = Window.partitionBy()
    t = s.withColumn("tot", F.sum("n_tokens").over(w_all))
    q = t.withColumn(
        "micro_w",
        F.floor(F.sqrt(F.col("n_tokens") / F.col("tot")) * 1000000).cast(
            "long"
        ),
    )
    nrm = q.withColumn("norm", F.sum("micro_w").over(w_all))
    base = nrm.withColumn(
        "base_alloc",
        F.expr(f"CAST({ALLOC_BUDGET} * micro_w DIV norm AS BIGINT)"),
    ).withColumn(
        "rem", F.expr(f"CAST({ALLOC_BUDGET} * micro_w % norm AS BIGINT)")
    )
    ranked = base.withColumn(
        "rem_rank",
        F.row_number().over(Window.orderBy(F.desc("rem"), F.asc("source"))),
    ).withColumn(
        "shortfall",
        F.lit(ALLOC_BUDGET) - F.sum("base_alloc").over(w_all),
    )
    return ranked.select(
        "source",
        "n_tokens",
        E.round_to(F.col("micro_w") / F.col("norm"), 6).alias("mix_weight"),
        (
            F.col("base_alloc")
            + F.when(F.col("rem_rank") <= F.col("shortfall"), 1).otherwise(0)
        )
        .cast("long")
        .alias("alloc_tokens"),
    )


# ---------------------------------------------------------------------------
# CCNet perplexity buckets
# ---------------------------------------------------------------------------


def _ccnet_oracle() -> str:
    return f"""
    WITH ppl AS ({ORACLES['text_perplexity_proxy']}),
    j AS (
      SELECT ppl.doc_id, d.lang, ppl.avg_neg_log_p
      FROM ppl JOIN documents d ON d.doc_id = ppl.doc_id
    ), r AS (
      SELECT doc_id, lang, avg_neg_log_p,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY avg_neg_log_p, doc_id) AS ppl_rank_in_lang,
             count(*) OVER (PARTITION BY lang) AS n_lang
      FROM j
    )
    SELECT doc_id, lang, avg_neg_log_p,
           ppl_rank_in_lang::BIGINT AS ppl_rank_in_lang,
           CASE ((ppl_rank_in_lang - 1) * 3) // n_lang
             WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail'
           END AS bucket
    FROM r
    """


@query("text_ccnet_buckets", oracle=_ccnet_oracle())
def text_ccnet_buckets(spark, sf_dir):
    """CCNet's head/middle/tail split: per LANGUAGE, rank documents by
    unigram perplexity (``text_perplexity_proxy``'s micro-nat exact
    surprisal) ascending and cut exact terciles — head is the lowest
    third (cleanest), tail the highest (noisiest), the split CCNet
    publishes and downstream filters key on.

    Terciles by exact integer arithmetic (``((rank-1)·3) div n_lang``)
    — not ntile, whose uneven-group boundary is engine-specific; the
    rank's (perplexity, doc_id) order is total because the perplexity
    is an order-free integer micro-nat mean rounded to 6 decimals on
    both engines.

    Scale: composes the verified perplexity stage (two shuffles) plus
    the per-language rank via ``functions.with_running_total``
    — a lang-PARTITIONED window is not a safe shape here, because the
    grouping key is catalog-sized but each group's row count is
    DATA-sized: a monolingual corpus would sort nearly all documents
    in ONE window task.  The grouped slice-offset rank keeps every
    stage bounded (range repartition on (lang, ppl, doc), per-slice
    Arrow ranks resetting at group boundaries, slices×languages
    offset metadata).  ``n_lang`` comes from a map-combinable
    aggregate joined back (languages are catalog-bounded), not a
    count window over the doc stream.
    """
    from .pipeline_queries import text_perplexity_proxy

    ppl = text_perplexity_proxy(spark, sf_dir).select(
        "doc_id", "avg_neg_log_p"
    )
    d = _docs(spark, sf_dir).select("doc_id", "lang")
    j = ppl.join(d, "doc_id")
    ranked = E.with_running_total(
        j,
        order=[F.asc("avg_neg_log_p"), F.asc("doc_id")],
        out_col="ppl_rank_in_lang",
        group="lang",
    )
    nl = j.groupBy("lang").agg(F.count("*").alias("n_lang"))
    r = ranked.join(F.broadcast(nl), "lang").withColumn(
        "ppl_rank_in_lang", F.col("ppl_rank_in_lang").cast("long")
    )
    bucket_idx = F.expr("(ppl_rank_in_lang - 1) * 3 DIV n_lang")
    return r.select(
        "doc_id",
        "lang",
        "avg_neg_log_p",
        "ppl_rank_in_lang",
        F.when(bucket_idx == 0, "head")
        .when(bucket_idx == 1, "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


# ---------------------------------------------------------------------------
# Product quantization
# ---------------------------------------------------------------------------

PQ_SUBSPACES = 4   # M: subvectors per embedding
PQ_SUBDIMS = 16    # dims per subspace (M * SUBDIMS == 64, the corpus dim)
PQ_K = 4           # codebook size per subspace
PQ_ITERS = 2       # Lloyd rounds of each subspace codebook trainer


def _pq_oracle() -> str:
    chains, outs = [], []
    for m in range(PQ_SUBSPACES):
        lo, hi = m * PQ_SUBDIMS + 1, (m + 1) * PQ_SUBDIMS
        pfx = f"pq{m}"
        chains.append(
            f"""
    qe{m} AS (
      -- whole-vector validity (one corrupt component voids ALL of a
      -- vector's codes, keeping the vec set identical across
      -- subspaces), then the subspace slice is quantized
      SELECT vec_id,
             [CAST(floor(x::DOUBLE * 1000000.0) AS BIGINT)
              for x in embedding[{lo}:{hi}]] AS qv
      FROM embeddings
      WHERE isfinite(list_sum([abs(x::DOUBLE) for x in embedding]))
        AND len(list_filter(embedding, x -> x IS NULL)) = 0
    ), {pfx}c0 AS (
      SELECT vec_id AS cent_id, qv AS cvec FROM qe{m}
      WHERE vec_id < {PQ_K}
    ),{_km_round_sql(1, f'{pfx}c0', qe=f'qe{m}', dims=PQ_SUBDIMS, pfx=pfx)},
    {_km_round_sql(2, f'{pfx}c1', qe=f'qe{m}', dims=PQ_SUBDIMS, pfx=pfx)},
    {pfx}f AS (
      SELECT e2.vec_id, c.cent_id,
             {_km_dist_sql('e2.qv', 'c.cvec')} AS dist
      FROM qe{m} e2, {pfx}c2 c
    ), {pfx}out AS (
      SELECT vec_id, {m}::BIGINT AS subspace, cent_id AS code,
             dist AS dist_q
      FROM (
        SELECT vec_id, cent_id, dist,
               row_number() OVER (
                 PARTITION BY vec_id ORDER BY dist, cent_id) AS rn
        FROM {pfx}f) WHERE rn = 1
    )"""
        )
        outs.append(f"SELECT * FROM {pfx}out")
    return (
        "WITH " + ",".join(chains) + "\n" + "\nUNION ALL\n".join(outs)
    )


@query("emb_pq_encode", oracle=_pq_oracle())
def emb_pq_encode(spark, sf_dir):
    """Product quantization (Jégou et al. 2011) — THE ANN compression
    every 100 TB vector store runs: split each embedding into
    ``PQ_SUBSPACES`` subvectors, train an independent integer-exact
    k-means codebook per subspace (same trainer, init and tie-breaks
    as ``emb_kmeans_train`` — bit-reproducible, SQL-replayable), and
    encode every vector as one code per subspace.  Storage drops from
    64 floats to M small codes; ``dist_q`` is the per-subspace
    quantization error (its sum over a vector's rows is the total
    reconstruction error, the metric that tunes M and K).

    Validity is whole-vector: one corrupt component voids ALL of a
    vector's codes, keeping the encoded vec set identical across
    subspaces (a per-slice filter would give a vector codes in some
    subspaces only — unreconstructable).

    Scale shape (round-13 fusion, guide §4.2/§2.3): ALL M subspace
    codebooks train in ONE Lloyd loop over the cached quantized
    corpus — per round one vectorized Arrow pass + one partial-cell
    exchange + one model-sized collect (slicing the quantized full
    vector IS quantizing the slice, so trajectories are bit-identical
    to M independent trainers); the encode is one map-only assignment
    pass emitting all M codes.  At deployment the codebooks are
    trained on a sample and shipped as artifacts; the encode pass is
    embarrassingly parallel.
    """
    # spread: the trainer rounds are map-side passes whose
    # parallelism is capped by this frame's split count (one split on
    # the toy parquet scan; no-op on a real many-split corpus) — the
    # same fan-out guard the deployment-IVFPQ stack carries.
    e = P.spread(_embs(spark, sf_dir).filter(P.finite_vec("embedding")))
    q = P._kmeans_quantize_valid(e)
    spec_train = [
        (m * PQ_SUBDIMS, (m + 1) * PQ_SUBDIMS, PQ_K, 2)
        for m in range(PQ_SUBSPACES)
    ]
    cbs = P._pq_train(q, spec_train)
    spec_assign = [
        (m, m * PQ_SUBDIMS, (m + 1) * PQ_SUBDIMS, 1)
        for m in range(PQ_SUBSPACES)
    ]
    return P._pq_assign(q, cbs, spec_assign, with_subspace=True).select(
        "vec_id",
        "subspace",
        F.col("cent_id").alias("code"),
        F.col("dist").alias("dist_q"),
    )


def _ivfpq_oracle() -> str:
    pq_chains, luts, codes = [], [], []
    for m in range(PQ_SUBSPACES):
        lo, hi = m * PQ_SUBDIMS + 1, (m + 1) * PQ_SUBDIMS
        pfx = f"pq{m}"
        pq_chains.append(
            f"""
    qe{m} AS (
      SELECT vec_id,
             [CAST(floor(x::DOUBLE * 1000000.0) AS BIGINT)
              for x in embedding[{lo}:{hi}]] AS qv
      FROM embeddings
      WHERE isfinite(list_sum([abs(x::DOUBLE) for x in embedding]))
        AND len(list_filter(embedding, x -> x IS NULL)) = 0
    ), {pfx}c0 AS (
      SELECT vec_id AS cent_id, qv AS cvec FROM qe{m}
      WHERE vec_id < {PQ_K}
    ),{_km_round_sql(1, f'{pfx}c0', qe=f'qe{m}', dims=PQ_SUBDIMS, pfx=pfx)},
    {_km_round_sql(2, f'{pfx}c1', qe=f'qe{m}', dims=PQ_SUBDIMS, pfx=pfx)},
    lut{m} AS (
      SELECT e2.vec_id, {m}::BIGINT AS subspace, c.cent_id AS code,
             {_km_dist_sql('e2.qv', 'c.cvec')} AS dist
      FROM qe{m} e2, {pfx}c2 c
    ), code{m} AS (
      SELECT vec_id, subspace, code FROM (
        SELECT vec_id, subspace, code,
               row_number() OVER (
                 PARTITION BY vec_id ORDER BY dist, code) AS rn
        FROM lut{m}) WHERE rn = 1
    )"""
        )
        luts.append(f"SELECT * FROM lut{m}")
        codes.append(f"SELECT * FROM code{m}")
    lut_union = "\nUNION ALL\n".join(luts)
    code_union = "\nUNION ALL\n".join(codes)
    return f"""
    WITH {_SIM_PROBE_SQL},
    af AS (SELECT vec_id, cent_id FROM ranked WHERE rn = 1),
    {",".join(pq_chains)},
    lut AS ({lut_union}),
    codes AS ({code_union}),
    cand AS (
      SELECT a.vec_id, b.vec_id AS neighbor_id
      FROM af a JOIN af b
        ON a.cent_id = b.cent_id AND a.vec_id <> b.vec_id
    ), j AS (
      SELECT cand.vec_id, cand.neighbor_id, c.subspace, c.code
      FROM cand JOIN codes c ON c.vec_id = cand.neighbor_id
    ), s AS (
      SELECT j.vec_id, j.neighbor_id,
             CAST(sum(l.dist) AS BIGINT) AS adc_dist
      FROM j JOIN lut l
        ON l.vec_id = j.vec_id AND l.subspace = j.subspace
       AND l.code = j.code
      GROUP BY j.vec_id, j.neighbor_id
    )
    SELECT vec_id, rnk, neighbor_id, adc_dist FROM (
      SELECT vec_id, neighbor_id, adc_dist,
             row_number() OVER (
               PARTITION BY vec_id ORDER BY adc_dist, neighbor_id) AS rnk
      FROM s) WHERE rnk <= 5
    """


@query("sim_ann_ivfpq", oracle=_ivfpq_oracle())
def sim_ann_ivfpq(spark, sf_dir):
    """IVFPQ — the memory-bounded ANN production stack (Jégou et al.
    2011; the FAISS default at billion scale): IVF restricts
    candidates to the query's trained cell, and each candidate's
    distance is computed from its PRODUCT-QUANTIZED codes via
    asymmetric distance computation (ADC) — a table lookup per
    subspace instead of a 64-dim dot product, against codes that are
    ~32× smaller than the raw vectors.  That two-level structure is
    what lets a 100 TB corpus keep its whole index in memory.

    Everything is INTEGER end-to-end: the IVF cells, the per-subspace
    codebooks, the per-(query, code) lookup tables, and the summed
    ADC distance all ride the micro-unit quantized trainer, so the
    DuckDB oracle replays the full stack bit-for-bit — no float
    enters until nothing is left to compare.

    Scale shape: codebook training is the bounded-BNLJ pattern (one
    IVF trainer + M subspace trainers over sliced projections); the
    lookup table is (vectors × K × M) rows — LINEAR in the corpus,
    built by one broadcast fan-out per subspace; the search is
    equi-joins on (cent_id) and (vec_id, subspace, code) plus one
    map-combinable 4-row groupBy per candidate pair.  ADC recall
    tracks ``sim_recall_multiprobe``'s IVF numbers minus quantization
    loss — tune M/K (and nprobe, composable with
    ``kmeans_probe_assign``) against it.
    """
    return _ivfpq_top5(_embs(spark, sf_dir).filter(P.finite_vec("embedding")))


def _ivfpq_top5(e, subspaces: int = PQ_SUBSPACES, subdims: int = PQ_SUBDIMS,
                pq_k: int = PQ_K, nprobe: int = 1,
                rerank: int | None = None, coarse_k: int = 8):
    """The full IVFPQ ADC top-5 over an arbitrary valid-vector frame —
    ``sim_ann_ivfpq``'s body, frame-parameterized so the clustered
    recall fixture (``sim_recall_clustered``) runs the identical stack
    on a derived corpus.  ``subspaces``/``subdims``/``pq_k`` are the
    M/K dial, trained ``PQ_ITERS`` rounds (defaults keep the registered
    query byte-identical); ``nprobe`` is the IVF coarse-level recall
    dial (candidates = vectors sharing ANY of the query's ``nprobe``
    nearest cells, deduplicated); ``rerank=R`` appends the IVFADC+R
    refinement (Jégou et al., ICASSP 2011; FAISS IndexRefineFlat):
    keep the ADC top-R shortlist per query and re-rank it by the
    EXACT integer distance on the quantized raw vectors — the
    standard production answer when true-neighbor distance gaps sit
    below ADC resolution, at the bounded cost of touching R raw
    vectors per query.  SCALE.md (Round-11 changes) records the dial
    sweep; ``sim_ann_ivfpq_normalized`` registers the deployment
    setting.
    ``coarse_k`` is the IVF cell-count dial: fixed k makes candidate
    mass Σ|cell|² ≈ N²·nprobe/k quadratic in the corpus —
    ``sim_ann_ivfpq_scaled_k`` feeds it k ∝ N for the linear
    deployment contract (cell size pinned at ``NPQ_TARGET_CELL``)."""
    from pyspark.sql import Window

    # Fan-out parallelism guard: every trainer/assignment below is a
    # map-side broadcast fan-out over THIS frame, so its partition
    # count caps the whole stack's parallelism.  A real corpus
    # arrives in many input splits; the local parquet fixtures arrive
    # as ONE (50k vectors ≪ maxPartitionBytes), which serialized the
    # N·k assignment onto a single core at sf10.  Results are
    # partitioning-independent by construction (integer sums are
    # order-free, every rank tie-breaks on ids), so this is purely a
    # cost fix — and a no-op whenever the scan is already split.
    e = P.spread(e)

    # Round-13 fusion (guide §4.2, §2.3, §1.2): the coarse IVF trainer
    # and ALL ``subspaces`` PQ trainers share ONE Lloyd loop over the
    # same cached quantized corpus (slicing the quantized full vector
    # IS quantizing the slice — floor(x·1e6) is per-component), so a
    # training round is one vectorized Arrow pass + one partial-cell
    # exchange + one model-sized collect instead of 1+M independent
    # trainers each re-deriving scan→slice→quantize per round; cell
    # homing and every per-subspace LUT then come out of ONE map-only
    # assignment pass.  Trajectories, tie-breaks, and row sets are
    # bit-identical to the per-subspace form (same init, same exact
    # integer distances — the whole-vector finite_vec filter already
    # implies every slice's, so the corpus is the same frame).
    qfull = P._kmeans_quantize_valid(e)
    spec_train = [(0, None, coarse_k, 2)] + [
        (m * subdims, (m + 1) * subdims, pq_k, PQ_ITERS)
        for m in range(subspaces)
    ]
    cbs = P._pq_train(qfull, spec_train)
    # IVF cells (full-vector trained codebook, nprobe-homed)
    cell = (
        P._pq_assign(qfull, [cbs[0]], [(-1, 0, None, nprobe)])
        .select("vec_id", "cent_id")
        .persist()
    )
    # Per-vector ADC state in ONE map-only pass: codes (M dense
    # positions = argmins) + the M×K LUT as per-row arrays — the
    # production ADC contract (a query's LUT travels ONCE; candidates
    # carry only codes), replacing the K-fan-out LUT rows, the
    # (vec_id, subspace, code) 3-key join, and the per-pair groupBy
    # (guide §8: decide with small rows, attach heavy bytes once).
    sub_slices = [
        (m * subdims, (m + 1) * subdims) for m in range(subspaces)
    ]
    lc = P._pq_lut_codes(qfull, cbs[1:], sub_slices).persist()
    ca = cell.select("vec_id", "cent_id")
    cb = cell.select(F.col("vec_id").alias("neighbor_id"), "cent_id")
    cand = ca.join(cb, "cent_id").filter(
        F.col("vec_id") != F.col("neighbor_id")
    ).select("vec_id", "neighbor_id")
    if nprobe > 1:
        # a pair sharing MORE than one probed cell would otherwise
        # enter ADC twice and double its summed distance
        cand = cand.distinct()
    # candidates pick up the neighbor's M codes (narrow longs,
    # flattened with the id so the kernel decodes one rectangular
    # int64 array per query), group per query, then the query's LUT
    # joins ONCE per query row — candidate mass crosses the exchanges
    # as (id + M codes), never as K-sized rows.
    nbr = cand.join(
        lc.select(
            F.col("vec_id").alias("neighbor_id"),
            F.concat(
                F.array(F.col("vec_id")), F.col("codes")
            ).alias("nc"),
        ),
        "neighbor_id",
    )
    grouped = nbr.groupBy("vec_id").agg(
        F.collect_list("nc").alias("nbrs")
    )
    scored_in = grouped.join(lc.select("vec_id", "luts"), "vec_id")
    topn = 5 if rerank is None else rerank

    def _adc(it_pdf, _topn=topn, _m=subspaces):
        import numpy as np
        import pandas as pd

        mgrid = np.arange(_m, dtype=np.int64)[None, :]
        for pdf in it_pdf:
            vs, rs, ns, ds = [], [], [], []
            for vid, nbrs, luts in zip(
                pdf["vec_id"], pdf["nbrs"], pdf["luts"]
            ):
                A = np.array(list(nbrs), dtype=np.int64)
                L = np.array(list(luts), dtype=np.int64)
                adc = L[mgrid, A[:, 1:]].sum(axis=1)
                order = np.lexsort((A[:, 0], adc))[:_topn]
                t = len(order)
                vs.append(np.full(t, vid, np.int64))
                rs.append(np.arange(1, t + 1, dtype=np.int32))
                ns.append(A[order, 0])
                ds.append(adc[order])
            if vs:
                yield pd.DataFrame(
                    {
                        "vec_id": np.concatenate(vs),
                        "rnk": np.concatenate(rs),
                        "neighbor_id": np.concatenate(ns),
                        "adc_dist": np.concatenate(ds),
                    }
                )

    topped = scored_in.mapInPandas(
        _adc, "vec_id long, rnk int, neighbor_id long, adc_dist long"
    )
    if rerank is None:
        # the kernel's (adc_dist, neighbor_id) lexsort IS the old
        # per-query row_number window — top-5 comes out directly
        return topped.select("vec_id", "rnk", "neighbor_id", "adc_dist")
    # IVFADC+R: exact integer re-rank of the ADC top-R shortlist —
    # only R quantized raw vectors per query leave the compressed
    # index, the bounded refinement cost the paper trades for recall
    short = topped.select("vec_id", "neighbor_id")
    qa = qfull.select("vec_id", F.col("qv").alias("__qa"))
    qb = qfull.select(
        F.col("vec_id").alias("neighbor_id"), F.col("qv").alias("__qb")
    )
    edist = F.aggregate(
        F.zip_with("__qa", "__qb", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    ex = (
        short.join(qa, "vec_id")
        .join(qb, "neighbor_id")
        .withColumn("dist_q", edist)
    )
    w2 = Window.partitionBy("vec_id").orderBy(
        F.asc("dist_q"), F.asc("neighbor_id")
    )
    return (
        ex.withColumn("rnk", F.row_number().over(w2))
        .filter(F.col("rnk") <= 5)
        .select("vec_id", "rnk", "neighbor_id", "dist_q")
    )


# ---------------------------------------------------------------------------
# Deployment-dial IVFPQ: normalize + K=256 codebooks + multiprobe cells
# ---------------------------------------------------------------------------

NPQ_SUBSPACES = 8   # M: deployment subvector count (FAISS-typical)
NPQ_SUBDIMS = 8     # dims per subspace (M * SUBDIMS == 64)
NPQ_K = 256         # codebook size per subspace (8 bits/code)
NPQ_NPROBE = 2      # IVF coarse probe depth
NPQ_RERANK = 32     # IVFADC+R shortlist: exact re-rank of ADC top-R
NPQ_TARGET_CELL = 50  # scaled-k dial: vectors per coarse cell target


def _scaled_coarse_k(n: int) -> int:
    """Corpus-scaled IVF cell count: k = max(8, ceil(N / target cell
    size)).  Pinning CELL SIZE instead of cell COUNT makes candidate
    mass per query ≈ nprobe × NPQ_TARGET_CELL — constant in N — so
    total search cost is linear where the fixed-k demos are quadratic
    (SCALE.md's measured α₂ = +0.69 on ``sim_ann_ivfpq_normalized``
    sf0.1→sf1).  The floor keeps toy corpora on the verified k=8
    geometry."""
    return max(8, -(-n // NPQ_TARGET_CELL))


def _unit_embs(e):
    """Unit-normalized valid vectors: ``(vec_id, embedding)`` with
    ``embedding := x / ||x||`` as raw IEEE doubles (NO rounding — the
    PQ stack's own micro-unit quantization is the determinism
    boundary).  Zero-norm and corrupt vectors are dropped up front:
    the norm is finite-positive iff every component is finite (Σv²
    finite ⇒ each v² finite), so the single predicate is the whole
    validity check, mirrored verbatim by the oracle's WHERE.  Both
    engines compute the identical op sequence — float→double cast,
    left-to-right Σv², sqrt, per-component divide — so the derived
    doubles are bit-identical (the ``emb_l2_normalize`` precedent)."""
    ss = F.aggregate(
        F.transform("embedding", lambda v: v.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v * v,
    )
    u = e.select("vec_id", "embedding", F.sqrt(ss).alias("nrm"))
    # divide by the GUARDED norm (NULL when zero/NaN/Inf), never the
    # raw one: Catalyst collapses the downstream finite_vec filter
    # into one predicate with this projection, so the division runs
    # for zero-norm rows BEFORE the row filter can drop them — under
    # ANSI that's a DIVIDE_BY_ZERO abort (found by the zerovec
    # hostile-corpus replay; same pattern as pipeline.l2_normalize).
    safe = F.when(
        (F.col("nrm") > 0) & (F.col("nrm") < F.lit(float("inf"))),
        F.col("nrm"),
    )
    return u.filter(
        ~F.isnan("nrm")
        & (F.col("nrm") > 0)
        & (F.col("nrm") < F.lit(float("inf")))
    ).select(
        "vec_id",
        F.transform(
            "embedding", lambda v: v.cast("double") / safe
        ).alias("embedding"),
    )


def _ivfpq_norm_oracle(scaled_k: bool = False) -> str:
    """DuckDB replay of the normalized IVFPQ stack: the ``uemb`` CTE
    derives the unit corpus exactly as ``_unit_embs``, then the
    standard unrolled trainers run over it — one coarse IVF codebook
    (k=8 fixed, or ``scaled_k=True`` for the corpus-scaled dial:
    k = greatest(8, ceil(N / {NPQ_TARGET_CELL})) via the ``kdial``
    scalar subquery, mirroring ``_scaled_coarse_k`` — the Lloyd
    rounds are k-agnostic, only the first-k init names k) probed to
    depth {NPQ_NPROBE}, M={NPQ_SUBSPACES}
    independent K={NPQ_K} subspace codebooks for the ADC scoring,
    then the IVFADC+R stage: exact integer re-rank of the ADC
    top-{NPQ_RERANK} shortlist.  Same integer-exact machinery as
    ``_ivfpq_oracle``; the corpus, the dial constants, the multiprobe
    candidate set (DISTINCT — a pair sharing two probed cells must
    not double its ADC sum) and the refinement stage differ.

    The inner NULL-component guard is load-bearing: DuckDB's
    ``list_sum`` SKIPS NULL elements, so ``[NULL, 1.0, ...]`` would
    get a finite positive ``nrm`` and stay in the oracle corpus, while
    Spark's ``_unit_embs`` fold propagates NULL (nrm NULL → row
    dropped) — the same divergence the qe{m} CTEs of ``_pq_oracle`` /
    ``_ivfpq_oracle`` close with the identical predicate (round-12
    ADVICE)."""
    pq_chains, luts, codes = [], [], []
    for m in range(NPQ_SUBSPACES):
        lo, hi = m * NPQ_SUBDIMS + 1, (m + 1) * NPQ_SUBDIMS
        pfx = f"npq{m}"
        pq_chains.append(
            f"""
    nqe{m} AS (
      SELECT vec_id,
             [CAST(floor(x * 1000000.0) AS BIGINT)
              for x in embedding[{lo}:{hi}]] AS qv
      FROM uemb
    ), {pfx}c0 AS (
      SELECT vec_id AS cent_id, qv AS cvec FROM nqe{m}
      WHERE vec_id < {NPQ_K}
    ),{_km_round_sql(1, f'{pfx}c0', qe=f'nqe{m}', dims=NPQ_SUBDIMS, pfx=pfx)},
    {_km_round_sql(2, f'{pfx}c1', qe=f'nqe{m}', dims=NPQ_SUBDIMS, pfx=pfx)},
    nlut{m} AS (
      SELECT e2.vec_id, {m}::BIGINT AS subspace, c.cent_id AS code,
             {_km_dist_sql('e2.qv', 'c.cvec')} AS dist
      FROM nqe{m} e2, {pfx}c2 c
    ), ncode{m} AS (
      SELECT vec_id, subspace, code FROM (
        SELECT vec_id, subspace, code,
               row_number() OVER (
                 PARTITION BY vec_id ORDER BY dist, code) AS rn
        FROM nlut{m}) WHERE rn = 1
    )"""
        )
        luts.append(f"SELECT * FROM nlut{m}")
        codes.append(f"SELECT * FROM ncode{m}")
    lut_union = "\nUNION ALL\n".join(luts)
    code_union = "\nUNION ALL\n".join(codes)
    if scaled_k:
        kdial_cte = f"""kdial AS (
      SELECT greatest(8, CAST(ceil(count(*) / {NPQ_TARGET_CELL}.0)
                              AS BIGINT)) AS k
      FROM uemb
    ),
    """
        init_pred = "vec_id < (SELECT k FROM kdial)"
    else:
        kdial_cte = ""
        init_pred = "vec_id < 8"
    return f"""
    WITH uemb AS (
      SELECT vec_id,
             [x::DOUBLE / nrm for x in embedding] AS embedding
      FROM (
        SELECT vec_id, embedding,
               sqrt(list_sum([(x::DOUBLE) * (x::DOUBLE)
                              for x in embedding])) AS nrm
        FROM embeddings
        WHERE len(list_filter(embedding, x -> x IS NULL)) = 0
      )
      WHERE isfinite(nrm) AND nrm > 0
    ),
    {kdial_cte}nqf AS (
      SELECT vec_id,
             [CAST(floor(x * 1000000.0) AS BIGINT)
              for x in embedding] AS qv
      FROM uemb
    ), nivc0 AS (
      SELECT vec_id AS cent_id, qv AS cvec FROM nqf WHERE {init_pred}
    ),{_km_round_sql(1, 'nivc0', qe='nqf', dims=64, pfx='niv')},
    {_km_round_sql(2, 'nivc1', qe='nqf', dims=64, pfx='niv')},
    nsf AS (
      SELECT e2.vec_id, c.cent_id,
             {_km_dist_sql('e2.qv', 'c.cvec')} AS dist
      FROM nqf e2, nivc2 c
    ), nranked AS (
      SELECT vec_id, cent_id,
             row_number() OVER (
               PARTITION BY vec_id ORDER BY dist, cent_id) AS rn
      FROM nsf
    ), naf AS (
      SELECT vec_id, cent_id FROM nranked WHERE rn <= {NPQ_NPROBE}
    ),
    {",".join(pq_chains)},
    nlut AS ({lut_union}),
    ncodes AS ({code_union}),
    ncand AS (
      SELECT DISTINCT a.vec_id, b.vec_id AS neighbor_id
      FROM naf a JOIN naf b
        ON a.cent_id = b.cent_id AND a.vec_id <> b.vec_id
    ), nj AS (
      SELECT ncand.vec_id, ncand.neighbor_id, c.subspace, c.code
      FROM ncand JOIN ncodes c ON c.vec_id = ncand.neighbor_id
    ), ns AS (
      SELECT nj.vec_id, nj.neighbor_id,
             CAST(sum(l.dist) AS BIGINT) AS adc_dist
      FROM nj JOIN nlut l
        ON l.vec_id = nj.vec_id AND l.subspace = nj.subspace
       AND l.code = nj.code
      GROUP BY nj.vec_id, nj.neighbor_id
    ), nshort AS (
      SELECT vec_id, neighbor_id FROM (
        SELECT vec_id, neighbor_id,
               row_number() OVER (
                 PARTITION BY vec_id ORDER BY adc_dist, neighbor_id)
                 AS arnk
        FROM ns) WHERE arnk <= {NPQ_RERANK}
    ), nex AS (
      SELECT s.vec_id, s.neighbor_id,
             {_km_dist_sql('a.qv', 'b.qv')} AS dist_q
      FROM nshort s
      JOIN nqf a ON a.vec_id = s.vec_id
      JOIN nqf b ON b.vec_id = s.neighbor_id
    )
    SELECT vec_id, rnk, neighbor_id, dist_q FROM (
      SELECT vec_id, neighbor_id, dist_q,
             row_number() OVER (
               PARTITION BY vec_id ORDER BY dist_q, neighbor_id) AS rnk
      FROM nex) WHERE rnk <= 5
    """


@query("sim_ann_ivfpq_normalized", oracle=_ivfpq_norm_oracle())
def sim_ann_ivfpq_normalized(spark, sf_dir):
    """IVFPQ at the DEPLOYMENT dial — the registered answer to the
    demo configuration's honest weakness (``sim_ann_ivfpq``: M=4,
    K=4 = 8 bits/vec, recall@5 0.126 on the clustered fixture).  The
    round-11 dial sweep (SCALE.md, Round-11 changes) decomposed
    that miss into three independent factors and this variant turns
    every named fix on:

    - **normalize first** (``_unit_embs``): ADC ranks by L2; on unit
      vectors L2 order == cosine order, so the ~0.20 metric-mismatch
      loss vanishes (the FAISS recipe);
    - **K={NPQ_K} codebooks, M={NPQ_SUBSPACES} subspaces** (64
      bits/vec): in-bucket ADC ordering was the 0.67 binder at 96
      bits — 8-bit codes per subspace are the standard production
      resolution;
    - **multiprobe cells** (IVF nprobe={NPQ_NPROBE}): the coarse
      bucketing factor, 0.78 at single probe on the clustered
      fixture, 1.00 at depth 2 (``sim_recall_clustered``);
    - **exact re-rank of the ADC top-{NPQ_RERANK}** (IVFADC+R —
      Jégou et al., ICASSP 2011; FAISS IndexRefineFlat): measured on
      this fixture, normalize+K=256+multiprobe alone reads 0.52 —
      the in-cluster true-distance gaps sit BELOW 64-bit ADC
      resolution (residual encoding was prototyped and reads 0.54,
      barely better), so the production answer is the paper's: ADC
      builds a shortlist, the exact distance on {NPQ_RERANK} raw
      vectors per query decides the final order.  Measured recall@5:
      0.994 at R=32 (1.000 at R=64).

    ``sim_recall_clustered`` carries this stack's recall row, gated
    ≥ 0.8 by ``tests/test_training_ops.py`` — the deployment-credible
    registered configuration VERDICT r11 asked for.  Same integer-
    exact trainer and ADC as the demo (``_ivfpq_top5`` — one code
    path, three dials), so the DuckDB oracle replays THIS stack
    bit-for-bit too: K=256 training stays replayable because init and
    tie-breaks are deterministic at any K, and the re-rank is an
    integer distance on the quantized vectors.

    Scale: identical shapes to ``sim_ann_ivfpq`` — bounded-codebook
    BNLJ trainers (256-row build sides are still broadcast-trivial),
    LUT linear in the corpus at K·M rows per vector, equi-join +
    8-row-groupBy search; multiprobe doubles candidate mass, still
    Σ|cell|²-bounded; the refinement touches R quantized vectors per
    query — a bounded per-query cost, never a second scan.  At
    100 TB the codebooks train on a sample and ship as artifacts;
    nothing here is data-sized beyond the LUT.
    """
    return _ivfpq_top5(
        _unit_embs(_embs(spark, sf_dir)),
        subspaces=NPQ_SUBSPACES,
        subdims=NPQ_SUBDIMS,
        pq_k=NPQ_K,
        nprobe=NPQ_NPROBE,
        rerank=NPQ_RERANK,
    )


@query("sim_ann_ivfpq_scaled_k", oracle=_ivfpq_norm_oracle(scaled_k=True))
def sim_ann_ivfpq_scaled_k(spark, sf_dir):
    """The deployment IVFPQ stack with the CORPUS-SCALED coarse
    quantizer — the registered answer to the fixed-k demos' honest
    structural weakness (SCALE.md; VERDICT r12 #3): freezing k=8
    coarse cells makes per-cell population N/8, so candidate mass
    Σ|cell|² ≈ nprobe·N²/8 grows QUADRATICALLY in the corpus
    (measured α₂ = +0.69 on ``sim_ann_ivfpq_normalized`` sf0.1→sf1).
    This variant pins the CELL SIZE instead: k = max(8,
    ceil(N/{NPQ_TARGET_CELL})) (``_scaled_coarse_k``), so candidates
    per query stay ≈ nprobe × {NPQ_TARGET_CELL} at every corpus size
    and total search cost is linear — the FAISS deployment contract
    (nlist grows with the collection; cell size, not cell count, is
    the tuned constant).

    Two-phase: phase 1 counts the valid unit corpus (one scalar
    anchor — the same bounded-collect class as the run-date anchor),
    phase 2 runs the identical ``_ivfpq_top5`` deployment stack
    (normalize + M={NPQ_SUBSPACES}×K={NPQ_K} ADC + nprobe={NPQ_NPROBE}
    + IVFADC+R top-{NPQ_RERANK} re-rank) with ``coarse_k`` dialed.
    The oracle computes the same k in-query via the ``kdial`` scalar
    subquery — the Lloyd trainer is k-agnostic, so the replay stays
    bit-exact at any k.  At sf0.01 (N=500) k = 10, so the driver gate
    exercises a genuinely non-default geometry, and the recall rows
    ride ``sim_recall_clustered`` / ``sim_recall_clustered_skewed``
    (gated ≥ 0.8 in ``tests/test_training_ops.py``).

    Scale: the LUT stays K·M rows per vector (linear, unchanged) and
    search joins stay equi-joins.  The honest residual is the coarse
    ASSIGNMENT — N·k distance pairs against the broadcast codebook —
    which at k = N/50 is N²/50: the same quadratic exponent as the
    fixed-k candidate mass but at 1/(50·nprobe)th the constant, and
    it is the term FAISS deployments bound next with k ∝ √N (nlist ≈
    √N balances train/assign vs probe work at N^1.5) or an HNSW
    coarse quantizer (assignment cost k-independent).  Both are turns
    of this same ``coarse_k`` dial; the linear-k rule registered here
    is the verdict-specified contract and the one whose candidate
    mass stays CONSTANT per query.  At 100 TB the codebook trains on
    a sample and k follows the collection size — this id pins exactly
    that dial.
    """
    u = _unit_embs(_embs(spark, sf_dir))
    k = _scaled_coarse_k(u.count())
    return _ivfpq_top5(
        u,
        subspaces=NPQ_SUBSPACES,
        subdims=NPQ_SUBDIMS,
        pq_k=NPQ_K,
        nprobe=NPQ_NPROBE,
        rerank=NPQ_RERANK,
        coarse_k=k,
    )


# ---------------------------------------------------------------------------
# Distribution drift (PSI) between corpus windows
# ---------------------------------------------------------------------------

PSI_BUCKETS = 10       # fixed length-histogram buckets
PSI_BUCKET_WIDTH = 64  # chars per bucket (corpus n_chars tops out ~600)
PSI_DRIFT_NANO = 200_000_000  # PSI > 0.2 == the standard "shifted" flag


@query(
    "dq_psi_drift",
    oracle=f"""
    WITH b AS (
      SELECT source,
             (('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
              % 2 = 0) AS is_ref,
             least(n_chars // {PSI_BUCKET_WIDTH}, {PSI_BUCKETS - 1})
               AS bucket
      FROM documents
    ), sb AS (
      SELECT s.source, gs.bucket
      FROM (SELECT DISTINCT source FROM documents) s,
           (SELECT unnest(range(0, {PSI_BUCKETS})) AS bucket) gs
    ), c AS (
      SELECT source, bucket,
             count(*) FILTER (is_ref)::BIGINT AS c_ref,
             count(*) FILTER (NOT is_ref)::BIGINT AS c_cur
      FROM b GROUP BY source, bucket
    ), f AS (
      SELECT sb.source, sb.bucket,
             coalesce(c.c_ref, 0) AS c_ref,
             coalesce(c.c_cur, 0) AS c_cur
      FROM sb LEFT JOIN c
        ON c.source = sb.source AND c.bucket = sb.bucket
    ), n AS (
      SELECT source, sum(c_ref)::BIGINT AS n_ref,
             sum(c_cur)::BIGINT AS n_cur
      FROM f GROUP BY source
    ), term AS (
      SELECT f.source, n.n_ref, n.n_cur,
             floor(((c_ref + 1)::DOUBLE / (n_ref + {PSI_BUCKETS})
                    - (c_cur + 1)::DOUBLE / (n_cur + {PSI_BUCKETS}))
                   * ln(((c_ref + 1)::DOUBLE / (n_ref + {PSI_BUCKETS}))
                        / ((c_cur + 1)::DOUBLE / (n_cur + {PSI_BUCKETS})))
                   * 1000000000)::BIGINT AS term_nano
      FROM f JOIN n USING (source)
    )
    SELECT source, n_ref, n_cur,
           round(sum(term_nano) / 1000000000.0, 6) AS psi,
           sum(term_nano) > {PSI_DRIFT_NANO} AS drift_flag
    FROM term GROUP BY source, n_ref, n_cur
    """,
)
def dq_psi_drift(spark, sf_dir):
    """Population-stability-index drift monitor between two corpus
    windows (here the deterministic md5(doc_id)-parity split standing
    in for reference-crawl vs current-crawl — HASH parity, because raw
    id parity correlates with the loader's id-assignment order and
    made one sf0.001 source all-"ref"), per source domain: the
    doc-length histogram's PSI = Σ_buckets (p_ref − p_cur) ·
    ln(p_ref / p_cur) with Laplace smoothing over the fixed
    10-bucket spine, flagged at the standard 0.2 threshold.  The
    monitor a 100 TB ingest runs per feed per day — a shifted length
    distribution is the earliest symptom of a scraper change,
    truncation bug, or boilerplate regression upstream.

    Cross-engine determinism: every PSI term is a function of four
    integers (bucket counts and window totals), smoothing makes it
    finite for empty buckets, and sign(p_ref − p_cur) ==
    sign(ln ratio) so each term is ≥ 0; terms are quantized to
    integer NANO-units before the per-source sum (the
    ``dsir_importance_weights`` technique — order-free integer sum,
    same 1-ULP ``ln`` caveat) and the drift flag compares integers.

    Scale: one map-combinable groupBy(source, parity, bucket) over
    the corpus, then catalog-grain frames only (sources × 10
    buckets); the spine explode runs on the distinct-source frame.
    No window functions, no UDF, nothing data-sized past the first
    aggregate.
    """
    d = _docs(spark, sf_dir)
    b = d.select(
        "source",
        (P.md5_long(F.col("doc_id").cast("string")) % 2 == 0).alias(
            "is_ref"
        ),
        F.least(
            F.floor(F.col("n_chars") / PSI_BUCKET_WIDTH),
            F.lit(PSI_BUCKETS - 1),
        )
        .cast("long")
        .alias("bucket"),
    )
    c = b.groupBy("source", "bucket").agg(
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0))
        .cast("long")
        .alias("c_ref"),
        F.sum(F.when(~F.col("is_ref"), 1).otherwise(0))
        .cast("long")
        .alias("c_cur"),
    )
    sb = (
        d.select("source")
        .distinct()
        .select(
            "source",
            F.explode(
                F.sequence(F.lit(0), F.lit(PSI_BUCKETS - 1)).cast(
                    "array<bigint>"
                )
            ).alias("bucket"),
        )
    )
    f = sb.join(c, ["source", "bucket"], "left").select(
        "source",
        "bucket",
        F.coalesce("c_ref", F.lit(0)).alias("c_ref"),
        F.coalesce("c_cur", F.lit(0)).alias("c_cur"),
    )
    n = f.groupBy("source").agg(
        F.sum("c_ref").cast("long").alias("n_ref"),
        F.sum("c_cur").cast("long").alias("n_cur"),
    )
    p_ref = (F.col("c_ref") + 1).cast("double") / (
        F.col("n_ref") + PSI_BUCKETS
    )
    p_cur = (F.col("c_cur") + 1).cast("double") / (
        F.col("n_cur") + PSI_BUCKETS
    )
    term = f.join(n, "source").select(
        "source",
        "n_ref",
        "n_cur",
        F.floor((p_ref - p_cur) * F.log(p_ref / p_cur) * 1000000000)
        .cast("long")
        .alias("term_nano"),
    )
    return term.groupBy("source", "n_ref", "n_cur").agg(
        E.round_to(F.sum("term_nano") / 1000000000.0, 6).alias("psi"),
        (F.sum("term_nano") > PSI_DRIFT_NANO).alias("drift_flag"),
    )


# ---------------------------------------------------------------------------
# Trainable Naive-Bayes quality filter (train + score)
# ---------------------------------------------------------------------------

NB_MIN_DF = 3   # tokens must appear in >= 3 docs to become features
NB_TOP_K = 50   # merge-table-style trained artifact: top discriminators

# Trained-artifact memo: {(applicationId, sf_dir): (frame, P, N)} — the
# fastText/CCNet-style quality filter is trained ONCE per (session,
# corpus) and every consumer (the trainer view, the scorer) reuses the
# same lineage-cut log-odds frame, the ``_BPE_TRAINED`` pattern
# (VERDICT r9 #4: a trained artifact is not a per-query recomputation).
_NB_TRAINED: dict = {}
_NB_TRAIN_RUNS = 0  # memo misses, observable by tests

# Shared oracle chain: heuristic labels -> doc-distinct tokens ->
# per-token doc frequencies -> Laplace log-likelihood ratio in integer
# micro-nats.  Both registered oracles compose this text, so the
# trainer and scorer views can never drift.
def _nb_core_sql() -> str:
    return f"""
    lab AS ({ORACLES['quality_logreg_score']}),
    k AS (SELECT doc_id, keep FROM lab),
    pn AS (
      SELECT coalesce(count(*) FILTER (keep), 0)::BIGINT AS p,
             coalesce(count(*) FILTER (NOT keep), 0)::BIGINT AS n
      FROM k
    ), tok AS (
      SELECT doc_id,
             unnest(list_distinct(string_split(lower(text), ' ')))
               AS token
      FROM documents
    ), pt AS (
      SELECT t.token, count(*)::BIGINT AS df,
             coalesce(count(*) FILTER (k.keep), 0)::BIGINT AS pos_df,
             coalesce(count(*) FILTER (NOT k.keep), 0)::BIGINT AS neg_df
      FROM tok t JOIN k USING (doc_id)
      GROUP BY t.token HAVING count(*) >= {NB_MIN_DF}
    ), sc AS (
      SELECT token, df, pos_df, neg_df,
             floor((ln((pos_df + 1)::DOUBLE / (pn.p + 2))
                    - ln((neg_df + 1)::DOUBLE / (pn.n + 2)))
                   * 1000000)::BIGINT AS llr_micro
      FROM pt, pn
    )"""


def _nb_llr_frame(spark, sf_dir):
    """Train the Bernoulli-NB token log-odds table at most once per
    (session, corpus): heuristic labels from the fixed-weight logistic
    filter (``quality_logreg_score``'s keep verdict — the
    bootstrap-from-a-cheap-heuristic step of the fastText/CCNet
    quality-classifier recipe), doc-distinct whitespace tokens, and
    per-token Laplace log-likelihood ratio
    ln((pos_df+1)/(P+2)) − ln((neg_df+1)/(N+2)) quantized to integer
    micro-nats (the ``dsir_importance_weights`` technique, same 1-ULP
    ``ln`` caveat).  Returns (lineage-cut frame, P, N).

    Scale: one explode (map-side), one map-combinable groupBy(token);
    the class totals are 1-row scalar anchors; nothing all-pairs and
    the feature table is vocabulary-sized (df ≥ {NB_MIN_DF} trimmed).
    """
    from ..io import scalar_anchor
    from .curation import quality_logreg_score

    memo_key = (spark.sparkContext.applicationId, sf_dir)
    if memo_key in _NB_TRAINED:
        return _NB_TRAINED[memo_key]
    global _NB_TRAIN_RUNS
    _NB_TRAIN_RUNS += 1

    lab = quality_logreg_score(spark, sf_dir).select("doc_id", "keep")
    p_cnt = int(scalar_anchor(lab.filter(F.col("keep")), F.count("*"), 0))
    n_cnt = int(scalar_anchor(lab.filter(~F.col("keep")), F.count("*"), 0))
    toks = _docs(spark, sf_dir).select(
        "doc_id",
        F.explode(F.array_distinct(P.ws_tokens(F.col("text")))).alias(
            "token"
        ),
    )
    pt = (
        toks.join(lab, "doc_id")
        .groupBy("token")
        .agg(
            F.count("*").alias("df"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0))
            .cast("long")
            .alias("pos_df"),
            F.sum(F.when(~F.col("keep"), 1).otherwise(0))
            .cast("long")
            .alias("neg_df"),
        )
        .filter(F.col("df") >= NB_MIN_DF)
    )
    llr = F.log(
        (F.col("pos_df") + 1).cast("double") / F.lit(float(p_cnt + 2))
    ) - F.log(
        (F.col("neg_df") + 1).cast("double") / F.lit(float(n_cnt + 2))
    )
    frame = lineage_cut(spark)(
        pt.withColumn("llr_micro", F.floor(llr * 1000000).cast("long"))
    )
    _NB_TRAINED[memo_key] = (frame, p_cnt, n_cnt)
    return frame, p_cnt, n_cnt


@query(
    "quality_nb_train",
    oracle=f"""
    WITH {_nb_core_sql()},
    top AS (
      SELECT * FROM sc ORDER BY abs(llr_micro) DESC, token
      LIMIT {NB_TOP_K}
    )
    SELECT row_number() OVER (ORDER BY abs(llr_micro) DESC, token)
             ::BIGINT AS llr_rank,
           token, df, pos_df, neg_df,
           round(llr_micro / 1000000.0, 6) AS llr
    FROM top
    """,
)
def quality_nb_train(spark, sf_dir):
    """The TRAINED ARTIFACT view of the Naive-Bayes quality filter:
    the {NB_TOP_K} most discriminative tokens (largest |log-odds|)
    with their document frequencies and Laplace LLR — the
    ``bpe_merge_table`` pattern applied to a quality classifier, i.e.
    what a 100 TB pipeline materializes once and ships to every
    filtering job rather than retraining per consumer (the trainer is
    memoized per session; ``quality_nb_score`` reuses the same frame).

    Scale: the trainer is one explode + one map-combinable
    groupBy(token); the top-{NB_TOP_K} cut is ``orderBy().limit()``
    (TakeOrderedAndProject — per-partition partial top-k, never a
    global sort), and the rank window runs over the ≤{NB_TOP_K}
    survivors only (GLOBAL_WINDOW_ALLOW category (a), the
    ``bpe_pair_stats`` shape).
    """
    from pyspark.sql import Window

    frame, _p, _n = _nb_llr_frame(spark, sf_dir)
    top = frame.orderBy(
        F.abs(F.col("llr_micro")).desc(), F.asc("token")
    ).limit(NB_TOP_K)
    w = Window.orderBy(F.abs(F.col("llr_micro")).desc(), F.asc("token"))
    return top.withColumn(
        "llr_rank", F.row_number().over(w).cast("long")
    ).select(
        "llr_rank",
        "token",
        "df",
        "pos_df",
        "neg_df",
        E.round_to(F.col("llr_micro") / 1000000.0, 6).alias("llr"),
    )


@query(
    "quality_nb_score",
    oracle=f"""
    WITH {_nb_core_sql()},
    prior AS (
      SELECT floor(ln((p + 1)::DOUBLE / (n + 1)) * 1000000)::BIGINT
               AS prior_micro
      FROM pn
    ), m AS (
      SELECT t.doc_id, count(*)::BIGINT AS n_feat_tokens,
             sum(sc.llr_micro)::BIGINT AS s_micro
      FROM tok t JOIN sc ON sc.token = t.token
      GROUP BY t.doc_id
    )
    SELECT d.doc_id,
           coalesce(m.n_feat_tokens, 0)::BIGINT AS n_feat_tokens,
           round((prior.prior_micro + coalesce(m.s_micro, 0))
                 / 1000000.0, 6) AS nb_score,
           (prior.prior_micro + coalesce(m.s_micro, 0)) > 0 AS keep_nb
    FROM documents d
    LEFT JOIN m ON m.doc_id = d.doc_id, prior
    """,
)
def quality_nb_score(spark, sf_dir):
    """Serve path of the TRAINED Naive-Bayes quality filter: per
    document, the class prior plus the sum of the trained per-token
    log-odds over its distinct tokens (Bernoulli NB on presence),
    with the keep verdict as the sign of the posterior log-odds.
    Reuses the memoized trained frame — one training execution per
    session however many consumers run (``_NB_TRAINED``).

    Cross-engine determinism: the per-doc sum is over integer
    micro-nat LLRs (order-free), the prior is one quantized scalar,
    and the verdict compares integers — no float crosses the keep
    boundary.

    Scale: doc-distinct tokens equi-join the vocabulary-sized trained
    table (AQE broadcasts it when trimmed small) into one
    map-combinable groupBy(doc_id); the left join back preserves
    feature-less documents at the prior.  No window, no UDF.
    """
    frame, p_cnt, n_cnt = _nb_llr_frame(spark, sf_dir)
    prior_micro = F.floor(
        F.log(
            F.lit(float(p_cnt + 1)).cast("double") / F.lit(n_cnt + 1)
        )
        * 1000000
    ).cast("long")
    toks = _docs(spark, sf_dir).select(
        "doc_id",
        F.explode(F.array_distinct(P.ws_tokens(F.col("text")))).alias(
            "token"
        ),
    )
    m = (
        toks.join(frame.select("token", "llr_micro"), "token")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_feat_tokens"),
            F.sum("llr_micro").cast("long").alias("s_micro"),
        )
    )
    d = _docs(spark, sf_dir).select("doc_id")
    score_micro = prior_micro + F.coalesce(F.col("s_micro"), F.lit(0))
    return d.join(m, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_feat_tokens", F.lit(0))
        .cast("long")
        .alias("n_feat_tokens"),
        E.round_to(score_micro / 1000000.0, 6).alias("nb_score"),
        (score_micro > 0).alias("keep_nb"),
    )


# ---------------------------------------------------------------------------
# Deterministic span corruption (T5-style denoising objective prep)
# ---------------------------------------------------------------------------

AUG_EVERY = 20   # 1-in-20 positions start a span (~15% mask at len 3)
AUG_SPAN_LEN = 3  # tokens masked per span start (overlaps merge)


@query(
    "aug_span_corruption",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             string_split(lower(coalesce(text, '')), ' ') AS tl
      FROM documents
    ), s AS (
      SELECT doc_id, len(tl) AS n_tokens,
             [(('0x' || substr(md5(doc_id || ':' || p), 1, 15))::BIGINT
               % {AUG_EVERY}) = 0
              for p in range(1, len(tl) + 1)] AS st
      FROM t
    )
    SELECT doc_id, n_tokens::BIGINT AS n_tokens,
           len(list_filter(range(1, n_tokens + 1), p ->
             (coalesce(st[p], false)
              OR (p >= 2 AND coalesce(st[p - 1], false))
              OR (p >= 3 AND coalesce(st[p - 2], false)))
             AND NOT ((p >= 2 AND coalesce(st[p - 1], false))
              OR (p >= 3 AND coalesce(st[p - 2], false))
              OR (p >= 4 AND coalesce(st[p - 3], false)))
           ))::BIGINT AS n_spans,
           len(list_filter(range(1, n_tokens + 1), p ->
             coalesce(st[p], false)
              OR (p >= 2 AND coalesce(st[p - 1], false))
              OR (p >= 3 AND coalesce(st[p - 2], false))
           ))::BIGINT AS n_masked,
           round(len(list_filter(range(1, n_tokens + 1), p ->
             coalesce(st[p], false)
              OR (p >= 2 AND coalesce(st[p - 1], false))
              OR (p >= 3 AND coalesce(st[p - 2], false))
           )) / n_tokens, 6) AS mask_ratio
    FROM s
    """,
)
def aug_span_corruption(spark, sf_dir):
    """T5-style span-corruption plan for a denoising objective, made
    DETERMINISTIC so two engines (and two cluster runs) mask the same
    spans: position p starts a span iff the portable 60-bit
    md5(doc_id:p) hash ≡ 0 (mod {AUG_EVERY}), each span masks
    {AUG_SPAN_LEN} tokens, and overlapping spans merge (a position is
    masked iff any of p, p−1, p−2 is a start; a span begins at a
    masked position whose predecessor is unmasked).  Emits the
    per-document corruption accounting the packer needs — token
    count, merged-span count (== sentinel count), masked-token count,
    mask ratio ≈ 1/{AUG_EVERY}·{AUG_SPAN_LEN} — without materializing
    the corrupted text (that's a projection over the same arrays).

    Deterministic-by-hash is how a 100 TB preprocessing job makes
    augmentation reproducible and resumable: re-running a failed
    shard re-derives the identical masks with no RNG state to ship.

    Scale: entirely map-side — per-row array builds over the token
    sequence, no shuffle, no UDF, no window.  The start array is
    bound as a LAMBDA VARIABLE (single-element-array wrap) so it is
    computed once per document, not once per position (the
    ``word_grams`` hugedoc lesson).
    """
    d = _docs(spark, sf_dir)
    toks = P.ws_tokens(F.coalesce(F.col("text"), F.lit("")))
    n = F.size(toks)
    starts = F.transform(
        F.sequence(F.lit(1), n),
        lambda p: P.md5_long(
            F.concat_ws(":", F.col("doc_id"), p)
        )
        % AUG_EVERY
        == 0,
    )

    def _get(st, p, back):
        # 1-based position p, looking back `back` tokens; F.get is
        # 0-based and NULL-safe out of range, but the explicit p>=k
        # guard mirrors the oracle text (DuckDB negative indices wrap).
        return (p >= F.lit(back + 1)) & F.coalesce(
            F.get(st, p - back - 1), F.lit(False)
        )

    def _masked(st, p):
        return _get(st, p, 0) | _get(st, p, 1) | _get(st, p, 2)

    def _prev_masked(st, p):
        return _get(st, p, 1) | _get(st, p, 2) | _get(st, p, 3)

    stats = F.get(
        F.transform(
            F.array(F.struct(starts.alias("st"), n.alias("n"))),
            lambda row: F.struct(
                F.size(
                    F.filter(
                        F.sequence(F.lit(1), row["n"]),
                        lambda p: _masked(row["st"], p)
                        & ~_prev_masked(row["st"], p),
                    )
                )
                .cast("long")
                .alias("n_spans"),
                F.size(
                    F.filter(
                        F.sequence(F.lit(1), row["n"]),
                        lambda p: _masked(row["st"], p),
                    )
                )
                .cast("long")
                .alias("n_masked"),
            ),
        ),
        0,
    )
    return d.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        stats["n_spans"].alias("n_spans"),
        stats["n_masked"].alias("n_masked"),
        E.round_to(stats["n_masked"] / n, 6).alias("mask_ratio"),
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility per language (trained-BPE diagnostics)
# ---------------------------------------------------------------------------


def _fertility_oracle() -> str:
    return f"""
    WITH enc AS ({ORACLES['bpe_encode']}),
    per_doc AS (
      SELECT doc_id, count(*)::BIGINT AS n_bpe FROM enc GROUP BY doc_id
    ), d AS (
      SELECT doc_id, lang,
             len(string_split(lower(text), ' '))::BIGINT AS n_words,
             n_chars
      FROM documents
    )
    SELECT d.lang, count(*)::BIGINT AS n_docs,
           sum(d.n_words)::BIGINT AS n_words,
           sum(coalesce(p.n_bpe, 0))::BIGINT AS n_bpe_tokens,
           round(sum(coalesce(p.n_bpe, 0)) / sum(d.n_words), 6)
             AS fertility,
           round(sum(d.n_chars) / sum(coalesce(p.n_bpe, 0)), 6)
             AS chars_per_token
    FROM d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
    GROUP BY d.lang
    """


@query("bpe_fertility", oracle=_fertility_oracle())
def bpe_fertility(spark, sf_dir):
    """Tokenizer fertility report of the TRAINED BPE vocabulary, per
    language: BPE tokens per whitespace word (fertility — the
    standard multilingual-tokenizer health metric; a language with
    fertility ≫ the corpus mean is being shredded into bytes and
    will train poorly) and characters per BPE token (compression).
    This is the diagnostic a pipeline runs after every tokenizer
    retrain and before committing a token-budget mixture, because
    per-language budgets count TOKENS while crawls are sized in
    words.

    Composes the memoized session tokenizer (``_bpe_train_apply`` —
    VERDICT r9 #4: one training execution per session, however many
    consumers), so this adds one map-combinable groupBy(doc_id) and
    one catalog-grain groupBy(lang) over the already-checkpointed
    encoded frame.  Ratios divide order-free integer sums, rounded
    identically on both engines.
    """
    from .curation import bpe_encode

    enc = bpe_encode(spark, sf_dir)
    per_doc = enc.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_bpe")
    )
    d = _docs(spark, sf_dir).select(
        "doc_id",
        "lang",
        F.size(P.ws_tokens(F.col("text"))).cast("long").alias("n_words"),
        "n_chars",
    )
    j = d.join(per_doc, "doc_id", "left").select(
        "lang",
        "n_words",
        "n_chars",
        F.coalesce("n_bpe", F.lit(0)).alias("n_bpe"),
    )
    return j.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("n_words"),
        F.sum("n_bpe").cast("long").alias("n_bpe_tokens"),
        E.round_to(F.sum("n_bpe") / F.sum("n_words"), 6).alias(
            "fertility"
        ),
        E.round_to(F.sum("n_chars") / F.sum("n_bpe"), 6).alias(
            "chars_per_token"
        ),
    )


# ---------------------------------------------------------------------------
# Data-constrained epoch schedule (capped epochs + budget redistribution)
# ---------------------------------------------------------------------------

EPOCH_BUDGET_X = 3  # token budget = 3 x corpus tokens (multi-epoch regime)


@query(
    "mix_epoch_schedule",
    oracle=f"""
    WITH s AS (
      SELECT source,
             sum(len(string_split(lower(text), ' ')))::BIGINT AS n_tokens
      FROM documents GROUP BY source
    ), t AS (
      SELECT *, (SELECT sum(n_tokens) FROM s) AS tot FROM s
    ), q AS (
      SELECT source, n_tokens, tot, {EPOCH_BUDGET_X} * tot AS budget,
             CAST(floor(sqrt(n_tokens / tot) * 1000000) AS BIGINT)
               AS micro_w,
             1 + ('0x' || substr(md5(source), 1, 15))::BIGINT % 4
               AS cap_epochs
      FROM t
    ), nrm AS (
      SELECT *, (SELECT sum(micro_w) FROM q) AS norm FROM q
    ), h1 AS (
      -- Hamilton share of budget B by micro_w, BIGINT-safe at any
      -- corpus size via B = qd*norm + rd (so B*w div norm ==
      -- qd*w + rd*w div norm with every product <= ~1e16).
      SELECT *,
             (budget // norm) * micro_w
               + ((budget % norm) * micro_w) // norm AS base_alloc,
             ((budget % norm) * micro_w) % norm AS rem
      FROM nrm
    ), h1r AS (
      SELECT *,
             row_number() OVER (ORDER BY rem DESC, source) AS rem_rank,
             (SELECT min(budget) - sum(base_alloc) FROM h1) AS shortfall
      FROM h1
    ), ideal AS (
      SELECT source, n_tokens, micro_w, norm, cap_epochs,
             base_alloc
               + CASE WHEN rem_rank <= shortfall THEN 1 ELSE 0 END
               AS ideal_tokens
      FROM h1r
    ), cl AS (
      SELECT *, cap_epochs * n_tokens AS cap_tokens,
             least(ideal_tokens, cap_epochs * n_tokens) AS clamped
      FROM ideal
    ), su AS (
      SELECT *,
             (SELECT sum(ideal_tokens - clamped) FROM cl) AS surplus,
             cap_tokens - clamped AS headroom,
             (SELECT coalesce(sum(micro_w)
                FILTER (cap_tokens - clamped > 0), 0) FROM cl)
               AS norm_e
      FROM cl
    ), h2 AS (
      SELECT *,
             CASE WHEN headroom > 0 AND norm_e > 0 THEN
               (surplus // norm_e) * micro_w
                 + ((surplus % norm_e) * micro_w) // norm_e
             ELSE 0 END AS base2,
             CASE WHEN headroom > 0 AND norm_e > 0 THEN
               ((surplus % norm_e) * micro_w) % norm_e
             ELSE -1 END AS rem2
      FROM su
    ), h2r AS (
      SELECT *,
             row_number() OVER (ORDER BY rem2 DESC, source) AS rank2,
             (SELECT max(surplus) - sum(base2) FROM h2) AS shortfall2
      FROM h2
    ), fin AS (
      SELECT source, n_tokens, cap_epochs, ideal_tokens, clamped,
             surplus,
             clamped + least(
               base2 + CASE WHEN rem2 >= 0 AND rank2 <= shortfall2
                            THEN 1 ELSE 0 END,
               headroom) AS alloc_tokens
      FROM h2r
    )
    SELECT source, n_tokens, cap_epochs::BIGINT AS cap_epochs,
           ideal_tokens::BIGINT AS ideal_tokens,
           alloc_tokens::BIGINT AS alloc_tokens,
           round(alloc_tokens / n_tokens, 6) AS effective_epochs,
           clamped < ideal_tokens AS epoch_capped,
           (max(surplus) OVER ()
            - sum(alloc_tokens - clamped) OVER ())::BIGINT
             AS leftover_tokens
    FROM fin
    """,
)
def mix_epoch_schedule(spark, sf_dir):
    """Data-constrained epoch schedule (the Muennighoff et al. 2023
    regime): allocate a multi-epoch token budget (= {EPOCH_BUDGET_X}×
    the corpus) across source domains by the temperature-scaled
    mixture, subject to PER-SOURCE max-epoch caps (licensing/ToS or
    diminishing-returns limits — here a deterministic 1-4 epochs from
    the source-name hash), then redistribute the capped-off surplus
    among un-capped sources in ONE Hamilton round, still proportional
    to the mixture weight.  Reports ideal vs final allocation,
    effective epochs, the cap flag, and the budget the caps left
    unallocatable — exactly the table a training-run planner signs
    off on.

    Every allocation is EXACT integer arithmetic on both engines; the
    Hamilton products are made BIGINT-safe at ANY corpus size by the
    decomposition B·w div norm == (B div norm)·w + ((B mod norm)·w)
    div norm — the left product is ≤ B (w ≤ norm) and the right is
    ≤ norm·1e6 (catalog-bounded), so nothing approaches 2^63 even at
    9 exatokens (a naive B·micro_w overflows at ~9e12 tokens, and
    Spark's DIV coerces DECIMAL to BIGINT, so decimals don't save it).
    A single redistribution round may leave surplus unallocated when
    caps bind broadly (leftover_tokens > 0) — deterministic and
    reported, and a second round is this operator applied to the
    residual.

    Scale: one map-combinable groupBy(source); every window after it
    runs at source-domain grain — catalog-bounded by construction
    (GLOBAL_WINDOW_ALLOW category (b), the ``mix_domain_weights``
    shape).
    """
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    s = d.groupBy("source").agg(
        F.sum(F.size(P.ws_tokens(F.col("text"))))
        .cast("long")
        .alias("n_tokens")
    )
    w_all = Window.partitionBy()
    t = s.withColumn("tot", F.sum("n_tokens").over(w_all))
    q = (
        t.withColumn("budget", F.lit(EPOCH_BUDGET_X) * F.col("tot"))
        .withColumn(
            "micro_w",
            F.floor(
                F.sqrt(F.col("n_tokens") / F.col("tot")) * 1000000
            ).cast("long"),
        )
        .withColumn(
            "cap_epochs", 1 + P.md5_long(F.col("source")) % 4
        )
    )
    nrm = q.withColumn("norm", F.sum("micro_w").over(w_all))
    h1 = nrm.withColumn(
        "base_alloc",
        F.expr(
            "(budget DIV norm) * micro_w"
            " + ((budget % norm) * micro_w) DIV norm"
        ),
    ).withColumn("rem", F.expr("((budget % norm) * micro_w) % norm"))
    h1r = h1.withColumn(
        "rem_rank",
        F.row_number().over(Window.orderBy(F.desc("rem"), F.asc("source"))),
    ).withColumn(
        "shortfall",
        F.min("budget").over(w_all) - F.sum("base_alloc").over(w_all),
    )
    ideal = h1r.select(
        "source",
        "n_tokens",
        "micro_w",
        "norm",
        "cap_epochs",
        (
            F.col("base_alloc")
            + F.when(F.col("rem_rank") <= F.col("shortfall"), 1).otherwise(0)
        ).alias("ideal_tokens"),
    )
    cl = ideal.withColumn(
        "cap_tokens", F.col("cap_epochs") * F.col("n_tokens")
    ).withColumn(
        "clamped", F.least(F.col("ideal_tokens"), F.col("cap_tokens"))
    )
    su = (
        cl.withColumn(
            "surplus",
            F.sum(F.col("ideal_tokens") - F.col("clamped")).over(w_all),
        )
        .withColumn("headroom", F.col("cap_tokens") - F.col("clamped"))
        .withColumn(
            "norm_e",
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("cap_tokens") - F.col("clamped") > 0,
                        F.col("micro_w"),
                    )
                ).over(w_all),
                F.lit(0),
            ),
        )
    )
    h2 = su.withColumn(
        "base2",
        F.expr(
            "CASE WHEN headroom > 0 AND norm_e > 0 THEN"
            " (surplus DIV norm_e) * micro_w"
            " + ((surplus % norm_e) * micro_w) DIV norm_e"
            " ELSE 0 END"
        ),
    ).withColumn(
        "rem2",
        F.expr(
            "CASE WHEN headroom > 0 AND norm_e > 0 THEN"
            " ((surplus % norm_e) * micro_w) % norm_e"
            " ELSE -1 END"
        ),
    )
    h2r = h2.withColumn(
        "rank2",
        F.row_number().over(Window.orderBy(F.desc("rem2"), F.asc("source"))),
    ).withColumn(
        "shortfall2",
        F.max("surplus").over(w_all) - F.sum("base2").over(w_all),
    )
    fin = h2r.select(
        "source",
        "n_tokens",
        "cap_epochs",
        "ideal_tokens",
        "clamped",
        "surplus",
        (
            F.col("clamped")
            + F.least(
                F.col("base2")
                + F.when(
                    (F.col("rem2") >= 0)
                    & (F.col("rank2") <= F.col("shortfall2")),
                    1,
                ).otherwise(0),
                F.col("headroom"),
            )
        ).alias("alloc_tokens"),
    )
    return fin.select(
        "source",
        "n_tokens",
        F.col("cap_epochs").cast("long").alias("cap_epochs"),
        F.col("ideal_tokens").cast("long").alias("ideal_tokens"),
        F.col("alloc_tokens").cast("long").alias("alloc_tokens"),
        E.round_to(F.col("alloc_tokens") / F.col("n_tokens"), 6).alias(
            "effective_epochs"
        ),
        (F.col("clamped") < F.col("ideal_tokens")).alias("epoch_capped"),
        (
            F.max("surplus").over(w_all)
            - F.sum(F.col("alloc_tokens") - F.col("clamped")).over(w_all)
        )
        .cast("long")
        .alias("leftover_tokens"),
    )


# ---------------------------------------------------------------------------
# Token-distribution drift (PSI over hashed unigrams, per language)
# ---------------------------------------------------------------------------

TOKDRIFT_BUCKETS = 64  # hashed-unigram histogram width


@query(
    "dq_psi_token_drift",
    oracle=f"""
    WITH w1 AS (
      SELECT doc_id, lang,
             unnest(string_split(lower(text), ' ')) AS word
      FROM documents
    ), wds AS (
      SELECT lang,
             (('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
              % 2 = 0) AS is_ref,
             ('0x' || substr(md5(word), 1, 15))::BIGINT
               % {TOKDRIFT_BUCKETS} AS b
      FROM w1
    ), sb AS (
      SELECT s.lang, gs.b
      FROM (SELECT DISTINCT lang FROM documents) s,
           (SELECT unnest(range(0, {TOKDRIFT_BUCKETS})) AS b) gs
    ), c AS (
      SELECT lang, b,
             count(*) FILTER (is_ref)::BIGINT AS c_ref,
             count(*) FILTER (NOT is_ref)::BIGINT AS c_cur
      FROM wds GROUP BY lang, b
    ), f AS (
      SELECT sb.lang, sb.b,
             coalesce(c.c_ref, 0) AS c_ref,
             coalesce(c.c_cur, 0) AS c_cur
      FROM sb LEFT JOIN c ON c.lang = sb.lang AND c.b = sb.b
    ), n AS (
      SELECT lang, sum(c_ref)::BIGINT AS n_ref,
             sum(c_cur)::BIGINT AS n_cur
      FROM f GROUP BY lang
    ), term AS (
      SELECT f.lang, n.n_ref, n.n_cur,
             floor(((c_ref + 1)::DOUBLE / (n_ref + {TOKDRIFT_BUCKETS})
                    - (c_cur + 1)::DOUBLE / (n_cur + {TOKDRIFT_BUCKETS}))
                   * ln(((c_ref + 1)::DOUBLE
                         / (n_ref + {TOKDRIFT_BUCKETS}))
                        / ((c_cur + 1)::DOUBLE
                           / (n_cur + {TOKDRIFT_BUCKETS})))
                   * 1000000000)::BIGINT AS term_nano
      FROM f JOIN n USING (lang)
    )
    SELECT lang, n_ref AS n_ref_tokens, n_cur AS n_cur_tokens,
           round(sum(term_nano) / 1000000000.0, 6) AS psi,
           sum(term_nano) > {PSI_DRIFT_NANO} AS drift_flag
    FROM term GROUP BY lang, n_ref, n_cur
    """,
)
def dq_psi_token_drift(spark, sf_dir):
    """VOCABULARY drift monitor, the companion of ``dq_psi_drift``'s
    length monitor: per language, PSI between the hashed-unigram
    distributions of the two md5(doc_id)-parity corpus windows over a
    fixed {TOKDRIFT_BUCKETS}-bucket spine (the DSIR hashed-feature
    trick: a corpus-sized vocabulary becomes a catalog-sized
    histogram that two windows can be compared on exactly).  A
    topic/template/spam shift moves token mass between hash buckets
    long before it moves the length distribution.

    Same determinism contract as ``dq_psi_drift``: integer bucket
    counts → smoothed ratios → per-bucket terms quantized to nano
    units before the order-free integer sum; flag compares integers.

    Scale: the explode is map-side; ONE map-combinable
    groupBy(lang, parity, bucket) reduces the token stream to a
    languages × {TOKDRIFT_BUCKETS} table — everything after is
    catalog-grain.  No windows, no UDF.
    """
    d = _docs(spark, sf_dir)
    w1 = d.select(
        "lang",
        (P.md5_long(F.col("doc_id").cast("string")) % 2 == 0).alias(
            "is_ref"
        ),
        F.explode(P.ws_tokens(F.col("text"))).alias("word"),
    )
    wds = w1.select(
        "lang",
        "is_ref",
        (P.md5_long(F.col("word")) % TOKDRIFT_BUCKETS).alias("b"),
    )
    c = wds.groupBy("lang", "b").agg(
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0))
        .cast("long")
        .alias("c_ref"),
        F.sum(F.when(~F.col("is_ref"), 1).otherwise(0))
        .cast("long")
        .alias("c_cur"),
    )
    sb = (
        d.select("lang")
        .distinct()
        .select(
            "lang",
            F.explode(
                F.sequence(
                    F.lit(0), F.lit(TOKDRIFT_BUCKETS - 1)
                ).cast("array<bigint>")
            ).alias("b"),
        )
    )
    f = sb.join(c, ["lang", "b"], "left").select(
        "lang",
        "b",
        F.coalesce("c_ref", F.lit(0)).alias("c_ref"),
        F.coalesce("c_cur", F.lit(0)).alias("c_cur"),
    )
    n = f.groupBy("lang").agg(
        F.sum("c_ref").cast("long").alias("n_ref"),
        F.sum("c_cur").cast("long").alias("n_cur"),
    )
    p_ref = (F.col("c_ref") + 1).cast("double") / (
        F.col("n_ref") + TOKDRIFT_BUCKETS
    )
    p_cur = (F.col("c_cur") + 1).cast("double") / (
        F.col("n_cur") + TOKDRIFT_BUCKETS
    )
    term = f.join(n, "lang").select(
        "lang",
        "n_ref",
        "n_cur",
        F.floor((p_ref - p_cur) * F.log(p_ref / p_cur) * 1000000000)
        .cast("long")
        .alias("term_nano"),
    )
    return term.groupBy("lang", "n_ref", "n_cur").agg(
        E.round_to(F.sum("term_nano") / 1000000000.0, 6).alias("psi"),
        (F.sum("term_nano") > PSI_DRIFT_NANO).alias("drift_flag"),
    ).select(
        "lang",
        F.col("n_ref").alias("n_ref_tokens"),
        F.col("n_cur").alias("n_cur_tokens"),
        "psi",
        "drift_flag",
    )


# ---------------------------------------------------------------------------
# Keep-first exact-substring removal (the cut step of suffix-array dedup)
# ---------------------------------------------------------------------------


@query(
    "dedup_substring_remove",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ), occ0 AS (
      SELECT doc_id,
             unnest([{'pos': i,
                      'g': ('0x' || substr(md5(
                              w[i] || '|' || w[i+1] || '|' || w[i+2] || '|' ||
                              w[i+3] || '|' || w[i+4] || '|' || w[i+5] || '|' ||
                              w[i+6] || '|' || w[i+7]), 1, 15))::BIGINT}
                     for i in range(1, len(w) - 6)]) AS s
      FROM toks WHERE len(w) >= 8
    ), occ AS (
      SELECT doc_id, s.pos AS pos, s.g AS g FROM occ0
    ), dupg AS (
      SELECT g FROM occ GROUP BY g HAVING count(*) > 1
    ), rnk AS (
      SELECT occ.doc_id, occ.pos,
             row_number() OVER (
               PARTITION BY occ.g ORDER BY occ.doc_id, occ.pos) AS rn
      FROM occ JOIN dupg USING (g)
    ), rem AS (
      SELECT DISTINCT doc_id, pos FROM rnk WHERE rn > 1
    ), isl AS (
      SELECT doc_id, pos,
             CASE WHEN max(pos + 7) OVER (
                      PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    IS NULL
                  OR pos > max(pos + 7) OVER (
                      PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
                  THEN 1 ELSE 0 END AS new_island
      FROM rem
    ), isl2 AS (
      SELECT doc_id, pos,
             sum(new_island) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM isl
    ), spans AS (
      SELECT doc_id, island,
             max(pos) + 7 - min(pos) + 1 AS span_tokens
      FROM isl2 GROUP BY doc_id, island
    ), per_doc AS (
      SELECT doc_id, count(*)::BIGINT AS n_cut_spans,
             sum(span_tokens)::BIGINT AS n_removed_tokens
      FROM spans GROUP BY doc_id
    )
    SELECT t.doc_id, len(t.w)::BIGINT AS n_tokens,
           coalesce(p.n_cut_spans, 0)::BIGINT AS n_cut_spans,
           coalesce(p.n_removed_tokens, 0)::BIGINT AS n_removed_tokens,
           (len(t.w) - coalesce(p.n_removed_tokens, 0))::BIGINT
             AS n_kept_tokens,
           round(coalesce(p.n_removed_tokens, 0) / len(t.w), 6)
             AS removed_fraction
    FROM toks t LEFT JOIN per_doc p USING (doc_id)
    """,
)
def dedup_substring_remove(spark, sf_dir):
    """The CUT step of exact-substring dedup (Lee et al. 2021):
    ``dedup_substring_spans`` measures duplicated coverage; this
    operator decides which copy SURVIVES — for every duplicated
    k-gram, the globally FIRST occurrence (ordered by doc_id, pos —
    a total deterministic order) is canonical and every later
    occurrence's [pos, pos+k−1] extent is cut, merged into maximal
    removal islands per document.  Emits the removal accounting
    (islands cut, tokens removed/kept, removed fraction); the cleaned
    text itself is a projection that filters each doc's token array
    by the island set.

    Keep-first is what makes the cut idempotent and corpus-stable: a
    re-run over the deduplicated output finds no duplicated grams, and
    two shards agree on the survivor without coordination because the
    order key is global.

    Scale: shares the ``_kgram_occ`` anchor table (map-side explode +
    one map-combinable groupBy on the gram hash).  The survivor is
    found WITHOUT a per-gram window: keep-first only needs the
    lexicographic MIN (doc_id, pos) per gram, which is a
    map-combinable ``min(struct(...))`` inside the same dup-count
    aggregate — a per-gram ``row_number`` would funnel each gram's
    whole occurrence list through one window task, and a hot gram
    (boilerplate duplicated across millions of documents) is exactly
    the skewed key this operator exists to cut.  An occurrence is
    removable iff it differs from its gram's min — evaluated on the
    occurrence stream after the equi-join back.  The island merge
    stays doc_id-partitioned.
    """
    from pyspark.sql import Window

    from .curation import SPAN_K, _kgram_occ

    d = _docs(spark, sf_dir)
    n = F.size(P.ws_tokens(F.col("text")))
    occ = _kgram_occ(d, SPAN_K)
    dupg = (
        occ.groupBy("g")
        .agg(
            F.count("*").alias("cnt"),
            F.min(F.struct("doc_id", "pos")).alias("first_occ"),
        )
        .filter(F.col("cnt") > 1)
    )
    rem = (
        occ.join(dupg.select("g", "first_occ"), "g")
        .filter(
            (F.col("doc_id") != F.col("first_occ.doc_id"))
            | (F.col("pos") != F.col("first_occ.pos"))
        )
        .select("doc_id", "pos")
        .distinct()
    )
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prev_end = F.max(F.col("pos") + (SPAN_K - 1)).over(w_prev)
    new_island = (
        prev_end.isNull() | (F.col("pos") > prev_end + 1)
    ).cast("int")
    isl = rem.select(
        "doc_id", "pos", F.sum(new_island).over(w_run).alias("island")
    )
    spans = isl.groupBy("doc_id", "island").agg(
        (F.max("pos") + (SPAN_K - 1) - F.min("pos") + 1).alias(
            "span_tokens"
        )
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.count("*").alias("n_cut_spans"),
        F.sum("span_tokens").alias("n_removed_tokens"),
    )
    base = d.select("doc_id", n.cast("long").alias("n_tokens"))
    removed = F.coalesce("n_removed_tokens", F.lit(0))
    return base.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("n_cut_spans", F.lit(0))
        .cast("long")
        .alias("n_cut_spans"),
        removed.cast("long").alias("n_removed_tokens"),
        (F.col("n_tokens") - removed).cast("long").alias("n_kept_tokens"),
        E.round_to(removed / F.col("n_tokens"), 6).alias(
            "removed_fraction"
        ),
    )


# ---------------------------------------------------------------------------
# Quality-filter ensemble vote
# ---------------------------------------------------------------------------


def _ensemble_oracle() -> str:
    return f"""
    WITH g AS ({ORACLES['text_gopher_rules']}),
    l AS ({ORACLES['quality_logreg_score']}),
    nbs AS ({ORACLES['quality_nb_score']})
    SELECT g.doc_id,
           g.keep = 1 AS keep_gopher,
           l.keep AS keep_heuristic,
           nbs.keep_nb AS keep_nb,
           (g.keep + CASE WHEN l.keep THEN 1 ELSE 0 END
                   + CASE WHEN nbs.keep_nb THEN 1 ELSE 0 END)::BIGINT
             AS n_votes,
           (g.keep + CASE WHEN l.keep THEN 1 ELSE 0 END
                   + CASE WHEN nbs.keep_nb THEN 1 ELSE 0 END) >= 2
             AS keep_final
    FROM g JOIN l ON l.doc_id = g.doc_id
    JOIN nbs ON nbs.doc_id = g.doc_id
    """


@query("quality_ensemble_vote", oracle=_ensemble_oracle())
def quality_ensemble_vote(spark, sf_dir):
    """Majority vote over the three INDEPENDENT quality filters the
    registry ships — Gopher's hand rules (``text_gopher_rules``), the
    fixed-weight logistic heuristic (``quality_logreg_score``), and
    the trained Naive-Bayes filter (``quality_nb_score``) — the
    standard production ensemble: rule-based + heuristic + learned,
    each failing on different documents, keep iff ≥ 2 agree.  Emits
    the per-filter verdicts, the vote count, and the final keep so
    downstream stages (and audits) can attribute every drop to the
    filters that caused it.

    Each member is independently hash-verified; the ensemble adds two
    doc_id equi-joins and integer vote arithmetic — no float crosses
    the final verdict.

    Scale: three already-scalable filter plans joined on the natural
    key; the NB member reuses the per-session trained artifact
    (``_NB_TRAINED``), so the ensemble never retrains anything.
    """
    from .curation import quality_logreg_score
    from .pipeline_queries import text_gopher_rules

    g = text_gopher_rules(spark, sf_dir).select(
        "doc_id", (F.col("keep") == 1).alias("keep_gopher")
    )
    l = quality_logreg_score(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("keep_heuristic")
    )
    nbs = quality_nb_score(spark, sf_dir).select(
        "doc_id", "keep_nb"
    )
    j = g.join(l, "doc_id").join(nbs, "doc_id")
    votes = (
        F.col("keep_gopher").cast("int")
        + F.col("keep_heuristic").cast("int")
        + F.col("keep_nb").cast("int")
    )
    return j.select(
        "doc_id",
        "keep_gopher",
        "keep_heuristic",
        "keep_nb",
        votes.cast("long").alias("n_votes"),
        (votes >= 2).alias("keep_final"),
    )


# ---------------------------------------------------------------------------
# IVFPQ recall (closing the measured-recall loop for the ADC stack)
# ---------------------------------------------------------------------------


@query(
    "sim_recall_ivfpq",
    oracle=f"""
    WITH exact AS ({ORACLES['sim_topk_cosine']}),
    pq AS ({ORACLES['sim_ann_ivfpq']}),
    exact5 AS (
      SELECT vec_id, neighbor_id FROM exact WHERE rnk <= 5
    ), hits AS (
      SELECT count(*)::BIGINT AS n_hits
      FROM pq JOIN exact5 USING (vec_id, neighbor_id)
    ), nq AS (
      SELECT count(DISTINCT vec_id)::BIGINT AS n_queries FROM exact
    )
    SELECT 'ivfpq' AS method,
           nq.n_queries, hits.n_hits,
           round(hits.n_hits::DOUBLE / (5 * nq.n_queries), 6)
             AS recall_at_5
    FROM nq, hits
    """,
)
def sim_recall_ivfpq(spark, sf_dir):
    """Recall@5 of the IVFPQ ANN stack against the exact cosine top-5
    — the last ANN variant without a measured recall (the
    ``sim_recall_at_k`` / ``sim_recall_multiprobe`` pattern applied
    to the ADC scorer).  IVFPQ loses recall through BOTH bucketing
    (cell-straddling neighbors) and quantization (ADC is L2 over
    PQ codes, not exact cosine), so its number is the honest one a
    deployment must clear before swapping the memory-bounded index
    in; the denominator counts every query the exact baseline ranks.

    Scale: the evaluation is a (query, neighbor)-grain equi-join over
    two ≤5-rows-per-query frames — a fraction of either index build
    at any corpus size.
    """
    from .pipeline_queries import sim_topk_cosine

    exact = sim_topk_cosine(spark, sf_dir)
    exact5 = lineage_cut(spark)(
        exact.filter(F.col("rnk") <= 5).select("vec_id", "neighbor_id")
    )
    n_queries = exact.select("vec_id").distinct().count()
    n_hits = (
        sim_ann_ivfpq(spark, sf_dir)
        .select("vec_id", "neighbor_id")
        .join(exact5, ["vec_id", "neighbor_id"])
        .count()
    )
    out = spark.createDataFrame(
        [("ivfpq", n_queries, n_hits)],
        "method string, n_queries long, n_hits long",
    )
    return out.select(
        "method",
        "n_queries",
        "n_hits",
        E.round_to(
            F.col("n_hits").cast("double")
            / (F.lit(5) * F.col("n_queries")),
            6,
        ).alias("recall_at_5"),
    )


# ---------------------------------------------------------------------------
# Clustered-fixture ANN recall (the production-regime recall dial)
# ---------------------------------------------------------------------------

CLUSTER_C = 5        # planted clusters (deliberately ≠ the k=8 IVF cells)
CLUSTER_AMP = "2.0"  # one-hot center amplitude (vs component std ≈ 0.125)
CLUSTER_NOISE = "0.5"  # scale on the original vector (intra-cluster spread)


def _clustered_embs(spark, sf_dir):
    """Deterministic CLUSTERED variant of the embedding corpus: vector
    ``v`` moves to ``center(vec_id % C) + 0.5·v`` where center ``c`` is
    a one-hot axis vector of amplitude 2.0.  Centers are mutually
    orthogonal (90° apart) and the 0.5-scaled original vector (norm
    ≈ 0.5 on this corpus) is the intra-cluster spread — tight, clearly
    separated clusters, the regime real embedding models produce.
    With C=5 true clusters and the k=8 trained IVF codebook (init =
    first 8 vec_ids → duplicate centers for clusters 0–2), Lloyd's
    rounds SPLIT some clusters across two cells, so single-probe
    recall takes a genuine boundary hit and nprobe=2 measurably
    recovers it — the dial ``SCALE.md`` documents.  Every arithmetic
    step (float→double cast, ×0.5, +2.0) is the same IEEE op sequence
    in both engines, so the derived doubles — and everything the
    integer-exact trainer does with them — are bit-identical."""
    c = (F.col("vec_id") % CLUSTER_C).cast("int")
    return _embs(spark, sf_dir).select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x, i: F.when(i == c, F.lit(float(CLUSTER_AMP)))
            .otherwise(F.lit(0.0))
            + x.cast("double") * float(CLUSTER_NOISE),
        ).alias("embedding"),
    )


def _recall_oracle(
    corpus_cte: str, members: list[tuple[str, int, str]]
) -> str:
    """Recall oracle on a DERIVED corpus: the registered oracle texts
    of the exact baseline and each member stack are re-pointed at the
    ``cemb`` CTE instead of the raw table, then one recall row is
    emitted per member.  The swap is a word-boundary rewrite (same
    pattern as ``dq_probe._rewire``), NOT a literal ``FROM
    embeddings`` replace: a future oracle edit that references the
    table another way (``JOIN embeddings``, a comma join,
    ``embeddings e``) must still be re-pointed — a missed form would
    silently mix the raw corpus into the derived oracle, caught only
    later as a hash mismatch.  Trainer, tie-breaks and ranking stay
    byte-identical to the hash-verified originals.

    ``corpus_cte`` is the SQL body deriving ``(vec_id, embedding)``;
    ``members`` = (variant label, nprobe, registered oracle id)."""

    def on_cemb(s: str) -> str:
        return re.sub(r"\bembeddings\b", "cemb", s)

    ctes, selects = [], []
    for i, (variant, nprobe, oracle_id) in enumerate(members):
        cte = f"m{i}"
        ctes.append(f"{cte} AS ({on_cemb(ORACLES[oracle_id])})")
        n = (
            f"(SELECT count(*) FROM {cte} JOIN exact5 "
            "USING (vec_id, neighbor_id))"
        )
        selects.append(
            f"""
    SELECT '{variant}' AS variant, {nprobe}::BIGINT AS nprobe,
           (SELECT n FROM nq)::BIGINT AS n_queries,
           {n}::BIGINT AS n_hits,
           round({n}::DOUBLE / (5 * (SELECT n FROM nq)), 6)
             AS recall_at_5"""
        )
    return f"""
    WITH cemb AS ({corpus_cte}),
    exact AS ({on_cemb(ORACLES['sim_topk_cosine'])}),
    {",".join(ctes)},
    exact5 AS (SELECT vec_id, neighbor_id FROM exact WHERE rnk <= 5),
    nq AS (SELECT count(DISTINCT vec_id) AS n FROM exact5)
    {(chr(10) + '    UNION ALL').join(selects)}
    """


_CLUSTERED_CEMB_SQL = f"""
      SELECT vec_id,
             [ (CASE WHEN vec_id % {CLUSTER_C} = i - 1
                     THEN {CLUSTER_AMP} ELSE 0.0 END)
               + embedding[i]::DOUBLE * {CLUSTER_NOISE}
               for i in range(1, len(embedding) + 1) ] AS embedding
      FROM embeddings
    """


def _clustered_recall_oracle() -> str:
    return _recall_oracle(
        _CLUSTERED_CEMB_SQL,
        [
            ("ivf", 1, "sim_ann_ivf_trained"),
            ("ivf", 2, "sim_ann_ivf_multiprobe"),
            ("ivfpq", 1, "sim_ann_ivfpq"),
            ("ivfpq_norm", NPQ_NPROBE, "sim_ann_ivfpq_normalized"),
            ("ivfpq_scaled", NPQ_NPROBE, "sim_ann_ivfpq_scaled_k"),
        ],
    )


@query("sim_recall_clustered", oracle=_clustered_recall_oracle())
def sim_recall_clustered(spark, sf_dir):
    """Recall@5 of the trained IVF (nprobe 1 and 2) and IVFPQ stacks
    on a CLUSTERED embedding corpus — the production-regime companion
    to ``sim_recall_multiprobe`` / ``sim_recall_ivfpq``, whose numbers
    are measured on the isotropic corpus (the hard-case floor: random
    vectors give k-means nothing to learn, so cell boundaries cut
    arbitrarily through every neighborhood).  Real embedding models
    produce clustered spaces; this fixture derives one
    deterministically from the same corpus (``_clustered_embs``:
    orthogonal one-hot centers + 0.5× the original vector) and runs
    the IDENTICAL trainer / search / ranking stacks on it, so the two
    reports bracket the production dial: isotropic floor ≤ deployed
    recall ≈ clustered fixture.

    Five rows: (ivf, nprobe=1), (ivf, nprobe=2), (ivfpq, nprobe=1),
    (ivfpq_norm, nprobe=2 — the ``sim_ann_ivfpq_normalized``
    deployment dial, gated ≥ 0.8 by ``tests/test_training_ops.py``)
    and (ivfpq_scaled, nprobe=2 — the corpus-scaled-k dial, same
    gate) — each hits@5 against the exact brute-force top-5 of the
    SAME
    derived corpus.  Scale: the derivation is one map-side transform;
    index builds and the evaluation joins are the verified builders'
    shapes unchanged (``_ivf_probe_frame`` persisted once and shared
    by both probe depths; ADC stack via ``_ivfpq_top5``); the only
    driver traffic is the bounded per-variant hit counts.
    """
    ce = _clustered_embs(spark, sf_dir)
    return _recall_report(spark, ce, with_demo_ivfpq=True)


def _deployment_pq_top5(ce, scaled_k: bool = False):
    """The ``sim_ann_ivfpq_normalized`` stack over an arbitrary
    corpus frame — the deployment dial in one place.  ``scaled_k``
    switches the coarse quantizer to the corpus-scaled cell count
    (``sim_ann_ivfpq_scaled_k``'s dial, k from the frame's own valid
    count)."""
    u = _unit_embs(ce)
    return _ivfpq_top5(
        u,
        subspaces=NPQ_SUBSPACES,
        subdims=NPQ_SUBDIMS,
        pq_k=NPQ_K,
        nprobe=NPQ_NPROBE,
        rerank=NPQ_RERANK,
        coarse_k=_scaled_coarse_k(u.count()) if scaled_k else 8,
    )


def _recall_report(spark, ce, with_demo_ivfpq: bool):
    """Shared recall@5 report over a derived corpus ``ce``: trained
    IVF at probe depths 1 and 2, optionally the demo IVFPQ, and the
    deployment IVFPQ at BOTH coarse dials (fixed k=8 and the
    corpus-scaled k — the recall-gated rows, ≥ 0.8 in
    ``tests/test_training_ops.py``), each hits@5 against the exact
    brute-force top-5 of the SAME corpus.  The only driver traffic is
    the bounded per-variant hit counts."""
    exact5 = lineage_cut(spark)(
        P.topk_cosine_blocked(ce, k=10)
        .filter(F.col("rnk") <= 5)
        .select("vec_id", "neighbor_id")
    )
    n_queries = exact5.select("vec_id").distinct().count()
    ep = _ivf_probe_frame(ce)
    variants = [
        ("ivf", 1, _ivf_top5(ep, max_probe=1)),
        ("ivf", 2, _ivf_top5(ep, max_probe=2)),
    ]
    if with_demo_ivfpq:
        variants.append(
            ("ivfpq", 1, _ivfpq_top5(ce.filter(P.finite_vec("embedding"))))
        )
    variants.append(("ivfpq_norm", NPQ_NPROBE, _deployment_pq_top5(ce)))
    variants.append(
        ("ivfpq_scaled", NPQ_NPROBE, _deployment_pq_top5(ce, scaled_k=True))
    )
    rows = []
    for variant, nprobe, top5 in variants:
        n_hits = (
            top5.select("vec_id", "neighbor_id")
            .join(exact5, ["vec_id", "neighbor_id"])
            .count()
        )
        rows.append((variant, nprobe, n_queries, n_hits))
    out = spark.createDataFrame(
        rows, "variant string, nprobe long, n_queries long, n_hits long"
    )
    return out.select(
        "variant",
        "nprobe",
        "n_queries",
        "n_hits",
        E.round_to(
            F.col("n_hits").cast("double")
            / (F.lit(5) * F.col("n_queries")),
            6,
        ).alias("recall_at_5"),
    )


# Skewed-overlap geometry (the hostile case): non-orthogonal centers —
# amplitude 1.0 (spread ≈ separation) with a 0.4-amplitude component
# SHARED with the next center — and Zipf-ish cluster sizes
# (50/25/12/8/5% via thresholds on vec_id % 100).
SKEW_AMP = "1.0"
SKEW_CROSS = "0.4"   # effective shared-component amplitude (AMP × 0.4)
SKEW_NOISE = "0.5"
SKEW_CUTS = (50, 75, 87, 95)


def _skew_cid():
    """Skewed cluster id: thresholds on ``vec_id % 100``."""
    h = F.col("vec_id") % 100
    cid = F.lit(len(SKEW_CUTS))
    for i, cut in reversed(list(enumerate(SKEW_CUTS))):
        cid = F.when(h < cut, F.lit(i)).otherwise(cid)
    return cid


def _skewed_embs(spark, sf_dir):
    """Deterministic SKEWED-OVERLAP variant of the embedding corpus:
    vector ``v`` moves to ``center(c) + 0.5·v`` where ``c`` is the
    Zipf-skewed cluster id and ``center(c) = 1.0·e_c + 0.4·e_{(c+1)
    mod 5}`` — adjacent centers share a component (non-orthogonal)
    and the 1.0 amplitude makes cluster spread comparable to center
    separation, so near-dup pairs straddle cells as the COMMON case
    (measured: single-probe pair recall 0.51 vs geometry #1's 0.78 —
    SCALE.md round-12).  Same IEEE op sequence in both engines."""
    c = _skew_cid().cast("int")
    return _embs(spark, sf_dir).select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x, i: (
                F.when(i == c, F.lit(float(SKEW_AMP)))
                .when(
                    i == (c + 1) % CLUSTER_C,
                    F.lit(float(SKEW_CROSS)),
                )
                .otherwise(F.lit(0.0))
                + x.cast("double") * float(SKEW_NOISE)
            ),
        ).alias("embedding"),
    )


_SKEWED_CEMB_SQL = f"""
      SELECT vec_id,
             [ (CASE WHEN c = i - 1 THEN {SKEW_AMP}
                     WHEN (c + 1) % {CLUSTER_C} = i - 1 THEN {SKEW_CROSS}
                     ELSE 0.0 END)
               + embedding[i]::DOUBLE * {SKEW_NOISE}
               for i in range(1, len(embedding) + 1) ] AS embedding
      FROM (
        SELECT vec_id, embedding,
               CASE WHEN vec_id % 100 < {SKEW_CUTS[0]} THEN 0
                    WHEN vec_id % 100 < {SKEW_CUTS[1]} THEN 1
                    WHEN vec_id % 100 < {SKEW_CUTS[2]} THEN 2
                    WHEN vec_id % 100 < {SKEW_CUTS[3]} THEN 3
                    ELSE 4 END AS c
        FROM embeddings
      )
    """


@query(
    "sim_recall_clustered_skewed",
    oracle=_recall_oracle(
        _SKEWED_CEMB_SQL,
        [
            ("ivf", 1, "sim_ann_ivf_trained"),
            ("ivf", 2, "sim_ann_ivf_multiprobe"),
            ("ivfpq_norm", NPQ_NPROBE, "sim_ann_ivfpq_normalized"),
            ("ivfpq_scaled", NPQ_NPROBE, "sim_ann_ivfpq_scaled_k"),
        ],
    ),
)
def sim_recall_clustered_skewed(spark, sf_dir):
    """``sim_recall_clustered`` on the HOSTILE geometry (VERDICT r11
    #6): geometry #1's orthogonal equal-size centers are the
    favorable case, so this fixture plants overlapping NON-orthogonal
    centers (adjacent centers share a 0.4-amplitude component; 1.0
    amplitude puts cluster spread on par with center separation) with
    Zipf-skewed sizes (50/25/12/8/5%) and re-runs the identical
    trained-IVF and deployment-IVFPQ stacks.  Four rows: (ivf, 1),
    (ivf, 2), (ivfpq_norm, 2), (ivfpq_scaled, 2 — the corpus-scaled-k
    dial on the hostile geometry).  Measured at sf0.01: single-probe
    degrades to 0.756 (boundary-straddling neighbors are the common
    case), nprobe=2 still clears the 0.8 gate at 0.908, and the
    IVFADC+R deployment stack holds at 0.992 — the nprobe=2/3
    decision does not flip (SCALE.md round-12, which also carries the
    depth-3/4 rows and the dedup pair-recall dial on the same
    geometry).

    Scale: identical shapes to the geometry-#1 report — one map-side
    corpus derivation, the verified builders unchanged, bounded hit
    counts as the only driver traffic.
    """
    return _recall_report(spark, _skewed_embs(spark, sf_dir), with_demo_ivfpq=False)


# ---------------------------------------------------------------------------
# Curriculum shard packing (global prefix sum, scale-safe)
# ---------------------------------------------------------------------------

CURR_SHARD_TOKENS = 2000  # tokens per curriculum shard


def _curr_shards_oracle() -> str:
    return f"""
    WITH cur AS ({ORACLES['sample_curriculum_order']}),
    tok AS (
      SELECT doc_id,
             len(string_split(lower(text), ' '))::BIGINT AS n_tokens
      FROM documents
    ), j AS (
      SELECT cur.doc_id, cur.curriculum_rank, tok.n_tokens
      FROM cur JOIN tok USING (doc_id)
    ), c AS (
      SELECT doc_id, curriculum_rank, n_tokens,
             sum(n_tokens) OVER (
               ORDER BY curriculum_rank
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_tokens
      FROM j
    )
    SELECT doc_id, curriculum_rank, n_tokens, cum_tokens::BIGINT AS cum_tokens,
           ((cum_tokens - 1) // {CURR_SHARD_TOKENS})::BIGINT AS shard_id
    FROM c
    """


@query("pack_curriculum_shards", oracle=_curr_shards_oracle())
def pack_curriculum_shards(spark, sf_dir):
    """The packer that CONSUMES the curriculum: kept documents in
    curriculum order (``sample_curriculum_order``'s total rank), cut
    into fixed-token shards by the inclusive global prefix sum of
    their token counts — shard 0 is the cleanest {CURR_SHARD_TOKENS}
    tokens, shard k+1 strictly noisier than shard k, which is exactly
    how a 100 TB curriculum run is materialized (sort once, shard in
    rank order, feed shards sequentially).

    The running total is DATA-SIZED, so it uses
    ``functions.with_running_total`` (range repartition + per-slice
    Arrow prefix sums + in-plan slice offsets + broadcast join), never
    a single-task unpartitioned window.  Shard assignment is exact
    integer arithmetic: ``(cum_tokens − 1) div {CURR_SHARD_TOKENS}``,
    inclusive sum, so a document straddling a boundary lands in the
    shard its LAST token falls in, and Σ per-shard tokens ==
    Σ n_tokens with no token lost or double-counted.
    """
    cur = sample_curriculum_order(spark, sf_dir).select(
        "doc_id", "curriculum_rank"
    )
    tok = _docs(spark, sf_dir).select(
        "doc_id",
        F.size(P.ws_tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    j = cur.join(tok, "doc_id")
    c = E.with_running_total(
        j,
        order=[F.asc("curriculum_rank")],
        out_col="cum_tokens",
        weight="n_tokens",
    )
    return c.select(
        "doc_id",
        "curriculum_rank",
        "n_tokens",
        "cum_tokens",
        F.expr(
            f"CAST((cum_tokens - 1) DIV {CURR_SHARD_TOKENS} AS BIGINT)"
        ).alias("shard_id"),
    )


# ---------------------------------------------------------------------------
# Embedding whitening (per-dimension standardization, trained stats)
# ---------------------------------------------------------------------------


@query(
    "emb_whitening",
    oracle="""
    WITH q AS (
      SELECT vec_id,
             [CAST(floor(x::DOUBLE * 1000000.0) AS BIGINT)
              for x in embedding] AS qv
      FROM embeddings
      WHERE isfinite(list_sum([abs(x::DOUBLE) for x in embedding]))
        AND len(list_filter(embedding, x -> x IS NULL)) = 0
    ), cell AS (
      SELECT vec_id, gs.i - 1 AS dim_idx, qv[gs.i] AS v
      FROM q, generate_series(1, 64) AS gs(i)
    ), s AS (
      SELECT dim_idx, count(*) AS n,
             CAST(sum(v) AS BIGINT) AS sum_q,
             count(*) * sum(v * v) - sum(v) * sum(v) AS var_num
      FROM cell GROUP BY dim_idx
    )
    SELECT c.vec_id, c.dim_idx, c.v AS v_micro,
           CASE WHEN s.var_num > 0 THEN
             round((c.v * s.n - s.sum_q)
                   / sqrt(CAST(s.var_num AS DOUBLE)), 6)
           END AS z
    FROM cell c JOIN s USING (dim_idx)
    """,
)
def emb_whitening(spark, sf_dir):
    """Per-dimension standardization of the embedding corpus — the
    trained feature-normalization step that precedes PCA/OPQ and
    stabilizes cosine/L2 geometry when dimensions carry wildly
    different scales.  The trained artifact is the per-dimension
    (n, Σv, variance numerator) table (the same exact integer moments
    as ``emb_dim_variance_prune``); the standardized value is
    z = (v − mean)/std expressed as the algebraically identical
    (v·n − Σv)/√(n·Σv² − (Σv)²), so the ONLY float ops are one
    subtraction, one sqrt and one division over EXACT integers —
    identical on both engines, rounded to the 1e-6 grid.  A
    zero-variance dimension (constant column) standardizes to NULL,
    not ±Inf — the dimension carries no signal and downstream
    consumers treat it as pruned, the ``emb_dim_variance_prune``
    keep=0 contract.

    Scale: the moment table is ONE map-combinable groupBy of d=64
    groups; standardization is the corpus-sized cell stream joined to
    the 64-row broadcast stats — map-side, no second shuffle.
    ``v·n`` stays inside BIGINT to ~9e9 valid vectors per micro-unit
    scale (2e6·9e9 ≈ 1.8e16); the variance numerator accumulates in
    DECIMAL(38,0) (the r9 overflow class).
    """
    dec = "decimal(38,0)"
    cell = (
        _embs(spark, sf_dir)
        .filter(P.finite_vec("embedding"))
        .select(
            "vec_id",
            F.posexplode(
                F.transform(
                    "embedding",
                    lambda x: F.floor(x.cast("double") * 1e6).cast(
                        "long"
                    ),
                )
            ).alias("dim_idx", "v"),
        )
    )
    s = cell.groupBy("dim_idx").agg(
        F.count("*").alias("n"),
        F.sum("v").cast("long").alias("sum_q"),
        (
            F.count("*").cast(dec)
            # cast each factor BEFORE multiplying — v·v in LONG
            # overflows at |x| > ~3037 (v = floor(x·1e6)), which
            # finite_vec does not exclude; DECIMAL(38,0)·DECIMAL(38,0)
            # matches the oracle's HUGEINT auto-promotion
            * F.sum(F.col("v").cast(dec) * F.col("v").cast(dec))
            - F.sum(F.col("v").cast(dec)) * F.sum(F.col("v").cast(dec))
        ).alias("var_num"),
    )
    z = F.when(
        F.col("var_num") > 0,
        E.round_to(
            (F.col("v") * F.col("n") - F.col("sum_q"))
            / F.sqrt(F.col("var_num").cast("double")),
            6,
        ),
    )
    return cell.join(F.broadcast(s), "dim_idx").select(
        "vec_id",
        F.col("dim_idx").cast("long").alias("dim_idx"),
        F.col("v").alias("v_micro"),
        z.alias("z"),
    )


# ---------------------------------------------------------------------------
# Template-hub authority (PageRank over the winnow near-dup graph)
# ---------------------------------------------------------------------------

PR_BASE = 1_000_000   # initial rank, micro-units
PR_HOLD = 150_000     # (1 - d) * 1e6 with damping d = 0.85 = 17/20


def _pagerank_oracle() -> str:
    return f"""
    WITH wm AS ({ORACLES['dedup_winnow_match']}),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM wm
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM wm
    ), deg AS (
      SELECT src, count(*)::BIGINT AS deg FROM edges GROUP BY src
    ), c1 AS (
      SELECT e.dst AS doc_id,
             sum({PR_BASE} // d.deg)::BIGINT AS contrib
      FROM edges e JOIN deg d ON d.src = e.src
      GROUP BY e.dst
    ), pr1 AS (
      SELECT d.doc_id,
             {PR_HOLD} + (17 * coalesce(c1.contrib, 0)) // 20 AS pr
      FROM (SELECT doc_id FROM documents) d
      LEFT JOIN c1 USING (doc_id)
    ), c2 AS (
      SELECT e.dst AS doc_id,
             sum(p.pr // d.deg)::BIGINT AS contrib
      FROM edges e
      JOIN deg d ON d.src = e.src
      JOIN pr1 p ON p.doc_id = e.src
      GROUP BY e.dst
    ), pr2 AS (
      SELECT d.doc_id,
             {PR_HOLD} + (17 * coalesce(c2.contrib, 0)) // 20 AS pr
      FROM (SELECT doc_id FROM documents) d
      LEFT JOIN c2 USING (doc_id)
    )
    SELECT d.doc_id,
           coalesce(g.deg, 0)::BIGINT AS degree,
           pr1.pr::BIGINT AS pr1_micro,
           pr2.pr::BIGINT AS pr2_micro
    FROM (SELECT doc_id FROM documents) d
    LEFT JOIN deg g ON g.src = d.doc_id
    JOIN pr1 ON pr1.doc_id = d.doc_id
    JOIN pr2 ON pr2.doc_id = d.doc_id
    """


@query("doc_pagerank_winnow", oracle=_pagerank_oracle())
def doc_pagerank_winnow(spark, sf_dir):
    """Graph-authority weighting over the fingerprint-similarity
    graph: two fixed PageRank iterations (damping 0.85) on the
    symmetric ``dedup_winnow_match`` pair graph.  Web-corpus
    curation weights documents by graph centrality (Common Crawl
    publishes harmonic centrality; CCNet consumes it); on a
    CONTENT-similarity graph high authority marks template/boilerplate
    hubs — documents that share fingerprints with many others — which
    a pipeline downweights or caps, the complement of pair-level
    dedup.

    Exactness: ranks live in integer micro-units, per-edge transfer
    is ``pr div deg`` (integer floor), damping is the exact rational
    17/20 — no float anywhere, so two engines agree bit-for-bit after
    any number of iterations.  Dangling documents (no shared
    fingerprints) hold the base (1−d) mass by construction (the
    standard simplification that skips dangling-mass redistribution —
    deterministic and documented).

    Scale: each iteration is one equi-join of the edge list to the
    current rank vector plus one map-combinable groupBy(dst) — the
    canonical distributed PageRank step.  The winnow graph's fan-out
    is banding-bounded (WINNOW_MAXDF boilerplate cull: ≤64² pairs per
    fingerprint bucket), so per-key contributions stay bounded at any
    corpus size; iterations are a fixed constant (2), each ending in
    a materialization barrier via the join's shuffle.
    """
    from .curation import dedup_winnow_match

    wm = dedup_winnow_match(spark, sf_dir).select("doc_a", "doc_b")
    edges = wm.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        wm.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    cut = lineage_cut(spark)
    edges = cut(edges)  # reused by both iterations
    deg = edges.groupBy("src").agg(F.count("*").cast("long").alias("deg"))
    docs = _docs(spark, sf_dir).select("doc_id")

    def _iterate(pr_frame):
        # pr_frame: (doc_id, pr); returns the next (doc_id, pr)
        contrib = (
            edges.join(deg, "src")
            .join(
                pr_frame.select(
                    F.col("doc_id").alias("src"), F.col("pr").alias("pr_src")
                ),
                "src",
            )
            .select(
                F.col("dst").alias("doc_id"),
                F.expr("pr_src DIV deg").alias("t"),
            )
            .groupBy("doc_id")
            .agg(F.sum("t").cast("long").alias("contrib"))
        )
        return docs.join(contrib, "doc_id", "left").select(
            "doc_id",
            (
                F.lit(PR_HOLD)
                + F.expr(
                    "17 * coalesce(contrib, 0) DIV 20"
                )
            ).alias("pr"),
        )

    pr0 = docs.select("doc_id", F.lit(PR_BASE).alias("pr"))
    pr1 = cut(_iterate(pr0))
    pr2 = _iterate(pr1)
    return (
        docs.join(
            deg.select(F.col("src").alias("doc_id"), "deg"), "doc_id", "left"
        )
        .join(pr1.select("doc_id", F.col("pr").alias("pr1_micro")), "doc_id")
        .join(pr2.select("doc_id", F.col("pr").alias("pr2_micro")), "doc_id")
        .select(
            "doc_id",
            F.coalesce("deg", F.lit(0)).cast("long").alias("degree"),
            F.col("pr1_micro").cast("long"),
            F.col("pr2_micro").cast("long"),
        )
    )


# ---------------------------------------------------------------------------
# Top principal component by power iteration (matrix-free, integer-exact)
# ---------------------------------------------------------------------------

PCA_DIMS = 64
PCA_ROUNDS = 2


def _pca_round_sql(n: int, prev_v: str) -> str:
    """One unrolled power-iteration round over the centered cells:
    per-vector score s = Σ_d x·v (then DIV 1e6 back to x-units),
    per-dim accumulation w = Σ_i s'·x in HUGEINT, and L∞
    renormalization to ±1e6 with truncation toward zero — every step
    integer, so the round replays bit-for-bit on both engines."""
    return f"""
    sc{n} AS (
      SELECT c.vec_id,
             list_sum([c.x[i] * {prev_v}.v[i]
                       for i in range(1, {PCA_DIMS} + 1)])
               // 1000000 AS s
      FROM cellv c, {prev_v}
    ), w{n} AS (
      SELECT gs.i,
             sum(sc{n}.s::HUGEINT * c2.x[gs.i]) AS w
      FROM sc{n} JOIN cellv c2 USING (vec_id),
           generate_series(1, {PCA_DIMS}) AS gs(i)
      GROUP BY gs.i
    ), m{n} AS (SELECT max(abs(w)) AS m FROM w{n}),
    v{n} AS (
      SELECT list(
               CASE WHEN m > 0 THEN
                 (CASE WHEN w < 0 THEN -1 ELSE 1 END)
                 * CAST((abs(w) * 1000000) // m AS BIGINT)
               ELSE 0 END ORDER BY i) AS v
      FROM w{n}, m{n}
    )"""


@query(
    "emb_pca_power_iteration",
    oracle=f"""
    WITH qe AS (
      SELECT vec_id,
             [CAST(floor(x::DOUBLE * 1000000.0) AS BIGINT)
              for x in embedding] AS qv
      FROM embeddings
      WHERE isfinite(list_sum([abs(x::DOUBLE) for x in embedding]))
        AND len(list_filter(embedding, x -> x IS NULL)) = 0
    ), mu AS (
      SELECT gs.i, CAST(sum(qv[gs.i]) AS BIGINT)
               // count(*) AS mean_q
      FROM qe, generate_series(1, {PCA_DIMS}) AS gs(i)
      GROUP BY gs.i
    ), mul AS (
      SELECT list(mean_q ORDER BY i) AS ml FROM mu
    ), cellv AS (
      SELECT vec_id,
             [qv[i] - ml[i] for i in range(1, {PCA_DIMS} + 1)] AS x
      FROM qe, mul
    ), v0 AS (SELECT [1000000 for i in range(1, {PCA_DIMS} + 1)] AS v),
    {_pca_round_sql(1, 'v0')},
    {_pca_round_sql(2, 'v1')}
    SELECT gs.i - 1 AS dim_idx,
           CAST(v2.v[gs.i] AS BIGINT) AS loading_micro
    FROM v2, generate_series(1, {PCA_DIMS}) AS gs(i)
    -- empty in → empty out (the repo-wide degenerate convention;
    -- found by dq_degenerate_probe r11): the ungrouped list() of the
    -- final round emits ONE all-NULL row even when no valid vector
    -- exists, which would fan to {PCA_DIMS} NULL loadings while the
    -- engine correctly returns zero rows.  No-op on any corpus with
    -- ≥1 valid vector.
    WHERE EXISTS (SELECT 1 FROM qe)
    """,
)
def emb_pca_power_iteration(spark, sf_dir):
    """Top principal component of the embedding corpus by
    {PCA_ROUNDS} MATRIX-FREE power iterations — v ← Xᵀ(Xv) without
    ever materializing the covariance — made integer-exact so both
    engines replay it bit-for-bit (the ``emb_kmeans_train`` recipe
    applied to iterative linear algebra; PCA is the front half of
    OPQ/whitened-PQ and the standard pre-ANN rotation).

    Exactness contract, per round: vectors quantize to micro ints and
    center on the FLOOR mean (exact integer, the documented
    approximation); the per-vector score s = Σ x·v truncates back to
    x-units with DIV 1e6 (toward zero on both engines); the per-dim
    accumulation Σ s·x runs in DECIMAL(38,0)/HUGEINT (BIGINT
    overflows at sf1 already — 1e15-scale terms); renormalization is
    L∞ — loading ← sign·(|w|·1e6 div max|w|) — because the max-abs
    normalizer needs NO sqrt, keeping the whole loop in integers.
    The ±1e6-scaled direction is the artifact; callers needing unit
    L2 norm divide once at the end (one float op outside the loop).

    Scale: each round is one map-side score pass (the 64-long
    round vector rides along as a LITERAL array — the bounded
    scalar-anchor class, 64 ints per round, exactly the BPE trainer's
    argmax anchor pattern) and one map-combinable
    posexplode→groupBy(dim) of {PCA_DIMS} groups; nothing data-sized
    crosses the driver and no stage exceeds the moment-table shapes
    already measured linear.  Init v₀ = 1⃗ (micro) — deterministic,
    generically non-orthogonal to the top eigenvector.
    """
    dec = "decimal(38,0)"
    cut = lineage_cut(spark)
    q = cut(
        _embs(spark, sf_dir)
        .filter(P.finite_vec("embedding"))
        .select(
            "vec_id",
            F.transform(
                "embedding",
                lambda x: F.floor(x.cast("double") * 1e6).cast("long"),
            ).alias("qv"),
        )
    )
    mu = (
        q.select(F.posexplode("qv").alias("i", "v"))
        .groupBy("i")
        .agg(F.expr("CAST(sum(v) AS BIGINT) DIV count(*)").alias("mean_q"))
        .collect()
    )
    if not mu:
        return spark.createDataFrame(
            [], "dim_idx long, loading_micro long"
        )
    means = [0] * PCA_DIMS
    for r in mu:
        means[r["i"]] = int(r["mean_q"])
    mean_lit = F.array(*[F.lit(m) for m in means])
    cell = cut(
        q.select(
            "vec_id",
            F.zip_with("qv", mean_lit, lambda a, b: a - b).alias("x"),
        )
    )

    v = [1_000_000] * PCA_DIMS
    for _ in range(PCA_ROUNDS):
        s = cell.select(
            "vec_id",
            F.expr(
                "aggregate(zip_with(x, "
                + "array("
                + ",".join(f"{int(c)}L" for c in v)
                + "), (a, b) -> a * b), 0L, (acc, t) -> acc + t)"
                " DIV 1000000"
            ).alias("s"),
        )
        w_rows = (
            cell.join(s, "vec_id")
            .select(
                F.posexplode("x").alias("i", "xv"),
                F.col("s"),
            )
            .groupBy("i")
            .agg(
                F.sum((F.col("s") * F.col("xv")).cast(dec)).alias("w")
            )
            .collect()
        )
        w = [0] * PCA_DIMS
        for r in w_rows:
            w[r["i"]] = int(r["w"])
        m = max(abs(x) for x in w)
        if m == 0:
            v = [0] * PCA_DIMS
            break
        v = [
            (1 if x >= 0 else -1) * ((abs(x) * 1_000_000) // m) for x in w
        ]
    return spark.createDataFrame(
        [(i, int(v[i])) for i in range(PCA_DIMS)],
        "dim_idx long, loading_micro long",
    )
