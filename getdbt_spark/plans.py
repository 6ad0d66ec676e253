"""Physical-plan introspection: the ".explain and iterate" discipline
as a library API.

``plan_report(df)`` reduces a DataFrame's formatted physical plan to
the handful of numbers that decide 100 TB viability (exchange count,
join strategies, nested-loop presence, pushdown reach, codegen spans);
``plan_lint(df)`` turns the report into named findings so a pipeline
can GATE on plan shape — the same checks ``tools/plan_audit.py``
publishes as PLANS.md and ``tests/test_plans.py`` pins in CI, callable
against any user-built frame before it ships.
"""

from __future__ import annotations

import re
from collections import Counter

from pyspark.sql import DataFrame

JOIN_NODES = (
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
)

# Per-query nested-loop allow-list: {query_id: max BNLJ nodes}.  A
# BroadcastNestedLoopJoin whose build side is k-bounded BY CONSTRUCTION
# (not merely small at this SF) is the optimal fan-out plan; the only
# deliberate such shape is all-vectors × a k-row centroid codebook
# (codebooks are small by definition — the alternatives measure
# slower: literal explode re-evaluates k×dim literals per row,
# constant-key equi joins constant-fold back to cross joins):
# sim_ann_ivf scores one codebook; emb_kmeans_train scores one per
# Lloyd's round plus the final assignment, and the round-1 subtree
# appears twice in the lazy lineage (round-2 scoring AND the centroid
# rebuild join both consume it), so 2 rounds plan 4 nodes — all of
# them k-row build sides.  Everything else must be 0 — an unlisted
# NLJ is an accident that goes quadratic at 100 TB.
BOUNDED_NLJ_ALLOW: dict[str, int] = {
    "sim_ann_ivf": 1,
    "emb_kmeans_train": 4,
    "sim_ann_ivf_trained": 4,  # embeds the k-means rounds
    "sem_dedup_trained": 4,    # same embedded k-means rounds
    # Same embedded k-means rounds, but the cell self-join's a/b
    # branches BOTH consume the assignment frame, so the codebook
    # subtree (and its NLJ nodes) prints again through the second
    # branch of the lazy lineage: 4 + 3 deduplicated-by-reuse = 7
    # observed, all k-row build sides by construction.
    "dedup_embedding_cluster_ivf": 7,
    "dedup_cluster_multiprobe": 7,  # same doubled codebook lineage
    # Embedded k-means rounds whose subtree prints through BOTH the
    # query-probe and index-placement branches of the lazy lineage
    # (plus the shared final assignment): 11 nodes observed, every
    # one the same k-row codebook build side by construction.
    "sim_ann_ivf_multiprobe": 11,
    # M=4 independent subspace trainers × (2 rounds ×2 lineage dup):
    # 16 nodes, all K-row codebook build sides.
    "emb_pq_encode": 16,
    # The 4 subspace trainers + the IVF cell trainer: 20 nodes,
    # every build side a k-row codebook by construction.
    "sim_ann_ivfpq": 20,
    # The deployment dial: 8 subspace trainers + the coarse trainer,
    # and THREE consumers of the shared quantized frame (multiprobe
    # assignment, candidate a/b branches, and the IVFADC+R re-rank's
    # two qv joins) each re-print the trainer subtrees through the
    # lazy lineage: 108 observed — every one the same K-row codebook
    # build side by construction (K ≤ 256, broadcast-trivial).
    "sim_ann_ivfpq_normalized": 108,
    # Same stack with the corpus-scaled coarse_k dial — identical
    # shape class (every NLJ a broadcast codebook build side; the
    # codebook is k rows, k = N/50, still a bounded artifact beside
    # the N-row probe side).  36 nodes observed in the pre-action
    # formatted plan; the budget matches the sibling because the
    # post-materialization lineage re-prints the trainer subtrees
    # the same way.
    "sim_ann_ivfpq_scaled_k": 108,
}

# Per-query unpartitioned-window allow-list: {query_id: max Window
# nodes with no PARTITION BY}.  An unpartitioned window funnels its
# entire input through ONE task — a scale-killer when the input is
# data-sized (the r8 ``bpe_pair_stats`` finding: a vocab²-scale pair
# table sorted in one task).  Two shapes are legitimate, each bounded
# BY CONSTRUCTION, not merely small at the test SF:
#
# (a) post-limit: the window sits above ``orderBy().limit(k)``
#     (TakeOrderedAndProject), so ≤ k rows ever reach the single
#     window task regardless of data volume;
# (b) catalog-grain: the window's input is a groupBy aggregate whose
#     KEY SPACE is fixed by schema or catalog, not by row count —
#     nations (25), ISO languages, source domains, calendar days,
#     embedding dimensions.  The reduced table is a few orders of
#     magnitude below task capacity at any fact volume.
#
# Data-sized global ranks (customer/user/document grain) use
# ``functions.with_running_total`` (range repartition + per-slice
# offsets) instead — see agg_gini_concentration / agg_power_law_fit.
# Everything not listed must plan ZERO unpartitioned windows —
# enforced registry-wide by ``tests/test_plans.py``.
GLOBAL_WINDOW_ALLOW: dict[str, int] = {
    "bpe_pair_stats": 1,            # (a) rank over the top-50 survivor set
    "win_pareto_share": 1,          # (a) cumsum/rank over the top-200 head
    "win_percent_of_total": 1,      # (b) nation grain (25 rows)
    "sample_alpha_temperature": 2,  # (b) language grain
    "mix_domain_weights": 2,        # (b) source-domain grain
    "agg_new_vs_returning": 1,      # (b) calendar-day grain
    "emb_dim_variance_prune": 1,    # (b) embedding-dimension grain
    "mix_token_budget_allocation": 4,  # (b) source-domain grain
    "quality_nb_train": 1,   # (a) rank over the top-50 survivor set
    "mix_epoch_schedule": 9,  # (b) source-domain grain (two Hamilton rounds)
}


def _formatted(df: DataFrame) -> str:
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def _toplevel_bracket_groups(s: str) -> list[str]:
    depth = 0
    groups: list[str] = []
    buf: list[str] = []
    for ch in s:
        if ch == "[":
            if depth == 0:
                buf = []
            depth += 1
        elif ch == "]":
            depth = max(0, depth - 1)
            if depth == 0:
                groups.append("".join(buf))
        elif depth > 0:
            buf.append(ch)
    return groups


def unpartitioned_windows(plan: str) -> int:
    """Count Window nodes with no PARTITION BY in a formatted plan.

    A Window node's detail block prints ``Arguments:`` with up to
    three top-level bracket groups — [windowExprs], then the partition
    spec and/or the order spec, each omitted when empty:

    - 3 groups → partitioned (partition spec present) — fine;
    - 1 group → no partition, no order — GLOBAL, single task;
    - 2 groups → the second is EITHER a partition spec (unordered
      partitioned window — fine) or an order spec (unpartitioned
      ordered window — single task).  Order specs always print a sort
      direction (``ASC NULLS`` / ``DESC NULLS``); partition specs are
      bare expressions.

    An unpartitioned window executes as ONE task sorting its whole
    input — only acceptable above a limit-bounded input
    (GLOBAL_WINDOW_ALLOW); data-sized global ranks use
    ``functions.with_running_total`` instead.
    """
    lines = plan.splitlines()
    count = 0
    for i, ln in enumerate(lines):
        if not re.match(r"^\(\d+\) Window\b", ln.strip()):
            continue
        for nxt in lines[i + 1 :]:
            nxt = nxt.strip()
            if not nxt:
                break
            if not nxt.startswith("Arguments: "):
                continue
            groups = _toplevel_bracket_groups(nxt)
            if len(groups) == 1:
                count += 1
            elif len(groups) == 2 and re.search(
                r"\b(ASC|DESC) NULLS\b", groups[1]
            ):
                count += 1
            break
    return count


def plan_report(df: DataFrame) -> dict:
    """Summarize the physical plan: shuffle exchanges, join strategy
    counts, nested-loop/cartesian presence, scans with pushed filters
    vs total scans, and whole-stage-codegen span count."""
    plan = _formatted(df)
    nodes = Counter(re.findall(r"\(\d+\) ([A-Za-z]+)", plan))
    joins = {j: nodes.get(j, 0) for j in JOIN_NODES if nodes.get(j, 0)}
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    simple = df._jdf.queryExecution().executedPlan().toString()
    return {
        "exchanges": nodes.get("Exchange", 0),
        "joins": joins,
        "bnlj": nodes.get("BroadcastNestedLoopJoin", 0)
        + nodes.get("CartesianProduct", 0),
        "pushed": sum(1 for p in pushed if p.strip()),
        "scans": nodes.get("Scan", 0) + nodes.get("FileScan", 0),
        "codegen": len(set(re.findall(r"\*\((\d+)\)", simple))),
        "global_windows": unpartitioned_windows(plan),
    }


def plan_lint(
    df: DataFrame,
    allow_nested_loop: bool = False,
    max_exchanges: int | None = None,
) -> list[str]:
    """Named findings over ``plan_report`` — empty list means the plan
    passes the engine's scale discipline.

    - ``nested-loop``: a BroadcastNestedLoopJoin / CartesianProduct is
      present (quadratic at scale) and not explicitly allowed (the
      bounded-fan-out spine/centroid patterns set
      ``allow_nested_loop=True`` deliberately).
    - ``exchange-budget``: more shuffle exchanges than the caller's
      stated budget.
    - ``scan-without-pushdown``: the plan filters rows but no filter
      reached any file scan — a full-scan-then-filter shape.
    """
    rep = plan_report(df)
    findings: list[str] = []
    if rep["bnlj"] and not allow_nested_loop:
        findings.append(
            f"nested-loop: {rep['bnlj']} nested-loop/cartesian join(s) — "
            "quadratic at scale; broadcast-hash or pre-bucket instead"
        )
    if max_exchanges is not None and rep["exchanges"] > max_exchanges:
        findings.append(
            f"exchange-budget: {rep['exchanges']} exchanges > budget "
            f"{max_exchanges}"
        )
    plan = _formatted(df)
    has_filter = bool(re.search(r"\(\d+\) Filter", plan))
    if rep["scans"] and has_filter and rep["pushed"] == 0:
        findings.append(
            "scan-without-pushdown: the plan filters rows but no "
            "predicate reached a file scan (PushedFilters all empty)"
        )
    return findings
