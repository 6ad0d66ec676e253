"""Empirical scaling audit → SCALING.md.

Plan inspection (PLANS.md) argues each operator *should* scale; this
tool MEASURES it: a representative query subset runs at sf0.001 /
0.01 / 0.1 (10× data steps) in one session, and the observed scaling
exponent α = log10(t_next / t_prev) per decade is reported.  Reading:

- α ≈ 0      fixed-overhead-bound at these sizes (scheduling, codegen,
             broadcast builds) — data cost invisible; fine.
- α ≈ 1      linear — scan/shuffle-bound, the expected asymptote for
             every operator in this engine.
- α > 1.3    superlinear — a quadratic-ish term is growing faster than
             the data; at 100 TB this operator is a bug.  Flagged ⚠.

The LAST decade (0.01 → 0.1) is the signal; the first mostly measures
overhead.  Absolute numbers are host-dependent (see bench.py's
canary); exponents are not.

Usage: python tools/scaling_curve.py   (writes SCALING.md)
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]
# sf1 (tools/gen_sf1.py) joins the curve when generated: facts 10×,
# documents 10× with per-copy disjoint vocabulary, embeddings 5× with
# seeded noise — the corpus family's own growth law one decade up.

# One representative per plan family.
SUBSET = [
    "agg_two_stage",          # groupBy chain
    "join_full_outer",        # shuffle join
    "win_row_number_dedup",   # window
    "filter_partition_window",# pruned scan
    "fn_math_pipeline",       # codegen'd projection
    "dedup_exact",            # hash dedup
    "dedup_minhash_lsh",      # banded LSH + Arrow kernel
    "dedup_ngram_jaccard",    # prefix-filter join
    "sim_topk_cosine",        # block matrix product
    "sim_ann_ivf",            # bucketed ANN
    "text_paragraph_dedup",   # explode→df→join back
    "emb_kmeans_train",       # iterative trainer
    "text_decontaminate",     # broadcast semi-join
    "pack_token_budget",      # single-exchange window
    "join_asof_nearest",      # the reference's signature as-of match
    "streaming_session_stats",# session_window sessionization (batch twin)
    "win_forward_fill",       # analytic-window extension family
]


# Flagship end-to-end models, measured one decade ABOVE the bench SF
# (VERDICT r4 #6: the dashboard's 100× claim rested on plan shape
# alone).  sf1 is generated by tools/gen_sf1.py — key-shifted 10×
# replication of sf0.1 following the driver generator's growth law.
MODEL_SUBSET = ["model_streams_daily_v4", "model_dashboard_channel_weekly"]
SF1 = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".scale_data",
    "sf1",
)
MODEL_SFS = ["/root/testdata/sf0.01", "/root/testdata/sf0.1", SF1]


def main() -> None:
    from getdbt_spark.queries import QUERIES, load_all
    from getdbt_spark.session import get_spark

    import bench

    load_all()
    spark = get_spark(app_name="scaling_curve")
    bench._warmup(spark, SFS[0])

    have_sf1 = os.path.isdir(SF1)
    sfs = SFS + ([SF1] if have_sf1 else [])
    t: dict[str, list[float]] = {q: [] for q in SUBSET if q in QUERIES}
    for sf_dir in sfs:
        for q in t:
            t[q].append(bench.time_once(spark, sf_dir, q))

    # flagship models: production materialization mode, one decade up
    tm: dict[str, list[float]] = {m: [] for m in MODEL_SUBSET}
    for sf_dir in MODEL_SFS:
        if not os.path.isdir(sf_dir):
            continue
        for m in tm:
            tm[m].append(bench.time_once(spark, sf_dir, m))

    rows = []
    flagged = 0
    for q, ts in sorted(t.items(), key=lambda kv: -kv[1][-1]):
        alphas = [
            math.log10(ts[i + 1] / ts[i]) if ts[i] > 0 else float("nan")
            for i in range(len(ts) - 1)
        ]
        mark = "⚠" if alphas[-1] > 1.3 else "ok"
        flagged += mark == "⚠"
        rows.append(
            f"| {q} | "
            + " | ".join(f"{x:.2f}" for x in ts)
            + " | "
            + " | ".join(f"{a:+.2f}" for a in alphas)
            + f" | {mark} |"
        )

    model_rows = []
    for m, ts in sorted(tm.items(), key=lambda kv: -kv[1][-1]):
        alphas = [
            math.log10(ts[i + 1] / ts[i]) if ts[i] > 0 else float("nan")
            for i in range(len(ts) - 1)
        ]
        mark = "⚠" if alphas and alphas[-1] > 1.3 else "ok"
        flagged += mark == "⚠"
        model_rows.append(
            f"| {m} | "
            + " | ".join(f"{x:.2f}" for x in ts)
            + " | "
            + " | ".join(f"{a:+.2f}" for a in alphas)
            + f" | {mark} |"
        )

    out = [
        "# SCALING — measured per-decade scaling exponents",
        "",
        "Generated by `python tools/scaling_curve.py`: each query runs",
        "at sf0.001 / 0.01 / 0.1"
        + (" / 1 (sf1 via `tools/gen_sf1.py`:" if have_sf1 else " (")
        + " 10× data per step, one warm",
        "session, cache cleared between runs).  α = log10(t_next/",
        "t_prev) per decade: ≈0 overhead-bound, ≈1 linear (the design",
        "asymptote), >1.3 superlinear = ⚠ scale bug.  The LAST decade",
        "is the signal; absolute seconds are host-dependent, exponents",
        "are not.",
        "",
        "| query | "
        + " | ".join(f"t({s}) s" for s in ["0.001", "0.01", "0.1"] + (["1"] if have_sf1 else []))
        + " | "
        + " | ".join(f"α{i+1}" for i in range(3 if have_sf1 else 2))
        + " | verdict |",
        "|---|" + "---|" * ((4 if have_sf1 else 3) + (3 if have_sf1 else 2) + 1),
        *rows,
        "",
        "## Flagship models (one decade above the bench SF)",
        "",
        "Production materialization mode (`reuse=\"checkpoint\"`, the",
        "full model DAG under one timing).  sf1 is generated by",
        "`tools/gen_sf1.py` — key-shifted 10× replication of sf0.1",
        "following the driver generator's own growth law (facts 10×,",
        "catalogs fixed), so the 0.1 → 1 decade measures the engine on",
        "the corpus family's real growth, not a synthetic worst case."
        if have_sf1
        else "(sf1 missing — run `python tools/gen_sf1.py` first; "
        "table below covers sf0.01 → sf0.1 only.)",
        "",
        "| model | t(0.01) s | t(0.1) s | t(1) s | α₁ | α₂ | verdict |"
        if have_sf1
        else "| model | t(0.01) s | t(0.1) s | α₁ | verdict |",
        "|---|---|---|---|---|---|---|" if have_sf1 else "|---|---|---|---|---|",
        *model_rows,
        "",
        f"Flagged superlinear: {flagged}.",
        "",
        "Caveats: sub-second timings are dominated by fixed scheduling/",
        "codegen cost, which *deflates* α (the data term is invisible);",
        "a query can only earn ⚠ by growing faster than the data across",
        "a full decade, which fixed costs cannot cause.  dedup_* on the",
        "synthetic ~20-word vocabulary carries documented candidate",
        "inflation (SCALE.md) — their α reflects that corpus, not the",
        "algorithm's asymptote on natural text.  sim_topk_cosine is",
        "O(n²) BY CONTRACT (it is the exactness baseline the ANN",
        "operators exist to replace); its flat α here means the",
        "quadratic term hasn't crossed the overhead floor yet at",
        "these sizes, not that it scales.",
    ]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "SCALING.md"), "w") as fh:
        fh.write("\n".join(out) + "\n")
    print(f"SCALING.md written ({len(rows)} queries, {flagged} flagged)")


if __name__ == "__main__":
    main()
