"""Physical-plan audit over the bench headline queries → PLANS.md.

For each headline query: exchange count, join strategies, nested-loop
presence, whether pushed filters reach a parquet scan, and the
whole-stage-codegen span count.  The table is the ".explain and
iterate" discipline made reviewable — regressions in plan shape show
up as diffs in a checked-in artifact, not just as slower benches.

Usage: python tools/plan_audit.py  (writes PLANS.md at the repo root)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"

from getdbt_spark.plans import (  # single source of truth
    BOUNDED_NLJ_ALLOW,
    GLOBAL_WINDOW_ALLOW,
    plan_report,
)


def main() -> None:
    import bench
    from getdbt_spark.queries import QUERIES, load_all, run_query
    from getdbt_spark.session import get_spark

    load_all()
    spark = get_spark(app_name="plan_audit")
    names = [q for q in bench.HEADLINE if q in QUERIES]
    names += [q for q in bench.PIPELINE_HEADLINE if q in QUERIES]
    names += [q for q in bench.MODEL_HEADLINE if q in QUERIES]

    rows = []
    for name in names:
        # run_query: the plan bench.py times.  A model row is the
        # PRODUCTION plan — the final model over its checkpointed
        # marts (dbt's table-per-model boundary) — not the
        # oracle-harness pure build that inlines every ref per
        # consumer (VERDICT r7 #6); tests/test_plans.py guards that
        # full lineage.
        a = plan_report(run_query(spark, SF, name))
        joins = (
            ", ".join(f"{k}×{v}" for k, v in a["joins"].items()) or "—"
        )
        if a["bnlj"] == 0:
            nlj = "none"
        elif a["bnlj"] <= BOUNDED_NLJ_ALLOW.get(name, 0):
            nlj = "allowed-bounded"
        else:
            nlj = "⚠"
        gw = a["global_windows"]
        if gw == 0:
            gws = "0"
        elif gw <= GLOBAL_WINDOW_ALLOW.get(name, 0):
            gws = f"{gw} bounded"
        else:
            gws = "⚠"
        rows.append(
            f"| {name} | {a['exchanges']} | {joins} | "
            f"{nlj} | {gws} | {a['pushed']}/{a['scans']} | "
            f"{a['codegen']} |"
        )

    out = [
        "# PLANS — physical-plan audit of the bench headline set",
        "",
        "Generated by `python tools/plan_audit.py` at sf0.001 (plan shape",
        "is scale-independent; AQE may further coalesce at runtime).",
        "Model-DAG rows audit the PRODUCTION plan that bench.py times",
        "(`queries.run_query`: Runner.run's checkpoint mode, so each row",
        "is the final model over its localCheckpointed marts), not the",
        "oracle-check pure build that re-inlines every ref per",
        "consumer — tests/test_plans.py guards that full lineage",
        "against cartesian and nested-loop joins.",
        "Columns: shuffle exchange count; join strategies; nested-loop /",
        "cartesian presence ('allowed-bounded' = within the explicit",
        "getdbt_spark.plans.BOUNDED_NLJ_ALLOW budget — today only",
        "sim_ann_ivf's all-vectors × 16-centroid codebook broadcast,",
        "k-bounded by construction; '⚠' = an unlisted NLJ, a bug.  The",
        "former dashboard/mart titles×weeks spine cross joins are now",
        "join-free per-row explodes of a literal-bounded sequence);",
        "unpartitioned (single-task) windows ('N bounded' = within the",
        "documented GLOBAL_WINDOW_ALLOW budget — post-limit heads and",
        "catalog-grain aggregates; '⚠' = a data-sized global sort, a",
        "bug); scans with pushed filters / total scans; whole-stage-codegen",
        "span count (0 can mean AQE hasn't materialized the final plan",
        "pre-execution, not an interpreted plan).",
        "",
        "| query | exchanges | joins | NLJ | globwin | pushed/scans | codegen |",
        "|---|---|---|---|---|---|---|",
        *rows,
        "",
        "Invariants pinned by tests/test_plans.py: no cartesian joins,",
        "no nested-loop joins outside BOUNDED_NLJ_ALLOW,",
        "TakeOrderedAndProject",
        "top-k, hash semi/anti joins, pruned fixture scans, partition-",
        "pruned partitioned-sink read-back, single-exchange window",
        "pipelines, AQE enabled, and shuffle-partition-count invariance",
        "of money/centroid/statistics results.",
    ]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PLANS.md"), "w") as fh:
        fh.write("\n".join(out) + "\n")
    print(f"PLANS.md written ({len(rows)} queries)")


if __name__ == "__main__":
    main()
