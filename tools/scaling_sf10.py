"""Measure the HEAVY family one more decade up: sf1 -> sf10.

VERDICT r8 #5: the measured curve stopped at sf1; the quadratic-risk
operators (banded LSH, prefix-filter join, iterative connected
components, span dedup, the flagship model DAGs) get one more decade
so a superlinear term that hides inside sf1's overhead floor has a
chance to show.  sf10 comes from the same growth law stacked twice
(tools/gen_sf1.py with GEN_SF_SRC=.scale_data/sf1, prefix 'd'):
facts 10x, documents 10x with per-copy disjoint vocabulary,
embeddings 5x with seeded noise.

Methodology mirrors bench.py: one warm session, min-of-two per
(query, sf), SQL cache cleared between reps, model DAGs in production
checkpoint mode.  alpha4 = log10(t_sf10 / t_sf1); same-session ratios
are the signal, absolute seconds are host-dependent.

Usage: python tools/scaling_sf10.py   (prints one JSON line; paste the
table into SCALING.md's sf10 section and commit SCALING_SF10.json)
"""

from __future__ import annotations

import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF1 = os.path.join(REPO, ".scale_data", "sf1")
SF10 = os.path.join(REPO, ".scale_data", "sf10")

HEAVY = [
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_cluster_canonical",
    "text_paragraph_dedup",
]
MODELS = ["model_streams_daily_v4", "model_dashboard_channel_weekly"]
# Round-11 (VERDICT r10 #5): the round-10 heavy additions, one more
# decade.  Pass query names as argv to measure a subset; results merge
# into the existing SCALING_SF10.json instead of replacing it.
R10_HEAVY = [
    "doc_pagerank_winnow",
    "pack_curriculum_shards",
    "dedup_substring_remove",
    "quality_nb_train",
    "emb_pq_encode",
]


def main() -> None:
    import bench
    from getdbt_spark.queries import load_all
    from getdbt_spark.session import get_spark

    load_all()
    names = sys.argv[1:] or (HEAVY + MODELS)
    spark = get_spark(app_name="scaling_sf10")
    bench._warmup(spark, SF1)
    canary_pre = bench._spark_canary(spark)

    out: dict[str, dict] = {}
    for name in names:
        row: dict[str, float] = {}
        for sf_label, sf_dir in (("sf1", SF1), ("sf10", SF10)):
            row[sf_label] = round(
                min(bench.time_once(spark, sf_dir, name) for _ in range(2)), 3
            )
            print(f"# {name} {sf_label}: {row[sf_label]} s", file=sys.stderr)
        row["alpha4"] = round(math.log10(row["sf10"] / row["sf1"]), 2)
        out[name] = row

    # Merge with any prior measurement file: a subset run (argv names)
    # must not drop the committed rows for the other queries.
    path = os.path.join(REPO, "SCALING_SF10.json")
    queries = {}
    if os.path.exists(path):
        with open(path) as fh:
            queries = json.load(fh).get("queries", {})
    queries.update(out)
    result = {
        "metric": "heavy_family_sf10_decade",
        "queries": queries,
        "canary_cpu_sec": bench._host_canary(),
        "canary_spark_sec": canary_pre,
        "passes": 2,
        "superlinear": [
            q for q, r in queries.items() if r["alpha4"] > 1.3
        ],
    }
    with open(path, "w") as fh:
        json.dump(result, fh, indent=1)
    print(json.dumps(result))


if __name__ == "__main__":
    sys.exit(main())
