"""Residual-miss analysis for the IVF cluster dedup (VERDICT r10 #8).

``dedup_cluster_recall`` shows pairs still missed at nprobe=2 on the
driver corpus.  Before paying nprobe=3's ~1.5x candidate mass for
EVERY vector, this measures whether the residual misses are BOUNDARY
pairs — vectors sitting near-equidistant between trained cells — that
a selective deeper probe (only vectors whose relative cell-distance
margin is small) would recover at a fraction of the cost.

Method, all on the existing verified builders:
1. rank ALL k cells per vector (``kmeans_probe_assign`` nprobe=k) with
   integer distances d1 <= d2 <= ... ;
2. exact near-dup pairs = brute-force cosine >= 0.45 (the dedup
   family's registered threshold);
3. for each probe depth p, pair recall of "share any top-p cell";
4. margin sweep: vectors flagged when (d_{p+1} - d1)/d1 < eps get ONE
   extra probe; report flagged fraction (the extra candidate-mass
   proxy) and the recall the selective probe achieves.

Prints one JSON line; paste the verdict into SCALE.md.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
K = 8


def main() -> None:
    from getdbt_spark import pipeline as P
    from getdbt_spark.io import load_table
    from getdbt_spark.session import get_spark

    spark = get_spark(
        "cluster_recall_margin", master="local[8]", shuffle_partitions=8
    )
    e = P.with_norm(load_table(spark, SF_DIR, "embeddings"))

    # (1) full cell ranking per vector (bounded: <= k rows per
    # vector — non-finite vectors are filtered upstream and a corpus
    # can train < 3 distinct cells, so build per-vector lists by
    # GROUPING rather than assuming exactly K rows per vec_id, and
    # flag vectors too shallow for the depth-3 margin math instead of
    # dying on a KeyError/IndexError (ADVICE r11).
    from collections import defaultdict

    by_vec: dict[int, list[tuple[int, int, int]]] = defaultdict(list)
    for r in P.kmeans_probe_assign(e, k=K, iters=2, nprobe=K).collect():
        by_vec[r["vec_id"]].append(
            (r["probe_rank"], r["cent_id"], r["dist_q"])
        )
    vec_ids = sorted(by_vec)
    cells, dists, shallow = {}, {}, []
    for v in vec_ids:
        ranked = sorted(by_vec[v])
        cells[v] = [c for _, c, _ in ranked]
        dists[v] = [d for _, _, d in ranked]
        if len(ranked) < 3:
            shallow.append(v)
    if shallow:
        print(
            json.dumps(
                {
                    "warning": "vectors with <3 ranked cells excluded "
                    "from margin math (depth-3 margins undefined)",
                    "n_shallow": len(shallow),
                    "sample": shallow[:10],
                },
            ),
            file=sys.stderr,
        )
    deep = {v for v in vec_ids if len(dists[v]) >= 3}

    # (2) exact pairs at the registered threshold (brute force — the
    # oracle baseline, fine at analysis scale)
    exact = {
        (r["a_id"], r["b_id"])
        for r in P.cosine_edges(e, e).select("a_id", "b_id").collect()
    }

    def shares_top(aid: int, bid: int, pa: int, pb: int) -> bool:
        return bool(set(cells[aid][:pa]) & set(cells[bid][:pb]))

    # (3) uniform probe-depth recall curve
    curve = {}
    for p in range(1, K + 1):
        hits = sum(1 for x, y in exact if shares_top(x, y, p, p))
        curve[p] = round(hits / len(exact), 4) if exact else None

    # misses at the production depth (nprobe=2)
    missed = [(x, y) for x, y in exact if not shares_top(x, y, 2, 2)]
    miss_detail = []
    def margin(v: int) -> float | None:
        # (d3 - d1)/d1, defined only for vectors with >= 3 ranked cells
        if v not in deep:
            return None
        return round(
            (dists[v][2] - dists[v][0]) / max(dists[v][0], 1), 4
        )

    for x, y in missed:
        miss_detail.append(
            {
                "pair": [x, y],
                "margin_a": margin(x),
                "margin_b": margin(y),
                "min_depth_to_recover": min(
                    (
                        p
                        for p in range(3, K + 1)
                        if shares_top(x, y, p, p)
                    ),
                    default=None,
                ),
            }
        )

    # (4) selective third probe: flag vectors whose (d3 - d1)/d1 < eps
    sweep = []
    for eps in (0.02, 0.05, 0.1, 0.2, 0.3, 0.5, 1.0):
        flagged = {
            v
            for v in deep
            if (dists[v][2] - dists[v][0]) / max(dists[v][0], 1) < eps
        }
        hits = sum(
            1
            for x, y in exact
            if shares_top(
                x, y, 3 if x in flagged else 2, 3 if y in flagged else 2
            )
        )
        sweep.append(
            {
                "eps": eps,
                "flagged_frac": round(len(flagged) / len(vec_ids), 4),
                "pair_recall": round(hits / len(exact), 4) if exact else None,
            }
        )

    print(
        json.dumps(
            {
                "sf_dir": SF_DIR,
                "n_vectors": len(vec_ids),
                "n_exact_pairs": len(exact),
                "uniform_probe_recall": curve,
                "missed_at_nprobe2": miss_detail,
                "selective_probe3_sweep": sweep,
            }
        )
    )


if __name__ == "__main__":
    sys.exit(main())
