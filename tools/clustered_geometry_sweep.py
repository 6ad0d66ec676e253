"""Second clustered-recall geometry: overlapping, skewed clusters.

``sim_recall_clustered`` measures the ANN dials on ONE favorable
geometry — C=5 orthogonal one-hot centers of amplitude 2.0, equal
sizes (vec_id % 5).  VERDICT r11 #6: measure a second, realistic
geometry — NON-orthogonal centers (adjacent clusters share a
component), LOWER amplitude (cluster spread comparable to center
separation → real overlap), and Zipf-skewed sizes (50/25/12/8/5%) —
and record where the nprobe dial decision flips.

Reported per probe depth 1..4, all on the same integer-exact trained
k=8 IVF stack the registered queries ship:
- **sim recall@5**: query probes its p nearest cells, index stays
  single-homed — the ``sim_ann_ivf_*`` search shape;
- **dedup pair recall**: candidate pairs within ANY shared probed
  cell at threshold 0.45 — the ``dedup_cluster_*`` shape whose
  nprobe=2 vs 3 decision the margin analysis settled on geometry #1;
plus the deployment IVFPQ (normalize + M=8/K=256 + nprobe=2 +
exact re-rank of ADC top-32) recall@5 row.

Prints one JSON line; paste the verdict into SCALE.md.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

C = 5
AMP = "1.0"          # vs 2.0 on geometry #1 — spread ≈ separation
CROSS = "0.4"        # adjacent-center shared component (non-orthogonal)
NOISE = "0.5"
# Zipf-ish size thresholds on vec_id % 100 → 50/25/12/8/5 %
SIZE_CUTS = [50, 75, 87, 95]


def main() -> None:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from getdbt_spark import functions as E
    from getdbt_spark import pipeline as P
    from getdbt_spark.io import load_table
    from getdbt_spark.queries import load_all
    from getdbt_spark.session import get_spark

    load_all()
    from getdbt_spark.queries.curation import _probe_cell_pairs
    from getdbt_spark.queries.training_ops import (
        NPQ_K,
        NPQ_NPROBE,
        NPQ_RERANK,
        NPQ_SUBDIMS,
        NPQ_SUBSPACES,
        _ivfpq_top5,
        _unit_embs,
    )

    spark = get_spark(
        "clustered_geometry_sweep", master="local[8]", shuffle_partitions=8
    )
    raw = load_table(spark, SF_DIR, "embeddings")

    # skewed cluster id from vec_id % 100 against the size cuts
    h = F.col("vec_id") % 100
    cid = F.lit(len(SIZE_CUTS))
    for i, cut in reversed(list(enumerate(SIZE_CUTS))):
        cid = F.when(h < cut, F.lit(i)).otherwise(cid)
    ce = raw.select(
        "vec_id",
        cid.alias("__c"),
        "embedding",
    ).select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x, i: (
                F.when(i == F.col("__c"), F.lit(float(AMP)))
                .when(
                    i == (F.col("__c") + 1) % C,
                    F.lit(float(AMP)) * float(CROSS),
                )
                .otherwise(F.lit(0.0))
                + x.cast("double") * float(NOISE)
            ),
        ).alias("embedding"),
    )

    exact5 = (
        P.topk_cosine_blocked(ce, k=10)
        .filter(F.col("rnk") <= 5)
        .select("vec_id", "neighbor_id")
        .localCheckpoint()
    )
    n_q = exact5.select("vec_id").distinct().count()

    # exact near-dup pairs at the dedup family's threshold
    e = P.with_norm(ce).localCheckpoint()
    xp = P.cosine_edges(e, e).select("a_id", "b_id").localCheckpoint()
    n_pairs = xp.count()

    # full probe ranking once (nprobe=4 covers every depth measured)
    probes = P.kmeans_probe_assign(e, k=8, iters=2, nprobe=4).select(
        "vec_id", "cent_id", "probe_rank"
    ).localCheckpoint()
    ep = e.join(probes, "vec_id").localCheckpoint()

    def sim_recall(p: int) -> float:
        qa = ep.filter(F.col("probe_rank") <= p).select(
            "cent_id",
            "vec_id",
            F.col("embedding").alias("va"),
            F.col("norm").alias("na"),
        )
        na_ = ep.filter(F.col("probe_rank") == 1).select(
            "cent_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("vb"),
            F.col("norm").alias("nb"),
        )
        w = Window.partitionBy("vec_id").orderBy(
            F.desc("c"), F.asc("neighbor_id")
        )
        top5 = (
            qa.join(na_, "cent_id")
            .filter(F.col("vec_id") != F.col("neighbor_id"))
            .select(
                "vec_id",
                "neighbor_id",
                E.round_to(
                    P.cosine(
                        F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
                    ),
                    6,
                ).alias("c"),
            )
            .distinct()
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 5)
        )
        hits = top5.select("vec_id", "neighbor_id").join(
            exact5, ["vec_id", "neighbor_id"]
        ).count()
        return round(hits / (5 * n_q), 4) if n_q else None

    def pair_recall(p: int) -> float:
        assign = probes.filter(F.col("probe_rank") <= p).select(
            "vec_id", "cent_id"
        )
        vp = _probe_cell_pairs(e, assign)
        hits = vp.join(xp, ["a_id", "b_id"]).count()
        return round(hits / n_pairs, 4) if n_pairs else None

    rows = {
        p: {"sim_recall_at_5": sim_recall(p), "dedup_pair_recall": pair_recall(p)}
        for p in (1, 2, 3, 4)
    }

    pq_hits = (
        _ivfpq_top5(
            _unit_embs(ce),
            subspaces=NPQ_SUBSPACES,
            subdims=NPQ_SUBDIMS,
            pq_k=NPQ_K,
            nprobe=NPQ_NPROBE,
            rerank=NPQ_RERANK,
        )
        .select("vec_id", "neighbor_id")
        .join(exact5, ["vec_id", "neighbor_id"])
        .count()
    )

    sizes = {
        int(r["__c"]): r["n"]
        for r in raw.select(cid.alias("__c"))
        .groupBy("__c")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    print(
        json.dumps(
            {
                "sf_dir": SF_DIR,
                "geometry": {
                    "centers": C,
                    "amp": float(AMP),
                    "cross_component": float(CROSS),
                    "noise": float(NOISE),
                    "cluster_sizes": sizes,
                },
                "n_queries": n_q,
                "n_exact_pairs": n_pairs,
                "by_nprobe": rows,
                "ivfpq_normalized_recall_at_5": (
                    round(pq_hits / (5 * n_q), 4) if n_q else None
                ),
            }
        )
    )


if __name__ == "__main__":
    sys.exit(main())
