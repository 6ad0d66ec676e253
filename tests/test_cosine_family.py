"""Oracle pin for the cosine family: every id that scores embedding
pairs through ``pipeline.cosine_edges`` / ``cosine_candidate_edges``
/ ``cosine_topk`` / ``topk_cosine_blocked`` (or composes them)
hash-matches its DuckDB oracle at sf0.001 — the NaN→NULL,
self-exclusion, ``a < b`` and ``(c DESC, neighbor_id)`` tie-order
contract those helpers own."""

from __future__ import annotations

import os
import sys

import pytest

from getdbt_spark.__main__ import DEFAULT_SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

SF = DEFAULT_SF_DIR  # the sf0.001 corpus

COSINE_IDS = [
    "sim_topk_cosine",
    "sim_ann_ivf",
    "sim_ann_ivf_trained",
    "dedup_embedding_cosine",
    "dedup_embedding_cluster",
    "sim_ann_lsh",
    "sim_ann_lsh_multiprobe",
    "sem_dedup",
    "sem_dedup_trained",
    "dedup_embedding_cluster_ivf",
    "dedup_cluster_multiprobe",
    "sim_ann_ivf_multiprobe",
]


@pytest.fixture(scope="module")
def con():
    import verify_local as V

    return V.duck_con(SF)


@pytest.mark.parametrize("qid", COSINE_IDS)
def test_cosine_id_matches_oracle(spark, con, qid):
    import verify_local as V

    from getdbt_spark.queries import ORACLES, QUERIES, load_all

    load_all()
    try:
        ok, _spd, _dkd = V.compare(
            qid, QUERIES[qid](spark, SF), con, ORACLES[qid], verbose=False
        )
    finally:
        spark.catalog.clearCache()
    assert ok, f"{qid} diverges from its DuckDB oracle at sf0.001"
