"""``pipeline.word_grams``, the one word k-gram helper: a property
lock against a pure-Python reference, and an oracle pin that every id
built on it survives documents shorter than its gram width."""

from __future__ import annotations

import os
import shutil
import sys

import pytest
from pyspark.sql import functions as F

from getdbt_spark import pipeline as P
from getdbt_spark.__main__ import DEFAULT_SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

SF = DEFAULT_SF_DIR  # the sf0.001 corpus

# Every registry id whose grams come from word_grams (directly or via
# curation._kgram_occ), plus the ids composed over them.
GRAM_IDS = [
    "doc_fingerprint",
    "text_ngram_profile",
    "text_decontaminate",
    "text_repetition_stats",
    "pipeline_end_to_end",
    "bpe_pair_stats",
    "text_hashed_ngram_features",
    "dedup_substring_spans",
    "dedup_substring_remove",
    "doc_winnow_fingerprints",
    "dedup_winnow_match",
    "dedup_winnow_cluster",
    "doc_pagerank_winnow",
]


def _ref_grams(tokens, k):
    if tokens is None:
        return []
    return ["|".join(tokens[i:i + k]) for i in range(len(tokens) - k + 1)]


def test_word_grams_property_matches_python_reference(spark):
    """Token lists of length 0..k+2 (empty-string tokens included) and
    a NULL array: grams in token order, one per start position, none
    for a row shorter than k."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    token = st.sampled_from(["", "a", "b", "ab", "é"])
    case = st.sampled_from([1, 2, 3, 8]).flatmap(
        lambda k: st.tuples(
            st.just(k),
            st.lists(
                st.one_of(st.none(), st.lists(token, max_size=k + 2)),
                min_size=1,
                max_size=8,
            ),
        )
    )

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(case=case)
    def run(case):
        k, rows = case
        df = spark.createDataFrame(
            list(enumerate(rows)), "id long, toks array<string>"
        )
        got = {
            r["id"]: r["g"]
            for r in df.select(
                "id", P.word_grams(F.col("toks"), k).alias("g")
            ).collect()
        }
        assert got == {i: _ref_grams(t, k) for i, t in enumerate(rows)}

    run()


@pytest.fixture(scope="module")
def short_doc_sf(tmp_path_factory):
    """sf0.001 plus three documents shorter than every gram width but
    one: ``""`` (one empty token), ``"hello"`` and ``"a b"``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = str(tmp_path_factory.mktemp("short_doc_sf"))
    for f in os.listdir(SF):
        if f != "documents.parquet":
            shutil.copyfile(f"{SF}/{f}", f"{out}/{f}")
    docs = pq.read_table(f"{SF}/documents.parquet")
    start = max(docs.column("doc_id").to_pylist()) + 1
    texts = ["", "hello", "a b"]
    extra = pa.table(
        {
            "doc_id": pa.array(
                range(start, start + len(texts)), pa.int64()
            ),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["web"] * len(texts),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        },
        schema=docs.schema,
    )
    pq.write_table(
        pa.concat_tables([docs, extra]), f"{out}/documents.parquet"
    )
    return out


def test_gram_ids_match_oracle_on_short_documents(spark, short_doc_sf):
    """No gram id may index past a short document's last token
    (``element_at`` raises under ANSI), and each must still agree
    with its DuckDB oracle."""
    import verify_local as V

    from getdbt_spark.queries import ORACLES, QUERIES, load_all

    load_all()
    con = V.duck_con(short_doc_sf)
    bad = []
    try:
        for qid in GRAM_IDS:
            try:
                ok, _spd, _dkd = V.compare(
                    qid,
                    QUERIES[qid](spark, short_doc_sf),
                    con,
                    ORACLES[qid],
                    verbose=False,
                )
            except Exception as exc:  # noqa: BLE001 — report every id
                ok = False
                qid = f"{qid} ({type(exc).__name__})"
            if not ok:
                bad.append(qid)
    finally:
        spark.catalog.clearCache()
    assert not bad, f"short-document oracle divergence: {bad}"
