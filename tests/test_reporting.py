"""Oracle and schema pin for the reporting layer: the dashboard and the
two marts whose UNION ALL and spine joins feed it hash-match their
DuckDB oracles at sf0.001, and the dashboard keeps its long-format
column names, order and types (the declared-row contract of
``models/reporting.py``)."""

from __future__ import annotations

import os
import sys

import pytest

from getdbt_spark.__main__ import DEFAULT_SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

SF = DEFAULT_SF_DIR  # the sf0.001 corpus

REPORTING_IDS = [
    "model_dashboard_channel_weekly",
    "model_integral_reporting_vodstreaming",
    "model_integral_reporting_tvbroadcasts",
]

DASHBOARD_DTYPES = [
    ("Naam", "string"),
    ("Net", "string"),
    ("Omroep", "string"),
    ("CCC", "string"),
    ("weekdate", "date"),
    ("weeknr", "int"),
    ("year", "int"),
    ("reporting_channel", "string"),
    ("n_items_per_week", "bigint"),
    ("media_item_type", "string"),
    ("weekly_reach_per_week", "bigint"),
    ("daily_reach_per_week", "bigint"),
    ("visits_per_week", "bigint"),
    ("engagement_per_week", "double"),
    ("views_per_week", "bigint"),
    ("hours_watched", "double"),
    ("video_kdh_per_week", "double"),
    ("video_kdh_per_release", "double"),
    ("engagement_ratio", "double"),
    ("dau_mau_ratio", "double"),
    ("is_tv_week", "int"),
    ("n_total_tv_broadcasts", "bigint"),
    ("has_intekening", "int"),
    ("lineair_kdh_bucket", "string"),
]


@pytest.fixture(scope="module")
def con():
    import verify_local as V

    return V.duck_con(SF)


@pytest.mark.parametrize("qid", REPORTING_IDS)
def test_reporting_id_matches_oracle(spark, con, qid):
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


def test_dashboard_schema_is_pinned(spark):
    from getdbt_spark.queries import QUERIES, load_all

    load_all()
    df = QUERIES["model_dashboard_channel_weekly"](spark, SF)
    assert df.dtypes == DASHBOARD_DTYPES
