"""DAG-level model tests (SURVEY.md §5.2.4-6).

Grain assertions come from the reference's own comments: stream stats
unique on its group keys (``streams_daily_v4.sql:62-63,104``), one row
per mid in poms_flattened (``poms_flattened.sql:93-94``).  The
incremental test runs the REAL streams model through the warehouse
write path.  A property-based test covers the as-of nearest-show
dedup under random event orderings (hypothesis).
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Window
from pyspark.sql import functions as F

import getdbt_spark.models as M
from getdbt_spark.fixtures import sources_map
from getdbt_spark.functions import timestamp_diff_seconds
from getdbt_spark.io import corpus_run_date
from getdbt_spark.registry import MODELS
from getdbt_spark.runner import Runner

SF = "/root/testdata/sf0.001"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


DASHBOARD = "integral_reporting_dashboard_channel_weekly"


@pytest.fixture(scope="module")
def dag(spark):
    """The production run: checkpoint mode, Runner.run's default."""
    M.load_all()
    anchor = corpus_run_date(spark, SF)
    runner = Runner(spark, sources_map(spark, SF), anchor)
    return runner.run([DASHBOARD]), anchor


class TestGrain:
    def test_poms_flattened_one_row_per_mid(self, dag):
        out, _ = dag
        df = out["poms_flattened"]
        assert df.count() == df.select("mid").distinct().count()

    def test_streams_unique_on_group_grain(self, dag):
        out, _ = dag
        df = out["atinternet_smarttag_streams_daily_v4"]
        keys = [
            "evt_date", "evt_mid", "evt_base_mid", "evt_media_name",
            "stream_match_type", "evt_stream_type", "evt_programme",
            "evt_broadcaster", "evt_programme_podcast",
            "evt_player_platform", "evt_player_version", "evt_brand",
        ]
        assert df.count() == df.select(*keys).distinct().count()

    def test_streams_respects_partition_window(self, dag):
        out, anchor = dag
        dates = [
            r[0]
            for r in out["atinternet_smarttag_streams_daily_v4"]
            .select("evt_date")
            .distinct()
            .collect()
        ]
        lo = anchor - dt.timedelta(days=8)
        assert dates and all(lo <= d <= anchor for d in dates)

    def test_dashboard_channels_complete(self, dag):
        out, _ = dag
        chans = {
            r[0]
            for r in out[DASHBOARD]
            .select("reporting_channel")
            .distinct()
            .collect()
        }
        # VOD is threshold-gated (inner join on the >=1000-views/>=1-
        # broadcast cleaning filter) and can legitimately vanish at the
        # smallest scale factor; the other six branches are spine-driven
        # and must always be present.
        assert chans - {"VOD"} == {
            "facebook", "instagram", "sites", "apps", "youtube", "lineair",
        }


class TestMaterializationModes:
    def test_checkpoint_run_hashes_equal_pure_build(self, spark, dag):
        """Checkpointing the intermediates changes where each model is
        computed, never what: every built model of the dashboard
        closure hashes (tools/verify_local's canon) equal to
        the pure build of the same closure.  Source passthroughs (no
        refs) are the same lazy scans in both modes."""
        sys.path.insert(0, os.path.join(REPO, "tools"))
        from verify_local import frame_hash

        out, anchor = dag
        pure = Runner(spark, sources_map(spark, SF), anchor).run(
            [DASHBOARD], reuse=None
        )
        assert list(pure) == list(out)
        for name in [n for n in out if MODELS[n].refs]:
            got, want = (frame_hash(d[name].toPandas()) for d in (out, pure))
            assert got == want, name

    def test_only_two_reuse_modes(self, spark):
        with pytest.raises(ValueError, match="unknown reuse mode"):
            Runner(spark, {}, dt.date(2024, 1, 30)).run([], reuse="persist")


class TestIncrementalStreamsModel:
    def test_streams_writes_only_window_partitions(self, spark, tmp_path):
        M.load_all()
        anchor = corpus_run_date(spark, SF)
        runner = Runner(
            spark, sources_map(spark, SF), anchor, str(tmp_path / "wh")
        )
        out = runner.run(["atinternet_smarttag_streams_daily_v4"])
        path = runner.table_path("atinternet_smarttag_streams_daily_v4")
        parts = sorted(
            p.split("=", 1)[1]
            for p in os.listdir(path)
            if p.startswith("evt_date=")
        )
        window = {
            (anchor - dt.timedelta(days=i)).isoformat() for i in range(9)
        }
        assert set(parts) <= window and parts
        # Read-back equals the build output (runner returns the read-back).
        assert out["atinternet_smarttag_streams_daily_v4"].count() > 0


# ---------------------------------------------------------------------------
# Property-based (hypothesis)
# ---------------------------------------------------------------------------

@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    offsets=st.lists(
        st.integers(min_value=-300, max_value=300),
        min_size=1,
        max_size=6,
        unique=True,
    )
)
def test_asof_dedup_picks_nearest_started_show(spark, offsets):
    """row_number ORDER BY timestamp_diff ASC + dedup=1 keeps the
    broadcast with the smallest (event − begin) difference, for any set
    of distinct broadcast offsets (streams_daily_v4.sql:62-64,135)."""
    event_ts = dt.datetime(2024, 1, 15, 12, 0, 0)
    rows = [
        ("e1", event_ts, event_ts - dt.timedelta(seconds=o), f"show{o}")
        for o in offsets
    ]
    df = spark.createDataFrame(
        rows, ["eid", "evt_ts", "begin_ts", "show"]
    )
    w = Window.partitionBy("eid").orderBy(
        timestamp_diff_seconds(F.col("evt_ts"), F.col("begin_ts")).asc()
    )
    got = (
        df.withColumn("dedup", F.row_number().over(w))
        .filter(F.col("dedup") == 1)
        .collect()
    )
    assert len(got) == 1
    # BQ orders by SIGNED diff: a show beginning after the event
    # (negative diff) sorts before any past one — quirk replicated.
    diffs = {f"show{o}": o for o in offsets}
    assert got[0]["show"] == min(diffs, key=lambda k: diffs[k])
