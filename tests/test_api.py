"""Top-level API contract: the sql() registered-view guard and the
run() → sql() round trip (SURVEY.md §3.3)."""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"


def test_sql_raises_before_run(spark):
    """A session where run() never registered model views must get the
    actionable error, not TABLE_OR_VIEW_NOT_FOUND from deep inside
    analysis.  newSession(): fresh view catalog, same JVM — also
    exercises the per-session plan caches."""
    from getdbt_spark import api

    fresh = spark.newSession()
    with pytest.raises(RuntimeError, match="no model views"):
        api.sql(fresh, "SELECT 1 FROM poms_flattened")


def test_run_then_sql_roundtrip(spark):
    from getdbt_spark import api

    fresh = spark.newSession()
    api.run(fresh, SF, select=["poms_flattened"])
    n = api.sql(fresh, "SELECT count(*) AS n FROM poms_flattened").collect()[0][0]
    assert n > 0


@pytest.fixture(scope="module")
def poisoned_sf(tmp_path_factory):
    """sf0.001 with one extra far-future event — the corrupt clock
    tools/gen_random_sf.py plants in its ``futuredates`` variant."""
    import shutil

    import duckdb

    out = str(tmp_path_factory.mktemp("poisoned_sf"))
    for t in (
        "region nation customer supplier part orders lineitem "
        "documents embeddings"
    ).split():
        shutil.copyfile(f"{SF}/{t}.parquet", f"{out}/{t}.parquet")
    src = f"{SF}/events.parquet"
    duckdb.sql(
        f"""COPY (
          SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
                 event_type, value, props
          FROM read_parquet('{src}')
          UNION ALL
          SELECT max(event_id) + 1, TIMESTAMP '9999-12-30 23:59:59', 0,
                 'poisoned', 0.0, '{{}}'
          FROM read_parquet('{src}')
        ) TO '{out}/events.parquet' (FORMAT parquet)"""
    )
    return out


def test_one_run_date_anchor_skips_poisoned_clocks(
    spark, poisoned_sf, monkeypatch, tmp_path
):
    """The CLI, ``api.run`` and the registry's ``model_*`` entries all
    anchor on the max CREDIBLE event date: one 9999-12-30 event must
    not become the run date (it would blow the weekly spines up ~500×,
    io.PLAUSIBLE_MAX_EVENT_WALL).  The poison is the corpus's only
    change, so the anchor is the clean corpus's max event date."""
    import io

    from pyspark.sql import functions as F

    from getdbt_spark.__main__ import main
    from getdbt_spark.io import load_table
    from getdbt_spark.queries import QUERIES, load_all
    from getdbt_spark.runner import Runner

    expected = (
        load_table(spark, SF, "events")
        .agg(F.max(F.to_date("ts")))
        .collect()[0][0]
    )
    seen = []
    init = Runner.__init__

    def spy(self, spark, sources, run_date, *args, **kwargs):
        seen.append(run_date)
        init(self, spark, sources, run_date, *args, **kwargs)

    monkeypatch.setattr(Runner, "__init__", spy)
    argv = ["--sf-dir", poisoned_sf]
    assert main(argv + ["run", "--select", "poms_flattened"], io.StringIO()) == 0
    assert main(argv + ["docs", "--target", str(tmp_path)], io.StringIO()) == 0
    load_all()
    QUERIES["model_poms_flattened"](spark, poisoned_sf)
    assert seen == [expected] * 3

    out = io.StringIO()
    main(argv + ["freshness"], out)
    lags = {
        line.split()[1]: int(line.split("lag=")[1].rstrip("d"))
        for line in out.getvalue().splitlines()
        if "lag=" in line
    }
    assert lags.pop("poisoned") < 0
    assert min(lags.values()) == 0
