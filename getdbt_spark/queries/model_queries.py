"""Driver-contract entries for the model-DAG layer.

Two families:

- ``fixture_*`` — every NPO-shaped fixture table (fixtures.py) exposed
  as a query whose oracle is the SAME dialect-common SQL text run by
  DuckDB.  These rows prove, per driver round, that both engines build
  bit-identical model inputs — the foundation the ``model_*`` oracles
  stand on.
- ``model_*`` — the ported reference models (models/) run over those
  fixtures, with DuckDB oracles re-expressing the model semantics over
  the same fixture CTEs (registered in models/ modules).

Plus ``fn_struct_field``: array-of-struct element/field access
(reference ``atinternet_smarttag_streams_daily_v4.sql:185-188``,
``poms_flattened.sql:9-13``) over the genuinely nested POMS fixture.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from .. import fixtures as FX
from .. import functions as E
from ..functions import safe_offset
from ..io import corpus_run_date, credible_clock, run_date_anchor
from ..io import load_table as _lt
from . import query


def _t(spark, sf_dir, name):
    return _lt(spark, sf_dir, name)


def _run_model(spark, sf_dir: str, name: str, reuse: str | None = None):
    """Build one ported model over the fixture sources, anchored on the
    corpus run date (``io.corpus_run_date``: a tiny scalar action whose
    result is injected as a LITERAL so the incremental window predicate
    reaches the parquet scan as a prunable filter; never
    current_date()).  No warehouse: incremental models stay unwritten.

    ``reuse`` is ``Runner.run``'s.  The registered entry keeps the
    pure build (``None``): the oracle check collects the full-lineage plan
    and the plan guards audit it.  ``queries.run_query`` passes
    ``"checkpoint"``, the production mode bench and tools time."""
    from .. import models as M
    from ..fixtures import sources_map
    from ..runner import Runner

    M.load_all()
    runner = Runner(
        spark, sources_map(spark, sf_dir), corpus_run_date(spark, sf_dir)
    )
    return runner.run([name], reuse=reuse)[name]


# ---------------------------------------------------------------------------
# Fixture parity rows
# ---------------------------------------------------------------------------

_FIXTURE_QUERIES = {
    "fixture_media_events": "media_events",
    "fixture_advantedge": "advantedge_tv_viewer_density_per_show_daily_v1",
    "fixture_channel_mapping": "live_stream_name_mapping_v1",
    "fixture_dim_poms_episodes": "dim_poms_episodes",
    "fixture_vertaaltabel": "360_graden_rapportage_vertaaltabel_upload_20_21",
    "fixture_quintly_facebook": "quintly_facebook_pages_weekly",
    "fixture_quintly_instagram": "quintly_instagram_pages_weekly",
    "fixture_quintly_youtube_raw": FX.YT_RAW,
    "fixture_ati_pages": "atinternet_smarttag_pages_weekly_v2",
    "fixture_ati_pages_programmes": "atinternet_smarttag_pages_programmes_weekly_v2",
}


def _register_fixture(qid: str, fixture: str) -> None:
    @query(qid, oracle=FX.fixture_sql(fixture, "duckdb"))
    def _fx(spark, sf_dir, _name=fixture):
        return FX.fixture_df(spark, sf_dir, _name)

    _fx.__name__ = qid
    _fx.__doc__ = (
        f"Fixture parity: {fixture} built by Spark SQL vs the same "
        "dialect-common text in DuckDB (fixtures.py)."
    )


for _qid, _fixture in _FIXTURE_QUERIES.items():
    _register_fixture(_qid, _fixture)


# ---------------------------------------------------------------------------
# fn_struct_field — nested array-of-struct access (SURVEY §2.8)
# ---------------------------------------------------------------------------


@query(
    "fn_struct_field",
    oracle=f"""
    WITH poms AS ({FX.fixture_sql(FX.POMS, "duckdb")})
    SELECT
      id,
      genres[1].id               AS genre0_id,
      genres[1].terms[1]         AS genre_main,
      genres[1].terms[2]         AS genre_sub,
      titles[1].value            AS title_main,
      titles[2].value            AS title_sub,
      episode_of[1].type         AS ep0_type,
      episode_of[1].mid_ref      AS ep0_mid,
      episode_of[1].index        AS ep0_index,
      len(descendant_of)         AS n_desc,
      len(broadcasters)          AS n_bcast,
      schedule_events[1].channel AS sched0_channel
    FROM poms
    """,
)
def fn_struct_field(spark, sf_dir):
    """BQ ``genres[SAFE_OFFSET(0)].terms[SAFE_OFFSET(1)]`` /
    ``titles[SAFE_OFFSET(0)].value`` semantics
    (``streams_daily_v4.sql:185-188``): 0-based, NULL-safe element
    access then struct-field extraction, over genuinely nested
    ``array<struct>`` columns.  Spark getItem/getField chains stay
    JVM-side; empty arrays yield NULL (not errors) at every level."""
    poms = FX.fixture_df(spark, sf_dir, FX.POMS)
    return poms.select(
        "id",
        safe_offset("genres", 0).getField("id").alias("genre0_id"),
        safe_offset(safe_offset("genres", 0).getField("terms"), 0).alias(
            "genre_main"
        ),
        safe_offset(safe_offset("genres", 0).getField("terms"), 1).alias(
            "genre_sub"
        ),
        safe_offset("titles", 0).getField("value").alias("title_main"),
        safe_offset("titles", 1).getField("value").alias("title_sub"),
        safe_offset("episode_of", 0).getField("type").alias("ep0_type"),
        safe_offset("episode_of", 0).getField("mid_ref").alias("ep0_mid"),
        safe_offset("episode_of", 0).getField("index").alias("ep0_index"),
        F.size("descendant_of").alias("n_desc"),
        F.size("broadcasters").alias("n_bcast"),
        safe_offset("schedule_events", 0).getField("channel").alias(
            "sched0_channel"
        ),
    )


# ---------------------------------------------------------------------------
# model_* — the ported reference DAG, one driver entry per model.
# Oracles come from the shared DuckDB CTE chain (oracle_ctes.py).
# ---------------------------------------------------------------------------

from .oracle_ctes import oracle_for  # noqa: E402


_MODEL_QUERIES = {
    # qid -> (registry model name, oracle CTE name)
    "model_poms_flattened": ("poms_flattened", "poms_flattened"),
    "model_streams_daily_v4": (
        "atinternet_smarttag_streams_daily_v4",
        "atinternet_smarttag_streams_daily_v4",
    ),
    "model_quintly_youtube_latest": (
        "quintly_youtube_allchannels_weekly",
        "quintly_youtube_allchannels_weekly",
    ),
    "model_integral_reporting_facebook": (
        "integral_reporting_facebook",
        "integral_reporting_facebook",
    ),
    "model_integral_reporting_instagram": (
        "integral_reporting_instagram",
        "integral_reporting_instagram",
    ),
    "model_integral_reporting_youtube": (
        "integral_reporting_youtube",
        "integral_reporting_youtube",
    ),
    "model_integral_reporting_sites_and_apps": (
        "integral_reporting_sites_and_apps",
        "integral_reporting_sites_and_apps",
    ),
    "model_integral_reporting_tvbroadcasts": (
        "integral_reporting_tvbroadcasts",
        "integral_reporting_tvbroadcasts",
    ),
    "model_integral_reporting_vodstreaming": (
        "integral_reporting_vodstreaming",
        "integral_reporting_vodstreaming",
    ),
    "model_dashboard_channel_weekly": (
        "integral_reporting_dashboard_channel_weekly",
        "integral_reporting_dashboard_channel_weekly",
    ),
}


def _register_model_query(qid: str, model_name: str, cte: str) -> None:
    @query(qid, oracle=oracle_for(cte))
    def _mq(spark, sf_dir, reuse=None, _name=model_name):
        return _run_model(spark, sf_dir, _name, reuse)

    _mq.__name__ = qid
    _mq.__doc__ = (
        f"Ported model {model_name} (models/) built over the fixture "
        "sources vs the independent DuckDB re-expression in "
        "oracle_ctes.py."
    )


for _qid, (_model, _cte) in _MODEL_QUERIES.items():
    _register_model_query(_qid, _model, _cte)


# ---------------------------------------------------------------------------
# Streaming variant (SURVEY §2.9) — the unified-API batch twin of the
# Structured Streaming job; the streaming path itself (watermark, file
# source, availableNow, late-data merge) is exercised in
# tests/test_streaming.py and must produce identical rows.
# ---------------------------------------------------------------------------


@query(
    "streaming_daily_event_stats",
    oracle="""
    SELECT
      CAST(date_trunc('day', ts) AS DATE) AS evt_date,
      event_type,
      count(*) AS n_events,
      round(sum(TRY_CAST(floor(value * 100) AS BIGINT)) / 100.0, 2)
        AS total_value,
      min(value) AS min_value,
      max(value) AS max_value
    FROM events
    GROUP BY 1, 2
    """,
)
def streaming_daily_event_stats(spark, sf_dir):
    """Per-(day, type) tumbling-window rollup — the same function runs
    on readStream with withWatermark('8 days') (getdbt_spark/streaming.py);
    watermark == the reference's 9-day partition replay window."""
    from ..streaming import batch_equivalent

    return batch_equivalent(spark, sf_dir)


@query(
    "streaming_session_stats",
    oracle="""
    WITH l AS (
      SELECT user_id, ts, value,
             -- STRICT > : Spark's session_window merges an event at
             -- exactly t+gap (closed boundary; probed: a 1800.000000s
             -- gap extends the session, 1800.000001s splits) — the
             -- lag rewrite must split strictly greater, not >=
             -- (round-6 seed-42 random-corpus find: three pinned
             -- events exactly 30:00 apart diverged)
             CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), s AS (
      SELECT user_id, ts, value,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM l
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) AS session_end,
           count(*) AS n_events,
           round(sum(TRY_CAST(floor(value * 100) AS BIGINT)) / 100.0, 2)
             AS total_value
    FROM s
    GROUP BY user_id, sess_id
    """,
)
def streaming_session_stats(spark, sf_dir):
    """Gap-based per-user sessionization via native ``session_window``
    (30-min inactivity gap; getdbt_spark/streaming.py session_stats).

    The oracle is the classic batch sessionize-with-windows rewrite
    (lag → new-session flag → cumulative-sum session id) — proving the
    streaming-native session_window agg and the SQL idiom agree row
    for row.  The same function runs under readStream + watermark
    (stream/batch parity in tests/test_streaming.py)."""
    from ..streaming import session_stats

    return session_stats(_t(spark, sf_dir, "events"))


@query(
    "streaming_first_seen",
    oracle="""
    SELECT fp, event_id, ts, user_id, event_type, value FROM (
      SELECT md5(lower(trim(props))) AS fp,
             event_id, ts, user_id, event_type, value,
             row_number() OVER (
               PARTITION BY md5(lower(trim(props)))
               ORDER BY ts, event_id) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def streaming_first_seen(spark, sf_dir):
    """Batch twin of the stateful streaming dedup
    (streaming.first_seen_stream / applyInPandasWithState with
    event-time TTL state): first event per content fingerprint.
    Cross-batch suppression — what the window form cannot express —
    is proven in tests/test_streaming.py."""
    from ..streaming import first_seen_batch

    return first_seen_batch(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# §2.1/§2.7/§2.8 leftovers — dedicated driver entries
# ---------------------------------------------------------------------------


@query("sink_incremental_insert_overwrite", oracle=oracle_for("atinternet_smarttag_streams_daily_v4"))
def sink_incremental_insert_overwrite(spark, sf_dir):
    """The incremental insert_overwrite sink EXERCISED: the streams
    model is materialized through the Runner's dynamic-partition-
    overwrite write path into a scratch warehouse and the READ-BACK is
    returned — so the oracle verifies what persisted, not just what
    was built (reference ``streams_daily_v4.sql:1-22``).  Partition
    mechanics (exactly the trailing window rewritten, older partitions
    byte-untouched) are asserted in tests/test_registry_runner.py."""
    import os
    import shutil
    import tempfile

    from .. import models as M
    from ..fixtures import sources_map
    from ..runner import Runner

    M.load_all()
    anchor = corpus_run_date(spark, sf_dir)
    # Deterministic scratch path, wiped per invocation: mkdtemp would
    # orphan a full materialized model per driver round.
    wh = os.path.join(
        tempfile.gettempdir(), f"getdbt_spark_wh_{os.path.basename(sf_dir)}"
    )
    shutil.rmtree(wh, ignore_errors=True)
    runner = Runner(spark, sources_map(spark, sf_dir), anchor, warehouse=wh)
    out = runner.run(["atinternet_smarttag_streams_daily_v4"])
    df = out["atinternet_smarttag_streams_daily_v4"]
    # Partition discovery returns evt_date as the partition column at
    # the END and type-inferred DATE; restore the oracle's column order.
    cols = [c for c in df.columns if c != "evt_date"]
    return df.select(F.col("evt_date").cast("date"), *cols)


@query(
    "sort_in_cte",
    oracle="""
    WITH ranked AS (
      SELECT o_custkey, o_totalprice
      FROM orders
      ORDER BY o_totalprice DESC
    )
    SELECT o_custkey, CAST(count(*) AS BIGINT) AS n,
           round(sum(TRY_CAST(floor(o_totalprice * 100) AS BIGINT)) / 100.0, 2)
             AS total
    FROM ranked
    GROUP BY 1
    """,
)
def sort_in_cte(spark, sf_dir):
    """ORDER BY inside a CTE whose consumer aggregates — semantically
    inert (no LIMIT), exactly the reference's ``ORDER BY 1,2,3`` inside
    CTEs (``streams_daily_v4.sql:175,236``).  The engine keeps the sort
    in the plan (Spark drops it under the agg exchange anyway) and the
    oracle proves the result is order-independent."""
    orders = _t(spark, sf_dir, "orders")
    ranked = orders.select("o_custkey", "o_totalprice").orderBy(
        F.desc("o_totalprice")
    )
    return ranked.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n"),
        # exact cents sum (money-sum rule; see agg_two_stage)
        E.round_to(
            F.sum(E.cents("o_totalprice")) / 100.0,
            2,
        ).alias("total"),
    )


@query(
    "fn_current_date",
    oracle="""
    WITH anchor AS (SELECT coalesce(max(CAST(ts AS DATE))
                      FILTER (WHERE ts < TIMESTAMP '2180-01-01'),
                      DATE '2024-01-30') AS d
                    FROM events),
    win AS (
      SELECT CAST((SELECT d FROM anchor) - CAST(unnest(range(9)) AS INTEGER)
                  AS DATE) AS partition_date
    ),
    cnt AS (
      SELECT CAST(ts AS DATE) AS d, count(*) AS n FROM events GROUP BY 1
    )
    SELECT w.partition_date,
           CAST(coalesce(c.n, 0) AS BIGINT) AS n_events
    FROM win w LEFT JOIN cnt c ON c.d = w.partition_date
    """,
)
def fn_current_date(spark, sf_dir):
    """CURRENT_DATE()-relative logic under the frozen-run_date policy
    (SURVEY §7): the reference's ``partitions_to_replace`` list
    (``streams_daily_v4.sql:1-12``) built from a two-phase anchor — a
    tiny scalar action whose result is injected as LITERALS, so the
    per-partition predicate reaches the scan as a prunable filter
    instead of a correlated subquery."""
    ev = _t(spark, sf_dir, "events")
    anchor = run_date_anchor(ev, dt.date(2024, 1, 30))
    window = [anchor - dt.timedelta(days=i) for i in range(9)]
    counts = (
        # Range conjunct on the raw ts (implied by the IN-list — its
        # min/max bounds) so the predicate pushes to the parquet scan;
        # the bare derived-column isin pushes nothing (§6).
        ev.filter(
            (F.to_date("ts") >= F.lit(min(window)))
            & (F.to_date("ts") < F.lit(max(window) + dt.timedelta(days=1)))
        )
        .select(F.to_date("ts").alias("d"))
        .filter(F.col("d").isin(window))
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    spine = spark.createDataFrame(
        [(d,) for d in window], "partition_date date"
    )
    return spine.join(
        counts, spine["partition_date"] == counts["d"], "left"
    ).select(
        "partition_date", F.coalesce("n_events", F.lit(0)).alias("n_events")
    )


@query(
    "agg_approx_count_distinct",
    oracle="""
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_customers,
           true AS approx_within_5pct
    FROM orders GROUP BY 1
    """,
)
def agg_approx_count_distinct(spark, sf_dir):
    """The engine's scale substitute for exact COUNT(DISTINCT) (SURVEY
    §4.2: the expand+two-phase exact distinct is the 100 TB pain point;
    HLL++ is one pass, mergeable, fixed memory).

    The HLL estimate itself has no cross-engine twin, so the oracle
    checks the ERROR-BOUND INVARIANT instead (VERDICT r4 #5): the
    output carries the exact per-month distinct (hash-checked against
    DuckDB's COUNT(DISTINCT)) plus a boolean asserting the rsd=0.02
    estimate landed within ±5% (≥2.5σ; HLL++ is deterministic on a
    given dataset, so the boolean is stable across runs).  A wrong
    estimate now FAILS the hash instead of sailing through a
    rows-only check.  tests/test_functions.py still bounds the raw
    error magnitude."""
    orders = _t(spark, sf_dir, "orders")
    agg = orders.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month")
    ).agg(
        F.approx_count_distinct("o_custkey", 0.02).alias("approx"),
        F.countDistinct("o_custkey").alias("exact_customers"),
    )
    within = F.abs(F.col("approx") - F.col("exact_customers")) <= F.greatest(
        F.lit(2.0), F.col("exact_customers") * 0.05
    )
    return agg.select(
        "month", "exact_customers", within.alias("approx_within_5pct")
    )


# ---------------------------------------------------------------------------
# dbt-seed surface (seeds.py): repo CSV -> ref()-able model
# ---------------------------------------------------------------------------


def _seed_values_sql() -> str:
    """DuckDB VALUES literal built from the SAME CSV the engine reads."""
    from ..seeds import seed_rows

    rows = ", ".join(
        f"('{net}', '{grp}', {tgt})" for net, grp, tgt in seed_rows("npo_net_groups")
    )
    return f"(VALUES {rows}) AS s(net, net_group, reach_target)"


@query(
    "scan_seed_csv",
    oracle=f"""
    WITH {{fixtures}} , counts AS (
      SELECT Net, CAST(count(*) AS BIGINT) AS n,
             round(sum(Target_YT_views), 2) AS yt_target
      FROM "360_graden_rapportage_vertaaltabel_upload_20_21"
      GROUP BY 1
    )
    SELECT s.net, s.net_group,
           CAST(s.reach_target AS DOUBLE) AS reach_target,
           CAST(coalesce(c.n, 0) AS BIGINT) AS n_titles,
           coalesce(c.yt_target, 0.0) AS yt_target
    FROM {_seed_values_sql()} LEFT JOIN counts c ON c.Net = s.net
    """.replace(
        "{fixtures}",
        FX.fixture_ctes(["360_graden_rapportage_vertaaltabel_upload_20_21"]),
    ),
)
def scan_seed_csv(spark, sf_dir):
    """The ``dbt seed`` capability surface (reference ``data/.gitkeep``,
    SURVEY §1.1): a version-controlled CSV with a DECLARED schema
    (never inferSchema) loaded by seeds.py, registered as a model, and
    consumed like any dim — here joined against a vertaaltabel rollup.
    The seed side is driver-small by definition, so the join
    broadcasts; the oracle's VALUES literal is generated from the same
    CSV file, pinning file content, schema, and types in one check."""
    from ..seeds import load_seed

    seed = load_seed(spark, "npo_net_groups")
    vt = FX.fixture_df(
        spark, sf_dir, "360_graden_rapportage_vertaaltabel_upload_20_21"
    )
    counts = vt.groupBy(
        # Spark identifiers are case-insensitive: rename the rollup key
        # so it cannot collide with the seed's `net`.
        F.col("Net").alias("c_net")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        E.round_to(F.sum("Target_YT_views"), 2).alias("yt_target"),
    )
    return (
        # seed is the preserved (left) side; the rollup is the
        # broadcastable build side (catalog-bounded).
        seed.join(F.broadcast(counts), F.col("c_net") == seed["net"], "left")
        .select(
            "net",
            "net_group",
            "reach_target",
            F.coalesce("n", F.lit(0)).alias("n_titles"),
            F.coalesce("yt_target", F.lit(0.0)).alias("yt_target"),
        )
    )


# ---------------------------------------------------------------------------
# dbt-test surface (dq.py): declared column tests, driver-verified
# ---------------------------------------------------------------------------

_DQ_TABLES = [
    "dim_poms_episodes",
    "360_graden_rapportage_vertaaltabel_upload_20_21",
    "advantedge_tv_viewer_density_per_show_daily_v1",
    "media_events",
]

_DQ_ORACLE = f"""
WITH {FX.fixture_ctes(_DQ_TABLES)}
SELECT 'dim_poms_episodes' AS model_name, 'unique' AS test_kind,
       'episode_id' AS column_name,
       CAST((SELECT count(*) FROM (
         SELECT episode_id FROM "dim_poms_episodes"
         WHERE episode_id IS NOT NULL GROUP BY 1 HAVING count(*) > 1
       )) AS BIGINT) AS n_failures
UNION ALL
SELECT 'dim_poms_episodes', 'not_null', 'episode_id',
       CAST((SELECT count(*) FROM "dim_poms_episodes"
             WHERE episode_id IS NULL) AS BIGINT)
UNION ALL
SELECT 'dim_poms_episodes', 'accepted_values', 'episode_type',
       CAST((SELECT count(*) FROM (
         SELECT DISTINCT episode_type FROM "dim_poms_episodes"
         WHERE episode_type IS NOT NULL
           AND episode_type NOT IN ('BROADCAST', 'CLIP')
       )) AS BIGINT)
UNION ALL
SELECT 'dim_poms_episodes', 'not_null', 'start_linear_first_broadcast',
       CAST((SELECT count(*) FROM "dim_poms_episodes"
             WHERE start_linear_first_broadcast IS NULL) AS BIGINT)
UNION ALL
SELECT '360_graden_rapportage_vertaaltabel_upload_20_21', 'not_null', 'Naam',
       CAST((SELECT count(*)
             FROM "360_graden_rapportage_vertaaltabel_upload_20_21"
             WHERE Naam IS NULL) AS BIGINT)
UNION ALL
SELECT '360_graden_rapportage_vertaaltabel_upload_20_21', 'unique',
       'Serie_mid',
       CAST((SELECT count(*) FROM (
         SELECT Serie_mid
         FROM "360_graden_rapportage_vertaaltabel_upload_20_21"
         WHERE Serie_mid IS NOT NULL GROUP BY 1 HAVING count(*) > 1
       )) AS BIGINT)
UNION ALL
SELECT '360_graden_rapportage_vertaaltabel_upload_20_21', 'relationships',
       'Serie_mid',
       CAST((SELECT count(*)
             FROM "360_graden_rapportage_vertaaltabel_upload_20_21" c
             WHERE c.Serie_mid IS NOT NULL AND NOT EXISTS (
               SELECT 1 FROM "dim_poms_episodes" p
               WHERE p.series_ref = c.Serie_mid)) AS BIGINT)
UNION ALL
SELECT 'advantedge_tv_viewer_density_per_show_daily_v1', 'accepted_values',
       'RepeatType',
       CAST((SELECT count(*) FROM (
         SELECT DISTINCT RepeatType
         FROM "advantedge_tv_viewer_density_per_show_daily_v1"
         WHERE RepeatType IS NOT NULL
           AND RepeatType NOT IN ('FIRST', 'RERUN')
       )) AS BIGINT)
UNION ALL
SELECT 'advantedge_tv_viewer_density_per_show_daily_v1', 'not_null', 'kdh',
       CAST((SELECT count(*)
             FROM "advantedge_tv_viewer_density_per_show_daily_v1"
             WHERE kdh IS NULL) AS BIGINT)
UNION ALL
SELECT 'media_events', 'not_null', 'd_uv_id',
       CAST((SELECT count(*) FROM "media_events"
             WHERE d_uv_id IS NULL) AS BIGINT)
UNION ALL
SELECT 'media_events', 'not_null', 'd_date_hour_event',
       CAST((SELECT count(*) FROM "media_events"
             WHERE d_date_hour_event IS NULL) AS BIGINT)
"""


@query("dq_schema_tests", oracle=_DQ_ORACLE)
def dq_schema_tests(spark, sf_dir):
    """The ``dbt test`` capability surface, end to end: column tests
    declared on source models via ``@model(dq_tests=[...])`` (the
    schema.yml analog; reference ships the directory empty —
    ``tests/.gitkeep``, SURVEY §3.2) evaluated by ``dq.run_dq`` into
    one (model, test, column, n_failures) row per test.  Two tests
    fail BY DESIGN with deterministic counts (nullable ``Naam``,
    duplicated ``Serie_mid``), proving failure detection rather than
    vacuous greenness; the oracle re-expresses dbt's exact failure
    semantics in SQL."""
    from ..dq import run_dq
    from ..fixtures import sources_map
    from ..models import load_all as _load_models
    from ..runner import Runner

    _load_models()
    runner = Runner(
        spark, sources_map(spark, sf_dir), corpus_run_date(spark, sf_dir)
    )
    # reuse=None: a registry entry returns one lazy plan, no jobs.
    return run_dq(runner, select=_DQ_TABLES, reuse=None)


# ---------------------------------------------------------------------------
# SCD2 snapshot (dbt snapshots/ capability surface — snapshots.py)
# ---------------------------------------------------------------------------

_SNAPSHOT_ORACLE = """
WITH src1 AS (
  SELECT c_custkey, c_nationkey, c_mktsegment
  FROM customer WHERE c_custkey % 7 <> 0
), src2 AS (
  SELECT c_custkey, c_nationkey,
         CASE WHEN c_custkey % 5 = 0 THEN 'SEGMENT_CHANGED'
              ELSE c_mktsegment END AS c_mktsegment
  FROM customer WHERE c_custkey % 11 <> 3
), changed AS (
  SELECT s1.c_custkey
  FROM src1 s1 JOIN src2 s2 USING (c_custkey)
  WHERE s1.c_mktsegment IS DISTINCT FROM s2.c_mktsegment
)
SELECT s1.c_custkey, s1.c_nationkey, s1.c_mktsegment,
       TIMESTAMP '2024-01-01 00:00:00' AS dbt_valid_from,
       CASE WHEN c.c_custkey IS NOT NULL
            THEN TIMESTAMP '2024-02-01 00:00:00' END AS dbt_valid_to
FROM src1 s1 LEFT JOIN changed c USING (c_custkey)
UNION ALL
SELECT s2.c_custkey, s2.c_nationkey, s2.c_mktsegment,
       TIMESTAMP '2024-02-01 00:00:00', CAST(NULL AS TIMESTAMP)
FROM src2 s2
WHERE s2.c_custkey IN (SELECT c_custkey FROM changed)
   OR s2.c_custkey NOT IN (SELECT c_custkey FROM src1)
"""


@query("sink_snapshot_scd2", oracle=_SNAPSHOT_ORACLE)
def sink_snapshot_scd2(spark, sf_dir):
    """dbt check-strategy SCD2 snapshot, driver-verified end to end.

    Two deterministic source states of ``customer`` (the reference
    declares the snapshots/ capability but ships none — SURVEY §1.1):
    T2 drops some keys (vanished → stay open), changes c_mktsegment for
    keys divisible by 5 (→ close + reopen), and re-adds keys absent
    from T1 (→ new open version).  ``snapshot_init`` + one
    ``snapshot_apply`` must reproduce the declarative SCD2 state the
    oracle computes set-wise.  Multi-run history passthrough is covered
    by tests/test_snapshots.py."""
    import datetime as dt

    from ..snapshots import snapshot_apply, snapshot_init

    cust = _t(spark, sf_dir, "customer")
    src1 = cust.filter(F.col("c_custkey") % 7 != 0).select(
        "c_custkey", "c_nationkey", "c_mktsegment"
    )
    src2 = cust.filter(F.col("c_custkey") % 11 != 3).select(
        "c_custkey",
        "c_nationkey",
        F.when(F.col("c_custkey") % 5 == 0, F.lit("SEGMENT_CHANGED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
    )
    snap = snapshot_apply(
        snapshot_init(src1, dt.datetime(2024, 1, 1)),
        src2,
        "c_custkey",
        ["c_mktsegment"],
        dt.datetime(2024, 2, 1),
    )
    return snap


@query(
    "sink_incremental_replay",
    # The replay window below spans TWO runs: run 1 (as of anchor-2)
    # leaves partitions [d-10, d-9] behind; run 2 (as of the anchor)
    # overwrites [d-8, d].  Final table therefore equals the model
    # computed over an 11-day window — expressed by widening the
    # oracle chain's window literal from d-8 to d-10 (it appears
    # exactly twice, both in the events-window predicate).
    oracle=oracle_for("atinternet_smarttag_streams_daily_v4").replace(
        "(SELECT d - 8 FROM anchor)", "(SELECT d - 10 FROM anchor)"
    ),
)
def sink_incremental_replay(spark, sf_dir):
    """The reference's core incremental CONTRACT exercised end-to-end:
    two daily runs against one warehouse (reference
    ``streams_daily_v4.sql:1-22`` insert_overwrite + SURVEY §5.2.5
    replay semantics).

    Run 1 materializes as of anchor-2 (the "yesterday" batch); run 2
    re-runs as of the anchor — dynamic partition overwrite REPLACES
    exactly the trailing replay window and leaves run 1's older
    partitions byte-untouched on disk.  The returned read-back is the
    union of both runs' surviving partitions, which the oracle
    verifies against the model over the combined 11-day window.
    """
    import datetime as _dt
    import os
    import shutil
    import tempfile

    from ..api import run_incremental

    anchor = corpus_run_date(spark, sf_dir)
    wh = os.path.join(
        tempfile.gettempdir(),
        f"getdbt_spark_whr_{os.path.basename(sf_dir.rstrip('/'))}_{os.getpid()}",
    )
    shutil.rmtree(wh, ignore_errors=True)
    run_incremental(
        spark,
        sf_dir,
        "atinternet_smarttag_streams_daily_v4",
        anchor - _dt.timedelta(days=2),
        wh,
    )
    df = run_incremental(
        spark, sf_dir, "atinternet_smarttag_streams_daily_v4", anchor, wh
    )
    cols = [c for c in df.columns if c != "evt_date"]
    return df.select(F.col("evt_date").cast("date"), *cols)


@query(
    "sql_adhoc_model_views",
    oracle="WITH base AS ("
    + oracle_for("poms_flattened")
    + """)
    SELECT type, CAST(count(*) AS BIGINT) AS n_titles,
           CAST(count(DISTINCT series_id) AS BIGINT) AS n_series,
           CAST(sum(CASE WHEN is_nos_content THEN 1 ELSE 0 END) AS BIGINT)
             AS n_nos
    FROM base GROUP BY type
    """,
)
def sql_adhoc_model_views(spark, sf_dir):
    """The reference's ``analysis/`` hook exercised end-to-end:
    ``api.run`` materializes a model and registers it as a view, then
    ``api.sql`` answers an ad-hoc ANSI-SQL question over it — the
    "query the dbt output warehouse" workflow.  Also the driver proof
    of the sql() registered-view guard path (unguarded sessions raise
    instead of failing analysis; tests/test_api.py pins the raise).
    """
    from ..api import run, sql

    run(spark, sf_dir, select=["poms_flattened"])
    return sql(
        spark,
        """
        SELECT type, count(*) AS n_titles,
               count(DISTINCT series_id) AS n_series,
               sum(CASE WHEN is_nos_content THEN 1 ELSE 0 END) AS n_nos
        FROM poms_flattened GROUP BY type
        """,
    )


@query(
    "streaming_dedup_replays",
    oracle="""
    SELECT event_id, user_id, event_type, ts,
           TRY_CAST(floor(value * 100) AS BIGINT) AS cents
    FROM events
    """,
)
def streaming_dedup_replays(spark, sf_dir):
    """Exactly-once delivery semantics (SURVEY §2.9): the event feed is
    replayed with simulated duplicate deliveries (every 10th event
    delivered twice), then deduplicated on event_id — streaming runs
    ``dropDuplicatesWithinWatermark`` (id state bounded by the 8-day
    watermark horizon), batch the identical-result ``dropDuplicates``.
    The oracle is the original feed: dedup must reconstruct it
    exactly.  Stream/batch parity is pinned in tests/test_streaming.py.
    """
    from ..streaming import dedup_replays

    e = _t(spark, sf_dir, "events")
    replayed = e.unionAll(e.filter(F.col("event_id") % 10 == 0))
    return dedup_replays(replayed).select(
        "event_id",
        "user_id",
        "event_type",
        "ts",
        E.cents("value").alias("cents"),
    )


@query(
    "streaming_sliding_stats",
    oracle="""
    WITH buckets AS (
      SELECT event_type, value,
             unnest([time_bucket(INTERVAL 5 MINUTE, ts),
                     time_bucket(INTERVAL 5 MINUTE, ts) - INTERVAL 5 MINUTE])
               AS win_start
      FROM events
    )
    SELECT win_start, win_start + INTERVAL 10 MINUTE AS win_end,
           event_type, count(*) AS n_events,
           round(sum(TRY_CAST(floor(value * 100) AS BIGINT)) / 100.0, 2)
             AS total_value
    FROM buckets
    GROUP BY win_start, event_type
    """,
)
def streaming_sliding_stats(spark, sf_dir):
    """Sliding 10-min/5-min windowed rollup via the native overlapping
    ``F.window`` generator (getdbt_spark/streaming.py
    sliding_window_stats) — each event contributes to exactly two
    windows.  The oracle is the two-shifted-bucket rewrite (every
    event's enclosing window starts are its 5-min floor and that
    minus 5 minutes), proving the generator's assignment row for row.
    The same function runs under readStream + watermark
    (stream/batch parity in tests/test_streaming.py)."""
    from ..streaming import sliding_window_stats

    return sliding_window_stats(_t(spark, sf_dir, "events"))


@query(
    "streaming_attribution_join",
    oracle="""
    SELECT i.user_id,
           i.event_id AS imp_id,
           c.event_id AS conv_id,
           i.ts AS imp_ts,
           c.ts AS conv_ts,
           c.value AS conv_value
    FROM (SELECT * FROM events WHERE event_type = 'view') i
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') c
      ON i.user_id = c.user_id
     AND c.ts >= i.ts
     AND c.ts <= i.ts + INTERVAL 30 MINUTE
    """,
)
def streaming_attribution_join(spark, sf_dir):
    """Batch twin of the stream-stream interval join
    (streaming.attributed_conversions): every purchase attributed to
    each preceding same-user view within 30 minutes.  In streaming
    both sides are watermarked and the event-time range constraint
    bounds the join state (state ∝ one 30-min horizon per user, never
    stream length); in batch the watermarks are no-ops and the oracle
    replays the identical range equi-join.  availableNow stream/batch
    parity in tests/test_streaming.py."""
    from ..streaming import attributed_conversions

    return attributed_conversions(_t(spark, sf_dir, "events"))


@query(
    "sink_snapshot_time_travel",
    oracle="""
    WITH t1 AS (
      SELECT DATE '2024-01-15' AS as_of, c_custkey, c_mktsegment
      FROM customer WHERE c_custkey % 7 != 0
    ), t2_present AS (
      SELECT DATE '2024-02-15' AS as_of, c_custkey,
             CASE WHEN c_custkey % 5 = 0 THEN 'SEGMENT_CHANGED'
                  ELSE c_mktsegment END AS c_mktsegment
      FROM customer WHERE c_custkey % 11 != 3
    ), t2_vanished AS (
      SELECT DATE '2024-02-15' AS as_of, c_custkey, c_mktsegment
      FROM customer WHERE c_custkey % 7 != 0 AND c_custkey % 11 = 3
    )
    SELECT * FROM t1
    UNION ALL SELECT * FROM t2_present
    UNION ALL SELECT * FROM t2_vanished
    """,
)
def sink_snapshot_time_travel(spark, sf_dir):
    """Point-in-time (time-travel) reads over the SCD2 snapshot — the
    whole REASON dbt snapshots exist: reconstruct the table exactly as
    it stood at any past instant with the one declarative predicate
    ``valid_from <= t AND (valid_to IS NULL OR valid_to > t)``.

    Reads the same two-run snapshot as ``sink_snapshot_scd2`` at two
    instants: between the runs (must equal source state T1 exactly)
    and after the second run (T2's rows, including close+reopen
    changes, PLUS keys that vanished from the source — whose versions
    stay open, the SCD2 semantics that a naive "latest load" loses).
    The oracle reconstructs both states from first principles, so a
    wrong validity bound anywhere in the snapshot machinery breaks
    the hash.  The as-of predicate is sargable — on a date-partitioned
    snapshot it prunes to the partitions overlapping t.
    """
    import datetime as dt

    from ..snapshots import snapshot_apply, snapshot_init

    cust = _t(spark, sf_dir, "customer")
    src1 = cust.filter(F.col("c_custkey") % 7 != 0).select(
        "c_custkey", "c_nationkey", "c_mktsegment"
    )
    src2 = cust.filter(F.col("c_custkey") % 11 != 3).select(
        "c_custkey",
        "c_nationkey",
        F.when(F.col("c_custkey") % 5 == 0, F.lit("SEGMENT_CHANGED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
    )
    snap = snapshot_apply(
        snapshot_init(src1, dt.datetime(2024, 1, 1)),
        src2,
        "c_custkey",
        ["c_mktsegment"],
        dt.datetime(2024, 2, 1),
    )

    def as_of(d: dt.date):
        t = F.lit(d.isoformat() + " 00:00:00").cast("timestamp_ntz")
        return snap.filter(
            (F.col("dbt_valid_from") <= t)
            & (F.col("dbt_valid_to").isNull() | (F.col("dbt_valid_to") > t))
        ).select(
            F.lit(d).alias("as_of"), "c_custkey", "c_mktsegment"
        )

    return as_of(dt.date(2024, 1, 15)).unionByName(
        as_of(dt.date(2024, 2, 15))
    )


@query(
    "streaming_incremental_sink",
    # The WHERE mirrors the streaming edge's future-skew quarantine
    # (streaming.PLAUSIBLE_MAX_WALL): a real stream must reject
    # watermark-poisoning clocks, so the expected warehouse state
    # excludes them by contract.
    oracle="""
    SELECT
      CAST(date_trunc('day', ts) AS DATE) AS evt_date,
      event_type,
      count(*) AS n_events,
      round(sum(TRY_CAST(floor(value * 100) AS BIGINT)) / 100.0, 2)
        AS total_value,
      min(value) AS min_value,
      max(value) AS max_value
    FROM events
    WHERE ts < TIMESTAMP '2180-01-01'
    GROUP BY 1, 2
    """,
)
def streaming_incremental_sink(spark, sf_dir):
    """Streaming → incremental warehouse, END TO END and driver-hash
    checked: the event feed is delivered as two date-ordered
    generations into a file source; each generation is processed by a
    REAL Structured Streaming run (availableNow, update mode, shared
    checkpoint carrying offsets + aggregation state) whose micro-batch
    output is MERGEd into a plain-parquet table by (evt_date,
    event_type) via foreachBatch + merge_upsert
    (streaming.run_into_incremental_sink).  The final table must equal
    the batch aggregate the oracle computes from the raw feed — the
    strongest check in the streaming family (the other streaming ids
    verify the batch twin; this one verifies the streaming engine's
    own cumulative output through the warehouse sink).  Generations
    arrive in date order, so the 8-day watermark drops nothing, as in
    the reference's trailing-window arrival pattern.
    """
    import os
    import shutil
    import tempfile

    from .. import streaming as S

    e = _t(spark, sf_dir, "events")
    # generation split on credible clocks only — a poisoned 9999 max
    # would put `mid` in year ~6000 and the whole feed in generation 1
    lo, hi = e.filter(credible_clock("ts")).agg(
        F.min(F.to_date("ts")), F.max(F.to_date("ts"))
    ).collect()[0]
    if lo is None:  # empty corpus: single empty generation
        lo = hi = dt.date(2024, 1, 30)
    mid = lo + (hi - lo) / 2
    base = os.path.join(
        tempfile.gettempdir(),
        f"getdbt_spark_stream_sink_{os.path.basename(sf_dir.rstrip('/'))}"
        f"_{os.getpid()}",
    )
    shutil.rmtree(base, ignore_errors=True)
    src = os.path.join(base, "src")
    ckpt = os.path.join(base, "ckpt")
    table = os.path.join(base, "table")
    gens = (
        e.filter(F.to_date("ts") <= F.lit(mid)),
        e.filter(F.to_date("ts") > F.lit(mid)),
    )
    out = None
    for gen in gens:
        gen.write.mode("append").parquet(src)
        out = S.run_into_incremental_sink(spark, src, e, table, ckpt)
    return out


@query(
    "streaming_psi_drift",
    oracle="""
    WITH base AS (
      SELECT time_bucket(INTERVAL 1 DAY, ts) AS win_start,
             CASE WHEN value IS NULL OR NOT isfinite(value) THEN -1
                  ELSE greatest(
                    least(CAST(floor(value / 50) AS BIGINT), 9), 0)
             END AS bucket
      FROM events
    ), counts AS (
      SELECT win_start, bucket, count(*)::BIGINT AS n
      FROM base GROUP BY win_start, bucket
    ), sp AS (
      SELECT w.win_start, gs.b AS bucket
      FROM (SELECT DISTINCT win_start FROM counts) w,
           (SELECT unnest(range(-1, 10)) AS b) gs
    ), f AS (
      SELECT sp.win_start, sp.bucket, coalesce(c.n, 0) AS n
      FROM sp LEFT JOIN counts c
        ON c.win_start = sp.win_start AND c.bucket = sp.bucket
    ), nw AS (
      SELECT win_start, sum(n)::BIGINT AS n_win FROM f GROUP BY win_start
    ), ref AS (
      SELECT gs.b AS bucket,
             coalesce((SELECT count(*) FROM base b2
                       WHERE b2.win_start < TIMESTAMP '2024-01-08'
                         AND b2.bucket = gs.b), 0)::BIGINT AS r
      FROM (SELECT unnest(range(-1, 10)) AS b) gs
    ), rt AS (SELECT sum(r)::BIGINT AS r_tot FROM ref),
    term AS (
      SELECT f.win_start, nw.n_win,
             floor(((ref.r + 1)::DOUBLE / (rt.r_tot + 11)
                    - (f.n + 1)::DOUBLE / (nw.n_win + 11))
                   * ln(((ref.r + 1)::DOUBLE / (rt.r_tot + 11))
                        / ((f.n + 1)::DOUBLE / (nw.n_win + 11)))
                   * 1000000000)::BIGINT AS t_nano
      FROM f
      JOIN nw USING (win_start)
      JOIN ref ON ref.bucket = f.bucket, rt
    )
    SELECT win_start, win_start + INTERVAL 1 DAY AS win_end,
           n_win AS n_events,
           round(sum(t_nano) / 1000000000.0, 6) AS psi,
           sum(t_nano) > 200000000 AS drift_flag
    FROM term GROUP BY win_start, n_win
    """,
)
def streaming_psi_drift(spark, sf_dir):
    """The ONLINE drift monitor: per-day PSI of the event-value
    histogram against the first-week reference histogram (the trained
    artifact a deployment ships to the stream).  The histogram half —
    ``streaming.drift_bucket_counts`` — is streaming-legal (one
    watermarked tumbling aggregation, ≤11 groups per day) and is
    exactly what runs under readStream; the PSI fold against the
    static reference is a SECOND aggregation, so in production it
    runs over the histogram sink / foreachBatch, which is what this
    batch twin replays end-to-end.  Bucket −1 quarantines NULL/NaN
    values (one corrupt price costs one visible histogram cell).

    Same determinism contract as ``dq_psi_drift``: the reference is
    11 bounded integers (collected once — the catalog-bounded anchor
    class — and re-broadcast as literals), every PSI term is a
    function of four integers quantized to nano units before the
    order-free sum, and the 0.2 flag compares integers.

    Scale: the stream side is one map-combinable groupBy bounded at
    11 groups/day; the fold is catalog-grain (days × buckets).
    """
    from pyspark.sql import functions as F

    from ..streaming import DRIFT_BUCKETS, drift_bucket_counts

    counts = drift_bucket_counts(_t(spark, sf_dir, "events"))
    ref_cut = F.lit("2024-01-08").cast("timestamp_ntz")
    base_ref = _t(spark, sf_dir, "events").select(
        F.col("ts"),
        F.when(
            F.col("value").isNull() | ~E.is_finite("value"), F.lit(-1)
        )
        .otherwise(
            F.greatest(
                F.least(
                    F.floor(F.col("value") / 50), F.lit(DRIFT_BUCKETS - 1)
                ),
                F.lit(0),
            )
        )
        .cast("long")
        .alias("bucket"),
    ).filter(F.date_trunc("day", F.col("ts")) < ref_cut)
    ref_rows = {
        r["bucket"]: r["r"]
        for r in base_ref.groupBy("bucket")
        .agg(F.count("*").alias("r"))
        .collect()
    }
    r_tot = sum(ref_rows.values())
    ref_df = spark.createDataFrame(
        [(b, int(ref_rows.get(b, 0))) for b in range(-1, DRIFT_BUCKETS)],
        "bucket long, r long",
    )
    sp = (
        counts.select("win_start", "win_end")
        .distinct()
        .select(
            "win_start",
            "win_end",
            F.explode(
                F.sequence(
                    F.lit(-1), F.lit(DRIFT_BUCKETS - 1)
                ).cast("array<bigint>")
            ).alias("bucket"),
        )
    )
    f = sp.join(counts, ["win_start", "win_end", "bucket"], "left").select(
        "win_start",
        "win_end",
        "bucket",
        F.coalesce("n_events", F.lit(0)).alias("n"),
    )
    nw = f.groupBy("win_start", "win_end").agg(
        F.sum("n").cast("long").alias("n_win")
    )
    p_ref = (F.col("r") + 1).cast("double") / F.lit(float(r_tot + 11))
    p_cur = (F.col("n") + 1).cast("double") / (F.col("n_win") + 11)
    term = (
        f.join(nw, ["win_start", "win_end"])
        .join(F.broadcast(ref_df), "bucket")
        .select(
            "win_start",
            "win_end",
            "n_win",
            F.floor(
                (p_ref - p_cur) * F.log(p_ref / p_cur) * 1000000000
            )
            .cast("long")
            .alias("t_nano"),
        )
    )
    return term.groupBy("win_start", "win_end", "n_win").agg(
        E.round_to(F.sum("t_nano") / 1000000000.0, 6).alias("psi"),
        (F.sum("t_nano") > 200000000).alias("drift_flag"),
    ).select(
        "win_start",
        "win_end",
        F.col("n_win").alias("n_events"),
        "psi",
        "drift_flag",
    )
