"""Reporting layer — six ``integral_reporting_*`` marts + the dashboard.

References: ``models/datamarts/npo-data-hub/reporting/integral_reporting/
integral_reporting_{facebook,instagram,youtube,sites_and_apps,
tvbroadcasts,vodstreaming,dashboard_channel_weekly}.sql``.

Shared shape: a weekly date spine (``GENERATE_DATE_ARRAY(start,
CURRENT_DATE(), INTERVAL 1 WEEK)``) cross-joined to the title
translation table, LEFT-joined to per-platform weekly facts on ISO
week/year, stacked long-format by a 7-branch UNION ALL, finished with
per-title window analytics (``_dashboard_channel_weekly.sql:262-281``).

Engine notes:
- The spine start is parameterized (``SPINE_START``); the reference
  hardcodes '2018-12-31' (a Monday) for its data epoch — the fixture
  corpus's epoch Monday is 1995-01-02.  ``CURRENT_DATE()`` becomes the
  frozen ``ctx.run_date`` (SURVEY §7).
- ISO-week joins precompute year/week columns on BOTH sides so every
  join stays an equi join (broadcast/sort-merge capable) instead of a
  theta join over EXTRACT expressions.
- The vodstreaming port preserves two reference quirks VERBATIM: the
  missing-comma alias ``poms_info.season_id channel`` (season_id is
  aliased to ``channel``, shadowing the real channel column) and the
  partially-shadowed CASE in the dashboard bucketizer.
- Each UNION ALL stack declares its row once (``STREAMING_INFO_ROW``,
  ``DASHBOARD_ROW``): BigQuery infers the supertypes, Spark must be
  told (SURVEY §2.6).  ``_select_row`` casts every branch to the
  declared types and pads what a branch does not fill with typed
  NULLs, so Spark's own ``unionAll`` aligns the branches by position.
"""

from __future__ import annotations

import datetime as dt
import functools

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import (
    iso_week,
    iso_year,
    ntz_diff_us,
    null_lit,
    round_to,
    safe_divide,
)
from ..registry import model

VERTAAL = "360_graden_rapportage_vertaaltabel_upload_20_21"
SPINE_START = "1995-01-02"  # Monday of the fixture epoch (ref: '2018-12-31')
REPORTING_YEAR_MIN = 2019  # extract(isoyear from date) >= 2019 filters —
# the fixture's advantedge dates (2024) all pass, as the reference's do.

# The long-format rows of the two UNION ALL stacks, as ordered
# (name, type) pairs (`_vodstreaming.sql:68-135`,
# `_dashboard_channel_weekly.sql:40-258`).
STREAMING_INFO_ROW = (
    ("evt_mid", "string"),
    ("series_ref", "string"),
    ("series_title", "string"),
    ("evt_programme", "string"),
    ("evt_weeknr", "int"),
    ("evt_year", "int"),
    ("streaming_duration_sec", "double"),
    ("streaming_playcount_over_30s", "bigint"),
    ("streaming_playcount_over_30s_broadcastsonly", "bigint"),
    ("streaming_time_spent_sec", "bigint"),
    ("streaming_kdh_for_new_released_episode", "double"),
    ("mid_counts_for_new_release", "string"),
    ("streaming_kdh_per_episode", "double"),
    ("has_had_linear_release", "int"),
    ("has_scheduled_lineair_release", "int"),
    ("vod_only_release", "int"),
)
DASHBOARD_ROW = (
    ("Naam", "string"),
    ("Net", "string"),
    ("Omroep", "string"),
    ("CCC", "string"),
    ("weekdate", "date"),
    ("weeknr", "int"),
    ("year", "int"),
    ("has_intekening", "int"),
    ("is_tv_week", "int"),
    ("new_releases", "bigint"),
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
)


def _select_row(df: DataFrame, row, **exprs: Column) -> DataFrame:
    """``df`` as one branch of a declared row: every declared column in
    order, cast to its declared type — from ``exprs``, else ``df``'s
    own column of that name, else a typed NULL.  Branches selected this
    way stack by position with ``unionAll``."""
    unknown = exprs.keys() - dict(row).keys()
    if unknown:
        raise ValueError(f"columns not in the declared row: {sorted(unknown)}")
    own = set(df.columns)
    return df.select(*[
        (
            exprs[name].cast(dtype) if name in exprs
            else F.col(name).cast(dtype) if name in own
            else null_lit(dtype)
        ).alias(name)
        for name, dtype in row
    ])


def _spine_seq(ctx):
    """The weekly spine as a literal-bounded sequence expression:
    SPINE_START .. run_date step 7 days
    (`_dashboard_channel_weekly.sql:10` et al.).

    When the frozen run_date predates the spine start — a corpus whose
    newest event is older than the reporting epoch (a stale or
    garbage-timestamped feed) — the spine is EMPTY: BigQuery's
    GENERATE_DATE_ARRAY and DuckDB's generate_series both return []
    for start > stop with a positive step, but Spark's ``sequence``
    throws ``Illegal sequence boundaries``.  Both bounds are plan
    literals, so the guard is decided here in Python at build time —
    zero plan cost (found by the pre-1970 random-corpus probe)."""
    if ctx.run_date < dt.date.fromisoformat(SPINE_START):
        return F.expr("CAST(array() AS array<date>)")
    return F.sequence(
        F.to_date(F.lit(SPINE_START)),
        F.lit(ctx.run_date),
        F.expr("interval 7 days"),
    )


def _spine(ctx) -> DataFrame:
    """One row per reporting week, as a standalone table."""
    return ctx.spark.range(1).select(
        F.explode(_spine_seq(ctx)).alias("weekdate")
    )


def _with_spine(ctx, df: DataFrame) -> DataFrame:
    """``df × weekly spine`` as a per-row generator instead of a cross
    join: the sequence bounds are literals, so ``explode(sequence(…))``
    fans each row out to one row per week inline — no broadcast build,
    no nested-loop join node, and at cluster scale no exchange at all
    (the reference's ``CROSS JOIN UNNEST(GENERATE_DATE_ARRAY(…))``
    shape, executed the way BigQuery actually runs it)."""
    return df.withColumn("weekdate", F.explode(_spine_seq(ctx)))


def _week_cols(df: DataFrame) -> DataFrame:
    return df.withColumn("weeknr", iso_week("weekdate")).withColumn(
        "year", iso_year("weekdate")
    )


def _spine_join(
    ctx, facts: DataFrame, year: str, week: str, series: str
) -> DataFrame:
    """The tv and vod marts' shape (`integral_reporting_tvbroadcasts
    .sql`, `_vodstreaming.sql:138-158`): weekly spine LEFT JOIN facts on
    ISO (year, week), LEFT JOIN the vertaaltabel on the series id.
    Both right sides are catalog-bounded (per-(series, week) aggregates
    and the title table), so both joins broadcast."""
    vt = ctx.ref(VERTAAL)
    spine = _week_cols(_spine(ctx)).withColumnsRenamed(
        {"weeknr": "sp_weeknr", "year": "sp_year"}
    )
    return spine.join(
        F.broadcast(facts),
        (facts[year] == spine["sp_year"])
        & (facts[week] == spine["sp_weeknr"]),
        "left",
    ).join(F.broadcast(vt), vt["Serie_mid"] == facts[series], "left")


def _quintly_mart(ctx, quintly_name: str, id_col: str, out_cols):
    """The fb/ig/yt shared shape (`integral_reporting_facebook.sql` etc.):
    vertaaltabel (Naam NOT NULL) × spine LEFT JOIN weekly facts on
    (profile id, ISO year, ISO week)."""
    vt = ctx.ref(VERTAAL).filter(F.col("Naam").isNotNull())
    q = ctx.ref(quintly_name).withColumn(
        "q_year", iso_year("intervalBegin")
    ).withColumn("q_week", iso_week("intervalBegin"))
    base = _week_cols(_with_spine(ctx, vt))
    # Broadcast the facts side: quintly weeklies are bounded by
    # #profiles × #weeks (catalog-shaped) at any corpus scale.
    joined = base.join(
        F.broadcast(q),
        (base[id_col] == q["profileId"])
        & (base["year"] == q["q_year"])
        & (base["weeknr"] == q["q_week"]),
        "left",
    )
    return joined.select(*out_cols)


@model(
    "integral_reporting_facebook",
    refs=[VERTAAL, "quintly_facebook_pages_weekly"],
    schema="integral_reporting",
)
def integral_reporting_facebook(ctx):
    return _quintly_mart(
        ctx,
        "quintly_facebook_pages_weekly",
        "QL_FB_ID",
        [
            "Target_FB_pagelikes",
            "Target_FB_reachperpost",
            "QL_FB_ID",
            "weekdate",
            "weeknr",
            "year",
            F.col("fans").alias("fb_fans"),
            F.col("fansChange").alias("fb_fans_change"),
            F.col("ownPosts").alias("fb_number_of_posts"),
            F.col("pageImpressionsUnique").alias("fb_reach_per_week"),
            F.col("ownPostsEngagement").alias("fb_engagement_per_week"),
        ],
    )


@model(
    "integral_reporting_instagram",
    refs=[VERTAAL, "quintly_instagram_pages_weekly"],
    schema="integral_reporting",
)
def integral_reporting_instagram(ctx):
    return _quintly_mart(
        ctx,
        "quintly_instagram_pages_weekly",
        "QL_IG_ID",
        [
            "Target_IG_followers",
            "Target_IG_reachperpost",
            "QL_IG_ID",
            "weekdate",
            "weeknr",
            "year",
            F.col("followers").alias("ig_followers"),
            F.col("followersChange").alias("ig_followers_change"),
            F.col("posts").alias("ig_number_of_posts"),
            F.col("postschange").alias("ig_number_of_posts_change"),
            F.col("reach").alias("ig_reach_per_week"),
            F.col("totalengagement").alias("ig_engagement_per_week"),
        ],
    )


@model(
    "integral_reporting_youtube",
    refs=[VERTAAL, "quintly_youtube_allchannels_weekly"],
    schema="integral_reporting",
)
def integral_reporting_youtube(ctx):
    return _quintly_mart(
        ctx,
        "quintly_youtube_allchannels_weekly",
        "QL_YT_ID",
        [
            "Target_YT_subscribers",
            "Target_YT_views",
            "QL_YT_ID",
            "weekdate",
            "weeknr",
            "year",
            F.col("totalSubscribers").alias("yt_total_subscribers"),
            F.col("totalSubscribersChange").alias(
                "yt_total_subscribers_change"
            ),
            F.col("totalVideos").alias("yt_number_of_videos"),
            F.col("views").alias("yt_views_per_week"),
            F.col("estimatedminuteswatched").alias(
                "yt_time_spent_per_week_min"
            ),
            F.col("totalengagement").alias("yt_engagement_per_week"),
            F.col("averageViewPercentage").alias("yt_view_percentage"),
            F.col("averageViewDuration").alias("yt_view_duration"),
            (
                (F.col("averageViewPercentage") / 100) * F.col("views")
            ).alias("yt_kdh_per_week"),
        ],
    )


@model(
    "integral_reporting_sites_and_apps",
    refs=[
        VERTAAL,
        "atinternet_smarttag_pages_weekly_v2",
        "atinternet_smarttag_pages_programmes_weekly_v2",
    ],
    schema="integral_reporting",
)
def integral_reporting_sites_and_apps(ctx):
    """`integral_reporting_sites_and_apps.sql:1-49`: plussites UNION
    programme-subsites, then per-(title, week) conditional sums split
    by platform."""
    pages = ctx.ref("atinternet_smarttag_pages_weekly_v2").select(
        "level_2", "platform", "weekdate", "weeknum", "year",
        "weekly_visitors", "daily_visitors", "visits",
    )
    progs = ctx.ref("atinternet_smarttag_pages_programmes_weekly_v2").select(
        F.concat("level_2", F.lit(" - "), "programme").alias("level_2"),
        "platform", "weekdate", "weeknum", "year",
        "weekly_visitors", "daily_visitors", "visits",
    )
    ati = pages.unionAll(progs)

    vt = ctx.ref(VERTAAL).filter(F.col("Naam").isNotNull())
    base = _week_cols(_with_spine(ctx, vt))
    # ATI weeklies are bounded by #titles × #weeks — broadcast-safe.
    joined = base.join(
        F.broadcast(ati),
        (base["ATI_Titel"] == ati["level_2"])
        & (ati["year"] == base["year"])
        & (ati["weeknum"] == base["weeknr"]),
        "left",
    )

    def _plat_sum(platform: str, col: str):
        return F.sum(
            F.when(F.col("platform").like(platform), F.col(col))
        )

    return joined.groupBy(
        "Target_AT_app",
        "Target_AT_site",
        "ATI_Titel",
        base["weekdate"],
        "weeknr",
        base["year"],
    ).agg(
        _plat_sum("app", "weekly_visitors").alias("app_weekly_visitors"),
        _plat_sum("site", "weekly_visitors").alias("site_weekly_visitors"),
        _plat_sum("app", "daily_visitors").alias("app_daily_visitors"),
        _plat_sum("site", "daily_visitors").alias("site_daily_visitors"),
        _plat_sum("app", "visits").alias("app_visits"),
        _plat_sum("site", "visits").alias("site_visits"),
    )


def _tv_filtered(adv: DataFrame) -> DataFrame:
    """The shared broadcast filter (`integral_reporting_tvbroadcasts
    .sql:15`, `_vodstreaming.sql:16`)."""
    return adv.filter(
        F.col("channel").rlike("NPO")
        & (F.col("RepeatType") == "FIRST")
        & (F.col("audience") == "6+")
        & (F.col("universe") == "Nat[SKO]")
        & (iso_year("date") >= REPORTING_YEAR_MIN)
    )


@model(
    "integral_reporting_tvbroadcasts",
    refs=["advantedge_tv_viewer_density_per_show_daily_v1",
          "dim_poms_episodes", VERTAAL],
    schema="integral_reporting",
)
def integral_reporting_tvbroadcasts(ctx):
    adv = ctx.ref("advantedge_tv_viewer_density_per_show_daily_v1")
    dim = ctx.ref("dim_poms_episodes")

    tv_ep = (
        _tv_filtered(adv)
        .join(F.broadcast(dim), dim["episode_id"] == adv["mediaId"], "left")
        .groupBy(
            "title",
            "date",
            "mediaId",
            F.col("series_ref").alias("poms_series_id"),
            F.col("series_title").alias("poms_series_title"),
            "channel",
        )
        .agg(
            F.min("beginTimeCET").alias("_b"),
            F.min("endTimeCET").alias("_e"),
            F.sum("kdh").alias("kdh"),
        )
        .select(
            "*",
            # wall-pure minute diff (F.timestamp_diff session-coerces
            # NTZ and corrupts broadcasts straddling the DST skipped
            # hour — round-6 random-corpus find: 5 min became 65)
            F.floor(
                ntz_diff_us(F.col("_e"), F.col("_b")) / F.lit(60_000_000)
            ).cast("long").alias("ep_duration_min"),
        )
        .withColumn("time_spent", F.col("ep_duration_min") * F.col("kdh"))
    )

    tv_title = (
        tv_ep.groupBy(
            "poms_series_id",
            "poms_series_title",
            iso_week("date").alias("weeknr"),
            iso_year("date").alias("year"),
        ).agg(
            F.countDistinct(
                F.concat("mediaId", F.lit(" - "), F.col("date").cast("string"))
            ).alias("tv_number_of_broadcasts"),
            F.sum("ep_duration_min").alias("tv_duration_min"),
            F.sum("kdh").alias("tv_sum_kdh_per_week"),
            F.sum("time_spent").alias("tv_time_spent_per_week_min"),
        )
    )

    return (
        _spine_join(ctx, tv_title, "year", "weeknr", "poms_series_id")
        .select(
            "Naam",
            "Net",
            "Omroep",
            "CCC",
            "weekdate",
            "weeknr",
            "year",
            F.when(F.col("poms_series_title").isNotNull(), 1)
            .otherwise(0)
            .alias("tv_broadcast_week"),
            "poms_series_id",
            "poms_series_title",
            "tv_number_of_broadcasts",
            "tv_duration_min",
            "tv_sum_kdh_per_week",
            "tv_time_spent_per_week_min",
        )
    )


@model(
    "integral_reporting_vodstreaming",
    refs=[
        "advantedge_tv_viewer_density_per_show_daily_v1",
        "poms_flattened",
        "atinternet_smarttag_streams_daily_v4",
        "dim_poms_episodes",
        VERTAAL,
    ],
    schema="integral_reporting",
)
def integral_reporting_vodstreaming(ctx):
    adv = ctx.ref("advantedge_tv_viewer_density_per_show_daily_v1")
    pf = ctx.ref("poms_flattened")
    streams = ctx.ref("atinternet_smarttag_streams_daily_v4")
    dim = ctx.ref("dim_poms_episodes")

    # new_tv_eps (:1-17).  `poms_info.season_id channel` replicated as
    # written: season_id is ALIASED to channel (missing-comma quirk).
    w_season = Window.partitionBy("season_id")
    new_tv_eps = (
        _tv_filtered(adv)
        .join(F.broadcast(pf), pf["mid"] == adv["mediaId"], "left")
        .select(
            "title",
            F.col("date").alias("first_broadcast_date"),
            F.col("beginTimeCET").alias("start_eps"),
            "mediaId",
            F.col("season_id").alias("channel"),
            F.floor(
                ntz_diff_us(F.col("endTimeCET"), F.col("beginTimeCET"))
                / F.lit(60_000_000)
            ).cast("long").alias("ep_duration_min"),
            F.min("date").over(w_season).alias("first_known_eps_date_season"),
            F.max("date").over(w_season).alias("last_known_eps_date_season"),
        )
    )

    # first_streaming_days (:19-38): mids whose daily 30s-playcount ever
    # reached 100.
    fsd = (
        streams.filter(F.col("mtd_type") == "BROADCAST")
        .groupBy("evt_mid", "evt_date")
        .agg(F.sum("evt_play_count_over_30s").alias("spc"))
        .filter(F.col("spc") >= 100)
        .groupBy("evt_mid")
        .agg(F.min("evt_date").alias("first_stream_day"))
    )

    # new_releases (:41-66): release-date resolution logic verbatim.
    release_date = F.coalesce(
        F.col("first_broadcast_date"),
        F.when(
            F.datediff(
                F.to_date("start_linear_first_broadcast"),
                F.col("first_stream_day"),
            )
            >= 90,
            F.col("first_stream_day"),
        ).otherwise(F.to_date("start_linear_first_broadcast")),
    )
    w_ref = Window.partitionBy("season_ref")
    new_releases = (
        dim.filter(F.col("episode_type") == "BROADCAST")
        .join(
            F.broadcast(new_tv_eps),
            dim["episode_id"] == new_tv_eps["mediaId"],
            "left",
        )
        .join(F.broadcast(fsd), fsd["evt_mid"] == dim["episode_id"], "left")
        .select(
            dim["episode_id"].alias("mediaid"),
            "series_ref",
            "series_title",
            "episode_type",
            "season_ref",
            F.col("index").alias("eps_nr"),
            F.col("season_index").alias("season_nr"),
            release_date.alias("first_broadcast_date_res"),
            F.when(F.col("first_broadcast_date").isNull(), 0)
            .otherwise(1)
            .alias("has_had_linear_release"),
            F.when(
                F.coalesce(
                    F.col("first_broadcast_date"),
                    F.to_date("start_linear_first_broadcast"),
                ).isNull(),
                0,
            )
            .otherwise(1)
            .alias("has_scheduled_lineair_release"),
            F.min(release_date).over(w_ref).alias("first_broadcast_season"),
            F.max(release_date).over(w_ref).alias(
                "last_known_broadcast_season"
            ),
        )
        .distinct()
    )

    # streaming_info (:68-135): release-week branch UNION streamed-week
    # branch, each selected as STREAMING_INFO_ROW.
    # Only the release flags/dates are consumed from new_releases here
    # (the reference reads poms.* from its own dim join); projecting
    # them away also removes the dim↔new_releases self-join ambiguity.
    nr = new_releases.select(
        "mediaid",
        "last_known_broadcast_season",
        "has_had_linear_release",
        "has_scheduled_lineair_release",
        "first_broadcast_date_res",
    )
    d1 = dim.alias("d1")
    s1 = streams.join(
        F.broadcast(nr), nr["mediaid"] == streams["evt_mid"], "left"
    ).join(
        F.broadcast(d1), F.col("d1.episode_id") == streams["evt_mid"], "left"
    )
    in_28 = (F.col("mtd_type") == "BROADCAST") & (
        F.datediff("evt_date", "last_known_broadcast_season") <= 28
    )
    branch1 = s1.groupBy(
        "evt_mid",
        F.col("d1.series_ref"),
        F.col("d1.series_title"),
        "evt_programme",
        iso_week("first_broadcast_date_res").alias("evt_weeknr"),
        iso_year("first_broadcast_date_res").alias("evt_year"),
    ).agg(
        F.avg("mtd_duration_in_sec").alias("streaming_duration_sec"),
        safe_divide(
            F.sum(
                F.when(in_28, F.col("evt_playback_time_total_in_sec"))
                .otherwise(0)
            ),
            F.max(
                F.when(in_28, F.col("mtd_duration_in_sec")).otherwise(0)
            ),
        ).alias("streaming_kdh_for_new_released_episode"),
        F.max(F.when(in_28, F.col("evt_mid"))).alias(
            "mid_counts_for_new_release"
        ),
        F.max(
            F.when(F.col("has_had_linear_release") == 1, 1).otherwise(0)
        ).alias("has_had_linear_release"),
        F.max(
            F.when(
                (F.col("has_had_linear_release") == 0)
                & (F.col("has_scheduled_lineair_release") == 1),
                1,
            ).otherwise(0)
        ).alias("has_scheduled_lineair_release"),
        F.max(
            F.when(
                (F.col("has_had_linear_release") == 0)
                & (F.col("has_scheduled_lineair_release") == 0),
                1,
            ).otherwise(0)
        ).alias("vod_only_release"),
    )

    d2 = dim.alias("d2")
    s2 = streams.join(
        F.broadcast(d2), F.col("d2.episode_id") == streams["evt_mid"], "left"
    )
    branch2 = s2.groupBy(
        "evt_mid",
        "series_ref",
        "series_title",
        "evt_programme",
        iso_week("evt_date").alias("evt_weeknr"),
        iso_year("evt_date").alias("evt_year"),
    ).agg(
        F.avg("mtd_duration_in_sec").alias("streaming_duration_sec"),
        F.sum("evt_play_count_over_30s").alias("streaming_playcount_over_30s"),
        F.sum(
            F.when(
                F.col("mtd_type") == "BROADCAST",
                F.col("evt_play_count_over_30s"),
            ).otherwise(0)
        ).alias("streaming_playcount_over_30s_broadcastsonly"),
        F.sum("evt_playback_time_total_in_sec").alias(
            "streaming_time_spent_sec"
        ),
        safe_divide(
            F.sum("evt_playback_time_total_in_sec"),
            F.avg("mtd_duration_in_sec"),
        ).alias("streaming_kdh_per_episode"),
    )
    streaming_info = _select_row(branch1, STREAMING_INFO_ROW).unionAll(
        _select_row(branch2, STREAMING_INFO_ROW)
    )

    # final (:138-158)
    joined = _spine_join(
        ctx, streaming_info, "evt_year", "evt_weeknr", "series_ref"
    )
    return (
        joined.groupBy(
            F.coalesce("Stream_Titel", "series_title").alias(
                "Stream_join_title"
            ),
            F.col("series_title").alias("POMS_series_title"),
            F.col("series_ref").alias("POMS_series_id"),
            F.when(F.col("Stream_Titel").isNull(), 0)
            .otherwise(1)
            .alias("has_intekening"),
            "weekdate",
        )
        .agg(
            F.countDistinct("evt_mid").alias("streaming_number_of_episodes"),
            F.sum("streaming_duration_sec").alias("streaming_duration_sec"),
            F.sum("streaming_playcount_over_30s").alias(
                "streaming_playcount_over_30s"
            ),
            F.sum("streaming_playcount_over_30s_broadcastsonly").alias(
                "streaming_playcount_over_30s_broadcastsonly"
            ),
            F.sum("streaming_time_spent_sec").alias(
                "streaming_time_spent_sec"
            ),
            F.sum("streaming_kdh_per_episode").alias(
                "streaming_sum_kdh_per_week"
            ),
            F.sum("streaming_kdh_for_new_released_episode").alias(
                "streaming_kdh_for_new_released_episode"
            ),
            F.countDistinct("mid_counts_for_new_release").alias(
                "streaming_number_of_new_released_eps"
            ),
            F.max("has_had_linear_release").alias(
                "week_with_new_lineair_release"
            ),
            F.max(
                F.when(
                    (F.col("has_had_linear_release") == 1)
                    | (F.col("has_scheduled_lineair_release") == 1)
                    | (F.col("vod_only_release") == 1),
                    1,
                ).otherwise(0)
            ).alias("week_with_new_release"),
        )
        .select(
            "Stream_join_title",
            "POMS_series_title",
            "POMS_series_id",
            "has_intekening",
            "weekdate",
            iso_week("weekdate").alias("weeknr"),
            iso_year("weekdate").alias("year"),
            "streaming_number_of_episodes",
            "streaming_duration_sec",
            "streaming_playcount_over_30s",
            "streaming_playcount_over_30s_broadcastsonly",
            "streaming_time_spent_sec",
            "streaming_sum_kdh_per_week",
            "streaming_kdh_for_new_released_episode",
            "streaming_number_of_new_released_eps",
            "week_with_new_lineair_release",
            "week_with_new_release",
        )
        .orderBy(F.desc("weekdate"))
    )


@model(
    "integral_reporting_dashboard_channel_weekly",
    refs=[
        VERTAAL,
        "integral_reporting_facebook",
        "integral_reporting_instagram",
        "integral_reporting_youtube",
        "integral_reporting_sites_and_apps",
        "integral_reporting_tvbroadcasts",
        "integral_reporting_vodstreaming",
    ],
    schema="integral_reporting",
)
def integral_reporting_dashboard_channel_weekly(ctx):
    """`integral_reporting_dashboard_channel_weekly.sql` (282 lines):
    7-branch long-format channel stacking + threshold cleaning +
    per-title window analytics.  Every branch is selected as
    ``DASHBOARD_ROW``, whose declared types stand in for BigQuery's
    inferred supertypes, and Spark's ``unionAll`` aligns the branches
    by position.

    Every mart shares lineage with ``basis`` (all derive from the
    vertaaltabel), so each branch projects its right side to uniquely
    ``j_``-prefixed columns before joining — equivalent to the
    reference's table aliases, and it keeps Spark's ambiguous-self-join
    analysis satisfied."""
    vt = ctx.ref(VERTAAL)
    fb = ctx.ref("integral_reporting_facebook")
    ig = ctx.ref("integral_reporting_instagram")
    yt = ctx.ref("integral_reporting_youtube")
    online = ctx.ref("integral_reporting_sites_and_apps")
    tv = ctx.ref("integral_reporting_tvbroadcasts")
    vod = ctx.ref("integral_reporting_vodstreaming")

    basis = _week_cols(_with_spine(ctx, vt))

    # intekening_cleaning (:17-34): series kept when >= 1000 yearly
    # broadcast-VOD views OR >= 1 lineair broadcast.
    tvb = tv.select(
        F.col("poms_series_id").alias("t_series"),
        F.col("year").alias("t_year"),
        F.col("weeknr").alias("t_weeknr"),
        F.col("tv_number_of_broadcasts").alias("t_n_broadcasts"),
    )
    ss = vod.select(
        F.col("POMS_series_id").alias("s_series"),
        F.col("year").alias("s_year"),
        F.col("weeknr").alias("s_weeknr"),
        F.col("streaming_playcount_over_30s_broadcastsonly").alias("s_views"),
    )
    cleaning = (
        ss.join(
            tvb,
            (F.col("t_series") == F.col("s_series"))
            & (F.col("t_year") == F.col("s_year"))
            & (F.col("t_weeknr") == F.col("s_weeknr")),
            "full",
        )
        .groupBy(
            F.coalesce("s_series", "t_series").alias("c_series"),
            F.coalesce("s_year", "t_year").alias("c_year"),
        )
        .agg(
            F.sum("s_views").alias("n_views_in_reportingyear"),
            F.sum("t_n_broadcasts").alias("n_broadcasts_in_year"),
        )
        .filter(
            (F.col("n_views_in_reportingyear") >= 1000)
            | (F.col("n_broadcasts_in_year") >= 1)
        )
    )

    def _social(mart, key, metric_cols, **exprs):
        """fb/ig/yt/sites/apps branch (:40-185): basis LEFT JOIN mart on
        (id, weekdate); mart projected to j_* names first."""
        right = mart.select(
            F.col(key).alias("j_id"),
            F.col("weekdate").alias("j_weekdate"),
            *[F.col(c).alias(f"j_{c}") for c in metric_cols],
        )
        # Mart outputs are #titles × #weeks (catalog-bounded at any
        # corpus scale) — broadcast so each branch stays a map-side
        # hash join instead of sort-merging basis five times.
        j = basis.join(
            F.broadcast(right),
            (basis[key] == F.col("j_id"))
            & (basis["weekdate"] == F.col("j_weekdate")),
            "left",
        )
        return _select_row(
            j,
            DASHBOARD_ROW,
            has_intekening=F.when(F.col("Naam").isNotNull(), 1).otherwise(0),
            **exprs,
        )

    def _j(c):
        return F.col(f"j_{c}")

    b_fb = _social(
        fb, "QL_FB_ID",
        ["fb_number_of_posts", "fb_reach_per_week", "fb_engagement_per_week"],
        reporting_channel=F.lit("facebook"),
        n_items_per_week=_j("fb_number_of_posts"),
        media_item_type=F.lit("posts"),
        weekly_reach_per_week=_j("fb_reach_per_week"),
        engagement_per_week=_j("fb_engagement_per_week"),
    )
    b_ig = _social(
        ig, "QL_IG_ID",
        ["ig_number_of_posts", "ig_reach_per_week", "ig_engagement_per_week"],
        reporting_channel=F.lit("instagram"),
        n_items_per_week=_j("ig_number_of_posts"),
        media_item_type=F.lit("posts"),
        weekly_reach_per_week=_j("ig_reach_per_week"),
        engagement_per_week=_j("ig_engagement_per_week"),
    )

    def _online_branch(channel, prefix):
        return _social(
            online, "ATI_Titel",
            [f"{prefix}_weekly_visitors", f"{prefix}_daily_visitors",
             f"{prefix}_visits"],
            reporting_channel=F.lit(channel),
            weekly_reach_per_week=_j(f"{prefix}_weekly_visitors"),
            daily_reach_per_week=_j(f"{prefix}_daily_visitors"),
            visits_per_week=_j(f"{prefix}_visits"),
        )

    b_sites = _online_branch("sites", "site")
    b_apps = _online_branch("apps", "app")

    b_yt = _social(
        yt, "QL_YT_ID",
        ["yt_number_of_videos", "yt_engagement_per_week",
         "yt_views_per_week", "yt_time_spent_per_week_min",
         "yt_kdh_per_week"],
        reporting_channel=F.lit("youtube"),
        n_items_per_week=_j("yt_number_of_videos"),
        media_item_type=F.lit("videos"),
        engagement_per_week=_j("yt_engagement_per_week"),
        views_per_week=_j("yt_views_per_week"),
        hours_watched=round_to(_j("yt_time_spent_per_week_min") / 60, 2),
        video_kdh_per_week=round_to(_j("yt_kdh_per_week"), 0),
    )

    # lineair branch (:188-216): tv is the LEFT side; tv projected to
    # tvj_* names (its own Naam/Net/Omroep/CCC copies are unused here).
    # basis_b: column-renamed copy of basis — fresh exprIds so branches
    # whose left side also descends from the vertaaltabel can join it.
    basis_b = basis.select(
        *[F.col(c).alias(f"b_{c}") for c in basis.columns]
    )
    tv_sel = tv.select(
        F.col("weekdate").alias("tvj_weekdate"),
        F.col("weeknr").alias("tvj_weeknr"),
        F.col("year").alias("tvj_year"),
        F.col("tv_broadcast_week").alias("tvj_broadcast_week"),
        F.col("poms_series_id").alias("tvj_series_id"),
        F.col("poms_series_title").alias("tvj_series_title"),
        F.col("tv_number_of_broadcasts").alias("tvj_n_broadcasts"),
        F.col("tv_time_spent_per_week_min").alias("tvj_time_spent_min"),
        F.col("tv_sum_kdh_per_week").alias("tvj_sum_kdh"),
    )
    # basis_b is titles × weeks — catalog-bounded, broadcast-safe as
    # the right (build) side of both left joins below.
    j_tv = tv_sel.join(
        F.broadcast(basis_b),
        (F.col("b_Serie_mid") == F.col("tvj_series_id"))
        & (F.col("b_weekdate") == F.col("tvj_weekdate")),
        "left",
    )
    b_tv = _select_row(
        j_tv,
        DASHBOARD_ROW,
        Naam=F.coalesce(F.col("b_Naam"), F.col("tvj_series_title")),
        Net=F.col("b_Net"),
        Omroep=F.col("b_Omroep"),
        CCC=F.col("b_CCC"),
        weekdate=F.coalesce(F.col("b_weekdate"), F.col("tvj_weekdate")),
        weeknr=F.coalesce(F.col("b_weeknr"), F.col("tvj_weeknr")),
        year=F.coalesce(F.col("b_year"), F.col("tvj_year")),
        has_intekening=F.when(F.col("b_Naam").isNotNull(), 1).otherwise(0),
        is_tv_week=F.col("tvj_broadcast_week"),
        new_releases=F.col("tvj_n_broadcasts"),
        reporting_channel=F.lit("lineair"),
        n_items_per_week=F.col("tvj_n_broadcasts"),
        media_item_type=F.lit("videos"),
        hours_watched=round_to(F.col("tvj_time_spent_min") / 60, 2),
        video_kdh_per_week=round_to(F.col("tvj_sum_kdh"), 0),
        video_kdh_per_release=round_to(
            safe_divide(F.col("tvj_sum_kdh"), F.col("tvj_n_broadcasts")), 0
        ),
    )

    # VOD branch (:218-258): inner join the cleaning filter, grouped.
    vod_sel = vod.select(
        F.col("POMS_series_id").alias("vj_series_id"),
        F.col("POMS_series_title").alias("vj_series_title"),
        F.col("weekdate").alias("vj_weekdate"),
        F.col("weeknr").alias("vj_weeknr"),
        F.col("year").alias("vj_year"),
        F.col("streaming_number_of_episodes").alias("vj_n_eps"),
        F.col("streaming_playcount_over_30s").alias("vj_playcount"),
        F.col("streaming_time_spent_sec").alias("vj_time_spent_sec"),
        F.col("streaming_sum_kdh_per_week").alias("vj_sum_kdh"),
        F.col("streaming_kdh_for_new_released_episode").alias("vj_kdh_new"),
        F.col("streaming_number_of_new_released_eps").alias("vj_n_new_eps"),
    )
    j_vod = vod_sel.join(
        # (series, year) aggregate — catalog-bounded.
        F.broadcast(cleaning),
        (F.col("c_series") == F.col("vj_series_id"))
        & (F.col("c_year") == F.col("vj_year")),
        "inner",
    ).join(
        F.broadcast(basis_b),
        (F.col("b_Serie_mid") == F.col("vj_series_id"))
        & (F.col("b_weekdate") == F.col("vj_weekdate")),
        "left",
    )
    vod_week = j_vod.groupBy(
        F.coalesce(F.col("b_Naam"), F.col("vj_series_title")).alias("Naam"),
        F.col("b_Net").alias("Net"),
        F.col("b_Omroep").alias("Omroep"),
        F.col("b_CCC").alias("CCC"),
        F.coalesce(F.col("b_weekdate"), F.col("vj_weekdate")).alias(
            "weekdate"
        ),
        F.coalesce(F.col("b_weeknr"), F.col("vj_weeknr")).alias("weeknr"),
        F.coalesce(F.col("b_year"), F.col("vj_year")).alias("year"),
    ).agg(
        F.max(F.when(F.col("b_Naam").isNotNull(), 1).otherwise(0)).alias(
            "has_intekening"
        ),
        F.sum("vj_n_eps").alias("n_items_per_week"),
        F.sum("vj_playcount").alias("views_per_week"),
        round_to(F.sum(F.col("vj_time_spent_sec") / 60 / 60), 2).alias(
            "hours_watched"
        ),
        round_to(F.sum("vj_sum_kdh"), 0).alias("video_kdh_per_week"),
        round_to(
            safe_divide(F.sum("vj_kdh_new"), F.sum("vj_n_new_eps")), 0
        ).alias("video_kdh_per_release"),
    )
    b_vod = _select_row(
        vod_week,
        DASHBOARD_ROW,
        reporting_channel=F.lit("VOD"),
        media_item_type=F.lit("videos"),
    )

    stacked = functools.reduce(
        DataFrame.unionAll, [b_fb, b_ig, b_sites, b_apps, b_yt, b_tv, b_vod]
    )

    # final window analytics (:262-281)
    w_title_week = Window.partitionBy("weekdate", "Naam")
    w_title = Window.partitionBy("Naam")
    lineair = F.col("reporting_channel") == "lineair"
    kdh_rel_lineair = F.when(
        lineair, F.col("video_kdh_per_release")
    ).otherwise(F.lit(0))
    avg_kdh = F.avg(kdh_rel_lineair).over(w_title)
    avg_has_kdh = F.avg(
        F.when(
            lineair & F.col("video_kdh_per_release").isNotNull(), 1
        ).otherwise(0)
    ).over(w_title)

    keep = [
        c
        for c, _ in DASHBOARD_ROW
        if c not in ("is_tv_week", "new_releases", "has_intekening")
    ]
    # Two-stage window evaluation: every Naam-partitioned window runs
    # in the inner select (ONE hash(Naam) exchange), and the outer
    # (weekdate, Naam) window reuses it — HashPartitioning(Naam)
    # satisfies ClusteredDistribution(weekdate, Naam), so Catalyst
    # inserts only a partition-local sort, not a second full-table
    # exchange.  One select would let the (weekdate, Naam) group
    # evaluate first and shuffle the stacked table twice.
    staged = stacked.select(
        "*",
        F.sum(F.when(lineair, F.col("new_releases")).otherwise(0))
        .over(w_title)
        .alias("n_total_tv_broadcasts"),
        F.max("has_intekening").over(w_title).alias("_has_intek_max"),
        avg_kdh.alias("_avg_kdh"),
        avg_has_kdh.alias("_avg_has_kdh"),
    )
    return staged.select(
        *keep,
        round_to(
            safe_divide(
                F.col("engagement_per_week"),
                F.when(
                    F.col("reporting_channel") == "youtube",
                    F.col("views_per_week"),
                ).otherwise(F.col("weekly_reach_per_week")),
            ),
            3,
        ).alias("engagement_ratio"),
        round_to(
            safe_divide("daily_reach_per_week", "weekly_reach_per_week"), 2
        ).alias("dau_mau_ratio"),
        F.max("is_tv_week").over(w_title_week).alias("is_tv_week"),
        F.col("n_total_tv_broadcasts"),
        F.col("_has_intek_max").alias("has_intekening"),
        F.when(F.col("_avg_kdh") < 100000, "avg lineaire KDH < 100.000")
        .when(
            F.col("_avg_kdh") >= 4000000, "avg lineaire KDH > 4.000.000"
        )
        .when(F.col("_avg_has_kdh") == 0, "no lineair KDH in this week")
        .otherwise("avg lineaire KDH >= 100.000 and < 4.0000.000")
        .alias("lineair_kdh_bucket"),
    )
