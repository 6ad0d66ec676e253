"""``atinternet_smarttag_streams_daily_v4`` — the incremental heart of
the reference DAG (244 lines; ``models/datamarts/npo-data-hub/
intermediary/atinternet_smarttag_streams_daily_v4.sql``).

Pipeline per run (all line refs into that file):

1. ``adv_events``: broadcast schedule → one row per broadcast MINUTE
   (``:26-41`` minute-spine explode, NPO-channel regex, 7-col dedup).
2. ``raw_events``: two UNION ALL branches over player events filtered
   to the trailing 9-day partition window (``:44-102``) —
   *livestream*: inner-join channel mapping on the content id, as-of
   LEFT join to the broadcast minute, nearest-show ``row_number``
   (``:62-70``); *regular*: everything else with a faked ``dedup=1``.
3. ``agg_events_per_stream``: per-(playid,user,day,…) totals with
   NULLIF/SAFE_OFFSET field cleaning (``:105-137``).
4. ``agg_events_per_date``: per-day re-aggregation incl. the ≥30 s
   threshold computed on stage-1 totals (``:140-161``) — the two-stage
   shape is semantic, never fuse.
5. ``metadata``: descendant ranking, episode MAX-IF, ordered
   STRING_AGG of broadcasters, NED-channel ranking (``:164-237``).
6. Final LEFT join metadata on ``evt_mid`` (``:239-244``).

Scale notes: the partition-window predicate is a LITERAL IN-list
(frozen ``ctx.partition_window``) so parquet pruning fires on the event
scan; the channel mapping is broadcast; the as-of join is an equi join
on (channel, minute) + one window — no theta join anywhere; metadata
sub-aggregations are per-mid array ops or small groupBys joined back
broadcast-style.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions import (
    ntz_trunc_minute,
    nullif_,
    safe_offset,
    split_literal,
    timestamp_diff_seconds,
)
from ..registry import model

D = "_||_"  # the AT Internet multi-value delimiter (split LITERALLY)


def _clean_theme2(col):
    """``IF(REGEXP_CONTAINS(d_rm_theme2,'_/|/|_'), SPLIT(...), NULL)``
    (``:56-59``) — the regex is an ALTERNATION (matches '_/', '/' or
    '_'), so values like '00:00:01' become NULL arrays; replicated
    verbatim."""
    return F.when(col.rlike("_/|/|_"), split_literal(col, D))


@model(
    "atinternet_smarttag_streams_daily_v4",
    refs=[
        "media_events",
        "advantedge_tv_viewer_density_per_show_daily_v1",
        "live_stream_name_mapping_v1",
        "audiovisual_metadata_poms_metadata_v1",
    ],
    schema="atinternet_smarttag_streams_daily",
    materialized="incremental",
    partition_by="evt_date",
)
def atinternet_smarttag_streams_daily_v4(ctx):
    events = ctx.ref("media_events")
    adv = ctx.ref("advantedge_tv_viewer_density_per_show_daily_v1")
    mapping = ctx.ref("live_stream_name_mapping_v1")
    md = ctx.ref("audiovisual_metadata_poms_metadata_v1")
    window = [d.isoformat() for d in ctx.partition_window]

    # -- 1. adv_events: minute spine per broadcast (:26-41) ------------
    # GROUP BY 1..7 (:40) is pure dedup over the exploded minutes;
    # dedup BEFORE the explode instead — minutes within one schedule
    # row are strictly increasing, so (6-col distinct) ⊕ explode is
    # row-for-row identical to explode ⊕ (7-col distinct) while the
    # shuffle covers schedule rows, not broadcast-minutes (~1440×
    # smaller at any scale).
    adv_events = (
        adv.filter(F.col("channel").rlike("NPO"))
        .select(
            F.col("date").alias("adv_date"),
            F.col("beginTimeCET").alias("adv_beginTimeCET"),
            F.col("endTimeCET").alias("adv_endTimeCET"),
            F.col("title").alias("adv_title"),
            F.col("channel").alias("adv_channel"),
            F.col("mediaId").alias("adv_mid"),
        )
        .distinct()
        .select(
            "adv_date",
            "adv_beginTimeCET",
            "adv_endTimeCET",
            F.explode(
                F.sequence(
                    "adv_beginTimeCET",
                    "adv_endTimeCET",
                    F.expr("interval 1 minute"),
                )
            ).alias("adv_minute"),
            "adv_title",
            "adv_channel",
            "adv_mid",
        )
    )

    # -- 2. raw_events (:44-102) ---------------------------------------
    # The IN-list over to_date(ts) alone reaches the parquet scan with
    # NO PushedFilters (a derived-column predicate); the added range
    # conjunct on the raw timestamp is IMPLIED by the IN-list (bounds
    # are its min/max, any window shape) so results are identical, and
    # Catalyst pushes it as GreaterThanOrEqual/LessThan on ts — the
    # fact scan prunes to the replay window instead of full-scanning.
    lo, hi = min(ctx.partition_window), max(ctx.partition_window)
    in_window = (
        (F.to_date("d_date_hour_event") >= F.lit(lo))
        & (F.to_date("d_date_hour_event") < F.lit(hi + dt.timedelta(days=1)))
        & F.to_date("d_date_hour_event").isin(window)
    )
    base = events.filter(F.col("d_rm_type") != "Animations").filter(in_window)

    live = (
        base.filter(F.col("d_rm_theme1") == "livetvzender")
        .join(
            F.broadcast(mapping),
            F.col("channel_id")
            == nullif_(safe_offset(split_literal("d_rm_content", D), 1), ""),
            "inner",
        )
        .join(
            # Broadcast: the minute spine is schedule data, bounded by
            # #channels × 1440 min/day × replay_days (≈100k rows) at ANY
            # corpus scale — never shuffle the event side for it.
            F.broadcast(adv_events),
            (F.col("channel") == F.col("adv_channel"))
            & (
                ntz_trunc_minute("d_date_hour_event")
                == F.col("adv_minute")
            ),
            "left",
        )
    )
    live = live.select(
        "d_rm_playid",
        F.concat("d_visit_id", "d_uv_id").alias("unique_user_id"),
        "d_date_hour_event",
        "d_rm_action",
        "d_rm_l2",
        "d_rm_playback_time",
        split_literal("d_rm_content", D).alias("content"),
        F.col("adv_mid").alias("matched_livestream_id"),
        split_literal("d_rm_theme1", D).alias("theme1"),
        _clean_theme2(F.col("d_rm_theme2")).alias("theme2"),
        split_literal("d_rm_theme3", D).alias("theme3"),
        F.when(
            F.col("adv_mid").isNotNull(),
            "livetvzender - streamID_matched",
        )
        .otherwise("livetvzender - no_streamID_to_match")
        .alias("stream_match_type"),
        F.row_number()
        .over(
            Window.partitionBy(
                "d_rm_playid",
                F.concat("d_visit_id", "d_uv_id"),
                "d_date_hour_event",
                "d_rm_action",
                "d_rm_playback_time",
            ).orderBy(
                timestamp_diff_seconds(
                    F.col("d_date_hour_event"), F.col("adv_beginTimeCET")
                ).asc()
            )
        )
        .alias("dedup"),
    )

    regular = (
        base.filter(
            F.col("d_rm_theme1").isNull()
            | (F.col("d_rm_theme1") != "livetvzender")
        )
        .select(
            "d_rm_playid",
            F.concat("d_visit_id", "d_uv_id").alias("unique_user_id"),
            "d_date_hour_event",
            "d_rm_action",
            "d_rm_l2",
            "d_rm_playback_time",
            split_literal("d_rm_content", D).alias("content"),
            F.lit(None).cast("string").alias("matched_livestream_id"),
            split_literal("d_rm_theme1", D).alias("theme1"),
            _clean_theme2(F.col("d_rm_theme2")).alias("theme2"),
            split_literal("d_rm_theme3", D).alias("theme3"),
            F.lit("regular streamid").alias("stream_match_type"),
            F.lit(1).alias("dedup"),
        )
    )
    raw_events = live.unionAll(regular)

    # -- 3. agg_events_per_stream (:105-137) ---------------------------
    per_stream = (
        raw_events.filter(F.col("dedup") == 1)
        .groupBy(
            "d_rm_playid",
            "unique_user_id",
            F.to_date("d_date_hour_event").alias("evt_date"),
            nullif_(safe_offset("content", 1), "").alias("evt_base_mid"),
            "stream_match_type",
            F.coalesce(
                "matched_livestream_id",
                nullif_(safe_offset("content", 1), ""),
            ).alias("evt_mid"),
            nullif_(safe_offset("content", 0), "").alias("evt_media_name"),
            nullif_(nullif_(safe_offset("theme1", 0), ""), "null").alias(
                "evt_stream_type"
            ),
            nullif_(safe_offset("theme2", 0), "null").alias("evt_programme"),
            nullif_(safe_offset("theme2", 1), "null").alias(
                "evt_broadcaster"
            ),
            safe_offset("theme2", 2).alias("evt_programme_podcast"),
            safe_offset("theme3", 0).alias("evt_player_platform"),
            safe_offset("theme3", 1).alias("evt_player_version"),
            F.col("d_rm_l2").alias("evt_brand"),
        )
        .agg(
            F.sum("d_rm_playback_time").alias("evt_playback_time_total_in_sec"),
            # Reference: COUNT(DISTINCT IF(cond, d_rm_playid, NULL))
            # (:131-135) — but d_rm_playid is a GROUP BY key here, so
            # the distinct count is exactly 1 if any row in the group
            # satisfies cond (and playid is non-null) else 0.  MAX-IF
            # gives the identical value without the distinct-aggregate
            # expand/extra shuffle Spark plans for COUNT(DISTINCT).
            F.coalesce(
                F.max(
                    F.when(
                        (
                            (F.col("d_rm_action") == "Play")
                            | (
                                F.col("stream_match_type")
                                == "livetvzender - streamID_matched"
                            )
                        )
                        & F.col("d_rm_playid").isNotNull(),
                        F.lit(1),
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("evt_play_count_total"),
        )
    )

    # -- 4. agg_events_per_date (:140-161) -----------------------------
    per_date = per_stream.groupBy(
        "evt_date",
        "evt_mid",
        "evt_base_mid",
        "evt_media_name",
        "stream_match_type",
        "evt_stream_type",
        "evt_programme",
        "evt_broadcaster",
        "evt_programme_podcast",
        "evt_player_platform",
        "evt_player_version",
        "evt_brand",
    ).agg(
        F.countDistinct("unique_user_id").alias("n_unique_userids"),
        F.sum("evt_playback_time_total_in_sec").alias(
            "evt_playback_time_total_in_sec"
        ),
        F.sum("evt_play_count_total").alias("evt_play_count_total"),
        F.sum(
            F.when(
                F.col("evt_playback_time_total_in_sec") >= 30,
                F.col("evt_play_count_total"),
            ).otherwise(0)
        ).alias("evt_play_count_over_30s"),
    )

    # -- 5. metadata (:164-237) ----------------------------------------
    # The reference computes five per-``id`` sub-aggregations by
    # UNNEST + GROUP BY/QUALIFY and LEFT-joins them back (:164-237).
    # Every one of them is a function of a single row's arrays, so we
    # compute them as array higher-order expressions in ONE projection:
    # no explode, no shuffle, no join — per-row work that scales
    # linearly on a metadata table of any size.  (HOFs are interpreted
    # per element, which is fine here: poms arrays hold a handful of
    # entries — dense numeric kernels are the case that needs pandas
    # UDFs, not this.)

    def _first_ref(typ: str):
        # row_number() OVER (PARTITION BY id, type ORDER BY mid_ref)
        # = 1 (:173-186): ascending NULLS FIRST, so any NULL mid_ref
        # wins the rank; otherwise the minimum mid_ref does.
        mids = F.transform(
            F.filter(
                F.col("descendant_of"), lambda d: d["type"] == F.lit(typ)
            ),
            lambda d: d["mid_ref"],
        )
        return F.when(
            F.exists(mids, lambda m: m.isNull()), F.lit(None).cast("string")
        ).otherwise(F.array_min(mids))

    # MAX(IF(type='SEASON', index, NULL)) per id (:195-203); MAX and
    # array_max both ignore NULLs; empty/no-SEASON → NULL either way.
    episode_idx = F.array_max(
        F.transform(
            F.filter(
                F.col("episode_of"), lambda e: e["type"] == F.lit("SEASON")
            ),
            lambda e: e["index"],
        )
    )
    # STRING_AGG(value, ',' ORDER BY value) per id (:205-214): the
    # grouped form only emits a row when the array explodes to ≥1
    # element, so guard on size; array_join skips NULL elements just
    # as STRING_AGG ignores NULLs.
    bcast_vals = F.transform(F.col("broadcasters"), lambda b: b["value"])
    broadcasters_agg = F.when(
        F.size("broadcasters") > 0,
        F.array_join(F.array_sort(bcast_vals), ","),
    )
    # DISTINCT NED-channel + rank 1 (:226-237) = alphabetical minimum
    # of the NED1/NED2/NED3 channels present (isin() drops NULLs).
    ned = F.array_distinct(
        F.filter(
            F.transform(F.col("schedule_events"), lambda s: s["channel"]),
            lambda c: c.isin("NED1", "NED2", "NED3"),
        )
    )

    metadata = md.select(
        "id",
        F.expr("duration div 1000").alias("mtd_duration_in_sec"),
        F.col("sort_date").alias("mtd_sort_date"),
        F.col("type").alias("mtd_type"),
        safe_offset(safe_offset("genres", 0).getField("terms"), 0).alias(
            "mtd_genre_main"
        ),
        safe_offset(safe_offset("genres", 0).getField("terms"), 1).alias(
            "mtd_genre_sub"
        ),
        safe_offset("titles", 0).getField("value").alias("mtd_title_main"),
        safe_offset("titles", 1).getField("value").alias("mtd_title_sub"),
        _first_ref("SEASON").alias("mtd_season_mid"),
        _first_ref("SERIES").alias("mtd_series_mid"),
        episode_idx.alias("mtd_episode_of_index"),
        broadcasters_agg.alias("mtd_broadcasters"),
        F.array_min(ned).alias("mtd_channel"),
    )

    # -- 6. final join (:239-244) --------------------------------------
    out_cols = [
        "evt_date",
        "evt_mid",
        "evt_base_mid",
        "evt_media_name",
        "stream_match_type",
        "evt_stream_type",
        "evt_programme",
        "evt_broadcaster",
        "evt_programme_podcast",
        "evt_player_platform",
        "evt_player_version",
        "evt_brand",
        "n_unique_userids",
        "evt_playback_time_total_in_sec",
        "evt_play_count_total",
        "evt_play_count_over_30s",
        "mtd_duration_in_sec",
        "mtd_sort_date",
        "mtd_type",
        "mtd_genre_main",
        "mtd_genre_sub",
        "mtd_title_main",
        "mtd_title_sub",
        "mtd_season_mid",
        "mtd_series_mid",
        "mtd_episode_of_index",
        "mtd_channel",
        "mtd_broadcasters",
    ]
    return (
        per_date.join(
            metadata, per_date["evt_mid"] == metadata["id"], "left"
        ).select(*out_cols)
    )
