"""SURVEY.md §2 relational operator inventory over the test corpus.

Every operator the reference exercises (reference file:line cited per
query) re-expressed Spark-first over the TPC-H-ish tables, each with a
DuckDB oracle.  Conventions that keep the Spark↔DuckDB hash compare
stable:

- every computed column is aliased identically on both sides;
- double aggregates are ``round(x, 2)`` on both sides (FP summation
  order differs between engines);
- DuckDB integer aggregates are cast to BIGINT (DuckDB SUM(BIGINT)
  returns HUGEINT, Spark returns LONG);
- ISO week/year results are cast to BIGINT on the Spark side;
- window ranks always carry a deterministic tie-break key.
"""

from __future__ import annotations

from uuid import uuid4

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import functions as E
from ..io import load_table
from . import query


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# §2.1 Scans, sources, sinks
# ---------------------------------------------------------------------------


@query(
    "scan_declared_source",
    oracle="SELECT r_regionkey, r_name FROM region",
)
def scan_declared_source(spark, sf_dir):
    """dbt source() scan → registry-mediated parquet read.

    Reference: models/source/ingest_incremental/sources.yml:3-8,
    quintly_youtube_allchannels_weekly.sql:3.
    """
    return _t(spark, sf_dir, "region").select("r_regionkey", "r_name")


@query(
    "scan_direct_table",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def scan_direct_table(spark, sf_dir):
    """Direct table scan passthrough view.

    Reference: models/source/ingest_latest/media_events.sql:1.
    """
    return _t(spark, sf_dir, "nation")


@query(
    "scan_latest_partition",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
    FROM orders
    WHERE o_orderdate = (SELECT max(o_orderdate) FROM orders)
    """,
)
def scan_latest_partition(spark, sf_dir):
    """Keep only the newest partition snapshot, drop the partition col.

    Reference: quintly_youtube_allchannels_weekly.sql:7-13
    (WHERE partitionDate = (SELECT MAX(partitionDate) ...) + * EXCEPT).
    The max is computed once and broadcast — no shuffle of the fact side.
    """
    orders = _t(spark, sf_dir, "orders")
    latest = orders.agg(F.max("o_orderdate").alias("_latest"))
    return (
        orders.join(F.broadcast(latest), F.col("o_orderdate") == F.col("_latest"))
        .drop("_latest", "o_orderdate")
    )


@query(
    "sink_view",
    oracle="""
    SELECT o_orderstatus, count(*) AS n_orders
    FROM orders WHERE o_totalprice > 1000
    GROUP BY o_orderstatus
    """,
)
def sink_view(spark, sf_dir):
    """View materialization: register a model as a view, query through it.

    Reference: dbt default view materialization (dbt_project.yml:4-11).
    """
    orders = _t(spark, sf_dir, "orders")
    # Unique per-invocation view name: concurrent/repeated builds on a
    # shared SparkSession must not collide or read stale definitions.
    view = f"sink_view_big_orders_{uuid4().hex[:8]}"
    orders.filter(F.col("o_totalprice") > 1000).createOrReplaceTempView(view)
    return spark.sql(
        "SELECT o_orderstatus, count(*) AS n_orders "
        f"FROM {view} GROUP BY o_orderstatus"
    )


# ---------------------------------------------------------------------------
# §2.2 Projections, filters, predicates
# ---------------------------------------------------------------------------


@query(
    "project_star",
    oracle="SELECT * FROM part",
)
def project_star(spark, sf_dir):
    """SELECT * passthrough (reference: all ingest_latest/*.sql:1)."""
    return _t(spark, sf_dir, "part").select("*")


@query(
    "project_star_except",
    oracle="SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority FROM orders",
)
def project_star_except(spark, sf_dir):
    """SELECT * EXCEPT(cols) → df.drop.

    Reference: quintly_youtube_allchannels_weekly.sql:8,
    dashboard_channel_weekly.sql:263.
    """
    return _t(spark, sf_dir, "orders").drop("o_orderstatus", "o_orderdate")


@query(
    "project_compute",
    oracle="""
    SELECT
      l_orderkey,
      l_linenumber,
      concat(CAST(l_orderkey AS VARCHAR), '-', CAST(l_linenumber AS VARCHAR)) AS line_id,
      round(l_extendedprice * (1 - l_discount), 2) AS revenue,
      round(l_extendedprice * (1 - l_discount) * (1 + l_tax), 2) AS charged
    FROM lineitem
    """,
)
def project_compute(spark, sf_dir):
    """Computed/aliased select-list columns (arithmetic, concat).

    Reference: concat(d_visit_id, d_uv_id) streams_daily_v4.sql:48;
    (averageViewPercentage/100)*views integral_reporting_youtube.sql:16.
    """
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.concat(
            F.col("l_orderkey").cast("string"),
            F.lit("-"),
            F.col("l_linenumber").cast("string"),
        ).alias("line_id"),
        E.round_to(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias(
            "revenue"
        ),
        E.round_to(
            F.col("l_extendedprice")
            * (1 - F.col("l_discount"))
            * (1 + F.col("l_tax")),
            2,
        ).alias("charged"),
    )


@query(
    "filter_neq",
    oracle="SELECT l_orderkey, l_linenumber, l_returnflag FROM lineitem WHERE l_returnflag <> 'N'",
)
def filter_neq(spark, sf_dir):
    """<> filter, NULL rows dropped (reference streams_daily_v4.sql:72,98)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") != "N")
        .select("l_orderkey", "l_linenumber", "l_returnflag")
    )


@query(
    "filter_regexp",
    oracle="""
    SELECT p_partkey, p_name, p_type FROM part
    WHERE regexp_matches(p_type, 'ECONOMY|PROMO') AND NOT regexp_matches(p_name, '^red')
    """,
)
def filter_regexp(spark, sf_dir):
    """REGEXP_CONTAINS predicate (reference streams_daily_v4.sql:39,59)."""
    p = _t(spark, sf_dir, "part")
    return p.filter(
        F.col("p_type").rlike("ECONOMY|PROMO") & ~F.col("p_name").rlike("^red")
    ).select("p_partkey", "p_name", "p_type")


@query(
    "filter_in_list",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment FROM customer
    WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
      AND c_nationkey NOT IN (1, 2, 3)
    """,
)
def filter_in_list(spark, sf_dir):
    """IN / NOT IN list predicates (reference streams_daily_v4.sql:174,234)."""
    c = _t(spark, sf_dir, "customer")
    return c.filter(
        F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE")
        & ~F.col("c_nationkey").isin(1, 2, 3)
    ).select("c_custkey", "c_name", "c_mktsegment")


@query(
    "filter_partition_window",
    oracle="""
    SELECT CAST(ts AS DATE) AS evt_date, event_type,
           count(*) AS n_events,
           round(sum(TRY_CAST(floor(value * 100) AS BIGINT)) / 100.0, 2)
             AS sum_value
    FROM events
    WHERE CAST(ts AS DATE) >= (
        SELECT CAST(max(ts) AS DATE) - 8 FROM events)
    GROUP BY 1, 2
    """,
)
def filter_partition_window(spark, sf_dir):
    """The incremental 9-day reprocess-window predicate.

    Reference: partitions_to_replace streams_daily_v4.sql:1-12,75,101 —
    current_date-relative; here anchored to max(ts) for determinism.

    Two-phase, mirroring dbt's compile-time expansion: the anchor date
    is computed first (tiny agg action over just the ts column), then
    injected as a LITERAL predicate so Parquet partition/row-group
    pruning fires on the events scan. The previous one-phase form
    (non-equi join against a 1-row broadcast) planned as a
    BroadcastNestedLoopJoin that full-scans the fact table at 100 TB.
    """
    ev = _t(spark, sf_dir, "events")
    window_start = ev.agg(
        F.date_sub(F.to_date(F.max("ts")), 8).alias("_from")
    ).first()[0]
    return (
        ev.filter(F.to_date("ts") >= F.lit(window_start))
        .groupBy(F.to_date("ts").alias("evt_date"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            # exact cents sum, one division at the end: double summation
            # order differs per engine/partitioning (money-sum rule)
            E.round_to(
                F.sum(E.cents("value")) / 100.0, 2
            ).alias("sum_value"),
        )
    )


@query(
    "filter_like",
    oracle="""
    SELECT c_custkey, c_mktsegment FROM customer
    WHERE c_mktsegment LIKE 'BUILDING' OR c_mktsegment LIKE 'MACH%'
    """,
)
def filter_like(spark, sf_dir):
    """LIKE predicate — incl. the reference's no-wildcard equality LIKE.

    Reference: integral_reporting_sites_and_apps.sql:33-38.
    """
    c = _t(spark, sf_dir, "customer")
    return c.filter(
        F.col("c_mktsegment").like("BUILDING") | F.col("c_mktsegment").like("MACH%")
    ).select("c_custkey", "c_mktsegment")


@query(
    "filter_compound",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    WHERE o_orderstatus = 'F' AND o_orderpriority = '1-URGENT'
      AND extract(isoyear FROM o_orderdate) >= 1997
      AND o_totalprice > 500
    """,
)
def filter_compound(spark, sf_dir):
    """Multi-clause AND filter incl. EXTRACT(ISOYEAR) >= bound.

    Reference: integral_reporting_tvbroadcasts.sql:15.
    """
    o = _t(spark, sf_dir, "orders")
    return o.filter(
        (F.col("o_orderstatus") == "F")
        & (F.col("o_orderpriority") == "1-URGENT")
        & (E.iso_year("o_orderdate") >= 1997)
        & (F.col("o_totalprice") > 500)
    ).select("o_orderkey", "o_orderstatus", "o_totalprice")


@query(
    "filter_null_guard",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           nullif(l_returnflag, 'N') AS flag_or_null
    FROM lineitem
    WHERE nullif(l_returnflag, 'N') IS NOT NULL
       OR (l_quantity IS NULL)
    """,
)
def filter_null_guard(spark, sf_dir):
    """IS (NOT) NULL guards around NULLIF-scrubbed values.

    Reference: integral_reporting_facebook.sql:23,
    streams_daily_v4.sql:100.
    """
    li = _t(spark, sf_dir, "lineitem")
    flag = E.nullif_("l_returnflag", "N")
    return li.select(
        "l_orderkey", "l_linenumber", flag.alias("flag_or_null")
    ).filter(flag.isNotNull() | F.col("l_quantity").isNull())


@query(
    "filter_on_window_result",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate FROM (
      SELECT o_custkey, o_orderkey, o_orderdate,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders) WHERE rn = 1
    """,
)
def filter_on_window_result(spark, sf_dir):
    """Compute a window rank in a subquery, filter it outside.

    Reference: WHERE dedup = 1, streams_daily_v4.sql:135;
    poms_flattened.sql:93-94.
    """
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_orderdate")
    )


# ---------------------------------------------------------------------------
# §2.3 Joins
# ---------------------------------------------------------------------------


@query(
    "join_inner_equi",
    oracle="""
    SELECT p.p_brand, count(*) AS n_lines,
           round(sum(l.l_quantity), 2) AS sum_qty
    FROM lineitem l
    JOIN part p ON p.p_partkey = nullif(l.l_partkey, 0)
    GROUP BY p.p_brand
    """,
)
def join_inner_equi(spark, sf_dir):
    """Inner equi join on a NULLIF-normalized key, small side broadcast.

    Reference: events ⋈ live_stream_name_mapping,
    streams_daily_v4.sql:69 (ON channel_id = NULLIF(split(...)[1], '')).
    """
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), p["p_partkey"] == E.nullif_(li["l_partkey"], 0))
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_lines"),
            E.round_to(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


@query(
    "join_left_equi",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def join_left_equi(spark, sf_dir):
    """Left outer equi join (reference streams_daily_v4.sql:244)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"], "left").select(
        "o_orderkey", "o_totalprice", "c_name", "c_mktsegment"
    )


@query(
    "join_left_expr_key",
    oracle="""
    WITH weekly_rev AS (
      SELECT extract(isoyear FROM l_shipdate) AS iso_y,
             weekofyear(l_shipdate) AS iso_w,
             round(sum(TRY_CAST(floor(l_extendedprice * 100) AS BIGINT)
                       * (100 - CAST(floor(l_discount * 100 + 0.5)
                                     AS BIGINT))) / 10000.0, 2) AS revenue
      FROM lineitem GROUP BY 1, 2),
    weekly_orders AS (
      SELECT extract(isoyear FROM o_orderdate) AS iso_y,
             weekofyear(o_orderdate) AS iso_w,
             count(*) AS n_orders
      FROM orders GROUP BY 1, 2)
    SELECT w.iso_y, w.iso_w, w.n_orders, r.revenue
    FROM weekly_orders w
    LEFT JOIN weekly_rev r ON r.iso_y = w.iso_y AND r.iso_w = w.iso_w
    """,
)
def join_left_expr_key(spark, sf_dir):
    """Left join on ISO-year/ISO-week expression keys.

    Reference: integral_reporting_youtube.sql:22-25 (EXTRACT(ISOYEAR/
    ISOWEEK) on both sides).  Week keys are pre-computed into columns
    so the join stays a hash-partitionable equi join, not a theta join.
    """
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    rev_u = E.cents("l_extendedprice") * (
        100 - F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("long")
    )
    weekly_rev = li.groupBy(
        E.iso_year("l_shipdate").cast("bigint").alias("iso_y"),
        E.iso_week("l_shipdate").cast("bigint").alias("iso_w"),
    ).agg(
        # exact 1e-4-unit integer sum (money-sum rule; see agg_two_stage)
        E.round_to(F.sum(rev_u) / 10000.0, 2).alias("revenue")
    )
    weekly_orders = o.groupBy(
        E.iso_year("o_orderdate").cast("bigint").alias("iso_y"),
        E.iso_week("o_orderdate").cast("bigint").alias("iso_w"),
    ).agg(F.count("*").alias("n_orders"))
    return weekly_orders.join(weekly_rev, ["iso_y", "iso_w"], "left").select(
        "iso_y", "iso_w", "n_orders", "revenue"
    )


@query(
    "join_full_outer",
    oracle="""
    WITH cust AS (
      SELECT c_nationkey AS nationkey, count(*) AS n_cust,
             round(sum(c_acctbal), 2) AS cust_bal
      FROM customer GROUP BY 1),
    supp AS (
      SELECT s_nationkey AS nationkey, count(*) AS n_supp,
             round(sum(s_acctbal), 2) AS supp_bal
      FROM supplier GROUP BY 1)
    SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
           CAST(sum(coalesce(c.n_cust, 0)) AS BIGINT) AS n_cust,
           CAST(sum(coalesce(s.n_supp, 0)) AS BIGINT) AS n_supp
    FROM cust c FULL OUTER JOIN supp s ON c.nationkey = s.nationkey
    GROUP BY 1
    HAVING sum(coalesce(c.n_cust, 0)) >= 2 OR sum(coalesce(s.n_supp, 0)) >= 1
    """,
)
def join_full_outer(spark, sf_dir):
    """Full outer join + aggregate + HAVING threshold.

    Reference: dashboard_channel_weekly.sql:26-33 (VOD ∪ TV series
    inclusion: full outer join, GROUP BY, HAVING sum(...) >= 1000 OR ...).
    """
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    cust = c.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.count("*").alias("n_cust")
    )
    supp = s.groupBy(F.col("s_nationkey").alias("nationkey")).agg(
        F.count("*").alias("n_supp")
    )
    joined = cust.alias("c").join(
        supp.alias("s"), F.col("c.nationkey") == F.col("s.nationkey"), "full"
    )
    return (
        joined.groupBy(
            F.coalesce(F.col("c.nationkey"), F.col("s.nationkey")).alias("nationkey")
        )
        .agg(
            F.sum(F.coalesce(F.col("c.n_cust"), F.lit(0))).alias("n_cust"),
            F.sum(F.coalesce(F.col("s.n_supp"), F.lit(0))).alias("n_supp"),
        )
        .filter((F.col("n_cust") >= 2) | (F.col("n_supp") >= 1))
    )


@query(
    "join_cross_unnest",
    oracle="""
    SELECT tok, count(*) AS n
    FROM (SELECT unnest(string_split(p_name, ' ')) AS tok FROM part)
    GROUP BY tok
    """,
)
def join_cross_unnest(spark, sf_dir):
    """CROSS JOIN UNNEST — lateral explode, inner semantics.

    Reference: minute spine / descendants, streams_daily_v4.sql:36-37,173.
    """
    p = _t(spark, sf_dir, "part")
    return (
        p.select(F.explode(E.split_literal("p_name", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
    )


@query(
    "join_left_unnest",
    oracle="""
    SELECT p_partkey, tok
    FROM (
      SELECT p_partkey,
             unnest(CASE WHEN p_size > 40 THEN [NULL]
                         ELSE string_split(p_name, ' ') END) AS tok
      FROM part)
    """,
)
def join_left_unnest(spark, sf_dir):
    """LEFT JOIN UNNEST — outer lateral explode keeping empty-array rows.

    Reference: poms_flattened.sql:23-27 (LEFT JOIN UNNEST(episode_of)).
    Rows with p_size > 40 play the 'empty array' role and must survive
    with a NULL token (explode_outer).
    """
    p = _t(spark, sf_dir, "part")
    arr = F.when(F.col("p_size") > 40, F.array().cast("array<string>")).otherwise(
        E.split_literal("p_name", " ")
    )
    return p.select("p_partkey", F.explode_outer(arr).alias("tok"))


@query(
    "join_unnest_with_offset",
    oracle="""
    SELECT p_partkey,
           unnest(string_split(p_name, ' ')) AS tok,
           CAST(generate_subscripts(string_split(p_name, ' '), 1) - 1 AS INT) AS pos
    FROM part
    """,
)
def join_unnest_with_offset(spark, sf_dir):
    """UNNEST ... WITH OFFSET — ordinal-preserving explode.

    Reference: poms_flattened.sql:28 (broadcasters WITH OFFSET, consumed
    at :66 to rank the first broadcaster).
    """
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.posexplode(E.split_literal("p_name", " ")).alias("pos", "tok"),
    ).select("p_partkey", "tok", F.col("pos").cast("int").alias("pos"))


@query(
    "join_date_spine",
    oracle="""
    WITH spine AS (
      SELECT CAST(unnest(generate_series(DATE '1995-01-02', DATE '2001-08-06',
                                         INTERVAL 7 DAY)) AS DATE) AS weekdate),
    fact AS (
      SELECT extract(isoyear FROM o_orderdate) AS iso_y,
             weekofyear(o_orderdate) AS iso_w,
             count(*) AS n_orders,
             round(sum(TRY_CAST(floor(o_totalprice * 100) AS BIGINT)) / 100.0, 2)
               AS total
      FROM orders GROUP BY 1, 2)
    SELECT s.weekdate,
           coalesce(f.n_orders, 0) AS n_orders,
           coalesce(f.total, 0.0) AS total
    FROM spine s
    LEFT JOIN fact f ON f.iso_y = extract(isoyear FROM s.weekdate)
                    AND f.iso_w = weekofyear(s.weekdate)
    """,
)
def join_date_spine(spark, sf_dir):
    """Generated weekly date spine densification join.

    Reference: UNNEST(GENERATE_DATE_ARRAY('2018-12-31', CURRENT_DATE(),
    INTERVAL 1 WEEK)) LEFT JOIN facts — dashboard_channel_weekly.sql:10,
    tvbroadcasts.sql:52-54.  The spine is tiny (hundreds of rows) and
    broadcast; facts are pre-aggregated to week grain before the join.
    """
    o = _t(spark, sf_dir, "orders")
    spine = spark.range(1).select(
        F.explode(E.date_spine("1995-01-02", "2001-08-06", 7)).alias("weekdate")
    )
    fact = o.groupBy(
        E.iso_year("o_orderdate").cast("bigint").alias("iso_y"),
        E.iso_week("o_orderdate").cast("bigint").alias("iso_w"),
    ).agg(
        F.count("*").alias("n_orders"),
        E.round_to(
            F.sum(E.cents("o_totalprice")) / 100.0,
            2,
        ).alias("total"),
    )
    spine_k = spine.select(
        "weekdate",
        E.iso_year("weekdate").cast("bigint").alias("iso_y"),
        E.iso_week("weekdate").cast("bigint").alias("iso_w"),
    )
    return (
        F.broadcast(spine_k)
        .join(fact, ["iso_y", "iso_w"], "left")
        .select(
            "weekdate",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("total", F.lit(0.0)).alias("total"),
        )
    )


@query(
    "join_asof_nearest",
    oracle="""
    WITH views AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
    purchases AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
    matched AS (
      SELECT v.event_id AS view_id, p.event_id AS purchase_id,
             abs(date_diff('second', date_trunc('second', p.ts),
                           date_trunc('second', v.ts))) AS diff_s,
             row_number() OVER (
               PARTITION BY v.event_id
               ORDER BY abs(date_diff('second', date_trunc('second', p.ts),
                            date_trunc('second', v.ts))) ASC,
                        p.event_id ASC) AS dedup
      FROM views v
      LEFT JOIN purchases p
        ON v.user_id = p.user_id
       AND date_trunc('hour', v.ts) = date_trunc('hour', p.ts))
    SELECT view_id, purchase_id, diff_s FROM matched WHERE dedup = 1
    """,
)
def join_asof_nearest(spark, sf_dir):
    """As-of / nearest-event join: discretized equi join + rank filter.

    Reference: the live-TV minute match, streams_daily_v4.sql:62-70,135 —
    equi join on (channel, minute-truncated ts), then row_number ordered
    by time distance, keep dedup = 1.  Same plan here on (user, hour):
    a hash join plus one window — no custom operator, scales as a
    standard shuffle on the join key.
    """
    ev = _t(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id"),
        F.col("ts").alias("v_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("p_ts"),
    )
    joined = views.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (E.ntz_trunc_hour("v_ts") == E.ntz_trunc_hour("p_ts")),
        "left",
    )
    diff_s = F.abs(
        E.timestamp_diff_seconds(
            E.ntz_trunc_second("v_ts"), E.ntz_trunc_second("p_ts")
        )
    )
    w = Window.partitionBy("view_id").orderBy(
        diff_s.asc_nulls_last(), F.col("purchase_id").asc_nulls_last()
    )
    return (
        joined.withColumn("diff_s", diff_s)
        .withColumn("dedup", F.row_number().over(w))
        .filter(F.col("dedup") == 1)
        .select("view_id", "purchase_id", "diff_s")
    )


@query(
    "join_indexed_first_match",
    oracle="""
    WITH ranked AS (
      SELECT s_nationkey, s_name, s_acctbal,
             row_number() OVER (PARTITION BY s_nationkey
                                ORDER BY s_acctbal DESC, s_suppkey ASC) AS idx
      FROM supplier)
    SELECT n.n_nationkey, n.n_name, r.s_name AS top_supplier,
           round(r.s_acctbal, 2) AS top_acctbal
    FROM nation n
    LEFT JOIN ranked r ON r.s_nationkey = n.n_nationkey AND r.idx = 1
    """,
)
def join_indexed_first_match(spark, sf_dir):
    """First-element semi-join via a pre-ranked CTE (rank=1 join key).

    Reference: season/series lookup ON season.index = 1,
    streams_daily_v4.sql:165-176,195-199.
    """
    n = _t(spark, sf_dir, "nation")
    s = _t(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy(
        F.col("s_acctbal").desc(), F.col("s_suppkey").asc()
    )
    ranked = s.withColumn("idx", F.row_number().over(w))
    return n.join(
        ranked,
        (ranked["s_nationkey"] == n["n_nationkey"]) & (ranked["idx"] == 1),
        "left",
    ).select(
        "n_nationkey",
        "n_name",
        F.col("s_name").alias("top_supplier"),
        E.round_to("s_acctbal", 2).alias("top_acctbal"),
    )


@query(
    "join_agg_subquery",
    oracle="""
    WITH per_order AS (
      SELECT l_orderkey,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
             array_to_string(list_sort(list(DISTINCT l_returnflag)), ',') AS flags
      FROM lineitem GROUP BY 1)
    SELECT o.o_orderkey, o.o_orderstatus,
           coalesce(p.total_qty, 0) AS total_qty,
           coalesce(p.flags, '') AS flags
    FROM orders o LEFT JOIN per_order p ON p.l_orderkey = o.o_orderkey
    """,
)
def join_agg_subquery(spark, sf_dir):
    """Left join to aggregated subqueries (agg-below-join kept staged).

    Reference: episode-index / STRING_AGG broadcaster subqueries,
    streams_daily_v4.sql:206-223.  Pre-aggregating before the join
    shrinks the shuffled build side — Catalyst won't do this reorder
    itself (SURVEY.md §4.1), so the staging is explicit.
    """
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(F.col("l_quantity").cast("bigint")).alias("total_qty"),
        F.array_join(F.array_sort(F.collect_set("l_returnflag")), ",").alias("flags"),
    )
    return o.join(per_order, per_order["l_orderkey"] == o["o_orderkey"], "left").select(
        "o_orderkey",
        "o_orderstatus",
        F.coalesce("total_qty", F.lit(0)).alias("total_qty"),
        F.coalesce("flags", F.lit("")).alias("flags"),
    )


# ---------------------------------------------------------------------------
# §2.4 Aggregations
# ---------------------------------------------------------------------------


@query(
    "agg_group_by_ordinal",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           count(*) AS n_lines
    FROM lineitem GROUP BY 1, 2
    """,
)
def agg_group_by_ordinal(spark, sf_dir):
    """GROUP BY ordinal position, via the SQL entry point.

    Reference: GROUP BY 1..14, streams_daily_v4.sql:40,136,160.
    """
    view = f"q_lineitem_{uuid4().hex[:8]}"
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView(view)
    return spark.sql(
        "SELECT l_returnflag, l_linestatus, "
        "sum(CAST(l_quantity AS BIGINT)) AS sum_qty, count(*) AS n_lines "
        f"FROM {view} GROUP BY 1, 2"
    )


@query(
    "agg_group_by_expr",
    oracle="""
    SELECT coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS segment,
           count(*) AS n_cust,
           round(sum(TRY_CAST(floor(c_acctbal * 100) AS BIGINT)) / 100.0, 2)
             AS total_bal
    FROM customer GROUP BY 1
    """,
)
def agg_group_by_expr(spark, sf_dir):
    """GROUP BY on COALESCE/NULLIF expression keys.

    Reference: dashboard_channel_weekly.sql:250-257.
    """
    c = _t(spark, sf_dir, "customer")
    seg = F.coalesce(E.nullif_("c_mktsegment", "BUILDING"), F.lit("OTHER"))
    return c.groupBy(seg.alias("segment")).agg(
        F.count("*").alias("n_cust"),
        # c_acctbal can be negative; floor(x*100) is still the rule —
        # what matters is that both engines floor the SAME double, so
        # the quantization (and therefore the sum) is identical.
        E.round_to(
            F.sum(E.cents("c_acctbal")) / 100.0, 2
        ).alias("total_bal"),
    )


@query(
    "agg_basic",
    oracle="""
    SELECT l_returnflag,
           round(sum(l_quantity), 2) AS sum_qty,
           round(min(l_extendedprice), 2) AS min_price,
           round(max(l_extendedprice), 2) AS max_price,
           round(avg(l_discount), 4) AS avg_disc,
           count(*) AS n_lines
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_basic(spark, sf_dir):
    """SUM/MIN/MAX/AVG/COUNT (reference streams_daily_v4.sql:126,157)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        E.round_to(F.sum("l_quantity"), 2).alias("sum_qty"),
        E.round_to(F.min("l_extendedprice"), 2).alias("min_price"),
        E.round_to(F.max("l_extendedprice"), 2).alias("max_price"),
        E.round_to(F.avg("l_discount"), 4).alias("avg_disc"),
        F.count("*").alias("n_lines"),
    )


@query(
    "agg_count_distinct",
    oracle="""
    SELECT o_orderstatus,
           count(DISTINCT o_custkey) AS n_customers,
           count(*) AS n_orders
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_count_distinct(spark, sf_dir):
    """Exact COUNT(DISTINCT ...) per group.

    Reference: count(distinct unique_user_id), streams_daily_v4.sql:155.
    At 100 TB this expands to a two-phase expand+agg; the engine exposes
    approx_count_distinct as an opt-in (kept exact here for the oracle).
    """
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count("*").alias("n_orders"),
    )


@query(
    "agg_conditional",
    oracle="""
    SELECT l_returnflag,
           round(sum(CASE WHEN l_quantity >= 25 THEN l_extendedprice ELSE 0 END), 2)
             AS big_line_revenue,
           count(DISTINCT CASE WHEN l_discount > 0.05 THEN l_partkey END)
             AS discounted_parts,
           CAST(sum(CASE WHEN l_tax > 0.04 THEN 1 ELSE 0 END) AS BIGINT) AS taxed_lines
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_conditional(spark, sf_dir):
    """Filtered/conditional aggregation: SUM(IF), COUNT(DISTINCT IF).

    Reference: streams_daily_v4.sql:133,158;
    integral_reporting_sites_and_apps.sql:33-38.
    """
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        E.round_to(
            F.sum(F.when(F.col("l_quantity") >= 25, F.col("l_extendedprice")).otherwise(0)),
            2,
        ).alias("big_line_revenue"),
        F.countDistinct(
            F.when(F.col("l_discount") > 0.05, F.col("l_partkey"))
        ).alias("discounted_parts"),
        F.sum(F.when(F.col("l_tax") > 0.04, 1).otherwise(0))
        .cast("bigint")
        .alias("taxed_lines"),
    )


@query(
    "agg_ratio_of_aggs",
    oracle="""
    SELECT o_orderstatus,
           round(sum(o_totalprice) /
                 nullif(count(DISTINCT o_custkey), 0), 2) AS price_per_customer,
           round(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice ELSE 0 END)
                 / nullif(max(o_totalprice), 0), 4) AS urgent_share_of_max
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_ratio_of_aggs(spark, sf_dir):
    """Ratio of two aggregates with NULLIF zero-guard (the KDH idiom).

    Reference: integral_reporting_vodstreaming.sql:84-86,117.
    """
    o = _t(spark, sf_dir, "orders")
    urgent = F.sum(
        F.when(F.col("o_orderpriority") == "1-URGENT", F.col("o_totalprice")).otherwise(0)
    )
    return o.groupBy("o_orderstatus").agg(
        E.round_to(
            E.safe_divide(F.sum("o_totalprice"), F.countDistinct("o_custkey")), 2
        ).alias("price_per_customer"),
        E.round_to(E.safe_divide(urgent, F.max("o_totalprice")), 4).alias(
            "urgent_share_of_max"
        ),
    )


@query(
    "agg_string_agg",
    oracle="""
    SELECT n.n_name,
           array_to_string(list_sort(list(s.s_name)), ',') AS suppliers
    FROM nation n JOIN supplier s ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def agg_string_agg(spark, sf_dir):
    """STRING_AGG(x, ',' ORDER BY x) — ordered string concat agg.

    Reference: STRING_AGG(b.value, ',' ORDER BY b.value),
    streams_daily_v4.sql:219.  collect_list order is nondeterministic
    under shuffle, so the engine sorts the array before joining.
    """
    n = _t(spark, sf_dir, "nation")
    s = _t(spark, sf_dir, "supplier")
    return (
        n.join(s, s["s_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(E.string_agg_ordered("s_name", ",").alias("suppliers"))
    )


@query(
    "agg_two_stage",
    oracle="""
    WITH per_order AS (
      SELECT l_orderkey,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS order_qty,
             CAST(floor((sum(TRY_CAST(floor(l_extendedprice * 100) AS BIGINT)
                             * (100 - CAST(floor(l_discount * 100 + 0.5)
                                           AS BIGINT))) + 50) / 100.0)
                  AS BIGINT) AS order_rev_cents
      FROM lineitem GROUP BY 1),
    with_cust AS (
      SELECT o.o_custkey, p.order_qty, p.order_rev_cents
      FROM per_order p JOIN orders o ON o.o_orderkey = p.l_orderkey)
    SELECT o_custkey,
           count(*) AS n_orders,
           CAST(sum(CASE WHEN order_qty >= 100 THEN 1 ELSE 0 END) AS BIGINT)
             AS big_orders,
           round(sum(order_rev_cents) / 100.0, 2) AS total_rev
    FROM with_cust GROUP BY o_custkey
    """,
)
def agg_two_stage(spark, sf_dir):
    """Stacked aggregation: per-order grain first, then per-customer,
    with the >=100 threshold applied on stage-1 results.

    Reference: the per-stream → per-date two-stage agg with the >=30 s
    qualified-play threshold, streams_daily_v4.sql:105-161.  The stage
    order is semantic — fusing them would change the threshold meaning.

    Revenue runs in EXACT integer space end to end: stage 1 sums
    ``cents × (100 − discount_basis_points)`` (a 10⁻⁴-unit integer —
    both factors are exact), rounds to per-order cents with integer
    arithmetic, and stage 2 sums those cents.  The previous double-sum
    form passed sf0.01 but flipped one customer's last cent at sf0.1 —
    double summation order differs between engines and across cluster
    partitionings, so only the sum with no float accumulation at all
    is stable at every scale (the repo's money-sum rule, applied to
    both stages).
    """
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    rev_u = E.cents("l_extendedprice") * (
        100 - F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("long")
    )
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(F.col("l_quantity").cast("bigint")).alias("order_qty"),
        F.floor((F.sum(rev_u) + 50) / 100.0)
        .cast("long")
        .alias("order_rev_cents"),
    )
    with_cust = per_order.join(
        o.select("o_orderkey", "o_custkey"),
        per_order["l_orderkey"] == F.col("o_orderkey"),
    )
    return with_cust.groupBy("o_custkey").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.when(F.col("order_qty") >= 100, 1).otherwise(0))
        .cast("bigint")
        .alias("big_orders"),
        E.round_to(F.sum("order_rev_cents") / 100.0, 2).alias("total_rev"),
    )


@query(
    "agg_having",
    oracle="""
    SELECT l_partkey,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem
    GROUP BY l_partkey
    HAVING sum(CAST(l_quantity AS BIGINT)) >= 900 OR count(*) >= 40
    """,
)
def agg_having(spark, sf_dir):
    """HAVING over aggregates (reference dashboard_channel_weekly.sql:33)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_partkey")
        .agg(
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
            F.count("*").alias("_n"),
        )
        .filter((F.col("sum_qty") >= 900) | (F.col("_n") >= 40))
        .select("l_partkey", "sum_qty")
    )


@query(
    "agg_select_distinct",
    oracle="""
    SELECT DISTINCT c_nationkey, c_mktsegment,
           round(min(c_acctbal) OVER (PARTITION BY c_nationkey), 2) AS nation_min_bal,
           round(max(c_acctbal) OVER (PARTITION BY c_nationkey), 2) AS nation_max_bal
    FROM customer
    """,
)
def agg_select_distinct(spark, sf_dir):
    """SELECT DISTINCT combined with window functions (windows evaluate
    before the distinct, as in BigQuery).

    Reference: integral_reporting_vodstreaming.sql:45-61.
    """
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey")
    return c.select(
        "c_nationkey",
        "c_mktsegment",
        E.round_to(F.min("c_acctbal").over(w), 2).alias("nation_min_bal"),
        E.round_to(F.max("c_acctbal").over(w), 2).alias("nation_max_bal"),
    ).distinct()


# ---------------------------------------------------------------------------
# §2.5 Window functions
# ---------------------------------------------------------------------------


@query(
    "win_row_number_dedup",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_partkey FROM (
      SELECT l_orderkey, l_linenumber, l_partkey,
             row_number() OVER (PARTITION BY l_orderkey
                                ORDER BY l_linenumber ASC, l_partkey ASC,
                                         l_suppkey ASC, l_extendedprice ASC) AS rn
      FROM lineitem) WHERE rn = 1
    """,
)
def win_row_number_dedup(spark, sf_dir):
    """ROW_NUMBER dedup to one row per key.

    Reference: nearest-broadcast dedup streams_daily_v4.sql:64;
    first-broadcaster poms_flattened.sql:66.  (l_orderkey, l_linenumber)
    is not unique in the corpus, so the ORDER BY carries a full
    tie-break — otherwise the surviving row is nondeterministic.
    """
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy(
        F.col("l_linenumber").asc(),
        F.col("l_partkey").asc(),
        F.col("l_suppkey").asc(),
        F.col("l_extendedprice").asc(),
    )
    return (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_orderkey", "l_linenumber", "l_partkey")
    )


@query(
    "win_min_max_over",
    oracle="""
    SELECT o_orderkey, o_custkey,
           round(min(o_totalprice) OVER (PARTITION BY o_custkey), 2) AS cust_min,
           round(max(o_totalprice) OVER (PARTITION BY o_custkey), 2) AS cust_max
    FROM orders
    """,
)
def win_min_max_over(spark, sf_dir):
    """MIN/MAX over an unordered partition (= whole partition frame).

    Reference: integral_reporting_vodstreaming.sql:11-12,
    dashboard_channel_weekly.sql:270.
    """
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    return o.select(
        "o_orderkey",
        "o_custkey",
        E.round_to(F.min("o_totalprice").over(w), 2).alias("cust_min"),
        E.round_to(F.max("o_totalprice").over(w), 2).alias("cust_max"),
    )


@query(
    "win_sum_conditional",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus,
           round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END)
                 OVER (PARTITION BY o_custkey), 2) AS cust_finished_total
    FROM orders
    """,
)
def win_sum_conditional(spark, sf_dir):
    """SUM(IF(...)) over a partition.

    Reference: dashboard_channel_weekly.sql:271.
    """
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        E.round_to(
            F.sum(
                F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice")).otherwise(0)
            ).over(w),
            2,
        ).alias("cust_finished_total"),
    )


@query(
    "win_avg_bucketing",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CASE WHEN avg(CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END)
                     OVER (PARTITION BY o_custkey) > 1500 THEN 'high'
                WHEN avg(CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END)
                     OVER (PARTITION BY o_custkey) > 500 THEN 'mid'
                ELSE 'low' END AS spend_bucket
    FROM orders
    """,
)
def win_avg_bucketing(spark, sf_dir):
    """AVG over partition feeding a CASE bucketizer.

    Reference: dashboard_channel_weekly.sql:276-281 (KDH bucket labels).
    """
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    avg_f = F.avg(
        F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice")).otherwise(0)
    ).over(w)
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.when(avg_f > 1500, "high").when(avg_f > 500, "mid").otherwise("low").alias(
            "spend_bucket"
        ),
    )


# ---------------------------------------------------------------------------
# §2.6 Set operations / §2.7 sorts
# ---------------------------------------------------------------------------


@query(
    "setop_union_all",
    oracle="""
    SELECT o_orderkey AS key, 'orders' AS src,
           round(o_totalprice, 2) AS amount,
           CAST(NULL AS DOUBLE) AS qty
    FROM orders
    UNION ALL
    SELECT l_orderkey AS key, 'lineitem' AS src,
           CAST(NULL AS DOUBLE) AS amount,
           round(l_quantity, 2) AS qty
    FROM lineitem
    """,
)
def setop_union_all(spark, sf_dir):
    """UNION ALL by position with typed-NULL pad columns — the
    dashboard's 7-branch long-format stacking trick.

    Reference: dashboard_channel_weekly.sql:40-258 (null as is_tv_week
    etc.); BigQuery infers the supertype, Spark needs the pads typed.
    Every branch here already carries the same column types (each pad
    is a ``null_lit`` of its column's type), so Spark's ``unionAll``
    stacks them by position.
    """
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    branch1 = o.select(
        F.col("o_orderkey").alias("key"),
        F.lit("orders").alias("src"),
        E.round_to("o_totalprice", 2).alias("amount"),
        E.null_lit("double").alias("qty"),
    )
    branch2 = li.select(
        F.col("l_orderkey").alias("key"),
        F.lit("lineitem").alias("src"),
        E.null_lit("double").alias("amount"),
        E.round_to("l_quantity", 2).alias("qty"),
    )
    return branch1.unionAll(branch2)


@query(
    "sort_final",
    oracle="""
    SELECT o_orderdate, o_orderkey, round(o_totalprice, 2) AS total
    FROM orders WHERE o_orderstatus = 'O'
    ORDER BY o_orderdate DESC, o_orderkey
    """,
)
def sort_final(spark, sf_dir):
    """Final ORDER BY (reference integral_reporting_vodstreaming.sql:158)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderstatus") == "O")
        .select("o_orderdate", "o_orderkey", E.round_to("o_totalprice", 2).alias("total"))
        .orderBy(F.col("o_orderdate").desc(), F.col("o_orderkey"))
    )


# ---------------------------------------------------------------------------
# §2.8 Scalar function library
# ---------------------------------------------------------------------------


@query(
    "fn_string_pipeline",
    oracle="""
    WITH base AS (
      SELECT p_partkey,
             concat(p_brand, '_||_', p_type, '_||_', p_name) AS content,
             string_split(concat(p_brand, '_||_', p_type, '_||_', p_name),
                          '_||_') AS toks
      FROM part)
    SELECT p_partkey,
           content,
           toks[1] AS brand_tok,
           toks[2] AS type_tok,
           toks[9] AS missing_tok,
           nullif(nullif(toks[3], ''), 'null') AS name_scrubbed,
           starts_with(toks[3], 'red') AS is_red,
           regexp_matches(content, 'widget|bolt') AS has_widget
    FROM base
    """,
)
def fn_string_pipeline(spark, sf_dir):
    """The reference's string toolkit in one pipeline: CONCAT →
    SPLIT(literal multi-char delim) → SAFE_OFFSET → double-NULLIF
    scrub → STARTS_WITH → REGEXP_CONTAINS.

    Reference: streams_daily_v4.sql:48,53,113-123 (split on '_||_' is
    LITERAL in BigQuery but regex in Spark — functions.split_literal);
    poms_flattened.sql:12.
    """
    p = _t(spark, sf_dir, "part")
    content = F.concat("p_brand", F.lit("_||_"), "p_type", F.lit("_||_"), "p_name")
    base = p.select(
        "p_partkey",
        content.alias("content"),
        E.split_literal(content, "_||_").alias("toks"),
    )
    return base.select(
        "p_partkey",
        "content",
        E.safe_offset("toks", 0).alias("brand_tok"),
        E.safe_offset("toks", 1).alias("type_tok"),
        E.safe_offset("toks", 8).alias("missing_tok"),
        E.nullif_(E.nullif_(E.safe_offset("toks", 2), ""), "null").alias(
            "name_scrubbed"
        ),
        F.startswith(E.safe_offset("toks", 2), F.lit("red")).alias("is_red"),
        F.col("content").rlike("widget|bolt").alias("has_widget"),
    )


@query(
    "fn_datetime_pipeline",
    oracle="""
    SELECT event_id,
           CAST(ts AS DATE) AS evt_date,
           date_trunc('minute', ts) AS evt_minute,
           CAST(extract(isoyear FROM ts) AS BIGINT) AS iso_y,
           CAST(weekofyear(CAST(ts AS DATE)) AS BIGINT) AS iso_w,
           CAST(ts AS DATE) - 7 AS week_ago,
           CAST(date_diff('second', date_trunc('day', ts),
                          date_trunc('minute', ts)) AS BIGINT) AS secs_since_midnight,
           CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INT)
             AS days_since_jan1
    FROM events
    """,
)
def fn_datetime_pipeline(spark, sf_dir):
    """Date/time toolkit: DATE(ts), TIMESTAMP_TRUNC, EXTRACT(ISOYEAR/
    ISOWEEK), date_sub, timestamp_diff, date_diff.

    Reference: streams_daily_v4.sql:3,37,64,70,75,109;
    dashboard_channel_weekly.sql:5-6; tvbroadcasts.sql:9.
    """
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.to_date("ts").alias("evt_date"),
        E.ntz_trunc_minute("ts").alias("evt_minute"),
        E.iso_year("ts").cast("bigint").alias("iso_y"),
        E.iso_week(F.to_date("ts")).cast("bigint").alias("iso_w"),
        F.date_sub(F.to_date("ts"), 7).alias("week_ago"),
        E.timestamp_diff_seconds(
            E.ntz_trunc_minute("ts"),
            F.to_date("ts").cast("timestamp_ntz"),
        ).alias("secs_since_midnight"),
        F.datediff(F.to_date("ts"), F.to_date(F.lit("2024-01-01")))
        .cast("int")
        .alias("days_since_jan1"),
    )


@query(
    "fn_conditional_pipeline",
    oracle="""
    SELECT c_custkey,
           CASE WHEN c_acctbal < 0 THEN 'debt'
                WHEN c_acctbal < 1000 THEN 'low'
                ELSE 'high' END AS bal_bucket,
           CASE WHEN c_mktsegment = 'BUILDING' THEN 'b2b'
                WHEN c_mktsegment IN ('AUTOMOBILE', 'MACHINERY') THEN 'industrial'
                ELSE 'consumer' END AS segment_class,
           coalesce(nullif(c_mktsegment, 'FURNITURE'), 'UNSPECIFIED') AS seg_scrubbed,
           CAST(NULL AS VARCHAR) AS pad_col,
           c_acctbal >= 0 AS in_good_standing
    FROM customer
    """,
)
def fn_conditional_pipeline(spark, sf_dir):
    """Conditional toolkit: IF, searched CASE (first-match), COALESCE,
    typed NULL literal, boolean projection.

    Reference: poms_flattened.sql:11,45-55; dashboard:52-67,276-281.
    """
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, "debt")
        .when(F.col("c_acctbal") < 1000, "low")
        .otherwise("high")
        .alias("bal_bucket"),
        F.when(F.col("c_mktsegment") == "BUILDING", "b2b")
        .when(F.col("c_mktsegment").isin("AUTOMOBILE", "MACHINERY"), "industrial")
        .otherwise("consumer")
        .alias("segment_class"),
        F.coalesce(E.nullif_("c_mktsegment", "FURNITURE"), F.lit("UNSPECIFIED")).alias(
            "seg_scrubbed"
        ),
        E.null_lit("string").alias("pad_col"),
        (F.col("c_acctbal") >= 0).alias("in_good_standing"),
    )


@query(
    "fn_math_pipeline",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST((TRY_CAST(l_extendedprice * 100 AS BIGINT)
                 - (TRY_CAST(l_extendedprice * 100 AS BIGINT) % 1000)) / 1000
                AS BIGINT) AS price_div_10,
           round(l_extendedprice * (1 - l_discount), 2) AS revenue,
           round(l_extendedprice / 60 / 60, 4) AS price_in_hours,
           round(l_quantity / 7, 3) AS qty_per_day
    FROM lineitem
    """,
)
def fn_math_pipeline(spark, sf_dir):
    """Math toolkit: DIV integer division, ROUND, chained arithmetic,
    int/int division returning double.

    Reference: DIV(md.duration, 1000) streams_daily_v4.sql:181;
    round(x/60,2) dashboard:182-183,241.
    """
    li = _t(spark, sf_dir, "lineitem")
    # try_cast: an Inf price aborted the job here (poisoned-prices
    # random-corpus find); NULL flows through bq_div like the oracle's
    # TRY_CAST
    cents = (F.col("l_extendedprice") * 100).try_cast("bigint")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        E.bq_div(cents, 1000).alias("price_div_10"),
        E.round_to(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias(
            "revenue"
        ),
        E.round_to(F.col("l_extendedprice") / 60 / 60, 4).alias("price_in_hours"),
        E.round_to(F.col("l_quantity") / 7, 3).alias("qty_per_day"),
    )


# ---------------------------------------------------------------------------
# §2 tail — dedicated entries for operators previously only exercised
# indirectly (VERDICT r1 item 7).
# ---------------------------------------------------------------------------


@query(
    "fn_generate_timestamp_array",
    oracle="""
    WITH adv AS (
      SELECT
        CAST(date_trunc('minute', ts) AS TIMESTAMP)
          - (event_id % 7) * INTERVAL 1 MINUTE AS b,
        event_id
      FROM events WHERE event_id % 17 = 0
    )
    SELECT
      event_id,
      b AS begin_ts,
      unnest(generate_series(b, b + (5 + event_id % 11) * INTERVAL 1 MINUTE,
                             INTERVAL 1 MINUTE)) AS minute_slot
    FROM adv
    """,
)
def fn_generate_timestamp_array(spark, sf_dir):
    """GENERATE_TIMESTAMP_ARRAY(b, e, INTERVAL 1 MINUTE) — the minute
    spine of the live-TV as-of match (streams_daily_v4.sql:37).
    ``F.sequence`` with inclusive bounds, exploded; one narrow map
    stage per input row, no shuffle."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") % 17 == 0)
    b = (
        E.ntz_trunc_minute("ts")
        - (F.col("event_id") % 7) * F.expr("interval 1 minute")
    )
    e = b + (F.lit(5) + F.col("event_id") % 11) * F.expr("interval 1 minute")
    return ev.select(
        "event_id",
        b.alias("begin_ts"),
        F.explode(E.timestamp_spine(b, e)).alias("minute_slot"),
    )


@query(
    "sort_window_order",
    oracle="""
    SELECT
      o_custkey,
      min(CASE WHEN rk = 1 THEN o_orderkey END) AS first_orderkey,
      string_agg(DISTINCT o_orderpriority, '|' ORDER BY o_orderpriority)
        AS priorities
    FROM (
      SELECT o_custkey, o_orderkey, o_orderpriority,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate ASC, o_orderkey ASC) AS rk
      FROM orders
    ) t
    GROUP BY 1
    """,
)
def sort_window_order(spark, sf_dir):
    """ORDER BY inside OVER() and inside STRING_AGG
    (streams_daily_v4.sql:64,219; poms_flattened.sql:66): multi-key
    window ordering with deterministic tie-break + ordered distinct
    string aggregation (array_sort before array_join — collect order
    under shuffle is nondeterministic)."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    ranked = orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderpriority",
        F.row_number().over(w).alias("rk"),
    )
    return ranked.groupBy("o_custkey").agg(
        F.min(F.when(F.col("rk") == 1, F.col("o_orderkey"))).alias(
            "first_orderkey"
        ),
        F.array_join(
            F.array_sort(F.collect_set("o_orderpriority")), "|"
        ).alias("priorities"),
    )


@query(
    "fn_timestamp_cast",
    oracle="""
    SELECT
      event_id,
      CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day_ts,
      CAST(strftime(ts, '%Y-%m-%d %H:%M:%S') AS TIMESTAMP) AS reparsed_ts,
      CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_ts
    FROM events WHERE event_id % 25 = 0
    """,
)
def fn_timestamp_cast(spark, sf_dir):
    """TIMESTAMP(x) casts (streams_daily_v4.sql:37,64): date→timestamp
    midnight expansion, string→timestamp parse round-trip, and
    TIMESTAMP_TRUNC — all NTZ wall-clock (the engine's CET discipline
    means no instant conversion may sneak in)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") % 25 == 0)
    return ev.select(
        "event_id",
        F.col("ts").cast("date").cast("timestamp_ntz").alias("day_ts"),
        F.to_timestamp_ntz(
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss"),
            F.lit("yyyy-MM-dd HH:mm:ss"),
        ).alias("reparsed_ts"),
        F.date_trunc("hour", "ts").cast("timestamp_ntz").alias("hour_ts"),
    )
