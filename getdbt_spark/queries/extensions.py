"""Extension-surface operators: Spark-native ops beyond strict parity.

SURVEY.md §2.3/§2.4/§2.5/§2.6/§2.7 note operator families the reference
never uses but that a complete engine must expose — semi/anti joins
("still worth exposing in the engine API", §2.3), ``groupBy().pivot()``
and ``cube``/``rollup`` (§2.4), the ranking/analytic window families
(§2.5), INTERSECT/EXCEPT (§2.6), and LIMIT/top-k ("expose ``df.limit``
anyway", §2.7).  Each is registered here as a first-class
oracle-checked query so the coverage is driver-verified, not claimed.

Scale notes are per-query; the headline ones:

- top-k compiles to ``TakeOrderedAndProject`` — per-partition heap +
  driver merge of k rows, never a full sort (pinned in
  tests/test_plans.py);
- semi/anti joins shuffle only the distinct key set of the probe side
  and AQE broadcasts it when small;
- rollup/cube expand at the *partial*-aggregate stage (map-side), so
  the shuffle carries pre-combined subtotal rows, not raw input.

Money sums in grouped results use exact integer cents
(``floor(x*100)`` as LONG on both engines) — double summation order
differs between Spark and DuckDB and a grand-total double rounded to
2 decimals can flip at the last digit.
"""

from __future__ import annotations

import datetime as dt
from uuid import uuid4

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import functions as E
from .. import pipeline as P
from ..io import credible_clock, load_table, run_date_anchor, scalar_anchor
from . import query


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


_SESSION_GAP_US = 1800 * 1000 * 1000  # the 30-minute inactivity gap


def _with_session_id(
    ev: DataFrame, order: list[str], *, inclusive: bool
) -> DataFrame:
    """Gap sessionization, the lag → flag → running-sum idiom: each
    user's events in ``order``, numbered into ``sess_id`` sessions.

    The first event opens a session, and so does a gap from the
    previous event of MORE than 30 minutes (``inclusive=False``) or of
    AT LEAST 30 minutes (``inclusive=True``) — each caller's own
    contract, matched by its oracle.  The gap is exact wall-clock
    microseconds over the epoch column (``timestampdiff`` on NTZ
    session-coerces and corrupts the DST skipped hour — round-6
    random-corpus class).  Whole-second truncation toward zero
    (``timestamp_diff_seconds``) agrees with it on the non-negative
    gaps an ordered lag yields: ``floor(gap_us / 1e6) >= 1800`` iff
    ``gap_us >= 1800·10^6``.

    ``order`` is the tie order.  ``ts`` alone is tie-safe: lag and the
    running sum share one window sort, a tied event's gap is 0 and so
    never opens a session, and every event of a tie lands in the
    session of the first one whichever order the engine picks.  Both
    windows share the ``user_id`` partitioning — one exchange.
    """
    w = Window.partitionBy("user_id").orderBy(*order)
    us = E.ntz_epoch_us("ts")
    prev = F.lag(us).over(w)
    gap = us - prev
    split = gap >= _SESSION_GAP_US if inclusive else gap > _SESSION_GAP_US
    return ev.withColumn(
        "sess_id",
        F.sum(F.when(prev.isNull() | split, 1).otherwise(0)).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )


# ---------------------------------------------------------------------------
# Joins: semi / anti (SURVEY §2.3 "worth exposing")
# ---------------------------------------------------------------------------


@query(
    "join_left_semi",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def join_left_semi(spark, sf_dir):
    """Customers with at least one order via a semi join.

    EXISTS semantics without fan-out: the build side contributes only
    key presence, so the join output never exceeds the probe side and
    the shuffle carries the orders key column alone (column pruning
    reaches the scan).  At 100 TB this replaces the
    join+dropDuplicates idiom that would shuffle the full fact table.
    """
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


@query(
    "join_left_anti",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
    """,
)
def join_left_anti(spark, sf_dir):
    """Customers with no urgent order via an anti join (NOT EXISTS).

    NULL-safe by construction (unlike NOT IN): an anti join never
    drops the whole probe side when the build side contains NULL keys.
    The build-side filter is pushed to the orders scan before the
    shuffle.
    """
    customer = _t(spark, sf_dir, "customer")
    urgent = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return customer.join(
        urgent, customer.c_custkey == urgent.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_acctbal")


# ---------------------------------------------------------------------------
# Sorts: LIMIT / top-k (SURVEY §2.7 "expose df.limit anyway")
# ---------------------------------------------------------------------------


@query(
    "sort_limit_topk",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def sort_limit_topk(spark, sf_dir):
    """Top 100 orders by price with a deterministic key tie-break.

    ``orderBy(...).limit(k)`` compiles to TakeOrderedAndProject: each
    partition keeps a k-row heap and the driver merges heaps — O(k)
    result movement regardless of input size, no global sort and no
    single-partition shuffle.  The tie-break on o_orderkey makes the
    cut at rank 100 reproducible across engines.
    """
    return (
        _t(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# Aggregations: rollup / cube / grouping sets / pivot (SURVEY §2.4)
# ---------------------------------------------------------------------------


@query(
    "agg_rollup",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(TRY_CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def agg_rollup(spark, sf_dir):
    """Hierarchical subtotals: (status, priority) → (status) → ().

    Rollup expands inside the partial-aggregate stage, so the shuffle
    carries map-side-combined subtotal rows — the grand-total row costs
    one extra combiner slot per task, not a second pass over the data.
    """
    return (
        _t(spark, sf_dir, "orders")
        .withColumn("_cents", E.cents("o_totalprice"))
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("_cents").alias("total_cents"),
        )
    )


@query(
    "agg_cube",
    oracle="""
    SELECT c_mktsegment, c_nationkey,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(TRY_CAST(floor(c_acctbal * 100) AS BIGINT)) AS BIGINT)
               AS acctbal_cents
    FROM customer
    GROUP BY CUBE (c_mktsegment, c_nationkey)
    """,
)
def agg_cube(spark, sf_dir):
    """All 2^2 grouping combinations over (segment, nation) in one pass."""
    return (
        _t(spark, sf_dir, "customer")
        .withColumn("_cents", E.cents("c_acctbal"))
        .cube("c_mktsegment", "c_nationkey")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("_cents").alias("acctbal_cents"),
        )
    )


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def agg_grouping_sets(spark, sf_dir):
    """Explicit grouping sets: two independent 1-D subtotals + total.

    Cheaper than CUBE when only some combinations are wanted — the
    expand factor is len(sets), not 2^n_keys.
    """
    orders = _t(spark, sf_dir, "orders")
    # unique per-invocation name: shared-session invocations must not
    # collide or read a stale registration (same rule as sink_view);
    # dropped right after the eager spark.sql analysis resolves it —
    # the returned plan holds the resolved relation, not the view name.
    view = f"_gs_orders_{uuid4().hex[:8]}"
    orders.createOrReplaceTempView(view)
    try:
        return spark.sql(
            "SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders "
            f"FROM {view} "
            "GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())"
        )
    finally:
        spark.catalog.dropTempView(view)


_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PIVOT_ALIASES = ["p_urgent", "p_high", "p_medium", "p_notspec", "p_low"]


@query(
    "agg_pivot",
    oracle="""
    SELECT o_orderstatus,
           CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS p_urgent,
           CAST(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS p_high,
           CAST(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS p_medium,
           CAST(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS p_notspec,
           CAST(sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS p_low
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_pivot(spark, sf_dir):
    """Native ``groupBy().pivot()`` — the reference hand-rolls this with
    MAX(CASE...) (poms_flattened.sql:12-20); the engine exposes the real
    operator.

    The pivot value list is passed explicitly: without it Spark runs an
    extra distinct-collect job over the full input just to discover the
    columns — at 100 TB that is a whole wasted scan.
    """
    pivoted = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .pivot("o_orderpriority", _PRIORITIES)
        .count()
    )
    cols = [F.col("o_orderstatus")] + [
        F.coalesce(F.col(f"`{v}`"), F.lit(0)).alias(a)
        for v, a in zip(_PRIORITIES, _PIVOT_ALIASES)
    ]
    return pivoted.select(*cols)


# ---------------------------------------------------------------------------
# Windows: lead/lag, explicit frames, ntile (SURVEY §2.5 families)
# ---------------------------------------------------------------------------


@query(
    "win_lead_lag",
    oracle="""
    SELECT o_custkey, o_orderkey,
           date_diff('day',
                     CAST(lag(o_orderdate) OVER w AS DATE),
                     CAST(o_orderdate AS DATE)) AS days_since_prev,
           lead(o_orderkey) OVER w AS next_orderkey
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def win_lead_lag(spark, sf_dir):
    """Per-customer inter-order gap (lag) and next-order pointer (lead).

    One shuffle+sort on o_custkey serves both functions — lead and lag
    share the window spec, so Catalyst evaluates them in a single
    Window operator pass.
    """
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    orders = _t(spark, sf_dir, "orders")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate").over(w)
        ).alias("days_since_prev"),
        F.lead("o_orderkey").over(w).alias("next_orderkey"),
    )


@query(
    "win_first_last_frame",
    oracle="""
    SELECT o_custkey, o_orderkey,
           first_value(o_orderkey) OVER w AS first_orderkey,
           last_value(o_orderkey) OVER
               (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS last_orderkey
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def win_first_last_frame(spark, sf_dir):
    """first_value/last_value with an explicit whole-partition frame.

    The frame spec is the correctness trap this query pins: the default
    ordered-window frame ends at CURRENT ROW, so ``last_value`` under
    it returns the *current* row — both engines agree only once the
    frame is widened to UNBOUNDED FOLLOWING.
    """
    base = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    whole = base.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    orders = _t(spark, sf_dir, "orders")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_orderkey").over(base).alias("first_orderkey"),
        F.last("o_orderkey").over(whole).alias("last_orderkey"),
    )


@query(
    "win_ntile",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           ntile(4) OVER (PARTITION BY c_mktsegment
                          ORDER BY c_acctbal, c_custkey) AS balance_quartile
    FROM customer
    """,
)
def win_ntile(spark, sf_dir):
    """Per-segment account-balance quartiles with a deterministic
    tie-break (ntile assigns by row position, so unordered ties would
    be engine-dependent without the c_custkey key)."""
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(4).over(w).alias("balance_quartile"),
    )


# ---------------------------------------------------------------------------
# Set ops: INTERSECT / EXCEPT (SURVEY §2.6 "no ... INTERSECT, or EXCEPT")
# ---------------------------------------------------------------------------


@query(
    "setop_intersect",
    oracle="""
    SELECT o_custkey AS custkey FROM orders
    INTERSECT
    SELECT c_custkey AS custkey FROM customer WHERE c_acctbal < 0
    """,
)
def setop_intersect(spark, sf_dir):
    """Customers that both placed orders and are overdrawn.

    SQL INTERSECT is distinct-semantics; Spark's ``intersect`` matches.
    Physically a partial-agg + shuffle per side then a join on all
    columns — both sides shrink to their distinct key sets first.
    """
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey")
    )
    overdrawn = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") < 0)
        .select(F.col("c_custkey").alias("custkey"))
    )
    return orders.intersect(overdrawn)


@query(
    "setop_except",
    oracle="""
    SELECT c_custkey AS custkey FROM customer WHERE c_acctbal < 0
    EXCEPT
    SELECT o_custkey AS custkey FROM orders
    WHERE o_orderpriority = '1-URGENT'
    """,
)
def setop_except(spark, sf_dir):
    """Overdrawn customers with no urgent order (EXCEPT DISTINCT)."""
    overdrawn = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") < 0)
        .select(F.col("c_custkey").alias("custkey"))
    )
    urgent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("custkey"))
    )
    return overdrawn.subtract(urgent)


@query(
    "agg_percentile",
    oracle="""
    SELECT o_orderstatus,
           round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
           round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
           round(quantile_cont(o_totalprice, 0.99), 4) AS p99
    FROM orders
    WHERE isfinite(o_totalprice)
    GROUP BY o_orderstatus
    """,
)
def agg_percentile(spark, sf_dir):
    """Exact linear-interpolated percentiles per group (SURVEY §2.4
    lists percentile/statistical aggs as absent from the reference —
    exposed here as extension surface).

    Spark's ``percentile`` and DuckDB's ``quantile_cont`` share the
    same interpolation convention, so the values hash-match after
    rounding — through ``round_to``, never ``F.round``: engine round()
    implementations diverge on binary .xxxx5 edge cases (the repo-wide
    rule for every double the oracle harness hashes, functions.py).
    Exact percentiles buffer the group's values; at 100 TB the drop-in
    is ``percentile_approx`` (t-digest sketch, mergeable map-side)
    with a documented error bound — same query shape.
    """
    return (
        # finite values only: engines treat NaN/Inf differently inside
        # the interpolation (poisoned-prices random-corpus find)
        _t(spark, sf_dir, "orders")
        .filter(E.is_finite("o_totalprice"))
        .groupBy("o_orderstatus")
        .agg(
            *[
                E.round_to(
                    F.expr(f"percentile(o_totalprice, {q})"), 4
                ).alias(name)
                for q, name in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99"))
            ]
        )
    )


@query(
    "win_range_frame",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(sum(TRY_CAST(floor(o_totalprice * 100) AS BIGINT)) OVER (
             PARTITION BY o_custkey ORDER BY TRY_CAST(floor(o_totalprice * 100) AS BIGINT)
             RANGE BETWEEN 100000 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS nearby_cents
    FROM orders
    """,
)
def win_range_frame(spark, sf_dir):
    """Explicit RANGE frame: per customer, the sum of order values
    within 1000 currency units below the current order's value.

    Value-based frames are deterministic under ties by construction
    (the frame is defined by the ORDER BY value, not row position), so
    no tie-break key is needed — the property that distinguishes RANGE
    from ROWS.  Summands are exact integer cents: each frame's sum is
    order-independent, keeping the cross-engine hash stable.
    """
    cents = E.cents("o_totalprice")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(cents)
        .rangeBetween(-100000, Window.currentRow)
    )
    return _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.sum(cents).over(w).alias("nearby_cents"),
    )


# ---------------------------------------------------------------------------
# Sources: JSON-lines ingestion (parquet + seed-CSV + JSONL = the
# common source-format trio; the reference reads warehouse tables only)
# ---------------------------------------------------------------------------


@query(
    "scan_jsonl",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE o_orderkey % 100 = 0
    """,
)
def scan_jsonl(spark, sf_dir):
    """Round-trip a deterministic orders slice through JSON-lines and
    read it back with an EXPLICIT schema.

    The explicit schema is the scale-critical part: schema inference
    on JSON is a whole extra pass over the data (at 100 TB, a wasted
    full scan before the real one), and inferred types drift with
    content.  Values survive the round-trip exactly — Spark writes
    doubles at full precision — so the oracle over the original
    parquet hash-matches the JSONL read-back.
    """
    import os
    import shutil
    import tempfile

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    # Per-process path: two concurrent drivers over the same corpus
    # (pytest sweep + verify_local, say) must not rmtree/overwrite a
    # directory the other's lazy plan is still reading.
    path = os.path.join(
        tempfile.gettempdir(),
        f"getdbt_spark_jsonl_{os.path.basename(sf_dir.rstrip('/'))}"
        f"_{os.getpid()}",
    )
    shutil.rmtree(path, ignore_errors=True)
    (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 100 == 0)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .write.mode("overwrite")
        .json(path)
    )
    schema = StructType(
        [
            StructField("o_orderkey", LongType()),
            StructField("o_custkey", LongType()),
            StructField("o_orderstatus", StringType()),
            StructField("o_totalprice", DoubleType()),
        ]
    )
    return spark.read.schema(schema).json(path)


@query(
    "scan_orc",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE o_orderkey % 97 = 0
    """,
)
def scan_orc(spark, sf_dir):
    """Round-trip a deterministic orders slice through ORC and read it
    back with an explicit schema — completing the source-format trio's
    fourth leg (parquet, seed-CSV, JSONL, ORC).

    Same scale rule as scan_jsonl: the explicit schema avoids an
    inference pass, and ORC (like parquet) carries column statistics
    so predicate pushdown and column pruning survive the format hop.
    """
    import os
    import shutil
    import tempfile

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    path = os.path.join(
        tempfile.gettempdir(),
        f"getdbt_spark_orc_{os.path.basename(sf_dir.rstrip('/'))}"
        f"_{os.getpid()}",
    )
    shutil.rmtree(path, ignore_errors=True)
    (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 97 == 0)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .write.mode("overwrite")
        .orc(path)
    )
    schema = StructType(
        [
            StructField("o_orderkey", LongType()),
            StructField("o_custkey", LongType()),
            StructField("o_orderstatus", StringType()),
            StructField("o_totalprice", DoubleType()),
        ]
    )
    return spark.read.schema(schema).orc(path)


@query(
    "agg_unpivot",
    oracle="""
    WITH a AS (
      SELECT o_orderstatus,
             CAST(min(TRY_CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS min_cents,
             CAST(max(TRY_CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS max_cents,
             CAST(sum(TRY_CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
      FROM orders GROUP BY 1
    )
    SELECT o_orderstatus, 'min_cents' AS metric, min_cents AS cents FROM a
    UNION ALL
    SELECT o_orderstatus, 'max_cents', max_cents FROM a
    UNION ALL
    SELECT o_orderstatus, 'sum_cents', sum_cents FROM a
    """,
)
def agg_unpivot(spark, sf_dir):
    """Wide→long unpivot via ``stack`` — the inverse of agg_pivot,
    rounding out the reshape surface.  Metric values are exact integer
    cents so the cross-engine hash is order-free.  ``stack`` is a
    generator expression (no shuffle, no join): the only exchange in
    the plan is the aggregation's own.
    """
    cents = E.cents("o_totalprice")
    a = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.min(cents).alias("min_cents"),
            F.max(cents).alias("max_cents"),
            F.sum(cents).alias("sum_cents"),
        )
    )
    return a.select(
        "o_orderstatus",
        F.expr(
            "stack(3, 'min_cents', min_cents, 'max_cents', max_cents,"
            " 'sum_cents', sum_cents) AS (metric, cents)"
        ),
    )


@query(
    "win_session_longest",
    oracle="""
    WITH e AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR date_diff('microsecond', lag(ts) OVER w, ts)
                       > 1800000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, ts,
             sum(new_sess) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS sess_seq
      FROM e
    ), g AS (
      SELECT user_id, sess_seq,
             min(ts) AS session_start, max(ts) AS session_end,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(date_diff('microsecond', min(ts), max(ts)) AS BIGINT)
               AS duration_us
      FROM s GROUP BY 1, 2
    )
    SELECT user_id, session_start, session_end, n_events, duration_us
    FROM (
      SELECT *, row_number() OVER (
               PARTITION BY user_id
               ORDER BY duration_us DESC, session_start) AS rnk
      FROM g
    ) WHERE rnk = 1
    """,
)
def win_session_longest(spark, sf_dir):
    """Batch sessionization as pure SQL windows (gap > 30 min starts a
    new session: lag → flag → running sum), then each user's LONGEST
    session — the classic engagement query, and the batch twin of the
    ``session_window``-based streaming_session_stats.

    Determinism under ties is explicit everywhere: the event order key
    is (ts, event_id) so equal timestamps can't flip the gap flags
    between engines; the gap test and duration run in exact integer
    MICROseconds (the storage resolution) because second-granularity
    datediffs count boundary crossings differently per engine; and
    the top-1 window breaks duration ties on session_start.  Plan:
    both windows and the session aggregation share the user_id
    shuffle key — one exchange end to end.
    """
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    s = _with_session_id(e, ["ts", "event_id"], inclusive=False)
    g = s.groupBy("user_id", "sess_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
        (F.max(E.ntz_epoch_us("ts")) - F.min(E.ntz_epoch_us("ts")))
        .cast("long")
        .alias("duration_us"),
    )
    rnk = F.row_number().over(
        Window.partitionBy("user_id").orderBy(
            F.col("duration_us").desc(), "session_start"
        )
    )
    return (
        g.withColumn("rnk", rnk)
        .filter(F.col("rnk") == 1)
        .select(
            "user_id", "session_start", "session_end", "n_events",
            "duration_us",
        )
    )


@query(
    "join_range_interval",
    oracle="""
    WITH p AS (
      -- band boundaries from FINITE values only: a NaN/Inf cell must
      -- not poison the quartiles (engines also interpolate non-finite
      -- neighbors differently); poison rows still LAND in a band via
      -- the comparison semantics both engines share (NaN/+Inf sort
      -- greatest -> open top band, -Inf -> open bottom band)
      SELECT event_type,
             quantile_cont(value, 0.25) AS p25,
             quantile_cont(value, 0.50) AS p50,
             quantile_cont(value, 0.75) AS p75
      FROM events WHERE isfinite(value) GROUP BY 1
    ), b AS (
      SELECT event_type, 0 AS band_id, NULL::DOUBLE AS lo, p25 AS hi FROM p
      UNION ALL SELECT event_type, 1, p25, p50 FROM p
      UNION ALL SELECT event_type, 2, p50, p75 FROM p
      UNION ALL SELECT event_type, 3, p75, NULL FROM p
    )
    SELECT e.event_type, b.band_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(TRY_CAST(floor(e.value * 100) AS BIGINT)) AS BIGINT)
             AS cents_total
    FROM events e
    JOIN b ON e.event_type = b.event_type
          AND (b.lo IS NULL OR e.value >= b.lo)
          AND (b.hi IS NULL OR e.value < b.hi)
    GROUP BY 1, 2
    """,
)
def join_range_interval(spark, sf_dir):
    """Range (interval-containment) join: every event lands in its
    event-type's quartile band — equi key + non-equi band predicate.

    The scale-correct plan for a point-in-interval join with a SMALL
    interval side: broadcast the band table so the range predicate is
    evaluated map-side as a residual on a broadcast hash join over
    the equi key — no shuffle of the fact side and never a nested-
    loop cross product.  (A large interval side would instead be
    bucketized on a common grid first.)  Band boundaries come from
    the same exact-percentile computation both engines interpolate
    identically; half-open bands [lo, hi) make boundary values
    unambiguous.
    """
    e = _t(spark, sf_dir, "events")
    # finite values only — mirrors the oracle's isfinite filter (a
    # poisoned cell must not shift every band boundary)
    p = (
        e.filter(E.is_finite("value"))
        .groupBy("event_type")
        .agg(
            *[
                F.expr(f"percentile(value, {q})").alias(name)
                for q, name in ((0.25, "p25"), (0.50, "p50"), (0.75, "p75"))
            ]
        )
    )
    null_d = F.lit(None).cast("double")
    bands = p.select(
        F.col("event_type").alias("band_type"),
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("band_id"), null_d.alias("lo"), F.col("p25").alias("hi")),
                F.struct(F.lit(1).alias("band_id"), F.col("p25").alias("lo"), F.col("p50").alias("hi")),
                F.struct(F.lit(2).alias("band_id"), F.col("p50").alias("lo"), F.col("p75").alias("hi")),
                F.struct(F.lit(3).alias("band_id"), F.col("p75").alias("lo"), null_d.alias("hi")),
            )
        ).alias("b"),
    ).select("band_type", "b.*")
    joined = e.join(
        F.broadcast(bands),
        on=[
            F.col("event_type") == F.col("band_type"),
            F.col("lo").isNull() | (F.col("value") >= F.col("lo")),
            F.col("hi").isNull() | (F.col("value") < F.col("hi")),
        ],
    )
    return (
        joined.groupBy("event_type", "band_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(E.cents("value")).alias(
                "cents_total"
            ),
        )
    )


@query(
    "fn_json_extract",
    oracle="""
    WITH x AS (
      -- text-typed extraction like get_json_object; the integral
      -- regex mirrors Spark's try_cast(string AS int), which NULLs
      -- '12.5' where DuckDB's text cast ROUNDS it to 13 (badjson
      -- random-corpus find)
      SELECT CASE WHEN json_valid(props) THEN props->>'k' END AS kt,
             value
      FROM events WHERE props IS NOT NULL
    )
    SELECT (CASE WHEN regexp_matches(kt, '^[-+][0-9]+$|^[0-9]+$')
                 THEN TRY_CAST(kt AS INTEGER) END) % 10 AS k_bucket,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(TRY_CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
             AS cents_total
    FROM x
    GROUP BY 1
    """,
)
def fn_json_extract(spark, sf_dir):
    """Semi-structured extraction: pull a typed field out of a JSON
    string column and aggregate on it (``get_json_object`` — the
    schema-on-read escape hatch every event pipeline needs).

    Scale note: JSON parsing is per-row CPU; when a field is on every
    hot path, promote it to a real column at ingest (``from_json``
    with an explicit schema in one pass) rather than re-parsing per
    query.  The extraction itself is a scan-level projection — no
    shuffle beyond the aggregation's own.
    """
    e = _t(spark, sf_dir, "events")
    # try_cast + lenient extraction: a malformed-JSON or non-numeric-k
    # row buckets as NULL instead of aborting the job (get_json_object
    # already yields NULL for bad JSON; the ANSI string→int cast was
    # the remaining crash — badjson random-corpus find; the oracle's
    # json_valid guard mirrors it because DuckDB's ->> ERRORS on
    # malformed JSON where get_json_object returns NULL)
    k = F.get_json_object("props", "$.k").try_cast("int")
    return (
        e.filter(F.col("props").isNotNull())
        .groupBy((k % 10).alias("k_bucket"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(E.cents("value")).alias(
                "cents_total"
            ),
        )
    )


@query(
    "win_percent_rank_cume",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus
                 ORDER BY TRY_CAST(floor(o_totalprice * 100) AS BIGINT)
                            NULLS LAST,
                          o_orderkey)
    """,
)
def win_percent_rank_cume(spark, sf_dir):
    """Relative-position analytics: percent_rank and cume_dist per
    status, ordered by exact cents with a key tie-break.

    Both are pure rational functions of (rank, n) — (r-1)/(n-1) and
    r_peer/n — so the double results are bit-identical across engines
    (one exact integer division each); round_to(6) guards the hash by
    convention anyway.
    """
    cents = E.cents("o_totalprice")
    # NULLS LAST explicitly: poisoned prices have NULL cents, and
    # Spark's ASC default is nulls FIRST where DuckDB's is nulls LAST
    # (poisoned-prices random-corpus find)
    w = Window.partitionBy("o_orderstatus").orderBy(
        cents.asc_nulls_last(), "o_orderkey"
    )
    return _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        E.round_to(F.percent_rank().over(w), 6).alias("pct_rank"),
        E.round_to(F.cume_dist().over(w), 6).alias("cume"),
    )


@query(
    "join_salted_skew",
    oracle="""
    SELECT o.o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(TRY_CAST(floor(l.l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS cents_total
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
)
def join_salted_skew(spark, sf_dir):
    """The skew-safe join primitive driver-proven: scale.salted_join
    scatters the (potentially hot-keyed) fact side over 16 salt
    sub-keys and replicates the dimension side per salt, so one viral
    key occupies 16 reducers instead of one.

    Correctness is salt-invariant by construction — the oracle is the
    PLAIN join — which is exactly the property that makes salting safe
    to apply mechanically under skew (tests/test_scale.py pins the
    equivalence; this id makes it a driver-verified result).
    """
    from ..scale import salted_join

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderstatus"
    )
    joined = salted_join(li, orders, on=["l_orderkey"], n_salts=16)
    return joined.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_items"),
        F.sum(E.cents("l_extendedprice")).alias(
            "cents_total"
        ),
    )


@query(
    "agg_salted_skew",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(TRY_CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
             AS cents_total,
           CAST(min(TRY_CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
             AS cents_min,
           CAST(max(TRY_CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
             AS cents_max
    FROM events
    GROUP BY 1
    """,
)
def agg_salted_skew(spark, sf_dir):
    """Two-stage skew-safe aggregation driver-proven (scale.salted_agg):
    stage 1 aggregates on (key, salt) so a group too hot for one
    reducer spreads over 16, stage 2 recombines the algebraic partials
    (sum-of-sums, sum-of-counts, min-of-mins, max-of-maxs).  The
    oracle is the plain GROUP BY — salting must be result-invariant.
    """
    from ..scale import salted_agg

    e = _t(spark, sf_dir, "events").withColumn(
        "_cents", E.cents("value")
    )
    return salted_agg(
        e,
        keys=["event_type"],
        aggs={
            # count("*"), not count(_cents): a poisoned (NaN/Inf)
            # value makes _cents NULL, and count(col) would silently
            # undercount vs the oracle's count(*) (nanvalues find)
            "n_events": ("count", "*"),
            "cents_total": ("sum", "_cents"),
            "cents_min": ("min", "_cents"),
            "cents_max": ("max", "_cents"),
        },
        n_salts=16,
    )


@query(
    "join_bucketed_colocated",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(TRY_CAST(floor(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents_total
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
    """,
)
def join_bucketed_colocated(spark, sf_dir):
    """The zero-exchange co-located join driver-proven: both sides are
    written as catalog tables bucketed by the join key into the same
    bucket count (scale.write_bucketed — the one-time shuffle paid at
    write), then joined exchange-free (tests/test_scale.py pins the
    no-ShuffleExchange plan; this id verifies the RESULT against the
    plain join oracle).

    At 100 TB this is the nightly fact-to-fact pattern: bucket both
    fact tables on the shared key once, and every downstream join or
    aggregation on that key skips its shuffle.
    """
    import os

    from ..scale import bucketed_join, write_bucketed

    pid = os.getpid()
    lt, rt = f"_bkt_orders_{pid}", f"_bkt_customer_{pid}"
    write_bucketed(
        _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice"),
        lt,
        keys=["o_custkey"],
        n_buckets=8,
    )
    write_bucketed(
        _t(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
        ),
        rt,
        keys=["o_custkey"],
        n_buckets=8,
    )
    joined = bucketed_join(spark, lt, rt, on=["o_custkey"])
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        F.sum(E.cents("o_totalprice")).alias(
            "cents_total"
        ),
    )


@query(
    "agg_stats_exact",
    oracle="""
    WITH q AS (
      SELECT l_returnflag,
             CAST(TRY_CAST(floor(l_quantity * 100) AS BIGINT) AS DECIMAL(38,0))
               AS x,
             CAST(TRY_CAST(floor(l_extendedprice * 100) AS BIGINT)
                  AS DECIMAL(38,0)) AS y
      FROM lineitem
    ), s AS (
      SELECT l_returnflag,
             CAST(count(*) AS DECIMAL(38,0)) AS n,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
      FROM q GROUP BY 1
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n_rows,
           round(sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
                       * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                      / CAST(n AS DOUBLE)) / 100.0, 6) AS qty_stddev_pop,
           round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                 6) AS qty_price_corr
    FROM s
    """,
)
def agg_stats_exact(spark, sf_dir):
    """Statistical aggregates (population stddev, Pearson correlation)
    computed from EXACT integer moment sums.

    Built-in ``stddev``/``corr`` stream doubles through Welford-style
    accumulators whose result depends on partition order — fine for
    analytics, wrong for a cross-engine hash and nondeterministic
    across cluster re-partitionings.  Here every moment (Σx, Σy, Σx²,
    Σy², Σxy) is an exact DECIMAL(38,0) sum of integer cents (order-
    free), and only the final closed-form expressions run in floating
    point — identical IEEE operations on identical operands on both
    engines.  The sums are map-combinable, so the plan is one ordinary
    aggregation: determinism costs nothing at 100 TB.
    """
    li = _t(spark, sf_dir, "lineitem")
    x = F.floor(F.col("l_quantity") * 100).cast("long").cast("decimal(38,0)")
    y = (
        E.cents("l_extendedprice")
        .cast("long")
        .cast("decimal(38,0)")
    )
    s = (
        li.select("l_returnflag", x.alias("x"), y.alias("y"))
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
        )
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy, sxy = (
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
        F.col("sxy").cast("double"),
    )
    return s.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n_rows"),
        E.round_to(F.sqrt((sxx - sx * sx / nd) / nd) / 100.0, 6).alias(
            "qty_stddev_pop"
        ),
        E.round_to(
            (nd * sxy - sx * sy)
            / F.sqrt((nd * sxx - sx * sx) * (nd * syy - sy * sy)),
            6,
        ).alias("qty_price_corr"),
    )


@query(
    "fn_array_pipeline",
    oracle="""
    WITH g AS (
      SELECT l_orderkey,
             -- FILTER non-null + coalesce to []: Spark's collect_list
             -- silently DROPS NULLs and yields an EMPTY array for an
             -- all-poisoned group, where DuckDB's filtered list() is
             -- NULL (poisoned-prices random-corpus find)
             coalesce(
               list(TRY_CAST(floor(l_extendedprice * 100) AS BIGINT)
                    ORDER BY TRY_CAST(floor(l_extendedprice * 100) AS BIGINT))
                 FILTER (TRY_CAST(floor(l_extendedprice * 100) AS BIGINT)
                         IS NOT NULL),
               []) AS a
      FROM lineitem GROUP BY 1
    )
    SELECT l_orderkey,
           CAST(len(a) AS BIGINT) AS n_items,
           CAST(coalesce(list_sum(list_filter(a, x -> x > 5000000)), 0)
                AS BIGINT) AS big_cents_total,
           len(list_filter(a, x -> x > 5000000)) > 0 AS has_big,
           -- coalesce: DuckDB's array_to_string([]) is NULL where
           -- Spark's concat_ws is '' (poisoned-prices find)
           coalesce(array_to_string(a[1:3], ','), '') AS cheapest3_csv
    FROM g
    """,
)
def fn_array_pipeline(spark, sf_dir):
    """Array higher-order functions end to end: per-order sorted cents
    array → filter → fold (sum) → exists → slice.

    All five HOFs are JVM Column expressions inside whole-stage
    codegen — no UDF, no extra shuffle beyond the grouping's own; the
    per-group array is bounded by order size (TPC-H ≤ 7 items), the
    same boundedness argument as the reference's STRING_AGG groups.
    """
    cents = E.cents("l_extendedprice")
    g = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_list(cents)).alias("a"))
    )
    big = F.filter("a", lambda x: x > 5000000)
    return g.select(
        "l_orderkey",
        F.size("a").cast("long").alias("n_items"),
        F.aggregate(big, F.lit(0).cast("long"), lambda acc, x: acc + x).alias(
            "big_cents_total"
        ),
        F.exists("a", lambda x: x > 5000000).alias("has_big"),
        # CSV, not array<long>: the driver canon can't hash list cells
        F.concat_ws(
            ",", F.transform(F.slice("a", 1, 3), lambda x: x.cast("string"))
        ).alias("cheapest3_csv"),
    )


@query(
    "fn_string_advanced",
    oracle="""
    SELECT c_custkey,
           levenshtein(c_name, 'Customer#000000001') AS name_dist,
           translate(c_name, '#', '-') AS name_dashed,
           lpad(CAST(c_custkey AS VARCHAR), 12, '0') AS padded_key,
           regexp_extract(c_name, 'Customer#(\\d+)', 1) AS name_digits
    FROM customer
    """,
)
def fn_string_advanced(spark, sf_dir):
    """Advanced string surface: edit distance (the fuzzy-matching
    primitive), translate, lpad, and regex group extraction — all
    engine-portable codegen'd expressions (levenshtein at 100 TB is
    per-row CPU, typically gated behind a cheap blocking key exactly
    like the PPJoin prefix gate)."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.levenshtein("c_name", F.lit("Customer#000000001")).alias(
            "name_dist"
        ),
        F.translate("c_name", "#", "-").alias("name_dashed"),
        F.lpad(F.col("c_custkey").cast("string"), 12, "0").alias(
            "padded_key"
        ),
        F.regexp_extract("c_name", r"Customer#(\d+)", 1).alias(
            "name_digits"
        ),
    )


@query(
    "join_nullsafe_eq",
    oracle="""
    WITH c AS (
      SELECT nullif(c_nationkey % 5, 0) AS grp, c_custkey FROM customer
    ), s AS (
      SELECT nullif(s_nationkey % 5, 0) AS grp, s_suppkey FROM supplier
    )
    SELECT c.grp, CAST(count(*) AS BIGINT) AS n_pairs
    FROM c JOIN s ON c.grp IS NOT DISTINCT FROM s.grp
    GROUP BY 1
    """,
)
def join_nullsafe_eq(spark, sf_dir):
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM): NULL
    keys MATCH each other instead of silently dropping — the semantics
    needed when a nullable surrogate key is a legitimate join value.
    Still a hash join: the null-safe operator is a valid equi-key, so
    no nested-loop fallback (NULLs hash to one bucket — at 100 TB a
    large NULL population is a skew key like any other; salt it)."""
    c = _t(spark, sf_dir, "customer").select(
        F.expr("nullif(c_nationkey % 5, 0)").alias("grp_c"), "c_custkey"
    )
    s = _t(spark, sf_dir, "supplier").select(
        F.expr("nullif(s_nationkey % 5, 0)").alias("grp_s"), "s_suppkey"
    )
    return (
        c.join(s, c.grp_c.eqNullSafe(s.grp_s))
        .groupBy(F.col("grp_c").alias("grp"))
        .agg(F.count("*").alias("n_pairs"))
    )


@query(
    "sink_partitioned_read_pruned",
    oracle="""
    WITH anchor AS (SELECT coalesce(max(CAST(ts AS DATE))
                      FILTER (WHERE ts < TIMESTAMP '2180-01-01'),
                      DATE '1970-01-01') AS d
                    FROM events)
    SELECT CAST(ts AS DATE) AS evt_date, event_type,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events
    WHERE CAST(ts AS DATE) >= (SELECT d - 1 FROM anchor)
    GROUP BY 1, 2
    """,
)
def sink_partitioned_read_pruned(spark, sf_dir):
    """Date-partitioned parquet sink + partition-pruned read-back: the
    events feed is written ``partitionBy(evt_date)`` (the layout every
    incremental warehouse table uses), re-read, and filtered to the
    trailing two days — a filter on the partition COLUMN, so the scan
    lists only two date directories instead of the whole table.  At
    100 TB partition pruning is the difference between touching two
    days and thirty; the literal anchor (two-phase pattern) is what
    makes the predicate prunable at plan time.
    """
    import datetime as _dt
    import os
    import shutil
    import tempfile

    from ..io import read_parquet_like

    e = _t(spark, sf_dir, "events")
    anchor = run_date_anchor(e, _dt.date(1970, 1, 1))
    path = os.path.join(
        tempfile.gettempdir(),
        f"getdbt_spark_part_{os.path.basename(sf_dir.rstrip('/'))}"
        f"_{os.getpid()}",
    )
    shutil.rmtree(path, ignore_errors=True)
    written = e.withColumn("evt_date", F.to_date("ts"))
    (
        written.write.mode("overwrite")
        .partitionBy("evt_date")
        .parquet(path)
    )
    back = read_parquet_like(spark, path, written)
    return (
        back.filter(F.col("evt_date") >= F.lit(anchor - _dt.timedelta(days=1)))
        .groupBy("evt_date", "event_type")
        .agg(F.count("*").alias("n_events"))
    )


@query(
    "text_pii_flags",
    oracle="""
    SELECT doc_id,
           regexp_matches(text, 'https?://') AS has_url,
           regexp_matches(text, '[a-z0-9.]+@[a-z]+') AS has_email,
           CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT)
             AS n_digits
    FROM documents
    """,
)
def text_pii_flags(spark, sf_dir):
    """Content-policy scan flags: URL / email-shaped substrings and
    digit density per document — the regex pre-filter stage of a PII
    scrubbing pipeline (flag cheaply at full scale, route the tiny
    flagged subset to the expensive redaction pass).  Pure codegen'd
    regex expressions; map-only."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.col("text").rlike("https?://").alias("has_url"),
        # Single-char classes, NOT [a-z0-9.]+@[a-z]+: as a BOOLEAN,
        # X+@Y+ matches iff X@Y does, and the quantified form
        # backtracks O(L²) in Java regex on any long run without '@'
        # — a 1 MB single-token doc (hugedoc probe) turned this
        # "cheap pre-filter" into a ~10-minute stall per row: the
        # polynomial-ReDoS trap every regex PII scan hits at 100 TB.
        # DuckDB's RE2 oracle is linear either way and agrees.
        F.col("text").rlike("[a-z0-9.]@[a-z]").alias("has_email"),
        F.length(F.regexp_replace("text", "[^0-9]", ""))
        .cast("long")
        .alias("n_digits"),
    )


@query(
    "win_gaps_islands",
    oracle="""
    WITH days AS (
      SELECT DISTINCT event_type, CAST(ts AS DATE) AS d FROM events
    ), grp AS (
      SELECT event_type, d,
             d - CAST(row_number() OVER (
                   PARTITION BY event_type ORDER BY d) AS INTEGER) AS g
      FROM days
    )
    SELECT event_type,
           min(d) AS run_start,
           max(d) AS run_end,
           CAST(count(*) AS BIGINT) AS run_days
    FROM grp GROUP BY event_type, g
    """,
)
def win_gaps_islands(spark, sf_dir):
    """Gaps-and-islands: maximal runs of consecutive active DAYS per
    event type (the uptime/coverage-reporting idiom, and the discrete
    twin of time-gap sessionization).

    The classic one-window trick: ``date − row_number`` is constant
    within a consecutive run, so islands fall out of a single ordered
    window plus one aggregation — no self-join, no recursion.  Both
    stages cluster on event_type: one exchange end to end.
    """
    from pyspark.sql import Window

    days = (
        _t(spark, sf_dir, "events")
        .select("event_type", F.to_date("ts").alias("d"))
        .distinct()
    )
    g = F.date_sub(
        F.col("d"),
        F.row_number().over(
            Window.partitionBy("event_type").orderBy("d")
        ),
    )
    return (
        days.withColumn("g", g)
        .groupBy("event_type", "g")
        .agg(
            F.min("d").alias("run_start"),
            F.max("d").alias("run_end"),
            F.count("*").alias("run_days"),
        )
        .drop("g")
    )


@query(
    "agg_weighted_avg",
    oracle="""
    SELECT l_returnflag,
           round(CAST(sum(TRY_CAST(floor(l_extendedprice * 100) AS BIGINT)
                          * CAST(l_quantity AS BIGINT)) AS DOUBLE)
                 / CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE)
                 / 100.0, 4) AS qty_weighted_price
    FROM lineitem
    GROUP BY 1
    """,
)
def agg_weighted_avg(spark, sf_dir):
    """Quantity-weighted average price per return flag — the weighted
    mean as two exact integer sums (Σ cents·qty and Σ qty, both
    map-combinable and order-free) and ONE float division at the end,
    so the statistic is bit-stable across engines and partitionings
    (the same discipline as agg_stats_exact, for the most common
    weighted aggregate).
    """
    cents = E.cents("l_extendedprice")
    qty = F.col("l_quantity").cast("long")
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            E.round_to(
                F.sum(cents * qty).cast("double")
                / F.sum(qty).cast("double")
                / 100.0,
                4,
            ).alias("qty_weighted_price")
        )
    )


@query(
    "join_asof_tolerance",
    oracle="""
    WITH tagged AS (
      SELECT user_id, ts, event_id, event_type, value,
             CASE WHEN event_type = 'purchase' THEN ts END AS b_ts,
             CASE WHEN event_type = 'purchase'
                  THEN TRY_CAST(floor(value * 100) AS BIGINT) END AS b_cents
      FROM events WHERE event_type IN ('click', 'purchase')
    ), filled AS (
      SELECT user_id, ts, event_id, event_type,
             last_value(b_ts IGNORE NULLS) OVER w AS prev_purchase_ts,
             last_value(b_cents IGNORE NULLS) OVER w AS prev_purchase_cents
      FROM tagged
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING)
    )
    SELECT user_id, event_id, ts,
           CASE WHEN prev_purchase_ts IS NOT NULL
                 AND date_diff('microsecond', prev_purchase_ts, ts)
                     <= 3600000000
                THEN prev_purchase_cents END AS purchase_cents_within_1h
    FROM filled WHERE event_type = 'click'
    """,
)
def join_asof_tolerance(spark, sf_dir):
    """As-of join WITH a tolerance bound (pandas ``merge_asof``
    semantics): each click picks up the user's most recent purchase,
    but only if it happened within the last hour — older matches
    become NULL instead of staling forever.

    The scalable as-of shape: union-tag both streams, ONE ignore-nulls
    ``last_value`` window over the merged time order (no join at all —
    the match is carried forward in-partition), then the tolerance is
    a plain post-filter on the carried timestamp.  Microsecond-exact
    gap arithmetic, (ts, event_id) tie-break — the determinism rules
    from win_session_longest.  One exchange on user_id, total.
    """
    e = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    b_ts = F.when(F.col("event_type") == "purchase", F.col("ts"))
    b_cents = F.when(
        F.col("event_type") == "purchase",
        E.cents("value"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.last(b_ts, ignorenulls=True).over(w).alias("prev_purchase_ts"),
        F.last(b_cents, ignorenulls=True).over(w).alias("prev_purchase_cents"),
    )
    in_tol = (
        E.ntz_epoch_us("ts") - E.ntz_epoch_us("prev_purchase_ts")
    ) <= 3600 * 1000 * 1000
    return filled.filter(F.col("event_type") == "click").select(
        "user_id",
        "event_id",
        "ts",
        F.when(
            F.col("prev_purchase_ts").isNotNull() & in_tol,
            F.col("prev_purchase_cents"),
        ).alias("purchase_cents_within_1h"),
    )


@query(
    "setop_intersect_all",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    INTERSECT ALL
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
)
def setop_intersect_all(spark, sf_dir):
    """INTERSECT ALL — multiset intersection keeping duplicate
    cardinality min(l, r) per key (the plain INTERSECT id covers the
    distinct form).  Spark plans a hash join on the counted keys, not
    a distinct-then-join, so duplicate multiplicity survives."""
    o = _t(spark, sf_dir, "orders")
    left = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    right = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_custkey"
    )
    return left.intersectAll(right)


@query(
    "setop_except_all",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    EXCEPT ALL
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
)
def setop_except_all(spark, sf_dir):
    """EXCEPT ALL — multiset difference keeping max(l − r, 0) copies
    per key; the bag-semantics twin of setop_except."""
    o = _t(spark, sf_dir, "orders")
    left = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    right = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_custkey"
    )
    return left.exceptAll(right)


@query(
    "agg_bool_and_or",
    oracle="""
    SELECT o_orderstatus,
           bool_and(o_totalprice > 1000) AS all_over_1k,
           bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
           CAST(count(*) AS BIGINT) AS n
    FROM orders GROUP BY 1
    """,
)
def agg_bool_and_or(spark, sf_dir):
    """Boolean aggregates (every / any) — the declarative form of
    "all rows satisfy" / "some row satisfies" per group, both
    map-combinable single-bit partials at scale."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.bool_or(F.col("o_orderpriority") == "1-URGENT").alias(
            "any_urgent"
        ),
        F.count("*").alias("n"),
    )


@query(
    "scan_schema_evolution",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           CASE WHEN o_orderkey % 100 = 1 THEN o_orderstatus END
             AS o_orderstatus
    FROM orders
    WHERE o_orderkey % 100 IN (0, 1)
    """,
)
def scan_schema_evolution(spark, sf_dir):
    """Schema evolution across parquet file generations: an old slice
    written WITHOUT a column and a new slice WITH it are read as one
    table via mergeSchema — the missing column NULL-pads, the shared
    columns align by name.  This is how a long-lived warehouse table
    absorbs added columns without rewriting history.

    Scale note: mergeSchema reads every file's footer at planning
    time; production tables record the evolved schema in a catalog
    (or read with an explicit superset schema) so planning stays O(1)
    — the read below works identically with an explicit schema.
    """
    import os
    import shutil
    import tempfile

    o = _t(spark, sf_dir, "orders")
    path = os.path.join(
        tempfile.gettempdir(),
        f"getdbt_spark_evo_{os.path.basename(sf_dir.rstrip('/'))}"
        f"_{os.getpid()}",
    )
    shutil.rmtree(path, ignore_errors=True)
    (
        o.filter(F.col("o_orderkey") % 100 == 0)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .write.parquet(f"{path}/gen=0")
    )
    (
        o.filter(F.col("o_orderkey") % 100 == 1)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
        .write.parquet(f"{path}/gen=1")
    )
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(f"{path}/gen=0", f"{path}/gen=1")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    )


@query(
    "agg_ohlc_bars",
    oracle="""
    WITH k AS (
      SELECT event_type,
             CAST(floor(date_diff('microsecond',
                    TIMESTAMP '1970-01-01', ts) / 900000000.0) AS BIGINT)
               AS bar_id,
             TRY_CAST(floor(value * 100) AS BIGINT) AS cents,
             lpad(CAST(date_diff('microsecond',
                    TIMESTAMP '1970-01-01', ts) AS VARCHAR), 20, '0')
             || lpad(CAST(event_id AS VARCHAR), 12, '0') AS skey
      FROM events
    )
    SELECT event_type,
           -- make_timestamp(µs BIGINT): the interval form
           -- (INTERVAL 1 SECOND * n) coerces n to INT32, which a
           -- year-2500 bar overflows (futuredates probe)
           make_timestamp(bar_id * 900000000) AS bar_start,
           arg_min(cents, skey) AS open_cents,
           max(cents) AS high_cents,
           min(cents) AS low_cents,
           arg_max(cents, skey) AS close_cents,
           CAST(count(*) AS BIGINT) AS n_events
    FROM k GROUP BY 1, 2
    """,
)
def agg_ohlc_bars(spark, sf_dir):
    """Time-series resampling to 15-minute OHLC bars per event type —
    the downsampling primitive of every metrics/market pipeline, via
    ``min_by``/``max_by`` (no self-join back to first/last rows).

    Determinism: open/close pick by an exact epoch-microseconds +
    event_id composite key (fixed-width strings compare like the
    tuple), so timestamp ties cannot flip the pick between engines;
    prices are exact integer cents.  One map-combinable aggregation —
    min_by/max_by partials carry (value, key) pairs, so the shuffle
    is one row per (type, bar) per task at any scale.
    """
    us = E.ntz_epoch_us("ts")  # wall-pure epoch (timestampdiff session-coerces)
    cents = E.cents("value")
    skey = F.concat(
        F.lpad(us.cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    bar_id = F.floor(us / F.lit(900000000.0)).cast("long")
    bar_start = F.expr(
        "timestampadd(SECOND, _bar_id * 900, TIMESTAMP_NTZ'1970-01-01')"
    )
    k = _t(spark, sf_dir, "events").select(
        "event_type",
        bar_id.alias("_bar_id"),
        cents.alias("cents"),
        skey.alias("skey"),
    )
    return (
        k.groupBy("event_type", "_bar_id")
        .agg(
            F.min_by("cents", "skey").alias("open_cents"),
            F.max("cents").alias("high_cents"),
            F.min("cents").alias("low_cents"),
            F.max_by("cents", "skey").alias("close_cents"),
            F.count("*").alias("n_events"),
        )
        .select(
            "event_type",
            bar_start.alias("bar_start"),
            "open_cents",
            "high_cents",
            "low_cents",
            "close_cents",
            "n_events",
        )
    )


@query(
    "fn_month_boundaries",
    oracle="""
    SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
           last_day(o_orderdate) AS month_end,
           CAST(o_orderdate + INTERVAL 1 MONTH AS DATE)
             AS next_month_same_day,
           CAST(o_orderdate = last_day(o_orderdate) AS BOOLEAN)
             AS is_month_end
    FROM orders
    WHERE o_orderkey % 50 = 0
    """,
)
def fn_month_boundaries(spark, sf_dir):
    """Calendar-month arithmetic: month start/end, +1 month with
    end-of-month clamping (Jan 31 → Feb 29), and a month-end flag —
    the billing/reporting-period function family.  Both engines share
    the clamping convention, so the values hash-match exactly."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 50 == 0)
    return o.select(
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("o_orderdate"),
        F.trunc("o_orderdate", "month").alias("month_start"),
        F.last_day("o_orderdate").alias("month_end"),
        F.add_months("o_orderdate", 1).alias("next_month_same_day"),
        (F.col("o_orderdate") == F.last_day("o_orderdate")).alias(
            "is_month_end"
        ),
    )


# ---------------------------------------------------------------------------
# Distribution profiling: histogram, median/mode
# ---------------------------------------------------------------------------


@query(
    "agg_histogram",
    oracle="""
    SELECT CASE WHEN isfinite(o_totalprice)
                THEN CAST(floor(o_totalprice / 50000) AS BIGINT) END
             AS bucket_id,
           CASE WHEN isfinite(o_totalprice)
                THEN CAST(floor(o_totalprice / 50000) AS BIGINT) * 50000 END
             AS bucket_lo,
           count(*) AS n_orders,
           CAST(sum(TRY_CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM orders
    GROUP BY 1, 2
    """,
)
def agg_histogram(spark, sf_dir):
    """Equi-width histogram of order value (50k buckets) — the
    profiling primitive behind data-quality dashboards and skew
    diagnosis.  Fixed bucket bounds keep it a single map-combinable
    aggregation (no min/max pre-pass, no second scan); at 100 TB the
    shuffle carries one row per bucket per partition.
    """
    o = _t(spark, sf_dir, "orders")
    # NULL bucket for poison cells: floor(double)->BIGINT SATURATES on
    # +/-Inf and the bucket_lo multiply then overflows (poisoned-prices
    # random-corpus find); mirrors the oracle's isfinite CASE
    bucket = F.when(
        E.is_finite("o_totalprice"),
        F.floor(F.col("o_totalprice") / 50000),
    ).cast("long")
    return (
        o.select(
            bucket.alias("bucket_id"),
            (bucket * 50000).alias("bucket_lo"),
            E.cents("o_totalprice").alias("cents"),
        )
        .groupBy("bucket_id", "bucket_lo")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("cents").alias("sum_cents"),
        )
    )


@query(
    "agg_median_mode",
    oracle="""
    WITH med AS (
      SELECT l_returnflag, round(median(l_extendedprice), 4) AS median_price
      FROM lineitem WHERE isfinite(l_extendedprice) GROUP BY l_returnflag
    ), qc AS (
      SELECT l_returnflag, l_quantity, count(*) AS c
      FROM lineitem GROUP BY 1, 2
    ), md AS (
      SELECT l_returnflag, l_quantity AS mode_qty
      FROM (SELECT *, row_number() OVER (
              PARTITION BY l_returnflag ORDER BY c DESC, l_quantity ASC
            ) AS rn FROM qc)
      WHERE rn = 1
    )
    SELECT med.l_returnflag, med.median_price, md.mode_qty
    FROM med JOIN md USING (l_returnflag)
    """,
)
def agg_median_mode(spark, sf_dir):
    """Median and mode per group.  Median is the interpolated 0.5
    percentile (same convention both engines, rounded through the
    repo-wide round_to).  Mode is computed explicitly as
    count-per-value → top-1 with a deterministic tie-break (highest
    count, then smallest value) — never an engine built-in ``mode()``,
    whose tie behavior is unspecified and engine-dependent.  Both
    branches are map-combinable aggregations; the mode's window runs
    over per-group value counts (|distinct values| rows), not raw
    data.
    """
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")
    med = (
        li.filter(E.is_finite("l_extendedprice"))
        .groupBy("l_returnflag")
        .agg(E.round_to(F.median("l_extendedprice"), 4).alias("median_price"))
    )
    qc = li.groupBy("l_returnflag", "l_quantity").agg(F.count("*").alias("c"))
    w = Window.partitionBy("l_returnflag").orderBy(
        F.col("c").desc(), F.col("l_quantity").asc()
    )
    md = (
        qc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_returnflag", F.col("l_quantity").alias("mode_qty"))
    )
    return med.join(md, "l_returnflag")


# ---------------------------------------------------------------------------
# Data-quality anomaly detection
# ---------------------------------------------------------------------------


@query(
    "dq_anomaly_zscore",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, count(*) AS n_events
      FROM events GROUP BY 1
    ), stats AS (
      SELECT avg(n_events) AS mu, stddev_pop(n_events) AS sigma FROM daily
    )
    SELECT d, n_events, round((n_events - mu) / sigma, 6) AS z
    FROM daily, stats
    WHERE abs((n_events - mu) / sigma) > 1.5
    """,
)
def dq_anomaly_zscore(spark, sf_dir):
    """Volume-anomaly detection: flag days whose event count deviates
    more than 1.5σ from the corpus mean — the freshness/volume test a
    dq suite runs after every load (complements the schema tests in
    ``dq.py``).

    The z-score needs global μ/σ, but only over the *daily-aggregate*
    table (one row per day — thousands of rows at any corpus size), so
    the global statistics join is a broadcast of a 1-row frame; the
    raw events contribute one map-combinable count and are never
    re-shuffled.
    """
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count("*").alias("n_events")
    )
    stats = daily.agg(
        F.avg("n_events").alias("mu"),
        F.stddev_pop("n_events").alias("sigma"),
    )
    # try_divide: a zero-variance feed (every day identical, or a
    # single day) has no anomalies — NULL z filters out, matching the
    # oracle's NULL-on-division-by-zero; the bare `/` crashed under
    # ANSI on a one-day corpus (round-6 ties-corpus find)
    z = F.try_divide(F.col("n_events") - F.col("mu"), F.col("sigma"))
    return (
        daily.join(F.broadcast(stats))
        .filter(F.abs(z) > 1.5)
        .select("d", "n_events", E.round_to(z, 6).alias("z"))
    )


# ---------------------------------------------------------------------------
# Windows: dense_rank with ties
# ---------------------------------------------------------------------------


@query(
    "win_dense_rank_ties",
    oracle="""
    WITH ranked AS (
      SELECT c_mktsegment, c_custkey,
             TRY_CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_cents,
             dense_rank() OVER (
               PARTITION BY c_mktsegment
               ORDER BY TRY_CAST(floor(c_acctbal * 100) AS BIGINT) DESC
             ) AS rnk
      FROM customer
    )
    SELECT c_mktsegment, c_custkey, bal_cents, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= 3
    """,
)
def win_dense_rank_ties(spark, sf_dir):
    """Top-3 account balances per market segment by dense_rank — ties
    share a rank and successive ranks stay gapless, so equal-balance
    customers all surface (row_number would drop all but one
    arbitrarily).  Ranking runs on exact integer cents: ranking
    doubles risks engine-dependent tie sets at the ULP level.  Single
    hash-partition exchange on the segment key; the rank filter is
    evaluated before any further join fan-out.
    """
    from pyspark.sql import Window

    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("bal_cents").desc()
    )
    return (
        c.select(
            "c_mktsegment",
            "c_custkey",
            E.cents("c_acctbal").alias("bal_cents"),
        )
        .withColumn("rnk", F.dense_rank().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
    )


# ---------------------------------------------------------------------------
# Sink: merge/upsert incremental strategy
# ---------------------------------------------------------------------------


@query(
    "sink_incremental_merge",
    oracle="""
    SELECT user_id, count(*) AS n_events,
           CAST(sum(TRY_CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           max(CAST(ts AS DATE)) AS last_seen
    FROM events GROUP BY user_id
    """,
)
def sink_incremental_merge(spark, sf_dir):
    """dbt's ``merge`` (upsert-by-key) incremental strategy exercised
    end-to-end across two runs against one warehouse — the sibling of
    ``sink_incremental_replay``'s insert_overwrite contract.

    Run 1 loads per-user lifetime aggregates as of anchor−2; run 2
    recomputes ONLY users active in the trailing 8-day batch window
    and merges them by ``user_id`` — matched rows replaced, new users
    inserted, dormant users' rows byte-untouched.  Because every user
    with post-run-1 activity is in the batch window, the merged table
    must equal the full-history aggregate, which is exactly what the
    oracle computes — the equality PROVES the upsert semantics (a
    dropped update, duplicated key, or lost dormant row each break the
    hash).
    """
    import datetime as _dt
    import os
    import shutil
    import tempfile

    from ..io import load_table
    from ..runner import merge_upsert

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").cast("date").alias("d"),
        E.cents("value").alias("cents"),
    )
    # run-date anchor on credible clocks (the merged==full-history
    # invariant survives the clamp: a user whose only post-run-1
    # activity is future-dated still lands in run 2's active set,
    # whose re-aggregation reads FULL history)
    anchor = scalar_anchor(
        ev.filter(F.col("d") < _dt.date(2180, 1, 1)),
        F.max("d"),
        _dt.date(1970, 1, 1),
    )

    def _agg(frame):
        return frame.groupBy("user_id").agg(
            F.count("*").alias("n_events"),
            F.sum("cents").alias("sum_cents"),
            F.max("d").alias("last_seen"),
        )

    wh = os.path.join(
        tempfile.gettempdir(),
        f"getdbt_spark_merge_{os.path.basename(sf_dir.rstrip('/'))}_{os.getpid()}",
    )
    shutil.rmtree(wh, ignore_errors=True)
    merge_upsert(spark, wh, _agg(ev.filter(F.col("d") <= anchor - _dt.timedelta(days=2))), ["user_id"])
    active = ev.filter(F.col("d") > anchor - _dt.timedelta(days=8)).select("user_id").distinct()
    batch = _agg(ev.join(F.broadcast(active), "user_id"))
    return merge_upsert(spark, wh, batch, ["user_id"])


# ---------------------------------------------------------------------------
# Provenance, running totals, bit/hash functions, union-by-name
# ---------------------------------------------------------------------------


@query(
    "scan_file_provenance",
    oracle="""
    SELECT 'orders.parquet' AS file_name, count(*) AS n_rows FROM orders
    UNION ALL
    SELECT 'customer.parquet', count(*) FROM customer
    UNION ALL
    SELECT 'lineitem.parquet', count(*) FROM lineitem
    """,
)
def scan_file_provenance(spark, sf_dir):
    """Per-source-file row accounting via the ``_metadata.file_name``
    pseudo-column — the lineage/debugging primitive behind "which
    input file produced this row" investigations and per-file
    completeness checks after a bulk load.

    ``_metadata`` is served by the parquet reader itself (no extra
    column in the data, no second scan); the aggregation is
    map-combinable with one row per file.  At 100 TB this is how you
    audit a 100k-file ingest without an external manifest.  Reads the
    scan relation directly (pseudo-columns attach to the file scan,
    not to derived frames).
    """
    out = None
    for t in ("orders", "customer", "lineitem"):
        part = (
            spark.read.parquet(f"{sf_dir.rstrip('/')}/{t}.parquet")
            .select(F.col("_metadata.file_name").alias("file_name"))
            .groupBy("file_name")
            .agg(F.count("*").alias("n_rows"))
        )
        out = part if out is None else out.unionByName(part)
    return out


@query(
    "win_running_total",
    oracle="""
    SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
           TRY_CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
           CAST(sum(TRY_CAST(floor(o_totalprice * 100) AS BIGINT)) OVER (
             PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey
             ROWS UNBOUNDED PRECEDING
           ) AS BIGINT) AS running_cents
    FROM orders
    WHERE o_custkey % 10 = 0
    """,
)
def win_running_total(spark, sf_dir):
    """Per-customer running spend — the cumulative-balance window
    every ledger/statement pipeline computes.  Totals run on exact
    integer cents (double cumsum is order-sensitive at the ULP level);
    the ORDER BY includes the unique order key so ties on date have
    one deterministic accumulation order on both engines.  One
    exchange on the partition key; the running frame is the default
    streaming-friendly ROWS UNBOUNDED PRECEDING.
    """
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") % 10 == 0)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("o_orderdate"),
        E.cents("o_totalprice").alias("cents"),
    ).withColumn("running_cents", F.sum("cents").over(w))


@query(
    "fn_bitops",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_partkey & l_suppkey AS b_and,
           l_partkey | l_suppkey AS b_or,
           xor(l_partkey, l_suppkey) AS b_xor,
           l_partkey << 2 AS b_shl,
           l_partkey >> 2 AS b_shr,
           CAST(bit_count(l_partkey) AS INT) AS b_pop,
           bin(l_linenumber) AS b_bin
    FROM lineitem WHERE l_orderkey % 100 = 0
    """,
)
def fn_bitops(spark, sf_dir):
    """Bitwise function family (and/or/xor/shifts/popcount/binary
    repr) — flag packing, bitmap membership, and hash mixing all lean
    on these.  Pure codegen'd expressions, map-only."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 100 == 0)
    p, s = F.col("l_partkey"), F.col("l_suppkey")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        p.bitwiseAND(s).alias("b_and"),
        p.bitwiseOR(s).alias("b_or"),
        p.bitwiseXOR(s).alias("b_xor"),
        F.shiftleft(p, 2).cast("long").alias("b_shl"),
        F.shiftright(p, 2).cast("long").alias("b_shr"),
        F.bit_count(p).alias("b_pop"),
        F.bin("l_linenumber").alias("b_bin"),
    )


@query(
    "fn_hash_family",
    oracle="""
    SELECT c_custkey,
           md5(c_name) AS h_md5,
           sha256(c_name) AS h_sha256,
           substr(md5(c_name || '|' || c_mktsegment), 1, 16) AS h_composite
    FROM customer WHERE c_custkey % 20 = 0
    """,
)
def fn_hash_family(spark, sf_dir):
    """Cryptographic-hash function family over strings: md5, sha-256,
    and a composite-key digest — surrogate keys, change detection,
    and PII tokenization all reduce to these.  Hex output is
    lowercase on both engines, so values hash-match byte-for-byte
    (unlike engine-native ``hash()``/``xxhash64``, which are
    implementation-defined — the repo rule is portable digests only).
    """
    c = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 20 == 0)
    return c.select(
        "c_custkey",
        F.md5("c_name").alias("h_md5"),
        F.sha2(F.col("c_name"), 256).alias("h_sha256"),
        F.substring(
            F.md5(F.concat_ws("|", "c_name", "c_mktsegment")), 1, 16
        ).alias("h_composite"),
    )


@query(
    "setop_union_by_name",
    oracle="""
    SELECT o_orderkey AS k, o_orderstatus AS status,
           TRY_CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
           NULL::VARCHAR AS segment
    FROM orders WHERE o_orderkey % 200 = 0
    UNION ALL BY NAME
    SELECT c_custkey AS k, c_mktsegment AS segment,
           NULL::VARCHAR AS status, NULL::BIGINT AS cents
    FROM customer WHERE c_custkey % 50 = 0
    """,
)
def setop_union_by_name(spark, sf_dir):
    """Schema-aligned union by COLUMN NAME with missing columns
    NULL-padded (``unionByName(allowMissingColumns=True)``) — the
    safe way to stack heterogeneous branches; positional UNION ALL
    silently mis-binds when branch column orders drift (SURVEY §7's
    "untyped NULL pads" hazard, solved structurally here).  Pure
    concatenation: no shuffle, no type discovery at runtime.
    """
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 200 == 0)
        .select(
            F.col("o_orderkey").alias("k"),
            F.col("o_orderstatus").alias("status"),
            E.cents("o_totalprice").alias("cents"),
        )
    )
    c = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 50 == 0)
        .select(
            F.col("c_custkey").alias("k"),
            F.col("c_mktsegment").alias("segment"),
        )
    )
    return o.unionByName(c, allowMissingColumns=True)


# ---------------------------------------------------------------------------
# Portable HyperLogLog sketch (oracle-checkable approximate distinct)
# ---------------------------------------------------------------------------


@query(
    "agg_hll_sketch",
    oracle="""
    WITH h AS (
      SELECT l_returnflag, l_partkey,
             ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT
               AS hv
      FROM lineitem
    ), b AS (
      SELECT l_returnflag, hv % 256 AS bucket,
             max(CASE WHEN hv // 256 = 0 THEN 53
                 ELSE 53 - length(bin(hv // 256)) END) AS mj
      FROM h GROUP BY 1, 2
    ), s AS (
      SELECT l_returnflag,
             sum(power(2.0, -mj)) + (256 - count(*)) AS ssum,
             256 - count(*) AS v
      FROM b GROUP BY 1
    ), ex AS (
      SELECT l_returnflag, count(DISTINCT l_partkey) AS n_exact
      FROM lineitem GROUP BY 1
    )
    SELECT s.l_returnflag, ex.n_exact,
           round(CASE
             WHEN (0.7213 / (1 + 1.079 / 256)) * 256 * 256 / ssum <= 640
                  AND v > 0
             THEN 256 * ln(256.0 / v)
             ELSE (0.7213 / (1 + 1.079 / 256)) * 256 * 256 / ssum
           END, 3) AS n_hll
    FROM s JOIN ex USING (l_returnflag)
    """,
)
def agg_hll_sketch(spark, sf_dir):
    """HyperLogLog distinct-count sketch built from first principles on
    a PORTABLE hash — so, unlike ``approx_count_distinct`` (whose
    engine-native sketch can never be oracle-checked), the estimate is
    bit-identical on both engines and this approximate operator gets a
    full hash-green correctness row.

    m=256 registers; register = md5-60bit % m, rank = leading-zero
    count of the remaining 52 bits (+1) via ``length(bin(w))``;
    standard bias correction α_m·m²/Σ2^(−M_j) with the linear-counting
    small-range branch (Flajolet et al. 2007).  Scale shape: one
    map-combinable max per (group, register) — the shuffle carries at
    most groups×256 rows regardless of input size, THE reason HLL is
    the 100 TB distinct-count operator; the exact DISTINCT column here
    exists only to expose the sketch's error and would be dropped in
    production.
    """
    li = _t(spark, sf_dir, "lineitem")
    hv = P.md5_long(F.col("l_partkey").cast("string"))
    w = F.floor(hv / 256).cast("long")
    rho = F.when(w == 0, F.lit(53)).otherwise(53 - F.length(F.bin(w)))
    b = (
        li.select(
            "l_returnflag",
            (hv % 256).alias("bucket"),
            rho.alias("rho"),
        )
        .groupBy("l_returnflag", "bucket")
        .agg(F.max("rho").alias("mj"))
    )
    s = b.groupBy("l_returnflag").agg(
        (F.sum(F.pow(F.lit(2.0), -F.col("mj"))) + (256 - F.count("*"))).alias(
            "ssum"
        ),
        (256 - F.count("*")).alias("v"),
    )
    alpha_m2 = (0.7213 / (1 + 1.079 / 256)) * 256 * 256
    raw = F.lit(alpha_m2) / F.col("ssum")
    est = F.when(
        (raw <= 640) & (F.col("v") > 0),
        256 * F.log(256.0 / F.col("v")),
    ).otherwise(raw)
    ex = li.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("n_exact")
    )
    return s.join(ex, "l_returnflag").select(
        "l_returnflag", "n_exact", E.round_to(est, 3).alias("n_hll")
    )


@query(
    "win_ewma_daily",
    oracle="""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS d,
             CAST(sum(TRY_CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events WHERE user_id % 10 = 0
      GROUP BY 1, 2
    ), seq AS (
      SELECT user_id, d, cents,
             row_number() OVER (PARTITION BY user_id ORDER BY d) AS i
      FROM daily
    ), scaled AS (
      SELECT user_id, d, cents, i,
             cents * power(0.8, -i) AS y,
             first_value(cents) OVER (
               PARTITION BY user_id ORDER BY i
             ) AS x1
      FROM seq
    )
    SELECT user_id, d, cents,
           round(power(0.8, i) * (
             0.2 * (sum(y) OVER (PARTITION BY user_id ORDER BY i
                                 ROWS UNBOUNDED PRECEDING)
                    - x1 * power(0.8, -1))
             + x1 * power(0.8, -1)
           ) / 100.0, 4) AS ewma_value
    FROM scaled
    """,
)
def win_ewma_daily(spark, sf_dir):
    """Exponentially weighted moving average of daily per-user spend
    (α = 0.2, seeded at the first observation) — the trend-smoothing
    window behind rate limiting and anomaly baselines.

    EWMA's recursion is order-dependent, which windows can't express
    directly; the closed form used here rescales each term by
    (1−α)^(−i) so the recursion becomes ONE running sum over the
    sequence (single exchange on user_id, same frame as any cumsum).
    The rescaling grows exponentially, so the operator contract bounds
    the series length — daily grain over a bounded replay window
    (30 points ⇒ 0.8^(−30) ≈ 800, far inside double range); for
    unbounded streams the segmented variant (restart the scaling every
    K rows) is the documented extension.  Results rounded to 4
    decimals: both engines evaluate the identical expression tree
    sequentially per partition.
    """
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") % 10 == 0)
    daily = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("d")
    ).agg(F.sum(E.cents("value")).alias("cents"))
    wo = Window.partitionBy("user_id").orderBy("d")
    seq = daily.withColumn("i", F.row_number().over(wo))
    scaled = seq.select(
        "user_id",
        "d",
        "cents",
        "i",
        (F.col("cents") * F.pow(F.lit(0.8), -F.col("i"))).alias("y"),
        F.first("cents").over(wo).alias("x1"),
    )
    run = (
        Window.partitionBy("user_id")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    y1 = F.col("x1") * F.pow(F.lit(0.8), -1)
    ewma = F.pow(F.lit(0.8), F.col("i")) * (
        0.2 * (F.sum("y").over(run) - y1) + y1
    )
    return scaled.select(
        "user_id",
        "d",
        "cents",
        E.round_to(ewma / 100.0, 4).alias("ewma_value"),
    )


# ---------------------------------------------------------------------------
# Event-sequence analytics: funnels and retention cohorts
# ---------------------------------------------------------------------------


@query(
    "agg_funnel_steps",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             min(CASE WHEN event_type = 'purchase' THEN ts END)
               AS t_purchase
      FROM events GROUP BY user_id
    ), flags AS (
      SELECT user_id,
             (t_view IS NOT NULL) AS s1,
             (t_view IS NOT NULL AND t_click > t_view) AS s2,
             (t_view IS NOT NULL AND t_click > t_view
              AND t_purchase > t_click) AS s3
      FROM per_user
    )
    SELECT count(*) AS n_users,
           CAST(sum(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
           CAST(sum(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click,
           CAST(sum(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel,
           round(sum(CASE WHEN s3 THEN 1 ELSE 0 END)::DOUBLE
                 / nullif(sum(CASE WHEN s1 THEN 1 ELSE 0 END), 0), 6)
             AS conversion
    FROM flags
    """,
)
def agg_funnel_steps(spark, sf_dir):
    """Ordered funnel analysis: users whose FIRST view precedes their
    first click precedes their first purchase — the product-analytics
    staple.  The sequence constraint compiles to one conditional-min
    aggregation per step followed by scalar comparisons: a single
    map-combinable pass over the event stream, no self-joins, no
    per-user sorting (the min-per-step trick is why funnels stay
    linear at 100 TB where the naive k-way self-join is k-fold
    quadratic).  NULL semantics give strict ordering for free: a
    missing step yields NULL > / < comparisons = false on both
    engines.
    """
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "t_view"
        ),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias(
            "t_click"
        ),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("t_purchase"),
    )
    s1 = F.col("t_view").isNotNull()
    s2 = s1 & (F.col("t_click") > F.col("t_view"))
    s3 = s2 & (F.col("t_purchase") > F.col("t_click"))
    flags = per_user.select(
        s1.alias("s1"), s2.alias("s2"), s3.alias("s3")
    )
    cnt = lambda c: F.sum(F.when(F.col(c), 1).otherwise(0))
    return flags.agg(
        F.count("*").alias("n_users"),
        cnt("s1").alias("n_view"),
        cnt("s2").alias("n_view_click"),
        cnt("s3").alias("n_full_funnel"),
        E.round_to(
            cnt("s3").cast("double") / F.nullif(cnt("s1"), F.lit(0)), 6
        ).alias("conversion"),
    )


@query(
    "agg_retention_cohorts",
    oracle="""
    WITH firsts AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS first_day
      FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT e.user_id,
             date_diff('day', f.first_day, CAST(e.ts AS DATE)) // 7
               AS week_offset,
             f.first_day
      FROM events e JOIN firsts f USING (user_id)
    ), cohorts AS (
      SELECT date_trunc('week', first_day) AS cohort_week,
             week_offset, count(*) AS n_active
      FROM activity GROUP BY 1, 2
    ), base AS (
      SELECT cohort_week, n_active AS cohort_size
      FROM cohorts WHERE week_offset = 0
    )
    SELECT c.cohort_week, CAST(c.week_offset AS BIGINT) AS week_offset,
           c.n_active,
           round(c.n_active::DOUBLE / b.cohort_size, 6) AS retention
    FROM cohorts c JOIN base b USING (cohort_week)
    """,
)
def agg_retention_cohorts(spark, sf_dir):
    """Cohort retention matrix: users grouped by first-seen week,
    tracked by activity in each subsequent 7-day offset bucket, with
    retention normalized to the cohort's week-0 size.

    Three map-combinable aggregations chained on already-reduced
    frames (user-grain, then cohort-grain); the base-size join is over
    the cohort dimension (weeks — tiny, broadcast).  The raw event
    stream is touched exactly twice (first-seen min and the distinct
    activity projection), both pushdown-friendly single passes —
    the shape that keeps cohort dashboards cheap over years of
    events.  Offsets bucket by elapsed days/7 from the user's OWN
    first day (not calendar weeks), the convention that makes week-0
    retention exactly 1.0.
    """
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("d")
    )
    firsts = ev.groupBy("user_id").agg(F.min("d").alias("first_day"))
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            F.date_trunc("week", "first_day")
            .cast("date")
            .alias("cohort_week"),
            F.floor(F.datediff("d", "first_day") / 7).alias("week_offset"),
        )
        .distinct()
    )
    cohorts = activity.groupBy("cohort_week", "week_offset").agg(
        F.count("*").alias("n_active")
    )
    base = cohorts.filter(F.col("week_offset") == 0).select(
        "cohort_week", F.col("n_active").alias("cohort_size")
    )
    return cohorts.join(F.broadcast(base), "cohort_week").select(
        "cohort_week",
        F.col("week_offset").cast("long").alias("week_offset"),
        "n_active",
        E.round_to(
            F.col("n_active").cast("double") / F.col("cohort_size"), 6
        ).alias("retention"),
    )


@query(
    "sink_cdc_changelog",
    oracle="""
    WITH old_snap AS (
      SELECT user_id, count(*) AS n, sum(TRY_CAST(floor(value * 100) AS BIGINT))
               AS cents
      FROM events WHERE CAST(ts AS DATE) <= DATE '2024-01-20'
      GROUP BY user_id
    ), new_snap AS (
      SELECT user_id, count(*) AS n, sum(TRY_CAST(floor(value * 100) AS BIGINT))
               AS cents
      FROM events WHERE CAST(ts AS DATE) >= DATE '2024-01-11'
      GROUP BY user_id
    )
    SELECT coalesce(o.user_id, n.user_id) AS user_id,
           CASE WHEN o.user_id IS NULL THEN 'insert'
                WHEN n.user_id IS NULL THEN 'delete'
                ELSE 'update' END AS op,
           o.n AS old_n, CAST(o.cents AS BIGINT) AS old_cents,
           n.n AS new_n, CAST(n.cents AS BIGINT) AS new_cents
    FROM old_snap o FULL OUTER JOIN new_snap n USING (user_id)
    WHERE o.user_id IS NULL OR n.user_id IS NULL
          OR o.n != n.n OR o.cents != n.cents
    """,
)
def sink_cdc_changelog(spark, sf_dir):
    """Change-data-capture between two warehouse snapshots: emit an
    insert/update/delete changelog keyed by user — the diff feed a
    downstream incremental consumer (or an SCD2 snapshot, see
    ``snapshots.py``) applies instead of re-reading the full table.

    Snapshot diffing is ONE full outer hash join on the key plus a
    changed-row filter — no sorting, no window — and both sides are
    already aggregate-grain (small relative to raw events).  Identical
    no-op rows are dropped before they shuffle anywhere downstream;
    at 100 TB the changelog is proportional to the churn, not the
    table.  (Two fixed snapshot windows stand in for "yesterday's
    table vs today's" so the oracle can reproduce both sides.)
    """
    import datetime as _dt

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").cast("date").alias("d"),
        E.cents("value").alias("cents"),
    )

    def snap(pred):
        return ev.filter(pred).groupBy("user_id").agg(
            F.count("*").alias("n"), F.sum("cents").alias("cents")
        )

    old = snap(F.col("d") <= _dt.date(2024, 1, 20)).select(
        "user_id", F.col("n").alias("old_n"), F.col("cents").alias("old_cents")
    )
    new = snap(F.col("d") >= _dt.date(2024, 1, 11)).select(
        "user_id", F.col("n").alias("new_n"), F.col("cents").alias("new_cents")
    )
    j = old.join(new, "user_id", "full_outer")
    op = (
        F.when(F.col("old_n").isNull(), F.lit("insert"))
        .when(F.col("new_n").isNull(), F.lit("delete"))
        .otherwise(F.lit("update"))
    )
    changed = (
        F.col("old_n").isNull()
        | F.col("new_n").isNull()
        | (F.col("old_n") != F.col("new_n"))
        | (F.col("old_cents") != F.col("new_cents"))
    )
    return j.filter(changed).select(
        "user_id", op.alias("op"),
        "old_n", "old_cents", "new_n", "new_cents",
    )


# ---------------------------------------------------------------------------
# Deterministic sampling & approximate quantiles; error-safe arithmetic;
# star joins; clustered sinks
# ---------------------------------------------------------------------------


@query(
    "agg_quantile_sampled",
    oracle="""
    WITH ranked AS (
      SELECT o_totalprice
      FROM orders
      WHERE isfinite(o_totalprice)
      ORDER BY ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))
                 ::BIGINT
      LIMIT 1000
    )
    SELECT CAST(count(*) AS BIGINT) AS n_sample,
           round(quantile_cont(o_totalprice, 0.5), 4) AS p50_s,
           round(quantile_cont(o_totalprice, 0.9), 4) AS p90_s,
           round(quantile_cont(o_totalprice, 0.99), 4) AS p99_s
    FROM ranked
    """,
)
def agg_quantile_sampled(spark, sf_dir):
    """Approximate quantiles over a DETERMINISTIC hash-ranked sample —
    the portable alternative to ``percentile_approx`` (whose GK sketch
    is engine-internal and can never hash-match an oracle).  The
    sample is the 1000 rows with the smallest md5(key): a pure
    function of the data, so both engines see the identical sample
    and the interpolated quantiles agree exactly.

    The ranked-limit compiles to ``TakeOrderedAndProject`` — a
    1000-row heap per partition merged on the driver, never a full
    sort — so sample selection is O(n) scan + O(k log k) merge at any
    scale, and the quantile computation itself touches only k rows.
    Error vs the exact percentiles is pinned in tests.
    """
    o = _t(spark, sf_dir, "orders")
    ranked = (
        # finite before sampling: the quantile input must exclude
        # poison identically in both engines
        o.filter(E.is_finite("o_totalprice"))
        .select(
            "o_totalprice",
            P.md5_long(F.col("o_orderkey").cast("string")).alias("hk"),
        )
        .orderBy("hk")
        .limit(1000)
    )
    return ranked.agg(
        F.count("*").alias("n_sample"),
        E.round_to(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50_s"),
        E.round_to(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90_s"),
        E.round_to(F.expr("percentile(o_totalprice, 0.99)"), 4).alias(
            "p99_s"
        ),
    )


@query(
    "sample_weighted",
    oracle="""
    WITH keyed AS (
      SELECT o_orderstatus, o_totalprice,
             ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))
               ::BIGINT / 1152921504606846976.0 AS u
      FROM orders
    )
    SELECT o_orderstatus, count(*) AS n_kept,
           CAST(sum(TRY_CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents_kept
    FROM keyed
    WHERE u < 0.2 * o_totalprice / 500000.0
    GROUP BY o_orderstatus
    """,
)
def sample_weighted(spark, sf_dir):
    """Weighted Bernoulli sampling without RNG state: row i is kept iff
    its md5-uniform u_i < rate·wᵢ/w_max — high-value rows
    oversampled in proportion to weight, membership a pure function of
    the stable key (reproducible across runs, engines, partitionings,
    and retries; the property RAND()-based sampling loses on every
    speculative re-execution).  Map-only keep decision (sargable into
    the scan) + one map-combinable aggregation.
    """
    o = _t(spark, sf_dir, "orders")
    u = P.md5_long(F.col("o_orderkey").cast("string")) / F.lit(
        float(1 << 60)
    )
    return (
        o.filter(u < 0.2 * F.col("o_totalprice") / 500000.0)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_kept"),
            F.sum(E.cents("o_totalprice")).alias("cents_kept"),
        )
    )


@query(
    "fn_try_arith",
    oracle="""
    SELECT o_orderkey,
           round(o_totalprice / nullif(o_orderkey % 3, 0), 4) AS safe_div,
           TRY_CAST(o_orderpriority AS INTEGER) AS bad_int,
           TRY_CAST(o_orderkey % 400 AS TINYINT) AS narrow_int,
           TRY_CAST(o_orderpriority AS TIMESTAMP) AS bad_ts
    FROM orders WHERE o_orderkey % 100 = 0
    """,
)
def fn_try_arith(spark, sf_dir):
    """Error-safe arithmetic/cast family: NULL instead of a runtime
    error for divide-by-zero, unparseable strings, and narrowing
    overflow — the semantics that keep a 100 TB batch job alive at row
    3 billion instead of failing the stage (ANSI mode's try_* escape
    hatches; DuckDB's TRY_CAST / nullif are the exact equivalents).
    """
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 0)
    return o.select(
        "o_orderkey",
        E.round_to(
            F.try_divide(
                F.col("o_totalprice"), F.col("o_orderkey") % 3
            ),
            4,
        ).alias("safe_div"),
        F.col("o_orderpriority").try_cast("int").alias("bad_int"),
        (F.col("o_orderkey") % 400).try_cast("tinyint").alias("narrow_int"),
        F.col("o_orderpriority").try_cast("timestamp").alias("bad_ts"),
    )


@query(
    "join_star_multihop",
    oracle="""
    SELECT r.r_name, count(*) AS n_orders,
           CAST(sum(TRY_CAST(floor(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY r.r_name
    """,
)
def join_star_multihop(spark, sf_dir):
    """Three-hop snowflake rollup (orders→customer→nation→region) —
    the canonical star-schema shape.  Every dimension side is
    catalog-bounded and explicitly broadcast, so the fact table
    streams through three map-side hash joins WITHOUT ever shuffling,
    and the only exchange is the final 5-region aggregation.  This is
    the plan discipline that makes dimensional rollups O(fact-scan)
    at 100 TB.
    """
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(E.cents("o_totalprice")).alias("cents"),
        )
    )


@query(
    "sink_sorted_clustered",
    oracle="""
    SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
           TRY_CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
    WHERE CAST(o_orderdate AS DATE) >= DATE '1998-01-01'
      AND CAST(o_orderdate AS DATE) < DATE '1998-07-01'
    """,
)
def sink_sorted_clustered(spark, sf_dir):
    """Write-side clustering: the warehouse copy is range-partitioned
    AND sorted by order date before writing, so every parquet file
    covers a narrow date band and a date-range read-back skips whole
    files/row-groups on min-max statistics — the poor man's Z-order,
    and the cheapest 100 TB accelerant there is for time-range
    queries.  ``repartitionByRange`` gives file-level pruning,
    ``sortWithinPartitions`` gives row-group-level pruning; the
    read-back's date filter lands in PushedFilters where the stats
    apply.  The oracle checks the round-trip against the source table
    directly (values, not layout).
    """
    import os
    import shutil
    import tempfile

    path = os.path.join(
        tempfile.gettempdir(),
        f"getdbt_spark_clustered_{os.path.basename(sf_dir.rstrip('/'))}"
        f"_{os.getpid()}",
    )
    if not os.path.exists(path):
        staging = path + ".staging"
        shutil.rmtree(staging, ignore_errors=True)
        (
            _t(spark, sf_dir, "orders")
            .select(
                "o_orderkey",
                F.col("o_orderdate").cast("date").alias("o_orderdate"),
                E.cents("o_totalprice").alias("cents"),
            )
            .repartitionByRange(8, "o_orderdate")
            .sortWithinPartitions("o_orderdate")
            .write.mode("overwrite")
            .parquet(staging)
        )
        os.rename(staging, path)
    import datetime as _dt

    return spark.read.parquet(path).filter(
        (F.col("o_orderdate") >= _dt.date(1998, 1, 1))
        & (F.col("o_orderdate") < _dt.date(1998, 7, 1))
    )


@query(
    "agg_linreg_by_group",
    oracle="""
    WITH q AS (
      SELECT l_returnflag,
             CAST(TRY_CAST(floor(l_quantity * 100) AS BIGINT) AS DECIMAL(38,0))
               AS x,
             CAST(TRY_CAST(floor(l_extendedprice * 100) AS BIGINT)
                  AS DECIMAL(38,0)) AS y
      FROM lineitem
    ), s AS (
      SELECT l_returnflag,
             CAST(count(*) AS DECIMAL(38,0)) AS n,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
      FROM q GROUP BY 1
    )
    SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
           round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
             AS slope,
           round((CAST(sy AS DOUBLE)
                  - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                    * CAST(sx AS DOUBLE))
                 / CAST(n AS DOUBLE) / 100.0, 6) AS intercept,
           round(power(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE), 2)
                 / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
             AS r2
    FROM s
    """,
)
def agg_linreg_by_group(spark, sf_dir):
    """Per-group OLS fit (slope, intercept, R²) of price on quantity —
    in-engine regression from the SAME exact DECIMAL(38,0) moment
    sums as ``agg_stats_exact``: all accumulation is order-free
    integer arithmetic (map-combinable, partitioning-stable), and the
    doubles appear only in the final closed-form division, so both
    engines produce bit-identical coefficients.  At 100 TB this is
    one pass + a groups-sized reduction — regression as an aggregate,
    not a solver.  (Built-ins ``regr_slope``/``regr_intercept``
    accumulate in doubles and are NOT cross-engine stable.)
    """
    li = _t(spark, sf_dir, "lineitem")
    x = F.floor(F.col("l_quantity") * 100).cast("long").cast("decimal(38,0)")
    y = (
        E.cents("l_extendedprice")
        .cast("long")
        .cast("decimal(38,0)")
    )
    s = (
        li.select("l_returnflag", x.alias("x"), y.alias("y"))
        .groupBy("l_returnflag")
        .agg(
            F.count("*").cast("decimal(38,0)").alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
        )
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    num = nd * sxy - sx * sy
    den = nd * sxx - sx * sx
    slope = num / den
    return s.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n_rows"),
        E.round_to(slope, 6).alias("slope"),
        E.round_to((sy - slope * sx) / nd / 100.0, 6).alias("intercept"),
        E.round_to(
            F.pow(num, 2) / (den * (nd * syy - sy * sy)), 6
        ).alias("r2"),
    )


@query(
    "join_bloom_prefilter",
    oracle="""
    WITH build AS (
      SELECT DISTINCT o_orderkey AS k FROM orders
      WHERE o_totalprice > 400000
    ), bloom AS (
      SELECT DISTINCT
             ('0x' || substr(md5(CAST(k AS VARCHAR) || ':' ||
                                 CAST(j AS VARCHAR)), 1, 15))::BIGINT % 32768
               AS pos
      FROM build, (SELECT unnest([1, 2, 3]) AS j)
    ), probe AS (
      SELECT l_orderkey, l_returnflag,
             ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || ':' ||
                                 CAST(j AS VARCHAR)), 1, 15))::BIGINT % 32768
               AS pos
      FROM lineitem, (SELECT unnest([1, 2, 3]) AS j)
    ), hits AS (
      SELECT l_orderkey, l_returnflag
      FROM probe JOIN bloom USING (pos)
      GROUP BY l_orderkey, l_returnflag
      HAVING count(*) = 3
    )
    SELECT h.l_returnflag,
           count(*) AS n_pass,
           CAST(sum(CASE WHEN b.k IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_true,
           CAST(sum(CASE WHEN b.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_false_positive
    FROM hits h LEFT JOIN build b ON b.k = h.l_orderkey
    GROUP BY h.l_returnflag
    """,
)
def join_bloom_prefilter(spark, sf_dir):
    """Bloom-filter semi-join pre-filter built portably from md5:
    m=32768 bits, k=3 salted hashes — the runtime-filter idea (only
    probe rows whose k positions are all set reach the real join)
    expressed as data, so the filter itself is oracle-checkable,
    including its EXACT false-positive set (engine-native
    ``bloom_filter_agg``/runtime bloom joins are
    implementation-defined and unverifiable across engines).

    Scale shape: the bit set is fixed-size (≤ m rows) regardless of
    build-side cardinality — broadcast it and the probe side is
    map-only until the tiny per-key position count; at 100 TB this is
    how a selective dimension filter reaches the fact scan before the
    shuffle.  Spark's native equivalent
    (``spark.sql.optimizer.runtime.bloomFilter.enabled``) injects the
    same structure invisibly; this operator is the explicit,
    verifiable form.
    """
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    salts = F.array(*[F.lit(j) for j in (1, 2, 3)])

    def positions(key):
        return F.explode(
            F.transform(
                salts,
                lambda j: P.md5_long(
                    F.concat_ws(":", key.cast("string"), j.cast("string"))
                )
                % 32768,
            )
        )

    build = o.filter(F.col("o_totalprice") > 400000).select(
        F.col("o_orderkey").alias("k")
    ).distinct()
    bloom = build.select(positions(F.col("k")).alias("pos")).distinct()
    probe = li.select(
        "l_orderkey",
        "l_returnflag",
        positions(F.col("l_orderkey")).alias("pos"),
    )
    hits = (
        probe.join(F.broadcast(bloom), "pos")
        .groupBy("l_orderkey", "l_returnflag")
        .agg(F.count("*").alias("nset"))
        .filter(F.col("nset") == 3)
    )
    return (
        hits.join(F.broadcast(build), hits.l_orderkey == build.k, "left")
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_pass"),
            F.sum(F.when(F.col("k").isNotNull(), 1).otherwise(0)).alias(
                "n_true"
            ),
            F.sum(F.when(F.col("k").isNull(), 1).otherwise(0)).alias(
                "n_false_positive"
            ),
        )
    )


@query(
    "dq_skew_report",
    oracle="""
    WITH sizes AS (
      SELECT o_custkey, count(*) AS c FROM orders GROUP BY o_custkey
    ), tot AS (
      SELECT count(*) AS n_rows FROM orders
    )
    SELECT CAST(count(*) AS BIGINT) AS n_keys,
           CAST(max(c) AS BIGINT) AS max_key_rows,
           round(max(c)::DOUBLE / any_value(t.n_rows), 6)
             AS max_key_share,
           round(max(c)::DOUBLE / avg(c), 6) AS skew_factor,
           round(quantile_cont(c, 0.99) / quantile_cont(c, 0.5), 6)
             AS p99_over_median
    FROM sizes, tot t
    """,
)
def dq_skew_report(spark, sf_dir):
    """Key-skew diagnostics for a prospective join/agg key: key count,
    the hottest key's row count and share, max/mean skew factor, and
    the p99/median group-size ratio — the numbers that DECIDE between
    a plain shuffle, AQE skew splitting, and explicit salting
    (`scale.py`'s salted_join/salted_agg are the remedies this report
    prescribes).

    One map-combinable count per key plus constant-size statistics
    over the (keys-sized, not rows-sized) size table; cheap enough to
    run as a pre-flight check before any 100 TB join.
    """
    o = _t(spark, sf_dir, "orders")
    sizes = o.groupBy("o_custkey").agg(F.count("*").alias("c"))
    n_rows = o.count()
    return sizes.agg(
        F.count("*").cast("long").alias("n_keys"),
        F.max("c").cast("long").alias("max_key_rows"),
        E.round_to(
            F.max("c").cast("double") / F.lit(float(n_rows)), 6
        ).alias("max_key_share"),
        E.round_to(F.max("c").cast("double") / F.avg("c"), 6).alias(
            "skew_factor"
        ),
        E.round_to(
            F.expr("percentile(c, 0.99)") / F.expr("percentile(c, 0.5)"), 6
        ).alias("p99_over_median"),
    )


@query(
    "scan_csv_roundtrip",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment,
           TRY_CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_cents
    FROM customer WHERE c_custkey % 40 = 0
    """,
)
def scan_csv_roundtrip(spark, sf_dir):
    """CSV source with an EXPLICIT schema, round-tripped from a
    deterministic customer slice — completing the source-format
    matrix (parquet / JSONL / ORC / seed-CSV / direct-CSV).  As with
    JSONL, the declared schema is the scale-critical part: CSV
    inference is an extra full pass and type-drifts on content; money
    travels as integer cents so the text format cannot lose precision.
    """
    import os
    import shutil
    import tempfile

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    path = os.path.join(
        tempfile.gettempdir(),
        f"getdbt_spark_csv_{os.path.basename(sf_dir.rstrip('/'))}"
        f"_{os.getpid()}",
    )
    if not os.path.exists(path):
        staging = path + ".staging"
        shutil.rmtree(staging, ignore_errors=True)
        (
            _t(spark, sf_dir, "customer")
            .filter(F.col("c_custkey") % 40 == 0)
            .select(
                "c_custkey",
                "c_name",
                "c_mktsegment",
                E.cents("c_acctbal").alias("bal_cents"),
            )
            .write.option("header", True)
            .mode("overwrite")
            .csv(staging)
        )
        os.rename(staging, path)
    schema = StructType(
        [
            StructField("c_custkey", LongType()),
            StructField("c_name", StringType()),
            StructField("c_mktsegment", StringType()),
            StructField("bal_cents", LongType()),
        ]
    )
    return spark.read.schema(schema).option("header", True).csv(path)


@query(
    "win_time_range_frame",
    oracle="""
    SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
           CAST(sum(TRY_CAST(floor(o_totalprice * 100) AS BIGINT)) OVER (
             PARTITION BY o_custkey
             ORDER BY CAST(o_orderdate AS DATE)
             RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS trailing_7d_cents
    FROM orders WHERE o_custkey % 25 = 0
    """,
)
def win_time_range_frame(spark, sf_dir):
    """Trailing-7-day spend per customer via a TIME-interval RANGE
    frame — the moving-window aggregate where the frame is defined by
    event-time distance, not row count (rows on the same day share a
    frame; gaps shrink it).  Spark's rangeBetween is numeric, so the
    date maps to an epoch-day ordinal — semantically identical to
    DuckDB's ``RANGE BETWEEN INTERVAL 6 DAY PRECEDING``.  Exact
    integer cents; one exchange on the partition key.
    """
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") % 25 == 0)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_date(F.col("o_orderdate").cast("date")))
        .rangeBetween(-6, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("o_orderdate"),
        F.sum(E.cents("o_totalprice")).over(w).alias("trailing_7d_cents"),
    )


@query(
    "agg_funnel_in_session",
    oracle="""
    WITH l AS (
      SELECT user_id, ts, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), s AS (
      SELECT user_id, ts, event_type,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM l
    ), per_sess AS (
      SELECT user_id, sess_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             min(CASE WHEN event_type = 'purchase' THEN ts END)
               AS t_purchase
      FROM s GROUP BY user_id, sess_id
    )
    SELECT count(*) AS n_sessions,
           CAST(sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_view_sessions,
           CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_click_after_view,
           CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                    AND t_purchase > t_click THEN 1 ELSE 0 END) AS BIGINT)
             AS n_converted
    FROM per_sess
    """,
)
def agg_funnel_in_session(spark, sf_dir):
    """The strict form of funnel analysis: the view→click→purchase
    sequence must complete WITHIN one 30-minute-gap session, not over
    the user's lifetime — the definition product analytics actually
    bills as "conversion".

    Composes sessionization (the lag→flag→cumsum idiom, same as
    `streaming_session_stats`' oracle) with the conditional-min
    funnel: both windows cluster on user_id, so the whole pipeline —
    session assignment, per-session step minima, the ordering check —
    shares ONE hash exchange before the constant-size rollup.  The
    event order is ``ts`` alone, like the oracle's: tie-safe, because
    a tied event's gap is 0 (see ``_with_session_id``).
    """
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    sess = _with_session_id(ev, ["ts"], inclusive=True)
    per_sess = sess.groupBy("user_id", "sess_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "t_view"
        ),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias(
            "t_click"
        ),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("t_purchase"),
    )
    s1 = F.col("t_view").isNotNull()
    s2 = s1 & (F.col("t_click") > F.col("t_view"))
    s3 = s2 & (F.col("t_purchase") > F.col("t_click"))
    flag = lambda c: F.sum(F.when(c, 1).otherwise(0))
    return per_sess.agg(
        F.count("*").alias("n_sessions"),
        flag(s1).alias("n_view_sessions"),
        flag(s2).alias("n_click_after_view"),
        flag(s3).alias("n_converted"),
    )


@query(
    "win_rank_change",
    oracle="""
    WITH yearly AS (
      SELECT o_custkey, EXTRACT(year FROM o_orderdate) AS yr,
             sum(TRY_CAST(floor(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders
      WHERE EXTRACT(year FROM o_orderdate) IN (1997, 1998)
      GROUP BY 1, 2
    ), ranked AS (
      SELECT o_custkey, yr, cents,
             rank() OVER (PARTITION BY yr ORDER BY cents DESC, o_custkey)
               AS rnk
      FROM yearly
    )
    SELECT a.o_custkey,
           CAST(a.rnk AS BIGINT) AS rank_1997,
           CAST(b.rnk AS BIGINT) AS rank_1998,
           CAST(a.rnk AS BIGINT) - CAST(b.rnk AS BIGINT) AS rank_gain
    FROM ranked a JOIN ranked b USING (o_custkey)
    WHERE a.yr = 1997 AND b.yr = 1998
          AND a.rnk <= 100 AND b.rnk <= 100
    """,
)
def win_rank_change(spark, sf_dir):
    """Rank-migration analysis: customers in the top-100 by spend in
    BOTH 1997 and 1998, with their rank delta — the leaderboard-
    movement report (who climbed, who slid).  Two period ranks from
    one aggregated frame, self-joined on the entity key; ranks use a
    deterministic tie-break and exact integer cents so the orderings
    are engine-stable.  All work after the first aggregation is over
    entity-grain rows — at 100 TB the raw facts are touched once.
    """
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    yearly = (
        o.withColumn("yr", F.year("o_orderdate"))
        .filter(F.col("yr").isin(1997, 1998))
        .groupBy("o_custkey", "yr")
        .agg(F.sum(E.cents("o_totalprice")).alias("cents"))
    )
    w = Window.partitionBy("yr").orderBy(
        F.col("cents").desc(), F.col("o_custkey")
    )
    ranked = yearly.withColumn("rnk", F.rank().over(w).cast("long"))
    a = ranked.filter((F.col("yr") == 1997) & (F.col("rnk") <= 100)).select(
        "o_custkey", F.col("rnk").alias("rank_1997")
    )
    b = ranked.filter((F.col("yr") == 1998) & (F.col("rnk") <= 100)).select(
        "o_custkey", F.col("rnk").alias("rank_1998")
    )
    return a.join(b, "o_custkey").select(
        "o_custkey",
        "rank_1997",
        "rank_1998",
        (F.col("rank_1997") - F.col("rank_1998")).alias("rank_gain"),
    )


@query(
    "agg_market_basket",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey % 100 AS part_bucket
      FROM lineitem
    ), pairs AS (
      SELECT a.part_bucket AS item_a, b.part_bucket AS item_b,
             count(*) AS n_orders
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.part_bucket < b.part_bucket
      GROUP BY 1, 2
    )
    SELECT item_a, item_b, n_orders
    FROM pairs WHERE n_orders >= 40
    """,
)
def agg_market_basket(spark, sf_dir):
    """Market-basket co-occurrence: item pairs appearing together in
    the same order above a support threshold — the association-rules
    primitive (items bucketed to a 100-ary catalog so supports are
    meaningful at test scale).

    The self-join is WITHIN the basket key (orderkey), so the pair
    fan-out is Σ|basket|² with baskets bounded by order size (~7
    lines) — linear in orders, never items × items; the support
    HAVING prunes before anything downstream.  This in-basket
    self-join + threshold is exactly how FP-growth's candidate
    generation is fed at warehouse scale.
    """
    li = _t(spark, sf_dir, "lineitem")
    items = li.select(
        "l_orderkey", (F.col("l_partkey") % 100).alias("part_bucket")
    ).distinct()
    a = items.select("l_orderkey", F.col("part_bucket").alias("item_a"))
    b = items.select("l_orderkey", F.col("part_bucket").alias("item_b"))
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") >= 40)
    )


@query(
    "win_wow_delta",
    oracle="""
    WITH weekly AS (
      SELECT date_trunc('week', CAST(ts AS DATE)) AS wk, event_type,
             count(*) AS n_events
      FROM events GROUP BY 1, 2
    )
    SELECT CAST(wk AS DATE) AS wk, event_type, n_events,
           lag(n_events) OVER w AS prev_week,
           n_events - lag(n_events) OVER w AS wow_delta,
           round((n_events - lag(n_events) OVER w)::DOUBLE
                 / nullif(lag(n_events) OVER w, 0), 6) AS wow_pct
    FROM weekly
    WINDOW w AS (PARTITION BY event_type ORDER BY wk)
    """,
)
def win_wow_delta(spark, sf_dir):
    """Week-over-week deltas per event type — the BI staple: weekly
    rollup, lag to the prior week, absolute and relative change.
    The lag runs over the WEEKLY aggregate (constant-size per type),
    so the window stage costs nothing at any event volume; the ratio
    NULLs safely on a zero prior week.
    """
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    weekly = ev.groupBy(
        F.date_trunc("week", F.col("ts").cast("date")).cast("date").alias("wk"),
        "event_type",
    ).agg(F.count("*").alias("n_events"))
    w = Window.partitionBy("event_type").orderBy("wk")
    prev = F.lag("n_events").over(w)
    return weekly.select(
        "wk",
        "event_type",
        "n_events",
        prev.alias("prev_week"),
        (F.col("n_events") - prev).alias("wow_delta"),
        E.round_to(
            (F.col("n_events") - prev).cast("double")
            / F.nullif(prev, F.lit(0)),
            6,
        ).alias("wow_pct"),
    )


@query(
    "win_pareto_share",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey,
             sum(TRY_CAST(floor(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders GROUP BY o_custkey
    ), ranked AS (
      SELECT o_custkey, cents,
             row_number() OVER (ORDER BY cents DESC, o_custkey) AS rnk,
             sum(cents) OVER (ORDER BY cents DESC, o_custkey
                              ROWS UNBOUNDED PRECEDING) AS run_cents,
             sum(cents) OVER () AS tot_cents,
             count(*) OVER () AS n_cust
    FROM per_cust
    )
    SELECT CAST(rnk AS BIGINT) AS rnk, o_custkey,
           CAST(cents AS BIGINT) AS cents,
           round(run_cents::DOUBLE / tot_cents, 6) AS cum_revenue_share,
           round(rnk::DOUBLE / n_cust, 6) AS cum_customer_share,
           CASE WHEN run_cents::DOUBLE / tot_cents <= 0.5 THEN 'A'
                WHEN run_cents::DOUBLE / tot_cents <= 0.8 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM ranked WHERE rnk <= 200
    """,
)
def win_pareto_share(spark, sf_dir):
    """Pareto / ABC analysis: customers ranked by lifetime revenue
    with cumulative revenue- and customer-share, classed A/B/C at the
    50%/80% cumulative-revenue cuts — the concentration report behind
    every "top X% of customers drive Y%" decision.

    Output is capped to the top-200 head of the curve, so the head is
    fetched with ``orderBy().limit(200)`` — TakeOrderedAndProject,
    each task keeps a local top-200 and the driver merges, distributed
    at any customer count.  The running cumsum for rank i only needs
    ranks 1..i, which all live INSIDE the top-200 set, so the global
    window runs over a 200-row bounded input (GLOBAL_WINDOW_ALLOW);
    the whole-population denominators (total cents, customer count)
    come from one map-combinable aggregate collected as a 1-row scalar
    anchor.  Exact integer cents make the cumsum engine-deterministic;
    the deterministic tie-break keeps equal-revenue customers in one
    order on both engines (and makes the 200-row cut exact).
    """
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(E.cents("o_totalprice")).alias("cents")
    )
    tot = per_cust.agg(
        F.sum("cents").alias("t"), F.count("*").alias("n")
    ).collect()[0]
    tot_cents, n_cust = (tot["t"] or 0), (tot["n"] or 0)
    order = [F.col("cents").desc(), F.col("o_custkey")]
    top = per_cust.orderBy(*order).limit(200)
    w_run = (
        Window.orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = top.select(
        F.row_number().over(Window.orderBy(*order)).cast("long").alias("rnk"),
        "o_custkey",
        "cents",
        (F.sum("cents").over(w_run).cast("double")
         / F.lit(tot_cents)).alias("rev_share"),
        (F.row_number().over(Window.orderBy(*order)).cast("double")
         / F.lit(n_cust)).alias("cust_share"),
    )
    abc = (
        F.when(F.col("rev_share") <= 0.5, "A")
        .when(F.col("rev_share") <= 0.8, "B")
        .otherwise("C")
    )
    return ranked.select(
        "rnk",
        "o_custkey",
        "cents",
        E.round_to(F.col("rev_share"), 6).alias("cum_revenue_share"),
        E.round_to(F.col("cust_share"), 6).alias("cum_customer_share"),
        abc.alias("abc_class"),
    )


@query(
    "agg_gini_concentration",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey,
             sum(TRY_CAST(floor(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders GROUP BY o_custkey
    ), ranked AS (
      SELECT cents,
             row_number() OVER (ORDER BY cents, o_custkey) AS i,
             count(*) OVER () AS n,
             sum(cents) OVER () AS tot
      FROM per_cust
    )
    SELECT CAST(any_value(n) AS BIGINT) AS n_customers,
           CAST(any_value(tot) AS BIGINT) AS total_cents,
           -- n·tot in DOUBLE: the BIGINT product overflows at the
           -- sf10 decade (r9 overflow class); sum(i*cents) is already
           -- HUGEINT-exact in DuckDB, double at the division only
           round(2.0 * sum(i * cents)::DOUBLE
                   / (CAST(any_value(n) AS DOUBLE) * any_value(tot))
                 - (any_value(n) + 1.0) / any_value(n), 6) AS gini
    FROM ranked
    """,
)
def agg_gini_concentration(spark, sf_dir):
    """Gini coefficient of revenue concentration — the single-number
    companion to the Pareto curve (0 = perfectly even, →1 = one
    customer is the business).

    Computed from the rank-weighted form G = 2·Σi·xᵢ/(n·Σx) − (n+1)/n
    over exact integer cents and integer ranks — Σi·xᵢ is an
    order-free integer sum, so the coefficient is engine- and
    partitioning-exact; doubles enter only in the final expression.

    The global ranks come from ``E.with_running_total`` (range-
    repartition → per-slice Arrow rank → in-plan slice offsets),
    NOT an unpartitioned ``row_number`` window — the customer grain is
    data-sized (billions of rows at 100 TB) and must never funnel
    through one task.  The ranked table then feeds a single
    map-combinable reduction.
    """
    o = _t(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(E.cents("o_totalprice")).alias("cents")
    )
    ranked = E.with_running_total(
        per_cust, ["cents", "o_custkey"], "i"
    ).select("cents", "i")
    # Σi·xᵢ accumulates as DECIMAL(38,0) and n·Σx multiplies in double:
    # per-row i·cents fits BIGINT, but at the sf10 decade the SUM
    # (~2e19) and the n·total product (~1e20) both overflow long —
    # the same r9 overflow class as agg_power_law_fit; DuckDB's
    # HUGEINT sums hid it on the oracle side.
    return ranked.agg(
        F.count("*").cast("long").alias("n_customers"),
        F.sum("cents").cast("long").alias("total_cents"),
        E.round_to(
            2.0
            * F.sum(
                (F.col("i") * F.col("cents")).cast("decimal(38,0)")
            ).cast("double")
            / (F.count("*").cast("double") * F.sum("cents").cast("double"))
            - (F.count("*") + 1.0) / F.count("*"),
            6,
        ).alias("gini"),
    )


@query(
    "agg_time_to_convert",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy
      FROM events GROUP BY user_id
    ), conv AS (
      SELECT user_id,
             date_diff('microsecond', t_view, t_buy) // 1000000 AS secs
      FROM firsts
      WHERE t_view IS NOT NULL AND t_buy > t_view
    )
    SELECT count(*) AS n_converted,
           CAST(min(secs) AS BIGINT) AS min_secs,
           round(avg(secs), 4) AS avg_secs,
           round(median(secs), 4) AS median_secs,
           CAST(max(secs) AS BIGINT) AS max_secs
    FROM conv
    """,
)
def agg_time_to_convert(spark, sf_dir):
    """Time-to-conversion distribution: seconds from each user's first
    view to their first purchase (converters only) — the latency
    histogram product teams track next to the funnel itself.  Same
    single-pass conditional-min skeleton as ``agg_funnel_steps``;
    durations are computed at MICROsecond
    resolution then floor-divided to whole seconds — ``date_diff``'s
    second grain counts boundary CROSSINGS and disagrees between
    engines by ±1 (the same pitfall win_session_longest documents), and the stats run over the converter-grain frame.
    """
    ev = _t(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "t_view"
        ),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("t_buy"),
    )
    conv = firsts.filter(
        F.col("t_view").isNotNull() & (F.col("t_buy") > F.col("t_view"))
    ).select(
        F.floor(
            (E.ntz_epoch_us("t_buy") - E.ntz_epoch_us("t_view")) / 1000000
        ).alias("secs")
    )
    return conv.agg(
        F.count("*").alias("n_converted"),
        F.min("secs").cast("long").alias("min_secs"),
        E.round_to(F.avg("secs"), 4).alias("avg_secs"),
        E.round_to(F.median("secs"), 4).alias("median_secs"),
        F.max("secs").cast("long").alias("max_secs"),
    )


@query(
    "win_percent_of_total",
    oracle="""
    WITH per_nation AS (
      SELECT n.n_regionkey, c.c_nationkey,
             sum(TRY_CAST(floor(o.o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1, 2
    )
    SELECT n_regionkey, c_nationkey, CAST(cents AS BIGINT) AS cents,
           round(cents::DOUBLE / sum(cents) OVER (
             PARTITION BY n_regionkey), 6) AS share_of_region,
           round(cents::DOUBLE / sum(cents) OVER (), 6) AS share_of_total
    FROM per_nation
    """,
)
def win_percent_of_total(spark, sf_dir):
    """Ratio-to-report: each nation's revenue as a share of its region
    and of the grand total — the two-level percent-of-total every BI
    layer exposes.  Both denominators are unbounded-frame window sums
    over the NATION-grain aggregate (25 rows at any fact volume), so
    the 'global total' costs nothing; exact integer cents make the
    shares engine-deterministic.
    """
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    per_nation = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_regionkey", "c_nationkey")
        .agg(F.sum(E.cents("o_totalprice")).alias("cents"))
    )
    w_region = Window.partitionBy("n_regionkey").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return per_nation.select(
        "n_regionkey",
        "c_nationkey",
        "cents",
        E.round_to(
            F.col("cents").cast("double") / F.sum("cents").over(w_region), 6
        ).alias("share_of_region"),
        E.round_to(
            F.col("cents").cast("double") / F.sum("cents").over(w_all), 6
        ).alias("share_of_total"),
    )


@query(
    "agg_rolling_wau",
    oracle="""
    WITH du AS (
      SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
    ), days AS (
      SELECT DISTINCT d FROM du
    )
    SELECT days.d,
           count(DISTINCT du.user_id) AS wau,
           count(*) AS active_user_days
    FROM days JOIN du
      ON du.d BETWEEN days.d - INTERVAL 6 DAY AND days.d
    GROUP BY days.d
    """,
)
def agg_rolling_wau(spark, sf_dir):
    """Rolling 7-day active users (WAU) per day — the
    engagement-dashboard staple that resists plain windows because
    DISTINCT doesn't compose across frames (yesterday's WAU set and
    today's overlap).

    Shape: the raw stream reduces once to DISTINCT (day, user) pairs
    — day-grain × daily actives, thousands of times smaller than the
    events — then each pair EXPLODES into its ≤7 window anchors
    (``explode(sequence(d, d+6))``) so the anchor-validation join is a
    plain equi-join on the anchor date, never a nested-loop range
    join (a non-equi day×pair BNLJ is quadratic in days at scale and
    outside the plan-lint allow-list).  At 100 TB the fan-out is 7×
    the REDUCED frame, not the stream; the sketch alternative (HLL
    per day + merge, see agg_hll_sketch) is the documented
    approximate upgrade when even that is too wide.
    """
    ev = _t(spark, sf_dir, "events")
    du = ev.select(
        F.col("ts").cast("date").alias("d"), "user_id"
    ).distinct()
    days = du.select("d").distinct().select(F.col("d").alias("anchor"))
    fanned = du.select(
        "user_id",
        F.explode(
            F.sequence(F.col("d"), F.date_add(F.col("d"), 6))
        ).alias("anchor"),
    )
    joined = fanned.join(F.broadcast(days), "anchor")
    return (
        joined.groupBy(F.col("anchor").alias("d"))
        .agg(
            F.count_distinct("user_id").alias("wau"),
            F.count("*").alias("active_user_days"),
        )
    )


@query(
    "win_rolling_median",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS n
      FROM events GROUP BY 1, 2
    ), win AS (
      SELECT event_type, d, n,
             list_sort(list(n) OVER (
               PARTITION BY event_type ORDER BY d
               RANGE BETWEEN INTERVAL 6 DAY PRECEDING
                 AND CURRENT ROW)) AS arr
      FROM daily
    )
    SELECT event_type, d, n,
           round((arr[CAST(floor((len(arr) + 1) / 2) AS BIGINT)]
                  + arr[CAST(floor(len(arr) / 2) AS BIGINT) + 1])
                 / 2.0, 1) AS median_7d
    FROM win
    """,
)
def win_rolling_median(spark, sf_dir):
    """Rolling 7-day median of daily event counts per stream — the
    robust-baseline window behind anomaly detection (median shrugs
    off the single-day spikes that drag a rolling mean).

    Spark has no exact percentile window, so the frame is collected
    per row (``collect_list`` over a RANGE frame — bounded at 7
    elements by the day grain, NOT by data volume), sorted, and the
    median read positionally with the standard interpolated formula
    ((lo+hi)/2 — integer counts, so the result is exactly x.0/x.5 on
    both engines).  One exchange on event_type; the frame is keyed by
    ``unix_date`` so absent days genuinely shrink the window (RANGE,
    not ROWS).
    """
    from pyspark.sql import Window

    daily = (
        _t(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.count("*").alias("n"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.unix_date("d"))
        .rangeBetween(-6, 0)
    )
    arr = F.array_sort(F.collect_list("n").over(w))
    k = F.size(arr)
    lo = F.element_at(arr, F.floor((k + 1) / 2).cast("int"))
    hi = F.element_at(arr, (F.floor(k / 2) + 1).cast("int"))
    return daily.select(
        "event_type",
        "d",
        "n",
        E.round_to((lo + hi) / 2.0, 1).alias("median_7d"),
    )


@query(
    "sample_alpha_temperature",
    oracle="""
    WITH l AS (
      SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang
    ), t AS (
      SELECT lang, n_docs,
             n_docs / (SELECT sum(n_docs) FROM l) AS p,
             power(n_docs / (SELECT sum(n_docs) FROM l), 0.3) AS w
      FROM l
    )
    SELECT lang, n_docs,
           round(p, 6) AS p_raw,
           round(w / (SELECT sum(w) FROM t), 6) AS share_alpha,
           round(10000 * w / (SELECT sum(w) FROM t), 6) AS quota_10k
    FROM t
    """,
)
def sample_alpha_temperature(spark, sf_dir):
    """Temperature-based language-mix weights: sampling share
    ∝ p_lang^α with α = 0.3 — the standard multilingual pretraining
    rebalance (upsamples tail languages, tempers the head; the mT5/
    XLM-R exponent).  Emits raw share, α-tempered share, and the
    expected per-language quota for a 10k-doc budget.

    Plan shape: one map-combinable groupBy(lang), then the
    normalization terms as unpartitioned window sums over the
    ALREADY-REDUCED language table (#langs rows — catalog-bounded, so
    the single-partition window is over a handful of rows, never the
    corpus).  Both engines evaluate the same int/int division and
    pow(·, 0.3) expression trees; results rounded to 6.
    """
    from pyspark.sql import Window

    wall = Window.partitionBy()
    l = (
        _t(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"))
    )
    p = F.col("n_docs") / F.sum("n_docs").over(wall)
    t = l.select("lang", "n_docs", p.alias("p"), F.pow(p, 0.3).alias("w"))
    share = F.col("w") / F.sum("w").over(wall)
    return t.select(
        "lang",
        "n_docs",
        E.round_to(F.col("p"), 6).alias("p_raw"),
        E.round_to(share, 6).alias("share_alpha"),
        E.round_to(share * 10000, 6).alias("quota_10k"),
    )


@query(
    "streaming_late_data_audit",
    oracle="""
    WITH seq AS (
      SELECT event_type, ts,
             max(ts) OVER (
               PARTITION BY event_type ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS high_water
      FROM events
    )
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CASE WHEN ts < high_water - INTERVAL 1 HOUR
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
           round(sum(CASE WHEN ts < high_water - INTERVAL 1 HOUR
                          THEN 1 ELSE 0 END) / count(*), 6) AS late_ratio
    FROM seq
    GROUP BY event_type
    """,
)
def streaming_late_data_audit(spark, sf_dir):
    """Watermark late-data audit, batch twin: how many events would a
    1-hour watermark drop per stream?  Arrival order is event_id (the
    ingest sequence); the running high-water mark is max(event time)
    over the arrival prefix, and an event is late when it arrives
    more than 1 h behind it — exactly Structured Streaming's
    ``withWatermark("ts", "1 hour")`` drop rule applied per stream.
    The strong SQL oracle makes this the driver-hash-checkable
    companion to the rows-only stateful streaming ids.

    Plan shape: one window exchange on event_type (each stream's
    watermark is tracked independently, as each partition's is in a
    real deployment), then a map-combinable groupBy of the same key —
    AQE reuses the partitioning, and nothing is ever collected.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    late = (
        F.col("ts")
        < F.col("high_water") - F.expr("INTERVAL 1 HOUR")
    ).cast("int")
    return (
        _t(spark, sf_dir, "events")
        .select(
            "event_type",
            "ts",
            F.max("ts").over(w).alias("high_water"),
        )
        .select("event_type", late.alias("late"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("late").cast("long").alias("n_late"),
            E.round_to(F.sum("late") / F.count("*"), 6).alias(
                "late_ratio"
            ),
        )
    )


@query(
    "sink_compaction",
    oracle="""
    SELECT CAST(ts AS DATE) AS evt_date,
           count(*) AS n_events,
           CAST(sum(event_id) AS BIGINT) AS id_checksum,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY 1
    """,
)
def sink_compaction(spark, sf_dir):
    """Small-file compaction round-trip: the events feed is written
    date-partitioned with a deliberately fragmented layout (several
    files per partition — what an incremental micro-batch sink
    accretes), compacted to one file per partition by
    ``runner.compact_partitions`` (the OPTIMIZE maintenance pass on
    plain parquet: listing-driven victim selection, partition-pruned
    re-read, dynamic-partition-overwrite rewrite), and read back for
    a per-date aggregate the oracle recomputes from the raw feed —
    proving compaction moved bytes, not data.  File-count and
    untouched-partition guarantees are pinned by
    tests/test_compaction.py.
    """
    import os
    import shutil
    import tempfile

    from ..runner import compact_partitions

    path = os.path.join(
        tempfile.gettempdir(),
        f"getdbt_spark_compact_{os.path.basename(sf_dir.rstrip('/'))}"
        f"_{os.getpid()}",
    )
    shutil.rmtree(path, ignore_errors=True)
    e = _t(spark, sf_dir, "events").withColumn("evt_date", F.to_date("ts"))
    (
        e.repartition(6, "event_id")
        .write.mode("overwrite")
        .partitionBy("evt_date")
        .parquet(path)
    )
    from ..io import read_parquet_like

    compact_partitions(spark, path, "evt_date")
    back = read_parquet_like(spark, path, e)
    return back.groupBy("evt_date").agg(
        F.count("*").alias("n_events"),
        F.sum("event_id").alias("id_checksum"),
        F.countDistinct("user_id").alias("n_users"),
    )


@query(
    "agg_count_min_sketch",
    oracle="""
    WITH js AS (SELECT unnest([0, 1, 2, 3]) AS j),
    cells AS (
      SELECT js.j,
             ('0x' || substr(md5(CAST(js.j AS VARCHAR) || ':'
                                 || CAST(user_id AS VARCHAR)), 1, 15))
               ::BIGINT % 512 AS bucket,
             count(*) AS n
      FROM events, js
      GROUP BY 1, 2
    ), top AS (
      SELECT user_id, count(*) AS n_exact FROM events
      GROUP BY 1 ORDER BY n_exact DESC, user_id LIMIT 10
    )
    SELECT t.user_id, t.n_exact, CAST(min(c.n) AS BIGINT) AS n_cms
    FROM top t, js, cells c
    WHERE c.j = js.j
      AND c.bucket = ('0x' || substr(md5(CAST(js.j AS VARCHAR) || ':'
                                         || CAST(t.user_id AS VARCHAR)),
                                     1, 15))::BIGINT % 512
    GROUP BY 1, 2
    """,
)
def agg_count_min_sketch(spark, sf_dir):
    """Count-min sketch frequency estimation on the PORTABLE md5-60bit
    hash — the heavy-hitter companion to agg_hll_sketch: d=4 hash
    rows × w=512 buckets answer "how often does key x occur?" with a
    fixed 2048-cell table regardless of key cardinality, and because
    the hash is portable the sketch is bit-identical cross-engine
    (CMS guarantees estimate ≥ exact; pinned by test).

    Scale shape: the build is one map-combinable groupBy over (row,
    bucket) — the shuffle carries ≤ d·w cells, not keys, THE property
    that makes CMS the 100 TB hot-key detector (find skewed join keys
    without paying an exact groupBy over every key).  The exact
    top-10 column exists only to expose the sketch's error and would
    be dropped in production.  Probe side: 10 keys × d cells joined
    against the broadcast cell table, min per key (Cormode &
    Muthukrishnan 2005).
    """
    ev = _t(spark, sf_dir, "events")
    uid = F.col("user_id").cast("string")

    def _bucket(jcol, key):
        return P.md5_long(
            F.concat(jcol.cast("string"), F.lit(":"), key)
        ) % 512

    hashes = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(j).alias("j"),
                    _bucket(F.lit(j), uid).alias("bucket"),
                )
                for j in range(4)
            ]
        )
    )
    cells = (
        ev.select(hashes.alias("h"))
        .select("h.j", "h.bucket")
        .groupBy("j", "bucket")
        .agg(F.count("*").alias("n"))
    )
    top = (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("n_exact"))
        .orderBy(F.desc("n_exact"), F.asc("user_id"))
        .limit(10)
    )
    probes = top.select(
        "user_id",
        "n_exact",
        hashes.alias("h"),
    ).select(
        "user_id",
        "n_exact",
        F.col("h.j").alias("j"),
        F.col("h.bucket").alias("bucket"),
    )
    return (
        probes.join(F.broadcast(cells), ["j", "bucket"])
        .groupBy("user_id", "n_exact")
        .agg(F.min("n").cast("long").alias("n_cms"))
    )


@query(
    "dq_freshness",
    oracle="""
    WITH anchor AS (SELECT coalesce(max(CAST(ts AS DATE))
                      FILTER (WHERE ts < TIMESTAMP '2180-01-01'),
                      DATE '1970-01-01') AS run_d
                    FROM events),
    f AS (
      SELECT event_type,
             max(CAST(ts AS DATE)) AS max_loaded_date,
             CAST(count(*) AS BIGINT) AS n_rows
      FROM events GROUP BY event_type
    )
    SELECT event_type, max_loaded_date, n_rows,
           CAST(run_d - max_loaded_date AS BIGINT) AS lag_days,
           CASE WHEN run_d - max_loaded_date <= 2 THEN 'pass'
                WHEN run_d - max_loaded_date <= 7 THEN 'warn'
                ELSE 'error' END AS freshness_status
    FROM f, anchor
    """,
)
def dq_freshness(spark, sf_dir):
    """Source-freshness check — dbt's ``source freshness`` lifecycle
    verb over the event feed: per stream, the newest loaded date, its
    lag behind the run anchor, and a pass/warn/error verdict at the
    2-day / 7-day thresholds (the warn_after/error_after contract a
    reference user declares in sources.yml).

    Plan shape: the anchor is the usual two-phase scalar collect
    injected as a literal; the freshness scan itself is ONE
    map-combinable max/count per stream — at 100 TB this reads
    parquet footer stats, not data, when the feed is date-partitioned
    (max over a partition column prunes to metadata).
    """
    e = _t(spark, sf_dir, "events")
    anchor = run_date_anchor(e, dt.date(1970, 1, 1))
    f = e.groupBy("event_type").agg(
        F.max(F.to_date("ts")).alias("max_loaded_date"),
        F.count("*").alias("n_rows"),
    )
    lag = F.datediff(F.lit(anchor), F.col("max_loaded_date"))
    return f.select(
        "event_type",
        "max_loaded_date",
        "n_rows",
        lag.cast("long").alias("lag_days"),
        F.when(lag <= 2, "pass")
        .when(lag <= 7, "warn")
        .otherwise("error")
        .alias("freshness_status"),
    )


def _z_sql(q0: str, q1: str) -> str:
    """DuckDB bit-interleave of two 8-bit quantized BIGINT exprs —
    textual twin of scale.zorder_key(bits=8, ncols=2)."""
    terms = []
    for b in range(8):
        terms.append(f"((({q0} >> {b}) & 1) << {2 * b})")
        terms.append(f"((({q1} >> {b}) & 1) << {2 * b + 1})")
    return " | ".join(terms)


@query(
    "sink_zorder_clustered",
    oracle=f"""
    WITH b AS (
      SELECT min(l_partkey) AS p0, max(l_partkey) AS p1,
             min(l_suppkey) AS s0, max(l_suppkey) AS s1
      FROM lineitem
    ), q AS (
      SELECT l_orderkey,
             floor((l_partkey - p0) * 255 / greatest(p1 - p0, 1))::BIGINT
               AS q0,
             floor((l_suppkey - s0) * 255 / greatest(s1 - s0, 1))::BIGINT
               AS q1
      FROM lineitem, b
    )
    SELECT ({_z_sql('q0', 'q1')}) // 1024 AS zbucket,
           count(*) AS n_rows,
           CAST(sum(l_orderkey) AS BIGINT) AS key_checksum
    FROM q GROUP BY 1
    """,
)
def sink_zorder_clustered(spark, sf_dir):
    """Z-order clustered sink round-trip: lineitem is written
    ``OPTIMIZE ZORDER BY (l_partkey, l_suppkey)``-style
    (scale.write_zordered — Morton-key range partition + in-file
    sort), read back, and rolled up per coarse Z-bucket with a key
    checksum the oracle recomputes from the raw table with the same
    integer bit-interleave — proving the clustering permuted bytes,
    not data, and that the key arithmetic is engine-exact.  The
    file-level payoff (every file narrow in BOTH dimensions → parquet
    min/max stats prune on either predicate, which a single-column
    sort cannot do) is pinned by tests/test_scale.py.
    """
    import os
    import shutil
    import tempfile

    from ..scale import write_zordered, zorder_key

    li = _t(spark, sf_dir, "lineitem")
    path = os.path.join(
        tempfile.gettempdir(),
        f"getdbt_spark_zorder_{os.path.basename(sf_dir.rstrip('/'))}"
        f"_{os.getpid()}",
    )
    shutil.rmtree(path, ignore_errors=True)
    back = write_zordered(
        li, path, ["l_partkey", "l_suppkey"], n_files=8
    )
    row = back.agg(
        F.min(F.col("l_partkey").cast("long")),
        F.max(F.col("l_partkey").cast("long")),
        F.min(F.col("l_suppkey").cast("long")),
        F.max(F.col("l_suppkey").cast("long")),
    ).collect()[0]
    # empty-input-safe bounds (None min/max on a zero-row table)
    lo = [row[0] if row[0] is not None else 0,
          row[2] if row[2] is not None else 0]
    hi = [row[1] if row[1] is not None else 0,
          row[3] if row[3] is not None else 0]
    key = zorder_key(["l_partkey", "l_suppkey"], lo, hi)
    return (
        back.select(F.floor(key / 1024).cast("long").alias("zbucket"), "l_orderkey")
        .groupBy("zbucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("l_orderkey").cast("long").alias("key_checksum"),
        )
    )


@query(
    "agg_hll_merge_days",
    oracle="""
    WITH h AS (
      SELECT event_type, CAST(ts AS DATE) AS d, user_id,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
               AS hv
      FROM events
    ), daily AS (
      SELECT event_type, d, hv % 256 AS bucket,
             max(CASE WHEN hv // 256 = 0 THEN 53
                 ELSE 53 - length(bin(hv // 256)) END) AS mj
      FROM h GROUP BY 1, 2, 3
    ), merged AS (
      SELECT event_type, bucket, max(mj) AS mj
      FROM daily GROUP BY 1, 2
    ), s AS (
      SELECT event_type,
             sum(power(2.0, -mj)) + (256 - count(*)) AS ssum,
             256 - count(*) AS v
      FROM merged GROUP BY 1
    ), ex AS (
      SELECT event_type, count(DISTINCT user_id) AS n_exact
      FROM events GROUP BY 1
    )
    SELECT s.event_type, ex.n_exact,
           round(CASE
             WHEN (0.7213 / (1 + 1.079 / 256)) * 256 * 256 / ssum <= 640
                  AND v > 0
             THEN 256 * ln(256.0 / v)
             ELSE (0.7213 / (1 + 1.079 / 256)) * 256 * 256 / ssum
           END, 3) AS n_hll
    FROM s JOIN ex USING (event_type)
    """,
)
def agg_hll_merge_days(spark, sf_dir):
    """Sketch MERGEABILITY — the property that makes sketches the
    100 TB incremental-analytics primitive: per-(stream, day) HLL
    register tables are built independently (one per ingest
    partition/day, storable as a tiny table), then UNIONed by
    register-wise max into the all-time distinct estimate — no rescan
    of history when a new day arrives, unlike exact COUNT(DISTINCT)
    which must touch every historical row.  Register math identical
    to agg_hll_sketch (portable md5-60bit, m=256, Flajolet bias
    correction), so the merged estimate is bit-identical
    cross-engine.  Shuffles carry ≤ streams × days × 256 and then
    ≤ streams × 256 rows.
    """
    ev = _t(spark, sf_dir, "events")
    hv = P.md5_long(F.col("user_id").cast("string"))
    w = F.floor(hv / 256).cast("long")
    rho = F.when(w == 0, F.lit(53)).otherwise(53 - F.length(F.bin(w)))
    daily = (
        ev.select(
            "event_type",
            F.to_date("ts").alias("d"),
            (hv % 256).alias("bucket"),
            rho.alias("rho"),
        )
        .groupBy("event_type", "d", "bucket")
        .agg(F.max("rho").alias("mj"))
    )
    merged = daily.groupBy("event_type", "bucket").agg(
        F.max("mj").alias("mj")
    )
    s = merged.groupBy("event_type").agg(
        (
            F.sum(F.pow(F.lit(2.0), -F.col("mj")))
            + (256 - F.count("*"))
        ).alias("ssum"),
        (256 - F.count("*")).alias("v"),
    )
    alpha = 0.7213 / (1 + 1.079 / 256)
    raw = F.lit(alpha) * 256 * 256 / F.col("ssum")
    est = F.when(
        (raw <= 640) & (F.col("v") > 0),
        256 * F.log(256.0 / F.col("v")),
    ).otherwise(raw)
    ex = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    return s.join(ex, "event_type").select(
        "event_type", "n_exact", E.round_to(est, 3).alias("n_hll")
    )


@query(
    "sql_recursive_spine",
    oracle="""
    WITH RECURSIVE spine(d) AS (
      SELECT DATE '1995-01-02'
      UNION ALL
      SELECT d + INTERVAL 7 DAY FROM spine
      WHERE d + INTERVAL 7 DAY <= (SELECT max(o_orderdate) FROM orders)
    ), w AS (
      SELECT d, (d - DATE '1995-01-02') // 7 AS wk FROM spine
    ), o AS (
      SELECT (CAST(o_orderdate AS DATE) - DATE '1995-01-02') // 7 AS wk,
             count(*) AS n
      FROM orders WHERE CAST(o_orderdate AS DATE) >= DATE '1995-01-02'
      GROUP BY 1
    )
    SELECT w.d AS weekdate, CAST(coalesce(o.n, 0) AS BIGINT) AS n_orders
    FROM w LEFT JOIN o USING (wk)
    """,
)
def sql_recursive_spine(spark, sf_dir):
    """WITH RECURSIVE — the SQL-surface iteration primitive (Spark 4
    recursive CTEs): the weekly reporting spine derived by recursion
    instead of ``sequence()``/``GENERATE_DATE_ARRAY``, then an
    EQUI-join (precomputed week ordinal, never a date-range theta
    join) of per-week order counts.  The recursion horizon is the max
    order date — a literal on the Spark side (two-phase anchor; the
    prunable-predicate discipline), a scalar subquery in the oracle.
    Recursion depth is #weeks (catalog-bounded); each step is a
    one-row union — the plan is linear, not quadratic.
    """
    o = _t(spark, sf_dir, "orders")
    anchor = scalar_anchor(
        o, F.max(F.to_date("o_orderdate")), dt.date(1995, 1, 2)
    )
    # the spine recurses one row per week (~350 levels for the fixture
    # epoch) — above Spark's default 100-level guard rail
    spark.conf.set("spark.sql.cteRecursionLevelLimit", "10000")
    view = f"orders_rcte_{abs(hash(sf_dir)) % 10**8}"
    o.createOrReplaceTempView(view)
    return spark.sql(f"""
      WITH RECURSIVE spine(d) AS (
        SELECT DATE '1995-01-02'
        UNION ALL
        SELECT d + INTERVAL 7 DAYS FROM spine
        WHERE d + INTERVAL 7 DAYS <= DATE '{anchor.isoformat()}'
      ), w AS (
        SELECT d, CAST(floor(datediff(d, DATE '1995-01-02') / 7) AS BIGINT)
                 AS wk
        FROM spine
      ), o AS (
        SELECT CAST(floor(datediff(to_date(o_orderdate),
                                   DATE '1995-01-02') / 7) AS BIGINT) AS wk,
               count(*) AS n
        FROM {view}
        WHERE to_date(o_orderdate) >= DATE '1995-01-02'
        GROUP BY 1
      )
      SELECT w.d AS weekdate, CAST(coalesce(o.n, 0) AS BIGINT) AS n_orders
      FROM w LEFT JOIN o USING (wk)
    """)


@query(
    "fn_variant_extract",
    oracle="""
    WITH x AS (
      -- json_valid + TRY_CAST mirror Spark's try_parse_json +
      -- try_variant_get exactly (probed cell-identical across
      -- malformed / quoted / fractional / bool / nested / array k:
      -- 12.5→12, "7"→7, true→1, the rest NULL)
      SELECT event_type,
             TRY_CAST((CASE WHEN json_valid(props)
                            THEN json_extract(props, '$.k') END)
                      AS BIGINT) AS k
      FROM events
    )
    SELECT event_type,
           count(*) AS n_rows,
           CAST(count(k) AS BIGINT) AS n_k,
           CAST(sum(k) AS BIGINT) AS sum_k,
           CAST(min(k) AS BIGINT) AS min_k,
           CAST(max(k) AS BIGINT) AS max_k
    FROM x GROUP BY event_type
    """,
)
def fn_variant_extract(spark, sf_dir):
    """Semi-structured ingestion through Spark 4's VARIANT type:
    ``parse_json`` once into the binary variant encoding, then typed
    ``try_variant_get`` path extraction — the modern engine's answer
    to schemaless event properties (vs per-path ``get_json_object``
    re-parsing the string for every path; fn_json_extract covers that
    legacy form).  try_* semantics: a missing path or type mismatch
    yields NULL, never an error — the contract loose event feeds
    need.  Aggregated per stream so the hash check covers every row's
    extraction.
    """
    ev = _t(spark, sf_dir, "events")
    # try_parse_json, not parse_json: the strict parser ABORTS the job
    # on the first malformed record (badjson random-corpus find) —
    # NULL variant → NULL extraction is the loose-feed contract this
    # operator exists to provide
    k = F.try_variant_get(F.try_parse_json("props"), "$.k", "bigint")
    return ev.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.count("*").alias("n_rows"),
        F.count("k").alias("n_k"),
        F.sum("k").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
    )


@query(
    "fn_python_udtf",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks
      FROM documents WHERE doc_id % 25 = 0
    ), w AS (
      SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos1, toks
      FROM t
    )
    SELECT doc_id,
           CAST(pos1 - 1 AS BIGINT) AS pos,
           toks[pos1] AS word,
           CAST(length(toks[pos1]) AS BIGINT) AS word_len
    FROM w
    """,
)
def fn_python_udtf(spark, sf_dir):
    """User-defined TABLE function (Spark 4 Python UDTF): one input
    row expands to N typed output rows through a user class — the
    extension point for tokenizers/parsers that need imperative
    per-row logic with a multi-row result (scalar UDFs can only
    return one value; this is the ``LATERAL``-joinable form).

    The demo UDTF is a positional tokenizer over a deterministic
    1-in-25 document sample, Arrow-optimized
    (``useArrow=True`` — batch transfer, not per-row pickling), and
    the oracle replays it relationally (unnest with ordinality).  In
    the hot path the engine still prefers pure Column explodes
    (text_chunk_windows); the UDTF is the escape hatch for logic that
    genuinely needs Python per row.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id long, pos long, word string, word_len long",
          useArrow=True)
    class _Tokenize:
        def eval(self, doc_id: int, text: str):
            if text is None:  # null doc: no rows (unnest-of-NULL parity)
                return
            for i, w in enumerate(text.split(" ")):
                yield doc_id, i, w, len(w)

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 25 == 0)
    view = f"docs_udtf_{abs(hash(sf_dir)) % 10**8}"
    d.createOrReplaceTempView(view)
    spark.udtf.register("tokenize_udtf", _Tokenize)
    return spark.sql(
        f"""
        SELECT t.doc_id, t.pos, t.word, t.word_len
        FROM {view} d,
             LATERAL tokenize_udtf(d.doc_id, d.text) t
        """
    )


@query(
    "dq_row_count_drift",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS n
      FROM events GROUP BY 1, 2
    ), base AS (
      SELECT event_type, d, n,
             avg(n) OVER (
               PARTITION BY event_type ORDER BY d
               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING
             ) AS avg7
      FROM daily
    )
    SELECT event_type, d, n,
           round(avg7, 3) AS avg7,
           round(n / avg7, 4) AS drift_ratio,
           CAST(n < 0.5 * avg7 OR n > 2.0 * avg7 AS INT) AS is_anomalous
    FROM base WHERE avg7 IS NOT NULL
    """,
)
def dq_row_count_drift(spark, sf_dir):
    """Volume-drift data-quality check: each stream-day's row count
    against its own trailing-7-day mean — the freshness check's
    volume twin (a feed that ARRIVES but half-empty passes freshness
    and fails here; dbt operators pair both on every source).  A day
    outside [0.5×, 2×] of its trailing mean is flagged.  One
    map-combinable daily rollup + one window on the (tiny) per-day
    table; the trailing frame excludes the current row so an anomaly
    can't mask itself.
    """
    from pyspark.sql import Window

    daily = (
        _t(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.count("*").alias("n"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-7, -1)
    )
    avg7 = F.avg("n").over(w)
    base = daily.withColumn("avg7", avg7).filter(F.col("avg7").isNotNull())
    return base.select(
        "event_type",
        "d",
        "n",
        E.round_to(F.col("avg7"), 3).alias("avg7"),
        E.round_to(F.col("n") / F.col("avg7"), 4).alias("drift_ratio"),
        (
            (F.col("n") < 0.5 * F.col("avg7"))
            | (F.col("n") > 2.0 * F.col("avg7"))
        )
        .cast("int")
        .alias("is_anomalous"),
    )


@query(
    "agg_bitmap_distinct",
    oracle="""
    WITH b AS (
      SELECT event_type, user_id // 63 AS word_idx,
             bit_or(1::BIGINT << CAST(user_id % 63 AS INT)) AS word
      FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(sum(bit_count(word)) AS BIGINT) AS n_distinct_bitmap,
           CAST(count(*) AS BIGINT) AS n_words
    FROM b GROUP BY event_type
    """,
)
def agg_bitmap_distinct(spark, sf_dir):
    """EXACT distinct counting via bitmap aggregation — the
    ClickHouse/Doris-style alternative to COUNT(DISTINCT)'s
    expand-and-reshuffle when keys are dense integers: each user lands
    in word ``id // 63`` at bit ``id % 63`` (63-bit words — the sign
    bit stays clear so the arithmetic is portable), words OR together
    map-side (bit_or is commutative/associative — a partial aggregate,
    like sum), and the distinct count is the popcount sum.  The
    shuffle carries one row per (group, occupied word) — bounded by
    the id-space density, not the event count, and bitmap words merge
    across partitions/days exactly like the HLL registers
    (agg_hll_merge_days) but EXACTLY.  On sparse/string keys,
    dictionary-encode first or fall back to HLL.
    """
    ev = _t(spark, sf_dir, "events")
    # shiftleft()'s python wrapper takes only a literal bit count —
    # the per-row shift needs the SQL form
    word = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 63 AS INT))")
    b = (
        ev.select(
            "event_type",
            (F.col("user_id") / 63).cast("long").alias("word_idx"),
            word.alias("w"),
        )
        .groupBy("event_type", "word_idx")
        .agg(F.expr("bit_or(w)").alias("word"))
    )
    return b.groupBy("event_type").agg(
        F.sum(F.bit_count("word")).cast("long").alias("n_distinct_bitmap"),
        F.count("*").alias("n_words"),
    )


@query(
    "agg_session_bounce_rate",
    oracle="""
    WITH l AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, ts,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM l
    ), g AS (
      SELECT user_id, sess_id, min(ts) AS session_start,
             count(*) AS n_events
      FROM s GROUP BY 1, 2
    )
    SELECT CAST(isodow(session_start) AS BIGINT) AS dow,
           count(*) AS n_sessions,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounces,
           round(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                 / count(*), 4) AS bounce_rate,
           round(avg(n_events), 4) AS avg_events_per_session
    FROM g GROUP BY 1
    """,
)
def agg_session_bounce_rate(spark, sf_dir):
    """Bounce rate by day of week — the canonical product-analytics
    KPI over gap-sessionized activity (30-min inactivity boundary,
    the streaming_session_stats contract): a session with exactly one
    event is a bounce.  Sessionization is the lag→flag→running-sum
    idiom (one exchange on user_id; both window frames reuse it),
    then two map-combinable aggregations.  Both windows order by
    (ts, event_id) so simultaneous events sessionize identically on
    both engines.
    """
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    s = _with_session_id(ev, ["ts", "event_id"], inclusive=True)
    g = s.groupBy("user_id", "sess_id").agg(
        F.min("ts").alias("session_start"),
        F.count("*").alias("n_events"),
    )
    bounce = F.when(F.col("n_events") == 1, 1).otherwise(0)
    return g.groupBy(
        # ISO weekday (Mon=1..Sun=7) — Spark's dayofweek() is
        # Sun=1..Sat=7 while DuckDB's is Sun=0..Sat=6; weekday()+1
        # matches DuckDB's isodow() exactly
        (F.weekday("session_start") + 1).cast("long").alias("dow")
    ).agg(
        F.count("*").alias("n_sessions"),
        F.sum(bounce).alias("n_bounces"),
        E.round_to(F.sum(bounce) / F.count("*"), 4).alias("bounce_rate"),
        E.round_to(F.avg("n_events"), 4).alias("avg_events_per_session"),
    )


@query(
    "agg_new_vs_returning",
    oracle="""
    WITH fs AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS first_day FROM events
      GROUP BY user_id
    ), act AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ), daily AS (
      SELECT a.d,
             sum(CASE WHEN a.d = fs.first_day THEN 1 ELSE 0 END) AS n_new,
             sum(CASE WHEN a.d > fs.first_day THEN 1 ELSE 0 END)
               AS n_returning
      FROM act a JOIN fs USING (user_id)
      GROUP BY a.d
    )
    SELECT d,
           CAST(n_new AS BIGINT) AS n_new,
           CAST(n_returning AS BIGINT) AS n_returning,
           CAST(sum(n_new) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS cumulative_users,
           round(n_returning / (n_new + n_returning), 4)
             AS returning_share
    FROM daily
    """,
)
def agg_new_vs_returning(spark, sf_dir):
    """New vs returning daily actives — the growth-accounting split
    every product dashboard leads with: a user's first active day
    classifies them "new" that day and "returning" on every later
    active day; the running sum of new users is the cumulative
    registered base.  Plan shape: one min-per-user aggregate (map-
    combinable), one distinct user-day set, an equi join back on
    user_id, a daily rollup, and a running-total window over the
    (tiny) daily table — the single-partition window runs on
    #days rows, never event-scale.
    """
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    fs = ev.groupBy("user_id").agg(F.min("d").alias("first_day"))
    act = ev.distinct()
    daily = (
        act.join(fs, "user_id")
        .groupBy("d")
        .agg(
            F.sum(
                F.when(F.col("d") == F.col("first_day"), 1).otherwise(0)
            ).alias("n_new"),
            F.sum(
                F.when(F.col("d") > F.col("first_day"), 1).otherwise(0)
            ).alias("n_returning"),
        )
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "d",
        F.col("n_new").cast("long").alias("n_new"),
        F.col("n_returning").cast("long").alias("n_returning"),
        F.sum("n_new").over(w).cast("long").alias("cumulative_users"),
        E.round_to(
            F.col("n_returning")
            / (F.col("n_new") + F.col("n_returning")),
            4,
        ).alias("returning_share"),
    )


@query(
    "agg_cohort_ltv",
    oracle="""
    WITH fs AS (
      SELECT user_id,
             date_trunc('week', min(CAST(ts AS DATE))) AS cohort_week
      FROM events GROUP BY user_id
    ), act AS (
      SELECT e.user_id, fs.cohort_week,
             CAST((date_trunc('week', CAST(e.ts AS DATE))
                   - fs.cohort_week) / 7 AS BIGINT) AS age_weeks,
             TRY_CAST(floor(e.value * 100) AS BIGINT) AS cents
      FROM events e JOIN fs USING (user_id)
      WHERE e.event_type = 'purchase'
    ), wk AS (
      SELECT cohort_week, age_weeks, sum(cents) AS cents
      FROM act GROUP BY 1, 2
    ), sz AS (
      SELECT cohort_week, count(*) AS cohort_size FROM fs GROUP BY 1
    )
    SELECT CAST(wk.cohort_week AS DATE) AS cohort_week,
           wk.age_weeks,
           sz.cohort_size,
           round(sum(wk.cents) OVER (
             PARTITION BY wk.cohort_week ORDER BY wk.age_weeks
             ROWS UNBOUNDED PRECEDING) / 100.0, 2) AS cum_value,
           round(sum(wk.cents) OVER (
             PARTITION BY wk.cohort_week ORDER BY wk.age_weeks
             ROWS UNBOUNDED PRECEDING) / 100.0 / sz.cohort_size, 4)
             AS ltv_per_user
    FROM wk JOIN sz USING (cohort_week)
    """,
)
def agg_cohort_ltv(spark, sf_dir):
    """Cohort lifetime value: users grouped by signup week (first
    activity), purchase value accumulated by cohort age in weeks —
    the LTV curve that prices acquisition (retention_cohorts counts
    who comes back; this weighs what they spend).  Money stays exact
    integer cents until the final display division; the running-sum
    window runs over the cohort×age matrix (weeks², tiny), never
    event scale.
    """
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    fs = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min(F.to_date("ts")))
        .cast("date")
        .alias("cohort_week")
    )
    act = (
        ev.filter(F.col("event_type") == "purchase")
        .join(fs, "user_id")
        .select(
            "cohort_week",
            (
                F.datediff(
                    F.date_trunc("week", F.to_date("ts")).cast("date"),
                    "cohort_week",
                )
                / 7
            )
            .cast("long")
            .alias("age_weeks"),
            E.cents("value").alias("cents"),
        )
    )
    wk = act.groupBy("cohort_week", "age_weeks").agg(
        F.sum("cents").alias("cents")
    )
    sz = fs.groupBy("cohort_week").agg(F.count("*").alias("cohort_size"))
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("age_weeks")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.sum("cents").over(w) / 100.0
    return wk.join(sz, "cohort_week").select(
        "cohort_week",
        "age_weeks",
        "cohort_size",
        E.round_to(cum, 2).alias("cum_value"),
        E.round_to(cum / F.col("cohort_size"), 4).alias("ltv_per_user"),
    )


@query(
    "fn_fuzzy_match",
    oracle="""
    WITH a AS (SELECT p_partkey, p_name FROM part),
    pr AS (
      SELECT a.p_partkey,
             a.p_name AS name_a,
             b.p_name AS name_b,
             levenshtein(a.p_name, b.p_name) AS lev
      FROM a JOIN a b ON b.p_partkey = a.p_partkey + 1
    )
    SELECT p_partkey, name_a, name_b, CAST(lev AS BIGINT) AS lev,
           round(1.0 - lev / greatest(length(name_a), length(name_b)),
                 4) AS sim,
           CAST(lev <= 10 AS INT) AS is_match
    FROM pr
    """,
)
def fn_fuzzy_match(spark, sf_dir):
    """Edit-distance fuzzy matching — the entity-resolution scoring
    primitive (names, addresses, titles), verified to agree with the
    oracle engine's levenshtein character for character.  The pairing
    here is the adjacent-key self-join (an EQUI join — at scale real
    fuzzy dedup pairs via blocking keys exactly like dedup_containment
    pairs via rare grams, then scores candidates with this function;
    never all-pairs).  Similarity = 1 − lev/max(len) with a
    ≤10-edits match flag.
    """
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_name")
    b = p.select(
        (F.col("p_partkey") - 1).alias("p_partkey"),
        F.col("p_name").alias("name_b"),
    )
    pr = p.withColumnRenamed("p_name", "name_a").join(b, "p_partkey")
    lev = F.levenshtein("name_a", "name_b")
    return pr.select(
        "p_partkey",
        "name_a",
        "name_b",
        lev.cast("long").alias("lev"),
        E.round_to(
            1.0
            - lev / F.greatest(F.length("name_a"), F.length("name_b")),
            4,
        ).alias("sim"),
        (lev <= 10).cast("int").alias("is_match"),
    )


@query(
    "streaming_topk_trending",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, event_type, count(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT d, event_type, n, CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT d, event_type, n,
             row_number() OVER (
               PARTITION BY d ORDER BY n DESC, event_type) AS rnk
      FROM daily
    ) WHERE rnk <= 3
    """,
)
def streaming_topk_trending(spark, sf_dir):
    """Daily top-3 trending streams — the windowed-rank leaderboard
    every realtime dashboard shows.  Batch twin of the streaming
    shape: under readStream this is the tumbling-window aggregate in
    update mode with the rank applied per closed window downstream
    (rank itself is not incrementally maintainable, so production
    ranks in the foreachBatch sink exactly as the batch form does
    here — same code path discipline as the other streaming twins).
    Plan: one map-combinable daily rollup, one window over the tiny
    (day, type) table, deterministic tie-break on the type name.
    """
    from pyspark.sql import Window

    daily = (
        _t(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("d"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("d").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        daily.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("d", "event_type", "n", F.col("rnk").cast("long").alias("rnk"))
    )


@query(
    "agg_path_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS prev_type
      FROM events
    ), t AS (
      SELECT prev_type, event_type AS next_type, count(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY 1, 2
    ), tot AS (
      SELECT prev_type, sum(n) AS n_from FROM t GROUP BY 1
    )
    SELECT t.prev_type, t.next_type,
           CAST(t.n AS BIGINT) AS n,
           round(t.n / tot.n_from, 4) AS p_transition
    FROM t JOIN tot USING (prev_type)
    """,
)
def agg_path_transitions(spark, sf_dir):
    """First-order user-journey transition matrix: for each ordered
    pair of consecutive events within a user's stream, the transition
    count and conditional probability — the Markov-chain input behind
    next-action prediction and funnel-drop diagnosis.  One lag window
    per user (single exchange on user_id, (ts, event_id) ordering so
    simultaneous events sequence identically cross-engine), then a
    map-combinable rollup over the #types² transition matrix.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = _t(spark, sf_dir, "events").select(
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    t = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n"))
    )
    tot = t.groupBy("prev_type").agg(F.sum("n").alias("n_from"))
    return t.join(tot, "prev_type").select(
        "prev_type",
        "next_type",
        F.col("n").cast("long").alias("n"),
        E.round_to(F.col("n") / F.col("n_from"), 4).alias("p_transition"),
    )


@query(
    "win_forward_fill",
    oracle="""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS d,
             CAST(sum(CASE WHEN event_type = 'purchase'
                  THEN TRY_CAST(floor(value * 100) AS BIGINT) END) AS BIGINT)
               AS cents
      FROM events WHERE user_id % 20 = 0
      GROUP BY 1, 2
    )
    SELECT user_id, d, cents,
           CAST(last_value(cents IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY d
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cents_filled
    FROM daily
    """,
)
def win_forward_fill(spark, sf_dir):
    """Forward fill — the time-series gap-fill primitive (carry the
    last observed value across days with no observation; sparse
    sensor/price/balance series all need it).  ``last(col,
    ignorenulls=True)`` over an unbounded-preceding frame — one
    exchange on the entity key, no self-join, no driver loop; days
    before the first observation stay NULL by design.
    """
    from pyspark.sql import Window

    daily = (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id") % 20 == 0)
        .groupBy("user_id", F.to_date("ts").alias("d"))
        .agg(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    E.cents("value"),
                )
            ).alias("cents")
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return daily.select(
        "user_id",
        "d",
        "cents",
        F.last("cents", ignorenulls=True)
        .over(w)
        .cast("long")
        .alias("cents_filled"),
    )


@query(
    "join_pit_scd2",
    oracle="""
    WITH fs AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS first_day FROM events
      GROUP BY user_id
    ), versions AS (
      SELECT user_id, first_day + 14 * v.v AS valid_from, v.v AS tier
      FROM fs, (SELECT unnest([0, 1, 2]) AS v) v
    ), u AS (
      SELECT user_id, valid_from AS d, 0 AS is_event, tier,
             CAST(NULL AS BIGINT) AS event_id
      FROM versions
      UNION ALL
      SELECT user_id, CAST(ts AS DATE) AS d, 1 AS is_event,
             CAST(NULL AS INT) AS tier, event_id
      FROM events
    ), filled AS (
      SELECT user_id, d, is_event, event_id,
             last_value(tier IGNORE NULLS) OVER (
               PARTITION BY user_id
               ORDER BY d, is_event, coalesce(event_id, -1)
               ROWS UNBOUNDED PRECEDING) AS tier_at_event
      FROM u
    )
    SELECT tier_at_event,
           count(*) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM filled WHERE is_event = 1
    GROUP BY tier_at_event
    """,
)
def join_pit_scd2(spark, sf_dir):
    """Point-in-time SCD2 join — the feature-store correctness join:
    every event must see the dimension version valid AT ITS OWN
    TIMESTAMP (joining today's version onto yesterday's events leaks
    the future into training labels).  The demo dimension versions
    each user's tier every 14 days from first activity.

    Engine shape: the UNION-ASOF trick — version rows and event rows
    union into one stream per key, version-before-event tie order,
    and ``last(tier, ignorenulls)`` over an unbounded-preceding frame
    stamps each event with the version in force.  ONE exchange on the
    entity key, no range/theta join, no per-version fan-out — the
    scalable form of ``BETWEEN valid_from AND valid_to`` (which plans
    a nested loop); events before the first version stay NULL by
    design.  sink_snapshot_scd2 builds real validity tables; this is
    how consumers read them at scale.
    """
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    fs = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_day")
    )
    versions = fs.select(
        "user_id",
        F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("tier"),
        "first_day",
    ).select(
        "user_id",
        F.date_add("first_day", F.col("tier") * 14).alias("d"),
        F.lit(0).alias("is_event"),
        "tier",
        F.lit(None).cast("long").alias("event_id"),
    )
    events = ev.select(
        "user_id",
        F.to_date("ts").alias("d"),
        F.lit(1).alias("is_event"),
        F.lit(None).cast("int").alias("tier"),
        "event_id",
    )
    u = versions.unionByName(events)
    w = (
        Window.partitionBy("user_id")
        .orderBy("d", "is_event", F.coalesce("event_id", F.lit(-1)))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = u.withColumn(
        "tier_at_event", F.last("tier", ignorenulls=True).over(w)
    )
    return (
        filled.filter(F.col("is_event") == 1)
        .groupBy("tier_at_event")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@query(
    "dq_mad_outliers",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS n
      FROM events GROUP BY 1, 2
    ), med AS (
      SELECT event_type, arr[CAST(floor((len(arr) + 1) / 2) AS BIGINT)]
               AS med_lo,
             arr[CAST(floor(len(arr) / 2) AS BIGINT) + 1] AS med_hi
      FROM (SELECT event_type, list_sort(list(n)) AS arr
            FROM daily GROUP BY 1)
    ), dev AS (
      SELECT daily.event_type, d, n,
             (med_lo + med_hi) / 2.0 AS med,
             abs(n - (med_lo + med_hi) / 2.0) AS ad
      FROM daily JOIN med USING (event_type)
    ), mad AS (
      SELECT event_type,
             (arr[CAST(floor((len(arr) + 1) / 2) AS BIGINT)]
              + arr[CAST(floor(len(arr) / 2) AS BIGINT) + 1]) / 2.0
               AS mad
      FROM (SELECT event_type, list_sort(list(ad)) AS arr
            FROM dev GROUP BY 1)
    )
    SELECT dev.event_type, d, n,
           round(dev.med, 1) AS median_n,
           round(mad.mad, 1) AS mad_n,
           CAST(abs(n - dev.med) > 3.5 * mad.mad AS INT) AS is_outlier
    FROM dev JOIN mad USING (event_type)
    """,
)
def dq_mad_outliers(spark, sf_dir):
    """Robust volume anomaly detection: median absolute deviation —
    unlike dq_anomaly_zscore's mean/stddev, MAD's breakdown point is
    50%, so a burst of bad days cannot drag the baseline toward
    itself and mask the anomaly.  A day is an outlier beyond 3.5 MADs
    from the median (the standard robust threshold).

    Exactness: medians use the positional (lo+hi)/2 formula over
    sorted integer daily counts (and over |deviation| values, which
    are exact halves) — the rolling-median discipline, no percentile
    interpolation ambiguity between engines.  All collection happens
    on the per-stream DAILY table (#days rows per group), never event
    scale.
    """
    daily = (
        _t(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.count("*").alias("n"))
    )

    def _median(df, val, out):
        grp = df.groupBy("event_type").agg(
            F.array_sort(F.collect_list(val)).alias("arr")
        )
        k = F.size("arr")
        lo = F.element_at("arr", F.floor((k + 1) / 2).cast("int"))
        hi = F.element_at("arr", (F.floor(k / 2) + 1).cast("int"))
        return grp.select(
            "event_type", ((lo + hi) / 2.0).alias(out)
        )

    med = _median(daily, "n", "med")
    dev = daily.join(med, "event_type").withColumn(
        "ad", F.abs(F.col("n") - F.col("med"))
    )
    mad = _median(dev, "ad", "mad")
    return dev.join(mad, "event_type").select(
        "event_type",
        "d",
        "n",
        E.round_to(F.col("med"), 1).alias("median_n"),
        E.round_to(F.col("mad"), 1).alias("mad_n"),
        (F.abs(F.col("n") - F.col("med")) > 3.5 * F.col("mad"))
        .cast("int")
        .alias("is_outlier"),
    )


@query(
    "agg_dau_mau_stickiness",
    oracle="""
    WITH act AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ), bounds AS (
      SELECT min(d) AS d0, max(d) AS d1 FROM act
    ), anchors AS (
      SELECT act.user_id, act.d + CAST(a.a AS INT) AS anchor
      FROM act, generate_series(0, 27) AS a(a), bounds
      WHERE act.d + CAST(a.a AS INT) BETWEEN bounds.d0 + 27 AND bounds.d1
    ), mau AS (
      SELECT anchor AS d, count(DISTINCT user_id) AS mau
      FROM anchors GROUP BY 1
    ), dau AS (
      SELECT d, count(*) AS dau FROM act GROUP BY d
    )
    SELECT mau.d,
           CAST(coalesce(dau.dau, 0) AS BIGINT) AS dau,
           CAST(mau.mau AS BIGINT) AS mau,
           round(coalesce(dau.dau, 0) / mau.mau, 4) AS stickiness
    FROM mau LEFT JOIN dau USING (d)
    """,
)
def agg_dau_mau_stickiness(spark, sf_dir):
    """DAU/MAU stickiness: daily actives over trailing-28-day actives
    — THE engagement ratio.  The rolling distinct uses the
    explode-anchor idiom (each active (user, day) emits its 28 future
    anchor days; distinct per anchor) — an EQUI-shaped aggregation,
    never a per-day range self-join, and the fan-out is a flat ×28 on
    the already-deduplicated user-day table (agg_rolling_wau's
    pattern at the monthly window).  Anchors clamp to days with a
    full window so every MAU is a true 28-day count.
    """
    act = (
        _t(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("d"))
        .distinct()
    )
    d0, d1 = act.agg(F.min("d"), F.max("d")).collect()[0]
    if d0 is None:  # empty corpus: any anchor yields zero rows
        d0 = d1 = dt.date(1970, 1, 1)
    anchors = act.select(
        "user_id",
        F.explode(
            F.sequence(F.col("d"), F.date_add("d", 27))
        ).alias("anchor"),
    ).filter(
        (F.col("anchor") >= F.lit(d0 + dt.timedelta(days=27)))
        & (F.col("anchor") <= F.lit(d1))
    )
    mau = anchors.groupBy(F.col("anchor").alias("d")).agg(
        F.countDistinct("user_id").alias("mau")
    )
    dau = act.groupBy("d").agg(F.count("*").alias("dau"))
    return mau.join(dau, "d", "left").select(
        "d",
        F.coalesce("dau", F.lit(0)).cast("long").alias("dau"),
        F.col("mau").cast("long").alias("mau"),
        E.round_to(
            F.coalesce("dau", F.lit(0)) / F.col("mau"), 4
        ).alias("stickiness"),
    )


@query(
    "win_rolling_zscore",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS n
      FROM events GROUP BY 1, 2
    ), s AS (
      SELECT event_type, d, n,
             sum(n) OVER w AS sx,
             sum(n * n) OVER w AS sxx,
             count(*) OVER w AS k
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY d
                   ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, d, n,
           round((n - sx / k)
                 / sqrt((sxx - sx * sx / k) / (k - 1)), 4) AS zscore
    FROM s WHERE k >= 3 AND sxx * k > sx * sx
    """,
)
def win_rolling_zscore(spark, sf_dir):
    """Rolling z-score of daily volume against the trailing week —
    the streaming-anomaly form of dq_anomaly_zscore (whose baseline
    is the whole history): each day scored against only the 7 days
    before it, trailing frame excluding the current row so a spike
    cannot normalize itself.  Determinism: mean and sample variance
    derive from INTEGER window sums (Σx, Σx², k — order-free), so the
    one sqrt/divide chain is identical IEEE arithmetic on both
    engines; frames shorter than 3 days are suppressed (variance of
    nothing), and so are ZERO-variance frames — a constant trailing
    week has no defined z-score, and the integer guard
    ``k·Σx² > (Σx)²`` keeps the filter exact on both engines (at tiny
    SFs constant weeks actually occur: the sf0.001 cross-scale sweep
    caught this as an ANSI DIVIDE_BY_ZERO).  One exchange on the
    stream key.

    Integer-moment domain bound (the r9 overflow-class audit): all
    moments here fit BIGINT while the DAILY PER-TYPE count stays
    below ~3×10⁹ (n² is the first to go); measured fine at sf10.
    Beyond that, apply agg_power_law_fit's DECIMAL(38,0) moment
    pattern to ``n·n``, ``sxx·k`` and ``sx·sx`` on both engines.
    """
    from pyspark.sql import Window

    daily = (
        _t(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.count("*").alias("n"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-7, -1)
    )
    s = daily.select(
        "event_type",
        "d",
        "n",
        F.sum("n").over(w).alias("sx"),
        F.sum(F.col("n") * F.col("n")).over(w).alias("sxx"),
        F.count("*").over(w).alias("k"),
    ).filter(
        (F.col("k") >= 3)
        & (F.col("sxx") * F.col("k") > F.col("sx") * F.col("sx"))
    )
    mean = F.col("sx") / F.col("k")
    var = (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("k")) / (
        F.col("k") - 1
    )
    return s.select(
        "event_type",
        "d",
        "n",
        E.round_to((F.col("n") - mean) / F.sqrt(var), 4).alias("zscore"),
    )


@query(
    "agg_benford_first_digit",
    oracle="""
    WITH v AS (
      SELECT CAST(substr(CAST(TRY_CAST(floor(value * 100) AS BIGINT)
                              AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM events WHERE value >= 0.01
    ), obs AS (
      SELECT digit, count(*) AS n FROM v GROUP BY digit
    ), tot AS (SELECT sum(n) AS n_all FROM obs)
    SELECT digit,
           CAST(n AS BIGINT) AS n,
           round(n / tot.n_all, 4) AS observed_p,
           round(ln((digit + 1.0) / digit) / ln(10.0), 4)
             AS benford_p,
           round(abs(n / tot.n_all
                     - ln((digit + 1.0) / digit) / ln(10.0)), 4)
             AS abs_dev
    FROM obs, tot
    """,
)
def agg_benford_first_digit(spark, sf_dir):
    """Benford's-law first-digit audit over transaction values — the
    classic fabricated-data screen (organic multiplicative quantities
    lead with 1 about 30% of the time; fabricated or truncated feeds
    flatten the curve).  The first significant digit comes from the
    integer-cents string (exact — no float formatting ambiguity);
    observed shares sit next to the log10(1+1/d) expectation with the
    absolute deviation per digit.  One map-combinable 9-group rollup.
    """
    v = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value") >= 0.01)
        .select(
            F.substring(
                E.cents("value").cast("string"),
                1,
                1,
            )
            .cast("long")
            .alias("digit")
        )
    )
    obs = v.groupBy("digit").agg(F.count("*").alias("n"))
    n_all = float(scalar_anchor(obs, F.sum("n"), 1))
    benford = F.log(
        (F.col("digit") + 1.0) / F.col("digit")
    ) / F.log(F.lit(10.0))
    p = F.col("n") / F.lit(n_all)
    return obs.select(
        "digit",
        F.col("n").cast("long").alias("n"),
        E.round_to(p, 4).alias("observed_p"),
        E.round_to(benford, 4).alias("benford_p"),
        E.round_to(F.abs(p - benford), 4).alias("abs_dev"),
    )


@query(
    "agg_weekday_seasonality",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, count(*) AS n
      FROM events GROUP BY 1
    ), byday AS (
      SELECT CAST(isodow(d) AS BIGINT) AS dow,
             sum(n) AS n_events, count(*) AS n_days
      FROM daily GROUP BY 1
    ), base AS (
      SELECT sum(n_events) / sum(n_days) AS overall_daily FROM byday
    )
    SELECT dow,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(n_days AS BIGINT) AS n_days,
           round(n_events / n_days, 3) AS avg_daily,
           round((n_events / n_days) / base.overall_daily, 4)
             AS seasonality_index
    FROM byday, base
    """,
)
def agg_weekday_seasonality(spark, sf_dir):
    """Weekday seasonality index: each ISO weekday's average daily
    volume relative to the overall daily average — the
    capacity-planning/forecast-deseasonalization primitive (index 1.3
    on Mondays means Mondays run 30% hot).  Two tiny rollups from the
    per-day table; integer sums divided once at the end, identical
    IEEE chains on both engines.
    """
    daily = (
        _t(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.count("*").alias("n"))
    )
    byday = daily.groupBy(
        (F.weekday("d") + 1).cast("long").alias("dow")
    ).agg(
        F.sum("n").alias("n_events"), F.count("*").alias("n_days")
    )
    tot = scalar_anchor(
        byday, (F.sum("n_events") / F.sum("n_days")).alias("overall_daily"), 1.0
    )
    avg = F.col("n_events") / F.col("n_days")
    return byday.select(
        "dow",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("n_days").cast("long").alias("n_days"),
        E.round_to(avg, 3).alias("avg_daily"),
        E.round_to(avg / F.lit(float(tot)), 4).alias(
            "seasonality_index"
        ),
    )


@query(
    "agg_interarrival_stats",
    oracle="""
    WITH seq AS (
      SELECT event_type,
             CAST(date_diff('second',
                  date_trunc('second',
                    lag(ts) OVER (PARTITION BY event_type
                                  ORDER BY ts, event_id)),
                  date_trunc('second', ts)) AS BIGINT) AS gap_s
      FROM events
    ), g AS (
      SELECT event_type, gap_s FROM seq WHERE gap_s IS NOT NULL
    ), arrs AS (
      SELECT event_type, list_sort(list(gap_s)) AS arr,
             count(*) AS n_gaps,
             CAST(sum(gap_s) AS BIGINT) AS total_s
      FROM g GROUP BY 1
    )
    SELECT event_type, n_gaps,
           round(total_s / n_gaps, 2) AS mean_gap_s,
           (arr[CAST(floor((len(arr) + 1) / 2) AS BIGINT)]
            + arr[CAST(floor(len(arr) / 2) AS BIGINT) + 1]) / 2.0
             AS median_gap_s,
           arr[CAST(ceil(len(arr) * 0.9) AS BIGINT)] AS p90_gap_s
    FROM arrs
    """,
)
def agg_interarrival_stats(spark, sf_dir):
    """Inter-arrival time distribution per stream: mean, exact median,
    and p90 of the gaps between consecutive events — the queueing-
    theory readout behind capacity planning and liveness alerting
    (a p90 gap trending up is a dying feed long before volume
    collapses).  Gaps are integer seconds from one lag window ordered
    by (ts, event_id); quantiles are positional over the sorted
    integer gap array (p90 = ceiling-rank order statistic, no
    interpolation ambiguity).  Per-stream collection is #events-sized
    — at 100 TB swap the exact arrays for the sampled-quantile
    operator (agg_quantile_sampled) per the documented dial.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    # whole-second truncation on BOTH sides: Spark's timestampdiff
    # truncates the interval while DuckDB's date_diff counts boundary
    # crossings — they disagree on sub-second components unless the
    # inputs are already whole seconds
    ts_s = E.ntz_trunc_second(F.col("ts"))
    seq = _t(spark, sf_dir, "events").select(
        "event_type",
        E.timestamp_diff_seconds(
            ts_s, E.ntz_trunc_second(F.lag("ts").over(w))
        )
        .cast("long")
        .alias("gap_s"),
    )
    g = seq.filter(F.col("gap_s").isNotNull())
    arrs = g.groupBy("event_type").agg(
        F.array_sort(F.collect_list("gap_s")).alias("arr"),
        F.count("*").alias("n_gaps"),
        F.sum("gap_s").alias("total_s"),
    )
    k = F.size("arr")
    lo = F.element_at("arr", F.floor((k + 1) / 2).cast("int"))
    hi = F.element_at("arr", (F.floor(k / 2) + 1).cast("int"))
    p90 = F.element_at("arr", F.ceil(k * 0.9).cast("int"))
    return arrs.select(
        "event_type",
        "n_gaps",
        E.round_to(F.col("total_s") / F.col("n_gaps"), 2).alias(
            "mean_gap_s"
        ),
        ((lo + hi) / 2.0).alias("median_gap_s"),
        p90.alias("p90_gap_s"),
    )


@query(
    "agg_power_law_fit",
    oracle="""
    WITH cnt AS (
      SELECT user_id, count(*) AS n FROM events GROUP BY user_id
    ), ranked AS (
      SELECT n, row_number() OVER (ORDER BY n DESC, user_id) AS rnk
      FROM cnt
    ), pts AS (
      SELECT CAST(floor(ln(rnk) * 1000000) AS BIGINT) AS x,
             CAST(floor(ln(n) * 1000000) AS BIGINT) AS y
      FROM ranked
    ), s AS (
      -- sums stay HUGEINT (DuckDB's native exact promotion) — the
      -- BIGINT casts overflowed at the measured sf1 decade exactly
      -- like Spark's long sums; the Spark side now accumulates
      -- DECIMAL(38,0), the same exact-integers-then-one-double-cast
      -- arithmetic as below
      SELECT count(*) AS k,
             sum(x) AS sx,
             sum(y) AS sy,
             sum(x * x) AS sxx,
             sum(x * y) AS sxy
      FROM pts
    )
    SELECT CAST(k AS BIGINT) AS n_points,
           round(CAST(k * sxy - sx * sy AS DOUBLE)
                 / (CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)),
                 4) AS zipf_slope,
           round((CAST(sy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * (CAST(k * sxy - sx * sy AS DOUBLE)
                    / (CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))))
                 / k / 1000000.0,
                 4) AS intercept_ln
    FROM s
    """,
)
def agg_power_law_fit(spark, sf_dir):
    """Zipf/power-law fit of the user-activity distribution: OLS slope
    of ln(count) against ln(rank) — the heavy-tail diagnostic for any
    key distribution (a slope near −1 is classic Zipf; a flat slope
    means no skew problem, a steep one predicts hot-key pain that
    agg_salted_skew/salting must absorb).

    Exactness discipline: each point's ln() is quantized to integer
    micro-units FIRST, so every OLS sum (Σx, Σy, Σx², Σxy) is an
    order-free exact integer — the final slope division is one
    identical IEEE chain on both engines (same floor(·ln·) boundary
    caveat as text_perplexity_proxy).  Per-row products stay inside
    BIGINT (x ≤ 4e7 ⇒ x² ≤ 1.6e15), but the SUMS do not at scale —
    the sf1 decade measured Σx·y ≈ 1e18 and k·Σxy ≈ 5e22, a BIGINT
    overflow (the r9 find; DuckDB silently promotes its sums to
    HUGEINT, so only Spark died).  The moments therefore accumulate
    as DECIMAL(38,0) — exact to 1e38, order-free — and drop to double
    only in the final slope expression, identically on both engines.

    Ranks come from ``E.with_running_total`` (range-repartition +
    per-slice offsets), not an unpartitioned window — the user grain
    is data-sized and must never sort through one task.
    """
    cnt = _t(spark, sf_dir, "events").groupBy("user_id").agg(
        F.count("*").alias("n")
    )
    ranked = E.with_running_total(
        cnt, [F.desc("n"), F.asc("user_id")], "rnk"
    ).select("n", "rnk")
    pts = ranked.select(
        F.floor(F.log("rnk") * 1e6).cast("long").alias("x"),
        F.floor(F.log("n") * 1e6).cast("long").alias("y"),
    )
    dec = "decimal(38,0)"
    s = pts.agg(
        F.count("*").alias("k"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).alias("sxy"),
    )
    kd = F.col("k").cast("double")
    # try_divide: one distinct rank (single-user corpus) zeroes the OLS
    # denominator; DuckDB's double division returns NULL there, ANSI
    # Spark throws — NULL slope/intercept is the cross-engine answer.
    # Numerator exact in decimal, one cast to double at the division —
    # DuckDB's HUGEINT numerator makes the identical single cast.
    slope = F.try_divide(
        (
            F.col("k").cast(dec) * F.col("sxy")
            - F.col("sx") * F.col("sy")
        ).cast("double"),
        kd * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double"),
    )
    return s.select(
        F.col("k").cast("long").alias("n_points"),
        E.round_to(slope, 4).alias("zipf_slope"),
        E.round_to(
            (F.col("sy").cast("double") - F.col("sx").cast("double") * slope)
            / F.col("k") / 1e6,
            4,
        ).alias("intercept_ln"),
    )


@query(
    "agg_histogram_2d",
    oracle="""
    SELECT CAST(hour(ts) AS BIGINT) AS hour_of_day,
           -- poison cells (NaN/±Inf) land in a NULL bucket instead of
           -- crashing the BIGINT cast (nanvalues find); DuckDB's
           -- least(NaN, 9) would otherwise give 9 (NaN sorts
           -- greatest), so the finiteness guard must be explicit to
           -- match Spark's
           CASE WHEN isfinite(value)
                THEN CAST(least(floor(value / 100), 9) AS BIGINT)
           END AS value_bucket,
           count(*) AS n,
           CAST(sum(TRY_CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
             AS cents
    FROM events
    GROUP BY 1, 2
    """,
)
def agg_histogram_2d(spark, sf_dir):
    """Two-dimensional density grid: hour-of-day × value bucket — the
    heat-map primitive behind load/price dashboards (when do the big
    transactions happen?).  A single map-combinable groupBy over the
    24×10 cell grid; the top bucket clamps (least(…, 9)) so outliers
    land in a closed cell instead of minting unbounded group keys —
    the cardinality discipline any 2-D rollup needs at event scale.
    """
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.hour("ts").cast("long").alias("hour_of_day"),
        # NULL bucket for poison cells — Spark's floor(double)→BIGINT
        # would ANSI-abort on ±Inf, and NaN must not silently clamp
        # into bucket 9 (mirrors the oracle's isfinite CASE)
        F.when(
            E.is_finite("value"),
            F.least(F.floor(F.col("value") / 100), F.lit(9)),
        )
        .cast("long")
        .alias("value_bucket"),
    ).agg(
        F.count("*").alias("n"),
        F.sum(E.cents("value"))
        .cast("long")
        .alias("cents"),
    )
