"""Table loaders over the parquet test corpus.

``load_table(spark, sf_dir, name)`` is the single scan entry point
(SURVEY.md §2.1 ``scan_declared_source`` / ``scan_direct_table``):
every query builder goes through it so scan-level concerns —
nanosecond-timestamp normalization, column pruning, partition
discovery — live in one place.

At 100 TB the same function maps to a catalog lookup over
date-partitioned parquet; the API (name → DataFrame) is unchanged.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import configure

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Columns stored as parquet TIMESTAMP(NANOS) — Spark surfaces them as
# long (see session.RUNTIME_CONFS) and we rebuild a TIMESTAMP_NTZ in a
# session-timezone-INDEPENDENT way (pure epoch arithmetic on NTZ, no
# instant↔wall-clock conversion anywhere).
_NANO_TS_COLUMNS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def _nanos_to_ts_ntz(col: str) -> F.Column:
    """long nanoseconds-since-epoch → TIMESTAMP_NTZ, timezone-independent."""
    return F.expr(
        f"timestampadd(MICROSECOND, ({col} div 1000) % 1000000, "
        f"timestampadd(SECOND, {col} div 1000000000, "
        f"TIMESTAMP_NTZ'1970-01-01 00:00:00'))"
    )


# Per-SESSION (sf_dir, name) → analyzed DataFrame.  ``spark.read.
# parquet`` re-lists the directory and re-reads footers on every call;
# the driver's correctness sweep builds >100 queries against the same
# handful of tables, so those repeated listings add whole seconds of
# driver time per invocation.  The corpus dirs are immutable for a
# run, so the cached file listing can never go stale, and a DataFrame
# is an immutable plan object — reusing one across queries is free and
# safe *within the session that created it*.  The outer map is weak-
# keyed on the SparkSession itself: a DataFrame is bound to its
# creating session, so ``spark.newSession()`` (fresh view namespace,
# same JVM) must rebuild its own plans rather than inherit another
# session's — and a stopped session's entries drop with the object.
import weakref

_TABLE_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict[tuple[str, str], DataFrame]]" = (
    weakref.WeakKeyDictionary()
)
_VIEWS_MARKER = "spark.getdbt_spark.registered_sf_dir"


# Clock-plausibility bound, shared by the streaming quarantine
# (streaming.PLAUSIBLE_MAX_WALL) and every run-date anchor below.  A
# feed's max event time stands in for "today" throughout the engine
# (the frozen-run_date policy), so ONE corrupt far-future clock would
# otherwise become the run date — and a spine/window anchored on it
# explodes (the `futuredates` probe: a single 9999-12-30 event turned
# the 1995-anchored weekly spine into 417k weeks × every vertaal row =
# 8.7M rows on a 1000-event corpus; at 100 TB the minute-grain spine
# would be billions of rows per channel).  Deriving "today" only from
# credible clocks costs one scan-level predicate.
PLAUSIBLE_MAX_EVENT_WALL = "2180-01-01 00:00:00"


def credible_clock(col: str = "ts") -> F.Column:
    """True iff the event time is a plausible wall clock (and non-NULL)."""
    return F.col(col) < F.expr(f"TIMESTAMP_NTZ '{PLAUSIBLE_MAX_EVENT_WALL}'")


def run_date_anchor(events: DataFrame, default, col: str = "ts"):
    """The frozen run date: max credible event date, empty-safe.

    Every oracle that anchors mirrors the same clamp
    (``… FILTER (WHERE ts < TIMESTAMP '2180-01-01')``), so both
    engines agree on corpora with poisoned clocks too."""
    return scalar_anchor(
        events.filter(credible_clock(col)), F.max(F.to_date(col)), default
    )


# (applicationId, sf_dir) → run date.  The anchor is a pure function
# of the corpus, so a 100+-query sweep collects it once, not once per
# model entry; a new application may see a regenerated corpus.
_RUN_DATES: dict[tuple[str, str], dt.date] = {}


def corpus_run_date(spark: SparkSession, sf_dir: str) -> dt.date:
    """The corpus's frozen run date — ``run_date_anchor`` over its
    events, memoized per application.  The one anchor of the CLI,
    ``api`` and the ``model_*`` registry entries."""
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _RUN_DATES:
        _RUN_DATES[key] = run_date_anchor(
            load_table(spark, sf_dir, "events"), dt.date(2024, 1, 30)
        )
    return _RUN_DATES[key]


def scalar_anchor(df: DataFrame, expr: F.Column, default):
    """Driver-side one-row literal anchor (the two-phase pattern),
    empty-input-safe.

    Every anchor site collects a tiny scalar (max date, total count)
    and injects it as a LITERAL so the derived predicate stays
    prunable.  On an EMPTY input the aggregate is NULL, and raw
    ``.collect()[0][0]`` then crashes downstream Python arithmetic
    (``None - timedelta``, ``float(None)``) — the empty-partition /
    new-tenant case a 1000-executor deployment hits routinely.
    Substituting ``default`` keeps the query's output schema and lets
    it return zero rows naturally (the source is empty, so any anchor
    yields no matches).  Pinned by tests/test_empty_corpus.py.
    """
    v = df.agg(expr).collect()[0][0]
    return default if v is None else v


def read_parquet_like(spark: SparkSession, path: str, like: DataFrame) -> DataFrame:
    """Parquet read-back that survives an empty write.

    Writing a zero-row DataFrame produces a directory with only
    ``_SUCCESS`` — a schema-less read then fails with
    UNABLE_TO_INFER_SCHEMA.  Supplying the writer's schema makes the
    round-trip total: zero files ⇒ zero rows, same schema.  (Partition
    columns may appear in the supplied schema; Spark resolves them
    against the directory layout as usual.)
    """
    return spark.read.schema(like.schema).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one corpus table; normalize types to engine conventions."""
    configure(spark)
    per_session = _TABLE_CACHE.setdefault(spark, {})
    key = (sf_dir, name)
    df = per_session.get(key)
    if df is None:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        for c in _NANO_TS_COLUMNS.get(name, ()):
            if c in df.columns and dict(df.dtypes)[c] == "bigint":
                df = df.withColumn(c, _nanos_to_ts_ntz(c))
        per_session[key] = df
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every corpus table as a temp view (the ``sql()`` entry
    point and oracle harness both address tables by bare name).

    Idempotent per (session, sf_dir).  The marker is a session conf,
    not a module global: temp views and SQLConf are both session-
    scoped, so ``spark.newSession()`` (same applicationId, fresh view
    namespace) naturally starts unmarked and re-registers, and
    registering sf B after sf A re-points the views and the marker
    together."""
    if spark.conf.get(_VIEWS_MARKER, None) == sf_dir:
        return
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    spark.conf.set(_VIEWS_MARKER, sf_dir)
