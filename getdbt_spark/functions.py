"""BigQuery→Spark scalar-function helper library (SURVEY.md §2.8).

Each helper closes one semantic gotcha observed in the reference SQL,
so model builders never hand-roll the translation:

- ``split_literal``      BQ SPLIT splits on a LITERAL; Spark on a regex
                         (reference delimiter ``'_||_'`` would be a
                         catastrophic silent wrong-answer unescaped —
                         ``atinternet_smarttag_streams_daily_v4.sql:53``).
- ``safe_offset``        BQ ``arr[SAFE_OFFSET(i)]`` is 0-based NULL-safe;
                         Spark ``element_at`` is 1-based (``:113-123``).
- ``iso_year``           BQ ``EXTRACT(ISOYEAR ...)`` — NOT ``F.year``
                         (Dec 29–Jan 3 straddle; dashboard weekly joins).
- ``nullif_``            portable NULLIF (``:113-119``).
- ``bq_div``             BQ ``DIV`` integer division (``:181``).
- ``timestamp_diff_seconds``  BQ ``timestamp_diff(t1, t2, second)``
                         = t1−t2 sign convention (``:64``).
- ``string_agg_ordered`` BQ ``STRING_AGG(x, sep ORDER BY x)`` —
                         deterministic ordered concat agg (``:219``).
- ``date_spine`` / ``timestamp_spine``  BQ GENERATE_DATE_ARRAY /
                         GENERATE_TIMESTAMP_ARRAY (inclusive bounds).

All helpers stay JVM-side (pure Column expressions — no Python UDFs),
so they inline into whole-stage codegen.
"""

from __future__ import annotations

import re
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .session import lineage_cut


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


# -- NTZ-pure wall-clock arithmetic ------------------------------------
#
# The engine's temporal contract is TIMESTAMP_NTZ wall clock (the
# reference's CET discipline), and the DuckDB oracle computes pure
# wall-clock arithmetic.  Spark's ``date_trunc`` / ``timestampdiff`` /
# ``timestamp_diff`` coerce NTZ operands through the SESSION time zone,
# which bumps wall times inside the spring-forward skipped hour +1 h
# (Europe/Amsterdam 02:00→03:00) — a silent cross-engine divergence the
# round-6 random-corpus verification surfaced (the fixed test corpus is
# January-only, so it never fired).  These primitives stay wall-pure
# for EVERY timestamp: field extraction (year/…/second) is TZ-free on
# NTZ, NTZ−NTZ subtraction is pure internal-micros arithmetic, and the
# UTC-rebased instant's differences equal wall-clock differences.


def _ntz_epoch_lit() -> Column:
    return F.expr("TIMESTAMP_NTZ '1970-01-01 00:00:00'")


def ntz_epoch_us(col: Column | str) -> Column:
    """Wall-clock epoch micros of an NTZ timestamp (TZ-free).

    NTZ−NTZ subtraction is pure internal-micros arithmetic (the type
    has no zone to consult — probed exact across both DST transition
    nights), and the DECIMAL(30,6) cast of the day-time interval is
    its exact signed seconds with microsecond fraction.  One
    subtraction — an order of magnitude cheaper than rebuilding six
    calendar fields through ``make_timestamp`` (which cost the streams
    model ~10% end to end)."""
    d = (_col(col) - _ntz_epoch_lit()).cast("decimal(30,6)")
    return (d * F.lit(1000000)).cast("long")


def ntz_from_epoch_us(col: Column | str) -> Column:
    """Inverse of :func:`ntz_epoch_us`: wall-clock epoch micros → NTZ.

    Pure micros addition onto the NTZ epoch — no zone consulted, exact
    for any value an NTZ can hold.  This is the JVM-side reconstruction
    step of the micros-long kernel contract: pandas kernels exchange
    event time as int64 epoch micros (immune to Arrow's ns coercion,
    which dies past 2262-04-11), and the timestamp face is rebuilt
    here, after the kernel."""
    return F.timestamp_add("MICROSECOND", _col(col), _ntz_epoch_lit())


def ntz_instant(col: Column | str) -> Column:
    """NTZ wall clock → TIMESTAMP instant with UTC face == wall clock.

    DST-free by construction (fixed zero offset): the wall-clock epoch
    micros are re-based onto the UTC epoch instant, so instant
    differences equal wall-clock differences for every timestamp.
    This is the event-time mapping for streaming watermarks
    (streaming._ntz_instant)."""
    return F.timestamp_add(
        "MICROSECOND",
        ntz_epoch_us(col),
        F.expr("TIMESTAMP '1970-01-01 00:00:00Z'"),
    )


def ntz_wall(col: Column | str) -> Column:
    """Inverse of :func:`ntz_instant`: instant UTC face → NTZ.

    Pure epoch arithmetic: ``unix_micros`` of the instant added onto
    the NTZ epoch — no time zone is consulted at any step.  The
    tempting alternatives both have a DST hole: a bare NTZ cast (and
    3-arg ``convert_timezone``) renders the SESSION face, and even
    2-arg ``convert_timezone('UTC', instant)`` round-trips through the
    session face, where the fall-back AMBIGUOUS hour resolves to the
    earlier offset and comes back −1 h (probed: UTC face
    2024-10-27 01:15 → 00:15)."""
    return F.timestamp_add(
        "MICROSECOND",
        F.unix_micros(_col(col)),
        _ntz_epoch_lit(),
    )


def ntz_diff_us(t1: Column | str, t2: Column | str) -> Column:
    """Exact (t1 - t2) in microseconds, pure wall-clock arithmetic."""
    d = (_col(t1) - _col(t2)).cast("decimal(30,6)")
    return (d * F.lit(1000000)).cast("long")


def ntz_trunc_minute(col: Column | str) -> Column:
    """date_trunc('minute', ntz) without the session-TZ round-trip.

    Subtracting the extracted sub-minute component is pure NTZ
    calendar arithmetic (no zone consulted) and needs ONE field
    extraction — the six-field ``make_timestamp_ntz`` rebuild costs
    ~2 s on the streams model's hot join key at sf0.1."""
    c = _col(col)
    return c - F.make_interval(secs=F.date_part(F.lit("SECOND"), c))


def ntz_trunc_hour(col: Column | str) -> Column:
    """date_trunc('hour', ntz) without the session-TZ round-trip."""
    c = _col(col)
    return c - F.make_interval(
        mins=F.minute(c), secs=F.date_part(F.lit("SECOND"), c)
    )


def ntz_trunc_second(col: Column | str) -> Column:
    """date_trunc('second', ntz) without the session-TZ round-trip."""
    c = _col(col)
    sec = F.date_part(F.lit("SECOND"), c)
    return c - F.make_interval(secs=sec - F.floor(sec))


def split_literal(col: Column | str, delimiter: str) -> Column:
    """SPLIT(s, delim) with a LITERAL delimiter (BQ semantics).

    Spark's split() takes a Java regex; quote the delimiter so
    multi-char delimiters like ``'_||_'`` split literally.
    Trailing empty strings are kept (limit=-1) to match BigQuery.
    """
    return F.split(_col(col), re.escape(delimiter), -1)


def safe_offset(col: Column | str, index: int) -> Column:
    """arr[SAFE_OFFSET(i)] — 0-based, NULL (not error) when out of bounds."""
    return F.try_element_at(_col(col), F.lit(index + 1))


def nullif_(col: Column | str, value) -> Column:
    """NULLIF(x, v) — NULL when x == v else x."""
    c = _col(col)
    return F.when(c == F.lit(value), F.lit(None)).otherwise(c)


def iso_year(col: Column | str) -> Column:
    """EXTRACT(ISOYEAR FROM d) — the year owning the ISO week."""
    return F.extract(F.lit("YEAROFWEEK"), _col(col))


def iso_week(col: Column | str) -> Column:
    """EXTRACT(ISOWEEK FROM d) — Spark weekofyear is already ISO-8601."""
    return F.weekofyear(_col(col))


def bq_div(x: Column | str, y: Column | str | int) -> Column:
    """BQ DIV(x, y): integer division truncating toward zero (INT64).

    Uses Spark's integral ``div`` so the arithmetic stays in LONG —
    routing through DOUBLE division would lose exactness for
    |quotient| > 2^53. Spark ``div`` truncates toward zero, same as
    BigQuery DIV, for all sign combinations.
    """
    xc = _col(x).cast("long")
    yc = (F.lit(y) if isinstance(y, int) else _col(y)).cast("long")
    return F.call_function("div", xc, yc)


def timestamp_diff_seconds(t1: Column | str, t2: Column | str) -> Column:
    """BQ timestamp_diff(t1, t2, SECOND) = whole seconds of (t1 - t2).

    NTZ-pure (``F.timestamp_diff`` session-coerces NTZ operands and
    corrupts the DST skipped hour): one NTZ subtraction, then a
    decimal→long cast, which truncates toward zero — matching BQ
    timestamp_diff / DuckDB date_diff for NEGATIVE non-integral
    diffs too (floor(-1.5) = -2 would not)."""
    return (_col(t1) - _col(t2)).cast("decimal(30,6)").cast("long")


def string_agg_ordered(col: Column | str, sep: str = ",") -> Column:
    """STRING_AGG(x, sep ORDER BY x) — deterministic ordered concat.

    collect_list order is nondeterministic under shuffle, so sort the
    collected array before joining; NULL elements are dropped first
    (BigQuery STRING_AGG ignores NULLs).
    """
    c = _col(col)
    return F.array_join(
        F.array_sort(F.collect_list(c)), sep
    )


def date_spine(start: str, end: Column | str, step_days: int = 7) -> Column:
    """GENERATE_DATE_ARRAY(start, end, INTERVAL step DAY/WEEK) — an
    array column of dates, inclusive of both bounds (explode to get the
    spine rows)."""
    end_col = F.to_date(F.lit(end)) if isinstance(end, str) else _col(end)
    return F.sequence(
        F.to_date(F.lit(start)), end_col, F.expr(f"interval {step_days} days")
    )


def timestamp_spine(begin: Column | str, end: Column | str, minutes: int = 1) -> Column:
    """GENERATE_TIMESTAMP_ARRAY(b, e, INTERVAL n MINUTE), inclusive bounds."""
    return F.sequence(_col(begin), _col(end), F.expr(f"interval {minutes} minutes"))


def null_lit(dtype: str) -> Column:
    """Typed NULL literal (BQ infers the type; Spark must be told)."""
    return F.lit(None).cast(dtype)


# 2^63 is exactly representable as a double; the first double BELOW it
# is 9223372036854774784, so `p < 2^63` admits exactly the doubles
# whose floor fits a signed long, and `p >= -2^63` the lower edge.
_LONG_MIN_D = -9223372036854775808.0
_LONG_MAX_EXCL_D = 9223372036854775808.0


def is_finite(col: Column | str) -> Column:
    """True iff the double is a real number (not NaN, not ±Inf) —
    DuckDB's ``isfinite``.  The bare comparisons alone would admit
    NaN through the lower bound (Spark sorts NaN greater than +Inf),
    hence the explicit isnan."""
    c = _col(col)
    return (
        ~F.isnan(c)
        & (c > F.lit(float("-inf")))
        & (c < F.lit(float("inf")))
    )


def cents(col: Column | str) -> Column:
    """Exact integer-cents projection of a double money column,
    poison-proof: NULL for NaN, ±Inf, and out-of-long-range values.

    Spark's ``floor(double)`` RETURNS BIGINT, so under ANSI a single
    corrupt ±Inf cell aborts the whole job inside floor itself —
    ``try_cast`` after the fact never runs (found by the `nanvalues`
    random-corpus variant).  The range guard is a lazily-evaluated
    CASE WHEN (the documented ANSI idiom), and its admitted set is
    EXACTLY the set DuckDB's ``TRY_CAST(floor(x*100) AS BIGINT)``
    accepts — NaN/±Inf fail the predicate because NaN compares
    greater than everything, so both bounds can't hold.  NULL cents
    are skipped by SUM in both engines: one poisoned cell costs one
    cell, not the job.
    """
    p = _col(col) * F.lit(100.0)
    return F.when(
        (p >= F.lit(_LONG_MIN_D)) & (p < F.lit(_LONG_MAX_EXCL_D)),
        F.floor(p),
    ).otherwise(F.lit(None).cast("long"))


def round_to(col: Column | str, ndigits: int = 2) -> Column:
    """Round half away from zero: ``sign(x) * floor(|x|*10^n + 0.5) / 10^n``.

    Spark's ``F.round`` rounds the double's shortest DECIMAL
    representation (HALF_UP on BigDecimal), while DuckDB/C++ round the
    BINARY value — they disagree on values like 74721.525 whose binary
    form is 74721.52499…  This floor form is pure IEEE arithmetic, so
    it is bit-identical across engines (and equals DuckDB's round()).
    The sign/abs wrap makes exact binary ties (dyadic inputs like
    -0.25 at ndigits=1) round away from zero on both signs — BigQuery
    ROUND semantics; plain floor would send negative ties toward +∞.
    Used for every double the oracle harness hashes.

    Out-of-range guard: Spark's ``floor(double)`` → BIGINT SILENTLY
    SATURATES at ±2^63, so ±Inf (and any |x| ≥ 2^63/scale) came back
    as ±9.223e18/scale — a silent wrong answer where DuckDB/BigQuery
    round() return the input unchanged (found by the poisoned-prices
    random-corpus probe).  Values that big have ulp ≫ the rounding
    grid, so passing them through IS the correct rounding; the single
    predicate also routes NaN/±Inf/NULL through untouched.
    """
    c = _col(col)
    scale = F.lit(float(10**ndigits))
    p = F.abs(c) * scale + F.lit(0.5)
    return F.when(
        p < F.lit(9223372036854775808.0),  # 2^63, exact as a double
        F.signum(c) * (F.floor(p) / scale),
    ).otherwise(c)


def safe_divide(num: Column | str, den: Column | str) -> Column:
    """x / NULLIF(y, 0) — the reference's zero-guard ratio idiom."""
    d = _col(den)
    return _col(num) / F.when(d == 0, F.lit(None)).otherwise(d)


def concat_bq(*cols: Column | str) -> Column:
    """CONCAT — NULL if any argument is NULL (both engines agree;
    helper exists so builders are explicit about the semantics)."""
    return F.concat(*[_col(c) for c in cols])


def _nan_group_to_null(df: DataFrame, name: str) -> DataFrame:
    """Normalize NaN group values to NULL in ``with_running_total``'s
    materialized group column.

    The kernel finds group runs with Arrow's ``not_equal``, where
    NaN ≠ NaN would open a new run on every NaN row, while ``groupBy``
    and the ``eqNullSafe`` offsets join treat NaN as one ordinary value
    distinct from NULL.  Normalizing NaN → NULL up front makes all
    three layers agree on ONE group.  Documented contract: the helper
    treats NaN ≡ NULL for floating-point group keys (SQL windows would
    keep them distinct — don't group on floats if that distinction
    matters)."""
    dt = df.schema[name].dataType
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return df.withColumn(
            name,
            F.when(F.isnan(F.col(name)), F.lit(None)).otherwise(
                F.col(name)
            ),
        )
    return df


def with_running_total(
    df: DataFrame,
    order: Sequence[Column | str],
    out_col: str,
    *,
    weight: Column | str | None = None,
    group: Column | str | None = None,
    num_slices: int | None = None,
) -> DataFrame:
    """Exact INCLUSIVE running total of ``weight`` over a total
    ``order``, restarted per ``group``, WITHOUT a single-task window.

    ``weight=None`` counts rows, which is ``row_number``;
    ``group=None`` is one group, which is the unpartitioned window.
    So the four shapes — global rank (Gini, Zipf fits, curriculum
    order), global running total (curriculum shard packing),
    per-group rank (CCNet terciles) and per-group running total
    (per-language packing) — are one algorithm.  An unpartitioned
    window funnels a data-sized input through ONE task, and a
    group-partitioned one funnels each group through one task (a
    monolingual corpus sorts ~all documents in a single thread);
    this is the zipWithIndex shape kept in DataFrames:

    1. range-repartition + sort on (group, *order) — slice *i*'s keys
       all sort before slice *i+1*'s (range partitions are assigned in
       ascending partition-id order);
    2. one ``mapInArrow`` kernel accumulates each slice's LOCAL prefix
       sums, resetting at group-run boundaries and carrying the
       running value across batches — no extra shuffle (a
       ``Window.partitionBy(pid)`` would re-exchange on pid).  Arrow,
       not pandas: int64 weights stay int64 and float payload columns
       pass through byte-exact (a pandas roundtrip turns NaN into
       NULL — found by the round-11 property test);
    3. one lazy lineage cut (``session.lineage_cut``, ``eager=False``)
       so the per-slice totals and the final projection read the SAME
       materialization without a job of its own (an eager cut made
       ``pack_token_budget`` read 2× its pre-rewrite time at sf0.1);
    4. per-(slice, group) totals reduce to ≤ slices × groups rows —
       partition metadata, not data — and the exclusive offset per
       group is one window PARTITIONED BY the group over that bounded
       frame (a constant key in global mode keeps it partitioned);
    5. a broadcast join adds ``offset + local``.  ``eqNullSafe`` on
       the group: a NULL group is one group (SQL window semantics) and
       must not vanish through the equi-join.

    Contracts: ``weight`` is integral; NULL weight ≡ 0 (window SUM's
    skip-NULLs contract); (group, *order) must be a TOTAL order within
    each group for determinism — ``row_number``'s own contract.  The
    result is BIGINT-safe: the kernel's prefix sums are
    overflow-checked (``cumulative_sum_checked``) and the offsets sum
    and the final add are ANSI-checked, so an overflow raises instead
    of wrapping.  Float group keys: NaN ≡ NULL (see
    ``_nan_group_to_null``).
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    n = num_slices
    if not n:
        # shuffle.partitions may be non-numeric ("auto") on managed
        # Spark distributions — fall back to the cluster's parallelism.
        try:
            n = int(spark.conf.get("spark.sql.shuffle.partitions"))
        except (ValueError, TypeError):
            n = spark.sparkContext.defaultParallelism
    g = F.lit(0) if group is None else _col(group)
    w = F.lit(1) if weight is None else _col(weight)
    keys = [F.col("__rt_grp")] + [_col(c) for c in order]
    ranged = (
        _nan_group_to_null(df.withColumn("__rt_grp", g), "__rt_grp")
        .withColumn("__rt_w", F.coalesce(w.cast("long"), F.lit(0)))
        .repartitionByRange(n, *keys)
        .sortWithinPartitions(*keys)
        .withColumn("__rt_pid", F.spark_partition_id())
    )
    names = ranged.schema.names
    gi, wi = names.index("__rt_grp"), names.index("__rt_w")
    # fresh StructType — .add() would MUTATE the frame's cached schema
    out_schema = T.StructType(
        list(ranged.schema.fields)
        + [T.StructField("__rt_local", T.LongType())]
    )

    def _local_prefix(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        tail, run = None, 0
        for b in batches:
            rows, grp = b.num_rows, b.column(gi)
            # rows that open a new group run; prepending the previous
            # batch's last key lets a run continue across batches
            ext = grp if tail is None else pa.concat_arrays([tail, grp])
            cur, prev = ext[1:], ext[:-1]
            brk = pc.and_not(
                pc.fill_null(pc.not_equal(cur, prev), True),
                pc.and_(pc.is_null(cur), pc.is_null(prev)),
            )
            starts = np.flatnonzero(brk.to_numpy(zero_copy_only=False))
            starts += int(tail is None)  # brk[i] is about row i+1 then
            bounds = np.unique(np.concatenate([[0, rows], starts]))
            pieces, opened = [], set(starts.tolist())
            # one checked prefix sum per run (≤ groups per batch), never
            # a Python loop over rows
            for lo, hi in zip(bounds[:-1].tolist(), bounds[1:].tolist()):
                if lo in opened:
                    run = 0
                cs = pc.cumulative_sum_checked(
                    b.column(wi).slice(lo, hi - lo), start=run
                )
                run = cs[-1].as_py()
                pieces.append(cs)
            if rows:
                tail = grp.slice(rows - 1)
            yield pa.RecordBatch.from_arrays(
                list(b.columns)
                + [pa.chunked_array(pieces, pa.int64()).combine_chunks()],
                names=list(b.schema.names) + ["__rt_local"],
            )

    local = lineage_cut(spark)(
        ranged.mapInArrow(_local_prefix, out_schema), eager=False
    )
    totals = local.groupBy("__rt_pid", "__rt_grp").agg(
        F.sum("__rt_w").alias("__rt_n")
    )
    before = (
        Window.partitionBy("__rt_grp")
        .orderBy("__rt_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = F.broadcast(
        totals.select(
            F.col("__rt_pid").alias("__rt_pid2"),
            F.col("__rt_grp").alias("__rt_grp2"),
            F.coalesce(F.sum("__rt_n").over(before), F.lit(0)).alias(
                "__rt_off"
            ),
        )
    )
    return (
        local.join(
            offsets,
            (F.col("__rt_pid") == F.col("__rt_pid2"))
            & F.col("__rt_grp").eqNullSafe(F.col("__rt_grp2")),
        )
        .withColumn(out_col, F.col("__rt_off") + F.col("__rt_local"))
        .drop(
            "__rt_pid", "__rt_grp", "__rt_w", "__rt_local",
            "__rt_pid2", "__rt_grp2", "__rt_off",
        )
    )
