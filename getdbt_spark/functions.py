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


def _lazy_cut(df: DataFrame) -> DataFrame:
    """LAZY local checkpoint — the slice-offset helpers' lineage cut.

    The helpers need two consumers (the per-slice counts/totals pass
    and the final offset join) to read ONE materialization of the
    kernel output.  An EAGER ``localCheckpoint()`` achieves that but
    pays a dedicated materialization job per invocation — the fixed
    overhead that made ``pack_token_budget`` read 2× its pre-rewrite
    baseline at sf0.1 (VERDICT r10 #2).  ``eager=False`` materializes
    on the FIRST consuming action instead (the counts collect, or the
    grouped variants' broadcast-offsets build inside the single final
    action), saving one job launch per invocation while keeping the
    identical guarantee: both consumers share the checkpointed RDD's
    blocks, so they read the same ranking.

    Deliberately NOT ``persist()``: cached plans are matched by
    LOGICAL PLAN, so a second invocation over a source whose files
    changed (incremental warehouse rewrites) could silently serve the
    first invocation's data.  Checkpoints are RDD-backed and never
    plan-matched."""
    return df.localCheckpoint(eager=False)


_INT64_MAX = (1 << 63) - 1


def _int64_guard(acc: int, what: str) -> int:
    """Raise on int64 overflow in the driver-side offset accumulation.

    The Arrow kernels' prefix sums are overflow-checked
    (``cumulative_sum_checked`` / ``add_checked``); the matching
    driver-side loop that folds per-slice totals into broadcast
    offsets must give the same guarantee — Python ints never wrap, but
    ``createDataFrame`` against a LONG schema would, silently."""
    if not -(_INT64_MAX + 1) <= acc <= _INT64_MAX:
        raise OverflowError(
            f"{what} exceeds BIGINT range: {acc}"
        )
    return acc


def with_global_rank(
    df: DataFrame,
    order: Sequence[Column | str],
    rank_col: str = "rnk",
    num_slices: int | None = None,
) -> DataFrame:
    """Exact global ``row_number`` over a total order WITHOUT a
    single-partition window — the scale-safe shape for global-rank
    statistics (Gini, Zipf fits) whose input is data-sized.

    ``Window.orderBy(...)`` with no partition spec funnels the entire
    input through ONE task: fine on a 50-row top-k, a scale-killer on
    an entity-grain table (billions of rows at the 100 TB target).
    This helper is the zipWithIndex shape, kept in DataFrames:

    1. ``repartitionByRange`` on the order expressions — each slice
       holds a contiguous run of the total order, slice *i*'s keys all
       sort before slice *i+1*'s (range partitions are assigned in
       ascending partition-id order);
    2. ``sortWithinPartitions`` + a ``mapInArrow`` kernel that
       assigns 1-based LOCAL ranks by counting batches — no extra
       shuffle (a ``Window.partitionBy(pid)`` would re-exchange on
       pid because Catalyst cannot see that range slices already
       cluster it).  Arrow RecordBatches, NOT pandas: a pandas
       roundtrip coerces float NaN payload values to NULL (pandas has
       no null mask for float64 — found by the round-11 property
       test), while Arrow passes every payload column through
       byte-exact;
    3. one LAZY local checkpoint (``_lazy_cut``) so the per-slice
       counts and the final projection read the SAME materialized
       ranking (the lineage is traversed once, and no dedicated
       materialization job is paid — the counts pass triggers it);
    4. per-slice counts collapse to ≤ ``num_slices`` rows, cumulative
       offsets are computed driver-side (the repo's bounded
       scalar-anchor collect class — this is partition metadata, not
       data), and a broadcast join adds ``offset + local_rank``.

    ``order`` must be a TOTAL order (include a unique tie-break
    column) for the rank to be deterministic — the same contract as
    ``row_number`` itself.  Ties that straddle a slice boundary would
    otherwise rank arbitrarily, exactly as an unpartitioned
    ``row_number`` would order them arbitrarily.
    """
    spark = df.sparkSession
    if num_slices:
        n = num_slices
    else:
        # shuffle.partitions may be non-numeric ("auto") on managed
        # Spark distributions — fall back to the cluster's parallelism.
        try:
            n = int(spark.conf.get("spark.sql.shuffle.partitions"))
        except (ValueError, TypeError):
            n = spark.sparkContext.defaultParallelism
    cols = [_col(c) for c in order]
    ranged = (
        df.repartitionByRange(n, *cols)
        .sortWithinPartitions(*cols)
        .withColumn("__gr_pid", F.spark_partition_id())
    )
    # fresh StructType — .add() would MUTATE the frame's cached schema
    out_schema = T.StructType(
        list(ranged.schema.fields)
        + [T.StructField("__gr_lrnk", T.LongType())]
    )

    def _local_rank(batches):
        import pyarrow as pa

        off = 0
        for b in batches:
            idx = pa.array(
                range(off + 1, off + 1 + b.num_rows), type=pa.int64()
            )
            off += b.num_rows
            yield pa.RecordBatch.from_arrays(
                list(b.columns) + [idx],
                names=list(b.schema.names) + ["__gr_lrnk"],
            )

    ranked = _lazy_cut(ranged.mapInArrow(_local_rank, out_schema))
    counts = {
        r["__gr_pid"]: r["n"]
        for r in ranked.groupBy("__gr_pid").agg(
            F.count("*").alias("n")
        ).collect()
    }
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc = _int64_guard(acc + counts[pid], "global rank")
    off_df = spark.createDataFrame(
        offsets, schema="__gr_pid int, __gr_off long"
    )
    return (
        ranked.join(F.broadcast(off_df), "__gr_pid")
        .withColumn(
            rank_col,
            (F.col("__gr_off") + F.col("__gr_lrnk")).cast("long"),
        )
        .drop("__gr_pid", "__gr_lrnk", "__gr_off")
    )


def with_global_cumsum(
    df: DataFrame,
    order: Sequence[Column | str],
    weight: Column | str,
    cumsum_col: str = "cumsum",
    num_slices: int | None = None,
) -> DataFrame:
    """Exact INCLUSIVE global prefix sum of ``weight`` over a total
    order WITHOUT a single-partition window — ``with_global_rank``'s
    shape applied to running totals (the primitive behind sequential
    shard packing, quota cut-offs, and cumulative-share curves, all
    data-sized at the 100 TB target).

    Same four steps as the rank helper: range-repartition on the
    order (slice *i* wholly precedes slice *i+1*), a ``mapInArrow``
    kernel accumulates each slice's LOCAL prefix sum
    with no extra shuffle (Arrow, not pandas: int64 weights stay
    int64 with a real null mask — no float64/NaN dance — and float
    payload columns keep NaN ≠ NULL byte-exact), one lazy checkpoint
    so the per-slice totals and the final projection read the same
    materialization, and ≤ ``num_slices`` per-slice totals collapse
    driver-side (bounded scalar-anchor class — partition metadata,
    not data) into broadcast offsets.

    ``weight`` must already be an integral column (BIGINT-safe sums
    are the caller's contract, exactly as with any groupBy sum);
    NULL weight ≡ 0 (window SUM's skip-NULLs contract); ``order``
    must be a TOTAL order for determinism — same contract as
    ``with_global_rank``.
    """
    spark = df.sparkSession
    if num_slices:
        n = num_slices
    else:
        try:
            n = int(spark.conf.get("spark.sql.shuffle.partitions"))
        except (ValueError, TypeError):
            n = spark.sparkContext.defaultParallelism
    cols = [_col(c) for c in order]
    w = _col(weight)
    ranged = (
        df.withColumn("__gc_w", w.cast("long"))
        .repartitionByRange(n, *cols)
        .sortWithinPartitions(*cols)
        .withColumn("__gc_pid", F.spark_partition_id())
    )
    out_schema = T.StructType(
        list(ranged.schema.fields)
        + [T.StructField("__gc_lsum", T.LongType())]
    )
    def _local_cumsum(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        off = 0
        for b in batches:
            wi = b.schema.get_field_index("__gc_w")
            # NULL weight ≡ 0, then an exact int64 prefix sum.  The
            # cross-batch offset add is _checked too: a plain pc.add
            # wraps silently on int64 overflow, which would break the
            # helper's BIGINT-safe contract exactly when a slice's
            # running total crosses 2^63 at a batch boundary.
            wcol = pc.fill_null(b.column(wi).cast(pa.int64()), 0)
            cs = pc.add_checked(pc.cumulative_sum_checked(wcol), off)
            off = cs[-1].as_py() if len(cs) else off
            yield pa.RecordBatch.from_arrays(
                list(b.columns) + [cs],
                names=list(b.schema.names) + ["__gc_lsum"],
            )

    summed = _lazy_cut(ranged.mapInArrow(_local_cumsum, out_schema))
    totals = {
        r["__gc_pid"]: r["s"]
        for r in summed.groupBy("__gc_pid")
        .agg(F.coalesce(F.sum("__gc_w"), F.lit(0)).alias("s"))
        .collect()
    }
    offsets, acc = [], 0
    for pid in sorted(totals):
        offsets.append((pid, acc))
        acc = _int64_guard(acc + totals[pid], "global cumsum")
    off_df = spark.createDataFrame(
        offsets, schema="__gc_pid int, __gc_off long"
    )
    return (
        summed.join(F.broadcast(off_df), "__gc_pid")
        .withColumn(
            cumsum_col,
            (F.col("__gc_off") + F.col("__gc_lsum")).cast("long"),
        )
        .drop("__gc_pid", "__gc_lsum", "__gc_off", "__gc_w")
    )


def _nan_group_to_null(df: DataFrame, name: str) -> DataFrame:
    """Normalize NaN group values to NULL in the materialized group
    column of the grouped rank/cumsum helpers.

    The Arrow kernels cannot distinguish NULL from NaN after pandas
    conversion (both arrive as NaN in a float64 column), so the kernel
    folds them into one group — but ``groupBy`` and the ``eqNullSafe``
    offsets join treat NaN as an ordinary value distinct from NULL.
    For a float group column holding both, the three layers would
    disagree and ranks would diverge from any consistent contract.
    Normalizing NaN → NULL up front makes all three agree on ONE
    group.  Documented contract: these helpers treat NaN ≡ NULL for
    floating-point group keys (SQL windows would keep them distinct —
    don't group on floats if that distinction matters)."""
    dt = df.schema[name].dataType
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return df.withColumn(
            name,
            F.when(F.isnan(F.col(name)), F.lit(None)).otherwise(
                F.col(name)
            ),
        )
    return df


def with_grouped_global_rank(
    df: DataFrame,
    group: Column | str,
    order: Sequence[Column | str],
    rank_col: str = "rnk",
    num_slices: int | None = None,
) -> DataFrame:
    """Exact per-GROUP global ``row_number`` without a group-partitioned
    window — the scale-safe shape when the grouping key is
    catalog-sized but each group's row count is DATA-sized (documents
    per language, rows per tenant).  ``Window.partitionBy(group)``
    funnels each group through ONE task, so a monolingual 100 TB
    corpus sorts 80% of its documents in a single thread; this helper
    extends the ``with_global_rank`` slice-offset shape with the group
    leading the range partitioning:

    1. range-repartition + sort on (group, *order) — each slice holds
       a contiguous run of the (group, order) total order;
    2. an Arrow kernel assigns local ranks RESETTING at group
       boundaries within the slice (no extra shuffle);
    3. per-(slice, group) counts reduce to ≤ slices × groups rows —
       slices are the shuffle width and groups are catalog-bounded,
       so the offsets frame is partition metadata, not data; the
       exclusive running offset per group is one window PARTITIONED
       BY the group over ≤ ``num_slices`` rows (bounded by
       construction — category (b));
    4. broadcast-join offsets back and add.

    (group, *order) must be a total order within each group —
    ``row_number``'s own determinism contract.

    Float group keys: NaN ≡ NULL — both land in ONE group (see
    ``_nan_group_to_null``).  SQL windows would keep NaN a distinct
    group; don't group on a float column if that distinction matters.
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    if num_slices:
        n = num_slices
    else:
        try:
            n = int(spark.conf.get("spark.sql.shuffle.partitions"))
        except (ValueError, TypeError):
            n = spark.sparkContext.defaultParallelism
    g = _col(group)
    cols = [_col(c) for c in order]
    ranged = (
        _nan_group_to_null(df.withColumn("__gg_grp", g), "__gg_grp")
        .repartitionByRange(n, F.col("__gg_grp"), *cols)
        .sortWithinPartitions(F.col("__gg_grp"), *cols)
        .withColumn("__gg_pid", F.spark_partition_id())
    )
    out_schema = T.StructType(
        list(ranged.schema.fields)
        + [T.StructField("__gg_lrnk", T.LongType())]
    )

    _nullg = object()  # NULL/NaN group sentinel: one group, like SQL

    def _local_rank(batches):
        import pyarrow as pa

        last = object()
        off = 0
        for b in batches:
            gi = b.schema.get_field_index("__gg_grp")
            ranks = []
            # to_pylist preserves None vs NaN (unlike a pandas
            # roundtrip); _nan_group_to_null upstream already folded
            # NaN → NULL, the sentinel keeps the kernel total anyway
            for v in b.column(gi).to_pylist():
                if v is None or v != v:
                    v = _nullg
                if v != last:
                    last, off = v, 0
                off += 1
                ranks.append(off)
            yield pa.RecordBatch.from_arrays(
                list(b.columns) + [pa.array(ranks, type=pa.int64())],
                names=list(b.schema.names) + ["__gg_lrnk"],
            )

    ranked = _lazy_cut(ranged.mapInArrow(_local_rank, out_schema))
    counts = ranked.groupBy("__gg_pid", "__gg_grp").agg(
        F.count("*").alias("__gg_n")
    )
    w = (
        Window.partitionBy("__gg_grp")
        .orderBy("__gg_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "__gg_pid",
        "__gg_grp",
        F.coalesce(F.sum("__gg_n").over(w), F.lit(0)).alias("__gg_off"),
    )
    offsets = F.broadcast(
        offsets.withColumnsRenamed(
            {"__gg_pid": "__gg_pid2", "__gg_grp": "__gg_grp2"}
        )
    )
    return (
        # eqNullSafe on the group: a NULL group is one group (SQL
        # window semantics) and must not vanish through the equi-join
        ranked.join(
            offsets,
            (F.col("__gg_pid") == F.col("__gg_pid2"))
            & F.col("__gg_grp").eqNullSafe(F.col("__gg_grp2")),
        )
        .withColumn(
            rank_col,
            (F.col("__gg_off") + F.col("__gg_lrnk")).cast("long"),
        )
        .drop(
            "__gg_pid", "__gg_grp", "__gg_pid2", "__gg_grp2",
            "__gg_lrnk", "__gg_off",
        )
    )


def with_grouped_global_cumsum(
    df: DataFrame,
    group: Column | str,
    order: Sequence[Column | str],
    weight: Column | str,
    cumsum_col: str = "cumsum",
    num_slices: int | None = None,
) -> DataFrame:
    """Exact per-GROUP inclusive prefix sum of ``weight`` without a
    group-partitioned window — ``with_grouped_global_rank``'s shape
    applied to running totals.  The packing operators partition
    running token totals by language/source: catalog-sized keys whose
    per-group row counts are DATA-sized, so a dominant group would
    fold its whole token stream through one window task.  Here the
    kernel accumulates per-slice per-group sums (resetting at group
    boundaries of the (group, order) range sort), the per-(slice,
    group) totals reduce to slices × groups metadata rows, exclusive
    per-group offsets come from one window over that bounded frame,
    and a broadcast join adds them back.

    Same contracts as the siblings: integral ``weight``, (group,
    *order) total within each group.

    Float group keys: NaN ≡ NULL — both land in ONE group (see
    ``_nan_group_to_null``).  SQL windows would keep NaN a distinct
    group; don't group on a float column if that distinction matters.
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    if num_slices:
        n = num_slices
    else:
        try:
            n = int(spark.conf.get("spark.sql.shuffle.partitions"))
        except (ValueError, TypeError):
            n = spark.sparkContext.defaultParallelism
    g = _col(group)
    cols = [_col(c) for c in order]
    w_col = _col(weight)
    ranged = (
        _nan_group_to_null(df.withColumn("__gc_grp", g), "__gc_grp")
        .withColumn("__gc_w", w_col.cast("long"))
        .repartitionByRange(n, F.col("__gc_grp"), *cols)
        .sortWithinPartitions(F.col("__gc_grp"), *cols)
        .withColumn("__gc_pid", F.spark_partition_id())
    )
    out_schema = T.StructType(
        list(ranged.schema.fields)
        + [T.StructField("__gc_lsum", T.LongType())]
    )

    _nullg = object()  # NULL/NaN group sentinel: one group, like SQL

    def _local_cumsum(batches):
        import pyarrow as pa

        last = object()
        acc = 0
        for b in batches:
            gi = b.schema.get_field_index("__gc_grp")
            wi = b.schema.get_field_index("__gc_w")
            sums = []
            # to_pylist keeps None vs NaN and int64 weights integral —
            # no pandas float64 coercion anywhere in the kernel
            for grp, wv in zip(
                b.column(gi).to_pylist(), b.column(wi).to_pylist()
            ):
                if grp is None or grp != grp:
                    grp = _nullg
                if grp != last:
                    last, acc = grp, 0
                # NULL weight ≡ 0 (the kernel contract; a window SUM
                # also skips NULLs)
                acc += 0 if wv is None else int(wv)
                sums.append(acc)
            yield pa.RecordBatch.from_arrays(
                list(b.columns) + [pa.array(sums, type=pa.int64())],
                names=list(b.schema.names) + ["__gc_lsum"],
            )

    summed = _lazy_cut(ranged.mapInArrow(_local_cumsum, out_schema))
    totals = summed.groupBy("__gc_pid", "__gc_grp").agg(
        F.coalesce(F.sum("__gc_w"), F.lit(0)).alias("__gc_n")
    )
    w = (
        Window.partitionBy("__gc_grp")
        .orderBy("__gc_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "__gc_pid",
        "__gc_grp",
        F.coalesce(F.sum("__gc_n").over(w), F.lit(0)).alias("__gc_off"),
    )
    offsets = F.broadcast(
        offsets.withColumnsRenamed(
            {"__gc_pid": "__gc_pid2", "__gc_grp": "__gc_grp2"}
        )
    )
    return (
        # eqNullSafe on the group — see with_grouped_global_rank
        summed.join(
            offsets,
            (F.col("__gc_pid") == F.col("__gc_pid2"))
            & F.col("__gc_grp").eqNullSafe(F.col("__gc_grp2")),
        )
        .withColumn(
            cumsum_col,
            (F.col("__gc_off") + F.col("__gc_lsum")).cast("long"),
        )
        .drop(
            "__gc_pid", "__gc_grp", "__gc_pid2", "__gc_grp2",
            "__gc_lsum", "__gc_off", "__gc_w",
        )
    )
