"""Unit tests for the BigQuery→Spark helper library (SURVEY.md §2.8).

One test per gotcha from the survey's "genuinely hard parts" list:
regex-vs-literal SPLIT, 0- vs 1-based offsets, ISO year boundary
dates, inclusive sequence bounds, rounding ties, and LONG-exact
integer division.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from getdbt_spark import functions as E


def one(spark, col):
    """Evaluate a Column against a single dummy row."""
    return spark.range(1).select(col.alias("v")).first()["v"]


# -- split_literal: BQ SPLIT is literal, Spark split is regex ---------------


def test_split_literal_multichar_pipe_delimiter(spark):
    # Reference delimiter '_||_' (streams_daily_v4.sql:53): unescaped,
    # Spark's regex split would shred on every char boundary.
    assert one(spark, E.split_literal(F.lit("a_||_b_||_c"), "_||_")) == ["a", "b", "c"]


def test_split_literal_keeps_trailing_empties(spark):
    assert one(spark, E.split_literal(F.lit("x_||_"), "_||_")) == ["x", ""]


def test_split_literal_regex_metachars_are_literal(spark):
    assert one(spark, E.split_literal(F.lit("a.b"), ".")) == ["a", "b"]


# -- safe_offset: 0-based, NULL on out-of-bounds ----------------------------


def test_safe_offset_zero_based(spark):
    arr = F.array(F.lit("p"), F.lit("q"))
    assert one(spark, E.safe_offset(arr, 0)) == "p"
    assert one(spark, E.safe_offset(arr, 1)) == "q"


def test_safe_offset_out_of_bounds_is_null(spark):
    arr = F.array(F.lit("p"))
    assert one(spark, E.safe_offset(arr, 5)) is None


# -- iso_year / iso_week: Dec 28 – Jan 4 straddle ---------------------------


@pytest.mark.parametrize(
    ("date", "year", "week"),
    [
        ("2018-12-31", 2019, 1),  # Monday of ISO week 1/2019
        ("2019-01-01", 2019, 1),
        ("2016-01-01", 2015, 53),  # Friday of ISO week 53/2015
        ("2015-12-28", 2015, 53),
        ("2021-01-03", 2020, 53),  # Sunday closing ISO week 53/2020
        ("2021-01-04", 2021, 1),
        ("2019-12-28", 2019, 52),
    ],
)
def test_iso_year_week_boundaries(spark, date, year, week):
    d = F.to_date(F.lit(date))
    assert one(spark, E.iso_year(d)) == year
    assert one(spark, E.iso_week(d)) == week


# -- bq_div: LONG-exact truncation toward zero ------------------------------


def test_bq_div_basic(spark):
    assert one(spark, E.bq_div(F.lit(7), 2)) == 3
    assert one(spark, E.bq_div(F.lit(7000), 1000)) == 7


def test_bq_div_negative_truncates_toward_zero(spark):
    assert one(spark, E.bq_div(F.lit(-7), 2)) == -3
    assert one(spark, E.bq_div(F.lit(7), -2)) == -3
    assert one(spark, E.bq_div(F.lit(-7), -2)) == 3


def test_bq_div_exact_beyond_2_53(spark):
    # 2^61 / 2 must stay exact — double-routed division loses the low bits.
    big = 2**61 + 3
    assert one(spark, E.bq_div(F.lit(big), 2)) == (2**61 + 3) // 2  # trunc = floor >0
    assert one(spark, E.bq_div(F.lit(big), 1)) == big


def test_bq_div_result_type_is_long(spark):
    df = spark.range(1).select(E.bq_div(F.lit(10), 3).alias("v"))
    assert dict(df.dtypes)["v"] == "bigint"


# -- round_to: half away from zero, binary-stable ---------------------------


def test_round_to_positive(spark):
    assert one(spark, E.round_to(F.lit(2.345), 2)) == 2.35
    assert one(spark, E.round_to(F.lit(0.25), 1)) == 0.3  # exact dyadic tie


def test_round_to_negative_ties_away_from_zero(spark):
    # floor-only form sends -0.25 → -0.2 (toward +inf); BQ/DuckDB → -0.3.
    assert one(spark, E.round_to(F.lit(-0.25), 1)) == -0.3
    assert one(spark, E.round_to(F.lit(-1.5), 0)) == -2.0
    assert one(spark, E.round_to(F.lit(-2.345), 2)) == -2.35


def test_round_to_zero_and_null(spark):
    assert one(spark, E.round_to(F.lit(0.0), 2)) == 0.0
    assert one(spark, E.round_to(F.lit(None).cast("double"), 2)) is None


# -- nullif_ / safe_divide --------------------------------------------------


def test_nullif_matches_and_passes_through(spark):
    assert one(spark, E.nullif_(F.lit("null"), "null")) is None
    assert one(spark, E.nullif_(F.lit("x"), "null")) == "x"
    # double-nesting idiom from streams_daily_v4.sql:117
    assert one(spark, E.nullif_(E.nullif_(F.lit(""), ""), "null")) is None


def test_safe_divide_zero_denominator(spark):
    assert one(spark, E.safe_divide(F.lit(10.0), F.lit(0.0))) is None
    assert one(spark, E.safe_divide(F.lit(10.0), F.lit(4.0))) == 2.5


# -- timestamp_diff sign convention -----------------------------------------


def test_timestamp_diff_seconds_sign(spark):
    t1 = F.to_timestamp(F.lit("2024-01-01 00:01:40"))
    t2 = F.to_timestamp(F.lit("2024-01-01 00:00:00"))
    assert one(spark, E.timestamp_diff_seconds(t1, t2)) == 100  # t1 - t2
    assert one(spark, E.timestamp_diff_seconds(t2, t1)) == -100


def test_timestamp_diff_seconds_negative_fractional_truncates_toward_zero(spark):
    # BQ timestamp_diff / DuckDB date_diff count COMPLETE seconds, i.e.
    # truncate toward zero: -1.5 s elapsed -> -1, not floor's -2.
    t1 = F.to_timestamp(F.lit("2024-01-01 00:00:00.000"))
    t2 = F.to_timestamp(F.lit("2024-01-01 00:00:01.500"))
    assert one(spark, E.timestamp_diff_seconds(t1, t2)) == -1
    assert one(spark, E.timestamp_diff_seconds(t2, t1)) == 1


# -- spines: inclusive bounds ----------------------------------------------


def test_date_spine_inclusive_both_bounds(spark):
    arr = one(spark, E.date_spine("2024-01-01", "2024-01-15", 7))
    assert arr == [
        datetime.date(2024, 1, 1),
        datetime.date(2024, 1, 8),
        datetime.date(2024, 1, 15),
    ]


def test_date_spine_end_not_on_step(spark):
    arr = one(spark, E.date_spine("2024-01-01", "2024-01-13", 7))
    assert arr == [datetime.date(2024, 1, 1), datetime.date(2024, 1, 8)]


def test_timestamp_spine_minute_steps(spark):
    b = F.to_timestamp(F.lit("2024-01-01 10:00:00"))
    e = F.to_timestamp(F.lit("2024-01-01 10:03:00"))
    arr = one(spark, E.timestamp_spine(b, e, 1))
    assert len(arr) == 4  # inclusive of both bounds


# -- string_agg_ordered -----------------------------------------------------


def test_string_agg_ordered_deterministic_and_null_free(spark):
    df = spark.createDataFrame(
        [("g", "b"), ("g", "a"), ("g", None), ("g", "c")], ["k", "v"]
    )
    out = df.groupBy("k").agg(E.string_agg_ordered("v", ",").alias("s")).first()["s"]
    assert out == "a,b,c"


# -- null_lit / concat ------------------------------------------------------


def test_null_lit_is_typed(spark):
    df = spark.range(1).select(E.null_lit("double").alias("v"))
    assert dict(df.dtypes)["v"] == "double"


def test_concat_bq_null_propagation(spark):
    assert one(spark, E.concat_bq(F.lit("a"), E.null_lit("string"))) is None
    assert one(spark, E.concat_bq(F.lit("a"), F.lit("b"))) == "ab"


# -- registry guard ---------------------------------------------------------


def test_query_registry_rejects_duplicate_ids():
    from getdbt_spark.queries import QUERIES, query

    @query("_test_dup_guard")
    def q1(spark, sf_dir):  # pragma: no cover - never executed
        raise AssertionError

    try:
        with pytest.raises(ValueError, match="duplicate"):

            @query("_test_dup_guard")
            def q2(spark, sf_dir):  # pragma: no cover
                raise AssertionError

    finally:
        QUERIES.pop("_test_dup_guard", None)


def test_approx_count_distinct_relative_error(spark):
    """HLL++ rsd=0.02 stays within a conservative 6% of exact on the
    corpus grouping used by agg_approx_count_distinct, and the
    registered query's invariant boolean is true for every month
    (the oracle hashes that boolean, so a false here means the driver
    row would go red too)."""
    from getdbt_spark.io import load_table
    from getdbt_spark.queries import QUERIES, load_all

    load_all()
    raw = (
        load_table(spark, "/root/testdata/sf0.001", "orders")
        .groupBy(F.date_trunc("month", "o_orderdate").alias("month"))
        .agg(
            F.approx_count_distinct("o_custkey", 0.02).alias("approx"),
            F.countDistinct("o_custkey").alias("exact"),
        )
        .collect()
    )
    assert raw
    for r in raw:
        assert abs(r["approx"] - r["exact"]) <= max(1, 0.06 * r["exact"])
    rows = QUERIES["agg_approx_count_distinct"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows and all(r["approx_within_5pct"] for r in rows)


def test_round_to_matches_duckdb_round_on_random_doubles(spark):
    """The load-bearing cross-engine convention, proven in bulk: for
    100k seeded-random doubles (including adversarial .xxx5 decimal
    edge values), Spark round_to == DuckDB round() bit-for-bit at the
    digit counts the oracles hash (2, 4, 6).  F.round would fail this
    — it rounds the shortest decimal repr, DuckDB the binary value."""
    import duckdb
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(7)
    vals = np.concatenate(
        [
            rng.uniform(-1e6, 1e6, 60_000),
            rng.uniform(-1, 1, 30_000),
            # decimal-boundary adversaries: k + 5e-(d+1) shapes
            (rng.integers(-999, 999, 10_000) / 100.0 + 0.005),
        ]
    )
    pdf = pd.DataFrame({"x": vals})
    sdf = spark.createDataFrame(pdf)
    for nd in (2, 4, 6):
        got = (
            sdf.select(E.round_to(F.col("x"), nd).alias("r"))
            .toPandas()["r"]
            .to_numpy()
        )
        want = (
            duckdb.connect()
            .execute(f"SELECT round(x, {nd}) AS r FROM pdf")
            .df()["r"]
            .to_numpy()
        )
        same = (got == want) | (np.isnan(got) & np.isnan(want))
        assert same.all(), (
            f"ndigits={nd}: {np.count_nonzero(~same)} mismatches, e.g. "
            f"{vals[~same][:3]} -> {got[~same][:3]} vs {want[~same][:3]}"
        )


def test_hll_sketch_error_bounded(spark):
    """The hand-rolled portable HLL lands within 3σ of the exact
    distinct count (σ = 1.04/√m ≈ 6.5% at m=256)."""
    from getdbt_spark.queries import QUERIES, load_all

    load_all()
    rows = QUERIES["agg_hll_sketch"](spark, "/root/testdata/sf0.01").collect()
    assert rows
    for r in rows:
        assert abs(r.n_hll - r.n_exact) / r.n_exact < 0.195


def test_ewma_closed_form_matches_recursion(spark):
    """The rescaled-cumsum closed form equals the textbook recursion
    ewma_i = 0.8*ewma_{i-1} + 0.2*x_i seeded at x_1."""
    from getdbt_spark.queries import QUERIES, load_all

    load_all()
    rows = QUERIES["win_ewma_daily"](spark, "/root/testdata/sf0.001").collect()
    by_user = {}
    for r in sorted(rows, key=lambda r: (r.user_id, r.d)):
        by_user.setdefault(r.user_id, []).append(r)
    assert by_user
    for series in by_user.values():
        e = series[0].cents / 100.0
        assert abs(series[0].ewma_value - round(e, 4)) < 1e-9
        for r in series[1:]:
            e = 0.8 * e + 0.2 * (r.cents / 100.0)
            assert abs(r.ewma_value - e) < 5e-4


def test_rolling_median_matches_naive_window(spark):
    """The positional-formula median over the RANGE frame equals a
    Python recomputation over each (type, day−6..day) window."""
    from getdbt_spark.queries import QUERIES, load_all

    load_all()
    rows = QUERIES["win_rolling_median"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    daily = {(r.event_type, r.d): r.n for r in rows}
    import datetime as dt
    import statistics

    for r in rows:
        frame = sorted(
            daily[(r.event_type, d)]
            for d in (r.d - dt.timedelta(days=k) for k in range(7))
            if (r.event_type, d) in daily
        )
        assert r.median_7d == round(statistics.median(frame), 1)


def test_late_data_audit_watermark_semantics(spark):
    """An event is late iff it arrives (by event_id order) more than
    1 h behind its stream's running max event time — recomputed
    naively per stream."""
    import datetime as dt

    from getdbt_spark.io import load_table
    from getdbt_spark.queries import QUERIES, load_all

    load_all()
    out = {
        r.event_type: r
        for r in QUERIES["streaming_late_data_audit"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    ev = load_table(spark, "/root/testdata/sf0.001", "events").collect()
    streams = {}
    for e in sorted(ev, key=lambda e: e.event_id):
        streams.setdefault(e.event_type, []).append(e.ts)
    assert set(out) == set(streams)
    for etype, stamps in streams.items():
        hw, late = None, 0
        for ts in stamps:
            if hw is not None and ts < hw - dt.timedelta(hours=1):
                late += 1
            hw = ts if hw is None or ts > hw else hw
        assert out[etype].n_events == len(stamps)
        assert out[etype].n_late == late


def test_session_bounce_rate_tied_events_match_oracle(spark, tmp_path):
    """Two events of one user at the same ``ts``, more than 30 min
    after the previous one: both windows of the sessionization order
    by ``(ts, event_id)``, so the tie opens ONE session holding both
    events on either engine, whatever order the engine reads them in."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from getdbt_spark.queries import ORACLES, QUERIES, load_all

    mon = datetime.datetime(2024, 1, 8, 10, 0)
    tue = datetime.datetime(2024, 1, 9, 12, 0)
    pq.write_table(
        pa.table(
            {
                # the later event_id is written first
                "event_id": pa.array([1, 3, 2], pa.int64()),
                "ts": pa.array([mon, tue, tue], pa.timestamp("us")),
                "user_id": pa.array([7, 7, 7], pa.int64()),
                "event_type": ["view", "click", "view"],
                "value": pa.array([1.0, 2.0, 3.0], pa.float64()),
                "props": ["{}", "{}", "{}"],
            }
        ),
        f"{tmp_path}/events.parquet",
    )
    load_all()
    qid = "agg_session_bounce_rate"
    rows = sorted(
        (r.dow, r.n_sessions, r.n_bounces, r.bounce_rate,
         r.avg_events_per_session)
        for r in QUERIES[qid](spark, str(tmp_path)).collect()
    )
    # Monday: one single-event session (a bounce); Tuesday: one
    # session of the two tied events.
    assert rows == [(1, 1, 1, 1.0, 1.0), (2, 1, 0, 0.0, 2.0)]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path}/events.parquet')"
    )
    assert sorted(con.execute(ORACLES[qid]).fetchall()) == rows


def test_alpha_temperature_shares_normalize_and_flatten(spark):
    """α-tempered shares sum to 1 and sit between the raw shares and
    uniform: tail languages gain, head languages lose."""
    from getdbt_spark.queries import QUERIES, load_all

    load_all()
    rows = QUERIES["sample_alpha_temperature"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    assert abs(sum(r.share_alpha for r in rows) - 1.0) < 1e-4
    uniform = 1.0 / len(rows)
    for r in rows:
        if r.p_raw > uniform:
            assert r.share_alpha <= r.p_raw + 1e-9
        elif r.p_raw < uniform:
            assert r.share_alpha >= r.p_raw - 1e-9


def test_matryoshka_prefix_is_unit_and_retention_bounded(spark):
    """The truncated prefix re-normalizes to unit length (micro-unit
    components bounded by 1e6) and norm retention lies in (0, 1]."""
    from getdbt_spark.queries import QUERIES, load_all

    load_all()
    rows = QUERIES["emb_matryoshka_truncate"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    for r in rows:
        assert 0.0 < r.norm_retained <= 1.0 + 1e-9
        comps = [int(c) for c in r.unit16_q6.split(",") if c != "null"]
        assert comps and all(abs(c) <= 1_000_000 for c in comps)
        ss = sum((c / 1e6) ** 2 for c in comps)
        assert abs(ss - 1.0) < 1e-2  # q6 quantization error bound


def test_count_min_sketch_overestimates_only(spark):
    """CMS guarantees estimate ≥ exact for every key (no
    underestimation, ever); estimates are bounded by the stream
    length."""
    from getdbt_spark.io import load_table
    from getdbt_spark.queries import QUERIES, load_all

    load_all()
    rows = QUERIES["agg_count_min_sketch"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    n_total = load_table(spark, "/root/testdata/sf0.001", "events").count()
    assert len(rows) == 10
    for r in rows:
        assert r.n_cms >= r.n_exact
        assert r.n_cms <= n_total


def test_cents_is_poison_proof_and_exact(spark):
    """E.cents: a corrupt NaN/±Inf/out-of-long-range double yields
    NULL (one poisoned cell costs one cell, not an ANSI job abort —
    Spark's floor(double) RETURNS BIGINT so the crash happens inside
    floor, before any try_cast could help; nanvalues-variant find),
    while every finite in-range value keeps the exact floor(x*100)
    integer-cents contract."""
    import math

    from getdbt_spark import functions as E

    rows = [
        (0, 12.34), (1, -0.015), (2, 0.0),
        (3, float("nan")), (4, float("inf")), (5, float("-inf")),
        (6, 1e300), (7, -1e300), (8, None),
        (9, 9.223372036854775e16),   # *100 ≈ long max, in range
    ]
    df = spark.createDataFrame(rows, "i long, v double")
    got = {r.i: r.c for r in df.select("i", E.cents("v").alias("c")).collect()}
    assert got[0] == 1234 and got[1] == -2 and got[2] == 0
    assert got[3] is None and got[4] is None and got[5] is None
    assert got[6] is None and got[7] is None and got[8] is None
    assert got[9] == math.floor(9.223372036854775e16 * 100)

    # is_finite mirrors DuckDB's isfinite, including the NaN trap
    # (NaN compares greater than +Inf in Spark, so bare bounds leak it)
    fin = {r.i: r.f for r in df.select("i", E.is_finite("v").alias("f")).collect()}
    assert [fin[i] for i in range(9)] == [True, True, True,
                                          False, False, False,
                                          True, True, None]


def test_json_extraction_is_malformed_proof(spark):
    """Schemaless-feed contract for both JSON paths (badjson-variant
    find): malformed JSON, missing keys, and non-integral k values
    yield NULL — never a job abort (strict parse_json dies on the
    FIRST bad record) and never a silent coercion divergence (DuckDB's
    text cast ROUNDS '12.5'→13 where Spark's try_cast NULLs it; the
    variant path coerces 12.5→12, "7"→7, true→1 identically in both
    engines — probed)."""
    from pyspark.sql import functions as F

    cases = [
        ("{bad", None, None), ("", None, None),
        ("not json at all", None, None), ('{"x": 3}', None, None),
        ('{"k": "abc"}', None, None), ('{"k": "7"}', 7, 7),
        ('{"k": 12.5}', None, 12),       # legacy NULLs, variant truncates
        ('{"k": {"a": 1}}', None, None), ('{"k": [1, 2]}', None, None),
        ('{"k": null}', None, None), ('{"k": true}', None, 1),
        ('{"k": -42}', -42, -42), (None, None, None),
    ]
    df = spark.createDataFrame(
        [(p,) for p, _, _ in cases], "props string"
    )
    got = df.select(
        "props",
        F.get_json_object("props", "$.k").try_cast("int").alias("legacy"),
        F.try_variant_get(
            F.try_parse_json("props"), "$.k", "bigint"
        ).alias("variant"),
    ).collect()
    for (p, want_legacy, want_variant), r in zip(cases, got):
        assert r.legacy == want_legacy, (p, r.legacy, want_legacy)
        assert r.variant == want_variant, (p, r.variant, want_variant)


def test_round_to_passes_nonfinite_and_huge_through(spark):
    """round_to must PROPAGATE NaN/±Inf/huge values unchanged like
    DuckDB/BigQuery round() — Spark's floor(double)→BIGINT silently
    SATURATES at ±2^63, which turned ±Inf into ±9.2e16 (a silent
    wrong answer; poisoned-prices random-corpus find).  Values with
    ulp larger than the rounding grid are already 'rounded'."""
    import math

    rows = [(0, float("inf")), (1, float("-inf")), (2, float("nan")),
            (3, 1e300), (4, -1e300), (5, None),
            (6, 2.345), (7, -2.345), (8, 9.5e16)]
    df = spark.createDataFrame(rows, "i long, v double")
    got = {r.i: r.r for r in df.select(
        "i", E.round_to("v", 2).alias("r")).collect()}
    assert got[0] == float("inf") and got[1] == float("-inf")
    assert math.isnan(got[2])
    assert got[3] == 1e300 and got[4] == -1e300 and got[5] is None
    assert got[6] == 2.35 and got[7] == -2.35
    assert got[8] == 9.5e16  # beyond 2^63/100: passthrough, not saturate


def test_running_total_cut_concurrent_consumers_share_one_materialization(spark):
    """Two threads racing one slice-offset helper frame (a realistic
    multi-query cluster session) must read ONE materialization of the
    kernel output: identical results, no deadlock, and no job that
    re-derives the range-shuffle lineage (VERDICT r11 #8).

    The probe: the helper's lazy lineage cut (``session.lineage_cut``
    with ``eager=False``) materializes on the frame's
    first action, so one untimed build action runs first; every
    post-build job then reads checkpoint blocks and its stage DAG is
    truncated at the CheckpointRDD — a sequential post-build action
    measures that stage budget, and a concurrent job exceeding it
    means the lineage (range exchange + Arrow kernel) was silently
    recomputed."""
    import threading

    from pyspark.sql import functions as F

    from getdbt_spark import functions as E

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    base = spark.range(0, 50_000).select(
        "id", (F.col("id") % 7).alias("grp"), (F.col("id") % 13).alias("w")
    )
    frames = {
        "rank": E.with_running_total(base, [F.asc("id")], "r"),
        "gcum": E.with_running_total(
            base, [F.asc("id")], "c", weight="w", group="grp"
        ),
    }
    for name, df in frames.items():
        # sequential stage budget for the two action shapes the
        # threads will run (collect, count) against the built frame
        def _job_stages(group: str, action) -> int:
            sc.setJobGroup(group, group)
            try:
                action()
            finally:
                sc.setJobGroup(None, None)
            worst = 0
            for jid in tracker.getJobIdsForGroup(group):
                info = tracker.getJobInfo(jid)
                if info is not None:
                    worst = max(worst, len(list(info.stageIds)))
            return worst

        # build: fills the lazy checkpoint, so the budget below counts
        # only the stages after the CheckpointRDD
        _job_stages(f"{name}-build", lambda: df.count())
        budget = max(
            _job_stages(f"{name}-seq-collect", lambda: df.collect()),
            _job_stages(f"{name}-seq-count", lambda: df.count()),
        )
        assert budget >= 1

        marker = _job_stages(f"{name}-pre", lambda: df.count())
        pre_ids = tracker.getJobIdsForGroup(f"{name}-pre")
        assert pre_ids, "sentinel job must be visible to the tracker"
        lo = max(pre_ids)

        results: dict[str, object] = {}
        errors: list[BaseException] = []

        def consume(key: str) -> None:
            try:
                rows = sorted(tuple(r) for r in df.collect())
                results[key] = (len(rows), rows[:20], rows[-20:], df.count())
            except BaseException as exc:  # noqa: BLE001 - rethrown below
                errors.append(exc)

        threads = [
            threading.Thread(target=consume, args=(k,)) for k in ("a", "b")
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in threads), (
            f"{name}: concurrent consumers deadlocked"
        )
        assert not errors, f"{name}: {errors[0]!r}"
        assert results["a"] == results["b"], (
            f"{name}: racing consumers saw different data"
        )

        hi_marker = _job_stages(f"{name}-post", lambda: df.count())
        hi = min(tracker.getJobIdsForGroup(f"{name}-post"))
        for jid in range(lo + 1, hi):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            n_stages = len(list(info.stageIds))
            assert n_stages <= budget, (
                f"{name}: concurrent job {jid} planned {n_stages} stages "
                f"(sequential budget {budget}) — the checkpointed lineage "
                "was recomputed"
            )
        del marker, hi_marker
