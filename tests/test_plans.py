"""Plan-regression guards: the scale discipline as executable asserts.

A correct answer with a cartesian or nested-loop join in it is a bug at
100 TB even when sf0.01 passes — these tests pin the physical-plan
properties the engine promises (SURVEY §4.2).
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from getdbt_spark.queries import QUERIES, load_all

SF = "/root/testdata/sf0.001"

# The heavy shapes: every join must be hash/sort-merge based.
GUARDED = [
    "model_streams_daily_v4",
    "model_dashboard_channel_weekly",
    "model_integral_reporting_vodstreaming",
    "join_asof_nearest",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "multimodal_frame_sample",
    "sim_ann_ivf",
    "filter_partition_window",
    "text_paragraph_dedup",
    "emb_kmeans_train",
    "sim_ann_ivf_trained",
    "sem_dedup_trained",
    "dedup_embedding_cluster_ivf",
    "dedup_cluster_multiprobe",
    "sim_ann_ivf_multiprobe",
    "sample_curriculum_order",
    "text_ccnet_buckets",
    "emb_pq_encode",
    "sim_ann_ivfpq",
    "dq_psi_drift",
    "quality_nb_score",
    "mix_epoch_schedule",
    # round-13: the deployment ANN dials were allow-listed in
    # plans.py since r12 but never actually audited here — pin both
    "sim_ann_ivfpq_normalized",
    "sim_ann_ivfpq_scaled_k",
]

# The former vertaaltabel × week-spine crossJoins are now join-free
# per-row explodes of a literal-bounded sequence, so the only plan
# allowed any nested-loop node is the explicit per-query budget in
# plans.BOUNDED_NLJ_ALLOW (sim_ann_ivf's 16-centroid codebook
# broadcast — k-bounded by construction, the optimal fan-out plan).
from getdbt_spark.plans import BOUNDED_NLJ_ALLOW


@pytest.fixture(scope="module")
def plans(spark):
    load_all()
    # Leftover persisted fragments from OTHER test modules (the
    # session-scoped Spark keeps the CacheManager) substitute
    # InMemoryRelation into matching subtrees and change the printed
    # node counts with test ORDER — clear them so the pins audit the
    # query's own shape regardless of which module ran first.
    spark.catalog.clearCache()
    # Registered model entries are the pure build (reuse=None): the
    # production path checkpoints intermediates (a block scan hides
    # their plans), but the guards must audit the FULL lineage — a
    # nested-loop join hidden behind a materialization boundary is
    # still a bug at scale.
    out = {}
    for q in GUARDED:
        out[q] = QUERIES[q](spark, SF)._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    return out


@pytest.mark.parametrize("qid", GUARDED)
def test_no_cartesian_product(plans, qid):
    assert "CartesianProduct" not in plans[qid]


@pytest.mark.parametrize("qid", GUARDED)
def test_no_nested_loop_join_outside_allow_list(plans, qid):
    # formatted explain prints each node in the tree AND the details
    # section — count the numbered detail headers, one per node.
    n_bnlj = len(
        re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plans[qid])
    )
    assert n_bnlj <= BOUNDED_NLJ_ALLOW.get(qid, 0), (
        f"unexpected nested-loop join in {qid} "
        f"({n_bnlj} > budget {BOUNDED_NLJ_ALLOW.get(qid, 0)})"
    )


def test_topk_is_take_ordered_not_full_sort(spark):
    """orderBy().limit(k) must compile to TakeOrderedAndProject —
    per-partition heap + driver merge — never a global sort, which at
    100 TB would shuffle the whole table to rank 100 rows."""
    load_all()
    df = QUERIES["sort_limit_topk"](spark, SF)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_semi_anti_joins_are_hash_based(spark):
    """Semi/anti joins must stay hash-joins (broadcast or shuffled),
    not nested-loop fallbacks."""
    load_all()
    for qid in ("join_left_semi", "join_left_anti"):
        df = QUERIES[qid](spark, SF)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "BroadcastNestedLoopJoin" not in plan, qid
        assert "CartesianProduct" not in plan, qid


def test_pivot_has_no_values_discovery_job(spark):
    """agg_pivot passes the pivot value list explicitly, so BUILDING
    the query must launch zero Spark jobs — an omitted value list makes
    pivot() run an eager distinct-collect discovery job over the full
    input (a wasted scan at 100 TB).  The final plan looks identical
    either way, so the job count is the only observable to pin."""
    load_all()
    group = "pivot-build-guard"
    spark.sparkContext.setJobGroup(group, "pivot value-discovery guard")
    try:
        df = QUERIES["agg_pivot"](spark, SF)
    finally:
        spark.sparkContext.setJobGroup("", "")
    tracker = spark.sparkContext.statusTracker()
    assert list(tracker.getJobIdsForGroup(group)) == []
    # and the plan itself stays a single scan
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert plan.count(") Scan parquet") == 1


def test_poms_fixture_scan_is_pruned(spark, plans):
    """The part-table scan behind the POMS fixture must push its
    p_partkey < 60 predicate into the parquet reader."""
    plan = plans["model_streams_daily_v4"]
    assert "LessThan(p_partkey,60)" in plan


def test_plans_are_adaptive(spark):
    # Codegen spans are only visible in the POST-execution plan under
    # AQE; what is checkable up front — and load-bearing at scale — is
    # that every heavy query plans under AdaptiveSparkPlan (runtime
    # partition coalescing + skew-join splitting).
    load_all()
    for qid in ("model_streams_daily_v4", "join_asof_nearest"):
        df = QUERIES[qid](spark, SF)
        simple = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "simple"
            )
        )
        assert "AdaptiveSparkPlan" in simple, f"AQE not active for {qid}"


class TestApi:
    def test_run_registers_views_and_sql_works(self, spark):
        from getdbt_spark.api import run, sql

        out = run(spark, SF, select=["poms_flattened"])
        assert out["poms_flattened"].count() > 0
        n = sql(
            spark, "SELECT count(*) AS n FROM poms_flattened"
        ).collect()[0]["n"]
        assert n == out["poms_flattened"].count()

    def test_run_incremental_writes_window(self, spark, tmp_path):
        import datetime as dt
        import os

        from getdbt_spark.api import run_incremental
        from getdbt_spark.io import corpus_run_date

        anchor = corpus_run_date(spark, SF)
        df = run_incremental(
            spark,
            SF,
            "atinternet_smarttag_streams_daily_v4",
            anchor,
            str(tmp_path / "wh"),
        )
        assert df.count() > 0
        base = str(
            tmp_path / "wh" / "atinternet_smarttag_streams_daily"
            / "atinternet_smarttag_streams_daily_v4"
        )
        parts = [p for p in os.listdir(base) if p.startswith("evt_date=")]
        window = {
            f"evt_date={(anchor - dt.timedelta(days=i)).isoformat()}"
            for i in range(9)
        }
        assert parts and set(parts) <= window


def _formatted(spark, df):
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_range_join_is_broadcast_hash_not_nested_loop(spark):
    """Point-in-interval join: equi key + residual range predicate must
    compile to a BroadcastHashJoin — a BroadcastNestedLoopJoin here
    would evaluate every event against every band at 100 TB."""
    load_all()
    plan = _formatted(spark, QUERIES["join_range_interval"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "qid,key",
    [
        ("win_session_longest", "user_id"),
    ],
)
def test_window_pipelines_reuse_one_exchange(spark, qid, key):
    """Sessionize→aggregate→rank must share a single hash exchange on
    the partition key: every window and the session aggregation
    cluster on the same key, so Spark plans one shuffle for the whole
    pipeline.  A second exchange would mean a window spec drifted off
    the shared key."""
    import re

    load_all()
    plan = _formatted(spark, QUERIES[qid](spark, SF))
    exchanges = re.findall(r"\(\d+\) Exchange", plan)
    assert len(exchanges) == 1, f"{qid}: expected 1 exchange, plan has {len(exchanges)}"
    assert f"hashpartitioning({key}" in plan


def test_pack_token_budget_uses_grouped_cumsum_shape(spark):
    """The packer's running total must be the grouped slice-offset
    prefix sum, NOT a lang-partitioned window (a catalog-sized key
    with data-sized groups funnels a monolingual corpus through one
    window task): the plan range-partitions on the group and carries
    no lang-hash window exchange."""
    load_all()
    plan = _formatted(spark, QUERIES["pack_token_budget"](spark, SF))
    # the checkpoint cuts the range-exchange out of the final plan;
    # its signature is the helper's checkpointed kernel columns plus
    # the bounded per-(slice, group) totals feeding the offsets window
    assert "__rt_local" in plan, "grouped running-total kernel missing"
    assert "hashpartitioning(__rt_pid" in plan
    assert "hashpartitioning(lang" not in plan, (
        "lang-partitioned window crept back into the packer"
    )


def test_partitioned_sink_readback_prunes_partitions(spark):
    """The partitioned-sink read-back must hit PartitionFilters, not a
    post-scan filter: the literal anchor predicate on the partition
    column prunes date directories at plan time — at 100 TB the
    difference between listing two days and the whole table."""
    import re

    load_all()
    plan = _formatted(
        spark, QUERIES["sink_partitioned_read_pruned"](spark, SF)
    )
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m, "no PartitionFilters section in the scan"
    assert "evt_date" in m.group(1), f"partition filter missing: {m.group(1)}"


def test_results_invariant_to_shuffle_partition_count(spark):
    """The determinism discipline, tested head-on: results must be
    BIT-identical when the cluster shape changes (32 → 7 shuffle
    partitions changes partial-aggregation order, which is exactly
    what flips a last cent in any float-accumulating plan).  Guards
    the exact-integer-sum rule for money aggregates and quantized
    centroids."""
    load_all()
    sensitive = [
        "agg_two_stage",
        "join_date_spine",
        "emb_centroid_per_label",
        "agg_stats_exact",
    ]
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        results = {}
        for n in ("32", "7"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            for qid in sensitive:
                pdf = QUERIES[qid](spark, SF).toPandas()
                cols = sorted(pdf.columns)
                key = pdf[cols].astype(str).sort_values(cols).reset_index(
                    drop=True
                )
                if n == "32":
                    results[qid] = key
                else:
                    assert key.equals(results[qid]), (
                        f"{qid}: result depends on shuffle partition count"
                    )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def test_star_multihop_joins_all_broadcast(spark):
    """The 3-hop snowflake rollup must stream the fact table through
    broadcast hash joins only — any SortMergeJoin means the fact
    table shuffled for a catalog-bounded dimension."""
    load_all()
    import re

    plan = _formatted(spark, QUERIES["join_star_multihop"](spark, SF))
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 3
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sorted_clustered_readback_pushes_range_filter(spark):
    """The clustered-sink read-back's date-range predicate must reach
    the parquet scan (PushedFilters) where min-max row-group stats
    can skip — a post-scan Filter-only plan would read every file."""
    load_all()
    plan = _formatted(spark, QUERIES["sink_sorted_clustered"](spark, SF))
    import re

    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "o_orderdate" in m.group(1), plan[:500]


def test_quantile_sample_is_take_ordered(spark):
    """The deterministic 1000-row sample must compile to
    TakeOrderedAndProject (bounded per-partition heap), never a global
    Sort."""
    load_all()
    plan = _formatted(spark, QUERIES["agg_quantile_sampled"](spark, SF))
    assert "TakeOrderedAndProject" in plan


class TestPlanLintApi:
    def test_flags_cartesian_and_passes_hash_join(self, spark):
        from getdbt_spark.io import load_table
        from getdbt_spark.plans import plan_lint, plan_report

        c = load_table(spark, SF, "customer")
        n = load_table(spark, SF, "nation")
        bad = c.crossJoin(n.select(F.col("n_name")))
        assert any("nested-loop" in f for f in plan_lint(bad))
        assert plan_lint(bad, allow_nested_loop=True) == []

        good = c.join(n, c.c_nationkey == n.n_nationkey).filter(
            F.col("c_acctbal") > 0
        )
        assert plan_lint(good) == []
        rep = plan_report(good)
        assert rep["joins"] and rep["bnlj"] == 0

    def test_exchange_budget_enforced(self, spark):
        from getdbt_spark.io import load_table
        from getdbt_spark.plans import plan_lint

        o = load_table(spark, SF, "orders")
        agg = o.groupBy("o_orderstatus").count()
        assert plan_lint(agg, max_exchanges=0) != []
        assert plan_lint(agg, max_exchanges=5) == []


@pytest.fixture
def small_arrow_batches(spark):
    """3-row Arrow batches: the running-total kernel's group runs then
    straddle batches, so it must carry the running value across them."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "3")
    yield
    spark.conf.set(key, prev)


class TestGlobalWindowGuard:
    """No unpartitioned window over a non-catalog-sized input — the r8
    ``bpe_pair_stats`` class (a data-sized table sorted through ONE
    task) pinned registry-wide.  The only legal shapes are the two
    bounded-by-construction classes documented on
    ``plans.GLOBAL_WINDOW_ALLOW``; data-sized global ranks must use
    ``functions.with_running_total``."""

    def test_detector_classifies_all_window_spec_shapes(self, spark):
        from pyspark.sql import Window

        from getdbt_spark.plans import _formatted, unpartitioned_windows

        df = spark.range(100).select(
            (F.col("id") % 7).alias("k"), F.col("id")
        )
        cases = [
            # (window column, expected unpartitioned count)
            (F.row_number().over(Window.partitionBy("k").orderBy("id")), 0),
            (F.min("id").over(Window.partitionBy("k")), 0),
            (F.row_number().over(Window.orderBy("id")), 1),
            (F.row_number().over(Window.orderBy(F.desc("id"))), 1),
            (F.min("id").over(Window.partitionBy()), 1),
        ]
        for col, want in cases:
            got = unpartitioned_windows(_formatted(df.withColumn("x", col)))
            assert got == want, f"{col} -> {got}, want {want}"

    @pytest.mark.slow
    def test_no_unpartitioned_window_outside_allow_list(self, spark):
        from getdbt_spark.plans import (
            GLOBAL_WINDOW_ALLOW,
            _formatted,
            unpartitioned_windows,
        )

        load_all()
        bad = {}
        for qid, fn in QUERIES.items():
            n = unpartitioned_windows(_formatted(fn(spark, SF)))
            if n > GLOBAL_WINDOW_ALLOW.get(qid, 0):
                bad[qid] = n
            spark.catalog.clearCache()
        assert not bad, (
            f"unpartitioned window(s) over unbounded input: {bad} — "
            "bound the input (orderBy().limit) or use with_running_total"
        )

    def test_running_total_rank_matches_row_number(self, spark):
        """The zipWithIndex-shaped rank equals an unpartitioned
        row_number over the same total order, on a multi-slice input
        with boundary-adjacent duplicate sort prefixes."""
        from pyspark.sql import Window

        from getdbt_spark.functions import with_running_total
        from getdbt_spark.plans import _formatted, unpartitioned_windows

        df = spark.range(1000).select(
            (F.col("id") % 13).alias("k"), F.col("id")
        )
        got = with_running_total(df, ["k", "id"], "r", num_slices=7)
        want = df.withColumn(
            "r", F.row_number().over(Window.orderBy("k", "id")).cast("long")
        )
        assert unpartitioned_windows(_formatted(got)) == 0
        assert sorted(got.collect()) == sorted(want.collect())
        # empty input survives the offsets path
        assert with_running_total(
            df.filter(F.col("id") < 0), ["id"], "r"
        ).count() == 0

    @pytest.mark.usefixtures("small_arrow_batches")
    def test_running_total_weighted_matches_window_sum(self, spark):
        """The slice-offset prefix sum equals an unpartitioned
        inclusive running-total window over the same total order, on
        a multi-slice input with duplicate sort prefixes and mixed
        weights (including zeros)."""
        from pyspark.sql import Window

        from getdbt_spark.functions import with_running_total
        from getdbt_spark.plans import _formatted, unpartitioned_windows

        df = spark.range(1000).select(
            (F.col("id") % 13).alias("k"),
            F.col("id"),
            (F.col("id") % 7).alias("w"),
        )
        got = with_running_total(
            df, ["k", "id"], "c", weight="w", num_slices=7
        )
        want = df.withColumn(
            "c",
            F.sum("w")
            .over(
                Window.orderBy("k", "id").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            )
            .cast("long"),
        )
        assert unpartitioned_windows(_formatted(got)) == 0
        assert sorted(got.collect()) == sorted(want.collect())
        assert with_running_total(
            df.filter(F.col("id") < 0), ["id"], "c", weight="w"
        ).count() == 0

    @pytest.mark.usefixtures("small_arrow_batches")
    def test_running_total_grouped_rank_matches_partitioned_row_number(
        self, spark
    ):
        """The grouped slice-offset rank equals a group-partitioned
        row_number, on a multi-slice input whose groups straddle
        slice boundaries (one group deliberately dominates, the
        monolingual-corpus shape the helper exists for)."""
        from pyspark.sql import Window

        from getdbt_spark.functions import with_running_total

        df = spark.range(2000).select(
            F.when(F.col("id") < 1500, F.lit("big"))
            .otherwise(F.concat(F.lit("g"), (F.col("id") % 7).cast("string")))
            .alias("grp"),
            (F.col("id") % 13).alias("k"),
            F.col("id"),
        )
        got = with_running_total(
            df, ["k", "id"], "r", group="grp", num_slices=7
        )
        want = df.withColumn(
            "r",
            F.row_number()
            .over(Window.partitionBy("grp").orderBy("k", "id"))
            .cast("long"),
        )
        assert sorted(got.collect()) == sorted(want.collect())
        assert with_running_total(
            df.filter(F.col("id") < 0), ["id"], "r", group="grp"
        ).count() == 0

    def test_running_total_null_weights_treated_as_zero(self, spark):
        """NULL weights must behave exactly like window SUM (which
        skips NULLs): the running total carries through NULL-weight
        rows unchanged, and a NULL-weight row ENDING an Arrow batch
        must not crash the integer offset handoff (the r10 advice
        finding: float64 NaN reaching ``int(...)``)."""
        from pyspark.sql import Window

        from getdbt_spark.functions import with_running_total

        df = spark.range(500).select(
            F.col("id"),
            # NULL every 5th weight, including id=499 (a terminal row)
            F.when(F.col("id") % 5 != 4, F.col("id") % 7).alias("w"),
        )
        got = with_running_total(
            df, ["id"], "c", weight="w", num_slices=7
        )
        want = df.withColumn(
            "c",
            F.coalesce(
                F.sum("w").over(
                    Window.orderBy("id").rowsBetween(
                        Window.unboundedPreceding, Window.currentRow
                    )
                ),
                F.lit(0),
            ).cast("long"),
        )
        assert sorted(got.collect()) == sorted(want.collect())
        # an ALL-NULL-weight frame yields cumsum 0 everywhere, not NULL
        all_null = spark.range(50).select(
            F.col("id"), F.lit(None).cast("long").alias("w")
        )
        out = with_running_total(
            all_null, ["id"], "c", weight="w", num_slices=3
        )
        assert all(r["c"] == 0 for r in out.collect())

    @pytest.mark.usefixtures("small_arrow_batches")
    def test_grouped_helpers_fold_nan_group_into_null(self, spark):
        """Float group keys: NaN and NULL are ONE group by the helper's
        documented contract (Arrow's not_equal would split NaN runs,
        groupBy keeps NaN apart from NULL).  The normalization must
        make the kernel, the
        per-slice aggregation, and the eqNullSafe offsets join agree —
        ranks equal row_number over the NaN→NULL-normalized group."""
        from pyspark.sql import Window

        from getdbt_spark.functions import with_running_total

        df = spark.range(300).select(
            F.when(F.col("id") % 3 == 0, F.lit(float("nan")))
            .when(F.col("id") % 3 == 1, F.lit(None))
            .otherwise((F.col("id") % 5).cast("double"))
            .alias("grp"),
            F.col("id"),
            (F.col("id") % 4).alias("w"),
        )
        norm = F.when(F.isnan("grp"), F.lit(None)).otherwise(F.col("grp"))
        got_r = with_running_total(
            df, ["id"], "r", group="grp", num_slices=5
        )
        want_r = df.withColumn(
            "r",
            F.row_number()
            .over(Window.partitionBy(norm).orderBy("id"))
            .cast("long"),
        )
        assert (
            sorted((r["id"], r["r"]) for r in got_r.collect())
            == sorted((r["id"], r["r"]) for r in want_r.collect())
        )
        got_c = with_running_total(
            df, ["id"], "c", weight="w", group="grp", num_slices=5
        )
        want_c = df.withColumn(
            "c",
            F.sum("w")
            .over(
                Window.partitionBy(norm)
                .orderBy("id")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            .cast("long"),
        )
        assert (
            sorted((r["id"], r["c"]) for r in got_c.collect())
            == sorted((r["id"], r["c"]) for r in want_c.collect())
        )

    @pytest.mark.parametrize("group", [None, "grp"])
    @pytest.mark.parametrize("n_slices", [4, 1])
    def test_running_total_raises_on_bigint_overflow(
        self, spark, group, n_slices
    ):
        """The BIGINT-safe contract: four weights of 2^62 sum past
        2^63, and the running total must raise, never wrap.  With four
        slices each slice holds one row, so the overflow happens in the
        offsets (the window sum and the final add, ANSI-checked); with
        one slice it happens inside the Arrow kernel's checked prefix
        sum.  Both in global and in grouped mode."""
        from getdbt_spark.functions import with_running_total

        df = spark.createDataFrame(
            [("g", i, 1 << 62) for i in range(4)],
            "grp string, id long, w long",
        )
        got = with_running_total(
            df, ["id"], "c", weight="w", group=group, num_slices=n_slices
        )
        with pytest.raises(Exception, match="(?i)overflow"):
            got.collect()


@pytest.mark.usefixtures("small_arrow_batches")
def test_slice_offset_helpers_property_match_windows(spark):
    """Property lock on the slice-offset helper's four (weight, group)
    shapes (the round-11 NULL/NaN hardening made durable): on RANDOM
    frames carrying every adversarial shape at once — NULL weights
    (including terminal rows), float group keys mixing NULL and NaN
    runs, duplicate order prefixes straddling slice boundaries,
    negative weights, group runs straddling 3-row Arrow batches — each
    shape must equal its window reference over the NaN→NULL-normalized
    group, for any slice count."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    from pyspark.sql import Window

    from getdbt_spark.functions import with_running_total

    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        rows=st.lists(
            st.tuples(
                st.sampled_from(
                    [None, float("nan"), 0.0, 1.0, 2.0]
                ),                                   # group (float key)
                st.integers(0, 5),                   # order prefix (dups)
                st.one_of(
                    st.none(), st.integers(-9, 9)
                ),                                   # weight (NULLs, negatives)
            ),
            min_size=1,
            max_size=40,
        ),
        n_slices=st.integers(2, 6),
    )
    def run(rows, n_slices):
        df = spark.createDataFrame(
            [(g, k, i, w) for i, (g, k, w) in enumerate(rows)],
            "grp double, k long, id long, w long",
        ).localCheckpoint()  # pin the random frame; each shape re-reads it
        norm = F.when(F.isnan("grp"), F.lit(None)).otherwise(F.col("grp"))
        order = [F.asc("k"), F.asc("id")]
        wflat = Window.orderBy("k", "id")
        wgrp = Window.partitionBy(norm).orderBy("k", "id")
        frame = (Window.unboundedPreceding, Window.currentRow)

        def canon(rows, res):
            # NaN-aware, id-keyed canonical form: the ungrouped
            # shapes must pass float PAYLOAD columns through
            # byte-exact (NaN stays NaN, NULL stays NULL — the
            # mapInArrow guarantee; a pandas kernel coerces NaN→NULL)
            out = []
            for r in rows:
                g = r["grp"]
                g = "NaN" if (g is not None and g != g) else g
                out.append((r["id"], g, r["k"], r["w"], r[res]))
            return sorted(out)

        got = with_running_total(df, order, "r", num_slices=n_slices)
        want = df.withColumn(
            "r", F.row_number().over(wflat).cast("long")
        )
        assert canon(got.collect(), "r") == canon(want.collect(), "r")

        got = with_running_total(
            df, order, "c", weight="w", num_slices=n_slices
        )
        want = df.withColumn(
            "c",
            F.coalesce(
                F.sum("w").over(wflat.rowsBetween(*frame)), F.lit(0)
            ).cast("long"),
        )
        assert canon(got.collect(), "c") == canon(want.collect(), "c")

        got = with_running_total(
            df, order, "r", group="grp", num_slices=n_slices
        )
        want = df.withColumn(
            "r", F.row_number().over(wgrp).cast("long")
        )
        assert sorted(
            (r["id"], r["r"]) for r in got.collect()
        ) == sorted((r["id"], r["r"]) for r in want.collect())

        got = with_running_total(
            df, order, "c", weight="w", group="grp", num_slices=n_slices
        )
        want = df.withColumn(
            "c",
            F.coalesce(
                F.sum("w").over(wgrp.rowsBetween(*frame)), F.lit(0)
            ).cast("long"),
        )
        assert sorted(
            (r["id"], r["c"]) for r in got.collect()
        ) == sorted((r["id"], r["c"]) for r in want.collect())

    run()


def test_kernel_stage_stats_correct_after_materialization(spark):
    """Pins the r9 sf10 broadcast-OOM mechanism: Catalyst sizes an
    Arrow-kernel output from its INPUT columns (blind to the kernel's
    expansion factor), so a data-sized frame can look broadcastable;
    after ``_plan_with_real_stats`` the estimate must be the measured
    cached size — orders of magnitude larger for an expanding kernel —
    which is what flips downstream joins from broadcast to shuffle at
    scale."""
    import pandas as pd
    from pyspark.sql import functions as F  # noqa: F811

    from getdbt_spark.pipeline import _plan_with_real_stats

    df = spark.range(20_000).select(F.col("id"), F.lit("xy").alias("t"))

    def expand(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {"id": pdf["id"], "payload": ["z" * 2000] * len(pdf)}
            )

    big = df.mapInPandas(expand, "id long, payload string").persist()

    def est():
        # a FRESH derived frame each time — downstream consumers (the
        # joins that matter) re-plan and look the cache up anew; the
        # original DF object's own queryExecution is frozen
        d = big.filter(F.lit(True))
        return int(
            d._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )

    before = est()
    _plan_with_real_stats(big)
    after = est()
    big.unpersist()
    # true size ~40 MB; the input-derived estimate is a tiny fraction
    assert after > 20 * before, (before, after)
    assert after > 20_000 * 1000
