"""Registry/DAG + incremental insert-overwrite materialization tests.

Covers SURVEY.md §2.10 (templating/control-plane) and §2.1
``sink_incremental_insert_overwrite`` — the reference's only non-view
sink (``atinternet_smarttag_streams_daily_v4.sql:1-22``): a re-run must
rewrite exactly the trailing ``replay_days`` partitions and leave older
partition files untouched on disk.
"""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from getdbt_spark.registry import Model, ModelConfig, model, topo_sort
from getdbt_spark.runner import Runner

D = dt.date(2024, 3, 20)  # frozen run_date for all tests


def _toy_registry():
    """a ← b ← c chain plus independent d, built via the decorator
    against a private registry dict."""
    reg: dict[str, Model] = {}

    def reg_model(name, **kw):
        def deco(fn):
            import getdbt_spark.registry as R

            saved = R.MODELS
            R.MODELS = reg
            try:
                model(name, **kw)(fn)
            finally:
                R.MODELS = saved
            return fn

        return deco

    @reg_model("a", sources=[("raw", "t")])
    def a(ctx):
        return ctx.source("raw", "t")

    @reg_model("b", refs=["a"])
    def b(ctx):
        return ctx.ref("a").withColumn("x2", F.col("x") * 2)

    @reg_model("c", refs=["b", "a"])
    def c(ctx):
        return ctx.ref("b").join(ctx.ref("a"), "x")

    @reg_model("d", sources=[("raw", "t")])
    def d(ctx):
        return ctx.source("raw", "t")

    return reg


class TestTopoSort:
    def test_full_order_respects_edges(self):
        reg = _toy_registry()
        names = [m.name for m in topo_sort(None, reg)]
        assert set(names) == {"a", "b", "c", "d"}
        assert names.index("a") < names.index("b") < names.index("c")

    def test_selection_pulls_ancestors_only(self):
        reg = _toy_registry()
        names = [m.name for m in topo_sort(["b"], reg)]
        assert names == ["a", "b"]

    def test_cycle_detected(self):
        reg = _toy_registry()
        # Forge a cycle: a depends on c.
        a = reg["a"]
        reg["a"] = Model(a.name, a.builder, ("c",), a.sources, a.config)
        with pytest.raises(ValueError, match="cycle"):
            topo_sort(None, reg)

    def test_unknown_ref_rejected(self):
        reg = _toy_registry()
        b = reg["b"]
        reg["b"] = Model(b.name, b.builder, ("nope",), b.sources, b.config)
        with pytest.raises(KeyError, match="nope"):
            topo_sort(None, reg)


class TestContextValidation:
    def test_undeclared_ref_is_an_error(self, spark):
        reg = _toy_registry()

        def bad(ctx):
            return ctx.ref("a")  # not declared

        reg["bad"] = Model("bad", bad, (), (), ModelConfig())
        r = Runner(spark, {("raw", "t"): spark.range(1)}, D, registry=reg)
        with pytest.raises(ValueError, match="undeclared model"):
            r.run(["bad"])

    def test_undeclared_source_is_an_error(self, spark):
        reg = _toy_registry()

        def bad(ctx):
            return ctx.source("raw", "other")

        reg["bad"] = Model("bad", bad, (), (), ModelConfig())
        r = Runner(spark, {("raw", "t"): spark.range(1)}, D, registry=reg)
        with pytest.raises(ValueError, match="undeclared source"):
            r.run(["bad"])

    def test_missing_source_supply_is_an_error(self, spark):
        reg = _toy_registry()
        r = Runner(spark, {}, D, registry=reg)
        with pytest.raises(KeyError, match="not provided"):
            r.run(["a"])

    def test_view_dag_runs(self, spark):
        reg = _toy_registry()
        src = spark.range(3).withColumnRenamed("id", "x")
        out = Runner(spark, {("raw", "t"): src}, D, registry=reg).run(["c"])
        assert out["c"].count() == 3
        assert "x2" in out["c"].columns

    def test_partition_window_is_trailing_9_days(self, spark):
        reg = _toy_registry()
        seen = {}

        def probe(ctx):
            seen["window"] = ctx.partition_window
            return ctx.source("raw", "t")

        reg["probe"] = Model("probe", probe, (), (("raw", "t"),), ModelConfig())
        Runner(spark, {("raw", "t"): spark.range(1)}, D, registry=reg).run(
            ["probe"]
        )
        assert seen["window"] == [D - dt.timedelta(days=i) for i in range(9)]
        assert len(seen["window"]) == 9


# ---------------------------------------------------------------------------
# Incremental insert_overwrite semantics
# ---------------------------------------------------------------------------


def _events(spark, rows):
    return spark.createDataFrame(rows, ["evt_date", "k", "v"])


def _incremental_registry():
    reg: dict[str, Model] = {}

    def daily(ctx):
        src = ctx.source("raw", "events")
        window = [d.isoformat() for d in ctx.partition_window]
        return (
            src.filter(F.col("evt_date").isin(window))
            .groupBy("evt_date", "k")
            .agg(F.sum("v").alias("total"))
        )

    reg["daily"] = Model(
        "daily",
        daily,
        (),
        (("raw", "events"),),
        ModelConfig(
            schema="marts",
            materialized="incremental",
            partition_by="evt_date",
        ),
    )
    return reg


def _partitions(path):
    return sorted(
        p.split("=", 1)[1]
        for p in os.listdir(path)
        if p.startswith("evt_date=")
    )


def _file_stats(path):
    """{relpath: (size, mtime_ns)} for every data file under path."""
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            p = os.path.join(root, f)
            st = os.stat(p)
            out[os.path.relpath(p, path)] = (st.st_size, st.st_mtime_ns)
    return out


class TestIncrementalInsertOverwrite:
    def test_window_replay_and_old_partitions_untouched(self, spark, tmp_path):
        reg = _incremental_registry()
        wh = str(tmp_path / "wh")
        day = lambda i: (D - dt.timedelta(days=i)).isoformat()  # noqa: E731

        # Run 1 at run_date=D: events spanning 15 days; only the trailing
        # 9 partitions (D-8 … D) must be written.
        rows1 = [(day(i), "k", 1) for i in range(15)]
        r1 = Runner(spark, {("raw", "events"): _events(spark, rows1)}, D, wh, reg)
        out1 = r1.run(["daily"])
        path = r1.table_path("daily")
        assert _partitions(path) == sorted(day(i) for i in range(9))
        assert out1["daily"].count() == 9

        before = _file_stats(path)
        oldest = f"evt_date={day(8)}"  # D-8: inside run-1 window, outside run-2

        # Run 2 at run_date=D+1 with a late event for D-2 and a new event
        # for D+1.  Window is now (D+1)-8 … D+1 = D-7 … D+1.
        d2 = D + dt.timedelta(days=1)
        rows2 = rows1 + [(day(2), "k", 100), (d2.isoformat(), "k", 7)]
        r2 = Runner(spark, {("raw", "events"): _events(spark, rows2)}, d2, wh, reg)
        out2 = r2.run(["daily"])

        # Partition set grew by D+1; D-8 (outside the new window) survives.
        assert _partitions(path) == sorted({day(i) for i in range(9)} | {d2.isoformat()})

        after = _file_stats(path)
        untouched = {k: v for k, v in before.items() if k.startswith(oldest)}
        assert untouched, "expected data files in the oldest partition"
        for k, v in untouched.items():
            assert after[k] == v, f"old partition file rewritten: {k}"

        # Late event landed (D-2 recomputed: 1 + 100), new day landed.
        # NB: partition discovery type-infers evt_date=2024-03-18 back
        # as DATE — normalize to ISO strings for comparison.
        got = {
            str(r["evt_date"]): r["total"]
            for r in spark.read.parquet(path).collect()
        }
        assert got[day(2)] == 101
        assert got[d2.isoformat()] == 7
        assert got[day(8)] == 1  # stale value from run 1, untouched
        assert out2["daily"].count() == 10

    def test_no_warehouse_returns_unexecuted_dataframe(self, spark, tmp_path):
        reg = _incremental_registry()
        rows = [(D.isoformat(), "k", 5)]
        out = Runner(spark, {("raw", "events"): _events(spark, rows)}, D, None, reg).run()
        assert out["daily"].collect()[0]["total"] == 5


class TestMergeUpsert:
    def test_update_insert_and_dormant_rows(self, spark, tmp_path):
        """merge_upsert replaces matched keys, appends new keys, and
        leaves unmatched rows exactly as written by the prior run."""
        from getdbt_spark.runner import merge_upsert

        path = str(tmp_path / "tbl")
        r1 = spark.createDataFrame(
            [(1, 10), (2, 20), (3, 30)], "k int, v int"
        )
        merge_upsert(spark, path, r1, ["k"])
        r2 = spark.createDataFrame([(2, 99), (4, 40)], "k int, v int")
        out = merge_upsert(spark, path, r2, ["k"])
        got = {(r.k, r.v) for r in out.collect()}
        assert got == {(1, 10), (2, 99), (3, 30), (4, 40)}
        # idempotent re-merge of the same batch changes nothing
        again = merge_upsert(spark, path, r2, ["k"])
        assert {(r.k, r.v) for r in again.collect()} == got

    def test_no_staging_or_retired_dirs_left(self, spark, tmp_path):
        from getdbt_spark.runner import merge_upsert

        path = str(tmp_path / "tbl")
        df = spark.createDataFrame([(1, 1)], "k int, v int")
        merge_upsert(spark, path, df, ["k"])
        merge_upsert(spark, path, df, ["k"])
        assert not os.path.exists(path + ".staging")
        assert not os.path.exists(path + ".retired")


class TestMergeUpsertProperty:
    def test_random_batch_sequences_match_dict_semantics(
        self, spark, tmp_path
    ):
        """Any sequence of unique-key batches merged in order must
        leave the table equal to a plain dict replay (last write per
        key wins, nothing else changes)."""
        from uuid import uuid4

        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        from getdbt_spark.runner import merge_upsert

        @settings(
            max_examples=5,
            deadline=None,
            suppress_health_check=[HealthCheck.function_scoped_fixture],
        )
        @given(
            batches=st.lists(
                st.dictionaries(
                    st.integers(0, 9), st.integers(-99, 99), max_size=6
                ),
                min_size=1,
                max_size=3,
            )
        )
        def run(batches):
            path = str(tmp_path / f"tbl_{uuid4().hex}")
            expect: dict[int, int] = {}
            out = None
            for batch in batches:
                expect.update(batch)
                df = spark.createDataFrame(
                    list(batch.items()) or [(None, None)], "k int, v int"
                ).filter(F.col("k").isNotNull())
                out = merge_upsert(spark, path, df, ["k"])
            got = {(r.k, r.v) for r in out.collect()}
            assert got == set(expect.items())

        run()


class TestBackfill:
    def test_chunked_backfill_equals_wide_window_run(self, spark, tmp_path):
        """Backfilling 30 days in 9-day chunks produces the same table
        as one run whose replay window spans the whole range."""
        import dataclasses

        from getdbt_spark.runner import backfill

        reg = _incremental_registry()
        day = lambda i: (D - dt.timedelta(days=i)).isoformat()  # noqa: E731
        rows = [(day(i), "k", i + 1) for i in range(30)]
        src = {("raw", "events"): _events(spark, rows)}

        wh_a = str(tmp_path / "wide")
        wide_reg = {
            "daily": dataclasses.replace(
                reg["daily"],
                config=dataclasses.replace(
                    reg["daily"].config, replay_days=30
                ),
            )
        }
        ra = Runner(spark, src, D, wh_a, wide_reg)
        ra.run(["daily"])

        wh_b = str(tmp_path / "chunked")
        anchors = backfill(
            spark, src, "daily",
            D - dt.timedelta(days=29), D, wh_b, reg,
        )
        assert anchors[-1] == D and len(anchors) == 4

        a = sorted(map(tuple, spark.read.parquet(ra.table_path("daily")).collect()))
        rb = Runner(spark, src, D, wh_b, reg)
        b = sorted(map(tuple, spark.read.parquet(rb.table_path("daily")).collect()))
        assert a == b and len(a) == 30

    def test_backfill_rejects_non_incremental(self, spark, tmp_path):
        import pytest as _pytest

        from getdbt_spark.runner import backfill

        reg = {
            "v": Model(
                "v", lambda ctx: ctx.spark.range(1), (), (),
                ModelConfig(schema="s"),
            )
        }
        with _pytest.raises(ValueError, match="not incremental"):
            backfill(
                spark, {}, "v", D, D, str(tmp_path / "wh"), reg
            )

    def test_parallel_backfill_equals_sequential(self, spark, tmp_path):
        """parallelism>1 (disjoint-window concurrent chunks + the
        overlapping clamped tail run alone) produces the identical
        table to a sequential backfill of the same range."""
        from getdbt_spark.runner import backfill

        reg = _incremental_registry()
        day = lambda i: (D - dt.timedelta(days=i)).isoformat()  # noqa: E731
        rows = [(day(i), "k", i + 1) for i in range(25)]  # 25 % 9 != 0
        src = {("raw", "events"): _events(spark, rows)}
        start = D - dt.timedelta(days=24)

        wh_s = str(tmp_path / "seq")
        backfill(spark, src, "daily", start, D, wh_s, reg)
        wh_p = str(tmp_path / "par")
        backfill(spark, src, "daily", start, D, wh_p, reg, parallelism=4)

        rs = Runner(spark, src, D, wh_s, reg)
        rp = Runner(spark, src, D, wh_p, reg)
        a = sorted(map(tuple, spark.read.parquet(rs.table_path("daily")).collect()))
        b = sorted(map(tuple, spark.read.parquet(rp.table_path("daily")).collect()))
        assert a == b and len(a) == 25


class TestWriteAuditPublish:
    def test_publish_on_green_and_refusal_on_red(self, spark, tmp_path):
        """Green audits publish atomically; a red audit leaves the
        previously published table untouched and keeps staging for
        inspection."""
        import os

        from getdbt_spark.runner import write_audit_publish

        path = str(tmp_path / "t")
        v1 = spark.range(10).withColumnRenamed("id", "k")
        ok, res = write_audit_publish(
            spark, v1, path,
            {"nonempty": lambda d: d.count() > 0,
             "no_null_k": lambda d: d.filter("k IS NULL").count() == 0},
        )
        assert ok and all(res.values())
        assert spark.read.parquet(path).count() == 10

        v2 = spark.range(3).withColumnRenamed("id", "k")
        ok, res = write_audit_publish(
            spark, v2, path,
            {"nonempty": lambda d: d.count() > 0,
             "min_rows": lambda d: d.count() >= 5},
        )
        assert not ok and res["nonempty"] and not res["min_rows"]
        # live table untouched; staging kept for inspection
        assert spark.read.parquet(path).count() == 10
        assert os.path.isdir(path + ".staging")
        assert spark.read.parquet(path + ".staging").count() == 3

    def test_corrupt_staged_file_raises_before_the_swap(self, spark, tmp_path):
        """A staged table whose data file is garbage (torn write, bad
        disk) must fail the publish while the live table is still in
        place: the swap reads every staged footer before any rename.
        The corruption lands after the write, through an audit that
        reads no data — the window a schema-only check does not see."""
        import glob

        from py4j.protocol import Py4JJavaError

        from getdbt_spark.runner import write_audit_publish

        path = str(tmp_path / "t")
        v1 = spark.range(10).withColumnRenamed("id", "k")
        assert write_audit_publish(spark, v1, path, {})[0]
        live = sorted(glob.glob(os.path.join(path, "*")))
        before = {f: open(f, "rb").read() for f in live}

        def corrupt(staged):
            part = sorted(glob.glob(path + ".staging/part-*.parquet"))[0]
            with open(part, "wb") as fh:
                fh.write(b"not a parquet file" * 64)
            return True

        v2 = spark.range(100, 103).withColumnRenamed("id", "k")
        with pytest.raises(Py4JJavaError, match="FAILED_READ_FILE"):
            write_audit_publish(spark, v2, path, {"corrupt": corrupt})
        assert sorted(glob.glob(os.path.join(path, "*"))) == live
        assert {f: open(f, "rb").read() for f in live} == before
        assert not os.path.exists(path + ".retired")
        assert sorted(r.k for r in spark.read.parquet(path).collect()) == list(
            range(10)
        )
