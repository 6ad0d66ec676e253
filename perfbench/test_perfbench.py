"""The benchmark's own tests: its counters must repeat exactly.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    run.prepare_env()
    from getdbt_spark.session import get_spark

    s = get_spark(app_name="perfbench-test")
    yield s
    s.stop()


def _group_count(spark):
    from pyspark.sql import functions as F

    return (
        spark.range(0, 100_000, 1, 8)
        .groupBy((F.col("id") % 10).alias("k"))
        .count()
        .collect()
    )


def test_scheduler_counts_fixed_query(spark):
    import probes

    sched = probes.Scheduler(spark)
    _group_count(spark)  # warm
    (j0, s0) = sched.mark()
    rows = _group_count(spark)
    (j1, s1) = sched.mark()
    st = sched.stages(s0, s1)
    assert len(rows) == 10
    # AQE: one job for the shuffle map stage, one for the result; the
    # result job's copy of the map stage is skipped.  8 map tasks and
    # one task for the coalesced result partition.
    assert j1 - j0 == 2
    assert st["stages"] == 2
    assert st["numCompleteTasks"] == 9
    assert st["shuffleWriteBytes"] == st["shuffleReadBytes"] > 0


def test_py4j_counter_repeats(spark):
    import gc

    import probes

    counter = probes.Py4JCounter(spark)
    try:
        counts = []
        for _ in range(3):
            gc.collect()
            c0 = counter.calls
            _group_count(spark)
            counts.append(counter.calls - c0)
        assert counts[0] > 0
        assert counts[1] == counts[2]
    finally:
        counter.close()


def test_pure_build_py4j_calls_repeat(spark):
    import datetime as dt

    from getdbt_spark import models as M
    from getdbt_spark.fixtures import sources_map
    from getdbt_spark.runner import Runner

    import probes
    from workloads import DASHBOARD

    M.load_all()
    counter = probes.Py4JCounter(spark)
    anchor = dt.date(2024, 1, 30)

    def build() -> int:
        c0 = counter.calls
        Runner(spark, sources_map(spark, run.SF_DIR), anchor).run(
            [DASHBOARD], reuse=None
        )
        return counter.calls - c0

    try:
        build()  # fills the per-session plan caches
        first, second = build(), build()
        assert first > 1000
        assert first == second
    finally:
        counter.close()


def test_jvm_beans_and_proc_cpu(spark):
    import probes

    beans = probes.JvmBeans(spark)
    pid = probes.jvm_pid(spark)
    assert beans.jit_s() > 0
    assert beans.gc_s() >= 0
    assert probes.tree_cpu_s(pid) > 0
    assert probes.peak_rss_mb(pid) > 0
    ctx = probes.host_context()
    assert ctx["nproc"] >= 1 and len(ctx["loadavg"]) == 3


def test_span_self_time():
    from spans import Tracer

    tr = Tracer(0.0)
    tr.active, tr.iteration = True, 0
    with tr.span("op", top=True):
        with tr.span("child"):
            pass
    op, child = tr.with_self_time()
    assert child["parent"] == op["id"]
    dur = op["end"] - op["start"]
    assert op["self_s"] == pytest.approx(dur - (child["end"] - child["start"]))


def test_fingerprint_matches_verify_local_canon():
    import datetime as dt

    import numpy as np
    import pandas as pd

    import oracle

    run.prepare_env()
    import verify_local

    n = 50
    df = pd.DataFrame({
        "f": [0.5, np.nan, 3.0, -0.0, np.inf, 1e20, 2.0 / 3] * 7 + [1.0],
        "i": np.arange(n, dtype="int64") % 7,
        "s": (["a", None, "b", "1"] * 13)[:n],
        "d": ([dt.date(2024, 1, k + 1) for k in range(5)] + [None]) * 8 + [None] * 2,
        "ts": pd.date_range("2024-01-01", periods=n, freq="37min").where(
            np.arange(n) % 9 != 0
        ),
        "o": ([None, np.nan, pd.NaT, "x"] * 13)[:n],
        "mixed": ([1, 1.0, True, None, "1"] * 10),
        "b": [True, False] * 25,
    })
    got = oracle.fingerprint(df)
    rows, cols, digest, classes = verify_local.frame_hash(df)
    assert (got["rows"], got["cols"], got["hash"], got["classes"]) == (
        rows, cols, digest, classes
    )
