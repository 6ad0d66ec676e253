"""Session-factory guards.  Most need a fresh interpreter: the
Python-worker import path of a tool run from outside the repo (and of
a deployment that sets its own), and PySpark's per-process
debugging-wrapper cache on a session built by someone else.  The
shared session pins the confs themselves: ``RUNTIME_CONFS`` holds only
runtime-settable confs, and the generated-code cache is large enough
that a warm run reuses its compiled classes."""

from __future__ import annotations

import os
import subprocess
import sys

from getdbt_spark import models as M
from getdbt_spark.__main__ import DEFAULT_SF_DIR
from getdbt_spark.fixtures import sources_map
from getdbt_spark.io import corpus_run_date
from getdbt_spark.runner import Runner
from getdbt_spark.session import RUNTIME_CONFS

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = DEFAULT_SF_DIR  # the sf0.001 corpus


def _env_without_repo():
    """The caller's environment minus any PYTHONPATH entry naming the
    repo, so only the tool's own path setup can find the package."""
    keep = [
        p
        for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.abspath(p) != REPO
    ]
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    if keep:
        env["PYTHONPATH"] = os.pathsep.join(keep)
    return env


def test_tool_runs_from_outside_the_repo(tmp_path):
    """``verify_local.py`` started from another directory must reach
    the package in its Python workers too, not just on the driver —
    ``sem_dedup_trained``'s k-means kernel runs in a worker."""
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "verify_local.py"),
         SF, "sem_dedup_trained"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=540,
        env=_env_without_repo(),
    )
    out = proc.stdout + proc.stderr
    assert "ModuleNotFoundError" not in out, out[-4000:]
    assert proc.returncode == 0, out[-4000:]
    assert "all 1 queries OK" in proc.stdout


def test_worker_path_keeps_the_deployments_entries(tmp_path):
    """``get_spark`` appends the package root to the workers'
    PYTHONPATH; a ``spark.executorEnv.PYTHONPATH`` the deployment set
    stays on it, ahead of the package root."""
    code = (
        "import os\n"
        "from getdbt_spark.session import PACKAGE_ROOT, get_spark\n"
        "spark = get_spark(master='local[1]', shuffle_partitions=1)\n"
        "def env(batches):\n"
        "    import pandas as pd\n"
        "    for _ in batches:\n"
        "        yield pd.DataFrame({'p': [os.environ['PYTHONPATH']]})\n"
        "p = spark.range(1).mapInPandas(env, 'p string').first()['p']\n"
        "parts = p.split(os.pathsep)\n"
        "print('ordered', parts.index('/deploy/lib')"
        " < parts.index(PACKAGE_ROOT))\n"
        "spark.stop()\n"
    )
    env = _env_without_repo()
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, env.get("PYTHONPATH")) if p
    )
    # what spark-submit --conf (or spark-defaults.conf) hands the driver
    env["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.executorEnv.PYTHONPATH=/deploy/lib pyspark-shell"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "ordered True" in proc.stdout, proc.stdout + proc.stderr[-2000:]


def test_configure_turns_debugging_off_on_a_foreign_session(tmp_path):
    """A plain session (the verification driver's) plus ``configure()``
    must run without PySpark's per-call debugging wrapper, although the
    conf is static and ``conf.set`` cannot change it."""
    code = (
        "from pyspark.sql import SparkSession\n"
        "from pyspark.errors.utils import is_debugging_enabled\n"
        "from getdbt_spark.session import configure\n"
        "spark = SparkSession.builder.master('local[1]')"
        ".config('spark.ui.enabled', 'false').getOrCreate()\n"
        "configure(spark)\n"
        "print('debugging', is_debugging_enabled())\n"
        "spark.stop()\n"
    )
    env = _env_without_repo()
    env.pop("GETDBT_SPARK_DF_DEBUG", None)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, env.get("PYTHONPATH")) if p
    )
    proc = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "debugging False" in proc.stdout, proc.stdout + proc.stderr[-2000:]


def test_default_cores_follow_the_affinity_mask(tmp_path):
    """With ``SPARK_GRAFT_CPUS`` unset, ``get_spark`` sizes ``local[N]``
    and the shuffle partitions to the cores the process may run on, not
    to a fixed count: ``local[32]`` on a 4-core host ran warm
    ``dedup_cluster_canonical`` in 7.35 s against 4.13 s at ``local[4]``."""
    code = (
        "import os\n"
        "from getdbt_spark.session import get_spark\n"
        "spark = get_spark()\n"
        "print('cores', len(os.sched_getaffinity(0)),"
        " spark.sparkContext.defaultParallelism,"
        " spark.conf.get('spark.sql.shuffle.partitions'))\n"
        "spark.stop()\n"
    )
    env = _env_without_repo()
    env.pop("SPARK_GRAFT_CPUS", None)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, env.get("PYTHONPATH")) if p
    )
    proc = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    line = next(ln for ln in proc.stdout.splitlines() if ln.startswith("cores"))
    usable, parallelism, partitions = line.split()[1:]
    assert parallelism == usable, line
    assert partitions == usable, line


# Static confs ``get_spark`` sets in its builder: ``conf.set`` raises
# for them, which ``configure()``'s per-key ``except`` would swallow.
STATIC_CONFS = (
    "spark.sql.codegen.cache.maxEntries",
    "spark.python.sql.dataFrameDebugging.enabled",
)


def test_runtime_confs_hold_no_static_conf(spark):
    """Every key ``configure()`` sets on a foreign session must be
    runtime-settable; a static one there is a silent no-op."""
    for k in RUNTIME_CONFS:
        assert spark.conf.isModifiable(k), k
    for k in STATIC_CONFS:
        assert not spark.conf.isModifiable(k), k


def test_warm_dashboard_run_reuses_compiled_classes(spark):
    """A second identical build + action of the dashboard closure in
    the same session must hit Spark's generated-code cache.  At
    Spark's default of 100 entries the closure's ~300 classes evict
    each other and the second run recompiles all of them."""
    M.load_all()
    anchor = corpus_run_date(spark, SF)
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    dashboard = "integral_reporting_dashboard_channel_weekly"

    def run_once():
        out = Runner(spark, sources_map(spark, SF), anchor).run(
            [dashboard], reuse=None
        )
        out[dashboard].write.format("noop").mode("overwrite").save()

    run_once()
    before = codegen.METRIC_COMPILATION_TIME().getCount()
    run_once()
    compiled = codegen.METRIC_COMPILATION_TIME().getCount() - before
    assert compiled <= 16, compiled
