"""Session-factory guards that only a fresh interpreter can see: the
Python-worker import path of a tool run from outside the repo (and of
a deployment that sets its own), and PySpark's per-process
debugging-wrapper cache on a session built by someone else."""

from __future__ import annotations

import os
import subprocess
import sys

from getdbt_spark.__main__ import DEFAULT_SF_DIR

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
