"""Session-factory guards.  Most need a fresh interpreter: the
Python-worker import path of a tool run from outside the repo (and of
a deployment that sets its own), and PySpark's per-process
debugging-wrapper cache on a session built by someone else.  The
shared session pins the confs themselves: ``RUNTIME_CONFS`` holds only
runtime-settable confs, and the generated-code cache is large enough
that a warm run reuses its compiled classes.  The class-data archive's
launch options are unit-tested; its dump, load and damaged-archive
boots each run in a fresh interpreter against a scratch archive dir."""

from __future__ import annotations

import glob
import os
import shutil
import subprocess
import sys

import pytest

from getdbt_spark import models as M
from getdbt_spark.__main__ import DEFAULT_SF_DIR
from getdbt_spark.fixtures import sources_map
from getdbt_spark.io import corpus_run_date
from getdbt_spark.runner import Runner
from getdbt_spark.session import _CLASSPATH_ENV, RUNTIME_CONFS, cds_launch

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


@pytest.fixture
def template_conf(tmp_path, monkeypatch):
    """A Spark conf dir holding only templates, and no other classpath
    entry from the environment: the case the archive serves."""
    conf = tmp_path / "spark-conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    for v in _CLASSPATH_ENV:
        monkeypatch.delenv(v, raising=False)
    return conf


def test_cds_launch_skips_a_real_conf_dir(template_conf, tmp_path):
    """A real conf file must reach the JVM, which the empty stand-in
    would hide: no archive flags, and ``SPARK_CONF_DIR`` untouched."""
    (template_conf / "spark-defaults.conf").write_text("spark.foo 1\n")
    before = dict(os.environ)
    assert cds_launch("8g", str(tmp_path / "cds")) is None
    assert dict(os.environ) == before


def test_cds_launch_dumps_when_the_archive_is_missing(template_conf, tmp_path):
    """No archive yet: the JVM dumps into this process's own file, and
    the dump file of a process that is gone is deleted."""
    cds_dir = tmp_path / "cds"
    first = cds_launch("8g", str(cds_dir))
    gone = subprocess.Popen(["true"])
    gone.wait()
    stale = f"{first.archive}.{gone.pid}.tmp"
    open(stale, "w").close()
    launch = cds_launch("8g", str(cds_dir))
    assert launch.dump_to == f"{launch.archive}.{os.getpid()}.tmp"
    assert launch.java_options.split() == [
        "-Xlog:cds=off",
        "-Xlog:cds+dynamic=off",
        f"-XX:ArchiveClassesAtExit={launch.dump_to}",
    ]
    assert launch.conf_dir == str(cds_dir / "conf")
    assert os.listdir(launch.conf_dir) == []
    assert not os.path.exists(stale)
    assert cds_launch("16g", str(cds_dir)).archive != launch.archive


def test_cds_launch_loads_a_published_archive(template_conf, tmp_path):
    launch = cds_launch("8g", str(tmp_path / "cds"))
    open(launch.archive, "wb").close()
    again = cds_launch("8g", str(tmp_path / "cds"))
    assert again.dump_to is None
    assert again.java_options.split()[-1] == f"-XX:SharedArchiveFile={launch.archive}"


def test_cds_launch_skips_an_unwritable_dir(template_conf, tmp_path):
    """A dir that cannot be created (its parent is a file) gives no
    flags; a root test process could write into a read-only mode dir."""
    (tmp_path / "file").write_text("")
    assert cds_launch("8g", str(tmp_path / "file" / "cds")) is None


# Boots ``get_spark`` against the archive dir in argv[1] and prints the
# archive flag the JVM got, the caller's SPARK_CONF_DIR after the launch,
# a row count, then a sentinel; the exit hook may still dump after it.
CDS_BOOT = (
    "import os, sys\n"
    "import getdbt_spark.session as S\n"
    "S.CDS_DIR = sys.argv[1]\n"
    "spark = S.get_spark(master='local[1]', shuffle_partitions=1)\n"
    "args = spark._jvm.java.lang.management.ManagementFactory"
    ".getRuntimeMXBean().getInputArguments()\n"
    "print('cds', *[a.split('=')[0] for a in args"
    " if a.startswith(('-XX:ArchiveClassesAtExit', '-XX:SharedArchiveFile'))])\n"
    "print('conf_dir', os.environ.get('SPARK_CONF_DIR'))\n"
    "print('rows', spark.range(10).count())\n"
    "print('SENTINEL')\n"
)


def _cds_boot(cds_dir, cwd):
    env = _env_without_repo()
    env.pop("SPARK_CONF_DIR", None)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, env.get("PYTHONPATH")) if p
    )
    proc = subprocess.run(
        [sys.executable, "-c", CDS_BOOT, str(cds_dir)],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.splitlines()
    assert lines[-1] == "SENTINEL", proc.stdout[-2000:]
    assert "[cds" not in proc.stdout, proc.stdout[-2000:]
    assert "conf_dir None" in lines and "rows 10" in lines, proc.stdout[-2000:]
    return next(ln for ln in lines if ln.startswith("cds"))


@pytest.fixture(scope="module")
def cds_dir(tmp_path_factory):
    """An archive dir after one dumping boot, and that boot's flag."""
    d = tmp_path_factory.mktemp("spark_cds")
    flag = _cds_boot(d, d)
    return d, flag


def test_cds_dump_then_load_keep_stdout_clean(cds_dir):
    """The first boot dumps at JVM exit and publishes the archive; the
    next maps it.  Neither prints JVM text after the script's last
    line, which bench.py and perfbench keep for their records."""
    d, dumped = cds_dir
    assert dumped == "cds -XX:ArchiveClassesAtExit"
    assert len(glob.glob(str(d / "*.jsa"))) == 1
    assert glob.glob(str(d / "*.tmp")) == []
    assert _cds_boot(d, d) == "cds -XX:SharedArchiveFile"


def test_cds_truncated_archive_falls_back(cds_dir):
    """A truncated archive with an intact header kills the JVM at boot
    (SIGBUS).  ``get_spark`` must delete it and boot without one."""
    d, _ = cds_dir
    (archive,) = glob.glob(str(d / "*.jsa"))
    saved = str(d / "saved.bin")
    shutil.copyfile(archive, saved)
    try:
        with open(saved, "rb") as src, open(archive + ".cut", "wb") as dst:
            dst.write(src.read(os.path.getsize(saved) // 2))
        os.replace(archive + ".cut", archive)
        assert _cds_boot(d, d) == "cds"
        assert not os.path.exists(archive)
    finally:
        os.replace(saved, archive)
