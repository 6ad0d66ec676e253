"""SparkSession factory and session configuration.

The reference pipeline's timezone discipline is load-bearing (CET
wall-clock alignment between player events and broadcast schedules —
reference ``atinternet_smarttag_streams_daily_v4.sql:29,68``), so the
factory pins ``spark.sql.session.timeZone``.  All scale-relevant
defaults (AQE, skew-join handling, dynamic partition overwrite) are
set here once so every entry point — tests, bench, driver — runs the
same way a production cluster would.

Every lineage cut in the package goes through :func:`lineage_cut`,
whose policy follows the deployment's checkpoint dir: executor-local
blocks when the SparkContext has none, reliable checkpoint files when
it has one.  No env var or option switches it.

``get_spark`` boots the driver JVM from a class-data-sharing (CDS)
archive: the JVM's saved image of already parsed and verified classes,
which it maps at start instead of loading each class again (JDK 17
dynamic archive; it halves perfbench's ``setup_s``, JVM boot plus the
first action, on 4 cores).  The archive lives in
``.spark_cds/`` at the repo root, named by a hash of what the JVM
checks it against (:func:`cds_launch`).  When it is missing, the
process dumps it when its JVM exits (``-XX:ArchiveClassesAtExit``, into
a per-process file that an exit hook publishes only after the JVM
exited cleanly); every later process maps it
(``-XX:SharedArchiveFile``).  The options travel in
``spark.driver.defaultJavaOptions``, because ``--driver-java-options``
(perfbench's ``PYSPARK_SUBMIT_ARGS``) replaces
``spark.driver.extraJavaOptions``.  Three traps:

- The JVM refuses to dump or map an archive while a non-empty
  directory is on the classpath, and the launcher puts the Spark conf
  dir there.  When that dir holds only ``*.template`` files, the gateway
  launch points ``SPARK_CONF_DIR`` at an empty stand-in; when it holds a
  real file (``spark-defaults.conf``, ``log4j2.properties``,
  ``spark-env.sh``, ...), there is no archive and the session boots as
  before.
- Janino's classes come from a signed jar, which the JDK never
  archives: generated-code compilation still loads them at its first use.
- The verification driver's ``__spark_entry__`` session builds its own
  JVM and gets no archive (see :func:`configure`).
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import os
import shlex
import shutil
import subprocess
from collections.abc import Callable
from typing import NamedTuple

from pyspark import SparkContext, StorageLevel
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import DataFrame, SparkSession

# Package root: Python workers need it on their path to unpickle
# kernels that live in this package (a tool run from outside the repo
# only puts it on the driver's ``sys.path``).
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# PySpark 4's per-Column-call error-context capture (call-site lines
# attached to DataFrame error messages) costs ~3 Py4J round trips + a
# Python stack walk on EVERY wrapped Column/function call — measured
# 35-45% of the 22-model dashboard DAG's driver-side build time (13k
# Py4J round trips per build, profiled r14).  It affects only
# error-message metadata, never results or plans, and the cost is
# driver-side at ANY deployment scale (guide §5: the driver should do
# almost no work).  Re-enable when debugging with GETDBT_SPARK_DF_DEBUG=1.
DF_DEBUGGING = os.environ.get("GETDBT_SPARK_DF_DEBUG") == "1"

# Spark's generated-code cache (compiled Janino classes, one entry per
# distinct generated source).  The default of 100 entries is below one
# run of the model DAG, so LRU eviction empties it between runs and a
# warm run recompiles — and HotSpot re-JITs — every class again.
# Measured in one session on 4 cores at sf0.1, cold: the dashboard DAG
# run compiles 292 classes, one perfbench operator_suite pass 131 and
# the 30 bench.py ids 289 — 712 in all; a warm repeat of all three
# compiles 0 (315 + 162 + 880 at 100 entries).  Guava's size-bounded
# cache splits the bound over ~4 segments and evicts when one fills,
# so the size is the next power of two at or above twice that count.
# Static conf: only a builder (or spark-defaults.conf) can set it, and
# it travels in SparkConf, so executors' caches get the same size.
CODEGEN_CACHE_ENTRIES = 2048

# Confs applied to ANY session handed to us (including the driver's).
# They are meant to be runtime-settable; one that a deployment pins
# keeps its value (``configure`` skips it).
RUNTIME_CONFS: dict[str, str] = {
    # The driver-generated events.parquet stores nanosecond timestamps,
    # which Spark's parquet reader rejects unless told to surface them
    # as raw longs (we convert explicitly in io.load_table).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Incremental models replace exactly the partitions present in the
    # written DataFrame (reference insert_overwrite semantics).
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    # Runtime re-planning: partition coalescing + skew-join splitting.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let AQE upgrade sort-merge joins to broadcast from MEASURED
    # runtime sizes well past the static 10 MB threshold.  Static
    # estimates lie below Arrow kernels (pipeline._plan_with_real_
    # stats documents the sf10 broadcast-OOM this caused), so the
    # kernel paths plan conservative shuffle joins and rely on THIS
    # conf to win back the broadcast fast path when the materialized
    # side is genuinely small.  64 MB against an 8 GB driver; a
    # runtime-measured size cannot OOM the way a 50×-off estimate
    # can.
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "64m",
    # Keep the whole-stage-codegen stage id out of generated class
    # names, so the same stage code is one cache entry (see
    # CODEGEN_CACHE_ENTRIES).  Under AQE a plan's stage ids follow the
    # order its query stages finish in, so with the id in the source a
    # warm rerun of the one-plan dashboard build (``reuse=None``)
    # missed the cache on 48-114 of its ~300 classes at sf0.001;
    # without it, 4 and then 0.  Only class names change, never plans
    # or results.
    "spark.sql.codegen.useIdInClassName": "false",
}


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (idempotent).

    Used by the query entry points because the verification driver owns
    the SparkSession; we only get to adjust runtime confs.

    Two confs ``get_spark`` sets are STATIC, so ``conf.set`` raises
    ``CANNOT_MODIFY_STATIC_CONFIG`` for them and this function cannot
    apply them (``RUNTIME_CONFS`` must hold runtime confs only; a
    tier-1 test checks that):

    - ``spark.python.sql.dataFrameDebugging.enabled``: PySpark reads
      it once per process into ``pyspark.errors.utils``'s cache, so
      for a session someone else built, setting that cache is what
      turns the per-call debugging wrapper off.
    - ``spark.sql.codegen.cache.maxEntries``: there is no such side
      door.  A session someone else built (the verification driver's
      ``__spark_entry__`` session) gets the larger generated-code
      cache only from its own builder or ``spark-defaults.conf``;
      otherwise it keeps Spark's 100 entries and recompiles on every
      run.

    Nor can it give that session's JVM the class-data archive
    (:func:`cds_launch`): the archive is mapped at JVM launch, so a
    session someone else launched boots and loads classes at full cost.
    """
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Non-settable in this deployment — leave the default.
            pass
    from pyspark.errors import utils as err_utils

    if hasattr(err_utils, "_enable_debugging_cache"):
        err_utils._enable_debugging_cache = DF_DEBUGGING
    return spark


def lineage_cut(spark: SparkSession) -> Callable[..., DataFrame]:
    """The engine's one lineage cut: ``cut(df, eager=True)``.

    A cut is this engine's materialization boundary (dbt writes every
    model as a table): it computes a shared subtree once and truncates
    the logical plan, so Catalyst stops re-analyzing inlined upstream
    plans.  The policy follows the deployment and is read once per
    call here:

    - No checkpoint dir on the SparkContext (``sc.setCheckpointDir`` or
      ``spark.checkpoint.dir``): ``df.localCheckpoint(eager=eager)``.
      On a single host the executors ARE the driver process, so
      reliable checkpoint files would add no fault tolerance, only a
      second job and a file round trip per cut.
    - A checkpoint dir is set (HDFS/object store on a cluster): a
      RELIABLE checkpoint, whose files survive the executor loss that
      ``localCheckpoint`` blocks do not.  Eager: persist at
      ``MEMORY_AND_DISK``, ``checkpoint(eager=True)``, unpersist.  RDD
      checkpointing runs a SECOND job over the lineage to write the
      files; caching first turns that pass into a block read instead
      of a full recompute (for connected components' initial edge set
      that recompute was the whole pair-generation plan, measured 2×
      the query).  The cache is dropped at once: later reads come from
      the files, which ``get_spark``'s
      ``spark.cleaner.referenceTracking.cleanCheckpoints`` deletes once
      the frame is garbage-collected.  Lazy: ``checkpoint(eager=False)``.

    ``eager=False`` materializes on the frame's FIRST action instead of
    in a job of its own.  Use it where two consumers of one action
    must share one materialization (``with_running_total``'s slice
    totals and offset join; a frame containing a join that feeds both
    sides of a ``cogroup``, where Spark 4.1's ambiguous-self-join
    detector fails an un-cut plan at analysis): both read the same
    RDD blocks, and one job launch is saved per call.

    Deliberately not ``persist()``: cached plans are matched by
    LOGICAL plan, so a second run over a source whose files changed
    (incremental warehouse rewrites) could silently serve the first
    run's data.  Checkpoints are RDD-backed and never plan-matched
    (the reliable eager cut's cache lives only until its files exist).
    """
    if spark.sparkContext.getCheckpointDir() is None:
        return lambda df, eager=True: df.localCheckpoint(eager=eager)

    def cut(df: DataFrame, eager: bool = True) -> DataFrame:
        if not eager:
            return df.checkpoint(eager=False)
        cached = df.persist(StorageLevel.MEMORY_AND_DISK)
        out = cached.checkpoint(eager=True)
        cached.unpersist()
        return out

    return cut


# Where ``get_spark`` keeps the driver's class-data archive (gitignored).
CDS_DIR = os.path.join(PACKAGE_ROOT, ".spark_cds")

# The launcher puts each of these on the driver's classpath as well; a
# directory there makes the JVM refuse the archive.
_CLASSPATH_ENV = (
    "HADOOP_CONF_DIR",
    "YARN_CONF_DIR",
    "SPARK_DIST_CLASSPATH",
    "SPARK_PREPEND_CLASSES",
)

# The JVM shares this process's stdout, whose last line bench.py and
# perfbench keep for their JSON record; the dump warns once per skipped
# class (every signed Janino class) unless these tags are silenced.
_CDS_QUIET = "-Xlog:cds=off -Xlog:cds+dynamic=off"

# How long the exit hook waits for a dumping JVM: the dump took 13-15 s
# on 4 cores, against 0.4 s for a plain JVM exit.
_DUMP_WAIT_S = 120


class CdsLaunch(NamedTuple):
    """How to launch the driver JVM with the class-data archive."""

    java_options: str  # the ``spark.driver.defaultJavaOptions`` value
    conf_dir: str  # the empty ``SPARK_CONF_DIR`` stand-in
    archive: str  # the published archive
    dump_to: str | None  # where the JVM dumps at exit (archive missing)


def cds_launch(heap: str, cds_dir: str) -> CdsLaunch | None:
    """The archive launch for a driver JVM with ``heap`` max heap, or
    None to boot as before.

    None when the Spark conf dir holds a real file, when the launcher
    adds other classpath entries (``_CLASSPATH_ENV``), when no java or
    Spark jars dir is found, or when ``cds_dir`` cannot be written.
    The archive's name hashes what the JVM checks it against: the JDK
    (``java.home`` and its ``release`` file), name, size and mtime of
    every Spark jar, the stand-in conf dir and the heap size (which
    picks the JDK's base archive).  Dump files of dead processes are
    deleted here.
    """
    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    try:
        conf_files = os.listdir(conf_dir)
    except FileNotFoundError:
        conf_files = []
    if any(not f.endswith(".template") for f in conf_files):
        return None
    if any(os.environ.get(v) for v in _CLASSPATH_ENV):
        return None
    # The java spark-class runs: $JAVA_HOME/bin/java, else the PATH's.
    java = (
        os.path.join(os.environ["JAVA_HOME"], "bin", "java")
        if os.environ.get("JAVA_HOME")
        else shutil.which("java")
    )
    jars = os.path.join(spark_home, "jars")
    if java is None or not os.path.isdir(jars):
        return None
    java_home = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    stand_in = os.path.join(cds_dir, "conf")
    key = hashlib.sha256()
    release = os.path.join(java_home, "release")  # the JDK's version record
    with contextlib.suppress(OSError), open(release, "rb") as fh:
        key.update(fh.read())
    key.update(f"{java_home}\n{stand_in}\n{heap}\n".encode())
    for name in sorted(os.listdir(jars)):
        st = os.stat(os.path.join(jars, name))
        key.update(f"{name} {st.st_size} {st.st_mtime_ns}\n".encode())
    archive = os.path.join(cds_dir, f"driver-{key.hexdigest()[:16]}.jsa")
    try:
        os.makedirs(stand_in, exist_ok=True)
    except OSError:
        return None
    if not os.access(cds_dir, os.W_OK | os.X_OK):
        return None
    _drop_dead_dumps(cds_dir)
    if os.path.isfile(archive):
        flag, dump_to = f"-XX:SharedArchiveFile={shlex.quote(archive)}", None
    else:
        dump_to = f"{archive}.{os.getpid()}.tmp"
        flag = f"-XX:ArchiveClassesAtExit={shlex.quote(dump_to)}"
    return CdsLaunch(f"{_CDS_QUIET} {flag}", stand_in, archive, dump_to)


def _drop_dead_dumps(cds_dir: str) -> None:
    """Delete the dump files (``<archive>.<pid>.tmp``) of processes
    that are gone: a killed process never publishes its dump."""
    for name in os.listdir(cds_dir):
        stem, _, ext = name.rpartition(".")
        pid = stem.rpartition(".")[2]
        if ext != "tmp" or not pid.isdigit():
            continue
        try:
            os.kill(int(pid), 0)
        except ProcessLookupError:
            with contextlib.suppress(FileNotFoundError):
                os.remove(os.path.join(cds_dir, name))
        except PermissionError:
            pass  # alive, another user's


def _publish_dump(proc: subprocess.Popen, dump_to: str, archive: str) -> None:
    """Exit hook of a dumping process: let the JVM exit (it does when
    its stdin closes) and publish its dump only if it exited cleanly.
    A JVM killed mid-dump leaves a truncated archive whose intact
    header crashes every later JVM at boot (SIGBUS)."""
    sc = SparkContext._active_spark_context
    if sc is not None:
        # A JVM that exits under a running context cuts the Python
        # accumulator server off mid-read (EOFError on stderr).
        sc.stop()
    with contextlib.suppress(OSError):
        proc.stdin.close()
    try:
        proc.wait(timeout=_DUMP_WAIT_S)
    except subprocess.TimeoutExpired:
        pass
    with contextlib.suppress(FileNotFoundError):
        if proc.returncode == 0:
            os.replace(dump_to, archive)
        else:
            os.remove(dump_to)


def _launch(builder: SparkSession.Builder, heap: str) -> SparkSession:
    """``builder.getOrCreate()``, booting a new driver JVM from the
    class-data archive when there is one to use (module note)."""
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return builder.getOrCreate()  # the JVM is already up
    cds = cds_launch(heap, CDS_DIR)
    if cds is None:
        return builder.getOrCreate()
    caller_conf_dir = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = cds.conf_dir
    try:
        spark = builder.config(
            "spark.driver.defaultJavaOptions", cds.java_options
        ).getOrCreate()
    except Exception:
        if cds.dump_to is not None or SparkContext._gateway is not None:
            raise
        # The JVM died at boot mapping a damaged archive: drop the
        # archive (the next process dumps a fresh one), boot without.
        with contextlib.suppress(FileNotFoundError):
            os.remove(cds.archive)
        spark = builder.config("spark.driver.defaultJavaOptions", "").getOrCreate()
    finally:
        if caller_conf_dir is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = caller_conf_dir
    if cds.dump_to is not None:
        atexit.register(
            _publish_dump, spark.sparkContext._gateway.proc, cds.dump_to, cds.archive
        )
    return spark


def get_spark(
    app_name: str = "getdbt_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    timezone: str = "Europe/Amsterdam",
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``local[N]`` for tests, N = ``$SPARK_GRAFT_CPUS`` or else the
    cores this process may run on (its affinity mask); shuffle
    partitions follow N.  On a real cluster the caller's spark-submit
    conf wins for master/memory and we only layer SQL confs on top.
    """
    usable = len(os.sched_getaffinity(0))
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(usable))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else usable

    heap = os.environ.get("SPARK_DRIVER_MEMORY", "8g")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", timezone)
        .config("spark.ui.enabled", "false")
        # Keep stdout parseable: the driver greps bench.py's JSON line.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", heap)
        .config(
            "spark.python.sql.dataFrameDebugging.enabled",
            str(DF_DEBUGGING).lower(),
        )
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # A deployment with a checkpoint dir cuts lineage with reliable
        # checkpoints (lineage_cut); delete their files once unreferenced.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = _launch(builder, heap)
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    # Append (never replace) the package root to the Python workers'
    # path: ``sc.environment`` holds any ``spark.executorEnv.PYTHONPATH``
    # the deployment set and ships with every Python UDF.
    env = sc.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if PACKAGE_ROOT not in paths:
        env["PYTHONPATH"] = os.pathsep.join(paths + [PACKAGE_ROOT])
    return configure(spark)
