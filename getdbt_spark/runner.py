"""DAG runner + materializations (→ dbt's ``run`` lifecycle, SURVEY.md §3).

Given a registry and a source map, builds models in topological order
and materializes each per its config:

- ``view``         → the DataFrame itself is the materialization (kept
                     in the result map and registered as a temp view so
                     the ``sql()`` entry point can address it — the
                     Spark analog of ``CREATE OR REPLACE VIEW``).
- ``incremental``  → ``insert_overwrite``: dynamic-partition-overwrite
                     Parquet write replacing exactly the partitions
                     present in the build output.  Builders pre-filter
                     to ``ctx.partition_window`` (the trailing
                     ``replay_days`` dates), so a run rewrites exactly
                     those partitions and touches nothing older —
                     the reference's BigQuery ``insert_overwrite`` with
                     ``partitions=partitions_to_replace``
                     (``streams_daily_v4.sql:15-22``) on plain Parquet.

Scale notes: the write path relies on
``spark.sql.sources.partitionOverwriteMode=dynamic`` (set in
``session.RUNTIME_CONFS``) so only output partitions shuffle/commit;
old partitions are never read, listed, or rewritten.  Late events ≤
``replay_days−1`` days old are picked up because their partition is
recomputed; older ones are dropped — the reference's late-data policy
(SURVEY.md §2.9).
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import urllib.parse
from collections.abc import Callable, Iterable, Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .io import read_parquet_like
from .registry import MODELS, Model, ModelContext, topo_sort
from .session import lineage_cut


class Runner:
    """Materialize a model DAG.

    Parameters
    ----------
    spark:      session (from ``session.get_spark`` — needs the dynamic
                partition-overwrite + timezone confs).
    sources:    ``{(source_name, table): DataFrame}`` raw inputs.
    run_date:   frozen "today" (never ``current_date()`` — SURVEY §7).
    warehouse:  directory for incremental table storage.  ``None`` →
                incremental models stay unexecuted DataFrames (pure
                build mode: what the driver's correctness queries use).
    """

    def __init__(
        self,
        spark: SparkSession,
        sources: Mapping[tuple[str, str], DataFrame],
        run_date: dt.date,
        warehouse: str | None = None,
        registry: dict[str, Model] | None = None,
    ):
        self.spark = spark
        self.sources = dict(sources)
        self.run_date = run_date
        self.warehouse = warehouse
        self.registry = MODELS if registry is None else registry

    # -- build ---------------------------------------------------------

    def build(self, name: str, resolved: dict[str, DataFrame]) -> DataFrame:
        m = self.registry[name]
        ctx = ModelContext(
            spark=self.spark,
            run_date=self.run_date,
            _sources=self.sources,
            _resolved=resolved,
            _model=m,
        )
        return m.builder(ctx)

    def run(
        self,
        select: Iterable[str] | None = None,
        reuse: str | None = "checkpoint",
    ) -> dict[str, DataFrame]:
        """Materialize (the ancestor-closure of) ``select`` in DAG order.

        Returns ``{model_name: DataFrame}`` where incremental models are
        the *read-back* of their materialized table when a warehouse is
        configured (so downstream consumers see exactly what persisted).

        ``reuse`` controls what happens to NON-selected (intermediate)
        models in the closure — the engine's substitute for dbt's
        table-per-model materialization boundary, without which Spark
        re-computes a shared subtree once per consumer (the dashboard
        references the vod mart twice and the tv mart three times; the
        vod mart itself reads the streams model three times):

        - ``"checkpoint"`` (default) — an eager lineage cut of every
          intermediate (``session.lineage_cut``: ``localCheckpoint``,
          or a reliable checkpoint when the deployment set a
          checkpoint dir): computes each shared subtree once AND
          cuts lineage, so Catalyst stops re-analyzing the huge
          inlined upstream plans (analysis time dominates small-data
          DAG runs).  One job per intermediate; ContextCleaner frees
          the blocks (or checkpoint files) once the returned frames
          are garbage-collected, so no caller-side cleanup exists.
          Materialization is dependency-driven (see
          ``_run_pipelined``).
        - ``None`` — pure build: raw unexecuted DataFrames, no job
          beyond a configured warehouse's incremental writes (plan
          inspection, backfill chunks, and the registry's ``model_*``
          entries, whose plans must show the full lineage).  Models are
          built one at a time in topo order, so the build is sequential
          and its Py4J call count deterministic.

        SOURCE-LEVEL models (no refs — the ``select *`` passthrough
        views over one parquet table) are never checkpointed:
        materializing a bare scan copies every column of every row
        while the read-back loses the scan's partition pruning and
        predicate pushdown — a consumer re-reading pruned parquet is
        cheaper than reading the full materialized copy at ANY scale
        (dbt inlines such views for the same reason).  They stay lazy
        and each consumer's filters reach the parquet scan.
        """
        if reuse not in ("checkpoint", None):
            raise ValueError(f"unknown reuse mode {reuse!r}")
        sel = None if select is None else set(select)
        cut = lineage_cut(self.spark) if reuse == "checkpoint" else None
        return self._run_pipelined(topo_sort(select, self.registry), sel, cut)

    def _run_pipelined(
        self,
        models: list[Model],
        sel: set[str] | None,
        cut: Callable[[DataFrame], DataFrame] | None,
    ) -> dict[str, DataFrame]:
        """Dependency-driven materialization: one future per model,
        blocking only on ITS refs — a model checkpoints the moment its
        own upstreams finish, never waiting for unrelated stragglers
        (a level barrier makes the streams→vod→dashboard chain wait
        for every same-level sibling at each step; dependency order
        starts the chain's next link immediately).  Threads only
        submit Spark jobs — the cluster schedules the actual work —
        and each model's write/checkpoint touches its own path, so
        concurrency is safe.  Failures propagate on ``result()``.
        Without ``cut`` (the pure build) there is nothing to overlap:
        one worker takes the models in topo order."""
        from concurrent.futures import Future, ThreadPoolExecutor

        futures: dict[str, Future] = {}

        def _materialize(m: Model) -> DataFrame:
            resolved = {r: futures[r].result() for r in m.refs}
            df = self.build(m.name, resolved)
            if m.config.materialized == "incremental" and self.warehouse:
                return self._insert_overwrite(m, df)
            if cut and sel is not None and m.name not in sel and m.refs:
                # Source passthroughs (no refs) stay lazy: see run().
                return cut(df)
            return df

        with ThreadPoolExecutor(8 if cut else 1) as ex:
            for m in models:  # topo order ⇒ ref futures already exist
                futures[m.name] = ex.submit(_materialize, m)
            return {name: fut.result() for name, fut in futures.items()}

    # -- incremental ---------------------------------------------------

    def table_path(self, m: Model | str) -> str:
        name = m if isinstance(m, str) else m.name
        mdl = self.registry[name]
        assert self.warehouse is not None
        return os.path.join(self.warehouse, mdl.config.schema, name)

    def _insert_overwrite(self, m: Model, df: DataFrame) -> DataFrame:
        """Dynamic partition overwrite; replaces exactly df's partitions."""
        path = self.table_path(m)
        assert m.config.partition_by is not None
        (
            df.write.mode("overwrite")
            .partitionBy(m.config.partition_by)
            .parquet(path)
        )
        # schema-supplied read-back: a zero-row first run (empty
        # partition window / new tenant) writes no data files
        return read_parquet_like(self.spark, path, df)


def merge_upsert(
    spark: SparkSession,
    path: str,
    new_df: DataFrame,
    keys: list[str],
) -> DataFrame:
    """dbt's ``merge`` incremental strategy on a plain-parquet
    warehouse: rows in ``new_df`` replace same-key rows in the
    existing table, new keys append (the reference's dbt config
    surface supports this strategy even though its own models use
    ``insert_overwrite``; see ``streams_daily_v4.sql:1-22`` for the
    strategy declaration site).

    Plain parquet has no ACID MERGE, so this is merge-by-rewrite:
    ``existing LEFT ANTI JOIN new-keys`` ∪ ``new_df`` → staging dir →
    ``swap_in``.  The anti join is left to AQE's join
    selection: no explicit ``F.broadcast`` hint, because a hint is
    binding — AQE never demotes a hinted broadcast, so an unexpectedly
    large batch-key set would force a driver-side broadcast and OOM
    instead of falling back to a shuffle join.  A daily batch's
    distinct key set is small by construction, so AQE picks broadcast
    in the normal case anyway; the no-hint form just makes the
    degenerate case degrade instead of die.

    Crash safety: see ``swap_in`` (``.retired`` is the pre-merge
    table, ``.staging`` the post-merge one).  On a real lakehouse this
    function is the seam where Delta/Iceberg ``MERGE INTO`` plugs in,
    which also makes the rewrite partition-scoped instead of
    full-table and the swap a metadata commit.
    """
    # Schema-supplied reads throughout: a zero-row batch (empty
    # partition / new tenant) writes only _SUCCESS, and a schema-less
    # read-back would die with UNABLE_TO_INFER_SCHEMA; the table's
    # schema is new_df's by the merge contract.
    if not os.path.exists(path):
        new_df.write.mode("overwrite").parquet(path)
        return read_parquet_like(spark, path, new_df)
    existing = read_parquet_like(spark, path, new_df)
    new_keys = new_df.select(*keys).distinct()
    merged = existing.join(new_keys, keys, "left_anti").unionByName(new_df)
    staging = path.rstrip("/") + ".staging"
    merged.write.mode("overwrite").parquet(staging)
    return swap_in(spark, staging, path, new_df)


def swap_in(
    spark: SparkSession, staging: str, path: str, like: DataFrame
) -> DataFrame:
    """Publish the complete table written at ``staging`` as ``path``
    (created or replaced) and return its read-back.

    The staged table is verified first: ``count()`` opens every data
    file and reads its footer, so a torn or corrupt file raises here
    while the live table is still untouched.  (A schema-supplied read
    alone resolves nothing — ``.schema`` passes over garbage files.)
    Then the two-rename swap: ``rename(path → .retired)``,
    ``rename(staging → path)``, drop ``.retired``.  A crash between
    the renames leaves no live directory at ``path``; recovery is
    mechanical and loses nothing — rename ``.retired`` back or
    ``.staging`` forward, both are complete tables.

    ``like`` supplies the schema (io.read_parquet_like), so a
    zero-row table that wrote no data files round-trips too.
    """
    read_parquet_like(spark, staging, like).count()
    retired = path.rstrip("/") + ".retired"
    shutil.rmtree(retired, ignore_errors=True)
    if os.path.exists(path):
        os.rename(path, retired)
    os.rename(staging, path)
    shutil.rmtree(retired, ignore_errors=True)
    return read_parquet_like(spark, path, like)


def compact_partitions(
    spark: SparkSession,
    path: str,
    partition_col: str,
    min_files: int = 2,
) -> list[str]:
    """Small-file compaction for a date-partitioned parquet table:
    every partition holding ``min_files`` or more data files is
    rewritten as ONE file; partitions already compact are not touched
    (their files stay byte-identical — no churn for downstream
    mtime/etag caches).  Returns the list of compacted partition
    values.

    Incremental micro-batch sinks accrete one file per write per
    partition; at warehouse scale the resulting tiny-file population
    dominates scan time (per-file open/footer cost) and executor
    scheduling.  Compaction is the standard maintenance pass
    (OPTIMIZE in lakehouse engines); on plain parquet it is
    rewrite-by-partition:

    - affected partitions are selected by LISTING (driver-side glob
      over partition directories — metadata only, no data read);
    - their rows are re-read with a partition-pruned scan (IN-list of
      partition values → only those directories are touched);
    - ``repartition(partition_col)`` hashes each partition's rows to
      exactly one task, so the partitioned write emits exactly one
      file per partition value;
    - the write uses dynamic partition overwrite (session-pinned), so
      ONLY the rewritten partitions are replaced — the swap is
      per-partition-atomic the same way _insert_overwrite is.
    """
    import glob

    victims: list[str] = []
    for pdir in sorted(glob.glob(os.path.join(path, f"{partition_col}=*"))):
        n = len(
            [
                f
                for f in os.listdir(pdir)
                if f.endswith(".parquet") and not f.startswith(".")
            ]
        )
        if n >= min_files:
            # Spark URI-escapes special chars (space, ':', '%') in
            # partition directory names; unquote so the IN-list below
            # matches the actual column values, not the escaped form.
            raw = os.path.basename(pdir).split("=", 1)[1]
            victims.append(urllib.parse.unquote(raw))
    if not victims:
        return []
    df = spark.read.parquet(path).filter(
        F.col(partition_col).cast("string").isin(victims)
    )
    (
        df.repartition(F.col(partition_col))
        .write.mode("overwrite")
        .partitionBy(partition_col)
        .parquet(path)
    )
    return victims


def backfill(
    spark: SparkSession,
    sources: Mapping[tuple[str, str], DataFrame],
    name: str,
    start: dt.date,
    end: dt.date,
    warehouse: str,
    registry: dict[str, Model] | None = None,
    parallelism: int = 1,
) -> list[dt.date]:
    """Historical backfill of an incremental model: replay
    ``[start, end]`` in replay-window-sized chunks, each chunk one
    normal incremental run anchored so its partition window covers the
    chunk — dbt's "rebuild the past N months" operation without a
    special code path (the model builder sees the exact same
    ``ctx.partition_window`` contract as a nightly run, so backfill
    can never diverge from production logic).  Chunks are
    idempotent partition overwrites; a crashed backfill is resumed by
    re-running it (already-written chunks are simply rewritten).
    Returns the anchor dates used, in order.

    At warehouse scale each chunk is an independent bounded job
    (scan pruned to replay_days partitions), so a years-long backfill
    is a sequence of nightly-sized runs rather than one giant one —
    bounded memory, bounded shuffle, restartable.  Chunks write
    DISJOINT partition windows, so ``parallelism > 1`` submits them
    concurrently (driver-side threads; Spark schedules the jobs onto
    idle cores) — safe because dynamic partition overwrite commits
    per-partition and no two chunks touch the same partition.
    """
    reg = MODELS if registry is None else registry
    m = reg[name]
    if m.config.materialized != "incremental":
        raise ValueError(
            f"backfill target {name!r} is not incremental "
            f"(materialized={m.config.materialized!r})"
        )
    if start > end:
        raise ValueError(f"backfill start {start} > end {end}")
    step = m.config.replay_days
    anchors: list[dt.date] = []
    a = start + dt.timedelta(days=step - 1)
    while True:
        a = min(a, end)
        anchors.append(a)
        if a >= end:
            break
        a += dt.timedelta(days=step)
    def _one(anchor: dt.date) -> None:
        Runner(spark, sources, anchor, warehouse, reg).run(
            [name], reuse=None
        )

    if parallelism > 1 and len(anchors) > 1:
        from concurrent.futures import ThreadPoolExecutor

        # The final anchor is clamped to ``end``: when the range isn't
        # an exact multiple of the window its partitions OVERLAP the
        # previous chunk's — run it alone afterwards so no two
        # concurrent writers ever touch the same partition.
        tail_overlaps = (anchors[-1] - anchors[-2]).days < step
        pool = anchors[:-1] if tail_overlaps else anchors
        with ThreadPoolExecutor(min(parallelism, len(pool))) as ex:
            list(ex.map(_one, pool))
        if tail_overlaps:
            _one(anchors[-1])
    else:
        for anchor in anchors:
            _one(anchor)
    return anchors


def write_audit_publish(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    audits: Mapping[str, "object"],
) -> tuple[bool, dict[str, bool]]:
    """Write-Audit-Publish: materialize ``df`` to a STAGING directory,
    run every audit against the staged read-back, and only on
    all-green swap staging into place — consumers never observe a
    table that failed its checks (the lakehouse WAP pattern; on
    Iceberg/Delta the publish is a snapshot commit, on plain parquet
    it is ``swap_in``, the same verified swap as merge_upsert).

    ``audits``: ``{name: callable(DataFrame) -> bool}`` over the
    STAGED data — row thresholds, null guards, dq.run_dq wrappers.
    Returns ``(published, {audit: passed})``.  On any failure the
    staging dir is kept for inspection at ``path + '.staging'`` and
    the live table (if any) is untouched.
    """
    staging = path.rstrip("/") + ".staging"
    shutil.rmtree(staging, ignore_errors=True)
    df.write.mode("overwrite").parquet(staging)
    staged = read_parquet_like(spark, staging, df)
    results = {name: bool(fn(staged)) for name, fn in audits.items()}
    if not all(results.values()):
        return False, results
    swap_in(spark, staging, path, df)
    return True, results
