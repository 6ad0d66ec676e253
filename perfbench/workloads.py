"""The three workloads: what one iteration does and how it is checked.

Each workload hands the runner a list of ops per iteration.  An op is
one call sequence through the program's public entry points; it
returns what it produced (``Result``) so the output check can hash it
afterwards without re-running any timed work.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
from dataclasses import dataclass, field

DASHBOARD = "integral_reporting_dashboard_channel_weekly"
STREAMS = "atinternet_smarttag_streams_daily_v4"
NIGHTS = 4
# dedup_embedding_cosine (12-23 s per pass, ~40% of a pass) is left
# out: with it, a run of this workload does not fit the time a full
# benchmark check may take.
OPERATOR_IDS = (
    "dedup_cluster_canonical",
    "sim_ann_lsh",
    "sim_ann_ivf",
    "join_asof_nearest",
)
# Every oracle an output check uses.
ORACLE_IDS = (
    "model_dashboard_channel_weekly",
    "model_streams_daily_v4",
    *OPERATOR_IDS,
)


@dataclass
class Result:
    frames: list = field(default_factory=list)  # DataFrames the op holds
    oracle: str | None = None  # oracle id to check ``output`` against
    output: object = None  # pandas frame, or a parquet path to read


@dataclass
class Ctx:
    spark: object
    sf_dir: str
    anchor: dt.date
    rng: object
    work: str
    tracer: object


class Workload:
    name = ""
    writes = False  # does an iteration leave a warehouse behind?

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.warehouse = os.path.join(ctx.work, "warehouse")

    def prepare(self) -> None:
        """Untimed: a fresh warehouse for every iteration that writes."""
        if self.writes:
            shutil.rmtree(self.warehouse, ignore_errors=True)
            os.makedirs(self.warehouse)

    def ops(self) -> list[tuple[str, object]]:
        """This iteration's ops, in seed order: (name, call)."""
        raise NotImplementedError

    model: str | None = None  # the model whose closure the ops build

    def pure_build(self) -> None:
        """One build of ``model``'s closure with no jobs (``reuse=None``);
        the traced run times it for the models layer."""
        from getdbt_spark.fixtures import sources_map
        from getdbt_spark.runner import Runner

        c = self.ctx
        Runner(c.spark, sources_map(c.spark, c.sf_dir), c.anchor).run(
            [self.model], reuse=None
        )


class NightlyDag(Workload):
    """The 22-model dashboard DAG in production mode, written out."""

    name = "nightly_dag"
    model = DASHBOARD
    writes = True

    def ops(self):
        return [("dashboard", self._dashboard)]

    def _dashboard(self) -> Result:
        from getdbt_spark.fixtures import sources_map
        from getdbt_spark.runner import Runner

        c = self.ctx
        sources = sources_map(c.spark, c.sf_dir)
        out = Runner(c.spark, sources, c.anchor, self.warehouse).run(
            [DASHBOARD], reuse="checkpoint"
        )
        path = os.path.join(self.warehouse, "dashboard")
        with c.tracer.span("dashboard.write"):
            out[DASHBOARD].write.parquet(path)
        return Result(
            frames=list(out.values()),
            oracle="model_dashboard_channel_weekly",
            output=path,
        )


class NightlyRefresh(Workload):
    """Four nightly insert_overwrite refreshes of the streams model.

    The seed permutes every night but the anchor, which runs last so
    that the window it leaves on disk is the oracle's."""

    name = "nightly_refresh"
    model = STREAMS
    writes = True

    def ops(self):
        a = self.ctx.anchor
        earlier = [a - dt.timedelta(days=k) for k in range(NIGHTS - 1, 0, -1)]
        self.ctx.rng.shuffle(earlier)
        return [
            (f"night{n}", lambda d=d, last=(d == a): self._night(d, last))
            for n, d in enumerate(earlier + [a])
        ]

    def _night(self, day: dt.date, last: bool) -> Result:
        from pyspark.sql import functions as F

        from getdbt_spark import api

        c = self.ctx
        rb = api.run_incremental(c.spark, c.sf_dir, STREAMS, day, self.warehouse)
        window = [day - dt.timedelta(days=k) for k in range(9)]
        df = rb.filter(F.col("evt_date").isin(window))
        with c.tracer.span("window.read"):
            pdf = df.toPandas()
        return Result(
            frames=[df],
            oracle="model_streams_daily_v4" if last else None,
            output=pdf if last else None,
        )


class OperatorSuite(Workload):
    """Registry ids built and collected to the driver, in a
    seed-permuted order."""

    name = "operator_suite"

    def ops(self):
        ids = list(OPERATOR_IDS)
        self.ctx.rng.shuffle(ids)
        return [(qid, lambda q=qid: self._query(q)) for qid in ids]

    def _query(self, qid: str) -> Result:
        from getdbt_spark.queries import QUERIES

        c = self.ctx
        with c.tracer.span(f"queries.{qid}.build"):
            df = QUERIES[qid](c.spark, c.sf_dir)
        with c.tracer.span(f"queries.{qid}.collect"):
            try:
                pdf = df.toPandas()
            except Exception:
                # verify_local's fallback for far-future timestamps.
                pdf = df.toArrow().to_pandas()
        c.spark.catalog.clearCache()
        return Result(frames=[df], oracle=qid, output=pdf)


WORKLOADS = {w.name: w for w in (NightlyDag, NightlyRefresh, OperatorSuite)}
