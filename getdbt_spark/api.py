"""Top-level engine API — the three entry points of SURVEY.md §3.3.

A user of the reference project runs ``dbt run`` and queries the
resulting BigQuery views; the equivalents here:

- ``run(spark, sf_dir, ...)``            — materialize (a subset of) the
  model DAG over the NPO fixture sources; views are registered in the
  session catalog so ``sql()`` can address them by name.
- ``run_incremental(spark, sf_dir, model, as_of_date, warehouse)``
  — replay one incremental model's trailing window for a given run
  date (the ``dbt run --select model`` daily-batch path).
- ``sql(spark, query)``                  — ad-hoc Spark SQL over the
  registered model views (what ``analysis/`` would have been).
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession

from . import models as M
from .fixtures import sources_map
from .io import corpus_run_date
from .runner import Runner


def run(
    spark: SparkSession,
    sf_dir: str,
    select: Iterable[str] | None = None,
    warehouse: str | None = None,
    run_date: dt.date | None = None,
) -> dict[str, DataFrame]:
    """Materialize the model DAG (ancestor closure of ``select``;
    everything when None).  Views are registered by model name."""
    M.load_all()
    runner = Runner(
        spark,
        sources_map(spark, sf_dir),
        run_date or corpus_run_date(spark, sf_dir),
        warehouse=warehouse,
    )
    out = runner.run(select)
    for name, df in out.items():
        df.createOrReplaceTempView(name)
    return out


def run_incremental(
    spark: SparkSession,
    sf_dir: str,
    model: str,
    as_of_date: dt.date,
    warehouse: str,
) -> DataFrame:
    """Replay ``model``'s trailing partition window as of a given date
    (late events inside the window are re-aggregated; partitions outside
    it are left untouched on disk)."""
    M.load_all()
    runner = Runner(
        spark, sources_map(spark, sf_dir), as_of_date, warehouse=warehouse
    )
    return runner.run([model])[model]


def sql(spark: SparkSession, query: str) -> DataFrame:
    """Ad-hoc Spark SQL over whatever ``run()`` registered.

    Guarded: if no model view exists in this session's catalog the
    query would fail with a bare TABLE_OR_VIEW_NOT_FOUND deep inside
    analysis — raise the actionable error instead.
    """
    M.load_all()
    from .registry import MODELS

    if not any(spark.catalog.tableExists(name) for name in MODELS):
        raise RuntimeError(
            "no model views are registered in this session — call "
            "api.run(spark, sf_dir, ...) first (it registers every "
            "materialized model as a temp view for sql())"
        )
    return spark.sql(query)
