"""``python -m getdbt_spark`` — the dbt-shaped command-line surface.

The reference project is driven entirely through the dbt CLI
(``dbt run`` / ``dbt test`` / ``dbt seed`` / ``dbt snapshot``; see the
reference's ``dbt_project.yml`` capability directories).  A user
switching engines keeps the same verbs:

    python -m getdbt_spark ls
    python -m getdbt_spark run  [--select m ...] [--warehouse DIR]
    python -m getdbt_spark test [--select m ...]
    python -m getdbt_spark seed
    python -m getdbt_spark snapshot --source dim_poms_episodes \
        --key mid --check-cols titles --warehouse DIR
    python -m getdbt_spark sql "SELECT ... FROM <model view>"

Every subcommand builds on the library API (``api.py``, ``dq.py``,
``seeds.py``, ``snapshots.py``) — the CLI adds argument parsing and
printing only, so anything the CLI can do is equally scriptable.
"""

from __future__ import annotations

import argparse
import datetime as dt
import sys

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def _spark(cpus: int = 8):
    from .session import get_spark

    return get_spark("getdbt_spark_cli", master=f"local[{cpus}]",
                     shuffle_partitions=cpus)


def _parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="getdbt_spark", description=__doc__.splitlines()[0]
    )
    p.add_argument("--sf-dir", default=DEFAULT_SF_DIR,
                   help="source-table directory (parquet per table)")
    p.add_argument("--cpus", type=int, default=8, help="local cores")
    sub = p.add_subparsers(dest="cmd", required=True)

    lsp = sub.add_parser("ls", help="list models in dependency order")
    lsp.add_argument(
        "--modified", metavar="MANIFEST_DIR", default=None,
        help="list only models changed vs a docs manifest "
             "(state:modified+, with downstream closure)",
    )

    docsp = sub.add_parser(
        "docs", help="write manifest.json + catalog.json (dbt docs generate)"
    )
    docsp.add_argument("--target", required=True, help="output directory")

    runp = sub.add_parser("run", help="materialize the model DAG")
    runp.add_argument("--select", nargs="*", default=None)
    runp.add_argument("--warehouse", default=None)
    runp.add_argument("--run-date", default=None,
                      help="YYYY-MM-DD anchor (default: max event date)")

    testp = sub.add_parser("test", help="run declared dq tests")
    testp.add_argument("--select", nargs="*", default=None)

    sub.add_parser("seed", help="load declared CSV seeds")

    snapp = sub.add_parser("snapshot", help="SCD2 snapshot of a source")
    snapp.add_argument("--source", required=True,
                       help="fixture/source model name")
    snapp.add_argument("--key", required=True)
    snapp.add_argument("--check-cols", nargs="+", required=True)
    snapp.add_argument("--warehouse", required=True)

    sqlp = sub.add_parser("sql", help="ad-hoc SQL over model views")
    sqlp.add_argument("query")
    sqlp.add_argument("--select", nargs="*", default=None,
                      help="models to materialize first (default: all)")

    bfp = sub.add_parser(
        "backfill", help="replay an incremental model over a date range"
    )
    bfp.add_argument("--select", required=True, help="incremental model")
    bfp.add_argument("--start", required=True, help="YYYY-MM-DD")
    bfp.add_argument("--end", required=True, help="YYYY-MM-DD")
    bfp.add_argument("--warehouse", required=True)

    freshp = sub.add_parser(
        "freshness", help="source freshness (dbt source freshness)"
    )
    freshp.add_argument("--warn-after", type=int, default=2,
                        help="days of lag before warn")
    freshp.add_argument("--error-after", type=int, default=7,
                        help="days of lag before error")
    return p


def cmd_ls(args, out) -> int:
    import json
    import os

    from . import models as M
    from .docs import modified_models
    from .registry import MODELS, topo_sort

    M.load_all()
    keep = None
    if getattr(args, "modified", None):
        with open(os.path.join(args.modified, "manifest.json")) as fh:
            keep = set(modified_models(MODELS, json.load(fh)))
    for m in topo_sort(None, MODELS):
        if keep is not None and m.name not in keep:
            continue
        cfg = m.config
        out.write(
            f"{m.name:55s} {cfg.materialized:12s} "
            f"{(cfg.schema or '-'):10s} refs={len(m.refs)}\n"
        )
    return 0


def cmd_docs(args, out) -> int:
    from . import models as M
    from .docs import write_docs
    from .fixtures import sources_map
    from .io import corpus_run_date
    from .runner import Runner

    spark = _spark(args.cpus)
    M.load_all()
    runner = Runner(
        spark, sources_map(spark, args.sf_dir),
        corpus_run_date(spark, args.sf_dir),
    )
    manifest = write_docs(runner, args.target)
    out.write(
        f"OK: wrote manifest.json + catalog.json for "
        f"{len(manifest)} model(s) to {args.target}\n"
    )
    return 0


def cmd_run(args, out) -> int:
    from . import api

    spark = _spark(args.cpus)
    run_date = (
        dt.date.fromisoformat(args.run_date) if args.run_date else None
    )
    result = api.run(
        spark, args.sf_dir, select=args.select,
        warehouse=args.warehouse, run_date=run_date,
    )
    for name, df in result.items():
        out.write(f"{name:55s} rows={df.count()}\n")
    out.write(f"OK: {len(result)} model(s) materialized\n")
    return 0


def cmd_test(args, out) -> int:
    from . import models as M
    from .dq import run_dq
    from .fixtures import sources_map
    from .io import corpus_run_date
    from .runner import Runner

    spark = _spark(args.cpus)
    M.load_all()
    runner = Runner(
        spark, sources_map(spark, args.sf_dir),
        corpus_run_date(spark, args.sf_dir),
    )
    rows = run_dq(runner, select=args.select).collect()
    n_bad = 0
    for r in rows:
        status = "PASS" if r.n_failures == 0 else "FAIL"
        n_bad += int(r.n_failures != 0)
        out.write(
            f"{status} {r.model_name:40s} {r.test_kind:15s} "
            f"{r.column_name:20s} failures={r.n_failures}\n"
        )
    out.write(f"{len(rows) - n_bad}/{len(rows)} tests passed\n")
    return 1 if n_bad else 0


def cmd_seed(args, out) -> int:
    from .seeds import SEEDS, load_seed, register_seed_models

    spark = _spark(args.cpus)
    register_seed_models()
    for name in SEEDS:
        df = load_seed(spark, name)
        out.write(f"{name:40s} rows={df.count()}\n")
    out.write(f"OK: {len(SEEDS)} seed(s) loaded\n")
    return 0


def cmd_snapshot(args, out) -> int:
    import os

    from . import api
    from .io import corpus_run_date
    from .runner import swap_in
    from .snapshots import snapshot_apply, snapshot_init

    spark = _spark(args.cpus)
    result = api.run(spark, args.sf_dir, select=[args.source])
    source = result[args.source]
    as_of = dt.datetime.combine(
        corpus_run_date(spark, args.sf_dir), dt.time(0, 0)
    )
    path = os.path.join(args.warehouse, f"snap_{args.source}")
    if os.path.exists(path):
        prev = spark.read.parquet(path)
        snap = snapshot_apply(
            prev, source, args.key, args.check_cols, as_of
        )
    else:
        snap = snapshot_init(source, as_of)
    staging = path + ".staging"
    snap.write.mode("overwrite").parquet(staging)
    live = swap_in(spark, staging, path, snap)
    out.write(f"snapshot {args.source} -> {path} rows={live.count()}\n")
    return 0


def cmd_sql(args, out) -> int:
    from . import api

    spark = _spark(args.cpus)
    api.run(spark, args.sf_dir, select=args.select)
    df = api.sql(spark, args.query)
    for line in df.limit(50)._show_string(50, 0, False).splitlines():
        out.write(line + "\n")
    return 0


def cmd_backfill(args, out) -> int:
    """Chunked historical replay of one incremental model
    (runner.backfill): each chunk is a normal nightly-shaped run, so
    backfill can never diverge from production logic."""
    import datetime as dt

    from . import models as M
    from .fixtures import sources_map
    from .runner import backfill

    spark = _spark(args.cpus)
    M.load_all()
    anchors = backfill(
        spark,
        sources_map(spark, args.sf_dir),
        args.select,
        dt.date.fromisoformat(args.start),
        dt.date.fromisoformat(args.end),
        args.warehouse,
    )
    out.write(
        f"OK: backfilled {args.select} over {len(anchors)} chunk(s) "
        f"({anchors[0]} .. {anchors[-1]})\n"
    )
    return 0


def cmd_freshness(args, out) -> int:
    """``dbt source freshness``: per-stream max loaded date vs the run
    anchor, pass/warn/error at the configured day thresholds; exits
    nonzero when any stream is in error (same exit contract as
    ``test``)."""
    from pyspark.sql import functions as F

    from .io import corpus_run_date, load_table

    spark = _spark(args.cpus)
    e = load_table(spark, args.sf_dir, "events")
    lag = F.datediff(
        F.lit(corpus_run_date(spark, args.sf_dir)), F.col("max_loaded_date")
    )
    rows = (
        e.groupBy("event_type")
        .agg(F.max(F.to_date("ts")).alias("max_loaded_date"))
        .select(
            "event_type",
            "max_loaded_date",
            lag.alias("lag_days"),
            F.when(lag <= args.warn_after, "pass")
            .when(lag <= args.error_after, "warn")
            .otherwise("error")
            .alias("status"),
        )
        .orderBy("event_type")
        .collect()
    )
    n_err = 0
    for r in rows:
        n_err += int(r.status == "error")
        out.write(
            f"{r.status.upper():5s} {r.event_type:30s} "
            f"loaded={r.max_loaded_date} lag={r.lag_days}d\n"
        )
    out.write(f"{len(rows) - n_err}/{len(rows)} sources fresh enough\n")
    return 1 if n_err else 0


def main(argv: list[str] | None = None, out=None) -> int:
    out = out or sys.stdout
    args = _parser().parse_args(argv)
    return {
        "ls": cmd_ls,
        "run": cmd_run,
        "test": cmd_test,
        "seed": cmd_seed,
        "snapshot": cmd_snapshot,
        "sql": cmd_sql,
        "freshness": cmd_freshness,
        "backfill": cmd_backfill,
        "docs": cmd_docs,
    }[args.cmd](args, out)


if __name__ == "__main__":
    sys.exit(main())
