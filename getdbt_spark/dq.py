"""Data-quality test runner — the engine's ``dbt test`` surface.

The reference declares the capability but ships no tests
(``tests/.gitkeep``; SURVEY §3.2/§5.1).  Here the hook is functional:
models declare column tests in ``@model(dq_tests=[...])`` (the analog
of dbt's per-model ``schema.yml``), and ``run_dq`` evaluates every
declared test in one DataFrame whose rows are
``(model_name, test_kind, column_name, n_failures)``.

Failure counting follows dbt's built-in generic tests exactly:

- ``not_null``         — #rows where the column IS NULL.
- ``unique``           — #distinct non-null values occurring more than
                         once (dbt counts duplicated VALUES, not rows).
- ``accepted_values``  — #distinct values outside the accepted list
                         (NULLs never fail this test, matching SQL
                         ``NOT IN`` semantics).
- ``relationships``    — #child rows whose non-null foreign key has no
                         match in the parent model (dbt's referential
                         test; a left-anti join).

Scale shape: each test is a single aggregation over one model — a
map-side-combinable count, no windows, no cartesian anything.  The
per-test one-row aggregates are unioned into one plan so a single
action evaluates the whole suite; in checkpoint mode (the default) a
model shared by several tests (or by the relationships parent) is
computed once.  At 100 TB each test is one scan+agg over the tested
table — exactly what ``dbt test`` compiles to in a warehouse.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .registry import MODELS, DQTest, Model
from .runner import Runner
from .session import lineage_cut


def _failures(
    df: DataFrame, t: DQTest, parents: dict[str, DataFrame]
) -> DataFrame:
    """One-row DataFrame: the failure count for a single test."""
    c = F.col(t.column)
    if t.kind == "not_null":
        n = df.filter(c.isNull()).agg(F.count(F.lit(1)).alias("n"))
    elif t.kind == "unique":
        n = (
            df.filter(c.isNotNull())
            .groupBy(t.column)
            .agg(F.count(F.lit(1)).alias("cnt"))
            .filter(F.col("cnt") > 1)
            .agg(F.count(F.lit(1)).alias("n"))
        )
    elif t.kind == "accepted_values":
        n = (
            df.select(t.column)
            .filter(c.isNotNull() & ~c.isin(*t.values))
            .distinct()
            .agg(F.count(F.lit(1)).alias("n"))
        )
    elif t.kind == "relationships":
        parent = parents[t.to].select(
            F.col(t.to_field).alias("__parent_key")
        )
        n = (
            df.filter(c.isNotNull())
            .select(c.alias("__child_key"))
            .join(
                F.broadcast(parent.distinct()),
                F.col("__child_key") == F.col("__parent_key"),
                "left_anti",
            )
            .agg(F.count(F.lit(1)).alias("n"))
        )
    else:  # pragma: no cover - DQTest.__post_init__ rejects these
        raise ValueError(t.kind)
    return n


def declared_tests(
    registry: dict[str, Model] | None = None,
) -> list[tuple[str, DQTest]]:
    """Every declared (model name, test) pair, deterministic order."""
    reg = MODELS if registry is None else registry
    return [
        (name, t) for name in sorted(reg) for t in reg[name].dq_tests
    ]


def run_dq(
    runner: Runner,
    select: list[str] | None = None,
    reuse: str | None = "checkpoint",
) -> DataFrame:
    """Evaluate all declared tests on (the closure of) ``select``.

    Returns one row per test: (model_name, test_kind, column_name,
    n_failures).  Models named by ``relationships`` parents are built
    too (they are part of the test's semantics, exactly as dbt resolves
    ``to: ref('parent')``).
    """
    pairs = [
        (name, t)
        for name, t in declared_tests(runner.registry)
        if select is None or name in select
    ]
    if not pairs:
        raise ValueError("no dq tests declared in scope")
    needed = sorted(
        {name for name, _ in pairs}
        | {t.to for _, t in pairs if t.to is not None}
    )
    out = runner.run(needed, reuse=reuse)
    if reuse == "checkpoint":
        # Runner.run only checkpoints closure models NOT selected;
        # every ``needed`` model IS selected here, yet each is
        # referenced once per test branch of the union below (plus
        # once per relationships parent use).  Cut the multi-branch
        # ones so the single action reads each from blocks;
        # ContextCleaner frees the blocks with the frames.
        from collections import Counter

        uses = Counter(name for name, _ in pairs)
        for _, t in pairs:
            if t.to is not None:
                uses[t.to] += 1
        cut = lineage_cut(runner.spark)
        for name, n_uses in uses.items():
            if n_uses > 1:
                out[name] = cut(out[name])
    rows = [
        _failures(out[name], t, out).select(
            F.lit(name).alias("model_name"),
            F.lit(t.kind).alias("test_kind"),
            F.lit(t.column).alias("column_name"),
            F.col("n").cast("bigint").alias("n_failures"),
        )
        for name, t in pairs
    ]
    res = rows[0]
    for r in rows[1:]:
        res = res.unionAll(r)
    return res


def table_diff(
    a: DataFrame, b: DataFrame, keys: list[str]
) -> DataFrame:
    """Audit two relations keyed by ``keys`` (dbt audit-helper's
    ``compare_relations``): one row per non-key column with the key
    overlap counts and that column's value-mismatch count over common
    keys — the validation report a backfill / migration / refactor
    runs before cutover.

    Columns: ``column, n_only_a, n_only_b, n_common, n_value_diff``
    (overlap counts repeat on every row — the report is meant to be
    read whole, at most #columns rows).  One full-outer join on the
    keys + ONE aggregation computing every column's mismatch count
    simultaneously (null-safe <=> so NULL==NULL); nothing is
    collected, so it audits tables of any size — at warehouse scale
    the join is the only shuffle and AQE sizes it.
    """
    shared = [
        c for c in a.columns if c in set(b.columns) and c not in keys
    ]
    ja = a.select(
        *keys,
        F.lit(1).alias("_in_a"),
        *[F.col(c).alias(f"_a_{c}") for c in shared],
    )
    jb = b.select(
        *keys,
        F.lit(1).alias("_in_b"),
        *[F.col(c).alias(f"_b_{c}") for c in shared],
    )
    j = ja.join(jb, keys, "full_outer")
    both = F.col("_in_a").isNotNull() & F.col("_in_b").isNotNull()
    aggs = [
        F.sum(
            F.when(
                F.col("_in_a").isNotNull() & F.col("_in_b").isNull(), 1
            ).otherwise(0)
        ).alias("n_only_a"),
        F.sum(
            F.when(
                F.col("_in_b").isNotNull() & F.col("_in_a").isNull(), 1
            ).otherwise(0)
        ).alias("n_only_b"),
        F.sum(F.when(both, 1).otherwise(0)).alias("n_common"),
        *[
            F.sum(
                F.when(
                    both
                    & ~F.col(f"_a_{c}").eqNullSafe(F.col(f"_b_{c}")),
                    1,
                ).otherwise(0)
            ).alias(f"_diff_{c}")
            for c in shared
        ],
    ]
    row = j.agg(*aggs)
    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"_diff_{c}").alias("n_value_diff"),
            )
            for c in shared
        ]
    )
    return row.select(
        F.explode(per_col).alias("d"),
        "n_only_a",
        "n_only_b",
        "n_common",
    ).select(
        F.col("d.column").alias("column"),
        F.col("n_only_a").cast("long").alias("n_only_a"),
        F.col("n_only_b").cast("long").alias("n_only_b"),
        F.col("n_common").cast("long").alias("n_common"),
        F.col("d.n_value_diff").cast("long").alias("n_value_diff"),
    )
