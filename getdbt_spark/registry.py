"""Model registry — the engine's replacement for dbt's Jinja layer.

The reference wires its 21-model DAG with ``{{ ref(...) }}`` /
``{{ source(...) }}`` template calls and per-model ``config()`` blocks
(SURVEY.md §2.10; e.g. ``atinternet_smarttag_streams_daily_v4.sql:15-22``,
``dbt_project.yml:4-11``).  Here Python *is* the template layer:

- ``@model(name, refs=..., sources=..., ...)`` registers a builder
  ``(ctx) -> DataFrame`` and its declared dependencies
  (→ ``tpl_ref`` / ``tpl_source`` / ``tpl_config`` / ``tpl_folder_config``).
- ``ModelContext.ref``/``.source`` resolve dependencies at build time and
  *enforce* that every edge was declared — the same compile-time DAG
  validation dbt gives (undeclared ref at runtime = error, not a silent
  hidden edge).
- ``ctx.partition_window`` is the frozen-``run_date`` version of the
  reference's ``{% set partitions_to_replace %}`` list
  (``streams_daily_v4.sql:1-12`` → ``tpl_set_list`` / ``tpl_join_filter``);
  builders never call ``current_date()`` directly so every run is
  reproducible (SURVEY.md §7 "frozen run_date").
- ``topo_sort`` orders the DAG for the runner (Kahn; cycles are errors).

The registry is *declarative metadata only* — execution lives in
``runner.py``; builders return unexecuted DataFrames (the Catalyst
logical plan is the IR, replacing dbt's compiled-SQL string IR).
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable, Iterable, Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class ModelConfig:
    """Per-model materialization config (→ dbt ``config()`` +
    ``dbt_project.yml`` folder routing).

    ``materialized="incremental"`` always means the reference's
    ``insert_overwrite`` strategy (``Runner._insert_overwrite``: a
    dynamic overwrite of the partitions the run wrote), so there is no
    strategy field; ``merge`` is the separate ``runner.merge_upsert``."""

    schema: str = "default"
    materialized: str = "view"  # "view" | "incremental"
    partition_by: str | None = None
    replay_days: int = 9  # trailing partitions replaced per run


@dataclass(frozen=True)
class DQTest:
    """One declared data-quality test (→ dbt's schema.yml column tests,
    the ``dbt test`` surface — reference ``tests/.gitkeep``, SURVEY
    §2.10/§3.2: the capability is declared but unexercised there; here
    the hook is real and driver-verified via ``dq_schema_tests``).

    ``kind`` ∈ {not_null, unique, accepted_values, relationships} — the
    four built-in dbt generic tests, with dbt's exact failure-counting
    semantics (dq.py).
    """

    kind: str
    column: str
    values: tuple = ()  # accepted_values only
    to: str | None = None  # relationships: parent model name
    to_field: str | None = None  # relationships: parent column

    def __post_init__(self):
        kinds = ("not_null", "unique", "accepted_values", "relationships")
        if self.kind not in kinds:
            raise ValueError(f"unknown dq test kind {self.kind!r}")
        if self.kind == "accepted_values" and not self.values:
            raise ValueError("accepted_values needs values=(...)")
        if self.kind == "relationships" and not (self.to and self.to_field):
            raise ValueError("relationships needs to= and to_field=")


@dataclass(frozen=True)
class Model:
    name: str
    builder: Callable[["ModelContext"], DataFrame]
    refs: tuple[str, ...]
    sources: tuple[tuple[str, str], ...]
    config: ModelConfig
    dq_tests: tuple[DQTest, ...] = ()


MODELS: dict[str, Model] = {}


def model(
    name: str,
    *,
    refs: Sequence[str] = (),
    sources: Sequence[tuple[str, str]] = (),
    schema: str = "default",
    materialized: str = "view",
    partition_by: str | None = None,
    replay_days: int = 9,
    dq_tests: Sequence[DQTest] = (),
):
    """Register a model builder with its declared DAG edges."""
    if materialized not in ("view", "incremental"):
        raise ValueError(f"unknown materialization {materialized!r}")
    if materialized == "incremental" and partition_by is None:
        raise ValueError(f"incremental model {name!r} needs partition_by")

    def deco(fn: Callable[["ModelContext"], DataFrame]):
        prior = MODELS.get(name)
        if prior is not None and (
            prior.builder.__module__ != fn.__module__
            or prior.builder.__qualname__ != fn.__qualname__
        ):
            raise ValueError(f"duplicate model name {name!r}")
        MODELS[name] = Model(
            name=name,
            builder=fn,
            refs=tuple(refs),
            sources=tuple(sources),
            config=ModelConfig(
                schema=schema,
                materialized=materialized,
                partition_by=partition_by,
                replay_days=replay_days,
            ),
            dq_tests=tuple(dq_tests),
        )
        return fn

    return deco


@dataclass
class ModelContext:
    """Build-time resolution context handed to every model builder."""

    spark: SparkSession
    run_date: dt.date
    _sources: dict[tuple[str, str], DataFrame]
    _resolved: dict[str, DataFrame]
    _model: Model

    def ref(self, name: str) -> DataFrame:
        """``{{ ref('name') }}`` — resolve an upstream model (declared only)."""
        if name not in self._model.refs:
            raise ValueError(
                f"model {self._model.name!r} refs undeclared model {name!r}"
                " — add it to refs=[...]"
            )
        return self._resolved[name]

    def source(self, source_name: str, table: str) -> DataFrame:
        """``{{ source('src', 'table') }}`` — resolve a declared raw source."""
        key = (source_name, table)
        if key not in self._model.sources:
            raise ValueError(
                f"model {self._model.name!r} reads undeclared source {key!r}"
                " — add it to sources=[...]"
            )
        try:
            return self._sources[key]
        except KeyError:
            raise KeyError(
                f"source {key!r} not provided to the runner"
            ) from None

    @property
    def partition_window(self) -> list[dt.date]:
        """``partitions_to_replace``: run_date−(replay_days−1) … run_date.

        The frozen-date equivalent of the reference's
        ``[current_date, date_sub(current_date, interval 1 day), …]``
        (``streams_daily_v4.sql:1-12``). Builders use these as literal
        predicates so Parquet partition pruning fires at scan time.
        """
        n = self._model.config.replay_days
        return [self.run_date - dt.timedelta(days=i) for i in range(n)]


def topo_sort(
    selected: Iterable[str] | None = None,
    registry: dict[str, Model] | None = None,
) -> list[Model]:
    """Topological order of (the ancestor-closure of) ``selected``.

    ``selected=None`` means the whole registry.  Deterministic: ties
    broken by model name.  Raises on cycles and on refs to models that
    are not registered.
    """
    reg = MODELS if registry is None else registry
    if selected is None:
        wanted = set(reg)
    else:
        wanted: set[str] = set()
        stack = list(selected)
        while stack:
            n = stack.pop()
            if n in wanted:
                continue
            if n not in reg:
                raise KeyError(f"unknown model {n!r}")
            wanted.add(n)
            stack.extend(reg[n].refs)

    order: list[Model] = []
    state: dict[str, int] = {}  # 0=visiting, 1=done

    def visit(n: str, chain: tuple[str, ...]):
        st = state.get(n)
        if st == 1:
            return
        if st == 0:
            cycle = " -> ".join(chain + (n,))
            raise ValueError(f"model cycle: {cycle}")
        if n not in reg:
            raise KeyError(f"model {chain[-1]!r} refs unknown model {n!r}")
        state[n] = 0
        for dep in sorted(reg[n].refs):
            visit(dep, chain + (n,))
        state[n] = 1
        order.append(reg[n])

    for name in sorted(wanted):
        visit(name, ())
    return order
