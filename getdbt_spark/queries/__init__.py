"""Oracle-checkable query inventory.

Each SURVEY.md §2 operator id maps to a ``(spark, sf_dir) ->
DataFrame`` builder plus (where ANSI-expressible) a DuckDB oracle SQL
string over the same parquet tables.  The driver cross-checks
row-count + schema + order-insensitive value hash at sf0.01.

Registration is via the ``@query(id, oracle=...)`` decorator so a
query and its oracle are declared side by side and can never drift
apart silently.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(qid: str, oracle: str | None = None):
    """Register a query builder and (optionally) its DuckDB oracle."""

    def deco(fn):
        prior = QUERIES.get(qid)
        if prior is not None and (
            prior.__module__ != fn.__module__
            or prior.__qualname__ != fn.__qualname__
        ):
            # A *different* function under an existing id would silently
            # shadow an operator and shrink coverage; same-identity
            # re-registration (module reload) is harmless and allowed.
            raise ValueError(f"duplicate query id {qid!r}")
        QUERIES[qid] = fn
        if oracle is not None:
            ORACLES[qid] = oracle
        return fn

    return deco


def run_query(spark: SparkSession, sf_dir: str, qid: str) -> DataFrame:
    """Build query ``qid`` the way production runs it — the one
    dispatch point of bench, tools and tests.  A ``model_*`` id
    materializes its model closure in ``Runner.run``'s checkpoint
    mode (the registered entry is the pure build, for the oracle and
    plan audits); every other id is its registered builder."""
    if qid.startswith("model_"):
        return QUERIES[qid](spark, sf_dir, reuse="checkpoint")
    return QUERIES[qid](spark, sf_dir)


def load_all() -> None:
    """Import every query module (side-effect: registration)."""
    from . import relational  # noqa: F401
    from . import pipeline_queries  # noqa: F401
    from . import model_queries  # noqa: F401
    from . import extensions  # noqa: F401
    from . import curation  # noqa: F401
    # LAST TWO: their oracles are assembled from other modules'
    # registered oracles, so every composed member must already be
    # loaded.
    from . import training_ops  # noqa: F401
    from . import dq_probe  # noqa: F401
