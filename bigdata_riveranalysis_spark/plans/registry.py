"""Central query registry.

Every operator the engine claims (SURVEY.md §2) is declared exactly
once as a named :class:`Query`: a Spark plan-builder plus (where
SQL-expressible) an equivalent ANSI-SQL oracle that DuckDB runs over
the same parquet tables. ``__spark_entry__.py`` re-exports the
registry to the correctness harness. There is one tier: a query is
registered here or it is not a query. A plan function left outside
the registry is a helper or a reference that tests compare against.

Conventions that make the differential hash comparison exact:
  * every computed column is aliased identically in Spark and SQL;
  * double-valued aggregates are rounded to 4 decimals on both sides
    (summation order differs between engines — raw doubles drift in
    the last bits);
  * ranked/limited queries carry a unique trailing tie-break key;
  * timestamps grouped/bucketed for output are formatted to strings.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

SparkQueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: SparkQueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None -> rows-only check
    doc: str


#: The one query tier. The external correctness harness verifies 50
#: queries a round on a 3-round cadence, so the registry is capped at
#: 150 (SURVEY §5 #7): a new operator displaces a query whose surface
#: a registered sibling already checks.
REGISTRY: dict[str, Query] = {}


def query(name: str, oracle: str | None = None) -> Callable[[SparkQueryFn], SparkQueryFn]:
    """Decorator: register ``fn`` as engine query ``name``.

    ``oracle`` is the DuckDB-runnable SQL twin; omit only for
    genuinely non-SQL-expressible operators (the driver then records
    a weaker rows-only check).
    """

    def wrap(fn: SparkQueryFn) -> SparkQueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, doc=(fn.__doc__ or "").strip())
        return fn

    return wrap


def query_catalog() -> dict[str, SparkQueryFn]:
    return {q.name: q.fn for q in REGISTRY.values()}


def oracle_sql_catalog() -> dict[str, str]:
    return {q.name: q.oracle for q in REGISTRY.values() if q.oracle is not None}
