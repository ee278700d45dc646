"""SQL-API surface: the same engine through ``spark.sql``.

Everything else in plans/ builds DataFrames programmatically; this
module exposes the other half of the charter's "Spark SQL + DataFrame
analytics" — register the star schema as views and author queries in
SQL. Catalyst compiles both APIs to the same logical plans, so every
guarantee the plan tests pin (pushdown, broadcast dims, codegen)
holds identically; these queries exist to prove the SQL entry point
is first-class, not to duplicate coverage.

The SQL dialect here is deliberately ANSI-portable: the engine query
and the DuckDB oracle are ONE string wherever both engines accept it
(q10 below), which is the strongest possible parity statement — the
oracle isn't a translation, it's the same text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bigdata_riveranalysis_spark.plans.registry import query
from bigdata_riveranalysis_spark.sources.tables import register_views


# revenue via the exact fixed-point formulation (functions.exact):
# the expression is plain ANSI (CAST/round/sum/floor) so it stays ONE
# shared string both engines run verbatim, and the rounded sum is
# engine-identical at any scale (order-independent integer aggregate).
_Q10_SQL = """
    SELECT c.c_custkey,
           c.c_name,
           sum(CAST(round((l.l_extendedprice) * 100) AS BIGINT)
               * (100 - CAST(round((l.l_discount) * 100) AS BIGINT)))
             / CAST(10000 AS DOUBLE) AS revenue,
           n.n_name AS nation
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
"""


@query("sql_q10_returned_revenue", oracle=_Q10_SQL)
def sql_q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (revenue lost to returned items, top
    customers), authored once in ANSI SQL and executed verbatim by
    BOTH engines — the oracle string IS the engine string. Catalyst
    gives the same physical properties as the DataFrame twin
    (broadcast nation dim, pushed 'R' filter, SMJ fact⋈fact);
    deterministic top-k via the unique trailing key (watch-list #4).
    """
    register_views(spark, sf_dir, "customer", "orders", "lineitem", "nation")
    return spark.sql(_Q10_SQL)

