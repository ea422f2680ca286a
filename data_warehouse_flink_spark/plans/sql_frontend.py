"""SQL front door: run ANSI SQL strings directly against the testdata
tables. The queries registered here use a dialect-neutral subset that both
Spark SQL and DuckDB execute VERBATIM — the Spark implementation and the
oracle are the *same string*, which is the strongest possible
dialect-compatibility proof the gate can express.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from data_warehouse_flink_spark.io import table
from data_warehouse_flink_spark.registry import register
from data_warehouse_flink_spark.schemas import TESTDATA_TABLES


def run_sql(spark: SparkSession, sf_dir: str, sql: str) -> DataFrame:
    """Register the testdata tables the SQL references as temp views and
    run it.

    Only tables whose name appears in the SQL text are registered
    (substring over-inclusion is harmless — a view nobody reads costs one
    relation build; under-inclusion cannot happen because FROM/JOIN must
    spell the table name). Every call registers them afresh, so a view
    never outlives a rewrite of its file; the registry's plan reuse
    answers repeated calls of a registered query, and `io.resolve_schema`
    keeps the footer schemas per session and path.

    The substring match is case-insensitive, as SQL table identifiers
    are: `SELECT ... FROM ORDERS` registers the `orders` view exactly
    like the lowercase spelling."""
    sql_lower = sql.lower()
    for name in TESTDATA_TABLES:
        if name in sql_lower:
            table(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(sql)


def _register_verbatim(name: str, sql: str) -> None:
    def fn(spark: SparkSession, sf_dir: str, _sql: str = sql) -> DataFrame:
        return run_sql(spark, sf_dir, _sql)

    fn.__doc__ = f"Verbatim ANSI SQL (same text runs on Spark and DuckDB):\n{sql}"
    fn.__name__ = name
    register(name, oracle=sql)(fn)


_register_verbatim(
    "sql_priority_counts",
    """
    SELECT o_orderpriority, o_orderstatus, count(*) AS n,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
             AS total
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY o_orderpriority, o_orderstatus
    """,
)

_register_verbatim(
    "sql_nation_customer_stats",
    """
    SELECT n.n_name, r.r_name, count(*) AS n_customers,
           CAST(ROUND(SUM(CAST(c.c_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE)
             AS total_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name, r.r_name
    HAVING count(*) > 10
    """,
)

_register_verbatim(
    "sql_lineitem_by_quantity_band",
    """
    SELECT CASE WHEN l_quantity < 10 THEN 'low'
                WHEN l_quantity < 30 THEN 'mid'
                ELSE 'high' END AS band,
           l_returnflag, count(*) AS n,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6))), 2)
                AS DOUBLE) AS price_sum
    FROM lineitem
    GROUP BY 1, 2
    """,
)

_register_verbatim(
    "sql_top_customer_per_nation",
    """
    WITH spend AS (
      SELECT c.c_nationkey, c.c_custkey, c.c_name,
             CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))), 2)
                  AS DOUBLE) AS total_spend
      FROM customer c
      JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2, 3
    ), ranked AS (
      SELECT n.n_name, spend.c_name, spend.total_spend,
             ROW_NUMBER() OVER (
               PARTITION BY spend.c_nationkey
               ORDER BY spend.total_spend DESC, spend.c_custkey) AS rn
      FROM spend JOIN nation n ON spend.c_nationkey = n.n_nationkey
    )
    SELECT n_name, c_name, total_spend, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= 3
    """,
)
