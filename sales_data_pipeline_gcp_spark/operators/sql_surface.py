"""SQL-string entry surface — the first thing a real analytics-engine user
types is ``spark.sql("SELECT ...")`` over registered views, not a DataFrame
function (the reference itself has no SQL layer — SURVEY.md:26 — so this is
parity-plus).

Each query here is declared as ONE dialect-neutral ANSI SQL string that is
executed verbatim by BOTH engines: the Spark side registers the fixture
tables as temp views (io.register_views) and runs ``spark.sql(SQL)``; the
driver runs the SAME string as the DuckDB oracle. Zero translation layer —
if the string drifts out of the common dialect, the parity gate fails, which
is exactly the guarantee a SQL surface should carry.

Dialect-neutral subset used: explicit JOIN ... ON, CAST, DECIMAL(38,s)
exact accumulation (functions/exact.py rationale), CASE, COUNT/SUM/MIN/MAX,
GROUP BY, HAVING, ORDER BY with tiebreaks, LIMIT, TIMESTAMP literals.

The ``events`` view is EXCLUDED from the shared-dialect surface: the Spark
view normalizes ``ts`` to int64 epoch-ns while DuckDB reads the raw parquet
TIMESTAMP — the one fixture column where the two engines' natural readings
diverge (io.load docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from sales_data_pipeline_gcp_spark.io import register_views
from sales_data_pipeline_gcp_spark.operators.core import materialize
from sales_data_pipeline_gcp_spark.plans.registry import register

_SQL_REVENUE_BY_NATION = """
    SELECT n_name,
           CAST(YEAR(o_orderdate) AS INTEGER) AS o_year,
           CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,4)))
                AS STRING) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name, CAST(YEAR(o_orderdate) AS INTEGER)
    ORDER BY n_name, o_year
"""

_SQL_SEGMENT_LEADERS = """
    SELECT c_mktsegment,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS STRING) AS DOUBLE) AS segment_value,
           COUNT(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 END)
               AS urgent_orders,
           MAX(o_totalprice) AS biggest_order
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    GROUP BY c_mktsegment
    HAVING COUNT(*) > 10
    ORDER BY segment_value DESC, c_mktsegment
    LIMIT 10
"""

_SQL_DOC_SOURCE_PROFILE = """
    SELECT source,
           lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CAST(n_chars AS DECIMAL(38,0))) AS BIGINT) AS total_chars,
           MIN(doc_id) AS first_doc_id
    FROM documents
    GROUP BY source, lang
    ORDER BY source, lang
"""


_SQL_TOP_ORDERS_PER_SEGMENT = """
    SELECT c_mktsegment, o_orderkey, o_totalprice, rn
    FROM (
        SELECT c_mktsegment, o_orderkey, o_totalprice,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY c_mktsegment
                   ORDER BY o_totalprice DESC, o_orderkey
               ) AS BIGINT) AS rn
        FROM customer
        JOIN orders ON c_custkey = o_custkey
    ) ranked
    WHERE rn <= 3
    ORDER BY c_mktsegment, rn
"""


def _run_sql(
    spark: SparkSession, sf_dir: str, sql: str, tables: tuple[str, ...]
) -> DataFrame:
    # register exactly the statement's tables: each registration resolves a
    # relation (listing + footer read) inside the query path (io docstring)
    register_views(spark, sf_dir, tables)
    return spark.sql(sql)


@register(
    "q_sql_revenue_by_nation",
    oracle=_SQL_REVENUE_BY_NATION,
    doc="SQL-string surface #1: the Spark side IS spark.sql(<oracle string>) "
    "over registered temp views — the same ANSI text both engines execute. "
    "4-way join + derived year + exact-decimal revenue. Catalyst applies "
    "the identical pushdown/broadcast treatment to SQL text as to the "
    "DataFrame API (one logical plan), so the SQL surface inherits every "
    "scale property of the DataFrame queries.",
    tags=("sql",),
)
def q_sql_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_sql(spark, sf_dir, _SQL_REVENUE_BY_NATION, ("customer", "orders", "lineitem", "nation"))


@register(
    "q_sql_segment_leaders",
    oracle=_SQL_SEGMENT_LEADERS,
    doc="SQL-string surface #2 (same shared-text contract): join + "
    "conditional COUNT + HAVING + deterministic top-k via ORDER BY with "
    "tiebreak, executed verbatim by spark.sql and the oracle.",
    tags=("sql",),
)
def q_sql_segment_leaders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_sql(spark, sf_dir, _SQL_SEGMENT_LEADERS, ("customer", "orders"))


@register(
    "q_sql_top_orders_per_segment",
    oracle=_SQL_TOP_ORDERS_PER_SEGMENT,
    doc="SQL-string surface #4 (shared-text contract): window function "
    "through the SQL entry point — ROW_NUMBER over a join, partitioned "
    "top-3 per market segment with a deterministic orderkey tiebreak; "
    "the row_number width is pinned to BIGINT on both sides (DuckDB "
    "widens window counters to BIGINT, Spark stays INT without the "
    "cast).",
    tags=("sql",),
)
def q_sql_top_orders_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_sql(spark, sf_dir, _SQL_TOP_ORDERS_PER_SEGMENT, ("customer", "orders"))


@register(
    "q_sql_doc_source_profile",
    oracle=_SQL_DOC_SOURCE_PROFILE,
    doc="SQL-string surface #3 (shared-text contract) over the documents "
    "corpus table: grouped profile with exact integer accumulation pinned "
    "to BIGINT on both sides (DuckDB SUM(int) widens to HUGEINT, Spark to "
    "BIGINT — the explicit casts make the dialects agree).",
    tags=("sql",),
)
def q_sql_doc_source_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_sql(spark, sf_dir, _SQL_DOC_SOURCE_PROFILE, ("documents",))


#: Recursion depth bound: the chain covers the TRAILING this-many months.
#: Spark executes one job per recursion level (~0.4 s scheduling floor per
#: level regardless of data size), so an unbounded ~80-month chain costs
#: ~30 s of pure per-level overhead — measured, and the reason the demo
#: bounds the chain. Production note in the docstring.
CHAIN_MONTHS = 12

_SQL_CHAINED_INDEX = f"""
    WITH RECURSIVE all_monthly AS (
        SELECT CAST(YEAR(o_orderdate) * 12 + MONTH(o_orderdate) - 1 AS BIGINT) AS mon,
               CAST(SUM(CAST(o_totalprice * 100 AS DECIMAL(38,0))) AS BIGINT) AS rev_c
        FROM orders
        GROUP BY CAST(YEAR(o_orderdate) * 12 + MONTH(o_orderdate) - 1 AS BIGINT)
    ), monthly AS (
        SELECT mon, rev_c FROM all_monthly
        WHERE mon > (SELECT MAX(mon) FROM all_monthly) - {CHAIN_MONTHS}
    ), seq AS (
        SELECT mon, rev_c,
               CAST(ROW_NUMBER() OVER (ORDER BY mon) AS BIGINT) AS rn,
               LAG(rev_c) OVER (ORDER BY mon) AS prev_c
        FROM monthly
    ), grown AS (
        SELECT mon, rn,
               CASE WHEN prev_c IS NULL THEN 1.0
                    ELSE LEAST(GREATEST(CAST(rev_c AS DOUBLE)
                                        / CAST(prev_c AS DOUBLE), 0.8), 1.25)
               END AS growth
        FROM seq
    ), chain(rn, mon, growth, idx) AS (
        SELECT rn, mon, growth, CAST(100.0 AS DOUBLE)
        FROM grown WHERE rn = 1
        UNION ALL
        SELECT g.rn, g.mon, g.growth, c.idx * g.growth
        FROM chain c JOIN grown g ON g.rn = c.rn + 1
    )
    SELECT mon, rn, growth, idx AS chained_index
    FROM chain
    ORDER BY rn
"""


#: The recursion's non-recursive input, as its own statement: everything in
#: _SQL_CHAINED_INDEX up to the recursive `chain` member, selecting the
#: CHAIN_MONTHS-row growth series.
_SQL_GROWN_PREFIX = _SQL_CHAINED_INDEX.split(", chain(")[0].replace(
    "WITH RECURSIVE", "WITH", 1
) + """
    SELECT mon, rn, growth FROM grown
"""

_SQL_CHAIN_OVER_VIEW = """
    WITH RECURSIVE chain(rn, mon, growth, idx) AS (
        SELECT rn, mon, growth, CAST(100.0 AS DOUBLE)
        FROM chained_grown WHERE rn = 1
        UNION ALL
        SELECT g.rn, g.mon, g.growth, c.idx * g.growth
        FROM chain c JOIN chained_grown g ON g.rn = c.rn + 1
    )
    SELECT mon, rn, growth, idx AS chained_index
    FROM chain
    ORDER BY rn
"""


@register(
    "q_sql_chained_index",
    oracle=_SQL_CHAINED_INDEX,
    doc="Recursive-CTE SQL surface (WITH RECURSIVE, new in Spark 4): a "
    "volatility-clamped CHAINED monthly revenue index — each month's "
    "index is the previous index times the month-over-month growth "
    "clamped to [0.8, 1.25]. The clamp makes the product genuinely "
    "sequential (an unclamped chain telescopes; a clamped one cannot be "
    "rewritten as a window aggregate), so this is the canonical "
    "computation that NEEDS linear recursion (Spark recursion is UNION "
    "ALL-only — the recursion here is a single chain, one row per month, "
    "so no distinct-union dedup is needed and the recursive term joins "
    "on rn = prev rn + 1). The growth inputs are exact integer cents; "
    "the chained doubles multiply in the SAME sequential order in both "
    "engines, so the product is bit-identical. Execution note, measured: "
    "Spark re-executes the recursive CTE's non-recursive subtree at "
    "EVERY recursion level (~0.75 s/level at sf0.1 with the orders "
    "rollup inlined; ~33 s for an unbounded ~80-month chain), so the "
    "Spark side materializes the 12-row growth series once "
    "(localCheckpoint + temp view) and recurses over that — "
    "algebraically a no-op split of the SAME statement the oracle runs "
    "whole. The chain is bounded to the trailing 12 months; the "
    "long-chain production path is the log-space prefix-product "
    "rewrite, forbidden HERE only by the no-transcendental oracle rule. "
    "At 100 TB: the fact stream collapses map-side to one row per month "
    "before recursion touches anything — depth is a dimension, never "
    "data volume.",
    tags=("sql", "recursive", "timeseries"),
)
def q_sql_chained_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("orders",))
    grown = materialize(spark.sql(_SQL_GROWN_PREFIX), label="chained_grown")
    grown.createOrReplaceTempView("chained_grown")
    return spark.sql(_SQL_CHAIN_OVER_VIEW)
