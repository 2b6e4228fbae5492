"""The SQL entry point: one ANSI SQL string, two engines.

Every query here is executed by ``spark.sql(...)`` over temp views of
the fixture tables (tables.register_views) AND — verbatim, the same
string — by the DuckDB oracle. That is the strongest parity statement
the driver harness can express: not "a Spark plan that happens to agree
with a hand-written oracle", but one shared text in the common ANSI
dialect.

The reference exposes no SQL query surface at all (its only SQL is
psql-side CRUD, SURVEY §2 S1–S5; its Spark code never calls spark.sql —
/root/reference/spark/scripts/consumer.py). This module is engine
surface added per the brief.

Dialect constraints (why these queries look the way they do):
- SUM(BIGINT) is HUGEINT in DuckDB → always CAST(SUM(..) AS BIGINT).
- AVG over DECIMAL rounds differently (Spark: decimal(p+4,s+4) then
  cast; DuckDB: double) → compute SUM(decimal)::DOUBLE / COUNT instead.
- DECIMAL output columns arrive as decimal.Decimal from Spark but
  float64 from DuckDB's fetchdf → final money columns cast to DOUBLE.
- No QUALIFY (absent in this Spark build), no TIMESTAMP output columns
  (pandas normalization differs) — project years/strings instead.
"""

from __future__ import annotations

from ..tables import register_views
from . import register

__all__ = []


def _sql_query(name: str, sql: str, tags=("sql",)):
    """Register a query whose Spark implementation IS the oracle text."""

    @register(name, oracle=sql, tags=tags)
    def run(spark, sf_dir, _sql=sql):
        register_views(spark, sf_dir)
        return spark.sql(_sql)

    run.__name__ = name
    run.__doc__ = f"Shared-text SQL query (same string runs in DuckDB):\n{sql}"
    return run


_sql_query(
    "sql_revenue_by_nation_year",
    """
SELECT n_name,
       CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,2))
                * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name, o_year
""",
    tags=("sql", "join", "agg"),
)

_sql_query(
    "sql_window_top_suppliers",
    """
SELECT s_nationkey, s_suppkey, s_name, CAST(s_acctbal AS DOUBLE) AS bal
FROM (
  SELECT s_nationkey, s_suppkey, s_name, s_acctbal,
         ROW_NUMBER() OVER (PARTITION BY s_nationkey
                            ORDER BY s_acctbal DESC, s_suppkey) AS rk
  FROM supplier
) t
WHERE rk <= 3
""",
    tags=("sql", "window", "topk"),
)

_sql_query(
    "sql_priority_mix_by_status",
    """
SELECT o_orderstatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS urgent_cnt,
       CAST(COUNT(*) AS BIGINT) AS total_cnt,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE) / COUNT(*) AS avg_price
FROM orders
GROUP BY o_orderstatus
""",
    tags=("sql", "agg"),
)

_sql_query(
    "sql_setops_nation_bands",
    """
SELECT n_nationkey, n_name FROM nation WHERE n_nationkey < 15
INTERSECT
SELECT n_nationkey, n_name FROM nation WHERE n_nationkey >= 5
""",
    tags=("sql", "setop"),
)

_sql_query(
    "sql_exists_high_value_customers",
    """
SELECT c_custkey, c_name
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
""",
    tags=("sql", "subquery"),
)

_sql_query(
    "sql_rollup_segment_counts",
    """
SELECT COALESCE(c_mktsegment, 'ALL') AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_balance
FROM customer
GROUP BY ROLLUP(c_mktsegment)
""",
    tags=("sql", "agg", "rollup"),
)

_sql_query(
    "sql_string_shaping",
    """
SELECT p_partkey,
       UPPER(SUBSTRING(p_name, 1, 5)) AS prefix,
       CAST(LENGTH(p_name) AS BIGINT) AS name_len,
       p_brand || '/' || p_type AS brand_type
FROM part
WHERE p_partkey <= 200
""",
    tags=("sql", "scalar"),
)


_sql_query(
    "sql_mom_revenue_growth",
    """
WITH monthly AS (
  SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
         CAST(EXTRACT(MONTH FROM o_orderdate) AS INTEGER) AS o_month,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE) AS revenue
  FROM orders
  GROUP BY 1, 2
)
SELECT o_year, o_month, revenue,
       LAG(revenue) OVER (ORDER BY o_year, o_month) AS prev_revenue,
       CAST(revenue - COALESCE(LAG(revenue) OVER (ORDER BY o_year, o_month), 0)
            AS DOUBLE) AS growth
FROM monthly
""",
    tags=("sql", "window", "agg"),
)


_sql_query(
    "sql_order_count_bands",
    """
WITH per_cust AS (
  SELECT o_custkey, COUNT(*) AS n_orders
  FROM orders
  GROUP BY o_custkey
)
SELECT n_orders, CAST(COUNT(*) AS BIGINT) AS n_customers
FROM per_cust
GROUP BY n_orders
HAVING COUNT(*) >= 5
""",
    tags=("sql", "agg", "having"),
)


# Round 6: WITH RECURSIVE — supported by BOTH Spark 4.1 and DuckDB, so
# the shared-text discipline extends to iterative SQL. Hierarchy:
# parent(c) = floor(c/10) over the contiguous customer key space — a
# deterministic 10-ary forest rooted at keys < 10; the recursion walks
# it top-down accumulating depth.
_sql_query(
    "sql_recursive_hierarchy",
    """
WITH RECURSIVE h AS (
  SELECT c_custkey, 0 AS depth,
         CAST(round(CAST(c_acctbal AS DECIMAL(12,2)) * 100) AS BIGINT) AS bal_cents
  FROM customer WHERE c_custkey < 10
  UNION ALL
  SELECT c.c_custkey, h.depth + 1,
         CAST(round(CAST(c.c_acctbal AS DECIMAL(12,2)) * 100) AS BIGINT)
  FROM customer c
  JOIN h ON CAST(floor(c.c_custkey / 10) AS BIGINT) = h.c_custkey
  WHERE c.c_custkey >= 10
)
SELECT depth,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(bal_cents) AS BIGINT) AS bal_cents_total,
       CAST(MIN(c_custkey) AS BIGINT) AS min_key,
       CAST(MAX(c_custkey) AS BIGINT) AS max_key
FROM h GROUP BY depth
""",
    tags=("sql", "recursive"),
)


# Recursive transitive reachability: every (root < 10)-anchored customer
# chain following parent links UP (child -> floor(child/10)) expressed
# as the reverse closure — per-root subtree rollup (the org-chart /
# bill-of-materials aggregation pattern).
_sql_query(
    "sql_recursive_subtree_rollup",
    """
WITH RECURSIVE h AS (
  SELECT c_custkey, c_custkey AS root,
         CAST(round(CAST(c_acctbal AS DECIMAL(12,2)) * 100) AS BIGINT) AS bal_cents
  FROM customer WHERE c_custkey < 10
  UNION ALL
  SELECT c.c_custkey, h.root,
         CAST(round(CAST(c.c_acctbal AS DECIMAL(12,2)) * 100) AS BIGINT)
  FROM customer c
  JOIN h ON CAST(floor(c.c_custkey / 10) AS BIGINT) = h.c_custkey
  WHERE c.c_custkey >= 10
)
SELECT root,
       CAST(COUNT(*) AS BIGINT) AS subtree_size,
       CAST(SUM(bal_cents) AS BIGINT) AS subtree_bal_cents
FROM h GROUP BY root
""",
    tags=("sql", "recursive"),
)


# Correlated LATERAL subquery with per-row ORDER BY + LIMIT — the
# ANSI "top-N per group without window functions" surface (Spark 3.2+
# lateral join; Catalyst decorrelates it into a DomainJoin + ranked
# window under the hood, so the physical plan is the same shuffle-once
# rank the window form pays — but the SQL surface is the standard one
# users port from Postgres/DuckDB). Shared text: the identical string
# runs in both engines.
_sql_query(
    "sql_lateral_topn_per_nation",
    """
SELECT n.n_name, t.o_orderkey, t.price_cents
FROM nation n, LATERAL (
  SELECT o.o_orderkey,
         CAST(round(CAST(o.o_totalprice AS DECIMAL(15,2)) * 100) AS BIGINT)
           AS price_cents
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  WHERE c.c_nationkey = n.n_nationkey
  ORDER BY price_cents DESC, o.o_orderkey LIMIT 3
) t
""",
    tags=("sql", "join", "lateral", "topk"),
)


# ANSI FILTER (WHERE ...) aggregate modifier — conditional aggregation
# without CASE expressions; one shared text in both engines.
_sql_query(
    "sql_filtered_aggregates",
    """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_final,
       CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS n_open,
       CAST(SUM(CAST(round(CAST(o_totalprice AS DECIMAL(15,2)) * 100) AS BIGINT))
            FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS final_cents,
       CAST(MIN(CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT))
            FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS first_final_day
FROM orders
GROUP BY o_orderpriority
""",
    tags=("sql", "agg", "filter"),
)


_sql_query(
    "sql_pivot_unpivot_roundtrip",
    """
WITH p AS (
  SELECT * FROM (
    SELECT o_orderpriority AS pri, o_orderstatus AS st FROM orders
  ) PIVOT (COUNT(*) FOR st IN ('O' AS n_open, 'F' AS n_final, 'P' AS n_pending))
), u AS (
  SELECT pri, status_col, CAST(n AS BIGINT) AS n
  FROM p UNPIVOT (n FOR status_col IN (n_open, n_final, n_pending))
)
SELECT pri, status_col, COALESCE(n, 0) AS n
FROM u
""",
    tags=("sql", "pivot"),
)


_sql_query(
    "sql_group_by_all",
    """
SELECT o_orderpriority, o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE) AS total
FROM orders
GROUP BY ALL
""",
    tags=("sql", "agg"),
)


# ---------------------------------------------------------------------------
# Round-7: Spark 4 SQL entry points DuckDB does not share — registered
# with equivalent-CLASSIC-SQL oracles instead of shared text (the only
# two non-shared-text entries in this module; everything above runs
# verbatim in both engines).
# ---------------------------------------------------------------------------

from pyspark.sql import SparkSession  # noqa: E402


_PIPE_ORACLE = """
SELECT o_orderpriority, CAST(n AS BIGINT) AS n, total FROM (
  SELECT o_orderpriority, COUNT(*) AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE) AS total
  FROM orders WHERE o_orderstatus = 'O'
  GROUP BY o_orderpriority
) WHERE n > 10
"""


def _register_pipe():
    @register("sql_pipe_syntax_query", oracle=_PIPE_ORACLE, tags=("sql", "pipe"))
    def sql_pipe_syntax_query(spark: SparkSession, sf_dir: str):
        """Spark 4 SQL PIPE syntax (`|>` — the linear FROM-first dialect
        from Google's 'SQL Has Problems...' VLDB'24 paper, shipped in
        Spark 4.0): scan |> filter |> aggregate |> having-style filter
        |> project, hash-compared against the equivalent classic
        GROUP-BY/HAVING SQL in DuckDB (DuckDB has no pipe dialect, so
        this pair is oracle-by-equivalence, not shared text). Catalyst
        compiles both to the same logical plan shape — the dialect is
        surface syntax, which is exactly what the oracle proves."""
        register_views(spark, sf_dir)
        return spark.sql(
            """
            FROM orders
            |> WHERE o_orderstatus = 'O'
            |> AGGREGATE COUNT(*) AS n,
                 SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS total_dec
               GROUP BY o_orderpriority
            |> WHERE n > 10
            |> SELECT o_orderpriority, n, CAST(total_dec AS DOUBLE) AS total
            """
        )


_register_pipe()


_VARS_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_small_orders,
       CAST(SUM(CASE WHEN o_orderkey < 500 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_tiny
FROM orders WHERE o_orderkey < 5000
GROUP BY o_orderpriority
"""


def _register_vars():
    @register("sql_session_variables", oracle=_VARS_ORACLE, tags=("sql", "variables"))
    def sql_session_variables(spark: SparkSession, sf_dir: str):
        """Spark 4 SQL session variables (DECLARE / SET VARIABLE — the
        parameterized-script surface): two variables drive a predicate
        and a conditional count; the oracle inlines the same constants.
        Variables are session-scoped state, so the query declares OR
        REPLACE to stay re-runnable in one session (the driver calls
        every query twice: rows, then hash)."""
        register_views(spark, sf_dir)
        spark.sql("DECLARE OR REPLACE VARIABLE key_cap BIGINT DEFAULT 5000")
        spark.sql("DECLARE OR REPLACE VARIABLE tiny_cap BIGINT DEFAULT 500")
        return spark.sql(
            """
            SELECT o_orderpriority,
                   COUNT(*) AS n_small_orders,
                   SUM(CASE WHEN o_orderkey < tiny_cap THEN 1 ELSE 0 END)
                     AS n_tiny
            FROM orders WHERE o_orderkey < key_cap
            GROUP BY o_orderpriority
            """
        )


_register_vars()


# ---------------------------------------------------------------------------
# Round-8: IDENTIFIER() templating + SELECT * EXCEPT — the dynamic-SQL
# surface a multi-table CDC consumer scripts with.
# ---------------------------------------------------------------------------

_IDENTIFIER_ORACLE = """
SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE) AS total
FROM orders GROUP BY o_orderstatus
"""


def _register_identifier():
    @register("sql_identifier_templating", oracle=_IDENTIFIER_ORACLE, tags=("sql",))
    def sql_identifier_templating(spark: SparkSession, sf_dir: str):
        """Spark 4 IDENTIFIER() clause — SQL-injection-safe templating
        of table/column names from string parameters (the surface a
        multi-topic CDC consumer uses to script per-table rollups
        instead of f-string SQL, which is both unsafe and uncacheable).
        Table name, group column, and measure column all arrive through
        IDENTIFIER(variable); the projection exercises SELECT * EXCEPT
        on top. DuckDB has neither IDENTIFIER nor Spark's EXCEPT-star,
        so the oracle is the equivalent classic SQL — the pair proves
        the templated plan resolves to exactly the static one."""
        register_views(spark, sf_dir)
        spark.sql(
            "DECLARE OR REPLACE VARIABLE tbl STRING DEFAULT 'orders'"
        )
        spark.sql(
            "DECLARE OR REPLACE VARIABLE grp STRING DEFAULT 'o_orderstatus'"
        )
        spark.sql(
            "DECLARE OR REPLACE VARIABLE msr STRING DEFAULT 'o_totalprice'"
        )
        return spark.sql(
            """
            SELECT * EXCEPT (__hide)
            FROM (
              SELECT IDENTIFIER(grp) AS o_orderstatus,
                     COUNT(*) AS n_orders,
                     CAST(SUM(CAST(IDENTIFIER(msr) AS DECIMAL(15,2)))
                          AS DOUBLE) AS total,
                     MAX(0) AS __hide
              FROM IDENTIFIER(tbl)
              GROUP BY IDENTIFIER(grp)
            )
            """
        )


_register_identifier()


# ---------------------------------------------------------------------------
# Round-8: SQL scalar UDFs (CREATE TEMPORARY FUNCTION ... RETURN expr).
# ---------------------------------------------------------------------------

_SQL_UDF_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN CAST(o_totalprice AS DECIMAL(15,2)) > 150000
                     THEN CAST(o_totalprice AS DECIMAL(15,2)) - 150000
                     ELSE 0 END) AS DOUBLE) AS total_excess,
       CAST(MAX(CASE WHEN length(o_orderstatus || o_orderpriority) > 8 THEN 8
                     ELSE length(o_orderstatus || o_orderpriority) END)
            AS BIGINT) AS max_clamped_len
FROM orders GROUP BY o_orderpriority
"""


def _register_sql_udf():
    @register("sql_scalar_udf_functions", oracle=_SQL_UDF_ORACLE, tags=("sql",))
    def sql_scalar_udf_functions(spark: SparkSession, sf_dir: str):
        """Spark SQL scalar UDFs (CREATE OR REPLACE TEMPORARY FUNCTION
        ... RETURNS t RETURN expr — the catalog-resident, pure-SQL UDF
        surface added in Spark 3.5/4.0): two functions (an excess-over-
        threshold and a length clamp) declared once and used inside a
        rollup. Because the body is a SQL expression, Catalyst INLINES
        it — the plan is identical to hand-written CASE logic (no
        BatchEvalPython, enforced by the registry-wide plan audit), so
        unlike Python UDFs this surface costs nothing at 100 TB. The
        oracle is the same rollup with the bodies inlined by hand,
        proving the inlining semantics."""
        register_views(spark, sf_dir)
        spark.sql(
            "CREATE OR REPLACE TEMPORARY FUNCTION excess_over("
            "x DECIMAL(15,2), cap DECIMAL(15,2)) RETURNS DECIMAL(15,2) "
            "RETURN CASE WHEN x > cap THEN x - cap ELSE 0 END"
        )
        spark.sql(
            "CREATE OR REPLACE TEMPORARY FUNCTION clamp_len(s STRING, cap INT) "
            "RETURNS INT RETURN CASE WHEN length(s) > cap THEN cap "
            "ELSE length(s) END"
        )
        return spark.sql(
            """
            SELECT o_orderpriority,
                   COUNT(*) AS n,
                   CAST(SUM(excess_over(CAST(o_totalprice AS DECIMAL(15,2)),
                                        CAST(150000 AS DECIMAL(15,2))))
                        AS DOUBLE) AS total_excess,
                   CAST(MAX(clamp_len(o_orderstatus || o_orderpriority, 8))
                        AS BIGINT) AS max_clamped_len
            FROM orders GROUP BY o_orderpriority
            """
        )


_register_sql_udf()


# ---------------------------------------------------------------------------
# Round-8: collation-aware comparison (Spark 4 COLLATE).
# ---------------------------------------------------------------------------

_COLLATION_ORACLE = """
WITH m AS (
  SELECT CASE WHEN p_partkey % 2 = 0 THEN upper(p_type)
              ELSE lower(p_type) END AS mixed
  FROM part
)
SELECT CAST(COUNT(DISTINCT mixed) AS BIGINT) AS n_binary_distinct,
       CAST(COUNT(DISTINCT lower(mixed)) AS BIGINT) AS n_lcase_distinct,
       COUNT(DISTINCT mixed) > COUNT(DISTINCT lower(mixed))
         AS collation_discriminates
FROM m
"""


def _register_collation():
    @register("sql_collated_distinct", oracle=_COLLATION_ORACLE, tags=("sql",))
    def sql_collated_distinct(spark: SparkSession, sf_dir: str):
        """Spark 4 COLLATION surface (CAST(x AS STRING COLLATE
        UTF8_LCASE)): case-insensitive equality as a TYPE property, so
        every comparison, join, GROUP BY, and DISTINCT downstream
        respects it without sprinkling lower() at each site (and
        Catalyst can still push/prune through it). The query derives a
        deterministically mixed-case column from p_type (fixture
        strings are uniform-case, which would make collation
        non-discriminating), counts distinct under UTF8_BINARY vs
        UTF8_LCASE, and asserts they differ. The oracle is the classic
        lower() rewrite — equality proves the collation semantics;
        DuckDB has collations but not Spark's type syntax, so this is
        oracle-by-equivalence like the pipe/IDENTIFIER entries."""
        register_views(spark, sf_dir)
        return spark.sql(
            """
            WITH m AS (
              SELECT CASE WHEN p_partkey % 2 = 0 THEN upper(p_type)
                          ELSE lower(p_type) END AS mixed
              FROM part
            )
            SELECT COUNT(DISTINCT mixed) AS n_binary_distinct,
                   COUNT(DISTINCT CAST(mixed AS STRING COLLATE UTF8_LCASE))
                     AS n_lcase_distinct,
                   COUNT(DISTINCT mixed) >
                     COUNT(DISTINCT CAST(mixed AS STRING COLLATE UTF8_LCASE))
                     AS collation_discriminates
            FROM m
            """
        )


_register_collation()


_sql_query(
    "sql_named_window_reuse",
    """
SELECT n_name,
       o_year,
       rank() OVER w AS revenue_rank,
       CAST(lead(revenue_cents) OVER w AS BIGINT) AS next_lower_cents
FROM (
  SELECT n_name,
         CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
         CAST(SUM(round(CAST(o_totalprice AS DECIMAL(15,2)) * 100))
              AS BIGINT) AS revenue_cents
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name, o_year
)
WINDOW w AS (PARTITION BY o_year ORDER BY revenue_cents DESC, n_name)
""",
    tags=("sql", "window"),
)
# ^ the WINDOW clause (named-window reuse across multiple functions —
# one sort/shuffle declared once) is the same ANSI text in BOTH
# engines; the rank and the lead provably share one window definition.
# The window orders revenue_cents DESC, so lead() — not lag() — is the
# NEXT LOWER revenue the column name promises.


@register(
    "sql_star_except_projection",
    oracle="""
SELECT * EXCLUDE (o_orderdate, o_totalprice),
       CAST(round(CAST(o_totalprice AS DECIMAL(15,2)) * 100) AS BIGINT)
         AS price_cents
FROM orders WHERE o_orderkey <= 64
""",
    tags=("sql",),
)
def sql_star_except_projection(spark, sf_dir):
    """Star-EXCEPT projection (Spark `* EXCEPT (...)` / DuckDB
    `* EXCLUDE (...)` — same relational operation, two surface
    spellings): drop the date and raw-double price from the star and
    append the exact-cents derivation — the schema-curation idiom for
    "everything but the columns being replaced". The oracle runs the
    DuckDB spelling; bounded by a key predicate that pushes into the
    scan."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
SELECT * EXCEPT (o_orderdate, o_totalprice),
       CAST(round(CAST(o_totalprice AS DECIMAL(15,2)) * 100) AS BIGINT)
         AS price_cents
FROM orders WHERE o_orderkey <= 64
"""
    )


_sql_query(
    "sql_values_inline_lookup",
    """
SELECT pr.label AS priority_band,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(round(CAST(o_totalprice AS DECIMAL(15,2)) * 100)) AS BIGINT)
         AS revenue_cents
FROM orders
JOIN (VALUES ('1-URGENT',  'expedite'),
             ('2-HIGH',    'expedite'),
             ('3-MEDIUM',  'standard'),
             ('4-NOT SPECIFIED', 'standard'),
             ('5-LOW',     'deferred')) AS pr(code, label)
  ON o_orderpriority = pr.code
GROUP BY pr.label
""",
    tags=("sql", "join", "agg"),
)
# ^ inline VALUES lookup table (the decode-table idiom — the dimension
# that lives in the query text, broadcast by construction): identical
# ANSI text in both engines.


_sql_query(
    "sql_lateral_topk_per_customer",
    """
SELECT c.c_custkey, t.o_orderkey,
       CAST(round(CAST(t.o_totalprice AS DECIMAL(15,2)) * 100) AS BIGINT)
         AS price_cents
FROM customer c, LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders
  WHERE o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 3
) t
WHERE c.c_custkey < 100
""",
    tags=("sql", "join", "topk"),
)
# ^ the HIGH-CARDINALITY twin of sql_lateral_topn_per_nation: that
# query correlates through the 25-row nation dimension (the
# decorrelated rank window partitions 25 ways); this one correlates
# DIRECTLY on the customer FK, so the partition count is |customers| —
# the per-entity top-k shape that actually stresses Spark's lateral
# decorrelation at scale. Inner-join semantics: customers with no
# orders emit no rows (pinned; exact integer cents output).


_sql_query(
    "sql_recursive_cte_reach",
    """
WITH RECURSIVE b AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
  WHERE l_orderkey < 2000
), e AS (
  SELECT a.p AS u, x.p AS v FROM b a JOIN b x ON a.o = x.o AND a.p <> x.p
  GROUP BY a.p, x.p HAVING COUNT(*) >= 2
), seed AS (
  SELECT MIN(u) AS s FROM e
), reach(node, depth) AS (
  SELECT s, 0 FROM seed
  UNION ALL
  SELECT e.v, r.depth + 1 FROM reach r JOIN e ON e.u = r.node
  WHERE r.depth < 3
)
SELECT depth, CAST(COUNT(*) AS BIGINT) AS n_paths,
       CAST(COUNT(DISTINCT node) AS BIGINT) AS n_nodes
FROM reach GROUP BY depth ORDER BY depth
""",
    tags=("sql", "graph", "recursive"),
)
# ^ WITH RECURSIVE — the iterate-in-SQL surface (Spark 4 executes the
# recursion natively; DuckDB likewise): bounded-depth walk census from
# the smallest co-order part. Identical shared ANSI text; exact counts.
# Depth capped at 3 so the path relation stays bounded by deg^3 of one
# seed node. The edge universe is PINNED to the l_orderkey < 2000
# window (covers the whole sf0.001 fixture): Spark 4 re-inlines
# non-recursive CTEs on every recursion step (measured: 4x the full
# co-order build, ~48 s at sf0.1 unbounded), so a seed-local walk must
# bound its universe with a pushdown-prunable predicate — the scan
# then costs O(window) per step at ANY corpus size.


_sql_query(
    "sql_grouping_sets_flags",
    """
SELECT COALESCE(c_mktsegment, '(all)') AS segment,
       COALESCE(n_name, '(all)') AS nation,
       CAST(GROUPING(c_mktsegment) AS INT) AS g_seg,
       CAST(GROUPING(n_name) AS INT) AS g_nat,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(round(CAST(c_acctbal AS DECIMAL(12,2)) * 100)) AS BIGINT)
         AS acctbal_cents
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY GROUPING SETS ((c_mktsegment), (n_name), ())
""",
    tags=("sql", "agg"),
)
# ^ GROUPING SETS with the GROUPING() provenance flags as verbatim
# shared text — the multi-axis rollup idiom (agg_grouping_sets stays
# the DataFrame-API twin). COALESCE labels keep the output
# NULL-free so pandas type normalization cannot diverge.
