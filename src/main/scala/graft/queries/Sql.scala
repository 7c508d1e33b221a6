package graft.queries

import graft.{Query, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The SQL front-end as a first-class entry point: these queries are
  * expressed ENTIRELY as `spark.sql(...)` over temp views — the same
  * Catalyst plans the DataFrame API produces, reached through the
  * parser + catalog instead. Each statement is ANSI-portable enough
  * that the DuckDB oracle is near-verbatim the same text (modulo
  * dialect casts), which is itself the point: a reference user can
  * bring plain SQL to this engine unchanged.
  *
  * Money stays in integer cents through every aggregate (the engine's
  * exactness discipline — see Relational's scaladoc).
  */
object Sql extends QueryModule {

  private def withViews(s: SparkSession, d: String): SparkSession = {
    Tables.lineitem(s, d).createOrReplaceTempView("sql_lineitem")
    Tables.orders(s, d).createOrReplaceTempView("sql_orders")
    Tables.customer(s, d).createOrReplaceTempView("sql_customer")
    s
  }

  override def rows: Seq[Query] = Seq(
    // TPC-H Q6 shape: single-row filtered revenue aggregate.
    Query("q_sql_revenue", (s, d) =>
      withViews(s, d).sql("""
        SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                        * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT)
                 AS revenue_e4,
               count(1) AS n
        FROM sql_lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-01-01'
          AND l_shipdate <  TIMESTAMP '1996-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24"""),
      """
      SELECT CAST(sum(round(l_extendedprice * 100)::BIGINT
                      * round(l_discount * 100)::BIGINT) AS BIGINT) AS revenue_e4,
             count(1) AS n
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        AND l_shipdate <  TIMESTAMP '1996-01-01'
        AND l_discount BETWEEN 0.05 AND 0.07
        AND l_quantity < 24"""),

    // CTE + window function through the parser: top-3 orders per
    // market segment by order value.
    Query("q_sql_cte_window", (s, d) =>
      withViews(s, d).sql("""
        WITH ov AS (
          SELECT c.c_mktsegment AS seg, o.o_orderkey,
                 CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
          FROM sql_orders o JOIN sql_customer c ON o.o_custkey = c.c_custkey),
        ranked AS (
          SELECT seg, o_orderkey, cents,
                 row_number() OVER (PARTITION BY seg
                                    ORDER BY cents DESC, o_orderkey) AS rk
          FROM ov)
        SELECT seg, rk, o_orderkey, cents
        FROM ranked
        WHERE rk <= 3
        ORDER BY seg, rk"""),
      """
      WITH ov AS (
        SELECT c.c_mktsegment AS seg, o.o_orderkey,
               round(o.o_totalprice * 100)::BIGINT AS cents
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
      ranked AS (
        SELECT seg, o_orderkey, cents,
               row_number() OVER (PARTITION BY seg
                                  ORDER BY cents DESC, o_orderkey) AS rk
        FROM ov)
      SELECT seg, rk, o_orderkey, cents
      FROM ranked
      WHERE rk <= 3
      ORDER BY seg, rk"""),

    // NOT IN vs NOT EXISTS under NULLs — SQL's classic three-valued-
    // logic trap pinned as an engine-parity check: the probe list
    // contains an explicit NULL, so every NOT IN membership test is
    // UNKNOWN and n_not_in = 0 BY THE STANDARD, while the correlated
    // NOT EXISTS (whose equality simply never matches the NULL row)
    // keeps the anti-join rows (the probe is a SUBSET of orders so the
    // two counts genuinely diverge at every SF). An engine that planned NOT IN as a
    // plain anti-join would return n_not_in = n_not_exists and break
    // the hash.
    Query("q_sql_not_in_nulls", (s, d) =>
      withViews(s, d).sql("""
        WITH probe AS (
          SELECT o_custkey AS k FROM sql_orders WHERE o_orderkey % 3 = 0
          UNION ALL
          SELECT NULL AS k)
        SELECT
          (SELECT count(1) FROM sql_customer
           WHERE c_custkey NOT IN (SELECT k FROM probe)) AS n_not_in,
          (SELECT count(1) FROM sql_customer c
           WHERE NOT EXISTS (SELECT 1 FROM probe p
                             WHERE p.k = c.c_custkey)) AS n_not_exists,
          (SELECT count(1) FROM sql_customer) AS n_customers"""),
      // near-verbatim: the standard's three-valued logic must hold
      // identically in both engines (n_not_in = 0, n_not_exists = the
      // customers without orders)
      """
      WITH probe AS (
        SELECT o_custkey AS k FROM orders WHERE o_orderkey % 3 = 0
        UNION ALL
        SELECT NULL AS k)
      SELECT
        (SELECT count(1) FROM customer
         WHERE c_custkey NOT IN (SELECT k FROM probe)) AS n_not_in,
        (SELECT count(1) FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM probe p
                           WHERE p.k = c.c_custkey)) AS n_not_exists,
        (SELECT count(1) FROM customer) AS n_customers"""),

    // Recursive CTE (Spark 4.x) — the month spine generated by
    // recursion, left-joined to 1995 order counts (months with no
    // orders still appear). Statement text is DuckDB-verbatim.
    Query("q_sql_recursive", (s, d) =>
      withViews(s, d).sql("""
        WITH RECURSIVE m(mon) AS (
          SELECT 1 UNION ALL SELECT mon + 1 FROM m WHERE mon < 12)
        SELECT m.mon AS mon, count(o.o_orderkey) AS n_orders
        FROM m LEFT JOIN sql_orders o
          ON month(o.o_orderdate) = m.mon AND year(o.o_orderdate) = 1995
        GROUP BY m.mon
        ORDER BY mon"""),
      """
      WITH RECURSIVE m(mon) AS (
        SELECT 1 UNION ALL SELECT mon + 1 FROM m WHERE mon < 12)
      SELECT m.mon AS mon, count(o.o_orderkey) AS n_orders
      FROM m LEFT JOIN orders o
        ON month(o.o_orderdate) = m.mon AND year(o.o_orderdate) = 1995
      GROUP BY m.mon
      ORDER BY mon"""),

    // Ordered string aggregation through the parser (listagg WITHIN
    // GROUP — the ANSI form; DuckDB's string_agg mirrors it).
    Query("q_sql_string_agg", (s, d) =>
      withViews(s, d).sql("""
        SELECT l_orderkey,
               listagg(l_returnflag, ',')
                 WITHIN GROUP (ORDER BY l_returnflag, l_linenumber) AS flags,
               count(1) AS n
        FROM sql_lineitem
        WHERE l_orderkey <= 100
        GROUP BY l_orderkey
        ORDER BY l_orderkey"""),
      """
      SELECT l_orderkey,
             string_agg(l_returnflag, ','
               ORDER BY l_returnflag, l_linenumber) AS flags,
             count(1) AS n
      FROM lineitem
      WHERE l_orderkey <= 100
      GROUP BY l_orderkey
      ORDER BY l_orderkey"""),

    // Correlated LATERAL subquery with per-row ORDER BY + LIMIT: each
    // customer's single largest order — the "top-1 per key" shape as a
    // lateral join instead of a window (planned as a correlated
    // rewrite; cf. plans/TopKPerKey for the operator-level answer).
    Query("q_sql_lateral", (s, d) =>
      withViews(s, d).sql("""
        SELECT c.c_custkey, t.o_orderkey, t.cents
        FROM sql_customer c,
        LATERAL (SELECT o_orderkey,
                        CAST(round(o_totalprice * 100) AS BIGINT) AS cents
                 FROM sql_orders o
                 WHERE o.o_custkey = c.c_custkey
                 ORDER BY cents DESC, o_orderkey LIMIT 1) t
        WHERE c.c_custkey <= 200
        ORDER BY c.c_custkey"""),
      """
      SELECT c.c_custkey, t.o_orderkey, t.cents
      FROM customer c,
      LATERAL (SELECT o_orderkey,
                      round(o_totalprice * 100)::BIGINT AS cents
               FROM orders o
               WHERE o.o_custkey = c.c_custkey
               ORDER BY cents DESC, o_orderkey LIMIT 1) t
      WHERE c.c_custkey <= 200
      ORDER BY c.c_custkey"""),

    // Multi-way join + aggregate + HAVING through the parser.
    Query("q_sql_join_agg", (s, d) =>
      withViews(s, d).sql("""
        SELECT c.c_mktsegment AS seg, o.o_orderpriority AS prio,
               count(1) AS n_orders,
               CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS cents_total
        FROM sql_orders o
        JOIN sql_customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment, o.o_orderpriority
        HAVING count(1) > 5
        ORDER BY seg, prio"""),
      """
      SELECT c.c_mktsegment AS seg, o.o_orderpriority AS prio,
             count(1) AS n_orders,
             CAST(sum(round(o.o_totalprice * 100)::BIGINT) AS BIGINT)
               AS cents_total
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_mktsegment, o.o_orderpriority
      HAVING count(1) > 5
      ORDER BY seg, prio"""),

    // SQL pipe syntax (Spark 4, SPARK-49555): the same filtered
    // aggregate written as a left-to-right operator chain — FROM |>
    // WHERE |> EXTEND |> AGGREGATE ... GROUP BY |> WHERE (post-agg)
    // |> SELECT |> ORDER BY. Parses to the identical Catalyst plan the
    // ANSI form produces (the oracle IS that ANSI form), so this gates
    // the parser surface, not new semantics.
    Query("q_sql_pipe", (s, d) =>
      withViews(s, d).sql("""
        FROM sql_orders
        |> WHERE year(o_orderdate) = 1995
        |> EXTEND CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |> AGGREGATE count(1) AS n_orders, sum(cents) AS cents_total
             GROUP BY o_orderpriority
        |> WHERE n_orders > 5
        |> SELECT o_orderpriority AS prio, n_orders, cents_total
        |> ORDER BY prio"""),
      // the ANSI equivalent of the pipe chain — same plan, same values
      """
      SELECT o_orderpriority AS prio, count(1) AS n_orders,
             CAST(sum(round(o_totalprice * 100)::BIGINT) AS BIGINT)
               AS cents_total
      FROM orders
      WHERE year(o_orderdate) = 1995
      GROUP BY o_orderpriority
      HAVING count(1) > 5
      ORDER BY prio"""),

    // GROUP BY ALL / ORDER BY ALL (SPARK-42920 / SPARK-44346 family):
    // the modern analyst shorthand — grouping keys inferred from the
    // non-aggregate select list, ordering from the full select list.
    // DuckDB pioneered the syntax, so the oracle is the IDENTICAL
    // text: a pure parser-surface parity gate (the inferred plan must
    // match the explicit-keys plan on both engines).
    Query("q_sql_group_by_all", (s, d) =>
      withViews(s, d).sql("""
        SELECT o_orderpriority, year(o_orderdate) AS yr,
               count(1) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                 AS BIGINT) AS cents_total
        FROM sql_orders
        GROUP BY ALL
        ORDER BY ALL"""),
      // identical text modulo the cents cast dialect
      """
      SELECT o_orderpriority, year(o_orderdate) AS yr,
             count(1) AS n_orders,
             CAST(sum(round(o_totalprice * 100)::BIGINT) AS BIGINT)
               AS cents_total
      FROM orders
      GROUP BY ALL
      ORDER BY ALL"""),

    // Named-window (WINDOW clause) surface: one declaration shared by
    // several window functions — the parser/analyzer dedups the
    // partition spec so both functions ride ONE sort. DuckDB supports
    // the identical clause, so the oracle is near-verbatim.
    Query("q_sql_named_window", (s, d) =>
      withViews(s, d).sql("""
        SELECT yr, prio, rk, o_orderkey, cents, cents_run
        FROM (SELECT yr, prio, o_orderkey, cents,
                     row_number() OVER w AS rk,
                     sum(cents) OVER wr AS cents_run
              FROM (SELECT o_orderkey, o_orderpriority AS prio,
                           year(o_orderdate) AS yr,
                           CAST(round(o_totalprice * 100) AS BIGINT)
                             AS cents
                    FROM sql_orders)
              WINDOW w AS (PARTITION BY yr, prio
                           ORDER BY cents DESC, o_orderkey),
                     wr AS (PARTITION BY yr, prio
                            ORDER BY cents DESC, o_orderkey
                            ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW))
        WHERE rk <= 2
        ORDER BY yr, prio, rk"""),
      // identical WINDOW clause text modulo the cents cast
      """
      SELECT yr, prio, rk, o_orderkey, cents, cents_run
      FROM (SELECT yr, prio, o_orderkey, cents,
                   row_number() OVER w AS rk,
                   (sum(cents) OVER wr)::BIGINT AS cents_run
            FROM (SELECT o_orderkey, o_orderpriority AS prio,
                         year(o_orderdate) AS yr,
                         round(o_totalprice * 100)::BIGINT AS cents
                  FROM orders)
            WINDOW w AS (PARTITION BY yr, prio
                         ORDER BY cents DESC, o_orderkey),
                   wr AS (PARTITION BY yr, prio
                          ORDER BY cents DESC, o_orderkey
                          ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW))
      WHERE rk <= 2
      ORDER BY yr, prio, rk"""),

    // SQL PIVOT clause (wide-format reshaping through the parser —
    // ev_pivot covers the DataFrame API twin): two aggregates x two
    // pivot values -> four suffixed columns, names generated by the
    // engine's pivot rules. The oracle is the standard conditional-
    // aggregation rewrite (DuckDB's PIVOT dialect differs; the VALUE
    // semantics are what is pinned).
    Query("q_sql_pivot", (s, d) =>
      withViews(s, d).sql("""
        SELECT yr, urgent_c, urgent_n, low_c, low_n
        FROM (SELECT o_orderpriority AS prio, year(o_orderdate) AS yr,
                     CAST(round(o_totalprice * 100) AS BIGINT) AS cents
              FROM sql_orders)
        PIVOT (sum(cents) AS c, count(1) AS n
               FOR prio IN ('1-URGENT' AS urgent, '5-LOW' AS low))
        ORDER BY yr"""),
      // standard conditional-aggregation rewrite of the PIVOT
      """
      SELECT year(o_orderdate) AS yr,
             sum(CASE WHEN o_orderpriority = '1-URGENT'
                 THEN round(o_totalprice * 100)::BIGINT END)::BIGINT
               AS urgent_c,
             sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END)::BIGINT
               AS urgent_n,
             sum(CASE WHEN o_orderpriority = '5-LOW'
                 THEN round(o_totalprice * 100)::BIGINT END)::BIGINT
               AS low_c,
             sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END)::BIGINT
               AS low_n
      FROM orders
      GROUP BY year(o_orderdate)
      ORDER BY yr""")
  )
}
