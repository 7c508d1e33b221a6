package graft.queries

import graft.{Query, QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operator coverage (SURVEY.md §2.2 "extended" column):
  * aggregation, joins (broadcast/semi/anti/outer), windows, rollup/cube/
  * grouping sets, distinct agg, top-k, set ops, string/date/math/json/
  * array scalar families, stats/percentiles.
  *
  * All plans are declarative DataFrame API so Catalyst does pushdown,
  * pruning, and join selection. Small dimensions (region/nation/supplier)
  * are `broadcast()`-hinted — at 100 TB those stay KB-sized while fact
  * tables shuffle; big-big joins are left to AQE (sort-merge + skew split).
  *
  * Cross-engine determinism strategy (driver hash-compares vs DuckDB):
  *  - 2-decimal money columns are converted to exact integer cents
  *    (`round(x*100)::long` — x*100 is within 1e-9 of an integer, so both
  *    engines agree) and aggregated in integer space: sums are exact,
  *    independent of accumulation order, and identical across engines;
  *    final `/100.0` divisions of identical longs give identical doubles.
  *  - Row-level float expressions are left unrounded: same input bits +
  *    same IEEE ops = same output bits in any engine.
  *  - Genuinely order-sensitive float aggregates (stddev) use
  *    `floor(x*10^s + 0.5)/10^s` spelled identically in both engines —
  *    plain IEEE arithmetic, no engine-specific tie-break mode.
  *  - Every query ends in a total ORDER BY over exact-valued columns.
  */
object Relational extends QueryModule {

  private def li(s: SparkSession, d: String) = Tables.lineitem(s, d)
  private def ord(s: SparkSession, d: String) = Tables.orders(s, d)
  private def cust(s: SparkSession, d: String) = Tables.customer(s, d)

  /** Exact integer cents of a 2-decimal money double. */
  private def cents(c: Column): Column = round(c * 100).cast("long")

  /** Exact integer percent of a 2-decimal fraction (e.g. l_discount). */
  private def pct(c: Column): Column = round(c * 100).cast("long")

  /** Tie-mode-free rounding: identical IEEE ops in Spark and DuckDB. */
  private def rnd(c: Column, scale: Int): Column = {
    val p = math.pow(10, scale)
    floor(c * p + 0.5) / p
  }

  /** Per-lineitem discounted revenue in exact 1e-4 currency units. */
  private val revUnits: Column =
    cents(col("l_extendedprice")) * (lit(100L) - pct(col("l_discount")))

  /** Engine-portable per-mille bucket of a row key in [0, 1000): the
    * first 48 bits of md5 over the '|'-joined key columns, mod 1000.
    * md5 (not xxhash64/murmur) so the DuckDB oracle reproduces the
    * exact sample; 48 bits so the value is exact in a signed long in
    * both engines.
    */
  private def sampleMille(keys: Column*): Column =
    conv(substring(md5(concat_ws("|", keys: _*).cast("binary")), 1, 12), 16, 10)
      .cast("long") % 1000

  override def rows: Seq[Query] = Seq(
    // -- TPC-H Q1-style pricing summary: scan + filter + hash agg ---------
    Query("q1_agg", (s, d) =>
      li(s, d)
        .filter(col("l_shipdate") <= to_timestamp(lit("2001-09-01")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum("l_quantity").as("sum_qty"),
          (sum(cents(col("l_extendedprice"))) / 100.0).as("sum_base_price"),
          (sum(revUnits) / 10000.0).as("sum_disc_price"),
          avg("l_quantity").as("avg_qty"),
          (sum(pct(col("l_discount"))) / 100.0 / count(lit(1))).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      """
      SELECT l_returnflag, l_linestatus,
             sum(l_quantity) AS sum_qty,
             sum(round(l_extendedprice * 100)::BIGINT) / 100.0 AS sum_base_price,
             sum(round(l_extendedprice * 100)::BIGINT
                 * (100 - round(l_discount * 100)::BIGINT)) / 10000.0 AS sum_disc_price,
             avg(l_quantity) AS avg_qty,
             sum(round(l_discount * 100)::BIGINT) / 100.0 / count(1) AS avg_disc,
             count(1) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '2001-09-01'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""),

    // -- exact 128-bit DECIMAL money pipeline ------------------------------
    //    The fixed-point type surface itself, not the integer-cents
    //    encoding: revenue and tax-inclusive charge as Spark
    //    DecimalType arithmetic, engine-exact against DuckDB's DECIMAL.
    //    Discipline for bit-exactness: (1) decimals are BUILT from the
    //    integer cents/percent casts (never a double->decimal cast,
    //    whose rounding mode is engine-specific); (2) the charge
    //    product chain is DECIMAL(14,0)x(3,0)x(3,0)x(7,6) =
    //    DECIMAL(30,6), so the sum's +10 headroom clamps at the 38-
    //    precision cap WITH SCALE 6 PRESERVED — safe because the total
    //    stays far below 1e32; had the cap forced a scale REDUCTION,
    //    Spark would silently round, so multiply by the small scale
    //    literal per-row, THEN sum, and keep product scale <= 6; (3) the
    //    final scale is pinned by an explicit CAST on both engines (the
    //    driver compares str(Decimal), so scale is part of the value).
    Query("q_decimal_exact", (s, d) =>
      li(s, d)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          expr("""CAST(sum(
                    CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                         AS DECIMAL(16, 0))
                    * CAST(100 - CAST(round(l_discount * 100) AS BIGINT)
                           AS DECIMAL(3, 0))
                    * CAST(0.0001 AS DECIMAL(5, 4)))
                  AS DECIMAL(38, 4))""").as("rev_usd"),
          expr("""CAST(sum(
                    CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                         AS DECIMAL(14, 0))
                    * CAST(100 - CAST(round(l_discount * 100) AS BIGINT)
                           AS DECIMAL(3, 0))
                    * CAST(100 + CAST(round(l_tax * 100) AS BIGINT)
                           AS DECIMAL(3, 0))
                    * CAST(0.000001 AS DECIMAL(7, 6)))
                  AS DECIMAL(38, 6))""").as("charge_usd"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus"),
      // decimals built from integer casts; per-row scale literal applied
      // BEFORE the sum (see the query's scaladoc); final scale pinned
      """
      SELECT l_returnflag, l_linestatus,
             CAST(sum(CAST(round(l_extendedprice * 100)::BIGINT
                           AS DECIMAL(16, 0))
                      * CAST(100 - round(l_discount * 100)::BIGINT
                             AS DECIMAL(3, 0))
                      * CAST(0.0001 AS DECIMAL(5, 4)))
               AS DECIMAL(38, 4)) AS rev_usd,
             CAST(sum(CAST(round(l_extendedprice * 100)::BIGINT
                           AS DECIMAL(14, 0))
                      * CAST(100 - round(l_discount * 100)::BIGINT
                             AS DECIMAL(3, 0))
                      * CAST(100 + round(l_tax * 100)::BIGINT
                             AS DECIMAL(3, 0))
                      * CAST(0.000001 AS DECIMAL(7, 6)))
               AS DECIMAL(38, 6)) AS charge_usd,
             count(1) AS n
      FROM lineitem
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""),

    // -- bitwise aggregate + scalar surface -------------------------------
    //    bit_and / bit_or / bit_xor aggregates over a derived bitmask
    //    (feature-flag summaries, permission-mask folds, xor checksums)
    //    plus the scalar &, ^, shiftleft and popcount path feeding
    //    them. Dialect note pinned by the oracle: Spark's ^ is XOR
    //    while DuckDB's ^ is POWER — the oracle uses xor() — so the
    //    value compare is what guarantees the semantics match.
    Query("q_bitwise_agg", (s, d) =>
      li(s, d)
        .select(col("l_returnflag"),
          expr("(l_partkey & 255) ^ shiftleft(l_suppkey & 15, 2)")
            .as("mx"))
        .groupBy("l_returnflag")
        .agg(expr("bit_and(mx)").as("all_and"),
          expr("bit_or(mx)").as("any_or"),
          expr("bit_xor(mx)").as("parity_xor"),
          expr("CAST(bit_count(bit_or(mx)) AS BIGINT)").as("or_popcount"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag"),
      // DuckDB's ^ is power, so XOR spells xor() here
      """
      WITH b AS (SELECT l_returnflag,
                        xor(l_partkey & 255,
                            ((l_suppkey & 15) << 2))::BIGINT AS mx
                 FROM lineitem)
      SELECT l_returnflag,
             bit_and(mx)::BIGINT AS all_and,
             bit_or(mx)::BIGINT AS any_or,
             bit_xor(mx)::BIGINT AS parity_xor,
             bit_count(bit_or(mx))::BIGINT AS or_popcount,
             count(1) AS n
      FROM b
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""),

    // -- IGNORE NULLS window navigation -----------------------------------
    //    The gap-carrying surface (last-observation-carried-forward +
    //    next-non-null lookahead) that plain lead/last can't express:
    //    sparse observations (here: R-flag line prices) propagate
    //    across null gaps within their order. Spark's `IGNORE NULLS`
    //    maps to DuckDB's argument-position form; values must agree
    //    row-for-row including the all-null leading prefix.
    Query("q_window_ignore_nulls", (s, d) => {
      // (l_orderkey, l_linenumber) is NOT unique in this data, and a
      // ROWS frame over a non-total order is engine-nondeterministic —
      // so the order gets a content-digest tiebreak (md5 over the
      // fields that decide v; byte-identical ties are interchangeable)
      val w = Window.partitionBy("l_orderkey")
        .orderBy(col("l_linenumber"), col("rk_key"))
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      li(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          md5(concat_ws("|", col("l_partkey"), col("l_suppkey"),
            cents(col("l_extendedprice")), col("l_returnflag")))
            .as("rk_key"),
          when(col("l_returnflag") === "R",
            cents(col("l_extendedprice"))).as("v"))
        .select(col("l_orderkey"), col("l_linenumber"), col("rk_key"),
          col("v"),
          last(col("v"), ignoreNulls = true).over(wRun).as("carry"),
          lead(col("v"), 1, null, ignoreNulls = true).over(w)
            .as("next_v"))
        .orderBy("l_orderkey", "l_linenumber", "rk_key")
    },
      """
      SELECT l_orderkey, l_linenumber, rk_key, v,
             last_value(v IGNORE NULLS) OVER (PARTITION BY l_orderkey
               ORDER BY l_linenumber, rk_key
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carry,
             lead(v IGNORE NULLS) OVER (PARTITION BY l_orderkey
               ORDER BY l_linenumber, rk_key) AS next_v
      FROM (SELECT l_orderkey, l_linenumber,
                   md5(concat_ws('|', l_partkey, l_suppkey,
                     round(l_extendedprice * 100)::BIGINT,
                     l_returnflag)) AS rk_key,
                   CASE WHEN l_returnflag = 'R'
                        THEN round(l_extendedprice * 100)::BIGINT END AS v
            FROM lineitem)
      ORDER BY l_orderkey, l_linenumber, rk_key"""),

    // -- filter + projection with computed column (pushdown check) --------
    Query("q2_filter", (s, d) =>
      li(s, d)
        .filter(col("l_quantity") > 45 && col("l_discount") >= 0.05 &&
          col("l_shipdate") < to_timestamp(lit("1997-01-01")))
        .select(
          col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("net_price"))
        .orderBy("l_orderkey", "l_linenumber"),
      """
      SELECT l_orderkey, l_linenumber, l_quantity,
             l_extendedprice * (1 - l_discount) AS net_price
      FROM lineitem
      WHERE l_quantity > 45 AND l_discount >= 0.05
        AND l_shipdate < TIMESTAMP '1997-01-01'
      ORDER BY l_orderkey, l_linenumber"""),

    // -- TPC-H Q3-style: 3-way join + agg + top-k -------------------------
    Query("q3_topk_join", (s, d) => {
      val c = cust(s, d).filter(col("c_mktsegment") === "BUILDING")
      val o = ord(s, d).filter(col("o_orderdate") < to_timestamp(lit("1999-01-01")))
      val l = li(s, d).filter(col("l_shipdate") > to_timestamp(lit("1998-01-01")))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey")
        .agg((sum(revUnits) / 10000.0).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },
      """
      SELECT l_orderkey,
             sum(round(l_extendedprice * 100)::BIGINT
                 * (100 - round(l_discount * 100)::BIGINT)) / 10000.0 AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1999-01-01'
        AND l_shipdate > TIMESTAMP '1998-01-01'
      GROUP BY l_orderkey
      ORDER BY revenue DESC, l_orderkey
      LIMIT 10"""),

    // -- TPC-H Q5-style: 6-way join, broadcast dims, agg by nation --------
    Query("q5_multijoin", (s, d) => {
      val r = Tables.region(s, d).filter(col("r_name") === "ASIA")
      val n = Tables.nation(s, d)
      val sup = Tables.supplier(s, d)
      val c = cust(s, d)
      val o = ord(s, d).filter(
        col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
        col("o_orderdate") < to_timestamp(lit("1999-01-01")))
      val l = li(s, d)
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(sup),
          col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg((sum(revUnits) / 10000.0).as("revenue"))
        .orderBy("n_name")
    },
      """
      SELECT n_name,
             sum(round(l_extendedprice * 100)::BIGINT
                 * (100 - round(l_discount * 100)::BIGINT)) / 10000.0 AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1999-01-01'
      GROUP BY n_name
      ORDER BY n_name"""),

    // -- salted shuffle join: the manual skew-mitigation pattern ----------
    //    When one probe-side key carries a disproportionate share of rows,
    //    a plain hash-partitioned join lands that key's entire volume on
    //    one task. Salting splits it R ways: the probe side gets a
    //    deterministic salt in [0, R), the build side is exploded xR so
    //    every (key, salt) pair still finds its build row, and the join
    //    key becomes (key, salt). Values are identical to the unsalted
    //    join (the oracle is the plain join) — only the partitioning
    //    changes. R=8 here; at scale R is derived from key-frequency
    //    stats, and AQE's skew-join handles the sort-merge case without
    //    salting (this pattern covers hash-partitioned aggs/joins AQE
    //    cannot split).
    Query("q_salted_join", (s, d) => {
      val R = 8
      val l = li(s, d).withColumn("_salt",
        pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(R)))
      val sup = Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_nationkey"),
          explode(sequence(lit(0), lit(R - 1))).as("_salt"))
        // force the shuffled path: salting is a no-op under broadcast
        // (which is what Spark would pick for a dim this small)
        .hint("shuffle_hash")
      l.join(sup,
          col("l_suppkey") === col("s_suppkey") && l("_salt") === sup("_salt"))
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_items"),
          (sum(cents(col("l_extendedprice"))) / 100.0).as("total_price"))
        .orderBy("s_nationkey")
    },
      """
      SELECT s_nationkey, count(1) AS n_items,
             sum(round(l_extendedprice * 100)::BIGINT) / 100.0 AS total_price
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY s_nationkey
      ORDER BY s_nationkey"""),

    // -- left semi join (EXISTS) ------------------------------------------
    Query("q_semi_join", (s, d) => {
      val o96 = ord(s, d).filter(
        col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
        col("o_orderdate") < to_timestamp(lit("1997-01-01")))
        .select(col("o_custkey"))
      cust(s, d)
        .join(o96, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_mktsegment"))
        .orderBy("c_custkey")
    },
      """
      SELECT c_custkey, c_mktsegment
      FROM customer
      WHERE EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01')
      ORDER BY c_custkey"""),

    // -- left anti join (NOT EXISTS) --------------------------------------
    Query("q_anti_join", (s, d) => {
      val highVal = ord(s, d).filter(col("o_totalprice") > 400000)
        .select(col("o_custkey"))
      cust(s, d)
        .join(highVal, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_acctbal"))
        .orderBy("c_custkey")
    },
      """
      SELECT c_custkey, c_acctbal
      FROM customer
      WHERE NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey AND o_totalprice > 400000)
      ORDER BY c_custkey"""),

    // -- left outer join + zero-preserving agg ----------------------------
    Query("q_outer_join", (s, d) => {
      val o = ord(s, d)
      cust(s, d)
        .join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(
          count(col("o_orderkey")).as("n_orders"),
          (coalesce(sum(cents(col("o_totalprice"))), lit(0L)) / 100.0).as("total_spend"))
        .orderBy("c_custkey")
    },
      """
      SELECT c_custkey,
             count(o_orderkey) AS n_orders,
             coalesce(sum(round(o_totalprice * 100)::BIGINT), 0) / 100.0 AS total_spend
      FROM customer
      LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey
      ORDER BY c_custkey"""),

    // -- window: ranking (top-3 orders per customer) ----------------------
    Query("q_window_rank", (s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      ord(s, d)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("o_custkey"), col("rk"), col("o_orderkey"), col("o_totalprice"))
        .orderBy("o_custkey", "rk")
    },
      """
      SELECT o_custkey, rk, o_orderkey, o_totalprice
      FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rk
        FROM orders)
      WHERE rk <= 3
      ORDER BY o_custkey, rk"""),

    // -- window: analytic frame (running total per customer) --------------
    Query("q_window_running", (s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ord(s, d)
        .select(col("o_custkey"), col("o_orderkey"),
          (sum(cents(col("o_totalprice"))).over(w) / 100.0).as("running_spend"))
        .orderBy("o_custkey", "o_orderkey")
    },
      """
      SELECT o_custkey, o_orderkey,
             sum(round(o_totalprice * 100)::BIGINT) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 100.0 AS running_spend
      FROM orders
      ORDER BY o_custkey, o_orderkey"""),

    // -- window: lag (days between consecutive orders) --------------------
    Query("q_window_lag", (s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      ord(s, d)
        .select(col("o_custkey"), col("o_orderkey"),
          datediff(col("o_orderdate"), lag("o_orderdate", 1).over(w))
            .cast("long").as("days_since_prev"))
        .orderBy("o_custkey", "o_orderkey")
    },
      """
      SELECT o_custkey, o_orderkey,
             date_diff('day',
               lag(o_orderdate, 1) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey),
               o_orderdate) AS days_since_prev
      FROM orders
      ORDER BY o_custkey, o_orderkey"""),

    // -- window: navigation functions (first/last/nth over a full frame) --
    Query("q_window_nav", (s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      ord(s, d)
        .select(col("o_custkey"), col("o_orderkey"),
          first(cents(col("o_totalprice"))).over(wFull).as("first_price_c"),
          last(cents(col("o_totalprice"))).over(wFull).as("last_price_c"),
          nth_value(cents(col("o_totalprice")), 2).over(wFull).as("second_price_c"))
        .orderBy("o_custkey", "o_orderkey")
    },
      """
      SELECT o_custkey, o_orderkey,
             first_value(round(o_totalprice * 100)::BIGINT) OVER w AS first_price_c,
             last_value(round(o_totalprice * 100)::BIGINT) OVER w AS last_price_c,
             nth_value(round(o_totalprice * 100)::BIGINT, 2) OVER w AS second_price_c
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      ORDER BY o_custkey, o_orderkey"""),

    // -- window: distribution functions (ntile / percent_rank / cume_dist)
    Query("q_window_dist", (s, d) => {
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(col("o_totalprice"), col("o_orderkey")) // unique -> deterministic
      ord(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"),
          ntile(4).over(w).cast("long").as("quartile"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"))
        .orderBy("o_orderkey")
    },
      """
      SELECT o_orderkey, o_orderstatus,
             (ntile(4) OVER w)::BIGINT AS quartile,
             percent_rank() OVER w AS pr,
             cume_dist() OVER w AS cd
      FROM orders
      WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
      ORDER BY o_orderkey"""),

    // -- rollup -----------------------------------------------------------
    Query("q_rollup", (s, d) =>
      li(s, d)
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("n"), col("qty"))
        .orderBy("returnflag", "linestatus"),
      """
      SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
             coalesce(l_linestatus, 'ALL') AS linestatus,
             count(1) AS n, sum(l_quantity) AS qty
      FROM lineitem
      GROUP BY ROLLUP (l_returnflag, l_linestatus)
      ORDER BY returnflag, linestatus"""),

    // -- cube -------------------------------------------------------------
    Query("q_cube", (s, d) =>
      ord(s, d)
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"),
          (sum(cents(col("o_totalprice"))) / 100.0 / count(lit(1))).as("avg_price"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"), col("avg_price"))
        .orderBy("status", "priority"),
      """
      SELECT coalesce(o_orderstatus, 'ALL') AS status,
             coalesce(o_orderpriority, 'ALL') AS priority,
             count(1) AS n,
             sum(round(o_totalprice * 100)::BIGINT) / 100.0 / count(1) AS avg_price
      FROM orders
      GROUP BY CUBE (o_orderstatus, o_orderpriority)
      ORDER BY status, priority"""),

    // -- grouping sets (SQL surface) --------------------------------------
    Query("q_grouping_sets", (s, d) => {
      ord(s, d).createOrReplaceTempView("graft_orders_gs")
      s.sql("""
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               count(1) AS n
        FROM graft_orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY status, priority""")
    },
      """
      SELECT coalesce(o_orderstatus, 'ALL') AS status,
             coalesce(o_orderpriority, 'ALL') AS priority,
             count(1) AS n
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      ORDER BY status, priority"""),

    // -- distinct aggregation ---------------------------------------------
    Query("q_distinct_agg", (s, d) =>
      li(s, d)
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(col("l_partkey")).as("n_part"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag"),
      """
      SELECT l_returnflag,
             count(DISTINCT l_suppkey) AS n_supp,
             count(DISTINCT l_partkey) AS n_part,
             count(1) AS n_rows
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""),

    // -- top-k (TakeOrderedAndProject) ------------------------------------
    Query("q_topk", (s, d) =>
      ord(s, d)
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10),
      """
      SELECT o_orderkey, o_totalprice
      FROM orders
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 10"""),

    // -- set ops: union / intersect / except ------------------------------
    Query("q_setops", (s, d) => {
      val c = cust(s, d)
      val build = c.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val rich = c.filter(col("c_acctbal") > 5000).select(col("c_custkey"))
      val u = build.union(rich).distinct().withColumn("op", lit("union"))
      val i = build.intersect(rich).withColumn("op", lit("intersect"))
      val e = build.except(rich).withColumn("op", lit("except"))
      u.union(i).union(e)
        .groupBy("op").agg(count(lit(1)).as("n"),
          sum("c_custkey").as("key_sum"))
        .orderBy("op")
    },
      """
      WITH build AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
           rich AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000),
           u AS (SELECT c_custkey, 'union' AS op FROM (SELECT c_custkey FROM build UNION SELECT c_custkey FROM rich)),
           i AS (SELECT c_custkey, 'intersect' AS op FROM (SELECT c_custkey FROM build INTERSECT SELECT c_custkey FROM rich)),
           e AS (SELECT c_custkey, 'except' AS op FROM (SELECT c_custkey FROM build EXCEPT SELECT c_custkey FROM rich))
      SELECT op, count(1) AS n, sum(c_custkey)::BIGINT AS key_sum
      FROM (SELECT * FROM u UNION ALL SELECT * FROM i UNION ALL SELECT * FROM e)
      GROUP BY op
      ORDER BY op"""),

    // -- scalar subquery: above-average customers (exact integer compare:
    //    cents*n > sum_cents avoids float-boundary divergence) -----------
    Query("q_scalar_subquery", (s, d) => {
      val c = cust(s, d)
      val stats = c.agg(
        sum(cents(col("c_acctbal"))).as("sum_cents"),
        count(lit(1)).as("n"))
      c.crossJoin(broadcast(stats))
        .filter(cents(col("c_acctbal")) * col("n") > col("sum_cents"))
        .select(col("c_custkey"), col("c_acctbal"))
        .orderBy("c_custkey")
    },
      """
      WITH stats AS (
        SELECT sum(round(c_acctbal * 100)::BIGINT)::BIGINT AS sum_cents,
               count(1) AS n
        FROM customer)
      SELECT c_custkey, c_acctbal
      FROM customer CROSS JOIN stats
      WHERE round(c_acctbal * 100)::BIGINT * n > sum_cents
      ORDER BY c_custkey"""),

    // -- correlated scalar subquery (decorrelated by Catalyst to a join) --
    Query("q_correlated_scalar", (s, d) => {
      cust(s, d).createOrReplaceTempView("graft_cust_cs")
      ord(s, d).createOrReplaceTempView("graft_ord_cs")
      s.sql("""
        SELECT c_custkey,
               (SELECT count(1) FROM graft_ord_cs WHERE o_custkey = c_custkey) AS n_orders,
               (SELECT coalesce(max(o_orderkey), -1) FROM graft_ord_cs
                WHERE o_custkey = c_custkey) AS last_order
        FROM graft_cust_cs
        ORDER BY c_custkey""")
    },
      """
      SELECT c_custkey,
             (SELECT count(1) FROM orders WHERE o_custkey = c_custkey) AS n_orders,
             (SELECT coalesce(max(o_orderkey), -1) FROM orders
              WHERE o_custkey = c_custkey) AS last_order
      FROM customer
      ORDER BY c_custkey"""),

    // -- window: RANGE frame (value-based, not row-based) -----------------
    // For each order: count of same-customer orders within the preceding
    // 90 days (inclusive). Day-granularity longs -> exact frame edges.
    Query("q_window_range", (s, d) => {
      val days = datediff(col("o_orderdate"), to_date(lit("1995-01-01"))).cast("long")
      val w = Window.partitionBy("o_custkey").orderBy("day_no")
        .rangeBetween(-90, 0)
      ord(s, d)
        .withColumn("day_no", days)
        .select(col("o_custkey"), col("o_orderkey"), col("day_no"),
          count(lit(1)).over(w).as("n_90d"))
        .orderBy("o_custkey", "o_orderkey")
    },
      """
      SELECT o_custkey, o_orderkey,
             date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS day_no,
             count(1) OVER (PARTITION BY o_custkey ORDER BY
               date_diff('day', TIMESTAMP '1995-01-01', o_orderdate)
               RANGE BETWEEN 90 PRECEDING AND CURRENT ROW) AS n_90d
      FROM orders
      ORDER BY o_custkey, o_orderkey"""),

    // -- multiset set ops: EXCEPT ALL / INTERSECT ALL ---------------------
    Query("q_setops_all", (s, d) => {
      val o = ord(s, d)
      val a = o.filter(col("o_totalprice") > 150000).select(col("o_custkey"))
      val b = o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      val ea = a.exceptAll(b).groupBy("o_custkey")
        .agg(count(lit(1)).as("n")).withColumn("op", lit("except_all"))
      val ia = a.intersectAll(b).groupBy("o_custkey")
        .agg(count(lit(1)).as("n")).withColumn("op", lit("intersect_all"))
      ea.union(ia).orderBy("op", "o_custkey")
    },
      """
      WITH a AS (SELECT o_custkey FROM orders WHERE o_totalprice > 150000),
           b AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'),
           ea AS (SELECT o_custkey, count(1) AS n, 'except_all' AS op
                  FROM (SELECT o_custkey FROM a EXCEPT ALL SELECT o_custkey FROM b)
                  GROUP BY o_custkey),
           ia AS (SELECT o_custkey, count(1) AS n, 'intersect_all' AS op
                  FROM (SELECT o_custkey FROM a INTERSECT ALL SELECT o_custkey FROM b)
                  GROUP BY o_custkey)
      SELECT * FROM (SELECT * FROM ea UNION ALL SELECT * FROM ia)
      ORDER BY op, o_custkey"""),

    // -- min_by / max_by (deterministic via unique encoded score) ---------
    Query("q_minmax_by", (s, d) => {
      val score = cents(col("o_totalprice")) * 100000000L +
        (lit(100000000L) - col("o_orderkey"))
      ord(s, d)
        .groupBy("o_custkey")
        .agg(
          max_by(col("o_orderkey"), score).as("best_order"),
          min_by(col("o_orderkey"), score).as("worst_order"),
          count(lit(1)).as("n"))
        .orderBy("o_custkey")
    },
      """
      WITH scored AS (
        SELECT o_custkey, o_orderkey,
               round(o_totalprice * 100)::BIGINT * 100000000
                 + (100000000 - o_orderkey) AS score
        FROM orders)
      SELECT o_custkey,
             arg_max(o_orderkey, score) AS best_order,
             arg_min(o_orderkey, score) AS worst_order,
             count(1) AS n
      FROM scored
      GROUP BY o_custkey
      ORDER BY o_custkey"""),

    // -- string function family -------------------------------------------
    Query("q_string_funcs", (s, d) =>
      Tables.part(s, d)
        .select(
          col("p_partkey"),
          upper(col("p_brand")).as("brand_upper"),
          lower(col("p_type")).as("type_lower"),
          substring(col("p_name"), 1, 8).as("name_prefix"),
          length(col("p_name")).cast("long").as("name_len"),
          concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
          regexp_replace(col("p_name"), "[aeiou]", "_").as("name_devowel"),
          trim(lpad(col("p_brand"), 12, " ")).as("brand_trim"),
          when(col("p_name").contains("red"), lit(1L)).otherwise(lit(0L)).as("has_red"))
        .orderBy("p_partkey"),
      """
      SELECT p_partkey,
             upper(p_brand) AS brand_upper,
             lower(p_type) AS type_lower,
             substring(p_name, 1, 8) AS name_prefix,
             length(p_name) AS name_len,
             concat_ws('|', p_brand, p_type) AS brand_type,
             regexp_replace(p_name, '[aeiou]', '_', 'g') AS name_devowel,
             trim(lpad(p_brand, 12, ' ')) AS brand_trim,
             (CASE WHEN p_name LIKE '%red%' THEN 1 ELSE 0 END)::BIGINT AS has_red
      FROM part
      ORDER BY p_partkey"""),

    // -- date/time function family ----------------------------------------
    Query("q_date_funcs", (s, d) =>
      ord(s, d)
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("yr"),
          month(col("o_orderdate")).cast("long").as("mo"),
          dayofmonth(col("o_orderdate")).cast("long").as("dom"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("ymd"),
          date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("month_start"))
        .orderBy("o_orderkey"),
      """
      SELECT o_orderkey,
             EXTRACT(year FROM o_orderdate) AS yr,
             EXTRACT(month FROM o_orderdate) AS mo,
             EXTRACT(day FROM o_orderdate) AS dom,
             strftime(o_orderdate, '%Y-%m-%d') AS ymd,
             strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start
      FROM orders
      ORDER BY o_orderkey"""),

    // -- date agg: orders per month ---------------------------------------
    Query("q_date_agg", (s, d) =>
      ord(s, d)
        .groupBy(date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM").as("ym"))
        .agg(count(lit(1)).as("n"),
          (sum(cents(col("o_totalprice"))) / 100.0).as("total"))
        .orderBy("ym"),
      """
      SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS ym,
             count(1) AS n,
             sum(round(o_totalprice * 100)::BIGINT) / 100.0 AS total
      FROM orders
      GROUP BY 1
      ORDER BY ym"""),

    // -- math function family ---------------------------------------------
    Query("q_math_funcs", (s, d) =>
      Tables.part(s, d)
        .select(
          col("p_partkey"),
          abs(col("p_size") - 25).cast("long").as("size_dev"),
          ceil(col("p_retailprice") / 100).cast("long").as("price_bucket"),
          floor(col("p_retailprice") / 100).cast("long").as("price_floor"),
          rnd(sqrt(col("p_retailprice")), 4).as("price_sqrt"),
          pow(col("p_size"), 2).as("size_sq"),
          // DetMath, not built-in log: the last transcendental in gated
          // arithmetic — JVM Math.log vs DuckDB libm can differ 1 ulp,
          // and a ulp near the 1e-4 rounding boundary flips the value
          rnd(graft.functions.DetMath.lnColumn(
            col("p_retailprice")), 4).as("price_ln"),
          pmod(col("p_partkey"), lit(7)).as("key_mod7"))
        .orderBy("p_partkey"),
      // price_ln via the staged DetMath mirror (not DuckDB's libm ln) so
      // both engines round the identical double — see DetMath scaladoc
      s"""
      WITH m0 AS (SELECT p_partkey, p_size, p_retailprice,
                         p_retailprice::DOUBLE AS x FROM part),
           m1 AS (SELECT *, ${graft.functions.DetMath.eSql("x")} AS e FROM m0),
           m2 AS (SELECT *, ${graft.functions.DetMath.ySql("x", "e")} AS y FROM m1),
           m3 AS (SELECT *, ${graft.functions.DetMath.zSql("y")} AS z FROM m2),
           m4 AS (SELECT *, (z * z) AS z2 FROM m3)
      SELECT p_partkey,
             abs(p_size - 25)::BIGINT AS size_dev,
             ceil(p_retailprice / 100)::BIGINT AS price_bucket,
             floor(p_retailprice / 100)::BIGINT AS price_floor,
             floor(sqrt(p_retailprice) * 10000.0 + 0.5) / 10000.0 AS price_sqrt,
             pow(p_size, 2) AS size_sq,
             floor(${graft.functions.DetMath.lnSqlFromParts("e", "z", "z2")}
                   * 10000.0 + 0.5) / 10000.0 AS price_ln,
             p_partkey % 7 AS key_mod7
      FROM m4
      ORDER BY p_partkey"""),

    // -- JSON scalar functions (events.props) -----------------------------
    Query("q_json_funcs", (s, d) =>
      Tables.events(s, d)
        .select(
          col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .orderBy("event_id"),
      """
      SELECT event_id, json_extract_string(props, '$.k')::BIGINT AS k
      FROM events
      ORDER BY event_id"""),

    // -- VARIANT (Spark 4 semi-structured type): parse_json once into
    //    the binary variant encoding, then TYPED extraction with
    //    variant_get — at 100 TB this is the difference between
    //    re-parsing a JSON string on every access and decoding a
    //    field-indexed binary; try_variant_get on an absent path
    //    yields NULL (mirrored literally). ------------------------------
    Query("q_variant_json", (s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
          expr("variant_get(parse_json(props), '$.k', 'bigint')").as("k"),
          expr("try_variant_get(parse_json(props), '$.missing', 'bigint')")
            .as("missing"))
        .orderBy("event_id"),
      """
      SELECT event_id,
             json_extract_string(props, '$.k')::BIGINT AS k,
             NULL::BIGINT AS missing
      FROM events
      ORDER BY event_id"""),

    // -- JSON + agg: distribution of extracted key by event type ----------
    Query("q_json_agg", (s, d) => {
      val k = get_json_object(col("props"), "$.k").cast("long")
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(
          (sum(k) / count(lit(1))).as("avg_k"),
          max(k).as("max_k"),
          count(lit(1)).as("n"))
        .orderBy("event_type")
    },
      """
      SELECT event_type,
             sum(json_extract_string(props, '$.k')::BIGINT) / count(1) AS avg_k,
             max(json_extract_string(props, '$.k')::BIGINT) AS max_k,
             count(1) AS n
      FROM events
      GROUP BY event_type
      ORDER BY event_type"""),

    // -- array scalar functions (embeddings.embedding) --------------------
    Query("q_array_funcs", (s, d) =>
      Tables.embeddings(s, d)
        .select(
          col("vec_id"),
          size(col("embedding")).cast("long").as("dim"),
          element_at(col("embedding"), 1).cast("double").as("first_val"),
          rnd(aggregate(col("embedding"),
            lit(0.0), (acc, x) => acc + x.cast("double")), 3).as("vec_sum"),
          rnd(aggregate(col("embedding"),
            lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")), 3).as("sq_norm"))
        .orderBy("vec_id"),
      """
      SELECT vec_id,
             len(embedding) AS dim,
             embedding[1]::DOUBLE AS first_val,
             floor(list_aggregate(list_transform(embedding, x -> x::DOUBLE), 'sum')
                   * 1000.0 + 0.5) / 1000.0 AS vec_sum,
             floor(list_aggregate(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE), 'sum')
                   * 1000.0 + 0.5) / 1000.0 AS sq_norm
      FROM embeddings
      ORDER BY vec_id"""),

    // -- custom physical operator: heap-based per-key top-k ---------------
    // Same rows as q_window_rank's top-3, but via graft.plans.TopKPerKey
    // (bounded heaps, no SortExec) — see that file for the plan ladder.
    // Score encodes the (totalprice DESC, orderkey ASC) tie-break
    // uniquely in one long.
    Query("q_topk_per_key", (s, d) => {
      val score = round(col("o_totalprice") * 100).cast("long") * 100000000L +
        (lit(100000000L) - col("o_orderkey"))
      graft.plans.TopK.perKey(ord(s, d), Seq("o_custkey"), score, 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_custkey"), col("o_totalprice").desc, col("o_orderkey"))
    },
      """
      SELECT o_custkey, o_orderkey, o_totalprice
      FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rk
        FROM orders)
      WHERE rk <= 3
      ORDER BY o_custkey, o_totalprice DESC, o_orderkey"""),

    // -- typed UDAF: exact weighted mean (Aggregator[IN,BUF,OUT]) ---------
    Query("q_udaf_wavg", (s, d) => {
      val wavg = udaf(graft.functions.Aggregators.WeightedMean)
      li(s, d)
        .groupBy("l_returnflag")
        .agg(wavg(cents(col("l_extendedprice")),
          round(col("l_quantity")).cast("long")).as("wavg_price"))
        .orderBy("l_returnflag")
    },
      """
      SELECT l_returnflag,
             (sum(round(l_extendedprice * 100)::BIGINT * round(l_quantity)::BIGINT)::DOUBLE
              / sum(round(l_quantity)::BIGINT)::DOUBLE) / 100.0 AS wavg_price
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""),

    // -- deterministic sketch: KMV distinct-count (TypedImperativeAggregate,
    //    oracle-exact unlike HLL — see functions/KmvDistinct.scala) -------
    Query("q_kmv_distinct", (s, d) =>
      li(s, d)
        .groupBy("l_returnflag")
        .agg(
          graft.functions.KmvDistinct.kmv(s,
            col("l_partkey").cast("string"), 16).as("kmv_parts"),
          countDistinct(col("l_partkey")).as("exact_parts"))
        .orderBy("l_returnflag"),
      """
      WITH h AS (
        SELECT DISTINCT l_returnflag,
               ('0x' || substr(md5(l_partkey::VARCHAR), 1, 12))::BIGINT AS h
        FROM lineitem),
      ranked AS (
        SELECT l_returnflag, h,
               row_number() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn,
               count(1) OVER (PARTITION BY l_returnflag) AS n
        FROM h)
      SELECT r.l_returnflag,
             CASE WHEN r.n < 16 THEN r.n::DOUBLE
                  ELSE 15.0 * 281474976710656.0 / kth.h::DOUBLE END AS kmv_parts,
             (SELECT count(DISTINCT l_partkey) FROM lineitem li
              WHERE li.l_returnflag = r.l_returnflag) AS exact_parts
      FROM (SELECT DISTINCT l_returnflag, n FROM ranked) r
      LEFT JOIN (SELECT l_returnflag, h FROM ranked WHERE rn = 16) kth
        ON r.l_returnflag = kth.l_returnflag
      ORDER BY r.l_returnflag"""),

    // -- KMV sketch ALGEBRA: set-operation cardinalities from synopses ----
    //    (Beyer et al. 2007). Two per-group KMV synopses (k smallest
    //    distinct md5-48 hashes of 'A'/'R' part keys) compose into
    //    union/intersection distinct-count ESTIMATES with k-element
    //    array arithmetic on a single row — no re-scan of the data.
    //    Exact counts ride along so the estimate quality is visible;
    //    the hash/rank/division arithmetic is deterministic, so the
    //    oracle reproduces the estimates bit-for-bit (approximate
    //    operator, exact gate — same contract as q_kmv_distinct).
    //    At 100 TB: each group's synopsis is k longs, built in one
    //    pass through the standard partial/merge aggregate path; the
    //    set algebra touches one row per group pair.
    Query("q_kmv_setops", (s, d) => {
      val k = 16
      val liAR = li(s, d).filter(col("l_returnflag").isin("A", "R"))
      val sk = liAR.groupBy("l_returnflag")
        .agg(graft.functions.KmvSketchAgg.sketch(s,
          col("l_partkey").cast("string"), k).as("sk"))
      val one = sk.agg(
        first(when(col("l_returnflag") === "A", col("sk")),
          ignoreNulls = true).as("ska"),
        first(when(col("l_returnflag") === "R", col("sk")),
          ignoreNulls = true).as("skr"))
      val exact = liAR.groupBy("l_partkey")
        .agg(countDistinct(col("l_returnflag")).as("nf"))
        .agg(count(lit(1)).as("union_exact"),
          sum(when(col("nf") === 2, 1L).otherwise(0L)).as("inter_exact"))
      // merged union synopsis: k smallest across both sketches
      val m = array_sort(array_union(col("ska"), col("skr")))
      val mk = slice(m, 1, k)
      val usz = size(m)
      // h_k of the union synopsis; `get` (0-based, null-on-short) keeps
      // the expression ANSI-safe even when the synopsis is under-full
      val hk = get(mk, lit(k - 1))
      val unionEst = when(usz < k, usz.cast("double"))
        .otherwise(lit((k - 1).toDouble * 281474976710656.0)
          / hk.cast("double"))
      val icnt = size(filter(mk, h =>
        array_contains(col("ska"), h) && array_contains(col("skr"), h)))
      val interEst = when(usz < k, icnt.cast("double"))
        .otherwise(icnt.cast("double") * unionEst / lit(k.toDouble))
      one.crossJoin(exact) // 1 row x 1 row
        .select(unionEst.as("union_est"), interEst.as("inter_est"),
          col("union_exact"), col("inter_exact"))
    },
      // KMV set-operation algebra mirrored rank-for-rank: per-side
      // synopses as rn<=k ranked distinct hashes, union synopsis as the
      // k smallest of their union, estimates as the same single-division
      // doubles Spark computes (constant 15*2^48 folds exactly in both
      // engines; every hash < 2^48 is double-exact)
      """
      WITH ar AS (
        SELECT DISTINCT l_returnflag AS f,
               ('0x' || substr(md5(l_partkey::VARCHAR), 1, 12))::BIGINT AS h
        FROM lineitem WHERE l_returnflag IN ('A', 'R')),
      ranked AS (
        SELECT f, h, row_number() OVER (PARTITION BY f ORDER BY h) AS rn
        FROM ar),
      ska AS (SELECT h FROM ranked WHERE f = 'A' AND rn <= 16),
      skr AS (SELECT h FROM ranked WHERE f = 'R' AND rn <= 16),
      u AS (SELECT DISTINCT h
            FROM (SELECT h FROM ska UNION ALL SELECT h FROM skr)),
      m AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM u),
      mk AS (SELECT h FROM m WHERE rn <= 16),
      stats AS (SELECT
          (SELECT count(1) FROM u) AS usz,
          (SELECT max(h) FROM mk) AS hk,
          (SELECT count(1) FROM mk
           WHERE h IN (SELECT h FROM ska) AND h IN (SELECT h FROM skr))
            AS icnt),
      ex AS (SELECT count(1)::BIGINT AS union_exact,
                    sum(CASE WHEN nf = 2 THEN 1 ELSE 0 END)::BIGINT
                      AS inter_exact
             FROM (SELECT l_partkey, count(DISTINCT l_returnflag) AS nf
                   FROM lineitem WHERE l_returnflag IN ('A', 'R')
                   GROUP BY l_partkey))
      SELECT CASE WHEN usz < 16 THEN usz::DOUBLE
                  ELSE (15.0 * 281474976710656.0) / hk::DOUBLE
             END AS union_est,
             CASE WHEN usz < 16 THEN icnt::DOUBLE
                  ELSE icnt::DOUBLE *
                       ((15.0 * 281474976710656.0) / hk::DOUBLE) / 16.0
             END AS inter_est,
             union_exact, inter_exact
      FROM stats, ex"""),

    // -- scalar comparison + regex group extraction -----------------------
    Query("q_scalar_misc", (s, d) =>
      li(s, d)
        .filter(col("l_orderkey") <= 100)
        .select(col("l_orderkey"), col("l_linenumber"),
          greatest(cents(col("l_extendedprice")), cents(col("l_quantity")) * 100)
            .as("hi_c"),
          least(cents(col("l_discount")), cents(col("l_tax"))).as("lo_c"),
          regexp_extract(col("l_shipdate").cast("string"),
            "^(\\d{4})-(\\d{2})", 1).as("ship_year"),
          regexp_extract(col("l_shipdate").cast("string"),
            "^(\\d{4})-(\\d{2})", 2).as("ship_month"))
        .orderBy("l_orderkey", "l_linenumber"),
      """
      SELECT l_orderkey, l_linenumber,
             greatest(round(l_extendedprice * 100)::BIGINT,
                      round(l_quantity * 100)::BIGINT * 100) AS hi_c,
             least(round(l_discount * 100)::BIGINT,
                   round(l_tax * 100)::BIGINT) AS lo_c,
             regexp_extract(l_shipdate::VARCHAR, '^(\d{4})-(\d{2})', 1) AS ship_year,
             regexp_extract(l_shipdate::VARCHAR, '^(\d{4})-(\d{2})', 2) AS ship_month
      FROM lineitem
      WHERE l_orderkey <= 100
      ORDER BY l_orderkey, l_linenumber"""),

    // -- URL functions (the web-crawl pipeline staple): parse_url
    //    component extraction — host, path, and a named query param —
    //    over deterministically constructed URLs; the oracle computes
    //    the expected components from the base columns (same style as
    //    the io round-trips: the parse must land back on its inputs).
    Query("q_url_funcs", (s, d) =>
      cust(s, d)
        .select(col("c_custkey"),
          concat(lit("https://ex.com/"), lower(col("c_mktsegment")),
            lit("/p?id="), col("c_custkey").cast("string"), lit("&x=1"))
            .as("url"))
        .select(col("c_custkey"),
          expr("parse_url(url, 'HOST')").as("host"),
          expr("parse_url(url, 'PATH')").as("path"),
          expr("parse_url(url, 'QUERY', 'id')").as("qid"))
        .orderBy("c_custkey"),
      """
      SELECT c_custkey,
             'ex.com' AS host,
             '/' || lower(c_mktsegment) || '/p' AS path,
             c_custkey::VARCHAR AS qid
      FROM customer
      ORDER BY c_custkey"""),

    // -- collation support (Spark 4): DISTINCT under the UTF8_LCASE
    //    collation folds case variants into one key while the default
    //    binary collation keeps them apart — collation-aware compare
    //    semantics as a COLUMN property, not an expression rewrite
    //    (the oracle mirrors the semantics with lower()). -----------------
    Query("q_collation", (s, d) => {
      val mixed = when(col("c_custkey") % 2 === 0,
        upper(col("c_mktsegment"))).otherwise(lower(col("c_mktsegment")))
      cust(s, d).select(mixed.as("seg"))
        .agg(countDistinct(col("seg")).as("n_binary"),
          countDistinct(collate(col("seg"), "UTF8_LCASE")).as("n_ci"))
    },
      """
      WITH s AS (SELECT CASE WHEN c_custkey % 2 = 0
                             THEN upper(c_mktsegment)
                             ELSE lower(c_mktsegment) END AS seg
                 FROM customer)
      SELECT count(DISTINCT seg)::BIGINT AS n_binary,
             count(DISTINCT lower(seg))::BIGINT AS n_ci
      FROM s"""),

    // -- binary encodings: base64 / hex round-trips (payload plumbing) ----
    Query("q_encode_funcs", (s, d) =>
      cust(s, d)
        .filter(col("c_custkey") <= 100)
        .select(col("c_custkey"),
          base64(col("c_name").cast("binary")).as("name_b64"),
          hex(col("c_name").cast("binary")).as("name_hex"),
          decode(unbase64(base64(col("c_name").cast("binary"))), "UTF-8")
            .as("name_roundtrip"))
        .orderBy("c_custkey"),
      """
      SELECT c_custkey,
             base64(c_name::BLOB) AS name_b64,
             hex(c_name::BLOB) AS name_hex,
             c_name AS name_roundtrip
      FROM customer
      WHERE c_custkey <= 100
      ORDER BY c_custkey"""),

    // -- scalar serde functions: Spark 4 native XML (to_xml/from_xml)
    //    and per-row CSV (to_csv/from_csv) round-tripped through their
    //    string forms back to typed fields. DuckDB has no XML parser,
    //    so the oracle is the ROUNDTRIP IDENTITY — the original
    //    columns — which is exactly the property worth pinning: a
    //    serde that drops precision, mangles encoding or reorders
    //    fields breaks the hash ------------------------------------------
    Query("q_serde_funcs", (s, d) => {
      val base = cust(s, d)
        .filter(col("c_custkey") <= 100)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
      val payload = struct(col("c_custkey"), col("c_name"),
        col("c_nationkey"))
      val sch = "c_custkey BIGINT, c_name STRING, c_nationkey BIGINT"
      base
        .withColumn("x", from_xml(to_xml(payload), lit(sch)))
        .withColumn("c", from_csv(to_csv(payload), lit(sch),
          new java.util.HashMap[String, String]()))
        .select(col("c_custkey"),
          col("x.c_name").as("xml_name"),
          col("x.c_nationkey").as("xml_nation"),
          col("c.c_name").as("csv_name"),
          col("c.c_nationkey").as("csv_nation"))
        .orderBy("c_custkey")
    },
      // serde roundtrip identity: a to_xml/from_xml or to_csv/from_csv
      // pass that drops precision, mangles encoding or reorders fields
      // diverges from the raw columns and breaks the hash
      """
      SELECT c_custkey,
             c_name AS xml_name,
             c_nationkey AS xml_nation,
             c_name AS csv_name,
             c_nationkey AS csv_nation
      FROM customer
      WHERE c_custkey <= 100
      ORDER BY c_custkey"""),

    // -- explicit null ordering: customers without orders sort under
    //    NULLS LAST / NULLS FIRST control (left-join-produced nulls) ------
    Query("q_null_order", (s, d) => {
      val spend = ord(s, d).groupBy("o_custkey")
        .agg(sum(cents(col("o_totalprice"))).as("spend_c"))
      cust(s, d)
        .join(spend, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"), col("spend_c"))
        .orderBy(col("spend_c").desc_nulls_last, col("c_custkey"))
    },
      """
      WITH spend AS (
        SELECT o_custkey, sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS spend_c
        FROM orders GROUP BY o_custkey)
      SELECT c_custkey, spend_c
      FROM customer LEFT JOIN spend ON c_custkey = o_custkey
      ORDER BY spend_c DESC NULLS LAST, c_custkey"""),

    // -- calendar functions round 2: quarter / ISO weekday / ISO week /
    //    month arithmetic / month-end (all integer-or-date exact;
    //    weekday numbering normalized to ISO Mon=1 on both engines) -------
    Query("q_date_funcs2", (s, d) =>
      ord(s, d)
        .filter(col("o_orderkey") <= 500)
        .select(col("o_orderkey"),
          to_date(col("o_orderdate")).as("od"))
        .select(col("o_orderkey"), col("od"),
          quarter(col("od")).cast("long").as("qtr"),
          (expr("weekday(od)") + 1).cast("long").as("isodow"),
          weekofyear(col("od")).cast("long").as("iso_week"),
          add_months(col("od"), 3).as("plus_3m"),
          last_day(col("od")).as("month_end"))
        .orderBy("o_orderkey"),
      """
      SELECT o_orderkey, o_orderdate::DATE AS od,
             quarter(o_orderdate::DATE)::BIGINT AS qtr,
             isodow(o_orderdate::DATE)::BIGINT AS isodow,
             weekofyear(o_orderdate::DATE)::BIGINT AS iso_week,
             (o_orderdate::DATE + INTERVAL 3 MONTH)::DATE AS plus_3m,
             last_day(o_orderdate::DATE) AS month_end
      FROM orders
      WHERE o_orderkey <= 500
      ORDER BY o_orderkey"""),

    // -- boolean / bitwise aggregates (exact integer+bool semantics) ------
    Query("q_misc_aggs", (s, d) =>
      li(s, d)
        .groupBy("l_returnflag")
        .agg(
          count_if(col("l_quantity") > 25).as("n_bulk"),
          bool_and(col("l_quantity") > 0).as("all_positive"),
          bool_or(col("l_discount") > 0.09).as("any_deep_discount"),
          bit_and(col("l_partkey")).as("pk_and"),
          bit_or(col("l_partkey")).as("pk_or"),
          bit_xor(col("l_partkey")).as("pk_xor"))
        .orderBy("l_returnflag"),
      """
      SELECT l_returnflag,
             count(CASE WHEN l_quantity > 25 THEN 1 END)::BIGINT AS n_bulk,
             bool_and(l_quantity > 0) AS all_positive,
             bool_or(l_discount > 0.09) AS any_deep_discount,
             bit_and(l_partkey)::BIGINT AS pk_and,
             bit_or(l_partkey)::BIGINT AS pk_or,
             bit_xor(l_partkey)::BIGINT AS pk_xor
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""),

    // -- try_* error-handling family: malformed input -> NULL, not
    //    failure (the semantics batch pipelines need on dirty data) -------
    Query("q_try_funcs", (s, d) =>
      li(s, d)
        .filter(col("l_orderkey") <= 200)
        .select(col("l_orderkey"), col("l_linenumber"),
          expr("try_divide(l_extendedprice, l_quantity - l_quantity)").as("div0"),
          expr("try_divide(round(l_extendedprice * 100), 7)").as("div7"),
          expr("try_cast(l_returnflag AS INT)").as("bad_int"),
          expr("try_cast(round(l_quantity) AS INT)").cast("long").as("ok_int"))
        .orderBy("l_orderkey", "l_linenumber"),
      """
      SELECT l_orderkey, l_linenumber,
             CAST(NULL AS DOUBLE) AS div0,
             round(l_extendedprice * 100) / 7 AS div7,
             TRY_CAST(l_returnflag AS INTEGER) AS bad_int,
             round(l_quantity)::BIGINT AS ok_int
      FROM lineitem
      WHERE l_orderkey <= 200
      ORDER BY l_orderkey, l_linenumber"""),

    // -- HLL distinct-count sketch (TypedImperativeAggregate; constant
    //    4 KiB mergeable buffer — see functions/HllDistinct.scala).
    //    The estimate itself is engine-specific, so the ORACLE-CHECKED
    //    output is the error-bound assertion: hll_ok = 1 iff
    //    |estimate - exact| <= 5% of exact (HLL standard error at these
    //    register counts is <1%; integer-only compare). The oracle
    //    recomputes exact_parts and emits hll_ok as the literal 1 — a
    //    hash match IS the bound holding. HllSpec gates the tighter
    //    accuracy curve.
    Query("q_hll_distinct", (s, d) =>
      li(s, d)
        .groupBy("l_returnflag")
        .agg(
          graft.functions.HllDistinct.hll(s,
            col("l_partkey").cast("string")).as("hll_parts"),
          countDistinct(col("l_partkey")).as("exact_parts"))
        .select(col("l_returnflag"), col("exact_parts"),
          when(abs(col("hll_parts") - col("exact_parts")) * 20
            <= col("exact_parts"), 1L).otherwise(0L).as("hll_ok"))
        .orderBy("l_returnflag"),
      // the ok flags are literal 1 here: Spark emits 1 only when its
      // sketch landed inside the documented error bound of its own exact
      // aggregate, so the value compare IS the bound assertion
      """
      SELECT l_returnflag,
             count(DISTINCT l_partkey) AS exact_parts,
             CAST(1 AS BIGINT) AS hll_ok
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""),

    // -- unpivot / melt: wide measure columns -> (measure, value) rows.
    //    Spark's stack() generator; values in exact integer cents --------
    Query("q_unpivot", (s, d) =>
      li(s, d)
        .filter(col("l_orderkey") <= 100)
        .select(col("l_orderkey"), col("l_linenumber"),
          expr("""stack(3,
            'quantity',  CAST(round(l_quantity * 100) AS BIGINT),
            'price',     CAST(round(l_extendedprice * 100) AS BIGINT),
            'discount',  CAST(round(l_discount * 100) AS BIGINT))
            AS (measure, v_cents)"""))
        .orderBy("l_orderkey", "l_linenumber", "measure"),
      """
      SELECT l_orderkey, l_linenumber, measure, v_cents
      FROM (
        SELECT l_orderkey, l_linenumber, 'quantity' AS measure,
               round(l_quantity * 100)::BIGINT AS v_cents
        FROM lineitem WHERE l_orderkey <= 100
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'price',
               round(l_extendedprice * 100)::BIGINT
        FROM lineitem WHERE l_orderkey <= 100
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'discount',
               round(l_discount * 100)::BIGINT
        FROM lineitem WHERE l_orderkey <= 100)
      ORDER BY l_orderkey, l_linenumber, measure"""),

    // -- approximate/sketch aggregates (engine-specific sketch values) --
    //    Same error-bound-as-output discipline as q_hll_distinct: the
    //    built-in sketches are checked against THIS engine's exact
    //    aggregates (distinct count within 5%; approx p50 between the
    //    exact p45 and p55 — the rank-error guarantee of
    //    percentile_approx at accuracy 1000 is n/1000, far inside that
    //    band), and the oracle pins the exact values + the literal 1s.
    Query("q_approx_sketch", (s, d) =>
      li(s, d)
        .groupBy("l_returnflag")
        .agg(
          approx_count_distinct(col("l_partkey")).as("approx_parts"),
          countDistinct(col("l_partkey")).as("exact_parts"),
          percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000))
            .as("approx_p50"),
          expr("percentile(l_extendedprice, 0.45)").as("p45"),
          expr("percentile(l_extendedprice, 0.55)").as("p55"))
        .select(col("l_returnflag"), col("exact_parts"),
          when(abs(col("approx_parts") - col("exact_parts")) * 20
            <= col("exact_parts"), 1L).otherwise(0L).as("cd_ok"),
          when(col("approx_p50") >= col("p45") &&
            col("approx_p50") <= col("p55"), 1L).otherwise(0L).as("p50_ok"))
        .orderBy("l_returnflag"),
      """
      SELECT l_returnflag,
             count(DISTINCT l_partkey) AS exact_parts,
             CAST(1 AS BIGINT) AS cd_ok,
             CAST(1 AS BIGINT) AS p50_ok
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""),

    // -- own Greenwald-Khanna quantile sketch (the last sketch family
    //    riding a built-in, now home-grown like HLL/KMV/MG/Bloom):
    //    eps = 0.02 median per group, gated inside the exact p45..p55
    //    band — the error-bound-flag contract of q_hll_distinct. The
    //    summary is O((1/eps) log(eps n)) tuples per group through the
    //    standard partial/merge path: constant-size state at any n.
    Query("q_gk_quantile", (s, d) =>
      li(s, d)
        .groupBy("l_returnflag")
        .agg(
          graft.functions.GkQuantile.gk(s,
            col("l_extendedprice"), 0.02, 0.5).as("gk_p50"),
          count(lit(1)).as("n_rows"),
          expr("percentile(l_extendedprice, 0.45)").as("p45"),
          expr("percentile(l_extendedprice, 0.55)").as("p55"))
        .select(col("l_returnflag"), col("n_rows"),
          when(col("gk_p50") >= col("p45") &&
            col("gk_p50") <= col("p55"), 1L).otherwise(0L).as("gk_ok"))
        .orderBy("l_returnflag"),
      // the gk_ok flag is literal 1: Spark emits 1 only when its own GK
      // sketch's median landed inside the exact p45..p55 band (eps=0.02
      // against a 0.05 band), so the value compare IS the bound assertion
      """
      SELECT l_returnflag,
             count(1)::BIGINT AS n_rows,
             CAST(1 AS BIGINT) AS gk_ok
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""),

    // -- own Count-Min Sketch: point-frequency estimates from a d x w
    //    counter matrix (Cormode & Muthukrishnan 2005 — see
    //    functions/CountMinSketch.scala). The md5-half double-hash
    //    bucket arithmetic is deterministic, so the oracle reproduces
    //    every ESTIMATE bit-for-bit from its own bucket sums
    //    (approximate operator, exact gate — the KMV contract), and
    //    CMS's one-sided guarantee (estimate never under-counts) rides
    //    along as an oracle-pinned literal-1 flag. Keys collapse to
    //    exact per-key counts FIRST (the same distinct-before-hash
    //    discipline as MinHash), then the weighted stream folds into
    //    one 8-KiB row through the standard partial/merge path — at
    //    100 TB the sketch build is one pass and the probe side is d
    //    codegen'd array lookups per key.
    Query("q_cms_freq", (s, d) => {
      val W = 256; val D = 4
      val keyStr = col("l_partkey").cast("string")
      val cnts = li(s, d)
        .select(keyStr.as("part_key"),
          conv(substring(md5(keyStr.cast("binary")), 1, 12), 16, 10)
            .cast("long").as("h1"),
          conv(substring(md5(keyStr.cast("binary")), 13, 12), 16, 10)
            .cast("long").as("h2"))
        .groupBy("part_key", "h1", "h2")
        .agg(count(lit(1)).as("exact_cnt"))
      val sk = cnts.agg(graft.functions.CountMinAgg.cms(s,
        col("h1"), col("h2"), col("exact_cnt"), W, D).as("sk"))
      cnts.orderBy(col("exact_cnt").desc, col("part_key")).limit(20)
        .crossJoin(broadcast(sk)) // 20 rows x 1 sketch row
        .select(col("part_key"), col("exact_cnt"),
          graft.functions.CountMinAgg.estimate(col("sk"),
            col("h1"), col("h2"), W, D).as("cms_est"),
          when(graft.functions.CountMinAgg.estimate(col("sk"),
            col("h1"), col("h2"), W, D) >= col("exact_cnt"), 1L)
            .otherwise(0L).as("over_ok"))
        .orderBy(col("exact_cnt").desc, col("part_key"))
    },
      // CMS mirrored bucket-for-bucket: exact per-key counts, the same
      // (h1 + i*h2) mod w bucket arithmetic (md5 48-bit halves are
      // non-negative, so DuckDB's % is Spark's pmod), per-(depth,bucket)
      // sums = the sketch counters, min over depths = the estimate. The
      // over_ok literal 1 is CMS's one-sided bound: the value compare IS
      // the never-under-counts assertion.
      """
      WITH cnts AS (
        SELECT l_partkey::VARCHAR AS part_key,
               ('0x' || substr(md5(l_partkey::VARCHAR), 1, 12))::BIGINT AS h1,
               ('0x' || substr(md5(l_partkey::VARCHAR), 13, 12))::BIGINT AS h2,
               count(1)::BIGINT AS exact_cnt
        FROM lineitem GROUP BY 1, 2, 3),
      depths AS (SELECT * FROM (VALUES (0), (1), (2), (3)) t(i)),
      buckets AS (
        SELECT i, (h1 + i * h2) % 256 AS b, sum(exact_cnt)::BIGINT AS tot
        FROM cnts, depths GROUP BY 1, 2),
      top AS (SELECT * FROM cnts ORDER BY exact_cnt DESC, part_key LIMIT 20)
      SELECT t.part_key, t.exact_cnt,
             (SELECT min(bu.tot) FROM depths dp
              JOIN buckets bu ON bu.i = dp.i
                AND bu.b = (t.h1 + dp.i * t.h2) % 256) AS cms_est,
             CAST(1 AS BIGINT) AS over_ok
      FROM top t
      ORDER BY t.exact_cnt DESC, t.part_key"""),

    // -- sampling (training-data pipelines). Hash-mod sampling on the
    //    row key instead of engine RNG: md5(key) per-mille under a
    //    threshold. Deterministic in ANY engine (the DuckDB oracle
    //    recomputes it bit-for-bit), stable under retries and
    //    re-partitioning — the property a reproducible training-data
    //    pipeline needs that RNG TABLESAMPLE cannot give — and still
    //    uniform per key. ---------------------------------------------------
    Query("q_sample", (s, d) =>
      li(s, d)
        .filter(sampleMille(col("l_orderkey"), col("l_linenumber")) < 100) // 10%
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_sampled"))
        .orderBy("l_returnflag"),
      s"""
      SELECT l_returnflag, count(1) AS n_sampled
      FROM lineitem
      WHERE $sampleMilleSql < 100
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""),

    // per-stratum rates: N at 20%, A/R at 5%
    Query("q_sample_stratified", (s, d) =>
      li(s, d)
        .filter(sampleMille(col("l_orderkey"), col("l_linenumber")) <
          when(col("l_returnflag") === "N", 200).otherwise(50))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_sampled"))
        .orderBy("l_returnflag"),
      s"""
      SELECT l_returnflag, count(1) AS n_sampled
      FROM lineitem
      WHERE $sampleMilleSql < CASE WHEN l_returnflag = 'N' THEN 200 ELSE 50 END
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""),

    // -- regression / correlation aggregates ------------------------------
    //    (built-in corr/covar/regr_*; the 3-decimal tie-mode-free
    //    rounding absorbs the last-ulp differences of each engine's
    //    co-moment summation order)
    Query("q_regr_stats", (s, d) =>
      li(s, d)
        .groupBy("l_returnflag")
        .agg(
          rnd(corr(col("l_quantity"), col("l_extendedprice")), 3).as("r_qty_price"),
          rnd(covar_samp(col("l_quantity"), col("l_discount")), 3).as("cov_qty_disc"),
          rnd(expr("regr_slope(l_extendedprice, l_quantity)"), 3).as("slope"),
          rnd(expr("regr_intercept(l_extendedprice, l_quantity)"), 3).as("icept"),
          expr("regr_count(l_extendedprice, l_quantity)").as("n"))
        .orderBy("l_returnflag"),
      """
      SELECT l_returnflag,
             floor(corr(l_quantity, l_extendedprice) * 1000 + 0.5) / 1000
               AS r_qty_price,
             floor(covar_samp(l_quantity, l_discount) * 1000 + 0.5) / 1000
               AS cov_qty_disc,
             floor(regr_slope(l_extendedprice, l_quantity) * 1000 + 0.5) / 1000
               AS slope,
             floor(regr_intercept(l_extendedprice, l_quantity) * 1000 + 0.5) / 1000
               AS icept,
             regr_count(l_extendedprice, l_quantity) AS n
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""),

    // -- equi-width histogram via width_bucket: the one-pass value-
    //    distribution profile (integer cents domain, fixed [0, 120k)
    //    range, 12 buckets — fully deterministic bucket edges) ------------
    Query("q_histogram", (s, d) =>
      Tables.orders(s, d)
        .select(expr(
          "width_bucket(CAST(round(o_totalprice * 100) AS BIGINT), 0, 12000000, 12)")
          .as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"))
        .orderBy("bucket"),
      // DuckDB has no width_bucket; the arithmetic is mirrored (values
      // here are non-negative cents, buckets land in [1, 13])
      """
      SELECT CASE WHEN c >= 12000000 THEN 13
                  ELSE 1 + (c * 12) // 12000000 END AS bucket,
             count(1) AS n
      FROM (SELECT round(o_totalprice * 100)::BIGINT AS c FROM orders)
      GROUP BY bucket
      ORDER BY bucket"""),

    // -- statistical aggregates + exact median ----------------------------
    Query("q_stats_agg", (s, d) =>
      li(s, d)
        .groupBy("l_returnflag")
        .agg(
          min("l_extendedprice").as("min_price"),
          max("l_extendedprice").as("max_price"),
          (sum(cents(col("l_extendedprice"))) / 100.0 / count(lit(1))).as("avg_price"),
          rnd(stddev_samp(col("l_extendedprice")), 2).as("sd_price"),
          expr("percentile(l_quantity, 0.5)").as("p50_qty"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag"),
      """
      SELECT l_returnflag,
             min(l_extendedprice) AS min_price,
             max(l_extendedprice) AS max_price,
             sum(round(l_extendedprice * 100)::BIGINT) / 100.0 / count(1) AS avg_price,
             floor(stddev_samp(l_extendedprice) * 100.0 + 0.5) / 100.0 AS sd_price,
             quantile_cont(l_quantity, 0.5) AS p50_qty,
             count(1) AS n
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""),

    // -- exact order-statistics quartiles without percentile(): --------
    //    row_number-vs-count selection picks the middle element(s)
    //    directly, so the values are exact integers in BOTH engines (no
    //    interpolation-kernel agreement needed — the reason q_stats_agg's
    //    p50 works there is l_quantity's integral values; this shape
    //    stays exact for ANY distribution). Ties need no deterministic
    //    break: every row at a selected rank carries an equal value.
    //    One partitioned window + one agg; at 100 TB the same selection
    //    rides the two-pass sharded prefix-sum if a single group ever
    //    dominates a partition.
    // -- SCD type-2 dimension build: each customer's order-priority
    //    HISTORY as effective-dated versions — change rows detected with
    //    one lag() pass, validity ranges closed with lead() over the
    //    surviving version starts, open current version = NULL valid_to.
    //    The warehouse pattern for dimension tables under late-arriving
    //    rewrites. Two key-partitioned windows, no self-join; version
    //    numbers deterministic via the (date, orderkey) total order ----
    Query("q_scd2", (s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      ord(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          col("o_orderpriority"))
        .withColumn("prev", lag("o_orderpriority", 1).over(w))
        .filter(col("prev").isNull || col("prev") =!= col("o_orderpriority"))
        .withColumn("version", row_number().over(w).cast("long"))
        .withColumn("valid_to", lead("o_orderdate", 1).over(w))
        .select(col("o_custkey"), col("version"), col("o_orderpriority"),
          col("o_orderdate").as("valid_from"), col("valid_to"))
        .orderBy("o_custkey", "version")
    },
      """
      WITH s AS (
        SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
               lag(o_orderpriority) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey) AS prev
        FROM orders),
      st AS (SELECT * FROM s WHERE prev IS NULL OR prev <> o_orderpriority)
      SELECT o_custkey,
             CAST(row_number() OVER w AS BIGINT) AS version,
             o_orderpriority,
             o_orderdate AS valid_from,
             lead(o_orderdate) OVER w AS valid_to
      FROM st
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      ORDER BY o_custkey, version"""),

    Query("q_median_exact", (s, d) => {
      // Histogram selection, not a row sort: the (group, value) COUNT
      // aggregate is map-side combined, so only distinct-value counts
      // shuffle and the rank walk runs over the tiny histogram (|domain|
      // rows/group) — at 100 TB the rows themselves never sort and never
      // move. Rank r's value = the histogram bucket whose cumulative
      // range [lo, hi] covers r; identical values to the row_number
      // formulation (which sorted 600k rows in 3 group-partitions — the
      // old 2.1 s headline-worst, now ~4x off the plan).
      val hist = li(s, d)
        .select(col("l_returnflag"), col("l_quantity").cast("long").as("q"))
        .groupBy("l_returnflag", "q").agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("l_returnflag").orderBy("q")
      val wAll = Window.partitionBy("l_returnflag")
      def sel(rank: String) =
        min(when(expr(s"$rank BETWEEN lo AND hi"), col("q")))
      hist
        .withColumn("hi", sum("c").over(w))
        .withColumn("lo", col("hi") - col("c") + 1)
        .withColumn("n", sum("c").over(wAll))
        .groupBy("l_returnflag")
        .agg(
          max("n").as("n_rows"),
          sel("(n + 3) DIV 4").as("p25_qty"),
          ((sel("(n + 1) DIV 2") + sel("(n + 2) DIV 2")) / 2.0)
            .as("median_qty"),
          sel("(3 * n + 3) DIV 4").as("p75_qty"))
        .orderBy("l_returnflag")
    },
      """
      WITH r AS (
        SELECT l_returnflag, l_quantity::BIGINT AS q,
               row_number() OVER (PARTITION BY l_returnflag
                                  ORDER BY l_quantity) AS rn,
               count(1) OVER (PARTITION BY l_returnflag) AS n
        FROM lineitem)
      SELECT l_returnflag,
             max(n) AS n_rows,
             min(CASE WHEN rn = (n + 3) // 4 THEN q END) AS p25_qty,
             (min(CASE WHEN rn = (n + 1) // 2 THEN q END)
              + min(CASE WHEN rn = (n + 2) // 2 THEN q END)) / 2.0
               AS median_qty,
             min(CASE WHEN rn = (3 * n + 3) // 4 THEN q END) AS p75_qty
      FROM r
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""),

    // -- frequent-itemset pairs (market-basket / a-priori first pass) -----
    Query("q_copurchase_pairs", (s, d) => {
      // Co-purchase mining over orders-as-baskets: parts that appear
      // together in >= 2 orders, scored by support and lift. The pair
      // fan-out of a basket of k items is O(k^2), so baskets larger than
      // BASKET_CAP are excluded up front (the classical a-priori guard —
      // a pathological 10k-item basket would otherwise emit 5e7 pairs);
      // the cap is mirrored verbatim in the oracle. The filtered item
      // frame feeds FIVE consumers (both self-join sides, both margin
      // attaches, the basket count), so it is materialized ONCE via the
      // repo's contract-then-solve checkpoint pattern (serialized,
      // spills to disk) — without it Catalyst re-derives the scan +
      // distinct + size filter per consumer: 8 fact scans where one
      // suffices, the difference between a plan that survives 100 TB
      // and one that re-reads the corpus per reference. The self-join
      // is co-partitioned on l_orderkey, the pair agg is map-side
      // combined, and the corpus size attaches as a broadcast 1-row
      // agg — no driver-side count. Lift is computed in integer
      // per-mille (BIGINT div) so both engines agree bit-for-bit.
      val items = li(s, d).select("l_orderkey", "l_partkey").distinct()
      val sized = items.groupBy("l_orderkey")
        .agg(count(lit(1)).as("bk"))
        .filter(col("bk") <= BASKET_CAP)
        .select("l_orderkey")
      val it = items.join(sized, "l_orderkey")
        .localCheckpoint(true,
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      val nb = it.agg(countDistinct("l_orderkey").as("n_baskets"))
      val marg = it.groupBy("l_partkey").agg(count(lit(1)).as("cm"))
      it.as("x").join(it.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
          col("x.l_partkey") < col("y.l_partkey"))
        .groupBy(col("x.l_partkey").as("pa"), col("y.l_partkey").as("pb"))
        .agg(count(lit(1)).as("support"))
        .filter(col("support") >= 2)
        .join(marg.select(col("l_partkey").as("pa"), col("cm").as("ca")), "pa")
        .join(marg.select(col("l_partkey").as("pb"), col("cm").as("cb")), "pb")
        .crossJoin(broadcast(nb))
        .select(col("pa"), col("pb"), col("support"),
          expr("(1000 * n_baskets * support) div (ca * cb)").as("lift_milli"))
        .orderBy(col("support").desc, col("lift_milli").desc,
          col("pa"), col("pb"))
        .limit(200)
    },
      s"""
      WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
           sized AS (SELECT l_orderkey FROM items
                     GROUP BY l_orderkey HAVING count(1) <= $BASKET_CAP),
           it AS (SELECT i.l_orderkey, i.l_partkey
                  FROM items i JOIN sized s ON s.l_orderkey = i.l_orderkey),
           nb AS (SELECT count(DISTINCT l_orderkey) AS n_baskets FROM it),
           marg AS (SELECT l_partkey, count(1) AS cm FROM it GROUP BY 1),
           pr AS (SELECT x.l_partkey AS pa, y.l_partkey AS pb,
                         count(1) AS support
                  FROM it x JOIN it y
                    ON x.l_orderkey = y.l_orderkey
                   AND x.l_partkey < y.l_partkey
                  GROUP BY 1, 2 HAVING count(1) >= 2)
      SELECT pr.pa, pr.pb, pr.support,
             (1000 * nb.n_baskets * pr.support) // (ma.cm * mb.cm)
               AS lift_milli
      FROM pr
      JOIN marg ma ON ma.l_partkey = pr.pa
      JOIN marg mb ON mb.l_partkey = pr.pb
      CROSS JOIN nb
      ORDER BY support DESC, lift_milli DESC, pa, pb
      LIMIT 200"""),

    // -- pareto frontier (skyline): parts not dominated on (cheapest
    //    observed price ASC, total shipped quantity DESC). Dominance:
    //    a beats b iff price_a <= price_b AND qty_a >= qty_b with one
    //    strict. Shape: the heavy fact scan collapses to a per-part
    //    aggregate FIRST (distributed hash agg over |parts| — the
    //    dimension-bounded set), then the CLASSICAL DISTRIBUTED
    //    SKYLINE (grid-cell decomposition) finds the frontier with no
    //    global sort of the per-part frame (r14 verdict #5: the part
    //    dimension itself is 100x at 100x):
    //      1. cell = deterministic min/max range bucket of price_c
    //         (monotone: every price in cell j < every price in cell
    //         k > j, so "strictly cheaper" splits exactly into
    //         earlier-cells + within-cell);
    //      2. within-cell best-cheaper via a cell-PARTITIONED
    //         RANGE-window (integer cents, .. 1 PRECEDING = price <
    //         mine), tie-group max via a price-partitioned window;
    //      3. cross-cell maxima ride the SKY_CELLS-row per-cell
    //         aggregate (the only unpartitioned window input — bounded
    //         by the constant grid, never by data), broadcast back;
    //      4. rows with qty <= any cheaper cell's max are PRUNED
    //         before the frontier windows (cells whose entire range is
    //         dominated contribute zero window input). Correct because
    //         a pruned row can neither be a frontier point (dominated
    //         by definition) nor raise a survivor's best-cheaper/
    //         tie-group max (its qty <= prev_best, which IS folded
    //         in). Values identical to the one-window form — the
    //         oracle keeps the global-window SQL. ----------------------
    // -- grouping_id()/grouping() over CUBE: the level indicator that
    //    lets one cube result serve per-level consumers (which rows
    //    are subtotals vs grand totals) — bitmask semantics identical
    //    in Spark and DuckDB (last grouping column = LSB), so the gid
    //    itself is part of the value compare --------------------------
    Query("q_grouping_id", (s, d) =>
      li(s, d)
        .cube("l_returnflag", "l_linestatus")
        .agg(grouping_id().cast("long").as("gid"),
          grouping(col("l_returnflag")).cast("long").as("g_rf"),
          count(lit(1)).as("n"),
          sum(round(col("l_quantity")).cast("long")).as("sum_qty"))
        .select(col("l_returnflag"), col("l_linestatus"), col("gid"),
          col("g_rf"), col("n"), col("sum_qty"))
        .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first),
      // GROUPING(a, b) bitmask: last column = LSB on both engines
      """
      SELECT l_returnflag, l_linestatus,
             GROUPING(l_returnflag, l_linestatus)::BIGINT AS gid,
             GROUPING(l_returnflag)::BIGINT AS g_rf,
             count(1) AS n,
             sum(round(l_quantity)::BIGINT)::BIGINT AS sum_qty
      FROM lineitem
      GROUP BY CUBE (l_returnflag, l_linestatus)
      ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""),

    Query("q_skyline", (s, d) =>
      gridSkyline(li(s, d).groupBy("l_partkey")
        .agg(min(cents(col("l_extendedprice"))).as("price_c"),
          sum("l_quantity").cast("long").as("qty"))),
      """
      WITH per AS (
        SELECT l_partkey,
               min(round(l_extendedprice * 100)::BIGINT) AS price_c,
               sum(l_quantity)::BIGINT AS qty
        FROM lineitem
        GROUP BY l_partkey),
      w AS (
        SELECT l_partkey, price_c, qty,
               max(qty) OVER (ORDER BY price_c RANGE BETWEEN
                 UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_cheaper,
               max(qty) OVER (PARTITION BY price_c) AS best_same
        FROM per)
      SELECT l_partkey, price_c, qty
      FROM w
      WHERE (best_cheaper IS NULL OR best_cheaper < qty)
        AND qty = best_same
      ORDER BY price_c, l_partkey""")
  )

  /** Grid cells for q_skyline's distributed frontier — a CONSTANT, so
    * the one unpartitioned window in the plan runs over exactly this
    * many per-cell aggregate rows at any corpus size.
    */
  private val SKY_CELLS = 32

  /** The grid-cell distributed pareto frontier over a prepared
    * (l_partkey, price_c, qty) frame — see the q_skyline registry
    * comment; SkylineSpec pins value-equality with both the brute
    * dominance test and the one-window formulation.
    */
  def gridSkyline(per: DataFrame): DataFrame = {
    val mm = per.agg(min("price_c").as("p_lo"), max("price_c").as("p_hi"))
    val cells = per.crossJoin(broadcast(mm))
      .withColumn("cell",
        expr(s"((price_c - p_lo) * $SKY_CELLS) DIV (p_hi - p_lo + 1)"))
    val cellMax = cells.groupBy("cell").agg(max("qty").as("cqty"))
    val wPrevCells = Window.orderBy("cell")
      .rangeBetween(Window.unboundedPreceding, -1) // SKY_CELLS rows
    val prior = cellMax
      .withColumn("prev_best", max("cqty").over(wPrevCells))
      .select(col("cell"), col("prev_best"))
    val wCheaper = Window.partitionBy("cell").orderBy("price_c")
      .rangeBetween(Window.unboundedPreceding, -1)
    val wSame = Window.partitionBy("price_c")
    cells.join(broadcast(prior), "cell")
      .filter(col("prev_best").isNull || col("qty") > col("prev_best"))
      .withColumn("best_cell", max("qty").over(wCheaper))
      .withColumn("best_same", max("qty").over(wSame))
      .withColumn("best_cheaper",
        greatest(coalesce(col("best_cell"), lit(Long.MinValue)),
          coalesce(col("prev_best"), lit(Long.MinValue))))
      .filter(col("best_cheaper") < col("qty") &&
        col("qty") === col("best_same"))
      .select(col("l_partkey"), col("price_c"), col("qty"))
      .orderBy("price_c", "l_partkey")
  }

  /** a-priori basket-size cap for [[q_copurchase_pairs]]: pair fan-out is
    * O(k^2) per basket, so baskets beyond this never enter the self-join.
    * Far above the gate corpus's max (17 at sf0.1) — it exists for the
    * 100 TB pathological basket, and the oracle mirrors it verbatim.
    */
  private val BASKET_CAP = 32

  /** DuckDB mirror of [[sampleMille]] over the lineitem row key. */
  private val sampleMilleSql =
    "('0x' || substr(md5(l_orderkey || '|' || l_linenumber), 1, 12))::BIGINT % 1000"
}
