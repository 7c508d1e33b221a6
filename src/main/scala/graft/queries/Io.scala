package graft.queries

import graft.{Query, QueryModule, Scratch, Tables}
import org.apache.spark.sql.functions._

/** Source/sink format coverage: every round-trip WRITES a table out in a
  * non-parquet format (or a partitioned parquet layout), READS it back,
  * and produces an oracle-checked result — so both directions of each
  * connector are under the value-compare gate, not just "it didn't
  * throw". The reference's only format is raw bytes in / stdout out
  * (/root/reference/src/main.c:74-110,172-174); these are the
  * `DataFrameReader`/`DataFrameWriter` family that replaces it.
  *
  * Scale notes: all reads go through the same FileSourceScanExec path
  * as parquet (splittable line formats -> full core fan-out);
  * `io_partitioned_prune` additionally proves partition-directory
  * pruning (the scan's `PartitionFilters`), which at 100 TB is the
  * difference between touching 1/k of the files and all of them.
  *
  * Round-trips read back with the source table's own schema (not
  * inference): schema drift would silently weaken the value compare.
  */
object Io extends QueryModule {

  /** Exact integer cents of a 2-decimal money double (Relational's idiom). */
  private def cents(c: org.apache.spark.sql.Column) = round(c * 100).cast("long")

  /** This JVM's copy of a layout of table `table`, written once by
    * `write` (see [[Scratch]]): repeated invocations (bench reps,
    * explain passes) time the read leg, not the scratch write. */
  private def layout(name: String, d: String, table: String)(
      write: String => Unit): String =
    Scratch.once(name, Tables.sig(d, table), Scratch.jvm)(write)

  override def rows: Seq[Query] = Seq(
    // CSV out + back: quoting (names/comments may carry delimiters),
    // header handling, and double text-round-trip (Java/Spark print
    // doubles with round-trip-exact digits).
    Query("io_csv_roundtrip", (s, d) => {
      val src = Tables.customer(s, d)
      val path = layout("csv_customer", d, "customer")(
        src.write.option("header", "true").csv(_))
      s.read.schema(src.schema).option("header", "true").csv(path)
        .orderBy("c_custkey")
    },
      """
      SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
      FROM customer ORDER BY c_custkey"""),

    // Compression-codec control: the same projection written as zstd
    // AND gzip parquet, read back, and aggregated per codec — at
    // 100 TB the codec is a first-order cost knob (zstd ~ gzip ratio
    // at several x the decode speed), and this pins that the engine
    // can set it per write and read either transparently. The oracle
    // computes the expected per-codec aggregates straight from the
    // base table (both codecs must decode to identical data).
    Query("io_codec_roundtrip", (s, d) => {
      val src = Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_quantity")
      val frames = Seq("zstd", "gzip").map { codec =>
        val path = layout(s"codec_${codec}_lineitem", d, "lineitem")(
          src.write.option("compression", codec).parquet(_))
        s.read.parquet(path)
          .agg(count(lit(1)).as("n_rows"),
            sum(round(col("l_quantity")).cast("long")).as("sum_qty"))
          .select(lit(codec).as("codec"), col("n_rows"), col("sum_qty"))
      }
      frames.reduce(_.unionByName(_)).orderBy("codec")
    },
      """
      WITH a AS (SELECT count(1)::BIGINT AS n_rows,
                        sum(round(l_quantity)::BIGINT)::BIGINT AS sum_qty
                 FROM lineitem)
      SELECT codec, n_rows, sum_qty
      FROM (SELECT 'gzip' AS codec FROM (VALUES (1))
            UNION ALL
            SELECT 'zstd' FROM (VALUES (1))), a
      ORDER BY codec"""),

    // JSON lines out + back (the interchange format of most
    // web-crawl / training-data pipelines).
    Query("io_json_roundtrip", (s, d) => {
      val src = Tables.nation(s, d)
      val path = layout("json_nation", d, "nation")(src.write.json(_))
      s.read.schema(src.schema).json(path).orderBy("n_nationkey")
    },
      """
      SELECT n_nationkey, n_name, n_regionkey
      FROM nation ORDER BY n_nationkey"""),

    // ORC out + back, with a post-read filter+agg so ORC's own
    // predicate pushdown path runs too.
    Query("io_orc_roundtrip", (s, d) => {
      val src = Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity",
          "l_extendedprice")
      val path = layout("orc_lineitem", d, "lineitem")(src.write.orc(_))
      s.read.schema(src.schema).orc(path)
        .filter(col("l_quantity") >= 30)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          (sum(cents(col("l_extendedprice"))) / 100.0).as("sum_price"))
        .orderBy("l_returnflag")
    },
      """
      SELECT l_returnflag, count(1) AS n,
             sum(round(l_extendedprice * 100)::BIGINT) / 100.0 AS sum_price
      FROM lineitem
      WHERE l_quantity >= 30
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""),

    // Per-FILE min/max statistics manifest — the data-skipping index
    // (Delta/Iceberg stats, parquet row-group pruning's file-level
    // twin): which files a predicate like `l_orderkey BETWEEN a AND b`
    // can skip without opening them. lineitem is written as a
    // deterministically sharded layout (repartition on the shard
    // column -> exactly ONE file per shard directory), then the
    // manifest groups rows by the file they PHYSICALLY came from
    // (input_file_name(), shard identity parsed from the path) — so
    // the per-file stats plumbing is what's under test, while the
    // deterministic sharding lets the oracle reproduce every row from
    // the logical table. n_files = 1 per shard is itself oracle-pinned
    // (a 2-file shard would mean the manifest silently went per-dir).
    // One scan + one hash agg at any scale; the manifest is what a
    // 100 TB reader consults INSTEAD of listing data files.
    Query("io_file_stats", (s, d) => {
      val src = Tables.lineitem(s, d)
        .withColumn("l_shard", (col("l_orderkey") % 8).cast("int"))
      val path = layout("filestats_lineitem", d, "lineitem")(
        src.repartition(col("l_shard")).write.partitionBy("l_shard").parquet(_))
      // input_file_name() is nondeterministic to Catalyst, so it must
      // materialize in a projection before any aggregate touches it
      s.read.parquet(path)
        .withColumn("fname", input_file_name())
        .withColumn("shard",
          regexp_extract(col("fname"), "l_shard=(\\d+)", 1)
            .cast("long"))
        .groupBy("shard")
        .agg(
          countDistinct(col("fname")).as("n_files"),
          count(lit(1)).as("n_rows"),
          min("l_orderkey").as("min_key"),
          max("l_orderkey").as("max_key"),
          min(unix_micros(col("l_shipdate"))).as("min_ship_us"),
          max(unix_micros(col("l_shipdate"))).as("max_ship_us"))
        .orderBy("shard")
    },
      // shard identity is deterministic (l_orderkey % 8), so the oracle
      // rebuilds every per-file stat from the logical table; n_files = 1
      // pins the one-file-per-shard physical layout
      """
      SELECT (l_orderkey % 8) AS shard, 1::BIGINT AS n_files,
             count(1) AS n_rows,
             min(l_orderkey) AS min_key, max(l_orderkey) AS max_key,
             min(epoch_us(l_shipdate)) AS min_ship_us,
             max(epoch_us(l_shipdate)) AS max_ship_us
      FROM lineitem
      GROUP BY 1
      ORDER BY shard"""),

    // Small-file COMPACTION — the 100 TB table-maintenance operation
    // (a streaming ingest or over-parallel write leaves thousands of
    // KB-scale files; every later scan pays per-file open/footer cost
    // and the listing pays the metadata). The op: read an
    // over-fragmented layout (64 deliberately tiny files), rewrite it
    // as ceil(rows / 20k) right-sized files, and emit the before/after
    // manifest the maintenance job logs. The target file count derives
    // from the row count (deterministic — the oracle recomputes it
    // from the logical table); round-robin repartition(n) fills all n
    // partitions whenever rows >> n, so n_files_after = target is
    // pinned, and the content digest (order-free bit_xor over row
    // md5s) proves the rewrite lost nothing. The count() that sizes
    // the rewrite is metadata-scale driver work (one long), the same
    // planning job any real compaction runs.
    Query("io_compaction", (s, d) => {
      val src = Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_quantity")
      val fragDf = s.read.parquet(layout("frag_lineitem", d, "lineitem")(
        src.repartition(64).write.parquet(_)))
      val rows = fragDf.count()
      val target = ((rows + 19999L) / 20000L).max(1L).toInt
      val comp = layout("compact_lineitem", d, "lineitem")(
        fragDf.repartition(target).write.parquet(_))
      s.read.parquet(comp)
        .select(col("*"),
          conv(substring(md5(concat_ws("|", col("l_orderkey"),
            col("l_linenumber"), round(col("l_quantity")).cast("long"))
            .cast("binary")), 1, 12), 16, 10).cast("long").as("h"),
          input_file_name().as("fname"))
        .agg(
          countDistinct(col("fname")).as("n_files_after"),
          count(lit(1)).as("n_rows"),
          expr("bit_xor(h)").as("content_sig"))
        .select(lit(64L).as("n_files_before"), col("n_files_after"),
          col("n_rows"), col("content_sig"))
    },
      // the oracle recomputes the target count and the order-free digest
      // from the logical table; n_files_after = ceil(rows/20000) pins the
      // physical rewrite
      """
      WITH h AS (SELECT ('0x' || substr(md5(l_orderkey::VARCHAR || '|' ||
                   l_linenumber::VARCHAR || '|' ||
                   round(l_quantity)::BIGINT::VARCHAR), 1, 12))::BIGINT
                   AS hv
                 FROM lineitem)
      SELECT 64::BIGINT AS n_files_before,
             ((count(1) + 19999) // 20000)::BIGINT AS n_files_after,
             count(1) AS n_rows,
             bit_xor(hv)::BIGINT AS content_sig
      FROM h"""),

    // Hive-style partitioned parquet: write orders bucketed into
    // o_orderpriority=... directories, read back filtering on the
    // partition column -> directory pruning (PartitionFilters in the
    // scan; only 1 of 5 directories is listed/read).
    Query("io_partitioned_prune", (s, d) => {
      val src = Tables.orders(s, d)
      val path = layout("part_orders", d, "orders")(
        src.write.partitionBy("o_orderpriority").parquet(_))
      s.read.parquet(path)
        .filter(col("o_orderpriority") === "1-URGENT")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          (sum(cents(col("o_totalprice"))) / 100.0).as("total_price"))
        .orderBy("o_orderstatus")
    },
      """
      SELECT o_orderstatus, count(1) AS n,
             sum(round(o_totalprice * 100)::BIGINT) / 100.0 AS total_price
      FROM orders
      WHERE o_orderpriority = '1-URGENT'
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus"""),

    // Schema evolution: a corpus written over time gains a column in a
    // later batch; mergeSchema reconciles the footers at read (old rows
    // surface NULL for the new column). The shape every long-lived
    // 100 TB corpus hits — readers must not require a rewrite of every
    // historical batch to pick up a new field.
    Query("io_schema_merge", (s, d) => {
      val path = layout("schema_orders", d, "orders") { p =>
        val src = Tables.orders(s, d)
        src.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_orderstatus"),
            cents(col("o_totalprice")).as("price_cents"))
          .write.parquet(s"$p/b1")
        src.filter(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"), col("o_orderstatus"),
            cents(col("o_totalprice")).as("price_cents"),
            lit("v2").as("source_tag")) // the evolved column
          .write.parquet(s"$p/b2")
      }
      s.read.option("mergeSchema", "true").parquet(s"$path/b1", s"$path/b2")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          count(col("source_tag")).as("n_v2"),
          sum("price_cents").as("cents_sum"))
        .orderBy("o_orderstatus")
    },
      """
      SELECT o_orderstatus, count(1) AS n,
             CAST(sum(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_v2,
             CAST(sum(round(o_totalprice * 100)::BIGINT) AS BIGINT) AS cents_sum
      FROM orders
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus"""),

    // Bucketed co-located join: both sides pre-shuffled on the join key
    // at WRITE time (8 buckets, sorted within buckets), so the join
    // plans as a sort-merge over the bucket layout with NO Exchange on
    // either side (BucketingSpec asserts the plan). At 100 TB this is
    // how a fact table joined on the same key by every query in a
    // workload pays its shuffle once, at ingest, instead of per query.
    Query("io_bucketed_join", (s, d) => {
      val tag = (d.hashCode & 0x7fffffff).toHexString
      val liT = s"graft_li_bq_$tag"
      val ordT = s"graft_ord_bq_$tag"
      // written once per (session, sf dir); the files live under
      // Scratch.jvm like the layouts above
      synchronized { if (!s.catalog.tableExists(ordT)) {
        graft.operators.Bucketing.writeBucketed(
          Tables.lineitem(s, d).select("l_orderkey", "l_extendedprice"),
          liT, "l_orderkey", 8, Some("l_orderkey"))
        graft.operators.Bucketing.writeBucketed(
          Tables.orders(s, d).select("o_orderkey", "o_orderstatus"),
          ordT, "o_orderkey", 8, Some("o_orderkey"))
      }}
      graft.operators.Bucketing.bucketedJoin(s, liT, ordT,
          "l_orderkey", "o_orderkey")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          (sum(cents(col("l_extendedprice"))) / 100.0).as("sum_price"))
        .orderBy("o_orderstatus")
    },
      """
      SELECT o_orderstatus, count(1) AS n,
             sum(round(l_extendedprice * 100)::BIGINT) / 100.0 AS sum_price
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus"""),

    // Z-order layout: orders written morton-ordered on (customer, order
    // day), then a 2-D box predicate reads back — files prune on BOTH
    // dimensions via parquet min/max stats (ZOrderSpec quantifies the
    // rectangle tightness vs a one-key sort). The z-value is layout-
    // only; results are independent of it, so the oracle is the same
    // filter over the raw table.
    Query("io_zorder_box", (s, d) => {
      val path = layout("zorder_orders", d, "orders")(p =>
        graft.operators.ZOrder.writeZOrdered(
          Tables.orders(s, d),
          pmod(col("o_custkey"), lit(65536L)),
          datediff(col("o_orderdate"), lit("1992-01-01")),
          files = 16, path = p))
      s.read.parquet(path)
        .filter(col("o_custkey").between(100, 300) &&
          col("o_orderdate").between("1995-01-01", "1995-12-31"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          (sum(cents(col("o_totalprice"))) / 100.0).as("total_price"))
        .orderBy("o_orderstatus")
    },
      """
      SELECT o_orderstatus, count(1) AS n,
             sum(round(o_totalprice * 100)::BIGINT) / 100.0 AS total_price
      FROM orders
      WHERE o_custkey BETWEEN 100 AND 300
        AND o_orderdate BETWEEN '1995-01-01' AND '1995-12-31'
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus"""),

    // Dynamic partition pruning: the filter lives on the DIM side of a
    // join, so which fact partitions survive is only known at runtime —
    // Catalyst plants a dynamicpruning InSubquery on the fact scan's
    // partition column (reusing the dim's broadcast), and the scan
    // touches 2/5 of the partition directories instead of all of them.
    // At 100 TB this is THE mechanism that makes star-schema joins
    // against partitioned fact tables affordable without hand-written
    // static filters. PlanShapeSpec asserts the pruning subquery.
    Query("q_dpp", (s, d) => {
      val fact = s.read.parquet(layout("dpp_orders", d, "orders")(
        Tables.orders(s, d).write.partitionBy("o_orderpriority").parquet(_)))
      val dim = Tables.orders(s, d)
        .select("o_orderpriority").distinct()
        .filter(col("o_orderpriority") < "3")
      fact.join(dim, "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          (sum(cents(col("o_totalprice"))) / 100.0).as("total_price"))
        .orderBy("o_orderpriority")
    },
      """
      WITH dim AS (
        SELECT DISTINCT o_orderpriority FROM orders
        WHERE o_orderpriority < '3')
      SELECT f.o_orderpriority, count(1) AS n,
             sum(round(f.o_totalprice * 100)::BIGINT) / 100.0 AS total_price
      FROM orders f JOIN dim USING (o_orderpriority)
      GROUP BY f.o_orderpriority
      ORDER BY f.o_orderpriority""")
  )
}
