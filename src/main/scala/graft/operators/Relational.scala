package graft.operators

import graft.Util._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** Relational operator suite over the TPC-H-ish star schema.
  *
  * Scope per SURVEY.md §2.B (scans, projection/filter, joins of every type,
  * aggregation incl. distinct/rollup/cube, windows, sort/limit/top-k, set
  * ops, scalar functions). The reference itself has no relational surface
  * beyond a point-lookup gate (SURVEY §2.A op 3, Handler.java:139-167); this
  * is the north-star extension surface, expressed Spark-first so Catalyst
  * does pushdown/pruning/join-selection.
  *
  * Scale notes (100 TB): dimension tables (region/nation/customer at TPC-H
  * ratios) are broadcast explicitly; fact-fact joins are equi-joins that
  * sort-merge/shuffle-hash on the join key; every aggregate is a partial
  * (map-side) hash agg first because the exprs are algebraic (sum/count).
  */
object Relational {

  /** q01: TPC-H Q1-style pricing summary — scan+filter+hash-agg.
    * Filter is pushed to the parquet scan; agg is partial+final hash agg.
    */
  def q01PricingSummary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    table(spark, dir, "lineitem")
      .filter($"l_shipdate" <= ldt("1999-06-30T00:00:00"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        dsum($"l_quantity").as("sum_qty"),
        dsum($"l_extendedprice").as("sum_base_price"),
        dsum6($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("sum_disc_price"),
        dsum6($"l_extendedprice" * (lit(1.0) - $"l_discount") * (lit(1.0) + $"l_tax")).as("sum_charge"),
        (dsum($"l_quantity") / count(lit(1))).as("avg_qty"),
        (dsum($"l_extendedprice") / count(lit(1))).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  val q01Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(24,6))) AS DOUBLE) AS sum_charge,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1999-06-30 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** q02: projection + predicates (IN / BETWEEN / LIKE / null-safe).
    * Everything lands in PushedFilters on the parquet scan.
    */
  def q02FilterProject(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    table(spark, dir, "part")
      .filter($"p_type".isin("ECONOMY", "PROMO") &&
        $"p_retailprice".between(500.0, 2000.0) &&
        $"p_brand".like("Brand#1%") &&
        $"p_name".isNotNull)
      .select($"p_partkey", $"p_name", $"p_brand", $"p_type", $"p_size", $"p_retailprice")
      .orderBy($"p_partkey")
  }

  val q02Sql: String =
    """SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice
      |FROM part
      |WHERE p_type IN ('ECONOMY','PROMO') AND p_retailprice BETWEEN 500.0 AND 2000.0
      |  AND p_brand LIKE 'Brand#1%' AND p_name IS NOT NULL
      |ORDER BY p_partkey""".stripMargin

  /** q03: broadcast hash join — fact (orders) joined to a broadcast dim
    * (customer). At 100 TB, customer is the small side; the explicit
    * broadcast avoids a fact-side shuffle entirely.
    */
  def q03JoinBroadcast(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = table(spark, dir, "orders")
    // rawTable: a broadcast side must not pass through the scan-spread
    // repartition — BroadcastDistribution cannot reuse it, so the
    // exchange would be a pure wasted shuffle before the collect
    val c = rawTable(spark, dir, "customer")
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy($"c_mktsegment")
      .agg(
        dsum($"o_totalprice").as("revenue"),
        count(lit(1)).as("n_orders"),
        countDistinct($"o_custkey").as("n_customers"))
      .orderBy($"c_mktsegment")
  }

  val q03Sql: String =
    """SELECT c_mktsegment,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_orders,
      |  COUNT(DISTINCT o_custkey) AS n_customers
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** q04: multi-way join (TPC-H Q5 shape): two big equi-joins
    * (customer⋈orders⋈lineitem) plus broadcast dims, with the Q5
    * supplier-nation-alignment constraint. Flagship query.
    */
  def q04JoinMultiway(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cust = table(spark, dir, "customer")
    val ord = table(spark, dir, "orders")
      .filter($"o_orderdate" >= ldt("1996-01-01T00:00:00") && $"o_orderdate" < ldt("1999-01-01T00:00:00"))
    val li = table(spark, dir, "lineitem")
    val sup = table(spark, dir, "supplier")
    val nat = table(spark, dir, "nation")
    val reg = table(spark, dir, "region").filter($"r_name" === "ASIA")
    cust.join(ord, $"c_custkey" === $"o_custkey")
      .join(li, $"o_orderkey" === $"l_orderkey")
      .join(broadcast(sup), $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
      .join(broadcast(nat), $"s_nationkey" === $"n_nationkey")
      .join(broadcast(reg), $"n_regionkey" === $"r_regionkey")
      .groupBy($"n_name")
      .agg(
        dsum6($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"),
        count(lit(1)).as("n_lineitems"))
      .orderBy($"n_name")
  }

  val q04Sql: String =
    """SELECT n_name,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_lineitems
      |FROM customer
      |JOIN orders   ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation   ON s_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  /** q05: left outer join keeping customers with zero orders. */
  def q05JoinOuter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = table(spark, dir, "customer")
    val o = table(spark, dir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
      .groupBy($"c_custkey", $"c_name")
      .agg(
        count($"o_orderkey").as("n_orders"),
        coalesce(dsum($"o_totalprice"), lit(0.0)).as("total_spent"))
      .orderBy($"c_custkey")
  }

  val q05Sql: String =
    """SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_orders,
      |  COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS total_spent
      |FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_custkey, c_name
      |ORDER BY c_custkey""".stripMargin

  /** q06: left-semi join (EXISTS) — customers with an urgent open order.
    * Mirrors the reference's active-region gate shape (SURVEY §2.A op 3):
    * rows pass only if a match exists in the (broadcastable) right side.
    */
  def q06JoinSemi(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = table(spark, dir, "customer")
    val o = table(spark, dir, "orders")
      .filter($"o_orderpriority" === "1-URGENT" && $"o_orderstatus" === "O")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select($"c_custkey", $"c_name", $"c_mktsegment")
      .orderBy($"c_custkey")
  }

  val q06Sql: String =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
      |              AND o_orderpriority = '1-URGENT' AND o_orderstatus = 'O')
      |ORDER BY c_custkey""".stripMargin

  /** q07: left-anti join (NOT EXISTS) — customers with no high-value
    * (>150k) order.
    */
  def q07JoinAnti(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = table(spark, dir, "customer")
    val o = table(spark, dir, "orders").filter($"o_totalprice" > 150000.0)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select($"c_custkey", $"c_name", $"c_acctbal")
      .orderBy($"c_custkey")
  }

  val q07Sql: String =
    """SELECT c_custkey, c_name, c_acctbal
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
      |                  AND o_totalprice > 150000.0)
      |ORDER BY c_custkey""".stripMargin

  /** q08: distinct aggregates — count(distinct) expands to a two-phase
    * agg in Spark (partial on (grp, key), final count) so it scales.
    */
  def q08AggDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    table(spark, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(
        countDistinct($"l_partkey").as("n_parts"),
        countDistinct($"l_suppkey").as("n_supps"),
        countDistinct($"l_orderkey").as("n_orders"),
        count(lit(1)).as("n_rows"))
      .orderBy($"l_returnflag")
  }

  val q08Sql: String =
    """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
      |  COUNT(DISTINCT l_suppkey) AS n_supps,
      |  COUNT(DISTINCT l_orderkey) AS n_orders, COUNT(*) AS n_rows
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** q09: HLL sketch cardinality (approx_count_distinct) next to the exact
    * count. Sketch values are engine-specific → no DuckDB oracle (driver
    * rows-only check); correctness of the estimate is asserted in ScalaTest
    * (±5% of exact at these scales).
    */
  def q09AggApprox(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // HLL and exact distinct run as separate aggregations joined on the
    // 4-row key: mixing them in one agg plans an Expand that duplicates
    // every input row per aggregate family (measured 3x slower). The
    // join is NULL-SAFE so a null group (legal for a group key) survives
    // exactly as the single-aggregate formulation would emit it.
    val li = table(spark, dir, "lineitem")
    val approx = li.groupBy($"l_returnflag")
      .agg(approx_count_distinct($"l_orderkey", 0.02).as("approx_orders"))
    val exact = li.groupBy($"l_returnflag".as("rf"))
      .agg(countDistinct($"l_orderkey").as("exact_orders"))
    approx.join(exact, $"l_returnflag" <=> $"rf")
      .select($"l_returnflag", $"approx_orders", $"exact_orders")
      .orderBy($"l_returnflag")
  }

  /** q10: ROLLUP hierarchy totals; NULL grouping slots coalesced to 'ALL'
    * so both engines emit an identical, orderable shape.
    */
  def q10Rollup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    table(spark, dir, "lineitem")
      .rollup($"l_returnflag", $"l_linestatus")
      .agg(dsum($"l_quantity").as("sum_qty"), count(lit(1)).as("n_rows"))
      .select(
        coalesce($"l_returnflag", lit("ALL")).as("returnflag"),
        coalesce($"l_linestatus", lit("ALL")).as("linestatus"),
        $"sum_qty", $"n_rows")
      .orderBy($"returnflag", $"linestatus")
  }

  val q10Sql: String =
    """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
      |  COALESCE(l_linestatus, 'ALL') AS linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n_rows
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY returnflag, linestatus""".stripMargin

  /** q11: CUBE over order status × priority. */
  def q11Cube(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    table(spark, dir, "orders")
      .cube($"o_orderstatus", $"o_orderpriority")
      .agg(dsum($"o_totalprice").as("revenue"), count(lit(1)).as("n_orders"))
      .select(
        coalesce($"o_orderstatus", lit("ALL")).as("orderstatus"),
        coalesce($"o_orderpriority", lit("ALL")).as("orderpriority"),
        $"revenue", $"n_orders")
      .orderBy($"orderstatus", $"orderpriority")
  }

  val q11Sql: String =
    """SELECT COALESCE(o_orderstatus, 'ALL') AS orderstatus,
      |  COALESCE(o_orderpriority, 'ALL') AS orderpriority,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_orders
      |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY orderstatus, orderpriority""".stripMargin

  /** q12: ranking window functions with a total tie-break for row_number. */
  def q12WindowRank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Two-phase top-k: partitioning by l_returnflag alone has ~4 distinct
    // values, so a monolithic 3-window plan sorts the whole table in 4
    // tasks. Phase 1 keeps only the single row_number window, which the
    // optimizer prunes with a WindowGroupLimit (each map partition
    // pre-filters to its local top-5 per flag before the tiny shuffle).
    // Phase 2 reconstructs rank/dense_rank of the ~20 survivors from
    // their definitions — rank = 1 + #rows strictly greater, dense_rank
    // = 1 + #distinct greater values — via one broadcast-join scan.
    val wRn = Window.partitionBy($"l_returnflag")
      .orderBy($"l_extendedprice".desc, $"l_orderkey", $"l_linenumber")
    val li = table(spark, dir, "lineitem")
    val top5 = li
      .select($"l_returnflag", $"l_orderkey", $"l_linenumber", $"l_extendedprice")
      .withColumn("rn", row_number().over(wRn))
      .filter($"rn" <= 5)
    val probes = top5.select($"l_returnflag".as("flag"), $"rn".as("trn"),
      $"l_extendedprice".as("tprice"))
    val cnts = li.join(broadcast(probes),
        $"l_returnflag" === $"flag" && $"l_extendedprice" > $"tprice")
      .groupBy($"flag", $"trn")
      .agg(count(lit(1)).as("cnt"), countDistinct($"l_extendedprice").as("cntd"))
    top5.join(broadcast(cnts),
        $"l_returnflag" === $"flag" && $"rn" === $"trn", "left_outer")
      .select($"l_returnflag", $"rn".cast("long").as("rn"),
        (coalesce($"cnt", lit(0L)) + 1L).as("rnk"),
        (coalesce($"cntd", lit(0L)) + 1L).as("drnk"),
        $"l_orderkey", $"l_linenumber", $"l_extendedprice")
      .orderBy($"l_returnflag", $"rn")
  }

  val q12Sql: String =
    """SELECT * FROM (
      |  SELECT l_returnflag,
      |    ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn,
      |    RANK()       OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice DESC) AS rnk,
      |    DENSE_RANK() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice DESC) AS drnk,
      |    l_orderkey, l_linenumber, l_extendedprice
      |  FROM lineitem)
      |WHERE rn <= 5 ORDER BY l_returnflag, rn""".stripMargin

  /** q13: lag/lead over per-customer order history. */
  def q13WindowLagLead(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    table(spark, dir, "orders")
      .filter($"o_custkey" < 100)
      .withColumn("prev_price", lag($"o_totalprice", 1).over(w))
      .withColumn("next_price", lead($"o_totalprice", 1).over(w))
      .select($"o_custkey", $"o_orderkey", $"o_orderdate", $"o_totalprice", $"prev_price", $"next_price")
      .orderBy($"o_custkey", $"o_orderdate", $"o_orderkey")
  }

  val q13Sql: String =
    """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
      |  LAG(o_totalprice)  OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price,
      |  LEAD(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_price
      |FROM orders WHERE o_custkey < 100
      |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin

  /** q14: running (cumulative) sum with an explicit ROWS frame; the sum runs
    * in DECIMAL so the cumulative values are exact in both engines.
    */
  def q14WindowRunning(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    table(spark, dir, "orders")
      .filter($"o_custkey" < 100)
      .withColumn("running_total", sum($"o_totalprice".cast(DecimalType(18, 2))).over(w).cast("double"))
      .select($"o_custkey", $"o_orderkey", $"o_orderdate", $"o_totalprice", $"running_total")
      .orderBy($"o_custkey", $"o_orderdate", $"o_orderkey")
  }

  val q14Sql: String =
    """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
      |FROM orders WHERE o_custkey < 100
      |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin

  /** q15: global top-k — `orderBy().limit(k)` becomes TakeOrderedAndProject
    * (per-partition heap + driver merge: no full sort, no full shuffle).
    */
  def q15TopkGlobal(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    table(spark, dir, "orders")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
      .limit(25)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_orderdate")
  }

  val q15Sql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
      |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""".stripMargin

  /** q16: per-group top-k via ranked window. */
  def q16TopkPerGroup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"c_mktsegment").orderBy($"c_acctbal".desc, $"c_custkey")
    table(spark, dir, "customer")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3)
      .select($"c_mktsegment", $"rn".cast("long").as("rn"), $"c_custkey", $"c_name", $"c_acctbal")
      .orderBy($"c_mktsegment", $"rn")
  }

  val q16Sql: String =
    """SELECT * FROM (
      |  SELECT c_mktsegment,
      |    ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS rn,
      |    c_custkey, c_name, c_acctbal
      |  FROM customer)
      |WHERE rn <= 3 ORDER BY c_mktsegment, rn""".stripMargin

  /** q17: set operations — INTERSECT / EXCEPT / UNION ALL over the sets of
    * customers active in 1997 vs 1998.
    */
  def q17SetOps(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = table(spark, dir, "orders")
    def activeIn(year: Int) =
      o.filter($"o_orderdate" >= ldt(s"$year-01-01T00:00:00") && $"o_orderdate" < ldt(s"${year + 1}-01-01T00:00:00"))
        .select($"o_custkey").distinct()
    val a = activeIn(1997)
    val b = activeIn(1998)
    a.intersect(b).withColumn("op", lit("both"))
      .unionAll(a.except(b).withColumn("op", lit("only_1997")))
      .unionAll(b.except(a).withColumn("op", lit("only_1998")))
      .orderBy($"op", $"o_custkey")
  }

  val q17Sql: String =
    """WITH a AS (SELECT DISTINCT o_custkey FROM orders
      |           WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'),
      |     b AS (SELECT DISTINCT o_custkey FROM orders
      |           WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00')
      |SELECT o_custkey, 'both' AS op FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
      |UNION ALL SELECT o_custkey, 'only_1997' FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
      |UNION ALL SELECT o_custkey, 'only_1998' FROM (SELECT * FROM b EXCEPT SELECT * FROM a)
      |ORDER BY op, o_custkey""".stripMargin

  /** q18: scalar string functions, incl. the reference's ARN→stream-name
    * parse (Handler.java:169-171: `arn.split(":")[5].split("/")[1]`)
    * re-expressed with split().getItem on a synthesized ARN.
    */
  def q18StringFuncs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    table(spark, dir, "customer")
      .filter($"c_custkey" <= 200)
      .withColumn("arn",
        concat(lit("arn:aws:kinesis:us-east-1:123456789012:stream/kds-"), $"c_custkey", lit("/consumer/kds-replicator")))
      .select(
        $"c_custkey",
        upper($"c_name").as("name_upper"),
        length($"c_name").cast("long").as("name_len"),
        substring($"c_name", 1, 8).as("name_prefix"),
        concat($"c_mktsegment", lit("#"), $"c_name").as("seg_name"),
        split($"c_name", "#").getItem(1).as("name_id"),
        split(split($"arn", ":").getItem(5), "/").getItem(1).as("stream_name"))
      .orderBy($"c_custkey")
  }

  val q18Sql: String =
    """SELECT c_custkey, UPPER(c_name) AS name_upper,
      |  CAST(LENGTH(c_name) AS BIGINT) AS name_len,
      |  SUBSTRING(c_name, 1, 8) AS name_prefix,
      |  CONCAT(c_mktsegment, '#', c_name) AS seg_name,
      |  string_split(c_name, '#')[2] AS name_id,
      |  string_split(string_split(
      |    CONCAT('arn:aws:kinesis:us-east-1:123456789012:stream/kds-', c_custkey, '/consumer/kds-replicator'),
      |    ':')[6], '/')[2] AS stream_name
      |FROM customer WHERE c_custkey <= 200 ORDER BY c_custkey""".stripMargin

  /** q19: date/time functions — trunc, extract, datediff. */
  def q19DatetimeFuncs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    table(spark, dir, "orders")
      .groupBy(
        date_trunc("month", $"o_orderdate").as("order_month"),
        year($"o_orderdate").cast("long").as("order_year"),
        month($"o_orderdate").cast("long").as("order_mm"))
      .agg(
        count(lit(1)).as("n_orders"),
        dsum($"o_totalprice").as("revenue"),
        max(datediff($"o_orderdate", ldt("1995-01-01T00:00:00")).cast("long")).as("max_days_since_epoch"))
      .orderBy($"order_month")
  }

  val q19Sql: String =
    """SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month,
      |  year(o_orderdate) AS order_year, month(o_orderdate) AS order_mm,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  MAX(date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate)) AS max_days_since_epoch
      |FROM orders
      |GROUP BY 1, 2, 3 ORDER BY order_month""".stripMargin

  /** q20: math + conditional expressions (CASE WHEN, coalesce/nullif,
    * greatest/least, abs) aggregated into exact buckets.
    */
  def q20MathConditional(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    table(spark, dir, "lineitem")
      .withColumn("qty_band",
        when($"l_quantity" >= 40, "high").when($"l_quantity" >= 15, "mid").otherwise("low"))
      .withColumn("disc_class",
        coalesce(nullif(when($"l_discount" > 0.05, lit("discounted")).otherwise(lit("")), lit("")), lit("full_price")))
      .groupBy($"qty_band", $"disc_class")
      .agg(
        count(lit(1)).as("n_rows"),
        dsum(greatest($"l_extendedprice" - lit(1000.0), lit(0.0))).as("sum_over_1000"),
        dsum6(abs($"l_discount" - lit(0.05))).as("sum_abs_disc_delta"),
        max(least($"l_quantity", lit(25.0))).as("max_capped_qty"))
      .orderBy($"qty_band", $"disc_class")
  }

  val q20Sql: String =
    """SELECT
      |  CASE WHEN l_quantity >= 40 THEN 'high' WHEN l_quantity >= 15 THEN 'mid' ELSE 'low' END AS qty_band,
      |  COALESCE(NULLIF(CASE WHEN l_discount > 0.05 THEN 'discounted' ELSE '' END, ''), 'full_price') AS disc_class,
      |  COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(GREATEST(l_extendedprice - 1000.0, 0.0) AS DECIMAL(18,2))) AS DOUBLE) AS sum_over_1000,
      |  CAST(SUM(CAST(ABS(l_discount - 0.05) AS DECIMAL(24,6))) AS DOUBLE) AS sum_abs_disc_delta,
      |  MAX(LEAST(l_quantity, 25.0)) AS max_capped_qty
      |FROM lineitem GROUP BY 1, 2 ORDER BY qty_band, disc_class""".stripMargin

  /** q21: distinct projection (set semantics dedup). */
  def q21DistinctProj(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    table(spark, dir, "lineitem")
      .select($"l_returnflag", $"l_linestatus", year($"l_shipdate").cast("long").as("ship_year"))
      .distinct()
      .orderBy($"l_returnflag", $"l_linestatus", $"ship_year")
  }

  val q21Sql: String =
    """SELECT DISTINCT l_returnflag, l_linestatus, year(l_shipdate) AS ship_year
      |FROM lineitem ORDER BY l_returnflag, l_linestatus, ship_year""".stripMargin

  /** q22: non-equi (range/band) join against a tiny inline band table —
    * Spark plans this as BroadcastNestedLoopJoin, which is exactly right:
    * the band table is O(1) rows, so each fact row tests a handful of
    * intervals without any shuffle.
    */
  def q22RangeBandJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bands = Seq(
      ("budget", 0.0, 999.99),
      ("mainstream", 1000.0, 1499.99),
      ("premium", 1500.0, 100000.0)).toDF("band", "lo", "hi")
    table(spark, dir, "part")
      .join(broadcast(bands), $"p_retailprice" >= $"lo" && $"p_retailprice" <= $"hi")
      .groupBy($"band")
      .agg(count(lit(1)).as("n_parts"), dsum($"p_retailprice").as("sum_price"))
      .orderBy($"band")
  }

  val q22Sql: String =
    """SELECT band, COUNT(*) AS n_parts,
      |  CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM part
      |JOIN (VALUES ('budget', 0.0, 999.99), ('mainstream', 1000.0, 1499.99),
      |             ('premium', 1500.0, 100000.0)) AS bands(band, lo, hi)
      |  ON p_retailprice >= lo AND p_retailprice <= hi
      |GROUP BY band ORDER BY band""".stripMargin

  /** q54: multiset set ops — INTERSECT ALL / EXCEPT ALL preserve
    * duplicate counts (per-customer order multiplicities across years).
    */
  def q54SetopsAll(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = table(spark, dir, "orders")
    def keysIn(year: Int) =
      o.filter($"o_orderdate" >= ldt(s"$year-01-01T00:00:00") && $"o_orderdate" < ldt(s"${year + 1}-01-01T00:00:00"))
        .select($"o_custkey")
    val a = keysIn(1997)
    val b = keysIn(1998)
    a.intersectAll(b).groupBy($"o_custkey").agg(count(lit(1)).as("n")).withColumn("op", lit("intersect_all"))
      .unionAll(a.exceptAll(b).groupBy($"o_custkey").agg(count(lit(1)).as("n")).withColumn("op", lit("except_all")))
      .orderBy($"op", $"o_custkey")
  }

  val q54Sql: String =
    """WITH a AS (SELECT o_custkey FROM orders
      |           WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'),
      |     b AS (SELECT o_custkey FROM orders
      |           WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00')
      |SELECT o_custkey, n, op FROM (
      |  SELECT o_custkey, COUNT(*) AS n, 'intersect_all' AS op
      |  FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b) GROUP BY o_custkey
      |  UNION ALL
      |  SELECT o_custkey, COUNT(*) AS n, 'except_all' AS op
      |  FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b) GROUP BY o_custkey)
      |ORDER BY op, o_custkey""".stripMargin

  /** q48: full outer join across fact domains — customers vs per-user
    * event activity (customer keys and event users only partially
    * overlap, so both null sides appear).
    */
  def q48OuterFull(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = table(spark, dir, "customer").select($"c_custkey", $"c_mktsegment")
    val ev = events(spark, dir)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"), dsum($"value").as("total_value"))
    c.join(ev, $"c_custkey" === $"user_id", "full_outer")
      .select(
        coalesce($"c_custkey", lit(-1L)).as("custkey"),
        coalesce($"user_id", lit(-1L)).as("user_id"),
        coalesce($"c_mktsegment", lit("NONE")).as("mktsegment"),
        coalesce($"n_events", lit(0L)).as("n_events"),
        coalesce($"total_value", lit(0.0)).as("total_value"))
      .orderBy($"custkey", $"user_id")
  }

  val q48Sql: String =
    """SELECT COALESCE(c_custkey, -1) AS custkey, COALESCE(user_id, -1) AS user_id,
      |  COALESCE(c_mktsegment, 'NONE') AS mktsegment,
      |  COALESCE(n_events, 0) AS n_events, COALESCE(total_value, 0.0) AS total_value
      |FROM (SELECT c_custkey, c_mktsegment FROM customer) c
      |FULL OUTER JOIN (
      |  SELECT user_id, COUNT(*) AS n_events,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |  FROM events GROUP BY user_id) e
      |ON c_custkey = user_id
      |ORDER BY custkey, user_id""".stripMargin

  /** q46: explicit GROUPING SETS (beyond rollup/cube): per-(flag,status),
    * per-flag, per-ship-year, and grand total in one pass.
    */
  def q46GroupingSets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    table(spark, dir, "lineitem")
      .withColumn("ship_year", year($"l_shipdate").cast("long"))
      .groupingSets(
        Seq(Seq($"l_returnflag", $"l_linestatus"), Seq($"l_returnflag"), Seq($"ship_year"), Seq()),
        $"l_returnflag", $"l_linestatus", $"ship_year")
      .agg(dsum($"l_extendedprice").as("sum_price"), count(lit(1)).as("n_rows"))
      .select(
        coalesce($"l_returnflag", lit("ALL")).as("returnflag"),
        coalesce($"l_linestatus", lit("ALL")).as("linestatus"),
        coalesce($"ship_year", lit(-1L)).as("ship_year"),
        $"sum_price", $"n_rows")
      .orderBy($"returnflag", $"linestatus", $"ship_year")
  }

  val q46Sql: String =
    """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
      |  COALESCE(l_linestatus, 'ALL') AS linestatus,
      |  COALESCE(year(l_shipdate), -1) AS ship_year,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |  COUNT(*) AS n_rows
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (year(l_shipdate)), ())
      |ORDER BY returnflag, linestatus, ship_year""".stripMargin

  /** q50: PIVOT — linestatus columns out of rows (explicit value list so
    * the output schema is static, as a scale-safe pivot must be).
    */
  def q50Pivot(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    table(spark, dir, "lineitem")
      .groupBy($"l_returnflag")
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(dsum($"l_quantity"))
      .select($"l_returnflag",
        coalesce($"F", lit(0.0)).as("qty_f"),
        coalesce($"O", lit(0.0)).as("qty_o"))
      .orderBy($"l_returnflag")
  }

  val q50Sql: String =
    """SELECT l_returnflag,
      |  COALESCE(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) FILTER (l_linestatus = 'F') AS DOUBLE), 0.0) AS qty_f,
      |  COALESCE(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) FILTER (l_linestatus = 'O') AS DOUBLE), 0.0) AS qty_o
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** q51: exact percentiles (continuous interpolation) — rounded to 4
    * decimals because the engines may associate the interpolation
    * differently in the last ulp. Computed via
    * [[graft.operators.Extended.exactQuantilesMulti]] — the iterative
    * count-partitioned search with O(1) aggregation state — NOT the
    * exact `percentile` aggregate, whose full-multiset final-merge state
    * grows with each column's distinct count at scale. All three
    * (column × group) quantile families share one stats pass and one set
    * of lockstep search rounds; the final rounding runs through Spark's
    * own `round` so the output is expression-identical to the builtin
    * formulation.
    */
  def q51Percentiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = table(spark, dir, "lineitem")
    val qs = Extended.exactQuantilesMulti(li, Some("l_returnflag"), Seq(
      "l_extendedprice" -> Seq(0.5),
      "l_quantity" -> Seq(0.9),
      "l_discount" -> Seq(0.25)))
    qs.toSeq
      .map { case (g, m) =>
        (g.asInstanceOf[String],
          m(("l_extendedprice", 0.5)), m(("l_quantity", 0.9)), m(("l_discount", 0.25)))
      }
      .toDF("l_returnflag", "raw_median", "raw_p90", "raw_p25")
      .select($"l_returnflag",
        round($"raw_median", 4).as("median_price"),
        round($"raw_p90", 4).as("p90_qty"),
        round($"raw_p25", 4).as("p25_disc"))
      .orderBy($"l_returnflag")
  }

  val q51Sql: String =
    """SELECT l_returnflag,
      |  ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
      |  ROUND(quantile_cont(l_quantity, 0.9), 4) AS p90_qty,
      |  ROUND(quantile_cont(l_discount, 0.25), 4) AS p25_disc
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** q56: schema-evolution union — unionByName with missing columns
    * null-filled (the "new field added to the stream" case of §1.1's
    * schema-on-read model).
    */
  def q56UnionByName(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val v1 = table(spark, dir, "customer").filter($"c_custkey" <= 100)
      .select($"c_custkey", $"c_name", $"c_mktsegment")
    val v2 = table(spark, dir, "customer")
      .filter($"c_custkey" > 100 && $"c_custkey" <= 200)
      .select($"c_custkey", $"c_name", $"c_acctbal")
    v1.unionByName(v2, allowMissingColumns = true)
      .select($"c_custkey", $"c_name",
        coalesce($"c_mktsegment", lit("?")).as("mktsegment"),
        coalesce($"c_acctbal", lit(-1.0)).as("acctbal"))
      .orderBy($"c_custkey")
  }

  val q56Sql: String =
    """SELECT c_custkey, c_name,
      |  COALESCE(c_mktsegment, '?') AS mktsegment,
      |  COALESCE(c_acctbal, -1.0) AS acctbal
      |FROM (
      |  SELECT c_custkey, c_name, c_mktsegment FROM customer WHERE c_custkey <= 100
      |  UNION ALL BY NAME
      |  SELECT c_custkey, c_name, c_acctbal FROM customer
      |  WHERE c_custkey > 100 AND c_custkey <= 200)
      |ORDER BY c_custkey""".stripMargin

  /** q57: explode_outer — rows with empty arrays survive as nulls
    * (the oracle emulates it by substituting [NULL] for empty lists).
    */
  def q57ExplodeOuter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    table(spark, dir, "documents")
      .withColumn("rare_toks", expr("filter(split(text, ' '), t -> t IN ('window', 'stream'))"))
      .select($"source", explode_outer($"rare_toks").as("tok"))
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_rows"),
        count($"tok").as("n_toks"),
        sum(when($"tok".isNull, 1L).otherwise(0L)).as("n_docs_without"))
      .orderBy($"source")
  }

  val q57Sql: String =
    """SELECT source, COUNT(*) AS n_rows, COUNT(tok) AS n_toks,
      |  CAST(SUM(CASE WHEN tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_without
      |FROM (
      |  SELECT source, unnest(CASE WHEN l IS NULL OR len(l) = 0 THEN [NULL] ELSE l END) AS tok
      |  FROM (SELECT source, list_filter(string_split(text, ' '),
      |          t -> t IN ('window', 'stream')) AS l
      |        FROM documents))
      |GROUP BY source ORDER BY source""".stripMargin

  /** q59: array functions — per-row sort/slice/reverse over the embedding
    * arrays (element extraction is exact on floats).
    */
  def q59ArrayFuncs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    table(spark, dir, "embeddings")
      .filter($"vec_id" < 50)
      .select(
        $"vec_id",
        size($"embedding").cast("long").as("dim"),
        element_at(array_sort($"embedding"), 1).cast("double").as("min_elem"),
        element_at(array_sort($"embedding"), -1).cast("double").as("max_elem"),
        element_at($"embedding", -1).cast("double").as("last_elem"),
        // scalar extraction from the sliced array: the driver's pandas
        // hash-compare cannot hash array cells, so the slice is surfaced
        // as scalar doubles (ADVICE r1)
        element_at(expr("slice(array_sort(embedding), 1, 3)"), 2)
          .cast("double").as("bottom2"),
        element_at(expr("slice(array_sort(embedding), 1, 3)"), 3)
          .cast("double").as("bottom3"))
      .orderBy($"vec_id")
  }

  val q59Sql: String =
    """SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
      |  CAST(list_sort(embedding)[1] AS DOUBLE) AS min_elem,
      |  CAST(list_sort(embedding)[-1] AS DOUBLE) AS max_elem,
      |  CAST(embedding[-1] AS DOUBLE) AS last_elem,
      |  CAST(list_sort(embedding)[1:3][2] AS DOUBLE) AS bottom2,
      |  CAST(list_sort(embedding)[1:3][3] AS DOUBLE) AS bottom3
      |FROM embeddings WHERE vec_id < 50 ORDER BY vec_id""".stripMargin

  /** q60: boolean/conditional aggregates — count_if, bool_and/bool_or,
    * FILTER-style conditional sums.
    */
  def q60BoolAggs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    table(spark, dir, "orders")
      .groupBy($"o_orderpriority")
      .agg(
        count_if($"o_totalprice" > 100000.0).as("n_big"),
        bool_and($"o_totalprice" > 0.0).as("all_positive"),
        bool_or($"o_orderstatus" === "P").as("any_pending"),
        dsum(when($"o_orderstatus" === "F", $"o_totalprice").otherwise(0.0)).as("sum_f"))
      .orderBy($"o_orderpriority")
  }

  val q60Sql: String =
    """SELECT o_orderpriority,
      |  CAST(count_if(o_totalprice > 100000.0) AS BIGINT) AS n_big,
      |  bool_and(o_totalprice > 0.0) AS all_positive,
      |  bool_or(o_orderstatus = 'P') AS any_pending,
      |  CAST(SUM(CAST(CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0.0 END
      |    AS DECIMAL(18,2))) AS DOUBLE) AS sum_f
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** q63: string shaping functions — pad, repeat, translate, left/right
    * slices, reverse (all dialect-shared).
    */
  def q63StringShaping(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    table(spark, dir, "nation")
      .select(
        $"n_nationkey".cast("long").as("nationkey"),
        lpad($"n_name", 20, ".").as("padded_l"),
        rpad($"n_name", 20, "_").as("padded_r"),
        expr("repeat('*', CAST(n_nationkey % 5 AS INT))").as("stars"),
        translate($"n_name", "AEIOU", "aeiou").as("lower_vowels"),
        expr("left(n_name, 4)").as("prefix4"),
        expr("right(n_name, 3)").as("suffix3"),
        reverse($"n_name").as("reversed"))
      .orderBy($"nationkey")
  }

  val q63Sql: String =
    """SELECT CAST(n_nationkey AS BIGINT) AS nationkey,
      |  lpad(n_name, 20, '.') AS padded_l,
      |  rpad(n_name, 20, '_') AS padded_r,
      |  repeat('*', CAST(n_nationkey % 5 AS INT)) AS stars,
      |  translate(n_name, 'AEIOU', 'aeiou') AS lower_vowels,
      |  left(n_name, 4) AS prefix4,
      |  right(n_name, 3) AS suffix3,
      |  reverse(n_name) AS reversed
      |FROM nation ORDER BY nationkey""".stripMargin

  /** q62: window value functions — first_value/last_value (full frame),
    * nth_value, ntile quartiles over per-customer order history.
    */
  def q62WindowValues(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ord = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    val full = ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    table(spark, dir, "orders")
      .filter($"o_custkey" < 50)
      .select(
        $"o_custkey", $"o_orderkey", $"o_orderdate", $"o_totalprice",
        first($"o_totalprice").over(full).as("first_price"),
        last($"o_totalprice").over(full).as("last_price"),
        nth_value($"o_totalprice", 2).over(full).as("second_price"),
        ntile(4).over(ord).cast("long").as("quartile"))
      .orderBy($"o_custkey", $"o_orderdate", $"o_orderkey")
  }

  val q62Sql: String =
    """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
      |  FIRST_VALUE(o_totalprice) OVER w_full AS first_price,
      |  LAST_VALUE(o_totalprice)  OVER w_full AS last_price,
      |  NTH_VALUE(o_totalprice, 2) OVER w_full AS second_price,
      |  NTILE(4) OVER w_ord AS quartile
      |FROM orders WHERE o_custkey < 50
      |WINDOW
      |  w_full AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
      |  w_ord AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin

  /** q61: null-safe equality (`<=>` / IS NOT DISTINCT FROM) — nulls
    * synthesized with nullif compare equal to each other, unlike `=`.
    */
  def q61NullSafeJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = table(spark, dir, "customer")
      .select($"c_custkey", nullif($"c_nationkey", lit(3)).as("nk"))
    val n = table(spark, dir, "nation")
      .select(nullif($"n_nationkey", lit(3)).as("nk"), $"n_name")
    c.join(broadcast(n), c("nk") <=> n("nk"))
      .groupBy(coalesce(c("nk"), lit(-1)).cast("long").as("nationkey"),
        $"n_name")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy($"nationkey", $"n_name")
  }

  val q61Sql: String =
    """SELECT CAST(COALESCE(c.nk, -1) AS BIGINT) AS nationkey, n.n_name,
      |  COUNT(*) AS n_customers
      |FROM (SELECT c_custkey, nullif(c_nationkey, 3) AS nk FROM customer) c
      |JOIN (SELECT nullif(n_nationkey, 3) AS nk, n_name FROM nation) n
      |  ON c.nk IS NOT DISTINCT FROM n.nk
      |GROUP BY 1, 2 ORDER BY nationkey, n_name""".stripMargin

  /** q111: referential-integrity audit — the data-quality gate a
    * pipeline runs before trusting a snapshot: orphan counts across the
    * star schema (orders without a customer, lineitems without an
    * order/part/supplier) as ONE summary row of left-anti-join counts.
    * Each anti-join broadcasts its dimension's key column only (the
    * build side is keys, not rows), the fact table is scanned once per
    * check with nothing but the checked key read, and the four scalar
    * counts cross-join into the report row.
    */
  def q111IntegrityAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = table(spark, dir, "lineitem")
    def orphans(fact: DataFrame, factKey: String, dim: String,
        dimKey: String): DataFrame =
      fact.select(col(factKey))
        .join(broadcast(rawTable(spark, dir, dim).select(col(dimKey))),
          col(factKey) === col(dimKey), "left_anti")
        .agg(count(lit(1)).as(s"n_${dim}_orphans"))
    orphans(table(spark, dir, "orders"), "o_custkey", "customer", "c_custkey")
      .crossJoin(orphans(li, "l_orderkey", "orders", "o_orderkey"))
      .crossJoin(orphans(li, "l_partkey", "part", "p_partkey"))
      .crossJoin(orphans(li, "l_suppkey", "supplier", "s_suppkey"))
  }

  val q111Sql: String =
    """SELECT
      |  (SELECT COUNT(*) FROM orders o
      |     WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
      |    AS n_customer_orphans,
      |  (SELECT COUNT(*) FROM lineitem l
      |     WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
      |    AS n_orders_orphans,
      |  (SELECT COUNT(*) FROM lineitem l
      |     WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
      |    AS n_part_orphans,
      |  (SELECT COUNT(*) FROM lineitem l
      |     WHERE NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
      |    AS n_supplier_orphans""".stripMargin

  /** q112: returned-item revenue ranking (TPC-H Q10 shape) — which
    * customers returned the most revenue in a quarter: lineitem filtered
    * to returns joins orders (date-windowed) and the customer + nation
    * dims, top 20 by lost revenue. The date and flag predicates push to
    * the scans; dims broadcast; one fact shuffle per join key; the final
    * top-20 is a TakeOrdered over the |customers|-row aggregate.
    */
  def q112ReturnedRevenue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = table(spark, dir, "lineitem").filter($"l_returnflag" === "R")
    val ord = table(spark, dir, "orders")
      .filter($"o_orderdate" >= ldt("1996-01-01T00:00:00") &&
        $"o_orderdate" < ldt("1996-07-01T00:00:00"))
    val cust = rawTable(spark, dir, "customer")
    val nat = rawTable(spark, dir, "nation")
    li.join(ord, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .join(broadcast(nat), $"c_nationkey" === $"n_nationkey")
      .groupBy($"c_custkey", $"c_name", $"n_name")
      .agg(
        dsum6($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("lost_revenue"),
        count(lit(1)).as("n_returned_items"))
      .orderBy($"lost_revenue".desc, $"c_custkey")
      .limit(20)
  }

  val q112Sql: String =
    """SELECT c_custkey, c_name, n_name,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(24,6))) AS DOUBLE)
      |    AS lost_revenue,
      |  COUNT(*) AS n_returned_items
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |WHERE l_returnflag = 'R'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
      |GROUP BY c_custkey, c_name, n_name
      |ORDER BY lost_revenue DESC, c_custkey LIMIT 20""".stripMargin

  /** q190: national market share (the TPC-H Q8 shape) — within the
    * AMERICA customer market and PROMO parts, NATION_1 suppliers' share
    * of order volume by year. The star joins are all broadcast (part
    * filter, supplier+nation, customer+nation+region) so the only fact
    * shuffle is lineitem→orders on the order key; the share is a
    * conditional decimal-sum ratio — one aggregation, one IEEE division.
    */
  def q190MarketShare(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = table(spark, dir, "lineitem")
    val ord = table(spark, dir, "orders")
      .filter($"o_orderdate" >= ldt("1995-01-01T00:00:00") &&
        $"o_orderdate" < ldt("1997-01-01T00:00:00"))
    val part = rawTable(spark, dir, "part").filter($"p_type" === "PROMO")
    val supp = rawTable(spark, dir, "supplier")
    val cust = rawTable(spark, dir, "customer")
    val nat = rawTable(spark, dir, "nation")
    val reg = rawTable(spark, dir, "region").filter($"r_name" === "AMERICA")
    val snat = nat.select($"n_nationkey".as("s_natkey"), $"n_name".as("supp_nation"))
    val cnat = nat.select($"n_nationkey".as("c_natkey"), $"n_regionkey")
    val vol = $"l_extendedprice" * (lit(1.0) - $"l_discount")
    li.join(ord, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(part), $"l_partkey" === $"p_partkey")
      .join(broadcast(supp), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(snat), $"s_nationkey" === $"s_natkey")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .join(broadcast(cnat), $"c_nationkey" === $"c_natkey")
      .join(broadcast(reg), $"n_regionkey" === $"r_regionkey")
      .groupBy(year($"o_orderdate").cast("long").as("o_year"))
      .agg(
        dsum6(when($"supp_nation" === "NATION_1", vol).otherwise(lit(0.0)))
          .as("nation_volume"),
        dsum6(vol).as("total_volume"))
      .select($"o_year", round($"nation_volume" / $"total_volume", 6)
          .as("mkt_share"),
        $"nation_volume", $"total_volume")
      .orderBy($"o_year")
  }

  val q190Sql: String =
    """SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
      |  ROUND(
      |    CAST(SUM(CAST(CASE WHEN n1.n_name = 'NATION_1'
      |        THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END
      |      AS DECIMAL(24,6))) AS DOUBLE)
      |    / CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
      |      AS DECIMAL(24,6))) AS DOUBLE), 6) AS mkt_share,
      |  CAST(SUM(CAST(CASE WHEN n1.n_name = 'NATION_1'
      |      THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END
      |    AS DECIMAL(24,6))) AS DOUBLE) AS nation_volume,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
      |    AS DECIMAL(24,6))) AS DOUBLE) AS total_volume
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN part     ON l_partkey = p_partkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |JOIN region   ON n2.n_regionkey = r_regionkey
      |WHERE p_type = 'PROMO' AND r_name = 'AMERICA'
      |  AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      |  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY 1 ORDER BY o_year""".stripMargin

  /** q201: sole-returning supplier (the TPC-H Q21 double-correlation
    * shape) — suppliers who returned an item in multi-supplier orders
    * where NO other supplier returned: a correlated EXISTS (another
    * supplier participated) plus a correlated NOT EXISTS (no other
    * supplier returned), re-expressed Spark-first as one LEFT SEMI and
    * one LEFT ANTI join over the distinct (order, supplier)
    * participation pairs. Both joins are equi on the order key with a
    * supplier-inequality residual — hash joins, never a cartesian — and
    * the pair frames are distinct-collapsed BEFORE joining so the join
    * inputs are |participations|, not line items.
    */
  def q201SoleReturner(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = table(spark, dir, "lineitem")
    val pairs = li.filter($"l_returnflag" === "R")
      .select($"l_orderkey", $"l_suppkey").distinct()
    val all = li.select($"l_orderkey", $"l_suppkey").distinct()
    val withOther = pairs.as("p").join(all.as("a"),
      $"p.l_orderkey" === $"a.l_orderkey" &&
        $"p.l_suppkey" =!= $"a.l_suppkey", "left_semi")
    val sole = withOther.as("p").join(pairs.as("r"),
      $"p.l_orderkey" === $"r.l_orderkey" &&
        $"p.l_suppkey" =!= $"r.l_suppkey", "left_anti")
    val supp = rawTable(spark, dir, "supplier").select($"s_suppkey", $"s_name")
    sole.groupBy($"l_suppkey").agg(count(lit(1)).as("n_sole_return_orders"))
      .join(broadcast(supp), $"l_suppkey" === $"s_suppkey")
      .select($"s_suppkey", $"s_name", $"n_sole_return_orders")
      .orderBy($"n_sole_return_orders".desc, $"s_suppkey")
      .limit(20)
  }

  val q201Sql: String =
    """WITH pairs AS (
      |  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
      |  WHERE l_returnflag = 'R'),
      |alls AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
      |sole AS (
      |  SELECT p.l_orderkey, p.l_suppkey FROM pairs p
      |  WHERE EXISTS (
      |      SELECT 1 FROM alls a
      |      WHERE a.l_orderkey = p.l_orderkey
      |        AND a.l_suppkey <> p.l_suppkey)
      |    AND NOT EXISTS (
      |      SELECT 1 FROM pairs r
      |      WHERE r.l_orderkey = p.l_orderkey
      |        AND r.l_suppkey <> p.l_suppkey))
      |SELECT s.s_suppkey, s.s_name, COUNT(*) AS n_sole_return_orders
      |FROM sole JOIN supplier s ON sole.l_suppkey = s.s_suppkey
      |GROUP BY 1, 2 ORDER BY n_sole_return_orders DESC, s_suppkey
      |LIMIT 20""".stripMargin

  /** q208: revenue Pareto concentration — customers bucketed into
    * revenue deciles (NTILE over exact-decimal per-customer revenue,
    * ties broken by custkey so the bucketing is engine-identical), with
    * each decile's revenue and the cumulative share: the "do 10% of
    * customers carry 40% of revenue" card. The heavy lifting is one
    * hash agg per customer; the cumulative-share frame is 10 rows.
    * Scale note: the NTILE window sorts the PER-CUSTOMER frame (already
    * |customers|, never |orders|) in one partition — fine to ~10⁷
    * customers; beyond that, swap the exact NTILE for decile edges from
    * the exact-quantile engine ([[Extended.exactQuantilesMulti]]) and a
    * narrow comparison assignment (tie placement at edges then differs
    * from NTILE's rank split, which is why the oracle-matched variant
    * keeps NTILE).
    */
  def q208RevenuePareto(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // revenue stays DECIMAL through BOTH aggregations (per-customer and
    // per-decile) so the cent-rounded decile totals are exact, not a
    // double re-sum
    val perCust = table(spark, dir, "orders")
      .groupBy($"o_custkey")
      .agg(sum($"o_totalprice"
        .cast(org.apache.spark.sql.types.DecimalType(24, 6)))
        .as("revenue"))
    val w = Window.orderBy($"revenue".desc, $"o_custkey")
    val dec = perCust
      .withColumn("decile", ntile(10).over(w).cast("long"))
      .groupBy($"decile")
      .agg(count(lit(1)).as("n_cust"),
        round(sum($"revenue").cast("double"), 2).as("decile_revenue"))
    dec
      .withColumn("cum_share", round(
        sum($"decile_revenue").over(Window.orderBy($"decile")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          / sum($"decile_revenue").over(Window.partitionBy()), 6))
      .orderBy($"decile")
  }

  val q208Sql: String =
    """WITH pc AS (
      |  SELECT o_custkey,
      |    SUM(CAST(o_totalprice AS DECIMAL(24,6))) AS revenue
      |  FROM orders GROUP BY o_custkey),
      |dec AS (
      |  SELECT CAST(NTILE(10) OVER (ORDER BY revenue DESC, o_custkey)
      |    AS BIGINT) AS decile, revenue
      |  FROM pc),
      |g AS (
      |  SELECT decile, COUNT(*) AS n_cust,
      |    ROUND(CAST(SUM(revenue) AS DOUBLE), 2) AS decile_revenue
      |  FROM dec GROUP BY decile)
      |SELECT decile, n_cust, decile_revenue,
      |  ROUND(SUM(decile_revenue) OVER (ORDER BY decile
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    / SUM(decile_revenue) OVER (), 6) AS cum_share
      |FROM g ORDER BY decile""".stripMargin

  /** q227: small-quantity-order revenue (the TPC-H Q17 correlated-avg
    * shape) — revenue locked up in orders of a brand's parts whose
    * quantity is below 20% of that part's historical average. The
    * correlated scalar subquery (per-part avg over ALL of lineitem)
    * becomes one hash aggregate over the brand's line items joined back
    * by part key; the brand part list is a broadcast semi-join pushed
    * BELOW both the aggregate and the final join, so the big table is
    * scanned once and filtered at the scan. The threshold is
    * sum/(5·n) from an exact decimal sum — one correctly-rounded
    * division, engine-identical — rather than 0.2·avg(double).
    */
  def q227SmallQtyRevenue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val brandParts = rawTable(spark, dir, "part")
      .filter($"p_brand" === "Brand#4").select($"p_partkey")
    val li = table(spark, dir, "lineitem")
      .join(broadcast(brandParts), $"l_partkey" === $"p_partkey", "left_semi")
    val thr = li.groupBy($"l_partkey".as("t_partkey"))
      .agg((dsum($"l_quantity") / (count(lit(1)) * 5.0)).as("q_thr"))
    li.join(thr, $"l_partkey" === $"t_partkey")
      .filter($"l_quantity" < $"q_thr")
      .agg(round(dsum($"l_extendedprice") / 7.0, 2).as("avg_yearly"))
  }

  val q227Sql: String =
    """WITH bp AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#4'),
      |li AS (
      |  SELECT l_partkey, l_quantity, l_extendedprice FROM lineitem
      |  WHERE l_partkey IN (SELECT p_partkey FROM bp)),
      |thr AS (
      |  SELECT l_partkey AS t_partkey,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
      |      / (COUNT(*) * 5.0) AS q_thr
      |  FROM li GROUP BY 1)
      |SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
      |    AS DOUBLE) / 7.0, 2) AS avg_yearly
      |FROM li JOIN thr ON l_partkey = t_partkey
      |WHERE l_quantity < q_thr""".stripMargin

  /** q228: large-volume orders (the TPC-H Q18 group-HAVING-IN shape) —
    * orders whose total quantity exceeds 250 units, with their
    * customer. The IN-subquery over a grouped HAVING is one hash
    * aggregate on the order key (which REUSES the lineitem spread
    * partitioning — no extra shuffle) filtered before any join, so the
    * order/customer joins see only the ~10⁻² surviving fraction.
    * Exact-decimal quantity sums; top 20 by price with key tie-break.
    */
  def q228BigOrders(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val big = table(spark, dir, "lineitem")
      .groupBy($"l_orderkey")
      .agg(dsum($"l_quantity").as("sum_qty"))
      .filter($"sum_qty" > 250.0)
    val ord = table(spark, dir, "orders")
      .join(big, $"o_orderkey" === $"l_orderkey")
    ord.join(table(spark, dir, "customer"), $"o_custkey" === $"c_custkey")
      .select($"c_name", $"o_custkey", $"o_orderkey", $"o_orderdate",
        $"o_totalprice", round($"sum_qty", 2).as("sum_qty"))
      .orderBy($"o_totalprice".desc, $"o_orderkey")
      .limit(20)
  }

  val q228Sql: String =
    """WITH big AS (
      |  SELECT l_orderkey,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |  FROM lineitem GROUP BY 1
      |  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250.0)
      |SELECT c_name, o_custkey, o_orderkey, o_orderdate, o_totalprice,
      |  ROUND(sum_qty, 2) AS sum_qty
      |FROM orders JOIN big ON o_orderkey = l_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin

  /** q229: dormant high-balance customers (the TPC-H Q22 shape —
    * global-scalar threshold + NOT EXISTS) — per nation, customers
    * whose balance beats the all-positive-balance average but who never
    * placed an URGENT order. The scalar subquery is a one-row broadcast
    * cross join (threshold = exact decimal sum / count, one division);
    * the NOT EXISTS is a LEFT ANTI against the distinct urgent-order
    * customer keys, collapsed BEFORE the join so the anti probe is
    * |distinct customers|, not |orders|.
    */
  def q229DormantBalances(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cust = table(spark, dir, "customer")
    val thr = cust.filter($"c_acctbal" > 0.0)
      .agg((dsum($"c_acctbal") / count(lit(1))).as("bal_thr"))
    val urgent = table(spark, dir, "orders")
      .filter($"o_orderpriority" === "1-URGENT")
      .select($"o_custkey").distinct()
    cust.crossJoin(broadcast(thr))
      .filter($"c_acctbal" > $"bal_thr")
      .join(urgent, $"c_custkey" === $"o_custkey", "left_anti")
      .groupBy($"c_nationkey")
      .agg(count(lit(1)).as("n_custs"),
        round(dsum($"c_acctbal"), 2).as("total_bal"))
      .orderBy($"c_nationkey")
  }

  val q229Sql: String =
    """WITH thr AS (
      |  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
      |    / COUNT(*) AS bal_thr
      |  FROM customer WHERE c_acctbal > 0.0),
      |urgent AS (
      |  SELECT DISTINCT o_custkey FROM orders
      |  WHERE o_orderpriority = '1-URGENT')
      |SELECT c_nationkey, COUNT(*) AS n_custs,
      |  ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2)
      |    AS total_bal
      |FROM customer CROSS JOIN thr
      |WHERE c_acctbal > bal_thr
      |  AND NOT EXISTS (SELECT 1 FROM urgent u
      |                  WHERE u.o_custkey = c_custkey)
      |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin

  /** q230: cheapest supplier per part (the TPC-H Q2 correlated-min
    * shape) — for every size-10 part, the supplier with the lowest
    * observed unit price, with nation attribution. The correlated MIN
    * becomes a per-(part,supplier) hash aggregate (unit price =
    * price/qty, correctly-rounded division, identical both engines)
    * and the arg-min a rank-1 window per part with a supplier-key tie
    * break — deterministic, engine-identical selection, never a
    * self-join back on a float equality. Dims broadcast; the only
    * data-sized shuffle is the (part,supplier) aggregate.
    */
  def q230CheapestSupplier(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val parts = rawTable(spark, dir, "part")
      .filter($"p_size" === 10).select($"p_partkey", $"p_name")
    val uc = table(spark, dir, "lineitem")
      .join(broadcast(parts.select($"p_partkey")),
        $"l_partkey" === $"p_partkey", "left_semi")
      .groupBy($"l_partkey", $"l_suppkey")
      .agg(min($"l_extendedprice" / $"l_quantity").as("unit_cost"))
    val w = Window.partitionBy($"l_partkey")
      .orderBy($"unit_cost", $"l_suppkey")
    val best = uc.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
    val supp = rawTable(spark, dir, "supplier")
    val nat = rawTable(spark, dir, "nation")
    best.join(broadcast(parts), $"l_partkey" === $"p_partkey")
      .join(broadcast(supp), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(nat), $"s_nationkey" === $"n_nationkey")
      .select($"p_partkey", $"p_name", $"s_name", $"n_name",
        round($"unit_cost", 6).as("unit_cost"))
      .orderBy($"p_partkey")
  }

  val q230Sql: String =
    """WITH uc AS (
      |  SELECT l_partkey, l_suppkey,
      |    MIN(l_extendedprice / l_quantity) AS unit_cost
      |  FROM lineitem
      |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size = 10)
      |  GROUP BY 1, 2),
      |best AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY l_partkey
      |    ORDER BY unit_cost, l_suppkey) AS rn
      |  FROM uc)
      |SELECT p_partkey, p_name, s_name, n_name,
      |  ROUND(unit_cost, 6) AS unit_cost
      |FROM best
      |JOIN part ON l_partkey = p_partkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |WHERE rn = 1 ORDER BY p_partkey""".stripMargin

  /** q235: join-blowup audit — the cardinality forecast an operator
    * reads BEFORE submitting a self-join: exact output size of
    * lineitem⋈lineitem on l_partkey (Σₖ n(k)²) and the top-5 keys by
    * contribution. A single hot key routinely carries most of a skewed
    * join's output; this card prices the join and names the keys to
    * salt ([[graft.operators.Skew]]) — for the cost of one per-key
    * count aggregate, a 1-row broadcast total, and a TakeOrdered top-5.
    * Nothing here grows with the would-be join output.
    */
  def q235JoinBlowup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perKey = table(spark, dir, "lineitem")
      .groupBy($"l_partkey")
      .agg(count(lit(1)).as("n_rows"))
    val tot = perKey.agg(
      sum($"n_rows" * $"n_rows").as("total_pairs"),
      sum($"n_rows").as("total_rows"),
      count(lit(1)).as("n_keys"))
    perKey.crossJoin(broadcast(tot))
      .select($"l_partkey", $"n_rows",
        ($"n_rows" * $"n_rows").as("pair_contrib"),
        round(($"n_rows" * $"n_rows").cast("double") / $"total_pairs", 6)
          .as("share"),
        $"total_pairs", $"total_rows", $"n_keys")
      .orderBy($"n_rows".desc, $"l_partkey")
      .limit(5)
  }

  val q235Sql: String =
    """WITH pk AS (
      |  SELECT l_partkey, COUNT(*) AS n_rows FROM lineitem GROUP BY 1),
      |tot AS (
      |  SELECT SUM(n_rows * n_rows) AS total_pairs,
      |    SUM(n_rows) AS total_rows, COUNT(*) AS n_keys
      |  FROM pk)
      |SELECT l_partkey, CAST(n_rows AS BIGINT) AS n_rows,
      |  CAST(n_rows * n_rows AS BIGINT) AS pair_contrib,
      |  ROUND(CAST(n_rows * n_rows AS DOUBLE) / total_pairs, 6) AS share,
      |  CAST(total_pairs AS BIGINT) AS total_pairs,
      |  CAST(total_rows AS BIGINT) AS total_rows,
      |  CAST(n_keys AS BIGINT) AS n_keys
      |FROM pk CROSS JOIN tot
      |ORDER BY n_rows DESC, l_partkey LIMIT 5""".stripMargin

  /** q236: important part values (the TPC-H Q11 group-HAVING-vs-global
    * shape) — parts whose revenue through nations-0-4 suppliers exceeds
    * 0.0011 of that region's total. The supplier region filter is a
    * broadcast semi-join at the scan; the global total is the same
    * 1-row broadcast as q229 but over the ALREADY-AGGREGATED per-part
    * frame, so the second pass costs |parts|, not line items. Exact
    * decimal sums make the threshold comparison engine-identical.
    */
  def q236ImportantParts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val regionSupp = rawTable(spark, dir, "supplier")
      .filter($"s_nationkey" < 5).select($"s_suppkey")
    val v = table(spark, dir, "lineitem")
      .join(broadcast(regionSupp), $"l_suppkey" === $"s_suppkey", "left_semi")
      .groupBy($"l_partkey")
      .agg(dsum($"l_extendedprice").as("part_value"))
    val tot = v.agg(dsum6($"part_value").as("total_value"))
    v.crossJoin(broadcast(tot))
      .filter($"part_value" > $"total_value" * 0.0011)
      .select($"l_partkey", round($"part_value", 2).as("part_value"))
      .orderBy($"part_value".desc, $"l_partkey")
  }

  val q236Sql: String =
    """WITH rs AS (SELECT s_suppkey FROM supplier WHERE s_nationkey < 5),
      |v AS (
      |  SELECT l_partkey,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
      |      AS part_value
      |  FROM lineitem WHERE l_suppkey IN (SELECT s_suppkey FROM rs)
      |  GROUP BY 1),
      |t AS (
      |  SELECT CAST(SUM(CAST(part_value AS DECIMAL(24,6))) AS DOUBLE)
      |    AS total_value
      |  FROM v)
      |SELECT l_partkey, ROUND(part_value, 2) AS part_value
      |FROM v CROSS JOIN t
      |WHERE part_value > total_value * 0.0011
      |ORDER BY part_value DESC, l_partkey""".stripMargin

  /** q237: top supplier(s) by quarterly revenue (the TPC-H Q15
    * view-plus-scalar-max shape) — revenue per supplier over Q1-1997
    * shipments, keeping every supplier TIED at the maximum (the classic
    * "= (SELECT MAX ...)" correlation, not a LIMIT 1 that would drop
    * ties). Revenue folds as exact decimals on the 1e-6 grid, so the
    * float equality against the 1-row broadcast max is engine-safe —
    * the only join is that broadcast.
    */
  def q237TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rev = table(spark, dir, "lineitem")
      .filter($"l_shipdate" >= ldt("1997-01-01T00:00:00") &&
        $"l_shipdate" < ldt("1997-04-01T00:00:00"))
      .groupBy($"l_suppkey")
      .agg(dsum6($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("rev"))
    val mx = rev.agg(max($"rev").as("max_rev"))
    rev.crossJoin(broadcast(mx)).filter($"rev" === $"max_rev")
      .join(broadcast(rawTable(spark, dir, "supplier")),
        $"l_suppkey" === $"s_suppkey")
      .select($"s_suppkey", $"s_name", round($"rev", 2).as("total_revenue"))
      .orderBy($"s_suppkey")
  }

  val q237Sql: String =
    """WITH r AS (
      |  SELECT l_suppkey,
      |    CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
      |      AS DECIMAL(24,6))) AS DOUBLE) AS rev
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |    AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
      |  GROUP BY 1)
      |SELECT s_suppkey, s_name, ROUND(rev, 2) AS total_revenue
      |FROM r JOIN supplier ON l_suppkey = s_suppkey
      |WHERE rev = (SELECT MAX(rev) FROM r)
      |ORDER BY s_suppkey""".stripMargin

  /** q238: heavy shippers of a part family (the TPC-H Q20 nested-IN
    * chain) — nations-0-9 suppliers who moved >40 units of at least two
    * distinct red-prefixed parts. The three-level nesting (parts →
    * qualifying (supplier, part) volumes → qualifying suppliers)
    * becomes a broadcast-semi part filter at the scan, a
    * (supplier, part) hash aggregate with a HAVING cut, and a
    * supplier-level recount — each level collapses before the next, so
    * the chain never joins raw line items against raw line items.
    */
  def q238HeavyShippers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val redParts = rawTable(spark, dir, "part")
      .filter($"p_name".startsWith("red ")).select($"p_partkey")
    val qualifying = table(spark, dir, "lineitem")
      .join(broadcast(redParts), $"l_partkey" === $"p_partkey", "left_semi")
      .groupBy($"l_suppkey", $"l_partkey")
      .agg(dsum($"l_quantity").as("qty"))
      .filter($"qty" > 40.0)
    val heavy = qualifying.groupBy($"l_suppkey")
      .agg(count(lit(1)).as("n_heavy_parts"))
      .filter($"n_heavy_parts" >= 2)
    heavy.join(broadcast(rawTable(spark, dir, "supplier")
        .filter($"s_nationkey" < 10)), $"l_suppkey" === $"s_suppkey")
      .select($"s_suppkey", $"s_name", $"n_heavy_parts")
      .orderBy($"s_suppkey")
  }

  val q238Sql: String =
    """WITH red AS (SELECT p_partkey FROM part WHERE p_name LIKE 'red %'),
      |q AS (
      |  SELECT l_suppkey, l_partkey,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      |  FROM lineitem WHERE l_partkey IN (SELECT p_partkey FROM red)
      |  GROUP BY 1, 2 HAVING qty > 40.0),
      |h AS (
      |  SELECT l_suppkey, COUNT(*) AS n_heavy_parts FROM q
      |  GROUP BY 1 HAVING COUNT(*) >= 2)
      |SELECT s_suppkey, s_name, CAST(n_heavy_parts AS BIGINT)
      |  AS n_heavy_parts
      |FROM h JOIN supplier ON l_suppkey = s_suppkey
      |WHERE s_nationkey < 10 ORDER BY s_suppkey""".stripMargin

  // --------------------------------------------------------------------
  // q253-q262 complete the TPC-H join-shape family: with these, all 22
  // canonical TPC-H plan shapes have a representative in the suite
  // (adapted where the synthetic schema lacks partsupp / l_shipmode /
  // l_commitdate — each adaptation keeps the SHAPE, which is what the
  // optimizer exercises, and documents the substitution).
  // --------------------------------------------------------------------

  /** q253: shipping priority (the TPC-H Q3 shape) — unshipped revenue of
    * BUILDING-segment orders, top 10. The segment filter collapses
    * customers to a broadcast semi-join at the orders scan; lineitem and
    * orders then equi-join on the order key they are both already spread
    * by, and the top-10 cut is a TakeOrderedAndProject (per-partition
    * heap, never a global sort). Ties at the cut are broken by order key
    * on both engines, so the LIMIT is deterministic.
    */
  def q253ShippingPriority(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cust = rawTable(spark, dir, "customer")
      .filter($"c_mktsegment" === "BUILDING").select($"c_custkey")
    val ord = table(spark, dir, "orders")
      .filter($"o_orderdate" < ldt("1998-07-01T00:00:00"))
      .join(broadcast(cust), $"o_custkey" === $"c_custkey", "left_semi")
    table(spark, dir, "lineitem")
      .filter($"l_shipdate" > ldt("1998-07-01T00:00:00"))
      .join(ord, $"l_orderkey" === $"o_orderkey")
      .groupBy($"l_orderkey", $"o_orderdate")
      .agg(dsum6($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("rev"))
      .select($"l_orderkey", round($"rev", 2).as("revenue"), $"o_orderdate")
      .orderBy($"revenue".desc, $"l_orderkey")
      .limit(10)
  }

  val q253Sql: String =
    """SELECT l_orderkey,
      |  ROUND(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
      |    AS DECIMAL(24,6))) AS DOUBLE), 2) AS revenue,
      |  o_orderdate
      |FROM customer
      |JOIN orders   ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-07-01 00:00:00'
      |  AND l_shipdate  > TIMESTAMP '1998-07-01 00:00:00'
      |GROUP BY l_orderkey, o_orderdate
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  /** q254: order-priority check (the TPC-H Q4 EXISTS shape) — per
    * priority, how many Q1-1997 orders had at least one line shipped
    * more than 60 days after the order date (the synthetic schema has no
    * l_commitdate/l_receiptdate, so "late" is shipdate − orderdate > 60d
    * — same correlated-EXISTS-with-inequality shape). The EXISTS is a
    * LEFT SEMI hash join on the order key with the inequality as a
    * residual — never a count-then-filter that would materialize the
    * multiplicity.
    */
  def q254OrderPriority(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ord = table(spark, dir, "orders")
      .filter($"o_orderdate" >= ldt("1997-01-01T00:00:00") &&
        $"o_orderdate" < ldt("1997-04-01T00:00:00"))
    val li = table(spark, dir, "lineitem")
    ord.join(li,
        $"o_orderkey" === $"l_orderkey" &&
          $"l_shipdate" > $"o_orderdate" + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy($"o_orderpriority")
  }

  val q254Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
      |  AND EXISTS (
      |    SELECT 1 FROM lineitem
      |    WHERE l_orderkey = o_orderkey
      |      AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** q255: forecast-revenue change (the TPC-H Q6 shape) — the purest
    * scan-filter-aggregate in the book: every predicate (shipdate year,
    * discount band, quantity cap) lands in PushedFilters on the parquet
    * scan, and the single global sum folds as exact decimals. At 100 TB
    * this is the query where pushdown IS the plan — nothing else runs.
    */
  def q255ForecastRevenue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    table(spark, dir, "lineitem")
      .filter($"l_shipdate" >= ldt("1997-01-01T00:00:00") &&
        $"l_shipdate" < ldt("1998-01-01T00:00:00") &&
        $"l_discount" >= 0.02 && $"l_discount" <= 0.04 &&
        $"l_quantity" < 24.0)
      .agg(dsum6($"l_extendedprice" * $"l_discount").as("rev"))
      .select(round($"rev", 2).as("revenue"))
  }

  val q255Sql: String =
    """SELECT ROUND(CAST(SUM(CAST(l_extendedprice * l_discount
      |    AS DECIMAL(24,6))) AS DOUBLE), 2) AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      |  AND l_discount BETWEEN 0.02 AND 0.04
      |  AND l_quantity < 24.0""".stripMargin

  /** q256: volume shipping between two nations (the TPC-H Q7 shape) —
    * revenue NATION_1↔NATION_2 by direction and ship year. Both nation
    * memberships are pushed to the supplier/customer scans (isin(1,2))
    * BEFORE any fact joins, so the broadcast dims carry only the two
    * nations; the cross-pair residual (exclude 1→1 and 2→2) runs after
    * the broadcasts. The only fact shuffle is lineitem→orders.
    */
  def q256VolumeShipping(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vol = $"l_extendedprice" * (lit(1.0) - $"l_discount")
    val supp = rawTable(spark, dir, "supplier")
      .filter($"s_nationkey".isin(1, 2))
      .select($"s_suppkey",
        concat(lit("NATION_"), $"s_nationkey").as("supp_nation"))
    val cust = rawTable(spark, dir, "customer")
      .filter($"c_nationkey".isin(1, 2))
      .select($"c_custkey",
        concat(lit("NATION_"), $"c_nationkey").as("cust_nation"))
    table(spark, dir, "lineitem")
      .filter($"l_shipdate" >= ldt("1996-01-01T00:00:00") &&
        $"l_shipdate" < ldt("1998-01-01T00:00:00"))
      .join(broadcast(supp), $"l_suppkey" === $"s_suppkey")
      .join(table(spark, dir, "orders"), $"l_orderkey" === $"o_orderkey")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .filter($"supp_nation" =!= $"cust_nation")
      .groupBy($"supp_nation", $"cust_nation",
        year($"l_shipdate").cast("long").as("l_year"))
      .agg(dsum6(vol).as("rev"))
      .select($"supp_nation", $"cust_nation", $"l_year",
        round($"rev", 2).as("revenue"))
      .orderBy($"supp_nation", $"cust_nation", $"l_year")
  }

  val q256Sql: String =
    """SELECT 'NATION_' || s_nationkey AS supp_nation,
      |  'NATION_' || c_nationkey AS cust_nation,
      |  CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
      |  ROUND(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
      |    AS DECIMAL(24,6))) AS DOUBLE), 2) AS revenue
      |FROM lineitem
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      |  AND s_nationkey IN (1, 2) AND c_nationkey IN (1, 2)
      |  AND s_nationkey <> c_nationkey
      |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** q257: product-type profit (the TPC-H Q9 shape) — profit on
    * bolt-parts by supplier nation and order year. The synthetic schema
    * has no partsupp/ps_supplycost, so cost is proxied as
    * 0.6·p_retailprice·quantity (documented substitution — the plan
    * shape, a 5-table star with a name-LIKE part filter and a
    * nation×year aggregate, is Q9's). Part/supplier/nation broadcast;
    * the only fact shuffle is lineitem→orders on the shared spread key.
    */
  def q257ProductProfit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val part = rawTable(spark, dir, "part")
      .filter($"p_name".contains("bolt"))
      .select($"p_partkey", $"p_retailprice")
    val supp = rawTable(spark, dir, "supplier")
      .select($"s_suppkey", $"s_nationkey")
    val nat = rawTable(spark, dir, "nation")
      .select($"n_nationkey", $"n_name")
    val amount = $"l_extendedprice" * (lit(1.0) - $"l_discount") -
      $"p_retailprice" * lit(0.6) * $"l_quantity"
    table(spark, dir, "lineitem")
      .join(broadcast(part), $"l_partkey" === $"p_partkey")
      .join(broadcast(supp), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(nat), $"s_nationkey" === $"n_nationkey")
      .join(table(spark, dir, "orders"), $"l_orderkey" === $"o_orderkey")
      .groupBy($"n_name".as("nation"),
        year($"o_orderdate").cast("long").as("o_year"))
      .agg(dsum6(amount).as("profit"))
      .select($"nation", $"o_year", round($"profit", 2).as("sum_profit"))
      .orderBy($"nation", $"o_year".desc)
  }

  val q257Sql: String =
    """SELECT n_name AS nation,
      |  CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
      |  ROUND(CAST(SUM(CAST(
      |    l_extendedprice * (1.0 - l_discount)
      |      - p_retailprice * 0.6 * l_quantity
      |    AS DECIMAL(24,6))) AS DOUBLE), 2) AS sum_profit
      |FROM lineitem
      |JOIN part     ON l_partkey = p_partkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation   ON s_nationkey = n_nationkey
      |JOIN orders   ON l_orderkey = o_orderkey
      |WHERE p_name LIKE '%bolt%'
      |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin

  /** q258: priority shipping split (the TPC-H Q12 shape) — per return
    * flag (standing in for the absent l_shipmode), 1998 shipments split
    * into high-priority (URGENT/HIGH) vs low-priority order counts. The
    * CASE-conditional sums fold map-side in one hash aggregate after the
    * single order-key join — Q12's join+conditional-count shape exactly.
    */
  def q258PriorityShipping(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val high = $"o_orderpriority".isin("1-URGENT", "2-HIGH")
    table(spark, dir, "lineitem")
      .filter($"l_shipdate" >= ldt("1998-01-01T00:00:00") &&
        $"l_shipdate" < ldt("1999-01-01T00:00:00"))
      .join(table(spark, dir, "orders"), $"l_orderkey" === $"o_orderkey")
      .groupBy($"l_returnflag")
      .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy($"l_returnflag")
  }

  val q258Sql: String =
    """SELECT l_returnflag,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
      |  AND l_shipdate <  TIMESTAMP '1999-01-01 00:00:00'
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** q259: customer order-count distribution (the TPC-H Q13 shape) —
    * how many customers placed 0, 1, 2, … non-LOW-priority orders. The
    * classic formulation outer-joins raw customers to raw orders; at
    * scale that shuffles the fact table to preserve zero-order
    * customers. Here orders pre-aggregate to one row per customer
    * FIRST (map-side partial → |customers| rows), and the outer join
    * runs customer-LEFT-JOIN-aggregate where the right side is the
    * already-collapsed frame — the zero-count rows come from
    * coalesce(n, 0), not from shuffling line-level multiplicity.
    */
  def q259CustomerDistribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perCust = table(spark, dir, "orders")
      .filter($"o_orderpriority" =!= "5-LOW")
      .groupBy($"o_custkey").agg(count(lit(1)).as("n"))
    table(spark, dir, "customer")
      .join(perCust, $"c_custkey" === $"o_custkey", "left_outer")
      .select($"c_custkey", coalesce($"n", lit(0L)).as("c_count"))
      .groupBy($"c_count").agg(count(lit(1)).as("custdist"))
      .orderBy($"custdist".desc, $"c_count".desc)
  }

  val q259Sql: String =
    """WITH pc AS (
      |  SELECT o_custkey, COUNT(*) AS n FROM orders
      |  WHERE o_orderpriority <> '5-LOW' GROUP BY 1),
      |cc AS (
      |  SELECT c_custkey, COALESCE(n, 0) AS c_count
      |  FROM customer LEFT JOIN pc ON c_custkey = o_custkey)
      |SELECT c_count, COUNT(*) AS custdist
      |FROM cc GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** q260: promotion revenue share (the TPC-H Q14 shape) — the share of
    * September-1997 revenue from PROMO-type parts, as a conditional
    * decimal-sum ratio over one broadcast part join. One aggregation,
    * one IEEE division at the end — the same ratio discipline as q190.
    */
  def q260PromoRevenue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vol = $"l_extendedprice" * (lit(1.0) - $"l_discount")
    table(spark, dir, "lineitem")
      .filter($"l_shipdate" >= ldt("1997-09-01T00:00:00") &&
        $"l_shipdate" < ldt("1997-10-01T00:00:00"))
      .join(broadcast(rawTable(spark, dir, "part")
        .select($"p_partkey", $"p_type")), $"l_partkey" === $"p_partkey")
      .agg(dsum6(when($"p_type" === "PROMO", vol).otherwise(lit(0.0)))
          .as("promo_rev"),
        dsum6(vol).as("total_rev"))
      .select(round(lit(100.0) * $"promo_rev" / $"total_rev", 6)
          .as("promo_pct"),
        round($"promo_rev", 2).as("promo_rev"),
        round($"total_rev", 2).as("total_rev"))
  }

  val q260Sql: String =
    """SELECT
      |  ROUND(100.0 *
      |    CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
      |      THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END
      |      AS DECIMAL(24,6))) AS DOUBLE)
      |    / CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
      |      AS DECIMAL(24,6))) AS DOUBLE), 6) AS promo_pct,
      |  ROUND(CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
      |    THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END
      |    AS DECIMAL(24,6))) AS DOUBLE), 2) AS promo_rev,
      |  ROUND(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
      |    AS DECIMAL(24,6))) AS DOUBLE), 2) AS total_rev
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
      |  AND l_shipdate <  TIMESTAMP '1997-10-01 00:00:00'""".stripMargin

  /** q261: parts-supplier relationship count (the TPC-H Q16 shape) —
    * distinct supplier count per (brand, type, size) bucket, excluding
    * flagged suppliers. The synthetic schema has no partsupp, so the
    * association is the DISTINCT (partkey, suppkey) projection of
    * lineitem (collapsed BEFORE any join — the relationship frame is
    * |partsupp|, not |lineitem|); the excluded-supplier NOT IN (no
    * comment column → negative account balance stands in) is a
    * broadcast LEFT ANTI, and the part attribute filter a broadcast
    * inner join. countDistinct is safe here because the grouping is
    * already the collapsed pair frame.
    */
  def q261PartsSupplierCount(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rel = table(spark, dir, "lineitem")
      .select($"l_partkey", $"l_suppkey").distinct()
    val flagged = rawTable(spark, dir, "supplier")
      .filter($"s_acctbal" < 0.0).select($"s_suppkey")
    val pt = rawTable(spark, dir, "part")
      .filter($"p_brand" =!= "Brand#1" && $"p_type" =!= "PROMO" &&
        $"p_size".isin(1, 4, 9, 14, 19, 23, 36, 45))
      .select($"p_partkey", $"p_brand", $"p_type", $"p_size")
    rel.join(broadcast(flagged), $"l_suppkey" === $"s_suppkey", "left_anti")
      .join(broadcast(pt), $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand", $"p_type", $"p_size")
      .agg(countDistinct($"l_suppkey").as("supplier_cnt"))
      .orderBy($"supplier_cnt".desc, $"p_brand", $"p_type", $"p_size")
  }

  val q261Sql: String =
    """WITH rel AS (
      |  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
      |ok AS (
      |  SELECT l_partkey, l_suppkey FROM rel
      |  WHERE l_suppkey NOT IN
      |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0))
      |SELECT p_brand, p_type, p_size,
      |  COUNT(DISTINCT l_suppkey) AS supplier_cnt
      |FROM ok JOIN part ON l_partkey = p_partkey
      |WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
      |  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
      |GROUP BY 1, 2, 3
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  /** q262: discounted-revenue triple (the TPC-H Q19 shape) — revenue
    * from three disjunctive (brand, size-band, quantity-band) clauses.
    * The brand disjunction's union (the only part of the OR that prunes
    * the dimension) is pushed to the part scan; the full three-clause OR
    * rides the single broadcast equi-join as a residual — one join, no
    * union-of-three-scans, no cartesian.
    */
  def q262DiscountedRevenue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pt = rawTable(spark, dir, "part")
      .filter($"p_brand".isin("Brand#1", "Brand#2", "Brand#3"))
      .select($"p_partkey", $"p_brand", $"p_size")
    val clause =
      ($"p_brand" === "Brand#1" && $"p_size".between(1, 5) &&
        $"l_quantity".between(1.0, 11.0)) ||
      ($"p_brand" === "Brand#2" && $"p_size".between(1, 10) &&
        $"l_quantity".between(10.0, 20.0)) ||
      ($"p_brand" === "Brand#3" && $"p_size".between(1, 15) &&
        $"l_quantity".between(20.0, 30.0))
    table(spark, dir, "lineitem")
      .join(broadcast(pt), $"l_partkey" === $"p_partkey" && clause)
      .agg(dsum6($"l_extendedprice" * (lit(1.0) - $"l_discount"))
        .as("rev"))
      .select(round($"rev", 2).as("revenue"))
  }

  val q262Sql: String =
    """SELECT ROUND(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
      |    AS DECIMAL(24,6))) AS DOUBLE), 2) AS revenue
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
      |    AND l_quantity BETWEEN 1.0 AND 11.0)
      |  OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
      |    AND l_quantity BETWEEN 10.0 AND 20.0)
      |  OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
      |    AND l_quantity BETWEEN 20.0 AND 30.0)""".stripMargin

  /** q279: market-basket association rules — the classic co-occurrence
    * mining card (Agrawal–Srikant support/confidence/lift) over orders
    * as baskets and part brands as items: which brand pulls which other
    * brand into the same order, beyond what their independent
    * popularity predicts? Every statistic folds from exact integer
    * counts, so confidence and lift are bit-identical across engines;
    * the top-15 cut orders by the EXACT rational lift via integer cross
    * products (sup_ab·N·1e6 ÷ sup_a·sup_b as a long on a 1e-6 grid —
    * never a rounded double at the cut boundary), ties broken on the
    * brand pair. Scale shape: the part dim broadcasts into the lineitem
    * scan, baskets dedup on (order, brand) with ≤25 brands per order,
    * and the pair self-join is keyed on the order — per-order fan-out
    * is bounded by the 25-brand vocabulary, never all-pairs global.
    */
  def q279AssocRules(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val baskets = table(spark, dir, "lineitem")
      .join(broadcast(table(spark, dir, "part")
        .select($"p_partkey", $"p_brand")), $"l_partkey" === $"p_partkey")
      .select($"l_orderkey".as("oid"), $"p_brand".as("item"))
      .distinct()
      .localCheckpoint() // one basket build feeds supports and pairs
    val n = baskets.agg(countDistinct($"oid").as("n_baskets"))
    val sup = baskets.groupBy($"item").agg(count(lit(1)).as("sup"))
    val pairs = baskets.select($"oid", $"item".as("item_a"))
      .join(baskets.select($"oid", $"item".as("item_b")), Seq("oid"))
      .filter($"item_a" < $"item_b")
      .groupBy($"item_a", $"item_b").agg(count(lit(1)).as("sup_ab"))
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    pairs
      .join(broadcast(sup.select($"item".as("item_a"), $"sup".as("sup_a"))),
        Seq("item_a"))
      .join(broadcast(sup.select($"item".as("item_b"), $"sup".as("sup_b"))),
        Seq("item_b"))
      .crossJoin(broadcast(n))
      .withColumn("num",
        $"sup_ab".cast(dec) * $"n_baskets".cast(dec) * lit(1000000L))
      .withColumn("den", $"sup_a".cast(dec) * $"sup_b".cast(dec))
      // exact floor division: subtract the remainder first so the
      // decimal divide is integral (no round-at-scale vs floor skew)
      .withColumn("lift_e6",
        (($"num" - pmod($"num", $"den")) / $"den").cast("long"))
      .orderBy($"lift_e6".desc, $"item_a", $"item_b")
      .limit(15)
      .select($"item_a", $"item_b", $"sup_ab", $"sup_a", $"sup_b",
        $"n_baskets",
        round($"sup_ab".cast("double") / $"sup_a".cast("double"), 6)
          .as("confidence"),
        ($"lift_e6".cast("double") / 1e6).as("lift"))
  }

  val q279Sql: String =
    """WITH b AS (
      |  SELECT DISTINCT l_orderkey AS oid, p_brand AS item
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |n AS (SELECT COUNT(DISTINCT oid) AS n_baskets FROM b),
      |s AS (SELECT item, COUNT(*) AS sup FROM b GROUP BY 1),
      |p AS (
      |  SELECT a.item AS item_a, c.item AS item_b, COUNT(*) AS sup_ab
      |  FROM b a JOIN b c ON c.oid = a.oid AND c.item > a.item
      |  GROUP BY 1, 2),
      |j AS (
      |  SELECT item_a, item_b, sup_ab, sa.sup AS sup_a, sb.sup AS sup_b,
      |    n_baskets,
      |    CAST(CAST(sup_ab AS HUGEINT) * n_baskets * 1000000
      |      // (CAST(sa.sup AS HUGEINT) * sb.sup) AS BIGINT) AS lift_e6
      |  FROM p JOIN s sa ON sa.item = item_a JOIN s sb ON sb.item = item_b
      |  CROSS JOIN n)
      |SELECT item_a, item_b, CAST(sup_ab AS BIGINT) AS sup_ab,
      |  CAST(sup_a AS BIGINT) AS sup_a, CAST(sup_b AS BIGINT) AS sup_b,
      |  CAST(n_baskets AS BIGINT) AS n_baskets,
      |  ROUND(CAST(sup_ab AS DOUBLE) / sup_a, 6) AS confidence,
      |  CAST(lift_e6 AS DOUBLE) / 1e6 AS lift
      |FROM j ORDER BY lift_e6 DESC, item_a, item_b LIMIT 15""".stripMargin

  /** q280: Adamic–Adar link prediction over the supplier–part
    * co-membership graph ([[graft.api.Graph.adamicAdar]]): two suppliers
    * that stock many RARE parts in common are closer substitutes than
    * two sharing only commodity parts — the inverse-log-degree weight is
    * the standard "rare shared neighbors count more" correction. The
    * per-part weight snaps to an integer 1e-6 grid before the pair
    * fold, so scores are exact longs (summation-order independent) and
    * the top-15 cut orders by the exact integer, ties on the pair.
    * Scoped to RECENT co-supply (shipped 1997+): substitutability is a
    * current-sourcing question, and the recency window also bounds the
    * per-part degree — pair fan-out is deg², so the window is the
    * card's principal scale dial. Scale shape: membership dedups on
    * (part, supplier), hot parts are degree-capped before the
    * self-join, the join is keyed on the part (the same
    * bucketed-candidate discipline as the LSH path), and the pair fold
    * groups on ONE packed long (TPC-H suppkeys stay < 2²² through
    * sf100) — the wide stage's shuffle key at half width.
    */
  def q280AdamicAdar(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val mem = table(spark, dir, "lineitem")
      .filter($"l_shipdate" >= ldt("1997-01-01T00:00:00"))
      .select($"l_suppkey".as("supp"), $"l_partkey".as("part"))
    graft.api.Graph.adamicAdar(mem, "supp", "part", packIds = true)
      .orderBy($"score_e6".desc, $"id_a", $"id_b")
      .limit(15)
      .select($"id_a".as("supp_a"), $"id_b".as("supp_b"), $"n_shared",
        $"score".as("aa_score"))
  }

  val q280Sql: String =
    """WITH m AS (
      |  SELECT DISTINCT l_partkey AS part, l_suppkey AS supp
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'),
      |d AS (
      |  SELECT part, CAST(round(1e6 / ln(COUNT(*))) AS BIGINT) AS w_e6
      |  FROM m GROUP BY 1 HAVING COUNT(*) BETWEEN 2 AND 1000),
      |p AS (
      |  SELECT a.supp AS supp_a, c.supp AS supp_b, COUNT(*) AS n_shared,
      |    SUM(w_e6) AS score_e6
      |  FROM m a JOIN m c ON c.part = a.part AND c.supp > a.supp
      |  JOIN d ON d.part = a.part
      |  GROUP BY 1, 2)
      |SELECT supp_a, supp_b, CAST(n_shared AS BIGINT) AS n_shared,
      |  CAST(score_e6 AS DOUBLE) / 1e6 AS aa_score
      |FROM p ORDER BY score_e6 DESC, supp_a, supp_b LIMIT 15""".stripMargin

  /** q292: deterministic negative sampling — the contrastive-pair
    * builder recommender and embedding training both need: for every
    * observed (customer, part) positive, K=3 candidate negatives drawn
    * by the suite's Knuth hash over the (customer, part, draw) triple
    * mapped into the part domain — reproducible on any engine, no RNG
    * state — then audited against the positives with a keyed join (a
    * drawn "negative" the customer actually bought is a COLLISION and
    * must be rejected). The card reports, per draw index, the collision
    * count/rate against the analytic expectation (customer degree /
    * |parts|) and the surviving negative count — the knobs that decide
    * whether K draws suffice after rejection. Everything is integer
    * hashing and exact counts; the audit join is keyed on (customer,
    * part), never a cross of candidates × positives.
    */
  def q292NegativeSampling(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val positives = table(spark, dir, "orders")
      .join(table(spark, dir, "lineitem"), $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey".as("cust"), $"l_partkey".as("part"))
      .distinct()
      .localCheckpoint() // feeds draws AND the collision audit
    val nParts = rawTable(spark, dir, "part").agg(count(lit(1))).scalar()
    // integer Knuth hash of the (cust, part, draw) triple -> part domain
    def knuthLong(k: org.apache.spark.sql.Column) = {
      val x = pmod(k, lit(4294967296L))
      val lo = pmod(x, lit(65536L))
      val hi = ((x - lo) / lit(65536L)).cast("long")
      pmod(pmod(hi * 2654435761L, lit(65536L)) * 65536L +
        lo * 2654435761L, lit(4294967296L))
    }
    // project the dead payload away before any exchange (§2.3): the
    // audit only ever needs (cust, draw, neg_part)
    val draws = positives
      .crossJoin(Seq(1L, 2L, 3L).toDF("draw"))
      .select($"cust", $"draw", (lit(1L) +
        pmod(knuthLong($"cust" * 1000003L + $"part" * 31L + $"draw"),
          nParts)).as("neg_part"))
    val posHit = positives.select($"cust", $"part".as("neg_part"),
      lit(1L).as("hit"))
    // Collision audit = membership probe of (cust, neg_part) against the
    // positives set: the positives broadcast into the left join, and the
    // 3x-larger draws side is never shuffled. (A Bloom pre-filter of the
    // draws, which builds them twice, measured slower than this at 4M to
    // 16M positives on 4 cpus.)
    val audited = draws.join(broadcast(posHit), Seq("cust", "neg_part"), "left")
      .select($"draw", $"neg_part", $"hit")
    // sum_d == |positives| and n_cust == distinct custs: one aggregate
    // over the checkpoint instead of a per-cust groupBy plus a refold
    val deg = positives.agg(count(lit(1)).as("sum_d"),
      countDistinct($"cust").as("n_cust"))
    audited.groupBy($"draw")
      .agg(count(lit(1)).as("n_drawn"),
        sum(coalesce($"hit", lit(0L))).as("n_collisions"),
        countDistinct(when($"hit".isNull, $"neg_part")).as("n_neg_parts"))
      .crossJoin(broadcast(deg))
      .select($"draw", $"n_drawn", $"n_collisions",
        round($"n_collisions".cast("double") / $"n_drawn", 6)
          .as("collision_rate"),
        round($"sum_d".cast("double") / $"n_cust" / nParts.cast("double"), 6)
          .as("expected_rate"),
        ($"n_drawn" - $"n_collisions").as("n_clean_negatives"),
        $"n_neg_parts")
      .orderBy($"draw")
  }

  val q292Sql: String =
    """WITH pos AS (
      |  SELECT DISTINCT o_custkey AS cust, l_partkey AS part
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |np AS (SELECT COUNT(*) AS n_parts FROM part),
      |draws AS (
      |  SELECT cust, part, d.draw,
      |    1 + (CAST(((((x // 65536) * 2654435761) % 65536) * 65536
      |        + (x % 65536) * 2654435761) % 4294967296 AS BIGINT)
      |      % n_parts) AS neg_part
      |  FROM (SELECT cust, part, draw,
      |      ((cust * 1000003 + part * 31 + draw) % 4294967296
      |        + 4294967296) % 4294967296 AS x
      |    FROM pos CROSS JOIN (VALUES (1), (2), (3)) d(draw)) d
      |  CROSS JOIN np),
      |aud AS (
      |  SELECT d.draw, d.neg_part,
      |    CASE WHEN p.part IS NULL THEN 0 ELSE 1 END AS hit
      |  FROM draws d LEFT JOIN pos p
      |    ON p.cust = d.cust AND p.part = d.neg_part),
      |deg AS (
      |  SELECT SUM(d) AS sum_d, COUNT(*) AS n_cust
      |  FROM (SELECT cust, COUNT(*) AS d FROM pos GROUP BY 1))
      |SELECT CAST(draw AS BIGINT) AS draw,
      |  CAST(COUNT(*) AS BIGINT) AS n_drawn,
      |  CAST(SUM(hit) AS BIGINT) AS n_collisions,
      |  ROUND(CAST(SUM(hit) AS DOUBLE) / COUNT(*), 6) AS collision_rate,
      |  ROUND(CAST(sum_d AS DOUBLE) / n_cust
      |    / (SELECT n_parts FROM np), 6) AS expected_rate,
      |  CAST(COUNT(*) - SUM(hit) AS BIGINT) AS n_clean_negatives,
      |  CAST(COUNT(DISTINCT CASE WHEN hit = 0 THEN neg_part END) AS BIGINT)
      |    AS n_neg_parts
      |FROM aud CROSS JOIN deg
      |GROUP BY draw, sum_d, n_cust ORDER BY draw""".stripMargin

  /** q294: offline recommender evaluation under a temporal split — the
    * card that turns q279's association mining into a measured model:
    * co-occurrence counts from orders BEFORE 1999 build a "customers
    * who bought X also bought" map (argmax complement per brand, ties
    * to the brand name), and orders AFTER the cutoff score it — a
    * prediction per (test basket, brand) counts as a hit when the
    * recommended complement really is in the basket. The popularity
    * baseline (always recommend the train-period top brand) is
    * evaluated on the SAME opportunities, so the lift column isolates
    * what co-occurrence learning adds over "recommend the bestseller".
    * Temporal split — never random — because that is the only honest
    * protocol for a deployed recommender. Counts are exact integers;
    * the pair build is the q279 order-keyed shape; the rec map and the
    * baseline broadcast back into the test scan.
    */
  def q294RecoEval(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cutoff = ldt("1999-01-01T00:00:00")
    val baskets = table(spark, dir, "orders")
      .join(table(spark, dir, "lineitem"), $"o_orderkey" === $"l_orderkey")
      .join(broadcast(table(spark, dir, "part")
        .select($"p_partkey", $"p_brand")), $"l_partkey" === $"p_partkey")
      .select($"o_orderkey".as("oid"), $"p_brand".as("item"),
        ($"o_orderdate" < cutoff).as("is_train"))
      .distinct()
      .localCheckpoint() // feeds pair build, popularity, and scoring
    val train = baskets.filter($"is_train")
    val pairs = train.select($"oid", $"item".as("a"))
      .join(train.select($"oid", $"item".as("b")), Seq("oid"))
      .filter($"a" =!= $"b")
      .groupBy($"a", $"b").agg(count(lit(1)).as("sup"))
    val rec = pairs
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"a")
          .orderBy($"sup".desc, $"b")))
      .filter($"rn" === 1).select($"a", $"b".as("rec_b"))
    val pop = train.groupBy($"item").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"item").limit(1)
      .select($"item".as("pop_b"))
    val test = baskets.filter(!$"is_train")
    val scored = test.select($"oid", $"item".as("a"))
      .join(broadcast(rec), Seq("a"))
      .crossJoin(broadcast(pop))
      .join(test.select($"oid", $"item".as("rec_b"), lit(1L).as("hit")),
        Seq("oid", "rec_b"), "left")
      .join(test.select($"oid", $"item".as("pop_b"), lit(1L).as("pop_in")),
        Seq("oid", "pop_b"), "left")
    val m = scored.agg(
      countDistinct($"oid").as("n_test_baskets"),
      count(lit(1)).as("n_preds"),
      sum(coalesce($"hit", lit(0L))).as("n_hits"),
      sum(when($"pop_b" =!= $"a", coalesce($"pop_in", lit(0L)))
        .otherwise(0L)).as("n_pop_hits"),
      countDistinct($"rec_b").as("n_rec_targets"))
      .crossJoin(broadcast(
        train.agg(countDistinct($"item").as("n_train_items"))))
    m.select($"n_test_baskets", $"n_preds", $"n_hits",
      round($"n_hits".cast("double") / $"n_preds", 6).as("hit_rate"),
      round($"n_pop_hits".cast("double") / $"n_preds", 6).as("pop_hit_rate"),
      round($"n_hits".cast("double") / $"n_pop_hits", 4).as("lift_vs_pop"),
      round($"n_rec_targets".cast("double") / $"n_train_items", 6)
        .as("rec_coverage"))
  }

  val q294Sql: String =
    """WITH b AS (
      |  SELECT DISTINCT o_orderkey AS oid, p_brand AS item,
      |    o_orderdate < TIMESTAMP '1999-01-01 00:00:00' AS is_train
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |  JOIN part ON l_partkey = p_partkey),
      |tr AS (SELECT oid, item FROM b WHERE is_train),
      |te AS (SELECT oid, item FROM b WHERE NOT is_train),
      |p AS (
      |  SELECT x.item AS a, y.item AS bb, COUNT(*) AS sup
      |  FROM tr x JOIN tr y ON y.oid = x.oid AND y.item <> x.item
      |  GROUP BY 1, 2),
      |rec AS (
      |  SELECT a, bb AS rec_b FROM (
      |    SELECT a, bb, ROW_NUMBER() OVER (PARTITION BY a
      |      ORDER BY sup DESC, bb) AS rn FROM p)
      |  WHERE rn = 1),
      |pop AS (
      |  SELECT item AS pop_b FROM tr GROUP BY 1
      |  ORDER BY COUNT(*) DESC, item LIMIT 1),
      |sc AS (
      |  SELECT t.oid, t.item AS a, rec.rec_b, pop.pop_b,
      |    CASE WHEN h.item IS NULL THEN 0 ELSE 1 END AS hit,
      |    CASE WHEN pp.item IS NULL THEN 0 ELSE 1 END AS pop_in
      |  FROM te t JOIN rec ON rec.a = t.item
      |  CROSS JOIN pop
      |  LEFT JOIN te h ON h.oid = t.oid AND h.item = rec.rec_b
      |  LEFT JOIN te pp ON pp.oid = t.oid AND pp.item = pop.pop_b),
      |m AS (
      |  SELECT COUNT(DISTINCT oid) AS n_test_baskets,
      |    COUNT(*) AS n_preds, SUM(hit) AS n_hits,
      |    SUM(CASE WHEN pop_b <> a THEN pop_in ELSE 0 END) AS n_pop_hits,
      |    COUNT(DISTINCT rec_b) AS n_rec_targets
      |  FROM sc),
      |ti AS (SELECT COUNT(DISTINCT item) AS n_train_items FROM tr)
      |SELECT CAST(n_test_baskets AS BIGINT) AS n_test_baskets,
      |  CAST(n_preds AS BIGINT) AS n_preds,
      |  CAST(n_hits AS BIGINT) AS n_hits,
      |  ROUND(CAST(n_hits AS DOUBLE) / n_preds, 6) AS hit_rate,
      |  ROUND(CAST(n_pop_hits AS DOUBLE) / n_preds, 6) AS pop_hit_rate,
      |  ROUND(CAST(n_hits AS DOUBLE) / n_pop_hits, 4) AS lift_vs_pop,
      |  ROUND(CAST(n_rec_targets AS DOUBLE) / n_train_items, 6)
      |    AS rec_coverage
      |FROM m CROSS JOIN ti""".stripMargin

  /** q307: price-elasticity estimation — the revenue-management card: a
    * log-log OLS of ln(quantity) on ln(1 − discount) per retail-price
    * band estimates how strongly discounting moves volume at each price
    * tier. Per-row log terms snap to an integer 1e-9 grid and the OLS
    * moments fold as DECIMAL(38,0) (Σxy on the grid overflows a long at
    * real row counts), so slope and R² are engine-identical. On this
    * synthetic data quantity is independent of discount, and the card
    * correctly reads elasticity ≈ 0 with R² ≈ 0 in every band — the
    * null it should find. One broadcast part join, one grouped fold.
    */
  def q307PriceElasticity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val banded = table(spark, dir, "lineitem")
      .join(broadcast(table(spark, dir, "part")
        .select($"p_partkey", $"p_retailprice")),
        $"l_partkey" === $"p_partkey")
      .select(
        when($"p_retailprice" < 933.0, "1_low")
          .when($"p_retailprice" < 966.0, "2_mid")
          .otherwise("3_high").as("price_band"),
        round(log(lit(1.0) - $"l_discount") * 1e9).cast("long").as("x"),
        round(log($"l_quantity") * 1e9).cast("long").as("y"))
    val m = banded.groupBy($"price_band")
      .agg(count(lit(1)).as("n"),
        sum($"x".cast(dec)).as("sx"), sum($"y".cast(dec)).as("sy"),
        sum(($"x".cast(dec)) * $"y").as("sxy"),
        sum(($"x".cast(dec)) * $"x").as("sxx"),
        sum(($"y".cast(dec)) * $"y").as("syy"))
    val nD = $"n".cast("double")
    val sx = $"sx".cast("double"); val sy = $"sy".cast("double")
    val sxy = $"sxy".cast("double"); val sxx = $"sxx".cast("double")
    val syy = $"syy".cast("double")
    val cov = nD * sxy - sx * sy
    val vx = nD * sxx - sx * sx
    val vy = nD * syy - sy * sy
    m.select($"price_band", $"n",
        round(cov / vx, 4).as("elasticity"),
        round(cov * cov / (vx * vy), 6).as("r2"))
      .orderBy($"price_band")
  }

  val q307Sql: String =
    """WITH b AS (
      |  SELECT CASE WHEN p_retailprice < 933.0 THEN '1_low'
      |      WHEN p_retailprice < 966.0 THEN '2_mid'
      |      ELSE '3_high' END AS price_band,
      |    CAST(round(ln(1.0 - l_discount) * 1e9) AS BIGINT) AS x,
      |    CAST(round(ln(l_quantity) * 1e9) AS BIGINT) AS y
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |m AS (
      |  SELECT price_band, COUNT(*) AS n,
      |    SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
      |    SUM(CAST(x AS HUGEINT) * y) AS sxy,
      |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
      |    SUM(CAST(y AS HUGEINT) * y) AS syy
      |  FROM b GROUP BY 1)
      |SELECT price_band, CAST(n AS BIGINT) AS n,
      |  ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)),
      |    4) AS elasticity,
      |  ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |      * (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / ((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |      * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
      |    6) AS r2
      |FROM m ORDER BY price_band""".stripMargin

  /** q326: skyline (Pareto-frontier) query over parts, minimizing
    * (p_retailprice, p_size) jointly — the classic multi-objective
    * shortlist ("no other part is both cheaper and smaller"). The
    * dominance test never self-joins the table: it collapses to the
    * (price → min size) frame first (|distinct prices| rows — the only
    * frame the single-partition window ever sorts), marks a price level
    * as on the frontier iff its min size beats the running min over all
    * STRICTLY cheaper levels (a ROWS frame is exact here because each
    * price appears once after the collapse), and joins the surviving
    * (price, size) combos back to recover part identities. Equal
    * (price, size) twins are all on the skyline — neither dominates.
    */
  def q326SkylineParts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pm = table(spark, dir, "part")
      .groupBy($"p_retailprice").agg(min($"p_size").as("msize"))
    val w = Window.orderBy($"p_retailprice")
      .rowsBetween(Window.unboundedPreceding, -1)
    val sky = pm.withColumn("best", min($"msize").over(w))
      .filter($"best".isNull || $"best" > $"msize")
      .select($"p_retailprice", $"msize".as("p_size"))
    table(spark, dir, "part")
      .join(broadcast(sky), Seq("p_retailprice", "p_size"))
      .select($"p_partkey", $"p_name", round($"p_retailprice", 2)
        .as("p_retailprice"), $"p_size".cast("long").as("p_size"))
      .orderBy($"p_retailprice", $"p_partkey")
  }

  val q326Sql: String =
    """WITH pm AS (
      |  SELECT p_retailprice, MIN(p_size) AS msize FROM part GROUP BY 1),
      |w AS (
      |  SELECT p_retailprice, msize,
      |    MIN(msize) OVER (ORDER BY p_retailprice
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best
      |  FROM pm),
      |sky AS (
      |  SELECT p_retailprice, msize FROM w
      |  WHERE best IS NULL OR best > msize)
      |SELECT p_partkey, p_name, ROUND(p.p_retailprice, 2) AS p_retailprice,
      |  CAST(p.p_size AS BIGINT) AS p_size
      |FROM part p JOIN sky s
      |  ON p.p_retailprice = s.p_retailprice AND p.p_size = s.msize
      |ORDER BY p_retailprice, p_partkey""".stripMargin

  /** q327: Lorenz curve + Gini coefficient of supplier revenue — the
    * inequality card next to q208's customer deciles: suppliers ranked
    * ASCENDING by exact-decimal revenue (ties by suppkey, so the decile
    * assignment is engine-identical), bottom-share deciles with
    * cumulative revenue share, and the discrete Gini
    * (2·Σ rank·rev − (n+1)·Σ rev) / (n·Σ rev) computed entirely in
    * decimal/integer sums — ONE double division at the end. The heavy
    * work is one lineitem hash agg; the window sorts the |suppliers|
    * frame only (same scale caveat and remedy as q208).
    */
  def q327LorenzGini(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rev = table(spark, dir, "lineitem")
      .groupBy($"l_suppkey")
      .agg(sum(($"l_extendedprice".cast(DecimalType(18, 2)) *
        (lit(1).cast(DecimalType(18, 2)) - $"l_discount".cast(DecimalType(18, 2))))
        .cast(DecimalType(24, 6))).as("rev"))
    val w = Window.orderBy($"rev", $"l_suppkey")
    val ranked = rev.withColumn("rnk", row_number().over(w).cast("long"))
      .localCheckpoint() // |suppliers| rows; gini + lorenz both reuse it
    // the rank-weighted and plain revenue sums stay exact decimal; the
    // Gini combination runs in DOUBLE on those exact inputs (identical
    // scalars + fixed-order scalar ops = engine-identical result)
    val g = ranked.agg(count(lit(1)).as("n"),
      sum($"rev").cast("double").as("s"),
      sum($"rnk" * $"rev").cast("double").as("s1"))
      .select(round((lit(2.0) * $"s1" - ($"n" + 1).cast("double") * $"s") /
        ($"n".cast("double") * $"s"), 6).as("gini"), $"n".as("n_total"))
    ranked.crossJoin(broadcast(g))
      .withColumn("decile", expr("((rnk - 1) * 10) div n_total") + 1)
      .groupBy($"decile", $"gini")
      .agg(count(lit(1)).as("n_suppliers"), sum($"rev").as("drev"))
      .withColumn("cum_share", round(
        sum($"drev").over(Window.orderBy($"decile")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double") / sum($"drev").over(Window.partitionBy())
          .cast("double"), 6))
      .select($"decile", $"n_suppliers",
        round($"drev".cast("double"), 2).as("decile_revenue"),
        $"cum_share", $"gini")
      .orderBy($"decile")
  }

  val q327Sql: String =
    """WITH rev AS (
      |  SELECT l_suppkey,
      |    SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
      |      * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(24,6)))
      |      AS rev
      |  FROM lineitem GROUP BY 1),
      |ranked AS (
      |  SELECT CAST(rev AS DECIMAL(24,6)) AS rev,
      |    CAST(ROW_NUMBER() OVER (ORDER BY rev, l_suppkey)
      |    AS BIGINT) AS rnk
      |  FROM rev),
      |g AS (
      |  SELECT COUNT(*) AS n_total, CAST(SUM(rev) AS DOUBLE) AS s,
      |    CAST(SUM(CAST(rnk AS DECIMAL(10,0)) * rev) AS DOUBLE) AS s1
      |  FROM ranked),
      |dec AS (
      |  SELECT CAST((rnk - 1) * 10 // n_total AS BIGINT) + 1 AS decile,
      |    ROUND((2.0 * s1 - (n_total + 1) * s) / (n_total * s), 6) AS gini,
      |    rev
      |  FROM ranked CROSS JOIN g),
      |byd AS (
      |  SELECT decile, gini, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
      |    SUM(rev) AS drev
      |  FROM dec GROUP BY 1, 2)
      |SELECT decile, n_suppliers, ROUND(CAST(drev AS DOUBLE), 2)
      |    AS decile_revenue,
      |  ROUND(CAST(SUM(drev) OVER (ORDER BY decile
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    / CAST(SUM(drev) OVER () AS DOUBLE), 6) AS cum_share,
      |  gini
      |FROM byd ORDER BY decile""".stripMargin

  /** q328: market-concentration card — per part type: the
    * Herfindahl–Hirschman index of brand revenue shares, the leading
    * brand, and its share. HHI = Σ brand_rev² / type_rev² with BOTH
    * sums in exact decimal (brand revenues are decimal, their squares
    * fold exactly) — one double division per type at the end, so the
    * index is summation-order independent. Leader pick is a
    * deterministic argmax (revenue desc, brand desc). Two hash aggs
    * over the lineitem⋈part broadcast join; the per-(type, brand)
    * frame is vocabulary-sized, never data-sized.
    */
  def q328HhiConcentration(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val parts = rawTable(spark, dir, "part")
      .select($"p_partkey", $"p_brand", $"p_type")
    val byBrand = table(spark, dir, "lineitem")
      .join(broadcast(parts), $"l_partkey" === $"p_partkey")
      .groupBy($"p_type", $"p_brand")
      .agg(sum(($"l_extendedprice".cast(DecimalType(18, 2)) *
        (lit(1).cast(DecimalType(18, 2)) - $"l_discount".cast(DecimalType(18, 2))))
        .cast(DecimalType(24, 6))).as("brev"))
    // squares in (19,6)×(19,6) → exact (38,12); wider inputs would trip
    // the precision cap and silently round the 1e-8-grid products
    byBrand
      .groupBy($"p_type")
      .agg(count(lit(1)).as("n_brands"),
        sum($"brev").as("trev"),
        sum($"brev".cast(DecimalType(19, 6)) * $"brev".cast(DecimalType(19, 6)))
          .as("s2"),
        max(struct($"brev", $"p_brand")).as("top"))
      .select($"p_type", $"n_brands",
        round($"trev".cast("double"), 2).as("type_revenue"),
        $"top.p_brand".as("top_brand"),
        round($"top.brev".cast("double") / $"trev".cast("double"), 6)
          .as("top_share"),
        round($"s2".cast("double") /
          ($"trev".cast("double") * $"trev".cast("double")), 6).as("hhi"))
      .orderBy($"p_type")
  }

  val q328Sql: String =
    """WITH bb AS (
      |  SELECT p_type, p_brand,
      |    SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
      |      * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(24,6)))
      |      AS brev
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY 1, 2),
      |r AS (
      |  SELECT p_type, p_brand, brev,
      |    ROW_NUMBER() OVER (PARTITION BY p_type
      |      ORDER BY brev DESC, p_brand DESC) AS rn
      |  FROM bb),
      |agg AS (
      |  SELECT p_type, CAST(COUNT(*) AS BIGINT) AS n_brands,
      |    SUM(brev) AS trev,
      |    SUM(CAST(brev AS DECIMAL(19,6)) * CAST(brev AS DECIMAL(19,6)))
      |      AS s2
      |  FROM bb GROUP BY 1)
      |SELECT a.p_type, n_brands, ROUND(CAST(trev AS DOUBLE), 2)
      |    AS type_revenue,
      |  r.p_brand AS top_brand,
      |  ROUND(CAST(r.brev AS DOUBLE) / CAST(trev AS DOUBLE), 6) AS top_share,
      |  ROUND(CAST(s2 AS DOUBLE)
      |    / (CAST(trev AS DOUBLE) * CAST(trev AS DOUBLE)), 6) AS hhi
      |FROM agg a JOIN r ON a.p_type = r.p_type AND r.rn = 1
      |ORDER BY a.p_type""".stripMargin

  /** q329: ABC inventory classification — parts ranked by exact-decimal
    * revenue DESC (ties by partkey), classified A while the cumulative
    * share is ≤ 80%, B while ≤ 95%, C after. The threshold compare is
    * CROSS-MULTIPLIED integer decimal (cum·100 ≤ total·80), never a
    * float ratio, so the class boundary lands on the same part in both
    * engines. One lineitem hash agg into a |parts| frame; the running
    * sum sorts that frame only (q208's scale caveat applies — swap for
    * exact-quantile revenue edges past ~10⁷ parts).
    */
  def q329AbcClasses(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rev = table(spark, dir, "lineitem")
      .groupBy($"l_partkey")
      .agg(sum(($"l_extendedprice".cast(DecimalType(18, 2)) *
        (lit(1).cast(DecimalType(18, 2)) - $"l_discount".cast(DecimalType(18, 2))))
        .cast(DecimalType(24, 6))).as("rev"))
    val cum = rev
      .withColumn("cum", sum($"rev").over(Window.orderBy($"rev".desc, $"l_partkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(rev.agg(sum($"rev").as("total"))))
      // cross-multiplied compare narrowed to (30,6) so the ×100 stays
      // inside decimal precision on both engines
      .withColumn("cum", $"cum".cast(DecimalType(30, 6)))
      .withColumn("total", $"total".cast(DecimalType(30, 6)))
      .withColumn("abc_class",
        when($"cum" * 100 <= $"total" * 80, "A")
          .when($"cum" * 100 <= $"total" * 95, "B")
          .otherwise("C"))
    cum.groupBy($"abc_class")
      .agg(count(lit(1)).as("n_parts"),
        sum($"rev").as("crev"))
      .withColumn("revenue_share", round($"crev".cast("double") /
        sum($"crev").over(Window.partitionBy()).cast("double"), 6))
      .select($"abc_class", $"n_parts",
        round($"crev".cast("double"), 2).as("class_revenue"),
        $"revenue_share")
      .orderBy($"abc_class")
  }

  val q329Sql: String =
    """WITH rev AS (
      |  SELECT l_partkey,
      |    SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
      |      * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(24,6)))
      |      AS rev
      |  FROM lineitem GROUP BY 1),
      |cum AS (
      |  SELECT rev,
      |    SUM(rev) OVER (ORDER BY rev DESC, l_partkey
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    SUM(rev) OVER () AS total
      |  FROM rev),
      |cls AS (
      |  SELECT rev,
      |    CASE WHEN CAST(cum AS DECIMAL(30,6)) * 100
      |        <= CAST(total AS DECIMAL(30,6)) * 80 THEN 'A'
      |      WHEN CAST(cum AS DECIMAL(30,6)) * 100
      |        <= CAST(total AS DECIMAL(30,6)) * 95 THEN 'B'
      |      ELSE 'C' END AS abc_class
      |  FROM cum),
      |g AS (
      |  SELECT abc_class, CAST(COUNT(*) AS BIGINT) AS n_parts,
      |    SUM(rev) AS crev
      |  FROM cls GROUP BY 1)
      |SELECT abc_class, n_parts, ROUND(CAST(crev AS DOUBLE), 2)
      |    AS class_revenue,
      |  ROUND(CAST(crev AS DOUBLE) / CAST(SUM(crev) OVER () AS DOUBLE), 6)
      |    AS revenue_share
      |FROM g ORDER BY abc_class""".stripMargin

  /** q330: RFM segmentation — per customer: recency (days from their
    * last order to the corpus's last order date), frequency (order
    * count), monetary (exact-decimal total spend); each scored 1–5 by
    * deterministic rank buckets (score = 5 − ((rank−1)·5) div n over
    * (metric, custkey) order, best first — engine-identical, unlike
    * NTILE-free float quantile cuts), then the segment grid (r, f, m) →
    * customer count + average spend. One orders hash agg; three
    * |customers|-frame rank windows (scale caveat as q208: swap ranks
    * for exact-quantile edges past ~10⁷ customers).
    */
  def q330RfmSegments(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val per = table(spark, dir, "orders")
      .groupBy($"o_custkey")
      .agg(max($"o_orderdate".cast("date")).as("lastd"),
        count(lit(1)).as("freq"),
        sum($"o_totalprice".cast(DecimalType(18, 2))).as("money"))
    val mx = per.agg(max($"lastd").as("gmax"))
    val scored = per.crossJoin(broadcast(mx))
      .withColumn("recency", datediff($"gmax", $"lastd").cast("long"))
      .withColumn("rr",
        row_number().over(Window.orderBy($"recency", $"o_custkey")).cast("long"))
      .withColumn("fr",
        row_number().over(Window.orderBy($"freq".desc, $"o_custkey")).cast("long"))
      .withColumn("mr",
        row_number().over(Window.orderBy($"money".desc, $"o_custkey")).cast("long"))
      .crossJoin(broadcast(per.agg(count(lit(1)).as("n"))))
      .select(
        expr("5 - ((rr - 1) * 5) div n").as("r_score"),
        expr("5 - ((fr - 1) * 5) div n").as("f_score"),
        expr("5 - ((mr - 1) * 5) div n").as("m_score"),
        $"money")
    scored.groupBy($"r_score", $"f_score", $"m_score")
      .agg(count(lit(1)).as("n_customers"),
        round(sum($"money").cast("double") / count(lit(1)), 6).as("avg_spend"))
      .orderBy($"r_score", $"f_score", $"m_score")
  }

  val q330Sql: String =
    """WITH per AS (
      |  SELECT o_custkey, MAX(CAST(o_orderdate AS DATE)) AS lastd,
      |    CAST(COUNT(*) AS BIGINT) AS freq,
      |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS money
      |  FROM orders GROUP BY 1),
      |mx AS (SELECT MAX(lastd) AS gmax, COUNT(*) AS n FROM per),
      |ranked AS (
      |  SELECT money,
      |    CAST(date_diff('day', lastd, gmax) AS BIGINT) AS recency,
      |    CAST(ROW_NUMBER() OVER (ORDER BY date_diff('day', lastd, gmax),
      |      o_custkey) AS BIGINT) AS rr,
      |    CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, o_custkey)
      |      AS BIGINT) AS fr,
      |    CAST(ROW_NUMBER() OVER (ORDER BY money DESC, o_custkey)
      |      AS BIGINT) AS mr,
      |    n
      |  FROM per CROSS JOIN mx)
      |SELECT 5 - (rr - 1) * 5 // n AS r_score,
      |  5 - (fr - 1) * 5 // n AS f_score,
      |  5 - (mr - 1) * 5 // n AS m_score,
      |  CAST(COUNT(*) AS BIGINT) AS n_customers,
      |  ROUND(CAST(SUM(money) AS DOUBLE) / COUNT(*), 6) AS avg_spend
      |FROM ranked GROUP BY 1, 2, 3 ORDER BY r_score, f_score, m_score""".stripMargin

  /** q336: Theil-T inequality decomposition of customer spend by nation
    * — T = (1/n)Σ(x/μ)ln(x/μ) split EXACTLY into between-nation
    * (Σ (n_g/n)(μ_g/μ)ln(μ_g/μ)) and within-nation (Σ s_g·T_g) parts:
    * the additive-decomposable inequality index (Gini isn't), i.e.
    * "how much of the spend concentration is WHICH nations vs
    * dispersion INSIDE nations". Per-row terms are doubles from exact
    * decimal sums (identical scalars, fixed op order) snapped to the
    * 1e-9 grid; every cross-row fold is decimal. One orders agg, one
    * broadcast nation join; the only post-agg frames are |customers|
    * (hash-agg'd by nation) and |nations|.
    */
  def q336TheilIndex(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cust = table(spark, dir, "orders")
      .groupBy($"o_custkey")
      .agg(sum($"o_totalprice".cast(DecimalType(18, 2))).as("x"))
      .join(table(spark, dir, "customer").select($"c_custkey", $"c_nationkey"),
        $"o_custkey" === $"c_custkey")
      .join(broadcast(rawTable(spark, dir, "nation")
        .select($"n_nationkey", $"n_name")),
        $"c_nationkey" === $"n_nationkey")
      .select($"n_name", $"x")
      .localCheckpoint() // reused by the global, per-nation and term passes
    val glob = cust.agg(sum($"x").as("s"), count(lit(1)).as("n"))
    val byNat = cust.groupBy($"n_name")
      .agg(sum($"x").as("sg"), count(lit(1)).as("ng"))
      .localCheckpoint()
    // within-nation terms: (x/μ_g)·ln(x/μ_g) snapped to 1e-9, folded in
    // decimal per nation; total terms likewise against the global mean
    val terms = cust.join(broadcast(byNat), Seq("n_name"))
      .crossJoin(broadcast(glob))
      .select($"n_name",
        round(($"x".cast("double") / ($"sg".cast("double") / $"ng")) *
          log($"x".cast("double") / ($"sg".cast("double") / $"ng")), 9)
          .cast(DecimalType(38, 9)).as("tg"),
        round(($"x".cast("double") / ($"s".cast("double") / $"n")) *
          log($"x".cast("double") / ($"s".cast("double") / $"n")), 9)
          .cast(DecimalType(38, 9)).as("tt"))
    val natAgg = terms.groupBy($"n_name")
      .agg(sum($"tg").as("stg"), sum($"tt").as("stt"))
      .join(broadcast(byNat), Seq("n_name"))
      .crossJoin(broadcast(glob))
    // between term per nation: (n_g/n)·(μ_g/μ)·ln(μ_g/μ), 1e-12 grid
    val withBetween = natAgg
      .withColumn("mu_ratio",
        ($"sg".cast("double") / $"ng") / ($"s".cast("double") / $"n"))
      .withColumn("bt",
        round(($"ng".cast("double") / $"n") * $"mu_ratio" * log($"mu_ratio"), 12)
          .cast(DecimalType(38, 12)))
    val consts = withBetween
      .agg(sum($"bt").as("between_sum"), sum($"stt").as("t_all"))
      .crossJoin(broadcast(glob))
      .select(round($"t_all".cast("double") / $"n", 6).as("theil_total"),
        round($"between_sum".cast("double"), 6).as("theil_between"))
    withBetween.crossJoin(broadcast(consts))
      .select($"n_name", $"ng".as("n_cust"),
        round($"sg".cast("double") / $"s".cast("double"), 6).as("income_share"),
        round($"stg".cast("double") / $"ng", 6).as("theil_within"),
        round($"mu_ratio", 6).as("mean_ratio"),
        $"theil_total", $"theil_between")
      .orderBy($"n_name")
  }

  val q336Sql: String =
    """WITH cust AS (
      |  SELECT n_name, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS x
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY n_name, o_custkey),
      |gtot AS (SELECT SUM(x) AS s, COUNT(*) AS n FROM cust),
      |bynat AS (
      |  SELECT n_name, SUM(x) AS sg, COUNT(*) AS ng FROM cust GROUP BY 1),
      |terms AS (
      |  SELECT c.n_name,
      |    CAST(ROUND((CAST(x AS DOUBLE) / (CAST(sg AS DOUBLE) / ng))
      |      * ln(CAST(x AS DOUBLE) / (CAST(sg AS DOUBLE) / ng)), 9)
      |      AS DECIMAL(38,9)) AS tg,
      |    CAST(ROUND((CAST(x AS DOUBLE) / (CAST(s AS DOUBLE) / n))
      |      * ln(CAST(x AS DOUBLE) / (CAST(s AS DOUBLE) / n)), 9)
      |      AS DECIMAL(38,9)) AS tt
      |  FROM cust c JOIN bynat USING (n_name) CROSS JOIN gtot),
      |natagg AS (
      |  SELECT n_name, SUM(tg) AS stg, SUM(tt) AS stt
      |  FROM terms GROUP BY 1),
      |wb AS (
      |  SELECT n_name, stg, stt, sg, ng, s, n,
      |    (CAST(sg AS DOUBLE) / ng) / (CAST(s AS DOUBLE) / n) AS mu_ratio,
      |    CAST(ROUND((CAST(ng AS DOUBLE) / n)
      |      * ((CAST(sg AS DOUBLE) / ng) / (CAST(s AS DOUBLE) / n))
      |      * ln((CAST(sg AS DOUBLE) / ng) / (CAST(s AS DOUBLE) / n)), 12)
      |      AS DECIMAL(38,12)) AS bt
      |  FROM natagg JOIN bynat USING (n_name) CROSS JOIN gtot),
      |consts AS (
      |  SELECT ROUND(CAST(SUM(stt) AS DOUBLE) / MIN(n), 6) AS theil_total,
      |    ROUND(CAST(SUM(bt) AS DOUBLE), 6) AS theil_between
      |  FROM wb)
      |SELECT n_name, CAST(ng AS BIGINT) AS n_cust,
      |  ROUND(CAST(sg AS DOUBLE) / CAST(s AS DOUBLE), 6) AS income_share,
      |  ROUND(CAST(stg AS DOUBLE) / ng, 6) AS theil_within,
      |  ROUND(mu_ratio, 6) AS mean_ratio,
      |  theil_total, theil_between
      |FROM wb CROSS JOIN consts ORDER BY n_name""".stripMargin

  /** q337: empirical-Bayes shrinkage of per-brand return rates
    * (beta-binomial, method-of-moments prior) — small brands' raw rates
    * are noise; the EB posterior (r+α)/(n+α+β) pulls them toward the
    * cross-brand prior with strength κ=α+β estimated from the
    * BETWEEN-BRAND moment equations m(1−m)/v − 1. Rates snap to the
    * 1e-12 integer grid before the moments (exact integer sums across
    * brands), the prior solve is fixed-order double scalars, and the
    * shrink weight n/(n+κ) shows exactly how much each brand kept of
    * its own signal. Falls back to the raw rate when the between-brand
    * variance can't support a prior (v ≤ 0 or κ ≤ 0).
    */
  def q337EbReturnRates(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val per = table(spark, dir, "lineitem")
      .join(broadcast(rawTable(spark, dir, "part")
        .select($"p_partkey", $"p_brand")), $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand")
      .agg(count(lit(1)).as("n"),
        sum(when($"l_returnflag" === "R", 1L).otherwise(0L)).as("r"))
      .withColumn("x_e12", expr("(r * 1000000000000) div n"))
      .localCheckpoint() // |brands| rows
    val prior = per.agg(count(lit(1)).as("k"), sum($"x_e12").as("sx"),
      sum($"x_e12".cast(DecimalType(19, 0)) * $"x_e12".cast(DecimalType(19, 0)))
        .as("sxx"))
      .select(
        ($"sx".cast("double") / $"k" / 1e12).as("m"),
        (($"k" * $"sxx" - $"sx".cast(DecimalType(19, 0)) *
          $"sx".cast(DecimalType(19, 0))).cast("double") /
          ($"k".cast("double") * $"k".cast("double")) / 1e24).as("v"))
      .select($"m", $"v",
        when($"v" > 0, $"m" * (lit(1.0) - $"m") / $"v" - 1.0).as("kappa"))
    per.crossJoin(broadcast(prior))
      .select($"p_brand", $"n".as("n_items"), $"r".as("n_returned"),
        round($"r".cast("double") / $"n", 6).as("rate_raw"),
        when($"kappa" > 0,
          round(($"r".cast("double") + $"m" * $"kappa") /
            ($"n".cast("double") + $"kappa"), 6))
          .otherwise(round($"r".cast("double") / $"n", 6)).as("rate_shrunk"),
        when($"kappa" > 0,
          round($"n".cast("double") / ($"n".cast("double") + $"kappa"), 6))
          .otherwise(1.0).as("self_weight"))
      .orderBy($"p_brand")
  }

  val q337Sql: String =
    """WITH per AS (
      |  SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS r
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY 1),
      |pe AS (SELECT p_brand, n, r, (r * 1000000000000) // n AS x_e12
      |  FROM per),
      |prior0 AS (
      |  SELECT COUNT(*) AS k, CAST(SUM(x_e12) AS BIGINT) AS sx,
      |    SUM(CAST(x_e12 AS DECIMAL(19,0)) * CAST(x_e12 AS DECIMAL(19,0)))
      |      AS sxx
      |  FROM pe),
      |prior1 AS (
      |  SELECT CAST(sx AS DOUBLE) / k / 1e12 AS m,
      |    CAST(k * sxx - CAST(sx AS DECIMAL(19,0))
      |        * CAST(sx AS DECIMAL(19,0)) AS DOUBLE)
      |      / (CAST(k AS DOUBLE) * CAST(k AS DOUBLE)) / 1e24 AS v
      |  FROM prior0),
      |prior AS (
      |  SELECT m, v,
      |    CASE WHEN v > 0 THEN m * (1.0 - m) / v - 1.0 END AS kappa
      |  FROM prior1)
      |SELECT p_brand, n AS n_items, r AS n_returned,
      |  ROUND(CAST(r AS DOUBLE) / n, 6) AS rate_raw,
      |  CASE WHEN kappa > 0 THEN
      |    ROUND((CAST(r AS DOUBLE) + m * kappa) / (CAST(n AS DOUBLE) + kappa), 6)
      |  ELSE ROUND(CAST(r AS DOUBLE) / n, 6) END AS rate_shrunk,
      |  CASE WHEN kappa > 0 THEN
      |    ROUND(CAST(n AS DOUBLE) / (CAST(n AS DOUBLE) + kappa), 6)
      |  ELSE 1.0 END AS self_weight
      |FROM pe CROSS JOIN prior ORDER BY p_brand""".stripMargin

  /** q339: chained price index between the corpus's first and last ship
    * year — Laspeyres (base-year basket), Paasche (current basket) and
    * Fisher (geometric mean): "how much did the same goods get more
    * expensive", the deflator every revenue trend needs before claiming
    * growth. Per (part, year): exact-decimal quantity and value sums;
    * unit values v/q are one correctly-rounded double division each;
    * the cross-part basket folds snap each price×quantity product to
    * the 1e-6 grid and sum in decimal. Restricted to parts traded in
    * BOTH years (the index is undefined off the common basket). The
    * years come from the data (min/max ship year), so the card follows
    * the corpus.
    */
  def q339PriceIndex(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = table(spark, dir, "lineitem")
      .select($"l_partkey", year($"l_shipdate").as("yr"),
        $"l_quantity", $"l_extendedprice")
    val yrs = li.agg(min($"yr").as("y0"), max($"yr").as("y1"))
    val py = li.crossJoin(broadcast(yrs))
      .filter($"yr" === $"y0" || $"yr" === $"y1")
      .groupBy($"l_partkey", $"yr")
      .agg(sum($"l_quantity".cast(DecimalType(18, 2))).as("q"),
        sum($"l_extendedprice".cast(DecimalType(18, 2))).as("v"))
      .withColumn("uv", $"v".cast("double") / $"q".cast("double"))
    val base = py.crossJoin(broadcast(yrs)).filter($"yr" === $"y0")
      .select($"l_partkey", $"q".as("q0"), $"uv".as("p0"))
    val cur = py.crossJoin(broadcast(yrs)).filter($"yr" === $"y1")
      .select($"l_partkey", $"q".as("q1"), $"uv".as("p1"))
    base.join(cur, Seq("l_partkey"))
      .agg(count(lit(1)).as("n_common_parts"),
        sum(round($"p1" * $"q0".cast("double"), 6).cast(DecimalType(38, 6)))
          .as("l_num"),
        sum(round($"p0" * $"q0".cast("double"), 6).cast(DecimalType(38, 6)))
          .as("l_den"),
        sum(round($"p1" * $"q1".cast("double"), 6).cast(DecimalType(38, 6)))
          .as("p_num"),
        sum(round($"p0" * $"q1".cast("double"), 6).cast(DecimalType(38, 6)))
          .as("p_den"))
      .crossJoin(broadcast(yrs))
      .select($"y0".cast("long").as("year0"), $"y1".cast("long").as("year1"),
        $"n_common_parts",
        round($"l_num".cast("double") / $"l_den".cast("double"), 6)
          .as("laspeyres"),
        round($"p_num".cast("double") / $"p_den".cast("double"), 6)
          .as("paasche"),
        round(sqrt(($"l_num".cast("double") / $"l_den".cast("double")) *
          ($"p_num".cast("double") / $"p_den".cast("double"))), 6).as("fisher"))
  }

  val q339Sql: String =
    """WITH li AS (
      |  SELECT l_partkey, year(l_shipdate) AS yr, l_quantity,
      |    l_extendedprice
      |  FROM lineitem),
      |yrs AS (SELECT MIN(yr) AS y0, MAX(yr) AS y1 FROM li),
      |py AS (
      |  SELECT l_partkey, yr,
      |    SUM(CAST(l_quantity AS DECIMAL(18,2))) AS q,
      |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS v
      |  FROM li CROSS JOIN yrs WHERE yr = y0 OR yr = y1
      |  GROUP BY 1, 2),
      |uv AS (SELECT l_partkey, yr, q,
      |    CAST(v AS DOUBLE) / CAST(q AS DOUBLE) AS uv FROM py),
      |base AS (
      |  SELECT l_partkey, q AS q0, uv AS p0
      |  FROM uv CROSS JOIN yrs WHERE yr = y0),
      |cur AS (
      |  SELECT l_partkey, q AS q1, uv AS p1
      |  FROM uv CROSS JOIN yrs WHERE yr = y1),
      |f AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_common_parts,
      |    SUM(CAST(ROUND(p1 * CAST(q0 AS DOUBLE), 6) AS DECIMAL(38,6)))
      |      AS l_num,
      |    SUM(CAST(ROUND(p0 * CAST(q0 AS DOUBLE), 6) AS DECIMAL(38,6)))
      |      AS l_den,
      |    SUM(CAST(ROUND(p1 * CAST(q1 AS DOUBLE), 6) AS DECIMAL(38,6)))
      |      AS p_num,
      |    SUM(CAST(ROUND(p0 * CAST(q1 AS DOUBLE), 6) AS DECIMAL(38,6)))
      |      AS p_den
      |  FROM base JOIN cur USING (l_partkey))
      |SELECT CAST(y0 AS BIGINT) AS year0, CAST(y1 AS BIGINT) AS year1,
      |  n_common_parts,
      |  ROUND(CAST(l_num AS DOUBLE) / CAST(l_den AS DOUBLE), 6) AS laspeyres,
      |  ROUND(CAST(p_num AS DOUBLE) / CAST(p_den AS DOUBLE), 6) AS paasche,
      |  ROUND(sqrt((CAST(l_num AS DOUBLE) / CAST(l_den AS DOUBLE))
      |    * (CAST(p_num AS DOUBLE) / CAST(p_den AS DOUBLE))), 6) AS fisher
      |FROM f CROSS JOIN yrs""".stripMargin

  /** q342: customer-value migration matrix — q330's monetary score
    * recomputed independently in the FIRST and SECOND half of the order
    * history (calendar split at the midpoint date), then the (t0, t1)
    * transition counts over customers active in both halves: the
    * segment-churn card ("are my 5s staying 5s"). Scores are the same
    * deterministic rank buckets as q330 (ties by custkey), each period
    * ranked among ITS OWN active customers, so the matrix is a pure
    * function of the data. Two hash aggs + two |customers| rank
    * windows + one equi-join on custkey.
    */
  def q342RfmMigration(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = table(spark, dir, "orders")
      .select($"o_custkey", $"o_orderdate".cast("date").as("d"),
        $"o_totalprice")
    val span = o.agg(min($"d").as("mind"), max($"d").as("maxd"))
    val per = o.crossJoin(broadcast(span))
      .withColumn("period",
        when($"d" < date_add($"mind", expr("CAST(datediff(maxd, mind) div 2 AS INT)")), 0L)
          .otherwise(1L))
      .groupBy($"o_custkey", $"period")
      .agg(sum($"o_totalprice".cast(DecimalType(18, 2))).as("money"))
    val w = Window.partitionBy($"period")
      .orderBy($"money".desc, $"o_custkey")
    val scored = per
      .withColumn("rnk", row_number().over(w).cast("long"))
      .withColumn("np", count(lit(1)).over(Window.partitionBy($"period")))
      .select($"o_custkey", $"period",
        expr("5 - ((rnk - 1) * 5) div np").as("m_score"))
    val t0 = scored.filter($"period" === 0L)
      .select($"o_custkey", $"m_score".as("m_score_t0"))
    val t1 = scored.filter($"period" === 1L)
      .select($"o_custkey", $"m_score".as("m_score_t1"))
    t0.join(t1, Seq("o_custkey"))
      .groupBy($"m_score_t0", $"m_score_t1")
      .agg(count(lit(1)).as("n_customers"))
      .withColumn("share", round($"n_customers".cast("double") /
        sum($"n_customers").over(Window.partitionBy()), 6))
      .orderBy($"m_score_t0", $"m_score_t1")
  }

  val q342Sql: String =
    """WITH o AS (
      |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d, o_totalprice
      |  FROM orders),
      |span AS (SELECT MIN(d) AS mind, MAX(d) AS maxd FROM o),
      |per AS (
      |  SELECT o_custkey,
      |    CASE WHEN d < mind + (date_diff('day', mind, maxd) // 2)
      |      * INTERVAL 1 DAY THEN 0 ELSE 1 END AS period,
      |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS money
      |  FROM o CROSS JOIN span
      |  GROUP BY 1, 2),
      |scored AS (
      |  SELECT o_custkey, period,
      |    5 - (CAST(ROW_NUMBER() OVER (PARTITION BY period
      |        ORDER BY money DESC, o_custkey) AS BIGINT) - 1) * 5
      |      // COUNT(*) OVER (PARTITION BY period) AS m_score
      |  FROM per),
      |j AS (
      |  SELECT a.m_score AS m_score_t0, b.m_score AS m_score_t1
      |  FROM scored a JOIN scored b
      |    ON a.o_custkey = b.o_custkey AND a.period = 0 AND b.period = 1),
      |g AS (
      |  SELECT m_score_t0, m_score_t1, CAST(COUNT(*) AS BIGINT)
      |    AS n_customers
      |  FROM j GROUP BY 1, 2)
      |SELECT m_score_t0, m_score_t1, n_customers,
      |  ROUND(CAST(n_customers AS DOUBLE) / SUM(n_customers) OVER (), 6)
      |    AS share
      |FROM g ORDER BY m_score_t0, m_score_t1""".stripMargin

  val queries: Seq[(String, Q)] = Seq(
    "q342_rfm_migration" -> (q342RfmMigration _),
    "q336_theil_index" -> (q336TheilIndex _),
    "q337_eb_return_rates" -> (q337EbReturnRates _),
    "q339_price_index" -> (q339PriceIndex _),
    "q326_skyline_parts" -> (q326SkylineParts _),
    "q327_lorenz_gini" -> (q327LorenzGini _),
    "q328_hhi_concentration" -> (q328HhiConcentration _),
    "q329_abc_classes" -> (q329AbcClasses _),
    "q330_rfm_segments" -> (q330RfmSegments _),
    "q307_price_elasticity" -> (q307PriceElasticity _),
    "q294_reco_eval" -> (q294RecoEval _),
    "q292_negative_sampling" -> (q292NegativeSampling _),
    "q280_adamic_adar" -> (q280AdamicAdar _),
    "q279_assoc_rules" -> (q279AssocRules _),
    "q253_shipping_priority" -> (q253ShippingPriority _),
    "q254_order_priority" -> (q254OrderPriority _),
    "q255_forecast_revenue" -> (q255ForecastRevenue _),
    "q256_volume_shipping" -> (q256VolumeShipping _),
    "q257_product_profit" -> (q257ProductProfit _),
    "q258_priority_shipping" -> (q258PriorityShipping _),
    "q259_customer_distribution" -> (q259CustomerDistribution _),
    "q260_promo_revenue" -> (q260PromoRevenue _),
    "q261_parts_supplier_count" -> (q261PartsSupplierCount _),
    "q262_discounted_revenue" -> (q262DiscountedRevenue _),
    "q236_important_parts" -> (q236ImportantParts _),
    "q237_top_supplier" -> (q237TopSupplier _),
    "q238_heavy_shippers" -> (q238HeavyShippers _),
    "q235_join_blowup" -> (q235JoinBlowup _),
    "q227_small_qty_revenue" -> (q227SmallQtyRevenue _),
    "q228_big_orders" -> (q228BigOrders _),
    "q229_dormant_balances" -> (q229DormantBalances _),
    "q230_cheapest_supplier" -> (q230CheapestSupplier _),
    "q208_revenue_pareto" -> (q208RevenuePareto _),
    "q201_sole_returner" -> (q201SoleReturner _),
    "q190_market_share" -> (q190MarketShare _),
    "q111_integrity_audit" -> (q111IntegrityAudit _),
    "q112_returned_revenue" -> (q112ReturnedRevenue _),
    "q01_pricing_summary" -> (q01PricingSummary _),
    "q02_filter_project" -> (q02FilterProject _),
    "q03_join_broadcast" -> (q03JoinBroadcast _),
    "q04_join_multiway" -> (q04JoinMultiway _),
    "q05_join_outer" -> (q05JoinOuter _),
    "q06_join_semi" -> (q06JoinSemi _),
    "q07_join_anti" -> (q07JoinAnti _),
    "q08_agg_distinct" -> (q08AggDistinct _),
    "q09_agg_approx" -> (q09AggApprox _),
    "q10_rollup" -> (q10Rollup _),
    "q11_cube" -> (q11Cube _),
    "q12_window_rank" -> (q12WindowRank _),
    "q13_window_lag_lead" -> (q13WindowLagLead _),
    "q14_window_running" -> (q14WindowRunning _),
    "q15_topk_global" -> (q15TopkGlobal _),
    "q16_topk_pergroup" -> (q16TopkPerGroup _),
    "q17_setops" -> (q17SetOps _),
    "q18_string_funcs" -> (q18StringFuncs _),
    "q19_datetime_funcs" -> (q19DatetimeFuncs _),
    "q20_math_conditional" -> (q20MathConditional _),
    "q21_distinct_proj" -> (q21DistinctProj _),
    "q22_range_band_join" -> (q22RangeBandJoin _),
    "q46_grouping_sets" -> (q46GroupingSets _),
    "q48_outer_full" -> (q48OuterFull _),
    "q50_pivot" -> (q50Pivot _),
    "q51_percentiles" -> (q51Percentiles _),
    "q54_setops_all" -> (q54SetopsAll _),
    "q56_union_by_name" -> (q56UnionByName _),
    "q57_explode_outer" -> (q57ExplodeOuter _),
    "q59_array_funcs" -> (q59ArrayFuncs _),
    "q60_bool_aggs" -> (q60BoolAggs _),
    "q61_null_safe_join" -> (q61NullSafeJoin _),
    "q62_window_values" -> (q62WindowValues _),
    "q63_string_shaping" -> (q63StringShaping _))

  val oracles: Seq[(String, String)] = Seq(
    "q342_rfm_migration" -> q342Sql,
    "q336_theil_index" -> q336Sql,
    "q337_eb_return_rates" -> q337Sql,
    "q339_price_index" -> q339Sql,
    "q326_skyline_parts" -> q326Sql,
    "q327_lorenz_gini" -> q327Sql,
    "q328_hhi_concentration" -> q328Sql,
    "q329_abc_classes" -> q329Sql,
    "q330_rfm_segments" -> q330Sql,
    "q307_price_elasticity" -> q307Sql,
    "q294_reco_eval" -> q294Sql,
    "q292_negative_sampling" -> q292Sql,
    "q280_adamic_adar" -> q280Sql,
    "q279_assoc_rules" -> q279Sql,
    "q253_shipping_priority" -> q253Sql,
    "q254_order_priority" -> q254Sql,
    "q255_forecast_revenue" -> q255Sql,
    "q256_volume_shipping" -> q256Sql,
    "q257_product_profit" -> q257Sql,
    "q258_priority_shipping" -> q258Sql,
    "q259_customer_distribution" -> q259Sql,
    "q260_promo_revenue" -> q260Sql,
    "q261_parts_supplier_count" -> q261Sql,
    "q262_discounted_revenue" -> q262Sql,
    "q236_important_parts" -> q236Sql,
    "q237_top_supplier" -> q237Sql,
    "q238_heavy_shippers" -> q238Sql,
    "q235_join_blowup" -> q235Sql,
    "q227_small_qty_revenue" -> q227Sql,
    "q228_big_orders" -> q228Sql,
    "q229_dormant_balances" -> q229Sql,
    "q230_cheapest_supplier" -> q230Sql,
    "q208_revenue_pareto" -> q208Sql,
    "q201_sole_returner" -> q201Sql,
    "q190_market_share" -> q190Sql,
    "q111_integrity_audit" -> q111Sql,
    "q112_returned_revenue" -> q112Sql,
    "q01_pricing_summary" -> q01Sql,
    "q02_filter_project" -> q02Sql,
    "q03_join_broadcast" -> q03Sql,
    "q04_join_multiway" -> q04Sql,
    "q05_join_outer" -> q05Sql,
    "q06_join_semi" -> q06Sql,
    "q07_join_anti" -> q07Sql,
    "q08_agg_distinct" -> q08Sql,
    "q10_rollup" -> q10Sql,
    "q11_cube" -> q11Sql,
    "q12_window_rank" -> q12Sql,
    "q13_window_lag_lead" -> q13Sql,
    "q14_window_running" -> q14Sql,
    "q15_topk_global" -> q15Sql,
    "q16_topk_pergroup" -> q16Sql,
    "q17_setops" -> q17Sql,
    "q18_string_funcs" -> q18Sql,
    "q19_datetime_funcs" -> q19Sql,
    "q20_math_conditional" -> q20Sql,
    "q21_distinct_proj" -> q21Sql,
    "q22_range_band_join" -> q22Sql,
    "q46_grouping_sets" -> q46Sql,
    "q48_outer_full" -> q48Sql,
    "q50_pivot" -> q50Sql,
    "q51_percentiles" -> q51Sql,
    "q54_setops_all" -> q54Sql,
    "q56_union_by_name" -> q56Sql,
    "q57_explode_outer" -> q57Sql,
    "q59_array_funcs" -> q59Sql,
    "q60_bool_aggs" -> q60Sql,
    "q61_null_safe_join" -> q61Sql,
    "q62_window_values" -> q62Sql,
    "q63_string_shaping" -> q63Sql)
}
