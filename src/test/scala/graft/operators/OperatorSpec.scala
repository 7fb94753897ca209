package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Spot-checks of the relational suite against independently computed
  * expectations (collect + plain Scala), complementing the DuckDB
  * differential the driver runs.
  */
class OperatorSpec extends SparkSpec {

  test("q09: approx_count_distinct within 5% of exact") {
    val rows = Relational.q09AggApprox(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (approx, exact) = (r.getAs[Long]("approx_orders"), r.getAs[Long]("exact_orders"))
      assert(math.abs(approx - exact).toDouble / exact < 0.05,
        s"approx $approx vs exact $exact off by >5%")
    }
  }

  test("q110: approx_percentile within 5% of the exact median") {
    val rows = Extended.q110ApproxQuantiles(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (approx, exact) = (r.getAs[Double]("approx_p50"), r.getAs[Double]("exact_p50"))
      assert(math.abs(approx - exact) / exact < 0.05,
        s"approx $approx vs exact $exact off by >5%")
    }
  }

  test("q15: global top-k equals collect-and-sort") {
    import spark.implicits._
    val got = Relational.q15TopkGlobal(spark, sf).select($"o_orderkey").collect().map(_.getLong(0))
    val want = spark.read.parquet(s"$sf/orders.parquet")
      .select($"o_orderkey", $"o_totalprice").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy { case (k, p) => (-p, k) }.take(25).map(_._1)
    assert(got.toSeq === want.toSeq)
  }

  test("q12: row_number is a total order within each partition") {
    val rows = Relational.q12WindowRank(spark, sf).collect()
    rows.groupBy(_.getString(0)).foreach { case (_, grp) =>
      assert(grp.map(_.getAs[Long]("rn")).sorted.toSeq === (1L to grp.length).toSeq)
    }
  }

  test("q26: gate admits exactly the uniquely-configured active streams") {
    val types = EventOps.q26GateSemijoin(spark, sf).collect().map(_.getString(0)).toSet
    assert(types === Set("click", "error"))
  }

  test("saltedJoin: equals the plain join exactly, spread over salts") {
    import spark.implicits._
    val li = spark.read.parquet(s"$sf/lineitem.parquet").select($"l_orderkey", $"l_quantity")
    val o = spark.read.parquet(s"$sf/orders.parquet")
      .select($"o_orderkey".as("l_orderkey"), $"o_orderpriority")
    val plain = li.join(o, "l_orderkey")
    val salted = Skew.saltedJoin(li, o, "l_orderkey", saltFactor = 4)
    assert(salted.count() === plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("saltedCountSum: equals plain groupBy aggregation") {
    import spark.implicits._
    val ev = spark.read.parquet(s"$sf/events.parquet").select($"event_type", $"value")
    val plain = ev.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"value").as("sum")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val salted = Skew.saltedCountSum(ev, "event_type", "value", 4).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(salted === plain)
  }

  test("q50: pivot equals conditional aggregation") {
    import spark.implicits._
    val got = Relational.q50Pivot(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val want = li.groupBy($"l_returnflag").agg(
      sum(when($"l_linestatus" === "F", $"l_quantity").otherwise(0.0)).as("f"),
      sum(when($"l_linestatus" === "O", $"l_quantity").otherwise(0.0)).as("o")).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    got.foreach { case (k, (f, o)) =>
      assert(math.abs(f - want(k)._1) < 1e-6 && math.abs(o - want(k)._2) < 1e-6)
    }
  }

  test("q24: CDC latest-per-key picks the max event_id per user") {
    import spark.implicits._
    val got = EventOps.q24CdcLatest(spark, sf)
      .select($"user_id", $"last_event_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = spark.read.parquet(s"$sf/events.parquet")
      .groupBy($"user_id").agg(max($"event_id").as("m")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want)
  }

  test("q132: SCD2 snapshot state equals replaying raw events up to T") {
    import spark.implicits._
    val snap = EventOps.q132Scd2Snapshot(spark, sf).collect()
    assert(snap.nonEmpty)
    assert(snap.map(_.getAs[Long]("user_id")).distinct.length === snap.length)
    val t = snap.head.getAs[Long]("t_snap")
    // ground truth: last event (by ts, event_id) at or before T per user
    val want = graft.Util.events(spark, sf)
      .filter($"user_id" < 20 && $"ts_ms" <= t)
      .select($"user_id", $"ts_ms", $"event_id", $"event_type").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3))))
      .groupBy(_._1)
      .map { case (u, rows) => u -> rows.map(_._2).maxBy(x => (x._1, x._2))._3 }
    val got = snap.map(r =>
      r.getAs[Long]("user_id") -> r.getAs[String]("state_at_t")).toMap
    assert(got === want)
  }

  test("q152: attribution buckets partition the purchases; gaps within the window") {
    import spark.implicits._
    val rows = EventOps.q152Attribution(spark, sf).collect()
    assert(rows.nonEmpty)
    val nPurch = graft.Util.events(spark, sf)
      .filter($"event_type" === "purchase").count()
    assert(rows.map(_.getAs[Long]("n_purchases")).sum === nPurch)
    val channels = rows.map(_.getAs[String]("channel")).toSet
    assert(channels.subsetOf(Set("click", "view", "organic")))
    // attributed channels carry a gap inside the 7-day window; organic none
    rows.foreach { r =>
      val gap = Option(r.getAs[java.lang.Double]("avg_gap_ms"))
      if (r.getAs[String]("channel") == "organic") assert(gap.isEmpty)
      else gap.foreach(g => assert(g >= 0 && g <= 7L * 24 * 3600 * 1000))
    }
  }

  test("q153: cohort matrix — offset-0 retention is 100, actives never exceed cohort size") {
    import spark.implicits._
    val rows = EventOps.q153CohortRetention(spark, sf).collect()
    assert(rows.nonEmpty)
    val byCohort = rows.groupBy(_.getAs[java.sql.Date]("cohort_date").toString)
    byCohort.values.foreach { cells =>
      val at0 = cells.find(_.getAs[Long]("offset_day") == 0L).get
      assert(at0.getAs[Double]("retention_pct") === 100.0)
      val size = at0.getAs[Long]("n_active")
      cells.foreach(c => assert(c.getAs[Long]("n_active") <= size))
    }
    // every user is counted in exactly one cohort at offset 0
    val nUsers = graft.Util.events(spark, sf).select("user_id").distinct().count()
    assert(byCohort.values.map(
      _.find(_.getAs[Long]("offset_day") == 0L).get.getAs[Long]("n_active")).sum === nUsers)
  }

  test("q158: MAD report matches a brute-force median computation") {
    import spark.implicits._
    val rows = Extended.q158MadOutliers(spark, sf).collect()
    assert(rows.nonEmpty)
    val vals = graft.Util.events(spark, sf)
      .select($"event_type", $"value").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).groupBy(_._1)
      .map { case (t, xs) => t -> xs.map(_._2).sorted }
    def medianOf(xs: Array[Double]): Double = {
      val n = xs.length
      if (n % 2 == 1) xs(n / 2) else (xs(n / 2 - 1) + xs(n / 2)) / 2.0
    }
    rows.foreach { r =>
      val t = r.getAs[String]("event_type")
      val xs = vals(t)
      val med = medianOf(xs)
      val mad = medianOf(xs.map(x => math.abs(x - med)).sorted)
      assert(math.abs(r.getAs[Double]("med") - med) < 1e-6, s"med($t)")
      assert(math.abs(r.getAs[Double]("mad") - mad) < 1e-6, s"mad($t)")
      val nOut = xs.count(x => math.abs(x - med) > 4.4478 * mad)
      assert(r.getAs[Long]("n_outliers") === nOut, s"outliers($t)")
    }
  }
}
