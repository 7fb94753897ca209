package graft.operators

import graft.Util._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

/** Event-stream operators — batch twins of the reference's replicator
  * semantics, computed over the `events` table (which plays the Kinesis
  * stream: event_type ≈ streamName, user_id ≈ partitionKey, event_id ≈
  * sequenceNumber, ts ≈ commitTimestamp/arrival; FIXTURES.md §B).
  *
  * The live Structured Streaming pipeline with the same semantics lives in
  * [[graft.streaming.Replicator]]; these batch formulations are the
  * DuckDB-oracle-checkable versions the driver grades.
  *
  * `ts` is parquet TIMESTAMP(NANOS) read as bigint nanos; `ts_ms` (epoch
  * millis, floor) matches DuckDB `epoch_ms(ts)`.
  */
object EventOps {

  /** q23: schema-on-read JSON scalar extraction — the reference's
    * `readTree(data).at("/commitTimestamp")` pattern (Handler.java:86,132)
    * as `get_json_object` over `events.props`.
    */
  def q23JsonExtract(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    events(spark, dir)
      .withColumn("k", get_json_object($"props", "$.k").cast("long"))
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n_events"),
        min($"k").as("min_k"),
        max($"k").as("max_k"),
        sum($"k").as("sum_k"),
        countDistinct($"k").as("n_distinct_k"))
      .orderBy($"event_type")
  }

  val q23Sql: String =
    """SELECT event_type, COUNT(*) AS n_events,
      |  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
      |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  COUNT(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_distinct_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q24: CDC compaction — latest record per key (the batch analogue of the
    * reference's last-writer-wins checkpoint, Handler.java:85). Keyed
    * dedup via ranked window on the sequence number; at scale this is one
    * shuffle on the key, no global sort.
    */
  def q24CdcLatest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"event_id".desc)
    events(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"user_id", $"event_id".as("last_event_id"), $"event_type", $"value", $"ts_ms")
      .orderBy($"user_id")
  }

  val q24Sql: String =
    """SELECT user_id, event_id AS last_event_id, event_type, value, epoch_ms(ts) AS ts_ms
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn FROM events)
      |WHERE rn = 1 ORDER BY user_id""".stripMargin

  /** q25: checkpoint upsert semantics — `max_by(commitTimestamp,
    * sequenceNumber)` per stream (SURVEY §2.A op 7): one row per stream
    * instead of the reference's per-record PutItem write amplification.
    */
  def q25CheckpointMaxby(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    events(spark, dir)
      .groupBy($"event_type")
      .agg(
        max_by($"ts_ms", $"event_id").as("last_commit_ms"),
        max($"ts_ms").as("max_arrival_ms"),
        min_by($"ts_ms", $"event_id").as("first_commit_ms"),
        count(lit(1)).as("n_records"))
      .orderBy($"event_type")
  }

  val q25Sql: String =
    """SELECT event_type,
      |  arg_max(epoch_ms(ts), event_id) AS last_commit_ms,
      |  MAX(epoch_ms(ts)) AS max_arrival_ms,
      |  arg_min(epoch_ms(ts), event_id) AS first_commit_ms,
      |  COUNT(*) AS n_records
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q26: the active-region gate (SURVEY §2.A op 3, Handler.java:139-167)
    * as a broadcast left-semi join: a stream passes only if its config row
    * is unique (>1 rows → error → inactive, Handler.java:156-159) and its
    * active region case-insensitively equals the current region
    * (Handler.java:161). `purchase` is active elsewhere, `signup` has a
    * duplicate config, `view` has none — only click/error pass.
    */
  def q26GateSemijoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val currentRegion = "US-EAST-1"
    val config = Seq(
      ("click", "us-east-1"),
      ("error", "US-East-1"),
      ("purchase", "eu-west-1"),
      ("signup", "us-east-1"),
      ("signup", "eu-west-1")).toDF("streamName", "activeRegion")
    val active = config.groupBy($"streamName")
      .agg(count(lit(1)).as("n_cfg"), max($"activeRegion").as("region"))
      .filter($"n_cfg" === 1 && lower($"region") === lower(lit(currentRegion)))
      .select($"streamName")
    events(spark, dir)
      .join(broadcast(active), $"event_type" === $"streamName", "left_semi")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_replicated"), max($"ts_ms").as("max_arrival_ms"))
      .orderBy($"event_type")
  }

  val q26Sql: String =
    """WITH config(streamName, activeRegion) AS (VALUES
      |  ('click','us-east-1'), ('error','US-East-1'), ('purchase','eu-west-1'),
      |  ('signup','us-east-1'), ('signup','eu-west-1')),
      |active AS (
      |  SELECT streamName FROM config GROUP BY streamName
      |  HAVING COUNT(*) = 1 AND LOWER(MAX(activeRegion)) = LOWER('US-EAST-1'))
      |SELECT event_type, COUNT(*) AS n_replicated, MAX(epoch_ms(ts)) AS max_arrival_ms
      |FROM events WHERE event_type IN (SELECT streamName FROM active)
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q27: as-of join — for every purchase, the most recent signup of the
    * same user at or before it. Implemented scalably as union + running
    * `last(ignoreNulls)` window (one shuffle on user_id, no join blow-up),
    * per the streaming as-of literature; the oracle states the same thing
    * declaratively with a correlated max() subquery.
    */
  def q27AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Microsecond timestamps on both sides: DuckDB's epoch_us floor-
    // truncates TIMESTAMP_NS, matching `ts div 1000` on the nanos long.
    val ev = events(spark, dir)
      .filter($"event_type".isin("signup", "purchase"))
      .withColumn("ts_us", expr("ts div 1000"))
      .withColumn("signup_ts", when($"event_type" === "signup", $"ts_us"))
    val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("last_signup_ts", last($"signup_ts", ignoreNulls = true).over(w))
      .filter($"event_type" === "purchase")
      .select(
        $"event_id", $"user_id", $"ts_us".as("purchase_ts_us"),
        $"last_signup_ts".as("signup_ts_us"),
        ($"ts_us" - $"last_signup_ts").as("gap_us"))
      .orderBy($"event_id")
  }

  val q27Sql: String =
    """SELECT a.event_id, a.user_id, epoch_us(a.ts) AS purchase_ts_us,
      |  (SELECT MAX(epoch_us(b.ts)) FROM events b
      |   WHERE b.user_id = a.user_id AND b.event_type = 'signup'
      |     AND (epoch_us(b.ts) < epoch_us(a.ts)
      |          OR (epoch_us(b.ts) = epoch_us(a.ts) AND b.event_id <= a.event_id))) AS signup_ts_us,
      |  epoch_us(a.ts) - (SELECT MAX(epoch_us(b.ts)) FROM events b
      |   WHERE b.user_id = a.user_id AND b.event_type = 'signup'
      |     AND (epoch_us(b.ts) < epoch_us(a.ts)
      |          OR (epoch_us(b.ts) = epoch_us(a.ts) AND b.event_id <= a.event_id))) AS gap_us
      |FROM events a WHERE a.event_type = 'purchase'
      |ORDER BY a.event_id""".stripMargin

  /** q148: FORWARD as-of join with a tolerance bound — for every
    * purchase, the next click of the same user strictly after it, kept
    * only when it lands within 120 s (the merge-asof
    * direction='forward', tolerance=Δ shape; q27 is the backward
    * default). Same scalable formulation: union + `first(ignoreNulls)`
    * over the FOLLOWING frame — one shuffle on user_id, no join — with
    * the tolerance applied as a null-out afterwards, so "no match within
    * Δ" is an explicit null, not a dropped row. Ties (same timestamp)
    * break on event id, mirroring the backward twin.
    */
  def q148AsofForward(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tolUs = 120000000L
    val ev = events(spark, dir)
      .filter($"event_type".isin("click", "purchase"))
      .withColumn("ts_us", expr("ts div 1000"))
      .withColumn("click_ts", when($"event_type" === "click", $"ts_us"))
    val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
      .rowsBetween(1, Window.unboundedFollowing)
    ev.withColumn("next_click", first($"click_ts", ignoreNulls = true).over(w))
      .filter($"event_type" === "purchase")
      .withColumn("click_ts_us",
        when($"next_click" - $"ts_us" <= tolUs, $"next_click"))
      .select($"event_id", $"user_id", $"ts_us".as("purchase_ts_us"),
        $"click_ts_us", ($"click_ts_us" - $"ts_us").as("gap_us"))
      .orderBy($"event_id")
  }

  val q148Sql: String =
    """WITH p AS (
      |  SELECT a.event_id, a.user_id, epoch_us(a.ts) AS purchase_ts_us,
      |    (SELECT MIN(epoch_us(b.ts)) FROM events b
      |     WHERE b.user_id = a.user_id AND b.event_type = 'click'
      |       AND (epoch_us(b.ts) > epoch_us(a.ts)
      |            OR (epoch_us(b.ts) = epoch_us(a.ts)
      |                AND b.event_id > a.event_id))) AS next_click
      |  FROM events a WHERE a.event_type = 'purchase')
      |SELECT event_id, user_id, purchase_ts_us,
      |  CASE WHEN next_click - purchase_ts_us <= 120000000
      |    THEN next_click END AS click_ts_us,
      |  CASE WHEN next_click - purchase_ts_us <= 120000000
      |    THEN next_click - purchase_ts_us END AS gap_us
      |FROM p ORDER BY event_id""".stripMargin

  /** q28: interval (range) self-join — pairs of events of the same user
    * within 60 s. Equi-join on user_id plus a range predicate: Spark plans
    * the equi part as a shuffled join and applies the band filter on top,
    * which is the scalable formulation (no cross product).
    */
  def q28IntervalPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Bucketed band join: each left row probes only its own and the next
    // 60 s bucket, so the join is equi on (user_id, bucket) and never
    // materializes the full per-user cross product — the formulation that
    // survives 100 TB (pairs examined ∝ events per 2-bucket span, not n²).
    val winUs = 60000000L
    val ev = events(spark, dir)
      .select($"user_id", $"event_id", expr("ts div 1000").as("ts_us"))
    val a = ev.select($"user_id", $"event_id".as("a_id"), $"ts_us".as("a_ts"),
        explode(array(expr("(ts_us div 60000000)"), expr("(ts_us div 60000000) + 1"))).as("bucket"))
    val b = ev.select($"user_id", $"event_id".as("b_id"), $"ts_us".as("b_ts"),
        expr("ts_us div 60000000").as("bucket"))
    a.join(b, Seq("user_id", "bucket"))
      .filter($"b_ts" > $"a_ts" && $"b_ts" - $"a_ts" <= lit(winUs))
      .groupBy($"user_id")
      .agg(
        count(lit(1)).as("n_pairs"),
        min($"b_ts" - $"a_ts").as("min_gap_us"),
        max($"b_ts" - $"a_ts").as("max_gap_us"))
      .orderBy($"user_id")
  }

  val q28Sql: String =
    """SELECT a.user_id, COUNT(*) AS n_pairs,
      |  MIN(epoch_us(b.ts) - epoch_us(a.ts)) AS min_gap_us,
      |  MAX(epoch_us(b.ts) - epoch_us(a.ts)) AS max_gap_us
      |FROM events a JOIN events b ON a.user_id = b.user_id
      |WHERE epoch_us(b.ts) > epoch_us(a.ts)
      |  AND epoch_us(b.ts) - epoch_us(a.ts) <= 60000000
      |GROUP BY a.user_id ORDER BY a.user_id""".stripMargin

  /** q29: sessionization (gaps-and-islands): a new session starts after a
    * >30 min silence; batch twin of Structured Streaming `session_window`.
    * One shuffle on user_id; both window passes reuse the partitioning.
    */
  def q29Sessionize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val gapUs = 30L * 60 * 1000000L
    val wOrd = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
    val sessions = events(spark, dir)
      .withColumn("ts_us", expr("ts div 1000"))
      .withColumn("prev_ts", lag($"ts_us", 1).over(wOrd))
      .withColumn("is_new", when($"prev_ts".isNull || $"ts_us" - $"prev_ts" > gapUs, 1L).otherwise(0L))
      .withColumn("session_id", sum($"is_new").over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    sessions.groupBy($"user_id", $"session_id")
      .agg(count(lit(1)).as("n_events"), min($"ts_us").as("t0"), max($"ts_us").as("t1"))
      .groupBy($"user_id")
      .agg(
        count(lit(1)).as("n_sessions"),
        sum($"n_events").as("n_events"),
        max($"n_events").as("max_session_events"),
        sum($"t1" - $"t0").as("total_session_us"))
      .orderBy($"user_id")
  }

  val q29Sql: String =
    """WITH marked AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS tsu,
      |    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
      |         OR LAG(epoch_us(ts)) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
      |sess AS (
      |  SELECT user_id, event_id, tsu,
      |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY tsu, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM marked),
      |per_session AS (
      |  SELECT user_id, session_id, COUNT(*) AS n_events,
      |    MIN(tsu) AS t0, MAX(tsu) AS t1
      |  FROM sess GROUP BY user_id, session_id)
      |SELECT user_id, COUNT(*) AS n_sessions,
      |  CAST(SUM(n_events) AS BIGINT) AS n_events,
      |  MAX(n_events) AS max_session_events,
      |  CAST(SUM(t1 - t0) AS BIGINT) AS total_session_us
      |FROM per_session GROUP BY user_id ORDER BY user_id""".stripMargin

  /** q30: tumbling time window (1 h) — batch twin of Structured Streaming
    * `window($"ts", "1 hour")` aggregation; bucket arithmetic on epoch
    * millis is identical in both engines (floor integer division).
    */
  def q30TumblingWindow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    events(spark, dir)
      .withColumn("bucket_ms", expr("(ts_ms div 3600000) * 3600000"))
      .groupBy($"bucket_ms", $"event_type")
      .agg(count(lit(1)).as("n_events"), dsum($"value").as("sum_value"))
      .orderBy($"bucket_ms", $"event_type")
  }

  val q30Sql: String =
    """SELECT (epoch_ms(ts) // 3600000) * 3600000 AS bucket_ms, event_type,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY bucket_ms, event_type""".stripMargin

  /** q31: replication metrics twin (SURVEY §2.A ops 8+10): per
    * minute-batch, batch size and replication lag = batch end − last
    * arrival (Handler.java:94-98), off the data path via a plain agg here
    * and via `observe()` in the streaming pipeline.
    */
  def q31ReplMetrics(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    events(spark, dir)
      .withColumn("batch_ms", expr("(ts_ms div 60000) * 60000"))
      .groupBy($"batch_ms")
      .agg(
        count(lit(1)).as("batch_size"),
        count(lit(1)).as("successful"),
        max($"ts_ms").as("last_arrival_ms"),
        ($"batch_ms" + 60000L - max($"ts_ms")).as("replication_lag_ms"))
      .orderBy($"batch_ms")
  }

  val q31Sql: String =
    """SELECT (epoch_ms(ts) // 60000) * 60000 AS batch_ms,
      |  COUNT(*) AS batch_size, COUNT(*) AS successful,
      |  MAX(epoch_ms(ts)) AS last_arrival_ms,
      |  (epoch_ms(ts) // 60000) * 60000 + 60000 - MAX(epoch_ms(ts)) AS replication_lag_ms
      |FROM events GROUP BY 1 ORDER BY batch_ms""".stripMargin

  /** q119: replication-lag percentiles — the distribution of the
    * reference's ONE published operational metric
    * (`ReplicationLagSeconds`, Handler.java:108-115) rather than q31's
    * per-batch listing: p50/p95/p99/max of the per-minute-batch lag
    * (batch end − last arrival) across the day, the numbers an on-call
    * actually alerts on. Quantiles come from
    * [[Extended.exactQuantiles]] — the iterative count-partitioned
    * search with O(1) aggregation state, same machinery as
    * q51/q103/q115, max rides along as p=1.0 — over the per-batch lag
    * frame, which the search caches so events is scanned once
    * regardless of rounds.
    */
  def q119ReplLagPercentiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val lags = events(spark, dir)
      .withColumn("batch_ms", expr("(ts_ms div 60000) * 60000"))
      .groupBy($"batch_ms")
      .agg(($"batch_ms" + 60000L - max($"ts_ms")).as("lag_ms"))
    val qs = Extended.exactQuantiles(lags, "lag_ms", Seq(0.5, 0.95, 0.99, 1.0))
    Seq((qs(0), qs(1), qs(2), qs(3)))
      .toDF("raw_p50", "raw_p95", "raw_p99", "raw_max")
      .select(
        round($"raw_p50", 4).as("p50_lag_ms"),
        round($"raw_p95", 4).as("p95_lag_ms"),
        round($"raw_p99", 4).as("p99_lag_ms"),
        round($"raw_max", 4).as("max_lag_ms"))
  }

  val q119Sql: String =
    """WITH lags AS (
      |  SELECT (epoch_ms(ts) // 60000) * 60000 + 60000 - MAX(epoch_ms(ts)) AS lag_ms
      |  FROM events GROUP BY (epoch_ms(ts) // 60000))
      |SELECT round(quantile_cont(lag_ms, 0.5), 4) AS p50_lag_ms,
      |  round(quantile_cont(lag_ms, 0.95), 4) AS p95_lag_ms,
      |  round(quantile_cont(lag_ms, 0.99), 4) AS p99_lag_ms,
      |  round(CAST(MAX(lag_ms) AS DOUBLE), 4) AS max_lag_ms
      |FROM lags""".stripMargin

  /** q104: ordered conversion funnel — per user, the STRICT sequence
    * view → click (after the view) → purchase (after that click), the
    * product-analytics query shape (and, in pipeline terms, an ordered
    * multi-stage pattern match over a keyed event stream). Each stage is
    * a filtered min-aggregate keyed on user_id joined to the previous
    * stage's frontier; all three aggs and both joins share the user_id
    * hash partitioning, so the chain costs ONE shuffle of the events
    * table regardless of stage count. Stage frames shrink monotonically
    * (funnel!) and the per-user state is one timestamp — at 100 TB the
    * stage joins are tiny-side broadcasts.
    */
  def q104Funnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = events(spark, dir)
    val s1 = ev.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"ts_ms").as("t_view"))
    val s2 = ev.filter($"event_type" === "click")
      .join(s1, "user_id").filter($"ts_ms" > $"t_view")
      .groupBy($"user_id").agg(min($"ts_ms").as("t_click"), min($"t_view").as("t_view"))
    val s3 = ev.filter($"event_type" === "purchase")
      .join(s2, "user_id").filter($"ts_ms" > $"t_click")
      .groupBy($"user_id").agg(min($"ts_ms").as("t_purchase"), min($"t_click").as("t_click"))
    s1.agg(count(lit(1)).as("n_viewed")).crossJoin(
        s2.agg(count(lit(1)).as("n_clicked"),
          (sum($"t_click" - $"t_view").cast("double") / count(lit(1))).as("avg_view_to_click_ms")))
      .crossJoin(
        s3.agg(count(lit(1)).as("n_purchased"),
          (sum($"t_purchase" - $"t_click").cast("double") / count(lit(1))).as("avg_click_to_purchase_ms")))
      .select($"n_viewed", $"n_clicked", $"n_purchased",
        $"avg_view_to_click_ms", $"avg_click_to_purchase_ms")
  }

  val q104Sql: String =
    """WITH s1 AS (
      |  SELECT user_id, MIN(epoch_ms(ts)) AS t_view
      |  FROM events WHERE event_type = 'view' GROUP BY user_id),
      |s2 AS (
      |  SELECT user_id, MIN(epoch_ms(ts)) AS t_click, MIN(t_view) AS t_view
      |  FROM events JOIN s1 USING (user_id)
      |  WHERE event_type = 'click' AND epoch_ms(ts) > t_view GROUP BY user_id),
      |s3 AS (
      |  SELECT user_id, MIN(epoch_ms(ts)) AS t_purchase, MIN(t_click) AS t_click
      |  FROM events JOIN s2 USING (user_id)
      |  WHERE event_type = 'purchase' AND epoch_ms(ts) > t_click GROUP BY user_id)
      |SELECT
      |  (SELECT COUNT(*) FROM s1) AS n_viewed,
      |  (SELECT COUNT(*) FROM s2) AS n_clicked,
      |  (SELECT COUNT(*) FROM s3) AS n_purchased,
      |  (SELECT CAST(SUM(t_click - t_view) AS DOUBLE) / COUNT(*) FROM s2) AS avg_view_to_click_ms,
      |  (SELECT CAST(SUM(t_purchase - t_click) AS DOUBLE) / COUNT(*) FROM s3) AS avg_click_to_purchase_ms""".stripMargin

  /** q105: time-series gap filling with forward interpolation — the
    * missing-bucket repair step before any per-entity time-series model:
    * build the full (user, event_type) × day grid from the observed date
    * range, left-join the observed daily sums, and carry the last
    * observed value forward (`last(_, ignoreNulls)` ≡ DuckDB
    * `LAST_VALUE(... IGNORE NULLS)`). Daily sums are exact decimal sums
    * so observed and carried values are engine-identical.
    *
    * Scale shape: the day spine and the 1-row range agg are broadcast;
    * the grid is keys × days built WITHOUT touching the fact table
    * again; one shuffle keys the left join and the forward-fill window
    * shares its partitioning. Window length = days-per-entity, bounded
    * by the calendar, never by corpus size.
    */
  def q105GapFill(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dayMs = 86400000L
    val ev = events(spark, dir).filter($"user_id" < 10)
      .withColumn("day_idx", expr(s"ts_ms div $dayMs"))
    val daily = ev.groupBy($"user_id", $"event_type", $"day_idx")
      .agg(dsum($"value").as("day_value"))
    val span = ev.agg(min($"day_idx").as("d0"), max($"day_idx").as("d1"))
    val days = span.select(explode(sequence($"d0", $"d1")).as("day_idx"))
    val grid = daily.select($"user_id", $"event_type").distinct()
      .crossJoin(broadcast(days))
    val w = Window.partitionBy($"user_id", $"event_type").orderBy($"day_idx")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(daily, Seq("user_id", "event_type", "day_idx"), "left")
      .select($"user_id", $"event_type", ($"day_idx" * dayMs).as("day_ms"),
        $"day_value".isNotNull.as("is_observed"),
        last($"day_value", ignoreNulls = true).over(w).as("filled_value"))
      .orderBy($"user_id", $"event_type", $"day_ms")
  }

  val q105Sql: String =
    """WITH ev AS (
      |  SELECT user_id, event_type, epoch_ms(ts) // 86400000 AS day_idx, value
      |  FROM events WHERE user_id < 10),
      |daily AS (
      |  SELECT user_id, event_type, day_idx,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS day_value
      |  FROM ev GROUP BY 1, 2, 3),
      |span AS (SELECT MIN(day_idx) AS d0, MAX(day_idx) AS d1 FROM ev),
      |days AS (SELECT unnest(generate_series(d0, d1)) AS day_idx FROM span),
      |grid AS (
      |  SELECT user_id, event_type, day_idx
      |  FROM (SELECT DISTINCT user_id, event_type FROM daily) CROSS JOIN days)
      |SELECT user_id, event_type, day_idx * 86400000 AS day_ms,
      |  day_value IS NOT NULL AS is_observed,
      |  LAST_VALUE(day_value IGNORE NULLS) OVER (
      |    PARTITION BY user_id, event_type ORDER BY day_idx
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
      |FROM grid LEFT JOIN daily USING (user_id, event_type, day_idx)
      |ORDER BY user_id, event_type, day_ms""".stripMargin

  /** q109: SLIDING time windows (2 h length, 1 h slide) — the batch twin
    * of Structured Streaming `window(ts, "2 hours", "1 hour")`, using
    * the built-in windowing (each event lands in len/slide = 2
    * overlapping windows; Spark plans the small internal explode +
    * partial agg). Completes the window-family twins: tumbling (q30),
    * session (q29), sliding (here). Sums are exact decimal sums; window
    * starts surface as epoch millis, identical to DuckDB's
    * floor-arithmetic formulation because both align starts to slide
    * boundaries from the epoch.
    */
  def q109SlidingWindow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    events(spark, dir)
      .groupBy(window(timestamp_millis($"ts_ms"), "2 hours", "1 hour").as("win"),
        $"event_type")
      .agg(count(lit(1)).as("n_events"), dsum($"value").as("sum_value"))
      .select(unix_millis($"win.start").as("win_start_ms"), $"event_type",
        $"n_events", $"sum_value")
      .orderBy($"win_start_ms", $"event_type")
  }

  val q109Sql: String =
    """SELECT (epoch_ms(ts) // 3600000 - k) * 3600000 AS win_start_ms,
      |  event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events CROSS JOIN generate_series(0, 1) AS g(k)
      |GROUP BY 1, 2 ORDER BY win_start_ms, event_type""".stripMargin

  /** q113: SCD type-2 history — turn the event stream into a versioned
    * dimension: per user, each CHANGE of event_type opens a new version
    * row with [valid_from, valid_to) bounds (valid_to = next change's
    * timestamp, null while current). The gaps-and-islands change
    * detection (lag ≠ current) and the interval bounds (lead over the
    * change rows) both run on ONE user_id partitioning — the q29
    * sessionize discipline applied to the warehouse upsert-history
    * pattern (and the batch form of the reference's last-writer-wins
    * checkpoint upsert, generalized to keep history instead of only the
    * frontier). Capped to user_id < 20 to keep the graded dump small;
    * the shape is per-user-bounded at any corpus size.
    */
  def q113Scd2History(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    scd2Frame(spark, dir).orderBy($"user_id", $"version")
  }

  /** The q113 SCD2 interval frame without its presentation sort —
    * shared with the q132 point-in-time snapshot.
    */
  private def scd2Frame(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wOrd = Window.partitionBy($"user_id").orderBy($"ts_ms", $"event_id")
    val changes = events(spark, dir).filter($"user_id" < 20)
      .withColumn("prev_type", lag($"event_type", 1).over(wOrd))
      .filter($"prev_type".isNull || $"prev_type" =!= $"event_type")
    val wChg = Window.partitionBy($"user_id").orderBy($"ts_ms", $"event_id")
    changes
      .withColumn("version", row_number().over(wChg).cast("long"))
      .withColumn("valid_to_ms", lead($"ts_ms", 1).over(wChg))
      .select($"user_id", $"version", $"event_type",
        $"ts_ms".as("valid_from_ms"), $"valid_to_ms",
        $"valid_to_ms".isNull.as("is_current"))
  }

  /** q132: point-in-time snapshot over the q113 SCD2 history — the
    * time-travel read a warehouse runs against an upsert-versioned
    * dimension: each entity's single valid version at the snapshot
    * instant (valid_from ≤ T < valid_to, open-ended current rows
    * included). T is the corpus midpoint ((min+max) integer-div 2 of
    * event time), computed as a 1-row aggregate cross-joined into the
    * interval filter — engine-exact integer arithmetic, no literal
    * pinned to one scale factor. Exactly the q113 partitioning, plus
    * one tiny broadcast: snapshot reads cost one window pass, never a
    * self-join against the history.
    */
  def q132Scd2Snapshot(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tSnap = events(spark, dir).filter($"user_id" < 20)
      .agg(min($"ts_ms").as("mn"), max($"ts_ms").as("mx"))
      .select(expr("(mn + mx) div 2").as("t_snap"))
    scd2Frame(spark, dir).crossJoin(tSnap)
      .filter($"valid_from_ms" <= $"t_snap" &&
        ($"valid_to_ms".isNull || $"valid_to_ms" > $"t_snap"))
      .select($"user_id", $"version", $"event_type".as("state_at_t"),
        $"valid_from_ms", $"t_snap")
      .orderBy($"user_id")
  }

  val q132Sql: String =
    """WITH ordered AS (
      |  SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms,
      |    LAG(event_type) OVER w AS prev_type
      |  FROM events WHERE user_id < 20
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)),
      |changes AS (
      |  SELECT user_id, event_id, event_type, ts_ms
      |  FROM ordered WHERE prev_type IS NULL OR prev_type <> event_type),
      |hist AS (
      |  SELECT user_id,
      |    ROW_NUMBER() OVER w AS version,
      |    event_type, ts_ms AS valid_from_ms,
      |    LEAD(ts_ms) OVER w AS valid_to_ms
      |  FROM changes
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
      |snap AS (
      |  SELECT (MIN(epoch_ms(ts)) + MAX(epoch_ms(ts))) // 2 AS t_snap
      |  FROM events WHERE user_id < 20)
      |SELECT user_id, version, event_type AS state_at_t, valid_from_ms, t_snap
      |FROM hist, snap
      |WHERE valid_from_ms <= t_snap
      |  AND (valid_to_ms IS NULL OR valid_to_ms > t_snap)
      |ORDER BY user_id""".stripMargin

  val q113Sql: String =
    """WITH ordered AS (
      |  SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms,
      |    LAG(event_type) OVER w AS prev_type
      |  FROM events WHERE user_id < 20
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)),
      |changes AS (
      |  SELECT user_id, event_id, event_type, ts_ms
      |  FROM ordered WHERE prev_type IS NULL OR prev_type <> event_type)
      |SELECT user_id,
      |  ROW_NUMBER() OVER w AS version,
      |  event_type, ts_ms AS valid_from_ms,
      |  LEAD(ts_ms) OVER w AS valid_to_ms,
      |  LEAD(ts_ms) OVER w IS NULL AS is_current
      |FROM changes
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
      |ORDER BY user_id, version""".stripMargin

  /** q146: next-event training pairs — the sequence-model example
    * extraction pass over the event log: for every event with ≥ 3
    * predecessors in its user's timeline, emit (context = the previous
    * three event types oldest-first, label = this event's type). The
    * total order inside a user is (event time, event id) — event ids are
    * unique, so the SAME pairs come out of any partitioning and of the
    * DuckDB twin. One window shuffle keyed by user; the three lags share
    * a single WindowExec frame.
    */
  def q146NextEventPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
    events(spark, dir)
      .withColumn("ts_us", expr("ts div 1000"))
      .withColumn("p1", lag($"event_type", 1).over(w))
      .withColumn("p2", lag($"event_type", 2).over(w))
      .withColumn("p3", lag($"event_type", 3).over(w))
      .filter($"p3".isNotNull)
      .select($"user_id", $"event_id",
        concat_ws(">", $"p3", $"p2", $"p1").as("context"),
        $"event_type".as("label"))
      .orderBy($"user_id", $"event_id")
  }

  val q146Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
      |  FROM events),
      |l AS (
      |  SELECT user_id, event_id, event_type,
      |    LAG(event_type, 1) OVER w AS p1,
      |    LAG(event_type, 2) OVER w AS p2,
      |    LAG(event_type, 3) OVER w AS p3
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))
      |SELECT user_id, event_id, p3 || '>' || p2 || '>' || p1 AS context,
      |  event_type AS label
      |FROM l WHERE p3 IS NOT NULL ORDER BY user_id, event_id""".stripMargin

  /** q152: last-touch attribution — every purchase credits the most
    * recent PRIOR click/view by the same user within a 7-day lookback
    * window, else the 'organic' bucket. The touch lookup is ONE window
    * pass over each user's timeline (two conditional
    * `last(_, ignoreNulls)` carries over ROWS UNBOUNDED PRECEDING..1
    * PRECEDING — both non-null exactly on touch rows, so they always
    * read the SAME row), never a purchases×touches self-join: cost is a
    * per-user sort, not |purchases|·|touches|, and the user partitioning
    * is the natural key distribution at 100 TB. Revenue sums on the
    * cent grid (decimal, engine-exact); the mean touch→purchase gap is
    * an exact long sum over one double division.
    */
  def q152Attribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val isTouch = $"event_type" === "click" || $"event_type" === "view"
    val w = Window.partitionBy($"user_id").orderBy($"ts_ms", $"event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val seven = lit(7L * 24 * 3600 * 1000)
    events(spark, dir)
      // ONE carried struct = one window function = one in-memory sweep
      .withColumn("touch",
        last(when(isTouch, struct($"ts_ms".as("t"), $"event_type".as("ty"))),
          ignoreNulls = true).over(w))
      .withColumn("t_touch", $"touch.t")
      .withColumn("touch_type", $"touch.ty")
      .filter($"event_type" === "purchase")
      .withColumn("attributed", $"t_touch".isNotNull && $"ts_ms" - $"t_touch" <= seven)
      .select(
        when($"attributed", $"touch_type").otherwise(lit("organic")).as("channel"),
        when($"attributed", $"ts_ms" - $"t_touch").as("gap_ms"),
        $"value")
      .groupBy($"channel")
      .agg(
        count(lit(1)).as("n_purchases"),
        dsum($"value").as("revenue"),
        round(sum($"gap_ms").cast("double") / count($"gap_ms"), 4).as("avg_gap_ms"))
      .orderBy($"channel")
  }

  val q152Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, value, epoch_ms(ts) AS ts_ms
      |  FROM events),
      |t AS (
      |  SELECT event_type, value, ts_ms,
      |    LAST_VALUE(CASE WHEN event_type IN ('click', 'view') THEN ts_ms END
      |      IGNORE NULLS) OVER w AS t_touch,
      |    LAST_VALUE(CASE WHEN event_type IN ('click', 'view') THEN event_type END
      |      IGNORE NULLS) OVER w AS touch_type
      |  FROM e
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      |p AS (
      |  SELECT
      |    CASE WHEN t_touch IS NOT NULL AND ts_ms - t_touch <= 604800000
      |      THEN touch_type ELSE 'organic' END AS channel,
      |    CASE WHEN t_touch IS NOT NULL AND ts_ms - t_touch <= 604800000
      |      THEN ts_ms - t_touch END AS gap_ms,
      |    value
      |  FROM t WHERE event_type = 'purchase')
      |SELECT channel, COUNT(*) AS n_purchases,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  ROUND(CAST(SUM(gap_ms) AS DOUBLE) / COUNT(gap_ms), 4) AS avg_gap_ms
      |FROM p GROUP BY channel ORDER BY channel""".stripMargin

  /** q153: cohort retention matrix — users cohort by FIRST-seen date,
    * activity marks by (cohort_day, offset_day), retention is active
    * users over cohort size. All keys are pure integer date arithmetic
    * (day diffs against a fixed anchor — no calendar-week conventions to
    * disagree on), so both engines draw identical cells; the percentage
    * is one exact long×100 over one double division. Scale shape: the
    * first-seen frame is one user-keyed agg reusing the events
    * partitioning, the activity agg is (days × cohorts)-bounded — the
    * matrix never grows with event volume, only with the calendar — and
    * the cohort-size lookup is a window `first` over the offset-0 cell
    * (guaranteed present: every user is active the day they appear).
    */
  def q153CohortRetention(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val anchor = lit(java.sql.Date.valueOf("2024-01-01"))
    val e = events(spark, dir)
      .select($"user_id",
        datediff(to_date(timestamp_micros(expr("ts div 1000"))), anchor).as("day"))
    val firstSeen = e.groupBy($"user_id").agg(min($"day").as("cohort_day"))
    val act = e.join(firstSeen, "user_id")
      .groupBy($"cohort_day", ($"day" - $"cohort_day").as("offset_day"))
      .agg(countDistinct($"user_id").as("n_active"))
    val w = Window.partitionBy($"cohort_day").orderBy($"offset_day")
    act
      .withColumn("cohort_size", first($"n_active").over(w))
      .select(
        date_add(anchor, $"cohort_day").as("cohort_date"),
        $"offset_day".cast("long").as("offset_day"),
        $"n_active",
        round(($"n_active" * 100).cast("double") / $"cohort_size", 4)
          .as("retention_pct"))
      .orderBy($"cohort_date", $"offset_day")
  }

  val q153Sql: String =
    """WITH e AS (
      |  SELECT user_id, CAST(ts AS DATE) - DATE '2024-01-01' AS day FROM events),
      |f AS (SELECT user_id, MIN(day) AS cohort_day FROM e GROUP BY user_id),
      |a AS (
      |  SELECT cohort_day, e.day - cohort_day AS offset_day,
      |    COUNT(DISTINCT e.user_id) AS n_active
      |  FROM e JOIN f USING (user_id) GROUP BY 1, 2),
      |s AS (
      |  SELECT cohort_day, offset_day, n_active,
      |    FIRST_VALUE(n_active) OVER (PARTITION BY cohort_day
      |      ORDER BY offset_day) AS cohort_size
      |  FROM a)
      |SELECT DATE '2024-01-01' + CAST(cohort_day AS INTEGER) AS cohort_date,
      |  CAST(offset_day AS BIGINT) AS offset_day, n_active,
      |  ROUND(CAST(n_active * 100 AS DOUBLE) / cohort_size, 4) AS retention_pct
      |FROM s ORDER BY cohort_date, offset_day""".stripMargin

  /** q163: two-sample Kolmogorov–Smirnov drift test per event type —
    * the max gap between the empirical CDFs of `value` in two user
    * cohorts (even vs. odd user_id, the deterministic stand-in for
    * "last week vs. this week"). The pipeline-monitoring primitive: a
    * big KS statistic on a feature column means the distribution
    * shifted and downstream models/filters are stale. Shape: one hash
    * agg collapses the corpus to distinct (type, value) rows with
    * per-cohort counts — everything after runs on |distinct values|
    * rows, never corpus rows — then a per-type cumulative window walks
    * the merged value points. Cohort totals ride the same window (full-
    * partition frame), so no second scan and no join.
    */
  def q163KsDrift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val g = events(spark, dir)
      .select($"event_type", $"value", ($"user_id" % 2 === 0).as("is_a"))
      .groupBy($"event_type", $"value")
      .agg(
        sum(when($"is_a", 1L).otherwise(0L)).as("a_n"),
        sum(when(!$"is_a", 1L).otherwise(0L)).as("b_n"))
    val cum = Window.partitionBy($"event_type").orderBy($"value")
    val tot = Window.partitionBy($"event_type")
    g.select($"event_type",
        sum($"a_n").over(cum).as("ca"), sum($"b_n").over(cum).as("cb"),
        sum($"a_n").over(tot).as("na"), sum($"b_n").over(tot).as("nb"))
      .groupBy($"event_type")
      .agg(
        min($"na").as("n_a"), min($"nb").as("n_b"),
        round(max(abs($"ca".cast("double") / $"na"
          - $"cb".cast("double") / $"nb")), 6).as("ks"))
      .orderBy($"event_type")
  }

  val q163Sql: String =
    """WITH g AS (
      |  SELECT event_type, value,
      |    SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS a_n,
      |    SUM(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS b_n
      |  FROM events GROUP BY event_type, value),
      |c AS (
      |  SELECT event_type,
      |    SUM(a_n) OVER (PARTITION BY event_type ORDER BY value) AS ca,
      |    SUM(b_n) OVER (PARTITION BY event_type ORDER BY value) AS cb,
      |    SUM(a_n) OVER (PARTITION BY event_type) AS na,
      |    SUM(b_n) OVER (PARTITION BY event_type) AS nb
      |  FROM g)
      |SELECT event_type, CAST(MIN(na) AS BIGINT) AS n_a,
      |  CAST(MIN(nb) AS BIGINT) AS n_b,
      |  ROUND(MAX(ABS(CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb)), 6)
      |    AS ks
      |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q166: inter-arrival-time percentiles per event type — the latency
    * texture of the stream (how bursty is each type's per-user
    * traffic), p50/p90/p99 of the gap between a user's consecutive
    * events of that type. Gaps come from one `lag` window per
    * (type, user) — partition-local, no shuffle beyond the window's —
    * and the percentiles run through
    * [[graft.operators.Extended.exactQuantilesMulti]]'s O(1)-state
    * count-partitioned search, the same scale contract as q51/q119:
    * never a full-multiset percentile aggregate. Gap millis derive from
    * the nanos column by one division both engines evaluate identically
    * (micros-precision inputs ⇒ identical doubles).
    */
  def q166InterarrivalQuantiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"event_type", $"user_id")
      .orderBy($"ts", $"event_id")
    val gaps = events(spark, dir)
      .withColumn("prev", lag($"ts", 1).over(w))
      .filter($"prev".isNotNull)
      .select($"event_type",
        (($"ts" - $"prev").cast("double") / 1e6).as("gap_ms"))
    val qs = Extended.exactQuantilesMulti(gaps, Some("event_type"),
      Seq("gap_ms" -> Seq(0.5, 0.9, 0.99)))
    qs.toSeq
      .map { case (g, m) =>
        (g.asInstanceOf[String], m(("gap_ms", 0.5)), m(("gap_ms", 0.9)),
          m(("gap_ms", 0.99)))
      }
      .toDF("event_type", "raw_p50", "raw_p90", "raw_p99")
      .select($"event_type",
        round($"raw_p50", 4).as("p50_ms"),
        round($"raw_p90", 4).as("p90_ms"),
        round($"raw_p99", 4).as("p99_ms"))
      .orderBy($"event_type")
  }

  val q166Sql: String =
    """WITH g AS (
      |  SELECT event_type,
      |    (epoch_us(ts) - LAG(epoch_us(ts)) OVER (
      |      PARTITION BY event_type, user_id ORDER BY ts, event_id))
      |      / 1000.0 AS gap_ms
      |  FROM events)
      |SELECT event_type,
      |  ROUND(quantile_cont(gap_ms, 0.5), 4) AS p50_ms,
      |  ROUND(quantile_cont(gap_ms, 0.9), 4) AS p90_ms,
      |  ROUND(quantile_cont(gap_ms, 0.99), 4) AS p99_ms
      |FROM g WHERE gap_ms IS NOT NULL
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q168: population-stability-index drift per event type — the other
    * standard drift score next to [[q163KsDrift]]'s KS: 10 equal-width
    * bins over the per-type value range, cohort proportions smoothed by
    * +0.5/bin (so empty bins stay finite), PSI = Σ (pₐ−p_b)·ln(pₐ/p_b).
    * Where KS is binless and order-driven, PSI is binned and
    * magnitude-driven — it feeds the streaming twin
    * ([[graft.streaming.StreamOps]]) because bin counts are mergeable
    * across micro-batches while a CDF walk is not. All ten bins are
    * enumerated explicitly (sequence × type) so zero-count bins
    * contribute their smoothed mass identically on both engines. Two
    * scans (min/max, then binning) of a narrow projection; the bin
    * frame is 10 rows per type.
    */
  def q168PsiDrift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = events(spark, dir)
      .select($"event_type", $"value", ($"user_id" % 2 === 0).as("is_a"))
    val mm = ev.groupBy($"event_type").agg(
      min($"value").as("lo"), max($"value").as("hi"),
      sum(when($"is_a", 1L).otherwise(0L)).as("na"),
      sum(when(!$"is_a", 1L).otherwise(0L)).as("nb"))
    val binned = ev.join(broadcast(mm), "event_type")
      .withColumn("bin", when($"hi" > $"lo",
          least(floor(($"value" - $"lo") * 10 / ($"hi" - $"lo")).cast("long"),
            lit(9L)))
        .otherwise(lit(0L)))
      .groupBy($"event_type", $"bin")
      .agg(
        sum(when($"is_a", 1L).otherwise(0L)).as("a_n"),
        sum(when(!$"is_a", 1L).otherwise(0L)).as("b_n"))
    val allBins = mm.select($"event_type", $"na", $"nb",
      explode(sequence(lit(0L), lit(9L))).as("bin"))
    allBins.join(binned, Seq("event_type", "bin"), "left")
      .na.fill(0L, Seq("a_n", "b_n"))
      .withColumn("pa", ($"a_n" + 0.5) / ($"na" + 5.0))
      .withColumn("pb", ($"b_n" + 0.5) / ($"nb" + 5.0))
      .groupBy($"event_type")
      .agg(
        min($"na").as("n_a"), min($"nb").as("n_b"),
        round(sum(($"pa" - $"pb") * log($"pa" / $"pb")), 6).as("psi"))
      .orderBy($"event_type")
  }

  val q168Sql: String =
    """WITH ev AS (
      |  SELECT event_type, value, user_id % 2 = 0 AS is_a FROM events),
      |mm AS (
      |  SELECT event_type, MIN(value) AS lo, MAX(value) AS hi,
      |    SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS na,
      |    SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS nb
      |  FROM ev GROUP BY event_type),
      |binned AS (
      |  SELECT ev.event_type,
      |    CASE WHEN hi > lo THEN LEAST(CAST(FLOOR((value - lo) * 10 / (hi - lo))
      |      AS BIGINT), 9) ELSE 0 END AS bin,
      |    SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS a_n,
      |    SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS b_n
      |  FROM ev JOIN mm USING (event_type) GROUP BY 1, 2),
      |allbins AS (
      |  SELECT event_type, na, nb, CAST(b.bin AS BIGINT) AS bin
      |  FROM mm, (SELECT unnest(range(0, 10)) AS bin) b),
      |filled AS (
      |  SELECT a.event_type, a.na, a.nb,
      |    COALESCE(b.a_n, 0) AS a_n, COALESCE(b.b_n, 0) AS b_n
      |  FROM allbins a LEFT JOIN binned b
      |    ON a.event_type = b.event_type AND a.bin = b.bin)
      |SELECT event_type, CAST(MIN(na) AS BIGINT) AS n_a,
      |  CAST(MIN(nb) AS BIGINT) AS n_b,
      |  ROUND(SUM(((a_n + 0.5) / (na + 5.0) - (b_n + 0.5) / (nb + 5.0))
      |    * ln(((a_n + 0.5) / (na + 5.0)) / ((b_n + 0.5) / (nb + 5.0)))), 6)
      |    AS psi
      |FROM filled GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q170: Welch's t-test per event type — is the cohort mean shift
    * (even vs. odd user_id) statistically significant? The inferential
    * companion to [[q163KsDrift]]/[[q168PsiDrift]]'s distances: t
    * statistic and Welch–Satterthwaite degrees of freedom from per-
    * cohort (n, Σv, Σv²). The sums accumulate as EXACT DECIMALS
    * (`value` lives on a 2-decimal grid ⇒ v² is exact on 1e-4), so the
    * only double arithmetic is the final closed form over identical
    * exact inputs — bit-identical across engines and partitionings, no
    * reassociation noise, no cancellation hazard in the variance
    * subtraction. One scan, six numbers per (type, cohort).
    */
  def q170WelchTtest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def d2(c: org.apache.spark.sql.Column) =
      c.cast(org.apache.spark.sql.types.DecimalType(18, 2))
    val s = events(spark, dir)
      .select($"event_type", $"value", ($"user_id" % 2 === 0).as("is_a"))
      .groupBy($"event_type")
      .agg(
        sum(when($"is_a", 1L).otherwise(0L)).cast("double").as("na"),
        sum(when(!$"is_a", 1L).otherwise(0L)).cast("double").as("nb"),
        sum(when($"is_a", d2($"value"))).cast("double").as("sa"),
        sum(when(!$"is_a", d2($"value"))).cast("double").as("sb"),
        sum(when($"is_a", d2($"value") * d2($"value"))).cast("double").as("qa"),
        sum(when(!$"is_a", d2($"value") * d2($"value"))).cast("double").as("qb"))
    val va = ($"qa" - $"sa" * $"sa" / $"na") / ($"na" - 1)
    val vb = ($"qb" - $"sb" * $"sb" / $"nb") / ($"nb" - 1)
    val sem = va / $"na" + vb / $"nb"
    s.select($"event_type",
        $"na".cast("long").as("n_a"), $"nb".cast("long").as("n_b"),
        round(($"sa" / $"na" - $"sb" / $"nb") / sqrt(sem), 4).as("t_stat"),
        round(sem * sem / ((va / $"na") * (va / $"na") / ($"na" - 1)
          + (vb / $"nb") * (vb / $"nb") / ($"nb" - 1)), 2).as("dof"))
      .orderBy($"event_type")
  }

  val q170Sql: String =
    """WITH s AS (
      |  SELECT event_type,
      |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS na,
      |    CAST(SUM(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS DOUBLE) AS nb,
      |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS sa,
      |    CAST(SUM(CASE WHEN user_id % 2 <> 0 THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS sb,
      |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS qa,
      |    CAST(SUM(CASE WHEN user_id % 2 <> 0 THEN CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS qb
      |  FROM events GROUP BY event_type)
      |SELECT event_type, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
      |  ROUND((sa / na - sb / nb) / sqrt(
      |    ((qa - sa * sa / na) / (na - 1)) / na
      |    + ((qb - sb * sb / nb) / (nb - 1)) / nb), 4) AS t_stat,
      |  ROUND((((qa - sa * sa / na) / (na - 1)) / na
      |      + ((qb - sb * sb / nb) / (nb - 1)) / nb)
      |    * (((qa - sa * sa / na) / (na - 1)) / na
      |      + ((qb - sb * sb / nb) / (nb - 1)) / nb)
      |    / ((((qa - sa * sa / na) / (na - 1)) / na)
      |        * (((qa - sa * sa / na) / (na - 1)) / na) / (na - 1)
      |      + (((qb - sb * sb / nb) / (nb - 1)) / nb)
      |        * (((qb - sb * sb / nb) / (nb - 1)) / nb) / (nb - 1)), 2) AS dof
      |FROM s ORDER BY event_type""".stripMargin

  /** q171: Jensen–Shannon divergence of the event-type MIX between the
    * two user cohorts — categorical drift, completing the drift suite
    * (KS: continuous order, PSI: continuous binned, JSD: categorical).
    * Exact per-type counts; probabilities and the symmetric KL halves
    * are one double expression per type summed over |types| rows.
    * Bounded by ln 2; 0 = identical mixes. One hash agg over the scan.
    */
  def q171JsDivergence(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = events(spark, dir)
      .select($"event_type", ($"user_id" % 2 === 0).as("is_a"))
      .groupBy($"event_type")
      .agg(
        sum(when($"is_a", 1L).otherwise(0L)).as("a_n"),
        sum(when(!$"is_a", 1L).otherwise(0L)).as("b_n"))
    val tot = Window.partitionBy(lit(1))
    c.withColumn("pa", $"a_n".cast("double") / sum($"a_n").over(tot))
      .withColumn("pb", $"b_n".cast("double") / sum($"b_n").over(tot))
      .withColumn("m", ($"pa" + $"pb") / 2)
      .agg(
        sum($"a_n").as("n_a"), sum($"b_n").as("n_b"),
        round(sum($"pa" * log($"pa" / $"m") / 2
          + $"pb" * log($"pb" / $"m") / 2), 6).as("jsd"))
  }

  val q171Sql: String =
    """WITH c AS (
      |  SELECT event_type,
      |    SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS a_n,
      |    SUM(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS b_n
      |  FROM events GROUP BY event_type),
      |p AS (
      |  SELECT a_n, b_n,
      |    CAST(a_n AS DOUBLE) / SUM(a_n) OVER () AS pa,
      |    CAST(b_n AS DOUBLE) / SUM(b_n) OVER () AS pb
      |  FROM c)
      |SELECT CAST(SUM(a_n) AS BIGINT) AS n_a, CAST(SUM(b_n) AS BIGINT) AS n_b,
      |  ROUND(SUM(pa * ln(pa / ((pa + pb) / 2)) / 2
      |    + pb * ln(pb / ((pa + pb) / 2)) / 2), 6) AS jsd
      |FROM p""".stripMargin

  /** q172: lag-1 autocorrelation of daily event volume per type — does
    * today's traffic predict tomorrow's (seasonality/health signal for
    * the ingest pipeline)? Daily counts are exact integers; consecutive
    * days pair by an equi-join on day+1 (no window, no spine); the
    * Pearson correlation evaluates the explicit integer moment sums in
    * one double expression — the q157 determinism recipe, so the result
    * is bit-identical at any partitioning. State: one row per
    * (type, day), pairs bounded by the calendar.
    */
  def q172DailyAutocorr(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = events(spark, dir)
      .select($"event_type", expr("ts div 86400000000000").as("day"))
      .groupBy($"event_type", $"day").agg(count(lit(1)).as("c"))
    val pairs = daily.as("t")
      .join(daily.as("u"),
        $"t.event_type" === $"u.event_type" && $"u.day" === $"t.day" + 1)
      .select($"t.event_type".as("event_type"), $"t.c".as("x"), $"u.c".as("y"))
    pairs.groupBy($"event_type")
      .agg(
        count(lit(1)).as("n_pairs"),
        sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"y").as("sxy"),
        sum($"x" * $"x").as("sxx"), sum($"y" * $"y").as("syy"))
      .select($"event_type", $"n_pairs",
        round(($"n_pairs" * $"sxy" - $"sx" * $"sy").cast("double") /
          (sqrt(($"n_pairs" * $"sxx" - $"sx" * $"sx").cast("double")) *
            sqrt(($"n_pairs" * $"syy" - $"sy" * $"sy").cast("double"))), 6)
          .as("lag1_autocorr"))
      .orderBy($"event_type")
  }

  val q172Sql: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day, COUNT(*) AS c
      |  FROM events GROUP BY 1, 2),
      |pairs AS (
      |  SELECT t.event_type, t.c AS x, u.c AS y
      |  FROM daily t JOIN daily u
      |    ON u.event_type = t.event_type AND u.day = t.day + 1),
      |m AS (
      |  SELECT event_type, COUNT(*) AS n_pairs,
      |    SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
      |    SUM(x * x) AS sxx, SUM(y * y) AS syy
      |  FROM pairs GROUP BY event_type)
      |SELECT event_type, n_pairs,
      |  ROUND(CAST(n_pairs * sxy - sx * sy AS DOUBLE)
      |    / (sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE))
      |      * sqrt(CAST(n_pairs * syy - sy * sy AS DOUBLE))), 6)
      |    AS lag1_autocorr
      |FROM m ORDER BY event_type""".stripMargin

  /** q174: changepoint detection on daily volume per event type — the
    * day where the cumulative count deviates most from the uniform-rate
    * line, score_d = |cum_d − d·total/n| (the CUSUM-style statistic
    * without its recursive form, so it stays one window pass over the
    * calendar-bounded daily frame). A level shift mid-series puts its
    * corner at the top; a steady series scores near zero everywhere.
    * Daily counts and cumulative sums are exact integers; the score is
    * one double expression; the argmax tie-breaks to the earliest day —
    * deterministic end to end. State: |types| × |days| rows, whatever
    * the event volume.
    */
  def q174Changepoint(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = events(spark, dir)
      .select($"event_type", expr("ts div 86400000000000").as("day"))
      .groupBy($"event_type", $"day").agg(count(lit(1)).as("c"))
    val cum = Window.partitionBy($"event_type").orderBy($"day")
    val tot = Window.partitionBy($"event_type")
    val scored = daily
      .withColumn("d_idx", row_number().over(cum).cast("long"))
      .withColumn("cum", sum($"c").over(cum))
      .withColumn("total", sum($"c").over(tot))
      .withColumn("n_days", count(lit(1)).over(tot))
      .withColumn("score", abs($"cum".cast("double")
        - $"d_idx".cast("double") * $"total".cast("double") / $"n_days"))
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy($"event_type").orderBy($"score".desc, $"day".asc)))
      .filter($"rk" === 1)
      .select($"event_type", $"day".as("peak_day"), $"cum".as("cum_at_peak"),
        round($"score", 4).as("score"))
      .orderBy($"event_type")
  }

  val q174Sql: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day, COUNT(*) AS c
      |  FROM events GROUP BY 1, 2),
      |scored AS (
      |  SELECT event_type, day,
      |    SUM(c) OVER (PARTITION BY event_type ORDER BY day) AS cum,
      |    ABS(CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY day) AS DOUBLE)
      |      - CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS DOUBLE)
      |        * CAST(SUM(c) OVER (PARTITION BY event_type) AS DOUBLE)
      |        / COUNT(*) OVER (PARTITION BY event_type)) AS score
      |  FROM daily),
      |best AS (
      |  SELECT event_type, day, cum, score, ROW_NUMBER() OVER (
      |    PARTITION BY event_type ORDER BY score DESC, day ASC) AS rk
      |  FROM scored)
      |SELECT event_type, day AS peak_day, CAST(cum AS BIGINT) AS cum_at_peak,
      |  ROUND(score, 4) AS score
      |FROM best WHERE rk = 1 ORDER BY event_type""".stripMargin

  /** q179: burstiness of daily volume per event type — the
    * variance-to-mean ratio (index of dispersion) of daily counts. A
    * Poisson-ish healthy stream sits near 1; VMR ≫ 1 flags bursty
    * ingest (batch dumps, replays) and VMR ≪ 1 flags suspiciously
    * uniform (synthetic/throttled) traffic — the sanity check next to
    * [[q172DailyAutocorr]]'s ordering signal and [[q174Changepoint]]'s
    * level shift. Daily counts are exact integers; n, Σc, Σc² are exact
    * integer sums; the ratio is one double expression over them —
    * bit-identical across engines and partitionings. Calendar-bounded
    * state.
    */
  def q179DailyDispersion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    events(spark, dir)
      .select($"event_type", expr("ts div 86400000000000").as("day"))
      .groupBy($"event_type", $"day").agg(count(lit(1)).as("c"))
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n_days"),
        sum($"c").as("sc"), sum($"c" * $"c").as("scc"))
      .select($"event_type", $"n_days",
        round($"sc".cast("double") / $"n_days", 4).as("mean_daily"),
        round((($"scc" - $"sc" * $"sc" / $"n_days").cast("double")
          / ($"n_days" - 1))
          / ($"sc".cast("double") / $"n_days"), 6).as("vmr"))
      .orderBy($"event_type")
  }

  val q179Sql: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day, COUNT(*) AS c
      |  FROM events GROUP BY 1, 2),
      |m AS (
      |  SELECT event_type, COUNT(*) AS n_days,
      |    SUM(c) AS sc, SUM(c * c) AS scc
      |  FROM daily GROUP BY event_type)
      |SELECT event_type, n_days,
      |  ROUND(CAST(sc AS DOUBLE) / n_days, 4) AS mean_daily,
      |  ROUND((CAST(scc - sc * sc / n_days AS DOUBLE) / (n_days - 1))
      |    / (CAST(sc AS DOUBLE) / n_days), 6) AS vmr
      |FROM m ORDER BY event_type""".stripMargin

  /** q181: Mann–Whitney U (rank-sum) test per event type — the
    * nonparametric companion to [[q170WelchTtest]]: does the even-user
    * cohort's `value` distribution stochastically dominate the odd
    * cohort's, without assuming normality? The corpus first collapses to
    * per (type, value) cohort counts (the [[q163KsDrift]] recipe), so
    * the rank walk runs over |distinct values| rows, not event rows.
    * Average ranks with ties ride as DOUBLED integers (2·rank is always
    * integral), tie correction Σ(c³−c) accumulates in decimal — every
    * input to the final z closed form is an exact integer, and `/` and
    * `sqrt` are IEEE-correctly-rounded, so the statistic is
    * bit-identical across engines and partitionings.
    */
  def q181MannWhitney(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val counts = events(spark, dir)
      .select($"event_type", $"value", ($"user_id" % 2 === 0).as("is_a"))
      .groupBy($"event_type", $"value")
      .agg(
        sum(when($"is_a", 1L).otherwise(0L)).as("ca"),
        sum(when(!$"is_a", 1L).otherwise(0L)).as("cb"))
      .withColumn("c", $"ca" + $"cb")
    val w = Window.partitionBy($"event_type").orderBy($"value")
    val ranked = counts
      .withColumn("r2",
        lit(2L) * (sum($"c").over(w) - $"c") + $"c" + 1L) // 2 · average rank
    def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 0))
    val m = ranked.groupBy($"event_type")
      .agg(
        sum($"ca").as("na"), sum($"cb").as("nb"),
        sum(dec($"ca") * dec($"r2")).as("ra2"),
        sum(dec($"c") * dec($"c") * dec($"c") - dec($"c")).as("tie3"))
    val na = $"na".cast("double"); val nb = $"nb".cast("double")
    val n = na + nb
    val u = ($"ra2".cast("double") - na * (na + 1)) / 2.0
    val varU = na * nb / 12.0 * ((n + 1) - $"tie3".cast("double") / (n * (n - 1)))
    m.select($"event_type", $"na".as("n_a"), $"nb".as("n_b"),
        round(u, 2).as("u_stat"),
        round((u - na * nb / 2.0) / sqrt(varU), 4).as("z_stat"))
      .orderBy($"event_type")
  }

  val q181Sql: String =
    """WITH counts AS (
      |  SELECT event_type, value,
      |    SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS ca,
      |    SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS cb,
      |    COUNT(*) AS c
      |  FROM events GROUP BY 1, 2),
      |ranked AS (
      |  SELECT event_type, ca, cb, c,
      |    2 * (SUM(c) OVER (PARTITION BY event_type ORDER BY value) - c) + c + 1 AS r2
      |  FROM counts),
      |m AS (
      |  SELECT event_type, SUM(ca) AS na, SUM(cb) AS nb,
      |    SUM(CAST(ca AS HUGEINT) * r2) AS ra2,
      |    SUM(CAST(c AS HUGEINT) * c * c - c) AS tie3
      |  FROM ranked GROUP BY event_type)
      |SELECT event_type, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
      |  ROUND((CAST(ra2 AS DOUBLE) - CAST(na AS DOUBLE) * (na + 1)) / 2.0, 2)
      |    AS u_stat,
      |  ROUND(((CAST(ra2 AS DOUBLE) - CAST(na AS DOUBLE) * (na + 1)) / 2.0
      |      - CAST(na AS DOUBLE) * nb / 2.0)
      |    / sqrt(CAST(na AS DOUBLE) * nb / 12.0
      |      * ((na + nb + 1) - CAST(tie3 AS DOUBLE)
      |        / (CAST(na + nb AS DOUBLE) * (na + nb - 1)))), 4) AS z_stat
      |FROM m ORDER BY event_type""".stripMargin

  /** q182: chi-squared homogeneity test — is the event-type mix on even
    * calendar days the same as on odd days (weekday/batch-cadence drift
    * in the ingest mix)? The contingency table is |types| × 2 exact
    * integer counts from one scan; expectations and per-type
    * contributions are closed-form doubles over those integers; the
    * total statistic sums the ROUNDED contributions in an unpartitioned
    * window over the |types|-row frame (already aggregated — the window
    * never sees event rows). dof = |types| − 1.
    */
  def q182Chi2Drift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val obs = events(spark, dir)
      .select($"event_type",
        (expr("ts div 86400000000000") % 2 === 0).as("is_a"))
      .groupBy($"event_type")
      .agg(
        sum(when($"is_a", 1L).otherwise(0L)).as("oa"),
        sum(when(!$"is_a", 1L).otherwise(0L)).as("ob"))
    val tot = obs.agg(
      sum($"oa").as("ta"), sum($"ob").as("tb"), count(lit(1)).as("k"))
    val joined = obs.crossJoin(broadcast(tot))
    val rowTot = ($"oa" + $"ob").cast("double")
    val n = ($"ta" + $"tb").cast("double")
    val ea = rowTot * $"ta".cast("double") / n
    val eb = rowTot * $"tb".cast("double") / n
    val part = ($"oa" - ea) * ($"oa" - ea) / ea + ($"ob" - eb) * ($"ob" - eb) / eb
    joined
      .withColumn("chi2_part", round(part, 6))
      .withColumn("chi2_total",
        round(sum($"chi2_part").over(Window.partitionBy()), 4))
      .select($"event_type", $"oa".as("n_a"), $"ob".as("n_b"),
        $"chi2_part", $"chi2_total", ($"k" - 1L).as("dof"))
      .orderBy($"event_type")
  }

  val q182Sql: String =
    """WITH obs AS (
      |  SELECT event_type,
      |    SUM(CASE WHEN (epoch_us(ts) // 86400000000) % 2 = 0 THEN 1 ELSE 0 END) AS oa,
      |    SUM(CASE WHEN (epoch_us(ts) // 86400000000) % 2 = 1 THEN 1 ELSE 0 END) AS ob
      |  FROM events GROUP BY event_type),
      |tot AS (SELECT SUM(oa) AS ta, SUM(ob) AS tb, COUNT(*) AS k FROM obs),
      |scored AS (
      |  SELECT event_type, oa, ob, k,
      |    ROUND(
      |      (oa - CAST(oa + ob AS DOUBLE) * ta / (ta + tb))
      |        * (oa - CAST(oa + ob AS DOUBLE) * ta / (ta + tb))
      |        / (CAST(oa + ob AS DOUBLE) * ta / (ta + tb))
      |      + (ob - CAST(oa + ob AS DOUBLE) * tb / (ta + tb))
      |        * (ob - CAST(oa + ob AS DOUBLE) * tb / (ta + tb))
      |        / (CAST(oa + ob AS DOUBLE) * tb / (ta + tb)), 6) AS chi2_part
      |  FROM obs CROSS JOIN tot)
      |SELECT event_type, CAST(oa AS BIGINT) AS n_a, CAST(ob AS BIGINT) AS n_b,
      |  chi2_part,
      |  ROUND(SUM(chi2_part) OVER (), 4) AS chi2_total,
      |  CAST(k - 1 AS BIGINT) AS dof
      |FROM scored ORDER BY event_type""".stripMargin

  /** q183: EWMA smoothing of daily event volume per type (α = 0.3,
    * zero-init: ewma_t = α·Σ_{i≤t} (1−α)^{t−i}·c_i) — the trend line a
    * monitoring dashboard draws over [[q179DailyDispersion]]'s raw
    * counts. The recursion is rewritten as a SCALED CUMULATIVE SUM —
    * ewma_t = α·(1−α)^t · Σ c_i·(1−α)^(−i) — so the whole series is one
    * ordered window pass over the calendar-bounded daily frame instead
    * of a sequential fold; both engines accumulate the cumsum in the
    * same day order, so the only cross-engine freedom is `pow`'s final
    * ulp, absorbed by the 4-decimal round. The (1−α)^(−idx) rescale is
    * benign here because the window is calendar-bounded (≤ a few
    * hundred days ⇒ factor ≤ 1e46 < double max at ~1e308); an unbounded
    * series would chunk the cumsum per epoch.
    */
  def q183EwmaDaily(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val alpha = 0.3
    val daily = events(spark, dir)
      .select($"event_type", expr("ts div 86400000000000").as("day"))
      .groupBy($"event_type", $"day").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy($"event_type").orderBy($"day")
    daily
      .withColumn("idx", row_number().over(w).cast("double"))
      .withColumn("s",
        sum($"c" * pow(lit(1.0 - alpha), -$"idx")).over(w))
      .select($"event_type", $"day", $"c",
        round(lit(alpha) * pow(lit(1.0 - alpha), $"idx") * $"s", 4).as("ewma"))
      .orderBy($"event_type", $"day")
  }

  val q183Sql: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day, COUNT(*) AS c
      |  FROM events GROUP BY 1, 2),
      |idxed AS (
      |  SELECT event_type, day, c,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS DOUBLE) AS idx
      |  FROM daily),
      |cum AS (
      |  SELECT event_type, day, c, idx,
      |    SUM(c * POWER(0.7, -idx)) OVER (
      |      PARTITION BY event_type ORDER BY day) AS s
      |  FROM idxed)
      |SELECT event_type, day, c, ROUND(0.3 * POWER(0.7, idx) * s, 4) AS ewma
      |FROM cum ORDER BY event_type, day""".stripMargin

  /** q187: rolling 7-day distinct users per day — the DAU/WAU-style
    * reach metric over the events stream. Distinct users can't ride a
    * window frame (COUNT(DISTINCT) OVER RANGE is unsupported and would
    * hold per-frame sets anyway), so the corpus first collapses to
    * distinct (user, day) rows, each of which then votes into the ≤ 7
    * trailing windows it belongs to via a NARROW `sequence`+`explode`
    * (bounded ×7 fanout, no range join, no per-window set state),
    * followed by one hash count-distinct keyed by window day. Phantom
    * window-end days beyond the observed calendar are clipped by a
    * broadcast semi-join against the day spine. The companion rolling
    * event count is a plain integer RANGE frame over the |days|-row
    * daily frame.
    */
  def q187RollingDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = events(spark, dir)
      .select($"user_id", expr("ts div 86400000000000").as("day"))
    val du = ev.distinct()
    val days = du.select($"day").distinct()
    val users = du
      .select($"user_id", explode(sequence($"day", $"day" + 6)).as("day"))
      .join(days, Seq("day"), "left_semi")
      .groupBy($"day").agg(countDistinct($"user_id").as("n7_users"))
    val daily = ev.groupBy($"day").agg(count(lit(1)).as("c"))
    val evs = daily
      .withColumn("n7_events",
        sum($"c").over(Window.orderBy($"day").rangeBetween(-6, 0)))
      .select($"day", $"n7_events")
    users.join(evs, "day")
      .select($"day", $"n7_users", $"n7_events")
      .orderBy($"day")
  }

  val q187Sql: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
      |du AS (SELECT DISTINCT user_id, day FROM ev),
      |days AS (SELECT DISTINCT day FROM du),
      |win AS (
      |  SELECT d.day, COUNT(DISTINCT u.user_id) AS n7_users
      |  FROM days d JOIN du u ON u.day BETWEEN d.day - 6 AND d.day
      |  GROUP BY d.day),
      |daily AS (SELECT day, COUNT(*) AS c FROM ev GROUP BY day),
      |evs AS (
      |  SELECT day, CAST(SUM(c) OVER (
      |    ORDER BY day RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS n7_events
      |  FROM daily)
      |SELECT w.day, w.n7_users, e.n7_events
      |FROM win w JOIN evs e USING (day) ORDER BY day""".stripMargin

  /** q188: hash-deterministic bootstrap confidence interval for the mean
    * of `value` per event type — uncertainty quantification for every
    * mean the dashboards report. 32 binomial(2, ½) replicate weights per
    * row come from consecutive hex-character pairs of TWO md5 digests
    * keyed by event_id (64 hex chars → 32 draws) — the same
    * cross-engine-identical hash family the MinHash operators use, so
    * resampling is reproducible anywhere with no RNG state, and hashing
    * costs 2 digests per ROW, not one per (row, replicate). The 32
    * replicates are COLUMNS, not rows: one hash aggregate keyed by
    * event_type carries 64 slots (Σwᵥ·value, Σwᵥ per replicate) plus the
    * full-sample count/sum, so the events scan is read ONCE, nothing is
    * exploded ×32, and the shuffle moves |types| rows of fixed width —
    * the online-bootstrap formulation that survives 100 TB. Replicate
    * means divide exact DECIMAL sums (bit-identical to the row-wise
    * oracle regardless of fold order); the CI is
    * mean ± 1.96·sd over the 32 replicate means.
    */
  def q188BootstrapCi(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Weight decode: the 64 hex chars parse as EIGHT 32-bit chunks (one
    // conv per chunk), and each draw is pure bit arithmetic — hex digit
    // ≤ 7 ⇔ the nibble's top bit is 0, so the contribution is
    // 1 − bit. This replaces the naive 64 substring + 64 string-set
    // membership tests (≈500 string compares per row — measured as the
    // query's dominant cost) with 8 parses + 128 shift/ands.
    def chunk(c: Int) =
      expr(s"CAST(conv(substring(h, ${8 * c + 1}, 8), 16, 10) AS BIGINT)")
        .as(s"c$c")
    def w(b: Int) = {
      def half(i: Int) = { // 0-based hex index -> 1 - top nibble bit
        val c = i / 8; val sh = 4 * (7 - i % 8) + 3
        s"(1L - (shiftright(c$c, $sh) & 1L))"
      }
      expr(s"${half(2 * b)} + ${half(2 * b + 1)}").as(s"w$b")
    }
    // value rides as exact integer CENTS (the 2-decimal grid the suite's
    // DECIMAL(18,2) convention asserts): long sums < 2^53 cast to double
    // and divided by 100.0 are the identical correctly-rounded IEEE
    // value the oracle's DECIMAL-sum-to-DOUBLE cast produces.
    val base = events(spark, dir)
      .select($"event_type", $"value",
        concat(md5(concat($"event_id".cast("string"), lit(":0"))),
          md5(concat($"event_id".cast("string"), lit(":1")))).as("h"))
      .select($"event_type" +: $"value" +: (0 until 8).map(chunk): _*)
      .select($"event_type" +:
        round($"value" * 100.0).cast("long").as("vc") +:
        (0 until 32).map(w): _*)
    val aggCols = Seq(count(lit(1)).as("n"), sum($"vc").as("sv")) ++
      (0 until 32).flatMap(b => Seq(
        sum($"vc" * col(s"w$b")).as(s"swv$b"),
        sum(col(s"w$b")).as(s"sw$b")))
    val wide = base.groupBy($"event_type").agg(aggCols.head, aggCols.tail: _*)
    val meanB = (0 until 32)
      .map(b => ($"swv$b".cast("double") / 100.0) / col(s"sw$b"))
    val sm = meanB.reduce(_ + _)
    val smm = meanB.map(m => m * m).reduce(_ + _)
    val nRep = lit(32.0)
    wide
      .withColumn("mv", ($"sv".cast("double") / 100.0) / $"n")
      .withColumn("sb", sqrt((smm - sm * sm / nRep) / (nRep - 1.0)))
      .select($"event_type", $"n", round($"mv", 4).as("mean_val"),
        round($"sb", 4).as("sd_boot"),
        round($"mv" - lit(1.96) * $"sb", 4).as("ci_lo"),
        round($"mv" + lit(1.96) * $"sb", 4).as("ci_hi"))
      .orderBy($"event_type")
  }

  val q188Sql: String =
    """WITH hashed AS (
      |  SELECT event_type, value,
      |    md5(CAST(event_id AS VARCHAR) || ':0')
      |      || md5(CAST(event_id AS VARCHAR) || ':1') AS h
      |  FROM events),
      |rep AS (
      |  SELECT event_type, value, b,
      |    (CASE WHEN substring(h, CAST(b * 2 + 1 AS INT), 1) IN
      |        ('0','1','2','3','4','5','6','7') THEN 1 ELSE 0 END)
      |    + (CASE WHEN substring(h, CAST(b * 2 + 2 AS INT), 1) IN
      |        ('0','1','2','3','4','5','6','7') THEN 1 ELSE 0 END) AS w
      |  FROM hashed CROSS JOIN (SELECT unnest(range(32)) AS b)),
      |means AS (
      |  SELECT event_type, b,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2)) * w) AS DOUBLE) / SUM(w)
      |      AS mean_b
      |  FROM rep GROUP BY 1, 2),
      |boot AS (
      |  SELECT event_type, COUNT(*) AS n_rep, SUM(mean_b) AS sm,
      |    SUM(mean_b * mean_b) AS smm
      |  FROM means GROUP BY event_type),
      |sd AS (
      |  SELECT event_type,
      |    sqrt((smm - sm * sm / n_rep) / (n_rep - 1)) AS sd_boot
      |  FROM boot),
      |fullm AS (
      |  SELECT event_type, COUNT(*) AS n,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
      |      AS mean_val
      |  FROM events GROUP BY event_type)
      |SELECT f.event_type, f.n, ROUND(f.mean_val, 4) AS mean_val,
      |  ROUND(s.sd_boot, 4) AS sd_boot,
      |  ROUND(f.mean_val - 1.96 * s.sd_boot, 4) AS ci_lo,
      |  ROUND(f.mean_val + 1.96 * s.sd_boot, 4) AS ci_hi
      |FROM fullm f JOIN sd s USING (event_type) ORDER BY event_type""".stripMargin

  /** q189: day-of-week seasonality profile per event type — mean daily
    * volume by weekday slot (epoch-day mod 7, timezone-free) plus the
    * max/min seasonality ratio, the card that says "weekend traffic is
    * 0.4× weekdays" before anyone alerts on a Saturday dip. Daily counts
    * are exact integers; per-slot means are correctly-rounded divisions;
    * the ratio is a max/min over 7 doubles in an already-aggregated
    * |types|×7 frame.
    */
  def q189WeekdayProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = events(spark, dir)
      .select($"event_type", expr("ts div 86400000000000").as("day"))
      .groupBy($"event_type", $"day").agg(count(lit(1)).as("c"))
    val means = daily.groupBy($"event_type", ($"day" % 7).as("dow"))
      .agg(count(lit(1)).as("n_days"),
        (sum($"c").cast("double") / count(lit(1))).as("mean_daily"))
    val w = Window.partitionBy($"event_type")
    means
      .withColumn("season_ratio",
        round(max($"mean_daily").over(w) / min($"mean_daily").over(w), 4))
      .select($"event_type", $"dow", $"n_days",
        round($"mean_daily", 4).as("mean_daily"), $"season_ratio")
      .orderBy($"event_type", $"dow")
  }

  val q189Sql: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day, COUNT(*) AS c
      |  FROM events GROUP BY 1, 2),
      |slot AS (
      |  SELECT event_type, day % 7 AS dow, COUNT(*) AS n_days,
      |    CAST(SUM(c) AS DOUBLE) / COUNT(*) AS mean_daily
      |  FROM daily GROUP BY 1, 2)
      |SELECT event_type, dow, n_days, ROUND(mean_daily, 4) AS mean_daily,
      |  ROUND(MAX(mean_daily) OVER (PARTITION BY event_type)
      |    / MIN(mean_daily) OVER (PARTITION BY event_type), 4) AS season_ratio
      |FROM slot ORDER BY event_type, dow""".stripMargin

  /** q193: NEAREST as-of join — for every purchase, the signup of the
    * same user closest in time, in either direction (ties → earlier).
    * Completes the as-of family: backward ([[q27AsofJoin]]), forward
    * ([[q148AsofForward]]), nearest. Same union-window formulation — a
    * running `last` over the backward frame plus a `first` over the
    * forward frame, one shuffle on user_id, no join blow-up — then a
    * three-way null-safe pick. The oracle states the same thing as a
    * per-purchase argmin over the user's signups.
    */
  def q193AsofNearest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = events(spark, dir)
      .filter($"event_type".isin("signup", "purchase"))
      .withColumn("ts_us", expr("ts div 1000"))
      .withColumn("signup_ts", when($"event_type" === "signup", $"ts_us"))
    val ord = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
    val bwF = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwF = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    ev
      .withColumn("bw", last($"signup_ts", ignoreNulls = true).over(bwF))
      .withColumn("fw", first($"signup_ts", ignoreNulls = true).over(fwF))
      .filter($"event_type" === "purchase")
      .withColumn("nearest", when($"bw".isNull, $"fw")
        .when($"fw".isNull, $"bw")
        .when($"ts_us" - $"bw" <= $"fw" - $"ts_us", $"bw")
        .otherwise($"fw"))
      .filter($"nearest".isNotNull)
      .select($"event_id", $"user_id", $"ts_us".as("purchase_ts_us"),
        $"nearest".as("signup_ts_us"),
        ($"nearest" - $"ts_us").as("signed_gap_us"))
      .orderBy($"event_id")
  }

  val q193Sql: String =
    """WITH p AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
      |  WHERE event_type = 'purchase'),
      |s AS (
      |  SELECT user_id, epoch_us(ts) AS ts_us FROM events
      |  WHERE event_type = 'signup'),
      |j AS (
      |  SELECT p.event_id, p.user_id, p.ts_us, s.ts_us AS sts,
      |    ROW_NUMBER() OVER (PARTITION BY p.event_id
      |      ORDER BY ABS(p.ts_us - s.ts_us), s.ts_us) AS rn
      |  FROM p JOIN s ON p.user_id = s.user_id)
      |SELECT event_id, user_id, ts_us AS purchase_ts_us,
      |  sts AS signup_ts_us, sts - ts_us AS signed_gap_us
      |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin

  /** q195: shuffle-skew diagnostic card — per event type, how
    * concentrated is the per-user event distribution? Reports the
    * Herfindahl index (Σ(c_u/n)², ≈ 1/n_users when uniform, → 1 when one
    * user dominates) and the top-user share — the numbers that say
    * whether user_id is a safe shuffle key or needs salting
    * ([[graft.operators.Skew]]) BEFORE a job falls over at 100 TB.
    * Per-user counts are one hash agg; everything above is |users|-frame
    * integer moments and two IEEE divisions.
    */
  def q195SkewCard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perUser = events(spark, dir)
      .groupBy($"event_type", $"user_id").agg(count(lit(1)).as("c"))
    perUser.groupBy($"event_type")
      .agg(
        count(lit(1)).as("n_users"),
        sum($"c").as("n_events"),
        max($"c").as("max_user_events"),
        sum($"c" * $"c").as("scc"))
      .select($"event_type", $"n_users", $"n_events", $"max_user_events",
        round($"scc".cast("double")
          / ($"n_events".cast("double") * $"n_events".cast("double")), 6)
          .as("hhi"),
        round($"max_user_events".cast("double") / $"n_events", 6)
          .as("top_share"))
      .orderBy($"event_type")
  }

  val q195Sql: String =
    """WITH pu AS (
      |  SELECT event_type, user_id, COUNT(*) AS c
      |  FROM events GROUP BY 1, 2),
      |m AS (
      |  SELECT event_type, COUNT(*) AS n_users, SUM(c) AS n_events,
      |    MAX(c) AS max_user_events, SUM(c * c) AS scc
      |  FROM pu GROUP BY event_type)
      |SELECT event_type, n_users, CAST(n_events AS BIGINT) AS n_events,
      |  max_user_events,
      |  ROUND(CAST(scc AS DOUBLE)
      |    / (CAST(n_events AS DOUBLE) * CAST(n_events AS DOUBLE)), 6) AS hhi,
      |  ROUND(CAST(max_user_events AS DOUBLE) / CAST(n_events AS DOUBLE), 6)
      |    AS top_share
      |FROM m ORDER BY event_type""".stripMargin

  /** q197: session-level funnel conversion — within each 30-minute-gap
    * session ([[q29Sessionize]]'s exact island construction), did the
    * user progress view → click → purchase in strict event-time order?
    * The per-user funnel (q104) counts users who EVER converted; the
    * session cut answers the sharper product question of converting in
    * one sitting. Stage timestamps collapse to three conditional MINs
    * per session (one hash agg over the sessionized frame — no
    * per-stage self-joins), the ordered-containment test is two
    * comparisons, and the report is one global rollup row.
    */
  def q197SessionConversion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val gapUs = 30L * 60 * 1000000L
    val wOrd = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
    val sess = events(spark, dir)
      .withColumn("ts_us", expr("ts div 1000"))
      .withColumn("prev_ts", lag($"ts_us", 1).over(wOrd))
      .withColumn("is_new", when($"prev_ts".isNull ||
        $"ts_us" - $"prev_ts" > gapUs, 1L).otherwise(0L))
      .withColumn("session_id", sum($"is_new").over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val perSession = sess.groupBy($"user_id", $"session_id")
      .agg(
        min(when($"event_type" === "view", $"ts_us")).as("tv"),
        min(when($"event_type" === "click", $"ts_us")).as("tc"),
        min(when($"event_type" === "purchase", $"ts_us")).as("tp"))
    perSession.agg(
        count(lit(1)).as("n_sessions"),
        sum(when($"tv".isNotNull, 1L).otherwise(0L)).as("n_view"),
        sum(when($"tv".isNotNull && $"tc".isNotNull && $"tv" < $"tc", 1L)
          .otherwise(0L)).as("n_view_click"),
        sum(when($"tv".isNotNull && $"tc".isNotNull && $"tp".isNotNull &&
          $"tv" < $"tc" && $"tc" < $"tp", 1L).otherwise(0L)).as("n_full"))
      .select($"n_sessions", $"n_view", $"n_view_click", $"n_full",
        round($"n_view_click".cast("double") / $"n_view", 6)
          .as("click_rate"),
        round($"n_full".cast("double") / $"n_view", 6).as("conversion_rate"))
  }

  val q197Sql: String =
    """WITH marked AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS tsu,
      |    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
      |         OR LAG(epoch_us(ts)) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
      |sess AS (
      |  SELECT user_id, event_type, tsu,
      |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY tsu, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM marked),
      |per_session AS (
      |  SELECT user_id, session_id,
      |    MIN(CASE WHEN event_type = 'view' THEN tsu END) AS tv,
      |    MIN(CASE WHEN event_type = 'click' THEN tsu END) AS tc,
      |    MIN(CASE WHEN event_type = 'purchase' THEN tsu END) AS tp
      |  FROM sess GROUP BY user_id, session_id),
      |agg AS (
      |  SELECT COUNT(*) AS n_sessions,
      |    SUM(CASE WHEN tv IS NOT NULL THEN 1 ELSE 0 END) AS n_view,
      |    SUM(CASE WHEN tv IS NOT NULL AND tc IS NOT NULL AND tv < tc
      |      THEN 1 ELSE 0 END) AS n_view_click,
      |    SUM(CASE WHEN tv IS NOT NULL AND tc IS NOT NULL AND tp IS NOT NULL
      |      AND tv < tc AND tc < tp THEN 1 ELSE 0 END) AS n_full
      |  FROM per_session)
      |SELECT n_sessions, CAST(n_view AS BIGINT) AS n_view,
      |  CAST(n_view_click AS BIGINT) AS n_view_click,
      |  CAST(n_full AS BIGINT) AS n_full,
      |  ROUND(CAST(n_view_click AS DOUBLE) / CAST(n_view AS DOUBLE), 6)
      |    AS click_rate,
      |  ROUND(CAST(n_full AS DOUBLE) / CAST(n_view AS DOUBLE), 6)
      |    AS conversion_rate
      |FROM agg""".stripMargin

  /** q198: user growth curve — new users per day (first-seen attribution)
    * and the cumulative registered-user count. The corpus collapses to
    * one (user, first_day) row via a min-aggregation — no window ever
    * sees event rows — then the growth curve is a daily rollup plus one
    * cumulative sum over the calendar-bounded frame. The companion to
    * [[q187RollingDistinct]]'s rolling reach: reach says who's active,
    * growth says who's NEW.
    */
  def q198UserGrowth(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val firstSeen = events(spark, dir)
      .select($"user_id", expr("ts div 86400000000000").as("day"))
      .groupBy($"user_id").agg(min($"day").as("first_day"))
    firstSeen.groupBy($"first_day".as("day"))
      .agg(count(lit(1)).as("n_new"))
      .withColumn("n_total",
        sum($"n_new").over(Window.orderBy($"day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy($"day")
  }

  val q198Sql: String =
    """WITH fs AS (
      |  SELECT user_id, MIN(epoch_us(ts) // 86400000000) AS first_day
      |  FROM events GROUP BY user_id),
      |daily AS (
      |  SELECT first_day AS day, COUNT(*) AS n_new FROM fs GROUP BY 1)
      |SELECT day, n_new,
      |  CAST(SUM(n_new) OVER (ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS n_total
      |FROM daily ORDER BY day""".stripMargin

  /** q199: view→purchase conversion latency — per user, the gap from
    * FIRST view to FIRST purchase after it, rolled up per purchase-day
    * cohort: conversions, exact mean/min/max latency. Stage firsts are
    * two conditional MINs in one per-user aggregation (no self-join);
    * gaps are exact integer micros, so the rollup is integer moments +
    * one IEEE division.
    */
  def q199ConvertLatency(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perUser = events(spark, dir)
      .withColumn("ts_us", expr("ts div 1000"))
      .groupBy($"user_id")
      .agg(
        min(when($"event_type" === "view", $"ts_us")).as("tv"),
        min(when($"event_type" === "purchase", $"ts_us")).as("tp"))
      .filter($"tv".isNotNull && $"tp".isNotNull && $"tv" < $"tp")
      .select($"user_id", ($"tp" - $"tv").as("gap_us"),
        expr("tp div 86400000000").as("day"))
    perUser.groupBy($"day")
      .agg(
        count(lit(1)).as("n_converted"),
        round(avg($"gap_us"), 2).as("mean_gap_us"),
        min($"gap_us").as("min_gap_us"),
        max($"gap_us").as("max_gap_us"))
      .orderBy($"day")
  }

  val q199Sql: String =
    """WITH pu AS (
      |  SELECT user_id,
      |    MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS tv,
      |    MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS tp
      |  FROM events GROUP BY user_id),
      |conv AS (
      |  SELECT user_id, tp - tv AS gap_us, tp // 86400000000 AS day
      |  FROM pu WHERE tv IS NOT NULL AND tp IS NOT NULL AND tv < tp)
      |SELECT day, COUNT(*) AS n_converted,
      |  ROUND(AVG(gap_us), 2) AS mean_gap_us,
      |  MIN(gap_us) AS min_gap_us, MAX(gap_us) AS max_gap_us
      |FROM conv GROUP BY day ORDER BY day""".stripMargin

  /** q200: decayed engagement score — per user, Σ value·e^((t−T)/τ)
    * with τ = 7 days and T the corpus max timestamp: recent activity
    * counts fully, week-old activity ≈ 37%. T rides in as a broadcast
    * one-row cross join (never a window over events); the decay weight
    * is a narrow per-row expression feeding one hash aggregation, and
    * the top-20 ranks on the 6-decimal-ROUNDED score (ties → user_id)
    * so cross-engine `exp` ulps can't reorder the cut.
    */
  def q200DecayedEngagement(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tauUs = 7.0 * 86400000000.0
    val ev = events(spark, dir).withColumn("ts_us", expr("ts div 1000"))
    val tMax = ev.agg(max($"ts_us").as("t_max"))
    ev.crossJoin(broadcast(tMax))
      .groupBy($"user_id")
      .agg(
        count(lit(1)).as("n_events"),
        round(sum($"value" * exp(($"ts_us" - $"t_max") / tauUs)), 6)
          .as("score"))
      .orderBy($"score".desc, $"user_id")
      .limit(20)
  }

  val q200Sql: String =
    """WITH t AS (SELECT MAX(epoch_us(ts)) AS t_max FROM events)
      |SELECT user_id, COUNT(*) AS n_events,
      |  ROUND(SUM(value * exp((epoch_us(ts) - t_max) / 604800000000.0)), 6)
      |    AS score
      |FROM events CROSS JOIN t
      |GROUP BY user_id ORDER BY score DESC, user_id LIMIT 20""".stripMargin

  /** q203: seasonal-naive forecast backtest — predict each day's volume
    * per type as "same weekday last week" (the forecast every anomaly
    * detector should have to beat) and score MAE / MAPE / bias over the
    * evaluable days. The forecast join is an equi-join of the daily
    * frame to itself on day−7 (calendar-bounded, no window state);
    * errors are exact integer differences, the scores one IEEE division
    * each. A model that can't beat q203's numbers has no business
    * paging anyone.
    */
  def q203SeasonalNaive(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = events(spark, dir)
      .select($"event_type", expr("ts div 86400000000000").as("day"))
      .groupBy($"event_type", $"day").agg(count(lit(1)).as("c"))
    daily.as("t").join(daily.as("p"),
        $"t.event_type" === $"p.event_type" && $"p.day" === $"t.day" - 7)
      .select($"t.event_type".as("event_type"),
        $"t.c".as("actual"), $"p.c".as("forecast"))
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n_days"),
        round(avg(abs($"actual" - $"forecast")), 4).as("mae"),
        round(avg(abs($"actual" - $"forecast").cast("double") / $"actual"), 6)
          .as("mape"),
        round(avg(($"forecast" - $"actual").cast("double")), 4).as("bias"))
      .orderBy($"event_type")
  }

  val q203Sql: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day, COUNT(*) AS c
      |  FROM events GROUP BY 1, 2),
      |j AS (
      |  SELECT t.event_type, t.c AS actual, p.c AS forecast
      |  FROM daily t JOIN daily p
      |    ON p.event_type = t.event_type AND p.day = t.day - 7)
      |SELECT event_type, COUNT(*) AS n_days,
      |  ROUND(AVG(ABS(actual - forecast)), 4) AS mae,
      |  ROUND(AVG(CAST(ABS(actual - forecast) AS DOUBLE) / actual), 6)
      |    AS mape,
      |  ROUND(AVG(CAST(forecast - actual AS DOUBLE)), 4) AS bias
      |FROM j GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q204: Theil–Sen robust trend — the MEDIAN of all pairwise daily
    * slopes per event type, the outlier-proof answer to "is volume
    * growing?" that one burst day can't hijack (unlike q159's
    * least-squares). The pairwise frame is calendar-bounded (|days|²/2
    * pairs of DAILY rows — never event rows), the slopes are exact
    * integer differences divided once (IEEE), and the median picks the
    * lower-middle element by rank — engine-identical without an
    * interpolation contract.
    */
  def q204TheilSen(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = events(spark, dir)
      .select($"event_type", expr("ts div 86400000000000").as("day"))
      .groupBy($"event_type", $"day").agg(count(lit(1)).as("c"))
    val slopes = daily.as("a").join(daily.as("b"),
        $"a.event_type" === $"b.event_type" && $"a.day" < $"b.day")
      .select($"a.event_type".as("event_type"),
        (($"b.c" - $"a.c").cast("double") / ($"b.day" - $"a.day"))
          .as("slope"))
    val w = Window.partitionBy($"event_type").orderBy($"slope")
    slopes
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy($"event_type")))
      .filter($"rn" === expr("(n + 1) div 2"))
      .select($"event_type", $"n".as("n_pairs"),
        round($"slope", 6).as("theilsen_slope"))
      .orderBy($"event_type")
  }

  val q204Sql: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day, COUNT(*) AS c
      |  FROM events GROUP BY 1, 2),
      |slopes AS (
      |  SELECT a.event_type,
      |    CAST(b.c - a.c AS DOUBLE) / (b.day - a.day) AS slope
      |  FROM daily a JOIN daily b
      |    ON a.event_type = b.event_type AND a.day < b.day),
      |ranked AS (
      |  SELECT event_type, slope,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY slope) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM slopes)
      |SELECT event_type, n AS n_pairs, ROUND(slope, 6) AS theilsen_slope
      |FROM ranked WHERE rn = (n + 1) // 2
      |ORDER BY event_type""".stripMargin

  /** q207: behavioral predictability — the Markov transition entropy
    * H(next | current) per event type, from per-user consecutive event
    * pairs ([[q146NextEventPairs]]'s extraction): a type whose
    * followers are near-uniform (H ≈ ln 5) carries no signal for
    * next-event prediction; H ≈ 0 means the journey is deterministic.
    * Pair extraction is one user-keyed window (`lead`), the transition
    * table is |types|² counts, and the entropy is one ln expression per
    * transition row — everything after the pair frame is
    * state-space-bounded. The argmax follower rides along via the
    * bounded-state `max_by`.
    */
  def q207TransitionEntropy(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
    val pairs = events(spark, dir)
      .withColumn("ts_us", expr("ts div 1000"))
      .withColumn("nxt", lead($"event_type", 1).over(w))
      .filter($"nxt".isNotNull)
      .groupBy($"event_type".as("cur"), $"nxt")
      .agg(count(lit(1)).as("c"))
    val wc = Window.partitionBy($"cur")
    pairs.withColumn("n", sum($"c").over(wc))
      .groupBy($"cur")
      .agg(
        max($"n").as("n_pairs"),
        count(lit(1)).as("n_followers"),
        round(-sum(($"c" / $"n") * log($"c" / $"n")), 4).as("entropy"),
        max_by($"nxt", concat(lpad($"c".cast("string"), 20, "0"),
          lit("|"), $"nxt")).as("top_follower"),
        max($"c").as("top_count"))
      .orderBy($"cur")
  }

  val q207Sql: String =
    """WITH pairs AS (
      |  SELECT event_type AS cur,
      |    LEAD(event_type) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS nxt
      |  FROM events),
      |t AS (
      |  SELECT cur, nxt, COUNT(*) AS c FROM pairs
      |  WHERE nxt IS NOT NULL GROUP BY 1, 2),
      |sized AS (
      |  SELECT cur, nxt, c, SUM(c) OVER (PARTITION BY cur) AS n FROM t)
      |SELECT cur, CAST(MAX(n) AS BIGINT) AS n_pairs,
      |  COUNT(*) AS n_followers,
      |  ROUND(-SUM((CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n)), 4)
      |    AS entropy,
      |  MAX_BY(nxt, printf('%020d', c) || '|' || nxt) AS top_follower,
      |  MAX(c) AS top_count
      |FROM sized GROUP BY cur ORDER BY cur""".stripMargin

  /** q209: event-type affinity (market-basket lift over users) — for
    * every ordered type pair, support P(A∧B), confidence P(B|A), and
    * lift P(A∧B)/(P(A)·P(B)) with users as baskets: lift > 1 means the
    * behaviors co-occur beyond chance. The corpus collapses to distinct
    * (user, type) incidence rows first; the pair join is incidence ⋈
    * incidence on user (each user contributes ≤ |types|² pairs, so the
    * fanout is state-space-bounded per user, never |events|²); the
    * probabilities are exact integer count ratios.
    */
  def q209TypeAffinity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val inc = events(spark, dir)
      .select($"user_id", $"event_type").distinct()
    val nUsers = inc.select($"user_id").distinct()
      .agg(count(lit(1)).as("n_users"))
    val typeCounts = inc.groupBy($"event_type").agg(count(lit(1)).as("cnt"))
    val pairs = inc.as("a").join(inc.as("b"),
        $"a.user_id" === $"b.user_id" &&
          $"a.event_type" =!= $"b.event_type")
      .groupBy($"a.event_type".as("type_a"), $"b.event_type".as("type_b"))
      .agg(count(lit(1)).as("n_both"))
    pairs
      .join(broadcast(typeCounts.select($"event_type".as("type_a"),
        $"cnt".as("ca"))), "type_a")
      .join(broadcast(typeCounts.select($"event_type".as("type_b"),
        $"cnt".as("cb"))), "type_b")
      .crossJoin(broadcast(nUsers))
      .select($"type_a", $"type_b", $"n_both", $"ca", $"cb",
        round($"n_both".cast("double") / $"n_users", 6).as("support"),
        round($"n_both".cast("double") / $"ca", 6).as("confidence"),
        round($"n_both".cast("double") * $"n_users"
          / ($"ca".cast("double") * $"cb"), 6).as("lift"))
      .orderBy($"type_a", $"type_b")
  }

  val q209Sql: String =
    """WITH inc AS (SELECT DISTINCT user_id, event_type FROM events),
      |nu AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM inc),
      |tc AS (SELECT event_type, COUNT(*) AS cnt FROM inc GROUP BY 1),
      |pairs AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b,
      |    COUNT(*) AS n_both
      |  FROM inc a JOIN inc b ON a.user_id = b.user_id
      |    AND a.event_type <> b.event_type
      |  GROUP BY 1, 2)
      |SELECT type_a, type_b, n_both, ca.cnt AS ca, cb.cnt AS cb,
      |  ROUND(CAST(n_both AS DOUBLE) / n_users, 6) AS support,
      |  ROUND(CAST(n_both AS DOUBLE) / ca.cnt, 6) AS confidence,
      |  ROUND(CAST(n_both AS DOUBLE) * n_users
      |    / (CAST(ca.cnt AS DOUBLE) * cb.cnt), 6) AS lift
      |FROM pairs
      |JOIN tc ca ON pairs.type_a = ca.event_type
      |JOIN tc cb ON pairs.type_b = cb.event_type
      |CROSS JOIN nu
      |ORDER BY type_a, type_b""".stripMargin

  /** q210: weekly rollup with week-over-week deltas — volume, active
    * users, and value sum per (type, epoch-week), each with its WoW
    * percent change via `lag` over the calendar-bounded weekly frame.
    * The weekly rollup is one hash agg (count-distinct users pays the
    * usual exact-distinct expand, documented at q194); deltas are exact
    * integer differences over an IEEE division, computed on the
    * |types|×|weeks| frame. The dashboard staple done
    * shuffle-minimally.
    */
  def q210WeeklyDeltas(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def d2(c: org.apache.spark.sql.Column) =
      c.cast(org.apache.spark.sql.types.DecimalType(18, 2))
    val weekly = events(spark, dir)
      .select($"event_type", expr("ts div 604800000000000").as("week"),
        $"user_id", $"value")
      .groupBy($"event_type", $"week")
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct($"user_id").as("n_users"),
        sum(d2($"value")).cast("double").as("sum_value"))
    val w = Window.partitionBy($"event_type").orderBy($"week")
    weekly
      .withColumn("prev_events", lag($"n_events", 1).over(w))
      .select($"event_type", $"week", $"n_events", $"n_users",
        round($"sum_value", 2).as("sum_value"),
        round(($"n_events" - $"prev_events").cast("double") * 100.0
          / $"prev_events", 4).as("wow_pct"))
      .orderBy($"event_type", $"week")
  }

  val q210Sql: String =
    """WITH weekly AS (
      |  SELECT event_type, epoch_us(ts) // 604800000000 AS week,
      |    COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |  FROM events GROUP BY 1, 2)
      |SELECT event_type, week, n_events, n_users,
      |  ROUND(sum_value, 2) AS sum_value,
      |  ROUND(CAST(n_events - LAG(n_events) OVER w AS DOUBLE) * 100.0
      |    / LAG(n_events) OVER w, 4) AS wow_pct
      |FROM weekly
      |WINDOW w AS (PARTITION BY event_type ORDER BY week)
      |ORDER BY event_type, week""".stripMargin

  /** q211: daily-volume anomaly flags — days whose count deviates from
    * the per-type MEDIAN by more than 2.5 robust z-units
    * (z = (c − median)/(1.4826·MAD)): the outlier-proof alarm that a
    * burst day can't recalibrate, unlike mean/stddev control limits
    * (the burst inflates σ and hides itself). Median and MAD are exact
    * RANK PICKS over the calendar-bounded daily frame (lower-middle
    * element — no interpolation contract), so the thresholds are
    * engine-identical; the flag pass is one comparison per daily row.
    */
  def q211VolumeAnomalies(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = events(spark, dir)
      .select($"event_type", expr("ts div 86400000000000").as("day"))
      .groupBy($"event_type", $"day").agg(count(lit(1)).as("c"))
    def medianOf(df: DataFrame, valCol: String, outCol: String): DataFrame = {
      val w = Window.partitionBy($"event_type").orderBy(col(valCol))
      df.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy($"event_type")))
        .filter($"rn" === expr("(n + 1) div 2"))
        .select($"event_type", col(valCol).cast("double").as(outCol))
    }
    val med = medianOf(daily, "c", "med")
    val dev = daily.join(med, "event_type")
      .withColumn("adev", abs($"c" - $"med"))
    val mad = medianOf(dev, "adev", "mad")
    daily.join(med, "event_type").join(mad, "event_type")
      // a zero MAD (constant series) has no robust scale: nothing to flag
      .filter($"mad" > 0.0)
      .withColumn("z", round(($"c" - $"med") / (lit(1.4826) * $"mad"), 4))
      .filter(abs($"z") > 2.5)
      .select($"event_type", $"day", $"c".as("n_events"), $"med", $"z")
      .orderBy($"event_type", $"day")
  }

  val q211Sql: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day, COUNT(*) AS c
      |  FROM events GROUP BY 1, 2),
      |med AS (
      |  SELECT event_type, CAST(c AS DOUBLE) AS med FROM (
      |    SELECT event_type, c,
      |      ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY c) AS rn,
      |      COUNT(*) OVER (PARTITION BY event_type) AS n
      |    FROM daily)
      |  WHERE rn = (n + 1) // 2),
      |dev AS (
      |  SELECT d.event_type, ABS(d.c - m.med) AS adev
      |  FROM daily d JOIN med m USING (event_type)),
      |mad AS (
      |  SELECT event_type, CAST(adev AS DOUBLE) AS mad FROM (
      |    SELECT event_type, adev,
      |      ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY adev) AS rn,
      |      COUNT(*) OVER (PARTITION BY event_type) AS n
      |    FROM dev)
      |  WHERE rn = (n + 1) // 2)
      |SELECT d.event_type, d.day, d.c AS n_events, m.med,
      |  ROUND((d.c - m.med) / (1.4826 * a.mad), 4) AS z
      |FROM daily d JOIN med m USING (event_type) JOIN mad a USING (event_type)
      |WHERE a.mad > 0
      |  AND ABS(ROUND((d.c - m.med) / (1.4826 * a.mad), 4)) > 2.5
      |ORDER BY d.event_type, d.day""".stripMargin

  /** q212: SKETCHED rolling 7-day reach — [[q187RollingDistinct]]'s
    * scale path: one HLL sketch per (day) from a single pass, then the
    * rolling union is `hll_union_agg` over a 7-row window frame of the
    * |days|-frame — mergeability replaces the ×7 row fanout entirely,
    * which is the formulation that survives when the per-window
    * distinct sets (q187's exact path) no longer fit. Output carries
    * the exact count next to the estimate; like q09/q110/q122 the
    * sketch value is engine-specific, so the driver grades rows-only
    * and the quantitative check is the ±5% tolerance rule (ScalaTest +
    * tools/check_oracle.py).
    */
  def q212RollingReachSketch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = events(spark, dir)
      .select($"user_id", expr("ts div 86400000000000").as("day"))
    val dailySketch = ev.groupBy($"day")
      .agg(expr("hll_sketch_agg(user_id, 12)").as("hll"))
    val approx = dailySketch.selectExpr("day",
      "hll_sketch_estimate(hll_union_agg(hll, true) OVER (ORDER BY day " +
        "RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)) AS approx_users7")
    val du = ev.distinct()
    val days = du.select($"day").distinct()
    val exact = du
      .select($"user_id", explode(sequence($"day", $"day" + 6)).as("day"))
      .join(days, Seq("day"), "left_semi")
      .groupBy($"day").agg(countDistinct($"user_id").as("exact_users7"))
    approx.join(exact, "day").orderBy($"day")
  }

  /** q213: two-proportion z-test — do even-user and odd-user cohorts
    * differ in the share of users whose FIRST event is a view (the
    * "entered through the front door" proposition — ever-converted
    * saturates to 1.0 on this data and has no variance to test)?
    * Completes the inferential family: means ([[q170WelchTtest]]),
    * ranks ([[q181MannWhitney]]), proportions here — the A/B readout
    * every experimentation platform ships. The per-user first event is
    * one bounded `min_by` agg (ordering key zero-padded so both engines
    * pick identically); the pooled-variance z statistic is a closed
    * form over four exact integers — bit-identical across engines and
    * partitionings. A pooled rate of 0 or 1 yields NULL, not a
    * divide-by-zero.
    */
  def q213TwoProportionZ(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perUser = events(spark, dir)
      .withColumn("ts_us", expr("ts div 1000"))
      .groupBy($"user_id")
      .agg(min_by($"event_type",
        concat(lpad($"ts_us".cast("string"), 20, "0"),
          lpad($"event_id".cast("string"), 20, "0"))).as("first_type"))
      .withColumn("converted",
        when($"first_type" === "view", 1L).otherwise(0L))
      .withColumn("is_a", $"user_id" % 2 === 0)
    val m = perUser.agg(
      sum(when($"is_a", 1L).otherwise(0L)).as("na"),
      sum(when(!$"is_a", 1L).otherwise(0L)).as("nb"),
      sum(when($"is_a", $"converted").otherwise(0L)).as("xa"),
      sum(when(!$"is_a", $"converted").otherwise(0L)).as("xb"))
    val na = $"na".cast("double"); val nb = $"nb".cast("double")
    val xa = $"xa".cast("double"); val xb = $"xb".cast("double")
    val p = (xa + xb) / (na + nb)
    // pooled p of 0 or 1 has zero variance: the test is undefined (NULL),
    // not a divide-by-zero
    val v = p * (lit(1.0) - p) * (lit(1.0) / na + lit(1.0) / nb)
    m.select(
      $"na".as("n_a"), $"nb".as("n_b"), $"xa".as("conv_a"), $"xb".as("conv_b"),
      round(xa / na, 6).as("rate_a"), round(xb / nb, 6).as("rate_b"),
      round(when(v > 0.0, (xa / na - xb / nb) / sqrt(v)), 4).as("z_stat"))
  }

  val q213Sql: String =
    """WITH pu AS (
      |  SELECT user_id,
      |    CASE WHEN MIN_BY(event_type,
      |        printf('%020d', epoch_us(ts)) || printf('%020d', event_id))
      |      = 'view' THEN 1 ELSE 0 END AS converted
      |  FROM events GROUP BY user_id),
      |m AS (
      |  SELECT
      |    SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS na,
      |    SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS nb,
      |    SUM(CASE WHEN user_id % 2 = 0 THEN converted ELSE 0 END) AS xa,
      |    SUM(CASE WHEN user_id % 2 = 1 THEN converted ELSE 0 END) AS xb
      |  FROM pu)
      |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
      |  CAST(xa AS BIGINT) AS conv_a, CAST(xb AS BIGINT) AS conv_b,
      |  ROUND(CAST(xa AS DOUBLE) / na, 6) AS rate_a,
      |  ROUND(CAST(xb AS DOUBLE) / nb, 6) AS rate_b,
      |  ROUND(CASE WHEN (CAST(xa + xb AS DOUBLE) / (na + nb))
      |      * (1.0 - CAST(xa + xb AS DOUBLE) / (na + nb))
      |      * (1.0 / na + 1.0 / nb) > 0
      |    THEN (CAST(xa AS DOUBLE) / na - CAST(xb AS DOUBLE) / nb)
      |      / sqrt((CAST(xa + xb AS DOUBLE) / (na + nb))
      |        * (1.0 - CAST(xa + xb AS DOUBLE) / (na + nb))
      |        * (1.0 / na + 1.0 / nb))
      |    END, 4) AS z_stat
      |FROM m""".stripMargin

  /** q214: Benford leading-digit audit over `value` — the fraud /
    * synthetic-data screen: naturally-grown magnitudes follow
    * P(d) = log10(1+1/d); fabricated or uniformly-generated values
    * don't. The leading digit comes from INTEGER string arithmetic on
    * exact cents (never `log10` of a double, whose ulp at exact powers
    * of ten would flip digits between engines); the per-digit rows
    * carry observed share, the Benford expectation, and the chi-squared
    * total over the 9-row frame. One scan, nine output rows.
    */
  def q214BenfordAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val digits = events(spark, dir)
      .select((round($"value" * 100, 0)).cast("long").as("cents"))
      .filter($"cents" > 0)
      .select(substring($"cents".cast("string"), 1, 1).cast("long").as("digit"))
      .groupBy($"digit").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy()
    digits
      .withColumn("total", sum($"n").over(w))
      .withColumn("observed", $"n".cast("double") / $"total")
      .withColumn("benford",
        log(10.0, lit(1.0) + lit(1.0) / $"digit"))
      .withColumn("chi2_part", round(
        ($"observed" - $"benford") * ($"observed" - $"benford")
          / $"benford" * $"total", 6))
      .withColumn("chi2_total", round(sum($"chi2_part").over(w), 4))
      .select($"digit", $"n", round($"observed", 6).as("observed"),
        round($"benford", 6).as("benford"), $"chi2_total")
      .orderBy($"digit")
  }

  val q214Sql: String =
    """WITH d AS (
      |  SELECT CAST(substring(CAST(cents AS VARCHAR), 1, 1) AS BIGINT)
      |    AS digit
      |  FROM (SELECT CAST(round(value * 100, 0) AS BIGINT) AS cents
      |        FROM events)
      |  WHERE cents > 0),
      |g AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit),
      |s AS (
      |  SELECT digit, n, SUM(n) OVER () AS total,
      |    CAST(n AS DOUBLE) / SUM(n) OVER () AS observed,
      |    log10(1.0 + 1.0 / digit) AS benford
      |  FROM g),
      |p AS (
      |  SELECT digit, n, observed, benford,
      |    ROUND((observed - benford) * (observed - benford)
      |      / benford * total, 6) AS chi2_part
      |  FROM s)
      |SELECT digit, n, ROUND(observed, 6) AS observed,
      |  ROUND(benford, 6) AS benford,
      |  ROUND(SUM(chi2_part) OVER (), 4) AS chi2_total
      |FROM p ORDER BY digit""".stripMargin

  /** q216: longest activity streak per user, as a histogram — the
    * engagement "habit" metric (how many users have ever shown up N
    * days in a row). Day-granular gaps-and-islands: distinct
    * (user, day) rows get an island key `day − row_number` (consecutive
    * days share it), islands collapse to lengths, each user keeps their
    * max, and the report is the |streak lengths| histogram. Everything
    * after the distinct collapse is windows over one user-keyed
    * shuffle; the histogram is calendar-bounded.
    */
  def q216StreakHistogram(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val du = events(spark, dir)
      .select($"user_id", expr("ts div 86400000000000").as("day"))
      .distinct()
    val w = Window.partitionBy($"user_id").orderBy($"day")
    val streaks = du
      .withColumn("island", $"day" - row_number().over(w))
      .groupBy($"user_id", $"island").agg(count(lit(1)).as("len"))
      .groupBy($"user_id").agg(max($"len").as("best"))
    streaks.groupBy($"best".as("streak_days"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy($"streak_days")
  }

  val q216Sql: String =
    """WITH du AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
      |  FROM events),
      |isl AS (
      |  SELECT user_id,
      |    day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
      |      AS island
      |  FROM du),
      |lens AS (
      |  SELECT user_id, island, COUNT(*) AS len
      |  FROM isl GROUP BY 1, 2),
      |best AS (
      |  SELECT user_id, MAX(len) AS best FROM lens GROUP BY user_id)
      |SELECT best AS streak_days, COUNT(*) AS n_users
      |FROM best GROUP BY best ORDER BY streak_days""".stripMargin

  /** q217: Mantel–Haenszel stratified odds ratio — does the even-user
    * cohort purchase more per active day than the odd cohort, AFTER
    * controlling for the day (the confounder a crude pooled ratio
    * ignores — Simpson's-paradox protection for every A/B readout over
    * time-varying traffic)? Each day is a 2×2 stratum of exact integer
    * counts over the distinct (user, day[, purchased]) incidence frame;
    * MH OR = Σ(a·d/n) / Σ(b·c/n) folds the strata without ever
    * weighting by anything float-derived, and the crude OR rides along
    * so the confounding gap is visible. Output also carries the
    * stratum count and total exposure.
    */
  def q217MantelHaenszel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ud = events(spark, dir)
      .select($"user_id", expr("ts div 86400000000000").as("day"),
        ($"event_type" === "purchase").as("p"))
      .groupBy($"user_id", $"day")
      .agg(max(when($"p", 1L).otherwise(0L)).as("purchased"))
      .withColumn("is_a", $"user_id" % 2 === 0)
    val strata = ud.groupBy($"day")
      .agg(
        sum(when($"is_a" && $"purchased" === 1L, 1L).otherwise(0L)).as("a"),
        sum(when($"is_a" && $"purchased" === 0L, 1L).otherwise(0L)).as("b"),
        sum(when(!$"is_a" && $"purchased" === 1L, 1L).otherwise(0L)).as("c"),
        sum(when(!$"is_a" && $"purchased" === 0L, 1L).otherwise(0L)).as("d"))
      .withColumn("n", ($"a" + $"b" + $"c" + $"d").cast("double"))
    strata.agg(
        count(lit(1)).as("n_strata"),
        sum($"a" + $"b" + $"c" + $"d").as("n_user_days"),
        sum($"a".cast("double") * $"d" / $"n").as("num"),
        sum($"b".cast("double") * $"c" / $"n").as("den"),
        sum($"a").as("sa"), sum($"b").as("sb"),
        sum($"c").as("sc"), sum($"d").as("sd"))
      .select($"n_strata", $"n_user_days",
        round($"num" / $"den", 4).as("mh_odds_ratio"),
        round($"sa".cast("double") * $"sd"
          / ($"sb".cast("double") * $"sc"), 4).as("crude_odds_ratio"))
  }

  val q217Sql: String =
    """WITH ud AS (
      |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
      |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS purchased
      |  FROM events GROUP BY 1, 2),
      |strata AS (
      |  SELECT day,
      |    SUM(CASE WHEN user_id % 2 = 0 AND purchased = 1 THEN 1 ELSE 0 END) AS a,
      |    SUM(CASE WHEN user_id % 2 = 0 AND purchased = 0 THEN 1 ELSE 0 END) AS b,
      |    SUM(CASE WHEN user_id % 2 = 1 AND purchased = 1 THEN 1 ELSE 0 END) AS c,
      |    SUM(CASE WHEN user_id % 2 = 1 AND purchased = 0 THEN 1 ELSE 0 END) AS d
      |  FROM ud GROUP BY day),
      |m AS (
      |  SELECT COUNT(*) AS n_strata,
      |    SUM(a + b + c + d) AS n_user_days,
      |    SUM(CAST(a AS DOUBLE) * d / CAST(a + b + c + d AS DOUBLE)) AS num,
      |    SUM(CAST(b AS DOUBLE) * c / CAST(a + b + c + d AS DOUBLE)) AS den,
      |    SUM(a) AS sa, SUM(b) AS sb, SUM(c) AS sc, SUM(d) AS sd
      |  FROM strata)
      |SELECT n_strata, CAST(n_user_days AS BIGINT) AS n_user_days,
      |  ROUND(num / den, 4) AS mh_odds_ratio,
      |  ROUND(CAST(sa AS DOUBLE) * sd / (CAST(sb AS DOUBLE) * sc), 4)
      |    AS crude_odds_ratio
      |FROM m""".stripMargin

  /** q218: churn half-life — fit retention(offset) ≈ e^(slope·offset)
    * over day offsets 1..30 from first sighting and report
    * half-life = −ln 2 / slope: the single number that compresses the
    * whole retention curve (NULL when the fitted slope isn't negative —
    * no measurable decay, as in this synthetic corpus, is "no
    * half-life", not a negative extrapolation). Numerators (users active EXACTLY offset
    * days after their first day) and denominators (users whose cohort
    * is old enough to be evaluable at that offset — right-censoring
    * handled exactly, not ignored) are exact integer counts from the
    * first-seen and incidence frames; the log-linear fit is the q159
    * closed form over ≤ 30 (offset, ln r) points.
    */
  def q218ChurnHalflife(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val du = events(spark, dir)
      .select($"user_id", expr("ts div 86400000000000").as("day"))
      .distinct()
    val fs = du.groupBy($"user_id").agg(min($"day").as("first_day"))
    val maxDay = du.agg(max($"day").as("max_day"))
    val num = du.join(fs, "user_id")
      .select(($"day" - $"first_day").as("o"))
      .filter($"o" >= 1 && $"o" <= 30)
      .groupBy($"o").agg(count(lit(1)).as("active"))
    val den = fs.crossJoin(broadcast(maxDay))
      .select($"first_day", $"max_day",
        explode(sequence(lit(1L), lit(30L))).as("o"))
      .filter($"first_day" + $"o" <= $"max_day")
      .groupBy($"o").agg(count(lit(1)).as("cohort"))
    val pts = num.join(den, "o")
      .filter($"cohort" >= 10 && $"active" >= 1)
      .select($"o".cast("double").as("x"),
        log($"active".cast("double") / $"cohort").as("y"))
    pts.agg(
        count(lit(1)).as("n_points"),
        sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"y").as("sxy"), sum($"x" * $"x").as("sxx"))
      .withColumn("slope_raw", ($"n_points" * $"sxy" - $"sx" * $"sy")
        / ($"n_points" * $"sxx" - $"sx" * $"sx"))
      .select($"n_points", round($"slope_raw", 6).as("slope"),
        // a non-negative slope means no measurable decay: half-life is
        // undefined (NULL), not a nonsense negative extrapolation
        round(when($"slope_raw" < 0.0,
          lit(-math.log(2.0)) / $"slope_raw"), 2).as("half_life_days"))
  }

  val q218Sql: String =
    """WITH du AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
      |  FROM events),
      |fs AS (SELECT user_id, MIN(day) AS first_day FROM du GROUP BY user_id),
      |mx AS (SELECT MAX(day) AS max_day FROM du),
      |num AS (
      |  SELECT du.day - fs.first_day AS o, COUNT(*) AS active
      |  FROM du JOIN fs USING (user_id)
      |  WHERE du.day - fs.first_day BETWEEN 1 AND 30
      |  GROUP BY 1),
      |den AS (
      |  SELECT t.o, COUNT(*) AS cohort
      |  FROM fs CROSS JOIN mx
      |  CROSS JOIN (SELECT unnest(range(1, 31)) AS o) t
      |  WHERE fs.first_day + t.o <= mx.max_day
      |  GROUP BY t.o),
      |pts AS (
      |  SELECT CAST(o AS DOUBLE) AS x,
      |    ln(CAST(active AS DOUBLE) / cohort) AS y
      |  FROM num JOIN den USING (o)
      |  WHERE cohort >= 10 AND active >= 1),
      |m AS (
      |  SELECT COUNT(*) AS n_points, SUM(x) AS sx, SUM(y) AS sy,
      |    SUM(x * y) AS sxy, SUM(x * x) AS sxx
      |  FROM pts)
      |SELECT n_points,
      |  ROUND((n_points * sxy - sx * sy) / (n_points * sxx - sx * sx), 6)
      |    AS slope,
      |  ROUND(CASE WHEN (n_points * sxy - sx * sy)
      |      / (n_points * sxx - sx * sx) < 0
      |    THEN -ln(2) / ((n_points * sxy - sx * sy)
      |      / (n_points * sxx - sx * sx)) END, 2) AS half_life_days
      |FROM m""".stripMargin

  /** q219: Kaplan–Meier survival curve for time-to-conversion — the
    * right-censored estimator of "what fraction of viewers have NOT yet
    * purchased after h hours", the statistically honest version of the
    * conversion-latency rollup (q199 averages only the converters; KM
    * keeps the users who never converted in the at-risk denominator
    * until their observation window ends). Per-user (time, is_event)
    * collapses to one row each; at-risk counts come from one cumulative
    * window over the |distinct times| frame (the KS collapse trick);
    * the survival product folds as exp(Σ ln(1−d/n)) so it's one ordered
    * cumulative sum, not a sequential product. Death times where the
    * whole risk set dies are excluded by the d < n guard (S hits exact
    * 0 there; ln(0) is engine-divergent).
    */
  def q219KaplanMeier(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = events(spark, dir).withColumn("ts_us", expr("ts div 1000"))
    val tv = ev.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"ts_us").as("tv"))
    val tp = ev.filter($"event_type" === "purchase").as("e")
      .join(tv.as("v"), $"e.user_id" === $"v.user_id")
      .filter($"e.ts_us" > $"v.tv")
      .groupBy($"e.user_id".as("user_id")).agg(min($"e.ts_us").as("tp"))
    val maxTs = ev.agg(max($"ts_us").as("max_ts"))
    val subjects = tv.join(tp, Seq("user_id"), "left")
      .crossJoin(broadcast(maxTs))
      .select(
        when($"tp".isNotNull, expr("(tp - tv) div 3600000000"))
          .otherwise(expr("(max_ts - tv) div 3600000000")).as("t"),
        $"tp".isNotNull.as("is_event"))
    val grouped = subjects.groupBy($"t")
      .agg(count(lit(1)).as("c_all"),
        sum(when($"is_event", 1L).otherwise(0L)).as("d"))
    val w = Window.orderBy($"t")
    val risk = grouped
      .withColumn("n_total", sum($"c_all").over(Window.partitionBy()))
      .withColumn("cum_before",
        coalesce(sum($"c_all").over(w.rowsBetween(
          Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n_risk", $"n_total" - $"cum_before")
      .filter($"d" > 0 && $"d" < $"n_risk")
    risk
      .withColumn("s_km", round(exp(sum(
        log(lit(1.0) - $"d".cast("double") / $"n_risk")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow))), 6))
      .select($"t".as("hours"), $"n_risk", $"d".as("n_converted"), $"s_km")
      .orderBy($"hours")
  }

  val q219Sql: String =
    """WITH ev AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
      |tv AS (
      |  SELECT user_id, MIN(ts_us) AS tv FROM ev
      |  WHERE event_type = 'view' GROUP BY user_id),
      |tp AS (
      |  SELECT e.user_id, MIN(e.ts_us) AS tp
      |  FROM ev e JOIN tv v ON e.user_id = v.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts_us > v.tv
      |  GROUP BY e.user_id),
      |mx AS (SELECT MAX(ts_us) AS max_ts FROM ev),
      |subjects AS (
      |  SELECT CASE WHEN tp.tp IS NOT NULL
      |      THEN (tp.tp - tv.tv) // 3600000000
      |      ELSE (mx.max_ts - tv.tv) // 3600000000 END AS t,
      |    tp.tp IS NOT NULL AS is_event
      |  FROM tv LEFT JOIN tp USING (user_id) CROSS JOIN mx),
      |grouped AS (
      |  SELECT t, COUNT(*) AS c_all,
      |    SUM(CASE WHEN is_event THEN 1 ELSE 0 END) AS d
      |  FROM subjects GROUP BY t),
      |risk AS (
      |  SELECT t, d,
      |    SUM(c_all) OVER () - COALESCE(SUM(c_all) OVER (
      |      ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS n_risk
      |  FROM grouped),
      |alive AS (SELECT * FROM risk WHERE d > 0 AND d < n_risk)
      |SELECT t AS hours, CAST(n_risk AS BIGINT) AS n_risk,
      |  CAST(d AS BIGINT) AS n_converted,
      |  ROUND(exp(SUM(ln(1.0 - CAST(d AS DOUBLE) / n_risk)) OVER (
      |    ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
      |    AS s_km
      |FROM alive ORDER BY hours""".stripMargin

  /** q220: log-rank test — do the even- and odd-user cohorts share the
    * same time-to-conversion survival curve ([[q219KaplanMeier]]'s
    * hypothesis-test companion, and the standard A/B readout when the
    * outcome is a LATENCY rather than a rate)? Every death time is a
    * 2×2 stratum (the [[q217MantelHaenszel]] folding applied to
    * survival data): observed deaths vs. hypergeometric expectation and
    * variance, χ² = (ΣO−ΣE)²/ΣV with 1 dof. Per-cohort at-risk counts
    * come from two cumulative windows over the same |distinct times|
    * frame; every stratum input is an exact integer.
    */
  def q220LogRank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = events(spark, dir).withColumn("ts_us", expr("ts div 1000"))
    val tv = ev.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"ts_us").as("tv"))
    val tp = ev.filter($"event_type" === "purchase").as("e")
      .join(tv.as("v"), $"e.user_id" === $"v.user_id")
      .filter($"e.ts_us" > $"v.tv")
      .groupBy($"e.user_id".as("user_id")).agg(min($"e.ts_us").as("tp"))
    val maxTs = ev.agg(max($"ts_us").as("max_ts"))
    val subjects = tv.join(tp, Seq("user_id"), "left")
      .crossJoin(broadcast(maxTs))
      .select(($"user_id" % 2 === 0).as("is_a"),
        when($"tp".isNotNull, expr("(tp - tv) div 3600000000"))
          .otherwise(expr("(max_ts - tv) div 3600000000")).as("t"),
        $"tp".isNotNull.as("is_event"))
    val grouped = subjects.groupBy($"t")
      .agg(
        sum(when($"is_a", 1L).otherwise(0L)).as("c1"),
        sum(when(!$"is_a", 1L).otherwise(0L)).as("c2"),
        sum(when($"is_a" && $"is_event", 1L).otherwise(0L)).as("d1"),
        sum(when(!$"is_a" && $"is_event", 1L).otherwise(0L)).as("d2"))
    val w = Window.orderBy($"t")
    val wAll = Window.partitionBy()
    val risk = grouped
      .withColumn("n1", sum($"c1").over(wAll) - coalesce(
        sum($"c1").over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n2", sum($"c2").over(wAll) - coalesce(
        sum($"c2").over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("d", $"d1" + $"d2")
      .withColumn("n", ($"n1" + $"n2").cast("double"))
      .filter($"d" > 0 && ($"n1" + $"n2") > $"d")
    risk.agg(
        count(lit(1)).as("n_times"),
        sum($"d1").as("obs_a"),
        sum($"d".cast("double") * $"n1" / $"n").as("exp_a"),
        sum($"d".cast("double") * ($"n1".cast("double") / $"n")
          * ($"n2".cast("double") / $"n")
          * ($"n" - $"d") / ($"n" - 1)).as("v"))
      .select($"n_times", $"obs_a", round($"exp_a", 4).as("exp_a"),
        round(($"obs_a" - $"exp_a") * ($"obs_a" - $"exp_a") / $"v", 4)
          .as("logrank_chi2"))
  }

  val q220Sql: String =
    """WITH ev AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
      |tv AS (
      |  SELECT user_id, MIN(ts_us) AS tv FROM ev
      |  WHERE event_type = 'view' GROUP BY user_id),
      |tp AS (
      |  SELECT e.user_id, MIN(e.ts_us) AS tp
      |  FROM ev e JOIN tv v ON e.user_id = v.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts_us > v.tv
      |  GROUP BY e.user_id),
      |mx AS (SELECT MAX(ts_us) AS max_ts FROM ev),
      |subjects AS (
      |  SELECT tv.user_id % 2 = 0 AS is_a,
      |    CASE WHEN tp.tp IS NOT NULL
      |      THEN (tp.tp - tv.tv) // 3600000000
      |      ELSE (mx.max_ts - tv.tv) // 3600000000 END AS t,
      |    tp.tp IS NOT NULL AS is_event
      |  FROM tv LEFT JOIN tp USING (user_id) CROSS JOIN mx),
      |grouped AS (
      |  SELECT t,
      |    SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS c1,
      |    SUM(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS c2,
      |    SUM(CASE WHEN is_a AND is_event THEN 1 ELSE 0 END) AS d1,
      |    SUM(CASE WHEN NOT is_a AND is_event THEN 1 ELSE 0 END) AS d2
      |  FROM subjects GROUP BY t),
      |risk AS (
      |  SELECT t, d1, d2, d1 + d2 AS d,
      |    SUM(c1) OVER () - COALESCE(SUM(c1) OVER (
      |      ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS n1,
      |    SUM(c2) OVER () - COALESCE(SUM(c2) OVER (
      |      ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS n2
      |  FROM grouped),
      |alive AS (
      |  SELECT *, CAST(n1 + n2 AS DOUBLE) AS n FROM risk
      |  WHERE d > 0 AND n1 + n2 > d),
      |m AS (
      |  SELECT COUNT(*) AS n_times, SUM(d1) AS obs_a,
      |    SUM(CAST(d AS DOUBLE) * n1 / n) AS exp_a,
      |    SUM(CAST(d AS DOUBLE) * (CAST(n1 AS DOUBLE) / n)
      |      * (CAST(n2 AS DOUBLE) / n) * (n - d) / (n - 1)) AS v
      |  FROM alive)
      |SELECT n_times, CAST(obs_a AS BIGINT) AS obs_a,
      |  ROUND(exp_a, 4) AS exp_a,
      |  ROUND((obs_a - exp_a) * (obs_a - exp_a) / v, 4) AS logrank_chi2
      |FROM m""".stripMargin

  /** q231: moving-average seasonal decomposition — the weekday seasonal
    * INDEX of daily revenue after removing the trend (a centered 7-day
    * moving average), i.e. the classical decomposition's seasonal
    * component where [[q189WeekdayProfile]] reports raw weekday means
    * (trend and season confounded). Everything is integer cents until
    * the two final divisions: daily revenue collapses to exact cents,
    * the MA window is a bigint sum over a 7-row frame (associative —
    * safe under any engine's sliding-window tree), and the detrended
    * value is kept ×7 (7y − Σ₇) to avoid the division entirely. Scale:
    * one data-sized aggregation to |days| rows; windows and the weekday
    * fold run on the calendar-bounded frame.
    */
  def q231SeasonalDecomposition(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = events(spark, dir)
      .groupBy(expr("ts_ms div 86400000").as("day_idx"))
      .agg((sum($"value".cast(org.apache.spark.sql.types.DecimalType(18, 2)))
        * 100).cast("long").as("y_c"))
    val w7 = Window.orderBy($"day_idx").rowsBetween(-3, 3)
    val full = daily
      .withColumn("n7", count(lit(1)).over(w7))
      .withColumn("sum7", sum($"y_c").over(w7))
      .filter($"n7" === 7)
    full.groupBy(($"day_idx" % 7).as("weekday"))
      .agg(count(lit(1)).as("n_days"),
        sum($"y_c" * 7 - $"sum7").as("detr7"),
        sum($"y_c").as("yc"))
      .select($"weekday", $"n_days",
        round($"detr7".cast("double") / ($"n_days" * 700.0), 6).as("seasonal"),
        round($"yc".cast("double") / ($"n_days" * 100.0), 6).as("avg_revenue"))
      .orderBy($"weekday")
  }

  val q231Sql: String =
    """WITH daily AS (
      |  SELECT epoch_ms(ts) // 86400000 AS day_idx,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS y_c
      |  FROM events GROUP BY 1),
      |ma AS (
      |  SELECT day_idx, y_c,
      |    COUNT(*) OVER (ORDER BY day_idx
      |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS n7,
      |    SUM(y_c) OVER (ORDER BY day_idx
      |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS sum7
      |  FROM daily),
      |full7 AS (SELECT * FROM ma WHERE n7 = 7)
      |SELECT day_idx % 7 AS weekday, COUNT(*) AS n_days,
      |  ROUND(CAST(SUM(y_c * 7 - sum7) AS DOUBLE) / (COUNT(*) * 700.0), 6)
      |    AS seasonal,
      |  ROUND(CAST(SUM(y_c) AS DOUBLE) / (COUNT(*) * 100.0), 6)
      |    AS avg_revenue
      |FROM full7 GROUP BY 1 ORDER BY weekday""".stripMargin

  /** q241: lead-lag cross-correlation — Pearson correlation between the
    * view and purchase daily-revenue series at day offsets −3…+3, the
    * "does engagement lead spend, and by how long?" card. Both series
    * collapse to integer cents; the ±3 offset fan-out is a constant
    * 7-row explode joined back on the shifted day (calendar-bounded
    * frames, never event-sized); every Pearson moment is an exact
    * integer in overflow-safe decimals with two final FP ops (one
    * division, one sqrt — both correctly rounded, engine-identical).
    */
  def q241LeadLagXcorr(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val ev = events(spark, dir)
    def daily(t: String) = ev.filter($"event_type" === t)
      .groupBy(expr("ts_ms div 86400000").as("d"))
      .agg((sum($"value".cast(org.apache.spark.sql.types.DecimalType(18, 2)))
        * 100).cast("long").as(s"c_$t"))
    val x = daily("view")
    val y = daily("purchase")
    val lags = array((-3L to 3L).map(lit): _*)
    val joined = x.select($"d".as("xd"), $"c_view", explode(lags).as("lag"))
      .join(y, $"xd" + $"lag" === $"d")
      .select($"lag", $"c_view".as("x"), $"c_purchase".as("y"))
    joined.groupBy($"lag")
      .agg(count(lit(1)).as("n_days"),
        sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x".cast(dec) * $"y".cast(dec)).as("sxy"),
        sum($"x".cast(dec) * $"x".cast(dec)).as("sxx"),
        sum($"y".cast(dec) * $"y".cast(dec)).as("syy"))
      .select($"lag", $"n_days",
        round(($"n_days".cast(dec) * $"sxy" - $"sx".cast(dec) * $"sy".cast(dec))
          .cast("double") /
          sqrt((($"n_days".cast(dec) * $"sxx" - $"sx".cast(dec) * $"sx".cast(dec)) *
            ($"n_days".cast(dec) * $"syy" - $"sy".cast(dec) * $"sy".cast(dec)))
            .cast("double")), 6).as("pearson_r"))
      .orderBy($"lag")
  }

  val q241Sql: String =
    """WITH ev AS (
      |  SELECT event_type, epoch_ms(ts) // 86400000 AS d, value FROM events),
      |x AS (
      |  SELECT d, CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
      |    AS x FROM ev WHERE event_type = 'view' GROUP BY 1),
      |y AS (
      |  SELECT d, CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
      |    AS y FROM ev WHERE event_type = 'purchase' GROUP BY 1),
      |j AS (
      |  SELECT l.lag, x.x, y.y
      |  FROM x CROSS JOIN (SELECT CAST(UNNEST([-3,-2,-1,0,1,2,3]) AS BIGINT)
      |                     AS lag) l
      |  JOIN y ON x.d + l.lag = y.d),
      |m AS (
      |  SELECT lag, COUNT(*) AS n_days, SUM(x) AS sx, SUM(y) AS sy,
      |    SUM(CAST(x AS HUGEINT) * y) AS sxy,
      |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
      |    SUM(CAST(y AS HUGEINT) * y) AS syy
      |  FROM j GROUP BY lag)
      |SELECT lag, n_days,
      |  ROUND(CAST(CAST(n_days AS HUGEINT) * sxy
      |      - CAST(sx AS HUGEINT) * sy AS DOUBLE) /
      |    SQRT(CAST((CAST(n_days AS HUGEINT) * sxx
      |        - CAST(sx AS HUGEINT) * sx)
      |      * (CAST(n_days AS HUGEINT) * syy
      |        - CAST(sy AS HUGEINT) * sy) AS DOUBLE)), 6) AS pearson_r
      |FROM m ORDER BY lag""".stripMargin

  /** q242: top event-type trigram paths — the most common length-3
    * behavioral sequences ([[q207TransitionEntropy]]'s bigram
    * transitions extended to the path mining a sequence model trains
    * on), with each path's share of all trigrams. Two lags over ONE
    * user-keyed window (the q146 next-event shape), then a hash agg on
    * the |types|³-bounded path domain; the top-10 cut is a TakeOrdered,
    * not a global sort.
    */
  def q242TrigramPaths(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val tri = events(spark, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("t2", lead($"event_type", 1).over(w))
      .withColumn("t3", lead($"event_type", 2).over(w))
      .filter($"t2".isNotNull && $"t3".isNotNull)
      .select(concat_ws(">", $"event_type", $"t2", $"t3").as("path"))
    val counts = tri.groupBy($"path").agg(count(lit(1)).as("n"))
    counts
      .withColumn("share", round($"n".cast("double") /
        sum($"n").over(Window.partitionBy()), 6))
      .orderBy($"n".desc, $"path")
      .limit(10)
  }

  val q242Sql: String =
    """WITH o AS (
      |  SELECT user_id, event_type,
      |    LEAD(event_type, 1) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS t2,
      |    LEAD(event_type, 2) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS t3
      |  FROM events),
      |tri AS (
      |  SELECT event_type || '>' || t2 || '>' || t3 AS path FROM o
      |  WHERE t2 IS NOT NULL AND t3 IS NOT NULL),
      |c AS (SELECT path, COUNT(*) AS n FROM tri GROUP BY 1)
      |SELECT path, n, ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (), 6) AS share
      |FROM c ORDER BY n DESC, path LIMIT 10""".stripMargin

  /** q243: late-data audit — how out-of-order is each stream, in
    * watermark terms? Lateness of an event = (running max event time in
    * ARRIVAL order) − (its own event time), per event_type; the bucket
    * histogram (in-order / ≤1 min / ≤5 min / ≤30 min / beyond) is
    * exactly the evidence for choosing a `withWatermark` allowance: the
    * share in the last bucket is the drop rate that allowance would
    * cost. Arrival order is the event_id sequence (the commit-order
    * proxy the replicator checkpoints by). One per-stream window over
    * the arrival sequence — the per-stream ORDER is the semantic, so
    * the sort is irreducible but partitioned by stream.
    */
  def q243LateDataAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"event_type").orderBy($"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val late = events(spark, dir)
      .select($"event_type", $"event_id", $"ts_ms")
      .withColumn("late_ms", max($"ts_ms").over(w) - $"ts_ms")
    val bucket = when($"late_ms" === 0, "a_in_order")
      .when($"late_ms" <= 60000L, "b_1min")
      .when($"late_ms" <= 300000L, "c_5min")
      .when($"late_ms" <= 1800000L, "d_30min")
      .otherwise("e_beyond")
    late.groupBy($"event_type", bucket.as("bucket"))
      .agg(count(lit(1)).as("n_events"), max($"late_ms").as("max_late_ms"))
      .withColumn("share", round($"n_events".cast("double") /
        sum($"n_events").over(Window.partitionBy($"event_type")), 6))
      .orderBy($"event_type", $"bucket")
  }

  val q243Sql: String =
    """WITH l AS (
      |  SELECT event_type,
      |    MAX(epoch_ms(ts)) OVER (PARTITION BY event_type ORDER BY event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      - epoch_ms(ts) AS late_ms
      |  FROM events),
      |b AS (
      |  SELECT event_type,
      |    CASE WHEN late_ms = 0 THEN 'a_in_order'
      |         WHEN late_ms <= 60000 THEN 'b_1min'
      |         WHEN late_ms <= 300000 THEN 'c_5min'
      |         WHEN late_ms <= 1800000 THEN 'd_30min'
      |         ELSE 'e_beyond' END AS bucket,
      |    late_ms
      |  FROM l)
      |SELECT event_type, bucket, COUNT(*) AS n_events,
      |  MAX(late_ms) AS max_late_ms,
      |  ROUND(CAST(COUNT(*) AS DOUBLE) /
      |    SUM(COUNT(*)) OVER (PARTITION BY event_type), 6) AS share
      |FROM b GROUP BY 1, 2 ORDER BY event_type, bucket""".stripMargin

  /** q244: session shape card — depth (events) and duration percentiles
    * over 30-minute-gap sessions, the "how long is a session really"
    * numbers capacity and UX decisions read. Sessionization is one
    * user-keyed window (gap flag → cumulative session id → per-session
    * collapse); the percentiles run through
    * [[graft.operators.Extended.exactQuantilesMulti]] — the suite's
    * O(1)-state order-statistic engine — over the SESSION frame, which
    * is already |sessions| ≪ |events|. Exact: integer depths/durations,
    * engine-identical interpolation.
    */
  def q244SessionCard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts_ms", $"event_id")
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sessions = events(spark, dir)
      .select($"user_id", $"event_id", $"ts_ms")
      .withColumn("new_sess",
        when(lag($"ts_ms", 1).over(w).isNull ||
          $"ts_ms" - lag($"ts_ms", 1).over(w) > 1800000L, 1L).otherwise(0L))
      .withColumn("sess_id", sum($"new_sess").over(cum))
      .groupBy($"user_id", $"sess_id")
      .agg(count(lit(1)).cast("double").as("depth"),
        (max($"ts_ms") - min($"ts_ms")).cast("double").as("duration_ms"))
      // materialized once: the count below and the quantile engine's
      // passes would each re-run the sessionization window otherwise
      .localCheckpoint()
    val nSessions = sessions.count()
    val qs = Extended.exactQuantilesMulti(sessions, None, Seq(
      "depth" -> Seq(0.5, 0.9, 0.99),
      "duration_ms" -> Seq(0.5, 0.9, 0.99)))(0)
    Seq((nSessions,
        qs(("depth", 0.5)), qs(("depth", 0.9)), qs(("depth", 0.99)),
        qs(("duration_ms", 0.5)), qs(("duration_ms", 0.9)),
        qs(("duration_ms", 0.99))))
      .toDF("n_sessions", "d50", "d90", "d99", "t50", "t90", "t99")
      .select($"n_sessions",
        round($"d50", 4).as("depth_p50"), round($"d90", 4).as("depth_p90"),
        round($"d99", 4).as("depth_p99"),
        round($"t50", 4).as("duration_p50_ms"),
        round($"t90", 4).as("duration_p90_ms"),
        round($"t99", 4).as("duration_p99_ms"))
  }

  val q244Sql: String =
    """WITH o AS (
      |  SELECT user_id, epoch_ms(ts) AS ts_ms, event_id,
      |    CASE WHEN LAG(epoch_ms(ts)) OVER (PARTITION BY user_id
      |        ORDER BY epoch_ms(ts), event_id) IS NULL
      |      OR epoch_ms(ts) - LAG(epoch_ms(ts)) OVER (PARTITION BY user_id
      |        ORDER BY epoch_ms(ts), event_id) > 1800000
      |      THEN 1 ELSE 0 END AS new_sess
      |  FROM events),
      |s AS (
      |  SELECT user_id,
      |    SUM(new_sess) OVER (PARTITION BY user_id
      |      ORDER BY ts_ms, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id,
      |    ts_ms
      |  FROM o),
      |g AS (
      |  SELECT user_id, sess_id,
      |    CAST(COUNT(*) AS DOUBLE) AS depth,
      |    CAST(MAX(ts_ms) - MIN(ts_ms) AS DOUBLE) AS duration_ms
      |  FROM s GROUP BY 1, 2)
      |SELECT COUNT(*) AS n_sessions,
      |  ROUND(quantile_cont(depth, 0.5), 4) AS depth_p50,
      |  ROUND(quantile_cont(depth, 0.9), 4) AS depth_p90,
      |  ROUND(quantile_cont(depth, 0.99), 4) AS depth_p99,
      |  ROUND(quantile_cont(duration_ms, 0.5), 4) AS duration_p50_ms,
      |  ROUND(quantile_cont(duration_ms, 0.9), 4) AS duration_p90_ms,
      |  ROUND(quantile_cont(duration_ms, 0.99), 4) AS duration_p99_ms
      |FROM g""".stripMargin

  /** q248: first-touch vs last-touch attribution — the same 7-day
    * conversions credited under both models, per channel, with the
    * share delta that quantifies how much the model CHOICE (not the
    * data) moves budget. Both picks come from ONE value-ranged window
    * pass: min/max of a zero-padded (ts, event_id, type) ordering key
    * over the strictly-before 7-day RANGE frame — the engine-identical
    * argmin/argmax trick, two window functions sharing one frame.
    */
  def q248AttributionCompare(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val isTouch = $"event_type" === "click" || $"event_type" === "view"
    val key = concat(lpad($"ts_ms".cast("string"), 13, "0"),
      lpad($"event_id".cast("string"), 12, "0"), $"event_type")
    val w = Window.partitionBy($"user_id").orderBy($"ts_ms")
      .rangeBetween(-7L * 24 * 3600 * 1000, -1L)
    val conv = events(spark, dir)
      .select($"event_type",
        min(when(isTouch, key)).over(w).as("first_key"),
        max(when(isTouch, key)).over(w).as("last_key"))
      .filter($"event_type" === "purchase")
      .select(
        coalesce(substring($"first_key", 26, 100), lit("organic")).as("first_ch"),
        coalesce(substring($"last_key", 26, 100), lit("organic")).as("last_ch"))
    // collapse to the |channels|² contingency frame FIRST (one window
    // pass, one shuffle), then derive both marginals and the total from
    // the checkpointed tiny frame — three consumers of `conv` would
    // otherwise re-expand the window subtree into three event scans
    val cc = conv.groupBy($"first_ch", $"last_ch")
      .agg(count(lit(1)).as("n")).localCheckpoint()
    val first = cc.groupBy($"first_ch".as("channel"))
      .agg(sum($"n").as("n_first"))
    val last = cc.groupBy($"last_ch".as("channel"))
      .agg(sum($"n").as("n_last"))
    val tot = cc.agg(sum($"n").as("n_conv"))
    first.join(last, Seq("channel"), "full_outer")
      .na.fill(0L, Seq("n_first", "n_last"))
      .crossJoin(broadcast(tot))
      .select($"channel", $"n_first", $"n_last",
        round($"n_first".cast("double") / $"n_conv", 6).as("first_share"),
        round($"n_last".cast("double") / $"n_conv", 6).as("last_share"),
        round(($"n_last" - $"n_first").cast("double") / $"n_conv", 6)
          .as("share_delta"))
      .orderBy($"channel")
  }

  val q248Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms
      |  FROM events),
      |k AS (
      |  SELECT *,
      |    lpad(CAST(ts_ms AS VARCHAR), 13, '0')
      |      || lpad(CAST(event_id AS VARCHAR), 12, '0') || event_type AS key,
      |    event_type IN ('click', 'view') AS is_touch
      |  FROM e),
      |t AS (
      |  SELECT event_type,
      |    MIN(CASE WHEN is_touch THEN key END) OVER w AS first_key,
      |    MAX(CASE WHEN is_touch THEN key END) OVER w AS last_key
      |  FROM k
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms
      |    RANGE BETWEEN 604800000 PRECEDING AND 1 PRECEDING)),
      |conv AS (
      |  SELECT COALESCE(substring(first_key, 26), 'organic') AS first_ch,
      |    COALESCE(substring(last_key, 26), 'organic') AS last_ch
      |  FROM t WHERE event_type = 'purchase'),
      |f AS (SELECT first_ch AS channel, COUNT(*) AS n_first
      |      FROM conv GROUP BY 1),
      |l AS (SELECT last_ch AS channel, COUNT(*) AS n_last
      |      FROM conv GROUP BY 1),
      |tot AS (SELECT COUNT(*) AS n_conv FROM conv)
      |SELECT channel, COALESCE(n_first, 0) AS n_first,
      |  COALESCE(n_last, 0) AS n_last,
      |  ROUND(CAST(COALESCE(n_first, 0) AS DOUBLE) / n_conv, 6)
      |    AS first_share,
      |  ROUND(CAST(COALESCE(n_last, 0) AS DOUBLE) / n_conv, 6) AS last_share,
      |  ROUND(CAST(COALESCE(n_last, 0) - COALESCE(n_first, 0) AS DOUBLE)
      |    / n_conv, 6) AS share_delta
      |FROM f FULL OUTER JOIN l USING (channel) CROSS JOIN tot
      |ORDER BY channel""".stripMargin

  /** q250: attribution lookback sensitivity — the q152 model re-scored
    * under 1/3/7/14-day lookbacks in ONE pass: the carried last-touch
    * struct is computed once (one window sweep), then a constant ×4
    * lookback explode reclassifies each conversion per window. The
    * "how sensitive is the budget split to the window constant" answer
    * for the price of one extra 4-way fanout AFTER the window — never
    * four event scans.
    */
  def q250LookbackSweep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val isTouch = $"event_type" === "click" || $"event_type" === "view"
    val w = Window.partitionBy($"user_id").orderBy($"ts_ms", $"event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val lookbacks = array(Seq(1L, 3L, 7L, 14L).map(lit): _*)
    events(spark, dir)
      .withColumn("t_touch",
        last(when(isTouch, $"ts_ms"), ignoreNulls = true).over(w))
      .filter($"event_type" === "purchase")
      .select($"ts_ms", $"t_touch", $"value",
        explode(lookbacks).as("lookback_days"))
      .withColumn("attributed", $"t_touch".isNotNull &&
        $"ts_ms" - $"t_touch" <= $"lookback_days" * 86400000L)
      .groupBy($"lookback_days")
      .agg(
        sum(when($"attributed", 1L).otherwise(0L)).as("n_attributed"),
        sum(when(!$"attributed", 1L).otherwise(0L)).as("n_organic"),
        round(sum(when($"attributed", 1L).otherwise(0L)).cast("double") /
          count(lit(1)), 6).as("attributed_share"),
        round(dsum(when($"attributed", $"value").otherwise(0.0)), 2)
          .as("attributed_revenue"))
      .orderBy($"lookback_days")
  }

  val q250Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, value, epoch_ms(ts) AS ts_ms
      |  FROM events),
      |t AS (
      |  SELECT event_type, value, ts_ms,
      |    LAST_VALUE(CASE WHEN event_type IN ('click', 'view') THEN ts_ms END
      |      IGNORE NULLS) OVER (PARTITION BY user_id
      |      ORDER BY ts_ms, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS t_touch
      |  FROM e),
      |x AS (
      |  SELECT l.lookback_days, value,
      |    t_touch IS NOT NULL
      |      AND ts_ms - t_touch <= l.lookback_days * 86400000 AS attributed
      |  FROM t CROSS JOIN (SELECT CAST(UNNEST([1, 3, 7, 14]) AS BIGINT)
      |                     AS lookback_days) l
      |  WHERE event_type = 'purchase')
      |SELECT lookback_days,
      |  CAST(SUM(CASE WHEN attributed THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_attributed,
      |  CAST(SUM(CASE WHEN NOT attributed THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_organic,
      |  ROUND(CAST(SUM(CASE WHEN attributed THEN 1 ELSE 0 END) AS DOUBLE)
      |    / COUNT(*), 6) AS attributed_share,
      |  ROUND(CAST(SUM(CAST(CASE WHEN attributed THEN value ELSE 0.0 END
      |    AS DECIMAL(18,2))) AS DOUBLE), 2) AS attributed_revenue
      |FROM x GROUP BY 1 ORDER BY lookback_days""".stripMargin

  /** q252: weekday×hour activity heatmap — event counts and value share
    * per (epoch-weekday, hour-of-day) cell, the load-shape card behind
    * batch-window placement and autoscaling schedules (and the visual
    * check on [[q231SeasonalDecomposition]]'s weekday indices). One
    * hash aggregation to a ≤168-row frame; integer day/hour arithmetic
    * on epoch millis, exact decimal value sums.
    */
  def q252ActivityHeatmap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    events(spark, dir)
      .groupBy(
        expr("(ts_ms div 86400000) % 7").as("weekday"),
        expr("(ts_ms div 3600000) % 24").as("hour"))
      .agg(count(lit(1)).as("n_events"),
        dsum($"value").as("sum_value"))
      .withColumn("event_share", round($"n_events".cast("double") /
        sum($"n_events").over(Window.partitionBy()), 6))
      .orderBy($"weekday", $"hour")
  }

  val q252Sql: String =
    """WITH c AS (
      |  SELECT (epoch_ms(ts) // 86400000) % 7 AS weekday,
      |    (epoch_ms(ts) // 3600000) % 24 AS hour,
      |    COUNT(*) AS n_events,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |  FROM events GROUP BY 1, 2)
      |SELECT weekday, hour, n_events, sum_value,
      |  ROUND(CAST(n_events AS DOUBLE) / SUM(n_events) OVER (), 6)
      |    AS event_share
      |FROM c ORDER BY weekday, hour""".stripMargin

  /** q266: CUPED variance reduction (Deng et al., WSDM 2013) — the
    * standard pre-experiment-covariate adjustment every large
    * experimentation platform applies before reading an A/B metric.
    * Pre-period (Jan 1-15) per-user event counts predict post-period
    * (Jan 16+) counts; the pooled θ = cov(pre, post)/var(pre) folds
    * from five INTEGER sums (counts → Σx, Σy, Σx², Σxy exact in longs),
    * so θ and every derived moment is the identical IEEE double on both
    * engines. Variants are the deterministic Knuth-hash split of
    * user_id. Reported per variant: raw vs CUPED-adjusted post-period
    * mean, both variances (population form), and the variance-reduction
    * fraction (≈ corr²(pre, post)) — the factor by which the experiment
    * needed fewer users. On the synthetic events the per-user periods
    * are uncorrelated (θ ≈ 0.02), so the card correctly reads ≈0
    * reduction (one variant a hair negative — pooled-θ sampling noise);
    * on real engagement data, where pre-period behavior predicts
    * post-period behavior, the same formula routinely erases 30-50% of
    * the variance. Scale shape: one per-user aggregation of the
    * event scan, then two tiny aggregates (one global row broadcast,
    * one per variant); formulas are projections over those few rows.
    */
  def q266CupedCard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Knuth multiplicative-hash uniform (the suite's deterministic split
    // convention; overflow-free mulmod split, see graft.api.Sampling)
    val x = pmod($"user_id".cast("long"), lit(4294967296L))
    val lo = pmod(x, lit(65536L))
    val hi = ((x - lo) / lit(65536L)).cast("long")
    val u = pmod(pmod(hi * 2654435761L, lit(65536L)) * 65536L +
      lo * 2654435761L, lit(4294967296L)).cast("double") / 4294967296.0
    val perUser = events(spark, dir)
      .select($"user_id", expr("ts div 86400000000000").as("day"))
      .groupBy($"user_id")
      .agg(sum(when($"day" < 19738L, 1L).otherwise(0L)).as("pre"),
        sum(when($"day" >= 19738L, 1L).otherwise(0L)).as("post"))
      .withColumn("variant", when(u < 0.5, "A").otherwise("B"))
      .localCheckpoint() // one event pass feeds both moment aggregates
    val g = perUser.agg(count(lit(1)).as("n"),
      sum($"pre").as("sx"), sum($"post").as("sy"),
      sum($"pre" * $"pre").as("sxx"), sum($"pre" * $"post").as("sxy"))
    val v = perUser.groupBy($"variant").agg(count(lit(1)).as("nv"),
      sum($"pre").as("sxv"), sum($"post").as("syv"),
      sum($"pre" * $"pre").as("sxxv"), sum($"post" * $"post").as("syyv"),
      sum($"pre" * $"post").as("sxyv"))
    val nD = $"n".cast("double")
    val theta = ($"sxy".cast("double") - $"sx".cast("double") *
        $"sy".cast("double") / nD) /
      ($"sxx".cast("double") - $"sx".cast("double") *
        $"sx".cast("double") / nD)
    val meanPreG = $"sx".cast("double") / nD
    val nvD = $"nv".cast("double")
    val meanPost = $"syv".cast("double") / nvD
    val meanPre = $"sxv".cast("double") / nvD
    val varPost = $"syyv".cast("double") / nvD - meanPost * meanPost
    val varPre = $"sxxv".cast("double") / nvD - meanPre * meanPre
    val covV = $"sxyv".cast("double") / nvD - meanPre * meanPost
    v.crossJoin(broadcast(g))
      .withColumn("theta", theta)
      .withColumn("mean_adj", meanPost - $"theta" * (meanPre - meanPreG))
      .withColumn("var_post", varPost)
      .withColumn("var_adj", varPost - lit(2.0) * $"theta" * covV +
        $"theta" * $"theta" * varPre)
      .select($"variant", $"nv".as("n_users"),
        round(meanPost, 6).as("mean_post"),
        round($"mean_adj", 6).as("mean_adj"),
        round($"theta", 6).as("theta"),
        round($"var_post", 6).as("var_post"),
        round($"var_adj", 6).as("var_adj"),
        round(lit(1.0) - $"var_adj" / $"var_post", 6).as("var_reduction"))
      .orderBy($"variant")
  }

  val q266Sql: String =
    """WITH pu AS (
      |  SELECT user_id,
      |    SUM(CASE WHEN epoch_us(ts) // 86400000000 < 19738
      |      THEN 1 ELSE 0 END) AS pre,
      |    SUM(CASE WHEN epoch_us(ts) // 86400000000 >= 19738
      |      THEN 1 ELSE 0 END) AS post,
      |    CASE WHEN (CAST((((((user_id % 4294967296) // 65536)
      |          * 2654435761) % 65536) * 65536
      |        + ((user_id % 4294967296) % 65536) * 2654435761)
      |          % 4294967296 AS DOUBLE) / 4294967296.0) < 0.5
      |      THEN 'A' ELSE 'B' END AS variant
      |  FROM events GROUP BY user_id),
      |g AS (
      |  SELECT COUNT(*) AS n, SUM(pre) AS sx, SUM(post) AS sy,
      |    SUM(pre * pre) AS sxx, SUM(pre * post) AS sxy
      |  FROM pu),
      |v AS (
      |  SELECT variant, COUNT(*) AS nv, SUM(pre) AS sxv,
      |    SUM(post) AS syv, SUM(pre * pre) AS sxxv,
      |    SUM(post * post) AS syyv, SUM(pre * post) AS sxyv
      |  FROM pu GROUP BY 1),
      |j AS (
      |  SELECT v.*,
      |    (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
      |        / CAST(n AS DOUBLE))
      |      / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
      |        / CAST(n AS DOUBLE)) AS theta,
      |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_pre_g,
      |    CAST(syv AS DOUBLE) / CAST(nv AS DOUBLE) AS mean_post,
      |    CAST(sxv AS DOUBLE) / CAST(nv AS DOUBLE) AS mean_pre,
      |    CAST(syyv AS DOUBLE) / CAST(nv AS DOUBLE)
      |      - (CAST(syv AS DOUBLE) / CAST(nv AS DOUBLE))
      |        * (CAST(syv AS DOUBLE) / CAST(nv AS DOUBLE)) AS var_post,
      |    CAST(sxxv AS DOUBLE) / CAST(nv AS DOUBLE)
      |      - (CAST(sxv AS DOUBLE) / CAST(nv AS DOUBLE))
      |        * (CAST(sxv AS DOUBLE) / CAST(nv AS DOUBLE)) AS var_pre,
      |    CAST(sxyv AS DOUBLE) / CAST(nv AS DOUBLE)
      |      - (CAST(sxv AS DOUBLE) / CAST(nv AS DOUBLE))
      |        * (CAST(syv AS DOUBLE) / CAST(nv AS DOUBLE)) AS cov_v
      |  FROM v CROSS JOIN g)
      |SELECT variant, CAST(nv AS BIGINT) AS n_users,
      |  ROUND(mean_post, 6) AS mean_post,
      |  ROUND(mean_post - theta * (mean_pre - mean_pre_g), 6) AS mean_adj,
      |  ROUND(theta, 6) AS theta,
      |  ROUND(var_post, 6) AS var_post,
      |  ROUND(var_post - 2.0 * theta * cov_v + theta * theta * var_pre, 6)
      |    AS var_adj,
      |  ROUND(1.0 - (var_post - 2.0 * theta * cov_v
      |      + theta * theta * var_pre) / var_post, 6) AS var_reduction
      |FROM j ORDER BY variant""".stripMargin

  /** q267: experiment power planner — the BEFORE-the-test card that
    * pairs with q213's two-proportion z readout: for each event type's
    * baseline heavy-usage conversion rate p̂ (share of users with ≥15
    * events of the type — every user touches every type in this data,
    * so raw touch would degenerate to p=1), the required users per
    * variant to detect an absolute lift of {1, 2, 5} points at
    * α=0.05 (two-sided) / 80% power — n = (z_{α/2}+z_β)²·2p̂(1−p̂)/δ² —
    * and the minimum detectable effect the CURRENT population already
    * supports. The z constants (1.96, 0.8416) are literals in both
    * engines, every moment is an exact integer count, and the plan is
    * one per-(type, user) count aggregate + a 3-row constant explode —
    * nothing downstream scales with events.
    */
  def q267PowerPlanner(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perUser = events(spark, dir)
      .groupBy($"event_type", $"user_id").agg(count(lit(1)).as("n"))
    val perType = perUser.groupBy($"event_type")
      .agg(sum(when($"n" >= 15L, 1L).otherwise(0L)).as("n_conv"))
    val total = events(spark, dir)
      .agg(countDistinct($"user_id").as("n_users"))
    val z2 = (lit(1.96) + lit(0.8416)) * (lit(1.96) + lit(0.8416))
    val p = $"n_conv".cast("double") / $"n_users".cast("double")
    perType.crossJoin(broadcast(total))
      .crossJoin(Seq(0.01, 0.02, 0.05).toDF("mde_abs"))
      .withColumn("p_base", round(p, 6))
      .withColumn("n_required",
        ceil(z2 * lit(2.0) * p * (lit(1.0) - p) /
          ($"mde_abs" * $"mde_abs")).cast("long"))
      .withColumn("mde_at_current", round(
        sqrt(z2 * lit(2.0) * p * (lit(1.0) - p) /
          $"n_users".cast("double")), 6))
      .select($"event_type", $"mde_abs", $"p_base", $"n_conv", $"n_users",
        $"n_required", $"mde_at_current")
      .orderBy($"event_type", $"mde_abs")
  }

  val q267Sql: String =
    """WITH pu AS (
      |  SELECT event_type, user_id, COUNT(*) AS n FROM events
      |  GROUP BY 1, 2),
      |c AS (
      |  SELECT event_type,
      |    SUM(CASE WHEN n >= 15 THEN 1 ELSE 0 END) AS n_conv
      |  FROM pu GROUP BY 1),
      |t AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM events),
      |g AS (
      |  SELECT event_type, n_conv, n_users,
      |    CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE) AS p,
      |    (1.96 + 0.8416) * (1.96 + 0.8416) AS z2,
      |    CAST(d.mde_abs AS DOUBLE) AS mde_abs
      |  FROM c CROSS JOIN t
      |  CROSS JOIN (VALUES (0.01), (0.02), (0.05)) d(mde_abs))
      |SELECT event_type, mde_abs, ROUND(p, 6) AS p_base,
      |  CAST(n_conv AS BIGINT) AS n_conv,
      |  CAST(n_users AS BIGINT) AS n_users,
      |  CAST(ceil(z2 * 2.0 * p * (1.0 - p) / (mde_abs * mde_abs))
      |    AS BIGINT) AS n_required,
      |  ROUND(sqrt(z2 * 2.0 * p * (1.0 - p) / CAST(n_users AS DOUBLE)), 6)
      |    AS mde_at_current
      |FROM g ORDER BY event_type, mde_abs""".stripMargin

  /** q270: sequential A/B monitoring with O'Brien–Fleming boundaries —
    * the interim-analysis card that completes the experimentation
    * family (design: q267; readout: q213; adjustment: q266): five
    * equally-spaced weekly looks over the event timeline, cumulative
    * enrollment (a user enters at their first event) and conversion
    * (first purchase) per look, the pooled two-proportion z at each
    * look, and the OBF group-sequential boundary the look must cross
    * to stop early (the published 5-look α=0.05 two-sided constants as
    * shared literals). Under the null — variants are the deterministic
    * Knuth-hash split — no look should cross, and the card reads
    * exactly that. Shape: ONE per-user aggregate (first event day,
    * first purchase day), a 5-row constant explode, and conditional
    * counts per look; the event scan is read once.
    */
  def q270SequentialMonitor(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val x = pmod($"user_id".cast("long"), lit(4294967296L))
    val lo = pmod(x, lit(65536L))
    val hi = ((x - lo) / lit(65536L)).cast("long")
    val u = pmod(pmod(hi * 2654435761L, lit(65536L)) * 65536L +
      lo * 2654435761L, lit(4294967296L)).cast("double") / 4294967296.0
    val perUser = events(spark, dir)
      .select($"user_id", expr("ts div 86400000000000").as("day"),
        $"event_type")
      .groupBy($"user_id")
      .agg(min($"day").as("first_day"),
        min(when($"event_type" === "purchase", $"day")).as("first_purchase"))
      .withColumn("is_a", u < 0.5)
    // five weekly look days + their OBF z-boundaries (Lan-DeMets OBF
    // spending, 5 equally-spaced looks, two-sided alpha = 0.05)
    val looks = Seq((19728L, 4.8769), (19734L, 3.3569), (19740L, 2.6803),
      (19746L, 2.2898), (19752L, 2.0310)).toDF("look_day", "obf_bound")
    val m = perUser.crossJoin(broadcast(looks))
      .groupBy($"look_day", $"obf_bound")
      .agg(
        sum(when($"is_a" && $"first_day" <= $"look_day", 1L)
          .otherwise(0L)).as("na"),
        sum(when(!$"is_a" && $"first_day" <= $"look_day", 1L)
          .otherwise(0L)).as("nb"),
        sum(when($"is_a" && $"first_purchase" <= $"look_day" &&
          $"first_purchase" - $"first_day" <= 1L, 1L)
          .otherwise(0L)).as("xa"),
        sum(when(!$"is_a" && $"first_purchase" <= $"look_day" &&
          $"first_purchase" - $"first_day" <= 1L, 1L)
          .otherwise(0L)).as("xb"))
    val na = $"na".cast("double"); val nb = $"nb".cast("double")
    val xa = $"xa".cast("double"); val xb = $"xb".cast("double")
    val p = (xa + xb) / (na + nb)
    val v = p * (lit(1.0) - p) * (lit(1.0) / na + lit(1.0) / nb)
    val z = when(v > 0.0, (xa / na - xb / nb) / sqrt(v))
    m.select($"look_day", $"na".as("n_a"), $"nb".as("n_b"),
        $"xa".as("conv_a"), $"xb".as("conv_b"),
        round(z, 4).as("z_stat"), $"obf_bound",
        (abs(z) > $"obf_bound").as("crossed"))
      .orderBy($"look_day")
  }

  val q270Sql: String =
    """WITH pu AS (
      |  SELECT user_id,
      |    MIN(epoch_us(ts) // 86400000000) AS first_day,
      |    MIN(CASE WHEN event_type = 'purchase'
      |      THEN epoch_us(ts) // 86400000000 END) AS first_purchase,
      |    (CAST((((((user_id % 4294967296) // 65536)
      |          * 2654435761) % 65536) * 65536
      |        + ((user_id % 4294967296) % 65536) * 2654435761)
      |          % 4294967296 AS DOUBLE) / 4294967296.0) < 0.5 AS is_a
      |  FROM events GROUP BY user_id),
      |lk AS (SELECT * FROM (VALUES (19728, 4.8769), (19734, 3.3569),
      |  (19740, 2.6803), (19746, 2.2898), (19752, 2.0310))
      |  l(look_day, obf_bound)),
      |m AS (
      |  SELECT look_day, obf_bound,
      |    SUM(CASE WHEN is_a AND first_day <= look_day
      |      THEN 1 ELSE 0 END) AS na,
      |    SUM(CASE WHEN NOT is_a AND first_day <= look_day
      |      THEN 1 ELSE 0 END) AS nb,
      |    SUM(CASE WHEN is_a AND first_purchase <= look_day
      |      AND first_purchase - first_day <= 1 THEN 1 ELSE 0 END) AS xa,
      |    SUM(CASE WHEN NOT is_a AND first_purchase <= look_day
      |      AND first_purchase - first_day <= 1 THEN 1 ELSE 0 END) AS xb
      |  FROM pu CROSS JOIN lk GROUP BY 1, 2),
      |z AS (
      |  SELECT *,
      |    CASE WHEN (CAST(xa + xb AS DOUBLE) / (na + nb))
      |        * (1.0 - CAST(xa + xb AS DOUBLE) / (na + nb))
      |        * (1.0 / na + 1.0 / nb) > 0
      |      THEN (CAST(xa AS DOUBLE) / na - CAST(xb AS DOUBLE) / nb)
      |        / sqrt((CAST(xa + xb AS DOUBLE) / (na + nb))
      |          * (1.0 - CAST(xa + xb AS DOUBLE) / (na + nb))
      |          * (1.0 / na + 1.0 / nb))
      |      END AS zv
      |  FROM m)
      |SELECT CAST(look_day AS BIGINT) AS look_day,
      |  CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
      |  CAST(xa AS BIGINT) AS conv_a, CAST(xb AS BIGINT) AS conv_b,
      |  ROUND(zv, 4) AS z_stat,
      |  CAST(obf_bound AS DOUBLE) AS obf_bound,
      |  (abs(zv) > obf_bound) AS crossed
      |FROM z ORDER BY look_day""".stripMargin

  /** q271: difference-in-differences — the quasi-experimental estimator
    * for when assignment isn't randomized (a feature shipped to one
    * group at a known date): per-user daily event counts in the pre
    * (Jan 1-15) and post (Jan 16+) periods, "treated" = the
    * deterministic Knuth-hash half, DiD = (post_t − pre_t) −
    * (post_c − pre_c) over per-user means, with the standard error from
    * the per-user delta variances (Welch-style, exact integer moments)
    * and the parallel-trends diagnostic the estimator lives or dies by:
    * the pre-period week-over-week slope gap between groups (computed
    * from the same single user aggregate — weeks 1 vs 2 of the pre
    * period). On the synthetic data treatment does nothing, so the
    * card correctly reads DiD ≈ 0 with |t| small and near-parallel
    * trends. One event pass → per-user integer counts; everything
    * after is a two-row aggregate.
    */
  def q271DiffInDiff(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val x = pmod($"user_id".cast("long"), lit(4294967296L))
    val lo = pmod(x, lit(65536L))
    val hi = ((x - lo) / lit(65536L)).cast("long")
    val u = pmod(pmod(hi * 2654435761L, lit(65536L)) * 65536L +
      lo * 2654435761L, lit(4294967296L)).cast("double") / 4294967296.0
    val perUser = events(spark, dir)
      .select($"user_id", expr("ts div 86400000000000").as("day"))
      .groupBy($"user_id")
      .agg(
        sum(when($"day" < 19738L, 1L).otherwise(0L)).as("pre"),
        sum(when($"day" >= 19738L, 1L).otherwise(0L)).as("post"),
        sum(when($"day" < 19730L, 1L).otherwise(0L)).as("wk1"),
        sum(when($"day" >= 19730L && $"day" < 19738L, 1L).otherwise(0L))
          .as("wk2"))
      .withColumn("treated", u < 0.5)
      .withColumn("delta", $"post" - $"pre")
    val g = perUser.groupBy($"treated")
      .agg(count(lit(1)).as("n"),
        sum($"pre").as("sp"), sum($"post").as("sq"),
        sum($"delta").as("sd"), sum($"delta" * $"delta").as("sdd"),
        sum($"wk2" - $"wk1").as("strend"))
    val nD = $"n".cast("double")
    val meanD = $"sd".cast("double") / nD
    val varD = ($"sdd".cast("double") - $"sd".cast("double") *
      $"sd".cast("double") / nD) / (nD - 1.0)
    val side = g.select($"treated", $"n",
      round($"sp".cast("double") / nD, 6).as("mean_pre"),
      round($"sq".cast("double") / nD, 6).as("mean_post"),
      meanD.as("mean_delta"), (varD / nD).as("var_mean_delta"),
      round($"strend".cast("double") / nD, 6).as("pre_trend"))
    val t = side.filter($"treated")
      .select($"n".as("n_t"), $"mean_pre".as("pre_t"),
        $"mean_post".as("post_t"), $"mean_delta".as("d_t"),
        $"var_mean_delta".as("v_t"), $"pre_trend".as("tr_t"))
    val c = side.filter(!$"treated")
      .select($"n".as("n_c"), $"mean_pre".as("pre_c"),
        $"mean_post".as("post_c"), $"mean_delta".as("d_c"),
        $"var_mean_delta".as("v_c"), $"pre_trend".as("tr_c"))
    t.crossJoin(c)
      .select($"n_t", $"n_c", $"pre_t", $"post_t", $"pre_c", $"post_c",
        round($"d_t" - $"d_c", 6).as("did"),
        round(($"d_t" - $"d_c") / sqrt($"v_t" + $"v_c"), 4).as("t_stat"),
        round($"tr_t" - $"tr_c", 6).as("pretrend_gap"))
  }

  val q271Sql: String =
    """WITH pu AS (
      |  SELECT user_id,
      |    SUM(CASE WHEN epoch_us(ts) // 86400000000 < 19738
      |      THEN 1 ELSE 0 END) AS pre,
      |    SUM(CASE WHEN epoch_us(ts) // 86400000000 >= 19738
      |      THEN 1 ELSE 0 END) AS post,
      |    SUM(CASE WHEN epoch_us(ts) // 86400000000 < 19730
      |      THEN 1 ELSE 0 END) AS wk1,
      |    SUM(CASE WHEN epoch_us(ts) // 86400000000 >= 19730
      |      AND epoch_us(ts) // 86400000000 < 19738
      |      THEN 1 ELSE 0 END) AS wk2,
      |    (CAST((((((user_id % 4294967296) // 65536)
      |          * 2654435761) % 65536) * 65536
      |        + ((user_id % 4294967296) % 65536) * 2654435761)
      |          % 4294967296 AS DOUBLE) / 4294967296.0) < 0.5 AS treated
      |  FROM events GROUP BY user_id),
      |g AS (
      |  SELECT treated, COUNT(*) AS n,
      |    SUM(pre) AS sp, SUM(post) AS sq,
      |    SUM(post - pre) AS sd,
      |    SUM((post - pre) * (post - pre)) AS sdd,
      |    SUM(wk2 - wk1) AS strend
      |  FROM pu GROUP BY 1),
      |s AS (
      |  SELECT treated, n,
      |    ROUND(CAST(sp AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_pre,
      |    ROUND(CAST(sq AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_post,
      |    CAST(sd AS DOUBLE) / CAST(n AS DOUBLE) AS mean_delta,
      |    ((CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE)
      |        / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0))
      |      / CAST(n AS DOUBLE) AS var_mean_delta,
      |    ROUND(CAST(strend AS DOUBLE) / CAST(n AS DOUBLE), 6) AS pre_trend
      |  FROM g)
      |SELECT t.n AS n_t, c.n AS n_c,
      |  t.mean_pre AS pre_t, t.mean_post AS post_t,
      |  c.mean_pre AS pre_c, c.mean_post AS post_c,
      |  ROUND(t.mean_delta - c.mean_delta, 6) AS did,
      |  ROUND((t.mean_delta - c.mean_delta)
      |    / sqrt(t.var_mean_delta + c.var_mean_delta), 4) AS t_stat,
      |  ROUND(t.pre_trend - c.pre_trend, 6) AS pretrend_gap
      |FROM (SELECT * FROM s WHERE treated) t
      |CROSS JOIN (SELECT * FROM s WHERE NOT treated) c""".stripMargin

  /** q272: regression discontinuity — the third quasi-experimental
    * design (randomized: q213/q270; parallel-trends: q271): a sharp
    * cutoff on a running variable (the customer's integer Knuth-hash
    * value, cutoff at 2³¹) assigns "treatment", and the effect is the
    * jump between the two local linear fits at the cutoff, estimated
    * within a ±10% bandwidth. The running variable and the outcome
    * (customer's total order value in cents) are exact integers, the
    * OLS moments fold as DECIMAL(38,0) (Σxy alone would overflow a
    * long), and the slope/intercept algebra is the same textual formula
    * on both engines — so the two fits and the jump are IEEE-identical.
    * The hash is independent of spend, so the card correctly reads a
    * jump ≈ 0 relative to the spend level. One customer-level aggregate
    * of the orders join, then two bandwidth-filtered moment folds.
    */
  def q272RegressionDiscontinuity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def d38(c: org.apache.spark.sql.Column) =
      c.cast(org.apache.spark.sql.types.DecimalType(38, 0))
    val x0 = pmod($"c_custkey".cast("long"), lit(4294967296L))
    val lo = pmod(x0, lit(65536L))
    val hi = ((x0 - lo) / lit(65536L)).cast("long")
    val r = pmod(pmod(hi * 2654435761L, lit(65536L)) * 65536L +
      lo * 2654435761L, lit(4294967296L))
    val spend = table(spark, dir, "orders")
      .groupBy($"o_custkey")
      .agg(sum(round($"o_totalprice" * 100.0).cast("long")).as("cents"))
    val cust = rawTable(spark, dir, "customer")
      .select($"c_custkey")
      .join(spend, $"c_custkey" === $"o_custkey", "left")
      .select($"c_custkey", coalesce($"cents", lit(0L)).as("y"),
        (r - lit(2147483648L)).as("x")) // centered running variable
      .filter(abs($"x") <= lit(429496729L)) // +-10% bandwidth
      .withColumn("side", $"x" >= 0L)
    val m = cust.groupBy($"side")
      .agg(count(lit(1)).as("n"), sum(d38($"x")).as("sx"),
        sum(d38($"y")).as("sy"), sum(d38($"x") * d38($"y")).as("sxy"),
        sum(d38($"x") * d38($"x")).as("sxx"))
    val nD = $"n".cast("double")
    val sx = $"sx".cast("double"); val sy = $"sy".cast("double")
    val sxy = $"sxy".cast("double"); val sxx = $"sxx".cast("double")
    val beta = (nD * sxy - sx * sy) / (nD * sxx - sx * sx)
    val alpha = (sy - beta * sx) / nD
    val fits = m.select($"side", $"n",
      (alpha / 100.0).as("alpha_usd"), (beta * 1e7).as("slope_e7"))
    val l = fits.filter(!$"side")
      .select($"n".as("n_left"), $"alpha_usd".as("fit_left"),
        $"slope_e7".as("slope_left"))
    val rr = fits.filter($"side")
      .select($"n".as("n_right"), $"alpha_usd".as("fit_right"),
        $"slope_e7".as("slope_right"))
    l.crossJoin(rr)
      .select($"n_left", $"n_right",
        round($"fit_left", 4).as("fit_left"),
        round($"fit_right", 4).as("fit_right"),
        round($"fit_right" - $"fit_left", 4).as("rd_jump"),
        round($"slope_left", 6).as("slope_left_e7"),
        round($"slope_right", 6).as("slope_right_e7"))
  }

  val q272Sql: String =
    """WITH sp AS (
      |  SELECT o_custkey,
      |    CAST(SUM(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM orders GROUP BY 1),
      |cu AS (
      |  SELECT c_custkey, COALESCE(sp.cents, 0) AS y,
      |    (CAST((((((c_custkey % 4294967296) // 65536)
      |        * 2654435761) % 65536) * 65536
      |      + ((c_custkey % 4294967296) % 65536) * 2654435761)
      |        % 4294967296 AS BIGINT)) - 2147483648 AS x
      |  FROM customer LEFT JOIN sp ON c_custkey = o_custkey),
      |b AS (SELECT *, x >= 0 AS side FROM cu WHERE abs(x) <= 429496729),
      |m AS (
      |  SELECT side, COUNT(*) AS n,
      |    SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
      |    SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
      |    SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx
      |  FROM b GROUP BY 1),
      |f AS (
      |  SELECT side, n,
      |    ((CAST(sy AS DOUBLE) - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |        / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
      |        * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)) / 100.0
      |      AS alpha_usd,
      |    ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) * 1e7
      |      AS slope_e7
      |  FROM m)
      |SELECT l.n AS n_left, r.n AS n_right,
      |  ROUND(l.alpha_usd, 4) AS fit_left,
      |  ROUND(r.alpha_usd, 4) AS fit_right,
      |  ROUND(r.alpha_usd - l.alpha_usd, 4) AS rd_jump,
      |  ROUND(l.slope_e7, 6) AS slope_left_e7,
      |  ROUND(r.slope_e7, 6) AS slope_right_e7
      |FROM (SELECT * FROM f WHERE NOT side) l
      |CROSS JOIN (SELECT * FROM f WHERE side) r""".stripMargin

  /** Deterministic Knuth multiplicative-hash uniform in [0,1) — the
    * suite's variant-split convention (identical SQL text ships in each
    * oracle; overflow-free 16-bit-limb mulmod, see graft.api.Sampling).
    */
  private def knuthUniform(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val x = pmod(id.cast("long"), lit(4294967296L))
    val lo = pmod(x, lit(65536L))
    val hi = ((x - lo) / lit(65536L)).cast("long")
    pmod(pmod(hi * 2654435761L, lit(65536L)) * 65536L +
      lo * 2654435761L, lit(4294967296L)).cast("double") / 4294967296.0
  }

  /** The q266/q270/q271 Knuth split as SQL text (DuckDB dialect). */
  private val knuthUniformSql: String =
    """(CAST((((((user_id % 4294967296) // 65536)
      |          * 2654435761) % 65536) * 65536
      |        + ((user_id % 4294967296) % 65536) * 2654435761)
      |          % 4294967296 AS DOUBLE) / 4294967296.0)""".stripMargin

  /** q275: sample-ratio-mismatch audit — the FIRST check every
    * experimentation platform runs before reading any metric: if the
    * realized A/B split of enrolled users deviates from the designed
    * 50/50, the assignment or logging pipeline is broken and every
    * downstream readout (q213/q266/q270) is invalid. Users enroll at
    * their first event; per weekly enrollment cohort the card reports
    * arm counts, the realized A-share, the 1-dof chi-squared
    * goodness-of-fit statistic (na−nb)²/(na+nb), and the standard
    * p<0.001 SRM alarm (χ² > 10.828). Under the deterministic Knuth
    * split no cohort should alarm, and the card reads exactly that.
    * Shape: one per-user min aggregate of the event scan, then a
    * per-week count — nothing downstream scales with events.
    */
  def q275SrmCheck(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    srmFromFirstDays(
      events(spark, dir)
        .select($"user_id", expr("ts div 86400000000000").as("day"))
        .groupBy($"user_id").agg(min($"day").as("first_day")))
  }

  /** The q275 readout over a (user_id, first_day) enrollment frame —
    * shared with the live monitor ([[graft.streaming.StreamOps]]
    * srmReport), so stream == batch is an identity, not a convention.
    */
  def srmFromFirstDays(perUser: DataFrame): DataFrame = {
    val byWeek = perUser
      .withColumn("is_a", knuthUniform(col("user_id")) < 0.5)
      .withColumn("week", expr("first_day div 7"))
      .groupBy(col("week"))
      .agg(sum(when(col("is_a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(!col("is_a"), 1L).otherwise(0L)).as("n_b"))
    val na = col("n_a").cast("double"); val nb = col("n_b").cast("double")
    val chi2 = (na - nb) * (na - nb) / (na + nb)
    byWeek.select(col("week"), col("n_a"), col("n_b"),
      round(na / (na + nb), 6).as("ratio_a"),
      round(chi2, 4).as("chi2"),
      (chi2 > 10.828).as("srm_flag"))
      .orderBy(col("week"))
  }

  val q275Sql: String =
    s"""WITH pu AS (
      |  SELECT user_id, MIN(epoch_us(ts) // 86400000000) AS first_day,
      |    $knuthUniformSql < 0.5 AS is_a
      |  FROM events GROUP BY user_id),
      |w AS (
      |  SELECT first_day // 7 AS week,
      |    SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS n_a,
      |    SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS n_b
      |  FROM pu GROUP BY 1)
      |SELECT week, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
      |  ROUND(CAST(n_a AS DOUBLE) / (n_a + n_b), 6) AS ratio_a,
      |  ROUND(CAST(n_a - n_b AS DOUBLE) * (n_a - n_b) / (n_a + n_b), 4)
      |    AS chi2,
      |  CAST(n_a - n_b AS DOUBLE) * (n_a - n_b) / (n_a + n_b) > 10.828
      |    AS srm_flag
      |FROM w ORDER BY week""".stripMargin

  /** q276: instrumental-variable (Wald / binary-instrument 2SLS) LATE —
    * the encouragement-design estimator for when the TREATMENT can't be
    * randomized but an ENCOURAGEMENT can (Angrist–Imbens–Rubin): the
    * Knuth split plays the randomized instrument Z, uptake is
    * deliberately Z-dependent (encouraged users adopt at ≥60 events,
    * everyone adopts at ≥80 — per-user event counts are scale-invariant
    * in this data, so the compliance fraction is stable across SFs),
    * and the outcome is the user's total event value in exact cents.
    * Reported: per-arm uptake, the first stage (compliance share — must
    * be far from 0 for the estimator to exist; its two-proportion z is
    * the weak-instrument check), the intent-to-treat effect on the
    * outcome, and LATE = ITT / first-stage. Every moment folds from
    * integer sums; the algebra is the same textual formula on both
    * engines. One per-user aggregate, one global fold, one output row.
    */
  def q276IvWald(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perUser = events(spark, dir)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n"),
        sum(round($"value" * 100.0).cast("long")).as("cents"))
      .withColumn("z", (knuthUniform($"user_id") < 0.5).cast("long"))
      .withColumn("d",
        when(($"z" === 1L && $"n" >= 60L) || $"n" >= 80L, 1L).otherwise(0L))
    val m = perUser.agg(
      sum($"z").as("n1"), sum(lit(1L) - $"z").as("n0"),
      sum(when($"z" === 1L, $"d").otherwise(0L)).as("d1"),
      sum(when($"z" === 0L, $"d").otherwise(0L)).as("d0"),
      sum(when($"z" === 1L, $"cents").otherwise(0L)).as("y1"),
      sum(when($"z" === 0L, $"cents").otherwise(0L)).as("y0"))
    val n1 = $"n1".cast("double"); val n0 = $"n0".cast("double")
    val d1 = $"d1".cast("double"); val d0 = $"d0".cast("double")
    val fs = d1 / n1 - d0 / n0
    val itt = ($"y1".cast("double") / n1 - $"y0".cast("double") / n0) / 100.0
    val p = (d1 + d0) / (n1 + n0)
    val v = p * (lit(1.0) - p) * (lit(1.0) / n1 + lit(1.0) / n0)
    m.select($"n1".as("n_enc"), $"n0".as("n_ctl"),
      round(d1 / n1, 6).as("uptake_enc"),
      round(d0 / n0, 6).as("uptake_ctl"),
      round(fs, 6).as("first_stage"),
      round(when(v > 0.0, fs / sqrt(v)), 4).as("fs_z"),
      round(itt, 4).as("itt_usd"),
      round(when(abs(fs) > 1e-12, itt / fs), 4).as("late_usd"))
  }

  val q276Sql: String =
    s"""WITH pu AS (
      |  SELECT user_id, COUNT(*) AS n,
      |    SUM(CAST(round(value * 100.0) AS BIGINT)) AS cents,
      |    CASE WHEN $knuthUniformSql < 0.5 THEN 1 ELSE 0 END AS z
      |  FROM events GROUP BY user_id),
      |pd AS (
      |  SELECT *, CASE WHEN (z = 1 AND n >= 60) OR n >= 80
      |    THEN 1 ELSE 0 END AS d FROM pu),
      |m AS (
      |  SELECT SUM(z) AS n1, SUM(1 - z) AS n0,
      |    SUM(CASE WHEN z = 1 THEN d ELSE 0 END) AS d1,
      |    SUM(CASE WHEN z = 0 THEN d ELSE 0 END) AS d0,
      |    SUM(CASE WHEN z = 1 THEN cents ELSE 0 END) AS y1,
      |    SUM(CASE WHEN z = 0 THEN cents ELSE 0 END) AS y0
      |  FROM pd),
      |f AS (
      |  SELECT CAST(n1 AS BIGINT) AS n_enc, CAST(n0 AS BIGINT) AS n_ctl,
      |    CAST(d1 AS DOUBLE) / n1 AS u1, CAST(d0 AS DOUBLE) / n0 AS u0,
      |    CAST(d1 AS DOUBLE) / n1 - CAST(d0 AS DOUBLE) / n0 AS fs,
      |    (CAST(y1 AS DOUBLE) / n1 - CAST(y0 AS DOUBLE) / n0) / 100.0
      |      AS itt,
      |    (CAST(d1 + d0 AS DOUBLE) / (n1 + n0))
      |      * (1.0 - CAST(d1 + d0 AS DOUBLE) / (n1 + n0))
      |      * (1.0 / n1 + 1.0 / n0) AS v
      |  FROM m)
      |SELECT n_enc, n_ctl, ROUND(u1, 6) AS uptake_enc,
      |  ROUND(u0, 6) AS uptake_ctl, ROUND(fs, 6) AS first_stage,
      |  ROUND(CASE WHEN v > 0 THEN fs / sqrt(v) END, 4) AS fs_z,
      |  ROUND(itt, 4) AS itt_usd,
      |  ROUND(CASE WHEN abs(fs) > 1e-12 THEN itt / fs END, 4) AS late_usd
      |FROM f""".stripMargin

  /** q277: propensity-score stratification — the OBSERVATIONAL
    * counterpart of the randomized readouts: "treatment" is organic
    * (heavy error-emitters, ≥15 error events — q267's heavy-usage
    * convention), the outcome is purchase spend in exact cents, and
    * total activity is the obvious confounder (more events ⇒ more error
    * events AND mechanically more spend). Stratifying into activity
    * quintile strata (boundaries from the scale-safe quantile engine,
    * assignment a pure threshold projection — never a global ntile,
    * whose empty-PARTITION BY sort would funnel every user through one
    * task) and weighting the within-stratum treated−control gaps by
    * stratum size removes the through-activity confounding; the card
    * reports the per-stratum gaps plus the naive and stratified ATEs
    * side by side — the BIAS the adjustment removed is the point of the
    * card. One per-user aggregate (checkpointed: it feeds both the
    * boundary search and the stratum fold), a 5-row fold, window sums
    * over 5 rows.
    */
  def q277PropensityStrat(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pu = events(spark, dir)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n"),
        sum(when($"event_type" === "error", 1L).otherwise(0L)).as("n_err"),
        sum(when($"event_type" === "purchase",
          round($"value" * 100.0).cast("long")).otherwise(0L)).as("cents"))
      .localCheckpoint()
    val cuts = Extended.exactQuantilesMulti(pu, None,
      Seq("n" -> Seq(0.2, 0.4, 0.6, 0.8))).values.head
    val perUser = pu
      .withColumn("treated", $"n_err" >= 15L)
      .withColumn("stratum",
        (lit(1L) + Seq(0.2, 0.4, 0.6, 0.8).map(p =>
          when($"n" > lit(cuts(("n", p))), 1L).otherwise(0L))
          .reduce(_ + _)).cast("long"))
    val s = perUser.groupBy($"stratum")
      .agg(sum(when($"treated", 1L).otherwise(0L)).as("n_t"),
        sum(when(!$"treated", 1L).otherwise(0L)).as("n_c"),
        sum(when($"treated", $"cents").otherwise(0L)).as("y_t"),
        sum(when(!$"treated", $"cents").otherwise(0L)).as("y_c"))
      .filter($"n_t" > 0L && $"n_c" > 0L)
    val mt = $"y_t".cast("double") / $"n_t".cast("double") / 100.0
    val mc = $"y_c".cast("double") / $"n_c".cast("double") / 100.0
    val diff = mt - mc
    val all = Window.partitionBy()
    val w = ($"n_t" + $"n_c").cast("double")
    s.select($"stratum", $"n_t", $"n_c",
      round(mt, 4).as("mean_t_usd"), round(mc, 4).as("mean_c_usd"),
      round(diff, 4).as("gap_usd"),
      round(sum(diff * w).over(all) / sum(w).over(all), 4).as("strat_ate"),
      round(sum($"y_t").over(all).cast("double") /
          sum($"n_t").over(all).cast("double") / 100.0 -
        sum($"y_c").over(all).cast("double") /
          sum($"n_c").over(all).cast("double") / 100.0, 4).as("naive_ate"))
      .orderBy($"stratum")
  }

  val q277Sql: String =
    """WITH pu AS (
      |  SELECT user_id, COUNT(*) AS n,
      |    SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS n_err,
      |    SUM(CASE WHEN event_type = 'purchase'
      |      THEN CAST(round(value * 100.0) AS BIGINT) ELSE 0 END) AS cents
      |  FROM events GROUP BY user_id),
      |th AS (
      |  SELECT quantile_cont(n, [0.2, 0.4, 0.6, 0.8]) AS t FROM pu),
      |ps AS (
      |  SELECT pu.*, n_err >= 15 AS treated,
      |    CAST(1 + (CASE WHEN n > t[1] THEN 1 ELSE 0 END)
      |      + (CASE WHEN n > t[2] THEN 1 ELSE 0 END)
      |      + (CASE WHEN n > t[3] THEN 1 ELSE 0 END)
      |      + (CASE WHEN n > t[4] THEN 1 ELSE 0 END) AS BIGINT) AS stratum
      |  FROM pu CROSS JOIN th),
      |s AS (
      |  SELECT stratum,
      |    SUM(CASE WHEN treated THEN 1 ELSE 0 END) AS n_t,
      |    SUM(CASE WHEN treated THEN 0 ELSE 1 END) AS n_c,
      |    SUM(CASE WHEN treated THEN cents ELSE 0 END) AS y_t,
      |    SUM(CASE WHEN treated THEN 0 ELSE cents END) AS y_c
      |  FROM ps GROUP BY 1
      |  HAVING SUM(CASE WHEN treated THEN 1 ELSE 0 END) > 0
      |    AND SUM(CASE WHEN treated THEN 0 ELSE 1 END) > 0),
      |g AS (
      |  SELECT stratum, n_t, n_c,
      |    CAST(y_t AS DOUBLE) / n_t / 100.0 AS mt,
      |    CAST(y_c AS DOUBLE) / n_c / 100.0 AS mc,
      |    CAST(n_t + n_c AS DOUBLE) AS w, y_t, y_c
      |  FROM s)
      |SELECT stratum, CAST(n_t AS BIGINT) AS n_t, CAST(n_c AS BIGINT) AS n_c,
      |  ROUND(mt, 4) AS mean_t_usd, ROUND(mc, 4) AS mean_c_usd,
      |  ROUND(mt - mc, 4) AS gap_usd,
      |  ROUND(SUM((mt - mc) * w) OVER () / SUM(w) OVER (), 4) AS strat_ate,
      |  ROUND(CAST(SUM(y_t) OVER () AS DOUBLE)
      |      / CAST(SUM(n_t) OVER () AS DOUBLE) / 100.0
      |    - CAST(SUM(y_c) OVER () AS DOUBLE)
      |      / CAST(SUM(n_c) OVER () AS DOUBLE) / 100.0, 4) AS naive_ate
      |FROM g ORDER BY stratum""".stripMargin

  /** q278: quantile treatment effects — the distributional readout a
    * mean-only A/B card hides: an intervention that moves the p90 while
    * leaving the median alone (or vice versa) reads as the same average
    * lift. Per Knuth-split arm, exact type-7 quantiles of per-user
    * total spend at p ∈ {.1,.25,.5,.75,.9} via the suite's scale-safe
    * quantile engine ([[Extended.exactQuantilesMulti]]: sketch-bracket →
    * bounded exact polish, O(1) aggregation state — never a
    * full-multiset percentile or a per-arm sort), and the per-quantile
    * A−B gap. Under the null split every gap reads ≈ 0. One per-user
    * aggregate feeds the quantile engine's few narrow passes.
    */
  def q278QuantileEffects(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ps = Seq(0.1, 0.25, 0.5, 0.75, 0.9)
    val perUser = events(spark, dir)
      .groupBy($"user_id")
      .agg(sum(round($"value" * 100.0).cast("long")).as("cents"))
      .select(when(knuthUniform($"user_id") < 0.5, "A").otherwise("B")
        .as("variant"), ($"cents".cast("double") / 100.0).as("y"))
    val qs = Extended.exactQuantilesMulti(perUser, Some("variant"),
      Seq("y" -> ps))
    ps.map { p =>
      (p, qs("A")(("y", p)), qs("B")(("y", p)))
    }.toDF("quantile", "raw_a", "raw_b")
      .select($"quantile",
        round($"raw_a", 4).as("y_a_usd"),
        round($"raw_b", 4).as("y_b_usd"),
        round($"raw_a" - $"raw_b", 4).as("qte_usd"))
      .orderBy($"quantile")
  }

  val q278Sql: String =
    s"""WITH pu AS (
      |  SELECT user_id,
      |    CAST(SUM(CAST(round(value * 100.0) AS BIGINT)) AS DOUBLE) / 100.0
      |      AS y,
      |    CASE WHEN $knuthUniformSql < 0.5 THEN 'A' ELSE 'B' END AS variant
      |  FROM events GROUP BY user_id),
      |a AS (
      |  SELECT unnest([0.1, 0.25, 0.5, 0.75, 0.9]) AS quantile,
      |    unnest(quantile_cont(y, [0.1, 0.25, 0.5, 0.75, 0.9])) AS ya
      |  FROM pu WHERE variant = 'A'),
      |b AS (
      |  SELECT unnest([0.1, 0.25, 0.5, 0.75, 0.9]) AS quantile,
      |    unnest(quantile_cont(y, [0.1, 0.25, 0.5, 0.75, 0.9])) AS yb
      |  FROM pu WHERE variant = 'B')
      |SELECT CAST(a.quantile AS DOUBLE) AS quantile,
      |  ROUND(ya, 4) AS y_a_usd, ROUND(yb, 4) AS y_b_usd,
      |  ROUND(ya - yb, 4) AS qte_usd
      |FROM a JOIN b USING (quantile) ORDER BY quantile""".stripMargin

  /** q282: snapshot diff / change-data-feed — the lakehouse "what
    * changed between table versions?" readout (Delta CDF, Iceberg
    * changelog) over the CDC state the replicator maintains: the
    * last-writer-wins state per (user, event_type) — the checkpoint
    * granularity of q25 — reconstructed at snapshot time T1 (day 19750)
    * and at T2 (head), every state key classified as inserted (born
    * after T1), updated (state rows differ), or unchanged (no write
    * after T1), with counts and value churn per class. In this data
    * every key predates the cutoff so `inserted` is legitimately
    * absent; it appears the moment a key is born between snapshots.
    * Both snapshots fold out of ONE per-key aggregate pass (conditional
    * max_by on the zero-padded (ts, event_id) total order — the engine
    * never scans events twice, and no row-level snapshot is
    * materialized to diff).
    */
  def q282SnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val key = concat(lpad(expr("ts div 1000").cast("string"), 20, "0"),
      lpad($"event_id".cast("string"), 20, "0"))
    val cutoff = 19750L * 86400000000000L // T1 in epoch nanos
    snapshotDiffCard(events(spark, dir)
      .withColumn("cents", round($"value" * 100.0).cast("long"))
      .groupBy($"user_id", $"event_type")
      .agg(
        max_by($"cents", when($"ts" < cutoff, key)).as("c1"),
        max_by($"cents", key).as("c2"),
        sum(when($"ts" < cutoff, 1L).otherwise(0L)).as("n_pre"),
        sum(when($"ts" >= cutoff, 1L).otherwise(0L)).as("n_post")))
  }

  /** The q282 classification fold over a per-key CDC state frame
    * (c1/c2 snapshot cents, pre/post write counts) — shared with the
    * live monitor ([[graft.streaming.StreamOps]] cdcDiffReport), so
    * stream == batch is an identity, not a convention.
    */
  def snapshotDiffCard(perKey: DataFrame): DataFrame = {
    val cls = perKey.withColumn("change_class",
      when(col("n_pre") === 0L, "inserted")
        .when(col("n_post") === 0L, "unchanged")
        .otherwise("updated"))
    cls.groupBy(col("change_class"))
      .agg(count(lit(1)).as("n_keys"),
        sum(coalesce(col("c2"), lit(0L)) - coalesce(col("c1"), lit(0L)))
          .as("churn_cents"))
      .select(col("change_class"), col("n_keys"),
        round(col("churn_cents").cast("double") / 100.0, 2)
          .as("value_churn_usd"),
        round(col("n_keys").cast("double") /
          sum(col("n_keys")).over(Window.partitionBy()), 6).as("key_share"))
      .orderBy(col("change_class"))
  }

  val q282Sql: String =
    """WITH pu AS (
      |  SELECT user_id, event_type,
      |    MAX_BY(CAST(round(value * 100.0) AS BIGINT),
      |      CASE WHEN epoch_us(ts) < 19750 * 86400000000
      |        THEN printf('%020d', epoch_us(ts)) || printf('%020d', event_id)
      |      END) AS c1,
      |    MAX_BY(CAST(round(value * 100.0) AS BIGINT),
      |      printf('%020d', epoch_us(ts)) || printf('%020d', event_id))
      |      AS c2,
      |    SUM(CASE WHEN epoch_us(ts) < 19750 * 86400000000
      |      THEN 1 ELSE 0 END) AS n_pre,
      |    SUM(CASE WHEN epoch_us(ts) >= 19750 * 86400000000
      |      THEN 1 ELSE 0 END) AS n_post
      |  FROM events GROUP BY 1, 2),
      |c AS (
      |  SELECT *, CASE WHEN n_pre = 0 THEN 'inserted'
      |    WHEN n_post = 0 THEN 'unchanged'
      |    ELSE 'updated' END AS change_class
      |  FROM pu),
      |g AS (
      |  SELECT change_class, COUNT(*) AS n_keys,
      |    SUM(COALESCE(c2, 0) - COALESCE(c1, 0)) AS churn
      |  FROM c GROUP BY 1)
      |SELECT change_class, CAST(n_keys AS BIGINT) AS n_keys,
      |  ROUND(CAST(churn AS DOUBLE) / 100.0, 2) AS value_churn_usd,
      |  ROUND(CAST(n_keys AS DOUBLE) / SUM(n_keys) OVER (), 6)
      |    AS key_share
      |FROM g ORDER BY change_class""".stripMargin

  /** q287: Markov-chain attribution (removal effects, Anderl et al.
    * 2014) — the principled alternative to q248's first/last-touch
    * heuristics: user journeys (events up to the first purchase) become
    * a first-order Markov chain over channel states with START and the
    * absorbing CONV/NULL; a channel's credit is its REMOVAL EFFECT —
    * how much conversion reachability disappears when every transition
    * into that channel is redirected to NULL — normalized into
    * attribution shares. Reachability is the absorbed CONV mass after 8
    * walk steps (absorbing self-loops carry converted mass forward;
    * on journeys this shallow the truncation is exact to ~1e-6). The
    * ONLY data-sized work is one per-user window pass extracting
    * transitions; the walk runs on the collected transition frame —
    * bounded by (channels+3)², the same driver-bounded-frame discipline
    * as the quantile engine's bounds pass, and 5× cheaper than
    * scheduling 16 micro-shuffles of a 40-row frame. Every summand is a
    * non-negative product, so the driver's fixed fold order and the
    * oracle's aggregate order agree far below the 1e-6 display
    * rounding.
    */
  def q287MarkovAttribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val key = concat(lpad(expr("ts div 1000").cast("string"), 20, "0"),
      lpad($"event_id".cast("string"), 20, "0"))
    val ev = events(spark, dir)
      .select($"user_id", $"event_type".as("t"), key.as("k"))
    val fp = ev.filter($"t" === "purchase")
      .groupBy($"user_id").agg(min($"k").as("fpk"))
    val kept = ev.join(fp, Seq("user_id"), "left")
      .filter($"fpk".isNull || $"k" <= $"fpk")
    val w = Window.partitionBy($"user_id").orderBy($"k")
    val seq0 = kept
      .withColumn("nxt", lead($"t", 1).over(w))
      .withColumn("rn", row_number().over(w))
    val mapTo = (c: org.apache.spark.sql.Column) =>
      when(c === "purchase", "CONV").when(c.isNull, "NULL").otherwise(c)
    val steps = seq0.filter($"t" =!= "purchase")
      .select($"t".as("from_s"), mapTo($"nxt").as("to_s"))
    val starts = seq0.filter($"rn" === 1)
      .select(lit("START").as("from_s"), mapTo($"t").as("to_s"))
    val counts = steps.unionByName(starts)
      .groupBy($"from_s", $"to_s").agg(count(lit(1)).as("n"))
    val trans = counts
      .withColumn("p", $"n".cast("double") /
        sum($"n").over(Window.partitionBy($"from_s")))
      .select($"from_s", $"to_s", $"p")
      .collect() // bounded by (channels+3)^2 — the channel vocabulary
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    val (full, effects) = markovRemovalEffects(trans)
    val totalEffect = effects.map { case (_, f, r) => 1.0 - r / f }.sum
    effects
      .toDF("channel", "conv_full_raw", "conv_removed_raw")
      .select($"channel",
        round($"conv_full_raw", 6).as("conv_full"),
        round($"conv_removed_raw", 6).as("conv_removed"),
        round(lit(1.0) - $"conv_removed_raw" / $"conv_full_raw", 6)
          .as("removal_effect"),
        round((lit(1.0) - $"conv_removed_raw" / $"conv_full_raw") /
          lit(totalEffect), 6).as("attribution_share"))
      .orderBy($"channel")
  }

  /** The q287 absorption walk over a collected transition frame
    * (from, to, p): 8 steps from START with absorbing CONV/NULL
    * self-loops, in a fixed (from, to)-sorted fold order. Returns the
    * full-chain conversion probability and, per channel (every
    * non-START from-state, sorted), the conversion probability with
    * that channel removed (transitions into it redirected to NULL).
    * Driver-bounded; unit-tested on crafted chains in AnalyticsSpec.
    */
  def markovRemovalEffects(transIn: Seq[(String, String, Double)])
      : (Double, Seq[(String, Double, Double)]) = {
    val trans = transIn.sortBy(t => (t._1, t._2)) // fixed fold order
    val channels = trans.map(_._1).filter(_ != "START").distinct.sorted
    def convProb(removed: Option[String]): Double = {
      // removal redirects every transition INTO the removed channel to NULL
      val edges = trans.map { case (f, t0, p) =>
        (f, if (removed.contains(t0)) "NULL" else t0, p)
      }
      var v = Map("START" -> 1.0)
      for (_ <- 1 to 8) {
        val next = scala.collection.mutable.LinkedHashMap[String, Double]()
        // absorbing self-loops: converted/lost mass carries forward
        for (s <- Seq("CONV", "NULL"); m <- v.get(s)) next(s) = m
        for ((f, t0, p) <- edges; m <- v.get(f))
          next(t0) = next.getOrElse(t0, 0.0) + m * p
        v = next.toMap
      }
      v.getOrElse("CONV", 0.0)
    }
    val full = convProb(None)
    (full, channels.map(c => (c, full, convProb(Some(c)))))
  }

  val q287Sql: String = {
    val step = (i: Int) => s""",
      |v$i AS (
      |  SELECT v.variant, t.to_s AS state, SUM(v.prob * t.p) AS prob
      |  FROM v${i - 1} v JOIN tv t ON t.variant = v.variant
      |    AND t.from_s = v.state
      |  GROUP BY 1, 2)""".stripMargin
    """WITH ev AS (
      |  SELECT user_id, event_type AS t,
      |    printf('%020d', epoch_us(ts)) || printf('%020d', event_id) AS k
      |  FROM events),
      |fp AS (
      |  SELECT user_id, MIN(k) AS fpk FROM ev
      |  WHERE t = 'purchase' GROUP BY 1),
      |kept AS (
      |  SELECT ev.* FROM ev LEFT JOIN fp USING (user_id)
      |  WHERE fpk IS NULL OR k <= fpk),
      |sq AS (
      |  SELECT user_id, t,
      |    LEAD(t) OVER (PARTITION BY user_id ORDER BY k) AS nxt,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY k) AS rn
      |  FROM kept),
      |counts AS (
      |  SELECT from_s, to_s, COUNT(*) AS n FROM (
      |    SELECT t AS from_s,
      |      CASE WHEN nxt = 'purchase' THEN 'CONV'
      |        WHEN nxt IS NULL THEN 'NULL' ELSE nxt END AS to_s
      |    FROM sq WHERE t <> 'purchase'
      |    UNION ALL
      |    SELECT 'START',
      |      CASE WHEN t = 'purchase' THEN 'CONV' ELSE t END
      |    FROM sq WHERE rn = 1)
      |  GROUP BY 1, 2),
      |trans AS (
      |  SELECT from_s, to_s,
      |    CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY from_s) AS p
      |  FROM counts),
      |variants AS (
      |  SELECT DISTINCT from_s AS variant FROM trans WHERE from_s <> 'START'
      |  UNION ALL SELECT 'none'),
      |tv AS (
      |  SELECT variant, from_s,
      |    CASE WHEN to_s = variant THEN 'NULL' ELSE to_s END AS to_s, p
      |  FROM variants CROSS JOIN trans
      |  UNION ALL
      |  SELECT variant, s, s, 1.0
      |  FROM variants CROSS JOIN (VALUES ('CONV'), ('NULL')) a(s)),
      |v0 AS (SELECT variant, 'START' AS state, 1.0 AS prob FROM variants)"""
      .stripMargin +
      (1 to 8).map(step).mkString + """
      |SELECT c.variant AS channel,
      |  ROUND(b.prob, 6) AS conv_full,
      |  ROUND(c.prob, 6) AS conv_removed,
      |  ROUND(1.0 - c.prob / b.prob, 6) AS removal_effect,
      |  ROUND((1.0 - c.prob / b.prob) / SUM(1.0 - c.prob / b.prob) OVER (), 6)
      |    AS attribution_share
      |FROM (SELECT * FROM v8 WHERE state = 'CONV' AND variant <> 'none') c
      |CROSS JOIN (SELECT prob FROM v8
      |  WHERE state = 'CONV' AND variant = 'none') b
      |ORDER BY channel""".stripMargin
  }

  /** q291: point-in-time training-set assembly — the feature-store
    * correctness pattern under every supervised pipeline: each label
    * event (a purchase, labeled by its value) is joined to features
    * computed STRICTLY BEFORE it — 7-day click/view counts and the last
    * feature-event type — via one value-ranged window whose frame ends
    * at `-1 ms` (the point-in-time cut), never a self-join of events to
    * events. The leakage guard re-derives the newest feature timestamp
    * per example and counts violations of feature_ts < label_ts — the
    * assembled card proves 0, and any refactor that breaks the frame
    * bound shows up as a nonzero row, not a silent model-quality drop.
    * One window pass over the event scan, then a channel-bounded fold.
    */
  def q291TrainingAssembly(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val isFeature = $"event_type" =!= "purchase"
    val key = concat(lpad($"ts_ms".cast("string"), 13, "0"),
      lpad($"event_id".cast("string"), 12, "0"), $"event_type")
    val w = Window.partitionBy($"user_id").orderBy($"ts_ms")
      .rangeBetween(-7L * 24 * 3600 * 1000, -1L)
    val enriched = events(spark, dir)
      .select($"event_type", $"value", $"ts_ms",
        sum(when($"event_type" === "click", 1L).otherwise(0L)).over(w)
          .as("clicks_7d"),
        sum(when($"event_type" === "view", 1L).otherwise(0L)).over(w)
          .as("views_7d"),
        max(when(isFeature, key)).over(w).as("last_key"))
    val examples = enriched.filter($"event_type" === "purchase")
      .select(
        coalesce(substring($"last_key", 26, 100), lit("cold_start"))
          .as("last_feature_type"),
        $"clicks_7d", $"views_7d",
        round($"value" * 100.0).cast("long").as("label_cents"),
        when($"last_key".isNotNull &&
          substring($"last_key", 1, 13).cast("long") >= $"ts_ms", 1L)
          .otherwise(0L).as("leak"))
    examples.groupBy($"last_feature_type")
      .agg(count(lit(1)).as("n_examples"),
        sum($"clicks_7d").as("sum_clicks"),
        sum($"views_7d").as("sum_views"),
        sum($"label_cents").as("sum_cents"),
        sum($"leak").as("leakage_violations"))
      .select($"last_feature_type", $"n_examples",
        round($"sum_clicks".cast("double") / $"n_examples", 4)
          .as("avg_clicks_7d"),
        round($"sum_views".cast("double") / $"n_examples", 4)
          .as("avg_views_7d"),
        round($"sum_cents".cast("double") / $"n_examples" / 100.0, 4)
          .as("avg_label_usd"),
        $"leakage_violations")
      .orderBy($"last_feature_type")
  }

  val q291Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, value, epoch_ms(ts) AS ts_ms
      |  FROM events),
      |k AS (
      |  SELECT *,
      |    lpad(CAST(ts_ms AS VARCHAR), 13, '0')
      |      || lpad(CAST(event_id AS VARCHAR), 12, '0') || event_type AS key
      |  FROM e),
      |t AS (
      |  SELECT event_type, value, ts_ms,
      |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) OVER w
      |      AS clicks_7d,
      |    SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) OVER w
      |      AS views_7d,
      |    MAX(CASE WHEN event_type <> 'purchase' THEN key END) OVER w
      |      AS last_key
      |  FROM k
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms
      |    RANGE BETWEEN 604800000 PRECEDING AND 1 PRECEDING)),
      |ex AS (
      |  SELECT COALESCE(substring(last_key, 26), 'cold_start')
      |      AS last_feature_type,
      |    clicks_7d, views_7d,
      |    CAST(round(value * 100.0) AS BIGINT) AS label_cents,
      |    CASE WHEN last_key IS NOT NULL
      |      AND CAST(substring(last_key, 1, 13) AS BIGINT) >= ts_ms
      |      THEN 1 ELSE 0 END AS leak
      |  FROM t WHERE event_type = 'purchase')
      |SELECT last_feature_type, CAST(COUNT(*) AS BIGINT) AS n_examples,
      |  ROUND(CAST(SUM(clicks_7d) AS DOUBLE) / COUNT(*), 4) AS avg_clicks_7d,
      |  ROUND(CAST(SUM(views_7d) AS DOUBLE) / COUNT(*), 4) AS avg_views_7d,
      |  ROUND(CAST(SUM(label_cents) AS DOUBLE) / COUNT(*) / 100.0, 4)
      |    AS avg_label_usd,
      |  CAST(SUM(leak) AS BIGINT) AS leakage_violations
      |FROM ex GROUP BY 1 ORDER BY 1""".stripMargin

  /** q295: anomaly slice attribution — the drill-down that follows a
    * q211-style volume alarm: WHICH slice caused the spike? The flagged
    * day is the one whose total deviates most from the all-days mean
    * (ties to the earlier day); every (event_type × value-band) slice
    * is then scored by its EXCESS over its own other-days baseline, and
    * excesses are normalized into contribution shares — the "the spike
    * is 40% error events in the high-value band" readout an on-call
    * pages through. All counts are exact integers; baselines are
    * single-division rationals; one grouped pass to the ≤(days ×
    * slices) frame, a window argmax over days, and a slice-bounded
    * fold. Top-10 slices by absolute excess.
    */
  def q295AnomalySlices(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cells = events(spark, dir)
      .select(expr("ts div 86400000000000").as("day"), $"event_type",
        when($"value" >= 50.0, "high").otherwise("low").as("band"))
      .groupBy($"day", $"event_type", $"band")
      .agg(count(lit(1)).as("n"))
      .localCheckpoint() // bounded: days x types x 2 bands
    val days = cells.groupBy($"day").agg(sum($"n").as("day_total"))
    val nDays = days.agg(count(lit(1)).as("n_days"),
      sum($"day_total").as("grand"))
    val flagged = days.crossJoin(broadcast(nDays))
      .withColumn("dev", abs($"day_total".cast("double") -
        ($"grand" - $"day_total").cast("double") / ($"n_days" - 1.0)))
      .orderBy($"dev".desc, $"day").limit(1)
      .select($"day".as("flag_day"), $"day_total", $"n_days")
    val slices = cells.groupBy($"event_type", $"band")
      .agg(sum($"n").as("slice_total")).localCheckpoint()
    val dayCells = cells.join(broadcast(flagged), $"day" === $"flag_day")
    val scored = slices
      .join(dayCells.select($"event_type", $"band", $"n".as("day_n"),
        $"flag_day", $"n_days"), Seq("event_type", "band"), "left")
      .na.fill(0L, Seq("day_n"))
      .withColumn("baseline", ($"slice_total" - $"day_n").cast("double") /
        (max($"n_days").over(Window.partitionBy()) - lit(1.0)))
      .withColumn("excess", $"day_n".cast("double") - $"baseline")
    scored
      .withColumn("share", $"excess" /
        sum(abs($"excess")).over(Window.partitionBy()))
      .select(max($"flag_day").over(Window.partitionBy()).as("flag_day"),
        $"event_type", $"band", $"day_n",
        round($"baseline", 4).as("baseline"),
        round($"excess", 4).as("excess"),
        round($"share", 6).as("contribution_share"))
      .orderBy(abs($"excess").desc, $"event_type", $"band")
      .limit(10)
  }

  val q295Sql: String =
    """WITH cells AS (
      |  SELECT epoch_us(ts) // 86400000000 AS day, event_type,
      |    CASE WHEN value >= 50.0 THEN 'high' ELSE 'low' END AS band,
      |    COUNT(*) AS n
      |  FROM events GROUP BY 1, 2, 3),
      |days AS (SELECT day, SUM(n) AS day_total FROM cells GROUP BY 1),
      |nd AS (SELECT COUNT(*) AS n_days, SUM(day_total) AS grand FROM days),
      |flag AS (
      |  SELECT day AS flag_day, n_days FROM days CROSS JOIN nd
      |  ORDER BY abs(CAST(day_total AS DOUBLE)
      |    - CAST(grand - day_total AS DOUBLE) / (n_days - 1.0)) DESC, day
      |  LIMIT 1),
      |sl AS (
      |  SELECT event_type, band, SUM(n) AS slice_total
      |  FROM cells GROUP BY 1, 2),
      |dc AS (
      |  SELECT c.event_type, c.band, c.n AS day_n, f.flag_day, f.n_days
      |  FROM cells c JOIN flag f ON c.day = f.flag_day),
      |sc AS (
      |  SELECT sl.event_type, sl.band,
      |    COALESCE(dc.day_n, 0) AS day_n,
      |    CAST(sl.slice_total - COALESCE(dc.day_n, 0) AS DOUBLE)
      |      / (MAX(COALESCE(dc.n_days, 0)) OVER () - 1.0) AS baseline,
      |    COALESCE(dc.day_n, 0)
      |      - CAST(sl.slice_total - COALESCE(dc.day_n, 0) AS DOUBLE)
      |        / (MAX(COALESCE(dc.n_days, 0)) OVER () - 1.0) AS excess,
      |    MAX(COALESCE(dc.flag_day, 0)) OVER () AS flag_day
      |  FROM sl LEFT JOIN dc USING (event_type, band))
      |SELECT flag_day, event_type, band, CAST(day_n AS BIGINT) AS day_n,
      |  ROUND(baseline, 4) AS baseline, ROUND(excess, 4) AS excess,
      |  ROUND(excess / SUM(abs(excess)) OVER (), 6) AS contribution_share
      |FROM sc ORDER BY abs(excess) DESC, event_type, band LIMIT 10""".stripMargin

  /** q300: multi-window SLO burn-rate alert — the SRE companion to the
    * replicator's lag card (q119): with an error-share SLO of 25%, the
    * burn rate is consumed-budget per unit time, and the standard
    * Google-SRE alert fires only when a FAST window (1 h) and a SLOW
    * window (6 h) both burn hot — the fast window gives response time,
    * the slow one kills flapping. Per hour: error/total counts, both
    * window burn rates (the 6 h window is a range frame over the
    * hour-grain aggregate — never a re-scan), and the page flag at
    * burn > 1.2×; the card surfaces the top-15 hottest hours. All
    * counts are exact integers; burns are single divisions. One event
    * scan to the ≤|hours| frame.
    */
  def q300SloBurn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val slo = 0.25
    val hourly = events(spark, dir)
      .groupBy(expr("ts div 3600000000000").as("hour"))
      .agg(count(lit(1)).as("n_total"),
        sum(when($"event_type" === "error", 1L).otherwise(0L)).as("n_err"))
    val w6 = Window.orderBy($"hour").rangeBetween(-5L, 0L)
    val burn1 = $"n_err".cast("double") / $"n_total".cast("double") / slo
    val burn6 = sum($"n_err").over(w6).cast("double") /
      sum($"n_total").over(w6).cast("double") / slo
    hourly
      .select($"hour", $"n_total", $"n_err",
        round(burn1, 4).as("burn_1h"),
        round(burn6, 4).as("burn_6h"),
        (burn1 > 1.2 && burn6 > 1.2).as("page"))
      .orderBy($"burn_1h".desc, $"hour")
      .limit(15)
  }

  val q300Sql: String =
    """WITH h AS (
      |  SELECT epoch_us(ts) // 3600000000 AS hour, COUNT(*) AS n_total,
      |    SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS n_err
      |  FROM events GROUP BY 1),
      |b AS (
      |  SELECT hour, n_total, n_err,
      |    CAST(n_err AS DOUBLE) / n_total / 0.25 AS burn1,
      |    (CAST(SUM(n_err) OVER w AS DOUBLE)
      |      / SUM(n_total) OVER w) / 0.25 AS burn6
      |  FROM h
      |  WINDOW w AS (ORDER BY hour RANGE BETWEEN 5 PRECEDING AND CURRENT ROW))
      |SELECT hour, CAST(n_total AS BIGINT) AS n_total,
      |  CAST(n_err AS BIGINT) AS n_err,
      |  ROUND(burn1, 4) AS burn_1h, ROUND(burn6, 4) AS burn_6h,
      |  burn1 > 1.2 AND burn6 > 1.2 AS page
      |FROM b ORDER BY burn1 DESC, hour LIMIT 15""".stripMargin

  /** q302: feed-freshness monitor — the staleness readout a replication
    * consumer pages on: per stream (event type), the last event seen,
    * the stream's own mean inter-arrival gap (exact integer micros over
    * count−1 gaps — max−min over a count, no window walk), and the
    * overdue ratio = silence-at-head / mean-gap. A feed whose silence
    * exceeds 20 mean gaps is flagged stale — scaled to the feed's OWN
    * cadence, so a slow-but-regular stream doesn't false-page and a
    * fast stream pages quickly. One grouped pass; head = max ts over
    * the same aggregate.
    */
  def q302FreshnessMonitor(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perType = events(spark, dir)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        (max(expr("ts div 1000"))).as("last_us"),
        (min(expr("ts div 1000"))).as("first_us"))
    val head = Window.partitionBy()
    val meanGap = ($"last_us" - $"first_us").cast("double") /
      ($"n_events" - lit(1)).cast("double")
    val silence = (max($"last_us").over(head) - $"last_us").cast("double")
    perType.select($"event_type", $"n_events",
        $"last_us", round(meanGap, 4).as("mean_gap_us"),
        round(silence / meanGap, 4).as("overdue_ratio"),
        (silence / meanGap > 20.0).as("stale"))
      .orderBy($"event_type")
  }

  val q302Sql: String =
    """WITH g AS (
      |  SELECT event_type, COUNT(*) AS n_events,
      |    MAX(epoch_us(ts)) AS last_us, MIN(epoch_us(ts)) AS first_us
      |  FROM events GROUP BY 1)
      |SELECT event_type, CAST(n_events AS BIGINT) AS n_events,
      |  CAST(last_us AS BIGINT) AS last_us,
      |  ROUND(CAST(last_us - first_us AS DOUBLE) / (n_events - 1), 4)
      |    AS mean_gap_us,
      |  ROUND(CAST(MAX(last_us) OVER () - last_us AS DOUBLE)
      |    / (CAST(last_us - first_us AS DOUBLE) / (n_events - 1)), 4)
      |    AS overdue_ratio,
      |  CAST(MAX(last_us) OVER () - last_us AS DOUBLE)
      |    / (CAST(last_us - first_us AS DOUBLE) / (n_events - 1)) > 20.0
      |    AS stale
      |FROM g ORDER BY event_type""".stripMargin

  /** q303: payload-conformance audit — the schema-on-read contract
    * check for the replicator's JSON `props` (the op-5 extraction's
    * failure modes, counted instead of crashed): per stream, how many
    * payloads parse as a JSON object, carry the required `k`, cast to
    * BIGINT, and land in the contract range [0, 100) — each gate
    * counted independently AND as a strict funnel, so the card shows
    * WHERE conformance is lost. On this data every gate passes — the
    * zero rows are the regression tripwire for upstream schema drift.
    * One conditional-count pass, |streams| rows.
    */
  def q303JsonConformance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = get_json_object($"props", "$.k")
    val kLong = k.cast("long")
    val parses = $"props".isNotNull && k.isNotNull
    events(spark, dir)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(when(parses, 1L).otherwise(0L)).as("n_has_k"),
        sum(when(parses && kLong.isNotNull, 1L).otherwise(0L))
          .as("n_numeric"),
        sum(when(parses && kLong.isNotNull &&
          kLong >= 0L && kLong < 100L, 1L).otherwise(0L)).as("n_in_range"))
      .select($"event_type", $"n_events", $"n_has_k", $"n_numeric",
        $"n_in_range",
        round($"n_in_range".cast("double") / $"n_events", 6)
          .as("conformance"),
        ($"n_in_range" < $"n_events").as("contract_broken"))
      .orderBy($"event_type")
  }

  val q303Sql: String =
    """WITH e AS (
      |  SELECT event_type,
      |    json_extract_string(props, '$.k') AS k,
      |    TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS kl
      |  FROM events)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(CASE WHEN k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_has_k,
      |  CAST(SUM(CASE WHEN kl IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_numeric,
      |  CAST(SUM(CASE WHEN kl >= 0 AND kl < 100 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_in_range,
      |  ROUND(CAST(SUM(CASE WHEN kl >= 0 AND kl < 100 THEN 1 ELSE 0 END)
      |    AS DOUBLE) / COUNT(*), 6) AS conformance,
      |  SUM(CASE WHEN kl >= 0 AND kl < 100 THEN 1 ELSE 0 END) < COUNT(*)
      |    AS contract_broken
      |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q304: group-sequential SPRT — Wald's sequential probability ratio
    * test as the always-valid alternative to q270's fixed-look OBF
    * boundaries: the cumulative log-likelihood ratio of H1 (front-door
    * rate 0.22) vs H0 (0.18) over users in ENROLLMENT order, walked at
    * day granularity (per-day conversion counts fold the LLR exactly —
    * the walk frame is ≤|days| rows, never a per-user sort), against
    * the α=β=0.05 bounds ±ln(19). Reported per day: cumulative users,
    * the LLR, the running extremes, and the test state
    * (accept_h0/reject_h0/continue). The true rate sits between the
    * hypotheses, so the walk correctly never crosses. LLR increments
    * snap to an integer 1e-9 grid per day before the cumulative sum —
    * engine-identical walks.
    */
  def q304Sprt(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val lnPos = math.log(0.22 / 0.18)
    val lnNeg = math.log(0.78 / 0.82)
    val bound = math.log(19.0) // (1-beta)/alpha at alpha=beta=0.05
    val key = concat(lpad(expr("ts div 1000").cast("string"), 20, "0"),
      lpad($"event_id".cast("string"), 20, "0"))
    val perUser = events(spark, dir)
      .groupBy($"user_id")
      .agg(min(expr("ts div 86400000000000")).as("first_day"),
        min_by($"event_type", key).as("first_type"))
      .withColumn("x", when($"first_type" === "view", 1L).otherwise(0L))
    val daily = perUser.groupBy($"first_day".as("day"))
      .agg(count(lit(1)).as("n"), sum($"x").as("conv"))
      .withColumn("llr_e9",
        round(($"conv".cast("double") * lnPos +
          ($"n" - $"conv").cast("double") * lnNeg) * 1e9).cast("long"))
    val w = Window.orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = daily
      .select($"day", sum($"n").over(w).as("n_cum"),
        sum($"llr_e9").over(w).as("cum_e9"))
    cum
      .select($"day", $"n_cum",
        ($"cum_e9".cast("double") / 1e9).as("llr"),
        (max($"cum_e9").over(w).cast("double") / 1e9).as("llr_max"),
        (min($"cum_e9").over(w).cast("double") / 1e9).as("llr_min"))
      .select($"day", $"n_cum", round($"llr", 4).as("llr"),
        round($"llr_max", 4).as("llr_max"),
        round($"llr_min", 4).as("llr_min"),
        when($"llr_max" > bound, "reject_h0")
          .when($"llr_min" < -bound, "accept_h0")
          .otherwise("continue").as("state"))
      .orderBy($"day")
  }

  val q304Sql: String = {
    val lnPos = math.log(0.22 / 0.18)
    val lnNeg = math.log(0.78 / 0.82)
    val bound = math.log(19.0)
    s"""WITH pu AS (
      |  SELECT user_id, MIN(epoch_us(ts) // 86400000000) AS first_day,
      |    CASE WHEN MIN_BY(event_type,
      |        printf('%020d', epoch_us(ts)) || printf('%020d', event_id))
      |      = 'view' THEN 1 ELSE 0 END AS x
      |  FROM events GROUP BY user_id),
      |d AS (
      |  SELECT first_day AS day, COUNT(*) AS n, SUM(x) AS conv
      |  FROM pu GROUP BY 1),
      |l AS (
      |  SELECT day, n, conv,
      |    CAST(round((conv * $lnPos + (n - conv) * $lnNeg) * 1e9)
      |      AS BIGINT) AS llr_e9
      |  FROM d),
      |c0 AS (
      |  SELECT day,
      |    SUM(n) OVER w AS n_cum,
      |    SUM(llr_e9) OVER w AS cum_e9
      |  FROM l
      |  WINDOW w AS (ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |c AS (
      |  SELECT day, n_cum,
      |    CAST(cum_e9 AS DOUBLE) / 1e9 AS llr,
      |    CAST(MAX(cum_e9) OVER w AS DOUBLE) / 1e9 AS llr_max,
      |    CAST(MIN(cum_e9) OVER w AS DOUBLE) / 1e9 AS llr_min
      |  FROM c0
      |  WINDOW w AS (ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT day, CAST(n_cum AS BIGINT) AS n_cum, ROUND(llr, 4) AS llr,
      |  ROUND(llr_max, 4) AS llr_max, ROUND(llr_min, 4) AS llr_min,
      |  CASE WHEN llr_max > $bound THEN 'reject_h0'
      |    WHEN llr_min < ${-bound} THEN 'accept_h0'
      |    ELSE 'continue' END AS state
      |FROM c ORDER BY day""".stripMargin
  }

  /** q305: Western Electric control chart — the SPC rule set q183's
    * EWMA complements: daily error-count z-scores against the
    * all-days center line (population moments from exact integer
    * counts), with the four classic run rules — R1: |z|>3; R2: two of
    * three consecutive beyond 2σ on the same side; R3: four of five
    * beyond 1σ on the same side; R4: eight consecutive on the same
    * side. Rules 2–4 are windowed counts over the ≤|days| daily frame
    * (never a re-scan); the card reports every day with its z and rule
    * flags — on this stationary stream the honest reading is an
    * occasional R1-free, rule-quiet chart.
    */
  def q305ControlChart(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = events(spark, dir)
      .filter($"event_type" === "error")
      .groupBy(expr("ts div 86400000000000").as("day"))
      .agg(count(lit(1)).as("n"))
    val all = Window.partitionBy()
    val stats = daily
      .withColumn("mu", sum($"n").over(all).cast("double") /
        count(lit(1)).over(all))
      .withColumn("sigma", sqrt(
        sum($"n" * $"n").over(all).cast("double") /
          count(lit(1)).over(all) - $"mu" * $"mu"))
      .withColumn("z", ($"n".cast("double") - $"mu") / $"sigma")
      .withColumn("side", signum($"z"))
    val w3 = Window.orderBy($"day").rowsBetween(-2, 0)
    val w5 = Window.orderBy($"day").rowsBetween(-4, 0)
    val w8 = Window.orderBy($"day").rowsBetween(-7, 0)
    stats
      .withColumn("r1", abs($"z") > 3.0)
      .withColumn("r2",
        sum(when($"z" > 2.0, 1).otherwise(0)).over(w3) >= 2 ||
        sum(when($"z" < -2.0, 1).otherwise(0)).over(w3) >= 2)
      .withColumn("r3",
        sum(when($"z" > 1.0, 1).otherwise(0)).over(w5) >= 4 ||
        sum(when($"z" < -1.0, 1).otherwise(0)).over(w5) >= 4)
      .withColumn("r4",
        sum(when($"side" > 0, 1).otherwise(0)).over(w8) >= 8 ||
        sum(when($"side" < 0, 1).otherwise(0)).over(w8) >= 8)
      .select($"day", $"n", round($"z", 4).as("z"),
        $"r1", $"r2", $"r3", $"r4",
        ($"r1" || $"r2" || $"r3" || $"r4").as("out_of_control"))
      .orderBy($"day")
  }

  val q305Sql: String =
    """WITH d AS (
      |  SELECT epoch_us(ts) // 86400000000 AS day, COUNT(*) AS n
      |  FROM events WHERE event_type = 'error' GROUP BY 1),
      |s AS (
      |  SELECT day, n,
      |    (CAST(n AS DOUBLE) - CAST(SUM(n) OVER () AS DOUBLE)
      |      / COUNT(*) OVER ())
      |    / sqrt(CAST(SUM(n * n) OVER () AS DOUBLE) / COUNT(*) OVER ()
      |      - (CAST(SUM(n) OVER () AS DOUBLE) / COUNT(*) OVER ())
      |        * (CAST(SUM(n) OVER () AS DOUBLE) / COUNT(*) OVER ())) AS z
      |  FROM d),
      |r AS (
      |  SELECT day, n, z,
      |    abs(z) > 3.0 AS r1,
      |    (SUM(CASE WHEN z > 2.0 THEN 1 ELSE 0 END)
      |        OVER (ORDER BY day ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
      |        >= 2
      |      OR SUM(CASE WHEN z < -2.0 THEN 1 ELSE 0 END)
      |        OVER (ORDER BY day ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
      |        >= 2) AS r2,
      |    (SUM(CASE WHEN z > 1.0 THEN 1 ELSE 0 END)
      |        OVER (ORDER BY day ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
      |        >= 4
      |      OR SUM(CASE WHEN z < -1.0 THEN 1 ELSE 0 END)
      |        OVER (ORDER BY day ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
      |        >= 4) AS r3,
      |    (SUM(CASE WHEN sign(z) > 0 THEN 1 ELSE 0 END)
      |        OVER (ORDER BY day ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
      |        >= 8
      |      OR SUM(CASE WHEN sign(z) < 0 THEN 1 ELSE 0 END)
      |        OVER (ORDER BY day ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
      |        >= 8) AS r4
      |  FROM s)
      |SELECT day, CAST(n AS BIGINT) AS n, ROUND(z, 4) AS z,
      |  r1, r2, r3, r4, (r1 OR r2 OR r3 OR r4) AS out_of_control
      |FROM r ORDER BY day""".stripMargin

  /** q306: process-capability card (Cp/Cpk) — the SPC summary that asks
    * not "is the process in control" (q305) but "does it FIT the spec":
    * per event type, the value distribution against the [0, 100] spec
    * band — Cp = spec width / 6σ (potential capability), Cpk =
    * nearest-limit margin / 3σ (realized, penalizing off-center), and
    * the observed out-of-spec share. Moments fold from exact integer
    * cents; a uniform[0,100] stream correctly reads Cp ≈ 0.58
    * (6σ ≈ 173 cents-wide for a 100-wide spec) — "in control but not
    * capable", the distinction the two cards exist to separate. One
    * grouped pass, |types| rows.
    */
  def q306Capability(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val m = events(spark, dir)
      .withColumn("cents", round($"value" * 100.0).cast("long"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"cents").as("s"),
        sum($"cents" * $"cents").as("ss"),
        sum(when($"cents" < 0L || $"cents" > 10000L, 1L).otherwise(0L))
          .as("n_oos"))
    val nD = $"n".cast("double")
    val mu = $"s".cast("double") / nD
    val sigma = sqrt($"ss".cast("double") / nD - mu * mu)
    m.select($"event_type", $"n",
        round(mu / 100.0, 4).as("mean_usd"),
        round(sigma / 100.0, 4).as("sigma_usd"),
        round(lit(10000.0) / (lit(6.0) * sigma), 4).as("cp"),
        round(least(lit(10000.0) - mu, mu) / (lit(3.0) * sigma), 4)
          .as("cpk"),
        round($"n_oos".cast("double") / nD, 6).as("oos_share"))
      .orderBy($"event_type")
  }

  val q306Sql: String =
    """WITH m AS (
      |  SELECT event_type, COUNT(*) AS n,
      |    SUM(CAST(round(value * 100.0) AS BIGINT)) AS s,
      |    SUM(CAST(round(value * 100.0) AS BIGINT)
      |      * CAST(round(value * 100.0) AS BIGINT)) AS ss,
      |    SUM(CASE WHEN round(value * 100.0) < 0
      |      OR round(value * 100.0) > 10000 THEN 1 ELSE 0 END) AS n_oos
      |  FROM events GROUP BY 1),
      |g AS (
      |  SELECT event_type, n, n_oos,
      |    CAST(s AS DOUBLE) / n AS mu,
      |    sqrt(CAST(ss AS DOUBLE) / n
      |      - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)) AS sigma
      |  FROM m)
      |SELECT event_type, CAST(n AS BIGINT) AS n,
      |  ROUND(mu / 100.0, 4) AS mean_usd,
      |  ROUND(sigma / 100.0, 4) AS sigma_usd,
      |  ROUND(10000.0 / (6.0 * sigma), 4) AS cp,
      |  ROUND(LEAST(10000.0 - mu, mu) / (3.0 * sigma), 4) AS cpk,
      |  ROUND(CAST(n_oos AS DOUBLE) / n, 6) AS oos_share
      |FROM g ORDER BY event_type""".stripMargin

  /** q308: cohort LTV curve — q153's retention counts upgraded to the
    * number finance actually discounts: per enrollment cohort (first-
    * event week) and age (weeks since enrollment), the CUMULATIVE
    * purchase revenue per cohort member. Revenue folds as exact cents,
    * cohort sizes as exact counts; the cumulative sum runs over the
    * bounded (cohorts × ages) frame, keyed per cohort — the curve that
    * says whether later cohorts monetize faster, and when a cohort's
    * curve flattens (payback horizon). One event pass + one per-user
    * enrollment aggregate joined back by broadcast.
    */
  def q308LtvCurve(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val enroll = events(spark, dir)
      .groupBy($"user_id")
      .agg(min(expr("ts div 604800000000000")).as("cohort_week"))
      .localCheckpoint() // |users| rows; feeds sizes and the age join
    val sizes = enroll.groupBy($"cohort_week")
      .agg(count(lit(1)).as("cohort_users"))
    val rev = events(spark, dir)
      .filter($"event_type" === "purchase")
      .select($"user_id", expr("ts div 604800000000000").as("week"),
        round($"value" * 100.0).cast("long").as("cents"))
      .join(enroll, Seq("user_id"))
      .groupBy($"cohort_week", ($"week" - $"cohort_week").as("age_week"))
      .agg(sum($"cents").as("cents"))
    val w = Window.partitionBy($"cohort_week").orderBy($"age_week")
      .rowsBetween(Window.unboundedPreceding, 0)
    rev.join(broadcast(sizes), Seq("cohort_week"))
      .select($"cohort_week", $"age_week", $"cohort_users",
        sum($"cents").over(w).as("cum_cents"))
      .select($"cohort_week", $"age_week", $"cohort_users",
        round($"cum_cents".cast("double") / $"cohort_users" / 100.0, 4)
          .as("cum_ltv_usd"))
      .orderBy($"cohort_week", $"age_week")
  }

  val q308Sql: String =
    """WITH en AS (
      |  SELECT user_id, MIN(epoch_us(ts) // 604800000000) AS cohort_week
      |  FROM events GROUP BY 1),
      |sz AS (
      |  SELECT cohort_week, COUNT(*) AS cohort_users FROM en GROUP BY 1),
      |rev AS (
      |  SELECT en.cohort_week,
      |    (epoch_us(ts) // 604800000000) - en.cohort_week AS age_week,
      |    SUM(CAST(round(value * 100.0) AS BIGINT)) AS cents
      |  FROM events JOIN en USING (user_id)
      |  WHERE event_type = 'purchase'
      |  GROUP BY 1, 2),
      |c AS (
      |  SELECT cohort_week, age_week, cohort_users,
      |    SUM(cents) OVER (PARTITION BY cohort_week ORDER BY age_week
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cents
      |  FROM rev JOIN sz USING (cohort_week))
      |SELECT cohort_week, age_week, CAST(cohort_users AS BIGINT)
      |    AS cohort_users,
      |  ROUND(CAST(cum_cents AS DOUBLE) / cohort_users / 100.0, 4)
      |    AS cum_ltv_usd
      |FROM c ORDER BY cohort_week, age_week""".stripMargin

  /** q310: watermark-sizing advisor — the DECISION card q243's
    * lateness histogram leads into: `withWatermark` trades state (a
    * longer allowance holds more open windows) against data loss (a
    * shorter one drops late rows), so per stream the card reports the
    * exact p99 / p99.9 / max of the commit-order lateness distribution
    * (the q243 running-max definition, quantiles through the
    * bounded-state quantile engine — never a percentile aggregate), the
    * drop share a p99-sized allowance would still incur, and the
    * recommended allowance (p99.9 rounded UP to the next minute — the
    * operational grid a config takes). One window pass over the event
    * scan feeds the quantile search and the drop counts.
    */
  def q310WatermarkAdvisor(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"event_type").orderBy($"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val late = events(spark, dir)
      .select($"event_type", $"event_id", $"ts_ms")
      .withColumn("late_ms",
        (max($"ts_ms").over(w) - $"ts_ms").cast("double"))
      .localCheckpoint() // one window pass feeds quantiles AND drop counts
    val qs = Extended.exactQuantilesMulti(late, Some("event_type"),
      Seq("late_ms" -> Seq(0.99, 0.999)))
    val qDf = qs.toSeq.map { case (g, m) =>
      (g.asInstanceOf[String], m(("late_ms", 0.99)), m(("late_ms", 0.999)))
    }.toDF("event_type", "p99_ms", "p999_ms")
    late.join(broadcast(qDf), Seq("event_type"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"), max($"late_ms").as("max_late"),
        max($"p99_ms").as("p99"), max($"p999_ms").as("p999"),
        sum(when($"late_ms" > $"p99_ms", 1L).otherwise(0L))
          .as("n_drop_p99"))
      .select($"event_type", $"n_events",
        round($"p99", 1).as("p99_ms"),
        round($"p999", 1).as("p999_ms"),
        $"max_late".cast("long").as("max_late_ms"),
        round($"n_drop_p99".cast("double") / $"n_events", 6)
          .as("drop_share_at_p99"),
        (ceil($"p999" / 60000.0).cast("long") * 60000L)
          .as("recommended_allowance_ms"))
      .orderBy($"event_type")
  }

  val q310Sql: String =
    """WITH l AS (
      |  SELECT event_type,
      |    CAST(MAX(epoch_ms(ts)) OVER (PARTITION BY event_type
      |        ORDER BY event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      - epoch_ms(ts) AS DOUBLE) AS late_ms
      |  FROM events),
      |q AS (
      |  SELECT event_type, COUNT(*) AS n_events,
      |    quantile_cont(late_ms, 0.99) AS p99,
      |    quantile_cont(late_ms, 0.999) AS p999,
      |    MAX(late_ms) AS max_late
      |  FROM l GROUP BY 1),
      |d AS (
      |  SELECT l.event_type,
      |    SUM(CASE WHEN late_ms > p99 THEN 1 ELSE 0 END) AS n_drop
      |  FROM l JOIN q USING (event_type) GROUP BY 1)
      |SELECT q.event_type, CAST(n_events AS BIGINT) AS n_events,
      |  ROUND(p99, 1) AS p99_ms, ROUND(p999, 1) AS p999_ms,
      |  CAST(max_late AS BIGINT) AS max_late_ms,
      |  ROUND(CAST(n_drop AS DOUBLE) / n_events, 6) AS drop_share_at_p99,
      |  CAST(CEIL(p999 / 60000.0) AS BIGINT) * 60000
      |    AS recommended_allowance_ms
      |FROM q JOIN d ON d.event_type = q.event_type
      |ORDER BY q.event_type""".stripMargin

  /** The q266 Knuth draw keyed by event_id (DuckDB dialect) — the
    * transport lottery of q312.
    */
  private val knuthEventSql: String =
    """(CAST((((((event_id % 4294967296) // 65536)
      |          * 2654435761) % 65536) * 65536
      |        + ((event_id % 4294967296) % 65536) * 2654435761)
      |          % 4294967296 AS DOUBLE) / 4294967296.0)""".stripMargin

  /** First 8 hex digits of an md5 column (named `colName` in the frame)
    * decoded to a long via positional `instr` arithmetic — the q311
    * fingerprint idiom, shared by q312/q313.
    */
  private def hex32(colName: String): Column = (1 to 8).map { i =>
    (expr(s"instr('0123456789abcdef', substring($colName, $i, 1))")
      .cast("long") - 1L) * lit(1L << (4 * (8 - i)))
  }.reduce(_ + _)

  private def hex32Sql(col: String): String = (1 to 8).map { i =>
    s"(instr('0123456789abcdef', substring($col, $i, 1)) - 1) " +
      s"* ${1L << (4 * (8 - i))}"
  }.mkString("(", " + ", ")")

  /** q312: source↔replica reconciliation — the question the reference
    * replicator exists to make answerable ("did every record arrive in
    * the target region, exactly once, unmutated?") as a per-(stream, day)
    * ledger. The replica is the source put through a DETERMINISTIC faulty
    * transport (Knuth draw on event_id: 0.4% lost, 0.2% delivered twice,
    * 0.2% delivered with a mutated payload), and the card reconciles the
    * two sides from OBSERVABLES only: record counts plus an
    * order-independent content checksum (per-row canonical string → md5 →
    * hex32 → DECIMAL(38,0) sum, the q311 fingerprint fold — multiplicity
    * rides as an integer factor, so the replica side never materializes
    * its duplicate rows). delta ≠ 0 ⇒ under/over-delivery; delta = 0 with
    * a checksum mismatch ⇒ silent corruption (or a loss+duplicate wash) —
    * the case count-only monitoring can NEVER see. Ground-truth fault
    * counts ride along so the verdict column is auditable. One events
    * scan, one hash aggregate of |streams × days| rows; both checksums
    * fold commutatively, so the same card runs unchanged as a streaming
    * merge at 100 TB.
    */
  def q312Reconciliation(spark: SparkSession, dir: String): DataFrame =
    reconcileVerdict(reconcilePartials(events(spark, dir)))

  /** Per-(stream, day) reconciliation PARTIALS from raw event rows
    * (event_id, ts nanos, user_id, event_type, value): both ledger
    * sides of the deterministic faulty transport as 7 SUM-mergeable
    * columns — what makes the q312 card a live streaming monitor (each
    * micro-batch appends its partials; the report is a re-sum).
    */
  def reconcilePartials(evts: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    def h(cents: Column): Column =
      md5(concat_ws("|", col("event_id"), expr("ts div 1000"),
        col("user_id"), col("event_type"), cents))
    evts
      .withColumn("u", knuthUniform(col("event_id")))
      .withColumn("cents", round(col("value") * 100.0).cast("long"))
      .withColumn("m", when(col("u") < 0.004, 0L)
        .when(col("u") < 0.006, 2L).otherwise(1L))
      .withColumn("cents_d",
        when(col("u") >= 0.006 && col("u") < 0.008, col("cents") + 100L)
          .otherwise(col("cents")))
      .withColumn("h_src", h(col("cents")))
      .withColumn("h_dst", h(col("cents_d")))
      .groupBy(col("event_type"), expr("ts div 86400000000000").as("day"))
      .agg(count(lit(1)).as("n_src"), sum(col("m")).as("n_dst"),
        sum(hex32("h_src").cast(dec)).as("s_src"),
        sum(col("m").cast(dec) * hex32("h_dst").cast(dec)).as("s_dst"),
        sum(when(col("u") < 0.004, 1L).otherwise(0L)).as("n_lost"),
        sum(when(col("u") >= 0.004 && col("u") < 0.006, 1L).otherwise(0L))
          .as("n_dup"),
        sum(when(col("u") >= 0.006 && col("u") < 0.008, 1L).otherwise(0L))
          .as("n_corrupt"))
  }

  /** Verdict columns over a (merged) [[reconcilePartials]] frame —
    * shared by the batch q312 card and the streaming report, so
    * stream == batch is the sum-merge identity.
    */
  def reconcileVerdict(led: DataFrame): DataFrame =
    led.select(col("event_type"), col("day"), col("n_src"), col("n_dst"),
        (col("n_dst") - col("n_src")).as("delta"),
        (col("n_src") === col("n_dst") && col("s_src") === col("s_dst"))
          .as("checksum_match"),
        when(col("n_dst") < col("n_src"), "under_delivered")
          .when(col("n_dst") > col("n_src"), "over_delivered")
          .when(col("s_src") =!= col("s_dst"), "content_mismatch")
          .otherwise("ok").as("status"),
        col("n_lost"), col("n_dup"), col("n_corrupt"))
      .orderBy(col("event_type"), col("day"))

  val q312Sql: String = {
    val sig = (cents: String) => hex32Sql(
      "md5(CAST(event_id AS VARCHAR) || '|' " +
        "|| CAST(epoch_us(ts) AS VARCHAR) || '|' " +
        "|| CAST(user_id AS VARCHAR) || '|' || event_type || '|' " +
        s"|| CAST($cents AS VARCHAR))")
    s"""WITH b AS (
       |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
       |    $knuthEventSql AS u,
       |    CAST(round(value * 100.0) AS BIGINT) AS cents,
       |    event_id, ts, user_id
       |  FROM events),
       |c AS (
       |  SELECT event_type, day, u,
       |    CASE WHEN u < 0.004 THEN 0 WHEN u < 0.006 THEN 2 ELSE 1 END
       |      AS m,
       |    ${sig("cents")} AS sig_src,
       |    ${sig("CASE WHEN u >= 0.006 AND u < 0.008 " +
           "THEN cents + 100 ELSE cents END")} AS sig_dst
       |  FROM b),
       |l AS (
       |  SELECT event_type, day, COUNT(*) AS n_src,
       |    SUM(m) AS n_dst,
       |    SUM(CAST(sig_src AS HUGEINT)) AS s_src,
       |    SUM(m * CAST(sig_dst AS HUGEINT)) AS s_dst,
       |    SUM(CASE WHEN u < 0.004 THEN 1 ELSE 0 END) AS n_lost,
       |    SUM(CASE WHEN u >= 0.004 AND u < 0.006 THEN 1 ELSE 0 END)
       |      AS n_dup,
       |    SUM(CASE WHEN u >= 0.006 AND u < 0.008 THEN 1 ELSE 0 END)
       |      AS n_corrupt
       |  FROM c GROUP BY 1, 2)
       |SELECT event_type, day, CAST(n_src AS BIGINT) AS n_src,
       |  CAST(n_dst AS BIGINT) AS n_dst,
       |  CAST(n_dst - n_src AS BIGINT) AS delta,
       |  (n_src = n_dst AND s_src = s_dst) AS checksum_match,
       |  CASE WHEN n_dst < n_src THEN 'under_delivered'
       |    WHEN n_dst > n_src THEN 'over_delivered'
       |    WHEN s_src <> s_dst THEN 'content_mismatch'
       |    ELSE 'ok' END AS status,
       |  CAST(n_lost AS BIGINT) AS n_lost,
       |  CAST(n_dup AS BIGINT) AS n_dup,
       |  CAST(n_corrupt AS BIGINT) AS n_corrupt
       |FROM l ORDER BY event_type, day""".stripMargin
  }

  /** q313: shard-split advisor — the resharding decision a Kinesis-style
    * operator faces when a stream runs hot: given per-partition-key load
    * (records per user_id), plan a split of the key-hash space into 4
    * child shards with EQUAL LOAD rather than equal hash width. Keys map
    * to a 32-bit hash position (md5 → hex32 — stable across engines and
    * runs, the property a reshard plan must have); the exclusive
    * cumulative load share along the hash axis assigns each key its child
    * shard (an integer-arithmetic floor, no float boundary ambiguity);
    * the card reports each child's hash range, key count, load, and
    * load share × 4 ("spread", 1.0 = perfectly balanced) — on a skewed
    * stream the even-WIDTH split this replaces would read spread ≫ 1 on
    * its hot shard. Shape: one per-(stream, key) count, one window
    * cumsum over it, one 4-row-per-stream rollup; the per-key frame is
    * the only shuffle and is exactly the aggregation a throughput
    * monitor already maintains.
    */
  def q313ShardSplitAdvisor(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perKey = events(spark, dir)
      .groupBy($"event_type", $"user_id")
      .agg(count(lit(1)).as("load"))
      .withColumn("h", md5($"user_id".cast("string")))
      .withColumn("hkey", hex32("h"))
    val w = Window.partitionBy($"event_type").orderBy($"hkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy($"event_type")
    val assigned = perKey
      .withColumn("cum", sum($"load").over(w))
      .withColumn("total", sum($"load").over(tot))
      .withColumn("shard",
        least(expr("(cum - load) * 4 div total"), lit(3L)))
    assigned.groupBy($"event_type", $"shard")
      .agg(min($"hkey").as("hash_lo"), max($"hkey").as("hash_hi"),
        count(lit(1)).as("n_keys"), sum($"load").as("n_records"),
        max($"total").as("total"))
      .select($"event_type", $"shard", $"hash_lo", $"hash_hi", $"n_keys",
        $"n_records",
        round($"n_records".cast("double") * 4.0 / $"total", 4)
          .as("spread"))
      .orderBy($"event_type", $"shard")
  }

  val q313Sql: String =
    s"""WITH k AS (
       |  SELECT event_type, user_id, COUNT(*) AS load,
       |    ${hex32Sql("md5(CAST(user_id AS VARCHAR))")} AS hkey
       |  FROM events GROUP BY 1, 2),
       |a AS (
       |  SELECT event_type, hkey, load,
       |    SUM(load) OVER (PARTITION BY event_type ORDER BY hkey
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    SUM(load) OVER (PARTITION BY event_type) AS total
       |  FROM k),
       |s AS (
       |  SELECT event_type,
       |    LEAST(((cum - load) * 4) // total, 3) AS shard,
       |    hkey, load, total
       |  FROM a)
       |SELECT event_type, CAST(shard AS BIGINT) AS shard,
       |  CAST(MIN(hkey) AS BIGINT) AS hash_lo,
       |  CAST(MAX(hkey) AS BIGINT) AS hash_hi,
       |  CAST(COUNT(*) AS BIGINT) AS n_keys,
       |  CAST(SUM(load) AS BIGINT) AS n_records,
       |  ROUND(CAST(SUM(load) AS DOUBLE) * 4.0 / MAX(total), 4) AS spread
       |FROM s GROUP BY 1, 2 ORDER BY event_type, shard""".stripMargin

  /** q314: one-way ANOVA — does mean `value` differ across event types?
    * The k-sample extension of [[q170WelchTtest]]'s two: F = between-group
    * mean square / within-group mean square, η² = SSB/SST. Values fold as
    * exact integer cents (n, Σ, Σ² per group — one grouped pass, k rows),
    * the grand moments roll up from the group frame, and every division
    * happens once in the final closed form — bit-identical across engines
    * and partitionings. On this uniform-by-design stream the honest
    * readout is F ≈ 1, η² ≈ 0: the card exists to say "no effect" with a
    * number. Scale shape: one map-side-combined aggregate of the event
    * scan; everything after is a k-row fold.
    */
  def q314Anova(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val g = events(spark, dir)
      .withColumn("vc", round($"value" * 100.0).cast("long"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"vc").as("s"),
        sum($"vc" * $"vc").as("ss"))
    val m = g.agg(count(lit(1)).as("k"), sum($"n").as("nt"),
      sum($"s").as("st"), sum($"ss").as("sst"),
      // Σ over groups of (Σvc)²/n — the between-groups raw term. Each
      // group's division is one double op on exact integers, snapped to
      // the 1e-6 grid and summed as DECIMAL so the k-term fold is
      // order-insensitive (the suite's float-fold convention).
      sum(round($"s".cast("double") * $"s".cast("double") / $"n", 6)
        .cast(org.apache.spark.sql.types.DecimalType(38, 6)))
        .cast("double").as("sb"))
    val ssb = ($"sb" - $"st".cast("double") * $"st".cast("double") / $"nt")
    val ssw = ($"sst".cast("double") - $"sb")
    val sstot = ($"sst".cast("double") -
      $"st".cast("double") * $"st".cast("double") / $"nt")
    m.select($"k".as("k_groups"), $"nt".as("n_total"),
        round(ssb / 10000.0, 4).as("ss_between"),
        round(ssw / 10000.0, 4).as("ss_within"),
        round((ssb / ($"k" - 1).cast("double")) /
          (ssw / ($"nt" - $"k").cast("double")), 6).as("f_stat"),
        round(ssb / sstot, 6).as("eta_sq"))
  }

  val q314Sql: String =
    """WITH g AS (
      |  SELECT event_type, COUNT(*) AS n,
      |    SUM(CAST(round(value * 100.0) AS BIGINT)) AS s,
      |    SUM(CAST(round(value * 100.0) AS BIGINT)
      |      * CAST(round(value * 100.0) AS BIGINT)) AS ss
      |  FROM events GROUP BY 1),
      |m AS (
      |  SELECT COUNT(*) AS k, SUM(n) AS nt, SUM(s) AS st, SUM(ss) AS sst,
      |    CAST(SUM(CAST(ROUND(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n, 6)
      |      AS DECIMAL(38, 6))) AS DOUBLE) AS sb
      |  FROM g)
      |SELECT CAST(k AS BIGINT) AS k_groups, CAST(nt AS BIGINT) AS n_total,
      |  ROUND((sb - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / nt)
      |    / 10000.0, 4) AS ss_between,
      |  ROUND((CAST(sst AS DOUBLE) - sb) / 10000.0, 4) AS ss_within,
      |  ROUND(((sb - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / nt)
      |      / CAST(k - 1 AS DOUBLE))
      |    / ((CAST(sst AS DOUBLE) - sb) / CAST(nt - k AS DOUBLE)), 6)
      |    AS f_stat,
      |  ROUND((sb - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / nt)
      |    / (CAST(sst AS DOUBLE)
      |      - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / nt), 6) AS eta_sq
      |FROM m""".stripMargin

  /** q315: Kruskal–Wallis H — [[q314Anova]] without the normality
    * assumption and [[q181MannWhitney]] beyond two samples: do the k
    * event-type `value` distributions share a location? The corpus
    * collapses to per-(value) total counts for the GLOBAL rank walk
    * (|distinct values| rows, the q163/q181 recipe) and per-(type, value)
    * counts for the per-group rank sums; ties ride as doubled-integer
    * average ranks and the tie correction Σ(t³−t)/(N³−N) accumulates in
    * decimal — H and its tie-corrected form are closed-form doubles over
    * exact integers. Per-type rows report n and mean rank; the H columns
    * repeat on each row (q182's layout). Shape: two hash aggregates, a
    * window over the distinct-value frame, one value-keyed join back.
    */
  def q315KruskalWallis(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    def dec(c: Column) = c.cast(DecimalType(28, 0))
    val byTypeVal = events(spark, dir)
      .groupBy($"event_type", $"value").agg(count(lit(1)).as("c"))
      .localCheckpoint() // feeds the global rank frame AND the join back
    val byVal = byTypeVal.groupBy($"value").agg(sum($"c").as("ct"))
    val w = Window.orderBy($"value")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = byVal
      .withColumn("r2", lit(2L) * (sum($"ct").over(w) - $"ct") + $"ct" + 1L)
    val perType = byTypeVal.join(ranked, "value")
      .groupBy($"event_type")
      .agg(sum($"c").as("n"), sum(dec($"c") * dec($"r2")).as("rs2"))
    val ties = ranked.agg(sum($"ct").as("nt"),
      sum(dec($"ct") * dec($"ct") * dec($"ct") - dec($"ct")).as("tie3"))
    val joined = perType.crossJoin(broadcast(ties))
    val nD = $"n".cast("double"); val ntD = $"nt".cast("double")
    // H = 12/(N(N+1)) Σ R_i²/n_i − 3(N+1), with R_i = rs2/2; the k-term
    // float fold rides the 1e-6 decimal grid (order-insensitive).
    val hRaw = lit(12.0) / (ntD * (ntD + 1.0)) *
      sum(round($"rs2".cast("double") * $"rs2".cast("double") / 4.0 / nD, 6)
        .cast(DecimalType(38, 6)))
        .over(Window.partitionBy()).cast("double") - lit(3.0) * (ntD + 1.0)
    val corr = lit(1.0) -
      $"tie3".cast("double") / (ntD * ntD * ntD - ntD)
    joined
      .withColumn("h_stat", round(hRaw, 6))
      .withColumn("h_tie_corrected", round(hRaw / corr, 6))
      .select($"event_type", $"n",
        round($"rs2".cast("double") / 2.0 / nD, 4).as("mean_rank"),
        $"h_stat", $"h_tie_corrected")
      .orderBy($"event_type")
  }

  val q315Sql: String =
    """WITH tv AS (
      |  SELECT event_type, value, COUNT(*) AS c
      |  FROM events GROUP BY 1, 2),
      |v AS (
      |  SELECT value, SUM(c) AS ct FROM tv GROUP BY 1),
      |ranked AS (
      |  SELECT value, ct,
      |    2 * (SUM(ct) OVER (ORDER BY value
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - ct)
      |      + ct + 1 AS r2
      |  FROM v),
      |pt AS (
      |  SELECT event_type, SUM(c) AS n,
      |    SUM(CAST(c AS HUGEINT) * r2) AS rs2
      |  FROM tv JOIN ranked USING (value) GROUP BY 1),
      |t AS (
      |  SELECT SUM(ct) AS nt,
      |    SUM(CAST(ct AS HUGEINT) * ct * ct - ct) AS tie3
      |  FROM ranked),
      |h AS (
      |  SELECT event_type, n, rs2, nt, tie3,
      |    12.0 / (CAST(nt AS DOUBLE) * (nt + 1))
      |      * CAST(SUM(CAST(ROUND(CAST(rs2 AS DOUBLE) * CAST(rs2 AS DOUBLE)
      |          / 4.0 / n, 6) AS DECIMAL(38, 6))) OVER () AS DOUBLE)
      |      - 3.0 * (CAST(nt AS DOUBLE) + 1.0) AS h_raw
      |  FROM pt CROSS JOIN t)
      |SELECT event_type, CAST(n AS BIGINT) AS n,
      |  ROUND(CAST(rs2 AS DOUBLE) / 2.0 / n, 4) AS mean_rank,
      |  ROUND(h_raw, 6) AS h_stat,
      |  ROUND(h_raw / (1.0 - CAST(tie3 AS DOUBLE)
      |    / (CAST(nt AS DOUBLE) * nt * nt - nt)), 6) AS h_tie_corrected
      |FROM h ORDER BY event_type""".stripMargin

  /** q321: per-partition-key ordering audit — the Kinesis contract the
    * reference replicator SILENTLY relies on (order is guaranteed per
    * partitionKey, not per stream): within each (stream, user) the
    * sequence order (event_id) should be time-monotone, and this card
    * counts where it is not. Per stream: keys, adjacent-pair inversions
    * (ts < previous ts in sequence order), the share of keys affected,
    * the inversion rate over adjacent pairs, and the worst backward jump
    * in ms — the number that says whether a consumer may reorder within
    * a key window or must tolerate regressions. One (type, user)-keyed
    * lag window over the event scan, then two grouped folds; all
    * integer counting. Complements q243 (stream-level commit-order
    * lateness) at the granularity the ordering guarantee actually holds.
    */
  def q321OrderingAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"event_type", $"user_id")
      .orderBy($"event_id")
    val perKey = events(spark, dir)
      .select($"event_type", $"user_id", $"event_id", $"ts_ms")
      .withColumn("prev", lag($"ts_ms", 1).over(w))
      .groupBy($"event_type", $"user_id")
      .agg(count(lit(1)).as("n"),
        sum(when($"prev" > $"ts_ms", 1L).otherwise(0L)).as("invs"),
        max(when($"prev" > $"ts_ms", $"prev" - $"ts_ms").otherwise(0L))
          .as("max_back"))
    perKey.groupBy($"event_type")
      .agg(count(lit(1)).as("n_keys"), sum($"n").as("n_events"),
        sum(when($"invs" > 0L, 1L).otherwise(0L)).as("keys_with_inversions"),
        sum($"invs").as("n_inversions"),
        max($"max_back").as("max_backward_ms"))
      .select($"event_type", $"n_keys", $"n_events",
        $"keys_with_inversions", $"n_inversions",
        round($"n_inversions".cast("double") /
          ($"n_events" - $"n_keys"), 6).as("inversion_rate"),
        round($"keys_with_inversions".cast("double") / $"n_keys", 6)
          .as("key_violation_share"),
        $"max_backward_ms")
      .orderBy($"event_type")
  }

  val q321Sql: String =
    """WITH l AS (
      |  SELECT event_type, user_id,
      |    LAG(epoch_ms(ts)) OVER (PARTITION BY event_type, user_id
      |      ORDER BY event_id) AS prev,
      |    epoch_ms(ts) AS ts_ms
      |  FROM events),
      |k AS (
      |  SELECT event_type, user_id, COUNT(*) AS n,
      |    SUM(CASE WHEN prev > ts_ms THEN 1 ELSE 0 END) AS invs,
      |    MAX(CASE WHEN prev > ts_ms THEN prev - ts_ms ELSE 0 END)
      |      AS max_back
      |  FROM l GROUP BY 1, 2)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_keys,
      |  CAST(SUM(n) AS BIGINT) AS n_events,
      |  CAST(SUM(CASE WHEN invs > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS keys_with_inversions,
      |  CAST(SUM(invs) AS BIGINT) AS n_inversions,
      |  ROUND(CAST(SUM(invs) AS DOUBLE) / (SUM(n) - COUNT(*)), 6)
      |    AS inversion_rate,
      |  ROUND(CAST(SUM(CASE WHEN invs > 0 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / COUNT(*), 6) AS key_violation_share,
      |  CAST(MAX(max_back) AS BIGINT) AS max_backward_ms
      |FROM k GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q322: growth accounting — the daily active-user ledger every
    * product/ops review reads: each (user, day) active cell is NEW
    * (first day ever), RETAINED (also active yesterday) or RESURRECTED
    * (active before, but not yesterday); a user active on day d who is
    * not active on d+1 CHURNS into d+1 (only while d+1 is inside the
    * observed calendar — the right-edge day never accuses anyone).
    * Per day: actives, the three inflow classes, churn, and the quick
    * ratio (new+resurrected)/churned — the single number that says
    * whether growth outruns decay. ONE events scan: the distinct
    * (user, day) pass and user-keyed window (prev/next active day +
    * first day) fold straight into a single calendar-bounded per-day
    * frame (churn-out rides along as a column), which is
    * localCheckpoint'd so the max-day broadcast, the churn-shift and
    * the final outer join all reuse it instead of re-scanning events;
    * all integer counting, identical at any partitioning.
    */
  def q322GrowthAccounting(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val a = events(spark, dir)
      .select($"user_id", expr("ts div 86400000000000").as("day"))
      .distinct()
    val w = Window.partitionBy($"user_id").orderBy($"day")
    val wAll = Window.partitionBy($"user_id")
    val perDay = a
      .withColumn("prev", lag($"day", 1).over(w))
      .withColumn("nxt", lead($"day", 1).over(w))
      .withColumn("fd", min($"day").over(wAll))
      .groupBy($"day")
      .agg(count(lit(1)).as("n_active"),
        sum(when($"day" === $"fd", 1L).otherwise(0L)).as("n_new"),
        sum(when($"prev" === $"day" - 1, 1L).otherwise(0L)).as("n_retained"),
        sum(when($"day" =!= $"fd" && $"prev" < $"day" - 1, 1L).otherwise(0L))
          .as("n_resurrected"),
        sum(when($"nxt".isNull || $"nxt" > $"day" + 1, 1L).otherwise(0L))
          .as("churn_out"))
      .localCheckpoint() // calendar-bounded; every reuse below is free
    val mx = perDay.agg(max($"day").as("maxday"))
    val ch = perDay.crossJoin(broadcast(mx))
      .filter($"churn_out" > 0L && $"day" + 1 <= $"maxday")
      .select(($"day" + 1).as("day"), $"churn_out".as("n_churned"))
    perDay
      .select($"day", $"n_active", $"n_new", $"n_retained", $"n_resurrected")
      .join(ch, Seq("day"), "full_outer")
      .select($"day",
        coalesce($"n_active", lit(0L)).as("n_active"),
        coalesce($"n_new", lit(0L)).as("n_new"),
        coalesce($"n_retained", lit(0L)).as("n_retained"),
        coalesce($"n_resurrected", lit(0L)).as("n_resurrected"),
        coalesce($"n_churned", lit(0L)).as("n_churned"))
      .withColumn("quick_ratio",
        when($"n_churned" > 0L,
          round(($"n_new" + $"n_resurrected").cast("double") / $"n_churned", 6)))
      .orderBy($"day")
  }

  val q322Sql: String =
    """WITH a AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
      |w AS (
      |  SELECT user_id, day,
      |    LAG(day) OVER (PARTITION BY user_id ORDER BY day) AS prev,
      |    LEAD(day) OVER (PARTITION BY user_id ORDER BY day) AS nxt,
      |    MIN(day) OVER (PARTITION BY user_id) AS fd
      |  FROM a),
      |mx AS (SELECT MAX(day) AS maxday FROM a),
      |act AS (
      |  SELECT day, CAST(COUNT(*) AS BIGINT) AS n_active,
      |    CAST(SUM(CASE WHEN day = fd THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
      |    CAST(SUM(CASE WHEN prev = day - 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_retained,
      |    CAST(SUM(CASE WHEN day <> fd AND prev < day - 1 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_resurrected
      |  FROM w GROUP BY 1),
      |ch AS (
      |  SELECT day + 1 AS day, CAST(COUNT(*) AS BIGINT) AS n_churned
      |  FROM w CROSS JOIN mx
      |  WHERE (nxt IS NULL OR nxt > day + 1) AND day + 1 <= maxday
      |  GROUP BY 1)
      |SELECT COALESCE(act.day, ch.day) AS day,
      |  COALESCE(n_active, 0) AS n_active, COALESCE(n_new, 0) AS n_new,
      |  COALESCE(n_retained, 0) AS n_retained,
      |  COALESCE(n_resurrected, 0) AS n_resurrected,
      |  COALESCE(n_churned, 0) AS n_churned,
      |  CASE WHEN COALESCE(n_churned, 0) > 0 THEN
      |    ROUND(CAST(COALESCE(n_new, 0) + COALESCE(n_resurrected, 0) AS DOUBLE)
      |      / n_churned, 6) END AS quick_ratio
      |FROM act FULL OUTER JOIN ch ON act.day = ch.day
      |ORDER BY day""".stripMargin

  /** q323: exact Shapley channel attribution (Shapley 1953 applied to
    * the conversion set function; the axiomatic answer next to q287's
    * Markov removal effects and q152's last-touch heuristic). Each
    * converting user contributes their set of channels touched STRICTLY
    * BEFORE first purchase; the coalition value v(S) is the number of
    * conversions whose touch set fits inside S, and a channel's credit
    * is its exact Shapley value over the 2^|channels| coalitions —
    * bounded by the channel VOCABULARY (≤2^4 here), never by event
    * volume. The only data-sized work is one events scan into the
    * per-user first-purchase frame and the distinct touch pass; the
    * coalition fold runs on the collected ≤2^n-row mask-count frame
    * (the q287 driver-bounded-frame discipline). Every Shapley term is
    * an exact small-rational weight × an integer marginal, snapped to
    * the 1e-12 grid before a fixed-order decimal fold — bit-identical
    * to the oracle's DECIMAL(38,12) sum.
    */
  def q323ShapleyAttribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val key = concat(lpad(expr("ts div 1000").cast("string"), 20, "0"),
      lpad($"event_id".cast("string"), 20, "0"))
    val ev = events(spark, dir)
      .select($"user_id", $"event_type".as("t"), key.as("k"))
    val channels = ev.filter($"t" =!= "purchase")
      .select($"t").distinct().collect().map(_.getString(0)).sorted
    val n = channels.length
    val rank = channels.zipWithIndex.toMap
    val bitOf = channels.foldRight(lit(0L)) { case (c, acc) =>
      when($"t" === c, lit(1L << rank(c))).otherwise(acc)
    }
    val fp = ev.filter($"t" === "purchase")
      .groupBy($"user_id").agg(min($"k").as("fpk"))
    val touched = ev.join(fp, Seq("user_id"))
      .filter($"t" =!= "purchase" && $"k" < $"fpk")
      .select($"user_id", $"t").distinct()
      .select($"user_id", bitOf.as("bit"))
      .groupBy($"user_id").agg(sum($"bit").as("mask"))
    val counts = fp.select($"user_id")
      .join(touched, Seq("user_id"), "left")
      .select(coalesce($"mask", lit(0L)).as("mask"))
      .groupBy($"mask").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val phis = shapleyFromMaskCounts(counts, n)
    val rows = channels.map { c =>
      val r = rank(c)
      val touchedConv = counts.collect { case (m, cc) if ((m >> r) & 1L) == 1L => cc }.sum
      (c, touchedConv, phis(r))
    }
    def v(s: Long): Long =
      counts.collect { case (m, c) if (m | s) == s => c }.sum
    val denom = (v((1L << n) - 1) - v(0L)).toDouble
    rows.toSeq.toDF("channel", "n_conv_touched", "phi_raw")
      .select($"channel", $"n_conv_touched",
        round($"phi_raw", 6).as("shapley_conversions"),
        round($"phi_raw" / lit(denom), 6).as("attribution_share"))
      .orderBy($"channel")
  }

  /** The q323 exact-Shapley fold over a collected (mask, count) frame:
    * v(S) = Σ counts over masks ⊆ S, φ_r = Σ_{S∌r} |S|!(n−1−|S|)!/n! ·
    * (v(S∪{r}) − v(S)), each term snapped to the 1e-12 grid and folded
    * in ascending-S decimal order (the oracle's DECIMAL(38,12) sum).
    * Returns φ by channel rank. Driver-bounded (2^n coalitions, n =
    * channel vocabulary); unit-tested on crafted coalitions
    * (efficiency/symmetry/dummy axioms) in AnalyticsSpec.
    */
  def shapleyFromMaskCounts(counts: Seq[(Long, Long)], n: Int): Seq[Double] = {
    def fact(x: Int): Long = (1 to x).foldLeft(1L)(_ * _)
    def v(s: Long): Long =
      counts.collect { case (m, c) if (m | s) == s => c }.sum
    (0 until n).map { r =>
      var phi = BigDecimal(0)
      for (s <- 0L until (1L << n) if ((s >> r) & 1L) == 0L) {
        val ssz = java.lang.Long.bitCount(s)
        val w = (fact(ssz) * fact(n - 1 - ssz)).toDouble / fact(n).toDouble
        val term = w * (v(s | (1L << r)) - v(s)).toDouble
        phi += BigDecimal(term).setScale(12, BigDecimal.RoundingMode.HALF_UP)
      }
      phi.toDouble
    }
  }

  val q323Sql: String =
    """WITH ev AS (
      |  SELECT user_id, event_type AS t,
      |    printf('%020d', epoch_us(ts)) || printf('%020d', event_id) AS k
      |  FROM events),
      |ch AS (
      |  SELECT t AS channel, ROW_NUMBER() OVER (ORDER BY t) - 1 AS r
      |  FROM (SELECT DISTINCT t FROM ev WHERE t <> 'purchase')),
      |nn AS (SELECT CAST(COUNT(*) AS INTEGER) AS n FROM ch),
      |fp AS (
      |  SELECT user_id, MIN(k) AS fpk FROM ev WHERE t = 'purchase'
      |  GROUP BY 1),
      |tc AS (
      |  SELECT DISTINCT e.user_id, e.t FROM ev e JOIN fp USING (user_id)
      |  WHERE e.t <> 'purchase' AND e.k < fp.fpk),
      |mk AS (
      |  SELECT f.user_id,
      |    COALESCE(SUM(CAST(1 AS BIGINT) << ch.r), 0) AS mask
      |  FROM fp f LEFT JOIN tc ON tc.user_id = f.user_id
      |  LEFT JOIN ch ON ch.channel = tc.t
      |  GROUP BY 1),
      |cc AS (SELECT mask, CAST(COUNT(*) AS BIGINT) AS c FROM mk GROUP BY 1),
      |co AS (
      |  SELECT CAST(UNNEST(range(0, CAST(1 AS BIGINT) << (SELECT n FROM nn))) AS BIGINT) AS s),
      |v AS (
      |  SELECT co.s, COALESCE(SUM(cc.c), 0) AS v
      |  FROM co LEFT JOIN cc ON (cc.mask | co.s) = co.s GROUP BY 1),
      |terms AS (
      |  SELECT ch.channel,
      |    CAST(ROUND(
      |      (CAST(factorial(bit_count(co.s)) *
      |            factorial(nn.n - 1 - bit_count(co.s)) AS DOUBLE)
      |        / CAST(factorial(nn.n) AS DOUBLE))
      |      * CAST(v1.v - v0.v AS DOUBLE), 12) AS DECIMAL(38, 12)) AS term
      |  FROM ch CROSS JOIN co CROSS JOIN nn
      |  JOIN v v0 ON v0.s = co.s
      |  JOIN v v1 ON v1.s = (co.s | (CAST(1 AS BIGINT) << ch.r))
      |  WHERE (co.s >> ch.r) % 2 = 0),
      |phi AS (
      |  SELECT channel, CAST(SUM(term) AS DOUBLE) AS phi
      |  FROM terms GROUP BY 1),
      |tch AS (
      |  SELECT ch.channel,
      |    CAST(COALESCE(SUM(CASE WHEN (cc.mask >> ch.r) % 2 = 1 THEN cc.c
      |      ELSE 0 END), 0) AS BIGINT) AS n_conv_touched
      |  FROM ch LEFT JOIN cc ON TRUE GROUP BY 1),
      |tot AS (
      |  SELECT CAST((SELECT v FROM v WHERE s =
      |      (CAST(1 AS BIGINT) << (SELECT n FROM nn)) - 1)
      |    - (SELECT v FROM v WHERE s = 0) AS DOUBLE) AS denom)
      |SELECT p.channel, t.n_conv_touched,
      |  ROUND(p.phi, 6) AS shapley_conversions,
      |  ROUND(p.phi / tot.denom, 6) AS attribution_share
      |FROM phi p JOIN tch t USING (channel) CROSS JOIN tot
      |ORDER BY p.channel""".stripMargin

  /** q325: Holt linear-trend exponential smoothing (α=0.3, β=0.1) over
    * the daily purchase-revenue series — the first-line ops forecast
    * next to q174's changepoint and q172's autocorrelation: per day the
    * smoothed level, trend, the one-step-ahead forecast the day was
    * predicted at, and its residual; then a 7-day-ahead projection off
    * the final state. The recursion is inherently sequential, so it
    * runs as a driver fold over the CALENDAR-BOUNDED daily frame (≤
    * |days| rows regardless of event volume — the q287 discipline); the
    * only data-sized work is one grouped cents fold. Both engines
    * evaluate the identical IEEE double recursion in the identical
    * order (the oracle is a recursive CTE), so results agree bit-exactly
    * before the 1e-6 display rounding.
    */
  def q325HoltForecast(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = events(spark, dir)
      .filter($"event_type" === "purchase")
      .groupBy(expr("ts div 86400000000000").as("day"))
      .agg(sum(round($"value" * 100.0).cast("long")).as("cents"))
      .orderBy($"day")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val (alpha, beta) = (0.3, 0.1)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Option[Long], Option[Double], Option[Double],
        Option[Double], Option[Double])]
    if (daily.nonEmpty) {
      var level = daily(0)._2.toDouble
      var trend = if (daily.length >= 2)
        daily(1)._2.toDouble - daily(0)._2.toDouble else 0.0
      out += ((daily(0)._1, Some(daily(0)._2), Some(level), Some(trend),
        None, None))
      for (i <- 1 until daily.length) {
        val y = daily(i)._2.toDouble
        val f = level + trend
        val newLevel = alpha * y + (1.0 - alpha) * (level + trend)
        val newTrend = beta * (newLevel - level) + (1.0 - beta) * trend
        level = newLevel; trend = newTrend
        out += ((daily(i)._1, Some(daily(i)._2), Some(level), Some(trend),
          Some(f), Some(y - f)))
      }
      val lastDay = daily.last._1
      for (h <- 1 to 7)
        out += ((lastDay + h, None, None, None,
          Some(level + h.toDouble * trend), None))
    }
    out.toSeq.toDF("day", "cents", "level", "trend", "forecast", "resid")
      .select($"day", $"cents", round($"level", 6).as("level"),
        round($"trend", 6).as("trend"),
        round($"forecast", 6).as("forecast"),
        round($"resid", 6).as("resid"))
      .orderBy($"day")
  }

  val q325Sql: String =
    """WITH RECURSIVE daily AS (
      |  SELECT epoch_us(ts) // 86400000000 AS day,
      |    CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |d AS (
      |  SELECT ROW_NUMBER() OVER (ORDER BY day) AS i, day, cents,
      |    CAST(cents AS DOUBLE) AS y
      |  FROM daily),
      |r AS (
      |  SELECT 1 AS i,
      |    (SELECT day FROM d WHERE i = 1) AS day,
      |    (SELECT cents FROM d WHERE i = 1) AS cents,
      |    (SELECT y FROM d WHERE i = 1) AS level,
      |    COALESCE((SELECT y FROM d WHERE i = 2)
      |      - (SELECT y FROM d WHERE i = 1), 0.0) AS trend,
      |    CAST(NULL AS DOUBLE) AS forecast,
      |    CAST(NULL AS DOUBLE) AS resid
      |  UNION ALL
      |  SELECT d.i, d.day, d.cents,
      |    0.3 * d.y + 0.7 * (r.level + r.trend) AS level,
      |    0.1 * ((0.3 * d.y + 0.7 * (r.level + r.trend)) - r.level)
      |      + 0.9 * r.trend AS trend,
      |    r.level + r.trend AS forecast,
      |    d.y - (r.level + r.trend) AS resid
      |  FROM r JOIN d ON d.i = r.i + 1),
      |last AS (SELECT * FROM r WHERE i = (SELECT MAX(i) FROM r)),
      |fut AS (
      |  SELECT last.day + h AS day, CAST(NULL AS BIGINT) AS cents,
      |    CAST(NULL AS DOUBLE) AS level, CAST(NULL AS DOUBLE) AS trend,
      |    last.level + CAST(h AS DOUBLE) * last.trend AS forecast,
      |    CAST(NULL AS DOUBLE) AS resid
      |  FROM (SELECT UNNEST(range(1, 8)) AS h) CROSS JOIN last)
      |SELECT day, cents, ROUND(level, 6) AS level, ROUND(trend, 6) AS trend,
      |  ROUND(forecast, 6) AS forecast, ROUND(resid, 6) AS resid
      |FROM (SELECT day, cents, level, trend, forecast, resid FROM r
      |      UNION ALL SELECT * FROM fut)
      |ORDER BY day""".stripMargin

  /** q341: extreme-value (Gumbel) fit over daily block maxima of the
    * event value, per event type — the capacity-planning card: method-
    * of-moments location/scale (β = s·√6/π, μ = x̄ − γβ) and the
    * 7/30/90-day return levels μ − β·ln(−ln(1−1/T)), i.e. "the largest
    * value a week/month/quarter should be expected to produce". Daily
    * maxima are exact cent integers (one round per row), the moments
    * are integer/decimal sums over the |days|×|types| frame, and the
    * fit is fixed-order double scalars — engine-identical. One events
    * scan, one (type, day) hash agg, one |types| fold.
    */
  def q341GumbelExtremes(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    gumbelFit(events(spark, dir)
      .select($"event_type", expr("ts div 86400000000000").as("day"),
        round($"value" * 100).cast("long").as("v_e2"))
      .groupBy($"event_type", $"day").agg(max($"v_e2").as("mx")))
  }

  /** One live-extremes micro-batch: reduces the batch to per-(type,
    * day) MAX candidates — max is the mergeable statistic, so a day
    * split across batches just merges — and writes them as the batch's
    * `batch_id` partition, which a re-delivery rewrites
    * ([[graft.Util.appendOnce]]). Rows need event_type, day, v_e2.
    * Public so the replay spec can drive it directly.
    */
  def appendDailyMaxIdempotent(batch: DataFrame, path: String,
      batchId: Long): Unit = {
    appendOnce(batch.sparkSession, path, batchId)(
      batch.groupBy(col("event_type"), col("day")).agg(max(col("v_e2")).as("mx")))
  }

  /** Read side of the live extremes monitor: MAX-merge the per-batch
    * daily-max candidates and run the SAME Gumbel fit as the batch
    * q341 — stream == batch is the idempotence of max. Reads only the
    * candidates table.
    */
  def gumbelReport(spark: SparkSession, path: String): DataFrame =
    gumbelFit(readBatched(spark, path)
      .groupBy(col("event_type"), col("day"))
      .agg(max(col("mx")).as("mx")))

  /** The Gumbel method-of-moments fit + return levels from a
    * (event_type, day, mx) daily-maxima frame (shared by q341 and the
    * live twin; see q341's doc for the exact-arithmetic contract).
    */
  def gumbelFit(daily: DataFrame): DataFrame = {
    val spark = daily.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val gamma = 0.5772156649015329
    def rl(t: Double) = -math.log(-math.log(1.0 - 1.0 / t))
    val fit = daily.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"mx").as("sx"),
        sum($"mx".cast(DecimalType(19, 0)) * $"mx".cast(DecimalType(19, 0)))
          .as("sxx"))
      .filter($"n" > 1)
      .select($"event_type", $"n".as("n_days"),
        ($"sx".cast("double") / $"n" / 100.0).as("mean_max"),
        (sqrt(($"n" * $"sxx" - $"sx".cast(DecimalType(19, 0)) *
          $"sx".cast(DecimalType(19, 0))).cast("double") /
          ($"n".cast("double") * ($"n" - 1).cast("double"))) / 100.0).as("sd"))
    fit
      .withColumn("beta", $"sd" * math.sqrt(6.0) / math.Pi)
      .withColumn("mu", $"mean_max" - lit(gamma) * $"beta")
      .select($"event_type", $"n_days",
        round($"mean_max", 6).as("mean_daily_max"),
        round($"mu", 6).as("mu"), round($"beta", 6).as("beta"),
        round($"mu" + $"beta" * rl(7.0), 6).as("rl_7d"),
        round($"mu" + $"beta" * rl(30.0), 6).as("rl_30d"),
        round($"mu" + $"beta" * rl(90.0), 6).as("rl_90d"))
      .orderBy($"event_type")
  }

  val q341Sql: String = {
    val gamma = "0.5772156649015329"
    def rl(t: String) = s"(-ln(-ln(1.0 - 1.0 / $t)))"
    s"""WITH daily AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |    MAX(CAST(round(value * 100) AS BIGINT)) AS mx
      |  FROM events GROUP BY 1, 2),
      |mo AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(mx) AS BIGINT) AS sx,
      |    SUM(CAST(mx AS DECIMAL(19,0)) * CAST(mx AS DECIMAL(19,0))) AS sxx
      |  FROM daily GROUP BY 1),
      |fit AS (
      |  SELECT event_type, n AS n_days,
      |    CAST(sx AS DOUBLE) / n / 100.0 AS mean_max,
      |    sqrt(CAST(n * sxx - CAST(sx AS DECIMAL(19,0))
      |        * CAST(sx AS DECIMAL(19,0)) AS DOUBLE)
      |      / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))) / 100.0 AS sd
      |  FROM mo WHERE n > 1),
      |g AS (
      |  SELECT event_type, n_days, mean_max,
      |    sd * sqrt(6.0) / pi() AS beta,
      |    mean_max - $gamma * (sd * sqrt(6.0) / pi()) AS mu
      |  FROM fit)
      |SELECT event_type, n_days, ROUND(mean_max, 6) AS mean_daily_max,
      |  ROUND(mu, 6) AS mu, ROUND(beta, 6) AS beta,
      |  ROUND(mu + beta * ${rl("7.0")}, 6) AS rl_7d,
      |  ROUND(mu + beta * ${rl("30.0")}, 6) AS rl_30d,
      |  ROUND(mu + beta * ${rl("90.0")}, 6) AS rl_90d
      |FROM g ORDER BY event_type""".stripMargin
  }

  /** q343: Hill tail-index estimator per event type — the heavy-tail
    * companion to q341's Gumbel card: over the k=30 largest values,
    * hill = mean ln(x_i / x_(k+1)) and the tail index α = 1/hill
    * ("how Pareto is the value distribution"; α ≤ 2 means infinite
    * variance — sampling/aggregation strategies must know). The only
    * data-sized work is a per-type top-(k+1) (WindowGroupLimit prunes
    * partial top-k before the shuffle); the ln terms snap to the 1e-9
    * grid and fold in decimal, ties broken by event_id so the cut is
    * engine-identical.
    */
  def q343HillTail(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = 30
    val w = Window.partitionBy($"event_type")
      .orderBy($"value".desc, $"event_id")
    val top = events(spark, dir)
      .filter($"value" > 0)
      .select($"event_type", $"value", $"event_id")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= k + 1)
      .localCheckpoint() // (k+1)·|types| rows; threshold + fold reuse it
    val thr = top.filter($"rn" === k + 1)
      .select($"event_type", $"value".as("x_thr"))
    top.filter($"rn" <= k)
      .join(broadcast(thr), Seq("event_type"))
      .select($"event_type", $"x_thr",
        round(log($"value" / $"x_thr"), 9).cast(DecimalType(38, 9)).as("t"))
      .groupBy($"event_type", $"x_thr")
      .agg(count(lit(1)).as("n_top"), sum($"t").as("st"))
      .select($"event_type", lit(k.toLong).as("k"),
        round($"x_thr", 2).as("x_threshold"),
        round($"st".cast("double") / $"n_top", 6).as("hill"),
        round($"n_top".cast("double") / $"st".cast("double"), 6).as("alpha"))
      .orderBy($"event_type")
  }

  val q343Sql: String =
    """WITH ranked AS (
      |  SELECT event_type, value, event_id,
      |    ROW_NUMBER() OVER (PARTITION BY event_type
      |      ORDER BY value DESC, event_id) AS rn
      |  FROM events WHERE value > 0),
      |thr AS (
      |  SELECT event_type, value AS x_thr FROM ranked WHERE rn = 31),
      |t AS (
      |  SELECT r.event_type, x_thr,
      |    CAST(ROUND(ln(value / x_thr), 9) AS DECIMAL(38,9)) AS t
      |  FROM ranked r JOIN thr USING (event_type) WHERE rn <= 30),
      |g AS (
      |  SELECT event_type, x_thr, CAST(COUNT(*) AS BIGINT) AS n_top,
      |    SUM(t) AS st
      |  FROM t GROUP BY 1, 2)
      |SELECT event_type, CAST(30 AS BIGINT) AS k,
      |  ROUND(x_thr, 2) AS x_threshold,
      |  ROUND(CAST(st AS DOUBLE) / n_top, 6) AS hill,
      |  ROUND(CAST(n_top AS DOUBLE) / CAST(st AS DOUBLE), 6) AS alpha
      |FROM g ORDER BY event_type""".stripMargin

  /** q344: weekly spectral power per event type — the single-frequency
    * DFT bin at 1/7 cycles/day over the daily count series:
    * power = (Σc_t·cos(2πt/7))² + (Σc_t·sin(2πt/7))² against the total
    * centered variance, i.e. "how much of the volume variation IS the
    * weekly cycle" (the quantitative twin of q189's weekday profile and
    * q231's fixed-period decomposition). Each c_t·sin/cos term is one
    * double product snapped to 1e-6 and folded in decimal — engine-
    * identical to far below the snap grid; day indices are
    * calendar-anchored (t = day − min day). One events scan into the
    * |types|×|days| frame.
    */
  def q344WeeklySpectrum(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = events(spark, dir)
      .select($"event_type", expr("ts div 86400000000000").as("day"))
      .groupBy($"event_type", $"day").agg(count(lit(1)).as("c"))
      .localCheckpoint() // |types|×|days|; anchor + folds reuse it
    val t0 = daily.agg(min($"day").as("d0"))
    val w = 2.0 * math.Pi / 7.0
    val terms = daily.crossJoin(broadcast(t0))
      .select($"event_type", $"c", (($"day" - $"d0") % 7).as("t7"))
      .select($"event_type", $"c",
        round($"c" * cos($"t7" * w), 6).cast(DecimalType(38, 6)).as("ct"),
        round($"c" * sin($"t7" * w), 6).cast(DecimalType(38, 6)).as("st"))
    val g = terms.groupBy($"event_type")
      .agg(count(lit(1)).as("n_days"), sum($"c").as("sc"),
        sum($"c".cast(DecimalType(19, 0)) * $"c".cast(DecimalType(19, 0)))
          .as("sc2"),
        sum($"ct").as("sct"), sum($"st").as("sst"))
    g.select($"event_type", $"n_days",
      round(($"sct".cast("double") * $"sct".cast("double") +
        $"sst".cast("double") * $"sst".cast("double")) /
        ($"n_days".cast("double") * $"n_days".cast("double")), 6)
        .as("weekly_power"),
      round(($"n_days" * $"sc2" - $"sc".cast(DecimalType(19, 0)) *
        $"sc".cast(DecimalType(19, 0))).cast("double") /
        ($"n_days".cast("double") * $"n_days".cast("double")), 6)
        .as("variance"),
      round((($"sct".cast("double") * $"sct".cast("double") +
        $"sst".cast("double") * $"sst".cast("double")) /
        ($"n_days".cast("double") * $"n_days".cast("double"))) /
        greatest(($"n_days" * $"sc2" - $"sc".cast(DecimalType(19, 0)) *
          $"sc".cast(DecimalType(19, 0))).cast("double") /
          ($"n_days".cast("double") * $"n_days".cast("double")), lit(1e-12)),
        6).as("weekly_share"))
      .orderBy($"event_type")
  }

  val q344Sql: String = {
    val w = "(2 * pi() / 7.0)"
    s"""WITH daily AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |t0 AS (SELECT MIN(day) AS d0 FROM daily),
      |terms AS (
      |  SELECT event_type, c,
      |    CAST(ROUND(c * cos(((day - d0) % 7) * $w), 6) AS DECIMAL(38,6))
      |      AS ct,
      |    CAST(ROUND(c * sin(((day - d0) % 7) * $w), 6) AS DECIMAL(38,6))
      |      AS st
      |  FROM daily CROSS JOIN t0),
      |g AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
      |    CAST(SUM(c) AS BIGINT) AS sc,
      |    SUM(CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0))) AS sc2,
      |    SUM(ct) AS sct, SUM(st) AS sst
      |  FROM terms GROUP BY 1)
      |SELECT event_type, n_days,
      |  ROUND((CAST(sct AS DOUBLE) * CAST(sct AS DOUBLE)
      |    + CAST(sst AS DOUBLE) * CAST(sst AS DOUBLE))
      |    / (CAST(n_days AS DOUBLE) * CAST(n_days AS DOUBLE)), 6)
      |    AS weekly_power,
      |  ROUND(CAST(n_days * sc2 - CAST(sc AS DECIMAL(19,0))
      |      * CAST(sc AS DECIMAL(19,0)) AS DOUBLE)
      |    / (CAST(n_days AS DOUBLE) * CAST(n_days AS DOUBLE)), 6)
      |    AS variance,
      |  ROUND(((CAST(sct AS DOUBLE) * CAST(sct AS DOUBLE)
      |    + CAST(sst AS DOUBLE) * CAST(sst AS DOUBLE))
      |    / (CAST(n_days AS DOUBLE) * CAST(n_days AS DOUBLE)))
      |    / GREATEST(CAST(n_days * sc2 - CAST(sc AS DECIMAL(19,0))
      |        * CAST(sc AS DECIMAL(19,0)) AS DOUBLE)
      |      / (CAST(n_days AS DOUBLE) * CAST(n_days AS DOUBLE)), 1e-12), 6)
      |    AS weekly_share
      |FROM g ORDER BY event_type""".stripMargin
  }

  /** q345: distribution-shape card — skewness and excess kurtosis of
    * the event value per type from raw integer moments (cent-exact
    * values, Σx..Σx⁴ in decimal): the "is this value column remotely
    * normal" pre-check for every z-score/control-chart downstream
    * (q305's limits assume symmetric tails; this card says when that
    * assumption is broken). Central moments via the standard raw-moment
    * identities in fixed-order double arithmetic — engine-identical
    * given identical sums.
    */
  def q345MomentShape(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d0 = DecimalType(19, 0)
    val v = events(spark, dir)
      .select($"event_type", round($"value" * 100).cast("long").as("x"))
    val g = v.groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"x").as("s1"),
        sum($"x".cast(d0) * $"x".cast(d0)).as("s2"),
        sum($"x".cast(d0) * $"x".cast(d0) * $"x".cast(d0)).as("s3"),
        sum($"x".cast(d0) * $"x".cast(d0) * $"x".cast(d0) * $"x".cast(d0))
          .as("s4"))
    g.select($"event_type", $"n",
        ($"s1".cast("double") / $"n").as("m1"),
        ($"s2".cast("double") / $"n").as("r2"),
        ($"s3".cast("double") / $"n").as("r3"),
        ($"s4".cast("double") / $"n").as("r4"))
      .select($"event_type", $"n",
        ($"r2" - $"m1" * $"m1").as("m2"),
        ($"r3" - lit(3.0) * $"m1" * $"r2" + lit(2.0) * $"m1" * $"m1" * $"m1")
          .as("m3"),
        ($"r4" - lit(4.0) * $"m1" * $"r3" + lit(6.0) * $"m1" * $"m1" * $"r2" -
          lit(3.0) * $"m1" * $"m1" * $"m1" * $"m1").as("m4"),
        $"m1")
      .select($"event_type", $"n",
        round($"m1" / 100.0, 6).as("mean_value"),
        round(sqrt($"m2") / 100.0, 6).as("sd_value"),
        round($"m3" / pow($"m2", 1.5), 6).as("skewness"),
        round($"m4" / ($"m2" * $"m2") - 3.0, 6).as("excess_kurtosis"))
      .orderBy($"event_type")
  }

  val q345Sql: String =
    """WITH v AS (
      |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS x
      |  FROM events),
      |g AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(x) AS BIGINT) AS s1,
      |    SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS s2,
      |    SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))
      |      * CAST(x AS DECIMAL(19,0))) AS s3,
      |    SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))
      |      * CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS s4
      |  FROM v GROUP BY 1),
      |r AS (
      |  SELECT event_type, n,
      |    CAST(s1 AS DOUBLE) / n AS m1, CAST(s2 AS DOUBLE) / n AS r2,
      |    CAST(s3 AS DOUBLE) / n AS r3, CAST(s4 AS DOUBLE) / n AS r4
      |  FROM g),
      |c AS (
      |  SELECT event_type, n, m1,
      |    (r2 - m1 * m1) AS m2,
      |    (r3 - 3.0 * m1 * r2 + 2.0 * m1 * m1 * m1) AS m3,
      |    (r4 - 4.0 * m1 * r3 + 6.0 * m1 * m1 * r2
      |      - 3.0 * m1 * m1 * m1 * m1) AS m4
      |  FROM r)
      |SELECT event_type, n, ROUND(m1 / 100.0, 6) AS mean_value,
      |  ROUND(sqrt(m2) / 100.0, 6) AS sd_value,
      |  ROUND(m3 / pow(m2, 1.5), 6) AS skewness,
      |  ROUND(m4 / (m2 * m2) - 3.0, 6) AS excess_kurtosis
      |FROM c ORDER BY event_type""".stripMargin

  /** q347: engagement decay half-life per event type — activity counts
    * by DAYS-SINCE-FIRST-SEEN (per-user day offset, capped at 30), an
    * exponential fit ln(count) ~ offset via integer-moment least
    * squares, and the implied half-life −ln2/slope: "how fast does a
    * new user's activity decay", the single constant retention
    * planning wants (the curve-level companion to q153's cohort
    * retention and q218's churn half-life, which fits PER-USER gaps —
    * this fits the population offset curve). Per-row work is one
    * user-keyed min-day window; the fit runs on the ≤31-offset frame
    * with 1e-9-grid log terms — engine-identical.
    */
  def q347EngagementDecay(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id")
    val byOffset = events(spark, dir)
      .select($"event_type", $"user_id",
        expr("ts div 86400000000000").as("day"))
      .withColumn("f", min($"day").over(w))
      .filter($"day" - $"f" <= 30)
      .groupBy($"event_type", ($"day" - $"f").as("o"))
      .agg(count(lit(1)).as("c"))
    val terms = byOffset
      .select($"event_type", $"o",
        round(log($"c".cast("double")) * 1e9).cast("long").as("y"))
    terms.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"o").as("sx"),
        sum($"y").as("sy"), sum($"o" * $"y").as("sxy"),
        sum($"o" * $"o").as("sxx"))
      .filter($"n" > 2)
      .select($"event_type", $"n".as("n_offsets"),
        (($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
          (($"n" * $"sxx" - $"sx" * $"sx").cast("double") * 1e9))
          .as("slope"))
      .select($"event_type", $"n_offsets",
        round($"slope", 6).as("decay_per_day"),
        when($"slope" < 0, round(lit(-math.log(2.0)) / $"slope", 6))
          .as("half_life_days"))
      .orderBy($"event_type")
  }

  val q347Sql: String =
    """WITH e AS (
      |  SELECT event_type, user_id, epoch_us(ts) // 86400000000 AS day
      |  FROM events),
      |f AS (
      |  SELECT event_type, day - MIN(day) OVER (PARTITION BY user_id) AS o
      |  FROM e),
      |c AS (
      |  SELECT event_type, o, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM f WHERE o <= 30 GROUP BY 1, 2),
      |t AS (
      |  SELECT event_type, o,
      |    CAST(round(ln(CAST(c AS DOUBLE)) * 1e9) AS BIGINT) AS y
      |  FROM c),
      |m AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(o) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |    CAST(SUM(o * y) AS BIGINT) AS sxy,
      |    CAST(SUM(o * o) AS BIGINT) AS sxx
      |  FROM t GROUP BY 1),
      |s AS (
      |  SELECT event_type, n AS n_offsets,
      |    CAST(n * sxy - sx * sy AS DOUBLE)
      |      / (CAST(n * sxx - sx * sx AS DOUBLE) * 1e9) AS slope
      |  FROM m WHERE n > 2)
      |SELECT event_type, n_offsets, ROUND(slope, 6) AS decay_per_day,
      |  CASE WHEN slope < 0 THEN ROUND(-ln(2.0) / slope, 6) END
      |    AS half_life_days
      |FROM s ORDER BY event_type""".stripMargin

  /** q349: Hurst exponent via rescaled-range (R/S) analysis of the
    * daily event-volume series — long-range dependence in one number:
    * H ≈ 0.5 is memoryless, H > 0.5 means busy days cluster (capacity
    * planning can't assume i.i.d. bursts; q179's dispersion sees
    * overdispersion, this sees its PERSISTENCE). Calendar blocks of
    * 3/5/10 days (full blocks only); within a block the cumulative
    * deviation range is EXACT INTEGERS (dev_i = B·cum_i − i·Σc — the
    * mean is never materialized as a float), S from integer moments,
    * per-block R/S snapped to 1e-9 and averaged in decimal; H is the
    * 3-point log-log slope. One events scan into the |days| frame;
    * everything after is block-bounded.
    */
  def q349HurstRs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = events(spark, dir)
      .select(expr("ts div 86400000000000").as("day"))
      .groupBy($"day").agg(count(lit(1)).as("c"))
      .localCheckpoint() // |days| rows; all three block sizes reuse it
    val d0 = daily.agg(min($"day").as("d0"))
    def rsForSize(b: Int): DataFrame = {
      val w = Window.partitionBy($"blk").orderBy($"t")
      val wAll = Window.partitionBy($"blk")
      val dev = daily.crossJoin(broadcast(d0))
        .select(expr(s"(day - d0) div $b").as("blk"),
          ($"day" - $"d0").as("t"), $"c")
        .withColumn("i", row_number().over(w).cast("long"))
        .withColumn("cum", sum($"c").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("sx", sum($"c").over(wAll))
        .withColumn("m", count(lit(1)).over(wAll))
        .filter($"m" === b) // full calendar blocks only
        // dev_i = B·cum_i − i·Σc: the cumulative deviation from the
        // block mean, scaled by B so it stays an exact integer
        .withColumn("dev", lit(b.toLong) * $"cum" - $"i" * $"sx")
      dev.groupBy($"blk")
        .agg(max($"dev").as("dmax"), min($"dev").as("dmin"),
          max($"sx").as("sx"),
          sum($"c".cast(DecimalType(19, 0)) * $"c".cast(DecimalType(19, 0)))
            .as("sxx"))
        .select($"blk",
          // R/S = (dmax−dmin) / sqrt(B·Σc² − (Σc)²), snapped to 1e-9
          round(($"dmax" - $"dmin").cast("double") /
            sqrt((lit(b.toLong) * $"sxx" - $"sx".cast(DecimalType(19, 0)) *
              $"sx".cast(DecimalType(19, 0))).cast("double")), 9)
            .cast(DecimalType(38, 9)).as("rs"))
        .filter($"rs".isNotNull)
        .agg(count(lit(1)).as("n_blocks"), sum($"rs").as("srs"))
        .select(lit(b.toLong).as("block_size"), $"n_blocks",
          ($"srs".cast("double") / $"n_blocks").as("avg_rs"))
    }
    val per = rsForSize(3).unionByName(rsForSize(5)).unionByName(rsForSize(10))
      .localCheckpoint() // 3 rows
    // A block size with zero surviving full blocks yields a NULL avg_rs
    // row; count(*) would still include it in the fit's n/Σx while the
    // null y silently drops from Σy/Σxy, skewing the slope on short
    // series — so degenerate sizes are excluded BEFORE the moments, and
    // a fit with fewer than 2 surviving points reports NULL hurst.
    val fit = per
      .filter($"avg_rs".isNotNull && $"n_blocks" > 0)
      .select(round(log($"block_size".cast("double")) * 1e9).cast("long")
          .as("x"),
        round(log($"avg_rs") * 1e9).cast("long").as("y"))
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x".cast(DecimalType(19, 0)) * $"y".cast(DecimalType(19, 0)))
          .as("sxy"),
        sum($"x".cast(DecimalType(19, 0)) * $"x".cast(DecimalType(19, 0)))
          .as("sxx"))
      .select(when($"n" >= 2,
        round(($"n" * $"sxy" - $"sx".cast(DecimalType(19, 0)) *
          $"sy".cast(DecimalType(19, 0))).cast("double") /
          ($"n" * $"sxx" - $"sx".cast(DecimalType(19, 0)) *
            $"sx".cast(DecimalType(19, 0))).cast("double"), 6)).as("hurst"))
    per.crossJoin(broadcast(fit))
      .select($"block_size", $"n_blocks", round($"avg_rs", 6).as("avg_rs"),
        $"hurst")
      .orderBy($"block_size")
  }

  val q349Sql: String = {
    def sizeCte(b: Int) =
      s"""rs$b AS (
        |  SELECT CAST($b AS BIGINT) AS block_size,
        |    CAST(COUNT(*) AS BIGINT) AS n_blocks,
        |    CAST(SUM(rs) AS DOUBLE) / COUNT(*) AS avg_rs
        |  FROM (
        |    SELECT blk,
        |      CAST(ROUND(CAST(MAX(dev) - MIN(dev) AS DOUBLE)
        |        / sqrt(CAST($b * SUM(cc) - CAST(MAX(sx) AS HUGEINT)
        |          * MAX(sx) AS DOUBLE)), 9) AS DECIMAL(38,9)) AS rs
        |    FROM (
        |      SELECT blk, c, CAST(c AS HUGEINT) * c AS cc, i, sx, m,
        |        $b * cum - i * sx AS dev
        |      FROM (
        |        SELECT blk, t, c,
        |          CAST(ROW_NUMBER() OVER (PARTITION BY blk ORDER BY t)
        |            AS BIGINT) AS i,
        |          SUM(c) OVER (PARTITION BY blk ORDER BY t
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |          SUM(c) OVER (PARTITION BY blk) AS sx,
        |          COUNT(*) OVER (PARTITION BY blk) AS m
        |        FROM (SELECT (day - d0) // $b AS blk, day - d0 AS t, c
        |              FROM daily CROSS JOIN t0)))
        |    WHERE m = $b GROUP BY blk)
        |  WHERE rs IS NOT NULL)""".stripMargin
    s"""WITH daily AS (
      |  SELECT epoch_us(ts) // 86400000000 AS day,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1),
      |t0 AS (SELECT MIN(day) AS d0 FROM daily),
      |${sizeCte(3)},
      |${sizeCte(5)},
      |${sizeCte(10)},
      |per AS (
      |  SELECT * FROM rs3 UNION ALL SELECT * FROM rs5
      |  UNION ALL SELECT * FROM rs10),
      |t AS (
      |  SELECT CAST(round(ln(CAST(block_size AS DOUBLE)) * 1e9) AS BIGINT)
      |      AS x,
      |    CAST(round(ln(avg_rs) * 1e9) AS BIGINT) AS y
      |  FROM per WHERE avg_rs IS NOT NULL AND n_blocks > 0),
      |fit AS (
      |  SELECT CASE WHEN COUNT(*) >= 2 THEN
      |    ROUND(CAST(COUNT(*) * SUM(CAST(x AS HUGEINT) * y)
      |      - CAST(SUM(x) AS HUGEINT) * SUM(y) AS DOUBLE)
      |    / CAST(COUNT(*) * SUM(CAST(x AS HUGEINT) * x)
      |      - CAST(SUM(x) AS HUGEINT) * SUM(x) AS DOUBLE), 6) END AS hurst
      |  FROM t)
      |SELECT block_size, n_blocks, ROUND(avg_rs, 6) AS avg_rs, hurst
      |FROM per CROSS JOIN fit ORDER BY block_size""".stripMargin
  }

  /** q357: Mann–Kendall trend test + Sen's slope over daily purchase
    * revenue — the nonparametric "is this series actually trending"
    * verdict (monotonic-rank evidence, immune to the outliers that
    * bend q255's least-squares line; Sen's slope is the robust
    * cents/day estimate). S and the tie-corrected variance are exact
    * integers; the pairwise frame is |days|²-bounded (calendar-sized,
    * never event-sized); Sen's slope is the LOWER median by
    * (slope, day_i, day_j) order so both engines cut the same pair.
    */
  def q357MannKendall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = events(spark, dir)
      .filter($"event_type" === "purchase")
      .groupBy(expr("ts div 86400000000000").as("day"))
      .agg(sum(round($"value" * 100.0).cast("long")).as("y"))
      .localCheckpoint() // |days| rows
    val a = daily.select($"day".as("di"), $"y".as("yi"))
    val b = daily.select($"day".as("dj"), $"y".as("yj"))
    val pairs = a.join(b, $"di" < $"dj")
      .select($"di", $"dj", $"yi", $"yj",
        signum(($"yj" - $"yi").cast("double")).cast("long").as("sgn"),
        (($"yj" - $"yi").cast("double") / ($"dj" - $"di").cast("double"))
          .as("slope"))
      .localCheckpoint() // |days|²/2 rows
    val sAgg = pairs.agg(sum($"sgn").as("s"), count(lit(1)).as("np"))
    val n = daily.agg(count(lit(1)).as("n"))
    val ties = daily.groupBy($"y").agg(count(lit(1)).as("t"))
      .agg(coalesce(sum(expr("t * (t - 1) * (2 * t + 5)")), lit(0L))
        .as("tcorr"))
    val sen = pairs
      .withColumn("rn", row_number().over(
        Window.orderBy($"slope", $"di", $"dj")))
      .crossJoin(broadcast(sAgg.select($"np")))
      .filter($"rn" === expr("(np + 1) div 2"))
      .select($"slope".as("sen_slope"))
    sAgg.crossJoin(broadcast(n)).crossJoin(broadcast(ties))
      .crossJoin(broadcast(sen))
      .select($"n".as("n_days"), $"s".as("s_stat"),
        ((expr("n * (n - 1) * (2 * n + 5)") - $"tcorr").cast("double") / 18.0)
          .as("var_s"), $"sen_slope")
      .select($"n_days", $"s_stat", round($"var_s", 6).as("var_s"),
        round(when($"s_stat" > 0, ($"s_stat" - 1).cast("double") / sqrt($"var_s"))
          .when($"s_stat" < 0, ($"s_stat" + 1).cast("double") / sqrt($"var_s"))
          .otherwise(0.0), 6).as("z"),
        round($"sen_slope" / 100.0, 6).as("sen_slope_per_day"))
      .withColumn("trend",
        when($"z" > 1.959964, "increasing")
          .when($"z" < -1.959964, "decreasing").otherwise("none"))
  }

  val q357Sql: String =
    """WITH daily AS (
      |  SELECT epoch_us(ts) // 86400000000 AS day,
      |    CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS y
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |pairs AS (
      |  SELECT a.day AS di, b.day AS dj,
      |    CAST(CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1
      |      ELSE 0 END AS BIGINT) AS sgn,
      |    CAST(b.y - a.y AS DOUBLE) / CAST(b.day - a.day AS DOUBLE) AS slope
      |  FROM daily a JOIN daily b ON a.day < b.day),
      |sagg AS (SELECT CAST(SUM(sgn) AS BIGINT) AS s,
      |  CAST(COUNT(*) AS BIGINT) AS np FROM pairs),
      |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily),
      |ties AS (
      |  SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
      |    AS tcorr
      |  FROM (SELECT COUNT(*) AS t FROM daily GROUP BY y)),
      |sen AS (
      |  SELECT slope AS sen_slope FROM (
      |    SELECT slope, ROW_NUMBER() OVER (ORDER BY slope, di, dj) AS rn
      |    FROM pairs) CROSS JOIN sagg
      |  WHERE rn = (np + 1) // 2),
      |v AS (
      |  SELECT n, s,
      |    CAST(n * (n - 1) * (2 * n + 5) - tcorr AS DOUBLE) / 18.0 AS var_s,
      |    sen_slope
      |  FROM sagg CROSS JOIN nn CROSS JOIN ties CROSS JOIN sen),
      |o AS (
      |  SELECT n AS n_days, s AS s_stat, ROUND(var_s, 6) AS var_s,
      |    ROUND(CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE) / sqrt(var_s)
      |      WHEN s < 0 THEN CAST(s + 1 AS DOUBLE) / sqrt(var_s)
      |      ELSE 0.0 END, 6) AS z,
      |    ROUND(sen_slope / 100.0, 6) AS sen_slope_per_day
      |  FROM v)
      |SELECT n_days, s_stat, var_s, z, sen_slope_per_day,
      |  CASE WHEN z > 1.959964 THEN 'increasing'
      |    WHEN z < -1.959964 THEN 'decreasing' ELSE 'none' END AS trend
      |FROM o""".stripMargin

  /** q356: Holt–Winters additive seasonal smoothing (α=0.3, β=0.05,
    * γ=0.2, period 7) over daily purchase revenue + a 7-day projection
    * — the seasonal completion of the forecasting arc (q203 seasonal
    * naive, q231 decomposition, q255 OLS, q325 Holt): level + trend +
    * a rotating 7-slot seasonal state, initialized from the first two
    * weeks (level = week-1 mean, trend = week-over-week mean shift / 7,
    * seasonals = week-1 residuals). Like q325, the sequential recursion
    * is a DRIVER fold over the calendar-bounded daily frame (the data-
    * sized work is the one hash agg) and the oracle replays the
    * IDENTICAL IEEE arithmetic as a recursive CTE carrying the 7
    * seasonal slots as rotating columns — bit-exact before display
    * rounding. Series shorter than 14 days yield the empty frame.
    */
  def q356HoltWinters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = events(spark, dir)
      .filter($"event_type" === "purchase")
      .groupBy(expr("ts div 86400000000000").as("day"))
      .agg(sum(round($"value" * 100.0).cast("long")).as("cents"))
      .orderBy($"day")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val (alpha, beta, gamma) = (0.3, 0.05, 0.2)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Option[Long], Option[Double], Option[Double])]
    if (daily.length >= 14) {
      val y = daily.map(_._2.toDouble)
      var level = y.slice(0, 7).sum / 7.0
      var trend = (y.slice(7, 14).sum / 7.0 - y.slice(0, 7).sum / 7.0) / 7.0
      val sv = scala.collection.mutable.ArrayBuffer.tabulate(7)(i =>
        y(i) - y.slice(0, 7).sum / 7.0)
      for (t <- 7 until daily.length) {
        val sOld = sv(0) // the seasonal slot from 7 steps back
        val f = level + trend + sOld
        // literal complements (0.7/0.95/0.8), NOT computed (1.0 − α):
        // 1−0.05 and the literal 0.95 can differ by 1 ulp, and the
        // oracle CTE uses the literals
        val levelNew = alpha * (y(t) - sOld) + 0.7 * (level + trend)
        val trendNew = beta * (levelNew - level) + 0.95 * trend
        val sNew = gamma * (y(t) - levelNew) + 0.8 * sOld
        level = levelNew; trend = trendNew
        sv.remove(0); sv += sNew
        out += ((daily(t)._1, Some(daily(t)._2), Some(f), Some(y(t) - f)))
      }
      val lastDay = daily.last._1
      for (h <- 1 to 7)
        out += ((lastDay + h, None,
          Some(level + h.toDouble * trend + sv(h - 1)), None))
    }
    out.toSeq.toDF("day", "cents", "forecast", "resid")
      .select($"day", $"cents", round($"forecast", 6).as("forecast"),
        round($"resid", 6).as("resid"))
      .orderBy($"day")
  }

  val q356Sql: String =
    """WITH RECURSIVE daily AS (
      |  SELECT epoch_us(ts) // 86400000000 AS day,
      |    CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |d AS (
      |  SELECT ROW_NUMBER() OVER (ORDER BY day) AS i, day, cents,
      |    CAST(cents AS DOUBLE) AS y
      |  FROM daily),
      |nn AS (SELECT COUNT(*) AS n FROM d),
      |w1 AS (SELECT SUM(y) / 7.0 AS m1 FROM d WHERE i <= 7),
      |w2 AS (SELECT SUM(y) / 7.0 AS m2 FROM d WHERE i > 7 AND i <= 14),
      |r AS (
      |  SELECT 7 AS i,
      |    CAST(NULL AS BIGINT) AS day, CAST(NULL AS BIGINT) AS cents,
      |    m1 AS level, (m2 - m1) / 7.0 AS trend,
      |    (SELECT y FROM d WHERE i = 1) - m1 AS sa,
      |    (SELECT y FROM d WHERE i = 2) - m1 AS sb,
      |    (SELECT y FROM d WHERE i = 3) - m1 AS sc,
      |    (SELECT y FROM d WHERE i = 4) - m1 AS sd,
      |    (SELECT y FROM d WHERE i = 5) - m1 AS se,
      |    (SELECT y FROM d WHERE i = 6) - m1 AS sf,
      |    (SELECT y FROM d WHERE i = 7) - m1 AS sg,
      |    CAST(NULL AS DOUBLE) AS forecast, CAST(NULL AS DOUBLE) AS resid
      |  FROM w1 CROSS JOIN w2 CROSS JOIN nn WHERE n >= 14
      |  UNION ALL
      |  SELECT d.i, d.day, d.cents,
      |    0.3 * (d.y - r.sa) + 0.7 * (r.level + r.trend) AS level,
      |    0.05 * ((0.3 * (d.y - r.sa) + 0.7 * (r.level + r.trend))
      |      - r.level) + 0.95 * r.trend AS trend,
      |    r.sb, r.sc, r.sd, r.se, r.sf, r.sg,
      |    0.2 * (d.y - (0.3 * (d.y - r.sa) + 0.7 * (r.level + r.trend)))
      |      + 0.8 * r.sa AS sg,
      |    r.level + r.trend + r.sa AS forecast,
      |    d.y - (r.level + r.trend + r.sa) AS resid
      |  FROM r JOIN d ON d.i = r.i + 1),
      |hist AS (
      |  SELECT day, cents, ROUND(forecast, 6) AS forecast,
      |    ROUND(resid, 6) AS resid
      |  FROM r WHERE day IS NOT NULL),
      |fin AS (
      |  SELECT r.* FROM r CROSS JOIN nn WHERE r.i = n),
      |fc AS (
      |  SELECT (SELECT MAX(day) FROM daily) + CAST(h AS BIGINT) AS day,
      |    CAST(NULL AS BIGINT) AS cents,
      |    ROUND(level + h * trend + CASE h
      |      WHEN 1 THEN sa WHEN 2 THEN sb WHEN 3 THEN sc WHEN 4 THEN sd
      |      WHEN 5 THEN se WHEN 6 THEN sf ELSE sg END, 6) AS forecast,
      |    CAST(NULL AS DOUBLE) AS resid
      |  FROM fin CROSS JOIN
      |    (SELECT CAST(unnest(range(1, 8)) AS DOUBLE) AS h))
      |SELECT day, cents, forecast, resid FROM hist
      |UNION ALL SELECT day, cents, forecast, resid FROM fc
      |ORDER BY day""".stripMargin

  /** q359: forecast-accuracy scoreboard — seasonal-naive (lag-7),
    * Holt (q325) and Holt–Winters (q356) scored on their COMMON
    * in-sample days over the same daily purchase-cents series: MAE,
    * RMSE, MAPE and the τ=0.9 pinball loss (the quantile-service
    * metric — under-forecasting capacity is 9× worse than over). The
    * model-selection readout that closes the forecasting arc: one
    * table says which smoother earns its complexity. Residuals come
    * from the member cards (1e-6-grid doubles), every cross-day fold
    * is decimal/integer, and the member recursions are replayed
    * identically by the oracle's nested CTEs.
    */
  def q359ForecastScoreboard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val holt = q325HoltForecast(spark, dir)
      .filter($"resid".isNotNull).select($"day", $"resid".as("e_holt"))
    val hw = q356HoltWinters(spark, dir)
      .filter($"resid".isNotNull).select($"day", $"resid".as("e_hw"))
    val daily = events(spark, dir)
      .filter($"event_type" === "purchase")
      .groupBy(expr("ts div 86400000000000").as("day"))
      .agg(sum(round($"value" * 100.0).cast("long")).as("cents"))
    val naive = daily.as("t")
      .join(daily.select($"day" + 7, $"cents").toDF("day", "p"), Seq("day"))
      .select($"day", $"cents", ($"cents" - $"p").cast("double").as("e_naive"))
    val joined = naive.join(holt, Seq("day")).join(hw, Seq("day"))
      .selectExpr("day", "cents", """stack(3,
        'seasonal_naive', e_naive,
        'holt',           e_holt,
        'holt_winters',   e_hw) AS (method, e)""")
    // MAPE is only defined where the actual is nonzero: a zero-cent day
    // would yield Infinity → NULL after the decimal cast and silently
    // vanish from the numerator while still counting in n_days. Guard
    // explicitly: such days are excluded from BOTH the APE sum and its
    // denominator (mape is NULL if no day qualifies).
    joined.groupBy($"method")
      .agg(count(lit(1)).as("n_days"),
        sum(abs($"e").cast(DecimalType(38, 6))).as("sae"),
        sum($"e".cast(DecimalType(19, 6)) * $"e".cast(DecimalType(19, 6)))
          .as("sse"),
        sum(when($"cents" > 0, round(abs($"e") / $"cents", 9))
          .cast(DecimalType(38, 9))).as("sape"),
        sum(when($"cents" > 0, 1L).otherwise(0L)).as("n_mape"),
        sum(round(greatest($"e" * 0.9, $"e" * -0.1), 6)
          .cast(DecimalType(38, 6))).as("spin"))
      .select($"method", $"n_days",
        round($"sae".cast("double") / $"n_days" / 100.0, 4).as("mae"),
        round(sqrt($"sse".cast("double") / $"n_days") / 100.0, 4).as("rmse"),
        round($"sape".cast("double") / $"n_mape", 6).as("mape"),
        round($"spin".cast("double") / $"n_days" / 100.0, 4).as("pinball90"))
      .orderBy($"method")
  }

  val q359Sql: String =
    s"""WITH holt AS (
      |  SELECT day, resid AS e_holt FROM (${q325Sql.replace("\n", "\n  ")})
      |  WHERE resid IS NOT NULL),
      |hw AS (
      |  SELECT day, resid AS e_hw FROM (${q356Sql.replace("\n", "\n  ")})
      |  WHERE resid IS NOT NULL),
      |daily AS (
      |  SELECT epoch_us(ts) // 86400000000 AS day,
      |    CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |naive AS (
      |  SELECT t.day, t.cents,
      |    CAST(t.cents - p.cents AS DOUBLE) AS e_naive
      |  FROM daily t JOIN daily p ON p.day = t.day - 7),
      |joined AS (
      |  SELECT n.day, n.cents, m.method, m.e
      |  FROM naive n JOIN holt ON holt.day = n.day
      |  JOIN hw ON hw.day = n.day
      |  CROSS JOIN LATERAL (
      |    SELECT 'seasonal_naive' AS method, e_naive AS e
      |    UNION ALL SELECT 'holt', e_holt
      |    UNION ALL SELECT 'holt_winters', e_hw) m)
      |SELECT method, CAST(COUNT(*) AS BIGINT) AS n_days,
      |  ROUND(CAST(SUM(CAST(ABS(e) AS DECIMAL(38,6))) AS DOUBLE)
      |    / COUNT(*) / 100.0, 4) AS mae,
      |  ROUND(sqrt(CAST(SUM(CAST(e AS DECIMAL(19,6))
      |      * CAST(e AS DECIMAL(19,6))) AS DOUBLE) / COUNT(*)) / 100.0, 4)
      |    AS rmse,
      |  ROUND(CAST(SUM(CASE WHEN cents > 0
      |      THEN CAST(ROUND(ABS(e) / cents, 9) AS DECIMAL(38,9)) END)
      |    AS DOUBLE) / SUM(CASE WHEN cents > 0 THEN 1 ELSE 0 END), 6)
      |    AS mape,
      |  ROUND(CAST(SUM(CAST(ROUND(GREATEST(e * 0.9, e * -0.1), 6)
      |    AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) / 100.0, 4) AS pinball90
      |FROM joined GROUP BY method ORDER BY method""".stripMargin

  /** q361: Wald–Wolfowitz runs test on daily event volume — is the
    * above/below-mean sequence RANDOM, or do high days clump (the
    * binary-sequence cousin of q349's Hurst and q172's autocorrelation:
    * runs sees regime stickiness those miss when magnitudes wash out)?
    * The above/below flag is a CROSS-MULTIPLIED exact compare
    * (c·n > Σc — the mean is never a float), runs count via one lag
    * window over the |days| frame, and E[R]/Var[R] are the closed-form
    * integer expressions with one sqrt at the end.
    */
  def q361RunsTest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = events(spark, dir)
      .groupBy(expr("ts div 86400000000000").as("day"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val tot = daily.agg(count(lit(1)).as("n"), sum($"c").as("sx"))
    val flagged = daily.crossJoin(broadcast(tot))
      .select($"day", when($"c" * $"n" > $"sx", 1L).otherwise(0L).as("b"))
    val w = Window.orderBy($"day")
    val runs = flagged
      .withColumn("prev", lag($"b", 1).over(w))
      .agg(sum(when($"prev".isNull || $"b" =!= $"prev", 1L).otherwise(0L))
        .as("runs"),
        sum($"b").as("n1"), sum(lit(1L) - $"b").as("n2"))
    runs
      .select($"runs", $"n1".as("n_above"), $"n2".as("n_below"),
        (lit(2.0) * $"n1" * $"n2" / ($"n1" + $"n2") + 1.0).as("expected"),
        ((lit(2.0) * $"n1" * $"n2" *
          (lit(2.0) * $"n1" * $"n2" - ($"n1" + $"n2"))) /
          (($"n1" + $"n2").cast("double") * ($"n1" + $"n2").cast("double") *
            ($"n1" + $"n2" - 1).cast("double"))).as("varr"))
      .select(($"n_above" + $"n_below").as("n_days"), $"n_above", $"n_below",
        $"runs", round($"expected", 6).as("expected_runs"),
        round(when($"varr" > 0,
          ($"runs".cast("double") - $"expected") / sqrt($"varr"))
          .otherwise(0.0), 6).as("z"))
  }

  val q361Sql: String =
    """WITH daily AS (
      |  SELECT epoch_us(ts) // 86400000000 AS day,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(c) AS BIGINT) AS sx FROM daily),
      |flagged AS (
      |  SELECT day, CASE WHEN c * n > sx THEN 1 ELSE 0 END AS b
      |  FROM daily CROSS JOIN tot),
      |r AS (
      |  SELECT CAST(SUM(CASE WHEN prev IS NULL OR b <> prev THEN 1
      |      ELSE 0 END) AS BIGINT) AS runs,
      |    CAST(SUM(b) AS BIGINT) AS n1,
      |    CAST(SUM(1 - b) AS BIGINT) AS n2
      |  FROM (SELECT b, LAG(b) OVER (ORDER BY day) AS prev FROM flagged)),
      |e AS (
      |  SELECT runs, n1, n2,
      |    2.0 * n1 * n2 / (n1 + n2) + 1.0 AS expected,
      |    (2.0 * n1 * n2 * (2.0 * n1 * n2 - (n1 + n2)))
      |      / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)
      |        * CAST(n1 + n2 - 1 AS DOUBLE)) AS varr
      |  FROM r)
      |SELECT n1 + n2 AS n_days, n1 AS n_above, n2 AS n_below, runs,
      |  ROUND(expected, 6) AS expected_runs,
      |  ROUND(CASE WHEN varr > 0
      |    THEN (CAST(runs AS DOUBLE) - expected) / sqrt(varr)
      |    ELSE 0.0 END, 6) AS z
      |FROM e""".stripMargin

  val queries: Seq[(String, Q)] = Seq(
    "q361_runs_test" -> (q361RunsTest _),
    "q359_forecast_scoreboard" -> (q359ForecastScoreboard _),
    "q356_holt_winters" -> (q356HoltWinters _),
    "q357_mann_kendall" -> (q357MannKendall _),
    "q349_hurst_rs" -> (q349HurstRs _),
    "q347_engagement_decay" -> (q347EngagementDecay _),
    "q343_hill_tail" -> (q343HillTail _),
    "q344_weekly_spectrum" -> (q344WeeklySpectrum _),
    "q345_moment_shape" -> (q345MomentShape _),
    "q341_gumbel_extremes" -> (q341GumbelExtremes _),
    "q322_growth_accounting" -> (q322GrowthAccounting _),
    "q323_shapley_attribution" -> (q323ShapleyAttribution _),
    "q325_holt_forecast" -> (q325HoltForecast _),
    "q321_ordering_audit" -> (q321OrderingAudit _),
    "q312_reconciliation" -> (q312Reconciliation _),
    "q313_shard_split_advisor" -> (q313ShardSplitAdvisor _),
    "q314_anova" -> (q314Anova _),
    "q315_kruskal_wallis" -> (q315KruskalWallis _),
    "q310_watermark_advisor" -> (q310WatermarkAdvisor _),
    "q308_ltv_curve" -> (q308LtvCurve _),
    "q306_capability" -> (q306Capability _),
    "q305_control_chart" -> (q305ControlChart _),
    "q304_sprt" -> (q304Sprt _),
    "q303_json_conformance" -> (q303JsonConformance _),
    "q302_freshness_monitor" -> (q302FreshnessMonitor _),
    "q300_slo_burn" -> (q300SloBurn _),
    "q295_anomaly_slices" -> (q295AnomalySlices _),
    "q291_training_assembly" -> (q291TrainingAssembly _),
    "q287_markov_attribution" -> (q287MarkovAttribution _),
    "q282_snapshot_diff" -> (q282SnapshotDiff _),
    "q278_quantile_effects" -> (q278QuantileEffects _),
    "q277_propensity_strat" -> (q277PropensityStrat _),
    "q276_iv_wald" -> (q276IvWald _),
    "q275_srm_check" -> (q275SrmCheck _),
    "q272_regression_discontinuity" -> (q272RegressionDiscontinuity _),
    "q271_diff_in_diff" -> (q271DiffInDiff _),
    "q270_sequential_monitor" -> (q270SequentialMonitor _),
    "q267_power_planner" -> (q267PowerPlanner _),
    "q266_cuped_card" -> (q266CupedCard _),
    "q252_activity_heatmap" -> (q252ActivityHeatmap _),
    "q248_attribution_compare" -> (q248AttributionCompare _),
    "q250_lookback_sweep" -> (q250LookbackSweep _),
    "q244_session_card" -> (q244SessionCard _),
    "q241_leadlag_xcorr" -> (q241LeadLagXcorr _),
    "q242_trigram_paths" -> (q242TrigramPaths _),
    "q243_late_data_audit" -> (q243LateDataAudit _),
    "q231_seasonal_decomposition" -> (q231SeasonalDecomposition _),
    "q220_logrank" -> (q220LogRank _),
    "q219_kaplan_meier" -> (q219KaplanMeier _),
    "q217_mantel_haenszel" -> (q217MantelHaenszel _),
    "q218_churn_halflife" -> (q218ChurnHalflife _),
    "q216_streak_histogram" -> (q216StreakHistogram _),
    "q213_two_proportion_z" -> (q213TwoProportionZ _),
    "q214_benford_audit" -> (q214BenfordAudit _),
    "q212_rolling_reach_sketch" -> (q212RollingReachSketch _),
    "q211_volume_anomalies" -> (q211VolumeAnomalies _),
    "q210_weekly_deltas" -> (q210WeeklyDeltas _),
    "q209_type_affinity" -> (q209TypeAffinity _),
    "q207_transition_entropy" -> (q207TransitionEntropy _),
    "q203_seasonal_naive" -> (q203SeasonalNaive _),
    "q204_theil_sen" -> (q204TheilSen _),
    "q198_user_growth" -> (q198UserGrowth _),
    "q199_convert_latency" -> (q199ConvertLatency _),
    "q200_decayed_engagement" -> (q200DecayedEngagement _),
    "q197_session_conversion" -> (q197SessionConversion _),
    "q195_skew_card" -> (q195SkewCard _),
    "q193_asof_nearest" -> (q193AsofNearest _),
    "q188_bootstrap_ci" -> (q188BootstrapCi _),
    "q189_weekday_profile" -> (q189WeekdayProfile _),
    "q181_mannwhitney" -> (q181MannWhitney _),
    "q182_chi2_drift" -> (q182Chi2Drift _),
    "q183_ewma_daily" -> (q183EwmaDaily _),
    "q187_rolling_distinct" -> (q187RollingDistinct _),
    "q179_daily_dispersion" -> (q179DailyDispersion _),
    "q174_changepoint" -> (q174Changepoint _),
    "q170_welch_ttest" -> (q170WelchTtest _),
    "q171_js_divergence" -> (q171JsDivergence _),
    "q172_daily_autocorr" -> (q172DailyAutocorr _),
    "q163_ks_drift" -> (q163KsDrift _),
    "q166_interarrival_quantiles" -> (q166InterarrivalQuantiles _),
    "q168_psi_drift" -> (q168PsiDrift _),
    "q152_attribution" -> (q152Attribution _),
    "q153_cohort_retention" -> (q153CohortRetention _),
    "q146_next_event_pairs" -> (q146NextEventPairs _),
    "q104_funnel" -> (q104Funnel _),
    "q109_sliding_window" -> (q109SlidingWindow _),
    "q113_scd2_history" -> (q113Scd2History _),
    "q132_scd2_snapshot" -> (q132Scd2Snapshot _),
    "q105_gap_fill" -> (q105GapFill _),
    "q23_json_extract" -> (q23JsonExtract _),
    "q24_cdc_latest" -> (q24CdcLatest _),
    "q25_checkpoint_maxby" -> (q25CheckpointMaxby _),
    "q26_gate_semijoin" -> (q26GateSemijoin _),
    "q27_asof_join" -> (q27AsofJoin _),
    "q148_asof_forward" -> (q148AsofForward _),
    "q28_interval_pairs" -> (q28IntervalPairs _),
    "q29_sessionize" -> (q29Sessionize _),
    "q30_tumbling_window" -> (q30TumblingWindow _),
    "q31_repl_metrics" -> (q31ReplMetrics _),
    "q119_repl_lag_pcts" -> (q119ReplLagPercentiles _))

  val oracles: Seq[(String, String)] = Seq(
    "q361_runs_test" -> q361Sql,
    "q359_forecast_scoreboard" -> q359Sql,
    "q356_holt_winters" -> q356Sql,
    "q357_mann_kendall" -> q357Sql,
    "q349_hurst_rs" -> q349Sql,
    "q347_engagement_decay" -> q347Sql,
    "q343_hill_tail" -> q343Sql,
    "q344_weekly_spectrum" -> q344Sql,
    "q345_moment_shape" -> q345Sql,
    "q341_gumbel_extremes" -> q341Sql,
    "q322_growth_accounting" -> q322Sql,
    "q323_shapley_attribution" -> q323Sql,
    "q325_holt_forecast" -> q325Sql,
    "q321_ordering_audit" -> q321Sql,
    "q312_reconciliation" -> q312Sql,
    "q313_shard_split_advisor" -> q313Sql,
    "q314_anova" -> q314Sql,
    "q315_kruskal_wallis" -> q315Sql,
    "q310_watermark_advisor" -> q310Sql,
    "q308_ltv_curve" -> q308Sql,
    "q306_capability" -> q306Sql,
    "q305_control_chart" -> q305Sql,
    "q304_sprt" -> q304Sql,
    "q303_json_conformance" -> q303Sql,
    "q302_freshness_monitor" -> q302Sql,
    "q300_slo_burn" -> q300Sql,
    "q295_anomaly_slices" -> q295Sql,
    "q291_training_assembly" -> q291Sql,
    "q287_markov_attribution" -> q287Sql,
    "q282_snapshot_diff" -> q282Sql,
    "q278_quantile_effects" -> q278Sql,
    "q277_propensity_strat" -> q277Sql,
    "q276_iv_wald" -> q276Sql,
    "q275_srm_check" -> q275Sql,
    "q272_regression_discontinuity" -> q272Sql,
    "q271_diff_in_diff" -> q271Sql,
    "q270_sequential_monitor" -> q270Sql,
    "q267_power_planner" -> q267Sql,
    "q266_cuped_card" -> q266Sql,
    "q252_activity_heatmap" -> q252Sql,
    "q248_attribution_compare" -> q248Sql,
    "q250_lookback_sweep" -> q250Sql,
    "q244_session_card" -> q244Sql,
    "q241_leadlag_xcorr" -> q241Sql,
    "q242_trigram_paths" -> q242Sql,
    "q243_late_data_audit" -> q243Sql,
    "q231_seasonal_decomposition" -> q231Sql,
    "q220_logrank" -> q220Sql,
    "q219_kaplan_meier" -> q219Sql,
    "q217_mantel_haenszel" -> q217Sql,
    "q218_churn_halflife" -> q218Sql,
    "q216_streak_histogram" -> q216Sql,
    "q213_two_proportion_z" -> q213Sql,
    "q214_benford_audit" -> q214Sql,
    "q211_volume_anomalies" -> q211Sql,
    "q210_weekly_deltas" -> q210Sql,
    "q209_type_affinity" -> q209Sql,
    "q207_transition_entropy" -> q207Sql,
    "q203_seasonal_naive" -> q203Sql,
    "q204_theil_sen" -> q204Sql,
    "q198_user_growth" -> q198Sql,
    "q199_convert_latency" -> q199Sql,
    "q200_decayed_engagement" -> q200Sql,
    "q197_session_conversion" -> q197Sql,
    "q195_skew_card" -> q195Sql,
    "q193_asof_nearest" -> q193Sql,
    "q188_bootstrap_ci" -> q188Sql,
    "q189_weekday_profile" -> q189Sql,
    "q181_mannwhitney" -> q181Sql,
    "q182_chi2_drift" -> q182Sql,
    "q183_ewma_daily" -> q183Sql,
    "q187_rolling_distinct" -> q187Sql,
    "q174_changepoint" -> q174Sql,
    "q179_daily_dispersion" -> q179Sql,
    "q170_welch_ttest" -> q170Sql,
    "q171_js_divergence" -> q171Sql,
    "q172_daily_autocorr" -> q172Sql,
    "q163_ks_drift" -> q163Sql,
    "q166_interarrival_quantiles" -> q166Sql,
    "q168_psi_drift" -> q168Sql,
    "q152_attribution" -> q152Sql,
    "q153_cohort_retention" -> q153Sql,
    "q146_next_event_pairs" -> q146Sql,
    "q104_funnel" -> q104Sql,
    "q109_sliding_window" -> q109Sql,
    "q113_scd2_history" -> q113Sql,
    "q132_scd2_snapshot" -> q132Sql,
    "q105_gap_fill" -> q105Sql,
    "q23_json_extract" -> q23Sql,
    "q24_cdc_latest" -> q24Sql,
    "q25_checkpoint_maxby" -> q25Sql,
    "q26_gate_semijoin" -> q26Sql,
    "q27_asof_join" -> q27Sql,
    "q148_asof_forward" -> q148Sql,
    "q28_interval_pairs" -> q28Sql,
    "q29_sessionize" -> q29Sql,
    "q30_tumbling_window" -> q30Sql,
    "q31_repl_metrics" -> q31Sql,
    "q119_repl_lag_pcts" -> q119Sql)
}
