package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** One stream's share of a micro-batch: the commit timestamp of its
  * highest sequence number (the checkpoint row, op 7), its record count
  * and its latest arrival in epoch micros (the metrics row, op 8).
  */
case class StreamSummary(streamName: String, lastReplicatedCommitTimestamp: String,
    lastSequenceNumber: String, records: Long, lastArrivalMicros: Option[Long]) {

  /** This summary and `o` (the same stream) as one: the commit timestamp
    * follows the higher sequence number
    * ([[graft.functions.Parsing.sequenceOrderKey]]), this one's on a tie.
    */
  def merge(o: StreamSummary): StreamSummary = {
    val later = if (o.lastSequenceNumber != null && (lastSequenceNumber == null ||
      StreamSummary.seqOrder.gt(o.lastSequenceNumber, lastSequenceNumber))) o else this
    val arrival = (lastArrivalMicros, o.lastArrivalMicros) match {
      case (Some(a), Some(b)) => Some(math.max(a, b))
      case (a, b) => a.orElse(b)
    }
    StreamSummary(streamName, later.lastReplicatedCommitTimestamp, later.lastSequenceNumber,
      records + o.records, arrival)
  }
}

object StreamSummary {
  private val seqOrder: Ordering[String] =
    Ordering.by(graft.functions.Parsing.sequenceOrderKey)
}

/** The whole micro-batch as one typed aggregate: the buffer maps
  * streamName to its running [[StreamSummary]], so a row costs one hash
  * lookup however many streams the batch holds. Each input row is a
  * one-record summary.
  */
object BatchSummary extends Aggregator[StreamSummary,
    scala.collection.mutable.HashMap[String, StreamSummary], Seq[StreamSummary]] {
  type Buf = scala.collection.mutable.HashMap[String, StreamSummary]

  override def zero: Buf = new Buf
  override def reduce(b: Buf, s: StreamSummary): Buf = {
    b.updateWith(s.streamName)(prior => Some(prior.fold(s)(_.merge(s))))
    b
  }
  override def merge(b1: Buf, b2: Buf): Buf = { b2.valuesIterator.foreach(reduce(b1, _)); b1 }
  override def finish(b: Buf): Seq[StreamSummary] = b.values.toSeq.sortBy(s => Option(s.streamName))
  override def bufferEncoder: Encoder[Buf] = Encoders.javaSerialization[Buf]
  override def outputEncoder: Encoder[Seq[StreamSummary]] = ExpressionEncoder()
}

/** The reference pipeline (SURVEY.md §2.A ops 1–10) re-expressed as one
  * Structured Streaming job: Kinesis-shaped source → active-region gate
  * (a driver-collected stream list, op 3) → decode + JSON extraction
  * (ops 4–5) → per-micro-batch forward to the target-region table (op 6)
  * + checkpoint upsert (op 7) + metrics (ops 8/10). One micro-batch ≡ one
  * Lambda invocation (SURVEY §3.1).
  *
  * Designed-in improvements over the reference (SURVEY §4):
  *   - the per-record `putRecord`/`PutItem` loop (Handler.java:84-85)
  *     becomes batched writes + ONE checkpoint row per (stream, batch) —
  *     O(streams) instead of O(records) writes;
  *   - offset recovery comes from Structured Streaming's
  *     `checkpointLocation`. The CHECKPOINT TABLE is idempotent under
  *     batch replay (last-writer-wins partition overwrite); the record
  *     TARGET is append-mode and therefore at-least-once — a replayed
  *     micro-batch duplicates its records there, exactly the duplicate-
  *     acceptance semantics the reference documents (README.md:72-75;
  *     SURVEY §7.4 covers the coarser-than-per-record resume granularity).
  *
  * Scale: a micro-batch runs 4 Spark jobs — the config read, the forward
  * write, the checkpoint write and the metrics write — and shuffles
  * nothing. The forward write runs straight from the scan tasks, sorted
  * within each task by (streamName, sequence order), and carries the
  * [[BatchSummary]] observation that the checkpoint and metrics rows are
  * written from. The target therefore gets one file per stream per input
  * split each micro-batch, each ordered by sequence number;
  * [[maintainTarget]] compacts them.
  */
object Replicator {

  val payloadSchema: StructType = StructType(Seq(
    StructField("key", LongType),
    StructField("commitTimestamp", StringType)))

  /** The columns the gate reads from `configDir`; other columns are ignored. */
  private val configSchema: StructType = StructType(Seq(
    StructField("streamName", StringType),
    StructField("activeRegion", StringType)))

  /** Op 2: stream name from the event-source ARN (Handler.java:169-171). */
  def streamNameCol(arn: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    split(split(arn, ":").getItem(5), "/").getItem(1)

  /** Ops 3's config validation, on the driver over the ≤ #streams config
    * rows: a stream is active iff it has exactly one config row whose
    * region case-insensitively equals `currentRegion`
    * (Handler.java:152-166: missing → inactive, duplicate → inactive,
    * mismatch → inactive).
    */
  def activeStreams(config: DataFrame, currentRegion: String): Seq[String] =
    config.select("streamName", "activeRegion").collect().toSeq
      .groupBy(_.getString(0))
      .collect { case (name, Seq(row)) if name != null &&
        currentRegion.equalsIgnoreCase(row.getString(1)) => name }
      .toSeq.sorted

  /** Ops 4+5: decode payload bytes to UTF-8 once and extract the CDC
    * fields (schema-on-read, commitTimestamp kept as string —
    * Handler.java:74,86).
    */
  def parse(records: DataFrame): DataFrame = {
    val json = from_json(col("data").cast("string"), payloadSchema)
    records
      .withColumn("cdc_key", json.getField("key"))
      .withColumn("commitTimestamp", json.getField("commitTimestamp"))
  }

  /** [[BatchSummary]] over parsed records: one array of per-stream
    * summaries, sorted by streamName.
    */
  private def summaryCol: Column = udaf(BatchSummary).apply(
    col("streamName"), col("commitTimestamp"), col("sequenceNumber"), lit(1L),
    unix_micros(col("approximateArrivalTimestamp")))

  /** Ops 7+8 as one batch aggregate: a [[StreamSummary]] row per stream. */
  def summary(batch: DataFrame): DataFrame =
    batch.select(summaryCol.as("streams")).select(explode(col("streams")).as("s")).select("s.*")

  /** The full pipeline: returns a started streaming query writing
    *   - forwarded records → `targetDir` (partitioned by streamName,
    *     in-file ordered by sequence number — op 6),
    *   - checkpoint upserts → `checkpointTableDir` (dynamic partition
    *     overwrite = last-writer-wins per stream — op 7),
    *   - metrics → `metricsDir` (append, best-effort — ops 8/10). A
    *     batch whose forward write fails writes its rows with
    *     `successful = 0`, then fails.
    *
    * The gate re-reads `configDir` every micro-batch, so a failover (flip
    * of the activeRegion row, SURVEY §3.2) takes effect on the next batch
    * without a restart.
    */
  def run(
      spark: SparkSession,
      records: DataFrame,
      configDir: String,
      currentRegion: String,
      targetDir: String,
      checkpointTableDir: String,
      metricsDir: String,
      streamCheckpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    parse(records)
      .writeStream
      .option("checkpointLocation", streamCheckpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        runBatch(spark, batch, batchId, configDir, currentRegion, targetDir,
          checkpointTableDir, metricsDir)
        ()
      }
      .start()
  }

  private def runBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      configDir: String, currentRegion: String, targetDir: String,
      checkpointTableDir: String, metricsDir: String): Unit = {
    // Op 3: ≤ #streams names, so the gate is a plain filter on the scan.
    val active = activeStreams(spark.read.schema(configSchema).parquet(configDir), currentRegion)
    if (active.isEmpty) return
    // Op 6: batched forward, shard order restored within each file; the
    // same pass observes the per-stream summary.
    val observed = Observation()
    val forwarded = batch.filter(col("streamName").isin(active: _*))
    try forwarded
      .sortWithinPartitions(col("streamName"), length(col("sequenceNumber")), col("sequenceNumber"))
      .select("streamName", "partitionKey", "sequenceNumber", "data",
        "approximateArrivalTimestamp", "cdc_key", "commitTimestamp")
      .observe(observed, summaryCol.as("streams"))
      .write.mode("append").partitionBy("streamName").parquet(targetDir)
    catch { case e: Exception =>
      // the reference's ReportBatchItemFailures (template.yaml:115-116):
      // report the batch's records as not forwarded, then fail the batch
      // so that it is redelivered. Only this path re-reads the batch.
      writeMetrics(summary(forwarded), lit(0L), metricsDir, batchId)
      throw e
    }
    val streams = observed.get("streams").asInstanceOf[Seq[Row]]
    if (streams.isEmpty) return
    val summaries = spark.createDataFrame(streams.asJava,
      Encoders.product[StreamSummary].schema)
    // Op 7: one checkpoint row per stream, last-writer-wins. The
    // dynamic overwrite is scoped to THIS write (not session conf)
    // so unrelated overwrite writes keep their default semantics.
    summaries.select("streamName", "lastReplicatedCommitTimestamp")
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("streamName").parquet(checkpointTableDir)
    writeMetrics(summaries, col("records"), metricsDir, batchId)
  }

  /** Ops 8/10: the reference's per-batch metrics (Handler.java:94-98) —
    * batch size, successes, replication lag vs the latest arrival — one
    * row per [[StreamSummary]], failures swallowed (Handler.java:120-122).
    */
  private def writeMetrics(summaries: DataFrame, successful: Column, metricsDir: String,
      batchId: Long): Unit = {
    val nowMs = System.currentTimeMillis()
    try summaries.select(
        col("streamName"),
        col("records").as("batchSize"),
        successful.as("successful"),
        ((lit(nowMs) - unix_millis(timestamp_micros(col("lastArrivalMicros")))) / 1000.0)
          .as("replicationLagSeconds"),
        lit(batchId).as("batchId"))
      .write.mode("append").parquet(metricsDir)
    catch { case e: Exception => System.err.println(s"[replicator] metrics write failed: $e") }
  }

  /** Post-run maintenance for the op-6 target table: streaming appends
    * leave one file per stream per input split each micro-batch, which at
    * production batch cadence degrades every later scan
    * (footer-per-file overhead, no row-group locality).
    * [[Maintenance.compact]] rewrites the table to ≤ `filesPerPartition`
    * files per streamName; `bucketTable = Some((name, buckets))`
    * additionally re-publishes it as a catalog table bucketed+sorted on
    * streamName, so repeated downstream per-stream joins/aggregations
    * run shuffle-free ([[graft.api.Layout]]). Run between streaming
    * restarts (the compaction swap must not race a live appender).
    */
  def maintainTarget(spark: SparkSession, targetDir: String,
      filesPerPartition: Int = 1,
      bucketTable: Option[(String, Int)] = None): Unit = {
    Maintenance.compact(spark, targetDir, "streamName", filesPerPartition)
    bucketTable.foreach { case (name, buckets) =>
      graft.api.Layout.writeBucketed(spark.read.parquet(targetDir), name,
        buckets, Seq("streamName"), Seq("streamName"))
    }
  }
}
