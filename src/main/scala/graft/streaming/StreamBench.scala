package graft.streaming

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Replicator throughput micro-benchmark — the direct BASELINE.md
  * comparison for the reference's own workload. The reference forwards
  * records one synchronous cross-region putRecord + one PutItem at a
  * time (`Handler.java:72-89`), an implied ceiling of order 10–10²
  * records/second per function instance (BASELINE.md; throughput ≈
  * 1/(2·RTT)). This harness runs the SAME semantics (gate → decode →
  * JSON extract → ordered batched sink → checkpoint upsert →
  * metrics) as the Spark pipeline over N synthetic Kinesis-shaped
  * records and reports end-to-end records/second on one node.
  *
  * Usage: runMain graft.streaming.StreamBench [nRecords] — prints one
  * JSON line {"metric":"replicator_rec_per_sec", ...}.
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val nRecords = args.headOption.map(_.toLong).getOrElse(2000000L)
    val cpus = SparkEntry.cpus
    val outDir = java.nio.file.Files.createTempDirectory("streambench").toString
    val spark = SparkEntry.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // synthetic CDC records, the documented payload shape (README.md:120-125)
    val recordsDir = s"$outDir/records"
    spark.range(0L, nRecords, 1L, cpus.toInt)
      .select(
        to_json(struct(
          col("id").as("key"),
          date_format(timestamp_seconds(lit(1700000000L) + col("id") % 86400),
            "yyyy-MM-dd'T'HH:mm:ss'Z'").as("commitTimestamp"))).cast("binary").as("data"),
        pmod(col("id"), lit(97)).cast("string").as("partitionKey"),
        format_string("%020d", col("id")).as("sequenceNumber"),
        timestamp_seconds(lit(1700000000L) + col("id") % 86400)
          .as("approximateArrivalTimestamp"),
        concat(lit("kds-stream-"), pmod(col("id"), lit(4))).as("streamName"))
      .write.mode("overwrite").parquet(recordsDir)
    Seq(("kds-stream-0", "us-east-1"), ("kds-stream-1", "us-east-1"),
        ("kds-stream-2", "us-east-1"), ("kds-stream-3", "us-east-1"))
      .toDF("streamName", "activeRegion")
      .write.mode("overwrite").parquet(s"$outDir/config")

    // time the full pipeline: source scan → gate → decode/extract →
    // ordered sink + checkpoint upsert + metrics, until drained
    val stream = graft.sources.KinesisShapedSource.fromParquetDir(spark, recordsDir)
    val t0 = System.nanoTime()
    val q = Replicator.run(spark, stream, s"$outDir/config", "us-east-1",
      s"$outDir/target", s"$outDir/checkpointTable", s"$outDir/metrics",
      s"$outDir/streamCheckpoint")
    q.awaitTermination()
    val dt = (System.nanoTime() - t0) / 1e9
    val forwarded = spark.read.parquet(s"$outDir/target").count()
    require(forwarded == nRecords, s"forwarded $forwarded of $nRecords")
    val recPerSec = forwarded / dt
    println(s"""{"metric":"replicator_rec_per_sec","value":${recPerSec.round},"unit":"rec/s","records":$forwarded,"seconds":$dt,"reference_implied_ceiling":"10-100 rec/s (BASELINE.md, synchronous per-record cross-region puts)"}""")
    spark.stop()
  }
}
