package graft.streaming

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Runnable example of the replicator pipeline on synthetic Kinesis-shaped
  * records derived from the `events` table (FIXTURES.md role mapping:
  * event_type ≈ streamName, user_id ≈ partitionKey, event_id ≈ sequence).
  *
  * Usage: runMain graft.streaming.ReplicatorDemo [sfDir] [outDir]
  */
object ReplicatorDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("replicator-demo").toString)
    val cpus = SparkEntry.cpus
    val spark = SparkEntry.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // Kinesis-shaped source table from events (file source plays the stream).
    val recordsDir = s"$outDir/records"
    graft.sources.KinesisShapedSource.fromEvents(spark, sfDir)
      .write.mode("overwrite").parquet(recordsDir)

    val cfgDir = s"$outDir/config"
    Seq(("click", "us-east-1"), ("error", "us-east-1"), ("purchase", "eu-west-1"))
      .toDF("streamName", "activeRegion")
      .write.mode("overwrite").parquet(cfgDir)

    val stream = graft.sources.KinesisShapedSource.fromParquetDir(spark, recordsDir)
    val q = Replicator.run(spark, stream, cfgDir, "us-east-1",
      s"$outDir/target", s"$outDir/checkpointTable", s"$outDir/metrics",
      s"$outDir/streamCheckpoint")
    q.awaitTermination(120000)

    // post-run maintenance: compact the many small micro-batch files and
    // publish a bucketed copy for shuffle-free per-stream joins
    val filesBefore = Maintenance.dataFileCount(s"$outDir/target")
    Replicator.maintainTarget(spark, s"$outDir/target",
      filesPerPartition = 1, bucketTable = Some(("replicator_target_b", 4)))
    println(s"[demo] target data files: $filesBefore -> " +
      s"${Maintenance.dataFileCount(s"$outDir/target")} after compaction")

    println(s"[demo] outDir=$outDir")
    println("[demo] forwarded per stream:")
    spark.read.parquet(s"$outDir/target").groupBy("streamName").count().show()
    println("[demo] checkpoint table:")
    spark.read.parquet(s"$outDir/checkpointTable").show(false)
    println("[demo] metrics:")
    spark.read.parquet(s"$outDir/metrics").show(false)
    spark.stop()
  }
}
