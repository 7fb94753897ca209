package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** End-to-end tests of the Structured Streaming replicator against the
  * reference's documented semantics (SURVEY §2.A): gate behavior on
  * missing/duplicate/mismatched config rows (Handler.java:152-166),
  * checkpoint = commitTimestamp of the max-sequence record (op 7),
  * partition-key preservation (op 6), restart-and-resume from the stream
  * checkpoint (op 9's Spark replacement).
  */
class ReplicatorSpec extends SparkSpec {

  private def rec(stream: String, pk: String, seq: String, ts: Long, key: Long,
      commit: String): KinesisRecord =
    KinesisRecord(
      s"""{"key": $key, "commitTimestamp": "$commit"}""".getBytes("UTF-8"),
      pk, seq, new Timestamp(ts), stream)

  private def configDf = {
    import spark.implicits._
    Seq(
      ("s-active", "us-east-1"),
      ("s-elsewhere", "eu-west-1"),
      ("s-dup", "us-east-1"),
      ("s-dup", "eu-west-1")).toDF("streamName", "activeRegion")
  }

  test("activeStreams: unique + case-insensitive region match only (Handler.java:152-166)") {
    val active = Replicator.activeStreams(configDf, "US-EAST-1")
    assert(active.toSet === Set("s-active")) // dup excluded, elsewhere excluded, missing absent
  }

  test("parse: UTF-8 decode + JSON extraction keeps commitTimestamp a string (Handler.java:74,86)") {
    import spark.implicits._
    val df = Replicator.parse(Seq(rec("s", "1", "49", 1000L, 2049761200L, "2021-10-12T19:16:14Z")).toDS().toDF())
    val row = df.select($"cdc_key", $"commitTimestamp").head()
    assert(row.getLong(0) === 2049761200L)
    assert(row.getString(1) === "2021-10-12T19:16:14Z")
    assert(df.schema("commitTimestamp").dataType.typeName === "string")
  }

  test("summary: checkpoint uses numeric sequence order, not lexicographic") {
    import spark.implicits._
    // seq "9" < "10" numerically ordered ⇒ winner is seq "10"
    val batch = Replicator.parse(Seq(
      rec("s", "1", "9", 1000L, 1L, "2021-01-01T00:00:09Z"),
      rec("s", "1", "10", 2000L, 2L, "2021-01-01T00:00:10Z")).toDS().toDF())
    val cp = Replicator.summary(batch).head()
    assert(cp.getString(1) === "2021-01-01T00:00:10Z")
  }

  test("summary equals groupBy + max_by over a seeded 64-stream batch on several partitions") {
    import spark.implicits._
    val rnd = new scala.util.Random(64)
    // distinct sequence numbers of 1-7 digits, so (length, lex) order and
    // plain string order disagree; some arrivals unknown, one stream never
    // has one
    val seqs = rnd.shuffle((1 to 3000).map(i => (i.toLong * i).toString))
    val rows = seqs.zipWithIndex.map { case (seq, i) =>
      val stream = s"s-${rnd.nextInt(64)}"
      val arrival = if (stream == "s-7" || rnd.nextInt(20) == 0) None
        else Some(new Timestamp(1600000000000L + rnd.nextInt(1000000000)))
      (stream, seq, s"commit-$i", arrival)
    }
    val batch = rows.toDF("streamName", "sequenceNumber", "commitTimestamp",
      "approximateArrivalTimestamp").repartition(3)
    assert(batch.rdd.getNumPartitions >= 2)

    val got = Replicator.summary(batch)
    assert(got.columns.toSeq === Seq("streamName", "lastReplicatedCommitTimestamp",
      "lastSequenceNumber", "records", "lastArrivalMicros"))
    val seqOrder = struct(length($"sequenceNumber"), $"sequenceNumber")
    val want = batch.groupBy($"streamName").agg(
      max_by($"commitTimestamp", seqOrder), max_by($"sequenceNumber", seqOrder),
      count(lit(1)), max(unix_micros($"approximateArrivalTimestamp")))
    def rowSet(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    assert(got.count() === 64)
    assert(rowSet(got) === rowSet(want))
    assert(got.filter($"streamName" === "s-7").head().isNullAt(4))
  }

  test("end-to-end: gate filters streams, target preserves partitionKey, checkpoint + metrics written") {
    import spark.implicits._
    val mem = MemoryStream[KinesisRecord](spark)
    mem.addData(
      rec("s-active", "pk-1", "101", 1000L, 1L, "2021-11-10T00:48:29Z"),
      rec("s-active", "pk-2", "102", 2000L, 2L, "2021-11-10T00:48:30Z"),
      rec("s-elsewhere", "pk-3", "201", 3000L, 3L, "2021-11-10T00:48:31Z"),
      rec("s-dup", "pk-4", "301", 4000L, 4L, "2021-11-10T00:48:32Z"),
      rec("s-unconfigured", "pk-5", "401", 5000L, 5L, "2021-11-10T00:48:33Z"))
    val cfgDir = tmpDir("cfg")
    configDf.write.mode("overwrite").parquet(cfgDir)
    val (target, cpTable, metrics, scp) =
      (tmpDir("target"), tmpDir("cptable"), tmpDir("metrics"), tmpDir("scp"))

    val q = Replicator.run(spark, mem.toDF(), cfgDir, "us-east-1",
      target, cpTable, metrics, scp, Trigger.AvailableNow())
    q.awaitTermination(60000)

    val forwarded = spark.read.parquet(target)
    assert(forwarded.select("streamName").distinct().collect().map(_.getString(0)).toSet === Set("s-active"))
    assert(forwarded.count() === 2)
    assert(forwarded.select("partitionKey").collect().map(_.getString(0)).toSet === Set("pk-1", "pk-2"))

    val cp = spark.read.parquet(cpTable).collect()
    assert(cp.length === 1)
    assert(cp.head.getAs[String]("lastReplicatedCommitTimestamp") === "2021-11-10T00:48:30Z")

    val m = spark.read.parquet(metrics)
    assert(m.filter($"streamName" === "s-active").head().getAs[Long]("batchSize") === 2L)
  }

  test("restart resumes from stream checkpoint; checkpoint table is last-writer-wins (op 9 replacement)") {
    import spark.implicits._
    val mem = MemoryStream[KinesisRecord](spark)
    val cfgDir = tmpDir("cfg2")
    configDf.write.mode("overwrite").parquet(cfgDir)
    val (target, cpTable, metrics, scp) =
      (tmpDir("target2"), tmpDir("cptable2"), tmpDir("metrics2"), tmpDir("scp2"))

    mem.addData(rec("s-active", "pk-1", "110", 1000L, 1L, "2021-11-10T01:00:00Z"))
    val q1 = Replicator.run(spark, mem.toDF(), cfgDir, "us-east-1", target, cpTable, metrics, scp)
    q1.awaitTermination(60000)

    mem.addData(rec("s-active", "pk-1", "111", 2000L, 2L, "2021-11-10T01:00:01Z"))
    val q2 = Replicator.run(spark, mem.toDF(), cfgDir, "us-east-1", target, cpTable, metrics, scp)
    q2.awaitTermination(60000)

    // no re-delivery of record 110: exactly two rows total
    assert(spark.read.parquet(target).count() === 2)
    val cp = spark.read.parquet(cpTable).collect()
    assert(cp.length === 1)
    assert(cp.head.getAs[String]("lastReplicatedCommitTimestamp") === "2021-11-10T01:00:01Z")
  }

  test("maintainTarget: N micro-batches compact to bounded files, rows preserved, bucketed copy shuffle-free") {
    import spark.implicits._
    val mem = MemoryStream[KinesisRecord](spark)
    val cfgDir = tmpDir("cfg4")
    Seq(("s-a", "us-east-1"), ("s-b", "us-east-1"))
      .toDF("streamName", "activeRegion").write.mode("overwrite").parquet(cfgDir)
    val (target, cpTable, metrics, scp) =
      (tmpDir("target4"), tmpDir("cptable4"), tmpDir("metrics4"), tmpDir("scp4"))

    // 5 micro-batches × 2 streams → ≥10 small files before maintenance
    (1 to 5).foreach { i =>
      mem.addData(
        rec("s-a", "pk", s"${600 + i}", i * 1000L, i.toLong, f"2021-11-10T03:00:$i%02dZ"),
        rec("s-b", "pk", s"${700 + i}", i * 1000L, i.toLong, f"2021-11-10T03:00:$i%02dZ"))
      Replicator.run(spark, mem.toDF(), cfgDir, "us-east-1", target, cpTable, metrics, scp)
        .awaitTermination(60000)
    }
    val before = Maintenance.dataFileCount(target)
    assert(before >= 10, s"expected >=10 pre-compaction files, got $before")
    // binary `data` stringifies by identity — cast it for value comparison
    def snapshot() = spark.read.parquet(target)
      .withColumn("data", $"data".cast("string"))
      .collect().map(_.toString).sorted.toSeq
    val rows = snapshot()

    try {
      Replicator.maintainTarget(spark, target, filesPerPartition = 1,
        bucketTable = Some(("repl_target_b", 2)))
      // ≤ filesPerPartition × #partition-values data files
      assert(Maintenance.dataFileCount(target) <= 2,
        s"expected <=2 post-compaction files, got ${Maintenance.dataFileCount(target)}")
      assert(snapshot() === rows)
      // the bucketed copy holds the same rows and aggregates shuffle-free
      // on the bucket key
      val b = graft.api.Layout.readBucketed(spark, "repl_target_b")
      assert(b.count() === rows.length)
      val agg = b.groupBy($"streamName").agg(count(lit(1)).as("n"))
      agg.count()
      assert(graft.api.Layout.isShuffleFree(agg),
        agg.queryExecution.executedPlan.toString)
    } finally spark.sql("DROP TABLE IF EXISTS repl_target_b")
  }

  test("failover: flipping the config row re-gates the NEXT micro-batch without restart (SURVEY §3.2)") {
    import spark.implicits._
    val mem = MemoryStream[KinesisRecord](spark)
    val cfgDir = tmpDir("cfg3")
    Seq(("s-flip", "eu-west-1")).toDF("streamName", "activeRegion")
      .write.mode("overwrite").parquet(cfgDir)
    val (target, cpTable, metrics, scp) =
      (tmpDir("target3"), tmpDir("cptable3"), tmpDir("metrics3"), tmpDir("scp3"))

    mem.addData(rec("s-flip", "pk", "500", 1000L, 1L, "2021-11-10T02:00:00Z"))
    Replicator.run(spark, mem.toDF(), cfgDir, "us-east-1", target, cpTable, metrics, scp)
      .awaitTermination(60000)
    // inactive region: nothing forwarded — target holds no parquet data yet
    def parquetFiles(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap {
        f => if (f.isDirectory) parquetFiles(f) else Seq(f).filter(_.getName.endsWith(".parquet"))
      }
    assert(parquetFiles(new java.io.File(target)).isEmpty)

    // failover: this region becomes active
    Seq(("s-flip", "us-east-1")).toDF("streamName", "activeRegion")
      .write.mode("overwrite").parquet(cfgDir)
    mem.addData(rec("s-flip", "pk", "501", 2000L, 2L, "2021-11-10T02:00:01Z"))
    Replicator.run(spark, mem.toDF(), cfgDir, "us-east-1", target, cpTable, metrics, scp)
      .awaitTermination(60000)
    val rows = spark.read.parquet(target).collect()
    assert(rows.length === 1 && rows.head.getAs[String]("sequenceNumber") === "501")
  }

  /** Runs one replicator query to completion over `records`, gated by
    * the config in `configDir`; returns its target, checkpoint and
    * metrics directories.
    */
  private def replicate(records: Seq[KinesisRecord], configDir: String): (String, String, String) = {
    import spark.implicits._
    val mem = MemoryStream[KinesisRecord](spark)
    mem.addData(records: _*)
    val (target, cpTable, metrics, scp) =
      (tmpDir("target"), tmpDir("cptable"), tmpDir("metrics"), tmpDir("scp"))
    val q = Replicator.run(spark, mem.toDF(), configDir, "us-east-1", target, cpTable, metrics, scp)
    q.awaitTermination(60000)
    assert(q.exception.isEmpty, q.exception.toString)
    (target, cpTable, metrics)
  }

  private def dataFiles(dir: String): Seq[java.io.File] = {
    def walk(d: java.io.File): Seq[java.io.File] = Option(d.listFiles()).toSeq.flatten.flatMap {
      f => if (f.isDirectory) walk(f) else Seq(f).filter(_.getName.endsWith(".parquet"))
    }
    walk(new java.io.File(dir))
  }

  private val twoStreams = Seq(
    rec("s-active", "pk-1", "101", 1000L, 1L, "2021-11-10T04:00:01Z"),
    rec("s-elsewhere", "pk-2", "201", 2000L, 2L, "2021-11-10T04:00:02Z"))

  test("a batch with no active stream writes no target, checkpoint or metrics rows") {
    import spark.implicits._
    // no stream of this region is configured at all
    val cfgDir = tmpDir("cfg_none")
    Seq(("s-active", "eu-west-1"), ("s-elsewhere", "eu-west-1"))
      .toDF("streamName", "activeRegion").write.mode("overwrite").parquet(cfgDir)
    val (target, cpTable, metrics) = replicate(twoStreams, cfgDir)
    Seq(target, cpTable, metrics).foreach(d => assert(dataFiles(d).isEmpty, d))
    // another stream is active, but none of this batch's records are in it
    val cfgOther = tmpDir("cfg_other")
    Seq(("s-other", "us-east-1")).toDF("streamName", "activeRegion")
      .write.mode("overwrite").parquet(cfgOther)
    val (target2, cpTable2, metrics2) = replicate(twoStreams, cfgOther)
    Seq(target2, cpTable2, metrics2).foreach(d => assert(dataFiles(d).isEmpty, d))
  }

  test("an empty config directory gates every stream off (missing → inactive)") {
    val cfgDir = tmpDir("cfg_empty")
    val (target, cpTable, metrics) = replicate(twoStreams, cfgDir)
    Seq(target, cpTable, metrics).foreach(d => assert(dataFiles(d).isEmpty, d))
  }

  test("a config with an extra column still gates by streamName and activeRegion") {
    import spark.implicits._
    val cfgDir = tmpDir("cfg_extra")
    Seq(("owner-a", "s-active", "us-east-1"), ("owner-b", "s-elsewhere", "eu-west-1"))
      .toDF("owner", "streamName", "activeRegion").write.mode("overwrite").parquet(cfgDir)
    val (target, cpTable, _) = replicate(twoStreams, cfgDir)
    val rows = spark.read.parquet(target).collect()
    assert(rows.map(_.getAs[String]("streamName")).toSeq === Seq("s-active"))
    assert(spark.read.parquet(cpTable).collect().map(_.getAs[String]("streamName")).toSeq
      === Seq("s-active"))
  }

  test("a failed forward write reports successful = 0 per stream, then fails the batch") {
    import spark.implicits._
    val cfgDir = tmpDir("cfg_fail")
    configDf.write.mode("overwrite").parquet(cfgDir)
    // a regular file where the target directory should be: unwritable
    val target = s"${tmpDir("target_fail")}/target"
    java.nio.file.Files.write(java.nio.file.Paths.get(target), "not a directory".getBytes)
    val (cpTable, metrics, scp) = (tmpDir("cptable_fail"), tmpDir("metrics_fail"), tmpDir("scp_fail"))
    val mem = MemoryStream[KinesisRecord](spark)
    mem.addData(twoStreams :+ rec("s-active", "pk-3", "102", 3000L, 3L, "2021-11-10T04:00:03Z"): _*)
    val q = Replicator.run(spark, mem.toDF(), cfgDir, "us-east-1", target, cpTable, metrics, scp)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](q.awaitTermination(60000))
    val m = spark.read.parquet(metrics)
      .select($"streamName", $"batchSize", $"successful", $"batchId")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(m === Seq(("s-active", 2L, 0L, 0L)))
    assert(dataFiles(cpTable).isEmpty, "a failed batch must not move the checkpoint")
  }

  test("job-count lock: a micro-batch runs at most 4 jobs and its forward write has no Exchange") {
    import spark.implicits._
    import org.apache.spark.sql.execution.CollectMetricsExec
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.streaming.runtime.{MicroBatchExecution, StreamExecution}

    val cfgDir = tmpDir("cfg_jobs")
    (0 until 6).map(i => (s"s-$i", if (i == 5) "eu-west-1" else "us-east-1"))
      .toDF("streamName", "activeRegion").write.mode("overwrite").parquet(cfgDir)
    val records = (1 to 60).map(i =>
      rec(s"s-${i % 6}", s"pk-$i", s"${1000 + i}", i * 1000L, i.toLong, f"2021-11-10T05:00:$i%02dZ"))

    // the recorder must exist before the query clones its session
    val recorder = new graft.Profile.Recorder(spark)
    val mem = MemoryStream[KinesisRecord](spark)
    mem.addData(records: _*)
    val (target, cpTable, metrics, scp) =
      (tmpDir("target_jobs"), tmpDir("cptable_jobs"), tmpDir("metrics_jobs"), tmpDir("scp_jobs"))
    val q = try recorder.phase("replicate") {
      val q = Replicator.run(spark, mem.toDF(), cfgDir, "us-east-1", target, cpTable, metrics, scp)
      q.awaitTermination(60000)
      q
    } finally recorder.close()
    assert(spark.read.parquet(target).count() === 50)

    val perBatch = recorder.jobs("replicate")
      .filter(_.getProperty(StreamExecution.QUERY_ID_KEY) == q.id.toString)
      .groupBy(_.getProperty(MicroBatchExecution.BATCH_ID_KEY)).view.mapValues(_.size).toMap
    assert(perBatch.nonEmpty, "no job of the query was seen")
    // config read, forward write, checkpoint write, metrics write
    assert(perBatch.values.forall(_ <= 4), s"jobs per micro-batch: $perBatch")

    val targetName = new java.io.File(target).getName
    val forward = recorder.qes("replicate").map(qe => graft.Profile.nodes(qe.executedPlan))
      .filter(_.exists {
        case d: DataWritingCommandExec => d.cmd match {
          case i: InsertIntoHadoopFsRelationCommand => i.outputPath.getName == targetName
          case _ => false
        }
        case _ => false
      })
    assert(forward.size === 1, "one forward write per micro-batch")
    val plan = forward.head
    assert(!plan.exists(_.isInstanceOf[Exchange]), plan.mkString("\n"))
    // the forward plan observes ONE aggregate: the per-stream summary,
    // however many streams pass
    val observed = plan.collect { case c: CollectMetricsExec => c }
    assert(observed.map(_.metricExpressions.size) === Seq(1))
  }
}
