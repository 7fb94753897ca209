package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pins the contracts of the shared helpers: the schema memo of
  * [[Util.readParquet]] (a new file version or inference setting infers
  * again; a warm read starts no job; reads stay distinct relations); the
  * replay-by-overwrite write of [[Util.appendOnce]] (a replay rewrites
  * exactly its own `batch_id` partition, a failed or dead attempt's
  * files are never read, an all-empty stream stays readable, and a new
  * batch reads nothing); and the probe of [[Util.batchAlreadyApplied]]
  * that the writers without a partition of their own keep: a missing
  * path or empty debris reads as "not applied", and any read failure
  * must rethrow, because answering "not applied" on a transient error
  * would re-append a possibly-committed batch.
  */
class UtilSpec extends SparkSpec {

  test("batchAlreadyApplied: missing path and empty debris read as not applied") {
    import spark.implicits._
    val dir = tmpDir("replay_guard")
    assert(!Util.batchAlreadyApplied(spark, s"$dir/nope", 1L))
    // empty directory = the debris of a write that died before its
    // first commit — must read as "not applied", not throw
    new java.io.File(s"$dir/empty").mkdirs()
    assert(!Util.batchAlreadyApplied(spark, s"$dir/empty", 1L))
    // committed rows: exact batch matching
    Seq((5L, "x")).toDF("batch_id", "v").write.parquet(s"$dir/state")
    assert(Util.batchAlreadyApplied(spark, s"$dir/state", 5L))
    assert(!Util.batchAlreadyApplied(spark, s"$dir/state", 6L))
  }

  test("batchAlreadyApplied: a corrupt file alongside committed data rethrows instead of reading as not applied") {
    import spark.implicits._
    val dir = tmpDir("replay_guard_corrupt")
    Seq((5L, "x")).toDF("batch_id", "v").write.parquet(s"$dir/state")
    // a stray unreadable "parquet" file: the read must FAIL the batch
    // (rethrow), never answer false and trigger a duplicate append
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/state/part-corrupt.parquet"),
      "this is not parquet".getBytes)
    scala.util.Try(Util.batchAlreadyApplied(spark, s"$dir/state", 5L)) match {
      case scala.util.Success(v) =>
        // if the engine tolerates the junk footer and answers from the
        // committed rows, true is the only acceptable answer
        assert(v, "corrupt sibling must not flip a committed batch to 'not applied'")
      case scala.util.Failure(_) =>
        // rethrow is the strict (and expected) behavior: the batch
        // fails and retries instead of double-appending
        ()
    }
  }

  /** Rows of `path` tagged with `batchId`. */
  private def batchRows(path: String, batchId: Long): Long =
    spark.read.parquet(path).filter(col("batch_id") === batchId).count()

  test("appendOnce: a replayed batch appends once, and other batches still append") {
    import spark.implicits._
    val path = s"${tmpDir("append_once")}/state"
    def append(b: Long): Unit =
      Util.appendOnce(spark, path, b)(Seq(("x", 1L), ("y", 2L)).toDF("k", "n"))
    append(1L)
    append(1L)
    append(2L)
    append(2L)
    assert(batchRows(path, 1L) === 2)
    assert(batchRows(path, 2L) === 2)
    assert(spark.read.parquet(path).count() === 4)
    assert(Util.readBatched(spark, path).schema("batch_id").dataType === LongType)
  }

  test("appendOnce: replaying an older batch leaves every batch's rows unchanged") {
    import spark.implicits._
    val path = s"${tmpDir("append_once_older")}/state"
    def rows(b: Long) = Seq(("x", b), ("y", b * 10)).toDF("k", "n")
    (0L to 3L).foreach(b => Util.appendOnce(spark, path, b)(rows(b)))
    def table = Util.readBatched(spark, path).as[(String, Long, Long)].collect().sorted.toSeq
    def files(b: Long) = new java.io.File(s"$path/batch_id=$b").list().sorted.toSeq
    val before = table
    val others = Seq(0L, 2L, 3L).map(files)
    Util.appendOnce(spark, path, 1L)(rows(1))
    assert(table === before)
    assert(table.size === 8)
    assert(Seq(0L, 2L, 3L).map(files) === others, "a replay touches only its own partition")
  }

  test("appendOnce: a write that fails after a task commit, then its replay, equals a clean run") {
    import spark.implicits._
    val dir = tmpDir("append_once_fault")
    val (path, clean) = (s"$dir/state", s"$dir/clean")
    def rows(b: Long) = spark.range(0, 6, 1, 2).select(($"id" + b * 10).as("v"))
    for (p <- Seq(path, clean)) Util.appendOnce(spark, p, 0L)(rows(0))
    Util.appendOnce(spark, clean, 1L)(rows(1))
    // batch 1's first attempt: task 0 commits its file, then task 1 throws
    val taskCommits = new java.io.File(s"$path/batch_id=1/_temporary/0")
    val dieAfterCommit = udf { (part: Int, v: Long) =>
      if (part == 1 && UtilSpec.failOnce.getAndSet(false)) {
        val deadline = System.nanoTime() + 60000000000L
        def committed = Option(taskCommits.list()).exists(_.exists(_.startsWith("task_")))
        while (!committed && System.nanoTime() < deadline) Thread.sleep(10)
        UtilSpec.sawCommit.set(committed)
        throw new IllegalStateException("the attempt dies after task 0 committed")
      }
      v
    }
    def attempt = rows(1).withColumn("v", dieAfterCommit(spark_partition_id(), $"v"))
    UtilSpec.failOnce.set(true)
    intercept[Exception](Util.appendOnce(spark, path, 1L)(attempt))
    assert(UtilSpec.sawCommit.get(), "task 1 failed before task 0 committed")
    def table(p: String) = Util.readBatched(spark, p).as[(Long, Long)].collect().sorted.toSeq
    assert(table(path) === table(clean).filter(_._2 == 0L), "the failed attempt exposed rows")
    Util.appendOnce(spark, path, 1L)(attempt)
    assert(table(path) === table(clean))
    val read = Util.readBatched(spark, path).select(input_file_name()).as[String].collect()
    assert(read.nonEmpty && read.forall(f => !f.contains("_temporary") && !f.contains(".spark-staging")))
  }

  test("appendOnce: an all-empty stream leaves a readable table, and reports read zero rows") {
    import spark.implicits._
    val dir = tmpDir("append_once_empty")
    val docs = Seq.empty[(String, Long)].toDF("source", "n_chars")
    val events = Seq.empty[(String, Long, Long)].toDF("event_type", "event_id", "ts_ms")
    for (b <- Seq(0L, 1L)) {
      graft.api.Stats.appendBatchStats(docs, s"$dir/stats", Seq("source"), "n_chars", "n_chars", b)
      graft.streaming.StreamOps.lateDataIngestBatch(events, b, s"$dir/late")
    }
    assert(Util.readBatched(spark, s"$dir/stats").schema("batch_id").dataType === LongType)
    assert(graft.api.Stats.mergedSummary(spark, s"$dir/stats", Seq("source")).count() === 0)
    assert(graft.streaming.StreamOps.lateDataReport(spark, s"$dir/late").count() === 0)
  }

  test("appendOnce: a new batch on an existing table starts one Spark job, its write") {
    import spark.implicits._
    val path = s"${tmpDir("append_once_jobs")}/state"
    Util.appendOnce(spark, path, 0L)(Seq(("x", 1L)).toDF("k", "n"))
    val rec = new Profile.Recorder(spark)
    try {
      rec.phase("new")(Util.appendOnce(spark, path, 1L)(Seq(("y", 2L)).toDF("k", "n")))
      assert(rec.jobs("new").size === 1)
    } finally rec.close()
  }

  test("appendOnce: an empty directory and a _temporary-only directory both get the append") {
    import spark.implicits._
    val dir = tmpDir("append_once_debris")
    new java.io.File(s"$dir/empty").mkdirs()
    // the debris of a write that died before its task commit: an attempt
    // file of the SAME batch under _temporary, which readers never list
    Seq(("x", 1L)).toDF("k", "n").withColumn("batch_id", lit(3L))
      .coalesce(1).write.parquet(s"$dir/aborted/_temporary/0/_temporary/attempt_0")
    for (d <- Seq("empty", "aborted")) {
      Util.appendOnce(spark, s"$dir/$d", 3L)(Seq(("y", 2L)).toDF("k", "n"))
      assert(batchRows(s"$dir/$d", 3L) === 1, d)
      assert(spark.read.parquet(s"$dir/$d").select("k").as[String].collect().toSeq === Seq("y"), d)
    }
  }

  test("appendOnce: a task committed by a write that died before its job commit is not promoted") {
    import spark.implicits._
    val dir = tmpDir("append_once_task")
    val path = s"$dir/state"
    Util.appendOnce(spark, path, 3L)(Seq(("x", 1L)).toDF("k", "n"))
    // batch 4's first attempt: one task committed its file into the job
    // attempt directory, then the driver died before the job commit
    Seq(("y", 2L)).toDF("k", "n").coalesce(1).write.parquet(s"$dir/attempt")
    val task = new java.io.File(s"$path/batch_id=4/_temporary/0/task_0")
    task.mkdirs()
    val part = new java.io.File(s"$dir/attempt").listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath, new java.io.File(task, part.getName).toPath)
    assert(spark.read.parquet(path).count() === 1, "a dead attempt's committed task is never read")
    Util.appendOnce(spark, path, 4L)(Seq(("y", 2L)).toDF("k", "n"))
    assert(batchRows(path, 4L) === 1)
    assert(batchRows(path, 3L) === 1)
  }

  test("batchAlreadyApplied: a probe of a committed path starts one Spark job") {
    import spark.implicits._
    val path = s"${tmpDir("probe_jobs")}/state"
    Seq(("x", 5L)).toDF("v", "batch_id").coalesce(1).write.parquet(path)
    val rec = new Profile.Recorder(spark)
    try {
      rec.phase("probe")(assert(Util.batchAlreadyApplied(spark, path, 5L)))
      // no schema-inference job: only the keyed read itself
      assert(rec.jobs("probe").size === 1)
    } finally rec.close()
  }

  test("fan-out pools are bounded by design and layered as a DAG") {
    // guide §2.6: 2-3 jobs in flight fills the scheduler tail; the pools
    // cap driver-side concurrency structurally (not by call-site
    // discipline). queryPool tasks may await jobPool leaves; saturating
    // BOTH pools with that nesting must still complete (no starvation
    // deadlock) because the leaf pool never waits on anything.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    def cap(t: java.util.concurrent.ThreadPoolExecutor): Int = {
      assert(t.getCorePoolSize === t.getMaximumPoolSize, "fixed-size pool")
      t.getMaximumPoolSize
    }
    assert(cap(Util.jobExecutor) === 4)
    assert(cap(Util.queryExecutor) === 2)
    // more parents than queryPool threads, each fanning more leaves than
    // jobPool threads — completes only if the pool graph is deadlock-free
    val parents = (1 to 4).map { p =>
      Future {
        val leaves = (1 to 8).map(l => Future(p * 100 + l)(Util.jobPool))
        leaves.map(Await.result(_, 30.seconds)).sum
      }(Util.queryPool)
    }
    val sums = parents.map(Await.result(_, 60.seconds))
    assert(sums === (1 to 4).map(p => (1 to 8).map(p * 100 + _).sum))
  }

  test("fan-out pool tasks run under their submitter's job group") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val sc = spark.sparkContext
    val rec = new Profile.Recorder(spark)
    try {
      // every jobPool thread busy under group A, so each one exists and
      // has run work submitted under A
      sc.setJobGroup("group-a", "occupier")
      val busy = new java.util.concurrent.CountDownLatch(4)
      val release = new java.util.concurrent.CountDownLatch(1)
      val occupiers = (1 to 4).map(_ => Future { busy.countDown(); release.await() }(Util.jobPool))
      assert(busy.await(30, java.util.concurrent.TimeUnit.SECONDS))
      release.countDown()
      occupiers.foreach(Await.result(_, 30.seconds))
      sc.setJobGroup("group-b", "submitter")
      rec.phase("b")(Await.result(Future(spark.range(10).count())(Util.jobPool), 60.seconds))
      val groups = rec.jobs("b").map(_.getProperty("spark.jobGroup.id"))
      assert(groups.nonEmpty && groups.forall(_ == "group-b"), groups)
      // the pool thread's own properties come back after the task
      sc.clearJobGroup()
      val own = Future(sc.getLocalProperty("spark.jobGroup.id"))(
        scala.concurrent.ExecutionContext.fromExecutor(Util.jobExecutor))
      assert(Await.result(own, 30.seconds) != "group-b")
    } finally {
      sc.clearJobGroup()
      rec.close()
    }
  }

  test("checkpointCounted: the row count comes with the checkpoint's own jobs") {
    import spark.implicits._
    val df = spark.range(0, 1000, 1, 4).filter($"id" % 3 === 0).groupBy($"id" % 97).count()
    val rec = new Profile.Recorder(spark)
    try {
      val (cp, n) = rec.phase("counted")(Util.checkpointCounted(df))
      rec.phase("plain")(df.localCheckpoint())
      assert(n === 97)
      assert(rec.jobs("counted").size === rec.jobs("plain").size)
      assert(cp.count() === 97)
    } finally rec.close()
  }

  test("bloomBytes restores the bloom size clamps after a normal return and after a failure") {
    import spark.implicits._
    val keys = Seq("spark.sql.optimizer.runtime.bloomFilter.maxNumItems",
      "spark.sql.optimizer.runtime.bloomFilter.maxNumBits")
    val saved = keys.map(k => k -> spark.conf.getAll.get(k))
    def explicit(k: String) = spark.conf.getAll.get(k)
    val df = Seq(1L, 2L, 3L).toDF("x").coalesce(1)
    // one above each default clamp, so both keys are raised
    val (items, bits) = (4000001L, 67108864L + 64)
    try {
      keys.foreach(spark.conf.unset)
      assert(Util.bloomBytes(df, "xxhash64(x)", items, bits) != null)
      keys.foreach(k => assert(explicit(k) === None, s"$k leaked after a normal return"))
      intercept[Exception](Util.bloomBytes(df, "xxhash64(no_such_column)", items, bits))
      keys.foreach(k => assert(explicit(k) === None, s"$k leaked after a failure"))
      // an explicit prior setting comes back as it was
      spark.conf.set(keys.head, "7")
      intercept[Exception](Util.bloomBytes(df, "xxhash64(no_such_column)", items, bits))
      assert(explicit(keys.head) === Some("7"))
      assert(explicit(keys(1)) === None)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("no Bloom clamp scope leaves a clamp key set: decontamination and writeBloomIndexed") {
    import spark.implicits._
    val keys = Seq("spark.sql.optimizer.runtime.bloomFilter.maxNumItems",
      "spark.sql.optimizer.runtime.bloomFilter.maxNumBits")
    val saved = keys.map(k => k -> spark.conf.getAll.get(k))
    def setKeys = keys.filter(spark.conf.getAll.contains)
    val text = "the quick brown fox jumps over the lazy dog"
    val corpus = Seq((1L, text), (2L, "nothing in common with any suite")).toDF("k", "body")
    val suite = Seq((9L, text)).toDF("k", "body")
    val ids = spark.range(100).toDF("id")
    val dir = tmpDir("clamp_leak")
    try {
      keys.foreach(spark.conf.unset)
      // 10M items, 80M bits: above both default clamps, on the Bloom path
      val hits = graft.api.Dedup.decontaminationStats(corpus, suite, "k", "body", 4,
          _ => Some((10000000L, 80000000L)))
        .select($"k").as[Long].collect().toSeq
      assert(hits === Seq(1L))
      assert(setKeys === Nil, "decontaminationStats left a clamp key set")
      graft.api.Layout.writeBloomIndexed(ids, s"$dir/ok", "id", 2, items = 5000000L)
      assert(setKeys === Nil, "writeBloomIndexed left a clamp key set")
      intercept[Exception](
        graft.api.Layout.writeBloomIndexed(ids, s"$dir/bad", "no_such_column", 2, items = 5000000L))
      assert(setKeys === Nil, "a failing writeBloomIndexed left a clamp key set")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** A fresh parquet file path under a new temp dir. */
  private def tmpParquet(prefix: String): String = s"${tmpDir(prefix)}/t.parquet"

  /** Writes `df` as ONE parquet file at `path` (replacing any file there),
    * the single-file layout of the query tables.
    */
  private def writeSingle(df: org.apache.spark.sql.DataFrame, path: String): Unit = {
    val out = tmpDir("single_out")
    df.coalesce(1).write.mode("overwrite").parquet(out)
    val part = new java.io.File(out).listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part.toPath, java.nio.file.Paths.get(path),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  test("readParquet: the memoized schema equals the inferred one for every test table") {
    val testdata = new java.io.File(sf).getParent
    for (sfDir <- Seq("sf0.001", "sf0.01", "sf0.1").map(d => s"$testdata/$d")) {
      val files = new java.io.File(sfDir).listFiles().map(_.getPath).filter(_.endsWith(".parquet"))
      assert(files.nonEmpty, sfDir)
      for (f <- files.sorted) {
        Util.readParquet(spark, f) // cold (or already warm from another suite)
        assert(Util.readParquet(spark, f).schema === spark.read.parquet(f).schema, f)
      }
    }
  }

  test("readParquet: a file rewritten at the same path is read with its new schema") {
    import spark.implicits._
    val path = tmpParquet("rewrite")
    writeSingle(Seq(1L, 2L).toDF("a"), path)
    assert(Util.readParquet(spark, path).schema.fieldNames.toSeq === Seq("a"))
    assert(Util.readParquet(spark, path).schema.fieldNames.toSeq === Seq("a"))
    writeSingle(Seq(("x", 1, 2.0)).toDF("b", "c", "d"), path)
    val again = Util.readParquet(spark, path)
    assert(again.schema === spark.read.parquet(path).schema)
    assert(again.schema.fieldNames.toSeq === Seq("b", "c", "d"))
    assert(again.as[(String, Int, Double)].collect().toSeq === Seq(("x", 1, 2.0)))
    // a directory rewritten by Spark: new part files, new schema
    val dir = tmpDir("rewrite_dir") + "/d"
    Seq(1L).toDF("a").write.parquet(dir)
    assert(Util.readParquet(spark, dir).schema.fieldNames.toSeq === Seq("a"))
    Seq("y").toDF("z").write.mode("overwrite").parquet(dir)
    assert(Util.readParquet(spark, dir).schema.fieldNames.toSeq === Seq("z"))
  }

  test("readParquet: each inference setting gets its own inferred schema, and the conf is restored") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    // written by parquet itself: a Spark-written file carries its Spark
    // schema, which inference prefers over these settings
    def writeOne(field: String)(fill: org.apache.parquet.example.data.Group => Unit): String = {
      val path = tmpParquet("inference")
      val schema = MessageTypeParser.parseMessageType(s"message m { required $field; }")
      val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(path))
        .withConf(spark.sparkContext.hadoopConfiguration).withType(schema).build()
      val g = new SimpleGroupFactory(schema).newGroup()
      fill(g)
      try w.write(g) finally w.close()
      path
    }
    val nanos = writeOne("int64 ts (TIMESTAMP(NANOS,true))")(_.append("ts", 1234L))
    val binary = writeOne("binary b")(_.append("b", "hi"))

    /** The read's schema, or the class of its failure. */
    def outcome(read: => org.apache.spark.sql.DataFrame): Either[String, StructType] =
      scala.util.Try(read.schema).toEither.left.map(_.getClass.getName)
    def check(key: String, path: String, values: Seq[String]): Seq[Either[String, StructType]] = {
      val saved = spark.conf.getAll.get(key)
      val got = try values.map { v =>
        spark.conf.set(key, v)
        outcome(Util.readParquet(spark, path)) // memoize under this setting
        val o = outcome(Util.readParquet(spark, path))
        assert(o === outcome(spark.read.parquet(path)), s"$key=$v")
        o
      } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      assert(spark.conf.getAll.get(key) === saved, s"$key not restored")
      got
    }
    val ns = check("spark.sql.legacy.parquet.nanosAsLong", nanos, Seq("true", "false", "true"))
    assert(ns.head === Right(StructType(Seq(StructField("ts", LongType)))))
    assert(ns(1) !== ns.head, "nanosAsLong=false must not be served the nanosAsLong=true schema")
    assert(ns(2) === ns.head)
    val bs = check("spark.sql.parquet.binaryAsString", binary, Seq("false", "true"))
    assert(bs === Seq(Right(StructType(Seq(StructField("b", BinaryType)))),
      Right(StructType(Seq(StructField("b", StringType))))))
  }

  test("readParquet: a cold read starts one Spark job, a warm read none") {
    import spark.implicits._
    val path = tmpParquet("jobs")
    writeSingle(Seq((1L, "a")).toDF("k", "v"), path)
    val rec = new Profile.Recorder(spark)
    try {
      rec.phase("cold")(Util.readParquet(spark, path))
      rec.phase("warm") {
        Util.readParquet(spark, path)
        Util.readParquet(spark, path).select("v")
      }
      assert(rec.jobs("cold").size === 1)
      assert(rec.jobs("warm").size === 0)
    } finally rec.close()
  }

  test("readParquet: concurrent cold reads of one path all get the right schema") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    import spark.implicits._
    val path = tmpParquet("concurrent")
    writeSingle(Seq((1L, "a", 2.5)).toDF("k", "v", "w"), path)
    val expected = spark.read.parquet(path).schema
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val start = new java.util.concurrent.CountDownLatch(1)
      val reads = (1 to 8).map(_ => Future { start.await(); Util.readParquet(spark, path).schema })
      start.countDown()
      reads.map(Await.result(_, 120.seconds)).foreach(s => assert(s === expected))
    } finally pool.shutdown()
    assert(Util.readParquet(spark, path).schema === expected)
  }

  test("readParquet: a self-join of two table reads resolves and returns the plain read's rows") {
    def selfJoin(read: () => org.apache.spark.sql.DataFrame) = {
      val (a, b) = (read(), read())
      a.join(b, a("n_regionkey") === b("n_regionkey") && a("n_nationkey") < b("n_nationkey"))
        .select(a("n_name"), b("n_name"))
        .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    }
    Util.table(spark, sf, "nation") // warm the memo
    val got = selfJoin(() => Util.table(spark, sf, "nation"))
    assert(got.nonEmpty)
    assert(got === selfJoin(() => spark.read.parquet(s"$sf/nation.parquet")))
  }
}

object UtilSpec {
  /** Arm the one-shot task failure of the appendOnce fault test and
    * record that it struck after a task commit; tasks run in this JVM,
    * so they share the flags.
    */
  val failOnce = new java.util.concurrent.atomic.AtomicBoolean(false)
  val sawCommit = new java.util.concurrent.atomic.AtomicBoolean(false)
}
