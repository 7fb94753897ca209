package graft

import org.apache.spark.sql.functions._

/** Pins the replay-guard contract of [[Util.batchAlreadyApplied]]
  * (round-11 ADVICE fix): only the empty-debris/schema-inference
  * failure may read as "not applied" — any other read failure must
  * rethrow, because answering "not applied" on a transient error would
  * re-append a possibly-committed batch and double-count every
  * sum-merged idempotent table downstream.
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
}
