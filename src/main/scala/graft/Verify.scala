package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional trailing args (local iteration only; the driver passes
    // 2): query names, comma- and/or space-separated — dump and list
    // only those oracles. Unknown names fail loudly instead of
    // silently verifying nothing.
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args.drop(2).flatMap(_.split(",")).map(_.trim)
        .filter(_.nonEmpty).toSet)
      else None
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
    }
    def keep(name: String): Boolean = only.forall(_.contains(name))
    val cpus = SparkEntry.cpus
    val spark = SparkEntry.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Queries run through ONE long-lived work-queue pool: each dump is
    // dominated by fixed job-submission/coalesce latency (~1-2 s), so a
    // serial loop over 300+ queries costs ~10 min of pure latency, and
    // the earlier pool-per-batch design let one slow query idle the rest
    // of its batch at every barrier. Concurrent actions on one
    // SparkSession are supported; results are per-query directories so
    // parallelism cannot mix outputs, and the shared cache is cleared
    // every `threads` completions to keep memory bounded (clearing
    // mid-flight only forces recomputes, never wrong results). Serial
    // fallback via SPARK_GRAFT_VERIFY_THREADS=1; a non-numeric value
    // falls back to the default instead of crashing before any dump.
    val threads = scala.util.Try(
      sys.env.getOrElse("SPARK_GRAFT_VERIFY_THREADS", "4").trim.toInt)
      .getOrElse(4).max(1)
    val todo = SparkEntry.queries.toSeq.filter(kv => keep(kv._1))
    // Host-health stamps around the dump (the Bench sentinel discipline,
    // VERDICT r9 #8): a busy-phase dump can silently eat the driver's
    // window; the pre/post seconds in the log are the quiet/busy evidence.
    def sentinelOnce(): Double = SparkEntry.sentinel(spark, 200000000L)
    // Host-health evidence matters on the driver's full run, not on a
    // single-query local iteration — skip the ~5 s of fixed sentinel
    // cost when a query subset was requested.
    val runSentinel = only.isEmpty
    if (runSentinel) {
      sentinelOnce() // codegen/JIT warmup of the sentinel kernel itself
      val sentinelPre = Seq(sentinelOnce(), sentinelOnce()).min
      System.err.println(f"[verify] sentinel_pre_sec=$sentinelPre%.3f cpus=$cpus " +
        f"(quiet reference ~${0.12 * 32.0 / cpus.toInt}%.3f at this cpu count; " +
        """>2.5x = degraded host phase)""")
    }
    val t0Dump = System.nanoTime()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val done = new java.util.concurrent.atomic.AtomicInteger(0)
    try {
      todo.map { case (name, fn) =>
        pool.submit(new Runnable {
          def run(): Unit = {
            try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            catch { case e: Throwable =>
              System.err.println(s"[verify] $name failed: ${e.getMessage}")
            }
            // Try: a cache-clear hiccup must read like a per-query
            // failure, not propagate through Future.get() and abort the
            // remaining dumps + the oracle_sql.json write.
            if (done.incrementAndGet() % threads.max(2) == 0)
              scala.util.Try(spark.sharedState.cacheManager.clearCache())
                .failed.foreach(e => System.err.println(
                  s"[verify] clearCache failed (ignored): ${e.getMessage}"))
          }
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    spark.sharedState.cacheManager.clearCache()
    val dumpSec = (System.nanoTime() - t0Dump) / 1e9
    if (runSentinel) {
      val sentinelPost = Seq(sentinelOnce(), sentinelOnce()).min
      System.err.println(f"[verify] dump_sec=$dumpSec%.1f " +
        f"sentinel_post_sec=$sentinelPost%.3f n_queries=${todo.size}")
    } else {
      System.err.println(f"[verify] dump_sec=$dumpSec%.1f n_queries=${todo.size}")
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
