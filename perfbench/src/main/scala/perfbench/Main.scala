package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one workload per process, driven by run.py.
  *
  * Args (all `--key value`): workload, seed, seconds, trace (0|1), cpus,
  * work (the run's directory of generated inputs; outputs go there too),
  * out (result JSON file) and spans (span file, traced runs only). The
  * build runs `--workload class-list --work dir` once for its class archive.
  *
  * The process calls only the program's public entry points and reads
  * Spark's public listener buses. Every workload is a closed loop on one
  * driver thread: a unit starts when the previous one has finished.
  */
object Main {
  final case class Ctx(workload: String, seed: Long, seconds: Double, trace: Boolean,
      cpus: Int, work: String, out: String, spansOut: String) {
    def deadline(t0: Long): Boolean = (System.nanoTime() - t0) / 1e9 >= seconds
  }

  /** What a workload hands back: e2e samples for the untraced windows,
    * per-layer metrics and spans for the traced ones.
    */
  final case class Outcome(
      setupEndMs: Double,
      unitLatencies: Seq[Double],
      timedSeconds: Double,
      units: Int,
      failedUnits: Int,
      layer: Map[String, Double],
      spans: Seq[Span],
      extra: Map[String, Any])

  def session(cpus: Int, work: String): SparkSession = {
    val s = graft.SparkEntry.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Bench's fixed pure-compute kernel at its micro size (50M xxhash64 +
    * sum): a host-health reading, recorded beside the results only.
    */
  def sentinel(spark: SparkSession, cpus: Int): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 50000000L, 1L, cpus)
      .selectExpr("CAST(xxhash64(id) AS DOUBLE) AS h")
      .agg(org.apache.spark.sql.functions.sum("h")).collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** The build's class-list run: touch the classes every workload loads
    * (session, parquet write and read, a join, a streaming foreachBatch
    * query), so the JVM archives them for every later run.
    */
  def classList(work: String): Unit = {
    val spark = session(2, work)
    spark.range(0, 10000).selectExpr("id", "CAST(id % 7 AS STRING) AS k")
      .write.mode("overwrite").parquet(s"$work/t")
    val t = spark.read.parquet(s"$work/t")
    t.join(t.groupBy("k").count(), "k").write.mode("overwrite").format("noop").save()
    spark.readStream.schema(t.schema).parquet(s"$work/t").writeStream
      .option("checkpointLocation", s"$work/c")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.groupBy("k").count().write.mode("append").parquet(s"$work/o"); ()
      }.start().awaitTermination()
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (kv.get("workload").contains("class-list")) return classList(kv("work"))
    val ctx = Ctx(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("cpus").toInt, kv("work"), kv("out"),
      kv.getOrElse("spans", ""))
    if (ctx.trace) Jvm.watchGc()
    val mainMs = System.currentTimeMillis()
    val spark = session(ctx.cpus, ctx.work)
    val sessionMs = System.currentTimeMillis()
    // a workload reads the sentinel twice at local[nproc]: before its
    // timed windows and after them
    val sentinels = scala.collection.mutable.ArrayBuffer[Double]()
    val hook = () => { sentinels += sentinel(spark, ctx.cpus); () }
    val o = ctx.workload match {
      case "replicate" => Replicate.run(spark, ctx, hook)
      case "query-mix" => QueryMix.run(spark, ctx, hook)
      case "dupgraph-ingest" => DupGraphIngest.run(spark, ctx, hook)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    require(sentinels.size == 2, s"sentinel read ${sentinels.size} times, not twice")
    val active = SparkSession.getActiveSession.getOrElse(spark)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    if (ctx.trace) {
      val run = Span("run", "run", -2, jvmStart.toDouble, System.currentTimeMillis().toDouble,
        Map("workload" -> ctx.workload, "seed" -> ctx.seed, "cpus" -> ctx.cpus))
      Files.write(Paths.get(ctx.spansOut),
        (run +: o.spans).map(Json(_)).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }
    val result = Map(
      "setup_end_ms" -> o.setupEndMs,
      "latencies_s" -> o.unitLatencies,
      "timed_s" -> o.timedSeconds,
      "units" -> o.units,
      "failed_units" -> o.failedUnits,
      "layer" -> o.layer,
      "sentinel_s" -> sentinels.toSeq,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "jvm_start_ms" -> jvmStart,
      "main_ms" -> mainMs, "session_ms" -> sessionMs,
      "extra" -> o.extra)
    Files.write(Paths.get(ctx.out), Json(result).getBytes(StandardCharsets.UTF_8))
    active.stop()
  }
}
