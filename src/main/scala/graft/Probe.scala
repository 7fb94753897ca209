package graft

import org.apache.spark.sql.SparkSession

/** Dev profiler: run named queries N times each and print per-run timings
  * (first run = plan+codegen+JIT, later runs = steady state).
  *
  * Usage: runMain graft.Probe <sfDir> <nRuns> <queryName>...
  * (cores: `SPARK_GRAFT_CPUS`, default 4)
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val nRuns = args.lift(1).map(_.toInt).getOrElse(3)
    val names = if (args.length > 2) args.drop(2).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val cpus = SparkEntry.cpus
    val spark = SparkEntry.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      val times = (1 to nRuns).map { _ =>
        val t0 = System.nanoTime()
        // noop write, NOT count(): count() lets Catalyst prune every
        // expression the row count doesn't need (e.g. all of a wide
        // aggregate's value columns), silently under-measuring — the
        // same rule Bench documents
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        val dt = (System.nanoTime() - t0) / 1e9
        // match Bench: per-run cache release, so repeated runs measure the
        // query and not an ever-growing pinned storage pool
        spark.sharedState.cacheManager.clearCache()
        dt
      }
      println(f"== $name%-22s ${times.map(t => f"$t%7.2f").mkString(" ")}")
    }
    spark.stop()
  }
}
