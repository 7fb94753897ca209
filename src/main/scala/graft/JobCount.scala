package graft

/** Dev profiler: counts the Spark jobs submitted while running each named
  * query once, after one warm-up run.
  *
  * Usage: runMain graft.JobCount <sfDir> <queryName>...
  * (cores: `SPARK_GRAFT_CPUS`, default 4)
  */
object JobCount {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    val cpus = SparkEntry.cpus
    val spark = SparkEntry.configure(
      org.apache.spark.sql.SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          n.incrementAndGet(); ()
        }
      })
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      fn(spark, sfDir).write.mode("overwrite").format("noop").save() // warm
      spark.sharedState.cacheManager.clearCache()
      Thread.sleep(500)
      n.set(0)
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500)
      println(f"[jobcount] $name%-28s jobs=${n.get()}%3d  $dt%6.2f s")
      spark.sharedState.cacheManager.clearCache()
    }
    spark.stop()
  }
}
