package graft

import java.io.PrintWriter

import org.apache.spark.sql.SparkSession

/** Dump `.explain("formatted")` of named queries to individual files —
  * the per-round optimization evidence (plans/rNN/<query>_{before,after}.txt).
  *
  * Usage: runMain graft.PlanSnap <sfDir> <outDir> <suffix> <queryName>...
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4, "usage: PlanSnap <sfDir> <outDir> <suffix> <q>...")
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = args.drop(3).toSeq
    val cpus = SparkEntry.cpus
    val spark = SparkEntry.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.maxPlanStringLength", (8 << 20).toString)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (name <- names) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      val w = new PrintWriter(s"$outDir/${name}_$suffix.txt")
      try {
        w.println(s"# $name ($suffix) — $sfDir, local[$cpus]")
        w.println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode).trim)
      } finally w.close()
      println(s"[plansnap] wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
