package graft

/** The profile line of [[Profile]]: one parseable JSON object per query,
  * whose counts are the recorder's own.
  */
class ProfileSpec extends SparkSpec {

  test("a profile line parses, carries every field and counts the recorder's jobs") {
    val rec = new Profile.Recorder(spark)
    val (line, plan) = try Profile.profile(spark, rec, sf, "q01_pricing_summary") finally rec.close()
    val j = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(j.get("metric").asText === "profile" && j.get("name").asText === "q01_pricing_summary")
    for (f <- Seq("cold_s", "sec", "operators.build_s", "operators.build_jobs", "exec.jobs", "exec.stages", "exec.tasks",
        "exec.task_s", "exec.shuffle_bytes", "exec.spill_bytes", "plans.analysis_s",
        "plans.optimization_s", "plans.planning_s"))
      assert(j.get(f).isNumber, f)
    assert(j.get("operators.build_jobs").asInt === rec.jobs("build").size)
    assert(j.get("exec.jobs").asInt === rec.jobs("build").size + rec.jobs("run").size)
    assert(rec.jobs("run").nonEmpty)
    // the run's executed plan: one lineitem scan below its exchanges
    assert(j.get("fingerprint").get("Scan parquet").asInt === 1)
    assert(j.get("fingerprint").get("Exchange").asInt > 0)
    assert(plan.startsWith("== Physical Plan ==") && plan.contains("Scan parquet"))
  }
}
