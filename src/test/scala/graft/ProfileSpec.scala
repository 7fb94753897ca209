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

  test("build-job locks at sf0.01: cutover operators decide from their own checkpoints' counts") {
    // jobs each query runs while its DataFrame is built (operators.build_jobs);
    // a selection count of a checkpointed frame would add to these
    val want = Map(
      "q85_decontaminate" -> 3,
      "q130_ppjoin_degrees" -> 8,
      "q138_containment_degrees" -> 8,
      "q141_triangle_counts" -> 12,
      "q232_dup_graph_card" -> 12,
      "q292_negative_sampling" -> 5)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val got = want.keys.map { q =>
      val rec = new Profile.Recorder(spark)
      try q -> mapper.readTree(Profile.profile(spark, rec, "/root/testdata/sf0.01", q)._1)
        .get("operators.build_jobs").asInt
      finally rec.close()
    }.toMap
    assert(got === want)
  }

  test("q280 at sf0.01 scans its membership once: the degree fold reads the item exchange") {
    val rec = new Profile.Recorder(spark)
    val line = try Profile.profile(spark, rec, "/root/testdata/sf0.01", "q280_adamic_adar")._1
      finally rec.close()
    val fp = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line).get("fingerprint")
    assert(fp.get("Scan parquet").asInt === 1, fp)
  }
}
