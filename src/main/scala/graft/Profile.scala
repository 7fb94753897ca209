package graft

import java.io.PrintWriter
import java.util.Properties
import java.util.concurrent._

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{CommandResultExec, FormattedMode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev profiler: one bounded JSON line per query saying what it did, layer
  * by layer, and its formatted plan appended to a markdown file.
  *
  * Usage: runMain graft.Profile <sfDir> <out.md> [queryName...]
  * (cores: `SPARK_GRAFT_CPUS`, default 4). With no names it profiles the
  * flagship queries below, each plan under its blurb: `runMain graft.Profile
  * <sf0.1 dir> docs/PLANS.md` regenerates docs/PLANS.md.
  *
  * Each query runs once through the noop sink untimed (`cold_s`), then is
  * built and run again under a [[Profile.Recorder]] (`sec`). The fields use
  * perfbench's trace metric names: `operators.build_s` and `_jobs` (time
  * and jobs spent building the DataFrame); `exec.*` (jobs, stages that
  * ran, tasks, task run time, shuffle-write and spill bytes of build plus
  * run);
  * `plans.*_s` (planning-tracker phases of their query executions); and the
  * `fingerprint` of the run's executed plan. The markdown gets the
  * DataFrame's `.explain("formatted")` before any run, the plan `PlanSpec`
  * locks.
  */
object Profile {

  private val Flagships: Seq[(String, String)] = Seq(
    "q01_pricing_summary" -> "scan+filter pushdown feeding a two-phase hash aggregate",
    "q04_join_multiway" -> "multiway star join: broadcast dims, single fact shuffle per key change",
    "q12_window_rank" -> "two-phase ranked top-k: partial WindowGroupLimit + broadcast rank reconstruction",
    "q24_cdc_latest" -> "keyed latest-record dedup: WindowGroupLimit partial top-1 before the shuffle",
    "q39_lsh_pairs" -> "MinHash-LSH: fused narrow shingle/minhash kernels, bucket pair explosion, broadcast verify",
    "q42_cosine_knn" -> "brute-force kNN: broadcast probes, codegen'd vector_dot, scalar-only window shuffle",
    "q43_ivf_knn" -> "IVF kNN: one broadcast centroid array row, narrow struct-argmax assignment",
    "q82_ivf_near_dup" -> "blocked near-dup: within-cell equi-join on cluster, no corpus broadcast",
    "q83_knn_shuffled" -> "large-probe kNN: shuffle-hash block join + two-phase TopK udaf",
    "q30_tumbling_window" -> "event-time bucketing: pruned scan, partial+final agg",
    "q85_decontaminate" ->
      "benchmark decontamination: Bloom pre-gate (scalar-subquery bitset probe), exact verify join on hits only",
    "q89_filter_funnel" -> "curation funnel: every quality gate as a per-row column in one pass, conditional agg",
    "q88_vocab_coverage" -> "two-phase vocab top-k: bucketed partial WindowGroupLimit, narrow corpus total scan",
    "q91_quantized_knn" -> "quantized-domain kNN: narrow int8 quantization, broadcast probes, exact integer scoring",
    "q92_kmeans_step" -> "k-means round: one broadcast centroid-array row, narrow argmax, k*dim-bounded update agg",
    "q93_stratified_sample" -> "stratified sample: per-stratum md5-order window with partial WindowGroupLimit",
    "q101_doc_chunks" -> "context-window chunking: one narrow offsets explode, chunk production shuffle-free",
    "q103_winsorize" ->
      "winsorized mean: exact-quantile-search bounds (no percentile aggregate) broadcast into a decimal-exact clip",
    "q105_gap_fill" -> "gap fill: broadcast calendar spine grid, keyed forward-fill window",
    "q123_semantic_dedup" -> "SemDeDup: within-cell equi-join pair scan, distinct drop set, left join audit",
    "q124_perplexity_buckets" ->
      "CCNet curation: tokenize-once pair frame, constant-threshold buckets, md5 keep gate (no window)",
    "q125_incremental_semdedup" -> "incremental SemDeDup: batch broadcast against corpus cells, admission report",
    "q126_pq_encode" -> "PQ encode: broadcast codebook, narrow subspace explode, per-(vector,sub) argmin window",
    "q127_hybrid_near_dup" ->
      "hybrid near-dup: LSH-bounded candidate pairs, embedding re-score join on candidate ids only",
    "q128_dup_spans" ->
      "ExactSubstr spans: stride-anchored window equi-join, per-doc island-merge window over hits only",
    "q129_dsir_weights" ->
      "DSIR: narrow feature explode, 4096-bucket histogram, broadcast log-ratio scoring join, integer sums",
    "q130_ppjoin_degrees" ->
      "adaptive set-similarity: bitmask distinct-set square on tiny vocabularies, PPJoin prefix filter otherwise",
    "q133_pagerank_dups" ->
      "PageRank: persisted dup-graph artifact scan, checkpointed edge/degree frames, per-iteration dst-keyed agg, integer fixed-point ranks",
    "q137_block_dedup" -> "C4-style block dedup: content-keyed first-occurrence window, ordered per-doc reassembly",
    "q138_containment_degrees" ->
      "asymmetric containment: small-side-prefix (or mask-square) candidates, exact verify, no n² pair space",
    "q139_inverted_index" ->
      "inverted index: bounded top-k posting cap per partition, no ranked-window sort of hot tokens",
    "q140_leakage_split" ->
      "leakage-safe split: components over the persisted artifact's edge scan, broadcast assignment join, md5 hash split",
    "q144_cluster_reps" ->
      "canonical per cluster: component frame broadcasts into scored corpus, rank-1 WindowGroupLimit argmax",
    "q145_source_quota" -> "score quota cap: partial WindowGroupLimit per source, no full sort of a mega-domain",
    "q146_next_event_pairs" -> "next-event pairs: three lags share one user-keyed window shuffle",
    "q159_ols_regression" -> "closed-form regression: regr_* algebraic aggregates, one scan, map-side partials",
    "q163_ks_drift" -> "two-sample KS: distinct-value collapse below the cumulative window walk",
    "q168_psi_drift" -> "PSI drift: broadcast per-type edges, 10-bin conditional agg, enumerated bins",
    "q173_embed_decon" -> "embedding decontamination: one broadcast benchmark array row, narrow max-cosine flag",
    "q176_dq_audit" -> "data-quality audit: all row-local expectations in one conditional-count pass",
    "q190_market_share" -> "TPC-H Q8 star: every dimension broadcast, one fact shuffle, conditional decimal share",
    "q184_fuzzy_block_join" -> "blocked Levenshtein linkage: multi-key equi-join blocking, capped blocks, no cartesian",
    "q187_rolling_distinct" -> "rolling 7-day reach: distinct collapse, bounded explode fanout, hash count-distinct",
    "q188_bootstrap_ci" ->
      "online bootstrap: replicates as 64 agg slots in ONE hash aggregate — no explode, no join, 2 digests per row",
    "q223_generalization_ladder" ->
      "k-anonymity ladder: four bucket widths from ONE customer scan via constant explode",
    "q224_auc_card" -> "rank-identity AUC: join-free — score-grid hash agg below one cumulative window",
    "q234_onion_layers" ->
      "onion peel: persisted-artifact edges, per-round shared degree agg + two semi-joins, checkpointed shrink",
    "q177_label_prop_communities" ->
      "label propagation: persisted-artifact edge read (checkpointed), three synchronous argmax rounds over the tiny edge frame",
    "q363_dup_degree_dist" ->
      "degree distribution: artifact degree recount at stricter tau — one agg over stored near-dup pairs, no pipeline re-run",
    "q246_silhouette_card" ->
      "silhouette: broadcast md5-sampled probes, corpus never shuffles, decimal-exact distance folds",
    "q248_attribution_compare" ->
      "first-vs-last attribution: two window functions share one value-ranged frame, one sweep",
    "q253_shipping_priority" ->
      "TPC-H Q3: broadcast-semi segment gate, spread-key equi-join, TakeOrderedAndProject heap cut",
    "q255_forecast_revenue" -> "TPC-H Q6: every predicate in PushedFilters — the scan IS the plan",
    "q259_customer_distribution" ->
      "TPC-H Q13: order counts pre-aggregated per customer BELOW the zero-preserving outer join",
    "q262_discounted_revenue" ->
      "TPC-H Q19: one broadcast join carries the disjunctive triple, brand-IN pruned at the scan",
    "q263_jl_distortion" -> "JL audit: broadcast pair grid, 17 codegen dot folds per pair, corpus never shuffles",
    "q265_conformal_interval" ->
      "split-conformal: Knuth-hash splits, broadcast per-group model + quantile, narrow coverage flags",
    "q280_adamic_adar" -> "Adamic-Adar: degree-capped part-keyed self-join, packed single-long pair fold, heap top-15",
    "q285_mmr_diversified" ->
      "MMR re-rank: corpus-sized kNN once, greedy unrolled into keyed argmax windows over bounded frames",
    "q289_zonemap_card" ->
      "zone-map audit: stacked 3-layout pass, broadcast bounds, integer zone arithmetic, decimal mass folds",
    "q291_training_assembly" ->
      "point-in-time features: one value-ranged window (frame ends at -1 ms), channel-bounded fold",
    "q292_negative_sampling" ->
      "negative sampling: checkpointed positives feed draws AND the keyed collision audit, no cartesian",
    "q294_reco_eval" -> "reco eval: order-keyed pair build, broadcast rec map + baseline into the test scan")

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Profile <sfDir> <out.md> [queryName...]")
    val (sfDir, out) = (args(0), args(1))
    val names = if (args.length > 2) args.drop(2).toSeq else Flagships.map(_._1)
    val cpus = SparkEntry.cpus
    val spark = SparkEntry.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.maxPlanStringLength", (8 << 20).toString)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val w = new PrintWriter(out, "UTF-8")
    try {
      w.println(s"# `runMain graft.Profile ${args.mkString(" ")}` (local[$cpus])\n")
      w.println("Each query's `.explain(\"formatted\")` as built, before its first run.")
      for (name <- names) {
        val rec = new Recorder(spark)
        val (line, plan) = try profile(spark, rec, sfDir, name) finally rec.close()
        println(line)
        val blurb = Flagships.toMap.get(name).fold("")(" — " + _)
        w.println(s"\n## $name$blurb\n\n```\n$plan\n```")
      }
    } finally w.close()
    spark.stop()
  }

  /** Profiles one query in `rec`'s phases "build" and "run": its JSON line
    * and its formatted plan as built.
    */
  private[graft] def profile(spark: SparkSession, rec: Recorder, sfDir: String,
      name: String): (String, String) = {
    val fn = SparkEntry.queries(name)
    def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
    val coldS = seconds(noop(fn(spark, sfDir)))._2
    spark.sharedState.cacheManager.clearCache()
    val (df, buildS) = rec.phase("build")(seconds(fn(spark, sfDir)))
    val runS = rec.phase("run")(seconds(noop(df)))._2
    val plan = df.queryExecution.explainString(FormattedMode).trim
    spark.sharedState.cacheManager.clearCache()
    val both = Seq("build", "run")
    val stages = both.flatMap(rec.stages)
    def planS(p: String) = both.flatMap(rec.qes).flatMap(_.tracker.phases.get(p)).map(_.durationMs).sum / 1e3
    val fp = rec.qes("run").flatMap(qe => fingerprint(qe.executedPlan)).groupMapReduce(_._1)(_._2)(_ + _)
    def s3(x: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(x))
    val fields = Seq("metric" -> "\"profile\"", "name" -> s"\"$name\"",
      "cold_s" -> s3(coldS), "sec" -> s3(buildS + runS),
      "operators.build_s" -> s3(buildS), "operators.build_jobs" -> rec.jobs("build").size,
      "exec.jobs" -> both.map(rec.jobs(_).size).sum,
      "exec.stages" -> stages.size,
      "exec.tasks" -> stages.map(_.tasks).sum,
      "exec.task_s" -> s3(stages.map(_.runMs).sum / 1e3),
      "exec.shuffle_bytes" -> stages.map(_.shuffleBytes).sum,
      "exec.spill_bytes" -> stages.map(_.spillBytes).sum,
      "plans.analysis_s" -> s3(planS("analysis")),
      "plans.optimization_s" -> s3(planS("optimization")),
      "plans.planning_s" -> s3(planS("planning")),
      "fingerprint" -> fp.toSeq.sorted.map { case (k, n) => s"\"$k\":$n" }.mkString("{", ",", "}"))
    (fields.map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}"), plan)
  }

  private def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Every node of a physical plan, through command results, AQE
    * (`executedPlan`: the initial plan before a run, the final plan after
    * one), query stages, cached relations and subqueries. A reused
    * exchange or subquery is a leaf.
    */
  private[graft] def nodes(plan: SparkPlan): Seq[SparkPlan] = plan +: ((plan match {
    case c: CommandResultExec => Seq(c.commandPhysicalPlan)
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case s: QueryStageExec => Seq(s.plan)
    case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
    case p => p.children
  }) ++ plan.subqueries).flatMap(nodes)

  /** Node name, as `explain` prints it (no codegen stage id) → count. */
  private[graft] def fingerprint(plan: SparkPlan): Map[String, Int] =
    nodes(plan).groupMapReduce(_.nodeName.replaceAll("\\s*\\(\\d+\\)$", "").trim)(_ => 1)(_ + _)

  private[graft] final class StageTotals { var tasks, runMs, shuffleBytes, spillBytes = 0L }

  /** Records what Spark did in named phases: the jobs (with their local
    * properties), the task totals of the stages that ran and the query
    * executions that succeeded. A phase is the stretch of listener-bus
    * events between two marker jobs, so it holds the jobs of every thread:
    * the caller's, a streaming query's and the fan-out pools'. (A pool
    * thread keeps the local properties of the thread that created it, so a
    * per-job property tag would miss or misfile its jobs.) Nothing else may
    * run jobs meanwhile. Register the recorder before a streaming query
    * starts: the query clones the session's execution listeners.
    */
  private[graft] final class Recorder(spark: SparkSession) extends SparkListener with AutoCloseable {
    private val sc = spark.sparkContext
    private val id = s"${System.identityHashCode(this)}:"
    private val jobsIn = new ConcurrentLinkedQueue[(String, Properties)]()
    private val stageById = new ConcurrentHashMap[Int, (String, StageTotals)]()
    private val qesIn = new ConcurrentLinkedQueue[(String, QueryExecution)]()
    private val markers = new LinkedBlockingQueue[String]()
    private val markerNo = new atomic.AtomicLong()
    // the open phase, as of the event being delivered: set by marker jobs
    @volatile private var current: Option[String] = None
    private val qeListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        current.foreach(p => qesIn.add((p, qe)))
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    sc.addSparkListener(this)
    spark.listenerManager.register(qeListener)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(MarkerKey))) match {
        case Some(m) if m.startsWith(id) =>
          current = Some(m.split(":", 3)(2)).filter(_.nonEmpty)
          markers.add(m)
        case Some(_) => ()
        case None => current.foreach { phase =>
          jobsIn.add((phase, e.properties))
          e.stageIds.foreach(stageById.putIfAbsent(_, (phase, new StageTotals)))
        }
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for ((_, s) <- Option(stageById.get(e.stageId)); m <- Option(e.taskMetrics)) s.synchronized {
        s.tasks += 1
        s.runMs += m.executorRunTime
        s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }

    /** Runs `body` as phase `name`, and returns once all it caused is recorded. */
    def phase[T](name: String)(body: => T): T = {
      mark(name)
      try body finally mark("")
    }

    def jobs(phase: String): Seq[Properties] = jobsIn.asScala.toSeq.collect { case (`phase`, p) => p }

    def stages(phase: String): Seq[StageTotals] =
      stageById.values.asScala.toSeq.collect { case (`phase`, s) if s.tasks > 0 => s }

    def qes(phase: String): Seq[QueryExecution] = qesIn.asScala.toSeq.collect { case (`phase`, q) => q }

    /** Runs a marker job that opens `phase` (or, if empty, closes the open
      * one) and waits until the listener bus delivers it. The bus delivers
      * in order, so every event posted before it has been delivered too.
      */
    private def mark(phase: String): Unit = {
      val marker = s"$id${markerNo.incrementAndGet()}:$phase"
      val prev = sc.getLocalProperty(MarkerKey)
      sc.setLocalProperty(MarkerKey, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(MarkerKey, prev)
      var seen = ""
      while (seen != marker) {
        seen = markers.poll(60, TimeUnit.SECONDS)
        if (seen == null) throw new IllegalStateException(s"listener bus did not deliver $marker in 60 s")
      }
    }

    override def close(): Unit = {
      sc.removeSparkListener(this)
      spark.listenerManager.unregister(qeListener)
    }
  }

  private val MarkerKey = "graft.profile.marker"
}
