package graft

import java.io.PrintWriter

import org.apache.spark.sql.SparkSession

/** Regenerates docs/PLANS.md: `.explain("formatted")` output of the
  * flagship queries whose plan shapes the engine is designed around
  * (pushdown, broadcast dims, partial aggregation, WindowGroupLimit,
  * narrow fused kernels).
  *
  * Usage: runMain graft.PlanDump [sfDir] [outFile]
  */
object PlanDump {

  private val Flagships: Seq[(String, String)] = Seq(
    "q01_pricing_summary" ->
      "scan+filter pushdown feeding a two-phase hash aggregate",
    "q04_join_multiway" ->
      "multiway star join: broadcast dims, single fact shuffle per key change",
    "q12_window_rank" ->
      "two-phase ranked top-k: partial WindowGroupLimit + broadcast rank reconstruction",
    "q24_cdc_latest" ->
      "keyed latest-record dedup: WindowGroupLimit partial top-1 before the shuffle",
    "q39_lsh_pairs" ->
      "MinHash-LSH: fused narrow shingle/minhash kernels, bucket pair explosion, broadcast verify",
    "q42_cosine_knn" ->
      "brute-force kNN: broadcast probes, codegen'd vector_dot, scalar-only window shuffle",
    "q43_ivf_knn" ->
      "IVF kNN: one broadcast centroid array row, narrow struct-argmax assignment",
    "q82_ivf_near_dup" ->
      "blocked near-dup: within-cell equi-join on cluster, no corpus broadcast",
    "q83_knn_shuffled" ->
      "large-probe kNN: shuffle-hash block join + two-phase TopK udaf",
    "q30_tumbling_window" ->
      "event-time bucketing: pruned scan, partial+final agg",
    "q85_decontaminate" ->
      "benchmark decontamination: Bloom pre-gate (scalar-subquery bitset probe), exact verify join on hits only",
    "q89_filter_funnel" ->
      "curation funnel: every quality gate as a per-row column in one pass, conditional agg",
    "q88_vocab_coverage" ->
      "two-phase vocab top-k: bucketed partial WindowGroupLimit, narrow corpus total scan",
    "q91_quantized_knn" ->
      "quantized-domain kNN: narrow int8 quantization, broadcast probes, exact integer scoring",
    "q92_kmeans_step" ->
      "k-means round: one broadcast centroid-array row, narrow argmax, k*dim-bounded update agg",
    "q93_stratified_sample" ->
      "stratified sample: per-stratum md5-order window with partial WindowGroupLimit",
    "q101_doc_chunks" ->
      "context-window chunking: one narrow offsets explode, chunk production shuffle-free",
    "q103_winsorize" ->
      "winsorized mean: exact-quantile-search bounds (no percentile aggregate) broadcast into a decimal-exact clip",
    "q105_gap_fill" ->
      "gap fill: broadcast calendar spine grid, keyed forward-fill window",
    "q123_semantic_dedup" ->
      "SemDeDup: within-cell equi-join pair scan, distinct drop set, left join audit",
    "q124_perplexity_buckets" ->
      "CCNet curation: tokenize-once pair frame, constant-threshold buckets, md5 keep gate (no window)",
    "q125_incremental_semdedup" ->
      "incremental SemDeDup: batch broadcast against corpus cells, admission report",
    "q126_pq_encode" ->
      "PQ encode: broadcast codebook, narrow subspace explode, per-(vector,sub) argmin window",
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
    "q137_block_dedup" ->
      "C4-style block dedup: content-keyed first-occurrence window, ordered per-doc reassembly",
    "q138_containment_degrees" ->
      "asymmetric containment: small-side-prefix (or mask-square) candidates, exact verify, no n² pair space",
    "q139_inverted_index" ->
      "inverted index: bounded top-k posting cap per partition, no ranked-window sort of hot tokens",
    "q140_leakage_split" ->
      "leakage-safe split: components over the persisted artifact's edge scan, broadcast assignment join, md5 hash split",
    "q144_cluster_reps" ->
      "canonical per cluster: component frame broadcasts into scored corpus, rank-1 WindowGroupLimit argmax",
    "q145_source_quota" ->
      "score quota cap: partial WindowGroupLimit per source, no full sort of a mega-domain",
    "q146_next_event_pairs" ->
      "next-event pairs: three lags share one user-keyed window shuffle",
    "q159_ols_regression" ->
      "closed-form regression: regr_* algebraic aggregates, one scan, map-side partials",
    "q163_ks_drift" ->
      "two-sample KS: distinct-value collapse below the cumulative window walk",
    "q168_psi_drift" ->
      "PSI drift: broadcast per-type edges, 10-bin conditional agg, enumerated bins",
    "q173_embed_decon" ->
      "embedding decontamination: one broadcast benchmark array row, narrow max-cosine flag",
    "q176_dq_audit" ->
      "data-quality audit: all row-local expectations in one conditional-count pass",
    "q190_market_share" ->
      "TPC-H Q8 star: every dimension broadcast, one fact shuffle, conditional decimal share",
    "q184_fuzzy_block_join" ->
      "blocked Levenshtein linkage: multi-key equi-join blocking, capped blocks, no cartesian",
    "q187_rolling_distinct" ->
      "rolling 7-day reach: distinct collapse, bounded explode fanout, hash count-distinct",
    "q188_bootstrap_ci" ->
      "online bootstrap: replicates as 64 agg slots in ONE hash aggregate — no explode, no join, 2 digests per row",
    "q223_generalization_ladder" ->
      "k-anonymity ladder: four bucket widths from ONE customer scan via constant explode",
    "q224_auc_card" ->
      "rank-identity AUC: join-free — score-grid hash agg below one cumulative window",
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
    "q255_forecast_revenue" ->
      "TPC-H Q6: every predicate in PushedFilters — the scan IS the plan",
    "q259_customer_distribution" ->
      "TPC-H Q13: order counts pre-aggregated per customer BELOW the zero-preserving outer join",
    "q262_discounted_revenue" ->
      "TPC-H Q19: one broadcast join carries the disjunctive triple, brand-IN pruned at the scan",
    "q263_jl_distortion" ->
      "JL audit: broadcast pair grid, 17 codegen dot folds per pair, corpus never shuffles",
    "q265_conformal_interval" ->
      "split-conformal: Knuth-hash splits, broadcast per-group model + quantile, narrow coverage flags",
    "q280_adamic_adar" ->
      "Adamic-Adar: degree-capped part-keyed self-join, packed single-long pair fold, heap top-15",
    "q285_mmr_diversified" ->
      "MMR re-rank: corpus-sized kNN once, greedy unrolled into keyed argmax windows over bounded frames",
    "q289_zonemap_card" ->
      "zone-map audit: stacked 3-layout pass, broadcast bounds, integer zone arithmetic, decimal mass folds",
    "q291_training_assembly" ->
      "point-in-time features: one value-ranged window (frame ends at -1 ms), channel-bounded fold",
    "q292_negative_sampling" ->
      "negative sampling: checkpointed positives feed draws AND the keyed collision audit, no cartesian",
    "q294_reco_eval" ->
      "reco eval: order-keyed pair build, broadcast rec map + baseline into the test scan")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("docs/PLANS.md")
    val cpus = SparkEntry.cpus
    val spark = SparkEntry.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.maxPlanStringLength", (8 << 20).toString)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val w = new PrintWriter(out)
    try {
      w.println(s"# Physical plans of flagship queries ($sfDir, local[$cpus])")
      w.println()
      w.println("Generated by `runMain graft.PlanDump` from `.explain(\"formatted\")` — " +
        "the plan properties the engine is designed around (pushed filters, pruned " +
        "schemas, broadcast dims, partial aggregation, WindowGroupLimit, fused " +
        "narrow kernels) are all visible below and locked in by `PlanSpec`.")
      for ((name, blurb) <- Flagships) {
        val df = SparkEntry.queries(name)(spark, sfDir)
        w.println()
        w.println(s"## $name — $blurb")
        w.println()
        w.println("```")
        w.println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode).trim)
        w.println("```")
      }
    } finally w.close()
    spark.stop()
    println(s"[plandump] wrote $out")
  }
}
