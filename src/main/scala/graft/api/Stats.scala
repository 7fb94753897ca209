package graft.api

import graft.Util._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental corpus statistics — the "never rescan" pattern for a
  * 100 TB ingest pipeline. Each arriving batch contributes ONE row per
  * group key to a persisted stats table: exact mergeable aggregates
  * (count, sum, min, max, sum-of-squares) plus an HLL sketch (Apache
  * DataSketches via `hll_sketch_agg`) for distinct counting. Corpus-wide
  * answers then read ONLY the stats table — |batches| × |keys| rows —
  * and merge: sums add, min/max fold, sketches union
  * (`hll_union_agg` → `hll_sketch_estimate`). A year of hourly batches
  * over 1000 sources is ~9M stats rows regardless of corpus bytes, so
  * "distinct users per event type, all time" costs a scan of megabytes,
  * not 100 TB.
  *
  * Exactness split: counts/sums/extrema merge EXACTLY (q121 hash-matches
  * the full-scan oracle); distinct counts are sketch estimates with the
  * usual HLL error (~1.6% at lgK=12), graded by tolerance (q122, same
  * regime as q09). Mean/stddev derive from (n, sum, sum_sq) at read time.
  */
object Stats {

  /** One stats row per key for a single ingest batch: exact mergeable
    * aggregates of `valueCol` plus an HLL sketch of `distinctCol`.
    * `lgK`: HLL precision (2^lgK registers; 12 → ~1.6% rel. std. error).
    */
  def batchStats(batch: DataFrame, keyCols: Seq[String], valueCol: String,
      distinctCol: String, lgK: Int = 12): DataFrame =
    batch.groupBy(keyCols.map(col): _*).agg(
      count(lit(1)).as("n_rows"),
      sum(col(valueCol)).as("v_sum"),
      min(col(valueCol)).as("v_min"),
      max(col(valueCol)).as("v_max"),
      // squares accumulate in double: long*long would overflow (or throw
      // under ANSI) long before corpus scale, and v_sum_sq only feeds
      // mean/std derivation
      sum(col(valueCol).cast("double") * col(valueCol).cast("double")).as("v_sum_sq"),
      expr(s"hll_sketch_agg($distinctCol, $lgK)").as("distinct_hll"))

  /** Writes one batch's stats rows as that batch's partition of the
    * persisted table ([[graft.Util.appendOnce]]). The batch scan is the
    * ONLY pass over the batch's data; everything downstream reads the
    * stats table. A streaming re-delivery of the batch (a crash between
    * this write and the stream-checkpoint commit) rewrites the same
    * partition, so no merge ever counts a batch twice.
    */
  def appendBatchStats(batch: DataFrame, path: String, keyCols: Seq[String],
      valueCol: String, distinctCol: String, batchId: Long, lgK: Int = 12): Unit =
    appendOnce(batch.sparkSession, path, batchId)(
      batchStats(batch, keyCols, valueCol, distinctCol, lgK))

  /** Corpus-wide summary from the stats table alone: exact merged
    * count/sum/min/max/mean, plus the sketch-union distinct estimate.
    * `allowDifferentLgConfigK` lets batches written at different
    * precisions still merge (union degrades to the coarsest).
    */
  def mergedSummary(spark: SparkSession, path: String,
      keyCols: Seq[String]): DataFrame =
    readBatched(spark, path).groupBy(keyCols.map(col): _*).agg(
      sum(col("n_rows")).as("n_rows"),
      sum(col("v_sum")).as("v_sum"),
      min(col("v_min")).as("v_min"),
      max(col("v_max")).as("v_max"),
      sum(col("v_sum_sq")).as("v_sum_sq"),
      expr("hll_sketch_estimate(hll_union_agg(distinct_hll, true))")
        .as("distinct_est"))
      .withColumn("v_mean", col("v_sum").cast("double") / col("n_rows"))

  /** Count-min sketch as a RELATIONAL artifact: the sketch is a
    * (depth × width)-row frame `(d, b, c)` — row `d`'s bucket `b` holds
    * the summed count of keys hashing there under seed `d`. Everything
    * a CMS needs is then plain relational algebra, which is exactly what
    * makes it work at 100 TB:
    *
    *   - build  = one hash aggregation per depth over the key column
    *     (emitted together via posexplode — ONE scan, map-side combine
    *     absorbing heavy keys);
    *   - merge  = union + re-aggregate (counter-wise sum) — batches,
    *     partitions, or days of sketches combine associatively;
    *   - lookup = broadcast-join the queried keys against the sketch,
    *     take min(c) over depths.
    *
    * Guarantees (standard CMS): estimate ≥ true count always (counters
    * only over-count), and P[err > (e/width)·N] ≤ e^-depth per key.
    * Hashing is `xxhash64(key, seed = d)` — deterministic across
    * engines, partitionings, and merges. Estimates for keys never
    * inserted still return a (small) over-count, as CMS defines.
    */
  def cmsBuild(df: DataFrame, keyCol: String, depth: Int = 4,
      width: Int = 2048): DataFrame = {
    require(depth >= 1 && width >= 2, s"bad CMS shape: $depth x $width")
    df.select(posexplode(array((0 until depth).map(d =>
        pmod(xxhash64(col(keyCol), lit(d)), lit(width))): _*))
        .as(Seq("d", "b")))
      .groupBy(col("d"), col("b")).agg(count(lit(1)).as("c"))
  }

  /** Counter-wise sum of CMS frames built with the SAME (depth, width).
    * Union semantics make this associative and commutative — the merge
    * tree shape never changes an estimate.
    */
  def cmsMerge(sketches: DataFrame*): DataFrame =
    sketches.reduce(_ unionAll _)
      .groupBy(col("d"), col("b")).agg(sum(col("c")).as("c"))

  /** Point-frequency estimates for `keys` (a frame with `keyCol`):
    * min over depths of the landed counters. The sketch (depth × width
    * rows) broadcasts; the key frame never shuffles.
    */
  def cmsLookup(sketch: DataFrame, keys: DataFrame, keyCol: String,
      depth: Int = 4, width: Int = 2048): DataFrame = {
    val landed = keys.select(col(keyCol),
        posexplode(array((0 until depth).map(d =>
          pmod(xxhash64(col(keyCol), lit(d)), lit(width))): _*))
          .as(Seq("d", "b")))
    landed.join(broadcast(sketch), Seq("d", "b"), "left")
      .groupBy(col(keyCol))
      .agg(min(coalesce(col("c"), lit(0L))).as("est"))
  }

  /** Writes one ingest batch's CMS rows as its `batch_id` partition of
    * a persisted sketch table (a re-delivered batch rewrites its own
    * partition) — the [[appendBatchStats]] contract for the frequency
    * sketch.
    * The merged sketch ([[mergedCms]]) then answers point-frequency
    * queries over EVERYTHING ingested while reading only
    * |batches| × depth × width rows.
    */
  def appendCmsBatchIdempotent(batch: DataFrame, path: String,
      keyCol: String, batchId: Long, depth: Int = 4,
      width: Int = 2048): Unit = {
    appendOnce(batch.sparkSession, path, batchId)(
      cmsBuild(batch, keyCol, depth, width))
  }

  /** The corpus-wide sketch from the persisted table alone: counter-wise
    * sum across batches (CMS merge is exact — the merged sketch is
    * bit-identical to one build over the concatenated input).
    */
  def mergedCms(spark: SparkSession, path: String): DataFrame =
    readBatched(spark, path)
      .groupBy(col("d"), col("b")).agg(sum(col("c")).as("c"))

  /** Drift-monitor reference: per-key fixed bin edges (from the
    * reference distribution's [min, max], `bins` equal widths) plus the
    * reference count per bin — the frozen baseline every arriving batch
    * is compared against. All bins are enumerated (zero-count bins
    * included) so smoothing and merging are total. |keys| × bins rows.
    *
    * Fixed edges are what make the streaming PSI mergeable: bin counts
    * from any number of micro-batches sum, whereas per-batch edges
    * (q168's batch formulation re-derives them per run) would make
    * counts incomparable across batches.
    */
  def psiReference(ref: DataFrame, keyCol: String, valueCol: String,
      bins: Int = 10): DataFrame = {
    require(bins >= 2, s"need >= 2 bins, got $bins")
    val mm = ref.groupBy(col(keyCol)).agg(
      min(col(valueCol).cast("double")).as("lo"),
      max(col(valueCol).cast("double")).as("hi"),
      count(lit(1)).as("n_ref"))
    val counts = ref.select(col(keyCol), col(valueCol).cast("double").as("v"))
      .join(broadcast(mm), keyCol)
      .withColumn("bin", binOf(col("v"), col("lo"), col("hi"), bins))
      .groupBy(col(keyCol), col("bin")).agg(count(lit(1)).as("ref_n"))
    mm.select(col(keyCol), col("lo"), col("hi"), col("n_ref"),
        explode(sequence(lit(0L), lit(bins - 1L))).as("bin"))
      .join(counts, Seq(keyCol, "bin"), "left")
      .na.fill(0L, Seq("ref_n"))
  }

  /** Equal-width bin index against fixed [lo, hi) edges, clamped into
    * [0, bins): streaming data beyond the reference range lands in the
    * edge bins instead of vanishing. Degenerate references (lo == hi)
    * put everything in bin 0.
    */
  private def binOf(v: Column, lo: Column, hi: Column, bins: Int): Column =
    when(hi > lo,
      greatest(least(floor((v - lo) * bins / (hi - lo)).cast("long"),
        lit(bins - 1L)), lit(0L)))
      .otherwise(lit(0L))

  /** One arriving batch's bin counts against the persisted reference's
    * edges, written as its `batch_id` partition of the bins table
    * (replay-idempotent — the [[appendBatchStats]] contract).
    * Keys absent from the reference are dropped: there is no baseline
    * to drift from (surface them via a separate unseen-key monitor).
    */
  def appendPsiBatchIdempotent(batch: DataFrame, refPath: String,
      binsPath: String, keyCol: String, valueCol: String, batchId: Long,
      bins: Int = 10): Unit = {
    val spark = batch.sparkSession
    appendOnce(spark, binsPath, batchId) {
      val edges = spark.read.parquet(refPath)
        .select(col(keyCol), col("lo"), col("hi")).distinct()
      batch.select(col(keyCol), col(valueCol).cast("double").as("v"))
        .join(broadcast(edges), keyCol)
        .withColumn("bin", binOf(col("v"), col("lo"), col("hi"), bins))
        .groupBy(col(keyCol), col("bin")).agg(count(lit(1)).as("cur_n"))
    }
  }

  /** Population-stability-index report over EVERYTHING ingested so far:
    * merged current bin counts (sums across batches — the reason the
    * edges are frozen) vs. the reference proportions, +0.5/bin
    * smoothing on both sides, PSI = Σ (p_cur − p_ref)·ln(p_cur/p_ref).
    * Reads only the reference and bins tables — |keys| × bins rows per
    * batch — never the ingested data. The streaming counterpart of
    * [[graft.operators.EventOps.q168PsiDrift]].
    */
  def psiReport(spark: SparkSession, refPath: String, binsPath: String,
      keyCol: String): DataFrame = {
    val ref = spark.read.parquet(refPath)
    val cur = readBatched(spark, binsPath)
      .groupBy(col(keyCol), col("bin")).agg(sum(col("cur_n")).as("cur_n"))
    val bins = ref.groupBy(col(keyCol)).agg(count(lit(1)).as("n_bins"))
    ref.join(cur, Seq(keyCol, "bin"), "left")
      .na.fill(0L, Seq("cur_n"))
      .join(broadcast(bins), keyCol)
      .withColumn("n_cur_tot",
        sum(col("cur_n")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col(keyCol))))
      .withColumn("p_ref",
        (col("ref_n") + 0.5) / (col("n_ref") + lit(0.5) * col("n_bins")))
      .withColumn("p_cur",
        (col("cur_n") + 0.5) / (col("n_cur_tot") + lit(0.5) * col("n_bins")))
      .groupBy(col(keyCol))
      .agg(
        min(col("n_ref")).as("n_ref"),
        min(col("n_cur_tot")).as("n_cur"),
        sum((col("p_cur") - col("p_ref")) * log(col("p_cur") / col("p_ref")))
          .as("psi"))
  }

  /** Streaming approximate quantiles from the maintained drift bins —
    * the read-side bonus of the [[psiReference]]/[[appendPsiBatchIdempotent]]
    * tables: merged cumulative bin counts give the quantile by linear
    * interpolation INSIDE the landing bin. Error is bounded by one bin
    * width of the reference's [lo, hi] range (values clamp at the
    * edges), which is the right trade for an ops dashboard reading
    * |keys| × bins rows instead of re-scanning the stream; the exact
    * engine ([[graft.operators.Extended.exactQuantilesMulti]]) remains
    * the batch path. Returns (key, n, qLABEL…) one row per key.
    */
  def binQuantileEstimate(spark: SparkSession, refPath: String,
      binsPath: String, keyCol: String, ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      s"quantiles must be in [0,1]: $ps")
    val ref = spark.read.parquet(refPath)
      .select(col(keyCol), col("bin"), col("lo"), col("hi"))
    val nBins = org.apache.spark.sql.expressions.Window.partitionBy(col(keyCol))
    val cur = readBatched(spark, binsPath)
      .groupBy(col(keyCol), col("bin")).agg(sum(col("cur_n")).as("n"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(keyCol))
      .orderBy(col("bin"))
    val cum = ref.join(cur, Seq(keyCol, "bin"), "left")
      .na.fill(0L, Seq("n"))
      .withColumn("n_bins", count(lit(1)).over(nBins))
      .withColumn("cum", sum(col("n")).over(w))
      .withColumn("tot", sum(col("n")).over(nBins))
      .withColumn("width", (col("hi") - col("lo")) / col("n_bins"))
    val qCols = ps.map { p =>
      // first bin whose cumulative count reaches p·total; interpolate
      // within it by the fraction of the bin's mass still needed
      val need = col("tot") * p
      val frac = (need - (col("cum") - col("n"))) / col("n")
      min(when(col("cum") >= need && col("n") > 0,
        col("lo") + (col("bin") + least(greatest(frac, lit(0.0)), lit(1.0)))
          * col("width")))
        .as(s"q${(p * 100).round}")
    }
    val aggs = min(col("tot")).as("n") +: qCols
    cum.groupBy(col(keyCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Categorical drift reference — the [[psiReference]] counterpart for
    * discrete columns (event types, languages, sources): per-key
    * reference category counts, frozen. |keys| × |categories| rows.
    */
  def catReference(ref: DataFrame, keyCol: String, catCol: String): DataFrame =
    ref.groupBy(col(keyCol), col(catCol).as("cat"))
      .agg(count(lit(1)).as("ref_n"))

  /** One arriving batch's per-category counts, written as its
    * `batch_id` partition of the counts table (replay-idempotent).
    * Categories NOT in the reference are still counted — unseen
    * categories are precisely what
    * a categorical monitor must surface (they enter the report with a
    * smoothed-zero reference mass).
    */
  def appendCatBatchIdempotent(batch: DataFrame, countsPath: String,
      keyCol: String, catCol: String, batchId: Long): Unit = {
    appendOnce(batch.sparkSession, countsPath, batchId)(
      batch.groupBy(col(keyCol), col(catCol).as("cat"))
        .agg(count(lit(1)).as("cur_n")))
  }

  /** Jensen–Shannon divergence per key over everything ingested so far:
    * merged current category counts vs. the reference mix, over the
    * UNION of reference and observed categories (an unseen category
    * contributes through its smoothed-zero reference mass — the "new
    * language showed up in the crawl" alarm), +0.5 smoothing per
    * category on both sides. Bounded by ln 2. Reads only the two count
    * tables. The streaming twin of
    * [[graft.operators.EventOps.q171JsDivergence]].
    */
  def jsdReport(spark: SparkSession, refPath: String, countsPath: String,
      keyCol: String): DataFrame = {
    val ref = spark.read.parquet(refPath)
    val cur = readBatched(spark, countsPath)
      .groupBy(col(keyCol), col("cat")).agg(sum(col("cur_n")).as("cur_n"))
    val joined = ref.join(cur, Seq(keyCol, "cat"), "full_outer")
      .na.fill(0L, Seq("ref_n", "cur_n"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(keyCol))
    joined
      .withColumn("n_cats", count(lit(1)).over(w))
      .withColumn("n_ref_tot", sum(col("ref_n")).over(w))
      .withColumn("n_cur_tot", sum(col("cur_n")).over(w))
      .withColumn("p_ref",
        (col("ref_n") + 0.5) / (col("n_ref_tot") + lit(0.5) * col("n_cats")))
      .withColumn("p_cur",
        (col("cur_n") + 0.5) / (col("n_cur_tot") + lit(0.5) * col("n_cats")))
      .withColumn("m", (col("p_ref") + col("p_cur")) / 2)
      .groupBy(col(keyCol))
      .agg(
        min(col("n_ref_tot")).as("n_ref"),
        min(col("n_cur_tot")).as("n_cur"),
        sum(when(col("ref_n") === 0 && col("cur_n") > 0, 1L).otherwise(0L))
          .as("unseen_cats"),
        sum(col("p_cur") * log(col("p_cur") / col("m")) / 2
          + col("p_ref") * log(col("p_ref") / col("m")) / 2).as("jsd"))
  }

  /** Replay-idempotent per-(key, day) counts — the mergeable state
    * behind [[ewmaReport]] and the streaming twin of
    * [[graft.operators.EventOps.q183EwmaDaily]]
    * ([[graft.streaming.StreamOps.ewmaIngestStream]]). Counts sum
    * associatively, so micro-batches may split days arbitrarily; the
    * table stays |keys| × |days| × |batches| rows regardless of stream
    * volume. At-least-once re-delivery of a batchId rewrites its own
    * `batch_id` partition.
    */
  def appendDailyCountsIdempotent(batch: DataFrame, countsPath: String,
      keyCol: String, dayCol: String, batchId: Long): Unit = {
    appendOnce(batch.sparkSession, countsPath, batchId)(
      batch.groupBy(col(keyCol).as("k"), col(dayCol).cast("long").as("day"))
        .agg(count(lit(1)).as("c")))
  }

  /** EWMA trend over everything ingested so far: merges the per-batch
    * daily counts (sums — the reason the state is mergeable) and applies
    * the same scaled-cumulative-sum formulation as the batch q183 — so
    * stream and batch agree bit-for-bit on identical data, whatever the
    * micro-batch cut. Reads only the counts table.
    */
  def ewmaReport(spark: SparkSession, countsPath: String,
      alpha: Double = 0.3): DataFrame = {
    val daily = readBatched(spark, countsPath)
      .groupBy(col("k"), col("day")).agg(sum(col("c")).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k")).orderBy(col("day"))
    daily
      .withColumn("idx", row_number().over(w).cast("double"))
      .withColumn("s", sum(col("c") * pow(lit(1.0 - alpha), -col("idx"))).over(w))
      .select(col("k"), col("day"), col("c"),
        round(lit(alpha) * pow(lit(1.0 - alpha), col("idx")) * col("s"), 4)
          .as("ewma"))
  }

  /** Replay-idempotent per-batch (key, min-day) candidates — the mergeable
    * state behind [[growthReport]] and
    * [[graft.streaming.StreamOps.growthIngestStream]]. MIN is
    * associative, so each batch contributes one candidate first-day per
    * key it saw and the report folds candidates across batches — the
    * table stays |keys seen| × |batches| rows regardless of stream
    * volume, and a re-delivered batchId rewrites its own `batch_id`
    * partition.
    */
  def appendFirstSeenIdempotent(batch: DataFrame, path: String,
      keyCol: String, dayCol: String, batchId: Long): Unit = {
    appendOnce(batch.sparkSession, path, batchId)(
      batch.groupBy(col(keyCol).as("k"))
        .agg(min(col(dayCol).cast("long")).as("first_day")))
  }

  /** Growth curve over everything ingested so far — new keys per
    * first-seen day + cumulative total, from the merged per-batch
    * candidates (min across batches = true first sighting). The live
    * twin of [[graft.operators.EventOps.q198UserGrowth]]: identical
    * result on identical data, whatever the micro-batch cut. Reads only
    * the first-seen table.
    */
  def growthReport(spark: SparkSession, path: String): DataFrame = {
    val firstSeen = readBatched(spark, path)
      .groupBy(col("k")).agg(min(col("first_day")).as("first_day"))
    firstSeen.groupBy(col("first_day").as("day"))
      .agg(count(lit(1)).as("n_new"))
      .withColumn("n_total",
        sum(col("n_new")).over(org.apache.spark.sql.expressions.Window
          .orderBy(col("day"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)))
      .orderBy(col("day"))
  }

  private def tempStatsDir(): String =
    java.nio.file.Files.createTempDirectory("graft_stats_").toString

  /** q121: incremental stats maintenance, exact half — `documents`
    * arrives as two ingest batches (doc_id parity); per-source
    * count/sum/min/max over n_chars are answered from the MERGED stats
    * table only and must hash-match the oracle's full scan.
    */
  def q121IncrementalStats(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val path = tempStatsDir()
    appendBatchStats(docs.filter(col("doc_id") % 2 === 0), path,
      Seq("source"), "n_chars", "n_chars", batchId = 0)
    appendBatchStats(docs.filter(col("doc_id") % 2 === 1), path,
      Seq("source"), "n_chars", "n_chars", batchId = 1)
    mergedSummary(spark, path, Seq("source"))
      .select(col("source"), col("n_rows").as("n_docs"),
        col("v_sum").as("chars_total"), col("v_min").as("chars_min"),
        col("v_max").as("chars_max"))
      .orderBy("source")
  }

  val q121Sql: String =
    """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS chars_total,
      |  min(n_chars) AS chars_min, max(n_chars) AS chars_max
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** q122: incremental stats maintenance, sketch half — distinct users
    * per event type from per-batch HLL sketches unioned at read time,
    * next to the exact full-scan count. Engine-specific sketch values →
    * rows-only driver check; the quantitative grade is the ±5% tolerance
    * check (tools/check_oracle.py), same regime as q09.
    */
  def q122SketchUsers(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
    val path = tempStatsDir()
    appendBatchStats(ev.filter(col("event_id") % 2 === 0), path,
      Seq("event_type"), "user_id", "user_id", batchId = 0)
    appendBatchStats(ev.filter(col("event_id") % 2 === 1), path,
      Seq("event_type"), "user_id", "user_id", batchId = 1)
    val est = mergedSummary(spark, path, Seq("event_type"))
      .select(col("event_type"), col("distinct_est").as("approx_users"))
    val exact = ev.groupBy(col("event_type"))
      .agg(count_distinct(col("user_id")).as("exact_users"))
    est.join(exact, "event_type").orderBy("event_type")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q121_incremental_stats" -> (q121IncrementalStats _),
    "q122_sketch_users" -> (q122SketchUsers _))

  val oracles: Seq[(String, String)] = Seq(
    "q121_incremental_stats" -> q121Sql)
}
