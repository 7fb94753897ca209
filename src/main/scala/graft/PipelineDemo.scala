package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end training-data curation pipeline over the library APIs —
  * the composed shape a user runs against their own corpus:
  *
  *   1. feature columns  — quality score, language ID, token counts,
  *                         within-doc repetition (fused shingle kernel)
  *   2. quality gates    — score ≥ threshold, repetition ≤ threshold
  *   3. decontamination  — drop docs leaking benchmark n-grams (optional;
  *                         Bloom pre-gate + exact verify join, so the
  *                         suite's size bound is ~10 bits/shingle)
  *   4. exact dedup      — normalized-fingerprint keeper per group
  *   5. near-dup dedup   — MinHash-LSH pairs → components → the
  *                         HIGHEST-QUALITY member survives each cluster
  *                         (canonicalPerCluster over the stage-1 score,
  *                         not an arbitrary min-id keeper)
  *   6. semantic dedup   — SemDeDup over the survivors' embeddings
  *                         (optional; catches paraphrases the n-gram
  *                         stages cannot see)
  *   7. source quota     — optional per-group cap: each source keeps its
  *                         k best survivors by quality (scoreQuotaCap)
  *
  * Every stage is DataFrame-in/DataFrame-out; the wide ops are the
  * exact-dedup fingerprint window, the LSH bucket groupBy, and the
  * final anti-join against the drop set. The exact-deduped corpus is
  * cached through [[graft.api.Dedup.trackCache]] because the LSH pass
  * scans it multiple times (banding + candidate verification + final
  * join); run inside [[graft.api.Dedup.cacheScope]] to release it.
  *
  * Usage: runMain graft.PipelineDemo [sfDir]
  */
object PipelineDemo {

  /** The curation pipeline: returns the kept, feature-annotated corpus.
    * `benchmark` (when given) is an eval-set-shaped frame with the same
    * id/text columns; docs whose `decontamNgram`-gram overlap fraction
    * with it exceeds `maxContamination` are dropped. The defaults
    * (8-grams, any overlap drops) follow production decontamination
    * practice — 8–13-gram overlap against held-out benchmarks — rather
    * than 4-grams, where common short phrases alone would drop heavily;
    * raise `maxContamination` to tolerate incidental single-window hits
    * on large benchmarks.
    */
  def curate(docs: DataFrame, minQuality: Double = 0.5,
      nearDupJaccard: Double = 0.5, maxRepetition: Double = 0.3,
      benchmark: Option[DataFrame] = None, decontamNgram: Int = 8,
      maxContamination: Double = 0.0,
      embeddings: Option[DataFrame] = None, semanticCosine: Double = 0.85,
      semanticCells: Int = 16,
      sourceQuota: Option[(String, Int)] = None): DataFrame = {
    import docs.sparkSession.implicits._

    // 1. quality gates (all narrow; docs too short to have bigrams have
    // no repetition signal and pass that gate)
    val scored = docs
      .withColumn("quality", graft.api.Text.qualityScore($"text"))
      .withColumn("lang_pred", graft.api.Text.langIdPredict($"text"))
      .withColumn("n_tokens", graft.api.Text.tokenCount($"text"))
      .withColumn("repetition", graft.api.Text.dupNgramFrac($"text", 2))
      .filter($"quality" >= minQuality &&
        ($"repetition".isNull || $"repetition" <= maxRepetition))

    // 2. decontamination (optional): the stats frame lists ONLY
    // contaminated docs — keep those at or below the tolerated overlap
    // fraction, broadcast the rest into an anti-join
    val clean = benchmark match {
      case Some(b) =>
        val contaminated = graft.api.Dedup
          .decontaminationStats(scored, b, "doc_id", "text", decontamNgram)
          .filter($"contamination_frac" > maxContamination)
          .select($"doc_id")
        scored.join(broadcast(contaminated), Seq("doc_id"), "left_anti")
      case None => scored
    }

    // 3. exact dedup: keep the smallest doc_id per normalized
    // fingerprint; cached (scope-tracked) — the LSH stage below scans
    // this frame several times
    val exactKept = graft.api.Dedup.trackCache(clean
      .withColumn("fp", graft.api.Text.normalizedFingerprint($"text"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"fp").orderBy($"doc_id")))
      .filter($"rn" === 1).drop("rn", "fp"))

    // 4. near-dup dedup: each LSH cluster keeps its HIGHEST-QUALITY
    // member (ties to lowest id) — the stage-1 score is already on the
    // frame, so canonical selection costs one broadcast + rank-1 window
    val clusters = graft.api.Dedup.clusterComponents(
      graft.api.Dedup.lshCandidatePairs(exactKept, "doc_id", "text")
        .filter($"jaccard" >= nearDupJaccard)
        .select($"id_a", $"id_b"))
    val canon = graft.api.Dedup.canonicalPerCluster(
      clusters.select($"id", $"cluster", $"cluster_size"),
      exactKept.select($"doc_id", $"quality"), "doc_id", "quality")
    val dropIds = clusters
      .join(canon.select($"keep_doc_id".as("id")), Seq("id"), "left_anti")
      .select($"id".as("doc_id"))
    val textKept = exactKept.join(broadcast(dropIds), Seq("doc_id"), "left_anti")

    // 5. semantic dedup (optional): SemDeDup over the survivors'
    // embeddings — cluster with corpus-trained centroids, drop the
    // higher-id side of any within-cell pair at cosine ≥ threshold.
    // Catches paraphrases the n-gram stages cannot see; the embedding
    // frame must carry (vec_id = doc_id, embedding).
    val semFinal = embeddings match {
      case Some(e) =>
        val survivors = e.join(
          textKept.select($"doc_id".as("vec_id")), Seq("vec_id"), "left_semi")
        val cents = graft.api.Similarity.kmeansIterate(
            survivors, "vec_id", "embedding", k = semanticCells, iters = 2)
          .select($"cluster".as("vec_id"), $"centroid".as("embedding"))
        // drop ONLY the semantically-dominated ids: a doc with no (or a
        // zero-norm) embedding has no semantic judgment and survives
        val semKept = graft.api.Similarity.semanticDedup(
          graft.api.Similarity.ivfAssign(survivors, cents, "vec_id", "embedding"),
          "vec_id", "embedding", semanticCosine)
        val droppedIds = survivors
          .join(semKept.select($"vec_id"), Seq("vec_id"), "left_anti")
          .select($"vec_id".as("doc_id"))
        textKept.join(broadcast(droppedIds), Seq("doc_id"), "left_anti")
      case None => textKept
    }

    // 6. optional source quota: every group keeps its k best survivors
    sourceQuota match {
      case Some((groupCol, k)) =>
        graft.api.Sampling.scoreQuotaCap(semFinal, groupCol, "quality",
          "doc_id", k).drop("quota_rank")
      case None => semFinal
    }
  }

  /** Corpus health data card for a (curated) documents frame — the
    * observability stage that runs AFTER [[curate]] and gates promotion
    * to training: a declarative DQ audit (schema-level expectations)
    * plus a per-source statistical profile (volume, length
    * concentration, vocabulary shape). Returns (audit, profile).
    *
    *   - audit: [[graft.api.Quality.audit]] — doc_id present+unique,
    *     text present, n_chars positive and consistent with the text
    *     column; one scan + one hash agg.
    *   - profile: per source — doc count, total/mean chars, Gini of
    *     lengths (rank formula, exact integer sums), and the Zipf
    *     log-log slope of the top-100 token ranks (regr_slope over the
    *     vocab-bounded count frame). One tokenizing scan + one window.
    */
  def healthReport(docs: DataFrame): (DataFrame, DataFrame) = {
    import docs.sparkSession.implicits._
    import graft.api.Quality._
    val audit0 = audit(docs, Seq(
      NotNull("doc_id"),
      Unique(Seq("doc_id")),
      NotNull("text"),
      InRange("n_chars", 1, Double.MaxValue),
      Check("n_chars_matches_text", length($"text") === $"n_chars")))

    val tf = docs
      .select($"source", explode(filter(split($"text", " "), t => t =!= ""))
        .as("tok"))
      .groupBy($"source", $"tok").agg(count(lit(1)).as("freq"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"source")
          .orderBy($"freq".desc, $"tok".asc)))
    val zipf = tf.groupBy($"source").agg(
      count(lit(1)).as("vocab"),
      round(regr_slope(
        when($"rank" <= 100, log($"freq".cast("double"))),
        log($"rank".cast("double"))), 4).as("zipf_slope"))
    val gini = docs
      .withColumn("i", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"source")
          .orderBy($"n_chars".asc, $"doc_id".asc)).cast("long"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("chars_total"),
        sum($"i" * $"n_chars").as("ix_sum"))
      .select($"source", $"n_docs", $"chars_total",
        round($"chars_total".cast("double") / $"n_docs", 2).as("chars_mean"),
        round(($"ix_sum" * 2).cast("double") /
          ($"n_docs" * $"chars_total").cast("double") -
          ($"n_docs" + 1).cast("double") / $"n_docs".cast("double"), 6)
          .as("gini_chars"))
    (audit0, gini.join(zipf, "source").orderBy($"source"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val cpus = SparkEntry.cpus
    val spark = SparkEntry.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    // evaluate inside the cache scope — dedup intermediates release on exit
    graft.api.Dedup.cacheScope {
      val kept = curate(docs, embeddings = Some(emb))
      println(s"[pipeline] in=${docs.count()} kept=${kept.count()}")
      kept.groupBy("lang_pred").count().show()
      val (auditRep, profile) = healthReport(kept)
      auditRep.show(truncate = false)
      profile.show(truncate = false)
    }
    spark.stop()
  }
}
