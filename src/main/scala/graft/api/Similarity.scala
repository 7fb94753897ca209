package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Library API for embedding similarity search — DataFrame-in/
  * DataFrame-out over a corpus with (idCol: long, embCol: array<float>)
  * columns. The `graft.operators.SimilarityOps` oracle queries are thin
  * bindings of this API to the harness tables.
  *
  * Scale shape (docs/SCALING.md): probe/centroid sides broadcast, the
  * corpus scan never shuffles, dot products run in the codegen'd
  * `vector_dot` expression, and every top-k window projects embedding
  * arrays away before its shuffle so only scalars move.
  */
object Similarity {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private def dot(a: String, b: String): String = s"vector_dot($a, $b)"

  /** Corpus with a precomputed L2 norm column (`norm`) — norms are
    * computed once per vector, never once per pair. Rows whose norm is
    * not strictly positive (zero vectors, or vectors containing NaN) are
    * DROPPED: they have no cosine direction, and their NaN similarities
    * would otherwise rank above every real score in the descending
    * top-k windows (Spark orders NaN greater than any double).
    */
  def withNorm(corpus: DataFrame, embCol: String): DataFrame = {
    corpus.withColumn("norm", expr(s"sqrt(${dot(embCol, embCol)})"))
      // `norm > 0` alone would PASS NaN norms — Spark comparisons order
      // NaN above every double — so the NaN guard must be explicit; Inf
      // norms are dropped too (an Inf component has no usable direction:
      // its cosine against anything is NaN or 0, and downstream means —
      // k-means centroids — would poison whole clusters)
      .filter(col("norm") > 0 && !isnan(col("norm")) &&
        col("norm") =!= Double.PositiveInfinity)
  }

  /** Exact cosine top-k: for every probe row, the k most similar corpus
    * rows (excluding itself): (probe_id, rn, cand_id, sim). `probes`
    * must be a (small, broadcastable) subset shaped like the corpus.
    */
  def cosineKnn(corpus: DataFrame, probes: DataFrame, idCol: String,
      embCol: String, k: Int): DataFrame = {
    val emb = withNorm(corpus, embCol)
    val p = withNorm(probes, embCol)
      .select(col(idCol).as("probe_id"), col(embCol).as("p_emb"), col("norm").as("p_norm"))
    val c = emb.select(col(idCol).as("cand_id"), col(embCol).as("c_emb"), col("norm").as("c_norm"))
    topKTail(c.crossJoin(broadcast(p))
      .filter(col("cand_id") =!= col("probe_id"))
      .withColumn("sim", expr(dot("p_emb", "c_emb")) / (col("p_norm") * col("c_norm"))),
      k)
  }

  /** The centroid frame collapsed into ONE array row (cent_id, cent_emb,
    * cent_norm structs) for broadcasting — the shared construction behind
    * [[ivfAssign]] and [[ivfKnnProbed]]'s cell ranking.
    */
  private def centArray(centroids: DataFrame, idCol: String,
      embCol: String): DataFrame =
    withNorm(centroids, embCol)
      .agg(collect_list(struct(col(idCol).as("cent_id"), col(embCol).as("cent_emb"),
        col("norm").as("cent_norm"))).as("cents"))

  /** Per-probe broadcast top-k over scored (probe_id, cand_id, sim) rows
    * — the shared tail of every kNN here: arrays are projected away
    * before the window shuffle so only scalars move, ranking is
    * (sim desc, cand_id) with self-matches excluded by the caller.
    */
  private def topKTail(scored: DataFrame, k: Int,
      extraCols: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy(col("probe_id")).orderBy(col("sim").desc, col("cand_id"))
    scored
      .select((Seq("probe_id") ++ extraCols ++ Seq("cand_id", "sim")).map(col): _*)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select((Seq(col("probe_id"), col("rn").cast("long").as("rn")) ++
        extraCols.map(col) ++ Seq(col("cand_id"), col("sim"))): _*)
  }

  /** IVF coarse-quantizer assignment: every corpus row gains a `cluster`
    * column = the max-cosine centroid id (ties to the lowest id). The
    * centroid set collapses into ONE broadcast array row, so assignment
    * is a narrow per-row struct-argmax — no row blowup, no shuffle.
    * `centroids` must be a small frame shaped like the corpus.
    */
  def ivfAssign(corpus: DataFrame, centroids: DataFrame, idCol: String,
      embCol: String): DataFrame =
    ivfAssignSim(corpus, centroids, idCol, embCol).drop("csim")

  /** [[ivfAssign]] keeping the winning cosine as `csim` — the per-member
    * assignment quality that the index maintenance stats aggregate.
    */
  private def ivfAssignSim(corpus: DataFrame, centroids: DataFrame,
      idCol: String, embCol: String): DataFrame = {
    val emb = withNorm(corpus, embCol)
    emb.crossJoin(broadcast(centArray(centroids, idCol, embCol)))
      .withColumn("best", expr(
        s"""array_max(transform(cents, c ->
           |  struct(${dot("c.cent_emb", embCol)} / (c.cent_norm * norm) AS csim,
           |         -c.cent_id AS neg_id)))""".stripMargin))
      .withColumn("cluster", -col("best.neg_id"))
      .withColumn("csim", col("best.csim"))
      .drop("cents", "best")
  }

  /** IVF top-k: probes search only their own cell of an [[ivfAssign]]ed
    * corpus: (probe_id, rn, cluster, cand_id, sim).
    */
  def ivfKnn(assigned: DataFrame, probeFilter: org.apache.spark.sql.Column,
      idCol: String, embCol: String, k: Int): DataFrame = {
    val probes = assigned.filter(probeFilter)
      .select(col(idCol).as("probe_id"), col(embCol).as("p_emb"),
        col("norm").as("p_norm"), col("cluster"))
    val cands = assigned
      .select(col(idCol).as("cand_id"), col(embCol).as("c_emb"),
        col("norm").as("c_norm"), col("cluster"))
    topKTail(cands.join(broadcast(probes), "cluster")
      .filter(col("cand_id") =!= col("probe_id"))
      .withColumn("sim", expr(dot("p_emb", "c_emb")) / (col("p_norm") * col("c_norm"))),
      k, extraCols = Seq("cluster"))
  }

  /** IVF top-k with MULTI-CELL probing — the recall/cost knob every
    * production IVF index exposes: each probe searches its `nprobe`
    * highest-cosine cells instead of only its own ([[ivfKnn]] is the
    * nprobe=1 fast path), recovering the near-boundary neighbors
    * single-cell search misses. At nprobe = |cells| this equals the
    * exact kNN (measured in ApiSpec).
    *
    * Scale shape: cell selection is the same ONE-broadcast-row narrow
    * pattern as [[ivfAssign]] (a per-probe sort of |cells| structs, no
    * shuffle), probes explode ×nprobe (tiny side only), and candidates
    * reach them through the broadcast equi-join on the cell id — corpus
    * work is Σ over probed cells of |cell|, a fraction nprobe/|cells|
    * of the exhaustive scan.
    */
  /** Per-probe nprobe-best cell selection — the shared head of every
    * probed search: `probes` shaped (probe_id, p_emb, p_norm) cross-join
    * ONE broadcast centroid-array row, rank the array per probe (negated
    * sim → ascending struct sort puts the best cell first; cent_id
    * breaks ties low-first), keep the nprobe best, explode to
    * (probe_id, p_emb, p_norm, cluster). Single source of the
    * negsim/tie-break semantics the search-equivalence tests rely on.
    */
  private def rankCells(probes: DataFrame, centroids: DataFrame,
      idCol: String, embCol: String, nprobe: Int): DataFrame =
    probes
      .crossJoin(broadcast(centArray(centroids, idCol, embCol)))
      .withColumn("cells", expr(
        s"""transform(slice(array_sort(transform(cents, c ->
           |  struct(-(${dot("c.cent_emb", "p_emb")} / (c.cent_norm * p_norm)) AS negsim,
           |         c.cent_id AS cid))), 1, $nprobe), x -> x.cid)""".stripMargin))
      .select(col("probe_id"), col("p_emb"), col("p_norm"),
        explode(col("cells")).as("cluster"))

  def ivfKnnProbed(assigned: DataFrame, centroids: DataFrame,
      probeFilter: org.apache.spark.sql.Column, idCol: String, embCol: String,
      k: Int, nprobe: Int): DataFrame = {
    val probes = rankCells(
      assigned.filter(probeFilter)
        .select(col(idCol).as("probe_id"), col(embCol).as("p_emb"), col("norm").as("p_norm")),
      centroids, idCol, embCol, nprobe)
    val cands = assigned
      .select(col(idCol).as("cand_id"), col(embCol).as("c_emb"),
        col("norm").as("c_norm"), col("cluster"))
    topKTail(cands.join(broadcast(probes), "cluster")
      .filter(col("cand_id") =!= col("probe_id"))
      .withColumn("sim", expr(dot("p_emb", "c_emb")) / (col("p_norm") * col("c_norm"))),
      k)
  }

  /** All embedding pairs with cosine ≥ threshold (id_a < id_b):
    * (id_a, id_b, sim). Exact all-pairs via a broadcast of one side —
    * the corpus must fit a broadcast; the blocked scale path is
    * [[ivfNearDupPairs]], measured against this exact baseline.
    */
  def nearDupPairs(corpus: DataFrame, idCol: String, embCol: String,
      threshold: Double): DataFrame = {
    val emb = withNorm(corpus, embCol)
    val a = emb.select(col(idCol).as("id_a"), col(embCol).as("a_emb"), col("norm").as("a_norm"))
    val b = emb.select(col(idCol).as("id_b"), col(embCol).as("b_emb"), col("norm").as("b_norm"))
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .withColumn("sim", expr(dot("a_emb", "b_emb")) / (col("a_norm") * col("b_norm")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  /** Embedding-space benchmark decontamination — the semantic
    * counterpart of the n-gram decontamination gate
    * ([[graft.api.Dedup]]): every corpus row gets its max-cosine match
    * among the benchmark vectors (the benchmark collapses into ONE
    * broadcast array row, same contract as [[ivfAssign]] — a benchmark
    * is centroids-sized by definition), and rows at or above
    * `threshold` are flagged `contaminated`. One narrow pass over the
    * corpus, no shuffle, no corpus materialization — the 100 TB plan is
    * the scan itself. Ties in the argmax break to the LOWEST benchmark
    * id (struct-max on (sim, −id)), so the report is a pure function of
    * the data. Returns (id, bench_id, sim, contaminated).
    */
  def embeddingDecontaminate(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, embCol: String, threshold: Double): DataFrame = {
    val emb = withNorm(corpus, embCol)
    emb.crossJoin(broadcast(centArray(benchmark, idCol, embCol)))
      .withColumn("best", expr(
        s"""array_max(transform(cents, c ->
           |  struct(${dot("c.cent_emb", embCol)} / (c.cent_norm * norm) AS sim,
           |         -c.cent_id AS neg_id)))""".stripMargin))
      .select(col(idCol), (-col("best.neg_id")).as("bench_id"),
        col("best.sim").as("sim"),
        (col("best.sim") >= threshold).as("contaminated"))
  }

  /** BLOCKED near-duplicate pairs — the 10⁹-vector formulation: pairs
    * are examined only WITHIN each IVF cell of an [[ivfAssign]]ed
    * corpus, so the plan is an equi-join shuffle on `cluster` (both
    * sides hash-partitioned, no broadcast of either) and the work is
    * Σ|cell|² instead of |corpus|². Exactness trade: a pair whose two
    * sides quantize to different cells is missed — recall against the
    * exact [[nearDupPairs]] baseline is measured in ApiSpec; every pair
    * that IS emitted carries the exact cosine (blocked output ⊆ exact
    * output at the same threshold).
    */
  def ivfNearDupPairs(assigned: DataFrame, idCol: String, embCol: String,
      threshold: Double): DataFrame = {
    val a = assigned.select(col("cluster"), col(idCol).as("id_a"),
      col(embCol).as("a_emb"), col("norm").as("a_norm"))
    val b = assigned.select(col("cluster"), col(idCol).as("id_b"),
      col(embCol).as("b_emb"), col("norm").as("b_norm"))
    a.join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", expr(dot("a_emb", "b_emb")) / (col("a_norm") * col("b_norm")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus with a coarse quantizer
    * ([[ivfAssign]]), examine pairs only WITHIN each cluster, and drop
    * the higher-id side of every pair whose cosine similarity meets the
    * threshold — the lowest-id member of each near-duplicate
    * neighborhood survives as its representative. Deterministic (no RNG:
    * the paper keeps a random point per group; id order is the
    * reproducible equivalent) and engine-portable.
    *
    * Returns the KEPT rows of `assigned` (all columns). Scale shape:
    * the pair scan is [[ivfNearDupPairs]] (equi-join shuffle on
    * `cluster`, Σ|cell|² work, no corpus broadcast); the drop set is a
    * distinct projection of pair right-sides and removes via a
    * left-anti hash join on the id — three shuffles total, nothing
    * quadratic in the corpus. Exactness trade inherited from the
    * blocked pair scan: a near-duplicate pair split across two cells is
    * not seen (that IS SemDeDup — the paper only compares within
    * clusters).
    */
  def semanticDedup(assigned: DataFrame, idCol: String, embCol: String,
      threshold: Double): DataFrame = {
    val drops = ivfNearDupPairs(assigned, idCol, embCol, threshold)
      .select(col("id_b").as(idCol)).distinct()
    assigned.join(drops, Seq(idCol), "left_anti")
  }

  /** Per-cluster audit of [[semanticDedup]]: one row per cluster with
    * `(cluster, n_vecs, n_dropped, n_kept)` — the curation report a
    * pipeline publishes alongside the deduplicated corpus. Same pair
    * scan as [[semanticDedup]]; the drop set joins back LEFT so empty
    * clusters still report zero drops.
    */
  def semanticDedupReport(assigned: DataFrame, idCol: String,
      embCol: String, threshold: Double): DataFrame = {
    val drops = ivfNearDupPairs(assigned, idCol, embCol, threshold)
      .select(col("id_b").as(idCol)).distinct()
      .withColumn("__dropped", lit(1L))
    assigned.join(drops, Seq(idCol), "left_outer")
      .groupBy(col("cluster"))
      .agg(
        count(lit(1)).as("n_vecs"),
        count(col("__dropped")).as("n_dropped"),
        (count(lit(1)) - count(col("__dropped"))).as("n_kept"))
  }

  /** Batch ids dominated by a corpus member of the same cell: the
    * batch-vs-corpus half of incremental semantic dedup. Returns one
    * column (`idCol`) of distinct dominated batch ids. Equi-join on
    * `cluster`; the batch side is a micro-batch (small vs the corpus),
    * so the planner broadcasts it and the corpus scan never shuffles.
    */
  private def crossCellDominated(assignedBatch: DataFrame,
      assignedCorpus: DataFrame, idCol: String, embCol: String,
      threshold: Double): DataFrame = {
    val b = assignedBatch.select(col("cluster"), col(idCol).as("b_id"),
      col(embCol).as("b_emb"), col("norm").as("b_norm"))
    val c = assignedCorpus.select(col("cluster"), col(idCol).as("c_id"),
      col(embCol).as("c_emb"), col("norm").as("c_norm"))
    c.join(broadcast(b), Seq("cluster"))
      .filter(col("c_id") =!= col("b_id"))
      .withColumn("sim", expr(dot("b_emb", "c_emb")) / (col("b_norm") * col("c_norm")))
      .filter(col("sim") >= threshold)
      .select(col("b_id").as(idCol)).distinct()
  }

  /** Incremental SemDeDup: admit only the batch rows that are NOT
    * semantically dominated — by a corpus member of their cell
    * (cosine ≥ threshold) or by a lower-id batch member of their cell
    * (the [[semanticDedup]] rule applied within the arriving batch).
    * Both frames must be [[ivfAssign]]ed against the SAME centroids —
    * the corpus's trained quantizer. Returns the admitted rows of
    * `assignedBatch` (all columns).
    *
    * This is the q84 incremental-ingest contract in the embedding
    * domain: work is proportional to the BATCH's cell collisions, never
    * the corpus size, and admitted ∪ corpus is exactly what
    * [[semanticDedup]] over corpus ∪ batch would keep when every batch
    * id sorts after every corpus id (arrival order = id order).
    */
  def semanticDedupAgainst(assignedBatch: DataFrame,
      assignedCorpus: DataFrame, idCol: String, embCol: String,
      threshold: Double): DataFrame = {
    val corpusDrops = crossCellDominated(assignedBatch, assignedCorpus,
      idCol, embCol, threshold)
    val batchDrops = ivfNearDupPairs(assignedBatch, idCol, embCol, threshold)
      .select(col("id_b").as(idCol)).distinct()
    assignedBatch
      .join(corpusDrops.union(batchDrops).distinct(), Seq(idCol), "left_anti")
  }

  /** Per-cluster audit of [[semanticDedupAgainst]]: one row per cell the
    * batch touches — (cluster, n_batch, n_dropped_corpus,
    * n_dropped_batch, n_admitted), where a row dominated by BOTH a
    * corpus and a batch member counts against the corpus (the corpus
    * veto fires first in the pipeline). The admission report a
    * continuous-ingest dedup stage publishes per micro-batch.
    */
  def semanticDedupAgainstReport(assignedBatch: DataFrame,
      assignedCorpus: DataFrame, idCol: String, embCol: String,
      threshold: Double): DataFrame = {
    val corpusDrops = crossCellDominated(assignedBatch, assignedCorpus,
      idCol, embCol, threshold).withColumn("__c", lit(1L))
    val batchDrops = ivfNearDupPairs(assignedBatch, idCol, embCol, threshold)
      .select(col("id_b").as(idCol)).distinct().withColumn("__b", lit(1L))
    assignedBatch
      .join(corpusDrops, Seq(idCol), "left_outer")
      .join(batchDrops, Seq(idCol), "left_outer")
      .groupBy(col("cluster"))
      .agg(
        count(lit(1)).as("n_batch"),
        count(col("__c")).as("n_dropped_corpus"),
        count(when(col("__c").isNull, col("__b"))).as("n_dropped_batch"),
        count(when(col("__c").isNull && col("__b").isNull, lit(1))).as("n_admitted"))
  }

  /** [[semanticDedupAgainst]] against a [[writeIvfIndex]]-persisted
    * corpus: the batch is assigned with the index's own stored
    * quantizer, and the corpus side is the `cells/` table — the
    * cluster equi-join against the broadcast batch side lets dynamic
    * partition pruning restrict the scan to the batch's cells, so a
    * micro-batch touching 3 of 1000 cells reads 3/1000 of the index
    * files. Returns the admitted batch rows (batch columns + cluster +
    * norm). Compose with [[appendToIvfIndex]] to admit-then-index:
    * later batches then dedupe against earlier admissions too.
    */
  def semanticDedupAgainstIvfIndex(spark: SparkSession, path: String,
      batch: DataFrame, idCol: String, embCol: String,
      threshold: Double): DataFrame = {
    val g = indexGen(spark, path)
    val cents = spark.read.parquet(s"$g/centroids")
    val assignedBatch = ivfAssign(batch, cents, idCol, embCol)
    val cells = spark.read.parquet(s"$g/cells")
      .select(col("cluster"), col(idCol), col(embCol), col("norm"))
    semanticDedupAgainst(assignedBatch, cells, idCol, embCol, threshold)
  }

  /** The persisted index's CURRENT generation root. Every persisted
    * IVF index is a [[GenDir]] at `path`: one generation directory
    * holds all subtables (`cells/`, `centroids/`, `stats/`, and
    * `codebooks/` for the PQ layout), so a rebuild or compaction swaps
    * the WHOLE index atomically — readers resolve either the previous
    * complete index or the new one, never a mix of old cells and new
    * centroids, and never a missing directory. Appends land inside the
    * current generation; the previous generation stays readable through
    * one more publish for in-flight frames.
    */
  private def indexGen(spark: SparkSession, path: String): String =
    GenDir.currentOrFail(spark, path)

  /** L2-normalize an embedding column to unit vectors (float components
    * promoted to double first): (idCol, norm, unit). After this, cosine
    * similarity IS the dot product — normalize once at ingest and every
    * downstream kNN/near-dup pass skips the per-pair norm divides.
    * Fully narrow per-row arithmetic; zero-norm/NaN rows are dropped by
    * [[withNorm]] (no direction to preserve).
    */
  def l2Normalize(corpus: DataFrame, idCol: String, embCol: String): DataFrame =
    withNorm(corpus, embCol)
      .select(col(idCol), col("norm"),
        expr(s"transform(CAST($embCol AS ARRAY<DOUBLE>), x -> x / norm)").as("unit"))

  /** Per-subspace slice frame for product quantization: one row per
    * (vector, subspace) with `subv` = the m-th equal slice of the
    * embedding as ARRAY<DOUBLE>. Narrow per-row explode (m rows per
    * vector, each 1/m the width — the total byte volume is the corpus,
    * not m× the corpus). The embedding dimension must be divisible by
    * `m` (the integer-division slice would silently drop tail
    * components otherwise).
    */
  /** Deterministic ±1 hyperplane matrix for [[srpBandSignatures]]: entry
    * (b, d) is the low bit of the first md5 byte of `"srp:<b>:<d>"` — a
    * fixed PUBLIC derivation with no RNG state, so the engine and its
    * oracles can embed the very same constants and any run on any
    * cluster sketches identically.
    */
  def srpSigns(bits: Int, dim: Int): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(bits, dim) { (b, d) =>
      if ((md.digest(s"srp:$b:$d".getBytes("UTF-8"))(0) & 1) == 0) 1.0 else -1.0
    }
  }

  /** Signed-random-projection sketches (hyperplane LSH — Charikar, STOC
    * 2002 §3): bit b of a vector's sketch is the SIGN of its dot product
    * with pseudo-random ±1 hyperplane b (P[two vectors agree on a bit] =
    * 1 − θ/π), and the `bits` sketch splits into `bands` integer bucket
    * keys — vectors share a (band, band_sig) bucket iff EVERY bit of
    * that band agrees, the banding trade that turns "mostly-agreeing
    * sketches" into an equi-join key. The hyperplane matrix is a
    * bits×dim constant ([[srpSigns]]) folded into the plan; every bit is
    * one codegen'd fixed-order `vector_dot`, so the corpus is scanned
    * once with NO shuffle before the bucket join. Returns (idCol, band,
    * band_sig).
    *
    * Sizing: P[a random pair shares one band] ≈ 2^−(bits/bands), so
    * bits/bands must grow with log₂(corpus) to keep candidate volume
    * linear — 8 bits/band ≈ 0.4% random collisions, right for ~10⁴–10⁶
    * rows; push to 16–24 bits/band at 10⁹ (the hyperplane family is
    * unbounded — widen `bits`, keep the same derivation).
    */
  def srpBandSignatures(corpus: DataFrame, idCol: String, embCol: String,
      dim: Int, bits: Int, bands: Int): DataFrame = {
    require(bits % bands == 0, "bits must split evenly into bands")
    val rpb = bits / bands
    val signs = srpSigns(bits, dim)
    def bitSql(b: Int): String = {
      val arr = signs(b).map(v => s"${v}D").mkString(",")
      s"(CASE WHEN vector_dot($embCol, array($arr)) >= 0.0D THEN ${1L << (b % rpb)}L ELSE 0L END)"
    }
    val bandCols = (0 until bands).map { g =>
      expr((g * rpb until (g + 1) * rpb).map(bitSql).mkString(" + ")).as(s"__b$g")
    }
    corpus.filter(col(embCol).isNotNull)
      .select(col(idCol) +: bandCols: _*)
      .select(col(idCol),
        posexplode(array((0 until bands).map(g => col(s"__b$g")): _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_sig")
      .withColumn("band", col("band").cast("long"))
  }

  /** SRP-LSH near-duplicate pairs: bucket-join candidates from
    * [[srpBandSignatures]] (equi-join on (band, band_sig), id-ordered,
    * deduped across bands), then EXACT cosine verification ≥ `minCos` —
    * the standard candidate-then-verify contract: the sketch only
    * prunes, the verified score decides, so false bucket collisions
    * never surface. Complements the MinHash/SimHash text family with
    * the embedding-space LSH; against brute force ([[cosineKnn]]) the
    * pair candidate volume drops from n²/2 to the banded collision set.
    */
  def srpNearDupPairs(corpus: DataFrame, idCol: String, embCol: String,
      dim: Int, bits: Int, bands: Int, minCos: Double): DataFrame = {
    val sigs = srpBandSignatures(corpus, idCol, embCol, dim, bits, bands)
    val cand = sigs.select(col("band"), col("band_sig"), col(idCol).as("a_id"))
      .join(sigs.select(col("band"), col("band_sig"), col(idCol).as("b_id")),
        Seq("band", "band_sig"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .distinct()
    val normed = withNorm(corpus, embCol)
    cand
      .join(normed.select(col(idCol).as("a_id"), col(embCol).as("__ea"),
        col("norm").as("__na")), "a_id")
      .join(normed.select(col(idCol).as("b_id"), col(embCol).as("__eb"),
        col("norm").as("__nb")), "b_id")
      .withColumn("cos", expr(dot("__ea", "__eb")) / (col("__na") * col("__nb")))
      .filter(col("cos") >= minCos)
      .select(col("a_id"), col("b_id"), col("cos"))
  }

  /** SRP-bucketed approximate top-k search: each probe's candidate set
    * is the UNION of its `bands` hash buckets (equi-join on
    * (band, band_sig) — ~bands·2^−(bits/bands) of the corpus per probe,
    * never a scan), reranked by EXACT cosine and cut to k. The
    * candidate-then-rerank contract means results are always true
    * cosines; only RECALL depends on the sketch geometry (measured in
    * ApiSpec against [[cosineKnn]]). Scale shape: signatures are one
    * shuffle-free scan each side, the bucket join shuffles only
    * (id, band, sig) triples, and the rerank joins embeddings to the
    * candidate set — corpus embedding bytes move only for candidates.
    */
  def srpSearch(corpus: DataFrame, probes: DataFrame, idCol: String,
      embCol: String, dim: Int, bits: Int, bands: Int, k: Int): DataFrame = {
    val cSigs = srpBandSignatures(corpus, idCol, embCol, dim, bits, bands)
    val pSigs = srpBandSignatures(probes, idCol, embCol, dim, bits, bands)
    val cand = pSigs
      .select(col("band"), col("band_sig"), col(idCol).as("probe_id"))
      .join(cSigs.select(col("band"), col("band_sig"), col(idCol).as("cand_id")),
        Seq("band", "band_sig"))
      .filter(col("probe_id") =!= col("cand_id"))
      .select(col("probe_id"), col("cand_id"))
      .distinct()
    val cNorm = withNorm(corpus, embCol)
    val pNorm = withNorm(probes, embCol)
    topKTail(
      cand
        .join(pNorm.select(col(idCol).as("probe_id"), col(embCol).as("__ep"),
          col("norm").as("__np")), "probe_id")
        .join(cNorm.select(col(idCol).as("cand_id"), col(embCol).as("__ec"),
          col("norm").as("__nc")), "cand_id")
        .withColumn("sim", expr(dot("__ep", "__ec")) / (col("__np") * col("__nc")))
        .select(col("probe_id"), col("cand_id"), col("sim")),
      k)
  }

  private def subVectors(corpus: DataFrame, idCol: String, embCol: String,
      m: Int): DataFrame =
    corpus
      .select(col(idCol), expr(s"CAST($embCol AS ARRAY<DOUBLE>)").as("__e"))
      .filter(col("__e").isNotNull)
      .select(col(idCol), explode(expr(s"sequence(0, ${m - 1})")).as("sub"), col("__e"))
      .withColumn("sub", col("sub").cast("long"))
      .withColumn("subv", expr(s"slice(__e, CAST(sub AS INT) * (size(__e) div $m) + 1, size(__e) div $m)"))
      .drop("__e")

  /** Product-quantization codebooks TRAINED per subspace (Jégou et al.
    * 2011, "Product quantization for nearest neighbor search"): the
    * embedding splits into `m` equal slices and each subspace learns its
    * own `k`-codeword quantizer via [[kmeansIterate]] — m independent
    * small k-means problems, each over 1/m-width vectors, so codebook
    * state is m·k·(dim/m) = k·dim doubles regardless of corpus size.
    * Returns (sub, code, cw); codes are the subspace k-means cluster
    * labels. EAGER (k-means iterates when called) — train offline, the
    * codebook is then a broadcast-sized constant, exactly like a
    * CCNet-style calibrated threshold. A vector stored as m small codes
    * costs m·log2(k) bits instead of dim·32 — with m=8, k=16 that is
    * 4 bytes/vector against 256, the compression that makes 10⁹-vector
    * ANN memory-resident.
    */
  def pqTrainCodebooks(corpus: DataFrame, idCol: String, embCol: String,
      m: Int, k: Int, iters: Int): DataFrame = {
    val sv = subVectors(corpus, idCol, embCol, m).localCheckpoint()
    (0 until m).map { s =>
      kmeansIterate(sv.filter(col("sub") === s), idCol, "subv", k, iters)
        .select(lit(s.toLong).as("sub"), col("cluster").as("code"),
          col("centroid").as("cw"))
    }.reduce(_ unionAll _)
  }

  /** Deterministic pseudo-codebooks for oracle-checkable PQ plans: the
    * codewords of subspace s are the s-th slices of the vectors with
    * `idCol < k` — the q43 pseudo-centroid trick lifted to subspaces
    * (no RNG, no iteration, cross-engine reproducible). Production
    * quality comes from [[pqTrainCodebooks]]; the contract
    * (shape, codes, search) is identical.
    */
  def pqCodebookFromIds(corpus: DataFrame, idCol: String, embCol: String,
      m: Int, k: Int): DataFrame =
    subVectors(corpus.filter(col(idCol) < k), idCol, embCol, m)
      .select(col("sub"), col(idCol).cast("long").as("code"), col("subv").as("cw"))

  /** PQ-encode a corpus against a codebook: per (vector, subspace) the
    * L2-nearest codeword — argmin over `‖c‖² − 2·x·c` (the `‖x‖²` term
    * is constant within the argmin and BOTH the engine and its oracles
    * order by this same expression, so near-tie rounding can never
    * disagree), ties broken by code id. Returns the detailed frame
    * (idCol, sub, code, dist2) with dist2 the full reconstruction
    * error `‖x−c‖²`; [[pqEncode]] folds it to one codes-array row per
    * vector. Scale shape: codebook broadcast (k·dim doubles), corpus
    * side narrow explode + per-row argmin window over m·k rows per
    * vector — no shuffle of the embedding bytes beyond the explode.
    */
  def pqEncodeDetailed(corpus: DataFrame, codebooks: DataFrame,
      idCol: String, embCol: String, m: Int): DataFrame = {
    val sv = subVectors(corpus, idCol, embCol, m)
    val w = Window.partitionBy(col(idCol), col("sub"))
      .orderBy(col("__ord"), col("code"))
    sv.join(broadcast(codebooks), "sub")
      .withColumn("__ord",
        expr(dot("cw", "cw")) - lit(2.0) * expr(dot("subv", "cw")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("sub"), col("code"),
        (expr(dot("subv", "subv")) + col("__ord")).as("dist2"))
  }

  /** One codes-array row per vector: (idCol, codes) with `codes[s]` the
    * winning codeword of subspace s (array ordered by subspace).
    */
  def pqEncode(corpus: DataFrame, codebooks: DataFrame, idCol: String,
      embCol: String, m: Int): DataFrame =
    pqEncodeDetailed(corpus, codebooks, idCol, embCol, m)
      .groupBy(col(idCol))
      .agg(expr("transform(array_sort(collect_list(struct(sub, code))), p -> p.code)")
        .as("codes"))

  /** Asymmetric-distance (ADC) top-k search over a PQ-encoded corpus:
    * each probe precomputes its m·k lookup table of
    * `probe_slice · codeword` dot products, and every candidate scores
    * as the sum of m TABLE LOOKUPS — never a dim-width dot product
    * against a raw candidate vector (candidates exist only as codes).
    * `detailed` is [[pqEncodeDetailed]]'s (id, sub, code) frame; the
    * LUT side (probes × m × k rows of scalars) broadcasts, the join is
    * an equi-join on (sub, code), and the per-pair aggregation moves m
    * scalar terms — the 100 TB shape: the full-width float corpus is
    * never read at search time. Score approximates the inner product;
    * L2-normalize corpus and probes first to rank by cosine. Returns
    * (probe_id, rn, cand_id, sim=ADC score).
    */
  def pqSearchAdc(detailed: DataFrame, codebooks: DataFrame,
      probes: DataFrame, idCol: String, embCol: String, m: Int,
      kNbrs: Int): DataFrame = {
    val lut = subVectors(probes, idCol, embCol, m)
      .select(col(idCol).as("probe_id"), col("sub"), col("subv"))
      .join(codebooks, "sub")
      .select(col("probe_id"), col("sub"), col("code"),
        expr(dot("subv", "cw")).as("w"))
    topKTail(
      detailed.select(col(idCol).as("cand_id"), col("sub"), col("code"))
        .join(broadcast(lut), Seq("sub", "code"))
        .filter(col("cand_id") =!= col("probe_id"))
        .groupBy(col("probe_id"), col("cand_id"))
        .agg(sum(col("w")).as("sim")),
      kNbrs)
  }

  /** Persist an IVF-PQ index — the composed 10⁹-vector layout (FAISS
    * IVFADC, Jégou et al. 2011 §IV): a coarse quantizer buckets the
    * corpus into cells ([[ivfAssign]]), each member stores only the PQ
    * codes of its RESIDUAL x − c(x) (residuals concentrate around zero,
    * so the same codebook bits buy far less distortion than coding raw
    * vectors), and one GLOBAL per-subspace codebook set serves every
    * cell. Layout: `cells/` (cluster-partitioned: id, codes),
    * `centroids/` (cluster, cent_emb), `codebooks/` (sub, code, cw). A
    * member costs m·log2(k) bits + its id — at m=8, k=16 that is 4
    * bytes against 256 float bytes, the compression that keeps a
    * billion-vector index memory-resident. The residual frame is
    * materialized once (feeds codebook training and encoding); at full
    * corpus scale persist it to storage instead and train the codebooks
    * on a sample.
    */
  def writePqIvfIndex(corpus: DataFrame, centroids: DataFrame, idCol: String,
      embCol: String, m: Int, k: Int, iters: Int, path: String,
      trainSampleFraction: Double = 1.0): Unit = {
    require(trainSampleFraction > 0.0 && trainSampleFraction <= 1.0,
      "trainSampleFraction must be in (0, 1]")
    val assigned = ivfAssignSim(corpus, centroids, idCol, embCol).localCheckpoint()
    val cents = centroids.select(col(idCol).cast("long").as("cluster"),
      expr(s"transform($embCol, x -> CAST(x AS DOUBLE))").as("cent_emb"))
    val resid = assigned.join(broadcast(cents), "cluster")
      .select(col(idCol), col("cluster"),
        expr(s"zip_with(CAST($embCol AS ARRAY<DOUBLE>), cent_emb, (x, c) -> x - c)")
          .as("resid"))
      .localCheckpoint()
    // codebooks summarize the residual DISTRIBUTION, not individual rows
    // — at corpus scale train on a deterministic id-hash sample (the
    // q68 trick: pure function of the data, same sample every run) and
    // encode the full corpus with the result
    val trainFrame =
      if (trainSampleFraction >= 1.0) resid
      else resid.filter(
        pmod(xxhash64(col(idCol)), lit(1000000L)) <
          lit((trainSampleFraction * 1000000L).toLong))
    val cb = pqTrainCodebooks(trainFrame, idCol, "resid", m, k, iters)
    GenDir.publish(corpus.sparkSession, path) { g =>
      pqEncode(resid, cb, idCol, "resid", m)
        .join(resid.select(col(idCol), col("cluster")), Seq(idCol))
        .write.mode("overwrite").partitionBy("cluster").parquet(s"$g/cells")
      cents.coalesce(1).write.mode("overwrite").parquet(s"$g/centroids")
      cb.coalesce(1).write.mode("overwrite").parquet(s"$g/codebooks")
      // float-domain assignment coherence, same contract as the other two
      // layouts — ivfDriftReport and maintainIvfIndex read it unchanged
      cellStats(assigned, isBase = true)
        .coalesce(1).write.mode("overwrite").parquet(s"$g/stats")
    }()
    ()
  }

  /** Append a batch to a [[writePqIvfIndex]] index WITHOUT retraining:
    * members assign against the stored coarse centroids, residual-encode
    * with the STORED codebooks (the quantizer is frozen between
    * retrains — exactly [[appendToIvfIndex]]'s contract), and land as
    * new files under their cell partitions; per-cell stats append
    * `is_base = false` so [[ivfDriftReport]] sees PQ appends too.
    * [[compactIvfCells]] is payload-agnostic and rewrites accumulated
    * PQ append files the same as float cells.
    */
  def appendToPqIvfIndex(batch: DataFrame, idCol: String, embCol: String,
      path: String): Unit = {
    val spark = batch.sparkSession
    val g = indexGen(spark, path)
    val centsRaw = spark.read.parquet(s"$g/centroids")
    val cb = spark.read.parquet(s"$g/codebooks")
    val m = cb.agg(max(col("sub"))).head().getLong(0).toInt + 1
    val assigned = ivfAssignSim(batch,
      centsRaw.select(col("cluster").as(idCol), col("cent_emb").as(embCol)),
      idCol, embCol).localCheckpoint()
    val resid = assigned.join(broadcast(centsRaw), "cluster")
      .select(col(idCol), col("cluster"),
        expr(s"zip_with(CAST($embCol AS ARRAY<DOUBLE>), cent_emb, (x, c) -> x - c)")
          .as("resid"))
    pqEncode(resid, cb, idCol, "resid", m)
      .join(resid.select(col(idCol), col("cluster")), Seq(idCol))
      .write.mode("append").partitionBy("cluster").parquet(s"$g/cells")
    cellStats(assigned, isBase = false)
      .write.mode("append").parquet(s"$g/stats")
  }

  /** ADC search over a [[writePqIvfIndex]] index: probes rank their
    * `nprobe` nearest cells against the stored coarse centroids, build
    * one RESIDUAL lookup table per probed cell (m·k probe-residual ·
    * codeword dots — the probe's residual differs per cell), and every
    * candidate in a probed cell scores as
    * `q·c(cell) + Σ_s lut[s][code_s]` — the inner-product ADC estimate
    * of q·x, comparable ACROSS cells thanks to the q·c offset. The
    * cells scan joins the broadcast LUT side on the partition column,
    * so dynamic partition pruning restricts it to the probed cells'
    * files; candidates are read as codes only — no float vector is
    * touched at search time. Returns (probe_id, rn, cand_id, sim) with
    * sim the ADC score (approximate — ApiSpec measures purity/recall).
    */
  def searchPqIvfIndex(spark: SparkSession, path: String, probes: DataFrame,
      idCol: String, embCol: String, kNbrs: Int, nprobe: Int): DataFrame = {
    val g = indexGen(spark, path)
    val centsRaw = spark.read.parquet(s"$g/centroids")
    val cb = spark.read.parquet(s"$g/codebooks")
    val m = cb.agg(max(col("sub"))).head().getLong(0).toInt + 1
    val p = rankCells(
      withNorm(probes, embCol).select(col(idCol).as("probe_id"),
        col(embCol).as("p_emb"), col("norm").as("p_norm")),
      centsRaw.select(col("cluster").as(idCol), col("cent_emb").as(embCol)),
      idCol, embCol, nprobe)
    val lut = p.join(broadcast(centsRaw), "cluster")
      .select(col("probe_id"), col("cluster"),
        expr(s"zip_with(CAST(p_emb AS ARRAY<DOUBLE>), cent_emb, (x, c) -> x - c)")
          .as("__r"),
        expr(dot("p_emb", "cent_emb")).as("qc"))
      .select(col("probe_id"), col("cluster"), col("qc"),
        explode(expr(s"sequence(0, ${m - 1})")).as("sub"), col("__r"))
      .withColumn("sub", col("sub").cast("long"))
      .withColumn("subv",
        expr(s"slice(__r, CAST(sub AS INT) * (size(__r) div $m) + 1, size(__r) div $m)"))
      .join(cb, "sub")
      .select(col("probe_id"), col("cluster"), col("qc"), col("sub"), col("code"),
        expr(dot("subv", "cw")).as("w"))
    val terms = spark.read.parquet(s"$g/cells")
      .select(col("cluster"), col(idCol).as("cand_id"),
        posexplode(col("codes")).as(Seq("sub", "code")))
      .withColumn("sub", col("sub").cast("long"))
      .join(broadcast(lut), Seq("cluster", "sub", "code"))
      .filter(col("cand_id") =!= col("probe_id"))
    topKTail(terms.groupBy(col("probe_id"), col("cand_id"))
      .agg((sum(col("w")) + first(col("qc"))).as("sim")), kNbrs)
  }

  /** Symmetric int8 quantization of an embedding column — the storage
    * half of a scaled ANN index (4× smaller than float32, 8× smaller
    * than the float64 Spark would otherwise box): per vector,
    * `scale = max|x| / 127` and `q_i = floor(x_i/scale + 0.5)`, so every
    * component lands in [-127, 127] and the max-magnitude component maps
    * to ±127 exactly. Returns (idCol, scale, q_emb, n_clipped) where
    * `n_clipped` counts full-scale components. Fully narrow per-row
    * arithmetic (element-wise doubles + an order-independent array max —
    * engine-exact, no reduction-order hazard); zero vectors AND vectors
    * containing NaN or ±Inf are dropped (no direction / no finite scale
    * to preserve, matching [[withNorm]] — NaN orders above every double
    * in both engines, so `maxabs > 0` alone would pass it through, and an
    * Inf component makes `x/scale = Inf/Inf = NaN` inside the transform;
    * either way the ANSI int cast would then kill the whole job).
    *
    * Reconstruct with `transform(q_emb, q -> q * scale)`; worst-case
    * per-component error is scale/2, i.e. max|x|/254.
    */
  def quantizeInt8(corpus: DataFrame, idCol: String, embCol: String): DataFrame = {
    // one fused codegen pass per vector (the interpreted
    // transform/array_max/filter HOF chain it replaces measured ~3.5x
    // slower); null = no finite nonzero scale (zero/NaN/Inf) OR a null
    // component (a null q element would bit-garble integer dots), dropped;
    // the q87/q91 oracles mirror every drop condition. Accepts
    // array<float> or array<double> embeddings.
    corpus
      .withColumn("__q", expr(s"quantize_int8($embCol)"))
      .filter(col("__q").isNotNull)
      .select(col(idCol), col("__q.scale").as("scale"),
        col("__q.q_emb").as("q_emb"), col("__q.n_clipped").as("n_clipped"))
  }

  /** Top-k search in the QUANTIZED domain — the search half of the int8
    * ANN storage path ([[quantizeInt8]]): both sides quantize, probes
    * broadcast, and similarity is the int8 cosine
    * `dot(qa,qb) / (|qa|·|qb|)`. The per-vector scales cancel out of the
    * cosine, so the score is a ratio of EXACT integer dot products
    * (`vector_dot_int` accumulates in long) — bit-identical across
    * engines and summation orders with no float-fold hazard, which is
    * what makes the q91 oracle hashable with zero rounding. Accuracy vs
    * the float cosine is bounded by the per-component error scale/2
    * (recall ≥ 0.9 measured in ApiSpec).
    *
    * Scale shape: identical to [[cosineKnn]] — quantization is narrow
    * per-row arithmetic, probes broadcast, the corpus scan never
    * shuffles, and the top-k window moves only scalars (the int arrays
    * are projected away before the shuffle).
    */
  /** Add int8 codes (`q_emb`) and the integer-domain norm (`qnorm`) to
    * `df`, dropping rows [[quantizeInt8]] rejects (no finite nonzero
    * scale / null component) and zero-qnorm rows — the ONE copy of the
    * drop rules the quantized-search-equals-quantizedKnn contracts
    * depend on. Keeps every input column.
    */
  private def withQuant(df: DataFrame, embCol: String): DataFrame = {
    df.withColumn("__q", expr(s"quantize_int8($embCol)"))
      .filter(col("__q").isNotNull)
      .withColumn("q_emb", col("__q.q_emb"))
      .withColumn("qnorm", expr("sqrt(vector_dot_int(q_emb, q_emb))"))
      .filter(col("qnorm") > 0)
      .drop("__q")
  }

  def quantizedKnn(corpus: DataFrame, probes: DataFrame, idCol: String,
      embCol: String, k: Int): DataFrame = {
    val p = withQuant(probes, embCol).select(col(idCol).as("probe_id"),
      col("q_emb").as("p_q"), col("qnorm").as("p_qnorm"))
    val c = withQuant(corpus, embCol).select(col(idCol).as("cand_id"),
      col("q_emb").as("c_q"), col("qnorm").as("c_qnorm"))
    topKTail(c.crossJoin(broadcast(p))
      .filter(col("cand_id") =!= col("probe_id"))
      .withColumn("sim", expr("vector_dot_int(p_q, c_q)") / (col("p_qnorm") * col("c_qnorm"))),
      k)
  }

  /** Lloyd's k-means over an embedding column: `iters` rounds of
    * cosine-assignment to the current centroids followed by a
    * per-(cluster, dimension) mean — the iterated generalization of the
    * single update step (q76) that PRODUCES the centroid set
    * [[ivfAssign]] consumes, closing the ANN loop
    * (seed → iterate → assign → cell-restricted search).
    *
    * Returns (cluster, centroid: array<double>, n). Seeds are the k
    * lowest-id rows (deterministic); clusters that lose all members
    * disappear (standard Lloyd empty-cluster drop).
    *
    * Scale shape: the centroid set collapses to ONE broadcast array row
    * per round (the [[ivfAssign]] argmax — narrow, no corpus shuffle);
    * the update is posexplode + hash agg whose map-side partials bound
    * the round's shuffle at k·dim scalars per task regardless of corpus
    * size. Each round's tiny centroid frame is EAGERLY localCheckpoint'ed
    * so the iterative plan stays flat (the starContractComponents lesson:
    * lineage must not grow with the iteration count) — one full corpus
    * scan per round, exactly Lloyd's lower bound.
    */
  /** One Lloyd round: cosine-assign `corpus` (shaped (idCol, embCol))
    * to `cents` ((cluster: long, cent_emb: array<double>)) and return
    * the updated (cluster, cent_emb, n) frame — zero-/NaN-norm centroid
    * means are dropped (empty-cluster drop; the NaN guard matters
    * because `> 0` alone passes NaN under Spark's NaN-high ordering,
    * and a NaN centroid would out-rank every real score in the next
    * round's argmax, swallowing the whole corpus into one cluster).
    * Assignment IS [[ivfAssign]] — one broadcast centroid-array row,
    * narrow struct-argmax, ties to the lowest cluster id — so batch
    * iteration ([[kmeansIterate]]) and streaming warm starts share one
    * kernel.
    */
  def kmeansStep(corpus: DataFrame, cents: DataFrame, idCol: String,
      embCol: String): DataFrame = {
    val emb = withNorm(corpus, embCol)
      .select(col(idCol).as("vid"),
        expr(s"transform($embCol, x -> CAST(x AS DOUBLE))").as("v"))
    val assigned = ivfAssign(emb,
        cents.select(col("cluster").as("vid"), col("cent_emb").as("v")),
        "vid", "v")
      .select(col("cluster"), col("v"))
    assigned
      .select(col("cluster"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("cluster"), col("dim"))
      .agg(avg(col("x")).as("m"), count(lit(1)).as("cnt"))
      .groupBy(col("cluster"))
      .agg(sort_array(collect_list(struct(col("dim"), col("m")))).as("dm"),
        max(col("cnt")).as("n"))
      .select(col("cluster"), expr("transform(dm, x -> x.m)").as("cent_emb"), col("n"))
      .withColumn("cent_norm", expr("sqrt(vector_dot(cent_emb, cent_emb))"))
      .filter(col("cent_norm") > 0 && !isnan(col("cent_norm")))
      .drop("cent_norm")
  }

  /** Deterministic k-means seeds: the k lowest-id rows of the corpus as
    * a (cluster, cent_emb) frame.
    */
  def kmeansSeed(corpus: DataFrame, idCol: String, embCol: String,
      k: Int): DataFrame =
    withNorm(corpus, embCol)
      .select(col(idCol).as("vid"),
        expr(s"transform($embCol, x -> CAST(x AS DOUBLE))").as("v"))
      .orderBy(col("vid")).limit(k)
      .select(col("vid").cast("long").as("cluster"), col("v").as("cent_emb"))

  def kmeansIterate(corpus: DataFrame, idCol: String, embCol: String,
      k: Int, iters: Int): DataFrame = {
    require(iters >= 1, "kmeansIterate needs at least one iteration")
    var cents = kmeansSeed(corpus, idCol, embCol, k).localCheckpoint(true)
    var centsN = cents.withColumn("n", lit(0L)) // n unknown until a round runs
    var i = 0
    while (i < iters) {
      centsN = kmeansStep(corpus, cents, idCol, embCol).localCheckpoint(true)
      cents = centsN.select(col("cluster"), col("cent_emb"))
      i += 1
    }
    centsN.select(col("cluster"), col("cent_emb").as("centroid"), col("n"))
  }

  /** Persist an IVF index to `path`: `cells/` is the [[ivfAssign]]ed
    * corpus written PARQUET-PARTITIONED BY the cell id, `centroids/` the
    * coarse quantizer. The physical partitioning is the point: a
    * [[searchIvfIndex]] cell restriction becomes storage-level partition
    * pruning, so a probed search READS nprobe/|cells| of the corpus
    * files instead of scanning everything and filtering — at 100 TB the
    * difference between touching ~1% of the files and touching all of
    * them. Centroids are stored raw (id + embedding); norms are
    * recomputed on load (cheap, |cells| rows).
    */
  def writeIvfIndex(corpus: DataFrame, centroids: DataFrame, idCol: String,
      embCol: String, path: String): Unit = {
    val assigned = ivfAssignSim(corpus, centroids, idCol, embCol)
    GenDir.publish(corpus.sparkSession, path) { g =>
      assigned.drop("csim")
        .write.mode("overwrite").partitionBy("cluster").parquet(s"$g/cells")
      centroids.select(col(idCol), col(embCol))
        .coalesce(1).write.mode("overwrite").parquet(s"$g/centroids")
      cellStats(assigned, isBase = true)
        .coalesce(1).write.mode("overwrite").parquet(s"$g/stats")
    }()
    ()
  }

  /** Per-cell assignment-quality stats: (cluster, n, sum_sim, is_base).
    * sum_sim accumulates the members' cosine to their own centroid, so
    * mean_sim = sum_sim / n is the cell's write-time (is_base) or
    * appended-batch coherence — the drift report's raw material. One
    * |cells|-row frame per call: O(1) state per cell, map-side combined.
    */
  private def cellStats(assignedSim: DataFrame, isBase: Boolean): DataFrame =
    assignedSim.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"), sum(col("csim")).as("sum_sim"))
      .withColumn("is_base", lit(isBase))

  /** Incrementally maintain a [[writeIvfIndex]] index: assign `batch` to
    * the EXISTING cells (the stored quantizer does not move) and append
    * the rows under the matching `cluster=` partition directories — new
    * parquet files only, no rewrite of existing data, so a 100 TB index
    * ingests continuously without rebuild. The batch's per-cell
    * assignment quality appends to `stats/` (is_base = false), which is
    * what [[ivfDriftReport]] compares against the write-time baseline to
    * tell the operator when the quantizer has gone stale and
    * [[kmeansIterate]] + a rebuild is due. Searches pick the appended
    * rows up immediately (same layout, same pruning).
    */
  def appendToIvfIndex(batch: DataFrame, idCol: String, embCol: String,
      path: String): Unit = {
    val spark = batch.sparkSession
    val g = indexGen(spark, path)
    val cents = spark.read.parquet(s"$g/centroids")
    // checkpoint: the assignment feeds both the cell append and the
    // stats append; batches are ingest-sized, so materializing once
    // beats re-running the argmax kernel
    val assigned = ivfAssignSim(batch, cents, idCol, embCol).localCheckpoint()
    assigned.drop("csim")
      .write.mode("append").partitionBy("cluster").parquet(s"$g/cells")
    cellStats(assigned, isBase = false)
      .write.mode("append").parquet(s"$g/stats")
  }

  /** Drift report for a maintained IVF index: per cell, the write-time
    * baseline coherence vs the appended batches' coherence —
    * (cluster, n_base, mean_sim_base, n_appended, mean_sim_appended,
    * drift, frac_appended) where drift = mean_sim_base −
    * mean_sim_appended (positive = appended members sit farther from
    * the centroid than the corpus the quantizer was trained on) and
    * frac_appended is the index fraction that arrived after training.
    * Re-run [[kmeansIterate]] and rebuild when drift is material or
    * frac_appended grows past the operator's tolerance. Reads only the
    * |cells|-row stats table — never the index payload.
    */
  def ivfDriftReport(spark: SparkSession, path: String): DataFrame = {
    spark.read.parquet(s"${indexGen(spark, path)}/stats")
      .groupBy(col("cluster"))
      .agg(
        sum(when(col("is_base"), col("n")).otherwise(0L)).as("n_base"),
        sum(when(col("is_base"), col("sum_sim"))).as("sim_base"),
        sum(when(!col("is_base"), col("n")).otherwise(0L)).as("n_appended"),
        sum(when(!col("is_base"), col("sum_sim"))).as("sim_appended"))
      .select(
        col("cluster"),
        col("n_base"),
        (col("sim_base") / col("n_base")).as("mean_sim_base"),
        col("n_appended"),
        (col("sim_appended") / col("n_appended")).as("mean_sim_appended"),
        ((col("sim_base") / col("n_base")) -
          (col("sim_appended") / col("n_appended"))).as("drift"),
        (col("n_appended").cast("double") /
          (col("n_base") + col("n_appended"))).as("frac_appended"))
  }

  /** Search a [[writeIvfIndex]]-persisted index: per-probe nprobe cell
    * selection against the loaded quantizer (the [[ivfKnnProbed]]
    * ONE-broadcast-row narrow pattern), then an equi-join on the cell id
    * — the PARTITION column of `cells/` — so Spark's dynamic partition
    * pruning (reusing the already-broadcast probe side) restricts the
    * scan to the probed cells' directories. No driver-side collect, no
    * full-corpus scan: the pruning filter is derived at runtime from the
    * broadcast exchange.
    */
  def searchIvfIndex(spark: SparkSession, path: String, probes: DataFrame,
      idCol: String, embCol: String, k: Int, nprobe: Int): DataFrame = {
    val g = indexGen(spark, path)
    val cents = spark.read.parquet(s"$g/centroids")
    val p = rankCells(
      withNorm(probes, embCol)
        .select(col(idCol).as("probe_id"), col(embCol).as("p_emb"), col("norm").as("p_norm")),
      cents, idCol, embCol, nprobe)
    val cells = spark.read.parquet(s"$g/cells")
      .select(col("cluster"), col(idCol).as("cand_id"),
        col(embCol).as("c_emb"), col("norm").as("c_norm"))
    topKTail(cells.join(broadcast(p), "cluster")
      .filter(col("cand_id") =!= col("probe_id"))
      .withColumn("sim", expr(dot("p_emb", "c_emb")) / (col("p_norm") * col("c_norm"))),
      k)
  }

  /** Persist a QUANTIZED IVF index — the [[writeIvfIndex]] layout with
    * int8 payloads: cells hold (id, q_emb, qnorm) where `q_emb` is the
    * [[quantizeInt8]] codes (array<int> in [−127, 127] — parquet
    * bit-packs the narrow range, so cells store a fraction of the float
    * embedding bytes) and `qnorm` the integer-domain norm, precomputed
    * once at WRITE time so searches never touch a float embedding.
    * Same physical contract as [[writeIvfIndex]]: partitioned by cell →
    * searches partition-prune. Vectors with no finite nonzero scale or
    * zero integer norm are dropped (the [[quantizeInt8]]/[[withNorm]]
    * guards).
    */
  def writeQuantizedIvfIndex(corpus: DataFrame, centroids: DataFrame,
      idCol: String, embCol: String, path: String): Unit = {
    val assigned = ivfAssignSim(corpus, centroids, idCol, embCol)
    GenDir.publish(corpus.sparkSession, path) { g =>
      withQuant(assigned.drop("csim"), embCol)
        .select(col(idCol), col("cluster"), col("q_emb"), col("qnorm"))
        .write.mode("overwrite").partitionBy("cluster").parquet(s"$g/cells")
      centroids.select(col(idCol), col(embCol))
        .coalesce(1).write.mode("overwrite").parquet(s"$g/centroids")
      // stats stay in the FLOAT domain (the assignment cosine) on both the
      // base write and appends, so the drift comparison is domain-consistent
      cellStats(assigned, isBase = true)
        .coalesce(1).write.mode("overwrite").parquet(s"$g/stats")
    }()
    ()
  }

  /** [[appendToIvfIndex]] for a [[writeQuantizedIvfIndex]] index: the
    * batch assigns against the stored quantizer, quantizes to the int8
    * payload, appends under the matching cell partitions, and records
    * its float-domain per-cell stats for [[ivfDriftReport]].
    */
  def appendToQuantizedIvfIndex(batch: DataFrame, idCol: String,
      embCol: String, path: String): Unit = {
    val spark = batch.sparkSession
    val g = indexGen(spark, path)
    val cents = spark.read.parquet(s"$g/centroids")
    val assigned = ivfAssignSim(batch, cents, idCol, embCol).localCheckpoint()
    withQuant(assigned.drop("csim"), embCol)
      .select(col(idCol), col("cluster"), col("q_emb"), col("qnorm"))
      .write.mode("append").partitionBy("cluster").parquet(s"$g/cells")
    cellStats(assigned, isBase = false)
      .write.mode("append").parquet(s"$g/stats")
  }

  /** Compact a maintained IVF index's cell files. Every
    * [[appendToIvfIndex]] / [[appendToQuantizedIvfIndex]] call leaves at
    * least one new parquet file per touched cell, so continuous ingest
    * degrades the cells directory into a small-files scan (file-listing
    * and per-file open cost grow without bound even though partition
    * pruning still skips unprobed cells). This rewrites each cell
    * partition's accumulated files into ~`targetRowsPerFile`-row files:
    * rows group deterministically by a hash of their payload columns
    * into ceil(n_cell / target) groups, one shuffle keyed on
    * (cell, group) lands each group in one task, and the partitioned
    * write re-creates the exact [[writeIvfIndex]] layout — both the
    * float and the int8 layout compact unchanged (the rewrite never
    * looks at payload semantics, only at `cluster`). The `stats/` and
    * `centroids/` tables are untouched: base/appended row history (the
    * [[ivfDriftReport]] input) survives compaction.
    *
    * The swap is a [[GenDir]] generation publish: the rewrite (plus the
    * small centroids/codebooks/stats tables, copied forward so the
    * whole index stays one consistent generation) lands complete and is
    * committed with one atomic marker — readers, including
    * [[graft.streaming.StreamOps.ivfSearchStream]] which re-resolves
    * the generation every micro-batch, observe either the previous
    * complete index or the compacted one, NEVER a missing directory,
    * and the previous generation stays readable through one more
    * publish for in-flight frames. An append that races the rewrite is
    * detected by a listing compare immediately before the commit and
    * ABORTS the compaction (the appended rows win; rerun after the
    * batch) — though the supported pattern is to run compaction from
    * the same single-threaded ingest loop as the appends.
    *
    * @return (files before, files after) for ingest-loop observability
    */
  def compactIvfCells(spark: SparkSession, path: String,
      targetRowsPerFile: Long = 1L << 22): (Long, Long) = {
    require(targetRowsPerFile > 0, "targetRowsPerFile must be positive")
    val gBefore = indexGen(spark, path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def parquetFiles(dir: String): Long = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(dir), true)
      var n = 0L
      while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      n
    }
    val before = parquetFiles(s"$gBefore/cells")
    val listingBefore = GenDir.currentFiles(spark, path)
    val cells = spark.read.parquet(s"$gBefore/cells")
    val payloadCols = cells.columns.filter(_ != "cluster")
    // per-cell counts are |cells| rows — broadcast back onto the scan so
    // group assignment stays narrow
    val counts = cells.groupBy(col("cluster")).agg(count(lit(1)).as("__n"))
    val rewritten = cells
      .join(broadcast(counts), Seq("cluster"))
      .withColumn("__fg", pmod(
        xxhash64(payloadCols.map(col): _*),
        greatest(lit(1L),
          ceil(col("__n") / lit(targetRowsPerFile.toDouble)).cast("long"))))
      .repartition(col("cluster"), col("__fg"))
      .select(cells.columns.map(col): _*)
    GenDir.publish(spark, path) { g =>
      rewritten.write.mode("overwrite").partitionBy("cluster").parquet(s"$g/cells")
      // carry the small sibling tables into the new generation — one
      // generation IS the whole index, so a reader can never pair new
      // cells with old centroids
      for (sub <- Seq("centroids", "codebooks", "stats")
          if fs.exists(new org.apache.hadoop.fs.Path(s"$gBefore/$sub")))
        spark.read.parquet(s"$gBefore/$sub")
          .coalesce(1).write.mode("overwrite").parquet(s"$g/$sub")
    } { () =>
      val ok = GenDir.currentFiles(spark, path) == listingBefore
      if (!ok) log.warn(s"compactIvfCells: concurrent append under $path " +
        "during compaction — aborting this swap (the appended rows win)")
      ok
    }
    (before, parquetFiles(s"${indexGen(spark, path)}/cells"))
  }

  /** Drift-triggered retrain policy for a maintained IVF index: read
    * [[ivfDriftReport]] (the |cells|-row stats rollup — never the index
    * payload), and if the appended volume's coherence has degraded past
    * `driftThreshold` (append-weighted mean drift) or the index is
    * mostly post-training data (`frac_appended` above
    * `fracAppendedThreshold`), re-run [[kmeansIterate]] over `corpus`
    * and rebuild the index in place — [[writeIvfIndex]] or
    * [[writeQuantizedIvfIndex]], matching the existing layout, which is
    * detected from the stored cell schema. This is the orchestration the
    * append/drift operators exist to drive: ingest appends, the report
    * accumulates evidence, and one call here turns the signal into a
    * fresh quantizer once it is material.
    *
    * `corpus` must be the CURRENT full corpus (base + everything
    * appended): the quantized layout stores int8 codes, so a rebuild
    * cannot recover float embeddings from the index itself — the caller
    * owns the source of truth, the index is a derived artifact.
    * The rebuild publishes a NEW [[GenDir]] generation (cells,
    * centroids, stats — and for PQ, codebooks — together), so a search
    * racing it resolves either the complete old index or the complete
    * new one, never a mix or a missing directory; appended small files
    * die with the rewrite, which subsumes [[compactIvfCells]].
    *
    * @return true iff the thresholds tripped and the index was rebuilt
    */
  def maintainIvfIndex(spark: SparkSession, corpus: DataFrame,
      idCol: String, embCol: String, path: String,
      driftThreshold: Double, fracAppendedThreshold: Double = 0.5,
      k: Int = 64, iters: Int = 3): Boolean = {
    val report = ivfDriftReport(spark, path)
      .agg(
        sum(when(!isnan(col("drift")),
          col("drift") * col("n_appended")).otherwise(0.0)).as("wdrift"),
        sum(when(!isnan(col("drift")), col("n_appended")).otherwise(0L)).as("wn"),
        sum(col("n_appended")).as("n_app"),
        sum(col("n_base")).as("n_base"))
      .head()
    val nApp = report.getLong(report.fieldIndex("n_app"))
    val nBase = report.getLong(report.fieldIndex("n_base"))
    val wn = report.getLong(report.fieldIndex("wn"))
    val meanDrift = if (wn > 0L) report.getDouble(report.fieldIndex("wdrift")) / wn else 0.0
    val fracAppended =
      if (nApp + nBase > 0L) nApp.toDouble / (nApp + nBase) else 0.0
    val stale = meanDrift > driftThreshold || fracAppended > fracAppendedThreshold
    if (stale) {
      val quantized = spark.read.parquet(s"${indexGen(spark, path)}/cells")
        .schema.fieldNames.contains("q_emb")
      val cents = kmeansIterate(corpus, idCol, embCol, k, iters)
        .select(col("cluster").as(idCol), col("centroid").as(embCol))
      if (quantized) writeQuantizedIvfIndex(corpus, cents, idCol, embCol, path)
      else writeIvfIndex(corpus, cents, idCol, embCol, path)
    }
    stale
  }

  /** Search a [[writeQuantizedIvfIndex]] index: cell selection runs in
    * the float domain against the stored quantizer (the one-broadcast-
    * row pattern), probes quantize on the fly, and scoring is the int8
    * cosine — a ratio of EXACT integer dot products ([[quantizedKnn]]
    * semantics; per-vector scales cancel), against cells reached through
    * dynamic partition pruning. At nprobe = |cells| this equals
    * [[quantizedKnn]] over the same corpus exactly (same scores, same
    * drops); below it, the recall/cost knob of [[ivfKnnProbed]] in a
    * quarter of the storage.
    */
  def searchQuantizedIvfIndex(spark: SparkSession, path: String,
      probes: DataFrame, idCol: String, embCol: String, k: Int,
      nprobe: Int): DataFrame = {
    val g = indexGen(spark, path)
    val cents = spark.read.parquet(s"$g/centroids")
    val p = withQuant(
        rankCells(
          withNorm(probes, embCol)
            .select(col(idCol).as("probe_id"), col(embCol).as("p_emb"), col("norm").as("p_norm")),
          cents, idCol, embCol, nprobe),
        "p_emb")
      .select(col("probe_id"), col("q_emb").as("p_q"),
        col("qnorm").as("p_qnorm"), col("cluster"))
    val cells = spark.read.parquet(s"$g/cells")
      .select(col("cluster"), col(idCol).as("cand_id"),
        col("q_emb").as("c_q"), col("qnorm").as("c_qnorm"))
    topKTail(cells.join(broadcast(p), "cluster")
      .filter(col("cand_id") =!= col("probe_id"))
      .withColumn("sim",
        expr("vector_dot_int(p_q, c_q)") / (col("p_qnorm") * col("c_qnorm"))),
      k)
  }

  /** Exact cosine top-k for probe sets TOO LARGE to broadcast (the
    * [[cosineKnn]] contract requires broadcastable probes): the corpus
    * hashes into `blocks` blocks, probes replicate to every block, and
    * the shuffle-hash equi-join on the block key bounds per-task memory
    * at |corpus|/blocks with no broadcast of either side. The typed
    * top-k aggregator then reduces every partition to ≤k candidates per
    * probe before the final merge shuffle (two-phase top-k). Same
    * O(|probes|·|corpus|) similarity work as the broadcast plan — this
    * buys scale-out memory shape, not fewer comparisons. Size `blocks`
    * so corpus/blocks fits an executor (and ≥ cluster parallelism).
    */
  def cosineKnnShuffled(corpus: DataFrame, probes: DataFrame, idCol: String,
      embCol: String, k: Int, blocks: Int = 64): DataFrame = {
    val topk = udaf(new graft.functions.TopKAggregator(k))
    val c = withNorm(corpus, embCol).select(
      pmod(hash(col(idCol)), lit(blocks)).as("blk"),
      col(idCol).as("cand_id"), col(embCol).as("c_emb"), col("norm").as("c_norm"))
    val p = withNorm(probes, embCol).select(
      col(idCol).as("probe_id"), col(embCol).as("p_emb"), col("norm").as("p_norm"),
      explode(sequence(lit(0), lit(blocks - 1))).as("blk"))
    c.hint("shuffle_hash").join(p, Seq("blk"))
      .filter(col("cand_id") =!= col("probe_id"))
      .withColumn("sim", expr(dot("p_emb", "c_emb")) / (col("p_norm") * col("c_norm")))
      .select(col("probe_id"), col("cand_id"), col("sim"))
      .groupBy(col("probe_id"))
      .agg(topk(col("cand_id"), col("sim")).as("top"))
      .select(col("probe_id"), posexplode(col("top")))
      .select(col("probe_id"), (col("pos") + 1).cast("long").as("rn"),
        col("col.id").as("cand_id"), col("col.score").as("sim"))
  }
}
