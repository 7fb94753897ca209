package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted near-duplicate graph — the verified edge list of a corpus,
  * derived ONCE and stored, so every downstream graph analytics pass
  * (components, PageRank, label propagation, onion peeling, modularity,
  * assortativity, triangle counts, contamination reach, …) reads a
  * parquet table instead of re-running the pairwise similarity pipeline.
  *
  * At 100 TB the candidate-generation + verify pass is by far the
  * dominant cost of any dup-graph question — orders of magnitude more
  * than any edge-linear graph algorithm that follows — and an analytics
  * session asks MANY graph questions of the same corpus snapshot. This
  * artifact is the boundary that makes that economical: pay the pairwise
  * pass once per corpus snapshot, then every card is a scan of an edge
  * table that is orders of magnitude smaller than the corpus (near-dup
  * pairs only).
  *
  * Layout under `path` — every subtable is a [[GenDir]] generation
  * directory (`<sub>/gen-<n>/…` + commit markers), so compaction and
  * stats refreshes swap in atomically with NO reader-visible missing
  * window and one generation of read-stability for in-flight frames:
  *   - `edges/` — (id_a, id_b, n_inter, jaccard), id_a < id_b, one row
  *     per verified pair with exact Jaccard ≥ the build `tau`;
  *     DIRECTORY-PARTITIONED by `jbucket = floor(jaccard·10)` (clamped
  *     to 9) so a stricter-τ read prunes whole partitions instead of
  *     scanning the full candidate set, and within each bucket
  *     hash-distributed by id_a and SORTED by (id_a, id_b) so per-id
  *     probes prune row groups via min/max stats.
  *   - `degrees/` — (id, degree) at the build threshold (the
  *     undirected degree; each edge contributes to both endpoints),
  *     derived from the WRITTEN edge files, never from a re-derivation.
  *   - `meta/` — 1 row: method ("lsh" | "ppjoin"), tau (the admission
  *     floor — edges below it are NOT stored), shingle_n, n_edges,
  *     n_nodes, plus the subtable schemas as DDL strings (reads apply
  *     them explicitly, so an empty subtable — zero data files — still
  *     reads as an empty frame instead of failing schema inference).
  *     Reads fail loudly on a missing/corrupt meta (the debris of a
  *     crashed build) instead of serving a partial edge list.
  *   With `storeDocs = true` (the incremental-maintenance layout):
  *   - `docs/` — (id, text, batch_id), id-distributed and SORTED so the
  *     per-batch verify's keyed text fetch prunes row groups.
  *   - `bands/` — the persisted LSH band index ([[Dedup.bandsFrame]]
  *     rows + batch_id): (id, band, band_sig). THIS is what makes
  *     [[ingestBatch]] O(batch): new-vs-corpus candidate generation is
  *     an equi-join probe of this table — the corpus is never
  *     re-shingled or re-minhashed per batch.
  *   - `idbloom/` — Bloom-filter rows over `xxhash64(id)` of everything
  *     in `docs/` (one row per append, merged by [[maintain]]). Gates
  *     the known-id check: a batch whose ids all miss the filter skips
  *     the docs anti-join entirely (no false negatives, so the gate is
  *     exact; false positives just take the anti-join path).
  *
  * Stored `jaccard` is the same exact-integer-division double both
  * derivation paths compute, so `readEdges(path, minJaccard = τ')` for
  * any τ' ≥ tau returns BIT-IDENTICAL pairs to re-deriving at τ'
  * directly (both [[Dedup.lshCandidatePairs]]-verify and
  * [[Dedup.ppJoinPairs]] are exact joins above their threshold) — one
  * artifact built at the loosest threshold a session needs serves every
  * stricter question. The jbucket partition filter is derived from the
  * same `floor(j·10)` the writer computed, and floor is monotone, so
  * pruning can never drop a row the jaccard predicate would keep.
  * Parity is pinned by the ApiSpec artifact==derivation tests and
  * graded end-to-end by the q362 build card's DuckDB oracle.
  *
  * Whole-artifact [[write]]s still assemble in a `__building` sibling
  * (meta written LAST) and swap in with two renames; a crash inside
  * that swap leaves the previous artifact at `${path}__old`, which
  * [[readMeta]]'s error names so recovery is one documented rename.
  * Everything that mutates a LIVE artifact ([[ingestBatch]] appends,
  * [[maintain]]/[[refreshStats]] rewrites) goes through [[GenDir]] and
  * has no such window.
  *
  * Single-writer contract: [[ingestBatch]] and [[maintain]] are
  * designed to run from ONE ingest loop (the
  * [[graft.streaming.StreamOps.dupGraphIngestStream]] pattern, which
  * interleaves them safely). [[maintain]] additionally re-checks the
  * source listing before committing each rewrite and aborts the swap if
  * a concurrent append slipped in — a racing append is never silently
  * dropped, the compaction just yields.
  */
object DupGraph {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The artifact's identity row. The schema fields carry each
    * subtable's DDL so reads never depend on schema inference (an empty
    * subtable has no data files to infer from).
    */
  final case class Meta(method: String, tau: Double, shingleN: Int,
      nEdges: Long, nNodes: Long,
      edgesSchema: String = "", degreesSchema: String = "",
      docsSchema: String = "", bandsSchema: String = "")

  /** One Bloom row per append under `idbloom/`. All rows use the same
    * (items, bits) constants, so [[maintain]] can merge them
    * driver-side. Sized for ~1M ids per row at a low fp rate; a corpus
    * far past that per append just raises the fp rate, which only costs
    * extra anti-join work — never correctness (no false negatives).
    */
  private val BloomItems = 1L << 20
  private val BloomBits = 1L << 23
  private val IdBloomSchema = "bf BINARY, n_ids BIGINT, batch_id BIGINT"

  /** floor(j·10) clamped to [0,9] — the edge partition key. Computed
    * with the same floating-point ops on both the write side (Spark
    * `floor(jaccard * 10)`) and the read side, and floor is monotone in
    * j, so a read at floor(τ·10) can never prune a row with j ≥ τ.
    */
  private def jbucketCol: org.apache.spark.sql.Column =
    least(floor(col("jaccard") * 10), lit(9L)).cast("int")

  private def jbucketFloor(minJaccard: Double): Int =
    math.max(0, math.min(9, math.floor(minJaccard * 10 - 1e-9).toInt))

  private def fsOf(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** (bloom bytes, id count) of a frame's id column — null bytes when
    * the frame is empty.
    */
  private def bloomRowOf(df: DataFrame, idCol: String): (Array[Byte], Long) = {
    val r = df.agg(
      expr(s"bloom_filter_agg(xxhash64(`$idCol`), ${BloomItems}L, ${BloomBits}L)").as("bf"),
      count(lit(1)).as("n")).head()
    (r.getAs[Array[Byte]]("bf"), r.getAs[Long]("n"))
  }

  /** Derive the verified edge list and persist it at `path` (replacing
    * any existing artifact there, crash-safely). `method`:
    *   - "lsh"    — MinHash-LSH candidates verified to exact shingle
    *                Jaccard ≥ tau ([[Dedup.lshCandidatePairs]]); subject
    *                to the hot-bucket cap, like every LSH consumer.
    *   - "ppjoin" — exact set-similarity self-join over distinct token
    *                sets at tau ([[Dedup.ppJoinPairs]]); no recall caveat.
    * `storeDocs = true` additionally persists the corpus text, its LSH
    * band index, and the id Bloom sidecar — the [[ingestBatch]]
    * prerequisites (LSH method only).
    * The derivation runs inside a [[Dedup.cacheScope]], so its cached
    * intermediates release when the build completes.
    */
  def write(docs: DataFrame, idCol: String, textCol: String, path: String,
      tau: Double, method: String = "lsh", shingleN: Int = 4,
      maxBucketSize: Int = Dedup.DefaultMaxBucketSize,
      storeDocs: Boolean = false): Meta = {
    require(method == "lsh" || method == "ppjoin",
      s"unknown dup-graph method: $method (want lsh | ppjoin)")
    val spark = docs.sparkSession
    val fs = fsOf(spark, path)
    val building = new org.apache.hadoop.fs.Path(s"${path}__building")
    fs.delete(building, true) // leftovers of a crashed build
    val meta = Dedup.cacheScope {
      val edges = (method match {
        case "lsh" =>
          Dedup.lshCandidatePairs(docs, idCol, textCol, shingleN, maxBucketSize)
            .filter(col("jaccard") >= tau)
        case "ppjoin" => Dedup.ppJoinPairs(docs, idCol, textCol, tau)
      }).select(col("id_a"), col("id_b"), col("n_inter"), col("jaccard"),
        // base-build rows carry batch_id -1; the incremental ingest
        // ([[ingestBatch]]) tags its appends with the real micro-batch
        // id, which is what makes replayed appends detectable
        lit(-1L).as("batch_id"))
        .withColumn("jbucket", jbucketCol)
      val edgesSchema = edges.schema.toDDL
      // The subtable builds under __building are INDEPENDENT pipelines
      // (edges from the pair derivation; docs/bands/idbloom from the
      // corpus scan) made of many small sequential stages — submit them
      // from a few driver threads so each pipeline's tasks back-fill the
      // others' scheduler gaps (guide §2.6). Atomicity is untouched:
      // everything lands inside __building and the artifact only becomes
      // visible via the final swap, so internal write order never
      // mattered for crash safety (unlike ingestBatch's live appends).
      // The enclosing cacheScope's handle is re-installed on each worker
      // thread (Dedup.withScope), so concurrently tracked intermediates
      // still release at the single cacheScope exit.
      val scope = Dedup.currentScope
      val subWrites: Seq[() => Unit] = Seq(
        () => GenDir.publish(spark, s"$building/edges") { g =>
          edges
            .repartition(col("jbucket"), col("id_a"))
            .sortWithinPartitions(col("jbucket"), col("id_a"), col("id_b"))
            .write.mode("overwrite").partitionBy("jbucket").parquet(g)
        }())
      var docsSchema = ""; var bandsSchema = ""
      val moreWrites: Seq[() => Unit] = if (!storeDocs) Nil else {
        val d = docs.select(col(idCol).as("id"), col(textCol).as("text"),
          lit(-1L).as("batch_id"))
        docsSchema = d.schema.toDDL
        val bands = Dedup.bandsFrame(docs, idCol, textCol, shingleN)
          .select(col(idCol).as("id"), col("band"), col("band_sig"),
            lit(-1L).as("batch_id"))
        bandsSchema = bands.schema.toDDL
        Seq(
          () => GenDir.publish(spark, s"$building/docs") { g =>
            d.repartition(col("id")).sortWithinPartitions(col("id"))
              .write.mode("overwrite").parquet(g)
          }(),
          () => GenDir.publish(spark, s"$building/bands") { g =>
            bands.repartition(col("band_sig"))
              .sortWithinPartitions(col("band"), col("band_sig"))
              .write.mode("overwrite").parquet(g)
          }(),
          () => {
            val (bf, nIds) = bloomRowOf(docs, idCol)
            GenDir.publish(spark, s"$building/idbloom") { g =>
              import spark.implicits._
              (if (bf == null) Seq.empty[(Array[Byte], Long, Long)]
               else Seq((bf, nIds, -1L)))
                .toDF("bf", "n_ids", "batch_id")
                .coalesce(1).write.mode("overwrite").parquet(g)
            }()
          })
      }
      {
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        // leaf tasks (each submits jobs and returns) on the bounded
        // jobPool: the fan-out width is capped by design, and a caller
        // running on queryPool (q362's two concurrent rebuilds) can
        // await these without starving them of threads
        implicit val ec: scala.concurrent.ExecutionContext = graft.Util.jobPool
        Await.result(Future.traverse(subWrites ++ moreWrites) { w =>
          Future { scope.fold(w())(s => Dedup.withScope(s)(w())) }
        }, Duration.Inf)
      }
      // degrees + counts from the WRITTEN files — the artifact audits
      // itself, a derivation/write divergence cannot hide in meta
      val written = spark.read.schema(edgesSchema)
        .parquet(GenDir.currentOrFail(spark, s"$building/edges"))
      val deg = written.select(col("id_a").as("id"))
        .unionAll(written.select(col("id_b").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("degree"))
      val degreesSchema = deg.schema.toDDL
      GenDir.publish(spark, s"$building/degrees") { g =>
        deg.repartition(col("id")).sortWithinPartitions(col("id"))
          .write.mode("overwrite").parquet(g)
      }()
      val counts = spark.read.schema(degreesSchema)
        .parquet(GenDir.currentOrFail(spark, s"$building/degrees"))
        .agg(coalesce(sum(col("degree")), lit(0L)).as("deg2"),
          count(lit(1)).as("n_nodes")).head()
      Meta(method, tau, shingleN, counts.getAs[Long]("deg2") / 2L,
        counts.getAs[Long]("n_nodes"),
        edgesSchema, degreesSchema, docsSchema, bandsSchema)
    }
    GenDir.publish(spark, s"$building/meta") { g =>
      writeMetaRow(spark, meta, g)
    }()
    val dest = new org.apache.hadoop.fs.Path(path)
    val old = new org.apache.hadoop.fs.Path(s"${path}__old")
    fs.delete(old, true)
    if (fs.exists(dest)) require(fs.rename(dest, old),
      s"writeDupGraph: cannot move existing $dest aside")
    fs.mkdirs(dest.getParent)
    require(fs.rename(building, dest),
      s"writeDupGraph: cannot move build into $dest")
    fs.delete(old, true)
    meta
  }

  private def writeMetaRow(spark: SparkSession, m: Meta, dir: String): Unit = {
    import spark.implicits._
    Seq((m.method, m.tau, m.shingleN, m.nEdges, m.nNodes,
        m.edgesSchema, m.degreesSchema, m.docsSchema, m.bandsSchema))
      .toDF("method", "tau", "shingle_n", "n_edges", "n_nodes",
        "edges_schema", "degrees_schema", "docs_schema", "bands_schema")
      .coalesce(1).write.mode("overwrite").parquet(dir)
  }

  /** The stored identity row; fails loudly on a missing/ambiguous meta,
    * naming the `${path}__old` remnant when one exists (the debris of a
    * [[write]] that crashed inside its final swap — recovery is one
    * rename back).
    */
  def readMeta(spark: SparkSession, path: String): Meta = {
    def recoveryHint: String =
      if (fsOf(spark, path).exists(new org.apache.hadoop.fs.Path(s"${path}__old")))
        s"; the PREVIOUS artifact survives at ${path}__old (a write crashed " +
          s"mid-swap) — restore it with: rename ${path}__old -> $path"
      else ""
    val rows =
      try spark.read.parquet(GenDir.current(spark, s"$path/meta").getOrElse(
        throw new IllegalStateException(
          s"no dup-graph artifact at $path (meta has no committed generation)" +
            recoveryHint))).collect()
      catch {
        case e: IllegalStateException => throw e
        case e: Exception => throw new IllegalStateException(
          s"dup-graph meta unreadable at $path/meta$recoveryHint", e)
      }
    require(rows.length == 1, s"dup-graph meta corrupt at $path/meta$recoveryHint")
    val r = rows.head
    Meta(r.getAs[String]("method"), r.getAs[Double]("tau"),
      r.getAs[Int]("shingle_n"), r.getAs[Long]("n_edges"),
      r.getAs[Long]("n_nodes"),
      r.getAs[String]("edges_schema"), r.getAs[String]("degrees_schema"),
      r.getAs[String]("docs_schema"), r.getAs[String]("bands_schema"))
  }

  /** Stored verified edges with exact Jaccard ≥ `minJaccard`:
    * (id_a, id_b, n_inter, jaccard), id_a < id_b. `minJaccard` must be
    * at or above the build threshold — below it the artifact has no
    * edges to serve and a silent partial answer would be wrong. The
    * `jbucket` partition predicate rides along with the row filter, so
    * a stricter-τ read scans only the partitions that can hold
    * qualifying rows.
    */
  def readEdges(spark: SparkSession, path: String,
      minJaccard: Double = 0.0): DataFrame = {
    val m = readMeta(spark, path)
    require(minJaccard >= m.tau - 1e-12,
      f"dup-graph at $path stores edges at tau=${m.tau}%.3f; " +
        f"cannot serve minJaccard=$minJaccard%.3f below it")
    spark.read.schema(m.edgesSchema)
      .parquet(GenDir.currentOrFail(spark, s"$path/edges"))
      .filter(col("jbucket") >= lit(jbucketFloor(minJaccard)) &&
        col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("n_inter"), col("jaccard"))
  }

  /** Node degrees: the stored table when `minJaccard` EQUALS the build
    * threshold, a count-aggregate over the filtered edges for stricter
    * thresholds (the edge table is near-dup pairs only — ≪ corpus — and
    * the jbucket partition pruning narrows the recount's scan further),
    * and a LOUD failure below the build floor — the stored degrees are
    * computed at the floor and silently serving them for a looser
    * question would be wrong (same contract as [[readEdges]]).
    */
  def readDegrees(spark: SparkSession, path: String,
      minJaccard: Double = 0.0): DataFrame = {
    val m = readMeta(spark, path)
    require(minJaccard >= m.tau - 1e-12,
      f"dup-graph at $path stores edges at tau=${m.tau}%.3f; " +
        f"cannot serve degrees at minJaccard=$minJaccard%.3f below it")
    if (minJaccard <= m.tau + 1e-12)
      spark.read.schema(m.degreesSchema)
        .parquet(GenDir.currentOrFail(spark, s"$path/degrees"))
    else {
      val e = readEdges(spark, path, minJaccard)
      e.select(col("id_a").as("id")).unionAll(e.select(col("id_b").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("degree"))
    }
  }

  /** One REPLAY-SAFE micro-batch of incremental graph maintenance over
    * an artifact built with `storeDocs = true` (LSH method only — the
    * banding index is what makes new-vs-corpus candidate generation an
    * equi-join; a PPJoin graph has no incremental shortcut).
    *
    * O(batch), not O(corpus): the batch is shingled and signed ONCE;
    * everything corpus-sized is served from the artifact —
    *   - known-id check: the batch's ids probe the `idbloom/` sidecar
    *     first; only Bloom HITS (true redeliveries plus a bounded fp
    *     rate) take the anti-join against the docs store's id column,
    *     and an all-miss batch never opens `docs/` at all;
    *   - new-vs-corpus candidates: an equi-join probe of the persisted
    *     `bands/` index ([[Dedup.lshCandidatePairsAgainstIndex]]) — the
    *     corpus is NEVER re-shingled or re-minhashed;
    *   - exact verify: only matched candidates' text is fetched from
    *     `docs/`, a keyed semi-join into id-sorted files.
    *
    * The batch's new edges (batch×batch plus batch×corpus, filtered to
    * the artifact's admission tau), its band rows, its id Bloom row and
    * its docs are appended batch_id-idempotently, in that order: each
    * append is skipped when the subtable already holds a COMMITTED row
    * for this batchId (the [[graft.Util.batchAlreadyApplied]]
    * discipline), and `docs/` lands LAST so a crash at any point leaves
    * `bands/` and `idbloom/` supersets of `docs/` — the two invariants
    * correctness rides on (a Bloom miss must PROVE novelty; a stored
    * doc must be probe-able). Band rows whose doc append never
    * committed ("phantoms") are harmless: the verify's keyed docs fetch
    * drops their candidates, and the batch's replay re-derives the
    * real edges. Document ids the store already holds are dropped up
    * front, so CROSS-BATCH redelivery (an at-least-once source
    * re-sending a doc under a new batchId) is a no-op for every store.
    *
    * Equivalence contract: after batches B1..Bn the edge set equals the
    * batch build over the union corpus, because "a shares a band bucket
    * with b" is a pairwise property — each pair is examined exactly once,
    * when its later member arrives. The one divergence is the hot-bucket
    * cap, which the incremental path applies per arrival snapshot rather
    * than over the final corpus (a bucket can cross the cap mid-stream);
    * at the default cap that affects only degenerate template buckets,
    * and the parity spec pins the uncapped agreement.
    *
    * `degrees/` and `meta/` are NOT maintained per batch — call
    * [[refreshStats]] after an ingest session (at 100 TB a per-batch
    * full-degree rewrite would dominate the ingest; the recount is one
    * aggregate over the edge table, priced when it is needed).
    *
    * @return the batch's newly admitted edges (id_a, id_b, n_inter,
    *         jaccard) — what a monitoring sink wants to see
    */
  def ingestBatch(batch: DataFrame, batchId: Long, path: String,
      idCol: String, textCol: String,
      maxBucketSize: Int = Dedup.DefaultMaxBucketSize): DataFrame = {
    val spark = batch.sparkSession
    val m = readMeta(spark, path)
    require(m.method == "lsh",
      s"incremental dup-graph maintenance needs an lsh artifact; $path is ${m.method}")
    require(GenDir.current(spark, s"$path/docs").isDefined,
      s"dup-graph at $path has no docs store; build it with storeDocs = true")
    val docsGen = GenDir.currentOrFail(spark, s"$path/docs")
    val bandsGen = GenDir.currentOrFail(spark, s"$path/bands")
    val bloomGen = GenDir.currentOrFail(spark, s"$path/idbloom")
    val edgesGen = GenDir.currentOrFail(spark, s"$path/edges")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext = graft.Util.jobPool
    val newDocs = newDocsOf(batch, spark, m, idCol, textCol, docsGen, bloomGen)
      .localCheckpoint()
    // the four replay-guard reads are independent keyed probes of
    // separate subtables — overlap them with the edge derivation's
    // construction-time bucket-guard jobs (guide §2.6) instead of
    // paying four more sequential job latencies at append time. They
    // are LEAF tasks on the bounded jobPool and are awaited on the
    // caller thread BEFORE any appender task spawns, so no pool task
    // ever awaits another pool task (deadlock-free for any pool size).
    val appliedF: Seq[(String, Future[Boolean])] =
      Seq("edges" -> edgesGen, "bands" -> bandsGen, "bloom" -> bloomGen,
        "docs" -> docsGen).map { case (n, g) =>
        n -> Future(graft.Util.batchAlreadyApplied(spark, g, batchId))
      }
    val edges = Dedup.cacheScope {
      deriveBatchEdges(newDocs, spark, m, idCol, textCol, docsGen, bandsGen,
          maxBucketSize)
        .withColumn("batch_id", lit(batchId))
        .withColumn("jbucket", jbucketCol)
        .localCheckpoint()
    }
    val docsEmpty = newDocs.isEmpty
    // by now the probes have long overlapped with the derivation above;
    // collapse them to plain booleans on the caller thread
    val applied: Map[String, Boolean] =
      appliedF.map { case (n, f) => n -> Await.result(f, Duration.Inf) }.toMap
    // edges/bands/idbloom appends are mutually independent (the crash
    // invariant only needs `docs/` to land LAST — a Bloom miss must
    // prove novelty and a stored doc must be probe-able, both of which
    // hold for any completion subset of the first three); run them
    // concurrently, then commit docs after every sibling landed
    val fEdges = Future {
      if (!applied("edges") && !edges.isEmpty) {
        graft.Util.clearUncommitted(spark, edgesGen)
        edges.write.mode("append").partitionBy("jbucket").parquet(edgesGen)
      }
    }
    // empty-guarded like the edges append: a redelivery-only batch must
    // not append zero-row files on every replay (its batch_id can never
    // commit, so the guard alone would admit the debris forever)
    val fBands = Future {
      if (!docsEmpty && !applied("bands")) {
        graft.Util.clearUncommitted(spark, bandsGen)
        Dedup.bandsFrame(newDocs, idCol, textCol, m.shingleN)
          .select(col(idCol).as("id"), col("band"), col("band_sig"),
            lit(batchId).as("batch_id"))
          .write.mode("append").parquet(bandsGen)
      }
    }
    val fBloom = Future {
      if (!docsEmpty && !applied("bloom")) {
        val (bf, nIds) = bloomRowOf(newDocs, idCol)
        if (bf != null) {
          import spark.implicits._
          graft.Util.clearUncommitted(spark, bloomGen)
          Seq((bf, nIds, batchId)).toDF("bf", "n_ids", "batch_id")
            .coalesce(1).write.mode("append").parquet(bloomGen)
        }
      }
    }
    Await.result(Future.sequence(Seq(fEdges, fBands, fBloom)), Duration.Inf)
    if (!docsEmpty && !applied("docs")) {
      graft.Util.clearUncommitted(spark, docsGen)
      newDocs.select(col(idCol).as("id"), col(textCol).as("text"),
          lit(batchId).as("batch_id"))
        .write.mode("append").parquet(docsGen)
    }
    edges.select(col("id_a"), col("id_b"), col("n_inter"), col("jaccard"))
  }

  /** The batch minus ids the store already holds. At-least-once sources
    * can RE-DELIVER a document in a later batch (different batchId —
    * outside the replay guard's reach); an already-known doc must
    * neither re-pair (its edges exist) nor duplicate in `docs/` (a
    * duplicate corpus row would fan out every future verify join
    * against it). The Bloom sidecar gates the check: ids that MISS
    * every stored filter are provably new (`idbloom/` is a superset of
    * `docs/` by append order) and skip the anti-join; only hits open
    * the docs store, and only its id column.
    */
  private def newDocsOf(batch: DataFrame, spark: SparkSession, m: Meta,
      idCol: String, textCol: String, docsGen: String,
      bloomGen: String): DataFrame = {
    val batchRows = batch.select(col(idCol), col(textCol))
    val blooms = spark.read.schema(IdBloomSchema).parquet(bloomGen)
      .select(col("bf")).collect()
      .map(_.getAs[Array[Byte]]("bf")).filter(_ != null)
    val merged = blooms
      .map(b => org.apache.spark.util.sketch.BloomFilter
        .readFrom(new java.io.ByteArrayInputStream(b)))
      .reduceOption { (a, b) => a.mergeInPlace(b); a }
    def antiJoin(df: DataFrame): DataFrame =
      df.join(spark.read.schema(m.docsSchema).parquet(docsGen)
        .select(col("id").as(idCol)), Seq(idCol), "left_anti")
    merged match {
      // no Bloom rows committed => docs/ is empty. The real invariant:
      // on the append path docs/ commits strictly LAST (after idbloom),
      // and the base build is atomic (all subtables appear together at
      // the swap) — so idbloom/ is always a superset of docs/. Still
      // anti-join defensively rather than assume — the empty store
      // makes it free, and the anti-join is the exact fallback if the
      // invariant were ever violated
      case None => antiJoin(batchRows)
      case Some(bf) =>
        val bytes = { val o = new java.io.ByteArrayOutputStream()
          bf.writeTo(o); o.toByteArray }
        val probe = graft.functions.BloomFunctions.mightContain(spark, bytes, col(idCol))
        val definitelyNew = batchRows.filter(!probe)
        val maybeKnown = batchRows.filter(probe)
        if (maybeKnown.isEmpty) definitelyNew
        else definitelyNew.unionByName(antiJoin(maybeKnown))
    }
  }

  /** The batch's candidate edges as a LAZY frame (no appends, no
    * batch_id column): batch×batch from one LSH pass over the batch,
    * plus batch×corpus via the persisted band index. Exposed
    * (package-private) so the plan-shape spec can lock the O(batch)
    * property: the plan must scan `bands/` and `docs/` as stored
    * tables and run the shingle/minhash kernels over BATCH-derived
    * frames only. Call inside a [[Dedup.cacheScope]].
    */
  private[graft] def deriveBatchEdges(newDocs: DataFrame, spark: SparkSession,
      m: Meta, idCol: String, textCol: String, docsGen: String,
      bandsGen: String, maxBucketSize: Int): DataFrame = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext = graft.Util.jobPool
    // the batch×batch and batch×corpus candidate constructions each run
    // an eager hot-bucket-guard count at build time; they are
    // independent pipelines, so build them concurrently (each worker
    // re-installs the caller's cacheScope so tracked intermediates
    // still release at the single scope exit)
    val scope = Dedup.currentScope
    def scoped[A](body: => A): Future[A] =
      Future(scope.fold(body)(s => Dedup.withScope(s)(body)))
    val fNn = scoped {
      Dedup.lshCandidatePairs(newDocs, idCol, textCol, m.shingleN,
          maxBucketSize)
        .filter(col("jaccard") >= m.tau)
        .select(col("id_a"), col("id_b"), col("n_inter"), col("jaccard"))
    }
    val fNo = scoped {
      val storedBands = spark.read.schema(m.bandsSchema).parquet(bandsGen)
        .select(col("id"), col("band"), col("band_sig"))
      val corpusDocs = spark.read.schema(m.docsSchema).parquet(docsGen)
        .select(col("id").as(idCol), col("text").as(textCol))
      Dedup.lshCandidatePairsAgainstIndex(newDocs, storedBands,
          corpusDocs, idCol, textCol, m.shingleN, maxBucketSize)
        .filter(col("jaccard") >= m.tau)
        .select(least(col("new_id"), col("corpus_id")).as("id_a"),
          greatest(col("new_id"), col("corpus_id")).as("id_b"),
          col("n_inter"), col("jaccard"))
    }
    Await.result(fNn, Duration.Inf).unionAll(Await.result(fNo, Duration.Inf))
  }

  /** Maintenance policy for a continuously-ingested graph
    * ([[ingestBatch]] leaves at least one new file per append under
    * each subtable, so an ingest loop degrades them into small-files
    * scans): when any subtable's parquet file count crosses `maxFiles`,
    * rewrite ALL of them into distributed, sorted generations via
    * [[GenDir.publish]] (batch_id history survives — the replay guard
    * keeps working across compactions), merge the Bloom rows into one,
    * then refresh degrees/meta. Readers are never interrupted: each
    * rewrite commits as a new generation and the previous one stays
    * readable through the swap (and one generation beyond). A rewrite
    * that would race a concurrent append detects it via a
    * before/after listing compare and ABORTS that swap with a warning
    * instead of dropping the appended rows — though the supported
    * pattern is to call this from the same single-threaded ingest loop
    * as [[ingestBatch]]
    * ([[graft.streaming.StreamOps.dupGraphIngestStream]] does).
    * Returns true when a compaction ran (any subtable committed).
    */
  def maintain(spark: SparkSession, path: String, maxFiles: Int = 32): Boolean = {
    val m = readMeta(spark, path)
    val hasDocs = GenDir.current(spark, s"$path/docs").isDefined
    val subs = Seq("edges") ++ (if (hasDocs) Seq("docs", "bands", "idbloom") else Nil)
    val run = subs.exists(s => GenDir.currentFiles(spark, s"$path/$s").size > maxFiles)
    if (!run) return false
    def compact(sub: String, schema: String, partitionCols: Seq[String])(
        rewrite: DataFrame => DataFrame): Boolean = {
      val dir = s"$path/$sub"
      val before = GenDir.currentFiles(spark, dir)
      val cur = GenDir.currentOrFail(spark, dir)
      GenDir.publish(spark, dir) { g =>
        val df = rewrite(spark.read.schema(schema).parquet(cur))
        val w = df.write.mode("overwrite")
        (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
          .parquet(g)
      } { () =>
        val ok = GenDir.currentFiles(spark, dir) == before
        if (!ok) log.warn(s"maintain: concurrent append under $dir during " +
          "compaction — aborting this swap (the appended rows win; rerun maintain)")
        ok
      }
    }
    var committed = compact("edges", m.edgesSchema, Seq("jbucket")) {
      _.repartition(col("jbucket"), col("id_a"))
        .sortWithinPartitions(col("jbucket"), col("id_a"), col("id_b"))
    }
    if (hasDocs) {
      committed |= compact("docs", m.docsSchema, Nil) {
        _.repartition(col("id")).sortWithinPartitions(col("id"))
      }
      committed |= compact("bands", m.bandsSchema, Nil) {
        _.repartition(col("band_sig"))
          .sortWithinPartitions(col("band"), col("band_sig"))
      }
      // Bloom rows MERGE (monotone — a union of supersets of docs/ ids
      // stays a superset no matter what appends race this) rather than
      // rebuild-from-docs, which could miss an id appended mid-rebuild.
      // Merged under batch_id -1: replays of pre-compaction batches are
      // already no-ops (their docs committed, so newDocs is empty).
      val bloomDir = s"$path/idbloom"
      val bloomBefore = GenDir.currentFiles(spark, bloomDir)
      val bloomCur = GenDir.currentOrFail(spark, bloomDir)
      val rows = spark.read.schema(IdBloomSchema).parquet(bloomCur)
        .select(col("bf"), col("n_ids")).collect()
      val merged = rows.map(_.getAs[Array[Byte]]("bf")).filter(_ != null)
        .map(b => org.apache.spark.util.sketch.BloomFilter
          .readFrom(new java.io.ByteArrayInputStream(b)))
        .reduceOption { (a, b) => a.mergeInPlace(b); a }
      committed |= GenDir.publish(spark, bloomDir) { g =>
        import spark.implicits._
        (merged match {
          case Some(bf) =>
            val o = new java.io.ByteArrayOutputStream(); bf.writeTo(o)
            Seq((o.toByteArray, rows.map(_.getAs[Long]("n_ids")).sum, -1L))
          case None => Seq.empty[(Array[Byte], Long, Long)]
        }).toDF("bf", "n_ids", "batch_id")
          .coalesce(1).write.mode("overwrite").parquet(g)
      } { () =>
        val ok = GenDir.currentFiles(spark, bloomDir) == bloomBefore
        if (!ok) log.warn(s"maintain: concurrent append under $bloomDir during " +
          "compaction — aborting this swap (rerun maintain)")
        ok
      }
    }
    if (committed) refreshStats(spark, path)
    committed
  }

  /** Recompute `degrees/` and `meta/` from the CURRENT edge table (the
    * post-ingest refresh). Each lands as a new [[GenDir]] generation —
    * one atomic marker per subtable, no reader-visible window, previous
    * generation retained for in-flight readers.
    */
  def refreshStats(spark: SparkSession, path: String): Meta = {
    val m = readMeta(spark, path)
    val e = readEdges(spark, path, m.tau).localCheckpoint()
    GenDir.publish(spark, s"$path/degrees") { g =>
      e.select(col("id_a").as("id")).unionAll(e.select(col("id_b").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("degree"))
        .repartition(col("id")).sortWithinPartitions(col("id"))
        .write.mode("overwrite").parquet(g)
    }()
    val counts = spark.read.schema(m.degreesSchema)
      .parquet(GenDir.currentOrFail(spark, s"$path/degrees"))
      .agg(coalesce(sum(col("degree")), lit(0L)).as("deg2"),
        count(lit(1)).as("n_nodes")).head()
    val fresh = m.copy(nEdges = counts.getAs[Long]("deg2") / 2L,
      nNodes = counts.getAs[Long]("n_nodes"))
    GenDir.publish(spark, s"$path/meta") { g =>
      writeMetaRow(spark, fresh, g)
    }()
    fresh
  }
}
