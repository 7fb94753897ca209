package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Library API for near-duplicate detection — DataFrame-in/DataFrame-out,
  * column names parameterized, so callers run these operators over their
  * own corpora (the `graft.operators.DedupOps` oracle queries are thin
  * bindings of this API to the harness tables).
  *
  * Hash family and plan shapes are documented in
  * [[graft.operators.DedupOps]] and docs/SCALING.md: shingling and
  * minhashing are fused native codegen expressions and stay narrow; only
  * band signatures and posting lists ever shuffle; candidate verification
  * broadcasts pairs and intersects shingle arrays in place.
  */
object Dedup {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  val NumSeeds = 8
  private val BandRows = 4 // 2 bands × 4 rows

  /** Hot-bucket guard for [[lshCandidatePairs]]: LSH buckets with more
    * than this many postings are dropped (and counted) instead of
    * exploded into pairs — one degenerate band signature (boilerplate
    * docs sharing a shingle set) would otherwise materialize a quadratic
    * posting list in a single aggregation state. 1000 postings ≈ 500k
    * candidate pairs from one bucket is already far beyond any genuine
    * near-duplicate clique worth verifying pairwise.
    */
  val DefaultMaxBucketSize = 1000

  /** Explicit, THREAD-SAFE cache-scope handle: every intermediate the
    * dedup ops cache while this scope is installed registers here, and
    * [[CacheScope.close]] unpersists exactly them (and nothing else the
    * caller has cached). One handle may be installed on MANY threads at
    * once ([[withScope]]) — the registry is a concurrent queue — so a
    * driver submitting queries in parallel shares one scope across its
    * worker pool and releases everything with a single close (the r3/r4
    * advice: the previous thread-local Buffer silently pinned storage
    * for any op called off the scope-owning thread).
    */
  final class CacheScope private[api] () extends AutoCloseable {
    private val registered = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
    private[api] def add(df: DataFrame): Unit = registered.add(df)
    /** Intermediates currently registered (for tests/monitoring). */
    def size: Int = registered.size()
    /** Unpersist every registered intermediate. Idempotent; safe to call
      * while other threads still register (late arrivals stay queued for
      * the next close).
      */
    override def close(): Unit = {
      var df = registered.poll()
      while (df != null) { df.unpersist(false); df = registered.poll() }
    }
  }

  /** A fresh scope handle for multi-threaded drivers: install it on each
    * worker thread with [[withScope]] and `close()` it once when the
    * corpus batch is done. Single-threaded callers can just use
    * [[cacheScope]].
    */
  def newCacheScope(): CacheScope = new CacheScope()

  /** The scope installed on the current thread ([[withScope]] /
    * [[cacheScope]]).
    */
  private val scopeCaches = new ThreadLocal[CacheScope]

  /** One-shot flag for the unscoped-cache warning (warn once per JVM,
    * not once per query — batch drivers that clear the cache manager
    * between queries are a legitimate caller).
    */
  private val warnedNoScope = new java.util.concurrent.atomic.AtomicBoolean(false)

  private def tracked(df: DataFrame): DataFrame = {
    val cached = df.cache()
    Option(scopeCaches.get()) match {
      case Some(scope) => scope.add(cached)
      case None =>
        if (warnedNoScope.compareAndSet(false, true))
          log.warn("graft dedup op caching an intermediate with no enclosing " +
            "Dedup.cacheScope (or no Dedup.withScope installed on this thread): " +
            "the cache stays pinned until the caller unpersists or the session " +
            "ends. Wrap per-corpus calls in Dedup.cacheScope { ... }, or share " +
            "a Dedup.newCacheScope() handle via Dedup.withScope from every " +
            "worker thread, to release them automatically.")
    }
    cached
  }

  /** Cache `df` and register it with the enclosing scope (if any) so it
    * is unpersisted on scope exit — for caller-side intermediates that
    * feed multiple dedup passes (e.g. a filtered corpus consumed by both
    * banding and verification).
    */
  def trackCache(df: DataFrame): DataFrame = tracked(df)

  /** The scope installed on the calling thread, if any — for helpers
    * that fan work onto worker threads and need those threads to
    * register caches with the CALLER's scope (e.g. [[DupGraph.write]]'s
    * parallel subtable builds).
    */
  private[api] def currentScope: Option[CacheScope] =
    Option(scopeCaches.get())

  /** Run `body` with `scope` installed on THIS thread: intermediates the
    * dedup ops cache inside register with the (possibly shared) handle.
    * Does NOT close the scope — the owner does, once, when every thread
    * using it is done.
    */
  def withScope[T](scope: CacheScope)(body: => T): T = {
    val prev = scopeCaches.get()
    scopeCaches.set(scope)
    try body finally scopeCaches.set(prev)
  }

  /** Run `body` with scoped caching: every intermediate the dedup ops
    * cache inside is unpersisted on exit, so long-lived sessions calling
    * these operators per-corpus do not accumulate pinned storage.
    * Evaluate (collect/write) the results INSIDE the scope — after exit
    * the intermediates recompute from scratch. Work spawned onto OTHER
    * threads inside `body` must re-install the handle there — use
    * [[newCacheScope]] + [[withScope]] for that pattern.
    */
  def cacheScope[T](body: => T): T = {
    val scope = new CacheScope()
    try withScope(scope)(body) finally scope.close()
  }

  /** Per-row distinct n-word shingle set: (idCol, sh_arr, n_sh). Rows
    * with fewer than n tokens (no shingles) are dropped.
    */
  def shingleSets(docs: DataFrame, idCol: String, textCol: String, n: Int = 4): DataFrame = {
    docs
      .select(col(idCol),
        graft.functions.ShingleFunctions.textShingles(col(textCol), n).as("sh_arr"))
      .filter(size(col("sh_arr")) > 0)
      .withColumn("n_sh", size(col("sh_arr")).cast("long"))
  }

  /** Wide 8-seed minhash signature columns m0..m7 appended to a
    * [[shingleSets]] output (keeps idCol + n_sh).
    */
  def minhashWide(shingled: DataFrame, idCol: String): DataFrame = {
    val withSigs = shingled.withColumn("sigs",
      graft.functions.ShingleFunctions.minhashSigs(col("sh_arr")))
    val mins = (0 until NumSeeds).map(s => col("sigs").getItem(s).as(s"m$s"))
    withSigs.select(col(idCol) +: col("n_sh") +: mins: _*)
  }

  /** [[minhashSignatures]] over an ALREADY-shingled frame (a
    * [[shingleSets]] output) — for callers that reuse one shingle pass
    * across several consumers (the q118 calibration pattern).
    */
  def minhashSignaturesOn(shingled: DataFrame, idCol: String): DataFrame = {
    val stackArgs = (0 until NumSeeds).map(s => s"${s}L, m$s").mkString(", ")
    minhashWide(shingled, idCol)
      .select(col(idCol), expr(s"stack($NumSeeds, $stackArgs) AS (seed, minhash)"))
  }

  /** Long-form signature table: (idCol, seed, minhash). */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 4): DataFrame =
    minhashSignaturesOn(shingleSets(docs, idCol, textCol, n), idCol)

  /** MinHash-LSH candidate pairs with exact verified Jaccard:
    * (id_a, id_b, n_inter, jaccard), id_a < id_b, unordered output.
    * Banding: 2 bands × 4 rows over the 8-seed signatures. The verify
    * stage shingles the candidate docs ONCE (one shared frame for both
    * pair sides — they draw from the same corpus).
    */
  def lshCandidatePairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 4, maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val cands = lshRawCandidatePairs(docs, idCol, textCol, n, maxBucketSize)
    val candIds = cands.select(col("id_a").as(idCol))
      .union(cands.select(col("id_b").as(idCol))).distinct()
    // one shingle kernel pass over the candidate subset, cached: both
    // the a-side and b-side of the exact verify read it (the per-side
    // re-shingle it replaces ran the kernel twice)
    val candSh = tracked(shingleSets(
      docs.join(broadcast(candIds), Seq(idCol), "left_semi"),
      idCol, textCol, n))
    exactJaccardOn(cands, candSh, idCol, "id_a", "id_b")
  }

  /** UNVERIFIED LSH candidate pairs — the banding/bucketing stage of
    * [[lshCandidatePairs]] without the exact-Jaccard verify:
    * (id_a, id_b), id_a < id_b. For callers that verify against a
    * shared shingle frame via [[exactJaccardOn]] and reuse that frame
    * for further per-candidate work (the q118 calibration computes both
    * the exact Jaccard and the signature estimate off one pass).
    */
  def lshRawCandidatePairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 4, maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val doc = shingleSets(docs, idCol, textCol, n)
    // band signature = the 4 seed minhashes of the band joined in seed
    // order; the shuffle that follows carries only (id, band, band_sig).
    // Cached: read twice below (bucket cardinalities, then the capped
    // posting-list build) and its lineage is the full minhash pass.
    val bands = tracked(minhashWide(doc, idCol).select(
      col(idCol).as("id"),
      expr("stack(2, 0L, concat_ws(',', m0, m1, m2, m3), 1L, concat_ws(',', m4, m5, m6, m7)) AS (band, band_sig)")))
    // hot-bucket guard, two-pass: bucket CARDINALITIES first (a count is
    // 8 bytes of aggregation state no matter how hot the bucket), then
    // only surviving buckets ever materialize a posting list — a
    // degenerate band signature is dropped before it can OOM a task.
    // bucketCounts is cached so the drop-count action and the keep join
    // read one materialization; note the count IS an action at call
    // time (the price of a timely guard metric — the result of this
    // operator is always evaluated by real dedup runs anyway). Pass
    // maxBucketSize = Int.MaxValue to skip the guard and stay fully
    // lazy (plan-inspection callers).
    val cands = if (maxBucketSize == Int.MaxValue) {
      tracked(bands.groupBy(col("band"), col("band_sig"))
        .agg(collect_list(col("id")).as("ids"))
        .filter(size(col("ids")) >= 2)
        .select(explode(col("ids")).as("id_a"), col("ids"))
        .select(col("id_a"), explode(expr("filter(ids, d -> d > id_a)")).as("id_b"))
        .distinct())
    } else {
      val bucketCounts = tracked(bands.groupBy(col("band"), col("band_sig"))
        .agg(count(lit(1)).as("n_post"))
        .filter(col("n_post") >= 2))
      val droppedBuckets = bucketCounts.filter(col("n_post") > maxBucketSize).count()
      if (droppedBuckets > 0)
        log.warn(s"lshCandidatePairs: dropped $droppedBuckets LSH bucket(s) with " +
          s"more than $maxBucketSize postings (degenerate band signatures); " +
          "pairs within those buckets are not emitted")
      val keep = bucketCounts
        .filter(col("n_post") <= maxBucketSize)
        .select(col("band"), col("band_sig"))
      // pair generation without a self-join: bucket the signatures and
      // explode ordered pairs from each bucket's posting list (a bucket
      // is a set of mutually-near-duplicate docs ≤ maxBucketSize, so
      // lists stay short). The join and the groupBy share the
      // (band, band_sig) partitioning, so capping costs one extra
      // shuffle of the slim bands frame. Cached: the pair list is tiny
      // (near-duplicates only) but its lineage is the full-corpus
      // banding pipeline, and it feeds three broadcast builds below —
      // without the cache each broadcast would re-run the whole minhash
      // pass. Long-lived sessions should wrap calls in [[cacheScope]]
      // to release these on completion.
      tracked(bands.join(keep, Seq("band", "band_sig"))
        .groupBy(col("band"), col("band_sig"))
        .agg(collect_list(col("id")).as("ids"))
        .select(explode(col("ids")).as("id_a"), col("ids"))
        .select(col("id_a"), explode(expr("filter(ids, d -> d > id_a)")).as("id_b"))
        .distinct())
    }
    cands
  }

  /** Exact Jaccard for a (tiny) candidate-pair frame against ONE
    * prepared shingle frame (a [[shingleSets]] output covering every id
    * the pairs mention): both pair sides broadcast-join the same frame
    * and the arrays intersect in place — the shingle data is only ever
    * scanned, never shuffled, and the shingle kernel is not re-run
    * here. Output: (aCol, bCol, n_inter, jaccard).
    */
  def exactJaccardOn(cands: DataFrame, shingled: DataFrame, idCol: String,
      aCol: String, bCol: String): DataFrame = {
    val withA = shingled
      .select(col(idCol).as(aCol), col("sh_arr").as("a_arr"), col("n_sh").as("n_a"))
      .join(broadcast(cands), aCol)
    shingled
      .select(col(idCol).as(bCol), col("sh_arr").as("b_arr"), col("n_sh").as("n_b"))
      .join(broadcast(withA), bCol)
      .withColumn("n_inter", expr("CAST(size(array_intersect(a_arr, b_arr)) AS BIGINT)"))
      .select(col(aCol), col(bCol), col("n_inter"),
        (col("n_inter") / (col("n_a") + col("n_b") - col("n_inter"))).as("jaccard"))
  }

  /** Exact-Jaccard verification of a (tiny) candidate-pair frame whose
    * sides come from DIFFERENT sources: each side semi-restricts its
    * raw docs to its candidate ids BEFORE the shingle kernel, then both
    * feed [[exactJaccardOn]]'s broadcast-intersect shape. Same-source
    * callers ([[lshCandidatePairs]]) share one shingle frame instead.
    */
  private def verifyExactJaccard(cands: DataFrame, docsA: DataFrame,
      docsB: DataFrame, idCol: String, textCol: String, n: Int,
      aCol: String, bCol: String): DataFrame = {
    def candSide(src: DataFrame, pairCol: String, arrName: String,
        nName: String): DataFrame = {
      val ids = cands.select(col(pairCol).as(idCol)).distinct()
      shingleSets(src.join(broadcast(ids), idCol), idCol, textCol, n)
        .select(col(idCol).as(pairCol), col("sh_arr").as(arrName), col("n_sh").as(nName))
    }
    val withA = candSide(docsA, aCol, "a_arr", "n_a").join(broadcast(cands), aCol)
    candSide(docsB, bCol, "b_arr", "n_b").join(broadcast(withA), bCol)
      .withColumn("n_inter", expr("CAST(size(array_intersect(a_arr, b_arr)) AS BIGINT)"))
      .select(col(aCol), col(bCol), col("n_inter"),
        (col("n_inter") / (col("n_a") + col("n_b") - col("n_inter"))).as("jaccard"))
  }

  /** Long-form LSH band table: (idCol, band, band_sig) — 2 rows per
    * document with ≥ n tokens, one per band, with the band signature the
    * bucketing stages join on. This is the PERSISTABLE form of the
    * banding stage: store it once per corpus and new-vs-corpus candidate
    * generation becomes an equi-join probe of the stored table
    * ([[lshCandidatePairsAgainstIndex]]) instead of a corpus re-shingle
    * ([[graft.api.DupGraph]] keeps one inside its artifact).
    */
  def bandsFrame(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 4): DataFrame =
    minhashWide(shingleSets(docs, idCol, textCol, n), idCol).select(
      col(idCol),
      expr("stack(2, 0L, concat_ws(',', m0, m1, m2, m3), 1L, concat_ws(',', m4, m5, m6, m7)) AS (band, band_sig)"))

  /** Incremental ingest dedup against a PERSISTED band index — the
    * O(batch) replacement for [[lshCandidatePairsAgainst]] when the
    * corpus banding is already stored: verified LSH candidate pairs
    * between a new batch and a corpus whose [[bandsFrame]] rows
    * (`corpusBands`: id, band, band_sig) are on disk and whose text is
    * fetchable by id from `corpusDocs` (idCol, textCol).
    *
    * Per-batch cost shape: the batch is shingled/signed ONCE; the
    * corpus side is one columnar scan of the slim band table equi-joined
    * against the batch's ≤ 2·|batch| broadcast bucket keys (no corpus
    * shuffle, no corpus re-shingle, no corpus re-hash), and only the
    * matched candidates' text is fetched — a keyed semi-join into
    * `corpusDocs` — for the exact-Jaccard verify. Hot-bucket cap
    * semantics match [[lshCandidatePairsAgainst]]: corpus buckets above
    * `maxBucketSize` postings are dropped with a logged count (the
    * count over a touched bucket's stored postings IS its full-corpus
    * count, so the two paths agree bucket for bucket). Pass
    * `maxBucketSize = Int.MaxValue` to skip the cap's count action and
    * stay fully lazy (plan-inspection callers).
    *
    * Output: (new_id, corpus_id, n_inter, jaccard), unordered; ids
    * present on both sides never pair with themselves.
    */
  def lshCandidatePairsAgainstIndex(newDocs: DataFrame, corpusBands: DataFrame,
      corpusDocs: DataFrame, idCol: String, textCol: String, n: Int = 4,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val newBands = tracked(bandsFrame(newDocs, idCol, textCol, n)
      .select(col(idCol).as("new_id"), col("band"), col("band_sig")))
    val batchKeys = newBands.select(col("band"), col("band_sig")).distinct()
    // the probe: stored postings in batch-touched buckets only — batch
    // keys broadcast, the band table scanned columnar, never shuffled
    val matched = tracked(corpusBands
      .select(col("id").as("corpus_id"), col("band"), col("band_sig"))
      .join(broadcast(batchKeys), Seq("band", "band_sig")))
    val kept =
      if (maxBucketSize == Int.MaxValue) matched
      else {
        val counts = tracked(matched.groupBy(col("band"), col("band_sig"))
          .agg(count(lit(1)).as("n_post")))
        val dropped = counts.filter(col("n_post") > maxBucketSize).count()
        if (dropped > 0)
          log.warn(s"lshCandidatePairsAgainstIndex: dropped $dropped stored LSH " +
            s"bucket(s) with more than $maxBucketSize postings")
        matched.join(
          broadcast(counts.filter(col("n_post") <= maxBucketSize)
            .select(col("band"), col("band_sig"))),
          Seq("band", "band_sig"))
      }
    val cands = tracked(newBands.join(kept, Seq("band", "band_sig"))
      .select(col("new_id"), col("corpus_id"))
      .filter(col("new_id") =!= col("corpus_id"))
      .distinct())
    // keyed text fetch: only matched candidate ids reach the shingle
    // kernel (verifyExactJaccard semi-restricts again — idempotent)
    val candCorpus = corpusDocs.join(
      broadcast(cands.select(col("corpus_id").as(idCol)).distinct()),
      Seq(idCol), "left_semi")
    verifyExactJaccard(cands, newDocs, candCorpus, idCol, textCol, n,
      "new_id", "corpus_id")
  }

  /** Incremental ingest dedup: verified LSH candidate pairs BETWEEN a
    * new batch and an existing corpus — (new_id, corpus_id, n_inter,
    * jaccard), unordered. The production shape for "dedupe incoming
    * documents against everything already ingested": both sides band
    * independently, the equi-join on (band, band_sig) touches only
    * corpus buckets the BATCH collides with, and pair count is
    * proportional to the batch's near-dup density, never the corpus
    * size. Corpus-side buckets above `maxBucketSize` are dropped with a
    * logged count, like [[lshCandidatePairs]] (at real scale the corpus
    * bands/signatures would be precomputed once and stored columnar —
    * this recomputes them for self-containment; ids that appear on both
    * sides never pair with themselves).
    */
  def lshCandidatePairsAgainst(newDocs: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, n: Int = 4,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    def bandsOf(df: DataFrame, outCol: String): DataFrame =
      bandsFrame(df, idCol, textCol, n)
        .select(col(idCol).as(outCol), col("band"), col("band_sig"))
    val newBands = bandsOf(newDocs, "new_id")
    val corpusBands = tracked(bandsOf(corpus, "corpus_id"))
    val keepCorpus =
      if (maxBucketSize == Int.MaxValue) corpusBands
      else {
        val counts = tracked(corpusBands.groupBy(col("band"), col("band_sig"))
          .agg(count(lit(1)).as("n_post")))
        val dropped = counts.filter(col("n_post") > maxBucketSize).count()
        if (dropped > 0)
          log.warn(s"lshCandidatePairsAgainst: dropped $dropped corpus LSH " +
            s"bucket(s) with more than $maxBucketSize postings")
        corpusBands.join(
          counts.filter(col("n_post") <= maxBucketSize).select(col("band"), col("band_sig")),
          Seq("band", "band_sig"))
      }
    val cands = tracked(newBands.join(keepCorpus, Seq("band", "band_sig"))
      .select(col("new_id"), col("corpus_id"))
      .filter(col("new_id") =!= col("corpus_id"))
      .distinct())
    verifyExactJaccard(cands, newDocs, corpus, idCol, textCol, n, "new_id", "corpus_id")
  }

  /** The benchmark's distinct shingle frame, MATERIALIZED once
    * (localCheckpoint): both the Bloom subquery and the exact verify
    * join consume it, and Catalyst plans each reference as its own
    * subtree — without materialization every decontamination call (and
    * every micro-batch of the streaming variant) would tokenize and
    * distinct the benchmark twice.
    */
  private def benchShingleFrame(benchmark: DataFrame, idCol: String,
      textCol: String, n: Int): (DataFrame, Long) =
    graft.Util.checkpointCounted(shingleSets(benchmark, idCol, textCol, n)
      .select(explode(col("sh_arr")).as("sh")).distinct())

  /** The Bloom pre-gate predicate: the benchmark's filter is built
    * EAGERLY by [[graft.Util.bloomBytes]] (one narrow aggregate over the
    * materialized shingle frame, under scoped size clamps; its scaladoc
    * says why not inline) and feeds the corpus-side `might_contain`
    * probe as a one-row scalar subquery — the broadcast-of-bits shape,
    * with the build paid once at construction, not once per query run.
    */
  private def bloomGated(corpusSh: DataFrame, benchSh: DataFrame,
      items: Long, bits: Long): DataFrame = {
    val filterBytes = graft.Util.bloomBytes(benchSh, "xxhash64(sh)", items, bits)
    if (filterBytes == null) {
      // empty benchmark: nothing can be contaminated — same verdict the
      // null-filter probe would return, made explicit
      corpusSh.filter(lit(false))
    } else corpusSh.filter(graft.functions.BloomFunctions.mightContain(
      benchSh.sparkSession, filterBytes, col("sh")))
  }

  /** Suite-size cutover between the two decontamination gate plans:
    * at or below it the distinct benchmark shingles broadcast as strings
    * into one exact hash join (no gate — the Bloom pre-filter's fixed
    * build/probe cost buys nothing when the suite already fits a
    * broadcast; ~250k shingles ≈ 10 MB, Spark's own broadcast-sizing
    * ballpark); above it the Bloom gate bounds the plan at 8
    * bits/shingle. The count is the one the shingle checkpoint
    * observed, so the choice starts no job. Both paths are
    * bit-identical: the exact join decides membership either way.
    */
  private val BroadcastSuiteCutover: Long = 250000L

  /** Route of the corpus shingles to the exact join, for a suite of
    * `nSh` distinct shingles: None broadcasts the suite's shingle
    * strings, Some((items, bits)) pre-filters through a Bloom filter.
    */
  private[graft] type ShingleGate = Long => Option[(Long, Long)]

  /** The gate of both decontamination operators. */
  private[graft] val suiteGate: ShingleGate = nSh =>
    if (nSh <= BroadcastSuiteCutover) None else Some((nSh, nSh * 8L))

  /** The corpus side and the benchmark side of the exact shingle join. */
  private def gatedShingles(corpusSh: DataFrame, benchmark: DataFrame, idCol: String,
      textCol: String, n: Int, gate: ShingleGate): (DataFrame, DataFrame) = {
    val (benchSh, nSh) = benchShingleFrame(benchmark, idCol, textCol, n)
    // small suite: no gate, hint the exact join to broadcast (the
    // checkpointed frame carries default — huge — stats, so the planner
    // cannot see it is broadcastable on its own)
    gate(nSh) match {
      case None => (corpusSh, broadcast(benchSh))
      case Some((items, bits)) => (bloomGated(corpusSh, benchSh, items, bits), benchSh)
    }
  }

  /** Benchmark decontamination: per corpus document, how many of its
    * n-word shingles appear anywhere in `benchmark` — (idCol, n_sh,
    * n_contaminated, contamination_frac), contaminated docs only. The
    * training-data hygiene op ("drop documents that leak eval-set
    * n-grams"): production pipelines do exactly this with 8–13-gram
    * overlap against held-out benchmarks.
    *
    * Plan shape is ADAPTIVE on the suite size that its shingle
    * checkpoint observed ([[BroadcastSuiteCutover]]). Small suites (the
    * common single-benchmark case) broadcast their distinct shingle
    * strings straight into the exact join. Large suites outgrow
    * broadcasting their shingle STRINGS, but not their 8-bit-per-shingle
    * Bloom filter: the corpus side probes it (a scalar subquery inlined
    * into the probe's codegen; no join), so only true leaks plus the
    * filter's ~2% false positives reach the exact shingle join, which
    * the planner may run as a shuffle join (no broadcast hint pins it).
    * Results are bit-identical across both paths. Anti-join the result
    * against the corpus to keep the clean remainder.
    */
  def decontaminationStats(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int = 4): DataFrame =
    decontaminationStats(corpus, benchmark, idCol, textCol, n, suiteGate)

  /** [[decontaminationStats]] through the route `gate` picks. */
  private[graft] def decontaminationStats(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int, gate: ShingleGate): DataFrame = {
    val corpusSh = shingleSets(corpus, idCol, textCol, n)
      .select(col(idCol), col("n_sh"), explode(col("sh_arr")).as("sh"))
    val (gated, benchSide) = gatedShingles(corpusSh, benchmark, idCol, textCol, n, gate)
    gated.join(benchSide, "sh")
      .groupBy(col(idCol), col("n_sh"))
      .agg(count(lit(1)).as("n_contaminated"))
      .select(col(idCol), col("n_sh"), col("n_contaminated"),
        (col("n_contaminated") / col("n_sh")).as("contamination_frac"))
  }

  /** Decontamination DROP: the corpus minus every document with at
    * least one exact n-gram overlap with `benchmark` — the
    * keep-the-clean-remainder composition of [[decontaminationStats]]
    * with the same adaptive gate-then-verify shape (broadcast shingle
    * strings under [[BroadcastSuiteCutover]]; Bloom probe + exact join
    * on hits above it; left-anti back onto the corpus by id). Bloom
    * false positives cost only the verify join; they never drop a clean
    * document. Used by the streaming
    * [[graft.streaming.StreamOps.decontaminationFilterBloom]] inside
    * foreachBatch, where the batch-relational anti-join is legal.
    */
  def decontaminationDrop(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int = 4): DataFrame =
    decontaminationDrop(corpus, benchmark, idCol, textCol, n, suiteGate)

  /** [[decontaminationDrop]] through the route `gate` picks. */
  private[graft] def decontaminationDrop(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int, gate: ShingleGate): DataFrame = {
    val corpusSh = shingleSets(corpus, idCol, textCol, n)
      .select(col(idCol), explode(col("sh_arr")).as("sh"))
    val (gated, benchSide) = gatedShingles(corpusSh, benchmark, idCol, textCol, n, gate)
    val contaminated = gated
      .join(benchSide, "sh", "left_semi")
      .select(col(idCol)).distinct()
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Edge-count cutover between the two [[clusterComponents]] plans.
    * Below it, a single-partition union-find pass wins outright: one
    * narrow job, no per-iteration scheduling latency (join-iterated
    * label propagation measured 10–100× slower on sparse edge sets), and
    * 5·10⁷ 16-byte edges ≈ 800 MB — comfortably one task. Above it, the
    * iterative large-star/small-star contraction is the only plan that
    * does not funnel the whole edge set through one task.
    */
  private val CcCutoverEdges: Long = 50L * 1000 * 1000

  /** Connected components over an edge list (id_a, id_b) — cluster id is
    * the component minimum: (id, cluster, cluster_size, is_keeper).
    *
    * Two physical plans behind one result, picked by edge count (the
    * edge frame is cached, so the count is not a wasted pass):
    *
    *   - ≤ [[CcCutoverEdges]] (sparse LSH/threshold-filtered sets, the
    *     common case): one union-find pass on a single partition.
    *   - above it: alternating large-star/small-star edge contraction
    *     (Kiveris et al., "Connected Components in MapReduce and
    *     Beyond") — every round is groupBy/join parallelism over the
    *     whole cluster, converging in O(log n) rounds, so a 10⁹-edge
    *     near-dup graph never serializes through one task.
    *
    * Both paths yield the same component minima for any edge order
    * (union-by-min-root below; the star contraction's fixed point is the
    * min-centered star, proven in the paper).
    */
  def clusterComponents(pairs: DataFrame): DataFrame =
    clusterComponents(pairs, byStars = false)

  /** [[clusterComponents]]; `byStars` takes the star contraction at any size. */
  private[graft] def clusterComponents(pairs: DataFrame, byStars: Boolean): DataFrame = {
    // cached: the edge list is tiny relative to the corpus, but its
    // lineage is the whole candidate pipeline — the count below, the
    // chosen CC pass, and (iterative path) every contraction round read it
    val edges = tracked(pairs.select(col("id_a"), col("id_b")))
    val nEdges = edges.count()
    val comps =
      if (!byStars && nEdges <= CcCutoverEdges) unionFindComponents(edges)
      else {
        log.info(s"clusterComponents: $nEdges edges, cutover $CcCutoverEdges, " +
          "using iterative large-star/small-star contraction")
        starContractComponents(edges)
      }
    // cached: one tiny row per clustered doc — both the size aggregate
    // and the final join read it (released by [[cacheScope]])
    val compsC = tracked(comps)
    val sizes = compsC.groupBy(col("cluster")).agg(count(lit(1)).as("cluster_size"))
    compsC.join(broadcast(sizes), "cluster")
      .select(col("id"), col("cluster"), col("cluster_size"),
        (col("id") === col("cluster")).as("is_keeper"))
  }

  /** Canonical-document selection — the final materialization step of a
    * dedup pass: for each [[clusterComponents]] cluster, keep the
    * highest-scoring member (ties to the lowest id). Input `scored` maps
    * idCol → scoreCol (e.g. a [[Text.qualityScore]] projection); output
    * is one row per cluster: (cluster, keep_<idCol>, best_<scoreCol>,
    * cluster_size, n_dropped).
    *
    * Scale shape: the component frame is near-dup members only — orders
    * of magnitude smaller than the corpus — so it BROADCASTS into the
    * scored corpus scan (no corpus shuffle), and the per-cluster argmax
    * is a ranked window over the restricted members with a
    * `row_number = 1` gate (WindowGroupLimit prunes partitions to one
    * row before the window shuffle).
    */
  def canonicalPerCluster(components: DataFrame, scored: DataFrame,
      idCol: String, scoreCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col(scoreCol).desc, col(idCol))
    scored.join(broadcast(components.withColumnRenamed("id", idCol)), idCol)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("cluster"), col(idCol).as(s"keep_$idCol"),
        col(scoreCol).as(s"best_$scoreCol"), col("cluster_size"),
        (col("cluster_size") - 1).as("n_dropped"))
  }

  /** Single-pass union-find on one partition: (id, cluster) for every
    * node in `edges`. The right plan for sparse edge sets — see
    * [[CcCutoverEdges]].
    */
  private def unionFindComponents(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.as[(Long, Long)]
      .repartition(1)
      .mapPartitions { it =>
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        // iterative find with full path compression — recursion would
        // overflow the stack on a pathological chain (one hot LSH bucket
        // can link 10^4+ docs)
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElseUpdate(r, r) != r) r = parent(r)
          var c = x
          while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        it.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        parent.keysIterator.map(d => (d, find(d))).toSeq.iterator
      }
      .toDF("id", "cluster")
  }

  /** Iterative large-star/small-star contraction: (id, cluster) for
    * every node in `edges`, cluster = component minimum. Each round is
    * two rounds of hash-partitioned groupBy/join — fully parallel, no
    * single-task funnel — and the edge set converges to min-centered
    * stars in O(log n) rounds. Every round ends in an EAGER checkpoint
    * so the loop's plans stay flat (self-referencing iterative plans
    * otherwise grow exponentially and re-run prior rounds per action):
    * a RELIABLE `checkpoint` when the context has a checkpoint dir —
    * set one for multi-round jobs on real clusters, where an executor
    * loss mid-iteration would otherwise lose `localCheckpoint` blocks
    * irrecoverably — falling back to `localCheckpoint` otherwise.
    */
  private def starContractComponents(edges0: DataFrame): DataFrame = {
    val spark = edges0.sparkSession
    import spark.implicits._
    val reliable = spark.sparkContext.getCheckpointDir.isDefined
    def snap(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint(eager = true) else df.localCheckpoint(eager = true)
    val nodes = edges0
      .select(explode(array(col("id_a"), col("id_b"))).as("id")).distinct()
    // canonical orientation u > v; self-loops drop (their nodes re-enter
    // as singletons through the final left join)
    var edges = snap(edges0
      .select(greatest($"id_a", $"id_b").as("u"), least($"id_a", $"id_b").as("v"))
      .filter($"u" =!= $"v").distinct())
    var done = false
    while (!done) {
      // large-star: every neighbor v > u links to m = min(Γ(u) ∪ {u})
      val sym = edges.union(edges.select($"v".as("u"), $"u".as("v")))
      val lmins = sym.groupBy($"u").agg(min($"v").as("mn"))
        .select($"u", least($"u", $"mn").as("m"))
      // cached: referenced twice below (smins aggregate + join probe) —
      // without it each round would run the whole large-star stage
      // twice; unpersisted at round end, so NOT scope-tracked
      val large = sym.join(lmins, "u")
        .filter($"v" > $"u" && $"v" =!= $"m")
        .select($"v".as("u"), $"m".as("v"))
        .distinct()
        .cache()
      // small-star (edges now oriented u > v ≥ m): all smaller neighbors
      // and u itself link to m = min(Γ⁻(u))
      val smins = large.groupBy($"u").agg(min($"v").as("m"))
      val small = snap(large.join(smins, "u")
        .filter($"v" =!= $"m")
        .select($"v".as("u"), $"m".as("v"))
        .union(smins.select($"u", $"m".as("v")))
        .distinct())
      // fixed point: both sets are distinct, so equal counts plus an
      // empty one-sided except proves set equality
      done = small.count() == edges.count() && small.except(edges).isEmpty
      large.unpersist(false)
      edges = small
    }
    nodes.join(edges.select($"u".as("id"), $"v".as("cluster")), Seq("id"), "left")
      .select($"id", coalesce($"cluster", $"id").as("cluster"))
  }

  /** Exact-duplicate statistics per group: (groupCol, n_docs,
    * n_distinct_texts, n_exact_dups). Texts are md5'd before the distinct
    * count so the aggregation state is 16 bytes per distinct text, not
    * the text itself.
    */
  def exactDupStats(docs: DataFrame, groupCol: String, textCol: String): DataFrame =
    docs.groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(col(textCol))).as("n_distinct_texts"),
        (count(lit(1)) - countDistinct(md5(col(textCol)))).as("n_exact_dups"))

  /** 64-bit SimHash fingerprint per row: (idCol, simhash64) — per
    * distinct token, md5's first 16 nibbles vote ±1 on each of 64 bit
    * positions; the sign vector packs back into a 16-nibble hex string.
    * One codegen'd pass per row via [[graft.functions.Simhash64Expr]]
    * (rows with no non-empty token are dropped, matching the
    * explode/groupBy formulation it replaced — see
    * [[simhash64Relational]]).
    */
  def simhash64(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    docs.select(col(idCol),
        graft.functions.ShingleFunctions.simhash64(col(textCol)).as("simhash64"))
      .filter(col("simhash64").isNotNull)
  }

  /** Exact duplicate-substring spans across documents — the scalable
    * stand-in for suffix-array substring dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"): every
    * `minLen`-char window anchored at stride `stride` is joined across
    * the corpus, and a window whose content appears in ≥ 2 DISTINCT
    * documents marks its position range as duplicated; overlapping hits
    * merge into maximal spans per document.
    *
    * Returns one row per document that has at least one shared span:
    * (idCol, n_spans, dup_chars) — dup_chars is the total character
    * count covered by merged spans, the quantity the paper's ExactSubstr
    * cut removes.
    *
    * Scale shape: window generation is NARROW (a per-row sequence
    * explode — ~len/stride window rows per doc); the only wide ops are
    * one shuffle keyed by window content (exact comparison on fixed
    * 40-byte binary — Tungsten compares these without deserializing; a
    * 64-bit-hash anchor would save shuffle width but reintroduce
    * collision false-positives, the wrong trade for a DESTRUCTIVE dedup
    * signal), the hit semi-join, and the per-doc island merge whose
    * input is only the HIT windows (≪ corpus). Stride trades recall
    * granularity for an S× cut in shuffled rows: a true shared span of
    * length ≥ minLen + stride − 1 is always anchored; shorter overlaps
    * may be missed — the documented winnowing-style guarantee.
    */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String,
      minLen: Int = 40, stride: Int = 8): DataFrame = {
    require(minLen >= 2 && stride >= 1, s"bad span params ($minLen, $stride)")
    val id = col(idCol)
    val windows = docs
      .filter(length(col(textCol)) >= minLen)
      .select(id, col(textCol),
        explode(sequence(lit(1), length(col(textCol)) - lit(minLen - 1),
          lit(stride))).as("pos"))
      .select(id, col("pos").cast("long").as("pos"),
        col(textCol).substr(col("pos"), lit(minLen)).as("win"))
    val shared = windows.groupBy(col("win"))
      .agg(countDistinct(id).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .select(col("win"))
    val hits = windows.join(shared, "win").select(id, col("pos"))
    val byDoc = Window.partitionBy(id).orderBy(col("pos"))
    val prevEnd = max(col("pos") + lit(minLen - 1))
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    val flagged = hits.withColumn("newgrp",
      when(col("pos") > coalesce(prevEnd, lit(-1L)), 1).otherwise(0))
    val grouped = flagged.withColumn("grp",
      sum(col("newgrp")).over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
    grouped.groupBy(id, col("grp"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + lit(minLen - 1)).as("e"))
      .groupBy(id)
      .agg(count(lit(1)).as("n_spans"), sum(col("e") - col("s") + 1).as("dup_chars"))
  }

  /** EXACT set-similarity self-join: all unordered document pairs whose
    * distinct-token Jaccard ≥ `tau`, with NO misses — unlike
    * MinHash-LSH this is not probabilistic. Returns
    * (id_a, id_b, n_inter, jaccard) with id_a < id_b.
    *
    * ADAPTIVE between two exact strategies (chosen by two tiny jobs at
    * construction time — this operator runs eagerly up to the corpus
    * token scan, like the quantile family):
    *
    *  - **Bitmask path** (vocabulary ≤ 62 tokens AND distinct token
    *    SETS ≤ [[MaskPathMaxMasks]]): each document's token set is one
    *    64-bit mask, so pair generation collapses to the
    *    DISTINCT-MASK square — a broadcast nested-loop over ≤
    *    [[MaskPathMaxMasks]] rows evaluating pure `bit_count`
    *    arithmetic, then an equi-join expansion back to document
    *    pairs (only qualifying pairs ever materialize). Prefix
    *    filtering is useless on such corpora — with every token hot,
    *    the candidate token-bucket join degenerates to Σ df² rows
    *    (~75× the true pair count on a templated corpus) while the
    *    mask square is quadratic only in DISTINCT sets. The n² doc
    *    pair space still never materializes.
    *
    *  - **Prefix-filter path** (PPJoin, Xiao et al. 2008 / Bayardo et
    *    al. 2007) otherwise: a pair with J ≥ τ must share a token
    *    within the first |s| − ⌈τ·|s|⌉ + 1 tokens of each set under
    *    ANY global total order — ordering by ascending document
    *    frequency makes those prefix tokens the RAREST, so the
    *    candidate equi-join touches a small, skew-free fraction of
    *    the corpus instead of the n² pair space. Candidates are
    *    further pruned by the length filter (τ·|A| ≤ |B|) and the
    *    paper's positional filter before the exact intersection count
    *    verifies. Every stage is an equi-join or hash aggregate.
    *
    * The distinct-token frame is localCheckpoint'd once (it feeds 2-4
    * consumers; live, each would re-run the corpus tokenization), and
    * both paths produce bit-identical output — the Jaccard division is
    * the same exact-integer expression either way. Both choices read the
    * row counts their own checkpoints observed, so deciding starts no
    * job.
    */
  def ppJoinPairs(docs: DataFrame, idCol: String, textCol: String,
      tau: Double): DataFrame = ppJoinPairs(docs, idCol, textCol, tau, byPrefix = false)

  /** [[ppJoinPairs]]; `byPrefix` takes the prefix-filter path at any vocabulary. */
  private[graft] def ppJoinPairs(docs: DataFrame, idCol: String, textCol: String,
      tau: Double, byPrefix: Boolean): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"tau out of (0,1]: $tau")
    val (toks, dfreq, nVocab) = tokenFrames(docs, idCol, textCol)
    (if (byPrefix) None else bitMasks(toks, dfreq, nVocab)) match {
      case Some((masks, dm)) => ppJoinPairsMask(masks, dm, tau)
      case None => ppJoinPairsPrefix(toks, dfreq, tau)
    }
  }

  /** Distinct token sets up to which the mask square runs. */
  private val MaskPathMaxMasks: Long = 32768L

  /** The distinct (id, tok) rows and the document frequencies (tok, df),
    * each checkpointed (several plan references read each), and the
    * vocabulary size that the frequency checkpoint observed.
    */
  private def tokenFrames(docs: DataFrame, idCol: String,
      textCol: String): (DataFrame, DataFrame, Long) = {
    val toks = docs.select(col(idCol).as("id"),
      explode(array_distinct(filter(split(col(textCol), " "),
        t => t =!= ""))).as("tok"))
      .localCheckpoint()
    val (dfreq, nVocab) = graft.Util.checkpointCounted(
      toks.groupBy(col("tok")).agg(count(lit(1)).as("df")))
    (toks, dfreq, nVocab)
  }

  /** The bitmask paths' inputs — per-document token masks (id, mask)
    * and the checkpointed distinct masks (mask, sz) — or None when the
    * vocabulary or the distinct-mask count that checkpoint observed is
    * too large.
    */
  private def bitMasks(toks: DataFrame, dfreq: DataFrame,
      nVocab: Long): Option[(DataFrame, DataFrame)] =
    if (nVocab > 62) None
    else {
      val vocab = dfreq.select(col("tok")).collect().map(_.getString(0)).sorted
      val masks = toks
        .withColumn("bit",
          (array_position(array(vocab.map(lit): _*), col("tok")) - 1).cast("int"))
        .select(col("id"), expr("shiftleft(1L, bit)").as("b"))
        .groupBy(col("id")).agg(expr("bit_or(b)").as("mask"))
      val (dm, nMasks) = graft.Util.checkpointCounted(masks.select(col("mask")).distinct()
        .withColumn("sz", expr("bit_count(mask)")))
      if (nMasks <= MaskPathMaxMasks) Some((masks, dm)) else None
    }

  /** Bitmask strategy of [[ppJoinPairs]]: qualifying DISTINCT-MASK pairs
    * via a bounded broadcast nested-loop of `bit_count` arithmetic
    * (length-filter prune first, then the exact Jaccard test), expanded
    * to document pairs by two equi-joins. Same-mask groups pair among
    * themselves at J = 1 (id_a < id_b); cross-mask pairs appear exactly
    * once via the ma < mb half-square. The Jaccard is the identical
    * exact-integer division the prefix path and the DuckDB oracle
    * compute, so path choice never changes a single output bit.
    */
  private def ppJoinPairsMask(masks: DataFrame, dm: DataFrame,
      tau: Double): DataFrame = {
    val a = dm.select(col("mask").as("ma"), col("sz").as("sza"))
    val b = dm.select(col("mask").as("mb"), col("sz").as("szb"))
    val ni = expr("cast(bit_count(ma & mb) as bigint)")
    val jac = ni.cast("double") / (col("sza") + col("szb") - ni)
    val mp = a.join(broadcast(b),
        col("ma") <= col("mb") &&
          least(col("sza"), col("szb")).cast("double") >=
            lit(tau) * greatest(col("sza"), col("szb")) &&
          jac >= lit(tau))
      .select(col("ma"), col("mb"), ni.as("n_inter"), jac.as("jaccard"))
    mp.join(masks.select(col("id").as("_ida"), col("mask").as("ma")), "ma")
      .join(masks.select(col("id").as("_idb"), col("mask").as("mb")), "mb")
      .filter(col("ma") =!= col("mb") || col("_ida") < col("_idb"))
      .select(least(col("_ida"), col("_idb")).as("id_a"),
        greatest(col("_ida"), col("_idb")).as("id_b"),
        col("n_inter"), col("jaccard"))
  }

  /** Prefix-filter strategy of [[ppJoinPairs]] — see the adaptive
    * operator's scaladoc for the algorithm.
    */
  private def ppJoinPairsPrefix(toks: DataFrame, dfreq: DataFrame,
      tau: Double): DataFrame = {
    // read by the ranking and both size joins of the verify
    val sizes = toks.groupBy(col("id")).agg(count(lit(1)).as("sz"))
      .localCheckpoint()
    val ranked = toks.join(dfreq, "tok").join(sizes, "id")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("df"), col("tok"))))
    val prefix = ranked
      .filter(col("rn") <= col("sz") - ceil(col("sz") * lit(tau)) + 1)
      .select(col("id"), col("tok"), col("rn"), col("sz"))
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.tok") === col("b.tok") && col("a.id") < col("b.id") &&
          // length filter: J >= tau forces tau·|A| <= |B| <= |A|/tau
          col("b.sz") * lit(tau) <= col("a.sz") &&
          col("a.sz") * lit(tau) <= col("b.sz") &&
          // positional filter: overlap <= 1 + min(remaining tokens)
          (lit(1) + least(col("a.sz") - col("a.rn"), col("b.sz") - col("b.rn"))) >=
            ceil(lit(tau / (1.0 + tau)) * (col("a.sz") + col("b.sz"))))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val inter = cand
      .join(toks.select(col("id").as("id_a"), col("tok")), "id_a")
      .join(toks.select(col("id").as("id_b"), col("tok")), Seq("id_b", "tok"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("sz").as("sz_b")), "id_b")
      .withColumn("jaccard",
        col("n_inter") / (col("sz_a") + col("sz_b") - col("n_inter")))
      .filter(col("jaccard") >= tau)
      .select(col("id_a"), col("id_b"), col("n_inter"), col("jaccard"))
  }

  /** The declarative explode/groupBy formulation of [[simhash64]] —
    * kept as the parity reference for the fused kernel (all stages are
    * hash aggregations with map-side partial combine).
    */
  def simhash64Relational(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val id = col(idCol)
    val tokens = docs
      .select(id, explode(array_distinct(split(col(textCol), " "))).as("tok"))
      .filter(col("tok") =!= "")
      .withColumn("h", md5(col("tok")))
    val votes = tokens
      .select(id, col("h"), explode(sequence(lit(0), lit(15))).as("p"))
      .withColumn("v", expr("position(substr(h, p + 1, 1), '0123456789abcdef') - 1"))
      .select(id, col("p"), col("v"), explode(sequence(lit(0), lit(3))).as("b"))
      .withColumn("contrib", expr("2 * (shiftright(v, b) & 1) - 1"))
    val bits = votes.groupBy(id, col("p"), col("b"))
      .agg(sum(col("contrib")).as("s"))
      .withColumn("fbit", when(col("s") > 0, 1).otherwise(0))
    val nibbles = bits.groupBy(id, col("p"))
      .agg(sum(expr("shiftleft(fbit, b)")).as("nib"))
      .withColumn("ch", expr("substr('0123456789abcdef', CAST(nib AS INT) + 1, 1)"))
    nibbles.groupBy(id)
      .agg(expr("array_join(transform(array_sort(collect_list(struct(p, ch))), x -> x.ch), '')").as("simhash64"))
  }

  /** C4-style block-level exact dedup with document reconstruction: the
    * token stream of each document is cut into consecutive
    * `blockTokens`-token blocks, every block whose exact content appeared
    * earlier in the corpus (global first occurrence by (id, block index))
    * is dropped, and each document is reassembled from its surviving
    * blocks in order. This is the line/paragraph dedup of C4/RefinedWeb
    * re-expressed for unstructured token streams: boilerplate repeated
    * across documents disappears once per corpus instead of per document.
    *
    * Returns one row per input document:
    * (id, n_blocks, n_kept, text_kept) — `text_kept` is "" when every
    * block was a repeat.
    *
    * Scale shape: a narrow posexplode, one (id, block) hash aggregation
    * to materialize block contents (state bounded by blockTokens), one
    * shuffle keyed by block CONTENT for the first-occurrence window
    * (skew-free: identical blocks hash to one key, and the window only
    * ranks — duplicates of one block are a genuine single key's rows,
    * bounded by that block's corpus frequency), and one final per-doc
    * aggregation. No driver-side state; the full text is never shuffled
    * as a unit, only blocks.
    */
  def blockDedup(docs: DataFrame, idCol: String, textCol: String,
      blockTokens: Int = 10): DataFrame = {
    require(blockTokens > 0, s"blockTokens must be positive: $blockTokens")
    val toks = docs.select(col(idCol).as("id"),
        posexplode(split(col(textCol), " ")).as(Seq("pos", "tok")))
    val blocks = toks.withColumn("blk", floor(col("pos") / blockTokens))
      .groupBy(col("id"), col("blk"))
      .agg(expr("array_join(transform(array_sort(collect_list(struct(pos, tok))), x -> x.tok), ' ')")
        .as("content"))
    val firstW = Window.partitionBy(col("content"))
    val kept = blocks
      .withColumn("keep",
        struct(col("id"), col("blk")) ===
          min(struct(col("id"), col("blk"))).over(firstW))
    kept.groupBy(col("id"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        expr("array_join(transform(array_sort(collect_list(CASE WHEN keep THEN struct(blk, content) END)), x -> x.content), ' ')")
          .as("text_kept"))
  }

  /** EXACT asymmetric containment self-join: all document pairs where
    * the SMALLER distinct-token set is ≥ `tau`-contained in the larger
    * (C(A→B) = |A∩B| / |A|, |A| ≤ |B|) — the sub-document duplication
    * detector Jaccard misses: a paragraph pasted into a 100× larger page
    * has tiny Jaccard but containment 1. Returns
    * (id_small, id_large, n_inter, containment); equal-size pairs are
    * canonicalized id_small < id_large.
    *
    * Adaptive like [[ppJoinPairs]] (the same checkpoints and the same
    * counts they observe, the same eager construction semantics):
    *
    *  - **Bitmask path** (vocabulary ≤ 62 tokens, distinct sets ≤
    *    [[MaskPathMaxMasks]]): the bounded broadcast square over DISTINCT
    *    masks evaluates `bit_count(ma & mb) ≥ τ·bit_count(ma)` directly;
    *    equi-join expansion back to documents.
    *
    *  - **Prefix-filter path** otherwise: a qualifying pair must share a
    *    token within the smaller set's first |A| − ⌈τ·|A|⌉ + 1 tokens
    *    under the global df-ascending order (else the overlap is capped
    *    below τ·|A|), so candidates come from joining ONLY small-side
    *    prefix tokens — the rarest in the corpus — against the token
    *    postings, then the exact intersection count verifies. Containment
    *    has no upper length filter (|B| is unbounded), which is exactly
    *    why the prefix must come from the small side only.
    *
    * Both paths emit the identical exact-integer division, so path
    * choice never changes output bits.
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      tau: Double): DataFrame = containmentPairs(docs, idCol, textCol, tau, byPrefix = false)

  /** [[containmentPairs]]; `byPrefix` takes the prefix-filter path at any vocabulary. */
  private[graft] def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      tau: Double, byPrefix: Boolean): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"tau out of (0,1]: $tau")
    val (toks, dfreq, nVocab) = tokenFrames(docs, idCol, textCol)
    (if (byPrefix) None else bitMasks(toks, dfreq, nVocab)) match {
      case Some((masks, dm)) => containmentPairsMask(masks, dm, tau)
      case None => containmentPairsPrefix(toks, dfreq, tau)
    }
  }

  /** Bitmask strategy of [[containmentPairs]]: the qualifying
    * DISTINCT-MASK pairs via a bounded broadcast nested-loop (small side
    * = fewer set bits; ties broken mask-ascending so each unordered mask
    * pair is evaluated once), expanded to documents by equi-joins.
    * Same-mask groups pair among themselves at containment 1.
    */
  private def containmentPairsMask(masks: DataFrame, dm: DataFrame,
      tau: Double): DataFrame = {
    val a = dm.select(col("mask").as("ma"), col("sz").as("sza"))
    val b = dm.select(col("mask").as("mb"), col("sz").as("szb"))
    val ni = expr("cast(bit_count(ma & mb) as bigint)")
    val cont = ni.cast("double") / col("sza")
    val mp = a.join(broadcast(b),
        (col("sza") < col("szb") ||
          (col("sza") === col("szb") && col("ma") <= col("mb"))) &&
          cont >= lit(tau))
      .select(col("ma"), col("mb"), ni.as("n_inter"), cont.as("containment"))
    mp.join(masks.select(col("id").as("_ida"), col("mask").as("ma")), "ma")
      .join(masks.select(col("id").as("_idb"), col("mask").as("mb")), "mb")
      .filter(col("ma") =!= col("mb") || col("_ida") < col("_idb"))
      .select(
        when(col("ma") === col("mb"), least(col("_ida"), col("_idb")))
          .otherwise(when(expr("bit_count(ma) = bit_count(mb)"),
            least(col("_ida"), col("_idb"))).otherwise(col("_ida")))
          .as("id_small"),
        when(col("ma") === col("mb"), greatest(col("_ida"), col("_idb")))
          .otherwise(when(expr("bit_count(ma) = bit_count(mb)"),
            greatest(col("_ida"), col("_idb"))).otherwise(col("_idb")))
          .as("id_large"),
        col("n_inter"), col("containment"))
  }

  /** Prefix-filter strategy of [[containmentPairs]] — see the adaptive
    * operator's scaladoc.
    */
  private def containmentPairsPrefix(toks: DataFrame, dfreq: DataFrame,
      tau: Double): DataFrame = {
    val sizes = toks.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val ranked = toks.join(dfreq, "tok").join(sizes, "id")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("df"), col("tok"))))
    val prefix = ranked
      .filter(col("rn") <= col("sz") - ceil(col("sz") * lit(tau)) + 1)
      .select(col("id"), col("tok"), col("sz"))
    val other = toks.join(sizes, "id")
      .select(col("id").as("id_b"), col("tok"), col("sz").as("sz_b"))
    val cand = prefix.as("a").join(other.as("b"),
        col("a.tok") === col("b.tok") && col("a.id") =!= col("b.id_b") &&
          (col("a.sz") < col("b.sz_b") ||
            (col("a.sz") === col("b.sz_b") && col("a.id") < col("b.id_b"))))
      .select(col("a.id").as("id_small"), col("b.id_b").as("id_large"))
      .distinct()
    val inter = cand
      .join(toks.select(col("id").as("id_small"), col("tok")), "id_small")
      .join(toks.select(col("id").as("id_large"), col("tok")),
        Seq("id_large", "tok"))
      .groupBy(col("id_small"), col("id_large"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col("id").as("id_small"), col("sz").as("sz_s")),
        "id_small")
      .withColumn("containment", col("n_inter").cast("double") / col("sz_s"))
      .filter(col("containment") >= tau)
      .select(col("id_small"), col("id_large"), col("n_inter"),
        col("containment"))
  }

  /** Leakage-safe train/validation split: documents are split by their
    * NEAR-DUP CLUSTER, never individually, so no near-duplicate pair can
    * straddle the split — the contamination a row-wise random split
    * silently creates (validation "held-out" docs whose near-copies sit
    * in train). `pairs` is any verified near-dup edge list (id_a, id_b),
    * e.g. [[lshCandidatePairs]] output filtered to the similarity
    * threshold; docs absent from every pair are singleton clusters of
    * themselves.
    *
    * The assignment hashes the cluster REPRESENTATIVE (min member id):
    * md5(cluster) first hex digit < '8' → train (≈ 50/50), else valid —
    * deterministic, engine-portable, and trivially cluster-atomic since
    * every member hashes the same representative. Returns one row per
    * document: (id, cluster, cluster_size, split).
    *
    * Scale shape: [[clusterComponents]] (union-find below the cutover,
    * large-star/small-star above) over the edge list only, one broadcast
    * join back to the corpus id set, and a hash projection — the corpus
    * itself is scanned once and never shuffled.
    */
  def leakageSafeSplit(docs: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame = {
    // localCheckpoint: comps is tiny (one row per doc that appears in a
    // pair) but its lineage is the whole candidate pipeline — without
    // the cut, the broadcast build re-plans that entire subtree and the
    // submitted plan balloons to thousands of nodes
    val comps = clusterComponents(pairs)
      .select(col("id"), col("cluster"), col("cluster_size"))
      .localCheckpoint()
    docs.select(col(idCol).as("id"))
      .join(broadcast(comps), Seq("id"), "left")
      .withColumn("cluster", coalesce(col("cluster"), col("id")))
      .withColumn("cluster_size", coalesce(col("cluster_size"), lit(1L)))
      .withColumn("split",
        when(substring(md5(col("cluster").cast("string")), 1, 1)
          .isin("0", "1", "2", "3", "4", "5", "6", "7"), "train")
          .otherwise("valid"))
  }
}
