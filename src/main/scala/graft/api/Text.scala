package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Library API for text analysis — mostly COLUMN-level builders (compose
  * into any projection; all codegen-friendly built-ins), plus the
  * corpus-level TF-IDF table. The `graft.operators.TextOps` oracle
  * queries are thin bindings of these builders to the harness tables.
  *
  * Tokenization is a plain single-space split everywhere so results are
  * engine-exact; per-row arithmetic is double (deterministic).
  */
object Text {

  /** English function words used by the language-ID heuristic. */
  val EnglishStopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(split(text, " ")).cast("long")

  /** Distinct whitespace token count. */
  def uniqueTokenCount(text: Column): Column =
    size(array_distinct(split(text, " "))).cast("long")

  /** Tokens ∈ `stopwords` count. */
  def stopwordCount(text: Column, stopwords: Seq[String] = EnglishStopwords): Column =
    size(filter(split(text, " "), t => t.isin(stopwords: _*))).cast("long")

  /** Stopword-density language score in [0, 1]. */
  def englishScore(text: Column): Column =
    stopwordCount(text).cast("double") / tokenCount(text)

  /** Threshold language-ID: 'en' when the stopword density clears
    * `threshold`, else 'other'.
    */
  def langIdPredict(text: Column, threshold: Double = 0.08): Column =
    when(englishScore(text) >= threshold, "en").otherwise("other")

  /** CCNet-style perplexity bucket (Wenzek et al. 2020,
    * arXiv:1911.00359) over a per-document average token log-probability:
    * `head` above `headMin`, `middle` above `midMin`, else `tail`
    * (higher avg log-prob = lower perplexity = more in-distribution).
    * The thresholds are CONSTANTS by contract — CCNet calibrates them
    * offline against a reference corpus (e.g. tercile boundaries from
    * [[graft.operators.Extended.exactQuantiles]] over a scored sample)
    * and ships fixed cutoffs, so the production pass is one narrow
    * comparison per row: no global sort, no data-dependent plan, the
    * same document always lands in the same bucket regardless of what
    * it shares a batch with.
    */
  def perplexityBucket(avgLogp: Column, headMin: Double,
      midMin: Double): Column =
    when(avgLogp > headMin, "head")
      .when(avgLogp > midMin, "middle")
      .otherwise("tail")

  /** The engine's document quality score: 0.5·length + 0.3·uniqueness +
    * 0.2·(1 − stopword density), each term in [0, 1].
    */
  def qualityScore(text: Column, lengthNorm: Double = 64.0): Column = {
    val nTok = tokenCount(text).cast("double")
    least(nTok / lit(lengthNorm), lit(1.0)) * lit(0.5) +
      (uniqueTokenCount(text).cast("double") / nTok) * lit(0.3) +
      (lit(1.0) - stopwordCount(text).cast("double") / nTok) * lit(0.2)
  }

  /** Within-document repetition signal: the fraction of n-gram
    * OCCURRENCES that repeat an earlier occurrence in the same document
    * (`1 − distinct/total`, the duplicate-n-gram fraction used as a
    * quality filter in large-corpus curation — boilerplate and
    * auto-generated text score high). Null when the document has fewer
    * than n tokens. Fully narrow, no explode, no shuffle: the distinct
    * count is one pass of the fused [[graft.functions.TextShingles]]
    * codegen kernel (the interpreted transform/slice/array_distinct
    * chain it replaces measured ~20× slower over the corpus) and the
    * total is plain token-count arithmetic (`n_tokens − n + 1`);
    * integer-ratio doubles, so engine-exact. Requires the graft function
    * surface in the session ([[graft.plans.GraftExtensions]], which
    * [[graft.SparkEntry.configure]] installs).
    */
  def dupNgramFrac(text: Column, n: Int): Column = {
    val total = size(split(text, " ")) - (n - 1)
    when(total >= 1, lit(1.0) -
      size(graft.functions.ShingleFunctions.textShingles(text, n)).cast("double") / total)
  }

  /** Whitespace-normalized md5 content fingerprint (exact-dup key). */
  def normalizedFingerprint(text: Column): Column =
    md5(lower(trim(regexp_replace(text, "\\s+", " "))))

  /** PII redaction patterns, applied by [[redactPii]] in this order (so
    * the broader structured forms win before the bare digit-run
    * fallback). ASCII-only classes and RE2-compatible syntax so Java
    * regex (Spark) and RE2 (DuckDB) agree byte-for-byte.
    */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b" -> "<IP>",
    // phone-SHAPED only: 3-3-4 digit grouping with at most one
    // separator between groups (optionally parenthesized area code), or
    // an explicit +international run. An earlier unbounded char-class
    // form ("[0-9][0-9() -]{6,}[0-9]") swallowed any space-separated
    // digit sequence — years, measurements, table rows — into one
    // <PHONE>; bounded grouping leaves benign numeric text to the
    // per-run <NUM> fallback.
    "\\+?\\(?[0-9]{3}\\)?[ .-]?[0-9]{3}[ .-]?[0-9]{4}\\b|\\+[0-9]{7,15}\\b" -> "<PHONE>",
    "[0-9]+" -> "<NUM>")

  /** Redact PII-shaped spans: emails, IPv4 addresses, phone-like digit
    * spans, then any remaining digit run (IDs, account numbers). A
    * narrow chain of global `regexp_replace`es — stays inside
    * whole-stage codegen, no UDF.
    */
  def redactPii(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (c, (pat, repl)) =>
      regexp_replace(c, pat, repl)
    }

  /** Occurrences of one [[PiiPatterns]] regex in `text`. */
  def piiMatchCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0))).cast("long")

  /** Sequence packing: assign each document to a fixed-size token
    * context window (`windowTokens`) by concatenation order — the
    * training-data step that turns a corpus into fixed-length model
    * inputs. Documents are laid out contiguously per `groupCol` shard in
    * `orderCol` order; each gets its token count, its start offset in
    * the shard's token stream, the window (`bin`) its first token lands
    * in, and whether it straddles a window boundary (`spans_boundary`,
    * the fraction a packer either splits or pads around).
    *
    * Scale shape: one narrow token-count pass + ONE running-sum window
    * per shard. The prefix sum is inherently sequential WITHIN a shard —
    * exactly why packers shard first: `groupCol` should be a real shard
    * key (source/file), bounding each window partition at shard size
    * while shards proceed in parallel.
    */
  def sequencePacking(docs: DataFrame, groupCol: String, orderCol: String,
      textCol: String, windowTokens: Int): DataFrame = {
    val w = Window.partitionBy(col(groupCol)).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .withColumn("n_tokens", tokenCount(col(textCol)))
      .withColumn("start_off", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("bin", expr(s"start_off div $windowTokens"))
      .withColumn("spans_boundary",
        expr(s"(start_off + n_tokens - 1) div $windowTokens") =!= col("bin"))
      .select(col(orderCol), col(groupCol), col("n_tokens"), col("start_off"),
        col("bin"), col("spans_boundary"))
  }

  /** Fixed-size character chunking with overlap — the context-window
    * splitting step of a RAG/training pipeline: each document becomes
    * `ceil(len/stride)` chunks of up to `chunkChars` characters starting
    * every `stride` characters (overlap = chunkChars − stride). Output:
    * every input column plus (chunk_idx, off, chunk) with 0-based
    * character offsets — metadata (source, lang, …) rides along so
    * downstream chunk-level ops keep their provenance without a join
    * back to the corpus.
    *
    * Scale shape: one narrow generate-offsets + explode pass — no
    * shuffle, no join; output size is a fixed ×(chunkChars/stride)
    * amplification of the input, produced streaming per row. The chunk
    * text is carried as a column so callers can fingerprint/embed it
    * without re-reading the corpus.
    */
  def chunkFixed(docs: DataFrame, idCol: String, textCol: String,
      chunkChars: Int, stride: Int): DataFrame = {
    require(stride > 0 && chunkChars >= stride,
      s"need 0 < stride <= chunkChars, got stride=$stride chunkChars=$chunkChars")
    require(docs.columns.contains(idCol),
      s"idCol '$idCol' not in ${docs.columns.mkString(",")}")
    require(docs.columns.contains(textCol),
      s"textCol '$textCol' not in ${docs.columns.mkString(",")}")
    // empty text gets ceil(0/stride) = 0 chunks — without the length
    // guard, sequence(0, greatest(-1, 0)) would emit one phantom empty
    // chunk whose md5("") looks like real content downstream
    docs.filter(col(textCol).isNotNull && length(col(textCol)) > 0)
      .select(col("*"),
        posexplode(sequence(lit(0), greatest(length(col(textCol)) - 1, lit(0)),
          lit(stride))).as(Seq("chunk_pos", "chunk_off")))
      .withColumn("chunk_idx", col("chunk_pos").cast("long"))
      .withColumn("off", col("chunk_off").cast("long"))
      .withColumn("chunk", col(textCol).substr(col("chunk_off") + 1, lit(chunkChars)))
      .drop("chunk_pos", "chunk_off")
  }

  /** True when any whitespace token of `text` is in `terms` — the
    * blocklist gate of a curation pipeline (profanity/boilerplate/spam
    * term lists). Token-exact (no substring false positives), narrow,
    * codegen'd; the term list ships as an array literal, so at 100 TB it
    * is part of the task binary, not a join. NULL text yields NULL (SQL
    * three-valued logic) — callers deciding keep/drop should wrap in
    * `coalesce(_, lit(false))` so null-text rows count as unblocked
    * rather than silently dropping out of both branches of a filter.
    */
  def blocklistHit(text: Column, terms: Seq[String]): Column =
    arrays_overlap(split(text, " "), array(terms.map(lit): _*))

  /** TF-IDF table (id, tok, tf, df, tfidf) for rows matching
    * `probeFilter`: term frequencies from the probe rows, document
    * frequencies from the whole corpus (distinct tokens per row via the
    * native shingle expression with n=1 — one narrow pass + hash agg).
    * The tf side is tiny → broadcast through the df join.
    */
  def tfidf(docs: DataFrame, idCol: String, textCol: String,
      probeFilter: Column, minTokenLen: Int = 4): DataFrame = {
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val tf = docs.filter(probeFilter)
      .select(col(idCol), explode(split(col(textCol), " ")).as("tok"))
      .filter(length(col("tok")) >= minTokenLen)
      .groupBy(col(idCol), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val df = docs
      .select(explode(graft.functions.ShingleFunctions.textShingles(col(textCol), 1)).as("tok"))
      .filter(length(col("tok")) >= minTokenLen)
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("df"))
    df.join(broadcast(tf), "tok")
      .crossJoin(broadcast(nDocs))
      .select(col(idCol), col("tok"), col("tf"), col("df"),
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 4).as("tfidf"))
  }

  /** One BPE merge applied to a symbol array: greedy left-to-right
    * non-overlapping replacement of adjacent (l, r) with their
    * concatenation, as a single codegen'd `aggregate` fold — after a
    * merge the new symbol becomes the fold's tail, so "aaa" under
    * (a,a) correctly yields [aa, a], never [aa, aa].
    */
  private def bpeMergeOnce(syms: Column, l: String, r: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, x) =>
      when(size(acc) > 0 && element_at(acc, size(acc)) === lit(l) && x === lit(r),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
        .otherwise(concat(acc, array(x))))

  /** Distributed byte-pair-encoding merge training (Sennrich et al.
    * 2016): learn `numMerges` merges from the corpus, returning them in
    * rank order as (left, right, weighted_count).
    *
    * The scale move is the same one production BPE trainers make: all
    * counting runs over the DISTINCT-WORD frequency histogram, which is
    * Heaps-law-bounded (≪ corpus tokens), not over the corpus itself —
    * the corpus is scanned exactly once to build the histogram. Each
    * round is one pair-count aggregation over the vocab plus a 1-row
    * collect of the argmax (ties broken by (left, right) so training is
    * deterministic), then a narrow fold rewriting the symbol arrays.
    * The vocab frame is localCheckpoint'd each round: lineage stays
    * flat and the per-round codegen (each merge embeds its pair as
    * literals) recompiles once per ROUND, not once per consumer.
    */
  def bpeTrain(docs: DataFrame, textCol: String, numMerges: Int): Seq[(String, String, Long)] = {
    require(numMerges >= 1, s"numMerges must be positive: $numMerges")
    var words = docs
      .select(explode(split(col(textCol), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .select(col("cnt"),
        transform(sequence(lit(1), length(col("w"))),
          i => col("w").substr(i, lit(1))).as("syms"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
    var continue = true
    while (continue && merges.size < numMerges) {
      val top = words
        .filter(size(col("syms")) >= 2)
        .select(col("cnt"), explode(expr(
          "transform(sequence(1, size(syms) - 1), " +
            "i -> struct(element_at(syms, i) AS l, element_at(syms, i + 1) AS r))")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("n"))
        .orderBy(col("n").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty) continue = false
      else {
        val (l, r, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((l, r, n))
        words = words
          .select(col("cnt"), bpeMergeOnce(col("syms"), l, r).as("syms"))
          .localCheckpoint()
      }
    }
    merges.toSeq
  }

  /** Token counts under a learned BPE merge list: each doc's words are
    * char-split and the merges replayed in rank order (the fold chain
    * is one nested codegen expression — keep merge lists modest or
    * persist intermediates for very deep vocabularies). Returns
    * (idCol, bpe_tokens) — the corpus-true token count a packing or
    * budget step would consume.
    */
  def bpeSegmentCount(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val words = docs
      .select(col(idCol).as("id"), explode(split(col(textCol), " ")).as("w"))
      .filter(col("w") =!= "")
    val syms0: Column = transform(sequence(lit(1), length(col("w"))),
      i => col("w").substr(i, lit(1)))
    val syms = merges.foldLeft(syms0) { case (s, (l, r)) => bpeMergeOnce(s, l, r) }
    words.select(col("id"), size(syms).as("n_syms"))
      .groupBy(col("id")).agg(sum(col("n_syms")).as("bpe_tokens"))
  }

  /** EXACT heavy hitters — every token whose corpus frequency is
    * ≥ `threshPerMille`‰ of all tokens, with its exact count — without
    * ever shuffling the full vocabulary.
    *
    * Two passes, the classic sketch-then-recount shape:
    *  1. Candidate generation: each partition runs a Misra–Gries
    *     `frequent` summary of `capacity` counters over its tokens
    *     (tokens never leave the partition; only ≤ capacity candidate
    *     rows plus one total-count row per partition are emitted). By
    *     pigeonhole, any token with global frequency > n/capacity
    *     exceeds its share in at least one partition, so the UNION of
    *     per-partition summaries is a guaranteed superset of the true
    *     heavy hitters whenever `capacity · threshPerMille > 1000`
    *     (enforced). A naive `groupBy(token)` would shuffle every
    *     distinct token — ~10⁸ rows of long-tail vocabulary at 100 TB;
    *     this shuffles `capacity × partitions` rows.
    *  2. Exact recount: a second corpus scan counts ONLY tokens in the
    *     broadcast candidate set (broadcast semi-join reaches the scan
    *     as a runtime filter), then keeps those with
    *     `count · 1000 ≥ threshPerMille · total` — pure integer
    *     arithmetic, so the threshold is engine-exact.
    *
    * Output: (token, n) exact, ordered by n desc then token. The
    * summaries frame is localCheckpoint'd: it is consumed twice (total
    * + candidates) and each consumer would otherwise re-run the
    * pass-1 corpus scan.
    */
  def heavyHitters(docs: DataFrame, textCol: String, capacity: Int = 4096,
      threshPerMille: Int = 1): DataFrame = {
    require(capacity.toLong * threshPerMille > 1000,
      s"capacity $capacity too small for ${threshPerMille}/1000 threshold: " +
        "the Misra-Gries superset guarantee needs capacity * threshPerMille > 1000")
    val spark = docs.sparkSession
    import spark.implicits._
    def toks = docs.select(explode(split(col(textCol), " ")).as("token"))
      .filter(col("token") =!= "")
    // Pass 1 — per-partition Misra-Gries. The "" sentinel row carries the
    // partition's exact token count (empty tokens were filtered, so the
    // key is free). Decrement-all triggers at most n/capacity times, so
    // the summary costs amortized O(1) per token.
    val summaries = toks.as[String].mapPartitions { it =>
      val counts = new java.util.HashMap[String, Long](capacity * 2)
      var np = 0L
      while (it.hasNext) {
        val t = it.next(); np += 1L
        val cur = counts.getOrDefault(t, 0L)
        if (cur > 0L || counts.size < capacity) counts.put(t, cur + 1L)
        else {
          val e = counts.entrySet().iterator()
          while (e.hasNext) {
            val en = e.next()
            if (en.getValue <= 1L) e.remove() else en.setValue(en.getValue - 1L)
          }
        }
      }
      val out = scala.collection.mutable.ArrayBuffer[(String, Long)](("", np))
      counts.forEach((k, v) => out += ((k, v)))
      out.iterator
    }.toDF("token", "cnt").localCheckpoint()
    val total = summaries.filter(col("token") === "")
      .agg(sum(col("cnt")).as("total"))
    val candidates = summaries.filter(col("token") =!= "")
      .select(col("token")).distinct()
    toks.join(broadcast(candidates), Seq("token"), "leftsemi")
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(total))
      .filter(col("n") * 1000 >= lit(threshPerMille.toLong) * col("total"))
      .select(col("token"), col("n"))
      .orderBy(col("n").desc, col("token"))
  }

  /** Distributed multinomial Naive Bayes text classifier, trained and
    * applied in one plan — the shape of a fastText-style quality or
    * language filter in a curation pipeline, here with the corpus's own
    * `labelCol` as supervision.
    *
    * Training IS aggregation: per-(class, token) occurrence counts,
    * per-class totals, vocabulary size and document priors are four hash
    * aggregations over a single tokenized frame — embarrassingly
    * parallel, no iteration. The model (vocab × classes Laplace-smoothed
    * log-probability grid, Heaps-law-bounded ≪ corpus) is broadcast to
    * score: each token occurrence joins its |classes| grid rows, one
    * more hash agg sums per (doc, class), and a per-doc window argmax
    * (score desc, class asc — deterministic tie-break) picks the
    * prediction. The corpus is scanned exactly twice (train + score);
    * nothing driver-side.
    *
    * Returns one row per non-empty document: (idCol, actual, predicted).
    * All log-domain arithmetic is exact-integer ratios through `ln`, so
    * both engines of a differential test see bit-identical model
    * weights; class score gaps (≫ summation-order ulps) make the argmax
    * engine-stable.
    */
  /** Per-class informative vocabulary — log-odds ratio with an
    * informative Dirichlet prior (Monroe, Colaresi & Quinn 2008,
    * "Fightin' Words"), the standard corpus-comparison statistic for
    * "which tokens characterize this slice of the corpus": for token w
    * in class i against the rest of the corpus,
    *
    *   δ_iw = ln((y_iw + α) / (n_i + α·V − y_iw − α))
    *        − ln((y_rw + α) / (n_r + α·V − y_rw − α))
    *   z_iw = δ_iw / sqrt(1/(y_iw + α) + 1/(y_rw + α))
    *
    * with y counts, n class token totals, V vocabulary size. Everything
    * is one tokenization pass + three hash aggregations; the per-token z
    * is a fixed scalar expression over exact integer counts (no
    * cross-row float sums), so it is deterministic — rounded to 4
    * decimals only because libm-vs-JVM `ln` can differ in the last ulp.
    * Returns the `topK` tokens per class by z (desc, token tie-break):
    * (labelCol, token, y, z).
    */
  def classLogOdds(docs: DataFrame, textCol: String, labelCol: String,
      alpha: Double = 0.01, topK: Int = 5): DataFrame = {
    val toks = docs.select(col(labelCol).as("cls"),
        explode(split(col(textCol), " ")).as("token"))
      .filter(col("token") =!= "")
    val cc = toks.groupBy(col("cls"), col("token")).agg(count(lit(1)).as("y"))
    val globals = cc.groupBy(col("token")).agg(sum(col("y")).as("y_all"))
    val totals = cc.groupBy(col("cls")).agg(sum(col("y")).as("n_cls"))
    val corpus = cc.agg(sum(col("y")).as("n_all"), countDistinct(col("token")).as("v"))
    val a = lit(alpha)
    val scored = cc.join(globals, "token")
      .join(broadcast(totals), "cls")
      .crossJoin(broadcast(corpus))
      .select(col("cls"), col("token"), col("y"), {
        val a0 = a * col("v").cast("double")
        val yi = col("y").cast("double")
        val yr = (col("y_all") - col("y")).cast("double")
        val ni = col("n_cls").cast("double")
        val nr = (col("n_all") - col("n_cls")).cast("double")
        val delta = log((yi + a) / (ni + a0 - yi - a)) -
          log((yr + a) / (nr + a0 - yr - a))
        round(delta / sqrt(lit(1.0) / (yi + a) + lit(1.0) / (yr + a)), 4).as("z")
      })
    val w = Window.partitionBy(col("cls")).orderBy(col("z").desc, col("token"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK)
      .select(col("cls").as(labelCol), col("token"), col("y"), col("z"))
  }

  def naiveBayesSelfScore(docs: DataFrame, idCol: String, textCol: String,
      labelCol: String): DataFrame = {
    def toks = docs.select(col(idCol).as("nb_id"), col(labelCol).as("actual"),
        explode(split(col(textCol), " ")).as("token"))
      .filter(col("token") =!= "")
    val classCounts = toks.groupBy(col("actual").as("cls"), col("token"))
      .agg(count(lit(1)).as("c"))
    val classTotals = classCounts.groupBy(col("cls")).agg(sum(col("c")).as("n_cls"))
    val vocab = classCounts.agg(countDistinct(col("token")).as("v"))
    val classes = docs.groupBy(col(labelCol).as("cls"))
      .agg(count(lit(1)).as("n_docs_cls"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val grid = classCounts.select(col("token")).distinct()
      .crossJoin(classes.select(col("cls")))
      .join(classCounts, Seq("cls", "token"), "left")
      .na.fill(0L, Seq("c"))
      .join(classTotals, "cls")
      .crossJoin(vocab)
      .select(col("cls"), col("token"),
        log((col("c") + 1).cast("double") / (col("n_cls") + col("v")).cast("double"))
          .as("logp"))
    val priors = classes.crossJoin(nDocs)
      .select(col("cls"),
        log(col("n_docs_cls").cast("double") / col("n_docs").cast("double"))
          .as("logprior"))
    val scores = toks.join(broadcast(grid), "token")
      .groupBy(col("nb_id"), col("actual"), col("cls"))
      .agg(sum(col("logp")).as("s"))
      .join(broadcast(priors), "cls")
      .select(col("nb_id"), col("actual"), col("cls"),
        (col("s") + col("logprior")).as("score"))
    val w = Window.partitionBy(col("nb_id"))
      .orderBy(col("score").desc, col("cls"))
    scores.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("nb_id").as(idCol), col("actual"), col("cls").as("predicted"))
  }

  /** Inverted-index build: one row per token with document frequency,
    * total term frequency, and a CAPPED posting list (the `maxPostings`
    * smallest doc ids, ascending) — the search-index construction pass of
    * a retrieval pipeline, grading that index building stays distributed.
    *
    * Scale shape: per-(token, doc) term frequencies are one hash
    * aggregation; df/tf roll up from that frame with map-side partial
    * combine. The posting cap uses the bounded-state
    * [[graft.functions.TopKAggregator]] (score = −doc id ⇒ k smallest),
    * so each partition reduces a hot token — a stopword present in every
    * document of a 100 TB corpus — to ≤ `maxPostings` candidates before
    * the shuffle. The ranked-window formulation (`row_number` over the
    * token's postings, keep rn ≤ k) would sort that stopword's entire
    * posting list in ONE task; the aggregator never materializes it.
    * (Doc ids ride the aggregator's double score slot: exact for
    * |id| ≤ 2⁵³, far beyond any real corpus id space.)
    */
  def invertedIndex(docs: DataFrame, idCol: String, textCol: String,
      maxPostings: Int = 20): DataFrame = {
    val tf = docs.select(col(idCol).as("id"),
        explode(split(col(textCol), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token"), col("id"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint() // feeds stats + postings; live it would tokenize twice
    val stats = tf.groupBy(col("token"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("tf_total"))
    val minK = udaf(new graft.functions.TopKAggregator(maxPostings))
    val postings = tf
      .groupBy(col("token"))
      .agg(minK(col("id"), (-col("id")).cast("double")).as("top"))
      .select(col("token"),
        expr("transform(top, x -> x.id)").as("postings"))
    stats.join(postings, "token")
      .select(col("token"), col("df"), col("tf_total"), col("postings"))
  }

  /** BM25 ranked retrieval (Robertson/Okapi) for a FIXED query term set,
    * top `k` documents. Per-term scores are emitted as one fixed-order
    * column sum (term₁ + term₂ + …), NOT a row-order `sum()` over the
    * matched terms — floating addition is order-sensitive in the last
    * ulp, and the fixed textual order is what makes the score (and
    * therefore the top-k cut) bit-identical across engines and across
    * partitionings of the same corpus. idf = ln(1 + (N−df+0.5)/(df+0.5))
    * (the non-negative variant), tf saturation k1 = 1.2, length
    * normalization b = 0.75.
    *
    * Scale shape: the corpus scans once for lengths and once for term
    * postings, but the posting scan is pre-filtered to the query terms
    * (an `isin` literal filter that reaches the parquet scan), so the
    * expensive frame is |postings of query terms|, not the corpus. df
    * and the 1-row (N, avgdl) aggregate broadcast onto it; the final
    * ranking is a rounded-score global top-k.
    *
    * Returns (id, score) with score rounded to 4 decimals, ordered
    * score desc then id, limited to `k`.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      query: Seq[String], k: Int = 20, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(query.nonEmpty && query.distinct.size == query.size,
      s"query terms must be non-empty and distinct: $query")
    val toks = docs.select(col(idCol).as("id"),
        explode(split(col(textCol), " ")).as("token"))
      .filter(col("token") =!= "")
    val lens = toks.groupBy(col("id")).agg(count(lit(1)).as("dl"))
    // avgdl as an explicit exact-integer-sum division (NOT the engine's
    // avg(): both engines then compute the identical double)
    val corpus = lens.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val tf = toks.filter(col("token").isin(query: _*))
      .groupBy(col("id"), col("token")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(dfreq), "token")
      .join(lens, "id")
      .crossJoin(broadcast(corpus))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5))))
      .withColumn("s",
        col("idf") * (col("tf") * (lit(k1) + 1.0)) /
          (col("tf") + lit(k1) *
            (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))))
    // one column per query term, then a FIXED-order sum of the columns
    val aggCols = query.map(t =>
      sum(when(col("token") === t, col("s"))).as(s"s_$t"))
    val pivoted = scored.groupBy(col("id"))
      .agg(aggCols.head, aggCols.tail: _*)
    val total = query.map(t => coalesce(col(s"s_$t"), lit(0.0)))
      .reduce(_ + _)
    pivoted.withColumn("score_raw", total)
      .orderBy(col("score_raw").desc, col("id"))
      .limit(k)
      .select(col("id"), round(col("score_raw"), 4).as("score"))
  }

  /** Per-group n-gram diversity report: total n-grams, distinct
    * n-grams, type/token ratio, and Shannon entropy of the n-gram
    * distribution — the corpus-diversity signal (templated/boilerplate
    * sources read low on both metrics) a mixture designer balances
    * against quality scores.
    *
    * Entropy uses the single-pass identity
    * H = ln(total) − Σ c·ln(c) / total over per-(group, gram) counts c,
    * so it needs no second total-joined pass; every term is the
    * IDENTICAL arithmetic expression in any engine, and the rounded
    * outputs (ttr to 6, entropy to 4 decimals) are engine-stable.
    * n-grams are built by a narrow array transform over the token
    * array — no window, no shuffle before the (group, gram) hash
    * aggregation.
    */
  def ngramDiversity(docs: DataFrame, textCol: String, groupCol: String,
      n: Int = 3): DataFrame = {
    require(n >= 1, s"n must be positive: $n")
    val grams = docs.select(col(groupCol).as("grp"),
        split(col(textCol), " ").as("toks"))
      .select(col("grp"), explode(when(size(col("toks")) >= n,
          expr(s"transform(sequence(1, size(toks) - ${n - 1}), " +
            s"i -> array_join(slice(toks, i, $n), ' '))"))
        .otherwise(array().cast("array<string>"))).as("gram"))
    val counts = grams.groupBy(col("grp"), col("gram"))
      .agg(count(lit(1)).as("c"))
    counts.groupBy(col("grp"))
      .agg(sum(col("c")).as("n_grams"),
        count(lit(1)).as("n_distinct"),
        sum(col("c") * log(col("c"))).as("clnc"))
      .select(col("grp"), col("n_grams"), col("n_distinct"),
        round(col("n_distinct").cast("double") / col("n_grams"), 6).as("ttr"),
        round(log(col("n_grams")) - col("clnc") / col("n_grams"), 4)
          .as("entropy"))
  }
}
