package graft.api

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The library API must work over caller-owned frames with arbitrary
  * column names — not just the harness tables.
  */
class ApiSpec extends SparkSpec {

  test("Dedup API finds planted near-duplicates in a custom-named corpus") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val corpus = Seq(
      (10L, base),
      (20L, base + " ok"),                          // near-dup of 10
      (30L, "completely different words in this unrelated document body here"),
      (40L, base + " ok")                           // exact dup of 20
    ).toDF("k", "body")

    val sigs = Dedup.minhashSignatures(corpus, "k", "body")
    assert(sigs.count() === 4 * Dedup.NumSeeds)

    val pairs = Dedup.lshCandidatePairs(corpus, "k", "body")
      .filter($"jaccard" >= 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((20L, 40L))) // identical texts always pair
    assert(pairs.forall { case (a, b) => a < b })
    assert(!pairs.exists(p => p._1 == 30L || p._2 == 30L))

    val clusters = Dedup.clusterComponents(
      Dedup.lshCandidatePairs(corpus, "k", "body")
        .filter($"jaccard" >= 0.5).select($"id_a", $"id_b"))
    val keeper = clusters.filter($"is_keeper").select($"id").as[Long].collect()
    // every cluster keeps exactly its minimum id
    assert(keeper.toSet.subsetOf(Set(10L, 20L)))
    assert(clusters.filter($"id" === $"cluster").count() === keeper.length)
  }

  test("clusterComponents: star-contraction path matches union-find on a multi-component graph") {
    import spark.implicits._
    // deterministic multi-component graph for several contraction
    // rounds: 10 blocks of 300 node ids, ~150 random intra-block edges
    // each (several components per block), plus a 50-node chain (deep
    // component) and a self-loop (singleton via the iterative path's
    // node re-join)
    val rnd = new scala.util.Random(42)
    val blockEdges = for {
      blk <- 0 until 10
      _ <- 0 until 150
    } yield {
      val base = blk * 1000L
      (base + rnd.nextInt(300), base + rnd.nextInt(300))
    }
    val chain = (0 until 50).map(i => (20000L + i, 20000L + i + 1))
    val edges = (blockEdges ++ chain :+ ((30000L, 30000L)))
      .toDF("id_a", "id_b")
    assert(edges.count() > 1000)
    val viaUnionFind = Dedup.clusterComponents(edges) // under the edge cutover
      .select($"id", $"cluster", $"cluster_size", $"is_keeper")
      .as[(Long, Long, Long, Boolean)].collect().toSet
    val viaStars = Dedup.clusterComponents(edges, byStars = true)
      .select($"id", $"cluster", $"cluster_size", $"is_keeper")
      .as[(Long, Long, Long, Boolean)].collect().toSet
    assert(viaStars === viaUnionFind)
    // sanity: the 51-node chain is one component rooted at its minimum
    val chainRows = viaStars.filter(t => t._1 >= 20000L && t._1 <= 20050L)
    assert(chainRows.size === 51)
    assert(chainRows.forall { case (_, c, s, _) => c == 20000L && s == 51L })
    assert(viaStars.contains((30000L, 30000L, 1L, true))) // self-loop → singleton
  }

  test("q55 cluster pipeline is identical through the forced iterative CC path") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def run(components: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) =
      Dedup.cacheScope {
        val pairs = Dedup.lshCandidatePairs(docs, "doc_id", "text")
          .filter($"jaccard" >= 0.5).select($"id_a", $"id_b")
        components(pairs)
          .select($"id", $"cluster", $"cluster_size", $"is_keeper")
          .as[(Long, Long, Long, Boolean)].collect().toSet
      }
    val sparse = run(Dedup.clusterComponents(_))               // union-find path
    val iter = run(Dedup.clusterComponents(_, byStars = true)) // star-contraction path
    assert(sparse.nonEmpty)
    assert(iter === sparse)
  }

  test("lshCandidatePairsAgainst pairs the batch against the corpus only") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val other = "completely different words in this unrelated document body here"
    val corpus = Seq(
      (1L, base),
      (2L, other),
      (3L, base + " extra")
    ).toDF("k", "body")
    val batch = Seq(
      (10L, base),       // near-dup of corpus 1 and 3
      (12L, base),       // identical to batch 10 — but within-batch pairs are not this op's job
      (11L, "nothing shaped like anything stored before inside that corpus at all"),
      (2L, other)        // same id AND text on both sides: must not self-pair
    ).toDF("k", "body")
    val got = Dedup.lshCandidatePairsAgainst(batch, corpus, "k", "body")
      .select($"new_id", $"corpus_id", $"jaccard")
      .as[(Long, Long, Double)].collect()
    val pairs = got.map(t => (t._1, t._2)).toSet
    assert(pairs.contains((10L, 1L)) && pairs.contains((12L, 1L)))
    assert(!pairs.exists(p => p._1 == p._2), "shared id must never self-pair")
    assert(!pairs.contains((10L, 12L)) && !pairs.contains((12L, 10L)),
      "within-batch pairs are out of scope")
    assert(!pairs.exists(_._1 == 11L), "novel doc pairs with nothing")
    assert(got.filter(t => t._1 == 10L && t._2 == 1L).head._3 === 1.0)

    // corpus-side hot-bucket cap: a degenerate corpus bucket emits nothing
    val hot = (0 until 50).map(i => (100L + i, base)).toDF("k", "body")
    val capped = Dedup.lshCandidatePairsAgainst(batch, hot, "k", "body",
        maxBucketSize = 10)
      .select($"new_id", $"corpus_id").as[(Long, Long)].collect()
    assert(capped.isEmpty)
  }

  test("lshCandidatePairs drops oversized LSH buckets instead of exploding them") {
    import spark.implicits._
    val hotText = "a b c d e f g h i j"
    val pairText = "completely different near duplicate candidate body of words"
    val corpus = ((0 until 50).map(i => (i.toLong, hotText)) ++
      Seq((100L, pairText), (101L, pairText))).toDF("k", "body")
    // cap below the 50-doc degenerate bucket: its pairs vanish, the
    // small 2-doc bucket still pairs
    val capped = Dedup.lshCandidatePairs(corpus, "k", "body", maxBucketSize = 10)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(capped === Set((100L, 101L)))
    // default cap keeps both
    val full = Dedup.lshCandidatePairs(corpus, "k", "body")
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(full.size === 50 * 49 / 2 + 1)
    // Int.MaxValue takes the guard-free lazy path; same pairs
    val lazyFull = Dedup.lshCandidatePairs(corpus, "k", "body",
        maxBucketSize = Int.MaxValue)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(lazyFull === full)
  }

  test("cacheScope releases exactly the dedup intermediates") {
    import spark.implicits._
    val corpus = Seq((1L, "a b c d e"), (2L, "a b c d e f")).toDF("k", "body")
    spark.sharedState.cacheManager.clearCache()
    Dedup.cacheScope {
      val pairs = Dedup.lshCandidatePairs(corpus, "k", "body")
      Dedup.clusterComponents(pairs.select($"id_a", $"id_b")).collect()
      assert(!spark.sharedState.cacheManager.isEmpty, "intermediates cached in scope")
    }
    assert(spark.sharedState.cacheManager.isEmpty,
      "scope exit must unpersist every dedup intermediate")
  }

  test("a shared CacheScope handle collects intermediates from OTHER threads; one close, no leak") {
    import spark.implicits._
    val corpus = Seq((1L, "a b c d e"), (2L, "a b c d e f")).toDF("k", "body")
    spark.sharedState.cacheManager.clearCache()
    val scope = Dedup.newCacheScope()
    // two worker threads, each installing the SAME handle — the parallel
    // query submission pattern the old thread-local Buffer silently
    // leaked on
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val futures = (1 to 2).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = Dedup.withScope(scope) {
            val pairs = Dedup.lshCandidatePairs(corpus, "k", "body")
            Dedup.clusterComponents(pairs.select($"id_a", $"id_b")).collect()
            ()
          }
        })
      }
      futures.foreach(_.get())
    } finally pool.shutdown()
    assert(scope.size > 0, "worker-thread intermediates must register on the shared handle")
    assert(!spark.sharedState.cacheManager.isEmpty, "intermediates cached while scope open")
    scope.close()
    assert(spark.sharedState.cacheManager.isEmpty,
      "closing the shared handle must unpersist every worker-thread intermediate")
    assert(scope.size === 0)
  }

  test("decontaminationStats counts benchmark shingle leaks per corpus doc") {
    import spark.implicits._
    val benchText = "alpha beta gamma delta epsilon zeta eta theta"
    val benchmark = Seq((100L, benchText)).toDF("k", "body")
    val corpus = Seq(
      // shares the 'alpha beta gamma delta' + following 4-gram windows
      (1L, "alpha beta gamma delta epsilon unrelated tail words here now"),
      (2L, "totally clean document with no benchmark overlap at all today"),
      (3L, benchText) // full leak: every shingle contaminated
    ).toDF("k", "body")
    val stats = Dedup.decontaminationStats(corpus, benchmark, "k", "body")
      .select($"k", $"n_sh", $"n_contaminated", $"contamination_frac")
      .as[(Long, Long, Long, Double)].collect().map(t => t._1 -> t).toMap
    assert(!stats.contains(2L), "clean docs are absent from the stats")
    assert(stats(3L)._2 === stats(3L)._3, "identical doc: all shingles hit")
    assert(stats(3L)._4 === 1.0)
    // doc 1: 7 shingles, the first two 4-grams are inside the benchmark
    assert(stats(1L)._2 === 7L)
    assert(stats(1L)._3 === 2L)
    // a suite-scale filter request (80M bits > Spark's 67M-bit default
    // clamp) must plan — bloomGated raises the optimizer confs — and
    // return identical results; a gate that always answers Bloom forces
    // that path (the adaptive gate would broadcast a 5-shingle suite)
    val itemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val priorItems = spark.conf.get(itemsKey)
    val priorBits = spark.conf.get(bitsKey)
    val bigBloom = Dedup.decontaminationStats(corpus, benchmark, "k", "body", 4,
        _ => Some((10000000L, 80000000L)))
      .select($"k", $"n_contaminated").as[(Long, Long)].collect().toMap
    assert(bigBloom === Map(1L -> 2L, 3L -> 5L))
    // the oversized call must not permanently re-size the session's
    // runtime Bloom-join clamps (r6 verdict: one decontamination call
    // silently changed the planning environment for every later query)
    assert(spark.conf.get(itemsKey) === priorItems,
      "bloomGated must restore the maxNumItems clamp after planning")
    assert(spark.conf.get(bitsKey) === priorBits,
      "bloomGated must restore the maxNumBits clamp after planning")
    // and the drop composition over the forced-Bloom path still works
    // AFTER the restore (the predicate was analyzed under the raised
    // clamps; later Dataset compositions must not re-trip them)
    val dropped = Dedup.decontaminationDrop(corpus, benchmark, "k", "body", 4,
        _ => Some((10000000L, 80000000L)))
      .orderBy($"k").select($"k").as[Long].collect().toSeq
    assert(dropped === Seq(2L), "only the clean doc survives the drop")
    assert(spark.conf.get(itemsKey) === priorItems)
    assert(spark.conf.get(bitsKey) === priorBits)
  }

  test("decontamination: broadcast and Bloom gate paths agree bit-for-bit") {
    import spark.implicits._
    val benchmark = Seq((100L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("k", "body")
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon unrelated tail words here now"),
      (2L, "totally clean document with no benchmark overlap at all today"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta")
    ).toDF("k", "body")
    def run(gate: Dedup.ShingleGate) =
      Dedup.decontaminationStats(corpus, benchmark, "k", "body", 4, gate)
        .orderBy($"k")
        .as[(Long, Long, Long, Double)].collect().toSeq
    // None pins the broadcast path, a 1M-item filter the Bloom path —
    // the adaptive choice must be a pure plan choice, never a result change
    assert(run(_ => None) === run(_ => Some((1000000L, 8000000L))))
  }

  test("dupNgramFrac measures within-document repetition exactly") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b a b a"),            // tokens: 5 total / 2 distinct; bigrams: 4/2
      (2L, "w x y z"),              // no repetition at any n
      (3L, "q r")                   // too short for trigrams
    ).toDF("id", "body")
      .select($"id",
        Text.dupNgramFrac($"body", 1).as("f1"),
        Text.dupNgramFrac($"body", 2).as("f2"),
        Text.dupNgramFrac($"body", 3).as("f3"))
    val rows = df.collect().map(r => r.getLong(0) ->
      (Option(r.get(1)), Option(r.get(2)), Option(r.get(3)))).toMap
    assert(rows(1L) === ((Some(1.0 - 2.0 / 5), Some(0.5), Some(1.0 - 2.0 / 3))))
    assert(rows(2L) === ((Some(0.0), Some(0.0), Some(0.0))))
    assert(rows(3L)._3 === None, "shorter than n yields null, not an error")
  }

  test("quantizeInt8 maps the max component to ±127 and bounds error by scale/2") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f, 0.0f)),
      (2L, Array(0.0f, 0.0f)),                        // zero vector: dropped
      (3L, Array(Float.NaN, 1.0f)),                   // NaN: dropped, not a job-killing cast
      (4L, Array(Float.PositiveInfinity, 1.0f)),      // Inf: maxabs=Inf → x/scale=NaN → dropped
      (5L, Array(Float.NegativeInfinity, 1.0f))
    ).toDF("vid", "vec")
    val out = Similarity.quantizeInt8(corpus, "vid", "vec")
    val rows = out.select($"vid", $"scale", $"q_emb", $"n_clipped")
      .as[(Long, Double, Seq[Int], Long)].collect()
    assert(rows.map(_._1).toSet === Set(1L))
    val (_, scale, q, nClipped) = rows.head
    assert(q === Seq(64, -127, 32, 0)) // 0.5/(1/127)+0.5 → 64.0; -127 exact
    assert(nClipped === 1L)
    // reconstruction error ≤ scale/2 per component
    val orig = Seq(0.5, -1.0, 0.25, 0.0)
    q.zip(orig).foreach { case (qi, x) =>
      assert(math.abs(qi * scale - x) <= scale / 2 + 1e-12)
    }
  }

  test("quantizeInt8 round trip: kNN over reconstructed vectors keeps high recall vs float") {
    import spark.implicits._
    val corpus = spark.read.parquet(s"$sf/embeddings.parquet")
    val probes = corpus.filter($"vec_id" % 50 === 0)
    val k = 5
    val exact = Similarity.cosineKnn(corpus, probes, "vec_id", "embedding", k)
      .select($"probe_id", $"cand_id").as[(Long, Long)].collect().toSet
    // reconstruct float vectors from the int8 codes and rerun the same kNN
    val recon = Similarity.quantizeInt8(corpus, "vec_id", "embedding")
      .select($"vec_id",
        expr("transform(q_emb, q -> CAST(q * scale AS FLOAT))").as("embedding"))
    val probesR = recon.join(probes.select($"vec_id"), "vec_id")
    val quantized = Similarity.cosineKnn(recon, probesR, "vec_id", "embedding", k)
      .select($"probe_id", $"cand_id").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    val recall = (exact intersect quantized).size.toDouble / exact.size
    info(f"int8-reconstructed kNN recall@$k vs float at sf0.001: $recall%.3f")
    assert(recall >= 0.9, f"int8 quantization degraded kNN recall to $recall%.3f")
  }

  test("quantizedKnn searches in the int8 domain with high recall vs the float kNN") {
    import spark.implicits._
    val corpus = spark.read.parquet(s"$sf/embeddings.parquet")
    val probes = corpus.filter($"vec_id" % 50 === 0)
    val k = 5
    val exact = Similarity.cosineKnn(corpus, probes, "vec_id", "embedding", k)
      .select($"probe_id", $"cand_id").as[(Long, Long)].collect().toSet
    val quantized = Similarity.quantizedKnn(corpus, probes, "vec_id", "embedding", k)
      .select($"probe_id", $"cand_id").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    val recall = (exact intersect quantized).size.toDouble / exact.size
    info(f"int8-domain kNN recall@$k vs float at sf0.001: $recall%.3f")
    assert(recall >= 0.9, f"quantized-domain kNN degraded recall to $recall%.3f")
  }

  test("ivfKnnProbed: recall grows with nprobe and reaches exact at nprobe = |cells|") {
    import spark.implicits._
    val corpus = spark.read.parquet(s"$sf/embeddings.parquet")
    val centroids = corpus.filter($"vec_id" < 16)
    val assigned = Similarity.ivfAssign(corpus, centroids, "vec_id", "embedding")
    val probeF = $"vec_id" % 40 === 0
    val k = 5
    val exact = Similarity.cosineKnn(corpus, corpus.filter(probeF), "vec_id", "embedding", k)
      .select($"probe_id", $"cand_id").as[(Long, Long)].collect().toSet
    def recallAt(nprobe: Int): Double = {
      val got = Similarity.ivfKnnProbed(assigned, centroids, probeF,
          "vec_id", "embedding", k, nprobe)
        .select($"probe_id", $"cand_id").as[(Long, Long)].collect().toSet
      (exact intersect got).size.toDouble / exact.size
    }
    val (r1, r4, rAll) = (recallAt(1), recallAt(4), recallAt(16))
    info(f"IVF recall@$k: nprobe=1 $r1%.3f, nprobe=4 $r4%.3f, nprobe=16 $rAll%.3f")
    assert(r4 >= r1, "more probed cells must never lose recall")
    assert(rAll === 1.0, "probing every cell IS the exact search")
  }

  test("the full ANN loop composes: kmeansIterate centroids feed ivfAssign + ivfKnnProbed") {
    import spark.implicits._
    val corpus = spark.read.parquet(s"$sf/embeddings.parquet")
    val probeF = $"vec_id" % 40 === 0
    val k = 5
    val exact = Similarity.cosineKnn(corpus, corpus.filter(probeF), "vec_id", "embedding", k)
      .select($"probe_id", $"cand_id").as[(Long, Long)].collect().toSet
    // learned centroids (3 Lloyd rounds) become the IVF coarse quantizer —
    // the float corpus dots against double centroids with no cast pass
    val learned = Similarity.kmeansIterate(corpus, "vec_id", "embedding", k = 16, iters = 3)
      .select($"cluster".as("vec_id"), $"centroid".as("embedding"))
    val assigned = Similarity.ivfAssign(corpus, learned, "vec_id", "embedding")
    assert(assigned.count() === corpus.count(), "every corpus vector lands in a learned cell")
    val got = Similarity.ivfKnnProbed(assigned, learned, probeF,
        "vec_id", "embedding", k, nprobe = 4)
      .select($"probe_id", $"cand_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect got).size.toDouble / exact.size
    // seed-row centroids at the same nprobe, for comparison
    val seedCents = corpus.filter($"vec_id" < 16)
    val seedAssigned = Similarity.ivfAssign(corpus, seedCents, "vec_id", "embedding")
    val seedGot = Similarity.ivfKnnProbed(seedAssigned, seedCents, probeF,
        "vec_id", "embedding", k, nprobe = 4)
      .select($"probe_id", $"cand_id").as[(Long, Long)].collect().toSet
    val seedRecall = (exact intersect seedGot).size.toDouble / exact.size
    info(f"IVF recall@$k nprobe=4: learned centroids $recall%.3f vs seed rows $seedRecall%.3f")
    assert(recall > 0.0)
    assert(recall >= seedRecall - 0.05,
      "learned centroids must not be materially worse than arbitrary seed rows")
  }

  test("kmeansIterate converges on synthetic blobs and recovers the planted centers") {
    import spark.implicits._
    // three well-separated direction blobs in 4-d (cosine assignment —
    // what matters is direction, not magnitude); jitter is deterministic
    val centers = Seq(
      Array(1.0f, 0.0f, 0.0f, 0.1f),
      Array(0.0f, 1.0f, 0.0f, 0.1f),
      Array(0.0f, 0.0f, 1.0f, 0.1f))
    val pts = (0 until 300).map { i =>
      val c = centers(i % 3)
      val eps = 0.02f * ((i * 37 % 11) - 5) // deterministic jitter in [-0.1, 0.1]
      (i.toLong, c.map(_ + eps))
    }
    val corpus = pts.toDF("id", "emb")
    val out = Similarity.kmeansIterate(corpus, "id", "emb", k = 3, iters = 5)
      .select($"cluster", $"centroid", $"n")
      .as[(Long, Seq[Double], Long)].collect()
    assert(out.length === 3, s"expected 3 surviving clusters, got ${out.length}")
    assert(out.map(_._3).sum === 300L, "every point assigned each round")
    // each planted direction is recovered by exactly one centroid
    // (cosine to the nearest learned centroid > 0.99)
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val matches = centers.map { c =>
      out.map(o => cos(o._2, c.map(_.toDouble))).max
    }
    matches.foreach(m => assert(m > 0.99, s"planted center not recovered: best cos $m"))
    // and the learned centroids are distinct directions
    val pairSims = for (i <- out.indices; j <- out.indices if i < j)
      yield cos(out(i)._2, out(j)._2)
    pairSims.foreach(s => assert(s < 0.9, s"centroids collapsed: cos $s"))
  }

  test("redactPii redacts PII shapes but leaves benign numeric text un-collapsed") {
    import spark.implicits._
    val rows = Seq(
      (1L, "write to jo.doe+x@mail.example.org today"),
      (2L, "server at 192.168.0.1 rebooted"),
      (3L, "call (555) 123-4567 or +4915712345678 now"),
      (4L, "scores were 10 20 30 40 and years 2020 2021 2022"), // benign: must stay per-number
      (5L, "version 1.2.3 build 99")
    ).toDF("id", "t").select($"id", graft.api.Text.redactPii($"t").as("r"))
      .as[(Long, String)].collect().toMap
    assert(rows(1L) === "write to <EMAIL> today")
    assert(rows(2L) === "server at <IP> rebooted")
    assert(rows(3L) === "call <PHONE> or <PHONE> now")
    // the old unbounded phone class collapsed all of this into one <PHONE>
    assert(rows(4L) === "scores were <NUM> <NUM> <NUM> <NUM> and years <NUM> <NUM> <NUM>")
    assert(rows(5L) === "version <NUM>.<NUM>.<NUM> build <NUM>")
  }

  test("sequencePacking computes offsets, windows, and boundary straddles per shard") {
    import spark.implicits._
    // shard A: 6 + 3 + 4 tokens with an 8-token window → doc 2 starts at
    // 6 and spans the 8-token boundary; doc 3 starts at 9 inside window 1
    val docs = Seq(
      ("A", 1L, "a b c d e f"),
      ("A", 2L, "g h i"),
      ("A", 3L, "j k l m"),
      ("B", 4L, "x y")
    ).toDF("src", "doc_id", "body")
    val out = graft.api.Text.sequencePacking(docs, "src", "doc_id", "body", windowTokens = 8)
      .select($"doc_id", $"n_tokens", $"start_off", $"bin", $"spans_boundary")
      .as[(Long, Long, Long, Long, Boolean)].collect().map(t => t._1 -> t).toMap
    assert(out(1L) === ((1L, 6L, 0L, 0L, false)))
    assert(out(2L) === ((2L, 3L, 6L, 0L, true)), "6+3 tokens straddle the 8-boundary")
    assert(out(3L) === ((3L, 4L, 9L, 1L, false)))
    assert(out(4L) === ((4L, 2L, 0L, 0L, false)), "shards pack independently")
  }

  test("canonicalPerCluster keeps the best-scored member per cluster, ties to lowest id") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val components = Dedup.clusterComponents(pairs)
    val scored = Seq(
      (1L, 0.2), (2L, 0.9), (3L, 0.9),   // tie at 0.9 → id 2 wins
      (10L, 0.5), (11L, 0.8)
    ).toDF("doc_id", "quality")
    val out = Dedup.canonicalPerCluster(components, scored, "doc_id", "quality")
      .select($"keep_doc_id", $"best_quality", $"cluster_size", $"n_dropped")
      .as[(Long, Double, Long, Long)].collect().map(t => t._1 -> t).toMap
    assert(out.keySet === Set(2L, 11L))
    assert(out(2L) === ((2L, 0.9, 3L, 2L)))
    assert(out(11L) === ((11L, 0.8, 2L, 1L)))
  }

  test("scoreQuotaCap keeps each group's k best by score, ties to lowest id") {
    import spark.implicits._
    val rows = Seq(
      ("a", 1L, 0.9), ("a", 2L, 0.7), ("a", 3L, 0.9), ("a", 4L, 0.1),
      ("b", 5L, 0.5) // under quota: kept whole
    ).toDF("source", "doc_id", "quality")
    val out = Sampling.scoreQuotaCap(rows, "source", "quality", "doc_id", 2)
      .select($"source", $"doc_id", $"quota_rank")
      .as[(String, Long, Long)].collect().toSet
    // tie at 0.9 → id 1 ranks before id 3; 0.7 and 0.1 cut
    assert(out === Set(("a", 1L, 1L), ("a", 3L, 2L), ("b", 5L, 1L)))
  }

  test("count-min sketch: overestimates only, bounded error, merge == rebuild") {
    import spark.implicits._
    // zipf-ish skew: key k appears 600/k times, k = 1..40
    val rows = (1 to 40).flatMap(k => Seq.fill(600 / k)(s"key_$k"))
    val df = rows.toDF("tok")
    val (depth, width) = (4, 512)
    val sketch = Stats.cmsBuild(df, "tok", depth, width)
    val exact = rows.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val keys = exact.keys.toSeq.toDF("tok")
    val est = Stats.cmsLookup(sketch, keys, "tok", depth, width)
      .as[(String, Long)].collect().toMap
    val n = rows.size.toLong
    exact.foreach { case (k, c) =>
      assert(est(k) >= c, s"CMS must never under-count: $k")
      assert(est(k) - c <= math.ceil(math.E / width * n).toLong * 3,
        s"error way past the (e/width)N bound for $k: est=${est(k)} exact=$c")
    }
    // merge of two half-sketches is counter-identical to one build
    val (h1, h2) = (rows.take(rows.size / 2), rows.drop(rows.size / 2))
    val merged = Stats.cmsMerge(
        Stats.cmsBuild(h1.toDF("tok"), "tok", depth, width),
        Stats.cmsBuild(h2.toDF("tok"), "tok", depth, width))
      .as[(Int, Long, Long)].collect().toSet
    val whole = sketch.as[(Int, Long, Long)].collect().toSet
    assert(merged === whole)
  }

  test("l2Normalize yields unit vectors and drops zero/NaN rows") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Array(3.0f, 4.0f)),
      (2L, Array(0.0f, 0.0f)),
      (3L, Array(Float.NaN, 1.0f))
    ).toDF("vid", "vec")
    val out = Similarity.l2Normalize(corpus, "vid", "vec")
      .select($"vid", $"norm", $"unit").as[(Long, Double, Seq[Double])].collect()
    assert(out.map(_._1).toSet === Set(1L))
    val (_, norm, unit) = out.head
    assert(norm === 5.0)
    assert(unit === Seq(0.6, 0.8))
    assert(math.abs(unit.map(x => x * x).sum - 1.0) < 1e-12)
  }

  test("mixtureSample hits the target fraction and up-weights small sources") {
    import spark.implicits._
    // two sources, 9:1 — alpha=0.5 temperature should keep a LARGER
    // fraction of the small source than of the big one
    val docs = (0L until 1000L).map(i => (i, if (i < 900) "big" else "small"))
      .toDF("id", "src")
    val kept = Sampling.mixtureSample(docs, "src", "id", alpha = 0.5, targetFraction = 0.3)
    val n = kept.count()
    assert(math.abs(n - 300.0) / 300.0 < 0.2, s"kept $n of target 300")
    val bySrc = kept.groupBy($"src").count().as[(String, Long)].collect().toMap
    val fracBig = bySrc("big") / 900.0
    val fracSmall = bySrc("small") / 100.0
    info(f"keep rates: big $fracBig%.3f small $fracSmall%.3f")
    assert(fracSmall > fracBig, "temperature sampling must up-weight the small source")
    // deterministic: identical rows on a second run
    val again = Sampling.mixtureSample(docs, "src", "id", alpha = 0.5, targetFraction = 0.3)
    assert(kept.select($"id").as[Long].collect().sorted ===
      again.select($"id").as[Long].collect().sorted)
    // huge and negative ids: the split mulmod must not overflow ANSI
    // arithmetic (a naive id*K dies at id ~ 3.5e9) and u stays in [0, 1)
    val extremes = Seq(Long.MaxValue, Long.MaxValue - 7, 4294967296L, -5L, -Long.MaxValue)
      .zipWithIndex.map { case (id, i) => (id, s"s${i % 2}") }.toDF("id", "src")
    // targetFraction = 2 forces keep_prob = 1 in every group, so the
    // count assertion is guaranteed, not dependent on where u lands
    val eKept = Sampling.mixtureSample(extremes, "src", "id", alpha = 0.5, targetFraction = 2.0)
    assert(eKept.count() === 5, "saturated keep_prob keeps everything, at any id magnitude")
    val us = eKept.select($"u").as[Double].collect()
    us.foreach(u => assert(u >= 0.0 && u < 1.0))
  }

  test("epochShuffle: reproducible permutation per epoch, reshuffled across epochs, shards stable") {
    import spark.implicits._
    val df = (0L until 64L).toDF("id")
    def run(epoch: Int) = Sampling.epochShuffle(df, "id", epoch, shards = 4)
      .select($"shard", $"pos", $"id").as[(Long, Long, Long)].collect().sorted.toSeq
    val a, b = run(3)
    assert(a === b, "same epoch → identical order on re-run")
    val c = run(4)
    assert(a !== c, "different epoch → different permutation")
    assert(a.map(t => t._3 -> t._1).toMap === c.map(t => t._3 -> t._1).toMap,
      "shard assignment is epoch-independent (stable file layout)")
    // every shard is a complete 1..n_shard permutation
    a.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted === (1L to rows.size.toLong))
    }
  }

  test("Text API column builders compute expected features") {
    import spark.implicits._
    val df = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "zebra quux flarp")
    ).toDF("id", "body")
      .select($"id",
        Text.tokenCount($"body").as("nt"),
        Text.uniqueTokenCount($"body").as("nu"),
        Text.stopwordCount($"body").as("ns"),
        Text.langIdPredict($"body").as("lang"),
        Text.normalizedFingerprint($"body").as("fp"))
    val rows = df.collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    assert(rows(1L) === ((6L, 5L, 2L, "en"))) // 'the' twice, 'on' not a stopword
    assert(rows(2L) === ((3L, 3L, 0L, "other")))
    // fingerprint normalizes whitespace runs and case
    val fps = Seq("A  b", "a b").toDF("t")
      .select(Text.normalizedFingerprint($"t")).distinct().count()
    assert(fps === 1)

    val tfidf = Text.tfidf(
      Seq((1L, "alpha beta alpha"), (2L, "alpha gamma")).toDF("id", "body"),
      "id", "body", probeFilter = $"id" === 1L, minTokenLen = 4)
    val byTok = tfidf.select($"tok", $"tf", $"df").as[(String, Long, Long)]
      .collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(byTok("alpha") === ((2L, 2L))) // tf counts occurrences, df counts docs
    assert(byTok("beta") === ((1L, 1L)))
    assert(!byTok.contains("gamma")) // not in probe doc
  }

  test("persisted IVF index: search matches in-memory ivfKnnProbed and the scan partition-prunes") {
    import spark.implicits._
    val corpus = spark.read.parquet(s"$sf/embeddings.parquet")
    val cents = corpus.filter($"vec_id" < 8) // 8 coarse cells
    val dir = java.nio.file.Files.createTempDirectory("ivf_idx").toString
    Similarity.writeIvfIndex(corpus, cents, "vec_id", "embedding", dir)

    // cells/ is physically partitioned by cluster id
    val cellDirs = new java.io.File(s"${graft.api.GenDir.currentOrFail(spark, dir)}/cells").listFiles()
      .filter(_.getName.startsWith("cluster=")).map(_.getName).toSet
    assert(cellDirs.nonEmpty && cellDirs.size <= 8)

    val probes = corpus.filter($"vec_id" >= 100 && $"vec_id" < 105)
      .select($"vec_id", $"embedding")
    val fromIndex = Similarity.searchIvfIndex(spark, dir, probes,
      "vec_id", "embedding", k = 5, nprobe = 2)
    val inMemory = Similarity.ivfKnnProbed(
      Similarity.ivfAssign(corpus, cents, "vec_id", "embedding"), cents,
      $"vec_id" >= 100 && $"vec_id" < 105, "vec_id", "embedding", k = 5, nprobe = 2)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select($"probe_id".cast("long"), $"rn", $"cand_id".cast("long"),
        round($"sim", 9)).as[(Long, Long, Long, Double)].collect().toSet
    assert(key(fromIndex) === key(inMemory))

    // the probed search must reach the files through partition pruning:
    // the cells scan carries a runtime partition filter on the cluster
    // column (dynamic partition pruning off the broadcast probe side)
    val plan = fromIndex.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    // strict: the join's static isnotnull partition filter appears with
    // or without DPP, so only the runtime dynamicpruning expression
    // proves the probed-cells restriction reaches the scan
    assert(plan.contains("dynamicpruning"),
      s"index search must partition-prune the cells scan:\n$plan")
  }

  test("IVF index maintenance: append equals a rebuilt index; drift report flags a shifted batch") {
    import spark.implicits._
    val corpus = spark.read.parquet(s"$sf/embeddings.parquet")
    val base = corpus.filter($"vec_id" % 2 === 0)
    val batch = corpus.filter($"vec_id" % 2 =!= 0)
    val cents = corpus.filter($"vec_id" < 8)
    val dirInc = java.nio.file.Files.createTempDirectory("ivf_inc").toString
    val dirFull = java.nio.file.Files.createTempDirectory("ivf_full").toString

    Similarity.writeIvfIndex(base, cents, "vec_id", "embedding", dirInc)
    Similarity.appendToIvfIndex(batch, "vec_id", "embedding", dirInc)
    Similarity.writeIvfIndex(corpus, cents, "vec_id", "embedding", dirFull)

    val probes = corpus.filter($"vec_id" >= 100 && $"vec_id" < 105)
      .select($"vec_id", $"embedding")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select($"probe_id".cast("long"), $"rn", $"cand_id".cast("long"),
        round($"sim", 9)).as[(Long, Long, Long, Double)].collect().toSet
    // nprobe = |cells|: the incrementally-built index must answer
    // EXACTLY like an index rebuilt from scratch over base ∪ batch
    val inc = Similarity.searchIvfIndex(spark, dirInc, probes,
      "vec_id", "embedding", k = 5, nprobe = 8)
    val full = Similarity.searchIvfIndex(spark, dirFull, probes,
      "vec_id", "embedding", k = 5, nprobe = 8)
    assert(key(inc) === key(full),
      "search-after-append must equal the rebuilt index")

    // drift needs a corpus with real cluster structure (on the
    // random-ish test embeddings every batch is equally incoherent, so
    // there is nothing to drop): plant 3 tight blobs, train the index on
    // them, then append batches that do and don't belong
    val centers = Seq(
      Array(1.0f, 0f, 0f, 0f, 0.1f, 0f, 0f, 0f),
      Array(0f, 1.0f, 0f, 0f, 0f, 0.1f, 0f, 0f),
      Array(0f, 0f, 1.0f, 0f, 0f, 0f, 0.1f, 0f))
    def blob(ids: Range) = ids.map { i =>
      val c = centers(i % 3)
      (i.toLong, c.zipWithIndex.map { case (v, d) =>
        v + 0.01f * (((i * 31 + d * 7) % 11) - 5)
      })
    }.toDF("vec_id", "embedding")
    val blobCents = centers.zipWithIndex
      .map { case (c, i) => (i.toLong, c) }.toDF("vec_id", "embedding")
    val dirBlob = java.nio.file.Files.createTempDirectory("ivf_drift").toString
    Similarity.writeIvfIndex(blob(0 until 90), blobCents, "vec_id", "embedding", dirBlob)

    def maxDrift(path: String): Double =
      Similarity.ivfDriftReport(spark, path)
        .filter($"n_appended" > 0 && !isnan($"drift"))
        .agg(max(abs($"drift"))).head().getDouble(0)

    // IN-DISTRIBUTION append: more blob members — coherence barely moves
    Similarity.appendToIvfIndex(blob(90 until 140), "vec_id", "embedding", dirBlob)
    val calmDrift = maxDrift(dirBlob)
    assert(calmDrift < 0.05, s"in-distribution append must not drift: $calmDrift")

    // OFF-MANIFOLD append: alternating-sign vectors decorrelated from
    // every center — the appended coherence collapses and the report
    // flags it (this is the "re-run kmeansIterate" signal)
    val shifted = (1000 until 1100).map { i =>
      (i.toLong, Array.tabulate(8)(d =>
        (if (d % 2 == 0) 1.0f else -1.0f) * (1f + 0.01f * ((i + d) % 7))))
    }.toDF("vec_id", "embedding")
    Similarity.appendToIvfIndex(shifted, "vec_id", "embedding", dirBlob)
    val shiftedDrift = maxDrift(dirBlob)
    assert(shiftedDrift > calmDrift + 0.3,
      s"shifted batch must raise drift: calm=$calmDrift shifted=$shiftedDrift")
    // and the report's volume column sees the appended fraction
    val fr = Similarity.ivfDriftReport(spark, dirBlob)
      .agg(max($"frac_appended")).head().getDouble(0)
    assert(fr > 0.0 && fr < 1.0)
  }

  test("quantized IVF index maintenance: append equals a rebuilt quantized index") {
    import spark.implicits._
    val corpus = spark.read.parquet(s"$sf/embeddings.parquet")
    val base = corpus.filter($"vec_id" % 2 === 0)
    val batch = corpus.filter($"vec_id" % 2 =!= 0)
    val cents = corpus.filter($"vec_id" < 8)
    val dirInc = java.nio.file.Files.createTempDirectory("qivf_inc").toString
    val dirFull = java.nio.file.Files.createTempDirectory("qivf_full").toString
    Similarity.writeQuantizedIvfIndex(base, cents, "vec_id", "embedding", dirInc)
    Similarity.appendToQuantizedIvfIndex(batch, "vec_id", "embedding", dirInc)
    Similarity.writeQuantizedIvfIndex(corpus, cents, "vec_id", "embedding", dirFull)
    val probes = corpus.filter($"vec_id" >= 200 && $"vec_id" < 205)
      .select($"vec_id", $"embedding")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select($"probe_id".cast("long"), $"rn", $"cand_id".cast("long"))
        .as[(Long, Long, Long)].collect().toSet
    val inc = Similarity.searchQuantizedIvfIndex(spark, dirInc, probes,
      "vec_id", "embedding", k = 5, nprobe = 8)
    val full = Similarity.searchQuantizedIvfIndex(spark, dirFull, probes,
      "vec_id", "embedding", k = 5, nprobe = 8)
    assert(key(inc) === key(full))
  }

  test("compactIvfCells: fewer files, bit-identical search, stats and centroids untouched (both layouts)") {
    import spark.implicits._
    val corpus = spark.read.parquet(s"$sf/embeddings.parquet")
    val cents = corpus.filter($"vec_id" < 8)
    val probes = corpus.filter($"vec_id" >= 100 && $"vec_id" < 105)
      .select($"vec_id", $"embedding")
    // float layout: base write + 3 appends → ≥4 files in busy cells
    val dirF = java.nio.file.Files.createTempDirectory("ivf_compact_f").toString
    Similarity.writeIvfIndex(
      corpus.filter($"vec_id" % 4 === 0), cents, "vec_id", "embedding", dirF)
    (1 to 3).foreach { r =>
      Similarity.appendToIvfIndex(
        corpus.filter($"vec_id" % 4 === r), "vec_id", "embedding", dirF)
    }
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select($"probe_id".cast("long"), $"rn", $"cand_id".cast("long"), $"sim")
        .as[(Long, Long, Long, Double)].collect().toSet
    def gF() = graft.api.GenDir.currentOrFail(spark, dirF)
    val statsBefore = spark.read.parquet(s"${gF()}/stats")
      .as[(Long, Long, Double, Boolean)].collect().toSet
    val centsBefore = spark.read.parquet(s"${gF()}/centroids")
      .select($"vec_id").as[Long].collect().toSet
    // nprobe = |cells|: every row participates, so parity is exhaustive
    val before = key(Similarity.searchIvfIndex(spark, dirF, probes,
      "vec_id", "embedding", k = 5, nprobe = 8))
    val (nBefore, nAfter) = Similarity.compactIvfCells(spark, dirF)
    assert(nAfter < nBefore,
      s"compaction must reduce the file count: $nBefore -> $nAfter")
    val after = key(Similarity.searchIvfIndex(spark, dirF, probes,
      "vec_id", "embedding", k = 5, nprobe = 8))
    assert(after === before, "search must be bit-identical across compaction")
    assert(spark.read.parquet(s"${gF()}/stats")
      .as[(Long, Long, Double, Boolean)].collect().toSet === statsBefore,
      "compaction must not rewrite the stats table (drift history survives)")
    assert(spark.read.parquet(s"${gF()}/centroids")
      .select($"vec_id").as[Long].collect().toSet === centsBefore)

    // quantized layout: same contract, payload-agnostic rewrite
    val dirQ = java.nio.file.Files.createTempDirectory("ivf_compact_q").toString
    Similarity.writeQuantizedIvfIndex(
      corpus.filter($"vec_id" % 4 === 0), cents, "vec_id", "embedding", dirQ)
    (1 to 3).foreach { r =>
      Similarity.appendToQuantizedIvfIndex(
        corpus.filter($"vec_id" % 4 === r), "vec_id", "embedding", dirQ)
    }
    val qBefore = key(Similarity.searchQuantizedIvfIndex(spark, dirQ, probes,
      "vec_id", "embedding", k = 5, nprobe = 8))
    val (qn0, qn1) = Similarity.compactIvfCells(spark, dirQ)
    assert(qn1 < qn0, s"quantized compaction must reduce files: $qn0 -> $qn1")
    assert(key(Similarity.searchQuantizedIvfIndex(spark, dirQ, probes,
      "vec_id", "embedding", k = 5, nprobe = 8)) === qBefore)
    // int8 payload schema survives the rewrite untouched
    val qSchema = spark.read.parquet(
      s"${graft.api.GenDir.currentOrFail(spark, dirQ)}/cells").schema
    assert(qSchema.fieldNames.contains("q_emb") && qSchema.fieldNames.contains("qnorm"))
  }

  test("maintainIvfIndex: calm index stands; drifted appends trip the threshold and rebuild the right layout") {
    import spark.implicits._
    val centers = Seq(
      Array(1.0f, 0f, 0f, 0f, 0.1f, 0f, 0f, 0f),
      Array(0f, 1.0f, 0f, 0f, 0f, 0.1f, 0f, 0f),
      Array(0f, 0f, 1.0f, 0f, 0f, 0f, 0.1f, 0f))
    def blob(ids: Range) = ids.map { i =>
      val c = centers(i % 3)
      (i.toLong, c.zipWithIndex.map { case (v, d) =>
        v + 0.01f * (((i * 31 + d * 7) % 11) - 5)
      })
    }.toDF("vec_id", "embedding")
    val blobCents = centers.zipWithIndex
      .map { case (c, i) => (i.toLong, c) }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivf_maintain").toString
    Similarity.writeQuantizedIvfIndex(blob(0 until 90), blobCents,
      "vec_id", "embedding", dir)

    // in-distribution append: below both thresholds, nothing rebuilds
    Similarity.appendToQuantizedIvfIndex(blob(90 until 140), "vec_id", "embedding", dir)
    val calmCorpus = blob(0 until 140)
    assert(!Similarity.maintainIvfIndex(spark, calmCorpus, "vec_id", "embedding",
        dir, driftThreshold = 0.2, k = 3, iters = 2),
      "an in-distribution append must not trigger a rebuild")
    assert(spark.read.parquet(s"${graft.api.GenDir.currentOrFail(spark, dir)}/stats").filter(!$"is_base").count() > 0,
      "a declined rebuild must leave the appended stats history in place")

    // off-manifold append: coherence collapses → weighted drift trips
    val shifted = (1000 until 1100).map { i =>
      (i.toLong, Array.tabulate(8)(d =>
        (if (d % 2 == 0) 1.0f else -1.0f) * (1f + 0.01f * ((i + d) % 7))))
    }.toDF("vec_id", "embedding")
    Similarity.appendToQuantizedIvfIndex(shifted, "vec_id", "embedding", dir)
    val fullCorpus = calmCorpus.union(shifted)
    assert(Similarity.maintainIvfIndex(spark, fullCorpus, "vec_id", "embedding",
        dir, driftThreshold = 0.2, k = 4, iters = 3),
      "a drifted append history must trigger the rebuild")
    // the rebuild kept the quantized layout, retrained to k cells, and
    // reset the stats baseline (no appended rows remain)
    val cellSchema = spark.read.parquet(s"${graft.api.GenDir.currentOrFail(spark, dir)}/cells").schema
    assert(cellSchema.fieldNames.contains("q_emb"),
      "rebuild must preserve the int8 layout")
    // k=4 seeds may collapse to fewer cells (an emptied seed cluster
    // drops out of the kmeansStep aggregate) — at least the 3 genuine
    // blob directions plus-or-minus the shifted mass must survive
    assert(spark.read.parquet(s"${graft.api.GenDir.currentOrFail(spark, dir)}/centroids").count() >= 3)
    assert(spark.read.parquet(s"${graft.api.GenDir.currentOrFail(spark, dir)}/stats").filter(!$"is_base").count() === 0,
      "rebuild must reset the drift baseline")
    // post-rebuild the shifted direction has its own coherent cell:
    // searching it at nprobe=1 must surface shifted members (the stale
    // quantizer had no cell pointing that way)
    val probe = Seq((9999L, Array.tabulate(8)(d => if (d % 2 == 0) 1.0f else -1.0f)))
      .toDF("vec_id", "embedding")
    val hits = Similarity.searchQuantizedIvfIndex(spark, dir, probe,
        "vec_id", "embedding", k = 5, nprobe = 1)
      .select($"cand_id".cast("long")).as[Long].collect().toSet
    assert(hits.nonEmpty && hits.forall(_ >= 1000L),
      s"the retrained quantizer must give the shifted mass its own cell: $hits")
    // and a fresh maintain call right after the rebuild is a no-op
    assert(!Similarity.maintainIvfIndex(spark, fullCorpus, "vec_id", "embedding",
      dir, driftThreshold = 0.2, k = 4, iters = 2))
  }

  test("quantized IVF index: all-cell search equals quantizedKnn exactly; probed search prunes and keeps recall") {
    import spark.implicits._
    val corpus = spark.read.parquet(s"$sf/embeddings.parquet")
    val cents = corpus.filter($"vec_id" < 8)
    val dir = java.nio.file.Files.createTempDirectory("qivf_idx").toString
    Similarity.writeQuantizedIvfIndex(corpus, cents, "vec_id", "embedding", dir)
    // stored payloads are int8 codes + precomputed integer norms
    val cellSchema = spark.read.parquet(s"${graft.api.GenDir.currentOrFail(spark, dir)}/cells").schema
    assert(cellSchema("q_emb").dataType.simpleString === "array<int>")
    assert(cellSchema.fieldNames.contains("qnorm"))

    val probes = corpus.filter($"vec_id" >= 200 && $"vec_id" < 205)
      .select($"vec_id", $"embedding")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select($"probe_id".cast("long"), $"rn", $"cand_id".cast("long"))
        .as[(Long, Long, Long)].collect().toSet

    // nprobe = |cells|: identical to the brute quantized kNN (same
    // integer scoring, same drop rules) restricted to non-probe cands
    val allCells = Similarity.searchQuantizedIvfIndex(spark, dir, probes,
      "vec_id", "embedding", k = 5, nprobe = 8)
    val brute = Similarity.quantizedKnn(corpus, probes, "vec_id", "embedding", k = 5)
    assert(key(allCells) === key(brute))

    // nprobe = 2: a subset of the brute results per probe (cell
    // restriction can only remove candidates), pruned at the scan
    val probed = Similarity.searchQuantizedIvfIndex(spark, dir, probes,
      "vec_id", "embedding", k = 5, nprobe = 2)
    val recall = key(probed).map(t => (t._1, t._3))
      .intersect(key(brute).map(t => (t._1, t._3))).size.toDouble /
      key(brute).size
    // measured 0.48 on this deterministic corpus with ARBITRARY low-id
    // seed centroids (not trained clusters) — the knob's floor; trained
    // centroids (kmeansIterate) and higher nprobe raise it, and the
    // nprobe=|cells| equality above is the exactness anchor
    assert(recall >= 0.4, s"2-of-8-cell recall too low: $recall")
    val plan = probed.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("dynamicpruning"),
      s"quantized index search must partition-prune:\n$plan")
  }

  test("chunkFixed: chunks tile the document, overlap by chunkChars - stride, reassemble exactly") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a" * 48),            // shorter than one chunk
      (2L, "abcdefghij" * 30),   // 300 chars -> exact multiple of stride
      (3L, "x" * 301),           // one char past a stride boundary
      (4L, null.asInstanceOf[String]),
      (5L, "")                   // empty: ceil(0/stride) = 0 chunks
    ).toDF("k", "body")
    val chunks = Text.chunkFixed(docs, "k", "body", chunkChars = 200, stride = 150)
      .select($"k", $"off", $"chunk").as[(Long, Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(t => (t._2, t._3)).toSeq).toMap
    assert(!chunks.contains(4L)) // null text dropped
    assert(!chunks.contains(5L)) // empty text -> zero chunks, no phantom md5("")
    assert(chunks(1L).map(_._2) === Seq("a" * 48))
    // 300 chars, stride 150: offsets 0 and 150; the first chunk reaches
    // 200 chars — 50 past the stride, the designed overlap
    assert(chunks(2L).map(_._1) === Seq(0L, 150L))
    assert(chunks(2L).head._2.length === 200)
    // 301 chars: offsets 0, 150, 300; last chunk is the single trailing char
    assert(chunks(3L).map(_._1) === Seq(0L, 150L, 300L))
    assert(chunks(3L).last._2 === "x")
    // every chunk is the original's exact substring at its offset, and the
    // stride-aligned prefixes reassemble the document byte-for-byte
    for ((id, cs) <- chunks) {
      val original = docs.filter($"k" === id).select($"body").as[String].head()
      cs.foreach { case (off, c) =>
        assert(c === original.substring(off.toInt,
          math.min(off.toInt + 200, original.length)))
      }
      assert(cs.map(_._2.take(150)).mkString === original)
    }
    // both column guards fail fast with the friendly message, not a raw
    // AnalysisException from deep inside the plan
    val missingText = intercept[IllegalArgumentException] {
      Text.chunkFixed(docs, "k", "nope", chunkChars = 200, stride = 150)
    }
    assert(missingText.getMessage.contains("textCol 'nope'"))
    val missingId = intercept[IllegalArgumentException] {
      Text.chunkFixed(docs, "nope", "body", chunkChars = 200, stride = 150)
    }
    assert(missingId.getMessage.contains("idCol 'nope'"))
  }

  test("blocklistHit is token-exact: no substring false positives, any hit blocks") {
    import spark.implicits._
    val df = Seq(
      (1L, "this build is slow today"),     // exact token hit
      (2L, "slowness is not the word slow"), // 'slowness' no, final 'slow' yes
      (3L, "errors everywhere"),             // 'errors' must NOT match 'error'
      (4L, "clean document")
    ).toDF("k", "body")
    val hits = df.select($"k", Text.blocklistHit($"body", Seq("slow", "error")).as("hit"))
      .as[(Long, Boolean)].collect().toMap
    assert(hits === Map(1L -> true, 2L -> true, 3L -> false, 4L -> false))
  }

  test("ivfNearDupPairs: subset of exact pairs, identical sims, measured recall") {
    import spark.implicits._
    val corpus = spark.read.parquet(s"$sf/embeddings.parquet")
    val exact = Similarity.nearDupPairs(corpus, "vec_id", "embedding", 0.45)
      .select($"id_a", $"id_b", $"sim").as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    val assigned = Similarity.ivfAssign(corpus,
      corpus.filter($"vec_id" < 16), "vec_id", "embedding")
    val blocked = Similarity.ivfNearDupPairs(assigned, "vec_id", "embedding", 0.45)
      .select($"id_a", $"id_b", $"sim").as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(blocked.nonEmpty)
    blocked.foreach { case (pair, s) =>
      assert(exact.contains(pair), s"blocked pair $pair absent from exact set")
      assert(exact(pair) === s, s"blocked sim differs for $pair")
    }
    val recall = blocked.size.toDouble / exact.size
    info(f"blocked near-dup recall vs exact at sf0.001: $recall%.3f (${blocked.size}/${exact.size})")
    assert(recall > 0.0)
  }

  test("perplexityBucket: exactQuantiles tercile calibration yields three ordered non-empty buckets") {
    import spark.implicits._
    // the offline CCNet calibration round-trip: score a reference corpus
    // (q116's unigram LM), fit tercile cutoffs with the scale-safe exact
    // quantile search, then bucket with the fitted constants
    val scores = graft.operators.TextOps.q116UnigramLogprob(spark, sf)
    val Seq(t1, t2) = graft.operators.Extended.exactQuantiles(
      scores, "avg_logp", Seq(1.0 / 3, 2.0 / 3))
    assert(t1 < t2)
    val buckets = scores
      .withColumn("bucket", Text.perplexityBucket($"avg_logp", headMin = t2, midMin = t1))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n"), min($"avg_logp").as("lo"), max($"avg_logp").as("hi"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    assert(buckets.keySet === Set("head", "middle", "tail"))
    assert(buckets("tail")._3 <= t1)
    assert(buckets("middle")._2 > t1 && buckets("middle")._3 <= t2)
    assert(buckets("head")._2 > t2)
    // tercile cutoffs put roughly a third in each bucket (ties shift boundaries)
    val n = scores.count()
    buckets.foreach { case (b, (c, _, _)) =>
      assert(c >= n / 6 && c <= n / 2, s"bucket $b holds $c of $n docs") }
  }

  test("semanticDedup: drops exactly the dominated ids, keeps every cluster minimum, report adds up") {
    import spark.implicits._
    val corpus = spark.read.parquet(s"$sf/embeddings.parquet")
    val assigned = Similarity.ivfAssign(corpus,
      corpus.filter($"vec_id" < 16), "vec_id", "embedding")
    val t = 0.45
    val kept = Similarity.semanticDedup(assigned, "vec_id", "embedding", t)
      .select($"vec_id").as[Long].collect().toSet
    val all = assigned.select($"vec_id", $"cluster")
      .as[(Long, Long)].collect()
    val dropped = Similarity.ivfNearDupPairs(assigned, "vec_id", "embedding", t)
      .select($"id_b").as[Long].collect().toSet
    assert(dropped.nonEmpty, "threshold should flag at least one near-dup at sf0.001")
    assert(kept === all.map(_._1).toSet -- dropped)
    // the lowest id of every cluster can never be a pair's right side
    val minPerCluster = all.groupBy(_._2).map { case (_, xs) => xs.map(_._1).min }.toSet
    assert(minPerCluster.subsetOf(kept))
    val rep = Similarity.semanticDedupReport(assigned, "vec_id", "embedding", t)
      .select($"cluster", $"n_vecs", $"n_dropped", $"n_kept")
      .as[(Long, Long, Long, Long)].collect()
    assert(rep.map(_._2).sum === all.length)
    assert(rep.map(_._4).sum === kept.size.toLong)
    rep.foreach { case (c, n, d, k) =>
      assert(n === d + k, s"cluster $c report rows don't add up") }
  }

  test("semanticDedupAgainst: admitted ∪ corpus-kept equals full semanticDedup when batch ids arrive last") {
    import spark.implicits._
    val all = spark.read.parquet(s"$sf/embeddings.parquet")
    val corpus = all.filter($"vec_id" < 300)
    val batch = all.filter($"vec_id" >= 300)
    val cents = corpus.filter($"vec_id" < 16)
    val t = 0.45
    val aCorpus = Similarity.ivfAssign(corpus, cents, "vec_id", "embedding")
    val aBatch = Similarity.ivfAssign(batch, cents, "vec_id", "embedding")
    val aAll = Similarity.ivfAssign(all, cents, "vec_id", "embedding")
    val admitted = Similarity.semanticDedupAgainst(aBatch, aCorpus,
      "vec_id", "embedding", t).select($"vec_id").as[Long].collect().toSet
    val corpusKept = Similarity.semanticDedup(aCorpus, "vec_id", "embedding", t)
      .select($"vec_id").as[Long].collect().toSet
    val fullKept = Similarity.semanticDedup(aAll, "vec_id", "embedding", t)
      .select($"vec_id").as[Long].collect().toSet
    assert(admitted.nonEmpty && admitted.size < batch.count())
    assert((admitted ++ corpusKept) === fullKept)
    // the report's totals agree with the admitted frame
    val rep = Similarity.semanticDedupAgainstReport(aBatch, aCorpus,
        "vec_id", "embedding", t)
      .agg(sum($"n_batch"), sum($"n_admitted"))
      .as[(Long, Long)].head()
    assert(rep._1 === batch.count())
    assert(rep._2 === admitted.size.toLong)
  }

  test("semanticDedupAgainstIvfIndex matches the in-memory incremental dedup via the stored quantizer") {
    import spark.implicits._
    val all = spark.read.parquet(s"$sf/embeddings.parquet")
    val corpus = all.filter($"vec_id" < 300)
    val batch = all.filter($"vec_id" >= 300)
    val cents = corpus.filter($"vec_id" < 16)
    val dir = java.nio.file.Files.createTempDirectory("ivf_semdedup").toString
    Similarity.writeIvfIndex(corpus, cents, "vec_id", "embedding", dir)
    val viaIndex = Similarity.semanticDedupAgainstIvfIndex(spark, dir, batch,
      "vec_id", "embedding", 0.45).select($"vec_id").as[Long].collect().toSet
    val aCorpus = Similarity.ivfAssign(corpus, cents, "vec_id", "embedding")
    val aBatch = Similarity.ivfAssign(batch, cents, "vec_id", "embedding")
    val inMemory = Similarity.semanticDedupAgainst(aBatch, aCorpus,
      "vec_id", "embedding", 0.45).select($"vec_id").as[Long].collect().toSet
    assert(viaIndex === inMemory)
    assert(viaIndex.nonEmpty)
  }

  test("PQ: trained codebooks beat the pseudo-codebook; ADC search recalls exact cosine neighbors") {
    import spark.implicits._
    val corpus = spark.read.parquet(s"$sf/embeddings.parquet")
    val m = 8
    val pseudo = Similarity.pqCodebookFromIds(corpus, "vec_id", "embedding", m, k = 16)
    val trained = Similarity.pqTrainCodebooks(corpus, "vec_id", "embedding", m, k = 16, iters = 3)
    def meanDist(cb: org.apache.spark.sql.DataFrame): Double =
      Similarity.pqEncodeDetailed(corpus, cb, "vec_id", "embedding", m)
        .agg(avg($"dist2")).as[Double].head()
    val (dp, dt) = (meanDist(pseudo), meanDist(trained))
    info(f"PQ mean reconstruction dist2: pseudo $dp%.4f, trained $dt%.4f")
    assert(dt < dp, "subspace k-means must reduce reconstruction error")
    // every vector gets exactly m in-range codes
    val codes = Similarity.pqEncode(corpus, trained, "vec_id", "embedding", m)
    assert(codes.filter(size($"codes") =!= m).count() === 0)
    assert(codes.count() === corpus.count())
    // measured recall on the harness embeddings (geometry-free random
    // vectors — labels carry no cosine signal, so 4-byte codes retain
    // little ranking power; reported, not asserted, to document the
    // hard-data behavior honestly)
    val unit = Similarity.l2Normalize(corpus, "vec_id", "embedding")
      .select($"vec_id", $"unit".as("embedding"))
    val ucb = Similarity.pqTrainCodebooks(unit, "vec_id", "embedding", m, k = 16, iters = 3)
    val det = Similarity.pqEncodeDetailed(unit, ucb, "vec_id", "embedding", m)
    def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select($"probe_id", $"cand_id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).toSet }
    def recallOf(adc: Map[Long, Set[Long]], exact: Map[Long, Set[Long]]): Double =
      exact.keys.map { p =>
        (adc.getOrElse(p, Set.empty) & exact(p)).size.toDouble / exact(p).size
      }.sum / exact.size
    val hardRecall = recallOf(
      topSets(Similarity.pqSearchAdc(det, ucb, unit.filter($"vec_id" < 10),
        "vec_id", "embedding", m, kNbrs = 10)),
      topSets(Similarity.cosineKnn(corpus, corpus.filter($"vec_id" < 10),
        "vec_id", "embedding", k = 10)))
    info(f"PQ ADC recall@10 on geometry-free harness embeddings: $hardRecall%.3f")
    assert(hardRecall > 0.0)

    // correctness assertion on CLUSTERED data, where ADC must rank like
    // the exact search: 3 separated blobs in 64-dim, deterministic jitter
    val blobs = (0 until 120).map { i =>
      val c = i % 3
      val emb = Array.tabulate(64) { j =>
        val base = if (j % 3 == c) 1.0f else 0.0f
        base + 0.05f * (((i * 31 + j * 7) % 11) - 5)
      }
      (i.toLong, emb)
    }.toDF("vec_id", "embedding")
    val bcb = Similarity.pqTrainCodebooks(blobs, "vec_id", "embedding", m, k = 16, iters = 3)
    val bdet = Similarity.pqEncodeDetailed(blobs, bcb, "vec_id", "embedding", m)
    val adcBlob = topSets(Similarity.pqSearchAdc(bdet, bcb, blobs.filter($"vec_id" < 3),
      "vec_id", "embedding", m, kNbrs = 10))
    // within-blob fine ranking is quantized away by design (near-dup
    // members share codes, ties break by id), so the separable-data
    // contract is cluster PURITY: every ADC neighbor comes from the
    // probe's own blob — cross-blob scores are far below within-blob
    val purity = adcBlob.map { case (p, cands) =>
      cands.count(c => c % 3 == p % 3).toDouble / cands.size
    }.sum / adcBlob.size
    val blobRecall = recallOf(adcBlob,
      topSets(Similarity.cosineKnn(blobs, blobs.filter($"vec_id" < 3),
        "vec_id", "embedding", k = 10)))
    info(f"PQ ADC on clustered blobs: purity $purity%.3f, member recall $blobRecall%.3f")
    assert(adcBlob.size === 3 && adcBlob.values.forall(_.size == 10))
    assert(purity === 1.0,
      f"ADC neighbors must stay within the probe's blob on separable data, got purity $purity%.3f")
  }

  test("IVFPQ: residual-coded index search stays in-blob, partition-prunes, and stores codes only") {
    import spark.implicits._
    val blobs = (0 until 120).map { i =>
      val c = i % 3
      val emb = Array.tabulate(64) { j =>
        val base = if (j % 3 == c) 1.0f else 0.0f
        base + 0.05f * (((i * 31 + j * 7) % 11) - 5)
      }
      (i.toLong, emb)
    }.toDF("vec_id", "embedding")
    val cents = (0 until 3).map { c =>
      (1000L + c, Array.tabulate(64)(j => if (j % 3 == c) 1.0f else 0.0f))
    }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivfpq").toString
    Similarity.writePqIvfIndex(blobs, cents, "vec_id", "embedding",
      m = 8, k = 16, iters = 3, path = dir)
    // the cell payload is ids + codes — no float vector survives
    assert(spark.read.parquet(s"${graft.api.GenDir.currentOrFail(spark, dir)}/cells").columns.toSet ===
      Set("vec_id", "codes", "cluster"))
    val res = Similarity.searchPqIvfIndex(spark, dir,
      blobs.filter($"vec_id" < 3), "vec_id", "embedding", kNbrs = 10, nprobe = 1)
    val byProbe = res.select($"probe_id", $"cand_id").as[(Long, Long)]
      .collect().groupBy(_._1)
    assert(byProbe.size === 3)
    byProbe.foreach { case (p, xs) =>
      assert(xs.length === 10, s"probe $p returned ${xs.length} neighbors")
      assert(xs.forall { case (_, c) => c % 3 == p % 3 },
        s"probe $p left its blob: ${xs.mkString(",")}")
    }
    val plan = res.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("dynamicpruning"),
      s"IVFPQ search must partition-prune the cells scan:\n$plan")

    // APPEND with the frozen quantizer: new blob-0 members encode with
    // the stored codebooks and become findable without a rebuild
    val extra = (0 until 6).map { i =>
      val emb = Array.tabulate(64) { j =>
        val base = if (j % 3 == 0) 1.0f else 0.0f
        base + 0.05f * (((i * 13 + j * 5) % 11) - 5)
      }
      (2000L + i, emb)
    }.toDF("vec_id", "embedding")
    Similarity.appendToPqIvfIndex(extra, "vec_id", "embedding", dir)
    val afterAppend = Similarity.searchPqIvfIndex(spark, dir,
      blobs.filter($"vec_id" === 0L), "vec_id", "embedding",
      kNbrs = 50, nprobe = 1)
      .select($"cand_id").as[Long].collect().toSet
    assert((2000L until 2006L).forall(afterAppend.contains),
      s"appended members must be searchable: $afterAppend")
    // drift report covers the PQ layout (is_base=false rows landed)
    val drift = Similarity.ivfDriftReport(spark, dir)
      .filter($"n_appended" > 0).count()
    assert(drift >= 1, "PQ appends must surface in the drift report")
    // compaction is payload-agnostic: fewer files, identical results
    val preCompact = Similarity.searchPqIvfIndex(spark, dir,
      blobs.filter($"vec_id" < 3), "vec_id", "embedding", kNbrs = 10, nprobe = 3)
      .select($"probe_id", $"rn", $"cand_id").as[(Long, Long, Long)].collect().toSet
    val (fBefore, fAfter) = Similarity.compactIvfCells(spark, dir)
    assert(fAfter < fBefore, s"append left files to compact: $fBefore -> $fAfter")
    val postCompact = Similarity.searchPqIvfIndex(spark, dir,
      blobs.filter($"vec_id" < 3), "vec_id", "embedding", kNbrs = 10, nprobe = 3)
      .select($"probe_id", $"rn", $"cand_id").as[(Long, Long, Long)].collect().toSet
    assert(postCompact === preCompact,
      "compaction must be invisible to PQ search results")

    // sampled codebook training (the corpus-scale path): half the
    // residuals still summarize the distribution — search stays in-blob
    val dirS = java.nio.file.Files.createTempDirectory("ivfpq_sample").toString
    Similarity.writePqIvfIndex(blobs, cents, "vec_id", "embedding",
      m = 8, k = 16, iters = 3, path = dirS, trainSampleFraction = 0.5)
    val sampled = Similarity.searchPqIvfIndex(spark, dirS,
      blobs.filter($"vec_id" < 3), "vec_id", "embedding", kNbrs = 10, nprobe = 1)
      .select($"probe_id", $"cand_id").as[(Long, Long)].collect()
    assert(sampled.nonEmpty &&
      sampled.forall { case (p, c) => c % 3 == p % 3 },
      "sample-trained codebooks must keep ADC neighbors within the probe's blob")
  }

  test("cosineKnnShuffled matches the broadcast kNN exactly on a large probe set") {
    import spark.implicits._
    val corpus = spark.read.parquet(s"$sf/embeddings.parquet")
    val probes = corpus.filter($"vec_id" % 10 === 0)
    val viaBroadcast = Similarity.cosineKnn(corpus, probes, "vec_id", "embedding", k = 3)
      .select($"probe_id", $"rn", $"cand_id", $"sim")
      .as[(Long, Long, Long, Double)].collect().toSet
    val viaShuffle = Similarity.cosineKnnShuffled(corpus, probes, "vec_id", "embedding",
        k = 3, blocks = 4)
      .select($"probe_id", $"rn", $"cand_id", $"sim")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(viaBroadcast.nonEmpty)
    assert(viaShuffle === viaBroadcast)
  }

  test("withNorm drops zero-norm vectors so NaN sims never occupy top-k slots") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 0.0f))   // zero vector: cosine undefined
    ).toDF("vid", "vec")
    val knn = Similarity.cosineKnn(corpus, corpus.filter($"vid" === 1L), "vid", "vec", k = 2)
      .select($"cand_id").as[Long].collect().toSet
    assert(knn === Set(2L)) // 3 is dropped, not ranked first on NaN
  }

  test("Similarity API ranks an identical vector first under custom names") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f, 0.0f)),   // identical to 1
      (3L, Array(0.0f, 1.0f, 0.0f)),
      (4L, Array(0.7f, 0.7f, 0.0f))
    ).toDF("vid", "vec")

    val knn = Similarity.cosineKnn(corpus, corpus.filter($"vid" === 1L),
      "vid", "vec", k = 2)
    val top = knn.orderBy($"rn").select($"cand_id", $"sim").as[(Long, Double)].collect()
    assert(top.head._1 === 2L)
    assert(math.abs(top.head._2 - 1.0) < 1e-12)

    val assigned = Similarity.ivfAssign(corpus, corpus.filter($"vid" <= 3L), "vid", "vec")
    val clusters = assigned.select($"vid", $"cluster").as[(Long, Long)].collect().toMap
    assert(clusters(1L) === 1L) // own centroid, ties broken to lowest id
    assert(clusters(2L) === 1L)
    assert(clusters(3L) === 3L)
    assert(clusters(4L) === 1L) // equidistant from 1 and 3 → lowest id

    val dups = Similarity.nearDupPairs(corpus, "vid", "vec", 0.999)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(dups === Set((1L, 2L)))
  }

  test("Stats: merged batch stats equal the full scan exactly; sketch estimate within 5%") {
    import spark.implicits._
    val docs = graft.Util.table(spark, sf, "documents")
    val path = java.nio.file.Files.createTempDirectory("stats_spec_").toString
    // three uneven ingest batches
    Stats.appendBatchStats(docs.filter("doc_id % 3 = 0"), path, Seq("source"), "n_chars", "n_chars", 0)
    Stats.appendBatchStats(docs.filter("doc_id % 3 = 1"), path, Seq("source"), "n_chars", "n_chars", 1)
    Stats.appendBatchStats(docs.filter("doc_id % 3 = 2"), path, Seq("source"), "n_chars", "n_chars", 2)
    val merged = Stats.mergedSummary(spark, path, Seq("source")).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    val full = docs.groupBy($"source").agg(
      count(lit(1)).as("n"), sum($"n_chars").as("s"), min($"n_chars").as("mn"),
      max($"n_chars").as("mx"), countDistinct($"n_chars").as("d"),
      avg($"n_chars").as("mean")).collect()
    assert(full.nonEmpty && merged.size === full.length)
    full.foreach { r =>
      val m = merged(r.getAs[String]("source"))
      assert(m.getAs[Long]("n_rows") === r.getAs[Long]("n"))
      assert(m.getAs[Long]("v_sum") === r.getAs[Long]("s"))
      assert(m.getAs[Long]("v_min") === r.getAs[Long]("mn"))
      assert(m.getAs[Long]("v_max") === r.getAs[Long]("mx"))
      assert(math.abs(m.getAs[Double]("v_mean") - r.getAs[Double]("mean")) < 1e-9)
      val exact = r.getAs[Long]("d").toDouble
      assert(math.abs(m.getAs[Long]("distinct_est") - exact) / exact < 0.05,
        s"estimate ${m.getAs[Long]("distinct_est")} vs exact $exact")
    }
  }

  test("Stats: a late-arriving batch folds in without touching earlier batches") {
    val docs = graft.Util.table(spark, sf, "documents")
    val path = java.nio.file.Files.createTempDirectory("stats_spec_").toString
    Stats.appendBatchStats(docs.filter("doc_id % 2 = 0"), path, Seq("source"), "n_chars", "n_chars", 0)
    val before = Stats.mergedSummary(spark, path, Seq("source"))
      .agg(sum("n_rows")).head().getLong(0)
    Stats.appendBatchStats(docs.filter("doc_id % 2 = 1"), path, Seq("source"), "n_chars", "n_chars", 1)
    val after = Stats.mergedSummary(spark, path, Seq("source"))
      .agg(sum("n_rows")).head().getLong(0)
    assert(after === docs.count())
    assert(before < after)
    // stats table holds one row per (key, batch): |keys in b0| + |keys in b1|
    val rows = spark.read.parquet(path)
    assert(rows.count() ===
      rows.select("source", "batch_id").distinct().count())
  }

  test("Stats: sketches written at different precisions still merge") {
    val docs = graft.Util.table(spark, sf, "documents")
    val path = java.nio.file.Files.createTempDirectory("stats_spec_").toString
    Stats.appendBatchStats(docs.filter("doc_id % 2 = 0"), path, Seq("source"), "n_chars", "n_chars", 0, lgK = 12)
    Stats.appendBatchStats(docs.filter("doc_id % 2 = 1"), path, Seq("source"), "n_chars", "n_chars", 1, lgK = 14)
    val est = Stats.mergedSummary(spark, path, Seq("source"))
      .agg(sum("distinct_est")).head().getLong(0)
    assert(est > 0)
  }

  test("BPE: distributed merge training matches a reference trainer, and segment counts agree") {
    import spark.implicits._
    val docs = Seq(
      (0L, "low low low low low"),
      (1L, "lower lower newest newest newest"),
      (2L, "newest newest newest widest widest widest")
    ).toDF("doc_id", "text")

    // reference trainer: same greedy left-to-right merge, same
    // (count desc, left, right) tie-break
    def mergeSeq(syms: Vector[String], l: String, r: String): Vector[String] =
      syms.foldLeft(Vector.empty[String]) { (acc, x) =>
        if (acc.nonEmpty && acc.last == l && x == r) acc.init :+ (l + r)
        else acc :+ x
      }
    val texts = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val words = texts.flatMap(_._2.split(" ")).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, g) => (w.map(_.toString).toVector, g.length.toLong) }
    var vocab = words.toVector
    val want = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
    while (want.size < 8) {
      val counts = scala.collection.mutable.Map[(String, String), Long]().withDefaultValue(0L)
      vocab.foreach { case (syms, c) =>
        syms.sliding(2).foreach { p => if (p.length == 2) counts((p(0), p(1))) += c }
      }
      val ((l, r), n) = counts.toSeq.minBy { case ((l, r), n) => (-n, l, r) }
      want += ((l, r, n))
      vocab = vocab.map { case (syms, c) => (mergeSeq(syms, l, r), c) }
    }

    val got = graft.api.Text.bpeTrain(docs, "text", 8)
    assert(got === want.toSeq)

    // segment counts under the learned merges match the reference vocab state
    val refCounts = texts.map { case (id, text) =>
      var total = 0L
      text.split(" ").filter(_.nonEmpty).foreach { w =>
        var syms = w.map(_.toString).toVector
        want.foreach { case (l, r, _) => syms = mergeSeq(syms, l, r) }
        total += syms.length
      }
      (id, total)
    }.toMap
    val gotCounts = graft.api.Text.bpeSegmentCount(docs, "doc_id", "text",
        want.toSeq.map { case (l, r, _) => (l, r) })
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotCounts === refCounts)
  }

  test("DSIR: feature counts are unigrams + bigrams; target docs outscore the rest") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val w = Sampling.dsirWeights(docs, "doc_id", "text", $"lang" === "en")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val texts = docs.select($"doc_id", $"text", $"lang").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(w.size === texts.length)
    texts.foreach { case (id, text, _) =>
      val raw = text.split(" ", -1) // keep trailing empties like Spark's split
      val expected = raw.count(_.nonEmpty) + math.max(raw.length - 1, 0)
      assert(w(id)._1 === expected.toLong, s"doc $id feature count")
    }
    // the LLR must actually separate the target distribution: mean
    // weight of lang=en docs strictly above the non-target mean
    def mean(ids: Seq[Long]) = ids.map(w(_)._2.toDouble).sum / ids.size
    val en = texts.filter(_._3 == "en").map(_._1).toSeq
    val rest = texts.filter(_._3 != "en").map(_._1).toSeq
    assert(en.nonEmpty && rest.nonEmpty)
    assert(mean(en) > mean(rest), s"no separation: ${mean(en)} vs ${mean(rest)}")
  }

  test("heavyHitters: exact counts equal brute force even when capacity forces eviction") {
    import spark.implicits._
    // Zipf-ish synthetic stream: token t_i appears ~ 4000/i times over a
    // 200-token vocabulary, written as many small docs across several
    // partitions. capacity=64 << vocab forces real Misra-Gries eviction
    // inside every partition.
    val words = (1 to 200).flatMap(i => Seq.fill(4000 / i)(s"t$i"))
    val docs = new scala.util.Random(7).shuffle(words)
      .grouped(25).map(_.mkString(" ")).toSeq
      .toDF("body").repartition(8)
    val got = Text.heavyHitters(docs, "body", capacity = 64, threshPerMille = 20)
      .as[(String, Long)].collect().toSeq
    val total = words.size.toLong
    val expected = words.groupBy(identity).view.mapValues(_.size.toLong).toMap
      .filter { case (_, n) => n * 1000 >= 20 * total }
      .toSeq.sortBy { case (t, n) => (-n, t) }
    assert(got === expected, s"got ${got.take(5)}... expected ${expected.take(5)}...")
    assert(got.nonEmpty && got.head._1 === "t1" && got.head._2 === 4000L)
    // guarantee precondition is enforced
    intercept[IllegalArgumentException] {
      Text.heavyHitters(docs, "body", capacity = 64, threshPerMille = 1)
    }
  }

  test("invertedIndex: capped postings are exactly the k smallest doc ids; df/tf exact") {
    import spark.implicits._
    val docs = (0 until 60).map { i =>
      // "common" in every doc; "rare<i>" in one; "mid" in every third
      val toks = Seq("common", "common", s"rare$i") ++
        (if (i % 3 == 0) Seq("mid") else Nil)
      (i.toLong, toks.mkString(" "))
    }.toDF("id", "body").repartition(7)
    val idx = graft.api.Text.invertedIndex(docs, "id", "body", maxPostings = 5)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getSeq[Long](3)))).toMap
    assert(idx("common") === ((60L, 120L, Seq(0L, 1L, 2L, 3L, 4L))))
    assert(idx("mid") === ((20L, 20L, Seq(0L, 3L, 6L, 9L, 12L))))
    assert(idx("rare7") === ((1L, 1L, Seq(7L))))
    assert(idx.size === 62)
  }

  test("bm25TopK: matches a hand-computed reference on a tiny corpus") {
    import spark.implicits._
    val docs = Seq(
      (1L, "cat dog cat"),
      (2L, "cat fish"),
      (3L, "dog dog dog dog"),
      (4L, "bird")).toDF("id", "body")
    val got = graft.api.Text.bm25TopK(docs, "id", "body", Seq("cat", "dog"), 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // reference: N=4, avgdl=10/4=2.5; df(cat)=2, df(dog)=2
    val idf = math.log(1.0 + (4 - 2 + 0.5) / 2.5)
    def s(tf: Long, dl: Long): Double =
      idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / 2.5))
    val want = Seq(
      1L -> (s(2, 3) + s(1, 3)), // cat=2, dog=1
      3L -> s(4, 4),             // dog=4
      2L -> s(1, 2))             // cat=1
      .map { case (id, v) =>
        (id, BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) }
      .sortBy { case (id, v) => (-v, id) }
    assert(got.toSeq === want)
  }

  test("ngramDiversity: exact trigram counts, ttr, and entropy on a known corpus") {
    import spark.implicits._
    val docs = Seq(
      ("s1", "a b c a b c"),   // trigrams: abc bca cab abc -> 4 total, 3 distinct
      ("s1", "a b"),           // too short, contributes nothing
      ("s2", "x y z w")        // xyz yzw -> 2 total, 2 distinct
    ).toDF("src", "body")
    val got = graft.api.Text.ngramDiversity(docs, "body", "src", 3)
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    val h1 = math.log(4.0) - (2 * math.log(2.0)) / 4.0 // counts {2,1,1}
    assert(got("s1") === ((4L, 3L, 0.75,
      BigDecimal(h1).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    assert(got("s2") === ((2L, 2L, 1.0,
      BigDecimal(math.log(2.0)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)))
  }

  test("naiveBayesSelfScore: recovers well-separated classes and tie-breaks deterministically") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // two classes with disjoint core vocabulary + shared filler
    val mk = (cls: String, core: Seq[String]) => (0 until 40).map { i =>
      val toks = Seq.fill(12)(core(rnd.nextInt(core.size))) ++
        Seq.fill(4)("the") ++ Seq.fill(2)("and")
      (cls.hashCode.toLong * 100 + i, rnd.shuffle(toks).mkString(" "), cls)
    }
    val docs = (mk("aa", Seq("alpha", "apple", "anchor", "arrow")) ++
      mk("bb", Seq("bravo", "berry", "basket", "bridge")))
      .toDF("id", "body", "label").repartition(4)
    val scored = Text.naiveBayesSelfScore(docs, "id", "body", "label")
    assert(scored.columns.toSeq === Seq("id", "actual", "predicted"))
    assert(scored.count() === 80)
    assert(scored.filter($"actual" =!= $"predicted").count() === 0)
    // empty-text rows produce no tokens and are excluded, not mis-scored
    val withEmpty = docs.union(Seq((999L, "", "aa")).toDF("id", "body", "label"))
    assert(Text.naiveBayesSelfScore(withEmpty, "id", "body", "label").count() === 80)
  }

  test("weightedSample: deterministic, exactly the k smallest priorities, weight-monotone") {
    import spark.implicits._
    val docs = graft.Util.table(spark, sf, "documents")
      .select($"doc_id", $"source", $"n_chars")
    val s5 = Sampling.weightedSample(docs, "source", "doc_id", "n_chars", 5)
    // re-run draws the identical sample (no RNG state)
    val again = Sampling.weightedSample(docs, "source", "doc_id", "n_chars", 5)
      .select("source", "sample_rank", "doc_id").collect().toSet
    assert(s5.select("source", "sample_rank", "doc_id").collect().toSet === again)
    // the k=5 cut is exactly the first 5 ranks of the full ranking
    val full = Sampling.weightedSample(docs, "source", "doc_id", "n_chars", Int.MaxValue)
    val fullTop = full.filter($"sample_rank" <= 5)
      .select("source", "sample_rank", "doc_id").collect().toSet
    assert(s5.select("source", "sample_rank", "doc_id").collect().toSet === fullTop)
    // per-group sizes: min(k, positive-weight group size), ranks 1..n contiguous
    val gsz = docs.filter($"n_chars".isNotNull && $"n_chars" > 0)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    s5.groupBy("source").agg(count(lit(1)).as("n"), max("sample_rank").as("mx"))
      .collect().foreach { r =>
        val want = math.min(5L, gsz(r.getString(0)))
        assert(r.getLong(1) === want && r.getInt(2).toLong === want)
      }
    // an overwhelming weight races to rank 1; non-positive weights never appear
    val synth = (0L until 100L).map(i =>
      (i, "g", if (i == 42L) 1e12 else if (i == 7L) 0.0 else 1.0))
      .toDF("id", "grp", "w")
    val drawn = Sampling.weightedSample(synth, "grp", "id", "w", 10).collect()
    assert(drawn.find(_.getAs[Int]("sample_rank") == 1).get.getAs[Long]("id") === 42L)
    assert(!drawn.exists(_.getAs[Long]("id") == 7L))
  }

  test("srp: deterministic signatures, true-cosine rerank, planted near-dups recovered") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def vec(): Array[Float] = Array.fill(16)(rnd.nextGaussian().toFloat)
    val base = (0 until 20).map(i => (i.toLong, vec()))
    val dups = base.map { case (i, v) =>
      (i + 100L, v.map(x => x + 0.05f * rnd.nextGaussian().toFloat)) }
    val corpus = (base ++ dups).toDF("vid", "e")
    // signatures are a pure function of the data
    val sig1 = Similarity.srpBandSignatures(corpus, "vid", "e", 16, 32, 4)
    val sig2 = Similarity.srpBandSignatures(corpus, "vid", "e", 16, 32, 4)
    assert(sig1.collect().toSet === sig2.collect().toSet)
    assert(sig1.count() === 40L * 4)
    // brute-force truth: planted pairs all have cosine >= 0.9
    val truth = Similarity.nearDupPairs(corpus, "vid", "e", 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.size >= 15) // the plant worked
    val found = Similarity.srpNearDupPairs(corpus, "vid", "e", 16, 32, 4, 0.9)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // emitted pairs are verified (subset of truth), and recall is high
    assert(found.subsetOf(truth))
    assert(found.size.toDouble / truth.size >= 0.7)
    // srpSearch returns TRUE cosines: every (probe, cand, sim) agrees with
    // the exact cosine brute force computes for that pair
    val got = Similarity.srpSearch(corpus, corpus.filter($"vid" < 5),
      "vid", "e", 16, 32, 4, 2).collect()
    assert(got.nonEmpty)
    val brute = Similarity.cosineKnn(corpus, corpus.filter($"vid" < 5),
      "vid", "e", k = 39).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("cand_id")) -> r.getAs[Double]("sim"))
      .toMap
    got.foreach { r =>
      val key = (r.getAs[Long]("probe_id"), r.getAs[Long]("cand_id"))
      assert(math.abs(brute(key) - r.getAs[Double]("sim")) < 1e-12)
    }
  }

  test("TextIndex: search over the persisted index == direct banding candidates") {
    import spark.implicits._
    val dir = tmpDir("mhidx")
    val docs = graft.Util.rawTable(spark, sf, "documents").select($"doc_id", $"text")
    val probes = docs.filter($"doc_id" % 10 === 0)
      .select(($"doc_id" + 1000000L).as("doc_id"), $"text")
    graft.api.TextIndex.writeMinhashIndex(docs, "doc_id", "text", dir)
    val got = graft.api.TextIndex.searchMinhashIndex(spark, dir, probes,
        "doc_id", "text").collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("doc_id"))).toSet
    val want = graft.api.Dedup.lshCandidatePairsAgainst(probes, docs,
        "doc_id", "text", maxBucketSize = Int.MaxValue).collect()
      .map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("corpus_id"))).toSet
    assert(got === want)
    assert(got.nonEmpty, "shifted-id copies must collide with their originals")
    // a verbatim copy agrees on every seed
    val self = graft.api.TextIndex.searchMinhashIndex(spark, dir, probes,
        "doc_id", "text").filter($"doc_id" === $"probe_id" - 1000000L).collect()
    self.foreach { r =>
      assert(r.getAs[Long]("n_agree") === graft.api.Dedup.NumSeeds.toLong)
      assert(r.getAs[Double]("est_jaccard") === 1.0)
    }
    assert(self.nonEmpty)
  }

  test("TextIndex: append under frozen parameters == index built once; probe sigs pushed to the scan") {
    import spark.implicits._
    val dir1 = tmpDir("mhidx_half")
    val dir2 = tmpDir("mhidx_all")
    val docs = graft.Util.rawTable(spark, sf, "documents").select($"doc_id", $"text")
    val (h1, h2) = (docs.filter($"doc_id" % 2 === 0), docs.filter($"doc_id" % 2 === 1))
    graft.api.TextIndex.writeMinhashIndex(h1, "doc_id", "text", dir1)
    graft.api.TextIndex.appendToMinhashIndex(h2, "doc_id", "text", dir1)
    graft.api.TextIndex.writeMinhashIndex(docs, "doc_id", "text", dir2)
    val probes = docs.limit(40).select(($"doc_id" + 1000000L).as("doc_id"), $"text")
    def res(d: String) = graft.api.TextIndex.searchMinhashIndex(spark, d, probes,
        "doc_id", "text").collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_agree"))).toSet
    assert(res(dir1) === res(dir2))
    val plan = graft.api.TextIndex.searchMinhashIndex(spark, dir1, probes,
      "doc_id", "text").queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("PushedFilters") && plan.contains("band_sig"),
      "probe bucket signatures must reach the index scan as a pushed filter")
  }

  test("TextIndex: compaction shrinks append debris; search bit-identical before/after") {
    import spark.implicits._
    val dir = tmpDir("mhidx_compact")
    val docs = graft.Util.rawTable(spark, sf, "documents").select($"doc_id", $"text")
    graft.api.TextIndex.writeMinhashIndex(docs.filter($"doc_id" % 4 === 0),
      "doc_id", "text", dir)
    (1 to 3).foreach { i =>
      graft.api.TextIndex.appendToMinhashIndex(
        docs.filter($"doc_id" % 4 === i), "doc_id", "text", dir)
    }
    val probes = docs.limit(30).select(($"doc_id" + 1000000L).as("doc_id"), $"text")
    def res() = graft.api.TextIndex.searchMinhashIndex(spark, dir, probes,
        "doc_id", "text").collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_agree"))).toSet
    def nFiles() = {
      val p = new org.apache.hadoop.fs.Path(
        s"${graft.api.GenDir.currentOrFail(spark, dir)}/bands")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(p, true)
      var n = 0
      while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
      n
    }
    val before = res()
    val filesBefore = nFiles()
    graft.api.TextIndex.compactMinhashBands(spark, dir)
    assert(res() === before)
    assert(before.nonEmpty)
    assert(nFiles() < filesBefore,
      s"compaction must shrink the file count (was $filesBefore)")
  }

  test("TextIndex: maintenance policy compacts only past the debris threshold") {
    import spark.implicits._
    val dir = tmpDir("mhidx_maint")
    val docs = graft.Util.rawTable(spark, sf, "documents").select($"doc_id", $"text")
    graft.api.TextIndex.writeMinhashIndex(docs.filter($"doc_id" % 3 === 0),
      "doc_id", "text", dir)
    assert(!graft.api.TextIndex.maintainMinhashIndex(spark, dir,
      maxFilesPerBand = 64), "a fresh index must not trigger compaction")
    (1 to 2).foreach { i =>
      graft.api.TextIndex.appendToMinhashIndex(
        docs.filter($"doc_id" % 3 === i), "doc_id", "text", dir)
    }
    assert(graft.api.TextIndex.maintainMinhashIndex(spark, dir,
      maxFilesPerBand = 1), "debris past the threshold must compact")
    // compaction preserved searchability
    val probes = docs.limit(10).select(($"doc_id" + 1000000L).as("doc_id"), $"text")
    assert(graft.api.TextIndex.searchMinhashIndex(spark, dir, probes,
      "doc_id", "text", minEstJaccard = 1.0).count() > 0)
  }

  test("DupGraph: artifact equals derivation for both methods; stricter reads filter the stored jaccard") {
    import spark.implicits._
    val docs = graft.Util.rawTable(spark, sf, "documents")
      .select($"doc_id".as("k"), $"text".as("body"))
    def pairKey(df: org.apache.spark.sql.DataFrame) =
      df.select($"id_a".cast("long"), $"id_b".cast("long"), $"n_inter",
        round($"jaccard", 12)).as[(Long, Long, Long, Double)].collect().toSet

    // LSH artifact at tau 0.0 == every verified candidate
    val lshDir = tmpDir("dupgraph_lsh") + "/g"
    val lshMeta = DupGraph.write(docs, "k", "body", lshDir, 0.0, "lsh")
    val lshDirect = Dedup.lshCandidatePairs(docs, "k", "body")
    assert(pairKey(DupGraph.readEdges(spark, lshDir)) === pairKey(lshDirect))
    assert(lshMeta.nEdges === lshDirect.count())
    // stricter read == re-derivation at the stricter tau
    assert(pairKey(DupGraph.readEdges(spark, lshDir, 0.5)) ===
      pairKey(lshDirect.filter($"jaccard" >= 0.5)))

    // PPJoin artifact at 0.8; a 0.95 read == ppJoinPairs(0.95)
    val ppDir = tmpDir("dupgraph_pp") + "/g"
    DupGraph.write(docs, "k", "body", ppDir, 0.8, "ppjoin")
    assert(pairKey(DupGraph.readEdges(spark, ppDir, 0.8)) ===
      pairKey(Dedup.ppJoinPairs(docs, "k", "body", 0.8)))
    assert(pairKey(DupGraph.readEdges(spark, ppDir, 0.95)) ===
      pairKey(Dedup.ppJoinPairs(docs, "k", "body", 0.95)))

    // degrees table: matches a recount over the stored edges
    val e = DupGraph.readEdges(spark, lshDir)
    val want = e.select($"id_a".as("id")).unionAll(e.select($"id_b".as("id")))
      .groupBy($"id").agg(count(lit(1)).as("degree"))
      .as[(Long, Long)].collect().toSet
    assert(DupGraph.readDegrees(spark, lshDir)
      .as[(Long, Long)].collect().toSet === want)

    // reading below the stored admission floor must fail loudly, not
    // silently serve a partial graph (edges) or floor-level degrees
    // masquerading as a looser answer (degrees)
    val err = intercept[IllegalArgumentException] {
      DupGraph.readEdges(spark, ppDir, 0.5)
    }
    assert(err.getMessage.contains("tau"))
    intercept[IllegalArgumentException] {
      DupGraph.readDegrees(spark, ppDir, 0.5)
    }
    // stricter-than-floor degrees recount from the filtered edges
    val strict = DupGraph.readDegrees(spark, ppDir, 0.95)
    val strictWant = DupGraph.readEdges(spark, ppDir, 0.95)
    assert(strict.agg(sum($"degree")).as[Long].head() ===
      2L * strictWant.count())

    // meta audit: node count is the distinct endpoint count
    val m = DupGraph.readMeta(spark, lshDir)
    assert(m.nNodes === e.select($"id_a").unionAll(e.select($"id_b"))
      .distinct().count())
    assert(m.method === "lsh" && m.shingleN === 4)
  }

  test("DupGraph: rewrite at the same path swaps atomically and serves the new corpus") {
    import spark.implicits._
    val docs = graft.Util.rawTable(spark, sf, "documents")
      .select($"doc_id".as("k"), $"text".as("body"))
    val dir = tmpDir("dupgraph_swap") + "/g"
    DupGraph.write(docs.filter($"k" % 2 === 0), "k", "body", dir, 0.0, "lsh")
    val oldEdges = DupGraph.readEdges(spark, dir).count()
    // overwrite with the full corpus: same path, new content
    val meta2 = DupGraph.write(docs, "k", "body", dir, 0.0, "lsh")
    assert(DupGraph.readEdges(spark, dir).count() === meta2.nEdges)
    assert(meta2.nEdges >= oldEdges)
    // no __building / __old debris after a clean swap
    val parent = new java.io.File(dir).getParentFile
    assert(!parent.listFiles().exists(f =>
      f.getName.endsWith("__building") || f.getName.endsWith("__old")))
  }
}
