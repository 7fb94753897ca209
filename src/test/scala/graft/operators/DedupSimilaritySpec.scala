package graft.operators

import java.security.MessageDigest

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Cross-checks of the dedup + similarity operators against plain-Scala
  * reimplementations on collected data.
  */
class DedupSimilaritySpec extends SparkSpec {

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  test("q38: minhash signature matches a hand-rolled minwise hash for one doc") {
    import spark.implicits._
    val doc = spark.read.parquet(s"$sf/documents.parquet")
      .filter($"doc_id" === 0).head()
    val toks = doc.getAs[String]("text").split(" ")
    val shingles = toks.sliding(4).map(_.mkString(" ")).toSet
    val want = (0 until 8).map { s =>
      s.toLong -> shingles.map { sh =>
        val h = if (s < 4) md5hex(sh) else md5hex("x" + sh)
        h.substring((s % 4) * 8, (s % 4) * 8 + 8)
      }.min
    }.toMap
    val got = DedupOps.q38MinhashSigs(spark, sf)
      .filter($"doc_id" === 0).collect()
      .map(r => r.getAs[Long]("seed") -> r.getAs[String]("minhash")).toMap
    assert(got === want)
  }

  test("q39: LSH candidate pairs report exact Jaccard of shingle sets") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").sliding(4).map(_.mkString(" ")).toSet)
      .toMap
    val pairs = DedupOps.q39LshPairs(spark, sf).collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      val (a, b, j) = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Double]("jaccard"))
      val want = graft.functions.Parsing.jaccard(docs(a), docs(b))
      assert(math.abs(j - want) < 1e-12, s"pair ($a,$b): $j vs $want")
      assert(j >= 0.0 && j <= 1.0)
    }
  }

  test("q55: clusters equal plain union-find over the ≥0.5-Jaccard pairs") {
    import spark.implicits._
    val pairs = DedupOps.q39LshPairs(spark, sf)
      .filter($"jaccard" >= 0.5).select($"doc_a", $"doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = parent.keys.map(d => d -> find(d)).toMap
    val got = DedupOps.q55DedupClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want)
    // keeper flag is exactly "I am my cluster's min"
    DedupOps.q55DedupClusters(spark, sf).collect().foreach { r =>
      assert(r.getBoolean(3) === (r.getLong(0) == r.getLong(1)))
    }
  }

  test("q41: simhash is 16 hex nibbles and near-identical docs agree on most bits") {
    val rows = DedupOps.q41Simhash(spark, sf).collect()
    assert(rows.length === 500)
    rows.foreach(r => assert(r.getAs[String]("simhash64").matches("[0-9a-f]{16}")))
  }

  test("q42: top-1 neighbor matches plain-Scala brute force for every probe") {
    import spark.implicits._
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val top1 = SimilarityOps.q42CosineKnn(spark, sf)
      .filter($"rn" === 1).collect()
      .map(r => r.getAs[Long]("probe_id") -> r.getAs[Long]("cand_id")).toMap
    (0L until 10L).foreach { p =>
      val want = vecs.filter(_._1 != p).maxBy { case (id, v) => (cos(vecs(p), v), -id.toDouble) }._1
      assert(top1(p) === want, s"probe $p")
    }
  }

  test("q43: IVF search returns neighbors from the probe's own cluster only") {
    import spark.implicits._
    val rows = SimilarityOps.q43IvfKnn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("probe_id")).foreach { case (_, grp) =>
      assert(grp.map(_.getAs[Long]("cluster")).distinct.length === 1)
    }
  }

  test("q128: stride-1 duplicate spans recover a planted shared substring exactly") {
    import spark.implicits._
    // 60 shared chars planted at different offsets in otherwise-unique
    // docs; at stride=1 the merged island must be exactly the planted
    // span (minLen=40 windows tile every start position of it).
    val shared = "the quick brown fox jumps over twelve lazy dogs and a cat daily"
      .take(60)
    assert(shared.length === 60)
    // flanks differ in their FIRST/LAST characters so the true shared
    // substring is exactly the 60 planted chars, nothing more
    val docs = Seq(
      (1L, "A" * 38 + shared + "B" * 30),
      (2L, "C" * 12 + shared + "D" * 56),
      (3L, "E" * 120) // self-repetitive but unique to one doc -> no span
    ).toDF("doc_id", "text")
    val got = graft.api.Dedup.duplicateSpans(docs, "doc_id", "text",
        minLen = 40, stride = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(got === Seq((1L, 1L, 60L), (2L, 1L, 60L)))
  }

  test("q130: PPJoin pair set equals brute-force Jaccard join exactly") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val sets = docs.select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty).toSet)
      .filter(_._2.nonEmpty)
    val tau = 0.7
    val want = (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      inter = (sa & sb).size
      j = inter.toDouble / (sa.size + sb.size - inter) if j >= tau
    } yield (a, b, inter.toLong)).toSet
    val got = graft.api.Dedup.ppJoinPairs(docs, "doc_id", "text", tau)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === want)
    assert(want.nonEmpty, "degenerate test: no qualifying pairs at tau=0.7")
  }

  test("ppJoinPairs: bitmask and prefix-filter strategies agree bit-for-bit") {
    import spark.implicits._
    // 31-token harness vocab -> the adaptive operator takes the mask
    // path; byPrefix = true runs the same corpus down the prefix
    // path. Output (incl. the float jaccard) must be identical.
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    val mask = rows(graft.api.Dedup.ppJoinPairs(docs, "doc_id", "text", 0.8))
    val prefix = rows(graft.api.Dedup.ppJoinPairs(docs, "doc_id", "text", 0.8,
      byPrefix = true))
    assert(mask === prefix)
    assert(mask.nonEmpty, "degenerate test: no qualifying pairs at tau=0.8")
    // a >62-token vocabulary routes to the prefix path on its own and
    // still matches brute force
    val wide = (0 until 40).map { i =>
      (i.toLong, (0 until 12).map(j => s"w${(i * 7 + j * 13) % 90}").distinct.mkString(" "))
    }.toDF("doc_id", "text")
    val sets = wide.collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty).toSet)
    val want = (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      inter = (sa & sb).size
      j = inter.toDouble / (sa.size + sb.size - inter) if j >= 0.5
    } yield (a, b)).toSet
    val got = graft.api.Dedup.ppJoinPairs(wide, "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want)
  }

  test("containmentPairs: asymmetric semantics, both strategies agree, wide vocab matches brute force") {
    import spark.implicits._
    // a tiny doc fully pasted inside a much larger one: containment 1,
    // Jaccard tiny — the case the operator exists for
    val paste = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha beta gamma " + (0 until 40).map(i => s"w$i").mkString(" ")),
      (3L, "delta epsilon zeta eta")).toDF("doc_id", "text")
    val got = graft.api.Dedup.containmentPairs(paste, "doc_id", "text", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq === Seq((1L, 2L, 3L, 1.0)))
    // harness corpus (31-token vocab -> mask path) vs forced prefix path:
    // bit-for-bit identical including the double division
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    val mask = rows(graft.api.Dedup.containmentPairs(docs, "doc_id", "text", 0.95))
    val prefix = rows(graft.api.Dedup.containmentPairs(docs, "doc_id", "text", 0.95,
      byPrefix = true))
    assert(mask === prefix)
    assert(mask.nonEmpty, "degenerate test: no qualifying pairs at tau=0.95")
    // >62-token vocabulary routes to the prefix path on its own; brute force
    val wide = (0 until 30).map { i =>
      (i.toLong, (0 until 10).map(j => s"w${(i * 5 + j * 11) % 80}").distinct.mkString(" "))
    }.toDF("doc_id", "text")
    val sets = wide.collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty).toSet)
    val want = (for {
      (a, sa) <- sets; (b, sb) <- sets
      if a != b && (sa.size < sb.size || (sa.size == sb.size && a < b))
      inter = (sa & sb).size
      c = inter.toDouble / sa.size if c >= 0.5
    } yield (a, b)).toSet
    val gotWide = graft.api.Dedup.containmentPairs(wide, "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotWide === want)
  }

  test("blockDedup: first occurrence survives, repeats drop, reconstruction preserves order") {
    import spark.implicits._
    val docs = Seq(
      (10L, "a b c d e f"),   // blocks (B=3): "a b c", "d e f"
      (20L, "a b c x y z"),   // "a b c" repeats -> dropped; "x y z" kept
      (30L, "a b c d e f"),   // everything repeats -> ""
      (40L, "q r")            // short tail block kept
    ).toDF("doc_id", "text")
    val got = graft.api.Dedup.blockDedup(docs, "doc_id", "text", 3)
      .orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got.toSeq === Seq(
      (10L, 2L, 2L, "a b c d e f"),
      (20L, 2L, 1L, "x y z"),
      (30L, 2L, 0L, ""),
      (40L, 1L, 1L, "q r")))
  }

  test("leakageSafeSplit: clusters never straddle the split; singletons assigned") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val pairs = graft.api.Dedup.lshCandidatePairs(docs, "doc_id", "text")
      .filter($"jaccard" >= 0.5).select($"id_a", $"id_b")
    val split = graft.api.Dedup.leakageSafeSplit(docs, "doc_id", pairs)
    assert(split.count() === docs.count()) // every doc assigned exactly once
    val straddling = split.groupBy($"cluster")
      .agg(countDistinct($"split").as("k")).filter($"k" > 1).count()
    assert(straddling === 0L)
    // both sides non-empty at 50/50 hash odds over hundreds of clusters
    val bySplit = split.groupBy($"split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySplit.keySet === Set("train", "valid"), s"splits: $bySplit")
    // a doc in NO pair is its own singleton cluster
    val singleton = split.filter($"cluster_size" === 1).count()
    assert(singleton > 0, "expected at least one singleton doc")
  }

  test("triangleCounts: K4 plus a pendant edge — each clique node in 3 triangles, no double count") {
    import spark.implicits._
    // K4 on {1,2,3,4} (4 triangles, each node in 3) + pendant edge 4-9
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 9L)).toDF("id_a", "id_b")
    val got = graft.api.Graph.triangleCounts(edges, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("triangleCounts: twin-collapse parity with brute force on a clique-heavy graph") {
    import spark.implicits._
    // two dup cliques (sizes 6 and 4) sharing a bridge, a twin-free cycle
    // with a chord, and an isolated edge — exercises every count term
    val k6 = for (a <- 1L to 6L; b <- (a + 1) to 6L) yield (a, b)
    val k4 = for (a <- 11L to 14L; b <- (a + 1) to 14L) yield (a, b)
    val bridge = Seq((6L, 11L), (6L, 12L)) // 6 sees part of the K4: no twin
    val cycle = Seq((21L, 22L), (22L, 23L), (23L, 24L), (21L, 24L), (21L, 23L))
    val edges = (k6 ++ k4 ++ bridge ++ cycle ++ Seq((31L, 32L)))
      .toDF("id_a", "id_b")
    val got = graft.api.Graph.triangleCounts(edges, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // brute force over all node triples, driver-side
    val es = edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def adj(a: Long, b: Long) = es((math.min(a, b), math.max(a, b)))
    val nodes = es.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val want = scala.collection.mutable.Map.empty[Long, Long]
    for {
      i <- nodes.indices; j <- (i + 1) until nodes.size; k <- (j + 1) until nodes.size
      (x, y, z) = (nodes(i), nodes(j), nodes(k))
      if adj(x, y) && adj(y, z) && adj(x, z)
    } Seq(x, y, z).foreach(v => want(v) = want.getOrElse(v, 0L) + 1L)
    assert(got === want.toMap)
  }

  test("triangleCounts + pageRankUndirected: parity with brute force on seeded random graphs with injected twins") {
    import spark.implicits._
    (1 to 5).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      // random base graph, then clone nodes as TRUE twins (adjacent copy
      // with identical external edges) — exercises class arithmetic at
      // unplanned shapes
      val base = (for {
        a <- 1L to 10L; b <- (a + 1) to 10L if rnd.nextDouble() < 0.35
      } yield (a, b)).toSet
      val clones = (1L to 10L).filter(_ => rnd.nextDouble() < 0.4)
        .map(v => v -> (v + 100L)).toMap
      val cloned = clones.flatMap { case (v, c) =>
        base.collect {
          case (a, b) if a == v => (math.min(c, b), math.max(c, b))
          case (a, b) if b == v => (math.min(a, c), math.max(a, c))
        } + ((v, c))
      }
      val und = (base ++ cloned).toSeq.sortBy(identity)
      if (und.nonEmpty) {
        val pairs = und.toDF("id_a", "id_b")
        val es = und.toSet
        def adj(a: Long, b: Long) = es((math.min(a, b), math.max(a, b)))
        val nodes = es.flatMap(e => Seq(e._1, e._2)).toSeq.sorted

        val gotT = graft.api.Graph.triangleCounts(pairs, "id_a", "id_b")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val wantT = scala.collection.mutable.Map.empty[Long, Long]
        for {
          i <- nodes.indices; j <- (i + 1) until nodes.size
          k <- (j + 1) until nodes.size
          (x, y, z) = (nodes(i), nodes(j), nodes(k))
          if adj(x, y) && adj(y, z) && adj(x, z)
        } Seq(x, y, z).foreach(v => wantT(v) = wantT.getOrElse(v, 0L) + 1L)
        assert(gotT === wantT.toMap, s"triangle mismatch at seed $seed")

        val gotR = graft.api.Graph
          .pageRankUndirected(pairs, "id_a", "id_b", iterations = 3)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val edges = und.flatMap { case (a, b) => Seq((a, b), (b, a)) }
          .toDF("src", "dst")
        val wantR = graft.api.Graph
          .pageRankFixedPoint(edges, "src", "dst", iterations = 3)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(gotR === wantR, s"pagerank mismatch at seed $seed")
      }
    }
  }

  test("pageRankUndirected: twin-quotient iteration equals node-level pageRankFixedPoint") {
    import spark.implicits._
    // clique-heavy graph + bridge + chorded cycle + isolated edge —
    // classes of every size, external-degree asymmetry, no-neighbor class
    val k6 = for (a <- 1L to 6L; b <- (a + 1) to 6L) yield (a, b)
    val k4 = for (a <- 11L to 14L; b <- (a + 1) to 14L) yield (a, b)
    val und = (k6 ++ k4 ++ Seq((6L, 11L), (6L, 12L), (21L, 22L), (22L, 23L),
      (23L, 24L), (21L, 24L), (21L, 23L), (31L, 32L)))
    val pairs = und.toDF("id_a", "id_b")
    val got = graft.api.Graph.pageRankUndirected(pairs, "id_a", "id_b", iterations = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val edges = und.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    val want = graft.api.Graph.pageRankFixedPoint(edges, "src", "dst", iterations = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want)
  }

  /** A seeded directed graph with sinks and sources, and its both-directions twin. */
  private def rankGraphs() = {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val directed = (0 until 300).map(_ => (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter { case (a, b) => a != b }.distinct
    val und = directed.flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct
    (directed.toDF("src", "dst"), und.toDF("src", "dst"))
  }

  private def rankMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("pageRankFixedPoint: the large-graph setup with broadcast degrees equals the small-graph path") {
    val (directed, und) = rankGraphs()
    for ((edges, symmetric) <- Seq(directed -> false, und -> true)) {
      val small = rankMap(graft.api.Graph.pageRankFixedPoint(edges, "src", "dst",
        iterations = 4, symmetric = symmetric))
      val large = rankMap(graft.api.Graph.pageRankFixedPoint(edges, "src", "dst",
        4, 850000L, symmetric, large = Some(true)))
      assert(small.size > 50)
      assert(large === small, s"symmetric = $symmetric")
    }
  }

  test("pageRankFixedPoint: the large-graph setup with shuffle-hash degrees equals the small-graph path") {
    val (directed, _) = rankGraphs()
    val small = rankMap(graft.api.Graph.pageRankFixedPoint(directed, "src", "dst", iterations = 4))
    val large = rankMap(graft.api.Graph.pageRankFixedPoint(directed, "src", "dst",
      4, 850000L, symmetric = false, large = Some(false)))
    assert(large === small)
  }

  test("pageRankFixedPoint: shuffle-hash round transport equals the broadcast rounds") {
    val (_, und) = rankGraphs()
    val small = rankMap(graft.api.Graph.pageRankFixedPoint(und, "src", "dst",
      iterations = 4, symmetric = true))
    val df = graft.api.Graph.pageRankFixedPoint(und, "src", "dst",
      4, 850000L, symmetric = true, large = Some(false))
    // every round's rank join is a shuffle-hash join, none broadcasts
    val nodes = graft.Profile.fingerprint(df.queryExecution.executedPlan)
    assert(nodes.getOrElse("ShuffledHashJoin", 0) === 3, nodes)
    assert(!nodes.contains("BroadcastHashJoin"), nodes)
    assert(rankMap(df) === small)
  }

  test("triangleCounts: unbroadcast quotient self-joins equal the broadcast ones") {
    import spark.implicits._
    // the clique-heavy graph above, plus seeded random edges among fresh
    // nodes so that the quotient holds triangles of its own
    val k6 = for (a <- 1L to 6L; b <- (a + 1) to 6L) yield (a, b)
    val k4 = for (a <- 11L to 14L; b <- (a + 1) to 14L) yield (a, b)
    val rnd = new scala.util.Random(5)
    val loose = (0 until 120).map(_ => (100L + rnd.nextInt(30), 100L + rnd.nextInt(30)))
      .collect { case (a, b) if a < b => (a, b) }
    val edges = (k6 ++ k4 ++ Seq((6L, 11L), (6L, 12L), (21L, 22L), (22L, 23L),
      (23L, 24L), (21L, 24L), (21L, 23L)) ++ loose).distinct.toDF("id_a", "id_b")
    def tri(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaBroadcast = tri(graft.api.Graph.triangleCounts(edges, "id_a", "id_b"))
    val unbroadcast = graft.api.Graph.triangleCounts(edges, "id_a", "id_b", Some(false))
    assert(viaBroadcast.size > 20)
    assert(tri(unbroadcast) === viaBroadcast)
  }

  test("q133: fixed-point PageRank matches an integer reference; hubs outrank leaves") {
    import spark.implicits._
    // star: 0 connected to 1..4, plus a 5-6 pair off to the side
    val undirected = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L), (5L, 6L))
    val edges = undirected.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("src", "dst")
    val got = graft.api.Graph.pageRankFixedPoint(edges, "src", "dst", iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // reference: same integer recurrence, driver-side
    val adj = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
    val outdeg = adj.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    var r = outdeg.keys.map(_ -> 1000000L).toMap
    (1 to 3).foreach { _ =>
      val contrib = adj.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => r(src) / outdeg(src) }.sum
      }
      r = outdeg.keys.map(k => k -> (150000L + 850000L * contrib.getOrElse(k, 0L) / 1000000L)).toMap
    }
    assert(got === r)
    // the star center accumulates rank from 4 leaves; leaves and the
    // isolated pair stay near the baseline
    assert(got(0L) > got(1L) && got(0L) > got(5L))
  }

  test("q128: harness spans are well-formed (within doc, >= window length)") {
    import spark.implicits._
    val lens = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", length($"text").as("len")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = DedupOps.q128DupSpans(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (id, n, chars) =
        (r.getAs[Long]("doc_id"), r.getAs[Long]("n_spans"), r.getAs[Long]("dup_chars"))
      assert(n >= 1 && chars >= 40 * n, s"doc $id: $n spans, $chars chars")
      assert(chars <= lens(id), s"doc $id: $chars > doc length ${lens(id)}")
    }
  }

  test("q318: power-iteration card is a valid unit spectral estimate") {
    val rows = SimilarityOps.q318PcaPower(spark, sf).collect()
    assert(rows.length === 5)
    val loads = rows.map(_.getAs[Double]("loading"))
    // ranked by |loading| descending; dominant loading sign-fixed positive
    assert(loads.head > 0)
    val mags = loads.map(math.abs)
    assert(mags.zip(mags.tail).forall { case (a, b) => a >= b - 1e-9 })
    // |loading| <= 1 for a unit vector; lambda1 positive and bounded by
    // the trace (explained share in (0, 1])
    assert(mags.forall(_ <= 1.0 + 1e-9))
    val l1 = rows.head.getAs[Double]("lambda1")
    val ex = rows.head.getAs[Double]("explained_share")
    assert(l1 > 0 && ex > 0 && ex <= 1.0)
  }

  test("q319: kNN-graph audit invariants (regular out-degree, bounded shares)") {
    val r = SimilarityOps.q319KnnGraphAudit(spark, sf).collect()(0)
    val (nodes, edges) = (r.getAs[Long]("n_nodes"), r.getAs[Long]("n_edges"))
    assert(nodes > 5, "sample must be non-trivial")
    assert(edges === nodes * 5, "every node has exactly k=5 out-edges")
    val ms = r.getAs[Double]("mutual_share")
    assert(ms >= 0.0 && ms <= 1.0)
    assert(r.getAs[Long]("max_indegree") >= 1L)
    val orphans = r.getAs[Long]("n_orphans")
    assert(orphans >= 0L && orphans < nodes)
  }
}
