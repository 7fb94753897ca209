package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Tests of the custom function surface: the codegen'd VectorDot
  * expression (vs the interpreted higher-order-function fold), the TopK
  * aggregator, and the rolling-hash math.
  */
class FunctionsSpec extends SparkSpec {

  test("VectorDot: bit-identical to the zip_with/aggregate fold on real embeddings") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").limit(100)
      .select($"vec_id", $"embedding".as("a"), $"embedding".as("b"))
    val cmp = emb.withColumn("native", expr("vector_dot(a, b)"))
      .withColumn("hof", expr(graft.operators.SimilarityOps.hofDot("a", "b")))
      .filter($"native" =!= $"hof")
    assert(cmp.count() === 0)
  }

  test("VectorDot: null in, null out") {
    import spark.implicits._
    val df = Seq((Some(Array(1.0f, 2.0f)), Option.empty[Array[Float]]))
      .toDF("a", "b")
      .select(expr("vector_dot(a, b)").as("d"))
    assert(df.head().isNullAt(0))
  }

  test("VectorDot: mismatched lengths → null (same as the HOF fold)") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f)))
      .toDF("a", "b")
      .select(expr("vector_dot(a, b)").as("native"),
        expr(graft.operators.SimilarityOps.hofDot("a", "b")).as("hof"))
    val row = df.head()
    assert(row.isNullAt(0) && row.isNullAt(1))
  }

  test("charEntropy: known distributions, SQL surface, null passthrough") {
    // uniform over k symbols → log2(k) bits; single symbol → 0
    assert(TextHash.charEntropy("") === 0.0)
    assert(TextHash.charEntropy("aaaa") === 0.0)
    assert(math.abs(TextHash.charEntropy("abab") - 1.0) < 1e-12)
    assert(math.abs(TextHash.charEntropy("abcdabcd") - 2.0) < 1e-12)
    // 3/4 vs 1/4 split: H = -(3/4)log2(3/4) - (1/4)log2(1/4)
    val expected = -(0.75 * math.log(0.75) + 0.25 * math.log(0.25)) / math.log(2.0)
    assert(math.abs(TextHash.charEntropy("aaab") - expected) < 1e-12)

    import spark.implicits._
    val rows = Seq((1L, Some("abab")), (2L, None))
      .toDF("id", "t")
      .select($"id", expr("char_entropy(t)").as("h"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(rows(1L) === Some(1.0))
    assert(rows(2L) === None)
  }

  test("TopKAggregator: exact top-k regardless of partitioning") {
    import spark.implicits._
    val topk = udaf(new TopKAggregator(3))
    val data = (1L to 1000L).map(i => ("g" + (i % 4), i, (i * 37 % 1001).toDouble))
    val got = data.toDF("g", "id", "score").repartition(13)
      .groupBy($"g").agg(topk($"id", $"score").as("top"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[org.apache.spark.sql.Row](1).map(x => (x.getLong(0), x.getDouble(1))))
      .toMap
    val want = data.groupBy(_._1).view.mapValues(
      _.map(t => (t._2, t._3)).sortBy(x => (-x._2, x._1)).take(3)).toMap
    assert(got === want)
  }

  test("rollingHashes: each window hash equals polyHash of that substring") {
    val s = "the quick brown fox jumps over the lazy dog"
    val w = 7
    val hs = TextHash.rollingHashes(s, w)
    assert(hs.length === s.length - w + 1)
    hs.zipWithIndex.foreach { case (h, i) =>
      assert(h === TextHash.polyHash(s.substring(i, i + w)), s"window $i")
    }
  }

  test("minRollingHash: invariant under content-preserving relocation of a window") {
    val a = "aaaa_MARKER_WINDOW_bbbb"
    val b = "bbbb_MARKER_WINDOW_aaaa"
    // the window content exists in both; min over all windows of the
    // shared 14-char region is present in both hash sets
    val shared = TextHash.rollingHashes("_MARKER_WINDOW_", 8).toSet
    assert(TextHash.rollingHashes(a, 8).toSet.intersect(shared) === shared)
    assert(TextHash.rollingHashes(b, 8).toSet.intersect(shared) === shared)
  }

  private def jwRef(a: String, b: String): Double = {
    // independent reference implementation (textbook formulation, list-based)
    val (la, lb) = (a.length, b.length)
    if (la == 0 && lb == 0) return 1.0
    if (la == 0 || lb == 0) return 0.0
    val w = math.max(0, math.max(la, lb) / 2 - 1)
    val mb = Array.fill(lb)(false)
    val matchedA = a.indices.flatMap { i =>
      ((math.max(0, i - w)) until math.min(lb, i + w + 1))
        .find(j => !mb(j) && b(j) == a(i)).map { j => mb(j) = true; (i, j) }
    }
    val m = matchedA.size
    if (m == 0) return 0.0
    val bOrder = matchedA.map(_._2).sorted
    val t = matchedA.map(_._1).map(a.charAt)
      .zip(bOrder.map(b.charAt)).count { case (x, y) => x != y } / 2
    val jaro = (m.toDouble / la + m.toDouble / lb + (m - t).toDouble / m) / 3.0
    if (jaro > 0.7) {
      val l = a.take(4).zip(b.take(4)).takeWhile { case (x, y) => x == y }.size
      jaro + 0.1 * l * (1.0 - jaro)
    } else jaro
  }

  test("jaroWinkler: known values, symmetry, bounds, identity, null passthrough") {
    import spark.implicits._
    // classic textbook pairs
    assert(math.abs(StringSimOps.jaroWinkler(
      org.apache.spark.unsafe.types.UTF8String.fromString("martha"),
      org.apache.spark.unsafe.types.UTF8String.fromString("marhta")) - 0.9611111111111111) < 1e-12)
    assert(math.abs(StringSimOps.jaroWinkler(
      org.apache.spark.unsafe.types.UTF8String.fromString("dixon"),
      org.apache.spark.unsafe.types.UTF8String.fromString("dicksonx")) - 0.8133333333333332) < 1e-12)
    val rows = spark.read.parquet(s"$sf/documents.parquet").limit(60)
      .select(lower(substring($"text", 1, 30)).as("a")).collect().map(_.getString(0))
    for (x <- rows.take(20); y <- rows.take(20)) {
      val u = org.apache.spark.unsafe.types.UTF8String.fromString(x)
      val v = org.apache.spark.unsafe.types.UTF8String.fromString(y)
      val s = StringSimOps.jaroWinkler(u, v)
      assert(s >= 0.0 && s <= 1.0)
      assert(s === StringSimOps.jaroWinkler(v, u), s"symmetry on ($x, $y)")
      assert(math.abs(s - jwRef(x, y)) < 1e-12, s"ref mismatch on ($x, $y)")
      if (x == y) assert(s === 1.0)
    }
    // SQL surface + codegen path + null passthrough
    val df = Seq(("martha", "marhta"), (null, "x")).toDF("a", "b")
      .withColumn("jw", expr("jaro_winkler(a, b)"))
    val got = df.collect()
    assert(math.abs(got(0).getDouble(2) - 0.9611111111111111) < 1e-12)
    assert(got(1).isNullAt(2))
  }
}
