package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The native TextShingles/MinHashSigs expressions must be semantically
  * identical to the built-in higher-order-function formulations they
  * replaced (which in turn hash-match the DuckDB oracle).
  */
class ShingleExprSpec extends SparkSpec {

  test("text_shingles equals the transform/slice/array_join/array_distinct formulation") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .withColumn("toks", split($"text", " "))
      .filter(size($"toks") >= 4)
      .withColumn("hof", expr(
        "array_distinct(transform(sequence(1, size(toks) - 3), i -> array_join(slice(toks, i, 4), ' ')))"))
      .withColumn("native", ShingleFunctions.textShingles($"text", 4))
    // same SET per doc (native preserves first-occurrence order too, but
    // only set equality is contractual)
    val bad = docs.filter(
      size(array_except($"hof", $"native")) > 0 ||
        size(array_except($"native", $"hof")) > 0 ||
        size($"hof") =!= size($"native")).count()
    assert(bad === 0)
    assert(docs.count() > 0)
  }

  test("text_shingles drops docs with fewer than n tokens via empty array") {
    import spark.implicits._
    val df = Seq("a b c", "a b c d", "", "a  b c d").toDF("text")
      .select($"text", ShingleFunctions.textShingles($"text", 4).as("sh"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[String](1))
      .toMap
    assert(df("a b c").isEmpty)
    assert(df("a b c d") === Seq("a b c d"))
    assert(df("").isEmpty)
    // consecutive spaces produce an empty token, as split(text, ' ') does
    assert(df("a  b c d") === Seq("a  b c", " b c d"))
  }

  test("simhash64 kernel equals the explode/groupBy relational formulation") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val fused = graft.api.Dedup.simhash64(docs, "doc_id", "text")
    val relational = graft.api.Dedup.simhash64Relational(docs, "doc_id", "text")
    val mismatches = fused.as("f").join(relational.as("r"), "doc_id")
      .filter($"f.simhash64" =!= $"r.simhash64").count()
    assert(mismatches === 0)
    assert(fused.count() === relational.count())
    // no-nonempty-token rows drop out of both formulations
    val empty = graft.api.Dedup.simhash64(
      Seq((1L, ""), (2L, "  "), (3L, "a b")).toDF("doc_id", "text"), "doc_id", "text")
    assert(empty.select($"doc_id").as[Long].collect().toSeq === Seq(3L))
  }

  test("minhash_sigs equals the md5-slice min formulation per seed") {
    import spark.implicits._
    val base = spark.read.parquet(s"$sf/documents.parquet")
      .withColumn("toks", split($"text", " "))
      .filter(size($"toks") >= 4)
      .withColumn("sh_arr", expr(
        "array_distinct(transform(sequence(1, size(toks) - 3), i -> array_join(slice(toks, i, 4), ' ')))"))
    val hofCols = (0 until 8).map { s =>
      val d = if (s < 4) "md5(s)" else "md5(concat('x', s))"
      expr(s"array_min(transform(sh_arr, s -> substring($d, ${(s % 4) * 8 + 1}, 8)))").as(s"h$s")
    }
    val df = base
      .withColumn("sigs", ShingleFunctions.minhashSigs($"sh_arr"))
      .select(col("doc_id") +: col("sigs") +: hofCols: _*)
    val bad = df.filter((0 until 8)
        .map(s => col("sigs").getItem(s) =!= col(s"h$s"))
        .reduce(_ || _))
      .count()
    assert(bad === 0)
    assert(df.count() > 0)
  }
}
