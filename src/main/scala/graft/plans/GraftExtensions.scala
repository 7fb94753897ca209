package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{CharEntropyExpr, MinHashSigs, MinRollingHashExpr, PolyHashExpr, QuantizeInt8Expr, ShingleFunctions, Simhash64Expr, TextHashFunctions, TextShingles, VectorDot, VectorDotInt}

/** The one registry of graft's function surface: injects its 12
  * functions into every session built through
  * [[graft.SparkEntry.configure]] (or with
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions`, the
  * standard way to ship Catalyst extensions with a library), so both the
  * Column helpers (`call_function`) and SQL text like
  * `SELECT vector_dot(a, b)` resolve with no per-call registration.
  *
  * Deliberately minimal: per SURVEY.md §4/§7.3, every operator semantics
  * in this engine is expressible with Catalyst's existing optimizer —
  * predicate pushdown, column pruning, broadcast selection, AQE, and
  * WindowGroupLimit (two-phase ranked-window top-k) all fire on our plans
  * without custom rules, so no `Rule[LogicalPlan]`/`SparkStrategy` is
  * injected. The genuine gaps are the codegen'd hot-path kernels: the
  * embedding dot product ([[graft.functions.VectorDot]]) and the fused
  * dedup shingle/minhash pipeline ([[graft.functions.TextShingles]],
  * [[graft.functions.MinHashSigs]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("vector_dot"),
      new ExpressionInfo(classOf[VectorDot].getName, "vector_dot"),
      (exprs: Seq[Expression]) => VectorDot(exprs.head, exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("vector_dot_int"),
      new ExpressionInfo(classOf[VectorDotInt].getName, "vector_dot_int"),
      (exprs: Seq[Expression]) => VectorDotInt(exprs.head, exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("quantize_int8"),
      new ExpressionInfo(classOf[QuantizeInt8Expr].getName, "quantize_int8"),
      (exprs: Seq[Expression]) => QuantizeInt8Expr(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("text_shingles"),
      new ExpressionInfo(classOf[TextShingles].getName, "text_shingles"),
      (exprs: Seq[Expression]) => TextShingles(exprs.head,
        ShingleFunctions.extractN(exprs))))
    ext.injectFunction((
      FunctionIdentifier("minhash_sigs"),
      new ExpressionInfo(classOf[MinHashSigs].getName, "minhash_sigs"),
      (exprs: Seq[Expression]) => MinHashSigs(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[Simhash64Expr].getName, "simhash64"),
      (exprs: Seq[Expression]) => Simhash64Expr(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("poly_hash"),
      new ExpressionInfo(classOf[PolyHashExpr].getName, "poly_hash"),
      TextHashFunctions.buildPolyHash))
    ext.injectFunction((
      FunctionIdentifier("min_rolling_hash"),
      new ExpressionInfo(classOf[MinRollingHashExpr].getName, "min_rolling_hash"),
      TextHashFunctions.buildMinRollingHash))
    ext.injectFunction((
      FunctionIdentifier("char_entropy"),
      new ExpressionInfo(classOf[CharEntropyExpr].getName, "char_entropy"),
      TextHashFunctions.buildCharEntropy))
    ext.injectFunction((
      FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(
        classOf[graft.functions.JaroWinklerExpr].getName, "jaro_winkler"),
      graft.functions.StringSimFunctions.buildJaroWinkler))
    // Spark's own Bloom pair (internal, unregistered): the
    // decontamination gate's pre-filter — shared arity-checked builders
    // in graft.functions.BloomFunctions
    ext.injectFunction((
      FunctionIdentifier("bloom_filter_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "bloom_filter_agg"),
      graft.functions.BloomFunctions.buildBloomFilterAgg))
    ext.injectFunction((
      FunctionIdentifier("might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "might_contain"),
      graft.functions.BloomFunctions.buildMightContain))
  }
}
