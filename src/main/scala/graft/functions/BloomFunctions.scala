package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.{call_function, xxhash64}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** SQL builders for Spark's OWN Bloom-filter expressions.
  *
  * `BloomFilterAggregate` / `BloomFilterMightContain` are the engine's
  * internal pair behind the runtime bloom-filter join optimization —
  * fully codegen'd, mergeable (partial aggregation works), built on
  * `org.apache.spark.util.sketch.BloomFilter` — but Spark does not list
  * them in the public function registry. The decontamination gate wants
  * exactly these semantics (probe a broadcast bitset before an exact
  * join), so exposing the existing expressions beats reimplementing
  * the sketch: same code path the optimizer itself trusts.
  *
  * SQL shapes, injected into every session by
  * [[graft.plans.GraftExtensions]] through these arity-checked builders:
  *   - `bloom_filter_agg(xxhash64(x)[, estimatedItems[, numBits]])` —
  *     aggregates LONG hashes into a binary Bloom filter column
  *   - `might_contain(bloom, xxhash64(x))` — membership probe; false
  *     positives possible (callers must verify exactly), false negatives
  *     impossible
  */
object BloomFunctions {

  /** Arity-checked builder for `bloom_filter_agg`. */
  val buildBloomFilterAgg: Seq[Expression] => Expression = { exprs =>
    require(exprs.size >= 1 && exprs.size <= 3,
      s"bloom_filter_agg takes 1 to 3 arguments, got ${exprs.size}")
    exprs.size match {
      case 1 => new BloomFilterAggregate(exprs.head)
      case 2 => new BloomFilterAggregate(exprs.head, exprs(1))
      case _ => new BloomFilterAggregate(exprs.head, exprs(1), exprs(2))
    }
  }

  /** Arity-checked builder for `might_contain`. */
  val buildMightContain: Seq[Expression] => Expression = { exprs =>
    require(exprs.size == 2,
      s"might_contain takes exactly 2 arguments, got ${exprs.size}")
    BloomFilterMightContain(exprs.head, exprs(1))
  }

  /** `might_contain(bytes, xxhash64(cols))`: the serialized filter rides
    * the plan as a one-row `Dataset.scalar()` subquery, so a probe needs
    * no catalog entry and no SQL string.
    */
  def mightContain(spark: SparkSession, bytes: Array[Byte], cols: Column*): Column = {
    import spark.implicits._
    call_function("might_contain", Seq(bytes).toDF("bf").scalar(), xxhash64(cols: _*))
  }
}
