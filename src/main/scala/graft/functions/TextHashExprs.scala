package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** UTF8String-accepting forwarders over the pure-Scala [[TextHash]]
  * kernels, called from generated code (Scala objects expose static
  * forwarders) — the same static-forwarder kernel treatment as
  * [[ShingleOps]], replacing the boxed per-row Scala UDFs the q47
  * rolling-fingerprint query originally used (a ScalaUDF is
  * codegen-opaque: it breaks the whole-stage span and boxes every
  * argument and result).
  */
object TextHashOps {
  def polyHash(s: UTF8String): Long = TextHash.polyHash(s.toString)
  def minRollingHash(s: UTF8String, w: Int): Long = TextHash.minRollingHash(s.toString, w)
  def charEntropy(s: UTF8String): Double = TextHash.charEntropy(s.toString)
}

/** `poly_hash(text)` — polynomial (Karp–Rabin) hash of the whole string,
  * fully codegen'd (see [[TextHash.polyHash]]).
  */
case class PolyHashExpr(child: Expression) extends UnaryExpression
    with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "poly_hash"

  override def nullSafeEval(input: Any): Any =
    TextHashOps.polyHash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextHashOps.polyHash($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `min_rolling_hash(text, w)` — the minimum length-`w` rolling window
  * hash (winnowing-style fingerprint; falls back to the whole-string
  * hash for texts shorter than the window — see
  * [[TextHash.minRollingHash]]).
  */
case class MinRollingHashExpr(child: Expression, w: Int) extends UnaryExpression
    with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "min_rolling_hash"

  override def nullSafeEval(input: Any): Any =
    TextHashOps.minRollingHash(input.asInstanceOf[UTF8String], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextHashOps.minRollingHash($c, $w);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `char_entropy(text)` — Shannon entropy (bits) of the code-point
  * distribution, one codegen'd pass per document (see
  * [[TextHash.charEntropy]]).
  */
case class CharEntropyExpr(child: Expression) extends UnaryExpression
    with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "char_entropy"

  override def nullSafeEval(input: Any): Any =
    TextHashOps.charEntropy(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextHashOps.charEntropy($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TextHashFunctions {

  /** Window-size extraction: a foldable positive int-range integral
    * expression, loud failure otherwise (a silent default, a truncated
    * long, or a non-positive window would all fingerprint with the
    * wrong window).
    */
  private[graft] def extractW(exprs: Seq[Expression]): Int = {
    val w = exprs.lift(1) match {
      case None => 32
      case Some(e) if e.foldable => e.eval(null) match {
        case i: Int => i
        case l: Long if l >= Int.MinValue && l <= Int.MaxValue => l.toInt
        case s: Short => s.toInt
        case b: Byte => b.toInt
        case other => throw new IllegalArgumentException(
          s"min_rolling_hash: w must be an int-range integral literal, got $other")
      }
      case Some(e) => throw new IllegalArgumentException(
        s"min_rolling_hash: w must be foldable, got $e")
    }
    if (w < 1) throw new IllegalArgumentException(
      s"min_rolling_hash: w must be >= 1, got $w")
    w
  }

  private def arity(name: String, exprs: Seq[Expression], min: Int, max: Int): Unit =
    if (exprs.size < min || exprs.size > max)
      throw new IllegalArgumentException(
        s"$name expects $min to $max arguments, got ${exprs.size}")

  /** Arity-checked builders of the session extension
    * ([[graft.plans.GraftExtensions]]) — extra arguments fail loudly
    * instead of being silently ignored.
    */
  private[graft] def buildPolyHash(exprs: Seq[Expression]): Expression = {
    arity("poly_hash", exprs, 1, 1)
    PolyHashExpr(exprs.head)
  }

  private[graft] def buildMinRollingHash(exprs: Seq[Expression]): Expression = {
    arity("min_rolling_hash", exprs, 1, 2)
    MinRollingHashExpr(exprs.head, extractW(exprs))
  }

  private[graft] def buildCharEntropy(exprs: Seq[Expression]): Expression = {
    arity("char_entropy", exprs, 1, 1)
    CharEntropyExpr(exprs.head)
  }

  def polyHash(text: Column): Column = call_function("poly_hash", text)

  def minRollingHash(text: Column, w: Int): Column =
    call_function("min_rolling_hash", text, lit(w))

  def charEntropy(text: Column): Column = call_function("char_entropy", text)
}
