package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Static kernels behind [[TextShingles]] / [[MinHashSigs]] — called from
  * generated code (Scala objects expose static forwarders), so the whole
  * shingle→signature pipeline stays inside whole-stage codegen with one
  * tight JVM pass per document instead of a chain of interpreted
  * higher-order functions (transform/slice/array_join/array_distinct each
  * allocate per element and break codegen).
  */
object ShingleOps {

  /** Distinct n-word shingles of `text`, split on single spaces with
    * trailing-empty tokens preserved — byte-for-byte the shingle set of
    * `array_distinct(transform(sequence(1, size(toks)-n+1),
    * i -> array_join(slice(toks, i, n), ' ')))` over
    * `split(text, ' ')`, which is also what the DuckDB oracle's
    * string_split/list_transform formulation produces. First-occurrence
    * order (order is never observable downstream: consumers take mins,
    * intersect sizes, or re-group).
    */
  def shingles(text: UTF8String, n: Int): ArrayData = {
    val toks = text.toString.split(" ", -1)
    if (toks.length < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String](toks.length * 2)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i <= toks.length - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(out)
  }

  private val HexDigits = "0123456789abcdef".toCharArray

  private def hex(digest: Array[Byte]): String = {
    val cs = new Array[Char](digest.length * 2)
    var i = 0
    while (i < digest.length) {
      cs(2 * i) = HexDigits((digest(i) >> 4) & 0xf)
      cs(2 * i + 1) = HexDigits(digest(i) & 0xf)
      i += 1
    }
    new String(cs)
  }

  /** 64-bit SimHash of a document in one pass, identical to the
    * relational formulation (distinct non-empty space-split tokens; per
    * token the first 16 md5 hex nibbles vote ±1 on each of 4 bit
    * positions; positive vote sums set bits; nibbles re-encode as 16
    * lowercase-hex chars in position order). Null when the text has no
    * non-empty token (those rows vanish from the groupBy formulation).
    */
  def simhash64(text: UTF8String): UTF8String = {
    val toks = text.toString.split(" ", -1)
    val seen = new java.util.HashSet[String](toks.length * 2)
    val votes = new Array[Int](64)
    val md = MessageDigest.getInstance("MD5")
    var any = false
    var t = 0
    while (t < toks.length) {
      val tok = toks(t)
      if (tok.nonEmpty && seen.add(tok)) {
        any = true
        md.reset()
        val digest = md.digest(tok.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        var p = 0
        while (p < 16) {
          // hex char p of the digest = high nibble of byte p/2 for even
          // p, low nibble for odd p
          val v = if ((p & 1) == 0) (digest(p >> 1) >> 4) & 0xf else digest(p >> 1) & 0xf
          var b = 0
          while (b < 4) {
            votes(p * 4 + b) += (if (((v >> b) & 1) == 1) 1 else -1)
            b += 1
          }
          p += 1
        }
      }
      t += 1
    }
    if (!any) return null
    val cs = new Array[Char](16)
    var p = 0
    while (p < 16) {
      var nib = 0
      var b = 0
      while (b < 4) {
        if (votes(p * 4 + b) > 0) nib |= 1 << b
        b += 1
      }
      cs(p) = HexDigits(nib)
      p += 1
    }
    UTF8String.fromString(new String(cs))
  }

  /** 8 minhash signatures of a shingle array: seeds 0–3 are the four
    * 8-hex-char slices of md5(sh), seeds 4–7 the slices of md5('x'‖sh) —
    * exactly `min(substring(md5(...), (s%4)*8+1, 8))` per seed (the
    * hash family the DuckDB oracle shares). Null on an empty array.
    */
  def minhashSigs(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n == 0) return null
    val mins = new Array[String](8)
    val md = MessageDigest.getInstance("MD5")
    var i = 0
    while (i < n) {
      val bytes = arr.getUTF8String(i).getBytes
      md.reset()
      val d1 = hex(md.digest(bytes))
      md.reset()
      md.update('x'.toByte)
      val d2 = hex(md.digest(bytes))
      var s = 0
      while (s < 4) {
        val sl1 = d1.substring(s * 8, s * 8 + 8)
        if (mins(s) == null || sl1.compareTo(mins(s)) < 0) mins(s) = sl1
        val sl2 = d2.substring(s * 8, s * 8 + 8)
        if (mins(s + 4) == null || sl2.compareTo(mins(s + 4)) < 0) mins(s + 4) = sl2
        s += 1
      }
      i += 1
    }
    new GenericArrayData(mins.map(m => UTF8String.fromString(m): Any))
  }
}

/** `text_shingles(text, n)` — distinct n-word shingle array, fully
  * codegen'd (see [[ShingleOps.shingles]]).
  */
case class TextShingles(child: Expression, n: Int) extends UnaryExpression
    with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "text_shingles"

  override def nullSafeEval(input: Any): Any =
    ShingleOps.shingles(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ShingleOps.shingles($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `minhash_sigs(sh_arr)` — the 8-seed minhash signature vector of a
  * shingle array in one codegen'd pass (see [[ShingleOps.minhashSigs]]).
  */
case class MinHashSigs(child: Expression) extends UnaryExpression
    with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true // empty shingle array → null
  override def prettyName: String = "minhash_sigs"

  override def nullSafeEval(input: Any): Any =
    ShingleOps.minhashSigs(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = graft.functions.ShingleOps.minhashSigs($c);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `simhash64(text)` — one-pass 64-bit SimHash fingerprint (see
  * [[ShingleOps.simhash64]]); null when the text has no non-empty token.
  */
case class Simhash64Expr(child: Expression) extends UnaryExpression
    with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any =
    ShingleOps.simhash64(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = graft.functions.ShingleOps.simhash64($c);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleFunctions {

  /** Shared n-argument extraction for both registration paths: accepts
    * a foldable positive int-range integral expression, fails loudly
    * otherwise (a silent default, a truncated long, or n < 1 would all
    * compute wrong-n shingles).
    */
  private[graft] def extractN(exprs: Seq[Expression]): Int = {
    val n = exprs.lift(1) match {
      case None => 4
      case Some(e) if e.foldable => e.eval(null) match {
        case i: Int => i
        case l: Long if l >= Int.MinValue && l <= Int.MaxValue => l.toInt
        case s: Short => s.toInt
        case b: Byte => b.toInt
        case other => throw new IllegalArgumentException(
          s"text_shingles: n must be an int-range integral literal, got $other")
      }
      case Some(e) => throw new IllegalArgumentException(
        s"text_shingles: n must be foldable, got $e")
    }
    if (n < 1) throw new IllegalArgumentException(
      s"text_shingles: n must be >= 1, got $n")
    n
  }

  def textShingles(text: Column, n: Int): Column =
    call_function("text_shingles", text, lit(n))

  def minhashSigs(shArr: Column): Column = call_function("minhash_sigs", shArr)

  def simhash64(text: Column): Column = call_function("simhash64", text)
}
