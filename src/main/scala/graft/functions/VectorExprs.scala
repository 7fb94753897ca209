package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType, StructField, StructType}

/** Native Catalyst expression for the float-embedding dot product — the
  * one hot-path operation the built-in surface only covers via
  * `zip_with`+`aggregate` higher-order functions, which are interpreted
  * (no whole-stage codegen) and allocate per row. This expression stays
  * inside codegen: a tight primitive loop over the two ArrayData, summing
  * left-to-right in double — bit-identical to the HOF fold (and to the
  * DuckDB oracle's list_dot_product over DOUBLE[] casts).
  *
  * Null semantics: null if either side is null (nullIntolerant) OR the
  * lengths differ — the same result the zip_with/aggregate fold produces
  * (zip_with pads the shorter side with nulls, which poison the sum).
  *
  * Element types: each side may independently be array<float>,
  * array<double>, or array<int> (the per-side accessor is resolved once
  * from the child dataType — floats/ints promote to double exactly, so a
  * float corpus dotted against double k-means centroids needs no
  * cast-and-copy of the corpus column). Any other element type is an
  * ANALYSIS error, not silent bit-reinterpretation garbage.
  */
case class VectorDot(left: Expression, right: Expression) extends BinaryExpression {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true // mismatched lengths → null
  override def prettyName: String = "vector_dot"

  private def elemType(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(t @ (DoubleType | FloatType | IntegerType), _) => Some(t)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemType(left).isDefined && elemType(right).isDefined) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>, array<double>, or array<int> arguments, " +
        s"got ${left.dataType.simpleString} and ${right.dataType.simpleString}")

  // accessor per side, resolved once from the element type
  private def reader(t: DataType): (ArrayData, Int) => Double = t match {
    case DoubleType => (a, i) => a.getDouble(i)
    case FloatType => (a, i) => a.getFloat(i).toDouble
    case _ => (a, i) => a.getInt(i).toDouble
  }
  @transient private lazy val readL = reader(elemType(left).get)
  @transient private lazy val readR = reader(elemType(right).get)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) null
    else {
      var s = 0.0
      var i = 0
      while (i < n) {
        s += readL(x, i) * readR(y, i)
        i += 1
      }
      s
    }
  }

  private def genRead(t: DataType, arr: String, i: String): String = t match {
    case DoubleType => s"$arr.getDouble($i)"
    case FloatType => s"(double)$arr.getFloat($i)"
    case _ => s"(double)$arr.getInt($i)"
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (i, n, s) = (ctx.freshName("i"), ctx.freshName("n"), ctx.freshName("s"))
      val xv = genRead(elemType(left).get, a, i)
      val yv = genRead(elemType(right).get, b, i)
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $s += $xv * $yv;
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Integer twin of [[VectorDot]] for QUANTIZED embeddings
  * (array<int> from [[graft.api.Similarity.quantizeInt8]]): products and
  * the running sum stay in long (int8-quantized components are ≤127 in
  * magnitude, so a 64-dim dot is ≤ ~10⁶ — exact), surfaced as double.
  * Because every partial sum is an exactly-representable integer, the
  * result is bit-identical in ANY summation order and in any engine —
  * the determinism that makes the quantized-kNN oracle (q91) hashable
  * with no rounding.
  */
case class VectorDotInt(left: Expression, right: Expression) extends BinaryExpression {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true // mismatched lengths → null
  override def prettyName: String = "vector_dot_int"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(IntegerType, _), ArrayType(IntegerType, _)) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<int> arguments (quantized embeddings), " +
        s"got ${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) null
    else {
      var s = 0L
      var i = 0
      while (i < n) {
        s += x.getInt(i).toLong * y.getInt(i).toLong
        i += 1
      }
      s.toDouble
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (i, n, s) = (ctx.freshName("i"), ctx.freshName("n"), ctx.freshName("s"))
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $s = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $s += (long)$a.getInt($i) * (long)$b.getInt($i);
         |  }
         |  ${ev.value} = (double)$s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Static kernel behind [[QuantizeInt8Expr]] — called from generated
  * code, so per-vector quantization is one tight primitive loop instead
  * of the interpreted transform/array_max/filter HOF chain it replaces
  * (which measured ~3.5× slower over the corpus; the ShingleOps
  * pattern).
  */
object VectorKernels {

  /** Symmetric int8 quantization of a float/double array: (scale, q_emb,
    * n_clipped), or null when the vector has no finite nonzero scale —
    * any NaN/Inf component, a zero vector, or a NULL component. The
    * null-component case is a deliberate STRICTER departure from the HOF
    * chain this kernel replaced (which kept the row with null q
    * components — components that would then bit-garble any integer dot
    * product): the q87/q91 oracles mirror the drop explicitly. For
    * non-null finite inputs the arithmetic `floor(x/scale + 0.5)` is
    * the same IEEE double sequence as the HOF/DuckDB formulation, so
    * oracle hashes are unchanged.
    */
  def quantizeInt8(arr: ArrayData, isDouble: Boolean): InternalRow = {
    val n = arr.numElements()
    var maxabs = 0.0
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      val v = if (isDouble) arr.getDouble(i) else arr.getFloat(i).toDouble
      if (java.lang.Double.isNaN(v) || java.lang.Double.isInfinite(v)) return null
      val a = math.abs(v)
      if (a > maxabs) maxabs = a
      i += 1
    }
    if (maxabs == 0.0) return null
    val scale = maxabs / 127
    val q = new Array[Int](n)
    var clipped = 0L
    i = 0
    while (i < n) {
      val v = if (isDouble) arr.getDouble(i) else arr.getFloat(i).toDouble
      val qi = math.floor(v / scale + 0.5).toInt
      q(i) = qi
      if (qi == 127 || qi == -127) clipped += 1
      i += 1
    }
    InternalRow(scale, new GenericArrayData(q), clipped)
  }
}

/** `quantize_int8(emb)` — struct(scale, q_emb, n_clipped) in one
  * codegen'd pass over an array<float> or array<double> column (see
  * [[VectorKernels.quantizeInt8]]); null for vectors with no finite
  * nonzero scale.
  */
case class QuantizeInt8Expr(child: Expression) extends UnaryExpression {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  override def dataType: DataType = StructType(Seq(
    StructField("scale", DoubleType, nullable = false),
    StructField("q_emb", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("n_clipped", LongType, nullable = false)))
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true // degenerate vectors → null
  override def prettyName: String = "quantize_int8"

  @transient private lazy val isDouble = child.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<float> or array<double> argument, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    VectorKernels.quantizeInt8(input.asInstanceOf[ArrayData], isDouble)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = graft.functions.VectorKernels.quantizeInt8($c, $isDouble);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VectorFunctions {
  /** Column-level dot product (`vector_dot`, injected by
    * [[graft.plans.GraftExtensions]]).
    */
  def vectorDot(a: Column, b: Column): Column = call_function("vector_dot", a, b)
}
