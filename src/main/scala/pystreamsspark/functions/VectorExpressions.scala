package pystreamsspark.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native (codegen'd) vector math over `array<float>` columns.
  *
  * The higher-order-function formulations in `llm.Similarity` evaluate an
  * interpreted lambda per element and traverse the arrays once per
  * aggregate (dot, |a|, |b| = 3 passes). These Catalyst expressions emit
  * a single fused Java loop inside WholeStageCodegen — one pass, no
  * lambda dispatch, no intermediate arrays — the (b)-tier extension point
  * of SURVEY.md §2.9 (custom `Expression` beats UDF).
  *
  * Determinism contract: identical IEEE op sequence to the HOF forms and
  * to the DuckDB oracle — widen each float to double, multiply, then
  * accumulate left-to-right — so swapping implementations cannot change
  * any oracle-compared bit.
  */
abstract class VecBinaryExpression extends BinaryExpression {
  override def dataType: DataType = DoubleType
  // ExpectsInputTypes is sql-private; validate inputs manually. Each side
  // may independently be array<float> or array<double> (e.g. a float
  // embedding against a double k-means centroid): floats are widened to
  // double exactly, doubles pass through — so the accumulation sequence,
  // and therefore every produced bit, is identical to the HOF forms.
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  protected def isFloatArr(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  protected def elem(fl: Boolean, arr: ArrayData, i: Int): Double =
    if (fl) arr.getFloat(i).toDouble else arr.getDouble(i)
  protected def elemCode(fl: Boolean, arr: String, i: String): String =
    if (fl) s"((double) $arr.getFloat($i))" else s"$arr.getDouble($i)"
}

/** dot(a, b) = Σ (double)a_i * (double)b_i, sequential. */
case class VecDot(left: Expression, right: Expression) extends VecBinaryExpression {
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val fx = isFloatArr(left); val fy = isFloatArr(right)
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += elem(fx, x, i) * elem(fy, y, i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ${elemCode(isFloatArr(left), a, i)} * ${elemCode(isFloatArr(right), b, i)};
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** cosine(a, b) = dot / (sqrt(Σa²) * sqrt(Σb²)) in ONE fused pass. */
case class VecCosine(left: Expression, right: Expression) extends VecBinaryExpression {
  override def prettyName: String = "vec_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val fx = isFloatArr(left); val fy = isFloatArr(right)
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = elem(fx, x, i)
      val yv = elem(fy, y, i)
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = ${elemCode(isFloatArr(left), a, i)};
         |  double $yv = ${elemCode(isFloatArr(right), b, i)};
         |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorExpressions {
  val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("vec_dot",
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      (es: Seq[Expression]) => VecDot(es(0), es(1))),
    ("vec_cosine",
      new ExpressionInfo(classOf[VecCosine].getName, "vec_cosine"),
      (es: Seq[Expression]) => VecCosine(es(0), es(1))),
    MinHashSig.registryEntry,
    ShingleHash.registryEntry,
    ShingleStrings.registryEntry,
    LshBucket.registryEntry,
    SigAgree.registryEntry,
    SortedInterCount.registryEntry)

  /** Idempotent session-level registration (the extensions class does the
    * same at session build time; this covers sessions built without it).
    * A name already bound to this builder is left alone, so repeated
    * calls replace nothing in the session's function registry. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (name, _, builder) =>
      if (!registry.lookupFunctionBuilder(FunctionIdentifier(name)).exists(_ eq builder))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
