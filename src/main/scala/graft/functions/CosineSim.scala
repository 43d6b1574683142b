package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for cosine similarity over two
  * `array<float>` columns (SURVEY.md §2b L3/X1 upgrade path: UDF →
  * codegen Expression).
  *
  * Why not the `zip_with`+`aggregate` HOF composition (VectorOps.cosine):
  * higher-order functions are interpreted per element — three lambda
  * invocations per dimension per row. This expression participates in
  * whole-stage codegen: `doGenCode` emits one fused Java loop
  * accumulating dot/‖a‖/‖b‖ in doubles, no per-element allocation, no
  * codegen fence. Accumulation order is ascending-index, bit-identical
  * to both the HOF form and DuckDB's list_dot_product oracle.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects (array<float>, array<float>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  /** NULL (not NaN / silent truncation) on degenerate input — this must
    * match both the HOF form (VectorOps.cosine: Spark's non-ANSI Divide
    * yields NULL on /0, and a null element nulls the whole lambda
    * chain) and DuckDB's SQL `/`:
    *  - zero-norm vector: raw `dot/(√na·√nb)` would be NaN, and NaN
    *    sorts ABOVE every double under `desc`, so one zero vector would
    *    silently top every cosine top-k;
    *  - length mismatch: truncating to min(n) silently scores garbage —
    *    mismatched embeddings are not comparable;
    *  - null ELEMENT: getFloat on a null slot reads garbage (0.0f for
    *    UnsafeArrayData) — treating it as zero silently skews the
    *    score, so a null element nulls the result like the HOF form.
    * eval and doGenCode are kept branch-for-branch identical.
    */
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    if (na == 0.0 || nb == 0.0) null
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $xi = (double) $a.getFloat($i);
         |    double $yi = (double) $b.getFloat($i);
         |    $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |  }
         |  if (!${ev.isNull}) {
         |    if ($na == 0.0 || $nb == 0.0) {
         |      ${ev.isNull} = true;
         |    } else {
         |      ${ev.value} = $dot / (Math.sqrt($na) * Math.sqrt($nb));
         |    }
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

object CosineSim {
  /** Column-level handle for `cosine_sim`. */
  def apply(spark: SparkSession, a: Column, b: Column): Column = {
    GraftFunctions.ensure(spark)
    call_function("cosine_sim", a, b)
  }
}
