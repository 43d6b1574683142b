package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** 64-bit SimHash over an array of (shingle) hashes as a native codegen
  * expression: bit b of the result is set iff Σ over hashes of
  * (±1 by hash bit b) is positive. Integer-only, so it is EXACTLY the
  * nested SQL `aggregate` fold it replaces — which was the cost center
  * of the SimHash query (64 × |shingles| interpreted lambda evals per
  * row); here it is one fused 64×n loop inside whole-stage codegen.
  * A NULL ELEMENT is an absent shingle: it contributes nothing to any
  * bit count (safe under containsNull=true input types).
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash64 expects array<bigint>, got ${other.simpleString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val counts = new Array[Int](64)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = arr.getLong(i)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val n = ctx.freshName("n")
      val counts = ctx.freshName("counts")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val h = ctx.freshName("h")
      val sig = ctx.freshName("sig")
      s"""
         |int $n = $v.numElements();
         |int[] $counts = new int[64];
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($v.isNullAt($i)) continue;
         |  long $h = $v.getLong($i);
         |  for (int $b = 0; $b < 64; $b++) {
         |    if ((($h >>> $b) & 1L) == 1L) $counts[$b]++; else $counts[$b]--;
         |  }
         |}
         |long $sig = 0L;
         |for (int $b = 0; $b < 64; $b++) {
         |  if ($counts[$b] > 0) $sig |= (1L << $b);
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {
  def apply(spark: SparkSession, v: Column): Column = {
    GraftFunctions.ensure(spark)
    call_function("simhash64", v)
  }
}
