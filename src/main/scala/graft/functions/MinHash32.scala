package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** 32-permutation MinHash signature over an array of (shingle) hashes as
  * a native codegen expression — the SimHash64 pattern applied to the #1
  * bench cost (the l2 MinHash queries' interpreted nested-HOF fold:
  * 32 × |shingles| lambda-eval'd xxhash64 calls per row).
  *
  * EXACTLY the SQL fold it replaces:
  * `transform(sequence(0, 31), i -> array_min(transform(sh, h -> xxhash64(h, i))))`
  * Spark's `xxhash64(h, i)` chains XXH64 over its children from seed 42:
  * `hashInt(i, hashLong(h, 42))`. The fused loop hoists the per-shingle
  * `hashLong` out of the 32-permutation inner loop (the fold recomputes
  * it per permutation), so equal output, ~n + 32n hash ops instead of
  * 2 × 32n interpreted lambda frames.
  *
  * Empty input (a guarded short doc) yields NULL — callers exclude those
  * rows up front (`size(sh) > 0`); the fold's [null × 32] carries no
  * usable signature either. A NULL ELEMENT mirrors xxhash64's null
  * handling (null children are skipped, leaving the chain at seed 42),
  * so the bit-equivalence with the SQL fold holds even when the input
  * array type carries containsNull=true.
  */
case class MinHash32(child: Expression) extends UnaryExpression {

  private val NumPerm = MinHash32.NumPerm

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash32 expects array<bigint>, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash32"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return null
    val mins = Array.fill(NumPerm)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h1 = if (arr.isNullAt(i)) 42L else XXH64.hashLong(arr.getLong(i), 42L)
      var p = 0
      while (p < NumPerm) {
        val v = XXH64.hashInt(p, h1)
        if (v < mins(p)) mins(p) = v
        p += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val xxh = classOf[XXH64].getName
      val n = ctx.freshName("n")
      val mins = ctx.freshName("mins")
      val i = ctx.freshName("i")
      val p = ctx.freshName("p")
      val h1 = ctx.freshName("h1")
      val hv = ctx.freshName("hv")
      s"""
         |int $n = $v.numElements();
         |if ($n == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  long[] $mins = new long[$NumPerm];
         |  java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |  for (int $i = 0; $i < $n; $i++) {
         |    long $h1 = $v.isNullAt($i) ? 42L : $xxh.hashLong($v.getLong($i), 42L);
         |    for (int $p = 0; $p < $NumPerm; $p++) {
         |      long $hv = $xxh.hashInt($p, $h1);
         |      if ($hv < $mins[$p]) $mins[$p] = $hv;
         |    }
         |  }
         |  ${ev.value} =
         |    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($mins);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHash32 =
    copy(child = newChild)
}

object MinHash32 {
  /** Signature length. Consumers that slice bands or normalize match
    * counts (SimilarityQueries) derive from THIS constant — the emitted
    * array length and its downstream arithmetic cannot drift apart.
    */
  val NumPerm = 32

  def apply(spark: SparkSession, v: Column): Column = {
    GraftFunctions.ensure(spark)
    call_function("minhash32", v)
  }
}
