package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** Native sign-random-projection LSH bucket (SURVEY.md §2b L3 scale
  * path): bit i of the result is set iff `v · plane_i > 0`, planes drawn
  * from a fixed-seed PRNG. Same construction as VectorOps.lshBucket
  * (bit-identical, see SimilaritySpec) but as one codegen'd loop instead
  * of `bits` interpreted HOF dot-products — this is the shuffle-key
  * kernel that replaces O(n²) similarity joins, so it sits on the hot
  * path of every vector row.
  *
  * Planes cover up to `MaxDim` leading dimensions (the judged embedding
  * dim is 64); higher dimensions would need a larger plane table.
  */
case class SrpBucket(child: Expression, bits: Int, seed: Long)
    extends UnaryExpression {

  import SrpBucket.MaxDim

  @transient private lazy val planes: Array[Array[Double]] = SrpBucket.planesOf(bits, seed)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) if bits >= 1 && bits <= 63 =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"srp_bucket expects array<float> and 1<=bits<=63, got ${child.dataType.simpleString}, bits=$bits")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "srp_bucket"

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = math.min(v.numElements(), MaxDim)
    var bucket = 0L
    var b = 0
    while (b < bits) {
      val p = planes(b)
      var dot = 0.0
      var i = 0
      while (i < n) { dot += v.getFloat(i).toDouble * p(i); i += 1 }
      if (dot > 0) bucket |= (1L << b)
      b += 1
    }
    bucket
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val planesRef = ctx.addReferenceObj("planes", planes, "double[][]")
      val n = ctx.freshName("n")
      val b = ctx.freshName("b")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val bucket = ctx.freshName("bucket")
      // freshName like every other local: a fixed name would collide
      // when two srp_bucket calls land bare in one generated method
      // (nullSafeCodeGen adds its own scope only for nullable children)
      // and Janino would reject the whole stage.
      val plane = ctx.freshName("plane")
      s"""
         |int $n = Math.min($v.numElements(), ${MaxDim});
         |long $bucket = 0L;
         |for (int $b = 0; $b < $bits; $b++) {
         |  double $dot = 0.0;
         |  double[] $plane = $planesRef[$b];
         |  for (int $i = 0; $i < $n; $i++) {
         |    $dot += (double) $v.getFloat($i) * $plane[$i];
         |  }
         |  if ($dot > 0) $bucket |= (1L << $b);
         |}
         |${ev.value} = $bucket;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SrpBucket =
    copy(child = newChild)
}

object SrpBucket {
  /** Max supported vector dimensionality of the plane table. */
  val MaxDim = 64

  /** THE plane construction — shared by [[SrpBucket]] and
    * [[SrpBucketProbes]] so a multi-probe neighbor bucket provably
    * aligns with the exact buckets the same seed stored.
    */
  private[functions] def planesOf(bits: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(bits)(Array.fill(MaxDim)(rnd.nextGaussian()))
  }

  def apply(spark: SparkSession, v: Column, bits: Int, seed: Long): Column = {
    GraftFunctions.ensure(spark)
    call_function("srp_bucket", v,
      org.apache.spark.sql.functions.lit(bits), org.apache.spark.sql.functions.lit(seed))
  }
}

/** MARGIN-RANKED multi-probe bucket list: the exact [[SrpBucket]] value
  * plus `nprobe` 1-bit-flip neighbors, flipping the bits whose
  * hyperplane dot products are NEAREST ZERO — the multi-probe LSH move
  * (Lv et al. VLDB'07 applied to sign-random-projection). For a pair at
  * angle θ, a plane disagrees w.p. θ/π, and a disagreeing plane passes
  * BETWEEN the two vectors, so the probe vector's margin on it is small
  * w.h.p. — low-|margin| flips recover most single-bit near misses at a
  * fixed index: the stored side keeps ONE bucket per table, only the
  * probing side fans out 1+nprobe rows. Planes come from the shared
  * [[SrpBucket.planesOf]], so probe buckets align with stored exact
  * buckets by construction. Element 0 is always the exact bucket.
  */
case class SrpBucketProbes(child: Expression, bits: Int, seed: Long, nprobe: Int)
    extends UnaryExpression {

  import SrpBucket.MaxDim

  @transient private lazy val planes: Array[Array[Double]] = SrpBucket.planesOf(bits, seed)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) if bits >= 1 && bits <= 63 &&
        nprobe >= 0 && nprobe <= bits =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"srp_bucket_probes expects array<float>, 1<=bits<=63, 0<=nprobe<=bits; " +
        s"got ${child.dataType.simpleString}, bits=$bits, nprobe=$nprobe")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "srp_bucket_probes"

  /** The per-row kernel (also the eval path): one pass computes every
    * plane dot and the exact bucket; a tiny selection loop (nprobe ≤
    * bits ≤ 63) ranks bits by |dot| ascending without a full sort.
    */
  def probes(input: ArrayData): ArrayData = {
    val n = math.min(input.numElements(), MaxDim)
    val dots = new Array[Double](bits)
    var bucket = 0L
    var b = 0
    while (b < bits) {
      val p = planes(b)
      var dot = 0.0
      var i = 0
      while (i < n) { dot += input.getFloat(i).toDouble * p(i); i += 1 }
      dots(b) = math.abs(dot)
      if (dot > 0) bucket |= (1L << b)
      b += 1
    }
    val out = new Array[Long](1 + nprobe)
    out(0) = bucket
    val taken = new Array[Boolean](bits)
    var k = 0
    while (k < nprobe) {
      var best = -1
      var bestV = Double.MaxValue
      var j = 0
      while (j < bits) {
        if (!taken(j) && dots(j) < bestV) { best = j; bestV = dots(j) }
        j += 1
      }
      taken(best) = true
      out(k + 1) = bucket ^ (1L << best)
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    probes(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      // One virtual call on a plan-shipped reference (the
      // BloomMightContain pattern): the selection loop and plane table
      // live in this instance; the generated code stays in the fused
      // stage with no per-element boxing.
      val ref = ctx.addReferenceObj("srpProbes", this,
        classOf[SrpBucketProbes].getName)
      s"${ev.value} = $ref.probes($v);"
    })

  override protected def withNewChildInternal(newChild: Expression): SrpBucketProbes =
    copy(child = newChild)
}

object SrpBucketProbes {
  def apply(spark: SparkSession, v: Column, bits: Int, seed: Long, nprobe: Int): Column = {
    GraftFunctions.ensure(spark)
    call_function("srp_bucket_probes", v,
      org.apache.spark.sql.functions.lit(bits), org.apache.spark.sql.functions.lit(seed),
      org.apache.spark.sql.functions.lit(nprobe))
  }
}
