package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** Native codegen Bloom-filter membership probe over a string column
  * (SURVEY.md §2b L8/X1 upgrade path: UDF → codegen Expression — the
  * same progression as [[CosineSim]]/[[MinHash32]]/[[SimHash64]]).
  *
  * Why not a Scala UDF over the broadcast sketch (the pre-r16 shape):
  * a UDF is a codegen FENCE — Spark materializes an InternalRow, boxes
  * the argument to a java.lang.String, and calls through the UDF
  * wrapper per row, splitting the train-side filter stage out of
  * whole-stage codegen. (Spark's own BloomFilterMightContain expression
  * behind runtime-filter injection isn't registrable for public use —
  * the reason the UDF existed.) This expression stays INSIDE the fused
  * loop: the generated code calls [[mightContain]] on a plan-shipped
  * reference — one virtual call per row, no boxing: the UTF8String's
  * UTF-8 bytes feed `mightContainBinary` directly, which is exactly
  * what `mightContainString` hashes (it converts String → UTF-8 bytes),
  * so probe semantics are bit-identical to the UDF it replaces.
  *
  * The filter rides the expression as a [[BloomImage]] — a BROADCAST
  * handle with content equality, not the raw byte array: the codegen
  * references array is java-serialized into EVERY task binary of every
  * stage the probe appears in, so a multi-megabyte sketch must ship
  * once per executor via the broadcast machinery (the pre-r17 shape
  * serialized the bytes per query), and `Array[Byte]`'s reference
  * equality would stop two semantically identical probes from ever
  * canonicalizing for subexpression reuse.
  */
case class BloomMightContain(child: Expression, image: BloomImage)
    extends UnaryExpression {

  @transient private lazy val bloom: BloomFilter =
    BloomFilter.readFrom(new java.io.ByteArrayInputStream(image.bytes))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType | org.apache.spark.sql.types.LongType =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bloom_might_contain expects a string or bigint column, got ${other.simpleString}")
  }
  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain"

  /** The per-row probe the generated code calls (also the eval path). */
  def mightContain(s: UTF8String): Boolean =
    bloom.mightContainBinary(s.getBytes)

  /** Long-key probe — matches what `stat.bloomFilter` over a bigint
    * column `put` (`putLong`), so probe semantics stay bit-identical to
    * the builder for hashed-shingle keys.
    */
  def mightContain(v: Long): Boolean = bloom.mightContainLong(v)

  override def nullSafeEval(input: Any): Any = child.dataType match {
    case StringType => mightContain(input.asInstanceOf[UTF8String])
    case _ => mightContain(input.asInstanceOf[Long])
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      // Reference the EXPRESSION (child + broadcast handle — small),
      // not the decoded BloomFilter: the codegen references array is
      // java-serialized into the task binary, and the sketch impl's
      // Java-serializability is not a documented contract. The call
      // dispatches by the child's JVM type (UTF8String vs long), so the
      // same reference works for both key encodings.
      val ref = ctx.addReferenceObj("bloomProbe", this,
        classOf[BloomMightContain].getName)
      s"${ev.value} = $ref.mightContain($s);"
    })

  override protected def withNewChildInternal(newChild: Expression): BloomMightContain =
    copy(child = newChild)
}

/** A Bloom filter's serialized image, shipped by BROADCAST (once per
  * executor, fetched lazily by the first task that needs it) and
  * compared by CONTENT (SHA-256 of the bytes) so two probes built from
  * identical sketches are `equal` and canonicalize — which an
  * `Array[Byte]` case-class field (reference equality) never would.
  * The task binary carries only this handle; `bytes` resolves through
  * the broadcast on both driver and executors.
  */
final class BloomImage private (
    val bcast: Broadcast[Array[Byte]], private val sha: Seq[Byte])
    extends Serializable {
  def bytes: Array[Byte] = bcast.value
  override def equals(o: Any): Boolean = o match {
    case b: BloomImage => sha == b.sha
    case _ => false
  }
  override def hashCode: Int = sha.hashCode
  override def toString: String =
    s"bloom:${sha.take(6).map(b => f"${b & 0xff}%02x").mkString}"
}

object BloomImage {
  // Content-keyed broadcast reuse: the SQL function builder runs on
  // every analyzer fixed-point iteration, and each distinct sketch must
  // map to ONE broadcast, not one per resolution pass. Keyed by
  // (application, content hash) so a restarted context never resurrects
  // a dead broadcast handle.
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(String, Seq[Byte]), BloomImage]()

  def of(spark: SparkSession, bytes: Array[Byte]): BloomImage = {
    val sha = java.security.MessageDigest.getInstance("SHA-256").digest(bytes).toSeq
    cache.computeIfAbsent((spark.sparkContext.applicationId, sha),
      _ => new BloomImage(spark.sparkContext.broadcast(bytes), sha))
  }
}

object BloomMightContain {
  /** Column-level handle: probe `col` against the serialized filter. */
  def apply(spark: SparkSession, col: Column, filter: BloomFilter): Column = {
    GraftFunctions.ensure(spark)
    val baos = new java.io.ByteArrayOutputStream()
    filter.writeTo(baos)
    call_function("bloom_might_contain", col, lit(baos.toByteArray))
  }
}
