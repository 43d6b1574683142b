package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.BinaryType

/** Every graft SQL function, registered one way: [[graft.GraftExtensions]]
  * injects [[all]] into every session of a cluster deployed with
  * `spark.sql.extensions=graft.GraftExtensions`, and [[ensure]] registers
  * the same entries on a session built without it (the Column-level
  * `apply(spark, …)` handles call it first).
  */
object GraftFunctions {
  type Builder = Seq[Expression] => Expression

  private def fn(cls: Class[_], name: String, usage: String)(builder: Builder)
      : (FunctionIdentifier, ExpressionInfo, Builder) =
    (FunctionIdentifier(name),
      new ExpressionInfo(cls.getCanonicalName, null, name, usage, ""), builder)

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(s"$what must be an int literal, got $other")
  }

  private def longLit(e: Expression, what: String): Long = e match {
    case Literal(v: Long, _) => v
    case Literal(v: Int, _) => v.toLong
    case other => throw new IllegalArgumentException(s"$what must be a long literal, got $other")
  }

  val all: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] = Seq(
    fn(classOf[CosineSim], "cosine_sim",
      "cosine_sim(a, b) - cosine similarity of two float vectors") { args =>
      CosineSim(args(0), args(1))
    },
    fn(classOf[SrpBucket], "srp_bucket",
      "srp_bucket(v, bits, seed) - sign-random-projection LSH bucket " +
        "(bits and seed are literals)") { args =>
      SrpBucket(args(0), intLit(args(1), "bits"), longLit(args(2), "seed"))
    },
    fn(classOf[SrpBucketProbes], "srp_bucket_probes",
      "srp_bucket_probes(v, bits, seed, nprobe) - the srp_bucket value plus its " +
        "nprobe margin-ranked 1-bit-flip neighbors (bits, seed, nprobe are literals)") { args =>
      SrpBucketProbes(args(0), intLit(args(1), "bits"), longLit(args(2), "seed"),
        intLit(args(3), "nprobe"))
    },
    fn(classOf[SimHash64], "simhash64",
      "simhash64(hashes) - 64-bit SimHash signature over shingle hashes") { args =>
      SimHash64(args(0))
    },
    fn(classOf[MinHash32], "minhash32",
      "minhash32(hashes) - 32-permutation MinHash signature over shingle hashes") { args =>
      MinHash32(args(0))
    },
    fn(classOf[BloomMightContain], "bloom_might_contain",
      "bloom_might_contain(col, filter_bytes) - Bloom-filter membership probe " +
        "(filter bytes are a binary literal)") { args =>
      require(args.length == 2,
        s"bloom_might_contain expects 2 arguments (column, filter bytes), got ${args.length}")
      val bytes = args(1) match {
        case Literal(b: Array[Byte], BinaryType) => b
        case other => throw new IllegalArgumentException(
          s"filter bytes must be a binary literal, got $other")
      }
      BloomMightContain(args(0), BloomImage.of(SparkSession.active, bytes))
    })

  /** Idempotently register [[all]] in the session's function registry. */
  def ensure(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    // Quiet idempotence: skip what is already registered — replacing
    // logs a per-query WARN that swamps the bench tail.
    all.foreach { case (id, info, builder) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, builder)
    }
  }
}
