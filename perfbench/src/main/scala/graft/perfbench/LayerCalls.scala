package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, xxhash64}

import graft.Tables
import graft.functions.{BloomMightContain, CosineSim, MinHash32, SimHash64, SrpBucket}
import graft.operators.{ConnectedComponents, KMeansCodebook}

/** Direct timed calls into the public entry points of single layers
  * (`graft.operators`, `graft.functions`, `graft.Tables`), on the llm
  * inputs, after the traced passes. Each call is one span; job counts
  * come from the listener events inside the call's interval.
  */
object LayerCalls {
  final case class Call(name: String, startUs: Long, endUs: Long, rows: Long) {
    def seconds: Double = (endUs - startUs) / 1e6
  }
  final case class Result(calls: Seq[Call], spans: Seq[Span], ivfRecallAt10: Double)
  object Result { val empty: Result = Result(Nil, Nil, 0.0) }

  private val Reps = 2

  def run(spark: SparkSession, data: String, runId: String, now: () => Long): Result = {
    val calls = ArrayBuffer[Call]()
    def timed(name: String, rows: Long)(body: => Unit): Unit = {
      val t0 = now()
      body
      calls += Call(name, t0, now(), rows)
    }
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    val emb = Tables.embeddings(spark, data)
    timed("operators.kmeans_train", 0)(KMeansCodebook.train(emb, 16, 3).collect())
    // Order→customer edges: a forest of stars, one per customer. The
    // first 50 000 orders stay under the default threshold (100 000
    // edges) and take the driver union-find path; all of them under a
    // tiny threshold take the iterative label-propagation path.
    val edges = Tables.orders(spark, data)
      .select(col("o_orderkey").as("i"), (col("o_custkey") + 1000000000L).as("j"))
    timed("operators.cc_small", 0)(ConnectedComponents.run(edges.where(col("i") < 50000)).collect())
    timed("operators.cc_large", 0)(ConnectedComponents.run(edges, smallGraphThreshold = 1000).collect())

    val docs = Tables.documents(spark, data).crossJoin(spark.range(20).toDF("rep"))
      .select(expr("transform(split(text, ' '), t -> xxhash64(t))").as("toks"),
        xxhash64(col("text"), col("rep")).as("h"), col("rep"))
      .persist()
    val vecs = emb.crossJoin(spark.range(50).toDF("rep")).select(col("embedding")).persist()
    val nDocs = docs.count()
    val nVecs = vecs.count()
    val bloom = docs.filter(col("rep") % 2 === 0).stat.bloomFilter("h", nDocs / 2 + 1, 0.03)
    val kernels: Seq[(String, Long, () => DataFrame)] = Seq(
      ("functions.minhash32", nDocs, () => docs.select(MinHash32(spark, col("toks")))),
      ("functions.simhash64", nDocs, () => docs.select(SimHash64(spark, col("toks")))),
      ("functions.srp_bucket", nVecs, () => vecs.select(SrpBucket(spark, col("embedding"), 16, 1L))),
      ("functions.cosine_sim", nVecs, () => vecs.select(CosineSim(spark, col("embedding"), col("embedding")))),
      ("functions.bloom_might_contain", nDocs, () => docs.select(BloomMightContain(spark, col("h"), bloom))))
    for ((name, n, df) <- kernels; _ <- 1 to Reps) timed(name, n)(noop(df()))
    docs.unpersist()
    vecs.unpersist()

    val recall = annRecallAt10(spark, data)

    for (_ <- 1 to Reps) timed("tables.table", 0)(Tables.all.foreach(t => Tables.table(spark, data, t)))
    // A new session has no registered views, so the call does the work a
    // SQL-entry row's first registration does.
    for (_ <- 1 to Reps) {
      val fresh = spark.newSession()
      timed("tables.register_all", 0)(Tables.registerAll(fresh, data))
    }
    spark.catalog.clearCache()

    val spans = calls.zipWithIndex.map { case (c, i) =>
      Span(s"$runId/call$i", s"$runId/layer_calls", "layer_call", c.name, c.startUs, c.endUs)
    }.toSeq
    Result(calls.toSeq, spans, recall)
  }

  /** IVF top-10 overlap with the exact top-10 on the natural corpus: the
    * computation of Bench's quality block.
    */
  private def annRecallAt10(spark: SparkSession, data: String): Double = {
    val exact = graft.queries.SimilarityQueries.l3CosineTopK.fn(spark, data)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val e = Tables.embeddings(spark, data).persist()
    val ivf = graft.queries.SimilarityQueries.ivfTopK(spark, e, e)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    e.unpersist()
    (exact & ivf).size / 10.0
  }
}
