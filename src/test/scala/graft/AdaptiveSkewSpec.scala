package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** AQE skew handling — the runtime answer to hot keys at 100 TB
  * (SURVEY.md §7 risk: "skewed keys → salting or AQE skew-join").
  * With thresholds scaled down to test size, AQE must split the hot
  * partition of a skewed sort-merge join instead of letting one task
  * process the whole key.
  */
class AdaptiveSkewSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("AQE splits the skewed side of a sort-merge join") {
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      // 50k rows of key 1 (hot) + 5k uniform keys on the left; small right.
      val left = spark.range(50000).select(lit(1L).as("k"), rand(7).as("pad"))
        .union(spark.range(5000).select(($"id" % 500 + 2).as("k"), rand(11).as("pad")))
      val right = spark.range(501).select(($"id" + 1).as("k"), lit("dim").as("name"))
      // NOTE: no same-key aggregate downstream — AQE (correctly) refuses
      // to skew-split a join whose hash partitioning a downstream
      // operator reuses, since splitting duplicates partition data.
      // Keep `pad` in the output: column pruning would otherwise strip it
      // before the shuffle, and a constant-key, single-column partition
      // compresses below any skew threshold.
      val joined = left.join(right, Seq("k")).select($"k", $"name", $"pad")
      // Execute THIS DataFrame's QueryExecution (any derived Dataset —
      // .agg, even .as[] — builds a separate plan and would leave this
      // one un-finalized).
      val rows = joined.collect()
      assert(rows.length == 55000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), s"no skew-split in final AQE plan:\n$plan")
    } finally {
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("SkewOps.saltedInnerJoin splits a hot key across salt buckets, same result") {
    // 10k rows of one hot key + 1k uniform; the dim side is small but
    // "not broadcastable" by assumption (that's the salting use case).
    val big = spark.range(10000).select(lit(42L).as("k"), ($"id" % 100).as("v"))
      .union(spark.range(1000).select(($"id" % 50).as("k"), ($"id" % 100).as("v")))
    val dim = spark.range(50).select($"id".as("k"), concat(lit("d"), $"id").as("name"))
      .union(Seq((42L, "hot")).toDF("k", "name"))
    val salted = graft.operators.SkewOps.saltedInnerJoin(big, dim, "k", salts = 8)
    val plain = big.join(dim, Seq("k"))
    // Identical output — salting is physical-plan surgery only.
    assert(salted.groupBy($"k", $"name").count().orderBy($"k").collect().toSeq ==
      plain.groupBy($"k", $"name").count().orderBy($"k").collect().toSeq)
    // The plan replicates the dim side (Generate/explode) and joins on
    // the composite (key, salt) — no broadcast, or the demo is vacuous.
    val plan = salted.queryExecution.executedPlan.toString
    assert(plan.contains("__graft_salt"), s"salt key missing from plan:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"), s"dim side broadcast:\n$plan")
    // And the hot key's rows really spread: re-derive the salted big
    // side and count distinct salts for key 42.
    val saltsUsed = big
      .withColumn("s", pmod(monotonically_increasing_id(), lit(8L)).cast("int"))
      .filter($"k" === 42).select(countDistinct($"s")).as[Long].head()
    assert(saltsUsed == 8L, s"hot key landed in $saltsUsed salt buckets")
  }

  test("runtime Bloom-filter join pruning injects a bloom filter on the big side") {
    // The third 100 TB join lever after broadcast and salting: a
    // selective filter on the small side becomes a runtime
    // bloom_filter_agg broadcast to the big side's scan, discarding
    // non-joining rows BEFORE the shuffle. Thresholds scaled to test
    // size; creation-side/application-side byte gates are the knobs.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    val dir = java.nio.file.Files.createTempDirectory("graft_bloom").toString
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      // File-based relations (bloom injection requires scan stats).
      spark.range(200000).select($"id".as("k"), ($"id" % 1000).as("v"))
        .write.mode("overwrite").parquet(s"$dir/big")
      spark.range(200000).select($"id".as("k"), ($"id" % 7).as("tag"))
        .write.mode("overwrite").parquet(s"$dir/small")
      val big = spark.read.parquet(s"$dir/big")
      val small = spark.read.parquet(s"$dir/small").filter($"tag" === 3)
      val q = big.join(small, Seq("k")).groupBy($"tag").agg(count(lit(1)).as("n"))
      val optimized = q.queryExecution.optimizedPlan.toString
      assert(optimized.contains("bloom_filter"),
        s"no runtime bloom filter injected:\n$optimized")
      assert(q.as[(Long, Long)].collect().toSeq == Seq((3L, 28571L)))
    } finally {
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("GraftExtensions installs and SQL native functions resolve") {
    new GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
    graft.functions.GraftFunctions.ensure(spark)
    val r = spark.sql(
      "SELECT round(cosine_sim(array(CAST(1 AS FLOAT), CAST(0 AS FLOAT)), " +
        "array(CAST(1 AS FLOAT), CAST(0 AS FLOAT))), 6) AS c")
      .as[Double].head()
    assert(r == 1.0)
    val sig = spark.sql(
      "SELECT simhash64(array(CAST(7 AS BIGINT), CAST(9 AS BIGINT))) AS s, " +
        "size(minhash32(array(CAST(7 AS BIGINT), CAST(9 AS BIGINT)))) AS n")
      .as[(Long, Int)].head()
    assert(sig._2 == graft.functions.MinHash32.NumPerm)
  }

  test("a GraftExtensions session resolves every graft function with no per-session call") {
    // A fresh session has nothing registered on it: only the functions
    // the extension injected can resolve.
    val s = spark.newSession()
    val bloom = org.apache.spark.util.sketch.BloomFilter.create(100, 0.03)
    bloom.putLong(7L)
    val bytes = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bytes)
    val hex = bytes.toByteArray.map(b => "%02X".format(b & 0xff)).mkString
    assert(s.sql(s"SELECT bloom_might_contain(id, X'$hex') FROM range(7, 8)")
      .head().getBoolean(0))
    assert(s.sql("SELECT size(srp_bucket_probes(array(CAST(1 AS FLOAT), " +
      "CAST(0 AS FLOAT)), 8, 7001L, 2))").head().getInt(0) == 3)
    // Non-literal bits: the builder names the argument it refuses.
    val e = intercept[Throwable] {
      s.sql("SELECT srp_bucket(array(CAST(1 AS FLOAT)), CAST(id AS INT), 1L) " +
        "FROM range(1)").collect()
    }
    assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists(t =>
      t.isInstanceOf[IllegalArgumentException] &&
        t.getMessage.contains("bits must be an int literal")),
      s"expected the named IllegalArgumentException, got $e")
  }
}
