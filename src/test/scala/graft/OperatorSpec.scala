package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit coverage per §2b category over literal fixtures with
  * hand-computed expected output (SURVEY.md §5b item 2).
  */
class OperatorSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val orders = Seq(
    // (orderkey, custkey, price)
    (1L, 10L, 100.0), (2L, 10L, 50.0), (3L, 11L, 75.0), (4L, 12L, 20.0)
  ).toDF("o_orderkey", "o_custkey", "o_totalprice")

  private lazy val customers = Seq(
    (10L, "A"), (11L, "B"), (13L, "C")
  ).toDF("c_custkey", "c_seg")

  test("J1/J2 inner join matches only shared keys") {
    val j = orders.join(customers, $"o_custkey" === $"c_custkey")
    assert(j.count() == 3)
    assert(j.filter($"c_seg" === "A").count() == 2)
  }

  test("J3 left outer null-extends missing dimension rows") {
    val j = customers.join(orders, $"c_custkey" === $"o_custkey", "left_outer")
    assert(j.count() == 4) // A×2, B×1, C×null
    assert(j.filter($"o_orderkey".isNull).select($"c_seg").as[String].collect().toSeq == Seq("C"))
  }

  test("J4/J5 semi and anti join partition the left side") {
    val semi = customers.join(orders, $"c_custkey" === $"o_custkey", "left_semi")
    val anti = customers.join(orders, $"c_custkey" === $"o_custkey", "left_anti")
    assert(semi.count() + anti.count() == customers.count())
    assert(anti.select($"c_seg").as[String].collect().toSeq == Seq("C"))
  }

  test("A1 grouped aggregate computes exact partial+final sums") {
    val g = orders.groupBy($"o_custkey").agg(sum($"o_totalprice").as("s"), count(lit(1)).as("n"))
      .orderBy($"o_custkey")
      .as[(Long, Double, Long)].collect().toSeq
    assert(g == Seq((10L, 150.0, 2L), (11L, 75.0, 1L), (12L, 20.0, 1L)))
  }

  test("A5 rollup emits per-group rows plus grand total") {
    val r = orders.rollup($"o_custkey").agg(sum($"o_totalprice").as("s"))
    assert(r.count() == 4) // 3 groups + total
    assert(r.filter($"o_custkey".isNull).select($"s").as[Double].head() == 245.0)
  }

  test("W1 row_number is dense and per-partition") {
    val w = Window.partitionBy($"o_custkey").orderBy($"o_totalprice".desc)
    val top = orders.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
    assert(top.count() == 3)
    assert(top.filter($"o_custkey" === 10L).select($"o_orderkey").as[Long].head() == 1L)
  }

  test("T4 top-k equals the prefix of the full sort") {
    val full = orders.orderBy($"o_totalprice".desc, $"o_orderkey").select($"o_orderkey")
      .as[Long].collect().toSeq
    val topk = orders.orderBy($"o_totalprice".desc, $"o_orderkey").limit(2).select($"o_orderkey")
      .as[Long].collect().toSeq
    assert(topk == full.take(2))
  }

  test("U1-U4 set-op algebra: counts compose") {
    val a = orders.filter($"o_totalprice" >= 50).select($"o_custkey")
    val b = orders.filter($"o_totalprice" < 80).select($"o_custkey")
    assert(a.union(b).count() == a.count() + b.count())
    assert(a.intersect(b).count() == 2) // custkeys {10, 11}
    assert(a.except(b).count() == 0)    // a's keys {10,11} ⊆ b's {10,11,12}
    assert(b.except(a).count() == 1)    // custkey 12 only reaches b
  }

  test("F7 null handling: coalesce/nullif round-trip") {
    val df = Seq((Some(1.0), "x"), (None, "y")).toDF("v", "k")
    val out = df.select(coalesce($"v", lit(-1.0)).as("c")).as[Double].collect().toSet
    assert(out == Set(1.0, -1.0))
  }

  test("A4 dedup is idempotent (dedup ∘ dedup = dedup)") {
    val dup = orders.union(orders)
    val once = dup.dropDuplicates("o_orderkey")
    val twice = once.dropDuplicates("o_orderkey")
    assert(once.count() == orders.count() && twice.count() == once.count())
  }

  test("ConnectedComponents finds exact components on a fixture graph") {
    // {1,2,3,4} chained, {10,11} pair, {20,21,22} triangle
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("i", "j")
    val cc = graft.operators.ConnectedComponents.run(edges)
      .as[(Long, Long)].collect().toMap
    assert(cc == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("ConnectedComponents: local union-find and iterative propagation agree on random graphs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 5) {
      val n = 30 + trial * 10
      val edges = Seq.fill(n)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
        .filter(e => e._1 != e._2).toDF("i", "j")
      val local = graft.operators.ConnectedComponents
        .run(edges) // below threshold -> single-task union-find
        .as[(Long, Long)].collect().toMap
      val iter = graft.operators.ConnectedComponents
        .run(edges, smallGraphThreshold = 0) // force iterative
        .as[(Long, Long)].collect().toMap
      assert(local == iter, s"trial $trial: paths disagree")
    }
  }

  test("ConnectedComponents: both paths emit (bigint, bigint) for int edges") {
    val edges = Seq((1, 2), (2, 3)).toDF("i", "j") // IntegerType columns
    val local = graft.operators.ConnectedComponents.run(edges)
    val iter = graft.operators.ConnectedComponents.run(edges, smallGraphThreshold = 0)
    import org.apache.spark.sql.types.LongType
    assert(local.schema.fields.map(_.dataType).toSeq == Seq(LongType, LongType),
      s"local path schema: ${local.schema.simpleString}")
    assert(iter.schema.fields.map(_.dataType).toSeq == Seq(LongType, LongType),
      s"iterative path schema: ${iter.schema.simpleString}")
    assert(local.as[(Long, Long)].collect().toMap ==
      iter.as[(Long, Long)].collect().toMap)
  }

  test("ConnectedComponents: non-convergence fails loudly, never returns wrong labels") {
    // Path graph of diameter 6 needs ~6 rounds; maxIter=2 must throw,
    // not return intermediate (split) components.
    val path = (1L to 6L).sliding(2).map(s => (s(0), s(1))).toSeq.toDF("i", "j")
    val e = intercept[IllegalStateException] {
      graft.operators.ConnectedComponents
        .run(path, maxIter = 2, smallGraphThreshold = 0)
        .collect()
    }
    assert(e.getMessage.contains("did not converge"))
    // With enough rounds the same graph converges to one component.
    val ok = graft.operators.ConnectedComponents
      .run(path, maxIter = 10, smallGraphThreshold = 0)
      .as[(Long, Long)].collect().toMap
    assert(ok.values.toSet == Set(1L))
  }

  test("cosine_sim: a null ELEMENT nulls the score (matches the HOF form)") {
    graft.functions.GraftFunctions.ensure(spark)
    val r = spark.sql(
      """SELECT
        |  cosine_sim(array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT)),
        |             array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))) AS with_null,
        |  cosine_sim(array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)),
        |             array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS clean
        |""".stripMargin).head()
    assert(r.isNullAt(0), "null element must null the result, not score as 0.0")
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
  }

  test("srp_bucket: two calls in one codegen'd projection compile (no fallback)") {
    graft.functions.GraftFunctions.ensure(spark)
    // Non-nullable array children emit BARE codegen bodies into one
    // method — a fixed local name would collide and kick the whole
    // stage out of codegen. fallback=false turns that into a hard
    // error instead of a silent WARN.
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val rows = spark.range(0, 8).selectExpr(
        "srp_bucket(array(CAST(id AS FLOAT), CAST(id + 1 AS FLOAT)), 8, 7001L) AS b1",
        "srp_bucket(array(CAST(id * 2 AS FLOAT), CAST(id AS FLOAT)), 8, 7001L) AS b2")
        .collect()
      assert(rows.length == 8)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
      case None => spark.conf.unset("spark.sql.codegen.fallback")
    }
  }

  test("TopK.perGroup: 0.0 and -0.0 group keys are ONE group (float normalization)") {
    val df = Seq((0.0, 1L), (-0.0, 2L), (0.0, 3L), (1.5, 4L)).toDF("g", "v")
    val got = graft.plans.TopK.perGroup(df, Seq($"g"), Seq($"v".desc), 2)
      .as[(Double, Long)].collect().toSeq
    val zeroGroup = got.filter(_._1 == 0.0).map(_._2).sorted
    assert(zeroGroup == Seq(2L, 3L),
      s"0.0/-0.0 must collapse to one group keeping top-2 of {1,2,3}, got $got")
    assert(got.filter(_._1 == 1.5).map(_._2) == Seq(4L))
  }

  test("A6: approx_count_distinct is within rsd bounds of exact") {
    val df = (1 to 5000).map(i => (i % 700L)).toDF("v")
    val r = df.agg(
      approx_count_distinct($"v", 0.02).as("approx"),
      countDistinct($"v").as("exact")).head()
    val (approx, exact) = (r.getLong(0), r.getLong(1))
    assert(exact == 700L)
    assert(math.abs(approx - exact).toDouble / exact <= 0.06,
      s"approx=$approx exact=$exact") // 3x rsd margin, deterministic sketch
  }

  test("observe() collects pipeline metrics without a second pass") {
    // At 100 TB the row-count / sum telemetry a pipeline wants must NOT
    // cost an extra scan: Observation piggybacks accumulators on the
    // one job that already runs.
    val obs = org.apache.spark.sql.Observation("corpus_stats")
    val df = (1 to 1000).map(i => (i.toLong, i % 10)).toDF("id", "bucket")
      .observe(obs, count(lit(1)).as("n_rows"), sum($"bucket").as("bucket_sum"))
      .filter($"bucket" === 3)
    assert(df.count() == 100)
    val m = obs.get
    assert(m("n_rows") == 1000L, s"metrics: $m") // observed PRE-filter
    assert(m("bucket_sum") == (1 to 1000).map(_ % 10).sum.toLong)
  }

  test("count-min sketch: estimates overcount-bounded (never undercount)") {
    import spark.implicits._
    // Zipf-ish key frequencies: key k appears 1000/k times.
    val data = (1 to 50).flatMap(k => Seq.fill(1000 / k)(s"k$k")).toDF("key")
    val n = data.count()
    val eps = 0.01
    val cms = data.stat.countMinSketch("key", eps = eps, confidence = 0.99, seed = 42)
    val exact = data.groupBy("key").count().as[(String, Long)].collect().toMap
    exact.foreach { case (k, cnt) =>
      val est = cms.estimateCount(k)
      assert(est >= cnt, s"CMS undercounted $k: $est < $cnt") // structural guarantee
      assert(est <= cnt + (eps * n).toLong, s"CMS overcount above eps*N for $k: $est vs $cnt")
    }
  }

  test("bloom filter: no false negatives; FPR near the configured bound") {
    import spark.implicits._
    val present = (1 to 2000).map(i => s"id$i")
    val bf = present.toDF("v").stat.bloomFilter("v", expectedNumItems = 2000, fpp = 0.03)
    assert(present.forall(bf.mightContain), "bloom filter false negative")
    val absentHits = (1 to 5000).map(i => s"absent$i").count(bf.mightContain)
    // 3% nominal; allow generous slack for hash variance at this size.
    assert(absentHits <= 5000 * 0.06, s"FPR too high: $absentHits/5000")
  }
}
