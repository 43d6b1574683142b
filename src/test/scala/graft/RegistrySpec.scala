package graft

import org.scalatest.funsuite.AnyFunSuite

/** Contract checks on the driver-facing registry plus an sf0.001 smoke
  * run of every registered query (each as its own dynamic test so a
  * failure names the query).
  */
class RegistrySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("query names are unique and oracle keys are a subset") {
    val names = SparkEntry.queries.keys.toSeq
    assert(names.distinct.size == names.size)
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracleSql without queries entry: $orphans")
  }

  test("entry (flagship) returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("x9c_mv_rewrite_off leaves a prior spark.graft.mvRewrite.enabled=false in place") {
    val key = "spark.graft.mvRewrite.enabled"
    ScopedConf.withConfs(spark)(key -> "false") {
      SparkEntry.queries("x9c_mv_rewrite_off")(spark, sfDir).count()
      assert(spark.conf.get(key) == "false")
    }
  }

  test("st8 and st16 leave spark.sql.streaming.minBatchesToRetain as they found it") {
    val key = "spark.sql.streaming.minBatchesToRetain"
    for (row <- Seq("st8_stream_stream_join", "st16_cdc_replica")) {
      ScopedConf.withConfs(spark)(key -> "7") {
        SparkEntry.queries(row)(spark, sfDir).count()
        assert(spark.conf.get(key) == "7", row)
      }
      spark.catalog.clearCache()
    }
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"smoke: $name runs on sf0.001") {
      try {
        val df = fn(spark, sfDir)
        assert(df.columns.nonEmpty)
        assert(df.count() >= 0)
      } finally spark.catalog.clearCache() // see Bench: cache-entry buildup
    }
  }
}
