package graft.perfbench

import org.apache.spark.sql.SparkSession

/** A fixed reference job that runs no engine code: sort a million
  * pseudo-random longs on the driver, then the same in one Spark task per
  * core. Its time tracks how fast the host runs this JVM right now, so op
  * times divided by it cancel the speed drift of a shared host.
  */
object Calibration extends Serializable {
  private def sortWork(seed: Long): Long = {
    val r = new java.util.SplittableRandom(seed)
    val a = Array.fill(1 << 20)(r.nextLong())
    java.util.Arrays.sort(a)
    a(a.length / 2)
  }

  /** Fastest of `reps` timings, in seconds. */
  def run(spark: SparkSession, cores: Int, reps: Int = 3): Double =
    (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      sortWork(-1L)
      spark.sparkContext.parallelize(0 until cores, cores).map(i => sortWork(i.toLong)).reduce(_ ^ _)
      (System.nanoTime() - t0) / 1e9
    }.min
}
