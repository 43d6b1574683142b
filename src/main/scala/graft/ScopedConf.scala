package graft

import org.apache.spark.sql.SparkSession

object ScopedConf {
  /** Run `body` with each `key -> value` set on the session, then put
    * every key back as it was found: its prior explicitly-set value, or
    * unset when it had none. The overrides are visible to everything
    * else on the same session meanwhile, and a lazy plan built inside is
    * analyzed and executed after the restore — so only EAGER work
    * belongs in `body`.
    */
  def withConfs[T](spark: SparkSession)(pairs: (String, String)*)(body: => T): T = {
    val set = spark.conf.getAll
    val saved = pairs.map { case (key, _) => key -> set.get(key) }
    pairs.foreach { case (key, v) => spark.conf.set(key, v) }
    try body finally saved.foreach {
      case (key, Some(v)) => spark.conf.set(key, v)
      case (key, None) => spark.conf.unset(key)
    }
  }
}
