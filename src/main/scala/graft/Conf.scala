package graft

import org.apache.spark.sql.SparkSession

object Conf {

  /** Run `body` with the session conf `key` set to `value`, then restore
    * what was there before: the prior value, or no value at all when the
    * key was unset — a user-tuned setting survives the call. */
  def withConf[T](spark: SparkSession, kv: (String, String))(body: => T): T = {
    val (key, value) = kv
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
