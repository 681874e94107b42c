package org.apache.spark.sql

/** Test access to a session's raw SQL settings. */
object GraftTestConf {
  /** Sets `key` WITHOUT Spark's type check. `spark.conf.set` rejects a
    * non-integer `spark.sql.shuffle.partitions`, but managed platforms
    * that accept `auto` hand the library exactly such a raw string.
    * Returns the previous raw value, for [[restore]].
    */
  def setUnchecked(spark: SparkSession, key: String, value: String): Option[String] =
    Option(settings(spark).put(key, value))

  def restore(spark: SparkSession, key: String, prev: Option[String]): Unit =
    prev.fold(settings(spark).remove(key))(settings(spark).put(key, _))

  private def settings(spark: SparkSession) =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf.settings
}
