package org.apache.spark

/** Test seam onto `private[spark]` context API: build a NEW session on a
  * running context while its live `SparkConf` carries `key=value`.
  * Session extensions (`spark.sql.extensions`) are read from that conf
  * when a session is built, so a spec can exercise them without a second
  * context in the JVM. The new session becomes the active and default
  * one — callers restore their own. */
object GraftContextShim {
  def sessionWithConf(sc: SparkContext, key: String, value: String)
      : org.apache.spark.sql.classic.SparkSession = {
    sc.conf.set(key, value)
    try org.apache.spark.sql.classic.SparkSession.builder()
      .sparkContext(sc).create()
    finally sc.conf.remove(key)
  }
}
