package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession

/** Waits until the session's listener bus has delivered every posted
  * event, which Spark keeps package-private: what a test that counts
  * listener events drains before it reads its counter.
  */
object ListenerBus {
  def drain(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}
