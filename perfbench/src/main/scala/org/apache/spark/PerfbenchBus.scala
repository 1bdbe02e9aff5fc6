package org.apache.spark

/** The listener bus delivers events asynchronously; the benchmark reads
  * its listeners only after every event of a measured job was delivered.
  * `waitUntilEmpty` is Spark-internal, hence this bridge in Spark's
  * package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
