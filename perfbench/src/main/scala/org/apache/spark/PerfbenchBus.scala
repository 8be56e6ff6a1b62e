package org.apache.spark

/** The listener bus delivers events asynchronously. The benchmark drains it
  * before it reads what its listeners recorded; `waitUntilEmpty` is
  * package-private, hence this file's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
