package org.apache.spark

/** Blocks until the listener bus has delivered every event posted so far,
  * so a snapshot taken right after an action sees all of that action's
  * jobs, stages and tasks. The bus is private to Spark, hence the package.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
