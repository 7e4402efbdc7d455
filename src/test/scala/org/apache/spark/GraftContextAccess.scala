package org.apache.spark

/** Test access to SparkContext state that has no public accessor; lives
 * in Spark's package for that reason. */
object GraftContextAccess {

  /** Back to local cuts. Spark can set a checkpoint dir but not unset
   * one, and the forked test JVM shares one context across suites. */
  def clearCheckpointDir(sc: SparkContext): Unit = sc.checkpointDir = None

  /** Returns once the listener bus has delivered every posted event. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
