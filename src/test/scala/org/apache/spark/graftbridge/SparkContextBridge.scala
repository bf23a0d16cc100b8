package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Test-only access to two `private[spark]` members of `SparkContext`. */
object SparkContextBridge {
  /** Set the checkpoint dir directly: `setCheckpointDir` cannot unset it,
    * so a test that scopes a dir restores "no dir" through here. */
  def setCheckpointDir(sc: SparkContext, dir: Option[String]): Unit = sc.checkpointDir = dir

  /** Block until every posted listener event has been delivered, so a
    * `QueryExecutionListener` has seen every query that already ran. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
