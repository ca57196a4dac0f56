package org.apache.spark

/** Bridge into `private[spark]` listener plumbing: specs that assert on
  * task metrics (e.g. the no-payloads-on-the-driver proof over sidecar
  * planning) and DebugRun's per-job breakdown must drain the async
  * listener bus before reading what their listeners recorded, or the
  * read races event delivery. */
object GraftListenerBridge {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
