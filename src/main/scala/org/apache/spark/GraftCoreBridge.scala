package org.apache.spark

/** The core-side twin of `org.apache.spark.sql.GraftSqlBridge` — the
  * standard package-private seam, here to flush the async listener bus
  * so `graft.tools.StageLedger` (read by `graft.Bench` and
  * `graft.tools.Profile`) sees per-query stage metrics deterministically
  * after each measured run: stage-completed events are posted
  * asynchronously, and without a drain the bytes of a query's last
  * stages would be charged to the NEXT query.
  */
object GraftCoreBridge {
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
