package org.apache.spark.sql.graftbridge

import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}

/**
 * Barrier on the shared queue of Spark's listener bus
 * (`SparkContext.listenerBus` is `private[spark]`, hence the bridge).
 *
 * `SparkContext.addSparkListener` and the per-session
 * `ExecutionListenerBus` (which calls `QueryExecutionListener.onSuccess`)
 * both sit on the shared queue, and one queue delivers its events in the
 * order they were posted. So once a marker posted now reaches a
 * shared-queue listener, every event posted before it — job starts, SQL
 * execution ends and the query-listener callbacks they drive — has been
 * delivered. Unlike `LiveListenerBus.waitUntilEmpty`, the wait does not
 * grow with events that concurrent work posts after the marker.
 */
object ListenerBusBridge {

  private final class Marker extends SparkListenerEvent {
    val arrived = new CountDownLatch(1)
    override protected[spark] def logEvent: Boolean = false
  }

  /** Blocks until every shared-queue event posted before this call has
    * been delivered; false if that took longer than `timeoutMs`. */
  def drainSharedQueue(sc: SparkContext, timeoutMs: Long): Boolean = {
    val marker = new Marker
    val receiver = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit =
        if (e eq marker) marker.arrived.countDown()
    }
    sc.listenerBus.addToSharedQueue(receiver)
    try {
      sc.listenerBus.post(marker)
      marker.arrived.await(timeoutMs, TimeUnit.MILLISECONDS)
    } finally sc.listenerBus.removeListener(receiver)
  }
}
