package graft.runtime

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftbridge.ListenerBusBridge
import org.apache.spark.sql.util.QueryExecutionListener
import graft.config.JobConfig.JobSpec
import graft.graph.JobGraph

/**
 * Job runtime: attempt loop with backoff + per-component metrics,
 * mirroring the reference's execution handler surface (reference:
 * src/etl_core/job_execution/retry_strategy.py:19-41,
 * job_execution_handler.py:163-259, metrics/component_metrics/
 * component_metrics.py:4-30, metrics/execution_metrics.py:17-31):
 *
 *  - `num_of_retries` re-runs the whole job on failure with constant or
 *    exponential backoff; idempotency comes from sink modes (overwrite /
 *    upsert keys), matching the reference's retry contract, and
 *    validation rejects retries on a job with an `append: true` sink;
 *  - per-component `lines_forwarded` is collected with Dataset.observe —
 *    a zero-cost aggregate riding INSIDE the existing plan (no second
 *    scan, no accumulator races on retried tasks) — harvested by a
 *    QueryExecutionListener when each sink action completes. Spark calls
 *    that listener asynchronously from the listener bus's shared queue;
 *    before returning, `run` posts a marker to that queue and waits for
 *    it (`ListenerBusBridge`). The queue is FIFO, so the counts are
 *    complete when `run` returns;
 *  - job throughput = total forwarded rows / wall seconds.
 */
object JobRunner {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)
  /** Cap on the metrics barrier; reached only when the bus is stalled. */
  private val BusTimeoutMs = 5000L

  sealed trait Backoff { def delayMs(attempt: Int): Long }
  /** Same delay every attempt (retry_strategy.py: constant). */
  final case class Constant(ms: Long) extends Backoff {
    def delayMs(attempt: Int): Long = ms
  }
  /** base · factor^attempt (retry_strategy.py: exponential). */
  final case class Exponential(baseMs: Long, factor: Double = 2.0) extends Backoff {
    def delayMs(attempt: Int): Long = (baseMs * math.pow(factor, attempt.toDouble)).toLong
  }

  /** One attempt of the retry loop (reference models attempts as rows
    * under the execution record, execution.py attempts surface). */
  final case class Attempt(index: Int, startedAtMs: Long, wallMs: Long,
                           status: String, error: Option[String])

  final case class RunResult(
      attempts: Int,
      succeeded: Boolean,
      wallMs: Long,
      linesForwarded: Map[String, Long],
      throughputRowsPerSec: Double,
      lastError: Option[Throwable],
      attemptRecords: Seq[Attempt] = Nil,
      linesReceived: Map[String, Long] = Map.empty,
      linesDismissed: Map[String, Long] = Map.empty)

  /** Collects observed metrics named `graft.<tag>.<component>.<port>`.
    * The tag filter is the concurrency boundary: listeners register on
    * the SHARED session's bus and see every run's query executions, so
    * without it two simultaneous runs (scheduler worker pool + REST)
    * would harvest each other's counts into both records. */
  private final class MetricsListener(tag: String) extends QueryExecutionListener {
    private val prefix = s"graft.$tag."
    val rows = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.observedMetrics.foreach { case (name, row) =>
        if (name.startsWith(prefix))
          rows.merge(name.stripPrefix(prefix), row.getAs[Long]("rows"), math.max(_, _))
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Build + run the job's sinks with the spec's retry budget. */
  def run(spark: SparkSession, spec: JobSpec,
          backoff: Backoff = Constant(1000),
          validateData: Boolean = false): RunResult = {
    val runTag = java.util.UUID.randomUUID().toString.replace("-", "")
    val listener = new MetricsListener(runTag)
    spark.listenerManager.register(listener)
    val t0 = System.nanoTime()
    var attempt = 0
    var lastError: Option[Throwable] = None
    var succeeded = false
    val attemptLog = scala.collection.mutable.ArrayBuffer[Attempt]()
    try {
      while (!succeeded && attempt <= spec.numOfRetries) {
        if (attempt > 0) Thread.sleep(backoff.delayMs(attempt - 1))
        attempt += 1
        // the whole attempt — build (plan-time reads/validation) AND sink
        // actions — is retried, like the reference's attempt loop
        val aStart = System.currentTimeMillis()
        try {
          val built = JobGraph.build(spark, spec, validateData,
            instrumentTag = Some(runTag))
          try built.runSinks() finally built.close()
          succeeded = true
          lastError = None
        } catch {
          // NonFatal only: retrying after OutOfMemoryError/LinkageError
          // re-runs the job on a corrupted JVM, and swallowing
          // InterruptedException loses cancellation
          case scala.util.control.NonFatal(e) => lastError = Some(e)
        }
        attemptLog += Attempt(attempt, aStart,
          System.currentTimeMillis() - aStart,
          if (succeeded) "SUCCESS" else "FAILED",
          lastError.map(e => (e.getClass.getSimpleName + ": " +
            String.valueOf(e.getMessage)).take(300)))
      }
    } finally {
      // QueryExecutionListener callbacks run async on the listener bus's
      // shared queue, which delivers in posting order: once a marker
      // posted now is delivered there, every SQL execution this run
      // finished has reached `listener`. The bound only caps a stalled bus.
      if (!ListenerBusBridge.drainSharedQueue(spark.sparkContext, BusTimeoutMs))
        log.warn(s"run $runTag: listener bus did not drain within " +
          s"$BusTimeoutMs ms; ${listener.rows.size} counts harvested, record may be partial")
      spark.listenerManager.unregister(listener)
      // Backstop for operator persists that fall through the build-thread
      // OpCaches scope (r20 ADVICE: a future operator deferring a persist
      // into a sink lambda or a parallel build would queue globally, and
      // nothing in the Scheduler/ControlPlane lifecycle drained that
      // queue — an unbounded accumulation over a long-lived driver).
      // Today every persist is eager on the build thread, so this is a
      // no-op; if a fallen-through handle ever exists, releasing it here
      // is at worst a recompute for a concurrent run (OpCaches scaladoc),
      // never a correctness hazard.
      graft.scale.OpCaches.drain()
    }
    val wallMs = (System.nanoTime() - t0) / 1000000
    val harvested = {
      import scala.jdk.CollectionConverters._
      listener.rows.asScala.toMap
    }
    // edge observes are tagged "recv:<to>.<inPort>:<from>.<port>.<i>":
    // aggregate them per consuming "<to>.<inPort>" (reference
    // component_metrics.py lines_received); everything else is a produced
    // port (lines_forwarded)
    val (recvRaw, lines) = harvested.partition(_._1.startsWith("recv:"))
    val received: Map[String, Long] = recvRaw.toSeq
      .map { case (k, v) => k.split(':')(1) -> v }
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    // filter's dismissed = rows its rule diverted off the pass port
    // (filter_metrics.py:6-14): the measured fail-port count when that
    // branch executed, else received minus pass-forwarded
    val dismissed: Map[String, Long] = spec.components
      .filter(_.compType == "filter").flatMap { c =>
        lines.get(s"${c.name}.fail")
          .orElse(for {
            in <- received.get(s"${c.name}.in")
            pass <- lines.get(s"${c.name}.pass")
          } yield math.max(0L, in - pass))
          .map(c.name -> _)
      }.toMap
    val total = lines.values.sum
    RunResult(attempt, succeeded, wallMs, lines,
      if (wallMs == 0) 0.0 else total * 1000.0 / wallMs, lastError,
      attemptLog.toSeq, received, dismissed)
  }
}
