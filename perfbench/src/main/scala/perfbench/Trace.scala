package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with nanosecond resolution, on the
  * same base as Spark's event timestamps. */
object Clock {
  private val ms0 = System.currentTimeMillis()
  private val ns0 = System.nanoTime()
  def now: Double = ms0 + (System.nanoTime() - ns0) / 1e6
}

/** One recorded call: name, start, end, parent span, execution id. */
final case class Span(id: Long, name: String, parent: Long, exec: String,
                      start: Double, end: Double) {
  def ms: Double = end - start
}

/** Closed intervals [a, b) in epoch ms, and the set algebra self times need. */
object Iv {
  type Ivs = Seq[(Double, Double)]
  def union(xs: Ivs): Ivs = {
    val s = xs.filter(x => x._2 > x._1).sortBy(_._1)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    s.foreach { x =>
      if (out.nonEmpty && x._1 <= out.last._2) out(out.size - 1) = (out.last._1, math.max(out.last._2, x._2))
      else out += x
    }
    out.toSeq
  }
  def length(xs: Ivs): Double = union(xs).map(x => x._2 - x._1).sum
  def clip(xs: Ivs, lo: Double, hi: Double): Ivs =
    xs.map(x => (math.max(x._1, lo), math.min(x._2, hi))).filter(x => x._2 > x._1)
  /** a \ b */
  def minus(a: Ivs, b: Ivs): Ivs = {
    val bu = union(b)
    union(a).flatMap { case (s0, e0) =>
      var pieces = Seq((s0, e0))
      bu.foreach { case (bs, be) =>
        pieces = pieces.flatMap { case (s, e) =>
          if (be <= s || bs >= e) Seq((s, e))
          else Seq((s, bs), (be, e)).filter(x => x._2 > x._1)
        }
      }
      pieces
    }
  }
}

/**
 * Listens on Spark's public hooks and keeps every event in memory:
 * SparkListener (jobs, stages, tasks, block updates, SQL executions) and
 * QueryExecutionListener (planning-phase times). A Spark job belongs to
 * the span named by the `perfbench.span` local property its submitting
 * thread carried; its stages and tasks follow it.
 */
final class Recorder extends SparkListener with QueryExecutionListener {
  import Recorder._
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val sqls = new ConcurrentHashMap[Long, SqlRec]()
  val phases = ConcurrentHashMap.newKeySet[PhaseRec]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val blocks = new ConcurrentHashMap[String, Long]()
  @volatile private var cached = 0L
  @volatile var cachePeak = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      .map(_.toLong).getOrElse(-1L)
    val sqlId = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    e.stageIds.foreach(s => stageSpan.put(s, span))
    jobs.put(e.jobId, JobRec(e.jobId, e.time.toDouble, -1, span, sqlId, e.stageIds.size))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.computeIfPresent(e.jobId, (_, j) => j.copy(end = e.time.toDouble))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = e.taskMetrics
    if (m != null) {
      val run = m.executorRunTime
      val delay = math.max(0L, (i.finishTime - i.launchTime) - run - m.executorDeserializeTime -
        m.resultSerializationTime - i.gettingResultTime)
      tasks.add(TaskRec(e.stageId, e.stageAttemptId, stageSpan.getOrDefault(e.stageId, -1L),
        i.launchTime.toDouble, i.finishTime.toDouble, run, m.executorCpuTime, m.jvmGCTime, delay,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten, i.successful))
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) synchronized {
      val key = b.blockId.name
      val now = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
      val before = Option(blocks.put(key, now)).getOrElse(0L)
      cached += now - before
      cachePeak = math.max(cachePeak, cached)
    }
  }
  def resetCachePeak(): Unit = synchronized { cachePeak = cached }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      sqls.put(s.executionId, SqlRec(s.executionId, s.time.toDouble, -1,
        s.rootExecutionId.getOrElse(s.executionId)))
    case s: SparkListenerSQLExecutionEnd =>
      sqls.computeIfPresent(s.executionId, (_, r) => r.copy(end = s.time.toDouble))
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qe.tracker.phases.foreach { case (name, p) =>
      if (name != "parsing") phases.add(PhaseRec(name, p.startTimeMs.toDouble, p.endTimeMs.toDouble))
    }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Block until the asynchronous bus has delivered the end of every job
    * and SQL execution that started (bounded wait). */
  def settle(timeoutMs: Long = 3000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def open = jobs.values.asScala.exists(_.end < 0) || sqls.values.asScala.exists(_.end < 0)
    while (open && System.currentTimeMillis() < deadline) Thread.sleep(5)
    Thread.sleep(50) // task-end and phase callbacks trail the job end
  }

  def clear(): Unit = { tasks.clear(); jobs.clear(); sqls.clear(); phases.clear() }
}

object Recorder {
  val SpanKey = "perfbench.span"
  final case class TaskRec(stage: Int, attempt: Int, span: Long, start: Double, end: Double,
                           runMs: Long, cpuNs: Long, gcMs: Long, delayMs: Long,
                           shuffleWrite: Long, shuffleRead: Long, spill: Long,
                           inBytes: Long, inRows: Long, outBytes: Long, outRows: Long,
                           ok: Boolean)
  final case class JobRec(id: Int, start: Double, end: Double, span: Long, sqlId: Long, stages: Int)
  final case class SqlRec(id: Long, start: Double, end: Double, root: Long)
  final case class PhaseRec(phase: String, start: Double, end: Double)

  /** Spark's codegen compile histogram (count, summed ms), read through
    * its public metric registry. */
  def codegen(): (Long, Double) = {
    val cls = Class.forName("org.apache.spark.metrics.source.CodegenMetrics$")
    val mod = cls.getField("MODULE$").get(null)
    val hist = cls.getMethod("METRIC_COMPILATION_TIME").invoke(mod)
      .asInstanceOf[com.codahale.metrics.Histogram]
    val snap = hist.getSnapshot
    // the reservoir keeps every sample until it holds 1028; past that the
    // sum is estimated from the mean
    val total = if (hist.getCount <= snap.size) snap.getValues.sum.toDouble
                else snap.getMean * hist.getCount
    (hist.getCount, total)
  }
}

/** Spans of the traced run, kept in memory and written out at the end. */
final class Tracer(spark: SparkSession) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)

  /** Run `f` inside a span whose id the thread's Spark jobs carry. */
  def span[T](name: String, exec: String, parent: Long = -1)(f: Long => T): (T, Span) = {
    val id = ids.incrementAndGet()
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Recorder.SpanKey)
    sc.setLocalProperty(Recorder.SpanKey, id.toString)
    val t0 = Clock.now
    try {
      val r = f(id)
      val s = Span(id, name, parent, exec, t0, Clock.now)
      spans.add(s)
      (r, s)
    } finally sc.setLocalProperty(Recorder.SpanKey, prev)
  }

  private val sparkJobs = new ConcurrentLinkedQueue[Recorder.JobRec]()

  /** Keep the recorder's finished Spark jobs as children of their spans. */
  def addSparkJobs(rec: Recorder): Unit =
    rec.jobs.values.asScala.filter(j => j.span >= 0 && j.end >= 0).foreach(sparkJobs.add)

  def all: Seq[Span] = spans.asScala.toSeq

  /** One JSON line per span, then one per Spark job with its span as parent. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.start).map { s =>
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"exec":"${s.exec}","start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f}"""
    } ++ sparkJobs.asScala.toSeq.sortBy(_.start).map { j =>
      f"""{"spark_job":${j.id},"parent":${j.span},"stages":${j.stages},"start_ms":${j.start}%.0f,"end_ms":${j.end}%.0f}"""
    }
    java.nio.file.Files.writeString(path, lines.mkString("\n") + "\n")
  }
}
