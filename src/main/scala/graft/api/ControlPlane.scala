package graft.api

import org.apache.spark.sql.SparkSession
import graft.config.JobConfig
import graft.graph.JobGraph
import graft.runtime.JobRunner
import graft.util.JsonStr.quote
import java.nio.file.{Files, Path, StandardOpenOption}

/**
 * Control plane: job registry + execution records + REST surface,
 * mirroring the reference's API at parity level (reference:
 * src/etl_core/api/routers/jobs.py:88-263, execution.py:31-202,
 * persistence/configs/job_config.py:80-133):
 *
 *  - job create AND update run the DEEP validation pass — the config is
 *    parsed and the full wiring/port/schema contract is checked exactly as
 *    execution would (the reference constructs a throwaway RuntimeJob;
 *    JobGraph.validate IS that check here). Update-with-revalidation is
 *    the PUT /jobs/{job_id} parity (jobs.py:166-198);
 *  - executions record status/attempts/wall time/error and are listable
 *    with filter, sort and paging like the reference execution router;
 *  - the HTTP layer is the JDK's built-in server (zero dependencies):
 *    POST/GET/PUT/DELETE /jobs, POST /execution/{jobId},
 *    GET /execution/{execId}, GET /executions?job_id=&status=&limit=&offset=,
 *    POST /contexts/{context|credentials|credentials-mapping-context},
 *    GET/DELETE /contexts[/{id}], GET /schemas[/{comp_type}],
 *    GET /schemas/job, GET /schemas/component_types,
 *    GET /schemas/{comp_type}/{form|full|hidden}, GET /setup?key=
 *    (route-for-route with the reference routers jobs.py, execution.py,
 *    contexts.py, schedules.py, schemas.py, setup.py).
 *
 * PERSISTENCE: pass `storeDir` and the registry becomes file-backed —
 * jobs as `jobs/<id>.json` (the raw validated config), executions
 * appended to `executions.jsonl` — and reloads both on construction, so
 * jobs survive a process restart (the reference persists in SQLModel
 * tables; a directory of JSON files is the same durability contract
 * without a database dependency). Without `storeDir` it is the previous
 * in-memory registry, which tests use.
 */
object ControlPlane {

  final case class JobRecord(id: String, name: String, configJson: String)
  final case class ExecutionRecord(
      id: String, jobId: String, startedAtMs: Long, wallMs: Long,
      status: String, attempts: Int, error: Option[String],
      attemptRecords: Seq[JobRunner.Attempt] = Nil,
      environment: Option[String] = None,
      linesForwarded: Map[String, Long] = Map.empty,
      throughputRowsPerSec: Double = 0.0,
      linesReceived: Map[String, Long] = Map.empty,
      linesDismissed: Map[String, Long] = Map.empty)

  /** `spark` is by-name/lazy: only `execute` forces it, so metadata-only
    * callers (CLI list/get/create paths) never pay SparkSession startup.
    *
    * `execWindow` bounds the executions held in memory: only the newest N
    * records stay resident (eviction on insert, tail-only parse on
    * restart); older records are served from `executions.jsonl` on
    * demand. A long-lived service with a large history thus restarts in
    * O(window) parse time and holds O(window) heap, not O(history). */
  final class JobRegistry(spark: => SparkSession, storeDir: Option[Path] = None,
                          execWindow: Int = 1000) {
    private lazy val session: SparkSession = spark
    private val jobs = new java.util.concurrent.ConcurrentHashMap[String, JobRecord]()
    private val execs = new java.util.concurrent.ConcurrentHashMap[String, ExecutionRecord]()
    // true when executions exist on disk that are no longer in memory
    @volatile private var execsTruncated = false
    private val seq = new java.util.concurrent.atomic.AtomicLong(0)
    // windowing requires a log to fall back to: a memory-only registry
    // must never destroy history it alone holds
    private val window = if (storeDir.isDefined) execWindow else Int.MaxValue
    private val evictLock = new Object

    /** Numeric suffix of an id ("exec-123" → 123) — ordering ids
      * lexicographically would evict "exec-1000" before "exec-999". */
    private def idNum(id: String): Long =
      id.split('-').last.toLongOption.getOrElse(0L)

    /** Insert + evict down to the window. Eviction removes the MINIMAL
      * (startedAtMs, numeric id) record (not insertion order): records
      * arrive at completion, so with concurrent executions insertion
      * order differs from start order, and the fast list path below
      * depends on the window holding exactly the newest-started records.
      * Linear scan per insert is O(window) against second-long
      * executions — fine. */
    private def putExec(e: ExecutionRecord): Unit = evictLock.synchronized {
      execs.put(e.id, e)
      while (execs.size() > window) {
        import scala.jdk.CollectionConverters._
        val oldest = execs.values.asScala.minBy(r => (r.startedAtMs, idNum(r.id)))
        execs.remove(oldest.id)
        execsTruncated = true
      }
    }

    // ------------------------------------------------------- file store
    private def jobsDir: Option[Path] = storeDir.map(_.resolve("jobs"))
    private def execLog: Option[Path] = storeDir.map(_.resolve("executions.jsonl"))
    private val log = org.slf4j.LoggerFactory.getLogger(getClass)

    locally { // reload persisted state before first use
      jobsDir.foreach { d =>
        Files.createDirectories(d)
        import scala.jdk.CollectionConverters._
        val ls = Files.list(d) // closed below: the stream holds a dir fd
        try ls.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".json")).foreach { p =>
            val id = p.getFileName.toString.stripSuffix(".json")
            val cfg = Files.readString(p)
            // name re-derives from the config; a file that no longer
            // parses is surfaced loudly rather than silently skipped
            jobs.put(id, JobRecord(id, JobConfig.parse(cfg).name, cfg))
          }
        finally ls.close()
      }
      execLog.filter(Files.exists(_)).foreach { p =>
        // stream the log once keeping the window's records in a bounded
        // min-heap on (startedAtMs, numeric id) — NOT the newest lines:
        // lines are completion-ordered, and the fast list path requires
        // the window to hold the newest-STARTED records. Heap O(window);
        // per-line work is two cheap regexes, full JSON parse only for
        // the surviving window. The id sequence continues past EVERY line.
        val idRe = java.util.regex.Pattern.compile("\"id\":\"[a-z]+-(\\d+)\"")
        val startRe = java.util.regex.Pattern.compile("\"started_at_ms\":(\\d+)")
        def idNumOf(line: String): Long = {
          val im = idRe.matcher(line)
          if (im.find()) im.group(1).toLong else 0L
        }
        cutTornTail(p).foreach { line =>
          seq.set(math.max(seq.get(), idNumOf(line)))
          log.warn(s"$p: dropped a torn final line (an interrupted append): ${line.take(200)}")
        }
        // min-heap of (startedAtMs, idNum, line): smallest = first evicted
        implicit val ord: Ordering[(Long, Long, String)] =
          Ordering.by(t => (-t._1, -t._2)) // PriorityQueue is a MAX-heap
        val heap = scala.collection.mutable.PriorityQueue.empty[(Long, Long, String)]
        var total = 0L
        val stream = Files.lines(p)
        try stream.forEach { line =>
          if (line.nonEmpty) {
            total += 1
            val idn = idNumOf(line)
            seq.set(math.max(seq.get(), idn))
            val sm = startRe.matcher(line)
            val started = if (sm.find()) sm.group(1).toLong else 0L
            heap.enqueue((started, idn, line))
            if (heap.size > window) { heap.dequeue(); () } // drops the MIN
          }
        } finally stream.close()
        heap.foreach { case (_, _, line) => putExec(parseExecLine(line)) }
        if (total > window) execsTruncated = true
      }
      // continue the id sequence past everything reloaded
      val maxSeen = (jobs.keySet().toArray ++ execs.keySet().toArray).map {
        case s: String => s.split('-').last.toLongOption.getOrElse(0L)
      }
      seq.set((seq.get() +: maxSeen.toSeq).max)
    }

    /** A process killed mid-append leaves a partial final line in the
      * execution log, and the next append would land on that same line.
      * An unparseable final line is cut off the log and returned (this
      * works on bytes: the cut may fall inside a UTF-8 sequence, which a
      * line reader rejects); a complete final line missing its newline
      * gets one. A corrupt line anywhere else still fails the reload. */
    private def cutTornTail(p: Path): Option[String] = {
      val f = new java.io.RandomAccessFile(p.toFile, "rw")
      try {
        val size = f.length()
        def byteAt(i: Long): Int = { f.seek(i); f.read() }
        var end = size
        while (end > 0 && byteAt(end - 1) == '\n') end -= 1
        var start = end
        while (start > 0 && byteAt(start - 1) != '\n') start -= 1
        if (start == end) None
        else {
          val bytes = new Array[Byte]((end - start).toInt)
          f.seek(start)
          f.readFully(bytes)
          val line = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
          if (scala.util.Try(parseExecLine(line)).isSuccess) {
            if (end == size) { f.seek(size); f.write('\n') }
            None
          } else {
            f.setLength(start)
            Some(line)
          }
        }
      } finally f.close()
    }

    private def persistJob(rec: JobRecord): Unit =
      jobsDir.foreach(d => Files.writeString(d.resolve(s"${rec.id}.json"), rec.configJson))
    private def unpersistJob(id: String): Unit =
      jobsDir.foreach(d => Files.deleteIfExists(d.resolve(s"$id.json")))
    private def persistExec(e: ExecutionRecord): Unit =
      execLog.foreach(p => Files.writeString(p, execLine(e) + "\n",
        StandardOpenOption.CREATE, StandardOpenOption.APPEND))

    private def execLine(e: ExecutionRecord): String = {
      val atts = e.attemptRecords.map(attemptJson).mkString("[", ",", "]")
      s"""{"id":${quote(e.id)},"job_id":${quote(e.jobId)},"started_at_ms":${e.startedAtMs},""" +
        s""""wall_ms":${e.wallMs},"status":${quote(e.status)},"attempts":${e.attempts}""" +
        e.error.map(er => s""","error":${quote(er)}""").getOrElse("") +
        e.environment.map(v => s""","environment":${quote(v)}""").getOrElse("") +
        s""","lines_forwarded":${linesJson(e)},"throughput_rows_per_sec":${e.throughputRowsPerSec}""" +
        s""","lines_received":${countsJson(e.linesReceived)}""" +
        s""","lines_dismissed":${countsJson(e.linesDismissed)}""" +
        s""","attempt_list":$atts}"""
    }

    private def parseExecLine(line: String): ExecutionRecord = {
      import org.json4s._
      val j = org.json4s.jackson.JsonMethods.parse(line)
      implicit val fmts: Formats = DefaultFormats
      val atts = (j \ "attempt_list") match {
        case JArray(items) => items.map { a =>
          JobRunner.Attempt(
            (a \ "index").extract[Int], (a \ "started_at_ms").extract[Long],
            (a \ "wall_ms").extract[Long], (a \ "status").extract[String],
            (a \ "error").extractOpt[String])
        }
        case _ => Nil
      }
      def counts(key: String): Map[String, Long] = (j \ key) match {
        case JObject(fs) => fs.collect { case (k, JInt(v)) => k -> v.toLong }.toMap
        case _           => Map.empty[String, Long]
      }
      ExecutionRecord(
        (j \ "id").extract[String], (j \ "job_id").extract[String],
        (j \ "started_at_ms").extract[Long], (j \ "wall_ms").extract[Long],
        (j \ "status").extract[String], (j \ "attempts").extract[Int],
        (j \ "error").extractOpt[String], atts,
        (j \ "environment").extractOpt[String], counts("lines_forwarded"),
        (j \ "throughput_rows_per_sec").extractOpt[Double].getOrElse(0.0),
        counts("lines_received"), counts("lines_dismissed"))
    }

    private def nextId(prefix: String): String = s"$prefix-${seq.incrementAndGet()}"

    // ------------------------------------------------------------- jobs

    /** Create = parse + DEEP wiring validation, then persist. */
    def createJob(configJson: String): JobRecord = {
      val spec = JobConfig.parse(configJson)
      JobGraph.validate(spec)
      val rec = JobRecord(nextId("job"), spec.name, configJson)
      jobs.put(rec.id, rec)
      persistJob(rec)
      rec
    }

    /** Update-with-revalidation (PUT /jobs/{job_id}, jobs.py:166-198):
      * the replacement config passes the same deep validation as create;
      * the job id is stable across updates. */
    def updateJob(id: String, configJson: String): JobRecord = {
      if (!jobs.containsKey(id))
        throw new NoSuchElementException(s"job $id not found")
      val spec = JobConfig.parse(configJson)
      JobGraph.validate(spec)
      val rec = JobRecord(id, spec.name, configJson)
      jobs.put(id, rec)
      persistJob(rec)
      rec
    }

    def getJob(id: String): Option[JobRecord] = Option(jobs.get(id))
    def listJobs(): Seq[JobRecord] = {
      import scala.jdk.CollectionConverters._
      jobs.values.asScala.toSeq.sortBy(_.id)
    }
    def deleteJob(id: String): Boolean = {
      val removed = jobs.remove(id) != null
      if (removed) unpersistJob(id)
      removed
    }

    // ------------------------------------------------------- executions

    /** Execute a persisted job through the retry runtime. `environment`
      * overrides credential-context resolution for this run (reference:
      * POST /execution body.environment, routers/execution.py:56-63). */
    def execute(jobId: String, environment: Option[String] = None): ExecutionRecord = {
      val job = getJob(jobId).getOrElse(
        throw new NoSuchElementException(s"job $jobId not found"))
      // validate the name BEFORE running (bad env = 400, not a failed exec)
      environment.foreach(graft.runtime.Credentials.Environment.fromName)
      val started = System.currentTimeMillis()
      val res = graft.runtime.Contexts.withExecutionEnv(environment) {
        JobRunner.run(session, JobConfig.parse(job.configJson))
      }
      val rec = ExecutionRecord(nextId("exec"), jobId, started, res.wallMs,
        if (res.succeeded) "SUCCESS" else "FAILED", res.attempts,
        res.lastError.map(e => (e.getClass.getSimpleName + ": " +
          String.valueOf(e.getMessage)).take(300)),
        res.attemptRecords, environment.map(_.toUpperCase),
        res.linesForwarded, res.throughputRowsPerSec,
        res.linesReceived, res.linesDismissed)
      putExec(rec)
      persistExec(rec)
      rec
    }

    /** Dry-run plan inspection (JobGraph.explainJob): per-sink formatted
      * physical plans with nothing executed — the pre-flight for a job
      * that would otherwise only reveal a missing pushdown or a surprise
      * shuffle after hours of cluster time. Bad configs throw the same
      * errors execute() would, before any data moves. */
    def explain(jobId: String): Seq[(String, String)] = {
      val job = getJob(jobId).getOrElse(
        throw new NoSuchElementException(s"job $jobId not found"))
      graft.graph.JobGraph.explainJob(session, JobConfig.parse(job.configJson))
    }

    /** In-memory hit, else (when the window has evicted records) a lazy
      * scan of the on-disk log — a cheap substring pre-filter keeps the
      * full JSON parse to candidate lines only. */
    def getExecution(id: String): Option[ExecutionRecord] =
      Option(execs.get(id)).orElse {
        if (!execsTruncated) None
        else execLog.filter(Files.exists(_)).flatMap { p =>
          val needle = s""""id":"$id""""
          val stream = Files.lines(p)
          try {
            import scala.jdk.CollectionConverters._
            stream.iterator().asScala
              .filter(_.contains(needle)).map(parseExecLine)
              .find(_.id == id)
          } finally stream.close()
        }
      }

    /** Execution listing with filter/sort/paging (execution.py:31-202).
      * Served from the in-memory window when the requested page provably
      * lies inside it (the window holds the globally newest records, so a
      * newest-first page within the window's match count is complete);
      * otherwise the log is re-scanned on demand. */
    def listExecutions(jobId: Option[String] = None, status: Option[String] = None,
                       sortDesc: Boolean = true, offset: Int = 0,
                       limit: Int = 50): Seq[ExecutionRecord] = {
      import scala.jdk.CollectionConverters._
      def matching(xs: Seq[ExecutionRecord]) = {
        var ys = xs
        jobId.foreach(j => ys = ys.filter(_.jobId == j))
        status.foreach(s => ys = ys.filter(_.status == s))
        ys
      }
      val inMem = matching(execs.values.asScala.toSeq)
      val windowSuffices =
        !execsTruncated || (sortDesc && offset.toLong + limit <= inMem.size)
      val xs =
        if (windowSuffices) inMem
        else execLog.filter(Files.exists(_)).map { p =>
          // Bounded-heap scan, O(page) memory not O(full history): raw
          // lines are substring-pre-filtered (same trick as getExecution)
          // before any JSON parse, and only the offset+limit best records
          // by start time are retained — the heap's head is the WORST
          // retained record, evicted whenever a better one arrives.
          val needles = jobId.map(j => s""""job_id":${quote(j)}""").toSeq ++
            status.map(s => s""""status":${quote(s)}""").toSeq
          val k = math.min(offset.toLong + limit, Int.MaxValue.toLong).toInt.max(0)
          // (startedAtMs, idNum) total order — same tiebreak as the
          // in-memory window's eviction, so tied timestamps at the k
          // boundary page deterministically
          val heapOrd = // max under this ordering = record to evict first
            if (sortDesc) Ordering.by[ExecutionRecord, (Long, Long)](
              r => (-r.startedAtMs, -idNum(r.id)))
            else Ordering.by[ExecutionRecord, (Long, Long)](
              r => (r.startedAtMs, idNum(r.id)))
          val best = new scala.collection.mutable.PriorityQueue[ExecutionRecord]()(heapOrd)
          val stream = Files.lines(p)
          try stream.iterator().asScala
            .filter(l => l.nonEmpty && needles.forall(l.contains))
            .map(parseExecLine)
            .filter(r => jobId.forall(_ == r.jobId) && status.forall(_ == r.status))
            .foreach { r =>
              best.enqueue(r)
              if (best.size > k) { best.dequeue(); () }
            }
          finally stream.close()
          best.toSeq
        }.getOrElse(inMem)
      val sorted = xs.sortBy(r => (r.startedAtMs, idNum(r.id)))
      (if (sortDesc) sorted.reverse else sorted).slice(offset, offset + limit)
    }
  }

  // ------------------------------------------------------------------ REST

  import com.sun.net.httpserver.{HttpExchange, HttpServer}

  private def jobJson(j: JobRecord): String =
    s"""{"id":${quote(j.id)},"name":${quote(j.name)}}"""
  private[api] def countsJson(m: Map[String, Long]): String =
    m.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${quote(k)}:$v" }.mkString("{", ",", "}")
  private[api] def linesJson(e: ExecutionRecord): String = countsJson(e.linesForwarded)
  private[api] def attemptJson(a: JobRunner.Attempt): String =
    s"""{"index":${a.index},"started_at_ms":${a.startedAtMs},"wall_ms":${a.wallMs},""" +
      s""""status":${quote(a.status)}""" +
      a.error.map(er => s""","error":${quote(er)}""").getOrElse("") + "}"
  private[api] def attemptsJson(e: ExecutionRecord): String =
    e.attemptRecords.map(attemptJson).mkString("[", ",", "]")
  private[api] def execJson(e: ExecutionRecord): String =
    s"""{"id":${quote(e.id)},"job_id":${quote(e.jobId)},"status":${quote(e.status)},""" +
      s""""attempts":${e.attempts},"wall_ms":${e.wallMs}""" +
      e.environment.map(v => s""","environment":${quote(v)}""").getOrElse("") +
      e.error.map(er => s""","error":${quote(er)}""").getOrElse("") + "}"

  private[api] def schedJson(s: Scheduler#Schedule): String =
    s"""{"id":${quote(s.id)},"job_id":${quote(s.jobId)},"kind":${quote(s.kind)},""" +
      s""""arg":${quote(s.arg)},"paused":${s.paused}}"""

  /** Start the REST server on `port` (0 = ephemeral); returns the server —
    * callers stop() it. Pass a `scheduler` to expose the /schedules
    * surface (POST/GET/PUT/DELETE plus pause/resume/run-now,
    * reference: src/etl_core/api/routers/schedules.py:64-137). */
  def serve(registry: JobRegistry, port: Int = 0,
            scheduler: Option[Scheduler] = None,
            maxConcurrentExecutions: Int = 6): HttpServer = {
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", port), 0)
    // Backpressure for the one expensive route: POST /execution runs a
    // full Spark job synchronously. The pool below bounds simultaneous
    // HANDLERS at 8, but its queue is unbounded — without this gate a
    // request burst would queue Spark jobs without limit or rejection.
    // Saturation answers 503 immediately instead; the gate is sized
    // below the pool (6 < 8) so metadata routes keep two threads even
    // while every execution slot is busy. The bound is ENFORCED, not
    // advisory: a permit count above pool-2 would let executions occupy
    // every pool thread and starve the metadata routes the gate exists
    // to protect (0 is legal — a deliberately saturated gate, used by
    // the 503-contract spec).
    require(maxConcurrentExecutions >= 0 && maxConcurrentExecutions <= 6,
      s"serve: maxConcurrentExecutions must be in [0, 6] (pool is 8 " +
        s"threads, 2 reserved for metadata routes), got $maxConcurrentExecutions")
    val execGate = new java.util.concurrent.Semaphore(maxConcurrentExecutions)

    def respond(ex: HttpExchange, code: Int, body: String): Unit = {
      val bytes = body.getBytes("UTF-8")
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(code, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
      ex.close()
    }
    def handle(ex: HttpExchange)(f: => (Int, String)): Unit =
      try { val (c, b) = f; respond(ex, c, b) }
      catch {
        case e: NoSuchElementException => respond(ex, 404, s"""{"error":${quote(e.getMessage)}}""")
        case e: Exception => respond(ex, 400, s"""{"error":${quote(String.valueOf(e.getMessage))}}""")
      }
    def qparams(ex: HttpExchange): Map[String, String] =
      Option(ex.getRequestURI.getQuery).map(_.split("&").toSeq.flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => Some(k -> java.net.URLDecoder.decode(v, "UTF-8"))
          case _           => None
        }
      }.toMap).getOrElse(Map.empty)

    server.createContext("/jobs", (ex: HttpExchange) => handle(ex) {
      val path = ex.getRequestURI.getPath.stripPrefix("/jobs").stripPrefix("/")
      (ex.getRequestMethod, path) match {
        case ("POST", "") =>
          val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
          (201, jobJson(registry.createJob(body)))
        case ("GET", "") =>
          (200, registry.listJobs().map(jobJson).mkString("[", ",", "]"))
        case ("GET", p) if p.endsWith("/explain") =>
          val id = p.stripSuffix("/explain")
          registry.getJob(id).map { _ =>
            val plans = registry.explain(id).map { case (sink, plan) =>
              s"${quote(sink)}:${quote(plan)}"
            }.mkString("{", ",", "}")
            (200, s"""{"job_id":${quote(id)},"sinks":$plans}""")
          }.getOrElse((404, s"""{"error":"job $id not found"}"""))
        case ("GET", id) =>
          registry.getJob(id).map(j => (200, j.configJson))
            .getOrElse((404, s"""{"error":"job $id not found"}"""))
        case ("PUT", id) =>
          val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
          (200, jobJson(registry.updateJob(id, body)))
        case ("DELETE", id) =>
          if (registry.deleteJob(id)) (204, "") else (404, s"""{"error":"job $id not found"}""")
        case (m, _) => (405, s"""{"error":"method $m not allowed"}""")
      }
    })
    server.createContext("/execution", (ex: HttpExchange) => handle(ex) {
      val path = ex.getRequestURI.getPath.stripPrefix("/execution").stripPrefix("/")
      (ex.getRequestMethod, path) match {
        case ("POST", jobId) if jobId.nonEmpty =>
          if (!execGate.tryAcquire())
            (503, """{"error":"execution capacity saturated, retry later"}""")
          else
            try (201, execJson(registry.execute(jobId, qparams(ex).get("environment"))))
            finally execGate.release()
        case ("GET", p) if p.endsWith("/attempts") =>
          val execId = p.stripSuffix("/attempts")
          registry.getExecution(execId).map(e => (200, attemptsJson(e)))
            .getOrElse((404, s"""{"error":"execution $execId not found"}"""))
        case ("GET", p) if p.endsWith("/metrics") =>
          val execId = p.stripSuffix("/metrics")
          registry.getExecution(execId).map(e => (200,
            s"""{"lines_received":${countsJson(e.linesReceived)},""" +
              s""""lines_forwarded":${linesJson(e)},""" +
              s""""lines_dismissed":${countsJson(e.linesDismissed)},""" +
              s""""throughput_rows_per_sec":${e.throughputRowsPerSec}}"""))
            .getOrElse((404, s"""{"error":"execution $execId not found"}"""))
        case ("GET", execId) if execId.nonEmpty =>
          // reference shape: { execution, attempts } (docs/cli.md:58-60)
          registry.getExecution(execId).map(e =>
            (200, s"""{"execution":${execJson(e)},"attempts":${attemptsJson(e)},""" +
              s""""metrics":{"lines_received":${countsJson(e.linesReceived)},""" +
              s""""lines_forwarded":${linesJson(e)},""" +
              s""""lines_dismissed":${countsJson(e.linesDismissed)},""" +
              s""""throughput_rows_per_sec":${e.throughputRowsPerSec}}}"""))
            .getOrElse((404, s"""{"error":"execution $execId not found"}"""))
        case ("GET", "") =>
          val q = qparams(ex)
          val xs = registry.listExecutions(
            jobId = q.get("job_id"), status = q.get("status"),
            sortDesc = !q.get("sort").contains("asc"),
            offset = q.get("offset").map(_.toInt).getOrElse(0),
            limit = q.get("limit").map(_.toInt).getOrElse(50))
          (200, xs.map(execJson).mkString("[", ",", "]"))
        case (m, p) => (405, s"""{"error":"$m /execution/$p not supported"}""")
      }
    })
    server.createContext("/contexts", (ex: HttpExchange) => handle(ex) {
      val path = ex.getRequestURI.getPath.stripPrefix("/contexts").stripPrefix("/")
      def body() = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      (ex.getRequestMethod, path) match {
        case ("POST", "credentials") => (201, ContextsApi.createCredentials(body()))
        case ("POST", "context")     => (201, ContextsApi.createContext(body()))
        // reference route name (contexts.py:157) + the short alias
        case ("POST", "credentials-mapping-context") | ("POST", "mapping") =>
          (201, ContextsApi.createMapping(body()))
        case ("GET", "")             => (200, ContextsApi.listJson)
        case ("GET", id) => ContextsApi.getJson(id).map((200, _))
          .getOrElse((404, s"""{"error":"provider $id not found"}"""))
        case ("DELETE", id) =>
          if (ContextsApi.delete(id)) (204, "")
          else (404, s"""{"error":"provider $id not found"}""")
        case (m, _) => (405, s"""{"error":"method $m not allowed"}""")
      }
    })
    scheduler.foreach { sched =>
      server.createContext("/schedules", (ex: HttpExchange) => handle(ex) {
        val path = ex.getRequestURI.getPath.stripPrefix("/schedules").stripPrefix("/")
        def body() = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
        // parse the body ONCE; extract string fields from the tree
        def fields(json: String): String => Option[String] = {
          import org.json4s._
          implicit val fmts: Formats = DefaultFormats
          val tree = org.json4s.jackson.JsonMethods.parse(json)
          key => (tree \ key).extractOpt[String]
        }
        def create(b: String): Scheduler#Schedule = {
          val f = fields(b)
          def req(key: String): String = f(key).getOrElse(
            throw new IllegalArgumentException(s"$key required"))
          val (jobId, kind, arg) = (req("job_id"), req("kind"), req("arg"))
          kind match {
            case "interval" => sched.scheduleInterval(jobId, arg.toLong)
            case "cron"     => sched.scheduleCron(jobId, arg)
            case "date"     => sched.scheduleOnce(jobId, arg.toLong)
            case other => throw new IllegalArgumentException(s"unknown kind $other")
          }
        }
        (ex.getRequestMethod, path) match {
          case ("POST", "") => (201, schedJson(create(body())))
          case ("GET", "") =>
            (200, sched.list().map(schedJson).mkString("[", ",", "]"))
          case ("POST", p) if p.endsWith("/pause") =>
            val id = p.stripSuffix("/pause")
            if (sched.pause(id)) (200, s"""{"id":${quote(id)},"paused":true}""")
            else (404, s"""{"error":"schedule $id not found"}""")
          case ("POST", p) if p.endsWith("/resume") =>
            val id = p.stripSuffix("/resume")
            if (sched.resume(id)) (200, s"""{"id":${quote(id)},"paused":false}""")
            else (404, s"""{"error":"schedule $id not found"}""")
          case ("POST", p) if p.endsWith("/run-now") =>
            val id = p.stripSuffix("/run-now")
            if (sched.runNow(id)) (200, s"""{"id":${quote(id)},"fired":true}""")
            else (404, s"""{"error":"schedule $id not found"}""")
          case ("GET", id) =>
            sched.get(id).map(s => (200, schedJson(s)))
              .getOrElse((404, s"""{"error":"schedule $id not found"}"""))
          case ("PUT", id) =>
            val f = fields(body())
            val existing = sched.get(id).getOrElse(
              throw new NoSuchElementException(s"schedule $id not found"))
            (200, schedJson(sched.update(id,
              f("job_id").getOrElse(existing.jobId),
              f("kind").getOrElse(existing.kind),
              f("arg").getOrElse(existing.arg))))
          case ("DELETE", id) =>
            if (sched.cancel(id)) (204, "")
            else (404, s"""{"error":"schedule $id not found"}""")
          case (m, _) => (405, s"""{"error":"method $m not allowed"}""")
        }
      })
    }
    server.createContext("/schemas", (ex: HttpExchange) => handle(ex) {
      val path = ex.getRequestURI.getPath.stripPrefix("/schemas").stripPrefix("/")
      def comp(tpe: String)(f: String => Option[String]): (Int, String) =
        f(tpe).map((200, _))
          .getOrElse((404, s"""{"error":"unknown comp_type $tpe"}"""))
      (ex.getRequestMethod, path) match {
        case ("GET", "")   => (200, ComponentSchemas.listJson)
        // reference discovery routes (schemas.py:362-479)
        case ("GET", "job") => (200, ComponentSchemas.jobSchemaJson)
        case ("GET", "component_types") =>
          (200, ComponentSchemas.compTypes.map(quote).mkString("[", ",", "]"))
        case ("GET", p) if p.endsWith("/form") =>
          comp(p.stripSuffix("/form"))(ComponentSchemas.schemaJson)
        case ("GET", p) if p.endsWith("/full") =>
          comp(p.stripSuffix("/full"))(ComponentSchemas.fullSchemaJson)
        case ("GET", p) if p.endsWith("/hidden") =>
          comp(p.stripSuffix("/hidden"))(ComponentSchemas.hiddenSchemaJson)
        case ("GET", tpe)  => comp(tpe)(ComponentSchemas.schemaJson)
        case (m, _) => (405, s"""{"error":"method $m not allowed"}""")
      }
    })
    // GUI setup key validation (reference: api/routers/setup.py:15-31 — a
    // preset-key boolean check; the key is overridable for embedders).
    server.createContext("/setup", (ex: HttpExchange) => handle(ex) {
      (ex.getRequestMethod, qparams(ex).get("key")) match {
        case ("GET", k) => (200, (k.contains(setupKey)).toString)
        case (m, _)     => (405, s"""{"error":"method $m not allowed"}""")
      }
    })
    // without an executor the JDK HttpServer runs EVERY handler on its
    // single dispatcher thread — one synchronous POST /execution (a
    // full Spark job plus retry backoff sleeps) would hang every other
    // request for minutes. BOUNDED pool, not cached: an unbounded pool
    // would let a request burst run unlimited simultaneous Spark jobs
    // on one driver with no backpressure; 8 threads fix the starvation
    // while excess requests queue.
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8, r => {
      val t = new Thread(r, "graft-rest")
      t.setDaemon(true)
      t
    }))
    server.start()
    server
  }

  /** Stop a serve()d server AND its request pool: HttpServer.stop does
    * not shut down a custom executor, so without this every serve/stop
    * cycle leaks eight (daemon) pool threads for the JVM's lifetime.
    * The default delaySeconds=0 is an IMMEDIATE stop — open connections
    * are severed and an in-flight response may be lost; pass a nonzero
    * delay to let HttpServer.stop drain in-flight exchanges first.
    * shutdown(), not shutdownNow(), either way: handler tasks already
    * running are left to finish — interrupting a straggling Spark job
    * mid-write would trade a (daemon) pool thread for a half-written
    * sink. */
  def stop(server: HttpServer, delaySeconds: Int = 0): Unit = {
    server.stop(delaySeconds)
    server.getExecutor match {
      case es: java.util.concurrent.ExecutorService => es.shutdown()
      case _ => ()
    }
  }

  /** Preset GUI setup key (setup.py:17 VALID_KEY; env-overridable). */
  private[api] def setupKey: String =
    sys.env.getOrElse("GRAFT_SETUP_KEY", "VALID_KEY")
}
