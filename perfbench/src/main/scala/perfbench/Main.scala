package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.api.ControlPlane

/**
 * Job-path benchmark program. One run = one workload, one seed:
 *
 *   calibration loop → session → file-backed JobRegistry → warm-up
 *   pass → seeded inputs → priming pass → timed passes for --seconds
 *
 * The set-up pass runs over a fixed copy of the inputs that a separate
 * JVM (`--phase gen`) writes once per checkout; the seed's own inputs are
 * generated after set-up (and cached per seed), so set-up time does not
 * depend on whether the seed was seen before.
 *
 * Every pass submits the workload's fixed job list through
 * `ControlPlane.JobRegistry.execute` from a closed loop of clients and
 * then checks every sink's output. With --trace 1 the run instead times
 * each layer from outside (see Traced) and prints per-layer metrics.
 *
 * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
 *             --work <dir> [--corrupt 1] [--phase gen]
 */
object Main {

  final case class Args(workload: Workload, seed: Long, seconds: Int, trace: Boolean,
                        work: Path, corrupt: Boolean, genOnly: Boolean)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val wl = Workloads.byName(req("workload")).getOrElse(throw new IllegalArgumentException(
      s"unknown workload ${req("workload")} (${Workloads.all.map(_.name).mkString("|")})"))
    Args(wl, req("seed").toLong, req("seconds").toInt, req("trace") == "1",
      Paths.get(req("work")).toAbsolutePath, m.get("corrupt").contains("1"),
      m.get("phase").contains("gen"))
  }

  def main(args: Array[String]): Unit = {
    val code = try run(parse(args)) catch {
      case t: Throwable => t.printStackTrace(); 1
    }
    SparkSession.getDefaultSession.foreach(_.stop())
    System.out.flush()
    sys.exit(code)
  }

  /** One execution as a client saw it. */
  final case class Exec(job: String, latencyS: Double, status: String, attempts: Int)

  /** Everything a run shares between its phases. `jobs` run over the
    * seed's inputs, `warm` over the set-up copy; `ids` maps a job config
    * to its registry id. */
  final class Ctx(val a: Args, val spark: SparkSession, val registry: ControlPlane.JobRegistry,
                  val ids: Map[String, String], val warm: Seq[JobDef], val probe: ProbeInputs) {
    var jobs: Seq[JobDef] = Nil
    def speedupJob: JobDef = jobs.find(_.name == a.workload.speedupJob).get
    val attempted = new java.util.concurrent.atomic.AtomicLong()
    val failed = new java.util.concurrent.atomic.AtomicLong()
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    private var corrupted = !a.corrupt

    /** Check every sink of the pass's executions (a few at a time); count
      * misses. */
    def check(execs: Seq[Exec]): Unit = {
      if (!corrupted) { corruptOne(); corrupted = true }
      Workloads.par(execs.map(e => () => {
        attempted.incrementAndGet()
        val jd = jobs.find(_.name == e.job).get
        val bad = if (e.status != "SUCCESS") Seq(s"${e.job}: status ${e.status}")
          else jd.checks.flatMap { c =>
            val actual = try c.actual(spark) catch {
              case t: Throwable => s"error ${t.getClass.getSimpleName}: ${t.getMessage}" }
            val exp = c.expected(spark)
            if (c.ok(exp, actual)) None else Some(s"${c.name}: expected $exp, got $actual")
          }
        if (bad.nonEmpty) { failed.incrementAndGet(); bad.foreach(failures.add) }
      }))
    }

    /** Self-test hook: remove the largest data file of one sink's output,
      * as a partial or damaged write would. */
    private def corruptOne(): Unit =
      jobs.flatMap(_.outputDir).headOption.foreach { d =>
        val files = Files.walk(d).iterator().asScala.toSeq
          .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith(".") &&
            !p.getFileName.toString.startsWith("_"))
        files.sortBy(p => -Files.size(p)).headOption.foreach(Files.delete)
      }
  }

  /** Exit code asking the launcher to regenerate the set-up inputs. */
  val StaleInputs = 3

  def run(a: Args): Int = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val calib = if (a.genOnly) 0.0 else Calib.cpuMs()
    val nproc = Runtime.getRuntime.availableProcessors
    val spark = Session.build(a.work, nproc)
    val sessionUpS = (System.currentTimeMillis() - jvmStart) / 1000.0

    val wl = a.workload
    val inputs = a.work.resolve("inputs").resolve(wl.name)
    val out = a.work.resolve("out").resolve(wl.name)
    val warmDir = inputs.resolve("warm")
    val seedDir = inputs.resolve(s"seed-${a.seed}")
    if (a.genOnly) {
      // the set-up copy, once per checkout, in its own JVM
      Workloads.ensure(warmDir, wl.inputSpec)(d => wl.generate(spark, Workloads.WarmSeed, d, warm = true))
      Workloads.bind(spark, warmDir, wl.jobs(warmDir, out.resolve("warm")))
      return 0
    }
    Workloads.deleteTree(out)
    if (!Files.exists(warmDir.resolve("_DONE")) ||
        Files.readString(warmDir.resolve("_DONE")) != wl.inputSpec) {
      System.err.println(s"perfbench: set-up inputs in $warmDir are missing or stale")
      return StaleInputs
    }
    wl.load(spark, warmDir)
    val warm = Workloads.bind(spark, warmDir, wl.jobs(warmDir, out.resolve("warm")))

    // file-backed registry holding the set-up jobs and the seed's jobs:
    // the job files are written, then loaded the way a restarted control
    // plane loads them
    val t1 = System.nanoTime()
    val regDir = a.work.resolve("registry").resolve(wl.name)
    Workloads.deleteTree(regDir)
    Files.createDirectories(regDir.resolve("jobs"))
    val configs = (warm ++ wl.jobs(seedDir, out)).map(_.config).distinct
    val ids = configs.zipWithIndex.map { case (c, i) => c -> s"job-${i + 1}" }.toMap
    configs.foreach(c => Files.writeString(regDir.resolve("jobs").resolve(ids(c) + ".json"), c))
    val registry = new ControlPlane.JobRegistry(spark, Some(regDir))
    require(registry.listJobs().size == configs.size, "registry did not load every job")
    val registryS = (System.nanoTime() - t1) / 1e9

    val ctx = new Ctx(a, spark, registry, ids, warm, wl.probeInputs(seedDir))
    val t2 = System.nanoTime()
    val warmFail = warmUp(ctx)
    val warmS = (System.nanoTime() - t2) / 1e9

    // the seed's inputs, generated now in the warm JVM when not cached, so
    // set-up costs the same whether or not the seed was seen before
    val t3 = System.nanoTime()
    Workloads.ensure(seedDir, wl.inputSpec)(d => wl.generate(spark, a.seed, d, warm = false))
    wl.load(spark, seedDir)
    ctx.jobs = Workloads.bind(spark, seedDir, wl.jobs(seedDir, out))
    val genS = (System.nanoTime() - t3) / 1e9
    // priming pass over the seed's inputs: the first pass after warm-up
    // still pays JIT and first-contact costs, so it counts as set-up
    // (sequential in the traced run, whose baseline is sequential too)
    val (primeS, primed) = pass(ctx, if (a.trace) 1 else wl.clients)
    ctx.check(primed)
    val setupS = sessionUpS + registryS + warmS + primeS
    System.gc()

    val record = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload.name, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "nproc" -> nproc,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark_conf" -> Session.effectiveConf(spark),
      "calib.cpu_ms" -> calib, "gen_s" -> genS, "session_up_s" -> sessionUpS,
      "registry_load_s" -> registryS, "warmup_s" -> warmS, "prime_s" -> primeS,
      "setup_s" -> setupS,
      "warmup_failures" -> warmFail, "inputs" -> wl.meta(seedDir),
      "clients" -> a.workload.clients, "loop" -> "closed")

    val (metrics, units) =
      if (a.trace) Traced.run(ctx, calib, record)
      else timed(ctx, setupS, record)

    val correct = ctx.failed.get == 0 && warmFail.isEmpty
    record("attempted") = ctx.attempted.get
    record("failed") = ctx.failed.get
    record("fail_ratio") = ctx.failed.get.toDouble / math.max(1L, ctx.attempted.get)
    record("failures") = ctx.failures.asScala.toSeq.take(50)
    record("metrics") = scala.collection.immutable.ListMap(metrics: _*)
    val recDir = a.work.resolve("records")
    Files.createDirectories(recDir)
    Files.writeString(recDir.resolve(
      s"${a.workload.name}-seed${a.seed}-trace${if (a.trace) 1 else 0}-${System.currentTimeMillis()}.json"),
      Json.write(record.toMap) + "\n")

    ctx.failures.asScala.take(20).foreach(f => println(s"[check] $f"))
    println(f"[${a.workload.name}] seed=${a.seed} nproc=$nproc calib.cpu_ms=$calib%.1f gen_s=$genS%.2f " +
      f"attempted=${ctx.attempted.get} failed=${ctx.failed.get} fail_ratio=${record("fail_ratio")}")
    metrics.foreach { case (k, v) => println(f"  $k%-26s $v%14.4f ${units(k)}") }
    val ms = metrics.map { case (k, v) => s""""$k":{"value":${Json.num(v)},"unit":"${units(k)}"}""" }
      .mkString("{", ",", "}")
    println(s"""{"correct":$correct,"attempted":${math.max(1L, ctx.attempted.get)},"failed":${ctx.failed.get},"metrics":$ms}""")
    0
  }

  /** Set-up pass: every job once over the fixed set-up copy of the inputs,
    * so class loading, JIT and Spark's codegen cache are done before the
    * seed's inputs are generated. Returns the failed checks. */
  def warmUp(ctx: Ctx): Seq[String] = {
    val (_, execs) = pass(ctx, ctx.a.workload.clients, ctx.warm)
    execs.flatMap { e =>
      val j = ctx.warm.find(_.name == e.job).get
      if (e.status != "SUCCESS") Seq(s"warm-up ${j.name}: ${e.status}")
      else j.checks.flatMap { c =>
        val actual = c.actual(ctx.spark)
        if (c.ok(c.expected(ctx.spark), actual)) None else Some(s"warm-up ${c.name}: got $actual")
      }
    }
  }

  /** One pass: the fixed job list through `clients` closed-loop clients,
    * each submitting its next job only after its ExecutionRecord returned.
    * Returns (pass wall seconds, executions). */
  def pass(ctx: Ctx, clients: Int, jobs: Seq[JobDef] = Nil): (Double, Seq[Exec]) = {
    val list = if (jobs.isEmpty) ctx.jobs else jobs
    list.foreach(_.beforePass(ctx.spark))
    val queue = new java.util.concurrent.ConcurrentLinkedQueue(list.asJava)
    val done = new java.util.concurrent.ConcurrentLinkedQueue[Exec]()
    val t0 = System.nanoTime()
    val threads = (0 until clients).map { i =>
      val t = new Thread(() => {
        var j = queue.poll()
        while (j != null) {
          val s = System.nanoTime()
          val r = ctx.registry.execute(ctx.ids(j.config))
          done.add(Exec(j.name, (System.nanoTime() - s) / 1e9, r.status, r.attempts))
          j = queue.poll()
        }
      }, s"client-$i")
      t.start(); t
    }
    threads.foreach(_.join())
    ((System.nanoTime() - t0) / 1e9, done.asScala.toSeq)
  }

  /** Untraced run: passes until --seconds are used, end-to-end metrics. */
  def timed(ctx: Ctx, setupS: Double, record: scala.collection.mutable.Map[String, Any])
      : (Seq[(String, Double)], Map[String, String]) = {
    val heap = new HeapWatch
    val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
    val execs = scala.collection.mutable.ArrayBuffer.empty[Exec]
    // at least two passes, then until --seconds of pass time (the checks
    // between passes do not count): a slow host must not change how many
    // passes a run measures
    while (walls.size < 2 || walls.sum < ctx.a.seconds) {
      val (w, es) = pass(ctx, ctx.a.workload.clients)
      walls += w; execs ++= es
      heap.forceAndRead()
      ctx.check(es)
    }
    val lat = execs.map(_.latencyS).toSeq
    val rows = ctx.jobs.map(_.sourceRows).sum
    val wall = Stats.median(walls.toSeq)
    record("passes") = walls.size
    record("pass_walls_s") = walls.toSeq
    record("executions") = lat.size
    record("executions_beyond_p90") = lat.count(_ > Stats.pct(lat, 0.9))
    record("source_rows_per_pass") = rows
    record("job_latency_s") = execs.groupBy(_.job).view.mapValues(es => Stats.median(es.map(_.latencyS).toSeq)).toMap
    val m = Seq(
      "setup_s" -> setupS,
      "wall_s" -> wall,
      "job_p50_s" -> Stats.median(lat),
      "job_p90_s" -> Stats.pct(lat, 0.9),
      "rows_per_s" -> rows / wall,
      "live_heap_peak_mb" -> heap.peakMb)
    (m, Map("setup_s" -> "s", "wall_s" -> "s", "job_p50_s" -> "s", "job_p90_s" -> "s",
      "rows_per_s" -> "rows/s", "live_heap_peak_mb" -> "MB"))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  /** Linear-interpolated percentile. */
  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val r = p * (s.size - 1)
    val lo = math.floor(r).toInt; val hi = math.ceil(r).toInt
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
}

/** Fixed, seeded, CPU-only loop: the machine-speed anchor of a run. */
object Calib {
  def once(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var acc = 0.0
    var i = 0
    while (i < 40000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += (x & 0xFFFF).toDouble * 1e-9
      i += 1
    }
    if (acc == 42.0) println("") // keeps the loop live
    (System.nanoTime() - t0) / 1e6
  }
  def cpuMs(): Double = Stats.median(Seq.fill(5)(once()))
}

/** Driver heap occupancy right after a full GC, forced after each pass
  * (the jobs' caches are released by then, so this is what a long-lived
  * control plane retains). Spark's ContextCleaner frees blocks and shuffle
  * state only after a GC has cleared their owners, so a second GC follows
  * once it had time to run. */
final class HeapWatch {
  @volatile var peakBytes = 0L
  private val mem = ManagementFactory.getMemoryMXBean
  def forceAndRead(): Unit = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    peakBytes = math.max(peakBytes, mem.getHeapMemoryUsage.getUsed)
  }
  def peakMb: Double = peakBytes / 1048576.0
}

/** Session with the settings `graft.api.Cli.main` uses, master and shuffle
  * partitions taken from the processor count; scratch paths stay inside
  * the benchmark's work directory. */
object Session {
  def build(work: Path, nproc: Int, master: Option[String] = None): SparkSession = {
    Files.createDirectories(work.resolve("spark-local"))
    SparkSession.builder()
      .master(master.getOrElse(s"local[$nproc]"))
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .appName("graft").getOrCreate()
  }

  def effectiveConf(spark: SparkSession): Map[String, String] =
    spark.sparkContext.getConf.getAll.toMap ++
      Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled", "spark.sql.ansi.enabled",
        "spark.sql.codegen.wholeStage", "spark.sql.autoBroadcastJoinThreshold")
        .map(k => k -> spark.conf.getOption(k).getOrElse("<unset>")) +
      ("spark.sql.codegen.cache.maxEntries" ->
        Option(System.getProperty("spark.sql.codegen.cache.maxEntries")).getOrElse("<default>"))
}

/** Minimal JSON rendering for the run record. */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.math.BigDecimal.valueOf(v).toPlainString
  def write(v: Any): String = v match {
    case null => "null"
    case s: String => graft.util.JsonStr.quote(s)
    case b: Boolean => b.toString
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${write(k.toString)}:${write(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case o: Option[_] => o.map(write).getOrElse("null")
    case other => write(other.toString)
  }
}
