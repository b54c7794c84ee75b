package perfbench

import java.nio.file.Files
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.config.JobConfig
import graft.graph.JobGraph
import graft.runtime.JobRunner
import Main.{Ctx, Exec}

/**
 * The traced run. Each traced pass runs the job list three times, one
 * client, in sequence:
 *
 *  1. api:     `JobRegistry.execute`            — the control-plane path;
 *  2. runtime: `JobRunner.run` on the parsed spec;
 *  3. direct:  `JobConfig.parse`, `JobGraph.validate`, `JobGraph.build`,
 *              `BuiltJob.runSinks`, `BuiltJob.close`, each in its own span.
 *
 * Spark's jobs, stages and tasks attach to the span whose id the calling
 * thread carried as a local property; SQL executions and planning phases
 * attach to the span that contains them in time. Inside a span the time
 * splits into exclusive parts: a task running (exec), inside a Spark job
 * with no task running (sched), inside a planning phase (plan), inside a
 * SQL execution but none of those (plan.exec_driver), and the rest — the
 * driver-side code of the call itself.
 *
 * The traced wall is the api sub-pass. Its Spark-side parts are measured
 * on the api spans themselves; its driver-side rest is split by the other
 * two sub-passes: config = parse, graph = the driver-side rest of build,
 * sinks and close, runtime = JobRunner.run − (build + sinks + close),
 * api = execute − JobRunner.run − parse (per-job medians over passes).
 * The residual is therefore the Spark-side time the direct sub-pass spent
 * minus what the api sub-pass spent on the same jobs: the run-to-run
 * error of this attribution.
 */
object Traced {

  final case class Direct(job: String, parse: Span, validate: Span, build: Span,
                          sinks: Span, close: Span, persists: Int)

  def run(ctx: Ctx, calib: Double, record: mutable.Map[String, Any])
      : (Seq[(String, Double)], Map[String, String]) = {
    val spark = ctx.spark
    val jobs = ctx.jobs
    val nproc = spark.sparkContext.defaultParallelism

    // untraced baseline for the overhead ratio: the same sequential pass
    // with no listener attached
    val (untracedWall, ue) = Main.pass(ctx, 1)
    ctx.check(ue)

    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    spark.listenerManager.register(rec)
    val tracer = new Tracer(spark)
    val perPass = mutable.ArrayBuffer.empty[Map[String, Double]]
    val apiSelf = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val rtSelf = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val start = System.nanoTime()
    while (perPass.isEmpty || (System.nanoTime() - start) / 1e9 < ctx.a.seconds) {
      rec.clear(); rec.resetCachePeak()
      // 1. api sub-pass
      jobs.foreach(_.beforePass(spark))
      val api = jobs.map { j =>
        val (r, s) = tracer.span("api", j.name)(_ => ctx.registry.execute(ctx.ids(j.config)))
        (j.name, r, s)
      }
      ctx.check(api.map { case (n, r, s) => Exec(n, s.ms / 1000, r.status, r.attempts) })
      // 2. runtime sub-pass
      jobs.foreach(_.beforePass(spark))
      val rt = jobs.map { j =>
        val spec = JobConfig.parse(j.config)
        j.name -> tracer.span("runtime", j.name)(_ => JobRunner.run(spark, spec))._2
      }.toMap
      // 3. direct sub-pass
      jobs.foreach(_.beforePass(spark))
      val (cgC0, _) = Recorder.codegen()
      val direct = jobs.map { j =>
        tracer.span("direct", j.name) { id =>
          val (spec, p) = tracer.span("config.parse", j.name, id)(_ => JobConfig.parse(j.config))
          val (_, v) = tracer.span("graph.validate", j.name, id)(_ => JobGraph.validate(spec))
          val pr0 = spark.sparkContext.getPersistentRDDs.size
          val tag = java.util.UUID.randomUUID().toString.replace("-", "")
          val (built, b) = tracer.span("graph.build", j.name, id)(_ =>
            JobGraph.build(spark, spec, instrumentTag = Some(tag)))
          val (_, s) = tracer.span("graph.sinks", j.name, id)(_ => built.runSinks())
          val persists = spark.sparkContext.getPersistentRDDs.size - pr0
          val (_, c) = tracer.span("graph.close", j.name, id)(_ => built.close())
          Direct(j.name, p, v, b, s, c, persists)
        }._1
      }
      val (cgC1, _) = Recorder.codegen()
      rec.settle()
      tracer.addSparkJobs(rec)
      direct.foreach { d =>
        val a = api.find(_._1 == d.job).get._3
        apiSelf.getOrElseUpdate(d.job, mutable.ArrayBuffer.empty) += a.ms - rt(d.job).ms - d.parse.ms
        rtSelf.getOrElseUpdate(d.job, mutable.ArrayBuffer.empty) +=
          rt(d.job).ms - d.build.ms - d.sinks.ms - d.close.ms
      }
      perPass += passMetrics(rec, api.map(_._3), direct, nproc) ++ Map(
        "runtime.attempts" -> api.map(_._2.attempts).sum.toDouble,
        "codegen.pass_compiles" -> (cgC1 - cgC0).toDouble,
        "cache.peak_bytes" -> rec.cachePeak.toDouble)
    }
    spark.listenerManager.unregister(rec)
    spark.sparkContext.removeSparkListener(rec)

    val m = mutable.LinkedHashMap.empty[String, Double]
    perPass.head.keys.toSeq.sorted.foreach(k => m(k) = Stats.median(perPass.map(_(k)).toSeq))
    m("api.self_ms") = apiSelf.values.map(v => Stats.median(v.toSeq)).sum
    m("runtime.self_ms") = rtSelf.values.map(v => Stats.median(v.toSeq)).sum
    val selfParts = Seq("api.self_ms", "runtime.self_ms", "config.parse_ms", "graph.build_ms",
      "graph.sinks_ms", "graph.close_ms", "plan.self_ms", "plan.exec_driver_ms",
      "sched.self_ms", "exec.wall_ms")
    m("trace.residual_ms") = m("trace.wall_ms") - selfParts.map(m).sum
    m("trace.overhead_ratio") = m("trace.wall_ms") / (untracedWall * 1000) - 1
    m("codegen.compiles") = Recorder.codegen()._1.toDouble
    m("codegen.compile_ms") = Recorder.codegen()._2
    record("traced_passes") = perPass.size
    record("untraced_sequential_wall_s") = untracedWall
    record("self_time_shares") = selfParts.map(k => k -> m(k) / m("trace.wall_ms")).toMap

    probes(ctx).foreach { case (k, v) => m(k) = v }
    m("io.write_amp") = if (m("io.input_bytes") > 0) m("io.output_bytes") / m("io.input_bytes") else 0.0
    m("calib.cpu_ms") = calib

    val traceDir = ctx.a.work.resolve("traces")
    Files.createDirectories(traceDir)
    tracer.write(traceDir.resolve(s"${ctx.a.workload.name}-seed${ctx.a.seed}-spans.jsonl"))

    m("exec.speedup_vs_1core") = speedup(ctx)
    (m.toSeq, units)
  }

  /** Spark-side time of each span, split into exclusive parts. */
  final case class Cover(exec: Double, sched: Double, plan: Double, sqlDriver: Double) {
    def total: Double = exec + sched + plan + sqlDriver
  }

  def cover(rec: Recorder, s: Span): Cover = {
    def inside(a: Double, b: Double) = a >= s.start - 1 && b <= s.end + 1
    val clip = (xs: Iv.Ivs) => Iv.clip(xs, s.start, s.end)
    val t = clip(rec.tasks.asScala.toSeq.filter(_.span == s.id).map(x => (x.start, x.end)))
    val j = clip(rec.jobs.values.asScala.toSeq.filter(x => x.span == s.id && x.end >= 0).map(x => (x.start, x.end)))
    val ph = clip(rec.phases.asScala.toSeq.filter(p => inside(p.start, p.end)).map(p => (p.start, p.end)))
    val q = clip(rec.sqls.values.asScala.toSeq.filter(x => x.end >= 0 && inside(x.start, x.end)).map(x => (x.start, x.end)))
    Cover(Iv.length(t), Iv.length(Iv.minus(j, t)), Iv.length(Iv.minus(ph, j ++ t)),
      Iv.length(Iv.minus(q, j ++ t ++ ph)))
  }

  /** Per-pass layer metrics: Spark-side parts and counters from the api
    * spans, driver-side graph parts from the direct spans. */
  def passMetrics(rec: Recorder, api: Seq[Span], direct: Seq[Direct],
                  nproc: Int): Map[String, Double] = {
    val ids = api.map(_.id).toSet
    val tasks = rec.tasks.asScala.toSeq.filter(t => ids(t.span))
    val jobs = rec.jobs.values.asScala.toSeq.filter(j => ids(j.span) && j.end >= 0)
    def inApi(a: Double, b: Double) = api.exists(s => a >= s.start - 1 && b <= s.end + 1)
    val sqls = rec.sqls.values.asScala.toSeq.filter(q => q.end >= 0 && inApi(q.start, q.end))
    val phases = rec.phases.asScala.toSeq.filter(p => inApi(p.start, p.end))
    val covers = api.map(cover(rec, _))
    def driverSide(f: Direct => Span) = direct.map { d => val s = f(d); s.ms - cover(rec, s).total }.sum

    val wall = api.last.end - api.head.start
    val runMs = tasks.map(_.runMs).sum.toDouble
    // skew: max ÷ median task shuffle read in the stage with the most run time
    val skew = tasks.filter(_.shuffleRead > 0).groupBy(t => (t.stage, t.attempt)).toSeq
      .sortBy(-_._2.map(_.runMs).sum).headOption.map { case (_, ts) =>
        val reads = ts.map(_.shuffleRead.toDouble)
        val med = Stats.median(reads)
        if (med > 0) reads.max / med else 1.0
      }.getOrElse(1.0)
    def phase(n: String) = phases.filter(_.phase == n).map(p => p.end - p.start).sum
    val buildIds = direct.map(_.build.id).toSet
    Map(
      "trace.wall_ms" -> wall,
      "config.parse_ms" -> direct.map(_.parse.ms).sum,
      "graph.validate_ms" -> direct.map(_.validate.ms).sum,
      "graph.build_ms" -> driverSide(_.build),
      "graph.sinks_ms" -> driverSide(_.sinks),
      "graph.close_ms" -> driverSide(_.close),
      "graph.build_spark_jobs" -> rec.jobs.values.asScala.count(j => buildIds(j.span)).toDouble,
      "graph.persists" -> direct.map(_.persists).sum.toDouble,
      "plan.sql_execs" -> sqls.size.toDouble,
      "plan.analysis_ms" -> phase("analysis"),
      "plan.optimization_ms" -> phase("optimization"),
      "plan.planning_ms" -> phase("planning"),
      "plan.self_ms" -> covers.map(_.plan).sum,
      "plan.exec_driver_ms" -> covers.map(_.sqlDriver).sum,
      "sched.jobs" -> jobs.size.toDouble,
      "sched.stages" -> jobs.map(_.stages).sum.toDouble,
      "sched.tasks" -> tasks.size.toDouble,
      "sched.delay_ms" -> tasks.map(_.delayMs).sum.toDouble,
      "sched.self_ms" -> covers.map(_.sched).sum,
      "sched.driver_only_ms" -> (wall - covers.map(_.exec).sum),
      "exec.wall_ms" -> covers.map(_.exec).sum,
      "exec.run_ms" -> runMs,
      "exec.cpu_ms" -> tasks.map(_.cpuNs).sum / 1e6,
      "exec.gc_ms" -> tasks.map(_.gcMs).sum.toDouble,
      "exec.slot_util" -> runMs / (wall * nproc),
      "exec.task_success_ratio" -> (if (tasks.isEmpty) 1.0 else tasks.count(_.ok).toDouble / tasks.size),
      "shuffle.write_bytes" -> tasks.map(_.shuffleWrite).sum.toDouble,
      "shuffle.read_bytes" -> tasks.map(_.shuffleRead).sum.toDouble,
      "shuffle.skew" -> skew,
      "spill.bytes" -> tasks.map(_.spill).sum.toDouble,
      "io.input_bytes" -> tasks.map(_.inBytes).sum.toDouble,
      "io.input_rows" -> tasks.map(_.inRows).sum.toDouble,
      "io.output_bytes" -> tasks.map(_.outBytes).sum.toDouble,
      "io.output_rows" -> tasks.map(_.outRows).sum.toDouble)
  }

  def ms[T](f: => T): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6 }
  def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Direct calls into io and scale on this workload's inputs, each forced
    * with a no-op sink. */
  def probes(ctx: Ctx): Seq[(String, Double)] = {
    import graft.io.{CsvIO, JsonIO, ParquetIO}
    import graft.scale.{Dedup, Similarity, TextAnalysis}
    val spark = ctx.spark
    val scan = ctx.probe.scans.map { case (fmt, p) =>
      ms(force(fmt match {
        case "csv" => CsvIO.read(spark, p)
        case "json" => JsonIO.read(spark, p)
        case _ => ParquetIO.read(spark, p)
      }))
    }.sum
    // each csv/json/parquet sink's input, cached, then written again directly
    val probeOut = ctx.a.work.resolve("probe")
    var write = 0.0
    ctx.jobs.foreach { j =>
      j.beforePass(spark)
      val spec = JobConfig.parse(j.config)
      val built = JobGraph.build(spark, spec)
      try built.sinks.foreach { case (name, _) =>
        val kind = spec.components.find(_.name == name).get
        val target = probeOut.resolve(s"${j.name}-$name").toString
        val write1: Option[DataFrame => Unit] = kind.compType match {
          case "write_csv" => Some(df => CsvIO.write(df, target, singleFile = kind.bool("single_file", true)))
          case "write_json" => Some(df => JsonIO.write(df, target, gzip = kind.bool("gzip", false)))
          case "write_parquet" => Some(df => df.write.mode("overwrite").parquet(target))
          case _ => None
        }
        write1.foreach { w =>
          val cached = built.frames((name, "out")).persist()
          cached.count()
          write += ms(w(cached))
          cached.unpersist(true)
        }
      } finally built.close()
    }
    Workloads.deleteTree(probeOut)

    val docs = spark.read.parquet(ctx.probe.docs)
    val text = ms(force(TextAnalysis.gopherFilter(TextAnalysis.normalizeText(docs, "text"), "text")))
    val dedup = ms(force(Dedup.minhashDedup(docs, "text", "doc_id")))
    val pairs = Dedup.minhashNearDups(docs, "text", "doc_id").persist()
    pairs.count()
    val cc = ms(force(Dedup.connectedComponents(pairs)))
    pairs.unpersist(true)
    val emb = spark.read.parquet(ctx.probe.embeddings)
    val centroids = spark.read.parquet(ctx.probe.centroids)
    val query = spark.read.parquet(ctx.probe.query)
    val sim = ms(Similarity.ivfTopK(emb, "embedding", "id", centroids, query, 10, nprobe = 2).collect())
    graft.scale.OpCaches.drain()
    Seq("io.scan_ms" -> scan, "io.write_ms" -> write, "scale.text_ms" -> text,
      "scale.dedup_ms" -> dedup, "scale.cc_ms" -> cc, "scale.similarity_ms" -> sim)
  }

  /** The speed-up job's wall at local[1] over its wall at local[nproc]
    * (one warm run each side; the JVM is warm, the 1-core context new).
    * Ends the session. */
  def speedup(ctx: Ctx): Double = {
    val spec = JobConfig.parse(ctx.speedupJob.config)
    def once(s: SparkSession): Double = {
      ctx.speedupJob.beforePass(s)
      ms(require(JobRunner.run(s, spec).succeeded, "speed-up job failed"))
    }
    val many = once(ctx.spark)
    ctx.spark.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val one = Session.build(ctx.a.work, 1, Some("local[1]"))
    try once(one) / many finally one.stop()
  }

  val units: Map[String, String] = Map(
    "api.self_ms" -> "ms", "runtime.self_ms" -> "ms", "runtime.attempts" -> "count",
    "config.parse_ms" -> "ms", "graph.validate_ms" -> "ms", "graph.build_ms" -> "ms",
    "graph.sinks_ms" -> "ms", "graph.close_ms" -> "ms", "graph.build_spark_jobs" -> "count",
    "graph.persists" -> "count", "plan.sql_execs" -> "count", "plan.analysis_ms" -> "ms",
    "plan.optimization_ms" -> "ms", "plan.planning_ms" -> "ms", "plan.self_ms" -> "ms",
    "plan.exec_driver_ms" -> "ms", "codegen.compiles" -> "count", "codegen.compile_ms" -> "ms",
    "codegen.pass_compiles" -> "count",
    "sched.jobs" -> "count", "sched.stages" -> "count", "sched.tasks" -> "count",
    "sched.delay_ms" -> "ms", "sched.self_ms" -> "ms", "sched.driver_only_ms" -> "ms",
    "exec.wall_ms" -> "ms", "exec.run_ms" -> "ms", "exec.cpu_ms" -> "ms", "exec.gc_ms" -> "ms",
    "exec.slot_util" -> "ratio", "exec.task_success_ratio" -> "ratio",
    "exec.speedup_vs_1core" -> "ratio",
    "shuffle.write_bytes" -> "bytes", "shuffle.read_bytes" -> "bytes", "shuffle.skew" -> "ratio",
    "spill.bytes" -> "bytes", "io.input_bytes" -> "bytes", "io.input_rows" -> "rows",
    "io.scan_ms" -> "ms", "io.output_bytes" -> "bytes", "io.output_rows" -> "rows",
    "io.write_ms" -> "ms", "io.write_amp" -> "ratio", "cache.peak_bytes" -> "bytes",
    "scale.text_ms" -> "ms", "scale.dedup_ms" -> "ms", "scale.cc_ms" -> "ms",
    "scale.similarity_ms" -> "ms", "trace.wall_ms" -> "ms", "trace.residual_ms" -> "ms",
    "trace.overhead_ratio" -> "ratio", "calib.cpu_ms" -> "ms")
}
