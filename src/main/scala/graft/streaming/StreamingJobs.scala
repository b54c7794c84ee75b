package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.config.JobConfig.{ComponentSpec, JobSpec}
import graft.graph.{BuildCtx, Components, JobGraph}
import graft.schema.FieldDef

/**
 * Incremental execution of a declarative job config: the SAME JobSpec the
 * batch engine folds into DataFrames (graph/JobGraph.scala) runs as a
 * Structured Streaming pipeline — sources become `readStream` over their
 * directories, every other component runs the SAME build from the
 * component registry (graph/Components.scala) on streaming frames, and
 * each sink runs as its own StreamingQuery with an exactly-once
 * checkpoint.
 *
 * This is the Spark-first mapping of the reference's `row` strategy
 * (SURVEY.md §1.4: record-at-a-time push streaming,
 * src/etl_core/strategies/row_strategy.py:17-25): where the reference
 * pipelines dicts through asyncio queues and asserts cross-strategy result
 * equality in its e2e suite, the Spark engine gets incremental execution
 * from the SAME operator implementations — StreamingJobsSpec asserts
 * batch/streaming parity per config, which is the reference's own
 * cross-strategy contract.
 *
 * Which comp_types stream is the registry's `streams` flag: the
 * stateless transforms, the stream-static comp_types, the stateful
 * `aggregation` (event-time windows under a watermark), `dedup`
 * (method=exact, dropDuplicatesWithinWatermark) and `group_cap` (a
 * lifetime counter per group), and the csv/json/parquet sources and
 * sinks. Every comp_type runs in batch jobs. Validation (JobGraph, in
 * streaming mode) rejects any other comp_type before any frame is
 * built; `plan` then rejects a streaming comp_type's configuration that
 * would aggregate over the stream or keep unbounded state
 * (`streamable`).
 *
 * Stream-static comp_types (dedup_against, decontaminate, range_join,
 * asof_join, line_dedup, outlier_filter) take their closed side — a
 * reference corpus, a benchmark, an interval or dimension table — on a
 * port the registry marks `static`. A source whose every route ends on
 * a static port is built by its batch build (a batch frame, every param
 * applied); every other source is a `readStream`. The comp_type's build
 * is the batch one, so a stream joins, probes or filters against the
 * batch frame statelessly. Before any frame is built, `plan` rejects a
 * static port fed by a stream, an unwired static port, and a
 * configuration whose plan would aggregate over the stream
 * (`streamable`).
 *
 * Scale/runtime notes:
 *  - No persist/cache is inserted (illegal on streaming frames). A config
 *    whose DAG fans out feeds several sink queries; each maintains its own
 *    incremental scan of the shared lineage — the streaming-native way to
 *    express a tee, with per-sink exactly-once instead of a shared
 *    materialization.
 *  - `Trigger.AvailableNow` (the `runOnce` entry point) drains available
 *    input then stops, giving deterministic "process the backlog" runs —
 *    the closest incremental analogue of one batch job execution; pass a
 *    processing-time trigger to `start` for continuous tailing.
 *
 * Sources read ONLY with a declared schema (streaming refuses inference):
 * read_csv consumes its all-string declared schema, read_json (NDJSON
 * layouts) and read_parquet their declared port schema. The readStream /
 * writeStream mapping applies only a source's or sink's path, separator
 * and json format; any other of their params (write_parquet's layout
 * levers, write_json gzip, read_csv multiline, read_parquet
 * merge_schema, ...) set away from its default is rejected, not ignored.
 */
object StreamingJobs {

  final case class SinkPlan(component: String, df: DataFrame, format: String,
                            path: String, options: Map[String, String])

  /** The params each readStream source / writeStream sink below applies,
    * per comp_type; its other declared params must stay at their defaults. */
  private[graft] val appliedParams: Map[String, Set[String]] = Map(
    "read_csv" -> Set("filepath", "separator"),
    "read_json" -> Set("filepath", "format"),
    "read_parquet" -> Set("filepath"),
    "write_csv" -> Set("filepath", "separator"),
    "write_json" -> Set("filepath", "format"),
    "write_parquet" -> Set("filepath"))

  /** What a comp_type's streaming face needs of one param: one of
    * `values`, set (non-empty when a list), or left at its default. */
  private[graft] sealed trait Need
  private[graft] final case class OneOf(values: Set[String]) extends Need
  private[graft] case object Given extends Need
  private[graft] case object Default extends Need

  /** A comp_type whose streaming face holds only for some configurations:
    * why, and what each param must be. Any other configuration would
    * aggregate over the unbounded stream or keep unbounded state. A
    * streaming comp_type absent here streams in every configuration. */
  private[graft] final case class Streamable(why: String, needs: (String, Need)*)

  private[graft] val streamable: Map[String, Streamable] = {
    val stateless = "it would aggregate over the stream"
    Map(
      "asof_join" -> Streamable(stateless, "strategy" -> OneOf(Set("broadcast"))),
      "decontaminate" -> Streamable(stateless, "strategy" -> OneOf(Set("broadcast")),
        "emit" -> OneOf(Set("flagged", "clean"))),
      "line_dedup" -> Streamable(stateless, "strategy" -> OneOf(Set("set")),
        "emit" -> OneOf(Set("docs"))),
      "schema_mapping" -> Streamable("a stream-stream join needs watermark " +
        "bounds; map mode streams", "join_plan" -> Default),
      "aggregation" -> Streamable("a stream aggregates per event-time window, " +
        "and the watermark bounds the window state",
        "time_column" -> Given, "watermark" -> Given),
      "dedup" -> Streamable("a stream drops repeats of the exact key within the " +
        "watermark; near-dup methods and keep_by need the whole corpus, so run " +
        "them in a batch job",
        "method" -> OneOf(Set("exact")), "keep_by" -> Default,
        "time_column" -> Given, "watermark" -> Given),
      "group_cap" -> Streamable("a stream keeps the first `cap` rows to arrive " +
        "per `by` group, one counter per group",
        "by" -> Given, "order_by" -> Default, "seed" -> Default,
        "allow_global" -> Default))
  }

  /** Fold the spec into per-sink streaming plans (no query started yet). */
  def plan(spark: SparkSession, spec0: JobSpec): Seq[SinkPlan] = {
    val spec = JobGraph.deriveSchemas(spec0)
    JobGraph.validateDerived(spec, streaming = true)
    val byName = spec.components.map(c => c.name -> c).toMap
    val inbound: Map[(String, String), Seq[(String, String)]] = {
      val m = scala.collection.mutable.Map.empty[(String, String), Vector[(String, String)]]
        .withDefaultValue(Vector.empty)
      for (c <- spec.components; (port, dsts) <- c.routes; d <- dsts)
        m((d.to, d.inPort)) = m((d.to, d.inPort)) :+ ((c.name, port))
      m.toMap
    }
    // sources routed to static ports only: read once as batch frames
    // (validation has given every source at least one route)
    val static: Set[String] = spec.components.filter { c =>
      JobGraph.inPorts(c).isEmpty && c.routes.values.flatten.forall(d =>
        JobGraph.inPorts(byName(d.to)).exists(p => p.name == d.inPort && p.static))
    }.map(_.name).toSet

    for (c <- spec.components) {
      val what = s"streaming job ${spec.name}: ${c.compType} ${c.name}"
      // a source/sink param the readStream/writeStream mapping below does
      // not apply would be silently ignored: only its default is accepted
      for (applied <- appliedParams.get(c.compType) if !static(c.name);
           p <- Components.byName(c.compType).params if !applied(p.name))
        require(!p.overridden(c),
          s"$what sets '${p.name}', " +
            "which the streaming source/sink path does not apply " +
            s"(it applies only ${applied.toSeq.sorted.mkString(", ")}); " +
            "drop it or run the job as a batch job")
      if ((c.compType == "read_json" || c.compType == "write_json") && !static(c.name))
        require(Components.jsonFormat(c) == "ndjson",
          s"$what: only ndjson streams (array is a single-document format; " +
            "a stream has no final document)")
      for (p <- JobGraph.inPorts(c) if p.static) {
        val from = inbound.getOrElse((c.name, p.name), Nil).map(_._1)
        require(from.nonEmpty,
          s"$what: static port '${p.name}' is not wired; a streaming job " +
            "reads it from a source routed to it (a stream cannot supply it)")
        for (f <- from) require(static(f),
          s"$what: static port '${p.name}' receives a stream from $f; feed it " +
            "straight from a source whose every route ends on a static port")
      }
      for (Streamable(why, needs @ _*) <- streamable.get(c.compType); (key, need) <- needs) {
        val p = Components.byName(c.compType).params.find(_.name == key).get
        def reject(problem: String, fix: String) =
          throw new IllegalArgumentException(s"$what: $problem does not stream ($why); $fix")
        need match {
          case OneOf(ok) =>
            val v = p(c).toString
            if (!ok(v)) reject(s"$key=$v", s"set $key: ${ok.toSeq.sorted.mkString(" or ")}")
          case Given =>
            if (p.read(c).forall { case xs: Seq[_] => xs.isEmpty; case _ => false })
              reject(s"an unset $key", s"set $key")
          case Default =>
            if (p.overridden(c)) reject(s"a set $key", s"drop $key")
        }
      }
    }

    val frames = scala.collection.mutable.Map.empty[(String, String), DataFrame]
    def in(c: ComponentSpec, port: String): Seq[DataFrame] =
      inbound.getOrElse((c.name, port), Nil).map(frames(_))
    def schemaFor(c: ComponentSpec): org.apache.spark.sql.types.StructType =
      FieldDef.toStructType(c.outPortSchemas.getOrElse("out",
        throw new IllegalArgumentException(
          s"streaming source ${c.name}: out schema required (no inference on streams)")))

    val sinks = scala.collection.mutable.ListBuffer.empty[SinkPlan]

    for (c <- JobGraph.topoOrder(spec)) {
      val inByPort = JobGraph.inPorts(c).map(p => p.name -> in(c, p.name))
        .filter(_._2.nonEmpty).toMap
      val d = Components.byName(c.compType)
      val b = new BuildCtx(spark, c, d, inByPort, spec.components)
      val outs: Map[String, DataFrame] = c.compType match {
        case _ if static(c.name) => d.build(b)._1
        case "read_csv" =>
          Map("out" -> spark.readStream.schema(schemaFor(c))
            .option("header", "true")
            .option("sep", b(Components.separator))
            .csv(b(Components.filepath)))
        case "read_json" =>
          Map("out" -> spark.readStream.schema(schemaFor(c))
            .json(b(Components.filepath)))
        case "read_parquet" =>
          Map("out" -> spark.readStream.schema(schemaFor(c))
            .parquet(b(Components.filepath)))
        case t if t.startsWith("write_") =>
          val df = inByPort("in").head
          val (fmt, opts) = t match {
            case "write_parquet" => ("parquet", Map.empty[String, String])
            case "write_csv" => ("csv", Map("header" -> "true",
              "sep" -> b(Components.separator)))
            case "write_json" => ("json", Map.empty[String, String])
            case other => throw new IllegalArgumentException(s"unstreamable sink $other")
          }
          sinks += SinkPlan(c.name, df, fmt, b(Components.filepath), opts)
          Map("out" -> df) // optional passthrough port, like the batch fold
        case _ => d.build(b)._1
      }
      for ((port, df) <- JobGraph.checkedOutputs(c, outs, validateData = false))
        frames((c.name, port)) = df
    }
    sinks.toSeq
  }

  /** Start every sink query. Checkpoints live under
    * `checkpointRoot/<sinkComponentName>` — stable across restarts, which
    * is what makes each sink exactly-once on re-run. If a sink fails to
    * start, the queries already started are stopped before the failure
    * propagates. */
  def start(spark: SparkSession, spec: JobSpec, checkpointRoot: String,
            trigger: Trigger = Trigger.AvailableNow()): Seq[StreamingQuery] = {
    val started = scala.collection.mutable.ListBuffer.empty[StreamingQuery]
    stoppingOnFailure(started) {
      for (s <- plan(spark, spec))
        started += s.df.writeStream
          .format(s.format)
          .options(s.options)
          .option("path", s.path)
          .option("checkpointLocation", s"$checkpointRoot/${s.component}")
          .trigger(trigger)
          .start()
    }
    started.toSeq
  }

  /** Drain all currently-available input through every sink, then stop —
    * one incremental "execution" of the job (AvailableNow). A failed
    * query stops the others before its failure propagates. */
  def runOnce(spark: SparkSession, spec: JobSpec, checkpointRoot: String): Unit = {
    val queries = start(spark, spec, checkpointRoot)
    stoppingOnFailure(queries)(queries.foreach(_.awaitTermination()))
  }

  /** Run `body`; if it throws, stop every query in `queries` first. */
  private def stoppingOnFailure(queries: Iterable[StreamingQuery])(body: => Unit): Unit =
    try body
    catch {
      case t: Throwable =>
        for (q <- queries)
          try q.stop() catch { case e: Throwable => t.addSuppressed(e) }
        throw t
    }
}
