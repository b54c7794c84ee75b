package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.config.JobConfig._
import graft.ops.TypeConversionOp
import graft.schema.SchemaValidator

/**
 * Wiring validation + topological DataFrame fold — the Spark translation
 * of the reference's RuntimeJob + JobExecutionHandler (reference:
 * src/etl_core/job_execution/runtimejob.py:49-333,
 * job_execution_handler.py:261-474): queues, sentinels, per-component
 * asyncio workers and buffering all collapse into Catalyst's lazy DAG —
 * the fold produces one DataFrame per (component, out-port), and sinks
 * become deferred actions.
 *
 * Validation mirrors the reference checks 1:1:
 *  - unique component names, routes point to known components
 *    (job_config.py:107-113);
 *  - sources reject incoming edges (runtimejob.py:218-227): they
 *    declare no in ports, so the route check below refuses them;
 *  - required out ports need ≥1 route, fanout=one ports at most 1;
 *    required in ports need ≥1 upstream, fanin=one at most 1
 *    (runtimejob.py:266-301);
 *  - every USED port carries a schema (runtimejob.py:301-322);
 *  - plan-time structural schema validation on every edge, with unknown
 *    AND missing columns as errors (common_helpers.py:161-179); optional
 *    data-level null/enum checks (validation.py:183-235) via one
 *    aggregate scan per edge when `validateData` is set.
 *
 * Cache insertion (SURVEY §7.4.1): any produced frame consumed by more
 * than one downstream edge, and the input of any component fanning out to
 * ≥2 routed out ports, is persisted so Spark's per-action lineage does not
 * recompute the shared prefix. BuiltJob.close() releases those handles —
 * ownership lives here, not in the operators.
 *
 * Per-comp_type knowledge (params, ports, build) lives in one place, the
 * registry in graph/Components.scala; this object holds only what every
 * component shares.
 */
object JobGraph {

  /** The registry entry of a known comp_type (validation has already
    * rejected unknown ones). */
  private def defOf(c: ComponentSpec): ComponentDef = Components.byName(c.compType)
  private[graft] def inPorts(c: ComponentSpec): Seq[PortSpec] = defOf(c).ports.of(c).in
  private def outPorts(c: ComponentSpec): Seq[PortSpec] = defOf(c).ports.of(c).out

  final case class BuiltJob(
      frames: Map[(String, String), DataFrame],
      sinks: Seq[(String, () => Unit)],
      cached: Seq[DataFrame]) {
    /** Run every sink action (the job's terminal effect). */
    def runSinks(): Unit = sinks.foreach(_._2())
    /** Release cache handles inserted by the fold, plus any
      * operator-internal caches (dedup/similarity signature tables)
      * registered during this job's construction or run — without this a
      * long-lived Scheduler/ControlPlane process accumulates them forever. */
    def close(): Unit = {
      // ONLY this job's handles: the fold's inserts plus the operator
      // persists captured by build()'s OpCaches scope. The pre-r20
      // OpCaches.drain() here was global and could release a
      // concurrently-running job's signature tables mid-run on the
      // shared session (see OpCaches scaladoc).
      cached.foreach(_.unpersist())
    }
  }

  /** type_conversion out-schema derivation (reference
    * type_conversion_component.py:83-97, helper :380-435): a
    * type_conversion with no declared "out" schema gets one derived from
    * its in-schema + rules (target type swap, nullability from the error
    * policy — see TypeConversionOp.deriveOutSchema). Explicit declaration
    * stays the override; idempotent, so validate-then-build derives once. */
  private[graft] def deriveSchemas(spec: JobSpec): JobSpec =
    spec.copy(components = spec.components.map { c =>
      if (c.compType == "type_conversion" && !c.outPortSchemas.contains("out"))
        c.inPortSchemas.get("in") match {
          case Some(in) => c.copy(outPortSchemas = c.outPortSchemas +
            ("out" -> TypeConversionOp.deriveOutSchema(in, Components.castRules(c))))
          case None => c
        }
      else c
    })

  /** Validate wiring only (throws on contract violations). */
  def validate(spec0: JobSpec): Unit = validateDerived(deriveSchemas(spec0))

  /** The registry entry a component runs under in this fold — or the
    * rejection: an unknown comp_type (a typo like 'text_normalise' must
    * not reach execute time, after every retry and backoff), a
    * streaming-only twin in a batch job, or a batch-only type in a
    * streaming job. */
  private def resolve(spec: JobSpec, c: ComponentSpec, streaming: Boolean): ComponentDef =
    Components.byName.get(c.compType) match {
      case None => throw new IllegalArgumentException(
        s"component ${c.name}: unknown comp_type '${c.compType}' " +
          "(GET /schemas lists the registry)")
      case Some(d) if streaming && !d.runs.streaming =>
        val supported = Components.all.filter(_.runs.streaming).map(_.name).sorted
        throw new IllegalArgumentException(
          s"streaming job ${spec.name}: comp_type '${c.compType}' (${c.name}) is not " +
            s"streamable — supported: ${supported.mkString(", ")}; " +
            "aggregation/dedup need watermark semantics (see streaming/Streaming.scala)")
      case Some(d) if !streaming && !d.runs.batch => throw new IllegalArgumentException(
        s"component ${c.name}: comp_type '${c.compType}' runs only in streaming " +
          "jobs (graft.streaming.StreamingJobs); its batch counterpart is " +
          s"'${c.compType.stripPrefix("streaming_")}'")
      case Some(d) => d
    }

  /** " (did you mean 'x'?)" for the closest candidate within a third of
    * the word's length in edits, else "". */
  private def didYouMean(word: String, candidates: Iterable[String]): String = {
    def edits(a: String, b: String): Int = {
      var prev = Array.tabulate(b.length + 1)(identity)
      for (i <- 1 to a.length) {
        val cur = Array.fill(b.length + 1)(i)
        for (j <- 1 to b.length)
          cur(j) = math.min(math.min(cur(j - 1), prev(j)) + 1,
            prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        prev = cur
      }
      prev(b.length)
    }
    candidates.map(k => k -> edits(word, k))
      .filter(_._2 <= math.max(1, word.length / 3))
      .minByOption(_._2).map(k => s" (did you mean '${k._1}'?)").getOrElse("")
  }

  private val baseFieldNames: Set[String] = Components.baseFields.map(_.name).toSet

  /** Validation body over an already-derived spec (build() derives once
    * and calls this directly instead of re-deriving via validate);
    * `streaming` selects which fold's comp_types are accepted. */
  private[graft] def validateDerived(spec: JobSpec, streaming: Boolean = false): Unit = {
    val byName = spec.components.map(c => c.name -> c).toMap
    require(byName.size == spec.components.size, {
      val dups = spec.components.groupBy(_.name).filter(_._2.size > 1).keys
      s"duplicate component names: ${dups.mkString(", ")}"
    })
    // comp_type and param keys are checked FIRST: the port checks below
    // would otherwise mask the real problem with default-port complaints
    for (c <- spec.components) {
      val d = resolve(spec, c, streaming)
      // a key that is neither a wiring field nor a declared param is a
      // typo ("seperator") the build would silently ignore for its default
      val unknown = c.params match {
        case org.json4s.JObject(fields) =>
          fields.map(_._1).filterNot(k => baseFieldNames(k) || d.paramNames(k))
        case _ => Nil
      }
      require(unknown.isEmpty,
        s"component ${c.name} (${c.compType}): unknown param" +
          (if (unknown.size > 1) "s " else " ") +
          unknown.map(k => s"'$k'" + didYouMean(k, d.paramNames ++ baseFieldNames)).mkString(", ") +
          s"; declared: ${d.params.map(_.name).mkString(", ")}")
      // every declared param is read once, so a wrong type or a value
      // outside a choice fails HERE, naming the component and key — not
      // at build time inside every retry attempt. An explicit JSON null
      // is as absent as a missing key: "filepath": null fails here too.
      d.params.foreach(p => if (p.required) p(c) else p.read(c))
      // a retry re-runs the whole job, so a sink that committed before a
      // later failure would write the same rows again: an append file
      // sink, or a database sink inserting
      if (!streaming && spec.numOfRetries > 0) {
        require(!d.params.contains(Components.append) || !Components.append(c),
          s"component ${c.name} (${c.compType}): append: true cannot be combined " +
            s"with num_of_retries ${spec.numOfRetries} — a retry re-runs the whole " +
            "job and would append the same rows again; set num_of_retries to 0 or drop append")
        require(!d.params.contains(Components.ifExists) ||
          !Components.ifExists(c).equalsIgnoreCase("insert"),
          s"component ${c.name} (${c.compType}): if_exists insert cannot be combined " +
            s"with num_of_retries ${spec.numOfRetries} — a retry re-runs the whole " +
            "job and would insert the same rows again; set num_of_retries to 0 or " +
            "use if_exists upsert/truncate")
      }
    }

    // routes point at known components and known in-ports
    for (c <- spec.components; (port, dsts) <- c.routes; d <- dsts) {
      val target = byName.getOrElse(d.to, throw new IllegalArgumentException(
        s"component ${c.name}: route $port → unknown component '${d.to}'"))
      val tin = inPorts(target)
      require(tin.exists(_.name == d.inPort),
        s"component ${c.name}: route $port → ${d.to}.${d.inPort}, " +
          s"but ${d.to} has in ports ${tin.map(_.name).mkString("[", ",", "]")}")
    }
    // incoming edge counts per (component, in-port)
    val incoming: Map[(String, String), Int] =
      spec.components.flatMap(c => c.routes.toSeq.flatMap { case (_, dsts) =>
        dsts.map(d => (d.to, d.inPort))
      }).groupBy(identity).view.mapValues(_.size).toMap

    for (c <- spec.components) {
      for (p <- outPorts(c)) {
        val n = c.routes.get(p.name).map(_.size).getOrElse(0)
        require(!(p.required && n == 0),
          s"component ${c.name}: required out port '${p.name}' has no route")
        require(p.multi || n <= 1,
          s"component ${c.name}: out port '${p.name}' must have exactly one successor")
      }
      for (p <- inPorts(c)) {
        val n = incoming.getOrElse((c.name, p.name), 0)
        require(!(p.required && n == 0),
          s"component ${c.name}: required in port '${p.name}' has no upstream edges")
        require(p.multi || n <= 1,
          s"component ${c.name}: in port '${p.name}' must have " +
            s"${if (p.required) "exactly" else "at most"} one upstream edge")
      }
      // unknown route ports
      for (port <- c.routes.keys)
        require(outPorts(c).exists(_.name == port),
          s"component ${c.name}: route from undeclared out port '$port'")
      // schema presence for used ports
      for ((port, dsts) <- c.routes if dsts.nonEmpty)
        require(c.outPortSchemas.contains(port),
          s"component ${c.name}: out port '$port' has no schema")
      for (p <- inPorts(c) if incoming.getOrElse((c.name, p.name), 0) > 0)
        require(c.inPortSchemas.contains(p.name),
          s"component ${c.name}: in port '${p.name}' has no schema")
    }
    topoOrder(spec) // raises on cycles
  }

  private[graft] def topoOrder(spec: JobSpec): Seq[ComponentSpec] = {
    val preds: Map[String, Set[String]] = {
      val m = scala.collection.mutable.Map.empty[String, Set[String]]
      spec.components.foreach(c => m(c.name) = Set.empty)
      for (c <- spec.components; (_, dsts) <- c.routes; d <- dsts)
        m(d.to) = m(d.to) + c.name
      m.toMap
    }
    val order = scala.collection.mutable.ListBuffer.empty[ComponentSpec]
    val done = scala.collection.mutable.Set.empty[String]
    var remaining = spec.components
    while (remaining.nonEmpty) {
      val (ready, blocked) = remaining.partition(c => preds(c.name).subsetOf(done))
      if (ready.isEmpty)
        throw new IllegalArgumentException(
          s"job ${spec.name}: cycle among ${blocked.map(_.name).mkString(", ")}")
      ready.foreach { c => order += c; done += c.name }
      remaining = blocked
    }
    order.toSeq
  }

  /** Validate + fold the DAG into DataFrames. `validateData` additionally
    * runs the null/enum data checks on every edge (one aggregate scan);
    * `instrumentTag` attaches an observe() row counter per produced port,
    * namespaced `graft.<tag>.` — the tag is the RUN's identity, so the
    * shared session's listener bus can host concurrent executions
    * without their metrics cross-contaminating (each run's listener
    * filters on its own tag)
    * (lines_forwarded, harvested by JobRunner's listener). */
  def build(spark: SparkSession, spec0: JobSpec,
            validateData: Boolean = false,
            instrumentTag: Option[String] = None): BuiltJob = {
    val spec = deriveSchemas(spec0)
    validateDerived(spec)
    val order = topoOrder(spec)
    val frames = scala.collection.mutable.Map.empty[(String, String), DataFrame]
    val inputs = scala.collection.mutable.Map.empty[(String, String), Vector[DataFrame]]
    val sinks = scala.collection.mutable.ListBuffer.empty[(String, () => Unit)]
    val cached = scala.collection.mutable.ListBuffer.empty[DataFrame]

    // OpCaches scope: operator-internal persists (dedup/similarity
    // signature tables) registered while THIS build constructs plans
    // become this job's own handles — released by close(), never by a
    // concurrent job. The scope also releases them if the fold throws;
    // the catch below does the same for the fold's OWN inserts (a
    // malformed component downstream of a persist used to leak the
    // handle on every retry attempt of a long-lived process).
    val (_, opHandles) = graft.scale.OpCaches.scoped {
      try buildFold(spark, spec, order, validateData, instrumentTag,
        frames, inputs, sinks, cached)
      catch {
        case t: Throwable =>
          cached.foreach(_.unpersist(false))
          throw t
      }
    }
    BuiltJob(frames.toMap, sinks.toSeq, cached.toSeq ++ opHandles)
  }

  private def buildFold(spark: SparkSession, spec: JobSpec,
                        order: Seq[ComponentSpec],
                        validateData: Boolean,
                        instrumentTag: Option[String],
                        frames: scala.collection.mutable.Map[(String, String), DataFrame],
                        inputs: scala.collection.mutable.Map[(String, String), Vector[DataFrame]],
                        sinks: scala.collection.mutable.ListBuffer[(String, () => Unit)],
                        cached: scala.collection.mutable.ListBuffer[DataFrame]): Unit = {
    // frames whose content is already backed by a persist (the fan-out
    // rule below) — the multi-output input persist must not cache the
    // same rows a second time through the observe wrapper
    val backedByCache = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[DataFrame, java.lang.Boolean]())
    for (c <- order) {
      val inByPort: Map[String, Seq[DataFrame]] =
        inPorts(c).map(p => p.name -> inputs.getOrElse((c.name, p.name), Vector.empty).toSeq)
          .filter(_._2.nonEmpty).toMap

      // cache the shared inputs of a multi-output component (filter's
      // pass+fail, split's tee, a join fanning out) so each consumed
      // port does not rescan them — ALL inputs, not only the
      // single-input case (a two-input join with two routed outs
      // re-scanned both sides per out action); inputs already backed by
      // the fan-out persist below are skipped, not double-cached
      val routedOut = c.routes.count(_._2.nonEmpty)
      val cachedIn: Map[String, Seq[DataFrame]] =
        if (routedOut > 1) {
          inByPort.map { case (p, dfs) =>
            p -> dfs.map { df =>
              if (backedByCache.contains(df)) df
              else { val h = df.persist(); cached += h; h }
            }
          }
        } else inByPort

      val (outs, sink) = defOf(c).build(new BuildCtx(spark, c, defOf(c), cachedIn, spec.components))
      sink.foreach(a => sinks += ((c.name, a)))

      for ((port, checked) <- checkedOutputs(c, outs, validateData)) {
        val edges = c.routes.getOrElse(port, Nil)
        val observed = instrumentTag match {
          case Some(tag) =>
            checked.observe(s"graft.$tag.${c.name}.$port", count(lit(1)).as("rows"))
          case None => checked
        }
        // fan-out: persist a frame consumed by >1 edge
        val shared =
          if (edges.size > 1) { val h = observed.persist(); cached += h; h }
          else observed
        frames((c.name, port)) = shared
        for ((e, i) <- edges.zipWithIndex) {
          // lines_received metric on the consuming edge (reference
          // component_metrics.py:4-30 records received per component; the
          // ':'-separated name disambiguates even if component names
          // contain dots — JobRunner aggregates per "<to>.<inPort>")
          val wired = instrumentTag match {
            case Some(tag) =>
              shared.observe(s"graft.$tag.recv:${e.to}.${e.inPort}:${c.name}.$port.$i",
                count(lit(1)).as("rows"))
            case None => shared
          }
          // an observe() wrapper over a persisted frame scans the cache;
          // mark it so the consumer's multi-output input persist doesn't
          // cache identical content a second time
          if (edges.size > 1) backedByCache.add(wired)
          inputs((e.to, e.inPort)) =
            inputs.getOrElse((e.to, e.inPort), Vector.empty) :+ wired
        }
      }
    }
  }

  /** Both folds' contract on one component's outputs: every routed port
    * must be produced in this configuration (else a merge downstream
    * would silently union fewer inputs, or a single-edge consumer die
    * later with a misleading 'no input on port' error), and each routed
    * port is checked against its declared schema (structurally, plus the
    * data checks when `validateData`). */
  private[graft] def checkedOutputs(c: ComponentSpec, outs: Map[String, DataFrame],
                                    validateData: Boolean): Map[String, DataFrame] = {
    for ((port, dsts) <- c.routes if dsts.nonEmpty)
      require(outs.contains(port),
        s"component ${c.name} (${c.compType}): route from out port " +
          s"'$port', which this configuration does not produce " +
          s"(produced: ${outs.keys.mkString(", ")})")
    outs.map { case (port, df) =>
      port -> (c.outPortSchemas.get(port) match {
        case Some(expected) if c.routes.getOrElse(port, Nil).nonEmpty =>
          SchemaValidator.enforce(df, expected, structuralOnly = !validateData)
        case _ => df
      })
    }
  }

  /** Dry-run plan inspection: build the whole DAG — config parsing,
    * schema validation, and Catalyst analysis/optimization all run,
    * exactly as a real execution would plan them — and return each
    * sink's FORMATTED physical plan WITHOUT running any sink action.
    * The pre-flight a 100 TB job needs before paying for the run: is
    * the filter in PushedFilters next to the scan, did the dimension
    * side broadcast, where are the Exchanges? The plan shown is the
    * sink's INPUT frame (format-level write mechanics — bucket layout,
    * single-file concat — happen inside the sink action and add no
    * exchanges of their own). Invalid configs, missing inputs, and
    * schema drift all throw here, loudly, before any data moves. */
  def explainJob(spark: SparkSession, spec: JobSpec): Seq[(String, String)] = {
    val built = build(spark, spec)
    try
      built.sinks.map { case (name, _) =>
        name -> built.frames(name -> "out").queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode)
      }
    finally built.close()
  }


  /** LSH depth for the declarative `dedup method=embedding` component.
    * Explicit `bands`/`rows_per_band` config always wins; each OMITTED
    * parameter is solved CONDITIONAL on the pinned one via the MEASURED
    * rule halves (the 100x tools/ScaleProbe @0fcdae9 showed fixed small-corpus depth
    * degenerating at 200k vectors: ~6e8 background candidates, ~60 GB
    * spill): r from the corpus count (candidate volume), bands from the
    * EFFECTIVE r (recall budget) — deriving bands against a fresh r when
    * the user pinned a different r would satisfy neither half.
    * `corpusCount` is by-name and only forced when r itself is derived,
    * so pinning rows_per_band alone also skips the count() action. */
  private[graft] def embeddingDepth(explicitBands: Option[Int],
      explicitR: Option[Int], simThreshold: Double,
      corpusCount: => Long): (Int, Int) = {
    import graft.scale.Similarity
    val r = explicitR.getOrElse(Similarity.lshRowsFor(math.max(1L, corpusCount)))
    val bands = explicitBands.getOrElse(Similarity.lshBandsFor(r, simThreshold))
    (bands, r)
  }
}
