package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.config.{Kind, Param}
import graft.config.JobConfig._
import graft.io.{CsvIO, JdbcIO, JsonIO}
import graft.ops._
import graft.schema.FieldDef

/** One port of a comp_type. `static` marks the in port that takes the
  * static side of a stream-static component (a reference corpus, a
  * benchmark, an interval or dimension table): in a streaming job it is
  * fed by a source routed to static ports only, which StreamingJobs
  * reads as a batch frame; the batch fold treats it like any port. */
final case class PortSpec(name: String, required: Boolean, multi: Boolean,
                          static: Boolean = false)

/** A comp_type's port contract for one configuration. `multi`=true on an
  * out port allows fan-out to many edges; on an in port, fan-in of many. */
final case class Ports(in: Seq[PortSpec], out: Seq[PortSpec])

/** `of` maps a configuration to its ports; `note` explains contracts that
  * depend on params (the /full view renders `of` on an empty config). */
final case class PortContract(of: ComponentSpec => Ports, note: Option[String] = None)

/** Which folds run a comp_type: the batch fold (JobGraph), the streaming
  * fold (StreamingJobs), or both with the same build (a stream-static
  * comp_type reads its static port from a statically read source). */
sealed abstract class Runs(val batch: Boolean, val streaming: Boolean)
object Runs {
  case object BatchOnly extends Runs(batch = true, streaming = false)
  case object Both extends Runs(batch = true, streaming = true)
  case object StreamingOnly extends Runs(batch = false, streaming = true)
}

/** What a build sees: the session, its component, the frames on each in
  * port, and the whole job's components (read_table checks them). Params
  * are read through `apply`/`opt`, which refuse a Param the component's
  * ComponentDef does not declare. */
final class BuildCtx(val spark: SparkSession, val c: ComponentSpec, d: ComponentDef,
                     val in: Map[String, Seq[DataFrame]],
                     val allSpecs: Seq[ComponentSpec]) {
  private def declared[T](p: Param[T]): Param[T] = {
    require(d.params.contains(p),
      s"${d.name}: the build reads param '${p.name}', which ${d.name} does not declare")
    p
  }
  /** The param's value, else its default. */
  def apply[T](p: Param[T]): T = declared(p)(c)
  /** The param's value if set (absent and null are None). */
  def opt[T](p: Param[T]): Option[T] = declared(p).read(c)

  def one(port: String = "in"): DataFrame =
    in.getOrElse(port, throw new IllegalArgumentException(
      s"component ${c.name}: no input on port '$port'")).head

  // multi-port components (similarity, asof/range join, set_op, index
  // sinks): exactly one edge per named port
  def port(p: String): DataFrame = {
    val xs = in.getOrElse(p, Nil)
    require(xs.size == 1,
      s"${c.compType} ${c.name}: port '$p' needs exactly one edge")
    xs.head
  }

  /** An optional single-edge port: its frame if wired. */
  def optPort(p: String): Option[DataFrame] = in.get(p).map(_ => port(p))
}

/** One comp_type, defined once: its doc and params (served by GET
  * /schemas and checked by validation), its port contract, where it runs,
  * and its build — the out frame per port plus, for sinks, the deferred
  * write. The streaming fold runs the same build on streaming frames
  * (sources and sinks aside, which StreamingJobs maps to readStream /
  * writeStream; a source feeding only static ports runs this build). */
final case class ComponentDef(name: String, doc: String, params: Seq[Param[_]],
                              ports: PortContract = Components.transform,
                              runs: Runs = Runs.BatchOnly)(
    val build: BuildCtx => (Map[String, DataFrame], Option[() => Unit])) {
  val paramNames: Set[String] = params.map(_.name).toSet
}

/**
 * The component registry: every comp_type's ComponentDef. The batch fold
 * (JobGraph), the streaming fold (StreamingJobs), validation and the
 * discovery endpoint (api/ComponentSchemas) all read this table — the
 * reference serves GET /schemas from its component registry the same way
 * (schemas.py:362-479).
 */
object Components {
  import Runs._

  private def p[T](name: String, kind: Kind[T], desc: String): Param[T] =
    Param(name, kind)(desc)
  private def p[T](name: String, kind: Kind[T], default: T, desc: String): Param[T] =
    Param(name, kind, Some(default))(desc)
  private def req[T](name: String, kind: Kind[T], desc: String): Param[T] =
    Param(name, kind, required = true)(desc)
  /** A string choice; the first allowed value is the default. */
  private def choice(name: String, choices: Seq[String], desc: String): Param[String] =
    Param(name, Kind.str, Some(choices.head), choices)(desc)

  /** Documentation-only kind: wiring fields are parsed by JobConfig. */
  private def raw(json: String) = Kind[org.json4s.JValue](json, (_, v) => v)

  /** The wiring-level fields every component carries (JobConfig.
    * parseComponent) — the engine's analogue of the reference's
    * GUI-hidden base fields (routes/schemas are `used_in_table=False` on
    * the reference's Component model, served only by the /hidden and
    * /full views, schemas.py:442-479). */
  val baseFields: Seq[Param[_]] = Seq(
    req("name", Kind.str, "unique component name within the job"),
    req("comp_type", Kind.str, "component type (see /schemas/component_types)"),
    p("routes", raw("object"), "{out_port: [{to, in_port}] | \"component\" | [\"component\"]} — downstream wiring"),
    p("in_port_schemas", raw("object"), "{in_port: {fields: [FieldDef]}} — required for every used in port"),
    p("out_port_schemas", raw("object"), "{out_port: {fields: [FieldDef]}} — required for every routed out port"),
    p("extra_input_ports", Kind.strs, "additional declared in-port names (sql/schema_mapping fan-in)"),
    p("extra_output_ports", Kind.strs, "additional declared out-port names (split fan-out)"))

  // ----------------------------------------------------- shared params

  // Keys several comp_types read with one meaning and one default. A
  // comp_type may describe one in its own words (`doc`); it stays the
  // same param.
  val filepath = req("filepath", Kind.str, "path of the file to read/write")
  val separator = p("separator", Kind.str, ",", "field delimiter")
  val append = p("append", Kind.bool, false, "append rows under the existing header")
  /** read_json/write_json layout; the streaming fold reads and writes
    * ndjson only. */
  val jsonFormat = choice("format", Seq("ndjson", "array"),
    "'ndjson' or 'array' (pretty-printed JSON array)")
  private val singleFile = p("single_file", Kind.bool, true,
    "write one file (true) or a parquet-style directory of parts")
  private val partitionBy = p("partition_by", Kind.strs, Nil,
    "Hive-style partition columns (directory layout)")
  private val coalesceP = p("coalesce", Kind.int,
    "shrink to N output partitions before writing (small-files control for dimension-sized outputs)")
  private val sortBy = p("sort_by", Kind.strs, Nil, "in-bucket sort columns — lets the join skip its sort too")
  private val store = req("store", Kind.str, "store name (connection seam)")
  private val entityName = req("entity_name", Kind.str, "collection name")
  /** JDBC/Mongo sink write mode; `insert` is not retry-safe (JobGraph). */
  val ifExists = p("if_exists", Kind.str, "insert", "insert | upsert | truncate | update")
  private val keyFields = p("key_fields", Kind.strs, Nil, "conflict keys for upsert/update")
  private val textColumn = p("text_column", Kind.str, "text", "document text column")
  private val idColumn = p("id_column", Kind.str, "id", "unique id column")
  private val docIdColumn = p("id_column", Kind.str, "doc_id", "document id column")
  private val vectorColumn = p("vector_column", Kind.str, "embedding", "embedding column")
  private val referenceTextColumn = p("reference_text_column", Kind.str,
    "text column on the reference port, default = text_column")
  private val seed = p("seed", Kind.str, "",
    "hash salt — different seeds draw independent samples, and any seed is independent of hash_split's routing")
  private val by = p("by", Kind.strs, Nil,
    "mixing-group columns (source, language, shard); empty needs allow_global")
  private val costColumn = p("cost_column", Kind.str, "n_tokens",
    "per-row cost (token/char count; nulls cost 0)")
  private val allowGlobal = p("allow_global", Kind.bool, false,
    "permit the empty-`by` single-partition sort")
  private val keysBy = req("by", Kind.strs, "equality keys")
  private val suffix = p("suffix", Kind.str, "_r", "suffix for clashing right columns")
  private val on = req("on", Kind.str, "event-time column present on both sides")
  private val start = req("start", Kind.str, "right-side interval start column")
  private val end = req("end", Kind.str, "right-side interval end column")
  private val joinType = p("join_type", Kind.str, "inner", "inner | left")
  private val direction = p("direction", Kind.str, "backward",
    "backward | forward | nearest — same semantics as batch asof_join")
  private val tolerance = p("tolerance", Kind.str,
    "max match distance as a SQL literal; farther matches become null")
  private val maxIter = p("max_iter", Kind.int, 25,
    "propagation round cap (rounds are O(log diameter))")
  private val checkpointDir = p("checkpoint_dir", Kind.str,
    "set = per-round RELIABLE checkpoint to this directory")
  private val outlierMethod = p("method", Kind.str, "zscore", "'zscore' or 'iqr'")
  private val fenceK = p("k", Kind.num, 3.0, "fence width multiplier (>= 0)")
  private val approx = p("approx", Kind.bool, false,
    "iqr only: approx_percentile on the reference")
  private val outlierColumn = req("column", Kind.str,
    "numeric signal column the fences are computed on")
  private val ngramN = p("ngram_n", Kind.int, 3, "word n-gram width")
  private val minOverlap = p("min_overlap", Kind.int, 1,
    "shared distinct grams to count as contaminated")
  private val maxDocs = p("max_docs", Kind.int, 1,
    "a line in more than this many distinct documents is removed")
  private val lineUnit = p("unit", Kind.str, "line",
    "'line' or 'paragraph' — same census/rewrite over blank-line-separated blocks")
  private val maxHotLines = p("max_hot_lines", Kind.int, graft.scale.Dedup.MaxHotLines,
    "plan-time driver-collect cap — overflow fails loudly")
  private val againstStrategy = choice("strategy", Seq("join", "bloom"),
    "'join' or 'bloom' — identical results")
  private val timeColumn = req("time_column", Kind.str,
    "event-time column (string/timestamp/date parsed; INT64 epochs additionally need time_unit)")
  private val timeUnit = p("time_unit", Kind.str,
    "epoch scale when time_column is INT64: seconds | millis | micros | nanos (REQUIRED for integer time columns)")
  private val windowP = p("window", Kind.str, "tumbling window width (required unless session_gap)")
  private val slide = p("slide", Kind.str, "slide interval for overlapping windows")
  private val sessionGap = p("session_gap", Kind.str, "session window gap (exclusive with window/slide)")
  private val groupBy = p("group_by", Kind.strs, Nil, "grouping columns next to the window")
  private val aggregations = req("aggregations", Kind.aggs,
    "[{src, op, dest}, ...] — src column, aggregate op, output name")
  private val orderBy = p("order_by", Kind.orderPairs, Nil,
    "[[field, 1|-1], ...] — keep the top rows under this order; omitted = seeded uniform draw")
  private val windowFunctions = req("functions", Kind.winFns, "[{fn, src?, offset?, frame_rows?, dest}, ...] — rank family takes no src; lag/lead use offset (default 1); ntile reads its bucket count from offset; ordered aggregates run UNBOUNDED PRECEDING..CURRENT ROW (SQL default frame), unordered span the partition; frame_rows=N switches an ordered aggregate to a trailing ROWS window of the last N rows (moving average/rolling sum)")
  private val url = p("url", Kind.str, "JDBC url; omit when using a credentials context")
  private val context = p("context", Kind.str, "credentials context id resolved per environment")
  private val dialect = p("dialect", Kind.str,
    "SQL dialect: mariadb | postgresql | sqlserver | derby; default from the comp_type (jdbc = derby)")
  private val environment = p("environment", Kind.str,
    "with context: environment whose credentials resolve, default EXECUTION_ENV, then the context's default")
  private val jdbcOptions = p("options", Kind.strMap, Map.empty[String, String],
    "extra Spark JDBC options, string-valued (e.g. {\"fetchsize\": \"1000\"})")
  private val splits = req("splits", Kind.splits,
    "[{name, fraction}, ...] — out ports are the names; fractions must sum to 1 (honored to 0.01% on the 10,000-bucket grid)")
  /** type_conversion rules (JobGraph derives the out schema from them). */
  val castRules = req("rules", Kind.castRules,
    "[{column_path, target, on_error}, ...]; nested paths with '*' supported")
  private val rulesByDest = p("rules_by_dest", Kind.mapRules,
    Map.empty[String, Seq[SchemaMappingOp.MapRule]],
    "map mode: {dst_port: {dst_path: {src_port, src_path}}}")
  /** schema_mapping join mode (the streaming fold refuses it). */
  val joinPlan = p("join_plan", Kind.joinPlan,
    "join mode: {steps: [{left_port, right_port, left_on, right_on, how, output_port, broadcast?}]} — broadcast: left|right pins a broadcast-hash plan for a known-small side above Catalyst's auto threshold (results identical; the shuffle of the big side disappears)")
  private val similarityMethod = choice("method", Seq("knn", "ivf", "ivf_index"),
    "knn (ports corpus/queries) | ivf (ports corpus/centroids/query) | ivf_index (ports centroids/query over a write_ivf_index layout)")
  private val table = req("table", Kind.str,
    "catalog table name (bare identifier) downstream read_table consumes")

  // ------------------------------------------------------ port contracts

  private val in1 = PortSpec("in", required = true, multi = false)
  private val out1 = PortSpec("out", required = true, multi = true)
  private val passthrough = PortSpec("out", required = false, multi = true)
  private def singles(names: Seq[String]) =
    names.map(PortSpec(_, required = true, multi = false))

  val transform: PortContract = PortContract(_ => Ports(Seq(in1), Seq(out1)))
  private val source = PortContract(_ => Ports(Nil, Seq(out1)))
  private val sink = PortContract(_ => Ports(Seq(in1), Seq(passthrough)),
    Some("out is an optional passthrough of the written rows"))
  private def inputs(names: String*) =
    PortContract(_ => Ports(singles(names), Seq(out1)))
  /** A data port plus the static side a streaming job reads once as a
    * batch frame (StreamingJobs). */
  private def withStatic(main: String, static: String, required: Boolean = true) =
    PortContract(_ => Ports(Seq(PortSpec(main, required = true, multi = false),
      PortSpec(static, required, multi = false, static = true)), Seq(out1)))
  private val filterPorts = PortContract(_ => Ports(Seq(in1),
    Seq(PortSpec("pass", required = true, multi = true),
      PortSpec("fail", required = false, multi = true))))
  private val splitPorts = PortContract(
    c => Ports(Seq(in1), c.extraOutputPorts.map(PortSpec(_, required = true, multi = true))),
    Some("out ports are the declared extra_output_ports (fan-out tee)"))
  // one out port per declared split; unrouted splits are legal (a
  // pipeline keeping only `train` simply doesn't route val/test)
  private val hashSplitPorts = PortContract(
    c => Ports(Seq(in1),
      splits.read(c).getOrElse(Nil).map(s => PortSpec(s._1, required = false, multi = true))),
    Some("one out port per configured split name; unrouted splits are legal"))
  private val mergePorts = PortContract(_ => Ports(
    Seq(PortSpec("in", required = true, multi = true)),
    Seq(PortSpec("merge", required = true, multi = false))))
  /** sql/schema_mapping fan-in: declared in ports, default 'in'. */
  private def declaredIns(c: ComponentSpec): Seq[PortSpec] = {
    val declared = (c.inPortSchemas.keySet ++ c.extraInputPorts).toSeq
    singles(if (declared.nonEmpty) declared.sorted else Seq("in"))
  }
  private val schemaMappingPorts = PortContract(
    c => {
      val declared = (rulesByDest(c).keySet ++
        joinPlan.read(c).getOrElse(Nil).map(_.outputPort).toSet ++ c.extraOutputPorts).toSeq
      val exposed = if (declared.nonEmpty) declared else Seq("out")
      Ports(declaredIns(c), exposed.sorted.map(PortSpec(_, required = false, multi = true)))
    },
    Some("in ports from in_port_schemas/extra_input_ports (default 'in'); " +
      "out ports from rules_by_dest keys / join_plan output_ports (default 'out')"))
  private val sqlPorts = PortContract(c => Ports(declaredIns(c), Seq(out1)),
    Some("in ports from in_port_schemas/extra_input_ports (default 'in')"))
  private val similarityPorts = PortContract(
    c => Ports(singles(similarityMethod(c) match {
      case "ivf"       => Seq("corpus", "centroids", "query")
      case "ivf_index" => Seq("centroids", "query")
      case _           => Seq("corpus", "queries")
    }), Seq(out1)),
    Some("in ports by method: knn=corpus,queries | ivf=corpus,centroids,query | ivf_index=centroids,query"))
  private val ivfIndexPorts =
    PortContract(_ => Ports(singles(Seq("corpus", "centroids")), Seq(passthrough)))

  // ------------------------------------------------------------- helpers

  /** JDBC endpoint resolution: an explicit `url` param wins (tests/local
    * wiring), otherwise `context` names a registered
    * CredentialsMappingContext and the url + auth options assemble
    * engine-side from the credentials resolved for the active environment
    * (explicit `environment` param > EXECUTION_ENV > context default) —
    * so secrets never sit in job configs, exactly the reference's rule
    * (database.py:57-95, credentials_mapping_context.py:152-217). */
  private def resolveJdbc(b: BuildCtx, dialect: JdbcIO.Dialect)
      : (String, Map[String, String]) =
    b.opt(url) match {
      case Some(u) => (u, Map.empty)
      case None =>
        val ctx = b.opt(context).getOrElse(throw new IllegalArgumentException(
          s"component ${b.c.name}: jdbc components need 'url' or 'context'"))
        val creds = graft.runtime.Contexts.resolve(ctx, b.opt(environment))
        (JdbcIO.urlFor(dialect, creds), JdbcIO.credentialOptions(dialect, creds))
    }

  /** Explicit `dialect`, else the comp_type's family (jdbc = derby). */
  private def jdbcDialect(b: BuildCtx): JdbcIO.Dialect =
    JdbcIO.Dialect.fromName(b.opt(dialect).getOrElse(
      b.c.compType.dropWhile(_ != '_').tail match {
        case "jdbc" => "derby"
        case d      => d
      }))

  /** Params every JDBC read/write face reads besides its own list. */
  private val jdbcCommon = Seq(dialect, environment, jdbcOptions)

  /** Serializes the sql component's view-register → analyze → drop
    * critical section (temp views are session-global). */
  private val sqlViewLock = new Object

  // ------------------------------------------------------------ registry

  /** Every comp_type, in GET /schemas order. */
  val all: Seq[ComponentDef] = Seq(
    {
      val multiline = p("multiline", Kind.bool, false, "quote-aware whole-record parse (reads back write_csv output whose cells carry embedded newlines); false = line-splittable parallel parse")
      ComponentDef("read_csv", "Read a CSV file as all-string columns", Seq(
        filepath, separator, multiline), source, runs = Both) { b => import b._
        // multiline=false (default) = reference parity, line-splittable
        // parallel parse; true = quote-aware whole-record parse, the
        // knob that reads back write_csv output whose cells carry
        // embedded newlines (the writer quotes them across physical
        // lines, which a line-based parse splits into corrupt rows)
        (Map("out" -> CsvIO.read(spark, b(filepath), b(separator),
          multiLine = b(multiline))), None)
      }
    },
    ComponentDef("write_csv", "Write a CSV file", Seq(
      filepath, separator, singleFile, append), sink, runs = Both) { b => import b._
      val df = one()
      val path = b(filepath)
      val sep = b(separator)
      (Map("out" -> df), Some(() =>
        CsvIO.write(df, path, sep, singleFile = b(singleFile), append = b(append))))
    },
    ComponentDef("read_json", "Read JSON: array, NDJSON, or gzip of either", Seq(
      filepath,
      jsonFormat.doc("'ndjson' or 'array', accepted for symmetry with write_json; a batch read's layout follows the path: .ndjson/.jsonl (optionally .gz) read as NDJSON, anything else as an array/object document; a streaming read is NDJSON only")), source, runs = Both) { b => import b._
      val path = b(filepath)
      val schema = c.outPortSchemas.get("out").map(FieldDef.toStructType)
      val df =
        if (JsonIO.isNdjsonPath(path) && schema.isDefined)
          JsonIO.readNdjsonLenient(spark, path, schema.get)
        else JsonIO.read(spark, path, schema,
          multiLine = !JsonIO.isNdjsonPath(path))
      (Map("out" -> df), None)
    },
    {
      val gzip = p("gzip", Kind.bool, false, "ndjson only: gzip-compress the part files (exclusive with append)")
      val jsonSingleFile = p("single_file", Kind.bool, false, "ndjson only: write one part file (exclusive with append)")
      ComponentDef("write_json", "Write JSON (NDJSON or array format)", Seq(
        filepath, jsonFormat,
        append.doc("append rows to an existing file instead of overwriting"),
        gzip, jsonSingleFile), sink, runs = Both) { b => import b._
        val df = one()
        val path = b(filepath)
        // default stays NDJSON (Spark's native part-file layout); "array"
        // opts into the reference's single-file indent-2 array format
        val array = b(jsonFormat) == "array"
        val isAppend = b(append)
        // the append and array paths take neither knob — accepting them
        // silently would drop the user's compression/layout request on
        // the floor (the loud-exclusivity convention, like sample's
        // rate_column). single_file with array is redundant but honest
        // (the array format IS one file), so only gzip is rejected there.
        require(!isAppend || (!b(gzip) && !b(jsonSingleFile)),
          s"write_json ${c.name}: append is exclusive with gzip/single_file " +
            "(the append path re-reads and rewrites the target in its own layout)")
        require(!array || !b(gzip),
          s"write_json ${c.name}: format=array does not support gzip")
        (Map("out" -> df), Some(() =>
          if (array) JsonIO.writeArray(df, path, isAppend)
          else if (isAppend) JsonIO.appendNdjson(df, path)
          else JsonIO.write(df, path, gzip = b(gzip), singleFile = b(jsonSingleFile))))
      }
    },
    {
      val mergeSchema = p("merge_schema", Kind.bool, false, "schema-evolution read: merge every file's footer into the union schema (columns added by newer files surface as nulls in older rows); false — single-footer inference")
      ComponentDef("read_parquet", "Read a parquet file or directory", Seq(filepath,
        mergeSchema), source, runs = Both) { b => import b._
        // ParquetIO caches inferred schemas (listing-fingerprint
        // invalidated) — repeated builds over the same inputs skip the
        // ~70 ms footer-inference constant (tools/JobPhaseProbe @0fcdae9).
        // merge_schema=true opts into schema-evolution reads (a dataset
        // whose newer files added columns): Spark merges ALL footers
        // into the union schema — a per-file pass worth paying only
        // when files genuinely disagree, so it is explicit, and it
        // bypasses the single-footer cache.
        (Map("out" ->
          (if (b(mergeSchema))
            spark.read.option("mergeSchema", "true").parquet(b(filepath))
          else graft.io.ParquetIO.read(spark, b(filepath)))), None)
      }
    },
    {
      val files = p("files", Kind.int, "range-partition count for sort_by, default = session shuffle partitions")
      val maxRecordsPerFile = p("max_records_per_file", Kind.long, "split each task's output at this row cap — bounded training shards; composes with partition_by/sort_by (splitting a sorted run keeps ranges disjoint)")
      ComponentDef("write_parquet", "Write parquet", Seq(filepath, partitionBy,
        coalesceP,
        sortBy.doc("data-skipping layout: range-partition + sort on these keys so each file carries a disjoint range and min/max stats skip files (high-cardinality keys that can't be directories); exclusive with coalesce"),
        files, maxRecordsPerFile), sink, runs = Both) { b => import b._
        val df = one()
        val path = b(filepath)
        // partition_by: Hive-style directory partitioning — the 100 TB
        // layout lever (a reader filtering on a partition column scans
        // only its directories: PartitionFilters, not data IO). Beyond
        // the reference's surface, which has no partitioned sinks.
        val parts = b(partitionBy)
        // coalesce: small-files control for dimension-sized outputs (a
        // 32-partition write of a 5-row frame is 32 tiny files a 100 TB
        // pipeline then pays to re-list and re-open downstream)
        val coalesceTo = opt(coalesceP)
        coalesceTo.foreach(n => require(n >= 1,
          s"write_parquet ${c.name}: coalesce must be >= 1, got $n"))
        // sort_by: data-skipping layout — range-partition on the sort
        // keys then sort within partitions, so each output file carries
        // a DISJOINT key range and parquet's row-group min/max stats let
        // a reader filtering on those keys skip whole files/row-groups
        // (SortedLayoutSpec pins the disjointness + the pushdown). The
        // non-directory complement to partition_by: high-cardinality /
        // continuous keys that can't be directories. `files` sets the
        // range partition count (default: session shuffle partitions).
        val sortKeys = b(sortBy)
        val nFiles = opt(files)
        require(sortKeys.nonEmpty || nFiles.isEmpty,
          s"write_parquet ${c.name}: 'files' only applies with 'sort_by'")
        require(sortKeys.isEmpty || coalesceTo.isEmpty,
          s"write_parquet ${c.name}: sort_by is exclusive with coalesce " +
            "(a post-sort coalesce would merge the disjoint ranges back)")
        nFiles.foreach(n => require(n >= 1,
          s"write_parquet ${c.name}: files must be >= 1, got $n"))
        // max_records_per_file: the output-SHARD size lever (training
        // loaders want bounded shards; a 10 B-row partition written as
        // one file defeats any downstream parallelism). Spark splits
        // each task's output at the cap — composes with partition_by
        // and sort_by (splitting a sorted run keeps ranges disjoint).
        val maxRecords = opt(maxRecordsPerFile)
        maxRecords.foreach(n => require(n >= 1,
          s"write_parquet ${c.name}: max_records_per_file must be >= 1, got $n"))
        (Map("out" -> df), Some(() => {
          val src =
            if (sortKeys.nonEmpty) {
              val keys = sortKeys.map(col)
              val ranged = nFiles
                .map(n => df.repartitionByRange(n, keys: _*))
                .getOrElse(df.repartitionByRange(keys: _*))
              ranged.sortWithinPartitions(keys: _*)
            } else coalesceTo.map(df.coalesce).getOrElse(df)
          val w0 = src.write.mode("overwrite")
          val w = maxRecords.map(n => w0.option("maxRecordsPerFile", n))
            .getOrElse(w0)
          (if (parts.nonEmpty) w.partitionBy(parts: _*) else w).parquet(path)
        }))
      }
    },
    ComponentDef("read_orc", "Read an ORC file or directory (vectorized, pruned, pushdown like parquet)", Seq(filepath), source) { b => import b._
      (Map("out" -> graft.io.OrcIO.read(spark, b(filepath))), None)
    },
    ComponentDef("write_orc", "Write ORC", Seq(filepath, partitionBy,
      coalesceP.doc("shrink to N output partitions before writing (small-files control)")), sink) { b => import b._
      // ORC sink with the parquet sink's layout levers (partition_by,
      // coalesce) — see OrcIO's scaladoc for the format's scale notes
      val df = one()
      val path = b(filepath)
      val parts = b(partitionBy)
      val coalesceTo = opt(coalesceP)
      coalesceTo.foreach(n => require(n >= 1,
        s"write_orc ${c.name}: coalesce must be >= 1, got $n"))
      (Map("out" -> df), Some(() =>
        graft.io.OrcIO.write(df, path, parts, coalesceTo)))
    },
    {
      val recordTag = p("record_tag", Kind.str, "record", "element name of one record")
      ComponentDef("read_xml", "Read XML rows (@attr/#text conventions)", Seq(
        filepath, recordTag), source) { b => import b._
        (Map("out" -> graft.io.XmlIO.read(spark, b(filepath), b(recordTag))), None)
      }
    },
    {
      val rootTag = p("root_tag", Kind.str, "root", "document root element")
      val recordTag = p("record_tag", Kind.str, "record", "per-record element")
      ComponentDef("write_xml", "Write XML rows", Seq(
        filepath, rootTag, recordTag,
        append.doc("insert records into the existing document"),
        singleFile.doc("write one part file (true) or a directory of parts")), sink) { b => import b._
        val df = one()
        val path = b(filepath)
        (Map("out" -> df), Some(() =>
          graft.io.XmlIO.write(df, path, b(rootTag), b(recordTag),
            singleFile = b(singleFile), append = b(append))))
      }
    },
    {
      val sheetName = p("sheet_name", Kind.str, "sheet to read, default first")
      ComponentDef("read_excel", "Read an xlsx sheet (header row + all-string cells)", Seq(
        filepath, sheetName), source) { b => import b._
        (Map("out" -> graft.io.ExcelIO.read(spark, b(filepath), opt(sheetName))), None)
      }
    },
    {
      val sheetName = p("sheet_name", Kind.str, "Sheet1", "sheet name")
      ComponentDef("write_excel", "Write an xlsx sheet", Seq(
        filepath, sheetName, append), sink) { b => import b._
        val df = one()
        val path = b(filepath)
        (Map("out" -> df), Some(() =>
          graft.io.ExcelIO.write(df, path, b(sheetName), append = b(append))))
      }
    },
    {
      val queryFilter = p("query_filter", Kind.scalarMap, Map.empty[String, Any], "top-level equality filter; values keep their JSON types")
      val sort = p("sort", Kind.orderPairs, Nil, "[[field, 1|-1], ...]")
      val skip = p("skip", Kind.int, 0, "documents to skip")
      val limit = p("limit", Kind.int, "max documents")
      val splitKey = p("split_key", Kind.str, "key whose split points range-partition the read (one indexed range scan per task; applies when there is no sort/skip/limit)")
      ComponentDef("read_mongodb", "Read a document collection with find() pushdown", Seq(
        store, entityName, queryFilter, sort, skip, limit, splitKey), source) { b => import b._
        val schema = c.outPortSchemas.getOrElse("out",
          throw new IllegalArgumentException(s"read_mongodb ${c.name}: needs out schema"))
        (Map("out" -> graft.io.MongoIO.read(spark,
          graft.io.MongoIO.InMemory(b(store)), b(entityName),
          schema, filter = b(queryFilter), sort = b(sort),
          skip = b(skip), limit = opt(limit).filter(_ >= 0),
          splitKey = opt(splitKey))), None)
      }
    },
    {
      val matchFilter = p("match_filter", Kind.scalarMap, Map.empty[String, Any], "explicit UPDATE filter; overrides key_fields")
      val updateFields = p("update_fields", Kind.strs, Nil, "restrict $set to these fields")
      ComponentDef("write_mongodb", "Write documents: insert/upsert/update/truncate", Seq(
        store, entityName, ifExists.doc("insert | upsert | update | truncate"),
        keyFields.doc("match keys for upsert/update"), matchFilter, updateFields), sink) { b => import b._
        val df = one()
        val factory = graft.io.MongoIO.InMemory(b(store))
        val entity = b(entityName)
        val mode = b(ifExists)
        val keys = b(keyFields)
        (Map("out" -> df), Some(() =>
          graft.io.MongoIO.write(df, factory, entity, mode, keys,
            matchFilter = b(matchFilter), updateFields = b(updateFields))))
      }
    },
    {
      val rule = req("rule", Kind.rule, "nested {column, operator, value} / {logical_operator, rules} tree")
      ComponentDef("filter", "Route rows to pass/fail ports by a boolean rule tree", Seq(
        rule), filterPorts, runs = Both) { b => import b._
        (FilterOp(one(), b(rule)), None)
      }
    },
    {
      val grouping = p("grouping", Kind.str, "groups", "groups | rollup | cube")
      val pivotColumn = p("pivot_column", Kind.str, "pivot this column's values into output columns")
      val pivotValues = p("pivot_values", Kind.scalars, Nil, "explicit pivot values (required with pivot_column)")
      val salted = p("salted", Kind.bool, false, "two-phase skew-safe aggregate for hot keys (exact results; count/sum/min/max only; exclusive with rollup/cube/pivot/windows)")
      val saltFactor = p("salt_factor", Kind.int, 16, "subkeys per key when salted")
      val timeCol = p("time_column", Kind.str, "event-time column: switches to windowed aggregation (batch face of streaming_aggregation)")
      ComponentDef("aggregation", "Group-by aggregation (count/sum/min/max/mean/median/std/nunique)", Seq(
        groupBy.doc("grouping columns; empty = one global row"),
        aggregations, grouping, pivotColumn, pivotValues, timeCol,
        timeUnit.doc("epoch scale when time_column is INT64: seconds | millis | micros | nanos (REQUIRED for integer time columns — same contract as streaming_aggregation)"),
        windowP.doc("tumbling/sliding window size, e.g. '1 hour' (with time_column)"),
        slide.doc("slide interval; requires window"),
        sessionGap.doc("session window gap; exclusive with window/slide"),
        salted, saltFactor,
        p("watermark", Kind.str, "streaming_aggregation's late-data horizon, accepted so one config runs in both modes; a batch run has no late data and ignores it"))) { b => import b._
        val (keys, aggs) = (b(groupBy), b(aggregations))
        // salted is only meaningful on the plain group-by face; the
        // pivot/window branches never read it, so accepting it there
        // would silently drop the skew protection the user asked for
        require(!b(salted) || (opt(pivotColumn).isEmpty && opt(timeCol).isEmpty),
          s"aggregation ${c.name}: salted is exclusive with pivot and " +
            "time windows")
        (opt(pivotColumn), opt(timeCol)) match {
          case (Some(_), Some(_)) => throw new IllegalArgumentException(
            s"aggregation ${c.name}: pivot and time windows are exclusive")
          case (Some(pc), None) =>
            require(b(grouping) == "groups",
              s"aggregation ${c.name}: pivot and rollup/cube are exclusive")
            // typed: [2023] stays numeric
            (Map("out" -> AggregateOp.pivoted(one(), keys, pc, b(pivotValues), aggs)), None)
          // batch time-windowed aggregation (tumbling/sliding/session) —
          // the same window rules as streaming_aggregation, minus the
          // watermark: config-level batch/stream parity
          case (None, Some(tc)) =>
            require(b(grouping) == "groups",
              s"aggregation ${c.name}: time windows and rollup/cube are exclusive")
            val winCol = AggregateOp.windowColumn(tc, opt(windowP),
              opt(slide), opt(sessionGap), s"aggregation ${c.name}")
            // same event-time normalization as streaming_aggregation
            // (EventTime.forComponent), so a config with an INT64 epoch
            // time column + time_unit means ONE thing in both modes
            val base = one()
            val et = base.withColumn(tc, graft.util.EventTime.forComponent(
              base.schema, tc, opt(timeUnit), s"aggregation ${c.name}"))
            (Map("out" -> AggregateOp.windowed(et, tc, winCol, keys, aggs)), None)
          case (None, None) =>
            // salted=true opts into the two-phase skew-safe aggregate
            // (scale/Skew.saltedAggregate — exactly equal results for
            // the decomposable count/sum/min/max subset); loud for
            // non-decomposable ops and for grouping sets
            if (b(salted)) {
              require(b(grouping) == "groups",
                s"aggregation ${c.name}: salted and rollup/cube are exclusive")
              require(keys.nonEmpty,
                s"aggregation ${c.name}: salting a global aggregate is meaningless")
              (Map("out" -> graft.scale.Skew.saltedAggregate(one(), keys,
                aggs, b(saltFactor))), None)
            } else
              (Map("out" -> AggregateOp(one(), keys, aggs, b(grouping))), None)
        }
      }
    },
    ComponentDef("type_conversion", "Cast columns with raise/null/skip policies", Seq(
      castRules), runs = Both) { b => import b._
      (Map("out" -> TypeConversionOp(one(), b(castRules))), None)
    },
    ComponentDef("schema_mapping", "Project/rename columns (map mode) or join inputs (join mode)", Seq(
      rulesByDest, joinPlan), schemaMappingPorts, runs = Both) { b => import b._
      val mapRules = b(rulesByDest)
      val joinSteps = opt(joinPlan).getOrElse(Nil)
      val byPort: Map[String, DataFrame] = in.view.mapValues(_.head).toMap
      val afterJoins =
        if (joinSteps.nonEmpty) SchemaMappingOp.joinMode(byPort, joinSteps)
        else byPort
      val outs =
        if (mapRules.nonEmpty) SchemaMappingOp.mapMode(afterJoins, mapRules)
        else joinSteps.map(_.outputPort).distinct.map(p => p -> afterJoins(p)).toMap
      (outs, None)
    },
    ComponentDef("split", "Fan one input out to N identical ports (ports come from routes)", Seq(), splitPorts, runs = Both) { b => import b._
      val df = one()
      (c.extraOutputPorts.map(_ -> df).toMap, None)
    },
    {
      val query = req("query", Kind.str, "SQL text; reference inputs as <component>_<port>")
      ComponentDef("sql", "Run Spark SQL over the inbound ports (views named <component>_<port>)", Seq(
        query), sqlPorts) { b => import b._
        // Spark-native escape hatch the DataFrame components compose with:
        // every inbound port is registered as a temp view named
        // <component>_<port> and the declared SQL runs against them —
        // Catalyst treats it exactly like the built-in operators (pushdown,
        // pruning, AQE all apply). Temp views are SESSION-scoped, so the
        // register→analyze window is serialized under a lock and the views
        // are dropped immediately after analysis (spark.sql resolves them
        // eagerly; the returned DataFrame no longer needs them) — two
        // concurrent jobs with a same-named component can't read each
        // other's data, and a long-lived process doesn't accumulate views.
        val sqlText = b(query)
        val names = in.keys.map(p => s"${c.name}_$p").toSeq
        val resolved = sqlViewLock.synchronized {
          in.foreach { case (port, dfs) =>
            dfs.head.createOrReplaceTempView(s"${c.name}_$port")
          }
          try spark.sql(sqlText)
          finally names.foreach(spark.catalog.dropTempView(_))
        }
        (Map("out" -> resolved), None)
      }
    },
    ComponentDef("merge", "Union all inbound branches by column name", Seq(), mergePorts, runs = Both) { b => import b._
      val dfs = in.getOrElse("in", Nil)
      require(dfs.nonEmpty, s"merge ${c.name}: no inputs")
      (Map("merge" -> dfs.reduce(_.unionByName(_))), None)
    },
    {
      val op = req("op", Kind.str,
        "intersect | intersect_all | except | except_all | union_distinct " +
          "(SQL semantics — non-_all variants deduplicate)")
      ComponentDef("set_op", "Set operation over same-schema ports left/right", Seq(
        op), inputs("left", "right")) { b => import b._
        // Set operations over same-schema ports (ops/RelationalOps.setOp;
        // beyond-reference — the reference's only set-ish op is merge).
        (Map("out" -> RelationalOps.setOp(port("left"), port("right"), b(op))), None)
      }
    },
    {
      val dedupMethod = choice("method", Seq("exact", "minhash", "simhash", "ngram", "embedding"),
        "exact | minhash | simhash | ngram | embedding")
      val keepBy = p("keep_by", Kind.orderPairs, Nil, "exact only: [[field, 1|-1], ...] quality-aware winner — keep the top row per normalized key under this order (id ascending tiebreak); omitted = lowest id wins. NULL keep_by values sort LAST in both directions (a null field never wins over a row with evidence; matches the oracle's nulls-last default)")
      val shingleN = p("shingle_n", Kind.int, 5, "minhash verification shingle width")
      val numHashes = p("num_hashes", Kind.int, 32, "minhash signature width")
      val bands = p("bands", Kind.int, "LSH bands: minhash default 16; embedding omitted = solved for the effective rows_per_band (recall-budget rule)")
      val threshold = p("threshold", Kind.num, "jaccard threshold: minhash 0.6, ngram 0.5")
      val maxHamming = p("max_hamming", Kind.int, 3, "simhash distance cap")
      val maxDf = p("max_df", Kind.int, 10000, "ngram stop-phrase document-frequency cap")
      val simThreshold = p("sim_threshold", Kind.num, 0.95, "embedding cosine threshold")
      val dim = p("dim", Kind.int, 64, "embedding dimension")
      val rowsPerBand = p("rows_per_band", Kind.int, "embedding sign bits per band; omitted = sized from the corpus count (measured lshDepthFor rule)")
      val emitP = choice("emit", Seq("survivors", "pairs", "cluster"), "survivors (pairwise drop-id_b) | pairs (near-dup pair table (id_a, id_b, score) for connected_components) | cluster (one min-id survivor per TRANSITIVE component; near-dup methods only)")
      ComponentDef("dedup", "Deduplicate documents: exact, minhash, simhash, ngram, or embedding", Seq(
        dedupMethod, textColumn, idColumn, keepBy, shingleN, numHashes, bands,
        threshold, maxHamming, ngramN.doc("ngram width"), maxDf, vectorColumn,
        simThreshold, dim, rowsPerBand, emitP,
        maxIter.doc("emit=cluster: connected-components round cap"),
        checkpointDir.doc("emit=cluster: per-round RELIABLE checkpoint directory for the component loop (preemption-safe; superseded rounds' files deleted as it advances); unset = executor-block localCheckpoint. NOTE: Spark's checkpoint directory is a global SparkContext setting — declaring this retargets it for the whole application unless the context already points under this directory"))) { b => import b._
        // beyond-reference components: training-data pipeline operators as
        // first-class declarative citizens
        import graft.scale.Dedup
        val textCol = b(textColumn)
        val idCol = b(idColumn)
        val method = b(dedupMethod)
        // emit=survivors (default) keeps rows under the PAIRWISE drop-id_b
        // rule; emit=pairs exposes the raw near-dup PAIR table (id_a,
        // id_b, score) for downstream clustering; emit=cluster keeps one
        // row (min id) per TRANSITIVE component — what a config author
        // asking for "dedup" almost always wants when chains matter
        // (pairs → connectedComponents → anti-join, all in one call via
        // Dedup.clusterDedup). Pairs only exist for the near-dup
        // families — exact/fingerprint dedup groups keys directly.
        val emit = b(emitP)
        require(emit == "survivors" || method != "exact",
          s"dedup ${c.name}: emit=$emit needs a near-dup method " +
            s"(minhash|simhash|ngram|embedding), not '$method'")
        val wantPairs = emit != "survivors"
        // keep_by: quality-aware winner for EXACT groups ("keep the
        // longest/highest-score duplicate"); near-dup methods pick
        // winners pairwise/transitively where a per-group order does
        // not apply — loud rejection, not silent ignore
        val keep = b(keepBy)
        require(keep.isEmpty || method == "exact",
          s"dedup ${c.name}: keep_by applies only to method=exact " +
            "(near-dup winners are pairwise drop-id_b / cluster-minimum)")
        val base = one()
        // the frame cluster-survivors are anti-joined from: the persisted
        // variant when the embedding path persists for its sizing count
        var clusterSrc = base
        val out = method match {
          case "exact" => Dedup.exact(base, textCol, idCol, keep)
          case "minhash" =>
            val (sn, k, nb) = (b(shingleN), b(numHashes), opt(bands).getOrElse(16))
            val th = opt(threshold).getOrElse(0.6)
            if (wantPairs)
              Dedup.minhashNearDups(base, textCol, idCol, sn, k, nb, th)
            else Dedup.minhashDedup(base, textCol, idCol, sn, k, nb, th)
          case "simhash" =>
            val mh = b(maxHamming)
            if (wantPairs) Dedup.simhashNearDups(base, textCol, idCol, mh)
            else Dedup.simhashDedup(base, textCol, idCol, mh)
          case "ngram" =>
            val (n, mdf) = (b(ngramN), b(maxDf))
            val th = opt(threshold).getOrElse(0.5)
            if (wantPairs)
              Dedup.ngramJaccardPairs(base, textCol, idCol, n, th, mdf)
            else Dedup.ngramDedup(base, textCol, idCol, n, th, mdf)
          case _ => // embedding
            val simTh = b(simThreshold)
            // persist BEFORE the sizing count when r must be derived —
            // otherwise the count() action and the dedup itself would
            // each materialize the full upstream DAG (released by
            // BuiltJob.close → OpCaches.drain, like the operators'
            // internal tables)
            val df = if (opt(rowsPerBand).isDefined) base
                     else graft.scale.OpCaches.persist(base)
            clusterSrc = df
            val (nb, r) = JobGraph.embeddingDepth(opt(bands),
              opt(rowsPerBand), simTh, df.count())
            val vecCol = b(vectorColumn)
            if (wantPairs)
              graft.scale.Similarity.embeddingNearDups(df, vecCol, idCol,
                simThreshold = simTh, dim = b(dim), bands = nb, r = r)
            else graft.scale.Similarity.embeddingDedup(df, vecCol, idCol,
              simThreshold = simTh, dim = b(dim), bands = nb, r = r)
        }
        val result =
          if (emit == "cluster")
            Dedup.clusterDedup(clusterSrc, idCol, out,
              maxIter = b(maxIter),
              checkpointDir = opt(checkpointDir).getOrElse(""))
          else out
        (Map("out" -> result), None)
      }
    },
    ComponentDef("hash_split", "Deterministic train/val/test split: md5-bucket of the id routes each row to exactly one named out port (stable across engines/runs; no shuffle)", Seq(
      splits, idColumn.doc("column hashed for routing")), hashSplitPorts, runs = Both) { b => import b._
      // Deterministic md5-bucket split (RelationalOps.hashSplit): each
      // row routes to exactly one split port; no shuffle, stable across
      // engines/runs — the train/val/test primitive of a training-data
      // pipeline.
      (RelationalOps.hashSplit(one(), b(idColumn), b(splits)), None)
    },
    {
      val fraction = p("fraction", Kind.num, "default keep rate in [0, 1], honored to 0.01% on the 10,000-bucket grid (required unless rate_column is set)")
      val rateColumn = p("rate_column", Kind.str, "per-row keep-rate column — exclusive with fraction/strata_column")
      val strataColumn = p("strata_column", Kind.str, "column whose values select per-stratum rates from strata_fractions")
      val strataFractions = p("strata_fractions", Kind.numMap, "{value: rate} overrides of the default fraction per stratum (downsample dominant strata, keep rare ones); unlisted and NULL strata use 'fraction'")
      ComponentDef("sample", "Deterministic seeded Bernoulli sample: keep a row iff md5(seed:id) bucket < rate*10000 (stable across engines/runs/partitionings; one narrow filter, no shuffle). Null ids are kept only at rate 1.0. rate_column switches to the per-row WEIGHTED face: keep probability = the row's own rate clamped into [0,1] (quality-weighted curation; NULL rates drop; raising a rate only ever ADDS rows — the bucket is rate-independent)", Seq(
        fraction, rateColumn,
        idColumn.doc("column hashed for the keep/drop decision"),
        seed, strataColumn, strataFractions), runs = Both) { b => import b._
        // Deterministic seeded Bernoulli sample (RelationalOps.hashSample):
        // the training-mix primitive — one narrow filter, per-stratum rates,
        // engine-replayable md5 arithmetic. rate_column switches to the
        // per-row WEIGHTED face (hashSampleWeighted): keep probability =
        // the row's own clamped rate — quality-weighted curation.
        opt(rateColumn) match {
          case Some(rc) =>
            require(opt(fraction).isEmpty && opt(strataColumn).isEmpty,
              s"sample ${c.name}: rate_column is exclusive with " +
                "fraction/strata_column — the row carries its own rate")
            (Map("out" -> RelationalOps.hashSampleWeighted(one(),
              b(idColumn), rc, b(seed))), None)
          case None =>
            val rate = opt(fraction).getOrElse(throw new IllegalArgumentException(
              s"sample ${c.name}: missing 'fraction'"))
            (Map("out" -> RelationalOps.hashSample(one(), b(idColumn), rate, b(seed),
              opt(strataColumn), opt(strataFractions).getOrElse(Nil))), None)
        }
      }
    },
    {
      val budget = req("budget", Kind.long, "inclusive running-cost ceiling per group")
      ComponentDef("budget_sample", "Token-budget sample: per `by` mixing group, keep rows in deterministic md5(seed:id) order while the cumulative cost_column total stays <= budget ('keep ~N tokens per source'; one hash exchange + in-partition sort)", Seq(
        budget, idColumn.doc("column hashed for the selection order"), costColumn, by,
        seed.doc("hash salt — independent of sample/shuffle/hash_split draws"),
        allowGlobal)) { b => import b._
        // Token-budget sampling (RelationalOps.budgetSample): within each
        // `by` mixing group, rows survive in deterministic md5(seed:id)
        // order until the cumulative cost_column total reaches `budget` —
        // the "keep ~N tokens per source" data-mixing primitive.
        (Map("out" -> RelationalOps.budgetSample(one(), b(idColumn),
          b(costColumn), b(budget), b(by), b(seed), b(allowGlobal))), None)
      }
    },
    {
      val totalBudget = req("total_budget", Kind.long, "inclusive total running-cost ceiling split across the weighted sources (floored shares never overshoot)")
      val sourceColumn = req("source_column", Kind.str, "column naming each row's source; values not in weights drop")
      val weights = req("weights", Kind.numMap, "{source: weight} relative composition (finite, > 0; any scale — normalized internally)")
      ComponentDef("mix_sample", "Mixture sampling: split total_budget across the weighted sources (per-source budget = floor(weight/Σweights × total_budget)) and keep each source's deterministic md5(seed:id)-order prefix while its cumulative cost_column total stays <= that share — the data-MIXING step ('50% web, 30% code, 20% books'). Sources not named in weights (and NULL sources) are dropped BEFORE the exchange; one narrow isin prefilter + one hash exchange on the source key (budget_sample's plan shape)", Seq(
        totalBudget, sourceColumn, weights,
        idColumn.doc("column hashed for the selection order"), costColumn,
        seed.doc("hash salt — same key strings as budget_sample, independent of sample/shuffle/hash_split draws"))) { b => import b._
        // Mixture sampling (RelationalOps.mixSample): split total_budget
        // across the weighted sources and keep each source's deterministic
        // md5(seed:id)-order prefix under its share — the data-MIXING step
        // ("50% web, 30% code, 20% books") after curation. Unlisted/null
        // sources drop before the exchange. Weight validity (finite, > 0)
        // is the operator's job.
        val ws = b(weights)
        require(ws.nonEmpty, s"mix_sample ${c.name}: missing non-empty " +
          "'weights' ({source: weight, ...})")
        (Map("out" -> RelationalOps.mixSample(one(), b(idColumn), b(costColumn),
          b(totalBudget), b(sourceColumn), ws, b(seed))), None)
      }
    },
    {
      val op = choice("op", Seq("normalize", "quantize"), "'normalize' or 'quantize'")
      val dest = p("dest", Kind.str, "name of the added transformed-vector column, default 'vec_unit' / 'vec_q8' (must not collide)")
      val normColumn = p("norm_column", Kind.str, "vec_norm", "normalize only: name of the added L2-norm column")
      val scaleColumn = p("scale_column", Kind.str, "vec_scale", "quantize only: name of the added per-row scale column")
      ComponentDef("embedding_transform", "Embedding-column transforms, both narrow maps: op=normalize appends dest = v/‖v‖ (double array; NULL for a zero vector) + norm_column = ‖v‖ — unit vectors turn cosine into a dot product; op=quantize appends dest = round(v_i/scale) as an int8 array + scale_column = max|v_i|/127 — the 4× storage/bandwidth lever for a float32 embedding column (dequantize as q_i·scale)", Seq(
        op, vectorColumn.doc("embedding array column"), dest, normColumn, scaleColumn), runs = Both) { b => import b._
        // Embedding-column transforms (Similarity.l2NormalizeVectors /
        // quantizeVectorsInt8): op=normalize appends the unit vector +
        // norm; op=quantize appends the int8 vector + per-row scale (the
        // 4× storage lever). Both narrow maps.
        import graft.scale.Similarity
        val vecCol = b(vectorColumn)
        val out =
          if (b(op) == "normalize") Similarity.l2NormalizeVectors(one(), vecCol,
            opt(dest).getOrElse("vec_unit"), b(normColumn))
          else Similarity.quantizeVectorsInt8(one(), vecCol,
            opt(dest).getOrElse("vec_q8"), b(scaleColumn))
        (Map("out" -> out), None)
      }
    },
    {
      val capacity = req("capacity", Kind.long, "target cost per unit (>= 1); a unit may overflow by < 1 row")
      val unitColumn = p("unit_column", Kind.str, "unit_id", "name of the added unit-id column (must not collide with an input column)")
      ComponentDef("pack_units", "Contiguous-fill unit packing: within each `by` group, lay rows out in deterministic md5(seed:id) order and assign unit_column = floor((running-cost)/capacity) — the training shard / context window where the row starts; every unit carries ~capacity cost (a row may straddle a boundary). One hash exchange + in-partition sort (budget_sample's plan shape); the global shard key is (`by` values, unit_column)", Seq(
        capacity, idColumn.doc("column hashed for the layout order"),
        costColumn.doc("per-row cost (token/char count; nulls pack free)"),
        by.doc("packing-group columns (source, language, shard); empty needs allow_global"),
        seed.doc("hash salt — same key strings as budget_sample, independent of sample/shuffle/hash_split draws"),
        unitColumn, allowGlobal)) { b => import b._
        // Contiguous-fill unit packing (RelationalOps.packUnits): assign
        // each row the training shard / context window where it starts
        // under a deterministic md5(seed:id)-order contiguous fill of
        // ~capacity cost per unit — the step after mixing that shapes the
        // corpus into model-sized pieces.
        (Map("out" -> RelationalOps.packUnits(one(), b(idColumn),
          b(costColumn), b(capacity), b(by), b(seed), b(unitColumn),
          b(allowGlobal))), None)
      }
    },
    {
      val size = req("size", Kind.int, "chunk length in characters (>= 1)")
      val overlap = p("overlap", Kind.int, 0, "characters shared between consecutive chunks, in [0, size)")
      val indexColumn = p("index_column", Kind.str, "chunk_index", "name of the added 0-based chunk index column")
      val chunkColumn = p("chunk_column", Kind.str, "chunk_text", "name of the added chunk text column")
      val keepText = p("keep_text", Kind.bool, false, "keep the source text column — after chunking the full document is dead weight in every downstream exchange")
      ComponentDef("chunk", "Context-window chunking: fan each document out into fixed-size character chunks of `size` with `overlap` characters shared between consecutive chunks (chunk starts 0, size-overlap, … < len; the last chunk may be shorter, none is empty). NULL/empty text emits no chunks. One narrow filter + posexplode in the scan's task — no shuffle", Seq(
        size, overlap, textColumn, indexColumn, chunkColumn, keepText), runs = Both) { b => import b._
        // Context-window chunking (TextAnalysis.chunk): fan each document
        // out into fixed-size character chunks with overlap — one narrow
        // filter + posexplode in the scan's task, no shuffle. NULL/empty
        // text emits no chunks; keep_text=false drops the source column.
        (Map("out" -> graft.scale.TextAnalysis.chunk(one(), b(textColumn),
          b(size), b(overlap), b(indexColumn), b(chunkColumn), b(keepText))), None)
      }
    },
    {
      val dest = p("dest", Kind.str, "land the result in this new column; default overwrites text_column in place")
      val lowercase = p("lowercase", Kind.bool, true, "apply lower()")
      val accentFold = p("accent_fold", Kind.bool, false, "fold accented latin letters to ascii (char-for-char translate; multi-char folds like ß→ss are out of scope)")
      val stripPunct = p("strip_punct", Kind.bool, false, "drop every char that is not a unicode letter, digit, or whitespace")
      val squeezeWs = p("squeeze_ws", Kind.bool, true, "collapse whitespace runs to one space")
      ComponentDef("text_normalize", "Text canonicalization (normalize-before-dedup): lowercase → accent-fold (1:1 translate) → punctuation strip (drop chars that are not unicode letter/digit/whitespace) → whitespace squeeze (runs → one space) → trim, each step opt-in/out, FIXED order so equal flags give equal bytes. Codegen'd narrow map, no shuffle; NULL stays NULL", Seq(
        textColumn.doc("column to normalize"), dest, lowercase, accentFold,
        stripPunct, squeezeWs), runs = Both) { b => import b._
        // Text canonicalization (TextAnalysis.normalizeText): the
        // normalize-before-dedup step — lowercase → accent-fold →
        // punctuation strip → whitespace squeeze → trim, each opt-in/out,
        // fixed order. Codegen'd narrow map.
        (Map("out" -> graft.scale.TextAnalysis.normalizeText(one(),
          b(textColumn), opt(dest).getOrElse(""), b(lowercase), b(accentFold),
          b(stripPunct), b(squeezeWs))), None)
      }
    },
    {
      val urlColumn = p("url_column", Kind.str, "url", "URL string column")
      val prefix = p("prefix", Kind.str, "url_", "output column prefix (the four output names must not collide with input columns)")
      ComponentDef("url_features", "URL decomposition: append <prefix>scheme/host/domain/path parsed from a URL string column — the per-domain quota / blocklist / URL-dedup primitive (chain with group_cap on <prefix>domain for the CCNet-style dominance guard). domain = last two dot-labels of the host (PSL-free heuristic); userinfo/port are stripped from host; non-matching parts are NULL. Codegen'd regexp chains, no shuffle", Seq(
        urlColumn, prefix), runs = Both) { b => import b._
        // URL decomposition (TextAnalysis.urlFeatures): scheme/host/
        // domain/path columns parsed from a URL string — the per-domain
        // quota / blocklist primitive. Codegen'd regexp chains, no shuffle.
        (Map("out" -> graft.scale.TextAnalysis.urlFeatures(one(),
          b(urlColumn), b(prefix))), None)
      }
    },
    ComponentDef("outlier_filter", "Distribution-based outlier filter: keep rows whose numeric `column` sits inside the statistical fences — method=zscore (|v-mean| <= k·stddev, one map-side-combinable aggregate: the 100 TB default) or method=iqr (Tukey fences [q1-k·IQR, q3+k·IQR]; exact percentile buffers group values — set approx=true for the t-digest sketch at scale). Fences per `by` group or global; stats broadcast-join back so the big side never shuffles. The fences come from the optional static `reference` port when wired (a trained baseline; in a streaming job it is required, since an aggregate over the stream itself never finalizes), else from `in`. NULL values and NULL group keys drop", Seq(
      outlierColumn.doc("numeric signal column the fences are computed on (and, with a reference, must exist on both ports)"),
      outlierMethod,
      fenceK.doc("fence width multiplier (>= 0) (use 1.5 for classic Tukey)"),
      by.doc("compute fences per these group columns (per-source length norms differ); empty = global fences"),
      approx.doc("iqr only: use approx_percentile (bounded sketch state) instead of exact percentile")),
      withStatic("in", "reference", required = false), runs = Both) { b => import b._
      // Distribution-based outlier filter (Profile.outlierFilterAgainst):
      // z-score or Tukey-fence (IQR) quality gate on a numeric signal,
      // optionally per `by` group, fences from `reference` if wired.
      // Stats aggregate + broadcast join + narrow filter — the big side
      // never shuffles; a static reference's fences broadcast onto a
      // stream as a stateless filter.
      val df = one()
      (Map("out" -> graft.scale.Profile.outlierFilterAgainst(df,
        optPort("reference").getOrElse(df), b(outlierColumn),
        b(outlierMethod), b(fenceK), b(by), b(approx))), None)
    },
    {
      val fields = req("fields", Kind.jsonFields, "[{path, dest, type?}, ...] — path is JSONPath ('$.k'; bare names normalize), type one of string|integer|float|boolean (default string)")
      val column = p("column", Kind.str, "props", "JSON string column")
      val keepSource = p("keep_source", Kind.bool, true, "keep the raw JSON column — drop it to keep the widest column out of downstream exchanges")
      ComponentDef("json_extract", "Typed JSON-path extraction from a JSON string column (event props, crawl metadata): each field rule lands one path as a typed column — codegen'd narrow map (get_json_object + cast), missing/uncastable values become NULL", Seq(
        fields, column, keepSource), runs = Both) { b => import b._
        // Typed JSON-path extraction (RelationalOps.jsonExtract): pull
        // fields out of a JSON string column (event props, crawl
        // metadata) as typed columns — codegen'd narrow map, lenient
        // nulls for missing/uncastable values.
        (Map("out" -> RelationalOps.jsonExtract(one(), b(column), b(fields),
          b(keepSource))), None)
      }
    },
    {
      val cap = req("cap", Kind.int, "max rows kept per group (>= 1)")
      ComponentDef("group_cap", "Per-group row cap: keep at most `cap` rows per `by` group ('at most N docs per domain' — the source-dominance guard). order_by keeps the TOP rows under that order (quality cap, id tiebreak); empty order_by draws a seeded uniform md5(seed:id) subset. One hash exchange + in-partition sort (WindowOp's shape)", Seq(
        cap, idColumn.doc("deterministic tiebreak / hash key"),
        by.doc("quota-group columns (source, domain, language); empty needs allow_global"),
        orderBy,
        seed.doc("hash salt for the uniform draw — independent of sample/shuffle/hash_split hashing"),
        allowGlobal.doc("permit the empty-`by` single-partition rank"))) { b => import b._
        // Per-group row cap (RelationalOps.groupCap): at most `cap` rows
        // per `by` group — the domain/source-quota curation primitive.
        // order_by keeps the top rows under an explicit order (quality
        // cap); empty order_by draws a seeded uniform subset. A
        // defaulted cap would silently discard data, so it is required.
        (Map("out" -> RelationalOps.groupCap(one(), b(idColumn), b(cap), b(by),
          b(orderBy), b(seed), b(allowGlobal))), None)
      }
    },
    {
      val cap = req("cap", Kind.int, "max rows emitted per group over the stream's lifetime (>= 1)")
      ComponentDef("streaming_group_cap", "Streaming per-group quota (flatMapGroupsWithState): keep the FIRST `cap` rows per `by` group over the stream's lifetime — one Long of state per distinct group, no watermark. The cap is exact across microbatches; the kept subset follows arrival order (streams have no replayable order — use batch group_cap for order-exact curation). STATE GROWS WITH GROUP CARDINALITY AND NEVER EXPIRES: a lifetime quota cannot time out (an expired counter would re-admit rows past the cap), so state is one counter per distinct group ever seen, forever — key on bounded-cardinality columns (source, language, shard), never a per-document id", Seq(
        cap, by.doc("quota-group columns (bounded-cardinality keys: source, language, shard — state holds one counter per distinct group forever)")), runs = StreamingOnly) { b => import b._
        // Custom-state per-group quota (Streaming.streamingGroupCap —
        // the flatMapGroupsWithState primitive reachable from JSON):
        // keeps the FIRST cap rows per `by` group over the stream's
        // LIFETIME; one Long of state per distinct group, no watermark
        // (a quota is not time-scoped). Unlike batch group_cap the kept
        // subset is arrival-order dependent (streams carry no
        // engine-replayable order) — the CAP itself is exact across
        // microbatches, which is the quota's contract.
        (Map("out" -> graft.streaming.Streaming.streamingGroupCap(
          one(), b(by), b(cap))), None)
      }
    },
    {
      val k = req("k", Kind.int, "number of top entries (> 0)")
      val n = p("n", Kind.int, 1, "gram width (1 = tokens)")
      val sampleFraction = p("sample_fraction", Kind.num, 1.0, "in (0, 1]; 1.0 = exact. Below 1: count grams over a deterministic md5(seed:id) document sample — the corpus-scale path (gram volume is linear in corpus tokens; frequency RANKS converge fast under uniform sampling, and the md5 sample replays bit-exactly on any engine, so the sampled top-k is a stable documented estimate, not a silent cap)")
      val sampleIdColumn = p("sample_id_column", Kind.str, "doc_id", "document id hashed for the sample")
      val sampleSeed = p("sample_seed", Kind.str, "", "sample hash salt — independent of hash_split/sample seeds")
      ComponentDef("top_tokens", "Corpus top-k vocabulary / n-gram stats: the k most frequent lowercase whitespace tokens (n=1, column `token`) or word n-grams counted per POSITION (n>1, column `gram` — a dominating bigram/trigram is navigation chrome or licence boilerplate), with occurrence counts and a deterministic (count desc, gram asc) boundary. Explode → partial count → one shuffle → TakeOrderedAndProject; batch-only (a global top-k over an unbounded stream never finalizes)", Seq(
        k, n, textColumn, sampleFraction, sampleIdColumn, sampleSeed)) { b => import b._
        // Corpus top-k vocabulary / n-gram stats (TextAnalysis.topGrams):
        // explode → partial count → one shuffle on the gram → top-k with
        // a deterministic boundary. Batch-only (a global top-k over an
        // unbounded stream never finalizes).
        // sample_fraction < 1 is the corpus-scale path (the topGrams
        // scaladoc's guidance, reachable declaratively): a deterministic
        // md5(seed:id) hashSample of the DOCUMENTS feeds the explode —
        // frequency ranks converge fast under uniform sampling, the
        // sample replays bit-exactly on any engine (no silent cap), and
        // the gram volume shrinks by the fraction before the wide work.
        val fraction = b(sampleFraction)
        require(fraction > 0.0 && fraction <= 1.0,
          s"top_tokens ${c.name}: sample_fraction must be in (0, 1], got $fraction")
        val sampled =
          if (fraction < 1.0)
            graft.ops.RelationalOps.hashSample(one(), b(sampleIdColumn), fraction,
              b(sampleSeed))
          else one()
        (Map("out" -> graft.scale.TextAnalysis.topGrams(sampled,
          b(textColumn), b(k), b(n))), None)
      }
    },
    {
      val emit = choice("emit", Seq("docs", "flagged"), "'docs' (passing rows only) or 'flagged' (append g_* rule booleans + gopher_pass)")
      val minWords = p("min_words", Kind.int, 50, "word-count lower bound")
      val maxWords = p("max_words", Kind.int, 100000, "word-count upper bound")
      val minMeanWordLen = p("min_mean_word_len", Kind.num, 3.0, "mean token length lower bound")
      val maxMeanWordLen = p("max_mean_word_len", Kind.num, 10.0, "mean token length upper bound")
      val maxSymbolRatio = p("max_symbol_ratio", Kind.num, 0.1, "(# + ellipsis occurrences) / words cap")
      val maxBulletRatio = p("max_bullet_ratio", Kind.num, 0.9, "bullet-start line fraction cap")
      val maxEllipsisRatio = p("max_ellipsis_ratio", Kind.num, 0.3, "ellipsis-end line fraction cap")
      val minAlphaRatio = p("min_alpha_ratio", Kind.num, 0.8, "fraction of words containing a letter floor")
      val minStopHits = p("min_stop_hits", Kind.int, 2, "distinct Gopher stopwords required")
      ComponentDef("gopher_filter", "Gopher QUALITY rules (Rae et al. 2021 A1.1) as one stateless narrow projection — the complement of text_repetition's Gopher REPETITION signals: word-count bounds, mean-word-length bounds, symbol-to-word ratio (# and ellipses), bullet-start and ellipsis-end line fractions, alphabetic-word fraction, and >= min_stop_hits distinct English stopwords (the, be, to, of, and, that, have, with). Every rule is a boolean over integer counts and IEEE-exact divisions (oracle-replayable; ratios never leave the engine). emit=docs keeps passing rows; emit=flagged appends the per-rule booleans + gopher_pass for threshold tuning. NULL text fails every rule. Stateless, so it also runs incrementally over streams", Seq(
        textColumn, emit, minWords, maxWords, minMeanWordLen, maxMeanWordLen,
        maxSymbolRatio, maxBulletRatio, maxEllipsisRatio, minAlphaRatio,
        minStopHits), runs = Both) { b => import b._
        // Gopher quality rules (TextAnalysis.gopherRules): one narrow
        // boolean projection per document — emit=docs keeps passing rows
        // (the training-pipeline shape), emit=flagged appends the
        // per-rule booleans + gopher_pass for auditing. Stateless, so
        // the streaming fold runs this same build.
        val f =
          if (b(emit) == "docs") graft.scale.TextAnalysis.gopherFilter _
          else graft.scale.TextAnalysis.gopherRules _
        (Map("out" -> f(one(), b(textColumn), b(minWords), b(maxWords),
          b(minMeanWordLen), b(maxMeanWordLen), b(maxSymbolRatio),
          b(maxBulletRatio), b(maxEllipsisRatio), b(minAlphaRatio),
          b(minStopHits))), None)
      }
    },
    {
      val emit = choice("emit", Seq("docs", "hot"), "'docs' (the rewritten documents) or 'hot' (the audit table: hot line + distinct-doc count, what WOULD be stripped — census only, for eyeballing a threshold)")
      val strategy = choice("strategy", Seq("join", "set"), "'join' (fully lazy) or 'set' (eager bounded hot-set collect, narrow rewrite) — identical results, spec-pinned")
      val broadcast = p("broadcast", Kind.bool, true, "strategy=join: broadcast the hot-line set — disable when max_docs is low and the corpus dirty enough that the hot set outgrows the driver")
      ComponentDef("line_dedup", "Corpus-level duplicate-line removal (RefinedWeb/CCNet boilerplate stripping): census the corpus's non-blank lines (the optional static `reference` port's when wired — a closed corpus whose boilerplate defines the hot set; in a streaming job it is required and the job runs strategy=set, emit=docs), call a line hot when it appears byte-exactly in more than max_docs DISTINCT documents (navigation chrome, cookie banners, licence footers), and rewrite every document with its hot lines removed. Blank lines pass through (paragraph structure survives); within-document repetition never promotes a line (per-document census); documents with no surviving lines — including NULL text — drop. The post-cut hot set is tiny and broadcasts (LeftAnti, no exchange on the exploded lines); one hash exchange regroups kept lines per document. strategy=set (identical survivors, spec-pinned) collects the hot set once — bounded by max_hot_lines, loud overflow — and rewrites via one codegen'd narrow remove_in_set projection: no regroup exchange, no join-back, the corpus-scale path after the census", Seq(
        textColumn,
        docIdColumn.doc("document id column (regroup key) — MUST be unique per document under strategy=join (the rewrite regroups and joins back on it; duplicate ids silently merge documents — dedup upstream if ids can collide; strategy=set rewrites per row and tolerates duplicates)"),
        maxDocs,
        lineUnit.doc("'line' or 'paragraph' (blank-line-separated blocks, the C4-style span — catches boilerplate whose internal line breaks vary only at the block level)"),
        emit, strategy,
        maxHotLines.doc("strategy=set driver-collect cap — overflow fails loudly toward strategy=join"),
        broadcast,
        referenceTextColumn),
        withStatic("in", "reference", required = false), runs = Both) { b => import b._
        // Corpus-level duplicate-line removal (Dedup.lineDedup): census
        // non-blank lines across documents, lines present in more than
        // max_docs DISTINCT documents are boilerplate and get stripped
        // from every document (blank lines pass through; documents with
        // nothing left drop). The post-cut hot set broadcasts by default
        // — only the regroup-by-id pays an exchange.
        // strategy=set collects the post-cut hot set (bounded, loud
        // overflow) and rewrites via one codegen'd narrow projection —
        // no regroup exchange, no join-back (Dedup.lineDedupSet).
        // A wired `reference` port runs the census instead of `in`.
        val (textCol, idCol) = (b(textColumn), b(docIdColumn))
        val reference = optPort("reference").map(
          _ -> opt(referenceTextColumn).getOrElse(textCol))
        val out =
          // emit=hot: the audit table (line, n_docs) of what WOULD be
          // stripped — census only, no rewrite, strategy ignored
          if (b(emit) == "hot") {
            val (census, censusText) = reference.getOrElse(one() -> textCol)
            graft.scale.Dedup.hotLineReport(census, censusText, idCol,
              b(maxDocs), b(lineUnit))
          }
          else if (b(strategy) == "join") graft.scale.Dedup.lineDedup(one(), textCol,
            idCol, b(maxDocs), b(broadcast), b(lineUnit), reference)
          else graft.scale.Dedup.lineDedupSet(one(), textCol, idCol,
            b(maxDocs), b(maxHotLines), b(lineUnit), reference)
        (Map("out" -> out), None)
      }
    },
    ComponentDef("dedup_against", "Incremental exact dedup: keep only `in`-port rows whose normalized text key (lowercase, whitespace-collapse — the dedup family's exactKey) does NOT appear on the `reference` port — the ingest-time 'drop documents we already have' primitive that avoids re-deduplicating the whole corpus per batch. strategy=join (default, fully lazy): one anti-join, reference broadcasts when small. strategy=bloom (corpus-sized reference): probe a compact reference-key bloom as a codegen'd narrow map and send ONLY might-contain candidates to the exact join — bloom negatives are provably absent and skip the exchange; exactness preserved (a false positive just pays one row's join). NULL-text rows are always kept (a NULL key never equals)", Seq(
      againstStrategy.doc("'join' or 'bloom' — identical results, spec-pinned"),
      textColumn.doc("document text column on the in port"),
      referenceTextColumn),
      withStatic("in", "reference"), runs = Both) { b => import b._
      // Incremental exact dedup (Dedup.exactAgainst): keep only `in`
      // rows whose normalized key is absent from the `reference` port —
      // the ingest-time "drop documents we already have" primitive.
      // One anti-join, no window, no state: a static reference
      // anti-joins a stream statelessly (no watermark — the reference
      // is closed, unlike streaming_dedup's in-stream TTL).
      // strategy=bloom probes a compact reference-key bloom as a narrow
      // map and sends only candidates to the exact join — the
      // corpus-sized-reference path (Dedup.exactAgainstBloom).
      val fn =
        if (b(againstStrategy) == "join") graft.scale.Dedup.exactAgainst _
        else graft.scale.Dedup.exactAgainstBloom _
      (Map("out" -> fn(port("in"), port("reference"), b(textColumn),
        opt(referenceTextColumn).getOrElse(""))), None)
    },
    {
      val keyColumn = p("key_column", Kind.str, "shuffle_key", "name of the added order-key column (must not collide with an input column)")
      ComponentDef("shuffle", "Deterministic seeded global shuffle: adds key_column = md5(seed:id) and returns a TOTAL order over it (one range exchange; same row order on any run/engine/partitioning — reproducible training order). Null ids take the fixed md5(seed:) key", Seq(
        idColumn.doc("column hashed for the permutation"),
        seed.doc("hash salt — different seeds draw independent permutations, independent of hash_split/sample hashing"),
        keyColumn)) { b => import b._
        // Deterministic seeded global shuffle (RelationalOps.hashShuffle):
        // adds shuffle_key = md5(seed:id) and returns a total order over it
        // — the reproducible-training-order primitive. One range exchange.
        (Map("out" -> RelationalOps.hashShuffle(one(), b(idColumn), b(seed),
          b(keyColumn))), None)
      }
    },
    {
      val sortKeys = req("sort", Kind.orderPairs, "[[field, 1|-1], ...] — include a unique tie-breaking key for deterministic output")
      val skip = p("skip", Kind.int, 0, "rows to skip after sorting")
      val limit = p("limit", Kind.int, "max rows after skip")
      ComponentDef("sort", "ORDER BY / OFFSET / LIMIT over the input (one range exchange; skip compiles to GlobalLimit-with-offset, no global window)", Seq(
        sortKeys, skip, limit)) { b => import b._
        // Generic ORDER BY / OFFSET / LIMIT (RelationalOps.findLike): the
        // Mongo-read-shaped sort surface over ANY upstream frame (filter
        // and projection are the filter and schema_mapping components'
        // jobs). skip compiles to GlobalLimit-with-offset (no global
        // window); pass a unique tie-breaking key for deterministic output.
        val keys = b(sortKeys)
        require(keys.nonEmpty, s"sort ${c.name}: needs non-empty 'sort' keys")
        val n = opt(limit)
        n.foreach(x => require(x >= 0, s"sort ${c.name}: limit must be >= 0"))
        require(b(skip) >= 0, s"sort ${c.name}: skip must be >= 0")
        (Map("out" -> RelationalOps.findLike(one(), sort = keys,
          skip = b(skip), limit = n)), None)
      }
    },
    ComponentDef("window", "Window functions over PARTITION BY + ORDER BY: row_number/rank/dense_rank/percent_rank/cume_dist/ntile, lag/lead, running sum/min/max/avg/count/first/last — top-n per group composes as window then filter (rank <= n), quality-percentile curation as percent_rank/ntile then filter. One hash exchange on the partition keys", Seq(
      windowFunctions,
      partitionBy.doc("partition keys; empty requires allow_global"),
      orderBy.doc("[[field, 1|-1], ...] — required by rank/lag/lead/first/last; include a unique tie-breaker for determinism"),
      allowGlobal.doc("opt into an empty partition_by — the whole input flows through ONE task (small frames only; use sort/shuffle for global order at scale)"))) { b => import b._
      // Declarative window functions (ops/WindowOp.scala): rank /
      // row_number / lag / lead / running aggregates over
      // PARTITION BY + ORDER BY — "top-n per group" composes as
      // window → filter (rank <= n). One hash exchange on the
      // partition keys; empty partition_by needs allow_global.
      (Map("out" -> WindowOp(one(), b(partitionBy), b(orderBy), b(windowFunctions),
        allowGlobal = b(allowGlobal))), None)
    },
    {
      val srcColumn = p("src_column", Kind.str, "id_a", "edge source column")
      val dstColumn = p("dst_column", Kind.str, "id_b", "edge destination column")
      val checkEvery = p("check_every", Kind.int, 1, "convergence-count cadence (measured: the fused count is ~4% of a round, so skipping only pays when rounds >> cadence)")
      ComponentDef("connected_components", "Label every pair-table endpoint with the min id reachable from it (transitive dedup clusters)", Seq(
        srcColumn, dstColumn, maxIter, checkEvery,
        checkpointDir.doc("set = per-round RELIABLE checkpoint to this directory (survives executor loss — the preemption-safe path; superseded rounds' files are deleted as the loop advances); unset (default) = executor-block localCheckpoint, cheaper but lost with an executor. NOTE: Spark's checkpoint directory is a global SparkContext setting — declaring this retargets it for the whole application unless the context already points under this directory"))) { b => import b._
        // Connected components over a pair/edge table (Dedup
        // .connectedComponents): labels every endpoint with the min id
        // reachable from it — the pair → transitive-cluster step of a
        // dedup pipeline (chain with dedup emit=pairs upstream).
        (Map("out" -> graft.scale.Dedup.connectedComponents(one(),
          b(srcColumn), b(dstColumn), b(maxIter), b(checkEvery),
          opt(checkpointDir).getOrElse(""))), None)
      }
    },
    {
      val repetition = p("repetition", Kind.bool, false, "append Gopher repetition signals (dup_line_ratio, top_gram, top_gram_ratio, dup_gram_ratio)")
      val repetitionN = p("repetition_n", Kind.int, 2, "word n-gram width for the repetition signals")
      val entropy = p("entropy", Kind.bool, false, "append char_entropy — Shannon entropy of the text's UTF-8 bytes in bits/byte (compression-proxy quality signal: prose ~4.0-4.5; base64/padding/binary score far off)")
      ComponentDef("text_analysis", "Token counts, quality ratios, language id", Seq(
        textColumn, repetition, repetitionN, entropy), runs = Both) { b => import b._
        val textCol = b(textColumn)
        val base = graft.scale.TextAnalysis.analyze(one(), textCol)
        // repetition=true appends the Gopher repetition signals
        // (dup_line_ratio, top_gram, top_gram_ratio, dup_gram_ratio);
        // entropy=true appends char_entropy (bits/byte compression
        // proxy) — both opt-in so existing jobs' declared output
        // schemas stay valid
        val withRep =
          if (b(repetition))
            graft.scale.TextAnalysis.repetitionStats(base, textCol, b(repetitionN))
          else base
        val out =
          if (b(entropy))
            withRep.withColumn("char_entropy",
              graft.scale.TextAnalysis.charEntropy(col(textCol)))
          else withRep
        (Map("out" -> out), None)
      }
    },
    {
      val indexPath = p("index_path", Kind.str, "ivf_index: directory written by write_ivf_index (REQUIRED when method=ivf_index)")
      val queryColumn = p("query_column", Kind.str, "qvec", "ivf_index: query port's vector column")
      val queryId = p("query_id", Kind.str, "knn: query id column, default 'id'. ivf_index: if the query port carries this column (default 'query_id'), it is a multi-row BATCH probe — per-query cell ranking, one pruned scan, top-k per query; without it the port must carry exactly one row")
      val k = p("k", Kind.int, 10, "neighbors per query")
      val corpusId = p("corpus_id", Kind.str, "id", "knn: corpus id column")
      val nprobe = p("nprobe", Kind.int, "ivf: probed cells, default max(2, cells/8) from the centroid count")
      ComponentDef("similarity", "Nearest-neighbor search: exact k-NN join or IVF cell probe", Seq(
        similarityMethod, indexPath, queryColumn, queryId, vectorColumn, k, corpusId,
        idColumn.doc("ivf: corpus id column"), nprobe), similarityPorts) { b => import b._
        // Approximate/exact nearest-neighbor search as a declarative
        // component, like `dedup` is for the dedup family. method=knn:
        // exact top-k per query row (corpus streamed once, queries
        // broadcast — ports `corpus`, `queries`); method=ivf: cell-probed
        // approximate top-k (ports `corpus`, `centroids` as (cell, cvec),
        // `query` as a one-row (qvec) frame).
        import graft.scale.Similarity
        val vecCol = b(vectorColumn)
        val out = b(similarityMethod) match {
          case "knn" => Similarity.knnJoin(port("corpus"), port("queries"),
            vecCol, b(corpusId), opt(queryId).getOrElse("id"), b(k))
          case "ivf" =>
            val centroids = port("centroids")
            // explicit nprobe wins; omitted → the measured (tools/IvfProbe @0fcdae9)
            // default from the cell count (the count() is a tiny action
            // over the centroid table — kcells rows, usually persisted
            // by kmeans_train — and is skipped entirely when pinned)
            val probes = opt(nprobe).getOrElse(
              Similarity.ivfNprobeDefault(centroids.count().toInt))
            Similarity.ivfTopK(port("corpus"), vecCol, b(idColumn), centroids,
              port("query"), b(k), nprobe = probes)
          // probe a PREBUILT write_ivf_index layout: no corpus port — the
          // index at `index_path` is the corpus, and the probed cells
          // prune its directories at plan time. The single query row is
          // collected driver-side (bounded and required to be exactly
          // one row — the same justified exception searchBucketed's doc
          // records for the probe cells).
          case _ => // ivf_index
            val path = opt(indexPath).getOrElse(throw new IllegalArgumentException(
              s"similarity ${c.name}: method=ivf_index needs index_path " +
                "(the directory written by write_ivf_index)"))
            val centroids = port("centroids")
            val query = port("query")
            // the query port's vector column: `query_column` param, else
            // `qvec` by convention (documented in ComponentSchemas)
            val qCol = b(queryColumn)
            require(query.columns.contains(qCol),
              s"similarity ${c.name}: query port has no column '$qCol' " +
                s"(columns: ${query.columns.mkString(", ")}); set query_column")
            val probes = opt(nprobe).getOrElse(
              Similarity.ivfNprobeDefault(centroids.count().toInt))
            val qidCol = opt(queryId).getOrElse("query_id")
            if (query.columns.contains(qidCol))
              // BATCH probe: a query-id column marks a multi-row query
              // set — per-query cell ranking, one pruned scan, top-k
              // per query (KMeans.searchBucketedMany)
              graft.scale.KMeans.searchBucketedMany(spark, path, vecCol,
                b(idColumn), centroids, query, qidCol, qCol, b(k), nprobe = probes)
            else {
              val qRows = query.limit(2).collect()
              require(qRows.length == 1,
                s"similarity ${c.name}: the query port must carry exactly " +
                  s"one row (or carry a '$qidCol' column for batch probing)")
              val rawVec = qRows(0).getSeq[Number](qRows(0).fieldIndex(qCol))
              require(rawVec != null,
                s"similarity ${c.name}: the query row's '$qCol' vector is " +
                  "NULL (an upstream left join with no match?)")
              val vec = rawVec.map(_.floatValue).toSeq
              graft.scale.KMeans.searchBucketed(spark, path, vecCol,
                b(idColumn), centroids, vec, b(k), nprobe = probes)
            }
        }
        (Map("out" -> out), None)
      }
    },
    ComponentDef("pii_redact", "Mask emails/phones/IPv4 in a text column (<EMAIL>/<PHONE>/<IP>) and add n_emails/n_phones/n_ips counts", Seq(
      textColumn.doc("column to redact in place")), runs = Both) { b => import b._
      // PII redaction (scale/TextAnalysis.redactPiiWithCounts): masks
      // emails/phones/IPv4 in the text column and adds per-category
      // counts for downstream filtering. Codegen'd regex maps, no
      // shuffle.
      (Map("out" -> graft.scale.TextAnalysis.redactPiiWithCounts(one(),
        b(textColumn))), None)
    },
    {
      val strategy = p("strategy", Kind.str, "broadcast", "broadcast (benchmark grams probed via a codegen'd set, corpus stays a narrow map) | join (ids-only posting join for huge benchmarks) | bloom (sketch prefilter: only candidate docs pay the exact join — the middle path; results exact under all three)")
      val emit = choice("emit", Seq("flagged", "clean", "pairs"), "flagged (appends n_hits/contaminated) | clean (keeps only uncontaminated rows) | pairs (audit: one (corpus_id, bench_id, n_shared) row per contaminated pair; always the join shape)")
      val benchIdColumn = p("bench_id_column", Kind.str, "pairs: benchmark id column, default = id_column")
      val maxDf = p("max_df", Kind.int, graft.scale.Decontaminate.DefaultPairsMaxDf, "pairs: corpus-side document-frequency cap on the posting join (stop-gram guard) — capped grams leave the per-pair n_shared counts (docs contaminated only through capped grams keep a row with null bench_id, the loud signal the cap fired); the doc-level contamination set itself is never capped")
      ComponentDef("decontaminate", "Flag/drop corpus docs sharing word n-grams with a benchmark set (ports corpus/benchmark) — the train/test-overlap guard. The benchmark port is static: in a streaming job a source feeds it as a batch frame and the stream runs strategy=broadcast, emit=flagged|clean (a stateless gram probe)", Seq(
        textColumn.doc("text column on both ports"),
        docIdColumn.doc("corpus id column (join strategy)"),
        ngramN, minOverlap, strategy, emit, benchIdColumn, maxDf),
        withStatic("corpus", "benchmark"), runs = Both) { b => import b._
        // Benchmark decontamination (scale/Decontaminate.scala): flag or
        // drop corpus docs sharing word n-grams with the `benchmark` port's
        // eval set. emit=flagged appends n_hits/contaminated for auditing;
        // emit=clean (the training-pipeline shape) keeps only clean rows;
        // emit=pairs names the leaking benchmark items per contaminated doc.
        import graft.scale.Decontaminate
        val (textCol, idCol) = (b(textColumn), b(docIdColumn))
        val (n, minOv) = (b(ngramN), b(minOverlap))
        val out = b(emit) match {
          case "flagged" => Decontaminate.flag(port("corpus"),
            port("benchmark"), textCol, idCol, n, minOv, b(strategy))
          case "clean" => Decontaminate.clean(port("corpus"),
            port("benchmark"), textCol, idCol, n, minOv, b(strategy))
          // the audit face always runs the posting-join shape; a pinned
          // broadcast strategy cannot produce per-benchmark pairs
          case _ => // pairs
            require(opt(strategy).forall(_ == "join"),
              s"decontaminate ${c.name}: emit=pairs requires the join " +
                "shape (benchmark identity survives only there); drop " +
                "strategy or set strategy=join")
            Decontaminate.pairs(port("corpus"), port("benchmark"),
              textCol, idCol, opt(benchIdColumn).getOrElse(idCol),
              n, minOv, b(maxDf))
        }
        (Map("out" -> out), None)
      }
    },
    {
      val buckets = req("buckets", Kind.int, "bucket count; align it across tables meant to join exchange-free")
      val bucketBy = req("bucket_by", Kind.strs, "bucket key columns (the join key)")
      ComponentDef("write_bucketed", "Bucketed external-table sink: tables bucketed+sorted the same way on their join key join with ZERO exchanges (sort-merge over aligned buckets). Data at filepath, metadata in the session catalog for read_table", Seq(
        table, filepath.doc("external data directory — nothing is written to a warehouse or metastore"),
        buckets, bucketBy, sortBy), sink) { b => import b._
        // Bucketed external table sink — the co-located-join layout lever:
        // two tables bucketed (and sorted) the same way on their join key
        // join with ZERO exchanges (sort-merge over aligned buckets;
        // ScaleIdiomsSpec pins the plan). Data lands at `filepath` (an
        // EXTERNAL table — nothing is written to the warehouse or a
        // metastore; the in-memory catalog carries only metadata), and the
        // table name is what downstream `read_table` sources consume.
        val df = one()
        val name = b(table)
        val path = b(filepath)
        val n = b(buckets)
        require(n >= 1, s"write_bucketed ${c.name}: buckets must be >= 1, got $n")
        val keys = b(bucketBy)
        require(keys.nonEmpty,
          s"write_bucketed ${c.name}: 'bucket_by' needs at least one column")
        val sortCols = b(sortBy)
        require(name.matches("[A-Za-z0-9_]+"),
          s"write_bucketed ${c.name}: table must be a bare identifier " +
            s"([A-Za-z0-9_]+), got '$name'")
        (Map("out" -> df), Some(() => {
          spark.sql(s"DROP TABLE IF EXISTS `$name`")
          val w = df.write.mode("overwrite").option("path", path)
            .bucketBy(n, keys.head, keys.tail: _*)
          (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
            .saveAsTable(name)
        }))
      }
    },
    ComponentDef("read_table", "Catalog-table source (the read side of write_bucketed): the scan carries the bucket spec, so joins/aggs on the bucket key skip their exchange", Seq(
      table.doc("catalog table name registered by write_bucketed in this session")), source) { b => import b._
      // Catalog-table source, the read side of write_bucketed: the scan
      // carries the table's bucket spec, so joins/aggregations on the
      // bucket key skip their exchange. Resolution is EAGER (build time)
      // while write_bucketed writes at sink time, so reading a table the
      // SAME job stages is rejected up front — it would bind to the
      // previous run's files (or die mid-run when the overwrite drops
      // them); stage and consume in separate jobs.
      val name = b(table)
      require(name.matches("[A-Za-z0-9_]+"),
        s"read_table ${c.name}: table must be a bare identifier " +
          s"([A-Za-z0-9_]+), got '$name'")
      // equalsIgnoreCase: Spark's catalog resolves table names
      // case-insensitively under the default caseSensitive=false, so
      // 'Events' staged here WOULD be the table 'events' binds to
      val stagedHere = allSpecs.exists(o => o.compType == "write_bucketed" &&
        table.read(o).exists(_.equalsIgnoreCase(name)))
      require(!stagedHere,
        s"read_table ${c.name}: table '$name' is written by a " +
          "write_bucketed component in this SAME job — read_table binds " +
          "at build time, before any sink runs; stage the table in a " +
          "prior job")
      val df =
        try spark.table(name)
        catch { case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalArgumentException(
            s"read_table ${c.name}: table '$name' is not in the session " +
              s"catalog (stage it with write_bucketed first): ${e.getMessage}")
        }
      (Map("out" -> df), None)
    },
    ComponentDef("write_ivf_index", "Write the corpus partitioned by nearest centroid cell (ports corpus/centroids) — the probe-prunable IVF layout", Seq(
      filepath.doc("index directory (one subdirectory per cell)"),
      vectorColumn, idColumn.doc("corpus id column")), ivfIndexPorts) { b => import b._
      // IVF index sink (scale/KMeans.indexBucketed): assigns each corpus
      // row to its nearest centroid and writes the corpus partitioned by
      // cell, one file per cell directory — the layout whose probes
      // prune at the file source. Ports `corpus` + `centroids`.
      val (corpus, centroids) = (port("corpus"), port("centroids"))
      val path = b(filepath)
      (Map("out" -> corpus), Some(() => graft.scale.KMeans.indexBucketed(
        corpus, b(vectorColumn), b(idColumn), centroids, path)))
    },
    {
      val k = p("k", Kind.int, "number of centroids/cells, default ceil(sqrt(n)) from the corpus count")
      val iters = p("iters", Kind.int, 5, "Lloyd iterations")
      ComponentDef("kmeans_train", "Train k-means centroids (cell, cvec) for the ivf similarity method", Seq(
        vectorColumn, k, iters)) { b => import b._
        // Lloyd's k-means over an embedding column (scale/KMeans.scala):
        // trains the (cell, cvec) centroid table that `similarity
        // method=ivf` consumes on its centroids port — a JSON author runs
        // ANN end-to-end without writing Scala. Like the sized embedding
        // dedup, training executes AT BUILD (the iterations are actions);
        // the returned table is persisted by train() and its release is
        // handed to BuiltJob.close via OpCaches, per the cache-ownership
        // rule.
        val corpus = one()
        // explicit k wins; omitted → the sqrt-n cell rule from the
        // corpus count (conditional like embeddingDepth: pinning k
        // skips the count() action)
        val cells = opt(k).getOrElse(
          graft.scale.Similarity.ivfCellsFor(math.max(1L, corpus.count())))
        val centroids = graft.scale.KMeans.train(corpus, b(vectorColumn),
          k = cells, iters = b(iters))
        (Map("out" -> graft.scale.OpCaches.persist(centroids)), None)
      }
    },
    ComponentDef("range_join", "Range/interval join: left rows matched to right [start,end] intervals, one-to-many (ports left/right; right is static — in a streaming job a source feeds it as a batch frame and the stream joins it statelessly)", Seq(
      on.doc("left-side value/time column the interval must contain (inclusive bounds)"),
      start, end,
      by.doc("optional equality keys — REQUIRED at scale unless the interval side is dimension-sized (without keys the right side broadcasts)"),
      suffix, joinType), withStatic("left", "right"), runs = Both) { b => import b._
      // Range/interval join (ops/RangeJoin.scala): left rows matched to
      // right [start,end] intervals, one-to-many; with `by` keys an
      // equi-join carries the range condition (no cross product), without
      // them the interval side broadcasts. Both shapes run stateless on
      // a streaming left against a static right.
      (Map("out" -> RangeJoin(port("left"), port("right"), b(on), b(start), b(end),
        b(by), b(suffix), b(joinType))), None)
    },
    {
      val strategy = choice("strategy", Seq("window", "broadcast"), "window (one shuffle on the by-keys, right side any size) | broadcast (interval-prepared right broadcasts, ZERO shuffle of the left — for corpus-sized left x dimension-sized right)")
      ComponentDef("asof_join", "As-of join: nearest right row per left row (ports left/right; right is static — in a streaming job a source feeds it as a batch frame and the stream runs strategy=broadcast, a stateless enrichment)", Seq(
        on, keysBy, suffix,
        direction.doc("backward: latest right at or before | forward: earliest at or after | nearest: closer of the two, ties to backward"),
        tolerance.doc("max match distance as a SQL literal (INTERVAL '1' HOUR for timestamps, a number for numeric times); farther matches become null"),
        strategy), withStatic("left", "right"), runs = Both) { b => import b._
        // Backward as-of join (ops/AsofJoin.scala): ports `left`/`right`,
        // `on` = event-time column on both sides, `by` = equality keys.
        val keys = b(keysBy)
        require(keys.nonEmpty, s"asof_join ${c.name}: needs non-empty 'by' keys")
        // strategy=window (default): union + one window pass — ONE
        // shuffle of left+right on the by-keys; right side any size.
        // strategy=broadcast (AsofJoin.enrichStatic): the right side is
        // prepared into validity intervals and BROADCAST — zero Exchange
        // on the left, the plan to pick when left is corpus-sized and
        // right is a dimension table. Same results (AsofJoinSpec pins
        // both against one model).
        val join = if (b(strategy) == "broadcast") AsofJoin.enrichStatic _ else AsofJoin.apply _
        (Map("out" -> join(port("left"), port("right"), b(on), keys, b(suffix),
          b(direction), opt(tolerance))), None)
      }
    },
    {
      val valueColumns = req("value_columns", Kind.strs, "columns melted into rows (must share a common type)")
      val idColumns = p("id_columns", Kind.strs, Nil, "columns kept as row identity")
      val varColumn = p("var_column", Kind.str, "variable", "name of the variable column")
      val valueColumn = p("value_column", Kind.str, "value", "name of the value column")
      ComponentDef("unpivot", "Unpivot/melt: value columns become (variable, value) rows", Seq(
        valueColumns, idColumns, varColumn, valueColumn), runs = Both) { b => import b._
        // Unpivot/melt (RelationalOps.unpivot): value columns become
        // (variable, value) rows next to the id columns.
        val values = b(valueColumns)
        require(values.nonEmpty, s"unpivot ${c.name}: needs value_columns")
        (Map("out" -> RelationalOps.unpivot(one(), b(idColumns), values,
          b(varColumn), b(valueColumn))), None)
      }
    },
    {
      val columns = p("columns", Kind.strs, Nil, "columns to profile (empty = all)")
      val histogramColumn = p("histogram_column", Kind.str, "numeric column to histogram instead of profiling (requires buckets/lo/hi)")
      val buckets = p("buckets", Kind.int, "histogram bucket count (out-of-range values clamp into the edge buckets; v == hi lands in the top bucket)")
      val lo = p("lo", Kind.num, "histogram domain lower bound (inclusive)")
      val hi = p("hi", Kind.num, "histogram domain upper bound")
      ComponentDef("profile", "Column-level data profile: count/nulls/distinct/min/max in one scan. histogram_column switches to the distribution face: fixed-width bucket counts (one narrow map + one shuffle over <= buckets keys)", Seq(
        columns, approx.doc("HyperLogLog distincts instead of exact (the at-scale path)"),
        histogramColumn, buckets, lo, hi)) { b => import b._
        // Column-level data profile (scale/Profile.scala): `columns`
        // restricts the profiled set (default all), `approx` swaps exact
        // distinct counts for HyperLogLog at scale.
        // histogram_column switches to the distribution face
        // (Profile.histogram): fixed-width bucket counts with explicit
        // bounds — buckets/lo/hi all required, a defaulted domain would
        // silently mis-bucket
        opt(histogramColumn) match {
          case Some(hc) =>
            def need[T](x: Param[T], what: String): T = opt(x).getOrElse(
              throw new IllegalArgumentException(
                s"profile ${c.name}: histogram needs $what '${x.name}'"))
            (Map("out" -> graft.scale.Profile.histogram(one(), hc,
              need(buckets, "integer"), need(lo, "number"), need(hi, "number"))), None)
          case None =>
            (Map("out" -> graft.scale.Profile.profile(one(), b(columns),
              approx = b(approx))), None)
        }
      }
    },
    {
      val watermark = req("watermark", Kind.str, "late-data horizon, e.g. '10 minutes'")
      ComponentDef("streaming_aggregation", "Watermark-bounded windowed aggregation (streaming jobs only)", Seq(
        timeColumn,
        timeUnit.doc("epoch scale when time_column is INT64: seconds | millis | micros | nanos (REQUIRED for integer time columns — the scale is not inferable)"),
        watermark, windowP, slide, sessionGap, groupBy, aggregations), runs = StreamingOnly) { b => import b._
        // Watermark-bounded windowed aggregation, the streaming twin of the
        // batch `aggregation` comp_type: `time_column` is the event-time
        // column (normalized via EventTime when the declared schema carries
        // it as a string — the engine's schema vocabulary travels times as
        // strings, SURVEY §1.2), `watermark` bounds state AND late data,
        // `window` (+ optional `slide`) tumbles/slides, and group_by/
        // aggregations reuse the batch vocabulary (AggregateOp.aggColumn).
        // Window bounds are emitted as STRING columns window_start/
        // window_end so the out-port schema stays declarable. In append
        // mode (file sinks) a window emits once the watermark passes its
        // end — the deterministic drain contract for runOnce.
        val df = one()
        val timeCol = b(timeColumn)
        val aggs = b(aggregations)
        require(aggs.nonEmpty, s"streaming_aggregation ${c.name}: needs aggregations")
        // same event-time normalization as the batch aggregation's
        // time-window path, so a config means one thing in both modes
        val et = df.withColumn(timeCol, graft.util.EventTime.forComponent(
          df.schema, timeCol, opt(timeUnit), s"streaming_aggregation ${c.name}"))
        // window-rule selection + the grouped tail are shared with the
        // batch aggregation component (AggregateOp.windowColumn /
        // .windowed); the stream's only addition is the watermark —
        // with session_gap a session closes when the watermark passes
        // its end
        val winCol = AggregateOp.windowColumn(timeCol, opt(windowP),
          opt(slide), opt(sessionGap), s"streaming_aggregation ${c.name}")
        (Map("out" -> AggregateOp.windowed(
          et.withWatermark(timeCol, b(watermark)), timeCol, winCol, b(groupBy), aggs)), None)
      }
    },
    {
      val watermark = p("watermark", Kind.str, "1 hour", "dedup state horizon")
      val exactOnly = choice("method", Seq("exact"), "only 'exact' is streamable (near-dup families are batch-only)")
      ComponentDef("streaming_dedup", "Watermark-bounded exact dedup (streaming jobs only)", Seq(
        timeColumn, timeUnit, watermark, textColumn, exactOnly), runs = StreamingOnly) { b => import b._
        // Watermark-bounded exact dedup, the streaming twin of the batch
        // `dedup` comp_type: dropDuplicatesWithinWatermark on
        // the normalized text key bounds state by the watermark horizon —
        // a duplicate arriving after the horizon can re-emit, the right
        // trade for continuous ingest. Only method=exact is streamable
        // (the param's one allowed value): the near-dup families
        // (minhash/simhash/ngram/embedding) need a corpus-wide self-join
        // and stay batch-only. The event-time column rides in a temp
        // column so the input schema passes through unchanged (declared
        // schemas travel times as strings).
        val df = one()
        val timeCol = b(timeColumn)
        // the temp columns are added with withColumn, which silently
        // OVERWRITES an existing column of the same name — that would
        // be user data loss at the final drop
        val reservedHit = df.columns.toSet.intersect(Set("__t", "__key"))
        require(reservedHit.isEmpty, s"streaming_dedup ${c.name}: column names " +
          s"${reservedHit.mkString(", ")} are reserved internally")
        val et = df.withColumn("__t", graft.util.EventTime.forComponent(
          df.schema, timeCol, opt(timeUnit), s"streaming_dedup ${c.name}"))
        (Map("out" -> et
          .withColumn("__key", graft.scale.Dedup.exactKey(col(b(textColumn))))
          .withWatermark("__t", b(watermark))
          .dropDuplicatesWithinWatermark("__key")
          .drop("__key", "__t")), None)
      }
    }
  ) ++ {
    val readEntity = p("entity_name", Kind.str, "table to read (or use 'query')")
    val query = p("query", Kind.str, "SQL text; named :params bind from 'params'")
    val params = p("params", Kind.scalarMap, Map.empty[String, Any], "named query parameter values")
    val partitionColumn = p("partition_column", Kind.str, "numeric column for partitioned parallel read")
    // bounds read FULL-RANGE: bigint PK ranges are the main use case for
    // partitioned reads, and a 32-bit read would reject a 3e9 upper_bound
    val lowerBound = p("lower_bound", Kind.long, "partition column min")
    val upperBound = p("upper_bound", Kind.long, "partition column max")
    val numPartitions = p("num_partitions", Kind.int, 4, "parallel read partitions")
    val whereConditions = p("where_conditions", Kind.strs, Nil, "UPDATE-mode where clauses")
    val rowBatchSize = p("row_batch_size", Kind.int, 1000, "JDBC batch size")
    Seq("mariadb", "postgresql", "sqlserver", "jdbc").flatMap { db =>
      Seq(
        ComponentDef(s"read_$db", s"Read from $db via JDBC (table or query)", Seq(
          url, context, readEntity, query, params, partitionColumn, lowerBound,
          upperBound, numPartitions) ++ jdbcCommon, source) { b => import b._
          // reference: arbitrary query or entity_name, mariadb_read.py:17-70;
          // partitioned-read knobs are the Spark-side scale upgrade
          val partition = opt(partitionColumn).map { pc =>
            // bounds are REQUIRED with partition_column: the old 0/1
            // default made Spark clamp numPartitions to upper-lower = 1,
            // silently collapsing the read the user explicitly asked to
            // parallelize into one sequential connection
            def bound(x: Param[Long]): Long = opt(x).getOrElse(
              throw new IllegalArgumentException(
                s"${c.name}: partition_column needs explicit " +
                  "lower_bound/upper_bound (without them the partitioned " +
                  s"read degrades to ONE partition); missing '${x.name}'"))
            JdbcIO.PartitionSpec(pc, bound(lowerBound), bound(upperBound),
              b(numPartitions))
          }
          val (jdbcUrl, credOpts) = resolveJdbc(b, jdbcDialect(b))
          // named :params bind into the query engine-side (mariadb_read.py:26-67)
          val bind = b(params)
          val sqlText = opt(query).map(q =>
            if (bind.isEmpty) q else JdbcIO.bindParams(q, bind))
          (Map("out" -> JdbcIO.read(spark, jdbcUrl,
            table = opt(readEntity), query = sqlText,
            partition = partition,
            options = credOpts ++ b(jdbcOptions))), None)
        },
        ComponentDef(s"write_$db", s"Write to $db via JDBC", Seq(
          url, context, entityName.doc("target table"),
          ifExists.doc("insert | upsert | truncate | update"), keyFields,
          whereConditions, rowBatchSize) ++ jdbcCommon, sink) { b => import b._
          val df = one()
          val sqlDialect = jdbcDialect(b)
          val mode = JdbcIO.WriteMode.fromName(b(ifExists))
          val (jdbcUrl, credOpts) = resolveJdbc(b, sqlDialect)
          val entity = b(entityName)
          val opts = credOpts ++ b(jdbcOptions)
          (Map("out" -> df), Some(() =>
            JdbcIO.write(df, jdbcUrl, entity, mode, sqlDialect, b(keyFields),
              b(whereConditions), b(rowBatchSize), opts)))
        })
    }
  }

  val byName: Map[String, ComponentDef] = all.map(d => d.name -> d).toMap
}
