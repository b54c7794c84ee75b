package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.config.JobConfig._
import graft.io.{CsvIO, JdbcIO, JsonIO}
import graft.ops._
import graft.schema.FieldDef

/** One declared parameter of a comp_type: what GET /schemas documents
  * and what validation accepts as a top-level component key. */
final case class Param(name: String, tpe: String, required: Boolean, desc: String)

final case class PortSpec(name: String, required: Boolean, multi: Boolean)

/** A comp_type's port contract for one configuration. `multi`=true on an
  * out port allows fan-out to many edges; on an in port, fan-in of many. */
final case class Ports(in: Seq[PortSpec], out: Seq[PortSpec])

/** `of` maps a configuration to its ports; `note` explains contracts that
  * depend on params (the /full view renders `of` on an empty config). */
final case class PortContract(of: ComponentSpec => Ports, note: Option[String] = None)

/** Which folds run a comp_type: the batch fold (JobGraph), the streaming
  * fold (StreamingJobs), or both with the same build. */
sealed abstract class Runs(val batch: Boolean, val streaming: Boolean)
object Runs {
  case object BatchOnly extends Runs(batch = true, streaming = false)
  case object Both extends Runs(batch = true, streaming = true)
  case object StreamingOnly extends Runs(batch = false, streaming = true)
}

/** What a build sees: the session, its component, the frames on each in
  * port, and the whole job's components (read_table checks them). */
final class BuildCtx(val spark: SparkSession, val c: ComponentSpec,
                     val in: Map[String, Seq[DataFrame]],
                     val allSpecs: Seq[ComponentSpec]) {
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
}

/** One comp_type, defined once: its doc and params (served by GET
  * /schemas and checked by validation), its port contract, where it runs,
  * and its build — the out frame per port plus, for sinks, the deferred
  * write. The streaming fold runs the same build on streaming frames
  * (sources and sinks aside, which StreamingJobs maps to readStream /
  * writeStream). */
final case class ComponentDef(name: String, doc: String, params: Seq[Param],
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

  private def p(name: String, tpe: String, desc: String) = Param(name, tpe, required = false, desc)
  private def req(name: String, tpe: String, desc: String) = Param(name, tpe, required = true, desc)

  private val filepath = req("filepath", "string", "path of the file to read/write")

  /** The wiring-level fields every component carries (JobConfig.
    * parseComponent) — the engine's analogue of the reference's
    * GUI-hidden base fields (routes/schemas are `used_in_table=False` on
    * the reference's Component model, served only by the /hidden and
    * /full views, schemas.py:442-479). */
  val baseFields: Seq[Param] = Seq(
    req("name", "string", "unique component name within the job"),
    req("comp_type", "string", "component type (see /schemas/component_types)"),
    p("routes", "object", "{out_port: [{to, in_port}] | \"component\" | [\"component\"]} — downstream wiring"),
    p("in_port_schemas", "object", "{in_port: {fields: [FieldDef]}} — required for every used in port"),
    p("out_port_schemas", "object", "{out_port: {fields: [FieldDef]}} — required for every routed out port"),
    p("extra_input_ports", "array", "additional declared in-port names (sql/schema_mapping fan-in)"),
    p("extra_output_ports", "array", "additional declared out-port names (split fan-out)"))

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
      if (c.has("splits")) parseSplits(c).map(s => PortSpec(s._1, required = false, multi = true))
      else Nil),
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
      val declared = (parseMapRules(c).keySet ++ parseJoinPlan(c).map(_.outputPort).toSet ++
        c.extraOutputPorts).toSeq
      val exposed = if (declared.nonEmpty) declared else Seq("out")
      Ports(declaredIns(c), exposed.sorted.map(PortSpec(_, required = false, multi = true)))
    },
    Some("in ports from in_port_schemas/extra_input_ports (default 'in'); " +
      "out ports from rules_by_dest keys / join_plan output_ports (default 'out')"))
  private val sqlPorts = PortContract(c => Ports(declaredIns(c), Seq(out1)),
    Some("in ports from in_port_schemas/extra_input_ports (default 'in')"))
  private val similarityPorts = PortContract(
    c => Ports(singles(c.params \ "method" match {
      case org.json4s.JString("ivf")       => Seq("corpus", "centroids", "query")
      case org.json4s.JString("ivf_index") => Seq("centroids", "query")
      case _                               => Seq("corpus", "queries")
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
  private def resolveJdbc(c: ComponentSpec, dialect: JdbcIO.Dialect)
      : (String, Map[String, String]) =
    c.str("url") match {
      case Some(u) => (u, Map.empty)
      case None =>
        val ctx = c.str("context").getOrElse(throw new IllegalArgumentException(
          s"component ${c.name}: jdbc components need 'url' or 'context'"))
        val creds = graft.runtime.Contexts.resolve(ctx, c.str("environment"))
        (JdbcIO.urlFor(dialect, creds), JdbcIO.credentialOptions(dialect, creds))
    }

  /** Explicit `dialect`, else the comp_type's family (jdbc = derby). */
  private def jdbcDialect(c: ComponentSpec): JdbcIO.Dialect =
    JdbcIO.Dialect.fromName(c.str("dialect").getOrElse(
      c.compType.dropWhile(_ != '_').tail match {
        case "jdbc" => "derby"
        case d      => d
      }))

  /** Params every JDBC read/write face reads besides its own list. */
  private val jdbcCommon = Seq(
    p("dialect", "string", "SQL dialect: mariadb | postgresql | sqlserver | derby; default from the comp_type (jdbc = derby)"),
    p("environment", "string", "with context: environment whose credentials resolve, default EXECUTION_ENV, then the context's default"),
    p("options", "object", "extra Spark JDBC options, string-valued (e.g. {\"fetchsize\": \"1000\"})"))

  /** Serializes the sql component's view-register → analyze → drop
    * critical section (temp views are session-global). */
  private val sqlViewLock = new Object

  // ------------------------------------------------------------ registry

  /** Every comp_type, in GET /schemas order. */
  val all: Seq[ComponentDef] = Seq(
    ComponentDef("read_csv", "Read a CSV file as all-string columns", Seq(
      filepath, p("separator", "string", "field delimiter, default ','"),
      p("multiline", "boolean", "quote-aware whole-record parse (reads back write_csv output whose cells carry embedded newlines); default false = line-splittable parallel parse")), source, runs = Both) { b => import b._
      // multiline=false (default) = reference parity, line-splittable
      // parallel parse; true = quote-aware whole-record parse, the
      // knob that reads back write_csv output whose cells carry
      // embedded newlines (the writer quotes them across physical
      // lines, which a line-based parse splits into corrupt rows)
      (Map("out" -> CsvIO.read(spark, c.reqStr("filepath"),
        c.str("separator").getOrElse(","),
        multiLine = c.bool("multiline", default = false))), None)
    },
    ComponentDef("write_csv", "Write a CSV file", Seq(
      filepath, p("separator", "string", "field delimiter, default ','"),
      p("single_file", "boolean", "write one file (true, default) or a parquet-style directory of parts"),
      p("append", "boolean", "append rows under the existing header")), sink, runs = Both) { b => import b._
      val df = one()
      val path = c.reqStr("filepath")
      val sep = c.str("separator").getOrElse(",")
      (Map("out" -> df), Some(() =>
        CsvIO.write(df, path, sep, singleFile = c.bool("single_file", true),
          append = c.bool("append", false))))
    },
    ComponentDef("read_json", "Read JSON: array, NDJSON, or gzip of either", Seq(
      filepath,
      p("format", "string", "'ndjson' or 'array', accepted for symmetry with write_json; the layout follows the path: .ndjson/.jsonl (optionally .gz) read as NDJSON, anything else as an array/object document")), source, runs = Both) { b => import b._
      val path = c.reqStr("filepath")
      val schema = c.outPortSchemas.get("out").map(FieldDef.toStructType)
      val df =
        if (JsonIO.isNdjsonPath(path) && schema.isDefined)
          JsonIO.readNdjsonLenient(spark, path, schema.get)
        else JsonIO.read(spark, path, schema,
          multiLine = !JsonIO.isNdjsonPath(path))
      (Map("out" -> df), None)
    },
    ComponentDef("write_json", "Write JSON (NDJSON or array format)", Seq(
      filepath,
      p("format", "string", "'ndjson' (default) or 'array' (pretty-printed JSON array)"),
      p("append", "boolean", "append rows to an existing file instead of overwriting"),
      p("gzip", "boolean", "ndjson only: gzip-compress the part files, default false (exclusive with append)"),
      p("single_file", "boolean", "ndjson only: write one part file, default false (exclusive with append)")), sink, runs = Both) { b => import b._
      val df = one()
      val path = c.reqStr("filepath")
      // default stays NDJSON (Spark's native part-file layout); "array"
      // opts into the reference's single-file indent-2 array format
      val format = c.str("format").getOrElse("ndjson")
      val append = c.bool("append", false)
      // the append and array paths take neither knob — accepting them
      // silently would drop the user's compression/layout request on
      // the floor (the loud-exclusivity convention, like sample's
      // rate_column). single_file with array is redundant but honest
      // (the array format IS one file), so only gzip is rejected there.
      require(!append || (!c.bool("gzip", false) && !c.bool("single_file", false)),
        s"write_json ${c.name}: append is exclusive with gzip/single_file " +
          "(the append path re-reads and rewrites the target in its own layout)")
      require(format != "array" || !c.bool("gzip", false),
        s"write_json ${c.name}: format=array does not support gzip")
      (Map("out" -> df), Some(() => format match {
        case "array" => JsonIO.writeArray(df, path, append)
        case "ndjson" if append => JsonIO.appendNdjson(df, path)
        case "ndjson" => JsonIO.write(df, path, gzip = c.bool("gzip", false),
          singleFile = c.bool("single_file", false))
        case other => throw new IllegalArgumentException(
          s"unknown json format: $other")
      }))
    },
    ComponentDef("read_parquet", "Read a parquet file or directory", Seq(filepath,
      p("merge_schema", "boolean", "schema-evolution read: merge every file's footer into the union schema (columns added by newer files surface as nulls in older rows); default false — single-footer inference")), source, runs = Both) { b => import b._
      // ParquetIO caches inferred schemas (listing-fingerprint
      // invalidated) — repeated builds over the same inputs skip the
      // ~70 ms footer-inference constant (tools/JobPhaseProbe).
      // merge_schema=true opts into schema-evolution reads (a dataset
      // whose newer files added columns): Spark merges ALL footers
      // into the union schema — a per-file pass worth paying only
      // when files genuinely disagree, so it is explicit, and it
      // bypasses the single-footer cache.
      (Map("out" ->
        (if (c.bool("merge_schema", false))
          spark.read.option("mergeSchema", "true").parquet(c.reqStr("filepath"))
        else graft.io.ParquetIO.read(spark, c.reqStr("filepath")))), None)
    },
    ComponentDef("write_parquet", "Write parquet", Seq(filepath,
      p("partition_by", "array", "Hive-style partition columns (directory layout)"),
      p("coalesce", "integer", "shrink to N output partitions before writing (small-files control for dimension-sized outputs)"),
      p("sort_by", "array", "data-skipping layout: range-partition + sort on these keys so each file carries a disjoint range and min/max stats skip files (high-cardinality keys that can't be directories); exclusive with coalesce"),
      p("files", "integer", "range-partition count for sort_by, default = session shuffle partitions"),
      p("max_records_per_file", "integer", "split each task's output at this row cap — bounded training shards; composes with partition_by/sort_by (splitting a sorted run keeps ranges disjoint)")), sink, runs = Both) { b => import b._
      val df = one()
      val path = c.reqStr("filepath")
      // partition_by: Hive-style directory partitioning — the 100 TB
      // layout lever (a reader filtering on a partition column scans
      // only its directories: PartitionFilters, not data IO). Beyond
      // the reference's surface, which has no partitioned sinks.
      val parts = c.strSeqParam("partition_by")
      // coalesce: small-files control for dimension-sized outputs (a
      // 32-partition write of a 5-row frame is 32 tiny files a 100 TB
      // pipeline then pays to re-list and re-open downstream)
      val coalesceTo = c.intOpt("coalesce")
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
      val sortBy = c.strSeqParam("sort_by")
      val files = c.intOpt("files")
      require(sortBy.nonEmpty || files.isEmpty,
        s"write_parquet ${c.name}: 'files' only applies with 'sort_by'")
      require(sortBy.isEmpty || coalesceTo.isEmpty,
        s"write_parquet ${c.name}: sort_by is exclusive with coalesce " +
          "(a post-sort coalesce would merge the disjoint ranges back)")
      files.foreach(n => require(n >= 1,
        s"write_parquet ${c.name}: files must be >= 1, got $n"))
      // max_records_per_file: the output-SHARD size lever (training
      // loaders want bounded shards; a 10 B-row partition written as
      // one file defeats any downstream parallelism). Spark splits
      // each task's output at the cap — composes with partition_by
      // and sort_by (splitting a sorted run keeps ranges disjoint).
      val maxRecords = c.longOpt("max_records_per_file")
      maxRecords.foreach(n => require(n >= 1,
        s"write_parquet ${c.name}: max_records_per_file must be >= 1, got $n"))
      (Map("out" -> df), Some(() => {
        val src =
          if (sortBy.nonEmpty) {
            val keys = sortBy.map(col)
            val ranged = files
              .map(n => df.repartitionByRange(n, keys: _*))
              .getOrElse(df.repartitionByRange(keys: _*))
            ranged.sortWithinPartitions(keys: _*)
          } else coalesceTo.map(df.coalesce).getOrElse(df)
        val w0 = src.write.mode("overwrite")
        val w = maxRecords.map(n => w0.option("maxRecordsPerFile", n))
          .getOrElse(w0)
        (if (parts.nonEmpty) w.partitionBy(parts: _*) else w).parquet(path)
      }))
    },
    ComponentDef("read_orc", "Read an ORC file or directory (vectorized, pruned, pushdown like parquet)", Seq(filepath), source) { b => import b._
      (Map("out" -> graft.io.OrcIO.read(spark, c.reqStr("filepath"))), None)
    },
    ComponentDef("write_orc", "Write ORC", Seq(filepath,
      p("partition_by", "array", "Hive-style partition columns (directory layout)"),
      p("coalesce", "integer", "shrink to N output partitions before writing (small-files control)")), sink) { b => import b._
      // ORC sink with the parquet sink's layout levers (partition_by,
      // coalesce) — see OrcIO's scaladoc for the format's scale notes
      val df = one()
      val path = c.reqStr("filepath")
      val parts = c.strSeqParam("partition_by")
      val coalesceTo = c.intOpt("coalesce")
      coalesceTo.foreach(n => require(n >= 1,
        s"write_orc ${c.name}: coalesce must be >= 1, got $n"))
      (Map("out" -> df), Some(() =>
        graft.io.OrcIO.write(df, path, parts, coalesceTo)))
    },
    ComponentDef("read_xml", "Read XML rows (@attr/#text conventions)", Seq(
      filepath, p("record_tag", "string", "element name of one record, default 'record'")), source) { b => import b._
      (Map("out" -> graft.io.XmlIO.read(spark, c.reqStr("filepath"),
        c.str("record_tag").getOrElse("record"))), None)
    },
    ComponentDef("write_xml", "Write XML rows", Seq(
      filepath, p("root_tag", "string", "document root element, default 'root'"),
      p("record_tag", "string", "per-record element, default 'record'"),
      p("append", "boolean", "insert records into the existing document"),
      p("single_file", "boolean", "write one part file (true, default) or a directory of parts")), sink) { b => import b._
      val df = one()
      val path = c.reqStr("filepath")
      val root = c.str("root_tag").getOrElse("root")
      val rec = c.str("record_tag").getOrElse("record")
      (Map("out" -> df), Some(() =>
        graft.io.XmlIO.write(df, path, root, rec,
          singleFile = c.bool("single_file", true),
          append = c.bool("append", false))))
    },
    ComponentDef("read_excel", "Read an xlsx sheet (header row + all-string cells)", Seq(
      filepath, p("sheet_name", "string", "sheet to read, default first")), source) { b => import b._
      (Map("out" -> graft.io.ExcelIO.read(spark, c.reqStr("filepath"),
        c.str("sheet_name"))), None)
    },
    ComponentDef("write_excel", "Write an xlsx sheet", Seq(
      filepath, p("sheet_name", "string", "sheet name, default 'Sheet1'"),
      p("append", "boolean", "append rows under the existing header")), sink) { b => import b._
      val df = one()
      val path = c.reqStr("filepath")
      val sheet = c.str("sheet_name").getOrElse("Sheet1")
      (Map("out" -> df), Some(() =>
        graft.io.ExcelIO.write(df, path, sheet, append = c.bool("append", false))))
    },
    ComponentDef("read_mongodb", "Read a document collection with find() pushdown", Seq(
      req("store", "string", "store name (connection seam)"),
      req("entity_name", "string", "collection name"),
      p("query_filter", "object", "top-level equality filter; values keep their JSON types"),
      p("sort", "array", "[[field, 1|-1], ...]"),
      p("skip", "integer", "documents to skip"),
      p("limit", "integer", "max documents"),
      p("split_key", "string", "key whose split points range-partition the read (one indexed range scan per task; applies when there is no sort/skip/limit)")), source) { b => import b._
      val schema = c.outPortSchemas.getOrElse("out",
        throw new IllegalArgumentException(s"read_mongodb ${c.name}: needs out schema"))
      val sort = (c.params \ "sort") match {
        case org.json4s.JArray(items) => items.collect {
          case org.json4s.JArray(List(org.json4s.JString(f), org.json4s.JInt(d))) =>
            (f, d.toInt)
        }
        case _ => Nil
      }
      (Map("out" -> graft.io.MongoIO.read(spark,
        graft.io.MongoIO.InMemory(c.reqStr("store")), c.reqStr("entity_name"),
        schema, filter = c.scalarMapParam("query_filter"), sort = sort,
        skip = c.int("skip", 0),
        limit = if (c.int("limit", -1) >= 0) Some(c.int("limit", -1)) else None,
        splitKey = c.str("split_key"))), None)
    },
    ComponentDef("write_mongodb", "Write documents: insert/upsert/update/truncate", Seq(
      req("store", "string", "store name (connection seam)"),
      req("entity_name", "string", "collection name"),
      p("if_exists", "string", "insert (default) | upsert | update | truncate"),
      p("key_fields", "array", "match keys for upsert/update"),
      p("match_filter", "object", "explicit UPDATE filter; overrides key_fields"),
      p("update_fields", "array", "restrict $set to these fields")), sink) { b => import b._
      val df = one()
      val factory = graft.io.MongoIO.InMemory(c.reqStr("store"))
      val entity = c.reqStr("entity_name")
      val mode = c.str("if_exists").getOrElse("insert")
      val keys = c.strSeqParam("key_fields")
      val matchFilter = c.scalarMapParam("match_filter")
      val updateFields = c.strSeqParam("update_fields")
      (Map("out" -> df), Some(() =>
        graft.io.MongoIO.write(df, factory, entity, mode, keys,
          matchFilter = matchFilter, updateFields = updateFields)))
    },
    ComponentDef("filter", "Route rows to pass/fail ports by a boolean rule tree", Seq(
      req("rule", "object", "nested {column, operator, value} / {logical_operator, rules} tree")), filterPorts, runs = Both) { b => import b._
      val rule = parseRule(c.params \ "rule")
      (FilterOp(one(), rule), None)
    },
    ComponentDef("aggregation", "Group-by aggregation (count/sum/min/max/mean/median/std/nunique)", Seq(
      p("group_by", "array", "grouping columns; empty = one global row"),
      req("aggregations", "array", "[{src, op, dest}, ...] — src column, aggregate op, output name"),
      p("grouping", "string", "groups (default) | rollup | cube"),
      p("pivot_column", "string", "pivot this column's values into output columns"),
      p("pivot_values", "array", "explicit pivot values (required with pivot_column)"),
      p("time_column", "string", "event-time column: switches to windowed aggregation (batch face of streaming_aggregation)"),
      p("time_unit", "string", "epoch scale when time_column is INT64: seconds | millis | micros | nanos (REQUIRED for integer time columns — same contract as streaming_aggregation)"),
      p("window", "string", "tumbling/sliding window size, e.g. '1 hour' (with time_column)"),
      p("slide", "string", "slide interval; requires window"),
      p("session_gap", "string", "session window gap; exclusive with window/slide"),
      p("salted", "boolean", "two-phase skew-safe aggregate for hot keys (exact results; count/sum/min/max only; exclusive with rollup/cube/pivot/windows), default false"),
      p("salt_factor", "integer", "subkeys per key when salted, default 16"),
      p("watermark", "string", "streaming_aggregation's late-data horizon, accepted so one config runs in both modes; a batch run has no late data and ignores it"))) { b => import b._
      val (groupBy, aggs) = parseAggregations(c)
      // salted is only meaningful on the plain group-by face; the
      // pivot/window branches never read it, so accepting it there
      // would silently drop the skew protection the user asked for
      require(!c.bool("salted", false) ||
        (c.str("pivot_column").isEmpty && c.str("time_column").isEmpty),
        s"aggregation ${c.name}: salted is exclusive with pivot and " +
          "time windows")
      (c.str("pivot_column"), c.str("time_column")) match {
        case (Some(_), Some(_)) => throw new IllegalArgumentException(
          s"aggregation ${c.name}: pivot and time windows are exclusive")
        case (Some(pc), None) =>
          require(c.str("grouping").forall(_ == "groups"),
            s"aggregation ${c.name}: pivot and rollup/cube are exclusive")
          val values = c.scalarSeqParam("pivot_values") // typed: [2023] stays numeric
          (Map("out" -> AggregateOp.pivoted(one(), groupBy, pc, values, aggs)), None)
        // batch time-windowed aggregation (tumbling/sliding/session) —
        // the same window rules as streaming_aggregation, minus the
        // watermark: config-level batch/stream parity
        case (None, Some(tc)) =>
          require(c.str("grouping").forall(_ == "groups"),
            s"aggregation ${c.name}: time windows and rollup/cube are exclusive")
          val winCol = AggregateOp.windowColumn(tc, c.str("window"),
            c.str("slide"), c.str("session_gap"), s"aggregation ${c.name}")
          // same event-time normalization as streaming_aggregation
          // (EventTime.forComponent), so a config with an INT64 epoch
          // time column + time_unit means ONE thing in both modes
          val base = one()
          val et = base.withColumn(tc, graft.util.EventTime.forComponent(
            base.schema, tc, c.str("time_unit"), s"aggregation ${c.name}"))
          (Map("out" -> AggregateOp.windowed(et, tc, winCol, groupBy, aggs)), None)
        case (None, None) =>
          // salted=true opts into the two-phase skew-safe aggregate
          // (scale/Skew.saltedAggregate — exactly equal results for
          // the decomposable count/sum/min/max subset); loud for
          // non-decomposable ops and for grouping sets
          if (c.bool("salted", false)) {
            require(c.str("grouping").forall(_ == "groups"),
              s"aggregation ${c.name}: salted and rollup/cube are exclusive")
            require(groupBy.nonEmpty,
              s"aggregation ${c.name}: salting a global aggregate is meaningless")
            (Map("out" -> graft.scale.Skew.saltedAggregate(one(), groupBy,
              aggs, c.int("salt_factor", 16))), None)
          } else
            (Map("out" -> AggregateOp(one(), groupBy, aggs,
              c.str("grouping").getOrElse("groups"))), None)
      }
    },
    ComponentDef("type_conversion", "Cast columns with raise/null/skip policies", Seq(
      req("rules", "array", "[{column_path, target, on_error}, ...]; nested paths with '*' supported")), runs = Both) { b => import b._
      (Map("out" -> TypeConversionOp(one(), parseCastRules(c))), None)
    },
    ComponentDef("schema_mapping", "Project/rename columns (map mode) or join inputs (join mode)", Seq(
      p("rules_by_dest", "object", "map mode: {dst_port: {dst_path: {src_port, src_path}}}"),
      p("join_plan", "object", "join mode: {steps: [{left_port, right_port, left_on, right_on, how, output_port, broadcast?}]} — broadcast: left|right pins a broadcast-hash plan for a known-small side above Catalyst's auto threshold (results identical; the shuffle of the big side disappears)")), schemaMappingPorts, runs = Both) { b => import b._
      val mapRules = parseMapRules(c)
      val joinSteps = parseJoinPlan(c)
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
    ComponentDef("sql", "Run Spark SQL over the inbound ports (views named <component>_<port>)", Seq(
      req("query", "string", "SQL text; reference inputs as <component>_<port>")), sqlPorts) { b => import b._
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
      val query = c.reqStr("query")
      val names = in.keys.map(p => s"${c.name}_$p").toSeq
      val resolved = sqlViewLock.synchronized {
        in.foreach { case (port, dfs) =>
          dfs.head.createOrReplaceTempView(s"${c.name}_$port")
        }
        try spark.sql(query)
        finally names.foreach(spark.catalog.dropTempView(_))
      }
      (Map("out" -> resolved), None)
    },
    ComponentDef("merge", "Union all inbound branches by column name", Seq(), mergePorts, runs = Both) { b => import b._
      val dfs = in.getOrElse("in", Nil)
      require(dfs.nonEmpty, s"merge ${c.name}: no inputs")
      (Map("merge" -> dfs.reduce(_.unionByName(_))), None)
    },
    ComponentDef("set_op", "Set operation over same-schema ports left/right", Seq(
      req("op", "string",
        "intersect | intersect_all | except | except_all | union_distinct " +
          "(SQL semantics — non-_all variants deduplicate)")), inputs("left", "right")) { b => import b._
      // Set operations over same-schema ports (ops/RelationalOps.setOp;
      // beyond-reference — the reference's only set-ish op is merge).
      (Map("out" -> RelationalOps.setOp(port("left"), port("right"),
        c.reqStr("op"))), None)
    },
    ComponentDef("dedup", "Deduplicate documents: exact, minhash, simhash, ngram, or embedding", Seq(
      p("method", "string", "exact (default) | minhash | simhash | ngram | embedding"),
      p("text_column", "string", "document text column, default 'text'"),
      p("id_column", "string", "unique id column, default 'id'"),
      p("keep_by", "array", "exact only: [[field, 1|-1], ...] quality-aware winner — keep the top row per normalized key under this order (id ascending tiebreak); omitted = lowest id wins. NULL keep_by values sort LAST in both directions (a null field never wins over a row with evidence; matches the oracle's nulls-last default)"),
      p("shingle_n", "integer", "minhash verification shingle width, default 5"),
      p("num_hashes", "integer", "minhash signature width, default 32"),
      p("bands", "integer", "LSH bands: minhash default 16; embedding omitted = solved for the effective rows_per_band (recall-budget rule)"),
      p("threshold", "number", "jaccard threshold: minhash 0.6, ngram 0.5"),
      p("max_hamming", "integer", "simhash distance cap, default 3"),
      p("ngram_n", "integer", "ngram width, default 3"),
      p("max_df", "integer", "ngram stop-phrase document-frequency cap, default 10000"),
      p("vector_column", "string", "embedding column, default 'embedding'"),
      p("sim_threshold", "number", "embedding cosine threshold, default 0.95"),
      p("dim", "integer", "embedding dimension, default 64"),
      p("rows_per_band", "integer", "embedding sign bits per band; omitted = sized from the corpus count (measured lshDepthFor rule)"),
      p("emit", "string", "survivors (default, pairwise drop-id_b) | pairs (near-dup pair table (id_a, id_b, score) for connected_components) | cluster (one min-id survivor per TRANSITIVE component; near-dup methods only)"),
      p("max_iter", "integer", "emit=cluster: connected-components round cap, default 25"),
      p("checkpoint_dir", "string", "emit=cluster: per-round RELIABLE checkpoint directory for the component loop (preemption-safe; superseded rounds' files deleted as it advances); unset = executor-block localCheckpoint. NOTE: Spark's checkpoint directory is a global SparkContext setting — declaring this retargets it for the whole application unless the context already points under this directory"))) { b => import b._
      // beyond-reference components: training-data pipeline operators as
      // first-class declarative citizens
      import graft.scale.Dedup
      val textCol = c.str("text_column").getOrElse("text")
      val idCol = c.str("id_column").getOrElse("id")
      val method = c.str("method").getOrElse("exact")
      // emit=survivors (default) keeps rows under the PAIRWISE drop-id_b
      // rule; emit=pairs exposes the raw near-dup PAIR table (id_a,
      // id_b, score) for downstream clustering; emit=cluster keeps one
      // row (min id) per TRANSITIVE component — what a config author
      // asking for "dedup" almost always wants when chains matter
      // (pairs → connectedComponents → anti-join, all in one call via
      // Dedup.clusterDedup). Pairs only exist for the near-dup
      // families — exact/fingerprint dedup groups keys directly.
      val emit = c.str("emit").getOrElse("survivors")
      require(Set("survivors", "pairs", "cluster").contains(emit),
        s"dedup ${c.name}: emit must be survivors|pairs|cluster, got '$emit'")
      require(emit == "survivors" || Set("minhash", "simhash", "ngram",
        "embedding").contains(method),
        s"dedup ${c.name}: emit=$emit needs a near-dup method " +
          s"(minhash|simhash|ngram|embedding), not '$method'")
      val wantPairs = emit != "survivors"
      // keep_by: quality-aware winner for EXACT groups ("keep the
      // longest/highest-score duplicate"); near-dup methods pick
      // winners pairwise/transitively where a per-group order does
      // not apply — loud rejection, not silent ignore
      val keepBy = graft.config.JobConfig.parseOrderPairs(c, "keep_by",
        s"dedup ${c.name}")
      require(keepBy.isEmpty || method == "exact",
        s"dedup ${c.name}: keep_by applies only to method=exact " +
          "(near-dup winners are pairwise drop-id_b / cluster-minimum)")
      val base = one()
      // the frame cluster-survivors are anti-joined from: the persisted
      // variant when the embedding path persists for its sizing count
      var clusterSrc = base
      val out = method match {
        case "exact" => Dedup.exact(base, textCol, idCol, keepBy)
        case "minhash" =>
          val (sn, k, b) = (c.int("shingle_n", 5), c.int("num_hashes", 32),
            c.int("bands", 16))
          // doubleOpt itself coerces numeric strings (pydantic-lax),
          // so the stringly-typed configs parse through one accessor
          val th = c.doubleOpt("threshold").getOrElse(0.6)
          if (wantPairs)
            Dedup.minhashNearDups(base, textCol, idCol, sn, k, b, th)
          else Dedup.minhashDedup(base, textCol, idCol, sn, k, b, th)
        case "simhash" =>
          val mh = c.int("max_hamming", 3)
          if (wantPairs) Dedup.simhashNearDups(base, textCol, idCol, mh)
          else Dedup.simhashDedup(base, textCol, idCol, mh)
        case "ngram" =>
          val (n, mdf) = (c.int("ngram_n", 3), c.int("max_df", 10000))
          val th = c.doubleOpt("threshold").getOrElse(0.5)
          if (wantPairs)
            Dedup.ngramJaccardPairs(base, textCol, idCol, n, th, mdf)
          else Dedup.ngramDedup(base, textCol, idCol, n, th, mdf)
        case "embedding" =>
          val simThreshold = c.doubleOpt("sim_threshold").getOrElse(0.95)
          // persist BEFORE the sizing count when r must be derived —
          // otherwise the count() action and the dedup itself would
          // each materialize the full upstream DAG (released by
          // BuiltJob.close → OpCaches.drain, like the operators'
          // internal tables)
          val df = if (c.intOpt("rows_per_band").isDefined) base
                   else graft.scale.OpCaches.persist(base)
          clusterSrc = df
          val (bands, r) = JobGraph.embeddingDepth(c.intOpt("bands"),
            c.intOpt("rows_per_band"), simThreshold, df.count())
          val vecCol = c.str("vector_column").getOrElse("embedding")
          if (wantPairs)
            graft.scale.Similarity.embeddingNearDups(df, vecCol, idCol,
              simThreshold = simThreshold, dim = c.int("dim", 64),
              bands = bands, r = r)
          else graft.scale.Similarity.embeddingDedup(df, vecCol, idCol,
            simThreshold = simThreshold, dim = c.int("dim", 64),
            bands = bands, r = r)
        case other => throw new IllegalArgumentException(s"unknown dedup method: $other")
      }
      val result =
        if (emit == "cluster")
          Dedup.clusterDedup(clusterSrc, idCol, out,
            maxIter = c.int("max_iter", 25),
            checkpointDir = c.str("checkpoint_dir").getOrElse(""))
        else out
      (Map("out" -> result), None)
    },
    ComponentDef("hash_split", "Deterministic train/val/test split: md5-bucket of the id routes each row to exactly one named out port (stable across engines/runs; no shuffle)", Seq(
      req("splits", "array", "[{name, fraction}, ...] — out ports are the names; fractions must sum to 1 (honored to 0.01% on the 10,000-bucket grid)"),
      p("id_column", "string", "column hashed for routing, default 'id'")), hashSplitPorts, runs = Both) { b => import b._
      // Deterministic md5-bucket split (RelationalOps.hashSplit): each
      // row routes to exactly one split port; no shuffle, stable across
      // engines/runs — the train/val/test primitive of a training-data
      // pipeline.
      (RelationalOps.hashSplit(one(), c.str("id_column").getOrElse("id"),
        parseSplits(c)), None)
    },
    ComponentDef("sample", "Deterministic seeded Bernoulli sample: keep a row iff md5(seed:id) bucket < rate*10000 (stable across engines/runs/partitionings; one narrow filter, no shuffle). Null ids are kept only at rate 1.0. rate_column switches to the per-row WEIGHTED face: keep probability = the row's own rate clamped into [0,1] (quality-weighted curation; NULL rates drop; raising a rate only ever ADDS rows — the bucket is rate-independent)", Seq(
      p("fraction", "number", "default keep rate in [0, 1], honored to 0.01% on the 10,000-bucket grid (required unless rate_column is set)"),
      p("rate_column", "string", "per-row keep-rate column — exclusive with fraction/strata_column"),
      p("id_column", "string", "column hashed for the keep/drop decision, default 'id'"),
      p("seed", "string", "hash salt, default '' — different seeds draw independent samples, and any seed is independent of hash_split's routing"),
      p("strata_column", "string", "column whose values select per-stratum rates from strata_fractions"),
      p("strata_fractions", "object", "{value: rate} overrides of the default fraction per stratum (downsample dominant strata, keep rare ones); unlisted and NULL strata use 'fraction'")), runs = Both) { b => import b._
      // Deterministic seeded Bernoulli sample (RelationalOps.hashSample):
      // the training-mix primitive — one narrow filter, per-stratum rates,
      // engine-replayable md5 arithmetic. rate_column switches to the
      // per-row WEIGHTED face (hashSampleWeighted): keep probability =
      // the row's own clamped rate — quality-weighted curation.
      c.str("rate_column") match {
        case Some(rc) =>
          require(!c.has("fraction") && !c.has("strata_column"),
            s"sample ${c.name}: rate_column is exclusive with " +
              "fraction/strata_column — the row carries its own rate")
          (Map("out" -> RelationalOps.hashSampleWeighted(one(),
            c.str("id_column").getOrElse("id"), rc,
            c.str("seed").getOrElse(""))), None)
        case None =>
          val (idCol, fraction, seed, strataCol, strata) = parseSample(c)
          (Map("out" -> RelationalOps.hashSample(one(), idCol, fraction, seed,
            strataCol, strata)), None)
      }
    },
    ComponentDef("budget_sample", "Token-budget sample: per `by` mixing group, keep rows in deterministic md5(seed:id) order while the cumulative cost_column total stays <= budget ('keep ~N tokens per source'; one hash exchange + in-partition sort)", Seq(
      req("budget", "integer", "inclusive running-cost ceiling per group"),
      p("id_column", "string", "column hashed for the selection order, default 'id'"),
      p("cost_column", "string", "per-row cost (token/char count; nulls cost 0), default 'n_tokens'"),
      p("by", "array", "mixing-group columns (source, language, shard); empty needs allow_global"),
      p("seed", "string", "hash salt, default '' — independent of sample/shuffle/hash_split draws"),
      p("allow_global", "boolean", "permit the empty-`by` single-partition sort, default false"))) { b => import b._
      // Token-budget sampling (RelationalOps.budgetSample): within each
      // `by` mixing group, rows survive in deterministic md5(seed:id)
      // order until the cumulative cost_column total reaches `budget` —
      // the "keep ~N tokens per source" data-mixing primitive.
      val budget = c.longOpt("budget").getOrElse(
        throw new IllegalArgumentException(
          s"budget_sample ${c.name}: missing integer 'budget'"))
      (Map("out" -> RelationalOps.budgetSample(one(),
        c.str("id_column").getOrElse("id"),
        c.str("cost_column").getOrElse("n_tokens"),
        budget,
        c.strSeqParam("by"),
        c.str("seed").getOrElse(""),
        c.bool("allow_global", false))), None)
    },
    ComponentDef("mix_sample", "Mixture sampling: split total_budget across the weighted sources (per-source budget = floor(weight/Σweights × total_budget)) and keep each source's deterministic md5(seed:id)-order prefix while its cumulative cost_column total stays <= that share — the data-MIXING step ('50% web, 30% code, 20% books'). Sources not named in weights (and NULL sources) are dropped BEFORE the exchange; one narrow isin prefilter + one hash exchange on the source key (budget_sample's plan shape)", Seq(
      req("total_budget", "integer", "inclusive total running-cost ceiling split across the weighted sources (floored shares never overshoot)"),
      req("source_column", "string", "column naming each row's source; values not in weights drop"),
      req("weights", "object", "{source: weight} relative composition (finite, > 0; any scale — normalized internally)"),
      p("id_column", "string", "column hashed for the selection order, default 'id'"),
      p("cost_column", "string", "per-row cost (token/char count; nulls cost 0), default 'n_tokens'"),
      p("seed", "string", "hash salt, default '' — same key strings as budget_sample, independent of sample/shuffle/hash_split draws"))) { b => import b._
      // Mixture sampling (RelationalOps.mixSample): split total_budget
      // across the weighted sources and keep each source's deterministic
      // md5(seed:id)-order prefix under its share — the data-MIXING step
      // ("50% web, 30% code, 20% books") after curation. Unlisted/null
      // sources drop before the exchange.
      val (idCol, costCol, totalBudget, sourceCol, weights, seed) =
        parseMixSample(c)
      (Map("out" -> RelationalOps.mixSample(one(), idCol, costCol,
        totalBudget, sourceCol, weights, seed)), None)
    },
    ComponentDef("embedding_transform", "Embedding-column transforms, both narrow maps: op=normalize appends dest = v/‖v‖ (double array; NULL for a zero vector) + norm_column = ‖v‖ — unit vectors turn cosine into a dot product; op=quantize appends dest = round(v_i/scale) as an int8 array + scale_column = max|v_i|/127 — the 4× storage/bandwidth lever for a float32 embedding column (dequantize as q_i·scale)", Seq(
      p("op", "string", "'normalize' (default) or 'quantize'"),
      p("vector_column", "string", "embedding array column, default 'embedding'"),
      p("dest", "string", "name of the added transformed-vector column, default 'vec_unit' / 'vec_q8' (must not collide)"),
      p("norm_column", "string", "normalize only: name of the added L2-norm column, default 'vec_norm'"),
      p("scale_column", "string", "quantize only: name of the added per-row scale column, default 'vec_scale'")), runs = Both) { b => import b._
      // Embedding-column transforms (Similarity.l2NormalizeVectors /
      // quantizeVectorsInt8): op=normalize appends the unit vector +
      // norm; op=quantize appends the int8 vector + per-row scale (the
      // 4× storage lever). Both narrow maps.
      import graft.scale.Similarity
      val vecCol = c.str("vector_column").getOrElse("embedding")
      val out = c.str("op").getOrElse("normalize") match {
        case "normalize" => Similarity.l2NormalizeVectors(one(), vecCol,
          c.str("dest").getOrElse("vec_unit"),
          c.str("norm_column").getOrElse("vec_norm"))
        case "quantize" => Similarity.quantizeVectorsInt8(one(), vecCol,
          c.str("dest").getOrElse("vec_q8"),
          c.str("scale_column").getOrElse("vec_scale"))
        case other => throw new IllegalArgumentException(
          s"embedding_transform ${c.name}: op must be normalize|quantize, " +
            s"got '$other'")
      }
      (Map("out" -> out), None)
    },
    ComponentDef("pack_units", "Contiguous-fill unit packing: within each `by` group, lay rows out in deterministic md5(seed:id) order and assign unit_column = floor((running-cost)/capacity) — the training shard / context window where the row starts; every unit carries ~capacity cost (a row may straddle a boundary). One hash exchange + in-partition sort (budget_sample's plan shape); the global shard key is (`by` values, unit_column)", Seq(
      req("capacity", "integer", "target cost per unit (>= 1); a unit may overflow by < 1 row"),
      p("id_column", "string", "column hashed for the layout order, default 'id'"),
      p("cost_column", "string", "per-row cost (token/char count; nulls pack free), default 'n_tokens'"),
      p("by", "array", "packing-group columns (source, language, shard); empty needs allow_global"),
      p("seed", "string", "hash salt, default '' — same key strings as budget_sample, independent of sample/shuffle/hash_split draws"),
      p("unit_column", "string", "name of the added unit-id column, default 'unit_id' (must not collide with an input column)"),
      p("allow_global", "boolean", "permit the empty-`by` single-partition sort, default false"))) { b => import b._
      // Contiguous-fill unit packing (RelationalOps.packUnits): assign
      // each row the training shard / context window where it starts
      // under a deterministic md5(seed:id)-order contiguous fill of
      // ~capacity cost per unit — the step after mixing that shapes the
      // corpus into model-sized pieces.
      val capacity = c.longOpt("capacity").getOrElse(
        throw new IllegalArgumentException(
          s"pack_units ${c.name}: missing integer 'capacity'"))
      (Map("out" -> RelationalOps.packUnits(one(),
        c.str("id_column").getOrElse("id"),
        c.str("cost_column").getOrElse("n_tokens"),
        capacity,
        c.strSeqParam("by"),
        c.str("seed").getOrElse(""),
        c.str("unit_column").getOrElse("unit_id"),
        c.bool("allow_global", false))), None)
    },
    ComponentDef("chunk", "Context-window chunking: fan each document out into fixed-size character chunks of `size` with `overlap` characters shared between consecutive chunks (chunk starts 0, size-overlap, … < len; the last chunk may be shorter, none is empty). NULL/empty text emits no chunks. One narrow filter + posexplode in the scan's task — no shuffle", Seq(
      req("size", "integer", "chunk length in characters (>= 1)"),
      p("overlap", "integer", "characters shared between consecutive chunks, in [0, size), default 0"),
      p("text_column", "string", "document text column, default 'text'"),
      p("index_column", "string", "name of the added 0-based chunk index column, default 'chunk_index'"),
      p("chunk_column", "string", "name of the added chunk text column, default 'chunk_text'"),
      p("keep_text", "boolean", "keep the source text column, default false — after chunking the full document is dead weight in every downstream exchange")), runs = Both) { b => import b._
      // Context-window chunking (TextAnalysis.chunk): fan each document
      // out into fixed-size character chunks with overlap — one narrow
      // filter + posexplode in the scan's task, no shuffle. NULL/empty
      // text emits no chunks; keep_text=false drops the source column.
      val size = c.intOpt("size").getOrElse(
        throw new IllegalArgumentException(
          s"chunk ${c.name}: missing integer 'size'"))
      (Map("out" -> graft.scale.TextAnalysis.chunk(one(),
        c.str("text_column").getOrElse("text"),
        size,
        c.int("overlap", 0),
        c.str("index_column").getOrElse("chunk_index"),
        c.str("chunk_column").getOrElse("chunk_text"),
        c.bool("keep_text", false))), None)
    },
    ComponentDef("text_normalize", "Text canonicalization (normalize-before-dedup): lowercase → accent-fold (1:1 translate) → punctuation strip (drop chars that are not unicode letter/digit/whitespace) → whitespace squeeze (runs → one space) → trim, each step opt-in/out, FIXED order so equal flags give equal bytes. Codegen'd narrow map, no shuffle; NULL stays NULL", Seq(
      p("text_column", "string", "column to normalize, default 'text'"),
      p("dest", "string", "land the result in this new column; default overwrites text_column in place"),
      p("lowercase", "boolean", "apply lower(), default true"),
      p("accent_fold", "boolean", "fold accented latin letters to ascii (char-for-char translate; multi-char folds like ß→ss are out of scope), default false"),
      p("strip_punct", "boolean", "drop every char that is not a unicode letter, digit, or whitespace, default false"),
      p("squeeze_ws", "boolean", "collapse whitespace runs to one space, default true")), runs = Both) { b => import b._
      // Text canonicalization (TextAnalysis.normalizeText): the
      // normalize-before-dedup step — lowercase → accent-fold →
      // punctuation strip → whitespace squeeze → trim, each opt-in/out,
      // fixed order. Codegen'd narrow map.
      (Map("out" -> graft.scale.TextAnalysis.normalizeText(one(),
        c.str("text_column").getOrElse("text"),
        c.str("dest").getOrElse(""),
        c.bool("lowercase", true),
        c.bool("accent_fold", false),
        c.bool("strip_punct", false),
        c.bool("squeeze_ws", true))), None)
    },
    ComponentDef("url_features", "URL decomposition: append <prefix>scheme/host/domain/path parsed from a URL string column — the per-domain quota / blocklist / URL-dedup primitive (chain with group_cap on <prefix>domain for the CCNet-style dominance guard). domain = last two dot-labels of the host (PSL-free heuristic); userinfo/port are stripped from host; non-matching parts are NULL. Codegen'd regexp chains, no shuffle", Seq(
      p("url_column", "string", "URL string column, default 'url'"),
      p("prefix", "string", "output column prefix, default 'url_' (the four output names must not collide with input columns)")), runs = Both) { b => import b._
      // URL decomposition (TextAnalysis.urlFeatures): scheme/host/
      // domain/path columns parsed from a URL string — the per-domain
      // quota / blocklist primitive. Codegen'd regexp chains, no shuffle.
      (Map("out" -> graft.scale.TextAnalysis.urlFeatures(one(),
        c.str("url_column").getOrElse("url"),
        c.str("prefix").getOrElse("url_"))), None)
    },
    ComponentDef("outlier_filter", "Distribution-based outlier filter: keep rows whose numeric `column` sits inside the statistical fences — method=zscore (|v-mean| <= k·stddev, one map-side-combinable aggregate: the 100 TB default) or method=iqr (Tukey fences [q1-k·IQR, q3+k·IQR]; exact percentile buffers group values — set approx=true for the t-digest sketch at scale). Fences per `by` group or global; stats broadcast-join back so the big side never shuffles. NULL values and NULL group keys drop", Seq(
      req("column", "string", "numeric signal column the fences are computed on"),
      p("method", "string", "'zscore' (default) or 'iqr'"),
      p("k", "number", "fence width multiplier (>= 0), default 3.0 (use 1.5 for classic Tukey)"),
      p("by", "array", "compute fences per these group columns (per-source length norms differ); empty = global fences"),
      p("approx", "boolean", "iqr only: use approx_percentile (bounded sketch state) instead of exact percentile, default false"))) { b => import b._
      // Distribution-based outlier filter (Profile.outlierFilter):
      // z-score or Tukey-fence (IQR) quality gate on a numeric signal,
      // optionally per `by` group. Stats aggregate + broadcast join +
      // narrow filter — the big side never shuffles.
      (Map("out" -> graft.scale.Profile.outlierFilter(one(),
        c.reqStr("column"),
        c.str("method").getOrElse("zscore"),
        c.doubleOpt("k").getOrElse(3.0),
        c.strSeqParam("by"),
        c.bool("approx", false))), None)
    },
    ComponentDef("json_extract", "Typed JSON-path extraction from a JSON string column (event props, crawl metadata): each field rule lands one path as a typed column — codegen'd narrow map (get_json_object + cast), missing/uncastable values become NULL", Seq(
      req("fields", "array", "[{path, dest, type?}, ...] — path is JSONPath ('$.k'; bare names normalize), type one of string|integer|float|boolean (default string)"),
      p("column", "string", "JSON string column, default 'props'"),
      p("keep_source", "boolean", "keep the raw JSON column, default true — drop it to keep the widest column out of downstream exchanges")), runs = Both) { b => import b._
      // Typed JSON-path extraction (RelationalOps.jsonExtract): pull
      // fields out of a JSON string column (event props, crawl
      // metadata) as typed columns — codegen'd narrow map, lenient
      // nulls for missing/uncastable values.
      val (column, rules, keepSource) = parseJsonExtract(c)
      (Map("out" -> RelationalOps.jsonExtract(one(), column, rules,
        keepSource)), None)
    },
    ComponentDef("group_cap", "Per-group row cap: keep at most `cap` rows per `by` group ('at most N docs per domain' — the source-dominance guard). order_by keeps the TOP rows under that order (quality cap, id tiebreak); empty order_by draws a seeded uniform md5(seed:id) subset. One hash exchange + in-partition sort (WindowOp's shape)", Seq(
      req("cap", "integer", "max rows kept per group (>= 1)"),
      p("id_column", "string", "deterministic tiebreak / hash key, default 'id'"),
      p("by", "array", "quota-group columns (source, domain, language); empty needs allow_global"),
      p("order_by", "array", "[[field, 1|-1], ...] — keep the top rows under this order; omitted = seeded uniform draw"),
      p("seed", "string", "hash salt for the uniform draw, default '' — independent of sample/shuffle/hash_split hashing"),
      p("allow_global", "boolean", "permit the empty-`by` single-partition rank, default false"))) { b => import b._
      // Per-group row cap (RelationalOps.groupCap): at most `cap` rows
      // per `by` group — the domain/source-quota curation primitive.
      // order_by keeps the top rows under an explicit order (quality
      // cap); empty order_by draws a seeded uniform subset.
      val (idCol, cap, by, orderBy, seed, allowGlobal) = parseGroupCap(c)
      (Map("out" -> RelationalOps.groupCap(one(), idCol, cap, by,
        orderBy, seed, allowGlobal)), None)
    },
    ComponentDef("streaming_group_cap", "Streaming per-group quota (flatMapGroupsWithState): keep the FIRST `cap` rows per `by` group over the stream's lifetime — one Long of state per distinct group, no watermark. The cap is exact across microbatches; the kept subset follows arrival order (streams have no replayable order — use batch group_cap for order-exact curation). STATE GROWS WITH GROUP CARDINALITY AND NEVER EXPIRES: a lifetime quota cannot time out (an expired counter would re-admit rows past the cap), so state is one counter per distinct group ever seen, forever — key on bounded-cardinality columns (source, language, shard), never a per-document id", Seq(
      req("cap", "integer", "max rows emitted per group over the stream's lifetime (>= 1)"),
      p("by", "array", "quota-group columns (bounded-cardinality keys: source, language, shard — state holds one counter per distinct group forever)")), runs = StreamingOnly) { b => import b._
      // Custom-state per-group quota (Streaming.streamingGroupCap —
      // the flatMapGroupsWithState primitive reachable from JSON):
      // keeps the FIRST cap rows per `by` group over the stream's
      // LIFETIME; one Long of state per distinct group, no watermark
      // (a quota is not time-scoped). Unlike batch group_cap the kept
      // subset is arrival-order dependent (streams carry no
      // engine-replayable order) — the CAP itself is exact across
      // microbatches, which is the quota's contract.
      val cap = c.intOpt("cap").getOrElse(
        throw new IllegalArgumentException(
          s"streaming_group_cap ${c.name}: missing integer 'cap'"))
      (Map("out" -> graft.streaming.Streaming.streamingGroupCap(
        one(), c.strSeqParam("by"), cap)), None)
    },
    ComponentDef("top_tokens", "Corpus top-k vocabulary / n-gram stats: the k most frequent lowercase whitespace tokens (n=1, column `token`) or word n-grams counted per POSITION (n>1, column `gram` — a dominating bigram/trigram is navigation chrome or licence boilerplate), with occurrence counts and a deterministic (count desc, gram asc) boundary. Explode → partial count → one shuffle → TakeOrderedAndProject; batch-only (a global top-k over an unbounded stream never finalizes)", Seq(
      req("k", "integer", "number of top entries (> 0)"),
      p("n", "integer", "gram width, default 1 (tokens)"),
      p("text_column", "string", "document text column, default 'text'"),
      p("sample_fraction", "number", "in (0, 1], default 1.0 (exact). Below 1: count grams over a deterministic md5(seed:id) document sample — the corpus-scale path (gram volume is linear in corpus tokens; frequency RANKS converge fast under uniform sampling, and the md5 sample replays bit-exactly on any engine, so the sampled top-k is a stable documented estimate, not a silent cap)"),
      p("sample_id_column", "string", "document id hashed for the sample, default 'doc_id'"),
      p("sample_seed", "string", "sample hash salt, default '' — independent of hash_split/sample seeds"))) { b => import b._
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
      val k = c.intOpt("k").getOrElse(
        throw new IllegalArgumentException(
          s"top_tokens ${c.name}: missing integer 'k'"))
      val fraction = c.doubleOpt("sample_fraction").getOrElse(1.0)
      require(fraction > 0.0 && fraction <= 1.0,
        s"top_tokens ${c.name}: sample_fraction must be in (0, 1], got $fraction")
      val in = one()
      val sampled =
        if (fraction < 1.0)
          graft.ops.RelationalOps.hashSample(in,
            c.str("sample_id_column").getOrElse("doc_id"), fraction,
            c.str("sample_seed").getOrElse(""))
        else in
      (Map("out" -> graft.scale.TextAnalysis.topGrams(sampled,
        c.str("text_column").getOrElse("text"), k, c.int("n", 1))), None)
    },
    ComponentDef("gopher_filter", "Gopher QUALITY rules (Rae et al. 2021 A1.1) as one stateless narrow projection — the complement of text_repetition's Gopher REPETITION signals: word-count bounds, mean-word-length bounds, symbol-to-word ratio (# and ellipses), bullet-start and ellipsis-end line fractions, alphabetic-word fraction, and >= min_stop_hits distinct English stopwords (the, be, to, of, and, that, have, with). Every rule is a boolean over integer counts and IEEE-exact divisions (oracle-replayable; ratios never leave the engine). emit=docs keeps passing rows; emit=flagged appends the per-rule booleans + gopher_pass for threshold tuning. NULL text fails every rule. Stateless, so it also runs incrementally over streams", Seq(
      p("text_column", "string", "document text column, default 'text'"),
      p("emit", "string", "'docs' (default — passing rows only) or 'flagged' (append g_* rule booleans + gopher_pass)"),
      p("min_words", "integer", "word-count lower bound, default 50"),
      p("max_words", "integer", "word-count upper bound, default 100000"),
      p("min_mean_word_len", "number", "mean token length lower bound, default 3.0"),
      p("max_mean_word_len", "number", "mean token length upper bound, default 10.0"),
      p("max_symbol_ratio", "number", "(# + ellipsis occurrences) / words cap, default 0.1"),
      p("max_bullet_ratio", "number", "bullet-start line fraction cap, default 0.9"),
      p("max_ellipsis_ratio", "number", "ellipsis-end line fraction cap, default 0.3"),
      p("min_alpha_ratio", "number", "fraction of words containing a letter floor, default 0.8"),
      p("min_stop_hits", "integer", "distinct Gopher stopwords required, default 2")), runs = Both) { b => import b._
      // Gopher quality rules (TextAnalysis.gopherRules): one narrow
      // boolean projection per document — emit=docs keeps passing rows
      // (the training-pipeline shape), emit=flagged appends the
      // per-rule booleans + gopher_pass for auditing. Stateless, so
      // the streaming fold runs this same build.
      def d(k: String, dflt: Double) = c.doubleOpt(k).getOrElse(dflt)
      val f = c.str("emit").getOrElse("docs") match {
        case "docs" => graft.scale.TextAnalysis.gopherFilter _
        case "flagged" => graft.scale.TextAnalysis.gopherRules _
        case other => throw new IllegalArgumentException(
          s"gopher_filter ${c.name}: emit must be docs|flagged, got '$other'")
      }
      (Map("out" -> f(one(), c.str("text_column").getOrElse("text"),
        c.int("min_words", 50), c.int("max_words", 100000),
        d("min_mean_word_len", 3.0), d("max_mean_word_len", 10.0),
        d("max_symbol_ratio", 0.1), d("max_bullet_ratio", 0.9),
        d("max_ellipsis_ratio", 0.3), d("min_alpha_ratio", 0.8),
        c.int("min_stop_hits", 2))), None)
    },
    ComponentDef("line_dedup", "Corpus-level duplicate-line removal (RefinedWeb/CCNet boilerplate stripping): census the corpus's non-blank lines, call a line hot when it appears byte-exactly in more than max_docs DISTINCT documents (navigation chrome, cookie banners, licence footers), and rewrite every document with its hot lines removed. Blank lines pass through (paragraph structure survives); within-document repetition never promotes a line (per-document census); documents with no surviving lines — including NULL text — drop. The post-cut hot set is tiny and broadcasts (LeftAnti, no exchange on the exploded lines); one hash exchange regroups kept lines per document. strategy=set (identical survivors, spec-pinned) collects the hot set once — bounded by max_hot_lines, loud overflow — and rewrites via one codegen'd narrow remove_in_set projection: no regroup exchange, no join-back, the corpus-scale path after the census", Seq(
      p("text_column", "string", "document text column, default 'text'"),
      p("id_column", "string", "document id column (regroup key), default 'doc_id' — MUST be unique per document under strategy=join (the rewrite regroups and joins back on it; duplicate ids silently merge documents — dedup upstream if ids can collide; strategy=set rewrites per row and tolerates duplicates)"),
      p("max_docs", "integer", "a line in more than this many distinct documents is removed, default 1"),
      p("unit", "string", "'line' (default) or 'paragraph' (blank-line-separated blocks, the C4-style span — catches boilerplate whose internal line breaks vary only at the block level)"),
      p("emit", "string", "'docs' (default — the rewritten documents) or 'hot' (the audit table: hot line + distinct-doc count, what WOULD be stripped — census only, for eyeballing a threshold)"),
      p("strategy", "string", "'join' (default, fully lazy) or 'set' (eager bounded hot-set collect, narrow rewrite) — identical results, spec-pinned"),
      p("max_hot_lines", "integer", "strategy=set driver-collect cap, default 1000000 — overflow fails loudly toward strategy=join"),
      p("broadcast", "boolean", "strategy=join: broadcast the hot-line set, default true — disable when max_docs is low and the corpus dirty enough that the hot set outgrows the driver"))) { b => import b._
      // Corpus-level duplicate-line removal (Dedup.lineDedup): census
      // non-blank lines across documents, lines present in more than
      // max_docs DISTINCT documents are boilerplate and get stripped
      // from every document (blank lines pass through; documents with
      // nothing left drop). The post-cut hot set broadcasts by default
      // — only the regroup-by-id pays an exchange.
      // strategy=set collects the post-cut hot set (bounded, loud
      // overflow) and rewrites via one codegen'd narrow projection —
      // no regroup exchange, no join-back (Dedup.lineDedupSet).
      val (textCol, idCol) = (c.str("text_column").getOrElse("text"),
        c.str("id_column").getOrElse("doc_id"))
      val maxDocs = c.int("max_docs", 1)
      val unit = c.str("unit").getOrElse("line")
      val out = c.str("emit").getOrElse("docs") match {
        // emit=hot: the audit table (line, n_docs) of what WOULD be
        // stripped — census only, no rewrite, strategy ignored
        case "hot" => graft.scale.Dedup.hotLineReport(one(), textCol,
          idCol, maxDocs, unit)
        case "docs" => c.str("strategy").getOrElse("join") match {
          case "join" => graft.scale.Dedup.lineDedup(one(), textCol, idCol,
            maxDocs, c.bool("broadcast", true), unit)
          case "set" => graft.scale.Dedup.lineDedupSet(one(), textCol, idCol,
            maxDocs, c.int("max_hot_lines", graft.scale.Dedup.MaxHotLines),
            unit)
          case other => throw new IllegalArgumentException(
            s"line_dedup ${c.name}: strategy must be join|set, got '$other'")
        }
        case other => throw new IllegalArgumentException(
          s"line_dedup ${c.name}: emit must be docs|hot, got '$other'")
      }
      (Map("out" -> out), None)
    },
    ComponentDef("dedup_against", "Incremental exact dedup: keep only `in`-port rows whose normalized text key (lowercase, whitespace-collapse — the dedup family's exactKey) does NOT appear on the `reference` port — the ingest-time 'drop documents we already have' primitive that avoids re-deduplicating the whole corpus per batch. strategy=join (default, fully lazy): one anti-join, reference broadcasts when small. strategy=bloom (corpus-sized reference): probe a compact reference-key bloom as a codegen'd narrow map and send ONLY might-contain candidates to the exact join — bloom negatives are provably absent and skip the exchange; exactness preserved (a false positive just pays one row's join). NULL-text rows are always kept (a NULL key never equals)", Seq(
      p("strategy", "string", "'join' (default) or 'bloom' — identical results, spec-pinned"),
      p("text_column", "string", "document text column on the in port, default 'text'"),
      p("reference_text_column", "string", "text column on the reference port, default = text_column")), inputs("in", "reference")) { b => import b._
      // Incremental exact dedup (Dedup.exactAgainst): keep only `in`
      // rows whose normalized key is absent from the `reference` port —
      // the ingest-time "drop documents we already have" primitive.
      // One anti-join, no window, no state.
      // strategy=bloom probes a compact reference-key bloom as a narrow
      // map and sends only candidates to the exact join — the
      // corpus-sized-reference path (Dedup.exactAgainstBloom).
      val fn = c.str("strategy").getOrElse("join") match {
        case "join" => graft.scale.Dedup.exactAgainst _
        case "bloom" => graft.scale.Dedup.exactAgainstBloom _
        case other => throw new IllegalArgumentException(
          s"dedup_against ${c.name}: strategy must be join|bloom, got '$other'")
      }
      (Map("out" -> fn(port("in"), port("reference"),
        c.str("text_column").getOrElse("text"),
        c.str("reference_text_column").getOrElse(""))), None)
    },
    ComponentDef("streaming_dedup_against", "Stream-static incremental exact dedup: drop stream rows whose normalized text key already exists in the reference_path parquet corpus — a stateless stream-static LEFT ANTI join (no watermark, no state store; the reference is closed, unlike in-stream streaming_dedup which needs a watermark TTL). strategy=bloom builds a compact key bloom from the static reference at plan time and anti-joins only the stream's might-contain candidates. NULL-text rows pass through", Seq(
      req("reference_path", "string", "parquet path of the existing corpus the stream is deduplicated against"),
      p("strategy", "string", "'join' (default) or 'bloom' — identical results"),
      p("text_column", "string", "document text column on the stream, default 'text'"),
      p("reference_text_column", "string", "text column on the reference, default = text_column")), runs = StreamingOnly) { b => import b._
      // Stream-static incremental exact dedup (Dedup.exactAgainst):
      // the existing corpus comes from reference_path (batch parquet),
      // and the stream anti-joins it statelessly — no watermark
      // needed, the reference is closed (in-stream dedup stays with
      // streaming_dedup's watermark TTL).
      val refDf = graft.io.ParquetIO.read(spark, c.reqStr("reference_path"))
      // strategy=bloom: the bloom build runs eagerly over the STATIC
      // reference at plan time (fine — it is a batch frame); the
      // stream side stays a narrow probe + candidate-only anti-join
      val fn = c.str("strategy").getOrElse("join") match {
        case "join" => graft.scale.Dedup.exactAgainst _
        case "bloom" => graft.scale.Dedup.exactAgainstBloom _
        case other => throw new IllegalArgumentException(
          s"streaming_dedup_against ${c.name}: strategy must be " +
            s"join|bloom, got '$other'")
      }
      (Map("out" -> fn(one(), refDf,
        c.str("text_column").getOrElse("text"),
        c.str("reference_text_column").getOrElse(""))), None)
    },
    ComponentDef("streaming_line_dedup", "Stream-static boilerplate-line strip: remove from every stream document the lines that appear byte-exactly in more than max_docs DISTINCT documents of the reference_path parquet corpus — the hot census comes from the closed reference at plan time (a census over an unbounded stream never finalizes), bounded-collected under max_hot_lines like batch line_dedup strategy=set, then applied as ONE codegen'd narrow remove_in_set projection: no explode, no shuffle, no watermark, no state. Blank lines pass through; documents with nothing left — including NULL text — drop", Seq(
      req("reference_path", "string", "parquet path of the closed corpus whose hot lines define the boilerplate set"),
      p("text_column", "string", "document text column on the stream, default 'text'"),
      p("reference_text_column", "string", "text column on the reference, default = text_column"),
      p("id_column", "string", "document id column on the reference (distinct-doc census key), default 'doc_id'"),
      p("max_docs", "integer", "a line in more than this many distinct reference documents is hot, default 1"),
      p("unit", "string", "'line' (default) or 'paragraph' — same census/rewrite over blank-line-separated blocks"),
      p("max_hot_lines", "integer", "plan-time driver-collect cap, default 1000000 — overflow fails loudly")), runs = StreamingOnly) { b => import b._
      // Stream-static boilerplate-line strip (Dedup.stripHotLines):
      // the hot-line census comes from the reference_path parquet
      // corpus at plan time (a census over an unbounded stream never
      // finalizes), bounded-collected like the batch strategy=set,
      // then applied to the stream as ONE codegen'd narrow
      // projection — no explode, no shuffle, no watermark, no state.
      val refDf = graft.io.ParquetIO.read(spark, c.reqStr("reference_path"))
      val textCol = c.str("text_column").getOrElse("text")
      val unit = c.str("unit").getOrElse("line")
      val hot = graft.scale.Dedup.hotLineSet(refDf,
        c.str("reference_text_column").getOrElse(textCol),
        c.str("id_column").getOrElse("doc_id"),
        c.int("max_docs", 1),
        c.int("max_hot_lines", graft.scale.Dedup.MaxHotLines), unit)
      (Map("out" -> graft.scale.Dedup.stripHotLines(one(), textCol, hot,
        unit)), None)
    },
    ComponentDef("streaming_outlier_filter", "Stream-static outlier gate: keep stream rows whose numeric `column` sits inside fences computed ONCE from the reference_path parquet baseline (an unwindowed aggregate over the stream itself could never finalize) — method=zscore or iqr, global or per `by` group, broadcast onto the stream as a stateless narrow filter (no watermark, no state store). NULL values and NULL group keys drop, matching the batch outlier_filter", Seq(
      req("column", "string", "numeric signal column the fences apply to (must exist on both the stream and the reference)"),
      req("reference_path", "string", "parquet path of the static baseline the fences are computed from"),
      p("method", "string", "'zscore' (default) or 'iqr'"),
      p("k", "number", "fence width multiplier (>= 0), default 3.0"),
      p("by", "array", "compute/apply fences per these group columns; empty = global fences"),
      p("approx", "boolean", "iqr only: approx_percentile on the reference, default false")), runs = StreamingOnly) { b => import b._
      // Stream-static outlier gate (Profile.outlierFilterAgainst):
      // fences come from `reference_path` (a batch parquet baseline —
      // an unwindowed aggregate over the stream itself could never
      // finalize), computed once at plan time and broadcast onto the
      // stream as a stateless narrow filter. No watermark, no state.
      val refDf = graft.io.ParquetIO.read(spark, c.reqStr("reference_path"))
      (Map("out" -> graft.scale.Profile.outlierFilterAgainst(
        one(), refDf,
        c.reqStr("column"),
        c.str("method").getOrElse("zscore"),
        c.doubleOpt("k").getOrElse(3.0),
        c.strSeqParam("by"),
        c.bool("approx", false))), None)
    },
    ComponentDef("shuffle", "Deterministic seeded global shuffle: adds key_column = md5(seed:id) and returns a TOTAL order over it (one range exchange; same row order on any run/engine/partitioning — reproducible training order). Null ids take the fixed md5(seed:) key", Seq(
      p("id_column", "string", "column hashed for the permutation, default 'id'"),
      p("seed", "string", "hash salt, default '' — different seeds draw independent permutations, independent of hash_split/sample hashing"),
      p("key_column", "string", "name of the added order-key column, default 'shuffle_key' (must not collide with an input column)"))) { b => import b._
      // Deterministic seeded global shuffle (RelationalOps.hashShuffle):
      // adds shuffle_key = md5(seed:id) and returns a total order over it
      // — the reproducible-training-order primitive. One range exchange.
      (Map("out" -> RelationalOps.hashShuffle(one(),
        c.str("id_column").getOrElse("id"),
        c.str("seed").getOrElse(""),
        c.str("key_column").getOrElse("shuffle_key"))), None)
    },
    ComponentDef("sort", "ORDER BY / OFFSET / LIMIT over the input (one range exchange; skip compiles to GlobalLimit-with-offset, no global window)", Seq(
      req("sort", "array", "[[field, 1|-1], ...] — include a unique tie-breaking key for deterministic output"),
      p("skip", "integer", "rows to skip after sorting, default 0"),
      p("limit", "integer", "max rows after skip"))) { b => import b._
      // Generic ORDER BY / OFFSET / LIMIT (RelationalOps.findLike): the
      // Mongo-read-shaped sort surface over ANY upstream frame. skip
      // compiles to GlobalLimit-with-offset (no global window); pass a
      // unique tie-breaking key for deterministic output.
      val (keys, skip, limit) = parseSortSpec(c)
      (Map("out" -> RelationalOps.findLike(one(), sort = keys,
        skip = skip, limit = limit)), None)
    },
    ComponentDef("window", "Window functions over PARTITION BY + ORDER BY: row_number/rank/dense_rank/percent_rank/cume_dist/ntile, lag/lead, running sum/min/max/avg/count/first/last — top-n per group composes as window then filter (rank <= n), quality-percentile curation as percent_rank/ntile then filter. One hash exchange on the partition keys", Seq(
      req("functions", "array", "[{fn, src?, offset?, frame_rows?, dest}, ...] — rank family takes no src; lag/lead use offset (default 1); ntile reads its bucket count from offset; ordered aggregates run UNBOUNDED PRECEDING..CURRENT ROW (SQL default frame), unordered span the partition; frame_rows=N switches an ordered aggregate to a trailing ROWS window of the last N rows (moving average/rolling sum)"),
      p("partition_by", "array", "partition keys; empty requires allow_global"),
      p("order_by", "array", "[[field, 1|-1], ...] — required by rank/lag/lead/first/last; include a unique tie-breaker for determinism"),
      p("allow_global", "boolean", "opt into an empty partition_by — the whole input flows through ONE task (small frames only; use sort/shuffle for global order at scale)"))) { b => import b._
      // Declarative window functions (ops/WindowOp.scala): rank /
      // row_number / lag / lead / running aggregates over
      // PARTITION BY + ORDER BY — "top-n per group" composes as
      // window → filter (rank <= n). One hash exchange on the
      // partition keys; empty partition_by needs allow_global.
      val (partitionBy, orderBy, fns) = parseWindowFns(c)
      (Map("out" -> WindowOp(one(), partitionBy, orderBy, fns,
        allowGlobal = c.bool("allow_global", false))), None)
    },
    ComponentDef("connected_components", "Label every pair-table endpoint with the min id reachable from it (transitive dedup clusters)", Seq(
      p("src_column", "string", "edge source column, default 'id_a'"),
      p("dst_column", "string", "edge destination column, default 'id_b'"),
      p("max_iter", "integer", "propagation round cap (rounds are O(log diameter)), default 25"),
      p("check_every", "integer", "convergence-count cadence, default 1 (ScaleProbe-measured: the count is ~21% of a round, so skipping only pays when rounds >> cadence)"),
      p("checkpoint_dir", "string", "set = per-round RELIABLE checkpoint to this directory (survives executor loss — the preemption-safe path; superseded rounds' files are deleted as the loop advances); unset (default) = executor-block localCheckpoint, cheaper but lost with an executor. NOTE: Spark's checkpoint directory is a global SparkContext setting — declaring this retargets it for the whole application unless the context already points under this directory"))) { b => import b._
      // Connected components over a pair/edge table (Dedup
      // .connectedComponents): labels every endpoint with the min id
      // reachable from it — the pair → transitive-cluster step of a
      // dedup pipeline (chain with dedup emit=pairs upstream).
      (Map("out" -> graft.scale.Dedup.connectedComponents(one(),
        c.str("src_column").getOrElse("id_a"),
        c.str("dst_column").getOrElse("id_b"),
        c.int("max_iter", 25),
        c.int("check_every", 1),
        c.str("checkpoint_dir").getOrElse(""))), None)
    },
    ComponentDef("text_analysis", "Token counts, quality ratios, language id", Seq(
      p("text_column", "string", "document text column, default 'text'"),
      p("repetition", "boolean", "append Gopher repetition signals (dup_line_ratio, top_gram, top_gram_ratio, dup_gram_ratio), default false"),
      p("repetition_n", "integer", "word n-gram width for the repetition signals, default 2"),
      p("entropy", "boolean", "append char_entropy — Shannon entropy of the text's UTF-8 bytes in bits/byte (compression-proxy quality signal: prose ~4.0-4.5; base64/padding/binary score far off), default false")), runs = Both) { b => import b._
      val textCol = c.str("text_column").getOrElse("text")
      val base = graft.scale.TextAnalysis.analyze(one(), textCol)
      // repetition=true appends the Gopher repetition signals
      // (dup_line_ratio, top_gram, top_gram_ratio, dup_gram_ratio);
      // entropy=true appends char_entropy (bits/byte compression
      // proxy) — both opt-in so existing jobs' declared output
      // schemas stay valid
      val withRep =
        if (c.bool("repetition", false))
          graft.scale.TextAnalysis.repetitionStats(base, textCol,
            c.int("repetition_n", 2))
        else base
      val out =
        if (c.bool("entropy", false))
          withRep.withColumn("char_entropy",
            graft.scale.TextAnalysis.charEntropy(col(textCol)))
        else withRep
      (Map("out" -> out), None)
    },
    ComponentDef("similarity", "Nearest-neighbor search: exact k-NN join or IVF cell probe", Seq(
      p("method", "string", "knn (default; ports corpus/queries) | ivf (ports corpus/centroids/query) | ivf_index (ports centroids/query over a write_ivf_index layout)"),
      p("index_path", "string", "ivf_index: directory written by write_ivf_index (REQUIRED when method=ivf_index)"),
      p("query_column", "string", "ivf_index: query port's vector column, default 'qvec'"),
      p("query_id", "string", "knn: query id column, default 'id'. ivf_index: if the query port carries this column (default 'query_id'), it is a multi-row BATCH probe — per-query cell ranking, one pruned scan, top-k per query; without it the port must carry exactly one row"),
      p("vector_column", "string", "embedding column, default 'embedding'"),
      p("k", "integer", "neighbors per query, default 10"),
      p("corpus_id", "string", "knn: corpus id column, default 'id'"),
      p("id_column", "string", "ivf: corpus id column, default 'id'"),
      p("nprobe", "integer", "ivf: probed cells, default max(2, cells/8) from the centroid count")), similarityPorts) { b => import b._
      // Approximate/exact nearest-neighbor search as a declarative
      // component, like `dedup` is for the dedup family. method=knn:
      // exact top-k per query row (corpus streamed once, queries
      // broadcast — ports `corpus`, `queries`); method=ivf: cell-probed
      // approximate top-k (ports `corpus`, `centroids` as (cell, cvec),
      // `query` as a one-row (qvec) frame).
      import graft.scale.Similarity
      val vecCol = c.str("vector_column").getOrElse("embedding")
      val k = c.int("k", 10)
      val out = c.str("method").getOrElse("knn") match {
        case "knn" => Similarity.knnJoin(port("corpus"), port("queries"),
          vecCol, c.str("corpus_id").getOrElse("id"),
          c.str("query_id").getOrElse("id"), k)
        case "ivf" =>
          val centroids = port("centroids")
          // explicit nprobe wins; omitted → the IvfProbe-measured
          // default from the cell count (the count() is a tiny action
          // over the centroid table — kcells rows, usually persisted
          // by kmeans_train — and is skipped entirely when pinned)
          val nprobe = c.intOpt("nprobe").getOrElse(
            Similarity.ivfNprobeDefault(centroids.count().toInt))
          Similarity.ivfTopK(port("corpus"), vecCol,
            c.str("id_column").getOrElse("id"), centroids,
            port("query"), k, nprobe = nprobe)
        // probe a PREBUILT write_ivf_index layout: no corpus port — the
        // index at `index_path` is the corpus, and the probed cells
        // prune its directories at plan time. The single query row is
        // collected driver-side (bounded and required to be exactly
        // one row — the same justified exception searchBucketed's doc
        // records for the probe cells).
        case "ivf_index" =>
          require(c.str("index_path").isDefined,
            s"similarity ${c.name}: method=ivf_index needs index_path " +
              "(the directory written by write_ivf_index)")
          val centroids = port("centroids")
          val query = port("query")
          // the query port's vector column: `query_column` param, else
          // `qvec` by convention (documented in ComponentSchemas)
          val qCol = c.str("query_column").getOrElse("qvec")
          require(query.columns.contains(qCol),
            s"similarity ${c.name}: query port has no column '$qCol' " +
              s"(columns: ${query.columns.mkString(", ")}); set query_column")
          val nprobe = c.intOpt("nprobe").getOrElse(
            Similarity.ivfNprobeDefault(centroids.count().toInt))
          val qidCol = c.str("query_id").getOrElse("query_id")
          if (query.columns.contains(qidCol))
            // BATCH probe: a query-id column marks a multi-row query
            // set — per-query cell ranking, one pruned scan, top-k
            // per query (KMeans.searchBucketedMany)
            graft.scale.KMeans.searchBucketedMany(spark,
              c.reqStr("index_path"), vecCol,
              c.str("id_column").getOrElse("id"), centroids, query,
              qidCol, qCol, k, nprobe = nprobe)
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
            graft.scale.KMeans.searchBucketed(spark, c.reqStr("index_path"),
              vecCol, c.str("id_column").getOrElse("id"), centroids, vec,
              k, nprobe = nprobe)
          }
        case other =>
          throw new IllegalArgumentException(s"unknown similarity method: $other")
      }
      (Map("out" -> out), None)
    },
    ComponentDef("pii_redact", "Mask emails/phones/IPv4 in a text column (<EMAIL>/<PHONE>/<IP>) and add n_emails/n_phones/n_ips counts", Seq(
      p("text_column", "string", "column to redact in place, default 'text'")), runs = Both) { b => import b._
      // PII redaction (scale/TextAnalysis.redactPiiWithCounts): masks
      // emails/phones/IPv4 in the text column and adds per-category
      // counts for downstream filtering. Codegen'd regex maps, no
      // shuffle.
      (Map("out" -> graft.scale.TextAnalysis.redactPiiWithCounts(one(),
        c.str("text_column").getOrElse("text"))), None)
    },
    ComponentDef("decontaminate", "Flag/drop corpus docs sharing word n-grams with a benchmark set (ports corpus/benchmark) — the train/test-overlap guard", Seq(
      p("text_column", "string", "text column on both ports, default 'text'"),
      p("id_column", "string", "corpus id column (join strategy), default 'doc_id'"),
      p("ngram_n", "integer", "word n-gram width, default 3"),
      p("min_overlap", "integer", "shared distinct grams to count as contaminated, default 1"),
      p("strategy", "string", "broadcast (default; benchmark grams probed via a codegen'd set, corpus stays a narrow map) | join (ids-only posting join for huge benchmarks) | bloom (sketch prefilter: only candidate docs pay the exact join — the middle path; results exact under all three)"),
      p("emit", "string", "flagged (default; appends n_hits/contaminated) | clean (keeps only uncontaminated rows) | pairs (audit: one (corpus_id, bench_id, n_shared) row per contaminated pair; always the join shape)"),
      p("bench_id_column", "string", "pairs: benchmark id column, default = id_column"),
      p("max_df", "integer", "pairs: corpus-side document-frequency cap on the posting join (stop-gram guard), default 100000 — capped grams leave the per-pair n_shared counts (docs contaminated only through capped grams keep a row with null bench_id, the loud signal the cap fired); the doc-level contamination set itself is never capped")), inputs("corpus", "benchmark")) { b => import b._
      // Benchmark decontamination (scale/Decontaminate.scala): flag or
      // drop corpus docs sharing word n-grams with the `benchmark` port's
      // eval set. emit=flagged appends n_hits/contaminated for auditing;
      // emit=clean (the training-pipeline shape) keeps only clean rows;
      // emit=pairs names the leaking benchmark items per contaminated doc.
      import graft.scale.Decontaminate
      val (textCol, idCol) = (c.str("text_column").getOrElse("text"),
        c.str("id_column").getOrElse("doc_id"))
      val (n, minOv) = (c.int("ngram_n", 3), c.int("min_overlap", 1))
      val strat = c.str("strategy").getOrElse("broadcast")
      val emit = c.str("emit").getOrElse("flagged")
      val out = emit match {
        case "flagged" => Decontaminate.flag(port("corpus"),
          port("benchmark"), textCol, idCol, n, minOv, strat)
        case "clean" => Decontaminate.clean(port("corpus"),
          port("benchmark"), textCol, idCol, n, minOv, strat)
        // the audit face always runs the posting-join shape; a pinned
        // broadcast strategy cannot produce per-benchmark pairs
        case "pairs" =>
          require(c.str("strategy").forall(_ == "join"),
            s"decontaminate ${c.name}: emit=pairs requires the join " +
              "shape (benchmark identity survives only there); drop " +
              "strategy or set strategy=join")
          Decontaminate.pairs(port("corpus"), port("benchmark"),
            textCol, idCol, c.str("bench_id_column").getOrElse(idCol),
            n, minOv, c.int("max_df", Decontaminate.DefaultPairsMaxDf))
        case other => throw new IllegalArgumentException(
          s"decontaminate ${c.name}: emit must be flagged|clean|pairs, got '$other'")
      }
      (Map("out" -> out), None)
    },
    ComponentDef("write_bucketed", "Bucketed external-table sink: tables bucketed+sorted the same way on their join key join with ZERO exchanges (sort-merge over aligned buckets). Data at filepath, metadata in the session catalog for read_table", Seq(
      req("table", "string", "catalog table name (bare identifier) downstream read_table consumes"),
      req("filepath", "string", "external data directory — nothing is written to a warehouse or metastore"),
      req("buckets", "integer", "bucket count; align it across tables meant to join exchange-free"),
      req("bucket_by", "array", "bucket key columns (the join key)"),
      p("sort_by", "array", "in-bucket sort columns — lets the join skip its sort too")), sink) { b => import b._
      // Bucketed external table sink — the co-located-join layout lever:
      // two tables bucketed (and sorted) the same way on their join key
      // join with ZERO exchanges (sort-merge over aligned buckets;
      // ScaleIdiomsSpec pins the plan). Data lands at `filepath` (an
      // EXTERNAL table — nothing is written to the warehouse or a
      // metastore; the in-memory catalog carries only metadata), and the
      // table name is what downstream `read_table` sources consume.
      val df = one()
      val table = c.reqStr("table")
      val path = c.reqStr("filepath")
      val buckets = c.intOpt("buckets").getOrElse(
        throw new IllegalArgumentException(
          s"write_bucketed ${c.name}: missing integer 'buckets'"))
      require(buckets >= 1,
        s"write_bucketed ${c.name}: buckets must be >= 1, got $buckets")
      val by = c.strSeqParam("bucket_by")
      require(by.nonEmpty,
        s"write_bucketed ${c.name}: 'bucket_by' needs at least one column")
      val sortBy = c.strSeqParam("sort_by")
      require(table.matches("[A-Za-z0-9_]+"),
        s"write_bucketed ${c.name}: table must be a bare identifier " +
          s"([A-Za-z0-9_]+), got '$table'")
      (Map("out" -> df), Some(() => {
        spark.sql(s"DROP TABLE IF EXISTS `$table`")
        val w = df.write.mode("overwrite").option("path", path)
          .bucketBy(buckets, by.head, by.tail: _*)
        (if (sortBy.nonEmpty) w.sortBy(sortBy.head, sortBy.tail: _*) else w)
          .saveAsTable(table)
      }))
    },
    ComponentDef("read_table", "Catalog-table source (the read side of write_bucketed): the scan carries the bucket spec, so joins/aggs on the bucket key skip their exchange", Seq(
      req("table", "string", "catalog table name registered by write_bucketed in this session")), source) { b => import b._
      // Catalog-table source, the read side of write_bucketed: the scan
      // carries the table's bucket spec, so joins/aggregations on the
      // bucket key skip their exchange. Resolution is EAGER (build time)
      // while write_bucketed writes at sink time, so reading a table the
      // SAME job stages is rejected up front — it would bind to the
      // previous run's files (or die mid-run when the overwrite drops
      // them); stage and consume in separate jobs.
      val table = c.reqStr("table")
      require(table.matches("[A-Za-z0-9_]+"),
        s"read_table ${c.name}: table must be a bare identifier " +
          s"([A-Za-z0-9_]+), got '$table'")
      // equalsIgnoreCase: Spark's catalog resolves table names
      // case-insensitively under the default caseSensitive=false, so
      // 'Events' staged here WOULD be the table 'events' binds to
      val stagedHere = allSpecs.exists(o => o.compType == "write_bucketed" &&
        o.str("table").exists(_.equalsIgnoreCase(table)))
      require(!stagedHere,
        s"read_table ${c.name}: table '$table' is written by a " +
          "write_bucketed component in this SAME job — read_table binds " +
          "at build time, before any sink runs; stage the table in a " +
          "prior job")
      val df =
        try spark.table(table)
        catch { case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalArgumentException(
            s"read_table ${c.name}: table '$table' is not in the session " +
              s"catalog (stage it with write_bucketed first): ${e.getMessage}")
        }
      (Map("out" -> df), None)
    },
    ComponentDef("write_ivf_index", "Write the corpus partitioned by nearest centroid cell (ports corpus/centroids) — the probe-prunable IVF layout", Seq(
      req("filepath", "string", "index directory (one subdirectory per cell)"),
      p("vector_column", "string", "embedding column, default 'embedding'"),
      p("id_column", "string", "corpus id column, default 'id'")), ivfIndexPorts) { b => import b._
      // IVF index sink (scale/KMeans.indexBucketed): assigns each corpus
      // row to its nearest centroid and writes the corpus partitioned by
      // cell, one file per cell directory — the layout whose probes
      // prune at the file source. Ports `corpus` + `centroids`.
      val (corpus, centroids) = (port("corpus"), port("centroids"))
      val path = c.reqStr("filepath")
      (Map("out" -> corpus), Some(() => graft.scale.KMeans.indexBucketed(
        corpus, c.str("vector_column").getOrElse("embedding"),
        c.str("id_column").getOrElse("id"), centroids, path)))
    },
    ComponentDef("kmeans_train", "Train k-means centroids (cell, cvec) for the ivf similarity method", Seq(
      p("vector_column", "string", "embedding column, default 'embedding'"),
      p("k", "integer", "number of centroids/cells, default ceil(sqrt(n)) from the corpus count"),
      p("iters", "integer", "Lloyd iterations, default 5"))) { b => import b._
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
      val k = c.intOpt("k").getOrElse(
        graft.scale.Similarity.ivfCellsFor(math.max(1L, corpus.count())))
      val centroids = graft.scale.KMeans.train(corpus,
        c.str("vector_column").getOrElse("embedding"),
        k = k, iters = c.int("iters", 5))
      (Map("out" -> graft.scale.OpCaches.persist(centroids)), None)
    },
    ComponentDef("range_join", "Range/interval join: left rows matched to right [start,end] intervals, one-to-many (ports left/right)", Seq(
      req("on", "string", "left-side value/time column the interval must contain (inclusive bounds)"),
      req("start", "string", "right-side interval start column"),
      req("end", "string", "right-side interval end column"),
      p("by", "array", "optional equality keys — REQUIRED at scale unless the interval side is dimension-sized (without keys the right side broadcasts)"),
      p("suffix", "string", "suffix for clashing right columns, default '_r'"),
      p("join_type", "string", "inner (default) | left")), inputs("left", "right")) { b => import b._
      // Range/interval join (ops/RangeJoin.scala): left rows matched to
      // right [start,end] intervals, one-to-many; with `by` keys an
      // equi-join carries the range condition (no cross product), without
      // them the interval side broadcasts.
      (Map("out" -> RangeJoin(port("left"), port("right"),
        c.reqStr("on"), c.reqStr("start"), c.reqStr("end"),
        c.strSeqParam("by"),
        c.str("suffix").getOrElse("_r"),
        c.str("join_type").getOrElse("inner"))), None)
    },
    ComponentDef("asof_join", "As-of join: nearest right row per left row (ports left/right)", Seq(
      req("on", "string", "event-time column present on both sides"),
      req("by", "array", "equality keys"),
      p("suffix", "string", "suffix for clashing right columns, default '_r'"),
      p("direction", "string", "backward (default): latest right at or before | forward: earliest at or after | nearest: closer of the two, ties to backward"),
      p("tolerance", "string", "max match distance as a SQL literal (INTERVAL '1' HOUR for timestamps, a number for numeric times); farther matches become null"),
      p("strategy", "string", "window (default; one shuffle on the by-keys, right side any size) | broadcast (interval-prepared right broadcasts, ZERO shuffle of the left — for corpus-sized left x dimension-sized right)")), inputs("left", "right")) { b => import b._
      // Backward as-of join (ops/AsofJoin.scala): ports `left`/`right`,
      // `on` = event-time column on both sides, `by` = equality keys.
      val by = c.strSeqParam("by")
      require(by.nonEmpty, s"asof_join ${c.name}: needs non-empty 'by' keys")
      // strategy=window (default): union + one window pass — ONE
      // shuffle of left+right on the by-keys; right side any size.
      // strategy=broadcast (AsofJoin.enrichStatic): the right side is
      // prepared into validity intervals and BROADCAST — zero Exchange
      // on the left, the plan to pick when left is corpus-sized and
      // right is a dimension table. Same results (AsofJoinSpec pins
      // both against one model).
      val strategy = c.str("strategy").getOrElse("window")
      require(Set("window", "broadcast").contains(strategy),
        s"asof_join ${c.name}: strategy must be window|broadcast, got '$strategy'")
      val join = if (strategy == "broadcast") AsofJoin.enrichStatic _ else AsofJoin.apply _
      (Map("out" -> join(port("left"), port("right"),
        c.reqStr("on"), by,
        c.str("suffix").getOrElse("_r"),
        c.str("direction").getOrElse("backward"),
        c.str("tolerance"))), None)
    },
    ComponentDef("unpivot", "Unpivot/melt: value columns become (variable, value) rows", Seq(
      req("value_columns", "array", "columns melted into rows (must share a common type)"),
      p("id_columns", "array", "columns kept as row identity"),
      p("var_column", "string", "name of the variable column, default 'variable'"),
      p("value_column", "string", "name of the value column, default 'value'")), runs = Both) { b => import b._
      // Unpivot/melt (RelationalOps.unpivot): value columns become
      // (variable, value) rows next to the id columns.
      val (ids, values, varC, valC) = parseUnpivot(c)
      (Map("out" -> RelationalOps.unpivot(one(), ids, values, varC, valC)), None)
    },
    ComponentDef("profile", "Column-level data profile: count/nulls/distinct/min/max in one scan. histogram_column switches to the distribution face: fixed-width bucket counts (one narrow map + one shuffle over <= buckets keys)", Seq(
      p("columns", "array", "columns to profile, default all"),
      p("approx", "boolean", "HyperLogLog distincts instead of exact (the at-scale path)"),
      p("histogram_column", "string", "numeric column to histogram instead of profiling (requires buckets/lo/hi)"),
      p("buckets", "integer", "histogram bucket count (out-of-range values clamp into the edge buckets; v == hi lands in the top bucket)"),
      p("lo", "number", "histogram domain lower bound (inclusive)"),
      p("hi", "number", "histogram domain upper bound"))) { b => import b._
      // Column-level data profile (scale/Profile.scala): `columns`
      // restricts the profiled set (default all), `approx` swaps exact
      // distinct counts for HyperLogLog at scale.
      // histogram_column switches to the distribution face
      // (Profile.histogram): fixed-width bucket counts with explicit
      // bounds — buckets/lo/hi all required, a defaulted domain would
      // silently mis-bucket
      c.str("histogram_column") match {
        case Some(hc) =>
          def num(k: String): Double = c.doubleOpt(k).getOrElse(
            throw new IllegalArgumentException(
              s"profile ${c.name}: histogram needs number '$k'"))
          val buckets = c.intOpt("buckets").getOrElse(
            throw new IllegalArgumentException(
              s"profile ${c.name}: histogram needs integer 'buckets'"))
          (Map("out" -> graft.scale.Profile.histogram(one(), hc, buckets,
            num("lo"), num("hi"))), None)
        case None =>
          (Map("out" -> graft.scale.Profile.profile(one(),
            c.strSeqParam("columns"), approx = c.bool("approx", false))), None)
      }
    },
    ComponentDef("streaming_aggregation", "Watermark-bounded windowed aggregation (streaming jobs only)", Seq(
      req("time_column", "string", "event-time column (string/timestamp/date parsed; INT64 epochs additionally need time_unit)"),
      p("time_unit", "string", "epoch scale when time_column is INT64: seconds | millis | micros | nanos (REQUIRED for integer time columns — the scale is not inferable)"),
      req("watermark", "string", "late-data horizon, e.g. '10 minutes'"),
      p("window", "string", "tumbling window width (required unless session_gap)"),
      p("slide", "string", "slide interval for overlapping windows"),
      p("session_gap", "string", "session window gap (exclusive with window/slide)"),
      p("group_by", "array", "grouping columns next to the window"),
      req("aggregations", "array", "[{src, op, dest}, ...] — src column, aggregate op, output name")), runs = StreamingOnly) { b => import b._
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
      val timeCol = c.reqStr("time_column")
      val wm = c.reqStr("watermark")
      val (groupBy, aggs) = parseAggregations(c)
      require(aggs.nonEmpty, s"streaming_aggregation ${c.name}: needs aggregations")
      // same event-time normalization as the batch aggregation's
      // time-window path, so a config means one thing in both modes
      val et = df.withColumn(timeCol, graft.util.EventTime.forComponent(
        df.schema, timeCol, c.str("time_unit"), s"streaming_aggregation ${c.name}"))
      // window-rule selection + the grouped tail are shared with the
      // batch aggregation component (AggregateOp.windowColumn /
      // .windowed); the stream's only addition is the watermark —
      // with session_gap a session closes when the watermark passes
      // its end
      val winCol = AggregateOp.windowColumn(timeCol, c.str("window"),
        c.str("slide"), c.str("session_gap"),
        s"streaming_aggregation ${c.name}")
      (Map("out" -> AggregateOp.windowed(
        et.withWatermark(timeCol, wm), timeCol, winCol, groupBy, aggs)), None)
    },
    ComponentDef("streaming_dedup", "Watermark-bounded exact dedup (streaming jobs only)", Seq(
      req("time_column", "string", "event-time column (string/timestamp/date parsed; INT64 epochs additionally need time_unit)"),
      p("time_unit", "string", "epoch scale when time_column is INT64: seconds | millis | micros | nanos (REQUIRED for integer time columns)"),
      p("watermark", "string", "dedup state horizon, default '1 hour'"),
      p("text_column", "string", "document text column, default 'text'"),
      p("method", "string", "only 'exact' is streamable (near-dup families are batch-only)")), runs = StreamingOnly) { b => import b._
      // Watermark-bounded exact dedup, the streaming twin of the batch
      // `dedup` comp_type (ingest-side face of
      // Streaming.streamingExactDedup): dropDuplicatesWithinWatermark on
      // the normalized text key bounds state by the watermark horizon —
      // a duplicate arriving after the horizon can re-emit, the right
      // trade for continuous ingest. Only method=exact is streamable:
      // the near-dup families (minhash/simhash/ngram/embedding) need a
      // corpus-wide self-join and stay batch-only. The event-time column
      // rides in a temp column so the input schema passes through
      // unchanged (declared schemas travel times as strings).
      // method=exact enforced at plan entry
      val df = one()
      val textCol = c.str("text_column").getOrElse("text")
      val timeCol = c.reqStr("time_column")
      val wm = c.str("watermark").getOrElse("1 hour")
      // the temp columns are added with withColumn, which silently
      // OVERWRITES an existing column of the same name — that would
      // be user data loss at the final drop
      val reservedHit = df.columns.toSet.intersect(Set("__t", "__key"))
      require(reservedHit.isEmpty, s"streaming_dedup ${c.name}: column names " +
        s"${reservedHit.mkString(", ")} are reserved internally")
      val et = df.withColumn("__t", graft.util.EventTime.forComponent(
        df.schema, timeCol, c.str("time_unit"), s"streaming_dedup ${c.name}"))
      (Map("out" -> et
        .withColumn("__key", graft.scale.Dedup.exactKey(col(textCol)))
        .withWatermark("__t", wm)
        .dropDuplicatesWithinWatermark("__key")
        .drop("__key", "__t")), None)
    },
    ComponentDef("streaming_decontaminate", "Stream-static benchmark decontamination: flag/drop stream docs sharing word n-grams with a STATIC eval set (streaming jobs only; stateless broadcast probe)", Seq(
      req("benchmark_path", "string", "parquet directory of the STATIC benchmark side — read as a batch frame, its distinct grams broadcast"),
      p("text_column", "string", "text column on both sides, default 'text'"),
      p("ngram_n", "integer", "word n-gram width, default 3"),
      p("min_overlap", "integer", "shared distinct grams to count as contaminated, default 1"),
      p("strategy", "string", "only 'broadcast' is streamable (the join strategy aggregates over the stream)"),
      p("emit", "string", "flagged (default; appends n_hits/contaminated) | clean (keeps only uncontaminated rows)")), runs = StreamingOnly) { b => import b._
      // Stream-static benchmark decontamination (scale/Decontaminate):
      // the eval set comes from `benchmark_path` (a batch parquet dim)
      // and is collected into the broadcast gram probe at plan time, so
      // the streaming corpus stays a stateless narrow map — no
      // watermark, no state store. strategy=join is rejected loudly
      // (its explode + groupBy would aggregate over the unbounded
      // stream); exact parity with the batch component on the same
      // data is pinned in StreamingJobsSpec.
      require(c.str("strategy").forall(_ == "broadcast"),
        s"streaming_decontaminate ${c.name}: only strategy=broadcast " +
          "is streamable — the join strategy aggregates over the stream")
      val benchDf = graft.io.ParquetIO.read(spark, c.reqStr("benchmark_path"))
      val textCol = c.str("text_column").getOrElse("text")
      val (n, minOv) = (c.int("ngram_n", 3), c.int("min_overlap", 1))
      val out = c.str("emit").getOrElse("flagged") match {
        case "flagged" => graft.scale.Decontaminate.flag(
          one(), benchDf, textCol, n = n, minOverlap = minOv)
        case "clean" => graft.scale.Decontaminate.clean(
          one(), benchDf, textCol, n = n, minOverlap = minOv)
        case other => throw new IllegalArgumentException(
          s"streaming_decontaminate ${c.name}: emit must be " +
            s"flagged|clean, got '$other'")
      }
      (Map("out" -> out), None)
    },
    ComponentDef("streaming_range_join", "Stream-static range/interval enrichment: STATIC right [start,end] intervals containing each stream row's value (streaming jobs only; stateless)", Seq(
      req("right_path", "string", "parquet directory of the STATIC interval side — read as a batch frame, not a stream"),
      req("on", "string", "stream-side value/time column the interval must contain (inclusive bounds)"),
      req("start", "string", "right-side interval start column"),
      req("end", "string", "right-side interval end column"),
      p("by", "array", "optional equality keys (without them the interval side broadcasts)"),
      p("suffix", "string", "suffix for clashing right columns, default '_r'"),
      p("join_type", "string", "inner (default) | left")), runs = StreamingOnly) { b => import b._
      // Stream-static range/interval enrichment (ops/RangeJoin): the
      // STATIC right side comes from `right_path` (a parquet interval
      // dimension — calendars, campaigns, config epochs) and joins
      // statelessly: equi-join on the by-keys with the containment
      // condition, or a broadcast nested loop without keys. No
      // watermark, no state store; exact parity with batch range_join
      // on the same data (StreamingJobsSpec).
      val rightDf = graft.io.ParquetIO.read(spark, c.reqStr("right_path"))
      (Map("out" -> RangeJoin(one(), rightDf,
        c.reqStr("on"), c.reqStr("start"), c.reqStr("end"),
        c.strSeqParam("by"),
        c.str("suffix").getOrElse("_r"),
        c.str("join_type").getOrElse("inner"))), None)
    },
    ComponentDef("streaming_asof_join", "Stream-static as-of enrichment: nearest STATIC right row per stream row (streaming jobs only; stateless, right side broadcasts)", Seq(
      req("right_path", "string", "parquet directory of the STATIC right side (dimension table) — read as a batch frame, not a stream"),
      req("on", "string", "event-time column present on both sides"),
      req("by", "array", "equality keys"),
      p("suffix", "string", "suffix for clashing right columns, default '_r'"),
      p("direction", "string", "backward (default) | forward | nearest — same semantics as batch asof_join"),
      p("tolerance", "string", "max match distance as a SQL literal; farther matches become null")), runs = StreamingOnly) { b => import b._
      // Stream-static as-of enrichment (ops/AsofJoin.enrichStatic): the
      // STATIC right side comes from `right_path` (a parquet dimension
      // table read as a batch frame — NOT a stream port), is prepared
      // into per-key validity intervals batch-side, and broadcasts
      // into a stateless row-wise left join — no watermark, no state
      // store, exact parity with the batch asof_join on the same data
      // (StreamingJobsSpec pins it per direction). Static-right-only
      // by design: a stream-stream as-of needs watermark bounds this
      // surface does not declare.
      val rightDf = graft.io.ParquetIO.read(spark, c.reqStr("right_path"))
      (Map("out" -> AsofJoin.enrichStatic(one(), rightDf,
        on = c.reqStr("on"), by = c.strSeqParam("by"),
        suffix = c.str("suffix").getOrElse("_r"),
        direction = c.str("direction").getOrElse("backward"),
        tolerance = c.str("tolerance"))), None)
    }
  ) ++ Seq("mariadb", "postgresql", "sqlserver", "jdbc").flatMap { db =>
    Seq(
      ComponentDef(s"read_$db", s"Read from $db via JDBC (table or query)", Seq(
        p("url", "string", "JDBC url; omit when using a credentials context"),
        p("context", "string", "credentials context id resolved per environment"),
        p("entity_name", "string", "table to read (or use 'query')"),
        p("query", "string", "SQL text; named :params bind from 'params'"),
        p("params", "object", "named query parameter values"),
        p("partition_column", "string", "numeric column for partitioned parallel read"),
        p("lower_bound", "integer", "partition column min"),
        p("upper_bound", "integer", "partition column max"),
        p("num_partitions", "integer", "parallel read partitions, default 4")) ++ jdbcCommon, source) { b => import b._
        // reference: arbitrary query or entity_name, mariadb_read.py:17-70;
        // partitioned-read knobs are the Spark-side scale upgrade
        // bounds read FULL-RANGE: bigint PK ranges are the main use
        // case for partitioned reads, and intOpt's JLong(l).toInt
        // would silently wrap a 3e9 upper_bound negative
        val partition = c.str("partition_column").map { pc =>
          // bounds are REQUIRED with partition_column: the old 0/1
          // default made Spark clamp numPartitions to upper-lower = 1,
          // silently collapsing the read the user explicitly asked to
          // parallelize into one sequential connection
          def bound(k: String): Long = c.longOpt(k).getOrElse(
            throw new IllegalArgumentException(
              s"${c.name}: partition_column needs explicit " +
                "lower_bound/upper_bound (without them the partitioned " +
                s"read degrades to ONE partition); missing '$k'"))
          JdbcIO.PartitionSpec(pc, bound("lower_bound"),
            bound("upper_bound"), c.int("num_partitions", 4))
        }
        val dialect = jdbcDialect(c)
        val (url, credOpts) = resolveJdbc(c, dialect)
        // named :params bind into the query engine-side (mariadb_read.py:26-67)
        val params = c.scalarMapParam("params")
        val query = c.str("query").map(q =>
          if (params.isEmpty) q else JdbcIO.bindParams(q, params))
        (Map("out" -> JdbcIO.read(spark, url,
          table = c.str("entity_name"), query = query,
          partition = partition,
          options = credOpts ++ c.strMapParam("options"))), None)
      },
      ComponentDef(s"write_$db", s"Write to $db via JDBC", Seq(
        p("url", "string", "JDBC url; omit when using a credentials context"),
        p("context", "string", "credentials context id resolved per environment"),
        req("entity_name", "string", "target table"),
        p("if_exists", "string", "insert (default) | upsert | truncate | update"),
        p("key_fields", "array", "conflict keys for upsert/update"),
        p("where_conditions", "array", "UPDATE-mode where clauses"),
        p("row_batch_size", "integer", "JDBC batch size, default 1000")) ++ jdbcCommon, sink) { b => import b._
        val df = one()
        val dialect = jdbcDialect(c)
        val mode = JdbcIO.WriteMode.fromName(c.str("if_exists").getOrElse("insert"))
        val keys = c.strSeqParam("key_fields")
        val where = c.strSeqParam("where_conditions")
        val (url, credOpts) = resolveJdbc(c, dialect)
        val entity = c.reqStr("entity_name")
        val batch = c.int("row_batch_size", 1000)
        val opts = credOpts ++ c.strMapParam("options")
        (Map("out" -> df), Some(() =>
          JdbcIO.write(df, url, entity, mode, dialect, keys, where, batch, opts)))
      })
  }

  val byName: Map[String, ComponentDef] = all.map(d => d.name -> d).toMap
}
