package graft.io

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * JSON source/sink with the reference engine's semantics (reference:
 * src/etl_core/receivers/files/json/json_helper.py:65-151,
 * json_receiver.py:71-317):
 *
 *  - NDJSON by extension `.jsonl`/`.ndjson` (optionally `.gz`; gzip is
 *    transparent — Spark's text/json readers decompress by codec);
 *  - JSON array / single-object files read with multiLine=true;
 *  - LENIENT NDJSON mode skips malformed lines instead of failing
 *    (json_helper.py:79-98) — implemented as a text read + from_json, so
 *    bad lines become nulls that are filtered and counted, all
 *    distributed, nothing driver-side;
 *  - non-dict JSON values are wrapped as {"_value": v}
 *    (json_helper.py:149-151) when the target schema declares `_value`;
 *  - NaN/Infinity are sanitized to null on write (json_helper.py:40-62);
 *  - output is NDJSON part files per partition (json_receiver.py:288-317),
 *    Spark's native layout.
 */
object JsonIO {

  def isNdjsonPath(path: String): Boolean = {
    val p = path.toLowerCase
    p.endsWith(".jsonl") || p.endsWith(".ndjson") ||
      p.endsWith(".jsonl.gz") || p.endsWith(".ndjson.gz")
  }

  /** Strict read: NDJSON or array/object files (by `multiLine`). */
  def read(spark: SparkSession, path: String, schema: Option[StructType] = None,
           multiLine: Boolean = false): DataFrame = {
    val r = spark.read.option("multiLine", multiLine.toString)
    schema.fold(r)(s => r.schema(s)).json(path)
  }

  /**
   * Lenient NDJSON read: malformed lines are dropped (not failed), and a
   * `_malformed` metric column can be observed by the caller via the
   * returned count. Scalar/array lines are wrapped into {"_value": v} when
   * `schema` declares a `_value` field, by re-parsing the raw line inside
   * a synthetic object — pure expressions, fully distributed.
   */
  def readNdjsonLenient(spark: SparkSession, path: String,
                        schema: StructType): DataFrame = {
    val lines = rawLines(spark, path)
    val (parsed, ok) = parseLine(schema)
    val rec = schema.fields.find(_.name == "_value") match {
      case Some(f) =>
        // {"_value": <line>} is a valid JSON object whenever the line is a
        // valid scalar/array — the reference's non-dict wrapping
        val (wrapped, wrapOk) = parseWrapped(f)
        when(ok, parsed).otherwise(
          when(wrapOk, struct(schema.fields.toSeq.map { sf =>
            (if (sf.name == "_value") wrapped.getField("_value")
             else lit(null).cast(sf.dataType)).as(sf.name)
          }: _*)))
      case None => when(ok, parsed)
    }
    lines.select(rec.as("rec")).filter(col("rec").isNotNull).select(col("rec.*"))
  }

  private val Corrupt = "_graft_corrupt"

  /** from_json in PERMISSIVE mode yields an all-null row (not null) for a
    * malformed line, so parse success is detected via a corrupt-record
    * column: null corrupt field ⇔ the line parsed. */
  private def parseLine(schema: StructType): (Column, Column) = {
    val ps = StructType(schema.fields :+ StructField(Corrupt, StringType))
    val parsed = from_json(col("line"), ps, Map("columnNameOfCorruptRecord" -> Corrupt))
    (parsed.dropFields(Corrupt), parsed.getField(Corrupt).isNull)
  }

  private def parseWrapped(f: StructField): (Column, Column) = {
    // wrap in an ARRAY, not an object: the object form
    // {"_value": <line>} accepted any line of the shape
    // '<json-value>, "extra": ...' (e.g. `123, "junk": 5`) because the
    // injected members parse as additional object fields that the
    // schema silently ignores — garbage ingested as _value=123. The
    // array form [<line>] only parses when the line is a
    // comma-separated list of JSON values, and size === 1 then
    // enforces EXACTLY one — json.loads-per-line strictness.
    val arr = from_json(concat(lit("["), col("line"), lit("]")),
      ArrayType(f.dataType, containsNull = true))
    (struct(element_at(arr, 1).as("_value")),
      arr.isNotNull && size(arr) === 1)
  }

  private def rawLines(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)
      .select(trim(col("value")).as("line"))
      .filter(length(col("line")) > 0)

  /** Count of malformed (unparseable, unwrappable) NDJSON lines — the
    * reference's lenient-skip error metric (json_helper.py:90-96). */
  def countMalformed(spark: SparkSession, path: String, schema: StructType): Long = {
    val (_, ok) = parseLine(schema)
    val wrappable = schema.fields.find(_.name == "_value") match {
      case Some(f) => parseWrapped(f)._2
      case None => lit(false)
    }
    rawLines(spark, path).filter(!ok && !wrappable).count()
  }

  /** NaN/±Inf → null in all double/float columns (incl. nested), matching
    * the reference's write-side sanitizer. */
  def sanitizeFloats(df: DataFrame): DataFrame = {
    def fix(c: Column, dt: DataType): Column = dt match {
      case DoubleType | FloatType => when(isnan(c) || abs(c) === Double.PositiveInfinity,
        lit(null).cast(dt)).otherwise(c)
      case st: StructType =>
        // struct(...) is never null: keep NULL structs null instead of
        // rebuilding them into non-null structs of nulls
        when(c.isNull, lit(null)).otherwise(
          struct(st.fields.toSeq.map(f => fix(c.getField(f.name), f.dataType).as(f.name)): _*))
      case at: ArrayType => transform(c, x => fix(x, at.elementType))
      case _ => c
    }
    df.select(df.schema.fields.toSeq.map(f =>
      fix(col(s"`${f.name}`"), f.dataType).as(f.name)): _*)
  }

  /** True when the plan is a narrow tree over leaves (project/filter/
    * generate/union/coalesce shapes — no join, aggregate, sort, window,
    * shuffling repartition, limit): exactly the plans whose `toRdd`
    * finalization under AQE materializes NOTHING (there is no query
    * stage to execute), so probing their partition count is free.
    * Anything wider is conservatively reported non-narrow: its `toRdd`
    * would execute every upstream shuffle/broadcast stage — including a
    * broadcast-join's build side — and the sink's own QueryExecution
    * would then RE-RUN them (the r22 ADVICE finding on the r21 gzip
    * widen probe). Generate (explode) and coalesce are included: both
    * are narrow dependencies with no query stage, and an exploded or
    * coalesced small scan is exactly the under-partitioned shape the
    * widen exists for. Limit stays excluded (GlobalLimit plans a
    * single-partition exchange). A cached relation is a leaf that is
    * not narrow: its `toRdd` builds the cache's own adaptive plan, which
    * runs that plan's shuffle stages as Spark jobs outside any SQL
    * execution, so per-execution accounting would miss them. */
  private def narrowPlan(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
    p match {
      case r: org.apache.spark.sql.catalyst.plans.logical.Repartition =>
        !r.shuffle && narrowPlan(r.child) // coalesce only; repartition(n) shuffles
      case _: org.apache.spark.sql.catalyst.plans.logical.Project |
           _: org.apache.spark.sql.catalyst.plans.logical.Filter |
           _: org.apache.spark.sql.catalyst.plans.logical.Generate |
           _: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias |
           _: org.apache.spark.sql.catalyst.plans.logical.Union =>
        p.children.forall(narrowPlan)
      case _: org.apache.spark.sql.execution.columnar.InMemoryRelation => false
      case leaf if leaf.children.isEmpty => true
      case _ => false
    }

  /** NDJSON write (Spark-native part files); optional gzip.
    *
    * Gzip parts are UNSPLITTABLE on read: an under-partitioned input
    * (one small parquet file → one scan partition) would write one big
    * .gz whose every later read is a single-task gunzip+parse — measured
    * 2.3 s vs 0.35 s at 32 parts for a 100k-row roundtrip
    * (tools/R21Probe @0fcdae9; guide §2.5 "input skew: fix at the source"). So the gzip
    * path widens to the cluster's default parallelism first, exactly
    * like Dedup.widen: row content is unchanged, and at production scale
    * inputs already exceed the parallelism so this is a no-op. Plain
    * text parts are line-splittable on read and stay as they come.
    *
    * The partition-count probe runs ONLY on narrow (scan-shaped) plans:
    * on a plan with upstream exchanges, `toRdd` under AQE finalizes the
    * adaptive plan — executing every upstream shuffle/broadcast stage —
    * and the `.json(path)` write is a NEW QueryExecution that re-runs
    * them, i.e. the probe would double-execute the upstream (r22 ADVICE
    * fix; CsvJsonIOSpec pins the no-upstream-double-exec job count). A
    * shuffled input needs no widening anyway: its partitioning was just
    * sized by the shuffle/AQE-coalesce policy, which never produces the
    * one-giant-scan-partition shape the widen exists for. */
  def write(df: DataFrame, path: String, gzip: Boolean = false,
            singleFile: Boolean = false): Unit = {
    val clean = sanitizeFloats(df)
    val out =
      if (singleFile) clean.coalesce(1)
      // one widen policy, not two: Dedup.widen IS the probe+repartition
      // pair this branch used to inline (r22 review)
      else if (gzip && narrowPlan(clean.queryExecution.optimizedPlan))
        graft.scale.Dedup.widen(clean)
      else clean
    val w = out.write.mode("overwrite")
    (if (gzip) w.option("compression", "gzip") else w).json(path)
  }

  /** Array-format write, the reference's `.json` (non-NDJSON) output
    * (json_receiver.py:248-317: dump_records_auto with indent=2, and the
    * row path's read-modify-write append). The ROWS serialize distributed
    * (toJSON part files, no coalesce(1)); only the final byte-stream
    * concatenation into one `[ ... ]` document runs on the driver, line by
    * line — O(1) driver memory for the new rows. Records are emitted one
    * per line (compact per record, indented two spaces), a valid
    * pretty-printed array without the reference's per-field newlines.
    *
    * `append=true` re-emits the existing file's records first; like the
    * reference it loads that file as one JSON document (array append is a
    * read-modify-write with an atomic replace) — a format-bounded
    * driver-side step, same as ExcelIO. An array file is a single-file
    * format by construction; at scale prefer NDJSON, which stays
    * distributed end-to-end. */
  def writeArray(df: DataFrame, path: String, append: Boolean = false): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val stage = path + ".stage"
    sanitizeFloats(df).toJSON.write.mode("overwrite").text(stage)
    val target = Paths.get(path)
    val tmp = Paths.get(path + ".tmp")
    val out = Files.newBufferedWriter(tmp)
    try {
      out.write("[")
      var first = true
      def emit(rec: String): Unit = {
        out.write(if (first) "\n  " else ",\n  ")
        out.write(rec)
        first = false
      }
      if (append && Files.exists(target)) {
        import org.json4s._
        org.json4s.jackson.JsonMethods.parse(Files.readString(target)) match {
          case JArray(items) => items.foreach(i =>
            emit(org.json4s.jackson.JsonMethods.compact(i)))
          case other => throw new IllegalArgumentException(
            s"append target $path is not a JSON array (${other.getClass.getSimpleName})")
        }
      }
      IOSwap.partFiles(stage).foreach { p =>
        val reader = Files.newBufferedReader(p)
        try {
          var line = reader.readLine()
          while (line != null) {
            if (line.nonEmpty) emit(line)
            line = reader.readLine()
          }
        } finally reader.close()
      }
      out.write("\n]\n")
    } finally out.close()
    Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
    IOSwap.deleteRecursively(Paths.get(stage)) // drop the staging parts
  }

  /** NDJSON row-append (append_ndjson_record parity): new rows serialize
    * distributed, then join the existing output. Two target layouts:
    *  - a Spark output DIRECTORY (what JsonIO.write produces): the staged
    *    part files MOVE into it under unique names — no rewrite of
    *    existing data at all, the scalable path;
    *  - a plain file (externally created): lines are appended, with a
    *    newline inserted first if the file doesn't end in one (otherwise
    *    the first new record would merge into the last existing line). */
  def appendNdjson(df: DataFrame, path: String): Unit = {
    import java.nio.file.{Files, Paths, StandardOpenOption}
    val stage = path + ".stage"
    sanitizeFloats(df).toJSON.write.mode("overwrite").text(stage)
    val target = Paths.get(path)
    if (Files.isDirectory(target)) {
      val salt = java.util.UUID.randomUUID().toString.take(8)
      IOSwap.partFiles(stage).zipWithIndex.foreach { case (p, i) =>
        Files.move(p, target.resolve(f"part-append-$salt-$i%05d.txt"))
      }
    } else {
      val needsNewline = Files.exists(target) && Files.size(target) > 0 && {
        val ch = Files.newByteChannel(target)
        try {
          ch.position(ch.size() - 1)
          val bb = java.nio.ByteBuffer.allocate(1)
          ch.read(bb)
          bb.get(0) != '\n'.toByte
        } finally ch.close()
      }
      val out = Files.newBufferedWriter(target,
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      try {
        if (needsNewline) out.write("\n")
        IOSwap.partFiles(stage).foreach { p =>
          val reader = Files.newBufferedReader(p)
          try {
            var line = reader.readLine()
            while (line != null) {
              if (line.nonEmpty) { out.write(line); out.write("\n") }
              line = reader.readLine()
            }
          } finally reader.close()
        }
      } finally out.close()
    }
    IOSwap.deleteRecursively(Paths.get(stage))
  }
}
