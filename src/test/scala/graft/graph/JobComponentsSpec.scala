package graft.graph

import graft.SparkTestBase
import graft.config.JobConfig
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Config-driven jobs through the non-CSV component branches. */
class JobComponentsSpec extends SparkTestBase {

  private def tmp(name: String): String = {
    val p = Paths.get("target", "test-tmp", "jobc", name)
    Files.createDirectories(p.getParent)
    p.toString
  }

  private val abSchema =
    """{ "fields": [
      |  { "name": "a", "data_type": "string" },
      |  { "name": "b", "data_type": "string" } ] }""".stripMargin

  test("read_csv multiline=true reads back write_csv output with embedded newlines") {
    import spark.implicits._
    val in = tmp("csv_multiline_in")
    graft.io.CsvIO.write(
      Seq(("1", "line1\nline2"), ("2", "plain")).toDF("a", "b"), in)
    val out = tmp("csv_multiline_out")
    val json =
      s"""{ "name": "t", "components": [
         |  { "name": "r", "comp_type": "read_csv", "filepath": "$in",
         |    "multiline": true,
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $abSchema } },
         |  { "name": "w", "comp_type": "write_parquet", "filepath": "$out",
         |    "in_port_schemas": { "in": $abSchema } } ] }""".stripMargin
    val built = JobGraph.build(spark, JobConfig.parse(json))
    try built.runSinks() finally built.close()
    val back = spark.read.parquet(out).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(back === Map("1" -> "line1\nline2", "2" -> "plain"))
    // and the default (line-based, reference parity) does NOT round-trip
    // such a record — the knob exists because the default can't
    val dflt =
      s"""{ "name": "t", "components": [
         |  { "name": "r", "comp_type": "read_csv", "filepath": "$in",
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $abSchema } },
         |  { "name": "w", "comp_type": "write_parquet",
         |    "filepath": "${tmp("csv_multiline_dflt")}",
         |    "in_port_schemas": { "in": $abSchema } } ] }""".stripMargin
    val b2 = JobGraph.build(spark, JobConfig.parse(dflt))
    try b2.runSinks() finally b2.close()
    val rows2 = spark.read.parquet(tmp("csv_multiline_dflt")).collect()
    assert(!rows2.exists(r => r.getString(1) == "line1\nline2"))
  }

  test("xml source → filter → excel sink, wired from JSON config") {
    val inDir = tmp("xmlin")
    Files.createDirectories(Paths.get(inDir))
    val f = Paths.get(inDir, "recs.xml")
    Files.writeString(f,
      """<root>
        |  <rec><a>1</a><b>keep</b></rec>
        |  <rec><a>2</a><b>drop</b></rec>
        |  <rec><a>3</a><b>keep</b></rec>
        |</root>""".stripMargin)
    val out = tmp("book.xlsx")
    val json =
      s"""{ "name": "t", "components": [
         |  { "name": "r", "comp_type": "read_xml", "filepath": "$f",
         |    "record_tag": "rec",
         |    "routes": { "out": [ { "to": "flt", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $abSchema } },
         |  { "name": "flt", "comp_type": "filter",
         |    "rule": { "column": "b", "operator": "==", "value": "keep" },
         |    "in_port_schemas": { "in": $abSchema },
         |    "routes": { "pass": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "pass": $abSchema } },
         |  { "name": "w", "comp_type": "write_excel", "filepath": "$out",
         |    "sheet_name": "kept",
         |    "in_port_schemas": { "in": $abSchema } } ] }""".stripMargin
    val built = JobGraph.build(spark, JobConfig.parse(json))
    built.runSinks()
    built.close()
    val back = graft.io.ExcelIO.read(spark, out, Some("kept"))
    assert(back.collect().map(_.getString(0)).sorted.toSeq === Seq("1", "3"))
  }

  test("set_op component: intersect/except from config; unknown op is loud") {
    import spark.implicits._
    val inL = tmp("setop_l")
    val inR = tmp("setop_r")
    Seq("1", "2", "2", "3").toDF("a").withColumn("b", lit("x"))
      .write.mode("overwrite").parquet(inL)
    Seq("2", "3", "4").toDF("a").withColumn("b", lit("x"))
      .write.mode("overwrite").parquet(inR)
    def cfg(op: String, out: String) =
      s"""{ "name": "t", "components": [
         |  { "name": "l", "comp_type": "read_parquet", "filepath": "$inL",
         |    "routes": { "out": [ { "to": "s", "in_port": "left" } ] },
         |    "out_port_schemas": { "out": $abSchema } },
         |  { "name": "r", "comp_type": "read_parquet", "filepath": "$inR",
         |    "routes": { "out": [ { "to": "s", "in_port": "right" } ] },
         |    "out_port_schemas": { "out": $abSchema } },
         |  { "name": "s", "comp_type": "set_op", "op": "$op",
         |    "in_port_schemas": { "left": $abSchema, "right": $abSchema },
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $abSchema } },
         |  { "name": "w", "comp_type": "write_parquet", "filepath": "$out",
         |    "in_port_schemas": { "in": $abSchema } } ] }""".stripMargin
    def run(op: String): Seq[String] = {
      val out = tmp(s"setop_out_$op")
      val built = JobGraph.build(spark, JobConfig.parse(cfg(op, out)))
      built.runSinks(); built.close()
      spark.read.parquet(out).collect().map(_.getString(0)).sorted.toSeq
    }
    assert(run("intersect") === Seq("2", "3"))
    assert(run("except") === Seq("1"))
    val e = intercept[IllegalArgumentException] {
      JobGraph.build(spark, JobConfig.parse(cfg("minus", tmp("setop_bad")))).runSinks()
    }
    assert(e.getMessage.contains("unknown op"))
  }

  test("range_join component: keyed interval containment from config") {
    import spark.implicits._
    val inL = tmp("rj_l")
    val inR = tmp("rj_r")
    // numeric intervals: the declarative schema vocabulary travels times
    // as strings/numbers, and range containment is type-generic
    Seq(("k1", 1L), ("k1", 3L), ("k2", 5L), ("k2", 9L)).toDF("k", "t")
      .write.mode("overwrite").parquet(inL)
    Seq(("k1", 2L, 4L, "A"), ("k2", 5L, 6L, "B")).toDF("k", "s", "e", "tag")
      .write.mode("overwrite").parquet(inR)
    val lSchema =
      """{ "fields": [ { "name": "k", "data_type": "string" },
        |  { "name": "t", "data_type": "integer" } ] }""".stripMargin
    val rSchema =
      """{ "fields": [ { "name": "k", "data_type": "string" },
        |  { "name": "s", "data_type": "integer" },
        |  { "name": "e", "data_type": "integer" },
        |  { "name": "tag", "data_type": "string" } ] }""".stripMargin
    val outSchema =
      """{ "fields": [ { "name": "k", "data_type": "string" },
        |  { "name": "t", "data_type": "integer" },
        |  { "name": "s", "data_type": "integer" },
        |  { "name": "e", "data_type": "integer" },
        |  { "name": "tag", "data_type": "string" } ] }""".stripMargin
    val out = tmp("rj_out")
    val json =
      s"""{ "name": "t", "components": [
         |  { "name": "l", "comp_type": "read_parquet", "filepath": "$inL",
         |    "routes": { "out": [ { "to": "rj", "in_port": "left" } ] },
         |    "out_port_schemas": { "out": $lSchema } },
         |  { "name": "r", "comp_type": "read_parquet", "filepath": "$inR",
         |    "routes": { "out": [ { "to": "rj", "in_port": "right" } ] },
         |    "out_port_schemas": { "out": $rSchema } },
         |  { "name": "rj", "comp_type": "range_join", "on": "t",
         |    "start": "s", "end": "e", "by": ["k"],
         |    "in_port_schemas": { "left": $lSchema, "right": $rSchema },
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $outSchema } },
         |  { "name": "w", "comp_type": "write_parquet", "filepath": "$out",
         |    "in_port_schemas": { "in": $outSchema } } ] }""".stripMargin
    val built = JobGraph.build(spark, JobConfig.parse(json))
    built.runSinks(); built.close()
    val got = spark.read.parquet(out)
      .collect().map(r => (r.getAs[String]("k"), r.getAs[Long]("t"),
        r.getAs[String]("tag"))).sorted
    assert(got.toSeq === Seq(("k1", 3L, "A"), ("k2", 5L, "B")))
  }

  test("write_parquet partition_by: Hive layout + partition-pruned readback") {
    import spark.implicits._
    val out = tmp("part_out")
    val in = tmp("part_in")
    Seq(("1", "F"), ("2", "O"), ("3", "F"), ("4", "P"), ("5", "O"))
      .toDF("a", "b").write.mode("overwrite").parquet(in)
    val json =
      s"""{ "name": "p", "components": [
         |  { "name": "r", "comp_type": "read_parquet", "filepath": "$in",
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $abSchema } },
         |  { "name": "w", "comp_type": "write_parquet", "filepath": "$out",
         |    "partition_by": ["b"],
         |    "in_port_schemas": { "in": $abSchema } } ] }""".stripMargin
    val built = JobGraph.build(spark, JobConfig.parse(json))
    built.runSinks()
    built.close()
    // Hive-style directories per partition value
    assert(Seq("b=F", "b=O", "b=P").forall(d =>
      Files.isDirectory(Paths.get(out, d))))
    // a filter on the partition column prunes at PLAN time: only the b=F
    // directory's files appear in the scan (partition pruning, no data IO
    // on the other partitions)
    val back = spark.read.parquet(out).filter(col("b") === "F")
    assert(back.collect().map(_.getString(0)).sorted.toSeq === Seq("1", "3"))
    val scan = back.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("b#"),
      s"expected partition filters in scan:\n$scan")
    val prunedFiles = back.queryExecution.executedPlan.collectLeaves()
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.listFiles(f.partitionFilters, f.dataFilters)
          .flatMap(_.files).map(_.getPath.toString)
      }.flatten
    assert(prunedFiles.nonEmpty && prunedFiles.forall(_.contains("b=F")),
      s"scan should touch only b=F files, got: $prunedFiles")
  }

  test("type_conversion derives its out schema from in-schema + rules") {
    import spark.implicits._
    val in = tmp("derive_in")
    graft.io.CsvIO.write(
      Seq(("1", "x"), ("na", "y"), ("3", "z")).toDF("a", "b"), in, singleFile = true)
    val out = tmp("derive_out")
    // NOTE: no out_port_schemas on the conversion component — derived
    val json =
      s"""{ "name": "derive", "components": [
         |  { "name": "r", "comp_type": "read_csv", "filepath": "$in",
         |    "routes": { "out": [ { "to": "tc", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $abSchema } },
         |  { "name": "tc", "comp_type": "type_conversion",
         |    "rules": [ { "column_path": "a", "target": "integer",
         |                 "on_error": "null" } ],
         |    "in_port_schemas": { "in": $abSchema },
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] } },
         |  { "name": "w", "comp_type": "write_parquet", "filepath": "$out",
         |    "in_port_schemas": { "in": { "fields": [
         |      { "name": "a", "data_type": "integer", "nullable": true },
         |      { "name": "b", "data_type": "string" } ] } } } ] }""".stripMargin
    // derivation also satisfies the data-level validation pass: the null
    // produced by on_error=null must not violate the derived nullability
    val built = JobGraph.build(spark, JobConfig.parse(json), validateData = true)
    built.runSinks()
    built.close()
    val back = spark.read.parquet(out)
    assert(back.schema("a").dataType.typeName === "long")
    assert(back.select("a").collect().map(r => Option(r.get(0))).toSet ===
      Set(Some(1L), None, Some(3L)))
  }

  test("mongodb source with pushdown params → json sink, from config") {
    import spark.implicits._
    graft.io.MongoIO.InMemoryStores.drop("jobstore")
    graft.io.MongoIO.write(
      Seq(("1", "x"), ("2", "y"), ("3", "x")).toDF("a", "b"),
      graft.io.MongoIO.InMemory("jobstore"), "c", "insert")
    val out = tmp("mongo_out")
    val json =
      s"""{ "name": "t", "components": [
         |  { "name": "r", "comp_type": "read_mongodb", "store": "jobstore",
         |    "entity_name": "c",
         |    "query_filter": { "b": "x" },
         |    "sort": [["a", -1]], "limit": 5,
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $abSchema } },
         |  { "name": "w", "comp_type": "write_json", "filepath": "$out",
         |    "in_port_schemas": { "in": $abSchema } } ] }""".stripMargin
    val built = JobGraph.build(spark, JobConfig.parse(json))
    built.runSinks()
    built.close()
    val back = spark.read.json(out).orderBy(col("a"))
    assert(back.collect().map(_.getAs[String]("a")).toSeq === Seq("1", "3"))
  }

  test("jdbc sink from config with upsert mode (Derby)") {
    import spark.implicits._
    val url = "jdbc:derby:memory:graftjob;create=true"
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      try st.execute("DROP TABLE jt") catch { case _: Exception => () }
      st.execute("""CREATE TABLE jt ("a" VARCHAR(20) PRIMARY KEY, "b" VARCHAR(20))""")
      st.execute("""INSERT INTO jt VALUES ('1', 'old')""")
    } finally c.close()
    val in = tmp("jdbc_in")
    graft.io.CsvIO.write(Seq(("1", "new"), ("2", "ins")).toDF("a", "b"), in, singleFile = true)
    val json =
      s"""{ "name": "t", "components": [
         |  { "name": "r", "comp_type": "read_csv", "filepath": "$in",
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $abSchema } },
         |  { "name": "w", "comp_type": "write_jdbc", "url": "$url",
         |    "entity_name": "jt", "if_exists": "upsert", "dialect": "derby",
         |    "key_fields": ["a"],
         |    "in_port_schemas": { "in": $abSchema } } ] }""".stripMargin
    val built = JobGraph.build(spark, JobConfig.parse(json))
    built.runSinks()
    built.close()
    val got = graft.io.JdbcIO.read(spark, url, table = Some("jt"))
      .orderBy(col("a")).collect().map(r => (r.getString(0), r.getString(1)))
    assert(got.toSeq === Seq(("1", "new"), ("2", "ins")))
  }

  test("dedup + text_analysis as declarative components") {
    import spark.implicits._
    val in = tmp("dedup_in")
    Seq((1L, "The quick brown fox jumps over the lazy dog today"),
        (2L, "  the QUICK brown fox jumps over the lazy dog today "),
        (3L, "Totally different text about joins and shuffles"))
      .toDF("id", "text").write.mode("overwrite").parquet(in)
    val out = tmp("dedup_out")
    val schema =
      """{ "fields": [
        |  { "name": "id", "data_type": "integer" },
        |  { "name": "text", "data_type": "string" } ] }""".stripMargin
    val outSchema =
      """{ "fields": [
        |  { "name": "id", "data_type": "integer" },
        |  { "name": "text", "data_type": "string" },
        |  { "name": "n_tokens", "data_type": "integer" },
        |  { "name": "n_tokens_bpe", "data_type": "integer" },
        |  { "name": "punct_ratio", "data_type": "float" },
        |  { "name": "stopword_ratio", "data_type": "float" },
        |  { "name": "quality", "data_type": "float" },
        |  { "name": "lang_pred", "data_type": "string" },
        |  { "name": "fingerprint", "data_type": "string" } ] }""".stripMargin
    val json =
      s"""{ "name": "t", "components": [
         |  { "name": "r", "comp_type": "read_parquet", "filepath": "$in",
         |    "routes": { "out": [ { "to": "dd", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $schema } },
         |  { "name": "dd", "comp_type": "dedup", "method": "exact",
         |    "text_column": "text", "id_column": "id",
         |    "in_port_schemas": { "in": $schema },
         |    "routes": { "out": [ { "to": "ta", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $schema } },
         |  { "name": "ta", "comp_type": "text_analysis", "text_column": "text",
         |    "in_port_schemas": { "in": $schema },
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $outSchema } },
         |  { "name": "w", "comp_type": "write_parquet", "filepath": "$out",
         |    "in_port_schemas": { "in": $outSchema } } ] }""".stripMargin
    val built = JobGraph.build(spark, JobConfig.parse(json))
    built.runSinks()
    built.close()
    val got = spark.read.parquet(out).orderBy(col("id"))
    assert(got.count() === 2) // row 2 deduped into row 1
    assert(got.select("lang_pred").head().getString(0) === "en")
  }

  test("dedup component: ngram and embedding methods from config") {
    import spark.implicits._
    val in = tmp("ng_in")
    Seq((1L, "alpha beta gamma delta epsilon zeta"),
        (2L, "alpha beta gamma delta epsilon eta"), // high trigram overlap
        (3L, "completely different words here now"))
      .toDF("id", "text").write.mode("overwrite").parquet(in)
    val out = tmp("ng_out")
    val schema =
      """{ "fields": [
        |  { "name": "id", "data_type": "integer" },
        |  { "name": "text", "data_type": "string" } ] }""".stripMargin
    val json =
      s"""{ "name": "t", "components": [
         |  { "name": "r", "comp_type": "read_parquet", "filepath": "$in",
         |    "routes": { "out": [ { "to": "dd", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $schema } },
         |  { "name": "dd", "comp_type": "dedup", "method": "ngram",
         |    "text_column": "text", "id_column": "id", "threshold": "0.4",
         |    "in_port_schemas": { "in": $schema },
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $schema } },
         |  { "name": "w", "comp_type": "write_parquet", "filepath": "$out",
         |    "in_port_schemas": { "in": $schema } } ] }""".stripMargin
    val built = JobGraph.build(spark, JobConfig.parse(json))
    built.runSinks(); built.close()
    assert(spark.read.parquet(out).orderBy(col("id"))
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 3L)) // 2 deduped into 1

    // embedding method: two near-identical vectors, one orthogonal
    val ein = tmp("emb_in")
    val v1 = Array.tabulate(8)(i => 1.0f + i * 0.01f)
    val v2 = v1.clone(); v2(7) += 0.001f
    val v3 = Array.tabulate(8)(i => if (i % 2 == 0) 1.0f else -1.0f)
    Seq((1L, v1.toSeq), (2L, v2.toSeq), (3L, v3.toSeq))
      .toDF("id", "embedding").write.mode("overwrite").parquet(ein)
    val eout = tmp("emb_out")
    val eschema =
      """{ "fields": [
        |  { "name": "id", "data_type": "integer" },
        |  { "name": "embedding", "data_type": "array",
        |    "item": { "name": "item", "data_type": "float" } } ] }""".stripMargin
    val ejson =
      s"""{ "name": "t", "components": [
         |  { "name": "r", "comp_type": "read_parquet", "filepath": "$ein",
         |    "routes": { "out": [ { "to": "dd", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $eschema } },
         |  { "name": "dd", "comp_type": "dedup", "method": "embedding",
         |    "id_column": "id", "dim": 8,
         |    "in_port_schemas": { "in": $eschema },
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $eschema } },
         |  { "name": "w", "comp_type": "write_parquet", "filepath": "$eout",
         |    "in_port_schemas": { "in": $eschema } } ] }""".stripMargin
    val ebuilt = JobGraph.build(spark, JobConfig.parse(ejson))
    ebuilt.runSinks(); ebuilt.close()
    assert(spark.read.parquet(eout).orderBy(col("id"))
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 3L))
  }

  test("similarity component: ivf method from config (3-port wiring)") {
    import spark.implicits._
    // corpus: two cluster directions + a stray; centroids = vectors 0,1;
    // query = vector 0. nprobe=1 probes cell 0, whose members are
    // 0 (cos 1.0), 2 (≈0.994), 4 (≈0.970) — the expected top-3 order.
    val ein = tmp("ivf_in")
    Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0f, 1f, 0f, 0f)),
      (2L, Array(0.9f, 0.1f, 0f, 0f)),
      (3L, Array(0.1f, 0.9f, 0f, 0f)),
      (4L, Array(0.8f, 0.2f, 0f, 0f)),
      (5L, Array(0f, 0f, 1f, 0f)))
      .toDF("vec_id", "embedding").write.mode("overwrite").parquet(ein)
    val out = tmp("ivf_out")
    val embSchema =
      """{ "fields": [
        |  { "name": "vec_id", "data_type": "integer" },
        |  { "name": "embedding", "data_type": "array",
        |    "item": { "name": "item", "data_type": "float" } } ] }""".stripMargin
    val centSchema =
      """{ "fields": [
        |  { "name": "cell", "data_type": "integer" },
        |  { "name": "cvec", "data_type": "array",
        |    "item": { "name": "item", "data_type": "float" } } ] }""".stripMargin
    val qSchema =
      """{ "fields": [
        |  { "name": "qvec", "data_type": "array",
        |    "item": { "name": "item", "data_type": "float" } } ] }""".stripMargin
    val outSchema =
      """{ "fields": [
        |  { "name": "vec_id", "data_type": "integer" },
        |  { "name": "cosine", "data_type": "float" } ] }""".stripMargin
    val json =
      s"""{ "name": "t", "components": [
         |  { "name": "rc", "comp_type": "read_parquet", "filepath": "$ein",
         |    "routes": { "out": [ { "to": "sim", "in_port": "corpus" } ] },
         |    "out_port_schemas": { "out": $embSchema } },
         |  { "name": "rcen", "comp_type": "read_parquet", "filepath": "$ein",
         |    "routes": { "out": [ { "to": "fcen", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $embSchema } },
         |  { "name": "fcen", "comp_type": "filter",
         |    "rule": { "column": "vec_id", "operator": "<", "value": 2 },
         |    "in_port_schemas": { "in": $embSchema },
         |    "routes": { "pass": [ { "to": "mcen", "in_port": "in" } ] },
         |    "out_port_schemas": { "pass": $embSchema } },
         |  { "name": "mcen", "comp_type": "schema_mapping",
         |    "extra_input_ports": ["in"],
         |    "rules_by_dest": {
         |      "out": { "cell": { "src_port": "in", "src_path": "vec_id" },
         |               "cvec": { "src_port": "in", "src_path": "embedding" } } },
         |    "in_port_schemas": { "in": $embSchema },
         |    "routes": { "out": [ { "to": "sim", "in_port": "centroids" } ] },
         |    "out_port_schemas": { "out": $centSchema } },
         |  { "name": "rq", "comp_type": "read_parquet", "filepath": "$ein",
         |    "routes": { "out": [ { "to": "fq", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $embSchema } },
         |  { "name": "fq", "comp_type": "filter",
         |    "rule": { "column": "vec_id", "operator": "==", "value": 0 },
         |    "in_port_schemas": { "in": $embSchema },
         |    "routes": { "pass": [ { "to": "mq", "in_port": "in" } ] },
         |    "out_port_schemas": { "pass": $embSchema } },
         |  { "name": "mq", "comp_type": "schema_mapping",
         |    "extra_input_ports": ["in"],
         |    "rules_by_dest": {
         |      "out": { "qvec": { "src_port": "in", "src_path": "embedding" } } },
         |    "in_port_schemas": { "in": $embSchema },
         |    "routes": { "out": [ { "to": "sim", "in_port": "query" } ] },
         |    "out_port_schemas": { "out": $qSchema } },
         |  { "name": "sim", "comp_type": "similarity", "method": "ivf",
         |    "vector_column": "embedding", "id_column": "vec_id",
         |    "k": 3, "nprobe": 1,
         |    "in_port_schemas": { "corpus": $embSchema,
         |                         "centroids": $centSchema, "query": $qSchema },
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $outSchema } },
         |  { "name": "w", "comp_type": "write_parquet", "filepath": "$out",
         |    "in_port_schemas": { "in": $outSchema } } ] }""".stripMargin
    val built = JobGraph.build(spark, JobConfig.parse(json))
    built.runSinks(); built.close()
    val got = spark.read.parquet(out).orderBy(col("cosine").desc).collect()
    assert(got.map(_.getLong(0)).toSeq === Seq(0L, 2L, 4L))
    assert(got.head.getDouble(1) === 1.0)
  }

  test("kmeans_train component trains centroids from config (shape + determinism)") {
    import spark.implicits._
    val ein = tmp("km_in")
    // two tight clusters around e1 and e2
    Seq(
      (0L, Array(1f, 0f, 0f, 0f)), (1L, Array(0.9f, 0.1f, 0f, 0f)),
      (2L, Array(0.95f, 0.05f, 0f, 0f)),
      (3L, Array(0f, 1f, 0f, 0f)), (4L, Array(0.1f, 0.9f, 0f, 0f)),
      (5L, Array(0.05f, 0.95f, 0f, 0f)))
      .toDF("vec_id", "embedding").write.mode("overwrite").parquet(ein)
    val embSchema =
      """{ "fields": [
        |  { "name": "vec_id", "data_type": "integer" },
        |  { "name": "embedding", "data_type": "array",
        |    "item": { "name": "item", "data_type": "float" } } ] }""".stripMargin
    val centSchema =
      """{ "fields": [
        |  { "name": "cell", "data_type": "integer" },
        |  { "name": "cvec", "data_type": "array",
        |    "item": { "name": "item", "data_type": "float" } } ] }""".stripMargin
    def run(out: String): Seq[(Int, Seq[Double])] = {
      val json =
        s"""{ "name": "t", "components": [
           |  { "name": "r", "comp_type": "read_parquet", "filepath": "$ein",
           |    "routes": { "out": [ { "to": "km", "in_port": "in" } ] },
           |    "out_port_schemas": { "out": $embSchema } },
           |  { "name": "km", "comp_type": "kmeans_train",
           |    "vector_column": "embedding", "k": 2, "iters": 3,
           |    "in_port_schemas": { "in": $embSchema },
           |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
           |    "out_port_schemas": { "out": $centSchema } },
           |  { "name": "w", "comp_type": "write_parquet", "filepath": "$out",
           |    "in_port_schemas": { "in": $centSchema } } ] }""".stripMargin
      val built = JobGraph.build(spark, JobConfig.parse(json))
      built.runSinks(); built.close()
      spark.read.parquet(out).orderBy(col("cell")).collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1).toSeq)).toSeq
    }
    val got = run(tmp("km_out"))
    assert(got.map(_._1) === Seq(0, 1), "cells must be 0..k-1")
    assert(got.forall(_._2.size == 4), "centroids keep the input dimension")
    // hash-based init + deterministic aggregation: a rerun is identical
    assert(run(tmp("km_out2")) === got)
  }

  test("write_ivf_index + similarity ivf_index: declarative build-then-probe") {
    import spark.implicits._
    // the KMeansSpec fixture shape: three separable clusters on axes
    val ein = tmp("ivfidx_in")
    Seq(0, 1, 2).flatMap { cl =>
      (0 until 20).map { i =>
        val v = Array.fill(8)(0.05f * ((i + cl) % 3))
        v(cl * 2) = 10f + (i % 5) * 0.1f
        (cl * 100L + i, v.toSeq)
      }
    }.toDF("vec_id", "embedding").write.mode("overwrite").parquet(ein)
    val embSchema =
      """{ "fields": [
        |  { "name": "vec_id", "data_type": "integer" },
        |  { "name": "embedding", "data_type": "array",
        |    "item": { "name": "item", "data_type": "float" } } ] }""".stripMargin
    val centSchema =
      """{ "fields": [
        |  { "name": "cell", "data_type": "integer" },
        |  { "name": "cvec", "data_type": "array",
        |    "item": { "name": "item", "data_type": "float" } } ] }""".stripMargin
    val qSchema =
      """{ "fields": [
        |  { "name": "qvec", "data_type": "array",
        |    "item": { "name": "item", "data_type": "float" } } ] }""".stripMargin
    val outSchema =
      """{ "fields": [
        |  { "name": "vec_id", "data_type": "integer" },
        |  { "name": "cosine", "data_type": "float" } ] }""".stripMargin
    val (idx, cents) = (tmp("ivfidx_idx"), tmp("ivfidx_cents"))
    // job 1: train centroids, write both the index and the centroid table
    val build =
      s"""{ "name": "b", "components": [
         |  { "name": "r", "comp_type": "read_parquet", "filepath": "$ein",
         |    "routes": { "out": [ { "to": "km", "in_port": "in" },
         |                         { "to": "ix", "in_port": "corpus" } ] },
         |    "out_port_schemas": { "out": $embSchema } },
         |  { "name": "km", "comp_type": "kmeans_train",
         |    "vector_column": "embedding", "k": 3, "iters": 3,
         |    "in_port_schemas": { "in": $embSchema },
         |    "routes": { "out": [ { "to": "ix", "in_port": "centroids" },
         |                         { "to": "wc", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $centSchema } },
         |  { "name": "ix", "comp_type": "write_ivf_index", "filepath": "$idx",
         |    "vector_column": "embedding", "id_column": "vec_id",
         |    "in_port_schemas": { "corpus": $embSchema, "centroids": $centSchema } },
         |  { "name": "wc", "comp_type": "write_parquet", "filepath": "$cents",
         |    "in_port_schemas": { "in": $centSchema } } ] }""".stripMargin
    val b = JobGraph.build(spark, JobConfig.parse(build))
    b.runSinks(); b.close()
    // one directory per cell on disk
    val dirs = java.nio.file.Files.list(java.nio.file.Paths.get(idx)).iterator()
    var nCells = 0
    while (dirs.hasNext) { if (dirs.next().getFileName.toString.startsWith("cell=")) nCells += 1 }
    assert(nCells === 3)
    // job 2: probe the prebuilt index from config — query near cluster
    // 1's axis, nprobe=1: every hit must come from cluster 1
    val qin = tmp("ivfidx_q")
    Seq(Tuple1(Seq.tabulate(8)(i => if (i == 2) 1f else 0f)))
      .toDF("qvec").write.mode("overwrite").parquet(qin)
    val out = tmp("ivfidx_out")
    val probe =
      s"""{ "name": "p", "components": [
         |  { "name": "rc", "comp_type": "read_parquet", "filepath": "$cents",
         |    "routes": { "out": [ { "to": "sim", "in_port": "centroids" } ] },
         |    "out_port_schemas": { "out": $centSchema } },
         |  { "name": "rq", "comp_type": "read_parquet", "filepath": "$qin",
         |    "routes": { "out": [ { "to": "sim", "in_port": "query" } ] },
         |    "out_port_schemas": { "out": $qSchema } },
         |  { "name": "sim", "comp_type": "similarity", "method": "ivf_index",
         |    "index_path": "$idx", "vector_column": "embedding",
         |    "id_column": "vec_id", "k": 5, "nprobe": 1,
         |    "in_port_schemas": { "centroids": $centSchema, "query": $qSchema },
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $outSchema } },
         |  { "name": "w", "comp_type": "write_parquet", "filepath": "$out",
         |    "in_port_schemas": { "in": $outSchema } } ] }""".stripMargin
    val p = JobGraph.build(spark, JobConfig.parse(probe))
    p.runSinks(); p.close()
    val ids = spark.read.parquet(out).collect().map(_.getLong(0))
    assert(ids.length === 5)
    assert(ids.forall(id => id >= 100 && id < 200),
      s"nprobe=1 near cluster 1's axis must return only cluster-1 ids, got ${ids.toSeq}")
  }

  test("similarity ivf_index validates index_path and the query column loudly") {
    import spark.implicits._
    val (cents, qin) = (tmp("ivfbad_cents"), tmp("ivfbad_q"))
    Seq((0, Seq(1f, 0f)), (1, Seq(0f, 1f))).toDF("cell", "cvec")
      .write.mode("overwrite").parquet(cents)
    Seq(Tuple1(Seq(1f, 0f))).toDF("wrongname")
      .write.mode("overwrite").parquet(qin)
    val centSchema =
      """{ "fields": [
        |  { "name": "cell", "data_type": "integer" },
        |  { "name": "cvec", "data_type": "array",
        |    "item": { "name": "item", "data_type": "float" } } ] }""".stripMargin
    val qSchema =
      """{ "fields": [
        |  { "name": "wrongname", "data_type": "array",
        |    "item": { "name": "item", "data_type": "float" } } ] }""".stripMargin
    val outSchema =
      """{ "fields": [
        |  { "name": "vec_id", "data_type": "integer" },
        |  { "name": "cosine", "data_type": "float" } ] }""".stripMargin
    def cfg(extra: String) =
      s"""{ "name": "p", "components": [
         |  { "name": "rc", "comp_type": "read_parquet", "filepath": "$cents",
         |    "routes": { "out": [ { "to": "sim", "in_port": "centroids" } ] },
         |    "out_port_schemas": { "out": $centSchema } },
         |  { "name": "rq", "comp_type": "read_parquet", "filepath": "$qin",
         |    "routes": { "out": [ { "to": "sim", "in_port": "query" } ] },
         |    "out_port_schemas": { "out": $qSchema } },
         |  { "name": "sim", "comp_type": "similarity", "method": "ivf_index",
         |    $extra "vector_column": "embedding", "id_column": "vec_id", "k": 5,
         |    "in_port_schemas": { "centroids": $centSchema, "query": $qSchema },
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $outSchema } },
         |  { "name": "w", "comp_type": "write_parquet", "filepath": "${tmp("ivfbad_out")}",
         |    "in_port_schemas": { "in": $outSchema } } ] }""".stripMargin
    // missing index_path → method-specific message, not an opaque reqStr
    val e1 = intercept[IllegalArgumentException] {
      JobGraph.build(spark, JobConfig.parse(cfg("")))
    }
    assert(e1.getMessage.contains("method=ivf_index needs index_path"))
    // index_path present but the query port lacks the vector column →
    // names the missing column and the remedy
    val e2 = intercept[IllegalArgumentException] {
      JobGraph.build(spark, JobConfig.parse(cfg(s""""index_path": "${tmp("ivfbad_idx")}", """)))
    }
    assert(e2.getMessage.contains("no column 'qvec'") &&
      e2.getMessage.contains("query_column"))
  }

  /** Event rows for the windowed-aggregation cases — user a: events at
    * 00:00, 00:05 (one 10-min session) and 00:35 (second session); user
    * b: one event — the streaming parity fixture's shape, minus the
    * watermark sentinel (batch needs none). */
  private def winAggInput(name: String): String = {
    import spark.implicits._
    val in = tmp(name)
    Seq(("2024-01-01 00:00:00", "a", 1L), ("2024-01-01 00:05:00", "a", 2L),
      ("2024-01-01 00:35:00", "a", 4L), ("2024-01-01 00:07:00", "b", 8L))
      .toDF("ts", "k", "v").write.mode("overwrite").parquet(in)
    in
  }

  /** read_parquet(in) → aggregation `agg` (time_column ts, sum of v per
    * k) → write_parquet(out). */
  private def winAggJob(in: String, out: String, windowParams: String): JobGraph.BuiltJob = {
    val inSchema =
      """{ "fields": [
        |  { "name": "ts", "data_type": "string" },
        |  { "name": "k", "data_type": "string" },
        |  { "name": "v", "data_type": "integer" } ] }""".stripMargin
    val outSchema =
      """{ "fields": [
        |  { "name": "window_start", "data_type": "string" },
        |  { "name": "window_end", "data_type": "string" },
        |  { "name": "k", "data_type": "string" },
        |  { "name": "sv", "data_type": "integer" } ] }""".stripMargin
    JobGraph.build(spark, JobConfig.parse(
      s"""{ "name": "t", "components": [
         |  { "name": "r", "comp_type": "read_parquet", "filepath": "$in",
         |    "routes": { "out": [ { "to": "agg", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $inSchema } },
         |  { "name": "agg", "comp_type": "aggregation",
         |    "time_column": "ts", $windowParams
         |    "group_by": ["k"],
         |    "aggregations": [ { "src": "v", "op": "sum", "dest": "sv" } ],
         |    "in_port_schemas": { "in": $inSchema },
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $outSchema } },
         |  { "name": "w", "comp_type": "write_parquet", "filepath": "$out",
         |    "in_port_schemas": { "in": $outSchema } } ] }""".stripMargin))
  }

  test("aggregation with time_column windows in batch (session + tumbling)") {
    val in = winAggInput("winagg_in")
    def run(out: String, windowParams: String): Seq[(String, String, String, Long)] = {
      val built = winAggJob(in, out, windowParams)
      built.runSinks(); built.close()
      spark.read.parquet(out).orderBy(col("k"), col("window_start")).collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    }
    // session windows: a's first two events merge (end = last + gap)
    assert(run(tmp("winagg_sess"), """"session_gap": "10 minutes",""") === Seq(
      ("2024-01-01 00:00:00", "2024-01-01 00:15:00", "a", 3L),
      ("2024-01-01 00:35:00", "2024-01-01 00:45:00", "a", 4L),
      ("2024-01-01 00:07:00", "2024-01-01 00:17:00", "b", 8L)))
    // tumbling half-hours: fixed bucket bounds, not data-driven ones
    assert(run(tmp("winagg_tumb"), """"window": "30 minutes",""") === Seq(
      ("2024-01-01 00:00:00", "2024-01-01 00:30:00", "a", 3L),
      ("2024-01-01 00:30:00", "2024-01-01 01:00:00", "a", 4L),
      ("2024-01-01 00:00:00", "2024-01-01 00:30:00", "b", 8L)))
  }

  test("aggregation watermark in batch: same optimized plan and rows as without it") {
    val in = winAggInput("wmagg_in")
    // the watermark bounds a stream's state; a batch frame has no late
    // data, and Spark's analyzer drops the EventTimeWatermark node
    def face(watermark: String): (String, Seq[String]) = {
      val built = winAggJob(in, tmp("wmagg_out"), s""""window": "30 minutes", $watermark""")
      try {
        val df = built.frames(("agg", "out"))
        (df.queryExecution.optimizedPlan.toString.replaceAll("#\\d+", ""),
          df.collect().map(_.toString).sorted.toSeq)
      } finally built.close()
    }
    val (plainPlan, plainRows) = face("")
    val (markedPlan, markedRows) = face(""""watermark": "10 minutes",""")
    assert(markedPlan === plainPlan)
    assert(!markedPlan.contains("EventTimeWatermark"), markedPlan)
    assert(markedRows === plainRows)
    assert(plainRows.size === 3)
  }

  test("aggregation pivot from config keeps numeric pivot_values typed") {
    import spark.implicits._
    val in = tmp("piv_in")
    Seq(("a", 2023L, 1L), ("a", 2024L, 2L), ("b", 2023L, 4L))
      .toDF("k", "year", "v").write.mode("overwrite").parquet(in)
    val out = tmp("piv_out")
    val inSchema =
      """{ "fields": [
        |  { "name": "k", "data_type": "string" },
        |  { "name": "year", "data_type": "integer" },
        |  { "name": "v", "data_type": "integer" } ] }""".stripMargin
    val outSchema =
      """{ "fields": [
        |  { "name": "k", "data_type": "string" },
        |  { "name": "2023", "data_type": "integer", "nullable": true },
        |  { "name": "2024", "data_type": "integer", "nullable": true } ] }""".stripMargin
    val json =
      s"""{ "name": "t", "components": [
         |  { "name": "r", "comp_type": "read_parquet", "filepath": "$in",
         |    "routes": { "out": [ { "to": "agg", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $inSchema } },
         |  { "name": "agg", "comp_type": "aggregation",
         |    "group_by": ["k"], "pivot_column": "year",
         |    "pivot_values": [2023, 2024],
         |    "aggregations": [ { "src": "v", "op": "sum", "dest": "s" } ],
         |    "in_port_schemas": { "in": $inSchema },
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $outSchema } },
         |  { "name": "w", "comp_type": "write_parquet", "filepath": "$out",
         |    "in_port_schemas": { "in": $outSchema } } ] }""".stripMargin
    val built = JobGraph.build(spark, JobConfig.parse(json))
    built.runSinks(); built.close()
    val got = spark.read.parquet(out).orderBy(col("k")).collect()
    assert(got.map(_.getString(0)).toSeq === Seq("a", "b"))
    assert((got(0).getLong(1), got(0).getLong(2)) === ((1L, 2L)))
    assert(got(1).getLong(1) === 4L)
    assert(got(1).isNullAt(2))
  }

  test("unpivot component from config: value columns melt into rows") {
    import spark.implicits._
    val in = tmp("unpiv_in")
    Seq((1L, 10L, 100L), (2L, 20L, 200L))
      .toDF("id", "a", "b").write.mode("overwrite").parquet(in)
    val out = tmp("unpiv_out")
    val inSchema =
      """{ "fields": [
        |  { "name": "id", "data_type": "integer" },
        |  { "name": "a", "data_type": "integer" },
        |  { "name": "b", "data_type": "integer" } ] }""".stripMargin
    val outSchema =
      """{ "fields": [
        |  { "name": "id", "data_type": "integer" },
        |  { "name": "measure", "data_type": "string" },
        |  { "name": "val", "data_type": "integer" } ] }""".stripMargin
    val json =
      s"""{ "name": "t", "components": [
         |  { "name": "r", "comp_type": "read_parquet", "filepath": "$in",
         |    "routes": { "out": [ { "to": "u", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $inSchema } },
         |  { "name": "u", "comp_type": "unpivot",
         |    "id_columns": ["id"], "value_columns": ["a", "b"],
         |    "var_column": "measure", "value_column": "val",
         |    "in_port_schemas": { "in": $inSchema },
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $outSchema } },
         |  { "name": "w", "comp_type": "write_parquet", "filepath": "$out",
         |    "in_port_schemas": { "in": $outSchema } } ] }""".stripMargin
    val built = JobGraph.build(spark, JobConfig.parse(json))
    built.runSinks(); built.close()
    val got = spark.read.parquet(out).orderBy(col("id"), col("measure"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq === Seq((1L, "a", 10L), (1L, "b", 100L),
      (2L, "a", 20L), (2L, "b", 200L)))
  }

  test("profile component from config: one row per named column") {
    import spark.implicits._
    val in = tmp("prof_in")
    Seq((1L, "a"), (2L, null.asInstanceOf[String]), (3L, "a"))
      .toDF("id", "tag").write.mode("overwrite").parquet(in)
    val out = tmp("prof_out")
    val inSchema =
      """{ "fields": [
        |  { "name": "id", "data_type": "integer" },
        |  { "name": "tag", "data_type": "string", "nullable": true } ] }""".stripMargin
    val profSchema =
      """{ "fields": [
        |  { "name": "col_name", "data_type": "string" },
        |  { "name": "n_rows", "data_type": "integer" },
        |  { "name": "n_nulls", "data_type": "integer" },
        |  { "name": "n_distinct", "data_type": "integer" },
        |  { "name": "min_num", "data_type": "float", "nullable": true },
        |  { "name": "max_num", "data_type": "float", "nullable": true },
        |  { "name": "min_str", "data_type": "string", "nullable": true },
        |  { "name": "max_str", "data_type": "string", "nullable": true } ] }""".stripMargin
    val json =
      s"""{ "name": "t", "components": [
         |  { "name": "r", "comp_type": "read_parquet", "filepath": "$in",
         |    "routes": { "out": [ { "to": "p", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $inSchema } },
         |  { "name": "p", "comp_type": "profile", "columns": ["tag"],
         |    "in_port_schemas": { "in": $inSchema },
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $profSchema } },
         |  { "name": "w", "comp_type": "write_parquet", "filepath": "$out",
         |    "in_port_schemas": { "in": $profSchema } } ] }""".stripMargin
    val built = JobGraph.build(spark, JobConfig.parse(json))
    built.runSinks(); built.close()
    val got = spark.read.parquet(out).collect()
    assert(got.length === 1)
    val r = got.head
    assert(r.getAs[String]("col_name") === "tag")
    assert(r.getAs[Long]("n_rows") === 3L)
    assert(r.getAs[Long]("n_nulls") === 1L)
    assert(r.getAs[Long]("n_distinct") === 1L)
    assert(r.getAs[String]("min_str") === "a")
  }

  test("embedding dedup depth: sized from corpus count unless pinned") {
    // The 100x tools/ScaleProbe @0fcdae9 showed fixed (16, 8) degenerating at 200k
    // vectors; an omitted-config job must get the measured rule instead.
    val auto = JobGraph.embeddingDepth(None, None, 0.95, 200000L)
    assert(auto !== ((16, 8)))
    assert(auto._2 >= 17) // r ~ log2(200k) ≈ 17.6
    // Explicit config is an override — and pays no count() action
    // (corpusCount is by-name; counting here would throw).
    val pinned = JobGraph.embeddingDepth(Some(16), Some(8), 0.95,
      sys.error("count() must not run for a fully pinned config"))
    assert(pinned === ((16, 8)))
    // Half-pinned bands: the explicit half is honored, r derived from n.
    val half = JobGraph.embeddingDepth(Some(20), None, 0.95, 200000L)
    assert(half._1 === 20)
    assert(half._2 >= 17)
    // Half-pinned r: bands must be solved FOR THE PINNED r (not for a
    // fresh r ~ log2(n), which would satisfy neither rule half) — and r
    // alone needs no corpus count.
    val rPinned = JobGraph.embeddingDepth(None, Some(18), 0.95,
      sys.error("count() must not run when r is pinned"))
    assert(rPinned._2 === 18)
    assert(rPinned._1 ===
      graft.scale.Similarity.lshBandsFor(18, 0.95))
  }

  test("jdbc source resolves env-scoped credentials from a context (no url in config)") {
    import graft.runtime.{Contexts, Credentials}
    // seed the engine-side store + context: TEST env → Derby in-memory db.
    // The job config below carries ONLY the context name — no url/secrets.
    Contexts.store.put("derby-test-creds",
      Credentials.Creds("ignored", "ignored", database = "memory:graftctx"))
    Contexts.register(Credentials.MappingContext(
      "derby-ctx", Map("TEST" -> "derby-test-creds"), Credentials.Test))
    val url = "jdbc:derby:memory:graftctx;create=true"
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      try st.execute("DROP TABLE ctx_t") catch { case _: Exception => () }
      st.execute("""CREATE TABLE ctx_t ("a" VARCHAR(20), "b" VARCHAR(20))""")
      st.execute("""INSERT INTO ctx_t VALUES ('1', 'x'), ('2', 'y')""")
    } finally c.close()
    val out = tmp("ctx_out")
    val json =
      s"""{ "name": "t", "components": [
         |  { "name": "r", "comp_type": "read_jdbc", "context": "derby-ctx",
         |    "environment": "TEST", "entity_name": "ctx_t",
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $abSchema } },
         |  { "name": "w", "comp_type": "write_csv", "filepath": "$out",
         |    "in_port_schemas": { "in": $abSchema } } ] }""".stripMargin
    val built = JobGraph.build(spark, JobConfig.parse(json))
    built.runSinks()
    built.close()
    val back = graft.io.CsvIO.read(spark, out).orderBy(col("a")).collect()
    assert(back.map(_.getString(0)).toSeq === Seq("1", "2"))
    // unknown context fails loudly at build time
    val bad = json.replace("derby-ctx", "no-such-ctx")
    intercept[IllegalArgumentException] {
      JobGraph.build(spark, JobConfig.parse(bad))
    }
  }

  test("write_json array format with row-append, from config") {
    import spark.implicits._
    val in1 = tmp("arr_in1"); val in2 = tmp("arr_in2")
    Seq(("1", "x")).toDF("a", "b").write.mode("overwrite").parquet(in1)
    Seq(("2", "y")).toDF("a", "b").write.mode("overwrite").parquet(in2)
    val out = tmp("arr_out.json")
    def job(in: String, append: Boolean) =
      s"""{ "name": "t", "components": [
         |  { "name": "r", "comp_type": "read_parquet", "filepath": "$in",
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $abSchema } },
         |  { "name": "w", "comp_type": "write_json", "filepath": "$out",
         |    "format": "array", "append": $append,
         |    "in_port_schemas": { "in": $abSchema } } ] }""".stripMargin
    val b1 = JobGraph.build(spark, JobConfig.parse(job(in1, append = false)))
    b1.runSinks(); b1.close()
    val text1 = Files.readString(Paths.get(out))
    assert(text1.trim.startsWith("[") && text1.trim.endsWith("]"))
    // the file is ONE valid JSON array document
    val back1 = graft.io.JsonIO.read(spark, out, multiLine = true)
    assert(back1.count() === 1)

    val b2 = JobGraph.build(spark, JobConfig.parse(job(in2, append = true)))
    b2.runSinks(); b2.close()
    val back2 = graft.io.JsonIO.read(spark, out, multiLine = true)
      .orderBy(col("a")).collect().map(r => (r.getAs[String]("a"), r.getAs[String]("b")))
    assert(back2.toSeq === Seq(("1", "x"), ("2", "y"))) // appended, not replaced
  }

  test("dedup emit=pairs → connected_components from config") {
    import spark.implicits._
    val in = tmp("cc_in")
    // 1↔2 and 2↔3 are near-dups (chain!), 4 unrelated: pairwise survivor
    // dedup keeps {1, 3, 4}; cluster labeling must merge 1-2-3
    Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "alpha beta gamma delta epsilon zeta kappa iota"),
      (4L, "totally different words nothing shared here at all"))
      .toDF("id", "text").write.mode("overwrite").parquet(in)
    val out = tmp("cc_out")
    val docSchema =
      """{ "fields": [
        |  { "name": "id", "data_type": "integer" },
        |  { "name": "text", "data_type": "string" } ] }""".stripMargin
    val pairSchema =
      """{ "fields": [
        |  { "name": "id_a", "data_type": "integer" },
        |  { "name": "id_b", "data_type": "integer" },
        |  { "name": "jaccard", "data_type": "float" } ] }""".stripMargin
    val ccSchema =
      """{ "fields": [
        |  { "name": "id", "data_type": "integer" },
        |  { "name": "component", "data_type": "integer" } ] }""".stripMargin
    val json =
      s"""{ "name": "t", "components": [
         |  { "name": "r", "comp_type": "read_parquet", "filepath": "$in",
         |    "routes": { "out": [ { "to": "dd", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $docSchema } },
         |  { "name": "dd", "comp_type": "dedup", "method": "ngram",
         |    "emit": "pairs", "text_column": "text", "id_column": "id",
         |    "threshold": "0.3",
         |    "in_port_schemas": { "in": $docSchema },
         |    "routes": { "out": [ { "to": "cc", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $pairSchema } },
         |  { "name": "cc", "comp_type": "connected_components",
         |    "in_port_schemas": { "in": $pairSchema },
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $ccSchema } },
         |  { "name": "w", "comp_type": "write_parquet", "filepath": "$out",
         |    "in_port_schemas": { "in": $ccSchema } } ] }""".stripMargin
    val built = JobGraph.build(spark, JobConfig.parse(json))
    built.runSinks(); built.close()
    val labels = spark.read.parquet(out).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 1L)) // chain merged; 4 absent
  }

  test("dedup emit=pairs rejects methods without a pair table") {
    import spark.implicits._
    val in = tmp("ccneg_in")
    Seq(("1", "a")).toDF("a", "b").write.mode("overwrite").parquet(in)
    val e = intercept[IllegalArgumentException] {
      JobGraph.build(spark, JobConfig.parse(
        s"""{ "name": "t", "components": [
           |  { "name": "r", "comp_type": "read_parquet", "filepath": "$in",
           |    "routes": { "out": [ { "to": "dd", "in_port": "in" } ] },
           |    "out_port_schemas": { "out": $abSchema } },
           |  { "name": "dd", "comp_type": "dedup", "method": "exact",
           |    "emit": "pairs", "text_column": "b", "id_column": "a",
           |    "in_port_schemas": { "in": $abSchema },
           |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
           |    "out_port_schemas": { "out": $abSchema } },
           |  { "name": "w", "comp_type": "write_parquet",
           |    "filepath": "${tmp("ccneg_out")}",
           |    "in_port_schemas": { "in": $abSchema } } ] }""".stripMargin))
    }
    assert(e.getMessage.contains("emit=pairs"))
  }

  test("line_dedup with a reference port: the census comes from the reference, join and set") {
    import spark.implicits._
    val in = tmp("ldref_in")
    val ref = tmp("ldref_ref")
    // "Footer" is hot in the reference only; "Local" is hot in `in` only
    Seq((1L, "alpha\nFooter\nLocal"), (2L, "beta\nLocal"), (3L, "Footer"),
      (4L, "gamma"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(in)
    Seq((10L, "x\nFooter"), (11L, "y\nFooter"), (12L, "Local"))
      .toDF("doc_id", "body").write.mode("overwrite").parquet(ref)
    val sch =
      """{ "fields": [ { "name": "doc_id", "data_type": "integer" },
        |  { "name": "text", "data_type": "string" } ] }""".stripMargin
    val refSch =
      """{ "fields": [ { "name": "doc_id", "data_type": "integer" },
        |  { "name": "body", "data_type": "string" } ] }""".stripMargin
    val want = graft.scale.Dedup.stripHotLines(spark.read.parquet(in), "text",
      graft.scale.Dedup.hotLineSet(spark.read.parquet(ref), "body", "doc_id"))
      .as[(Long, String)].collect().toMap
    assert(want === Map(1L -> "alpha\nLocal", 2L -> "beta\nLocal", 4L -> "gamma"))
    for (strategy <- Seq("join", "set")) {
      val out = tmp(s"ldref_out_$strategy")
      val json =
        s"""{ "name": "t", "components": [
           |  { "name": "r", "comp_type": "read_parquet", "filepath": "$in",
           |    "routes": { "out": [ { "to": "ld", "in_port": "in" } ] },
           |    "out_port_schemas": { "out": $sch } },
           |  { "name": "c", "comp_type": "read_parquet", "filepath": "$ref",
           |    "routes": { "out": [ { "to": "ld", "in_port": "reference" } ] },
           |    "out_port_schemas": { "out": $refSch } },
           |  { "name": "ld", "comp_type": "line_dedup", "strategy": "$strategy",
           |    "reference_text_column": "body",
           |    "in_port_schemas": { "in": $sch, "reference": $refSch },
           |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
           |    "out_port_schemas": { "out": $sch } },
           |  { "name": "w", "comp_type": "write_parquet", "filepath": "$out",
           |    "in_port_schemas": { "in": $sch } } ] }""".stripMargin
      val built = JobGraph.build(spark, JobConfig.parse(json))
      built.runSinks(); built.close()
      assert(spark.read.parquet(out).as[(Long, String)].collect().toMap === want,
        s"strategy=$strategy")
    }
  }

  test("outlier_filter with a reference port: fences come from the reference") {
    import spark.implicits._
    val in = tmp("ofref_in")
    val ref = tmp("ofref_ref")
    // every row sits inside its own fences; the tight baseline keeps only 10.0
    Seq((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0))
      .toDF("id", "v").write.mode("overwrite").parquet(in)
    Seq(9.0, 10.0, 11.0, 12.0).toDF("v").write.mode("overwrite").parquet(ref)
    val sch =
      """{ "fields": [ { "name": "id", "data_type": "integer" },
        |  { "name": "v", "data_type": "float" } ] }""".stripMargin
    val refSch = """{ "fields": [ { "name": "v", "data_type": "float" } ] }"""
    val out = tmp("ofref_out")
    val json =
      s"""{ "name": "t", "components": [
         |  { "name": "r", "comp_type": "read_parquet", "filepath": "$in",
         |    "routes": { "out": [ { "to": "of", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $sch } },
         |  { "name": "b", "comp_type": "read_parquet", "filepath": "$ref",
         |    "routes": { "out": [ { "to": "of", "in_port": "reference" } ] },
         |    "out_port_schemas": { "out": $refSch } },
         |  { "name": "of", "comp_type": "outlier_filter", "column": "v",
         |    "method": "iqr", "k": 1.5,
         |    "in_port_schemas": { "in": $sch, "reference": $refSch },
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $sch } },
         |  { "name": "w", "comp_type": "write_parquet", "filepath": "$out",
         |    "in_port_schemas": { "in": $sch } } ] }""".stripMargin
    val built = JobGraph.build(spark, JobConfig.parse(json))
    built.runSinks(); built.close()
    val got = spark.read.parquet(out).select("id").as[Long].collect().toSet
    val want = graft.scale.Profile.outlierFilterAgainst(spark.read.parquet(in),
      spark.read.parquet(ref), "v", "iqr", 1.5).select("id").as[Long].collect().toSet
    assert(got === want)
    assert(got === Set(1L))
    assert(graft.scale.Profile.outlierFilter(spark.read.parquet(in), "v", "iqr", 1.5)
      .count() === 4, "the fixture's own fences keep every row")
  }
}
