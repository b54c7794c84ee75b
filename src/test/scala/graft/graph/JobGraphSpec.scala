package graft.graph

import graft.SparkTestBase
import graft.config.JobConfig
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

class JobGraphSpec extends SparkTestBase {

  private def tmp(name: String): String = {
    val p = Paths.get("target", "test-tmp", "jobs", name)
    Files.createDirectories(p.getParent)
    p.toString
  }

  private val abSchema =
    """{ "fields": [
      |  { "name": "a", "data_type": "string" },
      |  { "name": "b", "data_type": "string" } ] }""".stripMargin

  private def writeCsv(dir: String, rows: Seq[(String, String)]): String = {
    import spark.implicits._
    graft.io.CsvIO.write(rows.toDF("a", "b"), dir, singleFile = true)
    dir
  }

  test("parse + validate + run a read→filter→write job from JSON") {
    val in = writeCsv(tmp("in1"), Seq(("1", "Alice"), ("2", "Bob"), ("3", "Cara")))
    val out = tmp("out1")
    val json =
      s"""{
         |  "name": "t", "strategy_type": "row",
         |  "components": [
         |    { "name": "r", "comp_type": "read_csv", "filepath": "__IN__",
         |      "routes": { "out": [ { "to": "f", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $abSchema } },
         |    { "name": "f", "comp_type": "filter",
         |      "rule": { "column": "b", "operator": "!=", "value": "Bob" },
         |      "in_port_schemas": { "in": $abSchema },
         |      "routes": { "pass": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "pass": $abSchema } },
         |    { "name": "w", "comp_type": "write_csv", "filepath": "__OUT__",
         |      "in_port_schemas": { "in": $abSchema } }
         |  ]
         |}""".stripMargin
    val spec = JobConfig.parse(json, Map("__IN__" -> in, "__OUT__" -> out))
    assert(spec.strategyType === "row")
    val built = JobGraph.build(spark, spec)
    built.runSinks()
    built.close()
    val got = graft.io.CsvIO.read(spark, out).collect().map(_.getString(1)).sorted
    assert(got.toSeq === Seq("Alice", "Cara"))
  }

  private def specOf(componentsJson: String*) =
    JobConfig.parse(
      s"""{ "name": "t", "components": [ ${componentsJson.mkString(", ")} ] }""")

  test("validation: route to unknown component") {
    val e = intercept[IllegalArgumentException] {
      JobGraph.validate(specOf(
        s"""{ "name": "r", "comp_type": "read_csv", "filepath": "x",
           |  "routes": { "out": [ { "to": "ghost", "in_port": "in" } ] },
           |  "out_port_schemas": { "out": $abSchema } }""".stripMargin))
    }
    assert(e.getMessage.contains("unknown component"))
  }

  test("validation: missing required param is rejected at validate time") {
    // the /schemas registry's required list drives this — a read_csv
    // without filepath used to 201 at create and only fail at execute
    // after spending retry attempts
    val e = intercept[IllegalArgumentException] {
      JobGraph.validate(specOf(
        s"""{ "name": "r", "comp_type": "read_csv",
           |  "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
           |  "out_port_schemas": { "out": $abSchema } }""".stripMargin,
        s"""{ "name": "w", "comp_type": "write_csv", "filepath": "x",
           |  "in_port_schemas": { "in": $abSchema } }""".stripMargin))
    }
    assert(e.getMessage.contains("missing required param 'filepath'"))
  }

  test("validation: explicit JSON null for a required param is as absent as a missing key") {
    // "filepath": null parsed to JNull, which the JNothing-only check
    // let through — create/validate passed and the job still failed only
    // at execute time after retry/backoff, the exact late-failure mode
    // the required-param check exists to prevent
    val e = intercept[IllegalArgumentException] {
      JobGraph.validate(specOf(
        s"""{ "name": "r", "comp_type": "read_csv", "filepath": null,
           |  "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
           |  "out_port_schemas": { "out": $abSchema } }""".stripMargin,
        s"""{ "name": "w", "comp_type": "write_csv", "filepath": "x",
           |  "in_port_schemas": { "in": $abSchema } }""".stripMargin))
    }
    assert(e.getMessage.contains("missing required param 'filepath'"))
  }

  test("validation: missing schema on a used port") {
    val e = intercept[IllegalArgumentException] {
      JobGraph.validate(specOf(
        s"""{ "name": "r", "comp_type": "read_csv", "filepath": "x",
           |  "routes": { "out": [ { "to": "w", "in_port": "in" } ] } },
           |{ "name": "w", "comp_type": "write_csv", "filepath": "y",
           |  "in_port_schemas": { "in": $abSchema } }""".stripMargin))
    }
    assert(e.getMessage.contains("has no schema"))
  }

  test("validation: source with incoming edge") {
    val e = intercept[IllegalArgumentException] {
      JobGraph.validate(specOf(
        s"""{ "name": "r", "comp_type": "read_csv", "filepath": "x",
           |  "routes": { "out": [ { "to": "r2", "in_port": "in" } ] },
           |  "out_port_schemas": { "out": $abSchema } },
           |{ "name": "r2", "comp_type": "read_csv", "filepath": "y" }""".stripMargin))
    }
    // routing into a source fails at the in-port check (sources declare none)
    assert(e.getMessage.contains("has in ports []") || e.getMessage.contains("incoming edge"))
  }

  test("validation: filter requires a routed pass port") {
    val e = intercept[IllegalArgumentException] {
      JobGraph.validate(specOf(
        s"""{ "name": "f", "comp_type": "filter",
           |  "rule": { "column": "a", "operator": "==", "value": "x" },
           |  "in_port_schemas": { "in": $abSchema } }""".stripMargin))
    }
    assert(e.getMessage.contains("no upstream edges") || e.getMessage.contains("no route"))
  }

  test("validation: duplicate component names") {
    val e = intercept[IllegalArgumentException] {
      JobGraph.validate(specOf(
        """{ "name": "x", "comp_type": "read_csv", "filepath": "a" },
          |{ "name": "x", "comp_type": "read_csv", "filepath": "b" }""".stripMargin))
    }
    assert(e.getMessage.contains("duplicate"))
  }

  test("validation: cycle detection") {
    val e = intercept[IllegalArgumentException] {
      JobGraph.validate(specOf(
        s"""{ "name": "a", "comp_type": "type_conversion", "rules": [],
           |  "in_port_schemas": { "in": $abSchema },
           |  "routes": { "out": [ { "to": "b", "in_port": "in" } ] },
           |  "out_port_schemas": { "out": $abSchema } },
           |{ "name": "b", "comp_type": "type_conversion", "rules": [],
           |  "in_port_schemas": { "in": $abSchema },
           |  "routes": { "out": [ { "to": "a", "in_port": "in" } ] },
           |  "out_port_schemas": { "out": $abSchema } }""".stripMargin))
    }
    assert(e.getMessage.contains("cycle"))
  }

  test("structural schema contract rejects drift on an edge") {
    val in = writeCsv(tmp("in_drift"), Seq(("1", "x")))
    val badSchema =
      """{ "fields": [
        |  { "name": "a", "data_type": "string" },
        |  { "name": "WRONG", "data_type": "string" } ] }""".stripMargin
    val json =
      s"""{ "name": "t", "components": [
         |  { "name": "r", "comp_type": "read_csv", "filepath": "$in",
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $badSchema } },
         |  { "name": "w", "comp_type": "write_csv", "filepath": "${tmp("out_drift")}",
         |    "in_port_schemas": { "in": $badSchema } } ] }""".stripMargin
    val e = intercept[IllegalArgumentException] {
      JobGraph.build(spark, JobConfig.parse(json))
    }
    assert(e.getMessage.contains("schema violation"))
    assert(e.getMessage.contains("WRONG"))
  }

  test("split fans out, merge unions back (interleaved pass-through)") {
    val in = writeCsv(tmp("in_split"), Seq(("1", "x"), ("2", "y")))
    val out = tmp("out_split")
    val json =
      s"""{ "name": "t", "components": [
         |  { "name": "r", "comp_type": "read_csv", "filepath": "$in",
         |    "routes": { "out": [ { "to": "s", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $abSchema } },
         |  { "name": "s", "comp_type": "split",
         |    "extra_output_ports": ["p1", "p2"],
         |    "in_port_schemas": { "in": $abSchema },
         |    "routes": { "p1": [ { "to": "m", "in_port": "in" } ],
         |                "p2": [ { "to": "m", "in_port": "in" } ] },
         |    "out_port_schemas": { "p1": $abSchema, "p2": $abSchema } },
         |  { "name": "m", "comp_type": "merge",
         |    "in_port_schemas": { "in": $abSchema },
         |    "routes": { "merge": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "merge": $abSchema } },
         |  { "name": "w", "comp_type": "write_csv", "filepath": "$out",
         |    "in_port_schemas": { "in": $abSchema } } ] }""".stripMargin
    val built = JobGraph.build(spark, JobConfig.parse(json))
    built.runSinks()
    // split duplicated both rows to both ports; merge unions → 4 rows
    assert(graft.io.CsvIO.read(spark, out).count() === 4)
    assert(built.cached.nonEmpty) // fan-out input was persisted by the graph
    built.close()
  }

  test("data-level validation catches nulls in non-nullable columns") {
    import spark.implicits._
    val dir = tmp("in_nulls")
    Seq(("1", "x")).toDF("a", "b").write.mode("overwrite").parquet(dir)
    val withNull = spark.read.parquet(dir).withColumn("b",
      when(lit(true), lit(null: String)))
    withNull.write.mode("overwrite").parquet(tmp("in_nulls2"))
    val json =
      s"""{ "name": "t", "components": [
         |  { "name": "r", "comp_type": "read_parquet", "filepath": "${tmp("in_nulls2")}",
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $abSchema } },
         |  { "name": "w", "comp_type": "write_csv", "filepath": "${tmp("out_nulls")}",
         |    "in_port_schemas": { "in": $abSchema } } ] }""".stripMargin
    val e = intercept[IllegalArgumentException] {
      JobGraph.build(spark, JobConfig.parse(json), validateData = true)
    }
    assert(e.getMessage.contains("null:b"))
  }

  test("write_parquet coalesce: one output file for a dimension-sized frame") {
    import spark.implicits._
    val in = tmp("coal_in")
    (0L until 100L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartition(8).write.mode("overwrite").parquet(in)
    val schema =
      """{ "fields": [
        |  { "name": "id", "data_type": "integer" },
        |  { "name": "v", "data_type": "string" } ] }""".stripMargin
    val out = tmp("coal_out")
    val json =
      s"""{ "name": "coal", "components": [
         |  { "name": "r", "comp_type": "read_parquet", "filepath": "$in",
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $schema } },
         |  { "name": "w", "comp_type": "write_parquet", "filepath": "$out",
         |    "coalesce": 1, "in_port_schemas": { "in": $schema } } ] }""".stripMargin
    val built = JobGraph.build(spark, JobConfig.parse(json))
    built.runSinks(); built.close()
    val files = new java.io.File(out).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(files.length === 1, s"expected one part file, got ${files.length}")
    assert(spark.read.parquet(out).count() === 100)
    // malformed count is loud
    val bad = json.replace("\"coalesce\": 1", "\"coalesce\": 0")
    val e = intercept[IllegalArgumentException] {
      JobGraph.build(spark, JobConfig.parse(bad))
    }
    assert(e.getMessage.contains("coalesce"))
  }

  test("bucketed/salted guard rails are loud") {
    // read_table of a table the SAME job stages binds to stale files —
    // rejected at build with a stage-in-a-prior-job message
    val kSchema =
      """{ "fields": [
        |  { "name": "k", "data_type": "integer" } ] }""".stripMargin
    val sameJob =
      s"""{ "name": "srt", "components": [
         |  { "name": "r", "comp_type": "read_parquet", "filepath": "${tmp("srt_in")}",
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $kSchema } },
         |  { "name": "w", "comp_type": "write_bucketed", "table": "srt_t",
         |    "filepath": "${tmp("srt_t")}", "buckets": 2, "bucket_by": ["k"],
         |    "in_port_schemas": { "in": $kSchema } },
         |  { "name": "t", "comp_type": "read_table", "table": "srt_t",
         |    "routes": { "out": [ { "to": "o", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $kSchema } },
         |  { "name": "o", "comp_type": "write_parquet", "filepath": "${tmp("srt_o")}",
         |    "in_port_schemas": { "in": $kSchema } } ] }""".stripMargin
    import spark.implicits._
    Seq(1L, 2L).toDF("k").write.mode("overwrite").parquet(tmp("srt_in"))
    val e = intercept[IllegalArgumentException] {
      JobGraph.build(spark, JobConfig.parse(sameJob))
    }
    assert(e.getMessage.contains("SAME job"))
    // an unknown catalog table gets a component-contextualized error
    val unknown =
      s"""{ "name": "urt", "components": [
         |  { "name": "t", "comp_type": "read_table", "table": "no_such_table_xyz",
         |    "routes": { "out": [ { "to": "o", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $kSchema } },
         |  { "name": "o", "comp_type": "write_parquet", "filepath": "${tmp("urt_o")}",
         |    "in_port_schemas": { "in": $kSchema } } ] }""".stripMargin
    val e2 = intercept[IllegalArgumentException] {
      JobGraph.build(spark, JobConfig.parse(unknown))
    }
    assert(e2.getMessage.contains("not in the session catalog"))
    // salted is exclusive with time windows (silent ignore was the bug)
    val salty =
      s"""{ "name": "sw", "components": [
         |  { "name": "r", "comp_type": "read_parquet", "filepath": "${tmp("srt_in")}",
         |    "routes": { "out": [ { "to": "a", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $kSchema } },
         |  { "name": "a", "comp_type": "aggregation", "salted": true,
         |    "time_column": "k", "time_unit": "seconds", "window": "1 hour",
         |    "group_by": [],
         |    "aggregations": [ { "src": "*", "op": "count", "dest": "n" } ],
         |    "in_port_schemas": { "in": $kSchema },
         |    "routes": { "out": [ { "to": "o", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": { "fields": [
         |      { "name": "n", "data_type": "integer" } ] } } },
         |  { "name": "o", "comp_type": "write_parquet", "filepath": "${tmp("sw_o")}",
         |    "in_port_schemas": { "in": { "fields": [
         |      { "name": "n", "data_type": "integer" } ] } } } ] }""".stripMargin
    val e3 = intercept[IllegalArgumentException] {
      JobGraph.build(spark, JobConfig.parse(salty))
    }
    assert(e3.getMessage.contains("salted is exclusive"))
    // salt_factor 0 would null out the salt under non-ANSI pmod
    val e4 = intercept[IllegalArgumentException] {
      graft.scale.Skew.saltedAggregate(Seq((1L, "a")).toDF("v", "g"),
        Seq("g"), Seq(graft.ops.AggregateOp.AggSpec("v", "sum", "s")),
        saltFactor = 0)
    }
    assert(e4.getMessage.contains("salt_factor"))
  }

  // ------------------------------------------------ r20 review-gap pins

  test("validation: a typo'd comp_type is rejected at validate time, not at execute") {
    val e = intercept[IllegalArgumentException] {
      JobGraph.validate(specOf(
        s"""{ "name": "r", "comp_type": "text_normalise",
           |  "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
           |  "out_port_schemas": { "out": $abSchema } }""".stripMargin,
        s"""{ "name": "w", "comp_type": "write_csv", "filepath": "x",
           |  "in_port_schemas": { "in": $abSchema } }""".stripMargin))
    }
    assert(e.getMessage.contains("unknown comp_type 'text_normalise'"))
  }

  test("build: a route from a port the component never produces is loud, not a thinner merge") {
    // schema_mapping in map mode produces ONLY its rules_by_dest ports;
    // routing the declared-but-unproduced extra port used to be silently
    // dropped — a merge downstream just unioned fewer inputs
    val in = writeCsv(tmp("unproduced_in"), Seq(("1", "x")))
    val json =
      s"""{ "name": "unproduced", "components": [
         |  { "name": "r", "comp_type": "read_csv", "filepath": "$in",
         |    "routes": { "out": [ { "to": "m", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $abSchema } },
         |  { "name": "m", "comp_type": "schema_mapping",
         |    "extra_input_ports": ["in"], "extra_output_ports": ["ghost"],
         |    "rules_by_dest": { "out": {
         |      "a": { "src_port": "in", "src_path": "a" },
         |      "b": { "src_port": "in", "src_path": "b" } } },
         |    "in_port_schemas": { "in": $abSchema },
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ],
         |                "ghost": [ { "to": "w2", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $abSchema, "ghost": $abSchema } },
         |  { "name": "w", "comp_type": "write_csv", "filepath": "${tmp("unprod_w")}",
         |    "in_port_schemas": { "in": $abSchema } },
         |  { "name": "w2", "comp_type": "write_csv", "filepath": "${tmp("unprod_w2")}",
         |    "in_port_schemas": { "in": $abSchema } }
         |] }""".stripMargin
    val e = intercept[IllegalArgumentException] {
      JobGraph.build(spark, JobConfig.parse(json))
    }
    assert(e.getMessage.contains("'ghost'") &&
      e.getMessage.contains("does not produce"))
  }

  test("build: a mid-build failure releases every cache handle already inserted") {
    // filter with pass+fail routed persists its input; the downstream sql
    // component's malformed query then throws — the persist used to leak
    // on every retry attempt of a long-lived process
    val in = writeCsv(tmp("leak_in"), Seq(("1", "x"), ("2", "y")))
    val rddsBefore = spark.sparkContext.getPersistentRDDs.size
    val opBefore = graft.scale.OpCaches.pending
    val json =
      s"""{ "name": "leaky", "components": [
         |  { "name": "r", "comp_type": "read_csv", "filepath": "$in",
         |    "routes": { "out": [ { "to": "f", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $abSchema } },
         |  { "name": "f", "comp_type": "filter",
         |    "rule": { "column": "a", "operator": ">=", "value": "1" },
         |    "in_port_schemas": { "in": $abSchema },
         |    "routes": { "pass": [ { "to": "q", "in_port": "in" } ],
         |                "fail": [ { "to": "w2", "in_port": "in" } ] },
         |    "out_port_schemas": { "pass": $abSchema, "fail": $abSchema } },
         |  { "name": "q", "comp_type": "sql", "query": "SELEKT broken FROM in",
         |    "extra_input_ports": ["in"],
         |    "in_port_schemas": { "in": $abSchema },
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $abSchema } },
         |  { "name": "w", "comp_type": "write_csv", "filepath": "${tmp("leak_w")}",
         |    "in_port_schemas": { "in": $abSchema } },
         |  { "name": "w2", "comp_type": "write_csv", "filepath": "${tmp("leak_w2")}",
         |    "in_port_schemas": { "in": $abSchema } }
         |] }""".stripMargin
    intercept[Exception] { JobGraph.build(spark, JobConfig.parse(json)) }
    assert(spark.sparkContext.getPersistentRDDs.size === rddsBefore,
      "mid-build failure must unpersist the fold's inserted handles")
    assert(graft.scale.OpCaches.pending === opBefore,
      "a scoped build must not leave handles in the global OpCaches queue")
  }

  test("build: operator-internal persists are scoped to the job, released by close(), never global") {
    import spark.implicits._
    val in = tmp(s"opscope_in_${System.nanoTime()}")
    Seq((1L, "aaa bbb ccc"), (2L, "ddd eee fff")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(in)
    val docSchema =
      """{ "fields": [
        |  { "name": "doc_id", "data_type": "integer" },
        |  { "name": "text", "data_type": "string" } ] }""".stripMargin
    val opBefore = graft.scale.OpCaches.pending
    val json =
      s"""{ "name": "opscope", "components": [
         |  { "name": "r", "comp_type": "read_parquet", "filepath": "$in",
         |    "routes": { "out": [ { "to": "d", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $docSchema } },
         |  { "name": "d", "comp_type": "dedup", "method": "minhash",
         |    "id_column": "doc_id",
         |    "in_port_schemas": { "in": $docSchema },
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $docSchema } },
         |  { "name": "w", "comp_type": "write_parquet", "filepath": "${tmp("opscope_w")}",
         |    "in_port_schemas": { "in": $docSchema } }
         |] }""".stripMargin
    val built = JobGraph.build(spark, JobConfig.parse(json))
    // minhash dedup registers >= 2 operator persists (candidates, shingles)
    // — they must be the JOB's handles, not global-queue entries another
    // job's close() could release mid-run
    assert(graft.scale.OpCaches.pending === opBefore,
      "build must capture operator persists in its own scope")
    assert(built.cached.nonEmpty)
    val rddsBefore = spark.sparkContext.getPersistentRDDs.size
    built.runSinks()
    built.close()
    assert(spark.sparkContext.getPersistentRDDs.size <= rddsBefore,
      "close() must release the job's operator persists")
  }

  test("build: partition_column without explicit bounds is rejected loudly") {
    val e = intercept[IllegalArgumentException] {
      JobGraph.build(spark, JobConfig.parse(
        s"""{ "name": "pj", "components": [
           |  { "name": "r", "comp_type": "read_jdbc",
           |    "url": "jdbc:derby:memory:never;create=true", "entity_name": "t",
           |    "query": "SELECT 1 AS a FROM SYSIBM.SYSDUMMY1",
           |    "partition_column": "a", "num_partitions": 8,
           |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
           |    "out_port_schemas": { "out": { "fields": [
           |      { "name": "a", "data_type": "integer" } ] } } },
           |  { "name": "w", "comp_type": "write_parquet",
           |    "filepath": "${tmp("pj_w")}",
           |    "in_port_schemas": { "in": { "fields": [
           |      { "name": "a", "data_type": "integer" } ] } } }
           |] }""".stripMargin))
    }
    assert(e.getMessage.contains("lower_bound"))
  }

  test("build: write_json append is exclusive with gzip/single_file; array rejects gzip") {
    val in = writeCsv(tmp("wj_in"), Seq(("1", "x")))
    def cfg(extra: String) = JobConfig.parse(
      s"""{ "name": "wj", "components": [
         |  { "name": "r", "comp_type": "read_csv", "filepath": "$in",
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $abSchema } },
         |  { "name": "w", "comp_type": "write_json",
         |    "filepath": "${tmp("wj_w")}"$extra,
         |    "in_port_schemas": { "in": $abSchema } }
         |] }""".stripMargin)
    val e1 = intercept[IllegalArgumentException] {
      JobGraph.build(spark, cfg(""", "append": true, "gzip": true"""))
    }
    assert(e1.getMessage.contains("exclusive with gzip/single_file"))
    val e2 = intercept[IllegalArgumentException] {
      JobGraph.build(spark, cfg(""", "format": "array", "gzip": true"""))
    }
    assert(e2.getMessage.contains("array does not support gzip"))
  }

  test("build: a write_bucketed table staged in this job is caught case-insensitively") {
    val in = writeCsv(tmp("rt_in"), Seq(("1", "x")))
    val e = intercept[IllegalArgumentException] {
      JobGraph.build(spark, JobConfig.parse(
        s"""{ "name": "rt", "components": [
           |  { "name": "r", "comp_type": "read_csv", "filepath": "$in",
           |    "routes": { "out": [ { "to": "wb", "in_port": "in" } ] },
           |    "out_port_schemas": { "out": $abSchema } },
           |  { "name": "wb", "comp_type": "write_bucketed", "table": "Events",
           |    "filepath": "${tmp("rt_bdir")}", "buckets": 4, "bucket_by": ["a"],
           |    "in_port_schemas": { "in": $abSchema } },
           |  { "name": "rd", "comp_type": "read_table", "table": "events",
           |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
           |    "out_port_schemas": { "out": $abSchema } },
           |  { "name": "w", "comp_type": "write_csv", "filepath": "${tmp("rt_w")}",
           |    "in_port_schemas": { "in": $abSchema } }
           |] }""".stripMargin))
    }
    assert(e.getMessage.contains("SAME job"),
      s"case variant must hit the staging guard, got: ${e.getMessage}")
  }

  test("validation: a batch job naming a streaming-only comp_type is rejected at validate") {
    // the streaming twins are documented in the registry, so a batch job
    // naming one used to pass validation and die at execute time with
    // 'unknown comp_type', after every retry and backoff
    val e = intercept[IllegalArgumentException] {
      JobGraph.validate(specOf(
        s"""{ "name": "r", "comp_type": "read_csv", "filepath": "x",
           |  "routes": { "out": [ { "to": "agg", "in_port": "in" } ] },
           |  "out_port_schemas": { "out": $abSchema } }""".stripMargin,
        s"""{ "name": "agg", "comp_type": "streaming_aggregation",
           |  "time_column": "a", "watermark": "1 minute", "window": "1 hour",
           |  "aggregations": [ { "src": "b", "op": "count", "dest": "n" } ],
           |  "in_port_schemas": { "in": $abSchema } }""".stripMargin))
    }
    assert(e.getMessage.contains("'streaming_aggregation' runs only in streaming jobs"))
    assert(e.getMessage.contains("StreamingJobs"))
    assert(e.getMessage.contains("'aggregation'"))
  }

  test("validation: read_json format is ndjson | array, not a free string") {
    def job(format: String) = specOf(
      s"""{ "name": "r", "comp_type": "read_json", "filepath": "x.ndjson",
         |  "format": "$format",
         |  "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |  "out_port_schemas": { "out": $abSchema } }""".stripMargin,
      s"""{ "name": "w", "comp_type": "write_parquet", "filepath": "y",
         |  "in_port_schemas": { "in": $abSchema } }""".stripMargin)
    val e = intercept[IllegalArgumentException](JobGraph.validate(job("xml")))
    assert(e.getMessage === "component r: param 'format' must be one of ndjson | array, got format=xml")
    JobGraph.validate(job("array"))
  }

  test("validation: a misspelled param is rejected with a did-you-mean, not run on defaults") {
    val e = intercept[IllegalArgumentException] {
      JobGraph.validate(specOf(
        s"""{ "name": "r", "comp_type": "read_csv", "filepath": "x",
           |  "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
           |  "out_port_schemas": { "out": $abSchema } }""".stripMargin,
        s"""{ "name": "w", "comp_type": "write_csv", "filepath": "y",
           |  "seperator": ";", "apend": true,
           |  "in_port_schemas": { "in": $abSchema } }""".stripMargin))
    }
    assert(e.getMessage.contains("unknown params 'seperator'"))
    assert(e.getMessage.contains("did you mean 'separator'?"))
    assert(e.getMessage.contains("'apend' (did you mean 'append'?)"))
  }

  test("validation: num_of_retries > 0 with an append sink is rejected, naming the sink") {
    // a retry re-runs every sink, so an append that committed before a
    // later failure would land its rows twice
    def job(retries: Int, sinkType: String, append: Boolean) = JobConfig.parse(
      s"""{ "name": "t", "num_of_retries": $retries, "components": [
         |  { "name": "r", "comp_type": "read_csv", "filepath": "x",
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $abSchema } },
         |  { "name": "w", "comp_type": "$sinkType", "filepath": "y",
         |    "append": $append, "in_port_schemas": { "in": $abSchema } } ] }""".stripMargin)
    for (t <- Seq("write_csv", "write_json", "write_xml", "write_excel")) {
      val e = intercept[IllegalArgumentException](JobGraph.validate(job(2, t, append = true)))
      assert(e.getMessage.contains(s"component w ($t)"))
      assert(e.getMessage.contains("num_of_retries 2"))
      assert(e.getMessage.contains("append the same rows again"))
      JobGraph.validate(job(0, t, append = true))
      JobGraph.validate(job(2, t, append = false))
    }
  }

  test("validation: num_of_retries > 0 with a database sink inserting is rejected, naming the sink") {
    // a retry re-runs every sink, so rows an insert committed before a
    // later failure would be inserted again; upsert/truncate re-run safely
    def job(retries: Int, sink: String) = JobConfig.parse(
      s"""{ "name": "t", "num_of_retries": $retries, "components": [
         |  { "name": "r", "comp_type": "read_csv", "filepath": "x",
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $abSchema } },
         |  { "name": "w", $sink, "in_port_schemas": { "in": $abSchema } } ] }""".stripMargin)
    val jdbc = """"comp_type": "write_jdbc", "url": "jdbc:derby:memory:x", "entity_name": "T""""
    val mongo = """"comp_type": "write_mongodb", "store": "s", "entity_name": "c""""
    for ((sink, t) <- Seq(jdbc -> "write_jdbc", mongo -> "write_mongodb");
         mode <- Seq("", """, "if_exists": "insert"""", """, "if_exists": "INSERT"""")) {
      val e = intercept[IllegalArgumentException](JobGraph.validate(job(1, sink + mode)))
      assert(e.getMessage.contains(s"component w ($t)"))
      assert(e.getMessage.contains("if_exists insert cannot be combined with num_of_retries 1"))
      JobGraph.validate(job(0, sink + mode))
    }
    for (sink <- Seq(jdbc, mongo); mode <- Seq("upsert", "truncate"))
      JobGraph.validate(job(3, sink + s""", "if_exists": "$mode", "key_fields": ["a"]"""))
  }

  test("validation: a present param of the wrong type or outside its choices is rejected at create time") {
    def job(sink: String) =
      s"""{ "name": "t", "components": [
         |  { "name": "r", "comp_type": "read_csv", "filepath": "x",
         |    "routes": { "out": [ { "to": "d", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $abSchema } },
         |  { "name": "d", "comp_type": "dedup", "text_column": "b", "id_column": "a", $sink,
         |    "in_port_schemas": { "in": $abSchema },
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $abSchema } },
         |  { "name": "w", "comp_type": "write_json", "filepath": "y",
         |    "in_port_schemas": { "in": $abSchema } } ] }""".stripMargin
    val reg = new graft.api.ControlPlane.JobRegistry(spark)
    val cases = Seq(
      job(""""method": "exact"""").replace(""""filepath": "y"""", """"filepath": "y", "gzip": "on"""")
        -> "component w: param 'gzip' must be a boolean",
      job(""""method": "minhash", "num_hashes": "x"""")
        -> "component d: param 'num_hashes' must be an integer",
      job(""""method": "minhash", "emit": "bogus"""")
        -> "component d: param 'emit' must be one of survivors | pairs | cluster, got emit=bogus")
    for ((cfg, msg) <- cases) {
      val e1 = intercept[IllegalArgumentException](JobGraph.validate(JobConfig.parse(cfg)))
      assert(e1.getMessage.contains(msg), e1.getMessage)
      val e2 = intercept[IllegalArgumentException](reg.createJob(cfg))
      assert(e2.getMessage.contains(msg), e2.getMessage)
    }
    reg.createJob(job(""""method": "minhash", "num_hashes": "16", "emit": "pairs""""))
  }

  test("validation: read_mongodb sort entries must be [field, 1|-1]") {
    // a lenient collect dropped ["a", "1"] and accepted a direction of 2
    def job(sort: String) = JobConfig.parse(
      s"""{ "name": "t", "components": [
         |  { "name": "m", "comp_type": "read_mongodb", "store": "s", "entity_name": "c",
         |    "sort": $sort,
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $abSchema } },
         |  { "name": "w", "comp_type": "write_csv", "filepath": "y",
         |    "in_port_schemas": { "in": $abSchema } } ] }""".stripMargin)
    for (bad <- Seq("""[["a", "1"]]""", """[["a", 2]]""", """"a"""")) {
      val e = intercept[IllegalArgumentException](JobGraph.validate(job(bad)))
      assert(e.getMessage.contains("component m"), e.getMessage)
      assert(e.getMessage.contains("[field, 1|-1]"), e.getMessage)
    }
    JobGraph.validate(job("""[["a", 1], ["b", -1]]"""))
  }

  test("job config: num_of_retries and strategy_type use the strict readers") {
    def parse(fields: String) = JobConfig.parse(
      s"""{ "name": "t", $fields "components": [] }""")
    // a numeric string is the number, not a silent 0
    assert(parse(""""num_of_retries": "2",""").numOfRetries === 2)
    assert(parse("").numOfRetries === 0)
    assert(parse(""""strategy_type": "ROW",""").strategyType === "row")
    assert(parse("").strategyType === "bulk")
    for ((bad, msg) <- Seq(
        """"num_of_retries": -1,""" -> "num_of_retries must be >= 0",
        """"num_of_retries": 3000000000,""" -> "param 'num_of_retries' must be a 32-bit integer",
        """"num_of_retries": 1.5,""" -> "param 'num_of_retries' must be an integer",
        """"num_of_retries": true,""" -> "param 'num_of_retries' must be an integer",
        """"strategy_type": 5,""" -> "param 'strategy_type' must be a string")) {
      val e = intercept[IllegalArgumentException](parse(bad))
      assert(e.getMessage.contains(msg), e.getMessage)
      assert(e.getMessage.contains("job t"), e.getMessage)
    }
  }
}
