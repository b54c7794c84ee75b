package graft.streaming

import graft.SparkTestBase
import graft.config.JobConfig
import graft.graph.JobGraph
import org.apache.spark.sql.DataFrame
import java.nio.file.{Files, Paths}

/** Batch/streaming result parity for declarative job configs — the Spark
  * mapping of the reference's cross-strategy contract (its e2e suite runs
  * the same config under row/bulk/bigdata and asserts equal results,
  * tests/combinations_jobs/mixed/file_filter_file/test_file_filter_file_jobs.py:1-60).
  * Here the SAME JobSpec runs through the batch fold (JobGraph.build →
  * runSinks) and through StreamingJobs.runOnce (readStream +
  * Trigger.AvailableNow), and each sink's readback must match exactly.
  */
class StreamingJobsSpec extends SparkTestBase {

  // wiped per suite run: inputs are rewritten with fresh part-file names
  // each run, so a persisted checkpoint would re-process them and append
  // to sinks the batch side overwrites
  locally {
    val root = Paths.get("target", "test-tmp", "sjobs")
    if (Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator().asScala.foreach(Files.deleteIfExists(_))
      finally walk.close()
    }
  }

  private def tmp(name: String): String = {
    val p = Paths.get("target", "test-tmp", "sjobs", name).toAbsolutePath
    Files.createDirectories(p.getParent)
    p.toString
  }

  /** Read a sink directory back and canonicalize to sorted row strings. */
  private def slurp(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(v => String.valueOf(v)).mkString("|")).sorted.toSeq

  private val abSchema =
    """{ "fields": [
      |  { "name": "a", "data_type": "string" },
      |  { "name": "b", "data_type": "string" } ] }""".stripMargin

  test("csv → filter(pass+fail) → parquet: streaming matches batch on both ports") {
    import spark.implicits._
    val in = tmp("flt_in")
    graft.io.CsvIO.write(
      Seq(("1", "keep"), ("2", "drop"), ("3", "keep"), ("4", "drop"), ("5", "keep"))
        .toDF("a", "b"), in)
    def cfg(passOut: String, failOut: String) =
      s"""{ "name": "flt", "components": [
         |  { "name": "r", "comp_type": "read_csv", "filepath": "$in",
         |    "routes": { "out": [ { "to": "f", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $abSchema } },
         |  { "name": "f", "comp_type": "filter",
         |    "rule": { "column": "b", "operator": "==", "value": "keep" },
         |    "in_port_schemas": { "in": $abSchema },
         |    "routes": { "pass": [ { "to": "wp", "in_port": "in" } ],
         |                "fail": [ { "to": "wf", "in_port": "in" } ] },
         |    "out_port_schemas": { "pass": $abSchema, "fail": $abSchema } },
         |  { "name": "wp", "comp_type": "write_parquet", "filepath": "$passOut",
         |    "in_port_schemas": { "in": $abSchema } },
         |  { "name": "wf", "comp_type": "write_parquet", "filepath": "$failOut",
         |    "in_port_schemas": { "in": $abSchema } } ] }""".stripMargin

    val (bp, bf) = (tmp("flt_batch_pass"), tmp("flt_batch_fail"))
    val built = JobGraph.build(spark, JobConfig.parse(cfg(bp, bf)))
    built.runSinks(); built.close()

    val (sp, sf) = (tmp("flt_stream_pass"), tmp("flt_stream_fail"))
    StreamingJobs.runOnce(spark, JobConfig.parse(cfg(sp, sf)), tmp("flt_ckpt"))

    assert(slurp(spark.read.parquet(sp)) === slurp(spark.read.parquet(bp)))
    assert(slurp(spark.read.parquet(sf)) === slurp(spark.read.parquet(bf)))
    assert(slurp(spark.read.parquet(sp)).size === 3)
  }

  test("ndjson → type_conversion → ndjson: streaming matches batch") {
    val inDir = tmp("tc_in")
    Files.createDirectories(Paths.get(inDir))
    // glob keeps the batch NDJSON path heuristic (suffix) AND gives the
    // streaming file source a directory base path
    val in = s"$inDir/*.ndjson"
    Files.writeString(Paths.get(inDir, "part.ndjson"),
      """{"a":"1","b":"x"}
        |{"a":"oops","b":"y"}
        |{"a":"3","b":"z"}
        |""".stripMargin)
    def cfg(out: String) =
      s"""{ "name": "tc", "components": [
         |  { "name": "r", "comp_type": "read_json", "filepath": "$in",
         |    "format": "ndjson",
         |    "routes": { "out": [ { "to": "c", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $abSchema } },
         |  { "name": "c", "comp_type": "type_conversion",
         |    "rules": [ { "column_path": "a", "target": "integer",
         |                 "on_error": "null" } ],
         |    "in_port_schemas": { "in": $abSchema },
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] } },
         |  { "name": "w", "comp_type": "write_json", "filepath": "$out",
         |    "format": "ndjson",
         |    "in_port_schemas": { "in": { "fields": [
         |      { "name": "a", "data_type": "integer", "nullable": true },
         |      { "name": "b", "data_type": "string" } ] } } } ] }""".stripMargin

    val bOut = tmp("tc_batch_out")
    val built = JobGraph.build(spark, JobConfig.parse(cfg(bOut)))
    built.runSinks(); built.close()

    val sOut = tmp("tc_stream_out")
    StreamingJobs.runOnce(spark, JobConfig.parse(cfg(sOut)), tmp("tc_ckpt"))

    assert(slurp(spark.read.json(sOut)) === slurp(spark.read.json(bOut)))
    assert(spark.read.json(sOut).count() === 3)
  }

  test("ndjson → pii_redact → ndjson: streaming matches batch") {
    val inDir = tmp("pii_in")
    Files.createDirectories(Paths.get(inDir))
    val in = s"$inDir/*.ndjson"
    Files.writeString(Paths.get(inDir, "part.ndjson"),
      """{"id":"1","text":"mail bob@x.io or call 555-123-4567"}
        |{"id":"2","text":"host 10.0.0.1 clean otherwise"}
        |{"id":"3","text":"no pii"}
        |""".stripMargin)
    val inSchema =
      """{ "fields": [
        |  { "name": "id", "data_type": "string" },
        |  { "name": "text", "data_type": "string" } ] }""".stripMargin
    val outSchema =
      """{ "fields": [
        |  { "name": "id", "data_type": "string" },
        |  { "name": "text", "data_type": "string" },
        |  { "name": "n_emails", "data_type": "integer" },
        |  { "name": "n_phones", "data_type": "integer" },
        |  { "name": "n_ips", "data_type": "integer" } ] }""".stripMargin
    def cfg(out: String) =
      s"""{ "name": "pii", "components": [
         |  { "name": "r", "comp_type": "read_json", "filepath": "$in",
         |    "format": "ndjson",
         |    "routes": { "out": [ { "to": "p", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $inSchema } },
         |  { "name": "p", "comp_type": "pii_redact",
         |    "in_port_schemas": { "in": $inSchema },
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $outSchema } },
         |  { "name": "w", "comp_type": "write_json", "filepath": "$out",
         |    "format": "ndjson",
         |    "in_port_schemas": { "in": $outSchema } } ] }""".stripMargin
    val bOut = tmp("pii_batch_out")
    val built = JobGraph.build(spark, JobConfig.parse(cfg(bOut)))
    built.runSinks(); built.close()
    val sOut = tmp("pii_stream_out")
    StreamingJobs.runOnce(spark, JobConfig.parse(cfg(sOut)), tmp("pii_ckpt"))
    assert(slurp(spark.read.json(sOut)) === slurp(spark.read.json(bOut)))
    val masked = spark.read.json(bOut).orderBy("id").collect()
      .map(_.getAs[String]("text"))
    assert(masked(0) === "mail <EMAIL> or call <PHONE>")
    assert(masked(1) === "host <IP> clean otherwise")
  }

  test("parquet → schema_mapping map fan-out → two parquet sinks: parity per port") {
    import spark.implicits._
    val in = tmp("map_in")
    Seq(("1", "alpha"), ("2", "beta"), ("3", "gamma"))
      .toDF("a", "b").write.mode("overwrite").parquet(in)
    val uidSchema =
      """{ "fields": [
        |  { "name": "uid", "data_type": "string" },
        |  { "name": "uname", "data_type": "string" } ] }""".stripMargin
    def cfg(outA: String, outB: String) =
      s"""{ "name": "fan", "components": [
         |  { "name": "r", "comp_type": "read_parquet", "filepath": "$in",
         |    "routes": { "out": [ { "to": "map", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $abSchema } },
         |  { "name": "map", "comp_type": "schema_mapping",
         |    "extra_input_ports": ["in"],
         |    "extra_output_ports": ["A", "B"],
         |    "rules_by_dest": {
         |      "A": { "uid":   { "src_port": "in", "src_path": "a" },
         |             "uname": { "src_port": "in", "src_path": "b" } },
         |      "B": { "a": { "src_port": "in", "src_path": "a" },
         |             "b": { "src_port": "in", "src_path": "b" } } },
         |    "in_port_schemas": { "in": $abSchema },
         |    "routes": { "A": [ { "to": "wa", "in_port": "in" } ],
         |                "B": [ { "to": "wb", "in_port": "in" } ] },
         |    "out_port_schemas": { "A": $uidSchema, "B": $abSchema } },
         |  { "name": "wa", "comp_type": "write_parquet", "filepath": "$outA",
         |    "in_port_schemas": { "in": $uidSchema } },
         |  { "name": "wb", "comp_type": "write_parquet", "filepath": "$outB",
         |    "in_port_schemas": { "in": $abSchema } } ] }""".stripMargin

    val (ba, bb) = (tmp("map_batch_a"), tmp("map_batch_b"))
    val built = JobGraph.build(spark, JobConfig.parse(cfg(ba, bb)))
    built.runSinks(); built.close()

    val (sa, sb) = (tmp("map_stream_a"), tmp("map_stream_b"))
    StreamingJobs.runOnce(spark, JobConfig.parse(cfg(sa, sb)), tmp("map_ckpt"))

    assert(slurp(spark.read.parquet(sa)) === slurp(spark.read.parquet(ba)))
    assert(slurp(spark.read.parquet(sb)) === slurp(spark.read.parquet(bb)))
    assert(slurp(spark.read.parquet(sa)).size === 3)
  }

  test("runOnce is incremental: new files are drained, old ones not rewritten") {
    import spark.implicits._
    val in = tmp("inc_in")
    val out = tmp("inc_out")
    graft.io.CsvIO.write(Seq(("1", "x")).toDF("a", "b"), in)
    val cfg =
      s"""{ "name": "inc", "components": [
         |  { "name": "r", "comp_type": "read_csv", "filepath": "$in",
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $abSchema } },
         |  { "name": "w", "comp_type": "write_parquet", "filepath": "$out",
         |    "in_port_schemas": { "in": $abSchema } } ] }""".stripMargin
    val ckpt = tmp("inc_ckpt")
    StreamingJobs.runOnce(spark, JobConfig.parse(cfg), ckpt)
    assert(slurp(spark.read.parquet(out)) === Seq("1|x"))
    // drop a second file into the source dir; a re-run with the same
    // checkpoint must process ONLY the new file (exactly-once per input)
    Files.writeString(Paths.get(in, "more.csv"), "a,b\n2,y\n")
    StreamingJobs.runOnce(spark, JobConfig.parse(cfg), ckpt)
    assert(slurp(spark.read.parquet(out)) === Seq("1|x", "2|y"))
  }

  test("streaming_group_cap: quota exact across microbatches and checkpointed runs") {
    import spark.implicits._
    val in = tmp("gcap_in")
    Files.createDirectories(Paths.get(in))
    Seq((1L, "g1"), (2L, "g1"), (3L, "g1"), (4L, "g1"), (5L, "g2"))
      .toDF("id", "g").coalesce(1).write.mode("append").parquet(in)
    val schema =
      """{ "fields": [
        |  { "name": "id", "data_type": "integer" },
        |  { "name": "g", "data_type": "string" } ] }""".stripMargin
    val out = tmp("gcap_out")
    val ckpt = tmp("gcap_ckpt")
    val cfg =
      s"""{ "name": "gcap", "components": [
         |  { "name": "r", "comp_type": "read_parquet", "filepath": "$in",
         |    "routes": { "out": [ { "to": "c", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $schema } },
         |  { "name": "c", "comp_type": "streaming_group_cap",
         |    "cap": 3, "by": ["g"],
         |    "in_port_schemas": { "in": $schema },
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $schema } },
         |  { "name": "w", "comp_type": "write_parquet", "filepath": "$out",
         |    "in_port_schemas": { "in": $schema } } ] }""".stripMargin
    StreamingJobs.runOnce(spark, JobConfig.parse(cfg), ckpt)
    val r1 = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(r1.count(_._2 == "g1") === 3, s"g1 over cap in ${r1.toSeq}")
    assert(r1.count(_._2 == "g2") === 1)
    assert(r1.map(_._1).toSet.subsetOf((1L to 5L).toSet))
    assert(r1.map(_._1).distinct.length === r1.length, "no duplicates")
    // second drain against the SAME checkpoint: the g1 counter is full
    // (emits nothing more), g2 holds 1 of 3 (emits exactly 2 of the 3
    // new arrivals) — the state store carries the quota across runs
    Seq((6L, "g1"), (7L, "g1"), (8L, "g2"), (9L, "g2"), (10L, "g2"))
      .toDF("id", "g").coalesce(1).write.mode("append").parquet(in)
    StreamingJobs.runOnce(spark, JobConfig.parse(cfg), ckpt)
    val r2 = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(r2.count(_._2 == "g1") === 3, s"g1 leaked past its cap: ${r2.toSeq}")
    assert(r2.count(_._2 == "g2") === 3, s"g2 quota not filled: ${r2.toSeq}")
    assert(r2.map(_._1).toSet.subsetOf((1L to 10L).toSet))
    assert(r2.map(_._1).distinct.length === r2.length, "no duplicates")
    // config guards: missing cap, empty by
    intercept[IllegalArgumentException] {
      StreamingJobs.runOnce(spark, JobConfig.parse(
        cfg.replace(""""cap": 3, """, "")), tmp("gcap_ckpt2"))
    }
    intercept[IllegalArgumentException] {
      StreamingJobs.runOnce(spark, JobConfig.parse(
        cfg.replace(""""by": ["g"]""", """"by": []""")), tmp("gcap_ckpt3"))
    }
  }

  test("streaming_aggregation: drained windowed counts match the batch computation") {
    import org.apache.spark.sql.functions._
    val inDir = tmp("sagg_in")
    Files.createDirectories(Paths.get(inDir))
    val in = s"$inDir/*.ndjson"
    // two real hour-windows plus a far-future sentinel row: on the drain's
    // closing (no-data) micro-batch the watermark advances to sentinel-10min,
    // so every REAL window is past the watermark and append mode emits it;
    // the sentinel's own window stays open and is withheld — the
    // deterministic drain contract the comp_type documents
    Files.writeString(Paths.get(inDir, "part.ndjson"),
      """{"ts":"2024-01-01 00:05:00","k":"a","v":1}
        |{"ts":"2024-01-01 00:15:00","k":"a","v":2}
        |{"ts":"2024-01-01 00:25:00","k":"b","v":4}
        |{"ts":"2024-01-01 01:10:00","k":"a","v":8}
        |{"ts":"2024-01-02 00:00:00","k":"z","v":0}
        |""".stripMargin)
    val evtSchema =
      """{ "fields": [
        |  { "name": "ts", "data_type": "string" },
        |  { "name": "k", "data_type": "string" },
        |  { "name": "v", "data_type": "integer" } ] }""".stripMargin
    val aggSchema =
      """{ "fields": [
        |  { "name": "window_start", "data_type": "string" },
        |  { "name": "window_end", "data_type": "string" },
        |  { "name": "k", "data_type": "string" },
        |  { "name": "n", "data_type": "integer" },
        |  { "name": "sv", "data_type": "integer" } ] }""".stripMargin
    val out = tmp("sagg_out")
    val cfg =
      s"""{ "name": "sagg", "components": [
         |  { "name": "r", "comp_type": "read_json", "filepath": "$in",
         |    "format": "ndjson",
         |    "routes": { "out": [ { "to": "agg", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $evtSchema } },
         |  { "name": "agg", "comp_type": "streaming_aggregation",
         |    "time_column": "ts", "watermark": "10 minutes", "window": "1 hour",
         |    "group_by": ["k"],
         |    "aggregations": [ { "src": "*", "op": "count", "dest": "n" },
         |                      { "src": "v", "op": "sum", "dest": "sv" } ],
         |    "in_port_schemas": { "in": $evtSchema },
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $aggSchema } },
         |  { "name": "w", "comp_type": "write_parquet", "filepath": "$out",
         |    "in_port_schemas": { "in": $aggSchema } } ] }""".stripMargin
    StreamingJobs.runOnce(spark, JobConfig.parse(cfg), tmp("sagg_ckpt"))

    // batch reference: identical windowed aggregation over the real rows
    import org.apache.spark.sql.types._
    val sch = StructType(Seq(StructField("ts", StringType),
      StructField("k", StringType), StructField("v", LongType)))
    val batch = spark.read.schema(sch).json(inDir)
      .filter(col("ts") < "2024-01-02")
      .withColumn("et", to_timestamp(col("ts")))
      .groupBy(window(col("et"), "1 hour").as("w"), col("k"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
      .select(col("w.start").cast("string").as("window_start"),
        col("w.end").cast("string").as("window_end"),
        col("k"), col("n"), col("sv"))
    assert(slurp(spark.read.parquet(out)) === slurp(batch))
    assert(spark.read.parquet(out).count() === 3)
  }

  test("streaming_aggregation with slide: overlapping windows match batch") {
    import org.apache.spark.sql.functions._
    val inDir = tmp("sagg2_in")
    Files.createDirectories(Paths.get(inDir))
    val in = s"$inDir/*.ndjson"
    Files.writeString(Paths.get(inDir, "part.ndjson"),
      """{"ts":"2024-01-01 00:05:00","k":"a","v":1}
        |{"ts":"2024-01-01 00:40:00","k":"a","v":2}
        |{"ts":"2024-01-01 01:10:00","k":"b","v":4}
        |{"ts":"2024-01-02 00:00:00","k":"z","v":0}
        |""".stripMargin)
    val evtSchema =
      """{ "fields": [
        |  { "name": "ts", "data_type": "string" },
        |  { "name": "k", "data_type": "string" },
        |  { "name": "v", "data_type": "integer" } ] }""".stripMargin
    val aggSchema =
      """{ "fields": [
        |  { "name": "window_start", "data_type": "string" },
        |  { "name": "window_end", "data_type": "string" },
        |  { "name": "k", "data_type": "string" },
        |  { "name": "sv", "data_type": "integer" } ] }""".stripMargin
    val out = tmp("sagg2_out")
    val cfg =
      s"""{ "name": "sagg2", "components": [
         |  { "name": "r", "comp_type": "read_json", "filepath": "$in",
         |    "format": "ndjson",
         |    "routes": { "out": [ { "to": "agg", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $evtSchema } },
         |  { "name": "agg", "comp_type": "streaming_aggregation",
         |    "time_column": "ts", "watermark": "10 minutes",
         |    "window": "1 hour", "slide": "30 minutes",
         |    "group_by": ["k"],
         |    "aggregations": [ { "src": "v", "op": "sum", "dest": "sv" } ],
         |    "in_port_schemas": { "in": $evtSchema },
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $aggSchema } },
         |  { "name": "w", "comp_type": "write_parquet", "filepath": "$out",
         |    "in_port_schemas": { "in": $aggSchema } } ] }""".stripMargin
    StreamingJobs.runOnce(spark, JobConfig.parse(cfg), tmp("sagg2_ckpt"))

    import org.apache.spark.sql.types._
    val sch = StructType(Seq(StructField("ts", StringType),
      StructField("k", StringType), StructField("v", LongType)))
    val batch = spark.read.schema(sch).json(inDir)
      .filter(col("ts") < "2024-01-02")
      .withColumn("et", to_timestamp(col("ts")))
      .groupBy(window(col("et"), "1 hour", "30 minutes").as("w"), col("k"))
      .agg(sum(col("v")).as("sv"))
      .select(col("w.start").cast("string").as("window_start"),
        col("w.end").cast("string").as("window_end"), col("k"), col("sv"))
    assert(slurp(spark.read.parquet(out)) === slurp(batch))
    // each real event lands in TWO overlapping hour windows; the two `a`
    // events share the 00:00-01:00 window, so 3 events → 5 (window,k) rows
    assert(spark.read.parquet(out).count() === 5)
  }

  test("streaming_aggregation with session_gap: sessions match batch session_window") {
    import org.apache.spark.sql.functions._
    val inDir = tmp("sagg3_in")
    Files.createDirectories(Paths.get(inDir))
    val in = s"$inDir/*.ndjson"
    // user a: two events 5 min apart (one session with a 10-min gap) then
    // one 30 min later (second session); user b: one event. The far-future
    // sentinel advances the watermark past every real session on the drain.
    Files.writeString(Paths.get(inDir, "part.ndjson"),
      """{"ts":"2024-01-01 00:00:00","k":"a","v":1}
        |{"ts":"2024-01-01 00:05:00","k":"a","v":2}
        |{"ts":"2024-01-01 00:35:00","k":"a","v":4}
        |{"ts":"2024-01-01 00:07:00","k":"b","v":8}
        |{"ts":"2024-01-02 00:00:00","k":"z","v":0}
        |""".stripMargin)
    val evtSchema =
      """{ "fields": [
        |  { "name": "ts", "data_type": "string" },
        |  { "name": "k", "data_type": "string" },
        |  { "name": "v", "data_type": "integer" } ] }""".stripMargin
    val aggSchema =
      """{ "fields": [
        |  { "name": "window_start", "data_type": "string" },
        |  { "name": "window_end", "data_type": "string" },
        |  { "name": "k", "data_type": "string" },
        |  { "name": "sv", "data_type": "integer" } ] }""".stripMargin
    val out = tmp("sagg3_out")
    val cfg =
      s"""{ "name": "sagg3", "components": [
         |  { "name": "r", "comp_type": "read_json", "filepath": "$in",
         |    "format": "ndjson",
         |    "routes": { "out": [ { "to": "agg", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $evtSchema } },
         |  { "name": "agg", "comp_type": "streaming_aggregation",
         |    "time_column": "ts", "watermark": "10 minutes",
         |    "session_gap": "10 minutes",
         |    "group_by": ["k"],
         |    "aggregations": [ { "src": "v", "op": "sum", "dest": "sv" } ],
         |    "in_port_schemas": { "in": $evtSchema },
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $aggSchema } },
         |  { "name": "w", "comp_type": "write_parquet", "filepath": "$out",
         |    "in_port_schemas": { "in": $aggSchema } } ] }""".stripMargin
    StreamingJobs.runOnce(spark, JobConfig.parse(cfg), tmp("sagg3_ckpt"))

    import org.apache.spark.sql.types._
    val sch = StructType(Seq(StructField("ts", StringType),
      StructField("k", StringType), StructField("v", LongType)))
    val batch = spark.read.schema(sch).json(inDir)
      .filter(col("ts") < "2024-01-02")
      .withColumn("et", to_timestamp(col("ts")))
      .groupBy(session_window(col("et"), "10 minutes").as("w"), col("k"))
      .agg(sum(col("v")).as("sv"))
      .select(col("w.start").cast("string").as("window_start"),
        col("w.end").cast("string").as("window_end"), col("k"), col("sv"))
    assert(slurp(spark.read.parquet(out)) === slurp(batch))
    // a's first two events merge into ONE session; 3 sessions total
    assert(spark.read.parquet(out).count() === 3)
  }

  test("INT64 time_column requires an explicit time_unit; seconds unit windows correctly") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val inDir = tmp("sunit_in")
    Files.createDirectories(Paths.get(inDir))
    // epoch-SECONDS longs: 2024-01-01T00:10 and T00:50 (same hour
    // window) + a far-future sentinel that advances the watermark past
    // the real window on the drain (it stays open itself, append mode)
    Seq((1704067800L, "a", 1L), (1704070200L, "a", 2L),
        (1704154200L, "z", 0L))
      .toDF("ts", "k", "v").write.mode("overwrite").parquet(inDir)
    val evtSchema =
      """{ "fields": [
        |  { "name": "ts", "data_type": "integer" },
        |  { "name": "k", "data_type": "string" },
        |  { "name": "v", "data_type": "integer" } ] }""".stripMargin
    val aggSchema =
      """{ "fields": [
        |  { "name": "window_start", "data_type": "string" },
        |  { "name": "window_end", "data_type": "string" },
        |  { "name": "k", "data_type": "string" },
        |  { "name": "sv", "data_type": "integer" } ] }""".stripMargin
    def cfg(unitLine: String, out: String) =
      s"""{ "name": "sunit", "components": [
         |  { "name": "r", "comp_type": "read_parquet", "filepath": "$inDir",
         |    "routes": { "out": [ { "to": "agg", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $evtSchema } },
         |  { "name": "agg", "comp_type": "streaming_aggregation",
         |    "time_column": "ts", "watermark": "10 minutes",
         |    "window": "1 hour", $unitLine
         |    "group_by": ["k"],
         |    "aggregations": [ { "src": "v", "op": "sum", "dest": "sv" } ],
         |    "in_port_schemas": { "in": $evtSchema },
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $aggSchema } },
         |  { "name": "w", "comp_type": "write_parquet", "filepath": "$out",
         |    "in_port_schemas": { "in": $aggSchema } } ] }""".stripMargin
    // no time_unit: an epoch long's scale is not inferable — loud error
    val e = intercept[IllegalArgumentException] {
      StreamingJobs.plan(spark, JobConfig.parse(cfg("", tmp("sunit_bad"))))
    }
    assert(e.getMessage.contains("time_unit"))
    // declared seconds: both events land in the 00:00-01:00 window
    val out = tmp("sunit_out")
    StreamingJobs.runOnce(spark,
      JobConfig.parse(cfg(""""time_unit": "seconds",""", out)), tmp("sunit_ckpt"))
    val got = spark.read.parquet(out).collect()
    assert(got.length === 1)
    assert(got.head.getAs[String]("window_start") === "2024-01-01 00:00:00")
    assert(got.head.getAs[Long]("sv") === 3L)
    // batch/stream parity: the SAME time_unit contract through the batch
    // `aggregation` comp_type produces the same window (plus the
    // sentinel's still-open window, which batch has no watermark to hold)
    val outB = tmp("sunit_out_batch")
    val batchCfg = cfg(""""time_unit": "seconds",""", outB)
      .replace("streaming_aggregation", "aggregation")
    val built = JobGraph.build(spark, JobConfig.parse(batchCfg))
    built.runSinks(); built.close()
    val gotB = spark.read.parquet(outB).collect()
      .map(r => (r.getAs[String]("window_start"), r.getAs[String]("k"),
        r.getAs[Long]("sv"))).sortBy(_._1)
    assert(gotB.toSeq === Seq(("2024-01-01 00:00:00", "a", 3L),
      ("2024-01-02 00:00:00", "z", 0L)))
  }

  test("streaming_dedup: drained exact dedup matches Dedup.exact") {
    import org.apache.spark.sql.functions._
    val inDir = tmp("sdd_in")
    Files.createDirectories(Paths.get(inDir))
    val in = s"$inDir/*.ndjson"
    // duplicates are IDENTICAL rows (id, ts and text): the batch operator
    // keeps the lowest id per key, the stream keeps first arrival — on
    // identical rows both describe the same output, so parity is
    // arrival-order-independent. Keys normalize (trim/case/whitespace)
    // through the shared Dedup.exactKey.
    Files.writeString(Paths.get(inDir, "part.ndjson"),
      """{"doc_id":1,"ts":"2024-01-01 00:01:00","text":"alpha beta"}
        |{"doc_id":1,"ts":"2024-01-01 00:01:00","text":"alpha beta"}
        |{"doc_id":3,"ts":"2024-01-01 00:03:00","text":"  ALPHA   beta "}
        |{"doc_id":4,"ts":"2024-01-01 00:04:00","text":"gamma delta"}
        |{"doc_id":5,"ts":"2024-01-01 00:05:00","text":"epsilon"}
        |{"doc_id":5,"ts":"2024-01-01 00:05:00","text":"epsilon"}
        |""".stripMargin)
    val docSchema =
      """{ "fields": [
        |  { "name": "doc_id", "data_type": "integer" },
        |  { "name": "ts", "data_type": "string" },
        |  { "name": "text", "data_type": "string" } ] }""".stripMargin
    val out = tmp("sdd_out")
    val cfg =
      s"""{ "name": "sdd", "components": [
         |  { "name": "r", "comp_type": "read_json", "filepath": "$in",
         |    "format": "ndjson",
         |    "routes": { "out": [ { "to": "dd", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $docSchema } },
         |  { "name": "dd", "comp_type": "streaming_dedup",
         |    "text_column": "text", "time_column": "ts",
         |    "watermark": "1 hour",
         |    "in_port_schemas": { "in": $docSchema },
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $docSchema } },
         |  { "name": "w", "comp_type": "write_parquet", "filepath": "$out",
         |    "in_port_schemas": { "in": $docSchema } } ] }""".stripMargin
    StreamingJobs.runOnce(spark, JobConfig.parse(cfg), tmp("sdd_ckpt"))

    // batch reference: the SAME input through the batch operator. doc 3 is
    // a normalized duplicate of doc 1 — the watermark horizon covers the
    // whole drain, so the stream must drop it exactly like the batch side.
    import org.apache.spark.sql.types._
    val sch = StructType(Seq(StructField("doc_id", LongType),
      StructField("ts", StringType), StructField("text", StringType)))
    val batch = graft.scale.Dedup.exact(
      spark.read.schema(sch).json(inDir), "text", "doc_id")
    assert(slurp(spark.read.parquet(out)) === slurp(batch))
    assert(spark.read.parquet(out).count() === 3)
  }

  test("streaming_asof_join: stream-static enrichment matches batch AsofJoin per direction") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val lin = tmp("sasof_left")
    val rin = tmp("sasof_right")
    // the AsofJoinSpec fixture plus a boundary row per direction: equal
    // instants (id=1), between-rows (id=2), before-all (id=3),
    // after-all-for-key (id=5 has no u3 rows at all)
    Seq((1L, "u1", 10L), (2L, "u1", 20L), (3L, "u1", 5L),
      (4L, "u2", 15L), (5L, "u3", 100L), (6L, "u2", 16L), (7L, "u1", 14L))
      .toDF("id", "user", "t").write.mode("overwrite").parquet(lin)
    Seq(("u1", 10L, "a"), ("u1", 18L, "b"), ("u2", 16L, "c"))
      .toDF("user", "t", "tag").write.mode("overwrite").parquet(rin)
    val lSchema =
      """{ "fields": [
        |  { "name": "id", "data_type": "integer" },
        |  { "name": "user", "data_type": "string" },
        |  { "name": "t", "data_type": "integer" } ] }""".stripMargin
    val oSchema =
      """{ "fields": [
        |  { "name": "user", "data_type": "string" },
        |  { "name": "id", "data_type": "integer" },
        |  { "name": "t", "data_type": "integer" },
        |  { "name": "tag", "data_type": "string", "nullable": true } ] }""".stripMargin
    val rSchema =
      """{ "fields": [
        |  { "name": "user", "data_type": "string" },
        |  { "name": "t", "data_type": "integer" },
        |  { "name": "tag", "data_type": "string" } ] }""".stripMargin
    for ((dir, tol) <- Seq(("backward", None), ("forward", None),
                           ("nearest", None), ("backward", Some("4")))) {
      val tag = s"${dir}_${tol.getOrElse("notol")}"
      val out = tmp(s"sasof_out_$tag")
      val tolJson = tol.fold("")(t => s""""tolerance": "$t", """)
      val cfg =
        s"""{ "name": "sasof", "components": [
           |  { "name": "r", "comp_type": "read_parquet", "filepath": "$lin",
           |    "routes": { "out": [ { "to": "aj", "in_port": "left" } ] },
           |    "out_port_schemas": { "out": $lSchema } },
           |  { "name": "dim", "comp_type": "read_parquet", "filepath": "$rin",
           |    "routes": { "out": [ { "to": "aj", "in_port": "right" } ] },
           |    "out_port_schemas": { "out": $rSchema } },
           |  { "name": "aj", "comp_type": "asof_join", "strategy": "broadcast",
           |    "on": "t", "by": ["user"],
           |    "direction": "$dir", $tolJson
           |    "in_port_schemas": { "left": $lSchema, "right": $rSchema },
           |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
           |    "out_port_schemas": { "out": $oSchema } },
           |  { "name": "w", "comp_type": "write_parquet", "filepath": "$out",
           |    "in_port_schemas": { "in": $oSchema } } ] }""".stripMargin
      StreamingJobs.runOnce(spark, JobConfig.parse(cfg), tmp(s"sasof_ckpt_$tag"))
      val batch = graft.ops.AsofJoin(
        spark.read.parquet(lin), spark.read.parquet(rin),
        on = "t", by = Seq("user"), direction = dir, tolerance = tol)
      assert(slurp(spark.read.parquet(out)) === slurp(batch),
        s"stream/batch divergence for direction=$dir tolerance=$tol")
      assert(spark.read.parquet(out).count() === 7)
    }
    // the static side must stay a batch frame: the enriched stream plan
    // carries no state store (stateless row-wise join)
    val probe = graft.ops.AsofJoin.enrichStatic(
      spark.readStream.schema(spark.read.parquet(lin).schema).parquet(lin),
      spark.read.parquet(rin), on = "t", by = Seq("user"))
    assert(probe.isStreaming, "enrichment must preserve streaming-ness")
  }

  test("streaming_range_join: stream-static intervals match batch RangeJoin, inner and left") {
    import spark.implicits._
    val lin = tmp("srj_left")
    val rin = tmp("srj_right")
    // boundary rows: t=4 inside both overlapping k1 intervals, t=1
    // before all, t=7 outside the k2 interval
    Seq((1L, "k1", 1L), (2L, "k1", 4L), (3L, "k1", 5L),
      (4L, "k2", 3L), (5L, "k2", 7L))
      .toDF("id", "k", "t").write.mode("overwrite").parquet(lin)
    Seq(("k1", 2L, 4L, "A"), ("k1", 4L, 6L, "B"), ("k2", 1L, 3L, "C"))
      .toDF("k", "s", "e", "tag").write.mode("overwrite").parquet(rin)
    val lSchema =
      """{ "fields": [
        |  { "name": "id", "data_type": "integer" },
        |  { "name": "k", "data_type": "string" },
        |  { "name": "t", "data_type": "integer" } ] }""".stripMargin
    val oSchema =
      """{ "fields": [
        |  { "name": "id", "data_type": "integer" },
        |  { "name": "k", "data_type": "string" },
        |  { "name": "t", "data_type": "integer" },
        |  { "name": "s", "data_type": "integer", "nullable": true },
        |  { "name": "e", "data_type": "integer", "nullable": true },
        |  { "name": "tag", "data_type": "string", "nullable": true } ] }""".stripMargin
    val rSchema =
      """{ "fields": [
        |  { "name": "k", "data_type": "string" },
        |  { "name": "s", "data_type": "integer" },
        |  { "name": "e", "data_type": "integer" },
        |  { "name": "tag", "data_type": "string" } ] }""".stripMargin
    for (jt <- Seq("inner", "left")) {
      val out = tmp(s"srj_out_$jt")
      val cfg =
        s"""{ "name": "srj", "components": [
           |  { "name": "r", "comp_type": "read_parquet", "filepath": "$lin",
           |    "routes": { "out": [ { "to": "rj", "in_port": "left" } ] },
           |    "out_port_schemas": { "out": $lSchema } },
           |  { "name": "iv", "comp_type": "read_parquet", "filepath": "$rin",
           |    "routes": { "out": [ { "to": "rj", "in_port": "right" } ] },
           |    "out_port_schemas": { "out": $rSchema } },
           |  { "name": "rj", "comp_type": "range_join",
           |    "on": "t", "start": "s", "end": "e",
           |    "by": ["k"], "join_type": "$jt",
           |    "in_port_schemas": { "left": $lSchema, "right": $rSchema },
           |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
           |    "out_port_schemas": { "out": $oSchema } },
           |  { "name": "w", "comp_type": "write_parquet", "filepath": "$out",
           |    "in_port_schemas": { "in": $oSchema } } ] }""".stripMargin
      StreamingJobs.runOnce(spark, JobConfig.parse(cfg), tmp(s"srj_ckpt_$jt"))
      val batch = graft.ops.RangeJoin(
        spark.read.parquet(lin), spark.read.parquet(rin),
        on = "t", start = "s", end = "e", by = Seq("k"), joinType = jt)
      assert(slurp(spark.read.parquet(out)) === slurp(batch),
        s"stream/batch divergence for join_type=$jt")
    }
    assert(spark.read.parquet(tmp("srj_out_inner")).count() === 4)
    assert(spark.read.parquet(tmp("srj_out_left")).count() === 6)
  }

  test("streaming_range_join: KEYLESS broadcast shape runs under streaming, inner and left") {
    // pins that the BroadcastNestedLoopJoin against a streaming left side
    // (RangeJoin's keyless plan) actually executes under Structured
    // Streaming for both join types — a Spark restriction on stream-side
    // non-equi joins must surface here, not in a user job
    import spark.implicits._
    val lin = tmp("srjk_left")
    val rin = tmp("srjk_right")
    Seq((1L, 1L), (2L, 4L), (3L, 5L), (4L, 3L), (5L, 7L))
      .toDF("id", "t").write.mode("overwrite").parquet(lin)
    Seq((2L, 4L, "A"), (4L, 6L, "B")).toDF("s", "e", "tag")
      .write.mode("overwrite").parquet(rin)
    val lSchema =
      """{ "fields": [
        |  { "name": "id", "data_type": "integer" },
        |  { "name": "t", "data_type": "integer" } ] }""".stripMargin
    val oSchema =
      """{ "fields": [
        |  { "name": "id", "data_type": "integer" },
        |  { "name": "t", "data_type": "integer" },
        |  { "name": "s", "data_type": "integer", "nullable": true },
        |  { "name": "e", "data_type": "integer", "nullable": true },
        |  { "name": "tag", "data_type": "string", "nullable": true } ] }""".stripMargin
    val rSchema =
      """{ "fields": [
        |  { "name": "s", "data_type": "integer" },
        |  { "name": "e", "data_type": "integer" },
        |  { "name": "tag", "data_type": "string" } ] }""".stripMargin
    for (jt <- Seq("inner", "left")) {
      val out = tmp(s"srjk_out_$jt")
      val cfg =
        s"""{ "name": "srjk", "components": [
           |  { "name": "r", "comp_type": "read_parquet", "filepath": "$lin",
           |    "routes": { "out": [ { "to": "rj", "in_port": "left" } ] },
           |    "out_port_schemas": { "out": $lSchema } },
           |  { "name": "iv", "comp_type": "read_parquet", "filepath": "$rin",
           |    "routes": { "out": [ { "to": "rj", "in_port": "right" } ] },
           |    "out_port_schemas": { "out": $rSchema } },
           |  { "name": "rj", "comp_type": "range_join",
           |    "on": "t", "start": "s", "end": "e",
           |    "join_type": "$jt",
           |    "in_port_schemas": { "left": $lSchema, "right": $rSchema },
           |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
           |    "out_port_schemas": { "out": $oSchema } },
           |  { "name": "w", "comp_type": "write_parquet", "filepath": "$out",
           |    "in_port_schemas": { "in": $oSchema } } ] }""".stripMargin
      StreamingJobs.runOnce(spark, JobConfig.parse(cfg), tmp(s"srjk_ckpt_$jt"))
      val batch = graft.ops.RangeJoin(
        spark.read.parquet(lin), spark.read.parquet(rin),
        on = "t", start = "s", end = "e", joinType = jt)
      assert(slurp(spark.read.parquet(out)) === slurp(batch),
        s"stream/batch divergence for keyless join_type=$jt")
    }
    // t=4 matches both intervals, t=3/t=5 one each; t=1, t=7 none
    assert(spark.read.parquet(tmp("srjk_out_inner")).count() === 4)
    assert(spark.read.parquet(tmp("srjk_out_left")).count() === 6)
  }

  test("hash_split and unpivot stream: per-port parity with the batch fold") {
    import spark.implicits._
    val in = tmp("hsu_in")
    (0L until 200L).map(i => (i, i * 3, i * 5)).toDF("id", "va", "vb")
      .write.mode("overwrite").parquet(in)
    val inSchema =
      """{ "fields": [
        |  { "name": "id", "data_type": "integer" },
        |  { "name": "va", "data_type": "integer" },
        |  { "name": "vb", "data_type": "integer" } ] }""".stripMargin
    val meltSchema =
      """{ "fields": [
        |  { "name": "id", "data_type": "integer" },
        |  { "name": "variable", "data_type": "string" },
        |  { "name": "value", "data_type": "integer" } ] }""".stripMargin
    def cfg(trainOut: String, meltOut: String) =
      s"""{ "name": "hsu", "components": [
         |  { "name": "r", "comp_type": "read_parquet", "filepath": "$in",
         |    "routes": { "out": [ { "to": "hs", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $inSchema } },
         |  { "name": "hs", "comp_type": "hash_split", "id_column": "id",
         |    "splits": [ { "name": "train", "fraction": 0.7 },
         |                { "name": "rest", "fraction": 0.3 } ],
         |    "in_port_schemas": { "in": $inSchema },
         |    "routes": { "train": [ { "to": "up", "in_port": "in" } ],
         |                "rest":  [ { "to": "wr", "in_port": "in" } ] },
         |    "out_port_schemas": { "train": $inSchema, "rest": $inSchema } },
         |  { "name": "up", "comp_type": "unpivot", "id_columns": ["id"],
         |    "value_columns": ["va", "vb"],
         |    "in_port_schemas": { "in": $inSchema },
         |    "routes": { "out": [ { "to": "wm", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $meltSchema } },
         |  { "name": "wm", "comp_type": "write_parquet", "filepath": "$meltOut",
         |    "in_port_schemas": { "in": $meltSchema } },
         |  { "name": "wr", "comp_type": "write_parquet", "filepath": "$trainOut",
         |    "in_port_schemas": { "in": $inSchema } } ] }""".stripMargin
    val (bRest, bMelt) = (tmp("hsu_b_rest"), tmp("hsu_b_melt"))
    val built = JobGraph.build(spark, JobConfig.parse(cfg(bRest, bMelt)))
    built.runSinks(); built.close()
    val (sRest, sMelt) = (tmp("hsu_s_rest"), tmp("hsu_s_melt"))
    StreamingJobs.runOnce(spark, JobConfig.parse(cfg(sRest, sMelt)), tmp("hsu_ckpt"))
    assert(slurp(spark.read.parquet(sRest)) === slurp(spark.read.parquet(bRest)))
    assert(slurp(spark.read.parquet(sMelt)) === slurp(spark.read.parquet(bMelt)))
    assert(spark.read.parquet(sMelt).count() > 0)
  }

  test("json_extract streams: typed-extraction parity with the batch fold") {
    import spark.implicits._
    val in = tmp("jx_in")
    Seq((1L, """{"k": 7}"""), (2L, """{"k": "bad"}"""), (3L, """{}"""))
      .toDF("id", "js").coalesce(1).write.mode("overwrite").parquet(in)
    val inSchema =
      """{ "fields": [
        |  { "name": "id", "data_type": "integer" },
        |  { "name": "js", "data_type": "string" } ] }""".stripMargin
    val outSchema =
      """{ "fields": [
        |  { "name": "id", "data_type": "integer" },
        |  { "name": "k", "data_type": "integer", "nullable": true } ] }""".stripMargin
    def cfg(out: String) =
      s"""{ "name": "jx", "components": [
         |  { "name": "r", "comp_type": "read_parquet", "filepath": "$in",
         |    "routes": { "out": [ { "to": "x", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $inSchema } },
         |  { "name": "x", "comp_type": "json_extract",
         |    "column": "js", "keep_source": false,
         |    "fields": [ { "path": "k", "dest": "k", "type": "integer" } ],
         |    "in_port_schemas": { "in": $inSchema },
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $outSchema } },
         |  { "name": "w", "comp_type": "write_parquet", "filepath": "$out",
         |    "in_port_schemas": { "in": $outSchema } } ] }""".stripMargin
    val bOut = tmp("jx_batch")
    val built = JobGraph.build(spark, JobConfig.parse(cfg(bOut)))
    built.runSinks(); built.close()
    val sOut = tmp("jx_stream")
    StreamingJobs.runOnce(spark, JobConfig.parse(cfg(sOut)), tmp("jx_ckpt"))
    assert(slurp(spark.read.parquet(sOut)) === slurp(spark.read.parquet(bOut)))
    assert(slurp(spark.read.parquet(sOut)) === Seq("1|7", "2|null", "3|null"))
  }

  test("text_normalize → url_features → chunk stream: parity with the batch fold") {
    import spark.implicits._
    val in = tmp("cur_in")
    Seq(
      (1L, "  ÀBÇ   déf!  ghijklm ", "https://a.example.org/docs/1"),
      (2L, "short", "not a url"),
      (3L, (null: String), "http://u@b.example.org:80/x"))
      .toDF("id", "text", "url").coalesce(1).write.mode("overwrite").parquet(in)
    val inSchema =
      """{ "fields": [
        |  { "name": "id", "data_type": "integer" },
        |  { "name": "text", "data_type": "string", "nullable": true },
        |  { "name": "url", "data_type": "string" } ] }""".stripMargin
    val urlSchema =
      """{ "fields": [
        |  { "name": "id", "data_type": "integer" },
        |  { "name": "text", "data_type": "string", "nullable": true },
        |  { "name": "url", "data_type": "string" },
        |  { "name": "url_scheme", "data_type": "string", "nullable": true },
        |  { "name": "url_host", "data_type": "string", "nullable": true },
        |  { "name": "url_domain", "data_type": "string", "nullable": true },
        |  { "name": "url_path", "data_type": "string", "nullable": true } ] }""".stripMargin
    val outSchema =
      """{ "fields": [
        |  { "name": "id", "data_type": "integer" },
        |  { "name": "url", "data_type": "string" },
        |  { "name": "url_scheme", "data_type": "string", "nullable": true },
        |  { "name": "url_host", "data_type": "string", "nullable": true },
        |  { "name": "url_domain", "data_type": "string", "nullable": true },
        |  { "name": "url_path", "data_type": "string", "nullable": true },
        |  { "name": "chunk_index", "data_type": "integer" },
        |  { "name": "chunk_text", "data_type": "string" } ] }""".stripMargin
    def cfg(out: String) =
      s"""{ "name": "cur", "components": [
         |  { "name": "r", "comp_type": "read_parquet", "filepath": "$in",
         |    "routes": { "out": [ { "to": "tn", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $inSchema } },
         |  { "name": "tn", "comp_type": "text_normalize",
         |    "accent_fold": true, "strip_punct": true,
         |    "in_port_schemas": { "in": $inSchema },
         |    "routes": { "out": [ { "to": "uf", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $inSchema } },
         |  { "name": "uf", "comp_type": "url_features",
         |    "in_port_schemas": { "in": $inSchema },
         |    "routes": { "out": [ { "to": "ck", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $urlSchema } },
         |  { "name": "ck", "comp_type": "chunk", "size": 8, "overlap": 2,
         |    "in_port_schemas": { "in": $urlSchema },
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $outSchema } },
         |  { "name": "w", "comp_type": "write_parquet", "filepath": "$out",
         |    "in_port_schemas": { "in": $outSchema } } ] }""".stripMargin
    val bOut = tmp("cur_b")
    val built = JobGraph.build(spark, JobConfig.parse(cfg(bOut)))
    built.runSinks(); built.close()
    val sOut = tmp("cur_s")
    StreamingJobs.runOnce(spark, JobConfig.parse(cfg(sOut)), tmp("cur_ckpt"))
    assert(slurp(spark.read.parquet(sOut)) === slurp(spark.read.parquet(bOut)))
    // normalized doc 1 is "abc def ghijklm" → chunks at 0,6,12 of size 8;
    // null-text doc 3 emits no chunks
    val d1 = spark.read.parquet(sOut).filter($"id" === 1L)
      .orderBy("chunk_index").select("chunk_text").as[String].collect().toSeq
    assert(d1 === Seq("abc def ", "f ghijkl", "klm"))
    assert(spark.read.parquet(sOut).filter($"id" === 3L).count() === 0)
  }

  test("streaming_dedup_against: static corpus drops known keys, statelessly") {
    import spark.implicits._
    val in = tmp("sda_in")
    val ref = tmp("sda_ref")
    Seq((1L, "Known   Doc"), (2L, "fresh doc"), (3L, "another fresh"))
      .toDF("id", "text").coalesce(1).write.mode("overwrite").parquet(in)
    Seq(Tuple1("  known doc ")).toDF("text")
      .coalesce(1).write.mode("overwrite").parquet(ref)
    val sch =
      """{ "fields": [
        |  { "name": "id", "data_type": "integer" },
        |  { "name": "text", "data_type": "string" } ] }""".stripMargin
    val refSch = """{ "fields": [ { "name": "text", "data_type": "string" } ] }"""
    for (strategy <- Seq("join", "bloom")) {
      val out = tmp(s"sda_out_$strategy")
      val cfg =
        s"""{ "name": "sda_$strategy", "components": [
           |  { "name": "r", "comp_type": "read_parquet", "filepath": "$in",
           |    "routes": { "out": [ { "to": "da", "in_port": "in" } ] },
           |    "out_port_schemas": { "out": $sch } },
           |  { "name": "known", "comp_type": "read_parquet", "filepath": "$ref",
           |    "routes": { "out": [ { "to": "da", "in_port": "reference" } ] },
           |    "out_port_schemas": { "out": $refSch } },
           |  { "name": "da", "comp_type": "dedup_against", "strategy": "$strategy",
           |    "in_port_schemas": { "in": $sch, "reference": $refSch },
           |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
           |    "out_port_schemas": { "out": $sch } },
           |  { "name": "w", "comp_type": "write_parquet", "filepath": "$out",
           |    "in_port_schemas": { "in": $sch } } ] }""".stripMargin
      StreamingJobs.runOnce(spark, JobConfig.parse(cfg), tmp(s"sda_ckpt_$strategy"))
      assert(spark.read.parquet(out).select("id").as[Long].collect().toSet ===
        Set(2L, 3L),
        s"strategy=$strategy: the case/whitespace-variant known doc must drop")
    }
  }

  test("streaming_line_dedup: reference hot lines strip from the stream, statelessly") {
    import spark.implicits._
    val in = tmp("sld_in")
    val ref = tmp("sld_ref")
    // stream docs carry the reference corpus's boilerplate footer plus
    // their own prose; doc 3 is ONLY boilerplate, doc 4 has null text
    Seq((1L, "alpha\nCommon Footer\nbeta"),
      (2L, "gamma\nCommon Footer"),
      (3L, "Common Footer"),
      (4L, null))
      .toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(in)
    Seq((10L, "x\nCommon Footer"), (11L, "y\nCommon Footer"), (12L, "z"))
      .toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(ref)
    val sch =
      """{ "fields": [
        |  { "name": "doc_id", "data_type": "integer" },
        |  { "name": "text", "data_type": "string" } ] }""".stripMargin
    val out = tmp("sld_out")
    val cfg =
      s"""{ "name": "sld", "components": [
         |  { "name": "r", "comp_type": "read_parquet", "filepath": "$in",
         |    "routes": { "out": [ { "to": "ld", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $sch } },
         |  { "name": "corpus", "comp_type": "read_parquet", "filepath": "$ref",
         |    "routes": { "out": [ { "to": "ld", "in_port": "reference" } ] },
         |    "out_port_schemas": { "out": $sch } },
         |  { "name": "ld", "comp_type": "line_dedup", "strategy": "set",
         |    "in_port_schemas": { "in": $sch, "reference": $sch },
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $sch } },
         |  { "name": "w", "comp_type": "write_parquet", "filepath": "$out",
         |    "in_port_schemas": { "in": $sch } } ] }""".stripMargin
    StreamingJobs.runOnce(spark, JobConfig.parse(cfg), tmp("sld_ckpt"))
    val got = spark.read.parquet(out)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "alpha\nbeta", 2L -> "gamma"),
      "hot footer strips; boilerplate-only and null-text docs drop")
    // parity: the batch rewrite half over the same hot set agrees
    val hot = graft.scale.Dedup.hotLineSet(
      spark.read.parquet(ref), "text", "doc_id")
    val batch = graft.scale.Dedup.stripHotLines(
      spark.read.parquet(in), "text", hot)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(batch === got)
  }

  test("streaming_outlier_filter: static fences gate the stream") {
    import spark.implicits._
    val in = tmp("sof_in")
    val ref = tmp("sof_ref")
    // stream: one planted outlier per group; reference: the clean baseline
    Seq((1L, "a", 10.0), (2L, "a", 11.0), (3L, "a", 500.0),
      (4L, "b", 100.0), (5L, "b", 101.0))
      .toDF("id", "g", "v").coalesce(1).write.mode("overwrite").parquet(in)
    Seq(("a", 9.0), ("a", 10.0), ("a", 11.0), ("a", 12.0),
      ("b", 99.0), ("b", 100.0), ("b", 101.0), ("b", 102.0))
      .toDF("g", "v").coalesce(1).write.mode("overwrite").parquet(ref)
    val sch =
      """{ "fields": [
        |  { "name": "id", "data_type": "integer" },
        |  { "name": "g", "data_type": "string" },
        |  { "name": "v", "data_type": "float" } ] }""".stripMargin
    val refSch =
      """{ "fields": [
        |  { "name": "g", "data_type": "string" },
        |  { "name": "v", "data_type": "float" } ] }""".stripMargin
    val out = tmp("sof_out")
    val cfg =
      s"""{ "name": "sof", "components": [
         |  { "name": "r", "comp_type": "read_parquet", "filepath": "$in",
         |    "routes": { "out": [ { "to": "of", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $sch } },
         |  { "name": "base", "comp_type": "read_parquet", "filepath": "$ref",
         |    "routes": { "out": [ { "to": "of", "in_port": "reference" } ] },
         |    "out_port_schemas": { "out": $refSch } },
         |  { "name": "of", "comp_type": "outlier_filter",
         |    "column": "v", "method": "iqr", "k": 1.5, "by": ["g"],
         |    "in_port_schemas": { "in": $sch, "reference": $refSch },
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $sch } },
         |  { "name": "w", "comp_type": "write_parquet", "filepath": "$out",
         |    "in_port_schemas": { "in": $sch } } ] }""".stripMargin
    StreamingJobs.runOnce(spark, JobConfig.parse(cfg), tmp("sof_ckpt"))
    val kept = spark.read.parquet(out).select("id").as[Long].collect().toSet
    assert(kept === Set(1L, 2L, 4L, 5L),
      "the planted outlier (id 3) must drop against the a-group baseline")
    // parity: the batch two-frame face on the same frames agrees
    val batch = graft.scale.Profile.outlierFilterAgainst(
      spark.read.parquet(in), spark.read.parquet(ref), "v", "iqr", 1.5, Seq("g"))
      .select("id").as[Long].collect().toSet
    assert(batch === kept)
  }

  test("embedding_transform streams: quantize parity with the batch fold") {
    import spark.implicits._
    val in = tmp("et_in")
    Seq((1L, Seq(1.0f, -2.0f)), (2L, Seq(0.0f, 0.0f)))
      .toDF("vec_id", "embedding").coalesce(1).write.mode("overwrite").parquet(in)
    val inSchema =
      """{ "fields": [
        |  { "name": "vec_id", "data_type": "integer" },
        |  { "name": "embedding", "data_type": "array",
        |    "item": { "name": "item", "data_type": "float" } } ] }""".stripMargin
    val outSchema =
      """{ "fields": [
        |  { "name": "vec_id", "data_type": "integer" },
        |  { "name": "embedding", "data_type": "array",
        |    "item": { "name": "item", "data_type": "float" } },
        |  { "name": "vec_scale", "data_type": "float" },
        |  { "name": "vec_q8", "data_type": "array", "nullable": true,
        |    "item": { "name": "item", "data_type": "integer" } } ] }""".stripMargin
    def cfg(out: String) =
      s"""{ "name": "et", "components": [
         |  { "name": "r", "comp_type": "read_parquet", "filepath": "$in",
         |    "routes": { "out": [ { "to": "q", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $inSchema } },
         |  { "name": "q", "comp_type": "embedding_transform", "op": "quantize",
         |    "in_port_schemas": { "in": $inSchema },
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $outSchema } },
         |  { "name": "w", "comp_type": "write_parquet", "filepath": "$out",
         |    "in_port_schemas": { "in": $outSchema } } ] }""".stripMargin
    val bOut = tmp("et_b")
    val built = JobGraph.build(spark, JobConfig.parse(cfg(bOut)))
    built.runSinks(); built.close()
    val sOut = tmp("et_s")
    StreamingJobs.runOnce(spark, JobConfig.parse(cfg(sOut)), tmp("et_ckpt"))
    assert(slurp(spark.read.parquet(sOut)) === slurp(spark.read.parquet(bOut)))
    val r1 = spark.read.parquet(sOut).filter($"vec_id" === 1L).head()
    assert(r1.getSeq[Byte](r1.fieldIndex("vec_q8")).toSeq === Seq[Byte](64, -127))
  }

  test("sample streams: stratified parity with the batch fold") {
    import spark.implicits._
    val in = tmp("smp_in")
    (0L until 300L).map(i => (i, if (i % 2 == 0) "en" else "fr"))
      .toDF("id", "lang").write.mode("overwrite").parquet(in)
    val sch =
      """{ "fields": [
        |  { "name": "id", "data_type": "integer" },
        |  { "name": "lang", "data_type": "string" } ] }""".stripMargin
    def cfg(out: String) =
      s"""{ "name": "smp", "components": [
         |  { "name": "r", "comp_type": "read_parquet", "filepath": "$in",
         |    "routes": { "out": [ { "to": "sm", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $sch } },
         |  { "name": "sm", "comp_type": "sample", "id_column": "id",
         |    "fraction": 0.5, "seed": "st", "strata_column": "lang",
         |    "strata_fractions": { "en": 0.2 },
         |    "in_port_schemas": { "in": $sch },
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $sch } },
         |  { "name": "w", "comp_type": "write_parquet", "filepath": "$out",
         |    "in_port_schemas": { "in": $sch } } ] }""".stripMargin
    val bOut = tmp("smp_b")
    val built = JobGraph.build(spark, JobConfig.parse(cfg(bOut)))
    built.runSinks(); built.close()
    val sOut = tmp("smp_s")
    StreamingJobs.runOnce(spark, JobConfig.parse(cfg(sOut)), tmp("smp_ckpt"))
    assert(slurp(spark.read.parquet(sOut)) === slurp(spark.read.parquet(bOut)))
    assert(spark.read.parquet(sOut).count() > 0)
  }

  test("streaming_dedup rejects near-dup methods with a batch pointer") {
    val cfg =
      s"""{ "name": "sddbad", "components": [
         |  { "name": "r", "comp_type": "read_csv", "filepath": "${tmp("sddbad_in")}",
         |    "routes": { "out": [ { "to": "dd", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $abSchema } },
         |  { "name": "dd", "comp_type": "streaming_dedup", "method": "minhash",
         |    "text_column": "a", "time_column": "b",
         |    "in_port_schemas": { "in": $abSchema },
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $abSchema } },
         |  { "name": "w", "comp_type": "write_parquet", "filepath": "${tmp("sddbad_out")}",
         |    "in_port_schemas": { "in": $abSchema } } ] }""".stripMargin
    val ex = intercept[IllegalArgumentException] {
      StreamingJobs.plan(spark, JobConfig.parse(cfg))
    }
    assert(ex.getMessage.contains("param 'method' must be one of exact"))
    assert(ex.getMessage.contains("got method=minhash"))
  }

  test("a sink param the writeStream path does not apply is rejected, not ignored") {
    // the streaming sink writes plain parquet parts: a partition_by the
    // batch fold would honour used to vanish without a word
    import spark.implicits._
    Seq(("1", "x")).toDF("a", "b").write.mode("overwrite").parquet(tmp("spart_in"))
    def cfg(sinkParams: String) =
      s"""{ "name": "spart", "components": [
         |  { "name": "r", "comp_type": "read_parquet", "filepath": "${tmp("spart_in")}",
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $abSchema } },
         |  { "name": "w", "comp_type": "write_parquet", "filepath": "${tmp("spart_out")}"$sinkParams,
         |    "in_port_schemas": { "in": $abSchema } } ] }""".stripMargin
    val ex = intercept[IllegalArgumentException] {
      StreamingJobs.plan(spark, JobConfig.parse(cfg(""", "partition_by": ["a"]""")))
    }
    assert(ex.getMessage.contains("write_parquet w sets 'partition_by'"))
    // a param left at its default is accepted
    val plans = StreamingJobs.plan(spark, JobConfig.parse(cfg(""", "partition_by": []""")))
    assert(plans.map(_.component) === Seq("w"))
  }

  test("stateful comp_types are rejected with a pointer to streaming twins") {
    val cfg =
      s"""{ "name": "bad", "components": [
         |  { "name": "r", "comp_type": "read_csv", "filepath": "${tmp("bad_in")}",
         |    "routes": { "out": [ { "to": "agg", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $abSchema } },
         |  { "name": "agg", "comp_type": "aggregation",
         |    "group_by": ["a"],
         |    "aggregations": [ { "src": "b", "op": "count", "dest": "n" } ],
         |    "in_port_schemas": { "in": $abSchema },
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": { "fields": [
         |      { "name": "a", "data_type": "string" },
         |      { "name": "n", "data_type": "integer" } ] } } },
         |  { "name": "w", "comp_type": "write_parquet", "filepath": "${tmp("bad_out")}",
         |    "in_port_schemas": { "in": { "fields": [
         |      { "name": "a", "data_type": "string" },
         |      { "name": "n", "data_type": "integer" } ] } } } ] }""".stripMargin
    val ex = intercept[IllegalArgumentException] {
      StreamingJobs.plan(spark, JobConfig.parse(cfg))
    }
    // exact fragment + offending comp_type: a different IllegalArgumentException
    // that merely mentions "stream" must not satisfy this test
    assert(ex.getMessage.contains("comp_type 'aggregation' (agg) is not streamable"))
    assert(ex.getMessage.contains("streaming/Streaming.scala"))
  }

  test("streaming_decontaminate: stream-static parity with the batch component, flagged and clean") {
    import org.apache.spark.sql.functions.col
    val cin = tmp("sdec_corpus")
    val bin = tmp("sdec_bench")
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select("doc_id", "text")
    docs.filter(col("doc_id") % 41 =!= 0).write.mode("overwrite").parquet(cin)
    docs.filter(col("doc_id") % 41 === 0).write.mode("overwrite").parquet(bin)
    val inSchema =
      """{ "fields": [
        |  { "name": "doc_id", "data_type": "integer" },
        |  { "name": "text", "data_type": "string" } ] }""".stripMargin
    val flagSchema =
      """{ "fields": [
        |  { "name": "doc_id", "data_type": "integer" },
        |  { "name": "text", "data_type": "string" },
        |  { "name": "n_hits", "data_type": "integer" },
        |  { "name": "contaminated", "data_type": "boolean" } ] }""".stripMargin
    for (emit <- Seq("flagged", "clean")) {
      val out = tmp(s"sdec_out_$emit")
      val oSchema = if (emit == "flagged") flagSchema else inSchema
      val cfg =
        s"""{ "name": "sdec", "components": [
           |  { "name": "r", "comp_type": "read_parquet", "filepath": "$cin",
           |    "routes": { "out": [ { "to": "dc", "in_port": "corpus" } ] },
           |    "out_port_schemas": { "out": $inSchema } },
           |  { "name": "bench", "comp_type": "read_parquet", "filepath": "$bin",
           |    "routes": { "out": [ { "to": "dc", "in_port": "benchmark" } ] },
           |    "out_port_schemas": { "out": $inSchema } },
           |  { "name": "dc", "comp_type": "decontaminate",
           |    "ngram_n": 3, "min_overlap": 2,
           |    "emit": "$emit",
           |    "in_port_schemas": { "corpus": $inSchema, "benchmark": $inSchema },
           |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
           |    "out_port_schemas": { "out": $oSchema } },
           |  { "name": "w", "comp_type": "write_parquet", "filepath": "$out",
           |    "in_port_schemas": { "in": $oSchema } } ] }""".stripMargin
      StreamingJobs.runOnce(spark, JobConfig.parse(cfg), tmp(s"sdec_ckpt_$emit"))
      val batch =
        if (emit == "flagged")
          graft.scale.Decontaminate.flag(spark.read.parquet(cin),
            spark.read.parquet(bin), n = 3, minOverlap = 2)
        else
          graft.scale.Decontaminate.clean(spark.read.parquet(cin),
            spark.read.parquet(bin), n = 3, minOverlap = 2)
      assert(slurp(spark.read.parquet(out)) === slurp(batch),
        s"stream/batch divergence for emit=$emit")
    }
    // both outcomes exercised: some docs flagged, some clean
    val flagged = spark.read.parquet(tmp("sdec_out_flagged"))
    assert(flagged.filter(org.apache.spark.sql.functions.col("contaminated")).count() > 0)
    assert(spark.read.parquet(tmp("sdec_out_clean")).count() <
      flagged.count())
  }

  test("streaming_decontaminate: strategy=join is rejected loudly") {
    val inSchema =
      """{ "fields": [
        |  { "name": "doc_id", "data_type": "integer" },
        |  { "name": "text", "data_type": "string" } ] }""".stripMargin
    val cfg =
      s"""{ "name": "sdecbad", "components": [
         |  { "name": "r", "comp_type": "read_parquet", "filepath": "${tmp("sdec_corpus")}",
         |    "routes": { "out": [ { "to": "dc", "in_port": "corpus" } ] },
         |    "out_port_schemas": { "out": $inSchema } },
         |  { "name": "bench", "comp_type": "read_parquet", "filepath": "${tmp("sdec_bench")}",
         |    "routes": { "out": [ { "to": "dc", "in_port": "benchmark" } ] },
         |    "out_port_schemas": { "out": $inSchema } },
         |  { "name": "dc", "comp_type": "decontaminate", "strategy": "join",
         |    "in_port_schemas": { "corpus": $inSchema, "benchmark": $inSchema },
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $inSchema } },
         |  { "name": "w", "comp_type": "write_parquet", "filepath": "${tmp("sdecbad_out")}",
         |    "in_port_schemas": { "in": $inSchema } } ] }""".stripMargin
    val ex = intercept[IllegalArgumentException] {
      StreamingJobs.runOnce(spark, JobConfig.parse(cfg), tmp("sdecbad_ckpt"))
    }
    assert(ex.getMessage.contains(
      "decontaminate dc: strategy=join does not stream (it would aggregate over " +
        "the stream); set strategy: broadcast"))
  }

  /** A streaming job: `comps` between a parquet source `r` (routes
    * given) and a parquet sink `w`, all on `sch`. */
  private def jobOf(name: String, rRoutes: String, comps: String*): String =
    s"""{ "name": "$name", "components": [
       |  { "name": "r", "comp_type": "read_parquet", "filepath": "${tmp(s"${name}_in")}",
       |    "routes": { "out": [ $rRoutes ] },
       |    "out_port_schemas": { "out": $docSchema } },
       |  ${comps.mkString(",\n")},
       |  { "name": "w", "comp_type": "write_parquet", "filepath": "${tmp(s"${name}_out")}",
       |    "in_port_schemas": { "in": $docSchema } } ] }""".stripMargin

  private val docSchema =
    """{ "fields": [
      |  { "name": "doc_id", "data_type": "integer" },
      |  { "name": "text", "data_type": "string" } ] }""".stripMargin

  private def planError(cfg: String): String =
    intercept[IllegalArgumentException](StreamingJobs.plan(spark, JobConfig.parse(cfg))).getMessage

  test("a static port fed by a stream is rejected at plan time, naming the component") {
    val dedupAgainst =
      s"""{ "name": "da", "comp_type": "dedup_against",
         |  "in_port_schemas": { "in": $docSchema, "reference": $docSchema },
         |  "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |  "out_port_schemas": { "out": $docSchema } }""".stripMargin
    // one source routed to the data port AND the static port
    val both = planError(jobOf("sboth",
      """{ "to": "da", "in_port": "in" }, { "to": "da", "in_port": "reference" }""",
      dedupAgainst))
    assert(both.contains(
      "dedup_against da: static port 'reference' receives a stream from r"), both)
    // a transform in front of the static port
    val ahead = planError(jobOf("sahead",
      """{ "to": "da", "in_port": "in" }, { "to": "tn", "in_port": "in" }""",
      s"""{ "name": "tn", "comp_type": "text_normalize",
         |  "in_port_schemas": { "in": $docSchema },
         |  "routes": { "out": [ { "to": "da", "in_port": "reference" } ] },
         |  "out_port_schemas": { "out": $docSchema } }""".stripMargin,
      dedupAgainst))
    assert(ahead.contains(
      "dedup_against da: static port 'reference' receives a stream from tn"), ahead)
  }

  test("an unwired static port is rejected in a streaming job, naming the component") {
    for (t <- Seq("line_dedup", "outlier_filter")) {
      val params = if (t == "line_dedup") """"strategy": "set"""" else """"column": "doc_id""""
      val msg = planError(jobOf(s"sunwired_$t", """{ "to": "x", "in_port": "in" }""",
        s"""{ "name": "x", "comp_type": "$t", $params,
           |  "in_port_schemas": { "in": $docSchema },
           |  "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
           |  "out_port_schemas": { "out": $docSchema } }""".stripMargin))
      assert(msg.contains(s"$t x: static port 'reference' is not wired"), msg)
    }
  }

  test("a strategy or emit that would aggregate over the stream is rejected, naming the fix") {
    def withRef(t: String, params: String, ports: (String, String)) =
      jobOf(s"snostream_${t}_${params.filter(_.isLetter)}",
        s"""{ "to": "x", "in_port": "${ports._1}" }""",
        s"""{ "name": "ref", "comp_type": "read_parquet", "filepath": "${tmp("snostream_ref")}",
           |  "routes": { "out": [ { "to": "x", "in_port": "${ports._2}" } ] },
           |  "out_port_schemas": { "out": $docSchema } }""".stripMargin,
        s"""{ "name": "x", "comp_type": "$t", $params
           |  "in_port_schemas": { "${ports._1}": $docSchema, "${ports._2}": $docSchema },
           |  "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
           |  "out_port_schemas": { "out": $docSchema } }""".stripMargin)
    val ld = ("in", "reference")
    for ((t, params, ports, fix) <- Seq(
        ("line_dedup", "", ld, "strategy=join does not stream"),
        ("line_dedup", """"strategy": "set", "emit": "hot",""", ld, "emit=hot does not stream"),
        ("asof_join", """"on": "doc_id", "by": ["text"],""", ("left", "right"),
          "strategy=window does not stream"),
        ("decontaminate", """"emit": "pairs",""", ("corpus", "benchmark"),
          "emit=pairs does not stream"))) {
      val msg = planError(withRef(t, params, ports))
      assert(msg.contains(s"$t x: $fix"), msg)
      assert(msg.contains("; set "), msg)
    }
  }

  test("a streaming read_json rejects format=array at plan time") {
    val cfg =
      s"""{ "name": "sjarr", "components": [
         |  { "name": "r", "comp_type": "read_json", "filepath": "${tmp("sjarr_in")}",
         |    "format": "array",
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $abSchema } },
         |  { "name": "w", "comp_type": "write_parquet", "filepath": "${tmp("sjarr_out")}",
         |    "in_port_schemas": { "in": $abSchema } } ] }""".stripMargin
    val msg = planError(cfg)
    assert(msg.contains("read_json r: only ndjson streams"), msg)
  }

  test("a sink that fails to start stops the queries already started") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val in = tmp("sstop_in")
    Seq(("1", "x")).toDF("a", "b").write.mode("overwrite").parquet(in)
    // the second sink's checkpoint directory is taken by a plain file
    val ckpt = tmp("sstop_ckpt")
    Files.createDirectories(Paths.get(ckpt))
    Files.write(Paths.get(ckpt, "w2"), Array[Byte](1))
    val cfg =
      s"""{ "name": "sstop", "components": [
         |  { "name": "r", "comp_type": "read_parquet", "filepath": "$in",
         |    "routes": { "out": [ { "to": "w1", "in_port": "in" }, { "to": "w2", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $abSchema } },
         |  { "name": "w1", "comp_type": "write_parquet", "filepath": "${tmp("sstop_out1")}",
         |    "in_port_schemas": { "in": $abSchema } },
         |  { "name": "w2", "comp_type": "write_parquet", "filepath": "${tmp("sstop_out2")}",
         |    "in_port_schemas": { "in": $abSchema } } ] }""".stripMargin
    try {
      intercept[Exception] {
        StreamingJobs.start(spark, JobConfig.parse(cfg), ckpt, Trigger.ProcessingTime("1 second"))
      }
      assert(spark.streams.active.isEmpty,
        s"left running: ${spark.streams.active.map(_.id).mkString(", ")}")
    } finally spark.streams.active.foreach(_.stop())
  }

  test("text_analysis repetition=true streams: parity with the batch fold") {
    import spark.implicits._
    val in = tmp("tarep_in")
    Seq((1L, "a b a b a b"), (2L, "x y z w"), (3L, "q q q q"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(in)
    val inSchema =
      """{ "fields": [
        |  { "name": "doc_id", "data_type": "integer" },
        |  { "name": "text", "data_type": "string" } ] }""".stripMargin
    val outSchema =
      """{ "fields": [
        |  { "name": "doc_id", "data_type": "integer" },
        |  { "name": "text", "data_type": "string" },
        |  { "name": "n_tokens", "data_type": "integer" },
        |  { "name": "n_tokens_bpe", "data_type": "integer" },
        |  { "name": "punct_ratio", "data_type": "float" },
        |  { "name": "stopword_ratio", "data_type": "float" },
        |  { "name": "quality", "data_type": "float" },
        |  { "name": "lang_pred", "data_type": "string" },
        |  { "name": "fingerprint", "data_type": "string" },
        |  { "name": "dup_line_ratio", "data_type": "float" },
        |  { "name": "top_gram", "data_type": "string" },
        |  { "name": "top_gram_ratio", "data_type": "float" },
        |  { "name": "dup_gram_ratio", "data_type": "float" } ] }""".stripMargin
    val out = tmp("tarep_out")
    val cfg =
      s"""{ "name": "tarep", "components": [
         |  { "name": "r", "comp_type": "read_parquet", "filepath": "$in",
         |    "routes": { "out": [ { "to": "ta", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $inSchema } },
         |  { "name": "ta", "comp_type": "text_analysis",
         |    "repetition": true, "repetition_n": 2,
         |    "in_port_schemas": { "in": $inSchema },
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $outSchema } },
         |  { "name": "w", "comp_type": "write_parquet", "filepath": "$out",
         |    "in_port_schemas": { "in": $outSchema } } ] }""".stripMargin
    StreamingJobs.runOnce(spark, JobConfig.parse(cfg), tmp("tarep_ckpt"))
    val batch = graft.scale.TextAnalysis.repetitionStats(
      graft.scale.TextAnalysis.analyze(spark.read.parquet(in)), "text", 2)
    assert(slurp(spark.read.parquet(out)) === slurp(batch))
  }

  test("gopher_filter streams: parity with the batch fold, emit=docs and emit=flagged") {
    import spark.implicits._
    val in = tmp("gph_in")
    val prose = "the cat sat on the mat and then it went to sleep with the dog"
    Seq(
      (1L, prose),                                      // passes every rule
      (2L, "### ### ### ###"),                          // symbols, no words
      (3L, s"$prose\n- a\n- b\n- c\n- d\n- e\n- f"),    // bullet-heavy
      (4L, "word " * 3),                                // too short
      (5L, (null: String)))
      .toDF("id", "text").coalesce(1).write.mode("overwrite").parquet(in)
    val inSchema =
      """{ "fields": [
        |  { "name": "id", "data_type": "integer" },
        |  { "name": "text", "data_type": "string", "nullable": true } ] }""".stripMargin
    val flagSchema =
      """{ "fields": [
        |  { "name": "id", "data_type": "integer" },
        |  { "name": "text", "data_type": "string", "nullable": true },
        |  { "name": "g_word_count", "data_type": "boolean" },
        |  { "name": "g_mean_word_len", "data_type": "boolean" },
        |  { "name": "g_symbol_ratio", "data_type": "boolean" },
        |  { "name": "g_bullet_lines", "data_type": "boolean" },
        |  { "name": "g_ellipsis_lines", "data_type": "boolean" },
        |  { "name": "g_alpha_words", "data_type": "boolean" },
        |  { "name": "g_stopwords", "data_type": "boolean" },
        |  { "name": "gopher_pass", "data_type": "boolean" } ] }""".stripMargin
    def cfg(emit: String, outSchema: String, out: String) =
      s"""{ "name": "gph", "components": [
         |  { "name": "r", "comp_type": "read_parquet", "filepath": "$in",
         |    "routes": { "out": [ { "to": "g", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $inSchema } },
         |  { "name": "g", "comp_type": "gopher_filter", "emit": "$emit",
         |    "min_words": 5, "max_bullet_ratio": 0.5,
         |    "in_port_schemas": { "in": $inSchema },
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $outSchema } },
         |  { "name": "w", "comp_type": "write_parquet", "filepath": "$out",
         |    "in_port_schemas": { "in": $outSchema } } ] }""".stripMargin
    for ((emit, outSchema) <- Seq("docs" -> inSchema, "flagged" -> flagSchema)) {
      val bOut = tmp(s"gph_${emit}_b")
      val built = JobGraph.build(spark, JobConfig.parse(cfg(emit, outSchema, bOut)))
      built.runSinks(); built.close()
      val sOut = tmp(s"gph_${emit}_s")
      StreamingJobs.runOnce(spark, JobConfig.parse(cfg(emit, outSchema, sOut)),
        tmp(s"gph_${emit}_ckpt"))
      assert(slurp(spark.read.parquet(sOut)) === slurp(spark.read.parquet(bOut)),
        s"emit=$emit")
    }
    assert(spark.read.parquet(tmp("gph_docs_s")).select("id").as[Long]
      .collect().toSeq === Seq(1L))
    val flagged = spark.read.parquet(tmp("gph_flagged_s"))
    assert(flagged.count() === 5)
    assert(flagged.filter($"gopher_pass").select("id").as[Long].collect().toSeq === Seq(1L))
  }

  test("split streams: tee parity with the batch fold, through a downstream merge") {
    import spark.implicits._
    val in = tmp("sm_in")
    graft.io.CsvIO.write(Seq(("1", "x"), ("2", "y"), ("3", "x")).toDF("a", "b"), in)
    def cfg(teeOut: String, mergedOut: String) =
      s"""{ "name": "sm", "components": [
         |  { "name": "r", "comp_type": "read_csv", "filepath": "$in",
         |    "routes": { "out": [ { "to": "s", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $abSchema } },
         |  { "name": "s", "comp_type": "split",
         |    "extra_output_ports": ["left", "right", "copy"],
         |    "in_port_schemas": { "in": $abSchema },
         |    "routes": { "left": [ { "to": "f", "in_port": "in" } ],
         |                "right": [ { "to": "m", "in_port": "in" } ],
         |                "copy": [ { "to": "wt", "in_port": "in" } ] },
         |    "out_port_schemas": { "left": $abSchema, "right": $abSchema,
         |                          "copy": $abSchema } },
         |  { "name": "f", "comp_type": "filter",
         |    "rule": { "column": "b", "operator": "==", "value": "x" },
         |    "in_port_schemas": { "in": $abSchema },
         |    "routes": { "pass": [ { "to": "m", "in_port": "in" } ] },
         |    "out_port_schemas": { "pass": $abSchema } },
         |  { "name": "m", "comp_type": "merge",
         |    "in_port_schemas": { "in": $abSchema },
         |    "routes": { "merge": [ { "to": "wm", "in_port": "in" } ] },
         |    "out_port_schemas": { "merge": $abSchema } },
         |  { "name": "wt", "comp_type": "write_parquet", "filepath": "$teeOut",
         |    "in_port_schemas": { "in": $abSchema } },
         |  { "name": "wm", "comp_type": "write_parquet", "filepath": "$mergedOut",
         |    "in_port_schemas": { "in": $abSchema } } ] }""".stripMargin
    val (bt, bm) = (tmp("sm_b_tee"), tmp("sm_b_merged"))
    val built = JobGraph.build(spark, JobConfig.parse(cfg(bt, bm)))
    built.runSinks(); built.close()
    val (st, sm) = (tmp("sm_s_tee"), tmp("sm_s_merged"))
    StreamingJobs.runOnce(spark, JobConfig.parse(cfg(st, sm)), tmp("sm_ckpt"))
    assert(slurp(spark.read.parquet(st)) === slurp(spark.read.parquet(bt)))
    assert(slurp(spark.read.parquet(sm)) === slurp(spark.read.parquet(bm)))
    // the tee copies every row; the merge unions all rows with the x rows
    assert(slurp(spark.read.parquet(st)) === Seq("1|x", "2|y", "3|x"))
    assert(slurp(spark.read.parquet(sm)) === Seq("1|x", "1|x", "2|y", "3|x", "3|x"))
  }

  test("merge streams: two sources union by name, parity with the batch fold") {
    import spark.implicits._
    val (in1, in2) = (tmp("mg_in1"), tmp("mg_in2"))
    graft.io.CsvIO.write(Seq(("1", "x"), ("2", "y")).toDF("a", "b"), in1)
    // same columns, other order: merge unions BY NAME
    graft.io.CsvIO.write(Seq(("z", "3")).toDF("b", "a"), in2)
    val baSchema =
      """{ "fields": [
        |  { "name": "b", "data_type": "string" },
        |  { "name": "a", "data_type": "string" } ] }""".stripMargin
    def cfg(out: String) =
      s"""{ "name": "mg", "components": [
         |  { "name": "r1", "comp_type": "read_csv", "filepath": "$in1",
         |    "routes": { "out": [ { "to": "m", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $abSchema } },
         |  { "name": "r2", "comp_type": "read_csv", "filepath": "$in2",
         |    "routes": { "out": [ { "to": "m", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $baSchema } },
         |  { "name": "m", "comp_type": "merge",
         |    "in_port_schemas": { "in": $abSchema },
         |    "routes": { "merge": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "merge": $abSchema } },
         |  { "name": "w", "comp_type": "write_parquet", "filepath": "$out",
         |    "in_port_schemas": { "in": $abSchema } } ] }""".stripMargin
    val bOut = tmp("mg_b")
    val built = JobGraph.build(spark, JobConfig.parse(cfg(bOut)))
    built.runSinks(); built.close()
    val sOut = tmp("mg_s")
    StreamingJobs.runOnce(spark, JobConfig.parse(cfg(sOut)), tmp("mg_ckpt"))
    assert(slurp(spark.read.parquet(sOut)) === slurp(spark.read.parquet(bOut)))
    assert(slurp(spark.read.parquet(sOut)) === Seq("1|x", "2|y", "3|z"))
  }
}
