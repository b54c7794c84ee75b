package graft.io

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ListenerBusBridge
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}

class CsvJsonIOSpec extends SparkTestBase {

  private def tmp(name: String): String = {
    val p = Paths.get("target", "test-tmp", name)
    Files.createDirectories(p.getParent)
    p.toString
  }

  test("CSV rejects delimiters outside the reference enum") {
    intercept[IllegalArgumentException] {
      CsvIO.read(spark, "/nonexistent", sep = "|")
    }
  }

  test("CSV roundtrip reads every column as string") {
    val df = spark.range(3).select(col("id"), (col("id") * 2).as("dbl"),
      concat(lit("name;"), col("id")).as("nm")) // ; inside a value → quoting
    val out = tmp("csv_rt")
    CsvIO.write(df, out, sep = ";", singleFile = true)
    val back = CsvIO.read(spark, out, sep = ";")
    assert(back.schema.fields.forall(_.dataType === StringType))
    assert(back.count() === 3)
    val row = back.filter(col("id") === "2").head()
    assert(row.getAs[String]("dbl") === "4")
    assert(row.getAs[String]("nm") === "name;2")
  }

  test("CSV append keeps existing rows under one header; mismatch is loud") {
    import spark.implicits._
    val out = tmp("csv_append")
    CsvIO.write(Seq(("1", "a")).toDF("id", "v"), out, singleFile = true)
    CsvIO.write(Seq(("2", "b")).toDF("id", "v"), out, singleFile = true, append = true)
    val back = CsvIO.read(spark, out).orderBy(col("id")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(back.toSeq === Seq(("1", "a"), ("2", "b")))
    intercept[IllegalArgumentException] {
      CsvIO.write(Seq("x").toDF("other"), out, singleFile = true, append = true)
    }
    // append to a missing target = plain write (unique dir per run:
    // append targets survive reruns by design)
    val fresh = tmp(s"csv_append_fresh_${System.nanoTime()}")
    CsvIO.write(Seq(("9", "z")).toDF("id", "v"), fresh, singleFile = true, append = true)
    assert(CsvIO.read(spark, fresh).count() === 1)
  }

  test("a swap crashed between renames self-heals on the next append instead of discarding data") {
    import spark.implicits._
    val out = tmp(s"csv_crashed_swap_${System.nanoTime()}")
    CsvIO.write(Seq(("1", "a")).toDF("id", "v"), out, singleFile = true)
    // simulate the one non-atomic window in writeSwapped: the JVM died
    // after "move path aside to .__old" but before "move staging in" —
    // the ONLY copy of the data now lives under .__old, path is absent,
    // and the completed staged write is still on disk (a mid-swap crash
    // always leaves staging: the renames only start after write(staging))
    Files.move(Paths.get(out), Paths.get(out + ".__old"))
    Files.createDirectories(Paths.get(out + ".__staging"))
    assert(!Files.exists(Paths.get(out)))
    // the next append run used to see exists(path)=false, write fresh,
    // and deleteRecursively(.__old) — silently discarding row 1
    CsvIO.write(Seq(("2", "b")).toDF("id", "v"), out, singleFile = true, append = true)
    val back = CsvIO.read(spark, out).orderBy(col("id")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(back.toSeq === Seq(("1", "a"), ("2", "b")))
    assert(!Files.exists(Paths.get(out + ".__old"))) // healed, then cleaned
  }

  test("concurrent exists() cannot 'recover' a live swap (per-path lock, r20 ADVICE)") {
    import java.nio.file.{Files, Paths}
    // Unsynchronized, exists() observing a writer BETWEEN its two renames
    // sees exactly the crash signature (path absent, .__old + .__staging
    // present) and moves .__old back — the writer's second rename then
    // throws FileAlreadyExistsException and stale data stays at path.
    // With the r21 per-path lock, exists() blocks while a same-path
    // writeSwapped is in its staged branch, so a hammering reader never
    // fails a healthy writer. (The unsynchronized failure was a narrow
    // window — this pins the structural guarantee, not a probabilistic
    // repro.)
    val out = tmp(s"csv_swap_race_${System.nanoTime()}")
    Files.createDirectories(Paths.get(out))
    Files.writeString(Paths.get(out, "seed"), "0")
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    @volatile var stop = false
    val reader = new Thread(() =>
      try while (!stop) { IOSwap.exists(out); () }
      catch { case t: Throwable => err.set(t) })
    reader.start()
    try
      (1 to 5).foreach { i =>
        IOSwap.writeSwapped(out, viaStaging = true) { staging =>
          Files.createDirectories(Paths.get(staging))
          Files.writeString(Paths.get(staging, s"f$i"), "x")
          Thread.sleep(10) // widen the formerly-racy window
        }
      }
    finally { stop = true; reader.join() }
    assert(err.get() === null, s"reader threw: ${err.get()}")
    assert(Files.exists(Paths.get(out, "f5")), "last swap's data must be live")
    assert(!Files.exists(Paths.get(out + ".__old")) &&
      !Files.exists(Paths.get(out + ".__staging")), "no swap debris")
  }

  test("a stale .__old WITHOUT staging is not resurrected (superseded data stays dead)") {
    import spark.implicits._
    // a successful swap that crashed in its cleanup window leaves a STALE
    // .__old; if the live output is later removed out-of-band, the next
    // append must NOT revive the superseded rows — path-absent+old-present
    // alone is ambiguous, and only the full crash signature (staging too)
    // is safe to heal
    val out = tmp(s"csv_stale_old_${System.nanoTime()}")
    CsvIO.write(Seq(("0", "stale")).toDF("id", "v"), out, singleFile = true)
    Files.move(Paths.get(out), Paths.get(out + ".__old")) // stale copy
    // (no .__staging: this is not a mid-swap crash state)
    CsvIO.write(Seq(("2", "b")).toDF("id", "v"), out, singleFile = true, append = true)
    val back = CsvIO.read(spark, out).collect().map(r => (r.getString(0), r.getString(1)))
    assert(back.toSeq === Seq(("2", "b"))) // fresh write, no resurrection
  }

  test("CSV write flattens nested structs at the boundary") {
    val df = spark.range(1).select(struct(lit("x").as("a")).as("o"))
    val out = tmp("csv_nested")
    CsvIO.write(df, out, sep = ",", singleFile = true)
    val back = CsvIO.read(spark, out, sep = ",")
    assert(back.columns.toSeq === Seq("o.a"))
  }

  test("NDJSON lenient read skips malformed lines and counts them") {
    val dir = tmp("ndjson_lenient")
    Files.createDirectories(Paths.get(dir))
    val f = Paths.get(dir, "data.jsonl")
    Files.writeString(f,
      """{"a": 1, "b": "x"}
        |{broken json
        |
        |{"a": 2, "b": "y"}
        |totally: not json
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("a", LongType), StructField("b", StringType)))
    val df = JsonIO.readNdjsonLenient(spark, f.toString, schema)
    assert(df.count() === 2)
    assert(df.agg(sum(col("a"))).head().getLong(0) === 3L)
    assert(JsonIO.countMalformed(spark, f.toString, schema) === 2L)
  }

  test("NDJSON lenient read wraps non-dict values as _value") {
    val dir = tmp("ndjson_wrap")
    Files.createDirectories(Paths.get(dir))
    val f = Paths.get(dir, "data.ndjson")
    Files.writeString(f,
      """{"_value": "explicit"}
        |"bare string"
        |42
        |{nope
        |""".stripMargin)
    val schema = StructType(Seq(StructField("_value", StringType)))
    val df = JsonIO.readNdjsonLenient(spark, f.toString, schema)
    val vals = df.collect().map(_.getString(0)).toSet
    assert(vals === Set("explicit", "bare string", "42"))
    assert(JsonIO.countMalformed(spark, f.toString, schema) === 1L)
  }

  test("CSV append round-trips cells with embedded newlines") {
    // the writer quotes a newline cell across physical lines; the
    // append path re-reads its own output with multiLine=true —
    // a line-based re-read would split the record into corrupt rows
    import spark.implicits._
    val out = tmp("csv_append_newline")
    IOSwap.deleteRecursively(Paths.get(out))
    val first = Seq((1L, "line1\nline2"), (2L, "plain")).toDF("id", "v")
    CsvIO.write(first, out)
    CsvIO.write(Seq((3L, "more\ntext")).toDF("id", "v"), out, append = true)
    val back = CsvIO.read(spark, out, multiLine = true)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(back === Map("1" -> "line1\nline2", "2" -> "plain",
      "3" -> "more\ntext"))
  }

  test("NDJSON wrap rejects a json-value-plus-garbage line") {
    // `123, "junk": 5` wrapped as {"_value":123, "junk": 5} was a
    // VALID object whose extra member the schema silently ignored —
    // garbage ingested as _value=123; the array wrap + size===1 is
    // json.loads-per-line strictness
    val dir = tmp("ndjson_wrap_garbage")
    Files.createDirectories(Paths.get(dir))
    val f = Paths.get(dir, "data.ndjsonl")
    Files.writeString(f,
      """42
        |123, "junk": 5
        |7, 8
        |9
        |""".stripMargin)
    val schema = StructType(Seq(StructField("_value", StringType)))
    val df = JsonIO.readNdjsonLenient(spark, f.toString, schema)
    assert(df.collect().map(_.getString(0)).toSet === Set("42", "9"))
    assert(JsonIO.countMalformed(spark, f.toString, schema) === 2L)
  }

  test("NDJSON gzip roundtrip is transparent") {
    val out = tmp("json_gz")
    val df = spark.range(5).select(col("id"), concat(lit("v"), col("id")).as("s"))
    JsonIO.write(df, out, gzip = true)
    val schema = StructType(Seq(StructField("id", LongType), StructField("s", StringType)))
    assert(JsonIO.readNdjsonLenient(spark, out, schema).count() === 5)
    assert(JsonIO.read(spark, out, Some(schema)).count() === 5)
  }

  test("gzip write does not pre-execute a shuffled upstream (probe skipped)") {
    // r22 ADVICE fix: the gzip widen probe (toRdd.getNumPartitions) runs
    // ONLY on narrow scan-shaped plans. On a shuffled upstream, AQE plan
    // finalization would execute every upstream stage and the write's own
    // QueryExecution would re-run them — so a gzip write of an aggregate
    // must cost exactly as many Spark jobs as the plain write of the same
    // aggregate (no extra probe-finalization jobs).
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = counter.incrementAndGet()
    }
    val agg = spark.range(100).withColumn("k", col("id") % 5)
      .groupBy("k").agg(sum(col("id")).as("s"))
    def jobsFor(gzip: Boolean, out: String): Int = {
      spark.sparkContext.addSparkListener(l)
      counter.set(0)
      try {
        JsonIO.write(agg, out, gzip = gzip)
        // the listener bus is asynchronous: wait until every job start
        // the write posted has reached `l`
        assert(ListenerBusBridge.drainSharedQueue(spark.sparkContext, 10000))
        counter.get()
      } finally spark.sparkContext.removeSparkListener(l)
    }
    val plain = jobsFor(gzip = false, tmp("json_gz_agg_plain"))
    val gz = jobsFor(gzip = true, tmp("json_gz_agg_gz"))
    assert(gz === plain,
      s"gzip write ran $gz jobs vs $plain for the plain write — the widen " +
        "probe executed the shuffled upstream")
    // and the data still round-trips
    val schema = StructType(Seq(StructField("k", LongType), StructField("s", LongType)))
    assert(JsonIO.read(spark, tmp("json_gz_agg_gz"), Some(schema)).count() === 5)
  }

  test("gzip write of a persisted frame runs every job inside the write's SQL execution") {
    // A cached relation is not narrow: probing its partition count would
    // build the cache's adaptive plan and run its shuffle stages as jobs
    // that carry no spark.sql.execution.id, outside the write's own
    // execution, where per-execution accounting misses them.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val untagged = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).flatMap(p =>
            Option(p.getProperty("spark.sql.execution.id"))).isEmpty)
          untagged.incrementAndGet()
    }
    val agg = spark.range(100).withColumn("k", col("id") % 5)
      .groupBy("k").agg(sum(col("id")).as("s")).persist()
    val out = tmp("json_gz_cached")
    spark.sparkContext.addSparkListener(l)
    try {
      JsonIO.write(agg, out, gzip = true)
      assert(ListenerBusBridge.drainSharedQueue(spark.sparkContext, 10000))
    } finally {
      spark.sparkContext.removeSparkListener(l)
      agg.unpersist()
    }
    assert(untagged.get() === 0,
      s"${untagged.get()} job(s) of the gzip write ran outside its SQL execution")
    val schema = StructType(Seq(StructField("k", LongType), StructField("s", LongType)))
    assert(JsonIO.read(spark, out, Some(schema)).count() === 5)
  }

  test("gzip write still widens a narrow under-partitioned input") {
    val dir = tmp("json_gz_widen_src")
    spark.range(1000).select(col("id")).coalesce(1)
      .write.mode("overwrite").parquet(dir)
    val out = tmp("json_gz_widen_out")
    JsonIO.write(spark.read.parquet(dir), out, gzip = true)
    val parts = Files.list(Paths.get(out)).toArray.map(_.toString)
      .count(p => p.endsWith(".gz"))
    assert(parts === spark.sparkContext.defaultParallelism,
      s"expected widened gz part count, got $parts")
  }

  test("sanitizeFloats nulls NaN and Infinity, also nested") {
    val df = spark.range(1).select(
      lit(Double.NaN).as("x"),
      struct(lit(Double.PositiveInfinity).as("y")).as("o"),
      array(lit(1.5), lit(Double.NegativeInfinity)).as("xs"))
    val r = JsonIO.sanitizeFloats(df).head()
    assert(r.isNullAt(0))
    assert(r.getStruct(1).isNullAt(0))
    assert(r.getSeq[Any](2) === Seq(1.5, null))
  }

  test("array/multiLine JSON file read") {
    val dir = tmp("json_array")
    Files.createDirectories(Paths.get(dir))
    val f = Paths.get(dir, "arr.json")
    Files.writeString(f, """[{"a": 1}, {"a": 2}]""")
    val df = JsonIO.read(spark, f.toString, multiLine = true)
    assert(df.agg(sum(col("a"))).head().getLong(0) === 3L)
  }
}
