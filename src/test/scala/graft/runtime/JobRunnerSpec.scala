package graft.runtime

import graft.SparkTestBase
import graft.config.JobConfig
import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graftbridge.ListenerBusBridge

class JobRunnerSpec extends SparkTestBase {

  private def tmp(name: String): String = {
    val p = Paths.get("target", "test-tmp", "runner", name)
    Files.createDirectories(p.getParent)
    p.toString
  }

  private val abSchema =
    """{ "fields": [
      |  { "name": "a", "data_type": "string" },
      |  { "name": "b", "data_type": "string" } ] }""".stripMargin

  private def jobJson(in: String, out: String, retries: Int = 0) =
    s"""{
       |  "name": "t", "num_of_retries": $retries,
       |  "components": [
       |    { "name": "r", "comp_type": "read_csv", "filepath": "$in",
       |      "routes": { "out": [ { "to": "f", "in_port": "in" } ] },
       |      "out_port_schemas": { "out": $abSchema } },
       |    { "name": "f", "comp_type": "filter",
       |      "rule": { "column": "b", "operator": "!=", "value": "drop" },
       |      "in_port_schemas": { "in": $abSchema },
       |      "routes": { "pass": [ { "to": "w", "in_port": "in" } ] },
       |      "out_port_schemas": { "pass": $abSchema } },
       |    { "name": "w", "comp_type": "write_csv", "filepath": "$out",
       |      "in_port_schemas": { "in": $abSchema } }
       |  ]
       |}""".stripMargin

  test("run succeeds and reports per-component lines_forwarded + throughput") {
    import spark.implicits._
    val in = tmp("in_ok")
    graft.io.CsvIO.write(
      Seq(("1", "x"), ("2", "drop"), ("3", "y")).toDF("a", "b"), in, singleFile = true)
    val res = JobRunner.run(spark, JobConfig.parse(jobJson(in, tmp("out_ok"))))
    assert(res.succeeded)
    assert(res.attempts === 1)
    assert(res.linesForwarded.get("r.out") === Some(3L))
    assert(res.linesForwarded.get("f.pass") === Some(2L))
    assert(res.throughputRowsPerSec > 0)
    // metrics parity (component_metrics.py): received on every consumed
    // edge, filter's dismissed = received - pass (fail port unrouted here),
    // and the three reconcile
    assert(res.linesReceived.get("f.in") === Some(3L))
    assert(res.linesReceived.get("w.in") === Some(2L))
    assert(res.linesDismissed.get("f") === Some(1L))
    assert(res.linesReceived("f.in") ===
      res.linesForwarded("f.pass") + res.linesDismissed("f"))
  }

  test("concurrent runs on the shared session do not cross-contaminate metrics") {
    // both jobs use the SAME component names (r/f/w) — the listener bus
    // is session-global, so without the per-run observe tag each run's
    // listener would absorb the other's counts (merge via max + foreign
    // keys), inflating both records
    import spark.implicits._
    val inA = tmp("in_conc_a"); val inB = tmp("in_conc_b")
    graft.io.CsvIO.write(
      Seq(("1", "x"), ("2", "drop"), ("3", "y")).toDF("a", "b"), inA, singleFile = true)
    graft.io.CsvIO.write(
      (1 to 9).map(i => (i.toString, "keep")).toDF("a", "b"), inB, singleFile = true)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fa = pool.submit(() =>
        JobRunner.run(spark, JobConfig.parse(jobJson(inA, tmp("out_conc_a")))))
      val fb = pool.submit(() =>
        JobRunner.run(spark, JobConfig.parse(jobJson(inB, tmp("out_conc_b")))))
      val (ra, rb) = (fa.get(), fb.get())
      assert(ra.succeeded && rb.succeeded)
      assert(ra.linesForwarded.get("r.out") === Some(3L))
      assert(ra.linesForwarded.get("f.pass") === Some(2L))
      assert(rb.linesForwarded.get("r.out") === Some(9L))
      assert(rb.linesForwarded.get("f.pass") === Some(9L))
      assert(ra.linesReceived.get("f.in") === Some(3L))
      assert(rb.linesReceived.get("f.in") === Some(9L))
    } finally pool.shutdown()
  }

  test("dismissed uses the measured fail-port count when that branch runs") {
    import spark.implicits._
    val in = tmp("in_fail_port")
    graft.io.CsvIO.write(
      Seq(("1", "x"), ("2", "drop"), ("3", "drop")).toDF("a", "b"), in, singleFile = true)
    val json =
      s"""{ "name": "t2", "components": [
         |  { "name": "r", "comp_type": "read_csv", "filepath": "$in",
         |    "routes": { "out": [ { "to": "f", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $abSchema } },
         |  { "name": "f", "comp_type": "filter",
         |    "rule": { "column": "b", "operator": "!=", "value": "drop" },
         |    "in_port_schemas": { "in": $abSchema },
         |    "routes": { "pass": [ { "to": "w", "in_port": "in" } ],
         |                "fail": [ { "to": "wf", "in_port": "in" } ] },
         |    "out_port_schemas": { "pass": $abSchema, "fail": $abSchema } },
         |  { "name": "w", "comp_type": "write_csv",
         |    "filepath": "${tmp("out_pass")}",
         |    "in_port_schemas": { "in": $abSchema } },
         |  { "name": "wf", "comp_type": "write_csv",
         |    "filepath": "${tmp("out_fail_rows")}",
         |    "in_port_schemas": { "in": $abSchema } } ] }""".stripMargin
    val res = JobRunner.run(spark, JobConfig.parse(json))
    assert(res.succeeded)
    assert(res.linesDismissed.get("f") === Some(2L))
    assert(res.linesReceived.get("f.in") === Some(3L))
    assert(res.linesForwarded.get("f.fail") === Some(2L))
  }

  test("counts are complete on return even behind a slow shared-queue listener") {
    // another listener on the shared queue stalls every SQL execution's
    // delivery by ~1 s: the harvesting callbacks reach MetricsListener
    // late, and run() must wait for them, not for a quiet interval
    import spark.implicits._
    val in = tmp("in_slow_bus")
    graft.io.CsvIO.write(
      Seq(("1", "x"), ("2", "y"), ("3", "z")).toDF("a", "b"), in, singleFile = true)
    val json =
      s"""{ "name": "t3", "components": [
         |  { "name": "r", "comp_type": "read_csv", "filepath": "$in",
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $abSchema } },
         |  { "name": "w", "comp_type": "write_csv",
         |    "filepath": "${tmp("out_slow_bus")}",
         |    "in_port_schemas": { "in": $abSchema } } ] }""".stripMargin
    val slow = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => Thread.sleep(1000)
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(slow)
    try {
      val res = JobRunner.run(spark, JobConfig.parse(json))
      assert(res.succeeded)
      assert(res.linesForwarded.get("r.out") === Some(3L))
      assert(res.linesReceived.get("w.in") === Some(3L))
    } finally spark.sparkContext.removeSparkListener(slow)
  }

  test("the listener-bus barrier reports a stalled shared queue as a timeout") {
    val release = new java.util.concurrent.CountDownLatch(1)
    val stalled = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => release.await()
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(stalled)
    try {
      spark.range(3).collect()
      assert(!ListenerBusBridge.drainSharedQueue(spark.sparkContext, 200))
      release.countDown()
      assert(ListenerBusBridge.drainSharedQueue(spark.sparkContext, 10000))
    } finally {
      release.countDown()
      spark.sparkContext.removeSparkListener(stalled)
    }
  }

  test("retry loop: missing input exhausts attempts, reports last error") {
    val res = JobRunner.run(spark,
      JobConfig.parse(jobJson(tmp("missing_dir_nowhere"), tmp("out_fail"), retries = 2)),
      backoff = JobRunner.Constant(1))
    assert(!res.succeeded)
    assert(res.attempts === 3) // 1 + 2 retries
    assert(res.lastError.isDefined)
  }

  test("backoff schedules grow exponentially") {
    val b = JobRunner.Exponential(100, 2.0)
    assert(Seq(0, 1, 2, 3).map(b.delayMs) === Seq(100L, 200L, 400L, 800L))
    assert(JobRunner.Constant(250).delayMs(5) === 250L)
  }
}
