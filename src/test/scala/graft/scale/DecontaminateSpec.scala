package graft.scale

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ListenerBusBridge

/** Pins Decontaminate semantics (distinct-intersection hit counts, the
  * min_overlap threshold, null/empty-text handling) and the contract
  * that the broadcast and join strategies are value-identical — plus
  * the broadcast strategy's load-bearing plan property: the corpus side
  * stays a narrow map (zero Exchange), which is what makes it the
  * 100 TB path. */
class DecontaminateSpec extends SparkTestBase {
  import spark.implicits._

  private def corpus = Seq(
    (1L, "alpha beta gamma delta epsilon"),
    (2L, "alpha beta gamma delta"),      // shares grams with bench doc
    (3L, "zeta eta theta iota kappa"),   // disjoint
    (4L, ""),                            // empty text
    (5L, null.asInstanceOf[String]),     // null text
    (6L, "ALPHA   beta GAMMA delta")     // same grams after normalization
  ).toDF("doc_id", "text")

  private def bench = Seq(
    (100L, "alpha beta gamma delta"),
    (101L, "one two")                    // short: whole-text shingle
  ).toDF("doc_id", "text")

  test("hit counts are distinct-intersection sizes; threshold flags") {
    val out = Decontaminate.flag(corpus, bench, n = 3, minOverlap = 1)
      .select("doc_id", "n_hits", "contaminated")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .sortBy(_._1)
    // bench grams (n=3): {"alpha beta gamma", "beta gamma delta", "one two"}
    assert(out(0) === ((1L, 2L, true)))  // both 3-grams present
    assert(out(1) === ((2L, 2L, true)))
    assert(out(2) === ((3L, 0L, false)))
    assert(out(3) === ((4L, 0L, false))) // empty text: its one shingle "" misses
    assert(out(4) === ((5L, 0L, false))) // null text → 0 hits, kept
    assert(out(5) === ((6L, 2L, true)))  // case/whitespace-normalized
  }

  test("min_overlap raises the bar") {
    val out = Decontaminate.flag(corpus, bench, n = 3, minOverlap = 3)
      .filter(col("contaminated")).count()
    assert(out === 0L) // no doc shares 3 distinct grams with bench
  }

  test("clean() drops contaminated rows and the audit columns") {
    val out = Decontaminate.clean(corpus, bench, n = 3)
    assert(out.columns.toSeq === corpus.columns.toSeq)
    assert(out.select("doc_id").as[Long].collect().sorted === Seq(3L, 4L, 5L))
  }

  test("broadcast and join strategies agree on the real documents fixture") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val bench = docs.filter(col("doc_id") % 41 === 0)
    val corp = docs.filter(col("doc_id") % 41 =!= 0)
    val a = Decontaminate.flag(corp, bench, n = 3, minOverlap = 2)
      .select("doc_id", "n_hits", "contaminated")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .sortBy(_._1)
    assert(a.nonEmpty && a.exists(_._3) && a.exists(!_._3),
      "fixture must exercise both outcomes")
    for (strategy <- Seq("join", "bloom")) {
      val b = Decontaminate.flag(corp, bench, n = 3, minOverlap = 2,
          strategy = strategy)
        .select("doc_id", "n_hits", "contaminated")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        .sortBy(_._1)
      assert(a.toSeq === b.toSeq, s"strategy=$strategy diverged from broadcast")
    }
  }

  test("broadcast strategy keeps the corpus a narrow map: zero Exchange") {
    val plan = Decontaminate.flag(corpus, bench)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"broadcast decontamination must not shuffle the corpus:\n$plan")
  }

  test("malformed parameters fail loudly") {
    val e = intercept[IllegalArgumentException] {
      Decontaminate.flag(corpus, bench, n = 0)
    }
    assert(e.getMessage.contains("n must be >= 1"))
    val e2 = intercept[IllegalArgumentException] {
      Decontaminate.flag(corpus, bench, strategy = "nope")
    }
    assert(e2.getMessage.contains("broadcast | join | bloom"))
    val e3 = intercept[IllegalArgumentException] {
      Decontaminate.flag(corpus, bench, minOverlap = 0)
    }
    assert(e3.getMessage.contains("min_overlap"))
  }

  test("pairs: per-(corpus, benchmark) distinct-intersection counts") {
    val out = Decontaminate.pairs(corpus, bench, n = 3, minOverlap = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    // docs 1, 2, 6 each share both 3-grams with bench doc 100; nothing
    // overlaps the short bench doc 101 (whole-text shingle "one two")
    assert(out.toSeq === Seq((1L, 100L, 2L), (2L, 100L, 2L), (6L, 100L, 2L)))
    // the flag() hit count is the SUM over a doc's pair rows when the
    // benchmark docs share no grams among themselves (true here)
    val flags = Decontaminate.flag(corpus, bench, n = 3)
      .filter(col("contaminated")).select("doc_id", "n_hits")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(flags.toSeq === Seq((1L, 2L), (2L, 2L), (6L, 2L)))
  }

  test("pairs: min_overlap gates the DOC total, so cross-benchmark leaks stay visible") {
    import spark.implicits._
    // one gram shared with bench item A, a different one with item B:
    // flag(minOverlap=2) marks the doc contaminated (union total = 2),
    // so the audit must name BOTH items even though each pair shares 1
    val c = Seq((1L, "red fish blue bird swims away")).toDF("doc_id", "text")
    val b = Seq((100L, "red fish blue here"), (101L, "bird swims away now"))
      .toDF("doc_id", "text")
    assert(Decontaminate.flag(c, b, n = 3, minOverlap = 2)
      .select("contaminated").collect().head.getBoolean(0))
    val pairs = Decontaminate.pairs(c, b, n = 3, minOverlap = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(pairs.toSeq === Seq((1L, 100L, 1L), (1L, 101L, 1L)))
    // an uncontaminated doc (total < min_overlap) contributes no pairs
    val c2 = Seq((2L, "red fish blue only xx")).toDF("doc_id", "text")
    assert(Decontaminate.pairs(c2, b, n = 3, minOverlap = 2).count() === 0)
  }

  test("pairs: corpus-side df-cap bounds stop-gram blowup; doc gate stays exact") {
    // "aa bb cc" is a stop 3-gram: in EVERY corpus doc and in the bench
    // item — the C×B join-blowup shape. Doc 1 also genuinely leaks.
    val c = Seq(
      (1L, "aa bb cc red fish blue"),
      (2L, "aa bb cc bird swims away"),
      (3L, "aa bb cc totally unrelated words")
    ).toDF("doc_id", "text")
    val b = Seq((100L, "aa bb cc red fish blue")).toDF("doc_id", "text")
    // default cap is inert: full audit, stop gram included
    val full = Decontaminate.pairs(c, b, n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(full.toSeq === Seq((1L, 100L, 4L), (2L, 100L, 1L), (3L, 100L, 1L)))
    // maxDf=2 caps "aa bb cc" (corpus df 3): it leaves every n_shared,
    // but the DOC gate is uncapped so docs 2 and 3 (contaminated ONLY
    // via the capped gram) still surface — with null bench_id/n_shared
    // instead of silently vanishing from the audit
    val capped = Decontaminate.pairs(c, b, n = 3, maxDf = 2)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .sortBy(_._1)
    assert(capped.toSeq === Seq(
      (1L, Some(100L), Some(3L)),   // stop gram excluded from the count
      (2L, None, None),             // capped-only docs keep their row
      (3L, None, None)))
    // the capped doc set IS flag()'s contaminated set (gate exactness)
    val flagged = Decontaminate.flag(c, b, n = 3)
      .filter(col("contaminated")).select("doc_id")
      .as[Long].collect().sorted
    assert(capped.map(_._1).toSeq === flagged.toSeq)
    val e = intercept[IllegalArgumentException] {
      Decontaminate.pairs(c, b, maxDf = 0)
    }
    assert(e.getMessage.contains("max_df"))
  }

  test("pairs() is lazy: plan construction runs zero Spark jobs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.add(js.jobId)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val plan = Decontaminate.pairs(corpus, bench, n = 3)
      assert(plan.columns.toSeq === Seq("corpus_id", "bench_id", "n_shared"))
      assert(ListenerBusBridge.drainSharedQueue(spark.sparkContext, 10000))
      assert(jobs.isEmpty,
        s"pairs() graph build launched Spark jobs (ids: $jobs)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("cappedGrams names the stop grams the pairs audit excludes") {
    val c = Seq(
      (1L, "aa bb cc red fish blue"),
      (2L, "aa bb cc bird swims away"),
      (3L, "aa bb cc totally unrelated words")
    ).toDF("doc_id", "text")
    val out = Decontaminate.cappedGrams(c, n = 3, maxDf = 2)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSeq === Seq(("aa bb cc", 3L)))
    // the default cap is inert on a fixture this small
    assert(Decontaminate.cappedGrams(c, n = 3).count() === 0)
    val e = intercept[IllegalArgumentException] {
      Decontaminate.cappedGrams(c, maxDf = 0)
    }
    assert(e.getMessage.contains("max_df"))
  }

  test("bloom strategy computes the benchmark gram set once (cached)") {
    val out = Decontaminate.flag(corpus, bench, strategy = "bloom")
    // the benchmark distinct-gram explode is persisted (count + bloom
    // build + exact hits join share one computation): the returned plan
    // reads it from the cache, so the only Generate left is the
    // candidate-side corpus explode. Walk the tree (InMemoryTableScan
    // is a LEAF there — the cached plan lives inside the relation, so
    // its own Generate is rightly not counted).
    val names = out.queryExecution.sparkPlan.collect { case p => p.nodeName }
    assert(names.exists(_.startsWith("InMemoryTableScan")),
      s"benchmark gram set must be served from the operator cache: $names")
    val generates = names.count(_ == "Generate")
    assert(generates === 1,
      s"expected exactly one (candidate-side) explode, got $generates: $names")
  }

  test("reserved output/temp columns on the corpus are rejected, not overwritten") {
    // re-flagging a frame that still carries a previous pass's audit
    // columns must not silently destroy them
    val flagged = Decontaminate.flag(corpus, bench)
    val e = intercept[IllegalArgumentException] {
      Decontaminate.flag(flagged, bench)
    }
    assert(e.getMessage.contains("n_hits"))
    // clean() drops the audit columns, so re-cleaning chains fine
    Decontaminate.clean(Decontaminate.clean(corpus, bench), bench).count()
  }
}
