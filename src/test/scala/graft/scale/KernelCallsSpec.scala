package graft.scale

import graft.SparkTestBase
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** How many times each row kernel sits in the plan that ran: the
  * executed (final adaptive) plan, walked into query stages, reused
  * exchanges and each cached relation's plan, every node visited once by
  * identity — a persisted table read on both sides of a self-join, or a
  * reused exchange, computes its kernels once. Counted per kernel method
  * on the `StaticInvoke` nodes, not on the plan string (a cached plan
  * repeats in the string once per reader). Spark's Filter codegen does
  * not share subexpressions, so a kernel copy pushed into a Filter is a
  * second call per row. */
class KernelCallsSpec extends SparkTestBase {

  /** `Object.method` → number of StaticInvoke nodes in `df`'s executed
    * plan, after running it. */
  private def kernelCalls(df: DataFrame): Map[String, Int] = {
    df.collect()
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    val counts = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    def visit(p: SparkPlan): Unit = if (seen.add(p)) {
      p.expressions.foreach(_.foreach {
        case s: StaticInvoke =>
          counts(s"${s.staticObject.getSimpleName.stripSuffix("$")}.${s.functionName}") += 1
        case _ =>
      })
      p match {
        case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
        case q: QueryStageExec => visit(q.plan)
        case r: ReusedExchangeExec => visit(r.child)
        case i: InMemoryTableScanExec => visit(i.relation.cacheBuilder.cachedPlan)
        case _ =>
      }
      p.children.foreach(visit)
      p.subqueries.foreach(visit)
    }
    visit(df.queryExecution.executedPlan)
    counts.toMap.withDefaultValue(0)
  }

  private def assertOnce(calls: Map[String, Int], kernels: String*): Unit =
    kernels.foreach(k => assert(calls(k) === 1, s"$k: ${calls(k)} calls in $calls"))

  private def frame(rows: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (id, t) => Row(id, t) }, 2),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))

  /** 300 generated 40-word documents plus planted near-duplicates: a
    * copy of every 5th with one word replaced, and an exact copy of every
    * 7th. */
  private lazy val docs: DataFrame = {
    val rnd = new scala.util.Random(11)
    val vocab = (0 until 2000).map(i => s"w${i}x")
    val base = (0 until 300).map(_ => Seq.fill(40)(vocab(rnd.nextInt(vocab.size))))
    val edited = base.zipWithIndex.collect { case (d, i) if i % 5 == 0 => d.updated(i % 40, "edit") }
    val copies = base.zipWithIndex.collect { case (d, i) if i % 7 == 0 => d }
    frame((base ++ edited ++ copies).zipWithIndex.map { case (d, i) => i.toLong -> d.mkString(" ") })
  }

  private val gopherCounts = Seq("TokenStats.compute", "GopherLineStats.compute",
    "CountAlphaTokens.countOf", "CountTokensInSet.compute")

  test("Gopher: one rule-kernel call per row, plain and observed input, both emits") {
    val many = (1 to 60).map(i => s"Word$i  items").mkString(" ")
    val in = TextAnalysis.normalizeText(frame(Seq(
      1L -> (many + " the be to of"), 2L -> "the be to of", 3L -> null)), "text")
    val inputs = Seq("plain" -> in,
      "observed" -> in.observe("graft.spec.gopher", count(lit(1)).as("rows")))
    for ((name, df) <- inputs) {
      val docsOut = TextAnalysis.gopherFilter(df)
      val flagged = TextAnalysis.gopherRules(df)
      for ((emit, out) <- Seq("docs" -> docsOut, "flagged" -> flagged)) {
        withClue(s"$name input, emit=$emit: ") {
          val calls = kernelCalls(out)
          assertOnce(calls, "GopherRules.compute")
          gopherCounts.foreach(k => assert(calls(k) === 0, s"$k inside the rule kernel"))
        }
      }
      assert(docsOut.select("doc_id").collect().map(_.getLong(0)).toSeq === Seq(1L))
    }
  }

  test("MinHash near-dups: signature, band keys and Jaccard once each") {
    val pairs = Dedup.minhashNearDups(docs, "text", "doc_id")
    assertOnce(kernelCalls(pairs), "MinHash.signatureOf", "MinHash.bandKeysOf",
      "MinHash.jaccardOf")
    assert(pairs.count() > 0)
  }

  test("line_dedup set strategy: RemoveInSet once per row") {
    val out = Dedup.stripHotLines(frame(Seq(1L -> "a\nFooter", 2L -> "Footer",
      3L -> "b\nFooter\nc", 4L -> null)), "text", Seq("Footer"))
    assertOnce(kernelCalls(out), "RemoveInSet.compute")
    assert(out.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 3L))
  }

  test("SimHash near-dups: hamming once per candidate pair") {
    val pairs = Dedup.simhashNearDups(docs, "text", "doc_id")
    assertOnce(kernelCalls(pairs), "SimHashBlocks60.hammingOf")
    assert(pairs.count() > 0)
  }
}
