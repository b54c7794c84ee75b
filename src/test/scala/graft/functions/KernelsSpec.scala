package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row}
import org.apache.spark.sql.execution.{InputAdapter, ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Every Column face in `functions/` over one fixture — nulls, empty
  * strings and arrays, null elements, length mismatches, generated
  * unicode — checked the same three ways: whole-stage codegen and
  * interpreted eval (no whole-stage codegen, NO_CODEGEN factory) give
  * the same rows; the kernel call sits inside a WholeStageCodegen
  * stage; a wrong-typed input fails analysis (at the kernel, or at the
  * `lower()` that CollapseWs and CountTokensInSet compose under it).
  * The per-kernel specs pin each kernel's semantics against its
  * reference form. */
class KernelsSpec extends SparkTestBase {

  private val dim = 4
  private val weights = Array.tabulate(dim, 6)((i, p) => (i + 1) * 0.25 - p * 0.5)
  private val set = Seq("the", "a", "of", "é", "中")
  private val bloom = {
    val bf = BloomFilter.create(set.size.toLong, 0.01)
    set.foreach(bf.putString)
    bf
  }

  private val textGen: Gen[String] = Gen.listOf(Gen.frequency(
    (10, Gen.alphaNumChar), (4, Gen.const(' ')),
    (3, Gen.oneOf('\t', '\n', '\u000B', '\f', '\r', ' ')),
    (3, Gen.oneOf('.', '#', '-', '*', '•', '…')),
    (3, Gen.oneOf('é', 'ß', 'Σ', 'σ', '中', 'İ')),
    (1, Gen.const("😀")))).map(_.mkString)

  /** The fixture, as an RDD-backed frame so the optimizer cannot fold
    * the projection into a local relation. */
  private lazy val fixture: DataFrame = {
    def f(xs: Float*): Seq[java.lang.Float] = xs.map(java.lang.Float.valueOf)
    def d(xs: Double*): Seq[java.lang.Double] = xs.map(java.lang.Double.valueOf)
    def l(xs: Long*): Seq[java.lang.Long] = xs.map(java.lang.Long.valueOf)
    val cells = Seq(Row(1L, f(1f, 0f, 0f, 0f)), Row(2L, f(0f, 1f, 0f, 0f)),
      Row(3L, null), Row(4L, f(0f, 0f, 0f)))
    val edges = Seq(
      Row(0, null, null, null, null, null, null),
      Row(1, "", Seq.empty[String], Seq.empty, Seq.empty, cells, Seq.empty),
      Row(2, "  \t ", Seq("the", null, "of"), f(1f, 2f), d(1.0, 2.0), cells, l(1L, 2L)),
      Row(3, " of  THE  a \n", Seq("a", "b", "a", "b"), f(1f, 2f, 3f), d(1.0, 2.0, 3.0, 4.0), cells,
        l(-1L, 0L, 1L, 2L)),
      Row(4, "line\nline\n...\n- x …  \n", Seq(null, null), f(1f, 2f, 3f, 4f, 5f), d(1.0), cells,
        l(1L, 2L, 3L, 4L, 5L)),
      Row(5, "Σ σ ς", Seq(""), Seq[java.lang.Float](1f, null, 3f, 4f),
        Seq[java.lang.Double](null, 1.0, 2.0, 3.0), cells, Seq[java.lang.Long](7L, null, 9L, 10L)),
      Row(6, "nan", Seq("nan"), f(Float.NaN, 1f, 0f, 0f), d(0.0, 0.0, 0.0, 0.0), cells,
        l(Long.MinValue, Long.MaxValue, 0L, 0L)),
      Row(7, "zero", Seq("0"), f(0f, 0f, 0f, 0f), d(0.0, 0.0, 0.0, 0.0), Seq.empty, l(0L, 0L, 0L, 0L)))
    val rnd = new scala.util.Random(17)
    val texts = Gen.listOfN(50, textGen).apply(Gen.Parameters.default, Seed(17L)).get
    val generated = texts.zipWithIndex.map { case (t, i) =>
      Row(100 + i, t, t.split(" ").toSeq.map(w => if (w == "#") null else w),
        Seq.fill(dim)(java.lang.Float.valueOf(rnd.nextFloat() * 2 - 1)),
        Seq.fill(dim)(java.lang.Double.valueOf(rnd.nextGaussian())), cells,
        Seq.fill(dim)(java.lang.Long.valueOf(rnd.nextLong())))
    }
    val schema = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("text", StringType),
      StructField("toks", ArrayType(StringType)),
      StructField("vec", ArrayType(FloatType)),
      StructField("vec2", ArrayType(DoubleType)),
      StructField("cells", ArrayType(StructType(Seq(
        StructField("cell", LongType), StructField("cvec", ArrayType(FloatType)))))),
      StructField("longs", ArrayType(LongType))))
    spark.createDataFrame(spark.sparkContext.parallelize(edges ++ generated, 2), schema)
  }

  private val text = col("text")
  private val toks = col("toks")
  private val vec = col("vec")

  /** name, the face over the fixture, the face over a wrong-typed input. */
  private val faces: Seq[(String, Column, Column)] = Seq(
    ("ArrayDot.dot", ArrayDot.dot(vec, col("vec2")), ArrayDot.dot(vec, toks)),
    ("BestCell.best", BestCell.best(vec, col("cells")), BestCell.best(vec, toks)),
    ("CharChunks.chunks", CharChunks.chunks(text, 4, 1), CharChunks.chunks(col("id"), 4, 1)),
    ("CharEntropy.entropy", CharEntropy.entropy(text), CharEntropy.entropy(toks)),
    ("CharShingles.shingles", CharShingles.shingles(text, 3), CharShingles.shingles(col("id"), 3)),
    ("CollapseWs.normalize", CollapseWs.normalize(text), CollapseWs.normalize(vec)),
    ("CountAlphaTokens.count", CountAlphaTokens.count(text), CountAlphaTokens.count(lit(null))),
    ("CountInBloom.count", CountInBloom.count(toks, bloom), CountInBloom.count(text, bloom)),
    ("CountInSet.count", CountInSet.count(toks, set), CountInSet.count(vec, set)),
    ("CountTokensInSet.count", CountTokensInSet.count(text, set), CountTokensInSet.count(toks, set)),
    ("CountTokensInSet.countDistinct", CountTokensInSet.countDistinct(text, set),
      CountTokensInSet.countDistinct(toks, set)),
    ("DupLineRatio.ratio", DupLineRatio.ratio(text), DupLineRatio.ratio(col("id"))),
    ("GopherLineStats.stats", GopherLineStats.stats(text), GopherLineStats.stats(text.cast("binary"))),
    ("GopherRules.rules", GopherRules.rules(text, set, 2, 100, 1.0, 8.0, 0.5, 0.9, 0.3, 0.5, 1),
      GopherRules.rules(toks, set, 2, 100, 1.0, 8.0, 0.5, 0.9, 0.3, 0.5, 1)),
    ("L2Normalize.normalize", L2Normalize.normalize(vec), L2Normalize.normalize(toks)),
    ("MatVecSums.sums", MatVecSums.sums(vec, weights), MatVecSums.sums(col("id"), weights)),
    ("MinHash.bandKeys", MinHash.bandKeys(col("longs"), 4, 2), MinHash.bandKeys(vec, 4, 2)),
    ("MinHash.jaccard", MinHash.jaccard(toks, split(text, " ")), MinHash.jaccard(toks, vec)),
    ("MinHash.signature", MinHash.signature(toks, 4), MinHash.signature(text, 4)),
    ("QuantizeInt8.quantize", QuantizeInt8.quantize(vec), QuantizeInt8.quantize(array(lit(true)))),
    ("RemoveInSet.remove", RemoveInSet.remove(toks, set), RemoveInSet.remove(vec, set)),
    ("SimHashBlocks60.blocks", SimHashBlocks60.blocks(toks), SimHashBlocks60.blocks(text)),
    ("SimHashBlocks60.hamming", SimHashBlocks60.hamming(col("longs"), reverse(col("longs"))),
      SimHashBlocks60.hamming(col("longs"), vec)),
    ("TokenStats.stats", TokenStats.stats(text), TokenStats.stats(col("id"))),
    ("TopGramStats.stats", TopGramStats.stats(toks, 2), TopGramStats.stats(vec, 2)),
    ("WordShingles.shingles", WordShingles.shingles(toks, 2), WordShingles.shingles(text, 2)),
    ("WordShingles.shinglesAll", WordShingles.shinglesAll(toks, 2),
      WordShingles.shinglesAll(lit(null), 2)))

  private def rows(face: Column): Seq[String] =
    fixture.select(col("id"), face.as("r")).orderBy("id").collect().map(_.toString).toSeq

  private def interpreted[T](body: => T): T = {
    val keys = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally keys.foreach { case (k, _) => spark.conf.unset(k) }
  }

  /** The plans of each whole-stage codegen stage, stopping at the
    * stage's inputs. */
  private def stages(plan: SparkPlan): Seq[Seq[SparkPlan]] = {
    def within(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case _: InputAdapter => Nil
      case _ => p.children.flatMap(within)
    })
    val root = plan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    root.collect { case w: WholeStageCodegenExec => within(w.child) }
  }

  for ((name, face, wrong) <- faces) {
    val kernel = s"static_invoke(graft.functions.${name.takeWhile(_ != '.')}."

    test(s"$name: codegen and interpreted eval agree; codegen'd; wrong type rejected") {
      val compiled = rows(face)
      assert(compiled.size === 58)
      assert(compiled === interpreted(rows(face)))

      val plan = fixture.select(face).queryExecution.executedPlan
      assert(stages(plan).exists(_.exists {
        case p: ProjectExec => p.projectList.exists(_.toString.contains(kernel))
        case _ => false
      }), s"expected $kernel inside a WholeStageCodegen stage:\n$plan")

      val e = intercept[AnalysisException](fixture.select(wrong).collect())
      assert(e.getMessage.contains("DATATYPE_MISMATCH"), e.getMessage)
    }
  }
}
