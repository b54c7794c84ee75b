package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.unsafe.types.UTF8String

/** CharEntropy: model parity against an independent per-string
  * computation, the documented edges, and codegen participation
  * (KernelsSpec runs the same checks over its shared fixture). */
class CharEntropySpec extends SparkTestBase {
  import spark.implicits._

  /** Independent reference: frequency map over bytes, -Σ p·log2(p). */
  private def model(s: String): Double = {
    val bs = s.getBytes("UTF-8")
    if (bs.isEmpty) 0.0
    else {
      val n = bs.length.toDouble
      bs.groupBy(identity).values
        .map(g => { val p = g.length / n; -p * (math.log(p) / math.log(2.0)) })
        .sum
    }
  }

  private def entropyOf(s: String): java.lang.Double = {
    val row = Seq(Tuple1(s)).toDF("t")
      .select(CharEntropy.entropy(col("t")).as("h")).head()
    if (row.isNullAt(0)) null else row.getDouble(0)
  }

  test("known values: uniform pair = 1 bit, single char = 0, empty = 0") {
    assert(entropyOf("abab") === 1.0)
    assert(entropyOf("aaaa") === 0.0)
    assert(entropyOf("") === 0.0)
    assert(entropyOf("abcd") === 2.0)
    assert(entropyOf(null) === null)
  }

  test("multi-byte UTF-8 counts bytes, not codepoints") {
    // 'é' is 0xC3 0xA9: two distinct bytes, uniform → 1 bit/byte
    assert(entropyOf("é") === 1.0)
  }

  test("matches the model on random strings (incl. high-byte unicode)") {
    val gen = Gen.listOf(Gen.frequency(
      (8, Gen.alphaNumChar), (2, Gen.oneOf(' ', '\n', 'é', 'ß', '中'))))
      .map(_.mkString)
    val strs = Gen.listOfN(200, gen)
      .apply(Gen.Parameters.default, Seed(7L)).get
    val got = strs.zipWithIndex.map { case (s, i) => (i, s) }
      .toDF("i", "t")
      .select(col("i"), CharEntropy.entropy(col("t")).as("h"))
      .orderBy("i").as[(Int, Double)].collect()
    got.foreach { case (i, h) =>
      assert(math.abs(h - model(strs(i))) < 1e-12,
        s"diverged on ${strs(i).take(40)}") }
  }

  private def frame = spark.range(20).select(
    concat(lit("the quick brown fox "), col("id").cast("string"), lit(" !! é")).as("t"))

  test("interpreted eval agrees with the codegen path") {
    def run(): Seq[Double] = frame.select(CharEntropy.entropy(col("t")).as("h"))
      .collect().map(_.getDouble(0)).toSeq
    val compiled = run()
    val keys = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    val viaEval = try run() finally keys.foreach { case (k, _) => spark.conf.unset(k) }
    assert(compiled.size === 20)
    assert(viaEval === compiled)
    val s = "the quick brown fox 123 !!"
    assert(CharEntropy.entropyOf(UTF8String.fromString(s)) === entropyOf(s).doubleValue())
  }

  test("participates in whole-stage codegen") {
    val q = frame.select(CharEntropy.entropy(col("t")).as("h"))
    assert(q.queryExecution.executedPlan.toString.contains("*(1)"),
      s"expected codegen:\n${q.queryExecution.executedPlan}")
    assert(q.count() === 20)
  }
}
