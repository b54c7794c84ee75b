package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** CountInSet must count exactly like the size(filter(isin)) HOF form
  * it replaces — stopword ratios and langid votes depend on it. */
class CountInSetSpec extends SparkTestBase {

  private val set = Seq("the", "a", "of")
  private def hofCount(toks: Column): Column =
    size(filter(toks, t => t.isin(set.map(lit(_)): _*)))

  test("counts match the HOF form, incl. duplicates and misses") {
    import spark.implicits._
    val df = Seq(
      (1, Seq("the", "cat", "of", "the", "hat")), // dups counted
      (2, Seq("x", "y", "z")),                    // zero hits
      (3, Seq.empty[String]),                     // empty -> 0
      (4, Seq("THE", "the"))                      // exact match only
    ).toDF("id", "toks")
    val got = df.select(col("id"), CountInSet.count(col("toks"), set).as("n"),
      hofCount(col("toks")).as("h")).orderBy(col("id")).collect()
    got.foreach(r => assert(r.getInt(1) === r.getInt(2), s"row ${r.getInt(0)}"))
    assert(got.map(_.getInt(1)).toSeq === Seq(3, 0, 0, 1))
  }

  test("null array -> null; null elements don't count (like filter+isin)") {
    import spark.implicits._
    val df = Seq(
      (1, null.asInstanceOf[Seq[String]]),
      (2, Seq("the", null, "of"))
    ).toDF("id", "toks")
    val got = df.select(col("id"), CountInSet.count(col("toks"), set).as("n"),
      hofCount(col("toks")).as("h")).orderBy(col("id")).collect()
    assert(got(0).isNullAt(1) && got(0).isNullAt(2))
    assert(got(1).getInt(1) === 2 && got(1).getInt(2) === 2)
  }

  test("whole TextAnalysis columns unchanged vs HOF on real-ish text") {
    import spark.implicits._
    val texts = Seq(
      "the quick brown fox of the meadow", "der Hund und die Katze ist",
      "le chat est dans la maison", "", "   ", "no stop words here xyz")
    val df = texts.zipWithIndex.map(_.swap).toDF("id", "text")
    val out = df.select(
      graft.scale.TextAnalysis.stopwordRatio(col("text")).as("ratio"),
      graft.scale.TextAnalysis.langId(col("text")).as("lang")).collect()
    // pinned expectations (stable: pure functions of the text)
    assert(out(0).getString(1) === "en")
    assert(out(1).getString(1) === "de")
    assert(out(2).getString(1) === "fr")
    assert(out(5).getDouble(0) === 0.0)
  }
}
