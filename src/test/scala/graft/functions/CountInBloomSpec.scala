package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** CountInBloom: CountInSet's null contract with one-sided sketch
  * semantics — members ALWAYS count (no false negatives), so zero is
  * proof of no overlap; non-members may occasionally count (FPR). */
class CountInBloomSpec extends SparkTestBase {

  private val members = Seq("the", "a", "of")
  private def bloomOf(xs: Seq[String]) = {
    val bf = org.apache.spark.util.sketch.BloomFilter.create(xs.size.toLong, 0.01)
    xs.foreach(bf.putString)
    bf
  }

  test("members always count; counts never exceed the array size") {
    import spark.implicits._
    val bf = bloomOf(members)
    val df = Seq(
      (1, Seq("the", "cat", "of", "the", "hat")),
      (2, Seq("x", "y", "z")),
      (3, Seq.empty[String]),
      (4, Seq("THE", "the"))
    ).toDF("id", "toks")
    val exact = df.select(col("id"),
      CountInSet.count(col("toks"), members).as("e"),
      CountInBloom.count(col("toks"), bf).as("b")).orderBy(col("id")).collect()
    exact.foreach { r =>
      // one-sided: bloom count >= exact count, bounded by the array
      assert(r.getInt(2) >= r.getInt(1), s"row ${r.getInt(0)} lost a member")
    }
    assert(exact(0).getInt(2) >= 3 && exact(2).getInt(2) === 0)
  }

  test("null array -> null; null elements don't count") {
    import spark.implicits._
    val bf = bloomOf(members)
    val df = Seq(
      (1, null.asInstanceOf[Seq[String]]),
      (2, Seq("the", null, "of"))
    ).toDF("id", "toks")
    val got = df.select(col("id"),
      CountInBloom.count(col("toks"), bf).as("b")).orderBy(col("id")).collect()
    assert(got(0).isNullAt(1))
    assert(got(1).getInt(1) >= 2 && got(1).getInt(1) <= 2) // both members, null dropped
  }

  test("build/probe hash the same UTF-8 bytes (putString vs binary probe)") {
    import spark.implicits._
    val words = Seq("héllo", "世界", "naïve", "plain")
    val bf = bloomOf(words)
    val df = Seq((1, words)).toDF("id", "toks")
    assert(df.select(CountInBloom.count(col("toks"), bf))
      .head().getInt(0) === words.size)
  }
}
