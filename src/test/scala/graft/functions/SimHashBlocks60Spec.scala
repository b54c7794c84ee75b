package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import graft.scale.Dedup

/** SimHashBlocks60 must match the HOF simhashBlocks tower bit-for-bit —
  * the simhash dedup blocking and its oracle depend on it. */
class SimHashBlocks60Spec extends SparkTestBase {

  test("matches the HOF form over the documents fixture (incl. CJK)") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val both = docs.select(
      Dedup.simhashBlocks(col("text")).as("n"),
      Dedup.simhashBlocksHof(col("text")).as("h"))
    val bad = both.filter(not(col("n") <=> col("h"))).count()
    assert(bad === 0L, s"$bad documents diverge between native and HOF blocks")
    assert(both.count() === 500)
  }

  test("edge cases: null, empty, blank, null-safe equality with HOF") {
    import spark.implicits._
    val df = Seq((1, "hello world of text"), (2, ""), (3, "   "),
      (4, null.asInstanceOf[String]), (5, "dup dup dup")).toDF("id", "text")
    val got = df.select(col("id"),
      Dedup.simhashBlocks(col("text")).as("n"),
      Dedup.simhashBlocksHof(col("text")).as("h")).orderBy(col("id")).collect()
    got.foreach { r =>
      assert(!r.isNullAt(1) && !r.isNullAt(2)) // both always 4-element arrays
      assert(r.getSeq[Any](1) === r.getSeq[Any](2), s"row ${r.getInt(0)}")
    }
    // null text -> four null blocks, never a null array
    assert(got(3).getSeq[Any](1) === Seq(null, null, null, null))
    // blocks stay within 15 bits
    got.filter(!_.getSeq[Any](1).contains(null)).foreach(r =>
      r.getSeq[Long](1).foreach(b => assert(b >= 0L && b < (1L << 15))))
  }
}
