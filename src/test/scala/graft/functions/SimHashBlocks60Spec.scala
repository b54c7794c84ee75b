package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
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

  /** The HOF form Dedup.hammingBlocks replaced. */
  private def hammingHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), (acc, v) => acc + v)

  test("hamming equals the zip_with/aggregate form (generated fingerprints + null, short, mismatched arrays)") {
    val rnd = new scala.util.Random(3)
    val words = Seq("alpha", "beta", "gamma", "delta", "中文", "é", "x", "😀")
    val docs = spark.createDataFrame(spark.sparkContext.parallelize((0 until 300).map(i =>
      Row(i.toLong, Seq.fill(rnd.nextInt(12))(words(rnd.nextInt(words.size))).mkString(" "))), 2),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
    val fps = docs.select(col("doc_id"), Dedup.simhashBlocks(col("text")).as("a"))
    val pairs = fps.join(fps.select(col("doc_id").as("d2"), col("a").as("b")),
      (col("doc_id") + 1) === col("d2"))
      .select(col("a"), col("b"))
    def l(xs: java.lang.Long*): Seq[java.lang.Long] = xs
    val edges = Seq[(Seq[java.lang.Long], Seq[java.lang.Long])](
      (l(), l()), (l(1L), l()), (l(), l(1L)), (l(1L, 2L), l(1L, 2L, 3L)),
      (l(null), l(1L)), (l(1L, null), l(1L, null)), (l(null), l(null)),
      (null, l(1L)), (l(1L), null), (null, null),
      (l(-1L, Long.MinValue, 0L, 5L), l(0L, Long.MaxValue, -1L, 6L)))
    val schema = StructType(Seq(StructField("a", ArrayType(LongType)),
      StructField("b", ArrayType(LongType))))
    val edgeDf = spark.createDataFrame(spark.sparkContext.parallelize(
      edges.map { case (a, b) => Row(a, b) }, 2), schema)
    for (df <- Seq(pairs, edgeDf)) {
      val got = df.select(Dedup.hammingBlocks(col("a"), col("b")).as("k"),
        hammingHof(col("a"), col("b")).as("h"))
      val bad = got.filter(not(col("k") <=> col("h"))).limit(3).collect()
      assert(bad.isEmpty, bad.mkString("\n"))
    }
    val e = edgeDf.select(Dedup.hammingBlocks(col("a"), col("b"))).collect().map(_.get(0))
    assert(e.toSeq === Seq(0L, null, null, null, null, null, null, null, null, null, 194L))
    assert(pairs.count() === 299)
  }
}
