package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import graft.scale.Similarity

/** MatVecSums must be BIT-IDENTICAL to the HOF planeSums tower it
  * replaces — the LSH signatures (and therefore the dedup_embedding
  * oracle) depend on exact accumulation order and null poisoning. */
class MatVecSumsSpec extends SparkTestBase {

  private val (dim, planes) = (16, 24)

  test("matches the HOF planeSums bit-for-bit on random vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val df = (1 to 100).map(i => (i, Array.fill(dim)(rnd.nextFloat() * 4 - 2)))
      .toDF("id", "v")
    val out = df.select(
      Similarity.planeSums(col("v"), dim, planes).as("native"),
      Similarity.planeSumsHof(col("v"), dim, planes).as("hof")).collect()
    out.foreach { r =>
      val (n, h) = (r.getSeq[Double](0), r.getSeq[Double](1))
      assert(n.size === planes && h.size === planes)
      n.zip(h).foreach { case (a, b) =>
        assert(java.lang.Double.doubleToLongBits(a) ===
          java.lang.Double.doubleToLongBits(b))
      }
    }
  }

  test("null / short / long / empty vectors poison exactly like the HOF") {
    import spark.implicits._
    val df = Seq(
      (1, Array.fill(dim)(1.0f)),                 // plain
      (2, Array.fill(dim - 3)(1.0f)),             // short -> array of nulls
      (3, Array.fill(dim + 3)(1.0f)),             // long -> NULL array
      (4, Array.empty[Float]),                    // empty -> array of nulls
      (5, null.asInstanceOf[Array[Float]])        // null -> NULL
    ).toDF("id", "v")
    val got = df.select(col("id"),
      Similarity.planeSums(col("v"), dim, planes).as("n"),
      Similarity.planeSumsHof(col("v"), dim, planes).as("h"))
      .orderBy(col("id")).collect()
    got.foreach { r =>
      assert(r.isNullAt(1) === r.isNullAt(2), s"row ${r.getInt(0)} nullness")
      if (!r.isNullAt(1)) {
        val (n, h) = (r.getSeq[java.lang.Double](1), r.getSeq[java.lang.Double](2))
        assert(n === h, s"row ${r.getInt(0)}")
      }
    }
    assert(!got(0).isNullAt(1))
    assert(got(1).getSeq[java.lang.Double](1).forall(_ == 0.0)) // short → zeros
    assert(got(2).isNullAt(1))                                  // long → NULL
    assert(got(3).getSeq[java.lang.Double](1).forall(_ == 0.0)) // empty → zeros
    assert(got(4).isNullAt(1))                                  // null → NULL
  }

  test("null element poisons to the all-zeros array, like the HOF") {
    import spark.implicits._
    for (pos <- Seq(0, 5, dim - 1)) {
      val v = (0 until dim).map(i => if (i == pos) null else java.lang.Float.valueOf(1.0f))
      val df = Seq(Tuple1(v)).toDF("v")
      val got = df.select(Similarity.planeSums(col("v"), dim, planes).as("n"),
        Similarity.planeSumsHof(col("v"), dim, planes).as("h")).head()
      assert(!got.isNullAt(0) && !got.isNullAt(1), s"pos $pos")
      assert(got.getSeq[java.lang.Double](0).forall(_ == 0.0), s"pos $pos native")
      assert(got.getSeq[java.lang.Double](1).forall(_ == 0.0), s"pos $pos hof")
    }
  }
}
