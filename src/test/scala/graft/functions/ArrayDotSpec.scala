package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** ArrayDot must be BIT-IDENTICAL to the interpreted HOF form it
  * replaces (aggregate(zip_with(...)) — the oracle gate depends on the
  * accumulation order), including every null/length edge case. */
class ArrayDotSpec extends SparkTestBase {

  private def hofDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  test("matches the HOF pipeline bit-for-bit on random float vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (1 to 200).map { i =>
      (i, Array.fill(64)(rnd.nextFloat() * 2 - 1), Array.fill(64)(rnd.nextFloat() * 2 - 1))
    }
    val df = rows.toDF("id", "a", "b")
    val out = df.select(
      ArrayDot.dot(col("a"), col("b")).as("native"),
      hofDot(col("a"), col("b")).as("hof")).collect()
    out.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("null/length/empty edges match the HOF form") {
    import spark.implicits._
    val df = Seq(
      (1, Array(1.0f, 2.0f), Array(3.0f, 4.0f)),   // plain
      (2, Array.empty[Float], Array.empty[Float]), // empty -> 0.0
      (3, Array(1.0f), Array(1.0f, 2.0f)),         // length mismatch -> null
      (4, null.asInstanceOf[Array[Float]], Array(1.0f)) // null array -> null
    ).toDF("id", "a", "b")
    val got = df.select(col("id"), ArrayDot.dot(col("a"), col("b")).as("d"),
      hofDot(col("a"), col("b")).as("h")).orderBy(col("id")).collect()
    got.foreach { r =>
      assert(r.isNullAt(1) === r.isNullAt(2), s"row ${r.getInt(0)}")
      if (!r.isNullAt(1)) assert(r.getDouble(1) === r.getDouble(2))
    }
    assert(got(0).getDouble(1) === 11.0)
    assert(got(1).getDouble(1) === 0.0)
    assert(got(2).isNullAt(1) && got(3).isNullAt(1))
  }

  test("mixed element types (float corpus vs double literal query)") {
    import spark.implicits._
    val df = Seq((1, Array(0.5f, -1.5f))).toDF("id", "v")
    val q = array(lit(2.0), lit(4.0))
    val r = df.select(ArrayDot.dot(col("v"), q).as("d"),
      hofDot(col("v"), q).as("h")).head()
    assert(r.getDouble(0) === r.getDouble(1))
    assert(r.getDouble(0) === (0.5 * 2.0 + (-1.5) * 4.0))
    // int, long and decimal element types read through the same widening
    val ints = Seq((1, Array(3, -2), Array(5L, 7L), Array(BigDecimal("0.25"), BigDecimal("1.5"))))
      .toDF("id", "i", "l", "m")
    val m = ints.select(ArrayDot.dot(col("i"), col("l")), hofDot(col("i"), col("l")),
      ArrayDot.dot(col("m"), col("i")), hofDot(col("m"), col("i"))).head()
    assert(m.getDouble(0) === 1.0 && m.getDouble(1) === 1.0)
    assert(m.getDouble(2) === -2.25 && m.getDouble(3) === -2.25)
  }

  test("non-numeric arrays are rejected at analysis") {
    import spark.implicits._
    val df = Seq((1, Array("x"), Array("y"))).toDF("id", "a", "b")
    val e = intercept[Exception] {
      df.select(ArrayDot.dot(col("a"), col("b"))).collect()
    }
    assert(e.getMessage.toLowerCase.contains("numeric") ||
      e.getMessage.toLowerCase.contains("data type mismatch"))
  }
}
