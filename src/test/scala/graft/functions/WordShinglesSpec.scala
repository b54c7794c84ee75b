package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.scale.Dedup

/** WordShingles and CharShingles must match their HOF forms exactly —
  * minhash signatures, jaccard posting lists and verification all hang
  * off these arrays (values AND first-occurrence distinct order). */
class WordShinglesSpec extends SparkTestBase {

  /** The interpreted HOF form Dedup.wordShingles replaced: n-1 zip_with
    * passes over shifted token arrays. */
  private def wordShinglesHof(text: Column, n: Int): Column = {
    val toks = split(Dedup.exactKey(text), " ")
    val grown = (1 until n).foldLeft(toks) { (acc, k) =>
      zip_with(acc, slice(toks, lit(k + 1), greatest(size(toks) - k, lit(0))),
        (a, b) => concat_ws(" ", a, b))
    }
    array_distinct(slice(grown, lit(1), greatest(size(toks) - (n - 1), lit(1))))
  }

  /** The interpreted HOF form Dedup.shingles replaced. */
  private def shinglesHof(text: Column, n: Int): Column = {
    val norm = Dedup.exactKey(text)
    val idxs = sequence(lit(1), greatest(length(norm) - (n - 1), lit(1)))
    array_distinct(transform(idxs, i => norm.substr(i, lit(n))))
  }

  test("word shingles match the HOF form over the documents fixture") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    for (n <- Seq(1, 3, 4)) {
      val bad = docs.select(
        Dedup.wordShingles(col("text"), n).as("a"),
        wordShinglesHof(col("text"), n).as("b"))
        .filter(not(col("a") <=> col("b"))).count()
      assert(bad === 0L, s"n=$n: $bad documents diverge")
    }
  }

  test("char shingles match the HOF form over the documents fixture (CJK)") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    for (n <- Seq(2, 5)) {
      val bad = docs.select(
        Dedup.shingles(col("text"), n).as("a"),
        shinglesHof(col("text"), n).as("b"))
        .filter(not(col("a") <=> col("b"))).count()
      assert(bad === 0L, s"n=$n: $bad documents diverge")
    }
  }

  test("edge cases: null, empty, blank, short, dups") {
    import spark.implicits._
    val df = Seq((1, "one two three four"), (2, "one"), (3, ""), (4, "   "),
      (5, null.asInstanceOf[String]), (6, "a a a a")).toDF("id", "text")
    val got = df.select(col("id"),
      Dedup.wordShingles(col("text"), 3).as("wa"),
      wordShinglesHof(col("text"), 3).as("wb"),
      Dedup.shingles(col("text"), 5).as("ca"),
      shinglesHof(col("text"), 5).as("cb")).orderBy(col("id")).collect()
    got.foreach { r =>
      assert(r.isNullAt(1) === r.isNullAt(2), s"row ${r.getInt(0)} word nullness")
      assert(r.isNullAt(3) === r.isNullAt(4), s"row ${r.getInt(0)} char nullness")
      if (!r.isNullAt(1)) assert(r.getSeq[String](1) === r.getSeq[String](2), s"row ${r.getInt(0)} word")
      if (!r.isNullAt(3)) assert(r.getSeq[String](3) === r.getSeq[String](4), s"row ${r.getInt(0)} char")
    }
    assert(got(0).getSeq[String](1) === Seq("one two three", "two three four"))
    assert(got(1).getSeq[String](1) === Seq("one"))   // short → whole-text
    assert(got(2).getSeq[String](1) === Seq(""))      // empty text → [""]
    assert(got(4).isNullAt(1))                        // null → null (word)
    assert(got(4).getSeq[String](3) === Seq(null))    // null → [null] (char)
    assert(got(5).getSeq[String](1) === Seq("a a a")) // dups collapse
  }

  test("shinglesAll: positional grams with duplicates, short-list/empty/null rules") {
    import spark.implicits._
    val df = Seq(
      (1, Seq("a", "b", "a", "b")),
      (2, Seq("x")),                 // short → whole-list collapse
      (3, Seq.empty[String]),
      (4, null.asInstanceOf[Seq[String]]),
      (5, Seq("a", null, "b"))).toDF("id", "toks")
    val got = df.select(col("id"),
      WordShingles.shinglesAll(col("toks"), 2).as("g")).orderBy("id").collect()
    assert(got(0).getSeq[String](1) === Seq("a b", "b a", "a b"),
      "every position, duplicates kept in order")
    assert(got(1).getSeq[String](1) === Seq("x"))
    assert(got(2).getSeq[String](1) === Seq.empty)
    assert(got(3).isNullAt(1))
    assert(got(4).getSeq[String](1) === Seq("a", "b"),
      "null window elements skip concat_ws-style")
    // distinct mode = positional mode deduped with first-occurrence order
    val both = df.filter(col("toks").isNotNull).select(
      WordShingles.shinglesAll(col("toks"), 2).as("all"),
      WordShingles.shingles(col("toks"), 2).as("dst")).collect()
    both.foreach { r =>
      assert(r.getSeq[String](0).distinct === r.getSeq[String](1)) }
  }
}
