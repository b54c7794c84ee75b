package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.{CollationFactory, CollationSupport, SQLOrderingUtil}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{BooleanType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * The seven Gopher QUALITY rules and their conjunction in ONE call per
 * row — struct(g_word_count, g_mean_word_len, g_symbol_ratio,
 * g_bullet_lines, g_ellipsis_lines, g_alpha_words, g_stopwords,
 * gopher_pass), all non-null booleans. It runs the four count kernels
 * the rules read (TokenStats, GopherLineStats, CountAlphaTokens,
 * CountTokensInSet over the lowercased text) and compares the counts in
 * the rules' own arithmetic: integer counts widened to double, ratios
 * as `threshold * count`, comparisons in Spark's double order (NaN
 * largest, -0.0 = 0.0). NULL text fails every rule.
 *
 * One call, because a Filter does not share subexpressions: Spark's
 * `FilterExec` codegen has no subexpression elimination (`ProjectExec`'s
 * has), and the optimizer pushes the filter below the projection that
 * defines the rule columns. The per-count form of the rules called
 * `TokenStats` 13 times and `GopherLineStats` 6 times per row there, and
 * its `lower()` argument re-ran an upstream `text_normalize` for every
 * copy. This kernel takes the text once and lowercases it itself, with
 * the `Lower` expression's own routine (`CollationSupport.Lower` on the
 * binary collation) and the session's `spark.sql.icu.caseMappings.enabled`,
 * read when the Column is built as `Lower` reads it when planned.
 * Equality with the per-count form is pinned in CurationOpsSpec.
 */
object GopherRules {

  /** The struct's field names, in order; `gopher_pass` is last. */
  val fields: Seq[String] = Seq("g_word_count", "g_mean_word_len",
    "g_symbol_ratio", "g_bullet_lines", "g_ellipsis_lines",
    "g_alpha_words", "g_stopwords", "gopher_pass")

  private val failed: InternalRow = InternalRow.fromSeq(fields.map(_ => false))

  /** Column face: the rule struct of `text`. */
  def rules(text: Column, stopwords: Seq[String],
            minWords: Int, maxWords: Int,
            minMeanLen: Double, maxMeanLen: Double,
            maxSymbolRatio: Double, maxBulletRatio: Double,
            maxEllipsisRatio: Double, minAlphaRatio: Double,
            minStopHits: Int): Column = {
    require(stopwords.nonEmpty, "GopherRules needs a non-empty stopword set")
    val icu = SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)
    ColumnBridge.invoke(this, "compute",
      StructType(fields.map(StructField(_, BooleanType, nullable = false))),
      Seq(text -> Kernel.string),
      Seq(Kernel.obj(new Kernel.ProbeSet(stopwords), classOf[java.util.HashSet[String]]),
        Literal(icu), Literal(minWords), Literal(maxWords),
        Literal(minMeanLen), Literal(maxMeanLen), Literal(maxSymbolRatio),
        Literal(maxBulletRatio), Literal(maxEllipsisRatio),
        Literal(minAlphaRatio), Literal(minStopHits)),
      propagateNull = false, returnNullable = false)
  }

  @inline private def le(a: Double, b: Double): Boolean =
    SQLOrderingUtil.compareDoubles(a, b) <= 0

  /** The kernel. */
  def compute(text: UTF8String, stopwords: java.util.HashSet[String], icu: Boolean,
              minWords: Int, maxWords: Int,
              minMeanLen: Double, maxMeanLen: Double,
              maxSymbolRatio: Double, maxBulletRatio: Double,
              maxEllipsisRatio: Double, minAlphaRatio: Double,
              minStopHits: Int): InternalRow = {
    if (text == null) return failed
    val tok = TokenStats.compute(text)
    val n = tok.getLong(0)
    val chars = tok.getLong(1)
    val ls = GopherLineStats.compute(text)
    val nHash = ls.getInt(0)
    val nEll = ls.getInt(1)
    val nLines = ls.getInt(2).toDouble
    val nBullet = ls.getInt(3)
    val nEllEnd = ls.getInt(4)
    val lowered = CollationSupport.Lower.exec(text,
      CollationFactory.UTF8_BINARY_COLLATION_ID, icu)
    val stopHits = CountTokensInSet.compute(lowered, stopwords, true)
    val nd = n.toDouble
    val meanLen = if (n == 0) 0.0 else chars.toDouble / nd
    val wordCount = n >= minWords && n <= maxWords
    val meanWordLen = n > 0 && le(minMeanLen, meanLen) && le(meanLen, maxMeanLen)
    val symbolRatio = n > 0 && le((nHash + nEll).toDouble, maxSymbolRatio * nd)
    val bulletLines = le(nBullet.toDouble, maxBulletRatio * nLines)
    val ellipsisLines = le(nEllEnd.toDouble, maxEllipsisRatio * nLines)
    val alphaWords = n > 0 &&
      le(minAlphaRatio * nd, CountAlphaTokens.countOf(text).toDouble)
    val stops = stopHits >= minStopHits
    InternalRow(wordCount, meanWordLen, symbolRatio, bulletLines, ellipsisLines,
      alphaWords, stops, wordCount && meanWordLen && symbolRatio && bulletLines &&
        ellipsisLines && alphaWords && stops)
  }
}
