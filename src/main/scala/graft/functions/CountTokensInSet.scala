package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.types._

/**
 * Membership count of a text's lowercased whitespace tokens against a
 * LITERAL set, tokenizing IN the loop — no split array, no regex.
 * Replaces `CountInSet(split(lower(trim(text)), "\s+"), set)` where
 * the split's array materialization is the dominant cost (stopword
 * ratio — used once per row, so the array cannot amortize) and the
 * 8-way `array_contains(low, w)` reduce of the Gopher stopword rule
 * (one tokenize scan instead of a split + 8 array scans).
 *
 * `distinct = false` counts OCCURRENCES of set members among the
 * tokens (stopwordRatio's numerator); `distinct = true` counts how
 * many DISTINCT set members appear at least once (Gopher's "contains
 * at least 2 of the 8" rule). Exact-semantics contract with the split
 * forms (equivalence spec-pinned):
 *  - tokens are split()'s fields on the space-trimmed, lowercased
 *    text — INCLUDING the phantom empty fields split keeps for
 *    leading/trailing non-space whitespace, and the single empty
 *    field of blank text (they only matter if the set contains "",
 *    which real lexicons never do, but the replay is exact);
 *  - lowercasing is the SAME CollationSupport.Lower dispatch the
 *    Column lower() compiles to (the r18 version used
 *    UTF8String.toLowerCase, which diverges from lower() on the
 *    Greek final-sigma rule under the default ICU conf — harmless
 *    for ASCII lexicons, wrong for one containing σ/ς; the ICU flag
 *    is read once per expression instance, Lower's own pattern);
 *  - membership is exact string equality post-lowering;
 *  - NULL text → null (split(null) propagation).
 *
 * Measured paired (tools/KeyProbe @0fcdae9, local[32], 500k docs):
 * stopwordRatio 0.40-0.55 s kernel vs 0.68-1.61 s split form; Gopher
 * stopHits 0.25-0.26 s kernel vs 0.50 s split + 8-scan reduce on the
 * quiet pass (a loaded pass showed the split form at 4.2 s — the
 * allocation-heavy shape is also the GC-pressure-sensitive one).
 */
final case class CountTokensInSet(child: Expression, set: Seq[String],
                                  distinct: Boolean)
    extends UnaryExpression {

  require(set.nonEmpty, "CountTokensInSet needs a non-empty set")

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"count_tokens_in_set needs string, got ${other.sql}")
    }

  @transient private lazy val probe: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](set.size * 2)
    set.foreach(s.add)
    s
  }

  @transient private lazy val useICU: Boolean = CollapseWs.icuEnabled

  override def nullSafeEval(v: Any): Any =
    CountTokensInSet.compute(
      CollapseWs.lowerFold(v.asInstanceOf[UTF8String], useICU).toString,
      probe, distinct)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val setRef = ctx.addReferenceObj("probeSet", probe,
        classOf[java.util.HashSet[_]].getName)
      s"${ev.value} = graft.functions.CountTokensInSet.compute(" +
        s"graft.functions.CollapseWs.lowerFold($v, $useICU).toString(), " +
        s"$setRef, $distinct);"
    })

  override protected def withNewChildInternal(newChild: Expression): CountTokensInSet =
    copy(child = newChild)

  override def prettyName: String = "count_tokens_in_set"
}

object CountTokensInSet {

  /** Shared kernel for the interpreted and codegen paths. `t` is the
    * already-lowercased text. */
  def compute(t: String, probe: java.util.HashSet[String],
              distinct: Boolean): Int = {
    var i = 0
    var end = t.length
    while (i < end && t.charAt(i) == ' ') i += 1
    while (end > i && t.charAt(end - 1) == ' ') end -= 1
    var count = 0
    val seen = if (distinct) new java.util.HashSet[String](8) else null
    def hit(tok: String): Unit =
      if (probe.contains(tok) && (!distinct || seen.add(tok))) count += 1
    if (i == end) { hit(""); return count } // blank → split's single "" field
    if (Ws.isWs(t.charAt(i))) hit("")          // leading phantom field
    var j = i
    while (j < end) {
      while (j < end && Ws.isWs(t.charAt(j))) j += 1
      if (j < end) {
        val st = j
        while (j < end && !Ws.isWs(t.charAt(j))) j += 1
        hit(t.substring(st, j))
      }
    }
    if (Ws.isWs(t.charAt(end - 1))) hit("")    // trailing phantom field
    count
  }

  /** Occurrences of set members among the text's lowercased tokens. */
  def count(text: Column, set: Seq[String]): Column =
    ColumnBridge.column(
      CountTokensInSet(ColumnBridge.expression(text), set, distinct = false))

  /** How many DISTINCT set members appear among the tokens. */
  def countDistinct(text: Column, set: Seq[String]): Column =
    ColumnBridge.column(
      CountTokensInSet(ColumnBridge.expression(text), set, distinct = true))
}
