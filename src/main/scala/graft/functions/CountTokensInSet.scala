package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions.lower
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.IntegerType
import org.apache.spark.unsafe.types.UTF8String

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
 *  - lowercasing is Catalyst's own lower() composed under the kernel,
 *    as in CollapseWs.normalize (the r18 version used
 *    UTF8String.toLowerCase, which diverges from lower() on the
 *    Greek final-sigma rule under the default ICU conf — harmless
 *    for ASCII lexicons, wrong for one containing σ/ς);
 *  - membership is exact string equality post-lowering;
 *  - NULL text → null (split(null) propagation).
 *
 * Measured paired (tools/KeyProbe @0fcdae9, local[32], 500k docs):
 * stopwordRatio 0.40-0.55 s kernel vs 0.68-1.61 s split form; Gopher
 * stopHits 0.25-0.26 s kernel vs 0.50 s split + 8-scan reduce on the
 * quiet pass (a loaded pass showed the split form at 4.2 s — the
 * allocation-heavy shape is also the GC-pressure-sensitive one).
 */
object CountTokensInSet {

  /** The kernel. `lowered` is the already-lowercased text. */
  def compute(lowered: UTF8String, probe: java.util.HashSet[String],
              distinct: Boolean): Int = {
    val t = lowered.toString
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
  def count(text: Column, set: Seq[String]): Column = face(text, set, distinct = false)

  /** How many DISTINCT set members appear among the tokens. */
  def countDistinct(text: Column, set: Seq[String]): Column = face(text, set, distinct = true)

  private def face(text: Column, set: Seq[String], distinct: Boolean): Column = {
    require(set.nonEmpty, "CountTokensInSet needs a non-empty set")
    ColumnBridge.invoke(this, "compute", IntegerType, Seq(lower(text) -> Kernel.string),
      Seq(Kernel.obj(new Kernel.ProbeSet(set), classOf[java.util.HashSet[String]]),
        Literal(distinct)))
  }
}
