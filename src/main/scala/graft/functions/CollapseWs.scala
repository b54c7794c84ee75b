package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.lower
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/**
 * Dedup.exactKey's normalization with the whitespace work as ONE
 * compiled pass, no regex: trim SPACES (0x20 only, the trim()
 * contract) → collapse every maximal \s run {space, \t, \n, \x0B,
 * \f, \r} to a single space. [[CollapseWs.normalize]] composes
 * Catalyst's own `lower()` UNDER the collapse, so the case fold is
 * the engine's by construction — the kernel deliberately does NOT
 * fold case itself. (The r18 version called UTF8String.toLowerCase
 * inside the kernel, believing it "the exact method Column lower()
 * calls"; in Spark 4, Lower dispatches through CollationSupport and
 * with ICU case mappings on — the default — lowercases GREEK CAPITAL
 * SIGMA after a non-cased char to σ where the JVM fold gives final ς.
 * The generated-unicode property pin in ScalePropertySpec caught the
 * divergence; delegating the fold removes the class of bug instead of
 * patching one mapping.)
 *
 * Byte-identical to `regexp_replace(lower(trim(text)), "\s+", " ")`
 * (equivalence spec-pinned; lower-then-trim reorders safely because
 * no case mapping consumes or produces U+0020). The quirks survive
 * deliberately: a leading tab collapses to a LEADING space because
 * only 0x20 is trimmed, and the oracle's trim/regexp replay has the
 * same two-step shape.
 *
 * Every dedup path runs this normalization corpus-wide (exact keys,
 * dedup_against keys, minhash/ngram shingle bases, simhash tokens,
 * exact dedup in a stream), which is why its regex was worth killing:
 * measured paired (tools/KeyProbe @0fcdae9, local[32], 500k docs, md5(key)
 * plans) 0.41 s kernel vs 0.62 s regex vs 0.32 s no-collapse floor.
 */
object CollapseWs {

  /** The kernel. Replays the Column composition's whitespace work
    * exactly: trim() strips 0x20 only, THEN each maximal \s run —
    * leading/trailing runs of other \s chars included — becomes one
    * 0x20. Case folding happens in the argument (Catalyst Lower), never
    * here. */
  def collapse(s: UTF8String): UTF8String = {
    val t = s.toString
    var i = 0
    var end = t.length
    while (i < end && t.charAt(i) == ' ') i += 1
    while (end > i && t.charAt(end - 1) == ' ') end -= 1
    val sb = new java.lang.StringBuilder(end - i)
    var prevWs = false
    while (i < end) {
      val c = t.charAt(i)
      if (Ws.isWs(c)) prevWs = true
      else {
        // a pending run becomes one space — also when LEADING (a
        // leading tab survives the space-only trim and collapses to
        // a leading space, the regex form's exact behavior)
        if (prevWs) sb.append(' ')
        sb.append(c)
        prevWs = false
      }
      i += 1
    }
    if (prevWs) sb.append(' ') // trailing non-space \s run → one space
    UTF8String.fromString(sb.toString)
  }

  /** lower(text) under the compiled collapse — the engine's own case
    * fold, the kernel's whitespace pass. */
  def normalize(text: Column): Column =
    ColumnBridge.invoke(this, "collapse", StringType, Seq(lower(text) -> Kernel.string))
}
