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
 * the streaming twins), which is why its regex was worth killing:
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

  /** The exact Lower dispatch the Column form compiles to
    * (UTF8_BINARY collation) — for kernels that fold case in Scala
    * space and must not drift from `lower()`. */
  def lowerFold(s: UTF8String, useICU: Boolean): UTF8String =
    org.apache.spark.sql.catalyst.util.CollationSupport.Lower.exec(
      s,
      org.apache.spark.sql.catalyst.util.CollationFactory.UTF8_BINARY_COLLATION_ID,
      useICU)

  /** The ICU case-mapping flag Lower reads (lazily, once per
    * expression instance — replicate that pattern, don't call this
    * per row). */
  def icuEnabled: Boolean =
    org.apache.spark.sql.internal.SQLConf.get.getConf(
      org.apache.spark.sql.internal.SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  /** Scala-side twin of [[normalize]] for typed/streaming closures:
    * the same CollationSupport.Lower dispatch the Column form compiles
    * to (UTF8_BINARY collation), then the same collapse kernel. Row
    * loops must resolve `useICU` ONCE (see [[icuEnabled]]) and pass it
    * here — Dedup.ExactKeyFn is the packaged form. */
  def normalizeString(text: String, useICU: Boolean): String =
    collapse(lowerFold(UTF8String.fromString(text), useICU)).toString

  /** Convenience form reading the ICU flag from the active SQLConf on
    * EVERY call — fine for tests and one-off calls, wrong inside a row
    * loop (a ThreadLocal fetch + conf lookup per row). */
  def normalizeString(text: String): String =
    normalizeString(text, icuEnabled)
}
