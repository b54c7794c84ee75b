package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * The five line/symbol counts of gopherRules' symbol-ratio and line
 * rules in ONE compiled pass — struct(n_hash, n_ell, n_lines,
 * n_bullet, n_ell_end) — replacing five separate scans, two of them
 * multiline regexes, one a full-text `regexp_replace(t, "#", "")`
 * copy and one a `split(t, "\n")` array-of-strings allocation.
 * Measured paired (tools/LineRuleProbe @0fcdae9, local[32], 500k docs, 3
 * reps): five-scan composed form 1.40/0.97/0.94 s vs this kernel
 * 0.57/0.42/0.32 s — ~2.3× on warm medians; the per-rule split shows
 * why: each composed scan ALONE (nHash regexp_replace 0.40-0.46 s,
 * nEll 0.41-0.44 s, nLines split 0.29-0.34 s, each (?m) count
 * 0.29-0.39 s) costs about as much as the entire kernel pass, i.e.
 * the corpus is walked five times for work one walk can do.
 *
 * Exact-semantics contract with the composed forms (equivalence
 * pinned in CurationOpsSpec fixtures + ScalePropertySpec generated
 * unicode):
 *  - n_hash   = length(t) - length(regexp_replace(t, "#", "")):
 *    occurrences of '#' (code-point count equals char count — '#' is
 *    BMP, and the length diff counts matches);
 *  - n_ell    = regexp_count(t, "(\.\.\.|…)"): non-overlapping
 *    left-to-right scan — floor(run/3) per maximal '.' run plus each
 *    U+2026;
 *  - n_lines  = size(split(t, "\n")): count of '\n' PLUS ONE;
 *  - n_bullet = regexp_count(t, "(?dm)^[ \t]*[-*•‣▪]"):
 *    line starts are UNIX_LINES MULTILINE ^ — input start and after
 *    each '\n', and ONLY '\n' ((?d) pins Java to the one multiline
 *    semantics RE2 has natively, so the DuckDB oracle's plain (?m)
 *    replay agrees on EVERY input — without it, Java also breaks
 *    lines at \r, U+0085, U+2028, U+2029, and a corpus with bare-\r
 *    or \r\n endings would diverge engine-vs-oracle);
 *  - n_ell_end = regexp_count(t, "(?dm)(\.\.\.|…)[ \t]*$"): a
 *    line counts iff, after stripping trailing [ \t]*, it ends with
 *    U+2026 or with >= 3 '.' — at most one match per line because $
 *    anchors the match to the line end ("... ." does NOT count: the
 *    lone '.' resets both the dot run and a pending ellipsis);
 *    $ is UNIX_LINES MULTILINE (before each '\n', plus end of input),
 *    so a \r\n-ended line can never count: its content ends with the
 *    ordinary char '\r', not the ellipsis;
 *  - '\r' and the unicode line separators are ORDINARY characters
 *    everywhere here (consistent across all five counts and with
 *    n_lines' \n-only shape);
 *  - NULL text → null struct.
 */
object GopherLineStats {

  private final val Ellipsis = '…'

  // UNIX_LINES: '\n' is the only line terminator (Java (?d), RE2's
  // native (?m) semantics \u2014 the cross-engine common ground)
  private def isLineTerm(c: Char): Boolean = c == '\n'

  private def isBullet(c: Char): Boolean =
    c == '-' || c == '*' || c == '•' || c == '‣' || c == '▪'

  /** The kernel. One pass, three per-line state variables:
    *  - startWs: only [ \t] seen since the current line's start (the
    *    `^[ \t]*` window for the bullet rule);
    *  - dotRun: current consecutive-'.' count (n_ell adds run/3 when
    *    the run breaks; a run of >= 3 also arms the line-end flag);
    *  - ellArmed: the line's content so far ends with an ellipsis
    *    followed only by [ \t] — finalized into n_ell_end at each
    *    line terminator and at end of input. */
  def compute(text: UTF8String): InternalRow = {
    val t = text.toString
    val n = t.length
    var nHash = 0; var nEll = 0; var nNewline = 0; var nBullet = 0; var nEllEnd = 0
    var startWs = true
    var dotRun = 0
    var ellArmed = false
    var i = 0
    while (i < n) {
      val c = t.charAt(i)
      if (c == '.') {
        dotRun += 1
        // a dot run arms the line-end rule only while it is currently
        // >= 3 long: "... ." must NOT count (the lone '.' starts a
        // fresh sub-3 run, exactly the regex's failed $ anchor)
        ellArmed = dotRun >= 3
        startWs = false
      } else {
        nEll += dotRun / 3 // non-overlapping scan: run of k dots = k/3
        dotRun = 0
        if (c == Ellipsis) {
          nEll += 1
          ellArmed = true
          startWs = false
        } else if (c == ' ' || c == '\t') {
          // [ \t] keeps a pending line-end ellipsis armed and stays
          // in the bullet rule's leading-[ \t]* window
        } else if (isLineTerm(c)) {
          if (ellArmed) nEllEnd += 1
          ellArmed = false
          startWs = true
          nNewline += 1
        } else {
          if (c == '#') nHash += 1
          if (startWs && isBullet(c)) nBullet += 1
          startWs = false
          ellArmed = false
        }
      }
      i += 1
    }
    nEll += dotRun / 3
    if (ellArmed) nEllEnd += 1
    InternalRow(nHash, nEll, nNewline + 1, nBullet, nEllEnd)
  }

  def stats(text: Column): Column =
    ColumnBridge.invoke(this, "compute", StructType(Seq(
      StructField("n_hash", IntegerType, nullable = false),
      StructField("n_ell", IntegerType, nullable = false),
      StructField("n_lines", IntegerType, nullable = false),
      StructField("n_bullet", IntegerType, nullable = false),
      StructField("n_ell_end", IntegerType, nullable = false))),
      Seq(text -> Kernel.string))
}
