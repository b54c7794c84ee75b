package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.DoubleType
import org.apache.spark.unsafe.types.UTF8String

/**
 * Gopher duplicate-line fraction in one compiled pass — the kernel of
 * TextAnalysis.dupLineFraction, replacing its interpreted
 * filter(transform(split))+array_distinct chain (ArrayFilter and
 * ArrayTransform are CodegenFallback: an evaluator dispatch per line
 * per pass, plus two intermediate arrays per row).
 *
 * Exact-semantics contract with the HOF form (pinned in
 * TextAnalysisSpec's equivalence case):
 *  - lines = split on '\n'; each line trimmed the way Spark's trim()
 *    trims (ASCII space 0x20 only — NOT Java trim's <= 0x20 rule);
 *  - blank lines drop; ratio = (total − distinct)/total over the
 *    surviving lines, 0.0 when none survive; NULL text → NULL;
 *  - distinctness is exact binary equality of the trimmed lines.
 */
object DupLineRatio {

  private val NL = UTF8String.fromString("\n")

  /** The kernel. */
  def compute(s: UTF8String): Double = {
    val lines = s.split(NL, -1)
    var total = 0
    val seen = new java.util.HashSet[UTF8String]()
    var i = 0
    while (i < lines.length) {
      val t = lines(i).trim() // UTF8String.trim: ASCII space only
      if (t.numBytes() > 0) {
        total += 1
        seen.add(t)
      }
      i += 1
    }
    if (total <= 0) 0.0
    else (total - seen.size).toDouble / total.toDouble
  }

  def ratio(text: Column): Column =
    ColumnBridge.invoke(this, "compute", DoubleType, Seq(text -> Kernel.string))
}
