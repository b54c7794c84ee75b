package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Fixed-size character chunks with overlap in one linear pass — the
 * kernel of TextAnalysis.chunk. The character start offsets are found
 * once ([[Kernel.charStarts]], shared with CharShingles) and each chunk
 * is one byte copy, where a `substringSQL` per chunk walked the string
 * from byte 0 (O(L²/stride) per document).
 *
 * Contract (exactly the grid TextAnalysis.chunk documents and the
 * DuckDB oracle replays; pinned in CurationOpsSpec, the
 * ScalePropertySpec model and NearDupKernelsSpec's `substringSQL` loop):
 *  - starts 0, stride, 2·stride, … < numChars (stride = size − overlap);
 *  - chunk i = substringSQL(start+1, size) — CHARACTER counting, same
 *    as Column.substr / SQL substring, never bytes;
 *  - empty string → empty array (the caller's length guard drops
 *    empties before the Generate anyway); null → null.
 */
object CharChunks {

  /** The kernel: the chunk grid of `s` (`stride` = size − overlap). */
  def compute(s: UTF8String, size: Int, stride: Int): ArrayData = {
    val at = Kernel.charStarts(s)
    val chars = at.length - 1
    val out = new Array[Any](if (chars == 0) 0 else (chars - 1) / stride + 1)
    var i = 0
    while (i < out.length) {
      val start = i * stride
      out(i) = Kernel.chars(s, at, start, start + math.min(size, chars - start))
      i += 1
    }
    new GenericArrayData(out)
  }

  def chunks(text: Column, size: Int, overlap: Int): Column = {
    require(size >= 1, s"chunk size must be >= 1, got $size")
    require(overlap >= 0 && overlap < size,
      s"overlap must be in [0, size), got $overlap for size $size")
    ColumnBridge.invoke(this, "compute", ArrayType(StringType, containsNull = false),
      Seq(text -> Kernel.string), Seq(Literal(size), Literal(size - overlap)))
  }
}
