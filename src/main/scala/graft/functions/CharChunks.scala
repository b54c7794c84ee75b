package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Fixed-size character chunks with overlap in one compiled pass — the
 * kernel of TextAnalysis.chunk, replacing the interpreted
 * transform(sequence)-over-substr HOF chain (ArrayTransform is
 * CodegenFallback: one evaluator dispatch per chunk per row).
 *
 * Contract (exactly the grid TextAnalysis.chunk documents and the
 * DuckDB oracle replays; pinned in CurationOpsSpec + the
 * ScalePropertySpec model):
 *  - starts 0, stride, 2·stride, … < numChars (stride = size − overlap);
 *  - chunk i = substringSQL(start+1, size) — CHARACTER counting, same
 *    as Column.substr / SQL substring, never bytes;
 *  - empty string → empty array (the caller's length guard drops
 *    empties before the Generate anyway); null → null.
 */
object CharChunks {

  /** The kernel: the chunk grid of `s` (`stride` = size − overlap). */
  def compute(s: UTF8String, size: Int, stride: Int): ArrayData = {
    val chars = s.numChars()
    if (chars == 0) return new GenericArrayData(new Array[Any](0))
    val positions = (chars + stride - 1) / stride
    val out = new Array[Any](positions)
    var i = 0
    var start = 0
    while (start < chars) {
      out(i) = s.substringSQL(start + 1, size)
      i += 1
      start += stride
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
