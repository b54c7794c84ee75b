package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.types._

/**
 * SimHash fingerprint (4×15-bit blocks) of a token array in one compiled
 * pass — replacing Dedup.simhashBlocks's HOF tower (transform →
 * aggregate with a 60-wide zip_with per TOKEN: ~60 interpreted
 * when/bitwiseAND nodes per token per row).
 *
 * Exact-semantics contract with the HOF form (pinned in
 * SimHashBlocks60Spec, side-by-side over the real documents fixture):
 *  - token hash = conv(substr(md5(token),1,15),16,10) — here computed as
 *    the high 60 bits of the MD5 digest (first 15 hex digits ==
 *    first-8-bytes-big-endian >>> 4), bit-identical;
 *  - per bit b: vote += (hash bit b set ? +1 : -1), tokens in array
 *    order; block i = Σ_j (votes(15i+j) > 0 ? 1<<j : 0);
 *  - null token array → an array of 4 NULL blocks, never a null array
 *    (the HOF's outer transform runs over a literal 0..3 sequence, so it
 *    always yields 4 elements — measured in tools/HofProbe @0fcdae9);
 *  - a null ELEMENT votes -1 on every bit (bitwiseAND(null) is null,
 *    the when falls through to otherwise(-1)).
 */
final case class SimHashBlocks60(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"simhash_blocks60 needs array<string>, got ${other.sql}")
    }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) SimHashBlocks60.fourNulls
    else SimHashBlocks60.compute(v.asInstanceOf[ArrayData])
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val nullsRef = ctx.addReferenceObj("fourNulls", SimHashBlocks60.fourNulls,
      classOf[ArrayData].getName)
    val cls = SimHashBlocks60.getClass.getName.stripSuffix("$")
    ev.copy(
      code = code"""
        |${c.code}
        |final ${CodeGenerator.javaType(dataType)} ${ev.value} =
        |  ${c.isNull} ? $nullsRef : $cls.compute(${c.value});
        """.stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): SimHashBlocks60 =
    copy(child = newChild)

  override def prettyName: String = "simhash_blocks60"
}

object SimHashBlocks60 {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** Column face over a token array. */
  def blocks(tokens: Column): Column =
    ColumnBridge.column(SimHashBlocks60(ColumnBridge.expression(tokens)))

  /** The null-text result: 4 null blocks (see class doc). */
  val fourNulls: ArrayData = new GenericArrayData(new Array[Any](4))

  private val digestTL = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** High 60 bits of md5(token): first 15 hex digits of the digest ==
    * (first 8 bytes big-endian) >>> 4 — identical to
    * conv(substr(md5(t),1,15),16,10). */
  private def hash60(t: UTF8String): Long = {
    val md = digestTL.get()
    md.reset()
    val d = md.digest(t.getBytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  /** Compiled vote + block packing (called from generated code). */
  def compute(xs: ArrayData): ArrayData = {
    val n = xs.numElements()
    val votes = new Array[Long](60)
    var i = 0
    while (i < n) {
      if (xs.isNullAt(i)) {
        var b = 0
        while (b < 60) { votes(b) -= 1; b += 1 }
      } else {
        val h = hash60(xs.getUTF8String(i))
        var b = 0
        while (b < 60) {
          votes(b) += (if (((h >>> b) & 1L) != 0L) 1L else -1L)
          b += 1
        }
      }
      i += 1
    }
    val blocks = new Array[Any](4)
    var blk = 0
    while (blk < 4) {
      var acc = 0L
      var j = 0
      while (j < 15) {
        if (votes(blk * 15 + j) > 0) acc |= (1L << j)
        j += 1
      }
      blocks(blk) = acc
      blk += 1
    }
    new GenericArrayData(blocks)
  }
}
