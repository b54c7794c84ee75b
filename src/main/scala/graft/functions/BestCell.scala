package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Cosine-argmax cell assignment in ONE narrow pass — the compiled kernel
 * behind `Similarity.assignCells` (r21). Given a corpus vector and the
 * full centroid table packed into a single array<struct<cell:long,
 * cvec:array<numeric>>> column (one broadcast row), returns the `cell`
 * the old cross-join + groupBy(id) + max(struct(sim, cell)) plan would
 * have picked — but with NO row blow-up, NO sort, and NO exchange of the
 * corpus: the assignment becomes a per-row compiled loop over cells ×
 * dimensions, the plan a bare Project over the scan.
 *
 * Semantics are EXACTLY the grouped form's (pinned per-row against
 * `Similarity.assignCellsGrouped` in AssignCellsSpec, including every
 * degenerate case below), so gate hashes cannot move:
 *  - per centroid, sim = cosine(vec, cvec) with the identical float-op
 *    order: na2 = dot(v,v), nb2 = dot(c,c) (ArrayDot accumulation:
 *    elements cast to double, products summed left-to-right),
 *    d = sqrt(na2)*sqrt(nb2); d == 0 → sim = 0.0 (even when the dot
 *    itself would be null — `when` short-circuits first); null vector /
 *    null element / length mismatch → sim = null;
 *  - the winner is max over struct(sim, cell) in Spark's SQL ordering:
 *    null sim smallest, NaN largest, -0.0 == 0.0 (SQLOrderingUtil's
 *    rule), ties on sim resolved to the LARGER cell — so an all-null-sim
 *    row (e.g. a null vector) still assigns to the max cell id, exactly
 *    as the grouped max did;
 *  - a null cells array (never produced by assignCells) → null.
 *
 * The per-row loop is one Scala method, statically invoked from
 * whole-stage codegen — one call per row, amortized over cells × dim
 * arithmetic, with no interpreter dispatch per element and no
 * CodegenFallback node splitting the codegen span.
 */
object BestCell {

  private val CellsType = ColumnBridge.InputType(
    "array<struct<cell:bigint, cvec:array<numeric>>>") {
    case ArrayType(StructType(Array(f0, f1)), _) =>
      f0.dataType == LongType && Kernel.numbers.accepts(f1.dataType)
    case _ => false
  }

  /** Column-API face: argmax-by-cosine cell over a packed centroid array. */
  def best(vec: Column, cells: Column): Column =
    ColumnBridge.invoke(this, "route", LongType,
      Kernel.typed(vec) ++ Kernel.typed(cells, CellsType), propagateNull = false)

  /** SQL double total order: -0.0 == 0.0, NaN largest (SQLOrderingUtil). */
  private def cmpDouble(x: Double, y: Double): Int =
    if (x == y) 0 else java.lang.Double.compare(x, y)

  /** The kernel. `vec` may be null (a null corpus vector keeps the
    * grouped form's all-null-sim behavior: max cell wins); a null
    * `cellsArr` gives null. `vecType`/`cellsType` are the columns'
    * `typeof()` names. Returns the winning cell, or null. */
  def route(vec: ArrayData, vecType: UTF8String,
            cellsArr: ArrayData, cellsType: UTF8String): java.lang.Long = {
    if (cellsArr == null) return null
    val vr = Kernel.elements(vecType)
    val cr = Kernel.reader(Kernel.typeNamed(cellsType).asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType](1).dataType
      .asInstanceOf[ArrayType].elementType)
    val na2: java.lang.Double =
      if (vec == null) null else ArrayDot.accumulate(vec, vr, vec, vr)
    val n = cellsArr.numElements()
    var found = false
    var bestSim: java.lang.Double = null
    var bestCell: java.lang.Long = null
    var i = 0
    while (i < n) {
      // a null array element cannot arise from collect_list(struct(...));
      // treated as struct(null, null) for totality
      val st = if (cellsArr.isNullAt(i)) null else cellsArr.getStruct(i, 2)
      val cell: java.lang.Long =
        if (st == null || st.isNullAt(0)) null else st.getLong(0)
      val cvec: ArrayData =
        if (st == null || st.isNullAt(1)) null else st.getArray(1)
      val sim: java.lang.Double =
        if (na2 == null || cvec == null) null
        else {
          val nb2 = ArrayDot.accumulate(cvec, cr, cvec, cr)
          if (nb2 == null) null
          else {
            val d = math.sqrt(na2.doubleValue()) * math.sqrt(nb2.doubleValue())
            if (d == 0.0) java.lang.Double.valueOf(0.0)
            else {
              val ab = ArrayDot.accumulate(vec, vr, cvec, cr)
              if (ab == null) null else java.lang.Double.valueOf(ab.doubleValue() / d)
            }
          }
        }
      // struct(sim, cell) ascending, nulls first, max wins; strict-greater
      // keeps the incumbent on full ties (content-identical either way)
      val wins =
        if (!found) true
        else {
          val simCmp =
            if (sim == null && bestSim == null) 0
            else if (sim == null) -1
            else if (bestSim == null) 1
            else cmpDouble(sim.doubleValue(), bestSim.doubleValue())
          if (simCmp != 0) simCmp > 0
          else {
            if (cell == null && bestCell == null) false
            else if (cell == null) false
            else if (bestCell == null) true
            else cell.longValue() > bestCell.longValue()
          }
        }
      if (wins) { found = true; bestSim = sim; bestCell = cell }
      i += 1
    }
    if (!found) null else bestCell
  }
}
