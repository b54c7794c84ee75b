package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * As-of join: for each left row, the single nearest right row within the
 * same `by` group — `direction = "backward"` (default) takes the most
 * recent right row at or before the left time (right.`on` <= left.`on`),
 * `"forward"` the earliest at or after (right.`on` >= left.`on`),
 * `"nearest"` whichever of the two is closer (ties to backward); equal
 * instants match in all. Null right columns when no such row exists. A
 * join variant the reference lacks entirely (SURVEY §2.4) and a staple
 * of event/feature alignment in training-data pipelines ("the last
 * purchase before this click", "the next error after this deploy").
 *
 * Spark-first shape: a naive range join explodes to O(|L|·|R|) pairs per
 * key before picking the max. Instead the two sides are UNIONED, sorted
 * once per key by (time, side), and each right value column is carried
 * forward with last(ignoreNulls) over an unbounded-preceding row frame —
 * ONE shuffle on the by-keys, one sort per partition, and the window
 * state is a single value per column (Spark's running-frame
 * implementation never buffers the group). All right columns share one
 * Window node in the plan (same spec, collapsed by Catalyst). The
 * forward direction REVERSES the sort (desc) and keeps the same running
 * frame — NOT a [currentRow, unboundedFollowing] frame, whose
 * UnboundedFollowingWindowFunctionFrame re-scans to the partition end
 * per row (O(n²) per key group).
 *
 * Preconditions / null semantics:
 *  - `right` must be unique per (by, on): with duplicates the carried
 *    value is partition-order-dependent. Dedup upstream.
 *  - null-time right rows match NOTHING (they are filtered out, like
 *    null by-keys): SQL ASOF's range predicate is never true for a null
 *    right time. Null-time left rows sort first (nulls-first in BOTH
 *    directions' orderings) so they precede every real right row and
 *    come back with null right columns — SQL ASOF matches them nowhere
 *    either.
 *  - null `by` keys match NOTHING (SQL equality, same as the ASOF JOIN
 *    oracle): null-keyed right rows are dropped, null-keyed left rows
 *    come back with null right columns.
 *  - right rows carry as ONE struct, so a match's genuinely-null value
 *    stays null instead of resurrecting an older row's value.
 *  - `tolerance` (optional) bounds the match distance, merge_asof-style:
 *    a carried right row farther than `tolerance` from the left time is
 *    nulled out. It is a SQL literal EXPRESSION comparable to the
 *    difference of two `on` values — an INTERVAL literal
 *    ("INTERVAL '1' HOUR") for timestamp times, a number for numeric
 *    times. Post-filtering the single carried match is sufficient: the
 *    nearest row is out of tolerance exactly when every farther row is.
 *
 * MEASURED scaling (tools/AsofProbe @0fcdae9, synthetic events over n/100 users,
 * local[32], one aggregate forcing the carried column; struct-carry
 * implementation): 10M rows 1.48 s, 30M 2.35 s, 100M 9.05 s — 10x input
 * costs ~6x time (the 1M point, 2.8 s, is JIT-cold; checksums identical
 * to the pre-struct implementation). The only shuffle is the window's
 * hash partition on the by-keys; a bare count() over the result is NOT
 * a valid probe (column pruning deletes the window — tools/AsofProbe @0fcdae9
 * aggregates p_value).
 */
object AsofJoin {

  /** Shared surface validation for both strategies (window `apply` and
    * broadcast `enrichStatic`): derives (rightVal, outName, leftRest)
    * and enforces the shape/collision contracts — one definition, so
    * the two strategies' accepted-input surfaces cannot drift. Reserved
    * internal names differ per strategy and stay with each method. */
  private def validateSurface(left: DataFrame, right: DataFrame, on: String,
                              by: Seq[String], suffix: String,
                              direction: String, what: String
                             ): (Seq[String], Seq[String], Seq[String]) = {
    require(by.nonEmpty, s"$what: needs at least one by-key")
    require(Set("backward", "forward", "nearest").contains(direction),
      s"$what: unknown direction '$direction' (backward | forward | nearest)")
    require(left.columns.contains(on) && right.columns.contains(on),
      s"$what: time column '$on' must exist on both sides")
    val rightVal = right.columns.filterNot(c => by.contains(c) || c == on).toSeq
    require(rightVal.nonEmpty,
      s"$what: right side carries no value columns beyond the keys — " +
        "nothing to join (select the right columns to carry first)")
    val outName = rightVal.map(c => if (left.columns.contains(c)) c + suffix else c)
    val leftRest = left.columns.filterNot(by.contains).toSeq // keeps `on` + data cols
    val clash = outName.toSet.intersect(leftRest.toSet ++ by)
    require(clash.isEmpty,
      s"$what: suffixed right columns still collide with left: ${clash.mkString(", ")}")
    // Two right columns can land on the SAME suffixed name (right has
    // both `value` and `value_r` while left has `value`) — catch it here
    // instead of failing opaquely at the struct-field extraction.
    require(outName.distinct.size == outName.size,
      s"$what: suffixed right columns collide with each other: " +
        outName.diff(outName.distinct).distinct.mkString(", "))
    (rightVal, outName, leftRest)
  }

  def apply(left: DataFrame, right: DataFrame, on: String, by: Seq[String],
            suffix: String = "_r", direction: String = "backward",
            tolerance: Option[String] = None): DataFrame = {
    val (rightVal, outName, leftRest) =
      validateSurface(left, right, on, by, suffix, direction, "asof join")
    val reserved = Set("__t", "__is_left", "__rv", "__rt", "__rvb", "__rvf")
    val reservedHit = (left.columns ++ right.columns).toSet.intersect(reserved)
    require(reservedHit.isEmpty,
      s"asof join: column names ${reservedHit.mkString(", ")} are reserved internally")

    // Right values travel as ONE struct (null on the left side, never
    // null on the right side even when every field is null): last() then
    // carries whole right ROWS atomically. A per-column
    // last(ignoreNulls) would treat a genuinely-null right value like
    // the left-side placeholder and stitch fields from DIFFERENT right
    // rows into one match — resurrecting values the true match nulled.
    // the matched right TIME rides in the struct too (`__rt`, reserved
    // above) so the tolerance filter can measure the match distance
    val rvStruct = struct(rightVal.zip(outName)
      .map { case (c, o) => col(c).as(o) } :+ col(on).as("__rt"): _*)
    val lhs = left.select(
      by.map(col) ++ Seq(col(on).as("__t"), lit(1).as("__is_left")) ++
        leftRest.map(col) :+
        lit(null).cast(right.select(rvStruct).schema.head.dataType).as("__rv"): _*)
    // SQL equality semantics for the by-keys: a null key matches nothing
    // (Window.partitionBy would group null keys together), so null-keyed
    // right rows are dropped — null-keyed left rows then see an empty
    // right side and carry nulls, exactly like the ASOF JOIN oracle.
    // Null-TIME right rows are dropped for the same reason: SQL ASOF's
    // range predicate (l.t >= r.t) is never true for a null right time,
    // but asc-nulls-first ordering would otherwise sort them before
    // every real row and hand them to every early left row.
    val rhs = right
      .filter((by.map(col(_).isNotNull) :+ col(on).isNotNull).reduce(_ && _))
      .select(
        by.map(col) ++ Seq(col(on).as("__t"), lit(0).as("__is_left")) ++
          leftRest.map(c => lit(null).cast(left.schema(c).dataType).as(c)) :+
          rvStruct.as("__rv"): _*)

    // right rows sort before left rows at the same instant → inclusive
    // match semantics in every direction. Backward walks time ascending
    // (carry = most recent prior right row); forward walks DESCENDING so
    // the same running carry yields the earliest following right row.
    // Nulls-first explicitly in both: desc's default NULLS LAST would
    // hand null-time left rows the whole partition's carry. `nearest`
    // computes BOTH carries — same hash partitioning, so ONE Exchange
    // with two sorts (pinned in AsofJoinSpec) — and picks the closer
    // match, ties to backward (the earlier right row).
    val unioned = lhs.unionByName(rhs)
    def carried(ord: Column): Column =
      last(col("__rv"), ignoreNulls = true).over(
        Window.partitionBy(by.map(col): _*)
          .orderBy(ord, col("__is_left").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val backOrd = col("__t").asc_nulls_first
    val fwdOrd = col("__t").desc_nulls_first
    def inTol(rv: Column, dist: Column): Column =
      tolerance.fold(rv)(t => when(dist <= expr(t), rv))
    val withMatch = direction match {
      case "nearest" =>
        val both = unioned
          .withColumn("__rvb", carried(backOrd))
          .withColumn("__rvf", carried(fwdOrd))
          .filter(col("__is_left") === 1)
        val db = col("__t") - col("__rvb.__rt")
        val df = col("__rvf.__rt") - col("__t")
        val b = inTol(col("__rvb"), db)
        val f = inTol(col("__rvf"), df)
        both.withColumn("__rv",
            when(b.isNull, f).when(f.isNull, b)
              .when(df < db, f).otherwise(b)) // tie → backward
          .drop("__rvb", "__rvf")
      case _ =>
        val ord = if (direction == "backward") backOrd else fwdOrd
        val c = unioned.withColumn("__rv", carried(ord))
          .filter(col("__is_left") === 1)
        tolerance.fold(c) { t =>
          val dist = if (direction == "backward") col("__t") - col("__rv.__rt")
                     else col("__rv.__rt") - col("__t")
          c.withColumn("__rv", when(dist <= expr(t), col("__rv")))
        }
    }
    withMatch.select(by.map(col) ++ leftRest.map(col) ++
      outName.map(o => col(s"__rv.`$o`").as(o)): _*)
  }

  /**
   * As-of enrichment against a STATIC right side, as a single row-wise
   * left join — the streaming twin of `apply` (and equal to it on batch
   * input, which is how StreamingJobsSpec pins parity).
   *
   * The trick: the right side is prepared (batch-side, so window
   * functions are legal) into per-key validity intervals — each right
   * row carries its neighbors' times (`lag`/`lead`) — and the join
   * condition picks the interval containing the left time:
   *  - backward: r.t <= l.t < next(r.t)
   *  - forward:  prev(r.t) < l.t <= r.t
   *  - nearest:  dist(r.t) < dist(prev) AND dist(r.t) <= dist(next) —
   *    distances along sorted times are unimodal, so exactly one row
   *    qualifies, and the asymmetric strictness ties to backward,
   *    matching `apply`.
   * Every left row matches AT MOST one right row, so the join is
   * stateless per stream row: no watermark, no state store, and the
   * right side broadcasts when small (dimension-table pattern). At
   * scale: each micro-batch re-executes the static subplan (lag/lead
   * over the dim table) — fine for dimension-sized rights, which is the
   * documented limit; a stream-STREAM as-of needs watermark bounds this
   * operator deliberately does not attempt.
   *
   * Same contracts as `apply`: null by-keys and null times match
   * nothing, right rows must be unique per (by, on), tolerance bounds
   * the match distance post-join. Right VALUES carry as columns (the
   * matched row is unique by construction, so the struct-carry
   * atomicity concern of the window form does not arise).
   */
  def enrichStatic(left: DataFrame, right: DataFrame, on: String,
                   by: Seq[String], suffix: String = "_r",
                   direction: String = "backward",
                   tolerance: Option[String] = None): DataFrame = {
    val (rightVal, outName, leftRest) =
      validateSurface(left, right, on, by, suffix, direction, "asof enrich")
    val dunder = (left.columns ++ right.columns).filter(_.startsWith("__"))
    require(dunder.isEmpty,
      s"asof enrich: column names ${dunder.mkString(", ")} are reserved internally " +
        "(no __-prefixed columns)")

    // prepared intervals: every right column renamed behind a __ prefix,
    // so the join sees zero name overlap with the left side
    val perKey = Window.partitionBy(by.map(k => col(s"__r_$k")): _*)
      .orderBy(col("__rt").asc)
    val rAug = right
      .filter((by.map(col(_).isNotNull) :+ col(on).isNotNull).reduce(_ && _))
      .select(by.map(k => col(k).as(s"__r_$k")) ++
        Seq(col(on).as("__rt")) ++
        rightVal.zip(outName).map { case (c, o) => col(c).as(s"__rv_$o") }: _*)
      .withColumn("__prev", lag(col("__rt"), 1).over(perKey))
      .withColumn("__next", lead(col("__rt"), 1).over(perKey))

    val lt = col(on)
    val keyEq = by.map(k => col(k) === col(s"__r_$k")).reduce(_ && _)
    def dist(x: Column): Column = when(lt >= x, lt - x).otherwise(x - lt)
    val cond = direction match {
      case "backward" => keyEq && lt >= col("__rt") &&
        (col("__next").isNull || lt < col("__next"))
      case "forward" => keyEq && lt <= col("__rt") &&
        (col("__prev").isNull || lt > col("__prev"))
      case "nearest" => keyEq &&
        (col("__prev").isNull || dist(col("__rt")) < dist(col("__prev"))) &&
        (col("__next").isNull || dist(col("__rt")) <= dist(col("__next")))
    }
    val joined = left.join(broadcast(rAug), cond, "left_outer")
    val tolOk: Column = tolerance match {
      case None => lit(true)
      case Some(t) =>
        val d = direction match {
          case "backward" => lt - col("__rt")
          case "forward"  => col("__rt") - lt
          case "nearest"  => dist(col("__rt"))
        }
        d <= expr(t)
    }
    joined.select(by.map(col) ++ leftRest.map(col) ++
      outName.map(o => when(tolOk, col(s"__rv_$o")).as(o)): _*)
  }
}
