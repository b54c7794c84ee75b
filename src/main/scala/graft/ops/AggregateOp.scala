package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Group-by aggregation operator.
 *
 * Reference semantics (reference: src/etl_core/components/data_operations/
 * aggregation/types.py:9-31, receivers/.../aggregation_receiver.py:34-246):
 *  - ops: count, sum, min, max, mean, median, std, nunique
 *  - src="*" with op=count means group size (counts rows incl. nulls)
 *  - count(col) counts non-null values (pandas `count`)
 *  - std is sample stddev (pandas ddof=1 → stddev_samp)
 *  - empty group_by = one global aggregate row
 *  - null group keys form groups (pandas groupby(dropna=False); Spark
 *    groupBy keeps null keys natively)
 *
 * Where the reference buffers the whole input per component and flushes on an
 * end-of-stream sentinel (aggregation_component.py:97-175), Spark's hash
 * aggregate does a map-side partial aggregate then a shuffle on the group
 * keys — no whole-input buffering on any single node, which is what makes the
 * same operator hold at 100 TB. nunique (countDistinct) triggers an expand +
 * two-phase aggregate; approx_count_distinct is offered as an opt-in for
 * scale (`nunique_approx`).
 */
object AggregateOp {

  final case class AggSpec(src: String, op: String, dest: String)

  def aggColumn(spec: AggSpec): Column = {
    val c = spec.op.toLowerCase match {
      case "count" if spec.src == "*" => count(lit(1))
      case "count"                    => count(col(spec.src))
      case "sum"                      => sum(col(spec.src))
      case "min"                      => min(col(spec.src))
      case "max"                      => max(col(spec.src))
      case "mean"                     => avg(col(spec.src))
      case "median"                   => median(col(spec.src))
      case "std"                      => stddev_samp(col(spec.src))
      case "nunique"                  => countDistinct(col(spec.src))
      case "nunique_approx"           => approx_count_distinct(col(spec.src))
      case other => throw new IllegalArgumentException(s"unknown aggregation op: $other")
    }
    c.as(spec.dest)
  }

  def apply(df: DataFrame, groupBy: Seq[String], aggs: Seq[AggSpec]): DataFrame =
    apply(df, groupBy, aggs, "groups")

  /** `grouping` selects the grouping-set family — "groups" (plain
    * GROUP BY), "rollup" (hierarchical subtotals + grand total) or "cube"
    * (all key subsets). Beyond the reference (SURVEY §2.4: no grouping
    * sets); Spark plans all three through the same partial-agg + shuffle
    * pipeline (rollup/cube expand each input row once per grouping set,
    * map-side combined before the exchange). Subtotal rows carry null in
    * the rolled-up keys, same as SQL. */
  def apply(df: DataFrame, groupBy: Seq[String], aggs: Seq[AggSpec],
            grouping: String): DataFrame = {
    require(aggs.nonEmpty, "aggregation needs at least one agg spec")
    val cols = aggs.map(aggColumn)
    if (groupBy.isEmpty) {
      require(grouping == "groups",
        s"grouping '$grouping' needs non-empty group_by keys")
      df.agg(cols.head, cols.tail: _*)
    } else grouping match {
      case "groups" => df.groupBy(groupBy.map(col): _*).agg(cols.head, cols.tail: _*)
      case "rollup" => df.rollup(groupBy.map(col): _*).agg(cols.head, cols.tail: _*)
      case "cube"   => df.cube(groupBy.map(col): _*).agg(cols.head, cols.tail: _*)
      case other => throw new IllegalArgumentException(s"unknown grouping: $other")
    }
  }

  /** Window-column selection of the `aggregation` component's time-window
    * face (one rule set in both folds):
    * `session_gap` selects data-driven session windows and is exclusive
    * with the fixed `window`/`slide` pair; `slide` requires `window`. */
  def windowColumn(timeCol: String, winOpt: Option[String],
                   slideOpt: Option[String], gapOpt: Option[String],
                   where: String): Column =
    (gapOpt, slideOpt) match {
      case (Some(gap), None) =>
        require(winOpt.isEmpty, s"$where: session_gap and window are exclusive")
        session_window(col(timeCol), gap)
      case (Some(_), Some(_)) =>
        throw new IllegalArgumentException(s"$where: session windows do not slide")
      case (None, Some(sl)) => window(col(timeCol),
        winOpt.getOrElse(throw new IllegalArgumentException(
          s"$where: slide needs window")), sl)
      case (None, None) => window(col(timeCol),
        winOpt.getOrElse(throw new IllegalArgumentException(
          s"$where: needs window or session_gap")))
    }

  /** Time-windowed grouped aggregation over an event-timed frame — the
    * tail of `aggregation`'s time-window face in both folds (the
    * component adds the watermark BEFORE calling this). Window bounds
    * come back as STRINGS: declared port schemas travel times as strings
    * (SURVEY §1.2 — the reference type system has no timestamp). */
  def windowed(df: DataFrame, timeCol: String, winCol: Column,
               groupBy: Seq[String], aggs: Seq[AggSpec]): DataFrame = {
    import org.apache.spark.sql.types.TimestampType
    require(aggs.nonEmpty, "windowed aggregation needs at least one agg spec")
    require(!df.columns.contains("__w"),
      "windowed aggregation: column name __w is reserved internally")
    val et =
      if (df.schema(timeCol).dataType == TimestampType) df
      else df.withColumn(timeCol, to_timestamp(col(timeCol)))
    val aggCols = aggs.map(aggColumn)
    et.groupBy(winCol.as("__w") +: groupBy.map(col): _*)
      .agg(aggCols.head, aggCols.tail: _*)
      .select(col("__w.start").cast("string").as("window_start") +:
        col("__w.end").cast("string").as("window_end") +:
        (groupBy.map(col) ++ aggs.map(a => col(a.dest))): _*)
  }

  /** Pivoted aggregation (beyond-reference): one output column per
    * `pivotValues` entry (single agg → column named by the value;
    * several → `<value>_<dest>`). Values are EXPLICIT by design — the
    * values-discovery overload would add a whole extra distinct scan
    * and, at 100 TB, an unbounded output width; a declared list keeps
    * the plan one pass and the schema static. Cells with no input rows
    * are null (SQL `FILTER`-aggregate semantics for sum/min/max; count
    * differs — SQL FILTER counts 0, pivot yields null; pinned against a
    * per-cell model in ReshapePropertySpec). */
  def pivoted(df: DataFrame, groupBy: Seq[String], pivotColumn: String,
              pivotValues: Seq[Any], aggs: Seq[AggSpec]): DataFrame = {
    require(aggs.nonEmpty, "pivot needs at least one agg spec")
    require(pivotValues.nonEmpty,
      "pivot needs explicit pivot_values (discovery would rescan the input " +
        "and unbound the schema)")
    val cols = aggs.map(aggColumn)
    df.groupBy(groupBy.map(col): _*)
      .pivot(pivotColumn, pivotValues)
      .agg(cols.head, cols.tail: _*)
  }
}
