package graft.scale

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.AggregateOp
import graft.ops.AggregateOp.AggSpec

/**
 * Skew handling utilities for the 100 TB path. AQE's skew-join splitting
 * covers joins automatically; heavily-skewed AGGREGATION keys (a handful
 * of keys holding most rows — the norm in scraped corpora: one domain,
 * one language, one template) still funnel each hot key through a single
 * reducer. Salted two-phase aggregation splits every key into
 * `saltFactor` subkeys, partially aggregates, then merges — the hot key's
 * work spreads across saltFactor reducers, at the cost of a second (tiny)
 * shuffle over `keys × saltFactor` rows.
 *
 * Supported ops are the decomposable subset (count/sum/min/max — the ones
 * whose merge is the same op; mean derives as sum/count downstream;
 * median/nunique need different machinery and go through AggregateOp).
 */
object Skew {

  private val merge: Map[String, (String, String)] = Map(
    "count" -> (("count", "sum")), // counts merge by summing
    "sum"   -> (("sum", "sum")),
    "min"   -> (("min", "min")),
    "max"   -> (("max", "max")))

  /** Two-phase salted group-by. Result is EXACTLY equal to
    * AggregateOp(df, keys, aggs) for the supported ops. */
  def saltedAggregate(df: DataFrame, keys: Seq[String], aggs: Seq[AggSpec],
                      saltFactor: Int = 16): DataFrame = {
    require(keys.nonEmpty, "salting a global aggregate is meaningless")
    // pmod(x, 0) is null under non-ANSI Spark: the salt column would
    // silently degenerate to an unsalted aggregate plus a wasted shuffle
    require(saltFactor >= 1, s"salt_factor must be >= 1, got $saltFactor")
    val unsupported = aggs.filterNot(a => merge.contains(a.op.toLowerCase))
    require(unsupported.isEmpty,
      s"non-decomposable ops ${unsupported.map(_.op).distinct.mkString(",")}: " +
        "use AggregateOp directly")
    // a user __salt column would be silently overwritten — and if it
    // also appears in keys or an agg src, the result would be computed
    // over the replacement instead of the user's data
    require(!df.columns.contains("__salt"),
      "salted aggregation: column name __salt is reserved internally")
    val salted = df.withColumn("__salt",
      pmod(spark_partition_id() + monotonically_increasing_id(), lit(saltFactor)))
    // phase 1: partial aggregate on (keys, salt)
    val phase1 = AggregateOp(salted, keys :+ "__salt",
      aggs.map(a => AggSpec(a.src, merge(a.op.toLowerCase)._1, a.dest)))
    // phase 2: merge partials on keys
    val cols = aggs.map { a =>
      val (_, m) = merge(a.op.toLowerCase)
      (m match {
        case "sum" => sum(col(a.dest))
        case "min" => min(col(a.dest))
        case "max" => max(col(a.dest))
      }).as(a.dest)
    }
    phase1.groupBy(keys.map(col): _*).agg(cols.head, cols.tail: _*)
  }
}
