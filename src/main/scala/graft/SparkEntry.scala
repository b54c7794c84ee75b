package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops._
import graft.scale._

/**
 * Driver contract: one `queries` entry per implemented operator from
 * SURVEY.md §2 (+ the scale operators), each with a DuckDB-oracle SQL where
 * the semantics are SQL-expressible. Column names are aligned 1:1 between
 * the Spark result and the oracle (the driver sorts columns by name and
 * hashes values).
 *
 * Float discipline: double *sums* are made exact by summing integer cents
 * (the synthetic money columns carry 2 decimals; discount products carry 4),
 * so Spark's partial-aggregate order and DuckDB's order produce identical
 * bits. Per-row scalar chains (ratios, rounds) are identical IEEE op
 * sequences on both sides and compare exactly.
 *
 * Integer-aggregate discipline: every integer aggregate the oracle SQL
 * *outputs* is cast `::BIGINT` (including window sums — DuckDB widens
 * `sum(BIGINT)` to HUGEINT, which the driver materializes as float64 and
 * hash-mismatches against Spark's int64 even when values agree), or is
 * divided into an exact double (`/ 100.0`). tools/check_oracle.py enforces
 * this: it DESCRIBEs each oracle and fails on HUGEINT/DECIMAL output
 * columns, and its value compare is dtype-strict (int-vs-float flags).
 */
object SparkEntry {

  /** Read a driver-provided table from an sf directory. `events.ts` is
    * normalized to canonical TimestampType whatever its on-disk
    * representation (INT64 epoch-nanos, TIMESTAMP µs/ms, NTZ/LTZ — the
    * driver has shipped two of these already; see [[graft.util.EventTime]]). */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    // idempotent guard, not an unconditional set: this helper runs
    // hundreds of times per suite, and re-setting a session-GLOBAL conf
    // from inside a per-table read would be a race under any future
    // concurrent query execution on one session
    if (spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // schema-cached read: the sf tables never change under a session, so
    // per-query footer inference is pure constant overhead
    val df = graft.io.ParquetIO.read(spark, s"$dir/$name.parquet")
    if (name == "events") graft.util.EventTime.normalize(df, "ts") else df
  }

  /** Exact decimal sum: round to 10^scale units, sum as long. */
  private def centsSum(c: Column, scale: Int): Column =
    sum(round(c * math.pow(10, scale)).cast("long"))

  // ---------------------------------------------------------------- filter

  private val filterRule = FilterOp.Node("AND", Seq(
    FilterOp.Leaf("l_quantity", "<=", 20),
    FilterOp.Node("OR", Seq(
      FilterOp.Leaf("l_returnflag", "==", "R"),
      FilterOp.Leaf("l_linestatus", "contains", "f"))),
    FilterOp.Node("NOT", Seq(FilterOp.Leaf("l_discount", ">", 0.05)))))

  private def qFilterPass(s: SparkSession, dir: String): DataFrame =
    FilterOp(table(s, dir, "lineitem"), filterRule)("pass")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_returnflag"), col("l_discount"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  private def qFilterFail(s: SparkSession, dir: String): DataFrame =
    FilterOp(table(s, dir, "lineitem"), filterRule)("fail")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))

  /** Null-bearing fixture pinning LEAF-level null falsiness: NOT(x > v) with
    * x = null routes to pass (reference pandas-mask behavior), and a
    * contains over a null string is false. */
  private def qFilterNulls(s: SparkSession, dir: String): DataFrame = {
    val base = table(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"),
        nullif(col("o_orderpriority"), lit("3-MEDIUM")).as("prio"),
        when(col("o_totalprice") > 150000, col("o_totalprice")).as("big_price"))
    val rule = FilterOp.Node("OR", Seq(
      FilterOp.Node("NOT", Seq(FilterOp.Leaf("big_price", ">", 200000))),
      FilterOp.Leaf("prio", "contains", "urgent")))
    val ports = FilterOp(base, rule)
    ports("pass").withColumn("port", lit("pass"))
      .unionByName(ports("fail").withColumn("port", lit("fail")))
      .groupBy(col("port"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("prio").isNull, 1L).otherwise(0L)).as("n_null_prio"))
      .orderBy(col("port"), col("o_orderstatus"))
  }

  /** Pins the pandas `!=` null semantics (filter_helper.py:81-82): a null
    * row PASSES a != leaf (NaN != v is True in a pandas mask), unlike every
    * other comparison operator where null is falsy. */
  private def qFilterNe(s: SparkSession, dir: String): DataFrame = {
    val base = table(s, dir, "orders")
      .select(col("o_orderkey"),
        nullif(col("o_orderpriority"), lit("3-MEDIUM")).as("prio"))
    FilterOp(base, FilterOp.Leaf("prio", "!=", "1-URGENT"))("pass")
      .groupBy(col("prio")).agg(count(lit(1)).as("n_rows"))
      .orderBy(col("prio").asc_nulls_first)
  }

  // ----------------------------------------------------------- aggregation

  private def qAggGroups(s: SparkSession, dir: String): DataFrame = {
    import AggregateOp.AggSpec
    AggregateOp(table(s, dir, "lineitem"),
      Seq("l_returnflag", "l_linestatus"),
      Seq(
        AggSpec("*", "count", "n_rows"),
        AggSpec("l_quantity", "sum", "sum_qty"),
        AggSpec("l_extendedprice", "min", "min_price"),
        AggSpec("l_extendedprice", "max", "max_price"),
        AggSpec("l_quantity", "median", "median_qty"),
        AggSpec("l_partkey", "nunique", "n_parts")))
      .withColumn("sum_qty", round(col("sum_qty"), 2))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  private def qAggGlobal(s: SparkSession, dir: String): DataFrame = {
    import AggregateOp.AggSpec
    AggregateOp(table(s, dir, "orders"), Nil,
      Seq(
        AggSpec("*", "count", "n_rows"),
        AggSpec("o_custkey", "nunique", "n_custs"),
        AggSpec("o_totalprice", "min", "min_price"),
        AggSpec("o_totalprice", "max", "max_price")))
  }

  /** Null group keys form groups (pandas dropna=False parity). */
  private def qAggNullKeys(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "orders")
      .withColumn("prio", nullif(col("o_orderpriority"), lit("1-URGENT")))
      .groupBy(col("prio"))
      .agg(count(lit(1)).as("n_rows"), countDistinct(col("o_custkey")).as("n_custs"))
      .orderBy(col("prio").asc_nulls_first)

  /** Exact money sum via integer cents: mean as cents/100/n. */
  private def qAggMoney(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(centsSum(col("o_totalprice"), 2).as("cents"),
        count(lit(1)).as("n_rows"))
      .select(col("o_orderstatus"),
        (col("cents") / 100.0).as("total_price"),
        (col("cents") / 100.0 / col("n_rows")).as("avg_price"),
        col("n_rows"))
      .orderBy(col("o_orderstatus"))

  /** Same aggregate through the two-phase salted path (scale/Skew.scala) —
    * the 100 TB hot-key shape. Exactness: the money sum goes through
    * integer cents so the extra merge step cannot reorder float adds. */
  private def qAggSalted(s: SparkSession, dir: String): DataFrame = {
    import AggregateOp.AggSpec
    val base = table(s, dir, "lineitem")
      .withColumn("qty_c", round(col("l_quantity") * 100).cast("long"))
    Skew.saltedAggregate(base, Seq("l_returnflag"),
      Seq(
        AggSpec("*", "count", "n_rows"),
        AggSpec("qty_c", "sum", "qty_cents"),
        AggSpec("l_extendedprice", "min", "min_price"),
        AggSpec("l_extendedprice", "max", "max_price")),
      saltFactor = 8)
      .select(col("l_returnflag"), col("n_rows"),
        (col("qty_cents") / 100.0).as("sum_qty"),
        col("min_price"), col("max_price"))
      .orderBy(col("l_returnflag"))
  }

  /** Rollup grouping through AggregateOp's grouping-set face
    * (beyond-reference: SURVEY §2.4 lists grouping sets as absent).
    * Cents technique keeps the money sum bit-exact; subtotal rows carry
    * null keys, same as SQL ROLLUP. */
  private def qAggRollup(s: SparkSession, dir: String): DataFrame = {
    import AggregateOp.AggSpec
    AggregateOp(
      table(s, dir, "orders").withColumn("cents",
        round(col("o_totalprice") * 100).cast("long")),
      Seq("o_orderstatus", "o_orderpriority"),
      Seq(AggSpec("*", "count", "n_rows"), AggSpec("cents", "sum", "cents")),
      grouping = "rollup")
      .select(col("o_orderstatus"), col("o_orderpriority"),
        col("n_rows"), (col("cents") / 100.0).as("total_price"))
      .orderBy(col("o_orderstatus"), col("o_orderpriority"))
  }

  /** Cube grouping through the same grouping-set face as rollup: all
    * four grouping-set combinations of (status, priority); subtotal rows
    * carry null keys, same as SQL CUBE. */
  private def qAggCube(s: SparkSession, dir: String): DataFrame = {
    import AggregateOp.AggSpec
    AggregateOp(
      table(s, dir, "orders").withColumn("cents",
        round(col("o_totalprice") * 100).cast("long")),
      Seq("o_orderstatus", "o_orderpriority"),
      Seq(AggSpec("*", "count", "n_rows"), AggSpec("cents", "sum", "cents")),
      grouping = "cube")
      .select(col("o_orderstatus"), col("o_orderpriority"),
        col("n_rows"), (col("cents") / 100.0).as("total_price"))
      .orderBy(col("o_orderstatus"), col("o_orderpriority"))
  }

  /** Pivoted aggregation (beyond-reference): order status becomes
    * columns, one money sum per (priority, status) cell via the cents
    * technique. Explicit pivot values — no discovery scan. */
  private def qPivot(s: SparkSession, dir: String): DataFrame = {
    import AggregateOp.AggSpec
    AggregateOp.pivoted(
      table(s, dir, "orders").withColumn("cents",
        round(col("o_totalprice") * 100).cast("long")),
      Seq("o_orderpriority"), "o_orderstatus", Seq("F", "O", "P"),
      Seq(AggSpec("cents", "sum", "cents")))
      .select(col("o_orderpriority"),
        (col("F") / 100.0).as("total_f"),
        (col("O") / 100.0).as("total_o"),
        (col("P") / 100.0).as("total_p"))
      .orderBy(col("o_orderpriority"))
  }

  /** Unpivot/melt (beyond-reference): lineitem's quantity/price/discount
    * measures become (measure, value_cents) rows — aggregated per measure
    * so the gate row count stays bounded while every melted cell still
    * feeds the checksum. */
  private def qUnpivot(s: SparkSession, dir: String): DataFrame =
    graft.ops.RelationalOps.unpivot(
      table(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
        round(col("l_quantity") * 100).cast("long").as("quantity"),
        round(col("l_extendedprice") * 100).cast("long").as("extendedprice"),
        round(col("l_discount") * 100).cast("long").as("discount")),
      ids = Seq("l_orderkey", "l_linenumber"),
      valueCols = Seq("quantity", "extendedprice", "discount"),
      varName = "measure", valueName = "cents")
      .groupBy(col("measure"))
      .agg(count(lit(1)).as("n_cells"), sum(col("cents")).as("sum_cents"))
      .orderBy(col("measure"))

  /** Column profile over orders (scale/Profile.scala): exact
    * count/nulls/distinct/min/max per column in one scan — the
    * data-validation pass before training-data ingest. */
  private def qProfile(s: SparkSession, dir: String): DataFrame =
    graft.scale.Profile.profile(
      table(s, dir, "orders"),
      Seq("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus",
        "o_orderpriority"))
      .orderBy(col("col_name"))

  // -------------------------------------------------- schema mapping / join

  private def qProjectRename(s: SparkSession, dir: String): DataFrame = {
    import SchemaMappingOp.MapRule
    SchemaMappingOp.mapMode(
      Map("in" -> table(s, dir, "customer")),
      Map("out" -> Seq(
        MapRule("in", "c_custkey", "cust_id"),
        MapRule("in", "c_name", "cust_name"),
        MapRule("in", "c_mktsegment", "segment"),
        MapRule("in", "c_acctbal", "balance"))))("out")
      .orderBy(col("cust_id"))
  }

  /** Nested destination paths: the operator builds a real struct; the final
    * select re-flattens it to scalar columns so the driver's pandas-based
    * comparator can canonicalize (structs are unhashable there). The struct
    * rebuild itself is pinned by SchemaMappingSpec. */
  private def qProjectNested(s: SparkSession, dir: String): DataFrame = {
    import SchemaMappingOp.MapRule
    SchemaMappingOp.mapMode(
      Map("in" -> table(s, dir, "customer")),
      Map("out" -> Seq(
        MapRule("in", "c_custkey", "cust_id"),
        MapRule("in", "c_nationkey", "geo.nation_key"),
        MapRule("in", "c_mktsegment", "geo.segment"))))("out")
      .select(col("cust_id"), col("geo.nation_key").as("nation_key"),
        col("geo.segment").as("segment"))
      .orderBy(col("cust_id"))
  }

  private def qJoinPlan(s: SparkSession, dir: String): DataFrame = {
    import SchemaMappingOp.JoinStep
    val joined = SchemaMappingOp.joinMode(
      Map("lineitem" -> table(s, dir, "lineitem"),
        "orders" -> table(s, dir, "orders"),
        "customer" -> table(s, dir, "customer")),
      Seq(
        JoinStep("lineitem", "orders", Seq("l_orderkey"), Seq("o_orderkey"),
          "inner", "li_o"),
        JoinStep("li_o", "customer", Seq("o_custkey"), Seq("c_custkey"),
          "inner", "out")))("out")
    joined.groupBy(col("c_mktsegment"))
      .agg((centsSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4) / 10000.0)
        .as("revenue"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("c_mktsegment"))
  }

  private def qJoinLeftNulls(s: SparkSession, dir: String): DataFrame = {
    import SchemaMappingOp.JoinStep
    val joined = SchemaMappingOp.joinMode(
      Map("customer" -> table(s, dir, "customer"),
        "orders" -> table(s, dir, "orders")),
      Seq(JoinStep("customer", "orders", Seq("c_custkey"), Seq("o_custkey"),
        "left", "out")))("out")
    joined.groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"), count(lit(1)).as("n_rows"))
      .orderBy(col("c_custkey"))
  }

  /** Anti join through the joinMode vocabulary (beyond-reference how:
    * SURVEY §2.4 lists semi/anti as absent): customers with no URGENT
    * order (every customer has some order in this corpus, so the right
    * side is filtered to keep the result non-trivial: 18 rows at
    * sf0.001). LeftAnti never materializes right columns — keys-only
    * shuffle or a broadcast of the right side. */
  private def qJoinAnti(s: SparkSession, dir: String): DataFrame = {
    import SchemaMappingOp.JoinStep
    SchemaMappingOp.joinMode(
      Map("customer" -> table(s, dir, "customer"),
        "urgent" -> table(s, dir, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")),
      Seq(JoinStep("customer", "urgent", Seq("c_custkey"), Seq("o_custkey"),
        "anti", "out")))("out")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
      .orderBy(col("c_custkey"))
  }

  /** 4-table chain over the dimension tables — broadcast-join shaped. */
  private def qJoinStar(s: SparkSession, dir: String): DataFrame = {
    import SchemaMappingOp.JoinStep
    val joined = SchemaMappingOp.joinMode(
      Map("lineitem" -> table(s, dir, "lineitem"),
        "supplier" -> broadcast(table(s, dir, "supplier")),
        "nation" -> broadcast(table(s, dir, "nation")),
        "region" -> broadcast(table(s, dir, "region"))),
      Seq(
        JoinStep("lineitem", "supplier", Seq("l_suppkey"), Seq("s_suppkey"),
          "inner", "j1"),
        JoinStep("j1", "nation", Seq("s_nationkey"), Seq("n_nationkey"),
          "inner", "j2"),
        JoinStep("j2", "region", Seq("n_regionkey"), Seq("r_regionkey"),
          "inner", "out")))("out")
    joined.groupBy(col("r_name"), col("n_name"))
      .agg((centsSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4) / 10000.0)
        .as("revenue"))
      .orderBy(col("r_name"), col("n_name"))
  }

  // -------------------------------------------------------- type conversion

  private def qTypeConversion(s: SparkSession, dir: String): DataFrame = {
    import TypeConversionOp._
    import graft.schema.GraftType._
    val base = table(s, dir, "events")
      .withColumn("k_str", regexp_extract(col("props"), "\"k\": (\\d+)", 1))
      .withColumn("k_float_str", concat(regexp_extract(col("props"), "\"k\": (\\d+)", 1), lit(".0")))
      .withColumn("flag_str",
        when(col("event_type") === "signup", lit(" Yes "))
          .when(col("event_type") === "error", lit("F"))
          .when(col("event_type") === "purchase", lit("1"))
          .otherwise(lit("maybe")))
    val strType = org.apache.spark.sql.types.StringType
    base.select(
      col("event_id"),
      convert(col("k_str"), strType, TInteger, NullPolicy).as("k_int"),
      convert(col("k_float_str"), strType, TInteger, NullPolicy).as("k_int_from_float"),
      convert(col("k_str"), strType, TFloat, NullPolicy).as("k_float"),
      convert(col("flag_str"), strType, TBoolean, NullPolicy).as("flag_bool"),
      convert(col("event_type"), strType, TBoolean, SkipPolicy).as("flag_skipped"),
      convert(lit("nan"), strType, TFloat, NullPolicy).as("nullish"))
      .orderBy(col("event_id"))
  }

  // ----------------------------------------------------------- split/merge

  private def qMergeUnion(s: SparkSession, dir: String): DataFrame = {
    val li = table(s, dir, "lineitem")
    val a = FilterOp(li, FilterOp.Leaf("l_quantity", ">", 45))("pass")
    val b = FilterOp(li, FilterOp.Leaf("l_discount", ">=", 0.09))("pass")
    RelationalOps.merge(Seq(
      a.select(col("l_orderkey"), col("l_linenumber"), lit("big_qty").as("branch")),
      b.select(col("l_orderkey"), col("l_linenumber"), lit("discounted").as("branch"))))
      .groupBy(col("branch")).agg(count(lit(1)).as("n_rows"))
      .orderBy(col("branch"))
  }

  /** Set ops (RelationalOps.setOp, beyond-reference): customers ordering
    * in BOTH status classes (INTERSECT — both sides dedup), and parts
    * never ordered (EXCEPT). One shuffle per side, no driver work. */
  private def qSetIntersect(s: SparkSession, dir: String): DataFrame = {
    val o = table(s, dir, "orders")
    RelationalOps.setOp(
      o.filter(col("o_orderstatus") === "F").select(col("o_custkey")),
      o.filter(col("o_orderstatus") === "O").select(col("o_custkey")),
      "intersect")
      .orderBy(col("o_custkey"))
  }

  /** Customers with F-status orders but no O-status ones — a non-empty
    * EXCEPT in this generator (every customer has SOME order, so the
    * customer∖orders shape would gate on an empty result). */
  private def qSetExcept(s: SparkSession, dir: String): DataFrame = {
    val o = table(s, dir, "orders")
    RelationalOps.setOp(
      o.filter(col("o_orderstatus") === "F").select(col("o_custkey")),
      o.filter(col("o_orderstatus") === "O").select(col("o_custkey")),
      "except")
      .orderBy(col("o_custkey"))
  }

  /** INTERSECT ALL — multiset semantics: a (custkey, priority) pair kept
    * min(left multiplicity, right multiplicity) times, the copies plain
    * `intersect` erases. The two filters overlap but neither contains the
    * other, so all three multiplicity cases (left-only, right-only,
    * shared-k) occur. Oracle: DuckDB's native INTERSECT ALL. */
  private def qSetIntersectAll(s: SparkSession, dir: String): DataFrame = {
    val o = table(s, dir, "orders")
    RelationalOps.setOp(
      o.filter(col("o_orderstatus") === "F")
        .select(col("o_custkey"), col("o_orderpriority")),
      o.filter(col("o_totalprice") > 50000)
        .select(col("o_custkey"), col("o_orderpriority")),
      "intersect_all")
      .orderBy(col("o_custkey"), col("o_orderpriority"))
  }

  /** EXCEPT ALL — multiset difference: each pair keeps
    * max(0, left multiplicity − right multiplicity) copies. */
  private def qSetExceptAll(s: SparkSession, dir: String): DataFrame = {
    val o = table(s, dir, "orders")
    RelationalOps.setOp(
      o.filter(col("o_orderstatus") === "F")
        .select(col("o_custkey"), col("o_orderpriority")),
      o.filter(col("o_totalprice") > 50000)
        .select(col("o_custkey"), col("o_orderpriority")),
      "except_all")
      .orderBy(col("o_custkey"), col("o_orderpriority"))
  }

  /** UNION (distinct) — the last un-oracled member of the set_op enum:
    * dedup'd by-name union of both sides. */
  private def qSetUnion(s: SparkSession, dir: String): DataFrame = {
    val o = table(s, dir, "orders")
    RelationalOps.setOp(
      o.filter(col("o_orderstatus") === "F")
        .select(col("o_custkey"), col("o_orderpriority")),
      o.filter(col("o_totalprice") > 50000)
        .select(col("o_orderpriority"), col("o_custkey")), // by-name align
      "union_distinct")
      .orderBy(col("o_custkey"), col("o_orderpriority"))
  }

  private def qSplitBranches(s: SparkSession, dir: String): DataFrame = {
    val ports = RelationalOps.split(table(s, dir, "lineitem"), Seq("a", "b"))
    val sums = ports("a").groupBy(col("l_returnflag"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"))
    val counts = ports("b").groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"))
    sums.join(counts, Seq("l_returnflag"))
      .orderBy(col("l_returnflag"))
  }

  // ---------------------------------------------- sort/skip/limit (find-like)

  private def qSortLimit(s: SparkSession, dir: String): DataFrame =
    RelationalOps.findLike(table(s, dir, "events"),
      filter = Some(col("value") > 100),
      sort = Seq(("value", -1), ("event_id", 1)),
      skip = 10,
      limit = Some(20),
      projection = Seq("event_id", "user_id", "value"))

  private def qWindowTopN(s: SparkSession, dir: String): DataFrame =
    WindowOp(table(s, dir, "orders"), Seq("o_orderpriority"),
      Seq(("o_totalprice", -1), ("o_orderkey", 1)),
      Seq(WindowOp.WinFn("row_number", None, 1, "rank")))
      .filter(col("rank") <= 3)
      .select(col("o_orderpriority"), col("rank"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_orderpriority"), col("rank"))

  /** lag + running sum per user (WindowOp's offset/ordered-aggregate
    * faces; q_window_topn covers the rank face): integer cents keep the
    * running sum dtype-exact, the unique event_id order makes the SQL
    * default frame (peers included) coincide with ROWS, and the top-5
    * cut bounds the gate's output. */
  private def qWindowLag(s: SparkSession, dir: String): DataFrame =
    WindowOp(table(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          round(col("value") * 100).cast("long").as("cents")),
      Seq("user_id"), Seq(("event_id", 1)),
      Seq(WindowOp.WinFn("lag", Some("cents"), 1, "prev_cents"),
        WindowOp.WinFn("sum", Some("cents"), 1, "run_cents"),
        WindowOp.WinFn("row_number", None, 1, "n_th")))
      .filter(col("n_th") <= 5)
      .orderBy(col("user_id"), col("n_th"))

  /** lead + first_value + dense_rank per user — the remaining WindowOp
    * function faces (q_window_topn: rank family; q_window_lag:
    * lag/running sum). Unique event_id order makes dense_rank coincide
    * with row_number (deterministic) and pins first_value to the
    * partition's first row under the SQL default frame on both engines. */
  private def qWindowLead(s: SparkSession, dir: String): DataFrame =
    WindowOp(table(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          round(col("value") * 100).cast("long").as("cents")),
      Seq("user_id"), Seq(("event_id", 1)),
      Seq(WindowOp.WinFn("lead", Some("cents"), 1, "next_cents"),
        WindowOp.WinFn("first", Some("cents"), 0, "first_cents"),
        WindowOp.WinFn("dense_rank", None, 0, "n_th")))
      .filter(col("n_th") <= 5)
      .orderBy(col("user_id"), col("n_th"))

  /** Trailing ROWS-frame aggregates (WinFn.frameRows): 3-row moving
    * sum + count per user under the unique event_id order — the
    * moving-average shape. The average itself is derived OUTSIDE the
    * window as one exact long/long double division, so both engines
    * produce the identical IEEE double (avg() inside the frame could
    * accumulate differently per engine). */
  private def qWindowRolling(s: SparkSession, dir: String): DataFrame =
    WindowOp(table(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          round(col("value") * 100).cast("long").as("cents")),
      Seq("user_id"), Seq(("event_id", 1)),
      Seq(WindowOp.WinFn("sum", Some("cents"), 1, "roll_cents", Some(3)),
        WindowOp.WinFn("count", Some("cents"), 1, "roll_n", Some(3)),
        WindowOp.WinFn("row_number", None, 1, "n_th")))
      .filter(col("n_th") <= 6)
      .withColumn("roll_avg", col("roll_cents").cast("double") / col("roll_n"))
      .orderBy(col("user_id"), col("n_th"))

  /** The percentile/bucketing rank faces (percent_rank / cume_dist /
    * ntile): per-language document quality curation — rank by n_chars
    * desc (unique doc_id tiebreak, so no peer ties), keep the top half
    * by percent_rank, tag each row's quartile bucket. Both engines
    * compute the same (rank-1)/(n-1) double from the same integer rank,
    * so the floats replay bit-exactly. */
  private def qWindowPctile(s: SparkSession, dir: String): DataFrame =
    WindowOp(table(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars")),
      Seq("lang"), Seq(("n_chars", -1), ("doc_id", 1)),
      Seq(WindowOp.WinFn("percent_rank", None, 0, "pct"),
        WindowOp.WinFn("cume_dist", None, 0, "cd"),
        WindowOp.WinFn("ntile", None, 4, "bucket")))
      .withColumn("bucket", col("bucket").cast("long"))
      .filter(col("pct") <= 0.5)
      .orderBy(col("doc_id"))

  /** The SAME percentile/bucketing curation through the declarative
    * window component — config parsing of the percent_rank/cume_dist
    * faces and ntile's explicit-offset bucket count, then the filter
    * composition a curation job actually ships. */
  private def qJobWindowPctile(s: SparkSession, dir: String): DataFrame = {
    val outDir = s"$tmpRoot/job_out_window_pctile"
    val docSchema = fieldsJson("doc_id" -> "integer", "text" -> "string",
      "lang" -> "string", "source" -> "string", "n_chars" -> "integer")
    val slimSchema = fieldsJson("doc_id" -> "integer", "lang" -> "string",
      "n_chars" -> "integer")
    val winSchema = fieldsJson("doc_id" -> "integer", "lang" -> "string",
      "n_chars" -> "integer", "pct" -> "float", "cd" -> "float",
      "bucket" -> "integer")
    val jobJson =
      s"""{
         |  "name": "window_pctile_job",
         |  "components": [
         |    { "name": "rc", "comp_type": "read_parquet",
         |      "filepath": "$dir/documents.parquet",
         |      "routes": { "out": [ { "to": "p", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $docSchema } },
         |    { "name": "p", "comp_type": "sql",
         |      "query": "SELECT doc_id, lang, n_chars FROM p_in",
         |      "in_port_schemas": { "in": $docSchema },
         |      "routes": { "out": [ { "to": "win", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $slimSchema } },
         |    { "name": "win", "comp_type": "window",
         |      "partition_by": ["lang"],
         |      "order_by": [["n_chars", -1], ["doc_id", 1]],
         |      "functions": [
         |        { "fn": "percent_rank", "dest": "pct" },
         |        { "fn": "cume_dist", "dest": "cd" },
         |        { "fn": "ntile", "offset": 4, "dest": "bucket" } ],
         |      "in_port_schemas": { "in": $slimSchema },
         |      "routes": { "out": [ { "to": "f", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $winSchema } },
         |    { "name": "f", "comp_type": "sql",
         |      "query": "SELECT doc_id, lang, n_chars, pct, cd, CAST(bucket AS BIGINT) AS bucket FROM f_in WHERE pct <= 0.5",
         |      "in_port_schemas": { "in": $winSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $winSchema } },
         |    { "name": "w", "comp_type": "write_parquet", "filepath": "$outDir",
         |      "in_port_schemas": { "in": $winSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    s.read.parquet(outDir).orderBy(col("doc_id"))
  }

  /** Tumbling-window event aggregation (batch parity of the streaming path). */
  private def qEventsWindow(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        (centsSum(col("value"), 2) / 100.0).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))
      .orderBy(col("window_start"), col("event_type"))

  /** Sliding-window event aggregation (window=1h, slide=30m): each event
    * lands in exactly two overlapping windows. Oracle replays the window
    * assignment as a UNION ALL of the two 30-minute-bucket candidates —
    * an independent construction, not Spark's expansion. */
  private def qEventsSlide(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        (centsSum(col("value"), 2) / 100.0).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))
      .orderBy(col("window_start"), col("event_type"))

  /** Data-driven session windows over events, the batch face of the
    * streaming `session_gap` path (stream↔batch parity is pinned in
    * StreamingJobsSpec). A user's session closes after 12 idle hours;
    * Spark's session end is `last_ts + gap` and the boundary MERGES —
    * an event landing exactly at the previous end extends the session
    * (SessionWindowPropertySpec pins it; this doc's first draft claimed
    * the opposite and the property test caught it), so the DuckDB
    * oracle opens a new island only when `delta > gap`. One shuffle on
    * (user_id) then a per-key sort — the same shape the streaming state
    * store maintains incrementally. */
  private def qEventsSession(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "events")
      .groupBy(session_window(col("ts"), "12 hours").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        (centsSum(col("value"), 2) / 100.0).as("sum_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"), col("sum_value"))
      .orderBy(col("user_id"), col("session_start"))

  // --------------------------------------------------------------- file io

  // derived from the working directory, not a hardcoded checkout path:
  // a clone anywhere else would otherwise stage ~80 q_job_* sinks into a
  // foreign (or unwritable) /root/repo/target
  private val tmpRoot =
    new java.io.File("target/tmp").getAbsolutePath

  /** Parquet readback of a declarative job's sink output using the
    * schema the sink frame already carries (via ParquetIO.readAs, which
    * normalizes it exactly the way file-source inference would) — skips
    * the per-readback footer-inference Spark job, a measured 67 ms flat
    * constant per q_job_* gate query (~85 ms with the first action;
    * tools/R21Probe @0fcdae9 rb.* phases, r21). With no explicit `sink` the job
    * must have exactly one — multi-sink jobs name the one they read.
    * Partitioned sinks keep plain `s.read.parquet` (see readAs scaladoc). */
  private def readBack(s: SparkSession, built: graft.graph.JobGraph.BuiltJob,
                       path: String, sink: String = ""): org.apache.spark.sql.DataFrame = {
    val name =
      if (sink.nonEmpty) sink
      else {
        require(built.sinks.size == 1,
          s"readBack: a ${built.sinks.size}-sink job needs an explicit sink name")
        built.sinks.head._1
      }
    graft.io.ParquetIO.readAs(s, path, built.frames((name, "out")).schema)
  }

  /** CSV roundtrip with reference semantics: write `;`-separated header
    * CSV, read back with ALL columns as string (csv_helper.py:29). */
  private def qCsvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = s"$tmpRoot/csv_roundtrip"
    graft.io.CsvIO.write(table(s, dir, "nation"), out, sep = ";", singleFile = true)
    graft.io.CsvIO.read(s, out, sep = ";")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .orderBy(col("n_nationkey").cast("long"))
  }

  /** NDJSON + gzip roundtrip through the lenient reader. */
  private def qJsonRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val out = s"$tmpRoot/json_roundtrip"
    val src = table(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    graft.io.JsonIO.write(src, out, gzip = true)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    graft.io.JsonIO.readNdjsonLenient(s, out, schema)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        (centsSum(col("value"), 2) / 100.0).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** Flatten→unflatten roundtrip of nested structs + bounded arrays. */
  private def qFlattenRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val nested = table(s, dir, "customer").select(
      col("c_custkey").as("cust_id"),
      struct(col("c_nationkey").as("nation_key"),
        struct(col("c_mktsegment").as("segment")).as("seg")).as("geo"),
      array(col("c_name"), col("c_mktsegment")).as("tags"))
    val flat = graft.io.Flatten.flatten(nested, arrayBound = Some(2))
    val back = graft.io.Flatten.unflatten(flat)
    back.select(col("cust_id"), col("geo.nation_key").as("nation_key"),
      col("geo.seg.segment").as("segment"),
      element_at(col("tags"), 1).as("tag0"))
      .orderBy(col("cust_id"))
  }

  /** XML roundtrip through Spark 4's XML source with the reference's
    * element conventions; leaves read back as strings. */
  private def qXmlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = s"$tmpRoot/xml_roundtrip"
    graft.io.XmlIO.write(table(s, dir, "nation"), out,
      rootTag = "nations", rowTag = "nation", singleFile = true)
    graft.io.XmlIO.read(s, out, rowTag = "nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .orderBy(col("n_nationkey").cast("long"))
  }

  /** ORC roundtrip (OrcIO): write an events projection as
    * event_type-partitioned ORC, read it back through Spark's native
    * vectorized reader, and aggregate under a partition-pruning filter
    * (OrcIOSpec pins PartitionFilters + PushedFilters on the plan). */
  private def qOrcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = s"$tmpRoot/orc_roundtrip"
    graft.io.OrcIO.write(
      table(s, dir, "events").select(col("event_id"), col("event_type"),
        col("value")),
      out, partitionBy = Seq("event_type"))
    graft.io.OrcIO.read(s, out)
      .filter(col("event_type") =!= "view")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        (centsSum(col("value"), 2) / 100.0).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** Excel (xlsx) roundtrip: header row, sheet by name, all-string cells. */
  private def qExcelRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = s"$tmpRoot/excel_roundtrip.xlsx"
    graft.io.ExcelIO.write(table(s, dir, "nation"), out, sheetName = "nations")
    graft.io.ExcelIO.read(s, out, sheet = Some("nations"))
      .orderBy(col("n_nationkey").cast("long"))
  }

  /** JDBC end-to-end against embedded Derby: INSERT the region table, then
    * UPSERT one modified row (MERGE), read back typed. */
  private def qJdbcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import graft.io.JdbcIO
    val url = "jdbc:derby:memory:graftq;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.execute("DROP TABLE graft_region") catch { case _: Exception => () }
      st.execute("""CREATE TABLE graft_region ("r_regionkey" INTEGER PRIMARY KEY, "r_name" VARCHAR(200))""")
    } finally conn.close()
    val region = table(s, dir, "region")
    JdbcIO.write(region, url, "graft_region", JdbcIO.Insert, JdbcIO.Derby)
    JdbcIO.write(
      region.filter(col("r_regionkey") === 0)
        .withColumn("r_name", lit("MODIFIED")),
      url, "graft_region", JdbcIO.Upsert, JdbcIO.Derby, keys = Seq("r_regionkey"))
    JdbcIO.read(s, url, table = Some("graft_region"))
      .orderBy(col("r_regionkey"))
  }

  /** Document-store end-to-end: truncate-insert customers, read back with
    * schema-derived projection pushdown + filter/sort/limit. */
  private def qMongoRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import graft.io.MongoIO
    import graft.schema.{FieldDef, GraftType}
    val factory = MongoIO.InMemory("q_mongo_roundtrip")
    MongoIO.write(table(s, dir, "customer"), factory, "customers", "truncate")
    val schema = Seq(
      FieldDef("c_custkey", GraftType.TInteger, nullable = true),
      FieldDef("c_mktsegment", GraftType.TString, nullable = true))
    MongoIO.read(s, factory, "customers", schema,
      filter = Map("c_mktsegment" -> "BUILDING"),
      sort = Seq(("c_custkey", 1)), limit = Some(50))
  }

  /** End-to-end DECLARATIVE job: a JSON config (the reference's defining
    * surface — csv_row_filter_csv.json shape with __IN__/__OUT__
    * placeholders) is parsed, wiring-validated, folded into DataFrames and
    * executed: read_csv → type_conversion → filter → write_csv. The query
    * result is the written file read back. */
  private def qJobCsvFilter(s: SparkSession, dir: String): DataFrame = {
    val inDir = s"$tmpRoot/job_in_csv"
    val outDir = s"$tmpRoot/job_out_csv"
    // multi-part staging write: a coalesce(1) here would serialize the
    // whole staging pass through one task
    graft.io.CsvIO.write(
      table(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_returnflag")),
      inDir, sep = ",")
    val strFields =
      """{ "fields": [
        |  { "name": "l_orderkey", "data_type": "string" },
        |  { "name": "l_linenumber", "data_type": "string" },
        |  { "name": "l_quantity", "data_type": "string" },
        |  { "name": "l_returnflag", "data_type": "string" } ] }""".stripMargin
    val typedFields =
      """{ "fields": [
        |  { "name": "l_orderkey", "data_type": "integer" },
        |  { "name": "l_linenumber", "data_type": "integer" },
        |  { "name": "l_quantity", "data_type": "integer" },
        |  { "name": "l_returnflag", "data_type": "string" } ] }""".stripMargin
    val jobJson =
      s"""{
         |  "name": "csv_convert_filter_csv",
         |  "num_of_retries": 0,
         |  "strategy_type": "bulk",
         |  "components": [
         |    { "name": "reader", "comp_type": "read_csv",
         |      "filepath": "__IN__", "separator": ",",
         |      "routes": { "out": [ { "to": "conv", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $strFields } },
         |    { "name": "conv", "comp_type": "type_conversion",
         |      "rules": [
         |        { "column_path": "l_orderkey", "target": "integer", "on_error": "raise" },
         |        { "column_path": "l_linenumber", "target": "integer", "on_error": "raise" },
         |        { "column_path": "l_quantity", "target": "integer", "on_error": "raise" } ],
         |      "in_port_schemas": { "in": $strFields },
         |      "routes": { "out": [ { "to": "flt", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $typedFields } },
         |    { "name": "flt", "comp_type": "filter",
         |      "rule": { "logical_operator": "AND", "rules": [
         |        { "column": "l_quantity", "operator": "<=", "value": 20 },
         |        { "logical_operator": "NOT", "rules": [
         |          { "column": "l_returnflag", "operator": "==", "value": "A" } ] } ] },
         |      "in_port_schemas": { "in": $typedFields },
         |      "routes": { "pass": [ { "to": "writer", "in_port": "in" } ] },
         |      "out_port_schemas": { "pass": $typedFields } },
         |    { "name": "writer", "comp_type": "write_csv",
         |      "filepath": "__OUT__", "separator": ",", "single_file": false,
         |      "in_port_schemas": { "in": $typedFields } }
         |  ]
         |}""".stripMargin
    val spec = graft.config.JobConfig.parse(jobJson,
      Map("__IN__" -> inDir, "__OUT__" -> outDir))
    val built = graft.graph.JobGraph.build(s, spec)
    built.runSinks()
    built.close()
    graft.io.CsvIO.read(s, outDir)
      .orderBy(col("l_orderkey").cast("long"), col("l_linenumber").cast("long"))
  }

  /** Second declarative job: multi-input schema_mapping (join mode + map
    * rules) feeding an aggregation, all wired from JSON config. */
  private def qJobJoinAgg(s: SparkSession, dir: String): DataFrame = {
    val outDir = s"$tmpRoot/job_out_joinagg"
    val custSchema = fieldsJson("c_custkey" -> "integer", "c_name" -> "string",
      "c_nationkey" -> "integer", "c_acctbal" -> "float", "c_mktsegment" -> "string")
    val ordSchema = fieldsJson("o_orderkey" -> "integer", "o_custkey" -> "integer",
      "o_orderstatus" -> "string", "o_totalprice" -> "float",
      "o_orderdate" -> "string", "o_orderpriority" -> "string")
    val mappedSchema = fieldsJson("segment" -> "string", "price" -> "float")
    val aggSchema = fieldsJson("segment" -> "string", "n_orders" -> "integer",
      "min_price" -> "float", "max_price" -> "float")
    val jobJson =
      s"""{
         |  "name": "join_agg_job",
         |  "components": [
         |    { "name": "cust", "comp_type": "read_parquet",
         |      "filepath": "$dir/customer.parquet",
         |      "routes": { "out": [ { "to": "sm", "in_port": "customer" } ] },
         |      "out_port_schemas": { "out": $custSchema } },
         |    { "name": "ord", "comp_type": "read_parquet",
         |      "filepath": "$dir/orders.parquet",
         |      "routes": { "out": [ { "to": "sm", "in_port": "orders" } ] },
         |      "out_port_schemas": { "out": $ordSchema } },
         |    { "name": "sm", "comp_type": "schema_mapping",
         |      "join_plan": { "steps": [
         |        { "left_port": "orders", "right_port": "customer",
         |          "left_on": ["o_custkey"], "right_on": ["c_custkey"],
         |          "how": "inner", "output_port": "joined" } ] },
         |      "rules_by_dest": { "out": {
         |        "segment": { "src_port": "joined", "src_path": "c_mktsegment" },
         |        "price":   { "src_port": "joined", "src_path": "o_totalprice" } } },
         |      "in_port_schemas": { "customer": $custSchema, "orders": $ordSchema },
         |      "routes": { "out": [ { "to": "agg", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $mappedSchema } },
         |    { "name": "agg", "comp_type": "aggregation",
         |      "group_by": ["segment"],
         |      "aggregations": [
         |        { "src": "*", "op": "count", "dest": "n_orders" },
         |        { "src": "price", "op": "min", "dest": "min_price" },
         |        { "src": "price", "op": "max", "dest": "max_price" } ],
         |      "in_port_schemas": { "in": $mappedSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $aggSchema } },
         |    { "name": "w", "comp_type": "write_parquet", "filepath": "$outDir",
         |      "in_port_schemas": { "in": $aggSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    readBack(s, built, outDir).orderBy(col("segment"))
  }

  /** Declarative `sql` component end-to-end: two parquet sources joined
    * and aggregated by user-supplied Spark SQL over port views. */
  private def qSqlJoin(s: SparkSession, dir: String): DataFrame = {
    val outDir = s"$tmpRoot/job_out_sqljoin"
    val custSchema = fieldsJson("c_custkey" -> "integer", "c_name" -> "string",
      "c_nationkey" -> "integer", "c_acctbal" -> "float", "c_mktsegment" -> "string")
    val natSchema = fieldsJson("n_nationkey" -> "integer", "n_name" -> "string",
      "n_regionkey" -> "integer")
    val outSchema = fieldsJson("n_name" -> "string", "n_custs" -> "integer",
      "total_bal" -> "float")
    // 100.0D: Spark SQL parses a bare 100.0 as DECIMAL (the DataFrame API
    // would make it a double), and bigint/decimal division yields decimal,
    // which hash-mismatches the oracle's double
    val query = "SELECT n_name, count(*) AS n_custs, " +
      "sum(cast(round(c_acctbal * 100) AS bigint)) / 100.0D AS total_bal " +
      "FROM q_c JOIN q_n ON c_nationkey = n_nationkey " +
      "GROUP BY n_name"
    val jobJson =
      s"""{
         |  "name": "sql_join_job",
         |  "components": [
         |    { "name": "cust", "comp_type": "read_parquet",
         |      "filepath": "$dir/customer.parquet",
         |      "routes": { "out": [ { "to": "q", "in_port": "c" } ] },
         |      "out_port_schemas": { "out": $custSchema } },
         |    { "name": "nat", "comp_type": "read_parquet",
         |      "filepath": "$dir/nation.parquet",
         |      "routes": { "out": [ { "to": "q", "in_port": "n" } ] },
         |      "out_port_schemas": { "out": $natSchema } },
         |    { "name": "q", "comp_type": "sql",
         |      "query": ${graft.util.JsonStr.quote(query)},
         |      "in_port_schemas": { "c": $custSchema, "n": $natSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $outSchema } },
         |    { "name": "w", "comp_type": "write_parquet", "filepath": "$outDir",
         |      "in_port_schemas": { "in": $outSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    readBack(s, built, outDir).orderBy(col("n_name"))
  }

  /** Oracle for the 5-column orders profile, shared by the Scala face
    * (q_profile) and the declarative face (q_job_profile — its staged
    * input is a pure projection of orders, so the same SQL replays). */
  private def profileOracleSql: String = Seq(
    ("o_custkey", true), ("o_orderkey", true), ("o_orderpriority", false),
    ("o_orderstatus", false), ("o_totalprice", true)).map { case (c, num) =>
    val (mn, mx, ms, xs) =
      if (num) (s"min($c)::DOUBLE", s"max($c)::DOUBLE", "NULL::VARCHAR", "NULL::VARCHAR")
      else ("NULL::DOUBLE", "NULL::DOUBLE", s"min($c)::VARCHAR", s"max($c)::VARCHAR")
    s"""SELECT '$c' AS col_name, count(*)::BIGINT AS n_rows,
       |  (count(*) - count($c))::BIGINT AS n_nulls,
       |  count(DISTINCT $c)::BIGINT AS n_distinct,
       |  $mn AS min_num, $mx AS max_num,
       |  $ms AS min_str, $xs AS max_str FROM orders""".stripMargin
  }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")

  /** Shared helper: inline schema JSON from (name, type) pairs. */
  private def fieldsJson(fs: (String, String)*): String =
    fs.map { case (n, t) => s"""{ "name": "$n", "data_type": "$t", "nullable": true }""" }
      .mkString("""{ "fields": [ """, ", ", " ] }")

  /** Combination job: XML source → type_conversion with a DERIVED out
    * schema (none declared) → aggregation → parquet sink. */
  private def qJobXmlAgg(s: SparkSession, dir: String): DataFrame = {
    val in = s"$tmpRoot/job_xml_in"
    val outDir = s"$tmpRoot/job_out_xmlagg"
    graft.io.XmlIO.write(table(s, dir, "nation"), in,
      rootTag = "nations", rowTag = "nation", singleFile = true)
    val strSchema = fieldsJson("n_nationkey" -> "string", "n_name" -> "string",
      "n_regionkey" -> "string")
    val typedSchema = fieldsJson("n_nationkey" -> "integer", "n_name" -> "string",
      "n_regionkey" -> "integer")
    val aggSchema = fieldsJson("n_regionkey" -> "integer",
      "n_nations" -> "integer", "sum_key" -> "integer")
    val jobJson =
      s"""{
         |  "name": "xml_convert_agg",
         |  "components": [
         |    { "name": "r", "comp_type": "read_xml", "filepath": "$in",
         |      "record_tag": "nation",
         |      "routes": { "out": [ { "to": "conv", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $strSchema } },
         |    { "name": "conv", "comp_type": "type_conversion",
         |      "rules": [
         |        { "column_path": "n_nationkey", "target": "integer", "on_error": "raise" },
         |        { "column_path": "n_regionkey", "target": "integer", "on_error": "raise" } ],
         |      "in_port_schemas": { "in": $strSchema },
         |      "routes": { "out": [ { "to": "agg", "in_port": "in" } ] } },
         |    { "name": "agg", "comp_type": "aggregation",
         |      "group_by": ["n_regionkey"],
         |      "aggregations": [
         |        { "src": "n_nationkey", "op": "count", "dest": "n_nations" },
         |        { "src": "n_nationkey", "op": "sum", "dest": "sum_key" } ],
         |      "in_port_schemas": { "in": $typedSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $aggSchema } },
         |    { "name": "w", "comp_type": "write_parquet", "filepath": "$outDir",
         |      "in_port_schemas": { "in": $aggSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    readBack(s, built, outDir).orderBy(col("n_regionkey"))
  }

  /** Combination job pair exercising BOTH declarative ORC faces:
    * job 1 stages customer as ORC through the write_orc sink
    * (coalesce small-files control); job 2 reads it back with read_orc,
    * filters, aggregates, and lands parquet. */
  private def qJobOrcAgg(s: SparkSession, dir: String): DataFrame = {
    val orcDir = s"$tmpRoot/job_orc_stage"
    val outDir = s"$tmpRoot/job_out_orcagg"
    val fullSchema = fieldsJson("c_custkey" -> "integer",
      "c_name" -> "string", "c_nationkey" -> "integer",
      "c_acctbal" -> "float", "c_mktsegment" -> "string")
    val custSchema = fieldsJson("c_custkey" -> "integer",
      "c_mktsegment" -> "string", "c_nationkey" -> "integer")
    val aggSchema = fieldsJson("c_nationkey" -> "integer",
      "n_custs" -> "integer", "min_cust" -> "integer")
    val stageJson =
      s"""{
         |  "name": "orc_stage",
         |  "components": [
         |    { "name": "rc", "comp_type": "read_parquet",
         |      "filepath": "$dir/customer.parquet",
         |      "routes": { "out": [ { "to": "proj", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $fullSchema } },
         |    { "name": "proj", "comp_type": "sql",
         |      "query": "SELECT c_custkey, c_mktsegment, c_nationkey FROM proj_in",
         |      "in_port_schemas": { "in": $fullSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $custSchema } },
         |    { "name": "w", "comp_type": "write_orc", "filepath": "$orcDir",
         |      "coalesce": 2,
         |      "in_port_schemas": { "in": $custSchema } }
         |  ]
         |}""".stripMargin
    val staged = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(stageJson))
    staged.runSinks()
    staged.close()
    val aggJson =
      s"""{
         |  "name": "orc_filter_agg",
         |  "components": [
         |    { "name": "r", "comp_type": "read_orc", "filepath": "$orcDir",
         |      "routes": { "out": [ { "to": "flt", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $custSchema } },
         |    { "name": "flt", "comp_type": "filter",
         |      "rule": { "column": "c_mktsegment", "operator": "==", "value": "BUILDING" },
         |      "in_port_schemas": { "in": $custSchema },
         |      "routes": { "pass": [ { "to": "agg", "in_port": "in" } ] },
         |      "out_port_schemas": { "pass": $custSchema } },
         |    { "name": "agg", "comp_type": "aggregation",
         |      "group_by": ["c_nationkey"],
         |      "aggregations": [
         |        { "src": "c_custkey", "op": "count", "dest": "n_custs" },
         |        { "src": "c_custkey", "op": "min", "dest": "min_cust" } ],
         |      "in_port_schemas": { "in": $custSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $aggSchema } },
         |    { "name": "w", "comp_type": "write_parquet", "filepath": "$outDir",
         |      "in_port_schemas": { "in": $aggSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(aggJson))
    built.runSinks()
    built.close()
    readBack(s, built, outDir).orderBy(col("c_nationkey"))
  }

  /** Combination job: Excel source → type_conversion → filter →
    * aggregation → parquet sink. */
  private def qJobExcelFilterAgg(s: SparkSession, dir: String): DataFrame = {
    val in = s"$tmpRoot/job_excel_in.xlsx"
    val outDir = s"$tmpRoot/job_out_excelagg"
    graft.io.ExcelIO.write(
      table(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"),
        col("c_nationkey")),
      in, sheetName = "customers")
    val strSchema = fieldsJson("c_custkey" -> "string",
      "c_mktsegment" -> "string", "c_nationkey" -> "string")
    val typedSchema = fieldsJson("c_custkey" -> "integer",
      "c_mktsegment" -> "string", "c_nationkey" -> "integer")
    val aggSchema = fieldsJson("c_nationkey" -> "integer",
      "n_custs" -> "integer", "min_cust" -> "integer")
    val jobJson =
      s"""{
         |  "name": "excel_filter_agg",
         |  "components": [
         |    { "name": "r", "comp_type": "read_excel", "filepath": "$in",
         |      "sheet_name": "customers",
         |      "routes": { "out": [ { "to": "conv", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $strSchema } },
         |    { "name": "conv", "comp_type": "type_conversion",
         |      "rules": [
         |        { "column_path": "c_custkey", "target": "integer", "on_error": "raise" },
         |        { "column_path": "c_nationkey", "target": "integer", "on_error": "raise" } ],
         |      "in_port_schemas": { "in": $strSchema },
         |      "routes": { "out": [ { "to": "flt", "in_port": "in" } ] } },
         |    { "name": "flt", "comp_type": "filter",
         |      "rule": { "column": "c_mktsegment", "operator": "==", "value": "BUILDING" },
         |      "in_port_schemas": { "in": $typedSchema },
         |      "routes": { "pass": [ { "to": "agg", "in_port": "in" } ] },
         |      "out_port_schemas": { "pass": $typedSchema } },
         |    { "name": "agg", "comp_type": "aggregation",
         |      "group_by": ["c_nationkey"],
         |      "aggregations": [
         |        { "src": "c_custkey", "op": "count", "dest": "n_custs" },
         |        { "src": "c_custkey", "op": "min", "dest": "min_cust" } ],
         |      "in_port_schemas": { "in": $typedSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $aggSchema } },
         |    { "name": "w", "comp_type": "write_parquet", "filepath": "$outDir",
         |      "in_port_schemas": { "in": $aggSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    readBack(s, built, outDir).orderBy(col("c_nationkey"))
  }

  /** Combination job: Mongo source read with RANGE partitioning
    * (split_key, no sort/skip/limit → per-task {$gte,$lt} finds) →
    * exact dedup component → parquet sink. */
  private def qJobMongoDedup(s: SparkSession, dir: String): DataFrame = {
    import graft.io.MongoIO
    val outDir = s"$tmpRoot/job_out_mongodedup"
    MongoIO.InMemoryStores.drop("q_job_mongo_dedup")
    val factory = MongoIO.InMemory("q_job_mongo_dedup")
    MongoIO.write(
      table(s, dir, "documents").select(col("doc_id"), col("text"), col("lang")),
      factory, "docs", "truncate")
    val docSchema = fieldsJson("doc_id" -> "integer", "text" -> "string",
      "lang" -> "string")
    val jobJson =
      s"""{
         |  "name": "mongo_dedup",
         |  "components": [
         |    { "name": "r", "comp_type": "read_mongodb",
         |      "store": "q_job_mongo_dedup", "entity_name": "docs",
         |      "split_key": "doc_id",
         |      "routes": { "out": [ { "to": "dd", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $docSchema } },
         |    { "name": "dd", "comp_type": "dedup", "method": "exact",
         |      "text_column": "text", "id_column": "doc_id",
         |      "in_port_schemas": { "in": $docSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $docSchema } },
         |    { "name": "w", "comp_type": "write_parquet", "filepath": "$outDir",
         |      "in_port_schemas": { "in": $docSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    readBack(s, built, outDir).select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))
  }

  /** Combination job: split tee → two filters → merge union →
    * aggregation, exercising the fan-out/fan-in wiring declaratively. */
  private def qJobSplitMergeAgg(s: SparkSession, dir: String): DataFrame = {
    val in = s"$tmpRoot/job_splitmerge_in"
    val outDir = s"$tmpRoot/job_out_splitmerge"
    graft.io.CsvIO.write(
      table(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus")),
      in, sep = ",")
    val ordSchema = fieldsJson("o_orderkey" -> "string", "o_orderstatus" -> "string")
    val aggSchema = fieldsJson("o_orderstatus" -> "string", "n_orders" -> "integer")
    val jobJson =
      s"""{
         |  "name": "split_merge_agg",
         |  "components": [
         |    { "name": "r", "comp_type": "read_csv", "filepath": "$in",
         |      "routes": { "out": [ { "to": "sp", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $ordSchema } },
         |    { "name": "sp", "comp_type": "split",
         |      "extra_output_ports": ["a", "b"],
         |      "in_port_schemas": { "in": $ordSchema },
         |      "routes": { "a": [ { "to": "fa", "in_port": "in" } ],
         |                  "b": [ { "to": "fb", "in_port": "in" } ] },
         |      "out_port_schemas": { "a": $ordSchema, "b": $ordSchema } },
         |    { "name": "fa", "comp_type": "filter",
         |      "rule": { "column": "o_orderstatus", "operator": "==", "value": "F" },
         |      "in_port_schemas": { "in": $ordSchema },
         |      "routes": { "pass": [ { "to": "m", "in_port": "in" } ] },
         |      "out_port_schemas": { "pass": $ordSchema } },
         |    { "name": "fb", "comp_type": "filter",
         |      "rule": { "column": "o_orderstatus", "operator": "==", "value": "O" },
         |      "in_port_schemas": { "in": $ordSchema },
         |      "routes": { "pass": [ { "to": "m", "in_port": "in" } ] },
         |      "out_port_schemas": { "pass": $ordSchema } },
         |    { "name": "m", "comp_type": "merge",
         |      "in_port_schemas": { "in": $ordSchema },
         |      "routes": { "merge": [ { "to": "agg", "in_port": "in" } ] },
         |      "out_port_schemas": { "merge": $ordSchema } },
         |    { "name": "agg", "comp_type": "aggregation",
         |      "group_by": ["o_orderstatus"],
         |      "aggregations": [
         |        { "src": "o_orderkey", "op": "count", "dest": "n_orders" } ],
         |      "in_port_schemas": { "in": $ordSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $aggSchema } },
         |    { "name": "w", "comp_type": "write_parquet", "filepath": "$outDir",
         |      "in_port_schemas": { "in": $aggSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    readBack(s, built, outDir).orderBy(col("o_orderstatus"))
  }

  /** Combination job (json_row_typeconv_null_csv.json shape): NDJSON
    * source → type_conversion with on_error=null alongside raise rules →
    * NDJSON sink. Pins the error-policy cast surface declaratively: the
    * unparseable "x<k>" values become nulls, the parseable ones convert. */
  private def qJobJsonTypeconv(s: SparkSession, dir: String): DataFrame = {
    // .jsonl suffix selects the NDJSON read path in read_json (an
    // extensionless dir would be read in array/multiLine mode, which
    // takes ONE object per file)
    val in = s"$tmpRoot/job_json_tc_in.jsonl"
    val outDir = s"$tmpRoot/job_out_jsontc"
    graft.io.JsonIO.write(
      table(s, dir, "supplier").select(
        col("s_suppkey").cast("string"),
        col("s_acctbal").cast("string"),
        when(pmod(col("s_suppkey"), lit(3)) === 0, col("s_suppkey").cast("string"))
          .otherwise(concat(lit("x"), col("s_suppkey"))).as("maybe_int")),
      in)
    val strSchema = fieldsJson("s_suppkey" -> "string", "s_acctbal" -> "string",
      "maybe_int" -> "string")
    val jobJson =
      s"""{
         |  "name": "json_typeconv_json",
         |  "components": [
         |    { "name": "r", "comp_type": "read_json", "filepath": "$in",
         |      "routes": { "out": [ { "to": "conv", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $strSchema } },
         |    { "name": "conv", "comp_type": "type_conversion",
         |      "rules": [
         |        { "column_path": "s_suppkey", "target": "integer", "on_error": "raise" },
         |        { "column_path": "s_acctbal", "target": "float", "on_error": "raise" },
         |        { "column_path": "maybe_int", "target": "integer", "on_error": "null" } ],
         |      "in_port_schemas": { "in": $strSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] } },
         |    { "name": "w", "comp_type": "write_json", "filepath": "$outDir",
         |      "in_port_schemas": { "in": ${fieldsJson("s_suppkey" -> "integer",
              "s_acctbal" -> "float", "maybe_int" -> "integer")} } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    import org.apache.spark.sql.types._
    graft.io.JsonIO.read(s, outDir, Some(StructType(Seq(
      StructField("s_suppkey", LongType), StructField("s_acctbal", DoubleType),
      StructField("maybe_int", LongType)))))
      .orderBy(col("s_suppkey"))
  }

  /** Combination job pinning `on_error: skip` declaratively (SURVEY §7.3,
    * reference type_conversion_helper.py:19-23,149-162): mixed
    * parseable/garbage cells under a skip rule. With a STRING-family
    * target skip keeps the original value (lossless identity); with a
    * typed target a failed cell cannot keep its original inside a typed
    * column, so it nulls — the one documented divergence, pinned here
    * against the oracle. */
  private def qJobTypeconvSkip(s: SparkSession, dir: String): DataFrame = {
    val in = s"$tmpRoot/job_tc_skip_in.jsonl"
    val outDir = s"$tmpRoot/job_out_tc_skip"
    graft.io.JsonIO.write(
      table(s, dir, "supplier").select(
        col("s_suppkey").cast("string"),
        // parseable on even keys, garbage ("g<k>") on odd keys
        when(pmod(col("s_suppkey"), lit(2)) === 0, col("s_suppkey").cast("string"))
          .otherwise(concat(lit("g"), col("s_suppkey"))).as("skip_int"),
        concat(lit("v_"), col("s_suppkey")).as("skip_str")),
      in)
    val strSchema = fieldsJson("s_suppkey" -> "string", "skip_int" -> "string",
      "skip_str" -> "string")
    val jobJson =
      s"""{
         |  "name": "json_typeconv_skip_json",
         |  "components": [
         |    { "name": "r", "comp_type": "read_json", "filepath": "$in",
         |      "routes": { "out": [ { "to": "conv", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $strSchema } },
         |    { "name": "conv", "comp_type": "type_conversion",
         |      "rules": [
         |        { "column_path": "s_suppkey", "target": "integer", "on_error": "raise" },
         |        { "column_path": "skip_int", "target": "integer", "on_error": "skip" },
         |        { "column_path": "skip_str", "target": "string", "on_error": "skip" } ],
         |      "in_port_schemas": { "in": $strSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] } },
         |    { "name": "w", "comp_type": "write_json", "filepath": "$outDir",
         |      "in_port_schemas": { "in": ${fieldsJson("s_suppkey" -> "integer",
              "skip_int" -> "integer", "skip_str" -> "string")} } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    import org.apache.spark.sql.types._
    graft.io.JsonIO.read(s, outDir, Some(StructType(Seq(
      StructField("s_suppkey", LongType), StructField("skip_int", LongType),
      StructField("skip_str", StringType)))))
      .orderBy(col("s_suppkey"))
  }

  /** Combination job (csv_bulk_map_fanout_csv.json shape): one source →
    * schema_mapping map mode fanning out to TWO dest ports with different
    * projections → two parquet sinks; the result unions both files back
    * with a port tag. */
  private def qJobMapFanout(s: SparkSession, dir: String): DataFrame = {
    val in = s"$tmpRoot/job_fanout_in"
    val outA = s"$tmpRoot/job_out_fanout_a"
    val outB = s"$tmpRoot/job_out_fanout_b"
    graft.io.CsvIO.write(
      table(s, dir, "nation").select(col("n_nationkey"), col("n_name")),
      in, sep = ",")
    val srcSchema = fieldsJson("n_nationkey" -> "string", "n_name" -> "string")
    val aSchema = fieldsJson("uid" -> "string", "uname" -> "string")
    val jobJson =
      s"""{
         |  "name": "map_fanout",
         |  "components": [
         |    { "name": "r", "comp_type": "read_csv", "filepath": "$in",
         |      "routes": { "out": [ { "to": "map", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $srcSchema } },
         |    { "name": "map", "comp_type": "schema_mapping",
         |      "extra_input_ports": ["in"],
         |      "extra_output_ports": ["A", "B"],
         |      "rules_by_dest": {
         |        "A": { "uid":   { "src_port": "in", "src_path": "n_nationkey" },
         |               "uname": { "src_port": "in", "src_path": "n_name" } },
         |        "B": { "n_nationkey": { "src_port": "in", "src_path": "n_nationkey" },
         |               "n_name":      { "src_port": "in", "src_path": "n_name" } } },
         |      "in_port_schemas": { "in": $srcSchema },
         |      "routes": { "A": [ { "to": "wa", "in_port": "in" } ],
         |                  "B": [ { "to": "wb", "in_port": "in" } ] },
         |      "out_port_schemas": { "A": $aSchema, "B": $srcSchema } },
         |    { "name": "wa", "comp_type": "write_parquet", "filepath": "$outA",
         |      "in_port_schemas": { "in": $aSchema } },
         |    { "name": "wb", "comp_type": "write_parquet", "filepath": "$outB",
         |      "in_port_schemas": { "in": $srcSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    readBack(s, built, outA, "wa").withColumn("port", lit("A"))
      .unionByName(readBack(s, built, outB, "wb")
        .select(col("n_nationkey").as("uid"), col("n_name").as("uname"))
        .withColumn("port", lit("B")))
      .orderBy(col("port"), col("uid"))
  }

  /** Combination job (excel_bulk_agg_nunique_json.json shape): Excel
    * source → type_conversion → aggregation with NUNIQUE and `src="*"`
    * row count → JSON ARRAY sink (the reference's indent-2 single-file
    * format), read back as the result. */
  private def qJobAggNunique(s: SparkSession, dir: String): DataFrame = {
    val in = s"$tmpRoot/job_nunique_in.xlsx"
    val out = s"$tmpRoot/job_out_nunique.json"
    graft.io.ExcelIO.write(
      table(s, dir, "supplier").select(col("s_suppkey"), col("s_name"),
        col("s_nationkey")),
      in, sheetName = "suppliers")
    val strSchema = fieldsJson("s_suppkey" -> "string", "s_name" -> "string",
      "s_nationkey" -> "string")
    val typedSchema = fieldsJson("s_suppkey" -> "integer", "s_name" -> "string",
      "s_nationkey" -> "integer")
    val aggSchema = fieldsJson("s_nationkey" -> "integer",
      "n_names" -> "integer", "n_sups" -> "integer")
    val jobJson =
      s"""{
         |  "name": "excel_agg_nunique_json",
         |  "components": [
         |    { "name": "r", "comp_type": "read_excel", "filepath": "$in",
         |      "sheet_name": "suppliers",
         |      "routes": { "out": [ { "to": "conv", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $strSchema } },
         |    { "name": "conv", "comp_type": "type_conversion",
         |      "rules": [
         |        { "column_path": "s_suppkey", "target": "integer", "on_error": "raise" },
         |        { "column_path": "s_nationkey", "target": "integer", "on_error": "raise" } ],
         |      "in_port_schemas": { "in": $strSchema },
         |      "routes": { "out": [ { "to": "agg", "in_port": "in" } ] } },
         |    { "name": "agg", "comp_type": "aggregation",
         |      "group_by": ["s_nationkey"],
         |      "aggregations": [
         |        { "src": "s_name", "op": "nunique", "dest": "n_names" },
         |        { "src": "*", "op": "count", "dest": "n_sups" } ],
         |      "in_port_schemas": { "in": $typedSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $aggSchema } },
         |    { "name": "w", "comp_type": "write_json", "filepath": "$out",
         |      "format": "array",
         |      "in_port_schemas": { "in": $aggSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    import org.apache.spark.sql.types._
    // multiLine: the sink wrote ONE pretty-printed JSON array document
    graft.io.JsonIO.read(s, out, Some(StructType(Seq(
      StructField("s_nationkey", LongType), StructField("n_names", LongType),
      StructField("n_sups", LongType)))), multiLine = true)
      .orderBy(col("s_nationkey"))
  }

  /** Combination job (database e2e shape): declarative JDBC source with a
    * parameterized query (named :rk binding) → filter (case-insensitive
    * contains) → declarative JDBC sink (insert) on Derby, read back. */
  private def qJobJdbcFilter(s: SparkSession, dir: String): DataFrame = {
    import graft.io.JdbcIO
    val url = "jdbc:derby:memory:graftjobq6;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      for (t <- Seq("src_nat", "dst_nat")) {
        try st.execute(s"DROP TABLE $t") catch { case _: Exception => () }
        st.execute(s"""CREATE TABLE $t ("n_nationkey" VARCHAR(20), "n_name" VARCHAR(200), "n_regionkey" VARCHAR(20))""")
      }
    } finally conn.close()
    JdbcIO.write(
      table(s, dir, "nation").select(col("n_nationkey").cast("string"),
        col("n_name"), col("n_regionkey").cast("string")),
      url, "src_nat", JdbcIO.Insert, JdbcIO.Derby)
    val natSchema = fieldsJson("n_nationkey" -> "string", "n_name" -> "string",
      "n_regionkey" -> "string")
    val jobJson =
      s"""{
         |  "name": "jdbc_filter_jdbc",
         |  "components": [
         |    { "name": "r", "comp_type": "read_jdbc", "url": "$url",
         |      "query": "SELECT * FROM src_nat WHERE \\"n_regionkey\\" <> :rk",
         |      "params": { "rk": "4" },
         |      "routes": { "out": [ { "to": "flt", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $natSchema } },
         |    { "name": "flt", "comp_type": "filter",
         |      "rule": { "column": "n_name", "operator": "contains", "value": "ION_1" },
         |      "in_port_schemas": { "in": $natSchema },
         |      "routes": { "pass": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "pass": $natSchema } },
         |    { "name": "w", "comp_type": "write_jdbc", "url": "$url",
         |      "entity_name": "dst_nat", "if_exists": "insert", "dialect": "derby",
         |      "in_port_schemas": { "in": $natSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    JdbcIO.read(s, url, table = Some("dst_nat"))
      .orderBy(col("n_nationkey").cast("long"))
  }

  /** Combination job (database write-mode e2e shape,
    * mariadb_write.py:58-74): TWO declarative jobs against one Derby
    * table — job A drives `write_jdbc if_exists=upsert` (key-merge:
    * seeded OLD_ rows overwritten, unseen keys inserted, out-of-range
    * seeds untouched), job B drives `if_exists=update` with
    * where_conditions (no insert-if-missing). The readback is the table
    * after both, so the oracle must reproduce upsert-then-update. */
  private def qJobJdbcUpsert(s: SparkSession, dir: String): DataFrame = {
    import graft.io.JdbcIO
    val url = "jdbc:derby:memory:graftjobup;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      for (t <- Seq("src_up", "dst_up")) {
        try st.execute(s"DROP TABLE $t") catch { case _: Exception => () }
      }
      st.execute("""CREATE TABLE src_up ("n_nationkey" VARCHAR(20), "n_name" VARCHAR(200))""")
      st.execute("""CREATE TABLE dst_up ("n_nationkey" VARCHAR(20) PRIMARY KEY, "n_name" VARCHAR(200))""")
      // seeds: keys 0-4 get overwritten by the upsert, 90/91 must survive
      for (k <- 0 to 4) st.execute(s"INSERT INTO dst_up VALUES ('$k', 'OLD_$k')")
      for (k <- Seq(90, 91)) st.execute(s"INSERT INTO dst_up VALUES ('$k', 'SEED_$k')")
    } finally conn.close()
    JdbcIO.write(
      table(s, dir, "nation").select(col("n_nationkey").cast("string"),
        col("n_name")),
      url, "src_up", JdbcIO.Insert, JdbcIO.Derby)
    val natSchema = fieldsJson("n_nationkey" -> "string", "n_name" -> "string")
    def job(name: String, srcQuery: String, sinkExtra: String) =
      s"""{
         |  "name": "$name",
         |  "components": [
         |    { "name": "r", "comp_type": "read_jdbc", "url": "$url",
         |      "query": "$srcQuery",
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $natSchema } },
         |    { "name": "w", "comp_type": "write_jdbc", "url": "$url",
         |      "entity_name": "dst_up", "dialect": "derby", $sinkExtra
         |      "in_port_schemas": { "in": $natSchema } }
         |  ]
         |}""".stripMargin
    val upsertJob = job("jdbc_upsert",
      """SELECT * FROM src_up WHERE CAST(\"n_nationkey\" AS INT) < 8""",
      """"if_exists": "upsert", "key_fields": ["n_nationkey"],""")
    val updateJob = job("jdbc_update",
      """SELECT \"n_nationkey\", 'UPD' AS \"n_name\" FROM src_up WHERE CAST(\"n_nationkey\" AS INT) < 3""",
      """"if_exists": "update", "where_conditions": ["n_nationkey"],""")
    for (j <- Seq(upsertJob, updateJob)) {
      val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(j))
      built.runSinks()
      built.close()
    }
    JdbcIO.read(s, url, table = Some("dst_up"))
      .orderBy(col("n_nationkey").cast("long"))
  }

  /** Combination job (mongodb_write.py:32-44 upsert/update): job A
    * upserts nation-derived docs into a seeded collection by key_fields
    * ($set merge: seeded 0-4 overwritten, 5-7 inserted, out-of-range
    * seed 9 untouched); job B runs `if_exists=update` restricted to
    * update_fields, so only `w` changes and `v` proves no-merge. The
    * `sql` component manufactures the constant columns declaratively. */
  private def qJobMongoUpsert(s: SparkSession, dir: String): DataFrame = {
    import graft.io.MongoIO
    MongoIO.InMemoryStores.drop("upstore")
    import s.implicits._
    MongoIO.write(
      ((0 to 4).map(k => (k.toString, s"OLD_$k", s"seed_$k")) :+
        (("9", "OLD_9", "seed_9"))).toDF("k", "v", "w"),
      MongoIO.InMemory("upstore"), "t", "insert")
    val natSchema = fieldsJson("n_nationkey" -> "integer", "n_name" -> "string",
      "n_regionkey" -> "integer")
    val kvwSchema = fieldsJson("k" -> "string", "v" -> "string", "w" -> "string")
    val kwSchema = fieldsJson("k" -> "string", "w" -> "string")
    def job(name: String, sql: String, outSchema: String, sinkExtra: String) =
      s"""{
         |  "name": "$name",
         |  "components": [
         |    { "name": "r", "comp_type": "read_parquet",
         |      "filepath": "$dir/nation.parquet",
         |      "routes": { "out": [ { "to": "q", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $natSchema } },
         |    { "name": "q", "comp_type": "sql", "query": "$sql",
         |      "in_port_schemas": { "in": $natSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $outSchema } },
         |    { "name": "w", "comp_type": "write_mongodb", "store": "upstore",
         |      "entity_name": "t", $sinkExtra
         |      "in_port_schemas": { "in": $outSchema } }
         |  ]
         |}""".stripMargin
    val upsertJob = job("mongo_upsert",
      "SELECT CAST(n_nationkey AS STRING) AS k, n_name AS v, 'nat' AS w " +
        "FROM q_in WHERE n_nationkey < 8",
      kvwSchema, """"if_exists": "upsert", "key_fields": ["k"],""")
    val updateJob = job("mongo_update",
      "SELECT CAST(n_nationkey AS STRING) AS k, 'UPD' AS w " +
        "FROM q_in WHERE n_nationkey < 3",
      kwSchema,
      """"if_exists": "update", "key_fields": ["k"], "update_fields": ["w"],""")
    for (j <- Seq(upsertJob, updateJob)) {
      val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(j))
      built.runSinks()
      built.close()
    }
    MongoIO.read(s, MongoIO.InMemory("upstore"), "t",
      Seq(graft.schema.FieldDef("k", graft.schema.GraftType.TString, nullable = true),
        graft.schema.FieldDef("v", graft.schema.GraftType.TString, nullable = true),
        graft.schema.FieldDef("w", graft.schema.GraftType.TString, nullable = true)))
      .orderBy(col("k"))
  }

  /** Combination job: parquet documents → text_analysis component →
    * filter on a COMPUTED column (n_tokens) → aggregation by the
    * predicted language → parquet sink. Exercises the scale operators as
    * mid-pipeline declarative citizens. */
  private def qJobTextFilterAgg(s: SparkSession, dir: String): DataFrame = {
    val outDir = s"$tmpRoot/job_out_textagg"
    val docSchema = fieldsJson("doc_id" -> "integer", "text" -> "string",
      "lang" -> "string", "source" -> "string", "n_chars" -> "integer")
    val taSchema = fieldsJson("doc_id" -> "integer", "text" -> "string",
      "lang" -> "string", "source" -> "string", "n_chars" -> "integer",
      "n_tokens" -> "integer", "n_tokens_bpe" -> "integer",
      "punct_ratio" -> "float", "stopword_ratio" -> "float",
      "quality" -> "float", "lang_pred" -> "string", "fingerprint" -> "string")
    val aggSchema = fieldsJson("lang_pred" -> "string",
      "n_docs" -> "integer", "sum_tokens" -> "integer")
    val jobJson =
      s"""{
         |  "name": "text_filter_agg",
         |  "components": [
         |    { "name": "r", "comp_type": "read_parquet",
         |      "filepath": "$dir/documents.parquet",
         |      "routes": { "out": [ { "to": "ta", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $docSchema } },
         |    { "name": "ta", "comp_type": "text_analysis", "text_column": "text",
         |      "in_port_schemas": { "in": $docSchema },
         |      "routes": { "out": [ { "to": "flt", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $taSchema } },
         |    { "name": "flt", "comp_type": "filter",
         |      "rule": { "column": "n_tokens", "operator": ">", "value": 50 },
         |      "in_port_schemas": { "in": $taSchema },
         |      "routes": { "pass": [ { "to": "agg", "in_port": "in" } ] },
         |      "out_port_schemas": { "pass": $taSchema } },
         |    { "name": "agg", "comp_type": "aggregation",
         |      "group_by": ["lang_pred"],
         |      "aggregations": [
         |        { "src": "*", "op": "count", "dest": "n_docs" },
         |        { "src": "n_tokens", "op": "sum", "dest": "sum_tokens" } ],
         |      "in_port_schemas": { "in": $taSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $aggSchema } },
         |    { "name": "w", "comp_type": "write_parquet", "filepath": "$outDir",
         |      "in_port_schemas": { "in": $aggSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    readBack(s, built, outDir).orderBy(col("lang_pred"))
  }

  /** Delete a file or directory tree (append-sink queries reset their
    * target so each invocation is self-contained across bench reps). */
  private def deletePath(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
      finally walk.close()
    }
  }

  /** Row-append family, CSV sink (reference csv_helper.py:42-52: header
    * written iff the file is empty): the SAME declarative job shape runs
    * TWICE with `append=true` — batch 1 filters n_regionkey <= 1, batch 2
    * the complement — and the readback must contain batch1+batch2, i.e.
    * every nation exactly once. */
  private def qJobAppendCsv(s: SparkSession, dir: String): DataFrame = {
    val outDir = s"$tmpRoot/job_out_append_csv"
    deletePath(outDir)
    val natSchema = fieldsJson("n_nationkey" -> "integer", "n_name" -> "string",
      "n_regionkey" -> "integer")
    def job(op: String, v: Int) =
      s"""{
         |  "name": "append_csv_batch",
         |  "components": [
         |    { "name": "r", "comp_type": "read_parquet",
         |      "filepath": "$dir/nation.parquet",
         |      "routes": { "out": [ { "to": "flt", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $natSchema } },
         |    { "name": "flt", "comp_type": "filter",
         |      "rule": { "column": "n_regionkey", "operator": "$op", "value": $v },
         |      "in_port_schemas": { "in": $natSchema },
         |      "routes": { "pass": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "pass": $natSchema } },
         |    { "name": "w", "comp_type": "write_csv", "filepath": "$outDir",
         |      "append": true, "single_file": false,
         |      "in_port_schemas": { "in": $natSchema } }
         |  ]
         |}""".stripMargin
    for (j <- Seq(job("<=", 1), job(">", 1))) {
      val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(j))
      built.runSinks()
      built.close()
    }
    graft.io.CsvIO.read(s, outDir).orderBy(col("n_nationkey").cast("long"))
  }

  /** Row-append family, JSON ARRAY sink (reference json_receiver.py:248-259:
    * array append is an atomic read-modify-write of one document): two
    * declarative batches with `append=true`; the readback array must hold
    * both batches. */
  private def qJobAppendJson(s: SparkSession, dir: String): DataFrame = {
    val out = s"$tmpRoot/job_out_append.json"
    deletePath(out)
    val supSchema = fieldsJson("s_suppkey" -> "integer", "s_name" -> "string",
      "s_nationkey" -> "integer", "s_acctbal" -> "float")
    val prjSchema = fieldsJson("s_suppkey" -> "integer", "s_name" -> "string")
    def job(op: String, v: Int) =
      s"""{
         |  "name": "append_json_batch",
         |  "components": [
         |    { "name": "r", "comp_type": "read_parquet",
         |      "filepath": "$dir/supplier.parquet",
         |      "routes": { "out": [ { "to": "flt", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $supSchema } },
         |    { "name": "flt", "comp_type": "filter",
         |      "rule": { "column": "s_suppkey", "operator": "$op", "value": $v },
         |      "in_port_schemas": { "in": $supSchema },
         |      "routes": { "pass": [ { "to": "map", "in_port": "in" } ] },
         |      "out_port_schemas": { "pass": $supSchema } },
         |    { "name": "map", "comp_type": "schema_mapping",
         |      "extra_input_ports": ["in"],
         |      "rules_by_dest": { "out": {
         |        "s_suppkey": { "src_port": "in", "src_path": "s_suppkey" },
         |        "s_name":    { "src_port": "in", "src_path": "s_name" } } },
         |      "in_port_schemas": { "in": $supSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $prjSchema } },
         |    { "name": "w", "comp_type": "write_json", "filepath": "$out",
         |      "format": "array", "append": true,
         |      "in_port_schemas": { "in": $prjSchema } }
         |  ]
         |}""".stripMargin
    for (j <- Seq(job("<=", 50), job(">", 50))) {
      val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(j))
      built.runSinks()
      built.close()
    }
    import org.apache.spark.sql.types._
    graft.io.JsonIO.read(s, out, Some(StructType(Seq(
      StructField("s_suppkey", LongType), StructField("s_name", StringType)))),
      multiLine = true)
      .orderBy(col("s_suppkey"))
  }

  /** Row-append family, XML sink (reference xml_helper.py:300-377: insert
    * before the closing root tag): two declarative batches with
    * `append=true`; the readback document must hold both. */
  private def qJobAppendXml(s: SparkSession, dir: String): DataFrame = {
    val out = s"$tmpRoot/job_out_append_xml"
    deletePath(out)
    val natSchema = fieldsJson("n_nationkey" -> "integer", "n_name" -> "string",
      "n_regionkey" -> "integer")
    def job(op: String, v: Int) =
      s"""{
         |  "name": "append_xml_batch",
         |  "components": [
         |    { "name": "r", "comp_type": "read_parquet",
         |      "filepath": "$dir/nation.parquet",
         |      "routes": { "out": [ { "to": "flt", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $natSchema } },
         |    { "name": "flt", "comp_type": "filter",
         |      "rule": { "column": "n_regionkey", "operator": "$op", "value": $v },
         |      "in_port_schemas": { "in": $natSchema },
         |      "routes": { "pass": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "pass": $natSchema } },
         |    { "name": "w", "comp_type": "write_xml", "filepath": "$out",
         |      "root_tag": "nations", "record_tag": "nation", "append": true,
         |      "in_port_schemas": { "in": $natSchema } }
         |  ]
         |}""".stripMargin
    for (j <- Seq(job("<=", 1), job(">", 1))) {
      val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(j))
      built.runSinks()
      built.close()
    }
    graft.io.XmlIO.read(s, out, "nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .orderBy(col("n_nationkey").cast("long"))
  }

  /** Partitioned parquet sink from config (beyond the reference's surface;
    * the 100 TB layout lever): orders land Hive-partitioned by
    * o_orderstatus, and the readback filters one partition — plan-time
    * pruning (PartitionFilters), pinned structurally in
    * JobComponentsSpec — then aggregates by priority. */
  private def qJobPartitioned(s: SparkSession, dir: String): DataFrame = {
    val outDir = s"$tmpRoot/job_out_partitioned"
    val ordSchema = fieldsJson("o_orderkey" -> "integer", "o_custkey" -> "integer",
      "o_orderstatus" -> "string", "o_totalprice" -> "float",
      "o_orderdate" -> "string", "o_orderpriority" -> "string")
    val jobJson =
      s"""{
         |  "name": "partitioned_sink",
         |  "components": [
         |    { "name": "r", "comp_type": "read_parquet",
         |      "filepath": "$dir/orders.parquet",
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $ordSchema } },
         |    { "name": "w", "comp_type": "write_parquet", "filepath": "$outDir",
         |      "partition_by": ["o_orderstatus"],
         |      "in_port_schemas": { "in": $ordSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    s.read.parquet(outDir)
      .filter(col("o_orderstatus") === "F") // prunes to the F directory
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), max(col("o_totalprice")).as("max_price"))
      .orderBy(col("o_orderpriority"))
  }

  /** Row-append family, Excel sink (reference excel_helper.py:192-217:
    * append keeps header row 1): two declarative batches with
    * `append=true`; the sheet readback must hold both. */
  private def qJobAppendExcel(s: SparkSession, dir: String): DataFrame = {
    val out = s"$tmpRoot/job_out_append.xlsx"
    deletePath(out)
    val natSchema = fieldsJson("n_nationkey" -> "integer", "n_name" -> "string",
      "n_regionkey" -> "integer")
    def job(op: String, v: Int) =
      s"""{
         |  "name": "append_excel_batch",
         |  "components": [
         |    { "name": "r", "comp_type": "read_parquet",
         |      "filepath": "$dir/nation.parquet",
         |      "routes": { "out": [ { "to": "flt", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $natSchema } },
         |    { "name": "flt", "comp_type": "filter",
         |      "rule": { "column": "n_regionkey", "operator": "$op", "value": $v },
         |      "in_port_schemas": { "in": $natSchema },
         |      "routes": { "pass": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "pass": $natSchema } },
         |    { "name": "w", "comp_type": "write_excel", "filepath": "$out",
         |      "sheet_name": "nations", "append": true,
         |      "in_port_schemas": { "in": $natSchema } }
         |  ]
         |}""".stripMargin
    for (j <- Seq(job("<=", 1), job(">", 1))) {
      val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(j))
      built.runSinks()
      built.close()
    }
    graft.io.ExcelIO.read(s, out, Some("nations"))
      .orderBy(col("n_nationkey").cast("long"))
  }

  /** Mapping-family job with a 3-input CHAINED join plan (reference
    * tests/combinations_jobs/mapping/csv_bulk_join_inner_csv.json family;
    * chaining semantics join_rules.py:17-38): step 1 joins orders⋈customer
    * into port "oc", step 2 joins THAT output against nation — a step's
    * output_port feeding a later step's left_port — and map rules prune
    * the final port to the declared schema. */
  private def qJobJoin3(s: SparkSession, dir: String): DataFrame = {
    val outDir = s"$tmpRoot/job_out_join3"
    val ordSchema = fieldsJson("o_orderkey" -> "integer", "o_custkey" -> "integer",
      "o_orderstatus" -> "string", "o_totalprice" -> "float",
      "o_orderdate" -> "string", "o_orderpriority" -> "string")
    val custSchema = fieldsJson("c_custkey" -> "integer", "c_name" -> "string",
      "c_nationkey" -> "integer", "c_acctbal" -> "float", "c_mktsegment" -> "string")
    val natSchema = fieldsJson("n_nationkey" -> "integer", "n_name" -> "string",
      "n_regionkey" -> "integer")
    val outSchema = fieldsJson("order_id" -> "integer", "cust" -> "string",
      "nation" -> "string", "price" -> "float")
    val jobJson =
      s"""{
         |  "name": "join3_chain",
         |  "components": [
         |    { "name": "ord", "comp_type": "read_parquet",
         |      "filepath": "$dir/orders.parquet",
         |      "routes": { "out": [ { "to": "sm", "in_port": "orders" } ] },
         |      "out_port_schemas": { "out": $ordSchema } },
         |    { "name": "cust", "comp_type": "read_parquet",
         |      "filepath": "$dir/customer.parquet",
         |      "routes": { "out": [ { "to": "sm", "in_port": "customer" } ] },
         |      "out_port_schemas": { "out": $custSchema } },
         |    { "name": "nat", "comp_type": "read_parquet",
         |      "filepath": "$dir/nation.parquet",
         |      "routes": { "out": [ { "to": "sm", "in_port": "nation" } ] },
         |      "out_port_schemas": { "out": $natSchema } },
         |    { "name": "sm", "comp_type": "schema_mapping",
         |      "join_plan": { "steps": [
         |        { "left_port": "orders", "right_port": "customer",
         |          "left_on": ["o_custkey"], "right_on": ["c_custkey"],
         |          "how": "inner", "output_port": "oc" },
         |        { "left_port": "oc", "right_port": "nation",
         |          "left_on": ["c_nationkey"], "right_on": ["n_nationkey"],
         |          "how": "inner", "output_port": "ocn" } ] },
         |      "rules_by_dest": { "out": {
         |        "order_id": { "src_port": "ocn", "src_path": "o_orderkey" },
         |        "cust":     { "src_port": "ocn", "src_path": "c_name" },
         |        "nation":   { "src_port": "ocn", "src_path": "n_name" },
         |        "price":    { "src_port": "ocn", "src_path": "o_totalprice" } } },
         |      "in_port_schemas": { "orders": $ordSchema, "customer": $custSchema,
         |                           "nation": $natSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $outSchema } },
         |    { "name": "w", "comp_type": "write_parquet", "filepath": "$outDir",
         |      "in_port_schemas": { "in": $outSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    readBack(s, built, outDir).orderBy(col("order_id"))
  }

  /** Mapping-family job, `how: left` (reference
    * tests/combinations_jobs/mapping/csv_bulk_join_left_csv.json): customer
    * LEFT orders from JSON config, then an aggregation whose count(src)
    * vs count(*) split pins the null-extension semantics declaratively —
    * customers without orders survive with n_orders=0. */
  private def qJobJoinLeft(s: SparkSession, dir: String): DataFrame = {
    val outDir = s"$tmpRoot/job_out_joinleft"
    val custSchema = fieldsJson("c_custkey" -> "integer", "c_name" -> "string",
      "c_nationkey" -> "integer", "c_acctbal" -> "float", "c_mktsegment" -> "string")
    val ordSchema = fieldsJson("o_orderkey" -> "integer", "o_custkey" -> "integer",
      "o_orderstatus" -> "string", "o_totalprice" -> "float",
      "o_orderdate" -> "string", "o_orderpriority" -> "string")
    val mapSchema = fieldsJson("c_custkey" -> "integer", "o_orderkey" -> "integer")
    val aggSchema = fieldsJson("c_custkey" -> "integer",
      "n_orders" -> "integer", "n_rows" -> "integer")
    val jobJson =
      s"""{
         |  "name": "join_left_agg",
         |  "components": [
         |    { "name": "cust", "comp_type": "read_parquet",
         |      "filepath": "$dir/customer.parquet",
         |      "routes": { "out": [ { "to": "sm", "in_port": "customer" } ] },
         |      "out_port_schemas": { "out": $custSchema } },
         |    { "name": "ord", "comp_type": "read_parquet",
         |      "filepath": "$dir/orders.parquet",
         |      "routes": { "out": [ { "to": "sm", "in_port": "orders" } ] },
         |      "out_port_schemas": { "out": $ordSchema } },
         |    { "name": "sm", "comp_type": "schema_mapping",
         |      "join_plan": { "steps": [
         |        { "left_port": "customer", "right_port": "orders",
         |          "left_on": ["c_custkey"], "right_on": ["o_custkey"],
         |          "how": "left", "output_port": "co" } ] },
         |      "rules_by_dest": { "out": {
         |        "c_custkey":  { "src_port": "co", "src_path": "c_custkey" },
         |        "o_orderkey": { "src_port": "co", "src_path": "o_orderkey" } } },
         |      "in_port_schemas": { "customer": $custSchema, "orders": $ordSchema },
         |      "routes": { "out": [ { "to": "agg", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $mapSchema } },
         |    { "name": "agg", "comp_type": "aggregation",
         |      "group_by": ["c_custkey"],
         |      "aggregations": [
         |        { "src": "o_orderkey", "op": "count", "dest": "n_orders" },
         |        { "src": "*", "op": "count", "dest": "n_rows" } ],
         |      "in_port_schemas": { "in": $mapSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $aggSchema } },
         |    { "name": "w", "comp_type": "write_parquet", "filepath": "$outDir",
         |      "in_port_schemas": { "in": $aggSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    readBack(s, built, outDir).orderBy(col("c_custkey"))
  }

  /** Mapping-family job, `how: right` (reference
    * tests/combinations_jobs/mapping/csv_bulk_join_right_csv.json):
    * orders RIGHT customer — the mirror of q_job_join_left, keeping every
    * customer; the shared oracle shape proves right(A,B) == left(B,A). */
  private def qJobJoinRight(s: SparkSession, dir: String): DataFrame = {
    val outDir = s"$tmpRoot/job_out_joinright"
    val custSchema = fieldsJson("c_custkey" -> "integer", "c_name" -> "string",
      "c_nationkey" -> "integer", "c_acctbal" -> "float", "c_mktsegment" -> "string")
    val ordSchema = fieldsJson("o_orderkey" -> "integer", "o_custkey" -> "integer",
      "o_orderstatus" -> "string", "o_totalprice" -> "float",
      "o_orderdate" -> "string", "o_orderpriority" -> "string")
    val mapSchema = fieldsJson("c_custkey" -> "integer", "o_orderkey" -> "integer")
    val aggSchema = fieldsJson("c_custkey" -> "integer",
      "n_orders" -> "integer", "n_rows" -> "integer")
    val jobJson =
      s"""{
         |  "name": "join_right_agg",
         |  "components": [
         |    { "name": "ord", "comp_type": "read_parquet",
         |      "filepath": "$dir/orders.parquet",
         |      "routes": { "out": [ { "to": "sm", "in_port": "orders" } ] },
         |      "out_port_schemas": { "out": $ordSchema } },
         |    { "name": "cust", "comp_type": "read_parquet",
         |      "filepath": "$dir/customer.parquet",
         |      "routes": { "out": [ { "to": "sm", "in_port": "customer" } ] },
         |      "out_port_schemas": { "out": $custSchema } },
         |    { "name": "sm", "comp_type": "schema_mapping",
         |      "join_plan": { "steps": [
         |        { "left_port": "orders", "right_port": "customer",
         |          "left_on": ["o_custkey"], "right_on": ["c_custkey"],
         |          "how": "right", "output_port": "oc" } ] },
         |      "rules_by_dest": { "out": {
         |        "c_custkey":  { "src_port": "oc", "src_path": "c_custkey" },
         |        "o_orderkey": { "src_port": "oc", "src_path": "o_orderkey" } } },
         |      "in_port_schemas": { "orders": $ordSchema, "customer": $custSchema },
         |      "routes": { "out": [ { "to": "agg", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $mapSchema } },
         |    { "name": "agg", "comp_type": "aggregation",
         |      "group_by": ["c_custkey"],
         |      "aggregations": [
         |        { "src": "o_orderkey", "op": "count", "dest": "n_orders" },
         |        { "src": "*", "op": "count", "dest": "n_rows" } ],
         |      "in_port_schemas": { "in": $mapSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $aggSchema } },
         |    { "name": "w", "comp_type": "write_parquet", "filepath": "$outDir",
         |      "in_port_schemas": { "in": $aggSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    readBack(s, built, outDir).orderBy(col("c_custkey"))
  }

  /** Mapping-family job, `how: outer` (reference
    * tests/combinations_jobs/mapping/csv_bulk_join_outer_csv.json): two
    * OVERLAPPING nation slices (keys 0-14 and 10-24) full-outer-joined
    * from JSON config, so the result has left-only, right-only and
    * matched rows — each region pinned by which side's name survives. */
  private def qJobJoinOuter(s: SparkSession, dir: String): DataFrame = {
    val outDir = s"$tmpRoot/job_out_joinouter"
    val natSchema = fieldsJson("n_nationkey" -> "integer", "n_name" -> "string",
      "n_regionkey" -> "integer")
    val loSchema = fieldsJson("lk" -> "integer", "lname" -> "string")
    val hiSchema = fieldsJson("hk" -> "integer", "hname" -> "string")
    val outSchema = fieldsJson("lk" -> "integer", "lname" -> "string",
      "hk" -> "integer", "hname" -> "string")
    val jobJson =
      s"""{
         |  "name": "join_outer",
         |  "components": [
         |    { "name": "nat", "comp_type": "read_parquet",
         |      "filepath": "$dir/nation.parquet",
         |      "routes": { "out": [ { "to": "sp", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $natSchema } },
         |    { "name": "sp", "comp_type": "split",
         |      "extra_output_ports": ["a", "b"],
         |      "in_port_schemas": { "in": $natSchema },
         |      "routes": { "a": [ { "to": "fl", "in_port": "in" } ],
         |                  "b": [ { "to": "fh", "in_port": "in" } ] },
         |      "out_port_schemas": { "a": $natSchema, "b": $natSchema } },
         |    { "name": "fl", "comp_type": "filter",
         |      "rule": { "column": "n_nationkey", "operator": "<", "value": 15 },
         |      "in_port_schemas": { "in": $natSchema },
         |      "routes": { "pass": [ { "to": "ml", "in_port": "in" } ] },
         |      "out_port_schemas": { "pass": $natSchema } },
         |    { "name": "fh", "comp_type": "filter",
         |      "rule": { "column": "n_nationkey", "operator": ">=", "value": 10 },
         |      "in_port_schemas": { "in": $natSchema },
         |      "routes": { "pass": [ { "to": "mh", "in_port": "in" } ] },
         |      "out_port_schemas": { "pass": $natSchema } },
         |    { "name": "ml", "comp_type": "schema_mapping",
         |      "extra_input_ports": ["in"],
         |      "rules_by_dest": { "out": {
         |        "lk":    { "src_port": "in", "src_path": "n_nationkey" },
         |        "lname": { "src_port": "in", "src_path": "n_name" } } },
         |      "in_port_schemas": { "in": $natSchema },
         |      "routes": { "out": [ { "to": "sm", "in_port": "lo" } ] },
         |      "out_port_schemas": { "out": $loSchema } },
         |    { "name": "mh", "comp_type": "schema_mapping",
         |      "extra_input_ports": ["in"],
         |      "rules_by_dest": { "out": {
         |        "hk":    { "src_port": "in", "src_path": "n_nationkey" },
         |        "hname": { "src_port": "in", "src_path": "n_name" } } },
         |      "in_port_schemas": { "in": $natSchema },
         |      "routes": { "out": [ { "to": "sm", "in_port": "hi" } ] },
         |      "out_port_schemas": { "out": $hiSchema } },
         |    { "name": "sm", "comp_type": "schema_mapping",
         |      "join_plan": { "steps": [
         |        { "left_port": "lo", "right_port": "hi",
         |          "left_on": ["lk"], "right_on": ["hk"],
         |          "how": "outer", "output_port": "out" } ] },
         |      "in_port_schemas": { "lo": $loSchema, "hi": $hiSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $outSchema } },
         |    { "name": "w", "comp_type": "write_parquet", "filepath": "$outDir",
         |      "in_port_schemas": { "in": $outSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    readBack(s, built, outDir)
      .orderBy(col("lk").asc_nulls_last, col("hk").asc_nulls_last)
  }

  /** Mongo-family single-config job (reference
    * tests/combinations_jobs/mongodb/mongo_bulk_join_people_orders.json):
    * TWO mongo collections join declaratively and the result lands back
    * in a third mongo collection — source, join plan and sink all in one
    * config, the shape COVERAGE.md row 37 previously called composite. */
  private def qJobMongoJoin(s: SparkSession, dir: String): DataFrame = {
    import graft.io.MongoIO
    MongoIO.InMemoryStores.drop("q_job_mongo_join")
    val factory = MongoIO.InMemory("q_job_mongo_join")
    MongoIO.write(
      table(s, dir, "customer").select(col("c_custkey"), col("c_name"),
        col("c_nationkey")),
      factory, "people", "truncate")
    MongoIO.write(
      table(s, dir, "nation").select(col("n_nationkey"), col("n_name")),
      factory, "nations", "truncate")
    val peopleSchema = fieldsJson("c_custkey" -> "integer", "c_name" -> "string",
      "c_nationkey" -> "integer")
    val natSchema = fieldsJson("n_nationkey" -> "integer", "n_name" -> "string")
    val outSchema = fieldsJson("cust" -> "string", "nation" -> "string")
    val jobJson =
      s"""{
         |  "name": "mongo_join_mongo",
         |  "components": [
         |    { "name": "rp", "comp_type": "read_mongodb",
         |      "store": "q_job_mongo_join", "entity_name": "people",
         |      "split_key": "c_custkey",
         |      "routes": { "out": [ { "to": "sm", "in_port": "people" } ] },
         |      "out_port_schemas": { "out": $peopleSchema } },
         |    { "name": "rn", "comp_type": "read_mongodb",
         |      "store": "q_job_mongo_join", "entity_name": "nations",
         |      "routes": { "out": [ { "to": "sm", "in_port": "nations" } ] },
         |      "out_port_schemas": { "out": $natSchema } },
         |    { "name": "sm", "comp_type": "schema_mapping",
         |      "join_plan": { "steps": [
         |        { "left_port": "people", "right_port": "nations",
         |          "left_on": ["c_nationkey"], "right_on": ["n_nationkey"],
         |          "how": "inner", "output_port": "pn" } ] },
         |      "rules_by_dest": { "out": {
         |        "cust":   { "src_port": "pn", "src_path": "c_name" },
         |        "nation": { "src_port": "pn", "src_path": "n_name" } } },
         |      "in_port_schemas": { "people": $peopleSchema, "nations": $natSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $outSchema } },
         |    { "name": "w", "comp_type": "write_mongodb",
         |      "store": "q_job_mongo_join", "entity_name": "joined",
         |      "if_exists": "truncate",
         |      "in_port_schemas": { "in": $outSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    MongoIO.read(s, factory, "joined",
      Seq(graft.schema.FieldDef("cust", graft.schema.GraftType.TString, nullable = true),
        graft.schema.FieldDef("nation", graft.schema.GraftType.TString, nullable = true)))
      .orderBy(col("cust"), col("nation"))
  }

  /** Mixed-family job crossing three subsystem boundaries in ONE config
    * (reference tests/combinations_jobs/mixed/): mongo source (range-
    * partitioned read) → schema_mapping map-mode rename → Excel sink; the
    * result is the Excel readback. */
  private def qJobMongoExcel(s: SparkSession, dir: String): DataFrame = {
    import graft.io.MongoIO
    val out = s"$tmpRoot/job_mongo_excel.xlsx"
    deletePath(out)
    MongoIO.InMemoryStores.drop("q_job_mongo_excel")
    val factory = MongoIO.InMemory("q_job_mongo_excel")
    MongoIO.write(
      table(s, dir, "customer").select(col("c_custkey"), col("c_name"),
        col("c_mktsegment")),
      factory, "customers", "truncate")
    val custSchema = fieldsJson("c_custkey" -> "integer", "c_name" -> "string",
      "c_mktsegment" -> "string")
    val outSchema = fieldsJson("cust_id" -> "integer", "name" -> "string",
      "segment" -> "string")
    val jobJson =
      s"""{
         |  "name": "mongo_map_excel",
         |  "components": [
         |    { "name": "r", "comp_type": "read_mongodb",
         |      "store": "q_job_mongo_excel", "entity_name": "customers",
         |      "split_key": "c_custkey",
         |      "routes": { "out": [ { "to": "map", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $custSchema } },
         |    { "name": "map", "comp_type": "schema_mapping",
         |      "extra_input_ports": ["in"],
         |      "rules_by_dest": { "out": {
         |        "cust_id": { "src_port": "in", "src_path": "c_custkey" },
         |        "name":    { "src_port": "in", "src_path": "c_name" },
         |        "segment": { "src_port": "in", "src_path": "c_mktsegment" } } },
         |      "in_port_schemas": { "in": $custSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $outSchema } },
         |    { "name": "w", "comp_type": "write_excel", "filepath": "$out",
         |      "sheet_name": "mapped",
         |      "in_port_schemas": { "in": $outSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    graft.io.ExcelIO.read(s, out, Some("mapped"))
      .orderBy(col("cust_id").cast("long"))
  }

  // ------------------------------------------------------------------ dedup

  private def qDedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(table(s, dir, "documents"), "text", "doc_id")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))

  private def qDedupFingerprint(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .groupBy(TextAnalysis.fingerprint(col("text")).as("fingerprint"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
      .orderBy(col("fingerprint"))

  /** FIXTURE-SENSITIVITY NOTE: the DuckDB oracle computes EXACT all-pairs
    * Jaccard >= 0.6 while the engine verifies only LSH-banded candidates
    * (the whole point at scale). They agree on the current fixtures
    * because every true near-dup pair sits far from the threshold; a
    * regenerated corpus with a pair at jaccard ~= 0.6 could be missed by
    * all 16 bands with probability ~(1-0.6^2)^16 ~= 0.08% and fail this
    * gate with NO code change. That hazard is now MACHINE-CHECKED:
    * FixtureGuardSpec recomputes the exact all-pairs set over the sf0.01
    * corpus each suite run and asserts (1) the banded pair set equals it
    * and (2) no pair sits within ±0.05 of the threshold — a regeneration
    * that breaks either fails at suite time with the cause named instead
    * of as a mystery gate hash mismatch. If the driver gate alone fires,
    * the diagnosis is LSH recall, not a Jaccard bug — q_dedup_ngram pins
    * the same semantics with a deterministic (recall-free) candidate
    * set. (dedup_embedding has the same guard; dedup_simhash needs none —
    * pigeonhole makes its block-join recall exactly 1.) */
  private def qDedupMinhash(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashDedup(table(s, dir, "documents"), "text", "doc_id",
      shingleN = 5, k = 32, bands = 16, threshold = 0.6)
      .select(col("doc_id"), col("n_chars"))
      .orderBy(col("doc_id"))

  private def qDedupSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashDedup(table(s, dir, "documents"), "text", "doc_id", maxHamming = 3)
      .select(col("doc_id"), col("n_chars"))
      .orderBy(col("doc_id"))

  private def qDedupNgramJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(table(s, dir, "documents"),
      "text", "doc_id", n = 4, threshold = 0.3)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))

  /** Connected components over a deterministic multi-hop graph on the
    * documents ids: chain edges inside each ten-block (diameter 9 —
    * pointer-jump convergence is actually exercised, not just cliques)
    * plus hub edges linking the 20/40/60/80 chain starts to their
    * hundred-block start, giving mixed 50- and 10-member components. The
    * oracle rebuilds the same edges in SQL and closes them with a
    * recursive CTE — the labeling must agree vertex by vertex. */
  private def qCcComponents(s: SparkSession, dir: String): DataFrame = {
    val ids = table(s, dir, "documents").select(col("doc_id"))
    val chain = ids.filter(col("doc_id") % 10 =!= 9)
      .select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
      .join(ids.select(col("doc_id").as("id_b")), Seq("id_b"), "left_semi")
    val hub = ids.filter(col("doc_id") % 20 === 0 && col("doc_id") % 100 =!= 0)
      .select(col("doc_id").as("id_a"),
        (col("doc_id") - col("doc_id") % 100).as("id_b"))
      .join(ids.select(col("doc_id").as("id_b")), Seq("id_b"), "left_semi")
    Dedup.connectedComponents(chain.union(hub))
      .select(col("id").as("doc_id"), col("component"))
      .orderBy(col("doc_id"))
  }

  /** Pair → cluster on REAL near-dup pairs: exact word-4-gram Jaccard
    * pairs (deterministic — no LSH recall caveat) closed into transitive
    * components. Pins the full dedup-clustering story the pairwise
    * survivor rule cannot express (see Dedup.connectedComponents). */
  private def qDedupCluster(s: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(
      Dedup.ngramJaccardPairs(table(s, dir, "documents"), "text", "doc_id",
        n = 4, threshold = 0.3))
      .select(col("id").as("doc_id"), col("component"))
      .orderBy(col("doc_id"))

  /** Combination job: the pair → cluster pipeline fully declarative —
    * read_parquet → dedup(method=ngram, emit=pairs) →
    * connected_components → aggregation (members + min id per cluster;
    * min_doc == component is the label-is-minimum invariant, asserted by
    * the oracle computing both independently) → parquet sink. */
  private def qJobDedupCluster(s: SparkSession, dir: String): DataFrame = {
    val outDir = s"$tmpRoot/job_out_dedupcluster"
    val docSchema = fieldsJson("doc_id" -> "integer", "text" -> "string",
      "lang" -> "string", "source" -> "string", "n_chars" -> "integer")
    val pairSchema = fieldsJson("id_a" -> "integer", "id_b" -> "integer",
      "jaccard" -> "float")
    val ccSchema = fieldsJson("id" -> "integer", "component" -> "integer")
    val aggSchema = fieldsJson("component" -> "integer",
      "n_members" -> "integer", "min_doc" -> "integer")
    val jobJson =
      s"""{
         |  "name": "dedup_cluster_job",
         |  "components": [
         |    { "name": "rc", "comp_type": "read_parquet",
         |      "filepath": "$dir/documents.parquet",
         |      "routes": { "out": [ { "to": "dd", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $docSchema } },
         |    { "name": "dd", "comp_type": "dedup", "method": "ngram",
         |      "emit": "pairs", "id_column": "doc_id", "ngram_n": 4,
         |      "threshold": "0.3",
         |      "in_port_schemas": { "in": $docSchema },
         |      "routes": { "out": [ { "to": "cc", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $pairSchema } },
         |    { "name": "cc", "comp_type": "connected_components",
         |      "in_port_schemas": { "in": $pairSchema },
         |      "routes": { "out": [ { "to": "ag", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $ccSchema } },
         |    { "name": "ag", "comp_type": "aggregation",
         |      "group_by": ["component"],
         |      "aggregations": [
         |        { "src": "*", "op": "count", "dest": "n_members" },
         |        { "src": "id", "op": "min", "dest": "min_doc" } ],
         |      "in_port_schemas": { "in": $ccSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $aggSchema } },
         |    { "name": "w", "comp_type": "write_parquet", "filepath": "$outDir",
         |      "in_port_schemas": { "in": $aggSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    readBack(s, built, outDir)
      .select(col("component"), col("n_members"), col("min_doc"))
      .orderBy(col("component"))
  }

  /** Combination job: `dedup emit=cluster` — transitive-closure dedup in
    * ONE component (q_job_dedup_cluster's 3-component chain collapsed to
    * what a config author actually asks for): keeps the min-id row per
    * connected component, rows in no pair untouched. Same ngram pair
    * machinery as q_dedup_cluster, so the oracle reuses its recursive
    * closure and anti-joins the non-minimal members. */
  private def qJobDedupTransitive(s: SparkSession, dir: String): DataFrame = {
    val outDir = s"$tmpRoot/job_out_dedup_transitive"
    val docSchema = fieldsJson("doc_id" -> "integer", "text" -> "string",
      "lang" -> "string", "source" -> "string", "n_chars" -> "integer")
    val jobJson =
      s"""{
         |  "name": "dedup_transitive_job",
         |  "components": [
         |    { "name": "rc", "comp_type": "read_parquet",
         |      "filepath": "$dir/documents.parquet",
         |      "routes": { "out": [ { "to": "dd", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $docSchema } },
         |    { "name": "dd", "comp_type": "dedup", "method": "ngram",
         |      "emit": "cluster", "id_column": "doc_id", "ngram_n": 4,
         |      "threshold": "0.3",
         |      "in_port_schemas": { "in": $docSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $docSchema } },
         |    { "name": "w", "comp_type": "write_parquet", "filepath": "$outDir",
         |      "in_port_schemas": { "in": $docSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    readBack(s, built, outDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  // 16x10 measured AGAINST 32x12 head-to-head at sf0.1: 2.0 s vs 4.2 s
  // median. At 2k vectors the projection term O(n*dim*bands*r) dominates
  // the background-candidate term O(n^2*bands*2^-r), so fewer planes win;
  // the crossover where wider bands pay is ~100k vectors (see the
  // embeddingNearDups scaladoc for the scaling rule).
  private def qDedupEmbedding(s: SparkSession, dir: String): DataFrame =
    Similarity.embeddingDedup(table(s, dir, "embeddings"), "embedding", "vec_id",
      simThreshold = 0.95, dim = 64, bands = 16, r = 10)
      .select(col("vec_id"), col("label"))
      .orderBy(col("vec_id"))

  // ---------------------------------------------------------- text analysis

  private def qTextStats(s: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    table(s, dir, "documents").select(
      col("doc_id"),
      TextAnalysis.tokenCount(t).as("n_tokens"),
      round(TextAnalysis.punctRatio(t), 6).as("punct_ratio"),
      round(TextAnalysis.stopwordRatio(t), 6).as("stopword_ratio"),
      round(TextAnalysis.meanWordLen(t), 6).as("mean_word_len"),
      TextAnalysis.qualityScore(t).as("quality"))
      .orderBy(col("doc_id"))
  }

  /** The Gopher QUALITY rules (TextAnalysis.gopherRules): every 3rd
    * doc gets bullet lines, every 5th an ellipsis-ended line, every
    * 7th a symbol burst, so each rule flips on a known stratum; the
    * fixture's own 10-99-token spread exercises the word-count bound
    * and its de/es/fr/zh docs the English-stopword rule. Boolean-only
    * output — the ratios never leave the engine (dtype discipline). */
  private def qGopher(s: SparkSession, dir: String): DataFrame = {
    val seeded = table(s, dir, "documents")
      .select(col("doc_id"), concat_ws("\n", col("text"),
        when(col("doc_id") % 3 === 0,
          lit("- bullet one\n- bullet two\n- bullet three")),
        when(col("doc_id") % 5 === 0, lit("to be continued...")),
        when(col("doc_id") % 7 === 0, lit("### ## # ####"))).as("text"))
    TextAnalysis.gopherRules(seeded)
      .select(col("doc_id") +:
        (TextAnalysis.gopherRuleColumns :+ "gopher_pass").map(col): _*)
      .orderBy(col("doc_id"))
  }

  /** Oracle for q_gopher: the boolean replay of the SEVEN rules plus
    * gopher_pass (their conjunction), every ratio
    * kept as an integer-count comparison with ::DOUBLE on both sides
    * (a bare 0.1 literal is DECIMAL in DuckDB — never compare it). */
  private val gopherOracle: String =
    """WITH seeded AS (
      |  SELECT doc_id, concat_ws(chr(10), text,
      |    CASE WHEN doc_id % 3 = 0 THEN '- bullet one' || chr(10) ||
      |      '- bullet two' || chr(10) || '- bullet three' END,
      |    CASE WHEN doc_id % 5 = 0 THEN 'to be continued...' END,
      |    CASE WHEN doc_id % 7 = 0 THEN '### ## # ####' END) AS text
      |  FROM documents),
      |base AS (
      |  SELECT doc_id, text,
      |    CASE WHEN len(trim(text)) = 0 THEN 0
      |         ELSE len(string_split_regex(trim(text), '\s+')) END AS n,
      |    len(regexp_replace(trim(text), '\s+', '', 'g')) AS n_nonspace,
      |    len(text) - len(replace(text, '#', '')) AS n_hash,
      |    len(regexp_extract_all(text, '(\.\.\.|…)')) AS n_ell,
      |    len(str_split(text, chr(10))) AS n_lines,
      |    len(regexp_extract_all(text, '(?m)^[ \t]*[-*•‣▪]')) AS n_bullet,
      |    len(regexp_extract_all(text, '(?m)(\.\.\.|…)[ \t]*$')) AS n_ell_end,
      |    len(list_filter(string_split_regex(trim(text), '\s+'),
      |      x -> regexp_matches(x, '\p{L}'))) AS n_alpha,
      |    (SELECT sum(list_contains(string_split_regex(lower(trim(text)), '\s+'), w)::INT)
      |     FROM unnest(['the','be','to','of','and','that','have','with']) AS u(w)
      |    ) AS stop_hits
      |  FROM seeded)
      |SELECT doc_id,
      |  (n >= 50 AND n <= 100000) AS g_word_count,
      |  (n > 0 AND n_nonspace::DOUBLE / n::DOUBLE >= 3.0::DOUBLE
      |         AND n_nonspace::DOUBLE / n::DOUBLE <= 10.0::DOUBLE)
      |    AS g_mean_word_len,
      |  (n > 0 AND (n_hash + n_ell)::DOUBLE <= 0.1::DOUBLE * n)
      |    AS g_symbol_ratio,
      |  (n_bullet::DOUBLE <= 0.9::DOUBLE * n_lines) AS g_bullet_lines,
      |  (n_ell_end::DOUBLE <= 0.3::DOUBLE * n_lines) AS g_ellipsis_lines,
      |  (n > 0 AND n_alpha::DOUBLE >= 0.8::DOUBLE * n) AS g_alpha_words,
      |  (stop_hits >= 2) AS g_stopwords,
      |  ((n >= 50 AND n <= 100000)
      |   AND (n > 0 AND n_nonspace::DOUBLE / n::DOUBLE >= 3.0::DOUBLE
      |              AND n_nonspace::DOUBLE / n::DOUBLE <= 10.0::DOUBLE)
      |   AND (n > 0 AND (n_hash + n_ell)::DOUBLE <= 0.1::DOUBLE * n)
      |   AND (n_bullet::DOUBLE <= 0.9::DOUBLE * n_lines)
      |   AND (n_ell_end::DOUBLE <= 0.3::DOUBLE * n_lines)
      |   AND (n > 0 AND n_alpha::DOUBLE >= 0.8::DOUBLE * n)
      |   AND (stop_hits >= 2)) AS gopher_pass
      |FROM base ORDER BY doc_id""".stripMargin

  /** The SAME rules through the declarative gopher_filter component
    * (emit=flagged), seeding done by a sql component — shares
    * q_gopher's oracle. */
  private def qJobGopher(s: SparkSession, dir: String): DataFrame = {
    val outDir = s"$tmpRoot/job_out_gopher"
    val readSchema = fieldsJson("doc_id" -> "integer", "text" -> "string",
      "lang" -> "string", "source" -> "string", "n_chars" -> "integer")
    val docSchema = fieldsJson("doc_id" -> "integer", "text" -> "string")
    val ruleCols = TextAnalysis.gopherRuleColumns :+ "gopher_pass"
    val flaggedSchema = fieldsJson(("doc_id" -> "integer") +:
      ("text" -> "string") +: ruleCols.map(_ -> "boolean"): _*)
    val outSchema = fieldsJson(("doc_id" -> "integer") +:
      ruleCols.map(_ -> "boolean"): _*)
    val seedSql = "SELECT doc_id, concat_ws(chr(10), text, " +
      "CASE WHEN doc_id % 3 = 0 THEN concat('- bullet one', chr(10), " +
      "'- bullet two', chr(10), '- bullet three') END, " +
      "CASE WHEN doc_id % 5 = 0 THEN 'to be continued...' END, " +
      "CASE WHEN doc_id % 7 = 0 THEN '### ## # ####' END) AS text " +
      "FROM seed_in"
    val projSql = s"SELECT doc_id, ${ruleCols.mkString(", ")} FROM proj_in"
    val jobJson =
      s"""{
         |  "name": "gopher_job",
         |  "components": [
         |    { "name": "rc", "comp_type": "read_parquet",
         |      "filepath": "$dir/documents.parquet",
         |      "routes": { "out": [ { "to": "seed", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $readSchema } },
         |    { "name": "seed", "comp_type": "sql",
         |      "query": ${graft.util.JsonStr.quote(seedSql)},
         |      "in_port_schemas": { "in": $readSchema },
         |      "routes": { "out": [ { "to": "gf", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $docSchema } },
         |    { "name": "gf", "comp_type": "gopher_filter", "emit": "flagged",
         |      "in_port_schemas": { "in": $docSchema },
         |      "routes": { "out": [ { "to": "proj", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $flaggedSchema } },
         |    { "name": "proj", "comp_type": "sql",
         |      "query": ${graft.util.JsonStr.quote(projSql)},
         |      "in_port_schemas": { "in": $flaggedSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $outSchema } },
         |    { "name": "w", "comp_type": "write_parquet", "filepath": "$outDir",
         |      "in_port_schemas": { "in": $outSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    readBack(s, built, outDir).orderBy(col("doc_id"))
  }

  /** Exact top-50 vocabulary over documents (TextAnalysis.topTokens):
    * distributed top-k via TakeOrderedAndProject, deterministic
    * (count desc, token asc) tiebreak so the k-th boundary is stable
    * across engines. */
  private def qTextTopk(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.topTokens(table(s, dir, "documents"), "text", 50)

  /** PII redaction over documents. The synthetic corpus carries no PII
    * (verified: zero '@' occurrences), so the query SEEDS deterministic
    * emails/phones/IPs from doc_id — identically in the DuckDB oracle —
    * and both engines must mask the exact same spans. Patterns live in
    * the Java/RE2 common subset for this bit-parity (TextAnalysis doc). */
  private def qTextPii(s: SparkSession, dir: String): DataFrame = {
    val seeded = table(s, dir, "documents")
      .withColumn("text", concat(col("text"),
        lit(" contact u"), col("doc_id").cast("string"),
        lit("@example.com or 555-"),
        lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
        lit("-1234 at 10.0."),
        (col("doc_id") % 256).cast("string"), lit(".1")))
    TextAnalysis.redactPiiWithCounts(seeded)
      .select(col("doc_id"), col("n_emails"), col("n_phones"),
        col("n_ips"), col("text"))
      .orderBy(col("doc_id"))
  }

  private def qTextLangId(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))
      .groupBy(col("lang_pred")).agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang_pred"))

  /** Gopher-style repetition signals (TextAnalysis.repetitionStats):
    * duplicate-line fraction, most-frequent word bigram and its
    * character fraction, duplicated-bigram position fraction — all
    * narrow maps (the gram counting is the codegen'd TopGramStats
    * per-row hash pass, no explode/shuffle). The fixture is single-line,
    * so the query SEEDS deterministic line structure from doc_id —
    * identically in the oracle — making the line rule actually bite:
    * doc_id % 3 == 0 docs gain a duplicated line, the rest a unique
    * one. */
  private def qTextRepetition(s: SparkSession, dir: String): DataFrame = {
    val seeded = table(s, dir, "documents")
      .withColumn("text", when(col("doc_id") % 3 === 0,
        concat(col("text"), lit("\nrepeat line\nrepeat line")))
        .otherwise(concat(col("text"), lit("\nrepeat line\nunique "),
          col("doc_id").cast("string"))))
    TextAnalysis.repetitionStats(seeded, "text", n = 2)
      .select(col("doc_id"), col("dup_line_ratio"), col("top_gram"),
        col("top_gram_ratio"), col("dup_gram_ratio"))
      .orderBy(col("doc_id"))
  }

  /** Benchmark decontamination (scale/Decontaminate): docs with
    * doc_id % 41 == 0 play the eval set, the rest the corpus; a corpus
    * doc is contaminated when it shares >= 2 distinct word 3-grams with
    * the eval set. Broadcast strategy: the corpus side is a narrow map
    * over a codegen'd gram-set probe — zero shuffle (DecontaminateSpec
    * pins the plan). The oracle replays the gram rule in DuckDB SQL. */
  private def qDecontaminate(s: SparkSession, dir: String): DataFrame =
    decontaminateGate(s, dir, "broadcast")

  /** The SAME decontamination through the join strategy (ids-only
    * posting join — the path for benchmark sets past the broadcast
    * cap): two physical plans, one semantics, one oracle. */
  private def qDecontaminateJoin(s: SparkSession, dir: String): DataFrame =
    decontaminateGate(s, dir, "join")

  /** And through the bloom strategy (sketch prefilter, exact join only
    * for candidate docs — the middle path): THREE physical plans, one
    * semantics, one oracle. */
  private def qDecontaminateBloom(s: SparkSession, dir: String): DataFrame =
    decontaminateGate(s, dir, "bloom")

  /** Shared oracle for q_window_pctile / q_job_window_pctile: both
    * gates emit the same top-half-by-percent_rank curation columns. */
  private val windowPctileOracle: String =
    """SELECT doc_id, lang, n_chars, pct, cd, bucket FROM (
      |  SELECT doc_id, lang, n_chars,
      |    percent_rank() OVER w AS pct,
      |    cume_dist() OVER w AS cd,
      |    ntile(4) OVER w AS bucket
      |  FROM documents
      |  WINDOW w AS (PARTITION BY lang ORDER BY n_chars DESC, doc_id))
      |WHERE pct <= 0.5 ORDER BY doc_id""".stripMargin

  /** Shared oracle for q_window_rolling / q_job_window_rolling: the
    * same explicit trailing ROWS frame (no peer ambiguity — event_id is
    * unique), integer window outputs cast ::BIGINT per the float
    * discipline, and the moving average derived as one exact int/int
    * double division outside the window. */
  private val windowRollingOracle: String =
    """SELECT event_id, user_id, cents, roll_cents, roll_n,
      |  roll_cents::DOUBLE / roll_n AS roll_avg, n_th FROM (
      |  SELECT event_id, user_id, round(value * 100)::BIGINT AS cents,
      |    (sum(round(value * 100)::BIGINT) OVER (
      |      PARTITION BY user_id ORDER BY event_id
      |      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW))::BIGINT AS roll_cents,
      |    (count(*) OVER (
      |      PARTITION BY user_id ORDER BY event_id
      |      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW))::BIGINT AS roll_n,
      |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS n_th
      |  FROM events)
      |WHERE n_th <= 6 ORDER BY user_id, n_th""".stripMargin

  /** Shared oracle for q_budget_sample / q_job_budget_sample: the same
    * md5 selection order (both engines hash the identical "mix:<id>"
    * string) and the same SQL-default-frame running sum; the running
    * total stays internal to the WHERE, so no output-dtype hazard. */
  private val budgetSampleOracle: String =
    """WITH run AS (
      |  SELECT doc_id, lang, n_chars,
      |    sum(coalesce(n_chars, 0))
      |      OVER (PARTITION BY lang
      |            ORDER BY md5('mix:' || doc_id::VARCHAR), doc_id) AS rc
      |  FROM documents)
      |SELECT doc_id, lang, n_chars FROM run
      |WHERE rc <= 20000 ORDER BY doc_id""".stripMargin

  /** Shared oracle for q_mix_sample / q_job_mix_sample: the engine's
    * floored weight shares are replayed as literal per-source budgets
    * (weights {de:.2, en:.5, es:.1, fr:.2} over total 40000 — the
    * source-sorted double fold sums to exactly 1.0, so the shares are
    * 8000/20000/4000/8000), the md5 selection order is the identical
    * "m17:<id>" string on both engines, and the unlisted-source drop
    * (zh carries no weight) replays as the WHERE ... IN prefilter. */
  private val mixSampleOracle: String =
    """WITH run AS (
      |  SELECT doc_id, lang, n_chars,
      |    sum(coalesce(n_chars, 0))
      |      OVER (PARTITION BY lang
      |            ORDER BY md5('m17:' || doc_id::VARCHAR), doc_id) AS rc
      |  FROM documents
      |  WHERE lang IN ('de', 'en', 'es', 'fr'))
      |SELECT doc_id, lang, n_chars FROM run
      |WHERE rc <= CASE lang WHEN 'de' THEN 8000 WHEN 'en' THEN 20000
      |  WHEN 'es' THEN 4000 WHEN 'fr' THEN 8000 END
      |ORDER BY doc_id""".stripMargin

  /** Shared oracle for text_repetition / q_job_text_repetition:
    * both gates emit the same five repetition columns from the same
    * seeded line structure — one SQL replay serves the direct op and
    * the declarative component face. */
  private val textRepetitionOracle: String =
      """WITH seeded AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0
        |      THEN text || chr(10) || 'repeat line' || chr(10) || 'repeat line'
        |      ELSE text || chr(10) || 'repeat line' || chr(10) || 'unique ' || doc_id
        |    END AS text
        |  FROM documents),
        |lines AS (
        |  SELECT doc_id, list_filter(
        |    list_transform(str_split(text, chr(10)), x -> trim(x)),
        |    x -> len(x) > 0) AS ls
        |  FROM seeded),
        |dupline AS (
        |  SELECT doc_id, CASE WHEN len(ls) <= 0 THEN 0.0
        |    ELSE round((len(ls) - len(list_distinct(ls)))::DOUBLE / len(ls), 6)
        |  END AS dup_line_ratio
        |  FROM lines),
        |toks AS (
        |  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS nt,
        |    str_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS tk
        |  FROM seeded),
        |grams AS (
        |  SELECT doc_id, unnest([array_to_string(tk[i:i+1], ' ')
        |    for i in range(1, greatest(len(tk)-1, 1)+1)]) AS g
        |  FROM toks),
        |counts AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2),
        |top AS (
        |  SELECT doc_id, g AS top_gram, c AS top_count FROM (
        |    SELECT doc_id, g, c, row_number()
        |      OVER (PARTITION BY doc_id ORDER BY c DESC, g) AS rn
        |    FROM counts)
        |  WHERE rn = 1),
        |agg AS (
        |  SELECT doc_id, sum(c) AS n_positions,
        |    coalesce(sum(c) FILTER (WHERE c > 1), 0) AS dup_positions
        |  FROM counts GROUP BY 1)
        |SELECT t.doc_id, d.dup_line_ratio, top.top_gram,
        |  round(CASE WHEN len(t.nt) = 0 THEN 0.0
        |    ELSE (top.top_count * len(top.top_gram))::DOUBLE / len(t.nt)
        |  END, 6) AS top_gram_ratio,
        |  round(CASE WHEN a.n_positions = 0 THEN 0.0
        |    ELSE a.dup_positions::DOUBLE / a.n_positions
        |  END, 6) AS dup_gram_ratio
        |FROM toks t
        |JOIN dupline d USING (doc_id)
        |JOIN top USING (doc_id)
        |JOIN agg a USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin

  /** Shared oracle for q_decontaminate / q_decontaminate_join: the gram
    * rule in DuckDB SQL — tokenization mirrors Dedup.exactKey (lower,
    * trim, whitespace-collapse) and the list comprehension mirrors
    * WordShingles' max(|toks|-n+1, 1) positions. */
  private val decontaminateOracle: String =
    """WITH norm AS (
      |  SELECT doc_id,
      |    str_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS tk
      |  FROM documents),
      |bgrams AS (
      |  SELECT DISTINCT unnest(list_distinct(
      |    [array_to_string(tk[i:i+2], ' ')
      |     for i in range(1, greatest(len(tk)-2, 1)+1)])) AS g
      |  FROM norm WHERE doc_id % 41 = 0),
      |cgrams AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    [array_to_string(tk[i:i+2], ' ')
      |     for i in range(1, greatest(len(tk)-2, 1)+1)])) AS g
      |  FROM norm WHERE doc_id % 41 <> 0),
      |hits AS (
      |  SELECT doc_id, count(*) AS n_hits
      |  FROM cgrams JOIN bgrams USING (g) GROUP BY 1)
      |SELECT n.doc_id, coalesce(h.n_hits, 0)::BIGINT AS n_hits,
      |  coalesce(h.n_hits, 0) >= 2 AS contaminated
      |FROM norm n LEFT JOIN hits h USING (doc_id)
      |WHERE n.doc_id % 41 <> 0
      |ORDER BY n.doc_id""".stripMargin

  /** The audit face: one (corpus_id, bench_id, n_shared) row per
    * contaminated pair — WHICH eval items leaked where. Ids-only
    * posting join; the oracle replays the gram join keeping both ids. */
  private def qDecontaminatePairs(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    graft.scale.Decontaminate.pairs(
      docs.filter(col("doc_id") % 41 =!= 0),
      docs.filter(col("doc_id") % 41 === 0),
      n = 3, minOverlap = 2)
      .orderBy(col("corpus_id"), col("bench_id"))
  }

  private def decontaminateGate(s: SparkSession, dir: String,
                                strategy: String): DataFrame = {
    val docs = table(s, dir, "documents")
    graft.scale.Decontaminate.flag(
      docs.filter(col("doc_id") % 41 =!= 0),
      docs.filter(col("doc_id") % 41 === 0),
      n = 3, minOverlap = 2, strategy = strategy)
      .select(col("doc_id"), col("n_hits"), col("contaminated"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------- similarity

  private def qSimKnn(s: SparkSession, dir: String): DataFrame = {
    val emb = table(s, dir, "embeddings")
    Similarity.knnJoin(emb, emb.filter(col("vec_id") < 3), "embedding",
      "vec_id", "vec_id", k = 5)
      .select(col("query_id"), col("rank"), col("corpus_id"), col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  private def qSimIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = table(s, dir, "embeddings")
    // deterministic centroids: the first 8 vectors; query: vector 0.
    // Both are DataFrames — no driver-side collect anywhere in the plan.
    val centroids = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cell"), col("embedding").as("cvec"))
    val query = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("qvec"))
    Similarity.ivfTopK(emb, "embedding", "vec_id", centroids, query,
      k = 10, nprobe = 3)
  }

  /** Combination job: the `similarity` comp_type from JSON config —
    * corpus and queries ports wired from two parquet reads (queries
    * narrowed by a filter component), exact k-NN join, parquet sink.
    * Same computation as sim_knn, reached declaratively. */
  private def qJobSimKnn(s: SparkSession, dir: String): DataFrame = {
    val outDir = s"$tmpRoot/job_out_simknn"
    val embSchema = ivfEmbSchema
    val knnSchema = fieldsJson("query_id" -> "integer", "corpus_id" -> "integer",
      "cosine" -> "float", "rank" -> "integer")
    val jobJson =
      s"""{
         |  "name": "sim_knn_job",
         |  "components": [
         |    { "name": "rc", "comp_type": "read_parquet",
         |      "filepath": "$dir/embeddings.parquet",
         |      "routes": { "out": [ { "to": "sim", "in_port": "corpus" } ] },
         |      "out_port_schemas": { "out": $embSchema } },
         |    { "name": "rq", "comp_type": "read_parquet",
         |      "filepath": "$dir/embeddings.parquet",
         |      "routes": { "out": [ { "to": "f", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $embSchema } },
         |    { "name": "f", "comp_type": "filter",
         |      "rule": { "column": "vec_id", "operator": "<", "value": 3 },
         |      "in_port_schemas": { "in": $embSchema },
         |      "routes": { "pass": [ { "to": "sim", "in_port": "queries" } ] },
         |      "out_port_schemas": { "pass": $embSchema } },
         |    { "name": "sim", "comp_type": "similarity", "method": "knn",
         |      "vector_column": "embedding", "corpus_id": "vec_id",
         |      "query_id": "vec_id", "k": 5,
         |      "in_port_schemas": { "corpus": $embSchema, "queries": $embSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $knnSchema } },
         |    { "name": "w", "comp_type": "write_parquet", "filepath": "$outDir",
         |      "in_port_schemas": { "in": $knnSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    readBack(s, built, outDir)
      .select(col("query_id"), col("rank"), col("corpus_id"), col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Combination job: IVF nearest-neighbor search end-to-end from JSON —
    * one embeddings read fans out to `kmeans_train` (trained centroids)
    * and the `similarity` corpus port; the query vector arrives via a
    * `sql` component. nprobe equals k (all 4 cells probed), so the result
    * is EXACTLY the brute-force cosine top-10 no matter where Lloyd's
    * iterations put the centroids — an exact SQL oracle for a pipeline
    * whose training step SQL can't replicate. Recall under partial
    * probing was measured by tools/IvfProbe @0fcdae9; it is not the
    * gate's job — which is also why iters=1: one Lloyd iteration
    * exercises the whole training loop (assign → update → empty-cell
    * carry) and each extra iteration only moves centroids the oracle is
    * insensitive to, at ~3 shuffles per iteration of pure bench cost. */
  private def qJobSimIvf(s: SparkSession, dir: String): DataFrame = {
    val outDir = s"$tmpRoot/job_out_simivf"
    val embSchema = ivfEmbSchema
    val centSchema = ivfCentSchema
    val qSchema =
      """{ "fields": [
        |  { "name": "qvec", "data_type": "array",
        |    "item": { "name": "item", "data_type": "float" } } ] }""".stripMargin
    val outSchema = fieldsJson("vec_id" -> "integer", "cosine" -> "float")
    val jobJson =
      s"""{
         |  "name": "sim_ivf_job",
         |  "components": [
         |    { "name": "rc", "comp_type": "read_parquet",
         |      "filepath": "$dir/embeddings.parquet",
         |      "routes": { "out": [ { "to": "km", "in_port": "in" },
         |                           { "to": "sim", "in_port": "corpus" } ] },
         |      "out_port_schemas": { "out": $embSchema } },
         |    { "name": "rq", "comp_type": "read_parquet",
         |      "filepath": "$dir/embeddings.parquet",
         |      "routes": { "out": [ { "to": "q", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $embSchema } },
         |    { "name": "q", "comp_type": "sql",
         |      "query": "SELECT embedding AS qvec FROM q_in WHERE vec_id = 0",
         |      "in_port_schemas": { "in": $embSchema },
         |      "routes": { "out": [ { "to": "sim", "in_port": "query" } ] },
         |      "out_port_schemas": { "out": $qSchema } },
         |    { "name": "km", "comp_type": "kmeans_train",
         |      "vector_column": "embedding", "k": 4, "iters": 1,
         |      "in_port_schemas": { "in": $embSchema },
         |      "routes": { "out": [ { "to": "sim", "in_port": "centroids" } ] },
         |      "out_port_schemas": { "out": $centSchema } },
         |    { "name": "sim", "comp_type": "similarity", "method": "ivf",
         |      "vector_column": "embedding", "id_column": "vec_id",
         |      "k": 10, "nprobe": 4,
         |      "in_port_schemas": { "corpus": $embSchema,
         |        "centroids": $centSchema, "query": $qSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $outSchema } },
         |    { "name": "w", "comp_type": "write_parquet", "filepath": "$outDir",
         |      "in_port_schemas": { "in": $outSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    readBack(s, built, outDir).orderBy(col("cosine").desc, col("vec_id"))
  }

  private val ivfEmbSchema =
    """{ "fields": [
      |  { "name": "vec_id", "data_type": "integer" },
      |  { "name": "embedding", "data_type": "array",
      |    "item": { "name": "item", "data_type": "float" } },
      |  { "name": "label", "data_type": "string" } ] }""".stripMargin
  private val ivfCentSchema =
    """{ "fields": [
      |  { "name": "cell", "data_type": "integer" },
      |  { "name": "cvec", "data_type": "array",
      |    "item": { "name": "item", "data_type": "float" } } ] }""".stripMargin

  /** Shared index-build job for the ivf_index gates: embeddings →
    * kmeans_train (k=4, 1 iter) → write_ivf_index + centroid parquet.
    * One definition so both gates probe the SAME layout shape. */
  private def runIvfBuildJob(s: SparkSession, dir: String,
                             idxDir: String, centDir: String): Unit = {
    val buildJson =
      s"""{
         |  "name": "ivf_index_build",
         |  "components": [
         |    { "name": "rc", "comp_type": "read_parquet",
         |      "filepath": "$dir/embeddings.parquet",
         |      "routes": { "out": [ { "to": "km", "in_port": "in" },
         |                           { "to": "ix", "in_port": "corpus" } ] },
         |      "out_port_schemas": { "out": $ivfEmbSchema } },
         |    { "name": "km", "comp_type": "kmeans_train",
         |      "vector_column": "embedding", "k": 4, "iters": 1,
         |      "in_port_schemas": { "in": $ivfEmbSchema },
         |      "routes": { "out": [ { "to": "ix", "in_port": "centroids" },
         |                           { "to": "wc", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $ivfCentSchema } },
         |    { "name": "ix", "comp_type": "write_ivf_index", "filepath": "$idxDir",
         |      "vector_column": "embedding", "id_column": "vec_id",
         |      "in_port_schemas": { "corpus": $ivfEmbSchema, "centroids": $ivfCentSchema } },
         |    { "name": "wc", "comp_type": "write_parquet", "filepath": "$centDir",
         |      "in_port_schemas": { "in": $ivfCentSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(buildJson))
    built.runSinks()
    built.close()
  }

  /** Combination job: the BUCKETED IVF index path end-to-end from JSON —
    * the layout that matters at 100 TB (probes prune cell directories at
    * plan time, KMeansSpec pins PartitionCount). Job 1 trains centroids
    * and writes both the partitioned index (`write_ivf_index`) and the
    * centroid table; job 2 probes the prebuilt index from config
    * (`similarity method=ivf_index`) — the two-job split mirrors the
    * production shape where one pipeline builds the index and many
    * probe it. nprobe equals k, so the union of probed cells is the
    * whole corpus and the result is EXACTLY brute-force cosine top-10 —
    * the same oracle technique q_job_sim_ivf established, now also
    * verifying the layout round-trip: vectors and ids must survive the
    * partitionBy(cell) write, the hive-partition read-back, and the
    * static isin cell filter bit-exactly. Partial-nprobe recall and the
    * pruning plan itself are pinned by KMeansSpec + tools/IvfProbe @0fcdae9; the gate's
    * job is value correctness of the full build-then-probe chain. */
  private def qJobIvfIndex(s: SparkSession, dir: String): DataFrame = {
    val idxDir = s"$tmpRoot/job_ivf_index"
    val centDir = s"$tmpRoot/job_ivf_cents"
    val outDir = s"$tmpRoot/job_out_ivf_index"
    val embSchema = ivfEmbSchema
    val centSchema = ivfCentSchema
    val qSchema =
      """{ "fields": [
        |  { "name": "qvec", "data_type": "array",
        |    "item": { "name": "item", "data_type": "float" } } ] }""".stripMargin
    val outSchema = fieldsJson("vec_id" -> "integer", "cosine" -> "float")
    runIvfBuildJob(s, dir, idxDir, centDir)
    val probeJson =
      s"""{
         |  "name": "ivf_index_probe",
         |  "components": [
         |    { "name": "rcent", "comp_type": "read_parquet", "filepath": "$centDir",
         |      "routes": { "out": [ { "to": "sim", "in_port": "centroids" } ] },
         |      "out_port_schemas": { "out": $centSchema } },
         |    { "name": "rq", "comp_type": "read_parquet",
         |      "filepath": "$dir/embeddings.parquet",
         |      "routes": { "out": [ { "to": "q", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $embSchema } },
         |    { "name": "q", "comp_type": "sql",
         |      "query": "SELECT embedding AS qvec FROM q_in WHERE vec_id = 0",
         |      "in_port_schemas": { "in": $embSchema },
         |      "routes": { "out": [ { "to": "sim", "in_port": "query" } ] },
         |      "out_port_schemas": { "out": $qSchema } },
         |    { "name": "sim", "comp_type": "similarity", "method": "ivf_index",
         |      "index_path": "$idxDir", "vector_column": "embedding",
         |      "id_column": "vec_id", "k": 10, "nprobe": 4,
         |      "in_port_schemas": { "centroids": $centSchema, "query": $qSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $outSchema } },
         |    { "name": "w", "comp_type": "write_parquet", "filepath": "$outDir",
         |      "in_port_schemas": { "in": $outSchema } }
         |  ]
         |}""".stripMargin
    val probe = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(probeJson))
    probe.runSinks()
    probe.close()
    readBack(s, probe, outDir).orderBy(col("cosine").desc, col("vec_id"))
  }

  /** Combination job: BATCH probing of the bucketed IVF index — the
    * multi-query face of q_job_ivf_index (a query port carrying a
    * query_id column dispatches KMeans.searchBucketedMany: per-query
    * cell ranking, one pruned scan, top-k per query). nprobe = k cells
    * again, so each query's result is exact brute-force top-5 and the
    * oracle is the q_job_sim_knn computation replayed over the same
    * vectors the index round-tripped. */
  private def qJobIvfMany(s: SparkSession, dir: String): DataFrame = {
    val idxDir = s"$tmpRoot/job_ivfm_index"
    val centDir = s"$tmpRoot/job_ivfm_cents"
    val outDir = s"$tmpRoot/job_out_ivf_many"
    val embSchema = ivfEmbSchema
    val centSchema = ivfCentSchema
    val qSchema =
      """{ "fields": [
        |  { "name": "query_id", "data_type": "integer" },
        |  { "name": "qvec", "data_type": "array",
        |    "item": { "name": "item", "data_type": "float" } } ] }""".stripMargin
    val outSchema = fieldsJson("query_id" -> "integer", "rank" -> "integer",
      "vec_id" -> "integer", "cosine" -> "float")
    runIvfBuildJob(s, dir, idxDir, centDir)
    val probeJson =
      s"""{
         |  "name": "ivf_many_probe",
         |  "components": [
         |    { "name": "rcent", "comp_type": "read_parquet", "filepath": "$centDir",
         |      "routes": { "out": [ { "to": "sim", "in_port": "centroids" } ] },
         |      "out_port_schemas": { "out": $centSchema } },
         |    { "name": "rq", "comp_type": "read_parquet",
         |      "filepath": "$dir/embeddings.parquet",
         |      "routes": { "out": [ { "to": "q", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $embSchema } },
         |    { "name": "q", "comp_type": "sql",
         |      "query": "SELECT vec_id AS query_id, embedding AS qvec FROM q_in WHERE vec_id < 3",
         |      "in_port_schemas": { "in": $embSchema },
         |      "routes": { "out": [ { "to": "sim", "in_port": "query" } ] },
         |      "out_port_schemas": { "out": $qSchema } },
         |    { "name": "sim", "comp_type": "similarity", "method": "ivf_index",
         |      "index_path": "$idxDir", "vector_column": "embedding",
         |      "id_column": "vec_id", "k": 5, "nprobe": 4,
         |      "in_port_schemas": { "centroids": $centSchema, "query": $qSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $outSchema } },
         |    { "name": "w", "comp_type": "write_parquet", "filepath": "$outDir",
         |      "in_port_schemas": { "in": $outSchema } }
         |  ]
         |}""".stripMargin
    val probe = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(probeJson))
    probe.runSinks()
    probe.close()
    readBack(s, probe, outDir).orderBy(col("query_id"), col("rank"))
  }

  /** Combination job: the declarative `pii_redact` comp_type end-to-end —
    * the config face of qTextPii (which drives the same
    * TextAnalysis.redactPiiWithCounts through the Scala API). A `sql`
    * component seeds deterministic PII for EVEN doc_ids only, so the
    * downstream `filter n_emails > 0` meaningfully halves the corpus
    * (the synthetic documents carry no real PII); the aggregation takes
    * max(text) per lang so the MASKED text — not just the counts — gates
    * through the declared-schema contract. Same RE2/Java common-subset
    * patterns as text_pii, replayed verbatim in the DuckDB oracle. */
  private def qJobPiiRedact(s: SparkSession, dir: String): DataFrame = {
    val outDir = s"$tmpRoot/job_out_pii_redact"
    val docSchema = fieldsJson("doc_id" -> "integer", "text" -> "string",
      "lang" -> "string", "source" -> "string", "n_chars" -> "integer")
    val seedSchema = fieldsJson("doc_id" -> "integer", "lang" -> "string",
      "text" -> "string")
    val redSchema = fieldsJson("doc_id" -> "integer", "lang" -> "string",
      "text" -> "string", "n_emails" -> "integer", "n_phones" -> "integer",
      "n_ips" -> "integer")
    val aggSchema = fieldsJson("lang" -> "string", "n_docs" -> "integer",
      "sum_emails" -> "integer", "sum_phones" -> "integer",
      "sum_ips" -> "integer", "max_text" -> "string")
    val seedSql = "SELECT doc_id, lang, CASE WHEN doc_id % 2 = 0 THEN " +
      "text || ' contact u' || CAST(doc_id AS STRING) || '@example.com or 555-' || " +
      "lpad(CAST(doc_id % 1000 AS STRING), 3, '0') || '-1234 at 10.0.' || " +
      "CAST(doc_id % 256 AS STRING) || '.1' ELSE text END AS text FROM seed_in"
    val jobJson =
      s"""{
         |  "name": "pii_redact_job",
         |  "components": [
         |    { "name": "rc", "comp_type": "read_parquet",
         |      "filepath": "$dir/documents.parquet",
         |      "routes": { "out": [ { "to": "seed", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $docSchema } },
         |    { "name": "seed", "comp_type": "sql",
         |      "query": ${graft.util.JsonStr.quote(seedSql)},
         |      "in_port_schemas": { "in": $docSchema },
         |      "routes": { "out": [ { "to": "pii", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $seedSchema } },
         |    { "name": "pii", "comp_type": "pii_redact", "text_column": "text",
         |      "in_port_schemas": { "in": $seedSchema },
         |      "routes": { "out": [ { "to": "f", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $redSchema } },
         |    { "name": "f", "comp_type": "filter",
         |      "rule": { "column": "n_emails", "operator": ">", "value": 0 },
         |      "in_port_schemas": { "in": $redSchema },
         |      "routes": { "pass": [ { "to": "ag", "in_port": "in" } ] },
         |      "out_port_schemas": { "pass": $redSchema } },
         |    { "name": "ag", "comp_type": "aggregation", "group_by": ["lang"],
         |      "aggregations": [
         |        { "src": "*", "op": "count", "dest": "n_docs" },
         |        { "src": "n_emails", "op": "sum", "dest": "sum_emails" },
         |        { "src": "n_phones", "op": "sum", "dest": "sum_phones" },
         |        { "src": "n_ips", "op": "sum", "dest": "sum_ips" },
         |        { "src": "text", "op": "max", "dest": "max_text" } ],
         |      "in_port_schemas": { "in": $redSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $aggSchema } },
         |    { "name": "w", "comp_type": "write_parquet", "filepath": "$outDir",
         |      "in_port_schemas": { "in": $aggSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    readBack(s, built, outDir).orderBy(col("lang"))
  }

  /** Combination job: the `text_analysis` component's opt-in repetition
    * face (repetition=true, repetition_n=2) — a `sql` component seeds
    * the same deterministic line structure as text_repetition, the
    * component appends the Gopher signals, and a projection keeps the
    * repetition columns. Same rule, exercised through config parsing
    * and the component's schema-compatible opt-in. */
  private def qJobTextRepetition(s: SparkSession, dir: String): DataFrame = {
    val outDir = s"$tmpRoot/job_out_text_repetition"
    val docSchema = fieldsJson("doc_id" -> "integer", "text" -> "string",
      "lang" -> "string", "source" -> "string", "n_chars" -> "integer")
    val seedSchema = fieldsJson("doc_id" -> "integer", "text" -> "string")
    val taSchema = fieldsJson("doc_id" -> "integer", "text" -> "string",
      "n_tokens" -> "integer", "n_tokens_bpe" -> "integer",
      "punct_ratio" -> "float", "stopword_ratio" -> "float",
      "quality" -> "float", "lang_pred" -> "string",
      "fingerprint" -> "string",
      "dup_line_ratio" -> "float", "top_gram" -> "string",
      "top_gram_ratio" -> "float", "dup_gram_ratio" -> "float")
    val outSchema = fieldsJson("doc_id" -> "integer",
      "dup_line_ratio" -> "float", "top_gram" -> "string",
      "top_gram_ratio" -> "float", "dup_gram_ratio" -> "float")
    val seedSql = "SELECT doc_id, CASE WHEN doc_id % 3 = 0 " +
      "THEN concat(text, chr(10), 'repeat line', chr(10), 'repeat line') " +
      "ELSE concat(text, chr(10), 'repeat line', chr(10), 'unique ', " +
      "CAST(doc_id AS STRING)) END AS text FROM seed_in"
    val jobJson =
      s"""{
         |  "name": "text_repetition_job",
         |  "components": [
         |    { "name": "rc", "comp_type": "read_parquet",
         |      "filepath": "$dir/documents.parquet",
         |      "routes": { "out": [ { "to": "seed", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $docSchema } },
         |    { "name": "seed", "comp_type": "sql",
         |      "query": ${graft.util.JsonStr.quote(seedSql)},
         |      "in_port_schemas": { "in": $docSchema },
         |      "routes": { "out": [ { "to": "ta", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $seedSchema } },
         |    { "name": "ta", "comp_type": "text_analysis",
         |      "repetition": true, "repetition_n": 2,
         |      "in_port_schemas": { "in": $seedSchema },
         |      "routes": { "out": [ { "to": "proj", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $taSchema } },
         |    { "name": "proj", "comp_type": "sql",
         |      "query": "SELECT doc_id, dup_line_ratio, top_gram, top_gram_ratio, dup_gram_ratio FROM proj_in",
         |      "in_port_schemas": { "in": $taSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $outSchema } },
         |    { "name": "w", "comp_type": "write_parquet", "filepath": "$outDir",
         |      "in_port_schemas": { "in": $outSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    readBack(s, built, outDir).orderBy(col("doc_id"))
  }

  /** Combination job: `decontaminate` emit=clean as a declarative
    * component — two `sql` components split documents into corpus
    * (doc_id % 41 != 0) and benchmark (doc_id % 41 == 0) ports, the
    * decontaminate component drops every corpus doc sharing >= 2
    * distinct word 3-grams with the benchmark, and the surviving rows
    * land in parquet. Same gram rule as q_decontaminate, exercised
    * through config parsing, port wiring, and the emit=clean face. */
  private def qJobDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val outDir = s"$tmpRoot/job_out_decontaminate"
    val docSchema = fieldsJson("doc_id" -> "integer", "text" -> "string",
      "lang" -> "string", "source" -> "string", "n_chars" -> "integer")
    val slimSchema = fieldsJson("doc_id" -> "integer", "text" -> "string",
      "n_chars" -> "integer")
    val outSchema = fieldsJson("doc_id" -> "integer", "n_chars" -> "integer")
    val jobJson =
      s"""{
         |  "name": "decontaminate_job",
         |  "components": [
         |    { "name": "rc", "comp_type": "read_parquet",
         |      "filepath": "$dir/documents.parquet",
         |      "routes": { "out": [ { "to": "corp", "in_port": "in" },
         |                           { "to": "bench", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $docSchema } },
         |    { "name": "corp", "comp_type": "sql",
         |      "query": "SELECT doc_id, text, n_chars FROM corp_in WHERE doc_id % 41 <> 0",
         |      "in_port_schemas": { "in": $docSchema },
         |      "routes": { "out": [ { "to": "dc", "in_port": "corpus" } ] },
         |      "out_port_schemas": { "out": $slimSchema } },
         |    { "name": "bench", "comp_type": "sql",
         |      "query": "SELECT doc_id, text, n_chars FROM bench_in WHERE doc_id % 41 = 0",
         |      "in_port_schemas": { "in": $docSchema },
         |      "routes": { "out": [ { "to": "dc", "in_port": "benchmark" } ] },
         |      "out_port_schemas": { "out": $slimSchema } },
         |    { "name": "dc", "comp_type": "decontaminate", "emit": "clean",
         |      "ngram_n": 3, "min_overlap": 2,
         |      "in_port_schemas": { "corpus": $slimSchema,
         |                           "benchmark": $slimSchema },
         |      "routes": { "out": [ { "to": "proj", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $slimSchema } },
         |    { "name": "proj", "comp_type": "sql",
         |      "query": "SELECT doc_id, n_chars FROM proj_in",
         |      "in_port_schemas": { "in": $slimSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $outSchema } },
         |    { "name": "w", "comp_type": "write_parquet", "filepath": "$outDir",
         |      "in_port_schemas": { "in": $outSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    readBack(s, built, outDir).orderBy(col("doc_id"))
  }

  /** Combination job: `hash_split` — the deterministic train/val/test
    * primitive, fully declarative: documents route to three split ports
    * by md5 bucket of doc_id, each port rolls up (count + sum of ids —
    * the sum pins MEMBERSHIP, not just sizes) through a `sql` component
    * that also tags the split name, and a merge unions the three rows.
    * The oracle replays the identical md5-prefix arithmetic in DuckDB —
    * both engines hash the same "42"-style decimal string. */
  private def qJobHashSplit(s: SparkSession, dir: String): DataFrame = {
    val outDir = s"$tmpRoot/job_out_hash_split"
    val docSchema = fieldsJson("doc_id" -> "integer", "text" -> "string",
      "lang" -> "string", "source" -> "string", "n_chars" -> "integer")
    val aggSchema = fieldsJson("split" -> "string", "n_docs" -> "integer",
      "sum_ids" -> "integer")
    // HAVING drops the aggregate row when the split is empty — the
    // oracle's GROUP BY produces no row for an empty split, and a
    // (name, 0, NULL) row would spuriously diverge on tiny corpora
    def aggComp(name: String): String =
      s"""{ "name": "a_$name", "comp_type": "sql",
         |  "query": "SELECT '$name' AS split, count(*) AS n_docs, sum(doc_id) AS sum_ids FROM a_${name}_in HAVING count(*) > 0",
         |  "in_port_schemas": { "in": $docSchema },
         |  "routes": { "out": [ { "to": "m", "in_port": "in" } ] },
         |  "out_port_schemas": { "out": $aggSchema } }""".stripMargin
    val jobJson =
      s"""{
         |  "name": "hash_split_job",
         |  "components": [
         |    { "name": "rc", "comp_type": "read_parquet",
         |      "filepath": "$dir/documents.parquet",
         |      "routes": { "out": [ { "to": "hs", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $docSchema } },
         |    { "name": "hs", "comp_type": "hash_split", "id_column": "doc_id",
         |      "splits": [ { "name": "train", "fraction": 0.8 },
         |                  { "name": "val", "fraction": 0.1 },
         |                  { "name": "test", "fraction": 0.1 } ],
         |      "in_port_schemas": { "in": $docSchema },
         |      "routes": { "train": [ { "to": "a_train", "in_port": "in" } ],
         |                  "val":   [ { "to": "a_val", "in_port": "in" } ],
         |                  "test":  [ { "to": "a_test", "in_port": "in" } ] },
         |      "out_port_schemas": { "train": $docSchema, "val": $docSchema,
         |                            "test": $docSchema } },
         |    ${aggComp("train")},
         |    ${aggComp("val")},
         |    ${aggComp("test")},
         |    { "name": "m", "comp_type": "merge",
         |      "in_port_schemas": { "in": $aggSchema },
         |      "routes": { "merge": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "merge": $aggSchema } },
         |    { "name": "w", "comp_type": "write_parquet", "filepath": "$outDir",
         |      "in_port_schemas": { "in": $aggSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    readBack(s, built, outDir).orderBy(col("split"))
  }

  /** Combination job: `sample` — the deterministic stratified-sampling
    * primitive of a training-mix pipeline, fully declarative: documents
    * keep/drop by md5(seed:doc_id) bucket against per-language rates
    * (downsample dominant `en`, keep all of `fr`, default rate for the
    * rest), then roll up per language (count + sum of kept ids — the sum
    * pins per-row MEMBERSHIP, not just sample sizes). The oracle replays
    * the identical seeded md5-prefix arithmetic in DuckDB. */
  private def qJobSample(s: SparkSession, dir: String): DataFrame = {
    val outDir = s"$tmpRoot/job_out_sample"
    val docSchema = fieldsJson("doc_id" -> "integer", "text" -> "string",
      "lang" -> "string", "source" -> "string", "n_chars" -> "integer")
    val aggSchema = fieldsJson("lang" -> "string", "n_docs" -> "integer",
      "sum_ids" -> "integer")
    val jobJson =
      s"""{
         |  "name": "sample_job",
         |  "components": [
         |    { "name": "rc", "comp_type": "read_parquet",
         |      "filepath": "$dir/documents.parquet",
         |      "routes": { "out": [ { "to": "sm", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $docSchema } },
         |    { "name": "sm", "comp_type": "sample", "id_column": "doc_id",
         |      "fraction": 0.6, "seed": "r12", "strata_column": "lang",
         |      "strata_fractions": { "en": 0.3, "fr": 1.0 },
         |      "in_port_schemas": { "in": $docSchema },
         |      "routes": { "out": [ { "to": "a", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $docSchema } },
         |    { "name": "a", "comp_type": "sql",
         |      "query": "SELECT lang, count(*) AS n_docs, sum(doc_id) AS sum_ids FROM a_in GROUP BY lang",
         |      "in_port_schemas": { "in": $docSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $aggSchema } },
         |    { "name": "w", "comp_type": "write_parquet", "filepath": "$outDir",
         |      "in_port_schemas": { "in": $aggSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    readBack(s, built, outDir).orderBy(col("lang"))
  }

  /** Combination job: `sample` with a NULL stratum — documents are staged
    * with lang nulled for every 7th id, then sampled with per-stratum
    * overrides. The pin: a NULL stratum value fails every equality in the
    * threshold fold and falls through to the DEFAULT rate (never a listed
    * override, never dropped) — RelationalOps.hashSample:144-150's rule,
    * which q_job_sample cannot exercise (documents.lang has no nulls).
    * The oracle replays the nulling and the seeded md5 arithmetic; its
    * CASE ... ELSE branch encodes the same null fall-through. */
  private def qJobSampleStrata(s: SparkSession, dir: String): DataFrame = {
    val stage = s"$tmpRoot/job_in_docs_strata"
    val outDir = s"$tmpRoot/job_out_sample_strata"
    table(s, dir, "documents")
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(7)) === 0, lit(null))
          .otherwise(col("lang")).as("lang"))
      .write.mode("overwrite").parquet(stage)
    val docSchema = fieldsJson("doc_id" -> "integer", "lang" -> "string")
    val aggSchema = fieldsJson("lang" -> "string", "n_docs" -> "integer",
      "sum_ids" -> "integer")
    val jobJson =
      s"""{
         |  "name": "sample_strata_job",
         |  "components": [
         |    { "name": "rc", "comp_type": "read_parquet", "filepath": "$stage",
         |      "routes": { "out": [ { "to": "sm", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $docSchema } },
         |    { "name": "sm", "comp_type": "sample", "id_column": "doc_id",
         |      "fraction": 0.5, "seed": "r14", "strata_column": "lang",
         |      "strata_fractions": { "en": 0.25, "zh": 1.0 },
         |      "in_port_schemas": { "in": $docSchema },
         |      "routes": { "out": [ { "to": "a", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $docSchema } },
         |    { "name": "a", "comp_type": "sql",
         |      "query": "SELECT lang, count(*) AS n_docs, sum(doc_id) AS sum_ids FROM a_in GROUP BY lang",
         |      "in_port_schemas": { "in": $docSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $aggSchema } },
         |    { "name": "w", "comp_type": "write_parquet", "filepath": "$outDir",
         |      "in_port_schemas": { "in": $aggSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    readBack(s, built, outDir).orderBy(col("lang"))
  }

  /** Token-budget sampling (RelationalOps.budgetSample): per language,
    * documents survive in deterministic md5("mix:"+doc_id) order while
    * the running n_chars total stays <= 20000 — the data-mixing
    * "N tokens per source" primitive. One hash exchange on the mixing
    * key + in-partition sort; the oracle replays the identical md5
    * arithmetic and SQL-default-frame running sum in DuckDB. */
  private def qBudgetSample(s: SparkSession, dir: String): DataFrame =
    graft.ops.RelationalOps.budgetSample(
      table(s, dir, "documents").select(col("doc_id"), col("lang"),
        col("n_chars")),
      idCol = "doc_id", costCol = "n_chars", budget = 20000L,
      by = Seq("lang"), seed = "mix")
      .orderBy(col("doc_id"))

  /** The SAME budget rule through the declarative `budget_sample`
    * component — config parsing, by-array wiring, and the long budget
    * param exercised end-to-end. */
  private def qJobBudgetSample(s: SparkSession, dir: String): DataFrame = {
    val outDir = s"$tmpRoot/job_out_budget_sample"
    val docSchema = fieldsJson("doc_id" -> "integer", "text" -> "string",
      "lang" -> "string", "source" -> "string", "n_chars" -> "integer")
    val outSchema = fieldsJson("doc_id" -> "integer", "lang" -> "string",
      "n_chars" -> "integer")
    val jobJson =
      s"""{
         |  "name": "budget_sample_job",
         |  "components": [
         |    { "name": "rc", "comp_type": "read_parquet",
         |      "filepath": "$dir/documents.parquet",
         |      "routes": { "out": [ { "to": "bs", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $docSchema } },
         |    { "name": "bs", "comp_type": "budget_sample",
         |      "id_column": "doc_id", "cost_column": "n_chars",
         |      "budget": 20000, "by": ["lang"], "seed": "mix",
         |      "in_port_schemas": { "in": $docSchema },
         |      "routes": { "out": [ { "to": "proj", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $docSchema } },
         |    { "name": "proj", "comp_type": "sql",
         |      "query": "SELECT doc_id, lang, n_chars FROM proj_in",
         |      "in_port_schemas": { "in": $docSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $outSchema } },
         |    { "name": "w", "comp_type": "write_parquet", "filepath": "$outDir",
         |      "in_port_schemas": { "in": $outSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    readBack(s, built, outDir).orderBy(col("doc_id"))
  }

  /** Mixture sampling (RelationalOps.mixSample): compose a 40000-char
    * budget as 50% en / 20% de / 20% fr / 10% es — zh is unlisted and
    * drops before the exchange. Each language keeps its deterministic
    * md5("m17:"+doc_id)-order prefix under the floored share; the
    * oracle replays the shares as literals and the same md5 running
    * sum in DuckDB. */
  private def qMixSample(s: SparkSession, dir: String): DataFrame =
    graft.ops.RelationalOps.mixSample(
      table(s, dir, "documents").select(col("doc_id"), col("lang"),
        col("n_chars")),
      idCol = "doc_id", costCol = "n_chars", totalBudget = 40000L,
      sourceCol = "lang",
      weights = Seq("de" -> 0.2, "en" -> 0.5, "es" -> 0.1, "fr" -> 0.2),
      seed = "m17")
      .orderBy(col("doc_id"))

  /** The SAME mix through the declarative `mix_sample` component —
    * weights-object parsing (source-sorted, so the shares match the
    * direct face bit-exactly), total_budget long param, and the
    * source_column wiring exercised end-to-end. */
  private def qJobMixSample(s: SparkSession, dir: String): DataFrame = {
    val outDir = s"$tmpRoot/job_out_mix_sample"
    val docSchema = fieldsJson("doc_id" -> "integer", "text" -> "string",
      "lang" -> "string", "source" -> "string", "n_chars" -> "integer")
    val outSchema = fieldsJson("doc_id" -> "integer", "lang" -> "string",
      "n_chars" -> "integer")
    val jobJson =
      s"""{
         |  "name": "mix_sample_job",
         |  "components": [
         |    { "name": "rc", "comp_type": "read_parquet",
         |      "filepath": "$dir/documents.parquet",
         |      "routes": { "out": [ { "to": "mx", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $docSchema } },
         |    { "name": "mx", "comp_type": "mix_sample",
         |      "id_column": "doc_id", "cost_column": "n_chars",
         |      "total_budget": 40000, "source_column": "lang",
         |      "weights": { "en": 0.5, "de": 0.2, "fr": 0.2, "es": 0.1 },
         |      "seed": "m17",
         |      "in_port_schemas": { "in": $docSchema },
         |      "routes": { "out": [ { "to": "proj", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $docSchema } },
         |    { "name": "proj", "comp_type": "sql",
         |      "query": "SELECT doc_id, lang, n_chars FROM proj_in",
         |      "in_port_schemas": { "in": $docSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $outSchema } },
         |    { "name": "w", "comp_type": "write_parquet", "filepath": "$outDir",
         |      "in_port_schemas": { "in": $outSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    readBack(s, built, outDir).orderBy(col("doc_id"))
  }

  /** Per-source quality cap (RelationalOps.groupCap, explicit order):
    * keep the 8 longest docs per source, doc_id tiebreak — the
    * "at most N docs per domain" dominance guard. The rule is plain
    * row_number() SQL, so the oracle replays it directly. */
  private def qGroupCap(s: SparkSession, dir: String): DataFrame =
    graft.ops.RelationalOps.groupCap(
      table(s, dir, "documents").select(col("doc_id"), col("source"),
        col("n_chars")),
      idCol = "doc_id", cap = 8, by = Seq("source"),
      orderBy = Seq(("n_chars", -1)))
      .orderBy(col("doc_id"))

  /** The seeded-uniform face of groupCap (empty order_by): 10 docs per
    * lang ranked by md5("quota:" ++ doc_id) — both engines hash the
    * identical string, so the kept subset replays bit-exactly. */
  private def qGroupCapUniform(s: SparkSession, dir: String): DataFrame =
    graft.ops.RelationalOps.groupCap(
      table(s, dir, "documents").select(col("doc_id"), col("lang")),
      idCol = "doc_id", cap = 10, by = Seq("lang"), seed = "quota")
      .orderBy(col("doc_id"))

  /** Shared oracle for q_group_cap / q_job_group_cap: the same top-8
    * per-source row_number rule (all output columns are pass-through
    * parquet dtypes — no cast hazard). */
  private val groupCapOracle: String =
    """WITH r AS (
      |  SELECT doc_id, source, n_chars,
      |    row_number() OVER (PARTITION BY source
      |                       ORDER BY n_chars DESC, doc_id) AS rn
      |  FROM documents)
      |SELECT doc_id, source, n_chars FROM r
      |WHERE rn <= 8 ORDER BY doc_id""".stripMargin

  /** The SAME quality-cap rule through the declarative `group_cap`
    * component — cap/by/order_by config parsing exercised end-to-end. */
  private def qJobGroupCap(s: SparkSession, dir: String): DataFrame = {
    val outDir = s"$tmpRoot/job_out_group_cap"
    val docSchema = fieldsJson("doc_id" -> "integer", "text" -> "string",
      "lang" -> "string", "source" -> "string", "n_chars" -> "integer")
    val outSchema = fieldsJson("doc_id" -> "integer", "source" -> "string",
      "n_chars" -> "integer")
    val jobJson =
      s"""{
         |  "name": "group_cap_job",
         |  "components": [
         |    { "name": "rc", "comp_type": "read_parquet",
         |      "filepath": "$dir/documents.parquet",
         |      "routes": { "out": [ { "to": "cap", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $docSchema } },
         |    { "name": "cap", "comp_type": "group_cap",
         |      "id_column": "doc_id", "cap": 8, "by": ["source"],
         |      "order_by": [ ["n_chars", -1] ],
         |      "in_port_schemas": { "in": $docSchema },
         |      "routes": { "out": [ { "to": "proj", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $docSchema } },
         |    { "name": "proj", "comp_type": "sql",
         |      "query": "SELECT doc_id, source, n_chars FROM proj_in",
         |      "in_port_schemas": { "in": $docSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $outSchema } },
         |    { "name": "w", "comp_type": "write_parquet", "filepath": "$outDir",
         |      "in_port_schemas": { "in": $outSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    readBack(s, built, outDir).orderBy(col("doc_id"))
  }

  /** Combination job: the aggregation component's `salted: true` opt-in
    * — the declarative face of Skew.saltedAggregate (two-phase skew-safe
    * group-by, exact results for the decomposable subset). Same oracle
    * family as q_agg_salted: a plain DuckDB GROUP BY, because salting
    * changes the plan, never the answer. */
  private def qJobAggSalted(s: SparkSession, dir: String): DataFrame = {
    val outDir = s"$tmpRoot/job_out_agg_salted"
    val liSchema = fieldsJson("l_orderkey" -> "integer",
      "l_partkey" -> "integer", "l_suppkey" -> "integer",
      "l_linenumber" -> "integer", "l_quantity" -> "float",
      "l_extendedprice" -> "float", "l_discount" -> "float",
      "l_tax" -> "float", "l_returnflag" -> "string",
      "l_linestatus" -> "string", "l_shipdate" -> "string")
    val centsSchema = fieldsJson("l_returnflag" -> "string",
      "qty_c" -> "integer", "l_extendedprice" -> "float")
    val aggSchema = fieldsJson("l_returnflag" -> "string",
      "n_rows" -> "integer", "qty_cents" -> "integer",
      "min_price" -> "float", "max_price" -> "float")
    val outSchema = fieldsJson("l_returnflag" -> "string",
      "n_rows" -> "integer", "sum_qty" -> "float",
      "min_price" -> "float", "max_price" -> "float")
    val centsSql = "SELECT l_returnflag, " +
      "CAST(round(l_quantity * 100) AS BIGINT) AS qty_c, l_extendedprice " +
      "FROM c_in"
    // CAST to double first: Spark SQL's bare `/ 100.0` is DECIMAL
    // division (the literal parses as Decimal(3,1)), which materializes
    // as object-dtype Decimal in the driver's hasher — the exact skew
    // the dtype-strict checker exists to catch
    val projSql = "SELECT l_returnflag, n_rows, " +
      "CAST(qty_cents AS DOUBLE) / 100.0 AS sum_qty, " +
      "min_price, max_price FROM p_in"
    val jobJson =
      s"""{
         |  "name": "agg_salted_job",
         |  "components": [
         |    { "name": "rc", "comp_type": "read_parquet",
         |      "filepath": "$dir/lineitem.parquet",
         |      "routes": { "out": [ { "to": "c", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $liSchema } },
         |    { "name": "c", "comp_type": "sql",
         |      "query": ${graft.util.JsonStr.quote(centsSql)},
         |      "in_port_schemas": { "in": $liSchema },
         |      "routes": { "out": [ { "to": "ag", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $centsSchema } },
         |    { "name": "ag", "comp_type": "aggregation", "salted": true,
         |      "salt_factor": 8, "group_by": ["l_returnflag"],
         |      "aggregations": [
         |        { "src": "*", "op": "count", "dest": "n_rows" },
         |        { "src": "qty_c", "op": "sum", "dest": "qty_cents" },
         |        { "src": "l_extendedprice", "op": "min", "dest": "min_price" },
         |        { "src": "l_extendedprice", "op": "max", "dest": "max_price" } ],
         |      "in_port_schemas": { "in": $centsSchema },
         |      "routes": { "out": [ { "to": "p", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $aggSchema } },
         |    { "name": "p", "comp_type": "sql",
         |      "query": ${graft.util.JsonStr.quote(projSql)},
         |      "in_port_schemas": { "in": $aggSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $outSchema } },
         |    { "name": "w", "comp_type": "write_parquet", "filepath": "$outDir",
         |      "in_port_schemas": { "in": $outSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    readBack(s, built, outDir).orderBy(col("l_returnflag"))
  }

  /** Combination job pair: `write_bucketed` + `read_table` — the
    * co-located-join layout. Job 1 stages customer and orders as
    * external tables bucketed (and sorted) on the customer key; job 2
    * reads them back through the catalog and joins + aggregates. The
    * aligned bucket spec makes the join itself exchange-free
    * (ScaleIdiomsSpec pins the declarative plan); the gate pins the
    * results against a plain DuckDB join of the same parquet. */
  private def qJobBucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val bDir = s"$tmpRoot/bucketed"
    val outDir = s"$tmpRoot/job_out_bucketed_join"
    val custSchema = fieldsJson("c_custkey" -> "integer", "c_name" -> "string",
      "c_nationkey" -> "integer", "c_acctbal" -> "float",
      "c_mktsegment" -> "string")
    val ordSchema = fieldsJson("o_orderkey" -> "integer",
      "o_custkey" -> "integer", "o_orderstatus" -> "string",
      "o_totalprice" -> "float", "o_orderdate" -> "string",
      "o_orderpriority" -> "string")
    val aggSchema = fieldsJson("c_mktsegment" -> "string",
      "n_orders" -> "integer", "sum_cents" -> "integer")
    val stageJson =
      s"""{
         |  "name": "bucketed_stage_job",
         |  "components": [
         |    { "name": "rc", "comp_type": "read_parquet",
         |      "filepath": "$dir/customer.parquet",
         |      "routes": { "out": [ { "to": "wc", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $custSchema } },
         |    { "name": "ro", "comp_type": "read_parquet",
         |      "filepath": "$dir/orders.parquet",
         |      "routes": { "out": [ { "to": "wo", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $ordSchema } },
         |    { "name": "wc", "comp_type": "write_bucketed",
         |      "table": "bj_customer", "filepath": "$bDir/customer",
         |      "buckets": 8, "bucket_by": ["c_custkey"],
         |      "sort_by": ["c_custkey"],
         |      "in_port_schemas": { "in": $custSchema } },
         |    { "name": "wo", "comp_type": "write_bucketed",
         |      "table": "bj_orders", "filepath": "$bDir/orders",
         |      "buckets": 8, "bucket_by": ["o_custkey"],
         |      "sort_by": ["o_custkey"],
         |      "in_port_schemas": { "in": $ordSchema } }
         |  ]
         |}""".stripMargin
    val stage = graft.graph.JobGraph.build(s,
      graft.config.JobConfig.parse(stageJson))
    stage.runSinks()
    stage.close()
    val joinSql = "SELECT c.c_mktsegment, count(*) AS n_orders, " +
      "CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents " +
      "FROM j_c c JOIN j_o o ON c.c_custkey = o.o_custkey " +
      "GROUP BY c.c_mktsegment"
    val joinJson =
      s"""{
         |  "name": "bucketed_join_job",
         |  "components": [
         |    { "name": "tc", "comp_type": "read_table", "table": "bj_customer",
         |      "routes": { "out": [ { "to": "j", "in_port": "c" } ] },
         |      "out_port_schemas": { "out": $custSchema } },
         |    { "name": "to", "comp_type": "read_table", "table": "bj_orders",
         |      "routes": { "out": [ { "to": "j", "in_port": "o" } ] },
         |      "out_port_schemas": { "out": $ordSchema } },
         |    { "name": "j", "comp_type": "sql",
         |      "query": ${graft.util.JsonStr.quote(joinSql)},
         |      "in_port_schemas": { "c": $custSchema, "o": $ordSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $aggSchema } },
         |    { "name": "w", "comp_type": "write_parquet", "filepath": "$outDir",
         |      "in_port_schemas": { "in": $aggSchema } }
         |  ]
         |}""".stripMargin
    val join = graft.graph.JobGraph.build(s,
      graft.config.JobConfig.parse(joinJson))
    join.runSinks()
    join.close()
    readBack(s, join, outDir).orderBy(col("c_mktsegment"))
  }

  /** Combination job: `shuffle` — the deterministic seeded global
    * shuffle (reproducible training order): every document gets
    * shuffle_key = md5(seed:doc_id) and the sink is written in total
    * key order (one range exchange — ShufflePlanSpec pins the plan and
    * the cross-partitioning determinism; the driver compare is
    * order-insensitive, so the gate pins the per-row KEY values). The
    * oracle replays the identical md5 arithmetic in DuckDB. */
  private def qJobShuffle(s: SparkSession, dir: String): DataFrame = {
    val outDir = s"$tmpRoot/job_out_shuffle"
    val docSchema = fieldsJson("doc_id" -> "integer", "text" -> "string",
      "lang" -> "string", "source" -> "string", "n_chars" -> "integer")
    val outSchema = fieldsJson("doc_id" -> "integer", "text" -> "string",
      "lang" -> "string", "source" -> "string", "n_chars" -> "integer",
      "shuffle_key" -> "string")
    val jobJson =
      s"""{
         |  "name": "shuffle_job",
         |  "components": [
         |    { "name": "rc", "comp_type": "read_parquet",
         |      "filepath": "$dir/documents.parquet",
         |      "routes": { "out": [ { "to": "sh", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $docSchema } },
         |    { "name": "sh", "comp_type": "shuffle", "id_column": "doc_id",
         |      "seed": "r12s",
         |      "in_port_schemas": { "in": $docSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $outSchema } },
         |    { "name": "w", "comp_type": "write_parquet", "filepath": "$outDir",
         |      "in_port_schemas": { "in": $outSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    readBack(s, built, outDir).select(col("doc_id"), col("lang"), col("shuffle_key"))
      .orderBy(col("shuffle_key"))
  }

  /** Combination job: `sort` — the declarative ORDER BY / OFFSET / LIMIT
    * face of RelationalOps.findLike (the Scala face is q_sort_limit):
    * filter value > 100, total order (value desc, event_id asc — the
    * unique tiebreak makes skip/limit a well-defined row SET, which is
    * what the driver's order-insensitive compare hashes), skip 10, keep
    * 20. */
  private def qJobSort(s: SparkSession, dir: String): DataFrame = {
    val stage = s"$tmpRoot/job_in_events_sort"
    val outDir = s"$tmpRoot/job_out_sort"
    table(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("value"))
      .write.mode("overwrite").parquet(stage)
    val evSchema = fieldsJson("event_id" -> "integer", "user_id" -> "integer",
      "value" -> "float")
    val jobJson =
      s"""{
         |  "name": "sort_job",
         |  "components": [
         |    { "name": "r", "comp_type": "read_parquet", "filepath": "$stage",
         |      "routes": { "out": [ { "to": "f", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $evSchema } },
         |    { "name": "f", "comp_type": "filter",
         |      "rule": { "column": "value", "operator": ">", "value": 100 },
         |      "in_port_schemas": { "in": $evSchema },
         |      "routes": { "pass": [ { "to": "so", "in_port": "in" } ] },
         |      "out_port_schemas": { "pass": $evSchema } },
         |    { "name": "so", "comp_type": "sort",
         |      "sort": [ ["value", -1], ["event_id", 1] ],
         |      "skip": 10, "limit": 20,
         |      "in_port_schemas": { "in": $evSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $evSchema } },
         |    { "name": "w", "comp_type": "write_parquet", "filepath": "$outDir",
         |      "in_port_schemas": { "in": $evSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    readBack(s, built, outDir).orderBy(col("event_id"))
  }

  /** Combination job: `window` + filter — declarative top-n per group
    * (the config face of q_window_topn): row_number over
    * (o_orderpriority | o_totalprice desc, o_orderkey) then rank <= 3
    * through the filter component. One hash exchange on the partition
    * key; the rank filter composes downstream instead of being a window
    * parameter — the vocabulary stays orthogonal. */
  private def qJobWindowTopn(s: SparkSession, dir: String): DataFrame = {
    val stage = s"$tmpRoot/job_in_orders_win"
    val outDir = s"$tmpRoot/job_out_window_topn"
    table(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      .write.mode("overwrite").parquet(stage)
    val inSchema = fieldsJson("o_orderkey" -> "integer",
      "o_orderpriority" -> "string", "o_totalprice" -> "float")
    val winSchema = fieldsJson("o_orderkey" -> "integer",
      "o_orderpriority" -> "string", "o_totalprice" -> "float",
      "rank" -> "integer")
    val jobJson =
      s"""{
         |  "name": "window_topn_job",
         |  "components": [
         |    { "name": "r", "comp_type": "read_parquet", "filepath": "$stage",
         |      "routes": { "out": [ { "to": "wi", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $inSchema } },
         |    { "name": "wi", "comp_type": "window",
         |      "partition_by": ["o_orderpriority"],
         |      "order_by": [ ["o_totalprice", -1], ["o_orderkey", 1] ],
         |      "functions": [ { "fn": "row_number", "dest": "rank" } ],
         |      "in_port_schemas": { "in": $inSchema },
         |      "routes": { "out": [ { "to": "f", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $winSchema } },
         |    { "name": "f", "comp_type": "filter",
         |      "rule": { "column": "rank", "operator": "<=", "value": 3 },
         |      "in_port_schemas": { "in": $winSchema },
         |      "routes": { "pass": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "pass": $winSchema } },
         |    { "name": "w", "comp_type": "write_parquet", "filepath": "$outDir",
         |      "in_port_schemas": { "in": $winSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    s.read.parquet(outDir)
      .select(col("o_orderpriority"), col("rank"), col("o_orderkey"),
        col("o_totalprice"))
      .orderBy(col("o_orderpriority"), col("rank"))
  }

  /** Declarative face of WindowOp's offset/ordered-aggregate functions
    * (q_job_window_topn covers the rank face; the Scala face is
    * q_window_lag): lag + running sum + row_number per user from a JSON
    * window component config. Cents keep the running sum dtype-exact. */
  private def qJobWindowLag(s: SparkSession, dir: String): DataFrame = {
    val stage = s"$tmpRoot/job_in_events_lag"
    val outDir = s"$tmpRoot/job_out_window_lag"
    table(s, dir, "events")
      .select(col("event_id"), col("user_id"),
        round(col("value") * 100).cast("long").as("cents"))
      .write.mode("overwrite").parquet(stage)
    val inSchema = fieldsJson("event_id" -> "integer",
      "user_id" -> "integer", "cents" -> "integer")
    val winSchema = fieldsJson("event_id" -> "integer",
      "user_id" -> "integer", "cents" -> "integer",
      "prev_cents" -> "integer", "run_cents" -> "integer",
      "n_th" -> "integer")
    val jobJson =
      s"""{
         |  "name": "window_lag_job",
         |  "components": [
         |    { "name": "r", "comp_type": "read_parquet", "filepath": "$stage",
         |      "routes": { "out": [ { "to": "wi", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $inSchema } },
         |    { "name": "wi", "comp_type": "window",
         |      "partition_by": ["user_id"],
         |      "order_by": [ ["event_id", 1] ],
         |      "functions": [
         |        { "fn": "lag", "src": "cents", "dest": "prev_cents" },
         |        { "fn": "sum", "src": "cents", "dest": "run_cents" },
         |        { "fn": "row_number", "dest": "n_th" } ],
         |      "in_port_schemas": { "in": $inSchema },
         |      "routes": { "out": [ { "to": "f", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $winSchema } },
         |    { "name": "f", "comp_type": "filter",
         |      "rule": { "column": "n_th", "operator": "<=", "value": 5 },
         |      "in_port_schemas": { "in": $winSchema },
         |      "routes": { "pass": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "pass": $winSchema } },
         |    { "name": "w", "comp_type": "write_parquet", "filepath": "$outDir",
         |      "in_port_schemas": { "in": $winSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    s.read.parquet(outDir)
      .select(col("event_id"), col("user_id"), col("cents"),
        col("prev_cents"), col("run_cents"), col("n_th"))
      .orderBy(col("user_id"), col("n_th"))
  }

  /** The SAME trailing-frame rule through the declarative window
    * component — frame_rows config parsing exercised end-to-end; the
    * derived moving average comes from a downstream sql component, so
    * the whole chain is config. */
  private def qJobWindowRolling(s: SparkSession, dir: String): DataFrame = {
    val stage = s"$tmpRoot/job_in_events_roll"
    val outDir = s"$tmpRoot/job_out_window_roll"
    table(s, dir, "events")
      .select(col("event_id"), col("user_id"),
        round(col("value") * 100).cast("long").as("cents"))
      .write.mode("overwrite").parquet(stage)
    val inSchema = fieldsJson("event_id" -> "integer",
      "user_id" -> "integer", "cents" -> "integer")
    val winSchema = fieldsJson("event_id" -> "integer",
      "user_id" -> "integer", "cents" -> "integer",
      "roll_cents" -> "integer", "roll_n" -> "integer",
      "n_th" -> "integer")
    val outSchema = fieldsJson("event_id" -> "integer",
      "user_id" -> "integer", "cents" -> "integer",
      "roll_cents" -> "integer", "roll_n" -> "integer",
      "n_th" -> "integer", "roll_avg" -> "float")
    val jobJson =
      s"""{
         |  "name": "window_rolling_job",
         |  "components": [
         |    { "name": "r", "comp_type": "read_parquet", "filepath": "$stage",
         |      "routes": { "out": [ { "to": "wi", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $inSchema } },
         |    { "name": "wi", "comp_type": "window",
         |      "partition_by": ["user_id"],
         |      "order_by": [ ["event_id", 1] ],
         |      "functions": [
         |        { "fn": "sum", "src": "cents", "frame_rows": 3, "dest": "roll_cents" },
         |        { "fn": "count", "src": "cents", "frame_rows": 3, "dest": "roll_n" },
         |        { "fn": "row_number", "dest": "n_th" } ],
         |      "in_port_schemas": { "in": $inSchema },
         |      "routes": { "out": [ { "to": "f", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $winSchema } },
         |    { "name": "f", "comp_type": "filter",
         |      "rule": { "column": "n_th", "operator": "<=", "value": 6 },
         |      "in_port_schemas": { "in": $winSchema },
         |      "routes": { "pass": [ { "to": "avg", "in_port": "in" } ] },
         |      "out_port_schemas": { "pass": $winSchema } },
         |    { "name": "avg", "comp_type": "sql",
         |      "query": "SELECT event_id, user_id, cents, roll_cents, roll_n, n_th, CAST(roll_cents AS DOUBLE) / roll_n AS roll_avg FROM avg_in",
         |      "in_port_schemas": { "in": $winSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $outSchema } },
         |    { "name": "w", "comp_type": "write_parquet", "filepath": "$outDir",
         |      "in_port_schemas": { "in": $outSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    s.read.parquet(outDir).orderBy(col("user_id"), col("n_th"))
  }

  /** Fixed-width histogram (Profile.histogram) of events.value over
    * [0, 500) in 20 buckets: plain IEEE floor/clamp arithmetic both
    * engines reproduce bit-exactly; bucket edges derive from the same
    * bucket * width product. */
  private def qHistogram(s: SparkSession, dir: String): DataFrame =
    graft.scale.Profile.histogram(table(s, dir, "events"), "value",
      buckets = 20, lo = 0.0, hi = 500.0)

  /** Shared oracle for q_histogram / q_job_histogram. Every float is
    * ::DOUBLE-anchored: DuckDB parses bare 25.0 as DECIMAL, whose
    * arithmetic materializes as object-dtype Decimal in the driver's
    * hasher (the exact skew the dtype-strict checker catches). */
  private val histogramOracle: String =
    """SELECT bucket,
      |  bucket * (25.0::DOUBLE) AS bucket_lo,
      |  (bucket + 1) * (25.0::DOUBLE) AS bucket_hi,
      |  count(*)::BIGINT AS n
      |FROM (
      |  SELECT least(greatest(floor(value / (25.0::DOUBLE)), 0), 19)::BIGINT AS bucket
      |  FROM events WHERE value IS NOT NULL)
      |GROUP BY bucket ORDER BY bucket""".stripMargin

  /** The SAME histogram through the profile component's
    * histogram_column face — buckets/lo/hi config parsing end-to-end. */
  private def qJobHistogram(s: SparkSession, dir: String): DataFrame = {
    val stage = s"$tmpRoot/job_in_histogram"
    val outDir = s"$tmpRoot/job_out_histogram"
    table(s, dir, "events").select(col("event_id"), col("value"))
      .write.mode("overwrite").parquet(stage)
    val inSchema = fieldsJson("event_id" -> "integer", "value" -> "float")
    val histSchema = fieldsJson("bucket" -> "integer",
      "bucket_lo" -> "float", "bucket_hi" -> "float", "n" -> "integer")
    val jobJson =
      s"""{
         |  "name": "histogram_job",
         |  "components": [
         |    { "name": "r", "comp_type": "read_parquet", "filepath": "$stage",
         |      "routes": { "out": [ { "to": "h", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $inSchema } },
         |    { "name": "h", "comp_type": "profile",
         |      "histogram_column": "value", "buckets": 20, "lo": 0, "hi": 500,
         |      "in_port_schemas": { "in": $inSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $histSchema } },
         |    { "name": "w", "comp_type": "write_parquet", "filepath": "$outDir",
         |      "in_port_schemas": { "in": $histSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    readBack(s, built, outDir).orderBy(col("bucket"))
  }

  /** Typed JSON-path extraction (RelationalOps.jsonExtract) over the
    * events `props` blob: k lands as a long, a missing path as an
    * all-null string (count pins the null contract), the raw blob is
    * dropped. Both engines parse the same JSON and cast the same
    * digits, so the group-by replays bit-exactly. */
  private def qJsonExtract(s: SparkSession, dir: String): DataFrame =
    graft.ops.RelationalOps.jsonExtract(
      table(s, dir, "events").select(col("event_id"), col("props")),
      "props",
      Seq(("k", "k", "integer"), ("missing", "m_str", "string")),
      keepSource = false)
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("event_id")).as("sum_ids"),
        count(col("m_str")).as("n_missing"))
      .orderBy(col("k"))

  /** Shared oracle for q_json_extract / q_job_json_extract: DuckDB's
    * json_extract_string + ::BIGINT replays get_json_object + cast. */
  private val jsonExtractOracle: String =
    """SELECT k, count(*)::BIGINT AS n_events,
      |  sum(event_id)::BIGINT AS sum_ids,
      |  count(m_str)::BIGINT AS n_missing
      |FROM (
      |  SELECT event_id,
      |    json_extract_string(props, '$.k')::BIGINT AS k,
      |    json_extract_string(props, '$.missing') AS m_str
      |  FROM events)
      |GROUP BY k ORDER BY k""".stripMargin

  /** The SAME extraction through the declarative json_extract component
    * — fields/type config parsing and keep_source=false end-to-end. */
  private def qJobJsonExtract(s: SparkSession, dir: String): DataFrame = {
    val stage = s"$tmpRoot/job_in_json_extract"
    val outDir = s"$tmpRoot/job_out_json_extract"
    table(s, dir, "events").select(col("event_id"), col("props"))
      .write.mode("overwrite").parquet(stage)
    val inSchema = fieldsJson("event_id" -> "integer", "props" -> "string")
    val exSchema = fieldsJson("event_id" -> "integer",
      "k" -> "integer", "m_str" -> "string")
    val aggSchema = fieldsJson("k" -> "integer", "n_events" -> "integer",
      "sum_ids" -> "integer", "n_missing" -> "integer")
    val jobJson =
      s"""{
         |  "name": "json_extract_job",
         |  "components": [
         |    { "name": "r", "comp_type": "read_parquet", "filepath": "$stage",
         |      "routes": { "out": [ { "to": "jx", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $inSchema } },
         |    { "name": "jx", "comp_type": "json_extract",
         |      "column": "props", "keep_source": false,
         |      "fields": [
         |        { "path": "k", "dest": "k", "type": "integer" },
         |        { "path": "$$.missing", "dest": "m_str" } ],
         |      "in_port_schemas": { "in": $inSchema },
         |      "routes": { "out": [ { "to": "agg", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $exSchema } },
         |    { "name": "agg", "comp_type": "sql",
         |      "query": "SELECT k, CAST(count(*) AS BIGINT) AS n_events, sum(event_id) AS sum_ids, count(m_str) AS n_missing FROM agg_in GROUP BY k",
         |      "in_port_schemas": { "in": $exSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $aggSchema } },
         |    { "name": "w", "comp_type": "write_parquet", "filepath": "$outDir",
         |      "in_port_schemas": { "in": $aggSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    readBack(s, built, outDir).orderBy(col("k"))
  }

  /** The write_parquet sort_by face (data-skipping layout): orders
    * lands range-partitioned + sorted on o_totalprice, then the
    * readback filters on that key and aggregates — values must survive
    * the relayout exactly (ScaleIdiomsSpec pins the disjoint per-file
    * ranges and the pushdown; this pins the config path + the data). */
  private def qJobSortedLayout(s: SparkSession, dir: String): DataFrame = {
    val outDir = s"$tmpRoot/job_out_sorted_layout"
    val ordersSchema = fieldsJson("o_orderkey" -> "integer",
      "o_custkey" -> "integer", "o_orderstatus" -> "string",
      "o_totalprice" -> "float", "o_orderdate" -> "string",
      "o_orderpriority" -> "string")
    val jobJson =
      s"""{
         |  "name": "sorted_layout_job",
         |  "components": [
         |    { "name": "r", "comp_type": "read_parquet",
         |      "filepath": "$dir/orders.parquet",
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $ordersSchema } },
         |    { "name": "w", "comp_type": "write_parquet", "filepath": "$outDir",
         |      "sort_by": ["o_totalprice"], "files": 4,
         |      "in_port_schemas": { "in": $ordersSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    readBack(s, built, outDir)
      .filter(col("o_totalprice") > 150000)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        (centsSum(col("o_totalprice"), 2) / 100.0).as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** Declarative set_op with the two staged branches written in
    * DIFFERENT on-disk column orders — the gate drives the by-name
    * alignment (Dataset.intersect is positional; SetOpSpec pins the
    * fix at unit level, this pins it through the config path). */
  private def qJobSetOp(s: SparkSession, dir: String): DataFrame = {
    val lStage = s"$tmpRoot/job_in_setop_l"
    val rStage = s"$tmpRoot/job_in_setop_r"
    val outDir = s"$tmpRoot/job_out_setop"
    val o = table(s, dir, "orders")
    o.filter(col("o_orderstatus") === "F")
      .select(col("o_custkey"), col("o_orderpriority"))
      .write.mode("overwrite").parquet(lStage)
    o.filter(col("o_orderstatus") === "O")
      .select(col("o_orderpriority"), col("o_custkey")) // reversed order
      .write.mode("overwrite").parquet(rStage)
    val schema = fieldsJson("o_custkey" -> "integer",
      "o_orderpriority" -> "string")
    val jobJson =
      s"""{
         |  "name": "set_op_job",
         |  "components": [
         |    { "name": "l", "comp_type": "read_parquet", "filepath": "$lStage",
         |      "routes": { "out": [ { "to": "s", "in_port": "left" } ] },
         |      "out_port_schemas": { "out": $schema } },
         |    { "name": "r", "comp_type": "read_parquet", "filepath": "$rStage",
         |      "routes": { "out": [ { "to": "s", "in_port": "right" } ] },
         |      "out_port_schemas": { "out": $schema } },
         |    { "name": "s", "comp_type": "set_op", "op": "intersect",
         |      "in_port_schemas": { "left": $schema, "right": $schema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $schema } },
         |    { "name": "w", "comp_type": "write_parquet", "filepath": "$outDir",
         |      "in_port_schemas": { "in": $schema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    readBack(s, built, outDir)
      .select(col("o_custkey"), col("o_orderpriority"))
      .orderBy(col("o_custkey"), col("o_orderpriority"))
  }

  /** Declarative set_op, `except_all` face: pins the MULTIPLICITY
    * semantics through the config path (q_job_set_op pins dedup'd
    * intersect) — each (custkey, priority) pair survives
    * max(0, left − right) times. Branches again staged in different
    * on-disk column orders to keep driving the by-name alignment. */
  private def qJobSetExceptAll(s: SparkSession, dir: String): DataFrame = {
    val lStage = s"$tmpRoot/job_in_setxa_l"
    val rStage = s"$tmpRoot/job_in_setxa_r"
    val outDir = s"$tmpRoot/job_out_setxa"
    val o = table(s, dir, "orders")
    o.filter(col("o_orderstatus") === "F")
      .select(col("o_custkey"), col("o_orderpriority"))
      .write.mode("overwrite").parquet(lStage)
    o.filter(col("o_totalprice") > 50000)
      .select(col("o_orderpriority"), col("o_custkey")) // reversed order
      .write.mode("overwrite").parquet(rStage)
    val schema = fieldsJson("o_custkey" -> "integer",
      "o_orderpriority" -> "string")
    val jobJson =
      s"""{
         |  "name": "set_except_all_job",
         |  "components": [
         |    { "name": "l", "comp_type": "read_parquet", "filepath": "$lStage",
         |      "routes": { "out": [ { "to": "s", "in_port": "left" } ] },
         |      "out_port_schemas": { "out": $schema } },
         |    { "name": "r", "comp_type": "read_parquet", "filepath": "$rStage",
         |      "routes": { "out": [ { "to": "s", "in_port": "right" } ] },
         |      "out_port_schemas": { "out": $schema } },
         |    { "name": "s", "comp_type": "set_op", "op": "except_all",
         |      "in_port_schemas": { "left": $schema, "right": $schema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $schema } },
         |    { "name": "w", "comp_type": "write_parquet", "filepath": "$outDir",
         |      "in_port_schemas": { "in": $schema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    readBack(s, built, outDir)
      .select(col("o_custkey"), col("o_orderpriority"))
      .orderBy(col("o_custkey"), col("o_orderpriority"))
  }

  /** Declarative unpivot: the config face of RelationalOps.unpivot
    * (q_unpivot is the Scala face) — cents-staged lineitem measures
    * melted to (measure, cents) rows, rolled up per measure through the
    * sql component so the gate pins every melted cell. */
  private def qJobUnpivot(s: SparkSession, dir: String): DataFrame = {
    val stage = s"$tmpRoot/job_in_lineitem_melt"
    val outDir = s"$tmpRoot/job_out_unpivot"
    table(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        round(col("l_quantity") * 100).cast("long").as("quantity"),
        round(col("l_extendedprice") * 100).cast("long").as("extendedprice"),
        round(col("l_discount") * 100).cast("long").as("discount"))
      .write.mode("overwrite").parquet(stage)
    val inSchema = fieldsJson("l_orderkey" -> "integer", "l_linenumber" -> "integer",
      "quantity" -> "integer", "extendedprice" -> "integer", "discount" -> "integer")
    val meltSchema = fieldsJson("l_orderkey" -> "integer", "l_linenumber" -> "integer",
      "measure" -> "string", "cents" -> "integer")
    val aggSchema = fieldsJson("measure" -> "string", "n_cells" -> "integer",
      "sum_cents" -> "integer")
    val jobJson =
      s"""{
         |  "name": "unpivot_job",
         |  "components": [
         |    { "name": "r", "comp_type": "read_parquet", "filepath": "$stage",
         |      "routes": { "out": [ { "to": "up", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $inSchema } },
         |    { "name": "up", "comp_type": "unpivot",
         |      "id_columns": ["l_orderkey", "l_linenumber"],
         |      "value_columns": ["quantity", "extendedprice", "discount"],
         |      "var_column": "measure", "value_column": "cents",
         |      "in_port_schemas": { "in": $inSchema },
         |      "routes": { "out": [ { "to": "a", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $meltSchema } },
         |    { "name": "a", "comp_type": "sql",
         |      "query": "SELECT measure, count(*) AS n_cells, sum(cents) AS sum_cents FROM a_in GROUP BY measure",
         |      "in_port_schemas": { "in": $meltSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $aggSchema } },
         |    { "name": "w", "comp_type": "write_parquet", "filepath": "$outDir",
         |      "in_port_schemas": { "in": $aggSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    readBack(s, built, outDir).orderBy(col("measure"))
  }

  /** Declarative profile: the config face of scale/Profile (q_profile is
    * the Scala face) — the same 5-column orders projection profiled
    * through the `profile` comp_type; identical oracle, since staging is
    * a pure projection. */
  private def qJobProfile(s: SparkSession, dir: String): DataFrame = {
    val stage = s"$tmpRoot/job_in_orders_prof"
    val outDir = s"$tmpRoot/job_out_profile"
    table(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderstatus"), col("o_orderpriority"))
      .write.mode("overwrite").parquet(stage)
    val inSchema = fieldsJson("o_orderkey" -> "integer", "o_custkey" -> "integer",
      "o_totalprice" -> "float", "o_orderstatus" -> "string",
      "o_orderpriority" -> "string")
    val profSchema = fieldsJson("col_name" -> "string", "n_rows" -> "integer",
      "n_nulls" -> "integer", "n_distinct" -> "integer",
      "min_num" -> "float", "max_num" -> "float",
      "min_str" -> "string", "max_str" -> "string")
    val jobJson =
      s"""{
         |  "name": "profile_job",
         |  "components": [
         |    { "name": "r", "comp_type": "read_parquet", "filepath": "$stage",
         |      "routes": { "out": [ { "to": "p", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $inSchema } },
         |    { "name": "p", "comp_type": "profile",
         |      "columns": ["o_orderkey", "o_custkey", "o_totalprice",
         |                  "o_orderstatus", "o_orderpriority"],
         |      "in_port_schemas": { "in": $inSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $profSchema } },
         |    { "name": "w", "comp_type": "write_parquet", "filepath": "$outDir",
         |      "in_port_schemas": { "in": $profSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    readBack(s, built, outDir).orderBy(col("col_name"))
  }

  /** Declarative range_join: the config face of ops/RangeJoin — clicks
    * against same-user 1-hour purchase windows, join_type=left (the
    * variant whose shared-lineage key handling q_range_join_left fixed),
    * staged as epoch-micros integers because the declared-schema type
    * system (like the reference's) has no timestamp type. The oracle
    * replays the micros arithmetic with DuckDB epoch_us. */
  private def qJobRangeJoin(s: SparkSession, dir: String): DataFrame = {
    val lStage = s"$tmpRoot/job_in_rj_clicks"
    val rStage = s"$tmpRoot/job_in_rj_windows"
    val outDir = s"$tmpRoot/job_out_range_join"
    val ev = table(s, dir, "events")
    ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("t"))
      .write.mode("overwrite").parquet(lStage)
    ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("w_start"),
        unix_micros(col("ts") + expr("INTERVAL 1 HOUR")).as("w_end"),
        col("event_id").as("purchase_id"))
      .write.mode("overwrite").parquet(rStage)
    val lSchema = fieldsJson("event_id" -> "integer", "user_id" -> "integer",
      "t" -> "integer")
    val rSchema = fieldsJson("user_id" -> "integer", "w_start" -> "integer",
      "w_end" -> "integer", "purchase_id" -> "integer")
    val oSchema = fieldsJson("event_id" -> "integer", "user_id" -> "integer",
      "t" -> "integer", "w_start" -> "integer", "w_end" -> "integer",
      "purchase_id" -> "integer")
    val jobJson =
      s"""{
         |  "name": "range_join_job",
         |  "components": [
         |    { "name": "l", "comp_type": "read_parquet", "filepath": "$lStage",
         |      "routes": { "out": [ { "to": "rj", "in_port": "left" } ] },
         |      "out_port_schemas": { "out": $lSchema } },
         |    { "name": "r", "comp_type": "read_parquet", "filepath": "$rStage",
         |      "routes": { "out": [ { "to": "rj", "in_port": "right" } ] },
         |      "out_port_schemas": { "out": $rSchema } },
         |    { "name": "rj", "comp_type": "range_join", "on": "t",
         |      "start": "w_start", "end": "w_end", "by": ["user_id"],
         |      "join_type": "left",
         |      "in_port_schemas": { "left": $lSchema, "right": $rSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $oSchema } },
         |    { "name": "w", "comp_type": "write_parquet", "filepath": "$outDir",
         |      "in_port_schemas": { "in": $oSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    readBack(s, built, outDir).orderBy(col("event_id"), col("purchase_id"))
  }

  /** Declarative asof_join: the config face of ops/AsofJoin (backward,
    * strategy=window — the corpus-sized-both-sides plan), same
    * epoch-micros staging. Oracle: DuckDB's native ASOF LEFT JOIN over
    * the same integers — an independent algorithm. */
  private def qJobAsofJoin(s: SparkSession, dir: String): DataFrame = {
    val lStage = s"$tmpRoot/job_in_asof_clicks"
    val rStage = s"$tmpRoot/job_in_asof_purch"
    val outDir = s"$tmpRoot/job_out_asof_join"
    val ev = table(s, dir, "events")
    ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("t"))
      .write.mode("overwrite").parquet(lStage)
    ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("t"),
        round(col("value") * 100).cast("long").as("p_cents"))
      .write.mode("overwrite").parquet(rStage)
    val lSchema = fieldsJson("event_id" -> "integer", "user_id" -> "integer",
      "t" -> "integer")
    val rSchema = fieldsJson("user_id" -> "integer", "t" -> "integer",
      "p_cents" -> "integer")
    val oSchema = fieldsJson("event_id" -> "integer", "user_id" -> "integer",
      "t" -> "integer", "p_cents" -> "integer")
    val jobJson =
      s"""{
         |  "name": "asof_join_job",
         |  "components": [
         |    { "name": "l", "comp_type": "read_parquet", "filepath": "$lStage",
         |      "routes": { "out": [ { "to": "aj", "in_port": "left" } ] },
         |      "out_port_schemas": { "out": $lSchema } },
         |    { "name": "r", "comp_type": "read_parquet", "filepath": "$rStage",
         |      "routes": { "out": [ { "to": "aj", "in_port": "right" } ] },
         |      "out_port_schemas": { "out": $rSchema } },
         |    { "name": "aj", "comp_type": "asof_join", "on": "t",
         |      "by": ["user_id"], "direction": "backward",
         |      "in_port_schemas": { "left": $lSchema, "right": $rSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $oSchema } },
         |    { "name": "w", "comp_type": "write_parquet", "filepath": "$outDir",
         |      "in_port_schemas": { "in": $oSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    readBack(s, built, outDir).orderBy(col("event_id"))
  }

  /** Combination job: schema_mapping join with the per-step `broadcast`
    * hint — the declarative face of the 100 TB dimension-join lever
    * (SchemaMappingAggSpec pins that the hint actually flips the plan to
    * BroadcastHashJoin with auto-broadcast disabled; this gate pins that
    * the CONFIG path parses and joins correctly). Customer × nation with
    * nation broadcast, rolled up per nation name. */
  private def qJobJoinBcast(s: SparkSession, dir: String): DataFrame = {
    val custStage = s"$tmpRoot/job_in_cust_bcast"
    val natStage = s"$tmpRoot/job_in_nat_bcast"
    val outDir = s"$tmpRoot/job_out_join_bcast"
    table(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      .write.mode("overwrite").parquet(custStage)
    table(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
      .write.mode("overwrite").parquet(natStage)
    val custSchema = fieldsJson("c_custkey" -> "integer", "c_nationkey" -> "integer")
    val natSchema = fieldsJson("n_nationkey" -> "integer", "n_name" -> "string")
    val joinedSchema = fieldsJson("c_custkey" -> "integer",
      "c_nationkey" -> "integer", "n_nationkey" -> "integer", "n_name" -> "string")
    val aggSchema = fieldsJson("n_name" -> "string", "n_customers" -> "integer")
    val jobJson =
      s"""{
         |  "name": "join_bcast_job",
         |  "components": [
         |    { "name": "rc", "comp_type": "read_parquet", "filepath": "$custStage",
         |      "routes": { "out": [ { "to": "j", "in_port": "cust" } ] },
         |      "out_port_schemas": { "out": $custSchema } },
         |    { "name": "rn", "comp_type": "read_parquet", "filepath": "$natStage",
         |      "routes": { "out": [ { "to": "j", "in_port": "nat" } ] },
         |      "out_port_schemas": { "out": $natSchema } },
         |    { "name": "j", "comp_type": "schema_mapping",
         |      "join_plan": { "steps": [
         |        { "left_port": "cust", "right_port": "nat",
         |          "left_on": ["c_nationkey"], "right_on": ["n_nationkey"],
         |          "how": "inner", "output_port": "joined",
         |          "broadcast": "right" } ] },
         |      "in_port_schemas": { "cust": $custSchema, "nat": $natSchema },
         |      "routes": { "joined": [ { "to": "a", "in_port": "in" } ] },
         |      "out_port_schemas": { "joined": $joinedSchema } },
         |    { "name": "a", "comp_type": "aggregation", "group_by": ["n_name"],
         |      "aggregations": [ { "src": "c_custkey", "op": "count", "dest": "n_customers" } ],
         |      "in_port_schemas": { "in": $joinedSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $aggSchema } },
         |    { "name": "w", "comp_type": "write_parquet", "filepath": "$outDir",
         |      "in_port_schemas": { "in": $aggSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    readBack(s, built, outDir).orderBy(col("n_name"))
  }

  /** Combination job: batch SESSION-WINDOW aggregation as a declarative
    * component (aggregation + time_column/session_gap — the config face
    * of qEventsSession). Events are staged with string times and integer
    * cents (declared schemas travel times as strings; cents keep the
    * sums dtype-exact), the job sessionizes per user, and the gate rolls
    * the sessions up per user so the oracle needs no timestamp-string
    * formatting (Spark trims trailing fraction zeros when casting
    * timestamp→string; DuckDB's strftime pads — per-user session counts
    * gate the same gap-island logic without that formatting hazard). */
  private def qJobSessionAgg(s: SparkSession, dir: String): DataFrame = {
    val stage = s"$tmpRoot/job_in_events_sess"
    val outDir = s"$tmpRoot/job_out_session_agg"
    table(s, dir, "events")
      .select(col("user_id"), col("ts").cast("string").as("ts"),
        round(col("value") * 100).cast("long").as("cents"))
      .write.mode("overwrite").parquet(stage)
    val inSchema = fieldsJson("user_id" -> "integer", "ts" -> "string",
      "cents" -> "integer")
    val aggSchema = fieldsJson("window_start" -> "string", "window_end" -> "string",
      "user_id" -> "integer", "n_events" -> "integer", "sum_cents" -> "integer")
    val jobJson =
      s"""{
         |  "name": "session_agg_job",
         |  "components": [
         |    { "name": "r", "comp_type": "read_parquet", "filepath": "$stage",
         |      "routes": { "out": [ { "to": "agg", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $inSchema } },
         |    { "name": "agg", "comp_type": "aggregation",
         |      "time_column": "ts", "session_gap": "12 hours",
         |      "group_by": ["user_id"],
         |      "aggregations": [
         |        { "src": "*", "op": "count", "dest": "n_events" },
         |        { "src": "cents", "op": "sum", "dest": "sum_cents" } ],
         |      "in_port_schemas": { "in": $inSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $aggSchema } },
         |    { "name": "w", "comp_type": "write_parquet", "filepath": "$outDir",
         |      "in_port_schemas": { "in": $aggSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    readBack(s, built, outDir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("n_events")).as("n_events"),
        sum(col("sum_cents")).as("sum_cents"))
      .orderBy(col("user_id"))
  }

  /** Range join (ops/RangeJoin.scala): clicks inside the 1-hour window
    * after any same-user purchase — one-to-many interval containment,
    * keyed equi-join carrying the range condition (no cross product).
    * Oracle replays the intervals with DuckDB timestamp arithmetic. */
  private def qRangeJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = table(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val windows = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("w_start"),
        (col("ts") + expr("INTERVAL 1 HOUR")).as("w_end"),
        col("event_id").as("purchase_id"))
    graft.ops.RangeJoin(clicks, windows, on = "ts",
      start = "w_start", end = "w_end", by = Seq("user_id"))
      .orderBy(col("event_id"), col("purchase_id"))
  }

  /** Range join, LEFT variant: every click survives — clicks outside any
    * same-user purchase window carry null window columns (the "which
    * campaign was active, if any" shape). Same keyed equi-join plan. */
  private def qRangeJoinLeft(s: SparkSession, dir: String): DataFrame = {
    val ev = table(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val windows = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("w_start"),
        (col("ts") + expr("INTERVAL 1 HOUR")).as("w_end"),
        col("event_id").as("purchase_id"))
    graft.ops.RangeJoin(clicks, windows, on = "ts",
      start = "w_start", end = "w_end", by = Seq("user_id"), joinType = "left")
      .orderBy(col("event_id"), col("purchase_id"))
  }

  /** Range join, KEYLESS variant: no equality key, so RangeJoin
    * broadcasts the (dimension-sized) interval side and the plan is a
    * BroadcastNestedLoopJoin — the global-calendar / maintenance-window
    * shape. Interval side kept small (purchases of a few users) exactly
    * as the 100 TB contract requires; RangeJoinSpec pins the plan. */
  private def qRangeJoinKeyless(s: SparkSession, dir: String): DataFrame = {
    val ev = table(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("ts"))
    val windows = ev
      .filter(col("event_type") === "purchase" && col("user_id") <= 5)
      .select(col("ts").as("w_start"),
        (col("ts") + expr("INTERVAL 1 HOUR")).as("w_end"),
        col("event_id").as("purchase_id"))
    graft.ops.RangeJoin(clicks, windows, on = "ts",
      start = "w_start", end = "w_end")
      .orderBy(col("event_id"), col("purchase_id"))
  }

  /** Backward as-of join over the events stream: each click aligned with
    * the user's most recent purchase at or before it (ops/AsofJoin.scala —
    * union + one window pass, one shuffle; the right side is unique per
    * (user_id, ts) in this corpus). Oracle: DuckDB's NATIVE ASOF LEFT
    * JOIN — an independent algorithm, not a replica of this plan. */
  private def qAsofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = table(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        col("value").as("p_value"), col("ts").as("p_ts"))
    graft.ops.AsofJoin(clicks, purchases, on = "ts", by = Seq("user_id"))
      .orderBy(col("event_id"))
  }

  /** The SAME backward as-of computation through the broadcast strategy
    * (AsofJoin.enrichStatic): the purchase side is prepared into per-user
    * validity intervals and broadcast, so the click side is never
    * shuffled — the plan for a corpus-sized left against a dimension
    * right (AsofJoinSpec pins zero Exchange on the left). Identical
    * oracle as q_asof_join: two physical strategies, one semantics. */
  private def qAsofBroadcast(s: SparkSession, dir: String): DataFrame = {
    val ev = table(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        col("value").as("p_value"), col("ts").as("p_ts"))
    graft.ops.AsofJoin.enrichStatic(clicks, purchases, on = "ts", by = Seq("user_id"))
      .orderBy(col("event_id"))
  }

  /** Forward as-of join: each click aligned with the user's NEXT purchase
    * at or after it — the mirrored direction (desc-ordered carry, same
    * one-shuffle plan), against DuckDB's native `ASOF ... ON l.ts <= r.ts`
    * as the independent oracle. */
  private def qAsofForward(s: SparkSession, dir: String): DataFrame = {
    val ev = table(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        col("value").as("p_value"), col("ts").as("p_ts"))
    graft.ops.AsofJoin(clicks, purchases, on = "ts", by = Seq("user_id"),
      direction = "forward")
      .orderBy(col("event_id"))
  }

  /** Nearest-direction as-of join: the closer of the last purchase before
    * and the first after each click, ties to backward. The oracle derives
    * it from DuckDB's two directed ASOF joins plus a CASE pick with the
    * same tie rule — two independent formulations of "nearest". */
  private def qAsofNearest(s: SparkSession, dir: String): DataFrame = {
    val ev = table(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        col("value").as("p_value"), col("ts").as("p_ts"))
    graft.ops.AsofJoin(clicks, purchases, on = "ts", by = Seq("user_id"),
      direction = "nearest")
      .orderBy(col("event_id"))
  }

  /** Tolerance-bounded as-of join (merge_asof semantics): the last
    * purchase counts only within an hour of the click. The oracle is
    * DuckDB ASOF plus a CASE null-out — post-filtering the single best
    * match is exactly the operator's own argument for why a carried-match
    * filter implements tolerance. */
  private def qAsofTolerance(s: SparkSession, dir: String): DataFrame = {
    val ev = table(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        col("value").as("p_value"), col("ts").as("p_ts"))
    graft.ops.AsofJoin(clicks, purchases, on = "ts", by = Seq("user_id"),
      tolerance = Some("INTERVAL '1' HOUR"))
      .orderBy(col("event_id"))
  }

  // ------------------------------------------------------------- multimodal

  private def qMultimodal(s: SparkSession, dir: String): DataFrame =
    Multimodal.extractFeatures(Multimodal.syntheticMedia(s, 200))
      .select(col("media_id"), col("mime"), col("width"), col("height"),
        round(col("mean_luma"), 6).as("mean_luma"),
        size(col("feature")).as("feature_dim"),
        aggregate(transform(col("feature"), f => round(f * 1000).cast("long")),
          lit(0L), (a, x) => a + x).as("feature_checksum"))
      .orderBy(col("media_id"))

  /** Context-window chunking (TextAnalysis.chunk): documents fan out
    * into 200-char chunks with 50-char overlap (stride 150). The chunk
    * grid is plain 1-based-substring arithmetic both engines replay
    * bit-exactly; keep_text default drops the source text. */
  private def qChunk(s: SparkSession, dir: String): DataFrame =
    graft.scale.TextAnalysis.chunk(
      table(s, dir, "documents").select(col("doc_id"), col("text")),
      "text", size = 200, overlap = 50)
      .orderBy(col("doc_id"), col("chunk_index"))

  /** Shared oracle for q_chunk / q_job_chunk: the same 0,150,300,…
    * start grid via a lateral unnest(range), 1-based substring. */
  private val chunkOracle: String =
    """WITH t AS (SELECT doc_id, text FROM documents WHERE len(text) > 0)
      |SELECT doc_id, ((u.s - 1) // 150)::BIGINT AS chunk_index,
      |  substring(text, u.s, 200) AS chunk_text
      |FROM t, unnest(range(1, len(text) + 1, 150)) AS u(s)
      |ORDER BY doc_id, chunk_index""".stripMargin

  /** The SAME chunking through the declarative `chunk` component —
    * size/overlap config parsing and the keep_text=false default
    * end-to-end (text is gone from the component's out wire). */
  private def qJobChunk(s: SparkSession, dir: String): DataFrame = {
    val outDir = s"$tmpRoot/job_out_chunk"
    val docSchema = fieldsJson("doc_id" -> "integer", "text" -> "string",
      "lang" -> "string", "source" -> "string", "n_chars" -> "integer")
    val chunkSchema = fieldsJson("doc_id" -> "integer", "lang" -> "string",
      "source" -> "string", "n_chars" -> "integer",
      "chunk_index" -> "integer", "chunk_text" -> "string")
    val outSchema = fieldsJson("doc_id" -> "integer",
      "chunk_index" -> "integer", "chunk_text" -> "string")
    val jobJson =
      s"""{
         |  "name": "chunk_job",
         |  "components": [
         |    { "name": "rc", "comp_type": "read_parquet",
         |      "filepath": "$dir/documents.parquet",
         |      "routes": { "out": [ { "to": "ck", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $docSchema } },
         |    { "name": "ck", "comp_type": "chunk",
         |      "text_column": "text", "size": 200, "overlap": 50,
         |      "in_port_schemas": { "in": $docSchema },
         |      "routes": { "out": [ { "to": "proj", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $chunkSchema } },
         |    { "name": "proj", "comp_type": "sql",
         |      "query": "SELECT doc_id, chunk_index, chunk_text FROM proj_in",
         |      "in_port_schemas": { "in": $chunkSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $outSchema } },
         |    { "name": "w", "comp_type": "write_parquet", "filepath": "$outDir",
         |      "in_port_schemas": { "in": $outSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    readBack(s, built, outDir).orderBy(col("doc_id"), col("chunk_index"))
  }

  /** Seeded accent/punct mutation shared by the text_normalize gates:
    * every 4th document gets a prefix with uppercase accents, an
    * em-dash, and punctuation, so all four normalize steps have work.
    * The corpus text itself is ASCII (checked at gate design time) —
    * the unicode surface under test is this fixed literal, identical
    * on both engines. */
  private def normalizeSeed(text: Column, docId: Column): Column =
    when(docId % 4 === 0, concat(lit("ÀBÇ déf—Ghi!? "), text)).otherwise(text)

  /** Full-pipeline text normalization (TextAnalysis.normalizeText with
    * every step on): lowercase → accent-fold → punct-strip → whitespace
    * squeeze → trim. */
  private def qTextNormalize(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents").select(col("doc_id"),
      normalizeSeed(col("text"), col("doc_id")).as("text"))
    graft.scale.TextAnalysis.normalizeText(docs, "text",
      accentFold = true, stripPunct = true)
      .orderBy(col("doc_id"))
  }

  /** Shared oracle for q_text_normalize / q_job_text_normalize: the
    * identical step chain in DuckDB — lower, translate over the same
    * accent map literal, RE2 \p{L}/\p{N}/\s strip, squeeze, trim. */
  private val textNormalizeOracle: String = {
    val src = graft.scale.TextAnalysis.AccentSrc
    val dst = graft.scale.TextAnalysis.AccentDst
    s"""SELECT doc_id, trim(regexp_replace(regexp_replace(
       |    translate(lower(CASE WHEN doc_id % 4 = 0
       |      THEN 'ÀBÇ déf—Ghi!? ' || text ELSE text END), '$src', '$dst'),
       |    '[^\\p{L}\\p{N}\\s]', '', 'g'), '\\s+', ' ', 'g')) AS text
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** The SAME normalization through the declarative text_normalize
    * component — the seeded input is staged to parquet first, then the
    * accent_fold/strip_punct flags parse end-to-end. */
  private def qJobTextNormalize(s: SparkSession, dir: String): DataFrame = {
    val stage = s"$tmpRoot/job_in_text_normalize"
    val outDir = s"$tmpRoot/job_out_text_normalize"
    table(s, dir, "documents").select(col("doc_id"),
      normalizeSeed(col("text"), col("doc_id")).as("text"))
      .write.mode("overwrite").parquet(stage)
    val ioSchema = fieldsJson("doc_id" -> "integer", "text" -> "string")
    val jobJson =
      s"""{
         |  "name": "text_normalize_job",
         |  "components": [
         |    { "name": "r", "comp_type": "read_parquet", "filepath": "$stage",
         |      "routes": { "out": [ { "to": "tn", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $ioSchema } },
         |    { "name": "tn", "comp_type": "text_normalize",
         |      "accent_fold": true, "strip_punct": true,
         |      "in_port_schemas": { "in": $ioSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $ioSchema } },
         |    { "name": "w", "comp_type": "write_parquet", "filepath": "$outDir",
         |      "in_port_schemas": { "in": $ioSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    readBack(s, built, outDir).orderBy(col("doc_id"))
  }

  /** Seeded URL synthesis shared by the url_features gates: plain
    * https URLs, every 7th doc a userinfo+port+query variant, every
    * 11th a non-URL (all-null features). Identical string concat on
    * both engines. */
  private def urlSeed(docId: Column, source: Column): Column =
    when(docId % 11 === 0, lit("not a url"))
      .when(docId % 7 === 0, concat(lit("http://user@"), source,
        lit(".example.org:8080/a/b?q="), docId.cast("string")))
      .otherwise(concat(lit("https://"), source, lit(".example.org/docs/"),
        docId.cast("string")))

  /** URL decomposition (TextAnalysis.urlFeatures): scheme/host/domain/
    * path over the seeded URL mix — userinfo/port strip, the two-label
    * domain heuristic, and the all-null non-URL contract. */
  private def qUrlFeatures(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents").select(col("doc_id"),
      urlSeed(col("doc_id"), col("source")).as("url"))
    graft.scale.TextAnalysis.urlFeatures(docs, "url")
      .orderBy(col("doc_id"))
  }

  /** Shared oracle for q_url_features / q_job_url_features: the same
    * RE2/Java-common-subset regexes; nullif('') normalizes the
    * no-match conventions on both engines. */
  private val urlFeaturesOracle: String =
    """WITH u AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 11 = 0 THEN 'not a url'
      |         WHEN doc_id % 7 = 0 THEN 'http://user@' || source ||
      |           '.example.org:8080/a/b?q=' || doc_id::VARCHAR
      |         ELSE 'https://' || source || '.example.org/docs/' ||
      |           doc_id::VARCHAR END AS url
      |  FROM documents),
      |f AS (
      |  SELECT doc_id, url,
      |    nullif(regexp_extract(url,
      |      '^([A-Za-z][A-Za-z0-9+.-]*)://', 1), '') AS url_scheme,
      |    nullif(regexp_extract(url,
      |      '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)', 1),
      |      '') AS url_host
      |  FROM u)
      |SELECT doc_id, url, url_scheme, url_host,
      |  nullif(regexp_extract(url_host, '([^.]+\.[^.]+)$', 1), '') AS url_domain,
      |  nullif(regexp_extract(url,
      |    '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(/[^?#]*)', 1), '') AS url_path
      |FROM f ORDER BY doc_id""".stripMargin

  /** The SAME decomposition through the declarative url_features
    * component — url_column config and the default url_ prefix. */
  private def qJobUrlFeatures(s: SparkSession, dir: String): DataFrame = {
    val stage = s"$tmpRoot/job_in_url_features"
    val outDir = s"$tmpRoot/job_out_url_features"
    table(s, dir, "documents").select(col("doc_id"),
      urlSeed(col("doc_id"), col("source")).as("url"))
      .write.mode("overwrite").parquet(stage)
    val inSchema = fieldsJson("doc_id" -> "integer", "url" -> "string")
    val outSchema = fieldsJson("doc_id" -> "integer", "url" -> "string",
      "url_scheme" -> "string", "url_host" -> "string",
      "url_domain" -> "string", "url_path" -> "string")
    val jobJson =
      s"""{
         |  "name": "url_features_job",
         |  "components": [
         |    { "name": "r", "comp_type": "read_parquet", "filepath": "$stage",
         |      "routes": { "out": [ { "to": "uf", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $inSchema } },
         |    { "name": "uf", "comp_type": "url_features",
         |      "url_column": "url",
         |      "in_port_schemas": { "in": $inSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $outSchema } },
         |    { "name": "w", "comp_type": "write_parquet", "filepath": "$outDir",
         |      "in_port_schemas": { "in": $outSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    readBack(s, built, outDir).orderBy(col("doc_id"))
  }

  /** Global z-score outlier gate (Profile.outlierFilter): keep events
    * whose value sits within 3 stddev of the mean. Gate-design check:
    * the minimum |‖v−mean‖ − 3σ| boundary distance is 0.15 at sf0.01
    * and 0.017 at sf0.1 — 10 orders of magnitude above cross-engine
    * float-summation noise, so the kept set is stable. */
  private def qOutlierFilter(s: SparkSession, dir: String): DataFrame =
    graft.scale.Profile.outlierFilter(
      table(s, dir, "events").select(col("event_id"), col("event_type"),
        col("value")),
      "value", "zscore", k = 3.0)
      .orderBy(col("event_id"))

  private val outlierZscoreOracle: String =
    """WITH s AS (SELECT avg(value) m, stddev_samp(value) sd FROM events)
      |SELECT event_id, event_type, value FROM events, s
      |WHERE value IS NOT NULL AND abs(value - m) <= 3.0 * coalesce(sd, 0)
      |ORDER BY event_id""".stripMargin

  /** Per-source Tukey fences (method=iqr, k=1.5): exact percentile vs
    * DuckDB quantile_cont — same linear-interpolation definition, and
    * the fences sit >= 2.0 away from any n_chars value at sf0.01. */
  private def qOutlierFilterIqr(s: SparkSession, dir: String): DataFrame =
    graft.scale.Profile.outlierFilter(
      table(s, dir, "documents").select(col("doc_id"), col("source"),
        col("n_chars")),
      "n_chars", "iqr", k = 1.5, by = Seq("source"))
      .orderBy(col("doc_id"))

  private val outlierIqrOracle: String =
    """WITH s AS (
      |  SELECT source, quantile_cont(n_chars, 0.25) q1,
      |    quantile_cont(n_chars, 0.75) q3
      |  FROM documents GROUP BY source)
      |SELECT doc_id, source, n_chars
      |FROM documents JOIN s USING (source)
      |WHERE n_chars IS NOT NULL
      |  AND n_chars >= q1 - 1.5 * (q3 - q1)
      |  AND n_chars <= q3 + 1.5 * (q3 - q1)
      |ORDER BY doc_id""".stripMargin

  /** Per-event-type z-score fences through the declarative
    * outlier_filter component (k=2.5; boundary distance 0.067 at
    * sf0.01, 0.0068 at sf0.1 — still astronomically safe). */
  private def qJobOutlierFilter(s: SparkSession, dir: String): DataFrame = {
    val stage = s"$tmpRoot/job_in_outlier_filter"
    val outDir = s"$tmpRoot/job_out_outlier_filter"
    table(s, dir, "events").select(col("event_id"), col("event_type"),
      col("value"))
      .write.mode("overwrite").parquet(stage)
    val ioSchema = fieldsJson("event_id" -> "integer",
      "event_type" -> "string", "value" -> "float")
    val jobJson =
      s"""{
         |  "name": "outlier_filter_job",
         |  "components": [
         |    { "name": "r", "comp_type": "read_parquet", "filepath": "$stage",
         |      "routes": { "out": [ { "to": "of", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $ioSchema } },
         |    { "name": "of", "comp_type": "outlier_filter",
         |      "column": "value", "method": "zscore", "k": 2.5,
         |      "by": ["event_type"],
         |      "in_port_schemas": { "in": $ioSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $ioSchema } },
         |    { "name": "w", "comp_type": "write_parquet", "filepath": "$outDir",
         |      "in_port_schemas": { "in": $ioSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    readBack(s, built, outDir).orderBy(col("event_id"))
  }

  private val outlierByTypeOracle: String =
    """WITH s AS (
      |  SELECT event_type, avg(value) m, stddev_samp(value) sd
      |  FROM events GROUP BY event_type)
      |SELECT event_id, event_type, value
      |FROM events JOIN s USING (event_type)
      |WHERE value IS NOT NULL AND abs(value - m) <= 2.5 * coalesce(sd, 0)
      |ORDER BY event_id""".stripMargin

  /** Contiguous-fill packing (RelationalOps.packUnits): documents into
    * ~5000-char units per language, md5("pk:"+doc_id) layout order —
    * the identical md5 string and RANGE-frame running sum replay in
    * DuckDB, and the floor division is exact far below 2^53. */
  private def qPackUnits(s: SparkSession, dir: String): DataFrame =
    graft.ops.RelationalOps.packUnits(
      table(s, dir, "documents").select(col("doc_id"), col("lang"),
        col("n_chars")),
      idCol = "doc_id", costCol = "n_chars", capacity = 5000L,
      by = Seq("lang"), seed = "pk")
      .orderBy(col("doc_id"))

  /** Shared oracle for q_pack_units / q_job_pack_units. */
  private val packUnitsOracle: String =
    """SELECT doc_id, lang, n_chars,
      |  floor((rc - coalesce(n_chars, 0)) / (5000.0::DOUBLE))::BIGINT AS unit_id
      |FROM (
      |  SELECT doc_id, lang, n_chars,
      |    sum(coalesce(n_chars, 0))
      |      OVER (PARTITION BY lang
      |            ORDER BY md5('pk:' || doc_id::VARCHAR), doc_id) AS rc
      |  FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** The SAME packing through the declarative pack_units component —
    * capacity/by/seed config parsing end-to-end. */
  private def qJobPackUnits(s: SparkSession, dir: String): DataFrame = {
    val outDir = s"$tmpRoot/job_out_pack_units"
    val docSchema = fieldsJson("doc_id" -> "integer", "text" -> "string",
      "lang" -> "string", "source" -> "string", "n_chars" -> "integer")
    val packSchema = fieldsJson("doc_id" -> "integer", "text" -> "string",
      "lang" -> "string", "source" -> "string", "n_chars" -> "integer",
      "unit_id" -> "integer")
    val outSchema = fieldsJson("doc_id" -> "integer", "lang" -> "string",
      "n_chars" -> "integer", "unit_id" -> "integer")
    val jobJson =
      s"""{
         |  "name": "pack_units_job",
         |  "components": [
         |    { "name": "rc", "comp_type": "read_parquet",
         |      "filepath": "$dir/documents.parquet",
         |      "routes": { "out": [ { "to": "pk", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $docSchema } },
         |    { "name": "pk", "comp_type": "pack_units",
         |      "id_column": "doc_id", "cost_column": "n_chars",
         |      "capacity": 5000, "by": ["lang"], "seed": "pk",
         |      "in_port_schemas": { "in": $docSchema },
         |      "routes": { "out": [ { "to": "proj", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $packSchema } },
         |    { "name": "proj", "comp_type": "sql",
         |      "query": "SELECT doc_id, lang, n_chars, unit_id FROM proj_in",
         |      "in_port_schemas": { "in": $packSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $outSchema } },
         |    { "name": "w", "comp_type": "write_parquet", "filepath": "$outDir",
         |      "in_port_schemas": { "in": $outSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    readBack(s, built, outDir).orderBy(col("doc_id"))
  }

  /** L2 normalization (Similarity.l2NormalizeVectors): the embeddings
    * table is pre-normalized, so the gate first scales each vector by
    * (vec_id % 5 + 1) to make the math non-trivial, then pins the norm
    * plus two unit-vector probes (left-to-right element sum and first
    * element). Both engines do the identical cast-to-double fold
    * (ArrayDot's accumulation = list_reduce with a 0.0 seed). */
  private def qVecNormalize(s: SparkSession, dir: String): DataFrame = {
    val scaled = table(s, dir, "embeddings").select(col("vec_id"),
      transform(col("embedding"),
        x => x.cast("double") * ((col("vec_id") % 5) + 1)).as("v2"))
    graft.scale.Similarity.l2NormalizeVectors(scaled, "v2")
      .select(col("vec_id"),
        round(col("vec_norm"), 6).as("vec_norm"),
        round(aggregate(col("vec_unit"), lit(0.0), (a, x) => a + x), 6)
          .as("unit_sum"),
        round(element_at(col("vec_unit"), 1), 6).as("unit_first"))
      .orderBy(col("vec_id"))
  }

  private val vecNormalizeOracle: String =
    """WITH v AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> x::DOUBLE * (vec_id % 5 + 1)) AS v2
      |  FROM embeddings),
      |n AS (
      |  SELECT vec_id, v2, sqrt(list_reduce(list_prepend(0.0::DOUBLE,
      |      list_transform(v2, x -> x * x)), (a,b) -> a + b)) AS nrm
      |  FROM v)
      |SELECT vec_id, round(nrm, 6) AS vec_norm,
      |  round(list_reduce(list_prepend(0.0::DOUBLE,
      |    list_transform(v2, x -> x / nrm)), (a,b) -> a + b), 6) AS unit_sum,
      |  round(v2[1] / nrm, 6) AS unit_first
      |FROM n ORDER BY vec_id""".stripMargin

  /** Symmetric int8 quantization (Similarity.quantizeVectorsInt8):
    * per-row scale = max|v|/127, bytes pinned through their exact sum
    * and min/max (integer arithmetic — no float compare at all on the
    * quantized values; HALF_UP rounding matches DuckDB's round). */
  private def qVecQuantize(s: SparkSession, dir: String): DataFrame =
    graft.scale.Similarity.quantizeVectorsInt8(
      table(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
      "embedding")
      .select(col("vec_id"),
        round(col("vec_scale"), 6).as("vec_scale"),
        aggregate(col("vec_q8"), lit(0L), (a, x) => a + x).as("q_sum"),
        array_min(col("vec_q8")).cast("long").as("q_min"),
        array_max(col("vec_q8")).cast("long").as("q_max"))
      .orderBy(col("vec_id"))

  /** Shared oracle for q_vec_quantize / q_job_embedding_transform. */
  private val vecQuantizeOracle: String =
    """WITH q AS (
      |  SELECT vec_id, embedding,
      |    list_reduce(list_prepend(0.0::DOUBLE,
      |      list_transform(embedding, x -> abs(x::DOUBLE))),
      |      (a,b) -> greatest(a,b)) / 127.0 AS scale
      |  FROM embeddings),
      |z AS (
      |  SELECT vec_id, scale,
      |    list_transform(embedding, x -> round(x::DOUBLE / scale)::BIGINT) AS qv
      |  FROM q)
      |SELECT vec_id, round(scale, 6) AS vec_scale,
      |  list_reduce(list_prepend(0::BIGINT, qv), (a,b) -> a + b) AS q_sum,
      |  list_aggregate(qv, 'min')::BIGINT AS q_min,
      |  list_aggregate(qv, 'max')::BIGINT AS q_max
      |FROM z ORDER BY vec_id""".stripMargin

  /** The SAME quantization through the declarative embedding_transform
    * component (op=quantize), probes computed by the sql component's
    * HOF aggregate — the int8 wire carries a real array<byte> column
    * between components. */
  private def qJobEmbeddingTransform(s: SparkSession, dir: String): DataFrame = {
    val outDir = s"$tmpRoot/job_out_embedding_transform"
    val embSchema = ivfEmbSchema
    val qSchema =
      """{ "fields": [
        |  { "name": "vec_id", "data_type": "integer" },
        |  { "name": "embedding", "data_type": "array",
        |    "item": { "name": "item", "data_type": "float" } },
        |  { "name": "label", "data_type": "string" },
        |  { "name": "vec_scale", "data_type": "float" },
        |  { "name": "vec_q8", "data_type": "array", "nullable": true,
        |    "item": { "name": "item", "data_type": "integer" } } ] }""".stripMargin
    val outSchema = fieldsJson("vec_id" -> "integer", "vec_scale" -> "float",
      "q_sum" -> "integer", "q_min" -> "integer", "q_max" -> "integer")
    val jobJson =
      s"""{
         |  "name": "embedding_transform_job",
         |  "components": [
         |    { "name": "r", "comp_type": "read_parquet",
         |      "filepath": "$dir/embeddings.parquet",
         |      "routes": { "out": [ { "to": "et", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $embSchema } },
         |    { "name": "et", "comp_type": "embedding_transform",
         |      "op": "quantize", "vector_column": "embedding",
         |      "in_port_schemas": { "in": $embSchema },
         |      "routes": { "out": [ { "to": "proj", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $qSchema } },
         |    { "name": "proj", "comp_type": "sql",
         |      "query": "SELECT vec_id, round(vec_scale, 6) AS vec_scale, aggregate(vec_q8, CAST(0 AS BIGINT), (a, x) -> a + x) AS q_sum, CAST(array_min(vec_q8) AS BIGINT) AS q_min, CAST(array_max(vec_q8) AS BIGINT) AS q_max FROM proj_in",
         |      "in_port_schemas": { "in": $qSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $outSchema } },
         |    { "name": "w", "comp_type": "write_parquet", "filepath": "$outDir",
         |      "in_port_schemas": { "in": $outSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    readBack(s, built, outDir).orderBy(col("vec_id"))
  }

  /** Quality-aware exact-dedup winner (Dedup.exact keepBy): the corpus
    * has no natural exact duplicates (checked at gate design time), so
    * the gate seeds them — every document gets a case/whitespace
    * variant at doc_id+10000 with quality+50 (same normalized key,
    * different bytes and score). keep_by [[quality,-1]] must pick every
    * variant over its original; the oracle replays the UNION ALL and
    * the row_number rule directly. */
  private def qDedupKeepBest(s: SparkSession, dir: String): DataFrame = {
    val both = dedupKeepBestInput(s, dir)
    Dedup.exact(both, "text", "doc_id", keepBy = Seq(("quality", -1)))
      .select(col("doc_id"), col("quality"))
      .orderBy(col("doc_id"))
  }

  private def dedupKeepBestInput(s: SparkSession, dir: String): DataFrame = {
    val base = table(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("n_chars"))
    base.select(col("doc_id"), col("text"), col("n_chars").as("quality"))
      .unionAll(base.select((col("doc_id") + 10000).as("doc_id"),
        concat(lit("  "), upper(col("text")), lit(" ")).as("text"),
        (col("n_chars") + 50).as("quality")))
  }

  /** Shared oracle for q_dedup_keep_best / q_job_dedup_keep_best. */
  private val dedupKeepBestOracle: String =
    """WITH seeded AS (
      |  SELECT doc_id, text, n_chars AS quality FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000, '  ' || upper(text) || ' ', n_chars + 50
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, quality, row_number() OVER (
      |    PARTITION BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
      |    ORDER BY quality DESC, doc_id) AS rn
      |  FROM seeded)
      |SELECT doc_id, quality FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** The SAME policy through the declarative dedup component's keep_by
    * — the seeded duplicates are built by a sql component inside the
    * job, so the whole pipeline (seed → dedup keep_by → project) is
    * config-driven. */
  private def qJobDedupKeepBest(s: SparkSession, dir: String): DataFrame = {
    val outDir = s"$tmpRoot/job_out_dedup_keep_best"
    val docSchema = fieldsJson("doc_id" -> "integer", "text" -> "string",
      "lang" -> "string", "source" -> "string", "n_chars" -> "integer")
    val bothSchema = fieldsJson("doc_id" -> "integer", "text" -> "string",
      "quality" -> "integer")
    val outSchema = fieldsJson("doc_id" -> "integer", "quality" -> "integer")
    val jobJson =
      s"""{
         |  "name": "dedup_keep_best_job",
         |  "components": [
         |    { "name": "r", "comp_type": "read_parquet",
         |      "filepath": "$dir/documents.parquet",
         |      "routes": { "out": [ { "to": "seed", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $docSchema } },
         |    { "name": "seed", "comp_type": "sql",
         |      "query": "SELECT doc_id, text, n_chars AS quality FROM seed_in UNION ALL SELECT doc_id + 10000, concat('  ', upper(text), ' '), n_chars + 50 FROM seed_in",
         |      "in_port_schemas": { "in": $docSchema },
         |      "routes": { "out": [ { "to": "dd", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $bothSchema } },
         |    { "name": "dd", "comp_type": "dedup", "method": "exact",
         |      "text_column": "text", "id_column": "doc_id",
         |      "keep_by": [ ["quality", -1] ],
         |      "in_port_schemas": { "in": $bothSchema },
         |      "routes": { "out": [ { "to": "proj", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $bothSchema } },
         |    { "name": "proj", "comp_type": "sql",
         |      "query": "SELECT doc_id, quality FROM proj_in",
         |      "in_port_schemas": { "in": $bothSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $outSchema } },
         |    { "name": "w", "comp_type": "write_parquet", "filepath": "$outDir",
         |      "in_port_schemas": { "in": $outSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    readBack(s, built, outDir).orderBy(col("doc_id"))
  }

  /** Per-row weighted sampling (RelationalOps.hashSampleWeighted):
    * rate = n_chars/300 (clamps above 1 for long docs — the clamp
    * contract is ON the gate path), NULL rate every 13th doc (the
    * null-drop contract likewise). The bucket is the identical
    * md5("w17:"+id) arithmetic as the fixed-rate sample gates; the
    * threshold round replays exactly (same double in, same HALF_UP). */
  private def qSampleWeighted(s: SparkSession, dir: String): DataFrame = {
    val staged = table(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        when(col("doc_id") % 13 === 0, lit(null).cast("double"))
          .otherwise(col("n_chars") / lit(300.0)).as("rate"))
    graft.ops.RelationalOps.hashSampleWeighted(staged, "doc_id", "rate",
      seed = "w17")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Shared oracle for q_sample_weighted / q_job_sample_weighted. */
  private val sampleWeightedOracle: String =
    """WITH r AS (
      |  SELECT doc_id, lang, n_chars,
      |    CASE WHEN doc_id % 13 = 0 THEN NULL
      |         ELSE n_chars / 300.0 END AS rate,
      |    ('0x' || substr(md5('w17:' || doc_id::VARCHAR), 1, 8))::BIGINT
      |      % 10000 AS bucket
      |  FROM documents)
      |SELECT doc_id, lang, n_chars FROM r
      |WHERE rate IS NOT NULL
      |  AND bucket < round(greatest(least(rate, 1.0), 0.0) * 10000)
      |ORDER BY doc_id""".stripMargin

  /** The SAME weighted draw through the sample component's rate_column
    * face — the rate is staged by a sql component, so the whole
    * quality-weighted pipeline is config-driven. */
  private def qJobSampleWeighted(s: SparkSession, dir: String): DataFrame = {
    val outDir = s"$tmpRoot/job_out_sample_weighted"
    val docSchema = fieldsJson("doc_id" -> "integer", "text" -> "string",
      "lang" -> "string", "source" -> "string", "n_chars" -> "integer")
    val rateSchema =
      """{ "fields": [
        |  { "name": "doc_id", "data_type": "integer" },
        |  { "name": "lang", "data_type": "string" },
        |  { "name": "n_chars", "data_type": "integer" },
        |  { "name": "rate", "data_type": "float", "nullable": true } ] }""".stripMargin
    val outSchema = fieldsJson("doc_id" -> "integer", "lang" -> "string",
      "n_chars" -> "integer")
    val jobJson =
      s"""{
         |  "name": "sample_weighted_job",
         |  "components": [
         |    { "name": "r", "comp_type": "read_parquet",
         |      "filepath": "$dir/documents.parquet",
         |      "routes": { "out": [ { "to": "rate", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $docSchema } },
         |    { "name": "rate", "comp_type": "sql",
         |      "query": "SELECT doc_id, lang, n_chars, CASE WHEN doc_id % 13 = 0 THEN CAST(NULL AS DOUBLE) ELSE n_chars / 300.0 END AS rate FROM rate_in",
         |      "in_port_schemas": { "in": $docSchema },
         |      "routes": { "out": [ { "to": "sm", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $rateSchema } },
         |    { "name": "sm", "comp_type": "sample", "id_column": "doc_id",
         |      "rate_column": "rate", "seed": "w17",
         |      "in_port_schemas": { "in": $rateSchema },
         |      "routes": { "out": [ { "to": "proj", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $rateSchema } },
         |    { "name": "proj", "comp_type": "sql",
         |      "query": "SELECT doc_id, lang, n_chars FROM proj_in",
         |      "in_port_schemas": { "in": $rateSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $outSchema } },
         |    { "name": "w", "comp_type": "write_parquet", "filepath": "$outDir",
         |      "in_port_schemas": { "in": $outSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    readBack(s, built, outDir).orderBy(col("doc_id"))
  }

  /** Byte-entropy quality signal (TextAnalysis.charEntropy — the
    * codegen'd CharEntropy kernel): every 9th doc becomes a repeated
    * "ab" pad (entropy exactly 1.0), every 17th an empty string (0.0),
    * the rest keep their prose (~4 bits/byte). The corpus is ASCII
    * (checked at gate design time), so DuckDB's per-character frequency
    * replay equals the byte histogram; both engines round to 6 (the
    * fold order differs across engines only in float round-off). */
  private def qTextEntropy(s: SparkSession, dir: String): DataFrame = {
    val seeded = table(s, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 9 === 0, lit("ab" * 50))
        .when(col("doc_id") % 17 === 0, lit(""))
        .otherwise(col("text")).as("text"))
    seeded.select(col("doc_id"),
      round(graft.scale.TextAnalysis.charEntropy(col("text")), 6)
        .as("char_entropy"))
      .orderBy(col("doc_id"))
  }

  /** Shared oracle for q_text_entropy / q_job_text_entropy. */
  private val textEntropyOracle: String =
    """WITH seeded AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 9 = 0 THEN repeat('ab', 50)
      |         WHEN doc_id % 17 = 0 THEN ''
      |         ELSE text END AS text
      |  FROM documents),
      |chars AS (
      |  SELECT doc_id, unnest(str_split(text, '')) AS ch
      |  FROM seeded WHERE len(text) > 0),
      |freq AS (SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY doc_id, ch),
      |tot AS (SELECT doc_id, sum(c) AS n FROM freq GROUP BY doc_id),
      |e AS (
      |  SELECT f.doc_id, -sum((c::DOUBLE / n) * log2(c::DOUBLE / n)) AS ent
      |  FROM freq f JOIN tot USING (doc_id) GROUP BY f.doc_id)
      |SELECT s.doc_id, round(coalesce(e.ent, 0.0), 6) AS char_entropy
      |FROM seeded s LEFT JOIN e ON s.doc_id = e.doc_id
      |ORDER BY s.doc_id""".stripMargin

  /** The SAME signal through the text_analysis component's entropy=true
    * opt-in (schema-compat discipline: the column appears only when
    * asked for). */
  private def qJobTextEntropy(s: SparkSession, dir: String): DataFrame = {
    val outDir = s"$tmpRoot/job_out_text_entropy"
    val docSchema = fieldsJson("doc_id" -> "integer", "text" -> "string",
      "lang" -> "string", "source" -> "string", "n_chars" -> "integer")
    val seedSchema = fieldsJson("doc_id" -> "integer", "text" -> "string")
    val taSchema = fieldsJson("doc_id" -> "integer", "text" -> "string",
      "n_tokens" -> "integer", "n_tokens_bpe" -> "integer",
      "punct_ratio" -> "float", "stopword_ratio" -> "float",
      "quality" -> "float", "lang_pred" -> "string",
      "fingerprint" -> "string", "char_entropy" -> "float")
    val outSchema = fieldsJson("doc_id" -> "integer", "char_entropy" -> "float")
    val seedSql = "SELECT doc_id, CASE WHEN doc_id % 9 = 0 " +
      "THEN repeat('ab', 50) WHEN doc_id % 17 = 0 THEN '' " +
      "ELSE text END AS text FROM seed_in"
    val jobJson =
      s"""{
         |  "name": "text_entropy_job",
         |  "components": [
         |    { "name": "rc", "comp_type": "read_parquet",
         |      "filepath": "$dir/documents.parquet",
         |      "routes": { "out": [ { "to": "seed", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $docSchema } },
         |    { "name": "seed", "comp_type": "sql",
         |      "query": ${graft.util.JsonStr.quote(seedSql)},
         |      "in_port_schemas": { "in": $docSchema },
         |      "routes": { "out": [ { "to": "ta", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $seedSchema } },
         |    { "name": "ta", "comp_type": "text_analysis", "entropy": true,
         |      "in_port_schemas": { "in": $seedSchema },
         |      "routes": { "out": [ { "to": "proj", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $taSchema } },
         |    { "name": "proj", "comp_type": "sql",
         |      "query": "SELECT doc_id, round(char_entropy, 6) AS char_entropy FROM proj_in",
         |      "in_port_schemas": { "in": $taSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $outSchema } },
         |    { "name": "w", "comp_type": "write_parquet", "filepath": "$outDir",
         |      "in_port_schemas": { "in": $outSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    readBack(s, built, outDir).orderBy(col("doc_id"))
  }

  /** Incremental exact dedup (Dedup.exactAgainst): the reference is a
    * case/whitespace VARIANT of every 3rd document (same normalized
    * key, different bytes — proving the key rule, not byte equality),
    * so exactly the docs with doc_id % 3 != 0 survive. */
  private def qDedupAgainst(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("n_chars"))
    val ref = docs.filter(col("doc_id") % 3 === 0)
      .select(concat(lit("  "), upper(col("text")), lit(" ")).as("text"))
    Dedup.exactAgainst(docs, ref, "text")
      .select(col("doc_id"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Shared oracle for q_dedup_against / q_job_dedup_against. */
  private val dedupAgainstOracle: String =
    """SELECT d.doc_id, d.n_chars FROM documents d
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM documents r WHERE r.doc_id % 3 = 0
      |    AND regexp_replace(lower(trim('  ' || upper(r.text) || ' ')),
      |          '\s+', ' ', 'g')
      |      = regexp_replace(lower(trim(d.text)), '\s+', ' ', 'g'))
      |ORDER BY d.doc_id""".stripMargin

  /** The bloom strategy of the same drop (Dedup.exactAgainstBloom):
    * bloom negatives skip the exchange, candidates pay the exact join —
    * identical survivors by construction, checked against the identical
    * oracle. */
  private def qDedupAgainstBloom(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("n_chars"))
    val ref = docs.filter(col("doc_id") % 3 === 0)
      .select(concat(lit("  "), upper(col("text")), lit(" ")).as("text"))
    Dedup.exactAgainstBloom(docs, ref, "text")
      .select(col("doc_id"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** The SAME incremental dedup through the declarative dedup_against
    * component — the reference variant is built by a sql component and
    * wired to the `reference` port. */
  private def qJobDedupAgainst(s: SparkSession, dir: String): DataFrame = {
    val outDir = s"$tmpRoot/job_out_dedup_against"
    val docSchema = fieldsJson("doc_id" -> "integer", "text" -> "string",
      "lang" -> "string", "source" -> "string", "n_chars" -> "integer")
    val refSchema = fieldsJson("text" -> "string")
    val outSchema = fieldsJson("doc_id" -> "integer", "n_chars" -> "integer")
    val refSql = "SELECT concat('  ', upper(text), ' ') AS text " +
      "FROM ref_in WHERE doc_id % 3 = 0"
    val jobJson =
      s"""{
         |  "name": "dedup_against_job",
         |  "components": [
         |    { "name": "rc", "comp_type": "read_parquet",
         |      "filepath": "$dir/documents.parquet",
         |      "routes": { "out": [ { "to": "ref", "in_port": "in" },
         |                           { "to": "da", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $docSchema } },
         |    { "name": "ref", "comp_type": "sql",
         |      "query": ${graft.util.JsonStr.quote(refSql)},
         |      "in_port_schemas": { "in": $docSchema },
         |      "routes": { "out": [ { "to": "da", "in_port": "reference" } ] },
         |      "out_port_schemas": { "out": $refSchema } },
         |    { "name": "da", "comp_type": "dedup_against",
         |      "text_column": "text",
         |      "in_port_schemas": { "in": $docSchema, "reference": $refSchema },
         |      "routes": { "out": [ { "to": "proj", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $docSchema } },
         |    { "name": "proj", "comp_type": "sql",
         |      "query": "SELECT doc_id, n_chars FROM proj_in",
         |      "in_port_schemas": { "in": $docSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $outSchema } },
         |    { "name": "w", "comp_type": "write_parquet", "filepath": "$outDir",
         |      "in_port_schemas": { "in": $outSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    readBack(s, built, outDir).orderBy(col("doc_id"))
  }

  /** Corpus-level duplicate-line removal (Dedup.lineDedup): every doc
    * gets a newsletter line appended and every 4th a licence footer —
    * byte-exact cross-document repeats, the boilerplate shape — so
    * both seeded lines (plus any naturally repeated fixture lines) are
    * hot at max_docs=1 and get stripped, while each doc's own prose
    * survives. concat_ws skips the null CASE arm on both engines. */
  private def qLineDedup(s: SparkSession, dir: String): DataFrame = {
    val seeded = table(s, dir, "documents")
      .select(col("doc_id"),
        concat_ws("\n", col("text"), lit("Subscribe to our newsletter"),
          when(col("doc_id") % 4 === 0,
            lit("(c) example.com all rights reserved"))).as("text"),
        col("lang"))
    Dedup.lineDedup(seeded, "text", "doc_id")
      .orderBy(col("doc_id"))
  }

  /** The strategy=set narrow rewrite of the same strip
    * (Dedup.lineDedupSet): hot set collected once, remove_in_set →
    * array_join as one codegen'd projection — identical survivors,
    * checked against the identical oracle. */
  private def qLineDedupSet(s: SparkSession, dir: String): DataFrame = {
    val seeded = table(s, dir, "documents")
      .select(col("doc_id"),
        concat_ws("\n", col("text"), lit("Subscribe to our newsletter"),
          when(col("doc_id") % 4 === 0,
            lit("(c) example.com all rights reserved"))).as("text"),
        col("lang"))
    Dedup.lineDedupSet(seeded, "text", "doc_id")
      .orderBy(col("doc_id"))
  }

  /** The audit face (Dedup.hotLineReport, emit=hot): the hot lines the
    * same seeding produces, with distinct-doc counts — the newsletter
    * line in every doc, the licence footer in every 4th, plus any
    * naturally duplicated fixture texts. */
  private def qLineDedupHot(s: SparkSession, dir: String): DataFrame = {
    val seeded = table(s, dir, "documents")
      .select(col("doc_id"),
        concat_ws("\n", col("text"), lit("Subscribe to our newsletter"),
          when(col("doc_id") % 4 === 0,
            lit("(c) example.com all rights reserved"))).as("text"))
    Dedup.hotLineReport(seeded, "text", "doc_id")
      .orderBy(col("n_docs").desc, col("line"))
  }

  /** Oracle for q_line_dedup_hot: the census half of lineDedupOracle. */
  private val lineDedupHotOracle: String =
    """WITH seeded AS (
      |  SELECT doc_id,
      |    concat_ws(chr(10), text, 'Subscribe to our newsletter',
      |      CASE WHEN doc_id % 4 = 0
      |           THEN '(c) example.com all rights reserved' END) AS text
      |  FROM documents),
      |sp AS (SELECT doc_id, str_split(text, chr(10)) AS ls
      |       FROM seeded WHERE text IS NOT NULL),
      |lines AS (
      |  SELECT doc_id, ls[u.i] AS line
      |  FROM sp, unnest(range(1, len(ls) + 1)) AS u(i))
      |SELECT line, count(*) AS n_docs FROM (
      |  SELECT DISTINCT doc_id, line FROM lines WHERE trim(line) <> '')
      |GROUP BY line HAVING count(*) > 1
      |ORDER BY n_docs DESC, line""".stripMargin

  /** unit=paragraph on the same operator (C4-style spans): the seeded
    * footer paragraph carries an INTERNAL line break — invisible to
    * unit=line (its two halves are distinct lines but also hot;
    * the unit's point is that the BLOCK is the boilerplate) — and both
    * seeded blocks strip as blank-line-separated units. */
  private def qLineDedupPara(s: SparkSession, dir: String): DataFrame = {
    val seeded = table(s, dir, "documents")
      .select(col("doc_id"),
        concat_ws("\n\n", col("text"), lit("Follow us on social media"),
          when(col("doc_id") % 5 === 0,
            lit("All rights reserved.\nDo not redistribute."))).as("text"),
        col("lang"))
    Dedup.lineDedup(seeded, "text", "doc_id", unit = "paragraph")
      .orderBy(col("doc_id"))
  }

  /** Oracle for q_line_dedup_para: the paragraph-unit census/reassembly
    * replayed over the two-char literal delimiter. */
  private val lineDedupParaOracle: String =
    """WITH seeded AS (
      |  SELECT doc_id,
      |    concat_ws(chr(10) || chr(10), text, 'Follow us on social media',
      |      CASE WHEN doc_id % 5 = 0
      |           THEN 'All rights reserved.' || chr(10) ||
      |                'Do not redistribute.' END) AS text,
      |    lang
      |  FROM documents),
      |sp AS (SELECT doc_id, lang,
      |         str_split(text, chr(10) || chr(10)) AS ls
      |       FROM seeded WHERE text IS NOT NULL),
      |paras AS (
      |  SELECT doc_id, lang, u.i AS pos, ls[u.i] AS p
      |  FROM sp, unnest(range(1, len(ls) + 1)) AS u(i)),
      |hot AS (
      |  SELECT p FROM (
      |    SELECT DISTINCT doc_id, p FROM paras WHERE trim(p) <> '')
      |  GROUP BY p HAVING count(*) > 1)
      |SELECT l.doc_id,
      |  string_agg(l.p, chr(10) || chr(10) ORDER BY l.pos) AS text,
      |  l.lang
      |FROM paras l
      |WHERE NOT EXISTS (SELECT 1 FROM hot h WHERE h.p = l.p)
      |GROUP BY l.doc_id, l.lang
      |ORDER BY l.doc_id""".stripMargin

  /** Shared oracle for q_line_dedup / q_job_line_dedup: same seeding,
    * per-document distinct census of non-blank lines, > 1 docs = hot,
    * positional reassembly via a lateral unnest(range) index. */
  private val lineDedupOracle: String =
    """WITH seeded AS (
      |  SELECT doc_id,
      |    concat_ws(chr(10), text, 'Subscribe to our newsletter',
      |      CASE WHEN doc_id % 4 = 0
      |           THEN '(c) example.com all rights reserved' END) AS text,
      |    lang
      |  FROM documents),
      |sp AS (SELECT doc_id, lang, str_split(text, chr(10)) AS ls
      |       FROM seeded WHERE text IS NOT NULL),
      |lines AS (
      |  SELECT doc_id, lang, u.i AS pos, ls[u.i] AS line
      |  FROM sp, unnest(range(1, len(ls) + 1)) AS u(i)),
      |hot AS (
      |  SELECT line FROM (
      |    SELECT DISTINCT doc_id, line FROM lines WHERE trim(line) <> '')
      |  GROUP BY line HAVING count(*) > 1)
      |SELECT l.doc_id,
      |  string_agg(l.line, chr(10) ORDER BY l.pos) AS text,
      |  l.lang
      |FROM lines l
      |WHERE NOT EXISTS (SELECT 1 FROM hot h WHERE h.line = l.line)
      |GROUP BY l.doc_id, l.lang
      |ORDER BY l.doc_id""".stripMargin

  /** The SAME boilerplate strip through the declarative line_dedup
    * component — seeding done by a sql component, default max_docs. */
  private def qJobLineDedup(s: SparkSession, dir: String): DataFrame =
    jobLineDedup(s, dir, broadcast = true)

  /** The broadcast=false wiring of the same component: the hot census
    * joins without the broadcast hint (the escape hatch for a hot set
    * that outgrows the driver) — same survivors, same oracle; the
    * non-broadcast PLAN shape is pinned in CurationOpsSpec. */
  private def qJobLineDedupShuffled(s: SparkSession, dir: String): DataFrame =
    jobLineDedup(s, dir, broadcast = false)

  private def jobLineDedup(s: SparkSession, dir: String,
                           broadcast: Boolean): DataFrame = {
    val outDir = s"$tmpRoot/job_out_line_dedup" +
      (if (broadcast) "" else "_shuffled")
    val readSchema = fieldsJson("doc_id" -> "integer", "text" -> "string",
      "lang" -> "string", "source" -> "string", "n_chars" -> "integer")
    val docSchema = fieldsJson("doc_id" -> "integer", "text" -> "string",
      "lang" -> "string")
    val seedSql = "SELECT doc_id, concat_ws(chr(10), text, " +
      "'Subscribe to our newsletter', CASE WHEN doc_id % 4 = 0 " +
      "THEN '(c) example.com all rights reserved' END) AS text, lang " +
      "FROM seed_in"
    val jobJson =
      s"""{
         |  "name": "line_dedup_job",
         |  "components": [
         |    { "name": "rc", "comp_type": "read_parquet",
         |      "filepath": "$dir/documents.parquet",
         |      "routes": { "out": [ { "to": "seed", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $readSchema } },
         |    { "name": "seed", "comp_type": "sql",
         |      "query": ${graft.util.JsonStr.quote(seedSql)},
         |      "in_port_schemas": { "in": $readSchema },
         |      "routes": { "out": [ { "to": "ld", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $docSchema } },
         |    { "name": "ld", "comp_type": "line_dedup",
         |      "text_column": "text", "id_column": "doc_id",
         |      "broadcast": $broadcast,
         |      "in_port_schemas": { "in": $docSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $docSchema } },
         |    { "name": "w", "comp_type": "write_parquet", "filepath": "$outDir",
         |      "in_port_schemas": { "in": $docSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    readBack(s, built, outDir).orderBy(col("doc_id"))
  }

  /** Top-40 corpus bigrams (TextAnalysis.topGrams n=2): every gram
    * position counted from the lowercase \s+ tokenization — the
    * boilerplate-detection stat. Deterministic (count desc, gram asc)
    * boundary on both engines. */
  private def qTextTopkGrams(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.topGrams(table(s, dir, "documents"), "text", k = 40, n = 2)

  /** Shared oracle for q_text_topk_grams / q_job_top_tokens. */
  private val textTopkGramsOracle: String =
    """WITH toks AS (
      |  SELECT list_filter(string_split_regex(lower(text), '\s+'),
      |    x -> len(x) > 0) AS tk
      |  FROM documents),
      |grams AS (
      |  SELECT unnest([array_to_string(tk[i:i+1], ' ')
      |    for i in range(1, len(tk))]) AS gram
      |  FROM toks WHERE len(tk) >= 2)
      |SELECT gram, count(*)::BIGINT AS n_occurrences
      |FROM grams GROUP BY gram
      |ORDER BY n_occurrences DESC, gram LIMIT 40""".stripMargin

  /** The SAME stat through the declarative top_tokens component
    * (k/n config parsing end-to-end). */
  private def qJobTopTokens(s: SparkSession, dir: String): DataFrame = {
    val outDir = s"$tmpRoot/job_out_top_tokens"
    val docSchema = fieldsJson("doc_id" -> "integer", "text" -> "string",
      "lang" -> "string", "source" -> "string", "n_chars" -> "integer")
    val outSchema = fieldsJson("gram" -> "string", "n_occurrences" -> "integer")
    val jobJson =
      s"""{
         |  "name": "top_tokens_job",
         |  "components": [
         |    { "name": "rc", "comp_type": "read_parquet",
         |      "filepath": "$dir/documents.parquet",
         |      "routes": { "out": [ { "to": "tt", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $docSchema } },
         |    { "name": "tt", "comp_type": "top_tokens", "k": 40, "n": 2,
         |      "in_port_schemas": { "in": $docSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $outSchema } },
         |    { "name": "w", "comp_type": "write_parquet", "filepath": "$outDir",
         |      "in_port_schemas": { "in": $outSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    readBack(s, built, outDir)
      .orderBy(col("n_occurrences").desc, col("gram"))
  }

  /** The corpus-scale path of top_tokens: grams counted over a
    * deterministic md5(seed:doc_id) HALF of the documents
    * (sample_fraction 0.5) — the declarative face of the topGrams
    * scaladoc's 100 TB guidance. The oracle replays the same md5
    * bucket cut before the same gram count, pinning that the sample
    * (not some engine-random approximation) feeds the stat. */
  private def qJobTopTokensSampled(s: SparkSession, dir: String): DataFrame = {
    val outDir = s"$tmpRoot/job_out_top_tokens_sampled"
    val docSchema = fieldsJson("doc_id" -> "integer", "text" -> "string",
      "lang" -> "string", "source" -> "string", "n_chars" -> "integer")
    val outSchema = fieldsJson("gram" -> "string", "n_occurrences" -> "integer")
    val jobJson =
      s"""{
         |  "name": "top_tokens_sampled_job",
         |  "components": [
         |    { "name": "rc", "comp_type": "read_parquet",
         |      "filepath": "$dir/documents.parquet",
         |      "routes": { "out": [ { "to": "tt", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $docSchema } },
         |    { "name": "tt", "comp_type": "top_tokens", "k": 40, "n": 2,
         |      "sample_fraction": 0.5, "sample_seed": "r18t",
         |      "sample_id_column": "doc_id",
         |      "in_port_schemas": { "in": $docSchema },
         |      "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |      "out_port_schemas": { "out": $outSchema } },
         |    { "name": "w", "comp_type": "write_parquet", "filepath": "$outDir",
         |      "in_port_schemas": { "in": $outSchema } }
         |  ]
         |}""".stripMargin
    val built = graft.graph.JobGraph.build(s, graft.config.JobConfig.parse(jobJson))
    built.runSinks()
    built.close()
    readBack(s, built, outDir)
      .orderBy(col("n_occurrences").desc, col("gram"))
  }

  // ----------------------------------------------------------------- driver

  /** Flagship query on sf=0.001; driver smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame =
    qJoinStar(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_filter_pass" -> (qFilterPass _),
    "q_filter_fail" -> (qFilterFail _),
    "q_filter_nulls" -> (qFilterNulls _),
    "q_filter_ne" -> (qFilterNe _),
    "q_agg_groups" -> (qAggGroups _),
    "q_agg_global" -> (qAggGlobal _),
    "q_agg_nullkeys" -> (qAggNullKeys _),
    "q_agg_money" -> (qAggMoney _),
    "q_agg_salted" -> (qAggSalted _),
    "q_agg_rollup" -> (qAggRollup _),
    "q_agg_cube" -> (qAggCube _),
    "q_profile" -> (qProfile _),
    "q_pivot" -> (qPivot _),
    "q_unpivot" -> (qUnpivot _),
    "q_project_rename" -> (qProjectRename _),
    "q_project_nested" -> (qProjectNested _),
    "q_join_plan" -> (qJoinPlan _),
    "q_join_left_nulls" -> (qJoinLeftNulls _),
    "q_join_anti" -> (qJoinAnti _),
    "q_join_star" -> (qJoinStar _),
    "q_type_conversion" -> (qTypeConversion _),
    "q_merge_union" -> (qMergeUnion _),
    "q_set_intersect" -> (qSetIntersect _),
    "q_set_except" -> (qSetExcept _),
    "q_set_intersect_all" -> (qSetIntersectAll _),
    "q_set_except_all" -> (qSetExceptAll _),
    "q_set_union" -> (qSetUnion _),
    "q_job_set_op" -> (qJobSetOp _),
    "q_job_set_except_all" -> (qJobSetExceptAll _),
    "q_split_branches" -> (qSplitBranches _),
    "q_sort_limit" -> (qSortLimit _),
    "q_window_topn" -> (qWindowTopN _),
    "q_window_lag" -> (qWindowLag _),
    "q_window_rolling" -> (qWindowRolling _),
    "q_job_window_rolling" -> (qJobWindowRolling _),
    "q_window_lead" -> (qWindowLead _),
    "q_window_pctile" -> (qWindowPctile _),
    "q_job_window_pctile" -> (qJobWindowPctile _),
    "q_job_sort" -> (qJobSort _),
    "q_job_window_topn" -> (qJobWindowTopn _),
    "q_job_window_lag" -> (qJobWindowLag _),
    "q_job_join_bcast" -> (qJobJoinBcast _),
    "q_events_window" -> (qEventsWindow _),
    "q_events_slide" -> (qEventsSlide _),
    "q_events_session" -> (qEventsSession _),
    "q_range_join" -> (qRangeJoin _),
    "q_range_join_left" -> (qRangeJoinLeft _),
    "q_range_join_keyless" -> (qRangeJoinKeyless _),
    "q_job_range_join" -> (qJobRangeJoin _),
    "q_job_asof_join" -> (qJobAsofJoin _),
    "q_job_unpivot" -> (qJobUnpivot _),
    "q_job_profile" -> (qJobProfile _),
    "q_asof_join" -> (qAsofJoin _),
    "q_asof_broadcast" -> (qAsofBroadcast _),
    "q_asof_forward" -> (qAsofForward _),
    "q_asof_tolerance" -> (qAsofTolerance _),
    "q_asof_nearest" -> (qAsofNearest _),
    "q_csv_roundtrip" -> (qCsvRoundtrip _),
    "q_json_roundtrip" -> (qJsonRoundtrip _),
    "q_flatten_roundtrip" -> (qFlattenRoundtrip _),
    "q_job_csv_filter" -> (qJobCsvFilter _),
    "q_job_join_agg" -> (qJobJoinAgg _),
    "q_job_xml_agg" -> (qJobXmlAgg _),
    "q_job_excel_agg" -> (qJobExcelFilterAgg _),
    "q_orc_roundtrip" -> (qOrcRoundtrip _),
    "q_job_orc_agg" -> (qJobOrcAgg _),
    "q_job_mongo_dedup" -> (qJobMongoDedup _),
    "q_job_split_merge" -> (qJobSplitMergeAgg _),
    "q_job_json_typeconv" -> (qJobJsonTypeconv _),
    "q_job_map_fanout" -> (qJobMapFanout _),
    "q_job_agg_nunique" -> (qJobAggNunique _),
    "q_job_jdbc_filter" -> (qJobJdbcFilter _),
    "q_job_jdbc_upsert" -> (qJobJdbcUpsert _),
    "q_job_mongo_upsert" -> (qJobMongoUpsert _),
    "q_job_typeconv_skip" -> (qJobTypeconvSkip _),
    "q_job_text_agg" -> (qJobTextFilterAgg _),
    "q_job_append_csv" -> (qJobAppendCsv _),
    "q_job_append_json" -> (qJobAppendJson _),
    "q_job_append_xml" -> (qJobAppendXml _),
    "q_job_append_excel" -> (qJobAppendExcel _),
    "q_job_partitioned" -> (qJobPartitioned _),
    "q_job_join3" -> (qJobJoin3 _),
    "q_job_join_left" -> (qJobJoinLeft _),
    "q_job_join_right" -> (qJobJoinRight _),
    "q_job_join_outer" -> (qJobJoinOuter _),
    "q_job_mongo_join" -> (qJobMongoJoin _),
    "q_job_mongo_excel" -> (qJobMongoExcel _),
    "q_sql_join" -> (qSqlJoin _),
    "q_xml_roundtrip" -> (qXmlRoundtrip _),
    "q_excel_roundtrip" -> (qExcelRoundtrip _),
    "q_jdbc_roundtrip" -> (qJdbcRoundtrip _),
    "q_mongo_roundtrip" -> (qMongoRoundtrip _),
    "dedup_exact" -> (qDedupExact _),
    "dedup_fingerprint" -> (qDedupFingerprint _),
    "dedup_minhash" -> (qDedupMinhash _),
    "dedup_simhash" -> (qDedupSimhash _),
    "dedup_ngram_jaccard" -> (qDedupNgramJaccard _),
    "dedup_embedding" -> (qDedupEmbedding _),
    "q_cc_components" -> (qCcComponents _),
    "q_dedup_cluster" -> (qDedupCluster _),
    "q_job_dedup_cluster" -> (qJobDedupCluster _),
    "q_job_dedup_transitive" -> (qJobDedupTransitive _),
    "text_stats" -> (qTextStats _),
    "q_gopher" -> (qGopher _),
    "q_job_gopher" -> (qJobGopher _),
    "text_topk" -> (qTextTopk _),
    "text_pii" -> (qTextPii _),
    "text_langid" -> (qTextLangId _),
    "sim_knn" -> (qSimKnn _),
    "sim_ivf" -> (qSimIvf _),
    "q_job_sim_knn" -> (qJobSimKnn _),
    "q_job_sim_ivf" -> (qJobSimIvf _),
    "q_job_ivf_index" -> (qJobIvfIndex _),
    "q_job_ivf_many" -> (qJobIvfMany _),
    "q_job_pii_redact" -> (qJobPiiRedact _),
    "q_decontaminate" -> (qDecontaminate _),
    "q_decontaminate_join" -> (qDecontaminateJoin _),
    "q_decontaminate_bloom" -> (qDecontaminateBloom _),
    "q_job_decontaminate" -> (qJobDecontaminate _),
    "q_decontaminate_pairs" -> (qDecontaminatePairs _),
    "text_repetition" -> (qTextRepetition _),
    "q_job_text_repetition" -> (qJobTextRepetition _),
    "q_job_hash_split" -> (qJobHashSplit _),
    "q_job_sample" -> (qJobSample _),
    "q_job_sample_strata" -> (qJobSampleStrata _),
    "q_budget_sample" -> (qBudgetSample _),
    "q_job_budget_sample" -> (qJobBudgetSample _),
    "q_mix_sample" -> (qMixSample _),
    "q_job_mix_sample" -> (qJobMixSample _),
    "q_group_cap" -> (qGroupCap _),
    "q_group_cap_uniform" -> (qGroupCapUniform _),
    "q_job_group_cap" -> (qJobGroupCap _),
    "q_job_bucketed_join" -> (qJobBucketedJoin _),
    "q_job_sorted_layout" -> (qJobSortedLayout _),
    "q_json_extract" -> (qJsonExtract _),
    "q_job_json_extract" -> (qJobJsonExtract _),
    "q_histogram" -> (qHistogram _),
    "q_job_histogram" -> (qJobHistogram _),
    "q_job_agg_salted" -> (qJobAggSalted _),
    "q_job_shuffle" -> (qJobShuffle _),
    "q_job_session_agg" -> (qJobSessionAgg _),
    "q_chunk" -> (qChunk _),
    "q_job_chunk" -> (qJobChunk _),
    "q_text_normalize" -> (qTextNormalize _),
    "q_job_text_normalize" -> (qJobTextNormalize _),
    "q_url_features" -> (qUrlFeatures _),
    "q_job_url_features" -> (qJobUrlFeatures _),
    "q_outlier_filter" -> (qOutlierFilter _),
    "q_outlier_filter_iqr" -> (qOutlierFilterIqr _),
    "q_job_outlier_filter" -> (qJobOutlierFilter _),
    "q_pack_units" -> (qPackUnits _),
    "q_job_pack_units" -> (qJobPackUnits _),
    "q_vec_normalize" -> (qVecNormalize _),
    "q_vec_quantize" -> (qVecQuantize _),
    "q_job_embedding_transform" -> (qJobEmbeddingTransform _),
    "q_dedup_keep_best" -> (qDedupKeepBest _),
    "q_job_dedup_keep_best" -> (qJobDedupKeepBest _),
    "q_sample_weighted" -> (qSampleWeighted _),
    "q_job_sample_weighted" -> (qJobSampleWeighted _),
    "q_text_entropy" -> (qTextEntropy _),
    "q_job_text_entropy" -> (qJobTextEntropy _),
    "q_dedup_against" -> (qDedupAgainst _),
    "q_line_dedup" -> (qLineDedup _),
    "q_line_dedup_set" -> (qLineDedupSet _),
    "q_line_dedup_para" -> (qLineDedupPara _),
    "q_line_dedup_hot" -> (qLineDedupHot _),
    "q_job_line_dedup" -> (qJobLineDedup _),
    "q_job_line_dedup_shuffled" -> (qJobLineDedupShuffled _),
    "q_dedup_against_bloom" -> (qDedupAgainstBloom _),
    "q_job_dedup_against" -> (qJobDedupAgainst _),
    "q_text_topk_grams" -> (qTextTopkGrams _),
    "q_job_top_tokens" -> (qJobTopTokens _),
    "q_job_top_tokens_sampled" -> (qJobTopTokensSampled _),
    "multimodal_features" -> (qMultimodal _))

  // Shared oracle vals: each Scala/declarative (or plain/variant) query
  // PAIR pins the same semantics, so its oracle exists ONCE — editing
  // one face's expected SQL cannot silently leave its twin gating
  // against stale semantics.
  private val aggSaltedOracle: String =
    """SELECT l_returnflag, count(*)::BIGINT AS n_rows,
      |  sum(round(l_quantity * 100)::BIGINT) / 100.0 AS sum_qty,
      |  min(l_extendedprice) AS min_price,
      |  max(l_extendedprice) AS max_price
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  private val unpivotOracle: String =
    """WITH m AS (
      |  SELECT 'quantity' AS measure, round(l_quantity * 100)::BIGINT AS cents
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'extendedprice', round(l_extendedprice * 100)::BIGINT FROM lineitem
      |  UNION ALL
      |  SELECT 'discount', round(l_discount * 100)::BIGINT FROM lineitem)
      |SELECT measure, count(*)::BIGINT AS n_cells, sum(cents)::BIGINT AS sum_cents
      |FROM m GROUP BY measure ORDER BY measure""".stripMargin

  private val joinLeftNullsOracle: String =
    """SELECT c_custkey, count(o_orderkey)::BIGINT AS n_orders,
      |  count(*)::BIGINT AS n_rows
      |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin

  private val setExceptAllOracle: String =
    """SELECT o_custkey, o_orderpriority FROM orders WHERE o_orderstatus = 'F'
      |EXCEPT ALL
      |SELECT o_custkey, o_orderpriority FROM orders WHERE o_totalprice > 50000
      |ORDER BY o_custkey, o_orderpriority""".stripMargin

  private val sortLimitOracle: String =
    """SELECT event_id, user_id, value FROM events
      |WHERE value > 100
      |ORDER BY value DESC, event_id LIMIT 20 OFFSET 10""".stripMargin

  private val windowTopnOracle: String =
    """SELECT o_orderpriority, rank, o_orderkey, o_totalprice FROM (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_orderpriority
      |      ORDER BY o_totalprice DESC, o_orderkey) AS rank
      |  FROM orders)
      |WHERE rank <= 3 ORDER BY o_orderpriority, rank""".stripMargin

  private val windowLagOracle: String =
    """SELECT event_id, user_id, cents, prev_cents, run_cents, n_th FROM (
      |  SELECT event_id, user_id, round(value * 100)::BIGINT AS cents,
      |    lag(round(value * 100)::BIGINT)
      |      OVER (PARTITION BY user_id ORDER BY event_id) AS prev_cents,
      |    (sum(round(value * 100)::BIGINT)
      |      OVER (PARTITION BY user_id ORDER BY event_id))::BIGINT AS run_cents,
      |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS n_th
      |  FROM events)
      |WHERE n_th <= 5 ORDER BY user_id, n_th""".stripMargin

  private val asofJoinOracle: String =
    """SELECT c.event_id, c.user_id, c.ts, c.value,
      |       p.value AS p_value, p.ts AS p_ts
      |FROM (SELECT * FROM events WHERE event_type = 'click') c
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      |  ON c.user_id = p.user_id AND c.ts >= p.ts
      |ORDER BY c.event_id""".stripMargin

  private val roundtripCountOracle: String =
    """SELECT n_nationkey::VARCHAR AS n_nationkey, n_name,
      |  n_regionkey::VARCHAR AS n_regionkey
      |FROM nation ORDER BY n_nationkey::BIGINT""".stripMargin

  private val simKnnOracle: String =
    """WITH c AS (SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv FROM embeddings),
      |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      |      FROM embeddings WHERE vec_id < 3),
      |s AS (
      |  SELECT query_id, corpus_id,
      |    round(CASE WHEN sqrt(list_dot_product(cv, cv))
      |                 * sqrt(list_dot_product(qv, qv)) = 0 THEN 0
      |          ELSE list_dot_product(cv, qv)
      |            / (sqrt(list_dot_product(cv, cv))
      |               * sqrt(list_dot_product(qv, qv))) END, 6) AS cosine
      |  FROM c, q),
      |r AS (SELECT *, row_number() OVER (
      |        PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS rank
      |      FROM s)
      |SELECT query_id, rank, corpus_id, cosine FROM r
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  private val simIvfOracle: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
      |SELECT vec_id,
      |  round(CASE WHEN sqrt(list_dot_product(v, v))
      |               * sqrt(list_dot_product(qv, qv)) = 0 THEN 0
      |        ELSE list_dot_product(v, qv)
      |          / (sqrt(list_dot_product(v, v))
      |             * sqrt(list_dot_product(qv, qv))) END, 6) AS cosine
      |FROM e, q
      |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q_filter_pass" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_discount
        |FROM lineitem
        |WHERE l_quantity <= 20
        |  AND (l_returnflag = 'R' OR contains(lower(l_linestatus), 'f'))
        |  AND NOT (l_discount > 0.05)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_filter_fail" ->
      """SELECT l_returnflag, count(*)::BIGINT AS n_rows
        |FROM lineitem
        |WHERE NOT (l_quantity <= 20
        |  AND (l_returnflag = 'R' OR contains(lower(l_linestatus), 'f'))
        |  AND NOT (l_discount > 0.05))
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_agg_groups" ->
      """SELECT l_returnflag, l_linestatus,
        |  count(*)::BIGINT AS n_rows,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  min(l_extendedprice) AS min_price,
        |  max(l_extendedprice) AS max_price,
        |  median(l_quantity) AS median_qty,
        |  count(DISTINCT l_partkey)::BIGINT AS n_parts
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_agg_global" ->
      """SELECT count(*)::BIGINT AS n_rows,
        |  count(DISTINCT o_custkey)::BIGINT AS n_custs,
        |  min(o_totalprice) AS min_price,
        |  max(o_totalprice) AS max_price
        |FROM orders""".stripMargin,
    "q_agg_nullkeys" ->
      """SELECT nullif(o_orderpriority, '1-URGENT') AS prio,
        |  count(*)::BIGINT AS n_rows,
        |  count(DISTINCT o_custkey)::BIGINT AS n_custs
        |FROM orders GROUP BY 1 ORDER BY prio NULLS FIRST""".stripMargin,
    "q_agg_money" ->
      """SELECT o_orderstatus,
        |  sum(round(o_totalprice * 100)::BIGINT) / 100.0 AS total_price,
        |  sum(round(o_totalprice * 100)::BIGINT) / 100.0
        |    / count(*) AS avg_price,
        |  count(*)::BIGINT AS n_rows
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q_agg_salted" -> aggSaltedOracle,
    // the declarative salted face shares the plain-GROUP-BY oracle shape
    "q_job_agg_salted" -> aggSaltedOracle,
    "q_agg_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, count(*)::BIGINT AS n_rows,
        |  sum(round(o_totalprice * 100)::BIGINT) / 100.0 AS total_price
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,
    "q_agg_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*)::BIGINT AS n_rows,
        |  sum(round(o_totalprice * 100)::BIGINT) / 100.0 AS total_price
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,
    "q_profile" -> profileOracleSql,
    "q_job_profile" -> profileOracleSql, // staging is a pure projection
    "q_pivot" ->
      """SELECT o_orderpriority,
        |  sum(round(o_totalprice * 100)::BIGINT)
        |    FILTER (WHERE o_orderstatus = 'F') / 100.0 AS total_f,
        |  sum(round(o_totalprice * 100)::BIGINT)
        |    FILTER (WHERE o_orderstatus = 'O') / 100.0 AS total_o,
        |  sum(round(o_totalprice * 100)::BIGINT)
        |    FILTER (WHERE o_orderstatus = 'P') / 100.0 AS total_p
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_unpivot" -> unpivotOracle,
    "q_project_rename" ->
      """SELECT c_custkey AS cust_id, c_name AS cust_name,
        |  c_mktsegment AS segment, c_acctbal AS balance
        |FROM customer ORDER BY cust_id""".stripMargin,
    "q_project_nested" ->
      """SELECT c_custkey AS cust_id, c_nationkey AS nation_key,
        |  c_mktsegment AS segment
        |FROM customer ORDER BY cust_id""".stripMargin,
    "q_filter_ne" ->
      """SELECT prio, count(*)::BIGINT AS n_rows
        |FROM (SELECT nullif(o_orderpriority, '3-MEDIUM') AS prio FROM orders)
        |WHERE prio IS NULL OR prio != '1-URGENT'
        |GROUP BY prio ORDER BY prio NULLS FIRST""".stripMargin,
    "q_filter_nulls" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    nullif(o_orderpriority, '3-MEDIUM') AS prio,
        |    CASE WHEN o_totalprice > 150000 THEN o_totalprice END AS big_price
        |  FROM orders),
        |ev AS (
        |  SELECT *,
        |    (NOT coalesce(big_price > 200000, FALSE))
        |      OR coalesce(contains(lower(prio), 'urgent'), FALSE) AS p
        |  FROM base)
        |SELECT CASE WHEN p THEN 'pass' ELSE 'fail' END AS port, o_orderstatus,
        |  count(*)::BIGINT AS n_rows,
        |  sum(CASE WHEN prio IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null_prio
        |FROM ev GROUP BY 1, 2 ORDER BY port, o_orderstatus""".stripMargin,
    "q_join_plan" ->
      """SELECT c_mktsegment,
        |  sum(round(l_extendedprice * (1.0 - l_discount) * 10000)::BIGINT)
        |    / 10000.0 AS revenue,
        |  count(*)::BIGINT AS n_rows
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_join_left_nulls" -> joinLeftNullsOracle,
    "q_join_anti" ->
      """SELECT c_custkey, c_name, c_nationkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,
    "q_join_star" ->
      """SELECT r_name, n_name,
        |  sum(round(l_extendedprice * (1.0 - l_discount) * 10000)::BIGINT)
        |    / 10000.0 AS revenue
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    "q_type_conversion" ->
      """WITH base AS (
        |  SELECT event_id,
        |    regexp_extract(props, '"k": (\d+)', 1) AS k_str,
        |    regexp_extract(props, '"k": (\d+)', 1) || '.0' AS k_float_str,
        |    CASE WHEN event_type = 'signup' THEN ' Yes '
        |         WHEN event_type = 'error' THEN 'F'
        |         WHEN event_type = 'purchase' THEN '1'
        |         ELSE 'maybe' END AS flag_str,
        |    event_type
        |  FROM events)
        |SELECT event_id,
        |  try_cast(k_str AS BIGINT) AS k_int,
        |  CASE WHEN try_cast(k_float_str AS DOUBLE) = floor(try_cast(k_float_str AS DOUBLE))
        |       THEN try_cast(k_float_str AS DOUBLE)::BIGINT END AS k_int_from_float,
        |  try_cast(k_str AS DOUBLE) AS k_float,
        |  CASE WHEN lower(trim(flag_str)) IN ('true','t','1','yes','y') THEN true
        |       WHEN lower(trim(flag_str)) IN ('false','f','0','no','n') THEN false
        |       END AS flag_bool,
        |  CASE WHEN lower(trim(event_type)) IN ('true','t','1','yes','y') THEN true
        |       WHEN lower(trim(event_type)) IN ('false','f','0','no','n') THEN false
        |       END AS flag_skipped,
        |  CAST(NULL AS DOUBLE) AS nullish
        |FROM base ORDER BY event_id""".stripMargin,
    "q_merge_union" ->
      """SELECT branch, count(*)::BIGINT AS n_rows FROM (
        |  SELECT l_orderkey, l_linenumber, 'big_qty' AS branch
        |  FROM lineitem WHERE l_quantity > 45
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'discounted' AS branch
        |  FROM lineitem WHERE l_discount >= 0.09)
        |GROUP BY branch ORDER BY branch""".stripMargin,
    "q_set_intersect" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY o_custkey""".stripMargin,
    "q_set_except" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY o_custkey""".stripMargin,
    "q_set_intersect_all" ->
      """SELECT o_custkey, o_orderpriority FROM orders WHERE o_orderstatus = 'F'
        |INTERSECT ALL
        |SELECT o_custkey, o_orderpriority FROM orders WHERE o_totalprice > 50000
        |ORDER BY o_custkey, o_orderpriority""".stripMargin,
    "q_set_except_all" -> setExceptAllOracle,
    "q_set_union" ->
      """SELECT o_custkey, o_orderpriority FROM orders WHERE o_orderstatus = 'F'
        |UNION
        |SELECT o_custkey, o_orderpriority FROM orders WHERE o_totalprice > 50000
        |ORDER BY o_custkey, o_orderpriority""".stripMargin,
    "q_job_set_op" ->
      """SELECT o_custkey, o_orderpriority FROM orders WHERE o_orderstatus = 'F'
        |INTERSECT
        |SELECT o_custkey, o_orderpriority FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY o_custkey, o_orderpriority""".stripMargin,
    "q_job_set_except_all" -> setExceptAllOracle,
    "q_split_branches" ->
      """SELECT a.l_returnflag, round(a.sum_qty, 2) AS sum_qty, b.n_rows FROM
        |  (SELECT l_returnflag, sum(l_quantity) AS sum_qty
        |   FROM lineitem GROUP BY l_returnflag) a
        |JOIN
        |  (SELECT l_returnflag, count(*)::BIGINT AS n_rows
        |   FROM lineitem GROUP BY l_returnflag) b
        |ON a.l_returnflag = b.l_returnflag
        |ORDER BY a.l_returnflag""".stripMargin,
    "q_sort_limit" -> sortLimitOracle,
    "q_window_topn" -> windowTopnOracle,
    // unique event_id order: the SQL default frame (RANGE, peers
    // included) coincides with ROWS on both engines; integer cents make
    // the running sum dtype-exact
    "q_window_lag" -> windowLagOracle,
    "q_window_lead" ->
      """SELECT event_id, user_id, cents, next_cents, first_cents, n_th FROM (
        |  SELECT event_id, user_id, round(value * 100)::BIGINT AS cents,
        |    lead(round(value * 100)::BIGINT)
        |      OVER w AS next_cents,
        |    first_value(round(value * 100)::BIGINT)
        |      OVER w AS first_cents,
        |    dense_rank() OVER w AS n_th
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY event_id))
        |WHERE n_th <= 5 ORDER BY user_id, n_th""".stripMargin,
    "q_window_pctile" -> windowPctileOracle,
    "q_job_window_pctile" -> windowPctileOracle,
    "q_job_sort" -> sortLimitOracle,
    "q_job_window_topn" -> windowTopnOracle,
    "q_job_window_lag" -> windowLagOracle,
    "q_window_rolling" -> windowRollingOracle,
    "q_job_window_rolling" -> windowRollingOracle,
    "q_job_join_bcast" ->
      """SELECT n_name, count(c_custkey) AS n_customers
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q_events_window" ->
      """SELECT date_trunc('hour', ts)::TIMESTAMP AS window_start, event_type,
        |  count(*)::BIGINT AS n_events,
        |  sum(round(value * 100)::BIGINT) / 100.0 AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    "q_events_slide" ->
      """WITH w AS (
        |  SELECT time_bucket(INTERVAL '30 minutes', ts) AS window_start,
        |    event_type, value FROM events
        |  UNION ALL
        |  SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes',
        |    event_type, value FROM events)
        |SELECT window_start, event_type, count(*)::BIGINT AS n_events,
        |  sum(round(value * 100)::BIGINT) / 100.0 AS sum_value
        |FROM w GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    // gap-based islands: a new session when the per-user delta is NULL
    // (first event) or > the gap — an event exactly at the previous
    // session's end (delta == gap) MERGES, matching Spark's
    // session_window boundary (pinned in SessionWindowPropertySpec)
    "q_events_session" ->
      """WITH d AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |           <= INTERVAL 12 HOUR THEN 0 ELSE 1 END AS new_s
        |  FROM events),
        |i AS (
        |  SELECT user_id, ts, value,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |                     ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM d)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 12 HOUR AS session_end,
        |  count(*)::BIGINT AS n_events,
        |  sum(round(value * 100)::BIGINT) / 100.0 AS sum_value
        |FROM i GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,
    // the declarative session job rolled up per user: same gap islands
    // (merge at delta <= gap, split at >), no timestamp-string
    // formatting in the compared columns
    "q_job_session_agg" ->
      """WITH d AS (
        |  SELECT user_id, ts, round(value * 100)::BIGINT AS cents,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |           <= INTERVAL 12 HOUR THEN 0 ELSE 1 END AS new_s
        |  FROM events),
        |i AS (
        |  SELECT user_id, cents,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |                     ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM d)
        |SELECT user_id, count(DISTINCT sid)::BIGINT AS n_sessions,
        |  count(*)::BIGINT AS n_events, sum(cents)::BIGINT AS sum_cents
        |FROM i GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_range_join" ->
      """SELECT c.event_id, c.user_id, c.ts, p.w_start, p.w_end, p.purchase_id
        |FROM (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'click') c
        |JOIN (SELECT user_id, ts AS w_start, ts + INTERVAL 1 HOUR AS w_end,
        |        event_id AS purchase_id
        |      FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id AND c.ts >= p.w_start AND c.ts <= p.w_end
        |ORDER BY c.event_id, p.purchase_id""".stripMargin,
    "q_range_join_left" ->
      """SELECT c.event_id, c.user_id, c.ts, p.w_start, p.w_end, p.purchase_id
        |FROM (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'click') c
        |LEFT JOIN (SELECT user_id, ts AS w_start, ts + INTERVAL 1 HOUR AS w_end,
        |        event_id AS purchase_id
        |      FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id AND c.ts >= p.w_start AND c.ts <= p.w_end
        |ORDER BY c.event_id, p.purchase_id""".stripMargin,
    "q_range_join_keyless" ->
      """SELECT c.event_id, c.ts, p.w_start, p.w_end, p.purchase_id
        |FROM (SELECT event_id, ts FROM events WHERE event_type = 'click') c
        |JOIN (SELECT ts AS w_start, ts + INTERVAL 1 HOUR AS w_end,
        |        event_id AS purchase_id
        |      FROM events WHERE event_type = 'purchase' AND user_id <= 5) p
        |  ON c.ts >= p.w_start AND c.ts <= p.w_end
        |ORDER BY c.event_id, p.purchase_id""".stripMargin,
    "q_job_unpivot" -> unpivotOracle,
    "q_job_range_join" ->
      """SELECT c.event_id, c.user_id, epoch_us(c.ts)::BIGINT AS t,
        |       p.w_start, p.w_end, p.purchase_id
        |FROM (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'click') c
        |LEFT JOIN (SELECT user_id, epoch_us(ts)::BIGINT AS w_start,
        |        epoch_us(ts + INTERVAL 1 HOUR)::BIGINT AS w_end,
        |        event_id AS purchase_id
        |      FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id
        |  AND epoch_us(c.ts)::BIGINT >= p.w_start
        |  AND epoch_us(c.ts)::BIGINT <= p.w_end
        |ORDER BY c.event_id, p.purchase_id""".stripMargin,
    "q_job_asof_join" ->
      """SELECT c.event_id, c.user_id, epoch_us(c.ts)::BIGINT AS t, p.p_cents
        |FROM (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT user_id, ts, round(value * 100)::BIGINT AS p_cents
        |      FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id AND c.ts >= p.ts
        |ORDER BY c.event_id""".stripMargin,
    // DuckDB's native ASOF LEFT JOIN — independent of the Spark
    // union+window formulation, so the two algorithms check each other
    "q_asof_join" -> asofJoinOracle,
    // identical semantics through the broadcast (interval-join) strategy
    "q_asof_broadcast" -> asofJoinOracle,
    // tolerance = post-filter of the single ASOF match: the nearest row
    // is out of tolerance exactly when every farther row is
    "q_asof_tolerance" ->
      """SELECT c.event_id, c.user_id, c.ts, c.value,
        |  CASE WHEN c.ts - p.ts <= INTERVAL 1 HOUR THEN p.value END AS p_value,
        |  CASE WHEN c.ts - p.ts <= INTERVAL 1 HOUR THEN p.ts END AS p_ts
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id AND c.ts >= p.ts
        |ORDER BY c.event_id""".stripMargin,
    // nearest = CASE-pick over the two directed ASOF joins, ties to
    // backward — an independent formulation of the desc/asc double carry
    "q_asof_nearest" ->
      """WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
        |p AS (SELECT * FROM events WHERE event_type = 'purchase'),
        |b AS (SELECT c.event_id, c.user_id, c.ts, c.value,
        |             p.value AS bv, p.ts AS bt
        |      FROM c ASOF LEFT JOIN p
        |        ON c.user_id = p.user_id AND c.ts >= p.ts),
        |f AS (SELECT c.event_id, p.value AS fv, p.ts AS ft
        |      FROM c ASOF LEFT JOIN p
        |        ON c.user_id = p.user_id AND c.ts <= p.ts)
        |SELECT b.event_id, b.user_id, b.ts, b.value,
        |  CASE WHEN bt IS NULL THEN fv WHEN ft IS NULL THEN bv
        |       WHEN (ft - b.ts) < (b.ts - bt) THEN fv ELSE bv END AS p_value,
        |  CASE WHEN bt IS NULL THEN ft WHEN ft IS NULL THEN bt
        |       WHEN (ft - b.ts) < (b.ts - bt) THEN ft ELSE bt END AS p_ts
        |FROM b JOIN f USING (event_id) ORDER BY b.event_id""".stripMargin,
    // the mirrored inequality: DuckDB picks the EARLIEST p.ts >= c.ts
    "q_asof_forward" ->
      """SELECT c.event_id, c.user_id, c.ts, c.value,
        |       p.value AS p_value, p.ts AS p_ts
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id AND c.ts <= p.ts
        |ORDER BY c.event_id""".stripMargin,
    "dedup_exact" ->
      """SELECT doc_id, lang, source, n_chars FROM (
        |  SELECT doc_id, lang, source, n_chars, row_number() OVER (
        |    PARTITION BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
        |    ORDER BY doc_id) AS rn
        |  FROM documents)
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "dedup_fingerprint" ->
      """WITH toks AS (
        |  SELECT doc_id, list_sort(list_distinct(
        |    list_filter(string_split_regex(trim(regexp_replace(lower(text),
        |      '[^a-z0-9\s]', ' ', 'g')), '\s+'), x -> len(x) > 0))) AS ts,
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS rawkey
        |  FROM documents),
        |fp AS (
        |  SELECT doc_id, CASE WHEN len(ts) = 0 THEN md5(rawkey)
        |    ELSE md5(array_to_string(ts, ' ')) END AS fingerprint
        |  FROM toks)
        |SELECT fingerprint, count(*)::BIGINT AS n_docs,
        |  min(doc_id) AS first_doc
        |FROM fp GROUP BY fingerprint ORDER BY fingerprint""".stripMargin,
    "q_csv_roundtrip" -> roundtripCountOracle,
    "q_json_roundtrip" ->
      """SELECT event_type, count(*)::BIGINT AS n_rows,
        |  sum(round(value * 100)::BIGINT) / 100.0 AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_flatten_roundtrip" ->
      """SELECT c_custkey AS cust_id, c_nationkey AS nation_key,
        |  c_mktsegment AS segment, c_name AS tag0
        |FROM customer ORDER BY cust_id""".stripMargin,
    "q_job_csv_filter" ->
      """SELECT l_orderkey::BIGINT::VARCHAR AS l_orderkey,
        |  l_linenumber::BIGINT::VARCHAR AS l_linenumber,
        |  l_quantity::BIGINT::VARCHAR AS l_quantity, l_returnflag
        |FROM lineitem
        |WHERE l_quantity::BIGINT <= 20
        |  AND NOT coalesce(l_returnflag = 'A', FALSE)
        |ORDER BY l_orderkey::BIGINT, l_linenumber::BIGINT""".stripMargin,
    "q_job_join_agg" ->
      """SELECT c_mktsegment AS segment, count(*)::BIGINT AS n_orders,
        |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY segment""".stripMargin,
    "q_sql_join" ->
      """SELECT n_name, count(*)::BIGINT AS n_custs,
        |  sum(round(c_acctbal * 100)::BIGINT) / 100.0 AS total_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q_job_xml_agg" ->
      """SELECT n_regionkey::BIGINT AS n_regionkey,
        |  count(n_nationkey)::BIGINT AS n_nations,
        |  sum(n_nationkey)::BIGINT AS sum_key
        |FROM nation GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_job_excel_agg" ->
      """SELECT c_nationkey::BIGINT AS c_nationkey,
        |  count(c_custkey)::BIGINT AS n_custs,
        |  min(c_custkey)::BIGINT AS min_cust
        |FROM customer WHERE c_mktsegment = 'BUILDING'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_orc_roundtrip" ->
      """SELECT event_type, count(*)::BIGINT AS n_rows,
        |  sum(round(value * 100)::BIGINT) / 100.0 AS sum_value
        |FROM events WHERE event_type <> 'view'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // ORC pass-through keeps parquet's INT32 c_nationkey — no cast
    "q_job_orc_agg" ->
      """SELECT c_nationkey,
        |  count(c_custkey)::BIGINT AS n_custs,
        |  min(c_custkey)::BIGINT AS min_cust
        |FROM customer WHERE c_mktsegment = 'BUILDING'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_job_mongo_dedup" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang, row_number() OVER (
        |    PARTITION BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
        |    ORDER BY doc_id) AS rn
        |  FROM documents)
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "q_job_split_merge" ->
      """SELECT o_orderstatus, count(o_orderkey)::BIGINT AS n_orders
        |FROM orders WHERE o_orderstatus IN ('F', 'O')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_job_json_typeconv" ->
      """SELECT s_suppkey, s_acctbal,
        |  CASE WHEN s_suppkey % 3 = 0 THEN s_suppkey ELSE NULL END AS maybe_int
        |FROM supplier ORDER BY s_suppkey""".stripMargin,
    "q_job_jdbc_upsert" ->
      """WITH src AS (
        |  SELECT n_nationkey::VARCHAR AS n_nationkey, n_name
        |  FROM nation WHERE n_nationkey < 8
        |), seeds AS (
        |  SELECT * FROM (VALUES ('90','SEED_90'),('91','SEED_91')) t(n_nationkey, n_name)
        |), after_upsert AS (
        |  SELECT * FROM src UNION ALL SELECT * FROM seeds
        |)
        |SELECT n_nationkey,
        |  CASE WHEN n_nationkey::INT < 3 THEN 'UPD' ELSE n_name END AS n_name
        |FROM after_upsert
        |ORDER BY n_nationkey::BIGINT""".stripMargin,
    "q_job_mongo_upsert" ->
      """WITH ups AS (
        |  SELECT n_nationkey::VARCHAR AS k, n_name AS v, 'nat' AS w
        |  FROM nation WHERE n_nationkey < 8
        |  UNION ALL SELECT '9', 'OLD_9', 'seed_9'
        |)
        |SELECT k, v, CASE WHEN k::INT < 3 THEN 'UPD' ELSE w END AS w
        |FROM ups ORDER BY k""".stripMargin,
    "q_job_typeconv_skip" ->
      """SELECT s_suppkey,
        |  CASE WHEN s_suppkey % 2 = 0 THEN s_suppkey END AS skip_int,
        |  'v_' || s_suppkey AS skip_str
        |FROM supplier ORDER BY s_suppkey""".stripMargin,
    "q_job_map_fanout" ->
      """SELECT 'A' AS port, n_nationkey::VARCHAR AS uid, n_name AS uname
        |FROM nation
        |UNION ALL
        |SELECT 'B' AS port, n_nationkey::VARCHAR AS uid, n_name AS uname
        |FROM nation
        |ORDER BY port, uid""".stripMargin,
    "q_job_agg_nunique" ->
      """SELECT s_nationkey::BIGINT AS s_nationkey,
        |  count(DISTINCT s_name)::BIGINT AS n_names,
        |  count(*)::BIGINT AS n_sups
        |FROM supplier GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_job_jdbc_filter" ->
      """SELECT n_nationkey::VARCHAR AS n_nationkey, n_name,
        |  n_regionkey::VARCHAR AS n_regionkey
        |FROM nation
        |WHERE n_regionkey <> 4 AND contains(lower(n_name), 'ion_1')
        |ORDER BY n_nationkey::BIGINT""".stripMargin,
    "q_job_text_agg" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END::BIGINT AS n_tokens,
        |    string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents),
        |scores AS (
        |  SELECT doc_id, n_tokens,
        |    len(list_filter(t, x -> list_contains(['der','die','das','und','nicht','ist','ein','mit'], x))) AS s_de,
        |    len(list_filter(t, x -> list_contains(['the','and','of','to','is','that','for','with'], x))) AS s_en,
        |    len(list_filter(t, x -> list_contains(['el','la','los','las','que','de','es','una'], x))) AS s_es,
        |    len(list_filter(t, x -> list_contains(['le','la','les','des','est','une','que','dans'], x))) AS s_fr,
        |    len(list_filter(t, x -> list_contains(['的','是','了','在','我','有','和','不'], x))) AS s_zh
        |  FROM toks),
        |pred AS (
        |  SELECT doc_id, n_tokens,
        |    CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
        |         WHEN s_zh > greatest(s_de, s_en, s_es, s_fr) THEN 'zh'
        |         WHEN s_fr > greatest(s_de, s_en, s_es) THEN 'fr'
        |         WHEN s_es > greatest(s_de, s_en) THEN 'es'
        |         WHEN s_en > s_de THEN 'en'
        |         ELSE 'de' END AS lang_pred
        |  FROM scores)
        |SELECT lang_pred, count(*)::BIGINT AS n_docs,
        |  sum(n_tokens)::BIGINT AS sum_tokens
        |FROM pred WHERE n_tokens > 50
        |GROUP BY lang_pred ORDER BY lang_pred""".stripMargin,
    "q_job_append_csv" -> roundtripCountOracle,
    "q_job_append_json" ->
      """SELECT s_suppkey, s_name FROM supplier ORDER BY s_suppkey""".stripMargin,
    "q_job_append_xml" -> roundtripCountOracle,
    "q_job_append_excel" -> roundtripCountOracle,
    "q_job_partitioned" ->
      """SELECT o_orderpriority, count(*)::BIGINT AS n_orders,
        |  max(o_totalprice) AS max_price
        |FROM orders WHERE o_orderstatus = 'F'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_job_join3" ->
      """SELECT o_orderkey AS order_id, c_name AS cust, n_name AS nation,
        |  o_totalprice AS price
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY order_id""".stripMargin,
    "q_job_join_left" -> joinLeftNullsOracle,
    "q_job_join_right" ->
      """SELECT c_custkey, count(o_orderkey)::BIGINT AS n_orders,
        |  count(*)::BIGINT AS n_rows
        |FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "q_job_join_outer" ->
      """SELECT l.lk, l.lname, h.hk, h.hname
        |FROM (SELECT n_nationkey AS lk, n_name AS lname FROM nation
        |      WHERE n_nationkey < 15) l
        |FULL OUTER JOIN
        |     (SELECT n_nationkey AS hk, n_name AS hname FROM nation
        |      WHERE n_nationkey >= 10) h
        |ON l.lk = h.hk
        |ORDER BY lk NULLS LAST, hk NULLS LAST""".stripMargin,
    "q_job_mongo_join" ->
      """SELECT c_name AS cust, n_name AS nation
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY cust, nation""".stripMargin,
    "q_job_mongo_excel" ->
      """SELECT c_custkey::VARCHAR AS cust_id, c_name AS name,
        |  c_mktsegment AS segment
        |FROM customer ORDER BY cust_id::BIGINT""".stripMargin,
    "q_xml_roundtrip" -> roundtripCountOracle,
    "q_excel_roundtrip" -> roundtripCountOracle,
    "q_jdbc_roundtrip" ->
      """SELECT r_regionkey,
        |  CASE WHEN r_regionkey = 0 THEN 'MODIFIED' ELSE r_name END AS r_name
        |FROM region ORDER BY r_regionkey""".stripMargin,
    "q_mongo_roundtrip" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE c_mktsegment = 'BUILDING'
        |ORDER BY c_custkey LIMIT 50""".stripMargin,
    "dedup_minhash" ->
      """WITH norm AS (
        |  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(
        |    [substr(t, i, 5) for i in range(1, greatest(len(t)-4, 1)+1)]) AS s
        |  FROM norm),
        |post AS (SELECT doc_id, len(s) AS n, unnest(s) AS g FROM sh),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter,
        |    any_value(a.n) AS na, any_value(b.n) AS nb
        |  FROM post a JOIN post b USING (g)
        |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        |losers AS (
        |  SELECT DISTINCT id_b FROM pairs
        |  WHERE inter::DOUBLE / (na + nb - inter) >= 0.6)
        |SELECT doc_id, n_chars FROM documents
        |WHERE doc_id NOT IN (SELECT id_b FROM losers)
        |ORDER BY doc_id""".stripMargin,
    "dedup_simhash" ->
      """WITH norm AS (
        |  SELECT doc_id, n_chars,
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
        |  FROM documents),
        |toks AS (SELECT doc_id, list_distinct(str_split(t, ' ')) AS tk FROM norm),
        |hs AS (
        |  SELECT doc_id,
        |    [('0x' || substr(md5(x), 1, 15))::BIGINT for x in tk] AS hh
        |  FROM toks),
        |votes AS (
        |  SELECT doc_id,
        |    [list_sum([CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END
        |       for h in hh]) for b in range(0, 60)] AS v
        |  FROM hs),
        |blocks AS (
        |  SELECT doc_id,
        |    [list_sum([CASE WHEN v[15*i + j + 1] > 0 THEN (1::BIGINT << j)
        |       ELSE 0 END for j in range(0, 15)]) for i in range(0, 4)] AS blk
        |  FROM votes),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    list_sum([bit_count(xor(a.blk[i], b.blk[i])) for i in range(1, 5)]) AS ham
        |  FROM blocks a JOIN blocks b ON a.doc_id < b.doc_id),
        |losers AS (SELECT DISTINCT id_b FROM pairs WHERE ham <= 3)
        |SELECT doc_id, n_chars FROM documents
        |WHERE doc_id NOT IN (SELECT id_b FROM losers)
        |ORDER BY doc_id""".stripMargin,
    "dedup_ngram_jaccard" ->
      """WITH norm AS (
        |  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
        |  FROM documents),
        |toks AS (SELECT doc_id, str_split(t, ' ') AS tk FROM norm),
        |sh AS (
        |  SELECT doc_id, list_distinct(
        |    [array_to_string(tk[i:i+3], ' ')
        |     for i in range(1, greatest(len(tk)-3, 1)+1)]) AS s
        |  FROM toks),
        |post AS (SELECT doc_id, len(s) AS n, unnest(s) AS g FROM sh),
        |kept AS (SELECT g FROM post GROUP BY g HAVING count(*) <= 10000),
        |cp AS (SELECT doc_id, n, post.g FROM post JOIN kept USING (g)),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter,
        |    any_value(a.n) AS na, any_value(b.n) AS nb
        |  FROM cp a JOIN cp b USING (g)
        |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  round(inter::DOUBLE / (na + nb - inter), 6) AS jaccard
        |FROM pairs WHERE inter::DOUBLE / (na + nb - inter) >= 0.3
        |ORDER BY id_a, id_b""".stripMargin,
    // recursive-CTE closure over the same deterministic edge set the
    // Spark side builds: label propagation prunes to lbl < dst (the
    // component minimum is below every member, so min labels still
    // reach everything), min() collapses the closure
    "q_cc_components" ->
      """WITH RECURSIVE
        |e0 AS (
        |  SELECT a.doc_id AS src, a.doc_id + 1 AS dst
        |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |  WHERE a.doc_id % 10 <> 9
        |  UNION ALL
        |  SELECT a.doc_id AS src, a.doc_id - a.doc_id % 100 AS dst
        |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id - a.doc_id % 100
        |  WHERE a.doc_id % 20 = 0 AND a.doc_id % 100 <> 0),
        |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
        |reach(id, lbl) AS (
        |  SELECT src, src FROM e
        |  UNION
        |  SELECT e.dst, r.lbl FROM reach r JOIN e ON e.src = r.id
        |  WHERE r.lbl < e.dst)
        |SELECT id AS doc_id, min(lbl) AS component
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
    // the ngram pair table (same CTE as dedup_ngram_jaccard) closed into
    // transitive components by the recursive CTE
    "q_dedup_cluster" ->
      """WITH RECURSIVE
        |norm AS (
        |  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
        |  FROM documents),
        |toks AS (SELECT doc_id, str_split(t, ' ') AS tk FROM norm),
        |sh AS (
        |  SELECT doc_id, list_distinct(
        |    [array_to_string(tk[i:i+3], ' ')
        |     for i in range(1, greatest(len(tk)-3, 1)+1)]) AS s
        |  FROM toks),
        |post AS (SELECT doc_id, len(s) AS n, unnest(s) AS g FROM sh),
        |kept AS (SELECT g FROM post GROUP BY g HAVING count(*) <= 10000),
        |cp AS (SELECT doc_id, n, post.g FROM post JOIN kept USING (g)),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter,
        |    any_value(a.n) AS na, any_value(b.n) AS nb
        |  FROM cp a JOIN cp b USING (g)
        |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        |p AS (SELECT id_a, id_b FROM pairs
        |      WHERE inter::DOUBLE / (na + nb - inter) >= 0.3),
        |e AS (SELECT id_a AS src, id_b AS dst FROM p
        |      UNION SELECT id_b, id_a FROM p),
        |reach(id, lbl) AS (
        |  SELECT src, src FROM e
        |  UNION
        |  SELECT e.dst, r.lbl FROM reach r JOIN e ON e.src = r.id
        |  WHERE r.lbl < e.dst)
        |SELECT id AS doc_id, min(lbl) AS component
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
    // same closure rolled up per cluster; min_doc recomputed from the
    // labeling independently pins the label-is-minimum invariant
    "q_job_dedup_cluster" ->
      """WITH RECURSIVE
        |norm AS (
        |  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
        |  FROM documents),
        |toks AS (SELECT doc_id, str_split(t, ' ') AS tk FROM norm),
        |sh AS (
        |  SELECT doc_id, list_distinct(
        |    [array_to_string(tk[i:i+3], ' ')
        |     for i in range(1, greatest(len(tk)-3, 1)+1)]) AS s
        |  FROM toks),
        |post AS (SELECT doc_id, len(s) AS n, unnest(s) AS g FROM sh),
        |kept AS (SELECT g FROM post GROUP BY g HAVING count(*) <= 10000),
        |cp AS (SELECT doc_id, n, post.g FROM post JOIN kept USING (g)),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter,
        |    any_value(a.n) AS na, any_value(b.n) AS nb
        |  FROM cp a JOIN cp b USING (g)
        |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        |p AS (SELECT id_a, id_b FROM pairs
        |      WHERE inter::DOUBLE / (na + nb - inter) >= 0.3),
        |e AS (SELECT id_a AS src, id_b AS dst FROM p
        |      UNION SELECT id_b, id_a FROM p),
        |reach(id, lbl) AS (
        |  SELECT src, src FROM e
        |  UNION
        |  SELECT e.dst, r.lbl FROM reach r JOIN e ON e.src = r.id
        |  WHERE r.lbl < e.dst),
        |labels AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id)
        |SELECT component, count(*)::BIGINT AS n_members, min(id) AS min_doc
        |FROM labels GROUP BY component ORDER BY component""".stripMargin,
    // emit=cluster: same closure, survivors = everything except the
    // non-minimal component members
    "q_job_dedup_transitive" ->
      """WITH RECURSIVE
        |norm AS (
        |  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
        |  FROM documents),
        |toks AS (SELECT doc_id, str_split(t, ' ') AS tk FROM norm),
        |sh AS (
        |  SELECT doc_id, list_distinct(
        |    [array_to_string(tk[i:i+3], ' ')
        |     for i in range(1, greatest(len(tk)-3, 1)+1)]) AS s
        |  FROM toks),
        |post AS (SELECT doc_id, len(s) AS n, unnest(s) AS g FROM sh),
        |kept AS (SELECT g FROM post GROUP BY g HAVING count(*) <= 10000),
        |cp AS (SELECT doc_id, n, post.g FROM post JOIN kept USING (g)),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter,
        |    any_value(a.n) AS na, any_value(b.n) AS nb
        |  FROM cp a JOIN cp b USING (g)
        |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        |p AS (SELECT id_a, id_b FROM pairs
        |      WHERE inter::DOUBLE / (na + nb - inter) >= 0.3),
        |e AS (SELECT id_a AS src, id_b AS dst FROM p
        |      UNION SELECT id_b, id_a FROM p),
        |reach(id, lbl) AS (
        |  SELECT src, src FROM e
        |  UNION
        |  SELECT e.dst, r.lbl FROM reach r JOIN e ON e.src = r.id
        |  WHERE r.lbl < e.dst),
        |labels AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id)
        |SELECT d.doc_id, d.lang, d.n_chars FROM documents d
        |WHERE d.doc_id NOT IN (SELECT id FROM labels WHERE id <> component)
        |ORDER BY d.doc_id""".stripMargin,
    "dedup_embedding" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |losers AS (
        |  SELECT DISTINCT b.vec_id FROM e a JOIN e b ON a.vec_id < b.vec_id
        |  WHERE CASE WHEN sqrt(list_dot_product(a.v, a.v))
        |               * sqrt(list_dot_product(b.v, b.v)) = 0 THEN 0
        |        ELSE list_dot_product(a.v, b.v)
        |          / (sqrt(list_dot_product(a.v, a.v))
        |             * sqrt(list_dot_product(b.v, b.v))) END >= 0.95)
        |SELECT vec_id, label FROM embeddings
        |WHERE vec_id NOT IN (SELECT vec_id FROM losers)
        |ORDER BY vec_id""".stripMargin,
    "sim_knn" -> simKnnOracle,
    // same computation as sim_knn, reached through the declarative
    // `similarity` component — identical oracle by construction
    "q_job_sim_knn" -> simKnnOracle,
    // nprobe = k cells: every corpus row is probed, so the declarative
    // kmeans_train -> ivf pipeline reduces to exact brute-force top-10 —
    // oracle-able even though Lloyd's training isn't SQL-expressible
    "q_job_sim_ivf" -> simIvfOracle,
    // bucketed-index variant of the same identity: nprobe = k means the
    // probed cells' union is the whole corpus, so the build-then-probe
    // chain (kmeans_train -> write_ivf_index -> ivf_index probe) must
    // reproduce exact brute-force top-10 through the partitioned layout
    "q_job_ivf_index" -> simIvfOracle,
    // batch probe at nprobe = all cells: per-query exact brute-force
    // top-5 through the bucketed layout — the q_job_sim_knn computation
    // over the index's round-tripped vectors
    "q_job_ivf_many" ->
      """WITH c AS (SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv FROM embeddings),
        |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |      FROM embeddings WHERE vec_id < 3),
        |s AS (
        |  SELECT query_id, corpus_id,
        |    round(CASE WHEN sqrt(list_dot_product(cv, cv))
        |                 * sqrt(list_dot_product(qv, qv)) = 0 THEN 0
        |          ELSE list_dot_product(cv, qv)
        |            / (sqrt(list_dot_product(cv, cv))
        |               * sqrt(list_dot_product(qv, qv))) END, 6) AS cosine
        |  FROM c, q),
        |r AS (SELECT *, row_number() OVER (
        |        PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS rank
        |      FROM s)
        |SELECT query_id, rank, corpus_id AS vec_id, cosine FROM r
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "sim_ivf" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |cent AS (SELECT vec_id AS cell, v AS cv FROM e WHERE vec_id < 8),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |scored AS (
        |  SELECT e.vec_id, e.v, c.cell,
        |    CASE WHEN sqrt(list_dot_product(e.v, e.v))
        |           * sqrt(list_dot_product(c.cv, c.cv)) = 0 THEN 0
        |    ELSE list_dot_product(e.v, c.cv)
        |      / (sqrt(list_dot_product(e.v, e.v))
        |         * sqrt(list_dot_product(c.cv, c.cv))) END AS sim
        |  FROM e, cent c),
        |assigned AS (
        |  SELECT vec_id, v, cell,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell DESC) AS rn
        |  FROM scored),
        |probe AS (
        |  SELECT cell FROM (
        |    SELECT c.cell, row_number() OVER (ORDER BY
        |      CASE WHEN sqrt(list_dot_product(c.cv, c.cv))
        |             * sqrt(list_dot_product(q.qv, q.qv)) = 0 THEN 0
        |      ELSE list_dot_product(c.cv, q.qv)
        |        / (sqrt(list_dot_product(c.cv, c.cv))
        |           * sqrt(list_dot_product(q.qv, q.qv))) END DESC, c.cell) AS pr
        |    FROM cent c, q)
        |  WHERE pr <= 3)
        |SELECT vec_id,
        |  round(CASE WHEN sqrt(list_dot_product(v, v))
        |               * sqrt(list_dot_product(qv, qv)) = 0 THEN 0
        |        ELSE list_dot_product(v, qv)
        |          / (sqrt(list_dot_product(v, v))
        |             * sqrt(list_dot_product(qv, qv))) END, 6) AS cosine
        |FROM assigned JOIN probe USING (cell), q
        |WHERE rn = 1 ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin,
    "multimodal_features" ->
      """WITH ids AS (SELECT range AS media_id FROM range(200)),
        |hexes AS (
        |  SELECT media_id,
        |    substr(repeat(sha256(media_id::VARCHAR), 129), 1, 8192) AS hx
        |  FROM ids),
        |bytes AS (
        |  SELECT media_id,
        |    [('0x' || substr(hx, 2*i - 1, 2))::BIGINT for i in range(1, 4097)] AS bs
        |  FROM hexes),
        |feat AS (
        |  SELECT media_id,
        |    [list_sum([bs[m] * m for m in range(1, 4097) if (m - 1) % 16 = j]) % 1000
        |     for j in range(0, 16)] AS ks
        |  FROM bytes)
        |SELECT b.media_id, 'image/fake' AS mime,
        |  greatest(1, 4096 % 1024)::INT AS width,
        |  greatest(1, (4096 // 1024) % 1024 + 1)::INT AS height,
        |  round((list_sum(bs)::DOUBLE / 4096) / 255, 6) AS mean_luma,
        |  16 AS feature_dim,
        |  list_sum(ks)::BIGINT AS feature_checksum
        |FROM bytes b JOIN feat f ON b.media_id = f.media_id
        |ORDER BY b.media_id""".stripMargin,
    // same seed expression, same regexes (Java/RE2 common subset), same
    // email→phone→ip replace order — byte-identical masked text expected
    "text_pii" ->
      """WITH seeded AS (
        |  SELECT doc_id, text || ' contact u' || doc_id ||
        |    '@example.com or 555-' || lpad((doc_id % 1000)::VARCHAR, 3, '0') ||
        |    '-1234 at 10.0.' || (doc_id % 256)::VARCHAR || '.1' AS text
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_emails,
        |  len(regexp_extract_all(text,
        |    '(^|[^0-9])(\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4})'))::BIGINT AS n_phones,
        |  len(regexp_extract_all(text,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::BIGINT AS n_ips,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '(^|[^0-9])(\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4})', '\1<PHONE>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS text
        |FROM seeded ORDER BY doc_id""".stripMargin,
    // declarative pii_redact: seed (even doc_ids), redact, filter on the
    // email count, roll up per lang — max(text) carries the masked text
    // itself through the compare (UTF-8 byte order == codepoint order,
    // so Spark and DuckDB agree on max over strings)
    "q_job_pii_redact" ->
      """WITH seeded AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN doc_id % 2 = 0 THEN text || ' contact u' || doc_id ||
        |      '@example.com or 555-' || lpad((doc_id % 1000)::VARCHAR, 3, '0') ||
        |      '-1234 at 10.0.' || (doc_id % 256)::VARCHAR || '.1'
        |    ELSE text END AS text
        |  FROM documents),
        |red AS (
        |  SELECT doc_id, lang,
        |    len(regexp_extract_all(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_emails,
        |    len(regexp_extract_all(text,
        |      '(^|[^0-9])(\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4})'))::BIGINT AS n_phones,
        |    len(regexp_extract_all(text,
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::BIGINT AS n_ips,
        |    regexp_replace(regexp_replace(regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '(^|[^0-9])(\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4})', '\1<PHONE>', 'g'),
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS text
        |  FROM seeded)
        |SELECT lang, count(*)::BIGINT AS n_docs,
        |  sum(n_emails)::BIGINT AS sum_emails,
        |  sum(n_phones)::BIGINT AS sum_phones,
        |  sum(n_ips)::BIGINT AS sum_ips,
        |  max(text) AS max_text
        |FROM red WHERE n_emails > 0
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // repetition signals replayed in DuckDB: same line seeding, same
    // normalized bigrams (non-distinct positions), same tie-break
    // (count desc, gram asc — binary order on ASCII grams), same
    // round(x, 6) float discipline as the other ratio oracles
    "text_repetition" -> textRepetitionOracle,
    "q_job_text_repetition" -> textRepetitionOracle,
    "q_budget_sample" -> budgetSampleOracle,
    "q_job_budget_sample" -> budgetSampleOracle,
    "q_mix_sample" -> mixSampleOracle,
    "q_job_mix_sample" -> mixSampleOracle,
    "q_chunk" -> chunkOracle,
    "q_job_chunk" -> chunkOracle,
    "q_text_normalize" -> textNormalizeOracle,
    "q_job_text_normalize" -> textNormalizeOracle,
    "q_url_features" -> urlFeaturesOracle,
    "q_job_url_features" -> urlFeaturesOracle,
    "q_outlier_filter" -> outlierZscoreOracle,
    "q_outlier_filter_iqr" -> outlierIqrOracle,
    "q_job_outlier_filter" -> outlierByTypeOracle,
    "q_pack_units" -> packUnitsOracle,
    "q_job_pack_units" -> packUnitsOracle,
    "q_vec_normalize" -> vecNormalizeOracle,
    "q_vec_quantize" -> vecQuantizeOracle,
    "q_job_embedding_transform" -> vecQuantizeOracle,
    "q_dedup_keep_best" -> dedupKeepBestOracle,
    "q_job_dedup_keep_best" -> dedupKeepBestOracle,
    "q_sample_weighted" -> sampleWeightedOracle,
    "q_job_sample_weighted" -> sampleWeightedOracle,
    "q_text_entropy" -> textEntropyOracle,
    "q_job_text_entropy" -> textEntropyOracle,
    "q_dedup_against" -> dedupAgainstOracle,
    "q_line_dedup" -> lineDedupOracle,
    "q_line_dedup_set" -> lineDedupOracle,
    "q_line_dedup_para" -> lineDedupParaOracle,
    "q_line_dedup_hot" -> lineDedupHotOracle,
    "q_job_line_dedup" -> lineDedupOracle,
    "q_job_line_dedup_shuffled" -> lineDedupOracle,
    "q_dedup_against_bloom" -> dedupAgainstOracle,
    "q_job_dedup_against" -> dedupAgainstOracle,
    "q_text_topk_grams" -> textTopkGramsOracle,
    "q_job_top_tokens" -> textTopkGramsOracle,
    // the same gram count over the md5(r18t:doc_id) half of the corpus —
    // the bucket cut replays hashSample's arithmetic bit-exactly, so a
    // mismatch means the sample (not the count) drifted
    "q_job_top_tokens_sampled" ->
      """WITH sampled AS (
        |  SELECT text FROM documents
        |  WHERE ('0x' || substr(md5('r18t:' || doc_id::VARCHAR), 1, 8))::BIGINT
        |    % 10000 < 5000),
        |toks AS (
        |  SELECT list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> len(x) > 0) AS tk
        |  FROM sampled),
        |grams AS (
        |  SELECT unnest([array_to_string(tk[i:i+1], ' ')
        |    for i in range(1, len(tk))]) AS gram
        |  FROM toks WHERE len(tk) >= 2)
        |SELECT gram, count(*)::BIGINT AS n_occurrences
        |FROM grams GROUP BY gram
        |ORDER BY n_occurrences DESC, gram LIMIT 40""".stripMargin,
    "q_group_cap" -> groupCapOracle,
    "q_job_group_cap" -> groupCapOracle,
    "q_group_cap_uniform" ->
      """WITH r AS (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5('quota:' || doc_id::VARCHAR), doc_id) AS rn
        |  FROM documents)
        |SELECT doc_id, lang FROM r WHERE rn <= 10 ORDER BY doc_id""".stripMargin,
    "q_json_extract" -> jsonExtractOracle,
    "q_job_json_extract" -> jsonExtractOracle,
    "q_histogram" -> histogramOracle,
    "q_job_histogram" -> histogramOracle,
    // plain filter+agg over the source: the sorted layout changes the
    // FILES (disjoint ranges for skipping), never the answer
    "q_job_sorted_layout" ->
      """SELECT o_orderstatus, count(*)::BIGINT AS n_orders,
        |  sum(round(o_totalprice * 100)::BIGINT) / 100.0 AS sum_price
        |FROM orders WHERE o_totalprice > 150000
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // plain join+agg over the same parquet: the bucketed layout changes
    // the PLAN (exchange-free join), never the answer
    "q_job_bucketed_join" ->
      """SELECT c_mktsegment, count(*)::BIGINT AS n_orders,
        |  sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS sum_cents
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    // decontamination gram rule replayed in DuckDB: the same normalized
    // word 3-grams (lowercase, whitespace-collapse, distinct, short
    // texts collapse to one whole-text shingle), distinct-intersection
    // hit counts, min_overlap=2 threshold. One oracle serves BOTH
    // physical strategies (broadcast narrow-map and ids-only join).
    "q_decontaminate" -> decontaminateOracle,
    "q_decontaminate_join" -> decontaminateOracle,
    "q_decontaminate_bloom" -> decontaminateOracle,
    // the audit face: pair-level gram intersections for every doc the
    // flag face marks contaminated (min_overlap gates the DOC-level
    // distinct-union total, same as q_decontaminate — not the pair)
    "q_decontaminate_pairs" ->
      """WITH norm AS (
        |  SELECT doc_id,
        |    str_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS tk
        |  FROM documents),
        |bgrams AS (
        |  SELECT doc_id AS bench_id, unnest(list_distinct(
        |    [array_to_string(tk[i:i+2], ' ')
        |     for i in range(1, greatest(len(tk)-2, 1)+1)])) AS g
        |  FROM norm WHERE doc_id % 41 = 0),
        |cgrams AS (
        |  SELECT doc_id AS corpus_id, unnest(list_distinct(
        |    [array_to_string(tk[i:i+2], ' ')
        |     for i in range(1, greatest(len(tk)-2, 1)+1)])) AS g
        |  FROM norm WHERE doc_id % 41 <> 0),
        |dochits AS (
        |  SELECT corpus_id, count(*) AS total
        |  FROM cgrams JOIN (SELECT DISTINCT g FROM bgrams) USING (g)
        |  GROUP BY 1)
        |SELECT c.corpus_id, b.bench_id, count(*)::BIGINT AS n_shared
        |FROM cgrams c JOIN bgrams b USING (g)
        |JOIN dochits d ON d.corpus_id = c.corpus_id AND d.total >= 2
        |GROUP BY 1, 2
        |ORDER BY c.corpus_id, b.bench_id""".stripMargin,
    // the declarative emit=clean face: survivors only (hits < 2)
    "q_job_decontaminate" ->
      """WITH norm AS (
        |  SELECT doc_id, n_chars,
        |    str_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS tk
        |  FROM documents),
        |bgrams AS (
        |  SELECT DISTINCT unnest(list_distinct(
        |    [array_to_string(tk[i:i+2], ' ')
        |     for i in range(1, greatest(len(tk)-2, 1)+1)])) AS g
        |  FROM norm WHERE doc_id % 41 = 0),
        |cgrams AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(tk[i:i+2], ' ')
        |     for i in range(1, greatest(len(tk)-2, 1)+1)])) AS g
        |  FROM norm WHERE doc_id % 41 <> 0),
        |hits AS (
        |  SELECT doc_id, count(*) AS n_hits
        |  FROM cgrams JOIN bgrams USING (g) GROUP BY 1)
        |SELECT n.doc_id, n.n_chars
        |FROM norm n LEFT JOIN hits h USING (doc_id)
        |WHERE n.doc_id % 41 <> 0 AND coalesce(h.n_hits, 0) < 2
        |ORDER BY n.doc_id""".stripMargin,
    // md5-bucket replay: both engines hash the decimal-string id; sum of
    // member ids pins per-row routing, not just split sizes
    "q_job_hash_split" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 10000 AS bucket
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, CASE WHEN bucket < 8000 THEN 'train'
        |    WHEN bucket < 9000 THEN 'val' ELSE 'test' END AS split
        |  FROM b)
        |SELECT split, count(*)::BIGINT AS n_docs, sum(doc_id)::BIGINT AS sum_ids
        |FROM s GROUP BY split ORDER BY split""".stripMargin,
    // seeded md5-bucket replay with per-stratum thresholds (0.3/1.0/0.6
    // on the 10,000 grid); sum of kept ids pins per-row keep/drop
    "q_job_sample" ->
      """WITH b AS (
        |  SELECT doc_id, lang,
        |    ('0x' || substr(md5('r12:' || doc_id::VARCHAR), 1, 8))::BIGINT % 10000 AS bucket
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, lang FROM b
        |  WHERE bucket < CASE lang WHEN 'en' THEN 3000 WHEN 'fr' THEN 10000 ELSE 6000 END)
        |SELECT lang, count(*)::BIGINT AS n_docs, sum(doc_id)::BIGINT AS sum_ids
        |FROM k GROUP BY lang ORDER BY lang""".stripMargin,
    // same md5 replay with a NULL stratum staged in (doc_id % 7): the
    // CASE ... ELSE default branch IS the null fall-through rule
    "q_job_sample_strata" ->
      """WITH staged AS (
        |  SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END AS lang
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, lang,
        |    ('0x' || substr(md5('r14:' || doc_id::VARCHAR), 1, 8))::BIGINT % 10000 AS bucket
        |  FROM staged),
        |k AS (
        |  SELECT doc_id, lang FROM b
        |  WHERE bucket < CASE lang WHEN 'en' THEN 2500 WHEN 'zh' THEN 10000 ELSE 5000 END)
        |SELECT lang, count(*)::BIGINT AS n_docs, sum(doc_id)::BIGINT AS sum_ids
        |FROM k GROUP BY lang ORDER BY lang""".stripMargin,
    // seeded md5 order-key replay: per-row key parity pins the whole
    // permutation (the compare is order-insensitive; ShufflePlanSpec
    // pins the total ORDER on the Spark side)
    "q_job_shuffle" ->
      """SELECT doc_id, lang, md5('r12s:' || doc_id::VARCHAR) AS shuffle_key
        |FROM documents ORDER BY shuffle_key""".stripMargin,
    "text_topk" ->
      """SELECT token, count(*)::BIGINT AS n_occurrences
        |FROM (SELECT unnest(string_split_regex(lower(text), '\s+')) AS token
        |      FROM documents)
        |WHERE token <> ''
        |GROUP BY token
        |ORDER BY n_occurrences DESC, token
        |LIMIT 50""".stripMargin,
    "q_gopher" -> gopherOracle,
    "q_job_gopher" -> gopherOracle,
    "text_stats" ->
      """WITH base AS (
        |  SELECT doc_id, text,
        |    CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END::BIGINT AS n_tokens,
        |    len(text) AS n_chars,
        |    len(text) - len(regexp_replace(text, '[[:punct:]]', '', 'g')) AS n_punct,
        |    len(regexp_replace(trim(text), '\s+', '', 'g')) AS n_nonspace,
        |    CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |           x -> list_contains(['the','a','an','and','or','of','to','in','is','it',
        |             'that','for','on','with','as','at','by','be','this'], x))) END AS n_stops
        |  FROM documents),
        |ratios AS (
        |  SELECT doc_id, n_tokens,
        |    CASE WHEN n_chars = 0 THEN 0.0
        |         ELSE n_punct::DOUBLE / n_chars::DOUBLE END AS punct_r,
        |    CASE WHEN n_tokens = 0 THEN 0.0
        |         ELSE n_stops::DOUBLE / n_tokens::DOUBLE END AS stop_r,
        |    CASE WHEN n_tokens = 0 THEN 0.0
        |         ELSE n_nonspace::DOUBLE / n_tokens::DOUBLE END AS mwl,
        |    n_chars
        |  FROM base)
        |SELECT doc_id, n_tokens,
        |  round(punct_r, 6) AS punct_ratio,
        |  round(stop_r, 6) AS stopword_ratio,
        |  round(mwl, 6) AS mean_word_len,
        |  round((least(n_chars::DOUBLE / 500.0, 1.0)
        |    + least(stop_r * 4.0, 1.0)
        |    + greatest(1.0 - punct_r * 4.0, 0.0)) / 3.0, 6) AS quality
        |FROM ratios ORDER BY doc_id""".stripMargin,
    "text_langid" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents),
        |scores AS (
        |  SELECT doc_id,
        |    len(list_filter(t, x -> list_contains(['der','die','das','und','nicht','ist','ein','mit'], x))) AS s_de,
        |    len(list_filter(t, x -> list_contains(['the','and','of','to','is','that','for','with'], x))) AS s_en,
        |    len(list_filter(t, x -> list_contains(['el','la','los','las','que','de','es','una'], x))) AS s_es,
        |    len(list_filter(t, x -> list_contains(['le','la','les','des','est','une','que','dans'], x))) AS s_fr,
        |    len(list_filter(t, x -> list_contains(['的','是','了','在','我','有','和','不'], x))) AS s_zh
        |  FROM toks),
        |pred AS (
        |  SELECT doc_id,
        |    CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
        |         WHEN s_zh > greatest(s_de, s_en, s_es, s_fr) THEN 'zh'
        |         WHEN s_fr > greatest(s_de, s_en, s_es) THEN 'fr'
        |         WHEN s_es > greatest(s_de, s_en) THEN 'es'
        |         WHEN s_en > s_de THEN 'en'
        |         ELSE 'de' END AS lang_pred
        |  FROM scores)
        |SELECT lang_pred, count(*)::BIGINT AS n_docs
        |FROM pred GROUP BY lang_pred ORDER BY lang_pred""".stripMargin)
}
