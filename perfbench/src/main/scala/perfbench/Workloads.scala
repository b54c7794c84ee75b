package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One job of a workload: its config, the checks of its sinks, the
  * source rows it reads, and a hook run before every pass (resets a
  * non-idempotent sink's target). */
final case class JobDef(name: String, config: String, checks: Seq[Check],
                        sourceRows: Long,
                        beforePass: SparkSession => Unit = _ => (),
                        outputDir: Option[Path] = None)

/** Paths the traced run's direct io and scale calls read. */
final case class ProbeInputs(scans: Seq[(String, String)], docs: String,
                             embeddings: String, query: String, centroids: String)

trait Workload {
  def name: String
  def clients: Int
  def why: String
  /** Write the inputs of `seed` into `dir` with plain Spark writers;
    * `warm` asks for the set-up copy (same shapes, possibly smaller). */
  def generate(spark: SparkSession, seed: Long, dir: Path, warm: Boolean): Unit
  /** The fixed job list over the inputs in `dir`, writing under `out`. */
  def jobs(dir: Path, out: Path): Seq[JobDef]
  /** Load the in-process databases a run's jobs read (per JVM). */
  def load(spark: SparkSession, dir: Path): Unit = ()
  def probeInputs(dir: Path): ProbeInputs
  /** The job the single-core comparison re-runs. */
  def speedupJob: String
  /** Names the generator's sizes; a cached input directory written
    * under another spec is generated again. */
  def inputSpec: String
  /** Sizes and shares of the inputs in `dir`, for the run record. */
  def meta(dir: Path): Map[String, Any]
}

object Workloads {
  val all: Seq[Workload] = Seq(SmallJobs, Curate)
  val WarmSeed = 0L
  def byName(n: String): Option[Workload] = all.find(_.name == n)
  val KeepSeeds = 12

  // ------------------------------------------------------ config helpers

  def fields(fs: (String, String)*): String =
    fs.map {
      case (n, "array") =>
        s"""{"name":"$n","data_type":"array","nullable":true,"item":{"name":"item","data_type":"float"}}"""
      case (n, t) => s"""{"name":"$n","data_type":"$t","nullable":true}"""
    }
      .mkString("""{"fields":[""", ",", "]}")

  /** One component. `routes` are (outPort, toComponent, inPort). */
  def comp(name: String, tpe: String, params: String = "",
           routes: Seq[(String, String, String)] = Nil,
           in: Seq[(String, String)] = Nil, out: Seq[(String, String)] = Nil): String = {
    val rs = routes.groupBy(_._1).toSeq.sortBy(_._1).map { case (p, es) =>
      es.map(e => s"""{"to":"${e._2}","in_port":"${e._3}"}""").mkString(s""""$p":[""", ",", "]")
    }.mkString("{", ",", "}")
    def schemas(ps: Seq[(String, String)]) =
      ps.map { case (p, s) => s""""$p":$s""" }.mkString("{", ",", "}")
    val extra = if (params.isEmpty) "" else params + ","
    s"""{"name":"$name","comp_type":"$tpe",$extra"routes":$rs,""" +
      s""""in_port_schemas":${schemas(in)},"out_port_schemas":${schemas(out)}}"""
  }

  def job(name: String, comps: String*): String =
    s"""{"name":"$name","num_of_retries":0,"strategy_type":"bulk","components":[${comps.mkString(",")}]}"""

  def q(s: String): String = graft.util.JsonStr.quote(s)

  def strings(cols: Seq[String]): Seq[(String, String)] = cols.map(_ -> "string")

  /** Generate `dir` unless a finished copy of the same input `spec`
    * exists; keeps the `KeepSeeds` most recently used seed directories. */
  def ensure(dir: Path, spec: String)(gen: Path => Unit): Unit = {
    val done = dir.resolve("_DONE")
    if (!Files.exists(done) || Files.readString(done) != spec) {
      Files.createDirectories(dir.getParent)
      import scala.jdk.CollectionConverters._
      val ls = Files.list(dir.getParent)
      val others = try ls.iterator().asScala.toSeq
        .filter(p => p != dir && p.getFileName.toString.startsWith("seed-"))
        .sortBy(p => -Files.getLastModifiedTime(p).toMillis)
      finally ls.close()
      if (dir.getFileName.toString.startsWith("seed-"))
        others.drop(KeepSeeds - 1).foreach(deleteTree)
      deleteTree(dir)
      Files.createDirectories(dir)
      gen(dir)
      Files.writeString(done, spec)
    }
    Files.setLastModifiedTime(dir, java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    } finally s.close()
  }

  /** The jobs with each check's expected value bound: computed once per
    * input directory with plain Spark and cached in it. */
  def bind(spark: SparkSession, dir: Path, jobs: Seq[JobDef]): Seq[JobDef] = {
    val f = dir.resolve("expected.tsv")
    val exp: Map[String, String] =
      if (Files.exists(f)) {
        import scala.jdk.CollectionConverters._
        Files.readAllLines(f).asScala.filter(_.nonEmpty).map { l =>
          val i = l.indexOf('\t'); l.substring(0, i) -> l.substring(i + 1)
        }.toMap
      } else {
        val m = par(jobs.flatMap(_.checks).map(c => () => c.name -> c.expected(spark))).toMap
        Files.writeString(f, m.toSeq.sorted.map { case (k, v) => s"$k\t$v" }.mkString("\n"))
        m
      }
    jobs.map(j => j.copy(checks = j.checks.map(c => c.copy(expected = _ => exp(c.name)))))
  }

  /** Run independent Spark actions a few at a time. */
  def par[T](tasks: Seq[() => T]): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      import scala.jdk.CollectionConverters._
      pool.invokeAll(tasks.map(t => new java.util.concurrent.Callable[T] { def call(): T = t() }).asJava)
        .asScala.toSeq.map(_.get())
    } finally pool.shutdown()
  }

  def writeParquet(df: DataFrame, p: Path): Unit = df.write.mode("overwrite").parquet(p.toString)
  def writeCsv(df: DataFrame, p: Path): Unit =
    Data.asStrings(df).write.mode("overwrite").option("header", "true").csv(p.toString)
  def writeNdjson(df: DataFrame, p: Path): Unit =
    Data.asStrings(df).write.mode("overwrite").json(p.toString)
}

import Workloads._

// =================================================================== small

/** Many small, distinct job shapes: fixed cost per execution dominates. */
object SmallJobs extends Workload {
  val name = "small_jobs"
  val clients = 2
  val why = "fixed per-job cost: config, graph build, planning, codegen, stage launch, runtime and api bookkeeping"

  val NOrders = 4000L; val NCust = 1000L; val NItems = 8000L; val NDocs = 400
  val Url = "jdbc:derby:memory:perfbench;create=true"
  val Store = "perfbench"

  val OrdCols = Seq("o_orderkey", "o_custkey", "o_status", "o_total_cents", "o_date", "o_priority")
  val CusCols = Seq("c_custkey", "c_name", "c_nation", "c_segment", "c_acctbal_cents")
  val ItmCols = Seq("l_orderkey", "l_linekey", "l_qty", "l_price_cents", "l_discount_pct",
    "l_flag", "l_shipmode", "l_shipdate")
  val IntCols = Set("o_orderkey", "o_custkey", "o_total_cents", "c_custkey", "c_nation",
    "c_acctbal_cents", "l_orderkey", "l_linekey", "l_qty", "l_price_cents", "l_discount_pct")
  def typed(cols: Seq[String]) = fields(cols.map(c => c -> (if (IntCols(c)) "integer" else "string")): _*)
  def strs(cols: Seq[String]) = fields(strings(cols): _*)
  def conv(cols: Seq[String], onError: String = "raise") =
    cols.map(c => s"""{"column_path":"$c","target":"integer","on_error":"$onError"}""")
      .mkString(""""rules":[""", ",", "]")

  def generate(spark: SparkSession, seed: Long, d: Path, warm: Boolean): Unit = {
    def read(n: String) = spark.read.parquet(d.resolve(n).toString)
    par(Seq(
      () => writeParquet(Data.orders(spark, seed, NOrders, NCust), d.resolve("orders.parquet")),
      () => writeParquet(Data.customers(spark, seed, NCust), d.resolve("customers.parquet")),
      () => writeParquet(Data.lineitems(spark, seed, NItems, NOrders), d.resolve("items.parquet")),
      () => {
        val corpus = Data.corpus(seed, NDocs, 0.1, 0.05)
        writeParquet(Data.corpusFrame(spark, corpus), d.resolve("docs.parquet"))
      },
      () => writeParquet(Data.embeddings(spark, seed, 4000, 16, 8), d.resolve("emb.parquet")),
      () => writeParquet(Data.query(spark, seed, 16, 8, 3), d.resolve("query.parquet")),
      () => writeParquet(Data.centroids(spark, seed, 16, 8), d.resolve("centroids.parquet"))))
    par(Seq(
      () => writeCsv(read("items.parquet"), d.resolve("items.csv")),
      () => writeNdjson(read("orders.parquet"), d.resolve("orders.jsonl")),
      () => Data.asStrings(read("customers.parquet")).write.mode("overwrite").format("xml")
        .option("rowTag", "customer").option("rootTag", "customers")
        .save(d.resolve("customers.xml").toString),
      () => Data.writeXlsx(Data.asStrings(read("customers.parquet").orderBy("c_custkey").limit(500)),
        d.resolve("customers.xlsx"), "customers")))
  }

  def jobs(dir: Path, out: Path): Seq[JobDef] = {
    val P = (n: String) => dir.resolve(n).toString
    val O = (n: String) => out.resolve(n).toString

    def ord(s: SparkSession) = s.read.parquet(P("orders.parquet"))
    def cus(s: SparkSession) = s.read.parquet(P("customers.parquet"))
    def itm(s: SparkSession) = s.read.parquet(P("items.parquet"))
    def sql(s: SparkSession, query: String): DataFrame = {
      ord(s).createOrReplaceTempView("ref_orders")
      cus(s).createOrReplaceTempView("ref_customers")
      itm(s).createOrReplaceTempView("ref_items")
      s.sql(query)
    }

    val jobs = scala.collection.mutable.ArrayBuffer.empty[JobDef]

    // read_csv → type_conversion → filter (AND/NOT) → write_csv
    locally {
      val o = O("csv_filter")
      jobs += JobDef("csv_convert_filter_csv", job("csv_convert_filter_csv",
        comp("r", "read_csv", s""""filepath":${q(P("items.csv"))}""",
          Seq(("out", "tc", "in")), out = Seq("out" -> strs(ItmCols))),
        comp("tc", "type_conversion", conv(Seq("l_orderkey", "l_linekey", "l_qty", "l_price_cents")),
          Seq(("out", "f", "in")), in = Seq("in" -> strs(ItmCols)),
          out = Seq("out" -> fields(ItmCols.map(c => c -> (if (Set("l_orderkey", "l_linekey", "l_qty", "l_price_cents")(c)) "integer" else "string")): _*))),
        comp("f", "filter", """"rule":{"logical_operator":"AND","rules":[{"column":"l_qty","operator":"<=","value":25},{"logical_operator":"NOT","rules":[{"column":"l_flag","operator":"==","value":"A"}]}]}""",
          Seq(("pass", "w", "in")), in = Seq("in" -> typed(ItmCols)), out = Seq("pass" -> typed(ItmCols))),
        comp("w", "write_csv", s""""filepath":${q(o)},"single_file":false""", in = Seq("in" -> typed(ItmCols)))),
        Seq(Check.rows("csv_filter", ItmCols,
          s => sql(s, "SELECT * FROM ref_items WHERE l_qty <= 25 AND l_flag <> 'A'"), Check.csv(o))),
        NItems, outputDir = Some(out.resolve("csv_filter")))
    }
    // filter pass AND fail ports, two sinks
    locally {
      val (p, f) = (O("ff_pass"), O("ff_fail"))
      jobs += JobDef("filter_pass_fail", job("filter_pass_fail",
        comp("r", "read_parquet", s""""filepath":${q(P("items.parquet"))}""",
          Seq(("out", "f", "in")), out = Seq("out" -> typed(ItmCols))),
        comp("f", "filter", """"rule":{"logical_operator":"OR","rules":[{"column":"l_shipmode","operator":"==","value":"AIR"},{"column":"l_shipmode","operator":"==","value":"MAIL"}]}""",
          Seq(("pass", "wp", "in"), ("fail", "wf", "in")), in = Seq("in" -> typed(ItmCols)),
          out = Seq("pass" -> typed(ItmCols), "fail" -> typed(ItmCols))),
        comp("wp", "write_parquet", s""""filepath":${q(p)}""", in = Seq("in" -> typed(ItmCols))),
        comp("wf", "write_json", s""""filepath":${q(f)}""", in = Seq("in" -> typed(ItmCols)))),
        Seq(Check.rows("ff_pass", ItmCols, s => sql(s, "SELECT * FROM ref_items WHERE l_shipmode IN ('AIR','MAIL')"), Check.parquet(p)),
          Check.rows("ff_fail", ItmCols, s => sql(s, "SELECT * FROM ref_items WHERE l_shipmode NOT IN ('AIR','MAIL')"), Check.json(f))),
        NItems)
    }
    // aggregation over parquet
    locally {
      val o = O("agg_status")
      val aggS = fields("o_status" -> "string", "n" -> "integer", "total" -> "integer", "lo" -> "integer", "hi" -> "integer")
      jobs += JobDef("parquet_agg", job("parquet_agg",
        comp("r", "read_parquet", s""""filepath":${q(P("orders.parquet"))}""", Seq(("out", "a", "in")), out = Seq("out" -> typed(OrdCols))),
        comp("a", "aggregation", """"group_by":["o_status"],"aggregations":[{"src":"*","op":"count","dest":"n"},{"src":"o_total_cents","op":"sum","dest":"total"},{"src":"o_total_cents","op":"min","dest":"lo"},{"src":"o_total_cents","op":"max","dest":"hi"}]""",
          Seq(("out", "w", "in")), in = Seq("in" -> typed(OrdCols)), out = Seq("out" -> aggS)),
        comp("w", "write_parquet", s""""filepath":${q(o)}""", in = Seq("in" -> aggS))),
        Seq(Check.rows("agg_status", Seq("o_status", "n", "total", "lo", "hi"),
          s => sql(s, "SELECT o_status, count(*) n, sum(o_total_cents) total, min(o_total_cents) lo, max(o_total_cents) hi FROM ref_orders GROUP BY o_status"),
          Check.parquet(o))), NOrders)
    }
    // schema_mapping join + map rules → aggregation
    locally {
      val o = O("join_map")
      val mapped = fields("segment" -> "string", "cents" -> "integer")
      val aggS = fields("segment" -> "string", "n" -> "integer", "total" -> "integer")
      jobs += JobDef("join_map_agg", job("join_map_agg",
        comp("o", "read_parquet", s""""filepath":${q(P("orders.parquet"))}""", Seq(("out", "sm", "orders")), out = Seq("out" -> typed(OrdCols))),
        comp("c", "read_parquet", s""""filepath":${q(P("customers.parquet"))}""", Seq(("out", "sm", "customers")), out = Seq("out" -> typed(CusCols))),
        comp("sm", "schema_mapping", """"join_plan":{"steps":[{"left_port":"orders","right_port":"customers","left_on":["o_custkey"],"right_on":["c_custkey"],"how":"inner","output_port":"joined"}]},"rules_by_dest":{"out":{"segment":{"src_port":"joined","src_path":"c_segment"},"cents":{"src_port":"joined","src_path":"o_total_cents"}}}""",
          Seq(("out", "a", "in")), in = Seq("orders" -> typed(OrdCols), "customers" -> typed(CusCols)), out = Seq("out" -> mapped)),
        comp("a", "aggregation", """"group_by":["segment"],"aggregations":[{"src":"*","op":"count","dest":"n"},{"src":"cents","op":"sum","dest":"total"}]""",
          Seq(("out", "w", "in")), in = Seq("in" -> mapped), out = Seq("out" -> aggS)),
        comp("w", "write_parquet", s""""filepath":${q(o)}""", in = Seq("in" -> aggS))),
        Seq(Check.rows("join_map", Seq("segment", "n", "total"),
          s => sql(s, "SELECT c_segment segment, count(*) n, sum(o_total_cents) total FROM ref_orders JOIN ref_customers ON o_custkey = c_custkey GROUP BY c_segment"),
          Check.parquet(o))), NOrders + NCust)
    }
    // NDJSON → type_conversion (raise + null policies) → NDJSON
    locally {
      val o = O("json_tc")
      val outS = fields(OrdCols.map(c => c -> (if (Set("o_orderkey", "o_custkey", "o_total_cents")(c)) "integer" else "string")): _*)
      jobs += JobDef("json_typeconv_json", job("json_typeconv_json",
        comp("r", "read_json", s""""filepath":${q(P("orders.jsonl"))}""", Seq(("out", "tc", "in")), out = Seq("out" -> strs(OrdCols))),
        comp("tc", "type_conversion", """"rules":[{"column_path":"o_orderkey","target":"integer","on_error":"raise"},{"column_path":"o_custkey","target":"integer","on_error":"null"},{"column_path":"o_total_cents","target":"integer","on_error":"raise"}]""",
          Seq(("out", "w", "in")), in = Seq("in" -> strs(OrdCols)), out = Seq("out" -> outS)),
        comp("w", "write_json", s""""filepath":${q(o)}""", in = Seq("in" -> outS))),
        Seq(Check.rows("json_tc", OrdCols, s => ord(s), Check.json(o))), NOrders)
    }
    // split tee → two filters → merge → aggregation
    locally {
      val o = O("split_merge")
      val aggS = fields("l_flag" -> "string", "n" -> "integer")
      val S = strs(ItmCols)
      jobs += JobDef("split_merge_agg", job("split_merge_agg",
        comp("r", "read_csv", s""""filepath":${q(P("items.csv"))}""", Seq(("out", "sp", "in")), out = Seq("out" -> S)),
        comp("sp", "split", """"extra_output_ports":["a","b"]""", Seq(("a", "fa", "in"), ("b", "fb", "in")), in = Seq("in" -> S), out = Seq("a" -> S, "b" -> S)),
        comp("fa", "filter", """"rule":{"column":"l_flag","operator":"==","value":"A"}""", Seq(("pass", "m", "in")), in = Seq("in" -> S), out = Seq("pass" -> S)),
        comp("fb", "filter", """"rule":{"column":"l_flag","operator":"==","value":"R"}""", Seq(("pass", "m", "in")), in = Seq("in" -> S), out = Seq("pass" -> S)),
        comp("m", "merge", "", Seq(("merge", "a", "in")), in = Seq("in" -> S), out = Seq("merge" -> S)),
        comp("a", "aggregation", """"group_by":["l_flag"],"aggregations":[{"src":"*","op":"count","dest":"n"}]""",
          Seq(("out", "w", "in")), in = Seq("in" -> S), out = Seq("out" -> aggS)),
        comp("w", "write_parquet", s""""filepath":${q(o)}""", in = Seq("in" -> aggS))),
        Seq(Check.rows("split_merge", Seq("l_flag", "n"),
          s => sql(s, "SELECT l_flag, count(*) n FROM ref_items WHERE l_flag IN ('A','R') GROUP BY l_flag"), Check.parquet(o))), NItems)
    }
    // window row_number → filter top-1 per customer
    locally {
      val o = O("window_top")
      val withRank = fields(OrdCols.map(c => c -> (if (IntCols(c)) "integer" else "string")) :+ ("rk" -> "integer"): _*)
      jobs += JobDef("window_topn", job("window_topn",
        comp("r", "read_parquet", s""""filepath":${q(P("orders.parquet"))}""", Seq(("out", "wi", "in")), out = Seq("out" -> typed(OrdCols))),
        comp("wi", "window", """"partition_by":["o_custkey"],"order_by":[["o_total_cents",-1],["o_orderkey",1]],"functions":[{"fn":"row_number","dest":"rk"}]""",
          Seq(("out", "f", "in")), in = Seq("in" -> typed(OrdCols)), out = Seq("out" -> withRank)),
        comp("f", "filter", """"rule":{"column":"rk","operator":"<=","value":1}""", Seq(("pass", "w", "in")), in = Seq("in" -> withRank), out = Seq("pass" -> withRank)),
        comp("w", "write_parquet", s""""filepath":${q(o)}""", in = Seq("in" -> withRank))),
        Seq(Check.rows("window_top", OrdCols :+ "rk",
          s => sql(s, "SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_total_cents DESC, o_orderkey) rk FROM ref_orders) WHERE rk <= 1"),
          Check.parquet(o))), NOrders)
    }
    // sort + limit
    locally {
      val o = O("sort_top")
      jobs += JobDef("sort_limit", job("sort_limit",
        comp("r", "read_parquet", s""""filepath":${q(P("items.parquet"))}""", Seq(("out", "s", "in")), out = Seq("out" -> typed(ItmCols))),
        comp("s", "sort", """"sort":[["l_price_cents",-1],["l_linekey",1]],"limit":100""", Seq(("out", "w", "in")), in = Seq("in" -> typed(ItmCols)), out = Seq("out" -> typed(ItmCols))),
        comp("w", "write_json", s""""filepath":${q(o)}""", in = Seq("in" -> typed(ItmCols)))),
        Seq(Check.rows("sort_top", ItmCols, s => sql(s, "SELECT * FROM ref_items ORDER BY l_price_cents DESC, l_linekey LIMIT 100"), Check.json(o))), NItems)
    }
    // set_op intersect over two filtered branches
    locally {
      val o = O("set_op")
      val C = typed(CusCols)
      jobs += JobDef("set_op_intersect", job("set_op_intersect",
        comp("r", "read_parquet", s""""filepath":${q(P("customers.parquet"))}""", Seq(("out", "sp", "in")), out = Seq("out" -> C)),
        comp("sp", "split", """"extra_output_ports":["a","b"]""", Seq(("a", "fa", "in"), ("b", "fb", "in")), in = Seq("in" -> C), out = Seq("a" -> C, "b" -> C)),
        comp("fa", "filter", """"rule":{"column":"c_nation","operator":"<","value":12}""", Seq(("pass", "so", "left")), in = Seq("in" -> C), out = Seq("pass" -> C)),
        comp("fb", "filter", """"rule":{"column":"c_segment","operator":"==","value":"BUILDING"}""", Seq(("pass", "so", "right")), in = Seq("in" -> C), out = Seq("pass" -> C)),
        comp("so", "set_op", """"op":"intersect"""", Seq(("out", "w", "in")), in = Seq("left" -> C, "right" -> C), out = Seq("out" -> C)),
        comp("w", "write_parquet", s""""filepath":${q(o)}""", in = Seq("in" -> C))),
        Seq(Check.rows("set_op", CusCols, s => sql(s, "SELECT * FROM ref_customers WHERE c_nation < 12 AND c_segment = 'BUILDING'"), Check.parquet(o))), NCust)
    }
    // unpivot
    locally {
      val o = O("unpivot")
      val outS = fields("c_custkey" -> "integer", "measure" -> "string", "v" -> "integer")
      jobs += JobDef("unpivot", job("unpivot",
        comp("r", "read_parquet", s""""filepath":${q(P("customers.parquet"))}""", Seq(("out", "u", "in")), out = Seq("out" -> typed(CusCols))),
        comp("u", "unpivot", """"id_columns":["c_custkey"],"value_columns":["c_nation","c_acctbal_cents"],"var_column":"measure","value_column":"v"""",
          Seq(("out", "w", "in")), in = Seq("in" -> typed(CusCols)), out = Seq("out" -> outS)),
        comp("w", "write_parquet", s""""filepath":${q(o)}""", in = Seq("in" -> outS))),
        Seq(Check.rows("unpivot", Seq("c_custkey", "measure", "v"),
          s => sql(s, "SELECT c_custkey, 'c_nation' measure, c_nation v FROM ref_customers UNION ALL SELECT c_custkey, 'c_acctbal_cents', c_acctbal_cents FROM ref_customers"),
          Check.parquet(o))), NCust)
    }
    // sql component over two ports
    locally {
      val o = O("sql_join")
      val outS = fields("c_nation" -> "integer", "n" -> "integer", "total" -> "integer")
      jobs += JobDef("sql_join", job("sql_join",
        comp("o", "read_parquet", s""""filepath":${q(P("orders.parquet"))}""", Seq(("out", "s", "o")), out = Seq("out" -> typed(OrdCols))),
        comp("c", "read_parquet", s""""filepath":${q(P("customers.parquet"))}""", Seq(("out", "s", "c")), out = Seq("out" -> typed(CusCols))),
        comp("s", "sql", s""""query":${q("SELECT c_nation, count(*) AS n, sum(o_total_cents) AS total FROM s_o JOIN s_c ON o_custkey = c_custkey GROUP BY c_nation")}""",
          Seq(("out", "w", "in")), in = Seq("o" -> typed(OrdCols), "c" -> typed(CusCols)), out = Seq("out" -> outS)),
        comp("w", "write_parquet", s""""filepath":${q(o)}""", in = Seq("in" -> outS))),
        Seq(Check.rows("sql_join", Seq("c_nation", "n", "total"),
          s => sql(s, "SELECT c_nation, count(*) n, sum(o_total_cents) total FROM ref_orders JOIN ref_customers ON o_custkey = c_custkey GROUP BY c_nation"),
          Check.parquet(o))), NOrders + NCust)
    }
    // XML → type_conversion → aggregation
    locally {
      val o = O("xml_agg")
      val S = strs(CusCols)
      val T = fields(CusCols.map(c => c -> (if (Set("c_nation", "c_acctbal_cents")(c)) "integer" else "string")): _*)
      val aggS = fields("c_nation" -> "integer", "n" -> "integer", "bal" -> "integer")
      jobs += JobDef("xml_convert_agg", job("xml_convert_agg",
        comp("r", "read_xml", s""""filepath":${q(P("customers.xml"))},"record_tag":"customer"""", Seq(("out", "tc", "in")), out = Seq("out" -> S)),
        comp("tc", "type_conversion", conv(Seq("c_nation", "c_acctbal_cents")), Seq(("out", "a", "in")), in = Seq("in" -> S), out = Seq("out" -> T)),
        comp("a", "aggregation", """"group_by":["c_nation"],"aggregations":[{"src":"*","op":"count","dest":"n"},{"src":"c_acctbal_cents","op":"sum","dest":"bal"}]""",
          Seq(("out", "w", "in")), in = Seq("in" -> T), out = Seq("out" -> aggS)),
        comp("w", "write_parquet", s""""filepath":${q(o)}""", in = Seq("in" -> aggS))),
        Seq(Check.rows("xml_agg", Seq("c_nation", "n", "bal"),
          s => sql(s, "SELECT c_nation, count(*) n, sum(c_acctbal_cents) bal FROM ref_customers GROUP BY c_nation"), Check.parquet(o))), NCust)
    }
    // Excel → type_conversion → filter → aggregation
    locally {
      val o = O("excel_agg")
      val S = strs(CusCols)
      val T = fields(CusCols.map(c => c -> (if (Set("c_custkey", "c_nation")(c)) "integer" else "string")): _*)
      val aggS = fields("c_nation" -> "integer", "n" -> "integer", "lo" -> "integer")
      jobs += JobDef("excel_filter_agg", job("excel_filter_agg",
        comp("r", "read_excel", s""""filepath":${q(P("customers.xlsx"))},"sheet_name":"customers"""", Seq(("out", "tc", "in")), out = Seq("out" -> S)),
        comp("tc", "type_conversion", conv(Seq("c_custkey", "c_nation")), Seq(("out", "f", "in")), in = Seq("in" -> S), out = Seq("out" -> T)),
        comp("f", "filter", """"rule":{"column":"c_segment","operator":"==","value":"BUILDING"}""", Seq(("pass", "a", "in")), in = Seq("in" -> T), out = Seq("pass" -> T)),
        comp("a", "aggregation", """"group_by":["c_nation"],"aggregations":[{"src":"*","op":"count","dest":"n"},{"src":"c_custkey","op":"min","dest":"lo"}]""",
          Seq(("out", "w", "in")), in = Seq("in" -> T), out = Seq("out" -> aggS)),
        comp("w", "write_parquet", s""""filepath":${q(o)}""", in = Seq("in" -> aggS))),
        Seq(Check.rows("excel_agg", Seq("c_nation", "n", "lo"),
          s => sql(s, "SELECT c_nation, count(*) n, min(c_custkey) lo FROM (SELECT * FROM ref_customers ORDER BY c_custkey LIMIT 500) WHERE c_segment = 'BUILDING' GROUP BY c_nation"),
          Check.parquet(o))), 500)
    }
    // parquet → filter → JDBC insert (target emptied before each pass)
    locally {
      val cols = Seq("o_orderkey", "o_custkey", "o_total_cents")
      val S = fields(cols.map(_ -> "integer"): _*)
      jobs += JobDef("jdbc_insert", job("jdbc_insert",
        comp("r", "read_parquet", s""""filepath":${q(P("orders.parquet"))}""", Seq(("out", "f", "in")), out = Seq("out" -> typed(OrdCols))),
        comp("f", "filter", """"rule":{"column":"o_status","operator":"==","value":"F"}""", Seq(("pass", "p", "in")), in = Seq("in" -> typed(OrdCols)), out = Seq("pass" -> typed(OrdCols))),
        comp("p", "sql", s""""query":${q("SELECT o_orderkey, o_custkey, o_total_cents FROM p_in")}""", Seq(("out", "w", "in")), in = Seq("in" -> typed(OrdCols)), out = Seq("out" -> S)),
        comp("w", "write_jdbc", s""""url":${q(Url)},"entity_name":"ORD_F","dialect":"derby","if_exists":"insert"""", in = Seq("in" -> S))),
        Seq(Check.rows("jdbc_insert", cols, s => sql(s, "SELECT o_orderkey, o_custkey, o_total_cents FROM ref_orders WHERE o_status = 'F'"),
          Check.jdbc(Url, "ORD_F"))), NOrders,
        beforePass = _ => jdbcExec("DELETE FROM ORD_F"))
    }
    // JDBC query read → JDBC upsert into a seeded table
    locally {
      val cols = Seq("o_orderkey", "o_status", "o_total_cents")
      val S = fields("o_orderkey" -> "integer", "o_status" -> "string", "o_total_cents" -> "integer")
      val query = """SELECT "o_orderkey", "o_status", "o_total_cents" FROM SRC_ORD WHERE "o_total_cents" < 2500000"""
      jobs += JobDef("jdbc_read_upsert", job("jdbc_read_upsert",
        comp("r", "read_jdbc", s""""url":${q(Url)},"query":${q(query)}""", Seq(("out", "w", "in")), out = Seq("out" -> S)),
        comp("w", "write_jdbc", s""""url":${q(Url)},"entity_name":"ORD_UP","dialect":"derby","if_exists":"upsert","key_fields":["o_orderkey"]""", in = Seq("in" -> S))),
        Seq(Check.rows("jdbc_upsert", cols, s => sql(s,
          """SELECT o_orderkey, o_status, o_total_cents FROM ref_orders WHERE o_orderkey <= 2000 AND o_total_cents < 2500000
            |UNION ALL SELECT o_orderkey, 'X', 0 FROM ref_orders WHERE o_orderkey <= 500 AND o_total_cents >= 2500000
            |UNION ALL SELECT id + 5000, 'X', 0 FROM range(1, 101)""".stripMargin),
          Check.jdbc(Url, "ORD_UP"))), 2000)
    }
    // in-memory document store read → aggregation
    locally {
      val o = O("mongo_agg")
      val aggS = fields("c_nation" -> "integer", "n" -> "integer")
      jobs += JobDef("mongo_read_agg", job("mongo_read_agg",
        comp("r", "read_mongodb", s""""store":"$Store","entity_name":"customers","query_filter":{"c_segment":"MACHINERY"}""",
          Seq(("out", "a", "in")), out = Seq("out" -> typed(CusCols))),
        comp("a", "aggregation", """"group_by":["c_nation"],"aggregations":[{"src":"*","op":"count","dest":"n"}]""",
          Seq(("out", "w", "in")), in = Seq("in" -> typed(CusCols)), out = Seq("out" -> aggS)),
        comp("w", "write_parquet", s""""filepath":${q(o)}""", in = Seq("in" -> aggS))),
        Seq(Check.rows("mongo_agg", Seq("c_nation", "n"),
          s => sql(s, "SELECT c_nation, count(*) n FROM ref_customers WHERE c_segment = 'MACHINERY' GROUP BY c_nation"), Check.parquet(o))), NCust)
    }
    // aggregation → document store truncate-insert
    locally {
      val aggS = fields("o_priority" -> "string", "n" -> "integer", "total" -> "integer")
      jobs += JobDef("mongo_write", job("mongo_write",
        comp("r", "read_parquet", s""""filepath":${q(P("orders.parquet"))}""", Seq(("out", "a", "in")), out = Seq("out" -> typed(OrdCols))),
        comp("a", "aggregation", """"group_by":["o_priority"],"aggregations":[{"src":"*","op":"count","dest":"n"},{"src":"o_total_cents","op":"sum","dest":"total"}]""",
          Seq(("out", "w", "in")), in = Seq("in" -> typed(OrdCols)), out = Seq("out" -> aggS)),
        comp("w", "write_mongodb", s""""store":"$Store","entity_name":"prio_totals","if_exists":"truncate"""", in = Seq("in" -> aggS))),
        Seq(Check.rows("mongo_write", Seq("o_priority", "n", "total"),
          s => sql(s, "SELECT o_priority, count(*) n, sum(o_total_cents) total FROM ref_orders GROUP BY o_priority"),
          Check.mongo(Store, "prio_totals"))), NOrders)
    }
    // XML sink
    locally {
      val o = O("xml_out")
      jobs += JobDef("xml_write", job("xml_write",
        comp("r", "read_parquet", s""""filepath":${q(P("customers.parquet"))}""", Seq(("out", "f", "in")), out = Seq("out" -> typed(CusCols))),
        comp("f", "filter", """"rule":{"column":"c_nation","operator":"==","value":3}""", Seq(("pass", "w", "in")), in = Seq("in" -> typed(CusCols)), out = Seq("pass" -> typed(CusCols))),
        comp("w", "write_xml", s""""filepath":${q(o)},"root_tag":"customers","record_tag":"customer"""", in = Seq("in" -> typed(CusCols)))),
        Seq(Check.rows("xml_out", CusCols, s => sql(s, "SELECT * FROM ref_customers WHERE c_nation = 3"), Check.xml(o, "customer"))), NCust)
    }
    jobs.toSeq.sortBy(j => SubmitOrder.indexOf(j.name))
  }

  /** Longest jobs first, so the two clients finish a pass together. */
  val SubmitOrder = Seq("split_merge_agg", "json_typeconv_json", "filter_pass_fail",
    "xml_convert_agg", "csv_convert_filter_csv", "sql_join", "excel_filter_agg",
    "set_op_intersect", "join_map_agg", "window_topn", "parquet_agg", "sort_limit",
    "mongo_write", "xml_write", "jdbc_insert", "mongo_read_agg", "jdbc_read_upsert", "unpivot")

  def probeInputs(dir: Path): ProbeInputs = {
    val P = (n: String) => dir.resolve(n).toString
    ProbeInputs(Seq("csv" -> P("items.csv"), "json" -> P("orders.jsonl"), "parquet" -> P("orders.parquet")),
      P("docs.parquet"), P("emb.parquet"), P("query.parquet"), P("centroids.parquet"))
  }
  val speedupJob = "join_map_agg"
  val inputSpec = s"orders=$NOrders customers=$NCust items=$NItems docs=$NDocs v1"
  def meta(dir: Path): Map[String, Any] =
    Map("orders_rows" -> NOrders, "customers_rows" -> NCust, "items_rows" -> NItems,
      "distinct_job_shapes" -> SubmitOrder.size, "input_bytes" -> Data.bytesUnder(dir),
      "planted_duplicate_share" -> 0.0)

  private def jdbcExec(sql: String): Unit = {
    val c = java.sql.DriverManager.getConnection(Url)
    try { val st = c.createStatement(); try st.execute(sql) catch { case _: java.sql.SQLException => () } finally st.close() }
    finally c.close()
  }

  /** The in-process databases (Derby, document store) live only as long
    * as the JVM, so they are loaded on every run from the input files,
    * with plain Spark's JDBC writer and the store's own insert API. */
  override def load(spark: SparkSession, dir: Path): Unit = {
    val ord = spark.read.parquet(dir.resolve("orders.parquet").toString)
    Seq("SRC_ORD", "ORD_UP", "ORD_F").foreach(t => jdbcExec(s"DROP TABLE $t"))
    ord.filter(col("o_orderkey") <= 2000).select("o_orderkey", "o_status", "o_total_cents")
      .coalesce(1).write.mode("overwrite").jdbc(Url, "SRC_ORD", new java.util.Properties())
    jdbcExec("""CREATE TABLE ORD_UP ("o_orderkey" BIGINT PRIMARY KEY, "o_status" VARCHAR(10), "o_total_cents" BIGINT)""")
    val c = java.sql.DriverManager.getConnection(Url)
    try {
      val ps = c.prepareStatement("INSERT INTO ORD_UP VALUES (?, 'X', 0)")
      for (k <- (1L to 500L) ++ (5001L to 5100L)) { ps.setLong(1, k); ps.addBatch() }
      ps.executeBatch(); ps.close()
    } finally c.close()
    val store = graft.io.MongoIO.InMemoryStores.get(Store)
    store.truncate("customers"); store.truncate("prio_totals")
    store.insert("customers", spark.read.parquet(dir.resolve("customers.parquet").toString)
      .toJSON.collect().toSeq)
  }
}

// ================================================================== curate

/** Write-heavy LLM-data curation plus one IVF similarity search. */
object Curate extends Workload {
  val name = "curate"
  val clients = 1
  val why = "scale-module work (text rules, MinHash dedup, connected components, IVF) and io writes as large as the input"

  val NDocs = 5000; val DupShare = 0.15; val ShortShare = 0.05
  val NEmb = 10000L; val Dim = 32; val Centers = 16
  val WarmDocs = 400; val WarmEmb = 2000L
  val RecallFloor = 0.9

  /** Survivor ids and their normalized text, against planted ground truth. */
  def survivorCheck(name: String, docs: String, survivors: Path,
                    output: SparkSession => DataFrame): Check =
    Check.rows(name, Seq("doc_id", "text", "source"), s => {
      import scala.jdk.CollectionConverters._
      val ids = Files.readAllLines(survivors).asScala.filter(_.nonEmpty).map(_.toLong)
      import s.implicits._
      s.read.parquet(docs).join(ids.toSeq.toDF("doc_id"), "doc_id")
        .select(col("doc_id"), trim(regexp_replace(lower(col("text")), "\\s+", " ")).as("text"), col("source"))
    }, output)

  def generate(spark: SparkSession, seed: Long, d: Path, warm: Boolean): Unit = {
    val (nDocs, nEmb) = if (warm) (WarmDocs, WarmEmb) else (NDocs, NEmb)
    par(Seq(
      () => {
        val corpus = Data.corpus(seed, nDocs, DupShare, ShortShare)
        writeParquet(Data.corpusFrame(spark, corpus), d.resolve("docs.parquet"))
        Files.writeString(d.resolve("survivors.txt"),
          Data.expectedSurvivors(corpus).toSeq.sorted.mkString("\n"))
        Files.writeString(d.resolve("clusters.txt"), corpus.clusters.size.toString)
      },
      () => writeParquet(Data.embeddings(spark, seed, nEmb, Dim, Centers), d.resolve("emb.parquet")),
      () => writeParquet(Data.query(spark, seed, Dim, Centers, 5), d.resolve("query.parquet")),
      () => writeParquet(Data.centroids(spark, seed, Dim, Centers), d.resolve("centroids.parquet"))))
  }

  def jobs(src: Path, outRoot: Path): Seq[JobDef] = {
    val P = (n: String) => src.resolve(n).toString
    val O = (n: String) => outRoot.resolve(n).toString
    val D = fields("doc_id" -> "integer", "text" -> "string", "source" -> "string")
    val pairS = fields("id_a" -> "integer", "id_b" -> "integer", "jaccard" -> "float")
    val ccS = fields("id" -> "integer", "component" -> "integer")
    val (gz, pq) = (O("curated.jsonl.gz"), O("curated.parquet"))
    val antiJoin = "SELECT d.* FROM k_docs d LEFT ANTI JOIN (SELECT id FROM k_cc WHERE id <> component) l ON d.doc_id = l.id"
    val (nDocs, nEmb) = if (src.getFileName.toString == "warm") (WarmDocs, WarmEmb) else (NDocs, NEmb)
    val c1 = JobDef("curate_corpus", job("curate_corpus",
      comp("r", "read_parquet", s""""filepath":${q(P("docs.parquet"))}""", Seq(("out", "n", "in")), out = Seq("out" -> D)),
      comp("n", "text_normalize", "", Seq(("out", "g", "in")), in = Seq("in" -> D), out = Seq("out" -> D)),
      comp("g", "gopher_filter", "", Seq(("out", "d", "in"), ("out", "k", "docs")), in = Seq("in" -> D), out = Seq("out" -> D)),
      comp("d", "dedup", """"method":"minhash","emit":"pairs","id_column":"doc_id"""", Seq(("out", "cc", "in")), in = Seq("in" -> D), out = Seq("out" -> pairS)),
      comp("cc", "connected_components", "", Seq(("out", "k", "cc")), in = Seq("in" -> pairS), out = Seq("out" -> ccS)),
      comp("k", "sql", s""""query":${q(antiJoin)}""", Seq(("out", "wj", "in"), ("out", "wp", "in")),
        in = Seq("docs" -> D, "cc" -> ccS), out = Seq("out" -> D)),
      comp("wj", "write_json", s""""filepath":${q(gz)},"gzip":true""", in = Seq("in" -> D)),
      comp("wp", "write_parquet", s""""filepath":${q(pq)}""", in = Seq("in" -> D))),
      Seq(survivorCheck("curated_json", P("docs.parquet"), src.resolve("survivors.txt"), Check.json(gz)),
        survivorCheck("curated_parquet", P("docs.parquet"), src.resolve("survivors.txt"), Check.parquet(pq))),
      nDocs.toLong, outputDir = Some(outRoot.resolve("curated.parquet")))
    val E = fields("id" -> "integer", "embedding" -> "array")
    val cS = fields("cell" -> "integer", "cvec" -> "array")
    val qS = fields("qvec" -> "array")
    val simS = fields("id" -> "integer", "cosine" -> "float")
    val so = O("ivf_top10")
    val c2 = JobDef("ivf_search", job("ivf_search",
      comp("e", "read_parquet", s""""filepath":${q(P("emb.parquet"))}""", Seq(("out", "s", "corpus")), out = Seq("out" -> E)),
      comp("qr", "read_parquet", s""""filepath":${q(P("query.parquet"))}""", Seq(("out", "s", "query")), out = Seq("out" -> qS)),
      comp("c", "read_parquet", s""""filepath":${q(P("centroids.parquet"))}""", Seq(("out", "s", "centroids")), out = Seq("out" -> cS)),
      comp("s", "similarity", """"method":"ivf","k":10,"nprobe":2""", Seq(("out", "w", "in")),
        in = Seq("corpus" -> E, "centroids" -> cS, "query" -> qS), out = Seq("out" -> simS)),
      comp("w", "write_json", s""""filepath":${q(so)}""", in = Seq("in" -> simS))),
      Seq(Check("ivf_recall", s => exactTop(s, P("emb.parquet"), P("query.parquet"), 10),
        s => Check.json(so)(s).select("id").collect().map(_.getLong(0)).sorted.mkString(","),
        (e, a) => Check.recall(e, a) >= RecallFloor)), nEmb)
    Seq(c1, c2)
  }

  def probeInputs(dir: Path): ProbeInputs = {
    val P = (n: String) => dir.resolve(n).toString
    ProbeInputs(Seq("parquet" -> P("docs.parquet"), "parquet" -> P("emb.parquet")),
      P("docs.parquet"), P("emb.parquet"), P("query.parquet"), P("centroids.parquet"))
  }
  val speedupJob = "curate_corpus"
  val inputSpec = s"docs=$NDocs/$WarmDocs emb=$NEmb/$WarmEmb dim=$Dim centers=$Centers dup=$DupShare short=$ShortShare v1"
  def meta(dir: Path): Map[String, Any] =
    Map("docs" -> NDocs, "planted_duplicate_share" -> DupShare, "planted_short_share" -> ShortShare,
      "planted_clusters" -> Files.readString(dir.resolve("clusters.txt")).trim.toInt,
      "embeddings" -> NEmb, "dim" -> Dim, "centers" -> Centers, "recall_floor" -> RecallFloor,
      "distinct_job_shapes" -> 2, "input_bytes" -> Data.bytesUnder(dir))

  /** Exact cosine top-k ids with plain Spark SQL. */
  def exactTop(s: SparkSession, emb: String, query: String, k: Int): String = {
    val qv = s.read.parquet(query)
    val cos = "aggregate(zip_with(embedding, qvec, (a, b) -> cast(a as double) * b), 0D, (x, y) -> x + y) / " +
      "(sqrt(aggregate(embedding, 0D, (x, a) -> x + cast(a as double) * a)) * sqrt(aggregate(qvec, 0D, (x, a) -> x + cast(a as double) * a)))"
    s.read.parquet(emb).crossJoin(qv).selectExpr("id", s"$cos AS c")
      .orderBy(col("c").desc, col("id")).limit(k)
      .collect().map(_.getLong(0)).sorted.mkString(",")
  }
}
