package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * One output check of one job. `expected` is computed once per seed from
 * the generated inputs with plain Spark SQL (never with graft's
 * operators) and cached next to them; `actual` reads the sink's output
 * with a plain Spark reader after the execution. `ok` compares the two.
 */
final case class Check(name: String,
                       expected: SparkSession => String,
                       actual: SparkSession => String,
                       ok: (String, String) => Boolean = (e: String, a: String) => e == a)

object Check {

  /** Row count and an order-insensitive digest over `cols`: the sum of
    * one 64-bit hash per row, each row rendered as its columns' string
    * forms in name order. Equal multisets of rows give equal digests
    * whatever the sink's file layout or column types. */
  def digest(df: DataFrame, cols: Seq[String]): String = {
    val missing = cols.filterNot(df.columns.contains)
    if (missing.nonEmpty) return s"missing columns ${missing.mkString(",")}"
    val rendered = concat_ws("\u0001", cols.sorted.map(c =>
      coalesce(col(s"`$c`").cast("string"), lit("\u0000"))): _*)
    val r = df.select(xxhash64(rendered).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    val s = Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")
    s"${r.getLong(0)}:$s"
  }

  /** Digest check of a sink against a reference frame. */
  def rows(name: String, cols: Seq[String], reference: SparkSession => DataFrame,
           output: SparkSession => DataFrame): Check =
    Check(name, s => digest(reference(s), cols), s => digest(output(s), cols))

  // plain readers of each sink format
  def parquet(path: String)(s: SparkSession): DataFrame = s.read.parquet(path)
  def csv(path: String)(s: SparkSession): DataFrame =
    s.read.option("header", "true").option("inferSchema", "false").csv(path)
  def json(path: String)(s: SparkSession): DataFrame = s.read.json(path)
  def xml(path: String, rowTag: String)(s: SparkSession): DataFrame =
    s.read.format("xml").option("rowTag", rowTag).option("inferSchema", "false").load(path)
  def jdbc(url: String, table: String)(s: SparkSession): DataFrame =
    s.read.jdbc(url, table, new java.util.Properties())
  def mongo(store: String, collection: String)(s: SparkSession): DataFrame = {
    import s.implicits._
    val docs = graft.io.MongoIO.InMemoryStores.get(store)
      .find(collection, graft.io.MongoIO.FindSpec())
    s.read.json(docs.toDS())
  }

  /** Recall of the output's top-k ids against the exact top-k ids. */
  def recall(expectedIds: String, actualIds: String): Double = {
    val e = expectedIds.split(',').filter(_.nonEmpty).toSet
    val a = actualIds.split(',').filter(_.nonEmpty).toSet
    if (e.isEmpty) 0.0 else (e intersect a).size.toDouble / e.size
  }
}
