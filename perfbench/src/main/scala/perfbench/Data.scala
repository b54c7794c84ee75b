package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Seeded input generation with plain Spark writers (and, for the two
 * formats Spark cannot write, a plain JDK xlsx writer and the document
 * store's own insert API). Nothing here calls graft.io, so a change to the
 * program's io layer cannot change what the benchmark feeds it.
 *
 * Every column is a pure function of (seed, row id), so one seed always
 * yields the same rows.
 */
object Data {

  /** Deterministic non-negative hash of the row id in [0, m). */
  def h(seed: Long, salt: Int, m: Long, id: Column = col("id")): Column =
    pmod(xxhash64(id, lit(seed), lit(salt)), lit(m))

  def pick(values: Seq[String], seed: Long, salt: Int,
           id: Column = col("id")): Column =
    element_at(array(values.map(lit): _*),
      (h(seed, salt, values.size.toLong, id) + 1).cast("int"))

  val Statuses = Seq("F", "O", "P")
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Flags = Seq("A", "N", "R")
  val ShipModes = Seq("AIR", "MAIL", "RAIL", "SHIP", "TRUCK")

  /** orders-shaped rows: keys 1..n, money as integer cents. */
  def orders(spark: SparkSession, seed: Long, n: Long, nCust: Long): DataFrame =
    spark.range(0, n, 1, parts(spark)).select(
      (col("id") + 1).as("o_orderkey"),
      (h(seed, 1, nCust) + 1).as("o_custkey"),
      pick(Statuses, seed, 2).as("o_status"),
      (h(seed, 3, 5000000L) + 100).as("o_total_cents"),
      date_format(date_add(lit("2020-01-01").cast("date"),
        h(seed, 4, 1500).cast("int")), "yyyy-MM-dd").as("o_date"),
      pick(Priorities, seed, 5).as("o_priority"))

  /** customer-shaped rows: keys 1..n. */
  def customers(spark: SparkSession, seed: Long, n: Long): DataFrame =
    spark.range(0, n, 1, parts(spark)).select(
      (col("id") + 1).as("c_custkey"),
      concat(lit("Customer#"), lpad((col("id") + 1).cast("string"), 7, "0")).as("c_name"),
      h(seed, 11, 25).as("c_nation"),
      pick(Segments, seed, 12).as("c_segment"),
      (h(seed, 13, 1100000L) - 100000).as("c_acctbal_cents"))

  /** lineitem-shaped rows: `l_linekey` is unique, `l_orderkey` in 1..nOrders. */
  def lineitems(spark: SparkSession, seed: Long, n: Long, nOrders: Long): DataFrame =
    spark.range(0, n, 1, parts(spark)).select(
      (h(seed, 21, nOrders) + 1).as("l_orderkey"),
      (col("id") + 1).as("l_linekey"),
      (h(seed, 22, 50) + 1).as("l_qty"),
      (h(seed, 23, 10000000L) + 90000).as("l_price_cents"),
      h(seed, 24, 11).as("l_discount_pct"),
      pick(Flags, seed, 25).as("l_flag"),
      pick(ShipModes, seed, 26).as("l_shipmode"),
      date_format(date_add(lit("2020-01-01").cast("date"),
        h(seed, 27, 1500).cast("int")), "yyyy-MM-dd").as("l_shipdate"))

  /** Every column as a string: the shape text formats carry. */
  def asStrings(df: DataFrame): DataFrame =
    df.select(df.columns.toSeq.map(c => col(c).cast("string").as(c)): _*)

  def parts(spark: SparkSession): Int = spark.sparkContext.defaultParallelism

  // ------------------------------------------------------------ documents

  /** Word list of the synthetic language: lowercase alphabetic words of
    * 3 to 9 letters, no word shorter than the Gopher mean-length floor. */
  private def vocabulary(size: Int): Array[String] = {
    val rnd = new java.util.Random(20240611L) // fixed: the language, not the data
    val letters = "abcdefghijklmnopqrstuvwxyz"
    Array.tabulate(size) { _ =>
      val len = 3 + rnd.nextInt(7)
      (0 until len).map(_ => letters.charAt(rnd.nextInt(26))).mkString
    }
  }
  private val Vocab = vocabulary(6000)
  private val Stop = Array("the", "and", "that", "with", "have", "this", "from", "of", "to")

  /** Planted ground truth of one corpus. */
  final case class Corpus(rows: Seq[(Long, String, String)], // (doc_id, text, source)
                          clusters: Seq[Seq[Long]],          // planted near-dup groups
                          shortDocs: Set[Long])              // planted Gopher failures

  /**
   * A corpus of `n` documents. `dupShare` of them are near-duplicate
   * variants planted in clusters of 2-4 (each variant swaps two words of
   * its cluster's base text); `shortShare` are 20-word documents the Gopher
   * word-count rule rejects. Every other document is unique text drawn
   * from a 6000-word vocabulary mixed with common stop words, so unrelated
   * documents share almost no word trigrams.
   */
  def corpus(seed: Long, n: Int, dupShare: Double, shortShare: Double): Corpus = {
    val rnd = new java.util.Random(seed * 7919L + 17)
    def words(k: Int): Array[String] = Array.tabulate(k) { i =>
      if (i % 5 == 2) Stop(rnd.nextInt(Stop.length)) else Vocab(rnd.nextInt(Vocab.length))
    }
    def text(ws: Array[String]): String = {
      // sentence case + a line break every 30 words: text_normalize has
      // something to fold, and the Gopher line rules see several lines
      val sb = new StringBuilder
      ws.zipWithIndex.foreach { case (w, i) =>
        if (i > 0) sb.append(if (i % 30 == 0) "\n" else " ")
        sb.append(if (i % 12 == 0) w.capitalize else w)
      }
      sb.toString
    }
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String)]
    val clusters = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
    val shorts = scala.collection.mutable.Set.empty[Long]
    val nDup = (n * dupShare).toInt
    val nShort = (n * shortShare).toInt
    var id = 1L
    def source(): String = Seq("web", "books", "code", "news")(rnd.nextInt(4))
    // planted clusters first, then short docs, then unique docs; ids are
    // shuffled below so cluster members are not adjacent
    var planted = 0
    while (planted < nDup) {
      val size = math.min(2 + rnd.nextInt(3), nDup - planted + 1)
      val base = words(80 + rnd.nextInt(40))
      val members = (0 until size).map { v =>
        val ws = base.clone()
        if (v > 0) for (_ <- 0 until 2) {
          val at = rnd.nextInt(ws.length)
          if (at % 5 != 2) ws(at) = Vocab(rnd.nextInt(Vocab.length))
        }
        rows += ((id, text(ws), source()))
        id += 1
        id - 1
      }
      clusters += members
      planted += size - 1
    }
    for (_ <- 0 until nShort) {
      rows += ((id, text(words(20)), source())); shorts += id; id += 1
    }
    while (rows.size < n) { rows += ((id, text(words(80 + rnd.nextInt(60))), source())); id += 1 }
    // relabel ids with a seeded permutation
    val perm = (1L to rows.size.toLong).toArray
    for (i <- perm.indices.reverse) {
      val j = rnd.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t
    }
    def re(x: Long): Long = perm((x - 1).toInt)
    Corpus(rows.map { case (i, t, s) => (re(i), t, s) }.toSeq,
      clusters.map(_.map(re)).toSeq, shorts.map(re).toSet)
  }

  /** Survivors of normalize → Gopher → near-dup cluster removal: every
    * long document, minus all but the smallest id of each planted cluster. */
  def expectedSurvivors(c: Corpus): Set[Long] = {
    val losers = c.clusters.flatMap(m => m.sorted.tail).toSet
    c.rows.map(_._1).toSet -- c.shortDocs -- losers
  }

  def corpusFrame(spark: SparkSession, c: Corpus): DataFrame = {
    import spark.implicits._
    c.rows.toDF("doc_id", "text", "source").repartition(parts(spark))
  }

  /** Embeddings: `n` vectors of `dim` floats around `centers` seeded
    * centers (unit-scale centers, 0.15 noise), plus one query per center. */
  def embeddings(spark: SparkSession, seed: Long, n: Long, dim: Int,
                 centers: Int): DataFrame = {
    val cell = h(seed, 31, centers.toLong)
    spark.range(0, n, 1, parts(spark)).select(
      (col("id") + 1).as("id"),
      array((0 until dim).map { d =>
        centerCoord(seed, cell, d) + (rand(seed * 131 + d) - 0.5) * 0.3
      }: _*).cast("array<float>").as("embedding"))
  }

  /** The centers themselves as the (cell, cvec) centroid table an IVF
    * search probes. */
  def centroids(spark: SparkSession, seed: Long, dim: Int, centers: Int): DataFrame =
    spark.range(0, centers, 1, 1).select(col("id").as("cell"),
      array((0 until dim).map(d => centerCoord(seed, col("id"), d)): _*)
        .cast("array<float>").as("cvec"))

  /** Coordinate `d` of center `cell`: a hash-derived value in [-1, 1). */
  private def centerCoord(seed: Long, cell: Column, d: Int): Column =
    pmod(xxhash64(cell, lit(seed), lit(1000 + d)), lit(2000L)).cast("double") / 1000.0 - 1.0

  /** One query vector near center `q` (the qvec frame similarity expects). */
  def query(spark: SparkSession, seed: Long, dim: Int, centers: Int, q: Int): DataFrame =
    spark.range(0, 1).select(
      array((0 until dim).map { d =>
        centerCoord(seed, lit(q.toLong % centers), d) + lit(0.01 * ((d % 3) - 1))
      }: _*).cast("array<float>").as("qvec"))

  // ---------------------------------------------------------------- xlsx

  /** Minimal single-sheet xlsx (inline strings, header row) written with
    * the JDK alone — Spark has no Excel writer. */
  def writeXlsx(df: DataFrame, path: Path, sheet: String): Unit = {
    val rows = df.collect()
    val cols = df.columns
    def colName(i: Int): String = {
      var n = i + 1; val sb = new StringBuilder
      while (n > 0) { val r = (n - 1) % 26; sb.insert(0, ('A' + r).toChar); n = (n - 1) / 26 }
      sb.toString
    }
    def esc(s: String) = s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    def row(r: Int, cells: Seq[String]) =
      cells.zipWithIndex.map { case (v, c) =>
        s"""<c r="${colName(c)}${r + 1}" t="inlineStr"><is><t>${esc(v)}</t></is></c>"""
      }.mkString(s"""<row r="${r + 1}">""", "", "</row>")
    val sheetXml = new StringBuilder(
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
    sheetXml.append(row(0, cols.toSeq))
    rows.zipWithIndex.foreach { case (r, i) =>
      sheetXml.append(row(i + 1, cols.indices.map(c => String.valueOf(r.get(c)))))
    }
    sheetXml.append("</sheetData></worksheet>")
    val parts = Seq(
      "[Content_Types].xml" ->
        ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
          """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
          """<Default Extension="xml" ContentType="application/xml"/>""" +
          """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
          """<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""" +
          """</Types>"""),
      "_rels/.rels" ->
        ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
          """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>""" +
          """</Relationships>"""),
      "xl/workbook.xml" ->
        ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" """ +
          """xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">""" +
          s"""<sheets><sheet name="${esc(sheet)}" sheetId="1" r:id="rId1"/></sheets></workbook>"""),
      "xl/_rels/workbook.xml.rels" ->
        ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
          """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>""" +
          """</Relationships>"""),
      "xl/worksheets/sheet1.xml" -> sheetXml.toString)
    Files.createDirectories(path.getParent)
    val zos = new java.util.zip.ZipOutputStream(Files.newOutputStream(path))
    try parts.foreach { case (name, body) =>
      zos.putNextEntry(new java.util.zip.ZipEntry(name))
      zos.write(body.getBytes("UTF-8"))
      zos.closeEntry()
    } finally zos.close()
  }

  /** Bytes under a file or directory tree. */
  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else if (Files.isRegularFile(p)) Files.size(p)
    else {
      val s = Files.walk(p)
      try { import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum }
      finally s.close()
    }
}
