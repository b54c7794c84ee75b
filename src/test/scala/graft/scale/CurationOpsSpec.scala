package graft.scale

import graft.SparkTestBase
import graft.ops.RelationalOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Unit edges + plan shapes for the round-17 curation operators: chunk,
  * text_normalize, url_features, outlier_filter, pack_units. The broad
  * value behavior is gate-checked against DuckDB (q_chunk, q_text_normalize,
  * q_url_features, q_outlier_filter, q_pack_units and their q_job twins);
  * here live the corners the seeded gates can't reach and the scale
  * contracts (.explain shapes) the gates don't see. */
class CurationOpsSpec extends SparkTestBase {
  import spark.implicits._

  /** The rule-column names [[TextAnalysis.gopherRules]] appends (pass flag apart). */
  private val gopherRuleColumns: Seq[String] = graft.functions.GopherRules.fields.init

  // ---- chunk ----

  private def chunksOf(text: String, size: Int, overlap: Int): Seq[(Long, String)] =
    TextAnalysis.chunk(Seq((1L, text)).toDF("id", "text"), "text", size, overlap)
      .select("chunk_index", "chunk_text").as[(Long, String)].collect().toSeq.sortBy(_._1)

  test("chunk: exact grid, overlap, short tail, no empty chunk") {
    assert(chunksOf("abcdefghij", 4, 0) ===
      Seq((0L, "abcd"), (1L, "efgh"), (2L, "ij")))
    assert(chunksOf("abcdefghij", 4, 2) ===
      Seq((0L, "abcd"), (1L, "cdef"), (2L, "efgh"), (3L, "ghij"), (4L, "ij")))
    // len == size: exactly one chunk, never a trailing empty
    assert(chunksOf("abcd", 4, 0) === Seq((0L, "abcd")))
    // len < size: one short chunk
    assert(chunksOf("ab", 4, 1) === Seq((0L, "ab")))
  }

  test("chunk: null and empty text emit no rows; keep_text keeps the source") {
    val df = Seq((1L, "abcdef"), (2L, ""), (3L, null)).toDF("id", "text")
    val out = TextAnalysis.chunk(df, "text", 3)
    assert(out.select("id").as[Long].collect().toSet === Set(1L))
    assert(!out.columns.contains("text"), "default drops the source text")
    val kept = TextAnalysis.chunk(df, "text", 3, keepText = true)
    assert(kept.columns.contains("text"))
  }

  test("chunk: guards — size/overlap bounds, column collisions") {
    val df = Seq((1L, "ab")).toDF("id", "text")
    intercept[IllegalArgumentException](TextAnalysis.chunk(df, "text", 0))
    intercept[IllegalArgumentException](TextAnalysis.chunk(df, "text", 4, 4))
    intercept[IllegalArgumentException](TextAnalysis.chunk(df, "text", 4, -1))
    intercept[IllegalArgumentException](TextAnalysis.chunk(df, "nope", 4))
    intercept[IllegalArgumentException](
      TextAnalysis.chunk(df.withColumn("chunk_text", lit("x")), "text", 4))
  }

  test("chunk: no exchange — filter + generate stay in the scan's task") {
    val df = Seq((1L, "abcdefghij")).toDF("id", "text")
    val plan = TextAnalysis.chunk(df, "text", 4, 1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"chunk must not shuffle:\n$plan")
    assert(plan.contains("Generate"), "chunk fans out via posexplode")
  }

  // ---- text_normalize ----

  test("normalizeText: fixed-order steps compose; accent map is 1:1") {
    assert(TextAnalysis.AccentSrc.length === TextAnalysis.AccentDst.length,
      "translate source and destination must pair char-for-char")
    val df = Seq((1L, "  Héllo,   Wörld!  42 ")).toDF("id", "text")
    def norm(lower: Boolean, fold: Boolean, punct: Boolean, ws: Boolean) =
      TextAnalysis.normalizeText(df, "text", lowercase = lower,
        accentFold = fold, stripPunct = punct, squeezeWs = ws)
        .select("text").as[String].head()
    assert(norm(true, true, true, true) === "hello world 42")
    assert(norm(true, false, true, true) === "héllo wörld 42",
      "ö/é are letters (\\p{L}) — strip_punct keeps them")
    assert(norm(false, true, false, true) === "Hello, World! 42")
    assert(norm(false, false, false, false) === "Héllo,   Wörld!  42",
      "all steps off = trim only")
  }

  test("normalizeText: dest lands a new column; null stays null") {
    val df = Seq((1L, "A  B"), (2L, null)).toDF("id", "text")
    val out = TextAnalysis.normalizeText(df, "text", dest = "norm")
    assert(out.columns.toSeq === Seq("id", "text", "norm"))
    assert(out.orderBy("id").select("norm").as[String].collect().toSeq ===
      Seq("a b", null))
    intercept[IllegalArgumentException](
      TextAnalysis.normalizeText(df, "text", dest = "id"))
  }

  test("normalizeText agrees with Dedup.exactKey on its shared steps") {
    // lowercase + squeeze + trim is exactly the dedup key normalization —
    // a text_normalize(defaults) upstream of dedup_exact must be a no-op
    // on the key (the normalize-before-dedup contract)
    val texts = Seq("  MiXeD   Case\tText ", "a\n\nb", "")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val normed = TextAnalysis.normalizeText(df, "text")
      .withColumn("k", Dedup.exactKey(col("text")))
    val direct = df.withColumn("k", Dedup.exactKey(col("text")))
    assert(normed.orderBy("id").select("k").as[String].collect().toSeq ===
      direct.orderBy("id").select("k").as[String].collect().toSeq)
  }

  // ---- url_features ----

  private def url(u: String): (String, String, String, String) = {
    val r = TextAnalysis.urlFeatures(Seq(Tuple1(u)).toDF("url"), "url").head()
    (r.getAs[String]("url_scheme"), r.getAs[String]("url_host"),
      r.getAs[String]("url_domain"), r.getAs[String]("url_path"))
  }

  test("urlFeatures: scheme/host/domain/path decomposition") {
    assert(url("https://www.example.co.uk/a/b?q=1#f") ===
      (("https", "www.example.co.uk", "co.uk", "/a/b")))
    assert(url("http://sub.domain.org") ===
      (("http", "sub.domain.org", "domain.org", null)))
    assert(url("ftp://user:pw@files.example.com:2121/pub") ===
      (("ftp", "files.example.com", "example.com", "/pub")),
      "userinfo and port strip from host")
  }

  test("urlFeatures: non-URLs and bare hosts are all-null; null propagates") {
    assert(url("not a url") === ((null, null, null, null)))
    assert(url("example.com/path") === ((null, null, null, null)),
      "scheme-less strings do not parse (no silent default)")
    val r = TextAnalysis.urlFeatures(Seq(Tuple1(null: String)).toDF("url"), "url").head()
    assert(r.getAs[String]("url_scheme") === null &&
      r.getAs[String]("url_path") === null)
    // single-label host has no two-label domain
    assert(url("http://localhost:8080/x")._3 === null)
  }

  test("urlFeatures: no exchange — pure narrow map") {
    val plan = TextAnalysis.urlFeatures(
      Seq(Tuple1("https://a.b/c")).toDF("url"), "url")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"url_features must not shuffle:\n$plan")
  }

  // ---- outlier_filter ----

  test("outlierFilter zscore: keeps the body, drops the tails, nulls drop") {
    val vals = (1 to 20).map(_.toDouble) :+ 1000.0
    val df = (vals.map(Option(_)) :+ Option.empty[Double]).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val kept = Profile.outlierFilter(df, "v", "zscore", k = 2.0)
      .select("v").as[Double].collect().toSet
    assert(!kept.contains(1000.0), "the planted outlier must drop")
    assert((1 to 20).map(_.toDouble).toSet.subsetOf(kept), "the body stays")
  }

  test("outlierFilter iqr: Tukey fences; exact and approx agree here") {
    val vals = Seq.fill(50)(10.0) ++ Seq.fill(50)(20.0) :+ 9999.0
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    for (approx <- Seq(false, true)) {
      val kept = Profile.outlierFilter(df, "v", "iqr", k = 1.5, approx = approx)
        .select("v").as[Double].collect().toSet
      assert(kept === Set(10.0, 20.0), s"approx=$approx")
    }
  }

  test("outlierFilter by-group: per-group fences, null group keys drop") {
    val df = (Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 100.0),
      ("b", 1000.0), ("b", 2000.0), ("b", 3000.0)) :+ ((null: String), 2.0))
      .zipWithIndex.map { case ((g, v), i) => (i.toLong, g, v) }
      .toDF("id", "g", "v")
    val kept = Profile.outlierFilter(df, "v", "iqr", k = 1.5, by = Seq("g"))
      .select("g", "v").as[(String, Double)].collect().toSet
    assert(!kept.contains(("a", 100.0)), "a's fence is a-local")
    assert(kept.contains(("b", 2000.0)), "b's large values are b-normal")
    assert(!kept.exists(_._1 == null), "null group keys drop (join semantics)")
  }

  test("outlierFilter: single-row group keeps its row (no spread, no drop)") {
    val df = Seq((1L, "a", 5.0), (2L, "a", 6.0), (3L, "lonely", 42.0))
      .toDF("id", "g", "v")
    val kept = Profile.outlierFilter(df, "v", "zscore", k = 1.0, by = Seq("g"))
      .select("id").as[Long].collect().toSet
    assert(kept.contains(3L), "stddev NULL coalesces to 0 and v == mean survives")
  }

  test("outlierFilter: stats join back via broadcast — big side never shuffles") {
    val df = (1 to 100).map(i => (i.toLong, s"g${i % 3}", i.toDouble))
      .toDF("id", "g", "v")
    val plan = Profile.outlierFilter(df, "v", "zscore", by = Seq("g"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoop"),
      s"fences must broadcast back:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the corpus side must not exchange for the join:\n$plan")
  }

  test("outlierFilter: guards — bad method, bad k, non-numeric column") {
    val df = Seq((1L, "x", 1.0)).toDF("id", "s", "v")
    intercept[IllegalArgumentException](Profile.outlierFilter(df, "v", "mad"))
    intercept[IllegalArgumentException](Profile.outlierFilter(df, "v", k = -1))
    intercept[IllegalArgumentException](Profile.outlierFilter(df, "s"))
    intercept[IllegalArgumentException](Profile.outlierFilter(df, "nope"))
  }

  // ---- pack_units ----

  test("packUnits: contiguous fill — ~capacity per unit, straddle allowed") {
    // deterministic md5 order is opaque; verify the INVARIANTS instead:
    // unit ids are a contiguous 0..max range, each unit's cost is
    // >= capacity minus its last row (straddle) and the fill is the
    // running-sum rule recomputed independently
    val rows = (1 to 40).map(i => (i.toLong, "s", (i % 7 + 1).toLong))
    val df = rows.toDF("id", "src", "cost")
    val out = RelationalOps.packUnits(df, "id", "cost", capacity = 10,
      by = Seq("src"), seed = "p").select("id", "unit_id")
      .as[(Long, Long)].collect().toMap
    assert(out.size === 40, "packing assigns every row")
    val units = out.values.toSet
    assert(units === (0L until units.size).toSet, "unit ids are contiguous from 0")
    // replay the rule: sort by (md5('p:'||id), id), running sum, floor div
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String) = md.digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val ordered = rows.sortBy { case (id, _, _) => (md5hex(s"p:$id"), id) }
    var run = 0L
    ordered.foreach { case (id, _, cost) =>
      run += cost
      assert(out(id) === (run - cost) / 10,
        s"row $id diverged from the contiguous-fill model")
    }
  }

  test("packUnits: null costs pack free; guards") {
    val df = Seq((1L, "s", Some(5L)), (2L, "s", None), (3L, "s", Some(5L)))
      .toDF("id", "src", "cost")
    val out = RelationalOps.packUnits(df, "id", "cost", 100, Seq("src"))
    assert(out.count() === 3)
    assert(out.select("unit_id").as[Long].collect().toSet === Set(0L),
      "10 total cost in one 100-capacity unit")
    intercept[IllegalArgumentException](
      RelationalOps.packUnits(df, "id", "cost", 0, Seq("src")))
    intercept[IllegalArgumentException](
      RelationalOps.packUnits(df, "id", "cost", 10, Nil)) // needs allowGlobal
    intercept[IllegalArgumentException](
      RelationalOps.packUnits(df.withColumn("unit_id", lit(1L)),
        "id", "cost", 10, Seq("src")))
  }

  // ---- weighted sample ----

  test("hashSampleWeighted: clamp, null-drop, and rate monotonicity") {
    val df = (1 to 400).map(i => (i.toLong,
      if (i % 13 == 0) Option.empty[Double] else Option(i / 200.0)))
      .toDF("id", "rate")
    val kept = RelationalOps.hashSampleWeighted(df, "id", "rate", "m")
      .select("id").as[Long].collect().toSet
    assert(!kept.exists(_ % 13 == 0), "null rates drop")
    assert((201 to 400).filter(_ % 13 != 0).forall(i => kept(i.toLong)),
      "rates >= 1 (incl. clamped 2.0) keep everything")
    // monotonicity: halving every rate can only shrink the sample
    val half = RelationalOps.hashSampleWeighted(
      df.withColumn("rate", col("rate") / 2), "id", "rate", "m")
      .select("id").as[Long].collect().toSet
    assert(half.subsetOf(kept), "lower rates must never ADD rows")
    // negative rates clamp to 0
    assert(RelationalOps.hashSampleWeighted(
      df.withColumn("rate", lit(-0.5)), "id", "rate", "m").count() === 0)
  }

  test("sample comp_type: rate_column exclusive with fraction") {
    val in = java.nio.file.Paths.get("target", "test-tmp", "sw_in")
      .toAbsolutePath.toString
    Seq((1L, 0.5)).toDF("id", "rate").write.mode("overwrite").parquet(in)
    val sch =
      """{ "fields": [
        |  { "name": "id", "data_type": "integer" },
        |  { "name": "rate", "data_type": "float" } ] }""".stripMargin
    val cfg =
      s"""{ "name": "sw", "components": [
         |  { "name": "r", "comp_type": "read_parquet", "filepath": "$in",
         |    "routes": { "out": [ { "to": "sm", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $sch } },
         |  { "name": "sm", "comp_type": "sample", "id_column": "id",
         |    "rate_column": "rate", "fraction": 0.5,
         |    "in_port_schemas": { "in": $sch },
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $sch } },
         |  { "name": "w", "comp_type": "write_parquet", "filepath": "/nope",
         |    "in_port_schemas": { "in": $sch } } ] }""".stripMargin
    val e = intercept[Exception] {
      graft.graph.JobGraph.build(spark, graft.config.JobConfig.parse(cfg))
    }
    assert(e.getMessage.contains("rate_column is exclusive"))
  }

  // ---- dedup keep_by ----

  test("Dedup.exact keep_by: quality winner, id tiebreak, default unchanged") {
    val df = Seq(
      (1L, "Same   Doc", 10L), (2L, "same doc", 99L), (3L, " SAME DOC ", 99L),
      (4L, "other", 5L)).toDF("id", "text", "quality")
    val best = Dedup.exact(df, "text", "id", keepBy = Seq(("quality", -1)))
      .select("id").as[Long].collect().toSet
    assert(best === Set(2L, 4L),
      "highest quality wins; the 99-tie breaks to the lower id")
    val deflt = Dedup.exact(df, "text", "id")
      .select("id").as[Long].collect().toSet
    assert(deflt === Set(1L, 4L), "no keep_by = lowest id, as before")
  }

  test("Dedup.exact keep_by: NULL sort keys lose in BOTH directions (nulls-last contract)") {
    // Spark's engine default would put the null FIRST under asc (and win);
    // the normalized contract is nulls-last either way, matching the
    // oracle engine's default so nullable keep_by stays replayable.
    val df = Seq(
      (1L, "same doc", Some(10L)), (2L, "Same   Doc", None),
      (3L, " SAME DOC ", Some(99L))).toDF("id", "text", "quality")
    val asc = Dedup.exact(df, "text", "id", keepBy = Seq(("quality", 1)))
      .select("id").as[Long].collect().toSet
    assert(asc === Set(1L), "asc: lowest non-null quality wins, null last")
    val desc = Dedup.exact(df, "text", "id", keepBy = Seq(("quality", -1)))
      .select("id").as[Long].collect().toSet
    assert(desc === Set(3L), "desc: highest quality wins, null last")
    // all-null group: the id tiebreak decides, deterministically
    val allNull = Seq((7L, "x", None: Option[Long]), (5L, "X", None))
      .toDF("id", "text", "quality")
    assert(Dedup.exact(allNull, "text", "id", keepBy = Seq(("quality", -1)))
      .select("id").as[Long].collect().toSet === Set(5L))
  }

  test("dedup comp_type: keep_by rejected loudly for near-dup methods") {
    val in = java.nio.file.Paths.get("target", "test-tmp", "kb_in")
      .toAbsolutePath.toString
    Seq((1L, "a")).toDF("id", "text").write.mode("overwrite").parquet(in)
    val docSchema =
      """{ "fields": [
        |  { "name": "id", "data_type": "integer" },
        |  { "name": "text", "data_type": "string" } ] }""".stripMargin
    val cfg =
      s"""{ "name": "kb", "components": [
         |  { "name": "r", "comp_type": "read_parquet", "filepath": "$in",
         |    "routes": { "out": [ { "to": "dd", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $docSchema } },
         |  { "name": "dd", "comp_type": "dedup", "method": "minhash",
         |    "id_column": "id", "keep_by": [ ["id", -1] ],
         |    "in_port_schemas": { "in": $docSchema },
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $docSchema } },
         |  { "name": "w", "comp_type": "write_parquet", "filepath": "/nope2",
         |    "in_port_schemas": { "in": $docSchema } } ] }""".stripMargin
    val e = intercept[Exception] {
      graft.graph.JobGraph.build(spark, graft.config.JobConfig.parse(cfg))
    }
    assert(e.getMessage.contains("keep_by applies only to method=exact"))
  }

  // ---- dedup_against ----

  test("exactAgainst: key-normalized anti-join; null text always survives") {
    val df = Seq((1L, "Known   Doc"), (2L, "fresh doc"), (3L, null))
      .toDF("id", "text")
    val ref = Seq(Tuple1("  known doc "), Tuple1(null: String)).toDF("text")
    val kept = Dedup.exactAgainst(df, ref, "text")
      .select("id").as[Long].collect().toSet
    assert(kept === Set(2L, 3L),
      "case/whitespace variant drops; null text is keyless and survives")
    intercept[IllegalArgumentException](
      Dedup.exactAgainst(df, ref.withColumnRenamed("text", "t"), "text"))
    // explicit reference_text_column resolves the renamed frame
    val kept2 = Dedup.exactAgainst(df,
      ref.withColumnRenamed("text", "t"), "text", "t")
      .select("id").as[Long].collect().toSet
    assert(kept2 === kept)
  }

  test("exactAgainstBloom: identical survivors to the lazy join strategy") {
    val df = (1 to 300).map(i =>
      (i.toLong, if (i % 4 == 0) s"Shared   Doc ${i % 10}" else s"doc $i"))
      .toDF("id", "text")
    val ref = (0 to 9).map(i => Tuple1(s"shared doc $i")).toDF("text")
    val viaJoin = Dedup.exactAgainst(df, ref, "text")
      .select("id").as[Long].collect().toSet
    val viaBloom = Dedup.exactAgainstBloom(df, ref, "text")
      .select("id").as[Long].collect().toSet
    assert(viaBloom === viaJoin, "strategies must agree row-for-row")
    assert(viaJoin === (1 to 300).filter(_ % 4 != 0).map(_.toLong).toSet)
    // empty reference short-circuits to the input
    assert(Dedup.exactAgainstBloom(df, ref.limit(0), "text").count() === 300)
    // null text survives the bloom path too
    val withNull = df.unionByName(Seq((999L, null: String)).toDF("id", "text"))
    assert(Dedup.exactAgainstBloom(withNull, ref, "text")
      .filter(col("id") === 999L).count() === 1)
  }

  test("exactAgainst: small reference broadcasts — no big-side exchange for the join") {
    val df = (1 to 200).map(i => (i.toLong, s"doc $i")).toDF("id", "text")
    val ref = Seq(Tuple1("doc 7")).toDF("text")
    val plan = Dedup.exactAgainst(df, ref, "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"small reference must broadcast the anti-join:\n$plan")
  }

  // ---- gopher_filter ----

  /** One document per Gopher rule that it alone fails, one passing
    * document and null text, by doc_id. */
  private lazy val gopherPathologies: DataFrame = {
    val many = (1 to 60).map(i => s"word$i items").mkString(" ") // 120 tokens
    Seq(
      (1L, many + " the be to of and"),              // passes everything
      (2L, "the be to of"),                          // too short
      (3L, many + " the be " + "# # # # # # # # # # # # # # #"), // symbols
      (4L, (1 to 60).map(_ => "- item the be").mkString("\n")),  // bullets
      (5L, many + " the be\n...\n...\n..."),         // ellipsis-end lines
      (6L, (1 to 60).map(i => s"12 34 $i").mkString(" ") + " the be"), // digits
      (7L, many),                                    // no Gopher stopwords
      (8L, null)                                     // null text
    ).toDF("doc_id", "text")
  }

  test("gopherRules: each rule trips on its own pathology; null text fails all") {
    val df = gopherPathologies
    val out = TextAnalysis.gopherRules(df)
    val byId = out.collect().map(r => r.getLong(0) -> r).toMap
    def b(id: Long, c: String) = byId(id).getAs[Boolean](c)
    assert(b(1, "gopher_pass"))
    assert(!b(2, "g_word_count") && !b(2, "gopher_pass"))
    assert(!b(3, "g_symbol_ratio") && b(3, "g_word_count"))
    assert(!b(4, "g_bullet_lines"))
    assert(!b(5, "g_ellipsis_lines"))
    assert(!b(6, "g_alpha_words"))
    assert(!b(7, "g_stopwords"))
    assert(gopherRuleColumns.forall(c => !b(8, c)) &&
      !b(8, "gopher_pass"), "null text fails every rule, non-null false")
    // the filter face == flagged face filtered, rule columns dropped
    val kept = TextAnalysis.gopherFilter(df)
    assert(kept.columns.toSeq === df.columns.toSeq)
    assert(kept.select("doc_id").as[Long].collect().toSeq === Seq(1L))
  }

  /** The per-count rule tree gopherRules replaced: each rule a Column
    * over the count kernels, coalesced to false, and their conjunction. */
  private def gopherComposed(df: DataFrame, th: GopherTh) = {
    val t = col("text")
    val n = TextAnalysis.tokenCount(t)
    val meanLen = TextAnalysis.meanWordLen(t)
    val ls = graft.functions.GopherLineStats.stats(t)
    val nAlpha = graft.functions.CountAlphaTokens.count(t)
    val stopHits = graft.functions.CountTokensInSet.countDistinct(
      t, TextAnalysis.GopherStopwords)
    def rule(c: Column) = coalesce(c, lit(false))
    val rules = Seq(
      rule(n >= th.minWords && n <= th.maxWords),
      rule(n > 0 && meanLen >= th.minMeanLen && meanLen <= th.maxMeanLen),
      rule(n > 0 && (ls.getField("n_hash") + ls.getField("n_ell")).cast("double") <=
        lit(th.maxSymbolRatio) * n),
      rule(ls.getField("n_bullet").cast("double") <= lit(th.maxBulletRatio) * ls.getField("n_lines")),
      rule(ls.getField("n_ell_end").cast("double") <= lit(th.maxEllipsisRatio) * ls.getField("n_lines")),
      rule(n > 0 && nAlpha.cast("double") >= lit(th.minAlphaRatio) * n),
      rule(stopHits >= th.minStopHits))
    df.select((col("*") +: gopherRuleColumns.zip(rules).map { case (c, r) => r.as(c) } :+
      rules.reduce(_ && _).as("gopher_pass")): _*)
  }

  private case class GopherTh(minWords: Int = 50, maxWords: Int = 100000,
                              minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                              maxSymbolRatio: Double = 0.1, maxBulletRatio: Double = 0.9,
                              maxEllipsisRatio: Double = 0.3, minAlphaRatio: Double = 0.8,
                              minStopHits: Int = 2)

  test("gopherRules' one kernel equals the per-count rule tree (pathologies + generated unicode)") {
    import org.scalacheck.Gen
    val word = Gen.frequency(
      (6, Gen.oneOf("the", "be", "to", "of", "and", "that", "have", "with", "THE", "Be")),
      (10, Gen.alphaStr.map(_.take(9))), (2, Gen.numStr.map(_.take(4))),
      (2, Gen.oneOf("#", "...", "…", "-", "*", "•", "日本語", "Σίσυφος", "İstanbul", "😀x", "ΣΑΣ")))
    val sep = Gen.frequency((12, Gen.const(" ")), (3, Gen.oneOf("\n", "\n- ", "\n* ", "...\n")),
      (2, Gen.oneOf("\t", "  ", "\r\n", "\u000B", "\f", " … \n")))
    val doc = Gen.choose(0, 120).flatMap(k => Gen.listOfN(k, Gen.zip(word, sep)))
      .map(_.map { case (w, s) => w + s }.mkString)
    val generated = Gen.listOfN(300, doc)
      .apply(Gen.Parameters.default, org.scalacheck.rng.Seed(13L)).get
    val edges = Seq(null, "", " ", "\t\n", "the be", " the  be to of and ")
    val texts = (edges ++ generated).toDF("text").repartition(2)
      .union(gopherPathologies.select("text"))
      .withColumn("id", monotonically_increasing_id())
    val loose = GopherTh(minWords = 5, maxWords = 90, minMeanLen = 2.0, maxMeanLen = 7.5,
      maxSymbolRatio = 0.2, maxBulletRatio = 0.2, maxEllipsisRatio = 0.1,
      minAlphaRatio = 0.6, minStopHits = 1)
    val odd = GopherTh(minWords = 0, maxSymbolRatio = Double.NaN,
      maxBulletRatio = Double.PositiveInfinity, maxEllipsisRatio = -0.0,
      minAlphaRatio = Double.NegativeInfinity, minMeanLen = Double.NaN)
    for (th <- Seq(GopherTh(), loose, odd)) withClue(s"$th: ") {
      val now = TextAnalysis.gopherRules(texts, "text", th.minWords, th.maxWords,
        th.minMeanLen, th.maxMeanLen, th.maxSymbolRatio, th.maxBulletRatio,
        th.maxEllipsisRatio, th.minAlphaRatio, th.minStopHits)
      val old = gopherComposed(texts, th)
      assert(now.schema === old.schema)
      val rows = (df: DataFrame) =>
        df.orderBy("id").collect().map(_.toString).toSeq
      val got = rows(now)
      assert(got === rows(old))
      val kept = TextAnalysis.gopherFilter(texts, "text", th.minWords, th.maxWords,
        th.minMeanLen, th.maxMeanLen, th.maxSymbolRatio, th.maxBulletRatio,
        th.maxEllipsisRatio, th.minAlphaRatio, th.minStopHits)
      assert(kept.schema === texts.schema)
      assert(rows(kept) === rows(old.filter(col("gopher_pass")).select(texts.columns.map(col): _*)))
      if (th != odd) assert(kept.count() > 0 && kept.count() < texts.count())
    }
  }

  test("GopherLineStats kernel equals the five composed scans (fixture + edges)") {
    // the five counts of gopherRules' symbol/line rules, replayed by
    // one char loop — UNIX_LINES semantics throughout: (?dm) ^/$
    // anchor around '\n' ONLY (Java's (?d) = RE2/DuckDB's native
    // (?m), so the oracle replay agrees on every input; \r, U+0085,
    // U+2028, U+2029 are ordinary chars — the \r / \r\n edges below
    // pin that they break nothing); the ellipsis count is the
    // non-overlapping scan (run of k dots = k/3); n_lines counts \n
    // only (split's shape)
    val real = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select(col("text").as("t"))
    val edges = Seq(
      "", ".", "..", "...", "....", "......", ". . .", "... .", "..…",
      "…", "……", "...…", "…\t", "... \t", "#", "a#b##", "x\ny", "x\r\ny",
      "x\ry", "xy", "x y", "- item", "  - item", "\t* item",
      "a- no", "\n- yes", "\r\n- yes", "• b\n‣ c\n▪ d", "*", "-",
      "done...\nmore…\t\nnot.. \n... .", "...\r\nnext", "…-x",
      "ends...", "ends… ", "ends.. ", null)
      .zipWithIndex.map { case (t, i) => (i, t) }.toDF("i", "t")
    val tc = col("t")
    val composed = Seq(
      (length(tc) - length(regexp_replace(tc, "#", ""))).cast("int"),
      regexp_count(tc, lit("(\\.\\.\\.|\\u2026)")).cast("int"),
      size(split(tc, "\n")),
      regexp_count(tc, lit("(?dm)^[ \\t]*[-*\\u2022\\u2023\\u25AA]")).cast("int"),
      regexp_count(tc, lit("(?dm)(\\.\\.\\.|\\u2026)[ \\t]*$")).cast("int"))
    val names = Seq("n_hash", "n_ell", "n_lines", "n_bullet", "n_ell_end")
    for (df <- Seq(real, edges.select(tc))) {
      val st = graft.functions.GopherLineStats.stats(tc)
      val checks = names.zip(composed).map { case (f, c) =>
        not(st.getField(f) <=> c) }
      val bad = df.select((col("t") +: names.zip(composed).flatMap {
          case (f, c) => Seq(st.getField(f).as(s"k_$f"), c.as(s"c_$f")) }): _*)
        .filter(checks.reduce(_ || _)).limit(3).collect()
      assert(bad.isEmpty, bad.map(_.toString).mkString("\n"))
    }
    // null propagates as a null struct
    val nrow = edges.filter(col("t").isNull)
      .select(graft.functions.GopherLineStats.stats(tc).as("s")).head()
    assert(nrow.isNullAt(0))
  }

  test("gopherRules: alpha-word kernel == per-token HOF == regexp; projection fully codegen'd") {
    // the CountAlphaTokens char loop must count exactly the whitespace
    // tokens containing >= 1 letter, like the interpreted ArrayFilter
    // lambda it replaced — including unicode letters, CJK,
    // supplementary-plane letters, NBSP as a token char, digit-only /
    // punct-only tokens, and tabs/newlines/VT as separators
    val texts = Seq(
      "abc 123 !! a1 --", "  ñé\t日本語\n42 ", "1 2 3", "... --- !!!",
      "mixed42text , x", "", "   ", "word", "ab\fc",
      "𝐀 12 😀", "x y 7 8")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val viaKernel = df.select(col("id"),
      graft.functions.CountAlphaTokens.count(col("text")).as("n"))
      .as[(Long, Int)].collect().toMap
    val viaRegexp = df.select(col("id"),
      regexp_count(col("text"), lit("\\S*\\p{L}\\S*")).as("n"))
      .as[(Long, Int)].collect().toMap
    val viaHof = df.select(col("id"),
      size(filter(split(trim(col("text")), "\\s+"),
        x => x.rlike("\\p{L}"))).as("n"))
      .as[(Long, Int)].collect().toMap
    // blank-only text: split(trim) yields [""], the lambda rejects it,
    // the loop opens no token, regexp finds no match — all count 0
    assert(viaKernel === viaHof, "alpha-word counts must agree token-for-token")
    assert(viaKernel === viaRegexp, "and with the regex formulation")
    assert(viaKernel(0L) === 2 && viaKernel(1L) === 2 && viaKernel(2L) === 0)
    assert(viaKernel(8L) === 3, "VT and FF split tokens")
    assert(viaKernel(9L) === 1, "MATHEMATICAL BOLD A is a letter; emoji is not")
    assert(viaKernel(10L) === 1, "NBSP is a token char, not a separator")
    // the whole gopher projection stays inside whole-stage codegen:
    // no CodegenFallback expression anywhere in the executed plan
    // (spark.range sidesteps LocalTableScan's eager constant-fold)
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    val rq = TextAnalysis.gopherRules(spark.range(3).select(
      concat(lit("the be to of and words here "), col("id").cast("string"))
        .as("text")))
    val plan = rq.queryExecution.executedPlan
    val fallbacks = plan.flatMap(p => p.expressions.flatMap(_.collect {
      case e: CodegenFallback => e.prettyName }))
    assert(fallbacks.isEmpty,
      s"gopher projection must be fully compiled, found: $fallbacks\n$plan")
    assert(plan.toString.contains("*(1)"),
      s"expected whole-stage codegen:\n$plan")
    assert(rq.filter(col("gopher_pass")).count() === 0, "short texts fail")
  }

  // ---- line_dedup ----

  test("lineDedup: cross-doc hot lines strip; blanks and within-doc repeats survive") {
    val df = Seq(
      (1L, "alpha\nCommon Footer\nbeta", "a"),
      (2L, "gamma\nCommon Footer\n\ndelta", "b"),
      (3L, "Common Footer\nCommon Footer", "c"), // nothing left -> drops
      (4L, "solo\nsolo\nother", "d"),            // self-repeat: 1 distinct doc
      (5L, null, "e")                            // no line evidence -> drops
    ).toDF("doc_id", "text", "lang")
    val out = Dedup.lineDedup(df, "text", "doc_id")
    assert(out.columns.toSeq === df.columns.toSeq, "carry-through column order")
    val got = out.select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(got === Map(
      1L -> "alpha\nbeta",
      2L -> "gamma\n\ndelta",
      4L -> "solo\nsolo\nother"))
    // lang carried through untouched
    assert(out.filter(col("doc_id") === 2L).select("lang").as[String].head() === "b")
  }

  test("lineDedup: max_docs raises the hot threshold; bad inputs are loud") {
    val df = Seq(
      (1L, "x\nCommon Footer"), (2L, "y\nCommon Footer"),
      (3L, "z\nCommon Footer")).toDF("doc_id", "text")
    // in 3 distinct docs: hot at max_docs<=2, cold at 3
    assert(Dedup.lineDedup(df, "text", "doc_id", maxDocs = 2)
      .filter(col("text").contains("Common Footer")).count() === 0)
    assert(Dedup.lineDedup(df, "text", "doc_id", maxDocs = 3)
      .filter(col("text").contains("Common Footer")).count() === 3)
    intercept[IllegalArgumentException](
      Dedup.lineDedup(df, "text", "doc_id", maxDocs = 0))
    intercept[IllegalArgumentException](
      Dedup.lineDedup(df.withColumn("__pos", lit(1)), "text", "doc_id"))
  }

  test("lineDedup unit=paragraph: blocks census as units; strategies agree; bad unit loud") {
    // the shared footer block has an INTERNAL line break — it is one
    // PARAGRAPH unit; doc 3's lone paragraph differs (subset lines) and
    // must survive, which unit=line would not preserve
    val df = Seq(
      (1L, "prose one\n\nAll rights reserved.\nDo not redistribute.", "a"),
      (2L, "prose two\n\nAll rights reserved.\nDo not redistribute.", "b"),
      (3L, "All rights reserved.", "c")
    ).toDF("doc_id", "text", "lang")
    val out = Dedup.lineDedup(df, "text", "doc_id", unit = "paragraph")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(out === Map(1L -> "prose one", 2L -> "prose two",
      3L -> "All rights reserved."))
    val viaSet = Dedup.lineDedupSet(df, "text", "doc_id", unit = "paragraph")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(viaSet === out, "strategies must agree under unit=paragraph")
    intercept[IllegalArgumentException](
      Dedup.lineDedup(df, "text", "doc_id", unit = "sentence"))
  }

  test("lineDedupSet: identical survivors to the join strategy; loud overflow") {
    val df = Seq(
      (1L, "alpha\nCommon Footer\nbeta", "a"),
      (2L, "gamma\nCommon Footer\n\ndelta", "b"),
      (3L, "Common Footer\nCommon Footer", "c"),
      (4L, "solo\nsolo\nother", "d"),
      (5L, null, "e")
    ).toDF("doc_id", "text", "lang")
    val viaJoin = Dedup.lineDedup(df, "text", "doc_id")
      .select("doc_id", "text", "lang").as[(Long, String, String)].collect().toSet
    val viaSet = Dedup.lineDedupSet(df, "text", "doc_id")
      .select("doc_id", "text", "lang").as[(Long, String, String)].collect().toSet
    assert(viaSet === viaJoin, "strategies must agree row-for-row")
    // empty hot set: text untouched, null-text rows still drop
    val cold = Seq((1L, "only\nhere"), (2L, null)).toDF("doc_id", "text")
    val out = Dedup.lineDedupSet(cold, "text", "doc_id")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(out === Map(1L -> "only\nhere"))
    // overflow fails loudly toward strategy=join
    val e = intercept[IllegalArgumentException] {
      Dedup.lineDedupSet(df, "text", "doc_id", maxHotLines = 0)
    }
    assert(e.getMessage.contains("strategy=join"))
  }

  test("RemoveInSet: order/duplicates preserved, null contract, codegen participation") {
    import graft.functions.RemoveInSet
    val df = Seq(
      (1L, Seq("a", "b", "a", "c", "b")),
      (2L, Seq[String]()),
      (3L, null)
    ).toDF("id", "arr")
    val out = df.select(col("id"),
      RemoveInSet.remove(col("arr"), Seq("b", "zz")).as("kept"))
    val got = out.as[(Long, Seq[String])].collect().toMap
    assert(got(1L) === Seq("a", "a", "c"), "in-place, repeats survive")
    assert(got(2L) === Seq())
    assert(got(3L) === null, "null array stays null")
    // null ELEMENTS are kept (removal needs an exact match)
    val withNullElem = spark.sql(
      "SELECT array('a', CAST(NULL AS STRING), 'b') AS arr")
    val kept = withNullElem
      .select(RemoveInSet.remove(col("arr"), Seq("b")).as("k"))
      .as[Seq[String]].head()
    assert(kept === Seq("a", null))
    // stays inside whole-stage codegen (no CodegenFallback dispatch);
    // spark.range sidesteps LocalTableScan's eager constant-fold
    val rq = spark.range(3).select(
      RemoveInSet.remove(
        split(concat(lit("a b c x"), col("id").cast("string")), " "),
        Seq("b")).as("k"))
    assert(rq.queryExecution.executedPlan.toString.contains("*(1)"),
      s"expected codegen:\n${rq.queryExecution.executedPlan}")
    assert(rq.as[Seq[String]].collect().forall(a =>
      a.length === 3 && !a.contains("b")))
  }

  test("hotLineReport: the audit face counts distinct docs per hot line") {
    val df = Seq(
      (1L, "alpha\nCommon Footer"),
      (2L, "beta\nCommon Footer\nCommon Footer"), // self-repeat: one doc
      (3L, "Common Footer\nNav bar"),
      (4L, "Nav bar\nprose")
    ).toDF("doc_id", "text")
    val got = Dedup.hotLineReport(df, "text", "doc_id")
      .as[(String, Long)].collect().toMap
    assert(got === Map("Common Footer" -> 3L, "Nav bar" -> 2L))
    // max_docs raises the bar; nothing above it -> empty report
    assert(Dedup.hotLineReport(df, "text", "doc_id", maxDocs = 3).count() === 0)
  }

  test("lineDedup: hot set broadcasts — no exchange on the exploded anti-join side") {
    val df = (1 to 200).map(i => (i.toLong, s"prose $i\nShared Footer"))
      .toDF("doc_id", "text")
    val plan = Dedup.lineDedup(df, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"post-cut hot set must broadcast the anti-join:\n$plan")
  }

  test("lineDedup broadcast=false: identical survivors, non-broadcast anti-join plan") {
    // broadcast=false drops the hint and lets Catalyst size the hot
    // census — the escape hatch for a hot set that outgrows the driver.
    // Pin the path with auto-broadcast off (the planner would otherwise
    // still elect to broadcast a small census and leave the shuffled
    // LeftAnti untested — the stale-pin shape that made r15 red).
    val df = Seq(
      (1L, "alpha\nCommon Footer\nbeta", "a"),
      (2L, "gamma\nCommon Footer\n\ndelta", "b"),
      (3L, "Common Footer\nCommon Footer", "c"),
      (4L, "solo\nsolo\nother", "d"),
      (5L, null, "e")
    ).toDF("doc_id", "text", "lang")
    val expected = Dedup.lineDedup(df, "text", "doc_id")
      .select("doc_id", "text", "lang").as[(Long, String, String)].collect().toSet
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val shuffled = Dedup.lineDedup(df, "text", "doc_id", broadcastHot = false)
      assert(shuffled.select("doc_id", "text", "lang")
        .as[(Long, String, String)].collect().toSet === expected,
        "broadcast=false must keep the same survivors")
      val plan = shuffled.queryExecution.executedPlan.toString
      assert(plan.contains("LeftAnti") && !plan.contains("BroadcastHashJoin"),
        s"broadcast=false must plan a shuffled anti-join:\n$plan")
      // the default path still broadcasts even with auto-broadcast off
      // (the explicit hint, not the size estimate, is what pins it)
      val hinted = Dedup.lineDedup(df, "text", "doc_id")
        .queryExecution.executedPlan.toString
      assert(hinted.contains("BroadcastHashJoin") && hinted.contains("LeftAnti"),
        s"default path must keep the broadcast hint:\n$hinted")
    } finally spark.conf.set(key, prev)
  }

  test("write_parquet max_records_per_file: bounded shards, content intact") {
    val in = java.nio.file.Paths.get("target", "test-tmp", "mrpf_in")
      .toAbsolutePath.toString
    val out = java.nio.file.Paths.get("target", "test-tmp", "mrpf_out")
      .toAbsolutePath.toString
    (1 to 100).map(i => (i.toLong, s"row $i")).toDF("id", "text")
      .coalesce(1).write.mode("overwrite").parquet(in)
    val sch =
      """{ "fields": [
        |  { "name": "id", "data_type": "integer" },
        |  { "name": "text", "data_type": "string" } ] }""".stripMargin
    val cfg =
      s"""{ "name": "mrpf", "components": [
         |  { "name": "r", "comp_type": "read_parquet", "filepath": "$in",
         |    "routes": { "out": [ { "to": "w", "in_port": "in" } ] },
         |    "out_port_schemas": { "out": $sch } },
         |  { "name": "w", "comp_type": "write_parquet", "filepath": "$out",
         |    "coalesce": 1, "max_records_per_file": 30,
         |    "in_port_schemas": { "in": $sch } } ] }""".stripMargin
    val built = graft.graph.JobGraph.build(spark,
      graft.config.JobConfig.parse(cfg))
    built.runSinks(); built.close()
    val files = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length === 4, "100 rows / cap 30 = 4 shards from one task")
    assert(spark.read.parquet(out).select("id").as[Long].collect().toSet ===
      (1 to 100).map(_.toLong).toSet, "content survives the split")
  }

  // ---- embedding_transform ----

  test("l2NormalizeVectors: unit norm; zero vector → null unit, norm kept") {
    val df = Seq(
      (1L, Seq(3.0f, 4.0f)),
      (2L, Seq(0.0f, 0.0f)),
      (3L, (null: Seq[Float]))).toDF("id", "embedding")
    val out = Similarity.l2NormalizeVectors(df, "embedding")
      .orderBy("id").collect()
    assert(out(0).getAs[Double]("vec_norm") === 5.0)
    assert(out(0).getAs[Seq[Double]]("vec_unit") === Seq(0.6, 0.8))
    assert(out(1).getAs[Double]("vec_norm") === 0.0)
    assert(out(1).isNullAt(out(1).fieldIndex("vec_unit")),
      "a zero vector cannot be normalized")
    assert(out(2).isNullAt(out(2).fieldIndex("vec_unit")) &&
      out(2).isNullAt(out(2).fieldIndex("vec_norm")))
    intercept[IllegalArgumentException](
      Similarity.l2NormalizeVectors(df, "embedding", dest = "id"))
  }

  test("quantizeVectorsInt8: max|v| → ±127, zero vector → zeros, null propagates") {
    val df = Seq(
      (1L, Seq(1.0f, -2.0f, 0.5f)),
      (2L, Seq(0.0f, 0.0f)),
      (3L, (null: Seq[Float]))).toDF("id", "embedding")
    val out = Similarity.quantizeVectorsInt8(df, "embedding")
      .orderBy("id").collect()
    def q8(r: org.apache.spark.sql.Row): Seq[Byte] =
      r.getSeq[Byte](r.fieldIndex("vec_q8")).toSeq
    assert(out(0).getAs[Double]("vec_scale") === 2.0 / 127.0)
    assert(q8(out(0)) === Seq[Byte](64, -127, 32),
      "round(1/(2/127)) = 64 (HALF_UP), etc.")
    assert(out(1).getAs[Double]("vec_scale") === 0.0)
    assert(q8(out(1)) === Seq[Byte](0, 0))
    assert(out(2).isNullAt(out(2).fieldIndex("vec_q8")))
    // round-trip error is bounded by scale/2 per element
    val deq = q8(out(0)).map(_ * out(0).getAs[Double]("vec_scale"))
    Seq(1.0, -2.0, 0.5).zip(deq).foreach { case (orig, d) =>
      assert(math.abs(orig - d) <= 2.0 / 127.0 / 2 + 1e-12) }
  }

  test("quantize kernel equals the HOF reference on the embeddings fixture") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val viaKernel = Similarity.quantizeVectorsInt8(emb, "embedding")
    val viaHof = Similarity.quantizeVectorsInt8Hof(emb, "embedding")
    val bad = viaKernel.alias("a").join(viaHof.alias("b"), Seq("vec_id"))
      .filter(not(col("a.vec_scale") <=> col("b.vec_scale")) ||
        not(col("a.vec_q8") <=> col("b.vec_q8"))).count()
    assert(bad === 0L, s"$bad vectors diverge between kernel and HOF form")
    // mixed null/negative/zero edges (beyond the fixture's clean floats)
    import spark.implicits._
    val edge = Seq(
      (1L, Seq(Option(-2.0f), None, Option(1.0f))),
      (2L, Seq(Option(0.0f), Option(0.0f))),
      (3L, (null: Seq[Option[Float]]))).toDF("vec_id", "embedding")
    val ek = Similarity.quantizeVectorsInt8(edge, "embedding")
    val eh = Similarity.quantizeVectorsInt8Hof(edge, "embedding")
    val ebad = ek.alias("a").join(eh.alias("b"), Seq("vec_id"))
      .filter(not(col("a.vec_scale") <=> col("b.vec_scale")) ||
        not(col("a.vec_q8") <=> col("b.vec_q8"))).count()
    assert(ebad === 0L, "null-element / zero / null-vector edges diverge")
  }

  test("quantize NaN/Inf contract: null bytes at corrupt positions; composed ANSI throws") {
    // a NaN element pins greatest()'s fold to NaN (NaN-as-largest) and
    // every quotient is NaN; an Inf element makes the scale Inf and
    // ITS OWN quotient NaN (Inf/Inf) while finite siblings quantize to
    // 0 like the composed round(x/Inf). The kernel DELIBERATELY
    // diverges from the composed form at NaN quotients: composed
    // round(NaN).cast(byte) throws CAST_OVERFLOW under ANSI (Spark 4
    // default) — one corrupt embedding must not kill a corpus pass —
    // so the kernel emits the try_cast value (NULL) there
    import spark.implicits._
    val edge = Seq(
      (4L, Seq(Option(Float.NaN), Option(1.0f), None)),
      (5L, Seq(Option(Float.NaN)))).toDF("vec_id", "embedding")
    val rows = Similarity.quantizeVectorsInt8(edge, "embedding")
      .orderBy("vec_id").collect()
    rows.foreach { r =>
      assert(r.getAs[Double]("vec_scale").isNaN)
      assert(r.getAs[Seq[java.lang.Byte]]("vec_q8").forall(_ == null))
    }
    assert(rows(0).getAs[Seq[java.lang.Byte]]("vec_q8").size === 3)
    // Inf: scale Inf, the Inf position NULL, finite positions 0, null null
    val inf = Seq(
      (6L, Seq(Option(Float.PositiveInfinity), Option(1.0f), None)),
      (7L, Seq(Option(Float.NegativeInfinity)))).toDF("vec_id", "embedding")
    val irows = Similarity.quantizeVectorsInt8(inf, "embedding")
      .orderBy("vec_id").collect()
    assert(irows(0).getAs[Double]("vec_scale").isPosInfinity)
    assert(irows(0).getAs[Seq[java.lang.Byte]]("vec_q8") ===
      Seq[java.lang.Byte](null, 0.toByte, null))
    assert(irows(1).getAs[Double]("vec_scale").isPosInfinity)
    assert(irows(1).getAs[Seq[java.lang.Byte]]("vec_q8") ===
      Seq[java.lang.Byte](null))
    // the divergence record: the composed reference form cannot even
    // evaluate these inputs under ANSI mode
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    for (df <- Seq(edge, inf)) {
      val thrown = intercept[Exception] {
        Similarity.quantizeVectorsInt8Hof(df, "embedding").collect()
      }
      assert(chain(thrown).exists(_.getMessage.contains("CAST_OVERFLOW")),
        s"expected CAST_OVERFLOW in: ${chain(thrown).map(_.getMessage).mkString(" | ")}")
    }
  }

  test("normalize kernel equals the composed reference on the embeddings fixture") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val viaKernel = Similarity.l2NormalizeVectors(emb, "embedding")
    val viaHof = Similarity.l2NormalizeVectorsHof(emb, "embedding")
    val bad = viaKernel.alias("a").join(viaHof.alias("b"), Seq("vec_id"))
      .filter(not(col("a.vec_norm") <=> col("b.vec_norm")) ||
        not(col("a.vec_unit") <=> col("b.vec_unit"))).count()
    assert(bad === 0L, s"$bad vectors diverge between kernel and composed form")
    // null-element poisoning, zero vector, null vector, NaN element —
    // all must match. The NaN row is the sharp one: when(norm > 0, ...)
    // uses Spark's NaN-as-largest comparison, so a NaN norm PASSES the
    // guard and the unit is all-NaN (not null) in BOTH forms — Spark
    // also treats NaN = NaN as true, so <=> sees the agreement.
    val edge = Seq(
      (1L, Seq(Option(-2.0f), None, Option(1.0f))),
      (2L, Seq(Option(0.0f), Option(0.0f))),
      (3L, (null: Seq[Option[Float]])),
      (4L, Seq(Option(3.0f), Option(4.0f))),
      (5L, Seq(Option(Float.NaN), Option(1.0f)))).toDF("vec_id", "embedding")
    val ek = Similarity.l2NormalizeVectors(edge, "embedding")
    val eh = Similarity.l2NormalizeVectorsHof(edge, "embedding")
    val ebad = ek.alias("a").join(eh.alias("b"), Seq("vec_id"))
      .filter(not(col("a.vec_norm") <=> col("b.vec_norm")) ||
        not(col("a.vec_unit") <=> col("b.vec_unit"))).count()
    assert(ebad === 0L, "null-element / zero / null-vector / NaN edges diverge")
    val nanRow = ek.filter(col("vec_id") === 5L).collect()(0)
    assert(nanRow.getAs[Double]("vec_norm").isNaN)
    assert(nanRow.getSeq[Double](nanRow.fieldIndex("vec_unit")).forall(_.isNaN),
      "NaN norm must emit the all-NaN unit (Spark NaN-as-largest), not null")
    // the kernel participates in whole-stage codegen
    val rq = Similarity.l2NormalizeVectors(
      spark.range(4).select(col("id"),
        array(col("id").cast("double"), lit(1.0)).as("embedding")),
      "embedding")
    assert(rq.queryExecution.executedPlan.toString.contains("*(1)"),
      s"expected codegen:\n${rq.queryExecution.executedPlan}")
    assert(rq.filter(col("vec_unit").isNotNull).count() === 4)
  }

  test("embedding transforms: no exchange — pure narrow maps") {
    val df = Seq((1L, Seq(1.0f, 2.0f))).toDF("id", "embedding")
    for (out <- Seq(Similarity.l2NormalizeVectors(df, "embedding"),
      Similarity.quantizeVectorsInt8(df, "embedding"))) {
      val plan = out.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"must not shuffle:\n$plan")
    }
  }

  test("packUnits: one exchange on the group keys — windowed-op shape") {
    val df = (1 to 50).map(i => (i.toLong, s"s${i % 2}", 3L))
      .toDF("id", "src", "cost")
    val plan = RelationalOps.packUnits(df, "id", "cost", 10, Seq("src"))
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).size === 1,
      s"pack_units is one hash exchange + in-partition sort:\n$plan")
  }
}
