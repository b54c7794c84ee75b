package graft.scale

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/**
 * Property tests for the training-data operators against independent
 * Scala models of their documented semantics (the same strategy
 * OpsPropertySpec applies to the reference operators): a few hundred
 * random inputs per property under a FIXED seed, one Spark job per
 * property, element-wise compare with a model written from the scaladoc
 * contract — not from the implementation.
 */
class ScalePropertySpec extends SparkTestBase {
  import spark.implicits._

  private def sampleN[A](g: Gen[A], n: Int, seed: Long): Seq[A] = {
    val params = Gen.Parameters.default
    Iterator.iterate((Seed(seed), Option.empty[A])) { case (s, _) =>
      val (v, next) = (g.pureApply(params, s), s.next)
      (next, Some(v))
    }.drop(1).take(n).flatMap(_._2).toSeq
  }

  /** The documented normalization + shingling model: Dedup.exactKey
    * (trim, lowercase, whitespace-collapse), split on single space,
    * distinct word n-grams with the short-list whole-text collapse. */
  private def modelGrams(text: String, n: Int): Set[String] = {
    if (text == null) return Set.empty
    val norm = text.trim.toLowerCase(java.util.Locale.ROOT).replaceAll("\\s+", " ")
    val toks = norm.split(" ", -1).toSeq
    val positions = math.max(toks.size - (n - 1), 1)
    (0 until positions).map(i => toks.slice(i, i + n).mkString(" ")).toSet
  }

  // small vocabulary so corpus/benchmark overlaps actually occur
  private val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "epsilon",
    "zeta", "ETA", "theta ")
  private val doc: Gen[String] = Gen.frequency(
    (1, Gen.const(null: String)),
    (1, Gen.const("")),
    (10, Gen.chooseNum(1, 10).flatMap(k =>
      Gen.listOfN(k, word).map(_.mkString(" ")))))

  test("decontaminate: broadcast and join both match the set-intersection model") {
    for ((n, minOv, seed) <- Seq((1, 1, 11L), (2, 1, 12L), (3, 2, 13L))) {
      val corpusDocs = sampleN(doc, 120, seed).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }
      val benchDocs = sampleN(doc, 25, seed + 100).zipWithIndex
        .map { case (t, i) => (1000L + i, t) }
      val corpus = corpusDocs.toDF("doc_id", "text")
      val bench = benchDocs.toDF("doc_id", "text")
      val benchGrams: Set[String] =
        benchDocs.flatMap(d => modelGrams(d._2, n)).toSet
      val expect = corpusDocs.map { case (id, t) =>
        val hits =
          if (t == null) 0L
          else (modelGrams(t, n) intersect benchGrams).size.toLong
        (id, hits, hits >= minOv)
      }.sortBy(_._1)
      for (strategy <- Seq("broadcast", "join", "bloom")) {
        val got = Decontaminate.flag(corpus, bench, n = n,
            minOverlap = minOv, strategy = strategy)
          .select("doc_id", "n_hits", "contaminated")
          .collect()
          .map(r => (r.getLong(0),
            if (r.isNullAt(1)) 0L else r.getLong(1),
            !r.isNullAt(2) && r.getBoolean(2)))
          .sortBy(_._1)
        assert(got.toSeq === expect,
          s"strategy=$strategy n=$n minOverlap=$minOv diverged from model")
      }
    }
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("chunk matches the stride-grid model on random texts/sizes/overlaps") {
    val textGen = Gen.frequency(
      (1, Gen.const(null: String)),
      (1, Gen.const("")),
      (10, Gen.chooseNum(1, 60).flatMap(k =>
        Gen.listOfN(k, Gen.alphaNumChar).map(_.mkString))))
    for ((size, overlap, seed) <- Seq((4, 0, 41L), (7, 3, 42L), (10, 9, 43L),
      (3, 1, 44L))) {
      val texts = sampleN(textGen, 120, seed).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }
      val stride = size - overlap
      // model straight from the scaladoc: starts 0, stride, … < len;
      // each chunk is the size-bounded substring; null/empty → nothing
      val expect = texts.flatMap { case (id, t) =>
        if (t == null || t.isEmpty) Nil
        else (0 until t.length by stride).zipWithIndex.map { case (s, ix) =>
          (id, ix.toLong, t.substring(s, math.min(s + size, t.length))) }
      }.sorted
      val got = TextAnalysis.chunk(texts.toDF("id", "text"), "text",
        size, overlap)
        .select("id", "chunk_index", "chunk_text")
        .as[(Long, Long, String)].collect().toSeq.sorted
      assert(got === expect, s"size=$size overlap=$overlap diverged")
    }
  }

  test("hashSampleWeighted matches the bucket-threshold model") {
    val rowGen = Gen.frequency(
      (1, Gen.const(Option.empty[Double])),
      (1, Gen.const(Option(Double.NaN))),
      (8, Gen.chooseNum(-0.3, 1.4).map(Option(_))))
    val rates = sampleN(rowGen, 300, 51L).zipWithIndex
      .map { case (r, i) => (i.toLong, r) }
    // NULL and NaN rates are no-evidence rows: never drawn
    val expect = rates.collect { case (id, Some(r)) if !r.isNaN =>
      val bucket = java.lang.Long.parseLong(
        md5hex(s"ws:$id").take(8), 16) % 10000
      val threshold = math.round(math.max(math.min(r, 1.0), 0.0) * 10000)
      (id, bucket < threshold)
    }.collect { case (id, true) => id }.toSet
    val got = graft.ops.RelationalOps.hashSampleWeighted(
      rates.toDF("id", "rate"), "id", "rate", "ws")
      .select("id").as[Long].collect().toSet
    assert(got === expect)
  }

  test("budgetSample matches the md5-order prefix model") {
    val rowGen = for {
      grp <- Gen.oneOf("a", "b", "c")
      cost <- Gen.frequency((1, Gen.const(Option.empty[Long])),
        (6, Gen.chooseNum(0L, 25L).map(Option(_))))
    } yield (grp, cost)
    for ((budget, seed) <- Seq((0L, 21L), (30L, 22L), (100L, 23L), (5000L, 24L))) {
      val rows = sampleN(rowGen, 150, seed).zipWithIndex
        .map { case ((g, c), i) => (i.toLong, g, c) }
      val df = rows.toDF("id", "grp", "cost")
      // model: per group, order by (md5("s:" ++ id), id), keep the
      // prefix whose inclusive running cost stays <= budget
      val expect = rows.groupBy(_._2).flatMap { case (_, members) =>
        val ordered = members.sortBy(m => (md5hex(s"s:${m._1}"), m._1))
        var run = 0L
        ordered.flatMap { m =>
          run += m._3.getOrElse(0L)
          if (run <= budget) Some(m._1) else None
        }
        // NOTE: the op's rule is a running-total filter, not a stop-at-
        // first-overflow scan — a later zero-cost row after an overflow
        // would differ. The model mirrors the documented filter rule.
      }.toSeq.sorted
      val modelFilter = rows.groupBy(_._2).flatMap { case (_, members) =>
        val ordered = members.sortBy(m => (md5hex(s"s:${m._1}"), m._1))
        val runs = ordered.scanLeft(0L)((acc, m) => acc + m._3.getOrElse(0L)).tail
        ordered.zip(runs).collect { case (m, r) if r <= budget => m._1 }
      }.toSeq.sorted
      assert(expect === modelFilter) // the two formulations coincide here
      val got = graft.ops.RelationalOps.budgetSample(df, "id", "cost",
          budget, by = Seq("grp"), seed = "s")
        .select("id").as[Long].collect().sorted.toSeq
      assert(got === modelFilter, s"budget=$budget diverged from model")
    }
  }

  test("mixSample matches the per-source floored-share prefix model") {
    val rowGen = for {
      src <- Gen.oneOf("web", "code", "books", "junk") // junk: unlisted
      cost <- Gen.frequency((1, Gen.const(Option.empty[Long])),
        (6, Gen.chooseNum(0L, 25L).map(Option(_))))
    } yield (src, cost)
    val weights = Seq("books" -> 1.0, "code" -> 2.0, "web" -> 5.0)
    val wsum = weights.map(_._2).sum
    for ((total, seed) <- Seq((0L, 31L), (60L, 32L), (400L, 33L), (9000L, 34L))) {
      val rows = sampleN(rowGen, 150, seed).zipWithIndex
        .map { case ((g, c), i) => (i.toLong, g, c) }
      val df = rows.toDF("id", "src", "cost")
      // model: per WEIGHTED source, budget = floor(w/Σw × total), then
      // budgetSample's prefix rule; unlisted sources contribute nothing
      val budgets = weights.map { case (s, w) =>
        s -> math.floor(w / wsum * total).toLong }.toMap
      val model = rows.filter(r => budgets.contains(r._2))
        .groupBy(_._2).flatMap { case (src, members) =>
          val ordered = members.sortBy(m => (md5hex(s"s:${m._1}"), m._1))
          val runs = ordered.scanLeft(0L)((acc, m) => acc + m._3.getOrElse(0L)).tail
          ordered.zip(runs).collect { case (m, r) if r <= budgets(src) => m._1 }
        }.toSeq.sorted
      val got = graft.ops.RelationalOps.mixSample(df, "id", "cost",
          total, "src", weights, seed = "s")
        .select("id").as[Long].collect().sorted.toSeq
      assert(got === model, s"total=$total diverged from model")
    }
  }

  test("groupCap matches the top-k model on both ordering faces") {
    val rowGen = for {
      grp <- Gen.oneOf("a", "b", "c")
      q <- Gen.chooseNum(0L, 20L) // narrow range so order ties occur
    } yield (grp, q)
    for ((cap, seed) <- Seq((1, 41L), (3, 42L), (7, 43L), (500, 44L))) {
      val rows = sampleN(rowGen, 150, seed).zipWithIndex
        .map { case ((g, q), i) => (i.toLong, g, q) }
      val df = rows.toDF("id", "grp", "q")
      // explicit-order face: top-cap by (q desc, id asc) per group
      val expectTop = rows.groupBy(_._2).flatMap { case (_, members) =>
        members.sortBy(m => (-m._3, m._1)).take(cap).map(_._1)
      }.toSeq.sorted
      val gotTop = graft.ops.RelationalOps.groupCap(df, "id", cap,
          by = Seq("grp"), orderBy = Seq(("q", -1)))
        .select("id").as[Long].collect().sorted.toSeq
      assert(gotTop === expectTop, s"cap=$cap ordered face diverged from model")
      // uniform face: rank by (md5("u:" ++ id), id) per group
      val expectUni = rows.groupBy(_._2).flatMap { case (_, members) =>
        members.sortBy(m => (md5hex(s"u:${m._1}"), m._1)).take(cap).map(_._1)
      }.toSeq.sorted
      val gotUni = graft.ops.RelationalOps.groupCap(df, "id", cap,
          by = Seq("grp"), seed = "u")
        .select("id").as[Long].collect().sorted.toSeq
      assert(gotUni === expectUni, s"cap=$cap uniform face diverged from model")
    }
  }

  test("groupCap rejects cap < 1, bare global cap, and a __cap_rn collision") {
    val df = Seq((1L, "a")).toDF("id", "grp")
    intercept[IllegalArgumentException] {
      graft.ops.RelationalOps.groupCap(df, "id", 0, by = Seq("grp"))
    }
    intercept[IllegalArgumentException] {
      graft.ops.RelationalOps.groupCap(df, "id", 1, by = Nil)
    }
    // allow_global opts in (small frames)
    assert(graft.ops.RelationalOps.groupCap(df, "id", 1, by = Nil,
      allowGlobal = true).count() === 1L)
    intercept[IllegalArgumentException] {
      graft.ops.RelationalOps.groupCap(
        df.withColumn("__cap_rn", lit(1)), "id", 1, by = Seq("grp"))
    }
  }

  test("TopGramStats matches the counting model on random token arrays") {
    val tok = Gen.frequency((1, Gen.const(null: String)),
      (8, Gen.oneOf("a", "b", "c", "ab", "")))
    val arr = Gen.chooseNum(0, 8).flatMap(k => Gen.listOfN(k, tok))
    for ((n, seed) <- Seq((1, 31L), (2, 32L), (3, 33L))) {
      val arrays = sampleN(arr, 200, seed)
      val df = arrays.zipWithIndex.map { case (a, i) => (i.toLong, a) }
        .toDF("id", "tk")
      val got = df.select(col("id"),
          graft.functions.TopGramStats.stats(col("tk"), n).as("st"))
        .select(col("id"), col("st.top_count"), col("st.top_gram"),
          col("st.n_positions"), col("st.dup_positions"))
        .collect().map(r => r.getLong(0) ->
          ((r.getInt(1), r.getString(2), r.getInt(3), r.getInt(4))))
        .toMap
      arrays.zipWithIndex.foreach { case (a, i) =>
        // model: positions = max(len-n+1, 1); window joined with one
        // space skipping nulls; counts non-distinct; top = (count desc,
        // gram asc); dup = positions whose gram repeats
        val size = a.size
        val expect = if (size == 0) (0, "", 0, 0) else {
          val positions = math.max(size - (n - 1), 1)
          val grams = (0 until positions).map { j =>
            a.slice(j, math.min(j + n, size)).filter(_ != null).mkString(" ")
          }
          val counts = grams.groupBy(identity).view.mapValues(_.size).toMap
          val (topGram, topCount) = counts.toSeq
            .sortBy { case (g, c) => (-c, g) }.head
          val dup = counts.valuesIterator.filter(_ > 1).sum
          (topCount, topGram, positions, dup)
        }
        assert(got(i.toLong) === expect, s"n=$n tokens=$a")
      }
    }
  }

  // ---- r18 kernel ≡ retained-reference-form property pins ----
  //
  // The CollapseWs / TokenStats / CountTokensInSet /
  // CountAlphaTokens char-loop kernels replicate split()/regex
  // semantics by hand — phantom empty fields for leading/trailing
  // non-space whitespace, blank → a single "" field, trim() stripping
  // 0x20 only, \s being exactly {space,\t,\n,\x0B,\f,\r}, letters by
  // Unicode category across planes. TextAnalysisSpec pins those edges
  // with hand-enumerated fixtures; these properties throw generated
  // unicode at the SAME kernel-vs-reference comparisons so a case the
  // enumeration missed cannot survive silently.

  /** Token pieces that stress every contract clause: stopwords in
    * mixed case, CJK, supplementary-plane letters and non-letters,
    * NBSP (a token CHAR — not in \s), digits/punct-only tokens,
    * combining and Latin-1 letters. */
  private val exoticPiece: Gen[String] = Gen.frequency(
    (4, Gen.oneOf("the", "The", "tHE", "BE", "to", "of", "and", "that",
      "have", "with", "a", "an", "is")),
    (3, Gen.oneOf("alpha", "Beta42", "123", "#", "...", "…", "--",
      "x1", "!?")),
    (2, Gen.oneOf("日本語", "中文",
      "テスト", "한국어")),
    (2, Gen.oneOf("𝐀", "𝔘𝔫",
      "😀", "𓀀", "🚀x")),
    (1, Gen.const(" ")),
    (1, Gen.oneOf("é", "ñé", "Σ", "ΑΣ", "ΒΣ2", "ß")))

  /** Exotic whitespace, including runs and the \r\n pair; every char
    * here is in the Java \s class the kernels replicate. */
  private val exoticWs: Gen[String] = Gen.oneOf(
    " ", "\t", "\n", "\u000B", "\f", "\r", "\r\n", "  ", " \t ", "\n\n")

  /** Documents with whitespace on BOTH flanks and between pieces —
    * empty separators glue pieces into one token, leading/trailing
    * non-space whitespace exercises the phantom-field replay. */
  private val exoticDoc: Gen[String] = Gen.frequency(
    (1, Gen.const(null: String)),
    (1, Gen.const("")),
    (2, exoticWs),
    (12, for {
      k <- Gen.chooseNum(1, 12)
      pieces <- Gen.listOfN(k, exoticPiece)
      seps <- Gen.listOfN(k + 1,
        Gen.frequency((5, exoticWs), (2, Gen.const(""))))
    } yield seps.head + pieces.zip(seps.tail)
      .map { case (p, s) => p + s }.mkString))

  test("kernels equal their retained reference forms on generated exotic unicode") {
    val docs = sampleN(exoticDoc, 400, 181L).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val df = docs.toDF("id", "t")
    val t = col("t")
    val low = split(lower(trim(t)), "\\s+")
    val oldDistinct = TextAnalysis.GopherStopwords.map(w =>
      array_contains(low, w).cast("int")).reduce(_ + _)
    val pairs = Seq(
      // CollapseWs kernel vs the regexp_replace(lower(trim)) form
      "collapse" -> ((Dedup.exactKey(t), Dedup.exactKeyRegex(t))),
      // TokenStats kernel vs the split forms
      "token_count" -> ((TextAnalysis.tokenCount(t),
        TextAnalysis.tokenCountSplit(t))),
      "mean_word_len" -> ((TextAnalysis.meanWordLen(t),
        TextAnalysis.meanWordLenSplit(t))),
      // CountTokensInSet (occurrences) via the ratio vs split+CountInSet
      "stopword_ratio" -> ((TextAnalysis.stopwordRatio(t),
        TextAnalysis.stopwordRatioSplit(t))),
      // CountTokensInSet (distinct) vs the 8-way array_contains reduce
      "stop_distinct" -> ((graft.functions.CountTokensInSet.countDistinct(
        t, TextAnalysis.GopherStopwords), oldDistinct)),
      // CountAlphaTokens char loop vs the ArrayFilter rlike lambda
      "alpha_tokens" -> ((graft.functions.CountAlphaTokens.count(t),
        size(filter(split(trim(t), "\\s+"), x => x.rlike("\\p{L}"))))),
      // the case fold itself, pinned with a NON-ASCII lexicon: the
      // kernel must fold like lower() (ICU final-sigma: ς only after
      // a cased char), not like the JVM — the divergence this suite
      // caught in the r18 kernels. "Σ" alone folds to σ (preceded by
      // nothing), "ΑΣ" to ας: both shapes occur in the generator.
      "sigma_set" -> ((graft.functions.CountTokensInSet.count(
        t, Seq("σ", "ας", "ß")),
        graft.functions.CountInSet.count(
          split(lower(trim(t)), "\\s+"), Seq("σ", "ας", "ß")))),
      // GopherLineStats char loop vs the five composed scans — (?d)
      // UNIX_LINES so the Java reference anchors around '\n' only,
      // the RE2/DuckDB (?m) semantics the oracle replays (the
      // generator's \r\n / \f runs, dots, ellipses, '#' and
      // '-'/'--'-leading pieces after newline separators exercise the
      // anchor and non-overlap replays; \r becomes an ordinary char)
      // (when(isNotNull) wraps the reference into a NULL struct for
      // null text, the kernel's shape — struct(null,..) is non-null)
      "line_stats" -> ((graft.functions.GopherLineStats.stats(t),
        when(t.isNotNull, struct(
          (length(t) - length(regexp_replace(t, "#", "")))
            .cast("int").as("n_hash"),
          regexp_count(t, lit("(\\.\\.\\.|\\u2026)")).cast("int").as("n_ell"),
          size(split(t, "\n")).as("n_lines"),
          regexp_count(t, lit("(?dm)^[ \\t]*[-*\\u2022\\u2023\\u25AA]"))
            .cast("int").as("n_bullet"),
          regexp_count(t, lit("(?dm)(\\.\\.\\.|\\u2026)[ \\t]*$"))
            .cast("int").as("n_ell_end"))))))
    val projected = df.select(col("id") +: pairs.flatMap { case (n, (k, r)) =>
      Seq(k.as(s"${n}_k"), r.as(s"${n}_r")) }: _*)
    val disagree = pairs.map { case (n, _) =>
      not(col(s"${n}_k") <=> col(s"${n}_r")) }.reduce(_ || _)
    val bad = projected.filter(disagree).limit(5).collect()
    assert(bad.isEmpty, {
      val byId = docs.toMap
      bad.map(r => s"id=${r.getLong(0)} text=${
        Option(byId(r.getLong(0))).map(_.map(c => f"\\u$c%04x".toString)
          .mkString).orNull}: $r").mkString("\n")
    })
  }

  test("case-folding kernels stay in lockstep with lower() when ICU is OFF") {
    // every suite run exercises useICU=true (Spark 4's default); this
    // pins the OTHER branch: with ICU case mappings disabled, lower()
    // drops to the per-codepoint UTF8String fold (final ΑΣ → ασ, not
    // ας) and the kernels must follow it there too — the lockstep
    // contract is "fold like the engine", not "fold like ICU"
    val key = "spark.sql.icu.caseMappings.enabled"
    val prev = spark.conf.get(key, "true")
    try {
      spark.conf.set(key, "false")
      val docs = Seq("ΑΣ Σ ΒΑΣ", "STRASSE ΑΣ", "ΟΔΥΣΣΕΑΣ σοφία",
        " ΑΣ\t", "ς σ Σ", "", null)
        .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val t = col("t")
      val bad = docs.toDF("id", "t").select(col("id"),
        not(graft.functions.CountTokensInSet.count(t, Seq("σ", "ας", "ασ"))
          <=> graft.functions.CountInSet.count(
            split(lower(trim(t)), "\\s+"), Seq("σ", "ας", "ασ"))).as("a"),
        not(Dedup.exactKey(t) <=> Dedup.exactKeyRegex(t)).as("b"))
        .filter(col("a") || col("b")).collect()
      assert(bad.isEmpty, bad.mkString("\n"))
    } finally spark.conf.set(key, prev)
  }
}
