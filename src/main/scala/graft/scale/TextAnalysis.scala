package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for large-scale training-data pipelines: token
 * counting, quality scoring, language identification, and document
 * fingerprinting. All are pure Column expression trees (codegen'd, no UDFs),
 * so they run as narrow maps — no shuffle, linear scale-out, and they stay
 * inside whole-stage codegen next to the parquet scan.
 */
object TextAnalysis {

  /** Whitespace tokens; empty/blank text → 0 — the codegen'd
    * TokenStats kernel, one regex-free pass (count-equivalence with
    * the split form below pinned in TextAnalysisSpec; shared with
    * [[meanWordLen]], which reads the other field of the same struct,
    * so a projection using both pays the pass once). */
  def tokenCount(text: Column): Column =
    graft.functions.TokenStats.stats(text).getField("n_tokens")

  /** The split form tokenCount replaced (semantic reference — also
    * the shape the DuckDB oracles replay). */
  private[graft] def tokenCountSplit(text: Column): Column =
    when(length(trim(text)) === 0, lit(0L))
      .otherwise(size(split(trim(text), "\\s+")).cast("long"))

  /** Exact top-k most frequent whitespace tokens over a corpus — the
    * vocabulary-stats primitive of training-data analysis (stopword
    * discovery, template detection, tokenizer budgeting). Distributed
    * shape: explode → map-side partial count → ONE shuffle on token →
    * `TakeOrderedAndProject` (each partition forwards only its own
    * top-k, no global sort — pinned in TextTopkSpec). Deterministic
    * tiebreak (count desc, token asc) makes the k-th boundary stable,
    * so the result is engine-reproducible. */
  def topTokens(df: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k > 0, s"topTokens: k must be positive, got $k")
    df.select(explode(split(lower(col(textCol)), "\\s+")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token")).agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("token"))
      .limit(k)
  }

  /** Exact top-k most frequent word n-grams over a corpus — the
    * template/boilerplate-detection stat next to [[topTokens]]'s
    * vocabulary (a bigram/trigram dominating the corpus is navigation
    * chrome or licence boilerplate). n = 1 delegates to topTokens
    * (column `token`); n > 1 counts every gram POSITION (occurrences,
    * not document frequency) from the same lowercase \s+ tokenization,
    * emitting column `gram`. Documents with fewer than n tokens (and
    * NULL text) contribute nothing. Same distributed shape as
    * topTokens: explode → partial count → ONE shuffle on the gram →
    * TakeOrderedAndProject, deterministic (count desc, gram asc)
    * boundary.
    *
    * Cost is genuinely LINEAR in gram positions (~n_tokens per doc —
    * tools/CurationProbe @0fcdae9 measures ~75M grams/s at local[32] with the
    * positional-WordShingles codegen kernel); at 100 TB run
    * it on a deterministic hashSample of the corpus: frequency RANKS
    * converge fast under uniform sampling, and the md5 sample is
    * reproducible, so the sampled top-k is a stable, documented
    * estimate rather than a silent cap. Declaratively: the
    * `top_tokens` component's `sample_fraction` knob composes
    * RelationalOps.hashSample in front of this (gate-pinned at
    * fraction 0.5 by q_job_top_tokens_sampled). */
  def topGrams(df: DataFrame, textCol: String, k: Int, n: Int = 1): DataFrame = {
    require(k > 0, s"topGrams: k must be positive, got $k")
    require(n >= 1, s"topGrams: n must be >= 1, got $n")
    if (n == 1) topTokens(df, textCol, k)
    else {
      val toks = filter(split(lower(col(textCol)), "\\s+"), t => length(t) > 0)
      // the gram builder is the codegen'd positional WordShingles (one
      // compiled pass; the transform(sequence)+slice+concat_ws HOF form
      // it replaced copied a window array per position — measured 10×
      // slower on the sf0.1 corpus). The size guard keeps the documented
      // "fewer than n tokens contribute nothing" contract: computeAll's
      // short-list collapse path is never reached.
      val grams = when(size(toks) >= n,
        graft.functions.WordShingles.shinglesAll(toks, n))
        .otherwise(array().cast("array<string>"))
      df.select(explode(grams).as("gram"))
        .groupBy(col("gram")).agg(count(lit(1)).as("n_occurrences"))
        .orderBy(col("n_occurrences").desc, col("gram"))
        .limit(k)
    }
  }

  /**
   * BPE-ish subword proxy: counts word pieces + digits + punctuation runs the
   * way byte-pair tokenizers tend to split. A deterministic upper-ish bound
   * used for budgeting, not an exact tokenizer.
   */
  def tokenCountBpeIsh(text: Column): Column =
    when(length(trim(text)) === 0, lit(0L))
      .otherwise(size(regexp_extract_all(text,
        lit("[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\\s]"), lit(0))).cast("long"))

  /** Ratio of punctuation characters to total characters (0 when empty). */
  def punctRatio(text: Column): Column = {
    val total = length(text)
    val punct = total - length(regexp_replace(text, "[\\p{Punct}]", ""))
    when(total === 0, lit(0.0)).otherwise(punct.cast("double") / total.cast("double"))
  }

  /** Mean word length over whitespace tokens (0 when empty) — both
    * counts read off the one TokenStats pass (no regexp_replace). */
  def meanWordLen(text: Column): Column = {
    val st = graft.functions.TokenStats.stats(text)
    val toks = st.getField("n_tokens")
    val chars = st.getField("n_chars")
    when(toks === 0, lit(0.0)).otherwise(chars.cast("double") / toks.cast("double"))
  }

  /** The replace+split form meanWordLen replaced (semantic reference). */
  private[graft] def meanWordLenSplit(text: Column): Column = {
    val toks = tokenCountSplit(text)
    val chars = length(regexp_replace(trim(text), "\\s+", ""))
    when(toks === 0, lit(0.0)).otherwise(chars.cast("double") / toks.cast("double"))
  }

  val EnglishStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "at", "by", "be", "this")

  /** Fraction of whitespace tokens that are (lowercased) stopwords.
    * Both counts are regex-free kernels — the numerator tokenizes IN
    * the membership loop (CountTokensInSet: no split array, which a
    * once-per-row consumer cannot amortize) and the denominator reads
    * off TokenStats. Identical counts to the split+CountInSet form
    * below (spec-pinned). */
  def stopwordRatio(text: Column, stopwords: Seq[String] = EnglishStopwords): Column = {
    val n = tokenCount(text)
    // empty stopword list: ratio is 0 by definition (the kernel requires
    // a non-empty probe set; the old filter(isin) form allowed empty)
    val stops =
      if (stopwords.isEmpty) lit(0)
      else graft.functions.CountTokensInSet.count(text, stopwords)
    when(n === 0, lit(0.0)).otherwise(stops.cast("double") / n.cast("double"))
  }

  /** The split-array form stopwordRatio replaced (semantic reference). */
  private[graft] def stopwordRatioSplit(text: Column,
                                        stopwords: Seq[String] = EnglishStopwords): Column = {
    val toks = split(lower(trim(text)), "\\s+")
    val n = tokenCountSplit(text)
    val stops =
      if (stopwords.isEmpty) lit(0)
      else graft.functions.CountInSet.count(toks, stopwords)
    when(n === 0, lit(0.0)).otherwise(stops.cast("double") / n.cast("double"))
  }

  /**
   * Composite quality score in [0,1]: rewards reasonable length, some
   * stopword presence (natural language), and low punctuation noise.
   * A heuristic in the C4/Gopher-rules tradition, built from the pieces above.
   */
  def qualityScore(text: Column): Column = {
    val lenScore = least(length(text).cast("double") / lit(500.0), lit(1.0))
    val stopScore = least(stopwordRatio(text) * lit(4.0), lit(1.0))
    val punctPenalty = greatest(lit(1.0) - punctRatio(text) * lit(4.0), lit(0.0))
    round((lenScore + stopScore + punctPenalty) / lit(3.0), 6)
  }

  /** The eight Gopher stopwords of the "contains at least 2 of" rule
    * (Rae et al. 2021, table A1) — NOT [[EnglishStopwords]], which is
    * the stopword-RATIO lexicon. */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /**
   * The Gopher QUALITY rules (Rae et al. 2021, appendix A1.1) as one
   * narrow, codegen-friendly projection — the complement of
   * [[repetitionStats]] (the Gopher REPETITION rules). Appends one
   * boolean per rule plus the conjunction `gopher_pass`:
   *
   *  - g_word_count:  [minWords, maxWords] whitespace tokens;
   *  - g_mean_word_len: mean token length in [minMeanLen, maxMeanLen];
   *  - g_symbol_ratio: (# of `#` + `...`/`…` occurrences) / tokens
   *    <= maxSymbolRatio;
   *  - g_bullet_lines: fraction of lines starting with a bullet
   *    (-, *, •, ‣, ▪) <= maxBulletRatio;
   *  - g_ellipsis_lines: fraction of lines ending in `...`/`…`
   *    <= maxEllipsisRatio;
   *  - g_alpha_words: fraction of tokens containing at least one
   *    \p{L} letter >= minAlphaRatio;
   *  - g_stopwords: at least minStopHits DISTINCT [[GopherStopwords]]
   *    present.
   *
   * Determinism discipline: every rule is a BOOLEAN over integer
   * counts and IEEE-exact integer divisions, so the oracle replays it
   * bit-for-bit; the underlying ratios are never emitted. The line
   * rules' SEMANTICS are (?dm) UNIX_LINES multiline regexes (no
   * lookaround, ^/$ anchor around '\n' ONLY — Java's (?d) is RE2's
   * native (?m), so a DuckDB/RE2 plain-(?m) replay agrees on every
   * input including bare-\r and \r\n line endings, not just on
   * corpora without them) — the engine computes all five counts in
   * one GopherLineStats char pass. NULL text fails every rule, the
   * curation-safe default.
   *
   * All seven rules and the conjunction come from ONE GopherRules
   * kernel call per row: `emit=flagged` projects the struct's fields,
   * `emit=docs` filters on its `gopher_pass` bit. One call, because
   * Spark's `FilterExec` codegen has no subexpression elimination
   * (`ProjectExec`'s has) and the optimizer pushes a filter on
   * `gopher_pass` below the projection that defines it: the per-count
   * rule tree it replaced ran `TokenStats` 13 times and
   * `GopherLineStats` 6 times per row inside the Filter (and an
   * upstream `text_normalize`'s `regexp_replace` 23 times when no
   * `observe()` node sat in between). Measured with
   * `perfbench/run.py --workload curate --seed 8 --trace 1` (4-core
   * box): `scale.text_ms` 1462 → 227 ms per traced pass.
   *
   * The counts come from the char-loop kernels, no regex: the alpha-word
   * count is the CountAlphaTokens loop — measured (tools/CurationProbe
   * @0fcdae9, local[32], 500k docs) 0.23 s vs 0.41 s for the interpreted
   * per-token ArrayFilter lambda it replaced (size(filter(toks, _ rlike
   * \p{L})), equivalence spec-pinned) and vs 0.60 s for the
   * compiled-but-regex-bound regexp_count(\S*\p{L}\S*) single pass;
   * the five symbol/line counts are one GopherLineStats pass, where five
   * separate scans (regexp_replace '#' strip, ellipsis regexp_count,
   * split-\n, two (?dm) regexp_counts) each cost alone about what the
   * whole kernel does (tools/LineRuleProbe @0fcdae9, 500k docs: composed
   * 0.94-1.40 s vs kernel 0.32-0.57 s); the distinct-stopword count is
   * one CountTokensInSet tokenize scan.
   */
  def gopherRules(df: DataFrame, textCol: String = "text",
                  minWords: Int = 50, maxWords: Int = 100000,
                  minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                  maxSymbolRatio: Double = 0.1,
                  maxBulletRatio: Double = 0.9,
                  maxEllipsisRatio: Double = 0.3,
                  minAlphaRatio: Double = 0.8,
                  minStopHits: Int = 2): DataFrame = {
    require(!df.columns.contains("__gopher"),
      "gopher_filter: input already has a '__gopher' column")
    val g = gopherStruct(col(textCol), minWords, maxWords, minMeanLen,
      maxMeanLen, maxSymbolRatio, maxBulletRatio, maxEllipsisRatio,
      minAlphaRatio, minStopHits)
    // the struct stays its own projection: CollapseProject does not
    // inline a non-trivial expression its consumer reads 8 times
    val fields = graft.functions.GopherRules.fields
    df.withColumn("__gopher", g)
      .withColumns(scala.collection.immutable.ListMap(
        fields.map(f => f -> col("__gopher").getField(f)): _*))
      .drop("__gopher")
  }

  /** [[gopherRules]]' passing rows, columns unchanged — the shape a
    * training pipeline feeds downstream: a filter on the one kernel
    * call's `gopher_pass` bit. */
  def gopherFilter(df: DataFrame, textCol: String = "text",
                   minWords: Int = 50, maxWords: Int = 100000,
                   minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                   maxSymbolRatio: Double = 0.1,
                   maxBulletRatio: Double = 0.9,
                   maxEllipsisRatio: Double = 0.3,
                   minAlphaRatio: Double = 0.8,
                   minStopHits: Int = 2): DataFrame =
    df.filter(gopherStruct(col(textCol), minWords, maxWords, minMeanLen,
      maxMeanLen, maxSymbolRatio, maxBulletRatio, maxEllipsisRatio,
      minAlphaRatio, minStopHits).getField("gopher_pass"))

  private def gopherStruct(t: Column, minWords: Int, maxWords: Int,
                           minMeanLen: Double, maxMeanLen: Double,
                           maxSymbolRatio: Double, maxBulletRatio: Double,
                           maxEllipsisRatio: Double, minAlphaRatio: Double,
                           minStopHits: Int): Column =
    graft.functions.GopherRules.rules(t, GopherStopwords, minWords, maxWords,
      minMeanLen, maxMeanLen, maxSymbolRatio, maxBulletRatio,
      maxEllipsisRatio, minAlphaRatio, minStopHits)

  /**
   * Fraction of non-blank lines that are duplicates of another line —
   * the Gopher "duplicate line fraction" quality rule (boilerplate,
   * navigation chrome, templated text). Pure Column tree: split on
   * newline, trim, drop blanks, 1 - distinct/total. Empty/blank text →
   * 0; null text → null.
   */
  def dupLineFraction(text: Column): Column =
    graft.functions.DupLineRatio.ratio(text)

  /** The interpreted HOF form dupLineFraction replaced — kept as the
    * semantic reference for the kernel-equivalence spec. */
  private[graft] def dupLineFractionHof(text: Column): Column = {
    val lines = filter(transform(split(text, "\n"), l => trim(l)),
      l => length(l) > 0)
    val total = size(lines)
    when(total <= 0, lit(0.0)).otherwise(
      (total - size(array_distinct(lines))).cast("double") /
        total.cast("double"))
  }

  /**
   * Gopher-style repetition signals appended to the frame, all computed
   * as narrow maps (the gram counting is the codegen'd TopGramStats
   * expression — one per-row hash pass, no explode, no shuffle):
   *
   *  - dup_line_ratio: [[dupLineFraction]];
   *  - top_gram: the most frequent word n-gram of the normalized text
   *    (ties to the binary-smallest gram — engine-reproducible);
   *  - top_gram_ratio: top_count * len(top_gram) / len(normalized text)
   *    — the "fraction of characters in the most frequent n-gram" rule
   *    (occurrence overlaps are not discounted; 0 when the text is
   *    empty);
   *  - dup_gram_ratio: gram positions whose gram repeats / total gram
   *    positions — the "duplicated n-gram fraction" rule.
   *
   * Normalization is the dedup family's contract (Dedup.exactKey:
   * lowercase, whitespace-collapse) so repetition and dedup agree on
   * what a token is. Null text propagates null through all four
   * columns.
   */
  def repetitionStats(df: DataFrame, textCol: String = "text",
                      n: Int = 2): DataFrame = {
    require(n >= 1, s"repetitionStats: n must be >= 1, got $n")
    // the temp struct is dropped at the end — a user __rep column would
    // be silently destroyed (the stat OUTPUT columns by contrast are
    // recompute-overwrite by contract, like analyze()'s)
    require(!df.columns.contains("__rep"),
      "repetition stats: column name __rep is reserved internally")
    val t = col(textCol)
    val norm = Dedup.exactKey(t)
    val st = graft.functions.TopGramStats.stats(split(norm, " "), n)
    val normLen = length(norm)
    df.withColumn("dup_line_ratio", round(dupLineFraction(t), 6))
      .withColumn("__rep", st)
      .withColumn("top_gram", col("__rep.top_gram"))
      .withColumn("top_gram_ratio", round(
        when(normLen === 0, lit(0.0)).otherwise(
          (col("__rep.top_count") * length(col("__rep.top_gram")))
            .cast("double") / normLen.cast("double")), 6))
      .withColumn("dup_gram_ratio", round(
        when(col("__rep.n_positions") === 0, lit(0.0)).otherwise(
          col("__rep.dup_positions").cast("double") /
            col("__rep.n_positions").cast("double")), 6))
      .drop("__rep")
  }

  /**
   * Language-ID by marker-word voting: counts hits against per-language
   * marker lexicons and picks the argmax (ties → lexicographic language
   * code, "und" when no marker hits). An n-gram-free heuristic that is
   * SQL-expressible, deterministic, and runs as one codegen'd expression.
   */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "nicht", "ist", "ein", "mit"),
    "en" -> Seq("the", "and", "of", "to", "is", "that", "for", "with"),
    "es" -> Seq("el", "la", "los", "las", "que", "de", "es", "una"),
    "fr" -> Seq("le", "la", "les", "des", "est", "une", "que", "dans"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "不"))

  def langId(text: Column): Column = {
    val toks = split(lower(trim(text)), "\\s+")
    // One scores array; argmax via array_position(max) — first index wins
    // ties, i.e. lexicographic language code (LangMarkers is sorted).
    // (A when-chain fold references each accumulated score twice per step,
    // doubling the interpreted expression tree per language — measured 4×
    // slower at 5 languages.) Marker counting is the codegen'd CountInSet
    // (one compiled loop per lexicon vs an interpreted ArrayFilter pass).
    val scores = array(LangMarkers.map { case (_, markers) =>
      graft.functions.CountInSet.count(toks, markers)
    }: _*)
    val langs = array(LangMarkers.map(m => lit(m._1)): _*)
    val mx = array_max(scores)
    when(mx > 0,
      element_at(langs, array_position(scores, mx).cast("int")))
      .otherwise(lit("und"))
  }

  /**
   * Normalized document fingerprint: lowercase, strip punctuation, split on
   * whitespace, distinct-sort tokens, md5 of the joined token list. Two
   * documents with the same bag of words collide — the cheap exact-ish
   * canonical fingerprint used before heavier MinHash passes.
   *
   * The tokenizer is deliberately ASCII ([a-z0-9]) for bit-exact oracle
   * parity across engines (unicode lower/word rules differ). A document
   * with NO ascii tokens (e.g. fully CJK text) falls back to the md5 of
   * its whitespace-normalized raw text — without the fallback every
   * non-Latin document would share md5("") and a fingerprint-dedup pass
   * would collapse them all into one survivor.
   *
   * NULL text → NULL fingerprint, like every other analysis column
   * (and like the DuckDB oracle, where the CASE's null condition falls
   * to md5(NULL) = NULL). The branch ORDER below is what delivers it:
   * null toks fail the `size > 0` test into the fallback, whose
   * exactKey(null) is null — the previous `size === 0`-first shape sent
   * null text through concat_ws, which SKIPS a null array argument and
   * silently fingerprinted every null-text doc as md5(""), colliding
   * them with each other and with genuinely-empty docs.
   */
  def fingerprint(text: Column): Column = {
    val cleaned = regexp_replace(lower(text), "[^a-z0-9\\s]", " ")
    val toks = filter(split(trim(cleaned), "\\s+"), t => length(t) > 0)
    when(size(toks) > 0,
      md5(concat_ws(" ", array_sort(array_distinct(toks))).cast("binary")))
      .otherwise(md5(Dedup.exactKey(text).cast("binary")))
  }

  /**
   * PII redaction in the Dolma/RedPajama tradition: regex masking of
   * emails, US-style phone numbers, and IPv4 addresses. Pure
   * regexp_replace chains — codegen'd narrow maps like everything else
   * here, no shuffle at any scale.
   *
   * Pattern discipline: Java-regex/RE2 COMMON SUBSET only (no lookahead,
   * no lookbehind, no unicode classes) so a DuckDB/RE2 oracle evaluates
   * the exact same language — the same reasoning as fingerprint()'s
   * ASCII tokenizer. The phone pattern is deliberately conservative
   * (separator REQUIRED: 555-123-4567, 555.123.4567, (555) 123-4567 —
   * not bare 10 digits) to bound false positives on numeric text;
   * emails before phones before IPs, so an address inside an email's
   * domain is already masked.
   *
   * The phone pattern carries a leading digit-boundary guard — RE2 has
   * no lookbehind, so the guard is a CONSUMED group (^|[^0-9]) restored
   * in the replacement as $1: "1555-123-4567" is one digit run, not a
   * prefix plus a phone, and stays unmasked (TextAnalysisSpec pins it).
   * No trailing guard: a consumed trailing char would swallow the
   * single separator between back-to-back phones and miss the second —
   * trailing extra digits ("555-123-45678") still mask their 3-3-4
   * prefix, the documented residual of the lookahead-free tradeoff.
   */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  /** The bare 3-3-4 shape, without the boundary guard. */
  val PhoneCore = "\\(?\\d{3}\\)?[-. ]\\d{3}[-. ]\\d{4}"
  /** Guarded form used for counting and masking; group 1 = the consumed
    * boundary (restored on replace), group 2 = the phone itself. */
  val PhoneRe = s"(^|[^0-9])($PhoneCore)"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Masked text: emails → <EMAIL>, phones → <PHONE>, IPv4 → <IP>. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        PhoneRe, "$1<PHONE>"),
      Ipv4Re, "<IP>")

  /** Redact + per-category counts (counted on the ORIGINAL text, before
    * masking) — the counts drive downstream filtering ("drop documents
    * with >k PII hits") without a second scan. */
  def redactPiiWithCounts(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_emails", regexp_count(t, lit(EmailRe)).cast("long"))
      .withColumn("n_phones", regexp_count(t, lit(PhoneRe)).cast("long"))
      .withColumn("n_ips", regexp_count(t, lit(Ipv4Re)).cast("long"))
      .withColumn(textCol, redactPii(t))
  }

  /**
   * Context-window chunking (beyond-reference; the pretraining-prep step
   * that turns curated documents into model-sized pieces): each row
   * fans out into fixed-size character chunks of `size` with `overlap`
   * characters shared between consecutive chunks (stride = size −
   * overlap). Chunk starts are 0, stride, 2·stride, … < len, so the
   * last chunk may be shorter than `size` and no chunk is empty. Rows
   * whose text is NULL or empty emit no chunks — an empty document has
   * nothing to train on.
   *
   * At scale: one narrow filter + one Generate (posexplode) in the SAME
   * task as the scan — no shuffle, no driver state; the fan-out factor
   * is ceil(len/stride) per row, bounded by the document length that is
   * already in a single cell. The chunk grid is the codegen'd
   * CharChunks kernel (one compiled pass per row — the
   * transform(sequence)+substr HOF form it replaced paid an interpreted
   * evaluator dispatch per chunk), and it replays bit-exactly on any
   * engine with 1-based character substring (the DuckDB oracle does).
   * `keepText=false` drops the source text column — after chunking the
   * full document is usually dead weight, and dropping it here keeps
   * the widest column out of every downstream exchange (json_extract's
   * keep_source discipline).
   */
  def chunk(df: DataFrame, textCol: String, size: Int, overlap: Int = 0,
            indexCol: String = "chunk_index", chunkCol: String = "chunk_text",
            keepText: Boolean = false): DataFrame = {
    require(size >= 1, s"chunk: size must be >= 1, got $size")
    require(overlap >= 0 && overlap < size,
      s"chunk: overlap must be in [0, size), got $overlap for size $size")
    require(df.columns.contains(textCol),
      s"chunk: no column '$textCol' in ${df.columns.mkString(", ")}")
    Seq(indexCol, chunkCol).foreach(c => require(!df.columns.contains(c),
      s"chunk: input already has a '$c' column; pick another name"))
    val t = col(textCol)
    val chunks = graft.functions.CharChunks.chunks(t, size, overlap)
    val exploded = df.filter(length(t) > 0) // null-safe: null fails it
      .select(col("*"), posexplode(chunks).as(Seq(indexCol, chunkCol)))
      .withColumn(indexCol, col(indexCol).cast("long"))
    if (keepText) exploded else exploded.drop(textCol)
  }

  /** 1:1 accent-fold map for [[normalizeText]] (translate is char-for-char,
    * so multi-char folds like ß→ss are out of scope by construction). */
  val AccentSrc = "àáâãäåèéêëìíîïòóôõöùúûüçñýÿÀÁÂÃÄÅÈÉÊËÌÍÎÏÒÓÔÕÖÙÚÛÜÇÑÝ"
  val AccentDst = "aaaaaaeeeeiiiiooooouuuucnyyAAAAAAEEEEIIIIOOOOOUUUUCNY"

  /**
   * Text canonicalization (beyond-reference; the normalize-before-dedup
   * step every curation pipeline runs so that near-identical casings /
   * spacings / diacritics collapse to one key): applies, in this fixed
   * order, lowercase → accent-fold (1:1 translate over [[AccentSrc]]) →
   * punctuation strip (drop every char that is not a unicode letter,
   * digit, or whitespace) → whitespace squeeze (runs of whitespace → one
   * space) → trim. Each step is opt-in/out; the order is fixed so two
   * pipelines declaring the same flags produce the same bytes.
   *
   * Pure codegen'd Column tree (lower/translate/regexp_replace/trim) —
   * a narrow map with no shuffle at any scale. Pattern discipline is
   * the Java-regex/RE2 common subset (\p{L}/\p{N}/\s work in both), so
   * a DuckDB oracle replays the exact transformation. NULL text stays
   * NULL. `dest` lands the result as a new column (default: overwrite
   * `textCol` in place — the usual pipeline shape).
   */
  def normalizeText(df: DataFrame, textCol: String, dest: String = "",
                    lowercase: Boolean = true, accentFold: Boolean = false,
                    stripPunct: Boolean = false,
                    squeezeWs: Boolean = true): DataFrame = {
    require(df.columns.contains(textCol),
      s"text_normalize: no column '$textCol' in ${df.columns.mkString(", ")}")
    val out = if (dest.isEmpty) textCol else dest
    if (out != textCol) require(!df.columns.contains(out),
      s"text_normalize: input already has a '$out' column; pick another dest")
    var c = col(textCol)
    if (lowercase) c = lower(c)
    if (accentFold) c = translate(c, AccentSrc, AccentDst)
    if (stripPunct) c = regexp_replace(c, "[^\\p{L}\\p{N}\\s]", "")
    if (squeezeWs) c = regexp_replace(c, "\\s+", " ")
    df.withColumn(out, trim(c))
  }

  /**
   * URL decomposition (beyond-reference; the web-crawl curation
   * primitive behind per-domain quotas, domain blocklists, and URL
   * dedup): appends `<prefix>scheme/host/domain/path` parsed out of a
   * URL string column. `domain` is the last two dot-labels of the host
   * — a public-suffix-list-free registered-domain heuristic (co.uk-style
   * two-level suffixes land as the suffix pair; documented, determinism
   * over completeness). Userinfo and port are stripped from `host`.
   * Non-matching parts are NULL (nullif('') normalizes Spark's
   * empty-string no-match convention), as is anything after a NULL url.
   *
   * Pure regexp_extract chains in the Java-regex/RE2 COMMON SUBSET (no
   * lookaround; non-capturing groups only) — codegen'd narrow maps, no
   * shuffle, and a DuckDB/RE2 oracle evaluates the same language.
   * Chain with group_cap on `<prefix>domain` for the CCNet-style
   * per-domain dominance guard.
   */
  def urlFeatures(df: DataFrame, urlCol: String,
                  prefix: String = "url_"): DataFrame = {
    require(df.columns.contains(urlCol),
      s"url_features: no column '$urlCol' in ${df.columns.mkString(", ")}")
    val outs = Seq("scheme", "host", "domain", "path").map(prefix + _)
    outs.foreach(c => require(!df.columns.contains(c),
      s"url_features: input already has a '$c' column; pick another prefix"))
    val u = col(urlCol)
    def part(re: String) = nullif(regexp_extract(u, re, 1), lit(""))
    val scheme = "^([A-Za-z][A-Za-z0-9+.-]*)://"
    val host = "^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)"
    // the path group is anchored on '/' — a backtrack-prone ([^?#]+)
    // would steal the authority's tail on path-less URLs
    val path = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(/[^?#]*)"
    val hostCol = part(host)
    df.withColumn(prefix + "scheme", part(scheme))
      .withColumn(prefix + "host", hostCol)
      .withColumn(prefix + "domain",
        nullif(regexp_extract(hostCol, "([^.]+\\.[^.]+)$", 1), lit("")))
      .withColumn(prefix + "path", part(path))
  }

  /** Shannon entropy of the text's UTF-8 bytes in bits per byte — the
    * compression-proxy quality signal (codegen'd CharEntropy kernel:
    * one per-row histogram pass, no explode, no shuffle). Natural prose
    * sits ~4.0-4.5 bits/byte; base64/hex blobs, repeated padding, and
    * binary spill score far off that band. */
  def charEntropy(text: Column): Column =
    graft.functions.CharEntropy.entropy(text)

  /** All analyses as one projection, for pipeline use. */
  def analyze(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_tokens", tokenCount(t))
      .withColumn("n_tokens_bpe", tokenCountBpeIsh(t))
      .withColumn("punct_ratio", round(punctRatio(t), 6))
      .withColumn("stopword_ratio", round(stopwordRatio(t), 6))
      .withColumn("quality", qualityScore(t))
      .withColumn("lang_pred", langId(t))
      .withColumn("fingerprint", fingerprint(t))
  }
}
