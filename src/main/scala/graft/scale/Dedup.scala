package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StructField, StructType}

/**
 * Deduplication operators for training-data pipelines, each designed around
 * Spark's shuffle model so the same code holds at 100 TB:
 *
 *  - exact: hash-groupBy on a normalized key — one shuffle on the key, and
 *    the min-id winner is picked with a window (map-side combinable).
 *  - MinHash + LSH: shingle → k minhashes (one-pass aggregate) → band into
 *    (band, bucket) keys → **ids-only** self-join on the bucket key →
 *    candidate-pair dedup → cheap signature-agreement prefilter → exactly
 *    one Jaccard verification per surviving pair. Shingle arrays cross the
 *    wire exactly twice (the two verification join-backs), never through
 *    the banded explode/shuffle.
 *  - SimHash: 60-bit weighted-projection fingerprint stored as 4×15-bit
 *    blocks; hamming ≤ 3 implies ≥1 shared block (pigeonhole), so the
 *    block-key join is *exactly* equivalent to the all-pairs computation.
 *    The token hash is an md5-prefix (SQL-reproducible on any engine, so
 *    correctness oracles can replay it) and the per-bit votes accumulate
 *    in ONE aggregate pass with a 60-wide array state.
 *  - n-gram Jaccard: posting-list (inverted index) join carrying only
 *    (id, shingle-count); intersection sizes come from a count aggregate
 *    and union sizes ride the posting rows, so shingle arrays are never
 *    shipped through the pair join and no size table joins back after
 *    it. A document-frequency cap bounds the O(df²) blowup of
 *    stop-phrase postings at scale.
 *
 * Everything is built from codegen'd Catalyst expressions — no UDFs.
 *
 * Measured scaling (tools/ScaleProbe @0fcdae9, sf0.1 docs replicated Nx with
 * salted near-dup replicas, local[32] / 96g driver):
 *
 *  | stage             | 10x (50k docs)    | 100x decade (500k docs)        |
 *  |-------------------|-------------------|--------------------------------|
 *  | minhashNearDups   | 2.7x time,        | 49.1x time (16.1 s → 792 s)    |
 *  |                   | pairs 256→250,600 | while pairs grew ~107,000x     |
 *  |                   |                   | (256 → 27,310,000)             |
 *  | simhashDedup      | 3.7x              | 15.6x at 30x (150k docs);      |
 *  |                   |                   | 100x disk-bound, see below     |
 *  | ngramJaccardPairs | 2.2x              | 12.1x at 30x, pairs 256→2.4M;  |
 *  |                   |                   | 100x disk-bound, see below     |
 *  | embeddingNearDups | 3.1x (isometric   | 4.7x at 100x (200k vectors,    |
 *  |                   | replicas)         | 3.3 s → 15.5 s) with LSH depth |
 *  |                   |                   | scaled per the operator's rule |
 *
 * Every stage stays well under linear-in-input even where the TRUE output
 * pair structure is quadratic in the replica factor (each base doc's N
 * salted replicas are mutual near-dups: at 100x that is ~27M real pairs,
 * all found). Two caveats the 100x decade surfaced, both environmental or
 * parametric rather than algorithmic:
 *  - simhash/ngram at 100x exhaust THIS BOX's disk (~80 GB shuffle spill):
 *    with ~25M+ true pairs the candidate/verify shuffles legitimately
 *    carry tens of GB; on a cluster that volume spreads across executors'
 *    local disks. 30x is the largest factor that fits locally.
 *  - embeddingNearDups run at a fixed small-corpus LSH depth (16 bands x
 *    r=10) degenerates at 200k vectors exactly as its scaladoc predicts
 *    (background collisions ~C(n,2)·bands·2^-r ≈ 6e8 candidates, ~60 GB
 *    spill); with r ~ log2(n) and bands from the recall budget (29x18 at
 *    200k, ~99% recall at cos 0.95) candidates stay ~linear and the 100x
 *    run costs 4.7x. tools/ScaleProbe @0fcdae9 derives the per-scale params, exposed as
 *    Similarity.lshDepthFor — and the declarative `dedup method=embedding`
 *    component sizes omitted bands/rows_per_band from the corpus count
 *    through that rule (JobGraph.embeddingDepth), so the measured
 *    anti-pattern is no longer any path's default.
 */
object Dedup {

  /** Repartition an under-partitioned input up to the cluster's default
    * parallelism. The expensive per-row expression stages (shingling,
    * hashing, fingerprints) are narrow maps: a single small source file
    * (one scan partition) would serialize them onto one core. Shuffling a
    * small input is cheap; at production scale inputs already exceed the
    * parallelism and this is a no-op.
    *
    * The probe forces one physical-planning pass of the input at graph
    * build (no job runs). Measured (tools/WidenProbe @0fcdae9, local[8], sf0.01,
    * plans from a bare scan to a 30-step transform chain):
    * `queryExecution.toRdd.getNumPartitions` ~25 ms/invocation, flat in
    * plan depth — half of `df.rdd`'s ~45 ms (which adds a row-
    * deserializer conversion on top). Once per dedup entry point,
    * against operators that run seconds-to-minutes: negligible, and
    * toRdd is the cheaper spelling, so that is the one used. */
  private[graft] def widen(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.queryExecution.toRdd.getNumPartitions < target)
      df.repartition(target)
    else df
  }

  /** Normalized text key for exact dedup: lowercase, collapse
    * whitespace — the codegen'd CollapseWs kernel, one compiled
    * pass with NO regex (byte-equivalence with the regexp_replace form
    * below pinned in DedupSimilaritySpec). Every dedup path runs this
    * normalization corpus-wide; measured paired (tools/KeyProbe @0fcdae9,
    * local[32], 500k docs, md5(key) plans): kernel 0.41 s vs regex
    * 0.62 s vs 0.32 s no-collapse floor — the kernel reclaims ~70% of
    * what the regex engine was costing on top of the hash itself. */
  def exactKey(text: Column): Column =
    graft.functions.CollapseWs.normalize(text)

  /** The regex form exactKey replaced (semantic reference; also what
    * the DuckDB oracles replay as lower(trim(...))+regexp_replace). */
  private[graft] def exactKeyRegex(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /**
   * Exact dedup: keep one row per normalized key. The winner is the
   * lowest-id row by default; `keepBy` ((field, ±1) sort components,
   * id ascending as the final tiebreak) switches to a quality-aware
   * winner — "keep the highest-score / longest duplicate", the policy
   * real curation pipelines want when duplicates differ in metadata or
   * formatting (the normalized KEY ignores case/whitespace, so group
   * members are not byte-identical). One shuffle on the key hash
   * either way; survivors = count(groups).
   *
   * NULL placement is normalized to NULLS LAST in BOTH directions —
   * explicitly, because the engines disagree on the default (Spark:
   * asc=nulls-first/desc=nulls-last; DuckDB: nulls-last either way)
   * and keep_by is a determinism contract: a row whose keep_by field
   * is NULL loses to every row with evidence, under asc and desc
   * alike, on any replaying engine.
   */
  def exact(df: DataFrame, textCol: String, idCol: String,
            keepBy: Seq[(String, Int)] = Nil): DataFrame = {
    // withColumn silently OVERWRITES a same-named column and the final
    // drop would then delete user data — the guard the rest of the
    // temp-column family (AsofJoin, AggregateOp.windowed, stripHotLines,
    // the streaming dedups) already carries
    require(!df.columns.contains("__rn"),
      "dedup exact: column name __rn is reserved internally")
    val order = keepBy.map { case (f, dir) =>
      if (dir >= 0) col(f).asc_nulls_last else col(f).desc_nulls_last } :+ col(idCol).asc
    val w = Window.partitionBy(exactKey(col(textCol))).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /**
   * Incremental exact dedup: keep only the rows of `df` whose
   * normalized key does NOT appear in `reference` — the ingest-time
   * primitive ("drop documents we already have") that avoids
   * re-deduplicating the whole corpus per batch. One anti-join on the
   * key: both sides hash-shuffle on md5-sized keys (or the reference
   * broadcasts when small — Catalyst/AQE's call), no window, no state.
   * NULL text normalizes to a NULL key, which never equals — null-text
   * rows are always kept (they carry no key evidence; an exact() pass
   * downstream still groups them). Also the STREAMING shape: with a
   * static reference this is a stream-static left-anti join, stateless
   * (dedup_against in a streaming job, its `reference` port fed by a
   * source) — unlike in-stream dedup it needs no
   * watermark because the reference is closed.
   */
  def exactAgainst(df: DataFrame, reference: DataFrame, textCol: String,
                   refTextCol: String = ""): DataFrame = {
    val refKeys = againstRefKeys(df, reference, textCol, refTextCol)
    df.join(refKeys, exactKey(col(textCol)) === col("__ref_key"), "left_anti")
  }

  private def againstRefKeys(df: DataFrame, reference: DataFrame,
                             textCol: String, refTextCol: String): DataFrame = {
    val refCol = if (refTextCol.isEmpty) textCol else refTextCol
    require(reference.columns.contains(refCol),
      s"dedup_against: no column '$refCol' on the reference frame " +
        s"(columns: ${reference.columns.mkString(", ")})")
    require(!df.columns.contains("__ref_key"),
      "dedup_against: input already has a '__ref_key' column")
    reference
      .select(exactKey(col(refCol)).as("__ref_key"))
      .filter(col("__ref_key").isNotNull)
      .distinct()
  }

  /** Bloom FPR for [[exactAgainstBloom]]: a false positive only sends
    * one extra row to the exact join (never drops it), 1% is the
    * standard candidate-bloat tradeoff — flagBloom's reasoning. */
  val AgainstBloomFpp = 0.01

  /**
   * The bloom scale path of [[exactAgainst]] for a LARGE reference
   * corpus: build a compact bloom filter over the reference keys once,
   * probe it as a codegen'd narrow map on the new batch, and send ONLY
   * the might-contain candidates to the exact anti-join — bloom
   * negatives are PROVABLY absent (no false negatives), so they pass
   * without touching the exchange, and a false positive merely pays one
   * row's join (exactness preserved by construction; strategy
   * equivalence pinned in CurationOpsSpec). Null keys probe as new.
   *
   * Tradeoffs, stated honestly: the new batch is scanned twice (the
   * maybe/not-maybe branches — narrow, pruned scans) in exchange for
   * shuffling only candidates instead of everything, the right trade
   * when the reference is corpus-sized and duplicates are rare; and the
   * bloom build is an EAGER pair of actions over the reference keys at
   * plan-construction time (count sizes the filter, the build
   * aggregates it — OpCaches shares the one computation, flagBloom's
   * discipline). The default [[exactAgainst]] stays fully lazy.
   */
  def exactAgainstBloom(df: DataFrame, reference: DataFrame, textCol: String,
                        refTextCol: String = ""): DataFrame = {
    val refKeys = OpCaches.persist(
      againstRefKeys(df, reference, textCol, refTextCol))
    val m = refKeys.count()
    if (m == 0) return df
    val bloom = refKeys.stat.bloomFilter("__ref_key", m, AgainstBloomFpp)
    val key = exactKey(col(textCol))
    val maybe = key.isNotNull &&
      coalesce(graft.functions.CountInBloom.count(array(key), bloom),
        lit(0)) >= 1
    val cand = df.filter(maybe)
      .join(refKeys, exactKey(col(textCol)) === col("__ref_key"), "left_anti")
    df.filter(!maybe).unionByName(cand)
  }

  /**
   * Corpus-level duplicate-LINE removal — the RefinedWeb/CCNet
   * boilerplate-stripping step that neither whole-document dedup nor
   * within-document repetition signals cover: navigation chrome,
   * cookie banners, and licence footers repeat across *different*
   * documents, line for line, without any two documents being
   * near-duplicates. Census the corpus's non-blank lines, call a line
   * "hot" when it appears in more than `maxDocs` DISTINCT documents,
   * and rewrite every document with its hot lines removed.
   *
   * Contract (deterministic, oracle-replayable):
   *  - lines are `split(text, "\n")` verbatim — no trimming or case
   *    folding of the line itself (boilerplate repeats byte-exactly;
   *    a normalized census would merge genuinely distinct prose);
   *  - BLANK lines (empty after space-trim) are excluded from the
   *    census and always kept — paragraph structure survives;
   *  - a line repeated within one document counts that document once
   *    (the census is per-document, so self-repetition — dup_line_ratio
   *    territory — never promotes a line to "hot");
   *  - documents with no surviving lines drop (nothing left to train
   *    on), which also drops NULL-text rows (no line evidence).
   *
   * Scale shape: the hot set is the census AFTER the `> maxDocs` cut —
   * only true boilerplate survives it, so it is orders of magnitude
   * smaller than the line census itself and broadcasts
   * (`broadcastHot=true`, the default, pins a BroadcastHashJoin
   * LeftAnti — no exchange on the corpus's exploded lines). The
   * remaining wide work is one hash exchange of the kept lines to
   * regroup by document id, plus the join back to the untouched
   * carry-through columns on the same id (two child exchanges of one
   * sort-merge join — the text column itself crosses the wire once,
   * exploded). Set `broadcastHot=false` when maxDocs is low enough and
   * the corpus dirty enough that the hot set outgrows the driver.
   *
   * Measured (tools/CurationProbe @0fcdae9, local[32], 4-line docs with a
   * fixed 51-line hot set): 5k docs 1.51 s → 50k 2.13 s → 500k 5.83 s
   * — 3.9x time for 100x rows; [[lineDedupSet]] measures 0.78/1.47/
   * 4.91 s on the same corpus, ahead at every factor.
   *
   * PRECONDITION: `idCol` must be unique per document. The rewrite
   * regroups exploded lines BY id and joins the rebuilt text back ON
   * id — duplicate ids would merge two documents' kept lines into one
   * rebuilt text and attach it to every duplicate row, silently. The
   * engine does not pay a census to detect this (an exact/fingerprint
   * dedup or group_cap upstream is the fix if ids can collide);
   * [[lineDedupSet]] rewrites per row and tolerates duplicate ids,
   * which is another reason it is the scale path.
   *
   * `reference` = (frame, text column) runs the census on another
   * corpus (keyed by the same `idCol`) and strips its hot lines from
   * `df`; None censuses `df` itself.
   */
  def lineDedup(df: DataFrame, textCol: String, idCol: String,
                maxDocs: Int = 1, broadcastHot: Boolean = true,
                unit: String = "line",
                reference: Option[(DataFrame, String)] = None): DataFrame = {
    val delim = unitDelim(unit)
    val lines = explodedLines(df, textCol, idCol, delim)
    val hotCensus = reference match {
      case Some((ref, refText)) =>
        hotLines(explodedLines(ref, refText, idCol, delim), idCol, maxDocs)
      case None => hotLines(lines, idCol, maxDocs)
    }
    val hot = if (broadcastHot) broadcast(hotCensus) else hotCensus
    val kept = lines.join(hot, Seq("__line"), "left_anti")
    val rebuilt = kept
      .groupBy(col(idCol))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("__pos"), col("__line")))),
        x => x.getField("__line")), delim).as("__line_text"))
    df.drop(textCol)
      .join(rebuilt, Seq(idCol))
      .withColumnRenamed("__line_text", textCol)
      .select(df.columns.map(col): _*)
  }

  /** Dedup unit → its split/rejoin delimiter: unit=line is the
    * RefinedWeb/CCNet shape; unit=paragraph (blank-line-separated
    * blocks, the C4-style span) catches boilerplate whose internal
    * line breaks vary only at the block level. Splitting is on the
    * LITERAL delimiter (Pattern.quote — split's regex surface never
    * leaks into the contract). */
  private def unitDelim(unit: String): String = unit match {
    case "line" => "\n"
    case "paragraph" => "\n\n"
    case other => throw new IllegalArgumentException(
      s"line_dedup: unit must be line|paragraph, got '$other'")
  }

  /** (id, pos, unit) exploded view of the documents, with the temp-name
    * collision guard both line_dedup strategies share. */
  private def explodedLines(df: DataFrame, textCol: String,
                            idCol: String, delim: String): DataFrame = {
    Seq("__pos", "__line", "__docs", "__line_text", "__kept").foreach { c =>
      require(!df.columns.contains(c), s"line_dedup: input already has a '$c' column")
    }
    df.select(col(idCol),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(delim)))
        .as(Seq("__pos", "__line")))
  }

  /** The post-cut hot census: non-blank lines in more than maxDocs
    * DISTINCT documents — one column `__line`. */
  private def hotLines(lines: DataFrame, idCol: String,
                       maxDocs: Int): DataFrame =
    hotLineCensus(lines, idCol, maxDocs).select(col("__line"))

  private def hotLineCensus(lines: DataFrame, idCol: String,
                            maxDocs: Int): DataFrame = {
    require(maxDocs >= 1, s"line_dedup: max_docs must be >= 1, got $maxDocs")
    lines
      .filter(trim(col("__line")) =!= "")
      .select(col(idCol), col("__line")).distinct()
      .groupBy(col("__line"))
      .agg(count(lit(1)).as("__docs"))
      .filter(col("__docs") > maxDocs)
  }

  /** The audit face of [[lineDedup]]: the hot lines themselves with
    * their distinct-document counts — what WOULD be stripped, for
    * eyeballing a threshold before running the rewrite (decontaminate's
    * flagged/pairs discipline). Same census, no rewrite: one explode +
    * one aggregate, output bounded by the post-cut hot set. */
  def hotLineReport(df: DataFrame, textCol: String, idCol: String,
                    maxDocs: Int = 1, unit: String = "line"): DataFrame =
    hotLineCensus(explodedLines(df, textCol, idCol, unitDelim(unit)),
      idCol, maxDocs)
      .select(col("__line").as("line"), col("__docs").as("n_docs"))

  /** Cap for [[lineDedupSet]]'s hot-line collect: past this the
    * boilerplate set no longer belongs on the driver — use the join
    * strategy (or raise max_docs; a census this hot usually means the
    * threshold is below the corpus's natural repetition floor). */
  val MaxHotLines = 1000000

  /**
   * The strategy=set scale path of [[lineDedup]]: identical hot census
   * and identical survivors (equivalence pinned in CurationOpsSpec),
   * but the REWRITE side collapses to one compiled narrow projection —
   * collect the post-cut hot set once (bounded by [[MaxHotLines]],
   * loud overflow like decontaminate's broadcast gram set), then
   * `remove_in_set(split(text)) → array_join` per row. No second
   * explode, no regroup exchange, no join-back: after the census, the
   * 100 TB corpus is touched by exactly one codegen'd map — the right
   * shape when boilerplate is concentrated (it always is; that is what
   * makes it boilerplate). Eager like the bloom paths: the census runs
   * at plan-construction time. The default [[lineDedup]] stays lazy.
   * `reference` as in [[lineDedup]]: with a static reference and a
   * streaming `df` this is line_dedup's streaming face.
   */
  def lineDedupSet(df: DataFrame, textCol: String, idCol: String,
                   maxDocs: Int = 1,
                   maxHotLines: Int = MaxHotLines,
                   unit: String = "line",
                   reference: Option[(DataFrame, String)] = None): DataFrame = {
    val (census, censusText) = reference.getOrElse(df -> textCol)
    stripHotLines(df, textCol,
      hotLineSet(census, censusText, idCol, maxDocs, maxHotLines, unit), unit)
  }

  /** The bounded-collected hot-line set of a (static) corpus —
    * [[lineDedupSet]]'s census half. In a streaming job line_dedup's
    * census comes from its static `reference` port through here (a
    * census over an unbounded stream never finalizes, so the hot set
    * must come from a closed corpus). */
  def hotLineSet(corpus: DataFrame, textCol: String, idCol: String,
                 maxDocs: Int = 1,
                 maxHotLines: Int = MaxHotLines,
                 unit: String = "line"): Seq[String] = {
    val census = hotLines(
      explodedLines(corpus, textCol, idCol, unitDelim(unit)), idCol, maxDocs)
    val rows = census.limit(maxHotLines + 1).collect()
    require(rows.length <= maxHotLines,
      s"line_dedup: hot-line set exceeds $maxHotLines lines — use " +
        "strategy=join (or raise max_docs) for a corpus this repetitive")
    rows.map(_.getString(0)).toSeq
  }

  /** [[lineDedupSet]]'s rewrite half: strip the given hot lines as one
    * codegen'd narrow projection (streamable — no explode, no shuffle,
    * no state). Documents with nothing left — including NULL text —
    * drop, matching the join strategy. */
  def stripHotLines(df: DataFrame, textCol: String,
                    hot: Seq[String], unit: String = "line"): DataFrame = {
    val delim = unitDelim(unit)
    if (hot.isEmpty) return df.filter(col(textCol).isNotNull)
    require(!df.columns.contains("__kept"),
      "line_dedup: input already has a '__kept' column")
    val kept = graft.functions.RemoveInSet.remove(
      split(col(textCol), java.util.regex.Pattern.quote(delim)), hot)
    df.withColumn("__kept", kept)
      .filter(col("__kept").isNotNull && size(col("__kept")) > 0)
      .withColumn(textCol, array_join(col("__kept"), delim))
      .drop("__kept")
  }

  /** Character shingles (n-grams) of the normalized text, distinct —
    * the codegen'd CharShingles expression (one compiled pass vs an
    * interpreted substr per character position; WordShinglesSpec pins
    * equality with shinglesHof over the real fixture incl. CJK). */
  def shingles(text: Column, n: Int = 5): Column =
    graft.functions.CharShingles.shingles(exactKey(text), n)

  /** The interpreted HOF form shingles replaced (semantic reference). */
  private[graft] def shinglesHof(text: Column, n: Int = 5): Column = {
    val norm = exactKey(text)
    val idxs = sequence(lit(1), greatest(length(norm) - (n - 1), lit(1)))
    array_distinct(transform(idxs, i => norm.substr(i, lit(n))))
  }

  /** Word shingles (token n-grams), distinct — the codegen'd
    * WordShingles expression, one compiled pass per row. Keeps exactly
    * max(|toks|-n+1, 1) positions like the reference (short texts
    * collapse to one whole-text shingle); WordShinglesSpec pins equality
    * with wordShinglesHof over the real fixture. */
  def wordShingles(text: Column, n: Int = 3): Column =
    graft.functions.WordShingles.shingles(split(exactKey(text), " "), n)

  /** The interpreted HOF form wordShingles replaced: n-1 zip_with passes
    * over shifted token arrays. Kept as the semantic reference for
    * WordShinglesSpec's bit-parity pin. */
  private[graft] def wordShinglesHof(text: Column, n: Int = 3): Column = {
    val toks = split(exactKey(text), " ")
    val grown = (1 until n).foldLeft(toks) { (acc, k) =>
      zip_with(acc, slice(toks, lit(k + 1), greatest(size(toks) - k, lit(0))),
        (a, b) => concat_ws(" ", a, b))
    }
    array_distinct(slice(grown, lit(1), greatest(size(toks) - (n - 1), lit(1))))
  }

  /**
   * k MinHash signatures in ONE pass over the shingle array: fold with a
   * k-wide array accumulator, taking the element-wise min of the k seeded
   * hashes of each shingle. (The naive form — k independent
   * array_min(transform(...)) — walks the array k times and allocates k
   * intermediate arrays.) NOTE: higher-order functions are interpreted
   * (CodegenFallback); for corpus-scale signature tables prefer
   * minhashSignatures, the codegen'd relational form of the same math.
   */
  def minhashSignature(shingleArr: Column, k: Int = 32): Column =
    aggregate(
      shingleArr,
      array_repeat(lit(Long.MaxValue), k),
      (acc, s) => zip_with(acc,
        array((0 until k).map(i => xxhash64(s, lit(i))): _*),
        (m, h) => least(m, h)))

  /**
   * (id, sig) MinHash signature table computed relationally: explode the
   * word shingles to (id, shingle) rows, then groupBy(id) with k plain
   * `min(xxhash64(shingle, seed_i))` aggregates and re-assemble the k-wide
   * array. Identical math to minhashSignature (element-wise min over the
   * k seeded hashes of each shingle) but every operator stays inside
   * whole-stage codegen: the k hashes are evaluated map-side by the
   * partial min aggregates, so the shuffle carries ~k longs per (id ×
   * partition) after map-side combine — shingle strings never cross the
   * wire. The HOF fold, by contrast, is interpreted (~100 ns/node) and
   * dominated the round-2 bench at 35%.
   *
   * PRECONDITIONS (edge cases differ from per-row minhashSignature):
   * `idCol` must be unique — groupBy(id) would merge rows sharing an id
   * into one signature — and documents with null text are DROPPED from
   * the output (explode emits no rows) rather than carrying a null
   * signature. On unique-id, non-null-text data the two forms compute
   * identical signatures; degenerate docs simply don't participate in LSH.
   */
  def minhashSignatures(df: DataFrame, textCol: String, idCol: String,
                        shingleN: Int = 3, k: Int = 32): DataFrame = {
    val exploded = df.select(col(idCol).as("id"),
      explode(wordShingles(col(textCol), shingleN)).as("s"))
    val aggs = (0 until k).map(i => min(xxhash64(col("s"), lit(i))).as(s"h_$i"))
    exploded.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
      .select(col("id"), array((0 until k).map(i => col(s"h_$i")): _*).as("sig"))
  }

  /**
   * LSH banding: split the k-wide signature into `bands` bands of width
   * k/bands, hash each band. Emits (band_id, band_hash) pairs — the LSH
   * bucket keys. Probability two docs share ≥1 bucket ≈ 1-(1-j^r)^b.
   */
  def lshBucketKeys(signature: Column, k: Int, bands: Int): Column = {
    val r = k / bands
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(concat_ws(",", slice(signature, b * r + 1, r)), lit(b)).as("bucket"))
    }: _*)
  }

  /** Fraction of agreeing positions between two k-wide minhash signatures —
    * an unbiased Jaccard estimate costing O(k), used to prefilter candidate
    * pairs before the O(|shingles|) exact verification. */
  def signatureAgreement(a: Column, b: Column, k: Int): Column =
    aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v).cast("double") / k

  /** Exact Jaccard similarity between two shingle arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni === 0, lit(0.0)).otherwise(inter / uni)
  }

  /**
   * MinHash-LSH near-dup candidate pairs with exact character-shingle
   * Jaccard verification. Returns (id_a, id_b, jaccard) with id_a < id_b.
   *
   * Scale shape, in order:
   *  1. Bucketing runs on WORD-trigram minhash signatures. Character
   *     shingles of same-language text share ~0.2 background Jaccard
   *     (common words), which floods banded LSH with false candidates;
   *     word trigrams of unrelated documents share ≈0, so buckets stay
   *     tight while near-dup recall at word-J ≥ 0.4 with bands=16/r=2 is
   *     ≥ 1-(1-0.16)^16 ≈ 0.94 and ≥ 0.9999 at word-J ≥ 0.6.
   *  2. The banded self-join carries ONLY (band, bucket, id); candidate
   *     pairs are deduplicated across bands before anything heavier runs.
   *  3. Character shingle arrays are built ONCE PER INVOLVED DOCUMENT
   *     (left-semi join of texts against the candidate id set), then the
   *     pair join carries those arrays and computes one exact Jaccard per
   *     pair — per-doc work stays O(docs), per-pair work is only the
   *     intersect/union.
   *
   * An earlier revision prefiltered candidates on signature agreement
   * before verification. With the only principled cutoff — r/k, the
   * agreement every true band collision already implies — the filter
   * passes essentially every candidate (a banded pair below r/k requires
   * a 64-bit bucket-hash accident), so it was two array-carrying joins of
   * pure overhead; a cutoff above r/k (0.1, as reviewed) could drop true
   * candidates and made oracle equality fixture-dependent. Measured at
   * sf0.1: 2276 banded candidates, 378 past the 0.1 prefilter — and the
   * whole verification stage is cheaper than the prefilter's joins once
   * shingling is per-doc.
   */
  def minhashNearDups(df: DataFrame, textCol: String, idCol: String,
                      shingleN: Int = 5, k: Int = 32, bands: Int = 16,
                      threshold: Double = 0.6): DataFrame = {
    require(k % bands == 0, s"bands=$bands must divide k=$k")
    // The signature table feeds ONLY the bucketing explode now (the old
    // agreement prefilter was its other consumer), so it stays lazy —
    // one pass, no persist. The bucket table is what the self-join
    // consumes twice, and Spark reuses the shuffle files of its one
    // Exchange for both sides.
    val wide = widen(df)
    val sigs = minhashSignatures(wide, textCol, idCol, 3, k)
    val buckets = sigs
      .select(col("id"), explode(lshBucketKeys(col("sig"), k, bands)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.bucket").as("bucket"))

    // ids-only candidate generation, deduplicated across bands; consumed
    // twice below (involved-id set + pair spine)
    val cand = OpCaches.persist(
      buckets.select(col("band"), col("bucket"), col("id").as("id_a"))
        .join(buckets.select(col("band"), col("bucket"), col("id").as("id_b")),
          Seq("band", "bucket"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"))
        .distinct())

    // exact verification: shingle each INVOLVED doc once, then one
    // Jaccard per pair over the joined arrays. No distinct on the
    // involved-id union: a left_semi build side ignores duplicate rows,
    // so the distinct was one whole Exchange+HashAggregate stage of pure
    // overhead (r22, guide §2.4 — measured 1.27x on dedup_minhash
    // together with the losers-distinct drop below, identical survivors)
    val involved = cand.select(col("id_a").as("id"))
      .union(cand.select(col("id_b").as("id")))
    val shingled = OpCaches.persist( // consumed by both pair join-backs
      wide.select(col(idCol).as("id"), col(textCol).as("t"))
        .join(involved, Seq("id"), "left_semi")
        .select(col("id"), shingles(col("t"), shingleN).as("sh")))
    cand
      .join(shingled.select(col("id").as("id_a"), col("sh").as("sha")), Seq("id_a"))
      .join(shingled.select(col("id").as("id_b"), col("sh").as("shb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        jaccard(col("sha"), col("shb")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Survivors after MinHash near-dup removal: drop the higher id of each
    * pair. The loser set is NOT distinct'd: a left_anti build side ignores
    * duplicate rows, and the pair table is small relative to its corpus by
    * LSH construction, so the dedup bought nothing but an extra
    * Exchange+HashAggregate stage (r22, guide §2.4). */
  def minhashDedup(df: DataFrame, textCol: String, idCol: String,
                   shingleN: Int = 5, k: Int = 32, bands: Int = 16,
                   threshold: Double = 0.6): DataFrame = {
    val losers = minhashNearDups(df, textCol, idCol, shingleN, k, bands, threshold)
      .select(col("id_b").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Survivors after n-gram-Jaccard near-dup removal: drop the higher id
    * of each pair (same survivor rule as minhashDedup, same
    * no-distinct-on-the-anti-build reasoning). */
  def ngramDedup(df: DataFrame, textCol: String, idCol: String,
                 n: Int = 3, threshold: Double = 0.5,
                 maxDf: Int = 10000): DataFrame = {
    val losers = ngramJaccardPairs(df, textCol, idCol, n, threshold, maxDf)
      .select(col("id_b").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  private val POW15: Column = array((0 until 15).map(j => lit(1L << j)): _*)
  private val POW60: Column = array((0 until 60).map(b => lit(1L << b)): _*)

  /** 60-bit token hash from an md5 prefix (15 hex digits), reproducible in
    * any SQL engine: conv(substr(md5(token),1,15),16,10). */
  def tokenHash60(t: Column): Column =
    conv(substring(md5(t.cast("binary")), 1, 15), 16, 10).cast("long")

  /**
   * SimHash fingerprint as 4×15-bit blocks, via the codegen'd
   * SimHashBlocks60 expression — one compiled pass per row instead of
   * the interpreted 60-wide zip_with per TOKEN of the HOF form
   * (simhashBlocksHof, kept as the semantic reference;
   * SimHashBlocks60Spec pins the two identical over the real documents
   * fixture including null/empty/CJK texts).
   */
  def simhashBlocks(text: Column): Column =
    graft.functions.SimHashBlocks60.blocks(array_distinct(split(exactKey(text), " ")))

  /** The interpreted HOF form simhashBlocks replaced: per-bit ±1 votes
    * accumulate in one aggregate pass with a 60-wide array state (itself
    * the measured-fastest HOF formulation — the naive form ran 60+
    * passes over the token array). */
  private[graft] def simhashBlocksHof(text: Column): Column = {
    val toks = array_distinct(split(exactKey(text), " "))
    val hashes = transform(toks, t => tokenHash60(t))
    val votes = aggregate(hashes, array_repeat(lit(0L), 60),
      (acc, h) => zip_with(acc, POW60,
        (a, p) => a + when(h.bitwiseAND(p) =!= 0, 1L).otherwise(-1L)))
    transform(sequence(lit(0), lit(3)), i =>
      aggregate(
        zip_with(slice(votes, i * lit(15) + 1, lit(15)), POW15,
          (v, p) => when(v > 0, p).otherwise(lit(0L))),
        lit(0L), (a, x) => a + x))
  }

  /** Hamming distance between two 4×15-bit block fingerprints. */
  def hammingBlocks(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), (acc, v) => acc + v)

  /**
   * SimHash near-dup pairs: block on the 4 fingerprint chunks (any pair
   * with hamming ≤ 3 shares ≥1 chunk — pigeonhole, so this is EXACTLY the
   * all-pairs result), fingerprint-carrying join (48 B/row), hamming
   * verified per candidate in the join projection, pairs deduplicated
   * across blocks after the cut. For dedup (survivor) semantics prefer
   * simhashDedup, which collapses identical-fingerprint clusters before
   * the quadratic stage — a corpus with heavy exact duplication would
   * otherwise enumerate every within-cluster pair here.
   */
  def simhashNearDups(df: DataFrame, textCol: String, idCol: String,
                      maxHamming: Int = 3): DataFrame = {
    // r22: the 4-long fingerprint RIDES the block self-join (48 B × 4
    // posting rows per doc — a payload small enough that guide §2.3's
    // "shuffle metadata, not payloads" favors carrying it), so hamming
    // verifies each candidate IN the join projection — no join-backs —
    // and the cross-block pair dedup runs AFTER the hamming cut, on true
    // near-dup pairs only (hamming is pair-determined, so distinct over
    // (id_a, id_b, hamming) is exactly distinct pairs).
    val withFp = OpCaches.persist( // both self-join sides; expr is interpreted
      widen(df).select(col(idCol).as("id"), simhashBlocks(col(textCol)).as("blk")))
    val e = withFp.select(col("id"), col("blk"), posexplode(col("blk")).as(Seq("pos", "v")))
    e.select(col("pos"), col("v"), col("id").as("id_a"), col("blk").as("blk_a"))
      .join(e.select(col("pos"), col("v"), col("id").as("id_b"), col("blk").as("blk_b")),
        Seq("pos", "v"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        hammingBlocks(col("blk_a"), col("blk_b")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /**
   * SimHash dedup, survivor set: drops every document for which a
   * lower-id document within `maxHamming` exists. Exactly equivalent to
   * anti-joining simhashNearDups' id_b set, but scales differently:
   * identical-fingerprint clusters (ubiquitous in scraped corpora) are
   * collapsed to their min-id representative BEFORE the pairwise stage —
   * cluster members never enumerate their O(m²) internal pairs, and the
   * quadratic block-join runs on distinct fingerprints only.
   *
   * Equivalence argument: a non-representative d (rep r < d, same
   * fingerprint) is always dominated by r (hamming 0). A representative r
   * dominated by any d' < r is also dominated by d''s representative r'
   * (hamming(r, r') = hamming(r, d') ≤ max, r' ≤ d' < r), so reps-vs-reps
   * candidate generation loses nothing.
   */
  def simhashDedup(df: DataFrame, textCol: String, idCol: String,
                   maxHamming: Int = 3): DataFrame = {
    // withFp is consumed ONCE here (unlike simhashNearDups' 2 uses), so it
    // is not persisted: the fingerprint projection fuses into the reps
    // groupBy's map side instead of paying a cache materialization barrier
    // (r22). The 4-long fingerprint rides the block self-join and hamming
    // verifies each candidate in place — no cross-block pair dedup (a
    // duplicate collision re-verifies a 4-long hamming, cheaper than the
    // distinct exchange) and no rep join-backs (two whole join stages).
    // Interleaved arms at sf0.1 (tools/R22Probe @0fcdae9): 1.55 → 1.26 s, Spark
    // jobs 17 → 12, identical survivors.
    val withFp =
      widen(df).select(col(idCol).as("id"), simhashBlocks(col(textCol)).as("blk"))
    val reps = OpCaches.persist(withFp.groupBy(col("blk")).agg(min(col("id")).as("id")))
    val e = reps.select(col("id"), col("blk"), posexplode(col("blk")).as(Seq("pos", "v")))
    val repLosers = e
      .select(col("pos"), col("v"), col("id").as("id_a"), col("blk").as("blk_a"))
      .join(e.select(col("pos"), col("v"), col("id").as("id_b"), col("blk").as("blk_b")),
        Seq("pos", "v"))
      .filter(col("id_a") < col("id_b"))
      .filter(hammingBlocks(col("blk_a"), col("blk_b")) <= maxHamming)
      .select(col("id_b").as("id")) // duplicates fine: left_anti build
    val survivorIds = reps.select(col("id")).join(repLosers, Seq("id"), "left_anti")
    df.join(survivorIds.withColumnRenamed("id", idCol), Seq(idCol), "left_semi")
  }

  /**
   * Exact n-gram Jaccard for all pairs above a threshold via an inverted-
   * index join: |A∩B| is a count aggregate over the posting join,
   * |A∪B| = |A|+|B|-|A∩B| from per-doc shingle counts CARRIED THROUGH
   * the posting rows (r22): each posting row is (g, id, n) — one extra
   * long through the existing exchanges — and the pair aggregate keeps
   * first(na)/first(nb), so the two join-backs against a separate size
   * table (two whole join stages, at scale two exchanges of the full
   * pair set plus the size table) are gone. Guide §2.3's
   * "shuffle metadata, not payloads" weighed the other way: here the
   * metadata IS 8 bytes and the joins were the heavy part. Measured
   * (tools/R22Probe @0fcdae9 interleaved arms, sf0.1): 1.73 → 1.39 s, Spark jobs
   * 17 → 12, identical 256 output pairs.
   * `maxDf` drops postings whose document frequency exceeds the cap —
   * a stop-phrase shingle shared by df docs would otherwise contribute an
   * O(df²) bucket; at the default the cap is inert on test fixtures and
   * bounds the worst bucket at production scale (any oracle replaying this
   * must apply the same cap).
   */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                        n: Int = 3, threshold: Double = 0.5,
                        maxDf: Int = 10000): DataFrame = {
    val sh = OpCaches.persist( // consumed 3× (df-cap census + both posting join sides)
      widen(df).select(col(idCol).as("id"), wordShingles(col(textCol), n).as("sh")))
    val posting = sh.select(col("id"), size(col("sh")).as("n"), explode(col("sh")).as("g"))
    val keptShingles = posting.groupBy(col("g"))
      .agg(count(lit(1)).as("df")).filter(col("df") <= maxDf).select(col("g"))
    val capped = posting.join(keptShingles, Seq("g"))
    capped.select(col("g"), col("id").as("id_a"), col("n").as("na"))
      .join(capped.select(col("g"), col("id").as("id_b"), col("n").as("nb")), Seq("g"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      // na/nb are constant within an (id_a, id_b) group — first() is
      // deterministic here and stays map-side combinable
      .agg(count(lit(1)).as("inter"), first(col("na")).as("na"), first(col("nb")).as("nb"))
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  // --------------------------------------------------------- pair → cluster

  /**
   * Connected components over a near-dup PAIR table: labels every vertex
   * with the minimum id reachable from it, turning pairwise edges into
   * transitive clusters. This completes the pairwise survivor rule the
   * *Dedup methods use: `drop id_b of each pair` over-keeps on chains —
   * component {1, 3, 5} with edges (1,5), (3,5) drops only 5, so 3
   * survives although it is transitively a duplicate of 1. Keep-one-per-
   * component is dedup under the transitive closure.
   *
   * Algorithm — iterative min-label propagation with pointer jumping;
   * each round:
   *   (1) neighbor min:  comp(v) ← min(comp(v), min over neighbors u of comp(u))
   *   (2) pointer jump:  comp(v) ← comp(comp(v))
   * The jump halves the label-forest depth each round, so rounds are
   * O(log d) in the component diameter d where pure propagation needs
   * O(d) (the doubling idea behind large-star/small-star in Kiveris et
   * al., "Connected Components in MapReduce and Beyond", MapReduce'14).
   * A round is three shuffles (neighbor-min groupBy, its join back, the
   * jump self-join) over ids-only rows — edges and labels never carry
   * payload columns, so shuffle volume is O(E + V) longs per round.
   *
   * Iteration hygiene at 100 TB: every round ends in an eager
   * checkpoint, truncating the logical plan — without it lineage
   * grows per round until planning dominates, and a task retry would
   * replay the whole loop. The default is `localCheckpoint` (executor
   * blocks — cheap, NOT resilient to executor loss); pass
   * `checkpointDir` to swap in reliable `checkpoint` for runs that
   * must survive preemption (spot/preemptible executors): each round's
   * labels persist to the shared filesystem, a lost executor recovers
   * from files instead of replaying the loop, and superseded rounds'
   * checkpoint files are deleted as the loop advances (only the live
   * round's files ever accumulate). Convergence needs an action per
   * round (data-dependent loop); the changed-label count doubles as
   * the convergence proof.
   *
   * Near-dup clusters are near-cliques (diameter 2-3), so the loop
   * typically converges in 2-3 rounds; `maxIter` guards adversarial
   * chains, and exceeding it raises rather than returning a half-merged
   * labeling. Null and self-loop edges are dropped; vertices that appear
   * in no pair are not in the output (their component is trivially
   * themselves — `clusterDedup` keeps such rows untouched).
   *
   * Measured scaling (tools/ScaleProbe @0fcdae9 `connectedComponents`
   * stage, length-512 chains — ~10 pointer-jump rounds, the hard
   * multi-round case — local[32] / 96g driver, per-round split via that
   * commit's per-round loop hook; r19 numbers, join-form check):
   *
   *  | vertices | rounds | total    | step (label+ckpt) | check action |
   *  |----------|--------|----------|-------------------|--------------|
   *  | 1M       | 10     | 30.9 s   | 21.1 s            | 6.2 s (23%)  |
   *  | 10M      | 10     | 222 s    | 173 s             | 44 s (20%)   |
   *  | 30M      | 10     | 690 s    | 494 s             | 138 s (22%)  |
   *
   * 10x vertices costs 7.2x time, 30x costs ~17x — sublinear, and round
   * count stays O(log diameter) as designed.
   *
   * The ~20-22% changed-count share above motivated the r20 FUSED check
   * (tools/CcCheckProbe @0fcdae9, same chain fixture, interleaved join/fused/
   * fused/join after a discarded warmup loop so drift cancels):
   *
   *  | variant          | total (2-run avg) | step        | check      |
   *  |------------------|-------------------|-------------|------------|
   *  | join-form check  | 30.3 s            | 21.6 s      | 6.6 s (24%)|
   *  | fused check      | 25.6 s (1.18x)    | 22.8 s      | 1.0 s (4%) |
   *
   * Fused carries the round-entry label through the jump as `prev` and
   * counts changed rows from the just-checkpointed blocks — no V-row
   * join against the previous round. The extra long per row costs ~1 s
   * of step and buys back ~5.6 s of check, so fused is the only form
   * (the join-form arm is in Dedup.scala @0fcdae9).
   *
   * r21 experiment — MULTIPLE POINTER JUMPS PER ROUND (fewer rounds per
   * convergence at one extra V-row self-join per extra jump): NULL
   * RESULT. tools/CcJumpProbe @0fcdae9, same 1M-vertex 512-chain fixture,
   * interleaved 1/2/2/1 + 3/3 after a discarded warmup:
   *
   *  | jumps/round | rounds | total (2-run mean) |
   *  |-------------|--------|--------------------|
   *  | 1           | 10     | 22.0 s             |
   *  | 2           | 6      | 27.1 s (0.81x)     |
   *  | 3           | 4      | 36.1 s (0.61x)     |
   *
   * The chained self-joins run INSIDE one round's un-truncated plan, so
   * each extra jump pays two more V-row exchanges per round and the
   * per-round step cost grows faster than the round count falls.
   * The loop jumps once per round (the multi-jump knob is in
   * Dedup.scala @0fcdae9). The residual ~4% check share also
   * re-fixes the `checkEvery` default at 1 more firmly than before:
   * skipping checks can now save at most ~4% of wall but still pays up
   * to k-1 extra full rounds after actual convergence. The knob stays
   * exposed (`check_every` in the declarative component) for
   * adversarially deep graphs where rounds >> k makes skipping pay.
   *
   * Output: (id, component), one row per distinct endpoint.
   */
  def connectedComponents(pairs: DataFrame, srcCol: String = "id_a",
                          dstCol: String = "id_b",
                          maxIter: Int = 25,
                          checkEvery: Int = 1,
                          checkpointDir: String = "",
                          maxLocalEdges: Long = LocalCcMaxEdges): DataFrame = {
    // Hybrid by MEASURED input size (r21, guide §2.4 "remove shuffles
    // outright"): a pair table under `maxLocalEdges` rows runs driver-side
    // union-find — the same algorithm-selection-by-size rule Spark applies
    // to broadcast vs shuffle joins. Near-dup pair tables are tiny relative
    // to their corpus (LSH banding exists to make them so), yet the
    // distributed loop's cost is rounds × (3 shuffles + checkpoint + count
    // action) of pure fixed overhead at that size — measured 2.9 s for a
    // 5.4k-edge graph at bench scale vs ~0.1 s local (r21 bench,
    // q_cc_components 2.89 s → see OPTIMIZATION_r21.md). The bound is
    // rows COLLECTED (~72 MB of boxed rows at the 1M default — the
    // MaxHotLines/Decontaminate collect-budget class); above it, or for
    // non-integral id types (driver min-ordering must match Spark's — only
    // pinned for integrals), the distributed loop runs exactly as before.
    // Labels are identical by construction (min id per component, pinned
    // path-vs-path in ConnectedComponentsSpec); pass maxLocalEdges = 0 to
    // force the loop (the loop-hygiene specs do).
    val sel = pairs.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val integralSame = sel.schema(0).dataType == sel.schema(1).dataType &&
      (sel.schema(0).dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      })
    if (!integralSame || maxLocalEdges <= 0)
      ccLoop(pairs, srcCol, dstCol, maxIter, checkEvery, checkpointDir)
    else {
      // persist the 2-column projection once: the gate count consumes it,
      // and on the distributed path the loop's edge build references it
      // TWICE (dir ∪ dir.swapped) — previously that recomputed the whole
      // pairs lineage (an LSH pipeline, typically) twice at edge
      // materialization.
      //
      // COST TRADE above the gate (r22 note — do not "fix" this persist
      // away): an above-gate pair table pays one persist+count pass the
      // pre-r21 loop did not, and is repaid by the removed double-compute
      // of the dir ∪ swapped union (one pair-lineage evaluation instead
      // of two — the lineage is usually a multi-join LSH pipeline, far
      // more expensive than one cached pass over its OUTPUT). Removing
      // the persist to save the count would reintroduce the double
      // lineage compute; gating on plan-statistics instead of a count
      // would save the pass only when stats exist and are trustworthy
      // (post-shuffle sizeInBytes estimates at 100 TB routinely are not).
      val dirF = sel.persist()
      try {
        if (dirF.count() <= maxLocalEdges) localCc(dirF)
        else ccLoop(dirF, "src", "dst", maxIter, checkEvery, checkpointDir)
      } finally dirF.unpersist(false)
    }
  }

  /** Pair-row bound for the driver-side union-find path: 1M collected
    * rows ≈ 72 MB transient boxed rows + a ≤2M-entry LongMap — the same
    * driver-collect budget class as [[MaxHotLines]]. */
  val LocalCcMaxEdges: Long = 1000000L

  /** Driver-side connected components over a (src, dst) pair frame whose
    * id columns are one integral type — union-find with min-id roots
    * (link the larger root under the smaller, path-halving finds), so the
    * root IS the component minimum and the labeling matches the
    * distributed loop's exactly: null endpoints and self-loop-only
    * vertices drop, every other endpoint labels with the min id reachable
    * from it. */
  private def localCc(dirF: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    val spark = dirF.sparkSession
    val dt = dirF.schema(0).dataType
    val rows = dirF.select(col("src").cast("long"), col("dst").cast("long")).collect()
    val parent = new scala.collection.mutable.LongMap[Long](math.max(16, rows.length * 2))
    def find(x0: Long): Long = {
      var x = x0
      var p = parent(x)
      while (p != x) { // path halving
        val g = parent(p)
        parent(x) = g
        x = g
        p = parent(x)
      }
      x
    }
    rows.foreach { r =>
      if (!r.isNullAt(0) && !r.isNullAt(1)) {
        val a = r.getLong(0)
        val b = r.getLong(1)
        if (a != b) {
          if (!parent.contains(a)) parent(a) = a
          if (!parent.contains(b)) parent(b) = b
          val ra = find(a)
          val rb = find(b)
          if (ra < rb) parent(rb) = ra
          else if (rb < ra) parent(ra) = rb
        }
      }
    }
    val back: Long => Any = dt match {
      case LongType    => (v: Long) => java.lang.Long.valueOf(v)
      case IntegerType => (v: Long) => java.lang.Integer.valueOf(v.toInt)
      case ShortType   => (v: Long) => java.lang.Short.valueOf(v.toShort)
      case ByteType    => (v: Long) => java.lang.Byte.valueOf(v.toByte)
      case other => throw new IllegalStateException(s"localCc: unreachable type $other")
    }
    // snapshot keys before labeling: find() path-halves (mutates parent)
    val ids = parent.keysIterator.toArray
    val out = new java.util.ArrayList[Row](ids.length)
    ids.foreach(id => out.add(Row(back(id), back(find(id)))))
    val nullable = dirF.schema(0).nullable || dirF.schema(1).nullable
    val schema = StructType(Seq(
      StructField("id", dt, nullable), StructField("component", dt, nullable)))
    spark.createDataFrame(out, schema)
  }

  /** The distributed connectedComponents loop: label propagation with
    * one pointer jump and a fused convergence check per round. */
  private def ccLoop(pairs: DataFrame, srcCol: String, dstCol: String,
                     maxIter: Int, checkEvery: Int,
                     checkpointDir: String): DataFrame = {
    require(checkEvery >= 1, s"connectedComponents: checkEvery must be >= 1, got $checkEvery")
    // checkpointDir swaps the per-round plan truncation from executor-
    // block localCheckpoint to RELIABLE checkpoint on that directory
    // (survives executor loss — the preemption-safe path); rounds still
    // release their predecessor's storage, files included.
    // setCheckpointDir is a GLOBAL SparkContext setting (there is no
    // per-RDD directory), so setting it here is a documented side
    // effect of declaring checkpoint_dir — but we only touch it when
    // the context is not ALREADY pointed under this directory:
    // setCheckpointDir mints a fresh uuid subdir per call, so blind
    // re-setting would scatter two cluster/cc components sharing one
    // checkpoint_dir across separate subdirs and clobber each other's
    // (and the application's) setting mid-build for no benefit.
    val reliable = checkpointDir != null && checkpointDir.nonEmpty
    if (reliable) {
      val sc = pairs.sparkSession.sparkContext
      val p = new org.apache.hadoop.fs.Path(checkpointDir)
      val qualified = p.getFileSystem(sc.hadoopConfiguration)
        .makeQualified(p).toString
      val alreadyUnder = sc.getCheckpointDir.exists(cur =>
        cur == qualified || cur.startsWith(qualified + "/"))
      if (!alreadyUnder) sc.setCheckpointDir(checkpointDir)
    }
    def ckpt(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint(true) else df.localCheckpoint(true)
    val dir = pairs.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val edges = OpCaches.persist( // consumed once per round
      dir.union(dir.select(col("dst").as("src"), col("src").as("dst")))
        .filter(col("src").isNotNull && col("dst").isNotNull &&
          col("src") =!= col("dst"))
        .distinct())
    // ckptFrame is the handle releaseCheckpoint needs (its plan must BE
    // the LogicalRDD leaf, not a projection over it); labels is the
    // 2-column view the algorithm reads
    var ckptFrame = ckpt(edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("comp")))
    var labels = ckptFrame
    var changed = 1L
    var it = 0
    // each round's labels live in executor storage via localCheckpoint;
    // without the explicit release below, every superseded round's
    // blocks (~O(V) each) linger until ContextCleaner GC — on a
    // long-running driver that accumulates rounds × V rows of storage
    while (changed > 0 && it < maxIter) {
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("comp").as("dcomp")),
          Seq("dst"))
        .groupBy(col("src")).agg(min(col("dcomp")).as("nmin"))
      // the step carries the round-entry label through the jump as
      // `prev`, so the convergence check below is a scan-count of the
      // just-checkpointed blocks instead of a V-row join against the
      // previous round (measured 1.18x whole-loop at 1M vertices,
      // tools/CcCheckProbe @0fcdae9 — see the class scaladoc table); the
      // price is one extra long per row through the jump shuffle +
      // checkpoint
      val stepped = labels
        .join(nbrMin.select(col("src").as("id"), col("nmin")), Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("nmin"), col("comp"))).as("comp"),
          col("comp").as("prev"))
      // the jump: comp is itself a vertex id (labels only ever take
      // vertex-id values), so the inner self-join always finds its row.
      // One jump per round — more measured slower, see the
      // tools/CcJumpProbe @0fcdae9 table in the connectedComponents
      // scaladoc.
      val jumped = ckpt(stepped
        .join(stepped.select(col("id").as("comp"), col("comp").as("cc")), Seq("comp"))
        .select(col("id"), col("cc").as("comp"), col("prev")))
      // checkEvery > 1 skips the convergence action on most rounds at
      // the cost of up to checkEvery-1 extra label rounds after actual
      // convergence; the final permitted round always checks so the
      // non-convergence require below stays meaningful
      if ((it + 1) % checkEvery == 0 || it + 1 >= maxIter)
        changed = jumped.filter(col("comp") =!= col("prev")).count()
      releaseCheckpoint(ckptFrame) // superseded round, count() done
      ckptFrame = jumped
      labels = jumped.select(col("id"), col("comp"))
      it += 1
    }
    edges.unpersist(false) // consumed; don't wait for OpCaches.drain
    require(changed == 0,
      s"connectedComponents: not converged after $maxIter rounds — the " +
        "graph diameter exceeds ~2^maxIter; raise maxIter")
    labels.select(col("id"), col("comp").as("component"))
  }

  /** Release the storage behind a checkpointed frame once superseded.
    * Local checkpoint: drop the executor blocks (Dataset.unpersist is a
    * no-op on them — the checkpoint RDD is not in the CacheManager; the
    * RDD is reachable via the plan's LogicalRDD leaf). Reliable
    * checkpoint: delete the round's files (otherwise a k-round loop
    * leaves k × O(V) rows on the shared filesystem until ContextCleaner
    * GC, which on a long-lived driver may be never). Safe on
    * non-checkpointed frames (no-op). */
  private def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.getCheckpointFile match {
          case Some(path) =>
            val p = new org.apache.hadoop.fs.Path(path)
            p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
              .delete(p, true)
          case None => l.rdd.unpersist(false)
        }
      case _ => ()
    }

  /**
   * Survivors under the TRANSITIVE closure of a pair table: keeps exactly
   * one row — the minimum id — per connected component; rows appearing in
   * no pair survive untouched. Use with any NearDups or Pairs emitter when
   * chain merging matters (the pairwise `drop id_b` rule the *Dedup
   * methods use can keep non-minimal chain members — see
   * connectedComponents).
   */
  def clusterDedup(df: DataFrame, idCol: String, pairs: DataFrame,
                   srcCol: String = "id_a", dstCol: String = "id_b",
                   maxIter: Int = 25,
                   checkpointDir: String = ""): DataFrame = {
    val losers = connectedComponents(pairs, srcCol, dstCol, maxIter,
      checkpointDir = checkpointDir)
      .filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }
}
