package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Column-level data profiling — the validation pass a training-data
 * pipeline runs before ingest (null rates, cardinalities, ranges), as
 * one operator. Beyond the reference's surface (its schema layer
 * validates structure, never data distributions).
 *
 * O(1) distributed scans, never per-column: the exact face runs TWO
 * single-row global aggregates over `df` — the plain
 * count/nulls/min/max aggregate (map-side combinable) and the
 * multi-distinct aggregate (one Expand + two-phase plan, rows
 * replicated once per DISTINCT column) — cross-joined into the wide
 * row, then unpivoted into one row per column. They were ONE fused
 * aggregate through r20; the r21 split exists because the
 * multi-distinct rewrite drags every regular aggregate through the
 * Expand's grouping stage (measured 3.5× the sum of the two plans at
 * sf0.1, tools/R21Probe @0fcdae9). The approx face has no Expand and keeps the
 * single fused scan.
 *
 * Exact by default so the output is oracle-replayable (count, nulls,
 * distinct, min/max select existing values — bit-identical across
 * engines). `approx = true` swaps exact distincts for HyperLogLog
 * approx_count_distinct, dropping the Expand entirely — the 100 TB path
 * when cardinalities only need to be ballpark.
 */
object Profile {

  private def isNumeric(dt: DataType): Boolean = dt match {
    case _: NumericType => true
    case _              => false
  }

  def profile(df: DataFrame, columns: Seq[String] = Nil,
              approx: Boolean = false): DataFrame = {
    // resolve requested names case-insensitively (like the rest of
    // Spark's column resolution) and reject duplicates/unknowns HERE —
    // both would otherwise surface as AnalysisExceptions naming the
    // internal __nn_/__nd_ aliases the user never wrote
    val cols =
      if (columns.isEmpty) df.columns.toSeq
      else columns.map(c => df.columns.find(_.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(s"profile: unknown column $c")))
    val dups = cols.diff(cols.distinct).distinct
    require(dups.isEmpty, s"profile: duplicate columns ${dups.mkString(", ")}")

    // internal aliases are POSITIONAL (__nn_0, not __nn_<name>): a
    // user column named "a.b" folded into an alias would make the
    // unpivot's col("__nn_a.b") parse as struct-field access and fail
    // resolution; the user column itself is referenced backtick-quoted
    // for the same reason
    def qcol(name: String): Column = col("`" + name.replace("`", "``") + "`")
    val plainAggs = count(lit(1)).as("__rows") +: cols.zipWithIndex.flatMap { case (c, i) =>
      val base = Seq(count(qcol(c)).as(s"__nn_$i"))
      val mm =
        if (isNumeric(df.schema(c).dataType))
          Seq(min(qcol(c)).cast("double").as(s"__min_$i"),
            max(qcol(c)).cast("double").as(s"__max_$i"))
        else
          Seq(min(qcol(c)).cast("string").as(s"__mins_$i"),
            max(qcol(c)).cast("string").as(s"__maxs_$i"))
      base ++ mm
    }
    val distinctAggs = cols.zipWithIndex.map { case (c, i) =>
      (if (approx) approx_count_distinct(qcol(c)) else count_distinct(qcol(c)))
        .as(s"__nd_$i")
    }
    // r21 plan split, exact face only: fusing k count_distincts with the
    // plain aggregates makes Spark's multi-distinct rewrite carry EVERY
    // regular aggregate through the Expand×(k+1) grouping stage — measured
    // 2.6 s noop vs 0.75 s for the distincts alone + ~0.1 s for the plain
    // aggregates at sf0.1 (tools/R21Probe @0fcdae9). Two single-row aggregates
    // cross-joined compute the identical values in two bounded scans of
    // `df` (still O(1) scans, never per-column); the approx face has no
    // Expand, so it keeps the single fused scan.
    //
    // Crossover AT SCALE (r22, tools/ProfileScale22 @0fcdae9 — the r21 claim was
    // sf0.1-only): at 100× the bench input (15M rows × 5 exact-distinct
    // columns, persisted, noop sink, interleaved fused/split/split/fused
    // ×2) fused = 6.2 s vs split = 4.4 s mean — the split WIDENS its win
    // at scale (1.39× at 15M rows vs breakeven-ish per-scan at 150k),
    // exactly as the shape predicts: Expand×(k+1) replicates every row
    // k+1 times through the first aggregate stage, i.e. the fused scan
    // does ~6× the row work of one plain scan, while the split pays one
    // extra plain scan. No size gate needed.
    //
    // The split ASSUMES a deterministic input (r22 ADVICE note): the two
    // scans read `df` independently, so a non-deterministic upstream
    // (sample/rand) or a file overwritten between the scans could make
    // the profile row internally inconsistent (e.g. n_distinct >
    // n_rows), where the pre-r21 fused scan was atomic. Every engine
    // input here is a static file read and the declarative surface
    // offers no non-deterministic source; a caller profiling a
    // non-deterministic frame should persist it first.
    val wide =
      if (approx) df.agg((plainAggs ++ distinctAggs).head, (plainAggs ++ distinctAggs).tail: _*)
      else df.agg(plainAggs.head, plainAggs.tail: _*)
        .crossJoin(df.agg(distinctAggs.head, distinctAggs.tail: _*))

    // unpivot the single aggregate row with ONE explode over an array of
    // per-column structs — a single plan branch. A per-column
    // select+union here would invite column pruning to split the wide
    // aggregate into k independent aggregates, i.e. k scans of `df`,
    // silently breaking the operator's one-scan contract.
    val perCol = cols.zipWithIndex.map { case (c, i) =>
      val numeric = isNumeric(df.schema(c).dataType)
      struct(
        lit(c).as("col_name"),
        col("__rows").as("n_rows"),
        (col("__rows") - col(s"__nn_$i")).as("n_nulls"),
        col(s"__nd_$i").cast("long").as("n_distinct"),
        (if (numeric) col(s"__min_$i") else lit(null).cast("double")).as("min_num"),
        (if (numeric) col(s"__max_$i") else lit(null).cast("double")).as("max_num"),
        (if (numeric) lit(null).cast("string") else col(s"__mins_$i")).as("min_str"),
        (if (numeric) lit(null).cast("string") else col(s"__maxs_$i")).as("max_str"))
    }
    wide.select(explode(array(perCol: _*)).as("p")).select(col("p.*"))
  }

  /**
   * Fixed-width histogram over a numeric column — the distribution face
   * of profiling (is quality score bimodal? did the length distribution
   * shift after a filter?). Output: one row per NON-EMPTY bucket —
   * (bucket, bucket_lo, bucket_hi, n), bucket ascending.
   *
   * Bucketing rule (engine-replayable, plain IEEE double arithmetic so
   * the DuckDB oracle reproduces it bit-exactly):
   * width = (hi - lo) / buckets; idx = floor((v - lo) / width) clamped
   * into [0, buckets-1]. Clamping means out-of-range values land in the
   * EDGE buckets rather than vanishing — a profile wants to see
   * outliers — and v == hi falls in the top bucket (inclusive top edge,
   * the standard histogram convention). Nulls are excluded (they are
   * n_nulls in profile(), not a distribution point).
   *
   * Bounds are explicit: the caller usually knows the domain, and an
   * auto-range would cost a second full scan (min/max first) — pass
   * profile()'s min_num/max_num when auto behavior is wanted. At scale:
   * one narrow bucket map + ONE shuffle over at most `buckets` keys.
   */
  def histogram(df: DataFrame, column: String, buckets: Int,
                lo: Double, hi: Double): DataFrame = {
    require(buckets >= 1, s"histogram: buckets must be >= 1, got $buckets")
    require(hi > lo, s"histogram: needs hi > lo, got [$lo, $hi)")
    val c = df.columns.find(_.equalsIgnoreCase(column)).getOrElse(
      throw new IllegalArgumentException(s"histogram: unknown column $column"))
    require(isNumeric(df.schema(c).dataType),
      s"histogram: column $c is ${df.schema(c).dataType.sql}, need numeric")
    val width = (hi - lo) / buckets
    val idx = least(greatest(
      floor((col(c).cast("double") - lo) / width), lit(0.0)),
      lit((buckets - 1).toDouble)).cast("long")
    df.filter(col(c).isNotNull)
      .groupBy(idx.as("bucket"))
      .agg(count(lit(1)).as("n"))
      .select(col("bucket"),
        (lit(lo) + col("bucket") * width).as("bucket_lo"),
        (lit(lo) + (col("bucket") + 1) * width).as("bucket_hi"),
        col("n"))
      .orderBy(col("bucket"))
  }

  /**
   * Distribution-based outlier filter — the statistical quality gate a
   * curation pipeline runs on measurable signals ("drop documents whose
   * length / perplexity proxy / score sits in the tails"). Two methods:
   *
   *  - `zscore`: keep rows with |v − mean| <= k·stddev_samp. One
   *    map-side-combinable aggregate — the 100 TB default.
   *  - `iqr`: keep rows with v in [q1 − k·(q3−q1), q3 + k·(q3−q1)]
   *    (Tukey's fences). Exact `percentile` buffers each group's values
   *    in the aggregate state, so the exact face is for frames that have
   *    already been reduced; `approx = true` swaps in approx_percentile
   *    (t-digest sketch, bounded state) — the 100 TB path when the
   *    fences only need to be sketch-accurate.
   *
   * `by` computes the fences per group (per-source length norms differ;
   * a global fence would gut the long-form sources). The stats frame is
   * one row per group — broadcast-joined back (hint pinned in
   * ProfileSpec), so the data side never shuffles: stats aggregate +
   * broadcast hash join + narrow filter, no exchange on the big side.
   *
   * NULL values drop (they carry no evidence either way; profile()'s
   * n_nulls is the place to see them), and so do rows whose `by` key is
   * NULL (plain SQL join semantics — the oracle's USING join agrees). A single-row group has no spread
   * (stddev_samp is NULL) — its row is kept, not dropped: coalesce(sd,0)
   * keeps v == mean, which for n=1 is the row itself. Everything is
   * plain deterministic arithmetic the DuckDB oracle replays; the
   * boundary comparison is on doubles, so values engineered to sit
   * within ~1e-12 of a fence may differ across engines — a measurement
   * filter's inherent contract, not a correctness hazard on real data.
   */
  def outlierFilter(df: DataFrame, column: String, method: String = "zscore",
                    k: Double = 3.0, by: Seq[String] = Nil,
                    approx: Boolean = false): DataFrame =
    outlierFilterAgainst(df, df, column, method, k, by, approx)

  /**
   * The two-frame face of [[outlierFilter]]: fences computed on
   * `reference`, applied to `df` — "clamp live data against a trained
   * baseline". This is also the STREAMING shape: a streaming `df`
   * cannot compute its own global stats (an unwindowed aggregate over
   * an unbounded stream never finalizes), but a STATIC reference's
   * fences are one batch aggregate whose result broadcast-joins onto
   * the stream as a stateless narrow filter — outlier_filter in a
   * streaming job, its static `reference` port fed by a source.
   * `reference` must carry `column` (and the `by` columns); both
   * frames are resolved case-insensitively and independently.
   */
  def outlierFilterAgainst(df: DataFrame, reference: DataFrame,
                           column: String, method: String = "zscore",
                           k: Double = 3.0, by: Seq[String] = Nil,
                           approx: Boolean = false): DataFrame = {
    require(k >= 0 && !k.isNaN && !k.isInfinity,
      s"outlier_filter: k must be a finite number >= 0, got $k")
    def resolve(frame: DataFrame, what: String): String =
      frame.columns.find(_.equalsIgnoreCase(column)).getOrElse(
        throw new IllegalArgumentException(
          s"outlier_filter: unknown column $column on the $what frame"))
    val c = resolve(df, "data")
    val cRef = resolve(reference, "reference")
    require(isNumeric(df.schema(c).dataType),
      s"outlier_filter: column $c is ${df.schema(c).dataType.sql}, need numeric")
    require(isNumeric(reference.schema(cRef).dataType),
      s"outlier_filter: reference column $cRef is " +
        s"${reference.schema(cRef).dataType.sql}, need numeric")
    val v = col(c).cast("double")
    val vRef = col(cRef).cast("double")
    val statCols = Seq("__of_a", "__of_b")
    statCols.foreach(s => require(!df.columns.contains(s),
      s"outlier_filter: input already has a '$s' column"))
    val (aggs, keep) = method match {
      case "zscore" =>
        (Seq(avg(vRef).as("__of_a"), stddev_samp(vRef).as("__of_b")),
          abs(v - col("__of_a")) <= lit(k) * coalesce(col("__of_b"), lit(0.0)))
      case "iqr" =>
        val q = if (approx)
          Seq(percentile_approx(vRef, lit(0.25), lit(10000)).as("__of_a"),
            percentile_approx(vRef, lit(0.75), lit(10000)).as("__of_b"))
        else
          Seq(percentile(vRef, lit(0.25)).as("__of_a"),
            percentile(vRef, lit(0.75)).as("__of_b"))
        val iqr = col("__of_b") - col("__of_a")
        (q, v >= col("__of_a") - lit(k) * iqr &&
          v <= col("__of_b") + lit(k) * iqr)
      case other => throw new IllegalArgumentException(
        s"outlier_filter: method must be zscore|iqr, got '$other'")
    }
    val stats =
      if (by.isEmpty) reference.agg(aggs.head, aggs.tail: _*)
      else reference.groupBy(by.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val joined =
      if (by.isEmpty) df.crossJoin(broadcast(stats))
      else df.join(broadcast(stats), by, "inner")
    joined.filter(col(c).isNotNull && keep).drop(statCols: _*)
  }
}
