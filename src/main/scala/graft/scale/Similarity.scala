package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Similarity search over an embedding column (Array[Float]).
 *
 * Tiers, by scale:
 *  - knnJoin: exact k-NN for every row of a (small, broadcastable) query set —
 *    broadcast the queries, one narrow pass over the corpus, per-query
 *    window top-k. No shuffle of the corpus. Correctness baseline; O(n·d).
 *  - ivfTopK: IVF-style approximate search with centroids as a DataFrame —
 *    assignment is a broadcast cross-join + argmax (fully distributed, no
 *    driver collect), the query probes only the `nprobe` nearest cells. At
 *    100 TB the assignment is written bucketed-by-cell so a query touches
 *    a small fraction of the data.
 *  - embeddingNearDups: banded random-hyperplane LSH (b bands × r sign
 *    bits) for near-dup candidate pairs, ids-only join, exact cosine
 *    verification once per deduplicated pair. Bucket count scales with the
 *    corpus (b·2^r per band family), unlike a single wide signature whose
 *    population grows O(n) per bucket.
 */
object Similarity {

  /** Dot product of two float-array columns (double accumulation).
    * Backed by the ArrayDot kernel — bit-identical to the
    * interpreted aggregate(zip_with) HOF form it replaced (same cast-to-
    * double-then-multiply per element, same left-to-right accumulation;
    * ArrayDotSpec pins the equivalence incl. null/length edges), but the
    * per-element cost is a compiled loop instead of ~100ns of HOF
    * interpreter dispatch — the difference between interpreted and
    * compiled math on every (pair, element) of the kNN/IVF/near-dup
    * verification hot path. */
  def dot(a: Column, b: Column): Column = graft.functions.ArrayDot.dot(a, b)

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0 when either vector has zero norm. */
  def cosine(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d === 0, lit(0.0)).otherwise(dot(a, b) / d)
  }

  /**
   * Exact k-NN join: for each query row, the k nearest corpus rows.
   * Queries must be broadcast-small; the corpus is streamed once.
   * Ranking uses the ROUNDED cosine (ties broken by corpus id) so the
   * ordering is stable across engines computing the same similarity.
   */
  def knnJoin(corpus: DataFrame, queries: DataFrame, vecCol: String,
              corpusId: String, queryId: String, k: Int): DataFrame = {
    val c = corpus.select(col(corpusId).as("corpus_id"), col(vecCol).as("cvec"))
    val q = queries.select(col(queryId).as("query_id"), col(vecCol).as("qvec"))
    val scored = c.join(broadcast(q))
      .select(col("query_id"), col("corpus_id"),
        round(cosine(col("cvec"), col("qvec")), 6).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("corpus_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /**
   * Deterministic pseudo-random hyperplane weights, generated driver-side
   * from a seeded LCG (java.util.Random's algorithm is specified, so the
   * planes are reproducible across runs/clusters) and embedded in the plan
   * as array LITERALS: the projection is then a plain literal dot product
   * per row — no per-row per-dimension hashing in the hot path.
   */
  private def planeWeights(p: Int, dim: Int): Array[Double] = {
    val rnd = new java.util.Random(p * 1000003L + 42L)
    Array.fill(dim)(rnd.nextDouble() - 0.5)
  }

  /**
   * All nPlanes signed projections in ONE pass with ONE literal: the
   * transposed weight matrix rides as a single typedLit 2D-array node and
   * a fold over vector positions accumulates every plane's partial sum in
   * an nPlanes-wide array state (the simhashBlocks pattern). Identical
   * float math to a per-plane zip_with+aggregate form — same products,
   * same per-plane accumulation order — but the expression tree is a few
   * hundred nodes instead of ~20k (160 aggregates × 64-element array
   * literals), which was the real cost at bench scale: Catalyst re-
   * analyzes/optimizes the plan on every run, and plan processing scaled
   * with those 160 inlined literals while the interpreted runtime was
   * already negligible. Null/short/long vectors propagate null →
   * all-zero signature.
   *
   * Measured head-to-head (tools/EmbProbe @0fcdae9, sf0.1, 160 planes ×
   * dim 64, local[32]) across four forms — a per-plane HOF (2.6 s cold /
   * 1.1 s warm for 2k rows), a fully-unrolled codegen'd per-row sum
   * (3.0-4.1 s, ~10k-node tree), a relational posexplode+groupBy (adds a
   * shuffle carrying 2.5× the vector bytes and silently merges duplicate
   * ids), and this matrix-fold form (0.4-0.6 s, bit-identical
   * signatures). Every variant's cost is FIXED plan-processing overhead,
   * not row work (64× the rows left timings unchanged; marginal cost
   * ≤ 5 µs/row). All stay narrow maps with no shuffle, the shape that
   * survives a 100× scale-up.
   */
  private[graft] def planeSums(vec: Column, dim: Int, nPlanes: Int): Column =
    graft.functions.MatVecSums.sums(vec, planeMatrix(dim, nPlanes))

  /** Weight matrix (vector position i → plane p) for planeSums. Each
    * plane's LCG vector is generated once and transposed — tabulating
    * per cell would re-draw the full vector dim times per plane.
    * Memoized per (dim, nPlanes) so repeated planeSums calls hand
    * Catalyst the SAME matrix instance (the matrix is a constant kernel
    * argument compared by reference, so instance reuse is what lets
    * Catalyst dedupe repeated calls, and it avoids rebuilding the matrix
    * per call). The cache stays tiny: one entry
    * per distinct (dim, nPlanes) configuration seen in the process. */
  private val planeMatrixCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Double]]]()
  private[graft] def planeMatrix(dim: Int, nPlanes: Int): Array[Array[Double]] =
    planeMatrixCache.computeIfAbsent((dim, nPlanes), { case (d, np) =>
      val byPlane = Array.tabulate(np)(p => planeWeights(p, d))
      Array.tabulate(d, np)((i, p) => byPlane(p)(i))
    })

  /** The interpreted HOF form planeSums replaced (zip_with a 2D typedLit,
    * fold an nPlanes-wide accumulator). Kept as the semantic reference:
    * MatVecSumsSpec pins the MatVecSums kernel bit-for-bit against it,
    * including the null/length poisoning edge cases. */
  private[graft] def planeSumsHof(vec: Column, dim: Int, nPlanes: Int): Column = {
    val wt: Seq[Seq[Double]] =
      (0 until dim).map(i => (0 until nPlanes).map(p => planeWeights(p, dim)(i)))
    val prods = zip_with(vec, typedLit(wt),
      (x, wrow) => transform(wrow, w => x.cast("double") * w))
    aggregate(prods, array_repeat(lit(0.0), nPlanes),
      (acc, arr) => zip_with(acc, arr, (a, v) => a + v))
  }

  /** (band, sig) keys from a MATERIALIZED planeSums column: `bands` bands
    * of `r` sign bits each (planes band*r .. band*r+r-1). A pair collides
    * in a band with probability (1-θ/π)^r; across bands the miss
    * probability is (1-(1-θ/π)^r)^bands. Callers must select planeSums
    * into its own column first: inlining it here would duplicate the fold
    * 160× across the sign extractions. */
  private[graft] def bandKeysFromSums(sums: Column, bands: Int, r: Int): Column =
    array((0 until bands).map { b =>
      val sig = (0 until r).map { j =>
        when(element_at(sums, b * r + j + 1) > 0, lit(1L << j)).otherwise(lit(0L))
      }.reduce((x, y) => x.bitwiseOR(y))
      struct(lit(b).as("band"), sig.as("sig"))
    }: _*)

  /** LSH depth for a corpus of `n` vectors at `simThreshold`, per the
    * measured scaling rule in embeddingNearDups's doc: r ~ log2(n) keeps
    * background collisions C(n,2)·bands·2^-r ~linear in n, and bands solves
    * the recall budget ((1-p^r)^bands ≤ missBudget with
    * p = 1 - acos(threshold)/π). Returns (bands, r). Use when sizing
    * embeddingNearDups for a corpus; fixed small-corpus depth at 100x the
    * corpus is the measured anti-pattern. */
  def lshDepthFor(n: Long, simThreshold: Double,
                  missBudget: Double = 0.01): (Int, Int) = {
    val r = lshRowsFor(n)
    (lshBandsFor(r, simThreshold, missBudget), r)
  }

  /** The candidate-volume half of the rule alone: r ~ log2(n) keeps
    * background collisions ~linear in n regardless of bands. */
  def lshRowsFor(n: Long): Int = {
    require(n > 0, s"bad lshRowsFor($n)")
    math.max(10, math.ceil(math.log(n.toDouble) / math.log(2)).toInt)
  }

  /** The recall half of the rule alone, CONDITIONAL on a given r: bands
    * solving (1-p^r)^bands ≤ missBudget. Deriving bands from a freshly
    * computed r when the caller pinned a different r would satisfy
    * neither half — each omitted parameter must be solved given the
    * pinned one. */
  def lshBandsFor(r: Int, simThreshold: Double,
                  missBudget: Double = 0.01): Int = {
    // r ≤ 63: a band's r sign bits pack into one long signature
    // (bandKeysFromSums shifts 1L << j for j < r). The bound also keeps
    // the derived band count finite — an unguarded user-pinned r (e.g.
    // 200) drives pBand toward 0 and this formula toward Int overflow.
    require(r > 0 && r <= 63 && simThreshold > 0 && simThreshold < 1 &&
      missBudget > 0 && missBudget < 1, s"bad lshBandsFor($r, $simThreshold, $missBudget)")
    val p = 1.0 - math.acos(simThreshold) / math.Pi
    val pBand = math.pow(p, r)
    val bands = math.ceil(math.log(missBudget) / math.log1p(-pBand))
    // r ≤ 63 alone does NOT keep this finite: a pinned r near 63 with a
    // low threshold drives pBand toward 1e-10 and bands toward 1e10,
    // which toInt would silently clamp to Int.MaxValue. Each band is a
    // full signature pass + a join fan-out — past ~10k the combination
    // is a mis-sizing, not a plan.
    require(bands <= 10000,
      s"lshBandsFor($r, $simThreshold, $missBudget) derives $bands bands — " +
        "the pinned r is too deep for this threshold; lower r or raise the threshold")
    math.max(16, bands.toInt)
  }

  /**
   * Near-duplicate pairs by cosine ≥ simThreshold: banded-LSH candidate
   * generation (ids-only join on (band, sig)), pair dedup, then exactly one
   * cosine verification per pair after joining the vectors back.
   *
   * Requires simThreshold > 0: null/empty/short vectors all share the
   * all-zero LSH signature (null propagates through the projection) and
   * so collide in every band; the cosine filter discards those pairs
   * only because a null/zero-norm cosine can never reach a positive
   * threshold.
   *
   * MEASURED stage breakdown (tools/EmbStage @0fcdae9, sf0.1 = 2k vectors x dim 64,
   * bands=16 r=10, local[32], cold = cache-cleared like a bench rep):
   * read 1.7 s / widen 0.6 / bucket projection 1.0 (0.4 warm) / persist
   * +1.7 over no-persist but 2.8x faster on the reused side of the
   * self-join / candidate join+distinct 2.3 (0.9 warm) / verification
   * joins 2.6 / full query 1.7-2.0 s cold in a warm JVM. The r4 bench's
   * 8 s median was machine-load noise: the same artifact pipeline rerun
   * quiet medians 2.0 s [1.6-2.9] alone and 2.1 s in the full 40-query
   * suite. The only O(n^2)-growing term is background band collisions
   * (~C(n,2) x bands x 2^-r: ~40k pairs of 2M at 16x10). Widening to
   * 32x12 halves that rate per pair AND improves 0.95-recall miss from
   * ~1.1e-3 to ~2.9e-5 — but measured SLOWER at sf0.1 (4.2 s vs 2.0 s):
   * at 2k vectors the projection term O(n*dim*bands*r) still dominates
   * the candidate term. The crossover is where n*2^-r-ish candidate
   * growth overtakes the extra planes (~100k vectors for this corpus
   * profile): at scale, grow r ~ log2(n) and bands with the recall
   * budget, keeping candidates ~linear while the projection stays a
   * narrow one-pass map.
   *
   * The rule is MEASURED at 100x (tools/ScaleProbe @0fcdae9, 200k vectors,
   * local[32]): fixed 16x10 params degenerate exactly as predicted
   * (~6e8 background candidates, ~60 GB spill, run killed), while
   * r=18 / bands=29 (r ~ log2(n), bands solved from a 1% miss budget at
   * cos 0.95) completes in 15.5 s — 4.7x the 2k-vector time for 100x
   * the input.
   */
  def embeddingNearDups(df: DataFrame, vecCol: String, idCol: String,
                        simThreshold: Double, dim: Int,
                        bands: Int = 16, r: Int = 8): DataFrame = {
    require(simThreshold > 0,
      "simThreshold must be > 0: degenerate (null/empty) vectors share " +
        "the all-zero signature and are discarded only by the cosine filter")
    val base = graft.scale.Dedup.widen(df).select(col(idCol).as("id"), col(vecCol).as("v"))
    // two-step: materialize the 160 plane sums as a column, THEN extract
    // band keys — and the sums fold appears once in the plan. Same
    // signatures as a per-plane projection form, tiny plan.
    val bucketed = OpCaches.persist( // both sides of the self-join
      base.select(col("id"), planeSums(col("v"), dim, bands * r).as("ps"))
        .select(col("id"), explode(bandKeysFromSums(col("ps"), bands, r)).as("bk"))
        .select(col("id"), col("bk.band").as("band"), col("bk.sig").as("sig")))
    val cand = bucketed.select(col("band"), col("sig"), col("id").as("id_a"))
      .join(bucketed.select(col("band"), col("sig"), col("id").as("id_b")),
        Seq("band", "sig"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    // Verification joins carry each vector's squared norm, computed ONCE
    // per document on the (small) join-back side: cosine via
    // dot/(sqrt(na2)*sqrt(nb2)) — identical float-op order to cosine(),
    // but 1 interpreted dot per pair instead of 3 (candidate pairs
    // outnumber documents).
    val withN = base.select(col("id"), col("v"), dot(col("v"), col("v")).as("n2"))
    val d = sqrt(col("na2")) * sqrt(col("nb2"))
    cand
      .join(withN.select(col("id").as("id_a"), col("v").as("va"), col("n2").as("na2")), Seq("id_a"))
      .join(withN.select(col("id").as("id_b"), col("v").as("vb"), col("n2").as("nb2")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        when(d === 0, lit(0.0)).otherwise(dot(col("va"), col("vb")) / d).as("cos"))
      .filter(col("cos") >= simThreshold)
  }

  /** Survivors after embedding near-dup removal: drop the higher id of
    * each pair (the dedup-component face of embeddingNearDups). The loser
    * set is NOT distinct'd — a left_anti build side ignores duplicate
    * rows, so the distinct was one Exchange+HashAggregate stage of pure
    * overhead (r22, the minhashDedup reasoning; the `bucketed` persist
    * inside embeddingNearDups stays — the r22 no-persist arm measured
    * SLOWER because the 160-plane projection then computes on both
    * self-join sides). */
  def embeddingDedup(df: DataFrame, vecCol: String, idCol: String,
                     simThreshold: Double, dim: Int,
                     bands: Int = 16, r: Int = 8): DataFrame = {
    val losers = embeddingNearDups(df, vecCol, idCol, simThreshold, dim, bands, r)
      .select(col("id_b").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /**
   * L2 normalization of an embedding column (beyond-reference; the
   * embedding-hygiene step before any cosine machinery — unit vectors
   * turn cosine into a plain dot product and make int8 quantization
   * scales comparable across rows): appends `dest` = v/‖v‖ (array of
   * double) and `normCol` = ‖v‖. ONE compiled pass (the codegen'd
   * L2Normalize kernel — norm accumulates x² in double left-to-right
   * then sqrt, the fold a DuckDB list_reduce oracle replays
   * bit-exactly; the sqrt(ArrayDot) + interpreted ArrayTransform
   * divide it replaced paid an evaluator dispatch per element on the
   * divide half, the wrong bill for a pass billed to touch a whole
   * 100 TB embedding column — equivalence pinned in CurationOpsSpec;
   * measured 2.4x: 0.23 s vs the composed form's 0.56 s on 200k
   * 64-dim vectors, tools/CurationProbe @0fcdae9, local[32]).
   * A zero vector cannot be normalized: its `dest` is NULL (norm 0
   * survives for diagnosis), as is everything after a NULL vector.
   * Pure narrow map — no shuffle at any scale.
   */
  def l2NormalizeVectors(df: DataFrame, vecCol: String,
                         dest: String = "vec_unit",
                         normCol: String = "vec_norm"): DataFrame = {
    require(df.columns.contains(vecCol),
      s"vec_normalize: no column '$vecCol' in ${df.columns.mkString(", ")}")
    val tmp = "__l2n"
    Seq(dest, normCol, tmp).foreach(c => require(!df.columns.contains(c),
      s"vec_normalize: input already has a '$c' column; pick another name"))
    df.withColumn(tmp, graft.functions.L2Normalize.normalize(col(vecCol)))
      .withColumn(normCol, col(tmp).getField("norm"))
      .withColumn(dest, col(tmp).getField("unit"))
      .drop(tmp)
  }

  /** The composed form l2NormalizeVectors replaced — kept as the
    * semantic reference for the kernel-equivalence spec. */
  private[graft] def l2NormalizeVectorsHof(df: DataFrame, vecCol: String,
                                           dest: String = "vec_unit",
                                           normCol: String = "vec_norm"): DataFrame =
    df.withColumn(normCol, norm(col(vecCol)))
      .withColumn(dest, when(col(normCol) > 0,
        transform(col(vecCol), x => x.cast("double") / col(normCol))))

  /**
   * Symmetric per-vector int8 quantization (beyond-reference; the 4×
   * storage/bandwidth lever for a 100 TB embedding column — float32 →
   * int8 with one float scale per row): appends `dest` =
   * round(v_i/scale) as array of byte and `scaleCol` = max|v_i|/127, so
   * dequantization is q_i·scale and the largest component maps to
   * ±127. An all-zero vector quantizes to zeros with scale 0 (nothing
   * to scale); NULL propagates. Rounding is HALF_UP (away from zero on
   * ties) on double arithmetic — the same rule DuckDB's round applies,
   * so the oracle replays the bytes exactly. Narrow map, no shuffle;
   * the whole quantization is ONE compiled pass (the codegen'd
   * QuantizeInt8 kernel — the aggregate+transform HOF form it replaced
   * paid an interpreted dispatch per element per pass, the wrong bill
   * for the operator sold as the 100 TB storage lever; equivalence
   * pinned in CurationOpsSpec).
   */
  def quantizeVectorsInt8(df: DataFrame, vecCol: String,
                          dest: String = "vec_q8",
                          scaleCol: String = "vec_scale"): DataFrame = {
    require(df.columns.contains(vecCol),
      s"vec_quantize: no column '$vecCol' in ${df.columns.mkString(", ")}")
    val tmp = "__vq8"
    Seq(dest, scaleCol, tmp).foreach(c => require(!df.columns.contains(c),
      s"vec_quantize: input already has a '$c' column; pick another name"))
    df.withColumn(tmp, graft.functions.QuantizeInt8.quantize(col(vecCol)))
      .withColumn(scaleCol, col(tmp).getField("scale"))
      .withColumn(dest, col(tmp).getField("q"))
      .drop(tmp)
  }

  /** The interpreted HOF form quantizeVectorsInt8 replaced — kept as
    * the semantic reference for the kernel-equivalence spec. */
  private[graft] def quantizeVectorsInt8Hof(df: DataFrame, vecCol: String,
                                            dest: String = "vec_q8",
                                            scaleCol: String = "vec_scale"): DataFrame = {
    val maxAbs = aggregate(col(vecCol), lit(0.0),
      (a, x) => greatest(a, abs(x.cast("double"))))
    df.withColumn(scaleCol, maxAbs / lit(127.0))
      .withColumn(dest, when(col(scaleCol) > 0,
        transform(col(vecCol),
          x => round(x.cast("double") / col(scaleCol)).cast("byte")))
        .otherwise(when(col(scaleCol) === 0,
          transform(col(vecCol), _ => lit(0).cast("byte")))))
  }

  /**
   * IVF cell assignment with centroids as a DataFrame (cell, cvec):
   * the centroid table is packed into ONE array<struct<cell, cvec>> row
   * (bounded by ivfCellsFor's 65536-cell clamp), broadcast, and each
   * corpus row picks its argmax-by-(cosine, cell) cell in one compiled
   * loop (the BestCell kernel) — a bare narrow Project over the corpus.
   *
   * r21 rewrite (guide §2.4 "remove shuffles outright" + §4 codegen):
   * the previous form cross-joined corpus × centroids (k-fold row
   * blow-up), then groupBy(idCol) with max(struct(sim, cell)) +
   * first(carried) — a SortAggregate pair around an Exchange that
   * shuffled the ENTIRE corpus (vectors included) once per call, on
   * every k-means iteration and every index build. Kernel picks the
   * identical winner (same cosine float-op order, same max-struct
   * ordering incl. null-sim and tie-on-sim cases — pinned per-row
   * against [[assignCellsGrouped]] in AssignCellsSpec); `idCol` is kept
   * for the uniqueness CONTRACT (duplicate ids would previously merge
   * arbitrarily via first() — they are invalid input either way) but no
   * longer drives a grouping. Empty centroids still assign nothing (the
   * packed row is filtered out, as the old cross join emitted no rows).
   * For repeated querying, write the result bucketed by `cell` so
   * probes prune at the file-source level.
   */
  def assignCells(corpus: DataFrame, vecCol: String, idCol: String,
                  centroids: DataFrame): DataFrame =
    assignCells(corpus, vecCol, centroids)

  /** The idCol-free face of [[assignCells]]: the r21 kernel rewrite made
    * the id column unused (nothing groups any more), so callers without a
    * unique id — KMeans.train assigns bare vectors, where duplicate
    * vectors are valid input — use this overload instead of passing a
    * non-id column into a parameter documented as "unique id" (r22
    * ADVICE: the contract violation would bite if a future refactor made
    * idCol drive a grouping again). */
  def assignCells(corpus: DataFrame, vecCol: String,
                  centroids: DataFrame): DataFrame =
    assignCells(corpus, vecCol, centroids, MaxPackedElems)

  /** Ceiling on cells × dim for [[assignCells]]'s single packed broadcast
    * row. The 65536-cell clamp (ivfCellsFor) bounds the CELL count but
    * not the row's bytes: the packed row costs ≈ elements × 4 B (float
    * payload) + cells × ~32 B (struct/cell/array headers), so 65536
    * cells × 1024-dim ≈ 67M elements ≈ 270 MB in ONE InternalRow —
    * legal, but a silent multi-hundred-MB single-row broadcast is a
    * driver+executor memory hazard (guide §3.1: "a few hundred MB is
    * usually fine; multiple GB is asking for driver OOMs"). 64M elements
    * ≈ 256 MB payload is the loud line; an exceeding corpus should
    * shrink cells (sqrt-n rule already caps far below this) or shard the
    * centroid set. Enforced in-plan (assert_true on the packed row — one
    * row, evaluated once), so it fires wherever the packed row is built,
    * including the declarative paths. */
  val MaxPackedElems: Long = 64L * 1024 * 1024

  private[graft] def assignCells(corpus: DataFrame, vecCol: String,
                                 centroids: DataFrame,
                                 maxPackedElems: Long): DataFrame = {
    require(!corpus.columns.contains("__cells"),
      "assignCells: input already has a '__cells' column")
    // withColumn REPLACES a same-named column silently; the old grouped
    // form failed loudly on the ambiguous `cell` from its cross join, so
    // keep that loudness rather than silently clobbering caller data
    // (r22 ADVICE)
    require(!corpus.columns.contains("cell"),
      "assignCells: input already has a 'cell' column — rename it before " +
        "cell assignment (the output column is 'cell')")
    // total element count of the packed row, summed over EVERY centroid
    // (not sampled from element 1, whose collect_list position is
    // non-deterministic and whose cvec could be null/short — r22 review:
    // a degenerate first element would silently disarm the guard). One
    // interpreted fold over ≤65536 entries of ONE row, evaluated once.
    // assert_true lives inside a filter so column pruning cannot delete
    // the guard.
    val elems = aggregate(col("__cells"), lit(0L),
      (acc, x) => acc + coalesce(size(x.getField("cvec")).cast("long"), lit(0L)))
    val packed = centroids
      .agg(collect_list(struct(col("cell").cast("long").as("cell"),
        col("cvec").as("cvec"))).as("__cells"))
      .filter(size(col("__cells")) > 0)
      .filter(assert_true(elems <= lit(maxPackedElems),
        concat(lit("assignCells: packed centroid row would hold "), elems,
          lit(s" vector elements, over the $maxPackedElems ceiling " +
            "(~4 B/element packed) — shrink the cell count or shard the " +
            "centroid set"))).isNull)
    val cellT = centroids.schema("cell").dataType
    corpus.crossJoin(broadcast(packed))
      .withColumn("cell",
        graft.functions.BestCell.best(col(vecCol), col("__cells")).cast(cellT))
      .drop("__cells")
  }

  /** The cross-join + groupBy(id) argmax form assignCells replaced (r21)
    * — kept as the semantic reference for AssignCellsSpec's per-row
    * parity pin. Requires `idCol` unique and non-null (first() merges
    * duplicate-id groups arbitrarily). */
  private[graft] def assignCellsGrouped(corpus: DataFrame, vecCol: String,
                                        idCol: String,
                                        centroids: DataFrame): DataFrame = {
    val scored = corpus.crossJoin(broadcast(centroids))
      .withColumn("sim", cosine(col(vecCol), col("cvec")))
    val carried = corpus.columns.filter(_ != idCol).toSeq
    // argmax: max of (sim, cell) struct — ties resolve to the larger cell id
    scored.groupBy(col(idCol))
      .agg(max(struct(col("sim"), col("cell"))).as("m"),
        carried.map(c => first(col(c)).as(c)): _*)
      .withColumn("cell", col("m.cell"))
      .drop("m")
  }

  /** IVF cell count for a corpus of `n` vectors: the classic sqrt-n rule
    * (cells ~ sqrt(n) balances the two probe costs — centroid scan ~cells
    * and cell scan ~n/cells·nprobe — so both grow as sqrt(n)). Clamped
    * to [16, 65536].
    *
    * tools/IvfProbe @0fcdae9 measurements (sf0.1 embeddings replicated by isometry,
    * 64-dim, recall@10 vs exact brute force, local[32]):
    * {{{
    *   n        cells  train(3 it)  index   recall@10 by nprobe            per-query
    *   20,000    142      7.8 s     3.2 s   .15/.21/.33/.46/.65 @1/4/8/16/32  ~0.7 s
    *   60,000    245     13.2 s     5.2 s   .18/.26/.34/.45/.65 @1/4/8/16/32  ~1.1 s
    *   200,000   448     39.2 s    14.9 s   .13/.23/.30/.38/.50 @1/4/8/16/32  ~2.3 s
    * }}}
    * Three findings drive the defaults and the docs' honesty bar:
    *  - recall at a FIXED FRACTION of cells is scale-stable (~0.5 at
    *    cells/8 across all three sizes) while fixed ABSOLUTE nprobe
    *    degrades with scale (0.65 → 0.50 at nprobe=32) — hence
    *    ivfNprobeDefault is a fraction, not a constant;
    *  - the per-query cost is a metadata-plane CONSTANT (centroid top-k
    *    job + file-index listing, both growing with cells), not scan
    *    time: a persisted in-memory brute scan costs 0.07–0.13 s up to
    *    200k×64 locally, so the IVF crossover sits around ~3M vectors
    *    on one node — below that, exact knnJoin is the better tool. The
    *    index's value at 100 TB is the scan-volume cut (nprobe/cells of
    *    the data read, partition-pruned at the source; KMeansSpec pins
    *    1-of-3 directories via scan metrics);
    *  - recall ~0.5 is the synthetic corpus being weakly clustered, not
    *    an implementation property: the same sweep on semantically
    *    clustered real embeddings concentrates neighbors in fewer cells.
    *    Size nprobe from a measured curve on the production corpus. */
  def ivfCellsFor(n: Long): Int = {
    require(n > 0, s"bad ivfCellsFor($n)")
    math.max(16, math.min(65536, math.ceil(math.sqrt(n.toDouble)).toInt))
  }

  /** Default probed-cell count given the cell count: an eighth of the
    * cells, floored at 2 — the scale-stable point of the tools/IvfProbe @0fcdae9 recall
    * curve (~0.5 recall@10 at 20k/60k/200k on the synthetic corpus; see
    * ivfCellsFor's table). A fixed absolute nprobe was measured to decay
    * with corpus growth; the fraction holds. */
  def ivfNprobeDefault(kcells: Int): Int = math.max(2, kcells / 8)

  /**
   * IVF-style approximate top-k, fully in-plan: `centroids` is a (cell,
   * cvec) DataFrame, `queries` a single-row (qvec) DataFrame. The query
   * probes the `nprobe` cells whose centroids are most similar to it.
   */
  def ivfTopK(corpus: DataFrame, vecCol: String, idCol: String,
              centroids: DataFrame, query: DataFrame,
              k: Int, nprobe: Int = 2): DataFrame = {
    val probeW = Window.orderBy(col("csim").desc, col("cell").asc)
    val probeCells = centroids.crossJoin(broadcast(query))
      .select(col("cell"), cosine(col("cvec"), col("qvec")).as("csim"))
      .withColumn("prank", row_number().over(probeW))
      .filter(col("prank") <= nprobe)
      .select(col("cell"))
    assignCells(corpus, vecCol, idCol, centroids)
      .join(broadcast(probeCells), Seq("cell"))
      .crossJoin(broadcast(query))
      .select(col(idCol), round(cosine(col(vecCol), col("qvec")), 6).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }
}
