package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/**
 * Split / merge and the generic select-sort-skip-limit surface.
 *
 * Reference semantics:
 *  - split duplicates every payload to all declared output ports (reference:
 *    src/etl_core/components/data_operations/split/split.py:23-72). In a lazy
 *    DAG this is just reusing one DataFrame for N branches; the graph layer
 *    caches when more than one branch triggers an action so the upstream
 *    lineage is computed once.
 *  - merge forwards payloads from many upstream edges to one port with no
 *    combining logic (reference: .../merge/merge.py:21-84) — an interleaved
 *    pass-through union. Spark: unionByName over same-schema inputs; no
 *    shuffle, partitions are simply concatenated.
 *  - select/sort/skip/limit mirrors the Mongo read surface (reference:
 *    src/etl_core/components/databases/mongodb/mongodb_read.py:31-73):
 *    filter, sort [(field, ±1)], limit, skip, and projection derived from the
 *    out-port schema.
 */
object RelationalOps {

  /** split: one input, N identical output ports. Caching for
    * multi-consumer branches is the GRAPH layer's job (it owns the persist
    * handle and unpersists on BuiltJob.close) — an operator-level persist
    * would leak, since nothing downstream could release it. */
  def split(df: DataFrame, outPorts: Seq[String]): Map[String, DataFrame] =
    outPorts.map(_ -> df).toMap

  /** merge: same-schema union of all inbound branches (no dedup, no shuffle). */
  def merge(inputs: Seq[DataFrame]): DataFrame = {
    require(inputs.nonEmpty, "merge needs at least one input")
    inputs.reduce(_.unionByName(_))
  }

  /** Set operations over same-schema frames (beyond-reference: SURVEY
    * §2.4 lists intersect/except as absent — merge is the reference's
    * only set-ish op). SQL semantics: `intersect`/`except`/
    * `union_distinct` deduplicate both sides; the `_all` variants keep
    * multiplicities (INTERSECT ALL / EXCEPT ALL). At scale each is one
    * shuffle per side on all columns (Catalyst compiles them to
    * distinct + left-semi/anti joins, AQE-sized) — no driver-side work. */
  def setOp(left: DataFrame, right: DataFrame, op: String): DataFrame = {
    // Dataset.intersect/except match columns by POSITION; the schema
    // contract upstream is order-insensitive (and two parquet files with
    // the same columns can disagree on order), so align the right side
    // to the left's order BY NAME first — a missing column is a loud
    // AnalysisException instead of a silent wrong-column comparison.
    def aligned = right.select(left.columns.map(col).toSeq: _*)
    op match {
      case "intersect"      => left.intersect(aligned)
      case "intersect_all"  => left.intersectAll(aligned)
      case "except"         => left.except(aligned)
      case "except_all"     => left.exceptAll(aligned)
      case "union_distinct" => left.unionByName(right).distinct()
      case other => throw new IllegalArgumentException(
        s"set_op: unknown op '$other' " +
          "(intersect|intersect_all|except|except_all|union_distinct)")
    }
  }

  /**
   * Deterministic hash split (train/val/test and friends): each row lands
   * in exactly one named split, chosen by an md5 bucket of its id —
   * b = first 8 hex chars of md5(id as string) mod 10000 — against
   * cumulative-fraction boundaries. Engine-independent and stable across
   * runs, partitionings, and row order (the properties `randomSplit`
   * lacks): the same id routes to the same split on any engine that can
   * compute md5, which is how the DuckDB oracle replays it bit-exactly.
   *
   * At scale: one narrow filter per split — no shuffle, no sampling scan;
   * a consumer reading only `train` evaluates one filter over the input.
   * Fractions must sum to 1 (±1e-6) and each be ≥ 0.0001; boundaries are
   * rounded on the 10,000-bucket grid, so fractions are honored to 0.01%.
   *
   * NULL ids route to the LAST split (a null id hashes to a null bucket;
   * leaving it null would silently drop the row from every split — the
   * one outcome a splitter must never produce). The DuckDB oracle's
   * CASE ... ELSE branch encodes the same rule.
   */
  def hashSplit(df: DataFrame, idCol: String,
                fractions: Seq[(String, Double)]): Map[String, DataFrame] = {
    require(fractions.nonEmpty, "hash_split: needs at least one split")
    require(fractions.map(_._1).distinct.size == fractions.size,
      s"hash_split: duplicate split names in ${fractions.map(_._1).mkString(", ")}")
    require(fractions.forall(_._2 >= 1e-4),
      "hash_split: fractions must be >= 0.0001 (the bucket-grid resolution)")
    require(math.abs(fractions.map(_._2).sum - 1.0) < 1e-6,
      s"hash_split: fractions must sum to 1, got ${fractions.map(_._2).sum}")
    val bucket = coalesce(pmod(
      conv(substring(md5(col(idCol).cast("string").cast("binary")), 1, 8), 16, 10)
        .cast("long"), lit(10000L)), lit(9999L)) // null id → last split
    val bounds = fractions.scanLeft(0.0)(_ + _._2)
      .map(f => math.round(f * 10000).toInt)
    fractions.zipWithIndex.map { case ((name, _), i) =>
      name -> df.filter(bucket >= bounds(i) && bucket < bounds(i + 1))
    }.toMap
  }

  /**
   * Deterministic seeded Bernoulli sample (beyond-reference; the
   * training-mix primitive next to hashSplit): keep a row iff
   * b = first 8 hex chars of md5(seed ++ ":" ++ id) mod 10000 falls
   * below rate·10000. The seed makes repeated samples over the same
   * corpus independent of each other AND of hashSplit's routing (which
   * hashes the bare id) — sampling 10% inside `train` is not correlated
   * with the train/val/test assignment. Same id + same seed always
   * keeps/drops together, on any engine that computes md5 — the DuckDB
   * oracle replays the arithmetic bit-exactly.
   *
   * `strataFractions` overrides the default rate per value of
   * `strataCol` (downsample the dominant language, keep all of a rare
   * one); strata not listed — including a NULL stratum — sample at the
   * default `fraction`. Rates are honored to 0.01% on the same
   * 10,000-bucket grid as hashSplit.
   *
   * NULL ids land in the last bucket (9999), mirroring hashSplit's
   * null rule: they are kept only when their effective rate is 1.0,
   * never pseudo-randomly.
   *
   * At scale: one narrow filter — no shuffle, no sampling scan, no
   * driver randomness; partition-count and row-order independent
   * (everything `DataFrame.sample` is not).
   */
  def hashSample(df: DataFrame, idCol: String, fraction: Double,
                 seed: String = "",
                 strataCol: Option[String] = None,
                 strataFractions: Seq[(String, Double)] = Nil): DataFrame = {
    def checkRate(what: String, f: Double): Unit =
      require(f >= 0.0 && f <= 1.0, s"sample: $what must be in [0, 1], got $f")
    checkRate("fraction", fraction)
    strataFractions.foreach { case (v, f) => checkRate(s"stratum '$v' fraction", f) }
    require(strataFractions.isEmpty || strataCol.nonEmpty,
      "sample: strata_fractions needs strata_column")
    require(strataFractions.map(_._1).distinct.size == strataFractions.size,
      s"sample: duplicate stratum values in ${strataFractions.map(_._1).mkString(", ")}")
    val bucket = coalesce(pmod(
      conv(substring(md5(concat(lit(seed), lit(":"), col(idCol).cast("string"))
        .cast("binary")), 1, 8), 16, 10).cast("long"), lit(10000L)), lit(9999L))
    def grid(f: Double): Int = math.round(f * 10000).toInt
    val threshold = strataCol match {
      case None => lit(grid(fraction))
      case Some(sc) => strataFractions.foldLeft(lit(grid(fraction))) {
        // null stratum fails every equality and falls through to the default
        case (acc, (v, f)) => when(col(sc) === lit(v), lit(grid(f))).otherwise(acc)
      }
    }
    df.filter(bucket < threshold)
  }

  /**
   * Per-row weighted Bernoulli sample (beyond-reference; the
   * quality-weighted curation draw next to hashSample's fixed rates:
   * "keep documents with probability proportional to their quality
   * score" — the soft alternative to a hard outlier/quality cutoff):
   * keep a row iff its hashSample bucket (identical md5(seed:id)
   * arithmetic, same 10,000-bucket grid) falls below
   * round(clamp(rateCol, 0, 1) · 10000). Same id + same seed always
   * keeps/drops together at a given rate, rates are honored to 0.01%,
   * and raising a row's rate can only ever ADD it to the sample (the
   * bucket is rate-independent) — the monotonicity that makes
   * iterative curation reproducible.
   *
   * NULL and NaN rates drop the row (no evidence, no draw — the
   * outlier_filter convention; without the explicit NaN guard the
   * least/greatest clamp would resolve NaN to 1.0 under Spark's
   * NaN-as-largest ordering and keep unconditionally exactly the rows
   * whose quality signal FAILED); out-of-range rates clamp into [0, 1]
   * (a score model emitting 1.03 means "keep", not "crash"; clamping is
   * the documented contract and replays identically in the oracle).
   * NULL ids land in bucket 9999, mirroring hashSample: kept only when
   * their clamped rate rounds to the full grid.
   *
   * At scale: one narrow filter — no shuffle, no driver state,
   * partition- and order-independent, stream-safe.
   */
  def hashSampleWeighted(df: DataFrame, idCol: String, rateCol: String,
                         seed: String = ""): DataFrame = {
    require(df.columns.contains(rateCol),
      s"sample: no rate_column '$rateCol' in ${df.columns.mkString(", ")}")
    val bucket = coalesce(pmod(
      conv(substring(md5(concat(lit(seed), lit(":"), col(idCol).cast("string"))
        .cast("binary")), 1, 8), 16, 10).cast("long"), lit(10000L)), lit(9999L))
    val rate = col(rateCol).cast("double")
    val threshold = round(greatest(least(rate, lit(1.0)), lit(0.0)) * 10000)
    df.filter(rate.isNotNull && !isnan(rate) && bucket < threshold)
  }

  /**
   * Deterministic seeded global shuffle (beyond-reference; the
   * reproducible-training-order primitive next to hashSplit/hashSample):
   * every row gets `keyCol` = md5(seed ++ ":" ++ id) and the frame comes
   * back range-partitioned and sorted by that key — a TOTAL order across
   * output partitions, so writing the result produces the same row order
   * on any run, any engine, any input partitioning (everything
   * `orderBy(rand(seed))` is not: rand is partition-layout-dependent).
   * Different seeds draw independent permutations, and any seed's order
   * is independent of hashSplit's routing and hashSample's keep/drop
   * (each hashes a different string).
   *
   * NULL ids take the FIXED key md5(seed ++ ":") — the same key an
   * empty-string id gets (documented collision): a null md5 would sort
   * engine-dependently, and a shuffler must not drop or float rows.
   * Duplicate ids share a key; their relative order is the one
   * in-partition tie Spark's sort leaves unspecified.
   *
   * At scale: ONE range exchange + in-partition sort — the same cost as
   * any total sort, and there is no cheaper global permutation. No
   * window, no single-partition stage, no driver state. The range
   * boundaries come from Spark's reservoir sampling over a uniform md5
   * key space, so output partitions are balanced regardless of input
   * skew — hot ids do not co-locate (they hash apart unless identical).
   */
  def hashShuffle(df: DataFrame, idCol: String, seed: String = "",
                  keyCol: String = "shuffle_key"): DataFrame = {
    require(keyCol.nonEmpty, "shuffle: key_column must be non-empty")
    require(!df.columns.contains(keyCol),
      s"shuffle: input already has a '$keyCol' column; set key_column")
    val key = md5(concat(lit(seed), lit(":"),
      coalesce(col(idCol).cast("string"), lit(""))).cast("binary"))
    df.withColumn(keyCol, key)
      .repartitionByRange(col(keyCol))
      .sortWithinPartitions(col(keyCol))
  }

  /**
   * Token-budget sampling (beyond-reference; the data-mixing primitive
   * next to hashSample's rate-based draw): within each `by` group, rows
   * are taken in the deterministic md5(seed ++ ":" ++ id) order until
   * the cumulative `costCol` total reaches `budget` — "keep ~N tokens
   * per source/language" for training-mix construction, reproducibly on
   * any engine and any input partitioning.
   *
   * Selection rule: a row survives iff its INCLUSIVE running cost is
   * <= budget, under the SQL-default window frame (RANGE, peers
   * included): rows tying on (key, id) — duplicate ids — share one
   * running total and survive or fall together, which keeps the rule
   * deterministic where a ROWS frame would leave the tie order to the
   * engine. Whole-row granularity: the first row that would overflow
   * drops, with everything after it. Null costs count as 0 (they never
   * consume budget); null ids take the fixed md5(seed ++ ":") key,
   * hashShuffle's documented collision.
   *
   * At scale: ONE hash exchange on the group keys + in-partition sort —
   * the same shape as any windowed op (plan pinned in
   * ReshapePropertySpec). Empty `by` funnels the corpus through a
   * single-partition sort and must be opted into via allowGlobal,
   * mirroring WindowOp's contract.
   */
  def budgetSample(df: DataFrame, idCol: String, costCol: String,
                   budget: Long, by: Seq[String] = Nil,
                   seed: String = "",
                   allowGlobal: Boolean = false): DataFrame = {
    require(budget >= 0, s"budget_sample: budget must be >= 0, got $budget")
    require(by.nonEmpty || allowGlobal,
      "budget_sample: empty `by` sorts the whole frame in ONE partition; " +
        "set allow_global=true only for small frames, or group by a " +
        "mixing key (source, language, shard)")
    val runCol = "__budget_run"
    require(!df.columns.contains(runCol),
      s"budget_sample: input already has a '$runCol' column")
    val key = md5(concat(lit(seed), lit(":"),
      coalesce(col(idCol).cast("string"), lit(""))).cast("binary"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(by.map(col): _*)
      .orderBy(key.asc, col(idCol).asc)
    df.withColumn(runCol,
        sum(coalesce(col(costCol).cast("long"), lit(0L))).over(w))
      .filter(col(runCol) <= budget)
      .drop(runCol)
  }

  /**
   * Mixture sampling (beyond-reference; the data-MIXING step a training
   * pipeline runs after curation: "compose a T-token training set as
   * 50% web, 30% code, 20% books"): splits `totalBudget` across the
   * sources named in `weights` — per-source budget = floor(weight /
   * Σweights × totalBudget) — and keeps, within each source, rows in
   * deterministic md5(seed:id) order while the cumulative `costCol`
   * total stays <= that source's budget. This is budgetSample's exact
   * selection rule (same key strings, same SQL-default RANGE frame, so
   * duplicate-id ties survive or fall together) with a per-source
   * budget derived from the declared composition.
   *
   * Rows whose `sourceCol` is not named in `weights` — or is null —
   * are DROPPED, before anything shuffles: a mix declares the whole
   * composition, so an unlisted source has weight zero by definition.
   *
   * At scale: one narrow isin prefilter (unlisted sources never reach
   * the exchange — mixing 3 sources out of 300 shuffles only those 3),
   * then ONE hash exchange on the source key + in-partition sort —
   * budgetSample's plan shape, no global sort, no driver state. The
   * budget lookup is a codegen'd CASE chain over the (small, by the
   * nature of a mix) weight list. Selection replays bit-exactly on any
   * engine with md5 (the DuckDB oracle does).
   *
   * Budgets floor: Σ per-source budgets <= totalBudget (never over).
   * Weight arithmetic is double-precision — exact for any real token
   * budget (< 2^53).
   */
  def mixSample(df: DataFrame, idCol: String, costCol: String,
                totalBudget: Long, sourceCol: String,
                weights: Seq[(String, Double)],
                seed: String = ""): DataFrame = {
    require(totalBudget >= 0,
      s"mix_sample: total_budget must be >= 0, got $totalBudget")
    require(weights.nonEmpty, "mix_sample: weights must name at least one source")
    weights.foreach { case (s, wt) =>
      require(wt > 0 && !wt.isNaN && !wt.isInfinity,
        s"mix_sample: weight for source '$s' must be a finite number > 0, got $wt") }
    require(weights.map(_._1).distinct.size == weights.size,
      "mix_sample: duplicate source in weights")
    val runCol = "__mix_run"
    require(!df.columns.contains(runCol),
      s"mix_sample: input already has a '$runCol' column")
    val wsum = weights.map(_._2).sum
    val budgets = weights.map { case (s, wt) =>
      s -> math.floor(wt / wsum * totalBudget).toLong }
    // CASE chain, not a map literal: null-safe (null source matches no
    // branch) and codegen'd; order is caller-declared, semantics are
    // order-independent (sources are distinct)
    val budgetCol = budgets.tail.foldLeft(
      when(col(sourceCol) === budgets.head._1, lit(budgets.head._2))) {
      case (acc, (s, b)) => acc.when(col(sourceCol) === s, lit(b))
    }
    val key = md5(concat(lit(seed), lit(":"),
      coalesce(col(idCol).cast("string"), lit(""))).cast("binary"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(sourceCol)).orderBy(key.asc, col(idCol).asc)
    df.filter(col(sourceCol).isin(budgets.map(_._1): _*))
      .withColumn(runCol,
        sum(coalesce(col(costCol).cast("long"), lit(0L))).over(w))
      .filter(col(runCol) <= budgetCol)
      .drop(runCol)
  }

  /**
   * Contiguous-fill unit packing (beyond-reference; the step after
   * mixing that turns a curated corpus into training shards / context
   * windows of ~`capacity` cost each): within each `by` group, rows are
   * laid out in deterministic md5(seed:id) order and assigned
   * `unitCol` = floor((running − cost) / capacity) — the unit where the
   * row STARTS under a contiguous fill. Unit k holds the rows whose
   * cumulative predecessor cost sits in [k·capacity, (k+1)·capacity):
   * every unit carries ~capacity cost, a row may straddle a boundary
   * (its unit can overflow by < 1 row), and no unit is empty. Units are
   * keyed per group — the global shard id is (`by` values, `unitCol`).
   *
   * Contiguous fill, not first-fit-decreasing, ON PURPOSE: FFD needs
   * sequential bin state (inherently driver-side), while this rule is a
   * window sum — ONE hash exchange on the group keys + in-partition
   * sort (budgetSample's exact plan shape, same md5 key strings, same
   * SQL-default RANGE frame so duplicate-id ties pack together), and it
   * replays bit-exactly on any engine with md5 (the DuckDB oracle
   * does). Null costs pack free (0); costs are assumed >= 0 (a negative
   * cost makes "capacity" meaningless). The division is IEEE-double
   * floor — exact while group totals stay < 2^53, i.e. any real token
   * budget. Empty `by` funnels the corpus through ONE partition and
   * needs allowGlobal, mirroring budgetSample's contract.
   */
  def packUnits(df: DataFrame, idCol: String, costCol: String,
                capacity: Long, by: Seq[String] = Nil, seed: String = "",
                unitCol: String = "unit_id",
                allowGlobal: Boolean = false): DataFrame = {
    require(capacity >= 1, s"pack_units: capacity must be >= 1, got $capacity")
    require(by.nonEmpty || allowGlobal,
      "pack_units: empty `by` sorts the whole frame in ONE partition; " +
        "set allow_global=true only for small frames, or pack per group " +
        "(source, language, shard)")
    require(!df.columns.contains(unitCol),
      s"pack_units: input already has a '$unitCol' column; pick another name")
    val runCol = "__pack_run"
    require(!df.columns.contains(runCol),
      s"pack_units: input already has a '$runCol' column")
    val cost = coalesce(col(costCol).cast("long"), lit(0L))
    val key = md5(concat(lit(seed), lit(":"),
      coalesce(col(idCol).cast("string"), lit(""))).cast("binary"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(by.map(col): _*)
      .orderBy(key.asc, col(idCol).asc)
    df.withColumn(runCol, sum(cost).over(w))
      .withColumn(unitCol,
        floor((col(runCol) - cost).cast("double") / lit(capacity.toDouble)))
      .drop(runCol)
  }

  /**
   * Mongo-read-shaped ORDER BY / OFFSET / LIMIT over any DataFrame:
   * multi-key sort with per-key direction, skip, limit.
   *
   * Scale note: skip/limit compile to Catalyst's GlobalLimit-with-offset
   * (Dataset.offset, Spark ≥3.4) — executors take only local prefixes and
   * the driver assembles skip+limit rows; no global window, no full
   * single-partition sort. Sorting needs a total order: pass a tie-breaking
   * unique key in `sort` for deterministic results.
   */
  def findLike(df: DataFrame,
               sort: Seq[(String, Int)] = Nil,
               skip: Int = 0,
               limit: Option[Int] = None): DataFrame = {
    var d = df
    if (sort.nonEmpty) {
      val keys = sort.map { case (f, dir) => if (dir >= 0) col(f).asc else col(f).desc }
      d = d.orderBy(keys: _*)
    }
    if (skip > 0) {
      require(sort.nonEmpty, "skip without sort is nondeterministic")
      d = d.offset(skip)
    }
    limit.foreach(n => d = d.limit(n))
    d
  }

  /**
   * Per-group row cap (beyond-reference; the domain/source-quota
   * curation primitive next to budgetSample's cost-based cut): within
   * each `by` group, keep at most `cap` rows — "at most N documents per
   * domain" (the CCNet/RefinedWeb-style dominance guard that stops one
   * crawl host from flooding the training mix).
   *
   * Selection order inside a group:
   *  - `orderBy` given ((field, ±1) keys, sort-component format): keep
   *    the top rows under that order — "the N highest-quality docs per
   *    source" — with `idCol` ascending as the deterministic tiebreak.
   *    No hashing: the rule replays as a plain SQL row_number() on any
   *    engine, which is how the DuckDB oracle checks it bit-exactly.
   *  - `orderBy` empty: a seeded UNIFORM draw — rank by
   *    md5(seed ++ ":" ++ id), then id. Same key string as hashShuffle,
   *    so the kept subset is engine-replayable, independent of input
   *    partitioning, and independent of hashSplit/hashSample decisions
   *    (different hashed strings). Null ids take the fixed
   *    md5(seed ++ ":") key (hashShuffle's documented collision) and
   *    tie-sort first among themselves — kept or cut deterministically,
   *    never dropped from both sides of the cap.
   *
   * At scale: ONE hash exchange on the group keys + in-partition sort +
   * row_number — WindowOp's exact shape (no global sort, no driver
   * state). A per-group RANK is inherently skew-bound: one group's rows
   * sort in one task and AQE cannot split a window partition, so a
   * pathological single-domain corpus pays that group's sort in one
   * task. Mitigation when a group approaches a partition's memory is to
   * pre-thin with hashSample (rate ≈ cap / |group|) or cap on a finer
   * key first — both narrow, both deterministic. Empty `by` funnels the
   * corpus through ONE partition and must be opted into via allowGlobal,
   * mirroring WindowOp's and budgetSample's contract.
   */
  def groupCap(df: DataFrame, idCol: String, cap: Int, by: Seq[String],
               orderBy: Seq[(String, Int)] = Nil, seed: String = "",
               allowGlobal: Boolean = false): DataFrame = {
    require(cap >= 1, s"group_cap: cap must be >= 1, got $cap")
    require(by.nonEmpty || allowGlobal,
      "group_cap: empty `by` ranks the whole frame in ONE partition; " +
        "set allow_global=true only for small frames, or cap per group " +
        "(source, domain, language)")
    val rnCol = "__cap_rn"
    require(!df.columns.contains(rnCol),
      s"group_cap: input already has a '$rnCol' column")
    val keys: Seq[Column] =
      if (orderBy.nonEmpty)
        orderBy.map { case (f, dir) => if (dir >= 0) col(f).asc else col(f).desc } :+
          col(idCol).asc
      else Seq(
        md5(concat(lit(seed), lit(":"),
          coalesce(col(idCol).cast("string"), lit(""))).cast("binary")).asc,
        col(idCol).asc)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(by.map(col): _*).orderBy(keys: _*)
    df.withColumn(rnCol, row_number().over(w))
      .filter(col(rnCol) <= cap)
      .drop(rnCol)
  }

  /**
   * groupCap on a stream (the `group_cap` comp_type in a streaming job,
   * flatMapGroupsWithState over an arbitrary Row schema): keep the FIRST
   * `cap` rows per `by` group over the stream's LIFETIME.
   *
   * A stream has no engine-replayable order, so the kept subset follows
   * arrival order. What IS exact is the cap itself (never more than
   * `cap` rows per group emitted, across ALL microbatches) and that every
   * emitted row came from the input. StreamingJobsSpec pins both across a
   * multi-batch drain.
   *
   * State: ONE Long counter per distinct group, GroupStateTimeout.
   * NoTimeout — and that is the contract, not an omission: a LIFETIME
   * quota cannot expire state, because an evicted counter would re-admit
   * rows past the cap the moment the group reappears. State therefore
   * grows with the number of distinct groups ever seen and never
   * shrinks; it is bounded only by keying on bounded-cardinality
   * columns (source, language, shard — never a per-document id), the
   * same envelope as any per-group streaming aggregate. A time-scoped
   * quota ("N per source per day") is a different operator: window the
   * key by event time and accept watermark-TTL eviction. Null group
   * values key as a reserved token, so a null source is ONE group with
   * its own quota, mirroring groupCap's null-key window partition.
   */
  def streamingGroupCap(df: DataFrame, by: Seq[String], cap: Int): DataFrame = {
    require(cap >= 1, s"group_cap: cap must be >= 1, got $cap")
    require(by.nonEmpty, "group_cap: a stream needs non-empty `by` group columns")
    val missing = by.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"group_cap: missing group column(s): ${missing.mkString(", ")}")
    val rowEnc: Encoder[Row] = Encoders.row(df.schema)
    // collision-free composite key: length-prefixed elements (a plain
    // separator join would conflate ("a b","c") with ("a","b c"));
    // null keys get a reserved marker no real length-prefix produces
    df.groupByKey { r: Row =>
        by.map { c =>
          val v = r.getAs[Any](c)
          if (v == null) "n:" else { val s = v.toString; s"${s.length}:$s" }
        }.mkString("|")
      }(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (_: String, batch: Iterator[Row], state: GroupState[Long]) =>
          val already = state.getOption.getOrElse(0L)
          val room = math.max(cap - already, 0L).toInt
          val kept = batch.take(room).toVector
          if (kept.nonEmpty) state.update(already + kept.size)
          kept.iterator
      }(Encoders.scalaLong, rowEnc)
      .toDF()
  }

  /**
   * Typed field extraction from a JSON string column (beyond-reference;
   * the semi-structured face a training-data pipeline needs for event
   * `props` / crawl metadata blobs): each rule pulls one JSON path out
   * of `jsonCol` and lands it as a typed column.
   *
   * get_json_object + cast — both codegen'd, so the whole extraction is
   * a NARROW MAP inside whole-stage codegen next to the scan: no
   * shuffle, no UDF, no schema inference pass over the data (unlike
   * from_json-with-inference). Missing paths, JSON nulls, and
   * uncastable values all land as NULL (Spark's cast null-semantics) —
   * the lenient contract JSON blobs need. Paths are JSONPath
   * (`$.field`); a bare field name is normalized to `$.field`.
   *
   * `keepSource=false` drops the raw JSON column after extraction —
   * at 100 TB the blob is usually the widest column in the table, and
   * dropping it here lets column pruning keep it out of every
   * downstream exchange.
   */
  def jsonExtract(df: DataFrame, jsonCol: String,
                  rules: Seq[(String, String, String)],
                  keepSource: Boolean = true): DataFrame = {
    require(rules.nonEmpty, "json_extract: needs at least one field rule")
    require(df.columns.contains(jsonCol),
      s"json_extract: no column '$jsonCol' in ${df.columns.mkString(", ")}")
    val dests = rules.map(_._2)
    require(dests.distinct.size == dests.size,
      s"json_extract: duplicate dest names in ${dests.mkString(", ")}")
    dests.foreach(d => require(!df.columns.contains(d),
      s"json_extract: input already has a '$d' column; pick another dest"))
    val typed = rules.map { case (path0, dest, t) =>
      val path = if (path0.startsWith("$")) path0 else s"$$.$path0"
      val raw = get_json_object(col(jsonCol), path)
      // try_cast, not cast: under ANSI mode a cast THROWS on malformed
      // input, and "some blob carries a string where most carry ints"
      // is normal JSON — lenient NULL is this operator's contract
      val cast = t match {
        case "string"  => raw
        case "integer" => raw.try_cast("long")
        case "float"   => raw.try_cast("double")
        case "boolean" => raw.try_cast("boolean")
        case other => throw new IllegalArgumentException(
          s"json_extract: unknown type '$other' for '$dest' " +
            "(string | integer | float | boolean)")
      }
      cast.as(dest)
    }
    val base = df.select(df.columns.map(col).toSeq ++ typed: _*)
    if (keepSource) base else base.drop(jsonCol)
  }

  /** Unpivot/melt (beyond-reference; the reshape inverse of
    * AggregateOp.pivoted): `valueCols` become (variable, value) row pairs
    * next to the `ids`. Dataset.unpivot is an Expand — each input row
    * emits |valueCols| rows in the same task, no shuffle. Null cells are
    * RETAINED (unlike SQL UNPIVOT's default EXCLUDE NULLS) — every
    * id×valueCol emits exactly one row (pinned in ReshapePropertySpec).
    * Value columns must share a least common type (Spark coerces;
    * incompatible mixes are a loud AnalysisException). */
  def unpivot(df: DataFrame, ids: Seq[String], valueCols: Seq[String],
              varName: String = "variable", valueName: String = "value"): DataFrame = {
    require(valueCols.nonEmpty, "unpivot needs at least one value column")
    df.unpivot(ids.map(col).toArray, valueCols.map(col).toArray, varName, valueName)
  }
}
