package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import graft.util.JsonStr.quote

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR. Queries run in sorted name order after a warmup
  * pass at sf0.001 so JVM/codegen warmup doesn't land on an arbitrary
  * query; failures are recorded per-query instead of being swallowed.
  *
  * Output, in order (a reader of the log tail sees only the last ~2000
  * characters, so the costliest detail comes last):
  *  - `{"metric":"calibration",...}`: the median of 5 timed runs of a
  *    seeded 1M-row `spark.range` aggregate that reads no file — a
  *    box-speed anchor, so two runs on different boots can be compared
  *    both raw and normalised by it;
  *  - `{"metric":"per_query_part","part":i,"of":n,"queries":{...}}`
  *    chunks of about 1400 characters: the per-query medians sorted by
  *    descending median and cut into parts, so part 1 holds the
  *    costliest queries. Parts print from n down to 1, so part 1 sits
  *    just before the headline;
  *  - the headline `{"metric":"total",...}`: total, counts, sf, no
  *    per-query map.
  * The full per-query map, the spreads and the calibration sit only in
  * BENCH_LOCAL.json (BENCH_FILTERED.json for a name-restricted run).
  *
  * Each query is timed SPARK_GRAFT_REPS times (default 3) and reported
  * as the MEDIAN, with a per-query spread in "spread".
  *
  * Reps are INTERLEAVED (rep-major): rep 1 of all queries runs first,
  * then rep 2, then rep 3. With the old query-major loop (all reps of
  * one query back-to-back) a single loaded minute inflated EVERY rep of
  * whichever few queries it landed on, so their medians were hostage to
  * load — BENCH_r06/r07/r08 each recorded 4-5x inflation on queries
  * whose code hadn't changed (e.g. r08: q_job_map_fanout 3.53 s recorded
  * vs 0.67 s quiet). Rep-major spreads a loaded window across one rep of
  * many queries instead, and each per-query median discards that rep.
  * A cross-round regression on an untouched query is machine load until
  * two quiet reruns reproduce it.
  *
  * Regression detectability for the expensive queries: 3 reps of a
  * multi-second iterative query on a shared box give [min,max] spreads
  * that swamp the >=1.5x regression rule (BENCH_r15: q_job_ivf_many
  * [1.96, 7.55] s). Two countermeasures:
  *  - queries whose 3-rep median exceeds [[SlowThresholdSec]] are topped
  *    up (rep-major, same interleaving argument) to SPARK_GRAFT_REPS_SLOW
  *    total reps (default 9), so their medians rest on a real sample;
  *  - "spread" is the INTERQUARTILE range [p25, p75] once a query has
  *    >= 5 reps ([min,max] below that). The regression rule compares
  *    MEDIANS, and median stability is what the IQR measures; the raw
  *    max over 9 reps on a shared box measures the box, not the plan. */
object Bench {

  /** Median above this (seconds) marks a query as expensive enough to
    * deserve the slow-query rep top-up — the >=1.5x regression rule is
    * meaningless below it anyway (sub-second numbers are scheduler
    * noise at bench scale). */
  val SlowThresholdSec = 1.0

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // sf0.1 files are ~20 MB: the 128 MB default would put whole
      // file-to-file pipelines on one task; 8 MB restores scan parallelism
      // at bench scale (at production scale files exceed 128 MB and the
      // default takes over)
      .config("spark.sql.files.maxPartitionBytes", s"${8 * 1024 * 1024}")
      .config("spark.sql.files.openCostInBytes", s"${1024 * 1024}")
      // r22 MEASUREMENT-INTENT FIX (declared in OPTIMIZATION_r22.md with
      // before/after totals): the warmup pass below exists so codegen/JIT
      // cost lands outside the timed loop — but Spark's whole-stage-codegen
      // compile cache holds only 100 entries BY DEFAULT, and 174 queries
      // carry several codegen units each, so the cache thrashed and every
      // timed rep RECOMPILED its units (Janino, not the engine, was ~40%
      // of the suite: 97.6/94.2/103.4 s across three runs at the default
      // vs 58.3 s at 5000 — same code, same box, same protocol).
      // Parameterised; the default is sized for "more shapes than the
      // suite will ever hold" and is the setting any long-lived driver
      // running heterogeneous queries (the job-per-minute control plane)
      // wants in production — it is a compiler cache keyed on generated
      // source text, not data or results; every rep still computes from
      // the parquet inputs.
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "5000"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def r4(d: Double): String = "%.4f".formatLocal(java.util.Locale.ROOT, d)

    // Box-speed anchor before any query runs: a seeded aggregate over an
    // in-memory range, so it measures CPU, codegen and shuffle, not IO.
    // One untimed run pays the JIT; the median of 5 is the anchor.
    def calibrate(): Double = {
      import org.apache.spark.sql.functions.{col, rand, sum}
      val t0 = System.nanoTime()
      spark.range(0, 1000000, 1, cpus.toInt)
        .select((col("id") % 1000).as("k"), rand(42).as("v"))
        .groupBy("k").agg(sum("v")).collect()
      (System.nanoTime() - t0) / 1e9
    }
    calibrate()
    val calib = Vector.fill(5)(calibrate()).sorted
    val calibJson =
      s"""{"metric":"calibration","value":${r4(calib(2))},"unit":"sec","reps":5,"rows":1000000,"spread":[${r4(calib.head)},${r4(calib.last)}]}"""
    println(calibJson)

    // Optional args restrict the run to the named queries (dev iteration);
    // the driver invokes with no args = full suite. A misspelled name must
    // fail loudly — silently matching nothing produces a valid-looking
    // empty artifact (total=0) that can be mistaken for a real result.
    val all = SparkEntry.queries.toSeq.sortBy(_._1)
    val unknown = args.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    val sorted = if (args.isEmpty) all else all.filter(q => args.contains(q._1))

    // Warmup at the smallest scale factor: exercises codegen/JIT for every
    // query's plan shape outside the timed loop.
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR", "/root/testdata/sf0.001")
    sorted.foreach { case (name, fn) =>
      // Non-fatal, but LOUD: a query broken only at warmup scale would
      // otherwise skip warmup invisibly and absorb codegen cost into its
      // first timed rep.
      try fn(spark, warmDir).count() catch {
        case e: Throwable => System.err.println(
          s"[bench] warmup failed for $name: ${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).take(200))
      }
    }
    // drop the ~40 persisted tables the warmup pass accumulated (operators
    // persist signature/fingerprint tables); leaking them into the timed
    // loop distorts the first queries by several ×
    spark.catalog.clearCache()

    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt.max(1)
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // Rep-major loop (see scaladoc): a loaded window inflates one rep of
    // many queries — each discarded by that query's median — instead of
    // all reps of a few.
    val timed = scala.collection.mutable.LinkedHashMap[String, Vector[Double]]()
    sorted.foreach { case (name, _) => timed(name) = Vector.empty }
    def timeOne(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit = {
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).count(); true }
        catch { case e: Throwable =>
          errors(name) = (e.getClass.getSimpleName + ": " +
            String.valueOf(e.getMessage)).take(200)
          false
        }
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache() // each run measured self-contained
      // An errored rep usually dies fast: appending its (near-zero)
      // duration would DEFLATE the median, so a query that starts failing
      // mid-run reads as a speedup with only n_errors hinting otherwise.
      // Only successful reps are timings.
      if (ok) timed(name) = timed(name) :+ dt
    }
    (1 to reps).foreach { _ =>
      sorted.foreach { case (name, fn) => timeOne(name, fn) }
    }

    // Slow-query top-up (see scaladoc): expensive queries get enough reps
    // for a load-robust median + IQR. Errored queries are excluded — 9
    // reps of a failure add nothing.
    val repsSlow = sys.env.getOrElse("SPARK_GRAFT_REPS_SLOW", "9").toInt.max(reps)
    val slow = sorted.filter { case (name, _) =>
      !errors.contains(name) && {
        val ts = timed(name).sorted
        ts(ts.size / 2) > SlowThresholdSec
      }
    }
    (reps + 1 to repsSlow).foreach { _ =>
      slow.foreach { case (name, fn) => timeOne(name, fn) }
    }

    // a query whose EVERY rep errored has no timings: it lives in the
    // errors map / n_errors only — a median of zero successful reps is
    // not a number worth printing
    val results = sorted.map { case (name, _) => name -> timed(name).sorted }
      .filter { case (_, ts) => ts.nonEmpty }
    def median(ts: Seq[Double]): Double = ts(ts.size / 2) // ts pre-sorted
    // spread = IQR once a query has >= 5 reps; [min,max] below that
    def spreadOf(ts: Seq[Double]): (Double, Double) =
      if (ts.size >= 5) (ts(ts.size / 4), ts(ts.size - 1 - ts.size / 4))
      else (ts.head, ts.last)

    // The driver captures only the LAST ~2000 chars of output (BENCH_r04/
    // r05 both recorded parsed:null because the full line, with the spread
    // map, ran ~4 KB and its {"metric","value"...} head fell off the
    // window). stdout gets 4-decimal medians only, printed after
    // spark.stop(); the full-precision detail (spreads included) goes to
    // BENCH_LOCAL.json.
    // one derivation of the per-query JSON fragments, shared by the file's
    // "queries" map and the chunked per_query_part lines below, so the
    // two can never diverge in precision or quoting
    def entry(k: String, ts: Seq[Double]): String = s"${quote(k)}:${r4(median(ts))}"
    val qs = results.map { case (k, ts) => entry(k, ts) }.mkString("{", ",", "}")
    val spread = results
      .map { case (k, ts) =>
        val (lo, hi) = spreadOf(ts); s"${quote(k)}:[$lo,$hi]" }
      .mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => s"${quote(k)}:${quote(v)}" }.mkString("{", ",", "}")
    val total = results.map { case (_, ts) => median(ts) }.sum
    // compact total = sum of the ROUNDED per-query medians, so the printed
    // line is internally consistent (values sum to the total a strict
    // parser recomputes); summed as BigDecimal so the printed decimals add
    // up EXACTLY (Double addition of 52 four-decimal values accumulates
    // ulp noise a strict parser would flag); full-precision total lives in
    // BENCH_LOCAL.json
    val totalRounded =
      results.map { case (_, ts) => BigDecimal(r4(median(ts))) }.sum
    // "total" sums only queries with >= 1 successful rep (n_timed of
    // them); when any query errored, the headline total is PARTIAL — a
    // query that starts failing every rep would otherwise shrink the
    // total and read as a speedup against a previous clean run. The
    // explicit flag makes round-over-round comparison refuse silently
    // comparing a partial total against a full one.
    val partial =
      if (errors.nonEmpty) s""","partial":true,"n_timed":${results.size}"""
      else ""
    val detail =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"spread":$spread,"reps":$reps,"reps_slow":$repsSlow,"errors":$errJson,"n_queries":${sorted.size},"n_errors":${errors.size}$partial,"sf":${quote(sfDir)},"calibration":$calibJson}"""
    // A filtered dev run must not clobber the full-suite artifact the
    // driver and the round notes read (a 1-query rerun once overwrote the
    // 88-query BENCH_LOCAL.json): name-restricted runs write elsewhere.
    val outName = if (args.isEmpty) "BENCH_LOCAL.json" else "BENCH_FILTERED.json"
    Files.writeString(Paths.get(outName), detail + "\n")
    spark.stop()
    // A SHORT headline — total, counts, sf, no per-query map — printed
    // last, so the log tail always ends in one complete parseable JSON
    // object; its format is fixed, readers parse it.
    val headline =
      s"""{"metric":"total","value":${totalRounded.underlying.toPlainString},"unit":"sec","reps":$reps,"n_queries":${sorted.size},"n_errors":${errors.size}$partial,"sf":${quote(sfDir)}}"""
    // The per-query map as chunks of <= ~1400 chars (the full map outgrew
    // a ~2000-char log tail at ~85 queries), cut in descending
    // median order and printed last part first, so the part holding the
    // costliest queries lands next to the headline inside the tail.
    val chunks = scala.collection.mutable.ArrayBuffer[Seq[String]]()
    var cur = scala.collection.mutable.ArrayBuffer[String]()
    var curLen = 0
    val byCost = results.sortBy { case (k, ts) => (-median(ts), k) }
    byCost.map { case (k, ts) => entry(k, ts) }.foreach { e =>
      if (curLen + e.length + 1 > 1400 && cur.nonEmpty) {
        chunks += cur.toSeq; cur = scala.collection.mutable.ArrayBuffer[String](); curLen = 0
      }
      cur += e; curLen += e.length + 1
    }
    if (cur.nonEmpty) chunks += cur.toSeq
    chunks.zipWithIndex.reverse.foreach { case (c, i) =>
      println(s"""{"metric":"per_query_part","part":${i + 1},"of":${chunks.size},"queries":${c.mkString("{", ",", "}")}}""")
    }
    println(headline)
  }
}
