package graft.tools

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Cross-round bench comparison: reads two bench JSON files and prints
  * (query, prev, cur, ratio) sorted worst-first, with the round-gate
  * regression rule applied (ratio >= 1.5 AND current median >= 1 s —
  * sub-second queries swing 2-3x under machine load on this box, so
  * they never count as regressions).
  *
  * Accepts both shapes a round produces:
  *   - BENCH_CLOSING_r{N}.json / BENCH_LOCAL.json / BENCH_FILTERED.json
  *     (graft.Bench output): the full object with a "queries" map of
  *     per-query median seconds;
  *   - the driver's BENCH_r{N}.json: no per-query map, only a ~2000-char
  *     "tail" of the bench stdout — the per-query pairs still inside the
  *     tail are recovered by scanning `"name":seconds` pairs (spread
  *     arrays and headline scalars don't match), and the diff is marked
  *     PARTIAL with the recovered count.
  *
  * The DEFAULT full diff is closing-vs-closing: each round's gate
  * commits its final full-suite bench as BENCH_CLOSING_r{N}.json
  * (BENCH_LOCAL.json itself is gitignored, and the driver's tail keeps
  * only ~69/174 queries — before r20 the six most expensive queries
  * were invisible to cross-round comparison). BenchDiffSpec pins the
  * committed closing artifacts full (non-PARTIAL) and diffable.
  *
  * Run: sbt "runMain graft.tools.BenchDiff BENCH_CLOSING_r20.json BENCH_LOCAL.json"
  */
object BenchDiff {

  /** Headline/envelope scalar keys that must not be mistaken for
    * query timings when scanning a truncated driver tail. */
  private val NonQueryKeys = Set(
    "metric", "value", "unit", "reps", "reps_slow", "n_queries",
    "n_errors", "sf", "n", "rc", "cpus", "part", "of", "rows")

  final case class Row(name: String, prev: Double, cur: Double) {
    def ratio: Double = cur / prev
  }

  final case class Report(
      rows: Seq[Row],            // shared queries, worst ratio first
      onlyPrev: Seq[String],
      onlyCur: Seq[String],
      prevPartial: Boolean,
      curPartial: Boolean) {
    def regressions: Seq[Row] = rows.filter(isRegression)
    def medianRatio: Double = {
      val sorted = rows.map(_.ratio).sorted
      if (sorted.isEmpty) Double.NaN
      else if (sorted.size % 2 == 1) sorted(sorted.size / 2)
      else (sorted(sorted.size / 2 - 1) + sorted(sorted.size / 2)) / 2
    }
  }

  /** The round-gate rule: a regression worth acting on is >= 1.5x AND
    * at least 1 s now — anything faster is load noise by policy. */
  def isRegression(r: Row): Boolean = r.ratio >= 1.5 && r.cur >= 1.0

  /** Recover `"name":seconds` pairs from a truncated stdout tail. The
    * leading pair is usually cut mid-name; requiring the opening quote
    * drops it rather than inventing a short name. Spread entries are
    * arrays (`"q":[a,b]`) and never match. */
  def parseTail(tail: String): Map[String, Double] = {
    val pair = """"([A-Za-z_][A-Za-z0-9_]*)":([0-9]+(?:\.[0-9]+)?)""".r
    pair.findAllMatchIn(tail)
      .map(m => m.group(1) -> m.group(2).toDouble)
      .filterNot { case (k, _) => NonQueryKeys(k) }
      .toMap
  }

  /** (per-query medians, partial?) from either accepted shape. */
  def queriesOf(json: JValue): (Map[String, Double], Boolean) =
    json \ "queries" match {
      case JObject(fields) if fields.nonEmpty =>
        (fields.collect {
          case (k, JDouble(v)) => k -> v
          case (k, JDecimal(v)) => k -> v.toDouble
          case (k, JInt(v)) => k -> v.toDouble
          case (k, JLong(v)) => k -> v.toDouble
        }.toMap, false)
      case _ =>
        json \ "tail" match {
          case JString(tail) => (parseTail(tail), true)
          case _ => (Map.empty, true)
        }
    }

  def diff(prev: Map[String, Double], cur: Map[String, Double],
           prevPartial: Boolean = false, curPartial: Boolean = false): Report = {
    val shared = (prev.keySet & cur.keySet).toSeq
    val rows = shared.map(n => Row(n, prev(n), cur(n)))
      .sortBy(r => (-r.ratio, r.name))
    Report(rows,
      (prev.keySet -- cur.keySet).toSeq.sorted,
      (cur.keySet -- prev.keySet).toSeq.sorted,
      prevPartial, curPartial)
  }

  def render(rep: Report): String = {
    val sb = new StringBuilder
    def line(s: String): Unit = sb.append(s).append('\n')
    if (rep.prevPartial || rep.curPartial)
      line(s"PARTIAL diff: per-query map recovered from a truncated driver tail " +
        s"(prevPartial=${rep.prevPartial}, curPartial=${rep.curPartial})")
    line(f"${"query"}%-34s ${"prev"}%9s ${"cur"}%9s ${"ratio"}%7s")
    rep.rows.foreach { r =>
      val flag = if (isRegression(r)) "  REGRESSION" else ""
      line(f"${r.name}%-34s ${r.prev}%9.3f ${r.cur}%9.3f ${r.ratio}%7.2f$flag")
    }
    line("")
    line(f"compared ${rep.rows.size}%d queries; median ratio ${rep.medianRatio}%.2f; " +
      f"sum prev ${rep.rows.map(_.prev).sum}%.1f s -> cur ${rep.rows.map(_.cur).sum}%.1f s")
    line(s"regressions (>=1.5x and >=1s): ${rep.regressions.size}" +
      (if (rep.regressions.isEmpty) ""
       else rep.regressions.map(_.name).mkString(" — ", ", ", "")))
    if (rep.onlyPrev.nonEmpty)
      line(s"only in prev (${rep.onlyPrev.size}): ${rep.onlyPrev.mkString(", ")}")
    if (rep.onlyCur.nonEmpty)
      line(s"only in cur (${rep.onlyCur.size}): ${rep.onlyCur.mkString(", ")}")
    sb.result()
  }

  def main(args: Array[String]): Unit = {
    val (flags, paths) = args.partition(_.startsWith("--"))
    // unknown flags are ERRORS, not ignored: a typoed --strict would
    // otherwise make a scripted gate silently toothless (exit 0 on
    // real regressions, the exact failure mode --strict exists to fix)
    val unknown = flags.filterNot(_ == "--strict")
    require(unknown.isEmpty,
      s"unknown flag(s): ${unknown.mkString(", ")} — only --strict is accepted")
    val strict = flags.contains("--strict")
    require(paths.length == 2,
      "usage: BenchDiff <prev bench json> <cur bench json> [--strict]")
    def load(path: String): (Map[String, Double], Boolean) =
      queriesOf(JsonMethods.parse(new java.io.File(path)))
    val (prev, prevPartial) = load(paths(0))
    val (cur, curPartial) = load(paths(1))
    val rep = diff(prev, cur, prevPartial, curPartial)
    print(render(rep))
    // --strict makes the rule enforceable by a scripted gate (exit
    // status, not a log line somebody greps); default stays 0 because
    // cross-machine-state diffs legitimately flag environment drift a
    // human has to adjudicate (e.g. an I/O-bound staging query moving
    // with page-cache state)
    if (strict && rep.regressions.nonEmpty) sys.exit(2)
  }
}
