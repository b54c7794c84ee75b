package graft.tools

import org.scalatest.funsuite.AnyFunSuite
import org.json4s.jackson.JsonMethods

/** BenchDiff on fixture JSON: both accepted shapes (full BENCH_LOCAL
  * "queries" map; driver BENCH_r truncated "tail"), the >=1.5x-above-1s
  * regression rule, and the rendered summary. */
class BenchDiffSpec extends AnyFunSuite {

  private val local =
    """{"metric":"total","value":9.9,"unit":"sec","reps":3,"sf":"/x",
      |"queries":{"q_a":2.0,"q_b":0.40,"q_c":1.25,"q_new":0.5},
      |"spread":{"q_a":[1.9,2.2],"q_b":[0.3,0.5]},
      |"n_queries":4,"n_errors":0}""".stripMargin

  // a driver-shaped file: no queries map, a stdout tail cut mid-pair —
  // the leading fragment must be DROPPED (no quote), headline scalars
  // and spread arrays must not be mistaken for query timings
  private val driver =
    """{"n":17,"rc":0,"cpus":32,"sf":0.1,
      |"tail":"_cut_name\":0.11,\"q_a\":1.0,\"q_b\":0.45,\"q_gone\":0.7,
      |\"q_c\":0.8},\"spread\":{\"q_a\":[0.9,1.1]},\"reps\":3,
      |\"value\":9.1,\"n_queries\":3,\"n_errors\":0,\"sf\":0.1}",
      |"parsed":{"metric":"total","value":9.1}}""".stripMargin
      .replace("\n", "")

  test("queriesOf reads the full BENCH_LOCAL queries map, non-partial") {
    val (qs, partial) = BenchDiff.queriesOf(JsonMethods.parse(local))
    assert(!partial)
    assert(qs === Map("q_a" -> 2.0, "q_b" -> 0.40, "q_c" -> 1.25, "q_new" -> 0.5))
  }

  test("queriesOf recovers pairs from a driver tail, marked partial") {
    val (qs, partial) = BenchDiff.queriesOf(JsonMethods.parse(driver))
    assert(partial)
    // the cut fragment, headline scalars (value/sf/reps/n_*) and the
    // spread array entry are all excluded
    assert(qs === Map("q_a" -> 1.0, "q_b" -> 0.45, "q_gone" -> 0.7, "q_c" -> 0.8))
  }

  test("parseTail skips the envelope keys of the calibration and per-query part lines") {
    val tail =
      """{"metric":"calibration","value":0.2100,"unit":"sec","reps":5,"rows":1000000,"spread":[0.2,0.3]}
        |{"metric":"per_query_part","part":2,"of":2,"queries":{"q_b":0.4000}}
        |{"metric":"per_query_part","part":1,"of":2,"queries":{"q_a":2.0000}}
        |{"metric":"total","value":2.4,"unit":"sec","reps":3,"n_queries":2,"n_errors":0,"sf":"/x"}""".stripMargin
    assert(BenchDiff.parseTail(tail) === Map("q_a" -> 2.0, "q_b" -> 0.4))
  }

  test("diff: worst-first rows, only-in sets, regression rule") {
    val (prev, _) = BenchDiff.queriesOf(JsonMethods.parse(driver))
    val (cur, _) = BenchDiff.queriesOf(JsonMethods.parse(local))
    val rep = BenchDiff.diff(prev, cur, prevPartial = true)
    assert(rep.rows.map(_.name) === Seq("q_a", "q_c", "q_b"))
    // q_a 1.0 -> 2.0 (2x, >=1s: regression); q_c 0.8 -> 1.25 (1.56x,
    // >=1s: regression); q_b 0.45 -> 0.40 (improvement)
    assert(rep.regressions.map(_.name) === Seq("q_a", "q_c"))
    assert(rep.onlyPrev === Seq("q_gone"))
    assert(rep.onlyCur === Seq("q_new"))
    assert(math.abs(rep.medianRatio - 1.5625) < 1e-9)
  }

  test("sub-second and sub-1.5x swings are not regressions by policy") {
    assert(!BenchDiff.isRegression(BenchDiff.Row("q", 0.10, 0.45))) // 4.5x but 0.45s
    assert(!BenchDiff.isRegression(BenchDiff.Row("q", 2.0, 2.9)))   // 1.45x
    assert(BenchDiff.isRegression(BenchDiff.Row("q", 1.0, 1.5)))    // boundary in
  }

  test("render carries the PARTIAL banner, flags, and summary counts") {
    val rep = BenchDiff.diff(
      Map("q_a" -> 1.0, "q_gone" -> 0.5), Map("q_a" -> 2.0, "q_new" -> 0.3),
      prevPartial = true)
    val out = BenchDiff.render(rep)
    assert(out.contains("PARTIAL diff"))
    assert(out.contains("REGRESSION"))
    assert(out.contains("regressions (>=1.5x and >=1s): 1 — q_a"))
    assert(out.contains("only in prev (1): q_gone"))
    assert(out.contains("only in cur (1): q_new"))
  }

  test("main: --strict is the only flag; two paths required; typos are loud") {
    // flag filtering, not exit behavior (sys.exit in a suite would
    // kill the runner): bad arity must throw regardless of flags
    intercept[IllegalArgumentException] { BenchDiff.main(Array("a.json")) }
    intercept[IllegalArgumentException] {
      BenchDiff.main(Array("a.json", "b.json", "c.json", "--strict"))
    }
    // a typoed strict flag must be an ERROR, not silently ignored — a
    // scripted gate would otherwise exit 0 on real regressions
    for (typo <- Seq("--strict=true", "--Strict", "--sttrict")) {
      val e = intercept[IllegalArgumentException] {
        BenchDiff.main(Array("a.json", "b.json", typo))
      }
      assert(e.getMessage.contains("unknown flag"), s"$typo: ${e.getMessage}")
    }
  }

  test("end-to-end on the real round files when present") {
    val prev = new java.io.File("BENCH_r18.json")
    val cur = new java.io.File("BENCH_LOCAL.json")
    assume(prev.exists && cur.exists)
    val (p, pPartial) = BenchDiff.queriesOf(JsonMethods.parse(prev))
    val (c, cPartial) = BenchDiff.queriesOf(JsonMethods.parse(cur))
    assert(pPartial)  // driver shape: tail-recovered
    assert(!cPartial) // local shape: full map
    val rep = BenchDiff.diff(p, c, pPartial, cPartial)
    assert(rep.rows.nonEmpty)
    assert(rep.rows.forall(r => r.prev > 0 && r.cur > 0))
  }

  test("committed closing benches are FULL per-query maps and pair as the default diff") {
    // From r20 the closing gate commits BENCH_CLOSING_r{N}.json — the
    // full graft.Bench object — because BENCH_LOCAL.json is gitignored
    // and the driver tail keeps only ~69/174 queries (the six most
    // expensive were invisible to cross-round BenchDiff). This pins the
    // contract: every committed closing artifact parses as a full
    // (non-PARTIAL) map covering the whole suite, and the latest two
    // (when two rounds have run) diff cleanly as closing-vs-closing.
    val closings = new java.io.File(".").listFiles()
      .filter(f => f.getName.matches("BENCH_CLOSING_r\\d+\\.json"))
      .sortBy(f => f.getName.replaceAll("\\D", "").toInt)
    assert(closings.nonEmpty,
      "no BENCH_CLOSING_r*.json committed — the closing gate must " +
        "preserve the full per-query bench (VERDICT r19 #3)")
    val parsed = closings.map { f =>
      val (q, partial) = BenchDiff.queriesOf(JsonMethods.parse(f))
      assert(!partial, s"${f.getName} must carry the full queries map")
      assert(q.size >= 150, s"${f.getName}: only ${q.size} queries — not a full suite run")
      f.getName -> q
    }
    if (parsed.length >= 2) {
      val Array((_, p2), (_, c2)) = parsed.takeRight(2)
      val rep = BenchDiff.diff(p2, c2)
      assert(rep.rows.size >= 150) // full overlap, not a tail remnant
    }
  }
}
