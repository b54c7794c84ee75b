package graft

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Drift guard for COVERAGE.md: the manifest maps the reference's 42
  * combination-job shapes to CORRECTNESS queries and indexes every query,
  * and this spec pins it to the code in BOTH directions so it cannot
  * silently rot as queries are added, renamed, or removed. The same
  * two-way pin holds the `oracle/` and `gate/` resources to the query
  * map. No Spark session needed — `SparkEntry.queries` is a map of
  * thunks. */
class CoverageManifestSpec extends AnyFunSuite {

  private val manifest = new String(
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("COVERAGE.md")),
    java.nio.charset.StandardCharsets.UTF_8)

  test("every CORRECTNESS query is cited in COVERAGE.md") {
    val missing = SparkEntry.queries.keySet.filterNot(manifest.contains)
    assert(missing.isEmpty,
      s"queries missing from COVERAGE.md (add them to the query index): " +
        missing.toSeq.sorted.mkString(", "))
  }

  test("every q_* name cited in COVERAGE.md is a live query") {
    // \b works because '_' is a word char: q_job_sim never matches inside
    // q_job_sim_knn. Catches renamed/removed queries still cited anywhere
    // in the manifest (tables, prose, or the index). A trailing underscore
    // (`q_job_*` glob prose) is a family prefix, not a query name.
    val cited = "\\bq_[a-z0-9_]*[a-z0-9]\\b".r.findAllIn(manifest).toSet
    val stale = cited -- SparkEntry.queries.keySet
    assert(stale.isEmpty,
      s"COVERAGE.md cites queries that do not exist: ${stale.toSeq.sorted.mkString(", ")}")
  }

  test("every beyond-reference query family is cited in COVERAGE.md") {
    val families = "\\b(dedup|sim|text)_[a-z0-9_]+\\b".r.findAllIn(manifest).toSet
    // a cited name that is a registered comp_type (e.g. text_normalize,
    // text_analysis) is a component citation, not a query citation
    val stale = families -- SparkEntry.queries.keySet --
      graft.api.ComponentSchemas.compTypes.toSet
    assert(stale.isEmpty,
      s"COVERAGE.md cites unknown non-q queries: ${stale.toSeq.sorted.mkString(", ")}")
  }

  private def resourceNames(dir: String, suffix: String): Set[String] = {
    val ls = java.nio.file.Files.list(java.nio.file.Paths.get(s"src/main/resources/$dir"))
    try ls.iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(suffix)).map(_.stripSuffix(suffix)).toSet
    finally ls.close()
  }
  private val oracleFiles = resourceNames("oracle", ".sql")
  private val gateDirs = resourceNames("gate", "")

  test("every oracleSql key is a queries key and the gate is fully oracled") {
    // oracleSql is loaded from oracle/<query>.sql, one file per query.
    // The driver records a weaker rows-only check for queries without
    // oracle SQL; this project keeps the gate at 100% oracle coverage
    val orphanOracles = oracleFiles -- SparkEntry.queries.keySet
    assert(orphanOracles.isEmpty,
      s"oracle files without a query: ${orphanOracles.toSeq.sorted.mkString(", ")}")
    val unoracled = SparkEntry.queries.keySet -- oracleFiles
    assert(unoracled.isEmpty,
      s"queries without oracle SQL (driver downgrades to rows-only): " +
        unoracled.toSeq.sorted.mkString(", "))
    assert(SparkEntry.oracleSql.keySet === oracleFiles)
  }

  test("every gate/<query>/ job directory names a query, and every q_job_* query has one") {
    val orphanJobs = gateDirs -- SparkEntry.queries.keySet
    assert(orphanJobs.isEmpty,
      s"gate job directories without a query: ${orphanJobs.toSeq.sorted.mkString(", ")}")
    val missing = SparkEntry.queries.keySet.filter(_.startsWith("q_job_")) -- gateDirs
    assert(missing.isEmpty,
      s"q_job_* queries without a gate/<query>/ directory: ${missing.toSeq.sorted.mkString(", ")}")
  }

  test("every twin query runs a gate/ directory whose oracle equals its own") {
    def oracleBytes(q: String): Seq[Byte] = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"src/main/resources/oracle/$q.sql")).toSeq
    SparkEntry.twinQueries.foreach { case (name, twin) =>
      assert(gateDirs.contains(twin), s"$name: twin $twin has no gate/ directory")
      assert(oracleBytes(name) == oracleBytes(twin),
        s"$name: oracle/$name.sql differs from its twin's oracle/$twin.sql")
      assert(!name.startsWith("q_job_"),
        s"$name: a q_job_* name is a gate directory of its own, not a twin")
    }
  }
}
