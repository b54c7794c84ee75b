package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.config.JobConfig
import graft.graph.JobGraph

/** The gate job corpus (`src/main/resources/gate/<query>/NN-<step>.json`) as a
  * validation-regression set: every job file, its placeholders resolved
  * to a temp directory, passes the strict config parse (unknown keys,
  * wrong types, values outside a choice), wiring validation and
  * `POST /jobs` registration. No Spark session exists here: the
  * registry gets one that fails if it is ever forced. */
class GateCorpusSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/resources/gate")
  private def list(dir: Path): Seq[Path] = {
    val ls = Files.list(dir)
    try ls.iterator().asScala.toSeq.sortBy(_.getFileName.toString) finally ls.close()
  }

  private val tmp = {
    val d = Files.createTempDirectory("gate-corpus").toFile
    d.deleteOnExit()
    d.getPath
  }
  private val subs = Map("__DIR__" -> tmp, "__TMP__" -> tmp)
  private val registry = new graft.api.ControlPlane.JobRegistry(
    fail("job registration must not need a Spark session"), None)

  for (dir <- list(root)) {
    val query = dir.getFileName.toString
    test(s"$query: every job parses, validates and registers") {
      val files = list(dir)
      assert(files.nonEmpty, s"$query has no job files")
      for (f <- files) withClue(s"${f.getFileName}: ") {
        // the runner orders jobs by file name
        assert(f.getFileName.toString.matches("""\d{2}-[a-z0-9_]+\.json"""))
        val text = new String(Files.readAllBytes(f), UTF_8)
        JobGraph.validate(JobConfig.parse(text, subs))
        // the temp path holds no JSON metacharacters, so a text
        // substitution is exact here
        registry.createJob(subs.foldLeft(text) { case (t, (k, v)) => t.replace(k, v) })
      }
    }
  }
}
