package graft.streaming

import graft.graph.Components
import org.scalatest.funsuite.AnyFunSuite

/** StreamingJobs' per-comp_type tables against the component registry:
  * a key the comp_type does not declare would fail only when a job
  * naming that comp_type is planned. */
class StreamingTablesSpec extends AnyFunSuite {

  private val tables: Seq[(String, Set[String])] =
    StreamingJobs.appliedParams.toSeq ++
      StreamingJobs.streamable.view.mapValues(_.needs.map(_._1).toSet).toSeq

  test("every streaming table key is a declared param of a comp_type that streams") {
    for ((t, keys) <- tables) {
      val d = Components.byName.get(t)
      assert(d.exists(_.streams), s"$t is not a streaming comp_type")
      for (k <- keys) assert(d.get.paramNames(k), s"$t declares no param '$k'")
    }
  }

  test("every value a streamable need allows is one of the param's choices") {
    for ((t, s) <- StreamingJobs.streamable;
         (k, StreamingJobs.OneOf(ok)) <- s.needs) {
      val choices = Components.byName(t).params.find(_.name == k).get.choices
      if (choices.nonEmpty)
        assert(ok.subsetOf(choices.map(_.toString).toSet), s"$t.$k: $ok vs $choices")
    }
  }
}
