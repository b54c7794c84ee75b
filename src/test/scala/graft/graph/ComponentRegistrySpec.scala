package graft.graph

import graft.config.{JobConfig, Param}
import org.json4s.{JNothing, JObject}
import org.scalatest.funsuite.AnyFunSuite

/** The declared params of every comp_type are well-formed: what GET
  * /schemas publishes as a default or an allowed value is a value the
  * param's own reader accepts. */
class ComponentRegistrySpec extends AnyFunSuite {

  private def emptySpec(d: ComponentDef) =
    JobConfig.ComponentSpec("c", d.name, JNothing, Map.empty, Map.empty, Map.empty, Nil, Nil)

  /** The component with the single key `p` set to `v`'s JSON form. */
  private def withValue(d: ComponentDef, p: Param[_], v: Any) =
    emptySpec(d).copy(params = JObject(p.name -> Param.json(v)))

  test("every ComponentDef: unique param names, defaults and choices pass their own reader") {
    assert(Components.all.size === Components.byName.size, "duplicate comp_type")
    for (d <- Components.all) {
      val names = d.params.map(_.name)
      assert(names.distinct === names, s"${d.name}: duplicate param names")
      assert(names.toSet.intersect(Components.baseFields.map(_.name).toSet).isEmpty,
        s"${d.name}: a param shadows a wiring field")
      d.params.foreach(p => checkParam(d, p))
    }
  }

  private def checkParam[T](d: ComponentDef, p: Param[T]): Unit = {
    val at = s"${d.name}.${p.name}"
    assert(!(p.required && p.default.isDefined), s"$at: required with a default")
    assert(p.desc.nonEmpty, s"$at: no description")
    // the default, written as JSON, reads back to itself — and is one of
    // the allowed values when the param is a choice
    p.default.foreach(v => assert(p.read(withValue(d, p, v)) === Some(v), at))
    p.choices.foreach(v => assert(p.read(withValue(d, p, v)) === Some(v), at))
    assert(p.choices.isEmpty || p.default.exists(p.choices.contains), s"$at: default not a choice")
    // absent: no value; a required param's read is the missing-param error
    if (p.required) intercept[IllegalArgumentException](p(emptySpec(d)))
    else assert(p.read(emptySpec(d)).isEmpty, at)
  }

  test("a value outside a param's choices is rejected, naming the component and key") {
    val d = Components.byName("gopher_filter")
    val emit = d.params.find(_.name == "emit").get
    val e = intercept[IllegalArgumentException](emit.read(withValue(d, emit, "bogus")))
    assert(e.getMessage === "component c: param 'emit' must be one of docs | flagged, got emit=bogus")
  }

  test("a build reading a param its ComponentDef does not declare is refused") {
    val d = Components.byName("merge")
    val b = new BuildCtx(null, emptySpec(d), d, Map.empty, Nil)
    val e = intercept[IllegalArgumentException](b(Components.filepath))
    assert(e.getMessage.contains("merge: the build reads param 'filepath'"))
    // the same key declared under a comp_type's own wording is the same param
    val w = Components.byName("write_ivf_index")
    assert(new BuildCtx(null, emptySpec(w), w, Map.empty, Nil).opt(Components.filepath).isEmpty)
  }
}
