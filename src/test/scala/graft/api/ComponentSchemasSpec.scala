package graft.api

import org.scalatest.funsuite.AnyFunSuite

/** The discovery views rendered from the component registry: shapes of
  * the form/full/hidden views, the port block, and the job schema. */
class ComponentSchemasSpec extends AnyFunSuite {

  test("group_cap doc declares the never-expiring stream state") {
    // the state-growth contract IS the streaming semantics (a lifetime
    // quota cannot evict counters without re-admitting rows past the
    // cap), so the discovery surface must say so loudly — pin the phrasing
    val full = ComponentSchemas.fullSchemaJson("group_cap").get
    assert(full.contains("NEVER EXPIRES"),
      "group_cap's schema description must advertise that streaming " +
        "state grows with group cardinality and never expires")
    assert(full.contains("bounded-cardinality"),
      "…and steer users to bounded-cardinality group keys")
  }

  test("full/hidden views: wiring base fields + port contract attached") {
    // /full = form params + wiring fields + port metadata
    val full = ComponentSchemas.fullSchemaJson("filter").get
    assert(full.contains("\"rule\"") && full.contains("\"routes\"") &&
      full.contains("\"in_port_schemas\""))
    assert(full.contains("\"ports\"") && full.contains("\"pass\"") &&
      full.contains("\"fail\"") && full.contains("\"allow_no_inputs\":false"))
    // /hidden = ONLY the wiring fields (no per-type params)
    val hidden = ComponentSchemas.hiddenSchemaJson("filter").get
    assert(!hidden.contains("\"rule\"") && hidden.contains("\"routes\""))
    // sources advertise ALLOW_NO_INPUTS with no in ports
    val src = ComponentSchemas.fullSchemaJson("read_csv").get
    assert(src.contains("\"allow_no_inputs\":true") && src.contains("\"in\":[]"))
    // binary-input operators expose left/right
    val asof = ComponentSchemas.fullSchemaJson("asof_join").get
    assert(asof.contains("\"left\"") && asof.contains("\"right\""))
    // unknown type → None on every view
    assert(ComponentSchemas.fullSchemaJson("nope").isEmpty &&
      ComponentSchemas.hiddenSchemaJson("nope").isEmpty)
    // every registered type renders a well-formed full view (ports incl.)
    ComponentSchemas.compTypes.foreach { t =>
      val v = ComponentSchemas.fullSchemaJson(t).get
      assert(v.contains("\"ports\""), s"no ports block for $t")
      org.json4s.jackson.JsonMethods.parse(v) // throws on malformed JSON
    }
  }

  test("stream-static comp_types run in both folds and mark their static in port") {
    import org.json4s._
    val static = Map("dedup_against" -> "reference", "decontaminate" -> "benchmark",
      "range_join" -> "right", "asof_join" -> "right",
      "line_dedup" -> "reference", "outlier_filter" -> "reference")
    def staticPorts(t: String): Seq[String] = {
      val full = org.json4s.jackson.JsonMethods.parse(ComponentSchemas.fullSchemaJson(t).get)
      for (JObject(p) <- (full \ "ports" \ "in").children
           if p.contains("static" -> JBool(true)); ("name", JString(n)) <- p) yield n
    }
    for ((t, port) <- static) {
      assert(graft.graph.Components.byName(t).streams, t)
      assert(staticPorts(t) === Seq(port), t)
    }
    // the static side of line_dedup/outlier_filter is optional in a batch job
    assert(ComponentSchemas.fullSchemaJson("line_dedup").get.contains(
      """{"name":"reference","required":false,"multi":false,"static":true}"""))
    for (t <- ComponentSchemas.compTypes if !static.contains(t))
      assert(staticPorts(t).isEmpty, t)
  }

  test("job schema documents exactly the JobConfig.parse contract") {
    val js = ComponentSchemas.jobSchemaJson
    val parsed = org.json4s.jackson.JsonMethods.parse(js)
    // $defs preserved (not inlined) — reference schemas.py:362-388 parity
    assert(js.contains("$defs") && js.contains("#/$defs/Component"))
    // the top-level keys JobConfig.parse reads, and only those
    val props = (parsed \ "properties") match {
      case org.json4s.JObject(fs) => fs.map(_._1).toSet
      case _                      => Set.empty[String]
    }
    assert(props === Set("name", "num_of_retries", "strategy_type", "components"))
  }
}
