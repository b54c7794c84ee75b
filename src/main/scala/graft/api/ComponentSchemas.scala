package graft.api

import org.json4s.jackson.JsonMethods.{compact, render}
import graft.config.Param
import graft.graph.{ComponentDef, Components, PortSpec}
import graft.util.JsonStr.quote

/**
 * Component config-schema discovery for UIs, mirroring the reference's
 * GET /schemas surface (reference: src/etl_core/api/routers/schemas.py:
 * 362-479 — per-component JSON schemas served from the component
 * registry). This object only renders: every view is JSON drawn from the
 * same registry (graph/Components.scala) that validation and both folds
 * read, so what is documented is what runs. Each comp_type is described
 * as a JSON-Schema-shaped object: `properties` with type + description,
 * and a `required` list. Each property also carries `default` when the
 * param has one and `enum` (its allowed values) when it is a choice —
 * both drawn from the same `Param` validation and the builds read. The
 * descriptions double as the user-facing parameter documentation.
 */
object ComponentSchemas {

  private def paramJson(pr: Param[_]): String = {
    def json(v: Any) = compact(render(Param.json(v)))
    s"${quote(pr.name)}:{" +
      s""""type":${quote(pr.kind.json)},""" +
      pr.default.map(v => s""""default":${json(v)},""").getOrElse("") +
      (if (pr.choices.isEmpty) "" else s""""enum":${json(pr.choices)},""") +
      s""""description":${quote(pr.desc)}}"""
  }

  /** Shared renderer for the form/full/hidden views: one place owns the
    * properties/required envelope shape. */
  private def renderSchema(d: ComponentDef, params: Seq[Param[_]],
                           withPorts: Boolean): String = {
    val props = params.map(paramJson).mkString("{", ",", "}")
    val required = params.filter(_.required).map(x => quote(x.name)).mkString("[", ",", "]")
    s"""{"comp_type":${quote(d.name)},"description":${quote(d.doc)},""" +
      s""""properties":$props,"required":$required""" +
      (if (withPorts) s",${portsJson(d)}}" else "}")
  }

  /** One component's JSON-Schema-shaped description (the FORM view:
    * per-type config params only — reference /{comp_type}/form,
    * schemas.py:410-440, serves the schema with GUI-hidden wiring fields
    * removed; here the registry already is that projection). */
  def schemaJson(compType: String): Option[String] =
    Components.byName.get(compType).map(d => renderSchema(d, d.params, withPorts = false))

  /** All comp_types with their schemas (GET /schemas). */
  def listJson: String =
    Components.all.map(d => renderSchema(d, d.params, withPorts = false)).mkString("[", ",", "]")

  def compTypes: Seq[String] = Components.all.map(_.name)

  // ------------------------------------------------- full / hidden views

  /** The port contract as wiring validation enforces it, attached to the
    * /full view like the reference's class-var attachment (schemas.py
    * `_attach_class_vars`: port specs + ALLOW_NO_INPUTS). Params-dependent
    * contracts render their ports for an empty config, plus the note. A
    * static in port (the closed side a streaming job reads as a batch
    * frame) carries `"static":true`. */
  private def portsJson(d: ComponentDef): String = {
    val ports = d.ports.of(graft.config.JobConfig.ComponentSpec(
      d.name, d.name, org.json4s.JNothing, Map.empty, Map.empty, Map.empty, Nil, Nil))
    def arr(ps: Seq[PortSpec]) = ps.map { p =>
      s"""{"name":${quote(p.name)},"required":${p.required},"multi":${p.multi}""" +
        (if (p.static) ""","static":true}""" else "}")
    }.mkString("[", ",", "]")
    s""""ports":{"in":${arr(ports.in)},"out":${arr(ports.out)},""" +
      s""""allow_no_inputs":${ports.in.isEmpty}""" +
      d.ports.note.map(n => s""","note":${quote(n)}""").getOrElse("") + "}"
  }

  /** /{comp_type}/full — form params + wiring base fields + the port
    * contract (nothing stripped; reference schemas.py:442-471). */
  def fullSchemaJson(compType: String): Option[String] =
    Components.byName.get(compType).map(d =>
      renderSchema(d, Components.baseFields ++ d.params, withPorts = true))

  /** /{comp_type}/hidden — ONLY the GUI-hidden wiring fields
    * (reference schemas.py:474-479). */
  def hiddenSchemaJson(compType: String): Option[String] =
    Components.byName.get(compType).map(d =>
      renderSchema(d, Components.baseFields, withPorts = true))

  /** GET /schemas/job — the job-config document schema ($defs preserved,
    * not inlined: reference schemas.py:362-388). Mirrors exactly what
    * JobConfig.parse accepts. */
  def jobSchemaJson: String = {
    val compProps = Components.baseFields.map(paramJson).mkString("{", ",", "}")
    val compRequired = Components.baseFields.filter(_.required).map(x => quote(x.name)).mkString("[", ",", "]")
    s"""{"title":"JobConfig","type":"object","properties":{""" +
      s""""name":{"type":"string","description":"job name"},""" +
      s""""num_of_retries":{"type":"integer","description":"attempts beyond the first, default 0"},""" +
      s""""strategy_type":{"type":"string","description":"row | bulk | bigdata — execution hint; results are identical"},""" +
      s""""components":{"type":"array","items":{"$$ref":"#/$$defs/Component"}}},""" +
      s""""required":["name","components"],""" +
      s""""$$defs":{"Component":{"type":"object","properties":$compProps,""" +
      s""""required":$compRequired,""" +
      s""""description":"per-type config params are sibling keys of comp_type; see /schemas/{comp_type}/form"}}}"""
  }
}
