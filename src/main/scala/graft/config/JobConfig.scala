package graft.config

import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.schema.{FieldDef, GraftType}

/**
 * Declarative JSON job configuration — the engine's defining surface,
 * mirroring the reference's JobConfig/component inflation (reference:
 * src/etl_core/persistence/configs/job_config.py:80-133,
 * components/base_component.py:121-148, wiring/ports.py:11-48):
 *
 *   { "name": ..., "num_of_retries": 0, "strategy_type": "bulk",
 *     "components": [ { "name", "comp_type", ...params,
 *       "routes": {outPort: [{"to": comp, "in_port": port}]},
 *       "in_port_schemas"/"out_port_schemas": {port: {fields: [FieldDef]}} } ] }
 *
 * `strategy_type` (row/bulk/bigdata) is accepted and recorded but selects
 * no code path: Spark subsumes all three scales with one DataFrame plan
 * (SURVEY.md §1.4) — results are identical by construction, which is
 * exactly what the reference's own cross-strategy e2e suite asserts.
 */
object JobConfig {

  final case class EdgeRef(to: String, inPort: String)

  final case class ComponentSpec(
      name: String,
      compType: String,
      params: JValue,
      routes: Map[String, Seq[EdgeRef]],
      inPortSchemas: Map[String, Seq[FieldDef]],
      outPortSchemas: Map[String, Seq[FieldDef]],
      extraInputPorts: Seq[String],
      extraOutputPorts: Seq[String]) {

    /** A boolean key read with the strict boolean reader — for callers
      * outside the component registry (perfbench reads sink flags with
      * it); builds read their declared `Param`s. */
    def bool(key: String, default: Boolean): Boolean =
      Param(key, Kind.bool, Some(default))("")(this)
  }

  final case class JobSpec(
      name: String,
      numOfRetries: Int,
      strategyType: String,
      components: Seq[ComponentSpec])

  /** Job-level fields, read with the same strict readers as component
    * params: `"num_of_retries": "2"` is 2, `2.5` or `true` is an error —
    * not 0 attempts' worth of silent default. */
  private val numOfRetries = Param("num_of_retries", Kind.int)("attempts beyond the first")
  private val strategyType = Param("strategy_type", Kind.str)("row | bulk | bigdata")

  /** Parse a job config JSON string; `substitutions` replaces placeholder
    * tokens (the reference test corpus uses __IN__/__OUT__,
    * tests/config_helpers.py:18-55) inside string values, after parsing:
    * a value carrying `\` or `"` (a Windows path) stays that value, and
    * keys are never rewritten. */
  def parse(json: String, substitutions: Map[String, String] = Map.empty): JobSpec = {
    val parsed = JsonMethods.parse(json)
    val root = if (substitutions.isEmpty) parsed else parsed.transform {
      case JString(s) =>
        JString(substitutions.foldLeft(s) { case (acc, (k, v)) => acc.replace(k, v) })
    }
    val name = (root \ "name") match {
      case JString(s) => s
      case _ => throw new IllegalArgumentException("job config: missing 'name'")
    }
    val retries = numOfRetries.read(s"job $name", root \ "num_of_retries")
      .getOrElse(0)
    require(retries >= 0, s"job $name: num_of_retries must be >= 0, got $retries")
    val strategy = strategyType.read(s"job $name", root \ "strategy_type")
      .getOrElse("bulk").toLowerCase
    require(Set("row", "bulk", "bigdata").contains(strategy),
      s"unknown strategy_type: $strategy")
    val comps = (root \ "components") match {
      case JArray(items) => items.map(parseComponent)
      case _ => throw new IllegalArgumentException("job config: missing 'components'")
    }
    JobSpec(name, retries, strategy, comps)
  }

  private def parseComponent(v: JValue): ComponentSpec = {
    val name = (v \ "name") match {
      case JString(s) if s.nonEmpty => s
      case _ => throw new IllegalArgumentException("component: missing 'name'")
    }
    val compType = (v \ "comp_type") match {
      case JString(s) if s.nonEmpty => s
      case _ => throw new IllegalArgumentException(s"component $name: missing 'comp_type'")
    }
    val routes = (v \ "routes") match {
      case JObject(fields) => fields.map { case (port, dsts) =>
        port -> (dsts match {
          case JArray(ds) => ds.map {
            case JObject(ef) =>
              val m = ef.toMap
              EdgeRef(
                m.get("to").collect { case JString(s) => s }.getOrElse(
                  throw new IllegalArgumentException(s"component $name: route missing 'to'")),
                m.get("in_port").collect { case JString(s) => s }.getOrElse("in"))
            case JString(s) => EdgeRef(s, "in") // bare component-name shorthand
            case other => throw new IllegalArgumentException(
              s"component $name: bad route entry $other")
          }
          case JString(s) => Seq(EdgeRef(s, "in"))
          case other => throw new IllegalArgumentException(
            s"component $name: bad routes for port $port: $other")
        })
      }.toMap
      case _ => Map.empty[String, Seq[EdgeRef]]
    }
    ComponentSpec(name, compType, v,
      routes,
      parseSchemas(v \ "in_port_schemas"),
      parseSchemas(v \ "out_port_schemas"),
      strSeq(v \ "extra_input_ports"),
      strSeq(v \ "extra_output_ports"))
  }

  private[config] def strSeq(v: JValue): Seq[String] = v match {
    case JArray(items) => items.collect { case JString(s) => s }
    case _             => Nil
  }

  private def parseSchemas(v: JValue): Map[String, Seq[FieldDef]] = v match {
    case JObject(fields) => fields.map { case (port, sch) =>
      port -> ((sch \ "fields") match {
        case JArray(fs) => fs.map(parseField)
        case _ => throw new IllegalArgumentException(s"schema for port $port: missing 'fields'")
      })
    }.toMap
    case _ => Map.empty
  }

  /** FieldDef JSON codec (reference wiring/column_definition.py:18-64). */
  def parseField(v: JValue): FieldDef = {
    val name = (v \ "name") match {
      case JString(s) => s
      case _ => throw new IllegalArgumentException("field: missing 'name'")
    }
    val dt = (v \ "data_type") match {
      case JString(s) => GraftType.fromName(s)
      case _ => throw new IllegalArgumentException(s"field $name: missing 'data_type'")
    }
    FieldDef(
      name = name,
      dataType = dt,
      nullable = (v \ "nullable") match { case JBool(b) => b; case _ => false },
      enumValues = strSeq(v \ "enum_values"),
      children = (v \ "children") match {
        case JArray(cs) => cs.map(parseField)
        case _          => Nil
      },
      item = (v \ "item") match {
        case o: JObject => Some(parseField(o))
        case _          => None
      })
  }
}
