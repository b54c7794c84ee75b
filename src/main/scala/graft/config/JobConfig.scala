package graft.config

import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.schema.{FieldDef, GraftType}
import graft.ops.{AggregateOp, FilterOp, SchemaMappingOp, TypeConversionOp}

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

    /** Loud wrong-type failure. Absent (JNothing) and explicit null
      * (JNull) mean "not set" everywhere below — the reference's
      * pydantic layer likewise treats omitted/None as default — but a
      * PRESENT value of the wrong JSON type is a config error, not an
      * absence: `"approx": "true"` silently running exact, or
      * `"method": 5` silently running the default method, is user
      * intent dropped on the floor (r20 audit; same lateness class as
      * the JNull required-param fix). */
    private def badType(key: String, want: String, got: JValue): Nothing =
      throw new IllegalArgumentException(
        s"component $name: param '$key' must be $want, got " +
          JsonMethods.compact(JsonMethods.render(got)))

    /** Param presence regardless of type (explicit null = absent, the
      * same rule every accessor applies). The presence probe for
      * mutual-exclusion checks — probing via a TYPED accessor would
      * throw its wrong-type error before the exclusivity message. */
    def has(key: String): Boolean = (params \ key) match {
      case JNothing | JNull => false
      case _                => true
    }
    def str(key: String): Option[String] = (params \ key) match {
      case JString(s)        => Some(s)
      case JNothing | JNull  => None
      case other             => badType(key, "a string", other)
    }
    def reqStr(key: String): String = str(key).getOrElse(
      throw new IllegalArgumentException(s"component $name: missing '$key'"))
    def bool(key: String, default: Boolean): Boolean = (params \ key) match {
      case JBool(b)          => b
      // DELIBERATELY narrower than pydantic lax (r20 ADVICE adjudicated
      // r21): only "true"/"false" strings coerce — NOT "1"/"0"/"yes"/"no"
      // or numeric 0/1, which pydantic would accept. A config typo like
      // `"gzip": "on"` (or a stray count landing in a boolean slot) fails
      // loudly here instead of silently becoming a boolean; configs
      // ported from the reference that rely on the exotic spellings get
      // a named error pointing at the key, not a behavior flip.
      case JString(s) if s.equalsIgnoreCase("true")  => true
      case JString(s) if s.equalsIgnoreCase("false") => false
      case JNothing | JNull  => default
      case other             => badType(key, """a boolean (or "true"/"false")""", other)
    }
    def int(key: String, default: Int): Int = intOpt(key).getOrElse(default)
    /** Present/absent distinction for params whose default is computed
      * (e.g. LSH depth sized from a corpus count when not pinned).
      * Values beyond Int range fail loudly — `.toInt` would silently
      * WRAP (`"cap": 3000000000` → a negative cap), the same silent
      * 2^31 truncation class the Mongo skip fix closed in r19. Numeric
      * STRINGS coerce ("5" → 5); integral FLOATS (4.0, common when a
      * config round-trips a tool that emits JSON numbers as doubles) do
      * NOT — deliberately narrower than pydantic lax (r20 ADVICE
      * adjudicated r21): a fractional 4.5 silently floor-coerced is the
      * hazard, and drawing the line at "JSON number with a decimal point
      * is not an int" keeps the rule statable in one sentence. Anything
      * else present is a loud type error naming the key. */
    def intOpt(key: String): Option[Int] = (params \ key) match {
      case JInt(i) =>
        if (i.isValidInt) Some(i.toInt)
        else badType(key, "a 32-bit integer (-2^31..2^31-1)", JInt(i))
      case JLong(l) =>
        if (l >= Int.MinValue && l <= Int.MaxValue) Some(l.toInt)
        else badType(key, "a 32-bit integer (-2^31..2^31-1)", JLong(l))
      case JString(s) =>
        s.toIntOption.map(Some(_))
          .getOrElse(badType(key, "an integer", JString(s)))
      case JNothing | JNull => None
      case other            => badType(key, "an integer", other)
    }
    /** Full-range integer param (token budgets overflow Int at scale). */
    def longOpt(key: String): Option[Long] = (params \ key) match {
      case JInt(i) =>
        if (i.isValidLong) Some(i.toLong)
        else badType(key, "a 64-bit integer", JInt(i))
      case JLong(l)         => Some(l)
      case JString(s) =>
        s.toLongOption.map(Some(_))
          .getOrElse(badType(key, "an integer", JString(s)))
      case JNothing | JNull => None
      case other            => badType(key, "an integer", other)
    }
    /** Numeric param accepting integer or float JSON (histogram bounds)
      * or a numeric string ("0.3" — pydantic lax coercion, and what the
      * dedup threshold configs already use). */
    def doubleOpt(key: String): Option[Double] = (params \ key) match {
      case JDouble(d)       => Some(d)
      case JDecimal(d)      => Some(d.toDouble)
      case JInt(i)          => Some(i.toDouble)
      case JLong(l)         => Some(l.toDouble)
      case JString(s) =>
        s.toDoubleOption.map(Some(_))
          .getOrElse(badType(key, "a number", JString(s)))
      case JNothing | JNull => None
      case other            => badType(key, "a number", other)
    }
    /** Column-name / option-name lists: every element must be a string —
      * the old collect silently DROPPED non-string entries, so
      * `"by": ["lang", 3]` grouped by lang alone and
      * `"by": "lang"` (scalar, not list) grouped by nothing. */
    def strSeqParam(key: String): Seq[String] = (params \ key) match {
      case JArray(items) => items.map {
        case JString(s) => s
        case other      => badType(key, "an array of strings", other)
      }
      case JNothing | JNull => Nil
      case other            => badType(key, "an array of strings", other)
    }
    /** Typed FLAT scalar list: keeps ints/doubles/bools as their own
      * types — `pivot_values: [2023, 2024]` through strSeqParam would
      * silently collect NOTHING (it keeps only JStrings) and a mixed
      * list would silently drop the non-string entries. Nested arrays/
      * objects/nulls are rejected HERE with the component context, not
      * ten layers down inside Spark literal conversion. */
    def scalarSeqParam(key: String): Seq[Any] = (params \ key) match {
      case JArray(items) => items.map {
        case JString(s)  => s
        case JInt(i)     => i.toLong
        case JLong(l)    => l
        case JDouble(d)  => d
        case JDecimal(d) => d.toDouble
        case JBool(b)    => b
        case other => throw new IllegalArgumentException(
          s"component $name: '$key' entries must be flat scalars, got $other")
      }
      case JNothing | JNull => Nil
      case other            => badType(key, "an array of scalars", other)
    }
    /** String-valued option maps (JDBC/Mongo reader options): a
      * non-string value is rejected loudly — the old collect silently
      * dropped it (`{"fetchsize": 1000}` simply vanished; write it as
      * `"1000"`). */
    def strMapParam(key: String): Map[String, String] = (params \ key) match {
      case JObject(fields) => fields.map {
        case (k, JString(v)) => k -> v
        case (k, other) => badType(s"$key.$k", "a string (quote numbers)", other)
      }.toMap
      case JNothing | JNull => Map.empty
      case other            => badType(key, "an object of strings", other)
    }
    /** Typed scalar map: keeps ints/doubles/bools as their own types
      * instead of silently dropping non-string values (a `{"k": 42}`
      * filter through strMapParam matched nothing and returned an
      * unfiltered superset). Non-scalar values are rejected loudly. */
    def scalarMapParam(key: String): Map[String, Any] = (params \ key) match {
      case JObject(fields)  => fields.map { case (k, v) => k -> jsonScalar(v) }.toMap
      case JNothing | JNull => Map.empty
      case other            => badType(key, "an object of scalars", other)
    }
  }

  final case class JobSpec(
      name: String,
      numOfRetries: Int,
      strategyType: String,
      components: Seq[ComponentSpec])

  /** Parse a job config JSON string; `substitutions` replaces placeholder
    * tokens (the reference test corpus uses __IN__/__OUT__,
    * tests/config_helpers.py:18-55). */
  def parse(json: String, substitutions: Map[String, String] = Map.empty): JobSpec = {
    val substituted = substitutions.foldLeft(json) {
      case (acc, (k, v)) => acc.replace(k, v)
    }
    val root = JsonMethods.parse(substituted)
    val name = (root \ "name") match {
      case JString(s) => s
      case _ => throw new IllegalArgumentException("job config: missing 'name'")
    }
    val retries = (root \ "num_of_retries") match {
      case JInt(i) => i.toInt
      case _       => 0
    }
    val strategy = (root \ "strategy_type") match {
      case JString(s) => s.toLowerCase
      case _          => "bulk"
    }
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

  private def strSeq(v: JValue): Seq[String] = v match {
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

  // ---------------------------------------------------------------- rules

  /** Filter rule tree (reference comparison_rule.py:32-80). */
  def parseRule(v: JValue): FilterOp.Rule = v match {
    case JObject(fields) =>
      val m = fields.toMap
      m.get("logical_operator") match {
        case Some(JString(lo)) =>
          val kids = m.get("rules") match {
            case Some(JArray(rs)) => rs.map(parseRule)
            case _ => throw new IllegalArgumentException(s"node rule $lo: missing 'rules'")
          }
          FilterOp.Node(lo, kids)
        case _ =>
          val columnName = m.get("column").collect { case JString(s) => s }.getOrElse(
            throw new IllegalArgumentException("leaf rule: missing 'column'"))
          val op = m.get("operator").collect { case JString(s) => s }.getOrElse(
            throw new IllegalArgumentException("leaf rule: missing 'operator'"))
          FilterOp.Leaf(columnName, op, jsonScalar(m.getOrElse("value", JNothing)))
      }
    case other => throw new IllegalArgumentException(s"bad rule: $other")
  }

  private def jsonScalar(v: JValue): Any = v match {
    case JString(s)  => s
    case JInt(i)     => i.toLong
    case JLong(l)    => l
    case JDouble(d)  => d
    case JDecimal(d) => d.toDouble
    case JBool(b)    => b
    case JNull       => null
    case JArray(xs)  => xs.map(jsonScalar)
    case other => throw new IllegalArgumentException(s"bad scalar value: $other")
  }

  /** Required string field of a JSON object — a missing or non-string
    * value is a loud config error. (`(v \ key).values.toString` turned a
    * missing key into the literal string "None".) */
  private def reqStrAt(v: JValue, key: String, ctx: String): String = (v \ key) match {
    case JString(s) if s.nonEmpty => s
    case JNothing => throw new IllegalArgumentException(s"$ctx: missing '$key'")
    case other => throw new IllegalArgumentException(
      s"$ctx: '$key' must be a non-empty string, got $other")
  }

  /** Aggregation config (reference aggregation/types.py:22-31). */
  def parseAggregations(spec: ComponentSpec): (Seq[String], Seq[AggregateOp.AggSpec]) = {
    val groupBy = strSeq(spec.params \ "group_by")
    val aggs = (spec.params \ "aggregations") match {
      case JArray(items) => items.map { a =>
        AggregateOp.AggSpec(
          src = reqStrAt(a, "src", "aggregation"),
          op = reqStrAt(a, "op", "aggregation"),
          dest = reqStrAt(a, "dest", "aggregation"))
      }
      case _ => throw new IllegalArgumentException(
        s"component ${spec.name}: missing 'aggregations'")
    }
    (groupBy, aggs)
  }

  /** unpivot config, shared by the batch and streaming dispatches so the
    * two folds can never drift on parsing/defaults (the parity spec's
    * guarantee depends on it): (id_columns, value_columns, var, value). */
  def parseUnpivot(spec: ComponentSpec): (Seq[String], Seq[String], String, String) = {
    val values = spec.strSeqParam("value_columns")
    require(values.nonEmpty, s"unpivot ${spec.name}: needs value_columns")
    (spec.strSeqParam("id_columns"), values,
      spec.str("var_column").getOrElse("variable"),
      spec.str("value_column").getOrElse("value"))
  }

  /** hash_split config: `splits` = [{name, fraction}, ...]; out ports are
    * the split names, fractions validated by RelationalOps.hashSplit. */
  def parseSplits(spec: ComponentSpec): Seq[(String, Double)] =
    (spec.params \ "splits") match {
      case JArray(items) => items.map { s =>
        val frac = (s \ "fraction") match {
          case JDouble(d)  => d
          case JInt(i)     => i.toDouble
          case JDecimal(d) => d.toDouble
          case JString(x)  => x.toDoubleOption.getOrElse(
            throw new IllegalArgumentException(
              s"hash_split ${spec.name}: bad fraction '$x'"))
          case other => throw new IllegalArgumentException(
            s"hash_split ${spec.name}: bad fraction $other")
        }
        (reqStrAt(s, "name", "hash_split split"), frac)
      }
      case _ => throw new IllegalArgumentException(
        s"component ${spec.name}: missing 'splits' ([{name, fraction}, ...])")
    }

  /** sample config, shared by the batch and streaming folds:
    * (id_column, fraction, seed, strata_column, strata_fractions).
    * `fraction` is required; `strata_fractions` is a {value: rate}
    * object overriding it per stratum (sorted by value so the built
    * CASE chain — and therefore the plan — is config-order stable). */
  def parseSample(spec: ComponentSpec): (String, Double, String, Option[String], Seq[(String, Double)]) = {
    def num(what: String, v: Any): Double = v match {
      case d: Double => d
      case l: Long   => l.toDouble
      case other => throw new IllegalArgumentException(
        s"sample ${spec.name}: $what must be a number, got $other")
    }
    val fraction = (spec.params \ "fraction") match {
      case JNothing => throw new IllegalArgumentException(
        s"sample ${spec.name}: missing 'fraction'")
      case v => num("'fraction'", jsonScalar(v))
    }
    val strata = spec.scalarMapParam("strata_fractions").toSeq.sortBy(_._1)
      .map { case (k, v) => k -> num(s"strata_fractions['$k']", v) }
    (spec.str("id_column").getOrElse("id"), fraction,
      spec.str("seed").getOrElse(""), spec.str("strata_column"), strata)
  }

  /** sort config — the generic ORDER BY / OFFSET / LIMIT surface
    * (RelationalOps.findLike minus filter/projection, which are the
    * filter and schema_mapping components' jobs): `sort` uses the same
    * [[field, 1|-1]] shape as read_mongodb's sort param. */
  def parseSortSpec(spec: ComponentSpec): (Seq[(String, Int)], Int, Option[Int]) = {
    val keys = (spec.params \ "sort") match {
      case JArray(items) => items.map(orderEntry(_, s"sort ${spec.name}", "sort"))
      case JNothing => Nil
      case other => throw new IllegalArgumentException(
        s"sort ${spec.name}: 'sort' must be an array of [field, 1|-1], got $other")
    }
    require(keys.nonEmpty, s"sort ${spec.name}: needs non-empty 'sort' keys")
    val limit = spec.intOpt("limit")
    limit.foreach(n => require(n >= 0, s"sort ${spec.name}: limit must be >= 0"))
    val skip = spec.int("skip", 0)
    require(skip >= 0, s"sort ${spec.name}: skip must be >= 0")
    (keys, skip, limit)
  }

  /** group_cap config — the per-group quota surface
    * (RelationalOps.groupCap): `cap` is required (a defaulted cap would
    * silently discard data); `order_by` uses the same [[field, 1|-1]]
    * shape as sort/window and selects the TOP rows under that order,
    * empty order_by = seeded uniform draw. */
  def parseGroupCap(spec: ComponentSpec): (String, Int, Seq[String], Seq[(String, Int)], String, Boolean) = {
    val cap = spec.intOpt("cap").getOrElse(
      throw new IllegalArgumentException(
        s"group_cap ${spec.name}: missing integer 'cap'"))
    val orderBy = (spec.params \ "order_by") match {
      case JArray(items) => items.map(orderEntry(_, s"group_cap ${spec.name}", "order_by"))
      case JNothing => Nil
      case other => throw new IllegalArgumentException(
        s"group_cap ${spec.name}: 'order_by' must be an array of [field, 1|-1], got $other")
    }
    (spec.str("id_column").getOrElse("id"), cap, spec.strSeqParam("by"),
      orderBy, spec.str("seed").getOrElse(""), spec.bool("allow_global", false))
  }

  /** Generic [[field, 1|-1]] order-pair list under `key` (the sort/
    * window/group_cap shape); absent → Nil. */
  def parseOrderPairs(spec: ComponentSpec, key: String, ctx: String): Seq[(String, Int)] =
    (spec.params \ key) match {
      case JArray(items) => items.map(orderEntry(_, ctx, key))
      case JNothing => Nil
      case other => throw new IllegalArgumentException(
        s"$ctx: '$key' must be an array of [field, 1|-1], got $other")
    }

  /** mix_sample config (RelationalOps.mixSample): `total_budget` and
    * `source_column` are required; `weights` is a {source: weight}
    * object — sorted by source so the built CASE chain (and therefore
    * the plan) is config-order stable, mirroring parseSample's strata
    * discipline. Weight validity (finite, > 0) is the operator's job. */
  def parseMixSample(spec: ComponentSpec): (String, String, Long, String, Seq[(String, Double)], String) = {
    val totalBudget = spec.longOpt("total_budget").getOrElse(
      throw new IllegalArgumentException(
        s"mix_sample ${spec.name}: missing integer 'total_budget'"))
    val sourceCol = spec.str("source_column").getOrElse(
      throw new IllegalArgumentException(
        s"mix_sample ${spec.name}: missing 'source_column'"))
    def num(src: String, v: Any): Double = v match {
      case d: Double => d
      case l: Long   => l.toDouble
      case other => throw new IllegalArgumentException(
        s"mix_sample ${spec.name}: weights['$src'] must be a number, got $other")
    }
    val weights = spec.scalarMapParam("weights").toSeq.sortBy(_._1)
      .map { case (k, v) => k -> num(k, v) }
    require(weights.nonEmpty, s"mix_sample ${spec.name}: missing non-empty " +
      "'weights' ({source: weight, ...})")
    (spec.str("id_column").getOrElse("id"),
      spec.str("cost_column").getOrElse("n_tokens"),
      totalBudget, sourceCol, weights, spec.str("seed").getOrElse(""))
  }

  /** json_extract config (RelationalOps.jsonExtract): `column` is the
    * JSON string column, `fields` = [{path, dest, type}] with the
    * engine's type vocabulary; `keep_source` defaults true. Loud on a
    * missing path/dest — a silently skipped rule is a silently absent
    * column downstream. */
  def parseJsonExtract(spec: ComponentSpec): (String, Seq[(String, String, String)], Boolean) = {
    val rules = (spec.params \ "fields") match {
      case JArray(items) => items.map { f =>
        (reqStrAt(f, "path", s"json_extract ${spec.name} field"),
          reqStrAt(f, "dest", s"json_extract ${spec.name} field"),
          (f \ "type") match {
            case JString(t) => t
            case JNothing   => "string"
            case other => throw new IllegalArgumentException(
              s"json_extract ${spec.name}: 'type' must be a string, got $other")
          })
      }
      case _ => throw new IllegalArgumentException(
        s"json_extract ${spec.name}: missing 'fields' ([{path, dest, type?}])")
    }
    (spec.str("column").getOrElse("props"), rules,
      spec.bool("keep_source", true))
  }

  /** One `[field, 1|-1]` order entry; loud on any other shape or
    * direction value (a swallowed typo here silently turns a running
    * aggregate into a whole-partition aggregate). */
  private def orderEntry(v: JValue, ctx: String, key: String): (String, Int) = {
    val parsed = v match {
      case JArray(List(JString(f), JInt(d)))  => Some((f, d.toInt))
      case JArray(List(JString(f), JLong(d))) => Some((f, d.toInt))
      case _ => None
    }
    parsed.filter { case (_, d) => d == 1 || d == -1 }.getOrElse(
      throw new IllegalArgumentException(
        s"$ctx: $key entries must be [field, 1|-1], got $v"))
  }

  /** window config: partition_by, order_by ([[field, 1|-1]], like sort),
    * functions = [{fn, src?, offset?, dest}]. Shared shape validation
    * here; WindowOp validates fn names / order requirements / dest
    * collisions against the actual frame. */
  def parseWindowFns(spec: ComponentSpec): (Seq[String], Seq[(String, Int)], Seq[graft.ops.WindowOp.WinFn]) = {
    val orderBy = (spec.params \ "order_by") match {
      case JArray(items) => items.map(orderEntry(_, s"window ${spec.name}", "order_by"))
      case JNothing => Nil
      case other => throw new IllegalArgumentException(
        s"window ${spec.name}: 'order_by' must be an array of [field, 1|-1], got $other")
    }
    val fns = (spec.params \ "functions") match {
      case JArray(items) => items.map { f =>
        val fn = reqStrAt(f, "fn", s"window ${spec.name} function")
        // the default-1 offset is a sane lag/lead fallback but a silent
        // trap for ntile (ntile(1) puts every row in one bucket) — the
        // bucket count must be stated
        if (fn == "ntile" && (f \ "offset") == JNothing)
          throw new IllegalArgumentException(
            s"window ${spec.name}: ntile needs an explicit 'offset' " +
              "(the bucket count) — omitting it would silently compute ntile(1)")
        graft.ops.WindowOp.WinFn(
          fn = fn,
          src = (f \ "src") match { case JString(s) => Some(s); case _ => None },
          offset = (f \ "offset") match {
            case JInt(i) => i.toInt
            case JLong(l) => l.toInt
            case JNothing => 1
            case other => throw new IllegalArgumentException(
              s"window ${spec.name}: 'offset' must be an integer, got $other")
          },
          dest = reqStrAt(f, "dest", s"window ${spec.name} function"),
          frameRows = (f \ "frame_rows") match {
            case JInt(i) => Some(i.toInt)
            case JLong(l) => Some(l.toInt)
            case JNothing => None
            case other => throw new IllegalArgumentException(
              s"window ${spec.name}: 'frame_rows' must be an integer, got $other")
          })
      }
      case _ => throw new IllegalArgumentException(
        s"window ${spec.name}: missing 'functions' ([{fn, src?, offset?, dest}])")
    }
    (spec.strSeqParam("partition_by"), orderBy, fns)
  }

  /** schema_mapping map-mode rules_by_dest (reference mapping_rule.py:141-190):
    * {dst_port: {dst_path: {src_port, src_path}}}. */
  def parseMapRules(spec: ComponentSpec): Map[String, Seq[SchemaMappingOp.MapRule]] =
    (spec.params \ "rules_by_dest") match {
      case JObject(ports) => ports.map { case (dstPort, rules) =>
        dstPort -> (rules match {
          case JObject(rs) => rs.map { case (dstPath, r) =>
            SchemaMappingOp.MapRule(
              srcPort = reqStrAt(r, "src_port", "schema_mapping rule"),
              srcPath = reqStrAt(r, "src_path", "schema_mapping rule"),
              dstPath = dstPath)
          }
          case other => throw new IllegalArgumentException(
            s"bad rules_by_dest for $dstPort: $other")
        })
      }.toMap
      case _ => Map.empty
    }

  /** schema_mapping join-mode plan (reference join_rules.py:17-38). */
  def parseJoinPlan(spec: ComponentSpec): Seq[SchemaMappingOp.JoinStep] =
    (spec.params \ "join_plan" \ "steps") match {
      case JArray(steps) => steps.map { s =>
        SchemaMappingOp.JoinStep(
          leftPort = reqStrAt(s, "left_port", "join step"),
          rightPort = reqStrAt(s, "right_port", "join step"),
          leftOn = strSeq(s \ "left_on"),
          rightOn = strSeq(s \ "right_on"),
          how = (s \ "how") match { case JString(h) => h; case _ => "inner" },
          outputPort = reqStrAt(s, "output_port", "join step"),
          broadcastSide = (s \ "broadcast") match {
            case JString(side) => Some(side); case _ => None
          })
      }
      case _ => Nil
    }

  /** type_conversion rules (reference type_conversion_component.py:25-54). */
  def parseCastRules(spec: ComponentSpec): Seq[TypeConversionOp.CastRule] =
    (spec.params \ "rules") match {
      case JArray(items) => items.map { r =>
        TypeConversionOp.CastRule(
          columnPath = reqStrAt(r, "column_path", "type_conversion rule"),
          target = GraftType.fromName(reqStrAt(r, "target", "type_conversion rule")),
          onError = TypeConversionOp.OnError.fromName(
            (r \ "on_error") match { case JString(s) => s; case _ => "raise" }))
      }
      case _ => throw new IllegalArgumentException(
        s"component ${spec.name}: missing 'rules'")
    }
}
