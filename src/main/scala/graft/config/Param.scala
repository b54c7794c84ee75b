package graft.config

import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.config.JobConfig.ComponentSpec
import graft.schema.GraftType
import graft.ops.{AggregateOp, FilterOp, SchemaMappingOp, TypeConversionOp, WindowOp}

/** Where a value is read: `where` names the component (or job) and `key`
  * the param, so every type error names both. */
final case class At(where: String, key: String) {
  /** Loud wrong-type failure. Absent (JNothing) and explicit null (JNull)
    * mean "not set" everywhere — the reference's pydantic layer likewise
    * treats omitted/None as default — but a PRESENT value of the wrong
    * JSON type is a config error, not an absence: `"approx": "true"`
    * silently running exact, or `"method": 5` silently running the
    * default method, is user intent dropped on the floor (r20 audit;
    * same lateness class as the JNull required-param fix). */
  def bad(want: String, got: JValue): Nothing =
    throw new IllegalArgumentException(
      s"$where: param '$key' must be $want, got " +
        JsonMethods.compact(JsonMethods.render(got)))
}

/** How one present JSON value becomes a T: the JSON-Schema type GET
  * /schemas shows, and the reader, loud on a value of the wrong shape. */
final case class Kind[T](json: String, read: (At, JValue) => T)

/** One declared parameter of a comp_type: its reader, its default if it
  * has one, its allowed values if it is a choice. What GET /schemas
  * documents, what validation reads once per component, and the only way
  * a build reads a param.
  *
  * `desc` sits outside the case-class fields, so the same param declared
  * with a comp_type's own wording (`doc`) is still equal to the shared
  * one — which is what BuildCtx checks a build's reads against. */
final case class Param[T](name: String, kind: Kind[T], default: Option[T] = None,
                          choices: Seq[T] = Nil, required: Boolean = false)(val desc: String) {

  /** The same param described in a comp_type's own words. */
  def doc(d: String): Param[T] = copy()(d)

  /** The present value (absent and explicit null are None); loud on a
    * wrong type or a value outside `choices`. */
  def read(c: ComponentSpec): Option[T] = read(s"component ${c.name}", c.params \ name)

  private[graft] def read(where: String, v: JValue): Option[T] = v match {
    case JNothing | JNull => None
    case present =>
      val x = kind.read(At(where, name), present)
      if (choices.nonEmpty && !choices.contains(x))
        throw new IllegalArgumentException(
          s"$where: param '$name' must be one of ${choices.mkString(" | ")}, got $name=$x")
      Some(x)
  }

  /** The value, else the default; no value and no default is an error. */
  def apply(c: ComponentSpec): T = read(c).orElse(default).getOrElse(
    throw new IllegalArgumentException(
      s"component ${c.name} (${c.compType}): missing ${if (required) "required " else ""}param '$name'"))

  /** Set to something other than its default. */
  def overridden(c: ComponentSpec): Boolean = read(c).exists(v => !default.contains(v))
}

object Param {
  /** JSON form of a default or allowed value (scalars, lists, maps). */
  def json(v: Any): JValue = v match {
    case s: String     => JString(s)
    case b: Boolean    => JBool(b)
    case i: Int        => JInt(i)
    case l: Long       => JInt(l)
    case d: Double     => JDouble(d)
    case m: Map[_, _]  => JObject(m.toList.map { case (k, x) => k.toString -> json(x) })
    case xs: Seq[_]    => JArray(xs.map(json).toList)
    case other => throw new IllegalArgumentException(s"no JSON form for $other")
  }
}

/** The readers. The scalar ones keep the strict accessor rules; the
  * structured ones are the job-config shapes (rule trees, cast rules,
  * aggregations, splits, order pairs, window functions, mapping rules). */
object Kind {

  val str: Kind[String] = Kind("string", (at, v) => v match {
    case JString(s) => s
    case other      => at.bad("a string", other)
  })

  /** A string read in lower case: a choice of lower-case values then
    * accepts any spelling (the reference writes `if_exists` modes in
    * upper case). */
  val lowerStr: Kind[String] = Kind("string", (at, v) =>
    str.read(at, v).toLowerCase(java.util.Locale.ROOT))

  val bool: Kind[Boolean] = Kind("boolean", (at, v) => v match {
    case JBool(b) => b
    // DELIBERATELY narrower than pydantic lax (r20 ADVICE adjudicated
    // r21): only "true"/"false" strings coerce — NOT "1"/"0"/"yes"/"no"
    // or numeric 0/1, which pydantic would accept. A config typo like
    // `"gzip": "on"` (or a stray count landing in a boolean slot) fails
    // loudly here instead of silently becoming a boolean; configs
    // ported from the reference that rely on the exotic spellings get
    // a named error pointing at the key, not a behavior flip.
    case JString(s) if s.equalsIgnoreCase("true")  => true
    case JString(s) if s.equalsIgnoreCase("false") => false
    case other => at.bad("""a boolean (or "true"/"false")""", other)
  })

  /** Values beyond Int range fail loudly — `.toInt` would silently WRAP
    * (`"cap": 3000000000` → a negative cap), the same silent 2^31
    * truncation class the Mongo skip fix closed in r19. Numeric STRINGS
    * coerce ("5" → 5); integral FLOATS (4.0, common when a config
    * round-trips a tool that emits JSON numbers as doubles) do NOT —
    * deliberately narrower than pydantic lax (r20 ADVICE adjudicated
    * r21): a fractional 4.5 silently floor-coerced is the hazard, and
    * drawing the line at "JSON number with a decimal point is not an
    * int" keeps the rule statable in one sentence. */
  val int: Kind[Int] = Kind("integer", (at, v) => v match {
    case JInt(i) =>
      if (i.isValidInt) i.toInt
      else at.bad("a 32-bit integer (-2^31..2^31-1)", JInt(i))
    case JLong(l) =>
      if (l >= Int.MinValue && l <= Int.MaxValue) l.toInt
      else at.bad("a 32-bit integer (-2^31..2^31-1)", JLong(l))
    case JString(s) => s.toIntOption.getOrElse(at.bad("an integer", JString(s)))
    case other      => at.bad("an integer", other)
  })

  /** Full-range integer (token budgets overflow Int at scale). */
  val long: Kind[Long] = Kind("integer", (at, v) => v match {
    case JInt(i) =>
      if (i.isValidLong) i.toLong else at.bad("a 64-bit integer", JInt(i))
    case JLong(l)   => l
    case JString(s) => s.toLongOption.getOrElse(at.bad("an integer", JString(s)))
    case other      => at.bad("an integer", other)
  })

  /** Integer or float JSON (histogram bounds) or a numeric string ("0.3"
    * — pydantic lax coercion, and what the dedup threshold configs
    * already use). */
  val num: Kind[Double] = Kind("number", (at, v) => v match {
    case JDouble(d)  => d
    case JDecimal(d) => d.toDouble
    case JInt(i)     => i.toDouble
    case JLong(l)    => l.toDouble
    case JString(s)  => s.toDoubleOption.getOrElse(at.bad("a number", JString(s)))
    case other       => at.bad("a number", other)
  })

  /** Column-name / option-name lists: every element must be a string — a
    * lenient collect would DROP non-string entries, so `"by": ["lang", 3]`
    * grouped by lang alone and `"by": "lang"` (scalar, not list) grouped
    * by nothing. */
  val strs: Kind[Seq[String]] = Kind("array", (at, v) => v match {
    case JArray(items) => items.map {
      case JString(s) => s
      case other      => at.bad("an array of strings", other)
    }
    case other => at.bad("an array of strings", other)
  })

  /** Typed FLAT scalar list: keeps ints/doubles/bools as their own types
    * — `pivot_values: [2023, 2024]` as strings would collect NOTHING.
    * Nested arrays/objects/nulls are rejected HERE with the component
    * context, not ten layers down inside Spark literal conversion. */
  val scalars: Kind[Seq[Any]] = Kind("array", (at, v) => v match {
    case JArray(items) => items.map {
      case JString(s)  => s
      case JInt(i)     => i.toLong
      case JLong(l)    => l
      case JDouble(d)  => d
      case JDecimal(d) => d.toDouble
      case JBool(b)    => b
      case other => throw new IllegalArgumentException(
        s"${at.where}: '${at.key}' entries must be flat scalars, got $other")
    }
    case other => at.bad("an array of scalars", other)
  })

  /** String-valued option maps (JDBC/Mongo reader options): a non-string
    * value is rejected loudly — a lenient collect silently dropped it
    * (`{"fetchsize": 1000}` simply vanished; write it as `"1000"`). */
  val strMap: Kind[Map[String, String]] = Kind("object", (at, v) => v match {
    case JObject(fields) => fields.map {
      case (k, JString(s)) => k -> s
      case (k, other) => at.copy(key = s"${at.key}.$k").bad("a string (quote numbers)", other)
    }.toMap
    case other => at.bad("an object of strings", other)
  })

  /** Typed scalar map: keeps ints/doubles/bools as their own types (a
    * `{"k": 42}` filter read as strings matched nothing and returned an
    * unfiltered superset). Non-scalar values are rejected loudly. */
  val scalarMap: Kind[Map[String, Any]] = Kind("object", (at, v) => v match {
    case JObject(fields) => fields.map { case (k, x) => k -> jsonScalar(x) }.toMap
    case other           => at.bad("an object of scalars", other)
  })

  /** {key: number} rates/weights (sample strata, mix weights), sorted by
    * key so the CASE chain built from them — and therefore the plan — is
    * config-order stable. */
  val numMap: Kind[Seq[(String, Double)]] = Kind("object", (at, v) => v match {
    case JObject(fields) => fields.map { case (k, x) =>
      k -> (jsonScalar(x) match {
        case d: Double => d
        case l: Long   => l.toDouble
        case other => throw new IllegalArgumentException(
          s"${at.where}: ${at.key}['$k'] must be a number, got $other")
      })
    }.sortBy(_._1)
    case other => at.bad("an object of numbers", other)
  })

  /** Filter rule tree (reference comparison_rule.py:32-80). */
  val rule: Kind[FilterOp.Rule] = Kind("object", (_, v) => parseRule(v))

  private def parseRule(v: JValue): FilterOp.Rule = v match {
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

  /** Aggregations (reference aggregation/types.py:22-31). */
  val aggs: Kind[Seq[AggregateOp.AggSpec]] = Kind("array", (at, v) => v match {
    case JArray(items) => items.map { a =>
      AggregateOp.AggSpec(
        src = reqStrAt(a, "src", "aggregation"),
        op = reqStrAt(a, "op", "aggregation"),
        dest = reqStrAt(a, "dest", "aggregation"))
    }
    case other => at.bad("an array of {src, op, dest}", other)
  })

  /** hash_split `splits` = [{name, fraction}, ...]; fractions are
    * validated by RelationalOps.hashSplit. */
  val splits: Kind[Seq[(String, Double)]] = Kind("array", (at, v) => v match {
    case JArray(items) => items.map { s =>
      val frac = (s \ "fraction") match {
        case JDouble(d)  => d
        case JInt(i)     => i.toDouble
        case JDecimal(d) => d.toDouble
        case JString(x)  => x.toDoubleOption.getOrElse(
          throw new IllegalArgumentException(s"${at.where}: bad fraction '$x'"))
        case other => throw new IllegalArgumentException(
          s"${at.where}: bad fraction $other")
      }
      (reqStrAt(s, "name", "hash_split split"), frac)
    }
    case other => at.bad("an array of {name, fraction}", other)
  })

  /** [[field, 1|-1], ...] — the sort/window/group_cap/keep_by shape. */
  val orderPairs: Kind[Seq[(String, Int)]] = Kind("array", (at, v) => v match {
    case JArray(items) => items.map(orderEntry(_, at))
    case other => throw new IllegalArgumentException(
      s"${at.where}: '${at.key}' must be an array of [field, 1|-1], got $other")
  })

  /** One `[field, 1|-1]` order entry; loud on any other shape or
    * direction value (a swallowed typo here silently turns a running
    * aggregate into a whole-partition aggregate). */
  private def orderEntry(v: JValue, at: At): (String, Int) = {
    val parsed = v match {
      case JArray(List(JString(f), JInt(d)))  => Some((f, d.toInt))
      case JArray(List(JString(f), JLong(d))) => Some((f, d.toInt))
      case _ => None
    }
    parsed.filter { case (_, d) => d == 1 || d == -1 }.getOrElse(
      throw new IllegalArgumentException(
        s"${at.where}: ${at.key} entries must be [field, 1|-1], got $v"))
  }

  /** Window functions = [{fn, src?, offset?, frame_rows?, dest}]. Shape
    * validation here; WindowOp validates fn names / order requirements /
    * dest collisions against the actual frame. */
  val winFns: Kind[Seq[WindowOp.WinFn]] = Kind("array", (at, v) => v match {
    case JArray(items) => items.map { f =>
      val fn = reqStrAt(f, "fn", s"${at.where} function")
      // the default-1 offset is a sane lag/lead fallback but a silent
      // trap for ntile (ntile(1) puts every row in one bucket) — the
      // bucket count must be stated
      if (fn == "ntile" && (f \ "offset") == JNothing)
        throw new IllegalArgumentException(
          s"${at.where}: ntile needs an explicit 'offset' " +
            "(the bucket count) — omitting it would silently compute ntile(1)")
      WindowOp.WinFn(
        fn = fn,
        src = (f \ "src") match { case JString(s) => Some(s); case _ => None },
        offset = (f \ "offset") match {
          case JInt(i) => i.toInt
          case JLong(l) => l.toInt
          case JNothing => 1
          case other => throw new IllegalArgumentException(
            s"${at.where}: 'offset' must be an integer, got $other")
        },
        dest = reqStrAt(f, "dest", s"${at.where} function"),
        frameRows = (f \ "frame_rows") match {
          case JInt(i) => Some(i.toInt)
          case JLong(l) => Some(l.toInt)
          case JNothing => None
          case other => throw new IllegalArgumentException(
            s"${at.where}: 'frame_rows' must be an integer, got $other")
        })
    }
    case other => at.bad("an array of {fn, src?, offset?, dest}", other)
  })

  /** schema_mapping map-mode rules_by_dest (reference
    * mapping_rule.py:141-190): {dst_port: {dst_path: {src_port, src_path}}}. */
  val mapRules: Kind[Map[String, Seq[SchemaMappingOp.MapRule]]] = Kind("object", (at, v) => v match {
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
    case other => at.bad("an object {dst_port: {dst_path: {src_port, src_path}}}", other)
  })

  /** schema_mapping join-mode plan (reference join_rules.py:17-38). */
  val joinPlan: Kind[Seq[SchemaMappingOp.JoinStep]] = Kind("object", (at, v) => v match {
    case o: JObject => (o \ "steps") match {
      case JArray(steps) => steps.map { s =>
        SchemaMappingOp.JoinStep(
          leftPort = reqStrAt(s, "left_port", "join step"),
          rightPort = reqStrAt(s, "right_port", "join step"),
          leftOn = JobConfig.strSeq(s \ "left_on"),
          rightOn = JobConfig.strSeq(s \ "right_on"),
          how = (s \ "how") match { case JString(h) => h; case _ => "inner" },
          outputPort = reqStrAt(s, "output_port", "join step"),
          broadcastSide = (s \ "broadcast") match {
            case JString(side) => Some(side); case _ => None
          })
      }
      case _ => Nil
    }
    case other => at.bad("an object {steps: [...]}", other)
  })

  /** type_conversion rules (reference type_conversion_component.py:25-54). */
  val castRules: Kind[Seq[TypeConversionOp.CastRule]] = Kind("array", (at, v) => v match {
    case JArray(items) => items.map { r =>
      TypeConversionOp.CastRule(
        columnPath = reqStrAt(r, "column_path", "type_conversion rule"),
        target = GraftType.fromName(reqStrAt(r, "target", "type_conversion rule")),
        onError = TypeConversionOp.OnError.fromName(
          (r \ "on_error") match { case JString(s) => s; case _ => "raise" }))
    }
    case other => at.bad("an array of {column_path, target, on_error}", other)
  })

  /** json_extract `fields` = [{path, dest, type}] with the engine's type
    * vocabulary. Loud on a missing path/dest — a silently skipped rule is
    * a silently absent column downstream. */
  val jsonFields: Kind[Seq[(String, String, String)]] = Kind("array", (at, v) => v match {
    case JArray(items) => items.map { f =>
      (reqStrAt(f, "path", s"${at.where} field"),
        reqStrAt(f, "dest", s"${at.where} field"),
        (f \ "type") match {
          case JString(t) => t
          case JNothing   => "string"
          case other => throw new IllegalArgumentException(
            s"${at.where}: 'type' must be a string, got $other")
        })
    }
    case other => at.bad("an array of {path, dest, type?}", other)
  })
}
