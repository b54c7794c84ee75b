package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.schema.GraftType

/**
 * Type conversion operator: cast columns to a target logical type with a
 * per-rule error policy.
 *
 * Reference scalar semantics reproduced exactly (reference:
 * src/etl_core/receivers/data_operations_receivers/type_conversion/
 * type_conversion_helper.py:19-199):
 *  - the null-ish strings "", "na", "nan", "null", "none" (case/space
 *    insensitive) become NULL before any cast;
 *  - → INTEGER: booleans rejected; floats accepted iff integral; strings
 *    parsed as int, else as float-if-integral ("3.0" → 3, "3.5" → error);
 *  - → FLOAT: booleans rejected; numerics and numeric strings accepted;
 *  - → BOOLEAN: booleans pass; ints/floats only 0/1; strings true/t/1/yes/y
 *    and false/f/0/no/n (case/space-insensitive);
 *  - → STRING: str(value), NULL stays NULL;
 *  - on_error: raise = fail the job; null = value → NULL; skip = keep the
 *    original value. `skip` with a non-string target cannot produce a
 *    mixed-dtype column in Spark's type system (SURVEY.md §7.3): we keep the
 *    original only when target = STRING (lossless), otherwise `skip`
 *    degrades to `null` — documented divergence.
 *
 * Everything compiles to when/try_cast/cast Column expressions — fully
 * codegen'd, no UDFs, so conversions stay inside whole-stage codegen and
 * scale as a narrow map.
 */
object TypeConversionOp {

  import GraftType._

  sealed trait OnError
  case object RaisePolicy extends OnError
  case object NullPolicy  extends OnError
  case object SkipPolicy  extends OnError

  object OnError {
    def fromName(s: String): OnError = s.toLowerCase match {
      case "raise" => RaisePolicy
      case "null"  => NullPolicy
      case "skip"  => SkipPolicy
      case other   => throw new IllegalArgumentException(s"unknown on_error: $other")
    }
  }

  final case class CastRule(columnPath: String, target: GraftType, onError: OnError)

  /** Null-ish string normalization: "", na, nan, null, none → NULL. */
  def normalizeNullish(c: Column): Column = {
    val t = lower(trim(c))
    when(t.isin("", "na", "nan", "null", "none"), lit(null).cast(StringType)).otherwise(c)
  }

  // Shared between tryConvert (nested paths) and convertStagedString (the
  // staged top-level path) so the two cannot drift: the exact-integer
  // gate regex and the boolean token domains.
  private val IntStrRe = "^\\s*[+-]?[0-9]+\\s*$"
  private val TrueTokens  = Seq("true", "t", "1", "yes", "y")
  private val FalseTokens = Seq("false", "f", "0", "no", "n")

  /** String→long with the regex-gated exact parse (see the tryConvert
    * scaladoc for why the gate exists): `s` the normalized string, `d`
    * its double parse — callers pass staged temp columns or inline trees. */
  private def intFromString(s: Column, d: Column): Column =
    coalesce(
      when(s.rlike(IntStrRe), s.try_cast("long")),
      when(d === floor(d), d.try_cast("long")))

  /** String→boolean domain check over the lowercased trimmed token. */
  private def boolFromToken(t: Column): Column =
    when(t.isin(TrueTokens: _*), lit(true))
      .when(t.isin(FalseTokens: _*), lit(false))

  /**
   * Attempted conversion: returns the converted value, or NULL where the
   * reference would raise/nullify. Callers combine with the policy.
   */
  def tryConvert(c: Column, from: DataType, target: GraftType): Column = target match {
    case TInteger => from match {
      case BooleanType => lit(null).cast(LongType)            // bool rejected
      case _: IntegerType | LongType | ShortType | ByteType => c.cast(LongType)
      case DoubleType | FloatType | _: DecimalType =>
        // floats accepted iff integral; try_cast, not cast: under ANSI
        // (Spark 4 default) a plain cast of Infinity or an integral value
        // beyond Long range (1e19 == floor(1e19)) throws CAST_OVERFLOW
        // and would crash the job even under on_error=null/skip
        when(c === floor(c), c.try_cast("long"))
      case StringType =>
        val s = normalizeNullish(c)
        // int parse, else float-if-integral (try_cast: see ANSI note
        // above). The exact long parse is gated behind an integer-string
        // regex: string→bigint try_cast reports failure by THROWING
        // internally (TryEval catches it), measured ~5µs/row — 10× the
        // entire parse — so every float-formatted value ("41.0") would
        // pay an exception. Gated, only genuinely integer strings reach
        // it (and succeed); everything else takes the non-throwing
        // double path, which also preserves >2^53 exactness for integer
        // strings (they match the gate and parse exactly).
        intFromString(s, s.try_cast("double"))
      case _ => c.try_cast("long")
    }
    case TFloat => from match {
      case BooleanType => lit(null).cast(DoubleType)
      case StringType  => normalizeNullish(c).try_cast("double")
      case _           => c.try_cast("double")
    }
    case TBoolean => from match {
      case BooleanType => c
      case _: IntegerType | LongType | ShortType | ByteType | DoubleType | FloatType =>
        when(c === 1, lit(true)).when(c === 0, lit(false))
      case StringType =>
        boolFromToken(lower(trim(normalizeNullish(c))))
      case _ => c.try_cast("boolean")
    }
    case TString | TEnum | TPath => from match {
      case StringType => c
      case _          => c.cast(StringType)
    }
    case TObject | TArray =>
      throw new IllegalArgumentException("object/array targets use nested rules")
  }

  /** Spark type a conversion produces. */
  def sparkTarget(target: GraftType): DataType = target match {
    case TInteger                => LongType
    case TFloat                  => DoubleType
    case TBoolean                => BooleanType
    case TString | TEnum | TPath => StringType
    case other => throw new IllegalArgumentException(s"no scalar spark type for $other")
  }

  /**
   * Full conversion of one column under a policy.
   *  raise → conversion failures become a runtime error (raise_error branch);
   *  null  → failures become NULL;
   *  skip  → failures keep the original (STRING target only; else ≈ null).
   */
  def convert(c: Column, from: DataType, target: GraftType, policy: OnError): Column = {
    val attempted = tryConvert(c, from, target)
    val outType = sparkTarget(target)
    def srcNonNull = from match {
      case StringType => normalizeNullish(c).isNotNull
      case _          => c.isNotNull
    }
    policy match {
      case NullPolicy => attempted
      case RaisePolicy =>
        // coalesce evaluates `attempted` exactly ONCE: the error branch
        // runs only when the conversion yielded null (a when/otherwise
        // formulation re-evaluates the whole conversion tree for the
        // null-check — measured 2× per-row cost)
        coalesce(attempted,
          when(srcNonNull,
            raise_error(concat(lit("type_conversion raise: cannot cast value '"),
              c.cast(StringType), lit(s"' to $target"))).cast(outType)))
      case SkipPolicy =>
        // STRING-family targets keep the original (tryConvert is identity);
        // non-string failures are null either way — documented divergence,
        // no extra guard needed
        attempted
    }
  }

  private def stringFamily(t: GraftType): Boolean =
    t == TString || t == TEnum || t == TPath

  /**
   * Derive the out-port schema from the in-port schema + rules, so a
   * type_conversion component needs no declared out schema (reference:
   * src/etl_core/components/data_operations/type_conversion/
   * type_conversion_component.py:83-97, helper :380-435): each rule swaps
   * its leaf's declared type for the target. Nullability is derived from
   * what the conversion can actually produce: a string-family target
   * never introduces nulls (identity/plain cast), any other target goes
   * nullable unless on_error=raise AND the source is non-string (string
   * sources null-normalize ""/na/nan/null/none under every policy).
   * An explicitly declared out schema always wins over derivation.
   */
  def deriveOutSchema(in: Seq[graft.schema.FieldDef],
                      rules: Seq[CastRule]): Seq[graft.schema.FieldDef] =
    rules.foldLeft(in)((fds, r) => rewriteFields(fds, r.columnPath.split('.').toList, r))

  private def rewriteFields(fds: Seq[graft.schema.FieldDef], path: List[String],
                            r: CastRule): Seq[graft.schema.FieldDef] = path match {
    case seg :: rest =>
      require(fds.exists(_.name == seg),
        s"type_conversion derive: path '${r.columnPath}': no field '$seg' in " +
          s"(${fds.map(_.name).mkString(", ")})")
      fds.map(fd => if (fd.name == seg) rewriteLeaf(fd, rest, r) else fd)
    case Nil => fds
  }

  private def rewriteLeaf(fd: graft.schema.FieldDef, rest: List[String],
                          r: CastRule): graft.schema.FieldDef = rest match {
    case Nil =>
      val nullable =
        if (stringFamily(r.target)) fd.nullable
        else fd.nullable || r.onError != RaisePolicy || stringFamily(fd.dataType)
      fd.copy(dataType = r.target, nullable = nullable,
        enumValues = if (r.target == TEnum) fd.enumValues else Nil,
        children = Nil, item = None)
    case "*" :: rest2 =>
      require(fd.dataType == TArray && fd.item.isDefined,
        s"type_conversion derive: path '${r.columnPath}': '*' under non-array '${fd.name}'")
      fd.copy(item = fd.item.map(rewriteLeaf(_, rest2, r)))
    case _ =>
      require(fd.dataType == TObject,
        s"type_conversion derive: path '${r.columnPath}': cannot descend into '${fd.name}'")
      fd.copy(children = rewriteFields(fd.children, rest, r))
  }

  /** Apply rules to top-level or nested (dotted) paths. Array elements via `*`.
    *
    * Top-level STRING sources go through a STAGED projection: the
    * normalized string (and, for INTEGER, the parsed double) land in temp
    * columns of their own Project before the conversion consumes them.
    * A single-expression formulation repeats those subtrees — the
    * normalize (trim/lower/isin) 4× and the double parse 3× per value —
    * and Catalyst does not share them (conditional branches are excluded
    * from codegen subexpression elimination). CollapseProject keeps the
    * staging Projects intact precisely because the temps are non-cheap and
    * multiply-referenced, so each is computed ONCE per row; measured ~3×
    * on a 600k-row all-string CSV conversion. */
  def apply(df: DataFrame, rules: Seq[CastRule]): DataFrame =
    rules.foldLeft(df) { (d, r) =>
      val segs = r.columnPath.split('.')
      if (segs.length == 1 && !r.columnPath.contains("*")) {
        val from = d.schema(r.columnPath).dataType
        if (from == StringType && (r.target == TInteger || r.target == TFloat ||
            r.target == TBoolean))
          convertStagedString(d, r)
        else
          d.withColumn(r.columnPath, convert(col(r.columnPath), from, r.target, r.onError))
      } else {
        // nested path: rebuild the struct with the converted leaf
        d.withColumn(segs.head, rebuildNested(d.schema(segs.head).dataType,
          col(segs.head), segs.tail.toList, r))
      }
    }

  /** Staged string→numeric/boolean conversion of a top-level column: same
    * semantics as `convert`, with the shared subtrees evaluated once. */
  private def convertStagedString(d: DataFrame, r: CastRule): DataFrame = {
    val cn = r.columnPath
    val orig = col(cn)
    val sTmp = s"__tc_norm_$cn"
    require(!d.columns.contains(sTmp), s"type_conversion: column $sTmp already exists")
    val staged = d.withColumn(sTmp, normalizeNullish(orig))
    val s = col(sTmp)
    def finish(stage: DataFrame, attempted: Column, drops: Seq[String]): DataFrame = {
      val out = r.onError match {
        case NullPolicy | SkipPolicy => attempted // skip ≈ null off-string (scaladoc)
        case RaisePolicy =>
          coalesce(attempted,
            when(s.isNotNull,
              raise_error(concat(lit("type_conversion raise: cannot cast value '"),
                orig, lit(s"' to ${r.target}"))).cast(sparkTarget(r.target))))
      }
      stage.withColumn(cn, out).drop((sTmp +: drops): _*)
    }
    r.target match {
      case TInteger =>
        val dTmp = s"__tc_dbl_$cn"
        require(!d.columns.contains(dTmp), s"type_conversion: column $dTmp already exists")
        val stage2 = staged.withColumn(dTmp, s.try_cast("double"))
        finish(stage2, intFromString(s, col(dTmp)), Seq(dTmp))
      case TFloat =>
        finish(staged, s.try_cast("double"), Nil)
      case TBoolean =>
        val tTmp = s"__tc_low_$cn"
        require(!d.columns.contains(tTmp), s"type_conversion: column $tTmp already exists")
        val stage2 = staged.withColumn(tTmp, lower(trim(s)))
        finish(stage2, boolFromToken(col(tTmp)), Seq(tTmp))
      case other => throw new IllegalStateException(s"staged conversion: $other")
    }
  }

  private def rebuildNested(dt: DataType, c: Column, path: List[String],
                            r: CastRule): Column = (dt, path) match {
    case (_, Nil) => convert(c, dt, r.target, r.onError)
    case (at: ArrayType, "*" :: rest) =>
      transform(c, x => rebuildNested(at.elementType, x, rest, r))
    case (st: StructType, seg :: rest) =>
      // a segment matching no field is a config error, not a no-op: a
      // typo'd nested rule must fail like a typo'd top-level path does
      require(st.fieldNames.contains(seg),
        s"type_conversion path '${r.columnPath}': no field '$seg' in " +
          s"struct(${st.fieldNames.mkString(", ")})")
      val fields = st.fields.map { f =>
        if (f.name == seg) rebuildNested(f.dataType, c.getField(f.name), rest, r).as(f.name)
        else c.getField(f.name).as(f.name)
      }
      struct(fields.toIndexedSeq: _*)
    case _ =>
      throw new IllegalArgumentException(s"cannot descend path $path into $dt")
  }
}
