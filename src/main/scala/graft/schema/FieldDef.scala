package graft.schema

import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Recursive logical field model, mirroring the reference engine's schema
 * contract (reference: src/etl_core/components/wiring/column_definition.py:18-64,
 * schema.py:8-21): a named field with a logical data type, nullability,
 * optional enum domain, nested children (OBJECT) or element type (ARRAY).
 *
 * Mapping to Spark (SURVEY.md §1.4):
 *   STRING→StringType, INTEGER→LongType, FLOAT→DoubleType, BOOLEAN→BooleanType,
 *   OBJECT→StructType(children), ARRAY→ArrayType(item), ENUM→StringType +
 *   runtime domain validation, PATH→StringType.
 */
sealed trait GraftType
object GraftType {
  case object TString  extends GraftType
  case object TInteger extends GraftType
  case object TFloat   extends GraftType
  case object TBoolean extends GraftType
  case object TObject  extends GraftType
  case object TArray   extends GraftType
  case object TEnum    extends GraftType
  case object TPath    extends GraftType

  def fromName(s: String): GraftType = s.toLowerCase match {
    case "string"  => TString
    case "integer" => TInteger
    case "float"   => TFloat
    case "boolean" => TBoolean
    case "object"  => TObject
    case "array"   => TArray
    case "enum"    => TEnum
    case "path"    => TPath
    case other     => throw new IllegalArgumentException(s"unknown data_type: $other")
  }
}

final case class FieldDef(
    name: String,
    dataType: GraftType,
    nullable: Boolean = false,
    enumValues: Seq[String] = Nil,
    children: Seq[FieldDef] = Nil,
    item: Option[FieldDef] = None) {

  def toStructField: StructField =
    StructField(name, FieldDef.toSparkType(this), nullable)
}

object FieldDef {
  import GraftType._

  def toSparkType(f: FieldDef): DataType = f.dataType match {
    case TString | TEnum | TPath => StringType
    case TInteger                => LongType
    case TFloat                  => DoubleType
    case TBoolean                => BooleanType
    case TObject                 => StructType(f.children.map(_.toStructField))
    case TArray =>
      val it = f.item.getOrElse(
        throw new IllegalArgumentException(s"ARRAY field ${f.name} needs item"))
      ArrayType(toSparkType(it), containsNull = it.nullable)
  }

  def toStructType(fields: Seq[FieldDef]): StructType =
    StructType(fields.map(_.toStructField))

  /** Inverse codec: StructType → FieldDef tree (enum/path lost, as expected). */
  def fromSparkType(name: String, dt: DataType, nullable: Boolean): FieldDef = dt match {
    case StringType  => FieldDef(name, TString, nullable)
    case LongType | IntegerType | ShortType | ByteType => FieldDef(name, TInteger, nullable)
    case DoubleType | FloatType => FieldDef(name, TFloat, nullable)
    case BooleanType => FieldDef(name, TBoolean, nullable)
    case st: StructType =>
      FieldDef(name, TObject, nullable,
        children = st.fields.toSeq.map(f => fromSparkType(f.name, f.dataType, f.nullable)))
    case at: ArrayType =>
      FieldDef(name, TArray, nullable,
        item = Some(fromSparkType("item", at.elementType, at.containsNull)))
    case _ =>
      // Timestamps/decimals etc. surface as STRING in the reference model.
      FieldDef(name, TString, nullable)
  }

  def fromStructType(st: StructType): Seq[FieldDef] =
    st.fields.toSeq.map(f => fromSparkType(f.name, f.dataType, f.nullable))
}

/**
 * Strict schema validation, mirroring the reference's per-edge contract
 * (reference: src/etl_core/utils/common_helpers.py:161-179,
 * components/wiring/validation.py:133-235): missing columns AND unknown
 * columns are errors; non-nullable columns must contain no nulls; ENUM
 * columns must stay within their domain.
 *
 * Split into a plan-time structural check (free) and an optional data-level
 * check implemented as one aggregate scan (no per-row driver work).
 */
object SchemaValidator {

  final case class Violation(kind: String, detail: String)

  /** Plan-time: exact column-set match (order-insensitive), recursive. */
  def structural(actual: StructType, expected: Seq[FieldDef]): Seq[Violation] = {
    val act = actual.fields.map(f => f.name -> f).toMap
    val exp = expected.map(f => f.name -> f).toMap
    val missing = exp.keySet -- act.keySet
    val unknown = act.keySet -- exp.keySet
    missing.toSeq.sorted.map(n => Violation("missing_column", n)) ++
      unknown.toSeq.sorted.map(n => Violation("unknown_column", n)) ++
      expected.flatMap { fd =>
        act.get(fd.name).toSeq.flatMap { sf =>
          (fd.dataType, sf.dataType) match {
            case (GraftType.TObject, st: StructType) => structural(st, fd.children)
            case _ => Nil
          }
        }
      }
  }

  /**
   * Data-level: one distributed aggregate counting violations — null values in
   * non-nullable fields, enum-domain escapes. Cost: a single scan, map-side
   * combinable; never collects rows to the driver.
   */
  def dataViolations(df: DataFrame, expected: Seq[FieldDef]): Map[String, Long] = {
    def checks(prefix: String, fds: Seq[FieldDef],
               parentPresent: Option[Column]): Seq[(String, Column)] = fds.flatMap { fd =>
      val path = if (prefix.isEmpty) fd.name else s"$prefix.${fd.name}"
      val c = col(path)
      // child checks apply only where every ancestor struct is non-null:
      // col("o.b") is null whenever o itself is (legitimately) null, and
      // counting that as a violation of b's non-nullability would fail
      // valid rows
      def guarded(cond: Column): Column =
        parentPresent.fold(cond)(p => p && cond)
      val nullCheck =
        if (!fd.nullable)
          Seq(s"null:$path" -> sum(when(guarded(c.isNull), 1L).otherwise(0L)))
        else Nil
      val enumCheck =
        if (fd.dataType == GraftType.TEnum && fd.enumValues.nonEmpty)
          Seq(s"enum:$path" ->
            sum(when(guarded(c.isNotNull && !c.isin(fd.enumValues: _*)), 1L).otherwise(0L)))
        else Nil
      val nested = fd.dataType match {
        case GraftType.TObject =>
          val present = parentPresent.fold(c.isNotNull)(_ && c.isNotNull)
          checks(path, fd.children, Some(present))
        case _ => Nil
      }
      nullCheck ++ enumCheck ++ nested
    }
    val cs = checks("", expected, None)
    if (cs.isEmpty) Map.empty
    else {
      val row = df.agg(cs.head._2.as("c0"), cs.tail.zipWithIndex.map {
        case ((_, c), i) => c.as(s"c${i + 1}")
      }: _*).head()
      cs.zipWithIndex.collect {
        case ((name, _), i) if !row.isNullAt(i) && row.getLong(i) > 0 =>
          name -> row.getLong(i)
      }.toMap
    }
  }

  /** Throws on any violation — the strict reference behavior. */
  def enforce(df: DataFrame, expected: Seq[FieldDef], structuralOnly: Boolean = false): DataFrame = {
    val sv = structural(df.schema, expected)
    if (sv.nonEmpty)
      throw new IllegalArgumentException(
        s"schema violation: ${sv.map(v => s"${v.kind}(${v.detail})").mkString(", ")}")
    if (!structuralOnly) {
      val dv = dataViolations(df, expected)
      if (dv.nonEmpty)
        throw new IllegalArgumentException(
          s"data violation: ${dv.map { case (k, n) => s"$k=$n" }.mkString(", ")}")
    }
    df
  }
}
