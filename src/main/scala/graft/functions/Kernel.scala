package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.typeof
import org.apache.spark.sql.graftbridge.ColumnBridge.InputType
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** What the row kernels share: the input types their Column faces
  * declare, constant object arguments, and the element readers of the
  * numeric-array kernels. */
private[functions] object Kernel {

  val string: InputType = InputType("string")(_ == StringType)
  val strings: InputType = InputType("array<string>") {
    case ArrayType(StringType, _) => true
    case _ => false
  }
  val numbers: InputType = InputType("array<numeric>") {
    case ArrayType(_: NumericType, _) => true
    case _ => false
  }
  val longs: InputType = InputType("array<bigint>") {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  /** The byte offset of each character of `s`, then its byte length:
    * characters [i, j) are bytes [at(i), at(j)). One walk, counting
    * characters as `UTF8String.numChars` and `substringSQL` do; a lead
    * byte whose declared width runs past the end is clamped to it. */
  def charStarts(s: UTF8String): Array[Int] = {
    val bytes = s.numBytes()
    val at = new Array[Int](s.numChars() + 1)
    var i = 0
    var c = 0
    while (i < bytes) {
      at(c) = i
      i += UTF8String.numBytesForFirstByte(s.getByte(i))
      c += 1
    }
    at(c) = bytes
    at
  }

  /** A copy of characters [from, until) of `s`, given its [[charStarts]]
    * `at` — what `s.substringSQL(from + 1, until - from)` returns, without
    * walking from byte 0. */
  def chars(s: UTF8String, at: Array[Int], from: Int, until: Int): UTF8String =
    if (at(until) > at(from)) s.copyUTF8String(at(from), at(until) - 1)
    else UTF8String.EMPTY_UTF8

  /** A constant object argument, typed as `cls` rather than its runtime
    * class (which may be package-private, e.g. a BloomFilter's). */
  def obj[T <: AnyRef](v: T, cls: Class[T]): Literal =
    Literal.fromObject(v, ObjectType(cls))

  /** A probe set whose plan text stays one short line however many
    * elements it holds (a decontamination set holds up to 2M grams). */
  final class ProbeSet[T](xs: Iterable[T])
      extends java.util.HashSet[T](math.max(16, xs.size * 2)) {
    xs.foreach(add)
    override def toString: String = s"<${size()} elements>"
  }

  /** Element i of a numeric array widened to double. */
  trait Reader { def at(xs: ArrayData, i: Int): Double }

  /** The reader for a numeric array element type — resolved once per
    * kernel call, then applied per element. */
  def reader(elem: DataType): Reader = elem match {
    case FloatType   => (xs, i) => xs.getFloat(i).toDouble
    case DoubleType  => (xs, i) => xs.getDouble(i)
    case IntegerType => (xs, i) => xs.getInt(i).toDouble
    case LongType    => (xs, i) => xs.getLong(i).toDouble
    case ShortType   => (xs, i) => xs.getShort(i).toDouble
    case ByteType    => (xs, i) => xs.getByte(i).toDouble
    case d: DecimalType => (xs, i) => xs.getDecimal(i, d.precision, d.scale).toDouble
    case other => throw new IllegalArgumentException(s"not a numeric element type: $other")
  }

  /** A column whose kernel reads its element type: the column, checked
    * against `t`, then its `typeof()` name — folded to a string constant
    * at optimization, since the Column face is built before analysis
    * resolves the type. */
  def typed(c: Column, t: InputType = numbers): Seq[(Column, InputType)] =
    Seq(c -> t, typeof(c) -> string)

  /** The data type a `typeof()` name denotes, parsed once per distinct
    * name per JVM. */
  private val named = new java.util.concurrent.ConcurrentHashMap[UTF8String, DataType]()
  def typeNamed(name: UTF8String): DataType = {
    val hit = named.get(name)
    if (hit != null) hit
    else {
      val t = DataType.fromDDL(name.toString)
      named.putIfAbsent(name.clone(), t)
      t
    }
  }

  /** The reader for the elements of the array type `typeof()` named. */
  def elements(arrayType: UTF8String): Reader =
    reader(typeNamed(arrayType).asInstanceOf[ArrayType].elementType)
}
