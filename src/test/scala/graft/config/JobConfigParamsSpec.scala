package graft.config

import org.scalatest.funsuite.AnyFunSuite

/** Param-reader contract (r20 audit): a PRESENT param of the wrong
  * JSON type is a loud error, never a silent absence — the old
  * accessors made `"approx": "yes"` run exact, `"by": ["lang", 3]`
  * group by lang alone, `{"fetchsize": 1000}` vanish from options, and
  * `"cap": 3000000000` wrap to a negative Int. Numeric/boolean STRINGS
  * coerce ("5", "0.3", "true") like the reference's pydantic lax mode —
  * the dedup gate configs already rely on `"threshold": "0.3"`.
  * Absent and explicit-null both mean "not set". */
class JobConfigParamsSpec extends AnyFunSuite {

  private def comp(paramsJson: String): JobConfig.ComponentSpec =
    JobConfig.parse(
      s"""{ "name": "t", "components": [
         |  { "name": "c", "comp_type": "read_csv"$paramsJson } ] }""".stripMargin)
      .components.head

  /** The present value of key `k` (or `by`/`options`) under `kind`. */
  private def read[T](kind: Kind[T], paramsJson: String, key: String = "k"): Option[T] =
    Param(key, kind)("").read(comp(paramsJson))
  /** The value, else `default`. */
  private def value[T](kind: Kind[T], paramsJson: String, default: T): T =
    Param("k", kind, Some(default))("")(comp(paramsJson))

  test("str: string passes; absent/null are None; wrong type is loud") {
    assert(read(Kind.str, """, "k": "v"""") === Some("v"))
    assert(read(Kind.str, "") === None)
    assert(read(Kind.str, """, "k": null""") === None)
    val e = intercept[IllegalArgumentException] { read(Kind.str, """, "k": 5""") }
    assert(e.getMessage.contains("'k'") && e.getMessage.contains("string"))
  }

  test("bool: native and string forms; wrong type is loud, not the default") {
    assert(value(Kind.bool, """, "k": true""", default = false))
    assert(value(Kind.bool, """, "k": "TRUE"""", default = false))
    assert(!value(Kind.bool, """, "k": "false"""", default = true))
    assert(value(Kind.bool, "", default = true))
    assert(value(Kind.bool, """, "k": null""", default = true))
    intercept[IllegalArgumentException] { value(Kind.bool, """, "k": 1""", false) }
    intercept[IllegalArgumentException] { value(Kind.bool, """, "k": "yes"""", false) }
  }

  test("intOpt: in-range passes, numeric strings coerce, out-of-range is loud not wrapped") {
    assert(read(Kind.int, """, "k": 42""") === Some(42))
    assert(read(Kind.int, """, "k": "42"""") === Some(42))
    assert(read(Kind.int, "") === None)
    // 3000000000 silently .toInt-wrapped to -1294967296 before the fix
    val e = intercept[IllegalArgumentException] {
      read(Kind.int, """, "k": 3000000000""")
    }
    assert(e.getMessage.contains("32-bit"))
    intercept[IllegalArgumentException] { read(Kind.int, """, "k": 1.5""") }
    intercept[IllegalArgumentException] { read(Kind.int, """, "k": "x"""") }
  }

  test("longOpt: full range; strings coerce; non-integers are loud") {
    assert(read(Kind.long, """, "k": 3000000000""") === Some(3000000000L))
    assert(read(Kind.long, """, "k": "3000000000"""") === Some(3000000000L))
    intercept[IllegalArgumentException] { read(Kind.long, """, "k": true""") }
  }

  test("doubleOpt: numbers and numeric strings; garbage is loud") {
    assert(read(Kind.num, """, "k": 0.3""") === Some(0.3))
    assert(read(Kind.num, """, "k": "0.3"""") === Some(0.3))
    assert(read(Kind.num, """, "k": 3""") === Some(3.0))
    intercept[IllegalArgumentException] { read(Kind.num, """, "k": "three"""") }
    intercept[IllegalArgumentException] { read(Kind.num, """, "k": [1]""") }
  }

  test("strSeqParam: non-string elements and scalar-instead-of-list are loud, not dropped") {
    assert(read(Kind.strs, """, "by": ["a", "b"]""", "by") === Some(Seq("a", "b")))
    assert(read(Kind.strs, "", "by") === None)
    assert(read(Kind.strs, """, "by": null""", "by") === None)
    // ["lang", 3] used to group by lang ALONE — the 3 vanished
    intercept[IllegalArgumentException] {
      read(Kind.strs, """, "by": ["lang", 3]""", "by")
    }
    // "lang" (scalar) used to group by NOTHING
    intercept[IllegalArgumentException] {
      read(Kind.strs, """, "by": "lang"""", "by")
    }
  }

  test("strMapParam: non-string values are loud, not silently dropped") {
    assert(read(Kind.strMap, """, "options": {"a": "1"}""", "options") === Some(Map("a" -> "1")))
    assert(read(Kind.strMap, "", "options") === None)
    // {"fetchsize": 1000} used to return an EMPTY map — the option vanished
    val e = intercept[IllegalArgumentException] {
      read(Kind.strMap, """, "options": {"fetchsize": 1000}""", "options")
    }
    assert(e.getMessage.contains("fetchsize"))
  }
}
