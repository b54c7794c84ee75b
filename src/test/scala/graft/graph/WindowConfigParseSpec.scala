package graft.graph

import graft.config.{JobConfig, Param}
import graft.ops.WindowOp
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

/** Pins the loud-failure contract of the window/sort param readers: a
  * malformed order_by or offset must throw, not silently degrade (a
  * swallowed order_by turns a running aggregate into a whole-partition
  * aggregate with no error — wrong numbers, green job). */
class WindowConfigParseSpec extends AnyFunSuite {

  private def spec(paramsJson: String): JobConfig.ComponentSpec =
    JobConfig.ComponentSpec("w", "window", JsonMethods.parse(paramsJson),
      Map.empty, Map.empty, Map.empty, Nil, Nil)

  /** A comp_type's declared param, read the way its build reads it. */
  private def param[T](compType: String, key: String): Param[T] =
    Components.byName(compType).params.find(_.name == key).get.asInstanceOf[Param[T]]

  /** (partition_by, order_by, functions) as the window build reads them. */
  private def parseWindow(c: JobConfig.ComponentSpec)
      : (Seq[String], Seq[(String, Int)], Seq[WindowOp.WinFn]) =
    (param[Seq[String]]("window", "partition_by")(c),
      param[Seq[(String, Int)]]("window", "order_by")(c),
      param[Seq[WindowOp.WinFn]]("window", "functions")(c))

  private val fns = """"functions": [{"fn": "sum", "src": "v", "dest": "rsum"}]"""

  test("well-formed window config parses") {
    val (part, order, ws) = parseWindow(spec(
      s"""{"partition_by": ["g"], "order_by": [["v", 1], ["id", -1]], $fns}"""))
    assert(part == Seq("g") && order == Seq(("v", 1), ("id", -1)))
    assert(ws.map(_.fn) == Seq("sum"))
  }

  test("absent order_by is the unordered whole-partition frame") {
    val (_, order, _) = parseWindow(spec(s"""{"partition_by": ["g"], $fns}"""))
    assert(order.isEmpty)
  }

  test("non-array order_by throws instead of silently un-ordering the frame") {
    val e = intercept[IllegalArgumentException] {
      parseWindow(spec(
        s"""{"partition_by": ["g"], "order_by": "event_id", $fns}"""))
    }
    assert(e.getMessage.contains("order_by"))
  }

  test("order_by direction outside {1,-1} throws") {
    val e = intercept[IllegalArgumentException] {
      parseWindow(spec(
        s"""{"partition_by": ["g"], "order_by": [["v", 0]], $fns}"""))
    }
    assert(e.getMessage.contains("[field, 1|-1]"))
  }

  test("non-integer offset throws instead of defaulting to 1") {
    val e = intercept[IllegalArgumentException] {
      parseWindow(spec(
        """{"partition_by": ["g"], "order_by": [["v", 1]],
          |"functions": [{"fn": "lag", "src": "v", "offset": "2", "dest": "p"}]}""".stripMargin))
    }
    assert(e.getMessage.contains("offset"))
    // absent offset still defaults to 1
    val (_, _, ws) = parseWindow(spec(
      """{"partition_by": ["g"], "order_by": [["v", 1]],
        |"functions": [{"fn": "lag", "src": "v", "dest": "p"}]}""".stripMargin))
    assert(ws.head.offset == 1)
  }

  test("sort component rejects direction outside {1,-1} too") {
    val s = JobConfig.ComponentSpec("s", "sort",
      JsonMethods.parse("""{"sort": [["a", 2]]}"""),
      Map.empty, Map.empty, Map.empty, Nil, Nil)
    val e = intercept[IllegalArgumentException](param[Seq[(String, Int)]]("sort", "sort")(s))
    assert(e.getMessage.contains("[field, 1|-1]"))
  }

  test("ntile without an explicit offset is rejected (ntile(1) trap)") {
    val e = intercept[IllegalArgumentException] {
      parseWindow(spec(
        """{"partition_by": ["g"], "order_by": [["v", 1]],
          |"functions": [{"fn": "ntile", "dest": "bucket"}]}""".stripMargin))
    }
    assert(e.getMessage.contains("bucket count"))
    // with the count stated, it parses into the offset slot
    val (_, _, ws) = parseWindow(spec(
      """{"partition_by": ["g"], "order_by": [["v", 1]],
        |"functions": [{"fn": "ntile", "offset": 4, "dest": "bucket"}]}""".stripMargin))
    assert(ws.head.fn == "ntile" && ws.head.offset == 4)
  }
}
