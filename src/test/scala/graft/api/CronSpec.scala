package graft.api

import org.scalatest.funsuite.AnyFunSuite
import java.time.{ZonedDateTime, ZoneOffset}

class CronSpec extends AnyFunSuite {

  private def at(y: Int, mo: Int, d: Int, h: Int, mi: Int) =
    ZonedDateTime.of(y, mo, d, h, mi, 0, 0, ZoneOffset.UTC)

  test("every-minute and fixed-time schedules") {
    val everyMin = Cron.parse("* * * * *")
    assert(everyMin.next(at(2026, 8, 12, 10, 0)) === at(2026, 8, 12, 10, 1))
    // strictly after: a match at `after` itself doesn't fire
    val daily = Cron.parse("30 9 * * *")
    assert(daily.next(at(2026, 8, 12, 9, 30)) === at(2026, 8, 13, 9, 30))
    assert(daily.next(at(2026, 8, 12, 9, 29)) === at(2026, 8, 12, 9, 30))
    assert(daily.next(at(2026, 8, 12, 23, 59)) === at(2026, 8, 13, 9, 30))
  }

  test("steps, ranges, lists") {
    val c = Cron.parse("0-59/15 * * * *")
    assert(c.minutes === Set(0, 15, 30, 45))
    assert(Cron.parse("5,35 8-10 * * *").hours === Set(8, 9, 10))
    // month boundary: Jan 31 23:45 → next fire Feb 1 00:00
    val q = Cron.parse("0-59/15 * * * *")
    assert(q.next(at(2026, 1, 31, 23, 45)) === at(2026, 2, 1, 0, 0))
  }

  test("day-of-month / day-of-week OR rule (Vixie cron)") {
    // 2026-08-12 is a Wednesday (dow 3)
    val both = Cron.parse("0 0 15 * 3") // 15th OR Wednesday
    // Sat the 15th (dom match) comes before Wed the 19th (dow match)
    assert(both.next(at(2026, 8, 12, 10, 0)) === at(2026, 8, 15, 0, 0))
    // dom-only restriction: dow * stays a wildcard
    val domOnly = Cron.parse("0 0 15 * *")
    assert(domOnly.next(at(2026, 8, 12, 10, 0)) === at(2026, 8, 15, 0, 0))
    // dow-only restriction
    val dowOnly = Cron.parse("0 0 * * 3")
    assert(dowOnly.next(at(2026, 8, 12, 10, 0)) === at(2026, 8, 19, 0, 0))
  }

  test("dow 7 = Sunday, aliased after range expansion") {
    assert(Cron.parse("0 0 * * 7").dows === Set(0))
    assert(Cron.parse("0 0 * * 5-7").dows === Set(5, 6, 0))
    assert(Cron.parse("0 0 * * 0-7").dows === Set(0, 1, 2, 3, 4, 5, 6)) // every day
    // 2026-08-16 is a Sunday
    assert(Cron.parse("0 12 * * 0").next(at(2026, 8, 12, 0, 0)) === at(2026, 8, 16, 12, 0))
    intercept[IllegalArgumentException](Cron.parse("0 0 * * 9-3"))
  }

  test("month restriction and Feb 29, including re-arm ON a Feb 29") {
    val feb29 = Cron.parse("0 0 29 2 *")
    assert(feb29.next(at(2026, 3, 1, 0, 0)) === at(2028, 2, 29, 0, 0))
    // evaluated just after a Feb-29 fire: next is four years on, within
    // the 9-year bound even across a skipped century leap year
    assert(feb29.next(at(2028, 2, 29, 0, 1)) === at(2032, 2, 29, 0, 0))
  }

  test("invalid expressions rejected") {
    intercept[IllegalArgumentException](Cron.parse("* * * *"))
    intercept[IllegalArgumentException](Cron.parse("61 * * * *"))
    intercept[IllegalArgumentException](Cron.parse("* * 0 * *"))
    intercept[IllegalArgumentException](Cron.parse("* * * 13 *"))
  }

  test("malformed ranges raise an IllegalArgumentException naming the part") {
    for (part <- Seq("5-", "1-2-3", "0-10-20/5")) {
      val e = intercept[IllegalArgumentException](Cron.parse(s"$part * * * *"))
      assert(e.getMessage === s"bad cron range: $part")
    }
  }
}
