package graft.api

import java.time.{ZonedDateTime, ZoneId}
import java.time.temporal.ChronoUnit

/**
 * Minimal 5-field cron (minute hour day-of-month month day-of-week),
 * mirroring the reference's cron trigger surface (reference:
 * src/etl_core/persistence/configs/schedule_config.py:107-176 — APScheduler
 * CronTrigger args). Supported per field: `*`, lists `a,b,c`, ranges `a-b`,
 * and steps — `a-b/n` or the star form ("star slash n", every n).
 * Day-of-week uses 0-6 = Sunday-Saturday (7 also accepted as Sunday, like
 * Vixie cron).
 *
 * Standard cron quirk preserved: when BOTH day-of-month and day-of-week are
 * restricted, a day matches if EITHER matches.
 *
 * Scheduling is driver-side control flow only; the fired work is ordinary
 * distributed jobs — nothing here touches the data path.
 */
final case class Cron(minutes: Set[Int], hours: Set[Int], doms: Set[Int],
                      months: Set[Int], dows: Set[Int],
                      domAny: Boolean, dowAny: Boolean) {

  private def dayMatches(t: ZonedDateTime): Boolean = {
    val domOk = doms.contains(t.getDayOfMonth)
    val dowOk = dows.contains(t.getDayOfWeek.getValue % 7) // java MON=1..SUN=7 → 0=SUN
    if (domAny && dowAny) true
    else if (domAny) dowOk
    else if (dowAny) domOk
    else domOk || dowOk // Vixie-cron OR rule
  }

  /** Next fire time strictly after `after`, truncated to the minute.
    * The search is bounded at 9 years: the longest gap between Feb 29
    * occurrences is 8 years (e.g. 2096 → 2104 across the non-leap 2100),
    * so every satisfiable expression fires within the window. The
    * field-granular stepping below skips whole months/days, so the bound
    * costs nothing on the normal path. */
  def next(after: ZonedDateTime): ZonedDateTime = {
    var t = after.truncatedTo(ChronoUnit.MINUTES).plusMinutes(1)
    val limit = after.plusYears(9)
    while (t.isBefore(limit)) {
      if (!months.contains(t.getMonthValue))
        t = t.plusMonths(1).withDayOfMonth(1).truncatedTo(ChronoUnit.DAYS)
      else if (!dayMatches(t))
        t = t.plusDays(1).truncatedTo(ChronoUnit.DAYS)
      else if (!hours.contains(t.getHour))
        t = t.plusHours(1).truncatedTo(ChronoUnit.HOURS)
      else if (!minutes.contains(t.getMinute))
        t = t.plusMinutes(1)
      else
        return t
    }
    throw new IllegalArgumentException(s"cron never fires within 9 years of $after")
  }

  def nextAfterMillis(nowMs: Long, zone: ZoneId = ZoneId.systemDefault()): Long = {
    val now = java.time.Instant.ofEpochMilli(nowMs).atZone(zone)
    next(now).toInstant.toEpochMilli - nowMs
  }
}

object Cron {
  /** `rawHi` admits values above `hi` that `alias` folds back into range
    * (day-of-week accepts 7 = Sunday, so "0-7" covers every day and
    * "5-7" is Fri,Sat,Sun — the alias applies AFTER range expansion;
    * aliasing the endpoints first would turn "0-7" into Sunday-only). */
  private def parseField(s: String, lo: Int, hi: Int,
                         alias: Int => Int = identity,
                         rawHi: Int = -1): (Set[Int], Boolean) = {
    val maxRaw = if (rawHi > hi) rawHi else hi
    if (s == "*") ((lo to hi).toSet, true)
    else {
      val vals = s.split(',').toSeq.flatMap { part =>
        val (rangePart, step) = part.split('/') match {
          case Array(r)    => (r, 1)
          case Array(r, n) => (r, n.toInt)
          case _ => throw new IllegalArgumentException(s"bad cron part: $part")
        }
        require(step >= 1, s"bad cron step in: $part")
        val (a, b) = rangePart match {
          case "*" => (lo, hi)
          case r if r.contains('-') => r.split('-') match {
            case Array(x, y) => (x.toInt, y.toInt)
            case _ => throw new IllegalArgumentException(s"bad cron range: $part")
          }
          case v =>
            val x = v.toInt
            if (step == 1) (x, x) else (x, hi) // "a/n" = from a by n
        }
        require(a >= lo && b <= maxRaw && a <= b,
          s"cron value out of range [$lo,$maxRaw]: $part")
        (a to b by step).map(alias)
      }.toSet
      (vals, false)
    }
  }

  /** Parse a 5-field cron expression. */
  def parse(expr: String): Cron = {
    val fields = expr.trim.split("\\s+")
    require(fields.length == 5,
      s"cron needs 5 fields (minute hour dom month dow), got: '$expr'")
    val (mins, _)      = parseField(fields(0), 0, 59)
    val (hrs, _)       = parseField(fields(1), 0, 23)
    val (doms, domAny) = parseField(fields(2), 1, 31)
    val (mons, _)      = parseField(fields(3), 1, 12)
    val (dows, dowAny) = parseField(fields(4), 0, 6,
      v => if (v == 7) 0 else v, rawHi = 7)
    Cron(mins, hrs, doms, mons, dows, domAny, dowAny)
  }
}
