package pipebench

import java.sql.Timestamp
import java.time.LocalDate

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Seeded daily-bar generator in the `events` shape (FIXTURES.md §B:
  * `user_id` ≙ symbol, `ts` ≙ trade date, `value` ≙ close). Each symbol
  * gets one bar per day with a random-walk close; every landing also
  * carries about 0.5% DQ-violating rows (null `ts`, null `user_id` or a
  * negative `value`, each with an `event_id` of its own) and about 1%
  * exact re-fetch duplicates of its valid bars. The program only ever
  * sees the files written from these rows.
  */
final class Gen(seed: Long, val symbols: Int, days: Int) {
  import Gen._

  private val rnd = new java.util.Random(seed)
  private var dqSeq = 0L

  /** close(symbol)(day), in cents-exact doubles; restatements overwrite. */
  private val close: Array[Array[Double]] = Array.fill(symbols) {
    var c = 20.0 + 180.0 * rnd.nextDouble()
    Array.fill(days) {
      c = math.max(1.0, c * math.exp(0.02 * rnd.nextGaussian()))
      cents(c)
    }
  }

  /** One file holding every symbol's bar for `day`, plus DQ rows and
    * duplicates.
    */
  def dayFile(day: Int): Seq[Row] =
    noisy((0 until symbols).map(s => bar(s, day)), day)

  /** A corrections landing: restated bars for about 1% of the symbols over
    * the `lastDays` days before `endDay`, plus `dq` DQ-violating rows.
    */
  def restatements(endDay: Int, lastDays: Int, dq: Int): Seq[Row] = {
    val n = math.max(1, math.round(symbols * 0.01).toInt)
    val picked = rnd.ints(0, symbols).distinct().limit(n).toArray.toSeq
    val bars = for (s <- picked; d <- endDay - lastDays until endDay) yield {
      val old = close(s)(d)
      var c = old
      while (c == old)
        c = cents(old * (1 + (if (rnd.nextBoolean()) 1 else -1) *
          (0.002 + 0.018 * rnd.nextDouble())))
      close(s)(d) = c
      bar(s, d)
    }
    bars ++ Seq.fill(dq)(dqRow(endDay - 1))
  }

  private def bar(s: Int, d: Int): Row =
    Row(eventId(s, d), ts(d), symbolId(s), "bar", close(s)(d),
      s"""{"volume":${1000 + rnd.nextInt(1000000)}}""")

  private def dqRow(d: Int): Row = {
    dqSeq += 1
    val s = rnd.nextInt(symbols)
    val id = DqIdBase + dqSeq
    (dqSeq % 3).toInt match {
      case 0 => Row(id, null, symbolId(s), "bar", close(s)(d), "{}")
      case 1 => Row(id, ts(d), null, "bar", close(s)(d), "{}")
      case _ => Row(id, ts(d), symbolId(s), "bar", -close(s)(d), "{}")
    }
  }

  /** `bars` with DQ rows and exact duplicates mixed in, at the landing's
    * rates (fractions round up with the matching probability).
    */
  private def noisy(bars: Seq[Row], day: Int): Seq[Row] = {
    def share(rate: Double): Int = {
      val x = bars.size * rate
      x.toInt + (if (rnd.nextDouble() < x - x.toInt) 1 else 0)
    }
    val dups = Seq.fill(share(0.01))(bars(rnd.nextInt(bars.size)))
    bars ++ dups ++ Seq.fill(share(0.005))(dqRow(day))
  }
}

object Gen {
  val Schema: StructType = StructType.fromDDL(
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, " +
      "value DOUBLE, props STRING")
  val FirstDay: LocalDate = LocalDate.of(2020, 1, 1)
  private val Epoch0 = FirstDay.toEpochDay * 86400000L
  /** DQ rows take ids above every bar id. */
  private val DqIdBase = 9000000000000L

  /** The distinct valid bars in `rows`, for the analyst reads' model. */
  def validIds(rows: Seq[Row]): Set[Long] =
    rows.filter(r => !r.isNullAt(1) && !r.isNullAt(2) && r.getDouble(4) >= 0)
      .map(_.getLong(0)).toSet

  def eventId(s: Int, d: Int): Long = symbolId(s) * 100000L + d
  def symbolId(s: Int): Long = 1000L + s
  def date(d: Int): LocalDate = FirstDay.plusDays(d)
  /** Bars stamp the close, 20:00 UTC of the trade date. */
  def ts(d: Int): Timestamp = new Timestamp(Epoch0 + d * 86400000L + 20 * 3600000L)
  private def cents(x: Double): Double = math.round(x * 100) / 100.0
}
