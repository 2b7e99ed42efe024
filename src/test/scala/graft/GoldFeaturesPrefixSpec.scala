package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.GoldFeatures

/** The invariant incremental gold rests on: every `GoldFeatures` column is
  * a trailing window, so the features of the rows before a day `d` are the
  * same whether or not the history after `d` exists. `medallionBatch`
  * therefore upserts only gold rows on or after a batch's first day per
  * symbol; a forward-looking column (`LEAD`, a `FOLLOWING` frame) breaks
  * this property, and with it gold's freshness, and fails here first.
  */
class GoldFeaturesPrefixSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val base = java.time.LocalDate.of(2024, 1, 1)

  // one bar: (symbol, day offset, hour UTC, close in cents); two hours per
  // day and few symbols make same-day and same-ts bars common, so the
  // event_id tie-break is exercised too
  private val bar = for {
    sym <- Gen.choose(1L, 3L)
    day <- Gen.choose(0, 59)
    hour <- Gen.oneOf(14, 20)
    cents <- Gen.choose(1L, 500000L)
  } yield (sym, day, hour, cents)

  /** Bars keyed by their index in `bars`, so a truncated series keeps
    * every surviving bar's event_id.
    */
  private def features(bars: Seq[((Long, Int, Int, Long), Int)]): DataFrame = {
    val raw = bars.map { case ((sym, d, h, cents), i) =>
      (i.toLong, s"${base.plusDays(d)} $h:00:00", sym, cents / 100.0)
    }.toDF("event_id", "ts", "user_id", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
      .withColumn("day", to_date(col("ts")))
    GoldFeatures.features(raw, keyCols = Seq("user_id"),
      order = Seq(col("ts"), col("event_id")), valueCol = "value")
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("features are trailing-only: history after day d never changes a row before d") {
    val prop = Prop.forAll(Gen.listOf(bar), Gen.choose(0, 60)) { (series, cut) =>
      val bars = series.zipWithIndex
      val d = lit(java.sql.Date.valueOf(base.plusDays(cut)))
      rows(features(bars).filter($"day" < d)) ==
        rows(features(bars.filter(_._1._2 < cut)))
    }
    val res = Check.check(
      Check.Parameters.default.withMinSuccessfulTests(25).withWorkers(1), prop)
    assert(res.passed, res.status)
  }
}
