package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Gold analytics features: moving averages, rolling volatility, lag returns.
  *
  * Reproduces the reference's Gold view spec (`docs/databricks_setup.md:209-240`):
  *   - W2 `ma_20`:  AVG(close)    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW
  *   - W3 `ma_50`:  AVG(close)    ROWS BETWEEN 49 PRECEDING AND CURRENT ROW
  *   - W4 `vol_20`: STDDEV(close) ROWS BETWEEN 19 PRECEDING AND CURRENT ROW
  *     (SQL STDDEV = sample stddev)
  *   - W5 `daily_return`: (close - LAG(close,1)) / LAG(close,1)
  * all partitioned by symbol ordered by trade date.
  *
  * Contract: every column is a TRAILING window (`n PRECEDING .. CURRENT
  * ROW` or `LAG`), so a row's features depend only on rows at or before it
  * in window order. `FileStreamIngest.medallionBatch` relies on this to
  * upsert only the gold rows on or after a batch's first day per key; a
  * forward-looking column (`LEAD`, a `FOLLOWING` frame) would leave earlier
  * gold rows silently stale. `GoldFeaturesPrefixSpec` pins the contract.
  *
  * Numerics: frame sums are accumulated as DECIMAL (exact, association-
  * independent) and only then converted to double, so results are
  * bit-reproducible across partitionings, engines, and retries — floating
  * sums would drift with aggregation order. The stddev is derived from the
  * exact moments: sqrt((Σx² − (Σx)²/n)/(n−1)), clamped at 0 against
  * cancellation.
  *
  * Scale: one hash-partition shuffle on the key + one in-partition sort
  * shared by ALL window columns (same window spec → Catalyst collapses them
  * into a single Window node). Per-key history must fit a partition — true
  * for per-symbol daily series.
  */
object GoldFeatures {

  def features(
      df: DataFrame,
      keyCols: Seq[String],
      order: Seq[Column],
      valueCol: String,
      scale: Int = 2): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(order: _*)
    val w20 = w.rowsBetween(-19, 0)
    val w50 = w.rowsBetween(-49, 0)
    val v = col(valueCol)
    val vDec = v.cast(DecimalType(18, scale))
    val v2Dec = (v * v).cast(DecimalType(18, 2 * scale))
    def ma(frame: org.apache.spark.sql.expressions.WindowSpec): Column =
      sum(vDec).over(frame).cast("double") / count(lit(1)).over(frame)
    val n20 = count(lit(1)).over(w20)
    val s1 = sum(vDec).over(w20).cast("double")
    val s2 = sum(v2Dec).over(w20).cast("double")
    val vol = when(n20 > 1,
      sqrt(greatest((s2 - s1 * s1 / n20) / (n20 - lit(1)), lit(0.0))))
    val prev = lag(v, 1).over(w)
    // ONE select for every window column: a withColumn chain hands the
    // extractor one window expression per nested Project and the plan
    // comes out as THREE sequential Window nodes (three buffered passes
    // over each sorted partition); a single projection lets Catalyst
    // group all five into one Window node over the shared sort
    df.select(col("*"), ma(w20).as("ma_20"), ma(w50).as("ma_50"),
      vol.as("vol_20"), prev.as("prev_value"),
      ((v - prev) / nullif(prev, lit(0.0))).as("daily_return"))
  }
}
