package pipebench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{GoldFeatures, Normalize}
import graft.tables.CommitLogTable

/** The output check, run once per state outside every timed window: each
  * table is compared in both directions with `exceptAll` against what the
  * landed raw files imply, as `MedallionPipelineSpec` does.
  *   - silver ≡ `Normalize.events` of the landed rows, latest landing per
  *     `event_id` (landed file names carry a global, landing-ordered index);
  *   - gold ≡ `GoldFeatures.features` over that silver;
  *   - quarantine ≡ the DQ-failing rows with the first failed rule's name.
  */
object Check {
  /** Returns (table, matches) per table. `dropSilverRow` removes one silver
    * row from the comparison input, which must make the silver check fail.
    */
  def apply(spark: SparkSession, st: State, dropSilverRow: Boolean): Seq[(String, Boolean)] = {
    val landed = spark.read.schema(Gen.Schema).parquet(st.raw.toString)
      .withColumn("f", regexp_extract(col("_metadata.file_name"),
        "^f-(\\d+)\\.parquet$", 1).cast("long"))
    val valid = col("ts").isNotNull && col("user_id").isNotNull && col("value") >= 0
    def latest(df: DataFrame): DataFrame =
      df.withColumn("rn", row_number().over(
        Window.partitionBy("event_id").orderBy(col("f").desc)))
        .filter(col("rn") === 1).drop("rn", "f")
    val silverWant = Normalize.events(latest(landed.filter(valid)))
    val goldWant = GoldFeatures.features(silverWant, keyCols = Seq("user_id"),
      order = Seq(col("ts"), col("event_id")), valueCol = "value")
    val quarWant = latest(landed.filter(!valid)).select(col("event_id"),
      when(col("ts").isNull, "not_null_ts")
        .when(col("user_id").isNull, "not_null_user")
        .otherwise("nonneg_value").as("dq_reason"))

    def table(dir: java.nio.file.Path) = CommitLogTable.open(spark, dir.toString).read()
    val silverGot = {
      val s = table(st.silver)
      if (dropSilverRow) s.exceptAll(s.limit(1)) else s
    }
    // the three comparisons are independent Spark jobs: run them together
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val pending = Seq(
      "silver" -> Future(same(silverGot, silverWant)),
      "gold" -> Future(same(table(st.gold), goldWant)),
      "quarantine" -> Future(same(table(st.quarantine), quarWant)))
    pending.map { case (t, f) => t -> Await.result(f, scala.concurrent.duration.Duration(120, "s")) }
  }

  /** Both directions in one action. */
  private def same(got: DataFrame, want: DataFrame): Boolean = {
    val g = got.select(want.columns.map(col).toIndexedSeq: _*)
    g.exceptAll(want).limit(1).union(want.exceptAll(g).limit(1)).isEmpty
  }
}
