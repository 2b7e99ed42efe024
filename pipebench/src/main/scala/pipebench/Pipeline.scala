package pipebench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Expectations, TableOps}
import graft.streaming.FileStreamIngest
import graft.tables.CommitLogTable

/** Staged raw files: every file a run will land, written once from the
  * generator as `<dir>/f=<index>/part-*.parquet`. Indices grow in landing
  * order.
  */
final class Staging(val dir: Path) {
  def file(i: Int): Path = {
    val st = Files.list(dir.resolve(s"f=$i"))
    try st.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet"))
      .getOrElse(sys.error(s"staged file $i missing"))
    finally st.close()
  }
}

object Staging {
  def write(spark: SparkSession, dir: Path, files: Seq[Seq[Row]]): Staging = {
    val rows = files.zipWithIndex.flatMap { case (rs, i) =>
      rs.map(r => Row.fromSeq(r.toSeq :+ i)) }
    val schema = Gen.Schema.add("f", "int")
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .repartition(col("f")).write.partitionBy("f").parquet(dir.toString)
    new Staging(dir)
  }
}

/** What a landing is expected to leave in the tables, from the generator. */
final case class Expect(symbols: Int, daysLanded: Int, lastDay: Int, changedBars: Int)

/** Table versions and expectations after one wave, for the analyst reads. */
final case class Mark(silver: Long, gold: Long, expect: Expect)

/** One pipeline instance: a watched raw dir, the bronze table with its
  * change feed, the medallion tables and both streams' checkpoints.
  */
final class State(val root: Path) {
  val raw: Path = root.resolve("raw")
  val pending: Path = root.resolve("pending")
  val bronze: Path = root.resolve("bronze")
  val ckpt: Path = root.resolve("ckpt")
  val out: Path = root.resolve("out")
  def silver: Path = out.resolve("silver")
  def gold: Path = out.resolve("gold")
  def quarantine: Path = out.resolve("quarantine")
  def tables: Map[String, Path] =
    Map("bronze" -> bronze, "quarantine" -> quarantine, "silver" -> silver, "gold" -> gold)
  val marks = ArrayBuffer.empty[Mark]

  /** Bytes under every table and checkpoint dir. */
  def writtenBytes: Long = Seq(bronze, ckpt, out).map(Tracer.du(_)._1).sum

  /** Hard-links the staged files into `pending` (untimed); returns bytes. */
  def prepare(staging: Staging, files: Seq[Int]): Long = {
    Files.createDirectories(pending)
    files.map { i =>
      val src = staging.file(i)
      val dst = pending.resolve(s"f-$i.parquet")
      try Files.createLink(dst, src)
      catch { case _: UnsupportedOperationException | _: java.io.IOException =>
        Files.copy(src, dst) }
      Files.size(dst)
    }.sum
  }

  /** Landing: one rename per file into the watched dir. */
  def land(): Unit = {
    Files.createDirectories(raw)
    val st = Files.list(pending)
    try st.iterator().asScala.toList.foreach(p =>
      Files.move(p, raw.resolve(p.getFileName), StandardCopyOption.ATOMIC_MOVE))
    finally st.close()
  }
}

/** The north-star pipeline driven through the program's public entry
  * points: raw files → bronze (`runAvailableNowCommitLogAppend`), bronze's
  * change feed → quarantine/silver/gold (`runAvailableNowForeachBatch` +
  * `medallionBatch`), analyst reads through `CommitLogTable`.
  */
final class Pipeline(spark: SparkSession, tr: Tracer) {
  private val rules = Seq(
    Expectations.Expectation("not_null_ts", col("ts").isNotNull),
    Expectations.Expectation("not_null_user", col("user_id").isNotNull),
    Expectations.Expectation("nonneg_value", col("value") >= 0))
  private val ops: TableOps = if (tr.enabled) new TimedTableOps(tr) else TableOps.commitLog

  /** Lands the pending files and drains them through every layer; returns
    * when the gold commit has.
    */
  def wave(st: State): Unit = tr.span("wave") {
    tr.span("land")(st.land())
    val (b0, f0) = if (tr.enabled) Tracer.du(st.bronze) else (0L, 0L)
    tr.span("streaming.bronze") {
      FileStreamIngest.runAvailableNowCommitLogAppend(
        FileStreamIngest.bronzeStream(spark, st.raw.toString, Gen.Schema),
        st.bronze.toString, st.ckpt.resolve("bronze").toString, appId = "bronze")
    }
    if (tr.enabled) {
      val (b1, f1) = Tracer.du(st.bronze)
      tr.count("bronze.bytes_written", (b1 - b0).toDouble)
      tr.count("bronze.files_written", (f1 - f0).toDouble)
    }
    val changes = spark.readStream.format("commitlog")
      .option("readChangeFeed", "true").load(st.bronze.toString)
    tr.span("streaming.cdf") {
      FileStreamIngest.runAvailableNowForeachBatch(changes,
          st.ckpt.resolve("cdf").toString) { batch =>
        val rows = batch.filter(col("_change_type").isin("insert", "update_postimage"))
          .select(Gen.Schema.fieldNames.map(col).toIndexedSeq: _*)
        tr.span("medallion")(FileStreamIngest.medallionBatch(rows, st.out.toString, rules, ops))
      }
    }
  }

  def versions(st: State): (Long, Long) =
    (CommitLogTable.open(spark, st.silver.toString).latestVersion,
      CommitLogTable.open(spark, st.gold.toString).latestVersion)

  /** The four analyst reads, run between waves. Each returns its wall
    * milliseconds and whether its answer matched the generator's model.
    */
  def reads(st: State, rnd: java.util.Random): Seq[(String, Double, Boolean)] = {
    val cur = st.marks.last
    val prev = if (st.marks.size > 1) st.marks(st.marks.size - 2) else cur
    val sym = Gen.symbolId(rnd.nextInt(cur.expect.symbols))
    val day = Gen.date(cur.expect.lastDay - rnd.nextInt(cur.expect.daysLanded))
    def timed(kind: String)(frame: => DataFrame)(check: Array[Row] => Boolean) = {
      val t0 = System.nanoTime()
      val rows = tr.span(s"read.$kind") {
        val df = tr.span("resolve")(frame)
        val r = df.collect()
        tr.count("rows_returned", r.length.toDouble)
        r
      }
      (kind, (System.nanoTime() - t0) / 1e6, check(rows))
    }
    def open(p: Path) = CommitLogTable.open(spark, p.toString)
    Seq(
      timed("symbol_latest") {
        open(st.gold).read().filter(col("user_id") === sym)
          .orderBy(col("ts").desc).limit(20)
      } { r => r.length == math.min(20, cur.expect.daysLanded) &&
        r.head.getAs[java.sql.Date]("day").toLocalDate == Gen.date(cur.expect.lastDay) },
      timed("day_slice") {
        open(st.silver).read().filter(col("day") === lit(day.toString).cast("date"))
          .select("user_id", "value")
      } { r => r.length == cur.expect.symbols },
      timed("time_travel") {
        open(st.gold).read(Some(prev.gold)).filter(col("user_id") === sym)
          .select("day", "ma_20", "ma_50", "vol_20", "daily_return")
      } { r => r.length == prev.expect.daysLanded },
      timed("cdf_range") {
        val t = open(st.silver)
        val from = if (prev eq cur) 1L else prev.silver + 1
        t.readChanges(from, cur.silver)
          .filter(col("_change_type").isin("insert", "update_postimage"))
          .select("event_id")
      } { r => r.length == (if (prev eq cur) cur.expect.symbols * cur.expect.daysLanded
                            else cur.expect.changedBars) })
  }
}
