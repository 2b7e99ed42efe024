package graft

import java.nio.file.Files
import java.util.UUID
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Expectations, GoldFeatures, Normalize, TableOps}
import graft.streaming.FileStreamIngest

/** The reference's WHOLE architecture as one running artifact: an
  * always-on bronze→DQ/quarantine→silver→gold pipeline
  * (`FileStreamIngest.medallionBatch`) driven ProcessingTime, stopped
  * mid-stream ("crash"), restarted from its checkpoint, and required to
  * land row-for-row on the BATCH pipeline's answers: silver ==
  * `Normalize.events`, gold == `q_gold_features`'s window view,
  * quarantine == the batch DQ sweep. Every sink is a commit-log table
  * read through its snapshot. Exactly-once comes from keyed upserts at
  * every sink — a replayed micro-batch converges instead of
  * double-appending, which the replay test pins directly.
  */
class MedallionPipelineSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(p: String): String =
    Files.createTempDirectory(s"graft-medallion-$p").toString

  // DQ rules mirroring Normalize.events' validation filter, so the
  // streamed silver is exactly the batch normalization of the good rows
  private val rules = Seq(
    Expectations.Expectation("not_null_ts", col("ts").isNotNull),
    Expectations.Expectation("not_null_user", col("user_id").isNotNull),
    Expectations.Expectation("nonneg_value", col("value") >= 0))

  private val rawCols = Seq("event_id", "ts", "user_id", "event_type", "value")

  /** events plus three injected DQ-violating rows (ids beyond the corpus). */
  private def corpus(): DataFrame = {
    val ev = Tables.events(spark, TestSpark.sfDir)
      .select(rawCols.map(col): _*)
    val bad = Seq(
      (900001L, Some("2024-01-10 01:02:03"), Option.empty[Long], Some("CLICK"), Some(1.0)),
      (900002L, Some("2024-01-11 01:02:03"), Some(7L), Some("view"), Some(-4.0)),
      (900003L, Option.empty[String], Some(8L), Some("view"), Some(2.0))
    ).toDF(rawCols: _*)
      .select(col("event_id"), col("ts").cast("timestamp"), col("user_id"),
        col("event_type"), col("value"))
    ev.unionByName(bad)
  }

  private def batchGold(all: DataFrame): DataFrame =
    GoldFeatures.features(Normalize.events(all), keyCols = Seq("user_id"),
      order = Seq(col("ts"), col("event_id")), valueCol = "value")

  private def assertSameSet(got: DataFrame, want: DataFrame): Unit = {
    val g = got.select(want.columns.map(col).toIndexedSeq: _*)
    assert(g.count() == want.count())
    assert(g.exceptAll(want).isEmpty && want.exceptAll(g).isEmpty)
  }

  private def read(dir: String): DataFrame = TableOps.commitLog.readTable(spark, dir)

  private def sortedRows(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(col).toIndexedSeq: _*)
      .collect().map(_.toString).sorted.toSeq

  private def dayStr(d: Int): String = java.time.LocalDate.of(2024, 1, 1).plusDays(d).toString

  /** Daily bars in the prices shape (FIXTURES.md §B: user_id ≙ symbol,
    * ts ≙ trade date at 20:00 UTC, value ≙ close): one `(symbol, day
    * offset, close)` each, `event_id` = symbol·1000 + day.
    */
  private def bars(rows: Seq[(Long, Int, Double)]): DataFrame =
    rows.map { case (sym, d, v) => (sym * 1000 + d, s"${dayStr(d)} 20:00:00", sym, "bar", v) }
      .toDF(rawCols: _*)
      .withColumn("ts", col("ts").cast("timestamp"))

  test("always-on medallion: crash/restart, then exact batch parity for silver/gold/quarantine") {
    val src = tmp("src"); val out = tmp("out"); val ckpt = tmp("ckpt")
    val all = corpus()
    val schema = all.schema
    // waves split by event_id parity: wave 2 carries rows with EARLIER
    // timestamps than wave-1 rows of the same user — real late data, so
    // gold's incremental maintenance must re-derive downstream features
    val wave1 = all.filter($"event_id" % 2 === 0)
    val wave2 = all.filter($"event_id" % 2 === 1)

    wave1.write.mode("append").parquet(src)
    val q1 = FileStreamIngest.runProcessingTimeMedallion(
      FileStreamIngest.bronzeStream(spark, src, schema), out, ckpt, rules,
      interval = "50 milliseconds")
    try q1.processAllAvailable() finally q1.stop() // "crash" between batches

    // intermediate state is itself the batch answer over wave 1
    assertSameSet(read(s"$out/gold"), batchGold(wave1))

    wave2.write.mode("append").parquet(src)
    val q2 = FileStreamIngest.runProcessingTimeMedallion(
      FileStreamIngest.bronzeStream(spark, src, schema), out, ckpt, rules,
      interval = "50 milliseconds")
    try q2.processAllAvailable() finally q2.stop()

    val silver = read(s"$out/silver")
    assertSameSet(silver, Normalize.events(all))
    // exactly-once: one row per event
    assert(silver.select(countDistinct($"event_id")).as[Long].head() ==
      silver.count())
    assertSameSet(read(s"$out/gold"), batchGold(all))
    val quar = read(s"$out/quarantine")
    assert(quar.select("event_id").as[Long].collect().sorted.toSeq ==
      Seq(900001L, 900002L, 900003L))
    assert(quar.select("dq_reason").as[String].collect().toSet ==
      Set("not_null_ts", "not_null_user", "nonneg_value"))

    // checkpoint replay convergence: re-running an already-committed
    // micro-batch (what a crash INSIDE foreachBatch causes on restart)
    // leaves every table unchanged — all sinks are keyed upserts
    val before = sortedRows(read(s"$out/gold"))
    val quarCount = quar.count()
    FileStreamIngest.medallionBatch(wave2, out, rules)
    assertSameSet(read(s"$out/silver"), Normalize.events(all))
    assert(sortedRows(read(s"$out/gold")) == before)
    assert(read(s"$out/quarantine").count() == quarCount)
  }

  test("ALWAYS-ON medallion over transactional tables: crash/restart, atomic commits, batch parity") {
    val src = tmp("clog-src"); val out = tmp("clog-stream-out"); val ckpt = tmp("clog-ckpt")
    val all = corpus()
    val schema = all.schema
    val wave1 = all.filter($"event_id" % 2 === 0)
    val wave2 = all.filter($"event_id" % 2 === 1)

    wave1.write.mode("append").parquet(src)
    val q1 = FileStreamIngest.runProcessingTimeMedallion(
      FileStreamIngest.bronzeStream(spark, src, schema), out, ckpt, rules,
      interval = "50 milliseconds")
    try q1.processAllAvailable() finally q1.stop() // crash between batches

    wave2.write.mode("append").parquet(src)
    val q2 = FileStreamIngest.runProcessingTimeMedallion(
      FileStreamIngest.bronzeStream(spark, src, schema), out, ckpt, rules,
      interval = "50 milliseconds")
    try q2.processAllAvailable() finally q2.stop()

    assertSameSet(read(s"$out/silver"), Normalize.events(all))
    assertSameSet(read(s"$out/gold"), batchGold(all))
    // every micro-batch landed as one atomic MERGE commit per table, and
    // the change feed replays the whole silver history
    val silverT = graft.tables.CommitLogTable.open(spark, s"$out/silver")
    val acts = silverT.history.select("action").as[String].collect()
    assert(acts.head == "create" && acts.tail.forall(_ == "merge"))
    val inserted = silverT.readChanges(1, silverT.latestVersion)
      .filter($"_change_type" === "insert").count()
    assert(inserted == Normalize.events(all).count(),
      "CDF insert images must cover exactly the silver rows")
    val quar = read(s"$out/quarantine")
    assert(quar.select("event_id").as[Long].collect().sorted.toSeq ==
      Seq(900001L, 900002L, 900003L))
  }

  test("quarantine replay convergence for NULL-id (malformed) rows") {
    val out = tmp("qnull")
    // both rows FAIL the DQ gate; the first is malformed to the point of a
    // NULL event_id — the exact shape a naive event_id-keyed upsert
    // re-inserts on every checkpointed replay (NULL keys never equi-match)
    val bad = Seq(
      (Option.empty[Long], Some("2024-01-10 01:02:03"), Option.empty[Long],
        Some("CLICK"), Some(1.0)),
      (Some(900002L), Some("2024-01-11 01:02:03"), Some(7L), Some("view"),
        Some(-4.0))
    ).toDF(rawCols: _*)
      .select(col("event_id"), col("ts").cast("timestamp"), col("user_id"),
        col("event_type"), col("value"))
    FileStreamIngest.medallionBatch(bad, out, rules)
    val first = read(s"$out/quarantine")
    assert(first.count() == 2)
    assert(first.filter(col("quarantine_key").isNull).isEmpty,
      "the surrogate key must be non-null even for NULL-id rows")
    // a crash inside foreachBatch replays the batch verbatim — the keyed
    // upsert must converge instead of double-appending the NULL-id row
    FileStreamIngest.medallionBatch(bad, out, rules)
    assert(read(s"$out/quarantine").count() == 2,
      "replayed malformed rows re-inserted: quarantine diverges under replay")
  }

  test("streaming upsert restarts across a schema evolution (commit-log binding)") {
    val src = tmp("evo-src"); val ckpt = tmp("evo-ckpt")
    val out = tmp("evo-out") + "/tbl"
    val keys = Seq("event_id", "day")
    def d(s: String) = java.sql.Date.valueOf(s)
    val narrow = Seq((1L, d("2024-01-01"), 1.0)).toDF("event_id", "day", "value")
    narrow.write.mode("append").parquet(src)
    FileStreamIngest.runAvailableNowUpsertPartitioned(
      FileStreamIngest.bronzeStream(spark, src, narrow.schema), out, ckpt,
      keys, Seq($"value"), "day")
    // restart with a WIDENED source schema — the reference's Auto Loader
    // addNewColumns restart (`docs/databricks_setup.md:120`): the new
    // column must evolve the silver table in place, not crash the stream
    val wide = Seq((1L, d("2024-01-01"), 10.0, "fmp"),
      (2L, d("2024-01-02"), 2.0, "iex"))
      .toDF("event_id", "day", "value", "source")
    wide.write.mode("append").parquet(src)
    FileStreamIngest.runAvailableNowUpsertPartitioned(
      FileStreamIngest.bronzeStream(spark, src, wide.schema), out, ckpt,
      keys, Seq($"value"), "day")
    val t = graft.tables.CommitLogTable.open(spark, out)
    assert(t.read().columns.toSeq == Seq("event_id", "day", "value", "source"))
    val got = t.read().select("event_id", "value", "source").collect()
      .map(r => (r.getLong(0), r.getDouble(1), Option(r.getString(2)))).toSet
    assert(got == Set((1L, 10.0, Some("fmp")), (2L, 2.0, Some("iex"))))
    // pre-evolution history is still time-travelable with its own schema
    assert(t.read(Some(1)).columns.toSeq == Seq("event_id", "day", "value"))
  }

  test("medallion through the transactional commit-log binding") {
    val out = tmp("clog-out")
    val all = corpus()
    val wave1 = all.filter($"event_id" % 2 === 0)
    val wave2 = all.filter($"event_id" % 2 === 1)
    FileStreamIngest.medallionBatch(wave1, out, rules)
    FileStreamIngest.medallionBatch(wave2, out, rules)
    assertSameSet(read(s"$out/silver"), Normalize.events(all))
    assertSameSet(read(s"$out/gold"), batchGold(all))
    // each batch = one atomic MERGE commit on each table
    val hist = graft.tables.CommitLogTable.open(spark, s"$out/gold")
      .history.select("action").as[String].collect().toSeq
    assert(hist == Seq("create", "merge", "merge"))
  }

  test("incremental gold: a restatement or a late bar rewrites only its own and later days") {
    val out = tmp("incr")
    def close(sym: Long, d: Int): Double = (10000 + sym * 700 + d * 37 % 113) / 100.0
    // symbol 2 has no bar on day 10 until the late bar below lands
    var current = bars(for (s <- 1L to 3L; d <- 0 until 25 if !(s == 2L && d == 10))
      yield (s, d, close(s, d)))
    FileStreamIngest.medallionBatch(current, out, rules)
    assertSameSet(read(s"$out/gold"), batchGold(current))
    def goldT = graft.tables.CommitLogTable.open(spark, s"$out/gold")

    def land(batch: DataFrame, sym: Long, firstDay: Int, inserted: Long): Unit = {
      current = current.join(batch.select("event_id"), Seq("event_id"), "left_anti")
        .unionByName(batch)
      val quietDay = dayStr(firstDay - 1)
      val quietFiles = goldT.readPartitions(Set(quietDay)).inputFiles.sorted.toSeq
      FileStreamIngest.medallionBatch(batch, out, rules)
      val gold = read(s"$out/gold")
      assertSameSet(gold, batchGold(current))
      // the commit touched the symbol's rows from its first batch day on,
      // not its whole history
      val first = to_date(lit(dayStr(firstDay)))
      val fromFirst = gold.filter($"user_id" === sym && $"day" >= first).count()
      assert(fromFirst < gold.filter($"user_id" === sym).count())
      val v = goldT.latestVersion
      assert(goldT.history.filter($"version" === v)
        .select("rows_inserted", "rows_updated").as[(Long, Long)].head() ==
        (inserted, fromFirst - inserted))
      val images = goldT.readChanges(v, v).filter($"_change_type".startsWith("update_"))
      assert(!images.isEmpty)
      assert(images.filter($"day" < first).isEmpty,
        "gold rows before the batch's first day were rewritten")
      assert(goldT.readPartitions(Set(quietDay)).inputFiles.sorted.toSeq == quietFiles)
      // a replay (a crash between the silver and gold commits) converges
      val before = sortedRows(gold)
      FileStreamIngest.medallionBatch(batch, out, rules)
      assert(sortedRows(read(s"$out/gold")) == before)
    }

    land(bars((22 until 25).map(d => (1L, d, close(1L, d) + 1.5))), sym = 1L,
      firstDay = 22, inserted = 0)
    land(bars(Seq((2L, 10, 99.99))), sym = 2L, firstDay = 10, inserted = 1)
  }

  test("silver winner is deterministic: two versions of one bar with equal ts in one batch") {
    // event 1003 arrives twice with the same ts and different closes
    val rows = Seq((1L, 3, 101.25), (1L, 3, 99.5), (1L, 4, 100.0), (2L, 3, 50.0))
    val outA = tmp("tie-a"); val outB = tmp("tie-b")
    FileStreamIngest.medallionBatch(bars(rows), outA, rules)
    FileStreamIngest.medallionBatch(bars(rows.reverse), outB, rules)
    assert(read(s"$outA/silver").filter($"event_id" === 1003L).count() == 1)
    assert(sortedRows(read(s"$outA/silver")) == sortedRows(read(s"$outB/silver")))
    assert(sortedRows(read(s"$outA/gold")) == sortedRows(read(s"$outB/gold")))
  }

  /** `TableOps.commitLog` with a hook before each commit: `quarantine`
    * before the quarantine upsert, `silver` before the silver upsert.
    */
  private class Hooked(quarantine: () => Unit = () => (),
      silver: () => Unit = () => ()) extends TableOps {
    private val d = TableOps.commitLog
    override def merge(target: DataFrame, updates: DataFrame, keys: Seq[String],
        order: Seq[Column]): DataFrame = d.merge(target, updates, keys, order)
    override def upsertPartitions(batch: DataFrame, targetDir: String,
        keys: Seq[String], order: Seq[Column], dayCol: String): Unit = {
      if (targetDir.endsWith("/silver")) silver()
      d.upsertPartitions(batch, targetDir, keys, order, dayCol)
    }
    override def upsert(batch: DataFrame, targetDir: String, keys: Seq[String],
        order: Seq[Column]): Unit = {
      quarantine()
      d.upsert(batch, targetDir, keys, order)
    }
    override def compact(spark: SparkSession, dir: String, partitionCol: String,
        targetFileBytes: Long, values: Seq[String]): Map[String, (Int, Int)] =
      d.compact(spark, dir, partitionCol, targetFileBytes, values)
    override def vacuum(dir: String): (Int, Int) = d.vacuum(dir)
    override def readTable(spark: SparkSession, dir: String): DataFrame =
      d.readTable(spark, dir)
  }

  /** All three tables equal the batch pipeline's answers over `all`. */
  private def assertBatchParity(out: String, all: DataFrame): Unit = {
    assertSameSet(read(s"$out/silver"), Normalize.events(all))
    assertSameSet(read(s"$out/gold"), batchGold(all))
    assertSameSet(read(s"$out/quarantine"),
      Expectations.quarantine(all, rules).select("event_id", "dq_reason"))
  }

  private def version(out: String, table: String): Long =
    graft.tables.CommitLogTable.open(spark, s"$out/$table").latestVersion

  /** Three symbols' bars over twelve days plus two bars failing the DQ
    * gate, one with an even and one with an odd `event_id`.
    */
  private def smallBatch(): DataFrame =
    bars(for (s <- 1L to 3L; d <- 0 until 12) yield (s, d, 100.0 + s * 10 + d))
      .unionByName(bars(Seq((4L, 2, -1.0), (4L, 3, -1.0))))

  test("the quarantine commit runs concurrently with the silver commit") {
    val out = tmp("fork")
    val all = corpus()
    // the quarantine commit can start only once the silver commit has:
    // sequential commits fail here after the bound instead of hanging
    val silverStarted = new CountDownLatch(1)
    val ops = new Hooked(
      quarantine = () =>
        if (!silverStarted.await(60, TimeUnit.SECONDS))
          fail("quarantine commit did not overlap silver"),
      silver = () => silverStarted.countDown())
    FileStreamIngest.medallionBatch(all, out, rules, ops)
    assertBatchParity(out, all)
  }

  test("a failing branch: the other still commits, the frames are released, a replay converges") {
    val all = smallBatch()
    val wave1 = all.filter($"event_id" % 2 === 0)
    val wave2 = all.filter($"event_id" % 2 === 1)
    val sc = spark.sparkContext
    for (failing <- Seq("quarantine", "silver")) {
      val out = tmp(s"fail-$failing")
      FileStreamIngest.medallionBatch(wave1, out, rules)
      val before = Seq("quarantine", "silver", "gold").map(t => t -> version(out, t)).toMap
      val boom = new IllegalStateException(s"$failing commit failed")
      val ops =
        if (failing == "quarantine") new Hooked(quarantine = () => throw boom)
        else new Hooked(silver = () => throw boom)
      val cachedBefore = sc.getPersistentRDDs.size
      val e = intercept[IllegalStateException](
        FileStreamIngest.medallionBatch(wave2, out, rules, ops))
      assert(e eq boom)
      assert(sc.getPersistentRDDs.size == cachedBefore,
        "a frame stayed persisted after the batch failed")
      if (failing == "quarantine") {
        // thrown only after the other branch had committed silver and gold
        assert(version(out, "quarantine") == before("quarantine"))
        assert(version(out, "silver") == before("silver") + 1)
        assert(version(out, "gold") == before("gold") + 1)
      } else {
        assert(version(out, "quarantine") == before("quarantine") + 1)
        assert(version(out, "silver") == before("silver"))
        assert(version(out, "gold") == before("gold"))
      }
      // the checkpoint replays the whole batch, as after a crash between
      // two commits
      FileStreamIngest.medallionBatch(wave2, out, rules)
      assertBatchParity(out, all)
    }
  }

  test("the forked commits run under the caller's job group") {
    val out = tmp("group")
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    val seenBy = new ConcurrentLinkedQueue[String]()
    def group(table: String) = () => {
      seenBy.add(s"$table:${sc.getLocalProperty("spark.jobGroup.id")}"); ()
    }
    val ops = new Hooked(quarantine = group("quarantine"), silver = group("silver"))
    val end = s"end-${UUID.randomUUID()}"
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("medallion-test", "medallion")
      try FileStreamIngest.medallionBatch(smallBatch(), out, rules, ops)
      finally sc.clearJobGroup()
      sc.setJobGroup(end, "end")
      try spark.range(1).collect() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!groups.contains(end) && System.nanoTime() < deadline) Thread.sleep(20)
      assert(groups.contains(end), "the marker job never reached the listener")
    } finally sc.removeSparkListener(listener)
    assert(seenBy.asScala.toSet == Set("quarantine:medallion-test", "silver:medallion-test"))
    val during = groups.asScala.toSeq.takeWhile(_ != end)
    assert(during.nonEmpty && during.forall(_ == "medallion-test"), during)
    assert(version(out, "quarantine") == 1)
  }
}
