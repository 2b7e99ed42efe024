package graft

import java.nio.file.Files
import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalatest.funsuite.AnyFunSuite

import graft.tables.CommitLogTable

/** Commit-log reads plan from the manifest: building a frame launches no
  * Spark job (a listing of more than 32 explicit paths would run one),
  * the scan's file index is the manifest's file list, and the stats
  * pruning it applies to pushed filters never drops a matching row.
  */
class CommitLogReadPlanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val base = java.time.LocalDate.of(2024, 1, 1)
  private val Days = 45

  private def bars(days: Range, perDay: Int): DataFrame =
    days.flatMap(d => (0 until perDay).map(i =>
      (d * 100L + i, java.sql.Date.valueOf(base.plusDays(d)), i * 1.5)))
      .toDF("k", "day", "v")

  /** A day-partitioned table: v1 and v2 each append one file per day,
    * so v1 holds 45 files and the head 90.
    */
  private lazy val dayTable: CommitLogTable = {
    val dir = Files.createTempDirectory("graft-readplan").toString
    val t = CommitLogTable.create(spark, dir, bars(0 until 1, 1).schema, Seq("day"))
    t.append(bars(0 until Days, 3))
    t.append(bars(0 until Days, 5).withColumn("k", $"k" + 50))
    t
  }

  /** Twelve appends of four files each: a change range over 48 files. */
  private lazy val feedTable: CommitLogTable = {
    val dir = Files.createTempDirectory("graft-readplan-feed").toString
    val t = CommitLogTable.create(spark, dir, bars(0 until 1, 1).schema)
    (0 until 12).foreach(i => t.append(bars(i * 4 until i * 4 + 4, 2).repartition(4)))
    t
  }

  /** Jobs launched while `frame` is built, and the frame. Each phase runs
    * under its own job group; the action's job arriving at the listener
    * proves every earlier job start was delivered too.
    */
  private def resolveJobs(frame: => DataFrame): (Int, DataFrame) = {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    val tag = UUID.randomUUID().toString
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(s"resolve-$tag", "resolve")
      val df = try frame finally sc.clearJobGroup()
      sc.setJobGroup(s"action-$tag", "action")
      try df.collect() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!groups.contains(s"action-$tag") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(groups.contains(s"action-$tag"), "the action's job never reached the listener")
      (groups.asScala.count(_ == s"resolve-$tag"), df)
    } finally sc.removeSparkListener(listener)
  }

  private def scans(df: DataFrame): Seq[FileSourceScanExec] =
    collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }

  test("no read launches a job while its frame is built, whatever the file count") {
    val t = dayTable
    val feed = feedTable
    val m = t.resolvedManifest()
    val m1 = t.resolvedManifest(Some(1L))
    assert(m.files.size == 2 * Days && m1.files.size == Days)
    val someDays = (0 until 40).map(d => base.plusDays(d).toString).toSet
    val frames = Seq[(String, () => DataFrame, Int)](
      ("read()", () => t.read(), m.files.size),
      ("read(Some(1))", () => t.read(Some(1L)), m1.files.size),
      ("readPartitions", () => t.readPartitions(someDays), 80),
      ("readRange", () => t.readRange("k", 0L, null), m.files.size),
      ("readChanges", () => feed.readChanges(1L, 12L), -1))
    frames.foreach { case (what, frame, nFiles) =>
      val (jobs, df) = resolveJobs(frame())
      assert(jobs == 0, s"$what launched $jobs job(s) while its frame was built")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("InMemoryFileIndex"), s"$what lists files:\n$plan")
      assert(scans(df).nonEmpty, s"$what has no file scan:\n$plan")
      if (nFiles >= 0) assert(df.inputFiles.length == nFiles, what)
      else assert(df.inputFiles.length > 32, s"$what spans ${df.inputFiles.length} files")
    }
    assert(t.read().count() == Days * 8L && t.read(Some(1L)).count() == Days * 3L)
    assert(feed.readChanges(1L, 12L).count() == 12 * 8L)
  }

  test("inputFiles are the qualified paths a listing of the same files reports") {
    val t = dayTable
    val paths = t.resolvedManifest().files.map(f => t.dataPath(f).toString)
    val listed = spark.read.parquet(paths: _*).inputFiles.sorted.toSeq
    assert(t.read().inputFiles.sorted.toSeq == listed)
    assert(listed.forall(_.startsWith("file:/")))
  }

  test("a one-day filter on a day-partitioned table scans exactly one file") {
    val t = dayTable
    val d = java.sql.Date.valueOf(base.plusDays(17))
    val pinned = t.read(Some(1L)).filter($"day" === lit(d))
    assert(pinned.count() == 3)
    val df = t.read(Some(1L)).filter($"day" === lit(d)).select("k", "v")
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == (1700L until 1703L))
    val files = scans(df).map(_.metrics("numFiles").value).sum
    assert(files == 1, s"a one-day read scanned $files files")
    // the head holds two files for that day; stats on another column
    // narrow further, and a disjunction keeps only the files either side
    // may match (k = 5 matches none)
    val head = t.read().filter($"day" === lit(d) && $"k" >= 1750L).select("k")
    assert(head.collect().length == 5)
    assert(scans(head).map(_.metrics("numFiles").value).sum == 1)
    val either = t.read().filter($"k" === 5L || $"k" === 4452L).select("k")
    assert(either.collect().map(_.getLong(0)).sorted.toSeq == Seq(4452L))
    assert(scans(either).map(_.metrics("numFiles").value).sum == 1)
  }

  test("NaN rows survive pruning: Spark orders NaN above every double") {
    val dir = Files.createTempDirectory("graft-readplan-nan").toString
    val t = CommitLogTable.create(spark, dir, StructType.fromDDL("k BIGINT, x DOUBLE"))
    t.append(Seq((1L, 1.0), (2L, Double.NaN), (3L, 2.0)).toDF("k", "x").coalesce(1))
    t.append(Seq((4L, 200.0), (5L, 300.0)).toDF("k", "x").coalesce(1))
    assert(t.read().filter($"x" > 100.0).select("k").as[Long].collect().sorted.toSeq ==
      Seq(2L, 4L, 5L))
    assert(t.read().filter($"x" >= Double.NaN).select("k").as[Long].collect().toSeq == Seq(2L))
  }

  // ---- pruning soundness: random tables, random filters, a model -------

  /** One row (k, v, s, n, g). */
  private type R = (Long, Option[Int], Option[String], Option[Int], String)

  /** One case: four batches of rows — batch b holds keys in
    * [b·100, b·100 + 40) — a lazy-delete bound, and the filters to check.
    */
  private final case class Case(batches: Seq[Seq[R]], deleteBelow: Long,
      filters: Seq[Column])

  private def batch(b: Int): Gen[Seq[R]] = for {
    ks <- Gen.nonEmptyContainerOf[Set, Long](Gen.choose(b * 100L, b * 100L + 39))
    rows <- Gen.sequence[Seq[R], R](ks.toSeq.sorted.map(k => for {
      v <- Gen.option(Gen.choose(-5, 5))
      s <- Gen.option(Gen.oneOf("a", "b", "m", "z", "zz"))
      n <- Gen.option(Gen.choose(0, 3))
      g <- Gen.oneOf("a", "b", "c")
    } yield (k, v, s, n, g)))
  } yield rows

  private val key = Gen.choose(0L, 420L)
  private val leaf: Gen[Column] = Gen.oneOf(
    key.map(x => col("k") === x),
    key.map(x => col("k") < x),
    key.map(x => col("k") >= x),
    key.map(x => col("k") > x),
    Gen.listOfN(4, key).map(xs => col("k").isin(xs: _*)),
    Gen.listOfN(12, key).map(xs => col("k").isin(xs: _*)), // planned as InSet
    Gen.choose(-6, 6).map(x => col("w") === x),
    Gen.choose(-6, 6).map(x => col("w") < x),
    Gen.oneOf("a", "b", "m", "zz").map(x => col("s") >= x),
    Gen.oneOf("a", "m", "z").map(x => col("s").isin(x, "b")),
    Gen.choose(0, 3).map(x => col("n") === x),
    Gen.oneOf("a", "b", "c").map(x => col("g") === x),
    Gen.oneOf("a", "c").map(x => col("g") < x))
  private def pred(depth: Int): Gen[Column] =
    if (depth == 0) leaf
    else Gen.frequency(2 -> leaf,
      1 -> Gen.zip(pred(depth - 1), pred(depth - 1)).map { case (a, b) => a && b },
      1 -> Gen.zip(pred(depth - 1), pred(depth - 1)).map { case (a, b) => a || b })

  private val cases: Gen[Case] = for {
    bs <- Gen.sequence[Seq[Seq[R]], Seq[R]]((0 until 4).map(batch))
    del <- Gen.choose(0L, 300L)
    fs <- Gen.listOfN(6, pred(2))
  } yield Case(bs, del, fs)

  private val modelSchema = StructType.fromDDL("k BIGINT, w INT, s STRING, g STRING, n INT")

  /** Builds the case's table — batch 0 adopted from a Hive `partitionBy`
    * layout (so `g` is served from the manifest), batch 1 appended,
    * `v` renamed to `w`, batch 2 appended with a new column `n` (absent
    * from older files), `k < deleteBelow` lazily deleted, batch 3
    * appended — and checks every filter against the same rows in memory.
    */
  private def check(c: Case): Boolean = {
    val dir = Files.createTempDirectory("graft-prune-model").toString + "/t"
    def frame(rows: Seq[R], v: String, withN: Boolean) = {
      val df = rows.toDF("k", v, "s", "n", "g")
      (if (withN) df else df.drop("n")).repartition(2)
    }
    frame(c.batches(0), "v", withN = false).write.partitionBy("g").parquet(dir)
    val t = CommitLogTable.convert(spark, dir, Seq("g"))
    t.append(frame(c.batches(1), "v", withN = false))
    t.renameColumn("v", "w")
    t.append(frame(c.batches(2), "w", withN = true), mergeSchema = true)
    t.deleteLazy(s"k < ${c.deleteBelow}")
    t.append(frame(c.batches(3), "w", withN = true))
    val m = t.resolvedManifest()
    require(m.files.exists(_.manifestVals.nonEmpty) &&
      m.columnMapping.get("w").contains("v"), s"case construction at $dir")
    val live = for {
      (rows, b) <- c.batches.zipWithIndex
      (k, v, s, n, g) <- rows if b == 3 || k >= c.deleteBelow
    } yield Row(k, v.orNull, s.orNull, g, (if (b < 2) None else n).orNull)
    val model = spark.createDataFrame(live.asJava, modelSchema)
    val cols = modelSchema.fieldNames.toSeq.map(col)
    c.filters.forall { p =>
      val got = t.read().filter(p).select(cols: _*)
      val want = model.filter(p)
      val ok = got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty
      if (!ok) println(s"filtered read differs from the model for $p at $dir")
      ok
    }
  }

  test("stats pruning never changes a filtered read's rows") {
    val res = Check.check(Check.Parameters.default
      .withMinSuccessfulTests(8).withWorkers(1), Prop.forAll(cases)(check))
    assert(res.passed, res.status)
  }
}
