package graft

import java.nio.file.Files
import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{CollectMetricsExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.tables.CommitLogTable

/** What one DML commit costs in Spark jobs. Every copy-on-write DML
  * (`merge`, `mergeInto`, `update`, `delete`) publishes through one
  * rewrite step; these pins hold each path's job count, so a change to
  * that step cannot add a probe or a pass unnoticed, and each commit's
  * pricing observation must survive AQE in the plan that writes it.
  */
class CommitLogDmlSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def bars(days: Range, perDay: Int, from: Int = 0): DataFrame =
    days.flatMap(d => (from until from + perDay).map(i =>
      (d * 100L + i, f"2024-01-${d + 1}%02d", i * 1.5))).toDF("k", "day", "v")

  /** Eight days of twenty rows, day-partitioned: one file per day. */
  private def dayTable(): CommitLogTable = {
    val dir = Files.createTempDirectory("graft-dml-jobs").toString
    val t = CommitLogTable.create(spark, dir, bars(0 until 1, 1).schema, Seq("day"))
    t.append(bars(0 until 8, 20))
    t
  }

  /** Jobs launched by `commit`, which must publish a new version. The
    * commit runs under its own job group; a marker action after it, in
    * another group, proves every earlier job start reached the listener.
    */
  private def jobs(t: CommitLogTable)(commit: => Unit): Int = {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    val tag = UUID.randomUUID().toString
    val before = t.latestVersion
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(s"dml-$tag", "dml")
      try commit finally sc.clearJobGroup()
      sc.setJobGroup(s"end-$tag", "end")
      try spark.range(1).collect() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!groups.contains(s"end-$tag") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(groups.contains(s"end-$tag"), "the marker job never reached the listener")
      assert(t.latestVersion == before + 1, "the DML published no version")
      groups.asScala.count(_ == s"dml-$tag")
    } finally sc.removeSparkListener(listener)
  }

  /** Two days restated: ten existing keys updated and five added per day. */
  private def updates: DataFrame =
    bars(2 until 4, 15, from = 10).withColumn("v", $"v" + 0.25)

  private def merge(t: CommitLogTable, cdf: Boolean = true): Unit =
    t.merge(updates, Seq("k", "day"), Seq($"v"), recordChanges = cdf)
  private def update(t: CommitLogTable): Unit =
    t.update($"day" === "2024-01-03" && $"v" > 10.0, Map("v" -> ($"v" + 1.0)))
  private def delete(t: CommitLogTable): Unit =
    t.delete($"day" === "2024-01-04" && $"v" < 6.0)

  private val cat = "graft_dml_jobs"
  private lazy val warehouse = {
    val wh = Files.createTempDirectory("graft-dml-jobs-sql").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CommitLogCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    wh
  }
  private var sqlTables = 0

  /** A fresh catalog copy of [[dayTable]], and its SQL MERGE INTO. */
  private def sqlTable(): (CommitLogTable, () => Unit) = {
    val wh = warehouse
    sqlTables += 1
    val name = s"$cat.default.t$sqlTables"
    spark.sql(s"CREATE TABLE $name (k BIGINT, day STRING, v DOUBLE) " +
      "USING commitlog PARTITIONED BY (day)")
    bars(0 until 8, 20).createOrReplaceTempView("dml_jobs_base")
    spark.sql(s"INSERT INTO $name SELECT * FROM dml_jobs_base")
    updates.withColumn("op", when($"k" % 3 === 0, "del").otherwise("set"))
      .createOrReplaceTempView("dml_jobs_src")
    (CommitLogTable.open(spark, s"$wh/default/t$sqlTables"), () => spark.sql(
      s"""MERGE INTO $name AS t USING dml_jobs_src AS s
         |ON t.k = s.k AND t.day = s.day
         |WHEN MATCHED AND s.op = 'del' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT (k, day, v) VALUES (s.k, s.day, s.v)
         |""".stripMargin))
  }

  test("job count of one partitioned merge") {
    val t = dayTable()
    // 14 before the one rewrite step: the change set now reads the
    // persisted join through two union branches, not three, and each
    // branch over a cached frame is one AQE cache-stage job
    assert(jobs(t)(merge(t)) == 13)
  }

  test("job count of one partitioned merge without a change feed") {
    val t = dayTable()
    assert(jobs(t)(merge(t, cdf = false)) == 10)
  }

  test("job count of one stats-pruned update") {
    val t = dayTable()
    assert(jobs(t)(update(t)) == 5)
  }

  test("job count of one stats-pruned delete") {
    val t = dayTable()
    assert(jobs(t)(delete(t)) == 4)
  }

  test("job count of one SQL MERGE INTO") {
    val (t, commit) = sqlTable()
    assert(jobs(t)(commit()) == 14)
  }

  /** For each file write `commit` runs into `t`'s directory: does its
    * executed plan, after AQE, hold a CollectMetrics node?
    */
  private def observedWrites(t: CommitLogTable)(commit: => Unit): Seq[Boolean] = {
    val seen = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val tag = s"marker_${UUID.randomUUID().toString.replace("-", "")}"
    spark.listenerManager.register(listener)
    try {
      commit
      spark.range(1).select(lit(1).as(tag)).collect()
      val deadline = System.nanoTime() + 30L * 1000000000L
      def marked = seen.asScala.exists(_.analyzed.output.exists(_.name == tag))
      while (!marked && System.nanoTime() < deadline) Thread.sleep(20)
      assert(marked, "the marker query never reached the listener")
    } finally spark.listenerManager.unregister(listener)
    val writes = seen.asScala.toSeq.filter(qe =>
      collect(qe.executedPlan) { case w: DataWritingCommandExec => w.cmd }.exists {
        case i: InsertIntoHadoopFsRelationCommand =>
          i.outputPath.toUri.getPath.startsWith(t.dir)
        case _ => false
      })
    assert(writes.nonEmpty, s"no write into ${t.dir} among the executed plans:\n" +
      seen.asScala.map(_.executedPlan.treeString.take(400)).mkString("\n"))
    writes.map(qe => collect(qe.executedPlan) { case c: CollectMetricsExec => c }.nonEmpty)
  }

  test("each DML prices its commit with one CollectMetrics that survives AQE") {
    def check(what: String, t: CommitLogTable, writes: Int)(commit: => Unit): Unit = {
      val got = observedWrites(t)(commit)
      assert(got.size == writes && got.count(identity) == 1,
        s"$what: writes holding a CollectMetrics after AQE: $got")
    }
    val t1 = dayTable(); check("merge", t1, 2)(merge(t1))
    val t2 = dayTable(); check("merge without a change feed", t2, 1)(merge(t2, cdf = false))
    val t3 = dayTable(); check("update", t3, 2)(update(t3))
    val t4 = dayTable(); check("delete", t4, 2)(delete(t4))
    val (t5, commit) = sqlTable(); check("SQL MERGE INTO", t5, 2)(commit())
  }
}
