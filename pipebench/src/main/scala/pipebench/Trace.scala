package pipebench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.operators.TableOps

/** One traced interval. Times are epoch milliseconds on the clock Spark
  * stamps its stage events with, so stages can be placed inside spans.
  */
final case class Span(id: Int, name: String, parent: Int, wave: Int,
    start: Double, var end: Double = Double.NaN,
    counts: scala.collection.mutable.Map[String, Double] =
      scala.collection.mutable.LinkedHashMap.empty) {
  def dur: Double = end - start
  def covers(t: Double): Boolean = t >= start && t <= end
}

/** What a completed Spark stage did, as its task metrics report it. */
final case class StageRec(submitted: Double, completed: Double, tasks: Int,
    cpuS: Double, gcS: Double, shuffleRead: Double, shuffleWrite: Double,
    spill: Double, recordsRead: Double)

/** Spans, stages, jobs and streaming progress of one traced run, kept in
  * memory and written out once at the end. Disabled, every call is a plain
  * pass-through, which is how the end-to-end numbers are measured.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def now: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  @volatile var wave: Int = -1

  val stages = ArrayBuffer.empty[StageRec]
  val jobStarts = ArrayBuffer.empty[Double]
  val progress = ArrayBuffer.empty[StreamingQueryProgress]
  private var sentinelSeen = Set.empty[String]

  // The micro-batch thread opens spans inside the main thread's runner
  // span while the main thread waits on it: one shared stack, locked.
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = synchronized {
        val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1),
          wave, now)
        spans += s; open = s :: open; s
      }
      try body
      finally synchronized { s.end = now; open = open.filterNot(_ eq s) }
    }

  /** The innermost open span. */
  def current: Span = synchronized(open.head)

  /** Adds `v` to count `key` of the innermost open span. */
  def count(key: String, v: Double): Unit =
    if (enabled) synchronized {
      open.headOption.foreach(s => s.counts(key) = s.counts.getOrElse(key, 0.0) + v)
    }

  if (enabled) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
        Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SentinelKey)))
          .foreach(t => sentinelSeen += t)
        jobStarts += e.time.toDouble
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val m = i.taskMetrics
        val rec = StageRec(
          i.submissionTime.getOrElse(0L).toDouble,
          i.completionTime.getOrElse(0L).toDouble, i.numTasks,
          m.executorCpuTime / 1e9, m.jvmGCTime / 1e3,
          m.shuffleReadMetrics.totalBytesRead.toDouble,
          m.shuffleWriteMetrics.bytesWritten.toDouble,
          (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble,
          m.inputMetrics.recordsRead.toDouble)
        Tracer.this.synchronized { stages += rec }
      }
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        Tracer.this.synchronized { progress += e.progress }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
  }

  /** Waits until the listener bus has delivered every event posted so far:
    * a tagged one-task job is posted after them, and its start event is
    * delivered after theirs. Streaming progress of a stopped query was
    * posted before the query's runner returned.
    */
  def drain(): Unit = if (enabled) {
    val token = java.util.UUID.randomUUID().toString
    val sc = spark.sparkContext
    sc.setLocalProperty(Tracer.SentinelKey, token)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Tracer.SentinelKey, null)
    val deadline = System.nanoTime() + 30e9.toLong
    while (!synchronized(sentinelSeen(token))) {
      require(System.nanoTime() < deadline,
        "listener bus did not deliver the sentinel job within 30 s")
      Thread.sleep(10)
    }
    // the streams queue drains on its own thread: wait until it is quiet
    var n = -1
    while (n != synchronized(progress.size)) { n = synchronized(progress.size); Thread.sleep(250) }
  }

  def stagesIn(s: Span): Seq[StageRec] = stages.filter(r => s.covers(r.submitted)).toSeq
  def jobsIn(s: Span): Int = jobStarts.count(s.covers)

  /** Length of the union of the stage intervals, clipped to `s`. */
  def stageSeconds(s: Span): Double = {
    val iv = stages.map(r => (math.max(r.submitted, s.start), math.min(r.completed, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0; var curA = Double.NaN; var curB = Double.NaN
    for ((a, b) <- iv) {
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) total += curB - curA
    total / 1e3
  }
}

object Tracer {
  private val SentinelKey = "pipebench.sentinel"

  /** Bytes and regular files under `dir`; zero when it does not exist. */
  def du(dir: Path): (Long, Long) =
    if (!Files.exists(dir)) (0L, 0L)
    else {
      val st = Files.walk(dir)
      try st.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((b, n), p) => (b + Files.size(p), n + 1) }
      finally st.close()
    }
}

/** `TableOps.commitLog` with one span per table commit: quarantine comes
  * through `upsert`, silver and gold through `upsertPartitions`, and the
  * gold step's silver read-back through `readTable`. Each commit span
  * records the bytes and files its table directory grew by; the directory
  * walks sit outside the span.
  */
final class TimedTableOps(tr: Tracer) extends TableOps {
  private val d = TableOps.commitLog
  private def table(dir: String): String = dir.split('/').last

  private def commit(dir: String)(body: => Unit): Unit = {
    val (b0, f0) = Tracer.du(Path.of(dir))
    var span: Span = null
    tr.span(s"tables.${table(dir)}") { span = tr.current; body }
    val (b1, f1) = Tracer.du(Path.of(dir))
    span.counts("bytes_written") = (b1 - b0).toDouble
    span.counts("files_written") = (f1 - f0).toDouble
  }

  override def merge(target: DataFrame, updates: DataFrame, keys: Seq[String],
      order: Seq[Column]): DataFrame = d.merge(target, updates, keys, order)
  override def upsertPartitions(batch: DataFrame, targetDir: String,
      keys: Seq[String], order: Seq[Column], dayCol: String): Unit =
    commit(targetDir)(d.upsertPartitions(batch, targetDir, keys, order, dayCol))
  override def upsert(batch: DataFrame, targetDir: String, keys: Seq[String],
      order: Seq[Column]): Unit =
    commit(targetDir)(d.upsert(batch, targetDir, keys, order))
  override def compact(spark: SparkSession, dir: String, partitionCol: String,
      targetFileBytes: Long, values: Seq[String]): Map[String, (Int, Int)] =
    d.compact(spark, dir, partitionCol, targetFileBytes, values)
  override def vacuum(dir: String): (Int, Int) = d.vacuum(dir)
  override def readTable(spark: SparkSession, dir: String): DataFrame =
    tr.span(s"read.${table(dir)}_history")(d.readTable(spark, dir))
}
