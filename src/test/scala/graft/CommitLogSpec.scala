package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.tables.{CommitLogTable, GFiles, GPath}

/** The transactional commit-log table format: atomic versioned commits,
  * snapshot-isolated readers, MERGE with partition-pruned copy-on-write,
  * persisted CDF, time travel, OPTIMIZE/VACUUM — the engine's stand-in
  * for the reference's Delta plane (`docs/databricks_setup.md:96,170-198`,
  * `README.md:174`) in a lakehouse-jar-free environment.
  */
/** Deterministic commit-race gate: a filter udf whose `blockFrom`-th
  * evaluation blocks until released. Both merge and append evaluate
  * their batch only INSIDE the commit body (after the snapshot
  * resolves), so `blockFrom = 1` stalls the commit between snapshot
  * resolution and publish — letting a test commit an interleaved writer
  * underneath and observe how the publish race resolves (rebase vs
  * recompute). Top-level object so the task closure resolves it
  * statically in local mode.
  */
object CommitGate {
  private val calls = new java.util.concurrent.atomic.AtomicInteger(0)
  @volatile private var arrivedFlag = false
  @volatile private var latch = new java.util.concurrent.CountDownLatch(1)
  def reset(): Unit = {
    calls.set(0); arrivedFlag = false
    latch = new java.util.concurrent.CountDownLatch(1)
  }
  def udf(blockFrom: Int = 1): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.udf { () =>
      if (calls.incrementAndGet() >= blockFrom) { arrivedFlag = true; latch.await() }
      true
    }.apply()
  def awaitArrived(): Unit = while (!arrivedFlag) Thread.sleep(10)
  def release(): Unit = latch.countDown()
}

class CommitLogSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** Table-root factory — [[CommitLogHadoopStoreSpec]] overrides it
    * with a `file:` URI so THIS WHOLE SUITE re-runs through the Hadoop
    * `FileSystem` storage binding (the HDFS-style test double).
    */
  protected def tmpDir(): String =
    Files.createTempDirectory("graft-commitlog-spec").toString

  /** Extra JVM flags for the cross-JVM race's second process —
    * [[CommitLogLeaseSpec]] passes the lease-coordinator conf through
    * (SparkSession.builder absorbs `spark.*` system properties), so
    * both racing processes arbitrate by the SAME protocol.
    */
  protected def raceJvmFlags: Seq[String] = Seq.empty

  private def rows(df: DataFrame): Set[(Long, String, Double)] =
    df.select("k", "cat", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet

  private def mk(data: Seq[(Long, String, Double)]): DataFrame =
    data.toDF("k", "cat", "v")

  test("append + read + history bookkeeping") {
    val dir = tmpDir()
    val t = CommitLogTable.create(spark, dir, mk(Nil).schema)
    assert(t.latestVersion == 0L)
    assert(t.read().isEmpty)
    t.append(mk(Seq((1L, "a", 1.0), (2L, "b", 2.0))))
    t.append(mk(Seq((3L, "a", 3.0))))
    assert(t.latestVersion == 2L)
    assert(rows(t.read()) == Set((1L, "a", 1.0), (2L, "b", 2.0), (3L, "a", 3.0)))
    val h = t.history.collect().map(r => (r.getLong(0), r.getString(1),
      r.getLong(2), r.getLong(5)))
    assert(h.toSeq == Seq((0L, "create", 0L, 0L), (1L, "append", 2L, 2L),
      (2L, "append", 1L, 3L)))
  }

  test("merge parity with the frame-level MergeUpsert semantics") {
    val dir = tmpDir()
    val target = mk(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)))
    val updates = mk(Seq((2L, "B", 20.0), (4L, "d", 4.0), (2L, "old", 19.0)))
    val expected = graft.operators.MergeUpsert.merge(
      target, updates, Seq("k"), Seq($"v".desc))
    val t = CommitLogTable.create(spark, dir, target.schema)
    t.append(target)
    t.merge(updates, Seq("k"), Seq($"v".desc))
    assert(rows(t.read()) == rows(expected))
    val h = t.history.filter($"version" === 2).head()
    assert((h.getLong(2), h.getLong(3), h.getLong(5)) == (1L, 1L, 4L)) // ins, upd, total
  }

  test("time travel: every historical version stays readable and restore re-publishes it") {
    val dir = tmpDir()
    val t = CommitLogTable.create(spark, dir, mk(Nil).schema)
    t.append(mk(Seq((1L, "a", 1.0))))
    t.merge(mk(Seq((1L, "a", 10.0), (2L, "b", 2.0))), Seq("k"), Seq($"v"))
    t.delete($"k" === 1L)
    assert(rows(t.read(Some(1))) == Set((1L, "a", 1.0)))
    assert(rows(t.read(Some(2))) == Set((1L, "a", 10.0), (2L, "b", 2.0)))
    assert(rows(t.read(Some(3))) == Set((2L, "b", 2.0)))
    val v4 = t.restore(2)
    assert(v4 == 4L)
    assert(rows(t.read()) == Set((1L, "a", 10.0), (2L, "b", 2.0)))
  }

  test("CDF: persisted change rows replay inserts, update images, deletes") {
    val dir = tmpDir()
    val t = CommitLogTable.create(spark, dir, mk(Nil).schema)
    t.append(mk(Seq((1L, "a", 1.0), (2L, "b", 2.0))))
    t.merge(mk(Seq((2L, "b", 20.0), (3L, "c", 3.0))), Seq("k"), Seq($"v"))
    t.delete($"k" === 1L)
    val ch = t.readChanges(1, 3)
      .select("_commit_version", "_change_type", "k", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(ch == Set(
      (1L, "insert", 1L, 1.0), (1L, "insert", 2L, 2.0),
      (2L, "insert", 3L, 3.0),
      (2L, "update_preimage", 2L, 2.0), (2L, "update_postimage", 2L, 20.0),
      (3L, "delete", 1L, 1.0)))
    // a range excluding the delete replays only versions 1-2
    assert(t.readChanges(2, 2).count() == 3L)
  }

  test("reader isolation: a resolved snapshot is immune to a concurrent compact + commit") {
    val dir = tmpDir()
    val t = CommitLogTable.create(spark, dir, mk(Nil).schema)
    (1 to 4).foreach(i => t.append(mk(Seq((i.toLong, "a", i.toDouble)))))
    val before = t.read() // resolves version 4's file list NOW
    val expect = rows(before)
    val filesBefore = CommitLogTable.open(spark, dir) // fresh metadata view
    val report = t.compact(targetFileBytes = 64L * 1024 * 1024)
    assert(report("")._1 > report("")._2, s"compact did not reduce files: $report")
    // the pinned reader still sees its snapshot (old files intact)
    assert(rows(before) == expect)
    // a writer after the compact doesn't disturb it either
    t.merge(mk(Seq((1L, "z", 100.0))), Seq("k"), Seq($"v"))
    assert(rows(before) == expect)
    assert(rows(t.read()) == expect - ((1L, "a", 1.0)) + ((1L, "z", 100.0)))
  }

  test("vacuum honors retention: old files dropped, retained versions readable") {
    val dir = tmpDir()
    val t = CommitLogTable.create(spark, dir, mk(Nil).schema)
    t.append(mk(Seq((1L, "a", 1.0), (2L, "b", 2.0))))
    t.append(mk(Seq((3L, "c", 3.0))))
    t.compact(64L * 1024 * 1024) // v3 rewrites everything
    val deleted = t.vacuum(retainVersions = 1)
    assert(deleted > 0, "vacuum should drop the pre-compact files")
    assert(t.vacuum(retainVersions = 1) == 0, "idempotent")
    assert(rows(t.read()) == Set((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)))
    // time travel past the retention window now fails loudly on restore
    intercept[IllegalArgumentException](t.restore(1))
  }

  test("partitioned merge rewrites ONLY the batch's partitions (manifest-level pruning)") {
    val dir = tmpDir()
    val df = Seq((1L, "d1", 1.0), (2L, "d1", 2.0), (3L, "d2", 3.0))
      .toDF("k", "cat", "v")
    val t = CommitLogTable.create(spark, dir, df.schema, partitionCols = Seq("cat"))
    t.append(df)
    def filesOf(cat: String): Set[String] = {
      // observe the active file list through a fresh read's inputFiles
      CommitLogTable.open(spark, dir).read().inputFiles
        .filter(_.contains(s"__part=$cat")).toSet
    }
    val d1Before = filesOf("d1")
    val d2Before = filesOf("d2")
    t.merge(Seq((3L, "d2", 30.0), (4L, "d2", 4.0)).toDF("k", "cat", "v"),
      Seq("k"), Seq($"v"))
    assert(filesOf("d1") == d1Before, "untouched partition was rewritten")
    assert(filesOf("d2") != d2Before, "batch partition must be rewritten")
    assert(rows(t.read().withColumnRenamed("cat", "cat")) ==
      Set((1L, "d1", 1.0), (2L, "d1", 2.0), (3L, "d2", 30.0), (4L, "d2", 4.0)))
  }

  test("delete: SQL semantics — NULL-evaluating rows survive, CDF covers exactly the deleted") {
    val dir = tmpDir()
    val df = Seq((1L, Some("x"), 1.0), (2L, Some("y"), 2.0),
      (3L, Option.empty[String], 3.0)).toDF("k", "cat", "v")
    val t = CommitLogTable.create(spark, dir, df.schema)
    t.append(df)
    t.delete($"cat" === "x") // NULL === "x" is NULL, not TRUE: row 3 stays
    val kept = t.read().select("k").as[Long].collect().sorted.toSeq
    assert(kept == Seq(2L, 3L), s"NULL-predicate row was dropped: $kept")
    val deleted = t.readChanges(2, 2).select("k").as[Long].collect().toSeq
    assert(deleted == Seq(1L), "CDF must record exactly the TRUE-predicate rows")
    assert(t.history.filter($"version" === 2).head().getLong(4) == 1L)
  }

  test("merge: a NULL-keyed update row inserts intact (never nulled-out value columns)") {
    val dir = tmpDir()
    val t = CommitLogTable.create(spark, dir, mk(Nil).schema)
    t.append(mk(Seq((1L, "a", 1.0))))
    val updates = Seq((Option.empty[Long], Some("b"), Some(2.0)),
      (Option.empty[Long], Some("c"), Some(3.0)),
      (Some(1L), Some("A"), Some(10.0))).toDF("k", "cat", "v")
    t.merge(updates, Seq("k"), Seq($"v"))
    val got = t.read().select("k", "cat", "v").collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0), r.getString(1),
        r.getDouble(2))).toSet
    // BOTH NULL-keyed rows insert independently (latest-wins must not
    // group NULL keys together), values intact
    assert(got == Set((1L, "A", 10.0), (-1L, "b", 2.0), (-1L, "c", 3.0)),
      s"NULL-keyed inserts lost or collapsed: $got")
    val h = t.history.filter($"version" === 2).head()
    assert((h.getLong(2), h.getLong(3)) == (2L, 1L)) // 2 inserts, 1 update
  }

  test("merge recordChanges=false: exact pricing counts, no change set, empty null branch never blocks") {
    val dir = tmpDir()
    val t = CommitLogTable.create(spark, dir, mk(Nil).schema)
    t.append(mk(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))))
    // no NULL-keyed rows: the null branch of the snapshot union is EMPTY
    // at runtime — the pricing observe must sit at the union ROOT, where
    // AQE empty-relation propagation cannot prune it (a CollectMetrics
    // nested in the pruned branch leaves Observation.get blocked forever)
    t.merge(mk(Seq((2L, "B", 20.0), (4L, "d", 4.0))), Seq("k"),
      Seq($"v".desc), recordChanges = false)
    assert(rows(t.read()) ==
      Set((1L, "a", 1.0), (2L, "B", 20.0), (3L, "c", 3.0), (4L, "d", 4.0)))
    val h2 = t.history.filter($"version" === 2).head()
    assert((h2.getLong(2), h2.getLong(3), h2.getLong(5)) == (1L, 1L, 4L))
    assert(t.readChanges(2, 2).isEmpty) // CDF off for this commit
    // NULL-keyed update rows are independent inserts and price as such
    val upd = Seq((Option.empty[Long], Some("n"), Some(9.0)),
      (Some(5L), Some("e"), Some(5.0))).toDF("k", "cat", "v")
    t.merge(upd, Seq("k"), Seq($"v".desc), recordChanges = false)
    val h3 = t.history.filter($"version" === 3).head()
    assert((h3.getLong(2), h3.getLong(3), h3.getLong(5)) == (2L, 0L, 6L))
  }

  test("no-op compact publishes no version; vacuum spares young orphans") {
    val dir = tmpDir()
    val t = CommitLogTable.create(spark, dir, mk(Nil).schema)
    t.append(mk(Seq((1L, "a", 1.0))))
    val v = t.latestVersion
    t.compact(64L * 1024 * 1024) // already one small file: nothing to do
    assert(t.latestVersion == v, "idle compact must not grow the log")
    // a freshly-written unreferenced file (an in-flight commit's output)
    // must survive vacuum's orphan sweep until the grace window passes
    val orphan = GPath(dir, "data", "c-orphan", "part-0.parquet")
    GFiles.createDirectories(orphan.getParent)
    GFiles.write(orphan, Array[Byte](1, 2, 3))
    assert(t.vacuum(retainVersions = 2) == 0, "young orphan swept too early")
    assert(GFiles.exists(orphan))
    assert(CommitLogTable.vacuumPath(dir, retainVersions = 2,
      orphanGraceMillis = 0L) == 1, "aged orphan must be swept")
    assert(!GFiles.exists(orphan))
  }

  test("a DML whose pricing metrics go missing fails naming them and leaves no data or staged dir") {
    val dir = tmpDir()
    val lost = org.apache.spark.sql.graftbridge.LostMetrics.session(spark)
    val t = CommitLogTable.create(lost, dir, mk(Nil).schema)
    t.append(mk(Seq((1L, "a", 1.0), (2L, "b", 2.0))))
    val v = t.latestVersion
    def entries(sub: String) = {
      val p = GPath(dir, sub)
      if (GFiles.exists(p)) GFiles.list(p).map(_.fileName).toSet else Set.empty[String]
    }
    val data = entries("data")
    def check(what: String)(dml: => Unit): Unit = {
      val e = intercept[IllegalStateException](dml)
      assert(e.getMessage.contains("are missing"), s"$what: ${e.getMessage}")
      assert(t.latestVersion == v, s"$what published a version")
      assert(entries("data") == data, s"$what left a data dir")
      assert(entries("_graft_log/staged_changes").isEmpty, s"$what left a staged dir")
    }
    check("update")(t.update($"k" === 1L, Map("v" -> lit(10.0))))
    check("merge without a change feed")(
      t.merge(mk(Seq((2L, "b", 20.0))), Seq("k"), Seq($"v"), recordChanges = false))
    assert(rows(t.read()) == Set((1L, "a", 1.0), (2L, "b", 2.0)))
  }

  test("clustered compact (ZORDER-style): content identical, every file sorted, file ranges disjoint") {
    val dir = tmpDir()
    val t = CommitLogTable.create(spark, dir, mk(Nil).schema)
    // appends arrive in key-interleaved order, several small commits
    val rnd = new scala.util.Random(7)
    val data = rnd.shuffle((1 to 400).map(i => (i.toLong, s"c${i % 3}", i * 1.5)))
    data.grouped(100).foreach(g => t.append(mk(g)))
    val before = rows(t.read())
    // tiny target forces multi-file output per partition → range clustering
    val report = t.compact(targetFileBytes = 4096L, sortCols = Seq($"k"))
    assert(rows(t.read()) == before, "compact changed table content")
    assert(report("")._1 > report("")._2, s"no bin-packing happened: $report")
    val files = t.read().inputFiles
    assert(files.length > 1, "want multiple files to prove disjoint ranges")
    val ranges = files.toSeq.map { f =>
      val ks = spark.read.parquet(f).select("k").collect().map(_.getLong(0)).toSeq
      assert(ks == ks.sorted, s"file $f not sorted by k")
      (ks.min, ks.max)
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo, _)) =>
        assert(hi <= lo, s"file key ranges overlap: $ranges")
      case _ =>
    }
    // the manifest remembers the clustering: repeat runs converge — one
    // re-pack is allowed (sorted data re-compresses, shrinking the
    // byte-derived file budget) and then the FIXPOINT is a no-op commit,
    // not a full-table rewrite on every idle maintenance run
    t.compact(targetFileBytes = 4096L, sortCols = Seq($"k"))
    val v = t.latestVersion
    t.compact(targetFileBytes = 4096L, sortCols = Seq($"k"))
    assert(t.latestVersion == v, "clustered compact must reach a fixpoint")
    // new data clears the marker; the next clustered compact rewrites
    t.append(mk(Seq((999L, "c0", 9.9))))
    t.compact(targetFileBytes = 4096L, sortCols = Seq($"k"))
    assert(t.latestVersion == v + 2)
  }

  test("type-drifted batch is rejected before it can poison the table") {
    val dir = tmpDir()
    val t = CommitLogTable.create(spark, dir, mk(Nil).schema) // v DOUBLE
    t.append(mk(Seq((1L, "a", 1.0))))
    val drifted = Seq((2L, "b", "oops")).toDF("k", "cat", "v") // v STRING
    intercept[IllegalArgumentException](t.append(drifted))
    intercept[IllegalArgumentException](t.merge(drifted, Seq("k"), Seq($"v")))
    assert(t.read().count() == 1L)
  }

  test("merge on a NULL-partition-valued key rewrites (not duplicates) the stored row") {
    val dir = tmpDir()
    val df = Seq((1L, Some("d1"), 1.0), (2L, Option.empty[String], 2.0))
      .toDF("k", "cat", "v")
    val t = CommitLogTable.create(spark, dir, df.schema, partitionCols = Seq("cat"))
    t.append(df)
    // key 2 lives in the __HIVE_DEFAULT_PARTITION__ file; the update's
    // NULL partition value must select that file for the rewrite
    t.merge(Seq((2L, Option.empty[String], 20.0)).toDF("k", "cat", "v"),
      Seq("k"), Seq($"v"))
    val got = t.read().select("k", "v").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got == Set((1L, 1.0), (2L, 20.0)), s"NULL-partition row duplicated: $got")
    val h = t.history.filter($"version" === 2).head()
    assert((h.getLong(2), h.getLong(3)) == (0L, 1L), "must count as an update")
  }

  test("streaming CDF: exactly-once change replay across restarts") {
    val dir = tmpDir()
    val t = CommitLogTable.create(spark, dir, mk(Nil).schema)
    t.append(mk(Seq((1L, "a", 1.0), (2L, "b", 2.0))))
    t.merge(mk(Seq((2L, "b", 20.0), (3L, "c", 3.0))), Seq("k"), Seq($"v"))
    val ckpt = tmpDir()
    val out = tmpDir() + "/out"
    def runOnce(): Unit = {
      val q = t.readChangesStream.writeStream
        .format("parquet")
        .option("checkpointLocation", ckpt).option("path", out)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def slurp(df: DataFrame): Set[(Long, String, Long, Double)] =
      df.select("_commit_version", "_change_type", "k", "v").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
    runOnce()
    assert(slurp(spark.read.parquet(out)) == slurp(t.readChanges(1, 2)))
    // a commit AFTER the first run arrives on restart — once, with nothing
    // from the already-consumed versions replayed
    t.delete($"k" === 1L)
    runOnce()
    assert(spark.read.parquet(out).count() ==
      t.readChanges(1, t.latestVersion).count())
    assert(slurp(spark.read.parquet(out)) ==
      slurp(t.readChanges(1, t.latestVersion)))
    // startingVersion (Delta readChangeFeed parity): a consumer
    // bootstrapped from the v2 snapshot streams only commits ≥ 3
    val out2 = tmpDir() + "/out2"
    val q2 = t.readChangesStream(startingVersion = 3).writeStream
      .format("parquet")
      .option("checkpointLocation", tmpDir()).option("path", out2)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    assert(slurp(spark.read.parquet(out2)) ==
      slurp(t.readChanges(3, t.latestVersion)))
  }

  test("optimistic concurrency: concurrent appends both land, distinct versions") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = tmpDir()
    val t = CommitLogTable.create(spark, dir, mk(Nil).schema)
    val fs = (1 to 4).map { i =>
      Future(t.append(mk(Seq((i.toLong, s"w$i", i.toDouble)))))
    }
    val versions = Await.result(Future.sequence(fs), 120.seconds)
    assert(versions.toSet.size == 4, s"versions collided: $versions")
    assert(t.latestVersion == 4L)
    assert(t.read().count() == 4L)
    val total = t.history.orderBy($"version".desc).head().getLong(5)
    assert(total == 4L)
    // losers cleaned up after themselves: exactly one change dir per
    // committed append survives (an orphan would poison the CDF stream)
    val changeDirs = GFiles.list(GPath(dir, "_graft_log", "changes")).size.toLong
    assert(changeDirs == 4L, s"orphaned change dirs: $changeDirs != 4")
    assert(t.readChanges(1, 4).count() == 4L)
  }

  test("schema evolution: mergeSchema append widens, old files null-backfill, time travel replays the old schema") {
    val dir = tmpDir()
    val t = CommitLogTable.create(spark, dir, mk(Nil).schema)
    t.append(mk(Seq((1L, "a", 1.0), (2L, "b", 2.0)))) // v1, pre-evolution
    val wide = Seq((3L, "c", 3.0, 30.0), (4L, "d", 4.0, 40.0))
      .toDF("k", "cat", "v", "score")
    // strict mode still rejects a widened batch loudly
    intercept[IllegalArgumentException](t.append(wide))
    val filesBefore = t.read().inputFiles.toSet
    t.append(wide, mergeSchema = true) // v2, evolved
    // v1's files were NOT rewritten — they are a subset of the new scan
    assert(filesBefore.subsetOf(t.read().inputFiles.toSet),
      "evolution must not rewrite pre-existing files")
    val got = t.read().select("k", "score").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got == Map(1L -> None, 2L -> None, 3L -> Some(30.0), 4L -> Some(40.0)),
      "pre-evolution rows must read NULL for the new column")
    // per-version schema: time travel to v1 returns the narrow schema
    assert(t.read(Some(1)).columns.toSeq == Seq("k", "cat", "v"))
    assert(t.read().columns.toSeq == Seq("k", "cat", "v", "score"))
    // type changes never pass, evolved or not
    val drifted = Seq((9L, "z", "oops", 1.0)).toDF("k", "cat", "v", "score")
    intercept[IllegalArgumentException](t.append(drifted, mergeSchema = true))
    // merge can evolve too; update rows omitting an old column null it
    // (explicit-NULL update semantics), and a second new column lands
    t.merge(Seq((1L, "A", 10.0, Some("fr")), (5L, "e", 5.0, Option.empty[String]))
      .toDF("k", "cat", "v", "lang"), Seq("k"), Seq(col("v")), mergeSchema = true)
    val r1 = t.read().filter($"k" === 1L).head()
    assert(r1.getAs[String]("cat") == "A" && r1.isNullAt(r1.fieldIndex("score"))
      && r1.getAs[String]("lang") == "fr")
    assert(t.read().filter($"k" === 2L).head().getAs[String]("lang") == null)
    // CDF reads the union under the latest schema (old images null-fill)
    val ch = t.readChanges(1, t.latestVersion)
    // inserts: v1 append 2, v2 evolved append 2, v3 merge 1 (k=5)
    assert(ch.columns.contains("lang") && ch.filter($"_change_type" === "insert").count() == 5)
  }

  test("metadata-only rename (column mapping): zero files rewritten, time travel + CDF + later evolution keep working") {
    val dir = tmpDir()
    val t = CommitLogTable.create(spark, dir, mk(Nil).schema)
    t.append(mk(Seq((1L, "a", 1.0), (2L, "b", 2.0))))
    t.merge(mk(Seq((2L, "B", 20.0), (3L, "c", 3.0))), Seq("k"), Seq($"v"))
    val filesBefore = t.read().inputFiles.toSet
    t.renameColumn("v", "amount")
    assert(t.read().inputFiles.toSet == filesBefore,
      "rename must be metadata-only — no data file may move")
    assert(t.read().columns.toSeq == Seq("k", "cat", "amount"))
    assert(t.read().select("k", "amount").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet ==
      Set((1L, 1.0), (2L, 20.0), (3L, 3.0)))
    // time travel replays the pre-rename name
    assert(t.read(Some(2)).columns.toSeq == Seq("k", "cat", "v"))
    // CDF written BEFORE the rename surfaces under the new logical name
    val post = t.readChanges(2, 2).filter($"_change_type" === "update_postimage")
    assert(post.select("amount").as[Double].collect().toSeq == Seq(20.0))
    // writes speak the new name; the old name is rejected
    intercept[IllegalArgumentException](
      t.merge(mk(Seq((4L, "d", 4.0))), Seq("k"), Seq($"v")))
    t.merge(Seq((4L, "d", 4.0)).toDF("k", "cat", "amount"), Seq("k"),
      Seq($"amount"))
    assert(t.read().count() == 4)
    // evolution AFTER the rename may re-introduce the freed logical name
    // 'v': it must get a fresh physical name (the old physical 'v' still
    // belongs to 'amount' in every existing file)
    t.append(Seq((5L, "e", 5.0, 555.0)).toDF("k", "cat", "amount", "v"),
      mergeSchema = true)
    val r5 = t.read().filter($"k" === 5L).head()
    assert(r5.getAs[Double]("amount") == 5.0 && r5.getAs[Double]("v") == 555.0)
    val r1 = t.read().filter($"k" === 1L).head()
    assert(r1.getAs[Double]("amount") == 1.0 && r1.isNullAt(r1.fieldIndex("v")),
      "old files must keep physical 'v' bound to logical 'amount'")
    // restore to the pre-rename version restores its schema
    t.restore(2)
    assert(t.read().columns.toSeq == Seq("k", "cat", "v"))
  }

  test("metadata-only column drop: retired physical data never resurfaces on re-add") {
    val dir = tmpDir()
    val df = Seq((1L, "a", 1.0, 10.0), (2L, "b", 2.0, 20.0))
      .toDF("k", "cat", "v", "score")
    val t = CommitLogTable.create(spark, dir, df.schema)
    t.append(df)
    val filesBefore = t.read().inputFiles.toSet
    t.dropColumn("score")
    assert(t.read().inputFiles.toSet == filesBefore, "drop must be metadata-only")
    assert(t.read().columns.toSeq == Seq("k", "cat", "v"))
    // strict writes now speak the narrowed schema
    t.append(Seq((3L, "c", 3.0)).toDF("k", "cat", "v"))
    intercept[IllegalArgumentException](
      t.append(Seq((9L, "z", 9.0, 90.0)).toDF("k", "cat", "v", "score")))
    // time travel to the pre-drop version still sees the column
    assert(t.read(Some(1)).columns.toSeq == Seq("k", "cat", "v", "score"))
    assert(t.read(Some(1)).filter($"k" === 1L).head().getAs[Double]("score") == 10.0)
    // evolution RE-ADDS the logical name: it binds a fresh physical name,
    // so the dropped values must read NULL, not 10.0/20.0
    t.append(Seq((4L, "d", 4.0, 400.0)).toDF("k", "cat", "v", "score"),
      mergeSchema = true)
    val got = t.read().select("k", "score").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got == Map(1L -> None, 2L -> None, 3L -> None, 4L -> Some(400.0)),
      s"retired physical data resurfaced: $got")
    // the partition column and the last column refuse to drop
    intercept[IllegalArgumentException](t.dropColumn("nope"))
    val pd = Seq((1L, "x", 1.0)).toDF("k", "cat", "v")
    val tp = CommitLogTable.create(spark, tmpDir(), pd.schema, Seq("cat"))
    intercept[IllegalArgumentException](tp.dropColumn("cat"))
  }

  test("empty merge batch is a no-op: no version published, no snapshot rewrite") {
    val dir = tmpDir()
    val t = CommitLogTable.create(spark, dir, mk(Nil).schema)
    t.append(mk(Seq((1L, "a", 1.0))))
    val v = t.latestVersion
    val files = t.read().inputFiles.toSet
    assert(t.merge(mk(Nil), Seq("k"), Seq($"v")) == v)
    assert(t.latestVersion == v, "idle upsert must not grow the log")
    assert(t.read().inputFiles.toSet == files)
  }

  test("empty append is a no-op; head-hint resolution survives staleness and absence") {
    val dir = tmpDir()
    val t = CommitLogTable.create(spark, dir, mk(Nil).schema)
    t.append(mk(Seq((1L, "a", 1.0))))
    val v = t.latestVersion
    // the `_latest` hint is a FLOOR: a stale value forward-probes to the
    // true head; a missing file falls back to the directory listing
    val hint = GPath(dir, "_graft_log", "_latest")
    GFiles.write(hint, "0".getBytes)
    assert(t.latestVersion == v, "stale hint must be a floor, not the answer")
    GFiles.deleteIfExists(hint)
    assert(t.latestVersion == v, "missing hint must fall back to listing")
    // idle append: no version published, no growth
    assert(t.append(mk(Nil)) == v)
    assert(t.latestVersion == v, "idle append grew the log")
    // but a schema-EVOLVING empty batch still publishes — the widened
    // schema is the commit's content even with zero rows
    t.append(Seq.empty[(Long, String, Double, Double)].toDF("k", "cat", "v", "s2"),
      mergeSchema = true)
    assert(t.latestVersion == v + 1)
    assert(t.read().columns.toSeq == Seq("k", "cat", "v", "s2"))
    assert(rows(t.read()) == Set((1L, "a", 1.0)))
  }

  test("vacuumed pinned version fails fast on read with a clear error") {
    val dir = tmpDir()
    val t = CommitLogTable.create(spark, dir, mk(Nil).schema)
    t.append(mk(Seq((1L, "a", 1.0))))                    // v1
    t.merge(mk(Seq((1L, "a", 9.0))), Seq("k"), Seq($"v")) // v2 rewrites v1's file
    t.vacuum(retainVersions = 1, orphanGraceMillis = 0L)
    val e = intercept[IllegalStateException](t.read(Some(1)))
    assert(e.getMessage.contains("vacuumed") && e.getMessage.contains("retainVersions"),
      s"unclear failure: ${e.getMessage}")
    assert(rows(t.read()) == Set((1L, "a", 9.0)), "head snapshot unaffected")
  }

  test("legacy change files without _commit_version backfill it from the manifest") {
    val dir = tmpDir()
    val t = CommitLogTable.create(spark, dir, mk(Nil).schema)
    t.append(mk(Seq((1L, "a", 1.0), (2L, "b", 2.0)))) // v1
    // simulate the pre-tag on-disk format: strip the stored column
    val chRoot = GPath(dir, "_graft_log", "changes")
    val sub = GFiles.list(chRoot).head
    val legacy = spark.read.parquet(sub.toString).drop("_commit_version")
    val (legacyRows, legacySchema) = (legacy.collect().toSeq, legacy.schema)
    import scala.jdk.CollectionConverters._
    GFiles.deleteRecursively(sub)
    spark.createDataFrame(legacyRows.asJava, legacySchema).write.parquet(sub.toString)
    // a true pre-tag log also predates manifest-named change files —
    // strip the names so the listing fallback serves the rewritten dir
    val mjson = GPath(dir, "_graft_log/v00000000000000000001.json")
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.readTree(new String(GFiles.readAllBytes(mjson)))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    node.remove("changeFiles")
    GFiles.write(mjson, om.writeValueAsString(node).getBytes)
    val ch = CommitLogTable.open(spark, dir).readChanges(1, 1)
    assert(ch.count() == 2 &&
      ch.select("_commit_version").as[Long].collect().toSet == Set(1L),
      "legacy change files must report the manifest's version, not NULL")
  }

  test("concurrent disjoint-partition merges commute: both commit, neither recomputes") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = tmpDir()
    val df = Seq((1L, "d1", 1.0), (2L, "d2", 2.0)).toDF("k", "cat", "v")
    val t = CommitLogTable.create(spark, dir, df.schema, partitionCols = Seq("cat"))
    t.append(df)
    CommitGate.reset()
    // the d1 merge resolves its snapshot, then stalls inside its body
    // (the gate udf blocks the first batch evaluation — inside the
    // commit body, after the snapshot resolved) while the d2 merge
    // commits underneath it: a deterministic publish race
    val slow = Seq((1L, "d1", 101.0)).toDF("k", "cat", "v").filter(CommitGate.udf())
    val fut = Future(t.merge(slow, Seq("k"), Seq($"v")))
    CommitGate.awaitArrived()
    t.merge(Seq((2L, "d2", 102.0)).toDF("k", "cat", "v"), Seq("k"), Seq($"v"))
    CommitGate.release()
    val v = Await.result(fut, 300.seconds)
    assert(v == 3L && t.latestVersion == 3L)
    assert(rows(t.read()) == Set((1L, "d1", 101.0), (2L, "d2", 102.0)))
    assert(t.commitRecomputes.get() == 0L,
      "a disjoint-partition loser must rebase, not recompute")
    assert(t.commitRebases.get() == 1L)
    // the rebased commit's CDF is intact and restamped to its final version
    val ch3 = t.readChanges(3, 3)
    assert(ch3.filter($"_change_type" === "update_postimage")
      .select("v").as[Double].collect().toSeq == Seq(101.0))
  }

  test("concurrent same-partition merges conflict: the loser recomputes against the winner") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = tmpDir()
    val df = Seq((1L, "d1", 1.0)).toDF("k", "cat", "v")
    val t = CommitLogTable.create(spark, dir, df.schema, partitionCols = Seq("cat"))
    t.append(df)
    CommitGate.reset()
    val slow = Seq((1L, "d1", 101.0)).toDF("k", "cat", "v").filter(CommitGate.udf())
    val fut = Future(t.merge(slow, Seq("k"), Seq($"v")))
    CommitGate.awaitArrived()
    t.merge(Seq((1L, "d1", 50.0)).toDF("k", "cat", "v"), Seq("k"), Seq($"v"))
    CommitGate.release()
    Await.result(fut, 300.seconds)
    // latest-wins under v: the recomputed merge sees the winner's 50.0
    assert(rows(t.read()) == Set((1L, "d1", 101.0)))
    assert(t.commitRecomputes.get() == 1L,
      "an overlapping-partition loser MUST recompute — a rebase would lose the winner's rows")
    assert(t.commitRebases.get() == 0L)
  }

  test("UPDATE: SET expressions see current values, CDF images recorded, no-match publishes nothing") {
    val dir = tmpDir()
    val t = CommitLogTable.create(spark, dir, mk(Nil).schema)
    t.append(mk(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))))
    t.update($"k" >= 2L, Map("v" -> (col("v") * 10), "cat" -> upper(col("cat"))))
    assert(rows(t.read()) == Set((1L, "a", 1.0), (2L, "B", 20.0), (3L, "C", 30.0)))
    val h = t.history.filter($"version" === 2).head()
    assert((h.getLong(3), h.getLong(5)) == (2L, 3L)) // rows_updated, rows_total
    val ch = t.readChanges(2, 2)
    assert(ch.filter($"_change_type" === "update_preimage")
      .select("v").as[Double].collect().toSet == Set(2.0, 3.0))
    assert(ch.filter($"_change_type" === "update_postimage")
      .select("v").as[Double].collect().toSet == Set(20.0, 30.0))
    // NULL-evaluating predicate rows don't match (SQL semantics); a
    // no-match update publishes no version
    val v = t.latestVersion
    t.update($"cat" === "nope", Map("v" -> lit(0.0)))
    assert(t.latestVersion == v, "no-match update grew the log")
    // the partition column cannot be SET (rows may not move partitions)
    val pd = Seq((1L, "d1", 1.0)).toDF("k", "cat", "v")
    val tp = CommitLogTable.create(spark, tmpDir(), pd.schema, Seq("cat"))
    tp.append(pd)
    intercept[IllegalArgumentException](
      tp.update($"k" === 1L, Map("cat" -> lit("d2"))))
  }

  test("CHECK constraints: writes validate, violations fail whole, rename/drop of referenced columns refused") {
    val dir = tmpDir()
    val t = CommitLogTable.create(spark, dir, mk(Nil).schema)
    t.append(mk(Seq((1L, "a", 1.0))))
    // existing data must satisfy a new constraint
    intercept[IllegalArgumentException](t.addConstraint("v_neg", "v < 0"))
    t.addConstraint("v_pos", "v >= 0")
    // a violating append fails WHOLE — nothing lands, no version
    val v = t.latestVersion
    intercept[IllegalArgumentException](
      t.append(mk(Seq((2L, "b", 2.0), (3L, "c", -1.0)))))
    assert(t.latestVersion == v && t.read().count() == 1)
    // passing writes flow; NULL passes (SQL CHECK semantics)
    t.append(Seq((4L, Some("d"), Option.empty[Double])).toDF("k", "cat", "v"))
    assert(t.read().count() == 2)
    // merge and update enforce too
    intercept[IllegalArgumentException](
      t.merge(mk(Seq((1L, "a", -5.0))), Seq("k"), Seq($"v")))
    intercept[IllegalArgumentException](
      t.update($"k" === 1L, Map("v" -> lit(-2.0))))
    t.update($"k" === 1L, Map("v" -> lit(9.0)))
    // rename/drop of a referenced column is refused; dropping the
    // constraint re-enables both
    intercept[IllegalArgumentException](t.renameColumn("v", "amount"))
    intercept[IllegalArgumentException](t.dropColumn("v"))
    t.dropConstraint("v_pos")
    t.append(mk(Seq((5L, "e", -1.0)))) // no longer enforced
    t.renameColumn("v", "amount")
    assert(t.read().columns.contains("amount"))
  }

  test("manifest stats + readRange: file skipping on metadata alone, across types and renames") {
    val dir = tmpDir()
    val t = CommitLogTable.create(spark, dir, mk(Nil).schema)
    // four single-file commits with disjoint k ranges — the post-clustered
    // layout (the clustered-compact spec proves disjointness; here the
    // layout is constructed so the pruning arithmetic is exact)
    (0 until 4).foreach { b =>
      t.append(mk(((b * 100 + 1) to (b * 100 + 100)).map(i =>
        (i.toLong, f"c$i%03d", i * 1.0))).coalesce(1))
    }
    val total = t.read().inputFiles.length
    assert(total == 4)
    // numeric range inside one file's bounds → one file scanned
    val q = t.readRange("k", 150L, 160L)
    assert(q.inputFiles.length == 1, s"expected 1 file, got ${q.inputFiles.length}")
    assert(q.select("k").as[Long].collect().sorted.toSeq == (150L to 160L))
    // range straddling two files
    assert(t.readRange("k", 190L, 210L).inputFiles.length == 2)
    // string bounds prune on lexical stats
    val qs = t.readRange("cat", "c050", "c060")
    assert(qs.inputFiles.length == 1 && qs.count() == 11)
    // double column; unbounded low side keeps every file up to hi
    val qd = t.readRange("v", 350.5, null)
    assert(qd.inputFiles.length == 1 && qd.count() == 50)
    assert(t.readRange("k", null, 10L).select("k").as[Long]
      .collect().sorted.toSeq == (1L to 10L))
    // a rename keeps skipping through the immutable physical name
    t.renameColumn("k", "key")
    val qr = t.readRange("key", 150L, 160L)
    assert(qr.inputFiles.length == 1 && qr.count() == 11)
    // date columns prune on their day-int physical stats
    val dd = Seq.tabulate(90)(i =>
      (i.toLong, java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i).toString)))
      .toDF("k", "d")
    val t2 = CommitLogTable.create(spark, tmpDir(), dd.schema)
    t2.append(dd.filter($"k" < 31).coalesce(1))
    t2.append(dd.filter($"k" >= 31 && $"k" < 60).coalesce(1))
    t2.append(dd.filter($"k" >= 60).coalesce(1))
    val qdate = t2.readRange("d",
      java.sql.Date.valueOf("2024-02-05"), java.sql.Date.valueOf("2024-02-20"))
    assert(qdate.inputFiles.length == 1 && qdate.count() == 16)
  }

  test("stats pruning stays conservative: numeric-vs-string bounds, non-ASCII stats, orphanless idle appends") {
    // a NUMERIC bound on a STRING column must not prune lexically while
    // the residual predicate compares after a numeric cast: "10" < "9"
    // lexically but 10 > 9 numerically — pruning on the string stats
    // would silently drop matching rows
    val dir = tmpDir()
    val sdf = Seq((1L, "9"), (2L, "10")).toDF("k", "s")
    val t = CommitLogTable.create(spark, dir, sdf.schema)
    t.append(sdf.coalesce(1))
    assert(t.readRange("s", 9, null).count() == 2,
      "numeric bound on string column wrongly pruned")
    assert(t.readRange("s", "0", "2").select("k").as[Long].collect().toSeq
      == Seq(2L)) // genuine string bounds still prune/filter lexically
    // non-ASCII values: Java UTF-16 order disagrees with parquet's
    // unsigned UTF-8 order beyond the BMP — such stats are not recorded,
    // so the file is read, never wrongly skipped
    val udf2 = Seq((1L, "😀"), (2L, "�")).toDF("k", "s")
    val t2 = CommitLogTable.create(spark, tmpDir(), udf2.schema)
    t2.append(udf2.coalesce(1))
    assert(t2.readRange("s", "�", "�").count() == 1,
      "non-ASCII row lost to miscollated stats pruning")
    // idle appends on a PARTITIONED table leave no orphan commit dirs
    // for vacuum to babysit through the 24h grace window
    val pdf = Seq((1L, "d1", 1.0)).toDF("k", "cat", "v")
    val tp = CommitLogTable.create(spark, tmpDir(), pdf.schema, Seq("cat"))
    tp.append(pdf)
    def dataDirs(d: String) = GFiles.list(GPath(d, "data")).size.toLong
    val before = dataDirs(tp.dir)
    tp.append(pdf.filter($"k" < 0)) // empty batch
    assert(tp.latestVersion == 1L && dataDirs(tp.dir) == before,
      "idle append left an orphan commit dir")
  }

  test("metadata-only commits keep the clustered marker: no full rewrite on the next scheduled compact") {
    val dir = tmpDir()
    val t = CommitLogTable.create(spark, dir, mk(Nil).schema)
    val rnd = new scala.util.Random(3)
    rnd.shuffle((1 to 400).map(i => (i.toLong, s"c${i % 3}", i * 1.5)))
      .grouped(100).foreach(g => t.append(mk(g.toSeq)))
    t.compact(64L * 1024 * 1024, sortCols = Seq($"k")) // clustered
    val v = t.latestVersion
    t.addConstraint("k_pos", "k > 0")
    t.renameColumn("cat", "category") // unrelated to the sort key
    // the files are untouched and still sorted — a repeat clustered
    // compact must be a no-op, not a full-table rewrite
    t.compact(64L * 1024 * 1024, sortCols = Seq($"k"))
    assert(t.latestVersion == v + 2,
      "metadata-only commits dropped the clustered marker: idle compact rewrote the table")
  }

  test("idempotent txn appends: replays skip before writing, concurrent same-txn lands once") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = tmpDir()
    val t = CommitLogTable.create(spark, dir, mk(Nil).schema)
    val b = mk(Seq((1L, "a", 1.0)))
    assert(t.append(b, txn = Some(("job", 0L))) == 1L)
    // replay of a committed txn: skipped (no version, no data written)
    assert(t.append(b, txn = Some(("job", 0L))) == 1L)
    assert(t.read().count() == 1 && t.latestVersion == 1L)
    // a newer version appends; an independent appId is unaffected
    assert(t.append(b, txn = Some(("job", 1L))) == 2L)
    assert(t.append(b, txn = Some(("other", 0L))) == 3L)
    assert(t.read().count() == 3)
    // an EMPTY txn batch still records its version — the replay of an
    // empty batch must be recognizable as committed
    assert(t.append(mk(Nil), txn = Some(("job", 2L))) == 4L)
    assert(t.append(b, txn = Some(("job", 2L))) == 4L,
      "recorded empty txn must suppress the replay")
    assert(t.read().count() == 3)
    // concurrent same-txn writers (a zombie retry racing its successor):
    // exactly one copy lands; the loser's rebase is REFUSED by the txn
    // check and its recompute recognizes the recorded version
    CommitGate.reset()
    val slow = mk(Seq((9L, "z", 9.0))).filter(CommitGate.udf())
    val fut = Future(t.append(slow, txn = Some(("job", 5L))))
    CommitGate.awaitArrived()
    t.append(mk(Seq((9L, "z", 9.0))), txn = Some(("job", 5L)))
    CommitGate.release()
    val v = Await.result(fut, 300.seconds)
    assert(v == t.latestVersion)
    assert(t.read().filter($"k" === 9L).count() == 1, "same txn landed twice")
  }

  test("lazy (merge-on-read) delete: metadata-only, reads filter, rewrites materialize, inserts unaffected") {
    val dir = tmpDir()
    val t = CommitLogTable.create(spark, dir, mk(Nil).schema)
    t.append(mk(Seq((1L, "a", 1.0), (2L, "b", -2.0), (3L, "c", 3.0)))) // v1
    t.append(Seq((4L, Some("d"), Option.empty[Double])).toDF("k", "cat", "v")) // v2
    val filesBefore = t.read().inputFiles.toSet
    t.deleteLazy("v < 0") // v3 — metadata only
    assert(t.read().inputFiles.toSet == filesBefore,
      "lazy delete must not move a single data file")
    // SQL DELETE semantics: NULL-evaluating rows survive
    assert(t.read().select("k").as[Long].collect().sorted.toSeq == Seq(1L, 3L, 4L))
    // rows INSERTED after the delete are never affected, even if they
    // match the predicate (per-file marks give serialization order)
    t.append(mk(Seq((5L, "e", -5.0)))) // v4
    t.deleteLazy("cat = 'c'") // v5 — OR-combines on already-marked files
    assert(t.read().select("k").as[Long].collect().sorted.toSeq == Seq(1L, 4L, 5L))
    // time travel replays the marks of the pinned version
    assert(t.read(Some(2)).count() == 4)
    assert(t.read(Some(3)).select("k").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L, 4L))
    // a rename/drop of a column referenced by an outstanding predicate
    // is refused — the stored SQL text would dangle
    intercept[IllegalArgumentException](t.renameColumn("v", "amount"))
    intercept[IllegalArgumentException](t.dropColumn("cat"))
    // OPTIMIZE materializes: rows physically gone, bookkeeping drops to
    // the logical count, and the freed column ops work again
    t.compact(64L * 1024 * 1024)
    assert(t.read().select("k").as[Long].collect().sorted.toSeq == Seq(1L, 4L, 5L))
    assert(t.read().inputFiles.toSet != filesBefore)
    assert(t.history.orderBy($"version".desc).head().getLong(5) == 3L,
      "materialization must shed the deleted rows from rows_total")
    t.renameColumn("v", "amount")
    assert(t.read().columns.contains("amount"))
  }

  test("lazy delete marks only stats-matching files; materialization rewrites only the marked partition") {
    // part=j holds k ∈ [j*100, j*100+99] — per-file stats make the
    // predicate's footprint provable from the manifest
    val df = (0L until 400L).map(k => (k, (k / 100).toString, k * 1.0))
      .toDF("k", "part", "v")
    val t = CommitLogTable.create(spark, tmpDir(), df.schema, Seq("part"))
    t.append(df)
    val before = t.read().inputFiles.toSet
    // a delete PROVABLY matching nothing publishes no version at all
    val v = t.latestVersion
    assert(t.deleteLazy("k > 100000") == v,
      "provably-empty lazy delete published a version")
    // a selective delete marks ONLY the file whose stats may match — at
    // 100 TB that is 0.1% of files marked/rewritten, not all of them
    t.deleteLazy("k <= 20")
    assert(t.read().count() == 379)
    t.compact(64L * 1024 * 1024) // materializes exactly the marked file
    val after = t.read().inputFiles.toSet
    val moved = before -- after
    assert(moved.size == 1 && moved.head.contains("__part=0"),
      s"materialization rewrote more than the marked partition: $moved")
    assert(t.read().count() == 379)
  }

  test("shallow clone: zero-copy fork, independent histories, vacuum never touches foreign bytes") {
    val srcDir = tmpDir()
    val src = CommitLogTable.create(spark, srcDir, mk(Nil).schema)
    src.append(mk(Seq((1L, "a", 1.0), (2L, "b", 2.0))))
    src.merge(mk(Seq((2L, "B", 20.0))), Seq("k"), Seq($"v"))
    val cloneDir = tmpDir() + "/clone"
    val c = src.shallowCloneTo(cloneDir)
    // zero data copied: the clone has no local data dir yet
    assert(!GFiles.isDirectory(GPath(cloneDir, "data")),
      "shallow clone copied data")
    assert(rows(c.read()) == rows(src.read()))
    assert(c.latestVersion == 0L && c.history.head().getString(1) == "clone")
    // independent histories: a write to the clone is invisible to the
    // source, and vice versa
    c.merge(mk(Seq((3L, "c", 3.0))), Seq("k"), Seq($"v"))
    src.append(mk(Seq((9L, "z", 9.0))))
    assert(rows(c.read()) == Set((1L, "a", 1.0), (2L, "B", 20.0), (3L, "c", 3.0)))
    assert(rows(src.read()) == Set((1L, "a", 1.0), (2L, "B", 20.0), (9L, "z", 9.0)))
    // the clone's vacuum sweeps only its own data dir — the source's
    // bytes (still referenced by the clone's v0) survive untouched
    val srcFilesBefore = src.read().inputFiles.toSet
    c.compact(64L * 1024 * 1024) // localizes the data into the clone
    c.vacuum(retainVersions = 1, orphanGraceMillis = 0L)
    assert(src.read().inputFiles.toSet == srcFilesBefore &&
      rows(src.read()).contains((1L, "a", 1.0)),
      "clone vacuum touched the source's files")
    assert(rows(c.read()) == Set((1L, "a", 1.0), (2L, "B", 20.0), (3L, "c", 3.0)))
    // cloning a PINNED version forks the past
    val c2 = src.shallowCloneTo(tmpDir() + "/clone2", version = Some(1L))
    assert(rows(c2.read()) == Set((1L, "a", 1.0), (2L, "b", 2.0)))
    // cloning a clone re-uses the already-absolute references
    val c3 = c.shallowCloneTo(tmpDir() + "/clone3")
    assert(rows(c3.read()) == rows(c.read()))
  }

  test("mixed concurrent writers: appends + merges interleave arbitrarily, bookkeeping stays exact") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = tmpDir()
    val df = Seq((0L, "d0", 0.0), (1L, "d1", 1.0), (2L, "d2", 2.0),
      (3L, "d3", 3.0)).toDF("k", "cat", "v")
    val t = CommitLogTable.create(spark, dir, df.schema, partitionCols = Seq("cat"))
    t.append(df)
    // five concurrent writers: two blind appends, three single-partition
    // merges — whatever order the publish races resolve in (rebases for
    // commuting pairs, recomputes for the d3 append/merge overlap), the
    // final state is order-independent
    val works: Seq[() => Long] = Seq(
      () => t.append(Seq((10L, "d0", 10.0)).toDF("k", "cat", "v")),
      () => t.merge(Seq((1L, "d1", 100.0)).toDF("k", "cat", "v"), Seq("k"), Seq($"v")),
      () => t.merge(Seq((2L, "d2", 200.0)).toDF("k", "cat", "v"), Seq("k"), Seq($"v")),
      () => t.append(Seq((11L, "d3", 11.0)).toDF("k", "cat", "v")),
      () => t.merge(Seq((3L, "d3", 300.0)).toDF("k", "cat", "v"), Seq("k"), Seq($"v")))
    val versions = Await.result(
      Future.sequence(works.map(w => Future(w()))), 300.seconds)
    assert(versions.toSet.size == 5, s"versions collided: $versions")
    assert(t.latestVersion == 6L)
    assert(rows(t.read()) == Set((0L, "d0", 0.0), (10L, "d0", 10.0),
      (1L, "d1", 100.0), (2L, "d2", 200.0), (3L, "d3", 300.0),
      (11L, "d3", 11.0)), "final state must be order-independent")
    // manifest bookkeeping survives the interleaving exactly
    val h = t.history.orderBy($"version".desc).head()
    assert(h.getLong(5) == 6L, s"rowsTotal drifted: ${h.getLong(5)}")
    assert(t.readChanges(1, 6).filter($"_change_type" === "insert").count() == 6L)
    assert(t.readChanges(1, 6).filter($"_change_type" === "update_postimage")
      .select("v").as[Double].collect().toSet == Set(100.0, 200.0, 300.0))
  }

  test("table properties: SET/UNSET version with the table, idempotent re-sets publish nothing") {
    val dir = tmpDir()
    val t = CommitLogTable.create(spark, dir, mk(Nil).schema)
    t.append(mk(Seq((1L, "a", 1.0))))
    assert(t.properties.isEmpty)
    t.setProperties(Map("owner" -> "ingest", "retention.days" -> "7"))
    assert(t.properties == Map("owner" -> "ingest", "retention.days" -> "7"))
    // idempotent re-set: no version published (idle config loops must
    // not grow the log)
    val v = t.latestVersion
    assert(t.setProperties(Map("owner" -> "ingest")) == v)
    t.setProperties(Map("owner" -> "gold")) // overwrite publishes
    assert(t.latestVersion == v + 1 && t.properties("owner") == "gold")
    // unset; absent keys are a no-op
    t.unsetProperties(Seq("retention.days", "nope"))
    assert(t.properties == Map("owner" -> "gold"))
    assert(t.unsetProperties(Seq("nope")) == t.latestVersion)
    // properties are versioned: a clone carries the head's, data
    // commits preserve them
    t.append(mk(Seq((2L, "b", 2.0))))
    assert(t.properties == Map("owner" -> "gold"))
    val c = t.shallowCloneTo(tmpDir() + "/pclone")
    assert(c.properties == Map("owner" -> "gold"))
  }

  test("model parity: random append/merge/delete/lazy-delete/update/compact sequences match an in-memory model") {
    // the interactions no single spec exercises — a lazy delete under a
    // later merge, an update over half-materialized marks, compact mid-
    // sequence — all checked against a trivial Map model. Seeded: the
    // sequences are deterministic across runs.
    // After every DML step the commit's `history` counts and its change
    // images (`readChanges(v, v)`, as a multiset) are checked against the
    // model too; a zero-effect DML must publish no version.
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 2) {
      val dir = tmpDir()
      val t = CommitLogTable.create(spark, dir, mk(Nil).schema)
      var model = Map.empty[Long, (String, Double)] // k -> (cat, v)
      var nextKey = 0L
      def freshRows(n: Int): Seq[(Long, String, Double)] =
        (1 to n).map { _ =>
          nextKey += 1
          (nextKey, s"c${rnd.nextInt(4)}", math.rint(rnd.nextDouble() * 200) / 2)
        }
      def image(k: Long, tag: String): (Long, String, Double, String) = (k, model(k)._1, model(k)._2, tag)
      def dml(step: Int, what: String, counts: (Long, Long, Long),
          images: Seq[(Long, String, Double, String)])(commit: => Long): Unit = {
        val before = t.latestVersion
        val v = commit
        val at = s"trial $trial step $step ($what)"
        if (counts == ((0L, 0L, 0L))) assert(v == before && t.latestVersion == before,
          s"$at: a zero-effect commit published v$v")
        else {
          assert(v == before + 1, s"$at: published v$v after v$before")
          val h = t.history.orderBy(desc("version")).head()
          assert((h.getAs[Long]("rows_inserted"), h.getAs[Long]("rows_updated"),
            h.getAs[Long]("rows_deleted")) == counts, s"$at: history counts")
          val got = t.readChanges(v, v).select("k", "cat", "v", "_change_type")
          val exp = images.toDF("k", "cat", "v", "_change_type")
          assert(got.exceptAll(exp).isEmpty && exp.exceptAll(got).isEmpty,
            s"$at: change images\n got=${got.collect().toSeq}\n exp=$images")
        }
      }
      // every step kind runs at least once per trial, in a random order
      for ((kind, step) <- rnd.shuffle(Seq.tabulate(16)(_ % 10)).zip(1 to 16)) {
        kind match {
          case 0 | 1 => // append fresh keys
            val rows = freshRows(1 + rnd.nextInt(4))
            t.append(mk(rows).coalesce(1))
            model ++= rows.map(r => r._1 -> (r._2, r._3))
          case c @ (2 | 9) => // merge: mix of updated existing keys and inserts
            val upd = rnd.shuffle(model.keys.toSeq).take(rnd.nextInt(3))
              .map(k => (k, s"u${rnd.nextInt(4)}", math.rint(rnd.nextDouble() * 200) / 2))
            val rows = upd ++ freshRows(1 + rnd.nextInt(2))
            // case 9 is the CDF-off merge: same counts, no change images
            val cdf = c == 2
            val images = if (!cdf) Nil else rows.flatMap { case r @ (k, cat, v) =>
              if (model.contains(k)) Seq(image(k, "update_preimage"),
                (k, cat, v, "update_postimage"))
              else Seq((k, cat, v, "insert"))
            }
            val counts = (rows.count(r => !model.contains(r._1)).toLong,
              upd.size.toLong, 0L)
            dml(step, if (cdf) "merge" else "merge, no CDF", counts, images)(
              t.merge(mk(rows).coalesce(1), Seq("k"), Seq($"v"),
                recordChanges = cdf))
            model ++= rows.map(r => r._1 -> (r._2, r._3))
          case 3 => // eager copy-on-write delete
            val x = rnd.nextInt(200) / 2.0
            val gone = model.filter(_._2._2 < x).keys.toSeq
            dml(step, "delete", (0L, 0L, gone.size.toLong),
              gone.map(image(_, "delete")))(t.delete($"v" < x))
            model = model.filter { case (_, (_, v)) => !(v < x) }
          case 4 => // merge-on-read lazy delete (same logical outcome)
            val x = rnd.nextInt(200) / 2.0
            t.deleteLazy(s"v < $x")
            model = model.filter { case (_, (_, v)) => !(v < x) }
          case 5 => // update
            val x = rnd.nextInt(200) / 2.0
            val hit = model.filter(_._2._2 >= x).keys.toSeq
            dml(step, "update", (0L, hit.size.toLong, 0L), hit.flatMap { k =>
              Seq(image(k, "update_preimage"),
                (k, model(k)._1, model(k)._2 + 0.5, "update_postimage")) })(
              t.update($"v" >= x, Map("v" -> (col("v") + 0.5))))
            model = model.map { case (k, (c, v)) =>
              k -> (c, if (v >= x) v + 0.5 else v) }
          case 6 => // compact: materializes marks, never changes content
            t.compact(targetFileBytes = 4L * 1024)
          case 7 => // idle churn: empty merge + provably-empty lazy delete
            t.merge(mk(Nil), Seq("k"), Seq($"v"))
            if (model.nonEmpty) t.deleteLazy("v < -1000000")
          case 8 => // mergeInto: matched delete / matched update / insert
            // a source row with cat "del" deletes its match and never
            // inserts; any other updates its match or inserts
            val src = rnd.shuffle(model.keys.toSeq).take(rnd.nextInt(4))
              .map(k => (k, if (rnd.nextBoolean()) "del" else s"m${rnd.nextInt(4)}",
                math.rint(rnd.nextDouble() * 200) / 2)) ++
              freshRows(rnd.nextInt(3)).map(r =>
                if (rnd.nextInt(3) == 0) r.copy(_2 = "del") else r)
            val (hits, misses) = src.partition(r => model.contains(r._1))
            val (dels, upds) = hits.partition(_._2 == "del")
            val ins = misses.filterNot(_._2 == "del")
            val images = dels.map(r => image(r._1, "delete")) ++
              upds.flatMap { case (k, cat, v) => Seq(image(k, "update_preimage"),
                (k, cat, v, "update_postimage")) } ++
              ins.map { case (k, cat, v) => (k, cat, v, "insert") }
            val s = col("s.cat") === "del"
            dml(step, "mergeInto", (ins.size.toLong, upds.size.toLong,
                dels.size.toLong), images)(
              t.mergeInto(mk(src).coalesce(1), col("t.k") === col("s.k"),
                Seq(CommitLogTable.MatchedDelete(Some(s)),
                  CommitLogTable.MatchedUpdate(None,
                    Map("cat" -> col("s.cat"), "v" -> col("s.v")))),
                Seq(CommitLogTable.NotMatchedInsert(Some(!s),
                  Map("k" -> col("s.k"), "cat" -> col("s.cat"), "v" -> col("s.v")))),
                Nil))
            model = model -- dels.map(_._1) ++
              (upds ++ ins).map(r => r._1 -> (r._2, r._3))
        }
        if (step % 4 == 0) {
          val got = t.read().collect()
            .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
          assert(got == model,
            s"trial $trial diverged at step $step:\n got=$got\n exp=$model")
        }
      }
      // the full history replays: every version still readable
      (0L to t.latestVersion).foreach(v => t.read(Some(v)).count())
    }
  }

  // -------------------------------------------------- checkpointed log

  private def rawJson(dir: String, v: Long): String =
    new String(GFiles.readAllBytes(
      GPath(dir, "_graft_log", f"v$v%020d.json")),
      java.nio.charset.StandardCharsets.UTF_8)

  test("checkpointed log: commits diff, checkpoints recur, cold reopen resolves across the boundary") {
    val dir = tmpDir()
    val t = CommitLogTable.create(spark, dir, mk(Nil).schema, Seq("cat"))
    val expect = scala.collection.mutable.Set.empty[(Long, String, Double)]
    (1 to 14).foreach { i =>
      val r = Seq((i.toLong, s"c${i % 3}", i * 1.0))
      t.append(mk(r).coalesce(1), recordChanges = false)
      expect ++= r
    }
    // v0 is a full checkpoint; the appends in between serialize as diffs;
    // the CheckpointInterval forces another full snapshot along the way
    assert(rawJson(dir, 0).contains("\"files\""))
    val forms = (1L to 14L).map(v => rawJson(dir, v))
    assert(forms.count(_.contains("\"filesAdded\"")) >= 10,
      "appends should serialize as diffs, not snapshots")
    assert(forms.exists(_.contains("\"files\"")),
      s"no checkpoint within ${CommitLogTable.CheckpointInterval + 4} commits")
    // a lazy delete mutates entries IN PLACE — the diff must carry the
    // mark as remove+add of the same path
    t.deleteLazy("v <= 2.0")
    expect.retain(_._3 > 2.0)
    // cold reopen (fresh instance, empty cache): latest resolves through
    // the diff chain, and time travel crosses the checkpoint boundary
    // in BOTH directions
    val t2 = CommitLogTable.open(spark, dir)
    assert(rows(t2.read()) == expect.toSet)
    assert(t2.read(Some(3L)).count() == 3L)
    assert(t2.read(Some(12L)).count() == 12L)
    assert(t2.history.count() == t2.latestVersion + 1)
  }

  test("commit cost is O(diff): a metadata-only commit's manifest does not scale with the file count") {
    val dir = tmpDir()
    val df = spark.range(400).select($"id".as("k"),
      ($"id" % 64).cast("string").as("cat"), ($"id" * 1.0).as("v"))
    val t = CommitLogTable.create(spark, dir, df.schema, Seq("cat"))
    t.append(df, recordChanges = false) // 64 files
    val v = t.renameColumn("v", "amount")
    val renameBytes = rawJson(dir, v).length
    // the rename touches zero files — its diff manifest is a few hundred
    // bytes of metadata however many files the snapshot holds, while the
    // snapshot (append) manifest carries all 64 entries
    assert(rawJson(dir, v).contains("\"filesAdded\""))
    assert(renameBytes < rawJson(dir, 1).length / 4,
      s"rename manifest ($renameBytes B) should be far smaller than the snapshot")
    // a full-rewrite action (eager delete) replaces every file — the diff
    // would be 2× the snapshot, so it must checkpoint instead
    val dv = t.delete($"k" < 200)
    assert(rawJson(dir, dv).contains("\"files\""))
  }

  test("vacuumLog: superseded segments drop at a checkpoint cut, survivors resolve, dropped versions error clearly") {
    val dir = tmpDir()
    val t = CommitLogTable.create(spark, dir, mk(Nil).schema)
    (1 to 25).foreach(i =>
      t.append(mk(Seq((i.toLong, "a", i * 1.0))).coalesce(1)))
    val before = t.latestVersion
    val dropped = t.vacuumLog(retainVersions = 5)
    assert(dropped > 0)
    val live = GFiles.list(GPath(dir, "_graft_log")).map(_.fileName)
      .filter(n => n.startsWith("v") && n.endsWith(".json"))
      .map(n => n.substring(1, n.length - 5).toLong).sorted
    // at least the last 5 versions survive; the cut lands ON a checkpoint
    // (the oldest survivor is a full manifest, so every survivor replays)
    assert(live.size >= 5 && live.last == before)
    assert(rawJson(dir, live.head).contains("\"files\""))
    val t2 = CommitLogTable.open(spark, dir)
    assert(t2.read().count() == 25L)
    assert(t2.read(Some(live.head)).count() == live.head) // time travel inside retention
    assert(t2.history.count() == live.size)
    val e = intercept[IllegalArgumentException](t2.read(Some(0L)))
    assert(e.getMessage.contains("vacuumed log segment"))
    // data vacuum still works over the shortened log (manifest fold
    // starts at the surviving checkpoint)
    t2.vacuum(retainVersions = 2, orphanGraceMillis = 0L)
    assert(t2.read().count() == 25L)
    // idempotent: nothing newly superseded
    assert(t2.vacuumLog(retainVersions = 5) == 0)
  }

  test("vacuumed change feed: default start serves survivors, an explicit " +
      "cursor into the gap fails loudly (never a silent hole)") {
    val dir = tmpDir()
    val t = CommitLogTable.create(spark, dir, mk(Nil).schema)
    (1 to 25).foreach(i =>
      t.append(mk(Seq((i.toLong, "a", i * 1.0))).coalesce(1)))
    assert(t.vacuumLog(retainVersions = 5) > 0)
    val t2 = CommitLogTable.open(spark, dir)
    val floor = t2.earliestVersion
    assert(floor > 1)
    // from-the-beginning read: the survivors, no throw (retention contract)
    val survivors = t2.readChanges(1, t2.latestVersion)
    assert(survivors.select("_commit_version").distinct().count() ==
      t2.latestVersion - floor + 1)
    // an incremental consumer's explicit cursor below the floor = data
    // loss made VISIBLE (Delta's VersionNotFound), not an empty result
    val e = intercept[IllegalArgumentException](
      t2.readChanges(2, t2.latestVersion).count())
    assert(e.getMessage.contains("log-vacuumed"), e.getMessage)
    // the V2 stream's per-version resolve refuses the same way
    val e2 = intercept[IllegalArgumentException](t2.changeFilesAt(floor - 1))
    assert(e2.getMessage.contains("log-vacuumed"), e2.getMessage)
    // a version beyond the head is merely "nothing yet", never an error
    assert(t2.changeFilesAt(t2.latestVersion + 3).isEmpty)
  }

  test("stats-pruned eager DELETE/UPDATE: unmatched files carry by reference, CDF intact, provable no-ops publish nothing") {
    val dir = tmpDir()
    // 8 files with EXACT disjoint k ranges [i*100, (i+1)*100) — appended
    // one by one so file boundaries are deterministic (repartitionByRange
    // samples its boundaries and may split off-by-a-few)
    val df = spark.range(800).select($"id".as("k"), lit("a").as("cat"),
      ($"id" * 1.0).as("v"))
    val t = CommitLogTable.create(spark, dir, df.schema)
    (0 until 8).foreach { i =>
      t.append(df.filter($"k" >= i * 100 && $"k" < (i + 1) * 100).coalesce(1),
        recordChanges = false)
    }
    // the manifest DIFF is the evidence of pruning: a selective
    // delete/update must remove (rewrite) exactly the one may-match file
    // and carry the other 7 by reference (old bytes stay on disk for
    // time travel either way — the manifest is what matters)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    def diffCounts(v: Long): (Int, Int) = {
      val n = om.readTree(rawJson(dir, v))
      (if (n.hasNonNull("filesAdded")) n.get("filesAdded").size else -1,
        if (n.hasNonNull("filesRemoved")) n.get("filesRemoved").size else -1)
    }
    // k ∈ [0,100) lives in one file — the delete must rewrite only it
    val dv = t.delete($"k" < 100)
    val (dAdd, dRem) = diffCounts(dv)
    assert(dRem == 1, s"selective delete should rewrite exactly 1 of 8 files, rewrote $dRem")
    assert(dAdd >= 0 && dAdd <= 2)
    assert(t.read().count() == 700)
    val delChanges = t.readChanges(dv, dv)
    assert(delChanges.count() == 100 &&
      delChanges.agg(max($"k")).head.getLong(0) == 99L)
    // selective UPDATE: same pruning, pre/post images recorded
    val uv = t.update($"k" >= 700, Map("v" -> (col("v") + 1000)))
    val (_, uRem) = diffCounts(uv)
    assert(uRem == 1,
      s"selective update should rewrite exactly the one may-match file, rewrote $uRem")
    assert(t.read().filter($"k" >= 700).agg(min($"v")).head.getDouble(0) == 1700.0)
    assert(t.readChanges(uv, uv).filter($"_change_type" === "update_postimage").count() == 100)
    // provably-out-of-range predicates publish nothing at all
    val head = t.latestVersion
    assert(t.delete($"k" > 10000000L) == head)
    assert(t.update($"k" > 10000000L, Map("v" -> lit(0.0))) == head)
    // rowsTotal bookkeeping survived the carried-by-reference paths
    assert(t.history.orderBy($"version".desc).select("rows_total")
      .head.getLong(0) == 700L)
  }

  test("Z-order compact: range reads prune on EVERY cluster column; lexicographic leaves the second unprunable") {
    import scala.jdk.CollectionConverters._
    // 64×64 grid of (k, j) — two tables, same content, different layout
    def build(): (String, CommitLogTable) = {
      val dir = tmpDir()
      val df = spark.range(4096).select(($"id" / 64).cast("long").as("k"),
        ($"id" % 64).as("j"), ($"id" * 1.0).as("v"))
      val t = CommitLogTable.create(spark, dir, df.schema)
      t.append(df.repartition(8), recordChanges = false)
      (dir, t)
    }
    def dataBytes(dir: String): Long =
      GFiles.walkFiles(GPath(dir, "data")).map(GFiles.size).sum
    val (lexDir, lex) = build()
    val (_, zed) = build()
    val target = dataBytes(lexDir) / 16 + 1
    lex.compact(target, sortCols = Seq(col("k"), col("j")))
    zed.compactZOrder(target, Seq("k", "j"))
    assert(lex.fileCount() >= 8 && zed.fileCount() >= 8)
    // second-column range: every lexicographic file spans the full j
    // domain (zero pruning); the Z-layout's files have ~sqrt-width j
    // extents, so a narrow j slice touches a fraction of them
    val lexJ = lex.rangeFileCount("j", 0L, 7L)
    val zJ = zed.rangeFileCount("j", 0L, 7L)
    assert(lexJ == lex.fileCount(), "lexicographic files should all span j")
    assert(zJ * 2 <= lexJ,
      s"zorder should prune ≥2× more on the second column: z=$zJ lex=$lexJ")
    // the first column still prunes on the Z-layout
    assert(zed.rangeFileCount("k", 0L, 7L) <= zed.fileCount() / 2)
    // layout change only — content identical
    assert(zed.read().count() == 4096)
    assert(zed.read().agg(sum($"v")).head.getDouble(0) ==
      lex.read().agg(sum($"v")).head.getDouble(0))
    // the zorder cluster marker makes an idle re-run a no-op
    val head = zed.latestVersion
    zed.compactZOrder(target, Seq("k", "j"))
    assert(zed.latestVersion == head)
  }

  test("lazy-delete materialization stamps CDF delete images at the compacting version") {
    val dir = tmpDir()
    val df = spark.range(200).select($"id".as("k"), lit("a").as("cat"),
      ($"id" * 1.0).as("v"))
    val t = CommitLogTable.create(spark, dir, df.schema)
    t.append(df.filter($"k" < 100).coalesce(1))
    t.append(df.filter($"k" >= 100).coalesce(1))
    t.deleteLazy("v < 50") // marks only the first file (stats-aware)
    assert(t.readChanges(3, 3).count() == 0) // lazy delete itself: no CDF
    assert(t.read().count() == 150)
    t.compact(1L << 30) // materializes the mark
    val cv = t.latestVersion
    val ch = t.readChanges(cv, cv)
    // the deferred delete images surface AT the materializing version
    assert(ch.count() == 50)
    assert(ch.select("_change_type").distinct().head.getString(0) == "delete")
    assert(ch.agg(max($"v")).head.getDouble(0) == 49.0)
    // history reports the shed rows as this commit's deletions
    val h = t.history.filter($"version" === cv).head
    assert(h.getAs[Long]("rows_deleted") == 50L)
    assert(h.getAs[Long]("rows_total") == 150L)
    assert(t.read().count() == 150) // content unchanged by materialization
  }

  test("cross-JVM commit arbitration: two processes append concurrently, every commit a distinct version, no lost updates") {
    // the in-memory publish path shares nothing between writers by
    // design; this is the proof — a SECOND JVM (own SparkSession, own
    // table instance) races this one, and arbitration happens purely via
    // the filesystem's atomic hard-link create. (Object stores without
    // atomic create need a commit coordinator instead — documented in
    // CommitLogTable's atomicity contract.)
    val dir = tmpDir()
    val df = Seq(("seed", "s", 0.0)).toDF("k", "cat", "v")
    val t = CommitLogTable.create(spark, dir, df.schema)
    val n = 4
    val jvm = java.nio.file.Paths.get(
      System.getProperty("java.home"), "bin", "java").toString
    val pb = new ProcessBuilder(
      (Seq(jvm, "-Xmx2g") ++ raceJvmFlags ++ Seq("-cp",
        System.getProperty("java.class.path"),
        "graft.CommitRaceAppender", dir, n.toString, "other")): _*)
    pb.redirectErrorStream(true)
    val proc = pb.start()
    // race it from THIS process while the other JVM spins up and appends
    val mine = (1 to n).map { i =>
      t.append(Seq((s"mine-$i", "mine", i * 1.0)).toDF("k", "cat", "v"))
    }
    val out = new String(proc.getInputStream.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(proc.waitFor(120, java.util.concurrent.TimeUnit.SECONDS),
      "second JVM did not finish")
    assert(proc.exitValue() == 0 && out.contains("DONE"),
      s"second JVM failed:\n${out.takeRight(3000)}")
    val theirs = out.linesIterator.find(_.startsWith("DONE")).get
      .stripPrefix("DONE ").split(',').map(_.toLong).toSeq
    // 2n appends → versions 1..2n, each claimed EXACTLY once across the
    // two processes
    assert((mine ++ theirs).sorted == (1L to 2L * n),
      s"version claims collided or skipped: mine=$mine theirs=$theirs")
    assert(t.latestVersion == 2L * n)
    // no lost updates: every row from both writers is present once
    val rows = t.read().select("k").as[String].collect().sorted.toSeq
    assert(rows == ((1 to n).map(i => s"mine-$i") ++
      (1 to n).map(i => s"other-$i")).sorted)
    // both histories replay from either side's log view
    assert(t.history.count() == 2L * n + 1)
  }

  test("TableOps commit-log binding: upsertPartitions + compact + vacuum end-to-end") {
    val dir = tmpDir() + "/tbl"
    val ops = graft.operators.TableOps.commitLog
    val b1 = Seq((1L, java.sql.Date.valueOf("2024-01-01"), 1.0),
      (2L, java.sql.Date.valueOf("2024-01-02"), 2.0)).toDF("k", "day", "v")
    val b2 = Seq((2L, java.sql.Date.valueOf("2024-01-02"), 20.0),
      (3L, java.sql.Date.valueOf("2024-01-02"), 3.0)).toDF("k", "day", "v")
    ops.upsertPartitions(b1, dir, Seq("k", "day"), Seq($"v".desc), "day")
    ops.upsertPartitions(b2, dir, Seq("k", "day"), Seq($"v".desc), "day")
    val t = CommitLogTable.open(spark, dir)
    val got = t.read().select("k", "v").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got == Set((1L, 1.0), (2L, 20.0), (3L, 3.0)))
    val report = ops.compact(spark, dir, "day", 64L * 1024 * 1024,
      Seq("2024-01-02"))
    assert(report.keySet == Set("2024-01-02"))
    val (restored, deleted) = ops.vacuum(dir)
    assert(restored == 0)
    assert(t.read().count() == 3L) // retention window keeps the live snapshot
  }

  test("manifest-named change files: a mid-promotion split reads whole; legacy name-less manifests fall back to listing") {
    import java.nio.file.{Files, Paths}
    val dir = tmpDir() + "/t"
    val df = spark.range(8).selectExpr("id AS k", "id * 1.0 AS v")
    val t = graft.tables.CommitLogTable.create(spark, dir, df.schema)
    t.append(df.repartition(2)) // records changes across >= 2 change files
    def changeRows(): Seq[Long] =
      graft.tables.CommitLogTable.open(spark, dir).readChanges(1, 1)
        .select("k").collect().map(_.getLong(0)).sorted.toSeq
    assert(changeRows() == (0L until 8L))
    // the committed manifest NAMES its change files
    val mjson = GPath(dir, "_graft_log/v00000000000000000001.json")
    assert(new String(GFiles.readAllBytes(mjson)).contains("changeFiles"))
    // simulate an object store mid-"rename" (copy-per-object): one change
    // file promoted, the other back in staging — named resolution must
    // still serve every row (a directory listing would silently drop one)
    val sub = GFiles.list(GPath(dir, "_graft_log/changes")).head
    val parts = GFiles.list(sub)
      .filter(_.fileName.endsWith(".parquet")).sortBy(_.toString)
    assert(parts.size >= 2, s"need >= 2 change files, got $parts")
    val staged = GPath(dir, "_graft_log/staged_changes", sub.fileName)
    GFiles.createDirectories(staged)
    GFiles.moveNoReplace(parts.head, staged.resolve(parts.head.fileName))
    assert(changeRows() == (0L until 8L),
      "named change files must resolve across promoted AND staged locations")
    // V2 batch CDF (the format path) reads the same way
    assert(spark.read.format("commitlog").option("readChangeFeed", "true")
      .load(dir).select("k").collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 8L))
    // restore the layout, then strip the names: a LEGACY manifest (no
    // changeFiles field) must fall back to listing the promoted dir
    GFiles.moveNoReplace(staged.resolve(parts.head.fileName), parts.head)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.readTree(new String(GFiles.readAllBytes(mjson)))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    node.remove("changeFiles")
    GFiles.write(mjson, om.writeValueAsString(node).getBytes)
    assert(changeRows() == (0L until 8L),
      "legacy name-less manifests must keep reading via the dir listing")
  }

  test("a WIDE change-feed range plans ONE scan (dir->version backfill " +
      "join), not one frame per version") {
    val dir = tmpDir()
    val t = CommitLogTable.create(spark, dir, mk(Nil).schema)
    (1 to 20).foreach(i =>
      t.append(mk(Seq((i.toLong, "a", i * 1.0))).coalesce(1)))
    val df = t.readChanges(1, t.latestVersion)
    assert(df.select("k").collect().map(_.getLong(0)).sorted.toSeq ==
      (1L to 20L))
    assert(df.select("_commit_version").distinct().count() == 20L)
    val leaves = df.queryExecution.executedPlan.collectLeaves()
    assert(leaves.size <= 3,
      s"expected one consolidated scan + broadcast map, got " +
        s"${leaves.size} leaves")
  }
}
