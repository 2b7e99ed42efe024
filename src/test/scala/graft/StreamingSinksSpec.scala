package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TableOps
import graft.sinks.Sinks
import graft.streaming.FileStreamIngest
import graft.tables.CommitLogTable

import java.nio.file.Files

class StreamingSinksSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("availableNow file stream: two triggers, exactly-once across restarts") {
    val src = tmp("src"); val out = tmp("out"); val ckpt = tmp("ckpt")
    val ev = Tables.events(spark, TestSpark.sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val total = ev.count()
    val slice1 = ev.filter($"event_id" % 2 === 0)
    val slice2 = ev.filter($"event_id" % 2 === 1)
    slice1.write.mode("append").parquet(src)
    val schema = ev.schema

    val s1 = FileStreamIngest.bronzeStream(spark, src, schema)
    FileStreamIngest.runAvailableNowAppend(s1, out, ckpt)
    assert(spark.read.parquet(out).count() == slice1.count())

    // new files arrive; a NEW query on the SAME checkpoint must pick up
    // only the delta (exactly-once across restarts)
    slice2.write.mode("append").parquet(src)
    val s2 = FileStreamIngest.bronzeStream(spark, src, schema)
    FileStreamIngest.runAvailableNowAppend(s2, out, ckpt)
    val got = spark.read.parquet(out)
    assert(got.count() == total)
    assert(got.select(countDistinct($"event_id")).collect()(0).getLong(0) == total)
  }

  test("processingTime file stream: always-on micro-batches, exactly-once, checkpoint shared with availableNow") {
    val src = tmp("psrc"); val out = tmp("pout"); val ckpt = tmp("pckpt")
    val ev = Tables.events(spark, TestSpark.sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val total = ev.count()
    val slice1 = ev.filter($"event_id" % 2 === 0)
    val slice2 = ev.filter($"event_id" % 2 === 1)
    slice1.write.mode("append").parquet(src)
    val schema = ev.schema

    // always-on query: short cadence for the test; drain deterministically
    // with processAllAvailable rather than sleeping on the trigger clock
    val q = FileStreamIngest.runProcessingTimeAppend(
      FileStreamIngest.bronzeStream(spark, src, schema), out, ckpt,
      interval = "50 milliseconds")
    try {
      q.processAllAvailable()
      assert(spark.read.parquet(out).count() == slice1.count())
      // files arriving while the query RUNS are drained by later triggers
      slice2.write.mode("append").parquet(src)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(out)
    assert(got.count() == total)
    assert(got.select(countDistinct($"event_id")).collect()(0).getLong(0) == total)

    // same checkpoint, scheduled-mode restart: nothing left to ingest
    FileStreamIngest.runAvailableNowAppend(
      FileStreamIngest.bronzeStream(spark, src, schema), out, ckpt)
    assert(spark.read.parquet(out).count() == total)
  }

  test("processingTime partitioned upsert: always-on latest-wins silver") {
    val src = tmp("ppsrc"); val target = tmp("pptgt") + "/silver"; val ckpt = tmp("ppckpt")
    val b1 = Seq((1L, "2024-01-01", 10L, 1.0), (2L, "2024-01-02", 10L, 2.0))
      .toDF("k", "day", "ord", "v")
    b1.write.mode("append").parquet(src)
    val q = FileStreamIngest.runProcessingTimeUpsertPartitioned(
      FileStreamIngest.bronzeStream(spark, src, b1.schema),
      target, ckpt, Seq("k", "day"), Seq($"ord".desc), "day",
      interval = "50 milliseconds")
    try {
      q.processAllAvailable()
      assert(TableOps.commitLog.readTable(spark, target).count() == 2)
      // a later wave for the same key arrives while the query runs
      Seq((1L, "2024-01-01", 20L, 9.0)).toDF("k", "day", "ord", "v")
        .write.mode("append").parquet(src)
      q.processAllAvailable()
    } finally q.stop()
    val after = TableOps.commitLog.readTable(spark, target).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[Double]("v")).toMap
    assert(after == Map(1L -> 9.0, 2L -> 2.0)) // latest won, other day intact
  }

  test("foreachBatch silver upsert: latest-wins across two micro-batch runs") {
    val src = tmp("usrc"); val target = tmp("utgt") + "/silver"; val ckpt = tmp("uckpt")
    val b1 = Seq((1L, 10L, 1.0), (2L, 10L, 2.0)).toDF("k", "ord", "v")
    b1.write.mode("append").parquet(src)
    val schema = b1.schema
    def drain(): Unit = FileStreamIngest.runAvailableNowForeachBatch(
      FileStreamIngest.bronzeStream(spark, src, schema), ckpt)(
      TableOps.commitLog.upsert(_, target, Seq("k"), Seq($"ord".desc)))
    drain()
    val after1 = TableOps.commitLog.readTable(spark, target).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(after1 == Map(1L -> (10L, 1.0), 2L -> (10L, 2.0)))

    val b2 = Seq((1L, 20L, 9.0), (3L, 20L, 3.0)).toDF("k", "ord", "v")
    b2.write.mode("append").parquet(src)
    drain()
    val after2 = TableOps.commitLog.readTable(spark, target).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(after2 == Map(1L -> (20L, 9.0), 2L -> (10L, 2.0), 3L -> (20L, 3.0)))
  }

  test("streaming schema inference: first run infers + records, restarts hold the schema, late columns rescue") {
    import java.nio.file.Paths
    val src = tmp("inf-src"); val out = tmp("inf-out"); val ckpt = tmp("inf-ckpt")
    val schemaLoc = tmp("inf-schema")
    Files.writeString(Paths.get(src, "a.json"),
      "{\"id\": 1, \"sym\": \"AAPL\", \"px\": 10.5}\n" +
        "{\"id\": 2, \"sym\": \"MSFT\", \"px\": 20.25}\n")
    FileStreamIngest.runAvailableNowAppend(
      FileStreamIngest.bronzeJsonStreamInferred(spark, src, schemaLoc), out, ckpt)
    val r1 = spark.read.parquet(out)
    assert(r1.columns.toSet == Set("id", "sym", "px", "_rescued_data"))
    assert(r1.schema("id").dataType == org.apache.spark.sql.types.LongType)
    assert(r1.schema("px").dataType == org.apache.spark.sql.types.DoubleType)
    assert(r1.filter($"_rescued_data".isNotNull).isEmpty)
    val schemaFile = Paths.get(schemaLoc, "schema.json")
    assert(Files.exists(schemaFile), "first run must RECORD the inferred schema")
    val recorded = Files.readString(schemaFile)
    // restart after a file with an EXTRA column arrives: the recorded
    // schema holds (no re-inference, no re-typing under the checkpoint)
    // and the new column lands in _rescued_data, exactly like Auto
    // Loader's schemaEvolutionMode=rescue
    Files.writeString(Paths.get(src, "b.json"),
      "{\"id\": 3, \"sym\": \"GOOG\", \"px\": 5.0, \"venue\": \"NYSE\"}\n")
    FileStreamIngest.runAvailableNowAppend(
      FileStreamIngest.bronzeJsonStreamInferred(spark, src, schemaLoc), out, ckpt)
    val r2 = spark.read.parquet(out)
    assert(r2.count() == 3)
    val late = r2.filter($"id" === 3).head()
    val rescued = late.getAs[String]("_rescued_data")
    assert(rescued != null && rescued.contains("\"venue\":\"NYSE\""),
      s"undeclared late column must be rescued, got: $rescued")
    assert(Files.readString(schemaFile) == recorded,
      "a restart must never silently re-infer the recorded schema")
  }

  test("schemaLocation at a file: URI records and holds through the " +
      "Hadoop storage binding (Auto Loader's schemaLocation lives on " +
      "the lake)") {
    import java.nio.file.Paths
    val src = tmp("infh-src"); val out = tmp("infh-out")
    val ckpt = tmp("infh-ckpt")
    val schemaLoc = "file:" + tmp("infh-schema")
    Files.writeString(Paths.get(src, "a.json"),
      "{\"id\": 1, \"px\": 10.5}\n")
    FileStreamIngest.runAvailableNowAppend(
      FileStreamIngest.bronzeJsonStreamInferred(spark, src, schemaLoc),
      out, ckpt)
    val f = graft.tables.GPath(schemaLoc, "schema.json")
    assert(graft.tables.GFiles.exists(f),
      "schema must record at the scheme'd location")
    val recorded = graft.tables.GFiles.readString(f)
    // a restart resolves the RECORDED schema from the scheme'd location
    Files.writeString(Paths.get(src, "b.json"), "{\"id\": 2, \"px\": 1.0}\n")
    FileStreamIngest.runAvailableNowAppend(
      FileStreamIngest.bronzeJsonStreamInferred(spark, src, schemaLoc),
      out, ckpt)
    assert(spark.read.parquet(out).count() == 2)
    assert(graft.tables.GFiles.readString(f) == recorded)
    // don't leak a still-unregistering query into the next test (the
    // metrics-listener test counts events on the shared session)
    while (spark.streams.active.nonEmpty) Thread.sleep(50)
  }

  test("parquet upsert evolves on a wider batch: pre-evolution snapshot null-backfills, never crashes") {
    // the upgrade path: a pipeline restarted with a batch that gained a
    // column (widened source, or an engine upgrade adding a surrogate
    // key) must keep flowing over the old-format snapshot
    val dir = tmp("upw") + "/tbl"
    val old = Seq((1L, 1.0)).toDF("k", "v")
    TableOps.commitLog.upsert(old, dir, Seq("k"), Seq($"v"))
    val wide = Seq((2L, 2.0, "x")).toDF("k", "v", "tag")
    TableOps.commitLog.upsert(wide, dir, Seq("k"), Seq($"v"))
    val got = TableOps.commitLog.readTable(spark, dir)
    assert(got.columns.toSet == Set("k", "v", "tag"))
    val byK = got.collect().map(r => r.getAs[Long]("k") ->
      Option(r.getAs[String]("tag"))).toMap
    assert(byK == Map(1L -> None, 2L -> Some("x")))
    // a NARROWER batch is still refused loudly, and commits nothing
    val t = CommitLogTable.open(spark, dir)
    val head = t.latestVersion
    intercept[IllegalArgumentException](
      TableOps.commitLog.upsert(old, dir, Seq("k"), Seq($"v")))
    assert(t.latestVersion == head)
    assert(t.read().columns.toSet == Set("k", "v", "tag"))
  }

  test("commit-log bronze append: exactly-once blind appends via txn watermark, replay converges") {
    val src = tmp("txn-src"); val ckpt = tmp("txn-ckpt")
    val tbl = tmp("txn-out") + "/bronze"
    val ev = Tables.events(spark, TestSpark.sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val slice1 = ev.filter($"event_id" % 2 === 0)
    val slice2 = ev.filter($"event_id" % 2 === 1)
    slice1.write.mode("append").parquet(src)
    FileStreamIngest.runAvailableNowCommitLogAppend(
      FileStreamIngest.bronzeStream(spark, src, ev.schema), tbl, ckpt, "bronze-A")
    val t = graft.tables.CommitLogTable.open(spark, tbl)
    assert(t.read().count() == slice1.count())
    // crash-inside-foreachBatch replay: re-running the committed batch id
    // must be recognized by the table's txn watermark and skipped — this
    // is a BLIND append, there is no merge key to converge on
    val vBefore = t.latestVersion
    t.append(slice1, txn = Some(("bronze-A", 0L)))
    assert(t.latestVersion == vBefore && t.read().count() == slice1.count(),
      "replayed micro-batch double-appended")
    // flip to the ALWAYS-ON trigger on the same checkpoint: the shared
    // WAL + txn watermark drain only the delta, exactly once
    slice2.write.mode("append").parquet(src)
    val q = FileStreamIngest.runProcessingTimeCommitLogAppend(
      FileStreamIngest.bronzeStream(spark, src, ev.schema), tbl, ckpt,
      "bronze-A", interval = "50 milliseconds")
    try q.processAllAvailable() finally q.stop()
    val got = t.read()
    assert(got.count() == ev.count())
    assert(got.select(countDistinct($"event_id")).as[Long].head() == ev.count())
  }

  test("parquet streaming schema inference: no declared schema, exactly-once across restarts") {
    val src = tmp("pinf-src"); val out = tmp("pinf-out"); val ckpt = tmp("pinf-ckpt")
    Seq((1L, "a", 1.5)).toDF("id", "sym", "px").write.mode("append").parquet(src)
    FileStreamIngest.runAvailableNowAppend(
      FileStreamIngest.bronzeStreamInferred(spark, src), out, ckpt)
    val r1 = spark.read.parquet(out)
    assert(r1.columns.toSet == Set("id", "sym", "px") && r1.count() == 1)
    Seq((2L, "b", 2.5)).toDF("id", "sym", "px").write.mode("append").parquet(src)
    FileStreamIngest.runAvailableNowAppend(
      FileStreamIngest.bronzeStreamInferred(spark, src), out, ckpt)
    assert(spark.read.parquet(out).count() == 2)
  }

  test("streaming ndjson rescue: recursive lookup, malformed line rescued, gz, exactly-once") {
    import java.nio.file.Paths
    import org.apache.spark.sql.types._
    val src = tmp("jsrc"); val out = tmp("jout"); val ckpt = tmp("jckpt")
    Files.createDirectories(Paths.get(src, "dt=2024-01-01"))
    Files.writeString(Paths.get(src, "dt=2024-01-01", "a.json"),
      "{\"symbol\":\"AAPL\",\"revenue\":1}\nthis is not json\n")
    val schema = StructType(Seq(
      StructField("symbol", StringType), StructField("revenue", LongType)))

    FileStreamIngest.runAvailableNowAppend(
      FileStreamIngest.bronzeJsonStream(spark, src, schema), out, ckpt)
    val r1 = spark.read.parquet(out)
    assert(r1.count() == 2) // nested subdir discovered; bad line kept
    assert(r1.filter($"_rescued_data".isNotNull).count() == 1)
    assert(r1.filter($"symbol" === "AAPL" && $"revenue" === 1).count() == 1)

    // second trigger: a gzipped file arrives; only the delta is processed
    val gz = new java.util.zip.GZIPOutputStream(
      Files.newOutputStream(Paths.get(src, "b.json.gz")))
    gz.write("{\"symbol\":\"MSFT\",\"revenue\":2}\n".getBytes("UTF-8")); gz.close()
    FileStreamIngest.runAvailableNowAppend(
      FileStreamIngest.bronzeJsonStream(spark, src, schema), out, ckpt)
    val r2 = spark.read.parquet(out)
    assert(r2.count() == 3)
    assert(r2.filter($"symbol" === "AAPL").count() == 1) // no reprocessing
    assert(r2.filter($"symbol" === "MSFT").count() == 1) // gz decompressed

    // third trigger: a VALID row with an undeclared field — rescue captures
    // the extra field (not the whole line) while declared columns populate
    Files.writeString(Paths.get(src, "c.json"),
      "{\"symbol\":\"NVDA\",\"revenue\":3,\"segment\":\"datacenter\"}\n")
    FileStreamIngest.runAvailableNowAppend(
      FileStreamIngest.bronzeJsonStream(spark, src, schema), out, ckpt)
    val r3 = spark.read.parquet(out)
    assert(r3.count() == 4)
    val nv = r3.filter($"symbol" === "NVDA").collect()(0)
    assert(nv.getAs[Long]("revenue") == 3)
    val rescued = nv.getAs[String]("_rescued_data")
    assert(rescued != null && rescued.contains("\"segment\":\"datacenter\""))
    assert(rescued.contains("\"_file_path\"") && rescued.contains("c.json"))
  }

  test("partitioned silver upsert: untouched day partitions stay byte-identical") {
    import java.nio.file.Paths
    import java.sql.Date
    val target = tmp("pmerge") + "/silver"
    val b1 = Seq(
      (1L, Date.valueOf("2024-01-01"), 10L, 1.0),
      (2L, Date.valueOf("2024-01-02"), 10L, 2.0)).toDF("k", "day", "ord", "v")
    TableOps.commitLog.upsertPartitions(
      b1, target, Seq("k", "day"), Seq($"ord".desc), "day")
    // the day-1 files of the latest snapshot, with their bytes
    def day1Bytes: Map[String, Seq[Byte]] =
      CommitLogTable.open(spark, target).readPartitions(Set("2024-01-01"))
        .inputFiles.sorted
        .map(p => p -> Files.readAllBytes(Paths.get(new java.net.URI(p))).toSeq)
        .toMap
    val before = day1Bytes
    assert(before.nonEmpty)

    // batch touches only 2024-01-02: update k=2, insert k=3
    val b2 = Seq(
      (2L, Date.valueOf("2024-01-02"), 20L, 9.0),
      (3L, Date.valueOf("2024-01-02"), 20L, 3.0)).toDF("k", "day", "ord", "v")
    TableOps.commitLog.upsertPartitions(
      b2, target, Seq("k", "day"), Seq($"ord".desc), "day")

    assert(day1Bytes == before) // same files, same bytes — never rewritten
    val got = TableOps.commitLog.readTable(spark, target).collect()
      .map(r => r.getAs[Long]("k") -> (r.getAs[Long]("ord"), r.getAs[Double]("v"))).toMap
    assert(got == Map(1L -> (10L, 1.0), 2L -> (20L, 9.0), 3L -> (20L, 3.0)))
  }

  test("metrics JSON stays parseable: non-finite rates become null, strings escape fully") {
    import graft.streaming.MetricsListener
    assert(MetricsListener.jsonNum(Double.NaN) == "null")
    assert(MetricsListener.jsonNum(Double.PositiveInfinity) == "null")
    assert(MetricsListener.jsonNum(12.5) == "12.5")
    val hostile = "desc \\ with \" and \nnewline"
    val line =
      s"""{"sink":"${MetricsListener.jsonEscape(hostile)}","rate":${MetricsListener.jsonNum(Double.NaN)}}"""
    val parsed = spark.read.json(Seq(line).toDS).collect()(0)
    assert(parsed.getAs[String]("sink") == hostile) // round-trips, not corrupt
    assert(parsed.schema.fieldNames.contains("rate"))
    assert(!parsed.schema.fieldNames.contains("_corrupt_record"))
  }

  test("schema evolution: new column appends, history reads as null") {
    val out = tmp("evo") + "/t"
    Sinks.evolvingAppend(Seq((1L, "a")).toDF("id", "s"), out)
    Sinks.evolvingAppend(Seq((2L, "b", 3.5)).toDF("id", "s", "score"), out)
    val back = Sinks.readEvolved(spark, out)
    assert(back.columns.sorted.toSeq == Seq("id", "s", "score").sorted)
    val rows = back.collect().map(r =>
      r.getAs[Long]("id") -> Option(r.getAs[Any]("score"))).toMap
    assert(rows == Map(1L -> None, 2L -> Some(3.5)))
  }

  test("streaming schema evolution across restart: widened schema, exactly-once") {
    import org.apache.spark.sql.types._
    val src = tmp("esrc"); val out = tmp("eout"); val ckpt = tmp("eckpt")
    val s1 = StructType(Seq(StructField("id", LongType), StructField("s", StringType)))
    Seq((1L, "a")).toDF("id", "s").write.mode("append").parquet(src)
    FileStreamIngest.runAvailableNowEvolvingAppend(
      FileStreamIngest.bronzeStream(spark, src, s1), out, ckpt)

    // restart with a WIDER declared schema; a new file carries the column
    val s2 = s1.add(StructField("score", DoubleType))
    Seq((2L, "b", 7.5)).toDF("id", "s", "score").write.mode("append").parquet(src)
    FileStreamIngest.runAvailableNowEvolvingAppend(
      FileStreamIngest.bronzeStream(spark, src, s2), out, ckpt)

    val back = Sinks.readEvolved(spark, out)
    assert(back.count() == 2) // row 1 not reprocessed under the new schema
    val rows = back.collect().map(r =>
      r.getAs[Long]("id") -> Option(r.getAs[Any]("score"))).toMap
    assert(rows == Map(1L -> None, 2L -> Some(7.5)))
  }

  test("streaming dedup within watermark: retried records emitted once") {
    import org.apache.spark.sql.types._
    import java.sql.Timestamp
    val src = tmp("dsrc"); val out = tmp("dout"); val ckpt = tmp("dckpt")
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("v", DoubleType)))
    def ev(id: Long, t: String, v: Double) = (id, Timestamp.valueOf(t), v)
    // same event_id twice in the batch (an at-least-once retry)
    Seq(ev(1, "2024-01-01 10:00:00", 1.0), ev(1, "2024-01-01 10:00:05", 1.0),
      ev(2, "2024-01-01 10:01:00", 2.0))
      .toDF("event_id", "ts", "v").write.mode("append").parquet(src)
    FileStreamIngest.runAvailableNowAppend(
      FileStreamIngest.dedupWithinWatermark(
        FileStreamIngest.bronzeStream(spark, src, schema),
        Seq("event_id"), "ts", "10 minutes"),
      out, ckpt)
    assert(spark.read.parquet(out).count() == 2)
    // a second retry of id=1 arriving within the watermark is suppressed too
    Seq(ev(1, "2024-01-01 10:02:00", 1.0), ev(3, "2024-01-01 10:03:00", 3.0))
      .toDF("event_id", "ts", "v").write.mode("append").parquet(src)
    FileStreamIngest.runAvailableNowAppend(
      FileStreamIngest.dedupWithinWatermark(
        FileStreamIngest.bronzeStream(spark, src, schema),
        Seq("event_id"), "ts", "10 minutes"),
      out, ckpt)
    val ids = spark.read.parquet(out).select("event_id").as[Long].collect().sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L))
  }

  test("end-to-end: streamed bronze->silver matches the batch pipeline") {
    import org.apache.spark.sql.types._
    val src = tmp("e2src"); val silver = tmp("e2tgt") + "/silver"; val ckpt = tmp("e2ckpt")
    val ev = Tables.events(spark, TestSpark.sfDir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value",
        to_date($"ts").as("day"))
    // two waves in arrival order (MERGE semantics assume batches don't
    // carry rows older than already-merged ones for the same key)
    val cutoff = lit("2024-01-15").cast("date")
    ev.filter($"day" <= cutoff).write.mode("append").parquet(src)
    val schema = ev.schema
    def drain(): Unit = FileStreamIngest.runAvailableNowUpsertPartitioned(
      FileStreamIngest.bronzeStream(spark, src, schema), silver, ckpt,
      keys = Seq("user_id", "event_type", "day"),
      order = Seq($"ts".desc, $"event_id".desc), dayCol = "day")
    drain()
    ev.filter($"day" > cutoff).write.mode("append").parquet(src)
    drain()
    // the streamed silver equals the one-shot batch dedup of ALL events
    val batch = graft.operators.Dedup.keepLast(ev,
      Seq("user_id", "event_type", "day"), Seq($"ts".desc, $"event_id".desc))
    val streamed = TableOps.commitLog.readTable(spark, silver)
      .select(batch.columns.map(col): _*)
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming DQ gate: passing rows to out, failing rows quarantined with reason") {
    import org.apache.spark.sql.types._
    import graft.operators.Expectations
    val src = tmp("qsrc"); val out = tmp("qout"); val quar = tmp("qquar"); val ckpt = tmp("qckpt")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", DoubleType)))
    val rules = Seq(Expectations.Expectation("nonneg_v", $"v" >= 0))
    Seq((1L, 1.0), (2L, -5.0), (3L, 2.0)).toDF("id", "v")
      .write.mode("append").parquet(src)
    FileStreamIngest.runAvailableNowWithExpectations(
      FileStreamIngest.bronzeStream(spark, src, schema), out, quar, ckpt, rules)
    assert(spark.read.parquet(out).select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    val q = spark.read.parquet(quar).collect()
    assert(q.length == 1 && q(0).getAs[Long]("id") == 2L
      && q(0).getAs[String]("dq_reason") == "nonneg_v")

    // second trigger processes only the delta
    Seq((4L, -1.0)).toDF("id", "v").write.mode("append").parquet(src)
    FileStreamIngest.runAvailableNowWithExpectations(
      FileStreamIngest.bronzeStream(spark, src, schema), out, quar, ckpt, rules)
    assert(spark.read.parquet(out).count() == 2)
    assert(spark.read.parquet(quar).count() == 2)
  }

  test("streaming curation gate: two waves append exactly the batch gate's rows") {
    import graft.streaming.StatefulOps
    import org.apache.spark.sql.types._
    val src = tmp("cgsrc"); val out = tmp("cgout"); val ckpt = tmp("cgckpt")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def gated(df: org.apache.spark.sql.DataFrame) =
      StatefulOps.curationGate(df, "doc_id", "text",
        minTokens = 3L, maxTokens = 50L, minAvgTokLen = 1.0, maxAvgTokLen = 10.0,
        maxRepeatRatio = 0.9, minDistinctStop = 1,
        splitSalt = Queries.SplitSalt, pctTrain = Queries.SplitPctTrain)
    val wave1 = Seq(
      (1L, "the quick mail reached a@b.com today"), // keeps; email scrubbed
      (2L, "no stopwords here whatsoever friends"), // dropped: no stop list hit
      (3L, "a b"))                                  // dropped: too short
    val wave2 = Seq(
      (4L, "a second message for 555-123-4567 the caller"), // keeps; phone scrubbed
      (5L, "x y"))                                          // dropped
    wave1.toDF("doc_id", "text").write.mode("append").parquet(src)
    FileStreamIngest.runAvailableNowAppend(
      gated(FileStreamIngest.bronzeStream(spark, src, schema)), out, ckpt)
    wave2.toDF("doc_id", "text").write.mode("append").parquet(src)
    FileStreamIngest.runAvailableNowAppend(
      gated(FileStreamIngest.bronzeStream(spark, src, schema)), out, ckpt)
    val streamed = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1).toSeq
    // exactly-once: the second trigger processed only wave 2
    assert(streamed.map(_._1) == Seq(1L, 4L))
    assert(streamed(0)._2.contains("<EMAIL>") && streamed(1)._2.contains("<PHONE>"))
    // the streaming gate IS the batch gate: same rows, same clean text,
    // same split labels
    val batch = gated((wave1 ++ wave2).toDF("doc_id", "text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1).toSeq
    assert(streamed == batch)
  }

  test("streaming scoring: batch-trained classifier + unicode sanitize run unchanged on a stream") {
    import graft.llm.{Classifier, UnicodeNorm}
    import org.apache.spark.sql.types._
    val src = tmp("clsrc"); val out = tmp("clout"); val ckpt = tmp("clckpt")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    // scan-local featurization: sanitize first (the codegen'd expression
    // must run under streaming), then one length feature + rule label
    def featurize(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), UnicodeNorm.sanitize(col("text")).as("text"))
        .withColumn("x1",
          (size(split(col("text"), " ")).cast("double") - lit(4.0)) / lit(4.0))
        .withColumn("y",
          when(size(split(col("text"), " ")) >= 4, 1.0).otherwise(0.0))
    val wave1 = Seq((1L, "alpha beta gamma delta epsilon"), (2L, "tiny\u0007 doc"))
    val wave2 = Seq((3L, "one two three four five six"), (4L, "too short"))
    // the model trains in BATCH (driver-side weights), then scores the
    // stream as literals — the ingest-time-scoring deployment shape
    val w = Classifier.trainLogistic(featurize((wave1 ++ wave2).toDF("doc_id", "text")),
      Seq("x1"), "y", steps = 16, lr = 2.0)
    val (score, keep) = Classifier.scoreCols(w, Seq("x1"))
    def scored(df: org.apache.spark.sql.DataFrame) =
      featurize(df).select(col("doc_id"), col("text"), score.as("score"),
        keep.as("keep"))
    wave1.toDF("doc_id", "text").write.mode("append").parquet(src)
    FileStreamIngest.runAvailableNowAppend(
      scored(FileStreamIngest.bronzeStream(spark, src, schema)), out, ckpt)
    wave2.toDF("doc_id", "text").write.mode("append").parquet(src)
    FileStreamIngest.runAvailableNowAppend(
      scored(FileStreamIngest.bronzeStream(spark, src, schema)), out, ckpt)
    val streamed = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getBoolean(3)))
      .sortBy(_._1).toSeq
    assert(streamed.map(_._1) == Seq(1L, 2L, 3L, 4L)) // exactly-once, both waves
    assert(streamed(1)._2 == "tiny doc") // control byte sanitized in-stream
    val batch = scored((wave1 ++ wave2).toDF("doc_id", "text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getBoolean(3)))
      .sortBy(_._1).toSeq
    assert(streamed == batch) // the streamed scores ARE the batch scores
  }

  test("streaming decontamination gate: bloom broadcast state + exact confirm equals batch decisions across two waves") {
    import graft.streaming.StatefulOps
    import graft.llm.{BloomDecon, TextOps}
    import org.apache.spark.sql.types._
    val src = tmp("dcsrc"); val out = tmp("dcout"); val ckpt = tmp("dcckpt")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val n = 3; val minOverlap = 2L
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val bgrams = TextOps.wordNgrams(bench, "doc_id", "text", n)
      .select("ngram").distinct()
    val benchGrams = bgrams.collect().map(_.getString(0)).toSeq
    val bloom = BloomDecon.serializedBloom(bgrams, col("ngram"), benchGrams.size.toLong)
    def gated(df: org.apache.spark.sql.DataFrame) =
      StatefulOps.curationGateDecon(df, "doc_id", "text",
        minTokens = 3L, maxTokens = 50L, minAvgTokLen = 1.0, maxAvgTokLen = 10.0,
        maxRepeatRatio = 0.9, minDistinctStop = 1,
        splitSalt = Queries.SplitSalt, pctTrain = Queries.SplitPctTrain,
        bloom = bloom, benchGrams = benchGrams, n = n, minOverlap = minOverlap)
    val wave1 = Seq(
      (1L, "the quick alpha beta gamma delta report"),  // 2 shared grams → dropped
      (2L, "the quick brown fox jumps a lot"))          // clean → kept
    val wave2 = Seq(
      (3L, "a fresh note with alpha beta gamma inside"),          // 1 shared → kept
      (4L, "the alpha beta gamma delta epsilon recap today"))     // 3 shared → dropped
    wave1.toDF("doc_id", "text").write.mode("append").parquet(src)
    FileStreamIngest.runAvailableNowAppend(
      gated(FileStreamIngest.bronzeStream(spark, src, schema)), out, ckpt)
    wave2.toDF("doc_id", "text").write.mode("append").parquet(src)
    FileStreamIngest.runAvailableNowAppend(
      gated(FileStreamIngest.bronzeStream(spark, src, schema)), out, ckpt)
    val streamed = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1).toSeq
    assert(streamed.map(_._1) == Seq(2L, 3L))
    // the streamed keep set IS the batch composition: gopher keep minus
    // the batch bloom-decontamination flags (exact-confirm semantics —
    // bloom false positives cannot drop a clean doc)
    val all = (wave1 ++ wave2).toDF("doc_id", "text")
    val flagged = BloomDecon.decontaminateBloom(all, "doc_id", "text",
        bench, "doc_id", "text", n = n, minOverlap = minOverlap)
      .collect().map(_.getLong(0)).toSet
    assert(flagged == Set(1L, 4L))
    val batchKept = all
      .filter(TextOps.gopherKeep(col("text"), 3L, 50L, 1.0, 10.0, 0.9, 1))
      .collect().map(_.getLong(0)).toSet -- flagged
    assert(streamed.map(_._1).toSet == batchKept)
    // and the emitted columns keep the plain gate's contract: scrubbed
    // clean text plus a valid deterministic split label per row
    assert(streamed.forall(r => r._3 == "train" || r._3 == "holdout"))
    assert(streamed.forall(_._2.nonEmpty))
  }

  test("watermarked windowed counts: windows finalize only after watermark passes") {
    import graft.streaming.StatefulOps
    import org.apache.spark.sql.types._
    import java.sql.Timestamp
    val src = tmp("wsrc"); val out = tmp("wout"); val ckpt = tmp("wckpt")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("ts", TimestampType)))
    def ev(id: Long, t: String) = (id, Timestamp.valueOf(t))
    Seq(ev(1, "2024-01-01 10:05:00"), ev(2, "2024-01-01 10:15:00"))
      .toDF("id", "ts").write.mode("append").parquet(src)

    def run(): Unit = FileStreamIngest.runAvailableNowAppend(
      StatefulOps.windowedCounts(
        FileStreamIngest.bronzeStream(spark, src, schema), "ts", "1 hour", "1 hour"),
      out, ckpt)
    run()
    val files1 = Files.walk(java.nio.file.Paths.get(out)).toArray
      .map(_.toString).count(_.endsWith(".parquet"))
    // watermark hasn't passed 11:00 — the 10:00 window must NOT be emitted
    assert(spark.read.schema(
      "window_start timestamp, window_end timestamp, n long")
      .parquet(out).count() == 0 || files1 == 0)

    // an event at 13:30 pushes the watermark past the 10:00 window's end
    Seq(ev(3, "2024-01-01 13:30:00")).toDF("id", "ts")
      .write.mode("append").parquet(src)
    run()
    val rows = spark.read.parquet(out).collect()
      .map(r => (r.getAs[Timestamp]("window_start").toString,
        r.getAs[Long]("n"))).toSet
    assert(rows == Set(("2024-01-01 10:00:00.0", 2L))) // finalized exactly once
  }

  test("sessionize: gap-based sessions close in-line and via event-time timeout") {
    import graft.streaming.StatefulOps
    import org.apache.spark.sql.types._
    import java.sql.Timestamp
    val src = tmp("ssrc"); val out = tmp("sout"); val ckpt = tmp("sckpt")
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("ts", TimestampType)))
    def ev(u: Long, t: String) = (u, Timestamp.valueOf(t))
    Seq(ev(1, "2024-01-01 10:00:00"), ev(1, "2024-01-01 10:10:00"),
      ev(2, "2024-01-01 10:00:00"))
      .toDF("user_id", "ts").write.mode("append").parquet(src)

    def run(): Unit = FileStreamIngest.runAvailableNowAppend(
      StatefulOps.sessionize(
        FileStreamIngest.bronzeStream(spark, src, schema), "user_id", "ts", 30).toDF(),
      out, ckpt)
    run() // nothing can close yet — watermark is behind every open session

    // user 1 reappears after a >gap pause: closes their first session
    // in-line AND drags the watermark past user 2's timeout
    Seq(ev(1, "2024-01-01 12:00:00")).toDF("user_id", "ts")
      .write.mode("append").parquet(src)
    run()
    val got = spark.read.parquet(out).collect()
      .map(r => (r.getAs[Long]("user_id"),
        r.getAs[Timestamp]("session_start").toString,
        r.getAs[Timestamp]("session_end").toString,
        r.getAs[Long]("n_events"))).toSet
    assert(got.contains((1L, "2024-01-01 10:00:00.0", "2024-01-01 10:10:00.0", 2L)))
    assert(got.contains((2L, "2024-01-01 10:00:00.0", "2024-01-01 10:00:00.0", 1L)))
  }

  test("streaming near-dup pairs: two waves emit exactly the batch LSH pair set") {
    import graft.streaming.StatefulOps
    import org.apache.spark.sql.types._
    val src = tmp("ndsrc"); val out = tmp("ndout"); val ckpt = tmp("ndckpt")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val docs = Tables.documents(spark, TestSpark.sfDir).select("doc_id", "text")
    // batch twin on the same corpus — the expected pair set (cap high
    // enough that neither variant's cap semantics engage)
    val expected = graft.llm.SimHash.hammingPairs(docs, "doc_id", "text",
        maxHamming = 3, bucketCap = 100000, bits = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(expected.nonEmpty, "corpus must contain near-dups for this spec to bite")

    docs.filter($"doc_id" % 2 === 0).write.mode("append").parquet(src)
    def run(): Unit = FileStreamIngest.runAvailableNowAppend(
      StatefulOps.nearDupPairs(
        FileStreamIngest.bronzeStream(spark, src, schema),
        "doc_id", "text", maxHamming = 3, bucketCap = 100000).toDF(),
      out, ckpt)
    run()
    val afterWave1 = spark.read.parquet(out).count()
    docs.filter($"doc_id" % 2 === 1).write.mode("append").parquet(src)
    run() // wave 2 must find cross-wave pairs against wave-1 state
    val got = spark.read.parquet(out).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Int]("hamming"))).toSet
    assert(got == expected,
      s"stream/batch divergence: extra=${(got -- expected).take(3)} missing=${(expected -- got).take(3)}")
    assert(spark.read.parquet(out).count() > afterWave1,
      "wave 2 must emit pairs against resident state, not restart it")
  }

  test("streaming minhash candidates: two waves emit the batch banding's pair set") {
    import graft.streaming.StatefulOps
    import org.apache.spark.sql.types._
    val src = tmp("mhsrc"); val out = tmp("mhout"); val ckpt = tmp("mhckpt")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val docs = Tables.documents(spark, TestSpark.sfDir).select("doc_id", "text")
    // batch twin: same signatures, same banding, cap high enough that
    // neither variant's differing cap semantics engage
    val expected = graft.llm.MinHashDedup.candidatePairs(
        graft.llm.MinHashDedup.signatures(docs, "doc_id", "text", k = 16),
        "doc_id", bucketCap = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.nonEmpty, "corpus must contain banding collisions for this spec")

    docs.filter($"doc_id" % 2 === 0).write.mode("append").parquet(src)
    def run(): Unit = FileStreamIngest.runAvailableNowAppend(
      StatefulOps.minhashCandidatePairs(
        FileStreamIngest.bronzeStream(spark, src, schema),
        "doc_id", "text", k = 16, bucketCap = 1000).toDF(),
      out, ckpt)
    run()
    val afterWave1 = spark.read.parquet(out).count()
    docs.filter($"doc_id" % 2 === 1).write.mode("append").parquet(src)
    run() // wave 2 pairs against wave-1 resident state
    // at-least-once emission (multi-band matches) → compare as sets
    val got = spark.read.parquet(out).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(got == expected,
      s"stream/batch divergence: extra=${(got -- expected).take(3)} missing=${(expected -- got).take(3)}")
    assert(spark.read.parquet(out).count() > afterWave1,
      "wave 2 must emit pairs against resident state, not restart it")
  }

  test("partitioned parquet sink: day partitions, idempotent unless forced") {
    val out = tmp("psink") + "/prices"
    val df = Seq(("2024-01-01", 1.0), ("2024-01-02", 2.0)).toDF("dt", "v")
    Sinks.partitionedParquet(df, out, "dt", force = false)
    assert(Files.exists(java.nio.file.Paths.get(out, "dt=2024-01-01")))
    // second non-forced write is a no-op (SaveMode.Ignore)
    Sinks.partitionedParquet(df.withColumn("v", lit(99.0)), out, "dt", force = false)
    assert(spark.read.parquet(out).filter($"v" === 99.0).count() == 0)
    // forced write replaces only the partitions present in the batch
    Sinks.partitionedParquet(
      Seq(("2024-01-01", 50.0)).toDF("dt", "v"), out, "dt", force = true)
    // partition column type inference reads dt back as a DATE — stringify
    val vals = spark.read.parquet(out).collect()
      .map(r => String.valueOf(r.getAs[Any]("dt")) -> r.getDouble(0)).toMap
    assert(vals == Map("2024-01-01" -> 50.0, "2024-01-02" -> 2.0))
  }

  /** A commit-log table partitioned by `partitionCol`, holding `df` as
    * four appends — an append writes one file per partition, so each
    * partition ends up with several small files.
    */
  private def fragmentedTable(dir: String, df: org.apache.spark.sql.DataFrame,
      partitionCol: String): CommitLogTable = {
    val t = CommitLogTable.create(spark, dir, df.schema, Seq(partitionCol))
    val slice = pmod(xxhash64(df.columns.map(col).toIndexedSeq: _*), lit(4))
    (0 until 4).foreach(i => t.append(df.filter(slice === i)))
    t
  }

  test("compaction: fragmented day rewritten to target, quiet day untouched") {
    val out = tmp("compact") + "/t"
    val manyFiles = (1 to 80).map(i => ("2024-01-01", i.toLong)).toDF("dt", "v")
    val t = fragmentedTable(out, manyFiles, "dt") // day A: several small files
    t.append(Seq(("2024-01-02", 1000L)).toDF("dt", "v")) // day B: one file
    def partFiles(day: String) = t.readPartitions(Set(day)).inputFiles.sorted.toSeq
    assert(partFiles("2024-01-01").length > 1)
    def rows() = t.read().collect()
      .map(r => r.getAs[String]("dt") -> r.getAs[Long]("v")).sorted.toSeq
    val before = rows()
    val quietBefore = partFiles("2024-01-02")

    // huge target → one file for the fragmented day; quiet day untouched
    val report = TableOps.commitLog.compact(spark, out, "dt",
      targetFileBytes = 1L << 30, values = Seq("2024-01-01", "2024-01-02"))
    assert(report("2024-01-01")._1 > 1 && report("2024-01-01")._2 == 1)
    assert(partFiles("2024-01-01").length == 1)
    assert(partFiles("2024-01-02") == quietBefore) // no rewrite
    assert(rows() == before) // same data
  }

  test("compaction: escaped partition values compact") {
    // a partition value Spark escapes in the path (':' → %3A) still
    // resolves — building from the raw value would silently no-op
    val out = tmp("cesc") + "/t"
    val df = (1 to 20).map(i => ("a:b", i.toLong)).toDF("k", "v")
    val t = fragmentedTable(out, df, "k")
    val r = TableOps.commitLog.compact(spark, out, "k",
      targetFileBytes = 1L << 30, values = Seq("a:b"))
    assert(r("a:b")._1 > 1 && r("a:b")._2 == 1)
    assert(t.read().filter($"k" === "a:b").count() == 20)
  }

  test("ndjson.gz sink round-trips and writes gzip files") {
    val out = tmp("jsink") + "/raw"
    val df = Seq((1L, "income", "{\"a\":1}"), (2L, "income", "{\"b\":2}"))
      .toDF("id", "endpoint", "payload")
    Sinks.ndjsonGz(df, out, Seq("endpoint"))
    val files = Files.walk(java.nio.file.Paths.get(out)).toArray.map(_.toString)
    assert(files.exists(_.endsWith(".json.gz")))
    val back = spark.read.json(out)
    assert(back.count() == 2)
    assert(back.columns.contains("endpoint")) // partition column recovered
  }

  test("streaming metrics listener: one JSON line per micro-batch with input rows") {
    import graft.streaming.MetricsListener
    val src = tmp("msrc"); val out = tmp("mout"); val ckpt = tmp("mckpt")
    val metrics = tmp("mfile") + "/metrics.jsonl"
    val df = Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("id", "v")
    df.write.mode("append").parquet(src)
    val l = MetricsListener.attach(spark, metrics)
    try {
      FileStreamIngest.runAvailableNowAppend(
        FileStreamIngest.bronzeStream(spark, src, df.schema), out, ckpt)
      // listener events are async — wait briefly for the progress flush.
      // Wait for content, not existence: the listener's append creates the
      // file before it writes the line, and the progress event lands as
      // the query terminates, so an existence check can read it empty
      val path = java.nio.file.Paths.get(metrics)
      val deadline = System.currentTimeMillis() + 15000
      while (!(Files.exists(path) && Files.size(path) > 0)
        && System.currentTimeMillis() < deadline) Thread.sleep(100)
      val lines = Files.readAllLines(path)
      assert(!lines.isEmpty)
      val parsed = spark.read.json(metrics)
      assert(parsed.select(sum($"num_input_rows")).collect()(0).getLong(0) == 3L)
    } finally spark.streams.removeListener(l)
  }

  test("metrics sink appends one JSON document per run") {
    val out = tmp("msink") + "/metrics"
    val m = Sinks.RunMetrics("r1", "events", "2024-01-01T00:00:00", "2024-01-01T00:01:00", 100, 98, 2)
    Sinks.writeMetrics(spark, m, out)
    Sinks.writeMetrics(spark, m.copy(run_id = "r2"), out)
    val back = spark.read.json(out)
    assert(back.count() == 2)
    assert(back.select("rows_rejected").collect().forall(_.getLong(0) == 2))
  }

  test("curated corpus sink end-to-end: write by split, compact, vacuum, re-read identical") {
    // the operational close of the curation story: q_curate's output
    // materialized split-partitioned, OPTIMIZE'd to one file per split,
    // VACUUM'd, and read back byte-identical (reference analogue: the
    // Silver write + OPTIMIZE maintenance pass)
    val out = tmp("curated") + "/corpus"
    try {
      val curated = Queries.curate(spark, TestSpark.sfDir)
      val expected = curated.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted.toSeq
      assert(expected.nonEmpty && expected.map(_._3).distinct.sorted == Seq("holdout", "train"))
      // fragment the write on purpose so compaction has real work
      val t = fragmentedTable(out, Queries.curate(spark, TestSpark.sfDir), "split")
      val report = TableOps.commitLog.compact(spark, out, "split",
        targetFileBytes = 1L << 30, values = Seq("train", "holdout"))
      assert(report("train")._1 > 1 && report("train")._2 == 1)
      assert(report("holdout")._2 == 1)
      // the 2-version window still holds the pre-compaction files
      assert(TableOps.commitLog.vacuum(out) == (0, 0))
      assert(t.read().inputFiles.length == 2) // one file per split
      val back = TableOps.commitLog.readTable(spark, out)
        .select("doc_id", "clean", "split").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sorted.toSeq
      assert(back == expected)
    } finally CacheBin.drainAll() // release the session-memoized dedup pipeline
  }
}
