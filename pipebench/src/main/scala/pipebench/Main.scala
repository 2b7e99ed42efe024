package pipebench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.Row

import graft.Sessions
import graft.tables.CommitLogTable

/** The pipeline benchmark's process: set up, run closed-loop waves for the
  * given seconds with analyst reads between them, check every table, and
  * print one JSON result line. `run.py` builds and launches it.
  *
  * Workloads (sizes in [[Main.sizes]]; NOTES.md says why each exists):
  *   - backfill: a whole history lands at once into fresh tables;
  *   - corrections: restated recent bars of ~1% of the symbols per wave.
  */
object Main {
  final case class Sizes(symbols: Int, days: Int)

  def sizes(workload: String, toy: Boolean): Sizes =
    if (toy) WarmUp else if (workload == "backfill") Sizes(100, 60) else Sizes(50, 60)

  /** Backfill's set-up drains a history of this size. The first, cold
    * drain costs about the same at any size (class loading, JIT, codegen),
    * so the warm-up need not grow with the measured history.
    */
  private val WarmUp = Sizes(20, 10)

  /** Every staged file, the files the set-up drains, and one landing per
    * wave. Every workload's set-up drains a history; each backfill wave
    * then lands the measured history into fresh tables, each corrections
    * wave lands one file.
    */
  final case class Plan(files: Seq[Seq[Row]], setup: Seq[Int], waves: Seq[Seq[Int]])

  /** Waves staged per run. A wave takes 10-25 s, so a 10 s run measures
    * one; a fixed cap also keeps the measured work the same when waves get
    * faster.
    */
  private val MaxWaves = 3

  /** Analyst read rounds after each wave, outside its timing, so each read
    * kind has several samples.
    */
  private val ReadRounds = 2

  def plan(workload: String, seed: Long, sz: Sizes): Plan = {
    val gen = new Gen(seed, sz.symbols, sz.days)
    val hist = (0 until sz.days).map(gen.dayFile)
    workload match {
      case "backfill" =>
        val warm = new Gen(seed + 1, WarmUp.symbols, WarmUp.days)
        Plan(hist ++ (0 until WarmUp.days).map(warm.dayFile),
          sz.days until sz.days + WarmUp.days, Seq.fill(MaxWaves)(0 until sz.days))
      case "corrections" =>
        Plan(hist ++ Seq.fill(MaxWaves)(gen.restatements(sz.days, 5, 2)), 0 until sz.days,
          (sz.days until sz.days + MaxWaves).map(Seq(_)))
    }
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = args("workload")
    require(Set("backfill", "corrections")(workload), s"unknown workload $workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args.getOrElse("trace", "0") == "1"
    val toy = args.get("scale").contains("toy")
    val work = Path.of(args("work"))
    val outDir = Path.of(args("out"))
    val sz = sizes(workload, toy)
    val nproc = Runtime.getRuntime.availableProcessors()

    val tSession = System.nanoTime()
    val spark = Sessions.build(s"local[$nproc]", nproc, "pipebench")
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - tSession) / 1e9
    val tr = new Tracer(spark, traced)
    val pipe = new Pipeline(spark, tr)
    Files.createDirectories(work)

    // Set-up: generate and stage every input, then drain a history through
    // every layer into fresh tables. This first drain also warms the JVM,
    // so the measured waves run warm.
    val tSetup = System.nanoTime()
    val Plan(files, setupFiles, waves) = plan(workload, seed, sz)
    val staging = Staging.write(spark, work.resolve("staging"), files)
    var st = new State(work.resolve("setup"))
    st.prepare(staging, setupFiles)
    pipe.wave(st)
    val setupS = (System.nanoTime() - tSetup) / 1e9
    def expectAfter(landed: Seq[Int]): Expect =
      Expect(sz.symbols, sz.days, sz.days - 1, Gen.validIds(landed.flatMap(files)).size)
    if (workload == "corrections") {
      val (sv, gv) = pipe.versions(st)
      st.marks += Mark(sv, gv, expectAfter(0 until sz.days))
    }

    // Measurement: closed loop, the next wave lands only after the
    // previous wave's gold commit has returned and the reads have run.
    val cpu = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcS = gcs.map(_.getCollectionTime).sum / 1e3
    val mem = ManagementFactory.getMemoryMXBean
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
    val readRnd = new java.util.Random(seed * 31 + 7)
    val waveRecs = ArrayBuffer.empty[Map[String, Double]]
    val readRecs = ArrayBuffer.empty[(String, Double, Boolean)]
    var failedWaves = 0
    var liveHeapMb = 0.0
    val tStart = System.nanoTime()
    var w = 0
    while ((System.nanoTime() - tStart) / 1e9 < seconds && w < waves.size && failedWaves == 0) {
      if (workload == "backfill") {
        rmrf(st.root)
        st = new State(work.resolve(s"backfill-$w"))
      }
      val rawBytes = st.prepare(staging, waves(w))
      val rows = waves(w).map(files(_).size).sum
      val bytes0 = st.writtenBytes
      val before = if (tr.enabled) tableVersions(spark, st) else Map.empty[String, Long]
      tr.wave = w
      // each wave's pool peaks start from the live set, not the set-up's garbage
      System.gc()
      heapPools.foreach(_.resetPeakUsage())
      val (cpu0, gc0, t0) = (cpu.getProcessCpuTime, gcS, System.nanoTime())
      val ok = try { pipe.wave(st); true } catch {
        case e: Exception => e.printStackTrace(); failedWaves += 1; false
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val (cpu1, gc1) = (cpu.getProcessCpuTime, gcS)
      val rec = Map("wall_s" -> wall, "rows" -> rows.toDouble, "raw_bytes" -> rawBytes.toDouble,
        "cpu_s" -> (cpu1 - cpu0) / 1e9, "gc_s" -> (gc1 - gc0),
        "written_bytes" -> (st.writtenBytes - bytes0).toDouble) ++
        // transient peaks per heap pool, artifact only: under G1 they follow
        // the young generation's sizing and spread 30-100% run to run
        heapPools.map(p => s"peak_mb.${p.getName}" -> p.getPeakUsage.getUsed / 1048576.0) ++
        (if (tr.enabled) historyRows(spark, st, before) else Map.empty)
      waveRecs += rec
      System.gc()
      liveHeapMb = math.max(liveHeapMb, mem.getHeapMemoryUsage.getUsed / 1048576.0)
      if (ok) {
        val (sv, gv) = pipe.versions(st)
        st.marks += Mark(sv, gv, expectAfter(waves(w)))
        readRecs ++= (1 to ReadRounds).flatMap(_ => pipe.reads(st, readRnd))
      }
      w += 1
    }
    tr.drain()

    val tCheck = System.nanoTime()
    val checks = if (failedWaves == 0) Check(spark, st, args.get("drop-silver-row").contains("true"))
      else Seq.empty
    val checkS = (System.nanoTime() - tCheck) / 1e9
    spark.stop()
    rmrf(work)

    val waveWalls = waveRecs.map(_("wall_s")).toSeq
    val rows = waveRecs.map(_("rows")).sum
    val e2e = Map(
      "setup_s" -> (sessionS + setupS),
      "freshness_s_p50" -> median(waveWalls),
      "rows_per_s" -> rows / waveWalls.sum,
      "read_ms_p50" -> median(readRecs.map(_._2).toSeq),
      "cpu_ms_per_row" -> waveRecs.map(_("cpu_s")).sum * 1e3 / rows,
      "write_amp" -> waveRecs.map(_("written_bytes")).sum / waveRecs.map(_("raw_bytes")).sum,
      "live_heap_mb" -> liveHeapMb)
    val attempted = waveRecs.size + readRecs.size + checks.size
    val failed = failedWaves + readRecs.count(!_._3) + checks.count(!_._2)
    val layers = if (tr.enabled) Layers(tr, waveRecs.toSeq) else Map.empty[String, Double]

    val tag = s"$workload-s$seed-t${if (traced) 1 else 0}"
    Files.createDirectories(outDir)
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    val artifact = Map(
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "git_sha" -> args.getOrElse("git-sha", "unknown"),
      "timestamp" -> java.time.Instant.now().toString, "nproc" -> nproc,
      "sizes" -> Map("symbols" -> sz.symbols, "days" -> sz.days,
        "waves_run" -> waveRecs.size, "toy" -> toy),
      "session_s" -> sessionS, "setup_drain_s" -> setupS, "check_s" -> checkS,
      "end_to_end" -> e2e, "failed_ratio" -> failed.toDouble / attempted,
      "checks" -> checks.toMap,
      "waves" -> waveRecs, "wave_tail" -> tail(waveWalls),
      "reads" -> readRecs.map { case (k, ms, ok) => Map("kind" -> k, "ms" -> ms, "ok" -> ok) },
      "read_tail" -> tail(readRecs.map(_._2).toSeq),
      "per_layer" -> layers)
    json.writerWithDefaultPrettyPrinter().writeValue(outDir.resolve(s"$tag.json").toFile, artifact)
    if (tr.enabled)
      json.writeValue(outDir.resolve(s"spans-$tag.json").toFile, Layers.spanRecords(tr))

    val units = Units.all
    val shown = if (traced) layers else e2e
    val result = Map(
      "correct" -> (failed == 0 && checks.nonEmpty),
      "attempted" -> attempted, "failed" -> failed,
      "metrics" -> shown.toSeq.sortBy(_._1).map { case (k, v) =>
        k -> Map("value" -> v, "unit" -> units(k)) }.toMap)
    println(json.writeValueAsString(result))
  }

  private def tableVersions(spark: org.apache.spark.sql.SparkSession, st: State): Map[String, Long] =
    st.tables.map { case (t, p) =>
      t -> (if (CommitLogTable.exists(p.toString))
        CommitLogTable.open(spark, p.toString).latestVersion else -1L)
    }

  /** rows_inserted / rows_updated per table over the wave's commits, from
    * each table's `history`.
    */
  private def historyRows(spark: org.apache.spark.sql.SparkSession, st: State,
      before: Map[String, Long]): Map[String, Double] =
    st.tables.flatMap { case (t, p) =>
      val h = CommitLogTable.open(spark, p.toString).history.collect()
        .filter(_.getAs[Long]("version") > before(t))
      Seq(s"$t.rows_inserted" -> h.map(_.getAs[Long]("rows_inserted")).sum.toDouble,
        s"$t.rows_updated" -> h.map(_.getAs[Long]("rows_updated")).sum.toDouble)
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest whole percentile with at least ten samples beyond it. */
  def tail(xs: Seq[Double]): Map[String, Any] = {
    val n = xs.size
    if (n < 11) Map("n" -> n, "p" -> null, "value" -> null)
    else {
      val p = math.floor(100.0 * (n - 10) / n).toInt
      val s = xs.sorted
      Map("n" -> n, "p" -> p, "value" -> s(math.max(0, math.ceil(p / 100.0 * n).toInt - 1)))
    }
  }

  def rmrf(p: Path): Unit = if (Files.exists(p)) {
    val st = Files.walk(p)
    try st.iterator().asScala.toList.reverse.foreach(Files.delete)
    finally st.close()
  }
}
