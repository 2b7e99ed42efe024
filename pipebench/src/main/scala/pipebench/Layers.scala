package pipebench

import java.time.Instant

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Per-layer metrics of a traced run, from its spans, stages and streaming
  * progress. Each per-wave value is a median over the measured waves; each
  * read value a median over that kind's reads.
  */
object Layers {
  val Streams = Seq("bronze", "cdf")
  val Tables = Seq("bronze", "quarantine", "silver", "gold")
  val ReadKinds = Seq("symbol_latest", "day_slice", "time_travel", "cdf_range")

  def apply(tr: Tracer, waves: Seq[Map[String, Double]]): Map[String, Double] = {
    val perWave = waves.indices.flatMap(w =>
      tr.spans.find(s => s.name == "wave" && s.wave == w).map(perWaveMetrics(tr, _, waves(w))))
    val reads = for (k <- ReadKinds; (m, f) <- Seq[(String, Span => Double)](
        "ms_p50" -> (_.dur),
        "resolve_ms" -> (s => children(tr, s).filter(_.name == "resolve").map(_.dur).sum),
        "jobs" -> (s => tr.jobsIn(s).toDouble),
        "rows_scanned_per_row_returned" -> (s => tr.stagesIn(s).map(_.recordsRead).sum /
          math.max(1.0, s.counts.getOrElse("rows_returned", 0.0)))))
      yield s"read.$k.$m" -> med(tr.spans.filter(_.name == s"read.$k").map(f).toSeq)
    Units.layer.keys.map(k => k -> med(perWave.flatMap(_.get(k)))).toMap ++ reads
  }

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Main.median(xs)

  private def children(tr: Tracer, s: Span): Seq[Span] = tr.spans.filter(_.parent == s.id).toSeq

  def streamOf(p: StreamingQueryProgress): String =
    if (p.sources.exists(_.description.startsWith("FileStreamSource"))) "bronze" else "cdf"

  def progressIn(tr: Tracer, s: Span): Seq[StreamingQueryProgress] =
    tr.progress.filter(p => s.covers(Instant.parse(p.timestamp).toEpochMilli.toDouble)).toSeq

  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  private def offset(json: String): Option[Long] =
    Option(json).flatMap(_.trim.toLongOption)

  /** Versions a change-feed batch covered: its offsets are commit versions. */
  private def versions(p: StreamingQueryProgress): Double =
    p.sources.headOption.flatMap(s => offset(s.endOffset).map(_ - offset(s.startOffset).getOrElse(0L)))
      .getOrElse(0L).toDouble

  /** The bronze commit runs inside the bronze trigger's `addBatch`, which
    * ends where the trigger's last phase, the commit-log write
    * (`commitOffsets`), begins: one span per bronze trigger.
    */
  def bronzeCommits(tr: Tracer): Seq[Span] =
    tr.progress.toSeq.filter(streamOf(_) == "bronze").zipWithIndex.map { case (p, i) =>
      val end = Instant.parse(p.timestamp).toEpochMilli + dur(p, "triggerExecution") -
        dur(p, "commitOffsets")
      val runner = tr.spans.find(s => s.name == "streaming.bronze" && s.covers(end))
      Span(tr.spans.size + i, "tables.bronze", runner.map(_.id).getOrElse(-1),
        runner.map(_.wave).getOrElse(-1), end - dur(p, "addBatch"), end)
    }

  private def perWaveMetrics(tr: Tracer, ws: Span, rec: Map[String, Double]): Map[String, Double] = {
    val inWave = tr.spans.filter(s => s.wave == ws.wave && s.start >= ws.start && s.end <= ws.end).toSeq
    val prog = progressIn(tr, ws)
    val streaming = Streams.flatMap { q =>
      val ps = prog.filter(streamOf(_) == q)
      def sum(k: String) = ps.map(dur(_, k)).sum
      val runner = inWave.find(_.name == s"streaming.$q").map(_.dur).getOrElse(0.0)
      Seq("latest_offset_ms" -> sum("latestOffset"), "wal_commit_ms" -> sum("walCommit"),
        "commit_offsets_ms" -> sum("commitOffsets"), "query_planning_ms" -> sum("queryPlanning"),
        "add_batch_ms" -> sum("addBatch"), "batches" -> ps.size.toDouble,
        "start_stop_ms" -> (runner - sum("triggerExecution")))
        .map { case (m, v) => s"streaming.$q.$m" -> v }
    }
    val cdf = prog.filter(streamOf(_) == "cdf")
    val n = math.max(1, cdf.size).toDouble
    val sources = Seq(
      "sources.cdf.versions_per_batch" -> cdf.map(versions).sum / n,
      "sources.cdf.rows_per_batch" -> cdf.map(_.numInputRows.toDouble).sum / n,
      "sources.cdf.latest_offset_ms" -> cdf.map(dur(_, "latestOffset")).sum / n,
      "sources.cdf.log_versions" -> cdf.flatMap(_.sources.headOption.flatMap(s => offset(s.endOffset)))
        .maxOption.getOrElse(0L).toDouble)
    val tables = Tables.flatMap { t =>
      val spans = if (t == "bronze") bronzeCommits(tr).filter(s => ws.covers(s.start))
        else inWave.filter(_.name == s"tables.$t")
      val stages = spans.flatMap(tr.stagesIn)
      val secs = spans.map(_.dur).sum / 1e3
      val stageS = spans.map(tr.stageSeconds).sum
      val bytes = if (t == "bronze") ws.counts.getOrElse("bronze.bytes_written", 0.0)
        else spans.map(_.counts.getOrElse("bytes_written", 0.0)).sum
      val files = if (t == "bronze") ws.counts.getOrElse("bronze.files_written", 0.0)
        else spans.map(_.counts.getOrElse("files_written", 0.0)).sum
      Seq(s"tables.$t.s" -> secs, s"tables.$t.stage_s" -> stageS,
        s"tables.$t.driver_s" -> (secs - stageS),
        s"tables.$t.jobs" -> spans.map(tr.jobsIn).sum.toDouble,
        s"tables.$t.tasks" -> stages.map(_.tasks).sum.toDouble,
        s"tables.$t.bytes_written" -> bytes, s"tables.$t.files_written" -> files,
        s"tables.$t.rewrite_ratio" -> bytes / rec("raw_bytes"),
        s"tables.$t.rows_inserted" -> rec.getOrElse(s"$t.rows_inserted", 0.0),
        s"tables.$t.rows_updated" -> rec.getOrElse(s"$t.rows_updated", 0.0),
        s"operators.$t.exec_cpu_s" -> stages.map(_.cpuS).sum,
        s"operators.$t.shuffle_read_bytes" -> stages.map(_.shuffleRead).sum,
        s"operators.$t.shuffle_write_bytes" -> stages.map(_.shuffleWrite).sum,
        s"operators.$t.spill_bytes" -> stages.map(_.spill).sum,
        s"operators.$t.gc_s" -> stages.map(_.gcS).sum)
    }
    val session = Seq("session.gc_s" -> rec("gc_s"),
      "session.jobs_per_wave" -> tr.jobsIn(ws).toDouble,
      "wave.driver_residual_s" -> (ws.dur / 1e3 - tr.stageSeconds(ws)))
    (streaming ++ sources ++ tables ++ session).toMap
  }

  /** The span file: every span with its self time and the stage counts
    * taken at its boundaries, plus one record per streaming trigger.
    */
  def spanRecords(tr: Tracer): Seq[Map[String, Any]] = {
    val spans = (tr.spans.toSeq ++ bronzeCommits(tr)).map { s =>
      val kids = children(tr, s)
      val covered = kids.map(_.dur).sum
      val st = tr.stagesIn(s)
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "wave" -> s.wave,
        "start_ms" -> s.start, "end_ms" -> s.end, "dur_ms" -> s.dur,
        "self_ms" -> (s.dur - covered),
        "counts" -> (s.counts.toMap ++ Map("jobs" -> tr.jobsIn(s).toDouble,
          "stages" -> st.size.toDouble, "tasks" -> st.map(_.tasks).sum.toDouble,
          "stage_s" -> tr.stageSeconds(s), "exec_cpu_s" -> st.map(_.cpuS).sum,
          "shuffle_read_bytes" -> st.map(_.shuffleRead).sum,
          "shuffle_write_bytes" -> st.map(_.shuffleWrite).sum,
          "spill_bytes" -> st.map(_.spill).sum, "gc_s" -> st.map(_.gcS).sum,
          "records_read" -> st.map(_.recordsRead).sum)))
    }
    val triggers = tr.progress.toSeq.map { p =>
      val start = Instant.parse(p.timestamp).toEpochMilli.toDouble
      val q = streamOf(p)
      val parent = tr.spans.find(s => s.name == s"streaming.$q" && s.covers(start))
      Map("name" -> s"trigger.$q", "parent" -> parent.map(_.id).getOrElse(-1),
        "wave" -> parent.map(_.wave).getOrElse(-1), "start_ms" -> start,
        "end_ms" -> (start + dur(p, "triggerExecution")), "batch_id" -> p.batchId,
        "counts" -> (p.durationMs.keySet.toArray.map(k => s"$k.ms" -> dur(p, k.toString)).toMap ++
          Map("input_rows" -> p.numInputRows.toDouble, "versions" -> (if (q == "cdf") versions(p) else 0.0))))
    }
    spans ++ triggers
  }
}

/** Units of every metric the benchmark prints. */
object Units {
  val e2e: Map[String, String] = Map("setup_s" -> "s", "freshness_s_p50" -> "s",
    "rows_per_s" -> "rows/s", "read_ms_p50" -> "ms", "cpu_ms_per_row" -> "ms/row",
    "write_amp" -> "ratio", "live_heap_mb" -> "MB")

  /** Per-wave layer metrics (read metrics are added below). */
  val layer: Map[String, String] = (
    Layers.Streams.flatMap(q => Seq("latest_offset_ms" -> "ms", "wal_commit_ms" -> "ms",
      "commit_offsets_ms" -> "ms", "query_planning_ms" -> "ms", "add_batch_ms" -> "ms",
      "batches" -> "count", "start_stop_ms" -> "ms").map { case (m, u) => s"streaming.$q.$m" -> u }) ++
    Seq("sources.cdf.versions_per_batch" -> "count", "sources.cdf.rows_per_batch" -> "count",
      "sources.cdf.latest_offset_ms" -> "ms", "sources.cdf.log_versions" -> "count") ++
    Layers.Tables.flatMap(t => Seq("s" -> "s", "stage_s" -> "s", "driver_s" -> "s",
      "jobs" -> "count", "tasks" -> "count", "bytes_written" -> "B", "files_written" -> "count",
      "rewrite_ratio" -> "ratio", "rows_inserted" -> "count", "rows_updated" -> "count")
      .map { case (m, u) => s"tables.$t.$m" -> u } ++
      Seq("exec_cpu_s" -> "s", "shuffle_read_bytes" -> "B", "shuffle_write_bytes" -> "B",
        "spill_bytes" -> "B", "gc_s" -> "s").map { case (m, u) => s"operators.$t.$m" -> u }) ++
    Seq("session.gc_s" -> "s", "session.jobs_per_wave" -> "count",
      "wave.driver_residual_s" -> "s")).toMap

  val read: Map[String, String] = Layers.ReadKinds.flatMap(k => Seq("ms_p50" -> "ms",
    "resolve_ms" -> "ms", "jobs" -> "count", "rows_scanned_per_row_returned" -> "ratio")
    .map { case (m, u) => s"read.$k.$m" -> u }).toMap

  val all: Map[String, String] = e2e ++ layer ++ read
}
