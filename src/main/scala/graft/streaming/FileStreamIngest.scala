package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.operators.TableOps

/** Incremental file-stream ingestion — the open-source analogue of the
  * reference's Auto Loader notebooks.
  *
  * Bronze (`databricks/bronze_prices_auto_loader.ipynb` cells 1–3;
  * `bronze_fundamentals_auto_loader.ipynb` cells 2–3):
  *   file-source `readStream` (incremental listing, exactly-once via the
  *   checkpoint WAL — the OSS equivalent of `cloudFiles` discovery) →
  *   normalize projection → `Trigger.AvailableNow` append sink (drain all
  *   new files, then stop — the cost-optimized batch-style trigger the
  *   reference runs on a schedule).
  *
  * Silver (`docs/databricks_setup.md:170-198` + the CDF note at
  * `bronze_prices_auto_loader.ipynb:158`): each micro-batch is the change
  * set — `foreachBatch` applies it as one latest-wins MERGE commit through
  * the [[graft.operators.TableOps]] seam, whose one backend is the
  * [[graft.tables.CommitLogTable]] format. The merge reads and rewrites
  * only the day partitions the batch touches (manifest-level pruning, the
  * file-pruning a Delta MERGE gets from its transaction log), and readers
  * resolve an isolated snapshot, so a commit in flight is never half
  * visible. Keyed upserts converge on a checkpointed replay, so the
  * Silver runners are exactly-once.
  */
object FileStreamIngest {

  /** Bronze: incremental parquet file stream. `includeExisting=false`
    * mirrors Auto Loader's `includeExistingFiles=false` (only files arriving
    * after the checkpoint's first listing are processed on later runs; the
    * first run drains what's there).
    */
  def bronzeStream(spark: SparkSession, srcDir: String, schema: StructType,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    r.parquet(srcDir)
  }

  /** [[bronzeStream]] without a declared schema — OSS
    * `spark.sql.streaming.schemaInference` parity (the conf Auto Loader's
    * `inferColumnTypes` wraps for self-describing formats): the parquet
    * file source infers the schema from the files present at stream
    * start. Parquet footers make the inference deterministic for a
    * consistent directory; a source whose schema may DRIFT between
    * restarts should use the declared-schema [[bronzeStream]] or the
    * schema-location protocol of [[bronzeJsonStreamInferred]] instead,
    * which is what pins a stable schema under the checkpoint.
    */
  def bronzeStreamInferred(spark: SparkSession, srcDir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    // scoped via an ISOLATED session, not a set/restore on the caller's:
    // the file source resolves its schema during load(), and a toggle on
    // the shared session races any concurrent reader construction — a
    // schema-less readStream built in the window would silently infer
    // (and re-type across restarts) instead of failing fast, or an
    // interleaved restore could leave the wrong final value. newSession()
    // shares the SparkContext but owns its conf; the caller's session is
    // never mutated. Runtime confs are carried over so the stream plans
    // under the caller's settings (shuffle partitions etc.).
    val s2 = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      try s2.conf.set(k, v) catch { case _: Exception => () } // static confs
    }
    s2.conf.set("spark.sql.streaming.schemaInference", "true")
    val r = s2.readStream
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    r.parquet(srcDir)
  }

  /** Bronze: incremental NDJSON(.gz) stream with schema-evolution rescue —
    * the streaming half of S5, matching the fundamentals Auto Loader
    * (`bronze_fundamentals_auto_loader.ipynb:86-98`, cell 2: `cloudFiles`
    * json + `recursiveFileLookup` + `schemaEvolutionMode=rescue`). Rows
    * that don't parse into the declared schema land intact in
    * `_rescued_data`, and VALID rows carrying undeclared extra fields get
    * those fields captured there as JSON instead of silently dropped
    * (same projection as the batch source — [[graft.sources.RescueJson]]);
    * nested date directories are discovered recursively; gzipped files
    * decompress by extension.
    */
  def bronzeJsonStream(spark: SparkSession, srcDir: String, schema: StructType,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream
      .option("recursiveFileLookup", "true")
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    r.text(srcDir)
      .filter(trim(col("value")) =!= "")
      .select(graft.sources.RescueJson.rescueProjection(col("value"), schema): _*)
  }

  /** S5 with STREAMING SCHEMA INFERENCE — OSS parity for Auto Loader's
    * `cloudFiles.inferColumnTypes=true` + `cloudFiles.schemaLocation`
    * (`bronze_fundamentals_auto_loader.ipynb:91-95`; the OSS knob is
    * `spark.sql.streaming.schemaInference`, but bare inference re-runs at
    * every restart and silently re-types the stream — the schema-location
    * protocol below is what makes inference restart-stable, which is the
    * part Auto Loader actually adds):
    *
    *   - FIRST run: infer the schema from the NDJSON(.gz) files already
    *     in `srcDir` (one batch inference pass over what exists — the
    *     stream hasn't started, so this is bounded by the initial
    *     backlog, never by stream lifetime) and RECORD it at
    *     `schemaLocation/schema.json` (atomic publish);
    *   - LATER runs: load the recorded schema — inference never re-runs,
    *     so a restart cannot re-type or re-order columns under the
    *     checkpoint;
    *   - columns that appear AFTER the schema was recorded land in
    *     `_rescued_data` (the rescue projection of [[bronzeJsonStream]]),
    *     mirroring `schemaEvolutionMode=rescue` — an operator widens the
    *     stream by recording a new schema file and restarting, which is
    *     Auto Loader's `addNewColumns` restart made explicit.
    *
    * Returns the streaming frame; the schema in force is recoverable from
    * the schema file.
    */
  def bronzeJsonStreamInferred(spark: SparkSession, srcDir: String,
      schemaLocation: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val schema = loadOrInferSchema(spark, srcDir, schemaLocation)
    bronzeJsonStream(spark, srcDir, schema, maxFilesPerTrigger)
  }

  /** The schema-location protocol: load `schema.json` if recorded, else
    * infer from the current files and publish atomically (tmp + rename —
    * two racing first runs converge on one winner's schema).
    */
  private[graft] def loadOrInferSchema(spark: SparkSession, srcDir: String,
      schemaLocation: String): StructType = {
    // storage-seam IO: Auto Loader's schemaLocation lives on the lake
    // (DBFS/S3 in the reference's setup), so the protocol must work on
    // any scheme the table format deploys to
    val loc = graft.tables.GPath(schemaLocation)
    val file = loc.resolve("schema.json")
    if (graft.tables.GFiles.exists(file))
      org.apache.spark.sql.types.DataType.fromJson(
        graft.tables.GFiles.readString(file)).asInstanceOf[StructType]
    else {
      val inferred = spark.read
        .option("recursiveFileLookup", "true")
        .json(srcDir).schema
      // the corrupt-record column is an inference artifact, not data
      val clean = StructType(inferred.fields.filterNot(
        _.name == spark.conf.get("spark.sql.columnNameOfCorruptRecord")))
      require(clean.nonEmpty,
        s"schema inference found no parseable JSON under $srcDir")
      graft.tables.GFiles.createDirectories(loc)
      val tmp = loc.resolve(s".tmp-${java.util.UUID.randomUUID()}")
      graft.tables.GFiles.writeString(tmp, clean.json)
      try graft.tables.GFiles.moveNoReplace(tmp, file)
      catch { case _: java.nio.file.FileAlreadyExistsException =>
        graft.tables.GFiles.deleteIfExists(tmp)
        () } // a concurrent first run won: use its schema
      org.apache.spark.sql.types.DataType.fromJson(
        graft.tables.GFiles.readString(file)).asInstanceOf[StructType]
    }
  }

  /** Run a stream to a parquet append sink with AvailableNow semantics:
    * drain everything new, commit the checkpoint, stop. Returns after the
    * drain completes (the reference's scheduled-batch shape).
    */
  def runAvailableNowAppend(df: DataFrame, outDir: String, checkpointDir: String): Unit = {
    val q = df.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Always-on variant of [[runAvailableNowAppend]]: micro-batches on a
    * `Trigger.ProcessingTime` cadence, the reference's documented
    * alternative to `availableNow` for continuous ingest
    * (`docs/databricks_setup.md:131`). Returns the RUNNING query — it never
    * self-terminates; the caller owns `stop()`/`awaitTermination()`.
    * Exactly-once discovery rides the same checkpoint WAL, so a pipeline
    * can flip between scheduled (availableNow) and always-on
    * (processingTime) without re-ingesting.
    */
  def runProcessingTimeAppend(df: DataFrame, outDir: String,
      checkpointDir: String, interval: String = "5 minutes"): StreamingQuery =
    df.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(interval))
      .start()

  /** Exactly-once BLIND append into a commit-log table from a streaming
    * foreachBatch — the idempotent-writes shape Delta documents for
    * foreachBatch sinks (`txnAppId`/`txnVersion`): the micro-batch id is
    * the transaction version, so a batch replayed after a crash between
    * the append and the checkpoint commit is recognized by the table's
    * recorded txn watermark and skipped, instead of double-appending.
    * This closes the at-least-once caveat of the plain foreachBatch
    * appenders WITHOUT requiring a merge key — the Bronze shape, where
    * rows are raw and keys may not exist yet. `appId` must be unique per
    * logical stream (two streams sharing an appId would suppress each
    * other's batches); the checkpoint and the appId must move together.
    */
  def runAvailableNowCommitLogAppend(df: DataFrame, tableDir: String,
      checkpointDir: String, appId: String): Unit = {
    val q = df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.tables.CommitLogTable
          .forPath(batch.sparkSession, tableDir, batch.schema, Seq.empty)
          .append(batch, txn = Some((appId, batchId)))
        ()
      }
      .start()
    q.awaitTermination()
  }

  /** Always-on twin of [[runAvailableNowCommitLogAppend]] (the same
    * AvailableNow/ProcessingTime duality every other runner has): the
    * txn watermark rides the shared checkpoint's batch ids, so a
    * pipeline can flip between scheduled drains and continuous ingest
    * without re-appending OR double-appending. Returns the RUNNING
    * query — the caller owns stop().
    */
  def runProcessingTimeCommitLogAppend(df: DataFrame, tableDir: String,
      checkpointDir: String, appId: String,
      interval: String = "5 minutes"): StreamingQuery =
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(interval))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.tables.CommitLogTable
          .forPath(batch.sparkSession, tableDir, batch.schema, Seq.empty)
          .append(batch, txn = Some((appId, batchId)))
        ()
      }
      .start()

  /** AvailableNow drain through an arbitrary per-batch sink function. */
  def runAvailableNowForeachBatch(df: DataFrame, checkpointDir: String)
      (f: DataFrame => Unit): Unit = {
    val q = df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) => f(batch) }
      .start()
    q.awaitTermination()
  }

  /** Write-side schema evolution (`mergeSchema=true` on the reference's
    * streaming write, `bronze_prices_auto_loader.ipynb` cell 3 line 122 /
    * `addNewColumns` in `docs/databricks_setup.md:120`): each restart may
    * declare a WIDER schema; batches append as-is and readers union file
    * schemas via [[graft.sinks.Sinks.readEvolved]] — new columns read as
    * null for history written before they existed.
    */
  def runAvailableNowEvolvingAppend(df: DataFrame, outDir: String,
      checkpointDir: String): Unit =
    runAvailableNowForeachBatch(df, checkpointDir)(
      graft.sinks.Sinks.evolvingAppend(_, outDir))

  /** Streaming dedup on ingest: duplicate records (same `idCols`) arriving
    * within `delay` of each other are emitted once; state expires with the
    * watermark so it stays bounded on an unbounded stream — the streaming-
    * native alternative to deduping in the Silver merge when duplicates
    * are known to arrive close together (retried uploads, at-least-once
    * sources).
    */
  def dedupWithinWatermark(df: DataFrame, idCols: Seq[String], tsCol: String,
      delay: String): DataFrame =
    df.withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(idCols)

  /** Streaming DQ gate (the reference's expectation suite applied at ingest
    * time, `validation/expectations_prices.json` +
    * `docs/databricks_setup.md` DQ flow): each micro-batch splits on the
    * rules — passing rows append to `outDir`, failing rows land in
    * `quarantineDir` with their `dq_reason`. One pass over the cached batch
    * feeds both sinks.
    *
    * Delivery is AT-LEAST-ONCE: these are blind appends inside
    * foreachBatch, so a crash between the writes and the checkpoint
    * commit replays the batch and double-appends. Consumers that need
    * exactly-once use [[medallionBatch]] (keyed upserts converge on
    * replay) or the plain file-sink runners (`_spark_metadata` log).
    */
  def runAvailableNowWithExpectations(df: DataFrame, outDir: String,
      quarantineDir: String, checkpointDir: String,
      rules: Seq[graft.operators.Expectations.Expectation]): Unit =
    runAvailableNowForeachBatch(df, checkpointDir) { batch =>
      import graft.operators.Expectations
      val cached = batch.persist()
      try {
        Expectations.enforce(cached, rules)
          .write.mode(SaveMode.Append).parquet(outDir)
        Expectations.quarantine(cached, rules)
          .write.mode(SaveMode.Append).parquet(quarantineDir)
      } finally cached.unpersist()
    }

  /** Silver: partition-pruned streaming upsert — each micro-batch is one
    * MERGE commit that reads and rewrites only the day partitions present
    * in the batch.
    */
  def runAvailableNowUpsertPartitioned(df: DataFrame, targetDir: String,
      checkpointDir: String, keys: Seq[String], order: Seq[Column],
      dayCol: String,
      ops: TableOps = TableOps.commitLog): Unit =
    runAvailableNowForeachBatch(df, checkpointDir)(
      ops.upsertPartitions(_, targetDir, keys, order, dayCol))

  /** Always-on variant of [[runAvailableNowUpsertPartitioned]]: the same
    * checkpointed latest-wins merge on a `ProcessingTime` cadence —
    * continuous Silver. Returns the RUNNING query (caller owns stop);
    * flipping between scheduled and always-on preserves progress through
    * the shared WAL, exactly as with the append runners.
    */
  def runProcessingTimeUpsertPartitioned(df: DataFrame, targetDir: String,
      checkpointDir: String, keys: Seq[String], order: Seq[Column],
      dayCol: String, interval: String = "5 minutes"): StreamingQuery =
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(interval))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        TableOps.commitLog.upsertPartitions(batch, targetDir, keys, order, dayCol)
      }
      .start()

  /** One micro-batch of the WHOLE medallion: the reference's
    * bronze→silver→gold architecture (`docs/databricks_setup.md` DQ flow
    * + Silver merge + Gold view) applied end-to-end to a single batch,
    * maintaining three tables under `outRoot`:
    *
    *   - `quarantine/` — rows failing the DQ `rules`, with `dq_reason`;
    *   - `silver/`     — normalized events, partition-pruned latest-wins
    *     upsert keyed by `event_id`, day-partitioned;
    *   - `gold/`       — the window-feature view ([[graft.operators
    *     .GoldFeatures]]), INCREMENTALLY maintained. Every gold column is
    *     a trailing window over `(ts, event_id)` within `user_id`, so a
    *     batch row can change gold only on its own day and later days of
    *     its key. Each batch takes `first_day` = the earliest batch day
    *     per user_id, recomputes those keys' window chain over their
    *     silver history (read back through the binding's `readTable`
    *     seam), and upserts only the rows with `day >= first_day`; the
    *     pruned merge then rewrites only those day partitions. Exact: a
    *     row with `day < first_day` precedes every batch row in window
    *     order (`day = to_date(ts)`), so none of its frames holds a
    *     changed row, and its DECIMAL frame sums recompute bit-identically
    *     to the stored value. A late row re-derives every later feature
    *     of its key; `first_day` comes from the batch, not from what
    *     silver changed, so a replay rewrites the same gold days.
    *
    * Two branches commit concurrently ([[graft.tables.ForkJoin]]): the
    * quarantine upsert, and the silver upsert followed by the gold
    * upsert. They write disjoint tables, and quarantine reads only the
    * batch, so neither branch reads what the other writes; gold reads
    * silver and runs strictly after the silver commit. A batch then
    * costs about the longer branch, not the sum of all three commits. A
    * sink added here states which commit it depends on; a sink that
    * depends only on the batch joins the quarantine branch. Both
    * branches run on threads this call starts, which inherit its
    * `SparkContext` local properties (a streaming query's job group,
    * so the query's `stop()` cancels both branches' jobs).
    *
    * Failure: both branches always run to completion; then the first
    * failure (quarantine before silver/gold) is rethrown with the
    * other's attached as suppressed. The persisted frames are released
    * only after both finish, so no commit reads an unpersisted frame.
    * A branch that failed leaves its table at its previous version
    * while the other branch's commits stand — the state a crash between
    * two sequential commits leaves — and a replay converges it.
    *
    * Exactly-once: the streaming checkpoint replays an interrupted batch,
    * and every sink here is a KEYED upsert — quarantine included — so a
    * replay converges to identical tables instead of double-appending,
    * whichever of its commits had landed. The order of commits across
    * tables is therefore not part of the contract.
    * The quarantine key is a non-null surrogate (below), so convergence
    * holds even for malformed NULL-id rows; silver/gold key on
    * `event_id`, so rows that PASS the DQ gate must carry a non-null
    * `event_id` for replay convergence — gate NULL ids with a
    * `not_null(event_id)` expectation (they then converge in quarantine).
    * All storage goes through the [[graft.operators.TableOps]] seam: each
    * table gets one atomic commit per batch, and the real-Delta binding
    * runs the pipeline unchanged.
    */
  def medallionBatch(batch: DataFrame, outRoot: String,
      rules: Seq[graft.operators.Expectations.Expectation],
      ops: TableOps = TableOps.commitLog): Unit = {
    import graft.operators.{Expectations, GoldFeatures, Normalize}
    import graft.tables.ForkJoin
    val spark = batch.sparkSession
    val cached = batch.persist()
    // persisted: each upsert helper fires several actions (emptiness
    // probe, partition-values collect, the merge) — without the persists
    // the normalize chain and the gold window chain over the batch keys'
    // silver history would re-execute per action
    val normalized = Normalize.events(Expectations.enforce(cached, rules)).persist()
    var gold: DataFrame = null
    val quarantine = () => {
      // through the seam like silver/gold: the quarantine table gets the
      // same atomic commits and CDF. Keyed on a NON-NULL surrogate, not
      // event_id directly: quarantine is exactly where malformed rows
      // land, and a NULL merge key never equi-matches (it inserts
      // unconditionally) — a checkpointed replay after a crash would
      // re-insert every NULL-keyed row on each retry.
      // coalesce(event_id, sha256(full row)) is replay-deterministic, so
      // retries converge for malformed rows too (identical malformed rows
      // collapse to one — the price of idempotence, since replays cannot
      // tell copies apart). Tie-break order is the full row (struct
      // comparison): replayed duplicate keys converge on ONE
      // deterministic winner — ordering by the key itself would make
      // keepLast arbitrary-wins and a replay could produce a different
      // table than the first attempt
      val quarRaw = Expectations.quarantine(cached, rules)
      val quar = quarRaw.withColumn("quarantine_key",
        coalesce(col("event_id").cast("string"),
          sha2(to_json(struct(quarRaw.columns.map(col).toIndexedSeq: _*)), 256)))
      ops.upsert(quar, s"$outRoot/quarantine", Seq("quarantine_key"),
        Seq(struct(quarRaw.columns.map(col).toIndexedSeq: _*)))
    }
    val silverThenGold = () => if (!normalized.isEmpty) {
      val silverDir = s"$outRoot/silver"
      // day rides the merge key (it is a function of ts, so the pair is
      // as unique as event_id alone) — the partition-stability contract
      // the pruned merge wants. The full row breaks `ts` ties, as in
      // quarantine: two differing versions of one bar in one batch
      // then have one winner, whatever the shuffle order
      ops.upsertPartitions(normalized, silverDir,
        keys = Seq("event_id", "day"),
        order = Seq(col("ts").desc,
          struct(normalized.columns.map(col).toIndexedSeq: _*)),
        dayCol = "day")
      val firstDay = normalized.groupBy("user_id").agg(min("day").as("first_day"))
      // the batch symbols' history, each row tagged with its symbol's
      // first batch day; the select keeps silver's column order (a USING
      // join moves the key first), so gold's schema does not move
      val silver = ops.readTable(spark, silverDir)
      val history = silver.join(broadcast(firstDay), Seq("user_id"))
        .select((silver.columns :+ "first_day").map(col).toIndexedSeq: _*)
      gold = GoldFeatures.features(history, keyCols = Seq("user_id"),
          order = Seq(col("ts"), col("event_id")), valueCol = "value")
        .filter(col("day") >= col("first_day")).drop("first_day").persist()
      ops.upsertPartitions(gold, s"$outRoot/gold",
        keys = Seq("event_id", "day"), order = Seq(col("ts").desc),
        dayCol = "day")
    }
    try ForkJoin.firstFailure(ForkJoin.all(Seq(quarantine, silverThenGold)))
      .foreach(e => throw e)
    finally {
      cached.unpersist()
      normalized.unpersist()
      if (gold != null) gold.unpersist()
    }
  }

  /** Always-on medallion: [[medallionBatch]] on a `ProcessingTime`
    * cadence — the reference's scheduled notebooks as ONE running
    * pipeline. Returns the running query (caller owns stop); restarts
    * resume exactly-once from the shared checkpoint. The scheduled-drain
    * form is `runAvailableNowForeachBatch(df, checkpointDir)(
    * medallionBatch(_, outRoot, rules, ops))` on the same checkpoint —
    * flip between the two freely.
    */
  def runProcessingTimeMedallion(df: DataFrame, outRoot: String,
      checkpointDir: String,
      rules: Seq[graft.operators.Expectations.Expectation],
      ops: TableOps = TableOps.commitLog,
      interval: String = "5 minutes"): StreamingQuery =
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(interval))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        medallionBatch(batch, outRoot, rules, ops)
      }
      .start()
}
