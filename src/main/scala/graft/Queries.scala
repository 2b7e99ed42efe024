package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators._
import graft.llm.{BloomDecon, Classifier, MinHashDedup, Packing, Quantize, Similarity, SimHash, TextOps}

/** Batch query definitions bound to the driver testdata (TESTDATA.md).
  * Each is registered in [[SparkEntry.queries]] with a DuckDB oracle twin.
  *
  * FP-determinism policy (the driver hash-compares values against DuckDB):
  *   - big SUMs over doubles go through DECIMAL (exact, order-independent),
  *     then cast back to double — both engines produce the identical double;
  *   - small-window analytics (20/50-row frames) are rounded to 6 decimals;
  *   - counts stay integer end-to-end.
  */
object Queries {

  /** Exact order-independent sum of a double column: accumulate as decimal,
    * return double. At scale this matters for reproducibility across
    * partitionings, not just for the oracle compare.
    */
  def dsum(c: Column, scale: Int): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  // ---- medallion plane over `events` (user_id ≙ symbol, ts ≙ date, value ≙ close)

  val eventRules = Seq(
    Expectations.Expectation("not_null_user", col("user_id").isNotNull),
    Expectations.Expectation("nonneg_value", col("value") >= 0),
    Expectations.Expectation("value_le_300", col("value") <= 300))

  def normEvents(s: SparkSession, dir: String): DataFrame =
    Normalize.events(Tables.events(s, dir))

  def dedupKeepLast(s: SparkSession, dir: String): DataFrame =
    Dedup.keepLast(
      Tables.events(s, dir).select("user_id", "event_type", "ts", "event_id", "value"),
      Seq("user_id", "event_type"),
      Seq(col("ts").desc, col("event_id").desc))

  def goldFeatures(s: SparkSession, dir: String): DataFrame =
    GoldFeatures.features(
      normEvents(s, dir),
      keyCols = Seq("user_id"),
      order = Seq(col("ts"), col("event_id")),
      valueCol = "value")

  /** O3 — the Gold view's global ORDER BY (reference
    * `docs/databricks_setup.md:240`: `ORDER BY symbol, trade_date DESC`,
    * here user/ts/event). A global `orderBy` in Spark is a RANGE-
    * partitioned distributed sort (sampling pass, then P-way parallel
    * sort — spec-asserted to never collapse to one task); the driver's
    * hash compare is order-insensitive, so the ScalaTest spec is what
    * pins the actual ordering.
    */
  def goldViewSorted(s: SparkSession, dir: String): DataFrame =
    // persisted: a global orderBy is a RANGE exchange whose bound
    // sampling pass executes the child once and the sort re-executes it
    // — caching the features frame halves the window pipeline's runs
    CacheBin.register(goldFeatures(s, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      .orderBy(col("user_id").asc, col("ts").desc, col("event_id").desc)

  def silverMerge(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select("user_id", "event_type", "ts", "event_id", "value")
    val cutoff = lit("2024-01-15").cast("date")
    val keys = Seq("user_id", "event_type")
    val ord = Seq(col("ts").desc, col("event_id").desc)
    val target = Dedup.keepLast(ev.filter(to_date(col("ts")) <= cutoff), keys, ord)
    val updates = ev.filter(to_date(col("ts")) > cutoff)
    MergeUpsert.merge(target, updates, keys, ord)
  }

  def dqAudit(s: SparkSession, dir: String): DataFrame =
    Expectations.audit(
      Tables.events(s, dir),
      eventRules :+ Expectations.Expectation("not_null_ts", col("ts").isNotNull))

  /** Q1 via the declarative GE-format suite file (reference
    * `validation/expectations_prices.json` shape): the engine-shipped
    * events suite parses into the same audit the Scala-authored rules run.
    */
  def geAudit(s: SparkSession, dir: String): DataFrame =
    GeSuite.loadResource("ge/expectations_events.json")
      .audit(Tables.events(s, dir))

  def quarantine(s: SparkSession, dir: String): DataFrame =
    Expectations.quarantine(
      Tables.events(s, dir).select("event_id", "user_id", "event_type", "value"),
      eventRules)

  def countByType(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))

  def dupProps(s: SparkSession, dir: String): DataFrame =
    Dedup.duplicateGroups(
      Tables.events(s, dir),
      sha2(concat(col("event_type"), lit("|"), col("props")), 256),
      "rec_hash")

  def coverage(s: SparkSession, dir: String): DataFrame =
    Aggregates.coverage(
      Tables.events(s, dir).withColumn("day", to_date(col("ts"))),
      Seq("user_id"), "day")

  def topkUsers(s: SparkSession, dir: String): DataFrame =
    Aggregates.topK(
      Aggregates.countByGroup(Tables.events(s, dir), Seq("user_id")),
      Seq(col("n").desc, col("user_id").asc), 20)

  def latestDayMonitor(s: SparkSession, dir: String): DataFrame =
    Aggregates.latestDayMonitor(
      Tables.events(s, dir).withColumn("day", to_date(col("ts"))),
      Seq("user_id"), "day", "ts")
      .select("user_id", "n", "latest_ts")

  /** A2 null-count audit as a direct oracle query. */
  def nullAudit(s: SparkSession, dir: String): DataFrame =
    Aggregates.nullAudit(Tables.events(s, dir), Seq("user_id", "value", "props"))

  /** O5 multi-key dropDuplicates (key projection keeps it deterministic). */
  def distinctKeys(s: SparkSession, dir: String): DataFrame =
    Dedup.dropDupKeys(
      Tables.events(s, dir).select("user_id", "event_type"),
      Seq("user_id", "event_type"))

  /** Exact per-type value percentiles (DQ distribution monitor). */
  def valueQuantiles(s: SparkSession, dir: String): DataFrame =
    Aggregates.quantileSummary(Tables.events(s, dir), Seq("event_type"),
      "value", Seq(0.25, 0.5, 0.75, 0.95))

  /** Gap-based sessions over events (12h gap; batch twin of the streaming
    * sessionizer).
    */
  def sessionizeEvents(s: SparkSession, dir: String): DataFrame =
    Aggregates.sessionizeBatch(
      Tables.events(s, dir).select("user_id", "ts", "event_id"),
      "user_id", "ts", Seq(col("ts"), col("event_id")), gapMinutes = 720)

  // ---- analytics plane over the TPC-H-ish star schema

  /** Pricing-summary aggregate (reference A1/A5 family at fact-table scale;
    * shape of TPC-H Q1). Partial aggregation makes the shuffle carry
    * #groups × #partitions rows only.
    */
  def pricingSummary(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity"), 2).as("sum_qty"),
        dsum(col("l_extendedprice"), 4).as("sum_base_price"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(DecimalType(18, 6))).cast("double").as("sum_disc_price"),
        (sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double") /
          count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))

  /** Selective filtered aggregate (TPC-H Q6 shape) — the filter must reach
    * the parquet scan as PushedFilters.
    */
  def revenueFilter(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(
        col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount") >= 0.03 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(
        sum((col("l_extendedprice") * col("l_discount"))
          .cast(DecimalType(18, 6))).cast("double").as("revenue"),
        count(lit(1)).as("n"))

  // ---- joins / calendar / envelope family

  /** As-of join (J2): each event picks the user's latest purchase value at
    * or before its timestamp — the prices×statements point-in-time lookup
    * shape.
    */
  def asofPurchase(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val facts = ev.select("event_id", "user_id", "ts", "event_type", "value")
    val dim = ev.filter(col("event_type") === "purchase")
      .select("user_id", "ts", "value")
    AsOf.joinLastValue(facts, dim, "user_id", "ts", "value", "last_purchase_value")
  }

  /** J3 + §2.8 calendar family: trading-day dimension over the event span. */
  def tradingCalendar(s: SparkSession, dir: String): DataFrame =
    CalendarOps.calendarOver(
      Tables.events(s, dir).withColumn("day", to_date(col("ts"))), "day")

  /** Multi-year calendar over a fixed 2021-12-01..2025-12-31 span — the
    * rule-generated schedule across year boundaries: Christmas 2021
    * observed Friday, Saturday New Year 2022 NOT observed (market open
    * Fri 2021-12-31), Juneteenth 2022 observed Monday, and the 2025-01-09
    * mourning closure. Bounds are literals: the span is the subject under
    * test, not a property of the data.
    */
  def tradingCalendarMultiyear(s: SparkSession, dir: String): DataFrame =
    CalendarOps.calendar(
      s.sql("SELECT DATE'2021-12-01' AS d0, DATE'2025-12-31' AS d1"))

  /** Backfill-window resolution (`fmp_dump_raw.py:628-651`): anchor
    * 2025-07-04 is a Friday HOLIDAY, so the snapshot resolves to
    * 2025-07-03 and the 30-day treasury window's trading days span
    * [2025-06-04, 2025-07-04] minus weekends, Juneteenth, and July 4th.
    * Anchor and span are literals: the resolution rule is the subject
    * under test, not a property of the data.
    */
  def backfillWindow(s: SparkSession, dir: String): DataFrame =
    CalendarOps.backfillWindow(s, "2025-07-04", 30)

  def monthChunks(s: SparkSession, dir: String): DataFrame =
    CalendarOps.monthChunks(
      Tables.events(s, dir).withColumn("day", to_date(col("ts"))), "day")

  /** `get_last_n_trading_days` over the event span (reference
    * `utils/dates.py:82-132` — drives default backfill windows).
    */
  def lastNTradingDays(s: SparkSession, dir: String): DataFrame =
    CalendarOps.lastNTradingDays(tradingCalendar(s, dir), 10)

  /** J3 fact×calendar semi-join: events gated to trading days
    * (`utils/dates.py:135-148` as an ingest filter).
    */
  def tradingDayEvents(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
        col("value"), to_date(col("ts")).as("day"))
    CalendarOps.filterToTradingDays(ev, "day", tradingCalendar(s, dir))
  }

  /** P8 envelope projection over events.props (statement-envelope shape). */
  def envelope(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(
      col("user_id").cast("string").as("symbol"),
      to_date(col("ts")).as("as_of_date"),
      col("event_type").as("endpoint"),
      col("props").as("payload"),
      col("ts").as("fetched_at"),
      lit("EVENTS").as("source"),
      lit(200).as("http_status"),
      graft.functions.Envelope.jsonField(col("props"), Seq("k", "key")).as("k_value"),
      graft.functions.Envelope.payloadHash(col("props")).as("payload_hash"))

  /** P9 file-level content hash per day (order-insensitive canonical sort). */
  def dayFileHash(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(
        graft.functions.Envelope.fileHash(col("props")).as("file_hash"),
        count(lit(1)).as("n"))

  /** Star-schema rollup: fact × dims with broadcast dimensions (J2). */
  def revenueByNation(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice"), 4).as("revenue"))

  // ---- LLM-data plane over documents / embeddings

  // curation-stage parameters, defined ONCE: the standalone queries, the
  // composed pipeline, and the session-memo keys all read these — a
  // threshold change cannot silently diverge between consumers (the
  // DuckDB oracles mirror them via shared SQL fragments in SparkEntry)
  val QualityMinTokens = 20L
  val QualityMaxTokens = 80L
  val QualityMinStopRatio = 0.03
  val QualityMinUniqRatio = 0.35
  val DeconN = 3
  val DeconMinOverlap = 3L
  val DeconBenchmarkMaxId = 10L
  val PackBudget = 2048L
  val VocabK = 100
  val SplitSalt = "graft-v1"
  val SplitPctTrain = 90
  val SamplePerStratum = 30
  val SampleTokenBudget = 400L
  // per-IVF-cell quota for the cluster-balanced diversity sample
  val ClusterSampleK = 5
  // quality-classifier fit: fixed full-batch GD steps and learning rate
  // (fixed-step, not convergence-tested — determinism over optimality;
  // see llm.Classifier for the quantization contract). 16 steps at lr 2
  // on the centered ×4-scaled features reaches ~0.84 train accuracy vs a
  // ~0.57 majority baseline at every sf, and is stable to lr halving —
  // chosen off the convergence curve, not tuned to one corpus
  val ClassifierSteps = 16
  val ClassifierLr = 2.0
  // semantic decontamination: cosine floor vs the benchmark embedding
  // slice (vec_id < DeconBenchmarkMaxId) — chosen between the synthetic
  // corpus's p99 (0.29) and max (0.49) eval-vs-corpus cosines so the
  // gate genuinely splits the data at every sf
  val SemanticDeconTau = 0.35
  // BM25 retrieval parameters (see llm.Bm25): query docs, terms per
  // query, Robertson k1/b, and result depth — mirrored into the oracle
  val Bm25NQueries = 3L
  val Bm25QueryTerms = 5
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val Bm25TopK = 10
  // reciprocal-rank fusion constant (Cormack et al. 2009's k=60)
  val RrfK0 = 60.0
  // RAG chunking: window/stride in whitespace tokens (overlapping halves)
  val RagWindow = 64
  val RagStride = 32
  // composed training-mix global token budget, split across sources by
  // the temperature mixture weights
  val MixTokenBudget = 4000L
  val PiiSeedSuffix =
    " reach bob@example.com or 555-123-4567 ssn 123-45-6789 at 10.0.0.1"
  // unicode seed: "cafe" + COMBINING ACUTE (composes to é under NFC) + BEL
  // (a stray control byte the sanitizer strips); the oracle spells the
  // same two codepoints with chr() so no raw control byte rides the SQL
  val UnicodeSeedSuffix = " cafe\u0301\u0007"

  /** Documents with deterministic PII grafted onto every 10th row — the
    * synthetic corpus carries no digits or '@', so without seeding any
    * scrub oracle would vacuously compare untouched text to untouched
    * text. The DuckDB side appends the identical suffix.
    */
  private def seededTextCol: Column =
    concat(col("text"),
      when(col("doc_id") % 10 === 0, lit(PiiSeedSuffix)).otherwise(lit("")))

  private def seededDocs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).withColumn("text", seededTextCol)

  /** Unicode canonicalization audit over a corpus seeded with decomposed
    * accents + a stray control byte on every 10th doc (the synthetic
    * corpus is pure ASCII, so unseeded the normalizer would vacuously
    * pass — same rationale as [[seededDocs]] for PII). `nfc_text` is the
    * composed storage form, `changed` flags docs whose bytes moved, and
    * `n_chars_sanitized` measures the full sanitize (NFC + control-strip
    * + trim). Scan-local at any corpus size; the NFC expression is
    * codegen'd with an allocation-free already-normalized fast path
    * (see [[graft.llm.UnicodeNorm]]).
    */
  def unicodeNormalize(s: SparkSession, dir: String): DataFrame = {
    val seeded = Tables.documents(s, dir).withColumn("text",
      concat(col("text"),
        when(col("doc_id") % 10 === 3, lit(UnicodeSeedSuffix)).otherwise(lit(""))))
    seeded.select(col("doc_id"),
      graft.llm.UnicodeNorm.nfc(col("text")).as("nfc_text"),
      (graft.llm.UnicodeNorm.nfc(col("text")) =!= col("text")).as("changed"),
      length(graft.llm.UnicodeNorm.sanitize(col("text"))).cast("long")
        .as("n_chars_sanitized"))
  }

  def docsExactDedup(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(sha2(col("text"), 256).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))

  /** Both MinHash consumers read ONE session-memoized verified-pairs table
    * (signatures → banding → candidate join → exact Jaccard runs once per
    * session, pinned across per-query cache drains) — the "materialize
    * pairs once, read twice" decision a 100 TB dedup sweep makes on disk.
    */
  private def sharedPairs(s: SparkSession, dir: String): DataFrame =
    MinHashDedup.verifiedPairsShared(Tables.documents(s, dir),
      corpusKey = s"$dir/documents", "doc_id", "text", k = 16, bucketCap = 50)

  def minhashPairs(s: SparkSession, dir: String): DataFrame =
    sharedPairs(s, dir)

  /** LSH bucket-gate occupancy audit over the session-shared signature
    * table (see [[MinHashDedup.bucketStats]]) — read before trusting
    * `q_minhash_pairs` / the dedup sweep; same cap as the pair stage.
    */
  def minhashBucketStats(s: SparkSession, dir: String): DataFrame =
    MinHashDedup.bucketStats(
      MinHashDedup.signaturesShared(Tables.documents(s, dir),
        corpusKey = s"$dir/documents", "doc_id", "text", k = 16),
      "doc_id", bucketCap = 50)

  // probe-prefix size for the LSH recall eval: ground truth is exact
  // Jaccard of each probe against the FULL corpus, so a bounded probe count
  // keeps the eval linear in corpus size (the same reason q_ann_recall
  // evaluates a fixed query set, not all-pairs). The count SCALES with the
  // corpus (1% of docs, floor 50): the 100× probe showed a fixed 50-doc
  // sample carries ~0.1 expected true pairs at 500k docs — n_true = 0, a
  // vacuous eval — while 1% keeps the expected true-pair count growing
  // with the corpus. At every driver SF (≤5000 docs) this is exactly the
  // historical 50, so oracle results are unchanged where verified; the
  // DuckDB twin derives the same bound from count(*), never a literal.
  val DedupProbeFloor = 50L
  def dedupProbeN(s: SparkSession, dir: String): Long =
    math.max(DedupProbeFloor, Tables.rowCount(s, dir, "documents") / 100)

  /** LSH dedup-quality eval: recall and candidate precision of the MinHash
    * banding pipeline against EXACT ground truth on a fixed probe set —
    * the dedup-plane twin of [[annRecall]]. Ground truth is every pair
    * (probe, other) with exact 16-char-shingle Jaccard ≥ 0.5, computed as
    * an INVERTED-INDEX join: explode each doc's distinct shingles once,
    * broadcast-hash-join the fixed-size probe shingle table, and count
    * matches per (doc, probe) — intersection sizes fall out of one
    * scan-linear pass with no per-pair set intersection at all (the
    * crossJoin+array_intersect formulation did |corpus|×|probes| array
    * walks and was the bench's slowest query; this is also the only shape
    * that survives 100 TB — the standard way an LSH parameter choice
    * (bands × rows, bucketCap) is audited before a sweep is trusted).
    * Zero-intersection pairs produce no join rows, which is exactly the
    * jaccard < 0.5 set. Candidates are the session-memoized
    * verified-pairs table restricted to probe pairs:
    *   recall         = true pairs the LSH pipeline surfaced / true pairs
    *   cand_precision = surfaced candidates that verify ≥ 0.5 / candidates
    */
  def minhashRecall(s: SparkSession, dir: String): DataFrame = {
    val k = 16
    val docs = Tables.documents(s, dir)
    val setExpr = array_distinct(expr(
      s"transform(sequence(1, length(text) - ${k - 1}), i -> substring(text, i, $k))"))
    // persisted: the corpus explode and the probe explode both read the
    // shingle-set projection — one distinct-shingle pass, not two
    val sets = CacheBin.register(docs.filter(length(col("text")) >= k)
      .select(col("doc_id"), setExpr.as("__sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val corpusSh = sets.select(col("doc_id"),
      size(col("__sh")).cast("long").as("n_c"), explode(col("__sh")).as("sh"))
    val probeN = dedupProbeN(s, dir)
    val probeSh = sets.filter(col("doc_id") < probeN)
      .select(col("doc_id").as("p_id"),
        size(col("__sh")).cast("long").as("n_p"), explode(col("__sh")).as("sh"))
    val truePairs = corpusSh.join(broadcast(probeSh), Seq("sh"))
      .filter(col("doc_id") =!= col("p_id"))
      .groupBy(col("doc_id"), col("p_id"), col("n_c"), col("n_p"))
      .agg(count(lit(1)).as("n_inter"))
      .select(least(col("doc_id"), col("p_id")).as("doc_a"),
        greatest(col("doc_id"), col("p_id")).as("doc_b"),
        (col("n_inter").cast("double") / (col("n_c") + col("n_p") - col("n_inter")))
          .as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      // a probe×probe pair arrives once from each side; distinct is over
      // the true-pair sliver, not the corpus
      .select(col("doc_a"), col("doc_b")).distinct()
    // candidate pairs involving a probe: doc_a < doc_b in the pair table,
    // so "involves a doc_id < probeN" is exactly doc_a < probeN
    val cand = sharedPairs(s, dir).filter(col("doc_a") < probeN)
    truePairs.agg(count(lit(1)).as("n_true"))
      .crossJoin(cand.agg(
        count(lit(1)).as("n_candidates"),
        coalesce(sum(when(col("jaccard") >= 0.5, 1L).otherwise(0L)), lit(0L))
          .as("n_hits")))
      .select(col("n_true"), col("n_candidates"), col("n_hits"),
        (col("n_hits").cast("double") / nullif(col("n_true"), lit(0L))).as("recall"),
        (col("n_hits").cast("double") / nullif(col("n_candidates"), lit(0L)))
          .as("cand_precision"))
  }

  // edit-similarity floor for q_edit_neardup: on the synthetic corpus the
  // shingle-verified pairs sit ≥ 0.93 and the sole false candidate at
  // 0.35, so 0.8 separates cleanly at any sf
  val EditSimThreshold = 0.8

  /** Character-level near-dup verification: exact Levenshtein distance
    * over the LSH candidate sliver — the edit-distance complement of the
    * shingle-Jaccard verify (Jaccard is order-insensitive; edit distance
    * catches the transposition/rewrite structure set similarity cannot).
    * The O(len²) DP runs ONLY on the session-memoized candidate pairs —
    * never corpus×corpus — so the cost is the pair sliver, which bucketCap
    * bounds at any corpus size; the text lookup is two linear joins of
    * that sliver against the scan. `edit_sim` = 1 − dist/max(len): one
    * IEEE division + subtraction, cross-engine exact.
    */
  def editNearDup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    sharedPairs(s, dir).select(col("doc_a"), col("doc_b"))
      .join(docs.select(col("doc_id").as("doc_a"), col("text").as("__ta")), Seq("doc_a"))
      .join(docs.select(col("doc_id").as("doc_b"), col("text").as("__tb")), Seq("doc_b"))
      // lev is referenced twice downstream, which keeps CollapseProject
      // from re-inlining the DP into both the output and the similarity
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("__ta"), col("__tb")).cast("long").as("edit_dist"),
        greatest(length(col("__ta")), length(col("__tb"))).cast("long").as("__len"))
      .select(col("doc_a"), col("doc_b"), col("edit_dist"),
        (lit(1.0) - col("edit_dist").cast("double") / col("__len")).as("edit_sim"))
      .filter(col("edit_sim") >= EditSimThreshold)
      .select(col("doc_a"), col("doc_b"), col("edit_dist"), col("edit_sim"))
  }

  /** Dedup clusters: connected components over verified MinHash pairs at
    * jaccard ≥ 0.5 — cluster_id = min reachable doc id, singletons keep
    * their own id.
    */
  def dedupClusters(s: SparkSession, dir: String): DataFrame =
    // session-memoized like the pair table it reads: the union-find /
    // label-propagation pass runs once and serves every consumer
    // (q_dedup_clusters, q_dedup_keep, both curate pipelines, the sweep
    // summary) — at 100 TB the cluster map is materialized next to the
    // pair table for exactly this reason
    SessionMemo.cached(s, s"dedupclusters:$dir") {
      val docs = Tables.documents(s, dir)
      MinHashDedup.connectedComponents(docs, "doc_id",
        sharedPairs(s, dir).filter(col("jaccard") >= 0.5))
    }

  /** LEAKAGE-SAFE split: train/holdout assigned by dedup CLUSTER rather
    * than by document — every member of a near-dup cluster hashes on
    * its cluster id, so near-duplicates can never straddle the
    * boundary. The structural fix the [[splitLeakage]] audit motivates
    * (Lee et al. 2022's dedup-before-split recommendation, kept
    * deterministic by the same sha256 rule as [[TextOps.hashSplit]]).
    * Another consumer of the memoized cluster map — one projection, no
    * corpus pass.
    */
  def clusterSplit(s: SparkSession, dir: String): DataFrame =
    dedupClusters(s, dir)
      .select(col("doc_id"), col("cluster_id"),
        TextOps.splitLabel(col("cluster_id"), SplitSalt, SplitPctTrain)
          .as("split"))

  /** Dedup keep-list: one survivor per cluster (the minimum doc id) with
    * the member count it represents — the final materialization of the
    * sweep; the third consumer of the session-memoized pair pipeline, so
    * it costs one rollup, not a third corpus pass.
    */
  def dedupKeep(s: SparkSession, dir: String): DataFrame =
    dedupClusters(s, dir)
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"))
      .select(col("cluster_id").as("doc_id"), col("n_members"))

  /** Priority-aware cluster resolution: one survivor per dedup cluster,
    * chosen by QUALITY (highest [[lmScore]], doc_id tie-break) instead of
    * positional min-id — when near-dups differ (one clean copy, one
    * boilerplate-wrapped), the keep-list should retain the best copy,
    * not the one with the smallest id. Unscored docs (<2 tokens) rank
    * below every scored one via a -1.0 sentinel (scores are positive),
    * spelled identically in the oracle's `coalesce(lm_score, -1.0)`.
    *
    * Scale shape: two memoized inputs (cluster map, LM table) joined on
    * doc_id, then ONE cluster-keyed hash aggregate — the argmax is
    * `min(struct(-score, doc_id))`, which partial-aggregates map-side;
    * no window, no global sort. `promoted` flags clusters where quality
    * overrode the min-id choice.
    */
  def dedupKeepBest(s: SparkSession, dir: String): DataFrame =
    MinHashDedup.keepBest(dedupClusters(s, dir),
      lmScore(s, dir).select(col("doc_id"), col("lm_score")), "lm_score")

  /** Cross-source near-dup leakage matrix: verified near-dup pairs
    * (jaccard ≥ 0.5) bucketed by unordered source pair — the
    * "which feeds duplicate each other" audit a corpus mixture needs
    * before mixing weights mean anything. FOURTH consumer of the
    * session-memoized pair table: the pairs side is a sliver, so AQE
    * broadcasts it onto the (doc_id, source) projection and the corpus
    * pays two broadcast joins, no corpus-side shuffle.
    */
  def sourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    sharedPairs(s, dir).filter(col("jaccard") >= 0.5)
      .join(docs.select(col("doc_id").as("doc_a"), col("source").as("__sa")), Seq("doc_a"))
      .join(docs.select(col("doc_id").as("doc_b"), col("source").as("__sb")), Seq("doc_b"))
      .select(least(col("__sa"), col("__sb")).as("source_a"),
        greatest(col("__sa"), col("__sb")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Incremental dedup — every 5th document plays the NEW daily batch,
    * deduped against the corpus without ever expanding old×old pairs
    * (see [[MinHashDedup.incrementalNewKeep]]). Same k/bucketCap/threshold
    * as the full sweep, so the decisions agree with [[dedupKeep]] where
    * they overlap.
    */
  def incrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val isNew = col("doc_id") % 5 === 4
    // old-side signatures come from the session-memoized signature table
    // (the stored-signature-table production shape: the batch pays its
    // own minhash pass, the corpus side is a narrow read) — the same
    // frame the full-sweep pair memo builds from
    // the new/old predicate is a pure function of doc_id, which the
    // signature table carries — filter it directly, no join back to docs
    val stored = MinHashDedup.signaturesShared(docs,
        corpusKey = s"$dir/documents", "doc_id", "text", k = 16)
      .filter(!isNew)
    MinHashDedup.incrementalNewKeep(docs, "doc_id", "text",
      k = 16, bucketCap = 50, isNew = isNew, threshold = 0.5,
      storedSigs = Some(stored))
  }

  // exact-substring dedup: minimum duplicated span length in tokens
  // (Lee et al. use 50 BPE tokens at web scale; 8 splits the synthetic
  // 10-99-token corpus meaningfully — 47 spans at sf0.01)
  val SubstringMinTokens = 8

  /** Maximal cross-document duplicated token spans (≥ [[SubstringMinTokens]]
    * tokens, arbitrary boundaries) — the Lee-et-al exact-substring dedup
    * modality (see [[graft.llm.SubstringDedup]]). Session-memoized: the
    * stats rollup (`q_substring_stats`) reads the same span sliver.
    */
  def substringDedup(s: SparkSession, dir: String): DataFrame =
    SessionMemo.cached(s, s"substrspans:$dir:$SubstringMinTokens")(
      graft.llm.SubstringDedup.substringSpans(Tables.documents(s, dir),
        "doc_id", "text", minSpanTokens = SubstringMinTokens))

  /** [[substringDedup]] with the corpus-wide shuffle keyed by
    * xxhash64(gram) — the 100 TB shuffle-bytes lever; shares the
    * text-keyed oracle (identical output absent a 64-bit collision).
    * Deliberately NOT memo-shared: the point is exercising the hashed
    * path end-to-end.
    */
  def substringDedupHashed(s: SparkSession, dir: String): DataFrame =
    graft.llm.SubstringDedup.substringSpansHashed(Tables.documents(s, dir),
      "doc_id", "text", minSpanTokens = SubstringMinTokens)

  /** The composed TRAINING-MIX pipeline: temperature mixture weights
    * ([[mixtureWeights]]' `w_temp`) allocate the global
    * [[MixTokenBudget]] across sources; each source's allocation is
    * filled deterministically in sha256(id ∥ salt) rank order (the
    * [[tokenBudgetSample]] rule with a per-source budget); the selected
    * documents then pack into training sequences via the distributed
    * prefix-sum ([[packSequences]]' machinery). Every stage reuses its
    * standalone operator's constants and rank key, so the composition
    * cannot diverge from the parts.
    *
    * Scale shape: one source-keyed window exchange for the budget fill
    * (rank-bounded map-side by the global budget — a doc has ≥ 1 token,
    * so rank > budget can never fit), then the pack prefix-sum over the
    * budget-bounded survivor slice; the mixture weights and per-source
    * budgets are a broadcast-sized rollup.
    */
  def trainingMix(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    val budgets = graft.llm.Selection.mixtureWeights(docs, "source", "text")
      .select(col("source"),
        floor(col("w_temp") * lit(MixTokenBudget.toDouble)).cast("long")
          .as("__sb"))
    val key = sha2(concat(col("doc_id").cast("string"), lit(SplitSalt)), 256)
    val w = Window.partitionBy("source").orderBy(col("__k"), col("doc_id"))
    // survivors feed BOTH the packer and the source-attribution join —
    // persist the budget-bounded sliver (≤ MixTokenBudget docs)
    val sel = CacheBin.register(docs
      .select(col("doc_id"), col("source"),
        size(graft.llm.TextOps.tokens(col("text"))).cast("long").as("n_tokens"),
        key.as("__k"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= MixTokenBudget)
      .withColumn("cum_tokens", sum(col("n_tokens"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(broadcast(budgets), Seq("source"))
      .filter(col("cum_tokens") <= col("__sb"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    Packing.packSequencesBy(sel, "doc_id", "n_tokens", budget = PackBudget)
      .join(broadcast(sel.select(col("doc_id"), col("source"))), Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("start_offset"), col("seq_id"))
  }

  /** Sliding-window RAG chunking: [[RagWindow]]-token chunks every
    * [[RagStride]] tokens with 1-based offsets back into the document
    * (see [[graft.llm.TextOps.chunkWindows]] — entirely scan-local).
    */
  def chunkWindows(s: SparkSession, dir: String): DataFrame =
    TextOps.chunkWindows(Tables.documents(s, dir), "doc_id", "text",
      window = RagWindow, stride = RagStride)

  /** kNN label classification of the ANN query slice against the corpus
    * (see [[graft.llm.Similarity.knnLabel]]); same query/depth
    * conventions as [[cosineTopK]].
    */
  def knnLabel(s: SparkSession, dir: String): DataFrame =
    Similarity.knnLabel(Tables.embeddings(s, dir), "vec_id", "embedding",
      "label", isQuery = col("vec_id") < AnnNumQueries, k = AnnTopK)

  /** Tokenizer fertility audit on the learned BPE: per source, BPE
    * tokens per word and chars per BPE token — exact BIGINT sums with
    * single double divisions; rides [[bpeTokenCounts]].
    */
  def bpeFertility(s: SparkSession, dir: String): DataFrame =
    bpeTokenCounts(s, dir)
      .join(Tables.documents(s, dir).select("doc_id", "source", "n_chars"),
        Seq("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_bpe_tokens")).as("n_bpe_tokens"),
        sum(col("n_chars")).as("n_chars"))
      .select(col("source"), col("n_docs"), col("n_words"),
        col("n_bpe_tokens"), col("n_chars"),
        (col("n_bpe_tokens").cast("double") / col("n_words").cast("double"))
          .as("fertility"),
        (col("n_chars").cast("double") / col("n_bpe_tokens").cast("double"))
          .as("chars_per_token"))

  /** Embedding-space decontamination against the benchmark slice — the
    * semantic complement of [[decontaminate]]; same eval-id convention
    * ([[DeconBenchmarkMaxId]]), cosine floor [[SemanticDeconTau]].
    */
  def decontaminateSemantic(s: SparkSession, dir: String): DataFrame =
    Similarity.semanticDecon(Tables.embeddings(s, dir), "vec_id", "embedding",
      isEval = col("vec_id") < DeconBenchmarkMaxId, threshold = SemanticDeconTau)

  /** BM25 more-like-this retrieval: top-k corpus documents per query,
    * queries drawn from the first documents' leading distinct terms
    * (see [[graft.llm.Bm25.moreLikeThis]] for the determinism-safe
    * rational-idf form).
    */
  def bm25TopK(s: SparkSession, dir: String): DataFrame =
    SessionMemo.cached(s, s"bm25:$dir") {
      graft.llm.Bm25.moreLikeThis(Tables.documents(s, dir), "doc_id", "text",
        nQueries = Bm25NQueries, queryTerms = Bm25QueryTerms,
        k1 = Bm25K1, b = Bm25B, topK = Bm25TopK)
    }

  // postings-index bucket count: vocabulary cardinality never becomes
  // directory cardinality — buckets do (pruned reads touch only the
  // query terms' buckets)
  val Bm25IndexBuckets = 64

  /** BM25 over a MATERIALIZED postings index: full postings bucketed by
    * term hash on disk, query-time reads pruned to the query terms'
    * buckets at the file listing (see [[graft.llm.Bm25.topKFromIndex]]).
    * Same parameters as [[bm25TopK]], so the two share one oracle — what
    * changes is where the corpus text pass lives (amortized into the
    * stored index), exactly as [[ivfTopKIndexed]] does for the dense
    * plane.
    */
  /** /tmp working dir for a session-built commit-log artifact, keyed by
    * applicationId (two concurrent drivers — bench + test suite — must
    * never share or Overwrite each other's directories) AND a
    * source-file content stamp (an exists() rebuild guard must never
    * serve an artifact built from a previous testdata generation in the
    * same JVM). One definition — the stamping scheme changes in one
    * place, not per artifact.
    */
  private def stampedTmpDir(s: SparkSession, dir: String, prefix: String,
      table: String): String =
    s"/tmp/$prefix/" + s.sparkContext.applicationId + "-" +
      java.security.MessageDigest.getInstance("MD5")
        .digest((dir + Tables.tableStamp(dir, table)).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(12)

  def bm25TopKIndexed(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // applicationId-scoped for the same concurrent-driver reason as
    // ivfTopKIndexed's index directory
    val idxDir = "/tmp/graft-bm25-index/" + s.sparkContext.applicationId +
      "-" + java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString
    SessionMemo.once(s, s"bm25index:$dir") {
      graft.llm.Bm25.indexWrite(docs, "doc_id", "text", idxDir,
        Bm25IndexBuckets)
    }
    graft.llm.Bm25.topKFromIndex(docs, "doc_id", "text", idxDir,
      Bm25IndexBuckets, Bm25NQueries, Bm25QueryTerms, Bm25K1, Bm25B, Bm25TopK,
      qtIn = Some(bm25QueryTermsShared(s, dir)))
  }

  /** Session-memoized BM25 query-term table — every indexed/maintained
    * read derives the identical table from the identical query docs, so
    * it builds once per (session, corpus) instead of once per sample.
    */
  private def bm25QueryTermsShared(s: SparkSession, dir: String): DataFrame =
    SessionMemo.cached(s, s"bm25qt:$dir")(
      graft.llm.Bm25.queryTerms(Tables.documents(s, dir), "doc_id", "text",
        Bm25NQueries, Bm25QueryTerms))

  /** BM25 over an incrementally MAINTAINED commit-log postings index:
    * the corpus arrives as two batches, each committed atomically with
    * its own corpus-stat row (stats are additive — the append never
    * reads old postings), then the term buckets are bin-packed by an
    * OPTIMIZE commit. Postings and document stats are per-document
    * facts, so the maintained index is result-identical to the fresh
    * build and the two share one oracle verbatim (see
    * [[graft.llm.Bm25.indexLogAppend]]).
    */
  def bm25TopKMaintained(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val n = Tables.rowCount(s, dir, "documents")
    val split = math.max(Bm25NQueries + 1, n * 3 / 5)
    val idxDir = stampedTmpDir(s, dir, "graft-bm25-log", "documents")
    SessionMemo.once(s, s"bm25log:$dir") {
      if (!graft.tables.CommitLogTable.exists(idxDir)) {
        graft.llm.Bm25.indexLogAppend(s, idxDir,
          docs.filter(col("doc_id") < split), "doc_id", "text",
          Bm25IndexBuckets)
        graft.llm.Bm25.indexLogAppend(s, idxDir,
          docs.filter(col("doc_id") >= split), "doc_id", "text",
          Bm25IndexBuckets)
        graft.tables.CommitLogTable.open(s, idxDir)
          .compact(targetFileBytes = 32L << 20)
      }
    }
    graft.llm.Bm25.topKFromLog(docs, "doc_id", "text",
      graft.tables.CommitLogTable.open(s, idxDir), Bm25IndexBuckets,
      Bm25NQueries, Bm25QueryTerms, Bm25K1, Bm25B, Bm25TopK,
      qtIn = Some(bm25QueryTermsShared(s, dir)))
  }

  /** Hard-negative mining for retriever training: each query's dense
    * cosine top-k neighbors that its BM25 list does NOT contain —
    * semantically close but lexically unmatched, the classic
    * contrastive-training negative. Anti-join of two top-k-bounded
    * lists (O(queries × k) rows); rides the memoized [[bm25TopK]].
    */
  def hardNegatives(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dense = Similarity.cosineTopK(Tables.embeddings(s, dir),
        "vec_id", "embedding",
        isQuery = col("vec_id") < Bm25NQueries, k = Bm25TopK)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("cosine"), col("rank").as("dense_rank"))
    val sparse = bm25TopK(s, dir).select("query_id", "doc_id")
    dense.join(sparse, Seq("query_id", "doc_id"), "left_anti")
      .withColumn("neg_rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("dense_rank"))))
      .select(col("query_id"), col("doc_id"), col("cosine"),
        col("dense_rank").cast("int").as("dense_rank"),
        col("neg_rank").cast("int").as("neg_rank"))
  }

  /** Hybrid retrieval: reciprocal-rank fusion of the BM25 sparse lists
    * with dense cosine top-k over the same query ids — rides the
    * memoized [[bm25TopK]] table, so the corpus text pass runs once for
    * both consumers.
    */
  def hybridRrf(s: SparkSession, dir: String): DataFrame = {
    val sparse = bm25TopK(s, dir).select("query_id", "doc_id", "rank")
    val dense = Similarity.cosineTopK(Tables.embeddings(s, dir),
        "vec_id", "embedding",
        isQuery = col("vec_id") < Bm25NQueries, k = Bm25TopK)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    graft.llm.Bm25.rrfFuse(sparse, dense, k0 = RrfK0, topK = Bm25TopK)
  }

  /** APPLY the substring dedup (the Lee-et-al cut): later copies of
    * duplicated spans are removed, the corpus-first occurrence survives
    * (see [[graft.llm.SubstringDedup.substringCut]]).
    */
  def substringCut(s: SparkSession, dir: String): DataFrame =
    graft.llm.SubstringDedup.substringCut(Tables.documents(s, dir),
      "doc_id", "text", minSpanTokens = SubstringMinTokens)

  /** Per-document duplicated-text audit over the span sliver (every doc,
    * zero-filled): the "is the cut worth running" rollup. Rides the
    * memoized span table — costs one sliver join, not a second gram pass.
    */
  def substringStats(s: SparkSession, dir: String): DataFrame =
    graft.llm.SubstringDedup.substringDupStats(Tables.documents(s, dir),
      "doc_id", "text", minSpanTokens = SubstringMinTokens,
      spans = Some(substringDedup(s, dir)))

  /** Per-doc distinctive term (lowest document frequency, exact integer
    * tie-breaks — see [[TextOps.distinctiveTerms]]).
    */
  def distinctiveTerms(s: SparkSession, dir: String): DataFrame =
    TextOps.distinctiveTerms(Tables.documents(s, dir), "doc_id", "text")

  /** Embedding outliers: the 20 vectors farthest from their assigned IVF
    * centroid (squared L2) — the noise/junk filter of the embedding
    * plane (far from every cluster ⇒ likely garbage, mis-embedding, or
    * genuinely novel content worth a look). Plans as
    * TakeOrderedAndProject over the assignment: per-partition top-k
    * heaps, 20 rows to the driver — never a global sort.
    */
  def embedOutliers(s: SparkSession, dir: String): DataFrame =
    ivfAssign(s, dir)
      .orderBy(col("dist2").desc, col("vec_id").asc)
      .limit(20)

  /** Dedup sweep executive summary — one row per stage of the sweep
    * (corpus size, exact-dup groups, verified near-dup pairs, clusters
    * kept): the rollup an operator reads before/after a 100 TB dedup
    * run. Every stage rides an already-memoized or single-agg frame, so
    * the whole table costs four tiny aggregates.
    */
  def dedupSummary(s: SparkSession, dir: String): DataFrame = {
    def one(stage: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n")).select(lit(stage).as("stage"), col("n"))
    one("docs", Tables.documents(s, dir))
      .unionAll(one("exact_dup_groups",
        docsExactDedup(s, dir).filter(col("n_copies") > 1)))
      .unionAll(one("near_dup_pairs",
        sharedPairs(s, dir).filter(col("jaccard") >= 0.5)))
      .unionAll(one("clusters_kept", dedupKeep(s, dir)))
  }

  /** Session-memoized (doc_id, fingerprint) table at one width — the
    * sha256-per-token SimHash pass is the expensive part of every
    * simhash consumer, and the banded self-join previously recomputed
    * it on BOTH join sides (the broadcast build side defeats exchange
    * reuse). One fingerprint pass per (session, corpus, width) now
    * serves q_simhash[64], both hamming sweeps, and the bucket audit —
    * the same materialize-once shape as `MinHashDedup.signaturesShared`
    * (at 100 TB the fingerprint table is materialized next to the
    * corpus for exactly this reason).
    */
  private def simhashShared(s: SparkSession, dir: String, bits: Int): DataFrame =
    SessionMemo.cached(s, s"simhash:$dir:$bits") {
      SimHash.hashes(Tables.documents(s, dir), "doc_id", "text", bits)
    }

  def simhash(s: SparkSession, dir: String): DataFrame =
    simhashShared(s, dir, 32)

  /** 64-bit SimHash — the production width (16-bit bands don't saturate). */
  def simhash64(s: SparkSession, dir: String): DataFrame =
    simhashShared(s, dir, 64).select(col("doc_id"),
      col("simhash").as("simhash64"))

  /** 64-bit hamming near-dup pairs over 4×16-bit bands. */
  def simhashHamming64(s: SparkSession, dir: String): DataFrame =
    SimHash.hammingPairsOn(simhashShared(s, dir, 64), "doc_id", "simhash",
      maxHamming = 3, bucketCap = 10000, bits = 64)

  /** Band-bucket occupancy audit for the 64-bit simhash sweep (same
    * width and cap as `q_simhash64_hamming`; see
    * [[SimHash.bandCoverage]]) — the scale probe's one superlinear
    * plane, so this is the audit to watch across corpus growth.
    */
  def simhashBucketStats(s: SparkSession, dir: String): DataFrame =
    SimHash.bandCoverage(simhashShared(s, dir, 64),
      "doc_id", "simhash", bucketCap = 10000, bits = 64)

  def textStats(s: SparkSession, dir: String): DataFrame =
    TextOps.textStats(Tables.documents(s, dir), "doc_id", "text")

  def fingerprint(s: SparkSession, dir: String): DataFrame =
    TextOps.fingerprint(Tables.documents(s, dir), "doc_id", "text")

  /** Unit-normalized embeddings (cosine ⇒ dot product downstream),
    * exploded per element so the oracle compares exact scalars.
    */
  def l2Normalize(s: SparkSession, dir: String): DataFrame =
    Similarity.l2NormalizeFlat(Tables.embeddings(s, dir), "vec_id", "embedding")

  /** Eval-set leakage scan: a FIXED 10-document slice stands in as the
    * held-out benchmark (bounded by construction — the broadcast side must
    * not grow with the corpus); docs sharing ≥ 3 distinct word-3-grams
    * with it are flagged with their overlap counts. Session-memoized:
    * `q_decontaminate` and `q_curate` both consume it, and the corpus gram
    * scan should run once per session, not once per consumer.
    */
  def decontaminate(s: SparkSession, dir: String): DataFrame =
    SessionMemo.cached(s, s"decon:$dir:$DeconN:$DeconMinOverlap") {
      val docs = Tables.documents(s, dir)
      TextOps.decontaminate(docs, "doc_id", "text",
        docs.filter(col("doc_id") < DeconBenchmarkMaxId), "doc_id", "text",
        n = DeconN, minOverlap = DeconMinOverlap)
    }

  /** The 100 TB decontamination shape: Bloom-prefiltered corpus gram
    * stream + exact confirm join (see [[graft.llm.BloomDecon]]). No false
    * negatives ⇒ result identical to [[decontaminate]] — the oracle SQL is
    * shared verbatim. Deliberately NOT memo-shared with `q_decontaminate`:
    * the point of the query is exercising the bloom path end-to-end.
    */
  def decontaminateBloom(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    BloomDecon.decontaminateBloom(docs, "doc_id", "text",
      docs.filter(col("doc_id") < DeconBenchmarkMaxId), "doc_id", "text",
      n = DeconN, minOverlap = DeconMinOverlap)
  }

  /** Sequence packing over the corpus in doc_id order at a 2048-token
    * budget — distributed prefix-sum, no global-window single-task sort
    * (see [[graft.llm.Packing]]).
    */
  def packSequences(s: SparkSession, dir: String): DataFrame =
    // session-memoized: the distributed prefix-sum serves the packing
    // query, the sequence manifest, and the shard-balance rollup
    SessionMemo.cached(s, s"packseq:$dir")(
      Packing.packSequences(Tables.documents(s, dir), "doc_id", "text",
        budget = PackBudget))

  /** Per-sequence MANIFEST: where each document lands inside its
    * training sequence — intra-sequence offset and whether the document
    * straddles the boundary into the next sequence (the dataloader needs
    * exactly this map to reconstruct document spans from packed token
    * streams). Pure integer projections over [[packSequences]]' offsets.
    */
  def sequenceManifest(s: SparkSession, dir: String): DataFrame =
    packSequences(s, dir)
      .select(col("seq_id"), col("doc_id"),
        (col("start_offset") - col("seq_id") * PackBudget).as("offset_in_seq"),
        col("n_tokens"),
        (col("start_offset") + col("n_tokens") >
          (col("seq_id") + 1) * PackBudget).as("spans_boundary"))

  /** Shard balance table: the round-robin-on-seq_id shard assignment
    * [[graft.llm.Packing.writeShards]] uses, rolled up per shard — docs,
    * distinct sequences, token volume. The "are my training shards
    * actually balanced" audit; rides the same prefix-sum packing.
    */
  def shardBalance(s: SparkSession, dir: String): DataFrame =
    packSequences(s, dir)
      .groupBy((col("seq_id") % NShards).as("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("seq_id")).as("n_seqs"),
        sum(col("n_tokens")).as("n_tokens_total"))

  /** Per-label centroid drift between the even/odd vec_id halves standing
    * in as consecutive snapshots (see [[Similarity.labelDrift]]).
    */
  def embedDrift(s: SparkSession, dir: String): DataFrame =
    Similarity.labelDrift(Tables.embeddings(s, dir), "vec_id", "embedding",
      "label", isNew = col("vec_id") % 2 === 1)

  /** Embedding-space label coherence: confusion table of true vs
    * nearest-label-centroid labels (see [[Similarity.labelCoherence]]).
    */
  def labelCoherence(s: SparkSession, dir: String): DataFrame =
    Similarity.labelCoherence(Tables.embeddings(s, dir), "vec_id",
      "embedding", "label")

  /** Language-ID confusion: predicted vs labeled language
    * (see [[TextOps.langConfusion]]).
    */
  def langConfusion(s: SparkSession, dir: String): DataFrame =
    TextOps.langConfusion(Tables.documents(s, dir), "text", "lang")

  /** Corpus vocabulary heavy hitters (top 100 tokens by occurrence,
    * token-tie-broken; see [[TextOps.vocabTopK]]).
    */
  def vocabTopK(s: SparkSession, dir: String): DataFrame =
    TextOps.vocabTopK(Tables.documents(s, dir), "doc_id", "text", k = VocabK)

  /** PII redaction + per-category audit counts over the seeded corpus
    * (see [[seededDocs]] for why seeding is needed at all).
    */
  def piiScrub(s: SparkSession, dir: String): DataFrame =
    TextOps.scrubPii(seededDocs(s, dir), "doc_id", "text")

  /** Corpus-mixture rebalancing: at most 30 docs per source, hash-ranked
    * (deterministic; see [[TextOps.stratifiedSample]]).
    */
  def stratifiedSample(s: SparkSession, dir: String): DataFrame =
    TextOps.stratifiedSample(
      Tables.documents(s, dir).select("doc_id", "source"),
      "doc_id", "source", perStratum = SamplePerStratum, salt = SplitSalt)

  /** Token-budgeted mixture sampling: ~400 tokens per source in
    * deterministic hash order (see [[TextOps.tokenBudgetSample]]).
    */
  def tokenBudgetSample(s: SparkSession, dir: String): DataFrame =
    TextOps.tokenBudgetSample(Tables.documents(s, dir), "doc_id", "source",
      "text", budget = SampleTokenBudget, salt = SplitSalt)

  /** Deterministic 90/10 corpus split keyed on sha256(doc_id ∥ salt). */
  def hashSplit(s: SparkSession, dir: String): DataFrame =
    TextOps.hashSplit(Tables.documents(s, dir).select("doc_id", "source"),
      "doc_id", salt = SplitSalt, pctTrain = SplitPctTrain)

  /** The END-TO-END curation pipeline, composed from the verified stages:
    * keep documents that (1) pass the quality envelope, (2) represent
    * their near-dup cluster (the MinHash keep-list — rides the session
    * memo, so the expensive pipeline is shared with the dedup queries),
    * and (3) are not eval-contaminated; then (4) scrub PII over the
    * SURVIVORS only (dropped docs never pay the regex cascade; seeded
    * text so the scrub is genuinely exercised cross-engine) and (5)
    * assign the deterministic train/holdout split. Output is the training
    * corpus a user of the reference would materialize:
    * (doc_id, clean, split).
    */
  def curate(s: SparkSession, dir: String): DataFrame = {
    val reps = dedupKeep(s, dir).select("doc_id")
    val contaminated = decontaminate(s, dir).select("doc_id")
    // the quality gate is FUSED into the curation scan: stats on the
    // ORIGINAL text and the seeded text ride one projection, and the keep
    // predicate (the shared TextOps.qualityKeep — same thresholds as
    // q_quality_gate) filters in-scan. The previous shape ran a second
    // corpus scan through qualityGate and semi-joined it back — one whole
    // scan + exchange for a predicate the first scan can evaluate.
    // stats evaluate on the ORIGINAL text (as q_quality_gate and the
    // oracle do); the PII-seeded text is a sibling column of the same scan
    val stats = TextOps.textStatCols(col("text")).toMap
    val kept = Tables.documents(s, dir)
      .select(col("doc_id"),
        seededTextCol.as("__seeded"),
        TextOps.qualityKeep(
          stats("n_tokens"), stats("stop_ratio"), stats("uniq_ratio"),
          QualityMinTokens, QualityMaxTokens,
          QualityMinStopRatio, QualityMinUniqRatio).as("__keep"))
      .filter(col("__keep"))
      .select(col("doc_id"), col("__seeded").as("text"))
      .join(reps, Seq("doc_id"), "left_semi")
      .join(contaminated, Seq("doc_id"), "left_anti")
    // the split is a PURE PROJECTION on doc_id (TextOps.hashSplit), so it
    // rides the scrub output as a column — deriving it from a second
    // reference to `kept` and joining back (the previous shape) executed
    // the join subtree TWICE (Spark does not share common subplans) and
    // paid a shuffle join for what one sha256 per row computes in place.
    // Scrub still runs on SURVIVORS only: the dropped majority never pays
    // the regex cascade.
    TextOps.hashSplit(
        TextOps.scrubPii(kept, "doc_id", "text").select(col("doc_id"), col("clean")),
        "doc_id", salt = SplitSalt, pctTrain = SplitPctTrain)
      .select(col("doc_id"), col("clean"), col("split"))
  }

  /** Word-3-gram repetition profile — the boilerplate/spam signal beside
    * [[qualityGate]]'s envelope checks.
    */
  def repetition(s: SparkSession, dir: String): DataFrame =
    TextOps.repetitionStats(Tables.documents(s, dir), "doc_id", "text", n = 3)

  /** Training-data curation gate: thresholds chosen to split the synthetic
    * corpus meaningfully (token span 10–99, median stop_ratio ≈ 0.06).
    */
  def qualityGate(s: SparkSession, dir: String): DataFrame =
    TextOps.qualityGate(Tables.documents(s, dir), "doc_id", "text",
      minTokens = QualityMinTokens, maxTokens = QualityMaxTokens,
      minStopRatio = QualityMinStopRatio, minUniqRatio = QualityMinUniqRatio)

  // ---- shared IVF-plane model state (session-memoized, like the MinHash
  // pair table): ONE lowest-id ⌈√n⌉ codebook and ONE fused corpus
  // assignment serve q_ivf_topk's corpus side, q_embed_neardup's blocking,
  // and q_ivf_topk_indexed's index write — three corpus×codebook
  // assignment passes collapse into one. At 100 TB this is "the
  // assignment IS the index": materialize once, serve every query.

  private def ivfK(s: SparkSession, dir: String): Int =
    math.max(1, math.ceil(math.sqrt(
      Tables.rowCount(s, dir, "embeddings").toDouble)).toInt)

  private def ivfCentroidsShared(s: SparkSession, dir: String): DataFrame =
    SessionMemo.cached(s, s"ivfcents:$dir") {
      Tables.embeddings(s, dir).orderBy(col("vec_id")).limit(ivfK(s, dir))
        .select(col("vec_id"), col("embedding"))
    }

  private def ivfAssignedShared(s: SparkSession, dir: String): DataFrame =
    Similarity.assignedCorpusShared(Tables.embeddings(s, dir),
      corpusKey = s"$dir/embeddings", "vec_id", "embedding",
      ivfCentroidsShared(s, dir), codebookKey = s"low${ivfK(s, dir)}",
      extraCols = Seq("label"))

  /** Session-memoized (50 rows): `q_cosine_topk` returns it and
    * `q_ann_recall` reads it as the ground-truth side — the exact
    * brute-force pass runs once per session.
    */
  def cosineTopK(s: SparkSession, dir: String): DataFrame =
    SessionMemo.cached(s, s"cosinetopk:$dir")(
      Similarity.cosineTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
        isQuery = col("vec_id") < AnnNumQueries, k = AnnTopK))

  /** Int8 quantize-then-rerank ANN: exact-integer coarse scores prune to a
    * 4×k pool, decimal-exact cosine re-ranks — the 4×-smaller-storage scale
    * lever beside IVF (and composable with it within inverted lists).
    */
  def quantTopK(s: SparkSession, dir: String): DataFrame =
    Quantize.quantizedTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
      isQuery = col("vec_id") < AnnNumQueries, k = AnnTopK, rerankFactor = 4)

  /** Coarse assignment against the fixed 16-centroid codebook —
    * session-memoized (3 narrow columns per vector): `q_embed_outliers`
    * orders the same table, so the crossJoin argmin runs once for both.
    */
  def ivfAssign(s: SparkSession, dir: String): DataFrame =
    SessionMemo.cached(s, s"ivfassign16:$dir") {
      Similarity.ivfAssign(Tables.embeddings(s, dir), "vec_id", "embedding",
        isCentroid = col("vec_id") < 16)
    }

  /** IVF inverted-list balance audit over the shared assignment memo —
    * the ANN-plane member of the cap-audit family: probe latency at
    * scale is governed by list SKEW (a probe touching the fattest list
    * pays max_list, not avg_list), and a skew drifting up across
    * ingests says the centroids no longer span the data. One
    * corpus-size-invariant row: list count, vector count, min/max/avg
    * list size, and `skew` = max/avg.
    */
  def ivfListBalance(s: SparkSession, dir: String): DataFrame =
    ivfAssign(s, dir)
      .groupBy(col("centroid_id")).agg(count(lit(1)).as("n"))
      .agg(
        count(lit(1)).as("n_lists"),
        sum(col("n")).as("n_vectors"),
        min(col("n")).as("min_list"),
        max(col("n")).as("max_list"))
      .select(col("n_lists"), col("n_vectors"), col("min_list"),
        col("max_list"),
        (col("n_vectors").cast("double") / col("n_lists")).as("avg_list"),
        (col("max_list").cast("double") * col("n_lists") / col("n_vectors"))
          .as("skew"))

  /** The classifier's feature frame: four scan-local text statistics
    * (all exact-integer counts with single float divisions, so the frame
    * is bit-identical in any engine) plus the v1-quality-gate label. The
    * classifier DISTILLS the rule gate into a soft score — the standard
    * move when the gate is too expensive to run everywhere or a
    * calibrated score (not a boolean) is needed downstream.
    */
  private def classifierFeats(s: SparkSession, dir: String): DataFrame = {
    val stats = TextOps.textStatCols(col("text")).toMap
    val (_, avgTokLen, _, _) = TextOps.gopherSignals(col("text"))
    val qk = TextOps.qualityKeep(stats("n_tokens"), stats("stop_ratio"),
      stats("uniq_ratio"), QualityMinTokens, QualityMaxTokens,
      QualityMinStopRatio, QualityMinUniqRatio)
    // features centered at FIXED constants and ×4-scaled (fixed basis, no
    // data-dependent standardization pass), plus the squared length term
    // so the model can carve the [min,max]-token BAND a pure linear form
    // cannot express
    Tables.documents(s, dir).select(col("doc_id"),
      ((stats("stop_ratio") - lit(0.05)) * lit(4.0)).as("f1"),
      ((stats("uniq_ratio") - lit(0.5)) * lit(4.0)).as("f2"),
      ((least(stats("n_tokens"), lit(100L)).cast("double") / lit(100.0)
        - lit(0.5)) * lit(4.0)).as("f3"),
      ((avgTokLen / lit(10.0) - lit(0.5)) * lit(4.0)).as("f4"),
      when(qk, lit(1.0)).otherwise(lit(0.0)).as("y"))
      .withColumn("f5", col("f3") * col("f3"))
  }

  private val ClassifierFeatureNames =
    Seq("bias", "stop_ratio", "uniq_ratio", "len_feat", "avg_token_len",
      "len_feat_sq")

  /** Trained quality-classifier weights (session-memoized — the fit runs
    * once and both classifier queries read it). See [[classifierFeats]]
    * and [[graft.llm.Classifier]].
    */
  def qualityClassifier(s: SparkSession, dir: String): DataFrame =
    SessionMemo.cached(s, s"qclassifier:$dir") {
      // the fit runs `steps` SEQUENTIAL tiny aggregates over the cached
      // feature sliver, so per-step cost is task-launch overhead × the
      // partition count — coalesce the cache to a size-derived count
      // (~500k feature rows per task; 1 locally, thousands at corpus
      // scale) instead of inheriting the scan's split count (guide §2:
      // scale-adaptive partitioning). Gradient sums are quantized
      // BIGINTs — order-independent, so the weights are bit-identical
      // at any partitioning.
      val parts = math.max(1L,
        Tables.rowCount(s, dir, "documents") / 500000L).toInt
      val w = Classifier.trainLogistic(classifierFeats(s, dir).coalesce(parts),
        Seq("f1", "f2", "f3", "f4", "f5"), "y", ClassifierSteps, ClassifierLr)
      import s.implicits._
      ClassifierFeatureNames.zip(w).toDF("feature", "weight")
    }

  /** Every document scored by the trained classifier: quantized sigmoid
    * score, the ≥0.5 keep decision, and the rule label it distilled —
    * the score pass is scan-local with the weights inlined as literals.
    */
  def classifierScores(s: SparkSession, dir: String): DataFrame = {
    val byName = qualityClassifier(s, dir).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val w = ClassifierFeatureNames.map(byName)
    val (score, keep) = Classifier.scoreCols(w, Seq("f1", "f2", "f3", "f4", "f5"))
    classifierFeats(s, dir).select(col("doc_id"), score.as("score"),
      keep.as("pred_keep"), (col("y") === 1.0).as("label"))
  }

  // PCA parameters (see graft.llm.Pca): fixed-step power iteration —
  // the step count is part of the result's DEFINITION (both engines run
  // exactly PcaSteps steps; convergence is not tested)
  val PcaComponents = 2
  val PcaSteps = 16

  /** Session-memoized PCA fit over the embedding corpus: one row per
    * (component, dim), carrying the loading, the component eigenvalue,
    * and the per-dimension centering mean (see [[graft.llm.Pca]]). The
    * fit runs once; the projection query reads this frame driver-side.
    */
  def pcaComponents(s: SparkSession, dir: String): DataFrame =
    SessionMemo.cached(s, s"pca:$dir") {
      val emb = Tables.embeddings(s, dir)
      val dim = emb.select(size(col("embedding"))).head.getInt(0)
      val m = graft.llm.Pca.fit(emb, "embedding", dim, PcaComponents, PcaSteps)
      import s.implicits._
      (for {
        c <- 0 until PcaComponents
        j <- 0 until dim
      } yield (c + 1, j + 1, m.loadings(c)(j), m.eigenvalues(c), m.means(j)))
        .toDF("component", "dim_idx", "loading", "eigenvalue", "dim_mean")
    }

  /** Every embedding projected onto the fitted principal components —
    * the rotation in front of product quantization and the 2-d corpus
    * sketch. Scan-local: the loadings ride as literals; the only work is
    * one quantized dot product per component per row.
    */
  def pcaProject(s: SparkSession, dir: String): DataFrame = {
    val rows = pcaComponents(s, dir).collect()
    val dim = rows.map(_.getInt(1)).max
    val means = new Array[Double](dim)
    val loads = Array.ofDim[Double](PcaComponents, dim)
    val eigs = new Array[Double](PcaComponents)
    rows.foreach { r =>
      val c = r.getInt(0) - 1; val j = r.getInt(1) - 1
      loads(c)(j) = r.getDouble(2); eigs(c) = r.getDouble(3); means(j) = r.getDouble(4)
    }
    val model = graft.llm.Pca.Model(means, loads, eigs)
    Tables.embeddings(s, dir).select(
      col("vec_id") +: graft.llm.Pca.projectCols(model, "embedding"): _*)
  }

  /** Session-memoized 64-bit sign-LSH binary codes over the embedding
    * corpus (see [[Similarity.binaryCodes]]); the dim lookup reads one
    * row driver-side.
    */
  def embedBinary(s: SparkSession, dir: String): DataFrame =
    SessionMemo.cached(s, s"binarycodes:$dir") {
      val emb = Tables.embeddings(s, dir)
      val dim = emb.select(size(col("embedding"))).head.getInt(0)
      Similarity.binaryCodes(emb, "vec_id", "embedding", dim)
    }

  /** Binary-code coarse retrieval: top-k by hamming distance over the
    * 64-bit codes for the standard ANN query set — the production use
    * of sign-LSH codes (rank 8-byte codes first, spend float work only
    * on survivors). Ties break by neighbor id; the whole pass works on
    * two longs per pair, so the scan is 32× lighter than float cosine.
    */
  def binaryHammingTopK(s: SparkSession, dir: String): DataFrame = {
    val codes = embedBinary(s, dir)
    val queries = codes.filter(col("vec_id") < AnnNumQueries)
      .select(col("vec_id").as("query_id"), col("code64").as("__qc"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("hamming").asc, col("neighbor_id").asc)
    codes.select(col("vec_id").as("neighbor_id"), col("code64").as("__nc"))
      .crossJoin(broadcast(queries))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("hamming", expr("bit_count(__qc ^ __nc)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= AnnTopK)
      .select("query_id", "neighbor_id", "hamming", "rank")
  }

  /** Per-source lexical diversity: token volume, vocabulary size,
    * type-token ratio, Shannon unigram entropy (see
    * [[TextOps.sourceEntropy]] for the cross-engine quantization rule).
    */
  def sourceEntropy(s: SparkSession, dir: String): DataFrame =
    TextOps.sourceEntropy(Tables.documents(s, dir), "source", "text")

  /** Cluster-balanced diversity sample: at most [[ClusterSampleK]]
    * vectors per IVF cell, hash-ranked within the cell — the "cover the
    * embedding space, not the head clusters" sampling rule (the
    * cluster-stratified selection used when a proportional sample would
    * be dominated by the corpus's dense modes).
    *
    * Rides the session-memoized corpus assignment (zero extra corpus
    * pass); the per-cell quota applies map-side via WindowGroupLimit —
    * the same shape as [[stratifiedSample]], with the IVF cell as the
    * stratum. At 100 TB: the assignment is the materialized index, so
    * this is one rank-limited keyed shuffle over (vec_id, centroid_id).
    */
  def clusterSample(s: SparkSession, dir: String): DataFrame =
    TextOps.stratifiedSample(
      ivfAssignedShared(s, dir).select(col("vec_id"), col("centroid_id")),
      "vec_id", "centroid_id", perStratum = ClusterSampleK, salt = SplitSalt)

  /** Word-3-gram Jaccard on a deterministic candidate sample (adjacent doc
    * ids); the pair source is pluggable (LSH/blocking in production).
    */
  /** The session-memoized full n-gram overlap profile BOTH n-gram
    * queries read — the jaccard projection and the containment profile
    * previously each re-ran the gram explode + pair joins.
    */
  private def ngramOverlapShared(s: SparkSession, dir: String): DataFrame =
    SessionMemo.cached(s, s"ngramoverlap:$dir:3") {
      val docs = Tables.documents(s, dir)
      MinHashDedup.ngramOverlap(docs, "doc_id", "text", 3, adjacentPairs(docs))
    }

  def ngramJaccard(s: SparkSession, dir: String): DataFrame =
    ngramOverlapShared(s, dir).select("doc_a", "doc_b", "jaccard")

  private def adjacentPairs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").as("doc_a"))
      .join(docs.select(col("doc_id").as("doc_b")),
        col("doc_b") === col("doc_a") + 1)

  /** Full overlap profile (Jaccard + both containments) on the same
    * candidate sample — containment catches sub-document duplication
    * resemblance misses (see [[MinHashDedup.ngramOverlap]]).
    */
  def ngramContainment(s: SparkSession, dir: String): DataFrame =
    ngramOverlapShared(s, dir)

  /** Embedding-cosine near-dup pairs, blocked by IVF centroid + label.
    * Centroid count scales with the corpus (⌈√n⌉); mega-blocks capped.
    */
  /** Embedding near-dup pairs are session-memoized like the MinHash pair
    * table: the blocked self-join + exact cosine runs once and serves both
    * `q_embed_neardup` (the pairs) and `q_semdedup_keep` (their connected
    * components). The frame is pair-bounded (near-dups only) — cheap to pin.
    */
  def embedNearDup(s: SparkSession, dir: String): DataFrame =
    SessionMemo.cached(s, s"embedneardup:$dir")(
      Similarity.cosineNearDup(Tables.embeddings(s, dir), "vec_id", "embedding",
        "label", threshold = 0.2,
        assigned = Some(ivfAssignedShared(s, dir))))

  /** (centroid, label) block-occupancy audit for the embedding near-dup
    * gate (same blocking and cap as `q_embed_neardup`; see
    * [[Similarity.blockStats]]) — the embedding-plane cap audit.
    */
  def embedBlockStats(s: SparkSession, dir: String): DataFrame =
    Similarity.blockStats(ivfAssignedShared(s, dir), "label",
      blockCap = 10000)

  /** SEMANTIC split leakage: embedding near-dup pairs that straddle the
    * train/holdout boundary — the paraphrase-leakage twin of
    * [[splitLeakage]] (which audits textual near-dups). Third consumer
    * of the memoized pair table: one rollup over the pair sliver, no
    * corpus pass.
    */
  def semanticSplitLeakage(s: SparkSession, dir: String): DataFrame =
    embedNearDup(s, dir)
      .select(
        least(TextOps.splitLabel(col("vec_a"), SplitSalt, SplitPctTrain),
          TextOps.splitLabel(col("vec_b"), SplitSalt, SplitPctTrain))
          .as("split_a"),
        greatest(TextOps.splitLabel(col("vec_a"), SplitSalt, SplitPctTrain),
          TextOps.splitLabel(col("vec_b"), SplitSalt, SplitPctTrain))
          .as("split_b"))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_pairs"))

  /** SemDeDup keep-list: connected components over the embedding near-dup
    * pairs, one survivor (min vec id) per cluster with its member count —
    * the embedding twin of [[dedupKeep]] (semantic duplicates collapse to
    * a representative even when their TEXT shares nothing — paraphrases,
    * translations, re-renderings). Rides the shared IVF assignment
    * through [[embedNearDup]]; the CC stage is the same hybrid
    * union-find / label-propagation used for the MinHash sweep.
    */
  def semdedupKeep(s: SparkSession, dir: String): DataFrame =
    MinHashDedup.connectedComponents(
        Tables.embeddings(s, dir).select("vec_id"), "vec_id",
        embedNearDup(s, dir)
          .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"))
      .select(col("cluster_id").as("vec_id"), col("n_members"))

  /** Token-length histogram (decade buckets): the length distribution
    * behind packing budgets and curriculum mixes. One scan, #buckets
    * rows out — map-side partials make the shuffle negligible.
    */
  def lengthHistogram(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select((size(TextOps.tokens(col("text"))).cast("long")).as("__nt"))
      .groupBy((expr("__nt div 10") * 10).as("bucket_lo"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__nt")).as("n_tokens_total"))

  /** Per-source quality report: doc counts, quality-gate keep rate, token
    * volume, decimal-exact mean quality — the table mixture weights are
    * planned from. Stats and keep predicate are the same shared
    * fragments as [[qualityGate]]; scan-local stats then a #sources-row
    * rollup.
    */
  def sourceQuality(s: SparkSession, dir: String): DataFrame = {
    val stats = TextOps.textStatCols(col("text")).toMap
    Tables.documents(s, dir)
      .select(col("source"),
        stats("n_tokens").as("__nt"),
        stats("quality_score").as("__q"),
        TextOps.qualityKeep(
          stats("n_tokens"), stats("stop_ratio"), stats("uniq_ratio"),
          QualityMinTokens, QualityMaxTokens,
          QualityMinStopRatio, QualityMinUniqRatio)
          .cast("int").as("__keep"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__keep")).as("n_keep"),
        (sum(col("__keep")).cast("double") / count(lit(1))).as("keep_rate"),
        sum(col("__nt")).as("n_tokens_total"),
        (sum(col("__q").cast(DecimalType(18, 12))).cast("double") /
          count(lit(1))).as("avg_quality"))
  }

  /** SimHash near-dup pairs at hamming ≤ 1 (byte-band candidates, capped). */
  def simhashHamming(s: SparkSession, dir: String): DataFrame =
    SimHash.hammingPairsOn(simhashShared(s, dir, 32), "doc_id", "simhash",
      maxHamming = 1, bucketCap = 10000, bits = 32)

  /** IVF-probed ANN top-k: 5 query vectors, 3 probes, adaptive ⌈√n⌉
    * centroids — the bucketed scale path next to brute-force cosineTopK.
    */
  def ivfTopK(s: SparkSession, dir: String): DataFrame =
    // memoized (50 rows): returned by q_ivf_topk, read again by
    // q_ann_recall as the approximate side
    SessionMemo.cached(s, s"ivftopk:$dir")(
      Similarity.ivfTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
        isQuery = col("vec_id") < AnnNumQueries, k = AnnTopK, nProbe = AnnNProbe,
        centroids = Some(ivfCentroidsShared(s, dir)),
        assigned = Some(ivfAssignedShared(s, dir))))

  /** IVF top-k over a Lloyd-refined codebook (2 k-means rounds from the
    * lowest-id init): same probe/k parameters as [[ivfTopK]], better
    * centroid placement → higher recall at equal probe cost. The codebook
    * is session-memoized — model state trains once, every query probes it.
    */
  def ivfTopKKmeans(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val kc = math.max(1, math.ceil(math.sqrt(
      Tables.rowCount(s, dir, "embeddings").toDouble)).toInt)
    Similarity.ivfTopK(emb, "vec_id", "embedding",
      isQuery = col("vec_id") < AnnNumQueries, k = AnnTopK, nProbe = AnnNProbe,
      centroids = Some(Similarity.kmeansCentroidsShared(emb,
        corpusKey = s"$dir/embeddings", "vec_id", "embedding",
        k = kc, iters = 2)))
  }

  /** IVF top-k over a MATERIALIZED index — the true 100 TB ANN shape:
    * the corpus is written `partitionBy(centroid_id)` once per session
    * (stored codebook alongside), and each query scans only its probed
    * inverted-list DIRECTORIES (PartitionFilters prune at file listing).
    * Same centroids/probe/k parameters as [[ivfTopK]], so the two share
    * one oracle — what changes is WHERE the coarse structure lives (on
    * disk, amortized across queries) rather than what it computes.
    */
  def ivfTopKIndexed(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val n = Tables.rowCount(s, dir, "embeddings")
    // applicationId scopes the index to THIS JVM: two concurrent drivers
    // (bench + test suite) must not Overwrite the directory another is
    // mid-scan on. Within one app the write-once memo serializes access;
    // a production deployment gives the index a managed, versioned
    // location instead (see ivfIndexWrite's rebuild contract).
    val idxDir = "/tmp/graft-ivf-index/" + s.sparkContext.applicationId + "-" +
      java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString
    SessionMemo.once(s, s"ivfindex:$dir:$n") {
      Similarity.ivfIndexWrite(emb, "vec_id", "embedding", idxDir,
        centroids = Some(ivfCentroidsShared(s, dir)),
        assigned = Some(ivfAssignedShared(s, dir)))
    }
    Similarity.ivfTopKFromIndex(emb.filter(col("vec_id") < AnnNumQueries),
      "vec_id", "embedding", idxDir, k = AnnTopK, nProbe = AnnNProbe)
  }

  /** IVF top-k over an incrementally MAINTAINED commit-log index — the
    * lifecycle [[ivfTopKIndexed]]'s one-shot build skips: the corpus
    * arrives as two batches appended against the frozen codebook (each
    * append scans only its batch), then the inverted lists are
    * bin-packed by an atomic OPTIMIZE commit. Probe pruning happens on
    * the snapshot MANIFEST, so concurrent appends can't perturb a read.
    * Assignment against a fixed codebook is batch-independent, so the
    * maintained index is result-identical to the fresh build — the two
    * share one oracle verbatim.
    */
  def ivfTopKMaintained(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val n = Tables.rowCount(s, dir, "embeddings")
    val split = math.max(1L, n * 3 / 5)
    val idxDir = stampedTmpDir(s, dir, "graft-ivf-log", "embeddings")
    SessionMemo.once(s, s"ivflog:$dir:$n") {
      if (!graft.tables.CommitLogTable.exists(idxDir)) {
        val cents = ivfCentroidsShared(s, dir)
        Similarity.ivfLogAppend(s, idxDir,
          emb.filter(col("vec_id") < split), "vec_id", "embedding", cents)
        Similarity.ivfLogAppend(s, idxDir,
          emb.filter(col("vec_id") >= split), "vec_id", "embedding", cents)
        graft.tables.CommitLogTable.open(s, idxDir)
          .compact(targetFileBytes = 32L << 20)
      }
    }
    Similarity.ivfTopKFromLog(emb.filter(col("vec_id") < AnnNumQueries),
      "vec_id", "embedding", graft.tables.CommitLogTable.open(s, idxDir),
      ivfCentroidsShared(s, dir), k = AnnTopK, nProbe = AnnNProbe)
  }

  /** IVF × int8 composed retrieval: probe pruning + quantized coarse
    * scoring within the probed lists + exact rerank — the full ANN scale
    * stack (see [[graft.llm.Quantize.ivfQuantizedTopK]]); rides the
    * shared assignment/codebook.
    */
  def ivfQuantTopK(s: SparkSession, dir: String): DataFrame =
    Quantize.ivfQuantizedTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
      isQuery = col("vec_id") < AnnNumQueries, k = AnnTopK, nProbe = AnnNProbe, rerankFactor = 4,
      centroids = ivfCentroidsShared(s, dir),
      assigned = ivfAssignedShared(s, dir))

  // PQ parameters: m sub-spaces × pqK codes per space (dim 64 → 8×8
  // sub-vectors; 256 codes is the web-scale setting, 16 fits the corpus)
  val PqM = 8
  val PqK = 16

  /** IVF-PQ composed retrieval: probe pruning + per-subspace code lookup
    * (ADC) + exact rerank — the faiss-standard 100 TB layout (see
    * [[graft.llm.Quantize.ivfPqTopK]]); rides the shared codebook and
    * corpus assignment like its int8 sibling.
    */
  def ivfPqTopK(s: SparkSession, dir: String): DataFrame =
    Quantize.ivfPqTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
      isQuery = col("vec_id") < AnnNumQueries, k = AnnTopK, nProbe = AnnNProbe,
      m = PqM, pqK = PqK, rerankFactor = 4,
      centroids = ivfCentroidsShared(s, dir),
      assigned = ivfAssignedShared(s, dir),
      // the PQ code index builds once per (session, corpus) — the
      // materialize-once production shape; each sample pays only
      // probe + ADC + rerank
      codesIn = Some(SessionMemo.cached(s, s"pqcodes:$dir:$PqM:$PqK")(
        Quantize.pqCodes(Tables.embeddings(s, dir), "vec_id", "embedding",
          PqM, PqK, ivfAssignedShared(s, dir)))))

  /** N-gram-profile language ID (trigram occurrence scoring + argmax). */
  def langId(s: SparkSession, dir: String): DataFrame =
    TextOps.langIdNgram(Tables.documents(s, dir), "doc_id", "text")

  /** Whitespace + BPE-ish regex token counting (LLM token-cost proxy). */
  def tokenCounts(s: SparkSession, dir: String): DataFrame =
    TextOps.tokenCounts(Tables.documents(s, dir), "doc_id", "text")

  /** Winnowing rolling-hash fingerprints (k=8 grams, window 4). */
  /** The session-shared winnow fingerprint table both winnow queries
    * read (k=8, w=4 — one definition; see [[TextOps.winnowSetsShared]]).
    */
  private def winnowSetsFor(s: SparkSession, dir: String): DataFrame =
    TextOps.winnowSetsShared(Tables.documents(s, dir), corpusKey = dir,
      "doc_id", "text", k = 8, w = 4)

  def winnow(s: SparkSession, dir: String): DataFrame =
    TextOps.winnowFingerprints(Tables.documents(s, dir), "doc_id", "text",
      k = 8, w = 4, sets = Some(winnowSetsFor(s, dir)))

  /** MOSS-style winnow candidate pairs: ≥ 3 shared fingerprints, buckets
    * capped at 50 (see [[TextOps.winnowPairs]]) — the local-similarity
    * modality beside MinHash/SimHash.
    */
  def winnowPairs(s: SparkSession, dir: String): DataFrame =
    TextOps.winnowPairs(Tables.documents(s, dir), "doc_id", "text",
      k = 8, w = 4, minShared = 3L, bucketCap = 50,
      sets = Some(winnowSetsFor(s, dir)))

  /** Bucket-gate coverage audit for the winnow pair sweep — how much of
    * the fingerprint mass the cap silently drops (see
    * [[TextOps.winnowCoverage]]); read before trusting `q_winnow_pairs`.
    */
  def winnowCoverage(s: SparkSession, dir: String): DataFrame =
    TextOps.winnowCoverage(Tables.documents(s, dir), "doc_id", "text",
      k = 8, w = 4, bucketCap = 50, sets = Some(winnowSetsFor(s, dir)))

  /** Corpus bigram heavy hitters (collocation / boilerplate-phrase
    * discovery; see [[TextOps.ngramTopK]]).
    */
  def bigramTopK(s: SparkSession, dir: String): DataFrame =
    TextOps.ngramTopK(Tables.documents(s, dir), "doc_id", "text",
      n = 2, k = VocabK)

  // media-gate thresholds, single-sourced with the oracle (chosen to
  // split the synthetic corpus: fake widths span 97..122 from the first
  // byte, heights 64..127 from length mod 64, payloads ~50..600 bytes)
  val MediaMinW = 100
  val MediaMinH = 80
  val MediaMinBytes = 120L
  val MediaMaxBytes = 450L

  /** Multimodal curation gate over the documents corpus wrapped as a
    * media column: decode metadata (deterministic fallback for these text
    * payloads; real imageio dims for image bytes, spec-covered) drives
    * keep/drop reasons — the [[qualityGate]] of the multimodal plane.
    */
  def mediaGate(s: SparkSession, dir: String): DataFrame =
    graft.llm.Multimodal.mediaQualityGate(
      graft.llm.Multimodal.asMediaColumn(
        Tables.documents(s, dir), "doc_id", "text"),
      MediaMinW, MediaMinH, MediaMinBytes, MediaMaxBytes)

  // perceptual image-hash near-dup parameters, single-sourced with the
  // oracles: hamming radius (≤ 3, the 4-band pigeonhole bound) and the
  // hot-bucket cap
  val ImageMaxHamming = 3
  val ImageBucketCap = 50

  /** The documents corpus wrapped as a media column with SEEDED byte-level
    * re-encodes — every 5th payload is the PREVIOUS doc's bytes with the
    * final byte rewritten (a one-metadata-byte re-encode). Like
    * [[PiiSeedSuffix]]: the synthetic corpus has no natural byte-near
    * payloads, so without seeding the perceptual-pair oracle would
    * vacuously compare empty sets. The DuckDB side applies the identical
    * rewrite.
    */
  private def seededMedia(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val prev = d.select((col("doc_id") + 1).as("doc_id"), col("text").as("__prev"))
    val seeded = d.join(prev, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("doc_id") % 5 === 4 && col("__prev").isNotNull,
          concat(expr("substring(__prev, 1, length(__prev) - 1)"), lit("z")))
          .otherwise(col("text")).as("text"))
    graft.llm.Multimodal.asMediaColumn(seeded, "doc_id", "text")
  }

  /** Perceptual dHash per media payload (deterministic byte-sampling
    * fallback for these text payloads — real imageio decode for image
    * bytes, spec-covered). Session-memoized: the pair query reads the
    * same 3-column frame.
    */
  def imageDhash(s: SparkSession, dir: String): DataFrame =
    SessionMemo.cached(s, s"imagedhash:$dir")(
      graft.llm.ImageHash.dhashFrame(seededMedia(s, dir)))

  /** Perceptual image near-dup pairs: hamming ≤ [[ImageMaxHamming]] over
    * the dHashes via the SimHash 4×16-bit banding ([[graft.llm.SimHash
    * .hammingPairsOn]]) — the seeded re-encodes pair with their originals.
    */
  def imageNearDup(s: SparkSession, dir: String): DataFrame =
    graft.llm.SimHash.hammingPairsOn(imageDhash(s, dir), "doc_id", "dhash",
      maxHamming = ImageMaxHamming, bucketCap = ImageBucketCap, bits = 64)

  // audio-plane banding parameters — same recall/cost trade as the image
  // plane (4×16-bit bands give pigeonhole recall to hamming 3)
  val AudioMaxHamming = 3
  val AudioBucketCap = 50

  /** Perceptual audio envelope hash per media payload (deterministic
    * byte-sampling fallback for these text payloads — real javax.sound
    * PCM decode for WAV/AIFF bytes, spec-covered). Session-memoized: the
    * pair query reads the same 3-column frame.
    */
  def audioHash(s: SparkSession, dir: String): DataFrame =
    SessionMemo.cached(s, s"audiohash:$dir")(
      graft.llm.AudioHash.audioHashFrame(seededMedia(s, dir)))

  /** Audio near-dup pairs: hamming ≤ [[AudioMaxHamming]] over the
    * envelope hashes — the seeded re-encodes pair with their originals.
    */
  def audioNearDup(s: SparkSession, dir: String): DataFrame =
    graft.llm.SimHash.hammingPairsOn(audioHash(s, dir), "doc_id", "ahash",
      maxHamming = AudioMaxHamming, bucketCap = AudioBucketCap, bits = 64)

  def binaryMeta(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      octet_length(col("text")).cast("long").as("n_bytes"),
      sha2(col("text"), 256).as("content_hash"),
      expr("(octet_length(text) + 255) div 256").cast("long").as("n_chunks"))

  // data-selection parameters (see graft.llm.Selection): target = English
  // documents, keep the top quarter by importance score
  val DsirKeepNum = 1
  val DsirKeepDen = 4
  val ChunkDedupTokens = 10

  // content-defined chunking (see ChunkDedup.cdcDedup): boundary when the
  // trailing 3-token gram's sha256 starts with hex 0/1 → P(cut) = 2/16,
  // mean chunk ≈ 8 tokens (comparable to the fixed 10-token plane)
  val CdcWindow = 3
  val CdcHexDigits = 2

  // ANN-plane parameters, defined ONCE: every top-k query (brute, IVF,
  // kmeans, indexed, quantized) and the recall denominator read these —
  // changing k in one place can no longer silently mis-scale recall
  // (the oracle SQL in SparkEntry interpolates the same constants)
  val AnnTopK = 10
  val AnnNumQueries = 5
  val AnnNProbe = 3
  // training-shard count: the shard-balance audit and writeShards callers
  // share this so the audit can't diverge from the writer's layout
  val NShards = 8

  // learned-BPE vocabulary size (merge count): 30 is deep enough that
  // frequent whole words ("customer", "filter") reassemble while rare
  // words stay multi-token — the split a real subword vocabulary shows
  val BpeNumMerges = 30

  // hard cap on the driver-side BPE training collect (top-M words by
  // count via TakeOrdered): 1M words × ~40 bytes ≈ 40 MB of driver state,
  // far above any local SF's true vocabulary (training is exact here) and
  // bounded by construction for heavy-tailed web text at 100 TB — words
  // below the cap segment via the distributed merge replay at apply time
  val BpeMaxTrainWords = 1 << 20

  // driver-side BPE model memo (one training run per (session, corpus),
  // the model is vocabulary-bounded state like the kmeans codebook);
  // cleared with the session memos so a fresh suite retrains
  private val bpeModels = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), graft.llm.Bpe.Model]
  CacheBin.onDrainAll(() => bpeModels.clear())

  private def bpeModel(s: SparkSession, dir: String): graft.llm.Bpe.Model =
    bpeModels.getOrElseUpdate((s, dir),
      SessionMemo.timed(s"bpemodel:$dir") {
        val words = graft.llm.Bpe.collectTrainingWords(
          Tables.documents(s, dir), "text", BpeMaxTrainWords)
        graft.llm.Bpe.train(words, BpeNumMerges)
      })

  /** The learned BPE merge table (count-desc, pair-asc deterministic
    * training — see [[graft.llm.Bpe]]): rank, pair, merged symbol, and
    * the pair count at selection time.
    */
  def bpeVocab(s: SparkSession, dir: String): DataFrame =
    graft.llm.Bpe.mergeTable(s, bpeModel(s, dir))

  /** Per-document token counts under the TRAINED vocabulary — the real
    * counts the packing/budget plane should run on, next to the
    * whitespace proxy (`q_token_count`).
    */
  def bpeTokenCounts(s: SparkSession, dir: String): DataFrame =
    // session-memoized: the learned-BPE tokenization pass serves three
    // consumers (the counts query, the fertility rollup, BPE packing) —
    // one corpus pass, not one per consumer
    SessionMemo.cached(s, s"bpetokens:$dir")(
      graft.llm.Bpe.tokenCounts(Tables.documents(s, dir), "doc_id", "text",
        bpeModel(s, dir)))

  /** Sequence packing on LEARNED-BPE token counts — [[packSequences]]
    * with the proxy count column swapped for [[bpeTokenCounts]] through
    * the [[graft.llm.Packing.packSequencesBy]] seam (same distributed
    * prefix-sum, no global window).
    */
  def packSequencesBpe(s: SparkSession, dir: String): DataFrame =
    Packing.packSequencesBy(
      bpeTokenCounts(s, dir).select(col("doc_id"), col("n_bpe_tokens")),
      "doc_id", "n_bpe_tokens", budget = PackBudget)

  /** DSIR-style importance weights toward the `lang='en'` target slice,
    * with the top-quarter keep flag (see [[graft.llm.Selection]]).
    */
  def dsirWeights(s: SparkSession, dir: String): DataFrame =
    graft.llm.Selection.importanceWeights(Tables.documents(s, dir),
      "doc_id", "text", targetPred = col("lang") === "en",
      keepNum = DsirKeepNum, keepDen = DsirKeepDen,
      totalRows = Some(Tables.rowCount(s, dir, "documents")))

  /** Temperature-scaled per-source mixture weights (τ=1 and τ=0.5; see
    * [[graft.llm.Selection.mixtureWeights]]).
    */
  def mixtureWeights(s: SparkSession, dir: String): DataFrame =
    graft.llm.Selection.mixtureWeights(Tables.documents(s, dir), "source", "text")

  /** Sub-document chunk dedup: first corpus-wide occurrence of every
    * 10-token chunk survives, documents reassemble from surviving chunks
    * (see [[graft.llm.ChunkDedup]]).
    */
  def chunkDedup(s: SparkSession, dir: String): DataFrame =
    graft.llm.ChunkDedup.chunkDedup(Tables.documents(s, dir),
      "doc_id", "text", chunkTokens = ChunkDedupTokens)

  /** Content-defined-chunk dedup: boundaries fall where the trailing
    * gram's hash says, not at fixed offsets, so shift-displaced duplicate
    * spans still collide (see [[graft.llm.ChunkDedup.cdcDedup]]).
    */
  def cdcDedup(s: SparkSession, dir: String): DataFrame =
    graft.llm.ChunkDedup.cdcDedup(Tables.documents(s, dir),
      "doc_id", "text", window = CdcWindow, hexDigits = CdcHexDigits)

  /** [[cdcDedup]] with the corpus-wide window keyed by xxhash64(chunk) —
    * the 8-byte shuffle-key formulation; shares cdcDedup's oracle.
    */
  def cdcDedupHashed(s: SparkSession, dir: String): DataFrame =
    graft.llm.ChunkDedup.cdcDedupHashed(Tables.documents(s, dir),
      "doc_id", "text", window = CdcWindow, hexDigits = CdcHexDigits)

  // Gopher-rule thresholds (see TextOps.gopherRules): chosen to split the
  // synthetic corpus (10-99 tokens, ~30-word vocab, median repeat ratio
  // ≈ 0.5) meaningfully on every rule
  val GopherMinTokens = 20L
  val GopherMaxTokens = 90L
  val GopherMinAvgTokLen = 3.0
  val GopherMaxAvgTokLen = 6.0
  val GopherMaxRepeatRatio = 0.5
  val GopherMinDistinctStop = 1
  // epoch-shuffle parameters (see TextOps.epochOrder)
  val EpochSeed = "epoch0"
  val EpochShards = 8

  /** Corpus-bigram LM quality score (CCNet-style perplexity filtering in
    * a determinism-safe rational form; see [[graft.llm.Selection.lmScore]]).
    * Session-memoized: `q_lm_score` returns it, the v2 curation gate
    * filters on it — the LM scoring pass runs once per session.
    */
  def lmScore(s: SparkSession, dir: String): DataFrame =
    SessionMemo.cached(s, s"lmscore:$dir")(
      graft.llm.Selection.lmScore(Tables.documents(s, dir), "doc_id", "text"))

  // dynamic-gate percentile: drop the corpus's own bottom decile
  val LmGatePercentile = 0.10

  /** DYNAMIC quality threshold: keep documents at or above the corpus's
    * own [[LmGatePercentile]] lm_score percentile — the data-dependent
    * complement of the fixed-constant gates (`percentile_disc` picks an
    * actual data value, so the cut is engine-deterministic). Second
    * consumer of the memoized [[lmScore]] table; the percentile is a
    * one-row broadcast.
    */
  def lmPercentileGate(s: SparkSession, dir: String): DataFrame = {
    val scored = lmScore(s, dir).filter(col("lm_score").isNotNull)
      .select(col("doc_id"), col("lm_score"))
    val thr = scored.agg(expr(
      s"percentile_disc($LmGatePercentile) WITHIN GROUP (ORDER BY lm_score)")
      .as("threshold"))
    scored.crossJoin(broadcast(thr))
      .select(col("doc_id"), col("lm_score"), col("threshold"),
        (col("lm_score") >= col("threshold")).as("keep"))
  }

  /** Gopher-style per-rule quality audit (see [[TextOps.gopherRules]]). */
  def gopherRules(s: SparkSession, dir: String): DataFrame =
    TextOps.gopherRules(Tables.documents(s, dir), "doc_id", "text",
      GopherMinTokens, GopherMaxTokens, GopherMinAvgTokLen,
      GopherMaxAvgTokLen, GopherMaxRepeatRatio, GopherMinDistinctStop)

  /** Quality-curriculum training order: band 0 = passes BOTH the v1
    * quality gate and the Gopher rules, band 1 = quality gate only,
    * band 2 = the rest — clean text first, noisy text last, hash-shuffled
    * within each band. Absolute 0-based position computed distributively
    * (see [[TextOps.curriculumOrder]] for the no-global-sort shape); the
    * band predicates are the SAME shared expressions the gate queries
    * use, so a threshold change cannot diverge the curriculum.
    */
  def curriculumOrder(s: SparkSession, dir: String): DataFrame = {
    val stats = TextOps.textStatCols(col("text")).toMap
    val qk = TextOps.qualityKeep(stats("n_tokens"), stats("stop_ratio"),
      stats("uniq_ratio"), QualityMinTokens, QualityMaxTokens,
      QualityMinStopRatio, QualityMinUniqRatio)
    val gk = TextOps.gopherKeep(col("text"), GopherMinTokens, GopherMaxTokens,
      GopherMinAvgTokLen, GopherMaxAvgTokLen, GopherMaxRepeatRatio,
      GopherMinDistinctStop)
    val band = when(qk && gk, lit(0)).when(qk, lit(1)).otherwise(lit(2))
    TextOps.curriculumOrder(Tables.documents(s, dir), "doc_id", band, SplitSalt)
  }

  /** [[chunkDedup]] with the shuffle keyed by xxhash64(chunk) — the 100 TB
    * shuffle-bytes lever; shares q_chunk_dedup's oracle because the output
    * is identical absent a 64-bit collision (see
    * [[graft.llm.ChunkDedup.chunkDedupHashed]]).
    */
  def chunkDedupHashed(s: SparkSession, dir: String): DataFrame =
    graft.llm.ChunkDedup.chunkDedupHashed(Tables.documents(s, dir),
      "doc_id", "text", chunkTokens = ChunkDedupTokens)

  /** Deterministic epoch shuffle: (shard, pos) per document (see
    * [[TextOps.epochOrder]]).
    */
  def epochOrder(s: SparkSession, dir: String): DataFrame =
    TextOps.epochOrder(Tables.documents(s, dir), "doc_id",
      seed = EpochSeed, nShards = EpochShards)

  // ---- line-plane curation (LineOps): the synthetic corpus is
  // single-line, so the line operators run over a deterministic MULTILINE
  // view — the text re-wrapped at LineWrapTokens tokens per line, plus
  // seeded boilerplate / junk / duplicate lines on fixed doc_id residues
  // (same rationale as seededDocs for PII: without seeding, every line
  // oracle would vacuously pass). The oracle replays the identical view
  // in SQL (mLinesCte in SparkEntry).
  val LineWrapTokens = 8
  val LineDedupMinDocs = 30L
  val LineFilterMinTokens = 3
  val LineSeedBoiler = "subscribe to the newsletter today"
  val LineSeedJunk = "HOME | ABOUT | CONTACT\n- click here now\nok"
  val LineSeedDup = "all rights reserved"

  /** The multiline corpus view: 8-token lines + seeded lines. The wrap
    * regex replaces every 8th token's trailing space with a newline
    * (left-to-right non-overlapping — identical semantics in Java regex
    * and DuckDB's RE2).
    */
  private def multilineDocs(s: SparkSession, dir: String): DataFrame = {
    val wrapPat = s"((?:\\S+ ){${LineWrapTokens - 1}}\\S+) "
    Tables.documents(s, dir).withColumn("text", concat(
      regexp_replace(col("text"), wrapPat, "$1\n"),
      when(col("doc_id") % 7 === 2, lit("\n" + LineSeedBoiler)).otherwise(lit("")),
      when(col("doc_id") % 11 === 5, lit("\n" + LineSeedJunk)).otherwise(lit("")),
      when(col("doc_id") % 13 === 1,
        lit("\n" + LineSeedDup + "\n" + LineSeedDup)).otherwise(lit(""))))
  }

  /** CCNet-style corpus-wide boilerplate-line removal (see
    * [[graft.llm.LineOps.lineDedup]]): every copy of a line present in ≥
    * [[LineDedupMinDocs]] distinct documents is dropped. The seeded
    * boilerplate/junk/dup lines all cross the threshold at every sf
    * (residues 7/11/13 ⇒ ≥ 1/13 of the corpus each; sf0.001 = 500 docs ⇒
    * ≥ 38 docs); natural 8-token lines of the random-word corpus stay
    * far below it.
    */
  def lineDedup(s: SparkSession, dir: String): DataFrame =
    graft.llm.LineOps.lineDedup(multilineDocs(s, dir), "doc_id", "text",
      minDocs = LineDedupMinDocs)

  /** Within-document first-occurrence line dedup (see
    * [[graft.llm.LineOps.intraDocDedup]]) — scan-local, zero exchanges.
    */
  def intraDocDedup(s: SparkSession, dir: String): DataFrame =
    graft.llm.LineOps.intraDocDedup(multilineDocs(s, dir), "doc_id", "text")

  /** Rule-based junk-line stripping (see [[graft.llm.LineOps.lineFilter]])
    * — scan-local, zero exchanges.
    */
  def lineFilterDocs(s: SparkSession, dir: String): DataFrame =
    graft.llm.LineOps.lineFilter(multilineDocs(s, dir), "doc_id", "text",
      minTokens = LineFilterMinTokens)

  // heavy-hitter gate: tokens at ≥ 1% of the corpus token stream. The MG
  // guarantee needs k > 1/phi; 128 > 100 leaves eviction headroom. At
  // every sf the generator's 30 common tokens sit at ~3.2% and the seeded
  // rare token at ~0.1% — the threshold separates them deterministically.
  val HeavyHitterPhi = 0.01
  val HeavyHitterK = 128

  /** Exact heavy-hitter tokens via Misra–Gries sketch + exact confirm
    * (see [[graft.llm.HeavyHitters.heavyHitterTokens]]): the sketch pass
    * moves O(k·partitions) instead of the full vocabulary, the confirm
    * pass counts only the ≤k candidates, and the k·phi>1 guarantee makes
    * the confirmed result identical to a full GROUP BY + HAVING — which
    * is exactly what the oracle runs.
    */
  def heavyHitters(s: SparkSession, dir: String): DataFrame =
    graft.llm.HeavyHitters.heavyHitterTokens(Tables.documents(s, dir),
      "text", phi = HeavyHitterPhi, k = HeavyHitterK)

  // PMI gate: ≥5 co-occurrences keeps one-off juxtapositions out of the
  // top list; 50 rows is the collocation-table size
  val PmiMinPair = 5L
  val PmiTopK = 50

  /** Top-k PMI collocations over adjacent token pairs (see
    * [[graft.llm.TextOps.pmiCollocations]]) — emitted as the monotone
    * PMI ratio so the ranking crosses engines bit-exactly without a
    * libm log in the compare path.
    */
  def pmiCollocations(s: SparkSession, dir: String): DataFrame =
    graft.llm.TextOps.pmiCollocations(Tables.documents(s, dir), "text",
      minPair = PmiMinPair, k = PmiTopK)

  // OOV audit: rate against the corpus top-N vocabulary
  val OovVocabTopN = 10
  // v2 curation LM-score floor: the corpus median (~0.0345 at sf0.01), so
  // the LM gate does real work beside the rule gate
  val CurateV2LmMin = 0.0345

  /** v2 curation: the "modern" composed gate — Gopher rules (in-scan
    * predicate) ∧ LM score ≥ floor ∧ near-dup cluster survivor ∧ not
    * benchmark-contaminated, then PII-scrub the survivors only and derive
    * the split as a pure projection. Same shape as [[curate]] with the
    * quality envelope swapped for the round-6 quality stack; every
    * threshold reads the same constants its standalone oracle uses, and
    * every expensive input (pair memo, decon scan, LM score table) is the
    * session-memoized frame its sibling query returns.
    */
  def curateV2(s: SparkSession, dir: String): DataFrame = {
    val reps = dedupKeep(s, dir).select("doc_id")
    val contaminated = decontaminate(s, dir).select("doc_id")
    val lmKeep = lmScore(s, dir)
      .filter(col("lm_score") >= CurateV2LmMin).select("doc_id")
    val kept = Tables.documents(s, dir)
      .select(col("doc_id"), seededTextCol.as("__seeded"),
        TextOps.gopherKeep(col("text"),
          GopherMinTokens, GopherMaxTokens, GopherMinAvgTokLen,
          GopherMaxAvgTokLen, GopherMaxRepeatRatio, GopherMinDistinctStop)
          .as("__keep"))
      .filter(col("__keep"))
      .select(col("doc_id"), col("__seeded").as("text"))
      .join(lmKeep, Seq("doc_id"), "left_semi")
      .join(reps, Seq("doc_id"), "left_semi")
      .join(contaminated, Seq("doc_id"), "left_anti")
    TextOps.scrubPii(kept, "doc_id", "text")
      .select(col("doc_id"), col("clean"),
        TextOps.splitLabel(col("doc_id"), SplitSalt, SplitPctTrain).as("split"))
  }

  /** Per-source CORPUS DATA CARD: the one-stop summary a dataset ships
    * with — documents, tokens, near-dup rate (docs in multi-member
    * clusters), benchmark-contamination rate, and mean LM quality score
    * per source. Every signal rides an existing memo (cluster map, decon
    * scan, lm table); the only new work is the per-source rollup. The LM
    * mean is floor-quantized to 1e-12 before summing — the same
    * cross-engine rule as the mixture-weight denominator: never cast an
    * irrational double straight to DECIMAL.
    */
  def corpusCard(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"),
      size(TextOps.tokens(col("text"))).cast("long").as("__nt"))
    val clusters = dedupClusters(s, dir)
    val dup = clusters.join(
        clusters.groupBy("cluster_id").agg(count(lit(1)).as("__cs")),
        Seq("cluster_id"))
      .select(col("doc_id"), (col("__cs") > 1).as("__isdup"))
    val cont = decontaminate(s, dir)
      .select(col("doc_id"), lit(true).as("__cont"))
    val lm = lmScore(s, dir).select(col("doc_id"), col("lm_score"))
    docs.join(dup, Seq("doc_id"))
      .join(cont, Seq("doc_id"), "left")
      .join(lm, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__nt")).as("n_tokens"),
        sum(when(col("__isdup"), 1L).otherwise(0L)).as("n_dup_docs"),
        sum(when(col("__cont").isNotNull, 1L).otherwise(0L))
          .as("n_contaminated"),
        count(col("lm_score")).as("__nscored"),
        sum(floor(col("lm_score") * lit(1000000000000.0)).cast("long"))
          .as("__lmsumq"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("n_dup_docs"), col("n_contaminated"),
        (col("n_dup_docs").cast("double") / col("n_docs").cast("double"))
          .as("dup_rate"),
        (col("n_contaminated").cast("double") / col("n_docs").cast("double"))
          .as("contamination_rate"),
        (col("__lmsumq").cast("double") / lit(1000000000000.0)
          / col("__nscored").cast("double")).as("mean_lm_score"))
  }

  /** v3 curation: the round-7 gates composed — [[curateV2]]'s
    * Gopher ∧ dedup-survivor ∧ not-(gram-)contaminated stack with the
    * fixed LM floor swapped for the DYNAMIC decile gate
    * ([[lmPercentileGate]]), a semantic decontamination anti-join
    * ([[decontaminateSemantic]], vec ids ≡ doc ids), and the
    * leakage-safe CLUSTER split ([[clusterSplit]]'s rule) instead of the
    * per-doc hash. Every stage rides its standalone memo (lm table,
    * pair/cluster map, decon scans); the only new work is the survivor
    * sliver's joins.
    */
  def curateV3(s: SparkSession, dir: String): DataFrame =
    // session-memoized: v4 derives from this frame (classifier band +
    // curriculum on TOP of the v3 keep-set), so the corpus-side work —
    // the gopher gate scan and the PII regex scrub, the two expensive
    // per-doc stages — runs once per session instead of once per curate
    // variant. At 100 TB this is "materialize the curated corpus once,
    // derive downstream views from it", the call every pipeline makes.
    SessionMemo.cached(s, s"curatev3:$dir")(curateV3Impl(s, dir))

  private def curateV3Impl(s: SparkSession, dir: String): DataFrame = {
    val reps = dedupKeep(s, dir).select("doc_id")
    val contaminated = decontaminate(s, dir).select("doc_id")
    val semContaminated = decontaminateSemantic(s, dir)
      .select(col("vec_id").as("doc_id"))
    val lmKeep = lmPercentileGate(s, dir).filter(col("keep")).select("doc_id")
    val kept = Tables.documents(s, dir)
      .select(col("doc_id"), seededTextCol.as("__seeded"),
        TextOps.gopherKeep(col("text"),
          GopherMinTokens, GopherMaxTokens, GopherMinAvgTokLen,
          GopherMaxAvgTokLen, GopherMaxRepeatRatio, GopherMinDistinctStop)
          .as("__keep"))
      .filter(col("__keep"))
      .select(col("doc_id"), col("__seeded").as("text"))
      .join(lmKeep, Seq("doc_id"), "left_semi")
      .join(reps, Seq("doc_id"), "left_semi")
      .join(contaminated, Seq("doc_id"), "left_anti")
      .join(semContaminated, Seq("doc_id"), "left_anti")
    TextOps.scrubPii(kept, "doc_id", "text")
      .join(dedupClusters(s, dir), Seq("doc_id"))
      .select(col("doc_id"), col("clean"),
        TextOps.splitLabel(col("cluster_id"), SplitSalt, SplitPctTrain)
          .as("split"))
  }

  /** Content-addressed dataset manifest: one fingerprint row per
    * training shard — doc count, token volume, and a content hash (XOR
    * of per-doc sha256 prefixes over (id, text)) that flips if ANY
    * document in the shard changes, appears, or disappears. The
    * reproducibility primitive: a training run records the manifest;
    * any later rebuild can prove byte-equivalence shard-by-shard
    * without rereading pairs. XOR makes the rollup order- and
    * partition-independent (and engine-independent, unlike a hash of a
    * sorted concat, which would need a global sort per shard).
    *
    * Shards are the REAL packing shards (`seq_id % NShards` — the same
    * rule the shard writer uses), so the manifest describes the actual
    * training artifacts. One co-keyed join + a shard-keyed rollup.
    */
  def datasetManifest(s: SparkSession, dir: String): DataFrame = {
    val fp = conv(substring(sha2(concat(col("doc_id").cast("string"),
      lit(":"), col("text")), 256), 1, 15), 16, 10).cast("long")
    val docs = Tables.documents(s, dir).select(col("doc_id"), fp.as("__fp"))
    packSequences(s, dir)
      .select(col("doc_id"), (col("seq_id") % NShards).as("shard_id"),
        col("n_tokens"))
      .join(docs, Seq("doc_id"))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens_total"),
        expr("bit_xor(__fp)").as("content_fp"))
  }

  /** Classifier evaluation rollup: the confusion counts and derived
    * precision/recall/F1/accuracy of the trained model against the rule
    * labels it distilled — single exact-integer rollup of the memoized
    * score table; ratios are single float divisions of exact counts.
    */
  def classifierEval(s: SparkSession, dir: String): DataFrame =
    classifierScores(s, dir)
      .agg(count(lit(1)).as("n"),
        sum(when(col("pred_keep") && col("label"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("pred_keep") && !col("label"), 1L).otherwise(0L)).as("fp"),
        sum(when(!col("pred_keep") && col("label"), 1L).otherwise(0L)).as("fn"),
        sum(when(!col("pred_keep") && !col("label"), 1L).otherwise(0L)).as("tn"))
      .select(col("n"), col("tp"), col("fp"), col("fn"), col("tn"),
        (col("tp").cast("double") / (col("tp") + col("fp")).cast("double"))
          .as("precision"),
        (col("tp").cast("double") / (col("tp") + col("fn")).cast("double"))
          .as("recall"),
        ((lit(2L) * col("tp")).cast("double")
          / (lit(2L) * col("tp") + col("fp") + col("fn")).cast("double")).as("f1"),
        ((col("tp") + col("tn")).cast("double") / col("n").cast("double"))
          .as("accuracy"))

  /** Curation v4: [[curateV3]]'s survivors additionally gated by the
    * TRAINED classifier (score ≥ 0.5), emitted in learned-quality
    * training order — score-decile band (best first), hash-shuffled
    * within band, absolute position from the no-global-sort
    * decomposition ([[TextOps.curriculumOrder]]). Every stage rides its
    * standalone memo (v3's chain, the classifier fit); the new work is
    * the survivor sliver's join plus its banded windows.
    */
  def curateV4(s: SparkSession, dir: String): DataFrame = {
    val sc = classifierScores(s, dir).filter(col("pred_keep"))
      .select(col("doc_id"), col("score"))
    val kept = curateV3(s, dir).join(sc, Seq("doc_id"))
    val band = (lit(9L) - floor(col("score") * lit(10.0))).cast("int")
    kept.join(TextOps.curriculumOrder(kept, "doc_id", band, SplitSalt),
        Seq("doc_id"))
      .select(col("doc_id"), col("clean"), col("split"), col("score"),
        col("band"), col("curriculum_pos"))
  }

  /** Train/holdout near-dup leakage: verified MinHash pairs (jaccard ≥
    * 0.5) bucketed by the unordered split pair of their endpoints — the
    * eval-hygiene audit a split must pass BEFORE the holdout means
    * anything (a near-duplicate of a training doc in the holdout is
    * leakage, exactly what [[decontaminate]] guards against for external
    * benchmarks). Fifth consumer of the session-memoized pair table; the
    * split label is a pure projection on the pair endpoints
    * ([[TextOps.splitLabel]]), so the audit costs one rollup of the pair
    * sliver — no corpus pass, no join.
    */
  def splitLeakage(s: SparkSession, dir: String): DataFrame =
    sharedPairs(s, dir).filter(col("jaccard") >= 0.5)
      .select(
        least(TextOps.splitLabel(col("doc_a"), SplitSalt, SplitPctTrain),
          TextOps.splitLabel(col("doc_b"), SplitSalt, SplitPctTrain)).as("split_a"),
        greatest(TextOps.splitLabel(col("doc_a"), SplitSalt, SplitPctTrain),
          TextOps.splitLabel(col("doc_b"), SplitSalt, SplitPctTrain)).as("split_b"))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_pairs"))

  /** Per-source out-of-vocabulary rate against the corpus top-N
    * vocabulary (count desc, token asc — a total order, so the vocab is
    * deterministic): the tokenizer-coverage audit run before fixing a
    * vocabulary. The vocab is top-k-bounded (broadcast at any corpus
    * size); the only corpus-scale shuffle is the per-source rollup.
    */
  def oovRate(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("source"), explode(TextOps.tokens(col("text"))).as("token"))
    val vocab = toks.groupBy(col("token")).agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("token").asc).limit(OovVocabTopN)
      .select(col("token"), lit(true).as("__inv"))
    toks.join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__inv").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("source"), col("n_tokens"), col("n_oov"),
        (col("n_oov").cast("double") / col("n_tokens")).as("oov_rate"))
  }

  /** ANN quality evaluation: recall@10 of the IVF-probed top-k
    * ([[ivfTopK]]) against brute-force cosine ([[cosineTopK]]) per query —
    * the measurement loop that keeps the approximate scale path honest.
    */
  def annRecall(s: SparkSession, dir: String): DataFrame = {
    val bf = cosineTopK(s, dir)
      .select(col("query_id"), col("neighbor_id"))
    val approx = ivfTopK(s, dir)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("__hit"))
    bf.join(approx, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(col("__hit")).as("n_hits"),
        (count(col("__hit")).cast("double") / lit(AnnTopK.toDouble)).as("recall"))
  }

  // ---- transactional commit-log table plane (Delta emulation: MERGE /
  //      history / CDF / time travel — graft.tables.CommitLogTable)

  /** Build (once per session) the deterministic 3-commit demo table the
    * commit-log queries share: over `events` keyed by `event_id`,
    *   v1 append of event_id%4 ∈ {0,1};
    *   v2 MERGE of %4 ∈ {1,2} with value doubled (→ %4=1 update, %4=2 insert);
    *   v3 MERGE of %4 ∈ {2,3} with value tripled (→ %4=2 update, %4=3 insert).
    * Every statistic the oracles check (insert/update counts, totals,
    * change images, pinned snapshots) is a pure function of `events`.
    */
  private def commitLogDemoDir(s: SparkSession, dir: String): String = {
    val tableDir = stampedTmpDir(s, dir, "graft-commitlog", "events")
    SessionMemo.once(s, s"commitlog:$dir") {
      // applicationId-unique path: a completed build survives drainAll()
      if (!graft.tables.CommitLogTable.exists(tableDir)) {
        // persist: the three commits otherwise re-scan events.parquet
        // (and re-run its timestamp normalization) once each
        val ev = Tables.events(s, dir)
          .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
          .persist()
        try {
          val m = col("event_id") % 4
          val t = graft.tables.CommitLogTable.create(s, tableDir, ev.schema)
          // v1 insert images have no consumer (q_cdf_read replays 2..3,
          // the merges' own change sets) — skip the double write
          t.append(ev.filter(m < 2), recordChanges = false)
          t.merge(ev.filter(m === 1 || m === 2)
            .withColumn("value", col("value") * 2), Seq("event_id"), Seq(col("event_id")))
          t.merge(ev.filter(m === 2 || m === 3)
            .withColumn("value", col("value") * 3), Seq("event_id"), Seq(col("event_id")))
        } finally ev.unpersist()
      }
    }
    tableDir
  }

  /** Table history from the commit manifests alone (no data read):
    * version, action, and row statistics per commit — the `DESCRIBE
    * HISTORY` surface of the reference's Delta tables.
    */
  def tableHistory(s: SparkSession, dir: String): DataFrame =
    graft.tables.CommitLogTable.open(s, commitLogDemoDir(s, dir)).history
      .select(col("version"), col("action"), col("rows_inserted"),
        col("rows_updated"), col("rows_deleted"), col("rows_total"))

  /** Persisted Change Data Feed replay for versions 2-3: insert rows plus
    * update pre/post images, each tagged with its commit version — a
    * durable change table a downstream consumer reads LATER, not an
    * in-flight foreachBatch callback.
    */
  def cdfRead(s: SparkSession, dir: String): DataFrame =
    graft.tables.CommitLogTable.open(s, commitLogDemoDir(s, dir))
      .readChanges(2, 3)
      .select(col("_commit_version").as("commit_version"),
        col("_change_type").as("change_type"),
        col("event_id"), col("user_id"), col("event_type"), col("value"))

  /** Time travel: aggregate the snapshot PINNED at version 2 — correct
    * even though version 3 has since rewritten overlapping keys, because
    * a manifest's files are immutable until vacuumed.
    */
  def timeTravel(s: SparkSession, dir: String): DataFrame =
    graft.tables.CommitLogTable.open(s, commitLogDemoDir(s, dir))
      .read(Some(2L))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value"), 6).as("sum_value"))

  /** Streaming DATA read of the commit-log demo table — Delta's
    * `spark.readStream.table` semantics (the read the reference's silver
    * notebook opens on its bronze table): an `AvailableNow` drain
    * through [[graft.sources.CommitLogStreamSource]] into a parquet
    * sink, then aggregated. The drain's initial snapshot pins the head
    * version, so the result ≡ a batch read of the current table — the
    * oracle is the same SQL that describes the demo's final contents.
    */
  def tableStreamData(s: SparkSession, dir: String): DataFrame = {
    val tableDir = commitLogDemoDir(s, dir)
    val outDir = stampedTmpDir(s, dir, "graft-commitlog-stream", "events")
    SessionMemo.once(s, s"commitlogStream:$dir") {
      if (!java.nio.file.Files.isDirectory(
          java.nio.file.Paths.get(outDir, "out"))) {
        val q = s.readStream.format("commitlog").option("path", tableDir)
          .load()
          .writeStream.format("parquet").option("path", s"$outDir/out")
          .option("checkpointLocation", s"$outDir/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        require(q.awaitTermination(180000L),
          "commitlog data-stream drain timed out")
      }
    }
    s.read.parquet(s"$outDir/out")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"), dsum(col("value"), 6).as("sum_value"))
  }

  /** Streaming WRITE through `writeStream.toTable` — the reference's
    * Auto Loader bronze sink (`bronze_prices_auto_loader.ipynb` cell 3):
    * the demo table's data stream drains through the V2 epoch sink
    * ([[graft.sources.CommitLogStreamingWrite]]) into a commit-log
    * CATALOG table — executor-staged parquet, one transactional
    * txn-idempotent append per epoch — then aggregates the landed
    * table. Chains the streaming source AND sink through the engine;
    * result ≡ the demo table's final contents (same oracle as
    * [[tableStreamData]]).
    */
  def tableStreamSink(s: SparkSession, dir: String): DataFrame = {
    val tableDir = commitLogDemoDir(s, dir)
    val outDir = stampedTmpDir(s, dir, "graft-commitlog-sink", "events")
    val cat = "graft_sink_" + java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    SessionMemo.once(s, s"commitlogSink:$dir") {
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.CommitLogCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", s"$outDir/wh")
      if (!graft.tables.CommitLogTable.exists(s"$outDir/wh/silver/events")) {
        val demoSchema = graft.tables.CommitLogTable.open(s, tableDir).schema
        s.sql(s"CREATE TABLE $cat.silver.events (${demoSchema.toDDL}) " +
          "USING commitlog")
        val q = s.readStream.format("commitlog").option("path", tableDir)
          .load()
          .writeStream.option("checkpointLocation", s"$outDir/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .toTable(s"$cat.silver.events")
        require(q.awaitTermination(180000L),
          "commitlog toTable drain timed out")
      }
    }
    s.table(s"$cat.silver.events")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"), dsum(col("value"), 6).as("sum_value"))
  }

  /** Build (once per session) the schema-evolution + rename demo table:
    *   v1 append of event_id%4==0 rows under (event_id, event_type, value);
    *   v2 `mergeSchema` append of %4==1 rows carrying a NEW
    *      `score = value*2` column — the reference's Bronze
    *      `mergeSchema=true` / Auto Loader `addNewColumns`
    *      (`bronze_prices_auto_loader.ipynb` cell 3,
    *      `docs/databricks_setup.md:120`): v1's files are NOT rewritten,
    *      they null-backfill `score` at read;
    *   v3 metadata-only `renameColumn(value→amount)` via column mapping
    *      (`docs/databricks_setup.md:96`) — zero data files touched.
    */
  private def commitLogEvolveDir(s: SparkSession, dir: String): String = {
    val tableDir = stampedTmpDir(s, dir, "graft-commitlog-evolve", "events")
    SessionMemo.once(s, s"commitlogEvolve:$dir") {
      if (!graft.tables.CommitLogTable.exists(tableDir)) {
        val ev = Tables.events(s, dir)
          .select(col("event_id"), col("event_type"), col("value"))
        val m = col("event_id") % 4
        val t = graft.tables.CommitLogTable.create(s, tableDir, ev.schema)
        t.append(ev.filter(m === 0))
        t.append(ev.filter(m === 1).withColumn("score", col("value") * 2),
          mergeSchema = true)
        t.renameColumn("value", "amount")
      }
    }
    tableDir
  }

  /** Schema evolution + rename, end to end: the widened read shows v1's
    * rows with a NULL `score` (null-backfill instead of a table rewrite)
    * and every row under the renamed `amount` column; the per-type rollup
    * makes both visible to the oracle (`n_score` counts only post-
    * evolution rows).
    */
  def tableEvolve(s: SparkSession, dir: String): DataFrame =
    graft.tables.CommitLogTable.open(s, commitLogEvolveDir(s, dir)).read()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        dsum(col("amount"), 6).as("sum_amount"),
        count(col("score")).as("n_score"),
        dsum(col("score"), 6).as("sum_score"))

  /** Build (once per session) the column-DROP demo table:
    *   v1 append of event_id%4∈{0,1} under (event_id, event_type, value,
    *      score = value*2);
    *   v2 metadata-only `dropColumn(score)` — the physical name retires;
    *   v3 `mergeSchema` append of %4==2 RE-ADDING logical `score` as
    *      value*3 — it binds a FRESH physical name, so v1's stale
    *      score values must NOT resurface (they read NULL).
    */
  private def commitLogDropDir(s: SparkSession, dir: String): String = {
    val tableDir = stampedTmpDir(s, dir, "graft-commitlog-drop", "events")
    SessionMemo.once(s, s"commitlogDrop:$dir") {
      if (!graft.tables.CommitLogTable.exists(tableDir)) {
        val ev = Tables.events(s, dir)
          .select(col("event_id"), col("event_type"), col("value"))
        val m = col("event_id") % 4
        val withScore = ev.withColumn("score", col("value") * 2)
        val t = graft.tables.CommitLogTable.create(s, tableDir, withScore.schema)
        t.append(withScore.filter(m < 2))
        t.dropColumn("score")
        t.append(ev.filter(m === 2).withColumn("score", col("value") * 3),
          mergeSchema = true)
      }
    }
    tableDir
  }

  /** Column drop + no-resurface re-add, end to end: after the drop, the
    * re-added `score` is a NEW column — pre-drop rows read NULL (their
    * retired physical data is invisible), post-re-add rows carry value*3.
    */
  def tableDrop(s: SparkSession, dir: String): DataFrame =
    graft.tables.CommitLogTable.open(s, commitLogDropDir(s, dir)).read()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        dsum(col("value"), 6).as("sum_value"),
        count(col("score")).as("n_score"),
        dsum(col("score"), 6).as("sum_score"))

  /** Manifest-stats data skipping ([[graft.tables.CommitLogTable.readRange]]):
    * a range read over the demo table prunes files on the per-file
    * (min, max) recorded at commit time and applies the residual
    * predicate — result-identical to a plain filter, which is exactly
    * what the oracle checks (the file-skipping arithmetic itself is
    * spec-pinned on constructed layouts).
    */
  def tableSkip(s: SparkSession, dir: String): DataFrame =
    graft.tables.CommitLogTable.open(s, commitLogDropDir(s, dir))
      .readRange("value", 50.0, 100.0)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"), dsum(col("value"), 6).as("sum_value"))

  /** The same range query through the DataSource-V2 reader
    * ([[graft.sources.CommitLogDataSource]]): `spark.read.format(
    * "commitlog")` with a NATURAL `.filter(...)` — stats pruning happens
    * automatically in the scan (what `readRange` requires the caller to
    * spell), over a table with a dropped/re-added column exercising the
    * column-mapping read path. Oracle-identical to [[tableSkip]].
    */
  def tableDsv2(s: SparkSession, dir: String): DataFrame =
    s.read.format("commitlog").load(commitLogDropDir(s, dir))
      .filter(col("value") >= 50.0 && col("value") <= 100.0)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"), dsum(col("value"), 6).as("sum_value"))

  /** Build (once per session) the bloom-index demo: events in FOUR
    * interleaved commits (event_id % 4 per slice, so every file's
    * (min, max) spans the whole id domain — stats prune nothing) with
    * `graft.bloom.columns=event_id`. A point/IN lookup then prunes
    * files via the sidecar blooms alone.
    */
  private def commitLogBloomDir(s: SparkSession, dir: String): String = {
    val tableDir = stampedTmpDir(s, dir, "graft-commitlog-bloom", "events")
    SessionMemo.once(s, s"commitlogBloom:$dir") {
      if (!graft.tables.CommitLogTable.exists(tableDir)) {
        val ev = Tables.events(s, dir)
          .select(col("event_id"), col("event_type"), col("value"))
        val t = graft.tables.CommitLogTable.create(s, tableDir, ev.schema)
        t.setProperties(Map(
          graft.tables.CommitLogTable.BloomColsProp -> "event_id"))
        (0 until 4).foreach(i =>
          t.append(ev.filter(col("event_id") % 4 === i).coalesce(1),
            recordChanges = false))
      }
    }
    tableDir
  }

  /** IN-list point lookup through the DSv2 reader: each probed id is
    * refuted per file by its bloom sidecar (min/max can't help — every
    * file spans the id domain). Result must equal the plain filter.
    */
  def tableBloom(s: SparkSession, dir: String): DataFrame = {
    val ids: Seq[Any] = (0 until 50).map(i => i * 199L + 7L)
    s.read.format("commitlog").load(commitLogBloomDir(s, dir))
      .filter(col("event_id").isin(ids: _*))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"), dsum(col("value"), 6).as("sum_value"))
  }

  /** Build (once per session) the `MERGE INTO` SQL demo: target = events
    * with event_id%4<2 as a commit-log CATALOG table; source = events
    * with event_id%3=0, value transformed; one three-clause SQL MERGE
    * (conditional UPDATE / unconditional DELETE / INSERT *) lands as a
    * single transactional commit. The table lives inside a catalog
    * warehouse so `MERGE INTO <cat>.default.t` resolves through the
    * TableCatalog (the only surface Spark plans MERGE against).
    */
  private def commitLogMergeSqlDir(s: SparkSession, dir: String): String = {
    val wh = stampedTmpDir(s, dir, "graft-commitlog-mergesql", "events")
    val tdir = s"$wh/default/t"
    SessionMemo.once(s, s"commitlogMergeSql:$dir") {
      if (!graft.tables.CommitLogTable.exists(tdir)) {
        val cat = "graft_msql_" + java.security.MessageDigest.getInstance("MD5")
          .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CommitLogCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        val ev = Tables.events(s, dir)
          .select(col("event_id"), col("event_type"), col("value"))
        val tgt = ev.filter(col("event_id") % 4 < 2)
        graft.tables.CommitLogTable.create(s, tdir, tgt.schema).append(tgt)
        ev.filter(col("event_id") % 3 === 0)
          .select(col("event_id"), col("event_type"),
            (col("value") * 2 + 5).as("value"))
          .createOrReplaceTempView("graft_merge_sql_src")
        s.sql(
          s"""MERGE INTO $cat.default.t AS t
             |USING graft_merge_sql_src AS s ON t.event_id = s.event_id
             |WHEN MATCHED AND s.value > 100 THEN UPDATE SET value = s.value
             |WHEN MATCHED THEN DELETE
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      }
    }
    tdir
  }

  def tableMergeSql(s: SparkSession, dir: String): DataFrame =
    graft.tables.CommitLogTable.open(s, commitLogMergeSqlDir(s, dir)).read()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"), dsum(col("value"), 6).as("sum_value"))

  /** Build (once per session) the SQL UPDATE/DELETE demo: target =
    * events with event_id%4<2 as a commit-log catalog table; one SQL
    * `UPDATE … SET value = value*2+1 WHERE event_id%3 = 0` (stats-pruned
    * copy-on-write through the injected strategy), then one SQL
    * `DELETE FROM … WHERE event_id%5 = 4` — a predicate with NO V1
    * Filter form, so it exercises the arbitrary-predicate DELETE
    * strategy, not the SupportsDelete bridge.
    */
  private def commitLogDmlSqlDir(s: SparkSession, dir: String): String = {
    val wh = stampedTmpDir(s, dir, "graft-commitlog-dmlsql", "events")
    val tdir = s"$wh/default/t"
    SessionMemo.once(s, s"commitlogDmlSql:$dir") {
      if (!graft.tables.CommitLogTable.exists(tdir)) {
        val cat = "graft_dsql_" + java.security.MessageDigest.getInstance("MD5")
          .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
        s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CommitLogCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        val ev = Tables.events(s, dir)
          .select(col("event_id"), col("event_type"), col("value"))
        val tgt = ev.filter(col("event_id") % 4 < 2)
        graft.tables.CommitLogTable.create(s, tdir, tgt.schema).append(tgt)
        s.sql(s"UPDATE $cat.default.t SET value = value * 2 + 1 " +
          "WHERE event_id % 3 = 0")
        s.sql(s"DELETE FROM $cat.default.t WHERE event_id % 5 = 4")
      }
    }
    tdir
  }

  def tableDmlSql(s: SparkSession, dir: String): DataFrame =
    graft.tables.CommitLogTable.open(s, commitLogDmlSqlDir(s, dir)).read()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"), dsum(col("value"), 6).as("sum_value"))

  /** Build (once per session) the SQL-view demo — the reference's gold
    * layer shape (`CREATE OR REPLACE VIEW gold.price_features AS …`,
    * docs/databricks_setup.md:209): a commit-log catalog table of
    * events (event_id%4<2), a view aggregating it, both via SQL DDL.
    * Returns the catalog name.
    */
  private def commitLogViewCat(s: SparkSession, dir: String): String = {
    val wh = stampedTmpDir(s, dir, "graft-commitlog-viewsql", "events")
    val cat = "graft_vsql_" + java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    SessionMemo.once(s, s"commitlogViewSql:$dir") {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CommitLogCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      if (!graft.tables.CommitLogTable.exists(s"$wh/gold/t")) {
        val ev = Tables.events(s, dir)
          .select(col("event_id"), col("event_type"), col("value"))
          .filter(col("event_id") % 4 < 2)
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(s"$wh/gold"))
        graft.tables.CommitLogTable.create(s, s"$wh/gold/t", ev.schema)
          .append(ev)
      }
      s.sql(
        s"""CREATE OR REPLACE VIEW $cat.gold.price_features AS
           |SELECT event_type, count(*) AS n_rows,
           |       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
           |         AS sum_value
           |FROM $cat.gold.t GROUP BY event_type""".stripMargin)
    }
    cat
  }

  /** Read through the stored SQL view (late-binding expansion through
    * the injected view rule — the only analyzer path that can serve a
    * ViewCatalog view in stock Spark 4.1).
    */
  def tableViewSql(s: SparkSession, dir: String): DataFrame =
    s.sql(s"SELECT event_type, n_rows, sum_value FROM " +
      s"${commitLogViewCat(s, dir)}.gold.price_features")

  /** Build (once per session) the metadata-columns demo: events
    * partitioned by `event_type` as a commit-log table.
    */
  private def commitLogMetaDir(s: SparkSession, dir: String): String = {
    val tableDir = stampedTmpDir(s, dir, "graft-commitlog-meta", "events")
    SessionMemo.once(s, s"commitlogMeta:$dir") {
      if (!graft.tables.CommitLogTable.exists(tableDir)) {
        val ev = Tables.events(s, dir)
          .select(col("event_type"), col("event_id"), col("value"))
          .filter(col("event_id") % 4 < 3)
        graft.tables.CommitLogTable
          .create(s, tableDir, ev.schema, Seq("event_type")).append(ev)
      }
    }
    tableDir
  }

  /** Lineage metadata columns through the DSv2 reader: grouping by
    * `_partition` (the row's file-level partition value, straight from
    * the manifest — zero extra IO) must equal grouping by the partition
    * column itself.
    */
  def tableMetaCols(s: SparkSession, dir: String): DataFrame =
    s.read.format("commitlog").load(commitLogMetaDir(s, dir))
      .groupBy(col("_partition").as("part"))
      .agg(count(lit(1)).as("n_rows"), dsum(col("value"), 6).as("sum_value"))

  /** Build (once per session) the storage-partitioned-join demo: a fact
    * and a per-day dim table, BOTH commitlog tables partitioned on the
    * same derived `day` key — the co-location that lets the join below
    * run shuffle-free.
    */
  private def commitLogSpjDirs(s: SparkSession, dir: String): (String, String) = {
    val dirA = stampedTmpDir(s, dir, "graft-commitlog-spj-a", "events")
    val dirB = stampedTmpDir(s, dir, "graft-commitlog-spj-b", "events")
    SessionMemo.once(s, s"commitlogSpj:$dir") {
      val ev = Tables.events(s, dir)
        .select((col("event_id") % 8).as("day"), col("value"))
      if (!graft.tables.CommitLogTable.exists(dirA)) {
        val fact = ev.filter(col("day") >= 0) // all rows, day-partitioned
        graft.tables.CommitLogTable
          .create(s, dirA, fact.schema, Seq("day")).append(fact)
      }
      if (!graft.tables.CommitLogTable.exists(dirB)) {
        val perDay = ev.groupBy(col("day"))
          .agg(dsum(col("value"), 6).as("w"))
        graft.tables.CommitLogTable
          .create(s, dirB, perDay.schema, Seq("day")).append(perDay)
      }
    }
    (dirA, dirB)
  }

  /** Fact ⋈ dim on the shared partition key through the DSv2 reader with
    * key-grouped (storage-partitioned) execution enabled on a cloned
    * session: both sides report KeyGroupedPartitioning(day), so the join
    * plans with NO shuffle on either side (spec-pinned in
    * `CommitLogV2Spec`); the session clone keeps the opt-in conf from
    * leaking into other queries. `w_day` is max() of the per-day constant
    * — bit-stable across engines, unlike re-summing doubles.
    */
  def tableSpj(s: SparkSession, dir: String): DataFrame = {
    val (da, db) = commitLogSpjDirs(s, dir)
    val s2 = s.newSession()
    s2.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s2.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val fact = s2.read.format("commitlog").load(da)
    val dim = s2.read.format("commitlog").load(db)
    fact.join(dim, "day")
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_rows"), dsum(col("value"), 6).as("sum_value"),
        max(col("w")).as("w_day"))
  }

  /** Build (once per session) the UPDATE demo table: v1 append of
    * event_id%4∈{0,1}; v2 `UPDATE value = value*2+1 WHERE event_id%3=0`
    * — the `UPDATE … SET … WHERE` surface of the reference's Delta
    * tables, with CDF pre/post images behind it (spec-pinned).
    */
  private def commitLogUpdateDir(s: SparkSession, dir: String): String = {
    val tableDir = stampedTmpDir(s, dir, "graft-commitlog-update", "events")
    SessionMemo.once(s, s"commitlogUpdate:$dir") {
      if (!graft.tables.CommitLogTable.exists(tableDir)) {
        val ev = Tables.events(s, dir)
          .select(col("event_id"), col("event_type"), col("value"))
        val t = graft.tables.CommitLogTable.create(s, tableDir, ev.schema)
        t.append(ev.filter(col("event_id") % 4 < 2))
        t.update(col("event_id") % 3 === 0,
          Map("value" -> (col("value") * 2 + 1)))
      }
    }
    tableDir
  }

  def tableUpdate(s: SparkSession, dir: String): DataFrame =
    graft.tables.CommitLogTable.open(s, commitLogUpdateDir(s, dir)).read()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"), dsum(col("value"), 6).as("sum_value"))

  /** Build (once per session) the MERGE-ON-READ delete demo: v1 append of
    * event_id%4<3; v2 `deleteLazy("value < 50")` — metadata-only, the
    * deletion-vector analogue: matching rows vanish from reads while
    * every data file stays byte-identical until the next rewrite.
    */
  private def commitLogLazyDir(s: SparkSession, dir: String): String = {
    val tableDir = stampedTmpDir(s, dir, "graft-commitlog-lazy", "events")
    SessionMemo.once(s, s"commitlogLazy:$dir") {
      if (!graft.tables.CommitLogTable.exists(tableDir)) {
        val ev = Tables.events(s, dir)
          .select(col("event_id"), col("event_type"), col("value"))
        val t = graft.tables.CommitLogTable.create(s, tableDir, ev.schema)
        t.append(ev.filter(col("event_id") % 4 < 3))
        t.deleteLazy("value < 50")
      }
    }
    tableDir
  }

  /** Merge-on-read delete surfaced through a plain read: matching rows
    * filtered, NULL-evaluating rows kept (SQL DELETE semantics), zero
    * files rewritten (the metadata-only property is spec-pinned).
    */
  def tableLazyDelete(s: SparkSession, dir: String): DataFrame =
    graft.tables.CommitLogTable.open(s, commitLogLazyDir(s, dir)).read()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"), dsum(col("value"), 6).as("sum_value"))

  /** Build (once per session) the checkpoint-crossing demo table: 12
    * single-slice appends (event_id%12 == i lands as version i+1) push
    * the log past the forced full-snapshot checkpoint at version
    * [[graft.tables.CommitLogTable.CheckpointInterval]] (10), so snapshot
    * resolution exercises BOTH log paths: a pre-checkpoint pin replays
    * file diffs forward from the root, the latest loads the v10
    * checkpoint plus two diffs. Every version's content is a pure
    * function of `events`.
    */
  private def commitLogCkptDir(s: SparkSession, dir: String): String = {
    val tableDir = stampedTmpDir(s, dir, "graft-commitlog-ckpt", "events")
    SessionMemo.once(s, s"commitlogCkpt:$dir") {
      if (!graft.tables.CommitLogTable.exists(tableDir)) {
        // persisted: twelve appends each filter this frame — one source
        // scan, not twelve
        val ev = Tables.events(s, dir)
          .select(col("event_id"), col("event_type"), col("value"))
          .persist()
        try {
          val t = graft.tables.CommitLogTable.create(s, tableDir, ev.schema)
          // recordChanges=false: no consumer reads this table's change
          // feed (time-travel + metadata aggregates only) — insert
          // images would double every append's write volume for nothing
          (0 until 12).foreach { i =>
            t.append(ev.filter(col("event_id") % 12 === i),
              recordChanges = false)
          }
        } finally ev.unpersist(false)
      }
    }
    tableDir
  }

  /** Time travel on either side of a checkpoint boundary: the version-7
    * pin resolves by diff replay from the root manifest (no checkpoint at
    * or below it), the latest snapshot by loading the version-10
    * checkpoint plus two diffs — each must see exactly its slices
    * (Delta's `_delta_log` JSON-actions + checkpoint-parquet resolution,
    * `docs/databricks_setup.md` time travel).
    */
  def tableCkpt(s: SparkSession, dir: String): DataFrame = {
    val t = graft.tables.CommitLogTable.open(s, commitLogCkptDir(s, dir))
    val pinned = t.read(Some(7L)).groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"), dsum(col("value"), 6).as("sum_value"))
      .withColumn("snap", lit("v7"))
    val latest = t.read().groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"), dsum(col("value"), 6).as("sum_value"))
      .withColumn("snap", lit("latest"))
    pinned.unionByName(latest)
  }

  /** Metadata-only aggregate through the DSv2 reader
    * ([[graft.sources.CommitLogDataSource]] `SupportsPushDownAggregates`):
    * global COUNT/MIN/MAX answer from the manifest's row counts and
    * per-file stats in a one-row scan — zero data files read (the plan
    * shape is spec-pinned; this query pins the VALUES against the
    * oracle). Runs over the checkpoint demo table, so the stats served
    * come from a checkpoint-plus-diffs resolved manifest.
    */
  def tableAgg(s: SparkSession, dir: String): DataFrame =
    s.read.format("commitlog").load(commitLogCkptDir(s, dir))
      .agg(count(lit(1)).as("n_rows"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"),
        max(col("value")).as("max_value"))

  /** GROUPED metadata-only aggregate: `GROUP BY <partition column>`
    * answers from per-file partition values + manifest row counts/stats —
    * zero data files read, one output row per table partition (the
    * per-day monitoring rollups of `docs/databricks_setup.md:301-310`,
    * served the way Delta/Iceberg's metadata-only optimization serves
    * them). Demo table: `events` partitioned by `event_type`, built once
    * per session in a single commit.
    */
  def tableAggGroup(s: SparkSession, dir: String): DataFrame = {
    val tableDir = stampedTmpDir(s, dir, "graft-commitlog-parted", "events")
    SessionMemo.once(s, s"commitlogParted:$dir") {
      if (!graft.tables.CommitLogTable.exists(tableDir)) {
        val ev = Tables.events(s, dir)
          .select(col("event_id"), col("event_type"), col("value"))
        val t = graft.tables.CommitLogTable.create(s, tableDir, ev.schema,
          partitionCols = Seq("event_type"))
        t.append(ev, recordChanges = false)
      }
    }
    s.read.format("commitlog").load(tableDir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"), min(col("event_id")).as("min_id"),
        max(col("value")).as("max_value"))
  }

  /** MULTI-COLUMN partitioning: events in a commit-log table partitioned
    * by `(event_type, bucket)` — the composite key a 100 TB lake
    * realistically uses (the reference's raw zone already nests
    * `raw/fmp/<endpoint>/dt=…`, `fmp_dump_raw.py:86-111`). The grouped
    * aggregate over BOTH partition columns answers from the manifest's
    * per-file partition tuples alone — zero data files read
    * (plan-asserted in `CommitLogV2Spec`), the same metadata-only path
    * Delta serves `SELECT partition, count(*)` from its checkpoint.
    */
  def tableMultipart(s: SparkSession, dir: String): DataFrame = {
    val tableDir = stampedTmpDir(s, dir, "graft-commitlog-multipart", "events")
    SessionMemo.once(s, s"commitlogMultipart:$dir") {
      if (!graft.tables.CommitLogTable.exists(tableDir)) {
        val ev = Tables.events(s, dir)
          .select(col("event_id"), col("event_type"),
            (col("event_id") % 4).as("bucket"), col("value"))
        val t = graft.tables.CommitLogTable.create(s, tableDir, ev.schema,
          partitionCols = Seq("event_type", "bucket"))
        t.append(ev, recordChanges = false)
      }
    }
    s.read.format("commitlog").load(tableDir)
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("n_rows"), min(col("event_id")).as("min_id"),
        max(col("value")).as("max_value"))
  }

  /** ZERO-COPY ADOPTION (`CONVERT TO DELTA`'s analogue,
    * [[graft.tables.CommitLogTable.convert]]): a pre-existing plain-
    * parquet dump of events becomes a transactional commit-log table in
    * place — no data rewritten, footer stats adopted — and the very
    * first read through the DSv2 path already stats-prunes. The 100 TB
    * adoption story: a corpus migrates to the format for the cost of
    * one footer pass, not a rewrite.
    */
  def tableConvert(s: SparkSession, dir: String): DataFrame = {
    val root = stampedTmpDir(s, dir, "graft-convert-demo", "events")
    SessionMemo.once(s, s"commitlogConvert:$dir") {
      if (!graft.tables.CommitLogTable.exists(root)) {
        if (!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(root)))
          Tables.events(s, dir)
            .select(col("event_id"), col("event_type"), col("value"))
            .repartitionByRange(8, col("event_id"))
            .sortWithinPartitions("event_id")
            .write.parquet(root)
        graft.tables.CommitLogTable.convert(s, root)
      }
    }
    s.read.format("commitlog").load(root)
      .filter(col("event_id") % 5 === 0)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        dsum(col("value"), 6).as("sum_value"),
        min(col("event_id")).as("min_id"))
  }

  /** Zero-copy adoption of an existing DELTA table
    * ([[graft.tables.CommitLogTable.convertFromDelta]]): the demo
    * builds what a Databricks pipeline leaves behind — a
    * `partitionBy(event_type)` layout whose files OMIT the partition
    * column, governed by a `_delta_log` whose adds carry the
    * partitionValues — then adopts it via the LOG (never a directory
    * walk) and aggregates grouped by the manifest-attached column.
    * This is the migration verb a user of the reference runs first:
    * their Bronze/Silver tables ARE Delta tables
    * (`bronze_prices_auto_loader.ipynb` cell 4,
    * `docs/databricks_setup.md:96`).
    */
  def tableConvertDelta(s: SparkSession, dir: String): DataFrame = {
    val root = stampedTmpDir(s, dir, "graft-convert-delta-demo", "events")
    SessionMemo.once(s, s"commitlogConvertDelta:$dir") {
      if (!graft.tables.CommitLogTable.exists(root)) {
        import java.nio.file.{Files, Paths}
        if (!Files.isDirectory(Paths.get(root, "_delta_log"))) {
          Tables.events(s, dir)
            .select(col("event_id"), col("event_type"), col("value"))
            .repartitionByRange(4, col("event_id"))
            .write.partitionBy("event_type").parquet(root)
          // author the Delta log over the layout: one metaData + one
          // add per part file, partitionValues from the dir names
          val schemaJson = org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("event_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("event_type",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("value",
              org.apache.spark.sql.types.DoubleType))).json
          val m = new com.fasterxml.jackson.databind.ObjectMapper()
          val lines = new scala.collection.mutable.ArrayBuffer[String]
          locally {
            val proto = m.createObjectNode()
            proto.putObject("protocol")
              .put("minReaderVersion", 1).put("minWriterVersion", 2)
            lines += m.writeValueAsString(proto)
            val md = m.createObjectNode()
            val mdo = md.putObject("metaData")
            mdo.put("id", "graft-convert-delta-demo")
            mdo.putObject("format").put("provider", "parquet")
              .putObject("options")
            mdo.put("schemaString", schemaJson)
            mdo.putArray("partitionColumns").add("event_type")
            mdo.putObject("configuration")
            mdo.put("createdTime", 0L)
            lines += m.writeValueAsString(md)
          }
          import scala.jdk.CollectionConverters._
          val rootP = Paths.get(root)
          val parts = {
            val w = Files.walk(rootP)
            try w.iterator().asScala.filter(p =>
              Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
              .toVector.sortBy(_.toString)
            finally w.close()
          }
          parts.foreach { p =>
            val rel = rootP.relativize(p).toString
            val et = rel.split('/').head.stripPrefix("event_type=")
            val a = m.createObjectNode()
            val ao = a.putObject("add")
            ao.put("path", rel.split('/').map(seg =>
              java.net.URLEncoder.encode(seg, "UTF-8")
                .replace("+", "%20")).mkString("/"))
            ao.putObject("partitionValues").put("event_type",
              org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
                .unescapePathName(et))
            ao.put("size", Files.size(p))
            ao.put("modificationTime", 0L)
            ao.put("dataChange", true)
            lines += m.writeValueAsString(a)
          }
          Files.createDirectories(Paths.get(root, "_delta_log"))
          Files.write(Paths.get(root, "_delta_log",
            "00000000000000000000.json"),
            (lines.mkString("\n") + "\n")
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
        graft.tables.CommitLogTable.convertFromDelta(s, root)
      }
    }
    s.read.format("commitlog").load(root)
      .filter(col("event_id") % 7 === 0)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        dsum(col("value"), 6).as("sum_value"),
        min(col("event_id")).as("min_id"))
  }

  /** GENERATED ALWAYS AS columns end to end (Delta's generated columns
    * — the Databricks Bronze date-partitioning idiom,
    * `docs/databricks_setup.md:96`): a `day DATE GENERATED ALWAYS AS
    * (CAST(ts AS DATE))` partition column, the batch OMITS it, the
    * write computes it, and the aggregate groups by the generated
    * value — against a raw-data oracle that derives the same date.
    */
  def tableGenerated(s: SparkSession, dir: String): DataFrame = {
    val root = stampedTmpDir(s, dir, "graft-generated-demo", "events")
    SessionMemo.once(s, s"commitlogGenerated:$dir") {
      if (!graft.tables.CommitLogTable.exists(root)) {
        val schema = org.apache.spark.sql.types.StructType.fromDDL(
          "event_id BIGINT, ts TIMESTAMP, value DOUBLE, day DATE")
        val t = graft.tables.CommitLogTable.create(s, root, schema,
          partitionCols = Seq("day"))
        t.setProperties(Map(
          graft.tables.CommitLogTable.GeneratedPropPrefix + "day" ->
            "CAST(ts AS DATE)"))
        t.append(Tables.events(s, dir)
          .select(col("event_id"), col("ts"), col("value")),
          recordChanges = false)
      }
    }
    s.read.format("commitlog").load(root)
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_rows"),
        dsum(col("value"), 6).as("sum_value"),
        min(col("event_id")).as("min_id"))
  }

  /** Merge-on-read interop end to end: a commit-log table takes a LAZY
    * delete (metadata-only mark, [[graft.tables.CommitLogTable.deleteLazy]]),
    * exports as a Delta log whose adds carry protocol DELETION VECTORS
    * (reader v3, `deletion_vector_*.bin` in RoaringBitmap portable
    * format), and the aggregate runs over
    * [[graft.tables.DeltaLogBridge.read]] — the full mark → DV → filtered
    *-scan round trip, against the raw-data oracle. Reference anchor: the
    * reference's Bronze is a post-DBR-14 Databricks Delta table whose
    * DELETEs materialize as exactly these DVs
    * (`bronze_prices_auto_loader.ipynb` cell 4).
    */
  def deltaDvRead(s: SparkSession, dir: String): DataFrame = {
    val root = stampedTmpDir(s, dir, "graft-delta-dv-demo", "events")
    SessionMemo.once(s, s"deltaDv:$dir") {
      if (!graft.tables.CommitLogTable.exists(root)) {
        val df = Tables.events(s, dir)
          .select(col("event_id"), col("event_type"), col("value"))
        val t = graft.tables.CommitLogTable.create(s, root, df.schema)
        t.append(df, recordChanges = false)
        t.deleteLazy("event_id % 3 = 0")
        graft.tables.DeltaLogBridge.export(t)
      }
    }
    graft.tables.DeltaLogBridge.read(s, root)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        dsum(col("value"), 6).as("sum_value"),
        min(col("event_id")).as("min_id"))
  }

  /** Adopt a Delta table carrying a LIVE deletion vector (round 15 —
    * the post-DBR-14 default state of any DML'd Databricks table) and
    * read it THROUGH the commitlog scan planes: the DV rides the
    * manifest as per-file merge-on-read state
    * ([[graft.tables.CommitLogTable.LogFile.adoptedDv]]) and the DSv2
    * read filters its row indexes via the parquet reader's row-index
    * column + a broadcast bitmap probe — zero-copy adoption, no purge.
    * The fixture authors the protocol actions directly (u-storage
    * `.bin`, reader v3 / writer v7 features); the oracle is the raw
    * data minus the marked rows.
    */
  def deltaAdoptDv(s: SparkSession, dir: String): DataFrame = {
    val root = stampedTmpDir(s, dir, "graft-adopt-dv-demo", "events")
    SessionMemo.once(s, s"deltaAdoptDv:$dir") {
      if (!graft.tables.CommitLogTable.exists(root)) {
        import java.nio.file.{Files, Paths}
        import scala.jdk.CollectionConverters._
        if (!Files.isDirectory(Paths.get(root, "_delta_log"))) {
          Tables.events(s, dir)
            .select(col("event_id"), col("event_type"), col("value"))
            .coalesce(1).write.parquet(root)
          val rootP = Paths.get(root)
          val part = {
            val w = Files.list(rootP)
            try w.iterator().asScala.find(p =>
              p.toString.endsWith(".parquet")).get
            finally w.close()
          }
          // the DV marks event_id % 4 = 0 by the rows' FILE ordinals —
          // read the written file's own row indexes, no order assumption
          val ris = s.read.parquet(part.toString)
            .select(col("_metadata.row_index"), col("event_id"))
            .where(col("event_id") % 4 === 0)
            .collect().map(_.getLong(0)).sorted
          val bm = graft.tables.DeletionVectors.serializeBitmap(ris.iterator)
          val dvUuid = java.util.UUID.nameUUIDFromBytes(
            s"graft-adopt-dv-demo:$root".getBytes("UTF-8"))
          val off = graft.tables.DeletionVectors.writeFile(
            graft.tables.GPath(root, s"deletion_vector_$dvUuid.bin"),
            Seq(bm)).head
          val z85 = graft.tables.DeletionVectors.z85Uuid(dvUuid)
          val schemaJson = org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("event_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("event_type",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("value",
              org.apache.spark.sql.types.DoubleType))).json
          val m = new com.fasterxml.jackson.databind.ObjectMapper()
          val proto = m.createObjectNode()
          val pn = proto.putObject("protocol")
          pn.put("minReaderVersion", 3).put("minWriterVersion", 7)
          pn.putArray("readerFeatures").add("deletionVectors")
          pn.putArray("writerFeatures").add("deletionVectors")
          val md = m.createObjectNode()
          val mdo = md.putObject("metaData")
          mdo.put("id", "graft-adopt-dv-demo")
          mdo.putObject("format").put("provider", "parquet")
            .putObject("options")
          mdo.put("schemaString", schemaJson)
          mdo.putArray("partitionColumns")
          mdo.putObject("configuration")
          mdo.put("createdTime", 0L)
          val a = m.createObjectNode()
          val ao = a.putObject("add")
          ao.put("path", part.getFileName.toString)
          ao.putObject("partitionValues")
          ao.put("size", Files.size(part))
          ao.put("modificationTime", 0L)
          ao.put("dataChange", true)
          val dvo = ao.putObject("deletionVector")
          dvo.put("storageType", "u")
          dvo.put("pathOrInlineDv", z85)
          dvo.put("offset", off)
          dvo.put("sizeInBytes", bm.length)
          dvo.put("cardinality", ris.length.toLong)
          Files.createDirectories(Paths.get(root, "_delta_log"))
          Files.write(Paths.get(root, "_delta_log",
            "00000000000000000000.json"),
            (Seq(proto, md, a).map(m.writeValueAsString)
              .mkString("\n") + "\n")
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
        graft.tables.CommitLogTable.convertFromDelta(s, root)
      }
    }
    s.read.format("commitlog").load(root)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        dsum(col("value"), 6).as("sum_value"),
        min(col("event_id")).as("min_id"))
  }

  /** The STREAMING foreign-CDF consumer under the oracle (round 16):
    * `format("delta-cdf")` drains the mirrored `_delta_log` that
    * [[deltaCdfBridge]] builds — an AvailableNow run with a real
    * checkpoint — and the parquet it lands must hash-match the same
    * raw-data oracle the batch read does: the no-adoption streaming
    * path serves byte-equal images (the reference's CDF-driven Silver
    * as a pure consumer, `docs/databricks_setup.md:170-198`).
    */
  def deltaCdfStream(s: SparkSession, dir: String): DataFrame = {
    deltaCdfBridge(s, dir) // builds + memoizes the mirrored demo table
    val root = stampedTmpDir(s, dir, "graft-cdf-bridge-demo", "events")
    val out = stampedTmpDir(s, dir, "graft-cdf-stream-out", "events")
    SessionMemo.once(s, s"deltaCdfStream:$dir") {
      if (!java.nio.file.Files.isDirectory(
          java.nio.file.Paths.get(s"$out/p"))) {
        val q = s.readStream.format("delta-cdf").option("path", root).load()
          .writeStream.format("parquet").option("path", s"$out/p")
          .option("checkpointLocation", s"$out/ck")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        require(q.awaitTermination(300000), "delta-cdf stream stalled")
      }
    }
    s.read.parquet(s"$out/p")
      .select(col("event_id"), col("event_type"), col("value"),
        col("_change_type").as("change_type"),
        col("_commit_version").as("commit_version"))
  }

  /** The reference's FULL CDF-driven Silver loop over a foreign log,
    * composed end-to-end as a pure consumer (round 17;
    * `docs/databricks_setup.md:170-198`): a `format("delta-cdf")` stream
    * follows a foreign Delta table's change feed and each micro-batch
    * MERGEs latest-wins into a commit-log Silver table — checkpointed
    * across TWO waves of foreign commits (appends + cdc updates), so
    * wave 2 replays nothing of wave 1 — and the gold read serves the
    * reconstructed state with a per-type window rank. No adoption
    * anywhere: the foreign log stays foreign; Silver is the consumer's
    * own transactional table.
    */
  def deltaSilverMedallion(s: SparkSession, dir: String): DataFrame = {
    val root = stampedTmpDir(s, dir, "graft-silver-medallion", "events")
    val bronze = s"$root/bronze"
    val silver = s"$root/silver"
    def drain(): Unit = {
      val q = s.readStream.format("delta-cdf").option("path", bronze)
        .load().writeStream.option("checkpointLocation", s"$root/ck")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          // the reference's Silver recipe: drop preimages, collapse to
          // the LATEST image per key in the batch, MERGE
          val latest = graft.operators.Dedup.keepLast(
            batch.where(col("_change_type")
              .isin("insert", "update_postimage")),
            Seq("event_id"), Seq(col("_commit_version").desc))
            .select(col("event_id"), col("event_type"), col("value"))
          // recordChanges=false: silver's own change feed has no reader
          // (the gold read is a snapshot) — with CDF effectively off for
          // this table, the merge skips the change-set write, exactly
          // Delta's CDF-off default
          graft.tables.CommitLogTable.open(s, silver)
            .merge(latest, Seq("event_id"), Seq(col("event_id")),
              recordChanges = false)
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      require(q.awaitTermination(300000), "medallion stream stalled")
    }
    SessionMemo.once(s, s"deltaSilverMedallion:$dir") {
      if (!graft.tables.CommitLogTable.exists(bronze)) {
        val df = Tables.events(s, dir)
          .select(col("event_id"), col("event_type"), col("value"))
        val t = graft.tables.CommitLogTable.create(s, bronze, df.schema)
        t.setProperties(Map( // v1, mirror seeds here
          graft.tables.DeltaLogBridge.MirrorProp -> "true",
          "delta.enableChangeDataFeed" -> "true"))
        graft.tables.CommitLogTable.create(s, silver, df.schema)
        // wave 1: an append and a cdc update, drained through the
        // checkpointed consumer. Append insert images derive from adds
        // on the Delta CDF side (recordChanges=false — see
        // deltaCdfBridge); update cdc stays exact.
        t.append(df.filter(col("event_id") % 3 === 0),
          recordChanges = false) // v2
        t.update(col("event_id") % 100 === 0,
          Map("value" -> (col("value") + lit(1.0)))) // v3: cdc
        drain()
        // wave 2: the foreign writer keeps moving; the restarted
        // consumer serves ONLY v4..v5
        t.append(df.filter(col("event_id") % 3 === 1),
          recordChanges = false) // v4
        t.update(col("event_id") % 100 === 1,
          Map("value" -> (col("value") + lit(2.0)))) // v5: cdc
        drain()
      }
    }
    s.read.format("commitlog").load(silver)
      .select(col("event_id"), col("event_type"), col("value"))
      .withColumn("rn", row_number().over(org.apache.spark.sql
        .expressions.Window.partitionBy(col("event_type"))
        .orderBy(col("event_id"))))
  }

  /** Two-engine coexistence (round 16): a mirror-enabled graft table's
    * `_delta_log` receives a FOREIGN Delta commit (an external writer's
    * plain append, authored here protocol-verbatim — the reference's
    * still-running Databricks job mid-cutover,
    * `docs/databricks_setup.md:352-373`), and graft's next commit PULLS
    * it into the commit log first ([[graft.tables.DeltaLogBridge
    * .reconcile]] via the pre-commit hook) before appending its own
    * batch. The final table must hold base ∪ foreign ∪ graft rows
    * exactly; a failed pull aborts the query loudly instead.
    */
  def deltaReconcile(s: SparkSession, dir: String): DataFrame = {
    val root = stampedTmpDir(s, dir, "graft-reconcile-demo", "events")
    SessionMemo.once(s, s"deltaReconcile:$dir") {
      if (!graft.tables.CommitLogTable.exists(root)) {
        val df = Tables.events(s, dir)
          .select(col("event_id"), col("event_type"), col("value"))
        val t = graft.tables.CommitLogTable.create(s, root, df.schema)
        t.setProperties(Map( // graft v1, mirror-seeded at Delta v1
          graft.tables.DeltaLogBridge.MirrorProp -> "true",
          "delta.enableChangeDataFeed" -> "true"))
        // no CDF consumer on this table (final-state aggregate only) —
        // skip insert images and the mirror's _change_data copy
        t.append(df.filter(col("event_id") % 5 === 1),
          recordChanges = false) // graft/Delta v2
        // the FOREIGN writer's append: parquet + a protocol add, Delta v3
        import java.nio.file.{Files, Paths}
        import scala.jdk.CollectionConverters._
        df.filter(col("event_id") % 5 === 2).coalesce(1)
          .write.parquet(s"$root/foreign1")
        val part = {
          val w = Files.list(Paths.get(root, "foreign1"))
          try w.iterator().asScala.find(_.toString.endsWith(".parquet")).get
          finally w.close()
        }
        val m = new com.fasterxml.jackson.databind.ObjectMapper()
        val a = m.createObjectNode()
        val ao = a.putObject("add")
        ao.put("path", s"foreign1/${part.getFileName}")
        ao.putObject("partitionValues")
        ao.put("size", Files.size(part))
        ao.put("modificationTime", 0L)
        ao.put("dataChange", true)
        Files.write(Paths.get(root, "_delta_log",
          "00000000000000000003.json"),
          (m.writeValueAsString(a) + "\n")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        // graft's next append pulls Delta v3 in, then lands as v4
        t.append(df.filter(col("event_id") % 5 === 3),
          recordChanges = false)
        require(t.latestVersion == 4L &&
          t.resolvedManifest(Some(3L)).action == "reconcile",
          "reconcile demo: the foreign commit did not pull in")
      }
    }
    s.read.format("commitlog").load(root)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        dsum(col("value"), 6).as("sum_value"),
        min(col("event_id")).as("min_id"))
  }

  /** The CDF loop both ways (round 15): a graft table with
    * `delta.enableChangeDataFeed=true` mirrors its commits — two
    * appends (no cdc; readers derive inserts from adds) and one UPDATE
    * (cdc actions + `_change_data` parquet) — and
    * [[graft.tables.DeltaLogBridge.readChanges]] consumes the mirrored
    * `_delta_log` exactly like an external Delta CDF reader would:
    * the reference's CDF-driven Silver MERGE pattern
    * (`docs/databricks_setup.md:170-198`) served from a graft table
    * and validated against a raw-data oracle.
    */
  def deltaCdfBridge(s: SparkSession, dir: String): DataFrame = {
    val root = stampedTmpDir(s, dir, "graft-cdf-bridge-demo", "events")
    SessionMemo.once(s, s"deltaCdfBridge:$dir") {
      if (!graft.tables.CommitLogTable.exists(root)) {
        val df = Tables.events(s, dir)
          .select(col("event_id"), col("event_type"), col("value"))
        val t = graft.tables.CommitLogTable.create(s, root, df.schema)
        t.setProperties(Map(
          graft.tables.DeltaLogBridge.MirrorProp -> "true",
          "delta.enableChangeDataFeed" -> "true"))
        // append insert images are DERIVED by Delta CDF readers from the
        // add actions (Delta itself writes no cdc for blind appends), so
        // recordChanges=false skips both the graft insert-image write
        // and the mirror's _change_data copy; the UPDATE's cdc images
        // are exact and still flow through
        t.append(df.filter(col("event_id") % 2 === 0),
          recordChanges = false) // v2
        t.append(df.filter(col("event_id") % 2 === 1),
          recordChanges = false) // v3
        t.update(col("event_id") % 100 === 0,
          Map("value" -> (col("value") + lit(1.0)))) // v4: cdc
      }
    }
    graft.tables.DeltaLogBridge.readChanges(s, root, 2L, 4L)
      .select(col("event_id"), col("event_type"), col("value"),
        col("_change_type").as("change_type"),
        col("_commit_version").as("commit_version"))
  }

  /** Build-and-query entirely through the SQL surface
    * ([[graft.sources.CommitLogCatalog]]): CREATE TABLE … via the
    * catalog, two INSERT INTO … SELECT commits (each one transactional
    * append), read back with plain `spark.sql` over the catalog
    * identifier — the Databricks-SQL DDL/DML path of the reference
    * (`docs/databricks_setup.md` CREATE TABLE / INSERT), stateless over
    * the filesystem.
    */
  def tableSql(s: SparkSession, dir: String): DataFrame = {
    val wh = stampedTmpDir(s, dir, "graft-commitlog-sqlwh", "events")
    s.conf.set("spark.sql.catalog.graft_sql",
      classOf[graft.sources.CommitLogCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_sql.warehouse", wh)
    SessionMemo.once(s, s"commitlogSql:$dir") {
      if (!graft.tables.CommitLogTable.exists(s"$wh/gold/events")) {
        Tables.events(s, dir)
          .select(col("event_id"), col("event_type"), col("value"))
          .createOrReplaceTempView("graft_sql_events_src")
        s.sql("CREATE TABLE graft_sql.gold.events " +
          "(event_id BIGINT, event_type STRING, value DOUBLE)")
        s.sql("INSERT INTO graft_sql.gold.events SELECT event_id, " +
          "event_type, value FROM graft_sql_events_src WHERE event_id % 2 = 0")
        s.sql("INSERT INTO graft_sql.gold.events SELECT event_id, " +
          "event_type, value FROM graft_sql_events_src WHERE event_id % 2 = 1")
      }
    }
    s.sql("""SELECT event_type, count(*) AS n_rows,
      CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM graft_sql.gold.events GROUP BY event_type""")
  }

  /** Change feed through the TABLE read — Delta's
    * `spark.read.option("readChangeFeed", true).table(t)` spelling over
    * the SQL-catalog demo table (two INSERT INTO commits): every change
    * row is an insert image tagged with its commit version, identical
    * to what `readChanges`/the format read serve
    * ([[graft.plans.ResolveCommitLogCdfRelation]]).
    */
  def tableCdf(s: SparkSession, dir: String): DataFrame = {
    tableSql(s, dir) // builds graft_sql.gold.events once per session
    s.read.option("readChangeFeed", "true").table("graft_sql.gold.events")
      .select(col("event_id"), col("event_type"), col("value"),
        col("_change_type").as("change_type"),
        col("_commit_version").as("commit_version"))
  }

  /** Table-read CDF bounded by TIMESTAMPS (Delta's `startingTimestamp`
    * / `endingTimestamp` options): a two-commit demo whose commits are
    * forced onto distinct wall-clock millis, then the feed is read with
    * both bounds pinned at commit 2's instant — Delta's rules
    * (`startingTimestamp`: at-or-after, earliest qualifying version;
    * `endingTimestamp`: at-or-before, latest) must select EXACTLY the
    * second commit's insert images.
    */
  def tableCdfTs(s: SparkSession, dir: String): DataFrame = {
    val root = stampedTmpDir(s, dir, "graft-cdfts-demo", "events")
    SessionMemo.once(s, s"cdfTs:$dir") {
      if (!graft.tables.CommitLogTable.exists(root)) {
        val df = Tables.events(s, dir)
          .select(col("event_id"), col("event_type"), col("value"))
        val t = graft.tables.CommitLogTable.create(s, root, df.schema)
        t.append(df.filter(col("event_id") % 2 === 0))
        // the timestamp bound below must SEPARATE v1 from v2: hold the
        // second commit until the clock has moved past v1's millisecond
        val ts1 = t.resolvedManifest(Some(1L)).tsMillis
        while (System.currentTimeMillis() <= ts1) Thread.sleep(1L)
        t.append(df.filter(col("event_id") % 2 === 1))
      }
    }
    val t = graft.tables.CommitLogTable.open(s, root)
    val ts2 = t.resolvedManifest(Some(2L)).tsMillis
    s.read.format("commitlog").option("readChangeFeed", "true")
      .option("startingTimestamp", ts2.toString)
      .option("endingTimestamp", ts2.toString)
      .load(root)
      .select(col("event_id"), col("event_type"), col("value"),
        col("_change_type").as("change_type"),
        col("_commit_version").as("commit_version"))
  }

  /** Shallow clone of the 3-commit demo table PINNED at version 2 (built
    * once per session): a zero-copy fork whose reads must equal the
    * source's pinned snapshot — the same oracle as time travel, taken
    * through the clone's own manifest and absolute-path references.
    */
  def tableClone(s: SparkSession, dir: String): DataFrame = {
    val cloneDir = stampedTmpDir(s, dir, "graft-commitlog-clone", "events")
    val srcDir = commitLogDemoDir(s, dir)
    SessionMemo.once(s, s"commitlogClone:$dir") {
      if (!graft.tables.CommitLogTable.exists(cloneDir))
        graft.tables.CommitLogTable.open(s, srcDir)
          .shallowCloneTo(cloneDir, version = Some(2L))
    }
    graft.tables.CommitLogTable.open(s, cloneDir).read()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value"), 6).as("sum_value"))
  }
}
