package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** BM25 sparse retrieval ("more-like-this"): score every corpus document
  * against a handful of term queries and keep the top-k per query.
  *
  * The scoring is Robertson/Sparck-Jones BM25 with one determinism
  * twist, the same move [[Selection.lmScore]] makes for perplexity: the
  * idf keeps its rational odds form `(N - df + 0.5) / (df + 0.5)`
  * WITHOUT the log. `ln` is a transcendental whose last ulp is
  * library-specific (JVM `Math.log` is 1-ulp semi-monotonic, glibc's
  * `log` is correctly rounded), so a logged idf could hash-diverge from
  * the DuckDB oracle on near-tie ranks; the rational form is pure IEEE
  * arithmetic — bit-identical cross-engine — and log is monotone, so
  * per-term the odds rank documents exactly as the logged idf would.
  * Per-document contributions are cast to DECIMAL(28,12) before the sum
  * (associative, order-independent), the established cross-engine
  * aggregation pattern.
  *
  * Scale shape: queries are tiny (a handful of term rows) and broadcast;
  * the corpus token stream is filtered to query terms BEFORE any
  * aggregate, so tf, df, and the scoring join all run on the postings of
  * the query vocabulary — cost is O(postings of queried terms), never
  * O(corpus vocabulary). Document length rides the explode projection
  * (`max` inside the tf group), so no corpus-scale dl join. The final
  * per-query top-k is a rank window Spark 4 caps map-side via
  * WindowGroupLimit.
  */
object Bm25 {

  /** Top-k BM25 retrieval where the queries are the first
    * `queryTerms` distinct tokens (in first-appearance order) of each
    * document with id < `nQueries` — the query document itself is
    * excluded from its own result list.
    * Output: `(query_id, <idCol>, n_terms, score, rank)`.
    */
  def moreLikeThis(docs: DataFrame, idCol: String, textCol: String,
      nQueries: Long, queryTerms: Int, k1: Double, b: Double,
      topK: Int): DataFrame = {
    require(nQueries >= 1 && queryTerms >= 1 && topK >= 1,
      s"need positive nQueries/queryTerms/topK, got $nQueries/$queryTerms/$topK")
    val base = tokenized(docs, idCol, textCol)

    // corpus stats: N docs and total tokens — one tiny broadcast row
    val stats = base.agg(count(lit(1)).as("__n"),
      sum(size(col("__toks"))).cast("long").as("__total"))
    val qt = queryTermTable(base, idCol, nQueries, queryTerms)

    // postings restricted to the query vocabulary: tf carries dl so the
    // scorer never joins back to the corpus. In-row tf (tfPostings) means
    // the broadcast term filter is the ONLY post-scan operator — no
    // (id, term) aggregation exchange.
    val tf = tfPostings(base, idCol)
      .join(broadcast(qt.select("term").distinct()), Seq("term"))
      .select(col(idCol), col("term"), col("tf").as("__tf"),
        col("dl").as("__dl"))
    scoreTopK(tf, qt, stats, idCol, k1, b, topK)
  }

  private def tokenized(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol), TextOps.tokens(col(textCol)).as("__toks"))

  /** Postings `(idCol, term, tf, dl)` computed IN-ROW, with NO
    * aggregation exchange: term frequency is a per-DOCUMENT fact, so the
    * former corpus-scale `explode → groupBy(id, term)` shuffle (one full
    * pass of every token over the network) is not fundamental (guide
    * §2.4 — remove shuffles outright). Each row sorts its token array
    * and run-length-encodes the equal runs with codegen-friendly
    * higher-order functions; the explode then emits one row per DISTINCT
    * term per doc — strictly fewer rows than the old per-token explode,
    * already carrying final counts. Row set identical to the groupBy
    * formulation (same (id, term, tf, dl) tuples).
    */
  private def tfPostings(base: DataFrame, idCol: String): DataFrame =
    base
      // explode over an empty/null token array emits no rows — mirror
      // that here (and keep the run-length lambdas off empty arrays)
      .filter(col("__toks").isNotNull && size(col("__toks")) >= 1)
      .select(col(idCol), size(col("__toks")).cast("long").as("dl"),
        sort_array(col("__toks")).as("__st"))
      .select(col(idCol), col("dl"), col("__st"), expr(
        "filter(sequence(0, size(__st) - 1), i -> i = 0 OR __st[i] != __st[i - 1])")
        .as("__starts"))
      .select(col(idCol), col("dl"), explode(expr(
        """zip_with(__starts,
             concat(slice(__starts, 2, size(__starts)), array(size(__st))),
             (s, e) -> struct(__st[s] AS term, CAST(e - s AS BIGINT) AS tf))"""))
        .as("__p"))
      .select(col(idCol), col("__p.term").as("term"), col("__p.tf").as("tf"),
        col("dl"))

  /** Query terms: first `queryTerms` distinct tokens per query doc,
    * ordered by first appearance (distinct terms have distinct first
    * positions; the term tiebreak is belt-and-braces).
    */
  /** The query-term table as a public kernel so callers can memoize it
    * per (session, corpus): every BM25 variant derives the SAME table,
    * and the index readers consume it three ways per call (bucket
    * collect + two broadcasts).
    */
  def queryTerms(docs: DataFrame, idCol: String, textCol: String,
      nQueries: Long, queryTerms: Int): DataFrame =
    // BARE (unpersisted, unregistered): this is the kernel callers hand
    // to SessionMemo.cached, which owns the storage. A per-query
    // CacheBin.register here would let the first drain() unpersist a
    // frame the session memo keeps serving for the rest of the suite.
    queryTermTableBare(tokenized(docs.filter(col(idCol) < nQueries),
      idCol, textCol), idCol, nQueries, queryTerms)

  private def queryTermTableBare(base: DataFrame, idCol: String,
      nQueries: Long, queryTerms: Int): DataFrame = {
    val qw = Window.partitionBy("query_id").orderBy(col("__fp"), col("term"))
    base.filter(col(idCol) < nQueries)
      .select(col(idCol).as("query_id"),
        posexplode(col("__toks")).as(Seq("__p", "term")))
      .groupBy("query_id", "term").agg(min(col("__p")).as("__fp"))
      .withColumn("__rn", row_number().over(qw))
      .filter(col("__rn") <= queryTerms)
      .select("query_id", "term")
  }

  private def queryTermTable(base: DataFrame, idCol: String,
      nQueries: Long, queryTerms: Int): DataFrame =
    // persisted per-query: the tiny query-term table drives the bucket
    // collect and two broadcast builds — each would otherwise re-run the
    // query tokenize + first-appearance window
    graft.CacheBin.register(
      queryTermTableBare(base, idCol, nQueries, queryTerms)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** The shared scoring tail: df rollup + rational-idf contributions +
    * per-query rank. `tf` is `(idCol, term, __tf, __dl)` — from a live
    * corpus pass ([[moreLikeThis]]) or pruned stored postings
    * ([[topKFromIndex]]); it feeds BOTH the df rollup and the scorer, so
    * it is persisted here (at 100 TB: materialize the postings slice
    * once, read it twice).
    */
  private def scoreTopK(tfIn: DataFrame, qt: DataFrame, stats: DataFrame,
      idCol: String, k1: Double, b: Double, topK: Int): DataFrame = {
    val tf = graft.CacheBin.register(tfIn
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val df_ = tf.groupBy("term").agg(count(lit(1)).as("__df"))

    val nD = col("__n").cast("double")
    val dfD = col("__df").cast("double")
    val tfD = col("__tf").cast("double")
    val dlD = col("__dl").cast("double")
    val totD = col("__total").cast("double")
    // rational-idf BM25 contribution; parenthesization mirrored verbatim
    // by the oracle SQL so IEEE evaluation order is identical
    val idf = (nD - dfD + lit(0.5)) / (dfD + lit(0.5))
    val den = tfD + lit(k1) * (lit(1.0 - b) + lit(b) * dlD * nD / totD)
    val contrib = idf * (tfD * lit(k1 + 1.0) / den)

    val scored = tf
      .join(broadcast(df_), Seq("term"))
      .join(broadcast(qt), Seq("term"))
      .crossJoin(broadcast(stats))
      .filter(col(idCol) =!= col("query_id"))
      .withColumn("__c", contrib.cast(DecimalType(28, 12)))
      .groupBy(col("query_id"), col(idCol))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("__c")).cast("double").as("score"))

    val rw = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col(idCol))
    scored.withColumn("rank", row_number().over(rw))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col(idCol), col("n_terms"), col("score"),
        col("rank").cast("int").as("rank"))
  }

  /** Materialize the BM25 index: the FULL postings table
    * `(idCol, term, tf, dl)` — query-independent, unlike the in-memory
    * path's query-vocabulary slice — bucketed by `xxhash64(term) mod
    * nBuckets` and written `partitionBy(term_bucket)` (repartitioned
    * first so each bucket is one task's contiguous file, the layout the
    * pruned reader wants), plus the one-row corpus stats. Vocabulary
    * cardinality never becomes directory cardinality — buckets do.
    */
  def indexWrite(docs: DataFrame, idCol: String, textCol: String,
      dir: String, nBuckets: Int): Unit = {
    require(nBuckets >= 1, s"need positive nBuckets, got $nBuckets")
    // corpus stats RIDE the postings job as observed metrics (a zero-pass
    // accumulator above the tf filter) — the former separate stats
    // aggregate re-tokenized the whole corpus a second time
    val (base, stats) = graft.Observed(tokenized(docs, idCol, textCol),
      count(lit(1)).as("n"),
      sum(size(col("__toks"))).cast("long").as("total"))
    // in-row tf: the postings build pays ONE shuffle (the term_bucket
    // clustering for the partitioned write) instead of two
    val postings = tfPostings(base, idCol)
      .select(col(idCol), col("term"), col("tf"), col("dl"))
      .withColumn("term_bucket",
        pmod(xxhash64(col("term")), lit(nBuckets.toLong)).cast("int"))
    postings.repartition(col("term_bucket"))
      .write.partitionBy("term_bucket")
      .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$dir/postings")
    val row = stats.await(s"bm25 index write at $dir")
    // sum over zero rows observes NULL
    val total = if (row.isNullAt(1)) lit(null) else lit(row.getLong(1))
    docs.sparkSession.range(1)
      .select(lit(row.getLong(0)).as("__n"), total.cast("long").as("__total"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$dir/stats")
  }

  // --------------------------------------------- maintained postings index

  /** Reserved partition value for corpus-stat rows inside a commit-log
    * postings table: real buckets are `pmod(hash) ∈ [0, nBuckets)`, so
    * `-1` can never collide with a query's bucket set.
    */
  val StatsBucket = -1

  /** Append one document batch to a commit-log-backed postings index.
    * Layout: ONE table partitioned by `term_bucket` holding the batch's
    * postings `(idCol, term, tf, dl)` PLUS a single corpus-stat row in
    * the reserved [[StatsBucket]] partition (`idCol` = batch doc count,
    * `tf` = batch token total, `term` = "", `dl` = 0) — the stat row
    * rides the SAME atomic commit as its postings, so any snapshot a
    * reader resolves has N/total consistent with the visible postings by
    * construction (two separate tables could publish one without the
    * other). Corpus stats are additive, so the append never reads old
    * data; [[graft.tables.CommitLogTable.compact]] bin-packs hot term
    * buckets without touching logical content. The first append creates
    * the table.
    */
  def indexLogAppend(spark: org.apache.spark.sql.SparkSession, dir: String,
      docs: DataFrame, idCol: String, textCol: String,
      nBuckets: Int): Long = {
    require(nBuckets >= 1, s"need positive nBuckets, got $nBuckets")
    // the tokenized batch feeds BOTH the postings rollup and the stat
    // row — cache it so the text pass runs once, not per branch
    val base = tokenized(docs, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    // in-row tf — same one-shuffle shape as indexWrite
    val postings = tfPostings(base, idCol)
      .withColumn("term_bucket",
        pmod(xxhash64(col("term")), lit(nBuckets.toLong)).cast("int"))
      .select(col(idCol), col("term"), col("tf"), col("dl"),
        col("term_bucket"))
    val statRow = base
      .agg(count(lit(1)).cast("long").as(idCol),
        sum(size(col("__toks"))).cast("long").as("tf"))
      .select(col(idCol), lit("").as("term"), col("tf"), lit(0L).as("dl"),
        lit(StatsBucket).as("term_bucket"))
    val batch = postings.unionByName(statRow)
    // recordChanges=false: postings are DERIVED from the document table,
    // which owns the change feed — insert images here would double the
    // append's write volume for re-derivable rows
    try graft.tables.CommitLogTable.forPath(spark, dir, batch.schema,
      Seq("term_bucket")).append(batch, recordChanges = false)
    finally base.unpersist(false)
  }

  /** BM25 top-k over a commit-log-backed postings index: identical math
    * to [[topKFromIndex]]; bucket pruning happens on the table MANIFEST
    * (driver-side metadata pass, no directory listings), and the corpus
    * stats are summed from the reserved stat partition of the SAME
    * resolved snapshot — reads stay consistent under concurrent appends.
    */
  def topKFromLog(docs: DataFrame, idCol: String, textCol: String,
      table: graft.tables.CommitLogTable, nBuckets: Int, nQueries: Long,
      queryTerms: Int, k1: Double, b: Double, topK: Int,
      qtIn: Option[DataFrame] = None): DataFrame = {
    val qt = qtIn.getOrElse(queryTermTable(
      tokenized(docs.filter(col(idCol) < nQueries), idCol, textCol),
      idCol, nQueries, queryTerms))
    val buckets = qt
      .select(pmod(xxhash64(col("term")), lit(nBuckets.toLong)).cast("int")
        .as("__b"))
      .distinct().collect().map(_.getInt(0)).toSet
    val version = table.latestVersion
    val tf = table.readPartitions(buckets.map(_.toString), Some(version))
      .join(broadcast(qt.select("term").distinct()), Seq("term"))
      .select(col(idCol), col("term"), col("tf").as("__tf"),
        col("dl").as("__dl"))
    val stats = table.readPartitions(Set(StatsBucket.toString), Some(version))
      .agg(sum(col(idCol)).as("__n"), sum(col("tf")).as("__total"))
    scoreTopK(tf, qt, stats, idCol, k1, b, topK)
  }

  /** BM25 top-k over a materialized index: derive the query-term table
    * from the (tiny) query documents, prune the stored postings to the
    * query terms' buckets — the `term_bucket` IN-list is literal, so it
    * prunes at the file-listing level (PartitionFilters, unprobed
    * directories untouched) — and run the same scoring tail as
    * [[moreLikeThis]]. Result-identical to the in-memory path; what
    * changes is that the corpus text pass is amortized into the stored
    * index. The bucket-id collect is bounded by the query vocabulary.
    */
  def topKFromIndex(docs: DataFrame, idCol: String, textCol: String,
      dir: String, nBuckets: Int, nQueries: Long, queryTerms: Int,
      k1: Double, b: Double, topK: Int,
      qtIn: Option[DataFrame] = None): DataFrame = {
    val spark = docs.sparkSession
    val qt = qtIn.getOrElse(queryTermTable(
      tokenized(docs.filter(col(idCol) < nQueries), idCol, textCol),
      idCol, nQueries, queryTerms))
    val buckets = qt
      .select(pmod(xxhash64(col("term")), lit(nBuckets.toLong)).cast("int")
        .as("__b"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val tf = spark.read.parquet(s"$dir/postings")
      .filter(col("term_bucket").isin(buckets: _*))
      .join(broadcast(qt.select("term").distinct()), Seq("term"))
      .select(col(idCol), col("term"), col("tf").as("__tf"),
        col("dl").as("__dl"))
    scoreTopK(tf, qt, spark.read.parquet(s"$dir/stats"),
      idCol, k1, b, topK)
  }

  /** Reciprocal-rank fusion of two retrieval result lists (Cormack et
    * al. 2009): `rrf = 1/(k0 + rank_sparse) + 1/(k0 + rank_dense)`,
    * absent-system contributions zero. Rank inputs are small integers,
    * so each term is one IEEE division — bit-identical cross-engine with
    * no decimal machinery; the two-term sum has a fixed order (sparse
    * first), mirrored by the oracle.
    *
    * Both inputs must carry `(query_id, doc_id, rank)`. The fused lists
    * are top-k-bounded on both sides, so this whole operator runs on
    * O(queries × k) rows — driver-scale relative to the retrieval passes
    * that feed it.
    */
  def rrfFuse(sparse: DataFrame, dense: DataFrame, k0: Double,
      topK: Int): DataFrame = {
    val sp = sparse.select(col("query_id"), col("doc_id"),
      col("rank").as("__rs"))
    val de = dense.select(col("query_id"), col("doc_id"),
      col("rank").as("__rd"))
    val rrf =
      coalesce(lit(1.0) / (lit(k0) + col("__rs").cast("double")), lit(0.0)) +
      coalesce(lit(1.0) / (lit(k0) + col("__rd").cast("double")), lit(0.0))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf").desc, col("doc_id"))
    sp.join(de, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("in_sparse", col("__rs").isNotNull)
      .withColumn("in_dense", col("__rd").isNotNull)
      .withColumn("rrf", rrf)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("doc_id"), col("in_sparse"),
        col("in_dense"), col("rrf"), col("rank").cast("int").as("rank"))
  }
}
