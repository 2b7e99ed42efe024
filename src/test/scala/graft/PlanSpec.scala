package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-hygiene guards: the physical properties the scale design promises
  * (filter pushdown, column pruning, broadcast dimensions, whole-stage
  * codegen) asserted on executed plans — a regression surfaces as a failing
  * spec here rather than a slow bench three rounds later.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("filters reach the parquet scan and projection prunes the read schema") {
    val df = Tables.lineitem(spark, TestSpark.sfDir)
      .filter($"l_quantity" < 24)
      .select("l_orderkey", "l_quantity")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), LessThan(l_quantity"),
      plan.take(3000))
    val rs = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(rs.contains("l_orderkey") && rs.contains("l_quantity"))
    // a pruned scan must not drag the wide columns to the reader
    assert(!rs.contains("l_comment") && !rs.contains("l_shipdate"), rs)
  }

  test("column-mapped commit-log read keeps pushdown and pruning on PHYSICAL names") {
    // a rename must stay plan-free: the logical→physical alias projection
    // cannot block filter pushdown or column pruning at the parquet scan
    val dir = java.nio.file.Files
      .createTempDirectory("graft-planspec-clog").toString
    val df = Seq((1L, "a", 1.0), (2L, "b", 25.0), (3L, "c", 50.0))
      .toDF("k", "cat", "v")
    val t = graft.tables.CommitLogTable.create(spark, dir, df.schema)
    t.append(df)
    t.renameColumn("v", "amount") // physical stays 'v'
    val q = t.read().filter($"amount" > 10.0).select("k", "amount")
    assert(q.collect().map(_.getLong(0)).toSet == Set(2L, 3L))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(v), GreaterThan(v"),
      plan.take(3000)) // pushed under the PHYSICAL in-file name
    val rs = plan.linesIterator.find(_.contains("ReadSchema")).get
    val struct = rs.substring(rs.indexOf("ReadSchema"))
    assert(struct.contains("k:bigint") && struct.contains("v:double") &&
      !struct.contains("cat"),
      struct) // pruning holds: the unselected column never reaches the reader
  }

  test("dimension joins broadcast the small side, no shuffle of the dims") {
    val plan = Queries.revenueByNation(spark, TestSpark.sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
  }

  test("the flagship aggregation runs inside whole-stage codegen") {
    val df = Queries.pricingSummary(spark, TestSpark.sfDir)
    df.collect() // AQE shows codegen stages only in the FINAL plan
    val plan = df.queryExecution.executedPlan.toString
    // the *(n) star marks a whole-stage-codegen'd operator in the final plan
    assert(plan.contains("*(1)") || plan.contains("*(2)"), plan.take(3000))
    assert(plan.linesIterator.exists(l => l.contains("HashAggregate") && l.contains("*(")),
      plan.take(3000)) // the agg itself is inside a codegen stage
    // decimal-exact agg stays codegen'd: no interpreted-eval fallback marker
    assert(!plan.contains("CodegenFallback"), plan.take(3000))
  }

  test("corpus-scale window queries never collapse to a single partition") {
    // the WindowExec warning is logger-scoped down for the intentional
    // (span-bounded) calendar windows — this guard keeps the blindness
    // from hiding a REAL regression: a heavy similarity/minhash window
    // losing its partition keys would show up here as SinglePartition
    for (q <- Seq("q_cosine_topk", "q_minhash_pairs")) {
      val df = SparkEntry.queries(q)(spark, TestSpark.sfDir)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("SinglePartition"), s"$q: " + plan.take(2000))
      CacheBin.drain()
    }
    CacheBin.drainAll()
  }

  test("gold view global ORDER BY: range-partitioned distributed sort, rows globally ordered") {
    val df = Queries.goldViewSorted(spark, TestSpark.sfDir)
    val rows = df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // a global orderBy must plan as a RANGE exchange (sampling + P-way
    // parallel sort), never a single-task sort
    assert(plan.toLowerCase.contains("rangepartitioning"), plan.take(2000))
    assert(!plan.contains("SinglePartition"), plan.take(2000))
    // and the collected order IS the reference's view order:
    // user asc, ts desc, event_id desc
    val keys = rows.map(r => (r.getAs[Long]("user_id"),
      -r.getAs[java.sql.Timestamp]("ts").getTime, -r.getAs[Long]("event_id")))
    assert(keys.sameElements(keys.sorted))
    CacheBin.drainAll()
  }

  test("decontaminate joins the benchmark grams as a broadcast, never a sort-merge") {
    val docs = Tables.documents(spark, TestSpark.sfDir)
    val df = graft.llm.TextOps.decontaminate(docs, "doc_id", "text",
      docs.filter($"doc_id" < 10), "doc_id", "text", n = 3, minOverlap = 3L)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("quantized rerank broadcasts pool and queries; corpus floats never shuffle") {
    val emb = Tables.embeddings(spark, TestSpark.sfDir)
    val df = graft.llm.Quantize.quantizedTopK(emb, "vec_id", "embedding",
      $"vec_id" < 3, k = 5)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // both rerank joins are broadcast-built; the corpus float side appears
    // only as a scan feeding a broadcast join probe, not a shuffle write
    assert(plan.sliding("BroadcastHashJoin".length).count(_ == "BroadcastHashJoin") >= 2,
      plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("minhash recall ground truth is an inverted-index broadcast join, never a cross product") {
    // the exact-Jaccard ground truth must stay the explode + broadcast
    // probe-shingle join (scan-linear); a regression back to
    // crossJoin+array_intersect shows up as a nested-loop/cartesian
    // operator and |corpus|×|probes| array walks
    val df = Queries.minhashRecall(spark, TestSpark.sfDir)
    df.collect()
    // AQE's toString repeats operators across the final/initial plan
    // sections — count only the final plan
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    // exactly one loop join is legitimate: the 1-row × 1-row stats
    // combine at the top; a second one means row-level pair generation
    // regressed to a cross product
    val loops = "CartesianProduct|BroadcastNestedLoopJoin".r
      .findAllIn(plan).size
    assert(loops <= 1, s"$loops loop joins:\n" + plan.take(3000))
  }

  test("trading-day gate stays a broadcast semi-join on the fact side") {
    val plan = Queries.tradingDayEvents(spark, TestSpark.sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      plan.take(3000))
  }

  test("label coherence broadcasts the codebook; the corpus never sort-merges") {
    val plan = Queries.labelCoherence(spark, TestSpark.sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("sequence packing plans no Window operator — the prefix-sum replaced it") {
    val plan = Queries.packSequences(spark, TestSpark.sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"a Window in the packing plan means the single-task global sort is back:\n${plan.take(3000)}")
    CacheBin.drain()
  }

  test("lang queries evaluate each trigram score stack once, not per CASE branch") {
    // 15 distinct trigram patterns total (now non-regex StringReplace);
    // if the CASE inlined the score expressions the optimized plan would
    // carry ~2x the replace calls. Count occurrences in the optimized
    // plan of the confusion query: exactly 15 per text reference.
    val n = "replace\\(".r.findAllIn(
      Queries.langConfusion(spark, TestSpark.sfDir)
        .queryExecution.optimizedPlan.toString).size
    assert(n == 15, s"expected 15 replace evaluations, found $n")
  }

  test("dsir/lm/oov stats sides broadcast; the corpus stream never sort-merges") {
    // lmScore's QUERY plan is now a memoized checkpoint leaf — assert
    // the BUILD pipeline's shape by invoking the operator directly
    val lmBuild = (s: org.apache.spark.sql.SparkSession, dir: String) =>
      graft.llm.Selection.lmScore(Tables.documents(s, dir), "doc_id", "text")
    for (q <- Seq(Queries.dsirWeights _, lmBuild, Queries.oovRate _)) {
      val df = q(spark, TestSpark.sfDir)
      df.collect() // AQE final plan
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
      assert(!plan.contains("SortMergeJoin"),
        s"a sort-merge join means a vocabulary-bounded stats table shuffled " +
          s"the corpus stream:\n${plan.take(3000)}")
    }
    CacheBin.drain()
  }

  test("pmi stats sides broadcast; top-k is TakeOrdered, never a global sort") {
    val df = Queries.pmiCollocations(spark, TestSpark.sfDir)
    df.collect() // AQE final plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"),
      s"a sort-merge join means a vocabulary-bounded stats table shuffled " +
        s"the bigram table:\n${plan.take(3000)}")
    assert(plan.contains("TakeOrderedAndProject"),
      s"the top-k must not plan a global sort:\n${plan.take(3000)}")
    CacheBin.drain()
  }

  test("gopher rules plan scan-local: no exchange at all") {
    val plan = Queries.gopherRules(spark, TestSpark.sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"the rule audit is one narrow projection; an Exchange is a regression:\n${plan.take(3000)}")
  }

  test("chunk windows plan scan-local: no exchange at all") {
    val plan = Queries.chunkWindows(spark, TestSpark.sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"window chunking is an in-row explode; an Exchange is a regression:\n${plan.take(3000)}")
  }

  test("intra-doc line dedup and line filter plans are scan-local: no exchange") {
    Seq(Queries.intraDocDedup(spark, TestSpark.sfDir),
        Queries.lineFilterDocs(spark, TestSpark.sfDir)).foreach { df =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"line-local curation is an in-row higher-order filter; an Exchange is a regression:\n${plan.take(3000)}")
    }
  }

  test("semantic decon broadcasts the eval slice; the corpus never sort-merges") {
    val plan = Queries.decontaminateSemantic(spark, TestSpark.sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("bm25 joins the query vocabulary, df, and stats as broadcasts — no sort-merge") {
    // the raw operator, not the memoized wrapper: the cached frame's
    // executed plan would be an InMemoryTableScan hiding the joins
    val plan = graft.llm.Bm25.moreLikeThis(
        Tables.documents(spark, TestSpark.sfDir), "doc_id", "text",
        nQueries = Queries.Bm25NQueries, queryTerms = Queries.Bm25QueryTerms,
        k1 = Queries.Bm25K1, b = Queries.Bm25B, topK = Queries.Bm25TopK)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
    CacheBin.drain()
  }

  test("simhash banded join: broadcast + probe spread when the band table " +
      "is small; both dropped when it is not") {
    // small regime (test corpus under the broadcast threshold): the build
    // side is explicitly broadcast and the probe side is re-keyed by
    // doc_a so a hot (band, bv) bucket's pair expansion spreads across
    // tasks — the spread is only sound UNDER a broadcast (round-18 advice:
    // the old code silently depended on AQE choosing one)
    val small = Queries.simhashHamming64(spark, TestSpark.sfDir)
      .queryExecution.executedPlan.toString
    assert(small.contains("BroadcastHashJoin"), small.take(3000))
    assert(!small.contains("SortMergeJoin"), small.take(3000))
    // the probe-spread repartition (REPARTITION_BY_COL marks the explicit
    // repartition(doc_a) — the distinct's ENSURE_REQUIREMENTS exchange
    // also hashes on doc_a, so the origin tag is the discriminator)
    assert(small.contains("REPARTITION_BY_COL"), small.take(3000))
    // corpus-scale regime (threshold off): the plan-time stats gate drops
    // BOTH the broadcast hint (a corpus-sized build side would OOM) and
    // the repartition (the join's (band, bv) exchange would immediately
    // overwrite it — a wasted corpus-wide shuffle)
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val big = Queries.simhashHamming64(spark, TestSpark.sfDir)
        .queryExecution.executedPlan.toString
      assert(!big.contains("REPARTITION_BY_COL"), big.take(3000))
      assert(big.contains("SortMergeJoin") || big.contains("ShuffledHashJoin"),
        big.take(3000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    CacheBin.drain()
  }

  test("epoch order never plans a single-partition global sort") {
    val df = Queries.epochOrder(spark, TestSpark.sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the window must be keyed by shard (hashpartitioning), not a global
    // ORDER BY (rangepartitioning or SinglePartition would both betray it)
    assert(plan.contains("hashpartitioning(shard"), plan.take(3000))
    assert(!plan.contains("rangepartitioning"), plan.take(3000))
    CacheBin.drain()
  }

  test("observed metrics AQE prunes from a plan fail naming the plan, never block") {
    import org.apache.spark.sql.functions.{count, lit, rand}
    // the round-19 hang: a CollectMetrics below an operator that AQE's
    // empty-relation propagation replaces once a stage runs empty. The
    // hang had it in a union branch; on Spark 4.1 an empty union branch
    // keeps the node, and an inner join with a runtime-empty side drops
    // it, node and all
    val runsEmpty = spark.range(100).toDF("j")
      .filter($"j" > rand() * 1000 + 1000).repartition(2)
    val (side, metrics) = Observed(spark.range(10).toDF("id"), count(lit(1)))
    val out = java.nio.file.Files.createTempDirectory("graft-observed").toString
    side.join(runsEmpty, $"id" === $"j").write.mode("overwrite").parquet(out)
    // far inside Observed.WaitBound: the wait ends on the empty metric
    // row, it never runs out the bound
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException](metrics.await(s"pruned write at $out"))
    assert(System.nanoTime() - t0 < 30L * 1000000000L)
    assert(e.getMessage.contains(s"pruned write at $out"), e.getMessage)
    assert(e.getMessage.contains("are missing"), e.getMessage)
    assert(e.getMessage.contains("CollectMetrics"), e.getMessage)
    // the same metrics at the root of the written frame always arrive
    val (root, rootMetrics) = Observed(
      spark.range(10).toDF("id").join(runsEmpty, $"id" === $"j"), count(lit(1)))
    root.write.mode("overwrite").parquet(out)
    assert(rootMetrics.await("root write").getLong(0) == 0L)
  }
}
