package graft

import org.apache.spark.sql.SparkSession

/** Standard session factory with the engine's scale-tuned defaults — one
  * place for the conf discipline every entry point (Verify/Bench/user code)
  * shares.
  *
  * The settings and why:
  *  - `shuffle.partitions`: sized to the cluster (cores here; ~2-3× total
  *    cores on a real cluster) instead of the 200 default — with AQE
  *    coalescing ON, this is the UPPER bound and small stages shrink
  *    automatically.
  *  - AQE on (default in Spark 4) + skew-join: runtime re-planning splits
  *    skewed shuffle partitions; `Skew.saltedJoin` covers what AQE can't.
  *  - `files.maxPartitionBytes` 128m: keeps scan partitions within executor
  *    memory at 100 TB inputs (a 100 TB scan → ~800k tasks, the right
  *    granularity for 1000 executors).
  *  - session timezone UTC: the reference stores tz-naive UTC timestamps;
  *    cross-engine determinism requires pinning it.
  *  - `cbo.planStats.enabled`: propagate catalog row counts (ANALYZE'd by
  *    [[graft.sources.Catalog.registerParquet]]) into logical-plan stats,
  *    so sizing decisions (IVF centroid counts) read metadata instead of
  *    paying a count job per query.
  *  - status-store retention capped (`sql.ui.retainedExecutions` 50,
  *    `ui.retainedJobs`/`ui.retainedStages` 100,
  *    `ui.dagGraph.retainedRootRDDs` 100): with the UI off the status and
  *    SQL-UI stores still keep every execution, job, stage, task and RDD
  *    graph up to the 1,000 defaults (root RDDs: unbounded), so a
  *    long-running pipeline's driver heap climbs with every medallion
  *    wave for hours. Nothing in this engine reads those stores;
  *    listeners see every event whatever the retention.
  */
object Sessions {
  def build(master: String, cores: Int, appName: String = "graft"): SparkSession =
    SparkSession.builder()
      .master(master)
      .appName(appName)
      // SQL functions + DML strategies + view rules; analyzer rules can
      // only be injected at construction (plans/ViewSql.scala)
      .withExtensions(new GraftExtensions())
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // `coalescePartitions.parallelismFirst` deliberately stays at its
      // default (true): the doc-recommended `false` (strict advisory-size
      // coalescing) was A/B'd in round 19 and lost — it collapses the
      // sub-64MB-but-CPU-HEAVY shuffle reads (winnow pair fan-out, banded
      // hamming joins) to one task (+0.5-0.8 s each at 32 cores) while
      // gaining nothing on the commit path (CommitProbe A/B: no delta).
      // Let AQE re-plan partitioning INSIDE cached plans (upstream default
      // false pins a cache's output partitioning for downstream reuse).
      // Every persisted intermediate in this engine — merge's full-outer
      // join, the session memos — otherwise materializes with
      // shuffle.partitions slices regardless of size, and each of its
      // consumers launches that many tasks: at 32 cores a tiny MERGE's
      // write stage ran 104 near-empty tasks and the commit was 2-3x
      // slower than at 8 cores. With the conf on, the cached join
      // coalesces to the advisory size and a warm merge drops 1.8-3.2 s →
      // ~1.1 s at 32 cores (CommitProbe A/B, round 19). At cluster scale
      // cached frames above the advisory size keep their parallelism —
      // only the pathological tiny-cache fan-out disappears.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.files.maxPartitionBytes", "134217728")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.cbo.planStats.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.dagGraph.retainedRootRDDs", "100")
      .getOrCreate()
}
