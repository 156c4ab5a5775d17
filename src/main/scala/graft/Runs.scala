package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one session factory and between-run cleanup every graft `main`
  * (Bench, Verify, Smoke, the plan and timing tools, the evidence rigs)
  * goes through, so their sessions and hygiene cannot drift apart. */
object Runs {
  /** Bench's session config on `local[SPARK_GRAFT_CPUS]`, with as many
    * shuffle partitions; unset, the count is the JVM's available
    * processors. Callers add rig-only settings with `.config` and end in
    * `getOrCreate`, which reuses an already-active session (a caller that
    * started one, then runs `Verify.main`, keeps its own). */
  def builder(): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Long-session hygiene (the round-6 "VM steal" mislabel, diagnosed):
      // even with the UI off, AppStatusListener + SQLAppStatusListener feed
      // an InMemoryStore that retains up to 1000 jobs / 1000 stages /
      // 100k tasks / 1000 SQL executions WITH their full per-node metric
      // maps — at 390+ deep plans that is driver-heap-scale garbage that
      // inflates every late query (GC pressure, codegen cache eviction).
      // Cap the retained state at diagnostic-useful sizes.
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "5000")
      .config("spark.sql.ui.retainedExecutions", "30")
      // ContextCleaner reclaims shuffle files / broadcasts / checkpointed
      // RDD blocks only when the driver GC collects their weak refs; the
      // default periodic-GC interval (30 min) never fires inside a bench
      .config("spark.cleaner.periodicGC.interval", "120s")
  }

  /** JVM/codegen warm-up, so the first measured query doesn't pay startup. */
  def warm(spark: SparkSession): Unit =
    spark.range(1000000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()

  /** Between-run hygiene: operators that persist or localCheckpoint leave
    * blocks pinned after their result is consumed, and over hundreds of
    * queries the leak inflates every later one. Locally-CHECKPOINTED RDDs
    * are kept: their blocks are the ONLY copy (no lineage to recompute), so
    * unpersisting them breaks any later reference — ContextCleaner frees
    * them once their refs die. No GC here; callers choose their cadence. */
  def release(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .filterNot(_.isCheckpointed)
      .foreach(_.unpersist(blocking = false))
  }

  /** Seconds to build and run one query through the noop sink on a fresh
    * `newSession()`, the clock started BEFORE the query is built (eager
    * constructors charge their materialization here, as in Bench). Then
    * [[release]] and a GC, so ContextCleaner frees the run's shuffle and
    * broadcast state between timers rather than inside the next one. */
  def timed(spark: SparkSession)(build: SparkSession => DataFrame): Double = {
    val ss = spark.newSession()
    val t0 = System.nanoTime()
    try {
      build(ss).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    } finally {
      release(spark)
      System.gc()
    }
  }
}
