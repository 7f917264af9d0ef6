package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One place that builds graft sessions, so every entry point (Verify,
  * Bench, tests) runs with identical session-scoped semantics:
  *
  *  - UTC session timezone (oracle comparisons are timezone-free),
  *  - shuffle partitions sized to the local core count (the 100 TB
  *    deployment overrides via normal Spark conf; nothing in the query
  *    code assumes a partition count).
  *
  * No query in the library REQUIRES a graft-built session — e.g. the
  * ns-timestamp events table is read via an explicit schema, not a
  * session conf — so the registry also works from a caller's own
  * session.
  */
object Sessions {
  def defaultCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  def builder(appName: String, cpus: String = defaultCpus): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  /** Free every cross-query residue a harness can leave behind: the
    * catalog cache AND the persisted RDDs that back eager
    * localCheckpoints (invisible to clearCache — they are persisted
    * RDDs, not cached plans, and otherwise linger until GC). One copy
    * of the discipline for every harness that runs registry queries
    * (Bench, Verify, Profile, PlanProbe, ScaleProbe and the perfbench
    * query mix), so a fix to the isolation (ordering, blocking)
    * reaches all of them.
    */
  def isolateQueries(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  /** Runs `df` to completion and returns the elapsed seconds, building
    * the frame included (a query's eager jobs — checkpoints, driver
    * collects — run when it is built). The frame is driven by a `noop`
    * write: the sink consumes every row and writes nothing. `.count()`
    * is not a valid drive: Catalyst prunes every unused column under
    * it, so projection-only queries would time an empty scan, and it
    * eliminates whole unique-keyed join or derivation subtrees (a left
    * join against an aggregate keyed on the join column collapses to
    * the bare scan). Isolation between drives stays with the caller.
    */
  def drive(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }
}
