package graft

import org.apache.spark.sql.SparkSession

/** One place for session construction so every entry point (Bench,
  * Verify, Demo, Explain, tests) carries the same invariants:
  *
  * - UTC session timezone (oracle compare assumes it)
  * - parquet TIMESTAMP(NANOS) read as long (events table)
  * - GraftExtensions (cosine_sim SQL function + PrefixLevelPruning)
  * - shuffle partitions sized to the local core count, not the 200
  *   default (on a real cluster this is set per-job or left to AQE
  *   coalescing, which stays enabled either way)
  */
object Sessions {
  def build(cpus: String, appName: String = "graft"): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-sql-wh").toString)
      .config("spark.ui.enabled", "false")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    LshObservability.register(spark)
    spark
  }

  def fromEnv(appName: String = "graft"): SparkSession =
    build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"), appName)

  /** Child session with AQE disabled, for the FIXED-ITERATION rank
    * loops (the pageRank / trustRank / HITS query builds — q125, q148,
    * q171, q172, q183, q219, q220).
    *
    * Rationale (round-19, guide §1.2 "the distributed algorithm
    * first" then measured): these loop bodies join each iteration's
    * nodes-sized rank frame against edge frames cached PRE-PARTITIONED
    * on the join key, so the per-iteration joins plan with no exchange
    * on the edge side — exactly the joins AQE cannot improve (its
    * skew-split / strategy rewrites act on ShuffleQueryStage inputs),
    * and the loop's remaining exchanges are fixed-shape nodes-sized
    * aggregates. AQE still cuts the loop's one lazy plan into 15–30+
    * query stages (q125 executes as 32 jobs under AQE —
    * OPTIMIZATION_r19.md; the `jobs` of a solo `graft.Bench` record's
    * `layers` entry) and re-optimizes the deep nested plan at
    * every stage boundary: driver time proportional to PLAN size ×
    * stage count, independent of data size, so the replan tax does not
    * amortize at larger SFs. Sandwich A/B at sf0.1 (5-pass solo,
    * probes flat across the three runs): q125 4.43/3.83 → 2.96 s,
    * q171 3.15/2.69 → 1.58 s, q219 5.68/6.87 → 3.39 s.
    *
    * Whether AQE pays for a given loop is a per-query choice: a query
    * that wants AQE builds on `s` directly. The child session shares the SparkContext, CacheManager and
    * builder-level confs (UTC, extensions), so caching/clearCache
    * semantics are unchanged.
    */
  def loopSession(s: SparkSession): SparkSession = {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    s2
  }
}
