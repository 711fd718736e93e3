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
    * loops of q148, q171, q172, q183 and q220 (the pageRank / HITS
    * query builds).
    *
    * Rationale (round 19): these loop bodies join each iteration's
    * nodes-sized rank frame against edge frames cached PRE-PARTITIONED
    * on the join key, so the per-iteration joins plan with no exchange
    * on the edge side — joins AQE cannot improve (its skew-split /
    * strategy rewrites act on ShuffleQueryStage inputs). AQE still cuts
    * the loop's one lazy plan into many query stages and re-optimizes
    * the deep nested plan at every stage boundary: driver time
    * proportional to plan size × stage count.
    *
    * Whether AQE pays is a per-query choice, backed by same-window
    * solo records (OPTIMIZATION_r19.md item 3); a query that wants AQE
    * builds on `s` directly. q148, q171 and q172 won on this session
    * (`bench_history/scratch_r19_loops_*`: q148 4.82 → 1.21 s and q171
    * 4.57 → 1.60 s at sf0.1); q183 and q220 were level, no gain
    * claimed. q125 and q219 lost here and build on `s`: three
    * alternating pairs at sf0.1 on 4 cores
    * (`solo_loopsession_aqe_{off,on}_*`) read q125 4.00–4.15 s here
    * against 2.47–3.08 s on `s`, and q219 3.99–4.37 against 3.36–3.48
    * s; AQE multiplies their jobs (5 → 16, 7 → 29) and driver gap
    * (about 4×) but halves execution.
    *
    * The child session shares the SparkContext, CacheManager and
    * builder-level confs (UTC, extensions), so caching/clearCache
    * semantics are unchanged.
    */
  def loopSession(s: SparkSession): SparkSession = {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    s2
  }
}
