package graft.ops

import graft.CacheScope
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Product-analytics operators over an event stream: ordered conversion
  * funnels and cohort retention — the two aggregate shapes behind every
  * "did users who did A go on to do B" dashboard.
  *
  * Both are per-user aggregations: every stage is a `groupBy(user)` (one
  * shuffle, map-side partial min/distinct) or a user-keyed equi-join
  * between per-user frames, so the work is hash-partitioned by user and
  * scales with the user dimension, never with raw event volume in a
  * single task. No windows over the full event table, no driver
  * collects.
  */
object Events {

  /** Ordered conversion funnel with a per-step conversion window: a
    * user reaches step i+1 iff they have a `steps(i+1)` event STRICTLY
    * after their step-i conversion time and within `windowUs` of it;
    * the step-i conversion time is the EARLIEST qualifying event (the
    * standard first-touch funnel, which makes the result
    * order-deterministic regardless of event arrival order).
    *
    * Returns one row per step: (step, event_type, n_users) — the
    * attrition curve. Each stage is one filtered `groupBy(user).min`
    * plus an equi-join against the previous stage's per-user frame
    * (already user-unique, so the join never amplifies), keyed on the
    * same column throughout — at scale every shuffle is on `user` and
    * the stage frames shrink monotonically.
    *
    * `usCol` must be a monotone numeric time (epoch micros here —
    * events.ts is nanos parquet, and the micros truncation is the form
    * the oracle can see; see Tables.events).
    */
  def funnel(events: DataFrame, userCol: String, typeCol: String,
             usCol: Column, steps: Seq[String], windowUs: Long,
             scope: CacheScope = new CacheScope): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(windowUs > 0, s"conversion window must be positive, got $windowUs")
    val disk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val e = events.select(col(userCol).as("_u"), col(typeCol).as("_ty"),
      usCol.as("_us"))
    val first = e.filter(col("_ty") === steps.head)
      .groupBy(col("_u")).agg(min(col("_us")).as("_t"))
    val stages = steps.tail.scanLeft(first) { (prev, step) =>
      e.filter(col("_ty") === step)
        .join(prev.select(col("_u").as("_pu"), col("_t").as("_pt")),
          col("_u") === col("_pu") &&
            col("_us") > col("_pt") && col("_us") <= col("_pt") + lit(windowUs))
        .groupBy(col("_u")).agg(min(col("_us")).as("_t"))
    }
    // every stage frame except the last feeds BOTH its own count and
    // the next stage's join — uncached, stage 1 would re-execute once
    // per downstream stage (3x the event scans on a 3-step funnel).
    // The last frame is read once and stays uncached.
    stages.dropRight(1).foreach(scope.persist(_, disk))
    stages.zip(steps).zipWithIndex.map { case ((df, step), i) =>
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1).as("step"), lit(step).as("event_type"),
          col("n_users").cast("long").as("n_users"))
    }.reduce(_ unionAll _)
  }

  /** Per-user funnel conversion times: one row per user who completed
    * the whole funnel, with the conversion timestamp of every step —
    * the row-level form [[funnel]] aggregates, for downstream
    * time-to-convert analysis. Columns: user, t_1..t_n (epoch micros).
    */
  def funnelTimes(events: DataFrame, userCol: String, typeCol: String,
                  usCol: Column, steps: Seq[String], windowUs: Long): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val e = events.select(col(userCol).as("_u"), col(typeCol).as("_ty"),
      usCol.as("_us"))
    val first = e.filter(col("_ty") === steps.head)
      .groupBy(col("_u")).agg(min(col("_us")).as("t_1"))
    steps.tail.zipWithIndex.foldLeft(first) { case (prev, (step, i)) =>
      e.filter(col("_ty") === step)
        .join(prev.withColumnRenamed("_u", "_pu"),
          col("_u") === col("_pu") &&
            col("_us") > col(s"t_${i + 1}") &&
            col("_us") <= col(s"t_${i + 1}") + lit(windowUs))
        .groupBy((col("_u") +: (1 to i + 1).map(j => col(s"t_$j"))): _*)
        .agg(min(col("_us")).as(s"t_${i + 2}"))
    }.withColumnRenamed("_u", userCol)
  }

  /** Cohort retention: cohort a user by their FIRST event day (any
    * type), then count how many of each cohort were active — had an
    * event passing `activity` — at each day offset since their cohort
    * day. Returns (cohort_day, day_offset, n_users).
    *
    * `dayCol` is an integer epoch day (micros div 86400e6) — integer
    * arithmetic end-to-end, so the result is engine-exact. Two
    * user-keyed shuffles (cohort min + the distinct), both map-side
    * combined; output is cohorts x offsets — bounded, dashboard-sized.
    */
  def cohortRetention(events: DataFrame, userCol: String, dayCol: Column,
                      activity: Column): DataFrame = {
    val e = events.select(col(userCol).as("_u"), dayCol.as("_day"),
      activity.as("_act"))
    val cohorts = e.groupBy(col("_u")).agg(min(col("_day")).as("cohort_day"))
    e.filter(col("_act"))
      .join(cohorts.withColumnRenamed("_u", "_cu"), col("_u") === col("_cu"))
      .select(col("_u"), col("cohort_day"),
        (col("_day") - col("cohort_day")).as("day_offset"))
      .distinct()
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Event-transition matrix: per-user consecutive event-type pairs
    * (ordered by timestamp with the event id as the deterministic
    * tiebreak), counted over the corpus, with the row-normalized
    * transition probability in exact-integer ppm — the Markov-chain
    * statistics behind behavioural-sequence training data (next-event
    * prediction corpora, UX-flow anomaly screens).
    *
    * Shape: one user-keyed window (LEAD) + one (from, to)-keyed count
    * + one from-keyed window for the row totals — all high-cardinality
    * keys, no corpus-squared joins, output bounded by |types|².
    */
  def transitionMatrix(events: DataFrame, userCol: String, typeCol: String,
                       orderCols: Seq[String]): DataFrame = {
    require(orderCols.nonEmpty, "transitionMatrix needs ordering columns")
    val w = Window.partitionBy(col(userCol)).orderBy(orderCols.map(col): _*)
    events
      .select(Seq(col(userCol), col(typeCol).as("from_type")) ++
        orderCols.map(col): _*)
      .withColumn("to_type", lead(col("from_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy("from_type", "to_type")
      .agg(count(lit(1)).cast(LongType).as("n"))
      .withColumn("_tot", sum(col("n")).over(Window.partitionBy("from_type")))
      .withColumn("p_ppm", expr("(1000000 * n) div _tot").cast(LongType))
      .drop("_tot")
  }

  /** BURST screen: per (event type, day), the event count against the
    * type's LOWER-MEDIAN daily count — `burst` fires when
    * `n * 1e6 >= factorPpm * median`, the bot-spike / replay-storm /
    * broken-client signal an event-stream QA wants before the data
    * feeds behavioural training (a 3x-median day of `purchase` events
    * is a promotion or a fraud run; either way it distorts transition
    * statistics).
    *
    * The median is the exact value at rank `(m+1) div 2` under the
    * deterministic (count, day) total order — integer-exact and
    * engine-replayable where percentile interpolation is not. Shape:
    * one (type, day) count (map-side combined), two type-partitioned
    * windows over the DAY-count frame (bounded: types × days rows,
    * never raw events), one broadcast-sized median join back. Output:
    * `(event_type, day, n, med, burst)`.
    */
  def burstScreen(events: DataFrame, typeCol: String, dayCol: Column,
                  factorPpm: Long = 3000000L): DataFrame = {
    require(factorPpm >= 1000000L,
      s"factorPpm below 1e6 flags sub-median days, got $factorPpm")
    val counts = events
      .select(col(typeCol).as("event_type"), dayCol.as("day"))
      .groupBy("event_type", "day")
      .agg(count(lit(1)).cast(LongType).as("n"))
    val byN = Window.partitionBy("event_type").orderBy(col("n"), col("day"))
    val all = Window.partitionBy("event_type")
    val med = counts
      .withColumn("_rn", row_number().over(byN))
      .withColumn("_m", count(lit(1)).over(all))
      .filter(col("_rn") === expr("(_m + 1) div 2"))
      .select(col("event_type").as("_mt"), col("n").as("med"))
    counts.join(med, col("event_type") === col("_mt"))
      .drop("_mt")
      .withColumn("burst", expr(s"n * 1000000L >= ${factorPpm}L * med"))
  }

  /** Sweep-line concurrency over HALF-OPEN intervals [start, end):
    * each interval contributes a +1 point at `startCol` and a -1 point
    * at `endCol` (exclusive — callers with inclusive last-instant
    * intervals pass end+1); the running sum of deltas in
    * (t, delta, tie...) order is the number of concurrently open
    * intervals after each boundary. Ends sort before starts at an
    * equal instant (delta -1 < +1), so back-to-back intervals never
    * count as overlapping, and because every interval's start strictly
    * precedes its end point in that order, the running count never
    * goes negative.
    *
    * The global running sum rides [[Hierarchical.prefixSum]] — range
    * slices + broadcast offsets, never a single-task global window
    * (the WindowExec trap every naive sweep-line hits at scale).
    * `tieCols` must make (t, delta, tie...) unique — determinism of
    * the point order is the oracle contract. Output: the boundary
    * points with `t`, `delta`, tie columns, and `concurrency` (the
    * count in effect FROM this point until the next). The scaffold's
    * cache is persisted through `scope`.
    */
  def concurrency(intervals: DataFrame, startCol: String, endCol: String,
                  tieCols: Seq[String], chunks: Int = 0,
                  scope: CacheScope = new CacheScope): DataFrame = {
    val ties = tieCols.map(col)
    // explode, not union: a union of two projections plans the
    // interval-producing subtree TWICE (audited on q230 — the whole
    // sessionization ran per branch); one explode is a single pass
    val pts = intervals
      .select(explode(array(
        struct(col(startCol).cast("long").as("t") +:
          lit(1L).as("delta") +: ties: _*),
        struct(col(endCol).cast("long").as("t") +:
          lit(-1L).as("delta") +: ties: _*))).as("_p"))
      .select(col("_p.*"))
    val sort = col("t") +: col("delta") +: ties
    Hierarchical.prefixSum(pts, sort, Nil, col("delta"), "_before", chunks,
      scope)
      .withColumn("concurrency", col("_before") + col("delta"))
      .drop("_before")
  }

  /** Out-of-order ARRIVAL census — the operational gauge behind
    * [[graft.ops.Temporal.scd2Repair]]'s straggler path and every
    * streaming watermark decision: per key, how many rows arrived
    * AFTER a later-event-time row had already arrived (the rows a
    * streaming maintainer drops or a watermark must cover), and how
    * late the worst one was. Detection is the same batch-agnostic rule
    * scd2Repair uses: a row is late iff some earlier arrival of its
    * key carried a later (ts, tie). One per-key window in arrival
    * order (in-task, bounded by the key's history) + one bounded
    * aggregate. Output per key: `(key..., n_rows, n_late,
    * max_lateness)` in the ts column's units.
    */
  def latenessCensus(log: DataFrame, keys: Seq[String], tsCol: String,
                     tieCol: String, arrivalCol: String): DataFrame = {
    val prior = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(arrivalCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    log
      .withColumn("_max_prior",
        max(struct(col(tsCol), col(tieCol))).over(prior))
      .withColumn("_late", col("_max_prior").isNotNull &&
        struct(col(tsCol), col(tieCol)) < col("_max_prior"))
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).cast("long").as("n_rows"),
        sum(when(col("_late"), 1L).otherwise(0L)).cast("long").as("n_late"),
        coalesce(max(when(col("_late"),
          col("_max_prior")(tsCol) - col(tsCol))), lit(0L))
          .cast("long").as("max_lateness"))
  }

  /** Linear multi-touch attribution: every touch PRECEDING a
    * conversion (same (ts, tie) order contract as
    * [[lastTouchAttribution]]) whose NEXT conversion is that one and
    * within `windowUs` shares the conversion's value equally —
    * `credit_micro = value*1e6 div n_touches` per touch (the floor
    * remainder, < n_touches micro-units, stays unassigned:
    * deterministic, documented). Conversions with no touches credit
    * 'organic' in full.
    *
    * Shape: one REVERSED per-user window pins each touch to its next
    * conversion (nearest following in the (ts, tie) order — no
    * self-join, no per-conversion probe), one per-conversion count
    * window sizes the split, one user-keyed equi-join fetches the
    * conversion value. Everything shuffles on the user key only.
    *
    * Output: one row per credit — (user, conv_us, attributed,
    * touch_us null for organic, credit_micro).
    */
  def multiTouchAttribution(events: DataFrame, userCol: String,
                            typeCol: String, usCol: String, tieCol: String,
                            valueCol: String, convType: String,
                            touchTypes: Seq[String],
                            windowUs: Long): DataFrame = {
    require(windowUs > 0, s"windowUs must be positive, got $windowUs")
    require(!touchTypes.contains(convType),
      s"conversion type $convType cannot also be a touch type")
    // nearest FOLLOWING conversion = last over the descending order's
    // preceding frame
    val wDesc = Window.partitionBy(userCol)
      .orderBy(col(usCol).desc, col(tieCol).desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    // the pinned conversion carries its TIE alongside its timestamp:
    // two same-instant conversions of one user are distinct pin
    // targets, so each touch joins exactly one conversion and the
    // per-conversion split counts only its own touches
    val touches = events
      .withColumn("_next_conv", last(
        when(col(typeCol) === convType,
          struct(col(usCol).as("us"), col(tieCol).as("tie"))),
        ignoreNulls = true).over(wDesc))
      .filter(col(typeCol).isin(touchTypes: _*) &&
        col("_next_conv").isNotNull &&
        col("_next_conv.us") - col(usCol) <= windowUs)
      .select(col(userCol).as("_u"), col(typeCol).as("_ty"),
        col(usCol).as("_tus"), col("_next_conv"))
    val perConv = Window.partitionBy("_u", "_next_conv")
    val sized = touches.withColumn("_n", count(lit(1)).over(perConv))
    val convs = events.filter(col(typeCol) === convType)
      .select(col(userCol).as("user"), col(usCol).as("conv_us"),
        col(tieCol).as("_ctie"), col(valueCol).as("_v"))
    val credited = convs.join(sized,
        col("user") === col("_u") &&
          col("conv_us") === col("_next_conv.us") &&
          col("_ctie") === col("_next_conv.tie"),
        "left")
      .withColumn("attributed", coalesce(col("_ty"), lit("organic")))
      .withColumn("touch_us", col("_tus"))
      // value -> micro through DECIMAL(25,6): a double->bigint cast
      // truncates in Spark but rounds in DuckDB; the decimal hop is
      // exact and identical on both engines (the house dsum policy)
      .withColumn("_v_micro",
        expr("CAST(CAST(_v AS DECIMAL(25,6)) * 1000000 AS BIGINT)"))
      .withColumn("credit_micro", when(col("_n").isNull, col("_v_micro"))
        .otherwise(expr("_v_micro div _n")))
      .drop("_v_micro", "_ctie")
      .select("user", "conv_us", "attributed", "touch_us", "credit_micro")
    credited
  }

  /** Last-touch attribution: each `convType` conversion is credited to
    * the user's most recent `touchTypes` event PRECEDING it in the
    * (ts, tie) total order — a same-instant touch with an earlier tie
    * counts (the tie is the log sequence, so "preceding row" IS the
    * causal order the log recorded) — and within `windowUs`;
    * conversions with no qualifying touch attribute to 'organic'. One
    * per-user window pass over the interleaved stream —
    * the running "last touch" is `last(..., ignoreNulls)` over the
    * unbounded-preceding frame, so no self-join, no per-conversion
    * probe; work is user-partitioned and linear in events.
    *
    * Output: the conversion rows with `attributed` (touch type or
    * 'organic') and `touch_us` (null for organic).
    */
  def lastTouchAttribution(events: DataFrame, userCol: String,
                           typeCol: String, usCol: String, tieCol: String,
                           convType: String, touchTypes: Seq[String],
                           windowUs: Long): DataFrame = {
    require(windowUs > 0, s"windowUs must be positive, got $windowUs")
    require(!touchTypes.contains(convType),
      s"conversion type $convType cannot also be a touch type")
    val w = Window.partitionBy(userCol).orderBy(col(usCol), col(tieCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    events
      .withColumn("_touch", last(
        when(col(typeCol).isin(touchTypes: _*),
          struct(col(usCol).as("us"), col(typeCol).as("ty"))),
        ignoreNulls = true).over(w))
      .filter(col(typeCol) === convType)
      .withColumn("attributed",
        when(col("_touch").isNotNull &&
          col("_touch.us") >= col(usCol) - windowUs, col("_touch.ty"))
          .otherwise(lit("organic")))
      .withColumn("touch_us",
        when(col("attributed") =!= "organic", col("_touch.us")))
      .drop("_touch")
  }

  /** Point-in-interval join WITHOUT an equi key — "which events fall
    * inside any audit/maintenance/incident window", the lookup shape
    * that Spark otherwise plans as a BroadcastNestedLoopJoin (every
    * point compared against every interval — the quadratic cliff a
    * 100 TB event log cannot pay, and the non-equi cousin of the
    * residual-filter trick [[graft.ops.Temporal]] uses when a key
    * exists).
    *
    * The fix is TIME BUCKETING: intervals explode to the
    * `bucketWidth`-sized buckets they overlap (`(end-1) div w -
    * start div w + 1` rows each — pick the width near the typical
    * interval length so that is 1-2), points map to exactly one
    * bucket, and the match becomes an EQUI-join on the bucket id
    * with the containment `start <= p < end` as a residual filter —
    * hash-partitionable, AQE-skew-splittable, never quadratic.
    *
    * Inner join; output = interval columns + point columns (names
    * must be disjoint). Values must be non-negative longs (epoch
    * micros — integer `div` bucketing is boundary-exact there, no
    * float rounding). Empty intervals (`end <= start`) match
    * nothing and are dropped up front.
    */
  def intervalJoinBucketed(points: DataFrame, pointCol: String,
                           intervals: DataFrame, startCol: String,
                           endCol: String, bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive: $bucketWidth")
    val iv = intervals.filter(col(endCol) > col(startCol))
      .withColumn("_bucket", explode(expr(
        s"sequence($startCol div ${bucketWidth}L," +
          s" ($endCol - 1L) div ${bucketWidth}L)")))
    points
      .withColumn("_bucket", expr(s"$pointCol div ${bucketWidth}L"))
      .join(iv, Seq("_bucket"))
      .filter(col(pointCol) >= col(startCol) && col(pointCol) < col(endCol))
      .drop("_bucket")
  }

  /** Per-key CUSUM changepoint screen (Page 1954): did this user's /
    * source's metric DRIFT from the global reference at some point in
    * its history — the upstream-corruption tripwire a per-arrival
    * mean can't see (a shift halfway through averages out). Exact
    * integer form via the prefix-sum identity: the classic recurrence
    * `S_t = max(0, S_{t-1} + (x_t - ref - slack))` equals
    * `E_t = P_t - min(0, min over s <= t of P_s)` with `P` the plain
    * prefix sums of the deviations — so one per-key ordered window
    * pass (per-key history is the bounded frame, the q256/q259
    * events convention) computes every excursion, and the per-key
    * max with its FIRST attaining event falls out of one
    * `min(struct(-E, ts, id))` partial-combinable aggregate.
    *
    * `ref_milli` is the caller's reference level (typically the
    * global mean in milli-units — pass it explicitly so the stream /
    * holdout variant can pin last week's reference); `slackMilli`
    * is the CUSUM allowance k (drift smaller than k per event is
    * tolerated); `thresholdMilli` sets the `flagged` 0/1 output.
    * Output per key: `(key, n_events, max_excursion_milli,
    * at_event_id, flagged)`.
    */
  def cusumChangepoint(events: DataFrame, keyCol: String, tsCol: String,
                       idCol: String, valueMilliCol: String,
                       refMilli: Long, slackMilli: Long,
                       thresholdMilli: Long): DataFrame = {
    val ordered = Window.partitionBy("_k")
      .orderBy(col("_ts"), col("_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .select(col(keyCol).as("_k"), col(tsCol).cast(LongType).as("_ts"),
        col(idCol).cast(LongType).as("_id"),
        (col(valueMilliCol).cast(LongType) - lit(refMilli) -
          lit(slackMilli)).as("_d"))
      .withColumn("_p", sum("_d").over(ordered))
      .withColumn("_e", col("_p") - least(lit(0L), min("_p").over(ordered)))
      .groupBy(col("_k").as(keyCol))
      .agg(count(lit(1)).cast(LongType).as("n_events"),
        min(struct((-col("_e")).as("ne"), col("_ts"), col("_id")))
          .as("_pick"))
      .select(col(keyCol), col("n_events"),
        (-col("_pick.ne")).cast(LongType).as("max_excursion_milli"),
        col("_pick._id").cast(LongType).as("at_event_id"),
        when(-col("_pick.ne") > thresholdMilli, 1L).otherwise(0L)
          .as("flagged"))
  }
}
