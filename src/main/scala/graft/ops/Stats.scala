package graft.ops

import graft.CacheScope
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

/** Optimizer-statistics collection — the ANALYZE TABLE surface a
  * warehouse runs before join planning: per-column row/null counts,
  * average serialized width, and a DISTINCT-COUNT estimate from the
  * portable deterministic HyperLogLog ([[Sketches.hllSketch]] — the
  * same registers the oracle replays, unlike the built-in HLL++'s
  * opaque blob). These are the numbers behind broadcast-threshold
  * decisions, join reordering, and partition-count sizing.
  *
  * Shape at scale: ONE pass over the scan projection (the melt to
  * (column, value) multiplies rows by |cols| map-side — no extra scan,
  * no per-column job), then two bounded aggregates: the base panel is
  * |cols| rows, the HLL exchange carries <= 2^p rows per column.
  */
object Stats {

  /** Per-column statistics panel: `(col_name, n_rows, n_nulls,
    * avg_len_milli, ndv_est)` — width in milli-chars of the string
    * form (integer, engine-exact), ndv from the deterministic HLL
    * registers (estimate; a column with no non-null values reports 0).
    *
    * Small-range rule: when few registers are occupied
    * (n_buckets * 4 <= m) the raw harmonic estimator is grossly biased
    * high (hllEstimate deliberately ships no ln-based linear counting),
    * but in that regime occupied-register count ~= the true distinct
    * count (collisions are rare at n << m) — so low-cardinality
    * columns (status flags, priorities) report their near-exact ndv
    * instead of a 15x overestimate. Integer rule, oracle-replayable.
    */
  def columnStats(df: DataFrame, cols: Seq[String], p: Int = 6): DataFrame = {
    require(cols.nonEmpty, "at least one column")
    val entries = cols.flatMap(c => Seq(lit(c), col(c).cast("string")))
    val melted = df.select(explode(map(entries: _*)).as(Seq("col_name", "value")))
    val base = melted.groupBy("col_name").agg(
      count(lit(1)).cast("long").as("n_rows"),
      sum(when(col("value").isNull, 1L).otherwise(0L)).cast("long")
        .as("n_nulls"),
      sum(when(col("value").isNull, 0L)
        .otherwise(length(col("value")).cast("long"))).as("_len"),
      sum(when(col("value").isNull, 0L).otherwise(1L)).as("_nn"))
      .withColumn("avg_len_milli",
        expr("CASE WHEN _nn = 0 THEN 0L ELSE (_len * 1000L) div _nn END"))
      .drop("_len", "_nn")
    val m = 1L << p
    val ndv = Sketches.hllEstimate(
        Sketches.hllSketch(melted.filter(col("value").isNotNull),
          Seq("col_name"), "value", p),
        Seq("col_name"), p)
      .select(col("col_name").as("_c"),
        when(col("n_buckets") * 4 <= m, col("n_buckets"))
          .otherwise(col("est_distinct")).as("est_distinct"))
    base.join(ndv, col("col_name") === col("_c"), "left")
      .select(col("col_name"), col("n_rows"), col("n_nulls"),
        col("avg_len_milli"),
        coalesce(col("est_distinct"), lit(0L)).as("ndv_est"))
  }

  /** Cluster-purity audit: per cluster, the dominant label's share —
    * the label-agreement number a curation team reads before trusting
    * unsupervised cells (topic buckets, SemDeDup groups, IVF cells)
    * for sampling decisions. Ties go to the SMALLEST label (integer
    * struct-max, deterministic). Two bounded aggregations over the
    * (cluster, label) contingency — cells ≤ rows, never a matrix
    * materialized per row. Output per cluster: n, top_label, top_n,
    * purity_ppm.
    */
  def clusterPurity(assigned: DataFrame, clusterCol: String,
                    labelCol: String): DataFrame =
    assigned.groupBy(col(clusterCol), col(labelCol).cast("long").as("_lab"))
      .agg(count(lit(1)).cast("long").as("_n"))
      .groupBy(col(clusterCol))
      .agg(sum("_n").cast("long").as("n"),
        max(struct(col("_n"), (-col("_lab")).as("_neg"))).as("_best"))
      .select(col(clusterCol), col("n"),
        (-col("_best._neg")).as("top_label"),
        col("_best._n").as("top_n"),
        expr("(_best._n * 1000000L) div n").as("purity_ppm"))

  /** Classifier confusion matrix: (true, predicted) cells with counts
    * and the row-normalized share (recall decomposition) in ppm — the
    * evaluation staple for the language-ID / quality-model gates. One
    * bounded aggregation + a classes-sized window.
    */
  def confusionMatrix(df: DataFrame, trueCol: String,
                      predCol: String): DataFrame =
    df.groupBy(col(trueCol).as("true_class"),
        col(predCol).as("predicted"))
      .agg(count(lit(1)).cast("long").as("n"))
      .withColumn("row_ppm",
        expr("(n * 1000000L) div sum(n) OVER (PARTITION BY true_class)"))

  /** Textbook equi-join cardinality estimate from the stats panel:
    * `|L ⋈ R on k| ≈ |L| * |R| / max(ndv_L(k), ndv_R(k))` — the
    * containment-of-value-sets assumption every cost-based optimizer
    * starts from (System R). Inputs are ONE-ROW frames; the estimate
    * is exactly what a planner would read off [[columnStats]] before
    * choosing join order and broadcast sides. Output: one row
    * `(n_left, n_right, ndv_left, ndv_right, est_rows)` — integer
    * arithmetic, oracle-replayable because the ndv comes from the
    * deterministic HLL panel.
    */
  def joinCardinality(left: DataFrame, leftKey: String,
                      right: DataFrame, rightKey: String,
                      p: Int = 6): DataFrame = {
    def side(df: DataFrame, key: String, nOut: String, dOut: String) =
      columnStats(df, Seq(key), p)
        .select(col("n_rows").as(nOut), col("ndv_est").as(dOut))
    side(left, leftKey, "n_left", "ndv_left")
      .crossJoin(side(right, rightKey, "n_right", "ndv_right"))
      .withColumn("est_rows", expr(
        "CASE WHEN greatest(ndv_left, ndv_right) = 0 THEN 0L" +
          " ELSE (n_left * n_right) div greatest(ndv_left, ndv_right) END"))
      .select("n_left", "n_right", "ndv_left", "ndv_right", "est_rows")
  }

  /** ROC AUC by the rank-sum (Mann-Whitney) identity with midrank tie
    * handling, in exact integer arithmetic: group the scored rows by
    * DISTINCT SCORE (the only exchange that can be corpus-sized), take
    * the exclusive prefix sum of negative counts under ascending score
    * on the [[Hierarchical.prefixSum]] scaffold (range slices +
    * broadcast offsets, never one global window task), and fold
    *
    *   AUC = sum_s n_pos(s) * (negBelow(s) + n_neg(s)/2) / (P*N)
    *
    * carried in HALF-units so ties stay integer. Output one row:
    * `(n_pos, n_neg, auc_ppm)` (floor; 0 when either class is empty).
    * The scaffold's cache is persisted through `scope`.
    */
  def aucRoc(scored: DataFrame, labelCol: String, scoreCol: String,
             chunks: Int = 0, scope: CacheScope = new CacheScope): DataFrame =
    aucRocByGroup(scored, Nil, labelCol, scoreCol, chunks, scope)
      .select("n_pos", "n_neg", "auc_ppm")

  /** GROUPED [[aucRoc]] — one AUC per `groupCols` tuple
    * (per-class one-vs-rest, per-segment, per-model-version), all
    * classes in ONE scaffold pass: the distinct-(group, score) counts
    * range-partition by score with the groups as prefix-sum STRATA
    * (each stratum's running negative count composes from per-slice
    * locals + broadcast offsets — no per-group job, no per-group
    * window task). Output: groupCols..., n_pos, n_neg, auc_ppm. The
    * scaffold's cache is persisted through `scope`.
    */
  def aucRocByGroup(scored: DataFrame, groupCols: Seq[String],
                    labelCol: String, scoreCol: String, chunks: Int = 0,
                    scope: CacheScope = new CacheScope): DataFrame = {
    val keys = groupCols.map(col) :+ col(scoreCol).as("_s")
    val byScore = scored.groupBy(keys: _*)
      .agg(sum(when(col(labelCol) === 1, 1L).otherwise(0L)).as("_pos"),
        sum(when(col(labelCol) === 1, 0L).otherwise(1L)).as("_neg"))
    Hierarchical.prefixSum(byScore, Seq(col("_s")), groupCols, col("_neg"),
      "_neg_below", chunks, scope)
      .groupBy(groupCols.map(col): _*)
      .agg(sum("_pos").cast("long").as("n_pos"),
        sum("_neg").cast("long").as("n_neg"),
        sum(expr("_pos * (2 * _neg_below + _neg)")).cast("long").as("_num2"))
      .withColumn("auc_ppm", expr(
        "CASE WHEN n_pos = 0 OR n_neg = 0 THEN 0L" +
          " ELSE (_num2 * 1000000L) div (2 * n_pos * n_neg) END"))
      .drop("_num2")
  }

  /** Calibration (reliability) bins for a probabilistic classifier:
    * bucket the predicted probability into `bins` equal slices, report
    * per bucket the count, mean prediction, observed positive rate,
    * and |gap| — plus the expected-calibration-error over the run
    * (count-weighted mean gap; a window over the BINS-sized frame,
    * bounded by construction). Predictions ride the exact
    * DECIMAL(25,6) micro hop (the house double policy), so both
    * engines fold identical integers. One bounded aggregation.
    */
  def calibrationBins(scored: DataFrame, labelCol: String,
                      probCol: String, bins: Int): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    scored
      .select(
        least(lit(bins - 1).cast("long"),
          floor(col(probCol) * lit(bins)).cast("long")).as("bin"),
        when(col(labelCol) === 1, 1L).otherwise(0L).as("_y"),
        expr(s"CAST(CAST($probCol AS DECIMAL(25,6)) * 1000000 AS BIGINT)")
          .as("_p_micro"))
      .groupBy("bin")
      .agg(count(lit(1)).cast("long").as("n"),
        sum("_y").cast("long").as("n_pos"),
        expr("sum(_p_micro) div count(1)").as("mean_pred_ppm"))
      .withColumn("obs_ppm", expr("(n_pos * 1000000L) div n"))
      .withColumn("gap_ppm", abs(col("mean_pred_ppm") - col("obs_ppm")))
      .withColumn("ece_ppm",
        expr("sum(n * gap_ppm) OVER () div sum(n) OVER ()"))
  }

  /** Isotonic (monotone) calibration — the pool-adjacent-violators fit
    * over [[calibrationBins]]'s score bins: the best monotone
    * non-decreasing approximation of observed positive rate as a
    * function of predicted score, THE standard score-calibration map
    * (Zadrozny & Elkan 2002). Where raw bin rates zig-zag from noise,
    * adjacent bins pool; the fitted curve is what a serving layer
    * applies to turn scores into probabilities.
    *
    * PAV is sequential, so the distributed form uses the minimax
    * representation instead: over the B observed bins (weighted by
    * bin count), `fit(i) = max over j<=i of (min over k>=i of
    * weighted-mean(pos rate over bins j..k))`. Micro-exact: means are
    * `1e6 * pos div n` integer floors, and floor commutes with min
    * and max, so `fitted_micro = floor(1e6 * true PAV fit)` — exact,
    * order-free, engine-portable, no transcendentals.
    *
    * Scale shape: ONE corpus pass bins scores (map-side combinable
    * count/sum per bin); everything after operates on the BOUNDED
    * <= `bins`-row frame. The B^2 interval means and the B^3 minimax
    * enumeration are EQUI-joins over exploded bin sequences (never a
    * nested-loop range join — the PlansSpec boundedness guard's
    * contract), so the plan is hash joins over bounded panels.
    * B = 10-100 in practice; capped at 512 (B^3 ~ 1.3e8 enumerated
    * rows, all panel-local).
    *
    * Output per observed bin: `bin, n, n_pos, raw_micro,
    * fitted_micro` — fitted is monotone non-decreasing in `bin`.
    */
  def isotonicCalibration(scored: DataFrame, labelCol: String,
                          probCol: String, bins: Int): DataFrame = {
    require(bins >= 2 && bins <= 512,
      s"bins must be in [2, 512] (the bounded-panel contract), got $bins")
    val g = scored
      .select(
        least(lit(bins - 1).cast("long"),
          floor(col(probCol) * lit(bins)).cast("long")).as("bin"),
        when(col(labelCol) === 1, 1L).otherwise(0L).as("_y"))
      .groupBy("bin")
      .agg(count(lit(1)).cast("long").as("n"),
        sum("_y").cast("long").as("n_pos"))
    // bounded (<= bins rows) from here on: unpartitioned windows and
    // non-equi broadcast joins are the right plan, not a smell
    val w = org.apache.spark.sql.expressions.Window.orderBy("bin")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    val pre = g
      .withColumn("_cn", sum("n").over(w))
      .withColumn("_cp", sum("n_pos").over(w))
    val jSide = pre.select(col("bin").as("_j"),
      (col("_cn") - col("n")).as("_cnb"),
      (col("_cp") - col("n_pos")).as("_cpb"))
    val kSide = pre.select(col("bin").as("_k"),
      col("_cn").as("_cnk"), col("_cp").as("_cpk"))
    // range conditions as explode + EQUI-join: sequence(0, k) fans a
    // k-row candidate list per pair and the inner join keeps observed
    // bins — a broadcast HASH join on bounded panels, never a BNLJ
    val pairs = kSide
      .withColumn("_j", explode(expr("sequence(0L, _k)")))
      .join(broadcast(jSide), Seq("_j"))
      .select(col("_j"), col("_k"),
        expr("(_cpk - _cpb) * 1000000L div (_cnk - _cnb)")
          .as("_mean_micro"))
    val tri = pairs
      .withColumn("_i", explode(expr("sequence(_j, _k)")))
      .join(broadcast(g.select(col("bin").as("_i"))), Seq("_i"))
    val fit = tri.groupBy("_i", "_j").agg(min("_mean_micro").as("_mn"))
      .groupBy("_i").agg(max("_mn").as("fitted_micro"))
    g.join(fit, col("bin") === col("_i"))
      .withColumn("raw_micro", expr("n_pos * 1000000L div n"))
      .select("bin", "n", "n_pos", "raw_micro", "fitted_micro")
  }

  /** Gini concentration + Lorenz deciles of an integer mass column —
    * "what share of corpus tokens lives in the heaviest documents":
    * the inequality audit behind mix design (a corpus where 5% of docs
    * carry 80% of tokens trains differently than a flat one) and
    * shard balance. `gini_ppm` uses the exact rank form
    * `G = (2 * sum(rank*w) - (n+1) * W) / (n * W)` over the ascending
    * (w, id) total order; the 10 Lorenz rows give cumulative mass at
    * each docs-decile boundary.
    *
    * ALL-INTEGER (ppm floors over DECIMAL(38,0)); the global rank
    * rides [[Ranking.globalRowNumber]]'s hierarchical
    * scaffold (range slices + broadcast offsets — never a
    * single-task window), deciles are one bounded groupBy, and the
    * cumulative window runs on the 10-row panel. The scaffold's
    * boundary cache and the ranked frame (read by both the totals
    * aggregate and the decile rollup) are persisted through `scope`.
    */
  def giniConcentration(df: DataFrame, idCol: String, weightCol: String,
                        scope: CacheScope = new CacheScope): DataFrame = {
    val base = df.select(col(idCol).as("_id"),
      col(weightCol).cast("long").as("_w"))
    val ranked = scope.persist(Ranking.globalRowNumber(
      base, Seq(col("_w"), col("_id")), "_r", scope = scope),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val totals = ranked.agg(
      count(lit(1)).as("_n"),
      sum(col("_w").cast("decimal(38,0)")).as("_tw"),
      sum(col("_r").cast("decimal(38,0)") * col("_w")).as("_srw"))
      .withColumn("gini_ppm", expr(
        "CAST((2 * _srw - (_n + 1) * _tw) * 1000000" +
          " div greatest(_n * _tw, 1) AS BIGINT)"))
    val deciles = ranked.crossJoin(broadcast(totals))
      .withColumn("decile", expr("((_r - 1) * 10) div _n"))
      .groupBy("decile").agg(
        count(lit(1)).cast("long").as("n_docs"),
        sum(col("_w")).cast("long").as("decile_weight"),
        first("_tw").as("_tw"), first("gini_ppm").as("gini_ppm"))
    // 10-row panel from here: the unpartitioned window is a non-issue
    val cumW = org.apache.spark.sql.expressions.Window.orderBy("decile")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    deciles
      .withColumn("_cum", sum(col("decile_weight").cast("decimal(38,0)"))
        .over(cumW))
      .withColumn("cum_weight_ppm", expr(
        "CAST(_cum * 1000000 div greatest(_tw, 1) AS BIGINT)"))
      .select("decile", "n_docs", "decile_weight", "cum_weight_ppm",
        "gini_ppm")
  }

  /** Poisson bootstrap (the distributed bootstrap — per-resample
    * multiplicities are independent Poisson(1) draws, the standard
    * approximation of multinomial resampling when n is large) of a
    * mean: `resamples` deterministic resamples of `valueCol`, each
    * row's multiplicity in resample b read off a fresh md5 slot
    * against the EXACT Poisson(1) CDF ppm thresholds — every engine,
    * run, and retry draws the same bootstrap. Output: one row per
    * resample (`n_eff`, `mean_ppm`) with the across-resample variance
    * of the mean (`var_ppm2` — the error bar a metrics dashboard
    * needs) replicated.
    *
    * Scale shape: ONE scan exploded x resamples (map-side, partial-
    * combinable sums; the honest cost of B resamples is B passes of
    * arithmetic, NOT B shuffles — one groupBy on the resample id),
    * then the variance runs on the bounded B-row panel. All-integer.
    */
  def poissonBootstrap(df: DataFrame, idCol: String, valueCol: String,
                       resamples: Int): DataFrame = {
    require(resamples >= 2 && resamples <= 256,
      s"resamples must be in [2, 256], got $resamples")
    // floor(1e6 * P(Poisson(1) <= k)) for k = 0..9: multiplicity =
    // #{thresholds <= slot}, capped at 10 (P(>10) < 1e-8)
    val th = Seq(367879L, 735758L, 919698L, 981011L, 996340L,
      999405L, 999916L, 999989L, 999998L, 999999L)
    val thArr = th.mkString("array(", "L, ", "L)")
    val per = df
      .select(col(idCol).cast("string").as("_id"),
        col(valueCol).cast("long").as("_v"))
      .withColumn("_b", explode(expr(s"sequence(0, ${resamples - 1})")))
      .withColumn("_slot", pmod(graft.Pipeline.wordHash32(
        concat_ws("_", lit("bs"), col("_b"), col("_id"))),
        lit(1000000L)))
      .withColumn("_m",
        expr(s"size(filter($thArr, t -> _slot >= t))").cast("long"))
      .groupBy(col("_b").cast("long").as("resample"))
      .agg(sum("_m").cast("long").as("n_eff"),
        sum((col("_m") * col("_v")).cast("decimal(38,0)")).as("_sv"))
      .withColumn("mean_ppm", expr(
        "CAST(_sv * 1000000 div greatest(n_eff, 1L) AS BIGINT)"))
    val b = resamples
    val varF = per.agg(
      sum(col("mean_ppm").cast("decimal(38,0)")).as("_s1"),
      sum((col("mean_ppm").cast("decimal(38,0)") * col("mean_ppm")))
        .as("_s2"))
      .select(expr(s"CAST(($b * _s2 - _s1 * _s1)" +
        s" div (${b.toLong * (b - 1)}) AS BIGINT)").as("var_ppm2"))
    per.select("resample", "n_eff", "mean_ppm")
      .crossJoin(broadcast(varF))
      .orderBy("resample")
  }

  /** Chi-square independence audit of two categorical columns (is the
    * corpus mix of A independent of B — lang vs source, split vs
    * label?): per contingency cell, observed count, expected count
    * under independence (row x col / N, in milli-units), and the
    * cell's chi-square contribution in micro-units —
    * `(1000*n - e_milli)^2 * 1000 div e_milli`, exact integer with a
    * DECIMAL(38,0) intermediate so 100x-scale counts cannot overflow.
    * Cells are bounded by |A|x|B| (category dimensions, not corpus);
    * the margins are two windows over that bounded frame.
    */
  def chiSquareCells(df: DataFrame, aCol: String, bCol: String): DataFrame =
    df.groupBy(col(aCol).cast("string").as("a"),
        col(bCol).cast("string").as("b"))
      .agg(count(lit(1)).cast("long").as("n"))
      .withColumn("_ra", expr("sum(n) OVER (PARTITION BY a)"))
      .withColumn("_cb", expr("sum(n) OVER (PARTITION BY b)"))
      .withColumn("_tot", expr("sum(n) OVER ()"))
      .withColumn("expected_milli", expr("(_ra * _cb * 1000L) div _tot"))
      // divisor guard: two rare margins in a huge corpus can floor
      // expected_milli to 0 (ra*cb*1000 < tot) — greatest(·, 1) keeps
      // the division defined; the oracle applies the SAME guard
      .withColumn("chi2_micro", expr(
        "CAST((CAST(1000 * n - expected_milli AS DECIMAL(38,0))" +
          " * (1000 * n - expected_milli) * 1000)" +
          " div greatest(expected_milli, 1L) AS BIGINT)"))
      .drop("_ra", "_cb", "_tot")

  /** Benford first-significant-digit screen over a positive numeric
    * column — the fraud/synthetic-data smell test. The digit is read
    * from the INTEGER STRING of the exact micro-value (doubles hop
    * through DECIMAL(25,6); integer rendering is engine-identical,
    * unlike float formatting or log10), so both engines bucket every
    * row identically. Output per digit 1-9: count, observed ppm,
    * Benford's expected ppm (floor(log10(1+1/d) * 1e6) literals), and
    * |deviation|. One bounded aggregation.
    */
  def benfordScreen(df: DataFrame, valueCol: String): DataFrame = {
    val expected = Map(1 -> 301029L, 2 -> 176091L, 3 -> 124938L,
      4 -> 96910L, 5 -> 79181L, 6 -> 66946L, 7 -> 57991L, 8 -> 51152L,
      9 -> 45757L)
    val expectedCase = expected.toSeq.sorted
      .map { case (d, p) => s"WHEN $d THEN ${p}L" }
      .mkString("CASE digit ", " ", " END")
    df.filter(col(valueCol) > 0)
      .select(expr(
        s"CAST(substr(CAST(CAST(CAST($valueCol AS DECIMAL(25,6))" +
          " * 1000000 AS BIGINT) AS STRING), 1, 1) AS BIGINT)").as("digit"))
      .groupBy("digit")
      .agg(count(lit(1)).cast("long").as("n"))
      .withColumn("observed_ppm",
        expr("(n * 1000000L) div sum(n) OVER ()"))
      .withColumn("expected_ppm", expr(expectedCase))
      .withColumn("dev_ppm", abs(col("observed_ppm") - col("expected_ppm")))
  }

  /** Cohen's kappa — chance-corrected agreement between two labelers
    * over the same items (gold labels vs a model, or two annotators):
    * the screen a labeling pipeline runs before trusting its raters.
    * `kappa = (po - pe) / (1 - pe)` with `po` the observed agreement
    * rate and `pe` the chance rate `sum_l p_A(l) * p_B(l)`.
    *
    * ALL-INTEGER: po and pe are ratios of exact counts, so kappa is
    * the integer rational `(n * n_agree - peNum) / (n^2 - peNum)`
    * with `peNum = sum_l rowCount_l * colCount_l` — the ppm outputs
    * are exact floors over DECIMAL(38,0) (n^2 * 1e6 overflows LONG
    * past n ~ 3M rows). Degenerate zero-variance input (both raters
    * constant on the same label) makes the denominator 0; kappa is
    * undefined there and reported as 0 — the `greatest(den, 1)`
    * guard, same discipline as [[chiSquareCells]].
    *
    * Shape at scale: one count aggregate over the scan + two
    * label-marginal panels (|labels| rows each) joined broadcast —
    * nothing corpus-squared, one row out.
    */
  def cohenKappa(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val pairs = df.select(col(aCol).cast("string").as("_a"),
      col(bCol).cast("string").as("_b"))
    val base = pairs.agg(
      count(lit(1)).cast("long").as("n_items"),
      sum(when(col("_a") === col("_b"), 1L).otherwise(0L)).cast("long")
        .as("n_agree"))
    val ra = pairs.groupBy(col("_a").as("_l"))
      .agg(count(lit(1)).cast("long").as("_na"))
    val rb = pairs.groupBy(col("_b").as("_l"))
      .agg(count(lit(1)).cast("long").as("_nb"))
    val pe = ra.join(rb, "_l")
      .agg(coalesce(sum(expr("CAST(_na AS DECIMAL(38,0)) * _nb")),
        lit(java.math.BigDecimal.ZERO)).as("_pe_num"))
    base.crossJoin(broadcast(pe))
      .withColumn("po_ppm",
        expr("CAST(CAST(n_agree AS DECIMAL(38,0)) * 1000000" +
          " div greatest(n_items, 1L) AS BIGINT)"))
      .withColumn("pe_ppm",
        expr("CAST(_pe_num * 1000000 div greatest(" +
          "CAST(n_items AS DECIMAL(38,0)) * n_items, 1) AS BIGINT)"))
      .withColumn("kappa_ppm",
        expr("CAST((CAST(n_items AS DECIMAL(38,0)) * n_agree - _pe_num)" +
          " * 1000000 div greatest(" +
          "CAST(n_items AS DECIMAL(38,0)) * n_items - _pe_num, 1)" +
          " AS BIGINT)"))
      .select("n_items", "n_agree", "po_ppm", "pe_ppm", "kappa_ppm")
  }

  /** Krippendorff's alpha (nominal data) — the agreement coefficient
    * for the REAL labeling-pipeline shape [[cohenKappa]] can't handle:
    * any number of raters, with MISSING ratings (each item rated by
    * whatever subset showed up). Input is one row per rating
    * `(item, rater, label)`; items with fewer than 2 ratings are
    * unpairable and excluded, per the definition.
    *
    * `alpha = 1 - D_o/D_e` over the coincidence matrix:
    * `D_o ∝ sum_u (m_u^2 - sum_c n_uc^2) / (m_u - 1)` (within-item
    * ordered disagreeing pairs, weighted so each item contributes its
    * pairable mass once) and `D_e ∝ (n^2 - sum_c n_c^2) / (n - 1)`.
    *
    * ALL-INTEGER: the per-item weight `1/(m_u - 1)` is the one
    * non-integer in the definition, so contributions are scaled by
    * K = 2520 = lcm(1..9) — exact for up to 10 ratings per item
    * (enforced with a loud scan-side assert; raise K if a corpus
    * legitimately has more raters). Everything else is counts, and
    * the ppm floors ride DECIMAL(38,0) — no overflow at corpus scale
    * and bit-identical in both engines.
    *
    * Shape at scale: one (item, label) count, one item panel, one
    * label panel — bounded aggregates, one row out:
    * `(n_ratings, n_items, do_ppm, de_ppm, alpha_ppm)`.
    */
  def krippendorffAlpha(ratings: DataFrame, itemCol: String,
                        raterCol: String, labelCol: String): DataFrame = {
    val perItemLabel = ratings
      .groupBy(col(itemCol).as("_u"), col(labelCol).cast("string").as("_c"))
      .agg(count(lit(1)).cast("long").as("_nuc"))
    val perItem = perItemLabel.groupBy("_u").agg(
        sum("_nuc").as("_m"),
        sum(expr("_nuc * _nuc")).as("_sq"))
      .filter(expr(
        "assert_true(_m <= 10, 'krippendorffAlpha: more than 10 " +
          "ratings on one item; raise the K = 2520 scaling') IS NULL"))
      .filter(col("_m") >= 2)
    val doAgg = perItem.agg(
      coalesce(sum(expr(
        "CAST((_m * _m - _sq) * (2520L div (_m - 1)) AS DECIMAL(38,0))")),
        lit(java.math.BigDecimal.ZERO)).as("_do_scaled"),
      coalesce(sum("_m"), lit(0L)).cast("long").as("n_ratings"),
      count(lit(1)).cast("long").as("n_items"))
    val labelTotals = perItemLabel
      .join(perItem.select("_u"), Seq("_u"), "left_semi")
      .groupBy("_c").agg(sum("_nuc").as("_nc"))
      .agg(coalesce(sum(expr("CAST(_nc AS DECIMAL(38,0)) * _nc")),
        lit(java.math.BigDecimal.ZERO)).as("_sq_tot"))
    doAgg.crossJoin(broadcast(labelTotals))
      .withColumn("_spair", expr(
        "CAST(n_ratings AS DECIMAL(38,0)) * n_ratings - _sq_tot"))
      .withColumn("do_ppm", expr(
        "CAST(_do_scaled * 1000000 div greatest(" +
          "2520 * CAST(n_ratings AS DECIMAL(38,0)), 1) AS BIGINT)"))
      .withColumn("de_ppm", expr(
        "CAST(_spair * 1000000 div greatest(" +
          "CAST(n_ratings AS DECIMAL(38,0)) * (n_ratings - 1), 1) AS BIGINT)"))
      .withColumn("alpha_ppm", expr(
        "CAST((2520 * _spair - (n_ratings - 1) * _do_scaled) * 1000000" +
          " div greatest(2520 * _spair, 1) AS BIGINT)"))
      .select("n_ratings", "n_items", "do_ppm", "de_ppm", "alpha_ppm")
  }

  /** Two-sample Kolmogorov–Smirnov distance between the distributions
    * of an integer metric in two groups — the drift gate a corpus
    * refresh runs ("did this crawl's length distribution move vs the
    * last one?") and the sharpest distribution-free two-sample test.
    * `D = max over values of |F_A(v) - F_B(v)|`, computed EXACTLY as
    * the integer `max |cumA * nB - cumB * nA|` (common denominator
    * nA*nB — no float ECDFs to diverge between engines); output is the
    * one row `(at_value, n_a, n_b, d_ppm)` with `at_value` the
    * smallest value attaining the max (deterministic tiebreak) and
    * `d_ppm = floor(1e6 * D)`.
    *
    * Shape at scale: one grouped count over the scan (map-side
    * combine), then the cumulative windows ride the distinct-VALUE
    * frame — bounded by the metric's DOMAIN (document lengths, score
    * buckets), not the corpus, the same contract as
    * [[chiSquareCells]]'s category-bounded margins. A genuinely
    * continuous metric should be quantized before calling (the KS
    * statistic of the quantized metric is what the gate then tests).
    */
  def ksTwoSample(df: DataFrame, valueCol: String, groupCol: String,
                  groupA: String, groupB: String): DataFrame = {
    require(groupA != groupB, s"groups must differ, got '$groupA' twice")
    val w = org.apache.spark.sql.expressions.Window
    val perValue = df
      .filter(col(groupCol).isin(groupA, groupB))
      .select(col(valueCol).cast("long").as("_v"),
        (col(groupCol) === groupA).as("_isA"))
      .groupBy("_v")
      .agg(count(when(col("_isA"), 1)).cast("long").as("_ca"),
        count(when(!col("_isA"), 1)).cast("long").as("_cb"))
    val cum = w.orderBy("_v").rowsBetween(w.unboundedPreceding, w.currentRow)
    perValue
      .withColumn("_cuma", sum("_ca").over(cum))
      .withColumn("_cumb", sum("_cb").over(cum))
      .withColumn("_na", expr("sum(_ca) OVER ()"))
      .withColumn("_nb", expr("sum(_cb) OVER ()"))
      .withColumn("_dnum",
        abs(col("_cuma") * col("_nb") - col("_cumb") * col("_na")))
      .orderBy(col("_dnum").desc, col("_v"))
      .limit(1)
      .select(col("_v").as("at_value"),
        col("_na").cast("long").as("n_a"),
        col("_nb").cast("long").as("n_b"),
        expr("CAST(CAST(_dnum AS DECIMAL(38,0)) * 1000000" +
          " div greatest(CAST(_na AS DECIMAL(38,0)) * _nb, 1) AS BIGINT)")
          .as("d_ppm"))
  }

  /** Spearman rank correlation (tie-corrected: Pearson over AVERAGE
    * ranks) between two numeric columns — the monotone-association
    * audit ("does quality score track document length?") that is
    * outlier-robust where Pearson is not. ALL-INTEGER and
    * engine-portable: each column's rows get their DOUBLED average
    * rank (ranks in a tie group are consecutive under the
    * (value, id...) total order, so `min(pos) + max(pos)` IS twice
    * the average rank — integral, no halves), the six moment sums
    * accumulate as DECIMAL(38,0), and
    * `rho_ppm = num * 1e6 div (isqrt(A) * isqrt(B))` with
    * `num = n*Sxy - Sx*Sy`, `A = n*Sxx - Sx^2`, `B = n*Syy - Sy^2`
    * and the floor-sqrt taken PER FACTOR — `isqrt(A*B)` would need
    * ~n^6 headroom and overflow HUGEINT past n ~ 1e6, while each
    * factor alone (~4n^4) holds to n ~ 7e8. The per-factor floors
    * UNDERESTIMATE the denominator by a relative ~2/sqrt(A) — about
    * 1e-9 at corpus scale (sub-ppm; |rho_ppm| can exceed 1e6 by that
    * much, and visibly at toy n) — but the definition is shared
    * EXACTLY by both engines, via [[graft.Similarity.isqrtPortable]]
    * and the oracle's corrected floor-sqrt window, so the compare is
    * bit-strict.
    *
    * Shape at scale: two hierarchical-scaffold rankings (never a
    * single-task window), per-value doubled ranks via groupBy +
    * join-back (the q264 lesson: min/max-over-window would buffer a
    * hyper-tied value's rows in one task; the groupBy ships only
    * (value, min, max)), one six-sum aggregate, and the final math on
    * the collected ONE-ROW panel (the kmeansFit bounded-collect
    * discipline).
    */
  def spearmanCorr(df: DataFrame, xCol: String, yCol: String,
                   idCols: Seq[String]): DataFrame = {
    require(idCols.nonEmpty, "idCols must provide a rank tiebreak")
    val spark = df.sparkSession
    val ids = idCols.map(col)
    val base = df.select(col(xCol).cast("long").as("_x") +:
      col(yCol).cast("long").as("_y") +: ids: _*)
    def doubledRanks(v: String): DataFrame =
      Ranking.globalRowNumber(base, col(v) +: ids, "_pos")
        .groupBy(col(v).as("_val"))
        .agg((min("_pos") + max("_pos")).as("_r2"))
    val withRanks = base
      .join(doubledRanks("_x").withColumnRenamed("_r2", "_rx"),
        col("_x") === col("_val")).drop("_val")
      .join(doubledRanks("_y").withColumnRenamed("_r2", "_ry"),
        col("_y") === col("_val")).drop("_val")
    import spark.implicits._
    Seq(pearsonPpm(withRanks, "_rx", "_ry")).toDF("n_items", "rho_ppm")
  }

  /** `(n, ppm)`: the row count of `pairs` and the exact integer Pearson
    * correlation of its integral columns `x` and `y` in ppm, as
    * [[spearmanCorr]] defines it — the six moment sums as
    * DECIMAL(38,0) on one collected row, then
    * `(n*Sxy - Sx*Sy) * 1e6 div max(isqrt(A) * isqrt(B), 1)` in BigInt.
    */
  private[graft] def pearsonPpm(pairs: DataFrame, x: String, y: String)
      : (Long, Long) = {
    def dec(c: String) = col(c).cast(DecimalType(38, 0))
    val row = pairs.agg(
      count(lit(1)).cast(LongType).as("n"),
      coalesce(sum(dec(x)), lit(0)).as("sx"),
      coalesce(sum(dec(y)), lit(0)).as("sy"),
      coalesce(sum(dec(x) * col(y)), lit(0)).as("sxy"),
      coalesce(sum(dec(x) * col(x)), lit(0)).as("sxx"),
      coalesce(sum(dec(y) * col(y)), lit(0)).as("syy")).first()
    val n = BigInt(row.getLong(0))
    def moment(i: Int): BigInt = BigInt(row.getDecimal(i).toBigInteger)
    val (sx, sy, sxy, sxx, syy) = (moment(1), moment(2), moment(3), moment(4), moment(5))
    val den = (graft.Similarity.isqrtPortable(n * sxx - sx * sx) *
      graft.Similarity.isqrtPortable(n * syy - sy * sy)).max(BigInt(1))
    // BigInt / truncates toward zero — matching the oracle's HUGEINT //
    (row.getLong(0), ((n * sxy - sx * sy) * 1000000 / den).toLong)
  }

  /** CUPED variance reduction (Deng et al. 2013): adjust an
    * experiment metric by a pre-exposure covariate —
    * `Y' = Y - theta * (X - mean(X))`, `theta = cov(X, Y) / var(X)`
    * pooled across variants — the standard trick that shrinks A/B
    * confidence intervals by the covariate's explained variance
    * without touching the treatment-effect estimate (the adjustment
    * is mean-zero per large variant).
    *
    * ALL-INTEGER, one scan: per-variant six sums (n, Sx, Sy, Sxy,
    * Sxx, Syy) as DECIMAL(38,0) to the variant-bounded panel; theta
    * in MILLI units (ppm would square the adjusted second moment
    * past HUGEINT at corpus magnitudes — the oracle's ceiling, and a
    * theta quantization error delta costs reduction only ~delta^2)
    * and the global floor pseudo-mean `xbar = Sx div n` off the
    * pooled panel sums; per-variant adjusted mean and variance
    * EXPANDED SYMBOLICALLY from the same six sums (milli-unit
    * `adj = 1e3*Y - theta_milli*(X - xbar)` — no second pass over
    * the data), all on the collected panel (the kmeansFit
    * bounded-collect discipline) in BigInt with truncating division.
    *
    * Output per variant: `(variant, n_rows, theta_milli
    * [replicated], mean_y_milli, mean_adj_milli,
    * var_reduction_ppm)` — `var_reduction_ppm` = share of the raw
    * metric variance the covariate removed in that variant.
    */
  def cupedAdjust(df: DataFrame, variantCol: String, metricCol: String,
                  covariateCol: String): DataFrame = {
    val spark = df.sparkSession
    val panel = df.select(col(variantCol).cast("string").as("variant"),
        col(metricCol).cast("long").as("_y"),
        col(covariateCol).cast("long").as("_x"))
      .groupBy("variant")
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("_x").cast("decimal(38,0)")).as("sx"),
        sum(col("_y").cast("decimal(38,0)")).as("sy"),
        sum(col("_x").cast("decimal(38,0)") * col("_y")).as("sxy"),
        sum(col("_x").cast("decimal(38,0)") * col("_x")).as("sxx"),
        sum(col("_y").cast("decimal(38,0)") * col("_y")).as("syy"))
      .collect()
    case class S(v: String, n: BigInt, sx: BigInt, sy: BigInt,
                 sxy: BigInt, sxx: BigInt, syy: BigInt)
    val rows = panel.map { r =>
      def d(i: Int) = BigInt(r.getDecimal(i).toBigInteger)
      S(r.getString(0), BigInt(r.getLong(1)), d(2), d(3), d(4), d(5),
        d(6))
    }
    val (n, sx, sy, sxy, sxx) =
      (rows.map(_.n).sum, rows.map(_.sx).sum, rows.map(_.sy).sum,
        rows.map(_.sxy).sum, rows.map(_.sxx).sum)
    require(n > 0, "cupedAdjust: empty input")
    val varXn = n * sxx - sx * sx // n^2 * var(X)
    val theta = if (varXn == 0) BigInt(0)
      else ((n * sxy - sx * sy) * 1000) / varXn
    val xbar = sx / n // floor pseudo-mean: a shared integer center
    val out = rows.sortBy(_.v).map { s =>
      // centered covariate moments for THIS variant, exact
      val cx1 = s.sx - s.n * xbar // sum (x - xbar)
      val cx2 = s.sxx - 2 * xbar * s.sx + s.n * xbar * xbar
      val cxy = s.sxy - xbar * s.sy // sum (x - xbar) * y
      val sAdj = s.sy * 1000 - theta * cx1
      val sAdj2 = s.syy * 1000000 - 2000 * theta * cxy +
        theta * theta * cx2
      val varRawN = (s.n * s.syy - s.sy * s.sy) * 1000000
      val varAdjN = s.n * sAdj2 - sAdj * sAdj
      val vr = if (varRawN == 0) BigInt(0)
        else ((varRawN - varAdjN) * 1000000) / varRawN
      (s.v, s.n.toLong, theta.toLong,
        (s.sy * 1000 / s.n).toLong, (sAdj / s.n).toLong, vr.toLong)
    }
    import spark.implicits._
    out.toSeq.toDF("variant", "n_rows", "theta_milli", "mean_y_milli",
      "mean_adj_milli", "var_reduction_ppm")
  }

  /** Leave-one-out group influence on a corpus mean: per group, the
    * metric's mean with THAT group excluded and the delta vs the
    * overall mean — "which source is dragging mean quality / length,
    * and by how much would removing it move the corpus" answered
    * from ONE aggregate (the LOO mean is pure panel algebra:
    * `(S - S_h) / (N - N_h)`), no per-group re-scan. The first-order
    * source-attribution audit a mix designer reads before touching
    * weights.
    *
    * ALL-INTEGER milli floors over DECIMAL(38,0); a group that IS
    * the whole corpus reports its own mean as the LOO mean (guarded
    * divisor) with delta 0. Output per group: `(group, n_rows,
    * mean_all_milli [replicated], loo_mean_milli, delta_milli)`.
    */
  def looInfluence(df: DataFrame, groupCol: String,
                   valueCol: String): DataFrame =
    df.select(col(groupCol).cast("string").as("group"),
        col(valueCol).cast("long").as("_v"))
      .groupBy("group")
      .agg(count(lit(1)).cast(LongType).as("n_rows"),
        sum(col("_v").cast(DecimalType(38, 0))).as("_s"))
      .withColumn("_tn", expr("sum(n_rows) OVER ()"))
      .withColumn("_ts", expr("sum(_s) OVER ()"))
      .withColumn("mean_all_milli",
        expr("CAST(_ts * 1000 div _tn AS BIGINT)"))
      .withColumn("loo_mean_milli", expr(
        "CAST(CASE WHEN _tn = n_rows THEN _ts * 1000 div _tn" +
          " ELSE (_ts - _s) * 1000 div (_tn - n_rows) END AS BIGINT)"))
      .withColumn("delta_milli",
        col("loo_mean_milli") - col("mean_all_milli"))
      .select("group", "n_rows", "mean_all_milli", "loo_mean_milli",
        "delta_milli")

  /** Standardized mean difference (SMD) balance audit — per
    * covariate, `(mean_A - mean_B) / pooled_sd` between two variants:
    * the pre-analysis gate an experiment (or a matched/propensity
    * cohort) runs BEFORE trusting its effect estimates; |SMD| > 0.1
    * is the conventional imbalance flag. The audit companion to
    * [[cupedAdjust]].
    *
    * ALL-INTEGER: covariates melt scan-side to (covariate, variant,
    * value) rows (one pass, no per-column jobs — the columnStats
    * shape), six conditional sums per covariate reduce to the
    * |covariates|-bounded panel, and the ratio runs on the COLLECTED
    * panel in BigInt: per-variant micro variance
    * `(n*Svv - Sv^2) * 1e6 div n^2`, pooled halved, `sd_milli` via
    * the corrected floor-sqrt, `smd_milli = meandiff_milli * 1000
    * div max(sd_milli, 1)` — every floor shared exactly with the
    * oracle. Output per covariate: `(covariate, n_a, n_b,
    * mean_a_milli, mean_b_milli, pooled_sd_milli, smd_milli)`.
    */
  def smdBalance(df: DataFrame, variantCol: String, variantA: String,
                 variantB: String, covariates: Seq[String]): DataFrame = {
    require(covariates.nonEmpty, "smdBalance needs covariates")
    require(variantA != variantB, "variants must differ")
    val spark = df.sparkSession
    val melted = df
      .filter(col(variantCol).isin(variantA, variantB))
      .select((col(variantCol) === variantA).as("_isA"),
        explode(array(covariates.map(c =>
          struct(lit(c).as("cov"), col(c).cast(LongType).as("v"))): _*))
          .as("_m"))
      .select(col("_isA"), col("_m.cov").as("cov"), col("_m.v").as("v"))
    val panel = melted.groupBy("cov").agg(
      count(when(col("_isA"), 1)).cast(LongType).as("na"),
      count(when(!col("_isA"), 1)).cast(LongType).as("nb"),
      coalesce(sum(when(col("_isA"), col("v")).cast(DecimalType(38, 0))),
        lit(0)).as("sa"),
      coalesce(sum(when(!col("_isA"), col("v")).cast(DecimalType(38, 0))),
        lit(0)).as("sb"),
      coalesce(sum((when(col("_isA"), col("v"))
        .cast(DecimalType(38, 0)) * when(col("_isA"), col("v")))),
        lit(0)).as("saa"),
      coalesce(sum((when(!col("_isA"), col("v"))
        .cast(DecimalType(38, 0)) * when(!col("_isA"), col("v")))),
        lit(0)).as("sbb"))
      .collect()
    val out = panel.map { r =>
      def d(i: Int) = BigInt(r.getDecimal(i).toBigInteger)
      val (na, nb) = (BigInt(r.getLong(1)), BigInt(r.getLong(2)))
      val (sa, sb, saa, sbb) = (d(3), d(4), d(5), d(6))
      require(na > 0 && nb > 0,
        s"smdBalance: variant missing for covariate ${r.getString(0)}")
      val va6 = (na * saa - sa * sa) * 1000000 / (na * na)
      val vb6 = (nb * sbb - sb * sb) * 1000000 / (nb * nb)
      val sdMilli = graft.Similarity.isqrtPortable((va6 + vb6) / 2)
      val meanDiffMilli = (sa * nb - sb * na) * 1000 / (na * nb)
      (r.getString(0), na.toLong, nb.toLong,
        (sa * 1000 / na).toLong, (sb * 1000 / nb).toLong,
        sdMilli.toLong,
        (meanDiffMilli * 1000 / sdMilli.max(BigInt(1))).toLong)
    }.sortBy(_._1)
    import spark.implicits._
    out.toSeq.toDF("covariate", "n_a", "n_b", "mean_a_milli",
      "mean_b_milli", "pooled_sd_milli", "smd_milli")
  }

  /** Robust per-stratum location/scale: EXACT lower median and MAD
    * (median absolute deviation, unscaled) of an integer metric —
    * the outlier-proof quality panel ("median length and spread per
    * language") where mean/stddev are dragged by a single pathological
    * document. "Lower median" = the value at rank `(n+1) div 2` under
    * the (value, id) total order — a value the corpus actually
    * contains, exact and engine-portable (no midpoint averaging to
    * disagree on).
    *
    * Shape at scale: TWO per-stratum hierarchical prefix-sum scaffold
    * passes (rank by value, then rank by |value - median|) — never a
    * per-stratum window sort, which would hash a whole stratum
    * (potentially a third of the corpus) to one task — each followed
    * by a rank-keyed filter against the broadcast strata-bounded
    * panel. Output: `(stratum, n_rows, median, mad)`.
    */
  def robustStats(df: DataFrame, strataCol: String, valueCol: String,
                  idCol: String): DataFrame = {
    val base = df.select(col(strataCol).cast("string").as("stratum"),
      col(valueCol).cast("long").as("_v"),
      col(idCol).cast("long").as("_id"))
    def medianOf(in: DataFrame, vCol: String, out: String): DataFrame = {
      val pref = Hierarchical.prefixSum(in,
        Seq(col(vCol), col("_id")), Seq("stratum"), lit(1L), "_before", 0)
      val counts = pref.groupBy("stratum")
        .agg(count(lit(1)).cast("long").as("n_rows"))
      pref.join(broadcast(counts), Seq("stratum"))
        .filter(col("_before") + 1 === expr("(n_rows + 1) div 2"))
        .select(col("stratum"), col("n_rows"), col(vCol).as(out))
    }
    val med = medianOf(base, "_v", "median")
    val dev = base.join(broadcast(med.select("stratum", "median")),
        Seq("stratum"))
      .withColumn("_d", abs(col("_v") - col("median")))
    medianOf(dev, "_d", "mad")
      .drop("n_rows")
      .join(broadcast(med), Seq("stratum"))
      .select("stratum", "n_rows", "median", "mad")
  }

  /** Trimmed and winsorized means per stratum — the two standard
    * outlier-resistant location estimates between the mean (fragile)
    * and the median (throws information away): TRIM drops the bottom
    * `lowPermille` and top `highPermille` of each stratum's rows
    * under the (value, id) total order (`k_lo = n * lowPermille div
    * 1000` rows cut exactly — integer, engine-portable, no
    * percentile interpolation); WINSORIZE instead CLAMPS the cut
    * rows to the surviving boundary values. Means are exact milli
    * floors over DECIMAL(38,0).
    *
    * Shape at scale: ONE per-stratum scaffold ranking (never a
    * per-stratum window sort), the strata-bounded count panel
    * broadcast back, boundary values by two rank-keyed filters, then
    * one bounded aggregate. Output per stratum: `(stratum, n_rows,
    * lo_bound, hi_bound, trimmed_mean_milli,
    * winsorized_mean_milli)`.
    */
  def winsorizedMeans(df: DataFrame, strataCol: String,
                      valueCol: String, idCol: String,
                      lowPermille: Int, highPermille: Int): DataFrame = {
    require(lowPermille >= 0 && highPermille >= 0 &&
      lowPermille + highPermille < 1000,
      s"trim shares must be nonnegative and sum below 1000, got " +
        s"$lowPermille/$highPermille")
    val base = df.select(col(strataCol).cast("string").as("stratum"),
      col(valueCol).cast("long").as("_v"),
      col(idCol).cast("long").as("_id"))
    val pref = Hierarchical.prefixSum(base,
      Seq(col("_v"), col("_id")), Seq("stratum"), lit(1L), "_before", 0)
    val counts = pref.groupBy("stratum")
      .agg(count(lit(1)).cast("long").as("n_rows"))
      .withColumn("_klo", expr(s"n_rows * $lowPermille div 1000"))
      .withColumn("_khi", expr(s"n_rows * $highPermille div 1000"))
    val ranked = pref.join(broadcast(counts), Seq("stratum"))
      .withColumn("_rank", col("_before") + 1)
    // surviving boundary values: ranks k_lo + 1 and n - k_hi
    val lo = ranked.filter(col("_rank") === col("_klo") + 1)
      .select(col("stratum"), col("_v").as("lo_bound"))
    val hi = ranked.filter(col("_rank") === col("n_rows") - col("_khi"))
      .select(col("stratum"), col("_v").as("hi_bound"))
    ranked
      .join(broadcast(lo), Seq("stratum"))
      .join(broadcast(hi), Seq("stratum"))
      .withColumn("_kept",
        col("_rank") > col("_klo") &&
          col("_rank") <= col("n_rows") - col("_khi"))
      .withColumn("_w",
        greatest(least(col("_v"), col("hi_bound")), col("lo_bound")))
      .groupBy("stratum")
      .agg(first("n_rows").as("n_rows"),
        first("lo_bound").as("lo_bound"),
        first("hi_bound").as("hi_bound"),
        expr("CAST(SUM(CASE WHEN _kept THEN CAST(_v AS DECIMAL(38,0))" +
          " END) * 1000 div greatest(SUM(CASE WHEN _kept THEN 1L" +
          " ELSE 0L END), 1) AS BIGINT)").as("trimmed_mean_milli"),
        expr("CAST(SUM(CAST(_w AS DECIMAL(38,0))) * 1000" +
          " div greatest(COUNT(*), 1) AS BIGINT)")
          .as("winsorized_mean_milli"))
  }
}
