package graft.ops

import graft.CacheScope
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Scale-safe GLOBAL ordering: assign each row its 1-based position in
  * a total order over the whole corpus — the curriculum-learning /
  * deterministic-training-order primitive ("feed the longest documents
  * first", "replay the corpus in quality order").
  *
  * A naive `row_number() OVER (ORDER BY ...)` is a single window
  * partition: the entire corpus serializes through ONE task — the same
  * scale-killer the packing operator had. Same cure, hierarchically:
  *
  *  1. `repartitionByRange` on the sort keys puts each task a
  *     contiguous slice of the global order; a LOCAL `row_number` per
  *     slice is embarrassingly parallel.
  *  2. Per-slice row counts (a `chunks`-row frame) prefix-sum into
  *     slice offsets, broadcast back: `pos = offset + local_rn`.
  *
  * Prefix sums compose for ANY boundary placement, so the result is
  * identical to the single-window form; the slice frame is persisted so
  * both consumers see ONE sampled set of range boundaries.
  */
object Ranking {

  /** Append `outCol` = global 1-based position under `sort`.
    *
    * `sort` must be a TOTAL order (include a unique key as the last
    * tiebreak) — under a partial order, rows equal on every key could
    * land on either side of a chunk boundary and swap positions between
    * runs. The boundary-consistency cache ([[Hierarchical.prefixSum]])
    * is persisted through `scope`.
    */
  def globalRowNumber(df: DataFrame, sort: Seq[Column],
                      outCol: String = "pos", chunks: Int = 0,
                      scope: CacheScope = new CacheScope): DataFrame =
    // position = exclusive prefix COUNT under the total order, + 1
    Hierarchical.prefixSum(df, sort, Nil, lit(1L), "_before", chunks, scope)
      .withColumn(outCol, col("_before") + lit(1L)).drop("_before")

  /** Coverage-curve thresholds: given per-key mass counts (e.g. token
    * frequencies), the minimal number of top keys — ordered by count
    * desc, key asc — whose cumulative mass reaches each `pct` percent of
    * the total. The "how big must the vocabulary be to cover 99% of
    * token occurrences" question, answered exactly.
    *
    * k(pct) = |{keys whose cumulative mass including self is still
    * below pct% of total}| + 1 — equivalent to MIN(rank) over
    * `cum >= threshold` because cumulative mass is strictly increasing
    * (every count >= 1), but expressed as a filtered COUNT so no global
    * rank is ever materialized. The cumulative sum itself is the
    * hierarchical prefix-sum scaffold (parallel slices + broadcast
    * offsets), NOT a single-partition window, and the comparison is
    * all-integer (`cum * 100 < pct * total`) — exact on every engine.
    *
    * `counts` is executed twice (the total and the curve) — persist it
    * if its derivation is expensive. Returns (pct, k_keys); the
    * scaffold's cache is persisted through `scope`.
    */
  def coverageThresholds(counts: DataFrame, keyCol: String, nCol: String,
                         pcts: Seq[Int], outCol: String = "k_keys",
                         chunks: Int = 0,
                         scope: CacheScope = new CacheScope): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p > 0 && p <= 100),
      s"pcts must be percentages in (0,100], got $pcts")
    // one-row integer aggregate: eager-resolved to a literal rather than
    // cross-joined, so the curve's plan stays a pure aggregation (a
    // constant-key join would degrade to a nested-loop join — measured
    // in round 6's q80 work)
    // SUM over zero rows is NULL, not 0 — an empty counts frame should
    // yield an empty curve, not an NPE at the literal resolution
    val totalRow = counts.agg(sum(col(nCol)).cast("long")).first()
    val total = if (totalRow.isNullAt(0)) 0L else totalRow.getLong(0)
    Hierarchical.prefixSum(counts, Seq(col(nCol).desc, col(keyCol)), Nil,
      col(nCol), "_before", chunks, scope)
      .select((col("_before") + col(nCol)).as("_cum"))
      .select(explode(array(pcts.map(lit): _*)).as("pct"), col("_cum"))
      .groupBy(col("pct"))
      .agg((count(when(col("_cum") * 100 < col("pct") * lit(total), 1)) + 1)
        .cast("long").as(outCol))
  }

  /** EQUI-WIDTH quantile bucketing: append `bucket` = 1-based k-tile
    * of the row under the total order (`valueCol` asc, `idCol` asc) —
    * `bucket = ((rank - 1) * k) div n + 1`, the curriculum /
    * difficulty-binning assignment ("decile by document length") that
    * is exact and reproducible where `ntile`'s remainder distribution
    * is engine-defined and a single-partition `ntile` window is a
    * scale-killer anyway. The rank comes from the hierarchical
    * prefix-sum scaffold; `n` is one bounded count action (in a
    * production pipeline the corpus size is already known — pass it
    * via the overload to skip the action).
    *
    * Buckets are contiguous rank ranges of size n/k (earlier buckets
    * get the remainder rows, matching the integer formula exactly on
    * both engines — `div`, never float floor).
    */
  def quantileBuckets(df: DataFrame, valueCol: String, idCol: String,
                      k: Int, chunks: Int = 0): DataFrame =
    quantileBuckets(df, valueCol, idCol, k, df.count(), chunks)

  /** [[quantileBuckets]] with a known corpus size (no count action). */
  def quantileBuckets(df: DataFrame, valueCol: String, idCol: String,
                      k: Int, n: Long, chunks: Int): DataFrame = {
    require(k >= 1, s"bucket count must be >= 1, got $k")
    require(n > 0, s"corpus size must be positive, got $n")
    globalRowNumber(df, Seq(col(valueCol), col(idCol)), "_rank", chunks)
      .withColumn("bucket", expr(s"((_rank - 1) * $k) div ${n}L + 1"))
      .drop("_rank")
  }

  /** PER-STRATUM equi-width quantile bucketing: [[quantileBuckets]]
    * with the rank and the size both computed WITHIN each stratum —
    * `bucket = (before * k) div n_stratum + 1` where `before` is the
    * stratum-local exclusive prefix count under the global
    * (`valueCol`, `idCol`) order. The CCNet-style per-language banding
    * assignment (head/middle/tail thirds of a quality score, per
    * lang), exact and engine-portable where a per-stratum `ntile`
    * window would hash a whole stratum — potentially a third of a
    * 100 TB corpus — to ONE task. Ranks ride the hierarchical
    * prefix-sum scaffold with `strata` keys; stratum sizes are one
    * bounded aggregate broadcast back. Same leak note as
    * [[quantileBuckets]]: the scaffold's cache is released at session
    * end / clearCache (one-shot-job convention).
    */
  def stratifiedQuantileBuckets(df: DataFrame, strata: Seq[String],
                                valueCol: String, idCol: String,
                                k: Int, chunks: Int = 0): DataFrame = {
    require(k >= 1, s"bucket count must be >= 1, got $k")
    val pref = Hierarchical.prefixSum(df,
      Seq(col(valueCol), col(idCol)), strata, lit(1L), "_before", chunks)
    // stratum sizes over the scaffold's cached slices (no second
    // evaluation of the input lineage); strata-bounded frame
    val counts = pref.groupBy(strata.map(col): _*)
      .agg(count(lit(1)).cast(LongType).as("_n"))
    pref.join(broadcast(counts), strata)
      .withColumn("bucket", expr(s"(_before * $k) div _n + 1"))
      .drop("_before", "_n")
  }

  /** EXACT permille quantiles of `valueCol` under the total order
    * (`valueCol` asc, then `tieCols`): the value at global rank
    * `ceil(permille * n / 1000)` — the length-budget / SLA question
    * ("what sequence length covers 99% of documents") answered without
    * an approximate sketch AND without a single-task global sort: the
    * rank comes from the hierarchical prefix-sum scaffold, and the
    * target ranks are an integer formula over one bounded count.
    * Returns (permille, rank, value).
    *
    * At 100 TB this is the exact-quantile shape that works: one count,
    * one scaffold pass, one rank-keyed semi-join — vs
    * `approxQuantile`'s sketch (fast but approximate, useless for a
    * reproducible release gate) or a global `orderBy.limit` (single
    * task at the cut).
    */
  def exactQuantiles(df: DataFrame, valueCol: String, tieCols: Seq[Column],
                     permilles: Seq[Int], chunks: Int = 0): DataFrame = {
    require(permilles.nonEmpty && permilles.forall(p => p >= 1 && p <= 1000),
      s"permilles must be in [1,1000], got $permilles")
    val spark = df.sparkSession
    val n = df.count()
    require(n > 0, "exactQuantiles needs a non-empty frame")
    val targets = permilles.map(p => (p.toLong, (p * n + 999L) / 1000L))
    val ranked = globalRowNumber(df.select(col(valueCol) +: tieCols: _*),
      col(valueCol) +: tieCols, "pos", chunks)
    import spark.implicits._
    val want = targets.toDF("permille", "rank")
    ranked.join(want, ranked("pos") === want("rank"))
      .select(col("permille"), col("rank"), col(valueCol).as("value"))
      .orderBy("permille")
  }

  /** Rank-biased overlap (Webber, Moffat & Zobel 2010), truncated at
    * `depth`: the top-weighted ranking-agreement score —
    * `RBO@D = (1-p) * sum over d=1..D of p^(d-1) * |A_1..d ∩ B_1..d| / d`
    * — retrieval-drift audits ("did the reranker change what users
    * see?"), A/B ranking comparisons, regression gates on search
    * changes. Top-weighted where Kendall/Spearman treat all positions
    * equally; handles non-conjoint lists (items in only one ranking)
    * natively, which rank correlations cannot.
    *
    * ALL-INTEGER: `p = pNum/pDen` rational; every term is scaled by
    * the common denominator `pDen^(D-1) * lcm(1..D)` so the sum is a
    * DECIMAL(38,0) of exact integer coefficients (precomputed; the
    * bound `pDen^(D-1)*lcm <= 1e28` is enforced loudly — p = 9/10,
    * D = 20 sits well inside), and `rbo_ppm` is one exact floor.
    *
    * Scale shape: inputs are ALREADY-RANKED frames (the producers are
    * TakeOrderedAndProject / GroupedTopK top-k jobs); everything here
    * runs on the <= depth-row intersection — one equi-join, one
    * explode over (m..D), bounded aggregates. Output: one row per
    * depth d (`d`, `overlap` = |A_1..d ∩ B_1..d|) with the final
    * `rbo_ppm` replicated.
    */
  def rankBiasedOverlap(a: DataFrame, b: DataFrame, idCol: String,
                        rankCol: String, depth: Int,
                        pNum: Int, pDen: Int): DataFrame = {
    require(depth >= 1 && depth <= 64, s"depth must be in [1, 64], got $depth")
    require(pNum >= 1 && pNum < pDen,
      s"p must be a fraction in (0, 1), got $pNum/$pDen")
    val lcm = (1 to depth).map(BigInt(_)).reduce((x, y) => x * y / x.gcd(y))
    val den = BigInt(pDen).pow(depth - 1) * lcm
    require(den <= BigInt(10).pow(28),
      s"pDen^(depth-1)*lcm(1..depth) = $den exceeds the DECIMAL(38,0) " +
        "headroom — lower depth or pDen")
    val coef = (1 to depth).map(d =>
      BigInt(pNum).pow(d - 1) * BigInt(pDen).pow(depth - d) * (lcm / d))
    val spark = a.sparkSession
    import spark.implicits._
    val depths = coef.zipWithIndex
      .map { case (c, i) => ((i + 1).toLong, c.toString) }
      .toDF("d", "_cs")
      .withColumn("_c", col("_cs").cast("decimal(38,0)")).drop("_cs")
    val aj = a.select(col(idCol).as("_id"), col(rankCol).as("_ra"))
      .filter(col("_ra") <= depth)
    val bj = b.select(col(idCol).as("_id"), col(rankCol).as("_rb"))
      .filter(col("_rb") <= depth)
    val common = aj.join(bj, "_id")
      .select(greatest(col("_ra"), col("_rb")).cast(LongType).as("_m"))
    // an id first co-present at depth m contributes to every
    // overlap@d with d >= m: explode + equi-group, never a range join
    val ov = common
      .withColumn("d", explode(expr(s"sequence(_m, ${depth}L)")))
      .groupBy("d").agg(count(lit(1)).cast(LongType).as("overlap"))
    val full = depths.join(ov, Seq("d"), "left")
      .withColumn("overlap", coalesce(col("overlap"), lit(0L)))
    val rbo = full.agg(
      coalesce(sum(expr("_c * overlap")),
        lit(0).cast("decimal(38,0)")).as("_num"))
      .select(expr(s"CAST(_num * ${pDen - pNum} * 1000000 " +
        s"div CAST('${den * pDen}' AS DECIMAL(38,0)) AS BIGINT)")
        .as("rbo_ppm"))
    full.select(col("d"), col("overlap"))
      .crossJoin(broadcast(rbo))
      .orderBy("d")
  }
}
