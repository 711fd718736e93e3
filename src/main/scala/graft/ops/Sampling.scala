package graft.ops

import graft.CacheScope
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Training-data mixing operators: deterministic stratified sampling
  * and sequence packing — the two steps between a cleaned corpus and a
  * training batch stream.
  *
  * Both are scan-side or one-window operators: no RNG state (hash-based
  * sampling reproduces exactly across runs, engines, and retries — the
  * property that matters when a 100 TB sampling job is re-run after a
  * partial failure), no driver collects, no cartesians.
  */
object Sampling {

  /** Deterministic stratified sampling: keep a row iff
    * `hash32(md5(id)) % 1000 < rate_permille(stratum)`. The md5-derived
    * hash is uniform and engine-portable (same recipe as the dedup
    * pipeline's token hashes), so a rate of 0.25 keeps 25% ± binomial
    * noise of each stratum, the SAME 25% every run — sampling is a
    * pure filter in the scan, no shuffle, trivially scale-free.
    */
  def stratified(df: DataFrame, idCol: String, strataCol: String,
                 ratesPermille: Map[String, Int],
                 defaultPermille: Int): DataFrame = {
    val permille: Column = ratesPermille.foldLeft(lit(defaultPermille)) {
      case (acc, (stratum, p)) => when(col(strataCol) === stratum, lit(p)).otherwise(acc)
    }
    df.filter(
      pmod(graft.Pipeline.wordHash32(col(idCol).cast("string")), lit(1000L)) < permille)
  }

  /** Deterministic train/val/test split: append a `split` column chosen
    * by the md5-hash slot of `keyCol` against cumulative permille
    * thresholds — every row lands in exactly one split, the SAME one
    * every run/engine/retry (the property that matters when the corpus
    * is re-split after a partial failure: no example silently migrates
    * between train and test). Scan-side expression, zero shuffle.
    *
    * `splits` is ordered (name, permille) with permilles summing to
    * 1000, e.g. `Seq(("train", 800), ("val", 100), ("test", 100))`.
    * Pass a CLUSTER label as `keyCol` (see
    * [[graft.Dedup.leakageSafeSplits]]) to keep near-duplicate groups
    * in one split.
    *
    * A NULL key hashes to a NULL slot: every comparison is null, and
    * the when-chain's otherwise would silently dump such rows into the
    * LAST split — contaminating the eval set. They get a NULL `split`
    * instead (explicit, filterable); pre-clean NULL keys upstream.
    */
  def assignSplits(df: DataFrame, keyCol: String,
                   splits: Seq[(String, Int)]): DataFrame = {
    // `split` is the documented output column: refuse to silently
    // overwrite one the caller already has (withColumn would)
    require(!df.columns.contains("split"),
      "input already carries a 'split' column — rename it before assignSplits")
    df.withColumn("split", splitFor(col(keyCol), splits))
  }

  /** The split-assignment EXPRESSION behind [[assignSplits]] — apply it
    * directly to a key column (e.g. both sides of a pair frame) when
    * materializing a split column per row would force a join.
    */
  def splitFor(key: Column, splits: Seq[(String, Int)]): Column = {
    require(splits.nonEmpty && splits.map(_._2).sum == 1000,
      s"split permilles must sum to 1000, got $splits")
    require(splits.forall(_._2 > 0), s"every split needs permille > 0: $splits")
    require(splits.map(_._1).distinct.size == splits.size,
      s"duplicate split names in $splits")
    val slot = pmod(graft.Pipeline.wordHash32(key.cast("string")), lit(1000L))
    val cum = splits.scanLeft(0)(_ + _._2).tail
    val assigned = splits.zip(cum).init
      .foldRight(lit(splits.last._1): Column) {
        case (((name, _), c), acc) => when(slot < c, lit(name)).otherwise(acc)
      }
    when(key.isNotNull, assigned).otherwise(lit(null))
  }

  /** Deterministic output-shard assignment: `shard = hash32(seed_id)
    * mod nShards` — the write-side partitioning a training reader
    * consumes. Content-hash based (retry-stable, engine-exact, no
    * round-robin state), uniform in expectation, and re-seedable when
    * a release wants a fresh shuffle of the same corpus. Use with
    * `df.repartition(nShards, col("shard")).write.partitionBy("shard")`
    * (or bucketBy) — the column IS the physical layout key.
    */
  def assignShards(df: DataFrame, keyCol: String, nShards: Int,
                   seed: String = "sh"): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    require(!df.columns.contains("shard"),
      "input already carries a 'shard' column — rename it before assignShards")
    df.withColumn("shard", pmod(graft.Pipeline.wordHash32(
      concat(lit(seed + "_"), col(keyCol).cast("string"))), lit(nShards.toLong)))
  }

  /** Per-shard doc/weight balance under [[assignShards]]'s key — the
    * write-side layout audit (q131; a skewed shard starves training
    * readers). `weightCol` is any non-null numeric mass (token count).
    */
  def shardBalance(df: DataFrame, keyCol: String, weightCol: String,
                   nShards: Int, seed: String = "sh"): DataFrame =
    assignShards(df, keyCol, nShards, seed)
      .groupBy("shard")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col(weightCol)).cast("long").as("n_tokens"))
      .orderBy("shard")

  /** BUDGET-CONSTRAINED corpus selection: rank rows by `valueCol`
    * descending (id tiebreak) and keep a row iff the tokens of every
    * higher-ranked row plus its own fit the global `budget` — "take
    * the best documents until the token budget is spent", the
    * fixed-compute curation rule. Because the cumulative sum runs over
    * ALL higher-ranked rows, this is the budget CUT of the
    * value-sorted corpus (bin 0 of [[packSequences]] under value
    * order): one doc straddling the boundary is dropped and nothing
    * after it fits. Deterministic, parallel, oracle-exact.
    *
    * The global prefix sum runs on [[Hierarchical.prefixSum]] (range
    * slices + broadcast offsets), so NO single task ever sees the
    * whole corpus — the scale shape a naive global window lacks.
    * Output adds `cum_before`. The scaffold's cache is persisted
    * through `scope`.
    */
  def selectWithinBudget(df: DataFrame, idCol: String, valueCol: String,
                         tokensCol: String, budget: Long, chunks: Int = 0,
                         scope: CacheScope = new CacheScope): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    Hierarchical.prefixSum(df, Seq(col(valueCol).desc, col(idCol)), Nil,
      col(tokensCol), "cum_before", chunks, scope)
      .filter(col("cum_before") + col(tokensCol) <= budget)
  }

  /** The target-mix quota join: `targets` checked (non-empty,
    * positive ppm weights summing to 1e6, no stratum twice), each
    * stratum's quota `_quota = t * ppm / 1e6` for the largest total `t`
    * that every stratum's collected `mass` (`(stratum, mass)` rows) can
    * fill, broadcast-joined onto `df` with the md5 `_slot` tiebreak.
    *
    * BigInt: mass * 1e6 overflows Long past ~9.2e12 rows or tokens
    * (~37 TB of text — inside the operators' advertised envelope). t *
    * ppm / 1e6 <= mass_s for every stratum (t is the min), so each
    * quota fits a Long.
    */
  private def withQuotas(df: DataFrame, idCol: String, strataCol: String,
                         targets: Seq[(String, Int)],
                         mass: => DataFrame): DataFrame = {
    require(targets.nonEmpty, "targets must be non-empty")
    require(targets.map(_._2).forall(_ > 0),
      s"target ppm weights must be positive: $targets")
    require(targets.map(_._2.toLong).sum == 1000000L,
      s"target ppm weights must sum to 1000000, got ${targets.map(_._2.toLong).sum}")
    require(targets.map(_._1).distinct.size == targets.size,
      s"duplicate stratum in targets: $targets")
    val byStratum = mass.collect().map(r => r.get(0) -> r.getLong(1))
      .collect { case (s: String, n) => s -> n }.toMap
    val t = targets.map { case (s, ppm) =>
      BigInt(byStratum.getOrElse(s, 0L)) * 1000000 / ppm }.min
    import df.sparkSession.implicits._
    val quotaDf = targets.map { case (s, ppm) => (s, (t * ppm / 1000000).toLong) }
      .toDF("_q_stratum", "_quota")
    df.join(broadcast(quotaDf), col(strataCol) === col("_q_stratum"))
      .withColumn("_slot", pmod(
        graft.Pipeline.wordHash32(col(idCol).cast("string")), lit(1000000L)))
  }

  /** TARGET-DISTRIBUTION mix: the LARGEST exact-count selection whose
    * stratum composition matches `targets` (parts-per-million per
    * stratum, summing to 1e6) — "make the corpus 50% en / 15% zh /
    * 15% es / 10% de / 10% fr" as a solver, not a per-stratum guess.
    *
    * Feasible volume: `T = min_s floor(n_s * 1e6 / ppm_s)` over the
    * targeted strata (the binding stratum is the one the target
    * over-weights most relative to supply); each stratum then
    * contributes `quota_s = (T * ppm_s) div 1e6 <= n_s` rows. Strata
    * not in `targets` contribute nothing; a targeted stratum with NO
    * corpus rows makes the mix infeasible (T = 0, empty output) — the
    * strict reading of "match this distribution".
    *
    * Selection within a stratum is by md5-hash priority with id
    * tiebreak (uniform, reproducible across runs/engines/retries, like
    * every sampler here); the per-stratum rank comes from
    * [[Hierarchical.prefixSum]] — range slices + broadcast offsets,
    * never a single-task per-stratum window, and unlike
    * [[prioritySample]]'s fixed-k heaps it supports a DIFFERENT quota
    * per stratum. Stratum counts are collected driver-side (strata are
    * few by construction; same contract as [[temperatureMix]]).
    *
    * Output: the selected rows with `mix_rank` (1-based within
    * stratum). The scaffold's cache is persisted through `scope`.
    */
  def targetMix(df: DataFrame, idCol: String, strataCol: String,
                targets: Seq[(String, Int)], chunks: Int = 0,
                scope: CacheScope = new CacheScope): DataFrame = {
    Hierarchical.prefixSum(
      withQuotas(df, idCol, strataCol, targets,
        df.groupBy(col(strataCol)).count()),
      Seq(col("_slot"), col(idCol)), Seq(strataCol), lit(1L), "_before",
      chunks, scope)
      .filter(col("_before") < col("_quota"))
      .withColumn("mix_rank", (col("_before") + 1L).cast(org.apache.spark.sql.types.LongType))
      .drop("_q_stratum", "_quota", "_slot", "_before")
  }

  /** TOKEN-budget target mix: like [[targetMix]] but the target
    * distribution is over TOKEN MASS, not document counts — which is
    * how training mixes are actually specified ("30% code by tokens"),
    * and materially different whenever strata have different length
    * profiles (a doc-count mix over long-doc code and short-doc chat
    * lands nowhere near the token spec).
    *
    * Feasible volume `T = min_s floor(tok_s * 1e6 / ppm_s)` (total
    * tokens, bounded by the stratum the target over-weights most);
    * per-stratum token quota `(T * ppm_s) div 1e6`. Selection is by
    * md5-slot priority with id tiebreak; a row is kept while the
    * stratum's token prefix-sum BEFORE it is under the quota — the
    * boundary row completes the budget (row-granular selection cannot
    * hit an exact token count; the overshoot is < one document, the
    * same greedy rule as [[packSequences]] bins). Ranks ride
    * [[Hierarchical.prefixSum]]; stratum token totals are collected
    * driver-side (strata are few by construction).
    *
    * Output: the selected rows with `tok_before` (tokens taken from
    * the stratum before this row). The scaffold's cache is persisted
    * through `scope`.
    */
  def targetMixTokens(df: DataFrame, idCol: String, strataCol: String,
                      tokensCol: String, targets: Seq[(String, Int)],
                      chunks: Int = 0,
                      scope: CacheScope = new CacheScope): DataFrame =
    targetMixTokensCore(df, idCol, strataCol, tokensCol, targets, Nil,
      chunks, scope)

  /** QUALITY-RANKED token-budget mix: [[targetMixTokens]]
    * with the fill order led by `priorityCol` ASCENDING (best first —
    * pass a surprisal/perplexity-shaped score directly) before the
    * md5-slot + id tiebreak, so each stratum's token quota goes to its
    * best-scoring documents instead of a uniform draw — the actual
    * pretraining-mix recipe: language (or domain) targets hold by
    * token mass AND the budget inside each stratum is spent
    * quality-first. Ties within a score still land uniformly (the
    * slot), so banded scores don't order by id. Same quota math,
    * scaffold, and `scope` as the uniform form.
    */
  def targetMixTokensByPriority(df: DataFrame, idCol: String,
                                strataCol: String, tokensCol: String,
                                priorityCol: String,
                                targets: Seq[(String, Int)],
                                chunks: Int = 0,
                                scope: CacheScope = new CacheScope): DataFrame =
    targetMixTokensCore(df, idCol, strataCol, tokensCol, targets,
      Seq(col(priorityCol)), chunks, scope)

  private def targetMixTokensCore(df: DataFrame, idCol: String,
                                  strataCol: String, tokensCol: String,
                                  targets: Seq[(String, Int)],
                                  sortPrefix: Seq[Column], chunks: Int,
                                  scope: CacheScope): DataFrame = {
    Hierarchical.prefixSum(
      withQuotas(df, idCol, strataCol, targets,
        df.groupBy(col(strataCol))
          .agg(sum(col(tokensCol)).cast(org.apache.spark.sql.types.LongType)
            .as("_t"))),
      sortPrefix ++ Seq(col("_slot"), col(idCol)), Seq(strataCol),
      col(tokensCol), "_tok_before", chunks, scope)
      .filter(col("_tok_before") < col("_quota"))
      .withColumn("tok_before", col("_tok_before"))
      .drop("_q_stratum", "_quota", "_slot", "_tok_before")
  }

  /** Deterministic FIXED-COUNT sample: exactly `min(k, stratum size)`
    * rows per stratum, chosen by md5-hash priority — "give me a uniform
    * 10k-document audit sample per language" where [[stratified]]'s
    * rate form would need the stratum sizes up front. Priority-based
    * sampling is uniform (the hash is uniform on ids) and reproducible
    * across runs/engines/retries, like every sampler here.
    *
    * Runs on the [[graft.plans.GroupedTopK]] custom physical operator:
    * per-partition bounded heaps of k entries, one shuffle of the
    * survivors — never a full per-stratum sort, and no stratum ever
    * funnels through a single task's memory beyond k rows. The order
    * value packs the hash with the id (`slot * 2^40 + id mod 2^40`,
    * staying under 2^60) so it is collision-free — and the boundary
    * row therefore deterministic — for ids below 2^40 (~1.1e12: past
    * any 100 TB document corpus; ids above that can tie at the k-th
    * slot and fall to GroupedTopK's unspecified tie-break).
    */
  def prioritySample(df: DataFrame, idCol: String, strataCol: String,
                     k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    // `pri` is the documented output column: refuse to silently
    // overwrite one the caller already has (withColumn would)
    require(!df.columns.contains("pri"),
      "input already carries a 'pri' column — rename it before prioritySample")
    val slot = pmod(graft.Pipeline.wordHash32(col(idCol).cast("string")),
      lit(1000000L))
    val withPri = df.withColumn("pri",
      slot * lit(1099511627776L) + pmod(col(idCol), lit(1099511627776L)))
    graft.plans.GroupedTopK.perKey(withPri, Seq(strataCol), "pri",
      k, largest = false)
  }

  /** Deterministic GLOBAL training-order shuffle: append `outCol` =
    * this row's 1-based position in the md5-hash order of
    * (`seed` + "_" + id) — the "shuffle the corpus before epoch N"
    * step, reproducible across runs/engines/retries (re-running a
    * partially-failed epoch materialization yields the SAME order) and
    * re-seedable per epoch (a different `seed` is a fresh permutation).
    *
    * The position comes from [[Ranking.globalRowNumber]]'s hierarchical
    * scaffold (range-partitioned local row_numbers + broadcast
    * prefix-sum offsets) — never a single-partition global window. The
    * id is the tiebreak, so the order is total even under hash
    * collisions.
    */
  def deterministicShuffle(df: DataFrame, idCol: String, seed: String,
                           outCol: String = "pos"): DataFrame =
    Ranking.globalRowNumber(
      df.withColumn("_shuf", graft.Pipeline.wordHash32(
        concat(lit(seed), lit("_"), col(idCol).cast("string")))),
      Seq(col("_shuf"), col(idCol)), outCol)
      .drop("_shuf")

  /** CURRICULUM schedule: assign each row a difficulty `phase` (1-based
    * k-tile of `scoreCol` under the exact (score, id) total order —
    * [[Ranking.quantileBuckets]], never a single-partition ntile) plus
    * a deterministic intra-phase shuffle `slot` (md5 of seed + id, ppm)
    * — the easy→hard training-order primitive. The TRAINING ORDER is
    * the sort key `(phase, slot, idCol)`; materialize it with
    * `repartitionByRange(phase, slot, id).sortWithinPartitions(...)`
    * at write time rather than a global row index (a materialized
    * global index costs a second scaffold pass and goes stale on any
    * upstream filter; the key does not). The slot decorrelates
    * within-phase order from the score, so each phase streams as an
    * unbiased sample of its difficulty band.
    *
    * Shape: one hierarchical prefix-sum scaffold for the rank (the
    * q146 machinery), scan-side hashing for the slot. Re-seedable per
    * epoch. Output: input columns + `phase`, `slot`.
    */
  def curriculumOrder(df: DataFrame, idCol: String, scoreCol: String,
                      phases: Int, seed: String = "curriculum",
                      chunks: Int = 0): DataFrame = {
    require(phases >= 1, s"phase count must be >= 1, got $phases")
    Ranking.quantileBuckets(df, scoreCol, idCol, phases, chunks = chunks)
      .withColumnRenamed("bucket", "phase")
      .withColumn("slot", pmod(graft.Pipeline.wordHash32(
        concat(lit(seed), lit("_"), col(idCol).cast("string"))),
        lit(1000000L)))
  }

  /** Greedy contiguous sequence packing: within each stratum, rows in
    * `idCol` order are appended to a bin until the token budget is
    * crossed — `bin = cum_tokens_before div budget` (a doc that
    * straddles a boundary opens the next bin; a doc longer than the
    * budget gets its own bin plus spillover, the standard greedy
    * approximation).
    *
    * Strata are low-cardinality by construction (a handful of sources),
    * so a single `partitionBy(stratum)` window would serialize each
    * source's entire corpus through ONE task — a scale-killer at 100 TB.
    * Instead: two-pass hierarchical packing.
    *
    *  1. Range-partition by (stratum, id) into `chunks` contiguous
    *     slices; compute the cumulative-before sum LOCALLY per
    *     (chunk, stratum) — every chunk is an independent task.
    *  2. Aggregate per-(chunk, stratum) token totals — a tiny frame
    *     (chunks x strata rows) — and prefix-sum it per stratum to get
    *     each chunk's global offset; broadcast-join the offsets back.
    *
    * `bin = (offset + local_before) div budget` is identical to the
    * single-window form for ANY chunk boundary placement (prefix sums
    * compose), so the output is deterministic even though range
    * boundaries come from sampling. Exact integer `div`, not float
    * floor: bit-safe on every engine at any magnitude.
    */
  /** Deterministic WEIGHTED sampling: keep a row iff
    * `hash32(md5(id)) % 1e6 < floor(weight * 1e6)` — per-row keep
    * probability equal to `weightCol` (clamped [0,1]), the same rows
    * every run/engine/retry. The boundary uses `floor` explicitly:
    * Spark's double→long CAST truncates while DuckDB's rounds, so a
    * bare cast would disagree on the boundary; floor is identical.
    * Same scan-side zero-shuffle shape as [[stratified]] — this is the
    * "sample high-quality documents proportionally more" mixing step.
    */
  def weighted(df: DataFrame, idCol: String, weightCol: String): DataFrame =
    df.filter(
      pmod(graft.Pipeline.wordHash32(col(idCol).cast("string")), lit(1000000L)) <
        floor(greatest(lit(0.0), least(lit(1.0), col(weightCol))) * 1000000d)
          .cast("long"))

  /** Temperature-scaled mixture sampling: resample a corpus so each
    * stratum's share of the OUTPUT follows `n_s^alpha / sum_t n_t^alpha`
    * (the multilingual-training mixing rule — alpha < 1 upweights
    * low-resource strata, alpha = 1 keeps natural proportions), scaled
    * to keep `targetFrac` of the corpus overall. Per-stratum keep rate:
    *
    *   rate_s = min(1, targetFrac * total_n * (n_s^alpha / sum_t n_t^alpha) / n_s)
    *
    * then rows keep via the same deterministic md5-slot filter as
    * [[weighted]] — reproducible across runs, engines, and retries.
    *
    * Scale shape: one bounded `groupBy(stratum)` count, a broadcast of
    * the stratum-rate frame (strata are languages/sources — always
    * tiny), and a scan-side filter. The float totals fold over a
    * SORTED collect_list (strata ordered by name), because float
    * addition is order-sensitive and an oracle replaying the fold must
    * see the identical sequence; alpha = 0.5 uses `sqrt` (IEEE
    * correctly-rounded on every engine) rather than `pow` (libm-
    * dependent), so the default is bit-reproducible cross-engine.
    */
  def temperatureMix(df: DataFrame, idCol: String, strataCol: String,
                     alpha: Double = 0.5, targetFrac: Double = 0.5,
                     scope: CacheScope = new CacheScope): DataFrame = {
    require(targetFrac > 0 && targetFrac <= 1,
      s"targetFrac must be in (0,1], got $targetFrac")
    // null-safe join: a NULL stratum (e.g. failed language detection)
    // counts like any other group — a plain === would count its rows
    // in the totals but then silently DROP all of them here, skewing
    // every real stratum's rate below target. (Oracle-replayed callers
    // should still pre-bin NULLs: SQL list(ORDER BY) and Spark
    // sort_array disagree on NULL placement in the totals fold.)
    weighted(df.join(broadcast(strataRates(df, strataCol, alpha, targetFrac, scope)
          .select(col("_rs"), least(lit(1.0), col("_rate")).as("_rate"))),
        col(strataCol) <=> col("_rs")),
        idCol, "_rate")
      .drop("_rs", "_rate")
  }

  /** Sampling WITH REPLACEMENT at temperature alpha: like
    * [[temperatureMix]] but a stratum whose target share exceeds its
    * natural share is UPSAMPLED — rate 2.6 emits every row twice plus a
    * 0.6-probability third copy — so `targetFrac` may exceed 1 (the
    * "train low-resource languages for multiple epochs" rule; e.g.
    * targetFrac = 2.0 builds a two-epoch-budget mixture). Output rows
    * carry a `copy` index (0-based) — downstream packing/shuffling
    * treats each copy as a distinct row. The fractional copy uses the
    * same md5-slot decision as [[weighted]]: deterministic across
    * runs, engines, and retries.
    */
  def temperatureMixWithReplacement(df: DataFrame, idCol: String,
                                    strataCol: String, alpha: Double = 0.5,
                                    targetFrac: Double = 1.0,
                                    scope: CacheScope = new CacheScope): DataFrame = {
    require(targetFrac > 0, s"targetFrac must be positive, got $targetFrac")
    val withRate = df.join(broadcast(strataRates(df, strataCol, alpha, targetFrac, scope)),
      col(strataCol) <=> col("_rs"))
    val frac = col("_rate") - floor(col("_rate"))
    withRate
      .withColumn("copies", floor(col("_rate")).cast("long") +
        when(pmod(graft.Pipeline.wordHash32(col(idCol).cast("string")),
            lit(1000000L)) < floor(frac * 1000000d).cast("long"), 1L)
          .otherwise(0L))
      .filter(col("copies") > 0)
      .withColumn("copy", explode(sequence(lit(0L), col("copies") - 1)))
      .drop("_rs", "_rate", "copies")
  }

  /** Per-stratum temperature resampling rates (UNCAPPED):
    * `rate_s = targetFrac * total_n * (n_s^alpha / sum_t n_t^alpha) / n_s`
    * as a broadcast-sized frame (_rs, _rate). The float totals fold
    * over a stratum-SORTED collect_list (float addition is
    * order-sensitive and an oracle replaying the fold must see the
    * identical sequence); alpha = 0.5 uses `sqrt` (IEEE
    * correctly-rounded everywhere) rather than `pow` (libm-dependent).
    */
  private def strataRates(df: DataFrame, strataCol: String, alpha: Double,
                          targetFrac: Double, scope: CacheScope): DataFrame = {
    require(alpha >= 0, s"alpha must be non-negative, got $alpha")
    def powN(n: Column): Column =
      if (alpha == 0.5) sqrt(n.cast("double")) else pow(n.cast("double"), alpha)
    // persisted: the totals fold AND the rate frame both read it —
    // uncached, each would trigger its own full corpus scan
    val counts = scope.persist(df.groupBy(col(strataCol))
      .agg(count(lit(1)).cast("long").as("_n")),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // index-ordered folds (see Pipeline.scala's portability argument):
    // DuckDB's init-less list_reduce and Spark's 0.0-seeded aggregate
    // produce bit-identical sums over the same sorted sequence
    val totals = counts
      .agg(sort_array(collect_list(struct(col(strataCol).as("s"),
        col("_n").as("n")))).as("_xs"))
      .select(
        aggregate(col("_xs"), lit(0.0),
          (acc, x) => acc + x.getField("n").cast("double")).as("_tot_n"),
        aggregate(col("_xs"), lit(0.0),
          (acc, x) => acc + powN(x.getField("n"))).as("_tot_sn"))
    counts.crossJoin(broadcast(totals))
      .select(col(strataCol).as("_rs"),
        ((col("_tot_n") * lit(targetFrac)) * (powN(col("_n")) / col("_tot_sn"))
          / col("_n").cast("double")).as("_rate"))
  }

  /** Greedy per-stratum sequence packing: `bin` = exclusive token
    * prefix sum (stratum, id order) `div budget`. The
    * boundary-consistency cache ([[Hierarchical.prefixSum]]) is
    * persisted through `scope`; a long-lived session packing many
    * distinct corpora releases it once the output is materialized.
    */
  def packSequences(df: DataFrame, idCol: String, strataCol: String,
                    tokensCol: String, budget: Long, chunks: Int = 0,
                    scope: CacheScope = new CacheScope): DataFrame =
    Hierarchical.prefixSum(df, Seq(col(strataCol), col(idCol)),
      Seq(strataCol), col(tokensCol), "_cum_before", chunks, scope)
      .withColumn("bin", expr(s"_cum_before div $budget"))
      .drop("_cum_before")

  /** GPT-style CONTEXT-WINDOW blocking: the corpus is one token stream
    * (docs concatenated in `idCol` order) chopped into fixed
    * `ctxLen`-token blocks — the shape a pretraining data loader
    * actually consumes, where [[packSequences]] bins whole docs. Each
    * doc gets its stream offset and the blocks it lands in:
    *
    *   - `tok_start`    exclusive prefix sum of `tokensCol`
    *   - `first_block`  `tok_start div ctxLen`
    *   - `last_block`   `(tok_start + max(n,1) - 1) div ctxLen`
    *   - `n_blocks`     blocks spanned; `boundary_frag` = spans > 1 —
    *     the fraction of frag docs is the attention-contamination /
    *     truncation metric a blocking review reports (docs cut by a
    *     block boundary train with severed context).
    *
    * The offsets come from [[Hierarchical.prefixSum]] (range slices +
    * broadcast offsets — never a single-task global window), and every
    * derived column is exact integer division. Zero-token docs occupy
    * their start block nominally (n_blocks 1). The scaffold's cache is
    * persisted through `scope`.
    */
  def contextBlocks(df: DataFrame, idCol: String, tokensCol: String,
                    ctxLen: Long, chunks: Int = 0,
                    scope: CacheScope = new CacheScope): DataFrame = {
    require(ctxLen >= 1, s"ctxLen must be >= 1, got $ctxLen")
    Hierarchical.prefixSum(df, Seq(col(idCol)), Seq.empty, col(tokensCol),
      "tok_start", chunks, scope)
      .withColumn("first_block", expr(s"tok_start div $ctxLen"))
      .withColumn("last_block",
        expr(s"(tok_start + greatest($tokensCol, 1L) - 1L) div $ctxLen"))
      .withColumn("n_blocks", col("last_block") - col("first_block") + 1L)
      .withColumn("boundary_frag", col("n_blocks") > 1L)
  }

  /** Freshness-DECAY weighting: emit-all audit frame scoring each row
    * by its age under a stepwise half-life rule —
    *
    *   `age_days`   = max(0, asOfDay − dayCol)   (future rows age 0)
    *   `weight_ppm` = 1e6 >> min(age_days div halfLifeDays, 62)
    *   `kept`       = md5-slot(id) % 1e6 < weight_ppm
    *
    * — the recency bias every news/web refresh applies (a row one
    * half-life old keeps with p=1/2, two with p=1/4...). The shift
    * halves EXACTLY per elapsed half-life: a stepwise integer
    * exponential that is bit-identical across engines, where
    * `exp(-age*ln2/h)` through floats is not. `dayCol` is an integer
    * epoch day (micros div 86400e6, the [[Events.cohortRetention]]
    * convention); `asOfDay` is an explicit parameter — never wall-clock
    * — so the scoring replays deterministically. Pure scan-side
    * projection, zero shuffle; filter on `kept` to apply, or feed
    * `weight_ppm` to mix design.
    */
  def freshnessWeights(df: DataFrame, idCol: String, dayCol: Column,
                       asOfDay: Long, halfLifeDays: Long): DataFrame = {
    require(halfLifeDays >= 1, s"halfLifeDays must be >= 1, got $halfLifeDays")
    df
      .withColumn("age_days", greatest(lit(0L), lit(asOfDay) - dayCol))
      .withColumn("weight_ppm",
        expr(s"shiftright(1000000L, " +
          s"cast(least(age_days div ${halfLifeDays}L, 62L) as int))"))
      .withColumn("kept",
        pmod(graft.Pipeline.wordHash32(col(idCol).cast("string")),
          lit(1000000L)) < col("weight_ppm"))
  }

  /** Priority sampling (Duffield–Lund–Thorup 2007): a fixed-size
    * WEIGHT-BIASED sample without replacement that supports unbiased
    * subset-sum estimation — the principled form of "sample k docs
    * proportional to token count". Each row draws priority
    * `q = w / u` with `u ~ U(0,1]`; the k largest priorities are the
    * sample, `tau` is the (k+1)-th largest, and `w_est = max(w, tau)`
    * is the Horvitz–Thompson-style estimator: for ANY subset S,
    * `E[sum of w_est over sampled members of S] = sum of w over S`.
    * Unlike [[weighted]] (Bernoulli, random size) the size is exactly
    * k; unlike [[prioritySample]] (unweighted) heavy rows are
    * preferentially kept but still estimable.
    *
    * Cross-engine exact: `u = (md5-hash32(id) + 1) / 2^32` so
    * `q = w * 2^32 / (h + 1)` — one IEEE double division of exactly
    * representable integers (w * 2^32 stays under 2^53 for w < 2^21;
    * loudly enforced), bit-identical in any engine. Ties are broken
    * by id, so the sample is unique even under hash collisions.
    *
    * Scale shape: priorities are scan-side; the global top-(k+1) is a
    * TakeOrderedAndProject (per-partition top-k, merge on one
    * bounded frame) — never a full sort; tau and the final filter
    * operate on the bounded (k+1)-row frame.
    *
    * Output: the k sampled rows with `pri` (the priority draw) and
    * `w_est` (tau-clamped weight estimate, DOUBLE).
    */
  def priorityWeighted(df: DataFrame, idCol: String, weightCol: String,
                       k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    Seq("pri", "w_est").foreach(c => require(!df.columns.contains(c),
      s"input already carries a '$c' column — rename it before " +
        "priorityWeighted"))
    val wOk = when(col(weightCol).cast("long").between(1L, (1L << 21) - 1),
      col(weightCol).cast("long"))
      .otherwise(raise_error(lit("priorityWeighted: weights must be " +
        "integers in [1, 2^21) for exact double arithmetic")))
    val withPri = df.withColumn("pri",
      (wOk * lit(4294967296L)).cast("double") /
        (graft.Pipeline.wordHash32(col(idCol).cast("string")) + lit(1L))
          .cast("double"))
    // top-(k+1): k sample rows + the threshold row that defines tau
    val top = withPri
      .orderBy(col("pri").desc, col(idCol))
      .limit(k + 1)
    // bounded (k+1)-row frame: the unpartitioned window is a non-issue
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("pri").desc, col(idCol))
    top
      .withColumn("_rn", row_number().over(w))
      .withColumn("_tau", min(when(col("_rn") === k + 1, col("pri")))
        .over(w.rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)))
      .filter(col("_rn") <= k)
      .withColumn("w_est",
        greatest(col(weightCol).cast("double"),
          coalesce(col("_tau"), col(weightCol).cast("double"))))
      .drop("_rn", "_tau")
  }

  /** Greedy max-coverage selection (the 1-1/e-approximate classic):
    * pick `k` documents that together cover the most distinct tokens
    * — THE shape of "choose a small seed corpus with maximal
    * vocabulary/topic coverage" (facility-location/max-cover;
    * submodular, so greedy is provably near-optimal and anything
    * better is NP-hard). Deterministic: ties break (gain desc, doc
    * asc), both engines replay the same k picks.
    *
    * Shape at scale: k rounds, each ONE anti-join of the token table
    * against the covered set (equi-join on the token key — the
    * covered side grows but stays a token TABLE, never a broadcast
    * set) + one grouped count + a global top-1
    * (TakeOrderedAndProject). k full passes is the honest cost of
    * exact greedy — size k to the seed-set need, not the corpus.
    * The k-row result accumulates driver-side (bounded by k).
    *
    * Input: (docCol, tokenCol) rows. Output: `(step, doc_id,
    * marginal_gain)` — stops early if fewer than k docs have
    * positive coverage remaining.
    */
  def coverageGreedy(tokens: DataFrame, docCol: String,
                     tokenCol: String, k: Int): DataFrame = {
    require(k >= 1 && k <= 64, s"k must be in [1, 64], got $k")
    val spark = tokens.sparkSession
    import spark.implicits._
    val t = tokens
      .select(col(docCol).cast("long").as("doc"),
        col(tokenCol).cast("string").as("tok"))
      .distinct()
      .localCheckpoint()
    var covered: DataFrame = Seq.empty[String].toDF("tok")
    var picked = Vector.empty[(Long, Long, Long)]
    var step = 1
    var exhausted = false
    while (step <= k && !exhausted) {
      val remaining =
        if (picked.isEmpty) t
        else t.filter(!col("doc").isin(picked.map(_._2): _*))
      val top = remaining
        .join(covered, Seq("tok"), "left_anti")
        .groupBy("doc").agg(count(lit(1)).cast(LongType).as("g"))
        .orderBy(col("g").desc, col("doc"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (doc, gain) = (top(0).getLong(0), top(0).getLong(1))
        picked = picked :+ ((step.toLong, doc, gain))
        covered = covered
          .unionAll(t.filter(col("doc") === doc).select("tok"))
          .distinct()
          .localCheckpoint()
        step += 1
      }
    }
    picked.toDF("step", "doc_id", "marginal_gain")
  }

  /** Neyman (variance-optimal) stratified allocation + draw: split a
    * fixed budget of `n` samples across strata proportionally to
    * `N_h * sd_h` — the allocation that minimizes the variance of the
    * stratified estimator for a fixed budget (a uniform-rate sample
    * wastes budget on low-variance strata; this is the form survey
    * methodology and eval-set sizing actually prescribe) — then draw
    * each stratum's quota deterministically by md5 rank.
    *
    * ALL-INTEGER and engine-portable: per-stratum population variance
    * in micro-units `a_h = (N*Svv - Sv^2) * 1e6 div N^2` (DECIMAL(38,0)
    * sums), `sd_milli = isqrt(a_h)` via
    * [[graft.Similarity.isqrtPortable]] (the oracle replays the
    * corrected floor-sqrt window), weights `w_h = N_h * sd_milli_h`,
    * floor shares `n * w_h div W` with the leftover distributed by
    * LARGEST REMAINDER (`n * w_h mod W` desc, stratum asc — exact,
    * deterministic). If every stratum has zero variance (W = 0) the
    * weights fall back to `N_h` (proportional allocation). A quota is
    * finally capped at `N_h` (a tiny high-variance stratum can be
    * over-allocated; the budget then UNDER-fills rather than silently
    * shifting mass — reallocation is the caller's policy).
    *
    * Shape at scale: one grouped three-sum aggregate to the
    * strata-bounded panel, the sqrt/remainder math on the COLLECTED
    * panel (the kmeansFit bounded-collect discipline), and the draw
    * via the per-stratum hierarchical prefix-sum scaffold (never a
    * per-stratum window sort) against the broadcast quota map.
    *
    * Output: the sampled rows `(stratum, id, value)` plus the
    * stratum's `n_stratum`, `sd_milli`, `alloc_n` audit columns.
    */
  def neymanAllocation(df: DataFrame, idCol: String, strataCol: String,
                       valueCol: String, n: Int): DataFrame = {
    require(n > 0, s"budget must be positive, got $n")
    val spark = df.sparkSession
    val base = df.select(col(strataCol).cast("string").as("stratum"),
      col(idCol).cast("long").as("id"),
      col(valueCol).cast("long").as("value"))
    val panel = base.groupBy("stratum").agg(
      count(lit(1)).cast("long").as("_n"),
      sum(col("value").cast("decimal(38,0)")).as("_sv"),
      sum(col("value").cast("decimal(38,0)") * col("value")).as("_svv"))
      .collect()
    val stats = panel.map { r =>
      val nh = BigInt(r.getLong(1))
      val sv = BigInt(r.getDecimal(2).toBigInteger)
      val svv = BigInt(r.getDecimal(3).toBigInteger)
      val aH = ((nh * svv - sv * sv) * 1000000) / (nh * nh)
      (r.getString(0), nh, graft.Similarity.isqrtPortable(aH))
    }.sortBy(_._1)
    val wByVar = stats.map { case (s, nh, sd) => (s, nh, sd, nh * sd) }
    val useVar = wByVar.map(_._4).sum > 0
    val weights = if (useVar) wByVar
      else wByVar.map { case (s, nh, sd, _) => (s, nh, sd, nh) }
    val totW = weights.map(_._4).sum.max(BigInt(1))
    val floors = weights.map { case (s, nh, sd, w) =>
      (s, nh, sd, (BigInt(n) * w / totW), BigInt(n) * w % totW)
    }
    val leftover = (BigInt(n) - floors.map(_._4).sum).toInt
    val bump = floors.sortBy { case (s, _, _, _, rem) => (-rem, s) }
      .take(leftover).map(_._1).toSet
    val quota = floors.map { case (s, nh, sd, f, _) =>
      val q = (f + (if (bump(s)) 1 else 0)).min(nh)
      (s, nh.toLong, sd.toLong, q.toLong)
    }
    import spark.implicits._
    val quotaDf = quota.toSeq
      .toDF("stratum", "n_stratum", "sd_milli", "alloc_n")
    // stratum-local md5 rank via the scaffold; ids break hash ties
    val slot = pmod(graft.Pipeline.wordHash32(
      concat_ws("_", lit("ney"), col("id"))), lit(1000000L))
    val pref = Hierarchical.prefixSum(
      base.withColumn("_slot", slot),
      Seq(col("_slot"), col("id")), Seq("stratum"), lit(1L), "_before", 0)
    pref.join(broadcast(quotaDf), Seq("stratum"))
      .filter(col("_before") + 1 <= col("alloc_n"))
      .select("stratum", "id", "value", "n_stratum", "sd_milli",
        "alloc_n")
  }
}
