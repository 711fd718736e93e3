package graft.ops

import graft.CacheScope
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Prefix-filtered set-similarity join — full PPJoin (Bayardo et al.
  * WWW'07 AllPairs + Xiao et al. ICDE'08 positional filter): the third
  * blocking paradigm next to LSH banding (probabilistic) and the
  * inverted index with df caps (frequency-bounded) — EXACT, no recall
  * loss, no caps, built from three lossless necessary conditions:
  *
  *   1. PREFIX filter: order every document's distinct tokens by
  *      global rarity (df asc, token tiebreak); two sets with
  *      Jaccard >= t must share a token within each other's first
  *      `|d| - ceil(t*|d|) + 1` rarest tokens, so only prefix tokens
  *      enter the inverted index.
  *   2. LENGTH filter: Jaccard >= t forces t*|b| <= |a| (and
  *      symmetrically), so candidates outside the size band drop at
  *      the index join.
  *   3. POSITIONAL filter: a qualifying pair needs overlap
  *      alpha = ceil(t*(|a|+|b|) / (1+t)), and the EARLIEST common
  *      token (provably inside both prefixes) at ranks (pa, pb) caps
  *      the possible overlap at min(|a|-pa, |b|-pb)+1 — pairs whose
  *      every prefix match fails the cap drop before verification.
  *      All three are exact theorems; survivors are verified with the
  *      exact Jaccard, so the result is the brute-force answer.
  *
  * On a corpus with no Zipf tail (every "rare" token still frequent),
  * the prefix filter alone degenerates — measured on the synthetic
  * docs at sf0.1: 11.3M candidates from the prefix filter alone vs
  * 181k with the length+positional filters on shingle tokens, same
  * exact output. The filters are scan-side predicates on the index
  * join — no extra shuffle.
  *
  * Scale shape: one df aggregate, one per-doc window (bounded by doc
  * length) for the prefix rank, one equi-join on prefix tokens with
  * the two filters inlined, one per-pair in-task array intersection
  * (each doc's token set travels as one bounded array, never as
  * exploded posting rows). Thresholds travel as an integer
  * fraction tNum/tDen so the prefix length (ceil), alpha, and the
  * acceptance test (`inter * tDen >= union * tNum`) are exact integer
  * arithmetic an oracle replays verbatim.
  */
object SetSim {

  /** Candidate+verify join over `(idCol, tokCol)` token rows (distinct
    * applied internally). Output: `(a_id, b_id, n_inter, n_union,
    * jaccard_ppm)` for pairs with Jaccard >= tNum/tDen, `a_id < b_id`.
    * The two internal caches (the corpus-sized distinct-token frame and
    * the per-doc sizes) are persisted through `scope`.
    */
  def prefixFilterJoin(tokens: DataFrame, idCol: String, tokCol: String,
                       tNum: Int, tDen: Int,
                       scope: CacheScope = new CacheScope): DataFrame = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen,
      s"threshold must be a fraction in (0, 1], got $tNum/$tDen")
    // the distinct-token frame feeds FOUR branches (df, sizes, prefix
    // rank, the verify arrays) — persist it once or the
    // tokenize+distinct shuffle replays per branch (the round-4
    // signature-reuse discipline)
    val toks = scope.persist(tokens
      .select(col(idCol).as("_id"), col(tokCol).as("_tok")).distinct(),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = scope.persist(toks.groupBy("_id").agg(count(lit(1)).as("_sz")),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfs = toks.groupBy("_tok").agg(count(lit(1)).as("_df"))
    // prefix = the |d| - ceil(t*|d|) + 1 globally-rarest tokens;
    // ceil(t*n) = (tNum*n + tDen - 1) div tDen, integer-exact
    val ranked = toks.join(dfs, "_tok").join(sizes, "_id")
      .withColumn("_rn", row_number().over(
        Window.partitionBy("_id").orderBy(col("_df"), col("_tok"))))
      .withColumn("_plen",
        expr(s"_sz - (($tNum * _sz + $tDen - 1) div $tDen) + 1"))
    // ASYMMETRIC probe/index prefixes (AllPairs indexing-prefix
    // optimization; same role argument as the weighted variant): the
    // pair's LIGHT member (smaller set, id tiebreak) probes with the
    // TIGHTER prefix |d| - ceil(2t/(1+t)*|d|) + 1 — the partner is at
    // least as large, so required overlap alpha >= 2t/(1+t)*|d_L| and
    // a light doc whose remaining suffix is shorter cannot qualify.
    // The HEAVY member indexes with the classic t-bound prefix. Both
    // are prefixes of the same global rarity order, so a qualifying
    // pair's earliest common token is provably inside both. At
    // t = 9/10 the probe prefix is ~|d|/19 vs ~|d|/10 — candidate
    // volume (sum over tokens of light x heavy holders) roughly
    // halves; measured numbers in PLANS.md.
    val heavy = ranked.filter(col("_rn") <= col("_plen"))
      .select(col("_id").as("b_id"), col("_tok"),
        col("_rn").as("_rb"), col("_sz").as("_sb"))
    val light = ranked
      .filter(col("_rn") <= expr(
        s"_sz - ((2 * $tNum * _sz + ${tNum + tDen} - 1) div ${tNum + tDen}) + 1"))
      .select(col("_id").as("a_id"), col("_tok"),
        col("_rn").as("_ra"), col("_sz").as("_sa"))
    val cand = light.join(heavy, Seq("_tok"))
      // canonical role order: light strictly before heavy
      .filter(col("_sa") < col("_sb") ||
        (col("_sa") === col("_sb") && col("a_id") < col("b_id")))
      // length filter (one direction suffices: |a| <= |b| by role)
      .filter(col("_sa") * tDen >= col("_sb") * tNum)
      // positional filter: the remaining-suffix overlap cap at this
      // match must reach alpha = ceil(tNum*(sa+sb) / (tNum+tDen));
      // keeping pairs where ANY prefix match passes is lossless (the
      // earliest common token is in both prefixes and passes iff the
      // pair can qualify)
      .filter(expr(s"least(_sa - _ra, _sb - _rb) + 1 >= " +
        s"($tNum * (_sa + _sb) + ${tNum + tDen - 1}) div ${tNum + tDen}"))
      .select("a_id", "b_id").distinct()
    // exact verify WITHOUT the posting explosion: each doc's distinct
    // tokens ride as ONE array (bounded by doc length) attached to the
    // candidate pair by two id equi-joins, and |a ∩ b| is computed
    // IN-TASK per pair (codegen'd array_intersect). The posting-join
    // alternative (cand ⋈ tokens_a ⋈ tokens_b) materializes
    // sum-over-candidates-of-|a| rows — measured 2.3e9 rows at the
    // 100x sweep, whose sort-merge sort exhausted the box; the array
    // form shuffles |cand| payload rows and scans each pair once.
    val docArr = toks.groupBy("_id")
      .agg(collect_list(col("_tok")).as("_arr"))
    cand
      .join(docArr.select(col("_id").as("a_id"), col("_arr").as("_aa")),
        "a_id")
      .join(docArr.select(col("_id").as("b_id"), col("_arr").as("_ab")),
        "b_id")
      .select(col("a_id"), col("b_id"),
        size(array_intersect(col("_aa"), col("_ab"))).cast("long")
          .as("n_inter"),
        (size(col("_aa")) + size(col("_ab"))).cast("long").as("_stot"))
      .withColumn("n_union", expr("_stot - n_inter"))
      .filter(expr(s"n_inter * $tDen >= n_union * $tNum"))
      .withColumn("jaccard_ppm", expr("(n_inter * 1000000L) div n_union"))
      // pairs carried (light, heavy) roles internally; the OUTPUT
      // contract stays a_id < b_id
      .select(least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id"),
        col("n_inter"), col("n_union"), col("jaccard_ppm"))
  }

  /** WEIGHTED prefix-filtered set-similarity join — the tf-idf/cosine
    * companion of [[prefixFilterJoin]] and the form retrieval
    * pipelines actually run: weighted Jaccard
    * `W(a ∩ b) / W(a ∪ b) >= tNum/tDen` over per-token weights
    * (idf-style: GLOBAL per token — `wCol` must be functionally
    * dependent on `tokCol`; positive integers, e.g. ppm-scaled idf,
    * so every bound below is exact integer arithmetic an oracle
    * replays). All three filters generalize losslessly:
    *
    *   1. WEIGHTED PREFIX: rank each doc's tokens in the canonical
    *      global order (weight desc = rarest first, token tiebreak);
    *      a qualifying pair needs `W(a ∩ b) >= t * W(a)` (union >=
    *      either side), and if the pair shares no token among a's
    *      ranks with suffix weight `suf_a(r) >= t * W(a)`, its whole
    *      overlap fits in a suffix lighter than that bound — so only
    *      those ranks enter the index. Rarest-first ranking makes the
    *      prefix both short and selective (heavy rare tokens burn
    *      suffix weight fastest).
    *   2. WEIGHTED LENGTH: `min(W_a, W_b) >= t * max(W_a, W_b)`.
    *   3. WEIGHTED POSITIONAL: `J >= t  <=>  I * (tNum + tDen) >=
    *      tNum * (W_a + W_b)` (I = intersection weight), and at the
    *      EARLIEST common token the overlap is capped by the lighter
    *      remaining suffix, `min(suf_a, suf_b)` — a pair survives iff
    *      some shared prefix token passes, and the earliest one
    *      passes whenever the pair can qualify.
    *
    * Verify without a posting explosion (the q251 discipline): each
    * doc's tokens travel as ONE array of (token, weight) structs;
    * the intersection weight folds in-task over the pair
    * (`aggregate(filter(...))`, codegen'd HOFs), so the join shuffles
    * |candidates| rows, never sum-of-|doc| posting rows. The two
    * internal caches (distinct weighted tokens, per-doc totals) are
    * persisted through `scope`.
    */
  def weightedPrefixFilterJoin(tokens: DataFrame, idCol: String,
                               tokCol: String, wCol: String,
                               tNum: Int, tDen: Int,
                               scope: CacheScope = new CacheScope): DataFrame = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen,
      s"threshold must be a fraction in (0, 1], got $tNum/$tDen")
    val toks = scope.persist(tokens.select(col(idCol).as("_id"),
        col(tokCol).as("_tok"), col(wCol).cast("long").as("_w")).distinct(),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val totals = scope.persist(toks.groupBy("_id").agg(sum("_w").as("_tw")),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // canonical rank: weight desc (idf-rarest first), token tiebreak;
    // suffix weight INCLUDES the current token
    val ranked = toks.join(totals, "_id")
      .withColumn("_cum", sum("_w").over(
        Window.partitionBy("_id").orderBy(col("_w").desc, col("_tok"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("_suf", col("_tw") - col("_cum") + col("_w"))
    // ASYMMETRIC probe/index prefixes (the AllPairs indexing-prefix
    // optimization, applied per pair role): give every pair a
    // canonical LIGHT member (smaller total weight, id tiebreak) and
    // HEAVY member. The heavy/INDEX prefix keeps ranks whose suffix
    // weight still reaches t*W_H (if the earliest common token sat
    // beyond it, overlap < t*W_H <= t*U — the pair cannot qualify).
    // The light/PROBE prefix uses the TIGHTER bound 2t/(1+t)*W_L:
    // the partner is at least as heavy, so the required overlap is
    // alpha = t/(1+t)*(W_L+W_H) >= 2t/(1+t)*W_L, and a light doc
    // whose remaining suffix is below that can contribute no
    // qualifying match. Both are prefixes of the SAME global order,
    // so the earliest common token of a qualifying pair is provably
    // inside both — lossless. The tighter probe bound matters because
    // candidate volume is sum-over-tokens of |light holders| x |heavy
    // holders|: measured on the sf10 corpus it cut the q265 sweep
    // from 221 s to the number recorded in PLANS.md.
    val heavy = ranked
      .filter(col("_suf") * tDen >= col("_tw") * tNum)
      .select(col("_id").as("b_id"), col("_tok"),
        col("_suf").as("_fb"), col("_tw").as("_wb"))
    val light = ranked
      .filter(col("_suf") * (tNum + tDen) >= col("_tw") * (2 * tNum))
      .select(col("_id").as("a_id"), col("_tok"),
        col("_suf").as("_fa"), col("_tw").as("_wa"))
    val cand = light.join(heavy, Seq("_tok"))
      // canonical role order: light strictly before heavy
      .filter(col("_wa") < col("_wb") ||
        (col("_wa") === col("_wb") && col("a_id") < col("b_id")))
      // length filter (one direction suffices: W_L <= W_H by role)
      .filter(col("_wa") * tDen >= col("_wb") * tNum)
      .filter(expr(s"least(_fa, _fb) * ${tNum + tDen} >= " +
        s"$tNum * (_wa + _wb)"))
      .select("a_id", "b_id", "_wa", "_wb").distinct()
    // verify payload: one token-SORTED (tok, w) struct array per doc.
    // For long tokens (the hash-narrowed production form) the
    // intersection weight is the native merge kernel
    // (plans.WeightedIntersect, O(|a|+|b|), whole-stage codegen);
    // generic token types fall back to the HOF fold — correct but
    // interpreted and O(|a|*|b|), measured 32-cores-for-minutes on
    // the sf10 sweep, which is exactly why the kernel exists.
    val docArr = toks.groupBy("_id")
      .agg(sort_array(collect_list(struct(col("_tok"), col("_w"))))
        .as("_sarr"))
    val tokIsLong = toks.schema("_tok").dataType ==
      org.apache.spark.sql.types.LongType
    val joined = cand
      .join(docArr.select(col("_id").as("a_id"), col("_sarr").as("_sa")),
        "a_id")
      .join(docArr.select(col("_id").as("b_id"), col("_sarr").as("_sb")),
        "b_id")
    (if (tokIsLong)
        joined.withColumn("w_inter",
          graft.plans.SetSimExpressions.weightedIntersect(
            col("_sa"), col("_sb")))
      else
        joined
          .withColumn("_tb", expr("transform(_sb, x -> x._tok)"))
          .withColumn("w_inter", expr(
            "aggregate(filter(_sa, x -> array_contains(_tb, x._tok)), " +
              "0L, (acc, x) -> acc + x._w)")))
      .withColumn("w_union", col("_wa") + col("_wb") - col("w_inter"))
      .filter(expr(s"w_inter * $tDen >= w_union * $tNum"))
      .withColumn("wjaccard_ppm", expr("(w_inter * 1000000L) div w_union"))
      // pairs carried (light, heavy) roles internally; the OUTPUT
      // contract stays a_id < b_id
      .select(least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id"),
        col("w_inter"), col("w_union"), col("wjaccard_ppm"))
  }
}
