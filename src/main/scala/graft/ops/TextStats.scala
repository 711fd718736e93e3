package graft.ops

import graft.CacheScope
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Pipeline.words

/** Corpus-statistics operators for training-data curation: unigram
  * self-information scoring, duplicated-n-gram measurement, and
  * boilerplate-prefix detection.
  *
  * All three are exact-integer pipelines (no floating point anywhere),
  * so results are bit-identical across engines and re-runs — the same
  * portability discipline as the dedup family (Pipeline.scala).
  *
  * Scale shapes (100 TB): every operator here is a scan-side
  * projection plus at most two key-partitioned shuffles (token /
  * n-gram / prefix keys — high cardinality, so the shuffles spread
  * evenly). None joins a corpus-sized frame against itself and none
  * holds per-group state beyond one aggregate row.
  */
object TextStats {

  /** Integer self-information score per document: for each token
    * occurrence, `floor(log2(N / freq))` bits (N = corpus token count,
    * freq = corpus frequency of the token), summed per document.
    *
    * This is the floor-quantized Shannon information content of the
    * document under the corpus unigram model — the deterministic
    * integer cousin of a unigram-LM perplexity score. Rare-token-dense
    * documents score high (informative / unusual), documents of pure
    * boilerplate tokens score low. `floor(log2(x))` is computed as
    * `length(bin(x)) - 1` — pure integer bit-length, no libm `log`
    * whose last-ulp behavior differs across engines.
    *
    * Implementation is a single chain with NO self-join: token counts
    * per (doc, token) via one shuffle, corpus frequency via a window
    * over the token key (high-cardinality partition — spreads evenly),
    * then the per-doc fold. `totalTokens` must be the corpus token
    * count (`sum(size(words))`); it arrives as a parameter because in
    * a production pipeline it is already known from the previous stage
    * — recomputing it here would force an extra action per call.
    */
  def informationScore(docs: DataFrame, idCol: String, textCol: String,
                       totalTokens: Long): DataFrame = {
    require(totalTokens > 0, s"totalTokens must be positive, got $totalTokens")
    val tf = docs
      .select(col(idCol), explode(words(col(textCol))).as("w"))
      .groupBy(col(idCol), col("w"))
      .agg(count(lit(1)).as("tf"))
    tf.withColumn("freq", sum(col("tf")).over(Window.partitionBy("w")))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).cast(LongType).as("n_tok"),
        sum(col("tf") * (length(bin(expr(s"${totalTokens}L div freq"))) - 1))
          .cast(LongType).as("bits"))
  }

  /** Corpus token count for [[informationScore]] — one scan-side
    * aggregate over token-array sizes (never materializes the tokens).
    */
  def totalTokens(docs: DataFrame, textCol: String): Long =
    docs.agg(coalesce(sum(size(words(col(textCol)))), lit(0L))
      .cast(LongType)).head.getLong(0)

  /** UNK-rate audit: per doc, the share of token OCCURRENCES whose
    * corpus-wide count falls below `minCount` — the tokens a
    * vocabulary built at that cutoff maps to `<unk>`. High `unk_ppm`
    * docs are the ones a closed-vocab model effectively cannot read
    * (typo floods, foreign scripts, id dumps), and the corpus-level
    * mean is the coverage number a vocabulary review publishes.
    *
    * Same shape as [[informationScore]]: per-doc term frequencies,
    * corpus frequency via ONE window over the token key (single
    * execution, no self-join), one doc-keyed aggregate. Output:
    * `(id, n_tok, n_unk, unk_ppm)`.
    */
  def unkRate(docs: DataFrame, idCol: String, textCol: String,
              minCount: Long): DataFrame = {
    require(minCount >= 2, s"minCount must be >= 2, got $minCount")
    docs
      .select(col(idCol), explode(words(col(textCol))).as("w"))
      .groupBy(col(idCol), col("w"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("_freq", sum(col("tf")).over(Window.partitionBy("w")))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).cast(LongType).as("n_tok"),
        sum(when(col("_freq") < minCount, col("tf")).otherwise(0L))
          .cast(LongType).as("n_unk"))
      .withColumn("unk_ppm", expr("(1000000L * n_unk) div n_tok"))
  }

  /** DSIR-style IMPORTANCE score (data selection by importance
    * resampling, Xie et al. 2023, unigram form): per raw-corpus doc,
    * the integer log-likelihood-ratio proxy
    * `sum over token occurrences of (bits_raw(w) - bits_target(w))`
    * where `bits_X(w) = floor(log2(N_X / c_X(w)))` is the token's
    * bit-length self-information under corpus X. Tokens that are rare
    * in the raw crawl but common in the target domain push the score
    * UP — rank-and-keep the top slice (or feed [[graft.ops.Sampling
    * .weighted]]) to tilt a generic crawl toward a target distribution
    * without training a classifier.
    *
    * Target counts carry +1 smoothing (`c'_t = c_t + 1` against
    * `N_t + 1`), so raw tokens absent from the target charge the full
    * ~log2(N_t) penalty instead of dividing by zero. All arithmetic is
    * integer bit-length — no libm log, engine-exact — and both corpus
    * totals arrive as parameters ([[totalTokens]]), matching
    * [[informationScore]]'s contract.
    *
    * Shape: one (doc, token) aggregate, the raw frequency via a window
    * over the token key, the target frequency via one left equi-join
    * against the target's vocabulary-sized count table, one doc-keyed
    * aggregate. Output: (id, n_tok, score) — score may be negative
    * (doc is more raw-like than target-like).
    */
  def importanceScore(raw: DataFrame, target: DataFrame, idCol: String,
                      textCol: String, rawTotal: Long,
                      targetTotal: Long): DataFrame = {
    require(rawTotal > 0 && targetTotal > 0,
      s"corpus totals must be positive, got $rawTotal / $targetTotal")
    val tgtCounts = target
      .select(explode(words(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("_ct0"))
    val tf = raw
      .select(col(idCol), explode(words(col(textCol))).as("w"))
      .groupBy(col(idCol), col("w"))
      .agg(count(lit(1)).as("tf"))
    tf
      .withColumn("cr", sum(col("tf")).over(Window.partitionBy("w")))
      .join(tgtCounts, Seq("w"), "left")
      .withColumn("ct", coalesce(col("_ct0"), lit(0L)) + lit(1L))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).cast(LongType).as("n_tok"),
        sum(col("tf") *
          ((length(bin(expr(s"${rawTotal}L div cr"))) - 1) -
           (length(bin(expr(s"${targetTotal + 1}L div ct"))) - 1)))
          .cast(LongType).as("score"))
  }

  /** Degenerate-repetition screen: per document, the longest run of
    * IDENTICAL consecutive tokens and the token that runs — the
    * classic signature of looping generators, stuck scrapers, and
    * padding artifacts ("buy buy buy buy ..."), which every
    * frequency-based quality score under-penalizes because the token
    * itself may be common.
    *
    * Entirely scan-side: one `aggregate` HOF fold over the token array
    * (state: previous token, current run, best run, best token — the
    * FIRST longest run wins ties), zero shuffle at any scale. The
    * DuckDB mirror replays it as gaps-and-islands (position minus
    * per-token row_number) — same first-longest tiebreak via the
    * island's start position.
    *
    * Output: (id, n_tokens, max_run, run_token).
    */
  def maxTokenRun(docs: DataFrame, idCol: String,
                  textCol: String): DataFrame = {
    val w = words(col(textCol))
    val state = aggregate(w,
      struct(lit("").as("prev"), lit(0L).as("run"),
        lit(0L).as("best"), lit("").as("best_tok")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"),
          acc.getField("run") + 1L).otherwise(lit(1L))
        val better = run > acc.getField("best")
        struct(x.as("prev"), run.as("run"),
          when(better, run).otherwise(acc.getField("best")).as("best"),
          when(better, x).otherwise(acc.getField("best_tok")).as("best_tok"))
      })
    docs.select(col(idCol),
      size(w).cast(LongType).as("n_tokens"),
      state.getField("best").as("max_run"),
      state.getField("best_tok").as("run_token"))
  }

  /** BPE merge-candidate mining: the first iteration of byte-pair-
    * encoding tokenizer training — corpus-wide counts of adjacent
    * character pairs, weighted by word frequency, top-k by count
    * (count desc, pair asc: the deterministic next-merge ranking).
    *
    * Runs on the word-FREQUENCY table, not the raw token stream —
    * exactly how BPE training scales (the corpus collapses to
    * |vocabulary| rows before any character work happens, so the
    * character-pair explode touches each distinct word once no matter
    * how often it occurs). Pairs within a word count with
    * multiplicity ("aaa" contributes "aa" twice), the standard
    * counting rule. Single-character words carry no pairs.
    *
    * Shape: one token-key aggregate (map-side combined), a scan-side
    * pair explode over the vocabulary-sized frame, one pair-key
    * aggregate, TakeOrderedAndProject top-k.
    */
  def bpePairCounts(docs: DataFrame, textCol: String,
                    k: Int = 20): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val vocab = docs
      .select(explode(words(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).cast(LongType).as("n_w"))
    vocab
      .filter(length(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"), col("n_w"))
      .groupBy(col("pair")).agg(sum(col("n_w")).cast(LongType).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(k)
  }

  /** Iterated BPE tokenizer TRAINING: the first `merges` byte-pair-
    * encoding merge rules over the corpus, in training order. Output:
    * (step, l, r, merged, n) — at each step the (count desc, l asc,
    * r asc) argmax adjacent-symbol pair under all PRIOR merges, with
    * its count at selection time. The deterministic tiebreak makes the
    * whole table engine-exact. [[bpePairCounts]] is this operator's
    * k=1 candidate view.
    *
    * Trains on the word-FREQUENCY table (one corpus-wide token
    * aggregate, then every character touch is per DISTINCT word — the
    * standard BPE scaling collapse). Each word is carried as a framed
    * symbol string ("ab" -> "<a><b>"): applying merge (x, y) is then
    * ONE literal `replace(s, '<x><y>', '<xy>')`, whose left-to-right
    * non-overlapping scan is exactly BPE's greedy merge rule ("aaa"
    * + (a,a) -> [aa, a]) and is bit-identical across engines — no
    * per-row loop, no UDF, and the oracle replays it with the same
    * builtin. PRECONDITION: tokens must not contain the framing
    * characters '<' '>' (true of any whitespace/punct-stripped
    * tokenizer; [[graft.Pipeline.words]] corpora here are [a-z]+).
    *
    * Loop shape: `merges` iterations over the vocabulary-sized frame;
    * per iteration one pair-explode + pair-keyed aggregate, a top-1
    * (TakeOrderedAndProject) fetched to the DRIVER as one row, and a
    * literal-replace projection building the next vocab (persisted per
    * iteration — eagerly materialized by the next step's fetch, so
    * each iteration's work runs once). The driver fetch is deliberate,
    * against the [[graft.ops.Graph.pageRank]] no-action
    * discipline: here the argmax parametrizes the next plan's
    * STRUCTURE (the replace arguments), and carrying it as a broadcast
    * one-row frame instead embeds the full prior plan in BOTH the step
    * frame and the next vocab — the logical plan TREE doubles per
    * iteration (measured: a 2 GB plan string at 8 merges; persists
    * bound execution, not the analyzed tree). One single-row fetch per
    * merge is nothing at any corpus scale. If the vocabulary exhausts
    * its pairs early, the table ends at the last real merge. The
    * loop's per-iteration vocab caches are persisted through `scope`.
    * Merge counts are analysis-scale (tens); a production 30k-merge
    * tokenizer train is a different harness (iterate on a
    * materialized vocab table).
    */
  def bpeTrain(docs: DataFrame, textCol: String, merges: Int,
               scope: CacheScope = new CacheScope): DataFrame = {
    require(merges >= 1, s"merges must be >= 1, got $merges")
    val spark = docs.sparkSession
    val disk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    var vocab = scope.persist(docs
      .select(explode(words(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).cast(LongType).as("n_w"))
      .select(regexp_replace(col("w"), "(.)", "<$1>").as("s"), col("n_w")),
      disk)
    val rows = Seq.newBuilder[(Long, String, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= merges && !exhausted) {
      val sy = split(expr("substring(s, 2, length(s) - 2)"), "><")
      val pairs = vocab
        .select(col("n_w"), sy.as("_sy"))
        .filter(size(col("_sy")) >= 2)
        .select(col("n_w"), explode(zip_with(
          slice(col("_sy"), lit(1), size(col("_sy")) - 1),
          slice(col("_sy"), lit(2), size(col("_sy")) - 1),
          (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("n_w")).cast(LongType).as("n"))
      // ONE-row driver fetch of the argmax (see scaladoc: carrying it
      // as a broadcast frame doubles the plan tree per iteration)
      val top = pairs.orderBy(col("n").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val l = top(0).getString(0)
        val r = top(0).getString(1)
        rows += ((step.toLong, l, r, l + r, top(0).getLong(2)))
        vocab = scope.persist(vocab
          .select(call_function("replace", col("s"),
            lit("<" + l + "><" + r + ">"), lit("<" + l + r + ">")).as("s"),
            col("n_w")), disk)
        step += 1
      }
    }
    import spark.implicits._
    rows.result().toDF("step", "l", "r", "merged", "n")
  }

  /** APPLY a trained BPE merge table ([[bpeTrain]] output) to a
    * corpus: per document, the whitespace word count and the REAL
    * post-merge subword token count — the drop-in replacement for a
    * heuristic subword estimate in sequence packing and length
    * bucketing (feed `n_bpe_tokens` wherever those consume a token
    * count). Output: (id, n_words, n_bpe_tokens).
    *
    * Scale shape: the merge fold runs once per DISTINCT word (the
    * merge list arrives as one broadcast array row; the fold is a
    * scan-side HOF over the framed symbol string — `merges` literal
    * replaces per word, in step order), then one token-explode join
    * of the corpus against the vocabulary-sized count table and one
    * doc-keyed aggregate. Same framing precondition as [[bpeTrain]].
    */
  def bpeSegmentCounts(docs: DataFrame, idCol: String, textCol: String,
                       mergeTable: DataFrame): DataFrame = {
    // one-row merge array in step order (array_sort on (step, l, r)
    // structs orders by step — collect_list alone has no order)
    val ms = mergeTable
      .select(struct(col("step"), col("l"), col("r")).as("m"))
      .agg(array_sort(collect_list(col("m"))).as("_ms"))
    val vocabTok = docs
      .select(explode(words(col(textCol))).as("w")).distinct()
      .crossJoin(broadcast(ms))
      .withColumn("_f", expr(
        """aggregate(_ms, regexp_replace(w, '(.)', '<$1>'),
             (acc, x) -> replace(acc, concat('<', x.l, '><', x.r, '>'),
                                 concat('<', x.l, x.r, '>')))"""))
      // symbol count = number of '<' frames left after all merges
      .select(col("w"),
        (length(col("_f")) - length(expr("replace(_f, '<', '')")))
          .cast(LongType).as("_n_sym"))
    docs
      .select(col(idCol), explode(words(col(textCol))).as("w"))
      .join(vocabTok, "w")
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast(LongType).as("n_words"),
        sum(col("_n_sym")).cast(LongType).as("n_bpe_tokens"))
  }

  /** BIGRAM-model information score: per document, the summed
    * CONDITIONAL self-information of its adjacent token pairs under
    * the corpus MLE bigram model — for each occurrence of bigram
    * (a, b), `floor(log2(c_a / c_ab))` bits, where `c_ab` is the
    * corpus count of the bigram and `c_a` the corpus count of bigrams
    * starting with `a`. This is the order-sensitive upgrade of
    * [[informationScore]]: a doc of common tokens in an UNUSUAL order
    * scores high here and low there (the unigram model cannot see
    * word order), while templated text whose transitions are always
    * the same scores near zero — the perplexity-shaped quality signal
    * without a trained LM.
    *
    * `floor(log2(x))` is the integer bit-length of `c_a div c_ab`
    * (exact: floor(log2(floor(x))) = floor(log2(x)) for x >= 1, and
    * c_ab <= c_a always), so the whole pipeline is integer — no libm
    * log, engine-exact. Output: (id, n_bigrams, bits, mean_millibits
    * = (1000*bits) div n_bigrams). Docs with fewer than 2 tokens have
    * no bigrams and are excluded.
    *
    * Shape: adjacent pairs via two shifted slices zipped in the scan
    * (never a position join), one (doc, bigram) aggregate, corpus
    * counts via two windows over high-cardinality keys (bigram, then
    * left token), one doc-keyed aggregate. Nothing serializes at
    * scale; group state is one count per key.
    */
  def bigramInformationScore(docs: DataFrame, idCol: String,
                             textCol: String): DataFrame = {
    val w = words(col(textCol))
    val pairs = zip_with(
      slice(w, lit(1), size(w) - 1),
      slice(w, lit(2), size(w) - 1),
      (a, b) => struct(a.as("l"), concat(a, lit(" "), b).as("bg")))
    val tf = docs
      .filter(size(w) >= 2)
      .select(col(idCol), explode(pairs).as("p"))
      .select(col(idCol), col("p.l").as("l"), col("p.bg").as("bg"))
      .groupBy(col(idCol), col("l"), col("bg"))
      .agg(count(lit(1)).as("tf"))
    tf
      .withColumn("cab", sum(col("tf")).over(Window.partitionBy("bg")))
      .withColumn("cl", sum(col("tf")).over(Window.partitionBy("l")))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).cast(LongType).as("n_bigrams"),
        sum(col("tf") * (length(bin(expr("cl div cab"))) - 1))
          .cast(LongType).as("bits"))
      .withColumn("mean_millibits", expr("(1000 * bits) div n_bigrams"))
  }

  /** REFERENCE-model surprisal: per document, the summed conditional
    * self-information of its adjacent token pairs under a bigram model
    * trained on a SEPARATE reference corpus — the CCNet filtering
    * shape (train a small LM on curated text, score the crawl, keep
    * the low-perplexity head), where [[bigramInformationScore]] is the
    * self-corpus diagnostic. Because docs and reference are different
    * corpora, unseen events need explicit semantics:
    *  - bigram (a, b) in the reference model:
    *    `floor(log2(c_a / c_ab))` bits (MLE conditional, integer via
    *    bit length; `c_a` = reference count of bigrams starting `a`);
    *  - bigram unseen but `b` in the reference vocabulary: back off to
    *    the reference unigram, `backoffBits + floor(log2(T / c_b))`
    *    (`T` = reference token count) — the fixed penalty is the
    *    integer stand-in for a Katz discount;
    *  - `b` out of vocabulary: `oovBits + floor(log2 T)` — the price
    *    of the <unk> event under an open-vocabulary model.
    * Output: (id, n_pairs, bits, mean_millibits); docs with < 2 tokens
    * have no pairs and are excluded.
    *
    * Scale shape (the reason this beats scoring with a UDF-wrapped
    * LM): the model is three frames BOUNDED BY THE REFERENCE — the
    * bigram table (with context counts carried on the row), the
    * unigram table, and a one-row total — and a curated reference is
    * small by construction, so all three broadcast and the 100 TB
    * corpus is never shuffled on a gram key: pairs fold per (doc,
    * bigram) with map-side combine, probe the broadcast model, and
    * aggregate per doc. One doc-keyed shuffle, total.
    */
  def referenceSurprisal(docs: DataFrame, ref: DataFrame, idCol: String,
                         textCol: String, backoffBits: Int = 4,
                         oovBits: Int = 8): DataFrame = {
    val (bt, ut, tot) = referenceModel(ref, textCol)
    val tf = refPairs(docs, Seq(col(idCol)), textCol)
      .groupBy(col(idCol), col("bg"), col("r"))
      .agg(count(lit(1)).as("tf"))
    tf
      .join(broadcast(bt), Seq("bg"), "left")
      .join(broadcast(ut.withColumnRenamed("t", "r")), Seq("r"), "left")
      .crossJoin(broadcast(tot))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).cast(LongType).as("n_pairs"),
        sum(col("tf") * pairBits(backoffBits, oovBits)).cast(LongType)
          .as("bits"))
      .withColumn("mean_millibits", expr("(1000 * bits) div n_pairs"))
  }

  /** [[referenceSurprisal]]'s model build, shared VERBATIM with the
    * streaming gate: (bigram table with context counts on the row,
    * unigram vocab, one-row total) — all three bounded by the
    * reference.
    */
  private[graft] def referenceModel(ref: DataFrame, textCol: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val w = words(col(textCol))
    val refToks = ref.select(explode(w).as("t"))
    val ut = refToks.groupBy("t").agg(count(lit(1)).cast(LongType).as("u"))
    val tot = refToks.agg(count(lit(1)).cast(LongType).as("tot"))
    // bigram table with the context count on the row — one broadcast
    // probe instead of a second left-token join against the corpus
    val bt = refPairs(ref, Nil, textCol)
      .groupBy("l", "bg").agg(count(lit(1)).cast(LongType).as("b"))
      .withColumn("cl", sum(col("b")).over(Window.partitionBy("l")))
      .select("bg", "b", "cl")
    (bt, ut, tot)
  }

  /** Adjacent-pair projector shared by model build and scoring:
    * appends (bg "a b", l, r) per pair via two shifted slices zipped
    * in the scan — never a position join. Rows with < 2 tokens drop.
    */
  private[graft] def refPairs(df: DataFrame, extra: Seq[Column],
                              textCol: String): DataFrame = {
    val w = words(col(textCol))
    df.filter(size(w) >= 2)
      .select(extra :+ explode(zip_with(
        slice(w, lit(1), size(w) - 1), slice(w, lit(2), size(w) - 1),
        (a, b) => struct(concat(a, lit(" "), b).as("bg"), a.as("l"),
          b.as("r")))).as("p"): _*)
      .select(extra.map(c => c) :+ col("p.bg").as("bg") :+
        col("p.l").as("l") :+ col("p.r").as("r"): _*)
  }

  /** The per-pair bit charge over the joined model columns (b, cl, u,
    * tot) — the scoring rule itself, shared by batch and streaming.
    */
  private[graft] def pairBits(backoffBits: Int, oovBits: Int): Column =
    when(col("b").isNotNull,
        length(bin(expr("cl div b"))) - 1)
      .when(col("u").isNotNull,
        lit(backoffBits) + length(bin(expr("tot div u"))) - 1)
      .otherwise(lit(oovBits) + length(bin(col("tot"))) - 1)

  /** Per-document duplicated-n-gram fraction: the share of a document's
    * DISTINCT word n-grams that also appear in at least one other
    * document. This is the Lee-et-al-style substring-duplication
    * diagnostic at n-gram granularity — documents with a high fraction
    * are mostly made of text repeated elsewhere (template spam, mirror
    * pages) even when no single whole-document near-dup fires.
    *
    * Output: id, n_grams, n_dup, and `dup_ppm = (1e6 * n_dup) div
    * n_grams` (parts-per-million, exact integer — no float division).
    *
    * One shuffle on the n-gram key (document frequency via window — the
    * gram frame is built ONCE, not aggregated and re-joined) plus one
    * on the doc key. Documents with fewer than n words are excluded
    * (empty-shingle semantics differ across engines).
    */
  def duplicatedNgramFraction(docs: DataFrame, idCol: String,
                              textCol: String, n: Int = 5): DataFrame = {
    require(n >= 2, s"n-gram order must be >= 2, got $n")
    val grams = docs
      .select(col(idCol), words(col(textCol)).as("w"))
      .filter(size(col("w")) >= n)
      .select(col(idCol),
        explode(graft.Pipeline.wordShingles(col("w"), n)).as("g"))
    grams
      .withColumn("df", count(lit(1)).over(Window.partitionBy("g")))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast(LongType).as("n_grams"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).cast(LongType).as("n_dup"))
      .withColumn("dup_ppm", expr("(1000000 * n_dup) div n_grams"))
  }

  /** Boilerplate-prefix detection: per stratum (source / domain), the
    * `prefixLen`-token document prefixes shared by at least `minDf`
    * documents — the scrape-cleaning signal for repeated headers,
    * cookie banners, and navigation chrome that whole-document dedup
    * never catches (the tails differ).
    *
    * Scale shape: the shuffle key is (stratum, prefix) and the shuffled
    * payload is just the prefix string + doc id — the document body
    * never leaves the scan. Group state is one count + one min.
    */
  def boilerplatePrefixes(docs: DataFrame, idCol: String, textCol: String,
                          strataCol: String, prefixLen: Int = 2,
                          minDf: Int = 2): DataFrame = {
    require(prefixLen >= 1 && minDf >= 1,
      s"prefixLen and minDf must be >= 1, got $prefixLen / $minDf")
    docs
      .select(col(idCol), col(strataCol), words(col(textCol)).as("w"))
      .filter(size(col("w")) >= prefixLen)
      .select(col(idCol), col(strataCol),
        concat_ws(" ", slice(col("w"), 1, prefixLen)).as("prefix"))
      .groupBy(col(strataCol), col("prefix"))
      .agg(count(lit(1)).cast(LongType).as("df"),
        min(col(idCol)).as("first_doc"))
      .filter(col("df") >= minDf)
  }

  /** One-row DATASET CARD: the headline numbers a training-data
    * release publishes — doc/unique/token counts, language and source
    * breadth, char-length range, and the exact duplicate rate (ppm
    * integer). All exact: the three COUNT(DISTINCT)s each cost one
    * key-partitioned shuffle (Spark plans them through one Expand);
    * at sizes where an exact text-digest distinct is unreasonable the
    * HLL form (approx_count_distinct, q43) is the stand-in — this is
    * the release-audit form, run once per corpus snapshot.
    */
  def datasetCard(docs: DataFrame, textCol: String, langCol: String,
                  sourceCol: String, charsCol: String): DataFrame =
    docs.agg(
        count(lit(1)).as("n_docs"),
        count_distinct(md5(col(textCol))).as("n_unique"),
        sum(size(words(col(textCol)))).cast(LongType).as("n_tokens"),
        count_distinct(col(langCol)).as("n_langs"),
        count_distinct(col(sourceCol)).as("n_sources"),
        min(col(charsCol)).as("min_chars"),
        max(col(charsCol)).as("max_chars"))
      .withColumn("dup_ppm",
        expr("(1000000 * (n_docs - n_unique)) div n_docs"))

  /** The cleaning half of [[boilerplatePrefixes]]: REMOVE detected
    * boilerplate prefixes from the documents that carry them. A doc
    * whose first `prefixLen` tokens form a prefix shared by >= `minDf`
    * docs of its stratum loses those tokens (`was_stripped = true`);
    * everything else passes through byte-identical.
    *
    * Scale shape: the prefix table (strata x repeated prefixes — far
    * smaller than the corpus, aggregated from a prefix-only shuffle)
    * joins back against the corpus on (stratum, prefix); the rewrite
    * itself is a scan-side token slice. At 100 TB the join's right side
    * is dimension-sized, so AQE broadcasts it; the corpus is never
    * shuffled.
    */
  def stripBoilerplate(docs: DataFrame, idCol: String, textCol: String,
                       strataCol: String, prefixLen: Int = 2,
                       minDf: Int = 2): DataFrame = {
    val pref = boilerplatePrefixes(docs, idCol, textCol, strataCol,
        prefixLen, minDf)
      .select(col(strataCol).as("_ps"), col("prefix").as("_pp"))
    val others = docs.columns.filter(c => c != idCol && c != textCol)
      .map(col).toSeq
    docs
      .withColumn("_w", words(col(textCol)))
      .withColumn("_p", when(size(col("_w")) >= prefixLen,
        concat_ws(" ", slice(col("_w"), 1, prefixLen))))
      // null-safe stratum match: boilerplatePrefixes GROUPs a NULL
      // stratum like any other, so the join must reach it too — a
      // plain === would silently spare every NULL-stratum doc
      // (same discipline as Sampling.temperatureMix)
      .join(pref, col(strataCol) <=> col("_ps") && col("_p") === col("_pp"),
        "left")
      .select((col(idCol) +: others) :+
        col("_pp").isNotNull.as("was_stripped") :+
        when(col("_pp").isNotNull,
            concat_ws(" ", slice(col("_w"), lit(prefixLen + 1),
              greatest(size(col("_w")) - prefixLen, lit(0)))))
          .otherwise(col(textCol)).as(textCol): _*)
  }

  /** LINEAR quality-model scoring: per-doc dot product of token counts
    * against a (token, weight) table plus a bias — the "fasttext-class
    * quality classifier" plumbing with the model as DATA, not code
    * (swap the weights frame, not the pipeline). Weights are integer
    * MILLI-units so the score is an exact integer sum — engine-portable
    * where float accumulation order is not; calibrate/quantize the
    * trained model into millis on the way in.
    *
    * Shape at scale: the weight table is vocabulary-sized (always
    * broadcastable), the token explode is filtered to matching tokens
    * by the broadcast hash join itself, the per-doc sum is one
    * partial-combined aggregate, and zero-match docs ride a left join
    * back (score = bias — absence of evidence scores too). Returns
    * (idCol, score_milli).
    */
  def linearScore(docs: DataFrame, idCol: String, textCol: String,
                  weights: DataFrame, tokenCol: String, weightCol: String,
                  bias: Long = 0L): DataFrame = {
    val matched = docs
      .select(col(idCol), explode(words(col(textCol))).as("_t"))
      .join(broadcast(weights.select(col(tokenCol).as("_t"),
        col(weightCol).cast(LongType).as("_wt"))), "_t")
      .groupBy(col(idCol))
      .agg(sum(col("_wt")).cast(LongType).as("_s"))
    docs.select(col(idCol))
      .join(matched, Seq(idCol), "left")
      .select(col(idCol),
        (coalesce(col("_s"), lit(0L)) + bias).as("score_milli"))
  }

  /** Cross-document BOUNDARY overlap: pairs where doc a's LAST k
    * tokens equal doc b's FIRST k tokens — the shard-stitch detector
    * (a source document split across crawl records, or chunked uploads
    * re-ingested as separate docs, leaves exactly this seam; whole-doc
    * dedup never sees it). Returns (a_id, b_id, gram) where the seam
    * gram is the shared k-token boundary; a_id is the doc ENDING with
    * it, b_id the doc STARTING with it — direction matters (a precedes
    * b in a stitch), so no a<b normalization.
    *
    * Shape: two scan-side gram projections (one string per doc each)
    * and ONE equi-join on the gram — never a pairwise comparison. Docs
    * shorter than k tokens have no boundary and are exempt. A
    * pathologically common boundary gram (boilerplate headers) fans
    * out like any hot join key; feed [[stripBoilerplate]]'d text when
    * that bites.
    */
  def boundaryOverlaps(docs: DataFrame, idCol: String, textCol: String,
                       k: Int = 2): DataFrame = {
    require(k >= 1, s"boundary width must be >= 1, got $k")
    val base = docs.select(col(idCol), words(col(textCol)).as("_w"))
      .filter(size(col("_w")) >= k)
    val tails = base.select(col(idCol).as("a_id"),
      concat_ws(" ", slice(col("_w"), -k, k)).as("gram"))
    val heads = base.select(col(idCol).as("b_id"),
      concat_ws(" ", slice(col("_w"), 1, k)).as("gram"))
    tails.join(heads, Seq("gram"))
      .filter(col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"), col("gram"))
  }

  /** Per-source total-variation divergence from the corpus unigram
    * distribution, in exact-integer ppm — the mixture-shift / rogue-
    * source diagnostic: a source whose token distribution drifts far
    * from the corpus (scraper breakage, language drift, spam invasion)
    * ranks high and gets human review before it pollutes a mix.
    *
    * TV(s) = 1/2 * sum_t |o_st/n_s - c_t/N| over the FULL vocabulary.
    * Absent tokens (o_st = 0) are folded in closed form — sum over
    * absent t of c_t*n_s = n_s*(N - C_s) where C_s sums the corpus
    * counts of the tokens PRESENT in s — so the pipeline only ever
    * touches (source, token) pairs that exist: one token-key window
    * for corpus counts, one source-key aggregate. The single floor
    * division happens after the full numerator sum, so the ppm is the
    * exact floor of the true rational TV.
    *
    * BIGINT bounds: the numerator is <= 2*n_s*N and the ppm multiply
    * <= 2e6*n_s*N — safe to N ~ 3e9 tokens per aggregation scope; at
    * the 100 TB corpus scale (N ~ 1e12) run it per-shard or lift the
    * two products to DECIMAL(38,0).
    */
  def sourceDivergence(docs: DataFrame, sourceCol: String,
                       textCol: String, totalTokens: Long): DataFrame = {
    require(totalTokens > 0, s"totalTokens must be positive, got $totalTokens")
    val o = docs
      .select(col(sourceCol).as("source"), explode(words(col(textCol))).as("w"))
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("o"))
    o.withColumn("c", sum(col("o")).over(Window.partitionBy("w")))
      .withColumn("n_s", sum(col("o")).over(Window.partitionBy("source")))
      .groupBy(col("source"))
      .agg(sum(col("o")).cast(LongType).as("n_tokens"),
        sum(abs(col("o") * totalTokens - col("c") * col("n_s")))
          .cast(LongType).as("_a"),
        sum(col("c")).cast(LongType).as("_cs"))
      .withColumn("tv_ppm", expr(
        s"(1000000 * (_a + n_tokens * (${totalTokens}L - _cs))) div (2 * n_tokens * ${totalTokens}L)"))
      .select(col("source"), col("n_tokens"), col("tv_ppm"))
  }

  /** PMI-style collocation mining: bigrams whose observed count beats
    * the independence expectation — the multi-word-expression signal
    * tokenizer/vocabulary builders consume ("new york" deserves one
    * token; "the the" does not). All-integer: the reported
    * `lift_ppm = floor(1e6 * c_ab * N / (c_a * c_b))` is the
    * independence ratio P(ab)/(P(a)P(b)) scaled to ppm (its log is
    * PMI; the log is monotone, so the RANKING is PMI ranking — no
    * libm). `minCount` suppresses the unstable low-count tail, the
    * standard PMI correction.
    *
    * Shape: one token explode feeding a bigram agg and a unigram agg
    * (token-key shuffles), two vocabulary-sized equi-joins to attach
    * c_a/c_b, TakeOrderedAndProject for the top-k. Nothing corpus-
    * squared; the bigram frame is the corpus token stream itself.
    *
    * BIGINT bound: the lift numerator is `1e6 * c_ab * N`, safe while
    * `c_ab * N <= 9.2e12` (e.g. any pair count at N <= 1e9 tokens
    * needs c_ab <= ~9200). Past that, lift the numerator to
    * DECIMAL(38,0) on both engines — same escape hatch as
    * [[sourceDivergence]]. The one internal cache (the unified
    * unigram+pair count table) is persisted through `scope`.
    */
  def collocations(docs: DataFrame, textCol: String, totalTokens: Long,
                   minCount: Int = 5, k: Int = 30, window: Int = 1,
                   scope: CacheScope = new CacheScope): DataFrame = {
    require(totalTokens > 0, s"totalTokens must be positive, got $totalTokens")
    require(minCount >= 1 && k >= 1, s"minCount/k must be >= 1")
    require(window >= 1, s"window must be >= 1, got $window")
    val w = docs.select(words(col(textCol)).as("w"))
    // round-19 (guide §2.3/§2.4): ONE corpus scan and ONE exchange for
    // BOTH count tables. The old shape ran the unigram subtree twice
    // (it feeds the c_a and c_b joins — Catalyst does not dedup
    // common subtrees) plus one pair-branch scan per offset j: 2 +
    // window corpus scans, each re-splitting every document. Unigrams
    // now ride the same explode as the pairs with a NULL right slot
    // (no (a, b) pair has b NULL, so the two populations cannot
    // collide in the count key), the combined count table is
    // vocabulary+bigram-vocabulary sized — persist THAT, not the
    // corpus — and the three downstream references (bigram filter,
    // c_a join, c_b join) read the cache.
    // (token, +j-th neighbour) pairs for j = 1..window: each offset is
    // a pure scan-side shifted zip (no position join) — window=1 is
    // adjacent bigrams, window>1 the word2vec-style skip-gram context
    val pairArrs = (1 to window).map { j =>
      when(size(col("w")) >= j + 1, zip_with(
        slice(col("w"), lit(1), size(col("w")) - j),
        slice(col("w"), lit(1 + j), size(col("w")) - j),
        (a, b) => struct(a.as("a"), b.as("b"))))
        .otherwise(expr("CAST(array() AS array<struct<a: string, b: string>>)"))
    }
    val uniArr = transform(col("w"),
      t => struct(t.as("a"), lit(null).cast("string").as("b")))
    val counts = scope.persist(w
      .select(explode(concat(uniArr +: pairArrs: _*)).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("c")),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val uni = counts.filter(col("b").isNull)
    val bi = counts.filter(col("b").isNotNull)
      .select(col("a"), col("b"), col("c").as("c_ab"))
      .filter(col("c_ab") >= minCount)
    bi
      .join(uni.select(col("a"), col("c").as("c_a")), "a")
      .join(uni.select(col("a").as("b"), col("c").as("c_b")), "b")
      .select(concat_ws(" ", col("a"), col("b")).as("bigram"),
        col("c_ab").cast(LongType).as("n"),
        expr(s"(1000000 * c_ab * ${totalTokens}L) div (c_a * c_b)")
          .as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("n").desc, col("bigram"))
      .limit(k)
  }

  /** Argmax-margin over a set of integer score columns: the top score,
    * the runner-up, and the relative margin in ppm — the "how sure was
    * the classifier" column behind mixed-language detection (two
    * language profiles scoring close means code-switched or
    * mis-scraped text; route to review instead of trusting the
    * argmax). Generic over any integer score family: `array_sort` of
    * the score vector is exact integer order, so top/second/margin are
    * engine-identical. `margin_ppm = (top-second)*1e6 div top`, 0 when
    * the top score is 0 (fully ambiguous). Pure scan-side.
    */
  def scoreMargin(df: DataFrame, idCol: String,
                  scoreCols: Seq[String]): DataFrame = {
    require(scoreCols.size >= 2,
      s"scoreMargin needs >= 2 score columns, got $scoreCols")
    df.withColumn("_ss", array_sort(array(scoreCols.map(col(_).cast(LongType)): _*)))
      .withColumn("s_top", element_at(col("_ss"), -1))
      .withColumn("s_second", element_at(col("_ss"), -2))
      .withColumn("margin_ppm", when(col("s_top") <= 0L, 0L)
        .otherwise(expr("((s_top - s_second) * 1000000) div s_top")))
      .select(col(idCol), col("s_top"), col("s_second"), col("margin_ppm"))
  }

  /** Per-source mean self-information (millibits/token): the corpus-
    * unigram-model entropy of each source's token stream — the
    * redundancy screen that complements [[sourceDivergence]] (a source
    * can match the corpus mixture yet be internally degenerate:
    * repeated boilerplate scores LOW here). Same integer bit-length
    * information charge as [[informationScore]], aggregated per source:
    * `mean_millibits = (1000 * sum bits) div n_tokens`.
    */
  def sourceEntropy(docs: DataFrame, sourceCol: String, textCol: String,
                    totalTokens: Long): DataFrame = {
    require(totalTokens > 0, s"totalTokens must be positive, got $totalTokens")
    val tf = docs
      .select(col(sourceCol).as("source"), explode(words(col(textCol))).as("w"))
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("tf"))
    tf.withColumn("freq", sum(col("tf")).over(Window.partitionBy("w")))
      .groupBy(col("source"))
      .agg(sum(col("tf")).cast(LongType).as("n_tokens"),
        sum(col("tf") * (length(bin(expr(s"${totalTokens}L div freq"))) - 1))
          .cast(LongType).as("bits"))
      .withColumn("mean_millibits", expr("(1000 * bits) div n_tokens"))
  }

  /** Per-stratum token heavy hitters: the top-k most frequent tokens
    * in every stratum (source / language / split) — the vocabulary-
    * drift and stopword-profile screen a mixture review reads per
    * source. Runs on the custom GroupedTopK operator (bounded partial
    * heaps, spillable final — never a per-stratum sort): the order
    * value packs `(count, token-hash)` into ONE BIGINT
    * (`n * 2^32 + hash32(token)`; hash < 2^32, so the pack is
    * lexicographic (n, hash) order and boundary ties are impossible
    * unless two tokens collide on the full 32-bit hash in the same
    * stratum at the same count). Count stays exact to n <= 2^31 - 1
    * per (stratum, token) (the pack tops out at Long.MaxValue exactly;
    * n = 2^31 would wrap) — beyond that, drop the pack and
    * pre-aggregate.
    */
  def heavyHitters(docs: DataFrame, stratumCol: String, textCol: String,
                   k: Int = 3): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val counts = docs
      .select(col(stratumCol).as("stratum"), explode(words(col(textCol))).as("t"))
      .groupBy("stratum", "t")
      .agg(count(lit(1)).cast(LongType).as("n"))
      .withColumn("_ord",
        col("n") * 4294967296L + graft.Pipeline.wordHash32(col("t")))
    graft.plans.GroupedTopK.perKey(counts, Seq("stratum"), "_ord", k)
      .select(col("stratum"), col("t").as("token"), col("n"))
  }

  /** `2^floor(log2(n))` via integer bit-length (no libm) — the
    * power-of-two band key shared by [[lengthHistogram]] and
    * [[frequencySpectrum]]. Non-positive inputs band to 0.
    */
  def pow2Band(n: Column): Column =
    when(n <= 0, 0L).otherwise(
      call_function("shiftleft", lit(1L), (length(bin(n)) - 1).cast(IntegerType)))

  /** Token-length histogram in power-of-two buckets — the packing
    * planner's input: how many documents and tokens land in each
    * length band decides sequence-length budgets and batch shapes.
    * `bucket_lo = 2^floor(log2(n_tok))` via integer bit-length (no
    * libm), zero-token docs in bucket 0. Scan-side projection + one
    * tiny aggregate (<= 64 buckets); nothing else moves.
    */
  def lengthHistogram(docs: DataFrame, textCol: String): DataFrame =
    docs.select(size(words(col(textCol))).cast(LongType).as("n_tok"))
      .withColumn("bucket_lo", pow2Band(col("n_tok")))
      .groupBy("bucket_lo")
      .agg(count(lit(1)).cast(LongType).as("n_docs"),
        sum(col("n_tok")).cast(LongType).as("n_tokens"),
        min(col("n_tok")).cast(LongType).as("min_tokens"),
        max(col("n_tok")).cast(LongType).as("max_tokens"))
      .orderBy("bucket_lo")

  /** Token-frequency spectrum (count-of-counts, the Zipf audit):
    * distinct-token and occurrence mass per power-of-two frequency
    * band — vocabulary planning reads the head, quality screens the
    * hapax tail. Two aggregates over the unigram counts (q137).
    */
  def frequencySpectrum(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(words(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).cast(LongType).as("c"))
      .withColumn("band_lo", pow2Band(col("c")))
      .groupBy("band_lo")
      .agg(count(lit(1)).cast(LongType).as("n_types"),
        sum(col("c")).cast(LongType).as("n_occurrences"))
      .orderBy("band_lo")

  /** CCNet/RefinedWeb-style duplicated-SPAN removal — the corpus-level
    * "line dedup" cleaning pass: any fixed-width token span whose
    * corpus-wide occurrence count reaches `minDf` is deleted from
    * EVERY document carrying it, and the survivors are reassembled in
    * order. This is the cleaning complement of [[stripBoilerplate]]
    * (which only strips a shared PREFIX) and of `Chunking
    * .chunkDedupMap` (which maps duplicate chunks to a canonical copy
    * but removes nothing): repeated navigation/footer/license spans
    * embedded MID-document disappear wherever they occur.
    *
    * Span boundaries are positional ([[Chunking.chunk]] with zero
    * overlap) because this corpus carries no newline structure;
    * production text would chunk on real line breaks — everything
    * downstream of the splitter is identical.
    *
    * Shape at scale: the span explode is linear in tokens; the df
    * count is one map-side-combined aggregate on 60-bit span hashes
    * (8 B/key); the hot-span membership join is a plain equi-join on
    * that hash (AQE broadcasts it while the hot set is small — it is
    * NOT force-broadcast, a boilerplate-heavy crawl can out-grow the
    * limit); reassembly is one doc-keyed aggregate whose state is
    * bounded by the document's own length. Returns
    * (idCol, n_spans, n_removed, textCol) — a fully-cleaned doc keeps
    * its row with an empty string.
    */
  def stripDuplicateSpans(docs: DataFrame, idCol: String, textCol: String,
                          span: Int = 4, minDf: Int = 2): DataFrame = {
    require(span > 0, s"span must be positive, got $span")
    require(minDf >= 2, s"minDf below 2 would delete every span, got $minDf")
    val ch = Chunking.chunk(docs, idCol, textCol, size = span, overlap = 0)
      .select(col(idCol), col("chunk_idx"), col("chunk"),
        graft.Pipeline.wordHash60(col("chunk")).as("_h"))
    val hot = ch.groupBy("_h")
      .agg(count(lit(1)).cast(LongType).as("_df"))
      .filter(col("_df") >= minDf)
      .select(col("_h"), lit(true).as("_hot"))
    ch.join(hot, Seq("_h"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).cast(LongType).as("n_spans"),
        sum(when(col("_hot"), 1L).otherwise(0L)).cast(LongType)
          .as("n_removed"),
        // collect_list skips the nulls the `when` leaves for hot spans;
        // the struct sort restores document order before the join
        array_join(transform(
          array_sort(collect_list(when(col("_hot").isNull,
            struct(col("chunk_idx"), col("chunk"))))),
          x => x.getField("chunk")), " ").as(textCol))
  }

  /** INTRA-document paragraph dedup: drop every repeat of a paragraph
    * WITHIN its own document, keeping the first occurrence in place —
    * the scraper-artifact cleaner (pagination re-serving the same
    * intro, templated section repeats, infinite-scroll stutter) that
    * runs before any corpus-level span dedup: repeats inside one doc
    * would otherwise inflate that doc's n-gram mass and trip the
    * repetition gates on content that is fine once de-stuttered.
    *
    * Pure scan-side HOF — split on the separator, keep element `i` iff
    * its FIRST index in the array is `i` (`array_position` is 1-based,
    * the filter lambda index 0-based), re-join. Zero shuffle at any
    * scale; per-row cost is quadratic in the PARAGRAPH count of one
    * document (tens), never in corpus size. Returns
    * (idCol, textCol, n_para, n_removed) with textCol rewritten.
    */
  def dedupParagraphs(docs: DataFrame, idCol: String, textCol: String,
                      sep: String = "\n"): DataFrame = {
    require(sep.nonEmpty, "separator must be non-empty")
    docs
      .withColumn("_p", split(col(textCol), java.util.regex.Pattern.quote(sep)))
      .withColumn("_k", expr(
        s"filter(_p, (x, i) -> array_position(_p, x) == i + 1)"))
      .select(col(idCol),
        array_join(col("_k"), sep).as(textCol),
        size(col("_p")).cast(LongType).as("n_para"),
        (size(col("_p")) - size(col("_k"))).cast(LongType).as("n_removed"))
  }

  /** Markdown -> plain text (the deterministic regex core of it,
    * engine-portable so the oracle replays it) — the format normalizer
    * for corpora that arrive as markdown (GitHub READMEs, forum
    * exports, docs sites), run before tokenization so heading hashes
    * and link URLs stop polluting n-gram statistics:
    *   - fenced code blocks (``` ... ```) removed WHOLESALE (code is
    *     routed to a code pipeline, not prose);
    *   - images `![alt](url)` keep the alt, links `[text](url)` keep
    *     the text (the url never enters the prose stream);
    *   - inline-code backticks drop, keeping the content;
    *   - ATX heading markers (leading `#`s) drop, keeping the title;
    *   - emphasis/strike markers (`*`, `_`, `~`) drop everywhere
    *     (documented bluntness: a literal asterisk in prose also goes
    *     — acceptable for corpus statistics, exactly replayable);
    *   - whitespace collapses, result trims.
    * Pure per-row regex projection, zero shuffle. Returns
    * (idCol, textCol rewritten, `md_removed` = chars removed).
    */
  def markdownStrip(docs: DataFrame, idCol: String,
                    textCol: String): DataFrame =
    docs
      .withColumn("_s0", col(textCol))
      .withColumn("_s1", regexp_replace(col("_s0"), "(?s)```.*?```", " "))
      .withColumn("_s2", regexp_replace(col("_s1"),
        "!?\\[([^\\]]*)\\]\\([^)]*\\)", "$1"))
      .withColumn("_s3", translate(col("_s2"), "`*_~", ""))
      .withColumn("_s4", regexp_replace(col("_s3"), "(?m)^#+ *", ""))
      .withColumn("_s5", trim(regexp_replace(col("_s4"), "\\s+", " ")))
      .withColumn("md_removed",
        (length(col("_s0")) - length(col("_s5"))).cast(LongType))
      .withColumn(textCol, col("_s5"))
      .select(col(idCol), col(textCol), col("md_removed"))

  /** Encoding/mojibake QA: per-document counts of the three classic
    * broken-decode signatures — U+FFFD replacement characters (lossy
    * decode already happened), the UTF-8-read-as-Latin-1 marker bytes
    * Ã (U+00C3) / Â (U+00C2), and C0/C1 control characters that never
    * belong in text (NUL, BEL, ESC, U+009D) — plus the aggregate flag.
    * A corpus passes this gate before any tokenizer sees it: every one
    * of these characters inflates subword vocabularies and poisons
    * dedup hashes.
    *
    * Pure scan-side arithmetic: each count is `length(text) −
    * length(translate(text, chars, ''))` — one codegen'd projection,
    * no regex engine (Java and RE2 character-class corner cases differ;
    * `translate`/`replace` semantics do not). Zero shuffle at any
    * scale. Returns (idCol, n_repl, n_moji, n_ctrl, flagged).
    */
  def encodingQa(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    def countOf(chars: String): Column =
      (length(col(textCol)) -
        length(translate(col(textCol), chars, ""))).cast(LongType)
    docs.select(col(idCol),
        countOf("\ufffd").as("n_repl"),
        countOf("\u00c3\u00c2").as("n_moji"),
        countOf("\u0000\u0007\u001b\u009d").as("n_ctrl"))
      .withColumn("flagged",
        col("n_repl") + col("n_moji") + col("n_ctrl") > 0)
  }

  /** Tokenizer fertility audit: per group (language, source, script…),
    * subword tokens per word in exact integer ppm —
    * `(Σ n_bpe_tokens · 1e6) div (Σ n_words)` over
    * [[bpeSegmentCounts]] output. High-fertility groups pay more
    * compute per word under the learned tokenizer — the fairness /
    * cost metric multilingual tokenizer reviews publish. Input is the
    * (id, n_words, n_bpe_tokens) frame joined with the group column;
    * one group-keyed aggregate, group-cardinality output.
    */
  def tokenizerFertility(counts: DataFrame, groupCol: String): DataFrame =
    counts.groupBy(col(groupCol))
      .agg(sum(col("n_words")).cast(LongType).as("n_words"),
        sum(col("n_bpe_tokens")).cast(LongType).as("n_bpe_tokens"))
      .withColumn("fertility_ppm",
        expr("(n_bpe_tokens * 1000000) div n_words"))
      .orderBy(col(groupCol))

  /** Disclosed fixed weights for [[qualityLogit]] — the stand-in for a
    * classifier trained offline (fastText-style quality models ship as
    * frozen weights exactly like this; only the feature extraction
    * runs in the pipeline). Integer micro-logit per feature unit.
    */
  case class LogitWeights(bias: Long = -5000000L, wTtr: Long = 8L,
                          wStop: Long = 6L, wMwl: Long = 300L)

  /** Model-based quality gate: a frozen linear classifier over three
    * scan-side integer features —
    *   - `ttr_ppm`   type-token ratio (lexical diversity),
    *   - `stop_ppm`  stopword share (fluent prose carries function
    *                 words; keyword spam doesn't),
    *   - `mwl_milli` mean word length in millichars —
    * combined as `logit_micro = bias + w·features`, kept when >= 0.
    * Comparing the LOGIT against 0 is exactly the sigmoid >= 0.5 rule
    * without evaluating any transcendental, so the gate replays
    * bit-identically on every engine (the CCNet/RefinedWeb model-filter
    * stage with the model's forward pass reduced to its exact integer
    * form).
    *
    * 100 TB shape: a pure per-row projection — no shuffle, no state;
    * the features come from one `split` shared across the three
    * expressions. Output: id, the three features, `logit_micro`, and
    * `kept` (emit-all audit form; filter on `kept` to materialize the
    * survivors).
    */
  /** Scan-side predicate form of [[encodingQa]]'s gate: true when the
    * text carries NONE of the broken-decode marker characters — the
    * filter shape for pipeline composition (no join back against the
    * audit frame). Equality of the two forms is spec-enforced.
    */
  def encodingClean(textCol: String): Column =
    length(col(textCol)) === length(translate(col(textCol),
      "\ufffd\u00c3\u00c2\u0000\u0007\u001b\u009d", ""))

  /** Scan-side predicate form of [[qualityLogit]]'s keep rule — the
    * same integer features and frozen weights as one boolean
    * expression, for pipeline composition without materializing the
    * audit frame. Equality of the two forms is spec-enforced.
    */
  def qualityLogitKeep(textCol: String,
                       stopwords: Seq[String] = Seq("a", "the"),
                       w: LogitWeights = LogitWeights()): Column = {
    val sw = stopwords.map(s => s"'$s'").mkString(", ")
    val n = s"size(split($textCol, ' '))"
    expr(s"""$n >= 1 AND ${w.bias}L
      + ${w.wTtr}L * ((1000000L * size(array_distinct(split($textCol, ' ')))) div $n)
      + ${w.wStop}L * ((1000000L * size(filter(split($textCol, ' '), x -> x IN ($sw)))) div $n)
      + ${w.wMwl}L * ((1000L * (length($textCol) - $n + 1)) div $n)
      >= 0L""")
  }

  /** Scan-side SCORE form of [[qualityLogit]] — the integer
    * `logit_micro` itself as one Column (not the keep boolean, not the
    * audit frame), for operators that aggregate the score onward
    * (e.g. [[Web.domainScoreGate]]'s per-domain mean). Zero-token
    * documents score at the bias (no division-by-zero; they carry no
    * evidence either way). Same frozen weights, same integer `div`
    * features as the other two forms.
    */
  def qualityLogitMicro(textCol: String,
                        stopwords: Seq[String] = Seq("a", "the"),
                        w: LogitWeights = LogitWeights()): Column = {
    val sw = stopwords.map(s => s"'$s'").mkString(", ")
    val n = s"size(split($textCol, ' '))"
    expr(s"""CASE WHEN $n < 1 THEN ${w.bias}L ELSE ${w.bias}L
      + ${w.wTtr}L * ((1000000L * size(array_distinct(split($textCol, ' ')))) div $n)
      + ${w.wStop}L * ((1000000L * size(filter(split($textCol, ' '), x -> x IN ($sw)))) div $n)
      + ${w.wMwl}L * ((1000L * (length($textCol) - $n + 1)) div $n) END""")
  }

  /** Gopher-style heuristic rule bundle (the Rae et al. 2021 quality
    * filters, exact integer form) — the rule set most public pipelines
    * (Gopher, MassiveText, RefinedWeb, Dolma) apply before any model
    * gate. Five rules, each an integer-ratio feature with its
    * pass/fail boolean, plus the conjunction:
    *   - `r_wordcount` `minTokens <= n_tok <= maxTokens`
    *   - `r_wordlen`   mean word length within [min,max] millichars
    *   - `r_symbols`   '#' chars + '...' runs per token <= cap ppm
    *   - `r_stopwords` at least `minStopKinds` DISTINCT stopwords
    *   - `r_alpha`     words containing a letter >= floor ppm
    * Emit-all audit form (every rule's verdict survives — the shape a
    * filter-rate report needs); filter on `pass` to apply. Pure
    * per-row projection, no shuffle; docs with zero tokens are
    * excluded like [[qualityLogit]].
    */
  def gopherRules(docs: DataFrame, idCol: String, textCol: String,
                  minTokens: Long = 50, maxTokens: Long = 100000,
                  minMwlMilli: Long = 3000, maxMwlMilli: Long = 10000,
                  maxSymbolPpm: Long = 100000, minStopKinds: Int = 2,
                  minAlphaPpm: Long = 800000,
                  stopwords: Seq[String] =
                    Seq("the", "be", "to", "of", "and", "that", "have",
                      "with", "a")): DataFrame = {
    val sw = stopwords.map(s => s"'$s'").mkString(", ")
    val n = s"size(split($textCol, ' '))"
    docs
      .filter(size(words(col(textCol))) >= 1)
      .select(col(idCol),
        expr(s"cast($n as bigint)").as("n_tok"),
        expr(s"(1000L * (length($textCol) - $n + 1)) div $n").as("mwl_milli"),
        expr(s"""(1000000L * ((length($textCol) -
            length(replace($textCol, '#', ''))) +
          ((length($textCol) - length(replace($textCol, '...', ''))) div 3)))
          div $n""").as("sym_ppm"),
        expr(s"cast(size(array_intersect(array_distinct(split($textCol, ' ')), " +
          s"array($sw))) as bigint)").as("stop_kinds"),
        expr(s"(1000000L * size(filter(split($textCol, ' '), " +
          s"x -> x rlike '[a-zA-Z]'))) div $n").as("alpha_ppm"))
      .withColumn("r_wordcount",
        col("n_tok").between(minTokens, maxTokens))
      .withColumn("r_wordlen",
        col("mwl_milli").between(minMwlMilli, maxMwlMilli))
      .withColumn("r_symbols", col("sym_ppm") <= maxSymbolPpm)
      .withColumn("r_stopwords", col("stop_kinds") >= minStopKinds)
      .withColumn("r_alpha", col("alpha_ppm") >= minAlphaPpm)
      .withColumn("pass",
        col("r_wordcount") && col("r_wordlen") && col("r_symbols") &&
          col("r_stopwords") && col("r_alpha"))
  }

  /** WITHIN-DOC repetition rules (the Gopher §A1.1 character-fraction
    * family — the complement of [[maxTokenRun]]'s run screen and
    * [[graft.Pipeline.duplicateTokenFraction]]'s token-share form):
    *
    *   - `top_ppm` — characters claimed by the doc's MOST FREQUENT
    *     `topN`-gram (`count × gram length`, char-fraction ppm): high
    *     values are chorus/listing/keyword-stuffing docs whose single
    *     phrase dominates;
    *   - `dup_ppm` — characters claimed by ALL `dupN`-grams occurring
    *     >= 2 times in the doc: the diffuse-repetition signal (looping
    *     generators, boilerplate interleave) a single top gram misses.
    *
    * Character claims are OCCURRENCE-weighted: overlapping occurrences
    * each charge the full gram length (Gopher's published method for
    * the top-gram rule; its dup-gram interval-union refinement is
    * deliberately not replicated — the over-count is monotone, so the
    * FILTER direction is preserved, and the occurrence form is exact
    * integer and engine-replayable), so ppm can exceed 1e6 on
    * degenerate docs. The top gram ties break (count desc, gram asc) —
    * deterministic on every engine.
    *
    * Shape: two gram explodes -> two (doc, gram)-keyed counts (map-side
    * combined; doc-keyed windows/aggs on high-cardinality keys) joined
    * back to the doc frame. Docs shorter than a gram width score 0 for
    * that rule and pass it. Output: id, n_chars, top_ppm, dup_ppm,
    * r_top, r_dup, pass.
    */
  def repetitionRules(docs: DataFrame, idCol: String, textCol: String,
                      topN: Int = 2, dupN: Int = 5,
                      maxTopPpm: Long = 200000,
                      maxDupPpm: Long = 150000): DataFrame = {
    require(topN >= 1 && dupN >= 1, s"gram widths must be >= 1: $topN, $dupN")
    val base = docs.select(col(idCol), words(col(textCol)).as("_w"),
      length(col(textCol)).cast(LongType).as("n_chars"))
    def gramCounts(n: Int): DataFrame = base
      .filter(size(col("_w")) >= n)
      .select(col(idCol), explode(expr(
        s"transform(sequence(1, size(_w) - ${n - 1}), i -> " +
          s"array_join(slice(_w, i, $n), ' '))")).as("_g"))
      .groupBy(col(idCol), col("_g"))
      .agg(count(lit(1)).cast(LongType).as("_n"))
    val topW = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("_n").desc, col("_g").asc)
    val top = gramCounts(topN)
      .withColumn("_rn", row_number().over(topW))
      .filter(col("_rn") === 1)
      .select(col(idCol), (col("_n") * length(col("_g"))).as("_top_charge"))
    val dup = gramCounts(dupN)
      .filter(col("_n") >= 2)
      .groupBy(col(idCol))
      .agg(sum(col("_n") * length(col("_g"))).as("_dup_charge"))
    base.select(col(idCol), col("n_chars"))
      .join(top, Seq(idCol), "left")
      .join(dup, Seq(idCol), "left")
      .select(col(idCol), col("n_chars"),
        expr("(1000000L * coalesce(_top_charge, 0L)) div greatest(n_chars, 1L)")
          .as("top_ppm"),
        expr("(1000000L * coalesce(_dup_charge, 0L)) div greatest(n_chars, 1L)")
          .as("dup_ppm"))
      .withColumn("r_top", col("top_ppm") <= maxTopPpm)
      .withColumn("r_dup", col("dup_ppm") <= maxDupPpm)
      .withColumn("pass", col("r_top") && col("r_dup"))
  }

  /** Unicode-SCRIPT mix profile: per doc, the ppm of non-space
    * characters that are Latin letters, CJK ideographs, Cyrillic
    * letters, and ASCII digits — the script-mix signal multilingual
    * curation keys on, complementing a language-ID label (an "en" doc
    * that is 40% CJK is mislabeled, mixed boilerplate, or spam; a "zh"
    * corpus slice with low CJK ppm is mojibake suspect).
    *
    * Counts are regexp-removal arithmetic over explicit CODE-POINT
    * RANGES (BMP CJK U+4E00-U+9FFF, Cyrillic U+0400-U+04FF) — not
    * `\\p{script=...}` classes, whose dialect names differ between
    * regex engines; ranges behave identically everywhere. Pure per-row
    * projection. Output: id, n_chars (non-space), latin_ppm, cjk_ppm,
    * cyrillic_ppm, digit_ppm.
    */
  def scriptProfile(docs: DataFrame, idCol: String,
                    textCol: String): DataFrame = {
    def removed(cls: String): Column =
      (length(col(textCol)) -
        length(regexp_replace(col(textCol), cls, ""))).cast(LongType)
    docs
      .select(col(idCol),
        length(regexp_replace(col(textCol), " ", "")).cast(LongType)
          .as("n_chars"),
        removed("[A-Za-z]").as("_lat"),
        removed("[\u4e00-\u9fff]").as("_cjk"),
        removed("[\u0400-\u04ff]").as("_cyr"),
        removed("[0-9]").as("_dig"))
      .select(col(idCol), col("n_chars"),
        expr("(1000000L * _lat) div greatest(n_chars, 1)").as("latin_ppm"),
        expr("(1000000L * _cjk) div greatest(n_chars, 1)").as("cjk_ppm"),
        expr("(1000000L * _cyr) div greatest(n_chars, 1)").as("cyrillic_ppm"),
        expr("(1000000L * _dig) div greatest(n_chars, 1)").as("digit_ppm"))
  }

  def qualityLogit(docs: DataFrame, idCol: String, textCol: String,
                   stopwords: Seq[String] = Seq("a", "the"),
                   w: LogitWeights = LogitWeights()): DataFrame = {
    val ws = words(col(textCol))
    val stopArr = array(stopwords.map(lit): _*)
    docs
      .filter(size(ws) >= 1)
      .select(col(idCol),
        expr(s"(1000000L * size(array_distinct(split($textCol, ' '))))" +
          s" div size(split($textCol, ' '))").as("ttr_ppm"),
        (lit(1000000L) * size(filter(ws, t => array_contains(stopArr, t))))
          .as("_stop_n"),
        size(ws).cast(LongType).as("_n"),
        expr(s"(1000L * (length($textCol) - size(split($textCol, ' ')) + 1))" +
          s" div size(split($textCol, ' '))").as("mwl_milli"))
      .withColumn("stop_ppm", expr("_stop_n div _n"))
      .withColumn("logit_micro",
        lit(w.bias) + lit(w.wTtr) * col("ttr_ppm") +
          lit(w.wStop) * col("stop_ppm") + lit(w.wMwl) * col("mwl_milli"))
      .select(col(idCol), col("ttr_ppm"), col("stop_ppm"), col("mwl_milli"),
        col("logit_micro"), (col("logit_micro") >= 0L).as("kept"))
  }
}
