package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Large-scale training-data pipeline operators: deduplication
  * (exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine),
  * similarity search, and text analysis.
  *
  * Everything here is built from codegen'd built-in expressions
  * (higher-order array functions, hash functions, hash aggregates) —
  * no UDFs — so whole-stage codegen spans the hot paths and Catalyst
  * keeps pushdown/pruning intact. Hashing uses md5 because it is
  * deterministic and identical across engines (the DuckDB oracle
  * computes the same pipelines in SQL).
  *
  * Scale notes (100 TB target) are on each operator.
  */
object Pipeline {

  // ===== tokenization =====

  /** Whitespace tokens. Documents are single-space separated. */
  def words(text: Column): Column = split(text, " ")

  /** Codepoint ranges of the major NO-SPACE scripts — writing systems
    * that don't delimit words with spaces, so a space tokenizer sees a
    * whole sentence as one "word" and every shingle-keyed operator
    * (near-dup, fertility, Gopher rules) silently gets ZERO recall:
    * Hiragana/Katakana, CJK ideographs (unified + ext A + compat),
    * Thai, Lao, Myanmar, Khmer. Literal characters, not \\u escapes —
    * Java regex and RE2 (the oracle) differ on escape syntax but both
    * read literal codepoint ranges identically.
    */
  val NoSpaceScriptRanges: String =
    "぀-ヿ㐀-䶿一-鿿豈-﫿" +
      "฀-๿຀-໿က-႟ក-៿"
  val NotNoSpaceScriptClass: String = s"[^$NoSpaceScriptRanges]"

  /** Character-bigram word surrogate for no-space scripts: spaces
    * stripped, then every adjacent codepoint pair — the standard CJK
    * n-gram fallback (a char bigram carries roughly one CJK word's
    * information; shingles of bigrams then behave like word shingles
    * do for English). A 0/1-char text yields itself as the single
    * token. Pure scan-side HOFs.
    */
  def charBigrams(text: Column): Column = {
    val s = regexp_replace(text, " ", "")
    when(length(s) <= 1, array(s))
      .otherwise(transform(sequence(lit(1), length(s) - 1),
        i => substr(s, i, lit(2))))
  }

  /** Script-dispatching tokens: [[charBigrams]] when the majority of
    * non-space characters are no-space-script codepoints, [[words]]
    * otherwise — the drop-in tokenizer that gives the shingle family
    * real recall on CJK/Thai corpora (with [[words]] a CJK sentence is
    * ONE token and near-dup recall is exactly zero). The dispatch is
    * per-document and deterministic, so the DuckDB oracle replays it;
    * mixed-script documents fall to whichever mass dominates (ties to
    * space tokens — strict majority switches).
    */
  def wordsAuto(text: Column): Column = {
    val noSpaceScript =
      length(regexp_replace(text, NotNoSpaceScriptClass, ""))
    val nonSpace = length(regexp_replace(text, " ", ""))
    when(noSpaceScript * 2 > nonSpace, charBigrams(text))
      .otherwise(words(text))
  }

  /** Script-aware token COUNT — the token-mass column for mixing /
    * packing / budgeting over mixed corpora ([[graft.ops.Sampling
    * .targetMixTokens]], `packSequences`, `contextBlocks`): with
    * `size(split(text, ' '))` a CJK document counts as ONE token and a
    * "30% zh by tokens" budget allocates it ~nothing; the bigram
    * surrogate charges it roughly its character count, the right
    * order of magnitude for any CJK tokenizer.
    */
  def tokenCountAuto(text: Column): Column =
    size(wordsAuto(text)).cast(org.apache.spark.sql.types.LongType)

  /** Distinct word n-gram shingles ("a b c" style). Callers must
    * guard size(words) >= n (empty-sequence semantics differ across
    * engines for degenerate docs). Backed by the native
    * [[graft.plans.WordShingles]] one-pass kernel; byte-identical
    * strings to the HOF reference below.
    */
  def wordShingles(w: Column, n: Int): Column =
    graft.plans.TextExpressions.wordShingles(w, n)

  /** Reference HOF formulation of [[wordShingles]], kept as the spec's
    * equality baseline.
    */
  def wordShinglesHof(w: Column, n: Int): Column =
    array_distinct(
      transform(sequence(lit(1), size(w) - (n - 1)), i =>
        concat_ws(" ", (0 until n).map(k => element_at(w, i + k)): _*)))

  // ===== MinHash + LSH (SURVEY: scale path for near-dup text) =====

  /** MinHash permutation constants: permutation j is the map
    * h_j(x) = (a_j * x + b_j) mod P over a per-shingle base hash
    * x in [0, P) mixed from two md5 words, with P = 2^31-1 (Mersenne
    * prime) and a_j in [1, P-1] — multiplication by a unit mod a prime
    * is a genuine PERMUTATION of Z_P, and because a_j * x wraps the
    * modulus ~2^31 times, the induced ordering of any shingle set is
    * effectively independent per j. Products stay under 2^62
    * (a < 2^31, x < 2^31), exact in signed 64-bit on every engine —
    * no overflow divergence, replayable in DuckDB BIGINT.
    *
    * Why the wrap is load-bearing (round-7 recall bug): the previous
    * scheme used P = 2^61-1 with multipliers so small the product
    * NEVER reached the modulus — an order-PRESERVING map, so all k
    * "permutations" shared one argmin (the global min-hash shingle)
    * and LSH banding degenerated to a single Bernoulli(J) per pair
    * instead of the designed 1-(1-J^r)^b S-curve: whole near-dup
    * groups were invisible to every band at once. (Positive linear
    * mixing of multiple md5 words fails the same way: it preserves
    * Pareto dominance over the fixed point set — measured 16/16
    * signature agreement on a J=0.71 pair. Only a wrapping modular
    * permutation reshuffles the order.) The quadratic index spread in
    * a_j/b_j avoids correlated consecutive multipliers.
    */
  val MinhashP: Long = 2147483647L // Mersenne prime 2^31-1
  private def minhashMix(n: Long): Long = 2654435761L * n * n + 104729L * n
  def minhashA(j: Int): Long = minhashMix(2L * j + 1) % (MinhashP - 1) + 1
  def minhashB(j: Int): Long = minhashMix(2L * j + 2) % MinhashP

  /** k-permutation MinHash signature from the shingle strings: ONE md5
    * per shingle (two 32-bit words mixed into the base hash feed all k
    * permutations — 16x less hash work than hashing per (permutation,
    * shingle)), min per permutation. The standard scheme at scale.
    * Backed by the native [[graft.plans.MinhashSignature]] kernel (one
    * codegen loop over the shingle array vs k interpreted HOF folds);
    * exact integer arithmetic, so identical to the HOF reference below
    * and the oracle.
    */
  def minhashSignature(shingles: Column, k: Int): Column =
    graft.plans.TextExpressions.minhashSig(shingles, k)

  /** Per-shingle base hash for the minhash permutations: two md5 words
    * mixed mod P (the second word recovers the entropy the mod-P
    * reduction of a single 32-bit word would halve).
    */
  def minhashBase(w0: Long, w1: Long): Long =
    (65599L * w0 + w1) % MinhashP

  /** Reference HOF formulation of [[minhashSignature]], kept as the
    * spec's bit-equality baseline (built-in md5/conv/substring only).
    */
  def minhashSignatureHof(shingles: Column, k: Int): Column = {
    def word(s: Column, t: Int): Column =
      conv(substring(md5(s), 8 * t + 1, 8), 16, 10).cast(LongType)
    def base(s: Column): Column =
      pmod(lit(65599L) * word(s, 0) + word(s, 1), lit(MinhashP))
    array((0 until k).map { j =>
      array_min(transform(shingles, s =>
        pmod(lit(minhashA(j)) * base(s) + lit(minhashB(j)), lit(MinhashP))))
    }: _*)
  }

  /** Canonical MinHash signature width: [[graft.Dedup.shingleSignatures]]
    * builds this many permutations by default, sized so that EVERY
    * threshold-derived banding (`bandingFor` at `maxK = DefaultSigK`)
    * slices within it — one signature frame per corpus serves operators
    * at different thresholds (banding reads a prefix; permutation j's
    * value does not depend on how many later permutations exist).
    */
  val DefaultSigK: Int = 128

  /** Sentinel for `minhashK`/`bands` parameters: derive the banding
    * from the operator's own similarity threshold via [[bandingFor]]
    * instead of a fixed literal. The round-7 lesson: fixed k=16/b=4
    * banding captures a J=0.7 pair only ~74% of the time — for
    * operators whose JOB is recall (decontamination, split grouping)
    * the banding must be a function of the operating threshold.
    */
  val AutoBanding: Int = -1

  /** Analytic LSH capture probability: P(some band collides) for a
    * pair at Jaccard `j` under `bands` bands of `rows` rows —
    * 1 - (1 - j^rows)^bands. The S-curve every banding choice here is
    * audited against (PLANS.md carries the measured table).
    */
  def bandingRecall(j: Double, bands: Int, rows: Int): Double =
    1.0 - math.pow(1.0 - math.pow(j, rows), bands)

  /** (bands, rowsPerBand) reaching `targetRecall` capture at
    * J = `threshold` within a `maxK` signature budget, maximizing
    * rowsPerBand: more rows per band = a steeper S-curve = fewer
    * false candidates below the threshold for the same guaranteed
    * recall at it (r is the selectivity knob, b the recall knob —
    * b is then the smallest count meeting the target).
    *
    * The floor contract consumers rely on (spec-gated):
    * bandingRecall(threshold, bands, rows) >= targetRecall >= 0.99.
    * Trade-off at 100 TB: low thresholds force small r (t=0.5 fits
    * r=3/b=40 in a 128 budget), whose shallow curve admits more
    * sub-threshold candidates into the exact-verify join — that is
    * the price of a >= 99% recall GUARANTEE at the threshold, paid in
    * verify work, never in silent misses. The hot-bucket metrics and
    * `maxBucketSize` caps remain the blowup guards.
    */
  def bandingFor(threshold: Double, targetRecall: Double = 0.995,
                 maxK: Int = DefaultSigK): (Int, Int) = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0,1], got $threshold")
    require(targetRecall > 0 && targetRecall < 1,
      s"targetRecall must be in (0,1), got $targetRecall")
    val lnMiss = math.log1p(-targetRecall) // ln(1 - target) < 0
    (maxK to 1 by -1).iterator.map { r =>
      val p = math.pow(threshold, r)
      if (p >= 1.0) Some((1, r)) // threshold 1.0: any single band captures
      else {
        val b = math.ceil(lnMiss / math.log1p(-p)).toInt
        if (b >= 1 && r.toLong * b <= maxK) Some((b, r)) else None
      }
    }.collectFirst { case Some(br) => br }.getOrElse(
      throw new IllegalArgumentException(
        s"no banding within k=$maxK reaches recall $targetRecall at " +
          s"threshold $threshold — raise maxK or lower the target"))
  }

  /** Resolve an operator's (k, bands) LSH banding: the [[AutoBanding]]
    * default derives both from the operator's OWN similarity threshold
    * via [[bandingFor]] — the >= 99% capture floor at the threshold
    * every recall-critical operator (decontamination, split grouping)
    * relies on. Explicit values pass through for reproduction of a
    * pinned configuration; mixing one explicit with one auto would
    * silently band with a shape nobody chose, so it is rejected.
    * Returns (k = bands*rows, bands).
    */
  private[graft] def resolveBanding(threshold: Double, minhashK: Int,
                                    bands: Int): (Int, Int) =
    if (minhashK == AutoBanding || bands == AutoBanding) {
      require(minhashK == AutoBanding && bands == AutoBanding,
        "pass BOTH minhashK and bands explicitly, or leave both at " +
          "AutoBanding for threshold-derived banding")
      val (b, r) = bandingFor(threshold)
      (b * r, b)
    } else (minhashK, bands)

  /** Probe count for CONTAINMENT blocking ([[graft.Dedup
    * .containmentPairs]]): the number of bottom-by-hash shingles of a
    * doc probed against the corpus shingle index. If |A∩B|/|A| = c,
    * each bottom shingle of A (a uniform without-replacement sample of
    * A's shingle set) lies in B with probability c, so with `minHits`
    * required index hits the capture probability is
    * P(Binomial(m, c) >= minHits) — recall derived from the operating
    * CONTAINMENT threshold, independent of Jaccard (MinHash banding
    * approximates Jaccard, and the interesting containment pairs are
    * exactly the Jaccard-LOW ones where banding capture is worst).
    *
    * `minHits = 1` is the round-8 single-hit blocking; `minHits = 2`
    * (the [[graft.Dedup.containmentPairs]] default since round 9)
    * trades a slightly larger m for a candidate set that sheds the
    * single-shared-shingle coincidence pairs — measured at sf0.1 the
    * 2-hit gate cuts candidates ~40x at the same >= `targetRecall`
    * capture floor (PLANS.md round 9).
    */
  def containmentProbesFor(threshold: Double,
                           targetRecall: Double = 0.995,
                           minHits: Int = 1): Int = {
    require(threshold > 0 && threshold <= 1,
      s"containment threshold must be in (0,1], got $threshold")
    require(targetRecall > 0 && targetRecall < 1)
    require(minHits >= 1, s"minHits must be >= 1, got $minHits")
    if (threshold >= 1.0) minHits // full containment: every probe hits
    else {
      // smallest m with P(Binomial(m, threshold) < minHits) <= 1-recall
      def missProb(m: Int): Double = {
        var p = 0.0
        var logC = 0.0 // log C(m, j), built incrementally
        for (j <- 0 until minHits) {
          if (j > 0) logC += math.log((m - j + 1).toDouble / j)
          p += math.exp(logC + j * math.log(threshold)
            + (m - j) * math.log1p(-threshold))
        }
        p
      }
      var m = minHits
      while (missProb(m) > 1 - targetRecall && m < 100000) m += 1
      // fail LOUDLY if the bound ever binds (a degenerate threshold
      // like 1e-6 would need m beyond any practical probe budget):
      // silently returning an m that under-delivers the documented
      // capture floor would corrupt every downstream recall claim
      require(missProb(m) <= 1 - targetRecall,
        s"containment threshold $threshold needs > $m probes for " +
          s"recall $targetRecall (minHits=$minHits) — not a practical " +
          "blocking configuration; lower targetRecall or raise threshold")
      m
    }
  }

  /** LSH banding: hash each band of `rowsPerBand` signature rows to a
    * bucket id. Docs sharing any (band, hash) are candidate pairs.
    * At 100 TB the band explode + groupBy is the standard
    * shuffle-by-bucket plan; bucket sizes stay small (hash-spread), and
    * a pathological hot bucket would be salted or capped.
    */
  def lshBands(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), b =>
      struct(
        b.as("band"),
        // 60-bit integer bucket key (first 15 md5 hex digits): 8 bytes
        // through the banded shuffle instead of the 32-char hex string
        // of rounds <= 8.1 — the band explode is `bands`x the corpus,
        // the single biggest shuffled frame in the q26/q61 family
        // (measured in PLANS.md round 8). Collisions at 2^60 are
        // negligible even for corpus-scale bucket counts, and the
        // oracle replays the identical 15-digit fold.
        conv(substring(md5(concat_ws("|",
          transform(slice(sig, b * rowsPerBand + lit(1), lit(rowsPerBand)),
            _.cast(StringType)))), 1, 15), 16, 10).cast(LongType)
          .as("bh")))

  /** Bucket size above which an LSH band bucket is counted as "hot" in
    * the observed metrics (the same bound the capped dedup paths use as
    * their default `maxBucketSize`). A hot bucket on an UNCAPPED path
    * (decontamination) is not dropped — a dropped bucket there means
    * missed contamination — but it is the early warning that a
    * degenerate corpus is about to turn the pair join quadratic.
    */
  val HotBucketThreshold: Int = 10000

  /** Monotonic suffix so every observe metric name is unique within any
    * composed query: Spark rejects a plan holding two DIFFERENT
    * CollectMetrics nodes under one name (DUPLICATED_METRICS_NAME), and
    * chaining two dedup/decontamination operators in one DAG is a
    * documented use. Self-joins of ONE banded frame reuse the same node
    * and stay legal. Names are diagnostic-only (prefix-matched by
    * [[LshObservability]]), so per-build uniqueness costs nothing.
    */
  private val metricSeq = new java.util.concurrent.atomic.AtomicLong()
  private[graft] def metricName(base: String): String =
    s"${base}_${metricSeq.incrementAndGet()}"

  /** Column-metadata key recording the minhash k a `sig` column was
    * built with — validated at the consumers so a precomputed frame
    * can't silently be banded with mismatched parameters.
    */
  val SigKMetadataKey = "graft.minhashK"

  /** Add the k-permutation MinHash `sig` column when the caller did not
    * supply one: frames carrying a precomputed `sig` (e.g. from
    * [[Dedup.shingleSignatures]], persisted once per corpus) pass
    * through untouched — after validating, when the frame carries the
    * provenance metadata, that it is AT LEAST as wide as the banding
    * needs (banding slices the first `k` rows, and permutation j's
    * value is independent of the total width, so a wider frame bands
    * identically to one built at exactly k; a NARROWER one would slice
    * past the signature and hash EMPTY band slices, making every doc
    * collide).
    */
  private def ensureSig(df: DataFrame, k: Int): DataFrame =
    if (df.columns.contains("sig")) {
      df.schema.fields.find(_.name == "sig")
        .filter(_.metadata.contains(SigKMetadataKey))
        .foreach { f =>
          val have = f.metadata.getLong(SigKMetadataKey)
          require(have >= k,
            s"precomputed signature frame was built with minhashK=$have " +
              s"but the LSH banding was asked for k=$k — rebuild the " +
              "signatures at least that wide")
        }
      df
    } else df.select(col("*"),
      minhashSignature(col("shingles"), k).as("sig"))

  /** (id, band, bucket-hash) rows for LSH joins: shingle -> 32-bit
    * hashes -> k-permutation signature, both as native one-pass kernels
    * in the scan projection (round 2 evaluated them as per-element HOF
    * lambdas — the slowest remaining hot loop), then the band explode.
    *
    * Hot-bucket guard: a degenerate bucket of m docs yields m^2/2
    * pairs. When `maxBucketSize` is set, oversize buckets are dropped
    * (bounded join, reduced recall inside the pathological bucket);
    * uncapped paths keep them. Whenever the bucket-size window runs
    * (capped paths, and uncapped paths that pass `observeHot` — the
    * decontamination blocking, where a dropped bucket would be missed
    * contamination and a kept hot bucket is about to go quadratic) it
    * also feeds an `observe` metric (`<metricName>`: hot_bucket_rows
    * over [[HotBucketThreshold]], max_bucket_size), logged by
    * [[LshObservability]] after each action — a degenerate corpus
    * surfaces as a warning instead of an unexplained runaway join.
    * The plain uncapped SELF-join path (raw candidate queries) skips
    * the window: its hot buckets self-evidence as pair-count blowup,
    * and the window shuffle would tax every healthy run.
    *
    * Metric caveat: a plan that references the banded frame twice (the
    * capped self-join) merges two passes' accumulators, so
    * hot_bucket_rows can double-count; max_bucket_size is exact.
    */
  private def lshBanded(docShingles: DataFrame, idCol: String,
                        k: Int, bands: Int, maxBucketSize: Int,
                        metricBase: String,
                        observeHot: Boolean = false): DataFrame = {
    val rows = k / bands
    val bandedAll = ensureSig(docShingles, k)
      .select(col(idCol), explode(lshBands(col("sig"), bands, rows)).as("bb"))
      .select(col(idCol), col("bb.band").as("band"), col("bb.bh").as("bh"))
    if (maxBucketSize == Int.MaxValue && !observeHot) bandedAll
    else {
      val w = Window.partitionBy("band", "bh")
      val counted = bandedAll.withColumn("_bs", count(lit(1)).over(w))
        .observe(metricName(metricBase),
          coalesce(sum(when(col("_bs") > HotBucketThreshold, 1L).otherwise(0L)),
            lit(0L)).as("hot_bucket_rows"),
          coalesce(max(col("_bs")), lit(0L)).as("max_bucket_size"))
      (if (maxBucketSize == Int.MaxValue) counted
       else counted.filter(col("_bs") <= maxBucketSize)).drop("_bs")
    }
  }

  /** Candidate near-dup pairs (a_id < b_id) from MinHash-LSH band
    * collisions. Input must have an id column and either a `shingles`
    * column (signature derived inline) or a precomputed `sig` column
    * (see [[Dedup.shingleSignatures]]). The self-join is an equi-join
    * on (band, bh) — shuffle hash join, never a cartesian; the two
    * sides share one Exchange (identical subtrees reuse the shuffle).
    */
  def lshCandidatePairs(docShingles: DataFrame, idCol: String,
                        k: Int, bands: Int,
                        maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val banded = lshBanded(docShingles, idCol, k, bands, maxBucketSize,
      "graft_lsh_self")
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("a_id"), col(s"y.$idCol").as("b_id"))
      .distinct()
  }

  /** CROSS-corpus candidate pairs: docs of corpus A that share an LSH
    * band bucket with any doc of corpus B (a_id from A, b_id from B) —
    * the blocking step of test-set decontamination. Same equi-join
    * shape as the self-join variant; both corpora must use the same id
    * namespace only in the sense that ids identify rows within their
    * own side. Inputs may carry precomputed `sig` columns.
    */
  def lshCrossCandidates(aShingles: DataFrame, bShingles: DataFrame,
                         idCol: String, k: Int, bands: Int,
                         maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val ba = lshBanded(aShingles, idCol, k, bands, maxBucketSize,
      "graft_lsh_train", observeHot = true)
    val bb = lshBanded(bShingles, idCol, k, bands, maxBucketSize,
      "graft_lsh_test", observeHot = true)
    ba.as("x").join(bb.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh"))
      .select(col(s"x.$idCol").as("a_id"), col(s"y.$idCol").as("b_id"))
      .distinct()
  }

  // ===== SimHash =====

  /** 32-bit word hash from the md5 hex prefix — portable and uniform. */
  def wordHash32(w: Column): Column =
    conv(substring(md5(w), 1, 8), 16, 10).cast(LongType)

  /** 60-bit variant (first 15 md5 hex digits) for membership/join keys
    * whose key space must outlive a billions-distinct vocabulary —
    * 32 bits saturates at ~4e9 distinct values, 60 bits does not.
    */
  def wordHash60(w: Column): Column =
    conv(substring(md5(w), 1, 15), 16, 10).cast(LongType)

  /** JVM-side mirror of [[wordHash60]] (first 15 md5 hex digits of the
    * UTF-8 bytes as a long) for driver/state code that must order by
    * the SAME key the column recipe produces — the streaming
    * Misra-Gries maintainer's tie-break. PipelineSpec asserts the two
    * agree value-for-value.
    */
  def wordHash60Jvm(s: String): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).take(8)
      .map(b => f"$b%02x").mkString.substring(0, 15)
    java.lang.Long.parseLong(hex, 16)
  }

  /** 32-bit SimHash per document: per-bit majority vote over token
    * hashes (tokens weighted by multiplicity), computed entirely in the
    * scan projection by the native [[graft.plans.SimHash32]] kernel —
    * no explode, no shuffle. The votes are integer sums, so the result
    * is order-independent and exactly equals the explode+groupBy
    * formulation (kept below as [[simhash32ViaExplode]] for the
    * equivalence spec; the DuckDB oracle replays that formulation).
    */
  def simhash32(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
      graft.plans.VectorExpressions.simHash32(words(col(textCol))).as("simhash"))

  /** Reference formulation of [[simhash32]]: explode tokens, one hash
    * aggregate with 32 partial-aggregatable sum columns. Correct and
    * map-side-combined, but it shuffles every token — kept only as the
    * spec's equivalence baseline.
    */
  def simhash32ViaExplode(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol),
      explode(words(col(textCol))).as("w"))
      .select(col(idCol), wordHash32(col("w")).as("h"))
    val voteCols = (0 until 32).map(b =>
      sum(when(expr(s"(shiftright(h, $b) & 1) = 1"), 1).otherwise(-1)).as(s"v$b"))
    val votes = toks.groupBy(col(idCol)).agg(voteCols.head, voteCols.tail: _*)
    val sim = (0 until 32)
      .map(b => when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    votes.select(col(idCol), sim.as("simhash"))
  }

  /** 64-bit SimHash as two independent 32-bit signatures: `lo` over the
    * tokens, `hi` over per-token salted copies ("x1_" prefix) — both
    * computed by the same native scan-side kernel, both with the exact
    * explode+groupBy equivalence the oracle replays, and the pair
    * (lo, hi) never touches 64-bit arithmetic (which would overflow
    * DuckDB's signed fold). The point at scale: [[simhashPairs]]'s
    * 8-bit chunks give only 4 x 256 fixed block keys — quadratic pair
    * space once buckets fill — while [[simhash64Pairs]] blocks on
    * 4 x 16-bit chunks (65536-way selectivity per chunk).
    */
  def simhash64(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = words(col(textCol))
    docs.select(col(idCol),
      graft.plans.VectorExpressions.simHash32(w).as("simhash_lo"),
      graft.plans.VectorExpressions.simHash32(
        transform(w, x => concat(lit("x1_"), x))).as("simhash_hi"))
  }

  /** Near-dup pairs by 64-bit SimHash hamming distance <= maxDist,
    * pigeonhole-blocked on 4 sixteen-bit chunks (2 from each half):
    * any pair within distance 3 agrees on >= 1 chunk. Same equi-join
    * shape as [[simhashPairs]], 64x the block-key cardinality.
    */
  def simhash64Pairs(sims: DataFrame, idCol: String, maxDist: Int): DataFrame = {
    require(maxDist <= 3, "4-chunk pigeonhole blocking covers distance <= 3")
    val chunked = sims.select(col(idCol), col("simhash_lo"), col("simhash_hi"),
        explode(sequence(lit(0), lit(3))).as("c"))
      .withColumn("chunk", when(col("c") < 2,
          expr("shiftright(simhash_lo, c * 16) & 65535"))
        .otherwise(expr("shiftright(simhash_hi, (c - 2) * 16) & 65535")))
    chunked.as("x").join(chunked.as("y"),
        col("x.c") === col("y.c") && col("x.chunk") === col("y.chunk") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("a_id"), col(s"y.$idCol").as("b_id"),
        (expr("bit_count(x.simhash_lo ^ y.simhash_lo)") +
          expr("bit_count(x.simhash_hi ^ y.simhash_hi)"))
          .cast(IntegerType).as("dist"))
      .distinct()
      .filter(col("dist") <= maxDist)
  }

  /** Near-dup pairs by SimHash hamming distance <= maxDist, blocked by
    * the pigeonhole principle: split the 32-bit hash into 4 byte
    * chunks; any pair within distance 3 must agree on >= 1 chunk, so an
    * equi-join on (chunk_idx, chunk_value) finds all of them without a
    * cartesian. Standard at scale (each chunk join is shuffle-by-key).
    * At corpus scale prefer the 64-bit [[simhash64Pairs]] (this form's
    * 4 x 256 block keys saturate).
    */
  def simhashPairs(sims: DataFrame, idCol: String, maxDist: Int): DataFrame = {
    require(maxDist <= 3, "4-chunk pigeonhole blocking covers distance <= 3")
    val chunked = sims.select(col(idCol), col("simhash"),
        explode(sequence(lit(0), lit(3))).as("c"))
      .withColumn("chunk", expr("shiftright(simhash, c * 8) & 255"))
    chunked.as("x").join(chunked.as("y"),
        col("x.c") === col("y.c") && col("x.chunk") === col("y.chunk") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("a_id"), col(s"y.$idCol").as("b_id"),
        expr("bit_count(x.simhash ^ y.simhash)").cast(IntegerType).as("dist"))
      .distinct()
      .filter(col("dist") <= maxDist)
  }

  // ===== vector math (embedding dedup / similarity search) =====

  /** Cast a float array column to double — all similarity math is done
    * in double so results are engine-portable (float32 accumulation
    * differs across engines; f32->f64 conversion is exact).
    */
  def asDouble(a: Column): Column = transform(a, _.cast(DoubleType))

  /** Sequential-fold dot product over double arrays. `aggregate` folds
    * left-to-right in index order, which matches the oracle's
    * list_reduce exactly (bit-identical IEEE sums). Codegen'd, no UDF.
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** Cosine similarity of two double-array columns. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Deterministic ±1 hyperplane component: parity of the first hex
    * digit of md5(s"${plane}_${dim}") — the same value the DuckDB
    * oracle derives in SQL. Computed ONCE at plan-build time (Catalyst
    * cannot constant-fold through higher-order-function lambdas, so
    * deriving these in-row would cost planes*dims md5 calls per row).
    */
  def rhpSign(plane: Int, dim: Int): Double = {
    val d0 = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${plane}_$dim".getBytes("UTF-8"))(0)
    if (((d0 >> 4) & 0xF) % 2 == 0) 1.0 else -1.0
  }

  /** Random-hyperplane LSH bucket for a double-array vector: `planes`
    * hyperplanes with md5-parity ±1 components; bit p = (v · h_p > 0).
    * Buckets partition the corpus so ANN probes touch ~N/2^planes
    * vectors. At scale: signature computed in the scan projection (one
    * pass), candidates co-located by repartition(bucket).
    *
    * Backed by the native fused [[graft.plans.RhpBucket]] codegen
    * kernel (one loop, literal sign array); accumulation is in the same
    * ascending index order as the HOF reference below and the oracle's
    * list_reduce, so the result is IEEE-bit-identical.
    */
  def rhpBucket(v: Column, dims: Int, planes: Int): Column =
    graft.plans.VectorExpressions.rhpBucket(v, dims, planes)

  /** Multi-probe bucket list for RHP LSH: the query's own bucket plus
    * every bucket at hamming distance 1 (one hyperplane flipped) —
    * `planes + 1` probes. Single-bucket probing loses every true match
    * whose projection sits near ANY hyperplane (measured on the test
    * corpus: 0.14 pair recall at the q65 operating point vs 0.53 with
    * 1-flip probes; at production match thresholds (cos >= 0.9) the
    * collision math gives ~0.92). Cost: the PROBE side fans out
    * (planes+1)-fold before the equi-join — the corpus side is
    * untouched, the join stays an equi-join, and a probe set is
    * pairwise-distinct so no candidate pair is generated twice.
    */
  def rhpProbeBuckets(bucket: Column, planes: Int): Column =
    array((bucket +: (0 until planes).map(p =>
      bucket.bitwiseXOR(lit(1 << p)))): _*)

  /** RHP plane count sized to the corpus: `ceil(log2(n / targetBucket))`
    * (min 1, capped at 30). Bucket count must track corpus size — a
    * FIXED plane count makes the self-join pair space quadratic in N
    * (measured: 10x vectors at planes=4 cost 9x; resizing to 8 planes
    * restored ~linear — see PLANS.md). More planes trade per-pair
    * recall at LOW similarity thresholds; at production match
    * thresholds (cos >= 0.9) multi-probe recall degrades slowly.
    */
  def planesFor(n: Long, targetBucketSize: Int = 1000): Int = {
    require(n > 0 && targetBucketSize > 0)
    val buckets = math.max(1.0, n.toDouble / targetBucketSize)
    math.min(30, math.max(1, math.ceil(math.log(buckets) / math.log(2)).toInt))
  }

  /** Sentinel default for `planes` parameters on the corpus-facing
    * embedding operators: size the plane count to the corpus instead of
    * inheriting a fixed literal (a fixed count makes the LSH self-join
    * quadratic as buckets fill — the measured 9x-at-10x law behind
    * [[planesFor]]). Convenience facades resolve it with ONE
    * `df.count()` (cheap next to the join it right-sizes; parquet
    * counts are metadata-only); `*Signed` forms read the plane count
    * the bucket frame was BUILT with from its column metadata — no
    * extra job at all.
    *
    * Two caveats for callers:
    *  - on a DERIVED frame (post-join/filter/shuffle) the count is a
    *    full job, and it re-runs on EVERY facade call — when one frame
    *    feeds several calls, resolve once ([[resolvePlanes]] or
    *    [[planesFor]] on a known size) and pass the explicit value, or
    *    better, precompute the bucket frame and use the `*Signed` form;
    *  - BEHAVIOR CHANGE (r5): these facades previously defaulted to a
    *    fixed `planes = 4`; results for corpora away from ~16k rows
    *    differ under the sized default (by design — the fixed default
    *    was the measured scale bug). Pass `planes = 4` to reproduce the
    *    old bucketing.
    */
  val AutoPlanes: Int = -1

  /** Resolve [[AutoPlanes]] against a corpus (explicit values pass
    * through untouched).
    */
  def resolvePlanes(planes: Int, corpus: org.apache.spark.sql.DataFrame): Int =
    if (planes != AutoPlanes) planes
    else planesFor(math.max(1L, corpus.count()))

  /** Reference HOF formulation of [[rhpBucket]] (planes × zip_with +
    * aggregate lambda folds, interpreted per element). Kept only as the
    * spec's bit-equality baseline for the native kernel.
    */
  def rhpBucketHof(v: Column, dims: Int, planes: Int): Column =
    (0 until planes).map { p =>
      val signs = typedLit((1 to dims).map(d => rhpSign(p, d)))
      val proj = aggregate(
        zip_with(v, signs, (x, s) => x * s),
        lit(0.0), (acc, x) => acc + x)
      when(proj > 0, lit(1 << p)).otherwise(lit(0))
    }.reduce(_ + _)

  // ===== text analysis =====

  /** Occurrence signal of a literal substring: 2x the occurrence count
    * (length delta after deleting all occurrences). Never divided back —
    * callers only compare/argmax, so the x2 factor is irrelevant and the
    * arithmetic stays integral (no float compare hazards vs the oracle).
    */
  def occurrences2x(text: Column, s: String): Column =
    length(text) - length(call_function("replace", text, lit(s), lit("")))

  /** First-max-wins label argmax over `(label, score)` pairs — the
    * single-evaluation form of the scorer CASE chain
    * `CASE WHEN s_0 >= all-others THEN l_0 WHEN s_1 >= ... ELSE l_last`
    * used by the language-ID family (q32/q248/q269/q273).
    *
    * Equivalence: the CASE's arm `i` fires iff `s_i` is >= every other
    * score AND no earlier arm fired, i.e. the winner is the max score
    * with ties broken toward the EARLIEST label; the ELSE arm (last
    * label) is reached exactly when the last label's score strictly
    * beats all earlier ones — also that argmax. `greatest` over
    * `struct(score, -index)` picks the identical winner (struct
    * comparison is lexicographic; `-index` prefers earlier labels on
    * ties), so the two forms agree on every input WITH NON-NULL
    * SCORES. Precondition (round-18 advice): scores must be non-null —
    * on a null score the CASE chain's comparisons evaluate to null
    * (arm skipped) while `greatest` orders a null-score struct lowest,
    * and on an ALL-null row the CASE falls to its ELSE arm (LAST
    * label) while this form picks the FIRST — divergent. All four
    * call sites satisfy it structurally: their scores are
    * [[occurrences2x]] sums over a text column that is either
    * all-null or all-non-null per row, and the null case never
    * reaches the argmax (filtered or coalesced upstream).
    *
    * Why it exists (round-18): the CASE chain references every score
    * expression O(labels) times, and with inlined scorers (sums of
    * [[occurrences2x]] length-delta `replace`s) the q273 physical plan
    * carried 960 replace() trees PER RATER ROW — expression-tree
    * duplication whole-stage codegen's conditional-subexpression rules
    * do not reliably collapse. Here each score expression appears
    * exactly once.
    */
  def argmaxLabel(scored: Seq[(String, Column)]): Column = {
    require(scored.size >= 2, "argmaxLabel needs >= 2 labels")
    val best = greatest(scored.zipWithIndex.map { case ((_, s), i) =>
      struct(s.as("s"), lit(-i).as("ni"))
    }: _*)
    element_at(array(scored.map(p => lit(p._1)): _*),
      -best.getField("ni") + 1)
  }

  val StopWords: Seq[String] = Seq("the", "a", "an", "of", "to", "and", "in", "is")

  /** Count of stopword tokens (with multiplicity). */
  def stopwordCount(w: Column): Column =
    size(filter(w, x => x.isin(StopWords.map(lit(_)): _*)))

  /** BPE-ish token estimate: ceil(len(word)/4) summed — the standard
    * "~4 chars per subword token" heuristic, exact and portable.
    */
  def subwordTokenCount(w: Column): Column =
    aggregate(
      transform(w, x => ceil(length(x) / lit(4.0)).cast(LongType)),
      lit(0L), (acc, v) => acc + v)

  /** Canonical fingerprint: md5 of the sorted distinct token set
    * (classic fingerprint dedup — robust to token order).
    */
  def canonicalFingerprint(w: Column): Column =
    md5(array_join(array_sort(array_distinct(w)), " "))

  /** Gopher-style repetition signal: fraction of tokens that are
    * repeats (1 - distinct/total). Scan-side, exact integer ratio to
    * double — engine-portable bit-for-bit.
    */
  def duplicateTokenFraction(w: Column): Column =
    lit(1.0) - size(array_distinct(w)).cast("double") / size(w)

  /** Fraction of word n-grams that are repeats (1 - distinct/total),
    * NULL for docs shorter than n words — the "duplicate 3-gram"
    * boilerplate signal corpus-quality filters (C4/Gopher family) cut
    * on. Scan-side.
    */
  def duplicateShingleFraction(w: Column, n: Int): Column =
    when(size(w) >= n,
      lit(1.0) - size(wordShingles(w, n)).cast("double") / (size(w) - (n - 1)))

  /** Mean word length in characters, from doc-level counts (chars
    * excluding the single separating spaces / token count) — exact
    * same-integer division on every engine.
    */
  def meanWordLength(text: Column, w: Column): Column =
    (length(text) - (size(w) - 1)).cast("double") / size(w)

  /** Polynomial rolling hash over token hashes, mod 1e9+7. The fold
    * starts at 0 and every term is already < M, so the left fold equals
    * the oracle's init-less list_reduce. Backed by the native
    * [[graft.plans.RollingHash]] kernel (one loop, md5 inline) —
    * integer arithmetic, identical to the HOF reference below.
    */
  def rollingHash(w: Column): Column =
    graft.plans.TextExpressions.rollingHash(w)

  /** Reference HOF formulation of [[rollingHash]], kept as the spec's
    * bit-equality baseline.
    */
  def rollingHashHof(w: Column): Column =
    aggregate(
      transform(w, x => wordHash32(x) % lit(1000000007L)),
      lit(0L), (acc, h) => pmod(acc * 31 + h, lit(1000000007L)))
}

/** Session-level consumer of the `graft_lsh_*` observe metrics every
  * LSH banding emits: after each action, any bucket over
  * [[Pipeline.HotBucketThreshold]] is logged as a warning with the row
  * count and the largest bucket seen. The uncapped decontamination
  * path keeps hot buckets (dropping one = missed contamination), so
  * this log line is the only signal separating "degenerate corpus
  * heading for a quadratic pair join" from an ordinary slow run.
  *
  * Known corner: when a query's RESULT collapses to empty, AQE's
  * empty-relation propagation can replace the joins above the metric
  * stages, dropping CollectMetrics from the final plan — the metric is
  * then absent for that action. This coincides with the runs where the
  * hot bucket did NOT inflate the join (a hot bucket colliding across
  * corpora produces matches, keeping the stages live), so the warning
  * fires exactly in the damage cases.
  */
object LshObservability {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Shared warn logic for one observed-metric row (batch and
    * streaming deliver the same rows through different listener APIs).
    */
  private def warnOn(name: String, row: org.apache.spark.sql.Row): Unit =
    if (name.startsWith("graft_lsh_")) {
      val hot = row.getAs[Long]("hot_bucket_rows")
      if (hot > 0) log.warn(
        s"LSH hot bucket on '$name': $hot banded rows sit in buckets larger " +
          s"than ${Pipeline.HotBucketThreshold} (largest bucket: " +
          s"${row.getAs[Long]("max_bucket_size")} rows) — a degenerate corpus " +
          "is inflating the candidate pair join; dedup/decontaminate inputs " +
          "may need pre-aggregation of identical documents")
    } else if (name.startsWith("graft_semantic_hot_cluster")) {
      val hot = row.getAs[Long]("hot_cluster_rows")
      if (hot > 0) log.warn(
        s"SemDeDup hot cluster on '$name': $hot vectors sit in clusters " +
          "larger than the active maxClusterSize cap (largest cluster: " +
          s"${row.getAs[Long]("max_cluster_size")} rows) — capped clusters " +
          "are exempt from pruning (their members all survive); raise k so " +
          "clusters stay bounded, or pre-dedup exact duplicates before the " +
          "semantic pass")
    } else if (name.startsWith("graft_rhp_null_")) {
      val n = row.getAs[Long]("null_buckets")
      if (n > 0) log.warn(
        s"$n rows on '$name' have a NULL RHP bucket (vector shorter than " +
          "the configured dims, or null elements) — those rows are EXEMPT " +
          "from bucket-blocked matching (in decontamination that means " +
          "potential missed contamination); repair or quarantine them")
    }

  private class Listener extends org.apache.spark.sql.util.QueryExecutionListener {
    override def onSuccess(funcName: String,
                           qe: org.apache.spark.sql.execution.QueryExecution,
                           durationNs: Long): Unit =
      qe.observedMetrics.foreach { case (name, row) => warnOn(name, row) }
    override def onFailure(funcName: String,
                           qe: org.apache.spark.sql.execution.QueryExecution,
                           exception: Exception): Unit = ()
  }

  /** Streaming counterpart: per-micro-batch observed metrics arrive via
    * StreamingQueryProgress, which the batch QueryExecutionListener
    * never sees — without this, the streaming monitors' null-bucket
    * audit would be counted but surfaced nowhere.
    */
  private class StreamListener
      extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    override def onQueryStarted(event: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(event: QueryProgressEvent): Unit =
      event.progress.observedMetrics.forEach {
        (name, row) => warnOn(name, row)
      }
  }

  /** Idempotent per-session registration (Sessions.build calls this). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    synchronized {
      val tag = "graft.lsh.observability.registered"
      if (!java.lang.Boolean.parseBoolean(spark.conf.getOption(tag).getOrElse("false"))) {
        spark.listenerManager.register(new Listener)
        spark.streams.addListener(new StreamListener)
        spark.conf.set(tag, "true")
      }
    }
}
