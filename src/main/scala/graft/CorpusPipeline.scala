package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The composed end-to-end training-corpus cleaning pipeline — the
  * "switch your pipeline to this library" surface that chains the
  * individually-verified operators in their canonical order:
  *
  *   1. exact dedup (content bytes)            — cheapest first
  *   2. near dedup (MinHash-LSH + Jaccard)     — on the survivors only
  *   3. quality filter (length / stopword mix) — scan-side column math
  *   4. feature annotation (tokens, TTR, fingerprints, rolling hash)
  *
  * Every stage is a DataFrame -> DataFrame transform with the scale
  * shapes documented on the underlying operators (one derived-key
  * shuffle per dedup stage, no cartesians, no driver collects), so the
  * composition inherits them. Stage counts are computed ONCE via a
  * single pass per boundary (the `Report` is four counts — at 100 TB
  * these are the same four actions a production run would log).
  */
object CorpusPipeline {

  /** Per-stage surviving row counts.
    *
    * Counts ride `observe`/accumulator metrics collected during the
    * pipeline's single action, so they are OBSERVABILITY, not
    * exactly-once ledger entries: if an executor is lost mid-action and
    * successfully-computed partitions are recomputed, rows can flow
    * through a metrics node twice and OVER-COUNT a stage (failed tasks
    * are excluded; recomputed successes are not). The corpus itself is
    * unaffected. Downstream consumers needing exact audited counts
    * should `count()` the returned frames explicitly.
    */
  case class Report(
      input: Long,
      afterExactDedup: Long,
      afterNearDedup: Long,
      afterQualityFilter: Long) {
    def json: String =
      s"""{"input":$input,"after_exact_dedup":$afterExactDedup,""" +
        s""""after_near_dedup":$afterNearDedup,"after_quality_filter":$afterQualityFilter}"""
  }

  /** Quality predicate: enough tokens, not stopword-saturated. The
    * thresholds mirror the oracle-checked q33 classification bounds.
    */
  def qualityFilter(textCol: String, minTokens: Int, maxStopRatio: Double) = {
    val w = Pipeline.words(col(textCol))
    size(w) >= minTokens &&
      (Pipeline.stopwordCount(w).cast("double") / size(w)) <= maxStopRatio
  }

  /** Result of [[clean]]: the cleaned, feature-annotated corpus and
    * the per-stage report.
    */
  final case class Cleaned(corpus: DataFrame, report: Report)

  private val Disk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

  /** The shared stage chain: persisted exact/sig/near boundaries (each
    * roots downstream stages — unpersisted, the md5 window and the LSH
    * chain would re-derive per action) plus the quality-filtered,
    * feature-annotated corpus. The exact boundary (and the MinHash
    * survivors, when the simhash stage is on) persist through
    * `countScope`, which the facades release once the report counts ran;
    * the signature and near boundaries through `sigScope` and
    * `nearScope`, whose lifetimes differ between the facades.
    *
    * Stage counts ride `observe` metric nodes chained through the plan
    * (input / after-exact / after-near), so ONE action — the quality
    * count in [[countReport]] — executes every stage exactly once,
    * materializes the three caches on the way, and delivers all four
    * counts. No per-boundary count jobs. Caveat inherited from
    * accumulator semantics: if a cluster loses an executor mid-action
    * and successful partitions are RECOMPUTED, rows can flow through a
    * metrics node twice and inflate the observed count (failed tasks
    * are excluded, recomputed successes are not) — report counts are
    * observability, not exactly-once ledger entries; the corpus
    * itself is unaffected.
    */
  private final case class Stages(sig: DataFrame, quality: DataFrame,
                                  annotated: DataFrame,
                                  obsInput: org.apache.spark.sql.Observation,
                                  obsExact: org.apache.spark.sql.Observation,
                                  obsNear: org.apache.spark.sql.Observation)

  private def metric(o: org.apache.spark.sql.Observation): Long =
    o.get("n").asInstanceOf[Long]

  /** The four per-stage counts both facades report — ONE action (the
    * quality-stage count) fires the three upstream observations, shared
    * so the facades cannot diverge.
    */
  private def countReport(st: Stages): Report = {
    val afterQuality = st.quality.count()
    Report(metric(st.obsInput), metric(st.obsExact), metric(st.obsNear),
      afterQuality)
  }

  private def runClean(docs: DataFrame, idCol: String, textCol: String,
                       jaccardThreshold: Double, minTokens: Int,
                       maxStopRatio: Double, simhashMaxDist: Int,
                       countScope: CacheScope, sigScope: CacheScope,
                       nearScope: CacheScope): Stages = {
    val oIn = org.apache.spark.sql.Observation()
    val oExact = org.apache.spark.sql.Observation()
    val oNear = org.apache.spark.sql.Observation()
    val src = docs.observe(oIn, count(lit(1)).as("n"))
    // observe BELOW persist: the metrics node lives inside the cached
    // plan, so it fires exactly once — when the cache materializes —
    // and cache hits never re-count
    val exact = countScope.persist(Dedup.exact(src, idCol, textCol)
      .observe(oExact, count(lit(1)).as("n")), Disk)
    val sig = sigScope.persist(
      Dedup.shingleSignatures(exact, idCol, textCol), Disk)
    // the MinHash survivors are the most expensive frame in the chain;
    // when the simhash stage is on it references them TWICE (signature/
    // pair side and anti-join left side), so they are persisted for the
    // duration of `near`'s materialization (`countScope`) — unpersisted,
    // the whole LSH chain would execute twice
    val minhashed = Dedup.nearSigned(exact, sig, idCol, threshold = jaccardThreshold)
    // optional 64-bit SimHash near-IDENTICAL pass (permutations and
    // one-token edits that shingled Jaccard can miss at threshold) —
    // part of the dedup chain, so it runs BEFORE the quality filter
    // like the MinHash stage (dedup-then-filter keeps the canonical
    // lowest-id survivor even when the filter would later drop it)
    val deduped = if (simhashMaxDist < 0) minhashed
      else Dedup.nearSimhash64(countScope.persist(minhashed, Disk), idCol,
        textCol, simhashMaxDist)
    val near = nearScope.persist(
      deduped.observe(oNear, count(lit(1)).as("n")), Disk)
    val quality = near.filter(qualityFilter(textCol, minTokens, maxStopRatio))
    Stages(sig, quality, Similarity.withTextFeatures(quality, textCol),
      oIn, oExact, oNear)
  }

  /** One-call release audit: the report bundle a dataset release
    * review reads, each member an oracle-checked operator —
    * `card` (q110 one-row headline), `length_histogram` (q123),
    * `shard_balance` (q131 at `nShards`), `source_divergence` (q120)
    * and `source_entropy` (q135, both vs the corpus unigram model),
    * `cluster_sizes` (q136 near-dup cluster shape at
    * `dedupThreshold`), `frequency_spectrum` (q137 Zipf bands).
    *
    * The scan-side members are LAZY — materialize the ones the review
    * needs; the corpus-total token count is their one eager action
    * (shared by the two unigram-model members). The `cluster_sizes`
    * member is the exception: [[Dedup.clusterSizes]]' label-propagation
    * loop materializes EAGERLY, so the default call pays the full
    * pair-graph computation up front — pass `withClusters = false` for
    * a cheap scan-only audit and add the clusters member separately
    * when the review asks for it.
    */
  def audit(docs: DataFrame, idCol: String = "doc_id",
            textCol: String = "text", langCol: String = "lang",
            sourceCol: String = "source", charsCol: String = "n_chars",
            nShards: Int = 64, dedupThreshold: Double = 0.5,
            withClusters: Boolean = true): Map[String, DataFrame] = {
    val tot = ops.TextStats.totalTokens(docs, textCol)
    val toks = docs.select(col(idCol),
      size(graft.Pipeline.words(col(textCol))).cast("long").as("n_tok"))
    val base = Map(
      "card" -> ops.TextStats.datasetCard(docs, textCol, langCol,
        sourceCol, charsCol),
      "length_histogram" -> ops.TextStats.lengthHistogram(docs, textCol),
      "shard_balance" -> ops.Sampling.shardBalance(toks, idCol, "n_tok",
        nShards),
      "source_divergence" -> ops.TextStats.sourceDivergence(docs,
        sourceCol, textCol, tot),
      "source_entropy" -> ops.TextStats.sourceEntropy(docs, sourceCol,
        textCol, tot),
      "frequency_spectrum" -> ops.TextStats.frequencySpectrum(docs, textCol),
      // bounded sketch member (q159 operator): per-source distinct-token
      // estimate via the mergeable bottom-64 KMV — the member a sharded
      // 100 TB audit computes per shard and rolls up without ever
      // shuffling the distinct values themselves
      "distinct_tokens" -> ops.Sketches.kmvEstimate(
        ops.Sketches.kmvSketch(
          docs.select(col(sourceCol),
            explode(graft.Pipeline.words(col(textCol))).as("_w")),
          Seq(sourceCol), "_w", k = 64),
        k = 64).select(col(sourceCol), col("est_distinct")))
    if (!withClusters) base
    else base + ("cluster_sizes" ->
      Dedup.clusterSizes(docs, idCol, textCol, dedupThreshold))
  }

  /** HOST-level audit bundle — the per-domain review frames a crawl
    * release publishes, each an oracle-checked operator:
    *   - `footprint` — [[ops.Web.hostStats]] doc/token volume (q152)
    *   - `dup`       — [[ops.Web.hostDupStats]] intra-host exact
    *                   duplication (q169)
    *   - `lang_mix`  — [[ops.Web.hostLangProfile]] language shares
    *                   (q170)
    * All lazy; hosts are high-cardinality keys, so every member is one
    * map-side-combined aggregate with one output row per host (or per
    * host × language). Feed `dup`/`footprint` into
    * [[ops.Web.hostCapSample]] thresholds or a blocklist draft.
    */
  def hostAudit(docs: DataFrame, urlCol: String = "url",
                textCol: String = "text",
                langCol: String = "lang",
                byRegistrable: Boolean = false): Map[String, DataFrame] =
    Map(
      "footprint" -> ops.Web.hostStats(docs, urlCol, textCol,
        byRegistrable = byRegistrable),
      "dup" -> ops.Web.hostDupStats(docs, urlCol, textCol),
      "lang_mix" -> ops.Web.hostLangProfile(docs, urlCol, langCol))

  /** Per-stage surviving counts for [[ingest]] — same observability
    * semantics as [[Report]] (counts can over-count under executor-loss
    * recomputation; the corpus itself is unaffected).
    */
  final case class IngestReport(
      input: Long,
      afterBlocklist: Long,
      afterUrlDedup: Long,
      afterExtraction: Long,
      afterEncodingQa: Long,
      afterModelGate: Long) {
    def json: String =
      s"""{"input":$input,"after_blocklist":$afterBlocklist,""" +
        s""""after_url_dedup":$afterUrlDedup,"after_extraction":$afterExtraction,""" +
        s""""after_encoding_qa":$afterEncodingQa,"after_model_gate":$afterModelGate}"""
  }

  /** CRAWL-SIDE ingest: raw fetches `(id, url, html, ...)` -> a
    * documents frame ready for [[clean]]/[[prepare]], the stages in
    * cheapest-first order (metadata before content, regex before
    * anything keyed):
    *
    *   1. domain blocklist   ([[ops.Web.blocklistFilter]] — broadcast
    *                          suffix semi-join, corpus never shuffles)
    *   2. canonical-URL dedup ([[ops.Web.urlDedup]] — one canonical-key
    *                          aggregate + an id semi-join)
    *   3. HTML extraction + link-density gate ([[ops.Web.htmlExtract]]
    *                          — per-row regex projection)
    *   4. encoding QA gate   ([[ops.TextStats.encodingClean]] — per-row
    *                          translate arithmetic)
    *   5. frozen model gate  ([[ops.TextStats.qualityLogitKeep]] —
    *                          per-row integer logit)
    *
    * Counts ride observe nodes; the single returned-frame action the
    * caller runs delivers all six ([[ingestReport]] forces one count).
    * Output carries the input columns (minus the raw HTML) plus
    * `text`, `n_chars`, `link_chars`, `link_density_ppm`.
    */
  def ingest(crawl: DataFrame, blocklist: DataFrame,
             idCol: String = "doc_id", urlCol: String = "url",
             htmlCol: String = "html",
             maxLinkDensityPpm: Long = 500000L,
             stopwords: Seq[String] = Seq("a", "the"),
             weights: ops.TextStats.LogitWeights = ops.TextStats.LogitWeights())
      : (DataFrame, () => IngestReport) = {
    val obs = Seq.fill(5)(org.apache.spark.sql.Observation())
    val src = crawl.observe(obs(0), count(lit(1)).as("n"))
    val unblocked = ops.Web.blocklistFilter(src, idCol, urlCol, blocklist)
      .observe(obs(1), count(lit(1)).as("n"))
    val unique = unblocked.join(
        ops.Web.urlDedup(unblocked, idCol, urlCol)
          .select(col("keep_id").as(idCol)),
        Seq(idCol), "left_semi")
      .observe(obs(2), count(lit(1)).as("n"))
    val extracted = ops.Web.htmlExtract(unique, idCol, htmlCol)
      .filter(col("link_density_ppm") <= maxLinkDensityPpm)
      .observe(obs(3), count(lit(1)).as("n"))
    val encoded = extracted.filter(ops.TextStats.encodingClean("text"))
      .observe(obs(4), count(lit(1)).as("n"))
    val gated = encoded.filter(
      ops.TextStats.qualityLogitKeep("text", stopwords, weights))
    val report = () => {
      val n = gated.count()
      IngestReport(metric(obs(0)), metric(obs(1)), metric(obs(2)),
        metric(obs(3)), metric(obs(4)), n)
    }
    (gated, report)
  }

  /** Delta + per-status counts for [[recrawl]]; `ingest` is the
    * downstream chain's own report over the pages that paid it.
    */
  final case class RecrawlReport(
      nNew: Long,
      nChanged: Long,
      nMoved: Long,
      nUnchanged: Long,
      ingest: IngestReport) {
    def json: String =
      s"""{"new":$nNew,"changed":$nChanged,"moved":$nMoved,""" +
        s""""unchanged":$nUnchanged,"ingest":${ingest.json}}"""
  }

  /** INCREMENTAL recrawl: classify arriving pages against the previous
    * snapshot on the canonical url key ([[ops.Web.snapshotDelta]] over
    * the RAW payload — byte-identical refetches are `unchanged`), then
    * run only the pages that owe work (`new` + `changed`; `moved`
    * too when `reuseMoved = false`) through the [[ingest]] chain. At a
    * monthly recrawl the unchanged majority skips blocklist/dedup/
    * extraction/QA/model entirely — the single biggest cost lever of a
    * standing 100 TB pipeline; unchanged and moved pages reuse last
    * snapshot's verdicts by key.
    *
    * Shape: the delta is one url-keyed join of digest frames (+ one
    * digest-keyed join for moves); the survivors semi-join back by id;
    * everything downstream is the audited ingest chain. The status
    * counts are one bounded 4-row aggregate.
    */
  def recrawl(pages: DataFrame, oldPages: DataFrame, blocklist: DataFrame,
              idCol: String = "doc_id", urlCol: String = "url",
              htmlCol: String = "html", reuseMoved: Boolean = true,
              maxLinkDensityPpm: Long = 500000L,
              scope: CacheScope = new CacheScope)
      : (DataFrame, () => RecrawlReport) = {
    val d = scope.persist(ops.Web.snapshotDelta(oldPages, pages, idCol,
      urlCol, htmlCol, detectMoves = true), Disk)
    val owing = if (reuseMoved) Seq("new", "changed")
                else Seq("new", "changed", "moved")
    val fresh = pages.join(
      d.filter(col("status").isin(owing.map(lit(_)): _*))
        .select(col(idCol)),
      Seq(idCol), "left_semi")
    val (gated, ingestReport) = ingest(fresh, blocklist, idCol, urlCol,
      htmlCol, maxLinkDensityPpm)
    val report = () => {
      val counts = d.groupBy("status").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      RecrawlReport(
        counts.getOrElse("new", 0L), counts.getOrElse("changed", 0L),
        counts.getOrElse("moved", 0L), counts.getOrElse("unchanged", 0L),
        ingestReport())
    }
    (gated, report)
  }

  /** Run the full chain. The upstream caches (sig, exact) are released
    * before returning — the counts materialized `near`'s cache, which
    * alone roots everything downstream — while `near` stays cached in
    * `scope` so the caller's materialization of the returned corpus
    * does NOT re-pay the dedup chain; release the scope when done. (A
    * blanket clearCache() would drop unrelated caches a caller holds.)
    */
  def clean(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      jaccardThreshold: Double = 0.8,
      minTokens: Int = 15,
      maxStopRatio: Double = 0.5,
      scope: CacheScope = new CacheScope): Cleaned = {
    val upstreamScope = new CacheScope
    val st = runClean(docs, idCol, textCol, jaccardThreshold, minTokens,
      maxStopRatio, -1, upstreamScope, upstreamScope, scope)
    val report = countReport(st)
    upstreamScope.release()
    Cleaned(st.annotated, report)
  }

  /** Per-stage counts for the FULL preparation chain.
    * `afterEmbeddingDecontamination` is present only when the optional
    * embedding gate ran (JSON `null` otherwise). Same metric semantics
    * as [[Report]]: observability counts that can over-count when an
    * executor loss forces recomputation — not exactly-once ledger
    * entries.
    */
  final case class PrepareReport(
      clean: Report,
      afterDecontamination: Long,
      afterExactDecontamination: Option[Long],
      afterEmbeddingDecontamination: Option[Long],
      afterSampling: Long) {
    def json: String =
      s"""{"clean":${clean.json},"after_decontamination":$afterDecontamination,""" +
        s""""after_exact_decontamination":${afterExactDecontamination.getOrElse("null")},""" +
        s""""after_embedding_decontamination":${afterEmbeddingDecontamination.getOrElse("null")},""" +
        s""""after_sampling":$afterSampling}"""
  }

  /** Result of [[prepare]]. Releasing the `scope` passed to
    * [[prepare]] ENDS the corpus' validity window: it drops the mixing
    * cache AND the packer's boundary-consistency cache, and
    * re-executing `corpus` after that can re-sample different range
    * boundaries — wrong `bin` values with no error, not just a slow
    * recompute. Materialize (write / collect) everything you need from
    * `corpus` BEFORE releasing; never run another action on it after.
    */
  final case class Prepared(corpus: DataFrame, report: PrepareReport)

  /** FULL training-data preparation: the [[clean]] chain (dedup +
    * quality + feature annotation, plus an optional 64-bit SimHash
    * near-identical pass), test-set decontamination in TOKEN space and
    * optionally in EMBEDDING space (paraphrased leakage has low token
    * overlap but high embedding similarity — the production gate runs
    * both, the stated rationale on [[Dedup.decontaminateByEmbedding]]),
    * stratified mixing, and token-budget sequence packing. The returned
    * corpus carries the feature columns plus `bin` — the training-batch
    * assignment — and each stage is the individually-oracle-verified
    * operator, so the composition inherits the scale shapes (no
    * cartesians, no driver collects, one shuffle per dedup/window
    * stage, scan-side sampling).
    *
    * The signature pass over the train side runs ONCE: the clean
    * chain's signature frame (over the exact-dedup survivors, a
    * superset of the cleaned corpus — valid per the
    * [[Dedup.shingleSignatures]] contract) is handed straight to the
    * decontamination blocking instead of being re-derived. The
    * embedding gate builds its RHP bucket frames the same way —
    * once per corpus, persisted across the stage, released before
    * returning.
    *
    * @param simhashMaxDist  >= 0 enables the near-IDENTICAL dedup stage
    *                        at that 64-bit hamming distance (3 = the
    *                        standard strictness); -1 (default) skips it
    * @param embeddings      optional (`idCol`, `vecCol`) frame for the
    *                        TRAIN corpus — with `testEmbeddings`,
    *                        enables the embedding decontamination stage
    * @param testEmbeddings  optional (`idCol`, `vecCol`) frame for the
    *                        eval corpus
    * @param splits          non-empty enables the LEAKAGE-SAFE split
    *                        stage: the output gains `split_group` (the
    *                        near-dup cluster label) and `split`
    *                        ([[Dedup.leakageSafeSplits]] keyed on that
    *                        label), so related documents never straddle
    *                        train/test. Ordered (name, permille), sums
    *                        to 1000.
    * @param splitPairThreshold Jaccard threshold for the split-grouping
    *                        pair frame — deliberately LOWER than
    *                        `jaccardThreshold` (dedup already removed
    *                        pairs above it; docs related below it still
    *                        leak across splits). Reuses the clean
    *                        chain's signature frame: no extra
    *                        shingle/minhash pass.
    */
  def prepare(
      docs: DataFrame,
      testCorpus: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      strataCol: String = "source",
      jaccardThreshold: Double = 0.8,
      decontThreshold: Double = 0.8,
      ratesPermille: Map[String, Int] = Map.empty,
      defaultPermille: Int = 1000,
      tokenBudget: Long = 2048L,
      minTokens: Int = 15,
      maxStopRatio: Double = 0.5,
      simhashMaxDist: Int = -1,
      embeddings: Option[DataFrame] = None,
      testEmbeddings: Option[DataFrame] = None,
      vecCol: String = "embedding",
      minCosine: Double = 0.9,
      splits: Seq[(String, Int)] = Nil,
      splitPairThreshold: Double = 0.5,
      exactNgramN: Int = 0,
      scope: CacheScope = new CacheScope): Prepared = {
    require(embeddings.isDefined == testEmbeddings.isDefined,
      "embedding decontamination needs BOTH embeddings and testEmbeddings")
    // sig + near outlive the clean counts (decontamination reuses
    // both): they and every post-clean cache live in `upstreamScope`,
    // released once the mixing count has materialized the corpus root
    val (countScope, upstreamScope) = (new CacheScope, new CacheScope)
    val st = runClean(docs, idCol, textCol, jaccardThreshold, minTokens,
      maxStopRatio, simhashMaxDist, countScope, upstreamScope, upstreamScope)
    val cleanReport = countReport(st)
    countScope.release()
    val testSig = upstreamScope.persist(
      Dedup.shingleSignatures(testCorpus, idCol, textCol), Disk)
    // safe is persisted so the decontamination join (the most expensive
    // stage) executes ONCE; its count (and the embedding gate's) rides
    // an observe node inside the cached plan, so the single mixing
    // count below materializes every post-clean cache and delivers all
    // three counts — one action for the whole post-clean chain
    val oSafe = org.apache.spark.sql.Observation()
    val oExact = org.apache.spark.sql.Observation()
    val oGated = org.apache.spark.sql.Observation()
    val lshSafe = upstreamScope.persist(Dedup.decontaminateSigned(st.annotated,
        st.sig, testSig, idCol, threshold = decontThreshold)
      .observe(oSafe, count(lit(1)).as("n")), Disk)
    // optional EXACT n-gram gate (q140 semantics): catches the one
    // verbatim quoted answer whose whole-doc Jaccard dilutes below
    // decontThreshold — the complement failure mode of the LSH gate.
    // Recall 1.0 at the n-gram definition, so ordering after the LSH
    // stage only shrinks its input, never its catch.
    val safe = if (exactNgramN <= 0) lshSafe else
      Dedup.decontaminateExact(lshSafe, testCorpus, idCol, textCol,
          exactNgramN)
        .observe(oExact, count(lit(1)).as("n"))
    // optional EMBEDDING-space gate: bucket frames built once per
    // corpus (AutoPlanes sizes them to the train side), released below
    val gated = embeddings.fold(safe) { emb =>
      val trainB = upstreamScope.persist(
        Dedup.embeddingBuckets(emb, idCol, vecCol), Disk)
      val testB = upstreamScope.persist(Dedup.embeddingBuckets(testEmbeddings.get,
        idCol, vecCol, planes = Dedup.planesOf(trainB)), Disk)
      upstreamScope.persist(Dedup.decontaminateByEmbeddingSigned(safe, trainB,
          testB, idCol, minCosine)
        .observe(oGated, count(lit(1)).as("n")), Disk)
    }
    // the corpus' own caches (mixed + packing's boundary cache) live in
    // the caller's scope
    val mixed = scope.persist(ops.Sampling.stratified(gated, idCol,
      strataCol, ratesPermille, defaultPermille), Disk)
    // n_subword_est comes from the feature-annotation stage — the same
    // token estimate the oracle-checked q69 packs on
    val packed = ops.Sampling.packSequences(mixed, idCol, strataCol,
      "n_subword_est", tokenBudget, scope = scope)
    // optional leakage-safe split stage: cluster labels over a pair
    // frame at the (lower) split threshold, derived from the clean
    // chain's signature frame — a superset of the final corpus, valid
    // per the [[Dedup.shingleSignatures]] contract (pairs whose ends
    // were deduped away never join a surviving id). clusters() inside
    // leakageSafeSplits materializes eagerly (checkpointed loop), so
    // the signature frame can still be released below.
    val corpus = if (splits.isEmpty) packed else {
      val pairs = Dedup.verifiedPairs(st.sig, idCol, splitPairThreshold)
      val assigned = Dedup.leakageSafeSplits(
          packed.select(col(idCol)), pairs, idCol, splits)
        .withColumnRenamed("cluster", "split_group")
      packed.join(assigned, Seq(idCol))
    }
    val afterSampling = mixed.count()
    val report = PrepareReport(cleanReport, metric(oSafe),
      if (exactNgramN > 0) Some(metric(oExact)) else None,
      embeddings.map(_ => metric(oGated)), afterSampling)
    // mixed's cache now roots the returned corpus; everything upstream
    // (sig — the largest frame in the job — near, testSig, safe, the
    // bucket frames) is dead weight and released HERE, mirroring
    // clean()'s discipline
    upstreamScope.release()
    Prepared(corpus, report)
  }
}

/** Runnable demo of the composed pipeline (mirror of `wilayah.Demo`):
  * `sbt "runMain graft.PipelineDemo [sfDir]"` — cleans the documents
  * corpus and prints one JSON report line.
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val spark: SparkSession = Sessions.fromEnv("graft-pipeline-demo")
    val sf = args.headOption.getOrElse("/root/testdata/sf0.001")
    val result = CorpusPipeline.clean(Tables.documents(spark, sf))
    val nFeatures = result.corpus.columns.length
    println(s"""{"corpus":"$sf","report":${result.report.json},"feature_columns":$nFeatures}""")
    spark.stop()
  }
}

/** Runnable crawl-side demo: synthesizes a crawl (URLs + linked HTML
  * pages over the documents corpus — the q152/q172 derivations), then
  * drives the full web-curation path end-to-end:
  * ingest (blocklist → URL dedup → extraction → encoding QA → model
  * gate) → host audit → outlink graph → PageRank → authority-weighted
  * thinning. `sbt "runMain graft.CrawlDemo [sfDir]"` — one JSON line.
  */
object CrawlDemo {
  def main(args: Array[String]): Unit = {
    import org.apache.spark.sql.functions._
    val spark: SparkSession = Sessions.fromEnv("graft-crawl-demo")
    val sf = args.headOption.getOrElse("/root/testdata/sf0.001")
    val crawl = Tables.documents(spark, sf)
      .withColumn("url", expr("""
        (CASE WHEN doc_id % 3 = 0 THEN 'http' ELSE 'https' END) || '://' ||
        source || '-' || CAST(doc_id % 7 AS STRING) || '.example.com' ||
        '/docs/' || CAST(doc_id AS STRING)"""))
      .withColumn("html", expr("""
        '<html><body><p>' || text || '</p><a href="https://' || source ||
        '-' || CAST((doc_id + 1) % 7 AS STRING) ||
        '.example.com/p">ring</a>' ||
        (CASE WHEN doc_id % 3 = 0
              THEN '<a href="https://hub.example.com/h">hub</a>'
              ELSE '' END) || '</body></html>'"""))
      .drop("text", "n_chars")
    import spark.implicits._
    val blocklist = Seq("src3-1.example.com").toDF("domain")
    val (docs, report) = CorpusPipeline.ingest(crawl, blocklist)
    val rep = report() // one action: all six observed counts
    val audit = CorpusPipeline.hostAudit(
      docs.withColumn("lang", lit("en")))
    val nHosts = audit("footprint").count()
    val ranks = ops.Graph.pageRank(
        ops.Web.outlinkHostEdges(crawl, "url", "html"), iters = 3)
      .select(col("node").as("host"), col("pr"))
    val kept = ops.Web.authorityWeightedSample(
      docs.select("doc_id", "url"), "doc_id", "url", ranks).count()
    println(s"""{"corpus":"$sf","ingest":${rep.json},""" +
      s""""hosts":$nHosts,"authority_kept":$kept}""")
    spark.stop()
  }
}
