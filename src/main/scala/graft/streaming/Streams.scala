package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import graft.CacheScope
import graft.wilayah.{Geo, Ingest, Model, Store}

/** Structured Streaming surface.
  *
  * The reference has no streaming (its "sync" is a blocking batch loop,
  * /root/reference/server.js:353-376, with a comment admitting a job
  * queue belongs there). These operators are the Spark-native upgrade a
  * continuously-fed corpus needs: incremental file ingest with the
  * batch engine's exact merge semantics, watermarked event-time
  * aggregation, streaming dedup, and custom keyed state.
  */
object Streams {

  private val Disk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

  // ===== incremental GeoJSON ingest (streaming /api/db/sync) =====

  /** Watch a directory for new GeoJSON files and merge each micro-batch
    * into the warehouse with the SAME last-writer-wins recipe as batch
    * sync (Store.merge) — foreachBatch reuses batch DataFrame code, so
    * stream and batch cannot diverge. `maxFilesPerTrigger` bounds
    * micro-batch size (at scale: predictable batch memory, steady
    * shuffle sizes).
    */
  def ingestStream(
      spark: SparkSession,
      watchDir: String,
      warehousePath: String,
      maxFilesPerTrigger: Int = 8,
      checkpointDir: Option[String] = None): StreamingQuery = {
    // the SAME un-nest + shaping transforms as batch sync — only the
    // source differs, so stream and batch merges cannot drift
    val rows = Ingest.warehouseRows(Ingest.unnest(
      spark.readStream
        .schema(Model.featureCollectionSchema)
        .option("multiLine", true)
        .option("maxFilesPerTrigger", maxFilesPerTrigger)
        .json(watchDir)))

    val writer = rows.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // persist: isEmpty, the merge's affected-levels collect, and
        // the parquet write would otherwise each re-run the JTS
        // simplify kernel (the expensive step) over the whole batch
        batch.persist()
        try {
          if (!batch.isEmpty)
            Store.mergeWritePartitions(batch.sparkSession, batch, warehousePath)
        } finally batch.unpersist()
      }
    // with a checkpoint the source offsets survive restarts: already-
    // ingested files are not re-read, and a replayed in-flight batch is
    // harmless because the merge is idempotent (last-writer-wins by key)
    checkpointDir.fold(writer)(d => writer.option("checkpointLocation", d)).start()
  }

  // ===== event-time analytics =====

  /** Watermarked tumbling-window counts per event type: the canonical
    * late-data-tolerant streaming aggregate. State is bounded by the
    * watermark (10 min past window end gets dropped), so it runs
    * indefinitely at any input rate.
    */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("total"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("n"), col("total"))

  /** Streaming exact dedup on a key with watermark-bounded state —
    * the streaming form of the exact-dedup batch operator (q24):
    * first occurrence wins, ANY later duplicate of the key within the
    * watermark horizon is dropped (regardless of its event time —
    * dropDuplicatesWithinWatermark keys state on the id alone, where
    * dropDuplicates(id, "ts") would only catch identical (id, ts)
    * pairs), and state older than the watermark is evicted.
    */
  def streamingDedup(docs: DataFrame, idCol: String): DataFrame =
    docs
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark(idCol)

  /** Streaming PII audit: redact on arrival (stateless — the batch
    * [[graft.ops.Redact]] columns are pure scan-side expressions, so
    * stream and batch redaction share one implementation and cannot
    * drift) and carry the per-kind occurrence counts for the windowed
    * audit aggregate. Every other column (id, source, ...) passes
    * through untouched, so downstream audits can slice by any of them.
    * Expects a `ts` column plus `textCol`.
    */
  def redactedStream(docs: DataFrame, textCol: String): DataFrame =
    docs
      // counts come from the ORIGINAL text, so they are computed
      // before the redaction overwrites the column
      .withColumn("n_emails", graft.ops.Redact.emailCount(col(textCol)))
      .withColumn("n_phones", graft.ops.Redact.phoneCount(col(textCol)))
      .withColumn("n_ips", graft.ops.Redact.ipv4Count(col(textCol)))
      .withColumn(textCol, graft.ops.Redact.pii(col(textCol)))

  /** Watermarked tumbling-window PII rates over [[redactedStream]]'s
    * output, optionally sliced by pass-through dimensions — e.g.
    * `groupCols = Seq("source")` answers "which source started leaking
    * emails this hour". State bounded by the watermark like every
    * windowed aggregate here.
    */
  def piiAuditWindows(redacted: DataFrame,
                      groupCols: Seq[String] = Nil): DataFrame =
    redacted
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour") +: groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_docs"),
        sum("n_emails").as("n_emails"),
        sum("n_phones").as("n_phones"),
        sum("n_ips").as("n_ips"),
        sum(when(col("n_emails") + col("n_phones") + col("n_ips") > 0, 1L)
          .otherwise(0L)).as("n_docs_with_pii"))
      .select(col("window.start").as("window_start") +: groupCols.map(col) :+
        col("n_docs") :+ col("n_emails") :+ col("n_phones") :+
        col("n_ips") :+ col("n_docs_with_pii"): _*)

  /** Streaming CONTENT dedup: the canonical token-set fingerprint as
    * the dedup key, so reordered/duplicated text dedups on arrival
    * even when the copies carry different timestamps — the streaming
    * form of the fingerprint-dedup batch operator (q25).
    * Expects columns (ts, `textCol`).
    */
  def streamingFingerprintDedup(docs: DataFrame, textCol: String): DataFrame =
    docs
      .withColumn("fp", graft.Pipeline.canonicalFingerprint(
        graft.Pipeline.words(col(textCol))))
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("fp")

  /** Stream-stream join: purchases joined to same-user clicks in the
    * preceding 5 minutes — the streaming form of the batch range join
    * (q42). Watermarks on BOTH sides bound the join state: a click
    * older than watermark - 5min can never match a future purchase and
    * is evicted. Columns: purchases(p_ts, user_id, p_id),
    * clicks(c_ts, c_user, c_id).
    */
  def purchaseClickJoin(purchases: DataFrame, clicks: DataFrame): DataFrame =
    purchases.withWatermark("p_ts", "10 minutes")
      .join(clicks.withWatermark("c_ts", "10 minutes"),
        expr("""
          user_id = c_user AND
          c_ts >= p_ts - INTERVAL 5 MINUTES AND
          c_ts < p_ts"""))
      .select(col("p_id"), col("user_id"), col("c_id"), col("p_ts"), col("c_ts"))

  // ===== streaming near-dup (LSH) =====

  /** A streaming near-dup candidate: an arriving doc `b_id` collided
    * with prior doc `a_id` in LSH band `band` (a_id < b_id by id).
    */
  case class LshCandidate(a_id: Long, b_id: Long, band: Int, ts: Timestamp)
  case class BucketState(ids: List[Long], lastMs: Long)

  /** Streaming MinHash-LSH near-dup candidate generation — the
    * streaming form of the batch `Pipeline.lshCandidatePairs` (q26).
    *
    * Each arriving doc's signature is computed scan-side by the same
    * native kernels as the batch path (shingles -> md5 hashes -> k
    * affine permutations), exploded into its `bands` bucket rows, and
    * matched against the bucket's keyed state: every prior member
    * within the watermark horizon yields a candidate pair on arrival.
    *
    * State is bounded on two axes, exactly like the batch plan scales:
    * per bucket at most `maxBucket` member ids (the hot-bucket cap —
    * a degenerate bucket stops absorbing members instead of going
    * quadratic), and buckets idle past the watermark horizon are
    * evicted via event-time timeout. A pair that collides in several
    * bands is emitted once per band (the batch path's `distinct`
    * needs a second stateful operator here; chain
    * `.dropDuplicatesWithinWatermark("a_id", "b_id")` downstream when
    * exact-once pairs matter).
    *
    * Input columns: (`idCol`: long, ts: timestamp, `textCol`: string).
    */
  def streamingLshCandidates(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.5,
      k: Int = graft.Pipeline.AutoBanding,
      bands: Int = graft.Pipeline.AutoBanding,
      horizonMinutes: Int = 10,
      maxBucket: Int = 16): Dataset[LshCandidate] = {
    import docs.sparkSession.implicits._
    // banding is threshold-derived like the batch operators: the
    // monitor's blocking recall must hold at its operating threshold
    val (kR, bandsR) = graft.Pipeline.resolveBanding(threshold, k, bands)
    val horizonMs = horizonMinutes * 60_000L
    val w = graft.Pipeline.words(col(textCol))
    val sig = graft.Pipeline.minhashSignature(graft.Pipeline.wordShingles(w, 3), kR)
    val banded = docs
      .withWatermark("ts", s"$horizonMinutes minutes")
      .filter(org.apache.spark.sql.functions.size(w) >= 3)
      .select(col(idCol).as("id"), col("ts"),
        explode(graft.Pipeline.lshBands(sig, bandsR, kR / bandsR)).as("bb"))
      .select(col("id"), col("ts"), col("bb.band").as("band"), col("bb.bh").as("bh"))
      .as[(Long, Timestamp, Int, String)]
    KeyedState.evicting(banded.groupByKey { case (_, _, band, bh) => (band, bh) })(
        Ordering.by { case (id, ts, _, _) => (ts.getTime, id) },
        (st: BucketState) => st.lastMs + horizonMs) { (_, prior, arrivals) =>
      val out = Seq.newBuilder[LshCandidate]
      val next = arrivals.foldLeft(prior.getOrElse(BucketState(Nil, 0L))) {
        case (st, (id, ts, band, _)) =>
          st.ids.foreach { p =>
            if (p != id) out += LshCandidate(math.min(p, id), math.max(p, id), band, ts)
          }
          // hot-bucket cap: a full bucket emits pairs against its
          // members but stops absorbing new ones — hard bound on
          // state AND on per-arrival pair fan-out
          val lastMs = math.max(st.lastMs, ts.getTime)
          if (st.ids.length < maxBucket && !st.ids.contains(id)) BucketState(id :: st.ids, lastMs)
          else st.copy(lastMs = lastMs)
      }
      (Some(next), out.result().iterator)
    }
  }

  /** Streaming contamination monitor: flag arriving docs that LSH-match
    * a STATIC evaluation corpus — the streaming companion of
    * `Dedup.decontaminate`, and the stream-STATIC join form (the static
    * side is planned per micro-batch; Spark broadcasts it when small).
    *
    * Emits each contaminated arrival once (watermark-keyed dedup over
    * the band hits). This is the CANDIDATE-level filter — a strict
    * superset of the exact-Jaccard-verified contamination set, which is
    * the conservative direction a decontamination gate wants; route the
    * emissions to quarantine or run the exact verify on them in batch.
    *
    * Input columns: (`idCol`, ts, `textCol`).
    *
    * Returns the streaming hits. The static test-corpus buckets are
    * cached in `scope`: release it once the monitor's query stops
    * (restarting with a refreshed test corpus would otherwise
    * accumulate stale cache entries for the session lifetime). The
    * other static-side monitors below follow the same rule.
    */
  def streamingContaminationHits(
      docs: DataFrame,
      test: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.5,
      k: Int = graft.Pipeline.AutoBanding,
      bands: Int = graft.Pipeline.AutoBanding,
      horizonMinutes: Int = 10,
      scope: CacheScope = new CacheScope): DataFrame = {
    import org.apache.spark.sql.functions.size
    // threshold-derived banding: this is a LEAKAGE gate, so its
    // candidate recall must hold at the threshold the downstream exact
    // verify runs at (fixed k=16/b=4 missed a J=0.7 arrival ~26% of
    // the time — the round-7 lesson)
    val (kR, bandsR) = graft.Pipeline.resolveBanding(threshold, k, bands)
    def sig(c: org.apache.spark.sql.Column) =
      graft.Pipeline.minhashSignature(
        graft.Pipeline.wordShingles(graft.Pipeline.words(c), 3), kR)
    // persisted: the static side is re-planned EVERY micro-batch —
    // uncached, a long-running monitor would re-hash the entire test
    // corpus per trigger for an input that never changes
    val testBuckets = scope.persist(test
      .filter(size(graft.Pipeline.words(col(textCol))) >= 3)
      .select(explode(graft.Pipeline.lshBands(sig(col(textCol)), bandsR, kR / bandsR))
        .as("bb"))
      .select(col("bb.band").as("band"), col("bb.bh").as("bh"))
      .distinct(), Disk)
    docs
      .withWatermark("ts", s"$horizonMinutes minutes")
      .filter(size(graft.Pipeline.words(col(textCol))) >= 3)
      .withColumn("bb", explode(graft.Pipeline.lshBands(sig(col(textCol)), bandsR, kR / bandsR)))
      .withColumn("band", col("bb.band")).withColumn("bh", col("bb.bh"))
      .join(testBuckets, Seq("band", "bh"), "left_semi")
      .drop("bb", "band", "bh")
      .dropDuplicatesWithinWatermark(idCol)
  }

  /** Streaming EXACT n-gram contamination gate: flag arriving docs
    * sharing any verbatim word n-gram with a STATIC eval corpus — the
    * streaming companion of `Dedup.exactNgramOverlap` (q140). Unlike
    * [[streamingContaminationHits]] the emission is fully VERIFIED,
    * not candidate-level: exact n-gram membership has no banding
    * lottery, so every emission really shares an n-gram and every
    * sharing arrival is emitted (recall 1.0 at the n-gram definition
    * — what a leakage tripwire must guarantee).
    *
    * Shape: the eval corpus's distinct 60-bit gram hashes are derived
    * once and persisted (the static side re-plans every micro-batch);
    * each arrival explodes to its gram hashes, left-semi joins the
    * eval set, and emits once per doc within the watermark horizon.
    * Input columns: (`idCol`, ts, `textCol`).
    */
  def streamingExactContaminationHits(
      docs: DataFrame,
      eval: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5,
      horizonMinutes: Int = 10,
      scope: CacheScope = new CacheScope): DataFrame = {
    import org.apache.spark.sql.functions.size
    require(n >= 2, s"n-gram order must be >= 2, got $n")
    def grams(c: org.apache.spark.sql.Column) =
      graft.Pipeline.wordShingles(graft.Pipeline.words(c), n)
    val evalGrams = scope.persist(eval
      .filter(size(graft.Pipeline.words(col(textCol))) >= n)
      .select(explode(grams(col(textCol))).as("_raw"))
      .select(graft.Pipeline.wordHash60(col("_raw")).as("_g"))
      .distinct(), Disk)
    docs
      .withWatermark("ts", s"$horizonMinutes minutes")
      .filter(size(graft.Pipeline.words(col(textCol))) >= n)
      .withColumn("_raw", explode(grams(col(textCol))))
      .withColumn("_g", graft.Pipeline.wordHash60(col("_raw")))
      .join(evalGrams, Seq("_g"), "left_semi")
      .drop("_raw", "_g")
      .dropDuplicatesWithinWatermark(idCol)
  }

  /** Streaming VERIFIED near-dup pairs: arriving docs vs a STATIC
    * reference corpus, every emission exact-Jaccard-CONFIRMED at
    * `threshold` — the verified closure of [[streamingLshCandidates]],
    * which emits band-collision CANDIDATES only. Same stream-static
    * shape as [[streamingContaminationHits]], but the static band
    * buckets carry each member's 60-bit-hashed shingle set as the
    * verify payload ([[graft.Dedup.verifiedPairsHashed]]'s
    * dictionary-encoded verify, 8 bytes/shingle), so the exact
    * hashed-set Jaccard runs INLINE on the collided pairs — no
    * downstream batch verify step.
    *
    * BATCH/STREAM PARITY: replaying the corpus itself as the arrival
    * stream confirms exactly the batch `verifiedPairsHashed` pair set
    * with bit-identical `jaccard_ppm` (`inter*1e6 div union`) —
    * StreamsSpec proves set equality. Output: (a_id, b_id,
    * jaccard_ppm, ts) with a_id < b_id, each pair emitted once within
    * the watermark horizon. Input columns: (`idCol`, ts, `textCol`).
    *
    * Scale shape: static side derived once and persisted (re-planned
    * every micro-batch otherwise); per arrival, `bands` bucket lookups
    * against an equi-join key and exact verifies only on collisions —
    * the batch plan's blocking economics, incrementalized.
    */
  def streamingVerifiedNearDupPairs(
      docs: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.5,
      k: Int = graft.Pipeline.AutoBanding,
      bands: Int = graft.Pipeline.AutoBanding,
      horizonMinutes: Int = 10,
      scope: CacheScope = new CacheScope): DataFrame = {
    import org.apache.spark.sql.functions.size
    val (kR, bR) = graft.Pipeline.resolveBanding(threshold, k, bands)
    // FLOOR like the batch gate: admits a hair below a non-ppm-exact
    // threshold rather than dropping exactly-at-threshold pairs
    val tPpm = math.floor(threshold * 1000000).toInt
    val staticBuckets = scope.persist(
      graft.Dedup.shingleSignatures(corpus, idCol, textCol, 3, kR)
      .select(col(idCol).as("_cid"),
        transform(col("shingles"), graft.Pipeline.wordHash60(_)).as("_hb"),
        explode(graft.Pipeline.lshBands(col("sig"), bR, kR / bR)).as("bb"))
      .select(col("_cid"), col("_hb"),
        col("bb.band").as("band"), col("bb.bh").as("bh")), Disk)
    val w = graft.Pipeline.words(col(textCol))
    val shingles = graft.Pipeline.wordShingles(w, 3)
    val sig = graft.Pipeline.minhashSignature(shingles, kR)
    val inter = size(array_intersect(col("_ha"), col("_hb")))
    val union = size(col("_ha")) + size(col("_hb")) - inter
    docs
      .withWatermark("ts", s"$horizonMinutes minutes")
      .filter(size(w) >= 3)
      .select(col(idCol).as("_sid"), col("ts"),
        transform(shingles, graft.Pipeline.wordHash60(_)).as("_ha"),
        explode(graft.Pipeline.lshBands(sig, bR, kR / bR)).as("bb"))
      .select(col("_sid"), col("ts"), col("_ha"),
        col("bb.band").as("band"), col("bb.bh").as("bh"))
      .join(staticBuckets, Seq("band", "bh"))
      // an arrival that IS a corpus member collides with itself in
      // every band at jaccard 1.0 — a self-pair, not a near-dup
      .filter(col("_sid") =!= col("_cid"))
      .withColumn("_i", inter.cast("long"))
      .withColumn("_u", union.cast("long"))
      .filter(col("_i") * 1000000L >= col("_u") * tPpm)
      .select(least(col("_sid"), col("_cid")).as("a_id"),
        greatest(col("_sid"), col("_cid")).as("b_id"),
        expr("(1000000 * _i) div _u").as("jaccard_ppm"),
        col("ts"))
      .dropDuplicatesWithinWatermark("a_id", "b_id")
  }

  /** EMBEDDING-space streaming contamination monitor: flag arriving
    * vectors whose cosine vs ANY static test vector reaches
    * `minCosine` — the streaming companion of
    * `Dedup.decontaminateByEmbedding` (q65), and unlike the text
    * monitor the hits are fully VERIFIED (the cosine check is a
    * per-pair scalar, so the exact filter runs inline rather than as a
    * downstream batch step).
    *
    * Multi-probe blocking with the probe EXPANSION on the static side:
    * the arriving vector computes ONE bucket; the (tiny, cached) test
    * side fans out to its hamming-1 probe buckets, which is equivalent
    * pair coverage. Each contaminated arrival is emitted once
    * (watermark-keyed dedup). Input columns: (`idCol`, ts, `vecCol`).
    */
  def streamingEmbeddingContaminationHits(
      docs: DataFrame,
      test: DataFrame,
      idCol: String,
      vecCol: String,
      minCosine: Double = 0.9,
      dims: Int = 64,
      planes: Int = 4,
      horizonMinutes: Int = 10,
      scope: CacheScope = new CacheScope): DataFrame = {
    import graft.plans.VectorExpressions.cosineSim
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    val bucketed = test
      .select(transform(col(vecCol), _.cast("double")).as("_tv"))
      .withColumn("_tb", graft.Pipeline.rhpBucket(col("_tv"), dims, planes))
    // a test vector with a NULL bucket (short/null elements) can never
    // be matched against — warn ONCE at build time (the static side is
    // tiny and about to be materialized into the cache anyway) instead
    // of silently narrowing the gate
    val nullTest = bucketed.filter(col("_tb").isNull).count()
    if (nullTest > 0) log.warn(
      s"$nullTest test vector(s) have a NULL RHP bucket (shorter than dims=$dims " +
        "or null elements) and are EXCLUDED from the streaming contamination " +
        "gate — repair them or contamination near them goes undetected")
    val testBuckets = scope.persist(bucketed
      .filter(col("_tb").isNotNull)
      .select(col("_tv"),
        explode(graft.Pipeline.rhpProbeBuckets(col("_tb"), planes)).as("_pb"))
      // duplicate test vectors (common after eval-set unions) would
      // re-verify an identical cosine per duplicate per arrival
      .distinct(), Disk)
    // NULL-bucket ARRIVALS never join and pass unflagged: counted per
    // micro-batch via observe — streaming observed metrics surface in
    // StreamingQueryProgress.observedMetrics (StreamingQueryListener),
    // not the batch QueryExecutionListener
    docs
      .withWatermark("ts", s"$horizonMinutes minutes")
      .withColumn("_v", transform(col(vecCol), _.cast("double")))
      .withColumn("_b", graft.Pipeline.rhpBucket(col("_v"), dims, planes))
      .observe(graft.Pipeline.metricName("graft_rhp_null_stream"),
        coalesce(sum(when(col("_b").isNull, 1L).otherwise(0L)), lit(0L))
          .as("null_buckets"))
      .join(testBuckets, col("_b") === col("_pb"))
      .filter(cosineSim(col("_v"), col("_tv")) >= minCosine)
      .drop("_v", "_b", "_tv", "_pb")
      .dropDuplicatesWithinWatermark(idCol)
  }

  /** Streaming CANARY tripwire: flag arriving docs containing any
    * sentinel string — the streaming form of `ops.Search.canaryHits`
    * (q115), emitting one row per (doc, canary) hit with the canary
    * attached (an eval-integrity incident record, not just a count).
    * Re-arrivals within the watermark horizon are not re-flagged.
    *
    * The canary set is a LITERAL array filtered per row scan-side
    * (canary lists are hand-curated and tiny): no join, no state
    * beyond the dedup's watermark-bounded keys, whole-stage codegen
    * throughout. Input columns: (`idCol`, ts, `textCol`).
    */
  def streamingCanaryHits(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      canaries: Seq[String],
      horizonMinutes: Int = 10): DataFrame = {
    require(canaries.nonEmpty, "streamingCanaryHits needs at least one canary")
    require(canaries.distinct.size == canaries.size,
      s"duplicate canaries in $canaries")
    val cArr = array(canaries.map(lit(_)): _*)
    docs
      .withWatermark("ts", s"$horizonMinutes minutes")
      .withColumn("canary",
        explode(filter(cArr, c => col(textCol).contains(c))))
      .dropDuplicatesWithinWatermark(idCol, "canary")
  }

  /** Streaming incremental-ingest gate — the streaming form of the
    * batch [[graft.ops.Diff.dedupAgainst]] (q116): arriving documents
    * are dropped when their content digest already exists in the
    * static warehouse (stream-static LEFT ANTI join — stateless, the
    * static side is broadcast/re-read per micro-batch), then deduped
    * against the STREAM itself on the same digest within the watermark
    * horizon. The append-only corpus-growth gate, applied on arrival
    * instead of in a nightly batch; both halves key on the identical
    * md5 digest, so batch and stream gates cannot drift.
    * Expects columns (ts, `textCol`).
    */
  def streamingIngestGate(docs: DataFrame, warehouse: DataFrame,
                          textCol: String,
                          horizonMinutes: Int = 10): DataFrame = {
    val seen = warehouse.select(md5(col(textCol)).as("_seen_h")).distinct()
    docs
      .withColumn("_h", md5(col(textCol)))
      .join(seen, col("_h") === col("_seen_h"), "left_anti")
      .withWatermark("ts", s"$horizonMinutes minutes")
      .dropDuplicatesWithinWatermark("_h")
      .drop("_h")
  }

  /** Streaming form of [[graft.CorpusPipeline.ingest]] — the crawl
    * hygiene chain applied ON ARRIVAL, same stages, stream-legal
    * shapes:
    *   - domain blocklist: the batch operator's suffix semi-join would
    *     anti-join the stream against a stream-derived id set (an
    *     unsupported stream-stream anti join), so the list — static
    *     and small by nature — is applied as the equivalent SCAN-SIDE
    *     suffix-overlap predicate;
    *   - canonical-URL dedup: watermarked
    *     `dropDuplicatesWithinWatermark` on [[graft.ops.Web
    *     .canonicalUrl]] (first arrival wins — the streaming analogue
    *     of the batch lowest-id rule);
    *   - HTML extraction + link-density, encoding QA, frozen model
    *     gate: pure per-row predicates, shared VERBATIM with the batch
    *     facade — batch and stream gates cannot drift.
    * Expects columns (ts, `urlCol`, `htmlCol`, ...).
    */
  def streamingCrawlGate(crawl: DataFrame, blocked: Seq[String],
                         idCol: String = "doc_id", urlCol: String = "url",
                         htmlCol: String = "html",
                         maxLinkDensityPpm: Long = 500000L,
                         horizonMinutes: Int = 10): DataFrame = {
    import graft.ops.{TextStats, Web}
    require(blocked.nonEmpty, "empty blocklist: drop the stage instead")
    val notBlocked = !arrays_overlap(
      Web.hostSuffixes(col(urlCol)), array(blocked.map(lit(_)): _*))
    val deduped = crawl
      .filter(notBlocked)
      .withColumn("_canon", Web.canonicalUrl(col(urlCol)))
      .withWatermark("ts", s"$horizonMinutes minutes")
      .dropDuplicatesWithinWatermark("_canon")
      .drop("_canon")
    Web.htmlExtract(deduped, idCol, htmlCol)
      .filter(col("link_density_ppm") <= maxLinkDensityPpm)
      .filter(TextStats.encodingClean("text"))
      .filter(TextStats.qualityLogitKeep("text"))
  }

  /** Streaming SNAPSHOT-DELTA gate: classify arriving recrawl pages
    * against the PREVIOUS snapshot's digest frame
    * ([[graft.ops.Web.snapshotDigests]], shared VERBATIM with the
    * batch operator — the two classifications cannot drift) as
    * new / changed / unchanged ON ARRIVAL, so only new+changed pages
    * flow into the expensive downstream while the unchanged majority
    * is dropped (or routed to verdict reuse) per micro-batch.
    *
    * A stream-STATIC left join: the old-snapshot frame is bounded (one
    * 16-byte digest per canonical URL) and joins without streaming
    * state — no watermark needed, restart-safe by construction.
    * `keepUnchanged = false` (the default) filters the unchanged rows
    * out; `true` keeps them with their status for audit sinks.
    */
  def streamingSnapshotDelta(pages: DataFrame, oldSnapshot: DataFrame,
                             idCol: String = "doc_id",
                             urlCol: String = "url",
                             textCol: String = "text",
                             keepUnchanged: Boolean = false): DataFrame = {
    val classified = pages
      .withColumn("url_key", graft.ops.Web.canonicalUrl(col(urlCol)))
      .withColumn("_dig", md5(col(textCol).cast("binary")))
      .join(graft.ops.Web.snapshotDigests(oldSnapshot, urlCol, textCol),
        Seq("url_key"), "left")
      .withColumn("status",
        when(col("_old_dig").isNull, lit("new"))
          .when(col("_old_dig") === col("_dig"), lit("unchanged"))
          .otherwise(lit("changed")))
      .drop("_dig", "_old_dig")
    if (keepUnchanged) classified
    else classified.filter(col("status") =!= "unchanged")
  }

  /** Streaming PROMPT-level dedup for SFT transcript streams: an
    * arriving conversation drops when its first-turn body digest
    * ([[graft.ops.Dialog.promptDigest]], shared verbatim with the
    * batch operator) was already seen within the watermark horizon —
    * first arrival wins, the streaming analogue of the batch
    * lowest-id rule. Composes with [[graft.ops.Dialog.turnStats]]'
    * `well_formed` predicate (a pure scan-side column) for a full
    * on-arrival SFT gate. Expects columns (ts, `convCol`, ...).
    */
  def streamingPromptDedup(convs: DataFrame, convCol: String = "conv",
                           horizonMinutes: Int = 10): DataFrame =
    convs
      .withColumn("_pd", graft.ops.Dialog.promptDigest(col(convCol)))
      .withWatermark("ts", s"$horizonMinutes minutes")
      .dropDuplicatesWithinWatermark("_pd")
      .drop("_pd")

  /** One maximal duplicated span of an arriving doc (the batch
    * [[graft.ops.SpanDedup.duplicatedSpans]] row shape + event time).
    */
  case class SpanHit(id: Long, span_start: Long, span_end: Long,
                     span_tokens: Long, ts: Timestamp)

  /** Streaming SPAN-level dedup: for each arriving doc, emit the
    * maximal token spans that occur at least `minOcc` times in a
    * STATIC warehouse corpus — the streaming twin of
    * [[graft.ops.SpanDedup.duplicatedSpans]] (q264/q266), completing
    * the dedup-modality twin set (exact, LSH, prompt, contamination
    * all have one). The window-hash anchor fan-out is
    * [[graft.ops.SpanDedup.windowAnchors]], shared VERBATIM with the
    * batch kernel, so the two paths cannot drift; occurrences are
    * counted over the warehouse once (persisted — the static side
    * re-plans every micro-batch), each arrival's anchors left-semi
    * join the qualifying window set, and the per-doc gaps-and-islands
    * merge runs in keyed state with the batch rule verbatim (a window
    * at pos joins the running span iff pos <= previous end).
    *
    * BATCH/STREAM PARITY: replaying the warehouse itself as the
    * arrival stream yields exactly the batch operator's span set —
    * an arriving member's own windows are part of the warehouse
    * count, so the occurrence numbers are identical (StreamsSpec
    * proves set equality). A doc id is reported once within the
    * watermark horizon (re-deliveries are suppressed by keyed state,
    * evicted by event-time timeout).
    *
    * Input columns: (`idCol`: long, ts, `textCol`); output
    * [[SpanHit]] rows; the warehouse window index is cached in `scope`.
    */
  def streamingSpanDedup(docs: DataFrame, warehouse: DataFrame,
                         idCol: String, textCol: String, l: Int,
                         minOcc: Long = 2L,
                         maxOcc: Long = Long.MaxValue,
                         horizonMinutes: Int = 10,
                         scope: CacheScope = new CacheScope): DataFrame = {
    import docs.sparkSession.implicits._
    require(l >= 2, s"window length must be >= 2, got $l")
    require(minOcc >= 2, s"minOcc must be >= 2, got $minOcc")
    val occ = scope.persist(
      graft.ops.SpanDedup.windowAnchors(warehouse, idCol, textCol, l)
      .groupBy("_h").agg(count(lit(1)).as("_occ"))
      .filter(col("_occ") >= minOcc && col("_occ") <= maxOcc)
      .select("_h"), Disk)
    val horizonMs = horizonMinutes * 60_000L
    val anchors = graft.ops.SpanDedup.windowAnchors(
        docs.withWatermark("ts", s"$horizonMinutes minutes"),
        idCol, textCol, l, keep = Seq("ts"))
      .join(occ, Seq("_h"), "left_semi")
      .select(col("_id").as("id"), col("pos"), col("ts"))
      .as[(Long, Int, Timestamp)]
    // the state is the doc's first report time: a re-delivery within
    // the horizon emits nothing (the dropDuplicatesWithinWatermark
    // discipline, in-state because the span merge needs the group
    // anyway), and the doc is evicted one horizon after its report
    KeyedState.evicting(anchors.groupByKey(_._1))(
        Ordering.by(_._2), (reportedMs: Long) => reportedMs + horizonMs) {
      case (_, Some(reportedMs), _) => (Some(reportedMs), Iterator.empty)
      case (id, None, rows) =>
        val ts = rows.map(_._3).maxBy(_.getTime)
        // gaps-and-islands, the batch rule verbatim: sorted positions,
        // a window extends the running span iff pos <= previous end
        // (= last pos + l, since pos + l is monotone over sorted pos)
        val out = Seq.newBuilder[SpanHit]
        var start = -1
        var end = -1
        rows.map(_._2).distinct.foreach { p =>
          if (start < 0) { start = p; end = p + l }
          else if (p <= end) end = p + l
          else {
            out += SpanHit(id, start.toLong, end.toLong, (end - start).toLong, ts)
            start = p; end = p + l
          }
        }
        if (start >= 0)
          out += SpanHit(id, start.toLong, end.toLong, (end - start).toLong, ts)
        (Some(ts.getTime), out.result().iterator)
    }.toDF()
  }

  /** A streaming banded audio near-dup candidate: window `a_frame_idx`
    * of clip `a_id` verified within Hamming distance `maxDist` of
    * window `b_frame_idx` of clip `b_id` (a_id < b_id), having met in
    * chunk `c`. A pair agreeing on several chunks emits once per
    * chunk — chain `.dropDuplicatesWithinWatermark` (or the batch
    * distinct-then-vote) downstream when exact-once pairs matter.
    */
  case class AudioBandCandidate(a_id: Long, b_id: Long, a_frame_idx: Int,
                                b_frame_idx: Int, c: Int, ts: Timestamp)
  case class AudioBucketMember(id: Long, frame_idx: Int, lo: Long, hi: Long)
  case class AudioBucketState(members: List[AudioBucketMember], lastMs: Long)

  /** Streaming banded AUDIO near-dup candidates — the streaming twin
    * of the q305 batch chain ([[graft.Multimodal.audioFrameEnergies]]
    * -> [[graft.Multimodal.audioContourSignatures]] ->
    * [[graft.Multimodal.frameBandNearDup]]), completing the modality
    * symmetry (text has exact/LSH/span/prompt twins; audio now pairs
    * its batch near-dup too). Kernels are shared VERBATIM so the two
    * paths cannot drift: each arriving clip decodes per-row (a clip
    * IS one row, so the batch path's per-doc groupBy needs no
    * streaming aggregate), its 65-frame gain-invariant contour
    * windows come from [[graft.Multimodal.contourWindowSignatures]],
    * and the bucket keys from [[graft.Multimodal.sigChunks]] — the
    * same 4x16-bit pigeonhole banding (distance <= 3 implies at least
    * one agreeing chunk).
    *
    * Matching is the [[streamingLshCandidates]] bucket-state pattern:
    * per `(c, chunk)` bucket, an arriving window verifies the EXACT
    * popcount distance against each prior member (the batch verify,
    * JVM-side) and emits a candidate per close pair on arrival. State
    * is bounded per bucket at `maxBucket` members (a hot chunk — the
    * silence key — stops absorbing instead of going quadratic; the
    * batch path's `maxChunkDf` cap is the same df discipline) and
    * evicted past the watermark horizon by event-time timeout.
    *
    * BATCH/STREAM PARITY: with neither cap binding, the distinct
    * `(a_id, b_id, a_frame_idx, b_frame_idx)` set over any replay
    * order equals the batch matches before the vote, so the batch
    * vote applied to the stream output reproduces
    * [[graft.Multimodal.frameBandNearDup]] exactly (StreamsSpec
    * proves it on the q305 plant corpus).
    *
    * Input columns: (`idCol`: long, ts: timestamp, content: binary).
    */
  def streamingAudioBandCandidates(
      clips: DataFrame,
      idCol: String,
      maxDist: Int,
      nFrames: Int = 128,
      stride: Int = 8,
      horizonMinutes: Int = 10,
      maxBucket: Int = 16,
      decoder: graft.Multimodal.AudioDecoder = graft.Multimodal.StubAudioDecoder)
      : Dataset[AudioBandCandidate] = {
    import clips.sparkSession.implicits._
    require(maxDist >= 0 && maxDist <= 3,
      s"4-chunk pigeonhole banding covers distance <= 3, got $maxDist")
    val horizonMs = horizonMinutes * 60_000L
    val withEs = clips
      .select(col(idCol).as("doc_id"), col("ts"), col("content"))
      .as[(Long, Timestamp, Array[Byte])]
      .map { case (id, ts, bytes) =>
        (id, ts, decoder.frameEnergies(bytes, nFrames))
      }
      .toDF("doc_id", "ts", "_es")
      .withWatermark("ts", s"$horizonMinutes minutes")
    val cells = graft.Multimodal.sigChunks(
        graft.Multimodal.contourWindowSignatures(withEs, stride))
      .select(col("doc_id"), col("ts"), col("frame_idx"),
        col("sig_lo"), col("sig_hi"), col("c"), col("chunk"))
      .as[(Long, Timestamp, Int, Long, Long, Int, Long)]
    KeyedState.evicting(cells.groupByKey { case (_, _, _, _, _, c, chunk) => (c, chunk) })(
        Ordering.by { case (id, ts, fi, _, _, _, _) => (ts.getTime, id, fi) },
        (st: AudioBucketState) => st.lastMs + horizonMs) { (_, prior, arrivals) =>
      val out = Seq.newBuilder[AudioBandCandidate]
      val next = arrivals.foldLeft(prior.getOrElse(AudioBucketState(Nil, 0L))) {
        case (st, (id, ts, fi, lo, hi, c, _)) =>
          st.members.foreach { m =>
            // the batch verify, JVM-side: exact 64-bit popcount
            if (m.id != id &&
                java.lang.Long.bitCount(m.lo ^ lo) +
                  java.lang.Long.bitCount(m.hi ^ hi) <= maxDist) {
              if (id < m.id) out += AudioBandCandidate(id, m.id, fi, m.frame_idx, c, ts)
              else out += AudioBandCandidate(m.id, id, m.frame_idx, fi, c, ts)
            }
          }
          val me = AudioBucketMember(id, fi, lo, hi)
          val lastMs = math.max(st.lastMs, ts.getTime)
          if (st.members.length < maxBucket && !st.members.contains(me))
            AudioBucketState(me :: st.members, lastMs)
          else st.copy(lastMs = lastMs)
      }
      (Some(next), out.result().iterator)
    }
  }

  case class BloomWord(group: String, word_idx: Long, bits: Long)

  /** Streaming Bloom-sketch maintenance: the per-group membership
    * bitmap ([[graft.ops.Sketches.bloomSketch]]) kept up to date ON
    * ARRIVAL — each micro-batch ORs its values' bit positions
    * ([[graft.ops.Sketches.bloomPositions]], shared VERBATIM with the
    * batch recipe, so stream and batch sketches cannot drift) into
    * per-(group, word) state and emits the word's new bitmap whenever
    * it changes. "Latest emission per (group, word)" IS the batch
    * sketch of everything seen — StreamsSpec proves bit equality.
    *
    * State is bounded by groups × ceil(bits/63) longs — the sketch
    * itself — so no timeout/eviction is needed (that boundedness is
    * exactly why sketches are the streaming-native summary; contrast
    * the dedup monitors, whose per-key state must watermark-evict).
    * Input columns: (`groupCol`, `valueCol`).
    */
  def streamingBloomSketch(values: DataFrame, groupCol: String,
                           valueCol: String, bits: Int = 1024,
                           khash: Int = 3): Dataset[BloomWord] = {
    import values.sparkSession.implicits._
    val words = values
      .select(col(groupCol).cast("string").as("g"),
        explode(graft.ops.Sketches.bloomPositions(valueCol, bits, khash))
          .as("_pos"))
      .select(col("g"), expr("_pos div 63").as("w"),
        expr("shiftleft(1L, cast(_pos % 63 as int))").as("m"))
      .as[(String, Long, Long)]
    registers(words)({ case (g, w, _) => (g, w) }, _._3, _ | _) {
      case ((g, w), bits) => BloomWord(g, w, bits) }
  }

  /** The one-`Long`-per-cell maintainer behind the Bloom, count-min,
    * histogram, HLL and AMS twins: a cell's register starts at 0,
    * `combine` folds each of the batch's `value`s into it, and the cell
    * emits `row` of its new value whenever that changes. Each sketch's
    * registers only absorb arrivals, so "latest emission per cell" IS
    * the batch sketch of everything seen.
    */
  private def registers[T, K: Encoder, U: Encoder](cells: Dataset[T])(
      cell: T => K, value: T => Long, combine: (Long, Long) => Long)(
      row: (K, Long) => U): Dataset[U] = {
    import cells.sparkSession.implicits._
    KeyedState.maintain(cells.groupByKey(cell), 0L) { (k, prior, rows) =>
      val next = rows.foldLeft(prior)((r, t) => combine(r, value(t)))
      (next, Iterator.single(row(k, next)))
    }
  }

  case class KmvGroupSketch(group: String, kmv: Seq[Long])

  /** Streaming KMV maintenance: the per-group k-minimum-values
    * distinct-count sketch ([[graft.ops.Sketches.kmvSketch]]) kept up
    * to date ON ARRIVAL — each micro-batch re-mins the union of the
    * held bottom-k with the batch's 60-bit value hashes
    * ([[graft.Pipeline.wordHash60]] via the same recipe as the batch
    * sketch, so stream and batch sketches cannot drift) and emits the
    * group's new ascending `kmv` array whenever it changes (a value
    * hashing above the current k-th minimum — the overwhelmingly
    * common arrival once the sketch fills — changes nothing and emits
    * nothing). "Latest emission per group" IS the batch sketch of
    * everything seen; pass it to [[graft.ops.Sketches.kmvEstimate]]
    * or merge it with batch shards via [[graft.ops.Sketches
    * .kmvMerge]].
    *
    * State is bounded by groups × k longs — the sketch itself — so no
    * timeout/eviction is needed (the same boundedness argument as the
    * Bloom maintainer). Input columns: (`groupCol`, `valueCol`).
    */
  def streamingKmvSketch(values: DataFrame, groupCol: String,
                         valueCol: String, k: Int = 64)
      : Dataset[KmvGroupSketch] = {
    require(k >= 2, s"KMV needs k >= 2, got $k")
    import values.sparkSession.implicits._
    val hashes = values
      .select(col(groupCol).cast("string").as("g"),
        graft.Pipeline.wordHash60(col(valueCol).cast("string")).as("h"))
      .as[(String, Long)]
    KeyedState.maintain(hashes.groupByKey(_._1), Seq.empty[Long]) { (group, prior, rows) =>
      val next = (prior ++ rows.map(_._2)).distinct.sorted.take(k)
      (next, Iterator.single(KmvGroupSketch(group, next)))
    }
  }

  case class CmsCell(group: String, d: Long, pos: Long, n: Long)

  /** Streaming count-min maintenance: the per-group frequency sketch
    * ([[graft.ops.Sketches.cmsSketch]]) kept up to date ON ARRIVAL —
    * each micro-batch SUMs its values' counter increments
    * ([[graft.ops.Sketches.cmsPositions]], shared VERBATIM with the
    * batch recipe) into per-(group, d, pos) state and emits the
    * counter's new value whenever it grows. "Latest emission per
    * (group, d, pos)" IS the batch sketch of everything seen (counters
    * only grow, so latest = max); probe it with [[graft.ops.Sketches
    * .cmsEstimate]] or SUM-merge it with batch shards via
    * [[graft.ops.Sketches.cmsMerge]].
    *
    * State is bounded by groups × depth × width longs — the sketch
    * itself — so no timeout/eviction is needed. Input columns:
    * (`groupCol`, `valueCol`).
    */
  def streamingCmsSketch(values: DataFrame, groupCol: String,
                         valueCol: String, depth: Int = 4,
                         width: Int = 256): Dataset[CmsCell] = {
    require(depth >= 1 && width >= 2, s"bad cms shape: $depth x $width")
    import values.sparkSession.implicits._
    val positions = values
      .select(col(groupCol).cast("string").as("g"),
        col(valueCol).cast("string").as("_v"))
      .select(col("g"),
        explode(graft.ops.Sketches.cmsPositions("_v", depth, width))
          .as("_c"))
      .select(col("g"), col("_c.d").as("d"), col("_c.pos").as("pos"))
      .as[(String, Long, Long)]
    registers(positions)(identity, _ => 1L, _ + _) {
      case ((g, d, pos), n) => CmsCell(g, d, pos, n) }
  }

  case class MgGroupSketch(group: String, values: Seq[String],
                           n_lbs: Seq[Long])

  /** Streaming Misra-Gries maintenance: the per-group heavy-hitters
    * summary ([[graft.ops.Sketches.mgSketch]]) kept up to date ON
    * ARRIVAL — each micro-batch counts its values, SUMS them into the
    * held counters, and re-compresses with the batch rule verbatim
    * (order by `n, hash60(value)` descending, subtract the (k+1)-th
    * count, keep positive; [[graft.Pipeline.wordHash60Jvm]] is the
    * JVM mirror of the column recipe, so stream and batch tie-breaks
    * cannot drift). Emits the group's whole new summary whenever it
    * changes; "latest emission per group" IS the current summary —
    * the [[streamingKmvSketch]] whole-array emission contract.
    *
    * Semantics: the result equals the left-fold of [[graft.ops
    * .Sketches.mgMerge]] over the micro-batch sequence (each batch
    * entering as its exact count table — the sequential Misra-Gries
    * algorithm), NOT the one-shot batch compress of the union: MG
    * summaries are order-dependent, and the fold is the honest
    * streaming semantics. The guarantee still telescopes — deficiency
    * grows by at most batchN/(k+1) per batch, so `n_lb <= true <=
    * n_lb + totalN/(k+1)` holds over everything seen. State is
    * bounded by groups × k (value, count) pairs — the sketch itself —
    * so no timeout/eviction is needed. Input columns: (`groupCol`,
    * `valueCol`).
    */
  def streamingMgSketch(values: DataFrame, groupCol: String,
                        valueCol: String, k: Int = 16)
      : Dataset[MgGroupSketch] = {
    require(k >= 1, s"Misra-Gries needs k >= 1, got $k")
    import values.sparkSession.implicits._
    val keyed = values
      .select(col(groupCol).cast("string").as("g"),
        col(valueCol).cast("string").as("v"))
      .as[(String, String)]
    KeyedState.maintain(keyed.groupByKey(_._1), Seq.empty[(String, Long)]) {
      (group, prior, rows) =>
        val next = misraGries(prior, rows.map(_._2), k)
        (next, Iterator.single(MgGroupSketch(group, next.map(_._1), next.map(_._2))))
    }
  }

  /** One Misra-Gries step, the batch compress of [[graft.ops.Sketches
    * .mgSketch]] verbatim: add `values`' counts to the held `(value, n)`
    * counters, order by `(n, hash60(value))` descending, subtract the
    * (k+1)-th count and keep the top k whose count stays positive.
    */
  private def misraGries(held: Seq[(String, Long)], values: Iterator[String],
                         k: Int): Seq[(String, Long)] = {
    val merged = scala.collection.mutable.HashMap.empty[String, Long] ++= held
    values.foreach(v => merged.update(v, merged.getOrElse(v, 0L) + 1L))
    val ordered = merged.toSeq.sortBy { case (v, n) =>
      (-n, -graft.Pipeline.wordHash60Jvm(v))
    }
    val csub = if (ordered.size <= k) 0L else ordered(k)._2
    ordered.take(k).map { case (v, n) => (v, n - csub) }.filter(_._2 > 0L)
  }

  case class HistCell(group: String, bucket: Long, n: Long)

  /** Streaming log-bucket histogram maintenance: the per-group
    * quantile summary ([[graft.ops.Sketches.histSketch]]) kept up to
    * date ON ARRIVAL — each micro-batch buckets its values by the
    * integer-pure bit-length recipe ([[graft.ops.Sketches
    * .histBucket]], shared VERBATIM with the batch sketch) and SUMS
    * them into per-(group, bucket) counters, emitting a counter's new
    * value whenever it grows. Counters only grow, so "latest emission
    * per (group, bucket)" IS the batch histogram of everything seen —
    * feed it to [[graft.ops.Sketches.histQuantiles]] for a live
    * p50/p99, or SUM-merge with batch shards via [[graft.ops.Sketches
    * .histMerge]]. State is bounded by groups × 64 longs. Input
    * columns: (`groupCol`, `valueCol` non-negative long).
    */
  def streamingHistSketch(values: DataFrame, groupCol: String,
                          valueCol: String): Dataset[HistCell] = {
    import values.sparkSession.implicits._
    val buckets = values
      .select(col(groupCol).cast("string").as("g"),
        graft.ops.Sketches.histBucket(valueCol).as("b"))
      .as[(String, Long)]
    registers(buckets)(identity, _ => 1L, _ + _) {
      case ((g, b), n) => HistCell(g, b, n) }
  }

  /** Streaming CCNet-style quality gate: arriving docs scored against
    * the STATIC reference bigram model
    * ([[graft.ops.TextStats.referenceModel]] — the exact frames the
    * batch [[graft.ops.TextStats.referenceSurprisal]] builds, so
    * stream and batch scores cannot drift) and gated on a FIXED
    * mean-millibits threshold — the production pattern: thresholds
    * come from a batch banding calibration (q222), the stream applies
    * them on arrival. Per-pair charges ride three stream-static
    * broadcast probes (bigram/unigram/total — the one-row total joins
    * on a constant key: stream-static CROSS isn't in Spark's support
    * matrix, a constant-key equi join is); the per-doc fold is a
    * watermarked tumbling-window aggregate, state bounded by the
    * horizon. Docs with < 2 tokens carry no pairs and get no verdict
    * (route them by length rules upstream). Expects columns
    * (ts, `idCol`, `textCol`).
    */
  def streamingSurprisalGate(docs: DataFrame, ref: DataFrame,
                             maxMeanMillibits: Long,
                             idCol: String = "doc_id",
                             textCol: String = "text",
                             windowMinutes: Int = 5,
                             horizonMinutes: Int = 10,
                             backoffBits: Int = 4,
                             oovBits: Int = 8): DataFrame = {
    import graft.ops.TextStats
    val (bt, ut, tot) = TextStats.referenceModel(ref, textCol)
    TextStats.refPairs(
        docs.withWatermark("ts", s"$horizonMinutes minutes"),
        Seq(col("ts"), col(idCol)), textCol)
      .withColumn("_k", lit(1))
      .join(broadcast(bt), Seq("bg"), "left")
      .join(broadcast(ut.withColumnRenamed("t", "r")), Seq("r"), "left")
      .join(broadcast(tot.withColumn("_k", lit(1))), Seq("_k"))
      .groupBy(window(col("ts"), s"$windowMinutes minutes"), col(idCol))
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        sum(TextStats.pairBits(backoffBits, oovBits)).cast("long")
          .as("bits"))
      .withColumn("mean_millibits", expr("(1000 * bits) div n_pairs"))
      .withColumn("keep", col("mean_millibits") <= maxMeanMillibits)
      .select(col("window.start").as("window_start"), col(idCol),
        col("n_pairs"), col("bits"), col("mean_millibits"), col("keep"))
  }

  case class HistDrift(group: String, n_seen: Long, tv_ppm: Long)

  /** Streaming distribution-drift alarm: per group, the live
    * total-variation distance (integer ppm, [[graft.ops.Sketches
    * .histDistance]]'s exact formula) between the arriving values'
    * log-bucket histogram and a BASELINE sketch — "alert when today's
    * length distribution moves off last snapshot's" computed on
    * arrival, re-emitted whenever a bucket counter changes.
    *
    * The baseline is a histogram-sketch frame ((groupCol, bucket, n) —
    * the q209/q224 shape) and is COLLECTED to the driver: it is a
    * bounded summary by construction (<= 64 rows per monitored group,
    * and the monitored dimension — source, domain class, pipeline
    * stage — is bounded by design; the require makes the contract
    * loud). Groups with no baseline row are scored against nothing and
    * emit tv_ppm = -1 (distinct from genuine 0 drift) so a NEW source
    * appearing mid-stream is visible, not silently dropped. Per-group
    * state: <= 64 counters.
    */
  def streamingHistDrift(values: DataFrame, groupCol: String,
                         valueCol: String, baseline: DataFrame,
                         maxBaselineRows: Int = 100000)
      : Dataset[HistDrift] = {
    import values.sparkSession.implicits._
    val base = baseline
      .select(col(groupCol).cast("string"), col("bucket"), col("n"))
      .collect()
    require(base.length <= maxBaselineRows,
      s"baseline has ${base.length} rows (> $maxBaselineRows): not a " +
        "bounded summary — sketch it per group first")
    val baseByGroup: Map[String, Map[Long, Long]] = base
      .groupBy(_.getString(0))
      .map { case (g, rows) =>
        g -> rows.map(r => r.getLong(1) -> r.getLong(2)).toMap }
    val bucketed = values
      .select(col(groupCol).cast("string").as("g"),
        graft.ops.Sketches.histBucket(valueCol).as("b"))
      .as[(String, Long)]
    KeyedState.maintain(bucketed.groupByKey(_._1), Map.empty[Long, Long]) { (g, prior, rows) =>
      val cur = rows.foldLeft(prior) { case (acc, (_, b)) =>
        acc.updated(b, acc.getOrElse(b, 0L) + 1L) }
      val nSeen = cur.values.sum
      val tv = baseByGroup.get(g) match {
        case None => -1L
        case Some(bl) =>
          val tb = bl.values.sum
          val buckets = (cur.keySet ++ bl.keySet).toSeq
          buckets.map { b =>
            math.abs(cur.getOrElse(b, 0L) * 1000000L / nSeen -
              bl.getOrElse(b, 0L) * 1000000L / tb)
          }.sum / 2
      }
      (cur, Iterator.single(HistDrift(g, nSeen, tv)))
    }
  }

  case class PriSample(group: String, ids: Seq[Long], pris: Seq[Long])

  /** Streaming uniform fixed-count sample: [[graft.ops.Sampling
    * .prioritySample]] (k md5-priority winners per stratum — a uniform
    * k-sample, since the hash is uniform on ids) maintained ON
    * ARRIVAL: the priority column is computed scan-side with the
    * batch recipe VERBATIM, and per-group state keeps the k smallest
    * (pri, id) pairs — the classic bounded-state reservoir shape, but
    * deterministic: after any prefix of the stream the sample equals
    * the batch sample of everything seen (spec-enforced), regardless
    * of arrival order, restarts, or replays. Emits the whole sample on
    * change; latest emission per group is current. State: k pairs per
    * group. The "live uniform audit sample per source" a monitoring
    * job wants without re-scanning the corpus.
    */
  def streamingPrioritySample(docs: DataFrame, idCol: String,
                              strataCol: String, k: Int)
      : Dataset[PriSample] = {
    require(k > 0, s"k must be positive, got $k")
    import docs.sparkSession.implicits._
    val slot = pmod(graft.Pipeline.wordHash32(col(idCol).cast("string")),
      lit(1000000L))
    val prioritised = docs.select(col(strataCol).cast("string").as("g"),
        col(idCol).cast("long").as("id"),
        (slot * lit(1099511627776L) + pmod(col(idCol), lit(1099511627776L)))
          .as("pri"))
      .as[(String, Long, Long)]
    // state: the k smallest (pri, id) pairs, ascending
    KeyedState.maintain(prioritised.groupByKey(_._1), Seq.empty[(Long, Long)]) {
      (g, prior, rows) =>
        val next = (prior ++ rows.map { case (_, id, pri) => (pri, id) }).distinct.sorted.take(k)
        (next, Iterator.single(PriSample(g, next.map(_._2), next.map(_._1))))
    }
  }

  case class HllCell(group: String, bucket: Long, r: Long)

  /** Streaming HyperLogLog maintenance: the per-group register table
    * ([[graft.ops.Sketches.hllSketch]]) kept up to date ON ARRIVAL —
    * each micro-batch projects (bucket, rho) by the shared scan-side
    * recipe ([[graft.ops.Sketches.hllCells]], verbatim the batch
    * sketch's) and MAXES it into per-(group, bucket) registers,
    * emitting a register's new value whenever it grows. Registers only
    * grow, so "latest emission per (group, bucket)" IS the batch
    * register table of everything seen — feed it to [[graft.ops
    * .Sketches.hllEstimate]] for a live distinct count, or max-merge
    * with batch shards via [[graft.ops.Sketches.hllMerge]]. State is
    * bounded by groups x 2^p 6-bit ranks (stored as longs) — the
    * cheapest maintainer in the family (max beats the histogram's
    * sums: a saturated register never re-emits). Input columns:
    * (`groupCol`, `valueCol`).
    */
  def streamingHllSketch(values: DataFrame, groupCol: String,
                         valueCol: String, p: Int = 6): Dataset[HllCell] = {
    import values.sparkSession.implicits._
    val cells = graft.ops.Sketches
      .hllCells(values, Seq(col(groupCol).cast("string").as("g")),
        valueCol, p)
      .select(col("g"), col("bucket"), col("_rho"))
      .as[(String, Long, Long)]
    registers(cells)({ case (g, b, _) => (g, b) }, _._3, math.max) {
      case ((g, b), r) => HllCell(g, b, r) }
  }

  case class AmsCell(group: String, c: Long, s: Long)

  /** Streaming AMS F2 maintenance: the per-group tug-of-war counters
    * ([[graft.ops.Sketches.amsF2Sketch]]) kept up to date ON ARRIVAL —
    * each micro-batch projects (counter, sign) by the shared
    * scan-side recipe ([[graft.ops.Sketches.amsCells]], verbatim the
    * batch sketch's) and ADDS it into per-(group, counter) state,
    * emitting a counter's new value whenever it changes. Counters
    * ADD, so "latest emission per (group, counter)" IS the batch
    * sketch of everything seen — feed it to
    * [[graft.ops.Sketches.amsF2Estimate]] for a live self-join-size /
    * skew estimate, or add-merge with batch shards via
    * [[graft.ops.Sketches.amsF2Merge]]. State is bounded by
    * groups x `counters` longs. A micro-batch whose signs cancel to
    * zero leaves the counter (and the emission stream) untouched —
    * absent state IS the zero counter. Input columns:
    * (`groupCol`, `valueCol`).
    */
  def streamingAmsF2Sketch(values: DataFrame, groupCol: String,
                           valueCol: String, counters: Int = 60)
      : Dataset[AmsCell] = {
    import values.sparkSession.implicits._
    val cells = graft.ops.Sketches
      .amsCells(values, Seq(col(groupCol).cast("string").as("g")),
        valueCol, counters)
      .select(col("g"), col("_c").cast("long"), col("_sign"))
      .as[(String, Long, Long)]
    registers(cells)({ case (g, c, _) => (g, c) }, _._3, _ + _) {
      case ((g, c), sum) => AmsCell(g, c, sum) }
  }

  case class CusumReport(key: String, n_events: Long,
                         max_excursion_milli: Long, at_event_id: Long,
                         flagged: Boolean)
  case class CusumState(p: Long, minp: Long, maxE: Long, atTs: Long,
                        atId: Long, n: Long)

  /** Streaming CUSUM changepoint screen — [[graft.ops.Events
    * .cusumChangepoint]]'s per-key drift tripwire kept up to date ON
    * ARRIVAL: per key, the running prefix sum `P`, its running min
    * (floored at the empty prefix 0), and the max excursion with its
    * FIRST attaining (ts, id) — exactly the batch operator's
    * numbers, emitted whenever the key's report changes. The state
    * is five longs per key.
    *
    * Ordering contract: within a micro-batch rows sort by (ts, id)
    * before folding, but ACROSS batches the fold assumes per-key
    * event-time monotone arrival — a straggler older than the
    * already-folded prefix would need the full history to replay
    * (the same documented limit as [[streamingScd2]]; route late
    * data through the batch operator). Input columns:
    * (`keyCol`, `tsCol`, `idCol`, `valueMilliCol`).
    */
  def streamingCusum(events: DataFrame, keyCol: String, tsCol: String,
                     idCol: String, valueMilliCol: String,
                     refMilli: Long, slackMilli: Long,
                     thresholdMilli: Long): Dataset[CusumReport] = {
    import events.sparkSession.implicits._
    val steps = events
      .select(col(keyCol).cast("string").as("k"),
        col(tsCol).cast("long").as("ts"), col(idCol).cast("long").as("id"),
        (col(valueMilliCol).cast("long") - lit(refMilli) -
          lit(slackMilli)).as("d"))
      .as[(String, Long, Long, Long)]
    KeyedState.maintain(steps.groupByKey(_._1), CusumState(0L, 0L, -1L, 0L, 0L, 0L)) {
      (key, prior, rows) =>
        val next = rows.toSeq.sortBy { case (_, ts, id, _) => (ts, id) }
          .foldLeft(prior) { case (s, (_, ts, id, d)) =>
            val p = s.p + d
            val minp = math.min(s.minp, p)
            val e = p - math.min(0L, minp)
            if (e > s.maxE) CusumState(p, minp, e, ts, id, s.n + 1)
            else s.copy(p = p, minp = minp, n = s.n + 1)
          }
        (next, Iterator.single(CusumReport(key, next.n, math.max(next.maxE, 0L),
          next.atId, next.maxE > thresholdMilli)))
    }
  }

  case class UrlFarmReport(url_pattern: String, n_urls: Long,
                           n_bodies: Long, alias_ppm: Long,
                           saturated: Boolean)
  case class UrlFarmState(nUrls: Long, digs: Seq[String],
                          saturated: Boolean)

  /** Streaming URL alias-farm monitor — [[graft.ops.Web
    * .urlPatternStats]] (the batch q206 advisory) kept up to date ON
    * ARRIVAL: per digit-collapsed URL pattern, the arrival count and
    * the count of DISTINCT bodies seen, with
    * `alias_ppm = (n_urls - n_bodies) / n_urls` in integer ppm — a
    * pattern minting many URLs over few bodies is a session-id /
    * tracking-decoration alias farm, and a stream catches it WHILE the
    * crawler is still wasting fetches on it.
    *
    * State per pattern is BOUNDED at `maxBodies` digests (+ one
    * counter): an alias farm by definition has FEW distinct bodies, so
    * the interesting patterns never saturate; a healthy pattern that
    * reaches `maxBodies` distinct bodies stops tracking digests
    * exactly — it reports `saturated = true` with `n_bodies` as a
    * LOWER bound (so `alias_ppm` an upper bound), which can only
    * over-flag, never hide a farm. Below saturation the report equals
    * the batch operator on everything seen (spec-enforced). Emits on
    * change; latest emission per pattern is current. Input columns:
    * (`urlCol`, `textCol`).
    */
  def streamingUrlAliasFarms(docs: DataFrame, urlCol: String,
                             textCol: String,
                             maxBodies: Int = 64): Dataset[UrlFarmReport] = {
    require(maxBodies >= 1, s"maxBodies must be >= 1, got $maxBodies")
    import docs.sparkSession.implicits._
    val bodies = docs
      .select(graft.ops.Web.urlPatternKey(col(urlCol)).as("p"),
        md5(col(textCol).cast("binary")).as("d"))
      .as[(String, String)]
    KeyedState.maintain(bodies.groupByKey(_._1), UrlFarmState(0L, Seq.empty, saturated = false)) {
      (pattern, prior, rows) =>
        var n = prior.nUrls
        val digs = scala.collection.mutable.LinkedHashSet.empty[String]
        digs ++= prior.digs
        var saturated = prior.saturated
        rows.foreach { case (_, d) =>
          n += 1L
          if (!saturated && !digs.contains(d)) {
            if (digs.size < maxBodies) digs += d
            else saturated = true
          }
        }
        val nBodies = digs.size.toLong
        (UrlFarmState(n, digs.toSeq, saturated),
          Iterator.single(UrlFarmReport(pattern, n, nBodies,
            1000000L * (n - nBodies) / n, saturated)))
    }
  }

  case class HotKeyAdvice(group: String, value: String, n_lb: Long,
                          share_ppm: Long, rec_salts: Long, total: Long)
  case class HotKeyState(values: Seq[String], counts: Seq[Long],
                         total: Long)

  /** Streaming hot-key monitor — [[graft.ops.Skew.hotKeyReport]] (the
    * batch q207 advisory) maintained live: per group, a Misra-Gries
    * summary of the key distribution PLUS the exact arrival total,
    * re-emitting the full advice set (key, count lower bound, integer
    * share, recommended salt count) whenever a micro-batch changes it.
    * Feed the latest advice to [[graft.ops.Skew.advisedCountSum]] /
    * AQE skew thresholds without a batch pass over the corpus: a key
    * going viral mid-crawl shows up here batches later, not at the
    * next nightly report.
    *
    * State is bounded by k entries + one counter per group. Counts are
    * MG LOWER bounds (within total/(k+1) of truth — size k at 8x the
    * advisory's topK and the error is under an eighth of a fair
    * share); exact when the group's distinct keys fit in k, where the
    * advice equals the batch report row for row (spec-enforced).
    * `rec_salts = ceil(share_lb * parallelism)` inherits the bound:
    * it can only under-advise by the MG error, never over. Input
    * columns: (`groupCol`, `keyCol`).
    */
  def streamingHotKeys(values: DataFrame, groupCol: String,
                       keyCol: String, k: Int = 160,
                       parallelism: Int = 200): Dataset[HotKeyAdvice] = {
    require(k >= 1 && parallelism >= 1,
      s"k and parallelism must be >= 1, got $k / $parallelism")
    import values.sparkSession.implicits._
    val keyed = values
      .select(col(groupCol).cast("string").as("g"),
        col(keyCol).cast("string").as("v"))
      .as[(String, String)]
    KeyedState.maintain(keyed.groupByKey(_._1), HotKeyState(Seq.empty, Seq.empty, 0L)) {
      (group, prior, rows) =>
        val vs = rows.map(_._2).toSeq
        val total = prior.total + vs.size
        val kept = misraGries(prior.values.zip(prior.counts), vs.iterator, k)
        (HotKeyState(kept.map(_._1), kept.map(_._2), total),
          kept.iterator.map { case (v, n) =>
            HotKeyAdvice(group, v, n, 1000000L * n / total,
              math.max(1L, (n * parallelism + total - 1L) / total), total)
          })
    }
  }

  case class HostAdmit(doc_id: Long, host: String, seq: Long, ts: Timestamp)
  case class HostCapState(n: Long, lastMs: Long)

  /** Streaming per-host admission cap: the FIRST `cap` docs to arrive
    * per host pass, later ones drop — the streaming analogue of
    * [[graft.ops.Web.hostCapSample]]. Batch sampling keys on the md5
    * slot because it knows each host's final volume; a stream cannot,
    * so it keys on ARRIVAL ORDER — the honest streaming semantics,
    * deterministic given event times (arrivals sort (ts, id) within
    * each micro-batch, so replays admit the same docs).
    *
    * State is ONE counter per host, evicted by event-time timeout one
    * horizon past the host's last arrival — at crawl scale state
    * tracks only ACTIVE hosts, and the cap is per activity window (a
    * host silent for a horizon restarts its allowance; whole-corpus
    * caps are the batch operator's job). Emits (doc_id, host, seq, ts)
    * with `seq` the 1-based arrival index among the host's admissions.
    *
    * Input columns: (`idCol`, ts, `urlCol`).
    */
  def streamingHostCapGate(docs: DataFrame, cap: Long,
                           idCol: String = "doc_id", urlCol: String = "url",
                           horizonMinutes: Int = 10,
                           byRegistrable: Boolean = false): Dataset[HostAdmit] = {
    require(cap >= 1, s"cap must be >= 1, got $cap")
    import docs.sparkSession.implicits._
    val horizonMs = horizonMinutes * 60_000L
    // byRegistrable mirrors the batch operator: admission buckets on
    // the OWNERSHIP boundary, so a crawl spraying subdomains of one
    // registrant cannot multiply its allowance
    val key = if (byRegistrable) graft.ops.Web.registrableDomain(col(urlCol))
              else graft.ops.Web.host(col(urlCol))
    val arrivals = docs
      .withWatermark("ts", s"$horizonMinutes minutes")
      .select(col(idCol).as("id"), col("ts"), key.as("host"))
      .as[(Long, Timestamp, String)]
    KeyedState.evicting(arrivals.groupByKey { case (_, _, host) => host })(
        Ordering.by { case (id, ts, _) => (ts.getTime, id) },
        (st: HostCapState) => st.lastMs + horizonMs) { (host, prior, rows) =>
      val out = Seq.newBuilder[HostAdmit]
      val next = rows.foldLeft(prior.getOrElse(HostCapState(0L, 0L))) {
        case (st, (id, ts, _)) =>
          if (st.n < cap) out += HostAdmit(id, host, st.n + 1, ts)
          HostCapState(st.n + 1, math.max(st.lastMs, ts.getTime))
      }
      (Some(next), out.result().iterator)
    }
  }

  // ===== custom keyed state =====

  case class KeyedEvent(user_id: Long, ts: Timestamp, value: Double)
  case class UserState(user_id: Long, n_events: Long, total: Double, last_ts: Timestamp)

  case class Session(user_id: Long, start: Timestamp, end: Timestamp, n_events: Long)
  case class SessionState(start: Long, end: Long, n: Long)

  /** Sessionization via [[KeyedState.evicting]]: events within
    * `gapMinutes` of each other extend a session; a larger gap (or the
    * watermark passing the gap horizon) closes and EMITS the session.
    * Emit-on-close needs zero or many outputs per key per batch, and
    * the event-time timeout bounds state exactly like the watermark
    * bounds a windowed aggregate.
    */
  def userSessions(events: Dataset[KeyedEvent], gapMinutes: Int = 5): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60_000L
    def session(userId: Long, s: SessionState) =
      Session(userId, new Timestamp(s.start), new Timestamp(s.end), s.n)
    KeyedState.evicting(events.withWatermark("ts", s"$gapMinutes minutes").groupByKey(_.user_id))(
        Ordering.by(_.ts.getTime), (s: SessionState) => s.end + gapMs)(
      { (userId, prior, evs) =>
        val closed = List.newBuilder[Session]
        val cur = evs.foldLeft(prior) { (cur, e) =>
          val t = e.ts.getTime
          cur match {
            case Some(s) if t - s.end <= gapMs =>
              // min the start too: a late cross-batch event above
              // the watermark can precede the stored session start,
              // and the emitted session must cover every counted
              // event (the batch sessionizer q54 would)
              Some(SessionState(math.min(s.start, t), math.max(s.end, t), s.n + 1))
            case Some(s) =>
              closed += session(userId, s)
              Some(SessionState(t, t, 1))
            case None => Some(SessionState(t, t, 1))
          }
        }
        (cur, closed.result().iterator)
      },
      onExpiry = (userId, s) => Iterator.single(session(userId, s)))
  }

  case class TypedEvent(user_id: Long, ts: Timestamp, event_type: String)
  case class FunnelAdvance(user_id: Long, step: Int, event_type: String, ts: Timestamp)
  // stage = steps completed so far; lastMs = completion time of that stage
  case class FunnelState(stage: Int, lastMs: Long)

  /** Streaming conversion funnel: the per-user state machine behind the
    * batch [[graft.ops.Events.funnel]], emitting a [[FunnelAdvance]]
    * row the moment a user completes a step — a user at stage i
    * advances on the first `steps(i)` event STRICTLY after their
    * stage-(i-1) time and within `windowMs` of it (first-touch
    * chaining, same rule as the batch operator).
    *
    * Within a micro-batch, events sort by time, so in-batch disorder is
    * handled; ACROSS batches the machine never rewinds (an event older
    * than a consumed advance cannot retroactively change it) — exact
    * under per-user in-order delivery inside the watermark, the same
    * contract as the sessionizer above. State is bounded: the
    * event-time timeout fires once the conversion window after the
    * user's last advance has passed the watermark — a user who can no
    * longer advance (window expired) is evicted; a fully-converted
    * user is evicted immediately.
    */
  def funnelAdvances(events: Dataset[TypedEvent], steps: Seq[String],
                     windowMs: Long): Dataset[FunnelAdvance] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(windowMs > 0, s"conversion window must be positive, got $windowMs")
    import events.sparkSession.implicits._
    // CEILING division: a floored horizon would let the watermark drop
    // events still inside a user's conversion window (e.g. a 90s
    // window flooring to a 1-minute horizon drops a 70s-late click the
    // batch funnel counts)
    val horizonMin = (windowMs + 59_999L) / 60_000L
    val typed = events
      .filter(col("event_type").isin(steps: _*))
      .withWatermark("ts", s"$horizonMin minutes")
    // a converted user expires at once; any other user one window after
    // their last advance (a user who never opened keeps no state)
    KeyedState.evicting(typed.groupByKey(_.user_id))(Ordering.by(_.ts.getTime),
        (s: FunnelState) => if (s.stage >= steps.length) Long.MinValue else s.lastMs + windowMs) {
      (userId, prior, evs) =>
        val out = List.newBuilder[FunnelAdvance]
        val next = evs.foldLeft(prior) { (cur, e) =>
          val s = cur.getOrElse(FunnelState(0, Long.MinValue))
          val t = e.ts.getTime
          if (s.stage < steps.length && e.event_type == steps(s.stage) &&
              (s.stage == 0 || (t > s.lastMs && t <= s.lastMs + windowMs))) {
            out += FunnelAdvance(userId, s.stage + 1, e.event_type, e.ts)
            Some(FunnelState(s.stage + 1, t))
          } else cur
        }
        (next, out.result().iterator)
    }
  }

  case class TransitionEvent(user_id: Long, from_type: String,
                             to_type: String, ts: Timestamp)
  case class LastEvent(ty: String, ms: Long)

  /** Streaming event-transition monitor — the streaming form of the
    * batch [[graft.ops.Events.transitionMatrix]]: per user, each
    * arriving event emits the (previous type → this type) transition
    * the moment it happens; downstream windowed aggregation turns the
    * stream into live Markov rates (anomaly alarms on never-seen
    * transitions, drift alerts on shifting rates). State per user is
    * ONE (type, ts) pair, evicted by event-time timeout once the
    * watermark passes `horizonMinutes` of inactivity — an idle user
    * costs nothing forever, and a returning user simply starts a new
    * chain (no cross-horizon transition, matching the batch operator
    * applied per horizon). Cross-batch stragglers (above the watermark
    * but older than the stored state) are DROPPED, not chained — a
    * backwards event would emit an inverted transition the batch
    * operator never produces.
    */
  def streamingTransitions(events: Dataset[TypedEvent],
                           horizonMinutes: Int = 30): Dataset[TransitionEvent] = {
    import events.sparkSession.implicits._
    val horizonMs = horizonMinutes * 60_000L
    // deterministic within-batch order: (ts, type). NOTE: on
    // exactly-equal timestamps this tiebreak (type) differs from the
    // batch operator's (event id) — TypedEvent carries no id;
    // distinct-timestamp streams match exactly
    val timed = events.withWatermark("ts", s"$horizonMinutes minutes")
    KeyedState.evicting(timed.groupByKey(_.user_id))(
        Ordering.by(e => (e.ts.getTime, e.event_type)), (l: LastEvent) => l.ms + horizonMs) {
      (userId, prior, evs) =>
        val out = List.newBuilder[TransitionEvent]
        val next = evs.foldLeft(prior) { (cur, e) =>
          // monotonicity guard (the funnel's `t > lastMs` rule): an
          // event older than the stored state is a cross-batch
          // straggler — chaining it would emit an INVERTED transition
          // and regress the state. Dropped loudly-by-contract:
          // monitors see forward chains only
          if (cur.forall(l => e.ts.getTime >= l.ms)) {
            cur.foreach(l => out += TransitionEvent(userId, l.ty, e.event_type, e.ts))
            Some(LastEvent(e.event_type, e.ts.getTime))
          } else cur
        }
        (next, out.result().iterator)
    }
  }

  /** Running per-user aggregate via mapGroupsWithState — the escape
    * hatch for state machines the built-in aggregates can't express
    * (sessionization, CDC-style upserts). Emits the updated state per
    * key per micro-batch. (Production long-runners would add an
    * event-time timeout for state eviction; a processing-time timeout
    * makes the engine self-trigger empty batches forever, which is
    * also why the test harness avoids it.)
    */
  def userRunningState(events: Dataset[KeyedEvent]): Dataset[UserState] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[KeyedEvent], state: GroupState[UserState]) =>
          val evs = batch.toSeq
          val prev = state.getOption.getOrElse(
            UserState(userId, 0L, 0.0, new Timestamp(0)))
          val next = UserState(
            userId,
            prev.n_events + evs.size,
            prev.total + evs.map(_.value).sum,
            evs.map(_.ts).maxByOption(_.getTime).getOrElse(prev.last_ts))
          state.update(next)
          next
      }
  }

  case class Scd2Emit(key: String, version: Long, state: Option[String],
                      valid_from: Long, valid_to: Option[Long],
                      is_current: Boolean)
  case class Scd2Open(state: Option[String], validFrom: Long,
                      version: Long, lastTs: Long)

  /** Streaming rollup maintenance: keep a STORED parquet rollup
    * ([[graft.ops.Temporal.rollupState]] shape) current as rows
    * arrive — each micro-batch folds in via
    * [[graft.ops.Temporal.mergeRollup]], so the stream and batch
    * rollups share the merge code verbatim (the ingestStream
    * discipline: foreachBatch reuses batch DataFrame code, stream and
    * batch cannot drift).
    *
    * EXACTLY-ONCE under replays, via a VERSIONED store: merge is NOT
    * idempotent (a replayed batch would double-count), so each batch
    * writes its merged rollup to a FRESH directory
    * `data/v-<batchId>` — never overwriting the readable version —
    * and the directory's `_SUCCESS` marker (a single atomic file
    * create, written last by Spark's commit protocol) IS the commit
    * point. "Applied" = the max batch id with a `_SUCCESS`-marked
    * version; there is no separate sidecar to get out of sync. The
    * crash windows:
    *
    *   - crash MID-WRITE of `v-<b>`: no `_SUCCESS`, so the version is
    *     invisible; the replay re-reads the previous committed version
    *     and overwrite-writes `v-<b>` (cleaning the partial leftover).
    *   - crash AFTER `_SUCCESS`, BEFORE the checkpoint commit: the
    *     replayed invocation sees `batchId <= applied` and no-ops —
    *     replay is idempotent by construction.
    *   - crash DURING GC of older versions: GC deletes each version's
    *     `_SUCCESS` first, so a half-deleted version can never read as
    *     committed; the newest committed version is untouched (GC only
    *     runs after it commits) and the next batch's GC finishes the
    *     sweep.
    *
    * A read failure on a COMMITTED version (corrupt/missing files
    * under an intact `_SUCCESS`) propagates and fails the batch — the
    * checkpoint retries rather than silently restarting from empty
    * (store loss must be loud, never absorbed as "first batch").
    *
    * The stored frame is groups-sized (dimension, not corpus), so the
    * read-merge-write cycle per batch is bounded by the GROUP count —
    * the same cost argument as the batch operator (q228).
    */
  def rollupStream(rows: DataFrame, groupCols: Seq[String],
                   valueCol: String, storePath: String,
                   checkpointDir: String): StreamingQuery = {
    rows.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyRollupBatch(batch, batchId, groupCols, valueCol, storePath)
      }
      .start()
  }

  /** One micro-batch of [[rollupStream]], factored out so the restart
    * specs can drive the crash windows directly (a replayed batch id,
    * a torn uncommitted version dir, a corrupted committed version).
    */
  def applyRollupBatch(batch: DataFrame, batchId: Long,
                       groupCols: Seq[String], valueCol: String,
                       storePath: String): Unit =
    applyRollupVersioned(batch.sparkSession, batchId, groupCols, storePath,
      graft.ops.Temporal.rollupState(batch, groupCols, valueCol))

  /** RETRACTION-AWARE [[rollupStream]]: micro-batches are CDC change
    * streams carrying `signCol` (+1 insert / -1 delete), folded via
    * [[graft.ops.Temporal.rollupStateSigned]] — upstream corrections
    * flow through the SAME versioned exactly-once store as appends
    * (identical commit protocol, crash windows, and fence; only the
    * per-batch partial-aggregate builder differs). A group whose
    * inserts are fully retracted stays stored with net-zero counts —
    * compaction ([[graft.ops.Temporal.compactRollup]]) is the
    * reader's policy, never the merge's, because a group passing
    * through zero mid-stream must keep merging exactly.
    */
  def rollupStreamSigned(rows: DataFrame, groupCols: Seq[String],
                         valueCol: String, signCol: String,
                         storePath: String,
                         checkpointDir: String): StreamingQuery = {
    rows.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyRollupBatchSigned(batch, batchId, groupCols, valueCol,
          signCol, storePath)
      }
      .start()
  }

  /** One micro-batch of [[rollupStreamSigned]] (spec seam, like
    * [[applyRollupBatch]]). */
  def applyRollupBatchSigned(batch: DataFrame, batchId: Long,
                             groupCols: Seq[String], valueCol: String,
                             signCol: String, storePath: String): Unit =
    applyRollupVersioned(batch.sparkSession, batchId, groupCols, storePath,
      graft.ops.Temporal.rollupStateSigned(batch, groupCols, valueCol,
        signCol))

  /** The shared versioned-store commit protocol (fence -> merge ->
    * fresh `v-<batchId>` dir -> `_SUCCESS` commit point -> GC): both
    * rollup streams apply it verbatim so the signed path cannot drift
    * from the adversarially-tested unsigned one.
    */
  private def applyRollupVersioned(spark: SparkSession, batchId: Long,
                                   groupCols: Seq[String],
                                   storePath: String,
                                   late: => DataFrame): Unit = {
    val applied = committedRollupVersions(spark, storePath)
      .maxOption.getOrElse(-1L)
    if (batchId > applied) {
      val merged =
        if (applied < 0) late // explicit first-batch: no committed store
        else graft.ops.Temporal.mergeRollup(
          spark.read.parquet(s"$storePath/data/v-$applied"), late, groupCols)
      // overwrite cleans a torn leftover from a crashed prior attempt
      // at THIS version; `_SUCCESS` lands last = the commit point
      merged.write.mode("overwrite").parquet(s"$storePath/data/v-$batchId")
      gcRollupVersions(spark, storePath, keepFrom = batchId)
    }
  }

  /** Batch ids of `_SUCCESS`-marked (committed) rollup versions. */
  def committedRollupVersions(spark: SparkSession,
                              storePath: String): Seq[Long] = {
    val dataPath = new org.apache.hadoop.fs.Path(s"$storePath/data")
    val fs = dataPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(dataPath)) Seq.empty
    else fs.listStatus(dataPath).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("v-"))
      .filter(st => fs.exists(
        new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")))
      .map(_.getPath.getName.stripPrefix("v-").toLong)
  }

  /** The current committed rollup (the version the store's readers
    * see). Fails loudly when the store has no committed version.
    */
  def readRollupStore(spark: SparkSession, storePath: String): DataFrame = {
    val applied = committedRollupVersions(spark, storePath).maxOption
      .getOrElse(throw new IllegalStateException(
        s"no committed rollup version under $storePath/data"))
    spark.read.parquet(s"$storePath/data/v-$applied")
  }

  /** Drop committed versions older than `keepFrom`. `_SUCCESS` is
    * deleted FIRST so a crash mid-GC can never leave a half-deleted
    * directory that still reads as committed.
    */
  private def gcRollupVersions(spark: SparkSession, storePath: String,
                               keepFrom: Long): Unit = {
    val dataPath = new org.apache.hadoop.fs.Path(s"$storePath/data")
    val fs = dataPath.getFileSystem(spark.sessionState.newHadoopConf())
    committedRollupVersions(spark, storePath).filter(_ < keepFrom)
      .foreach { v =>
        val dir = new org.apache.hadoop.fs.Path(dataPath, s"v-$v")
        fs.delete(new org.apache.hadoop.fs.Path(dir, "_SUCCESS"), false)
        fs.delete(dir, true)
      }
  }

  case class TouchEmit(user: String, conv_us: Long, attributed: String,
                       touch_us: Option[Long], value: Double)
  case class TouchState(us: Long, ty: String)

  /** Streaming last-touch attribution: the batch operator
    * ([[graft.ops.Events.lastTouchAttribution]]) ON ARRIVAL — per-user
    * state is ONE (ts, type) pair (the most recent touch), bounded by
    * the user dimension with no growth and no timeout; each arriving
    * conversion is credited immediately against it ('organic' when the
    * touch is absent or older than `windowUs`). Same ordering contract
    * as [[streamingScd2]]: rows fold in (ts, tie) order within a
    * micro-batch and arrivals must respect per-key event-time order
    * across batches (a stale row older than the held touch only
    * refreshes state if newer — conversions always emit).
    *
    * Input columns: (`userCol`, `typeCol`, `usCol` epoch-micros long,
    * `tieCol` long, `valueCol` double).
    */
  def streamingLastTouch(events: DataFrame, userCol: String,
                         typeCol: String, usCol: String, tieCol: String,
                         valueCol: String, convType: String,
                         touchTypes: Seq[String], windowUs: Long)
      : Dataset[TouchEmit] = {
    require(windowUs > 0, s"windowUs must be positive, got $windowUs")
    require(!touchTypes.contains(convType),
      s"conversion type $convType cannot also be a touch type")
    import events.sparkSession.implicits._
    val touchSet = touchTypes.toSet
    events
      .select(col(userCol).cast("string").as("u"),
        col(typeCol).cast("string").as("ty"),
        col(usCol).cast("long").as("t"), col(tieCol).cast("long").as("i"),
        col(valueCol).cast("double").as("v"))
      .as[(String, String, Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (user: String,
         rows: Iterator[(String, String, Long, Long, Double)],
         st: GroupState[TouchState]) =>
          var cur = st.getOption
          val out = scala.collection.mutable.ListBuffer.empty[TouchEmit]
          rows.toSeq.sortBy(r => (r._3, r._4)).foreach {
            case (_, ty, t, _, v) =>
              if (touchSet.contains(ty)) {
                if (cur.forall(_.us <= t)) cur = Some(TouchState(t, ty))
              } else if (ty == convType) {
                val hit = cur.filter(_.us >= t - windowUs)
                out += TouchEmit(user, t,
                  hit.map(_.ty).getOrElse("organic"), hit.map(_.us), v)
              }
          }
          cur.foreach(st.update)
          out.iterator
      }
  }

  /** Streaming SCD2 maintenance: the per-key validity-interval
    * dimension ([[graft.ops.Temporal.scd2]]) kept current ON ARRIVAL.
    * Each micro-batch's rows fold into the key's open version in
    * (ts, tie) order: an equal state extends it, a distinct state
    * closes it (emitting the finished interval) and opens the next
    * version (emitted with `is_current = true`, `valid_to` null).
    * "Latest emission per (key, version)" IS the SCD2 table — the
    * whole-row emission contract of the sketch maintainers.
    *
    * Semantics = the batch operator over everything seen, PROVIDED
    * arrivals respect per-key event-time order across micro-batches
    * (within a batch, rows are sorted before folding). A row older
    * than the open version's last accepted (ts, tie) cannot be
    * retro-folded without rewriting closed history — the honest
    * streaming limit — so it is DROPPED; production feeds route such
    * stragglers to a batch back-fill that recomputes the key from the
    * log ([[graft.ops.Temporal.scd2Backfill]] is that back-fill, and
    * [[graft.ops.Temporal.scd2Repair]] is the composed facade:
    * detect stragglers -> bounded back-fill -> dimension equal to the
    * full rebuild). State is one open version per key (four fields) —
    * no growth, no timeout needed. Input columns: (`keyCol`,
    * `stateCol`, `tsCol` epoch-micros long, `tieCol` long).
    */
  def streamingScd2(log: DataFrame, keyCol: String, stateCol: String,
                    tsCol: String, tieCol: String): Dataset[Scd2Emit] = {
    import log.sparkSession.implicits._
    val rows = log
      .select(col(keyCol).cast("string").as("k"),
        col(stateCol).cast("string").as("s"),
        col(tsCol).cast("long").as("t"), col(tieCol).cast("long").as("i"))
      .as[(String, Option[String], Long, Long)]
    // version 0 is the no-version-yet zero: its first row opens version 1
    KeyedState.maintain(rows.groupByKey(_._1), Scd2Open(None, 0L, 0L, Long.MinValue)) {
      (key, prior, batch) =>
        val out = scala.collection.mutable.ListBuffer.empty[Scd2Emit]
        val next = batch.toSeq.sortBy(r => (r._3, r._4)).foldLeft(prior) {
          case (c, (_, s, t, _)) =>
            if (t < c.lastTs) c // straggler: batch back-fill
            else if (c.version > 0L && c.state == s) c.copy(lastTs = t) // same state: extend
            else {
              if (c.version > 0L)
                out += Scd2Emit(key, c.version, c.state, c.validFrom, Some(t), is_current = false)
              out += Scd2Emit(key, c.version + 1L, s, t, None, is_current = true)
              Scd2Open(s, t, c.version + 1L, t)
            }
        }
        (next, out.iterator)
    }
  }
}
