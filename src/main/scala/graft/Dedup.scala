package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** User-facing deduplication API over any corpus DataFrame — the
  * library surface for the operators PipelineQueries exercises as
  * oracle-checked queries.
  *
  * All methods return the SURVIVING rows (canonical representative per
  * duplicate group = lowest id), so callers can chain:
  * `Dedup.near(Dedup.exact(docs, "doc_id", "text"), "doc_id", "text")`.
  *
  * Scale shape: every method is one hash-shuffle on a derived group
  * key + one window/semi-join — no cartesians, no driver collects.
  */
object Dedup {

  private val Disk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

  /** Default document-frequency cap on [[containmentPairs]]'s shingle
    * inverted index: index entries for a shingle appearing in more
    * documents than this are dropped before the probe join, bounding
    * the hottest join key's fanout at corpus scale. ~400x above the
    * largest df observed in the bench corpora (PLANS.md round 9), so
    * it only ever bites genuine boilerplate.
    */
  val DefaultMaxShingleDf: Int = 10000

  /** Largest hot-shingle set (row count) [[containmentPairs]] will hint
    * for broadcast: 4M single-BIGINT rows is ~64 MB materialized — a
    * comfortable executor-memory footprint at 1000-executor scale and
    * far under Spark's 8 GB broadcast hard cap. Measured against the
    * ACTUAL hot-set count (the set of >df-cap shingles is unbounded by
    * the cap value alone on an arbitrary corpus); bigger hot sets fall
    * back to the planner/AQE's own size-based join choice.
    */
  val MaxBroadcastHotKeys: Long = 4000000L

  /** Column-metadata key recording the shingle width a signature
    * frame's `shingles` column was built with.
    */
  val ShingleNMetadataKey = "graft.shingleN"

  /** Precomputed n-gram signature frame: (idCol, shingles, sig) — ONE
    * shingle + md5 + minhash pass per row, the dominant cost of every
    * text near-dup/decontamination operator at corpus scale.
    *
    * The convenience forms ([[near]], [[decontaminate]]) persist this
    * frame through their `scope` so the blocking and verify phases
    * share one derivation. At 100 TB, compute it once per corpus (or
    * write it to the warehouse next to the documents), persist it, and
    * feed it to every consumer via the `*Signed` variants. A frame
    * over a SUPERSET of a corpus is a valid signature frame for it:
    * extra rows only generate candidates the final anti-join ignores.
    */
  /** Shingle sets WITHOUT the minhash signature — for consumers whose
    * blocking never reads `sig` ([[containmentPairs]], [[ngramNovelty]]
    * -style set math). A persisted [[shingleSignatures]] frame is a
    * valid drop-in superset, but materializes k permutations per row
    * that these operators would never use.
    */
  def shingleSets(df: DataFrame, idCol: String, textCol: String,
                  shingleN: Int = 3,
                  tokenizer: Column => Column = Pipeline.words)
      : DataFrame = {
    val shMeta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong(ShingleNMetadataKey, shingleN.toLong).build()
    df.select(col(idCol), tokenizer(col(textCol)).as("_w"))
      .filter(size(col("_w")) >= shingleN)
      .select(col(idCol),
        Pipeline.wordShingles(col("_w"), shingleN).as("shingles", shMeta))
  }

  /** `tokenizer` routes the shingle base tokens: [[Pipeline.words]]
    * (default) for space-delimited corpora, [[Pipeline.wordsAuto]]
    * for mixed corpora with no-space scripts (CJK/Thai), where space
    * tokens give the whole near-dup chain zero recall.
    */
  def shingleSignatures(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3,
                        minhashK: Int = Pipeline.DefaultSigK,
                        tokenizer: Column => Column = Pipeline.words)
      : DataFrame = {
    // provenance metadata: consumers validate the banding k against the
    // k the signatures were actually built with (a mismatch would
    // silently change recall or hash empty band slices), and that the
    // two corpora's frames agree on shingle width (mismatched widths
    // compare 5-gram vs 3-gram sets — Jaccard collapses silently)
    val sigMeta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong(Pipeline.SigKMetadataKey, minhashK.toLong).build()
    shingleSets(df, idCol, textCol, shingleN, tokenizer)
      .withColumn("sig",
        Pipeline.minhashSignature(col("shingles"), minhashK).as("sig", sigMeta))
  }

  /** Both corpora's precomputed frames must carry the SAME value for a
    * provenance key (when both have it) — differing derivation
    * parameters make the blocking/verify silently meaningless.
    */
  private def requireSameMeta(a: DataFrame, b: DataFrame, colName: String,
                              key: String, what: String): Unit = {
    def get(df: DataFrame) = df.schema.fields.find(_.name == colName)
      .filter(_.metadata.contains(key)).map(_.metadata.getLong(key))
    (get(a), get(b)) match {
      case (Some(x), Some(y)) => require(x == y,
        s"train/test frames were built with different $what ($x vs $y) — " +
          "rebuild them with matching parameters")
      case _ => ()
    }
  }

  /** Exact dedup on content bytes: keep the lowest-id row per distinct
    * value of `textCol`.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol))
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
  }

  /** SimHash-backed near-dup removal: 32-bit signatures, pigeonhole-
    * blocked pair join at hamming distance <= maxDist, higher id of
    * each pair drops. Cheaper than MinHash when token multisets (not
    * n-gram structure) define similarity.
    */
  def nearSimhash(df: DataFrame, idCol: String, textCol: String,
                  maxDist: Int = 3): DataFrame = {
    val losers = Pipeline
      .simhashPairs(Pipeline.simhash32(df, idCol, textCol), idCol, maxDist)
      .select(col("b_id").as(idCol))
      .distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** 64-bit SimHash near-dup removal — the corpus-scale form of
    * [[nearSimhash]]: same semantics over a 64-bit signature whose
    * pigeonhole blocks carry 16 bits each (65536-way selectivity vs the
    * 32-bit form's 256 — the fixed 4x256 block-key space saturates on a
    * large corpus and turns the pair join quadratic).
    */
  def nearSimhash64(df: DataFrame, idCol: String, textCol: String,
                    maxDist: Int = 3): DataFrame = {
    val losers = Pipeline
      .simhash64Pairs(Pipeline.simhash64(df, idCol, textCol), idCol, maxDist)
      .select(col("b_id").as(idCol))
      .distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Connected components over a near-dup pair list: label propagation
    * to the minimum reachable id — each row gets a `cluster` column
    * identifying its duplicate group (its own id when unpaired).
    *
    * The iterative shape is the scale-standard one: per iteration, one
    * join + one min-aggregate, run as [[Iterate.untilStable]] rounds
    * until no label changes (the changed-label count is observed on
    * the round's checkpoint). Iterations are bounded by the cluster
    * diameter (near-dup clusters are shallow; runaway growth would
    * indicate a degenerate threshold).
    *
    * FAULT TOLERANCE at cluster scale: pass
    * `reliableCheckpointDir = Some(path)` (an HDFS/S3/DFS path on a
    * real cluster) to make every materialization of the loop a
    * RELIABLE `checkpoint()`: blocks live in the DFS, executor loss is
    * survivable, at the cost of one DFS write per iteration. Default
    * stays local for single-node/bench parity. Checkpoint files
    * accumulate one directory per iteration under the supplied path;
    * set `spark.cleaner.referenceTracking.cleanCheckpoints=true` or
    * clean the directory after the run.
    */
  def clusters(pairs: DataFrame, allIds: DataFrame, idCol: String,
               maxIters: Int = 50,
               // observability hook: called once with the converged
               // iteration count (scale runs attribute cost to
               // iterations x per-iteration shuffle through it)
               onConverged: Int => Unit = _ => (),
               reliableCheckpointDir: Option[String] = None): DataFrame = {
    // a round's frame keeps the label it replaced (_was), so the
    // changed count is observed on its checkpoint
    Iterate.untilStable("clusters (label propagation)",
        allIds.select(col(idCol).as("id"), col(idCol).as("cluster"), col(idCol).as("_was")),
        maxIters, (n, converged) => if (converged) onConverged(n),
        Seq(count(when(col("cluster") < col("_was"), true)).as("changed")),
        inputs = Seq(pairs.select(col("a_id"), col("b_id"))
          .union(pairs.select(col("b_id").as("a_id"), col("a_id").as("b_id")))),
        reliableCheckpointDir = reliableCheckpointDir) { (labels, _, inputs) =>
      val neighborMin = inputs.head.join(labels, col("b_id") === col("id"))
        .groupBy(col("a_id")).agg(min("cluster").as("ncluster"))
      labels.join(neighborMin, col("id") === col("a_id"), "left")
        .select(col("id"),
          least(col("cluster"), coalesce(col("ncluster"), col("cluster"))).as("cluster"),
          col("cluster").as("_was"))
    }((_, now) => now("changed") == 0L)
      .select(col("id").as(idCol), col("cluster"))
  }

  /** LEAKAGE-SAFE train/val/test split: hash-split on the near-dup
    * CLUSTER label instead of the document id, so near-duplicates can
    * never straddle train and test (a plain per-doc split leaks every
    * duplicated document: the copy in train memorizes the copy in
    * test). Components come from [[clusters]] over the supplied pair
    * frame (singletons keep their own id as the label), the split from
    * [[graft.ops.Sampling.assignSplits]] keyed on that label — one
    * deterministic assignment per GROUP, every member inherits it.
    *
    * Output: (idCol, cluster, split) for EVERY input doc. Scale shape:
    * the label-propagation loop's bounded iterations over the pair
    * graph (pairs only — never corpus²) plus one scan-side split
    * expression; the pair frame should come from the LSH candidate
    * (or verified-pair) machinery, already blocked.
    */
  def leakageSafeSplits(docs: DataFrame, pairs: DataFrame, idCol: String,
                        splits: Seq[(String, Int)]): DataFrame =
    graft.ops.Sampling.assignSplits(
      clusters(pairs, docs.select(col(idCol)), idCol), "cluster", splits)

  /** Test-set DECONTAMINATION: remove every `train` row whose n-gram
    * Jaccard similarity to ANY `test` row reaches `threshold` — the
    * cross-corpus near-dup operator an LLM training pipeline runs
    * before training so evaluation data cannot leak into the corpus.
    *
    * Same two-phase scale shape as [[near]]: LSH band blocking
    * (equi-join between the corpora, never a cartesian) generates
    * candidates, exact Jaccard verifies only those, and a left-anti
    * join drops the contaminated train rows.
    *
    * Banding defaults to THRESHOLD-DERIVED ([[Pipeline.bandingFor]]):
    * a leakage gate's blocking recall must be >= 0.99 at its operating
    * threshold, and no fixed (k, bands) literal holds that across
    * thresholds (k=16/b=4 captures a J=0.7 pair ~74% of the time —
    * a decontamination lottery, not a gate).
    */
  def decontaminate(
      train: DataFrame,
      test: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      shingleN: Int = 3,
      minhashK: Int = Pipeline.AutoBanding,
      bands: Int = Pipeline.AutoBanding,
      // uncapped by default: a dropped hot bucket here means MISSED
      // contamination surviving into training — the opposite of
      // Dedup.near, where the cap only trades dedup recall for a
      // bounded join (oversize buckets still surface via the
      // graft_lsh_* hot-bucket metric either way)
      maxBucketSize: Int = Int.MaxValue,
      scope: CacheScope = new CacheScope): DataFrame = {
    // persist each corpus's signature frame: the blocking phase and the
    // verify join-back both consume it, and without the cache the
    // shingle+minhash pass — the dominant cost at corpus scale — runs
    // twice per corpus in one DAG (Catalyst does not dedup common
    // subtrees). The cache is keyed by the canonicalized plan, so
    // repeat calls over the same corpus share one entry.
    // signatures are built at the canonical width (or the caller's
    // explicit k): auto-derived banding always slices within DefaultSigK
    val sigK = if (minhashK == Pipeline.AutoBanding) Pipeline.DefaultSigK
               else minhashK
    val trainSig = scope.persist(
      shingleSignatures(train, idCol, textCol, shingleN, sigK), Disk)
    val testSig = scope.persist(
      shingleSignatures(test, idCol, textCol, shingleN, sigK), Disk)
    decontaminateSigned(train, trainSig, testSig, idCol, threshold,
      minhashK, bands, maxBucketSize)
  }

  /** [[decontaminate]] over PRECOMPUTED signature frames (the 100 TB
    * form): `trainSig`/`testSig` come from [[shingleSignatures]] —
    * persisted or warehouse-materialized by the caller — so the
    * signature pass runs once per corpus no matter how many phases (or
    * repeated gate runs) consume it.
    */
  def decontaminateSigned(
      train: DataFrame,
      trainSig: DataFrame,
      testSig: DataFrame,
      idCol: String,
      threshold: Double = 0.8,
      minhashK: Int = Pipeline.AutoBanding,
      bands: Int = Pipeline.AutoBanding,
      maxBucketSize: Int = Int.MaxValue): DataFrame =
    train.join(
      contaminatedIdsSigned(trainSig, testSig, idCol, threshold, minhashK,
        bands, maxBucketSize),
      Seq(idCol), "left_anti")

  /** `|_sa ∩ _sb|` of a candidate pair's two shingle arrays, and
    * their exact Jaccard as a double. */
  private def sharedShingles: Column = size(array_intersect(col("_sa"), col("_sb")))
  private def shingleJaccard: Column = sharedShingles.cast("double") /
    (size(col("_sa")) + size(col("_sb")) - sharedShingles)

  /** The cross-corpus LSH candidates of the train and test signature
    * frames (train `a_id`, test `b_id`) with their exact shingle
    * Jaccard `_j`.
    */
  private def crossJaccard(trainSig: DataFrame, testSig: DataFrame,
      idCol: String, threshold: Double, minhashK: Int, bands: Int,
      maxBucketSize: Int): DataFrame = {
    requireSameMeta(trainSig, testSig, "shingles", ShingleNMetadataKey, "shingleN")
    val (k, b) = Pipeline.resolveBanding(threshold, minhashK, bands)
    Pipeline
      .lshCrossCandidates(trainSig, testSig, idCol, k, b, maxBucketSize)
      .join(trainSig.select(col(idCol).as("a_id"), col("shingles").as("_sa")), "a_id")
      .join(testSig.select(col(idCol).as("b_id"), col("shingles").as("_sb")), "b_id")
      .withColumn("_j", shingleJaccard)
  }

  /** The CONTAMINATED train ids themselves (the inverse view of
    * [[decontaminateSigned]]'s survivors) — the audit/report output a
    * production gate logs and quarantines. Same blocking + exact
    * verify; the caller chooses which side to keep.
    */
  def contaminatedIdsSigned(
      trainSig: DataFrame,
      testSig: DataFrame,
      idCol: String,
      threshold: Double = 0.8,
      minhashK: Int = Pipeline.AutoBanding,
      bands: Int = Pipeline.AutoBanding,
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    crossJaccard(trainSig, testSig, idCol, threshold, minhashK, bands,
        maxBucketSize)
      .filter(col("_j") >= threshold)
      .select(col("a_id").as(idCol))
      .distinct()
  }

  /** Per-TEST-document contamination diagnostics — the audit table a
    * production gate publishes next to the quarantine list: how many
    * train docs collided with each eval doc in LSH blocking, how many
    * verified contaminated at `threshold`, and the maximum exact
    * Jaccard seen. Eval docs with zero candidates appear with 0/0/NULL
    * (a left join from the test side — silence is a result here: it is
    * the evidence an eval set is clean).
    *
    * Same blocked equi-join shape as [[contaminatedIdsSigned]]; the
    * aggregation keys on the test id (bounded by the eval-set size, so
    * the output is always small no matter the train corpus).
    */
  def contaminationReport(
      trainSig: DataFrame,
      testSig: DataFrame,
      idCol: String,
      threshold: Double = 0.8,
      minhashK: Int = Pipeline.AutoBanding,
      bands: Int = Pipeline.AutoBanding,
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val pairs = crossJaccard(trainSig, testSig, idCol, threshold, minhashK,
      bands, maxBucketSize)
    val stats = pairs.groupBy(col("b_id"))
      // candidate pairs are DISTINCT (a_id, b_id) by construction, so
      // plain counts are per-train-doc counts
      .agg(count(lit(1)).as("n_candidates"),
        count(when(col("_j") >= threshold, lit(1))).as("n_contaminated"),
        max(col("_j")).as("max_jaccard"))
    testSig.select(col(idCol).as("test_doc_id"))
      .join(stats, col("test_doc_id") === col("b_id"), "left")
      .select(col("test_doc_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        col("max_jaccard"))
  }

  /** EMBEDDING-space decontamination: remove every `train` row whose
    * cosine similarity to ANY `test` row reaches `minCosine` — the
    * semantic companion of the n-gram [[decontaminate]] (paraphrased
    * leakage has low token overlap but high embedding similarity, so
    * production gates run both).
    *
    * Same blocked shape: RHP buckets make the cross-corpus pair space
    * an equi-join (never a cartesian), the fused native cosine kernel
    * verifies candidates, and a left-anti join drops contaminated
    * rows. Recall is bounded by the bucket blocking, like every LSH
    * path here (2^planes trade-off documented on Pipeline.rhpBucket).
    */
  def decontaminateByEmbedding(
      train: DataFrame,
      test: DataFrame,
      idCol: String,
      vecCol: String,
      minCosine: Double = 0.9,
      dims: Int = 64,
      planes: Int = Pipeline.AutoPlanes,
      scope: CacheScope = new CacheScope): DataFrame = {
    // planes sized to the TRAIN corpus (the big side that fills the
    // buckets); both frames must share the plane set, so resolve once
    val p = Pipeline.resolvePlanes(planes, train)
    // same persist rationale as [[decontaminate]]: one bucket+cast pass
    // per corpus, shared across this call and any repeat invocations
    // (plan-keyed cache)
    val trainB = scope.persist(embeddingBuckets(train, idCol, vecCol, dims, p), Disk)
    val testB = scope.persist(embeddingBuckets(test, idCol, vecCol, dims, p), Disk)
    decontaminateByEmbeddingSigned(train, trainB, testB, idCol, minCosine, p)
  }

  /** Column-metadata keys recording the plane count and dims a
    * `bucket` column was built with (validated by the Signed consumers
    * — a planes mismatch would probe the wrong hamming-1 neighbour
    * set; a dims mismatch means the two sides' buckets come from
    * different hyperplane sets entirely).
    */
  val BucketPlanesMetadataKey = "graft.rhpPlanes"
  val BucketDimsMetadataKey = "graft.rhpDims"

  /** Precomputed RHP-bucket frame: (idCol, vec: array<double>, bucket)
    * — the embedding analogue of [[shingleSignatures]].
    */
  def embeddingBuckets(df: DataFrame, idCol: String, vecCol: String,
                       dims: Int = 64,
                       planes: Int = Pipeline.AutoPlanes): DataFrame = {
    val p = Pipeline.resolvePlanes(planes, df)
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong(BucketPlanesMetadataKey, p.toLong)
      .putLong(BucketDimsMetadataKey, dims.toLong).build()
    df.select(col(idCol), transform(col(vecCol), _.cast("double")).as("vec"))
      .withColumn("bucket", Pipeline.rhpBucket(col("vec"), dims, p).as("bucket", meta))
  }

  /** The plane count an [[embeddingBuckets]] frame was built with (from
    * its column metadata) — for building a COMPATIBLE frame for the
    * other side of a cross-corpus probe.
    */
  def planesOf(buckets: DataFrame): Int =
    resolveSignedPlanes(buckets, Pipeline.AutoPlanes, "the")

  private def planesFromMeta(df: DataFrame): Option[Int] =
    df.schema.fields.find(_.name == "bucket")
      .filter(_.metadata.contains(BucketPlanesMetadataKey))
      .map(_.metadata.getLong(BucketPlanesMetadataKey).toInt)

  /** `AutoPlanes` on a `*Signed` form = "the planes the bucket frame was
    * built with" (read from column metadata — no extra job); an explicit
    * value must MATCH the frame's metadata or the probe would walk the
    * wrong hamming-1 neighbour set.
    */
  private def resolveSignedPlanes(df: DataFrame, planes: Int, side: String): Int =
    if (planes == Pipeline.AutoPlanes)
      planesFromMeta(df).getOrElse(throw new IllegalArgumentException(
        s"$side bucket frame carries no ${BucketPlanesMetadataKey} metadata — " +
          "build it with Dedup.embeddingBuckets or pass planes explicitly"))
    else planes

  private def requirePlanes(df: DataFrame, planes: Int, side: String): Unit =
    planesFromMeta(df).foreach { have =>
      require(have == planes,
        s"$side bucket frame was built with planes=$have but the probe was " +
          s"asked for planes=$planes — rebuild the buckets or pass the matching planes")
    }

  /** Count NULL-bucket rows (short/null-element vectors — they never
    * equi-join, so they are EXEMPT from bucket-blocked matching) via an
    * observe metric; [[LshObservability]] logs when non-zero.
    */
  private def nullAudit(df: DataFrame, side: String): DataFrame =
    df.observe(Pipeline.metricName(s"graft_rhp_null_$side"),
      coalesce(sum(when(col("bucket").isNull, 1L).otherwise(0L)), lit(0L))
        .as("null_buckets"))

  /** [[decontaminateByEmbedding]] over PRECOMPUTED bucket frames from
    * [[embeddingBuckets]] — persist/materialize them once per corpus
    * and reuse across gate runs.
    */
  def decontaminateByEmbeddingSigned(
      train: DataFrame,
      trainB: DataFrame,
      testB: DataFrame,
      idCol: String,
      minCosine: Double = 0.9,
      planes: Int = Pipeline.AutoPlanes): DataFrame = {
    import graft.plans.VectorExpressions.cosineSim
    val p = resolveSignedPlanes(trainB, planes, "train")
    requirePlanes(trainB, p, "train")
    requirePlanes(testB, p, "test")
    requireSameMeta(trainB, testB, "bucket", BucketDimsMetadataKey, "dims")
    // NULL buckets are audited (they dodge the gate — see nullAudit)
    // and then FILTERED before the join: a null key never matches, and
    // exploding it would only ship planes+1 dead rows into one hash
    // partition of the shuffle
    val testProbes = nullAudit(testB, "test")
      .filter(col("bucket").isNotNull)
      // multi-probe on the TEST side (the small corpus): a missed
      // bucket here is missed contamination, and single-bucket blocking
      // loses every near-hyperplane match (measured 0.14 -> 0.53 pair
      // recall at the default threshold; see Pipeline.rhpProbeBuckets)
      .select(col("vec").as("_sv"),
        explode(Pipeline.rhpProbeBuckets(col("bucket"), p)).as("_sb"))
    val contaminated = nullAudit(trainB, "train")
      .filter(col("bucket").isNotNull)
      .select(col(idCol).as("_tid"), col("vec").as("_tv"), col("bucket").as("_tb"))
      .join(testProbes, col("_tb") === col("_sb"))
      .filter(cosineSim(col("_tv"), col("_sv")) >= minCosine)
      .select(col("_tid").as(idCol))
      .distinct()
    train.join(contaminated, Seq(idCol), "left_anti")
  }

  /** EMBEDDING near-dup removal: within each pair at cosine >=
    * `minCosine` (multi-probe RHP blocked — pairs within hamming-1 of
    * each other's bucket, the measured-recall default), the higher id
    * drops. The embedding companion of [[near]]; pair generation is an
    * equi-join on the probe/bucket keys, never a cartesian.
    */
  def nearByEmbedding(df: DataFrame, idCol: String, vecCol: String,
                      minCosine: Double = 0.9, dims: Int = 64,
                      planes: Int = Pipeline.AutoPlanes,
                      scope: CacheScope = new CacheScope): DataFrame = {
    val p = Pipeline.resolvePlanes(planes, df)
    val b = scope.persist(embeddingBuckets(df, idCol, vecCol, dims, p), Disk)
    nearByEmbeddingSigned(df, b, idCol, minCosine, p)
  }

  /** [[nearByEmbedding]] over a PRECOMPUTED [[embeddingBuckets]] frame. */
  def nearByEmbeddingSigned(df: DataFrame, buckets: DataFrame, idCol: String,
                            minCosine: Double = 0.9,
                            planes: Int = Pipeline.AutoPlanes): DataFrame = {
    import graft.plans.VectorExpressions.cosineSim
    val p = resolveSignedPlanes(buckets, planes, "corpus")
    requirePlanes(buckets, p, "corpus")
    // same null-bucket audit+filter as the decontamination form:
    // malformed vectors are surfaced, not silently exempt, and their
    // dead rows never reach the join
    val audited = nullAudit(buckets, "corpus").filter(col("bucket").isNotNull)
    // a pair at hamming <= 1 matches on exactly ONE probe value (equal
    // bucket -> the identity probe; one differing plane -> that flip),
    // so no pair is generated or verified twice
    val probes = audited.select(col(idCol).as("a_id"), col("vec").as("_va"),
      explode(Pipeline.rhpProbeBuckets(col("bucket"), p)).as("_pb"))
    val losers = probes.join(
        audited.select(col(idCol).as("b_id"), col("vec").as("_vb"),
          col("bucket").as("_bb")),
        col("_pb") === col("_bb") && col("a_id") < col("b_id"))
      .filter(cosineSim(col("_va"), col("_vb")) >= minCosine)
      .select(col("b_id").as(idCol)).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Near-dup removal: MinHash-LSH candidates verified by exact n-gram
    * Jaccard >= `threshold`; within each verified pair the higher id
    * drops. Two-phase (cheap candidates, exact verify on candidates
    * only) — the plan that survives 100x scale-up.
    */
  def near(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      shingleN: Int = 3,
      minhashK: Int = Pipeline.AutoBanding,
      bands: Int = Pipeline.AutoBanding,
      scope: CacheScope = new CacheScope): DataFrame = {
    // persisted for the same reason as [[decontaminate]]: the signature
    // frame roots the candidate self-join AND both verify join-backs —
    // uncached, the shingle+minhash pass would run three times per call
    val sigK = if (minhashK == Pipeline.AutoBanding) Pipeline.DefaultSigK
               else minhashK
    val sig = scope.persist(
      shingleSignatures(df, idCol, textCol, shingleN, sigK), Disk)
    nearSigned(df, sig, idCol, threshold, minhashK, bands)
  }

  /** [[near]] over a PRECOMPUTED [[shingleSignatures]] frame. */
  def nearSigned(
      df: DataFrame,
      sig: DataFrame,
      idCol: String,
      threshold: Double = 0.8,
      minhashK: Int = Pipeline.AutoBanding,
      bands: Int = Pipeline.AutoBanding): DataFrame = {
    val losers = verifiedPairs(sig, idCol, threshold, minhashK, bands)
      .select(col("b_id").as(idCol)) // a_id < b_id: keep the lower id
      .distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Exact-Jaccard-VERIFIED near-dup pairs over a precomputed
    * [[shingleSignatures]] frame: LSH band candidates (a_id < b_id),
    * kept iff n-gram Jaccard >= `threshold`. The pair-level view the
    * survivor operators collapse — exposed because cluster-level
    * resolution ([[nearKeepBest]], [[clusters]]) needs the pairs, not
    * the survivors.
    */
  def verifiedPairs(
      sig: DataFrame,
      idCol: String,
      threshold: Double,
      minhashK: Int = Pipeline.AutoBanding,
      bands: Int = Pipeline.AutoBanding,
      maxBucketSize: Int = 10000): DataFrame = {
    val (k, b) = Pipeline.resolveBanding(threshold, minhashK, bands)
    candidatesWithShingles(sig, idCol, k, b, maxBucketSize)
      .withColumn("jaccard", shingleJaccard)
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  /** Full-corpus near-dup labels `(idCol, cluster)` at `threshold`:
    * [[shingleSignatures]] → [[verifiedPairs]] → [[clusters]].
    * clusters() materializes eagerly (checkpointed loop), so the
    * signature cache is dead weight the moment it returns — a local
    * scope releases it here instead of pinning a corpus-scale frame
    * per call (the prepare() discipline).
    */
  private def verifiedClusters(docs: DataFrame, idCol: String,
      textCol: String, threshold: Double, minhashK: Int, bands: Int,
      maxBucketSize: Int): DataFrame = {
    val (k, b) = Pipeline.resolveBanding(threshold, minhashK, bands)
    val sigScope = new CacheScope
    val sig = sigScope.persist(shingleSignatures(docs, idCol, textCol, 3, k), Disk)
    val pairs = verifiedPairs(sig, idCol, threshold, k, b, maxBucketSize)
    val lab = clusters(pairs, docs.select(col(idCol)), idCol)
    sigScope.release()
    lab
  }

  /** Near-dup cluster-size distribution: clusters per size band,
    * singletons included via the full-corpus label join — the shape
    * report behind dedup policy (millions of pairs vs a few
    * mega-clusters need different caps). [[verifiedPairs]] →
    * [[clusters]] → two tiny aggregates (q136; the audit bundle's
    * pair-graph-priced member).
    */
  def clusterSizes(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.5,
      minhashK: Int = Pipeline.AutoBanding,
      bands: Int = Pipeline.AutoBanding,
      maxBucketSize: Int = 10000): DataFrame = {
    verifiedClusters(docs, idCol, textCol, threshold, minhashK, bands,
        maxBucketSize)
      .groupBy("cluster").agg(count(lit(1)).cast(LongType).as("size"))
      .groupBy("size")
      .agg(count(lit(1)).cast(LongType).as("n_clusters"),
        sum(col("size")).cast(LongType).as("n_docs"))
  }

  /** SOFT dedup — keep every document but DOWN-WEIGHT duplicate
    * clusters so each cluster contributes one document's worth of
    * sampling mass: `weight_ppm = 1e6 div cluster_size` (the SoftDeDup
    * move — hard dedup throws away the choice of which near-dup to
    * train on and any frequency signal; reweighting preserves both
    * while removing the over-counting). Feeds [[ops.Sampling.weighted]]
    * directly. `pairs` is any verified near-dup pair frame
    * (`a_id`/`b_id`); docs in no pair are their own cluster at weight
    * 1e6.
    *
    * Shape: label propagation over the PAIRED nodes only ([[clusters]]
    * — pair-graph-sized, the tiny side of a dedup run), one
    * cluster-keyed count, then one left join onto the id frame;
    * singletons never enter the loop. Output:
    * (idCol, cluster, cluster_size, weight_ppm).
    */
  def softDedupWeights(pairs: DataFrame, allIds: DataFrame,
                       idCol: String): DataFrame = {
    val nodes = pairs.select(col("a_id").as(idCol))
      .unionAll(pairs.select(col("b_id").as(idCol))).distinct()
    val lab = clusters(pairs, nodes, idCol)
    val sized = lab.join(
      lab.groupBy("cluster").agg(count(lit(1)).cast(LongType).as("_sz")),
      Seq("cluster"))
    allIds.select(col(idCol))
      .join(sized.select(col(idCol), col("cluster"), col("_sz")),
        Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("cluster"), col(idCol)).as("cluster"),
        coalesce(col("_sz"), lit(1L)).as("cluster_size"))
      .withColumn("weight_ppm", expr("1000000L div cluster_size"))
  }

  /** [[verifiedPairs]] with the verify payload DICTIONARY-ENCODED: the
    * candidate join-backs ship each doc's shingle set as 60-bit hashes
    * (8 bytes/shingle) instead of raw n-gram strings (~20 bytes) — the
    * third application of the measured payload lever (PLANS.md round
    * 8: containment index key, LSH band key). Jaccard is computed over
    * the hash SETS: identical to string-set Jaccard except when two
    * distinct shingles of the same pair collide at 2^-60 — epsilon on
    * the similarity, and the oracle replays the identical fold, so
    * results are bit-exact across engines. Output jaccard_ppm is the
    * exact-integer form (`inter*1e6 div union`); the threshold gate
    * `inter*1e6 >= t_ppm*union` is exactly `jaccard >= t_ppm/1e6`.
    *
    * Use THIS form at corpus scale; [[verifiedPairs]] keeps the
    * raw-string verify for callers needing the double jaccard against
    * true string sets.
    */
  def verifiedPairsHashed(
      sig: DataFrame,
      idCol: String,
      threshold: Double,
      minhashK: Int = Pipeline.AutoBanding,
      bands: Int = Pipeline.AutoBanding,
      maxBucketSize: Int = 10000): DataFrame = {
    val (k, b) = Pipeline.resolveBanding(threshold, minhashK, bands)
    // FLOOR, not round: the integer gate keeps every pair with
    // jaccard >= tPpm/1e6 <= threshold — for a non-ppm-exact threshold
    // this errs on ADMITTING a hair below it (recall-safe for a dedup
    // gate) instead of silently dropping exactly-at-threshold pairs
    val tPpm = math.floor(threshold * 1000000).toInt
    val hashed = sig.select(col(idCol),
      transform(col("shingles"), Pipeline.wordHash60(_)).as("_hs"),
      col("sig"))
    val inter = size(array_intersect(col("_ha"), col("_hb")))
    val union = size(col("_ha")) + size(col("_hb")) - inter
    candidatesWithPayload(hashed, idCol, k, b, maxBucketSize,
        "_hs", "_ha", "_hb")
      .withColumn("_i", inter.cast(LongType))
      .withColumn("_u", union.cast(LongType))
      .filter(col("_i") * 1000000L >= col("_u") * tPpm)
      .select(col("a_id"), col("b_id"),
        expr("(1000000 * _i) div _u").as("jaccard_ppm"))
  }

  /** Cross-source duplication matrix: verified near-dup pairs rolled
    * up by UNORDERED source pair — who mirrors whom. The provenance
    * diagnostic behind mix design: a (crawlA, crawlB) cell with
    * thousands of pairs means the two snapshots overlap and their mix
    * weights double-count; a hot diagonal cell means one source
    * re-publishes itself.
    *
    * Same blocked candidate + exact-verify pipeline as
    * [[verifiedPairs]] (threshold-derived banding), but the verify is
    * ALL-INTEGER: `jaccard_ppm = floor(1e6*|A∩B| / |A∪B|)` and the
    * threshold gate `inter*1e6 >= t_ppm*union` — exactly
    * `jaccard >= t_ppm/1e6` with no float rounding, so the reported
    * `mean_jaccard_ppm = sum div n` is bit-stable across engines and
    * partitionings. Two id-keyed dimension joins attach sources to the
    * pair frame (pair-sized, not corpus-sized); output is at most
    * sources² rows.
    */
  def duplicationMatrix(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      sourceCol: String,
      threshold: Double = 0.5,
      shingleN: Int = 3,
      minhashK: Int = Pipeline.AutoBanding,
      bands: Int = Pipeline.AutoBanding,
      maxBucketSize: Int = 10000,
      scope: CacheScope = new CacheScope): DataFrame = {
    val (k, b) = Pipeline.resolveBanding(threshold, minhashK, bands)
    // FLOOR, not round: the integer gate keeps every pair with
    // jaccard >= tPpm/1e6 <= threshold — for a non-ppm-exact threshold
    // this errs on ADMITTING a hair below it (recall-safe for a dedup
    // gate) instead of silently dropping exactly-at-threshold pairs
    val tPpm = math.floor(threshold * 1000000).toInt
    // persisted for the same reason as [[near]]: the signature frame
    // roots the candidate self-join AND both verify join-backs
    val sig = scope.persist(
      shingleSignatures(docs, idCol, textCol, shingleN, k), Disk)
    val inter = sharedShingles
    val union = size(col("_sa")) + size(col("_sb")) - inter
    val pairs = candidatesWithShingles(sig, idCol, k, b, maxBucketSize)
      .select(col("a_id"), col("b_id"),
        inter.cast(LongType).as("_i"), union.cast(LongType).as("_u"))
      .filter(col("_i") * 1000000L >= col("_u") * tPpm)
    val src = docs.select(col(idCol), col(sourceCol))
    pairs
      .join(src.select(col(idCol).as("a_id"), col(sourceCol).as("_srca")), "a_id")
      .join(src.select(col(idCol).as("b_id"), col(sourceCol).as("_srcb")), "b_id")
      .select(least(col("_srca"), col("_srcb")).as("source_a"),
        greatest(col("_srca"), col("_srcb")).as("source_b"),
        expr("(1000000 * _i) div _u").as("_ppm"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).cast(LongType).as("n_pairs"),
        expr("sum(_ppm) div count(1)").cast(LongType).as("mean_jaccard_ppm"))
  }

  /** Sketch-ESTIMATED near-dup pairs — the verify form that never
    * ships shingle sets: LSH band candidates (threshold-derived
    * banding, like [[verifiedPairs]]) scored by the MinHash ESTIMATE
    * of Jaccard — the fraction of agreeing signature slots across the
    * frame's FULL width — instead of the exact set intersection.
    *
    * Why it exists at 100 TB: [[verifiedPairs]]' exact verify joins
    * each candidate back to BOTH full shingle arrays (unbounded per-doc
    * payload through the pair shuffle — the measured dominant cost of
    * the q92-class verifies). Here the per-doc payload is the fixed
    * k-long signature (k=128 default: 1 KB), and the score is an
    * unbiased estimator of J with sd = sqrt(J(1-J)/k) (~0.044 at
    * J=0.5, k=128). The estimate is integer-exact and
    * oracle-replayable: agree = |{j : sig_a[j] = sig_b[j]}|,
    * est_ppm = agree * 1e6 div k. Use it as the at-scale triage pass
    * (or the final pass when +-3 sd around the threshold is
    * acceptable); route borderline pairs to the exact verify.
    *
    * Returns (a_id, b_id, agree, est_ppm) for candidates with
    * est_ppm >= floor(threshold * 1e6).
    */
  def estimatedPairs(
      sig: DataFrame,
      idCol: String,
      threshold: Double,
      minhashK: Int = Pipeline.AutoBanding,
      bands: Int = Pipeline.AutoBanding,
      maxBucketSize: Int = 10000): DataFrame = {
    val (k, b) = Pipeline.resolveBanding(threshold, minhashK, bands)
    Pipeline.lshCandidatePairs(sig, idCol, k, b, maxBucketSize)
      .join(sig.select(col(idCol).as("a_id"), col("sig").as("_ga")), "a_id")
      .join(sig.select(col(idCol).as("b_id"), col("sig").as("_gb")), "b_id")
      .withColumn("agree",
        size(filter(zip_with(col("_ga"), col("_gb"), (x, y) => x === y),
          v => v)).cast("long"))
      .withColumn("est_ppm", expr("agree * 1000000 div size(_ga)"))
      .filter(col("est_ppm") >= math.floor(threshold * 1e6).toLong)
      .select(col("a_id"), col("b_id"), col("agree"), col("est_ppm"))
  }

  /** 1-bit (b-bit) MinHash signature: the k permutation minima reduced
    * to their PARITY and packed into 63-bit portable words (bit 63
    * never set — DuckDB's BIGINT shift raises on it) —
    * `ceil(k/63)` longs instead of k, a 63x payload cut (k=120: two
    * longs vs 960 bytes). Li & König's estimator recovers Jaccard from
    * the bit-agreement fraction: for one random bit,
    * `P(match) = J + (1-J)/2`, so `J = 2·match_frac − 1`. The sd at
    * fixed k widens ~sqrt(3)x vs full minima near J=0.5 — the price of
    * 63x less shuffle payload; size k accordingly.
    */
  def bbitSignature(sigCol: String, k: Int): Column = {
    require(k >= 1, s"signature width must be >= 1, got $k")
    val nw = (k + 62) / 63
    expr(s"""transform(sequence(0, ${nw - 1}), w ->
      aggregate(sequence(0, 62), 0L, (acc, j) ->
        acc + (CASE WHEN w * 63 + j < $k
               THEN (element_at($sigCol, w * 63 + j + 1) % 2) << j
               ELSE 0L END)))""")
  }

  /** [[estimatedPairs]] with the verify payload cut to ONE BIT per
    * permutation: candidates from the usual threshold-derived banding,
    * scored by the b-bit estimator over packed parity words —
    * `agree = k − Σ bit_count(xor(word_a, word_b))`,
    * `est_ppm = max(0, 2·agree·1e6 div k − 1e6)`. The per-doc payload
    * through the pair shuffle drops from k longs to ceil(k/63) longs —
    * the third rung of the measured payload ladder (shingle strings →
    * 60-bit hashes → full signatures → parity words); use as the
    * cheapest at-scale triage and route borderline pairs upward.
    * Returns (a_id, b_id, agree, est_ppm) for est_ppm >= threshold.
    */
  def estimatedPairsBbit(
      sig: DataFrame,
      idCol: String,
      threshold: Double,
      minhashK: Int = Pipeline.AutoBanding,
      bands: Int = Pipeline.AutoBanding,
      maxBucketSize: Int = 10000): DataFrame = {
    val (k, b) = Pipeline.resolveBanding(threshold, minhashK, bands)
    val packed = sig.select(col(idCol),
      bbitSignature("sig", k).as("_bs"))
    Pipeline.lshCandidatePairs(sig, idCol, k, b, maxBucketSize)
      .join(packed.select(col(idCol).as("a_id"), col("_bs").as("_pa")), "a_id")
      .join(packed.select(col(idCol).as("b_id"), col("_bs").as("_pb")), "b_id")
      .withColumn("agree", expr(
        s"$k - aggregate(zip_with(_pa, _pb, (x, y) -> bit_count(x ^ y))," +
          " 0, (a, c) -> a + c)").cast("long"))
      .withColumn("est_ppm",
        expr(s"greatest(0L, (2L * agree * 1000000L) div $k - 1000000L)"))
      .filter(col("est_ppm") >= math.floor(threshold * 1e6).toLong)
      .select(col("a_id"), col("b_id"), col("agree"), col("est_ppm"))
  }

  /** Dedup savings report: ONE row quantifying what near-dedup at
    * `threshold` would remove — docs and tokens dropped when every
    * duplicate cluster keeps its lowest id. The go/no-go number a
    * curation review reads before paying for the full dedup pass, and
    * the release-notes line after it ("4.1% of tokens were near-dups").
    *
    * Composition: [[verifiedPairs]] → [[clusters]] (label propagation
    * over the verified pair graph, full-corpus labels) → one token-
    * weighted aggregate. `n_clusters = n_docs - n_dropped` by
    * construction (every doc carries exactly one min-id label), but it
    * is computed independently (COUNT DISTINCT cluster) so the
    * invariant is visible in the output rather than assumed.
    */
  def dedupSavings(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.5,
      minhashK: Int = Pipeline.AutoBanding,
      bands: Int = Pipeline.AutoBanding,
      maxBucketSize: Int = 10000): DataFrame = {
    val lab = verifiedClusters(docs, idCol, textCol, threshold, minhashK,
      bands, maxBucketSize)
    docs.select(col(idCol),
        size(Pipeline.words(col(textCol))).cast(LongType).as("_n_tok"))
      .join(lab, idCol)
      .agg(count(lit(1)).cast(LongType).as("n_docs"),
        countDistinct(col("cluster")).cast(LongType).as("n_clusters"),
        sum(when(col(idCol) =!= col("cluster"), 1L).otherwise(0L))
          .cast(LongType).as("n_dropped"),
        sum(col("_n_tok")).cast(LongType).as("tokens_total"),
        sum(when(col(idCol) =!= col("cluster"), col("_n_tok")).otherwise(0L))
          .cast(LongType).as("tokens_dropped"))
  }

  /** Near-dup pair FEATURES: for every LSH candidate pair (threshold-
    * derived banding, no similarity gate), the integer-exact feature
    * vector a downstream dedup classifier / reranker consumes —
    * jaccard, both containments, and the size ratio, all in ppm, plus
    * both set sizes. The feature-engineering half of learned dedup:
    * the gate-free output is the training table, with the features
    * bit-identical across engines (single floor division per feature).
    */
  def pairFeatures(
      sig: DataFrame,
      idCol: String,
      threshold: Double = 0.5,
      minhashK: Int = Pipeline.AutoBanding,
      bands: Int = Pipeline.AutoBanding,
      maxBucketSize: Int = 10000): DataFrame = {
    val (k, b) = Pipeline.resolveBanding(threshold, minhashK, bands)
    candidatesWithShingles(sig, idCol, k, b, maxBucketSize)
      .withColumn("_i", sharedShingles.cast(LongType))
      .withColumn("_na", size(col("_sa")).cast(LongType))
      .withColumn("_nb", size(col("_sb")).cast(LongType))
      .select(col("a_id"), col("b_id"),
        col("_na").as("size_a"), col("_nb").as("size_b"),
        expr("(1000000 * _i) div (_na + _nb - _i)").as("jaccard_ppm"),
        expr("(1000000 * _i) div _na").as("cont_a_ppm"),
        expr("(1000000 * _i) div _nb").as("cont_b_ppm"),
        expr("(1000000 * least(_na, _nb)) div greatest(_na, _nb)")
          .as("size_ratio_ppm"))
  }

  /** Winnowed document fingerprints (the MOSS selection rule):
    * positional k-gram hashes, then the LEFTMOST-minimum hash of each
    * sliding window of `window` consecutive grams. Winnowing
    * guarantees any shared token run of length >= window + k - 1
    * contributes at least one IDENTICAL selected fingerprint to both
    * documents, while keeping only ~2/(window+1) of the grams — the
    * position-robust substring-overlap detector that whole-document
    * MinHash (set semantics, no positions) cannot express.
    *
    * All-integer and engine-exact: gram hash is the md5-based 32-bit
    * [[Pipeline.wordHash32]], and the window argmin is the plain MIN
    * of `hash*1e6 + pos` — the encoding makes (hash, position)
    * lexicographic order a single BIGINT order, so no argmin/min_by
    * construct is needed (positions stay < 1e6 per doc; longer docs
    * should be chunked first — q106). Returns distinct (id, fp) rows.
    *
    * Scale shape: scan-side gram/hash projection, one doc-keyed window
    * (partition = the doc, ordered run = its gram sequence), one
    * distinct. Nothing corpus-squared.
    */
  def winnowedFingerprints(df: DataFrame, idCol: String, textCol: String,
                           k: Int = 4, window: Int = 4): DataFrame = {
    require(k >= 1 && window >= 1, s"k/window must be >= 1, got $k/$window")
    val grams = df
      .select(col(idCol), Pipeline.words(col(textCol)).as("_w"))
      .filter(size(col("_w")) >= k + window - 1)
      // the per-doc gram count is known scan-side (tokens - k + 1), so
      // it rides the projection as a plain column — no COUNT window
      .select(col(idCol), (size(col("_w")) - (k - 1)).as("_m"), posexplode(transform(
        sequence(lit(1), size(col("_w")) - (k - 1)),
        i => Pipeline.wordHash32(concat_ws(" ", slice(col("_w"), i, lit(k)))))))
      .select(col(idCol), col("_m"), (col("pos") + 1).as("pos"),
        col("col").as("h"))
    grams
      .withColumn("_sel", min(col("h") * 1000000L + col("pos"))
        .over(Window.partitionBy(col(idCol)).orderBy(col("pos"))
          .rowsBetween(Window.currentRow, window - 1)))
      .filter(col("pos") <= col("_m") - (window - 1))
      .select(col(idCol), expr("_sel div 1000000").as("fp"))
      .distinct()
  }

  /** Winnowed-fingerprint overlap pairs: documents sharing at least
    * `minShared` selected fingerprints, with the shared count — the
    * MOSS-style local-plagiarism / shared-passage report. One
    * fingerprint-keyed equi-join (never pairwise over docs);
    * `maxFpDf` caps degenerate boilerplate fingerprints shared by
    * thousands of docs — the hot-key guard every blocking join here
    * carries, defaulted ON (10000) like the family's maxBucketSize;
    * oracle-replayed callers pass Int.MaxValue (uncapped SQL).
    */
  def winnowedPairs(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 4, window: Int = 4, minShared: Int = 2,
                    maxFpDf: Int = 10000): DataFrame = {
    val fpsAll = winnowedFingerprints(df, idCol, textCol, k, window)
    val fps = if (maxFpDf == Int.MaxValue) fpsAll
      else fpsAll
        .withColumn("_df", count(lit(1)).over(Window.partitionBy("fp")))
        .filter(col("_df") <= maxFpDf).drop("_df")
    fps.select(col(idCol).as("a_id"), col("fp"))
      .join(fps.select(col(idCol).as("b_id"), col("fp")), "fp")
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).cast(LongType).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** LSH candidate pairs joined back to both sides' shingle sets
    * (`_sa`/`_sb`) — the shared scaffold of every exact-verify pair
    * operator, in ONE copy so the cap and join shape cannot silently
    * diverge between them. The default `maxBucketSize` is a protective
    * hot-bucket cap: invisible on sane corpora, bounds the pair join on
    * degenerate ones (e.g. millions of identical docs); oracle-replayed
    * callers pass Int.MaxValue because the replayed SQL is uncapped.
    */
  private def candidatesWithShingles(
      sig: DataFrame, idCol: String, minhashK: Int, bands: Int,
      maxBucketSize: Int): DataFrame =
    candidatesWithPayload(sig, idCol, minhashK, bands, maxBucketSize,
      "shingles", "_sa", "_sb")

  /** The payload-generic form of the scaffold: candidates joined back
    * to any per-doc verify column (`payload` → `asA`/`asB`) — string
    * shingle sets for the exact verifies, 60-bit hash sets for
    * [[verifiedPairsHashed]]. Still the ONE copy of the cap + join
    * shape.
    */
  private def candidatesWithPayload(
      base: DataFrame, idCol: String, minhashK: Int, bands: Int,
      maxBucketSize: Int, payload: String, asA: String,
      asB: String): DataFrame =
    Pipeline.lshCandidatePairs(base, idCol, minhashK, bands, maxBucketSize)
      .join(base.select(col(idCol).as("a_id"), col(payload).as(asA)), "a_id")
      .join(base.select(col(idCol).as("b_id"), col(payload).as(asB)), "b_id")

  /** CONTAINMENT pairs: doc pairs where either doc's shingle set is
    * `threshold`-contained in the other's — |A∩B|/|A| (or /|B|) — the
    * asymmetric overlap that catches a short document quoted wholesale
    * inside a long one, which symmetric Jaccard misses (a 10-shingle
    * doc inside a 1000-shingle doc has Jaccard 0.01 but containment
    * 1.0). Returns (a_id, b_id, cont_a, cont_b).
    *
    * Blocking is on CONTAINMENT, not Jaccard: each doc's bottom-m
    * shingles (by md5-hash order — a deterministic uniform sample of
    * its shingle set) probe an inverted index of EVERY doc's shingles,
    * and a per-DIRECTION hit-count gate keeps only (probing doc,
    * indexed doc) pairs sharing >= `minProbeHits` probed shingles
    * (>= the doc's whole probe set when it has fewer). A pair at
    * containment c is a candidate with probability
    * P(Binomial(m, c) >= minProbeHits), with m derived from the
    * operating threshold ([[Pipeline.containmentProbesFor]]:
    * >= 99.5% capture at it). MinHash-LSH banding — the round-7
    * blocking here — approximates Jaccard, and the pairs this operator
    * EXISTS for (containment-high / Jaccard-low) are exactly where
    * banding capture is worst: a measured miss, not a corner case.
    *
    * The 2-hit default (round 9) exists because the 1-hit gate's
    * candidate set is dominated by single-shared-shingle coincidences:
    * measured at sf0.1, 163k candidates for 256 real pairs; the 2-hit
    * gate at the same >= 99.5% capture floor (m 5 -> 7) admits ~4k.
    * The verify then intersects 60-bit shingle HASHES
    * ([[Pipeline.wordHash60]] — the [[verifiedPairsHashed]]
    * dictionary-encoding), ~8 B/shingle through the two payload joins
    * instead of ~25 B/string-shingle; containment denominators stay
    * the true string-set sizes, and the oracle replays the identical
    * hashes so both engines see identical candidates AND identical
    * intersection counts.
    *
    * Scale shape: the index explode is token-scale but LINEAR (one row
    * per (doc, shingle) — the [[ngramNovelty]] shape), the probe side
    * is m rows per doc, and the join is an equi-join on the shingle —
    * never a cartesian. A pathologically common shingle (boilerplate)
    * makes a hot join key: `maxShingleDf` drops index entries whose
    * document frequency exceeds it. The round-9 default
    * ([[DefaultMaxShingleDf]]) bounds each probe's join fanout at
    * corpus scale; it sits ~400x above the largest df observed in the
    * bench corpora (max 25 at sf0.1, PLANS.md round 9) so it is
    * inert until a shingle is genuine boilerplate — at which point a
    * doc contained in others ONLY via that shingle was never a
    * meaningful containment hit. Pass `Int.MaxValue` to disable.
    *
    * The df cap applies to BOTH sides (round 10): probes that are
    * themselves capped-out boilerplate are dropped, and the hit gate's
    * per-doc probe count `np` counts only SURVIVING probes — so the
    * P(Binomial(m, c) >= minProbeHits) capture bound holds with m = the
    * post-cap probe count even for a doc whose probe sample is mostly
    * boilerplate (with np counted pre-cap, such a doc could never meet
    * a gate its surviving probes cannot reach). When the cap is active
    * this function materializes the hot-shingle set eagerly (persist +
    * count — one extra job at plan-build time, the [[graft.ops.Sampling]]
    * strata-count precedent): the count decides whether the anti-join
    * build side is safely broadcastable from its ACTUAL size rather
    * than from the cap value, and the persist keeps the hot-set
    * aggregation single-evaluation across the two anti-joins. The
    * cache entry lives in `scope`.
    *
    * NOTE (round-9 default change): both `maxShingleDf` (uncapped →
    * 10000) and the blocking gate (1-hit → 2-hit) changed defaults
    * this round. A caller PINNING `probeShingles` must pin it for the
    * gate in force — the old single-hit m=5 at t=0.7 under the 2-hit
    * default captures only P(Bin(5,0.7)>=2) ≈ 96.9%; pass
    * `minProbeHits = 1` alongside a pinned single-hit m, or leave
    * both at their defaults.
    */
  def containmentPairs(
      sig: DataFrame,
      idCol: String,
      threshold: Double = 0.7,
      probeShingles: Int = Pipeline.AutoBanding,
      maxShingleDf: Int = DefaultMaxShingleDf,
      minProbeHits: Int = 2,
      scope: CacheScope = new CacheScope): DataFrame = {
    val m = if (probeShingles == Pipeline.AutoBanding)
      Pipeline.containmentProbesFor(threshold, minHits = minProbeHits)
    else probeShingles
    require(m >= 1, s"probeShingles must be >= 1, got $m")
    require(minProbeHits >= 1, s"minProbeHits must be >= 1, got $minProbeHits")
    // bottom-m by (hash32, shingle) order — a deterministic uniform
    // sample of the shingle set. The JOIN KEY is the BIGINT hash
    // alone: 8 bytes through the index shuffle instead of the
    // ~70-byte "md5hex|shingle" tag of rounds <= 8.1 (the index
    // explode is the operator's dominant shuffled payload — measured
    // in PLANS.md round 8). A 32-bit collision only adds a candidate
    // the exact verify immediately rejects; the oracle replays the
    // identical hash, so both engines see the same candidate set
    def tagStruct(s: org.apache.spark.sql.Column) =
      struct(Pipeline.wordHash32(s).as("h"), s.as("s"))
    val probesAll = sig.select(col(idCol).as("_pid"),
      explode(transform(
        slice(array_sort(transform(col("shingles"), tagStruct(_))), 1, m),
        x => x("h"))).as("_h"))
    val indexAll = sig
      .select(col(idCol).as("_iid"), explode(col("shingles")).as("_s"))
      .select(col("_iid"), Pipeline.wordHash32(col("_s")).as("_h"))
    // the df cap keys on the hash too: modulo 32-bit collisions this
    // is the per-shingle document frequency, and collisions only make
    // the cap infinitesimally more conservative. Map-side-combined agg
    // + anti-join either way (never a token-mass window sort). The hot
    // set is persisted and COUNTED here (one plan-build-time job — the
    // Sampling strata-count precedent): the count gates the BROADCAST
    // hint on the hot set's ACTUAL size, not on the cap value — a high
    // cap usually means sparse boilerplate (measured at sf1 the hint is
    // worth ~1.5x: the planner's growing size estimate for the agg
    // output otherwise tips the plan into a sort-merge shuffle of the
    // whole index), but nothing bounds the >cap-df set a priori on an
    // arbitrary corpus, and a forced broadcast of an unexpectedly huge
    // hot set would abort on the broadcast limit. Oversized hot sets
    // stay un-hinted and let the planner/AQE decide from actual sizes.
    // The persist also keeps the agg single-evaluation across the TWO
    // anti-joins (index and probes) — the q148 doubled-lineage lesson.
    val (probes, index) = if (maxShingleDf == Int.MaxValue)
        (probesAll, indexAll)
      else {
        val hot = scope.persist(indexAll.groupBy("_h")
          .agg(count(lit(1)).as("_df"))
          .filter(col("_df") > maxShingleDf).select("_h"), Disk)
        val build = if (hot.count() <= MaxBroadcastHotKeys) broadcast(hot)
          else hot
        (probesAll.join(build, Seq("_h"), "left_anti"),
         indexAll.join(build, Seq("_h"), "left_anti"))
      }
    // per-doc SURVIVING probe count: capped-out probes contribute
    // neither hits nor np, so the gate a doc must meet is one its
    // remaining probes can actually reach (np counted pre-cap would
    // silently zero the capture bound for boilerplate-probed docs)
    val np = probes.groupBy("_pid").agg(count(lit(1)).as("_np"))
    // per-direction hit counts: the aggregate keys are (probing doc,
    // indexed doc), so the gate composes per-direction capture — a
    // one-shingle doc (np=1) keeps the single-hit gate it can satisfy
    val cand = probes.join(index,
        probes("_h") === index("_h") && col("_pid") =!= col("_iid"))
      .groupBy("_pid", "_iid")
      .agg(count(lit(1)).as("_hits"))
      .join(np, "_pid")
      .filter(col("_hits") >= least(lit(minProbeHits), col("_np")))
      .select(least(col("_pid"), col("_iid")).as("a_id"),
        greatest(col("_pid"), col("_iid")).as("b_id"))
      .distinct()
    // dictionary-encoded verify payload: 60-bit hashes, true set sizes
    val hs = sig.select(col(idCol),
      transform(col("shingles"), Pipeline.wordHash60(_)).as("_hsv"),
      size(col("shingles")).as("_n"))
    cand
      .join(hs.select(col(idCol).as("a_id"), col("_hsv").as("_ha"),
        col("_n").as("_na")), "a_id")
      .join(hs.select(col(idCol).as("b_id"), col("_hsv").as("_hb"),
        col("_n").as("_nb")), "b_id")
      // materialize the intersection size ONCE per pair: both
      // containment sides and the gate read it (inlined into
      // cont_a/cont_b it would run twice)
      .withColumn("_i",
        size(array_intersect(col("_ha"), col("_hb"))).cast("double"))
      .withColumn("cont_a", col("_i") / col("_na"))
      .withColumn("cont_b", col("_i") / col("_nb"))
      .filter(greatest(col("cont_a"), col("cont_b")) >= threshold)
      .select(col("a_id"), col("b_id"), col("cont_a"), col("cont_b"))
  }

  /** Quality-aware near-dup resolution: instead of keeping the lowest
    * id per duplicate group ([[near]]'s rule), keep the HIGHEST-QUALITY
    * member — verified pairs → connected components → per-cluster
    * argmax on (`qualityCol` desc, id asc). Returns one row per
    * multi-doc cluster: (cluster, kept_id, n_docs) — the resolution
    * report a curation pipeline reviews before dropping.
    *
    * The argmax is two partial-combinable aggregates (per-cluster max
    * quality, then min id among the maximal members) — never a
    * per-cluster sort or window over the corpus, and no arithmetic on
    * the id (a `-id` negation trick would silently NULL out string
    * ids, which every other dedup operator accepts). `qualityCol` must
    * be a non-null orderable column of `df` (length, TTR, a model
    * score...).
    */
  def nearKeepBest(
      df: DataFrame,
      idCol: String,
      textCol: String,
      qualityCol: String,
      threshold: Double = 0.8,
      shingleN: Int = 3,
      minhashK: Int = Pipeline.AutoBanding,
      bands: Int = Pipeline.AutoBanding,
      maxBucketSize: Int = 10000,
      scope: CacheScope = new CacheScope): DataFrame = {
    val sigK = if (minhashK == Pipeline.AutoBanding) Pipeline.DefaultSigK
               else minhashK
    val sig = scope.persist(
      shingleSignatures(df, idCol, textCol, shingleN, sigK), Disk)
    // pairs feed the edge symmetrization and the node set: persist, or
    // the candidate join + verify runs four times (same reuse the
    // components query needs)
    val pairs = scope.persist(verifiedPairs(sig, idCol, threshold,
      minhashK, bands, maxBucketSize), Disk)
    val nodes = pairs.select(col("a_id").as(idCol))
      .unionAll(pairs.select(col("b_id").as(idCol))).distinct()
    // persisted: the quality-max aggregate and the winner re-selection
    // both read the labeled frame — uncached, the propagation loop's
    // output join would run twice
    val labeled = scope.persist(clusters(pairs, nodes, idCol)
      .join(df.select(col(idCol), col(qualityCol)), Seq(idCol)), Disk)
    val best = labeled.groupBy(col("cluster"))
      .agg(max(col(qualityCol)).as("_bq"), count(lit(1)).as("n_docs"))
    // no broadcast hint: best is cluster-cardinality (can be huge at
    // corpus scale) — the equi-join shares the cluster hash partitioning
    labeled.join(best, Seq("cluster"))
      .filter(col(qualityCol) === col("_bq"))
      .groupBy(col("cluster"), col("n_docs"))
      .agg(min(col(idCol)).as("kept_id"))
      .select(col("cluster"), col("kept_id"), col("n_docs"))
  }

  /** N-gram NOVELTY scoring: for every `target` doc, the fraction of
    * its distinct n-gram shingles NOT present anywhere in `reference`
    * — the memorization/overlap signal scored per doc (novelty 0 = the
    * doc is fully covered by the reference corpus; decontamination
    * DROPS at a threshold, this REPORTS the continuous score).
    *
    * Shape: explode target shingles, one equi-join against the
    * reference's distinct shingle set, count matches per doc — the
    * join keys on the shingle itself so the score is exact (a
    * production variant at extreme scale would join on a shingle hash
    * to shrink the shuffle; kept exact here so the oracle replays
    * verbatim). Returns (idCol, n_shingles, n_known, novelty).
    */
  def ngramNovelty(target: DataFrame, reference: DataFrame, idCol: String,
                   textCol: String, shingleN: Int = 3): DataFrame = {
    // membership join on the 60-bit shingle hash: 8 bytes through the
    // reference-corpus explode (the operator's dominant shuffled frame
    // at scale) instead of the raw shingle string; a 2^-60 collision
    // counts one novel shingle as known — epsilon on a heuristic
    // score, and the oracle replays the identical fold
    def sh(df: DataFrame) = df
      .select(col(idCol), Pipeline.words(col(textCol)).as("_w"))
      .filter(size(col("_w")) >= shingleN)
      .select(col(idCol),
        explode(Pipeline.wordShingles(col("_w"), shingleN)).as("_raw"))
      .select(col(idCol), Pipeline.wordHash60(col("_raw")).as("_s"))
    val ref = sh(reference).select(col("_s").as("_r")).distinct()
    sh(target)
      .join(ref, col("_s") === col("_r"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"), count(col("_r")).as("n_known"))
      .withColumn("novelty",
        lit(1.0) - col("n_known").cast("double") / col("n_shingles"))
  }

  /** EXACT n-gram decontamination report: for every `train` doc, the
    * number of its distinct word n-grams that appear ANYWHERE in the
    * `eval` corpus — the industry-standard eval-overlap gate (the
    * GPT-3/PaLM "13-gram overlap" rule) scored per doc. Unlike the
    * LSH-blocked [[decontaminate]], membership is EXACT: recall at the
    * n-gram definition is 1.0 by construction — there is no banding
    * lottery, which is why this form is the default answer when the
    * contamination criterion is "shares any long n-gram" rather than
    * "high whole-doc Jaccard". The two gates are complements:
    * Jaccard-LSH catches paraphrase-level overlap a long-n-gram rule
    * misses; the exact rule catches one verbatim quoted answer inside
    * an otherwise-unrelated doc, which whole-doc Jaccard dilutes below
    * any workable threshold.
    *
    * Returns (train_doc_id, n_hit) for docs with >= 1 shared n-gram —
    * eval-leakage-sized output. Train docs shorter than n words carry
    * no n-grams and cannot be flagged (document the window: a 4-token
    * verbatim answer needs n <= 4).
    *
    * Scale shape: both corpora explode to DISTINCT (doc, gram) pairs
    * keyed by the 60-bit gram hash (8 B through the shuffle, never the
    * raw n-gram string); one equi-join against the eval set's distinct
    * gram-hash set (eval-sized — small — so AQE broadcasts it when it
    * fits), one doc-keyed count. A 2^-60 hash collision flags one
    * extra gram; the oracle replays the identical hashed join.
    */
  def exactNgramOverlap(train: DataFrame, eval: DataFrame, idCol: String,
                        textCol: String, n: Int = 5): DataFrame = {
    require(n >= 2, s"n-gram order must be >= 2, got $n")
    def grams(df: DataFrame) = df
      .select(col(idCol), Pipeline.words(col(textCol)).as("_w"))
      .filter(size(col("_w")) >= n)
      .select(col(idCol),
        explode(Pipeline.wordShingles(col("_w"), n)).as("_raw"))
      .select(col(idCol), Pipeline.wordHash60(col("_raw")).as("_g"))
    val evalSet = grams(eval).select(col("_g").as("_e")).distinct()
    grams(train)
      .join(evalSet, col("_g") === col("_e"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast(LongType).as("n_hit"))
  }

  /** EXACT n-gram decontamination: drop every `train` doc sharing at
    * least one n-gram with the `eval` corpus ([[exactNgramOverlap]]
    * as the gate, anti-join back). Returns the kept train rows.
    */
  def decontaminateExact(train: DataFrame, eval: DataFrame, idCol: String,
                         textCol: String, n: Int = 5): DataFrame = {
    val hits = exactNgramOverlap(train, eval, idCol, textCol, n)
      .select(col(idCol))
    train.join(hits, Seq(idCol), "left_anti")
  }

  /** SEMANTIC dedup (SemDeDup, Abbas et al. 2023): assign every vector
    * to its nearest centroid (max cosine, centroid-id tiebreak), then
    * prune within each cluster — of every in-cluster pair at cosine >=
    * `threshold`, the higher id drops. Returns the survivors with their
    * `centroid_id` (the retained corpus, cluster-tagged).
    *
    * The cluster assignment IS the blocking: pair generation is an
    * equi-join on `centroid_id`, so with k sized to the corpus
    * (clusters of bounded size), the pair count stays n²/k per cluster
    * — the paper's exact trade: pairs across clusters are never
    * examined (that blind spot is the price of linear scaling; the
    * multi-probe LSH operator [[nearByEmbedding]] covers the
    * boundary-pair case when it matters).
    *
    * Assignment is a broadcast of the centroid frame (k << n always)
    * into a fused-codegen cosine scan, then `max(struct(cos, -cid))`
    * per vector — an AGGREGATE, not a `row_number` window, because the
    * partial-aggregate form combines map-side and never materializes
    * the n x k expansion through a shuffle (the window form shuffles
    * all n*k rows; measured equivalent semantics, q77 gates the window
    * form). Centroid ids must be NUMERIC (they are cast to long for
    * the argmax tiebreak); vector ids may be any orderable type.
    * Centroids typically come from [[Similarity.kmeansFit]]. The
    * assignment cache lives in `scope`.
    */
  def semantic(vectors: DataFrame, idCol: String, vecCol: String,
               centroids: DataFrame, centIdCol: String, centVecCol: String,
               threshold: Double,
               maxClusterSize: Int = Pipeline.HotBucketThreshold,
               scope: CacheScope = new CacheScope): DataFrame = {
    import graft.plans.VectorExpressions.cosineSim
    require(threshold > -1 && threshold <= 1,
      s"cosine threshold must be in (-1,1], got $threshold")
    val v = vectors.select(col(idCol),
      transform(col(vecCol), _.cast("double")).as("_v"))
    val cents = broadcast(centroids.select(col(centIdCol).cast("long").as("_cid"),
      transform(col(centVecCol), _.cast("double")).as("_cv")))
    // argmax(cosine, tiebreak min cid) == max of (cos, -cid) lexicographic
    // persisted: the pair join reads it twice and the final anti-join a
    // third time — uncached, the n x k assignment scan would run thrice
    val assigned = scope.persist(v.crossJoin(cents)
      .groupBy(col(idCol))
      .agg(max(struct(cosineSim(col("_v"), col("_cv")).as("_cos"),
        (-col("_cid")).as("_neg"))).as("_best"))
      .select(col(idCol), (-col("_best._neg")).as("centroid_id"))
      .join(v, Seq(idCol)), Disk)
    pruneClusters(assigned, idCol, threshold, maxClusterSize)
  }

  /** The shared SemDeDup prune phase: within-cluster pairs at cosine >=
    * `threshold` drop the higher id. `assigned` carries (idCol,
    * centroid_id, _v) and must be persisted by the caller (read three
    * times: both pair-join sides and the anti-join left). A NULL
    * centroid_id never equi-joins, so unassigned vectors always
    * survive.
    *
    * Hot-cluster guard (the mirror of the LSH path's `maxBucketSize` +
    * `graft_lsh_*` design): the within-cluster pair join is all-pairs
    * on `centroid_id`, so a mass-duplicated swarm landing on one
    * centroid — exactly the corpus dedup exists for — would make that
    * cluster's pair space quadratic. Clusters larger than
    * `maxClusterSize` are EXCLUDED from pair generation (bounded join;
    * every member survives — conservative, false survivors rather than
    * an unbounded join), and a `graft_semantic_hot_cluster` observe
    * metric (rows in clusters over [[Pipeline.HotBucketThreshold]],
    * largest cluster seen) is logged by [[LshObservability]] so the
    * degenerate corpus surfaces as a warning, not an unexplained
    * runaway stage.
    */
  private def pruneClusters(assigned: DataFrame, idCol: String,
                            threshold: Double,
                            maxClusterSize: Int): DataFrame = {
    import graft.plans.VectorExpressions.cosineSim
    // cluster sizes over the non-null assignments only: the NULL
    // partition (unassigned vectors, never pruned) can dwarf every real
    // cluster and would drown the metric
    val sized = assigned.filter(col("centroid_id").isNotNull)
      .withColumn("_cs",
        count(lit(1)).over(Window.partitionBy("centroid_id")))
      // the metric counts rows against the ACTIVE cap (the caller's
      // maxClusterSize), not the fixed default: a caller passing a cap
      // below HotBucketThreshold must still see the rows its cap
      // exempted from pruning
      .observe(Pipeline.metricName("graft_semantic_hot_cluster"),
        coalesce(sum(when(col("_cs") > maxClusterSize, 1L)
          .otherwise(0L)), lit(0L)).as("hot_cluster_rows"),
        coalesce(max(col("_cs")), lit(0L)).as("max_cluster_size"))
      .filter(col("_cs") <= maxClusterSize)
      .drop("_cs")
    val losers = sized.select(col(idCol).as("a_id"), col("_v").as("_va"),
        col("centroid_id").as("_ca"))
      .join(sized.select(col(idCol).as("b_id"), col("_v").as("_vb"),
          col("centroid_id").as("_cb")),
        col("_ca") === col("_cb") && col("a_id") < col("b_id"))
      .filter(cosineSim(col("_va"), col("_vb")) >= threshold)
      .select(col("b_id").as(idCol)).distinct()
    assigned.join(losers, Seq(idCol), "left_anti")
      .select(col(idCol), col("centroid_id"))
  }

  /** [[semantic]] with ANN-BLOCKED assignment — the 100 TB form of the
    * nearest-centroid step. SemDeDup sizes k to the corpus (bounded
    * clusters), which makes the exact assignment's n x k cosine scan
    * grow ~100x per 10x corpus (both factors scale — measured: q90's
    * exact form 0.79 s -> 17.5 s at 10x on the replica set, and the
    * same law is documented on q77). Here each vector probes only the
    * centroids whose RHP bucket is its own or one bit away: the
    * centroid frame is expanded (planes+1)-fold on the SMALL side,
    * broadcast, and hash-joined on the bucket — assignment work drops
    * to ~n * k * (planes+1) / 2^planes fused cosines and the join is a
    * BroadcastHashJoin, never a nested loop.
    *
    * Approximation contract: a vector is assigned to its best PROBED
    * centroid (multi-probe recall: a hamming-1 neighbourhood holds the
    * true nearest bucket with the same measured odds as [[annTopK]] —
    * high-cosine assignments degrade slowest); a vector with NO
    * centroid in its probe set keeps a NULL `centroid_id` and is never
    * deduped (conservative: false survivors, never false drops of
    * cross-cluster pairs that exact SemDeDup would also miss). With
    * `planes` small enough that probes cover every bucket (k small),
    * the output EQUALS [[semantic]] exactly — spec-gated.
    *
    * The prune phase is [[semantic]]'s, verbatim (shared helper), and
    * so is the assignment-cache lifetime: the persisted assignment
    * frame lives in `scope`.
    */
  def semanticBlocked(vectors: DataFrame, idCol: String, vecCol: String,
                      centroids: DataFrame, centIdCol: String,
                      centVecCol: String, threshold: Double,
                      planes: Int = Pipeline.AutoPlanes,
                      dims: Int = 64,
                      maxClusterSize: Int = Pipeline.HotBucketThreshold,
                      scope: CacheScope = new CacheScope): DataFrame = {
    import graft.plans.VectorExpressions.cosineSim
    require(threshold > -1 && threshold <= 1,
      s"cosine threshold must be in (-1,1], got $threshold")
    // planes sized to the CENTROID count (the blocked side): target
    // ~64 centroids per bucket — small enough to scan, large enough
    // that probe sets rarely come up empty
    val p = if (planes != Pipeline.AutoPlanes) planes
      else Pipeline.planesFor(math.max(1L, centroids.count()),
        targetBucketSize = 64)
    val v = vectors.select(col(idCol),
        transform(col(vecCol), _.cast("double")).as("_v"))
      .withColumn("_b", Pipeline.rhpBucket(col("_v"), dims, p))
    val centsExp = broadcast(centroids
      .select(col(centIdCol).cast("long").as("_cid"),
        transform(col(centVecCol), _.cast("double")).as("_cv"))
      .withColumn("_probe", explode(
        Pipeline.rhpProbeBuckets(Pipeline.rhpBucket(col("_cv"), dims, p), p))))
    val best = v.join(centsExp, col("_b") === col("_probe"))
      .groupBy(col(idCol))
      .agg(max(struct(cosineSim(col("_v"), col("_cv")).as("_cos"),
        (-col("_cid")).as("_neg"))).as("_best"))
      .select(col(idCol), (-col("_best._neg")).as("centroid_id"))
    val assigned = scope.persist(v.drop("_b").join(best, Seq(idCol), "left"), Disk)
    pruneClusters(assigned, idCol, threshold, maxClusterSize)
  }

  /** Fuzzy VOCABULARY join (FastSS, Bocek et al. 2007): all pairs of
    * distinct words at Levenshtein distance <= 1, found by
    * deletion-neighborhood blocking — every word emits itself plus its
    * |w| delete-one variants, and any ED<=1 pair provably shares a
    * variant, so the candidate search is an EQUI-join on the variant
    * key, never all-pairs. A cheap exact `levenshtein` verify on the
    * survivors removes the (rare) same-variant ED-2 false candidates
    * (e.g. 'ab'/'ba' share 'a' via different deletions).
    *
    * Scale shape: the input is a VOCABULARY (distinct words — already
    * sublinear in corpus tokens); the blocked volume is sum over
    * variants of df^2, bounded in practice by word length x vocab.
    * Short words make hot variant keys (every 1-char word shares the
    * empty variant — correctly, since all 1-char pairs ARE ED 1); for
    * web-scale vocabularies apply the df-cap discipline on the variant
    * key first (Skew.hotKeyReport). The typo-normalization /
    * query-expansion primitive next to the shingle family. The one
    * internal cache (the variant table) is persisted through `scope`.
    */
  def editOnePairs(words: DataFrame, wordCol: String,
                   scope: CacheScope = new CacheScope): DataFrame = {
    val w = words.select(col(wordCol).cast("string").as("w")).distinct()
    // round-19 (guide §5 reuse): the variant table feeds BOTH sides of
    // the self-join; Catalyst does not dedup common subtrees, so
    // uncached the tokenize-distinct-explode derivation ran twice.
    // Persist the (vocabulary x word-length)-sized variant frame once.
    val variants = scope.persist(w.select(col("w"), explode(concat(
      array(col("w")),
      expr("transform(sequence(1, length(w)), i -> " +
        "concat(substring(w, 1, i-1), substring(w, i+1, length(w)-i)))")))
      .as("v")), org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    variants.select(col("w").as("a"), col("v"))
      .join(variants.select(col("w").as("b"), col("v")), "v")
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
      .withColumn("dist", levenshtein(col("a"), col("b")).cast(LongType))
      .filter(col("dist") <= 1)
  }
}
