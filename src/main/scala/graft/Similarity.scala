package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.plans.VectorExpressions.cosineSim

/** User-facing similarity-search API over an embedding corpus
  * (`idCol: long`, `vecCol: array<float|double>`).
  *
  * `topK` is the exact brute-force baseline: one scan, per-partition
  * top-k (TakeOrderedAndProject), native fused cosine kernel. `annTopK`
  * is the scale path: random-hyperplane LSH buckets shrink the probe
  * set ~2^planes-fold; at rest the bucket column doubles as a partition
  * key so probes become pruned scans.
  */
object Similarity {

  private def asDouble(c: Column): Column = transform(c, _.cast("double"))

  /** Exact top-k nearest neighbours of `queryId` by cosine. */
  def topK(df: DataFrame, idCol: String, vecCol: String,
           queryId: Long, k: Int = 10): DataFrame = {
    val q = df.filter(col(idCol) === queryId)
      .select(asDouble(col(vecCol)).as("_qv"))
    df.filter(col(idCol) =!= queryId)
      .select(col(idCol), asDouble(col(vecCol)).as("_v"))
      .crossJoin(broadcast(q))
      .select(col(idCol), cosineSim(col("_qv"), col("_v")).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** Approximate top-k: probe the query's RHP bucket plus its
    * hamming-1 neighbours (multi-probe — see Pipeline.rhpProbeBuckets
    * for the measured recall argument). `(planes+1)/2^planes` of the
    * corpus is scanned; at rest the bucket column doubles as a
    * partition key, so each probe is a pruned scan.
    */
  def annTopK(df: DataFrame, idCol: String, vecCol: String,
              queryId: Long, k: Int = 10, dims: Int = 64,
              planes: Int = Pipeline.AutoPlanes): DataFrame = {
    val p = Pipeline.resolvePlanes(planes, df)
    val withB = df
      .select(col(idCol), asDouble(col(vecCol)).as("_v"))
      .withColumn("_bucket", Pipeline.rhpBucket(col("_v"), dims, p))
    val q = withB.filter(col(idCol) === queryId)
      .select(explode(Pipeline.rhpProbeBuckets(col("_bucket"), p)).as("_qb"),
        col("_v").as("_qv"))
    withB.filter(col(idCol) =!= queryId)
      .join(broadcast(q), col("_bucket") === col("_qb"))
      .select(col(idCol), cosineSim(col("_qv"), col("_v")).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** PRODUCT-QUANTIZATION code assignment (Jégou et al., PAMI'11 — the
    * IVF+PQ building block [[ivfTopK]] stops short of): split each
    * `dims`-dim vector into `m` contiguous subvectors and give every
    * (vector, subspace) its argmin-L2 code from that subspace's
    * codebook. Storage drops from dims floats to m small codes — the
    * memory step that makes billion-vector ANN fit.
    *
    * Shape at scale: ONE explode to (id, sub, subvector) rows, one
    * broadcast equi-join on the subspace index (the codebook is
    * m x k rows — fixed, never grows with the corpus), one grouped
    * argmin. L2 is an index-ordered `zip_with`/`aggregate` fold, so
    * the oracle replays identical doubles; ties break to the SMALLER
    * code id (struct-min, deterministic). `codebook` columns:
    * (`codeCol`, `subCol`, `cvecCol`); output: (id, sub_idx, code).
    */
  def pqAssign(vectors: DataFrame, idCol: String, vecCol: String,
               codebook: DataFrame, codeCol: String, subCol: String,
               cvecCol: String, m: Int, dims: Int): DataFrame = {
    require(m >= 1 && dims % m == 0,
      s"dims ($dims) must split evenly into m ($m) subvectors")
    val sub = dims / m
    val exploded = vectors
      .select(col(idCol), asDouble(col(vecCol)).as("_v"))
      .select(col(idCol), explode(expr(
        s"transform(sequence(0, ${m - 1})," +
          s" s -> struct(s AS sub_idx, slice(_v, s * $sub + 1, $sub) AS sv))"))
        .as("_e"))
      .select(col(idCol), col("_e.sub_idx"), col("_e.sv"))
    val cb = broadcast(codebook.select(col(codeCol).as("_code"),
      col(subCol).cast("int").as("sub_idx"),
      asDouble(col(cvecCol)).as("_cv")))
    exploded.join(cb, "sub_idx")
      .withColumn("_d2", expr(
        "aggregate(zip_with(sv, _cv, (x, y) -> (x - y) * (x - y))," +
          " 0.0D, (acc, e) -> acc + e)"))
      .groupBy(col(idCol), col("sub_idx"))
      .agg(min(struct(col("_d2"), col("_code"))).as("_best"))
      .select(col(idCol), col("sub_idx"), col("_best._code").as("code"))
  }

  /** k-NN JOIN: approximate top-k neighbours for EVERY query vector at
    * once — the batch form of ANN a retrieval pipeline needs. RHP
    * buckets block the pair space (equi-join, never cartesian), the
    * fused native cosine scores candidates, and the custom GroupedTopK
    * operator selects per-query winners with bounded heaps instead of
    * a full window sort.
    */
  def knnJoin(queries: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, k: Int = 5, dims: Int = 64,
              planes: Int = Pipeline.AutoPlanes): DataFrame = {
    // planes sized to the CORPUS (the side that fills the buckets)
    val p = Pipeline.resolvePlanes(planes, corpus)
    def withBucket(df: DataFrame, id: String, v: String) = df
      .select(col(idCol).as(id), asDouble(col(vecCol)).as(v))
      .withColumn(s"${v}_bucket", Pipeline.rhpBucket(col(v), dims, p))
    // multi-probe on the QUERY side only: (planes+1)x fan-out of the
    // small side, corpus side untouched, join stays equi (probe sets
    // are pairwise-distinct, so no pair is scored twice)
    val q = withBucket(queries, "query_id", "_qv")
      .withColumn("_probe",
        explode(Pipeline.rhpProbeBuckets(col("_qv_bucket"), p)))
    val c = withBucket(corpus, "corpus_id", "_cv")
    val scored = q.join(c,
        col("_probe") === col("_cv_bucket") &&
          col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id"),
        cosineSim(col("_qv"), col("_cv")).as("cosine"))
    graft.plans.GroupedTopK.perKey(scored, Seq("query_id"), "cosine", k)
  }

  /** Hard-negative mining for contrastive training: for every anchor
    * vector, the top-k most-similar corpus vectors with a DIFFERENT
    * label — near-misses that teach a retriever/embedder the decision
    * boundary (easy negatives are useless; same-label neighbours are
    * false negatives).
    *
    * Same blocked shape as [[knnJoin]]: RHP-bucket equi-join with
    * multi-probe fan-out on the anchor side only, fused native cosine,
    * GroupedTopK bounded heaps — never a cartesian. The label
    * inequality rides the same join as a post-condition, so same-label
    * candidates are dropped BEFORE the cosine is computed and before
    * any heap sees them (a filter after top-k would under-fill k).
    * Scale: identical to knnJoin — candidate volume is corpus/2^planes
    * per probe, and the per-label partial heaps stay bounded at k.
    */
  def hardNegatives(anchors: DataFrame, corpus: DataFrame, idCol: String,
                    vecCol: String, labelCol: String, k: Int = 5,
                    dims: Int = 64,
                    planes: Int = Pipeline.AutoPlanes): DataFrame = {
    val p = Pipeline.resolvePlanes(planes, corpus)
    def withBucket(df: DataFrame, id: String, v: String, lab: String) = df
      .select(col(idCol).as(id), asDouble(col(vecCol)).as(v),
        col(labelCol).as(lab))
      .withColumn(s"${v}_bucket", Pipeline.rhpBucket(col(v), dims, p))
    val a = withBucket(anchors, "anchor_id", "_qv", "_alabel")
      .withColumn("_probe",
        explode(Pipeline.rhpProbeBuckets(col("_qv_bucket"), p)))
    val c = withBucket(corpus, "negative_id", "_cv", "_nlabel")
    val scored = a.join(c,
        col("_probe") === col("_cv_bucket") &&
          col("_alabel") =!= col("_nlabel"))
      .select(col("anchor_id"), col("negative_id"),
        col("_nlabel").as("negative_label"),
        cosineSim(col("_qv"), col("_cv")).as("cosine"))
    graft.plans.GroupedTopK.perKey(scored, Seq("anchor_id"), "cosine", k)
  }

  /** Matryoshka prefix-dimension retrieval audit: for a SAMPLE of
    * query vectors, compare exact cosine top-k under the FULL
    * dimensionality against top-k under only the first `prefixDims`
    * coordinates — the measurement that decides whether an MRL-style
    * truncated index (store/search d'=16, re-rank survivors at d=64)
    * is safe for a corpus: per-query overlap of the two top-k sets.
    *
    * Exact-by-design: this is the AUDIT that calibrates the
    * approximate path, so it brute-forces sample × corpus (the sample
    * is tens-to-hundreds of queries — broadcast; the corpus side
    * streams through the fused native cosine twice per pair, one
    * scoring pass shared by both rankings via the persisted frame).
    * At 100 TB you run it on a corpus slice — the audit's validity
    * comes from the query sample, not from scanning every vector.
    *
    * Output per query: n_common (|topk_full ∩ topk_prefix|) and
    * recall_ppm = n_common * 1e6 div k. Ties at the k boundary break
    * by score only (GroupedTopK heap) — same contract as [[knnJoin]].
    * The shared scored frame is persisted through `scope`.
    */
  def prefixRecall(df: DataFrame, idCol: String, vecCol: String,
                   queryPred: Column, prefixDims: Int, k: Int = 5,
                   scope: CacheScope = new CacheScope): DataFrame = {
    require(prefixDims >= 1, s"prefixDims must be >= 1, got $prefixDims")
    val corpus = df.select(col(idCol).as("corpus_id"),
      asDouble(col(vecCol)).as("_v"))
    val q = df.filter(queryPred)
      .select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("_qv"))
    val scored = scope.persist(corpus.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id"),
        cosineSim(col("_qv"), col("_v")).as("_cos_full"),
        cosineSim(slice(col("_qv"), 1, prefixDims),
          slice(col("_v"), 1, prefixDims)).as("_cos_pre")),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def top(orderCol: String) = graft.plans.GroupedTopK
      .perKey(scored, Seq("query_id"), orderCol, k)
      .select("query_id", "corpus_id")
    val common = top("_cos_full").intersect(top("_cos_pre"))
      .groupBy("query_id")
      .agg(count(lit(1)).cast("long").as("n_common"))
    // left join from the query list: a query whose sets are DISJOINT
    // must still report 0, not vanish
    q.select(col("query_id"))
      .join(common, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_common"), lit(0L)).as("n_common"))
      .withColumn("recall_ppm",
        expr(s"n_common * 1000000L div ${k.toLong}L"))
  }

  /** kNN label vote (the classifier-quality audit of an embedding
    * space): for each query in a FIXED panel (the [[prefixRecall]]
    * broadcast contract — the panel must not grow with SF), the
    * majority label among its exact cosine top-k neighbours (self
    * excluded; vote ties to the SMALLEST label), next to the query's
    * own label — leave-one-out accuracy over the panel, the standard
    * "is this embedding space label-coherent" check run before
    * trusting it for dedup/sampling. Exact by design (it CALIBRATES
    * the approximate path); top-k ties break by score only (the
    * [[knnJoin]] heap contract — this corpus has no boundary ties).
    */
  def knnLabelVote(df: DataFrame, idCol: String, vecCol: String,
                   labelCol: String, queryPred: Column,
                   k: Int = 5): DataFrame = {
    val corpus = df.select(col(idCol).as("corpus_id"),
      asDouble(col(vecCol)).as("_v"), col(labelCol).cast("long").as("_nl"))
    val q = df.filter(queryPred)
      .select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("_qv"),
        col(labelCol).cast("long").as("true_label"))
    val scored = corpus.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("true_label"), col("corpus_id"),
        col("_nl"), cosineSim(col("_qv"), col("_v")).as("_cos"))
    graft.plans.GroupedTopK.perKey(scored, Seq("query_id"), "_cos", k)
      .groupBy("query_id", "true_label", "_nl")
      .agg(count(lit(1)).cast("long").as("_votes"))
      .groupBy("query_id", "true_label")
      .agg(max(struct(col("_votes"), (-col("_nl")).as("_neg"))).as("_best"))
      .select(col("query_id"), col("true_label"),
        (-col("_best._neg")).as("predicted"),
        col("_best._votes").as("votes"))
  }

  /** Farthest-point (k-center greedy) diversity sample: starting from
    * `seedId`, repeatedly pick the vector with the SMALLEST maximum
    * cosine to any already-selected center — the classic 2-approximate
    * k-center seeding that buys embedding-space coverage (diverse
    * exemplars for annotation, eval-set seeding, kmeans++-style init)
    * where random sampling oversamples dense regions.
    *
    * Returns (rank, vec_id, max_cos): selection order, the chosen
    * vector, and its max cosine to the centers chosen before it (NULL
    * for the seed). Deterministic: ties break on the lowest id, and
    * `max_cos` is `greatest` over the same fused-kernel cosines the
    * oracle replays, so the comparisons are bit-identical.
    *
    * Scale shape: k-1 passes over the corpus, each a scan + one
    * TakeOrderedAndProject(1) — no pairwise joins; the centers live
    * driver-side (k × dims doubles, the same bounded collect as the
    * Lloyd centroids). k is a sample size (tens), not a corpus scale.
    */
  def farthestPointSample(df: DataFrame, idCol: String, vecCol: String,
                          k: Int, seedId: Long): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = df.sparkSession
    val base = df.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("_v"))
    val seedRows = base.filter(col("vec_id") === seedId).collect()
    require(seedRows.length == 1, s"seed id $seedId not found (or not unique)")
    var centers = Seq(seedRows(0).getSeq[Double](1).toArray)
    var out = Seq((1L, seedId, Option.empty[Double]))
    for (r <- 2 to k) {
      val maxCos = centers
        .map(c => cosineSim(col("_v"), lit(c)))
        .reduce((a, b) => greatest(a, b))
      val chosen = base
        .filter(!col("vec_id").isin(out.map(_._2): _*))
        .withColumn("_mc", maxCos)
        .orderBy(col("_mc").asc, col("vec_id"))
        .limit(1).collect()
      require(chosen.nonEmpty, s"corpus exhausted after ${r - 1} selections")
      out :+= ((r.toLong, chosen(0).getLong(0), Some(chosen(0).getDouble(2))))
      centers :+= chosen(0).getSeq[Double](1).toArray
    }
    import spark.implicits._
    out.toDF("rank", "vec_id", "max_cos")
  }

  /** IVF "index" build: per-cell centroids (`cell`, `centroid:
    * array<double>`) via posexplode + two groupBys — ONE full-corpus
    * pass. At 100 TB this runs once (persist the result, or write it
    * next to the corpus) and every [[ivfTopK]] probe consumes it; the
    * centroid table is tiny (cells × dims), so probes broadcast it.
    */
  def ivfIndex(df: DataFrame, vecCol: String, cellCol: String): DataFrame =
    df.select(col(cellCol).as("cell"), asDouble(col(vecCol)).as("_v"))
      .select(col("cell"), posexplode(col("_v")).as(Seq("_d", "_x")))
      .groupBy("cell", "_d").agg(avg("_x").as("_m"))
      .groupBy("cell").agg(array_sort(collect_list(struct(col("_d"), col("_m"))))
        .as("_dm"))
      .select(col("cell"), transform(col("_dm"), s => s.getField("_m")).as("centroid"))

  /** The `nProbe` cells of an [[ivfIndex]] whose centroids are nearest
    * (cosine) the one-row query `q(_qv)`, as `(_cell)`; the cell id
    * tie-break keeps the probed set deterministic.
    */
  private def probed(centroids: DataFrame, q: DataFrame, nProbe: Int): DataFrame =
    centroids
      .select(col("cell").as("_cell"), col("centroid").as("_centroid"))
      .crossJoin(broadcast(q))
      .select(col("_cell"), cosineSim(col("_qv"), col("_centroid")).as("_cc"))
      .orderBy(col("_cc").desc, col("_cell")).limit(nProbe)
      .select("_cell")

  /** IVF-style ANN probe over a PREBUILT index: ranks the index's cells
    * by query-to-centroid cosine and scans only the `nProbe` nearest
    * cells. The cell assignment comes from a provided column (e.g. a
    * cluster id produced offline — at 100 TB the coarse quantizer is
    * trained once); `centroids` comes from [[ivfIndex]], computed once
    * per corpus and reused across every probe.
    */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String, cellCol: String,
              centroids: DataFrame, queryId: Long, k: Int,
              nProbe: Int): DataFrame = {
    val base = df.select(col(idCol), col(cellCol).as("_cell"),
      asDouble(col(vecCol)).as("_v"))
    val q = base.filter(col(idCol) === queryId)
      .select(col("_v").as("_qv"))
    val probedCells = probed(centroids, q, nProbe)
    base.filter(col(idCol) =!= queryId)
      .join(broadcast(probedCells), "_cell")
      .crossJoin(broadcast(q))
      .select(col(idCol), cosineSim(col("_qv"), col("_v")).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** Convenience [[ivfTopK]]: builds the index inline (one-shot use —
    * anything probing more than once should hold an [[ivfIndex]]).
    */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String, cellCol: String,
              queryId: Long, k: Int = 10, nProbe: Int = 2): DataFrame =
    ivfTopK(df, idCol, vecCol, cellCol, ivfIndex(df, vecCol, cellCol),
      queryId, k, nProbe)

  /** IVF+PQ (IVFADC) search — the two scale steps COMPOSED, the
    * billion-vector serving shape (Jégou et al., TPAMI 2011): the IVF
    * coarse quantizer prunes the corpus to `nProbe` cells, and
    * candidates are scored against the query through their PRODUCT-
    * QUANTIZED codes only — per-subspace asymmetric distances looked
    * up in an m x |codebook| table built ONCE per query, never a full
    *-vector scan of the probed cells.
    *
    * Integer-exact ranking: each (sub, code) table entry is
    * `floor(L2^2 * 1e6)` of an index-ordered fold (bit-identical
    * across engines), and a candidate's ADC distance is the SUM OF m
    * LONGS — order-free. Ties break to the smaller id.
    *
    * Shape at scale: centroid ranking is |cells| rows x one broadcast
    * query; the distance table is m x k rows (fixed — broadcast); the
    * only corpus-sized work is the probed cells' code rows through
    * one broadcast join + one grouped sum. Codes here are derived
    * in-plan via [[pqAssign]] ON THE PROBED CELLS ONLY (this demo
    * plan owns no storage); a production corpus stores codes once and
    * the probe reads 4 bytes/vector instead of 256.
    */
  def ivfPqTopK(df: DataFrame, idCol: String, vecCol: String,
                cellCol: String, centroids: DataFrame, codebook: DataFrame,
                codeCol: String, subCol: String, cvecCol: String,
                m: Int, dims: Int, queryId: Long, k: Int,
                nProbe: Int): DataFrame = {
    require(m >= 1 && dims % m == 0,
      s"dims ($dims) must split evenly into m ($m) subvectors")
    val sub = dims / m
    val base = df.select(col(idCol), col(cellCol).as("_cell"),
      asDouble(col(vecCol)).as("_v"))
    val q = base.filter(col(idCol) === queryId).select(col("_v").as("_qv"))
    val probedCells = probed(centroids, q, nProbe)
    // asymmetric distance table: query subvector -> every codebook
    // entry, micro-long floors of the index-ordered L2^2 fold
    val dt = broadcast(codebook
      .select(col(codeCol).as("code"), col(subCol).cast("int").as("sub_idx"),
        asDouble(col(cvecCol)).as("_cv"))
      .crossJoin(broadcast(q))
      .withColumn("_qs", expr(s"slice(_qv, sub_idx * $sub + 1, $sub)"))
      .withColumn("_d2_micro", expr(
        "CAST(floor(aggregate(zip_with(_qs, _cv, (x, y) -> (x - y) * (x - y))," +
          " 0.0D, (acc, e) -> acc + e) * 1000000.0D) AS BIGINT)"))
      .select("sub_idx", "code", "_d2_micro"))
    val candidates = base.filter(col(idCol) =!= queryId)
      .join(broadcast(probedCells), "_cell")
      .select(col(idCol), col("_v").as(vecCol))
    val codes = pqAssign(candidates, idCol, vecCol, codebook, codeCol,
      subCol, cvecCol, m, dims)
    codes.join(dt, Seq("sub_idx", "code"))
      .groupBy(col(idCol))
      .agg(sum("_d2_micro").as("adc_d2_micro"))
      .orderBy(col("adc_d2_micro").asc, col(idCol))
      .limit(k)
  }

  /** Result of [[kmeansFit]]: final assignments (`idCol`, `cluster_id`,
    * `cosine`), the centroid matrix (the model — k x dims, driver-side
    * by design: it IS what a clustering job publishes), and the
    * per-iteration spherical inertia `sum(1 - cos)` trace.
    */
  final case class KMeans(assignments: DataFrame,
                          centroids: Array[Array[Double]],
                          inertia: Seq[Double])

  /** Spherical k-means (Lloyd) over an embedding corpus — the
    * offline training step for [[ivfTopK]]'s coarse quantizer (q77
    * oracle-gates one E-step; this iterates E/M to a usable model).
    *
    * Scale shape per iteration: the E-step is the q77 plan — corpus x
    * broadcast centroids (k << n), fused-codegen cosine, per-row argmax
    * — a map-only pass; the M-step's `posexplode -> groupBy(cid, dim)`
    * partial-aggregates map-side, so the shuffle carries at most
    * k x dims rows PER TASK, and the k x dims result collects to the
    * driver (bounded — it is the model). Seeds are the k rows with the
    * smallest md5-derived id hash: deterministic across runs, engines,
    * and retries. An emptied cluster keeps its previous centroid.
    *
    * Centroid means are double sums under Spark's partition-order
    * aggregation, so trailing-ulp drift across runs is possible (the
    * spec compares against a sequential reference within tolerance);
    * assignments are stable because blob separation dwarfs the drift.
    */
  def kmeansFit(df: DataFrame, idCol: String, vecCol: String, k: Int,
                iters: Int = 5): KMeans = {
    require(k > 0, s"kmeansFit needs k > 0, got $k")
    require(iters > 0, s"kmeansFit needs iters > 0, got $iters")
    val spark = df.sparkSession
    val Disk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // the corpus cache lives for the fit, each E-step's for its round
    val fitScope = new CacheScope
    val base = fitScope.persist(
      df.select(col(idCol), asDouble(col(vecCol)).as("_v")), Disk)
    val seeds = base
      .orderBy(Pipeline.wordHash32(col(idCol).cast("string")), col(idCol))
      .limit(k).collect()
    require(seeds.length == k, s"corpus has fewer than k=$k rows")
    var cents: Array[Array[Double]] = seeds.map(_.getSeq[Double](1).toArray)
    val dims = cents(0).length
    def centsDF = {
      import spark.implicits._
      cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("_cid", "_cv")
    }
    def assign(c: DataFrame) = base.crossJoin(broadcast(c))
      .select(col(idCol), col("_v"), col("_cid"),
        cosineSim(col("_cv"), col("_v")).as("_cos"))
      .withColumn("_rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(idCol)
          .orderBy(col("_cos").desc, col("_cid"))))
      .filter(col("_rn") === 1).drop("_rn")
    val inertia = Seq.newBuilder[Double]
    for (_ <- 1 to iters) {
      val roundScope = new CacheScope
      val a = roundScope.persist(assign(centsDF), Disk)
      inertia += a.agg(sum(lit(1.0) - col("_cos"))).head.getDouble(0)
      val means = a
        .select(col("_cid"), posexplode(col("_v")).as(Seq("_d", "_x")))
        .groupBy("_cid", "_d").agg(avg("_x").as("_m"))
        .collect()
      val next = cents.map(_.clone()) // emptied cluster -> keep centroid
      means.foreach(r => next(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
      cents = next
      roundScope.release()
    }
    val out = assign(centsDF)
      .select(col(idCol), col("_cid").as("cluster_id"), col("_cos").as("cosine"))
    fitScope.release()
    KMeans(out, cents, inertia.result())
  }

  /** Embedding-corpus QA: the top `frac` fraction of vectors by squared
    * L2 norm (exact rank, not an approximate quantile) — the standard
    * broken-encoder screen: rows whose norms sit far outside the
    * corpus distribution are truncated/overflowed/zero-padded encoder
    * outputs, and they poison cosine-based dedup and ANN downstream.
    *
    * `norm_sq` is the index-ordered sequential fold ([[Pipeline.dot]]),
    * so the doubles are bit-identical to an oracle replaying the same
    * fold. The cutoff is an exact ORDER BY rank (TakeOrderedAndProject
    * — per-partition bounded heaps, never a global sort), with the id
    * as tiebreak, so the flagged set is deterministic. `n` is the
    * corpus size, passed in (production pipelines know it from the
    * previous stage; recomputing would force an extra action).
    */
  def normOutliers(df: DataFrame, idCol: String, vecCol: String,
                   n: Long, frac: Double = 0.01): DataFrame = {
    require(n > 0, s"corpus size must be positive, got $n")
    require(frac > 0 && frac <= 1, s"frac must be in (0,1], got $frac")
    val kL = math.max(1L, math.ceil(frac * n).toLong)
    // a k beyond ~10M falls past the TakeOrderedAndProject top-k path
    // (topKSortFallbackThreshold) and/or funnels k rows through the
    // driver-side reduce — at that size this is no longer an outlier
    // SCREEN; route large cuts through an approximate-quantile cutoff
    // (approx_percentile on norm_sq + a scan-side filter) instead
    require(kL <= 10000000L,
      s"requested top fraction is $kL rows — beyond the bounded-heap " +
        "top-k path; lower frac, or cut on an approx_percentile(norm_sq) " +
        "threshold for screens this wide")
    val k = kL.toInt
    df.select(col(idCol), asDouble(col(vecCol)).as("_v"))
      .select(col(idCol), Pipeline.dot(col("_v"), col("_v")).as("norm_sq"))
      .orderBy(col("norm_sq").desc, col(idCol))
      .limit(k)
  }

  /** EMBEDDING-distribution drift between two corpus snapshots: the
    * cosine between the two snapshots' mean vectors — the
    * encoder-regression / data-mixture-shift monitor (a re-encoded or
    * differently-mixed corpus moves its centroid; per-source drift is
    * this called per slice). One row: (n_a, n_b, drift_cosine).
    *
    * Determinism discipline: per-dimension sums go through
    * DECIMAL(25,6) (exact, order-independent — float accumulation
    * order across partitions is not reproducible), means divide the
    * identical double by the identical count on every engine, and the
    * final cosine folds the 64 mean components in INDEX order (the
    * same `Pipeline.cosine` fold the oracle replays). Shape at scale:
    * each snapshot reduces to `dims` keyed partial aggregates (one
    * bounded shuffle of dims rows per partition), never a driver-side
    * vector collect beyond the dims-sized means.
    */
  def embeddingDrift(a: DataFrame, b: DataFrame, vecCol: String,
                     dims: Int = 64): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    def side(df: DataFrame): (Long, DataFrame) = {
      val n = df.count()
      require(n > 0, "embeddingDrift needs non-empty snapshots")
      val means = df
        .select(posexplode(transform(col(vecCol), _.cast("double"))))
        .select((col("pos") + 1).as("d"), col("col").as("_x"))
        .groupBy("d")
        .agg((sum(col("_x").cast(DecimalType(25, 6))).cast(DoubleType)
          / lit(n)).as("m"))
      (n, means)
    }
    val (nA, ma) = side(a)
    val (nB, mb) = side(b)
    def asVec(means: DataFrame): DataFrame = means.agg(
      transform(array_sort(collect_list(struct(col("d"), col("m")))),
        x => x.getField("m")).as("v"))
    asVec(ma).crossJoin(asVec(mb).withColumnRenamed("v", "w"))
      .select(lit(nA).as("n_a"), lit(nB).as("n_b"),
        Pipeline.cosine(col("v"), col("w")).as("drift_cosine"))
  }

  /** Corpus embedding-DIVERSITY audit: the exact sum of all pairwise
    * dot products in ONE closed-form pass — `sum_{u != v} <u, v> =
    * ||sum_v v||^2 - sum_v ||v||^2` — so the mean pairwise similarity
    * (collapse / mode-coverage signal: a corpus of near-identical
    * vectors scores high, a spread corpus near zero) costs two scans
    * and a 64-row aggregate instead of the n^2 pair join that the
    * naive formulation needs. For unit-normalized embeddings the
    * derived `pair_dot_sum / (n*(n-1))` IS the mean pairwise cosine.
    *
    * Exactness: elements are floor-quantized to integer micro-units
    * (`floor(x * 1e6)` — floor, not cast: Spark's double→long cast
    * truncates toward zero while DuckDB's rounds; floor is identical
    * on both), so every sum is integer and order-independent. The
    * per-dim sums square through DECIMAL (S_d ~ n*1e6 overflows BIGINT
    * when squared at corpus scale); no division anywhere — the output
    * carries the exact numerator and `n_vecs`, and the caller divides.
    *
    * Output (one row): n_vecs, self_dot_e12 (sum of squared norms,
    * micro^2 units), pair_dot_sum_e12 (STRING rendering of the exact
    * DECIMAL(38,0) micro^2 sum — stringified at the edge so every
    * downstream consumer, including hash-based comparators that
    * coerce wide decimals through float64, sees the identical exact
    * digits; see the DECIMAL output policy in PLANS.md).
    *
    * Scale shape: one scan-side fold per vector (self dots), one
    * dims-keyed aggregate (per-dim sums — 64 groups, map-side
    * combined), one 64-row square-and-sum. Nothing pairwise, nothing
    * driver-side beyond three scalars.
    */
  def embeddingDiversity(df: DataFrame, vecCol: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, LongType}
    val micro = transform(col(vecCol),
      x => floor(x.cast("double") * lit(1000000d)).cast(LongType))
    val base = df.select(micro.as("_e"))
    val perDim = base
      .select(posexplode(col("_e")))
      .groupBy("pos")
      .agg(sum(col("col")).as("s"))
    val sumSq = perDim.agg(
      sum(col("s").cast(DecimalType(18, 0)) * col("s").cast(DecimalType(18, 0)))
        .as("_ss"))
    val selfDot = base.agg(
      count(lit(1)).cast(LongType).as("n_vecs"),
      coalesce(sum(aggregate(col("_e"), lit(0L), (acc, x) => acc + x * x)),
        lit(0L)).cast(LongType).as("self_dot_e12"))
    selfDot.crossJoin(sumSq)
      .select(col("n_vecs"), col("self_dot_e12"),
        coalesce(col("_ss") - col("self_dot_e12"), lit(0L))
          .cast(DecimalType(38, 0)).cast("string").as("pair_dot_sum_e12"))
  }

  /** Append text-analysis feature columns to a document DataFrame:
    * token counts, type-token ratio, stopword ratio, BPE-ish subword
    * estimate, canonical fingerprint, rolling hash — all scan-side
    * codegen'd expressions (no shuffle).
    */
  def withTextFeatures(df: DataFrame, textCol: String): DataFrame = {
    val w = Pipeline.words(col(textCol))
    df.withColumn("n_tokens", size(w))
      .withColumn("n_distinct_tokens", size(array_distinct(w)))
      .withColumn("ttr", col("n_distinct_tokens").cast("double") / col("n_tokens"))
      .withColumn("stopword_ratio",
        Pipeline.stopwordCount(w).cast("double") / col("n_tokens"))
      .withColumn("n_subword_est", Pipeline.subwordTokenCount(w))
      .withColumn("fingerprint", Pipeline.canonicalFingerprint(w))
      .withColumn("rolling_hash", Pipeline.rollingHash(w))
  }

  /** Mirror of the oracle's integer square root recipe: `s0 =
    * floor(sqrt(double(n)))`, then the largest `t` in `[s0-2, s0+2]`
    * with `t*t <= n`. For the magnitudes this file produces
    * (n <= ~1e30) the true floor-sqrt always lands in that window
    * (double sqrt is correctly rounded; the cast of n loses at most
    * ~1e-16 relative) — enforced LOUDLY against the exact
    * `BigInteger.sqrt`, so a violated assumption is a thrown error,
    * never a silent engine/oracle divergence.
    */
  private[graft] def isqrtPortable(n: BigInt): BigInt = {
    require(n >= 0, s"isqrt of negative: $n")
    val exact = BigInt(n.bigInteger.sqrt())
    val s0 = BigInt(math.floor(math.sqrt(n.toDouble)).toLong)
    require((exact - s0).abs <= 2,
      s"isqrt correction window exceeded: n=$n exact=$exact s0=$s0 — " +
        "the oracle's +-2 recipe no longer covers this magnitude")
    exact
  }

  /** Top principal direction of the corpus second-moment matrix
    * `G = sum over rows of x x^T` (uncentered PCA — the dominant
    * direction of embedding mass: anisotropy audits, the first step of
    * whitening, "is the corpus collapsing toward one direction" drift
    * checks) by FIXED-iteration power iteration, all-integer.
    *
    * Numerics (every step exact and engine-portable, the integer
    * PageRank discipline): components quantize to milli-units
    * (`floor(x*1000)` — float->double is exact, so the floor is
    * bit-identical everywhere); `G_int = 1e6 * G_true` accumulates as
    * order-free integer sums; iterations run on a PRE-SCALED
    * `G' = G_int div max(1, maxabs(G_int) div 1e6)` so products stay
    * far from overflow; each iterate renormalizes to `||v|| ~ 1e6`
    * via [[isqrtPortable]]; truncating division matches the oracle's
    * `//` on negatives (both toward zero). Power iteration converges
    * to the top eigendirection at rate (lambda2/lambda1)^iters; with
    * FIXED iters the output is deterministic whether or not it has
    * converged — engine and oracle replay the same trajectory, and
    * `lambda_micro` is the Rayleigh estimate of wherever it stopped.
    *
    * Scale shape: ONE distributed pass builds the gram — explode to
    * (i, x_i, vec) rows (N*d), then `dims` partial-combinable
    * DECIMAL(38,0) sums per component row (N*d^2 multiplies total: the
    * honest cost of any exact PCA pass) reduce to a BOUNDED d x d
    * panel. The d x d eigen-solve is driver-side on that bounded panel
    * (the [[kmeansFit]] bounded-collect discipline); nothing
    * corpus-sized leaves the cluster.
    *
    * Output: `dims` rows `(dim_idx, v_micro)` — the unit direction in
    * micro-units, sign-canonicalized (first nonzero component
    * positive) — plus the replicated `lambda_micro` (top-eigenvalue
    * Rayleigh estimate of G_true, micro-units; grows with corpus size
    * — it is a SUM moment, not a mean) and `ev_ppm` (lambda as ppm of
    * trace — the explained-share number an anisotropy audit reads).
    */
  def topPrincipalComponent(df: DataFrame, vecCol: String, dims: Int,
                            iters: Int = 12): DataFrame = {
    require(dims >= 2 && dims <= 256,
      s"dims must be in [2, 256] (bounded d x d panel), got $dims")
    require(iters >= 1 && iters <= 60, s"iters must be in [1, 60], got $iters")
    val spark = df.sparkSession
    val xq = transform(asDouble(col(vecCol)),
      x => floor(x * lit(1000)).cast("long"))
    val exploded = df.select(xq.as("_xq"))
      .select(posexplode(col("_xq")).as(Seq("_i", "_xi")), col("_xq"))
    val gramAggs = (0 until dims).map(j =>
      sum((col("_xq")(j) * col("_xi"))
        .cast(org.apache.spark.sql.types.DecimalType(38, 0)))
        .as(s"_g$j"))
    val gramRows = exploded.groupBy("_i")
      .agg(gramAggs.head, gramAggs.tail: _*)
      .collect()
    require(gramRows.nonEmpty, "topPrincipalComponent: empty corpus")
    val g = Array.ofDim[BigInt](dims, dims)
    gramRows.foreach { r =>
      val i = r.getInt(0)
      require(i < dims, s"vector longer than dims=$dims (component $i)")
      (0 until dims).foreach { j =>
        g(i)(j) = Option(r.getDecimal(j + 1))
          .map(d => BigInt(d.toBigInteger)).getOrElse(BigInt(0))
      }
    }
    val gScale = (g.flatten.map(_.abs).max / BigInt(1000000)).max(BigInt(1))
    val gp = g.map(_.map(_ / gScale))
    val v0 = BigInt(1000000) / isqrtPortable(BigInt(dims))
    var v = Array.fill(dims)(v0)
    for (_ <- 1 to iters) {
      val u = Array.tabulate(dims)(i =>
        (0 until dims).map(j => gp(i)(j) * v(j)).sum)
      val nrm = isqrtPortable(u.map(x => x * x).sum).max(BigInt(1))
      v = u.map(_ * BigInt(1000000) / nrm)
    }
    val sign = v.find(_ != 0).map(_.signum).getOrElse(1)
    if (sign < 0) v = v.map(-_)
    val num = (for (i <- 0 until dims; j <- 0 until dims)
      yield v(i) * g(i)(j) * v(j)).sum
    val den = v.map(x => x * x).sum.max(BigInt(1))
    val trace = (0 until dims).map(i => g(i)(i)).sum.max(BigInt(1))
    val lambdaMicro = (num / den).toLong
    val evPpm = (num * BigInt(1000000) / (den * trace)).toLong
    import spark.implicits._
    v.zipWithIndex
      .map { case (x, i) => (i.toLong, x.toLong, lambdaMicro, evPpm) }
      .toSeq.toDF("dim_idx", "v_micro", "lambda_micro", "ev_ppm")
  }
}
