package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Training-data pipeline queries: deduplication (exact, fingerprint,
  * MinHash+LSH, n-gram Jaccard, SimHash, embedding-cosine), exact and
  * weighted set-similarity joins, similarity search (brute-force,
  * LSH-bucketed, IVF and product-quantized ANN, principal direction),
  * text analysis (language-ID, quality, token stats), and multimodal
  * feature plumbing.
  *
  * Every query here has a DuckDB oracle that replays the identical
  * deterministic pipeline (md5-derived hashes, index-ordered IEEE
  * folds), so the driver's hash compare is exact — see Pipeline.scala
  * for the portability argument per primitive.
  */
object PipelineQueries {
  import Tables._
  import Pipeline._
  import OracleSql.{candShingles, cos, hash32, hash60, labelCtes, md5Digits,
    shingleJaccard, simhashCtes, sqDist, verifiedCte, verifiedHashedSql}

  /** doc_id + distinct word-trigram shingles, for docs with >= 3 words.
    * (DuckDB mirror: `[array_to_string(w[i:i+2],' ') for i in range(1,len(w)-1)]`.)
    */
  private def docShingles(s: SparkSession, d: String): DataFrame =
    spread(documents(s, d))
      .select(col("doc_id"), words(col("text")).as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), wordShingles(col("w"), 3).as("shingles"))

  // Shared oracle CTE: trigram shingles per doc.
  private val shinglesCte = """
    w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS (SELECT doc_id,
             list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]) AS shingles
           FROM w WHERE len(w) >= 3)"""

  // MinHash signature CTE fragment (hw + sig over a `sh` CTE carrying
  // `shingles`): one md5 per shingle, its first two 32-bit words mixed
  // into a base hash mod 2^31-1, then k wrapping affine permutations
  // (a_j*x + b_j) mod 2^31-1 — mirrors Pipeline.minhashA/minhashB/
  // minhashBase/minhashSignature exactly (see Pipeline.minhashA for
  // why the modular WRAP is load-bearing: an order-preserving map
  // collapses banding to one Bernoulli per pair).
  private[graft] def minhashSigCte(keep: String, k: Int): String = s"""
    hw AS (SELECT $keep,
             list_transform(shingles, s ->
               (65599 * ${md5Digits("s", 1, 9)}
                + ${md5Digits("s", 9, 17)}) % 2147483647) AS xs
           FROM sh),
    sig AS (SELECT $keep,
              [list_min(list_transform(xs, x ->
                 (((2654435761 * (2*j + 1) * (2*j + 1) + 104729 * (2*j + 1)) % 2147483646 + 1) * x
                + (2654435761 * (2*j + 2) * (2*j + 2) + 104729 * (2*j + 2)) % 2147483647) % 2147483647))
               for j in range(0, $k)] AS sig
            FROM hw)"""

  // The threshold-derived banding the shared near-dup chain runs at:
  // the q27/q61/q91/q104 family operates at J >= 0.5, so the banding
  // is Pipeline.bandingFor(0.5) — (40 bands x 3 rows, k=120) at the
  // default 0.995 recall target. Mirrored here so the oracle CTEs
  // regenerate in lockstep with any calibration change.
  private[graft] val (lshBands05, lshRows05) = Pipeline.bandingFor(0.5)
  private[graft] val lshK05: Int = lshBands05 * lshRows05

  // The pinned centroid panel of the embedding queries (PQ codebooks,
  // centroid assignment, SemDeDup): every 101st vector below 10100.
  // `PinnedCentroidsSql` is the oracle's filter for it.
  private[graft] def pinnedCentroids(s: SparkSession, d: String): DataFrame =
    embeddings(s, d).filter(col("vec_id") % 101 === 0 && col("vec_id") < 10100)
  private[graft] val PinnedCentroidsSql = "vec_id % 101 = 0 AND vec_id < 10100"

  // The product-quantization codebook (q257, q268): each pinned
  // centroid's 4 sixteen-dim subvectors as `(code, sub_idx, cs)`.
  private def pqCodebook(s: SparkSession, d: String): DataFrame =
    pinnedCentroids(s, d)
      .select(col("vec_id").as("code"),
        explode(expr(
          "transform(sequence(0, 3)," +
            " x -> struct(x AS sub_idx," +
            " slice(embedding, x * 16 + 1, 16) AS cs))")).as("_e"))
      .select(col("code"), col("_e.sub_idx"), col("_e.cs"))

  // The IVF oracle over `vec_id % 8` cells (q52, q268): the vectors
  // `t(vec_id, cell, v)`, the per-cell centroid means `cent(cell, cv)`
  // ([[Similarity.ivfIndex]]), the query `q(qv)` (vector 0) and its 2
  // probed cells `pc(cell)`.
  private val ivfProbeCtes = s"""
        t AS (SELECT vec_id, vec_id % 8 AS cell, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        cent AS (SELECT cell, list(m ORDER BY d) AS cv FROM (
                   SELECT cell, d, avg(x) AS m FROM (
                     SELECT cell, unnest(v) AS x, unnest(range(1, 65)) AS d FROM t) u
                   GROUP BY cell, d) g
                 GROUP BY cell),
        q AS (SELECT v AS qv FROM t WHERE vec_id = 0),
        pc AS (SELECT cent.cell FROM cent CROSS JOIN q
               ORDER BY ${cos("qv", "cv")} DESC, cent.cell LIMIT 2)"""

  // The centroid-assignment oracle (q77, q90): the vectors
  // `t(vec_id, v)`, the pinned centroids `c(centroid_id, cv)` and each
  // vector's cosine to each centroid, `p(vec_id, centroid_id, cosine)`.
  private val centroidCosineCtes = s"""
        t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        c AS (SELECT vec_id AS centroid_id, v AS cv FROM t
              WHERE $PinnedCentroidsSql),
        p AS (SELECT t.vec_id, centroid_id, ${cos("v", "cv")} AS cosine
              FROM t CROSS JOIN c)"""

  // The temperature-mix oracle's language totals (q87, q93): docs per
  // language `c(lang, n)`, and `tot(tot_n, tot_sn)`, the sums of n and
  // sqrt(n) folded over the lang-sorted list as
  // [[ops.Sampling.temperatureMix]] folds them.
  private val langTotalsCtes = """
        c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY lang),
        tot AS (SELECT
                  list_reduce(list(CAST(n AS DOUBLE) ORDER BY lang), (a, b) -> a + b) AS tot_n,
                  list_reduce(list(sqrt(CAST(n AS DOUBLE)) ORDER BY lang), (a, b) -> a + b) AS tot_sn
                FROM c)"""

  // SemDeDup's oracle tail (q90, q102) over `a(vec_id, centroid_id, v)`:
  // within a centroid, the later vector of every pair at cosine >= 0.4
  // is dropped.
  private[graft] val semSurvivorsSql = s"""
        losers AS (SELECT DISTINCT y.vec_id FROM a x JOIN a y
                   ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id
                   WHERE ${cos("x.v", "y.v")} >= 0.4)
        SELECT vec_id, centroid_id FROM a
        WHERE vec_id NOT IN (SELECT vec_id FROM losers)
        ORDER BY vec_id"""

  // Banded-bucket + candidate-pair CTE fragment over a `sig` CTE, at
  // an explicit (bands, rows) banding (bucket hash = 60-bit fold of
  // the md5 of the '|'-joined band slice — mirrors Pipeline.lshBands).
  private[graft] def bandedCandCte(bands: Int, rows: Int): String = s""",
    banded AS (SELECT doc_id, b, ${hash60(s"array_to_string(sig[b*$rows+1 : b*$rows+$rows], '|')")} AS bh
               FROM sig CROSS JOIN (SELECT unnest(range(0, $bands)) AS b)),
    cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
             FROM banded x JOIN banded y
               ON x.b = y.b AND x.bh = y.bh AND x.doc_id < y.doc_id)"""

  // The decontamination oracle's cross-corpus chain (q61, q80): the
  // shingles and MinHash signatures with their source, and the LSH
  // candidates pairing a train doc (a_id, source <> 'src0') with a
  // test doc (b_id, source 'src0') — Pipeline.lshCrossCandidates.
  private val crossCandCtes = s"""
        w AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
        sh AS (SELECT doc_id, source,
                 list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)]) AS shingles
               FROM w WHERE len(w) >= 3),${minhashSigCte("doc_id, source", lshK05)},
        banded AS (SELECT doc_id, source, b, ${hash60(s"array_to_string(sig[b*$lshRows05+1 : b*$lshRows05+$lshRows05], '|')")} AS bh
                   FROM sig CROSS JOIN (SELECT unnest(range(0, $lshBands05)) AS b)),
        cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
                 FROM banded x JOIN banded y ON x.b = y.b AND x.bh = y.bh
                 WHERE x.source <> 'src0' AND y.source = 'src0')"""

  // Shared oracle CTE chain: shingles -> k-permutation MinHash ->
  // banded buckets -> candidate pairs, at the J>=0.5 threshold-derived
  // banding above. Every consumer (q26/q27/q84/q91/q104/q108) bands
  // identically to the Scala side's lshK05/lshBands05.
  private[graft] val lshCte = shinglesCte + "," +
    minhashSigCte("doc_id", lshK05) + bandedCandCte(lshBands05, lshRows05)

  // Oracle mirror of Pipeline.rhpProbeBuckets: the bucket itself plus
  // its 4 hamming-1 neighbours (multi-probe LSH).
  private def probesSql(bucket: String): String =
    s"list_concat([$bucket], [xor($bucket, (1 << p)) for p in range(0, 4)])"

  /** Language-ID profiles: char-bigram markers per language, scored by
    * occurrence count in the text. Ties break in Seq order (argmax via
    * a first-wins when-chain) — the oracle CASE mirrors the same order.
    */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("er", "in", "an"),
    "en" -> Seq("th", "er", "in"),
    "es" -> Seq("ar", "or", "at"),
    "fr" -> Seq("er", "an", "or"),
    "zh" -> Seq("st", "ow", "ta"))

  /** The q32 language-ID scorer — one rendering per engine, shared by
    * every query that scores a text expression with it (q32, q134,
    * q248, q269, and q273 over `text` and its first half). Oracle
    * side: per-language bigram occurrence sums `(lang, sum)` over
    * `text`, and the first-wins `CASE` argmax over their `s_<lang>`
    * aliases. Engine side: the same sums (as `s_<lang>` columns over
    * `text` in [[langScoreCols]]) and the [[Pipeline.argmaxLabel]]
    * form of the argmax (same label, each score evaluated once).
    */
  private[graft] def langScoreSums(text: String = "text"): Seq[(String, String)] =
    LangProfiles.map { case (l, bgs) =>
      l -> bgs.map(bg =>
        s"(length($text) - length(replace($text, '$bg', '')))").mkString(" + ")
    }
  private[graft] def langScoresSql(text: String = "text"): String =
    langScoreSums(text).map { case (l, sum) => s"($sum) AS s_$l" }.mkString(", ")
  private[graft] val langArgmaxSql: String = {
    val langs = LangProfiles.map(_._1)
    val cases = langs.init.map { l =>
      val geAll = langs.filter(_ != l).map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"WHEN $geAll THEN '$l'"
    }.mkString(" ")
    s"CASE $cases ELSE '${langs.last}' END"
  }
  private[graft] def langScores(text: Column): Seq[(String, Column)] =
    LangProfiles.map { case (l, bgs) =>
      l -> bgs.map(occurrences2x(text, _)).reduce(_ + _)
    }
  private[graft] def langScoreCols: Seq[Column] =
    langScores(col("text")).map { case (l, score) => score.as(s"s_$l") }
  private[graft] def langArgmax: Column =
    argmaxLabel(LangProfiles.map { case (l, _) => l -> col(s"s_$l") })

  /** Exact prefix-filtered set-similarity join ([[ops.SetSim
    * .prefixFilterJoin]] — full PPJoin: prefix + length + positional
    * filters, all lossless): BIGRAM-shingle Jaccard >= 0.9 pairs.
    * Tokens are word 2-shingles, not words: the synthetic corpus
    * shares one tiny vocabulary, so word SETS are ambient-similar
    * (~965k word-set pairs >= 0.9 at sf0.1 — the output itself is
    * quadratic) while shingle sets encode ORDER and stay
    * discriminative (254 pairs at sf0.1, measured). Shingles ride as 60-bit
    * md5 keys (the round-8 join-key-narrowing recipe: long joins and
    * long-array intersects, ~2x the string form; collision odds at
    * 25M distinct shingles are ~3e-4 — the q140 argument). Two planted
    * near-identical docs prove the detector; threshold arithmetic is
    * the 9/10 integer fraction on both engines.
    */
  private lazy val q251: QueryDef =
    QueryDef("q251_prefix_filter_join",
      Some(s"""
        WITH corpus AS (SELECT doc_id, text FROM documents
                UNION ALL SELECT 9000001, 'p0 p1 p2 p3 p4 p5 p6 p7 p8 p9 pa pb pc pd pe pf pg ph pi z0'
                UNION ALL SELECT 9000002, 'p0 p1 p2 p3 p4 p5 p6 p7 p8 p9 pa pb pc pd pe pf pg ph pi z1'),
        wl AS (SELECT doc_id AS id, string_split(text, ' ') AS l FROM corpus),
        tk AS (SELECT id,
                 unnest([l[i] || ' ' || l[i+1] for i in range(1, len(l))]) AS sh
               FROM wl WHERE len(l) >= 2),
        tok AS (SELECT DISTINCT id, ${hash60("sh")} AS tok FROM tk),
        sz AS (SELECT id, COUNT(*) AS sz FROM tok GROUP BY id),
        dfx AS (SELECT tok, COUNT(*) AS df FROM tok GROUP BY tok),
        rk AS (SELECT t.id, t.tok,
                 ROW_NUMBER() OVER (PARTITION BY t.id ORDER BY d.df, t.tok) AS rn,
                 s.sz
               FROM tok t JOIN dfx d USING (tok) JOIN sz s USING (id)),
        pfh AS (SELECT id, tok, rn, sz FROM rk
                WHERE rn <= sz - ((9 * sz + 9) // 10) + 1),
        pfl AS (SELECT id, tok, rn, sz FROM rk
                WHERE rn <= sz - ((18 * sz + 18) // 19) + 1),
        cand AS (SELECT DISTINCT a.id AS a_id, b.id AS b_id
                 FROM pfl a JOIN pfh b ON a.tok = b.tok
                   AND (a.sz < b.sz OR (a.sz = b.sz AND a.id < b.id))
                   AND a.sz * 10 >= b.sz * 9
                   AND least(a.sz - a.rn, b.sz - b.rn) + 1
                       >= (9 * (a.sz + b.sz) + 18) // 19),
        da AS (SELECT id, list(tok) AS arr FROM tok GROUP BY id),
        inter AS (SELECT c.a_id, c.b_id,
                    len(list_intersect(a.arr, b.arr)) AS n_inter,
                    len(a.arr) + len(b.arr) AS stot
                  FROM cand c JOIN da a ON a.id = c.a_id
                              JOIN da b ON b.id = c.b_id)
        SELECT LEAST(a_id, b_id) AS a_id, GREATEST(a_id, b_id) AS b_id,
               CAST(n_inter AS BIGINT) AS n_inter,
               CAST(stot - n_inter AS BIGINT) AS n_union,
               CAST(n_inter * 1000000 // (stot - n_inter) AS BIGINT)
                 AS jaccard_ppm
        FROM inter
        WHERE n_inter * 10 >= (stot - n_inter) * 9
        ORDER BY a_id, b_id"""),
      (s, d) => {
        import s.implicits._
        val corpus = spread(documents(s, d)).select("doc_id", "text")
          .unionAll(Seq(
            (9000001L, "p0 p1 p2 p3 p4 p5 p6 p7 p8 p9 pa pb pc pd pe pf pg ph pi z0"),
            (9000002L, "p0 p1 p2 p3 p4 p5 p6 p7 p8 p9 pa pb pc pd pe pf pg ph pi z1"))
            .toDF("doc_id", "text"))
        graft.ops.SetSim.prefixFilterJoin(
            corpus
              .select(col("doc_id"),
                explode(graft.Pipeline.wordShingles(
                  split(col("text"), " "), 2)).as("_sh"))
              .select(col("doc_id"),
                graft.Pipeline.wordHash60(col("_sh")).as("tok")),
            "doc_id", "tok", tNum = 9, tDen = 10)
          .orderBy("a_id", "b_id")
      })

  /** Product-quantization code assignment ([[Similarity.pqAssign]]):
    * 64-dim vectors split into 4 subspaces, each assigned its
    * argmin-L2 code from the PINNED <=100-centroid panel's slices —
    * storage drops 64 floats -> 4 codes, the IVF+PQ memory step. One
    * explode + one broadcast join + one grouped argmin; L2 is the
    * index-ordered fold both engines compute identically.
    */
  private lazy val q257: QueryDef =
    QueryDef("q257_pq_assign",
      Some(s"""
        WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        c AS (SELECT vec_id AS code, v AS cv FROM t
              WHERE $PinnedCentroidsSql),
        subs AS (SELECT unnest([0, 1, 2, 3]) AS sub_idx),
        sv AS (SELECT vec_id, sub_idx,
                 list_slice(v, sub_idx * 16 + 1, sub_idx * 16 + 16) AS s
               FROM t CROSS JOIN subs),
        cb AS (SELECT code, sub_idx,
                 list_slice(cv, sub_idx * 16 + 1, sub_idx * 16 + 16) AS cs
               FROM c CROSS JOIN subs),
        dist AS (SELECT sv.vec_id, sv.sub_idx, cb.code,
                   ${sqDist("sv.s", "cb.cs", 16)} AS d2
                 FROM sv JOIN cb USING (sub_idx)),
        r AS (SELECT vec_id, sub_idx, code, ROW_NUMBER() OVER (
                PARTITION BY vec_id, sub_idx ORDER BY d2, code) AS rn
              FROM dist)
        SELECT vec_id, CAST(sub_idx AS BIGINT) AS sub_idx, code
        FROM r WHERE rn = 1 ORDER BY vec_id, sub_idx"""),
      (s, d) => {
        val cb = pqCodebook(s, d)
        graft.Similarity.pqAssign(spread(embeddings(s, d)), "vec_id",
            "embedding", cb, "code", "sub_idx", "cs", m = 4, dims = 64)
          .select(col("vec_id"), col("sub_idx").cast("long").as("sub_idx"),
            col("code"))
          .orderBy("vec_id", "sub_idx")
      })

  /** Weighted set-similarity join ([[ops.SetSim
    * .weightedPrefixFilterJoin]]): idf-weighted Jaccard >= 9/10 over
    * bigram-shingle tokens, weights `greatest(1e6 div df, 1)` ppm —
    * rare shared shingles dominate, ambient vocabulary fades, which
    * is why retrieval dedup weights its tokens. The oracle is the
    * BRUTE-FORCE posting join (every pair sharing >= 1 token, exact
    * weighted intersection/union) — a stronger check than replaying
    * the filters: the engine's prefix + length + positional pruning
    * must reproduce the unfiltered answer exactly. Threshold 9/10
    * (q251's bar): idf weighting makes ONE differing word expensive
    * (a unique bigram carries maximal weight), so the planted 40-word
    * copy pair differing only in its last word scores 38 shared
    * df=2 bigrams x 5e5 over (that + 2 unique df=1 bigrams x 1e6) =
    * 19e6/21e6 = 0.9047 — just over the bar — while q251's 20-word
    * plants (0.9 UNWEIGHTED) score only 0.818 weighted and fall
    * under it: the weighted and unweighted joins genuinely rank
    * pairs differently, which is the point. A 4/5 threshold was
    * measured first and kept as a PLANS.md negative result: on this
    * no-Zipf-tail corpus the 0.8-bar prefixes hold ~20% of every
    * doc's weight and the candidate join degenerates (221 s at
    * sf10).
    */
  private lazy val q265: QueryDef =
    QueryDef("q265_weighted_setsim_join",
      Some(s"""
        WITH corpus AS (SELECT doc_id, text FROM documents
                UNION ALL SELECT 9000001, 'q0 q1 q2 q3 q4 q5 q6 q7 q8 q9 q10 q11 q12 q13 q14 q15 q16 q17 q18 q19 q20 q21 q22 q23 q24 q25 q26 q27 q28 q29 q30 q31 q32 q33 q34 q35 q36 q37 q38 y0'
                UNION ALL SELECT 9000002, 'q0 q1 q2 q3 q4 q5 q6 q7 q8 q9 q10 q11 q12 q13 q14 q15 q16 q17 q18 q19 q20 q21 q22 q23 q24 q25 q26 q27 q28 q29 q30 q31 q32 q33 q34 q35 q36 q37 q38 y1'),
        wl AS (SELECT doc_id AS id, string_split(text, ' ') AS l FROM corpus),
        tk AS (SELECT id,
                 unnest([l[i] || ' ' || l[i+1] for i in range(1, len(l))]) AS sh
               FROM wl WHERE len(l) >= 2),
        tok AS (SELECT DISTINCT id, ${hash60("sh")} AS tok FROM tk),
        dfx AS (SELECT tok, COUNT(*) AS df FROM tok GROUP BY tok),
        w AS (SELECT tok, GREATEST(1000000 // df, 1) AS wt FROM dfx),
        tw AS (SELECT id, SUM(wt) AS tw FROM tok JOIN w USING (tok)
               GROUP BY id),
        pi AS (SELECT a.id AS a_id, b.id AS b_id, SUM(w.wt) AS w_inter
               FROM tok a JOIN tok b ON a.tok = b.tok AND a.id < b.id
               JOIN w ON w.tok = a.tok
               GROUP BY 1, 2),
        j AS (SELECT a_id, b_id, w_inter,
                ta.tw + tb.tw - w_inter AS w_union
              FROM pi JOIN tw ta ON ta.id = a_id
                      JOIN tw tb ON tb.id = b_id)
        SELECT a_id, b_id, CAST(w_inter AS BIGINT) AS w_inter,
               CAST(w_union AS BIGINT) AS w_union,
               CAST(w_inter * 1000000 // w_union AS BIGINT) AS wjaccard_ppm
        FROM j WHERE w_inter * 10 >= w_union * 9
        ORDER BY a_id, b_id"""),
      (s, d) => {
        import s.implicits._
        val corpus = spread(documents(s, d)).select("doc_id", "text")
          .unionAll(Seq(
            (9000001L, "q0 q1 q2 q3 q4 q5 q6 q7 q8 q9 q10 q11 q12 q13 q14 q15 q16 q17 q18 q19 q20 q21 q22 q23 q24 q25 q26 q27 q28 q29 q30 q31 q32 q33 q34 q35 q36 q37 q38 y0"),
            (9000002L, "q0 q1 q2 q3 q4 q5 q6 q7 q8 q9 q10 q11 q12 q13 q14 q15 q16 q17 q18 q19 q20 q21 q22 q23 q24 q25 q26 q27 q28 q29 q30 q31 q32 q33 q34 q35 q36 q37 q38 y1"))
            .toDF("doc_id", "text"))
        // distinct bigram shingles as 60-bit keys (wordShingles
        // already distincts per doc, so df below is doc frequency)
        val toks = corpus
          .select(col("doc_id"),
            explode(graft.Pipeline.wordShingles(
              split(col("text"), " "), 2)).as("_sh"))
          .select(col("doc_id"),
            graft.Pipeline.wordHash60(col("_sh")).as("tok"))
        val w = toks.groupBy("tok").agg(count(lit(1)).as("df"))
          .select(col("tok"),
            greatest(expr("1000000L div df"), lit(1L)).as("wt"))
        graft.ops.SetSim.weightedPrefixFilterJoin(
            toks.join(w, "tok"), "doc_id", "tok", "wt", tNum = 9, tDen = 10)
          .orderBy("a_id", "b_id")
      })

  /** IVF+PQ (IVFADC) search ([[Similarity.ivfPqTopK]]): q52's coarse
    * probe COMPOSED with q257's product quantization — candidates in
    * the 2 probed cells are ranked through their 4 PQ codes against a
    * broadcast asymmetric-distance table, never a full-vector scan.
    * Cells, query, and nProbe are exactly q52's, so its measured
    * ~0.013 centroid-ranking margin at the probe boundary carries
    * over (centroid means only pick WHICH cells are probed); the ADC
    * distances themselves are micro-long floors of index-ordered
    * folds — exact in both engines. Codebook = the pinned <=100-row
    * panel (q257's, absolute id bounds).
    */
  private lazy val q268: QueryDef =
    QueryDef("q268_ivfpq_search",
      Some(s"""
        WITH $ivfProbeCtes,
        cb AS (SELECT vec_id AS code, v AS cvec FROM t
               WHERE $PinnedCentroidsSql),
        subs AS (SELECT unnest([0, 1, 2, 3]) AS sub_idx),
        dt AS (SELECT sub_idx, code,
                 CAST(floor(${sqDist("qs", "cs", 16)} * 1000000.0) AS BIGINT) AS d2_micro
               FROM (SELECT sub_idx, code,
                       list_slice(qv, sub_idx * 16 + 1, sub_idx * 16 + 16) AS qs,
                       list_slice(cvec, sub_idx * 16 + 1, sub_idx * 16 + 16) AS cs
                     FROM cb CROSS JOIN subs CROSS JOIN q)),
        cand AS (SELECT t.vec_id, t.v FROM t JOIN pc ON t.cell = pc.cell
                 WHERE t.vec_id <> 0),
        sv AS (SELECT vec_id, sub_idx,
                 list_slice(v, sub_idx * 16 + 1, sub_idx * 16 + 16) AS s
               FROM cand CROSS JOIN subs),
        cbs AS (SELECT code, sub_idx,
                  list_slice(cvec, sub_idx * 16 + 1, sub_idx * 16 + 16) AS cs
                FROM cb CROSS JOIN subs),
        dist AS (SELECT sv.vec_id, sv.sub_idx, cbs.code,
                   ${sqDist("sv.s", "cbs.cs", 16)} AS d2
                 FROM sv JOIN cbs USING (sub_idx)),
        r AS (SELECT vec_id, sub_idx, code, ROW_NUMBER() OVER (
                PARTITION BY vec_id, sub_idx ORDER BY d2, code) AS rn
              FROM dist)
        SELECT r.vec_id, CAST(SUM(dt.d2_micro) AS BIGINT) AS adc_d2_micro
        FROM r JOIN dt ON r.sub_idx = dt.sub_idx AND r.code = dt.code
        WHERE rn = 1
        GROUP BY r.vec_id
        ORDER BY adc_d2_micro, vec_id LIMIT 10"""),
      (s, d) => {
        val e = spread(embeddings(s, d)).withColumn("cell", col("vec_id") % 8)
        val cb = pqCodebook(s, d)
        graft.Similarity.ivfPqTopK(e, "vec_id", "embedding", "cell",
            graft.Similarity.ivfIndex(e, "embedding", "cell"),
            cb, "code", "sub_idx", "cs", m = 4, dims = 64,
            queryId = 0L, k = 10, nProbe = 2)
          .orderBy("adc_d2_micro", "vec_id")
      })

  // q276's fixed-iteration integer power-iteration trajectory,
  // unrolled for the oracle (each block = one G'v multiply, one
  // corrected integer sqrt, one renormalize — HUGEINT throughout,
  // truncating division like the engine's BigInt).
  private def pcaIterCtes(iters: Int): String =
    (1 to iters).map { t =>
      val prev = if (t == 1) "v0" else s"v${t - 1}"
      s"""
        u$t AS MATERIALIZED (SELECT g.i, SUM(g.gp * $prev.v) AS u
                FROM gp g JOIN $prev ON g.j = $prev.i GROUP BY g.i),
        n$t AS (SELECT SUM(u * u) AS n2,
                  CAST(floor(sqrt(CAST(SUM(u * u) AS DOUBLE))) AS HUGEINT)
                    AS s0
                FROM u$t),
        s$t AS (SELECT GREATEST(list_max(list_filter(
                  [s0 - 2, s0 - 1, s0, s0 + 1, s0 + 2],
                  t -> t * t <= n2)), 1) AS nrm FROM n$t),
        v$t AS (SELECT i, u * 1000000 // nrm AS v
                FROM u$t CROSS JOIN s$t)"""
    }.mkString(",")

  /** Top principal direction of the embedding second-moment matrix
    * ([[Similarity.topPrincipalComponent]]): milli-quantized
    * components, one distributed DECIMAL gram pass, then 12
    * all-integer power iterations on the bounded 64x64 panel —
    * anisotropy audit (`ev_ppm` = top-eigenvalue share of trace) and
    * the first step of whitening. The oracle replays the exact
    * integer trajectory, including the corrected floor-sqrt
    * normalizer, so convergence is irrelevant to correctness.
    */
  private lazy val q276: QueryDef = {
    val dims = 64
    val iters = 12
    val v0 = (BigInt(1000000) / Similarity.isqrtPortable(BigInt(dims)))
      .toString
    QueryDef("q276_top_principal_component",
      Some(s"""
        WITH x AS (SELECT list_transform(CAST(embedding AS DOUBLE[]),
                     e -> CAST(floor(e * 1000) AS HUGEINT)) AS xq
                   FROM embeddings),
        flat AS (SELECT xq, unnest(range(0, $dims)) AS i FROM x),
        idx AS (SELECT unnest(range(0, $dims)) AS i),
        cells AS MATERIALIZED (SELECT f.i AS i, j.i AS j,
                    COALESCE(SUM(f.xq[f.i + 1] * f.xq[j.i + 1]), 0) AS g
                  FROM flat f CROSS JOIN idx j
                  GROUP BY 1, 2),
        gs AS (SELECT GREATEST(MAX(abs(g)) // 1000000, 1) AS gsc
               FROM cells),
        gp AS MATERIALIZED (SELECT i, j, g // gsc AS gp
               FROM cells CROSS JOIN gs),
        v0 AS (SELECT i, $v0::HUGEINT AS v FROM idx),
        ${pcaIterCtes(iters)},
        sg AS (SELECT CASE WHEN (SELECT v FROM v$iters WHERE v <> 0
                                 ORDER BY i LIMIT 1) < 0
                           THEN -1 ELSE 1 END AS s),
        vf AS (SELECT i, v * s AS v FROM v$iters CROSS JOIN sg),
        nm AS (SELECT SUM(vi.v * c.g * vj.v) AS num
               FROM cells c JOIN vf vi ON vi.i = c.i
                            JOIN vf vj ON vj.i = c.j),
        dn AS (SELECT GREATEST(SUM(v * v), 1) AS den FROM vf),
        tr AS (SELECT GREATEST(SUM(g), 1) AS trace FROM cells
               WHERE i = j)
        SELECT CAST(i AS BIGINT) AS dim_idx, CAST(v AS BIGINT) AS v_micro,
               CAST(num // den AS BIGINT) AS lambda_micro,
               CAST(num * 1000000 // (den * trace) AS BIGINT) AS ev_ppm
        FROM vf CROSS JOIN nm CROSS JOIN dn CROSS JOIN tr
        ORDER BY dim_idx"""),
      (s, d) => graft.Similarity.topPrincipalComponent(
          spread(embeddings(s, d)), "embedding", dims = dims,
          iters = iters)
        .orderBy("dim_idx"))
  }

  val all: Seq[QueryDef] = Seq(q251, q257, q265, q268, q276,

    // ===== Deduplication =====

    // Exact dedup: hash-groupBy on content hash. At 100 TB this is one
    // shuffle on md5(text) with map-side partial counts; the per-source
    // summary shape keeps the result bounded regardless of corpus size.
    QueryDef("q24_exact_dedup",
      Some("""
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_distinct,
               CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) AS n_dups
        FROM documents GROUP BY source ORDER BY source"""),
      (s, d) => documents(s, d)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
             countDistinct(md5(col("text"))).as("n_distinct"),
             (count(lit(1)) - countDistinct(md5(col("text")))).as("n_dups"))
        .orderBy("source")),

    // Canonical-fingerprint dedup: md5 of the sorted distinct token set
    // (robust to token order/multiplicity). Same single-shuffle shape.
    QueryDef("q25_fingerprint_dedup",
      Some("""
        WITH fp AS (
          SELECT lang,
                 md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
          FROM documents)
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_fingerprints
        FROM fp GROUP BY lang ORDER BY lang"""),
      (s, d) => documents(s, d)
        .select(col("lang"), canonicalFingerprint(words(col("text"))).as("fp"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
             countDistinct(col("fp")).as("n_fingerprints"))
        .orderBy("lang")),

    // MinHash+LSH candidate pairs: shingle -> k-hash signature ->
    // threshold-derived bands (J>=0.5 operating point) -> equi-join on
    // (band, bucket). The join key is a hash bucket, so at scale this
    // is a plain shuffle-hash join with small buckets — never a
    // cartesian.
    QueryDef("q26_minhash_lsh_candidates",
      Some(s"""
        WITH $lshCte
        SELECT a_id, b_id FROM cand ORDER BY a_id, b_id"""),
      (s, d) => lshCandidatePairs(docShingles(s, d), "doc_id",
          lshK05, lshBands05)
        .orderBy("a_id", "b_id")),

    // The DICTIONARY-ENCODED exact verify ([[Dedup
    // .verifiedPairsHashed]]): same banding and candidates as q27, but
    // the verify join-backs ship 60-bit shingle hashes (8 B/shingle)
    // instead of raw n-gram strings — the at-scale verify form; the
    // oracle replays the identical hash fold, and the all-integer ppm
    // output makes the compare bit-exact.
    QueryDef("q138_verified_pairs_hashed",
      Some(s"""
        WITH $lshCte,$verifiedHashedSql"""),
      (s, d) => {
        val sh = Dedup.shingleSignatures(spread(documents(s, d)), "doc_id", "text")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        Dedup.verifiedPairsHashed(sh, "doc_id", threshold = 0.5,
            maxBucketSize = Int.MaxValue)
          .orderBy("a_id", "b_id")
      }),

    // LSH candidates verified by exact trigram Jaccard >= 0.5 — the
    // two-phase near-dup plan (cheap candidate generation, exact check
    // only on candidates) that survives 100x scale-up.
    QueryDef("q27_jaccard_neardup",
      Some(s"""
        WITH $lshCte
        SELECT c.a_id, c.b_id, $shingleJaccard AS jaccard
        $candShingles
        WHERE $shingleJaccard >= 0.5
        ORDER BY a_id, b_id"""),
      (s, d) => {
        // persisted signature frame (Dedup.shingleSignatures): the
        // candidate self-join and BOTH verify join-backs consume it, so
        // uncached the shingle+minhash pass would run three times —
        // the same reuse the decontamination operator gets. spread()
        // parallelizes the one CPU-heavy derivation (cache population);
        // everything downstream reads the cache
        val sh = Dedup.shingleSignatures(spread(documents(s, d)), "doc_id", "text")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val inter = size(array_intersect(col("sa"), col("sb")))
        lshCandidatePairs(sh, "doc_id", lshK05, lshBands05)
          .join(sh.select(col("doc_id").as("a_id"), col("shingles").as("sa")), "a_id")
          .join(sh.select(col("doc_id").as("b_id"), col("shingles").as("sb")), "b_id")
          .withColumn("jaccard",
            inter.cast(DoubleType) / (size(col("sa")) + size(col("sb")) - inter))
          .filter(col("jaccard") >= 0.5)
          .select("a_id", "b_id", "jaccard")
          .orderBy("a_id", "b_id")
      }),

    // SimHash near-dup: 32-bit signature via per-bit majority vote, then
    // pigeonhole-blocked pair join (4 byte chunks — any pair within
    // hamming distance 3 shares a chunk). Restricted to 4 sources to
    // bound the candidate set; the plan shape is scale-invariant.
    QueryDef("q28_simhash_neardup",
      Some(s"""
        WITH docs AS (SELECT * FROM documents WHERE source IN ('src0','src1','src2','src3')),
        toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM docs),${simhashCtes("w" -> "simhash")},
        chunked AS (SELECT doc_id, simhash, c, (simhash >> CAST(c*8 AS INTEGER)) & 255 AS chunk
                    FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS c)),
        pairs AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id,
                         CAST(bit_count(xor(x.simhash, y.simhash)) AS INTEGER) AS dist
                  FROM chunked x JOIN chunked y
                    ON x.c = y.c AND x.chunk = y.chunk AND x.doc_id < y.doc_id)
        SELECT a_id, b_id, dist FROM pairs WHERE dist <= 3 ORDER BY a_id, b_id"""),
      (s, d) => {
        val docs = spread(documents(s, d)
          .filter(col("source").isin("src0", "src1", "src2", "src3")))
        simhashPairs(simhash32(docs, "doc_id", "text"), "doc_id", 3)
          .orderBy("a_id", "b_id")
      }),

    // ===== Similarity search =====

    // Brute-force cosine top-k — the exact ANN baseline. Single pass
    // over the corpus with a broadcast 1-row query side; Spark plans
    // TakeOrderedAndProject (per-partition top-k, no global sort).
    QueryDef("q29_cosine_topk",
      Some(s"""
        WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 0),
        t AS (SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS w, q.v AS v
              FROM embeddings e, q WHERE e.vec_id <> 0)
        SELECT vec_id, ${cos("v", "w")} AS cosine
        FROM t ORDER BY cosine DESC, vec_id LIMIT 10"""),
      (s, d) => {
        val e = embeddings(s, d)
        val q = e.filter(col("vec_id") === 0)
          .select(asDouble(col("embedding")).as("v"))
        spread(e.filter(col("vec_id") =!= 0))
          .select(col("vec_id"), asDouble(col("embedding")).as("w"))
          .crossJoin(broadcast(q))
          .select(col("vec_id"),
            graft.plans.VectorExpressions.cosineSim(col("v"), col("w")).as("cosine"))
          .orderBy(col("cosine").desc, col("vec_id"))
          .limit(10)
      }),

    // LSH-bucketed ANN: 4 random hyperplanes -> 16 buckets; MULTI-PROBE
    // the query's bucket plus its 4 hamming-1 neighbours (~5/16 of the
    // corpus; single-bucket probing measured 0.14 recall at the match
    // thresholds this corpus exercises — see Pipeline.rhpProbeBuckets).
    // The scale path: buckets are a partitioning key, so each probe is
    // a pruned scan, and the signature is computed in the scan
    // projection (one pass).
    QueryDef("q30_ann_bucketed",
      Some(s"""
        WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        b AS (SELECT vec_id, v, ${OracleSql.rhpBucket("v")} AS bucket FROM t),
        q AS (SELECT unnest(${probesSql("bucket")}) AS qb, v AS qv
              FROM b WHERE vec_id = 0)
        SELECT b.vec_id, ${cos("qv", "v")} AS cosine
        FROM b JOIN q ON b.bucket = q.qb WHERE b.vec_id <> 0
        ORDER BY cosine DESC, vec_id LIMIT 5"""),
      (s, d) => {
        val withB = spread(embeddings(s, d))
          .select(col("vec_id"), asDouble(col("embedding")).as("w"))
          .withColumn("bucket", rhpBucket(col("w"), 64, 4))
        val q = withB.filter(col("vec_id") === 0)
          .select(explode(Pipeline.rhpProbeBuckets(col("bucket"), 4)).as("qb"),
            col("w").as("v"))
        withB.filter(col("vec_id") =!= 0)
          .join(broadcast(q), col("bucket") === col("qb"))
          .select(col("vec_id"),
            graft.plans.VectorExpressions.cosineSim(col("v"), col("w")).as("cosine"))
          .orderBy(col("cosine").desc, col("vec_id"))
          .limit(5)
      }),

    // Embedding near-dup: top-20 most-similar pairs, blocked by
    // MULTI-PROBE RHP buckets (pairs form within hamming-1 of each
    // other's bucket — still an equi-join on the probe key, and a pair
    // matches on exactly one probe so nothing is scored twice). The
    // ORDER BY is a total order (a_id, b_id unique), so the limit
    // boundary is deterministic regardless of cosine ties.
    QueryDef("q31_embedding_neardup",
      Some(s"""
        WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        b AS (SELECT vec_id, v, ${OracleSql.rhpBucket("v")} AS bucket FROM t),
        x2 AS (SELECT vec_id, v, unnest(${probesSql("bucket")}) AS probe FROM b),
        p AS (SELECT x.vec_id AS a_id, y.vec_id AS b_id,
                     x.v AS va, y.v AS vb
              FROM x2 x JOIN b y ON x.probe = y.bucket AND x.vec_id < y.vec_id)
        SELECT a_id, b_id, ${cos("va", "vb")} AS cosine
        FROM p ORDER BY cosine DESC, a_id, b_id LIMIT 20"""),
      (s, d) => {
        val withB = spread(embeddings(s, d))
          .select(col("vec_id"), asDouble(col("embedding")).as("w"))
          .withColumn("bucket", rhpBucket(col("w"), 64, 4))
        val withP = withB.withColumn("probe",
          explode(Pipeline.rhpProbeBuckets(col("bucket"), 4)))
        withP.as("x").join(withB.as("y"),
            col("x.probe") === col("y.bucket") && col("x.vec_id") < col("y.vec_id"))
          .select(col("x.vec_id").as("a_id"), col("y.vec_id").as("b_id"),
                  graft.plans.VectorExpressions.cosineSim(col("x.w"), col("y.w")).as("cosine"))
          .orderBy(col("cosine").desc, col("a_id"), col("b_id"))
          .limit(20)
      }),

    // ===== Text analysis =====

    // Language-ID: argmax of per-language char-bigram occurrence scores.
    // A deterministic n-gram heuristic (the corpus vocabulary carries no
    // real language signal, so accuracy is reported, not asserted).
    QueryDef("q32_langid",
      Some(s"""
        WITH scored AS (SELECT lang, ${langScoresSql()} FROM documents)
        SELECT $langArgmaxSql AS predicted,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN ($langArgmaxSql) = lang
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
        FROM scored GROUP BY 1 ORDER BY predicted"""),
      (s, d) => documents(s, d).select(col("lang") +: langScoreCols: _*)
        .withColumn("predicted", langArgmax)
        .groupBy("predicted")
        .agg(count(lit(1)).as("n"),
             sum(when(col("predicted") === col("lang"), 1).otherwise(0)).as("n_correct"))
        .orderBy("predicted")),

    // Quality scoring: token counts, type-token ratio, stopword ratio,
    // and a threshold classification — pure scan-side column math.
    QueryDef("q33_quality_score",
      Some(s"""
        WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        m AS (SELECT doc_id,
                CAST(len(w) AS BIGINT) AS n_tokens,
                CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct,
                CAST(len(list_filter(w, x -> list_contains(${StopWords.map("'" + _ + "'").mkString("[", ",", "]")}, x))) AS BIGINT) AS n_stop
              FROM w)
        SELECT doc_id, n_tokens, n_distinct,
               CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
               CAST(n_distinct AS DOUBLE) / n_tokens AS ttr,
               CASE WHEN n_tokens >= 30 AND CAST(n_stop AS DOUBLE) / n_tokens <= 0.35 THEN 'good'
                    WHEN n_tokens >= 15 THEN 'fair' ELSE 'low' END AS quality
        FROM m ORDER BY doc_id"""),
      (s, d) => {
        val w = words(col("text"))
        documents(s, d).select(
            col("doc_id"),
            size(w).cast(LongType).as("n_tokens"),
            size(array_distinct(w)).cast(LongType).as("n_distinct"),
            stopwordCount(w).cast(LongType).as("n_stop"))
          .withColumn("stop_ratio", col("n_stop").cast(DoubleType) / col("n_tokens"))
          .withColumn("ttr", col("n_distinct").cast(DoubleType) / col("n_tokens"))
          .withColumn("quality",
            when(col("n_tokens") >= 30 && col("stop_ratio") <= 0.35, "good")
              .when(col("n_tokens") >= 15, "fair").otherwise("low"))
          .select("doc_id", "n_tokens", "n_distinct", "stop_ratio", "ttr", "quality")
          .orderBy("doc_id")
      }),

    // Token counting + document fingerprinting: BPE-ish subword
    // estimate, order-robust set fingerprint, order-sensitive rolling
    // hash — all single-pass scan projections.
    QueryDef("q34_token_stats",
      Some(s"""
        WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        SELECT doc_id,
               CAST(len(w) AS BIGINT) AS n_ws_tokens,
               list_reduce(list_transform(w, t -> CAST(ceil(length(t) / 4.0) AS BIGINT)),
                           (a, b) -> a + b) AS n_subword,
               md5(array_to_string(list_sort(list_distinct(w)), ' ')) AS fingerprint,
               list_reduce(
                 list_transform(w, t ->
                   ${hash32("t")} % 1000000007),
                 (acc, h) -> (acc*31 + h) % 1000000007) AS rolling_hash
        FROM w ORDER BY doc_id"""),
      (s, d) => {
        val w = words(col("text"))
        documents(s, d).select(
            col("doc_id"),
            size(w).cast(LongType).as("n_ws_tokens"),
            subwordTokenCount(w).as("n_subword"),
            canonicalFingerprint(w).as("fingerprint"),
            rollingHash(w).as("rolling_hash"))
          .orderBy("doc_id")
      }),

    // BPE-ish regex tokenization: maximal vowel runs vs non-vowel runs.
    // The two alternation branches match DISJOINT character classes, so
    // leftmost-first (Java) and leftmost-longest (RE2/DuckDB) regex
    // engines produce identical token streams — engine-portable by
    // construction.
    QueryDef("q45_regex_tokens",
      Some("""
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
               CAST(len(regexp_extract_all(text, '[aeiou]+|[^aeiou ]+')) AS BIGINT) AS n_subword_regex
        FROM documents ORDER BY doc_id"""),
      (s, d) => documents(s, d).select(
          col("doc_id"),
          size(words(col("text"))).cast(LongType).as("n_ws_tokens"),
          size(regexp_extract_all(col("text"), lit("[aeiou]+|[^aeiou ]+"), lit(0)))
            .cast(LongType).as("n_subword_regex"))
        .orderBy("doc_id")),

    // ===== Multimodal plumbing =====

    // Media as opaque binary + typed metadata, decoded per-partition
    // via a typed Dataset mapPartitions (codec init amortized per
    // partition). The decode itself is a deterministic STUB
    // (Multimodal.FakeCodec) — the oracle replays it byte-for-byte.
    QueryDef("q35_multimodal_features",
      Some("""
        SELECT doc_id,
               CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS byte_len,
               CAST(1 + ascii(substr(text, 1, 1)) AS INTEGER) AS width,
               CAST(1 + ascii(substr(text, 2, 1)) AS INTEGER) AS height,
               CAST(1 + octet_length(CAST(text AS BLOB)) % 7 AS INTEGER) AS n_frames,
               md5(text) AS content_hash
        FROM documents ORDER BY doc_id"""),
      (s, d) => {
        import s.implicits._
        val media = documents(s, d)
          .select(col("doc_id"), col("text").cast(BinaryType).as("content"))
          .as[Multimodal.MediaDoc]
        Multimodal.decodeFeatures(media).toDF().orderBy("doc_id")
      }),

    // ===== Batch ANN / skew utilities (facade-level gate coverage) =====

    // k-NN JOIN: approximate top-k neighbours for EVERY query vector in
    // one pass — multi-probe RHP blocking (query side fans out to its
    // hamming-1 buckets, still an equi-join) + the custom GroupedTopK
    // operator's bounded per-query heaps. The oracle ranks candidates
    // with a window; tie-free on this data (verified over the
    // MULTI-PROBE candidate set: no duplicate embeddings, no equal
    // candidate cosines at sf0.01/0.1), so GroupedTopK's unspecified
    // tie-break cannot diverge.
    QueryDef("q50_knn_join",
      Some(s"""
        WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        b AS (SELECT vec_id, v, ${OracleSql.rhpBucket("v")} AS bucket FROM t),
        q AS (SELECT vec_id AS query_id, v AS qv, unnest(${probesSql("bucket")}) AS qb
              FROM b WHERE vec_id < 3),
        scored AS (SELECT q.query_id, b.vec_id AS corpus_id, ${cos("qv", "v")} AS cosine
                   FROM q JOIN b ON q.qb = b.bucket AND q.query_id <> b.vec_id),
        ranked AS (SELECT query_id, corpus_id, cosine,
                          ROW_NUMBER() OVER (PARTITION BY query_id
                                             ORDER BY cosine DESC, corpus_id) AS rn
                   FROM scored)
        SELECT query_id, corpus_id, cosine FROM ranked WHERE rn <= 5
        ORDER BY query_id, cosine DESC, corpus_id"""),
      (s, d) => {
        val e = spread(embeddings(s, d))
        Similarity.knnJoin(e.filter(col("vec_id") < 3), e, "vec_id", "embedding",
            k = 5, planes = 4)
          .orderBy(col("query_id"), col("cosine").desc, col("corpus_id"))
      }),

    // Hard-negative mining ([[Similarity.hardNegatives]]): per anchor,
    // the top-k most-similar DIFFERENT-label vectors — the contrastive-
    // training near-misses. Same RHP-bucket + multi-probe blocking as
    // q50 (the oracle replays the buckets); the label inequality rides
    // the candidate join, so same-label (false-negative) pairs are
    // never scored. Self-pairs need no explicit exclusion: an anchor
    // shares its own label. Candidate cosines are distinct per anchor
    // at sf0.01/0.1 (same q48/q50 argument), so GroupedTopK's
    // unspecified tie-break cannot diverge.
    QueryDef("q119_hard_negatives",
      Some(s"""
        WITH t AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        b AS (SELECT vec_id, label, v, ${OracleSql.rhpBucket("v")} AS bucket FROM t),
        q AS (SELECT vec_id AS anchor_id, label AS alabel, v AS qv,
                     unnest(${probesSql("bucket")}) AS qb
              FROM b WHERE vec_id < 5),
        scored AS (SELECT q.anchor_id, b.vec_id AS negative_id,
                          CAST(b.label AS BIGINT) AS negative_label,
                          ${cos("qv", "v")} AS cosine
                   FROM q JOIN b ON q.qb = b.bucket AND q.alabel <> b.label),
        ranked AS (SELECT anchor_id, negative_id, negative_label, cosine,
                          ROW_NUMBER() OVER (PARTITION BY anchor_id
                                             ORDER BY cosine DESC, negative_id) AS rn
                   FROM scored)
        SELECT anchor_id, negative_id, negative_label, cosine FROM ranked WHERE rn <= 5
        ORDER BY anchor_id, cosine DESC, negative_id"""),
      (s, d) => {
        val e = spread(embeddings(s, d))
          .withColumn("label", col("label").cast("long"))
        Similarity.hardNegatives(e.filter(col("vec_id") < 5), e, "vec_id",
            "embedding", "label", k = 5, planes = 4)
          .orderBy(col("anchor_id"), col("cosine").desc, col("negative_id"))
      }),

    // Salted two-stage aggregation (hot-key mitigation): the salt is
    // internal — the result is exactly groupBy(key), which is what the
    // oracle computes. DECIMAL sums keep the compare order-independent.
    QueryDef("q51_salted_agg",
      Some("""
        SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS total
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
      (s, d) => {
        val li = lineitem(s, d)
          .withColumn("_qty", col("l_quantity").cast(DecimalType(25, 6)))
        graft.ops.Skew.saltedCountSum(li, "l_returnflag", "_qty")
          .select(col("l_returnflag"), col("n"),
                  col("total").cast(DoubleType).as("total"))
          .orderBy("l_returnflag")
      }),

    // IVF-style ANN: coarse cells (vec_id % 8 stands in for an offline
    // quantizer), per-cell centroids, probe the nProbe nearest cells.
    // Centroid cosines only pick WHICH cells are probed (the output
    // cosines are exact index-ordered folds); the probed-cell ranking
    // margin is ~0.013 at the nProbe boundary — far beyond any
    // engine-side float-summation noise in the centroid means.
    QueryDef("q52_ivf_ann",
      Some(s"""
        WITH $ivfProbeCtes
        SELECT t.vec_id, ${cos("qv", "v")} AS cosine
        FROM t JOIN pc ON t.cell = pc.cell CROSS JOIN q
        WHERE t.vec_id <> 0
        ORDER BY cosine DESC, t.vec_id LIMIT 10"""),
      (s, d) => {
        // split index/probe form: the centroid build is a separate
        // reusable frame (at scale: computed once, persisted, probed
        // many times — see the PipelineSpec index-reuse test)
        val e = spread(embeddings(s, d)).withColumn("cell", col("vec_id") % 8)
        Similarity.ivfTopK(e, "vec_id", "embedding", "cell",
          Similarity.ivfIndex(e, "embedding", "cell"),
          queryId = 0, k = 10, nProbe = 2)
      }),

    // Frame sampling: every 2nd frame of each media doc as its own row
    // — the video-pipeline fan-out shape (Multimodal.sampleFrames,
    // previously spec-only). The oracle replays the stub codec's frame
    // count (1 + byte_len % 7); frame HASHES are asserted in
    // PipelineSpec instead — DuckDB 1.0 has no md5 over BLOBs, and the
    // hash input appends raw frame-index bytes.
    QueryDef("q55_frame_sampling",
      Some("""
        SELECT doc_id,
               CAST(unnest(range(0, 1 + octet_length(CAST(text AS BLOB)) % 7, 2)) AS INTEGER) AS frame_idx
        FROM documents ORDER BY doc_id, frame_idx"""),
      (s, d) => {
        import s.implicits._
        val media = documents(s, d)
          .select(col("doc_id"), col("text").cast(BinaryType).as("content"))
          .as[Multimodal.MediaDoc]
        Multimodal.sampleFrames(media, every = 2).toDF()
          .select("doc_id", "frame_idx")
          .orderBy("doc_id", "frame_idx")
      }),

    // Test-set decontamination: train docs (sources != src0) removed
    // when their trigram Jaccard vs ANY test doc (src0) reaches 0.5 —
    // LSH cross-corpus blocking + exact verify, the operator an LLM
    // pipeline runs before training. Output = the removed train ids.
    QueryDef("q61_decontamination",
      Some(s"""
        WITH $crossCandCtes
        SELECT DISTINCT c.a_id AS train_doc_id
        $candShingles
        WHERE $shingleJaccard >= 0.5
        ORDER BY train_doc_id"""),
      (s, d) => {
        // signed form: the CPU-heavy shingle pass is spread() across
        // cores and persisted ONCE per corpus. The query's output IS
        // the contaminated-id set, so it gates contaminatedIdsSigned
        // directly — deriving it as train \ decontaminate(train) would
        // re-run the anti-join and a second train scan only to invert
        // them (the anti-join wrapper is gated by q65's embedding form
        // and spec'd on the text side)
        val docs = documents(s, d)
        val train = docs.filter(col("source") =!= "src0")
        val test = docs.filter(col("source") === "src0")
        val disk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        val trainSig = Dedup.shingleSignatures(spread(train), "doc_id", "text")
          .persist(disk)
        val testSig = Dedup.shingleSignatures(spread(test), "doc_id", "text")
          .persist(disk)
        Dedup.contaminatedIdsSigned(trainSig, testSig, "doc_id", threshold = 0.5)
          .select(col("doc_id").as("train_doc_id"))
          .orderBy("train_doc_id")
      }),

    // Embedding-space decontamination: the semantic companion of q61 —
    // train vectors (vec_id >= 100) removed when cosine vs ANY test
    // vector (vec_id < 100) reaches 0.35, blocked by MULTI-PROBE RHP
    // buckets (test side fans out to hamming-1 neighbours: measured
    // blocking recall 0.14 -> 0.53 at this threshold). Cosines are
    // bit-exact index-ordered folds, and no candidate pair sits within
    // 2e-5 of the threshold (re-verified over the multi-probe candidate
    // set at sf0.01/0.1), so the boundary is safe.
    QueryDef("q65_embedding_decontamination",
      Some(s"""
        WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        b AS (SELECT vec_id, v, ${OracleSql.rhpBucket("v")} AS bucket FROM t),
        tr AS (SELECT vec_id, v, bucket FROM b WHERE vec_id >= 100),
        te AS (SELECT vec_id, v, unnest(${probesSql("bucket")}) AS probe
               FROM b WHERE vec_id < 100),
        scored AS (SELECT tr.vec_id AS a_id, ${cos("tr.v", "te.v")} AS c
                   FROM tr JOIN te ON tr.bucket = te.probe)
        SELECT DISTINCT a_id AS train_vec_id FROM scored WHERE c >= 0.35
        ORDER BY train_vec_id"""),
      (s, d) => {
        // signed form, same split as q61: bucket+cast derivation is
        // spread() + persisted once per corpus; anti-join/exceptAll
        // sides read the plain table
        val e = embeddings(s, d)
        val train = e.filter(col("vec_id") >= 100)
        val test = e.filter(col("vec_id") < 100)
        val disk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        val trainB = Dedup.embeddingBuckets(spread(train), "vec_id", "embedding",
            planes = 4)
          .persist(disk)
        val testB = Dedup.embeddingBuckets(spread(test), "vec_id", "embedding",
            planes = 4)
          .persist(disk)
        val kept = Dedup.decontaminateByEmbeddingSigned(
          train, trainB, testB, "vec_id", minCosine = 0.35)
        train.select("vec_id").exceptAll(kept.select("vec_id"))
          .select(col("vec_id").as("train_vec_id"))
          .orderBy("train_vec_id")
      }),

    // Window distribution functions: percent_rank / cume_dist / ntile.
    // The rank arithmetic is exact-integer division to double — the
    // same two ints divide on both engines, so even the doubles are
    // bit-equal; the o_orderkey tiebreak makes ntile deterministic.
    QueryDef("q56_window_distribution",
      Some("""
        SELECT o_orderkey,
               percent_rank() OVER w AS pr,
               cume_dist() OVER w AS cd,
               CAST(ntile(4) OVER w AS BIGINT) AS quartile
        FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
        ORDER BY o_orderkey"""),
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
        orders(s, d).select(
            col("o_orderkey"),
            percent_rank().over(w).as("pr"),
            cume_dist().over(w).as("cd"),
            ntile(4).over(w).cast(LongType).as("quartile"))
          .orderBy("o_orderkey")
      }),

    // ===== Corpus quality / mixing (round 4: C4/Gopher-family rules,
    // data mixing, batch construction) =====

    // Repetition scoring: duplicate-token and duplicate-trigram
    // fractions per doc (the boilerplate signal quality filters cut
    // on). Scan-side exact integer ratios to double — bit-identical
    // across engines; short docs yield NULL trigram fraction loudly.
    QueryDef("q66_repetition_score",
      Some("""
        WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
               1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS dup_token_frac,
               CASE WHEN len(w) >= 3 THEN
                 1.0 - CAST(len(list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)])) AS DOUBLE)
                     / (len(w) - 2)
               END AS dup_trigram_frac
        FROM w ORDER BY doc_id"""),
      (s, d) => {
        val w = words(col("text"))
        spread(documents(s, d)).select(col("doc_id"),
            size(w).cast(LongType).as("n_tokens"),
            duplicateTokenFraction(w).as("dup_token_frac"),
            duplicateShingleFraction(w, 3).as("dup_trigram_frac"))
          .orderBy("doc_id")
      }),

    // Composite quality gate (Gopher-style): token-count bounds, mean
    // word length bounds, minimum stopword evidence, repetition cap —
    // each component double is bit-identical across engines, so the
    // boolean thresholds cannot diverge.
    QueryDef("q67_quality_gate",
      Some("""
        WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
        m AS (SELECT doc_id, len(w) AS n,
                CAST(length(text) - (len(w) - 1) AS DOUBLE) / len(w) AS mwl,
                len(list_filter(w, x -> list_contains(['the','a','an','of','to','and','in','is'], x))) AS stopc,
                1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS rep
              FROM w)
        SELECT doc_id,
               n >= 15 AND n <= 100000 AS ok_tokens,
               mwl >= 2.0 AND mwl <= 12.0 AS ok_word_len,
               stopc >= 2 AS ok_stopwords,
               rep <= 0.6 AS ok_repetition,
               (n >= 15 AND n <= 100000) AND (mwl >= 2.0 AND mwl <= 12.0)
                 AND stopc >= 2 AND rep <= 0.6 AS passes
        FROM m ORDER BY doc_id"""),
      (s, d) => {
        val w = words(col("text"))
        val mwl = meanWordLength(col("text"), w)
        val okTokens = size(w) >= 15 && size(w) <= 100000
        val okWordLen = mwl >= 2.0 && mwl <= 12.0
        val okStop = stopwordCount(w) >= 2
        val okRep = duplicateTokenFraction(w) <= 0.6
        spread(documents(s, d)).select(col("doc_id"),
            okTokens.as("ok_tokens"), okWordLen.as("ok_word_len"),
            okStop.as("ok_stopwords"), okRep.as("ok_repetition"),
            (okTokens && okWordLen && okStop && okRep).as("passes"))
          .orderBy("doc_id")
      }),

    // Deterministic stratified sampling (data mixing): md5-hash slot
    // per doc vs per-source permille rates — the same sample every
    // run/engine/retry (the property a resumable 100 TB mixing job
    // needs), pure scan-side filter, no shuffle.
    QueryDef("q68_stratified_sample",
      Some(s"""
        WITH h AS (SELECT doc_id, source,
          ${hash32("CAST(doc_id AS VARCHAR)")} % 1000 AS slot
        FROM documents)
        SELECT doc_id, source FROM h
        WHERE slot < CASE source WHEN 'src0' THEN 1000 WHEN 'src1' THEN 500
                                 WHEN 'src2' THEN 250 ELSE 100 END
        ORDER BY doc_id"""),
      (s, d) => graft.ops.Sampling.stratified(documents(s, d), "doc_id", "source",
          Map("src0" -> 1000, "src1" -> 500, "src2" -> 250), defaultPermille = 100)
        .select("doc_id", "source")
        .orderBy("doc_id")),

    // Greedy contiguous sequence packing (training batch construction):
    // per-source token budget bins via one window over exact integer
    // cumulative sums — `div`/`//` integer division on both engines.
    QueryDef("q69_sequence_packing",
      Some("""
        WITH t AS (SELECT doc_id, source,
          list_reduce(list_transform(string_split(text, ' '),
                        x -> CAST(ceil(length(x) / 4.0) AS BIGINT)),
                      (a, b) -> a + b) AS n_tok
        FROM documents)
        SELECT doc_id, source, n_tok,
               CAST((COALESCE(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2048) AS BIGINT) AS bin
        FROM t ORDER BY doc_id"""),
      (s, d) => {
        val docs = spread(documents(s, d)).select(col("doc_id"), col("source"),
          subwordTokenCount(words(col("text"))).as("n_tok"))
        graft.ops.Sampling.packSequences(docs, "doc_id", "source", "n_tok", 2048L)
          .orderBy("doc_id")
      }),

    // 64-bit SimHash SIGNATURES: two independent 32-bit signatures
    // (plain + salted tokens, both the oracle-exact vote construction)
    // — the corpus-scale near-identical fingerprint whose pigeonhole
    // blocks carry 16 bits (65536-way selectivity vs q28's 256, which
    // saturates at corpus scale). No 64-bit fold anywhere (DuckDB's
    // signed BIGINT would overflow), so the arithmetic stays
    // engine-exact. The signature dump is the gate (this corpus has no
    // pairs at the strict 3-of-64 distance — the pair/dedup semantics
    // are spec'd on planted permutation duplicates).
    QueryDef("q71_simhash64_signatures",
      Some(s"""
        WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),${
          simhashCtes("w" -> "simhash_lo", "'x1_' || w" -> "simhash_hi")}
        SELECT * FROM sig ORDER BY doc_id"""),
      (s, d) => Pipeline.simhash64(spread(documents(s, d)), "doc_id", "text")
        .orderBy("doc_id")),

    // Corpus vocabulary heavy hitters: token explode -> global count
    // aggregate -> top-k. The explode amplifies rows, but the partial
    // (map-side) aggregate collapses them to one row per distinct token
    // per partition before the single shuffle, and the top-k is
    // TakeOrderedAndProject over the aggregated (bounded-cardinality)
    // child — the corpus-analysis shape behind vocabulary builds and
    // stopword mining. Ties break on the token, so the k boundary is
    // deterministic.
    QueryDef("q72_vocab_topk",
      Some("""
        WITH toks AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        SELECT w AS token, CAST(COUNT(*) AS BIGINT) AS n
        FROM toks GROUP BY w
        ORDER BY n DESC, token LIMIT 50"""),
      (s, d) => spread(documents(s, d))
        .select(explode(words(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(50)),

    // Embedding near-dup REMOVAL (the operator form of q31's pair
    // query): survivors after dropping each multi-probe-blocked pair's
    // higher id at cosine >= 0.35. NOT EXISTS mirrors the left-anti.
    QueryDef("q70_embedding_neardup_survivors",
      Some(s"""
        WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        b AS (SELECT vec_id, v, ${OracleSql.rhpBucket("v")} AS bucket FROM t),
        x2 AS (SELECT vec_id, v, unnest(${probesSql("bucket")}) AS probe FROM b),
        losers AS (SELECT DISTINCT y.vec_id
                   FROM x2 x JOIN b y ON x.probe = y.bucket AND x.vec_id < y.vec_id
                   WHERE ${cos("x.v", "y.v")} >= 0.35)
        SELECT t.vec_id FROM t WHERE t.vec_id NOT IN (SELECT vec_id FROM losers)
        ORDER BY t.vec_id"""),
      (s, d) => Dedup.nearByEmbedding(spread(embeddings(s, d)), "vec_id",
          "embedding", minCosine = 0.35, planes = 4)
        .select("vec_id")
        .orderBy("vec_id")),

    // ===== Round 6: PII, n-gram stats, TF-IDF, quantization,
    // clustering, curriculum ordering, batch shaping =====

    // PII redaction audit: regexes shared between Java and RE2 applied
    // scan-side (no shuffle, no UDF, inside whole-stage codegen). The
    // corpus carries no real PII, so the note column SYNTHESIZES a
    // contact line deterministically from customer fields; the gate
    // checks the redacted string char-exact plus the per-kind counts.
    QueryDef("q73_pii_redaction",
      Some(s"""
        WITH n AS (SELECT c_custkey,
          'reach ' || c_name || ' at user' || CAST(c_custkey AS VARCHAR) ||
          '@mail.example or +62-811-' || CAST(c_custkey % 10000 AS VARCHAR) ||
          ' from 10.0.' || CAST(c_custkey % 256 AS VARCHAR) || '.7' AS note
        FROM customer)
        SELECT c_custkey,
               regexp_replace(regexp_replace(regexp_replace(note,
                 '${ops.Redact.EmailPattern}', '<EMAIL>', 'g'),
                 '${ops.Redact.PhonePattern}', '<PHONE>', 'g'),
                 '${ops.Redact.Ipv4Pattern}', '<IP>', 'g') AS redacted,
               CAST(len(regexp_extract_all(note, '${ops.Redact.EmailPattern}')) AS BIGINT) AS n_emails,
               CAST(len(regexp_extract_all(note, '${ops.Redact.PhonePattern}')) AS BIGINT) AS n_phones,
               CAST(len(regexp_extract_all(note, '${ops.Redact.Ipv4Pattern}')) AS BIGINT) AS n_ips
        FROM n ORDER BY c_custkey"""),
      (s, d) => {
        val note = concat(lit("reach "), col("c_name"), lit(" at user"),
          col("c_custkey").cast(StringType), lit("@mail.example or +62-811-"),
          (col("c_custkey") % 10000).cast(StringType), lit(" from 10.0."),
          (col("c_custkey") % 256).cast(StringType), lit(".7"))
        spread(customer(s, d)).select(col("c_custkey"), note.as("note"))
          .select(col("c_custkey"),
            ops.Redact.pii(col("note")).as("redacted"),
            ops.Redact.emailCount(col("note")).as("n_emails"),
            ops.Redact.phoneCount(col("note")).as("n_phones"),
            ops.Redact.ipv4Count(col("note")).as("n_ips"))
          .orderBy("c_custkey")
      }),

    // Corpus bigram heavy hitters (the n-gram statistics behind LM
    // boilerplate detection and collocation mining). Adjacent-pair
    // construction via two shifted slices zipped in the scan; the
    // explode collapses through a map-side partial aggregate into ONE
    // shuffle, and the top-k is TakeOrderedAndProject — same shape as
    // q72's unigram vocabulary. Ties break on the bigram text.
    QueryDef("q74_bigram_topk",
      Some("""
        WITH w AS (SELECT string_split(text, ' ') AS w FROM documents),
        b AS (SELECT unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS bigram FROM w)
        SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
        FROM b GROUP BY bigram ORDER BY n DESC, bigram LIMIT 30"""),
      (s, d) => {
        val w = words(col("text"))
        val bigrams = zip_with(
          slice(w, lit(1), size(w) - 1),
          slice(w, lit(2), size(w) - 1),
          (a, b) => concat(a, lit(" "), b))
        spread(documents(s, d))
          .select(explode(bigrams).as("bigram"))
          .groupBy("bigram").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("bigram"))
          .limit(30)
      }),

    // TF-IDF keyword extraction: per-document top-3 tokens by an
    // ALL-INTEGER tf-idf score (tf * (1e6 * n_docs div df)) — integer
    // div keeps the score engine-exact where a float idf would be
    // summation-order bait. Two hash aggregations (doc-term, then term)
    // + a broadcast scalar + a doc-partitioned window: every stage
    // shuffles on a high-cardinality key, nothing serializes at scale.
    QueryDef("q75_tfidf_keywords",
      Some("""
        WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM toks GROUP BY doc_id, w),
        idf AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        s AS (SELECT doc_id, tf.w AS token,
                CAST(tf * ((1000000 * n_docs) // df) AS BIGINT) AS score
              FROM tf JOIN idf ON tf.w = idf.w CROSS JOIN n),
        r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                ORDER BY score DESC, token) AS rn FROM s)
        SELECT doc_id, CAST(rn AS BIGINT) AS rn, token, score
        FROM r WHERE rn <= 3 ORDER BY doc_id, rn"""),
      (s, d) => {
        val toks = spread(documents(s, d))
          .select(col("doc_id"), explode(words(col("text"))).as("w"))
        // persisted: tf feeds BOTH the scored join's left side and the
        // df aggregation — unpersisted, the token explode + first
        // aggregation execute twice (verified in the formatted plan).
        // Plan-keyed, so repeat builds share one entry.
        val tf = toks.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val idf = tf.groupBy("w").agg(count(lit(1)).as("df"))
        // the corpus size is resolved to a literal up front (a parquet
        // count is metadata-only; in a production pipeline N arrives
        // from the previous stage) — a scalar cross join would plan the
        // one nested-loop join the inventory-wide ban forbids, and a
        // constant-key equi-join gets folded right back into one
        val nDocs = documents(s, d).count()
        tf.join(idf, "w")
          .select(col("doc_id"), col("w").as("token"),
            (col("tf") * expr(s"(1000000 * ${nDocs}L) div df")).as("score"))
          .withColumn("rn", row_number().over(
            Window.partitionBy("doc_id")
              .orderBy(col("score").desc, col("token"))).cast(LongType))
          .filter(col("rn") <= 3)
          .select(col("doc_id"), col("rn"), col("token"), col("score"))
          .orderBy("doc_id", "rn")
      }),

    // Symmetric int8 embedding quantization (the storage/serving form
    // of an ANN corpus: 4x smaller than float32, exact max-abs scale
    // per vector). abs/max are IEEE-exact, the divide-then-round runs
    // on identical doubles on both engines, and both engines round
    // half away from zero — bit-identical int codes. Pure scan-side
    // array math: zero shuffle at any scale. The code vector is
    // serialized to a comma-joined string (`q`) so the output schema
    // stays scalar-only — the driver's oracle checker sorts result
    // columns and cannot order array cells (Verify enforces the
    // scalar-output invariant for the whole inventory).
    QueryDef("q76_embedding_quantization",
      Some("""
        WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS s FROM t)
        SELECT vec_id, s AS scale,
               array_to_string([CAST(round(x * 127.0 / s) AS INTEGER) for x in v], ',') AS q
        FROM m ORDER BY vec_id"""),
      (s, d) => {
        val v = asDouble(col("embedding"))
        spread(embeddings(s, d))
          .select(col("vec_id"), v.as("v"),
            array_max(transform(v, x => abs(x))).as("s"))
          .select(col("vec_id"), col("s").as("scale"),
            concat_ws(",", transform(col("v"),
              x => round(x * lit(127.0) / col("s"))
                .cast(IntegerType).cast(StringType))).as("q"))
          .orderBy("vec_id")
      }),

    // Centroid assignment (the k-means E-step / IVF coarse-quantizer
    // training primitive): every vector joins the SMALL broadcast
    // centroid set (deterministically seeded: vec_id % 101 = 0, PINNED
    // to vec_id < 10100 so the broadcast side cannot grow with SF) and
    // keeps its argmax-cosine centroid, centroid-id tiebreak. At scale
    // the centroid table is always broadcast-sized (k << n), so the
    // assignment is a map-only pass.
    QueryDef("q77_centroid_assign",
      Some(s"""
        WITH $centroidCosineCtes,
        r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                ORDER BY cosine DESC, centroid_id) AS rn FROM p)
        SELECT vec_id, centroid_id, cosine FROM r WHERE rn = 1
        ORDER BY vec_id"""),
      (s, d) => {
        val t = spread(embeddings(s, d))
          .select(col("vec_id"), asDouble(col("embedding")).as("v"))
        val cent = pinnedCentroids(s, d)
          .select(col("vec_id").as("centroid_id"),
            asDouble(col("embedding")).as("cv"))
        t.crossJoin(broadcast(cent))
          .select(col("vec_id"), col("centroid_id"),
            graft.plans.VectorExpressions.cosineSim(col("v"), col("cv")).as("cosine"))
          .withColumn("rn", row_number().over(
            Window.partitionBy("vec_id")
              .orderBy(col("cosine").desc, col("centroid_id"))))
          .filter(col("rn") === 1).drop("rn")
          .orderBy("vec_id")
      }),

    // Curriculum ordering: global 1-based training position under
    // (longest-first, id tiebreak) — [[ops.Ranking.globalRowNumber]],
    // the hierarchical two-pass form whose local ranks parallelize
    // where a naive global window serializes the corpus through one
    // task. The oracle replays the single-window semantics the
    // operator must exactly reproduce.
    QueryDef("q78_curriculum_order",
      Some("""
        SELECT doc_id, n_chars,
               CAST(ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS BIGINT) AS pos
        FROM documents ORDER BY doc_id"""),
      (s, d) => ops.Ranking.globalRowNumber(
          spread(documents(s, d)).select(col("doc_id"), col("n_chars")),
          Seq(col("n_chars").desc, col("doc_id")), "pos")
        .orderBy("doc_id")),

    // Length-bucketed batch shaping: subword-length histogram per
    // source (the padding-efficiency signal behind length-grouped
    // batching). Exact integer token estimate, integer-div buckets,
    // one partial-aggregated shuffle on a bounded key space.
    QueryDef("q79_length_buckets",
      Some("""
        WITH t AS (SELECT source,
          list_reduce(list_transform(string_split(text, ' '),
                        x -> CAST(ceil(length(x) / 4.0) AS BIGINT)),
                      (a, b) -> a + b) AS n_tok
        FROM documents)
        SELECT source, CAST(n_tok // 64 AS BIGINT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
               CAST(MIN(n_tok) AS BIGINT) AS min_tokens,
               CAST(MAX(n_tok) AS BIGINT) AS max_tokens
        FROM t GROUP BY source, bucket ORDER BY source, bucket"""),
      (s, d) => spread(documents(s, d))
        .select(col("source"),
          subwordTokenCount(words(col("text"))).as("n_tok"))
        .groupBy(col("source"), expr("n_tok div 64").as("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("sum_tokens"),
          min("n_tok").as("min_tokens"), max("n_tok").as("max_tokens"))
        .orderBy("source", "bucket"))  ,

    // Quality-WEIGHTED deterministic sampling: keep probability equal
    // to the doc's type-token ratio (a [0,1] quality signal computed
    // from identical integers on both engines), md5-slot decided —
    // same rows every run/engine/retry, pure scan filter, no shuffle.
    // floor() on the boundary, NOT a bare cast: Spark's double->long
    // cast truncates where DuckDB's rounds.
    QueryDef("q83_weighted_sample",
      Some(s"""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        q AS (SELECT doc_id,
                CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS ttr,
                ${hash32("CAST(doc_id AS VARCHAR)")} % 1000000 AS slot
              FROM t)
        SELECT doc_id, ttr FROM q
        WHERE slot < CAST(floor(greatest(0.0, least(1.0, ttr)) * 1000000) AS BIGINT)
        ORDER BY doc_id"""),
      (s, d) => {
        val w = words(col("text"))
        val scored = spread(documents(s, d)).select(col("doc_id"),
          (size(array_distinct(w)).cast(DoubleType) / size(w)).as("ttr"))
        graft.ops.Sampling.weighted(scored, "doc_id", "ttr")
          .orderBy("doc_id")
      }),

    // Contamination REPORT (the audit companion of q61's quarantine
    // list): per EVAL doc — LSH candidate count, verified-contaminated
    // count at the threshold, and max exact Jaccard; eval docs with
    // zero candidates ride a left join (0/0/NULL — "this eval doc is
    // clean" is the result a gate publishes). The aggregation keys on
    // the test id, so the report is eval-set-sized no matter how big
    // the train corpus is.
    QueryDef("q80_contamination_report",
      Some(s"""
        WITH $crossCandCtes,
        jp AS (SELECT c.b_id, $shingleJaccard AS j
               $candShingles),
        rep AS (SELECT b_id, CAST(COUNT(*) AS BIGINT) AS n_candidates,
                       CAST(COUNT(*) FILTER (WHERE j >= 0.5) AS BIGINT) AS n_contaminated,
                       MAX(j) AS max_jaccard
                FROM jp GROUP BY b_id)
        SELECT t.doc_id AS test_doc_id,
               COALESCE(n_candidates, 0) AS n_candidates,
               COALESCE(n_contaminated, 0) AS n_contaminated,
               max_jaccard
        FROM sh t LEFT JOIN rep ON rep.b_id = t.doc_id
        WHERE t.source = 'src0' ORDER BY test_doc_id"""),
      (s, d) => {
        val docs = documents(s, d)
        val disk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        val trainSig = Dedup.shingleSignatures(
          spread(docs.filter(col("source") =!= "src0")), "doc_id", "text")
          .persist(disk)
        val testSig = Dedup.shingleSignatures(
          spread(docs.filter(col("source") === "src0")), "doc_id", "text")
          .persist(disk)
        Dedup.contaminationReport(trainSig, testSig, "doc_id", threshold = 0.5)
          .orderBy("test_doc_id")
      }),

    // Corpus snapshot diff (incremental updates): classify docs across
    // two corpus versions via a full outer id-join over content HASHES
    // (16-byte digests travel through the join, never the documents).
    // The "v2" snapshot is synthesized deterministically from the same
    // table so the oracle can replay it: every doc_id % 23 == 0 row
    // removed, % 17 == 0 rewritten, a shifted copy of % 31 == 0 added.
    QueryDef("q81_snapshot_diff",
      Some("""
        WITH v2 AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 17 = 0 THEN text || ' v2' ELSE text END AS text
          FROM documents WHERE doc_id % 23 <> 0
          UNION ALL
          SELECT doc_id + 10000000 AS doc_id, text FROM documents WHERE doc_id % 31 = 0),
        o AS (SELECT doc_id, md5(text) AS oh FROM documents),
        n AS (SELECT doc_id, md5(text) AS nh FROM v2)
        SELECT CASE WHEN oh IS NULL THEN 'added'
                    WHEN nh IS NULL THEN 'removed'
                    WHEN oh <> nh THEN 'changed'
                    ELSE 'unchanged' END AS status,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM o FULL OUTER JOIN n USING (doc_id)
        GROUP BY status ORDER BY status"""),
      (s, d) => {
        val docs = spread(documents(s, d))
        val v2 = docs.filter(col("doc_id") % 23 =!= 0)
          .select(col("doc_id"),
            when(col("doc_id") % 17 === 0, concat(col("text"), lit(" v2")))
              .otherwise(col("text")).as("text"))
          .unionAll(docs.filter(col("doc_id") % 31 === 0)
            .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
        graft.ops.Diff.snapshotDiffCounts(docs, v2, "doc_id", "text")
          .orderBy("status")
      }),

    // Per-source corpus health report: the one-stop monitoring row a
    // scheduled 100 TB pipeline publishes per source per run. Exact
    // integer tallies + one double ratio computed from identical
    // integers on both engines; bounded output (one row per source).
    QueryDef("q82_source_health",
      Some("""
        WITH t AS (SELECT source, lang, md5(text) AS h,
                     list_reduce(list_transform(string_split(text, ' '),
                                   x -> CAST(ceil(length(x) / 4.0) AS BIGINT)),
                                 (a, b) -> a + b) AS n_tok
                   FROM documents)
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(*) - COUNT(DISTINCT h) AS BIGINT) AS n_exact_dups,
               CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
               CAST(SUM(n_tok) AS DOUBLE) / COUNT(*) AS mean_tokens,
               CAST(MIN(n_tok) AS BIGINT) AS min_tokens,
               CAST(MAX(n_tok) AS BIGINT) AS max_tokens
        FROM t GROUP BY source ORDER BY source"""),
      (s, d) => spread(documents(s, d))
        .select(col("source"), col("lang"), md5(col("text")).as("h"),
          subwordTokenCount(words(col("text"))).as("n_tok"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          (count(lit(1)) - countDistinct(col("h"))).as("n_exact_dups"),
          countDistinct(col("lang")).as("n_langs"),
          sum("n_tok").as("total_tokens"),
          (sum("n_tok").cast(DoubleType) / count(lit(1))).as("mean_tokens"),
          min("n_tok").as("min_tokens"),
          max("n_tok").as("max_tokens"))
        .orderBy("source")),

    // Duplicate-group CONNECTED COMPONENTS: label-propagate every
    // LSH-paired doc to the minimum id reachable through the candidate
    // graph ([[Dedup.clusters]] — iterative join + min-aggregate with
    // lineage truncation, the scale-standard shape). The oracle replays
    // the same fixpoint declaratively: a recursive transitive closure
    // over the symmetrized pair list, then MIN per node — identical
    // results because min-label propagation and min-over-reachable-set
    // converge to the same labeling on any graph.
    QueryDef("q84_dedup_components",
      Some(s"""
        WITH RECURSIVE $lshCte,${labelCtes("cand")}
        SELECT doc_id, CAST(cluster AS BIGINT) AS cluster
        FROM lab ORDER BY doc_id"""),
      (s, d) => {
        val disk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        val sh = Dedup.shingleSignatures(spread(documents(s, d)), "doc_id", "text")
          .persist(disk)
        // pairs feed the edge list (read twice for symmetrization) and
        // the node set (twice more): persist, or the LSH self-join runs
        // four times before the propagation loop even starts
        val pairs = lshCandidatePairs(sh, "doc_id", lshK05, lshBands05)
          .persist(disk)
        val nodes = pairs.select(col("a_id").as("doc_id"))
          .unionAll(pairs.select(col("b_id").as("doc_id"))).distinct()
        Dedup.clusters(pairs, nodes, "doc_id").orderBy("doc_id")
      }),

    // Ordered conversion funnel with a 24h per-step window
    // ([[ops.Events.funnel]]): first-touch chaining (step i+1 counts
    // only strictly after the user's step-i time and within the
    // window). Every stage is a user-keyed partial-agg shuffle; the
    // output is one row per step. Timestamps are micros on BOTH sides
    // (ts_ns div 1000 / epoch_us) — the nanos parquet truncates to
    // micros in DuckDB, see Tables.events.
    QueryDef("q85_funnel",
      Some("""
        WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        s1 AS (SELECT user_id, MIN(us) AS t1 FROM e
               WHERE event_type = 'view' GROUP BY user_id),
        s2 AS (SELECT e.user_id, MIN(us) AS t2 FROM e JOIN s1 USING (user_id)
               WHERE event_type = 'click' AND us > t1 AND us <= t1 + 86400000000
               GROUP BY e.user_id),
        s3 AS (SELECT e.user_id, MIN(us) AS t3 FROM e JOIN s2 USING (user_id)
               WHERE event_type = 'purchase' AND us > t2 AND us <= t2 + 86400000000
               GROUP BY e.user_id)
        SELECT * FROM (
          SELECT 1 AS step, 'view' AS event_type,
                 CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n_users
          UNION ALL SELECT 2, 'click', CAST((SELECT COUNT(*) FROM s2) AS BIGINT)
          UNION ALL SELECT 3, 'purchase', CAST((SELECT COUNT(*) FROM s3) AS BIGINT))
        ORDER BY step"""),
      (s, d) => graft.ops.Events.funnel(events(s, d), "user_id", "event_type",
          expr("ts_ns div 1000"), Seq("view", "click", "purchase"),
          windowUs = 86400000000L)
        .orderBy("step")),

    // Cohort retention ([[ops.Events.cohortRetention]]): users
    // cohorted by first-event day, counted as retained on each day
    // offset where they PURCHASED. All-integer epoch-day arithmetic —
    // engine-exact; output is cohorts x offsets, dashboard-sized.
    QueryDef("q86_retention_cohorts",
      Some("""
        WITH e AS (SELECT user_id, CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
                          event_type FROM events),
        f AS (SELECT user_id, MIN(day) AS cohort_day FROM e GROUP BY user_id),
        a AS (SELECT DISTINCT e.user_id, cohort_day, day - cohort_day AS day_offset
              FROM e JOIN f USING (user_id) WHERE event_type = 'purchase')
        SELECT cohort_day, day_offset, CAST(COUNT(*) AS BIGINT) AS n_users
        FROM a GROUP BY cohort_day, day_offset ORDER BY cohort_day, day_offset"""),
      (s, d) => graft.ops.Events.cohortRetention(events(s, d), "user_id",
          expr("(ts_ns div 1000) div 86400000000"),
          col("event_type") === "purchase")
        .orderBy("cohort_day", "day_offset")),

    // Temperature-scaled language mixing ([[ops.Sampling
    // .temperatureMix]], alpha = 0.5): the multilingual-training
    // resampling rule — low-resource languages keep a higher fraction
    // (rate ~ 1/sqrt share), scaled to half the corpus. The float
    // rate math folds over a lang-SORTED list on both engines (float
    // addition is order-sensitive), sqrt not pow (IEEE-exact), and the
    // keep decision is the md5-slot filter with an explicit floor —
    // every choice pinned so the oracle replays bit-for-bit.
    QueryDef("q87_temperature_mix",
      Some(s"""
        WITH $langTotalsCtes,
        r AS (SELECT lang,
                least(1.0, ((tot_n * 0.5) * (sqrt(CAST(n AS DOUBLE)) / tot_sn))
                             / CAST(n AS DOUBLE)) AS rate
              FROM c CROSS JOIN tot)
        SELECT d.doc_id, d.lang FROM documents d JOIN r USING (lang)
        WHERE ${hash32("CAST(doc_id AS VARCHAR)")} % 1000000
              < CAST(floor(greatest(0.0, least(1.0, rate)) * 1000000) AS BIGINT)
        ORDER BY doc_id"""),
      (s, d) => graft.ops.Sampling.temperatureMix(
          spread(documents(s, d)).select(col("doc_id"), col("lang")),
          "doc_id", "lang", alpha = 0.5, targetFrac = 0.5)
        .orderBy("doc_id")),

    // Vocabulary coverage curve ([[ops.Ranking.coverageThresholds]]):
    // the minimal top-k vocabulary covering 50/90/99% of token
    // occurrences. The cumulative mass uses the hierarchical
    // prefix-sum scaffold (no single-partition global window), and the
    // threshold compare is all-integer (cum*100 < pct*total) — exact.
    QueryDef("q88_vocab_coverage",
      Some("""
        WITH w AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        c AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS n FROM w GROUP BY tok),
        o AS (SELECT SUM(n) OVER (ORDER BY n DESC, tok ROWS UNBOUNDED PRECEDING) AS cum FROM c),
        tot AS (SELECT SUM(n) AS tot FROM c)
        SELECT pct, CAST(COUNT(*) FILTER (WHERE cum * 100 < pct * tot) + 1 AS BIGINT) AS k_keys
        FROM o CROSS JOIN tot CROSS JOIN (SELECT unnest([50, 90, 99]) AS pct)
        GROUP BY pct ORDER BY pct"""),
      (s, d) => {
        // persisted: the operator reads the counts frame twice (total +
        // curve), and the explode+groupBy derivation is the expensive part
        val counts = spread(documents(s, d))
          .select(explode(words(col("text"))).as("tok"))
          .groupBy("tok").agg(count(lit(1)).cast(LongType).as("n"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        graft.ops.Ranking.coverageThresholds(counts, "tok", "n", Seq(50, 90, 99))
          .orderBy("pct")
      }),

    // Semi-structured JSON extraction: parse the event payload with a
    // typed schema (real from_json on the Spark side — the oracle
    // mirrors with a regex because the payloads are single-key flat
    // objects, verified over the corpus) and aggregate per event type.
    // Scan-side parse + one bounded-key shuffle. SUMs are CAST: DuckDB
    // returns HUGEINT for SUM(BIGINT) (the round-4 q69/q71 lesson).
    QueryDef("q89_json_extract",
      Some("""
        WITH e AS (SELECT event_type,
                     CAST(regexp_extract(props, '"k":\s*(-?[0-9]+)', 1) AS BIGINT) AS k
                   FROM events)
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(k) AS BIGINT) AS sum_k,
               CAST(MIN(k) AS BIGINT) AS min_k, CAST(MAX(k) AS BIGINT) AS max_k
        FROM e GROUP BY event_type ORDER BY event_type"""),
      (s, d) => events(s, d)
        .select(col("event_type"),
          from_json(col("props"),
            StructType(Seq(StructField("k", LongType)))).getField("k").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), sum("k").as("sum_k"),
          min("k").as("min_k"), max("k").as("max_k"))
        .orderBy("event_type")),

    // SemDeDup ([[Dedup.semantic]]): nearest-centroid assignment
    // (deterministically seeded centroids: the q77 pinned panel)
    // blocks the within-cluster pair pruning; survivors keep their
    // cluster tag. Threshold 0.4 sits 5e-4 above the densest
    // in-cluster pair below it and 0.07 below the max (measured) —
    // and both engines compute the identical IEEE fold anyway.
    QueryDef("q90_semantic_dedup",
      Some(s"""
        WITH $centroidCosineCtes,
        r AS (SELECT vec_id, centroid_id FROM
                (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY cosine DESC, centroid_id) AS rn FROM p)
              WHERE rn = 1),
        a AS (SELECT r.vec_id, r.centroid_id, t.v FROM r JOIN t USING (vec_id)),$semSurvivorsSql"""),
      (s, d) => {
        val cents = pinnedCentroids(s, d)
          .select(col("vec_id").as("centroid_id"), col("embedding").as("cv"))
        Dedup.semantic(spread(embeddings(s, d)), "vec_id", "embedding",
            cents, "centroid_id", "cv", threshold = 0.4)
          .orderBy("vec_id")
      }),

    // Quality-aware dedup resolution ([[Dedup.nearKeepBest]]): keep
    // the LONGEST doc per verified-duplicate cluster (n_chars quality,
    // id tiebreak) — the curation rule real pipelines use instead of
    // min-id. One row per multi-doc cluster; the argmax is a
    // partial-combinable aggregate, never a per-cluster window.
    QueryDef("q91_dedup_keep_best",
      Some(s"""
        WITH RECURSIVE $lshCte,${verifiedCte("vp")},${labelCtes("vp", lab = "comp")},
        q AS (SELECT comp.doc_id, cluster, n_chars FROM comp JOIN documents USING (doc_id)),
        rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster
                 ORDER BY n_chars DESC, doc_id) AS rn FROM q),
        g AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_docs FROM q GROUP BY cluster)
        SELECT CAST(r.cluster AS BIGINT) AS cluster, r.doc_id AS kept_id, g.n_docs
        FROM rk r JOIN g USING (cluster) WHERE rn = 1 ORDER BY cluster"""),
      (s, d) => Dedup.nearKeepBest(spread(documents(s, d)), "doc_id", "text",
          "n_chars", threshold = 0.5, maxBucketSize = Int.MaxValue)
        .orderBy("cluster")),

    // Containment pairs ([[Dedup.containmentPairs]]): asymmetric
    // overlap |A∩B|/|A| — catches a short doc quoted wholesale inside
    // a long one, where symmetric Jaccard reads near zero. Blocking is
    // on CONTAINMENT (bottom-m-by-hash shingle probes against the
    // df-capped corpus shingle inverted index; per-direction >= 2-hit
    // gate, m derived from the threshold for >= 99.5% capture at it;
    // since round 10 the df cap drops capped-out PROBES too and the
    // gate's np counts surviving probes, so the capture bound holds
    // for boilerplate-probed docs), NOT Jaccard-tuned LSH — the oracle
    // replays probe selection, the two-sided df cap, the post-cap np,
    // the hit-count gate, and the 60-bit dictionary-encoded verify,
    // hash for hash.
    QueryDef("q92_containment_pairs",
      Some(s"""
        WITH $shinglesCte,
        pr AS (SELECT doc_id,
                 unnest(list_transform(
                   list_sort([{'h': ${hash32("s")}, 's': s} for s in shingles])[1:${Pipeline.containmentProbesFor(0.7, minHits = 2)}],
                   x -> x.h)) AS h
               FROM sh),
        ixall AS (SELECT doc_id, ${hash32("s")} AS h
                  FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)),
        hot AS (SELECT h FROM ixall GROUP BY h
                HAVING COUNT(*) > ${Dedup.DefaultMaxShingleDf}),
        ix AS (SELECT doc_id, h FROM ixall
               WHERE h NOT IN (SELECT h FROM hot)),
        prk AS (SELECT doc_id, h FROM pr
                WHERE h NOT IN (SELECT h FROM hot)),
        np AS (SELECT doc_id, COUNT(*) AS np FROM prk GROUP BY 1),
        cand AS (SELECT DISTINCT least(pid, iid) AS a_id, greatest(pid, iid) AS b_id
                 FROM (SELECT p.doc_id AS pid, i.doc_id AS iid,
                              COUNT(*) AS nh
                       FROM prk p JOIN ix i ON p.h = i.h AND p.doc_id <> i.doc_id
                       GROUP BY 1, 2) c
                 JOIN np ON np.doc_id = c.pid
                 WHERE c.nh >= least(2, np.np)),
        hs AS (SELECT doc_id,
                      list_transform(shingles, s -> ${hash60("s")}) AS hset,
                      len(shingles) AS n
               FROM sh)
        SELECT c.a_id, c.b_id,
               CAST(len(list_filter(list_distinct(a.hset), x -> list_contains(b.hset, x))) AS DOUBLE)
                 / a.n AS cont_a,
               CAST(len(list_filter(list_distinct(a.hset), x -> list_contains(b.hset, x))) AS DOUBLE)
                 / b.n AS cont_b
        FROM cand c JOIN hs a ON a.doc_id = c.a_id JOIN hs b ON b.doc_id = c.b_id
        WHERE greatest(
                CAST(len(list_filter(list_distinct(a.hset), x -> list_contains(b.hset, x))) AS DOUBLE)
                  / a.n,
                CAST(len(list_filter(list_distinct(a.hset), x -> list_contains(b.hset, x))) AS DOUBLE)
                  / b.n) >= 0.7
        ORDER BY a_id, b_id"""),
      (s, d) => {
        // shingleSets, not shingleSignatures: the containment blocking
        // never reads the minhash column, and persisting it would
        // materialize 128 unused permutations per row
        val sh = Dedup.shingleSets(spread(documents(s, d)), "doc_id", "text")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // defaults: df-capped index (DefaultMaxShingleDf — the oracle
        // QUALIFY replays it) + 2-hit probe gate + hashed verify
        Dedup.containmentPairs(sh, "doc_id", threshold = 0.7)
          .orderBy("a_id", "b_id")
      }),

    // Epoch mixing ([[ops.Sampling.temperatureMixWithReplacement]]):
    // temperature resampling WITH replacement at a 2-epoch budget
    // (targetFrac = 2.0) — low-resource languages repeat (fr emits
    // 2-3 copies per doc), the dominant language under-samples
    // relative to its natural share. Copy counts are
    // floor(rate) + one md5-slot-decided fractional copy; the copy
    // index rides along so downstream packing sees distinct rows.
    QueryDef("q93_epoch_mix",
      Some(s"""
        WITH $langTotalsCtes,
        r AS (SELECT lang, ((tot_n * 2.0) * (sqrt(CAST(n AS DOUBLE)) / tot_sn))
                             / CAST(n AS DOUBLE) AS rate
              FROM c CROSS JOIN tot),
        d2 AS (SELECT doc_id, d.lang, rate,
                 ${hash32("CAST(doc_id AS VARCHAR)")} % 1000000 AS slot
               FROM documents d JOIN r USING (lang)),
        d3 AS (SELECT doc_id, lang,
                 CAST(floor(rate) AS BIGINT)
                   + CASE WHEN slot < CAST(floor((rate - floor(rate)) * 1000000) AS BIGINT)
                          THEN 1 ELSE 0 END AS copies
               FROM d2)
        SELECT doc_id, lang, CAST(unnest(range(0, copies)) AS BIGINT) AS copy
        FROM d3 ORDER BY doc_id, copy"""),
      (s, d) => graft.ops.Sampling.temperatureMixWithReplacement(
          spread(documents(s, d)).select(col("doc_id"), col("lang")),
          "doc_id", "lang", alpha = 0.5, targetFrac = 2.0)
        .orderBy("doc_id", "copy")),

    // N-gram novelty ([[Dedup.ngramNovelty]]): per-eval-doc fraction
    // of trigram shingles unseen in the rest of the corpus — the
    // continuous memorization/overlap score (decontamination's
    // reporting sibling). Exact-count integers plus one final
    // division on identical values.
    QueryDef("q94_ngram_novelty",
      Some(s"""
        WITH $shinglesCte,
        ref AS (SELECT DISTINCT ${hash60("s")} AS h
                FROM (SELECT unnest(sh.shingles) AS s
                      FROM sh JOIN documents USING (doc_id) WHERE source <> 'src0')),
        t AS (SELECT doc_id, ${hash60("s")} AS h
              FROM (SELECT sh.doc_id, unnest(sh.shingles) AS s
                    FROM sh JOIN documents USING (doc_id) WHERE source = 'src0')),
        m AS (SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
                     CAST(COUNT(ref.h) AS BIGINT) AS n_known
              FROM t LEFT JOIN ref ON t.h = ref.h GROUP BY t.doc_id)
        SELECT doc_id, n_shingles, n_known,
               1.0 - CAST(n_known AS DOUBLE) / n_shingles AS novelty
        FROM m ORDER BY doc_id"""),
      (s, d) => {
        val docs = spread(documents(s, d))
        Dedup.ngramNovelty(docs.filter(col("source") === "src0"),
            docs.filter(col("source") =!= "src0"), "doc_id", "text")
          .orderBy("doc_id")
      })
  )
}
