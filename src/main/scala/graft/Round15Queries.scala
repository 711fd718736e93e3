package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-15 batch (q264+): the two set-text dedup modalities the
  * round-14 verdict named as the remaining first-class gaps — exact
  * SUBSTRING-level span dedup (ExactSubstr, Lee et al. 2022: flag the
  * maximal duplicated token spans so curation cuts the span, not the
  * document) and the WEIGHTED set-similarity join (tf-idf weighted
  * Jaccard through the same three lossless PPJoin filters — the form
  * retrieval pipelines actually run).
  *
  * House discipline: integer-exact thresholds (ppm weights, integer
  * fractions), md5-derived 60-bit keys both engines replay, planted
  * witnesses beyond the corpus id range, ORDER BY on every output.
  */
object Round15Queries {
  import Tables._
  import OracleSql.{cos, hash32, hash60, sqDist}

  // Shared q264/q266/q267 oracle scaffolding: the planted-copy corpus
  // (source travels for q267's profile; wl/spq ignore it) and the
  // span pipeline — window hashes, corpus-wide counts, islands.
  private val CorpusCte = """
        corpus AS (SELECT doc_id, text, source FROM documents
                UNION ALL SELECT 9100001, 'a0 a1 d0 d1 d2 d3 d4 d5 d6 d7 d8 d9 da db a2 a3', 'planted'
                UNION ALL SELECT 9100002, 'b0 b1 b2 d0 d1 d2 d3 d4 d5 d6 d7 d8 d9 da db b3', 'planted')"""
  private def spanCtes: String = s"""
        wl AS (SELECT doc_id AS id, string_split(text, ' ') AS l FROM corpus),
        pp AS (SELECT id, l, unnest(range(1, len(l) - 6)) AS pos
               FROM wl WHERE len(l) >= 8),
        an AS (SELECT id, pos,
                 ${hash60("array_to_string(l[pos:pos+7], ' ')")} AS h
               FROM pp),
        oc AS (SELECT h, COUNT(*) AS occ FROM an GROUP BY h),
        du AS (SELECT id, pos FROM an JOIN oc USING (h) WHERE occ >= 2),
        fl AS (SELECT id, pos,
                 CASE WHEN pos <= MAX(pos + 8) OVER (PARTITION BY id
                   ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING) THEN 0 ELSE 1 END AS f
               FROM du),
        il AS (SELECT id, pos,
                 SUM(f) OVER (PARTITION BY id ORDER BY pos) AS island
               FROM fl),
        spq AS (SELECT id, CAST(MIN(pos) AS BIGINT) AS span_start,
                  CAST(MAX(pos) + 8 AS BIGINT) AS span_end
                FROM il GROUP BY id, island)"""

  private def plantedCorpus(s: org.apache.spark.sql.SparkSession,
                            d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    spread(documents(s, d)).select("doc_id", "text", "source")
      .unionAll(Seq(
        (9100001L, "a0 a1 d0 d1 d2 d3 d4 d5 d6 d7 d8 d9 da db a2 a3",
          "planted"),
        (9100002L, "b0 b1 b2 d0 d1 d2 d3 d4 d5 d6 d7 d8 d9 da db b3",
          "planted"))
        .toDF("doc_id", "text", "source"))
  }

  /** ExactSubstr span-level dedup ([[ops.SpanDedup.duplicatedSpans]]):
    * maximal token spans covered by a corpus-duplicated 8-token
    * window, merged per document. Two planted docs share a 12-token
    * run embedded at DIFFERENT offsets in different surroundings —
    * document-level dedup scores them low (4/16 words differ plus
    * order), span-level flags exactly the copied run: [3,15) and
    * [4,16). The oracle replays window hashes, corpus-wide counts,
    * and the gaps-and-islands merge verbatim.
    */
  private lazy val q264: QueryDef =
    QueryDef("q264_exact_substr_spans",
      Some(s"""
        WITH $CorpusCte, $spanCtes
        SELECT id AS doc_id, span_start, span_end,
               span_end - span_start AS span_tokens
        FROM spq
        ORDER BY doc_id, span_start"""),
      (s, d) =>
        graft.ops.SpanDedup.duplicatedSpans(plantedCorpus(s, d),
            "doc_id", "text", l = 8)
          .orderBy("doc_id", "span_start"))

  /** ExactSubstr REMOVAL — the composition Lee et al. actually run:
    * cut every corpus-duplicated span out of the text and re-emit the
    * cleaned corpus (plus how much was cut). Engine shape: q264's
    * spans collected per doc (few per doc) joined back on doc_id, one
    * scan-side token filter against the bounded span list — no second
    * corpus shuffle. The oracle takes the INDEPENDENT route (position
    * fan-out, cover anti-join, ordered string_agg), so the two
    * formulations check each other.
    */
  private lazy val q266: QueryDef =
    QueryDef("q266_exact_substr_removal",
      Some(s"""
        WITH $CorpusCte, $spanCtes,
        tp AS (SELECT id, unnest(range(1, len(l) + 1)) AS pos, l FROM wl),
        tp2 AS (SELECT id, pos, l[pos] AS t FROM tp),
        cov AS (SELECT DISTINCT t.id, t.pos FROM tp2 t JOIN spq s
                ON s.id = t.id AND t.pos >= s.span_start
                   AND t.pos < s.span_end),
        kept AS (SELECT t.id, t.pos, t.t FROM tp2 t
                 LEFT JOIN cov c ON c.id = t.id AND c.pos = t.pos
                 WHERE c.pos IS NULL),
        agg AS (SELECT id, COUNT(*) AS n_kept,
                  string_agg(t, ' ' ORDER BY pos) AS clean_text
                FROM kept GROUP BY id)
        SELECT w.id AS doc_id, CAST(len(w.l) AS BIGINT) AS n_tokens,
               CAST(len(w.l) - COALESCE(a.n_kept, 0) AS BIGINT)
                 AS n_removed_tokens,
               COALESCE(a.clean_text, '') AS clean_text
        FROM wl w LEFT JOIN agg a ON a.id = w.id
        ORDER BY doc_id"""),
      (s, d) => {
        val corpus = plantedCorpus(s, d)
        val spans = graft.ops.SpanDedup.duplicatedSpans(corpus,
          "doc_id", "text", l = 8)
        val spanArr = spans.groupBy("doc_id")
          .agg(collect_list(struct(col("span_start"), col("span_end")))
            .as("_spans"))
        corpus.join(spanArr, Seq("doc_id"), "left")
          .withColumn("_l", split(col("text"), " "))
          .withColumn("_kept", expr(
            "filter(transform(_l, (x, i) -> " +
              "struct(x AS t, CAST(i + 1 AS BIGINT) AS p)), " +
              "s -> _spans IS NULL OR NOT exists(_spans, " +
              "sp -> s.p >= sp.span_start AND s.p < sp.span_end))"))
          .select(col("doc_id"),
            size(col("_l")).cast("long").as("n_tokens"),
            (size(col("_l")) - size(col("_kept"))).cast("long")
              .as("n_removed_tokens"),
            array_join(expr("transform(_kept, s -> s.t)"), " ")
              .as("clean_text"))
          .orderBy("doc_id")
      })

  /** Span-duplication PROFILE by source — the curation dashboard
    * number behind the q266 cut: per source, docs, flagged docs,
    * token totals, duplicated-token ppm. One bounded aggregate over
    * q264's spans joined to the corpus dimension row.
    */
  private lazy val q267: QueryDef =
    QueryDef("q267_span_dup_profile",
      Some(s"""
        WITH $CorpusCte, $spanCtes,
        ds AS (SELECT id, SUM(span_end - span_start) AS dup_tokens
               FROM spq GROUP BY id),
        dt AS (SELECT w.id, len(w.l) AS n_tokens,
                 COALESCE(ds.dup_tokens, 0) AS dup_tokens
               FROM wl w LEFT JOIN ds ON ds.id = w.id)
        SELECT c.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN dt.dup_tokens > 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_docs_flagged,
               CAST(SUM(dt.n_tokens) AS BIGINT) AS n_tokens,
               CAST(SUM(dt.dup_tokens) AS BIGINT) AS n_dup_tokens,
               CAST(SUM(dt.dup_tokens) * 1000000 // SUM(dt.n_tokens)
                 AS BIGINT) AS dup_ppm
        FROM dt JOIN corpus c ON c.doc_id = dt.id
        GROUP BY c.source
        ORDER BY c.source"""),
      (s, d) => {
        val corpus = plantedCorpus(s, d)
        val perDoc = graft.ops.SpanDedup.duplicatedSpans(corpus,
            "doc_id", "text", l = 8)
          .groupBy("doc_id")
          .agg(sum(col("span_end") - col("span_start")).as("_dup"))
        corpus
          .withColumn("_nt", size(split(col("text"), " ")).cast("long"))
          .join(perDoc, Seq("doc_id"), "left")
          .withColumn("_dup", coalesce(col("_dup"), lit(0L)))
          .groupBy("source")
          .agg(count(lit(1)).cast("long").as("n_docs"),
            sum(when(col("_dup") > 0, 1).otherwise(0)).cast("long")
              .as("n_docs_flagged"),
            sum(col("_nt")).cast("long").as("n_tokens"),
            sum(col("_dup")).cast("long").as("n_dup_tokens"))
          .withColumn("dup_ppm",
            expr("n_dup_tokens * 1000000L div n_tokens"))
          .orderBy("source")
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
        WITH t AS (SELECT vec_id, vec_id % 8 AS cell,
                          CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        cent AS (SELECT cell, list(m ORDER BY d) AS cv FROM (
                   SELECT cell, d, avg(x) AS m FROM (
                     SELECT cell, unnest(v) AS x, unnest(range(1, 65)) AS d FROM t) u
                   GROUP BY cell, d) g
                 GROUP BY cell),
        q AS (SELECT v AS qv FROM t WHERE vec_id = 0),
        pc AS (SELECT cent.cell FROM cent CROSS JOIN q
               ORDER BY ${cos("qv", "cv")} DESC, cent.cell LIMIT 2),
        cb AS (SELECT vec_id AS code, v AS cvec FROM t
               WHERE vec_id % 101 = 0 AND vec_id < 10100),
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
        val cb = embeddings(s, d)
          .filter(col("vec_id") % 101 === 0 && col("vec_id") < 10100)
          .select(col("vec_id").as("code"),
            explode(expr(
              "transform(sequence(0, 3)," +
                " x -> struct(x AS sub_idx," +
                " slice(embedding, x * 16 + 1, 16) AS cs))")).as("_e"))
          .select(col("code"), col("_e.sub_idx"), col("_e.cs"))
        graft.Similarity.ivfPqTopK(e, "vec_id", "embedding", "cell",
            graft.Similarity.ivfIndex(e, "embedding", "cell"),
            cb, "code", "sub_idx", "cs", m = 4, dims = 64,
            queryId = 0L, k = 10, nProbe = 2)
          .orderBy("adc_d2_micro", "vec_id")
      })

  /** Inter-annotator agreement ([[ops.Stats.cohenKappa]]): Cohen's
    * kappa between the stored gold `lang` and the q32 n-gram
    * language-ID heuristic — the chance-corrected score a labeling
    * pipeline reports instead of raw accuracy (a rater that always
    * answers the majority class gets high po but kappa ~ 0). All
    * counts exact; ppm floors over DECIMAL(38,0)/HUGEINT so the 6M-row
    * sweep can't overflow. One row out.
    */
  private lazy val q269: QueryDef =
    QueryDef("q269_annotator_agreement",
      Some {
        val profiles = PipelineQueries.LangProfiles
        val scores = profiles.map { case (l, bgs) =>
          val sum = bgs.map(bg =>
            s"(length(text) - length(replace(text, '$bg', '')))").mkString(" + ")
          s"($sum) AS s_$l"
        }.mkString(", ")
        val langs = profiles.map(_._1)
        val cases = langs.init.map { l =>
          val geAll = langs.filter(_ != l).map(o => s"s_$l >= s_$o").mkString(" AND ")
          s"WHEN $geAll THEN '$l'"
        }.mkString(" ")
        s"""
        WITH scored AS (SELECT lang, $scores FROM documents),
        p AS (SELECT lang AS a, CASE $cases ELSE '${langs.last}' END AS b
              FROM scored),
        base AS (SELECT COUNT(*) AS n_items,
                        SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS n_agree
                 FROM p),
        ra AS (SELECT a AS l, COUNT(*) AS na FROM p GROUP BY a),
        rb AS (SELECT b AS l, COUNT(*) AS nb FROM p GROUP BY b),
        pe AS (SELECT COALESCE(SUM(na::HUGEINT * nb), 0) AS pe_num
               FROM ra JOIN rb USING (l))
        SELECT CAST(n_items AS BIGINT) AS n_items,
               CAST(n_agree AS BIGINT) AS n_agree,
               CAST(n_agree::HUGEINT * 1000000
                 // GREATEST(n_items, 1) AS BIGINT) AS po_ppm,
               CAST(pe_num * 1000000
                 // GREATEST(n_items::HUGEINT * n_items, 1) AS BIGINT) AS pe_ppm,
               CAST((n_items::HUGEINT * n_agree - pe_num) * 1000000
                 // GREATEST(n_items::HUGEINT * n_items - pe_num, 1) AS BIGINT)
                 AS kappa_ppm
        FROM base CROSS JOIN pe"""
      },
      (s, d) => {
        val profiles = PipelineQueries.LangProfiles
        val langs = profiles.map(_._1)
        // q32's scorer verbatim: per-language bigram occurrence sums,
        // argmax with >=-all tie preference in profile order
        val scored = documents(s, d).select(
          col("lang") +: profiles.map { case (l, bgs) =>
            bgs.map(graft.Pipeline.occurrences2x(col("text"), _))
              .reduce(_ + _).as(s"s_$l")
          }: _*)
        // argmax-struct form — same label, single score evaluation
        // (see [[graft.Pipeline.argmaxLabel]])
        val predicted = graft.Pipeline.argmaxLabel(
          langs.map(l => l -> col(s"s_$l")))
        graft.ops.Stats.cohenKappa(
          scored.withColumn("predicted", predicted), "lang", "predicted")
      })

  // q270's graph, shared by engine and oracle: within each source the
  // doc_id-consecutive CHAIN (thin organic links — peels at k=3) plus
  // a 6-CLIQUE over the source's 6 smallest doc_ids (the dense
  // farm-like cluster the core keeps). Peeling converges in 2 rounds
  // on this family at EVERY scale (the chain dies in round 1, the
  // clique is stable) — the oracle unrolls 4 for slack.
  private val KCoreK = 3
  private[graft] def kcoreEdgeCtes: String = """
        base AS (SELECT doc_id, source, ROW_NUMBER() OVER (
                   PARTITION BY source ORDER BY doc_id) AS rn
                 FROM documents),
        chain AS (SELECT b1.doc_id AS u, b2.doc_id AS v
                  FROM base b1 JOIN base b2
                    ON b1.source = b2.source AND b2.rn = b1.rn + 1),
        clique AS (SELECT b1.doc_id AS u, b2.doc_id AS v
                   FROM base b1 JOIN base b2
                     ON b1.source = b2.source AND b1.rn < b2.rn
                    AND b2.rn <= 6),
        und AS (SELECT DISTINCT u AS a, v AS b FROM
                  (SELECT u, v FROM chain UNION ALL SELECT u, v FROM clique)
                WHERE u <> v),
        e0 AS (SELECT a AS x, b AS y FROM und
               UNION ALL SELECT b AS x, a AS y FROM und)"""
  private def kcorePeelCtes(rounds: Int): String =
    (1 to rounds).map { i =>
      val p = i - 1
      s"""
        n$i AS (SELECT x AS node FROM e$p GROUP BY x
                HAVING COUNT(*) >= $KCoreK),
        e$i AS (SELECT e$p.x, e$p.y FROM e$p
                JOIN n$i p ON e$p.x = p.node
                JOIN n$i m ON e$p.y = m.node)"""
    }.mkString(",")

  /** k-core decomposition ([[ops.Graph.kCore]], k=3) over the
    * chain+clique graph: every chain-only node peels in round one
    * (degree <= 2 after dedup with the clique edges), the per-source
    * 6-cliques survive with their within-core degrees — the density
    * screen that separates mutually-linked farms from thin organic
    * chains. Engine peels to the measured fixed point (fail-loud cap,
    * the starComponents discipline); the oracle unrolls 4 rounds — 2
    * more than the family ever needs, and extra rounds are no-ops at
    * a fixed point, so the two agree exactly.
    */
  private lazy val q270: QueryDef =
    QueryDef("q270_kcore",
      Some(s"""
        WITH $kcoreEdgeCtes, ${kcorePeelCtes(4)}
        SELECT x AS node, CAST(COUNT(*) AS BIGINT) AS core_degree
        FROM e4 GROUP BY x ORDER BY node"""),
      (s, d) => {
        val w = Window.partitionBy("source").orderBy("doc_id")
        val base = spread(documents(s, d)).select("source", "doc_id")
          .withColumn("rn", row_number().over(w))
        val chain = base
          .withColumn("_nxt", lead("doc_id", 1).over(w))
          .filter(col("_nxt").isNotNull)
          .select(col("doc_id").as("u"), col("_nxt").as("v"))
        val six = base.filter(col("rn") <= 6)
        val clique = six.as("b1").join(six.as("b2"),
            col("b1.source") === col("b2.source") &&
              col("b1.rn") < col("b2.rn"))
          .select(col("b1.doc_id").as("u"), col("b2.doc_id").as("v"))
        graft.ops.Graph.kCore(chain.unionAll(clique), k = KCoreK,
            maxIters = 10)
          .orderBy("node")
      })

  /** Adamic–Adar link prediction ([[ops.Graph.adamicAdar]]) over the
    * bipartite order–part graph (parts offset into their own id
    * space): two orders sharing RARE parts outrank two sharing
    * commodity parts — the co-purchase "related orders" ranking.
    * Middles are degree-capped at 64 (the df-cap discipline; the cap
    * is replayed verbatim by the oracle), contributions are
    * floor(1e6/ln(deg)) micro-longs summed order-free, and the output
    * is the global top-100 by (score, u, v) — TakeOrderedAndProject,
    * no full sort.
    */
  private lazy val q271: QueryDef =
    QueryDef("q271_adamic_adar",
      Some("""
        WITH und AS (SELECT DISTINCT l_orderkey AS a,
                       l_partkey + 1000000000000 AS b FROM lineitem),
        sym AS (SELECT a AS w, b AS n FROM und
                UNION ALL SELECT b AS w, a AS n FROM und),
        deg AS (SELECT w, COUNT(*) AS deg FROM sym GROUP BY w),
        mids AS (SELECT sym.w, sym.n,
                   CAST(floor(1000000.0 / ln(deg.deg)) AS BIGINT) AS c
                 FROM sym JOIN deg ON sym.w = deg.w
                 WHERE deg.deg BETWEEN 2 AND 64),
        wedges AS (SELECT w1.n AS u, w2.n AS v, w1.c
                   FROM mids w1 JOIN mids w2 ON w1.w = w2.w
                   WHERE w1.n < w2.n),
        scored AS (SELECT u, v, CAST(SUM(c) AS BIGINT) AS aa_micro,
                          CAST(COUNT(*) AS BIGINT) AS common_neighbors
                   FROM wedges GROUP BY u, v),
        nonadj AS (SELECT scored.* FROM scored
                   LEFT JOIN und ON und.a = scored.u AND und.b = scored.v
                   WHERE und.a IS NULL)
        SELECT u, v, aa_micro, common_neighbors
        FROM nonadj ORDER BY aa_micro DESC, u, v LIMIT 100"""),
      (s, d) => {
        val edges = lineitem(s, d).select(col("l_orderkey").as("u"),
          (col("l_partkey") + lit(1000000000000L)).as("v"))
        // round-19: the hard-coded 256-partition wedge-agg exchange
        // (a wedge-decade constant that bypassed AQE coalescing at
        // every other SF) now follows the SPARK_GRAFT_AA_AGG_PARTS
        // pattern q304/q309 adopted in round 18 — default 0 = session
        // shuffle partitions + AQE; sf10-class runs export the knob.
        graft.ops.Graph.adamicAdar(edges, maxDegree = 64, topK = 100,
            aggPartitions = AaAggParts.resolved)
          .orderBy(col("aa_micro").desc, col("u"), col("v"))
      })

  /** Keyless point-in-interval join ([[ops.Events
    * .intervalJoinBucketed]]): every 211th event opens a 7-minute
    * audit window; count ALL events falling inside each window. With
    * no equi key Spark plans this as a BroadcastNestedLoopJoin —
    * points x windows, the quadratic cliff — so the operator
    * time-buckets both sides (10-minute buckets >= the window length,
    * so each window covers <= 2 buckets) and the match becomes an
    * equi-join on bucket id + a residual containment filter. The
    * oracle runs the naive non-equi join DuckDB is happy to do at
    * oracle SF. Zero-match windows are kept (left join back).
    */
  private lazy val q272: QueryDef =
    QueryDef("q272_interval_join",
      Some("""
        WITH el AS (SELECT event_id, epoch_us(ts) AS ts_us FROM events),
        iv AS (SELECT event_id AS iv_id, ts_us AS s_us,
                      ts_us + 420000000 AS e_us
               FROM el WHERE event_id % 211 = 0)
        SELECT iv.iv_id, CAST(iv.s_us AS BIGINT) AS s_us,
               CAST(COUNT(el.ts_us) AS BIGINT) AS n_inside
        FROM iv LEFT JOIN el
          ON el.ts_us >= iv.s_us AND el.ts_us < iv.e_us
        GROUP BY iv.iv_id, iv.s_us ORDER BY iv_id"""),
      (s, d) => {
        val el = events(s, d).select(col("event_id"),
          expr("ts_ns div 1000").as("ts_us"))
        val iv = el.filter(col("event_id") % 211 === 0)
          .select(col("event_id").as("iv_id"), col("ts_us").as("s_us"),
            (col("ts_us") + lit(420000000L)).as("e_us"))
        val counts = graft.ops.Events.intervalJoinBucketed(
            el.select(col("ts_us").as("p_us")), "p_us",
            iv, "s_us", "e_us", bucketWidth = 600000000L)
          .groupBy("iv_id").agg(count(lit(1)).as("_n"))
        iv.join(counts, Seq("iv_id"), "left")
          .select(col("iv_id"), col("s_us"),
            coalesce(col("_n"), lit(0L)).as("n_inside"))
          .orderBy("iv_id")
      })

  /** Krippendorff's alpha ([[ops.Stats.krippendorffAlpha]]) over a
    * 3-rater panel WITH missing ratings — the agreement shape real
    * annotation projects have (q269's Cohen kappa requires exactly 2
    * complete raters): gold `lang` rates everything, the q32 bigram
    * heuristic skips doc_id % 3 = 0, and a first-half-of-text variant
    * of the same heuristic skips doc_id % 5 = 0 — so items carry 1-3
    * ratings and the single-rated (doc_id % 15 = 0) are unpairable
    * and excluded per the definition. All-integer coincidence math
    * (K = 2520 item-weight scaling), ppm floors, one row out.
    */
  private lazy val q273: QueryDef =
    QueryDef("q273_krippendorff_alpha",
      Some {
        val profiles = PipelineQueries.LangProfiles
        def scoresOver(e: String): String = profiles.map { case (l, bgs) =>
          val sum = bgs.map(bg =>
            s"(length($e) - length(replace($e, '$bg', '')))").mkString(" + ")
          s"($sum) AS s_$l"
        }.mkString(", ")
        val langs = profiles.map(_._1)
        val cases = langs.init.map { l =>
          val geAll = langs.filter(_ != l).map(o => s"s_$l >= s_$o").mkString(" AND ")
          s"WHEN $geAll THEN '$l'"
        }.mkString(" ")
        s"""
        WITH r1 AS (SELECT doc_id, lang AS label FROM documents),
        s2 AS (SELECT doc_id, ${scoresOver("text")} FROM documents
               WHERE doc_id % 3 <> 0),
        r2 AS (SELECT doc_id, CASE $cases ELSE '${langs.last}' END AS label
               FROM s2),
        s3 AS (SELECT doc_id,
                 ${scoresOver("substr(text, 1, length(text) // 2)")}
               FROM documents WHERE doc_id % 5 <> 0),
        r3 AS (SELECT doc_id, CASE $cases ELSE '${langs.last}' END AS label
               FROM s3),
        ratings AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2
                    UNION ALL SELECT * FROM r3),
        pil AS (SELECT doc_id AS u, label AS c, COUNT(*) AS nuc
                FROM ratings GROUP BY 1, 2),
        pi AS (SELECT u, SUM(nuc) AS m, SUM(nuc * nuc) AS sq
               FROM pil GROUP BY u HAVING SUM(nuc) >= 2),
        doa AS (SELECT COALESCE(SUM((m * m - sq) * (2520 // (m - 1))), 0)::HUGEINT
                    AS do_scaled,
                  COALESCE(SUM(m), 0) AS n, COUNT(*) AS n_items FROM pi),
        lt AS (SELECT COALESCE(SUM(nc::HUGEINT * nc), 0) AS sq_tot FROM (
                 SELECT c, SUM(nuc) AS nc FROM pil JOIN pi USING (u)
                 GROUP BY c))
        SELECT CAST(n AS BIGINT) AS n_ratings,
               CAST(n_items AS BIGINT) AS n_items,
               CAST(do_scaled * 1000000
                 // GREATEST(2520 * n::HUGEINT, 1) AS BIGINT) AS do_ppm,
               CAST((n::HUGEINT * n - sq_tot) * 1000000
                 // GREATEST(n::HUGEINT * (n - 1), 1) AS BIGINT) AS de_ppm,
               CAST((2520 * (n::HUGEINT * n - sq_tot) - (n - 1) * do_scaled)
                 * 1000000
                 // GREATEST(2520 * (n::HUGEINT * n - sq_tot), 1) AS BIGINT)
                 AS alpha_ppm
        FROM doa CROSS JOIN lt"""
      },
      (s, d) => {
        val profiles = PipelineQueries.LangProfiles
        val langs = profiles.map(_._1)
        // argmax-struct form of the scorer CASE chain (round-18):
        // provably the same label ([[graft.Pipeline.argmaxLabel]]),
        // each bigram scorer evaluated ONCE per row instead of
        // O(langs^2) CASE references (480 replace() trees per rater
        // in the old physical plan)
        def predictedOver(textCol: org.apache.spark.sql.Column)
            : org.apache.spark.sql.Column =
          graft.Pipeline.argmaxLabel(profiles.map { case (l, bgs) =>
            l -> bgs.map(graft.Pipeline.occurrences2x(textCol, _))
              .reduce(_ + _)
          })
        val docs = documents(s, d)
        val r1 = docs.select(col("doc_id"), lit("gold").as("rater"),
          col("lang").as("label"))
        val r2 = docs.filter(col("doc_id") % 3 =!= 0)
          .select(col("doc_id"), lit("bigram").as("rater"),
            predictedOver(col("text")).as("label"))
        val r3 = docs.filter(col("doc_id") % 5 =!= 0)
          .select(col("doc_id"), lit("half").as("rater"),
            predictedOver(expr("substring(text, 1, length(text) div 2)"))
              .as("label"))
        graft.ops.Stats.krippendorffAlpha(
          r1.unionAll(r2).unionAll(r3), "doc_id", "rater", "label")
      })

  // ---- second round-15 batch (q274+): graph/eval/sampling widening —
  // modularity scoring, Duffield priority sampling, integer power-
  // iteration PCA, deterministic walk corpora, isotonic calibration.

  // Engine mirror of kcoreEdgeCtes' chain+clique document graph (the
  // shared synthetic graph of q270/q274/q277).
  private[graft] def chainCliqueEdges(s: org.apache.spark.sql.SparkSession,
                               d: String): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy("source").orderBy("doc_id")
    val base = spread(documents(s, d)).select("source", "doc_id")
      .withColumn("rn", row_number().over(w))
    val chain = base
      .withColumn("_nxt", lead("doc_id", 1).over(w))
      .filter(col("_nxt").isNotNull)
      .select(col("doc_id").as("u"), col("_nxt").as("v"))
    val six = base.filter(col("rn") <= 6)
    val clique = six.as("b1").join(six.as("b2"),
        col("b1.source") === col("b2.source") &&
          col("b1.rn") < col("b2.rn"))
      .select(col("b1.doc_id").as("u"), col("b2.doc_id").as("v"))
    chain.unionAll(clique)
  }

  /** Newman modularity ([[ops.Graph.modularity]]) of the `lang`
    * partition over the chain+clique document graph: chain edges cross
    * languages (consecutive doc_ids within a source mix langs), clique
    * edges mostly do too — so the per-community contributions measure
    * a REAL mixed labeling, not a degenerate all-internal one. The
    * audit companion to the community producers (q252's star
    * components, q84's label propagation): one number per labeling,
    * comparable across labelings and across corpus growth. Integer
    * ppm over DECIMAL(38,0)/HUGEINT; truncating division matches
    * (both engines truncate toward zero on negatives).
    */
  private lazy val q274: QueryDef =
    QueryDef("q274_graph_modularity",
      Some(s"""
        WITH $kcoreEdgeCtes,
        lab AS (SELECT und.a, und.b, da.lang AS ca, db.lang AS cb
                FROM und JOIN documents da ON da.doc_id = und.a
                         JOIN documents db ON db.doc_id = und.b),
        mm AS (SELECT COUNT(*) AS m FROM lab),
        inte AS (SELECT ca AS community, COUNT(*) AS internal_edges
                 FROM lab WHERE ca = cb GROUP BY 1),
        dg AS (SELECT node, community, COUNT(*) AS deg FROM (
                 SELECT a AS node, ca AS community FROM lab
                 UNION ALL SELECT b, cb FROM lab) GROUP BY 1, 2),
        pc AS (SELECT community, CAST(COUNT(*) AS BIGINT) AS n_nodes,
                      CAST(SUM(deg) AS BIGINT) AS degree_sum
               FROM dg GROUP BY 1)
        SELECT pc.community AS community, n_nodes,
               CAST(COALESCE(internal_edges, 0) AS BIGINT) AS internal_edges,
               degree_sum, CAST(mm.m AS BIGINT) AS m_edges,
               CAST((4 * mm.m::HUGEINT * COALESCE(internal_edges, 0)
                     - degree_sum::HUGEINT * degree_sum) * 1000000
                 // (4 * mm.m::HUGEINT * mm.m) AS BIGINT)
                 AS contribution_ppm
        FROM pc CROSS JOIN mm LEFT JOIN inte ON inte.community = pc.community
        ORDER BY pc.community"""),
      (s, d) => graft.ops.Graph.modularity(
          chainCliqueEdges(s, d),
          documents(s, d).select("doc_id", "lang"), "doc_id", "lang")
        .orderBy("community"))

  /** Duffield–Lund–Thorup priority sampling
    * ([[ops.Sampling.priorityWeighted]]): fixed-size (k=100)
    * token-count-weighted sample without replacement with the
    * tau-clamped unbiased subset-sum estimator — the principled
    * "sample k docs proportional to length, then estimate any
    * subset's token mass from the sample alone". Cross-engine exact:
    * priority `w * 2^32 / (hash32(id) + 1)` is ONE IEEE division of
    * exactly-representable integers; tau is the (k+1)-th priority off
    * the bounded TakeOrderedAndProject frame.
    */
  private lazy val q275: QueryDef =
    QueryDef("q275_weighted_priority_sample",
      Some(s"""
        WITH t AS (SELECT doc_id,
                     CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
                   FROM documents),
        f AS (SELECT * FROM t WHERE n_tokens >= 1),
        p AS (SELECT doc_id, n_tokens,
                CAST(n_tokens * 4294967296 AS DOUBLE)
                  / CAST(${hash32("CAST(doc_id AS VARCHAR)")} + 1 AS DOUBLE)
                  AS pri
              FROM f),
        r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY pri DESC, doc_id) AS rn
              FROM p),
        tau AS (SELECT MAX(CASE WHEN rn = 101 THEN pri END) AS tau
                FROM r WHERE rn <= 101)
        SELECT doc_id, n_tokens, pri,
               GREATEST(CAST(n_tokens AS DOUBLE),
                 COALESCE(tau, CAST(n_tokens AS DOUBLE))) AS w_est
        FROM r CROSS JOIN tau WHERE rn <= 100
        ORDER BY pri DESC, doc_id"""),
      (s, d) => {
        val t = spread(documents(s, d)).select(col("doc_id"),
            size(graft.Pipeline.words(col("text"))).cast("long")
              .as("n_tokens"))
          .filter(col("n_tokens") >= 1)
        graft.ops.Sampling.priorityWeighted(t, "doc_id", "n_tokens",
            k = 100)
          .orderBy(col("pri").desc, col("doc_id"))
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

  // q277's per-step oracle blocks: join the frontier to the symmetric
  // adjacency, rank candidates by (md5 draw, neighbor id), keep rank 1.
  private def walkStepCtes(steps: Int): String =
    (1 to steps).map { t =>
      val prev =
        if (t == 1) "(SELECT walk_id, walk_id AS node FROM w0)"
        else s"p${t - 1}"
      s"""
        h$t AS (SELECT pr.walk_id, e0.y AS node,
                  ${hash32(s"CONCAT(pr.walk_id, '_', $t, '_', e0.y)")} AS h
                FROM $prev pr JOIN e0 ON e0.x = pr.node),
        p$t AS (SELECT walk_id, node FROM h$t
                QUALIFY ROW_NUMBER() OVER (PARTITION BY walk_id
                  ORDER BY h, node) = 1)"""
    }.mkString(",")

  /** Deterministic random-walk corpus ([[ops.Graph
    * .deterministicWalks]]): one 4-step walk from every node of the
    * chain+clique graph, next hop = argmin over neighbors of a fresh
    * md5 draw keyed (walk, step, neighbor) — the DeepWalk/node2vec
    * input corpus, replayable bit-identically across engines, runs,
    * and retries (a re-run after partial failure regenerates the SAME
    * corpus). Each step is one node-keyed equi-join + a
    * min(struct(hash, neighbor)) partial-combinable aggregate.
    */
  private lazy val q277: QueryDef =
    QueryDef("q277_deterministic_walks",
      Some(s"""
        WITH $kcoreEdgeCtes,
        w0 AS (SELECT DISTINCT x AS walk_id FROM e0),
        ${walkStepCtes(4)}
        SELECT walk_id, CAST(0 AS BIGINT) AS step, walk_id AS node FROM w0
        UNION ALL SELECT walk_id, CAST(1 AS BIGINT), node FROM p1
        UNION ALL SELECT walk_id, CAST(2 AS BIGINT), node FROM p2
        UNION ALL SELECT walk_id, CAST(3 AS BIGINT), node FROM p3
        UNION ALL SELECT walk_id, CAST(4 AS BIGINT), node FROM p4
        ORDER BY walk_id, step"""),
      (s, d) => graft.ops.Graph.deterministicWalks(
          chainCliqueEdges(s, d), steps = 4)
        .orderBy("walk_id", "step"))

  /** Isotonic (PAV) score calibration ([[ops.Stats
    * .isotonicCalibration]]) over q254's scored frame at 50 bins: the
    * best MONOTONE map from predicted score to observed positive
    * rate, micro-exact via the minimax representation (floor commutes
    * with min/max, so `fitted_micro` IS the floored true PAV fit).
    * Where q254 reports per-bin gaps, this produces the correction a
    * serving layer actually applies. One corpus pass; everything
    * after runs on the bounded 50-row bin panel.
    */
  private lazy val q278: QueryDef =
    QueryDef("q278_isotonic_calibration",
      Some(s"""
        WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                          CAST(label AS BIGINT) % 2 AS y
                   FROM embeddings),
        q AS (SELECT v AS qv FROM t WHERE vec_id = 0),
        sc AS (SELECT y, (${cos("v", "qv")} + 1) / 2 AS p
               FROM t CROSS JOIN q),
        b AS (SELECT LEAST(49, CAST(FLOOR(p * 50) AS BIGINT)) AS bin, y
              FROM sc),
        g AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(y) AS BIGINT) AS n_pos
              FROM b GROUP BY bin),
        pre AS (SELECT *, SUM(n) OVER (ORDER BY bin) AS cn,
                       SUM(n_pos) OVER (ORDER BY bin) AS cp FROM g),
        pairs AS (SELECT j.bin AS jb, k.bin AS kb,
                    (k.cp - (j.cp - j.n_pos)) * 1000000
                      // (k.cn - (j.cn - j.n)) AS mm
                  FROM pre j JOIN pre k ON j.bin <= k.bin),
        tri AS (SELECT i.bin AS ib, p.jb, p.mm FROM g i
                JOIN pairs p ON p.jb <= i.bin AND i.bin <= p.kb),
        mn AS (SELECT ib, jb, MIN(mm) AS mn FROM tri GROUP BY 1, 2),
        fit AS (SELECT ib AS bin, MAX(mn) AS fitted_micro FROM mn
                GROUP BY 1)
        SELECT g.bin, g.n, g.n_pos,
               CAST(g.n_pos * 1000000 // g.n AS BIGINT) AS raw_micro,
               CAST(fitted_micro AS BIGINT) AS fitted_micro
        FROM g JOIN fit USING (bin) ORDER BY bin"""),
      (s, d) => {
        val t = spread(embeddings(s, d)).select(col("vec_id"),
          graft.Pipeline.asDouble(col("embedding")).as("v"),
          (col("label").cast("long") % 2).as("y"))
        val q = embeddings(s, d).filter(col("vec_id") === 0)
          .select(graft.Pipeline.asDouble(col("embedding")).as("qv"))
        val scored = t.crossJoin(broadcast(q))
          .select(col("y"),
            ((graft.plans.VectorExpressions.cosineSim(col("v"), col("qv"))
              + 1) / 2).as("p"))
        graft.ops.Stats.isotonicCalibration(scored, "y", "p", bins = 50)
          .orderBy("bin")
      })

  /** Rank-biased overlap ([[ops.Ranking.rankBiasedOverlap]],
    * p = 9/10, depth 20) between two document rankings — "length
    * order" (token count) vs "vocabulary order" (distinct tokens):
    * the top-weighted agreement score a retrieval change gates on.
    * Integer-exact via precomputed `9^(d-1) * 10^(20-d) * lcm/d`
    * coefficients inlined as literals in BOTH engines; the engine
    * computes on the <= 20-row intersection (explode + equi-group,
    * no range join), the oracle replays the same coefficient sum.
    */
  private lazy val q279: QueryDef = {
    val depth = 20
    val lcm = (1 to depth).map(BigInt(_)).reduce((x, y) => x * y / x.gcd(y))
    val coef = (1 to depth).map(d =>
      BigInt(9).pow(d - 1) * BigInt(10).pow(depth - d) * (lcm / d))
    val denTimesPden = (BigInt(10).pow(depth - 1) * lcm * 10).toString
    val coefCases = coef.zipWithIndex
      .map { case (c, i) => s"WHEN ${i + 1} THEN ${c}::HUGEINT" }
      .mkString(" ")
    QueryDef("q279_rank_biased_overlap",
      Some(s"""
        WITH t AS (SELECT doc_id,
                     len(string_split(text, ' ')) AS nt,
                     len(list_distinct(string_split(text, ' '))) AS nd
                   FROM documents),
        ra AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY nt DESC, doc_id)
                 AS r FROM t QUALIFY r <= $depth),
        rb AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY nd DESC, doc_id)
                 AS r FROM t QUALIFY r <= $depth),
        cm AS (SELECT GREATEST(ra.r, rb.r) AS m FROM ra
               JOIN rb ON ra.doc_id = rb.doc_id),
        ds AS (SELECT unnest(range(1, ${depth + 1})) AS d),
        ov AS (SELECT ds.d, COALESCE(COUNT(cm.m), 0) AS overlap
               FROM ds LEFT JOIN cm ON cm.m <= ds.d GROUP BY ds.d),
        nm AS (SELECT COALESCE(SUM((CASE d $coefCases END) * overlap),
                 0::HUGEINT) AS num FROM ov)
        SELECT CAST(ov.d AS BIGINT) AS d, CAST(overlap AS BIGINT)
                 AS overlap,
               CAST(num * 1000000 // ${denTimesPden}::HUGEINT AS BIGINT)
                 AS rbo_ppm
        FROM ov CROSS JOIN nm ORDER BY d"""),
      (s, d) => {
        val w = graft.Pipeline.words(col("text"))
        val t = spread(documents(s, d)).select(col("doc_id"),
          size(w).as("nt"), size(array_distinct(w)).as("nd"))
        def ranked(by: String) = t
          .orderBy(col(by).desc, col("doc_id"))
          .limit(depth)
          .withColumn("r", row_number().over(
            Window.orderBy(col(by).desc, col("doc_id"))))
        graft.ops.Ranking.rankBiasedOverlap(
            ranked("nt"), ranked("nd"), "doc_id", "r",
            depth = depth, pNum = 9, pDen = 10)
          .orderBy("d")
      })
  }

  /** Gini concentration + Lorenz deciles
    * ([[ops.Stats.giniConcentration]]) of token mass over documents —
    * the corpus-inequality audit behind mix design and shard balance.
    * Rank rides the hierarchical prefix-sum scaffold; the oracle
    * replays the exact rank form with a plain window.
    */
  private lazy val q280: QueryDef =
    QueryDef("q280_gini_token_concentration",
      Some("""
        WITH t AS (SELECT doc_id,
                     CAST(len(string_split(text, ' ')) AS BIGINT) AS w
                   FROM documents),
        r AS (SELECT doc_id, w,
                ROW_NUMBER() OVER (ORDER BY w, doc_id) AS rk FROM t),
        tot AS (SELECT COUNT(*) AS n, SUM(w)::HUGEINT AS tw,
                       SUM(rk::HUGEINT * w) AS srw FROM r),
        g AS (SELECT CAST((2 * srw - (n + 1) * tw) * 1000000
                // GREATEST(n::HUGEINT * tw, 1) AS BIGINT) AS gini_ppm,
                n, tw FROM tot),
        dc AS (SELECT ((rk - 1) * 10) // g.n AS decile,
                      CAST(COUNT(*) AS BIGINT) AS n_docs,
                      CAST(SUM(w) AS BIGINT) AS decile_weight
               FROM r CROSS JOIN g GROUP BY 1)
        SELECT dc.decile, dc.n_docs, dc.decile_weight,
               CAST(SUM(dc.decile_weight::HUGEINT) OVER (ORDER BY dc.decile
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 * 1000000 // GREATEST(g.tw, 1) AS BIGINT)
                 AS cum_weight_ppm,
               g.gini_ppm
        FROM dc CROSS JOIN g ORDER BY decile"""),
      (s, d) => {
        val t = spread(documents(s, d)).select(col("doc_id"),
          size(graft.Pipeline.words(col("text"))).cast("long").as("w"))
        graft.ops.Stats.giniConcentration(t, "doc_id", "w")
          .orderBy("decile")
      })

  /** Poisson bootstrap ([[ops.Stats.poissonBootstrap]], B = 32) of
    * mean tokens/doc — deterministic md5 multiplicities against the
    * exact Poisson(1) CDF ppm thresholds, one exploded scan, variance
    * of the mean off the bounded 32-row panel: the error bar a
    * 100 TB metrics job attaches without a second pass.
    */
  private lazy val q281: QueryDef = {
    val th = Seq(367879L, 735758L, 919698L, 981011L, 996340L,
      999405L, 999916L, 999989L, 999998L, 999999L)
    QueryDef("q281_poisson_bootstrap",
      Some(s"""
        WITH t AS (SELECT doc_id,
                     CAST(len(string_split(text, ' ')) AS BIGINT) AS v
                   FROM documents),
        bs AS (SELECT unnest(range(0, 32)) AS b),
        e AS (SELECT bs.b, t.doc_id, t.v,
                ${hash32("'bs_' || bs.b || '_' || t.doc_id")}
                  % 1000000 AS slot
              FROM t CROSS JOIN bs),
        m AS (SELECT b, v,
                len(list_filter([${th.mkString(", ")}],
                  x -> slot >= x)) AS mult
              FROM e),
        per AS (SELECT b AS resample, CAST(SUM(mult) AS BIGINT) AS n_eff,
                  SUM(mult::HUGEINT * v) AS sv
                FROM m GROUP BY b),
        pm AS (SELECT resample, n_eff,
                 CAST(sv * 1000000 // GREATEST(n_eff, 1) AS BIGINT)
                   AS mean_ppm
               FROM per),
        vr AS (SELECT CAST((32 * SUM(mean_ppm::HUGEINT * mean_ppm)
                 - SUM(mean_ppm::HUGEINT) * SUM(mean_ppm))
                 // ${32L * 31L} AS BIGINT) AS var_ppm2 FROM pm)
        SELECT CAST(resample AS BIGINT) AS resample, n_eff, mean_ppm,
               var_ppm2
        FROM pm CROSS JOIN vr ORDER BY resample"""),
      (s, d) => {
        val t = spread(documents(s, d)).select(col("doc_id"),
          size(graft.Pipeline.words(col("text"))).cast("long").as("v"))
        graft.ops.Stats.poissonBootstrap(t, "doc_id", "v",
            resamples = 32)
          .orderBy("resample")
      })
  }

  // ---- third round-15 batch (q282+): distribution drift, monotone
  // association, neighborhood density — the audit trio between the
  // eval family (AUC/kappa/calibration) and the graph family.

  /** Two-sample KS drift gate ([[ops.Stats.ksTwoSample]]): the exact
    * integer KS distance between the `n_chars` distributions of two
    * languages — "did this slice's length distribution move?". The
    * cumulative windows ride the distinct-VALUE frame (bounded by the
    * length domain, not the corpus); the max row is picked by the
    * deterministic (D desc, value asc) order on that bounded frame.
    */
  private lazy val q282: QueryDef =
    QueryDef("q282_ks_two_sample",
      Some("""
        WITH sel AS (SELECT n_chars AS v, lang = 'en' AS isa
                     FROM documents WHERE lang IN ('en', 'zh')),
        pv AS (SELECT v, COUNT(*) FILTER (isa) AS ca,
                      COUNT(*) FILTER (NOT isa) AS cb
               FROM sel GROUP BY v),
        ec AS (SELECT v,
                 SUM(ca) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cuma,
                 SUM(cb) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cumb,
                 SUM(ca) OVER () AS na, SUM(cb) OVER () AS nb
               FROM pv),
        dd AS (SELECT v, na, nb,
                 abs(cuma * nb - cumb * na) AS dnum FROM ec)
        SELECT v AS at_value, CAST(na AS BIGINT) AS n_a,
               CAST(nb AS BIGINT) AS n_b,
               CAST(dnum::HUGEINT * 1000000
                 // GREATEST(na::HUGEINT * nb, 1) AS BIGINT) AS d_ppm
        FROM dd ORDER BY dnum DESC, v LIMIT 1"""),
      (s, d) => graft.ops.Stats.ksTwoSample(
        spread(documents(s, d)), "n_chars", "lang", "en", "zh"))

  /** Spearman rank correlation ([[ops.Stats.spearmanCorr]]) between
    * quantity and extended price over lineitem — heavy ties on the
    * 50-value quantity side exercise the doubled-average-rank tie
    * correction; price hops through DECIMAL(25,6) cents so both
    * engines bucket identically. The oracle replays the doubled
    * ranks, the six HUGEINT moment sums, and the per-factor corrected
    * floor-sqrt verbatim.
    */
  private lazy val q283: QueryDef =
    QueryDef("q283_spearman_corr",
      Some("""
        WITH base AS (SELECT CAST(l_quantity AS HUGEINT) AS x,
                        CAST(CAST(l_extendedprice AS DECIMAL(25,6)) * 100
                          AS HUGEINT) AS y,
                        l_orderkey AS ok, l_linenumber AS ln
                      FROM lineitem),
        px AS (SELECT x, ROW_NUMBER() OVER (ORDER BY x, ok, ln) AS pos
               FROM base),
        rx AS (SELECT x AS val, MIN(pos)::HUGEINT + MAX(pos) AS r2
               FROM px GROUP BY x),
        py AS (SELECT y, ROW_NUMBER() OVER (ORDER BY y, ok, ln) AS pos
               FROM base),
        ry AS (SELECT y AS val, MIN(pos)::HUGEINT + MAX(pos) AS r2
               FROM py GROUP BY y),
        j AS (SELECT rx.r2 AS rxv, ry.r2 AS ryv
              FROM base JOIN rx ON base.x = rx.val
                        JOIN ry ON base.y = ry.val),
        ag AS (SELECT COUNT(*)::HUGEINT AS n, SUM(rxv) AS sx,
                      SUM(ryv) AS sy, SUM(rxv * ryv) AS sxy,
                      SUM(rxv * rxv) AS sxx, SUM(ryv * ryv) AS syy
               FROM j),
        nm AS (SELECT n, n * sxy - sx * sy AS num,
                      n * sxx - sx * sx AS a, n * syy - sy * sy AS b
               FROM ag),
        s0 AS (SELECT *,
                 CAST(floor(sqrt(CAST(a AS DOUBLE))) AS HUGEINT) AS sa0,
                 CAST(floor(sqrt(CAST(b AS DOUBLE))) AS HUGEINT) AS sb0
               FROM nm),
        sq AS (SELECT n, num,
                 GREATEST(list_max(list_filter(
                     [sa0 - 2, sa0 - 1, sa0, sa0 + 1, sa0 + 2],
                     t -> t * t <= a)) *
                   list_max(list_filter(
                     [sb0 - 2, sb0 - 1, sb0, sb0 + 1, sb0 + 2],
                     t -> t * t <= b)), 1) AS den
               FROM s0)
        SELECT CAST(n AS BIGINT) AS n_items,
               CAST(num * 1000000 // den AS BIGINT) AS rho_ppm
        FROM sq"""),
      (s, d) => graft.ops.Stats.spearmanCorr(
        lineitem(s, d).select(col("l_quantity"),
          (col("l_extendedprice").cast("decimal(25,6)") * 100)
            .cast("long").as("price_cents"),
          col("l_orderkey"), col("l_linenumber")),
        "l_quantity", "price_cents",
        Seq("l_orderkey", "l_linenumber")))

  /** Local clustering coefficient ([[ops.Graph
    * .clusteringCoefficient]]) over the chain+clique graph: clique
    * interiors score 1e6, chain nodes 0, the chain-clique boundary
    * nodes the partial values — the farm-vs-organic density audit per
    * node, companion to q270's core membership. The oracle runs the
    * naive symmetric wedge-closure count (fine at oracle SF); the
    * engine enumerates each triangle once from its lowest-degree
    * corner.
    */
  private lazy val q284: QueryDef =
    QueryDef("q284_clustering_coefficient",
      Some(s"""
        WITH $kcoreEdgeCtes,
        deg AS (SELECT x AS node, COUNT(*) AS degree FROM e0 GROUP BY x),
        tr AS (SELECT e1.x AS node, COUNT(*) AS n_tri
               FROM e0 e1 JOIN e0 e2 ON e1.x = e2.x AND e1.y < e2.y
               JOIN und ON und.a = e1.y AND und.b = e2.y
               GROUP BY e1.x)
        SELECT deg.node AS node, CAST(degree AS BIGINT) AS degree,
               CAST(COALESCE(n_tri, 0) AS BIGINT) AS n_tri,
               CAST(CASE WHEN degree >= 2
                 THEN COALESCE(n_tri, 0)::HUGEINT * 2000000
                   // (degree::HUGEINT * (degree - 1))
                 ELSE 0 END AS BIGINT) AS coeff_ppm
        FROM deg LEFT JOIN tr ON tr.node = deg.node
        ORDER BY node"""),
      (s, d) => graft.ops.Graph.clusteringCoefficient(
          chainCliqueEdges(s, d))
        .orderBy("node"))

  /** Neyman variance-optimal stratified allocation + deterministic
    * draw ([[ops.Sampling.neymanAllocation]], budget 200 over `lang`
    * strata by `n_chars` variance): the eval-set sizing form — budget
    * goes where the metric is noisy, not uniformly. Integer sd via the
    * corrected floor-sqrt, largest-remainder quota assignment, md5
    * rank draw through the per-stratum scaffold; the oracle replays
    * every step including the remainder tiebreaks.
    */
  private lazy val q285: QueryDef =
    QueryDef("q285_neyman_allocation",
      Some(s"""
        WITH base AS (SELECT lang AS stratum, doc_id AS id,
                        n_chars AS value FROM documents),
        pn AS (SELECT stratum, COUNT(*)::HUGEINT AS nh,
                      SUM(value::HUGEINT) AS sv,
                      SUM(value::HUGEINT * value) AS svv
               FROM base GROUP BY stratum),
        va AS (SELECT stratum, nh,
                 (nh * svv - sv * sv) * 1000000 // (nh * nh) AS ah
               FROM pn),
        sd0 AS (SELECT *, CAST(floor(sqrt(CAST(ah AS DOUBLE)))
                  AS HUGEINT) AS s0 FROM va),
        sd AS (SELECT stratum, nh,
                 list_max(list_filter([s0-2, s0-1, s0, s0+1, s0+2],
                   t -> t * t <= ah)) AS sdm
               FROM sd0),
        wv AS (SELECT stratum, nh, sdm,
                 CASE WHEN (SELECT SUM(nh * sdm) FROM sd) > 0
                   THEN nh * sdm ELSE nh END AS w
               FROM sd),
        tw AS (SELECT GREATEST(SUM(w), 1) AS totw FROM wv),
        fl AS (SELECT stratum, nh, sdm, (200 * w) // totw AS f,
                      (200 * w) % totw AS rem
               FROM wv CROSS JOIN tw),
        lo AS (SELECT 200 - SUM(f) AS leftover FROM fl),
        rk AS (SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, stratum)
                 AS rr FROM fl),
        qt AS (SELECT stratum, CAST(nh AS BIGINT) AS n_stratum,
                 CAST(sdm AS BIGINT) AS sd_milli,
                 CAST(LEAST(f + CASE WHEN rr <= leftover THEN 1 ELSE 0
                   END, nh) AS BIGINT) AS alloc_n
               FROM rk CROSS JOIN lo),
        sl AS (SELECT stratum, id, value,
                 ${hash32("'ney_' || id")} % 1000000 AS slot
               FROM base),
        rked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY stratum
                   ORDER BY slot, id) AS rn FROM sl)
        SELECT r.stratum, r.id, r.value, q.n_stratum, q.sd_milli,
               q.alloc_n
        FROM rked r JOIN qt q USING (stratum)
        WHERE r.rn <= q.alloc_n ORDER BY stratum, id"""),
      (s, d) => graft.ops.Sampling.neymanAllocation(
          spread(documents(s, d)), "doc_id", "lang", "n_chars", n = 200)
        .orderBy("stratum", "id"))

  // Luby-MIS oracle: one round = draws -> live-neighbor min -> winners
  // -> removal -> shrunken node/edge sets. l/le are MATERIALIZED (the
  // q276 inlining lesson: each is referenced by the next round
  // twice+). Extra rounds past drain are no-ops on empty sets.
  private def lubyRoundCtes(rounds: Int): String =
    (1 to rounds).map { t =>
      val p = t - 1
      s"""
        d$t AS (SELECT node,
                  ${hash32(s"'mis_' || node || '_' || $t")}::HUGEINT
                    * 1099511627776 + node AS k
                FROM l$p),
        nm$t AS (SELECT le.x AS node, MIN(d.k) AS mn
                 FROM le$p le JOIN d$t d ON le.y = d.node GROUP BY le.x),
        w$t AS MATERIALIZED (SELECT d.node FROM d$t d
                 LEFT JOIN nm$t nm ON d.node = nm.node
                 WHERE nm.mn IS NULL OR d.k < nm.mn),
        r$t AS (SELECT node FROM w$t
                UNION SELECT le.y FROM le$p le
                      JOIN w$t w ON le.x = w.node),
        l$t AS MATERIALIZED (SELECT node FROM l$p
                EXCEPT SELECT node FROM r$t),
        le$t AS MATERIALIZED (SELECT le.x, le.y FROM le$p le
                 JOIN l$t a ON le.x = a.node
                 JOIN l$t b ON le.y = b.node)"""
    }.mkString(",")

  /** Luby maximal independent set
    * ([[ops.Graph.maximalIndependentSet]]) over the chain+clique
    * graph — deterministic md5 draws, log-round drain, fail-loud on
    * truncation: the diversity-selection primitive ("maximal set of
    * mutually-non-adjacent docs"). Engine runs to drain; the oracle
    * unrolls a measured-plus-slack round count (the md5-replayed
    * drain takes 3 rounds at oracle SF; 8 are unrolled, and extra
    * rounds are no-ops on empty sets — the q270 discipline). Spec
    * verifies independence AND maximality directly.
    */
  private lazy val q286: QueryDef = {
    val oracleRounds = 8
    QueryDef("q286_luby_mis",
      Some(s"""
        WITH $kcoreEdgeCtes,
        l0 AS (SELECT DISTINCT x AS node FROM e0),
        le0 AS (SELECT x, y FROM e0),
        ${lubyRoundCtes(oracleRounds)}
        SELECT node, round FROM (${(1 to oracleRounds).map(t =>
          s"SELECT node, CAST($t AS BIGINT) AS round FROM w$t")
          .mkString(" UNION ALL ")})
        ORDER BY node"""),
      (s, d) => graft.ops.Graph.maximalIndependentSet(
          chainCliqueEdges(s, d), maxIters = 25)
        .orderBy("node"))
  }

  /** Robust per-language location/scale ([[ops.Stats.robustStats]]):
    * exact lower median and MAD of `n_chars` per lang — the
    * outlier-proof quality panel. Two per-stratum scaffold passes;
    * the oracle runs the naive per-stratum windows (fine at oracle
    * SF).
    */
  private lazy val q287: QueryDef =
    QueryDef("q287_robust_stats",
      Some("""
        WITH base AS (SELECT lang AS stratum, n_chars AS v, doc_id AS id
                      FROM documents),
        r1 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY stratum
                 ORDER BY v, id) AS rn,
                 COUNT(*) OVER (PARTITION BY stratum) AS n FROM base),
        med AS (SELECT stratum, CAST(n AS BIGINT) AS n_rows,
                       CAST(v AS BIGINT) AS median
                FROM r1 WHERE rn = (n + 1) // 2),
        dv AS (SELECT b.stratum, abs(b.v - m.median) AS d, b.id
               FROM base b JOIN med m USING (stratum)),
        r2 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY stratum
                 ORDER BY d, id) AS rn,
                 COUNT(*) OVER (PARTITION BY stratum) AS n FROM dv),
        mad AS (SELECT stratum, CAST(d AS BIGINT) AS mad
                FROM r2 WHERE rn = (n + 1) // 2)
        SELECT med.stratum, n_rows, median, mad
        FROM med JOIN mad USING (stratum) ORDER BY stratum"""),
      (s, d) => graft.ops.Stats.robustStats(
          spread(documents(s, d)), "lang", "n_chars", "doc_id")
        .orderBy("stratum"))

  // HyperBall oracle: one round = registers flow one hop (self UNION
  // neighbor-join) into a per-(node, bucket) MAX; g{t} MATERIALIZED
  // (each feeds round t+1 AND its own estimate — the q276 lesson).
  private def hyperballRoundCtes(rounds: Int): String =
    (1 to rounds).map { t =>
      val p = t - 1
      s"""
        g$t AS MATERIALIZED (SELECT node, bucket, MAX(r) AS r FROM (
            SELECT node, bucket, r FROM g$p
            UNION ALL
            SELECT e.x AS node, g.bucket, g.r
            FROM e0 e JOIN g$p g ON g.node = e.y
          ) GROUP BY node, bucket)"""
    }.mkString(",")

  // q221's integer RAW HLL estimator with the linear-counting
  // small-range branch (Graph.LcTable's precomputed literals — the
  // SAME constants the engine inlines), as a per-node CTE `pe{t}`
  // `(node, radius, est)` — q288 sums it per radius, q291 runs the
  // harmonic window over it.
  private def hyperballEstCte(t: Int): String = {
    val lc = graft.ops.Graph.LcTable.mkString("[", ", ", "]")
    s"""
        pe$t AS (SELECT node, CAST($t AS BIGINT) AS radius,
            CAST(CASE WHEN nb < 64 AND est < 160
              THEN ($lc)[CAST(64 - nb AS INT)]
              ELSE est END AS BIGINT) AS est FROM (
          SELECT node, COUNT(*) AS nb,
            CAST((709::HUGEINT * 64 * 64 * (1::BIGINT << 60))
                 // (1000::HUGEINT *
                     (SUM(1::HUGEINT * (1::BIGINT << CAST(60 - r AS INT)))
                      + (64 - COUNT(*))::HUGEINT * (1::BIGINT << 60)))
                 AS BIGINT) AS est
          FROM g$t GROUP BY node))"""
  }
  private def hyperballNfSql(t: Int): String = s"""
        SELECT radius, CAST(SUM(est) AS BIGINT) AS reach_est
        FROM pe$t GROUP BY radius"""

  /** HyperBall neighborhood function ([[ops.Graph.hyperBall]],
    * radius 6, m = 64 registers) over the chain+clique graph:
    * per-node deterministic-HLL balls merged one hop per round —
    * reachability growth and the mean-distance-within-horizon audit
    * without all-pairs BFS. Chains make N(t) grow ~linearly in t
    * (each hop adds ~2 chain nodes per node), so the profile is a
    * real growth curve, not an instant saturation. The oracle
    * replays registers, merges, the integer RAW estimator, and the
    * panel distance math verbatim.
    */
  private lazy val q288: QueryDef = {
    val radius = 6
    QueryDef("q288_hyperball_reach",
      Some(s"""
        WITH $kcoreEdgeCtes,
        nodes AS (SELECT DISTINCT x AS node FROM e0),
        g0 AS MATERIALIZED (SELECT node, h % 64 AS bucket,
                CAST(CASE WHEN h // 64 = 0 THEN 55
                     ELSE 55 - length(bin(h // 64)) END AS BIGINT) AS r
              FROM (SELECT node,
                      ${hash60("CAST(node AS VARCHAR)")} AS h
                    FROM nodes)),
        ${hyperballRoundCtes(radius)},
        ${(0 to radius).map(hyperballEstCte).mkString(",")},
        nf AS (${(0 to radius).map(hyperballNfSql)
          .mkString(" UNION ALL ")}),
        pan AS (SELECT radius, reach_est,
                  reach_est - LAG(reach_est) OVER (ORDER BY radius)
                    AS gain
                FROM nf),
        av AS (SELECT CAST(SUM(radius * COALESCE(gain, 0)::HUGEINT)
                 * 1000 // GREATEST(arg_max(reach_est, radius)
                                      - arg_min(reach_est, radius), 1)
                 AS BIGINT) AS avg_distance_milli
               FROM pan)
        SELECT nf.radius, nf.reach_est, av.avg_distance_milli
        FROM nf CROSS JOIN av ORDER BY radius"""),
      (s, d) => graft.ops.Graph.hyperBall(
          chainCliqueEdges(s, d), radius = radius, p = 6)
        .orderBy("radius"))
  }

  /** Degree assortativity ([[ops.Graph.assortativity]]) of the
    * chain+clique graph — hubs-link-hubs vs hub-and-spoke in one
    * ppm number, the structural audit next to q284's density and
    * q274's labeling score. Oracle replays the six HUGEINT moment
    * sums and both corrected floor-sqrt windows (the q283
    * denominator discipline).
    */
  private lazy val q289: QueryDef =
    QueryDef("q289_degree_assortativity",
      Some(s"""
        WITH $kcoreEdgeCtes,
        deg AS (SELECT x AS node, COUNT(*)::HUGEINT AS deg
                FROM e0 GROUP BY x),
        pr AS (SELECT dx.deg AS x, dy.deg AS y FROM e0
               JOIN deg dx ON dx.node = e0.x
               JOIN deg dy ON dy.node = e0.y),
        ag AS (SELECT COUNT(*)::HUGEINT AS n, SUM(x) AS sx, SUM(y) AS sy,
                      SUM(x * y) AS sxy, SUM(x * x) AS sxx,
                      SUM(y * y) AS syy
               FROM pr),
        nm AS (SELECT n, n * sxy - sx * sy AS num,
                      n * sxx - sx * sx AS a, n * syy - sy * sy AS b
               FROM ag),
        s0 AS (SELECT *,
                 CAST(floor(sqrt(CAST(a AS DOUBLE))) AS HUGEINT) AS sa0,
                 CAST(floor(sqrt(CAST(b AS DOUBLE))) AS HUGEINT) AS sb0
               FROM nm),
        sq AS (SELECT n, num,
                 GREATEST(list_max(list_filter(
                     [sa0 - 2, sa0 - 1, sa0, sa0 + 1, sa0 + 2],
                     t -> t * t <= a)) *
                   list_max(list_filter(
                     [sb0 - 2, sb0 - 1, sb0, sb0 + 1, sb0 + 2],
                     t -> t * t <= b)), 1) AS den
               FROM s0)
        SELECT CAST(n AS BIGINT) AS n_pairs,
               CAST(num * 1000000 // den AS BIGINT) AS assortativity_ppm
        FROM sq"""),
      (s, d) => graft.ops.Graph.assortativity(chainCliqueEdges(s, d)))

  /** AMS tug-of-war F2 sketch ([[ops.Sketches.amsF2Sketch]] -> merge
    * -> estimate): per-source second moment of the token frequency
    * vector — the self-join-size / groupBy-skew screen — via 60
    * counters whose signs are the BITS of one 60-bit md5 per token
    * (one md5 per row, the round-2 kernel lesson), built PER PARITY
    * SHARD and merged by counter ADDITION (the q221 merge-exactness
    * argument in the additive sketch), against the exact F2 with
    * `err_ppm`. All integer; the oracle builds the one-shot counters
    * directly, so hash equality proves the merge.
    */
  private lazy val q290: QueryDef =
    QueryDef("q290_ams_f2",
      Some(s"""
        WITH t AS (SELECT doc_id, source,
                     unnest(string_split(text, ' ')) AS w
                   FROM documents),
        hh AS (SELECT source, ${hash60("'ams_' || w")} AS h FROM t),
        e AS (SELECT source, h, unnest(range(0, 60)) AS c FROM hh),
        sg AS (SELECT source, c,
                 SUM(((h // (1::BIGINT << CAST(c AS INT))) % 2)
                   * 2 - 1) AS s
               FROM e GROUP BY source, c),
        est AS (SELECT source,
                  CAST(SUM(s::HUGEINT * s) // 60 AS BIGINT) AS f2_est
                FROM sg GROUP BY source),
        ex AS (SELECT source,
                 CAST(SUM(f::HUGEINT * f) AS BIGINT) AS f2_exact
               FROM (SELECT source, w, COUNT(*) AS f
                     FROM t GROUP BY source, w)
               GROUP BY source)
        SELECT est.source, f2_est, f2_exact,
               (abs(f2_est - f2_exact) * 1000000) // f2_exact AS err_ppm
        FROM est JOIN ex USING (source) ORDER BY est.source"""),
      (s, d) => {
        val toks = spread(documents(s, d)).select(col("doc_id"),
          col("source"),
          explode(graft.Pipeline.words(col("text"))).as("w"))
        val shards = toks.withColumn("_p", pmod(col("doc_id"), lit(2)))
        val merged = graft.ops.Sketches.amsF2Merge(
          graft.ops.Sketches.amsF2Sketch(shards, Seq("source", "_p"),
            "w", counters = 60),
          Seq("source"))
        val est = graft.ops.Sketches.amsF2Estimate(merged,
          Seq("source"))
        val exact = toks.groupBy("source", "w")
          .agg(count(lit(1)).cast("long").as("f"))
          .groupBy("source")
          .agg(sum(col("f").cast("decimal(38,0)") * col("f"))
            .cast("long").as("f2_exact"))
        est.join(exact, "source")
          .withColumn("err_ppm", expr(
            "(abs(f2_est - f2_exact) * 1000000) div f2_exact"))
          .select("source", "f2_est", "f2_exact", "err_ppm")
          .orderBy("source")
      })

  /** Harmonic centrality via HyperBall
    * ([[ops.Graph.harmonicCentrality]], radius 6, top-100): each node
    * discovered at distance t contributes 1000/t milli — closeness
    * that needs no connectivity assumption. Clique members (2 hops to
    * everything in their source's head) outrank chain interiors. The
    * oracle reuses q288's register/estimator CTEs and replays the
    * per-node lag window, the integer per-hop terms, and the
    * (score desc, node) top-k.
    */
  private lazy val q291: QueryDef = {
    val radius = 6
    QueryDef("q291_harmonic_centrality",
      Some(s"""
        WITH $kcoreEdgeCtes,
        nodes AS (SELECT DISTINCT x AS node FROM e0),
        g0 AS MATERIALIZED (SELECT node, h % 64 AS bucket,
                CAST(CASE WHEN h // 64 = 0 THEN 55
                     ELSE 55 - length(bin(h // 64)) END AS BIGINT) AS r
              FROM (SELECT node,
                      ${hash60("CAST(node AS VARCHAR)")} AS h
                    FROM nodes)),
        ${hyperballRoundCtes(radius)},
        ${(0 to radius).map(hyperballEstCte).mkString(",")},
        pp AS (${(0 to radius).map(t =>
          s"SELECT node, radius, est FROM pe$t").mkString(" UNION ALL ")}),
        gn AS (SELECT node, radius,
                 est - LAG(est) OVER (PARTITION BY node ORDER BY radius)
                   AS gain
               FROM pp)
        SELECT node, CAST(SUM((gain * 1000) // radius) AS BIGINT)
                 AS harmonic_milli
        FROM gn WHERE gain IS NOT NULL
        GROUP BY node
        ORDER BY harmonic_milli DESC, node LIMIT 100"""),
      (s, d) => graft.ops.Graph.harmonicCentrality(
        chainCliqueEdges(s, d), radius = radius, p = 6, topK = 100))
  }

  /** CUPED variance reduction ([[ops.Stats.cupedAdjust]]): revenue
    * adjusted by pre-discount price as the covariate, variants =
    * return flag — the A/B-metrics trick that shrinks confidence
    * intervals by the covariate's explained variance. Metric and
    * covariate are scaled to 1e-4-dollar integers — the product
    * price * (1 - discount) has FOUR decimals, and a cents (*100)
    * cast leaves a fraction DuckDB's DECIMAL->HUGEINT cast ROUNDS
    * where Spark's decimal->long truncates (caught by the hash gate;
    * *10000 makes the cast exact on both). One scan to a
    * variant-bounded six-sum panel; theta, the floor pseudo-mean,
    * and every adjusted moment expanded symbolically in BigInt; the
    * oracle replays the identical HUGEINT panel algebra (milli
    * theta keeps the squared moments inside HUGEINT at its SF —
    * the engine's BigInt is unbounded).
    */
  private lazy val q292: QueryDef =
    QueryDef("q292_cuped_adjust",
      Some("""
        WITH base AS (SELECT l_returnflag AS variant,
                CAST(CAST(l_extendedprice * (1 - l_discount)
                  AS DECIMAL(25,6)) * 10000 AS HUGEINT) AS y,
                CAST(CAST(l_extendedprice AS DECIMAL(25,6)) * 10000
                  AS HUGEINT) AS x
              FROM lineitem),
        pv AS (SELECT variant, COUNT(*)::HUGEINT AS n, SUM(x) AS sx,
                      SUM(y) AS sy, SUM(x * y) AS sxy,
                      SUM(x * x) AS sxx, SUM(y * y) AS syy
               FROM base GROUP BY variant),
        gl AS (SELECT SUM(n) AS n, SUM(sx) AS sx, SUM(sy) AS sy,
                      SUM(sxy) AS sxy, SUM(sxx) AS sxx
               FROM pv),
        th AS (SELECT CASE WHEN n * sxx - sx * sx = 0 THEN 0::HUGEINT
                 ELSE ((n * sxy - sx * sy) * 1000)
                   // (n * sxx - sx * sx) END AS theta,
                 sx // n AS xbar
               FROM gl),
        o AS (SELECT variant, n, theta,
                (sy * 1000) // n AS mean_y_milli,
                (sy * 1000 - theta * (sx - n * xbar)) // n
                  AS mean_adj_milli,
                syy * 1000000 - 2000 * theta * (sxy - xbar * sy)
                  + theta * theta
                    * (sxx - 2 * xbar * sx + n * xbar * xbar) AS sadj2,
                sy * 1000 - theta * (sx - n * xbar) AS sadj,
                (n * syy - sy * sy) * 1000000 AS varrawn
              FROM pv CROSS JOIN th)
        SELECT variant, CAST(n AS BIGINT) AS n_rows,
               CAST(theta AS BIGINT) AS theta_milli,
               CAST(mean_y_milli AS BIGINT) AS mean_y_milli,
               CAST(mean_adj_milli AS BIGINT) AS mean_adj_milli,
               CAST(CASE WHEN varrawn = 0 THEN 0
                 ELSE ((varrawn - (n * sadj2 - sadj * sadj)) * 1000000)
                   // varrawn END AS BIGINT) AS var_reduction_ppm
        FROM o ORDER BY variant"""),
      (s, d) => graft.ops.Stats.cupedAdjust(
        lineitem(s, d).select(col("l_returnflag"),
          (col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(25,6)").*(lit(10000)).cast("long")
            .as("revenue_e4"),
          col("l_extendedprice").cast("decimal(25,6)").*(lit(10000))
            .cast("long").as("price_e4")),
        "l_returnflag", "revenue_e4", "price_e4")
        .orderBy("variant"))

  /** Trimmed + winsorized means ([[ops.Stats.winsorizedMeans]], 5%
    * each side) of `n_chars` per lang — the robust-location pair
    * next to q287's median/MAD. One per-stratum scaffold ranking,
    * rank-keyed boundary filters, one bounded aggregate; the oracle
    * runs the naive per-stratum windows at its SF.
    */
  private lazy val q293: QueryDef =
    QueryDef("q293_trimmed_means",
      Some("""
        WITH base AS (SELECT lang AS stratum, n_chars AS v, doc_id AS id
                      FROM documents),
        r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY stratum
                ORDER BY v, id) AS rk,
                COUNT(*) OVER (PARTITION BY stratum) AS n
              FROM base),
        k AS (SELECT *, (n * 50) // 1000 AS klo, (n * 50) // 1000 AS khi
              FROM r),
        lo AS (SELECT stratum, v AS lo_bound FROM k WHERE rk = klo + 1),
        hi AS (SELECT stratum, v AS hi_bound FROM k WHERE rk = n - khi),
        j AS (SELECT k.*, lo_bound, hi_bound FROM k
              JOIN lo USING (stratum) JOIN hi USING (stratum))
        SELECT stratum, CAST(MAX(n) AS BIGINT) AS n_rows,
               CAST(MAX(lo_bound) AS BIGINT) AS lo_bound,
               CAST(MAX(hi_bound) AS BIGINT) AS hi_bound,
               CAST(SUM(CASE WHEN rk > klo AND rk <= n - khi
                   THEN v::HUGEINT END) * 1000
                 // GREATEST(SUM(CASE WHEN rk > klo AND rk <= n - khi
                   THEN 1 ELSE 0 END), 1) AS BIGINT)
                 AS trimmed_mean_milli,
               CAST(SUM(GREATEST(LEAST(v, hi_bound),
                   lo_bound)::HUGEINT) * 1000
                 // GREATEST(COUNT(*), 1) AS BIGINT)
                 AS winsorized_mean_milli
        FROM j GROUP BY stratum ORDER BY stratum"""),
      (s, d) => graft.ops.Stats.winsorizedMeans(
          spread(documents(s, d)), "lang", "n_chars", "doc_id",
          lowPermille = 50, highPermille = 50)
        .orderBy("stratum"))

  /** Per-user CUSUM changepoint screen
    * ([[ops.Events.cusumChangepoint]]): did a user's event value
    * drift from the global reference mid-history — the corruption
    * tripwire a per-arrival mean can't see. Exact prefix-sum
    * identity (`E_t = P_t - min(0, running min of P)`), per-user
    * ordered windows (the bounded-history events convention), argmax
    * by one struct-min aggregate; the oracle replays the windows and
    * picks the same (E desc, ts, id) row.
    */
  private lazy val q294: QueryDef = {
    val (slack, threshold) = (500L, 600000L)
    QueryDef("q294_cusum_changepoint",
      Some(s"""
        WITH el AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
                      CAST(CAST(value AS DECIMAL(25,6)) * 1000
                        AS BIGINT) AS vm
                    FROM events),
        rf AS (SELECT SUM(vm::HUGEINT) // COUNT(*) AS ref FROM el),
        dd AS (SELECT user_id, ts_us, event_id,
                 vm - ref - $slack AS d
               FROM el CROSS JOIN rf),
        pp AS (SELECT *, SUM(d) OVER (PARTITION BY user_id
                 ORDER BY ts_us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
               FROM dd),
        ee AS (SELECT *, p - LEAST(0, MIN(p) OVER (PARTITION BY user_id
                 ORDER BY ts_us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS e
               FROM pp),
        rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                 ORDER BY e DESC, ts_us, event_id) AS rn,
                 COUNT(*) OVER (PARTITION BY user_id) AS n_events
               FROM ee)
        SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
               CAST(e AS BIGINT) AS max_excursion_milli,
               CAST(event_id AS BIGINT) AS at_event_id,
               CAST(CASE WHEN e > $threshold THEN 1 ELSE 0 END
                 AS BIGINT) AS flagged
        FROM rk WHERE rn = 1 ORDER BY user_id"""),
      (s, d) => {
        val el = events(s, d).select(col("event_id"), col("user_id"),
          expr("ts_ns div 1000").as("ts_us"),
          col("value").cast("decimal(25,6)").*(lit(1000))
            .cast("long").as("vm"))
        val r = el.agg(sum(col("vm").cast("decimal(38,0)")),
          count(lit(1))).first()
        val ref = (BigInt(r.getDecimal(0).toBigInteger) /
          BigInt(r.getLong(1))).toLong
        graft.ops.Events.cusumChangepoint(el, "user_id", "ts_us",
            "event_id", "vm", refMilli = ref, slackMilli = slack,
            thresholdMilli = threshold)
          .orderBy("user_id")
      })
  }

  /** Purged time-series folds ([[ops.Temporal.purgedTimeFolds]],
    * k = 5, 30-minute embargo): leakage-safe temporal eval
    * assignment — contiguous time blocks plus an embargo zone around
    * each boundary so straddling label windows can't leak. Exact
    * integer block formula (no float edges); the oracle replays the
    * boundary arithmetic inline.
    */
  private lazy val q295: QueryDef = {
    val embargo = 1800000000L // 30 min in microseconds
    QueryDef("q295_purged_time_folds",
      Some(s"""
        WITH el AS (SELECT event_id, epoch_us(ts) AS t FROM events),
        mm AS (SELECT MIN(t) AS tmin,
                      MAX(t) - MIN(t) + 1 AS span FROM el),
        f AS (SELECT event_id, t, ((t - tmin) * 5) // span AS fold,
                     tmin, span
              FROM el CROSS JOIN mm),
        b AS (SELECT *, tmin + (span * fold) // 5 AS ownb,
                     tmin + (span * (fold + 1)) // 5 AS nextb
              FROM f)
        SELECT event_id, CAST(fold AS BIGINT) AS fold,
               CAST(CASE WHEN (fold > 0 AND t - ownb < $embargo)
                 OR (fold < 4 AND nextb - t <= $embargo)
                 THEN 1 ELSE 0 END AS BIGINT) AS purged
        FROM b ORDER BY event_id"""),
      (s, d) => graft.ops.Temporal.purgedTimeFolds(
          events(s, d).select(col("event_id"),
            expr("ts_ns div 1000").as("ts_us")),
          "event_id", "ts_us", k = 5, embargo = embargo)
        .orderBy("event_id"))
  }

  /** SMD covariate-balance audit ([[ops.Stats.smdBalance]]): per
    * covariate, the standardized mean difference between return
    * flags A and R — the pre-analysis balance gate next to q292's
    * CUPED adjustment (|SMD| > 0.1, i.e. 100 milli, is the
    * conventional imbalance flag; the uniform-random testdata sits
    * near 0 as a proper randomization should). Exact-integer unit
    * choices (cents, milli-discount) avoid the q292 cast trap; the
    * oracle replays the six sums, both variance floors, and the
    * corrected floor-sqrt.
    */
  private lazy val q296: QueryDef =
    QueryDef("q296_smd_balance",
      Some("""
        WITH base AS (SELECT l_returnflag AS v,
                CAST(l_quantity AS HUGEINT) AS qty,
                CAST(CAST(l_extendedprice AS DECIMAL(25,6)) * 100
                  AS HUGEINT) AS price_cents,
                CAST(CAST(l_discount AS DECIMAL(25,6)) * 1000
                  AS HUGEINT) AS disc_milli
              FROM lineitem WHERE l_returnflag IN ('A', 'R')),
        m AS (SELECT v = 'A' AS isa, 'qty' AS cov, qty AS val FROM base
              UNION ALL SELECT v = 'A', 'price_cents', price_cents
                FROM base
              UNION ALL SELECT v = 'A', 'disc_milli', disc_milli
                FROM base),
        pn AS (SELECT cov,
                 COUNT(*) FILTER (isa)::HUGEINT AS na,
                 COUNT(*) FILTER (NOT isa)::HUGEINT AS nb,
                 COALESCE(SUM(val) FILTER (isa), 0) AS sa,
                 COALESCE(SUM(val) FILTER (NOT isa), 0) AS sb,
                 COALESCE(SUM(val * val) FILTER (isa), 0) AS saa,
                 COALESCE(SUM(val * val) FILTER (NOT isa), 0) AS sbb
               FROM m GROUP BY cov),
        vv AS (SELECT cov, na, nb, sa, sb,
                 (na * saa - sa * sa) * 1000000 // (na * na) AS va6,
                 (nb * sbb - sb * sb) * 1000000 // (nb * nb) AS vb6
               FROM pn),
        sd0 AS (SELECT *, (va6 + vb6) // 2 AS p6,
                  CAST(floor(sqrt(CAST((va6 + vb6) // 2 AS DOUBLE)))
                    AS HUGEINT) AS s0
                FROM vv),
        sd AS (SELECT *, list_max(list_filter(
                 [s0 - 2, s0 - 1, s0, s0 + 1, s0 + 2],
                 t -> t * t <= p6)) AS sdm
               FROM sd0)
        SELECT cov AS covariate, CAST(na AS BIGINT) AS n_a,
               CAST(nb AS BIGINT) AS n_b,
               CAST(sa * 1000 // na AS BIGINT) AS mean_a_milli,
               CAST(sb * 1000 // nb AS BIGINT) AS mean_b_milli,
               CAST(sdm AS BIGINT) AS pooled_sd_milli,
               CAST(((sa * nb - sb * na) * 1000 // (na * nb)) * 1000
                 // GREATEST(sdm, 1) AS BIGINT) AS smd_milli
        FROM sd ORDER BY covariate"""),
      (s, d) => graft.ops.Stats.smdBalance(
          lineitem(s, d).select(col("l_returnflag"),
            col("l_quantity").cast("long").as("qty"),
            col("l_extendedprice").cast("decimal(25,6)").*(lit(100))
              .cast("long").as("price_cents"),
            col("l_discount").cast("decimal(25,6)").*(lit(1000))
              .cast("long").as("disc_milli")),
          "l_returnflag", "A", "R",
          Seq("disc_milli", "price_cents", "qty"))
        .orderBy("covariate"))

  // Coverage-greedy oracle: k unrolled pick-and-cover rounds — each
  // s{i} is the (gain desc, doc asc) top-1 over docs with uncovered
  // bigrams, c{i} the covered set after it (MATERIALIZED: both feed
  // the next round and the final union).
  private def coverageRoundCtes(k: Int): String =
    (1 to k).map { i =>
      val p = i - 1
      val excl =
        if (i == 1) ""
        else "AND t.doc NOT IN (" + (1 until i)
          .map(j => s"SELECT doc FROM s$j").mkString(" UNION ALL ") + ")"
      val anti =
        if (i == 1) ""
        else s"LEFT JOIN c$p ON t.tok = c$p.tok WHERE c$p.tok IS NULL "
      val cover =
        if (i == 1) s"SELECT DISTINCT t.tok FROM t JOIN s1 ON t.doc = s1.doc"
        else s"SELECT tok FROM c$p UNION " +
          s"SELECT t.tok FROM t JOIN s$i ON t.doc = s$i.doc"
      s"""
        m$i AS (SELECT t.doc, COUNT(*) AS g FROM t
                $anti $excl
                GROUP BY t.doc),
        s$i AS MATERIALIZED (SELECT doc, g FROM m$i
                ORDER BY g DESC, doc LIMIT 1),
        c$i AS MATERIALIZED ($cover)"""
    }.mkString(",")

  /** Greedy max-coverage seed selection
    * ([[ops.Sampling.coverageGreedy]], k = 6 over bigrams): the
    * 1-1/e submodular classic — "pick k docs that together cover the
    * most distinct bigrams". k anti-join+count+top-1 rounds, ties
    * (gain desc, doc asc); the oracle unrolls the same six
    * pick-and-cover rounds.
    */
  private lazy val q297: QueryDef = {
    val k = 6
    QueryDef("q297_coverage_greedy",
      Some(s"""
        WITH ws AS (SELECT doc_id AS doc, string_split(text, ' ') AS w
                    FROM documents),
        t AS (SELECT DISTINCT doc, tok FROM (
                SELECT doc, unnest([w[i] || ' ' || w[i+1]
                  for i in range(1, len(w))]) AS tok
                FROM ws WHERE len(w) >= 2)),
        ${coverageRoundCtes(k)}
        SELECT * FROM (${(1 to k).map(i =>
          s"SELECT CAST($i AS BIGINT) AS step, CAST(doc AS BIGINT)" +
            s" AS doc_id, CAST(g AS BIGINT) AS marginal_gain FROM s$i")
          .mkString(" UNION ALL ")})
        ORDER BY step"""),
      (s, d) => {
        val w = graft.Pipeline.words(col("text"))
        val bigrams = spread(documents(s, d)).filter(size(w) >= 2)
          .select(col("doc_id"),
            explode(zip_with(
              slice(w, lit(1), size(w) - 1), slice(w, lit(2), size(w) - 1),
              (a, b) => concat(a, lit(" "), b))).as("tok"))
        graft.ops.Sampling.coverageGreedy(bigrams, "doc_id", "tok",
            k = k)
          .orderBy("step")
      })
  }

  /** Leave-one-out source influence ([[ops.Stats.looInfluence]]):
    * per source, the corpus mean-tokens-per-doc with that source
    * excluded and the delta — first-order mix attribution from ONE
    * aggregate (pure panel algebra, no per-group re-scan).
    */
  private lazy val q298: QueryDef =
    QueryDef("q298_loo_influence",
      Some("""
        WITH t AS (SELECT source,
                     CAST(len(string_split(text, ' ')) AS BIGINT) AS v
                   FROM documents),
        g AS (SELECT source, COUNT(*)::HUGEINT AS n_rows,
                     SUM(v::HUGEINT) AS s
              FROM t GROUP BY source),
        tt AS (SELECT SUM(n_rows) AS tn, SUM(s) AS ts FROM g)
        SELECT source AS "group", CAST(n_rows AS BIGINT) AS n_rows,
               CAST(ts * 1000 // tn AS BIGINT) AS mean_all_milli,
               CAST(CASE WHEN tn = n_rows THEN ts * 1000 // tn
                 ELSE (ts - s) * 1000 // (tn - n_rows) END AS BIGINT)
                 AS loo_mean_milli,
               CAST(CASE WHEN tn = n_rows THEN ts * 1000 // tn
                 ELSE (ts - s) * 1000 // (tn - n_rows) END
                 - ts * 1000 // tn AS BIGINT) AS delta_milli
        FROM g CROSS JOIN tt ORDER BY "group""""),
      (s, d) => graft.ops.Stats.looInfluence(
          spread(documents(s, d)).select(col("source"),
            size(graft.Pipeline.words(col("text"))).cast("long")
              .as("v")),
          "source", "v")
        .orderBy("group"))

  /** Rendezvous-hash rebalance audit ([[ops.Layout.rendezvousMoves]],
    * 16 -> 17 shards): measures HRW's minimal-movement promise on
    * real keys — a key moves ONLY to the new shard (old weights
    * never change), expected movement 1/17 vs the ~16/17 a `mod k`
    * rehash would cost. One shared md5 family, scan-side argmax,
    * two bounded aggregates; the oracle replays the array argmax
    * with the same tiebreak.
    */
  private lazy val q299: QueryDef =
    QueryDef("q299_rendezvous_moves",
      Some(s"""
        WITH ks AS (SELECT CAST(doc_id AS VARCHAR) AS k FROM documents),
        a AS (SELECT k, [${hash32("'rv_' || s || '_' || k")}
                for s in range(0, 17)] AS arr
              FROM ks),
        o AS (SELECT k,
                list_min([s for s in range(0, 16)
                  if arr[s+1] = list_max(arr[1:16])]) AS o_from,
                list_min([s for s in range(0, 17)
                  if arr[s+1] = list_max(arr[1:17])]) AS o_to
              FROM a),
        sm AS (SELECT COUNT(*) AS n_keys,
                      COUNT(*) FILTER (o_from <> o_to) AS moved
               FROM o),
        sm2 AS (SELECT n_keys, moved,
                  moved * 1000000 // GREATEST(n_keys, 1) AS moved_ppm,
                  ${1000000L / 17} AS expected_ppm
                FROM sm),
        ps AS (SELECT shard, SUM(f) AS n_from, SUM(t) AS n_to FROM (
                 SELECT o_from AS shard, 1 AS f, 0 AS t FROM o
                 UNION ALL SELECT o_to, 0, 1 FROM o)
               GROUP BY shard)
        SELECT CAST(shard AS BIGINT) AS shard,
               CAST(n_from AS BIGINT) AS n_from,
               CAST(n_to AS BIGINT) AS n_to,
               CAST(n_keys AS BIGINT) AS n_keys,
               CAST(moved AS BIGINT) AS moved,
               CAST(moved_ppm AS BIGINT) AS moved_ppm,
               CAST(expected_ppm AS BIGINT) AS expected_ppm
        FROM ps CROSS JOIN sm2 ORDER BY shard"""),
      (s, d) => graft.ops.Layout.rendezvousMoves(
          spread(documents(s, d)), "doc_id", fromShards = 16,
          toShards = 17)
        .orderBy("shard"))

  /** Consistent-hash ring rebalance audit ([[ops.Layout.ringMoves]],
    * 16 -> 17 shards, 8 vnodes each): the OTHER classic placement
    * scheme, with the expected movement computed EXACTLY as the new
    * shard's ring-arc share (geometry, not approximation). Both
    * engines consume identical literal vnode arrays built from the
    * shared wordHash60 recipe; the oracle replays the successor fold
    * and the per-shard panel.
    */
  private lazy val q300: QueryDef = {
    val (fromK, toK, v) = (16, 17, 8)
    val (posF, ownF) = graft.ops.Layout.ringOf(fromK, v, "ring")
    val (posT, ownT) = graft.ops.Layout.ringOf(toK, v, "ring")
    def ownerSql(pos: Seq[Long], own: Seq[Long]): String =
      s"([${own.mkString(", ")}])[" +
        s"(len(list_filter([${pos.mkString(", ")}]," +
        s" p -> p <= kp)) % ${pos.size}) + 1]"
    val ring = BigInt(1) << 60
    val arcs = posT.zip(ownT)
    val newMass = arcs.indices.map { i =>
      val start = if (i == 0) posT.last - ring else BigInt(posT(i - 1))
      (BigInt(posT(i)) - start, ownT(i))
    }.collect { case (len, owner) if owner >= fromK => len }.sum
    val expectedPpm = (newMass * 1000000 / ring).toLong
    QueryDef("q300_ring_moves",
      Some(s"""
        WITH ks AS (SELECT CAST(doc_id AS VARCHAR) AS k FROM documents),
        kp AS (SELECT k, ${hash60("'ringk_' || k")} AS kp FROM ks),
        o AS (SELECT k, ${ownerSql(posF, ownF)} AS o_from,
                     ${ownerSql(posT, ownT)} AS o_to
              FROM kp),
        sm AS (SELECT COUNT(*) AS n_keys,
                      COUNT(*) FILTER (o_from <> o_to) AS moved
               FROM o),
        sm2 AS (SELECT n_keys, moved,
                  moved * 1000000 // GREATEST(n_keys, 1) AS moved_ppm,
                  $expectedPpm AS expected_ppm
                FROM sm),
        ps AS (SELECT shard, SUM(f) AS n_from, SUM(t) AS n_to FROM (
                 SELECT o_from AS shard, 1 AS f, 0 AS t FROM o
                 UNION ALL SELECT o_to, 0, 1 FROM o)
               GROUP BY shard)
        SELECT CAST(shard AS BIGINT) AS shard,
               CAST(n_from AS BIGINT) AS n_from,
               CAST(n_to AS BIGINT) AS n_to,
               CAST(n_keys AS BIGINT) AS n_keys,
               CAST(moved AS BIGINT) AS moved,
               CAST(moved_ppm AS BIGINT) AS moved_ppm,
               CAST(expected_ppm AS BIGINT) AS expected_ppm
        FROM ps CROSS JOIN sm2 ORDER BY shard"""),
      (s, d) => graft.ops.Layout.ringMoves(
          spread(documents(s, d)), "doc_id", fromShards = fromK,
          toShards = toK, vnodesPerShard = v)
        .orderBy("shard"))
  }

  /** Effective diameter ([[ops.Graph.effectiveDiameter]], 90th
    * permille at horizon 6): the radius covering 90% of the
    * within-horizon reachable mass — HyperBall's headline statistic,
    * with `saturated_ppm` exposing how close the horizon is to the
    * fixed point (on the 1000x-growing chains it is a LOWER bound by
    * construction, and says so). Shares q288's register rounds; the
    * oracle reuses the same CTEs plus the integer threshold pick.
    */
  private lazy val q301: QueryDef = {
    val radius = 6
    QueryDef("q301_effective_diameter",
      Some(s"""
        WITH $kcoreEdgeCtes,
        nodes AS (SELECT DISTINCT x AS node FROM e0),
        g0 AS MATERIALIZED (SELECT node, h % 64 AS bucket,
                CAST(CASE WHEN h // 64 = 0 THEN 55
                     ELSE 55 - length(bin(h // 64)) END AS BIGINT) AS r
              FROM (SELECT node,
                      ${hash60("CAST(node AS VARCHAR)")} AS h
                    FROM nodes)),
        ${hyperballRoundCtes(radius)},
        ${(0 to radius).map(hyperballEstCte).mkString(",")},
        nf AS (${(0 to radius).map(hyperballNfSql)
          .mkString(" UNION ALL ")}),
        pan AS (SELECT radius, reach_est,
                  MAX(reach_est) OVER () AS fin,
                  LAG(reach_est) OVER (ORDER BY radius) AS prev
                FROM nf)
        SELECT CAST(MIN(CASE WHEN reach_est * 1000 >= fin * 900
                 THEN radius END) AS BIGINT) AS effective_diameter,
               CAST(MAX(radius) AS BIGINT) AS n_radius,
               CAST(MAX(fin) AS BIGINT) AS reach_final,
               CAST(MAX(CASE WHEN radius = $radius THEN prev END)
                 * 1000000 // GREATEST(MAX(fin), 1) AS BIGINT)
                 AS saturated_ppm
        FROM pan"""),
      (s, d) => graft.ops.Graph.effectiveDiameter(
        chainCliqueEdges(s, d), radius = radius, permille = 900, p = 6))
  }

  val all: Seq[QueryDef] = Seq(q264, q265, q266, q267, q268, q269, q270,
    q271, q272, q273, q274, q275, q276, q277, q278, q279, q280, q281,
    q282, q283, q284, q285, q286, q287, q288, q289, q290, q291, q292,
    q293, q294, q295, q296, q297, q298, q299, q300, q301)
}
