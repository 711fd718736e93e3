package graft

import org.apache.spark.sql.functions._

/** Corpus-analysis, statistics and sampling queries: unigram
  * self-information scoring, duplicated-n-gram measurement,
  * conjunctive keyword search, boilerplate-prefix detection,
  * embedding-norm QA; the audit statistics (Benford, chi-square,
  * agreement, Gini, bootstrap, KS, Spearman, robust and trimmed
  * location, CUPED, SMD, leave-one-out influence); and the samplers
  * (priority, weighted priority, Neyman allocation, greedy coverage).
  *
  * Same oracle discipline as PipelineQueries: exact-integer pipelines
  * wherever possible (bit-lengths instead of libm log2, ppm integer
  * divisions instead of float fractions), and index-ordered IEEE folds
  * where doubles are unavoidable — every query's DuckDB mirror replays
  * the identical arithmetic.
  */
object AnalysisQueries {
  import Tables._
  import OracleSql.{candShingles, cos, dot, hash32, labelCtes, pearsonCtes,
    rhpBucket, sharedShingles, simhash64PairsSql, simhashCtes, verifiedCte}

  // Oracle mirror of ops.Sampling.splitFor at 800/100/100 permille.
  private def splitCase(e: String): String = s"""
    CASE WHEN ${hash32(s"CAST($e AS VARCHAR)")} % 1000 < 800 THEN 'train'
         WHEN ${hash32(s"CAST($e AS VARCHAR)")} % 1000 < 900 THEN 'val'
         ELSE 'test' END"""

  /** Collocation lift ([[ops.TextStats.collocations]], minCount 5,
    * top 30) over each token and its +1..`window` neighbours: q122
    * (bigrams) and q133 (skip-grams). The oracle pairs each offset
    * with a list comprehension and replays the integer ppm lift.
    */
  private def collocationsQuery(name: String, window: Int): QueryDef = {
    val pairs = (1 to window).map(j =>
      s"SELECT unnest([w[i] || ' ' || w[i+$j] for i in range(1, len(w)-${j - 1})]) AS bigram FROM w")
    QueryDef(name,
      Some(s"""
        WITH w AS (SELECT string_split(text, ' ') AS w FROM documents),
        tot AS (SELECT CAST(SUM(len(w)) AS BIGINT) AS tot FROM w),
        uc AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS c
               FROM (SELECT unnest(w) AS t FROM w) GROUP BY t),
        p AS (${pairs.mkString("\n              UNION ALL\n              ")}),
        bc AS (SELECT bigram, CAST(COUNT(*) AS BIGINT) AS c_ab
               FROM p GROUP BY bigram HAVING COUNT(*) >= 5)
        SELECT bigram, c_ab AS n,
               CAST((1000000 * c_ab * tot) // (ua.c * ub.c) AS BIGINT) AS lift_ppm
        FROM bc CROSS JOIN tot
        JOIN uc ua ON ua.t = string_split(bigram, ' ')[1]
        JOIN uc ub ON ub.t = string_split(bigram, ' ')[2]
        ORDER BY lift_ppm DESC, n DESC, bigram LIMIT 30"""),
      (s, d) => {
        val docs = spread(documents(s, d))
        val tot = graft.ops.TextStats.totalTokens(docs, "text")
        graft.ops.TextStats.collocations(docs, "text", tot, minCount = 5,
          k = 30, window = window)
      })
  }

  /** The BM25 oracle ([[ops.Search.bm25Search]] over 'join', 'hash'
    * and 'scan', q111 and q158): per (doc, term) the integer idf
    * surrogate times the k1/b-saturated tf, as `sc(doc_id, s)`.
    */
  private[graft] val Bm25Ctes = """
        w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        base AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS dl FROM w),
        stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                         CAST(SUM(dl) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS avgdl
                  FROM base),
        ft AS (SELECT doc_id, dl, unnest(w) AS t FROM base),
        m AS (SELECT doc_id, dl, t FROM ft WHERE t IN ('join', 'hash', 'scan')),
        dfreq AS (SELECT t, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM m GROUP BY t),
        tf AS (SELECT doc_id, t, dl, CAST(COUNT(*) AS BIGINT) AS tf
               FROM m GROUP BY doc_id, t, dl),
        sc AS (SELECT doc_id,
                 ((n_docs - df) * 1000 + 500) // (2*df + 1)
                   * (44 * tf * avgdl) // (20*tf*avgdl + 6*avgdl + 18*dl) AS s
               FROM tf JOIN dfreq USING (t) CROSS JOIN stats)"""

  /** Benford first-digit screen ([[ops.Stats.benfordScreen]]) over
    * lineitem prices — the synthetic-data / fraud smell test: observed
    * first-significant-digit shares vs Benford's law, all integer (the
    * digit reads off the micro-value's string; the expected shares are
    * frozen ppm literals, no engine log10 anywhere). One bounded
    * aggregation.
    */
  private lazy val q260: QueryDef =
    QueryDef("q260_benford_screen",
      Some("""
        WITH v AS (SELECT CAST(CAST(l_extendedprice AS DECIMAL(25,6))
                     * 1000000 AS BIGINT) AS m
                   FROM lineitem WHERE l_extendedprice > 0),
        dg AS (SELECT CAST(substr(CAST(m AS VARCHAR), 1, 1) AS BIGINT)
                 AS digit FROM v),
        g AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM dg
              GROUP BY digit),
        r AS (SELECT digit, n,
                CAST(n * 1000000 // SUM(n) OVER () AS BIGINT)
                  AS observed_ppm,
                CASE digit WHEN 1 THEN 301029 WHEN 2 THEN 176091
                  WHEN 3 THEN 124938 WHEN 4 THEN 96910 WHEN 5 THEN 79181
                  WHEN 6 THEN 66946 WHEN 7 THEN 57991 WHEN 8 THEN 51152
                  WHEN 9 THEN 45757 END AS expected_ppm
              FROM g)
        SELECT digit, n, observed_ppm,
               CAST(expected_ppm AS BIGINT) AS expected_ppm,
               CAST(abs(observed_ppm - expected_ppm) AS BIGINT) AS dev_ppm
        FROM r ORDER BY digit"""),
      (s, d) => graft.ops.Stats.benfordScreen(
          spread(lineitem(s, d)), "l_extendedprice")
        .orderBy("digit"))

  /** Chi-square mix-independence audit ([[ops.Stats.chiSquareCells]]):
    * is the corpus' language mix independent of its source? Per
    * (lang, source) cell the observed count, the expected count under
    * independence, and the exact-integer chi-square contribution —
    * plus the total over the bounded cell frame. The drift screen a
    * curation pipeline runs before trusting per-source sampling rates.
    */
  private lazy val q261: QueryDef =
    QueryDef("q261_chi2_mix",
      Some("""
        WITH g AS (SELECT lang AS a, source AS b,
                     CAST(COUNT(*) AS BIGINT) AS n
                   FROM documents GROUP BY 1, 2),
        m AS (SELECT *, SUM(n) OVER (PARTITION BY a) AS ra,
                SUM(n) OVER (PARTITION BY b) AS cb,
                SUM(n) OVER () AS tot
              FROM g),
        x AS (SELECT a, b, n,
                CAST((ra * cb * 1000) // tot AS BIGINT) AS expected_milli
              FROM m),
        y AS (SELECT *, CAST(((1000 * n - expected_milli)::HUGEINT
                * (1000 * n - expected_milli) * 1000)
                // GREATEST(expected_milli, 1) AS BIGINT) AS chi2_micro
              FROM x)
        SELECT a, b, n, expected_milli, chi2_micro,
               CAST(SUM(chi2_micro) OVER () AS BIGINT) AS chi2_total_micro
        FROM y ORDER BY a, b"""),
      (s, d) => graft.ops.Stats.chiSquareCells(
          spread(documents(s, d)), "lang", "source")
        .withColumn("chi2_total_micro",
          expr("sum(chi2_micro) OVER ()").cast("long"))
        .orderBy("a", "b"))

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
        import PipelineQueries.{langArgmaxSql, langScoresSql}
        s"""
        WITH scored AS (SELECT lang, ${langScoresSql()} FROM documents),
        p AS (SELECT lang AS a, $langArgmaxSql AS b
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
      (s, d) => graft.ops.Stats.cohenKappa(
          documents(s, d).select(col("lang") +: PipelineQueries.langScoreCols: _*)
            .withColumn("predicted", PipelineQueries.langArgmax),
          "lang", "predicted"))

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
        import PipelineQueries.{langArgmaxSql, langScoresSql}
        s"""
        WITH r1 AS (SELECT doc_id, lang AS label FROM documents),
        s2 AS (SELECT doc_id, ${langScoresSql()} FROM documents
               WHERE doc_id % 3 <> 0),
        r2 AS (SELECT doc_id, $langArgmaxSql AS label
               FROM s2),
        s3 AS (SELECT doc_id,
                 ${langScoresSql("substr(text, 1, length(text) // 2)")}
               FROM documents WHERE doc_id % 5 <> 0),
        r3 AS (SELECT doc_id, $langArgmaxSql AS label
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
        // argmax-struct form of the scorer CASE chain (round-18):
        // provably the same label ([[graft.Pipeline.argmaxLabel]]),
        // each bigram scorer evaluated ONCE per row instead of
        // O(langs^2) CASE references (480 replace() trees per rater
        // in the old physical plan)
        def predictedOver(textCol: org.apache.spark.sql.Column)
            : org.apache.spark.sql.Column =
          graft.Pipeline.argmaxLabel(PipelineQueries.langScores(textCol))
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
      Some(s"""
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
                        JOIN ry ON base.y = ry.val),${pearsonCtes("j", "rxv", "ryv")}
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

  val all: Seq[QueryDef] = Seq(q260, q261, q269, q273, q275, q280, q281,
    q282, q283, q285, q287, q292, q293, q296, q297, q298,

    // Unigram self-information ([[ops.TextStats.informationScore]]):
    // per-doc sum of floor(log2(N/freq)) bits under the corpus unigram
    // model — the deterministic integer cousin of perplexity scoring.
    // floor(log2) is bit-length (length(bin(x))-1): pure integer, no
    // libm log whose ulp behavior differs across engines. The window
    // SUM is CAST back to BIGINT (DuckDB types window sums HUGEINT).
    QueryDef("q95_info_content",
      Some("""
        WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        tot AS (SELECT CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tot FROM documents),
        tf AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY doc_id, w),
        f AS (SELECT doc_id, tf, CAST(SUM(tf) OVER (PARTITION BY w) AS BIGINT) AS freq FROM tf)
        SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tok,
               CAST(SUM(tf * (length(bin(tot // freq)) - 1)) AS BIGINT) AS bits
        FROM f CROSS JOIN tot GROUP BY doc_id ORDER BY doc_id"""),
      (s, d) => {
        val docs = spread(documents(s, d))
        // corpus token count: one scan-side aggregate (in production it
        // arrives from the previous stage; here it resolves to a literal
        // so the main chain stays a single window pipeline, no self-join)
        val tot = graft.ops.TextStats.totalTokens(docs, "text")
        graft.ops.TextStats.informationScore(docs, "doc_id", "text", tot)
          .orderBy("doc_id")
      }),

    // Duplicated-n-gram fraction ([[ops.TextStats
    // .duplicatedNgramFraction]]): share of each doc's distinct
    // 5-grams that appear in any other doc — the substring-level
    // duplication diagnostic (template spam shows high dup_ppm even
    // when whole-document near-dup never fires). Document frequency
    // via a window over the gram key: the gram frame is built once,
    // never aggregated-and-re-joined.
    QueryDef("q96_dup_ngram_fraction",
      Some("""
        WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        g AS (SELECT doc_id,
                unnest(list_distinct([array_to_string(w[i:i+4], ' ') for i in range(1, len(w)-3)])) AS g
              FROM w WHERE len(w) >= 5),
        dd AS (SELECT doc_id, CAST(COUNT(*) OVER (PARTITION BY g) AS BIGINT) AS df FROM g),
        m AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
                     CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
              FROM dd GROUP BY doc_id)
        SELECT doc_id, n_grams, n_dup, (1000000 * n_dup) // n_grams AS dup_ppm
        FROM m ORDER BY doc_id"""),
      (s, d) => graft.ops.TextStats
        .duplicatedNgramFraction(spread(documents(s, d)), "doc_id", "text", n = 5)
        .orderBy("doc_id")),

    // Conjunctive keyword search ([[ops.Search.keywordSearch]]): docs
    // containing ALL query terms, ranked by total term frequency
    // (exact integer), top 10. The scan-side term filter plays the
    // posting-list probe; the final top-k is TakeOrderedAndProject.
    QueryDef("q97_keyword_search",
      Some("""
        WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        m AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS tf_total, COUNT(DISTINCT w) AS nt
              FROM toks WHERE w IN ('join', 'hash', 'scan') GROUP BY doc_id)
        SELECT doc_id, tf_total FROM m WHERE nt = 3
        ORDER BY tf_total DESC, doc_id LIMIT 10"""),
      (s, d) => graft.ops.Search.keywordSearch(spread(documents(s, d)),
        "doc_id", "text", Seq("join", "hash", "scan"), k = 10)),

    // Boilerplate-prefix detection ([[ops.TextStats
    // .boilerplatePrefixes]]): per source, the 2-token document
    // prefixes shared by >= 2 docs — repeated headers / chrome that
    // whole-document dedup misses because the tails differ. Only the
    // prefix + id are shuffled; the document body never leaves the scan.
    QueryDef("q98_boilerplate_prefixes",
      Some("""
        WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
        p AS (SELECT doc_id, source, array_to_string(w[1:2], ' ') AS prefix
              FROM w WHERE len(w) >= 2)
        SELECT source, prefix, CAST(COUNT(*) AS BIGINT) AS df,
               MIN(doc_id) AS first_doc
        FROM p GROUP BY source, prefix HAVING COUNT(*) >= 2
        ORDER BY source, prefix"""),
      (s, d) => graft.ops.TextStats.boilerplatePrefixes(
          spread(documents(s, d)), "doc_id", "text", "source",
          prefixLen = 2, minDf = 2)
        .orderBy("source", "prefix")),

    // Embedding-norm outliers ([[Similarity.normOutliers]]): exact-rank
    // top 1% by squared L2 norm — the broken-encoder screen. norm_sq
    // is the index-ordered sequential fold (bit-identical to the
    // oracle's list_reduce); the cutoff is an exact ORDER BY rank with
    // id tiebreak, so the flagged set is deterministic.
    QueryDef("q99_norm_outliers",
      Some(s"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM e),
        s AS (SELECT vec_id,
                ${dot("v", "v")} AS norm_sq
              FROM e)
        SELECT vec_id, norm_sq FROM s CROSS JOIN n
        QUALIFY ROW_NUMBER() OVER (ORDER BY norm_sq DESC, vec_id) <= CAST(ceil(0.01 * n) AS BIGINT)
        ORDER BY norm_sq DESC, vec_id"""),
      (s, d) => {
        // parquet metadata count — no data scan
        val n = embeddings(s, d).count()
        Similarity.normOutliers(spread(embeddings(s, d)),
          "vec_id", "embedding", n, frac = 0.01)
      }),

    // Fixed-count priority sample ([[ops.Sampling.prioritySample]]):
    // exactly 10 docs per language by md5-hash priority, on the
    // GroupedTopK custom physical operator (bounded per-partition
    // heaps — no stratum ever sorts, or funnels through one task,
    // beyond k rows). The order value packs hash and id so boundary
    // ties are impossible.
    QueryDef("q100_priority_sample",
      Some(s"""
        WITH s AS (SELECT doc_id, lang, source,
                     CAST(${hash32("CAST(doc_id AS VARCHAR)")} % 1000000 AS BIGINT)
                       * 1099511627776 + doc_id % 1099511627776 AS pri
                   FROM documents)
        SELECT lang, doc_id, source, pri FROM s
        QUALIFY ROW_NUMBER() OVER (PARTITION BY lang ORDER BY pri) <= 10
        ORDER BY lang, pri"""),
      (s, d) => graft.ops.Sampling.prioritySample(
          spread(documents(s, d)).select("doc_id", "lang", "source"),
          "doc_id", "lang", k = 10)
        .select(col("lang"), col("doc_id"), col("source"), col("pri"))
        .orderBy("lang", "pri"))
  ) ++ Seq(

    // 64-bit SimHash PAIRS ([[Pipeline.simhash64Pairs]]) — the
    // dedup-level gate q71's signature dump doesn't cover: a planted
    // token-permutation duplicate (hamming distance 0 by construction
    // — SimHash is order-independent) is unioned into the corpus as a
    // derived CTE, and the oracle replays signature derivation,
    // 16-bit pigeonhole chunking, candidate equi-join, and the exact
    // hamming verify. The corpus also contributes its natural
    // dist<=3 pairs, so the blocking completeness is exercised on
    // real data, not just the plant.
    QueryDef("q101_simhash64_pairs",
      Some(s"""
        WITH corpus AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT * FROM (VALUES
            (CAST(900001 AS BIGINT), 'alpha beta gamma delta epsilon zeta eta theta iota kappa'),
            (CAST(900002 AS BIGINT), 'kappa iota theta eta zeta epsilon delta gamma beta alpha'),
            (CAST(900003 AS BIGINT), 'alpha beta gamma delta epsilon zeta eta theta iota kappa lambda')) v(doc_id, text)),
        toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM corpus),${
          simhashCtes("w" -> "lo", "'x1_' || w" -> "hi")},$simhash64PairsSql"""),
      (s, d) => {
        import s.implicits._
        val planted = Seq(
          (900001L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
          (900002L, "kappa iota theta eta zeta epsilon delta gamma beta alpha"),
          (900003L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"))
          .toDF("doc_id", "text")
        // the planted ids are fixed in the oracle SQL too, so a real doc
        // AT one of them would silently merge with a plant and skew the
        // pair results — the plan-folded guard (Tables.guardPlantIds)
        // poisons such a doc's text so the collision surfaces as a
        // correctness mismatch, with no extra driver-side count job
        val corpus = guardPlantIds(
            spread(documents(s, d)).select("doc_id", "text"),
            Seq(900001L, 900002L, 900003L))
          .unionAll(planted)
        val sims = Pipeline.simhash64(corpus, "doc_id", "text")
        Pipeline.simhash64Pairs(sims, "doc_id", maxDist = 3)
          .orderBy("a_id", "b_id")
      }),

    // ANN-blocked SemDeDup ([[Dedup.semanticBlocked]]) — q90's 100 TB
    // assignment path, oracle-gated at forced planes=4 so the blocking
    // genuinely bites (5 centroids over 16 buckets: 148 of 500 vectors
    // have no centroid in their probe set and keep a NULL cluster).
    // The oracle replays the RHP bucket derivation, the 5-bucket
    // multi-probe expansion on the centroid side, the best-probed
    // argmax, and the shared prune phase — every float an
    // index-ordered fold on both engines.
    QueryDef("q102_semantic_dedup_blocked",
      Some(s"""
        WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        tb AS (SELECT vec_id, v, ${rhpBucket("v")} AS b FROM t),
        c AS (SELECT vec_id AS cid, v AS cv, ${rhpBucket("v")} AS cb FROM t
              WHERE ${PipelineQueries.PinnedCentroidsSql}),
        cp AS (SELECT cid, cv, unnest([xor(cb, 0), xor(cb, 1), xor(cb, 2), xor(cb, 4), xor(cb, 8)]) AS probe FROM c),
        cand AS (SELECT tb.vec_id, cid, ${cos("v", "cv")} AS cosine
                 FROM tb JOIN cp ON tb.b = cp.probe),
        best AS (SELECT vec_id, cid FROM
                   (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                      ORDER BY cosine DESC, cid) AS rn FROM cand)
                 WHERE rn = 1),
        a AS (SELECT tb.vec_id, best.cid AS centroid_id, tb.v
              FROM tb LEFT JOIN best USING (vec_id)),${PipelineQueries.semSurvivorsSql}"""),
      (s, d) => {
        val cents = PipelineQueries.pinnedCentroids(s, d)
          .select(col("vec_id").as("cid"), col("embedding").as("cv"))
        Dedup.semanticBlocked(spread(embeddings(s, d)), "vec_id", "embedding",
            cents, "cid", "cv", threshold = 0.4, planes = 4)
          .orderBy("vec_id")
      }),

    // Deterministic hash split ([[ops.Sampling.assignSplits]]):
    // train/val/test by md5-slot thresholds — the same example lands
    // in the same split every run/engine/retry. Pure scan expression.
    QueryDef("q103_hash_split",
      Some(s"""
        WITH s AS (SELECT doc_id, ${hash32("CAST(doc_id AS VARCHAR)")} % 1000 AS slot
                   FROM documents)
        SELECT doc_id, CASE WHEN slot < 800 THEN 'train'
                            WHEN slot < 900 THEN 'val'
                            ELSE 'test' END AS split
        FROM s ORDER BY doc_id"""),
      (s, d) => graft.ops.Sampling.assignSplits(
          spread(documents(s, d)).select("doc_id"), "doc_id",
          Seq(("train", 800), ("val", 100), ("test", 100)))
        .orderBy("doc_id")),

    // LEAKAGE-SAFE split ([[Dedup.leakageSafeSplits]]): the split key
    // is the near-dup CLUSTER label (min reachable id over the LSH
    // candidate graph; singletons keep their own id), so duplicate
    // groups can never straddle train and test. The oracle replays the
    // recursive transitive closure (q84's CTE), joins every doc back
    // in (singleton = self-cluster), and applies the same md5-slot
    // thresholds to the cluster label.
    QueryDef("q104_leakage_safe_split",
      Some(s"""
        WITH RECURSIVE ${PipelineQueries.lshCte},${labelCtes("cand", lab = "comp")},
        lab AS (SELECT d.doc_id, CAST(COALESCE(comp.cluster, d.doc_id) AS BIGINT) AS cluster
                FROM documents d LEFT JOIN comp USING (doc_id)),
        sl AS (SELECT doc_id, cluster,
                 ${hash32("CAST(cluster AS VARCHAR)")} % 1000 AS slot
               FROM lab)
        SELECT doc_id, cluster, CASE WHEN slot < 800 THEN 'train'
                                     WHEN slot < 900 THEN 'val'
                                     ELSE 'test' END AS split
        FROM sl ORDER BY doc_id"""),
      (s, d) => {
        val disk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        val docs = spread(documents(s, d))
        val sh = Dedup.shingleSignatures(docs, "doc_id", "text")
        // pairs feed the edge symmetrization twice: persist, or the LSH
        // self-join executes per reference before the propagation loop
        val pairs = Pipeline.lshCandidatePairs(sh, "doc_id",
          PipelineQueries.lshK05, PipelineQueries.lshBands05).persist(disk)
        val out = Dedup.leakageSafeSplits(docs, pairs, "doc_id",
          Seq(("train", 800), ("val", 100), ("test", 100)))
        // the propagation loop localCheckpoints its labels, so the
        // returned frame no longer roots `pairs` — release immediately
        // instead of pinning a cache entry for the session
        pairs.unpersist()
        out.orderBy("doc_id")
      }),

    // Boilerplate STRIPPING ([[ops.TextStats.stripBoilerplate]]) — the
    // cleaning half of q98: docs opening with a detected shared prefix
    // lose it; everything else passes through byte-identical. The
    // rewrite is a scan-side token slice; the prefix table joins back
    // dimension-sized.
    QueryDef("q105_strip_boilerplate",
      Some("""
        WITH w AS (SELECT doc_id, source, text, string_split(text, ' ') AS w FROM documents),
        p AS (SELECT source, array_to_string(w[1:2], ' ') AS prefix
              FROM w WHERE len(w) >= 2
              GROUP BY source, array_to_string(w[1:2], ' ') HAVING COUNT(*) >= 2),
        j AS (SELECT w.doc_id, w.text, w.w, p.prefix
              FROM w LEFT JOIN p ON w.source = p.source
                AND len(w.w) >= 2 AND array_to_string(w.w[1:2], ' ') = p.prefix)
        SELECT doc_id, prefix IS NOT NULL AS was_stripped,
               CASE WHEN prefix IS NOT NULL THEN array_to_string(w[3:len(w)], ' ')
                    ELSE text END AS text
        FROM j ORDER BY doc_id"""),
      (s, d) => graft.ops.TextStats.stripBoilerplate(
          spread(documents(s, d)), "doc_id", "text", "source",
          prefixLen = 2, minDf = 2)
        .select("doc_id", "was_stripped", "text")
        .orderBy("doc_id")),

    // Token-window chunking ([[ops.Chunking.chunk]]): 64-token windows
    // at 16-token overlap (stride 48) — the RAG/embedding-index prep
    // step. Pure positional slicing: deterministic chunk identities,
    // scan-side explode.
    QueryDef("q106_chunking",
      Some("""
        WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        c AS (SELECT doc_id, unnest(range(0, greatest((len(w) - 16 + 47)//48, 1))) AS chunk_idx, w FROM w)
        SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
               array_to_string(w[chunk_idx*48+1 : chunk_idx*48+64], ' ') AS chunk,
               CAST(len(w[chunk_idx*48+1 : chunk_idx*48+64]) AS BIGINT) AS n_tok
        FROM c ORDER BY doc_id, chunk_idx"""),
      (s, d) => graft.ops.Chunking.chunk(spread(documents(s, d)),
          "doc_id", "text", size = 64, overlap = 16)
        .orderBy("doc_id", "chunk_idx")),

    // Chunk-store dedup map ([[ops.Chunking.chunkDedupMap]]): duplicate
    // chunks point at their canonical first occurrence (struct-min on
    // the md5 digest — identical lexicographic ordering both engines).
    QueryDef("q107_chunk_dedup_map",
      Some("""
        WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        c AS (SELECT doc_id, unnest(range(0, greatest((len(w) - 16 + 47)//48, 1))) AS chunk_idx, w FROM w),
        ch AS (SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
                      array_to_string(w[chunk_idx*48+1 : chunk_idx*48+64], ' ') AS chunk FROM c),
        m AS (SELECT doc_id, chunk_idx,
                MIN({'d': doc_id, 'i': chunk_idx}) OVER (PARTITION BY md5(chunk)) AS canon
              FROM ch)
        SELECT doc_id, chunk_idx, canon.d AS canon_doc, canon.i AS canon_idx
        FROM m WHERE canon.d <> doc_id OR canon.i <> chunk_idx
        ORDER BY doc_id, chunk_idx"""),
      (s, d) => graft.ops.Chunking.chunkDedupMap(spread(documents(s, d)),
          "doc_id", "text", size = 64, overlap = 16)
        .orderBy("doc_id", "chunk_idx")),

    // Split LEAK AUDIT: near-dup candidate pairs whose members land in
    // DIFFERENT splits under the naive per-doc hash split — the
    // memorization leak q104's cluster-keyed split exists to prevent,
    // measured. The split is a pure expression of the id
    // ([[ops.Sampling.splitFor]]), applied to both pair sides
    // scan-side: ZERO joins beyond the LSH candidate equi-join.
    QueryDef("q108_split_leak_audit",
      Some(s"""
        WITH ${PipelineQueries.lshCte},
        sp AS (SELECT a_id, b_id, ${splitCase("a_id")} AS split_a,
                      ${splitCase("b_id")} AS split_b
               FROM cand)
        SELECT a_id, b_id, split_a, split_b FROM sp
        WHERE split_a <> split_b ORDER BY a_id, b_id"""),
      (s, d) => {
        val sh = Dedup.shingleSignatures(spread(documents(s, d)),
          "doc_id", "text")
        val splits = Seq(("train", 800), ("val", 100), ("test", 100))
        Pipeline.lshCandidatePairs(sh, "doc_id",
            PipelineQueries.lshK05, PipelineQueries.lshBands05)
          .select(col("a_id"), col("b_id"),
            graft.ops.Sampling.splitFor(col("a_id"), splits).as("split_a"),
            graft.ops.Sampling.splitFor(col("b_id"), splits).as("split_b"))
          .filter(col("split_a") =!= col("split_b"))
          .orderBy("a_id", "b_id")
      }),

    // Budget-constrained selection ([[ops.Sampling
    // .selectWithinBudget]]): best-docs-first (n_chars, id tiebreak)
    // until a 20k-subword-token budget is spent — the fixed-compute
    // curation cut. The global prefix sum runs on the hierarchical
    // scaffold (range slices + broadcast offsets), never a
    // single-task global window; the oracle replays it as one.
    QueryDef("q109_budget_selection",
      Some("""
        WITH t AS (SELECT doc_id, n_chars,
          list_reduce(list_transform(string_split(text, ' '),
                        x -> CAST(ceil(length(x) / 4.0) AS BIGINT)),
                      (a, b) -> a + b) AS n_tok
        FROM documents),
        s AS (SELECT doc_id, n_chars, n_tok,
                CAST(COALESCE(SUM(n_tok) OVER (ORDER BY n_chars DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
              FROM t)
        SELECT doc_id, n_chars, n_tok, cum_before FROM s
        WHERE cum_before + n_tok <= 20000 ORDER BY doc_id"""),
      (s, d) => {
        val docs = spread(documents(s, d)).select(col("doc_id"),
          col("n_chars"),
          Pipeline.subwordTokenCount(Pipeline.words(col("text"))).as("n_tok"))
        graft.ops.Sampling.selectWithinBudget(docs, "doc_id", "n_chars",
            "n_tok", budget = 20000L)
          .orderBy("doc_id")
      }),

    // BM25-style ranked retrieval ([[ops.Search.bm25Search]]): the
    // disjunctive companion of q97's conjunctive search, in
    // ALL-INTEGER arithmetic — k1=6/5 and b=3/4 multiplied out to one
    // integer division per (doc, term), idf as the integer rational
    // surrogate ((N-df)*1000+500)//(2df+1) (the unlogged Robertson
    // argument: per-term ordering identical, engine-exact where libm
    // ln is not). Posting-list-probe shape: term filter in the scan,
    // tiny df/stats aggregates broadcast back, TakeOrderedAndProject.
    QueryDef("q111_bm25_search",
      Some(s"""
        WITH $Bm25Ctes
        SELECT doc_id, CAST(SUM(s) AS BIGINT) AS score
        FROM sc GROUP BY doc_id
        ORDER BY score DESC, doc_id LIMIT 10"""),
      (s, d) => graft.ops.Search.bm25Search(spread(documents(s, d)),
        "doc_id", "text", Seq("join", "hash", "scan"), k = 10)),

    // Deterministic training-order shuffle ([[ops.Sampling
    // .deterministicShuffle]]): global position under the md5-hash
    // order of (seed, id) — reproducible across runs/engines/retries,
    // re-seedable per epoch, computed on the hierarchical prefix-sum
    // scaffold (never a single-partition global window).
    QueryDef("q112_deterministic_shuffle",
      Some(s"""
        SELECT doc_id,
               CAST(ROW_NUMBER() OVER (
                 ORDER BY ${hash32("'ep1_' || CAST(doc_id AS VARCHAR)")}, doc_id)
                 AS BIGINT) AS pos
        FROM documents ORDER BY doc_id"""),
      (s, d) => graft.ops.Sampling.deterministicShuffle(
          spread(documents(s, d)).select("doc_id"), "doc_id", seed = "ep1")
        .orderBy("doc_id")),

    // Sketch-estimated near-dup pairs ([[Dedup.estimatedPairs]]): LSH
    // candidates scored by the MinHash ESTIMATE of Jaccard (agreeing
    // signature slots / width) instead of the exact set intersection —
    // the verify form whose per-doc payload is the fixed-width
    // signature, not the unbounded shingle array (the measured
    // dominant cost of the exact verifies at scale). Integer-exact:
    // agree and est_ppm replay verbatim in the oracle.
    QueryDef("q113_estimated_jaccard_pairs",
      Some(s"""
        WITH ${PipelineQueries.lshCte},
        est AS (SELECT c.a_id, c.b_id,
                  CAST(len(list_filter(range(1, ${PipelineQueries.lshK05 + 1}),
                    i -> a.sig[i] = b.sig[i])) AS BIGINT) AS agree
                FROM cand c
                JOIN sig a ON a.doc_id = c.a_id
                JOIN sig b ON b.doc_id = c.b_id)
        SELECT a_id, b_id, agree,
               agree * 1000000 // ${PipelineQueries.lshK05} AS est_ppm
        FROM est WHERE agree * 1000000 // ${PipelineQueries.lshK05} >= 500000
        ORDER BY a_id, b_id"""),
      (s, d) => {
        // frame width = the 0.5-banding width so the estimate and the
        // oracle divide by the same slot count
        val sig = Dedup.shingleSignatures(spread(documents(s, d)),
            "doc_id", "text", minhashK = PipelineQueries.lshK05)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        Dedup.estimatedPairs(sig, "doc_id", threshold = 0.5,
            maxBucketSize = Int.MaxValue)
          .orderBy("a_id", "b_id")
      }),

    // Cross-document boundary overlap ([[ops.TextStats
    // .boundaryOverlaps]]): doc a's LAST 2 tokens == doc b's FIRST 2
    // tokens — the shard-stitch seam whole-doc dedup never sees. A
    // planted stitched pair (910001 ends where 910002 begins) rides a
    // derived CTE, natural corpus seams ride along; one equi-join on
    // the boundary gram, never pairwise.
    QueryDef("q114_boundary_overlap",
      Some("""
        WITH corpus AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT * FROM (VALUES
            (CAST(910001 AS BIGINT), 'aa0 bb0 cc0 dd0 ee0 ff0 seamx seamy'),
            (CAST(910002 AS BIGINT), 'seamx seamy gg0 hh0 ii0 jj0 kk0 ll0')) v(doc_id, text)),
        w AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
        b AS (SELECT doc_id, w FROM w WHERE len(w) >= 2),
        t AS (SELECT doc_id AS a_id, array_to_string(w[len(w)-1 : len(w)], ' ') AS gram FROM b),
        h AS (SELECT doc_id AS b_id, array_to_string(w[1:2], ' ') AS gram FROM b)
        SELECT a_id, b_id, gram FROM t JOIN h USING (gram)
        WHERE a_id <> b_id ORDER BY a_id, b_id"""),
      (s, d) => {
        import s.implicits._
        val planted = Seq(
          (910001L, "aa0 bb0 cc0 dd0 ee0 ff0 seamx seamy"),
          (910002L, "seamx seamy gg0 hh0 ii0 jj0 kk0 ll0"))
          .toDF("doc_id", "text")
        // plan-folded collision guard — see the q101 guard note
        val corpus = guardPlantIds(
            spread(documents(s, d)).select("doc_id", "text"),
            Seq(910001L, 910002L))
          .unionAll(planted)
        graft.ops.TextStats.boundaryOverlaps(corpus, "doc_id", "text", k = 2)
          .orderBy("a_id", "b_id")
      }),

    // Canary tripwire scan ([[ops.Search.canaryHits]]): per sentinel
    // string, the count of docs CONTAINING it (raw substring) and the
    // first hit — zero-hit canaries appear with (0, NULL), which is
    // the result an eval-integrity audit publishes. The tiny canary
    // list broadcasts into a nested-loop contains join by design.
    QueryDef("q115_canary_scan",
      Some("""
        WITH c AS (SELECT unnest(['graft canary zx9 never present', 'join', 'scan']) AS canary)
        SELECT canary, CAST(COUNT(doc_id) AS BIGINT) AS n_docs,
               MIN(doc_id) AS first_doc
        FROM c LEFT JOIN documents ON contains(text, canary)
        GROUP BY canary ORDER BY canary"""),
      (s, d) => graft.ops.Search.canaryHits(spread(documents(s, d)),
          "doc_id", "text",
          Seq("graft canary zx9 never present", "join", "scan"))
        .orderBy("canary")),

    // Incremental-ingest dedup ([[ops.Diff.dedupAgainst]]): a new
    // batch (warehouse-content copies at shifted ids + two genuinely
    // new docs + one in-batch duplicate) gated against the existing
    // corpus by content digest — survivors are exactly the novel
    // contents, lowest in-batch id per content. The append-only
    // corpus-growth gate.
    QueryDef("q116_incremental_ingest",
      Some("""
        WITH newb AS (
          SELECT doc_id + 920000000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
          UNION ALL
          SELECT * FROM (VALUES
            (CAST(930000001 AS BIGINT), 'brand new doc alpha'),
            (CAST(930000002 AS BIGINT), 'brand new doc beta'),
            (CAST(930000003 AS BIGINT), 'brand new doc alpha')) v(doc_id, text)),
        seen AS (SELECT DISTINCT md5(text) AS h FROM documents),
        fresh AS (SELECT * FROM newb WHERE md5(text) NOT IN (SELECT h FROM seen)),
        d AS (SELECT doc_id, text,
                ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
              FROM fresh)
        SELECT doc_id, text FROM d WHERE rn = 1 ORDER BY doc_id"""),
      (s, d) => {
        import s.implicits._
        val docs = documents(s, d)
        val planted = Seq(
          (930000001L, "brand new doc alpha"),
          (930000002L, "brand new doc beta"),
          (930000003L, "brand new doc alpha"))
          .toDF("doc_id", "text")
        val newb = docs.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 920000000L).as("doc_id"), col("text"))
          .unionAll(planted)
        graft.ops.Diff.dedupAgainst(newb, docs.select("doc_id", "text"),
            "doc_id", "text")
          .orderBy("doc_id")
      }),

    // Linear quality-model scoring ([[ops.TextStats.linearScore]]):
    // per-doc integer dot product against a broadcast (token, weight)
    // table + bias — model-as-data quality classification (weights in
    // milli-units keep the sum exact where float accumulation order is
    // not). Zero-match docs score the bias via the left join back.
    QueryDef("q117_quality_model_score",
      Some("""
        WITH wt AS (SELECT * FROM (VALUES
               ('join', 250), ('hash', 150), ('scan', 100),
               ('the', -50), ('a', -30)) v(t, wt)),
        toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        m AS (SELECT doc_id, CAST(SUM(wt) AS BIGINT) AS s
              FROM toks JOIN wt USING (t) GROUP BY doc_id)
        SELECT d.doc_id, COALESCE(s, 0) + 100 AS score_milli
        FROM documents d LEFT JOIN m USING (doc_id) ORDER BY doc_id"""),
      (s, d) => {
        import s.implicits._
        val weights = Seq(("join", 250L), ("hash", 150L), ("scan", 100L),
          ("the", -50L), ("a", -30L)).toDF("t", "wt")
        graft.ops.TextStats.linearScore(spread(documents(s, d)),
            "doc_id", "text", weights, "t", "wt", bias = 100L)
          .orderBy("doc_id")
      }),

    // Embedding-distribution drift ([[Similarity.embeddingDrift]]):
    // cosine between two snapshot halves' mean vectors — the
    // encoder-regression / mixture-shift monitor. Per-dim sums ride
    // DECIMAL(25,6) (exact, order-independent), the final cosine is
    // the index-ordered fold both engines share.
    QueryDef("q118_embedding_drift",
      Some(s"""
        WITH a AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 250),
        b AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id >= 250),
        da AS (SELECT d, CAST(SUM(CAST(v[d] AS DECIMAL(25,6))) AS DOUBLE)
                          / (SELECT COUNT(*) FROM a) AS m
               FROM a CROSS JOIN (SELECT unnest(range(1, 65)) AS d) GROUP BY d),
        db AS (SELECT d, CAST(SUM(CAST(v[d] AS DECIMAL(25,6))) AS DOUBLE)
                          / (SELECT COUNT(*) FROM b) AS m
               FROM b CROSS JOIN (SELECT unnest(range(1, 65)) AS d) GROUP BY d),
        va AS (SELECT list(m ORDER BY d) AS v FROM da),
        vb AS (SELECT list(m ORDER BY d) AS v FROM db)
        SELECT CAST((SELECT COUNT(*) FROM a) AS BIGINT) AS n_a,
               CAST((SELECT COUNT(*) FROM b) AS BIGINT) AS n_b,
               ${cos("va.v", "vb.v")} AS drift_cosine
        FROM va CROSS JOIN vb"""),
      (s, d) => {
        val e = embeddings(s, d)
        Similarity.embeddingDrift(
          e.filter(col("vec_id") < 250), e.filter(col("vec_id") >= 250),
          "embedding")
      }),

    // Per-source total-variation divergence ([[ops.TextStats
    // .sourceDivergence]]): how far each source's unigram distribution
    // sits from the corpus mixture, in exact-integer ppm — the rogue-
    // source screen (scraper breakage, language drift, spam invasion
    // all move token distributions before they move anything whole-doc
    // dedup can see). Absent-token mass folds in closed form, so only
    // existing (source, token) pairs are ever materialized.
    QueryDef("q120_source_divergence",
      Some("""
        WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS tot FROM toks),
        o AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS o FROM toks GROUP BY source, w),
        f AS (SELECT source, o,
                     CAST(SUM(o) OVER (PARTITION BY w) AS BIGINT) AS c,
                     CAST(SUM(o) OVER (PARTITION BY source) AS BIGINT) AS n_s
              FROM o),
        g AS (SELECT source, CAST(SUM(o) AS BIGINT) AS n_tokens,
                     CAST(SUM(abs(o*tot - c*n_s)) AS BIGINT) AS a,
                     CAST(SUM(c) AS BIGINT) AS cs
              FROM f CROSS JOIN tot GROUP BY source)
        SELECT source, n_tokens,
               (1000000 * (a + n_tokens * (tot - cs))) // (2 * n_tokens * tot) AS tv_ppm
        FROM g CROSS JOIN tot ORDER BY tv_ppm DESC, source"""),
      (s, d) => {
        val docs = spread(documents(s, d))
        val tot = graft.ops.TextStats.totalTokens(docs, "text")
        graft.ops.TextStats.sourceDivergence(docs, "source", "text", tot)
          .orderBy(col("tv_ppm").desc, col("source"))
      }),

    // Cross-source duplication matrix ([[Dedup.duplicationMatrix]]):
    // verified near-dup pairs rolled up by unordered source pair — the
    // who-mirrors-whom provenance diagnostic behind mix weights. The
    // verify is all-integer (ppm), so the per-cell mean is bit-stable.
    QueryDef("q121_duplication_matrix",
      Some(s"""
        WITH ${PipelineQueries.lshCte},
        v AS (SELECT c.a_id, c.b_id,
                CAST($sharedShingles AS BIGINT) AS i,
                CAST(len(a.shingles) + len(b.shingles) - $sharedShingles AS BIGINT) AS u
              $candShingles),
        p AS (SELECT least(da.source, db.source) AS source_a,
                     greatest(da.source, db.source) AS source_b,
                     (1000000 * i) // u AS ppm
              FROM v
              JOIN documents da ON da.doc_id = v.a_id
              JOIN documents db ON db.doc_id = v.b_id
              WHERE i * 1000000 >= u * 500000)
        SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(ppm) // COUNT(*) AS BIGINT) AS mean_jaccard_ppm
        FROM p GROUP BY source_a, source_b ORDER BY source_a, source_b"""),
      (s, d) => Dedup.duplicationMatrix(spread(documents(s, d)),
          "doc_id", "text", "source", threshold = 0.5,
          maxBucketSize = Int.MaxValue)
        .orderBy("source_a", "source_b")),

    // PMI-style collocation mining ([[ops.TextStats.collocations]]):
    // bigrams ranked by the independence ratio P(ab)/(P(a)P(b)) in
    // integer ppm (its log is PMI; log is monotone, so the ranking IS
    // the PMI ranking with no libm). minCount=5 suppresses the
    // unstable low-count tail — the standard PMI correction.
    collocationsQuery("q122_collocations", window = 1),

    // Token-length histogram ([[ops.TextStats.lengthHistogram]]):
    // power-of-two length bands with doc/token mass per band — the
    // packing planner's input for sequence-length budgets. Bucket via
    // integer bit-length; scan-side + one <= 64-row aggregate.
    QueryDef("q123_length_histogram",
      Some("""
        WITH t AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents),
        b AS (SELECT n, CASE WHEN n <= 0 THEN CAST(0 AS BIGINT)
                             ELSE CAST(1 << (length(bin(n)) - 1) AS BIGINT) END AS bucket_lo
              FROM t)
        SELECT bucket_lo, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n) AS BIGINT) AS n_tokens,
               CAST(MIN(n) AS BIGINT) AS min_tokens,
               CAST(MAX(n) AS BIGINT) AS max_tokens
        FROM b GROUP BY bucket_lo ORDER BY bucket_lo"""),
      (s, d) => graft.ops.TextStats.lengthHistogram(
        spread(documents(s, d)), "text")),

    // Winnowed fingerprint overlap ([[Dedup.winnowedPairs]]): MOSS-
    // selection (leftmost-min k-gram hash per sliding window) then a
    // fingerprint-keyed equi-join — the position-robust shared-passage
    // detector. The window argmin is MIN(hash*1e6+pos): one BIGINT
    // order encodes (hash, position) lexicographic order, so the
    // oracle replays it as a plain window MIN.
    QueryDef("q124_winnowed_overlap",
      Some(s"""
        WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
                   WHERE len(string_split(text, ' ')) >= 7),
        g0 AS (SELECT doc_id, CAST(len(w) - 3 AS BIGINT) AS m,
                      unnest(range(1, len(w) - 2)) AS pos, w
               FROM w),
        g AS (SELECT doc_id, m, pos,
                     ${hash32("array_to_string(w[pos:pos+3], ' ')")} AS h
              FROM g0),
        s AS (SELECT doc_id, pos, m,
                     MIN(h * 1000000 + pos) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel
              FROM g),
        f AS (SELECT DISTINCT doc_id, sel // 1000000 AS fp
              FROM s WHERE pos <= m - 3)
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY a_id, b_id HAVING COUNT(*) >= 2
        ORDER BY a_id, b_id"""),
      (s, d) => Dedup.winnowedPairs(spread(documents(s, d)), "doc_id",
          "text", k = 4, window = 4, minShared = 2,
          maxFpDf = Int.MaxValue)
        .orderBy("a_id", "b_id")),

    // Event-transition matrix ([[ops.Events.transitionMatrix]]):
    // Markov next-event statistics over per-user event sequences
    // (ordered by time with the event id as the deterministic
    // tiebreak), with row-normalized probabilities in integer ppm.
    QueryDef("q126_event_transitions",
      Some("""
        WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus, event_type FROM events),
        p AS (SELECT event_type AS from_type,
                     LEAD(event_type) OVER (PARTITION BY user_id
                                            ORDER BY tus, event_id) AS to_type
              FROM e),
        c AS (SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
              FROM p WHERE to_type IS NOT NULL GROUP BY from_type, to_type)
        SELECT from_type, to_type, n,
               (1000000 * n) // CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT) AS p_ppm
        FROM c ORDER BY from_type, to_type"""),
      (s, d) => graft.ops.Events.transitionMatrix(
          events(s, d).select(col("user_id"), col("event_id"),
            expr("ts_ns div 1000").as("tus"), col("event_type")),
          "user_id", "event_type", Seq("tus", "event_id"))
        .orderBy("from_type", "to_type")),

    // Per-source token heavy hitters ([[ops.TextStats.heavyHitters]])
    // on the custom GroupedTopK operator: the order value packs
    // (count, token-hash) into one BIGINT, so the oracle's tiebreak
    // (n DESC, hash DESC) replays the pack's lexicographic order and
    // heap boundaries cannot diverge.
    QueryDef("q127_heavy_hitters",
      Some(s"""
        WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS t FROM documents),
        c AS (SELECT source, t, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY source, t),
        r AS (SELECT source, t, n,
                     ROW_NUMBER() OVER (PARTITION BY source
                       ORDER BY n DESC, ${hash32("t")} DESC) AS rn
              FROM c)
        SELECT source, t AS token, n FROM r WHERE rn <= 3
        ORDER BY source, n DESC, token"""),
      (s, d) => graft.ops.TextStats.heavyHitters(spread(documents(s, d)),
          "source", "text", k = 3)
        .withColumnRenamed("stratum", "source")
        .orderBy(col("source"), col("n").desc, col("token"))),

    // Farthest-point diversity sample ([[Similarity
    // .farthestPointSample]]): greedy k-center selection from seed 0 —
    // each step picks the vector with the smallest max cosine to the
    // already-selected centers (lowest-id tiebreak). The oracle unrolls
    // the k=4 selection as chained one-row CTEs over the same
    // index-ordered cosine folds.
    QueryDef("q128_diverse_sample",
      Some {
        def mc(cands: String) = cands.split(",").map(c =>
          s"(${cos("t.v", s"$c.v")})").mkString("greatest(", ", ", ")")
        s"""
        WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        c1 AS (SELECT vec_id, v FROM t WHERE vec_id = 0),
        s2 AS (SELECT t.vec_id, t.v, ${mc("c1")} AS mc
               FROM t, c1 WHERE t.vec_id <> c1.vec_id
               ORDER BY mc ASC, t.vec_id LIMIT 1),
        s3 AS (SELECT t.vec_id, t.v, ${mc("c1,s2")} AS mc
               FROM t, c1, s2 WHERE t.vec_id NOT IN (c1.vec_id, s2.vec_id)
               ORDER BY mc ASC, t.vec_id LIMIT 1),
        s4 AS (SELECT t.vec_id, t.v, ${mc("c1,s2,s3")} AS mc
               FROM t, c1, s2, s3
               WHERE t.vec_id NOT IN (c1.vec_id, s2.vec_id, s3.vec_id)
               ORDER BY mc ASC, t.vec_id LIMIT 1)
        SELECT CAST(1 AS BIGINT) AS rank, vec_id, CAST(NULL AS DOUBLE) AS max_cos FROM c1
        UNION ALL SELECT 2, vec_id, mc FROM s2
        UNION ALL SELECT 3, vec_id, mc FROM s3
        UNION ALL SELECT 4, vec_id, mc FROM s4
        ORDER BY rank"""
      },
      (s, d) => Similarity.farthestPointSample(embeddings(s, d),
        "vec_id", "embedding", k = 4, seedId = 0L)),

    // Exact permille quantiles ([[ops.Ranking.exactQuantiles]]): the
    // value at global rank ceil(p*n/1000) under (value, id) order —
    // sequence-length budgets from EXACT ranks (reproducible release
    // gate), computed on the prefix-sum scaffold, never a single-task
    // global sort or an approximate sketch.
    QueryDef("q129_exact_quantiles",
      Some("""
        WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents),
        n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM t),
        r AS (SELECT n_tok, ROW_NUMBER() OVER (ORDER BY n_tok, doc_id) AS rn FROM t),
        p AS (SELECT unnest([500, 900, 990]) AS permille)
        SELECT CAST(permille AS BIGINT) AS permille,
               CAST((permille * n + 999) // 1000 AS BIGINT) AS rank,
               n_tok AS value
        FROM p CROSS JOIN n JOIN r ON r.rn = (permille * n + 999) // 1000
        ORDER BY permille"""),
      (s, d) => {
        val t = spread(documents(s, d)).select(col("doc_id"),
          size(Pipeline.words(col("text"))).cast("long").as("n_tok"))
        graft.ops.Ranking.exactQuantiles(t, "n_tok", Seq(col("doc_id")),
          Seq(500, 900, 990))
      }),

    // Dedup savings report ([[Dedup.dedupSavings]]): one row — docs
    // and tokens removed if near-dedup at 0.5 kept each cluster's
    // lowest id. verifiedPairs -> clusters -> one token-weighted agg;
    // the oracle replays the closure recursively.
    QueryDef("q130_dedup_savings",
      Some(s"""
        WITH RECURSIVE ${PipelineQueries.lshCte},${verifiedCte("ver")},${labelCtes("ver")},
        t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents),
        j AS (SELECT t.doc_id, t.n_tok, COALESCE(lab.cluster, t.doc_id) AS cluster
              FROM t LEFT JOIN lab ON lab.doc_id = t.doc_id)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT cluster) AS BIGINT) AS n_clusters,
               CAST(SUM(CASE WHEN doc_id <> cluster THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
               CAST(SUM(n_tok) AS BIGINT) AS tokens_total,
               CAST(SUM(CASE WHEN doc_id <> cluster THEN n_tok ELSE 0 END) AS BIGINT) AS tokens_dropped
        FROM j"""),
      (s, d) => Dedup.dedupSavings(spread(documents(s, d)), "doc_id",
        "text", threshold = 0.5, maxBucketSize = Int.MaxValue)),

    // Shard balance report ([[ops.Sampling.assignShards]]): per-shard
    // doc/token mass under the deterministic hash shard key — the
    // write-side layout audit (a skewed shard starves training
    // readers).
    QueryDef("q131_shard_balance",
      Some(s"""
        WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents)
        SELECT CAST(${hash32("'sh8_' || CAST(doc_id AS VARCHAR)")} % 8 AS BIGINT) AS shard,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS n_tokens
        FROM t GROUP BY shard ORDER BY shard"""),
      (s, d) => graft.ops.Sampling.shardBalance(
        spread(documents(s, d)).select(col("doc_id"),
          size(Pipeline.words(col("text"))).cast("long").as("n_tok")),
        "doc_id", "n_tok", 8, seed = "sh8")),

    // Near-dup pair features ([[Dedup.pairFeatures]]): the gate-free
    // integer feature table (jaccard/containments/size-ratio in ppm)
    // for every LSH candidate — learned-dedup training data.
    QueryDef("q132_pair_features",
      Some(s"""
        WITH ${PipelineQueries.lshCte},
        f AS (SELECT c.a_id, c.b_id,
                CAST($sharedShingles AS BIGINT) AS i,
                CAST(len(a.shingles) AS BIGINT) AS na,
                CAST(len(b.shingles) AS BIGINT) AS nb
              $candShingles)
        SELECT a_id, b_id, na AS size_a, nb AS size_b,
               (1000000 * i) // (na + nb - i) AS jaccard_ppm,
               (1000000 * i) // na AS cont_a_ppm,
               (1000000 * i) // nb AS cont_b_ppm,
               (1000000 * least(na, nb)) // greatest(na, nb) AS size_ratio_ppm
        FROM f ORDER BY a_id, b_id"""),
      (s, d) => {
        val sig = Dedup.shingleSignatures(spread(documents(s, d)),
            "doc_id", "text", minhashK = PipelineQueries.lshK05)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        Dedup.pairFeatures(sig, "doc_id", threshold = 0.5,
            maxBucketSize = Int.MaxValue)
          .orderBy("a_id", "b_id")
      }),

    // Skip-gram collocations ([[ops.TextStats.collocations]] at
    // window=3): co-occurrence lift over (token, +j-th neighbour)
    // pairs, j=1..3 — the word2vec-style context statistics; each
    // offset is a scan-side shifted zip, never a position join.
    collocationsQuery("q133_skipgram_collocations", window = 3),

    // Language-margin scoring ([[ops.TextStats.scoreMargin]] over the
    // q32 language profiles): top score, runner-up, and the relative
    // margin in ppm — close scores flag code-switched / mis-scraped
    // text for review instead of trusting the argmax.
    QueryDef("q134_language_margin",
      Some {
        val scores = PipelineQueries.langScoreSums()
          .map { case (l, sum) => s"CAST($sum AS BIGINT) AS s_$l" }
          .mkString(", ")
        val arr = PipelineQueries.LangProfiles
          .map { case (l, _) => s"s_$l" }.mkString("[", ", ", "]")
        s"""
        WITH scored AS (SELECT doc_id, $scores FROM documents),
        m AS (SELECT doc_id, list_sort($arr) AS ss FROM scored)
        SELECT doc_id, ss[-1] AS s_top, ss[-2] AS s_second,
               CASE WHEN ss[-1] <= 0 THEN 0
                    ELSE ((ss[-1] - ss[-2]) * 1000000) // ss[-1] END AS margin_ppm
        FROM m ORDER BY doc_id"""
      },
      (s, d) => {
        val scored = spread(documents(s, d)).select(
          col("doc_id") +: PipelineQueries.langScoreCols: _*)
        graft.ops.TextStats.scoreMargin(scored, "doc_id",
            PipelineQueries.LangProfiles.map { case (l, _) => s"s_$l" })
          .orderBy("doc_id")
      }),

    // Per-source mean self-information ([[ops.TextStats
    // .sourceEntropy]]): millibits/token under the corpus unigram
    // model — the internal-redundancy screen complementing q120's
    // distributional divergence (boilerplate-heavy sources score LOW
    // even when their token mix matches the corpus).
    QueryDef("q135_source_entropy",
      Some("""
        WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS tot FROM toks),
        tf AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY source, w),
        f AS (SELECT source, tf, CAST(SUM(tf) OVER (PARTITION BY w) AS BIGINT) AS freq FROM tf),
        g AS (SELECT source, CAST(SUM(tf) AS BIGINT) AS n_tokens,
                     CAST(SUM(tf * (length(bin(tot // freq)) - 1)) AS BIGINT) AS bits
              FROM f CROSS JOIN tot GROUP BY source)
        SELECT source, n_tokens, bits, (1000 * bits) // n_tokens AS mean_millibits
        FROM g ORDER BY source"""),
      (s, d) => {
        val docs = spread(documents(s, d))
        val tot = graft.ops.TextStats.totalTokens(docs, "text")
        graft.ops.TextStats.sourceEntropy(docs, "source", "text", tot)
          .orderBy("source")
      }),

    // Split-balance audit: the TV divergence of each split's token
    // distribution from the corpus — the release-gate check that the
    // deterministic hash split didn't skew content across
    // train/val/test (it shouldn't: the hash is content-blind; a high
    // tv_ppm here means doc ids correlate with content). Composition:
    // scan-side split assignment + [[ops.TextStats.sourceDivergence]]
    // keyed on the split.
    QueryDef("q139_split_balance",
      Some(s"""
        WITH toks AS (SELECT ${splitCase("doc_id")} AS split,
                             unnest(string_split(text, ' ')) AS w
                      FROM documents),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS tot FROM toks),
        o AS (SELECT split, w, CAST(COUNT(*) AS BIGINT) AS o FROM toks GROUP BY split, w),
        f AS (SELECT split, o,
                     CAST(SUM(o) OVER (PARTITION BY w) AS BIGINT) AS c,
                     CAST(SUM(o) OVER (PARTITION BY split) AS BIGINT) AS n_s
              FROM o),
        g AS (SELECT split, CAST(SUM(o) AS BIGINT) AS n_tokens,
                     CAST(SUM(abs(o*tot - c*n_s)) AS BIGINT) AS a,
                     CAST(SUM(c) AS BIGINT) AS cs
              FROM f CROSS JOIN tot GROUP BY split)
        SELECT split AS source, n_tokens,
               (1000000 * (a + n_tokens * (tot - cs))) // (2 * n_tokens * tot) AS tv_ppm
        FROM g CROSS JOIN tot ORDER BY source"""),
      (s, d) => {
        val docs = graft.ops.Sampling.assignSplits(spread(documents(s, d)),
          "doc_id", Seq(("train", 800), ("val", 100), ("test", 100)))
        val tot = graft.ops.TextStats.totalTokens(docs, "text")
        graft.ops.TextStats.sourceDivergence(docs, "split", "text", tot)
          .orderBy("source")
      }),

    // Dedup cluster-size distribution: how many near-dup clusters of
    // each size the corpus holds (singletons included via the full-
    // corpus label join) — the shape report behind dedup policy
    // (millions of pairs vs a few mega-clusters need different caps).
    // Composition of verifiedPairs -> clusters -> two tiny aggregates.
    QueryDef("q136_cluster_sizes",
      Some(s"""
        WITH RECURSIVE ${PipelineQueries.lshCte},${verifiedCte("ver")},${labelCtes("ver")},
        j AS (SELECT d.doc_id, COALESCE(lab.cluster, d.doc_id) AS cluster
              FROM documents d LEFT JOIN lab ON lab.doc_id = d.doc_id),
        cs AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS size FROM j GROUP BY cluster)
        SELECT size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
               CAST(SUM(size) AS BIGINT) AS n_docs
        FROM cs GROUP BY size ORDER BY size"""),
      (s, d) => Dedup.clusterSizes(spread(documents(s, d)), "doc_id",
          "text", threshold = 0.5, maxBucketSize = Int.MaxValue)
        .orderBy("size")),

    // Token-frequency spectrum (count-of-counts, the Zipf audit):
    // distinct-token and occurrence mass per power-of-two frequency
    // band — vocabulary planning reads the head, quality screens read
    // the hapax tail. Two tiny aggregates over the unigram counts.
    QueryDef("q137_frequency_spectrum",
      Some("""
        WITH uc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c
                    FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
                    GROUP BY w),
        b AS (SELECT CAST(1 << (length(bin(c)) - 1) AS BIGINT) AS band_lo, c FROM uc)
        SELECT band_lo, CAST(COUNT(*) AS BIGINT) AS n_types,
               CAST(SUM(c) AS BIGINT) AS n_occurrences
        FROM b GROUP BY band_lo ORDER BY band_lo"""),
      (s, d) => graft.ops.TextStats.frequencySpectrum(
        spread(documents(s, d)), "text")),

    // Dataset card ([[ops.TextStats.datasetCard]]): the one-row
    // release-audit summary — exact doc/unique/token counts, language
    // and source breadth, char range, duplicate rate in ppm.
    QueryDef("q110_dataset_card",
      Some("""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
               CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
               CAST(MIN(n_chars) AS BIGINT) AS min_chars,
               CAST(MAX(n_chars) AS BIGINT) AS max_chars,
               (1000000 * (CAST(COUNT(*) AS BIGINT) - CAST(COUNT(DISTINCT md5(text)) AS BIGINT)))
                 // CAST(COUNT(*) AS BIGINT) AS dup_ppm
        FROM documents"""),
      (s, d) => graft.ops.TextStats.datasetCard(spread(documents(s, d)),
        "text", "lang", "source", "n_chars"))
  )
}
