package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Round-14 batch (q251+): the blocking/eval/maintenance surface the
  * earlier families stopped short of — exact prefix-filtered set
  * similarity (the third blocking paradigm next to LSH banding and
  * df-capped inverted indexes), logarithmic-round connected components
  * (the diameter-proof alternative to label propagation), classifier
  * evaluation (ROC AUC, calibration), retraction-aware rollup
  * maintenance (CDC deletes through the same merge path as appends),
  * the out-of-order-arrival census behind every watermark decision,
  * product-quantization codes (the IVF+PQ memory step), the composed
  * streaming-SCD2 repair loop end-to-end, session path mining, and two
  * data-audit screens (Benford digits, chi-square mix independence).
  *
  * House discipline as everywhere: epoch-micros bigints, doubles
  * through DECIMAL(25,6), md5-slot determinism, index-ordered IEEE
  * folds the oracle replays bit-for-bit.
  */
object Round14Queries {
  import Tables._
  import OracleSql.{cos, hash32, hash60, scd2Ctes, sqDist}

  // NOTE: `all` is declared at the BOTTOM of this object (the lazy-val
  // initialization-order rule — see WarehouseQueries).

  // The deterministic arrival permutation q256/q258 share: a hashed
  // shuffle of the event log's arrival order, unique at oracle SF
  // (event_id < 2^20 there; at larger sweeps ties are timing-only).
  private val arrSql =
    s"""${hash32("'arr_' || CAST(event_id AS VARCHAR)")} * 1048576 + event_id % 1048576"""
  private def arrCol = graft.Pipeline.wordHash32(
    concat(lit("arr_"), col("event_id").cast("string"))) * 1048576L +
    pmod(col("event_id"), lit(1048576L))

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

  /** Logarithmic-round connected components ([[ops.Graph
    * .starComponents]], alternating large/small stars) on the
    * ADVERSARIAL shape for label propagation: per-source doc-id chains
    * (diameter = chain length, so propagation needs one round per
    * link; the star contraction needs ~log). Oracle replays
    * reachability-min over the symmetric edges — both algorithms
    * converge to the same min labeling on any graph.
    */
  private lazy val q252: QueryDef =
    QueryDef("q252_star_components",
      Some("""
        WITH RECURSIVE
        e AS (SELECT doc_id AS u,
                LEAD(doc_id) OVER (PARTITION BY source ORDER BY doc_id) AS v
              FROM documents),
        ed AS (SELECT u, v FROM e WHERE v IS NOT NULL),
        sym AS (SELECT u, v FROM ed UNION SELECT v AS u, u AS v FROM ed),
        reach(u, r) AS (
          SELECT u, u AS r FROM (SELECT DISTINCT u FROM sym)
          UNION
          SELECT s.v AS u, reach.r FROM reach JOIN sym s ON s.u = reach.u)
        SELECT u AS node, CAST(MIN(r) AS BIGINT) AS component
        FROM reach GROUP BY u ORDER BY node"""),
      (s, d) => {
        val w = Window.partitionBy("source").orderBy("doc_id")
        val edges = spread(documents(s, d)).select("source", "doc_id")
          .withColumn("_nxt", lead("doc_id", 1).over(w))
          .filter(col("_nxt").isNotNull)
          .select(col("doc_id").as("u"), col("_nxt").as("v"))
        graft.ops.Graph.starComponents(edges).orderBy("node")
      })

  /** ROC AUC by the exact rank-sum identity ([[ops.Stats.aucRoc]]):
    * score = cosine to the vec-0 anchor, label = label parity — the
    * completion of the retrieval-eval family (NDCG q237, MAP/MRR q239,
    * confusion q248). Distinct-score prefix sums ride the scaffold;
    * ties take midranks in half-units, all integer. One row out.
    */
  private lazy val q253: QueryDef =
    QueryDef("q253_auc_roc",
      Some(s"""
        WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                          CAST(label AS BIGINT) % 2 AS y
                   FROM embeddings),
        q AS (SELECT v AS qv FROM t WHERE vec_id = 0),
        sc AS (SELECT vec_id, y, ${cos("v", "qv")} AS s FROM t CROSS JOIN q),
        g AS (SELECT s, SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS pos,
                     SUM(CASE WHEN y = 1 THEN 0 ELSE 1 END) AS neg
              FROM sc GROUP BY s),
        c AS (SELECT *, COALESCE(SUM(neg) OVER (ORDER BY s
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS neg_below FROM g)
        SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
               CAST(SUM(neg) AS BIGINT) AS n_neg,
               CAST(SUM(pos * (2 * neg_below + neg)) * 1000000
                 // (2 * SUM(pos) * SUM(neg)) AS BIGINT) AS auc_ppm
        FROM c"""),
      (s, d) => {
        val t = spread(embeddings(s, d)).select(col("vec_id"),
          graft.Pipeline.asDouble(col("embedding")).as("v"),
          (col("label").cast("long") % 2).as("y"))
        val q = embeddings(s, d).filter(col("vec_id") === 0)
          .select(graft.Pipeline.asDouble(col("embedding")).as("qv"))
        val scored = t.crossJoin(broadcast(q))
          .select(col("y"),
            graft.plans.VectorExpressions.cosineSim(col("v"), col("qv"))
              .as("s"))
        graft.ops.Stats.aucRoc(scored, "y", "s")
      })

  /** Calibration (reliability) bins + ECE ([[ops.Stats
    * .calibrationBins]]): the q253 scores squashed to [0,1] as
    * pseudo-probabilities, bucketed into deciles — per bin the count,
    * mean prediction, observed positive rate, |gap|, and the
    * count-weighted expected-calibration-error. Predictions ride the
    * exact DECIMAL micro hop; one bounded aggregation + a bins-sized
    * window.
    */
  private lazy val q254: QueryDef =
    QueryDef("q254_calibration_bins",
      Some(s"""
        WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                          CAST(label AS BIGINT) % 2 AS y
                   FROM embeddings),
        q AS (SELECT v AS qv FROM t WHERE vec_id = 0),
        sc AS (SELECT y, (${cos("v", "qv")} + 1) / 2 AS p
               FROM t CROSS JOIN q),
        b AS (SELECT LEAST(9, CAST(FLOOR(p * 10) AS INT)) AS bin, y,
                     CAST(CAST(p AS DECIMAL(25,6)) * 1000000 AS BIGINT)
                       AS p_micro
              FROM sc),
        g AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(y) AS BIGINT) AS n_pos,
                     CAST(SUM(p_micro) // COUNT(*) AS BIGINT)
                       AS mean_pred_ppm
              FROM b GROUP BY bin),
        r AS (SELECT *, CAST(n_pos * 1000000 // n AS BIGINT) AS obs_ppm
              FROM g)
        SELECT bin, n, n_pos, mean_pred_ppm, obs_ppm,
               CAST(abs(mean_pred_ppm - obs_ppm) AS BIGINT) AS gap_ppm,
               CAST(SUM(n * abs(mean_pred_ppm - obs_ppm)) OVER ()
                 // SUM(n) OVER () AS BIGINT) AS ece_ppm
        FROM r ORDER BY bin"""),
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
        graft.ops.Stats.calibrationBins(scored, "y", "p", bins = 10)
          .orderBy("bin")
      })

  /** Retraction-aware rollup maintenance ([[ops.Temporal
    * .rollupStateSigned]] + the UNCHANGED [[ops.Temporal.mergeRollup]]
    * + [[ops.Temporal.compactRollup]]): error events retract (+1/-1
    * multiplicities, the CDC change-stream shape), the log splits into
    * a stored half and a late delta by event-id parity, and the signed
    * states merge through the same path appends use — closing
    * joinRollupDelta's documented append-only limit for the base
    * rollup. Oracle = the direct net aggregate per day.
    */
  private lazy val q255: QueryDef =
    QueryDef("q255_rollup_retractions",
      Some("""
        WITH e AS (SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
                          CASE WHEN event_type = 'error' THEN -1 ELSE 1 END
                            AS sgn,
                          value
                   FROM events)
        SELECT day, CAST(SUM(sgn) AS BIGINT) AS n,
               CAST(SUM(sgn * CAST(value AS DECIMAL(25,6))) AS DOUBLE)
                 AS sum_value
        FROM e GROUP BY day HAVING SUM(sgn) <> 0 ORDER BY day"""),
      (s, d) => {
        val e = events(s, d).select(
          expr("(ts_ns div 1000) div 86400000000L").as("day"),
          when(col("event_type") === "error", -1L).otherwise(1L).as("sgn"),
          col("value"), col("event_id"))
        val stored = graft.ops.Temporal.rollupStateSigned(
          e.filter(col("event_id") % 2 === 0), Seq("day"), "value", "sgn")
        val delta = graft.ops.Temporal.rollupStateSigned(
          e.filter(col("event_id") % 2 === 1), Seq("day"), "value", "sgn")
        graft.ops.Temporal.compactRollup(
            graft.ops.Temporal.mergeRollup(stored, delta, Seq("day")))
          .select(col("day"), col("n"),
            col("sum_value").cast(DoubleType).as("sum_value"))
          .orderBy("day")
      })

  /** Out-of-order arrival census ([[ops.Events.latenessCensus]]) under
    * a hashed arrival permutation — the watermark-sizing gauge: how
    * many rows arrive behind a later-event-time sibling, and how late
    * the worst one runs. Per-key windows in-task, one global rollup
    * row. The oracle packs (ts, tie) into a HUGEINT key; the engine
    * compares the struct — identical order because tie < 2^20 at
    * oracle SF.
    */
  private lazy val q256: QueryDef =
    QueryDef("q256_lateness_census",
      Some(s"""
        WITH el AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
                           $arrSql AS arr
                    FROM events),
        f AS (SELECT user_id, ts_us, event_id,
                MAX(ts_us::HUGEINT * 1048576 + event_id) OVER (
                  PARTITION BY user_id ORDER BY arr
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mp
              FROM el),
        g AS (SELECT user_id, COUNT(*) AS n_rows,
                SUM(CASE WHEN mp IS NOT NULL
                      AND ts_us::HUGEINT * 1048576 + event_id < mp
                    THEN 1 ELSE 0 END) AS n_late,
                COALESCE(MAX(CASE WHEN mp IS NOT NULL
                      AND ts_us::HUGEINT * 1048576 + event_id < mp
                    THEN CAST(mp // 1048576 AS BIGINT) - ts_us END), 0)
                  AS max_late
              FROM f GROUP BY user_id)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(n_rows) AS BIGINT) AS n_rows,
               CAST(SUM(n_late) AS BIGINT) AS n_late,
               CAST(SUM(n_late) * 1000000 // SUM(n_rows) AS BIGINT)
                 AS late_ppm,
               CAST(MAX(max_late) AS BIGINT) AS max_lateness_us,
               CAST(SUM(CASE WHEN n_late > 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_users_late
        FROM g"""),
      (s, d) => {
        val log = events(s, d).select(col("user_id"),
          expr("ts_ns div 1000").as("ts_us"), col("event_id"),
          arrCol.as("arr"))
        graft.ops.Events.latenessCensus(log, Seq("user_id"), "ts_us",
            "event_id", "arr")
          .agg(count(lit(1)).cast("long").as("n_users"),
            sum("n_rows").cast("long").as("n_rows"),
            sum("n_late").cast("long").as("n_late"),
            expr("(sum(n_late) * 1000000L) div sum(n_rows)").as("late_ppm"),
            max("max_lateness").cast("long").as("max_lateness_us"),
            sum(when(col("n_late") > 0, 1L).otherwise(0L)).cast("long")
              .as("n_users_late"))
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
              WHERE vec_id % 101 = 0 AND vec_id < 10100),
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
        val cb = embeddings(s, d)
          .filter(col("vec_id") % 101 === 0 && col("vec_id") < 10100)
          .select(col("vec_id").as("code"),
            explode(expr(
              "transform(sequence(0, 3)," +
                " x -> struct(x AS sub_idx," +
                " slice(embedding, x * 16 + 1, 16) AS cs))")).as("_e"))
          .select(col("code"), col("_e.sub_idx"), col("_e.cs"))
        graft.Similarity.pqAssign(spread(embeddings(s, d)), "vec_id",
            "embedding", cb, "code", "sub_idx", "cs", m = 4, dims = 64)
          .select(col("vec_id"), col("sub_idx").cast("long").as("sub_idx"),
            col("code"))
          .orderBy("vec_id", "sub_idx")
      })

  /** The composed streaming-SCD2 repair loop END TO END ([[ops
    * .Temporal.scd2Repair]]): a hashed arrival permutation makes real
    * stragglers, the stored dimension is built from exactly the rows
    * an on-arrival maintainer absorbs, and the facade detects the
    * drops and back-fills ONLY the affected keys. The oracle is the
    * from-scratch SCD2 rebuild over the full log — the facade's
    * contract is equality with it, at straggler-proportional cost.
    */
  private lazy val q258: QueryDef =
    QueryDef("q258_scd2_repair",
      Some(s"""
        WITH el AS (SELECT user_id, event_type AS state, epoch_us(ts) AS ts_us,
                           event_id
                    FROM events),
        $scd2Ctes
        SELECT user_id, version, state, valid_from_us, valid_to_us,
               valid_to_us IS NULL AS is_current
        FROM vs ORDER BY user_id, version"""),
      (s, d) => {
        val log = events(s, d).select(col("user_id"),
          col("event_type").as("state"),
          expr("ts_ns div 1000").as("ts_us"), col("event_id"),
          arrCol.as("arr"))
        // the stored dim = what the on-arrival maintainer kept (the
        // same batch-agnostic in-order rule scd2Repair re-derives)
        val prior = Window.partitionBy("user_id").orderBy("arr")
          .rowsBetween(Window.unboundedPreceding, -1)
        val absorbed = log
          .withColumn("_mp",
            max(struct(col("ts_us"), col("event_id"))).over(prior))
          .filter(col("_mp").isNull ||
            !(struct(col("ts_us"), col("event_id")) < col("_mp")))
          .drop("_mp", "arr")
        val stored = graft.ops.Temporal.scd2(absorbed, Seq("user_id"),
          "state", "ts_us", "event_id")
        graft.ops.Temporal.scd2Repair(stored, log, Seq("user_id"),
            "state", "ts_us", "event_id", "arr")
          .select(col("user_id"), col("version"), col("state"),
            col("valid_from").as("valid_from_us"),
            col("valid_to").as("valid_to_us"), col("is_current"))
          .orderBy("user_id", "version")
      })

  /** Session PATH mining: sessions cut at 5-minute gaps (the q230
    * recipe), each session keyed by its first three event types, the
    * top-20 paths by volume — the navigation-pattern report product
    * analytics reads. One user-keyed sessionization exchange, one
    * bounded path aggregate, a TakeOrdered top-k. Path assembly is an
    * ORDERED fold on both engines (sorted struct collect / ORDER BY
    * inside list()).
    */
  private lazy val q259: QueryDef =
    QueryDef("q259_session_paths",
      Some("""
        WITH e AS (SELECT user_id, event_type AS et, epoch_us(ts) AS tus,
                          event_id
                   FROM events),
        g AS (SELECT *, CASE WHEN tus - LAG(tus) OVER w IS NULL
                          OR tus - LAG(tus) OVER w > 300000000
                        THEN 1 ELSE 0 END AS ns
              FROM e WINDOW w AS (PARTITION BY user_id
                                  ORDER BY tus, event_id)),
        s AS (SELECT *, SUM(ns) OVER (PARTITION BY user_id
                ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING) AS sid
              FROM g),
        p AS (SELECT user_id, sid,
                array_to_string(list_slice(
                  list(et ORDER BY tus, event_id), 1, 3), '>') AS path
              FROM s GROUP BY user_id, sid)
        SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
        FROM p GROUP BY path
        ORDER BY n_sessions DESC, path LIMIT 20"""),
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("tus", "event_id")
        val cum = Window.partitionBy("user_id").orderBy("tus", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val gap = col("tus") - lag("tus", 1).over(w)
        events(s, d)
          .select(col("user_id"), col("event_type").as("et"),
            expr("ts_ns div 1000").as("tus"), col("event_id"))
          .withColumn("ns",
            when(gap.isNull || gap > 300000000L, 1).otherwise(0))
          .withColumn("sid", sum("ns").over(cum).cast("long"))
          .groupBy("user_id", "sid")
          .agg(array_join(expr(
            "transform(slice(array_sort(collect_list(" +
              "struct(tus, event_id, et))), 1, 3), x -> x.et)"), ">")
            .as("path"))
          .groupBy("path")
          .agg(count(lit(1)).cast("long").as("n_sessions"))
          .orderBy(col("n_sessions").desc, col("path")).limit(20)
      })

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

  /** One-vs-rest MULTI-CLASS AUC ([[ops.Stats.aucRocByGroup]]): every
    * class's rank-sum AUC in ONE scaffold pass — the rows fan out to
    * (class, y = label==class) pairs, the distinct-(class, score)
    * counts range-partition by score with classes as prefix-sum
    * strata, so 10 classes cost one exchange, not 10 jobs. The macro
    * average rides a classes-sized window. Score is the q253 anchor
    * cosine; a good score for parity classes is a poor one for
    * others, which is exactly what the per-class panel shows.
    */
  private lazy val q262: QueryDef =
    QueryDef("q262_macro_auc",
      Some(s"""
        WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                          CAST(label AS BIGINT) AS lab
                   FROM embeddings),
        q AS (SELECT v AS qv FROM t WHERE vec_id = 0),
        sc AS (SELECT lab, ${cos("v", "qv")} AS s FROM t CROSS JOIN q),
        f AS (SELECT cls.cls, CASE WHEN lab = cls.cls THEN 1 ELSE 0 END AS y,
                     s
              FROM sc CROSS JOIN (SELECT unnest(range(0, 10)) AS cls) cls),
        g AS (SELECT cls, s, SUM(y) AS pos,
                     SUM(CASE WHEN y = 1 THEN 0 ELSE 1 END) AS neg
              FROM f GROUP BY cls, s),
        c AS (SELECT *, COALESCE(SUM(neg) OVER (PARTITION BY cls ORDER BY s
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS neg_below FROM g),
        a AS (SELECT CAST(cls AS BIGINT) AS class,
                CAST(SUM(pos) AS BIGINT) AS n_pos,
                CAST(SUM(neg) AS BIGINT) AS n_neg,
                CAST(SUM(pos * (2 * neg_below + neg)) * 1000000
                  // (2 * SUM(pos) * SUM(neg)) AS BIGINT) AS auc_ppm
              FROM c GROUP BY cls)
        SELECT class, n_pos, n_neg, auc_ppm,
               CAST(SUM(auc_ppm) OVER () // COUNT(*) OVER () AS BIGINT)
                 AS macro_auc_ppm
        FROM a ORDER BY class"""),
      (s, d) => {
        val t = spread(embeddings(s, d)).select(col("vec_id"),
          graft.Pipeline.asDouble(col("embedding")).as("v"),
          col("label").cast("long").as("lab"))
        val q = embeddings(s, d).filter(col("vec_id") === 0)
          .select(graft.Pipeline.asDouble(col("embedding")).as("qv"))
        val fanned = t.crossJoin(broadcast(q))
          .select(col("lab"),
            graft.plans.VectorExpressions.cosineSim(col("v"), col("qv"))
              .as("s"))
          .select(explode(expr("sequence(0L, 9L)")).as("class"),
            col("lab"), col("s"))
          .select(col("class"),
            when(col("lab") === col("class"), 1).otherwise(0).as("y"),
            col("s"))
        graft.ops.Stats.aucRocByGroup(fanned, Seq("class"), "y", "s")
          .withColumn("macro_auc_ppm",
            expr("sum(auc_ppm) OVER () div count(1) OVER ()"))
          .orderBy("class")
      })

  /** FORWARD as-of join — q41's mirror: each purchase picks the NEXT
    * click at-or-after it (the follow-up-action probe: time-to-next-
    * touch, abandonment windows). Same one-pass shape: tag both
    * streams, one user-keyed shuffle, `last(_, ignoreNulls)` over the
    * DESCENDING time order — no range explosion, no per-row probe; at
    * an equal instant the click sorts first in the scan so `>=` is
    * honored. Oracle = DuckDB's native forward ASOF. The carried value
    * is the click's own timestamp, so ties produce identical output.
    */
  private lazy val q263: QueryDef =
    QueryDef("q263_asof_forward",
      Some("""
        WITH p AS (SELECT event_id, user_id, ts FROM events
                   WHERE event_type = 'purchase'),
        c AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
        SELECT p.event_id, p.user_id, c.ts AS next_click_ts
        FROM p ASOF JOIN c ON p.user_id = c.user_id AND c.ts >= p.ts
        ORDER BY p.event_id"""),
      (s, d) => {
        import org.apache.spark.sql.types.{LongType, TimestampType}
        val ev = events(s, d)
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("ts").as("click_ts"),
            lit(0).as("is_p"), lit(null).cast(LongType).as("event_id"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"),
            lit(null).cast(TimestampType).as("click_ts"),
            lit(1).as("is_p"), col("event_id"))
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts").desc, col("is_p"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        clicks.unionByName(purchases)
          .withColumn("next_click_ts",
            last("click_ts", ignoreNulls = true).over(w))
          .filter(col("is_p") === 1 && col("next_click_ts").isNotNull)
          .select(col("event_id"), col("user_id"), col("next_click_ts"))
          .orderBy("event_id")
      })

  val all: Seq[QueryDef] = Seq(q251, q252, q253, q254, q255, q256, q257,
    q258, q259, q260, q261, q262, q263)
}
