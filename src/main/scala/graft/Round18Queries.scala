package graft

import org.apache.spark.sql.functions._

/** Round-18 batch (q309+): the round-17 verdict's named additions —
  * the sampled Adamic–Adar estimator (the scale escape hatch the
  * exact operator's linear wedge model cannot provide), oracle-gated
  * with the same md5-slot determinism as the sampling family.
  *
  * House discipline unchanged: integer-exact scores, md5-derived keys
  * both engines replay, ORDER BY on every output.
  */
object Round18Queries {
  import Tables._
  import OracleSql.hash32

  /** Sampled Adamic–Adar ([[ops.Graph.adamicAdarSampled]], one-in-3)
    * over q271's order–part graph: every wedge `(w, u, v)` keeps iff
    * `(h(w) + h(u) + h(v)) % 3 = 0` with `h` the md5-derived 32-bit
    * hash both engines replay, and retained contributions scale by 3
    * — the Horvitz–Thompson estimate whose exchange is one third of
    * q271's by construction (the keep decision runs in-task BEFORE
    * the wedge is shuffled). Scores are estimates: unbiased per pair,
    * relative error shrinking as 1/sqrt(common_neighbors), so the
    * head of the ranking — the many-common-neighbor pairs link
    * prediction exists to find — is exactly the well-estimated part.
    * The oracle replays the hash, the slot, and the scaling verbatim;
    * OpsSpec separately pins sampleOneIn=1 to the exact operator.
    */
  private lazy val q309: QueryDef =
    QueryDef("q309_adamic_adar_sampled",
      Some(s"""
        WITH und AS (SELECT DISTINCT l_orderkey AS a,
                       l_partkey + 1000000000000 AS b FROM lineitem),
        sym AS (SELECT a AS w, b AS n FROM und
                UNION ALL SELECT b AS w, a AS n FROM und),
        deg AS (SELECT w, COUNT(*) AS deg FROM sym GROUP BY w),
        mids AS (SELECT sym.w, sym.n,
                   CAST(floor(1000000.0 / ln(deg.deg)) AS BIGINT) AS c,
                   ${hash32("CAST(sym.w AS VARCHAR)")} AS hw,
                   ${hash32("CAST(sym.n AS VARCHAR)")} AS hn
                 FROM sym JOIN deg ON sym.w = deg.w
                 WHERE deg.deg BETWEEN 2 AND 64),
        wedges AS (SELECT w1.n AS u, w2.n AS v, w1.c
                   FROM mids w1 JOIN mids w2 ON w1.w = w2.w
                   WHERE w1.n < w2.n
                     AND (w1.hw + w1.hn + w2.hn) % 3 = 0),
        scored AS (SELECT u, v,
                          CAST(SUM(c) * 3 AS BIGINT) AS aa_micro_est,
                          CAST(COUNT(*) * 3 AS BIGINT) AS common_neighbors_est
                   FROM wedges GROUP BY u, v),
        nonadj AS (SELECT scored.* FROM scored
                   LEFT JOIN und ON und.a = scored.u AND und.b = scored.v
                   WHERE und.a IS NULL)
        SELECT u, v, aa_micro_est, common_neighbors_est
        FROM nonadj ORDER BY aa_micro_est DESC, u, v LIMIT 100"""),
      (s, d) => {
        val edges = lineitem(s, d).select(col("l_orderkey").as("u"),
          (col("l_partkey") + lit(1000000000000L)).as("v"))
        // aggPartitions follows the sizing rule: kept-wedge volume is
        // q271's / 3, so at the wedge decade HALF of q304's exchange
        // width keeps per-task agg maps at the same few-million-entry
        // size — but that is a DECADE knob, not a local constant
        // (round-18: a hard 128 bypasses AQE coalescing at small SFs).
        // Default 0 = session shuffle partitions + AQE; sf10-class
        // runs export SPARK_GRAFT_AA_AGG_PARTS (q309 uses half of it,
        // mirroring the volume ratio). Resolution + log-once live in
        // [[AaAggParts]] (round-19).
        graft.ops.Graph.adamicAdarSampled(edges, maxDegree = 64,
            topK = 100, sampleOneIn = 3, aggPartitions = AaAggParts.half)
          .orderBy(col("aa_micro_est").desc, col("u"), col("v"))
      })

  val all: Seq[QueryDef] = Seq(q309)
}
