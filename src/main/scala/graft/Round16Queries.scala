package graft

import org.apache.spark.sql.functions._

/** Round-16 batch (q302+): the two additions the round-15 verdict named
  * — HyperBall at a SECOND register precision (proving the generated
  * linear-counting tables, not just the p=6 literals, hold the
  * cross-engine-exact contract) and the banded CROSS-CONTAINER video
  * near-dup (the LSH analog of q163's exact frame vote: Hamming-
  * tolerant signatures, position-free matching — re-encodes and
  * trims/remuxes found, not just byte-identical frames).
  *
  * House discipline unchanged: integer-exact estimators, md5-derived
  * keys both engines replay, planted witnesses beyond the corpus id
  * range, ORDER BY on every output.
  */
object Round16Queries {
  import Tables._
  import OracleSql.hash60

  /** HyperBall reachability at p = 8 (m = 256 registers,
    * [[ops.Graph.hyperBall]]) over the q288 chain+clique graph — the
    * SAME operator as q288 at 4x the register budget (stderr ~6.5% vs
    * ~13%), exercising [[ops.Graph.lcTable]]'s GENERATED
    * linear-counting table and [[ops.Sketches.hllEstimate]]'s
    * published general-m alpha (7213m/(10000m+10790)) end to end. The
    * oracle re-derives registers (bucket = h mod 256, rho from the
    * 52-bit rest), the merges, the integer RAW estimator with the
    * general-m alpha, the LC branch over the generated 256-entry
    * table, and the panel distance math — every constant interpolated
    * from the same driver-side derivation the engine inlines.
    *
    * Shape at scale: q288's register rounds at m = 256 — the E * m
    * join rows are the honest 4x cost of the extra precision; the
    * radius panel stays bounded.
    */
  private lazy val q302: QueryDef = {
    val radius = 6
    val p = 8
    val m = 1 << p
    val rhoBase = 61 - p // rho = rhoBase - bitlen(rest), rest = h div m
    val aNum = 7213L * m
    val aDen = 10000L * m + 10790L
    val lcThresh = 5 * m / 2
    val lc = graft.ops.Graph.lcTable(p).mkString("[", ", ", "]")
    val estCtes = (0 to radius).map { t =>
      s"""
        pe$t AS (SELECT node, CAST($t AS BIGINT) AS radius,
            CAST(CASE WHEN nb < $m AND est < $lcThresh
              THEN ($lc)[CAST($m - nb AS INT)]
              ELSE est END AS BIGINT) AS est FROM (
          SELECT node, COUNT(*) AS nb,
            CAST(($aNum::HUGEINT * $m * $m * (1::BIGINT << 60))
                 // ($aDen::HUGEINT *
                     (SUM(1::HUGEINT * (1::BIGINT << CAST(60 - r AS INT)))
                      + ($m - COUNT(*))::HUGEINT * (1::BIGINT << 60)))
                 AS BIGINT) AS est
          FROM g$t GROUP BY node))"""
    }.mkString(",")
    val roundCtes = (1 to radius).map { t =>
      val prev = t - 1
      s"""
        g$t AS MATERIALIZED (SELECT node, bucket, MAX(r) AS r FROM (
            SELECT node, bucket, r FROM g$prev
            UNION ALL
            SELECT e.x AS node, g.bucket, g.r
            FROM e0 e JOIN g$prev g ON g.node = e.y
          ) GROUP BY node, bucket)"""
    }.mkString(",")
    val nfSqls = (0 to radius).map(t => s"""
        SELECT radius, CAST(SUM(est) AS BIGINT) AS reach_est
        FROM pe$t GROUP BY radius""").mkString(" UNION ALL ")
    QueryDef("q302_hyperball_p8",
      Some(s"""
        WITH ${Round15Queries.kcoreEdgeCtes},
        nodes AS (SELECT DISTINCT x AS node FROM e0),
        g0 AS MATERIALIZED (SELECT node, h % $m AS bucket,
                CAST(CASE WHEN h // $m = 0 THEN $rhoBase
                     ELSE $rhoBase - length(bin(h // $m)) END AS BIGINT) AS r
              FROM (SELECT node,
                      ${hash60("CAST(node AS VARCHAR)")} AS h
                    FROM nodes)),
        $roundCtes,
        $estCtes,
        nf AS ($nfSqls),
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
          Round15Queries.chainCliqueEdges(s, d), radius = radius, p = p)
        .orderBy("radius"))
  }

  // q303 planted "videos" (97-byte payloads; the stub decoder reads
  // nf = 1 + 97 % 7 = 7 frames of slice 13, sampling frames 0/2/4/6):
  // B = A with one byte edited inside frame 2 (frames 0/4/6 survive at
  // distance 0; frame 2's signature moves > 3 bits), D = A rotated
  // left by TWO slices — the cross-container plant: D's sampled frame
  // i carries A's frame i+2, so D0~A2, D2~A4, D4~A6 match at distance
  // 0 but at DIFFERENT positions, which the exact q163 vote cannot
  // see. Ids sit beyond the corpus range and beyond q163's plants.
  private val BandPlantA =
    "the quick brown fox jumps over the lazy dog while seven wizards brew strong potions at dawnxxxxxx"
  private val BandPlantB =
    "the quick brown fox jumps Qver the lazy dog while seven wizards brew strong potions at dawnxxxxxx"
  private val BandPlantD =
    "over the lazy dog while seven wizards brew strong potions at dawnxxxxxxthe quick brown fox jumps"

  /** Banded cross-container video near-dup
    * ([[Multimodal.frameSignatures]] ->
    * [[Multimodal.frameBandNearDup]]): per-frame dHash signatures band
    * into 4 sixteen-bit chunks (the simhash64 pigeonhole — distance
    * <= 3 forces a shared chunk), frame pairs meet POSITION-FREE on
    * (chunk_idx, chunk) under a df cap, verify by exact popcount
    * distance, and videos pair on >= 2 distinct close a-side frames.
    * Plants: (A,B) re-encode (3 same-position frames), (A,D) remux
    * (3 SHIFTED frames — invisible to q163), (B,D) both (2 frames).
    * The oracle replays slicing, signatures, banding, the cap, the
    * popcount verify, and the vote.
    */
  private lazy val q303: QueryDef =
    QueryDef("q303_video_band_neardup",
      Some(s"""
        WITH corpus AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT * FROM (VALUES
            (CAST(940001 AS BIGINT), '$BandPlantA'),
            (CAST(940002 AS BIGINT), '$BandPlantB'),
            (CAST(940003 AS BIGINT), '$BandPlantD')) v(doc_id, text)),
        m AS (SELECT doc_id, text,
                     1 + (octet_length(CAST(text AS BLOB)) % 7) AS nf,
                     octet_length(CAST(text AS BLOB))
                       // (1 + (octet_length(CAST(text AS BLOB)) % 7)) AS sl
              FROM corpus),
        f AS (SELECT doc_id, text, sl, unnest(range(0, nf, 2)) AS i FROM m),
        px AS (SELECT doc_id, CAST(i AS INTEGER) AS i,
                 [CASE WHEN sl = 0 THEN 0
                       ELSE ascii(substr(text, i*sl + ((k*37) % sl) + 1, 1)) END
                  for k in range(0, 72)] AS p
               FROM f),
        sig AS (SELECT doc_id, i,
                  CAST(list_sum([CASE WHEN p[(b//8)*9 + (b%8) + 1] > p[(b//8)*9 + (b%8) + 2]
                        THEN (CAST(1 AS BIGINT) << b) ELSE 0 END
                        for b in range(0, 32)]) AS BIGINT) AS lo,
                  CAST(list_sum([CASE WHEN p[((b+32)//8)*9 + ((b+32)%8) + 1] > p[((b+32)//8)*9 + ((b+32)%8) + 2]
                        THEN (CAST(1 AS BIGINT) << b) ELSE 0 END
                        for b in range(0, 32)]) AS BIGINT) AS hi
                FROM px),
        ch AS (SELECT doc_id, i, lo, hi, c,
                 CASE WHEN c < 2 THEN (lo >> (c * 16)) & 65535
                      ELSE (hi >> ((c - 2) * 16)) & 65535 END AS chunk
               FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS c)),
        okc AS (SELECT ch.* FROM ch
                JOIN (SELECT c, chunk FROM ch GROUP BY c, chunk
                      HAVING COUNT(*) <= 1000) k
                  ON ch.c = k.c AND ch.chunk = k.chunk),
        mt AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id,
                      x.i AS fa, y.i AS fb
               FROM okc x JOIN okc y
                 ON x.c = y.c AND x.chunk = y.chunk
                    AND x.doc_id < y.doc_id
               WHERE bit_count(xor(x.lo, y.lo))
                     + bit_count(xor(x.hi, y.hi)) <= 3)
        SELECT a_id, b_id, CAST(COUNT(DISTINCT fa) AS BIGINT) AS n_close
        FROM mt GROUP BY a_id, b_id HAVING COUNT(DISTINCT fa) >= 2
        ORDER BY a_id, b_id"""),
      (s, d) => {
        import s.implicits._
        val planted = Seq((940001L, BandPlantA), (940002L, BandPlantB),
          (940003L, BandPlantD)).toDF("doc_id", "text")
        val media = guardPlantIds(
            spread(documents(s, d)).select("doc_id", "text"),
            Seq(940001L, 940002L, 940003L))
          .unionAll(planted)
          .select(col("doc_id"), col("text").cast("binary").as("content"))
          .as[Multimodal.MediaDoc]
        Multimodal.frameBandNearDup(
            Multimodal.frameSignatures(media), "doc_id",
            maxDist = 3, minShared = 2)
          .orderBy("a_id", "b_id")
      })

  val all: Seq[QueryDef] = Seq(q302, q303)
}
