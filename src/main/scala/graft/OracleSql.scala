package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.sum
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** DuckDB renderings of the engine kernels the oracle SQL replays, one
  * per recipe. Each member names the engine function it mirrors, so a
  * change to that function's arithmetic has exactly one oracle twin.
  *
  * DuckDB 1.0 has no `conv()`: md5 hex digits are folded to integers
  * with a list comprehension. Comprehension and lambda variables are
  * `hx`, `vx`, `hpx`, `bx`, `bb` and `qx` (and `x`/`s` in recipes that
  * take no caller expression), never `i`/`d`/`p`: callers interpolate
  * these fragments into outer comprehensions and lambdas, and an inner
  * variable of the same name would silently capture the caller's (an
  * `i`-bound hash inside `for i in ...` hashes the digit position).
  */
object OracleSql {

  /** Hex digit `pos` (1-based SQL expression) of md5(`e`), as 0..15. */
  private def md5Digit(e: String, pos: String): String =
    s"strpos('0123456789abcdef', substr(md5($e), $pos, 1)) - 1"

  /** md5 hex digits `from` until `until` of `e` folded, most significant
    * first, to a BIGINT: Spark's `conv(substring(md5(e), from,
    * until - from), 16, 10)`. The `(9, 17)` slice is the second word of
    * [[Pipeline.minhashBase]].
    */
  def md5Digits(e: String, from: Int, until: Int): String =
    s"""list_reduce([${md5Digit(e, "hx")} for hx in range($from, $until)],
                    (a, b) -> a*16 + b)"""

  /** Mirror of [[Pipeline.wordHash32]]: first 8 md5 hex digits. */
  def hash32(e: String): String = md5Digits(e, 1, 9)

  /** Mirror of [[Pipeline.wordHash60]]: first 15 md5 hex digits. */
  def hash60(e: String): String = md5Digits(e, 1, 16)

  /** Mirror of [[Pipeline.dot]] over DOUBLE[] slots 1..`dims`: the same
    * index-ordered fold (DuckDB's init-less `list_reduce` equals Spark's
    * 0.0-seeded `aggregate` bit for bit), as in the native cosine_sim.
    */
  def dot(a: String, b: String, dims: Int = 64): String =
    s"list_reduce(list_transform(range(1, ${dims + 1}), vx -> $a[vx] * $b[vx]), (x, y) -> x + y)"

  /** Mirror of [[Pipeline.cosine]] and plans.VectorExpressions.cosineSim. */
  def cos(a: String, b: String, dims: Int = 64): String =
    s"${dot(a, b, dims)} / (sqrt(${dot(a, a, dims)}) * sqrt(${dot(b, b, dims)}))"

  /** Mirror of [[Similarity.pqAssign]]'s squared-L2 fold over slots
    * 1..`dims`, in index order. */
  def sqDist(a: String, b: String, dims: Int): String =
    s"""list_reduce(list_transform(range(1, ${dims + 1}),
                     vx -> ($a[vx] - $b[vx]) * ($a[vx] - $b[vx])), (x, y) -> x + y)"""

  /** Mirror of `Pipeline.rhpBucket(v, 64, 4)`: bit p is set when `v`
    * projects positively on hyperplane p, whose ±1 components are the
    * md5 parities of [[Pipeline.rhpSign]].
    */
  def rhpBucket(v: String): String = s"""
    list_reduce(list_transform(range(0, 4), hpx ->
      CASE WHEN list_reduce(list_transform(range(1, 65), vx ->
             $v[vx] * (CASE WHEN (${md5Digit("CAST(hpx AS VARCHAR) || '_' || CAST(vx AS VARCHAR)", "1")}) % 2 = 0
                    THEN 1.0 ELSE -1.0 END)),
           (x, y) -> x + y) > 0
      THEN (1 << CAST(hpx AS INTEGER)) ELSE 0 END),
    (x, y) -> x + y)"""

  /** Mirror of [[ops.Web.host]] (the same regex, literally). */
  def host(url: String): String =
    s"lower(regexp_extract($url, '${ops.Web.HostRegex}', 1))"

  /** Mirror of [[ops.Temporal.scd2]] as CTEs over an `el` CTE of
    * (user_id, state, ts_us, event_id): change rows via IS DISTINCT
    * FROM (null-safe, as the engine's `<=>` negation), intervals via
    * LEAD under the engine's (ts_us, event_id) order.
    */
  val scd2Ctes: String = """
        ch AS (SELECT user_id, state, ts_us, event_id FROM (
                 SELECT el.*, LAG(state) OVER (PARTITION BY user_id
                   ORDER BY ts_us, event_id) AS prev FROM el)
               WHERE prev IS DISTINCT FROM state),
        vs AS (SELECT user_id, state, ts_us AS valid_from_us,
                 LEAD(ts_us) OVER (PARTITION BY user_id
                   ORDER BY ts_us, event_id) AS valid_to_us,
                 CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                   ORDER BY ts_us, event_id) AS BIGINT) AS version
               FROM ch)"""

  /** Mirror of [[Dedup.clusters]] and [[ops.Graph.starComponents]]:
    * the min-label closure of the edge CTE `edges(a, b)` as CTEs `sym`
    * (both directions, as `(u, v)`), `reach(u, r)` (every node with
    * each node it reaches, itself included) and `lab(node, label)`,
    * the smallest reachable id per node. Needs `WITH RECURSIVE`.
    */
  def labelCtes(edges: String, a: String = "a_id", b: String = "b_id",
                lab: String = "lab", node: String = "doc_id",
                label: String = "cluster"): String = s"""
        sym AS (SELECT $a AS u, $b AS v FROM $edges
                UNION SELECT $b AS u, $a AS v FROM $edges),
        reach(u, r) AS (
          SELECT u, u AS r FROM (SELECT DISTINCT u FROM sym)
          UNION
          SELECT s.v AS u, reach.r FROM reach JOIN sym s ON s.u = reach.u),
        $lab AS (SELECT u AS $node, MIN(r) AS $label FROM reach GROUP BY u)"""

  /** Mirror of [[Dedup.verifiedPairsHashed]] over `sh(doc_id,
    * shingles)` and `cand(a_id, b_id)`: each shingle as its 60-bit
    * hash, and the candidate pairs whose exact Jaccard reaches 0.5, as
    * `(a_id, b_id, jaccard_ppm)` in integer ppm.
    */
  val verifiedHashedSql: String = s"""
        h AS (SELECT doc_id, list_transform(shingles, s -> ${hash60("s")}) AS hs FROM sh),
        v AS (SELECT c.a_id, c.b_id,
                CAST(len(list_filter(a.hs, x -> list_contains(b.hs, x))) AS BIGINT) AS i,
                CAST(len(a.hs) + len(b.hs)
                     - len(list_filter(a.hs, x -> list_contains(b.hs, x))) AS BIGINT) AS u
              FROM cand c
              JOIN h a ON a.doc_id = c.a_id
              JOIN h b ON b.doc_id = c.b_id)
        SELECT a_id, b_id, (1000000 * i) // u AS jaccard_ppm
        FROM v WHERE i * 1000000 >= u * 500000
        ORDER BY a_id, b_id"""

  /** Mirror of [[Dedup.verifiedPairs]]' exact verify: the candidate
    * pairs `cand(a_id, b_id)` joined to both shingle sets of
    * `sh(doc_id, shingles)` as `a` and `b`, and their intersection size.
    */
  val candShingles: String = """FROM cand c
        JOIN sh a ON a.doc_id = c.a_id
        JOIN sh b ON b.doc_id = c.b_id"""
  val sharedShingles: String =
    "len(list_filter(a.shingles, x -> list_contains(b.shingles, x)))"

  /** The exact shingle Jaccard of a [[candShingles]] pair, as DOUBLE. */
  val shingleJaccard: String =
    s"""CAST($sharedShingles AS DOUBLE)
                 / (len(a.shingles) + len(b.shingles) - $sharedShingles)"""

  /** `name(a_id, b_id)`: the candidate pairs whose [[shingleJaccard]]
    * reaches 0.5, the near-dup family's operating point. */
  def verifiedCte(name: String): String = s"""
        $name AS (SELECT c.a_id, c.b_id $candShingles
                WHERE $shingleJaccard >= 0.5)"""

  /** Mirror of [[ops.Sketches.hllCells]]' rank of a 60-bit hash `h` at
    * `2^p` registers: one plus the leading zeros of the `60 - p` bits
    * above the register index. */
  def hllRank(h: String, p: Int = 6): String = {
    val m = 1 << p
    s"CASE WHEN $h // $m = 0 THEN ${61 - p} ELSE ${61 - p} - length(bin($h // $m)) END"
  }

  /** Mirror of [[Pipeline.simhash32]] (one signature) and
    * [[Pipeline.simhash64]] (two): over a `toks(doc_id, w)` CTE, CTEs
    * `h`, `votes` and `sig(doc_id, name...)`, one 32-bit signature per
    * `(token expression, name)`: bit b is set when more of the
    * document's token hashes have bit b set than not.
    */
  def simhashCtes(sigs: (String, String)*): String = {
    val ks = sigs.indices
    val hs = ks.map(k => s"${hash32(sigs(k)._1)} AS h$k")
    val vs = ks.map(k =>
      s"SUM(CASE WHEN (h$k >> CAST(bx AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END) AS v$k")
    val ss = ks.map(k => s"CAST(SUM(CASE WHEN v$k > 0 THEN " +
      s"(CAST(1 AS BIGINT) << CAST(bx AS INTEGER)) ELSE 0 END) AS BIGINT) AS ${sigs(k)._2}")
    val sep = ",\n" + " " * 16
    s"""
        h AS (SELECT doc_id, ${hs.mkString(sep)} FROM toks),
        votes AS (SELECT doc_id, bx, ${vs.mkString(sep)}
                  FROM h CROSS JOIN (SELECT unnest(range(0, 32)) AS bx) GROUP BY doc_id, bx),
        sig AS (SELECT doc_id, ${ss.mkString(sep)}
                FROM votes GROUP BY doc_id)"""
  }

  /** Mirror of [[Pipeline.simhash64Pairs]]' pigeonhole blocks: the CTE
    * `ch` holding chunk `c` (0..3, 16 bits each, `lo` first) of every
    * `sig(keys..., lo, hi)` row. */
  def chunk16Cte(keys: String): String = s"""
        ch AS (SELECT $keys, lo, hi, c,
                 CASE WHEN c < 2 THEN (lo >> (CAST(c AS INTEGER) * 16)) & 65535
                      ELSE (hi >> ((CAST(c AS INTEGER) - 2) * 16)) & 65535 END AS chunk
               FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS c))"""

  /** Popcount distance of the `(lo, hi)` signatures of rows `x`, `y`. */
  val hamming64: String = "bit_count(xor(x.lo, y.lo)) + bit_count(xor(x.hi, y.hi))"

  /** Mirror of [[Pipeline.simhash64Pairs]] over `sig(doc_id, lo, hi)`:
    * the [[chunk16Cte]] blocks, then every pair sharing a chunk whose
    * [[hamming64]] distance is at most 3, as `(a_id, b_id, dist)`. */
  val simhash64PairsSql: String = s"""${chunk16Cte("doc_id")},
        pairs AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id,
                    CAST($hamming64 AS INTEGER) AS dist
                  FROM ch x JOIN ch y
                    ON x.c = y.c AND x.chunk = y.chunk AND x.doc_id < y.doc_id)
        SELECT a_id, b_id, dist FROM pairs WHERE dist <= 3
        ORDER BY a_id, b_id"""

  /** Mirror of [[Multimodal.perceptualHash]]'s dHash over the 9x8
    * sampled pixels `p` (a 72-entry list, row-major): bit b of the 64
    * is set when pixel `(b / 8, b % 8)` is brighter than its right
    * neighbour, as BIGINT halves `lo` (bits 0..31) and `hi`. */
  val dhashSig: String = Seq(0 -> "lo", 32 -> "hi").map {
    case (off, half) => s"""
                  CAST(list_sum([CASE WHEN p[((bx+$off)//8)*9 + ((bx+$off)%8) + 1]
                                         > p[((bx+$off)//8)*9 + ((bx+$off)%8) + 2]
                        THEN (CAST(1 AS BIGINT) << bx) ELSE 0 END
                        for bx in range(0, 32)]) AS BIGINT) AS $half"""
  }.mkString(",")

  /** Mirror of [[ops.Stats.pearsonPpm]] over the integral columns `x`,
    * `y` of `src`: CTEs `ag` (six HUGEINT moment sums), `nm`, `s0` and
    * `sq(n, num, den)`, where the per-factor floor-sqrt of `den` is
    * DOUBLE sqrt corrected to the exact integer root within +-2. The
    * correlation in ppm is `num * 1000000 // den`.
    */
  def pearsonCtes(src: String, x: String, y: String): String = {
    def isqrt(v: String) = s"""list_max(list_filter(
                     [s${v}0 - 2, s${v}0 - 1, s${v}0, s${v}0 + 1, s${v}0 + 2],
                     qx -> qx * qx <= $v))"""
    s"""
        ag AS (SELECT COUNT(*)::HUGEINT AS n, SUM($x) AS sx, SUM($y) AS sy,
                      SUM($x * $y) AS sxy, SUM($x * $x) AS sxx,
                      SUM($y * $y) AS syy
               FROM $src),
        nm AS (SELECT n, n * sxy - sx * sy AS num,
                      n * sxx - sx * sx AS a, n * syy - sy * sy AS b
               FROM ag),
        s0 AS (SELECT *,
                 CAST(floor(sqrt(CAST(a AS DOUBLE))) AS HUGEINT) AS sa0,
                 CAST(floor(sqrt(CAST(b AS DOUBLE))) AS HUGEINT) AS sb0
               FROM nm),
        sq AS (SELECT n, num,
                 GREATEST(${isqrt("a")} *
                   ${isqrt("b")}, 1) AS den
               FROM s0)"""
  }

  /** Mirror of [[ops.Web.canonicalUrl]] over `u(doc_id, url)`: CTEs
    * `c` (scheme, host without `www.`, port, path and query without
    * fragment or trailing slash) and `name(doc_id, column)`, the
    * canonical URL: lower-cased scheme and host, default ports
    * dropped, '' for a URL without a scheme.
    */
  def canonUrlCtes(name: String, column: String): String = s"""
        c AS (SELECT doc_id,
                lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
                regexp_replace(${host("url")}, '^www\\.', '') AS h,
                regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?[^/?#:]+:([0-9]+)', 1) AS port,
                regexp_replace(regexp_replace(
                  regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?[^/?#]*(.*)$$', 1),
                  '#.*$$', ''), '/$$', '') AS rest
              FROM u),
        $name AS (SELECT doc_id,
                CASE WHEN scheme = '' THEN '' ELSE scheme || '://' || h ||
                  (CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
                             OR (scheme = 'https' AND port = '443')
                        THEN '' ELSE ':' || port END) || rest END AS $column
              FROM c)"""

  /** Mirror of [[ops.Sampling.targetMixTokens]] over CTEs
    * `tg(lang, ppm)` (the targets) and `tok(doc_id, lang, n_tok)`:
    * the largest token total `t` every stratum can fill, each
    * stratum's quota, and the rows whose md5-slot-ordered running
    * token count stays below it, as `(doc_id, lang, n_tok,
    * tok_before)`. The LEFT JOIN + COALESCE mirrors the engine's
    * strict reading: a targeted stratum absent from the corpus means
    * t = 0 and an empty selection, not a dropped constraint.
    */
  val targetMixTokensSql: String = s"""
        tt AS (SELECT lang, CAST(SUM(n_tok) AS BIGINT) AS ts
               FROM tok GROUP BY lang),
        t AS (SELECT MIN((COALESCE(tt.ts, 0) * 1000000) // tg.ppm) AS t
              FROM tg LEFT JOIN tt USING (lang)),
        q AS (SELECT tg.lang, (t.t * tg.ppm) // 1000000 AS quota
              FROM tg CROSS JOIN t),
        r AS (SELECT doc_id, lang, n_tok,
                CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY lang
                  ORDER BY ${hash32("CAST(doc_id AS VARCHAR)")} % 1000000, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS tb
              FROM tok)
        SELECT r.doc_id, r.lang, r.n_tok, r.tb AS tok_before
        FROM r JOIN q ON r.lang = q.lang AND r.tb < q.quota
        ORDER BY r.doc_id"""

  /** Mirror of the rebalance audits' panel ([[ops.Layout.ringMoves]],
    * [[ops.Layout.rendezvousMoves]]) over per-key owners
    * `o(o_from, o_to)`: per shard `(shard, n_from, n_to)` with the
    * one-row `(n_keys, moved, moved_ppm, expected_ppm)` summary.
    */
  def movesPanelSql(expectedPpm: Long): String = s"""
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
        FROM ps CROSS JOIN sm2 ORDER BY shard"""

  /** Mirror of [[ops.Layout.zorderKey2]]: the low `bits` bits of `x`
    * and `y` interleaved, x's bit b at 2b and y's at 2b + 1. */
  def morton(x: String, y: String, bits: Int): String =
    s"""list_sum([((($x >> bb) & 1) << (2*bb)) +
                          ((($y >> bb) & 1) << (2*bb+1))
                          for bb in range(0, $bits)])"""

  /** Order-independent exact sum of a double expression: through
    * DECIMAL(25,6) and back (see [[Queries]] on why both engines agree).
    * [[dsumSql]] is its oracle twin.
    */
  def dsum(c: Column): Column =
    sum(c.cast(DecimalType(25, 6))).cast(DoubleType)
  def dsumSql(e: String): String =
    s"CAST(SUM(CAST($e AS DECIMAL(25,6))) AS DOUBLE)"
}
