package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph queries: every query whose main operator is a
  * [[ops.Graph]] op — the fixed-iteration rank loops (PageRank,
  * dangling-mass PageRank, HITS, TrustRank) over the trade and
  * outlink-host graphs, all but q125 and q219 built on the AQE-off
  * child session ([[Sessions.loopSession]]); the [[Iterate]]-driven fixpoints
  * (star components, k-core, Luby MIS); link prediction
  * (Adamic–Adar, exact, gated and sampled); and the structure
  * metrics (modularity, clustering coefficient, assortativity,
  * HyperBall reach, harmonic centrality, effective diameter).
  *
  * Oracle discipline: iterative rankings unroll as chained CTEs in
  * integer milli/micro-units, fixpoint loops unroll past the family's
  * measured round count (extra rounds are no-ops at a fixed point),
  * and every graph the engine builds has ONE oracle rendering here
  * that the queries over it share.
  */
object GraphQueries {
  import Tables._
  import OracleSql.{hash32, hash60, hllRank, host, labelCtes, pearsonCtes}
  import CrawlQueries.{crawlPages, hostGraphCtes}

  // NOTE: `all` is declared at the BOTTOM of this object (the lazy-val
  // initialization-order rule — see WarehouseQueries).

  // ---- rank loops over the customer -> supplier trade graph

  /** The directed customer -> supplier trade graph (distinct
    * (cust, supp) pairs via orders x lineitem; customers even ids,
    * suppliers odd) — q148's, q171's and CrawlQueries' q184's edges,
    * and q125's and q219's before symmetrizing.
    */
  private[graft] def tradeEdges(s: SparkSession, d: String,
      src: String = "src", dst: String = "dst"): DataFrame = {
    val o = orders(s, d).select(col("o_orderkey"), col("o_custkey"))
    val l = lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .select((col("o_custkey") * 2).as(src),
        (col("l_suppkey") * 2 + 1).as(dst))
      .distinct()
  }

  /** The oracle rendering of [[tradeEdges]]: the edge select every
    * trade-graph oracle text (q125, q148, q171, q184, q219) wraps in
    * its edge CTE.
    */
  private[graft] def tradeEdgesSql(src: String = "src", dst: String = "dst"): String =
    s"""SELECT DISTINCT o_custkey * 2 AS $src, l_suppkey * 2 + 1 AS $dst
                    FROM lineitem JOIN orders ON l_orderkey = o_orderkey"""

  /** [[tradeEdges]] doubled into both directions (q125, q219). */
  private def symmetricTradeEdges(s: SparkSession, d: String): DataFrame = {
    val e0 = tradeEdges(s, d, "a", "b")
    e0.select(col("a").as("src"), col("b").as("dst"))
      .union(e0.select(col("b").as("src"), col("a").as("dst")))
  }

  /** Integer PageRank ([[ops.Graph.pageRank]]) over the customer-
    * supplier trade graph (distinct (cust, supp) pairs via orders x
    * lineitem, doubled into both directions): 5 fixed iterations in
    * milli-units — per-edge `pr div deg` BEFORE the sum keeps every
    * term an exact integer, so the aggregate is order-independent and
    * the oracle unrolls the loop as 5 chained CTEs, bit-identical.
    */
  private lazy val q125: QueryDef =
    QueryDef("q125_pagerank",
      Some {
        def iter(prev: String, name: String) = s"""
        $name AS (SELECT e.dst AS node,
                    CAST(150 + (850 * SUM(p.pr // d.deg)) // 1000 AS BIGINT) AS pr
                  FROM e JOIN $prev p ON p.node = e.src
                  JOIN d ON d.src = e.src GROUP BY e.dst)"""
        s"""
        WITH e0 AS (${tradeEdgesSql("a", "b")}),
        e AS (SELECT a AS src, b AS dst FROM e0
              UNION ALL SELECT b AS src, a AS dst FROM e0),
        d AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY src),
        p0 AS (SELECT src AS node, CAST(1000 AS BIGINT) AS pr FROM d),
        ${iter("p0", "p1")},${iter("p1", "p2")},${iter("p2", "p3")},${iter("p3", "p4")},${iter("p4", "p5")}
        SELECT node, pr FROM p5 ORDER BY node"""
      },
      // builds on the AQE session: it runs faster here than on
      // [[Sessions.loopSession]] (measured there)
      (s, d) => graft.ops.Graph.pageRank(symmetricTradeEdges(s, d), iters = 5)
        .orderBy("node"))

  /** Dangling-mass PageRank ([[ops.Graph.pageRank]] with
    * `redistributeDangling = true`) over the DIRECTED customer ->
    * supplier trade graph — every supplier is a sink, the worst case
    * for the default leak simplification (q125 sidesteps it by
    * symmetrizing). Each iteration adds the exact integer share
    * `dm div N` (dm = summed sink rank) to every node before damping,
    * conserving mass up to the floors; the oracle unrolls 3
    * iterations with the same all-integer arithmetic, bit-identical.
    */
  private lazy val q148: QueryDef =
    QueryDef("q148_pagerank_dangling",
      Some {
        def iter(prev: String, name: String) = s"""
        $name AS (SELECT n.node,
                    CAST(150 + (850 * (COALESCE(c.s, 0) + dm.share)) // 1000
                      AS BIGINT) AS pr
                  FROM n
                  LEFT JOIN (SELECT e.dst AS node, SUM(p.pr // d.deg) AS s
                             FROM e JOIN $prev p ON p.node = e.src
                             JOIN d ON d.src = e.src
                             GROUP BY e.dst) c ON c.node = n.node
                  CROSS JOIN (SELECT COALESCE(SUM(p.pr), 0)
                                       // (SELECT nv FROM nn) AS share
                              FROM $prev p JOIN sk ON sk.node = p.node) dm)"""
        s"""
        WITH e AS (${tradeEdgesSql()}),
        d AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY src),
        n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS nv FROM n),
        sk AS (SELECT node FROM n WHERE node NOT IN (SELECT src FROM d)),
        p0 AS (SELECT node, CAST(1000 AS BIGINT) AS pr FROM n),
        ${iter("p0", "p1")},${iter("p1", "p2")},${iter("p2", "p3")}
        SELECT node, pr FROM p3 ORDER BY node"""
      },
      (s0, d) => {
        // fixed-iter rank loop: AQE-off child session (Sessions.loopSession)
        val s = graft.Sessions.loopSession(s0)
        graft.ops.Graph.pageRank(tradeEdges(s, d), iters = 3,
            redistributeDangling = true)
          .orderBy("node")
      })

  // One HITS iteration as chained CTEs (the integer normalize-by-
  // micro-total form of ops.Graph.hits): ar/at = raw authority sums +
  // total, a = normalized over the full node set; hr/ht/h mirror for
  // hubs. Every SUM casts to BIGINT up front (DuckDB SUM(BIGINT) is
  // HUGEINT, a representation mismatch the checker flags).
  private def hitsIter(i: Int): String = s"""
        ar$i AS (SELECT e.dst AS node, CAST(SUM(h.h) AS BIGINT) AS s
                 FROM e JOIN h${i - 1} h ON h.node = e.src GROUP BY e.dst),
        at$i AS (SELECT CAST(COALESCE(SUM(s), 0) AS BIGINT) AS t FROM ar$i),
        a$i AS (SELECT n.node,
                  CAST(COALESCE(ar.s, 0) // greatest(t // 1000000, 1) AS BIGINT) AS a
                FROM n LEFT JOIN ar$i ar ON ar.node = n.node CROSS JOIN at$i),
        hr$i AS (SELECT e.src AS node, CAST(SUM(a.a) AS BIGINT) AS s
                 FROM e JOIN a$i a ON a.node = e.dst GROUP BY e.src),
        ht$i AS (SELECT CAST(COALESCE(SUM(s), 0) AS BIGINT) AS t FROM hr$i),
        h$i AS (SELECT n.node,
                  CAST(COALESCE(hr.s, 0) // greatest(t // 1000000, 1) AS BIGINT) AS h
                FROM n LEFT JOIN hr$i hr ON hr.node = n.node CROSS JOIN ht$i)"""

  /** HITS hubs and authorities ([[ops.Graph.hits]]) over the DIRECTED
    * customer -> supplier trade graph (the q148 graph): customers are
    * pure hubs, suppliers pure authorities — the bipartite shape HITS
    * separates and PageRank conflates. 3 fixed iterations in integer
    * micro-units; the normalizer divides the TOTAL down to micro-scale
    * first (`raw div max(1, total div 1e6)`), so no intermediate ever
    * multiplies an unbounded sum — overflow-safe to ~9e12 nodes. The
    * oracle unrolls all 3 iterations as chained CTEs, bit-exact.
    */
  private lazy val q171: QueryDef =
    QueryDef("q171_hits",
      Some(s"""
        WITH e AS (${tradeEdgesSql()}),
        n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS h FROM n),
        ${hitsIter(1)},${hitsIter(2)},${hitsIter(3)}
        SELECT n.node, h3.h AS hub, a3.a AS auth
        FROM n JOIN h3 ON h3.node = n.node JOIN a3 ON a3.node = n.node
        ORDER BY n.node"""),
      (s0, d) => {
        // fixed-iter rank loop: build on the AQE-off child session
        // ([[Sessions.loopSession]] — measured rationale there)
        val s = graft.Sessions.loopSession(s0)
        graft.ops.Graph.hits(tradeEdges(s, d), iters = 3).orderBy("node")
      })

  /** Seed-teleport (personalized) PageRank
    * ([[ops.Graph.personalizedPageRank]]): TrustRank over the q125
    * trade graph with every seventh supplier as the trusted seed set —
    * authority flows outward from the seeds, unreachable nodes stay at
    * exactly 0, and total teleport mass matches plain PageRank's so the
    * two scores are comparable. The oracle unrolls the five damped
    * iterations as chained CTEs, bit-identical integer milli-units.
    */
  private lazy val q219: QueryDef =
    QueryDef("q219_trust_rank",
      Some {
        def iter(prev: String, name: String) = s"""
        $name AS (SELECT s.node,
                    CAST(CASE WHEN s.seed THEN (150 * t.n) // t.ns ELSE 0 END
                         + (850 * COALESCE(c.cs, 0)) // 1000 AS BIGINT) AS pr
                  FROM s CROSS JOIN t LEFT JOIN
                    (SELECT e.dst AS node, SUM(p.pr // d.deg) AS cs
                     FROM e JOIN $prev p ON p.node = e.src
                            JOIN d ON d.src = e.src
                     GROUP BY e.dst) c ON c.node = s.node)"""
        s"""
        WITH e0 AS (${tradeEdgesSql("a", "b")}),
        e AS (SELECT a AS src, b AS dst FROM e0
              UNION ALL SELECT b AS src, a AS dst FROM e0),
        d AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY src),
        s AS (SELECT node, (node % 2 = 1 AND ((node - 1) // 2) % 7 = 1) AS seed
              FROM (SELECT DISTINCT src AS node FROM e)),
        t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(CASE WHEN seed THEN 1 ELSE 0 END) AS BIGINT) AS ns
              FROM s),
        p0 AS (SELECT node, CAST(CASE WHEN seed THEN (1000 * t.n) // t.ns
                                      ELSE 0 END AS BIGINT) AS pr
               FROM s CROSS JOIN t),
        ${iter("p0", "p1")},${iter("p1", "p2")},${iter("p2", "p3")},${iter("p3", "p4")},${iter("p4", "p5")}
        SELECT node, pr FROM p5 ORDER BY node"""
      },
      (s, d) => {
        // builds on the AQE session: it runs faster here than on
        // [[Sessions.loopSession]] (measured there)
        val edges = symmetricTradeEdges(s, d)
        val seeds = lineitem(s, d)
          .filter(col("l_suppkey") % 7 === 1)
          .select((col("l_suppkey") * 2 + 1).as("node")).distinct()
        graft.ops.Graph.personalizedPageRank(edges, seeds, iters = 5)
          .orderBy("node")
      })

  // ---- rank loops over the outlink host graph (CrawlQueries' pages)

  // One integer-PageRank iteration over host-string nodes (the q125
  // milli-unit recipe, node type changed).
  private def prIter(prev: String, name: String): String = s"""
        $name AS (SELECT n.node,
                    CAST(150 + (850 * COALESCE(s.s, 0)) // 1000 AS BIGINT) AS pr
                  FROM n LEFT JOIN (
                    SELECT e.dst AS node, CAST(SUM(p.pr // d.deg) AS BIGINT) AS s
                    FROM e JOIN $prev p ON p.node = e.src
                    JOIN deg d ON d.src = e.src GROUP BY e.dst) s
                  ON s.node = n.node)"""

  /** Crawl-derived host authority ([[ops.Web.outlinkHostEdges]] +
    * [[ops.Graph.pageRank]]): hrefs lifted from raw page HTML,
    * absolute links resolving to their own host and relative links to
    * the page's host (dropping as self-edges), distinct cross-host
    * edges ranked by 3-iteration integer PageRank — the Common-Crawl-
    * style domain ranking that seeds crawl frontiers and source
    * weights. The synthetic pages link each host to the source's next
    * host (a ring) and every third page to a shared hub, which must
    * surface as the top-ranked authority. The oracle replays the
    * extraction, the resolution rule, and the unrolled iterations.
    */
  private lazy val q172: QueryDef =
    QueryDef("q172_host_graph_rank",
      Some(hostGraphCtes + s"""
        n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY src),
        p0 AS (SELECT node, CAST(1000 AS BIGINT) AS pr FROM n),
        ${prIter("p0", "p1")},${prIter("p1", "p2")},${prIter("p2", "p3")}
        SELECT node AS host, pr FROM p3 ORDER BY host"""),
      (s0, d) => {
        // fixed-iter rank loop: AQE-off child session (Sessions.loopSession)
        val s = graft.Sessions.loopSession(s0)
        val pages = crawlPages(s, d)
        graft.ops.Graph.pageRank(
            graft.ops.Web.outlinkHostEdges(pages, "url", "html"), iters = 3)
          .select(col("node").as("host"), col("pr"))
          .orderBy("host")
      })

  /** Authority-weighted sampling ([[ops.Web.authorityWeightedSample]]):
    * the full crawl-composition — outlink host graph (q172's pages)
    * -> integer PageRank -> per-host keep_ppm = (pr * 1e6) div
    * max_pr -> md5-slot draw per doc. The oracle replays the whole
    * chain: extraction, resolution, three unrolled iterations, the
    * normalization, and the slot filter.
    */
  private lazy val q183: QueryDef =
    QueryDef("q183_authority_sample",
      Some(hostGraphCtes + s"""
        n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY src),
        p0 AS (SELECT node, CAST(1000 AS BIGINT) AS pr FROM n),
        ${prIter("p0", "p1")},${prIter("p1", "p2")},${prIter("p2", "p3")},
        mx AS (SELECT MAX(pr) AS mx FROM p3),
        kp AS (SELECT node AS host, CAST((pr * 1000000) // greatest(mx, 1) AS BIGINT) AS keep_ppm
               FROM p3 CROSS JOIN mx),
        dh AS (SELECT doc_id, ${host("url")} AS host FROM u)
        SELECT dh.doc_id, dh.host, kp.keep_ppm
        FROM dh JOIN kp USING (host)
        WHERE ${hash32("CAST(dh.doc_id AS VARCHAR)")} % 1000000 < kp.keep_ppm
        ORDER BY dh.doc_id"""),
      (s0, d) => {
        // fixed-iter rank loop: AQE-off child session (Sessions.loopSession)
        val s = graft.Sessions.loopSession(s0)
        val pages = crawlPages(s, d)
        val ranks = graft.ops.Graph.pageRank(
            graft.ops.Web.outlinkHostEdges(pages, "url", "html"), iters = 3)
          .select(col("node").as("host"), col("pr"))
        graft.ops.Web.authorityWeightedSample(
            pages.select("doc_id", "url"), "doc_id", "url", ranks)
          .select("doc_id", "host", "keep_ppm")
          .orderBy("doc_id")
      })

  /** Trusted-frontier ranking ([[ops.Graph.personalizedPageRank]]
    * over [[ops.Web.outlinkHostEdges]]): TrustRank seeded at the
    * curated sources' hosts (src0-src2 — the same slice q218 trains
    * its reference LM on), propagated 3 damped hops over the outlink
    * host graph. Hosts the curated sites link into (the hub) inherit
    * trust; hosts unreachable from any seed score exactly 0 — the
    * crawl-frontier priority signal, derived instead of hand-kept.
    * The oracle replays the graph build and the seed-concentrated
    * base through the unrolled iterations.
    */
  private lazy val q220: QueryDef =
    QueryDef("q220_trusted_frontier",
      Some {
        def iter(prev: String, name: String) = s"""
        $name AS (SELECT s.node,
                    CAST(CASE WHEN s.seed THEN (150 * t.n) // t.ns ELSE 0 END
                         + (850 * COALESCE(c.cs, 0)) // 1000 AS BIGINT) AS pr
                  FROM s CROSS JOIN t LEFT JOIN (
                    SELECT e.dst AS node, SUM(p.pr // d.deg) AS cs
                    FROM e JOIN $prev p ON p.node = e.src
                    JOIN deg d ON d.src = e.src GROUP BY e.dst) c
                  ON c.node = s.node)"""
        hostGraphCtes + s"""
        s AS (SELECT node, regexp_matches(node, '^src[0-2]-') AS seed
              FROM (SELECT src AS node FROM e UNION SELECT dst FROM e)),
        t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(CASE WHEN seed THEN 1 ELSE 0 END) AS BIGINT) AS ns
              FROM s),
        deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY src),
        p0 AS (SELECT node, CAST(CASE WHEN seed THEN (1000 * t.n) // t.ns
                                      ELSE 0 END AS BIGINT) AS pr
               FROM s CROSS JOIN t),
        ${iter("p0", "p1")},${iter("p1", "p2")},${iter("p2", "p3")}
        SELECT node AS host, pr FROM p3 ORDER BY host"""
      },
      (s0, d) => {
        // fixed-iter rank loop: AQE-off child session (Sessions.loopSession)
        val s = graft.Sessions.loopSession(s0)
        val pages = crawlPages(s, d)
        val edges = graft.ops.Web.outlinkHostEdges(pages, "url", "html")
        val seeds = edges.select(col("src").as("node"))
          .union(edges.select(col("dst").as("node")))
          .distinct().filter(col("node").rlike("^src[0-2]-"))
        graft.ops.Graph.personalizedPageRank(edges, seeds, iters = 3)
          .select(col("node").as("host"), col("pr"))
          .orderBy("host")
      })

  // ---- fixpoints, link prediction and structure metrics

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
      Some(s"""
        WITH RECURSIVE
        e AS (SELECT doc_id AS u,
                LEAD(doc_id) OVER (PARTITION BY source ORDER BY doc_id) AS v
              FROM documents),
        ed AS (SELECT u, v FROM e WHERE v IS NOT NULL),${labelCtes("ed", "u", "v",
          node = "node", label = "component")}
        SELECT node, CAST(component AS BIGINT) AS component
        FROM lab ORDER BY node"""),
      (s, d) => {
        val w = Window.partitionBy("source").orderBy("doc_id")
        val edges = spread(documents(s, d)).select("source", "doc_id")
          .withColumn("_nxt", lead("doc_id", 1).over(w))
          .filter(col("_nxt").isNotNull)
          .select(col("doc_id").as("u"), col("_nxt").as("v"))
        graft.ops.Graph.starComponents(edges).orderBy("node")
      })

  // q270's graph, shared by engine and oracle: within each source the
  // doc_id-consecutive CHAIN (thin organic links — peels at k=3) plus
  // a 6-CLIQUE over the source's 6 smallest doc_ids (the dense
  // farm-like cluster the core keeps). Peeling converges in 2 rounds
  // on this family at EVERY scale (the chain dies in round 1, the
  // clique is stable) — the oracle unrolls 4 for slack.
  private val KCoreK = 3
  private def kcoreEdgeCtes: String = """
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

  // Engine mirror of kcoreEdgeCtes' chain+clique document graph (the
  // shared synthetic graph of q270 and the structure metrics below).
  private def chainCliqueEdges(s: SparkSession, d: String): DataFrame = {
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
      (s, d) => graft.ops.Graph.kCore(chainCliqueEdges(s, d), k = KCoreK,
          maxIters = 10)
        .orderBy("node"))

  // ---- Adamic–Adar over the order–part graph (q271, q304, q309)

  /** The bipartite order–part graph: parts offset into their own id
    * space so the two node kinds never collide. `orderPartCtes` is the
    * oracle's rendering (undirected edges `und`, their symmetric form
    * `sym`, full-graph degrees `deg`); `nonAdjacentCte` drops scored
    * pairs that are already edges.
    */
  private def orderPartEdges(s: SparkSession, d: String): DataFrame =
    lineitem(s, d).select(col("l_orderkey").as("u"),
      (col("l_partkey") + lit(1000000000000L)).as("v"))
  private val orderPartCtes = """
        WITH und AS (SELECT DISTINCT l_orderkey AS a,
                       l_partkey + 1000000000000 AS b FROM lineitem),
        sym AS (SELECT a AS w, b AS n FROM und
                UNION ALL SELECT b AS w, a AS n FROM und),
        deg AS (SELECT w, COUNT(*) AS deg FROM sym GROUP BY w),
"""
  private val nonAdjacentCte = """        nonadj AS (SELECT scored.* FROM scored
                   LEFT JOIN und ON und.a = scored.u AND und.b = scored.v
                   WHERE und.a IS NULL)
"""

  /** Exact Adamic–Adar oracle: wedges through middles of degree 2..64,
    * floor(1e6/ln(deg)) per wedge, top 100 non-adjacent pairs.
    * `having` is the common-neighbor gate (empty = exact mode).
    */
  private def adamicAdarSql(having: String): String =
    orderPartCtes + s"""        mids AS (SELECT sym.w, sym.n,
                   CAST(floor(1000000.0 / ln(deg.deg)) AS BIGINT) AS c
                 FROM sym JOIN deg ON sym.w = deg.w
                 WHERE deg.deg BETWEEN 2 AND 64),
        wedges AS (SELECT w1.n AS u, w2.n AS v, w1.c
                   FROM mids w1 JOIN mids w2 ON w1.w = w2.w
                   WHERE w1.n < w2.n),
        scored AS (SELECT u, v, CAST(SUM(c) AS BIGINT) AS aa_micro,
                          CAST(COUNT(*) AS BIGINT) AS common_neighbors
                   FROM wedges GROUP BY u, v$having),
""" +
      nonAdjacentCte + """        SELECT u, v, aa_micro, common_neighbors
        FROM nonadj ORDER BY aa_micro DESC, u, v LIMIT 100"""

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
      Some(adamicAdarSql("")),
      (s, d) => graft.ops.Graph.adamicAdar(orderPartEdges(s, d),
          maxDegree = 64, topK = 100)
        .orderBy(col("aa_micro").desc, col("u"), col("v")))

  /** Gated Adamic–Adar ([[ops.Graph.adamicAdar]] with
    * `minCommonNeighbors = 2`) over q271's order–part graph: identical
    * semantics to q271 EXCEPT that pairs sharing only ONE neighbor are
    * dropped — and, engine-side, never shuffled: endpoints whose
    * full-graph degree is below the floor are pruned from the neighbor
    * lists BEFORE in-task pair generation (common_neighbors(u, v) <=
    * min(deg(u), deg(v)), so the prune is lossless w.r.t. the gate),
    * which cuts the singleton majority of wedge traffic ahead of the
    * (u, v) exchange. The oracle replays only the declared semantics —
    * `HAVING COUNT(*) >= 2` on the wedge aggregate — proving the prune
    * changes nothing observable.
    */
  private lazy val q304: QueryDef =
    QueryDef("q304_adamic_adar_gated",
      Some(adamicAdarSql("\n                   HAVING COUNT(*) >= 2")),
      (s, d) => graft.ops.Graph.adamicAdar(orderPartEdges(s, d),
          maxDegree = 64, topK = 100, minCommonNeighbors = 2)
        .orderBy(col("aa_micro").desc, col("u"), col("v")))

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
      Some(orderPartCtes + s"""        mids AS (SELECT sym.w, sym.n,
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
""" +
        nonAdjacentCte + """        SELECT u, v, aa_micro_est, common_neighbors_est
        FROM nonadj ORDER BY aa_micro_est DESC, u, v LIMIT 100"""),
      (s, d) => graft.ops.Graph.adamicAdarSampled(orderPartEdges(s, d),
          maxDegree = 64, topK = 100, sampleOneIn = 3)
        .orderBy(col("aa_micro_est").desc, col("u"), col("v")))

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

  // HyperBall round-0 registers at m = 2^p: each node's 60-bit hash
  // in its own register, as `g0(node, bucket, r)` over the `e0` edges.
  private def hyperballG0Cte(p: Int): String = s"""
        nodes AS (SELECT DISTINCT x AS node FROM e0),
        g0 AS MATERIALIZED (SELECT node, h % ${1 << p} AS bucket,
                CAST(${hllRank("h", p)} AS BIGINT) AS r
              FROM (SELECT node,
                      ${hash60("CAST(node AS VARCHAR)")} AS h
                    FROM nodes))"""

  // q221's integer RAW HLL estimator at m = 2^p registers with alpha
  // `aNum / aDen` and the linear-counting small-range branch
  // (Graph.lcTable's precomputed literals — the SAME constants the
  // engine inlines), as a per-node CTE `pe{t}` `(node, radius, est)` —
  // q288 sums it per radius, q291 runs the harmonic window over it.
  private def hyperballEstCte(t: Int, p: Int = 6, aNum: Long = 709L,
                              aDen: Long = 1000L): String = {
    val m = 1 << p
    val lc = graft.ops.Graph.lcTable(p).mkString("[", ", ", "]")
    s"""
        pe$t AS (SELECT node, CAST($t AS BIGINT) AS radius,
            CAST(CASE WHEN nb < $m AND est < ${5 * m / 2}
              THEN ($lc)[CAST($m - nb AS INT)]
              ELSE est END AS BIGINT) AS est FROM (
          SELECT node, COUNT(*) AS nb,
            CAST(($aNum::HUGEINT * $m * $m * (1::BIGINT << 60))
                 // ($aDen::HUGEINT *
                     (SUM(1::HUGEINT * (1::BIGINT << CAST(60 - r AS INT)))
                      + ($m - COUNT(*))::HUGEINT * (1::BIGINT << 60)))
                 AS BIGINT) AS est
          FROM g$t GROUP BY node))"""
  }

  private def hyperballNfSql(t: Int): String = s"""
        SELECT radius, CAST(SUM(est) AS BIGINT) AS reach_est
        FROM pe$t GROUP BY radius"""

  // The HyperBall oracle over the chain+clique graph at m = 2^p: its
  // edges, the round-0 registers, `radius` merge rounds and every
  // round's per-node estimate `pe{t}`.
  private def hyperballCtes(radius: Int, p: Int = 6, aNum: Long = 709L,
                            aDen: Long = 1000L): String = s"""$kcoreEdgeCtes,${hyperballG0Cte(p)},
        ${hyperballRoundCtes(radius)},
        ${(0 to radius).map(hyperballEstCte(_, p, aNum, aDen)).mkString(",")}"""

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
  private lazy val q288: QueryDef =
    hyperballReach("q288_hyperball_reach", p = 6, aNum = 709L, aDen = 1000L)

  // q288 and q302: the per-radius reach panel and the mean distance.
  private def hyperballReach(name: String, p: Int, aNum: Long,
                             aDen: Long): QueryDef = {
    val radius = 6
    QueryDef(name,
      Some(s"""
        WITH ${hyperballCtes(radius, p, aNum, aDen)},
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
          chainCliqueEdges(s, d), radius = radius, p = p)
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
               JOIN deg dy ON dy.node = e0.y),${pearsonCtes("pr", "x", "y")}
        SELECT CAST(n AS BIGINT) AS n_pairs,
               CAST(num * 1000000 // den AS BIGINT) AS assortativity_ppm
        FROM sq"""),
      (s, d) => graft.ops.Graph.assortativity(chainCliqueEdges(s, d)))

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
        WITH ${hyperballCtes(radius)},
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
        WITH ${hyperballCtes(radius)},
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
  private lazy val q302: QueryDef = hyperballReach("q302_hyperball_p8",
    p = 8, aNum = 7213L * 256, aDen = 10000L * 256 + 10790L)


  val all: Seq[QueryDef] = Seq(q125, q148, q171, q172, q183, q219, q220,
    q252, q270, q271, q274, q277, q284, q286, q288, q289, q291, q301, q302,
    q304, q309)
}
