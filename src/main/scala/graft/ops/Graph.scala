package graft.ops

import graft.CacheScope
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

/** Distributed graph operators over an edge list — the link-analysis
  * half of a data-curation stack (source-authority weighting for mix
  * design, influence scoring over derived document/entity graphs).
  *
  * Everything is ALL-INTEGER milli-unit arithmetic: per-edge integer
  * division happens BEFORE the sum (each term is an exact integer, so
  * the aggregate is order-independent and bit-identical across
  * engines/partitionings/retries — the same portability discipline as
  * the dedup family), and the damping multiply-then-divide is one
  * integer op per node. No floats anywhere.
  */
object Graph {

  /** The undirected simple edge set of `edges`' first two columns:
    * each edge once as `(a, b)` with `a < b`, self-loops dropped. */
  private def undirected(edges: DataFrame): DataFrame =
    undirected(edges, edges.columns(0), edges.columns(1))

  private def undirected(edges: DataFrame, u: String, v: String): DataFrame =
    edges.select(least(col(u), col(v)).as("a"), greatest(col(u), col(v)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()

  /** An [[undirected]] edge set in both directions, as `(x, y)`. */
  private def bothWays(und: DataFrame, x: String, y: String): DataFrame =
    und.select(col("a").as(x), col("b").as(y))
      .unionAll(und.select(col("b").as(x), col("a").as(y)))

  /** The rank loops' loop-invariant inputs over the `(src, dst)` edges:
    * each source's out-degree `(src, deg)`, the edges joined to it and
    * cached pre-partitioned on `src` (the prepared frame), and the
    * uncached distinct `node` set. */
  private def rankInputs(edges: DataFrame, scope: CacheScope)
      : (DataFrame, DataFrame, DataFrame) = {
    val e = edges.select(col("src"), col("dst"))
    val deg = e.groupBy("src").agg(count(lit(1)).cast(LongType).as("deg"))
    val prepared = scope.persist(e.join(deg, "src").repartition(col("src")),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    (deg, prepared, nodes)
  }

  /** One rank round's inflow per node `(node, _s)`: each source's rank
    * `pr` split evenly (`div`) over its prepared out-edges, summed at
    * the destination. */
  private def contributions(prepared: DataFrame, pr: DataFrame): DataFrame =
    prepared
      .join(pr, prepared("src") === pr("node"))
      .select(col("dst"), expr("pr div deg").as("_c"))
      .groupBy(col("dst"))
      .agg(sum(col("_c")).as("_s"))
      .withColumnRenamed("dst", "node")

  /** PageRank over a directed edge list `(src, dst)`, fixed iteration
    * count, integer milli-units (initial rank 1000 per node; the
    * classic 0.85 damping as `850/1000`):
    *
    * `pr'(v) = 150 + (850 * sum over (u,v) edges of (pr(u) div
    * outdeg(u))) div 1000`
    *
    * Scale shape: ONE prepared frame joins edges to out-degrees (both
    * keyed on `src` — co-partitioned), then each iteration is one
    * src-keyed hash join (rank frame onto the prepared edges) + one
    * dst-keyed partial-combinable sum. Nothing corpus-squared, no
    * driver collects; iterations are a fixed constant, so the plan is
    * a bounded chain (no lineage checkpointing needed — contrast the
    * convergence-driven [[graft.Dedup.clusters]] loop). At 100 TB,
    * pre-partition the edge list by `src` once and every iteration's
    * join reuses that partitioning; the rank frame is nodes-sized.
    *
    * The node set is src ∪ dst of the edge list. A node with no
    * in-edges holds the base rank 150 every iteration (it still feeds
    * its out-edges); by default a sink (no out-edges) accumulates rank
    * but redistributes nothing — its mass leaks, the standard
    * simplification when dangling-mass redistribution isn't needed for
    * a RANKING (it rescales uniformly). Isolated nodes (no edges at
    * all) are not ranked — union self-loops if they must appear.
    *
    * `redistributeDangling = true` turns on integer-exact dangling-
    * mass redistribution: each iteration adds `dm div N` to every
    * node's contribution sum before damping, where `dm` is the summed
    * rank of all sink nodes and `N` the node count —
    *
    * `pr'(v) = 150 + (850 * ((sum of pr(u) div outdeg(u)) +
    * dm div N)) div 1000`
    *
    * — so total mass is conserved up to the integer floors. Use it
    * when absolute rank MASS matters (mix-design weighting over
    * bipartite-ish source graphs, where sinks are the norm and the
    * leak compounds per iteration), not just the ordering. Costs one
    * extra nodes-sized aggregate per iteration (the sink-mass sum — a
    * scan of the rank frame, no new shuffle of the edge list); the
    * per-node share rides in on a broadcast one-row frame, keeping the
    * whole loop one lazy plan with no driver-side actions.
    *
    * Every cache the loop pins goes through `scope`: the two
    * loop-invariant frames (prepared edges, node set) and — with
    * `redistributeDangling` — each iteration's rank frame. Catalyst
    * does not dedup common subtrees, so uncached these frames —
    * including whatever join/distinct chain DERIVED the edge list —
    * would re-execute once per iteration reference (iters x for the
    * edges, iters+1 x for the nodes): the derivation, not the
    * iteration math, dominates (PLANS.md round 9, q125's trade graph).
    */
  def pageRank(edges: DataFrame, iters: Int = 5,
               redistributeDangling: Boolean = false,
               scope: CacheScope = new CacheScope): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val disk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val (deg, prepared, nodes0) = rankInputs(edges, scope)
    // BOTH caches are REPARTITIONED on their join key before persist:
    // a cached frame's hash partitioning is visible to the planner, so
    // every iteration's src-join reuses the edge side with NO exchange
    // (only the nodes-sized rank frame shuffles), and the final
    // node-join consumes the dst-keyed aggregate exchange directly —
    // the "pre-partition the edge list once" discipline this docstring
    // promises, made real. Per-iteration exchanges drop 3 -> 2
    // (rank-into-join + contribution agg; both nodes-sized).
    // With redistribution on, the cached node frame also carries the
    // loop-invariant sink flag (no out-edges), so the per-iteration
    // sink-mass sum is a filter over the rank frame — no extra join
    val nodes = scope.persist((if (!redistributeDangling) nodes0
      else nodes0
        .join(deg.select(col("src").as("node"), lit(true).as("_has_out")),
          Seq("node"), "left")
        .select(col("node"),
          not(coalesce(col("_has_out"), lit(false))).as("_sink")))
      .repartition(col("node")), disk)
    // one-row node count, loop-invariant and LAZY (an agg over the
    // cached node frame — no driver-side count() action at build time)
    val nTot = nodes.agg(count(lit(1)).cast(LongType).as("_n"))
    // The redistribution loop references the rank frame TWICE per
    // iteration (edge contributions + sink-mass sum). Unpersisted that
    // doubles the evaluated lineage every iteration — 2^iters scans of
    // the base — because Catalyst does not dedup common subtrees. A
    // LAZY persist per iteration keeps it linear: within one action
    // both branches hit the same InMemoryRelation (materialized once,
    // on first use — no eager count() that would move the loop's cost
    // out of the measured plan), and the scope releases them all.
    // The leak-mode loop stays unpersisted: single-reference lineage,
    // and the round-8 A/B measured the uncached chain faster there.
    var pr = nodes.withColumn("pr", lit(1000L))
    for (_ <- 1 to iters) {
      val contribs = contributions(prepared, pr)
      // left join from the FULL node set: a node with no in-edges gets
      // the base 150, instead of silently dropping out of the frame
      // (which would also zero its out-contributions next iteration)
      pr = if (!redistributeDangling)
        nodes.join(contribs, Seq("node"), "left")
          .select(col("node"),
            (lit(150L) + expr("(850 * coalesce(_s, 0L)) div 1000"))
              .cast(LongType).as("pr"))
      else {
        // per-node dangling share, exact integer: dm div N. A one-row
        // broadcast frame instead of a driver-side scalar keeps the
        // loop a single lazy plan (no eager job per iteration).
        val share = pr.filter(col("_sink"))
          .agg(coalesce(sum(col("pr")), lit(0L)).as("_dm"))
          .crossJoin(nTot)
          .select(expr("_dm div _n").as("_share"))
        scope.persist(nodes.join(contribs, Seq("node"), "left")
          .crossJoin(broadcast(share))
          .select(col("node"), col("_sink"),
            (lit(150L) + expr("(850 * (coalesce(_s, 0L) + _share)) div 1000"))
              .cast(LongType).as("pr")), disk)
      }
    }
    // NO per-iteration localCheckpoint, deliberately — measured A/B at
    // sf0.1/sf1 (PLANS.md round 8): the checkpointed loop is ~2.2x
    // slower at sf0.1 (7.8 vs 3.5 s) and still slower at sf1 — with a
    // FIXED iteration count the whole chain optimizes as one plan and
    // materializing per iteration only pays eager-job + storage cost.
    // The convergence-driven clusters() loop checkpoints because its
    // lineage is unbounded; this one's is bounded by `iters`.
    pr.select(col("node"), col("pr"))
  }

  /** Personalized PageRank — teleport mass concentrated on a SEED set
    * instead of spread uniformly, the TrustRank shape (Gyöngyi et al.,
    * VLDB'04): authority flows outward from trusted nodes, so a page
    * ranks high only if it is reachable from the seeds in few damped
    * hops. The crawl-curation use: seed the known-good host list,
    * rank the web graph, and let the score gate frontier priority /
    * mix weight — the principled replacement for a hand-kept
    * allowlist radius.
    *
    * Same all-integer milli-unit discipline as [[pageRank]], with the
    * uniform base swapped for a seed-concentrated one (`N` nodes, `S`
    * seeds; total teleport mass is preserved, so scores are
    * comparable with [[pageRank]]'s):
    *
    * `pr0(v) = (1000 * N) div S` if seed else 0
    * `pr'(v) = ((150 * N) div S if seed else 0)
    *           + (850 * sum over (u,v) of (pr(u) div outdeg(u))) div 1000`
    *
    * Non-seed nodes unreachable from the seed set stay at exactly 0 —
    * that is the feature, not a leak. Sinks drop their mass (the
    * [[pageRank]] ranking simplification). `seeds` must expose a
    * `node` column; seed ids absent from the edge list are ignored,
    * and at least one seed must intersect the graph (S counts the
    * intersection — an empty intersection nulls every rank out).
    *
    * Scale shape is [[pageRank]]'s: prepared edges cached
    * pre-partitioned on `src`, each iteration one src-keyed join +
    * one dst-keyed partial-combinable sum; the seed flag rides on the
    * cached node frame and (N, S) is a loop-invariant one-row
    * broadcast — no driver action anywhere in the loop. The two
    * loop-invariant caches (prepared edges, flagged node set) are
    * persisted through `scope`.
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
                           iters: Int = 5,
                           scope: CacheScope = new CacheScope): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val disk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val (_, prepared, nodes0) = rankInputs(edges, scope)
    val nodes = scope.persist(nodes0
      .join(seeds.select(col("node")).distinct()
        .withColumn("_s0", lit(true)), Seq("node"), "left")
      .select(col("node"), coalesce(col("_s0"), lit(false)).as("_seed"))
      .repartition(col("node")), disk)
    // loop-invariant one-row (N, S): an agg over the cached node frame
    val totals = nodes.agg(count(lit(1)).cast(LongType).as("_n"),
      sum(when(col("_seed"), lit(1L)).otherwise(lit(0L)))
        .cast(LongType).as("_ns"))
    var pr = nodes.crossJoin(broadcast(totals))
      .select(col("node"),
        when(col("_seed"), expr("(1000 * _n) div _ns")).otherwise(lit(0L))
          .cast(LongType).as("pr"))
    for (_ <- 1 to iters) {
      val contribs = contributions(prepared, pr)
      pr = nodes.crossJoin(broadcast(totals))
        .join(contribs, Seq("node"), "left")
        .select(col("node"),
          (when(col("_seed"), expr("(150 * _n) div _ns")).otherwise(lit(0L))
            + expr("(850 * coalesce(_s, 0L)) div 1000"))
            .cast(LongType).as("pr"))
    }
    pr.select(col("node"), col("pr"))
  }

  /** Undirected degree table for an edge list that already carries
    * both directions: `(node, degree)`.
    */
  def degrees(edges: DataFrame): DataFrame =
    edges.select(col("src").as("node"))
      .groupBy("node").agg(count(lit(1)).cast(LongType).as("degree"))

  /** Degree-distribution audit over a directed edge list: node counts
    * per power-of-two degree band, separately for out- and in-degree —
    * the power-law / hub-skew report that decides salting and cap
    * parameters BEFORE a graph workload runs (a band histogram is how
    * you see the 10x-degree supplier hub the scale sweeps keep
    * exercising). `2^floor(log2(deg))` via integer bit-length (no
    * libm); two bounded aggregates, output <= 64 rows per direction.
    */
  def degreeHistogram(edges: DataFrame): DataFrame = {
    def side(keyCol: String, direction: String): DataFrame =
      edges.groupBy(col(keyCol).as("_n"))
        .agg(count(lit(1)).cast(LongType).as("_deg"))
        .select(lit(direction).as("direction"),
          graft.ops.TextStats.pow2Band(col("_deg")).as("band_lo"))
        .groupBy("direction", "band_lo")
        .agg(count(lit(1)).cast(LongType).as("n_nodes"))
    side("src", "out").unionAll(side("dst", "in"))
  }

  /** HITS hubs-and-authorities over a DIRECTED edge list `(src, dst)`,
    * fixed iteration count, integer micro-units — the second classic
    * link-analysis ranking (Kleinberg 1999), and the one that fits
    * naturally BIPARTITE curation graphs (pages ↔ domains, documents ↔
    * sources, customers ↔ suppliers) where PageRank's single score
    * conflates the two roles: a good HUB points at good authorities, a
    * good AUTHORITY is pointed at by good hubs.
    *
    * Per iteration (h starts at 1e6 per node):
    *
    *   a_raw(v) = sum over (u,v) edges of h(u)
    *   a(v)     = a_raw(v) div max(1, (sum of a_raw) div 1e6)
    *   h_raw(u) = sum over (u,v) edges of a(v)
    *   h(u)     = h_raw(u) div max(1, (sum of h_raw) div 1e6)
    *
    * The normalizer divides the TOTAL down to micro-scale first and
    * then divides each node by it — every intermediate stays below
    * `n * 1e6` (no `1e6 * unbounded-sum` multiply), so the arithmetic
    * cannot overflow BIGINT until ~9e12 nodes; every step is an exact
    * integer op, order-independent and bit-identical across engines /
    * partitionings / retries. L1-style normalization (classic HITS uses
    * L2) keeps it integer-exact; the RANKING is what HITS is for, and
    * per-iteration normalization only rescales.
    *
    * Scale shape: the edge list is persisted twice, pre-partitioned on
    * each join key (`src` for the authority step, `dst` for the hub
    * step), so each iteration is two nodes-sized rank shuffles against
    * exchange-free edge joins + two map-side-combined sums. Score
    * frames stay SPARSE inside the loop (round-19): a node absent
    * from a raw-sum frame has score 0 and contributes exactly 0 to
    * the other role's next sum and to the normalization total, so the
    * per-step densifying `nodes` join is dropped and the zeros are
    * restored once in the final assembly. The two
    * totals are DRIVER-COLLECTED per iteration (one single-row job
    * over the just-persisted raw frame) and embedded as literals — a
    * deliberate exception to the broadcast-one-row-frame discipline
    * the PageRank loop uses: HITS references each raw frame twice PER
    * STEP (total + normalized scores) and steps nest, so the
    * one-row-frame form doubles the LOGICAL plan twice per iteration
    * and Catalyst analysis cost explodes ~4^iters (measured: 34.5 s
    * for 3 iterations at sf0.1, data-size-independent — pure
    * plan-time). The literal cuts the second reference; the plan
    * grows linearly and the collect costs one cached-frame scan.
    *
    * Output: `(node, hub, auth)` in micro-units. Nodes with no
    * out-edges have hub 0; no in-edges, auth 0. Every cache the loop
    * pins (the edge frames, the node set, and 2×iters raw-sum frames)
    * is persisted through `scope`.
    */
  def hits(edges: DataFrame, iters: Int = 3,
           scope: CacheScope = new CacheScope): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val disk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // the edge DERIVATION (often a join/distinct chain) is cached once
    // and the three loop-invariant frames build FROM that cache —
    // otherwise each of their materializations re-runs the derivation
    // (measured 3x the derivation cost in the base, the dominant term)
    val e = scope.persist(edges.select(col("src"), col("dst")), disk)
    val eSrc = scope.persist(e.repartition(col("src")), disk)
    val eDst = scope.persist(e.repartition(col("dst")), disk)
    val nodes = scope.persist(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .repartition(col("node")), disk)
    // one normalized step: raw-sum frame -> (node, outCol), SPARSE
    // (round-19 structural rework, guide §2.4): nodes absent from the
    // raw frame have raw = 0, hence score 0, hence contribute EXACTLY
    // nothing to the other role's next edge-join sum — so the
    // per-step `nodes.join(raw, left)` that densified every score
    // frame bought nothing inside the loop (2 nodes-sized joins per
    // iteration, plus their stages, removed; the round-18 before-plan
    // carried the q171 cost in exactly these per-step joins). The
    // FINAL assembly below restores the zeros once. The collect
    // materializes the persisted raw frame, so downstream reads hit
    // the cache.
    def step(rawIn: DataFrame, rawCol: String, outCol: String): DataFrame = {
      val raw = scope.persist(rawIn, disk)
      val tot = raw.agg(coalesce(sum(col(rawCol)), lit(0L)))
        .head.getLong(0)
      val norm = math.max(tot / 1000000L, 1L)
      // NO per-step localCheckpoint, deliberately — round-18 A/B
      // (same box, same weather window, 3-pass solo): checkpointing
      // each score frame to cap the formatted plan measured
      // q171 4.4 s -> 16.1 s in-suite (solo retry 3.1 -> 5.1 s). The
      // 2 x iters eager materialization jobs cost more than the
      // repeated analysis they save — the same verdict as the
      // pageRank round-8 A/B. Plan growth stays bounded by the fixed
      // iteration count; the literal normalizer (not a one-row
      // broadcast) is what keeps it from exploding 4^iters.
      raw.select(col("node"), expr(s"$rawCol div ${norm}L").as(outCol))
    }
    var h = nodes.withColumn("h", lit(1000000L))
    var a = nodes.withColumn("a", lit(0L))
    for (_ <- 1 to iters) {
      a = step(
        eSrc.join(h, eSrc("src") === h("node"))
          .select(col("dst").as("node"), col("h").as("_c"))
          .groupBy(col("node")).agg(sum(col("_c")).as("_a_raw")),
        "_a_raw", "a")
      h = step(
        eDst.join(a, eDst("dst") === a("node"))
          .select(col("src").as("node"), col("a").as("_c"))
          .groupBy(col("node")).agg(sum(col("_c")).as("_h_raw")),
        "_h_raw", "h")
    }
    // densify ONCE: nodes never reached by an in-edge (auth) or
    // without an out-edge (hub) re-enter here with the 0 the sparse
    // loop implied — the contract's "no out-edges -> hub 0; no
    // in-edges -> auth 0" unchanged
    nodes.join(h, Seq("node"), "left").join(a, Seq("node"), "left")
      .select(col("node"), coalesce(col("h"), lit(0L)).as("hub"),
        coalesce(col("a"), lit(0L)).as("auth"))
  }

  /** Connected components by ALTERNATING STARS (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) — the
    * two-phase min-label contraction whose round count is
    * O(log n) on ANY graph shape, the complement to label propagation
    * ([[graft.Dedup.clusters]]) whose round count is the graph
    * DIAMETER: on a path-shaped duplicate chain of length 1e6,
    * propagation needs 1e6 rounds, alternating stars ~20.
    *
    * large-star: every node's LARGER neighbors re-attach to the
    * minimum of its closed neighborhood; small-star (over the
    * canonical hi->lo edge list): every node's smaller neighbors and
    * the node itself attach to the neighborhood minimum. Each phase is
    * one grouped-min plus one equi-join on the node key — no windows,
    * no collects; the edge list strictly contracts toward a star
    * forest. Convergence = the round is a fixpoint, checked with a
    * BOUNDED aggregate (edge count + xxhash64 sum — driver-side only,
    * so engine-internal hashing is fine), never a full diff.
    *
    * Output: `(node, component)` for every node on an edge, component
    * = the minimum node id of its component (roots map to themselves).
    */
  def starComponents(edges: DataFrame, maxIters: Int = 20,
                     onConverged: (Int, Boolean) => Unit = (_, _) => ())
      : DataFrame = {
    def canonical(df: DataFrame) = df
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    def largeStar(cur: DataFrame): DataFrame = {
      val sym = cur.select(col("u").as("x"), col("v").as("y"))
        .unionAll(cur.select(col("v").as("x"), col("u").as("y")))
      val mins = sym.groupBy("x").agg(min("y").as("_my"))
        .select(col("x"), least(col("_my"), col("x")).as("m"))
      sym.join(mins, "x")
        .filter(col("y") > col("x"))
        .select(col("y").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v")).distinct()
    }
    def smallStar(cur: DataFrame): DataFrame = {
      // canonical u > v throughout, so the group minimum is over the
      // smaller endpoints and the emitted edges stay canonical
      val mins = cur.groupBy("u").agg(min("v").as("m"))
      val joined = cur.join(mins, "u")
      joined.select(col("v").as("u"), col("m").as("v"))
        .unionAll(joined.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v")).distinct()
    }
    // a truncated run's non-star-forest edge list would make the parent
    // join below emit several non-minimal labels per node: fail loudly
    val cur = graft.Iterate.untilStable("starComponents",
      canonical(edges.select(col(edges.columns(0)).as("u"),
        col(edges.columns(1)).as("v"))),
      maxIters, onConverged,
      Seq(count(lit(1)).cast(LongType).as("_n"),
        coalesce(sum(xxhash64(col("u"), col("v")).cast(DecimalType(38, 0))),
          lit(java.math.BigDecimal.ZERO)).as("_h")))(
      (cur, _, _) => smallStar(largeStar(cur)))(_ == _)
    // the converged edge list is a materialized checkpoint: the result
    // reads it twice (node set + parent join) without replay
    val nodes = cur.select(col("u").as("node"))
      .unionAll(cur.select(col("v").as("node"))).distinct()
    nodes
      .join(cur.select(col("u").as("node"), col("v").as("component")),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("component"), col("node"))
        .as("component"))
  }

  /** Exact per-node triangle counts over an edge list `(src, dst)`
    * read as an UNDIRECTED simple graph (direction dropped, self-loops
    * and duplicate edges removed) — the local clustering signal behind
    * link-farm detection (spam rings are triangle-dense; editorial
    * link neighborhoods are sparse) and community scaffolding.
    *
    * Degree-ordered orientation (Ortmann/Schank — the standard
    * distributed formulation): orient every undirected edge from its
    * lower endpoint to its higher under the total order
    * (degree, node). Each node's ORIENTED out-degree is then bounded
    * by O(sqrt(E)) regardless of raw hub degree — a celebrity node
    * with 1e7 followers contributes wedges only through its few
    * higher-ordered neighbors, so the wedge join cannot quadratically
    * explode on hubs (the failure mode of a naive neighbor self-join).
    * Every triangle {u,v,w} is enumerated EXACTLY once, as the wedge
    * at its lowest-ordered vertex closed by the oriented (v, w) edge.
    *
    * Shape at scale: two node-keyed joins to attach degrees, one
    * wedge self-join keyed on the lowest vertex (bounded per key by
    * the orientation), one pair-keyed closure join against the
    * oriented edge list, one final explode + count. All equi-joins,
    * no windows, no collects. Tie-breaking inside the order is the
    * node id itself — deterministic across engines.
    * The one internal cache, the oriented edge frame, is persisted
    * through `scope`.
    */
  def triangleCounts(edges: DataFrame,
                     scope: CacheScope = new CacheScope): DataFrame = {
    val und = undirected(edges, "src", "dst")
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).cast(LongType).as("deg"))
    val withDeg = und
      .join(deg.select(col("node").as("a"), col("deg").as("deg_a")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("deg_b")), "b")
    val aFirst = col("deg_a") < col("deg_b") ||
      (col("deg_a") === col("deg_b") && col("a") < col("b"))
    // LAZY persist (round-18): the oriented edge list is referenced
    // THREE times below (both wedge sides + the closure probe), and
    // Catalyst does not dedup common subtrees — uncached, the
    // distinct + degree-agg + double-join derivation re-executed per
    // reference (the q284 final plan carried 310 Exchange nodes).
    // Lazy, so no eager job.
    val o = scope.persist(withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("u"),
      when(aFirst, col("b")).otherwise(col("a")).as("v"),
      when(aFirst, col("deg_b")).otherwise(col("deg_a")).as("deg_v")),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val o1 = o.select(col("u"), col("v").as("v1"), col("deg_v").as("dv1"))
    val o2 = o.select(col("u"), col("v").as("v2"), col("deg_v").as("dv2"))
    val wedges = o1.join(o2, "u")
      .filter(col("dv1") < col("dv2") ||
        (col("dv1") === col("dv2") && col("v1") < col("v2")))
      .select(col("u"), col("v1"), col("v2"))
    // the closure edge (v1, v2) is oriented v1 -> v2 BY CONSTRUCTION:
    // the wedge filter and the orientation use the same total order
    val tri = wedges.join(
      o.select(col("u").as("v1"), col("v").as("v2")), Seq("v1", "v2"))
    tri.select(explode(array(col("u"), col("v1"), col("v2"))).as("node"))
      .groupBy("node")
      .agg(count(lit(1)).cast(LongType).as("n_tri"))
  }

  /** k-CORE decomposition (membership form): the maximal subgraph in
    * which every node has degree >= k, by iterative peeling — the
    * density screen link-spam / community pipelines run on host
    * graphs (a page farm's mutual-link cluster survives high k; thin
    * organic link chains do not). Returns the surviving nodes with
    * their WITHIN-CORE degree `(node, core_degree)`.
    *
    * Scale shape per round: one node-keyed count over the live edge
    * list + two semi-joins back onto it (both on node keys — the
    * co-partitioned loop discipline of [[pageRank]]), one
    * [[graft.Iterate.untilStable]] round per peel (convergence-driven
    * like [[starComponents]], not fixed-count). Convergence = the live
    * edge count stops shrinking or reaches 0 — peeling is monotone, so
    * an equal count IS the fixed point. Like starComponents, a truncated peel
    * would be silently wrong (nodes kept whose support already
    * left), so non-convergence within `maxIters` fails loudly.
    *
    * Round count is data-dependent (a bare chain at k=2 peels one
    * node per round from each end — O(n) rounds); size `maxIters` to
    * the graph family, and keep cascade-shaped graphs on
    * [[starComponents]]-style log-round operators instead.
    */
  def kCore(edges: DataFrame, k: Int, maxIters: Int = 30,
            onConverged: (Int, Boolean) => Unit = (_, _) => ())
      : DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val und = undirected(edges)
    val cur = graft.Iterate.untilStable(s"kCore(k=$k)",
      bothWays(und, "x", "y"),
      maxIters, onConverged, Seq(count(lit(1)).as("_n"))) { (cur, _, _) =>
      val alive = cur.groupBy("x").agg(count(lit(1)).as("_d"))
        .filter(col("_d") >= k).select(col("x").as("node"))
      cur
        .join(alive.select(col("node").as("x")), Seq("x"), "left_semi")
        .join(alive.select(col("node").as("y")), Seq("y"), "left_semi")
        .select("x", "y")
    }((prev, now) => prev == now || now("_n") == 0L)
    cur.groupBy(col("x").as("node"))
      .agg(count(lit(1)).cast(LongType).as("core_degree"))
  }

  /** Adamic–Adar link prediction over an undirected edge list: for
    * every NON-adjacent pair (u, v) sharing at least one neighbour,
    * `score(u, v) = sum over common neighbours w of 1 / ln(deg(w))`
    * — rare shared neighbours count more than hubs. The missing-edge
    * ranking behind "related hosts" / entity-resolution candidate
    * generation on link graphs.
    *
    * Integer-exact: each wedge contributes `floor(1e6 / ln(deg_w))`
    * micro-units (deg is an integer count, so the double `ln` and the
    * floor are bit-identical across engines), and the score is a SUM
    * OF LONGS — order-free, portable.
    *
    * Scale shape: wedge fan-out through a middle node w is deg(w)^2,
    * so hyper-hubs are EXCLUDED as middles by `maxDegree` (the df-cap
    * discipline of the inverted-index joins): a hub's per-wedge
    * contribution 1/ln(deg) is the smallest in the graph while its
    * wedge count is the largest — the cap removes the worst
    * cost/signal rows first. Scores are therefore a documented
    * LOWER BOUND when the cap binds; degrees themselves are computed
    * on the FULL graph before capping, so retained contributions are
    * exact. Output: global top `topK` by (score desc, u, v) —
    * a TakeOrderedAndProject, never a full sort.
    *
    * `minCommonNeighbors` (default 1 = exact mode) is the candidate
    * gate for the decade where wedge VOLUME is the cost concentration
    * (measured: 95.6 s / 11-12% of the whole sf1 suite on the
    * order-part graph; linear in replicas, so sf10 implies ~4e9
    * wedges through one exchange): pairs below the floor are dropped,
    * and — the part that actually cuts traffic — a wedge ENDPOINT
    * whose full-graph degree is below the floor is pruned from the
    * neighbor lists BEFORE pair generation, because
    * `common_neighbors(u, v) <= min(deg(u), deg(v))` makes reaching
    * the floor impossible for any pair it joins. That is the 2-hit
    * discipline of [[graft.Dedup.containmentPairs]] applied to
    * wedges; the endpoint prune is LOSSLESS w.r.t. the gated output
    * (it removes only pairs the post-aggregation floor would drop),
    * so an oracle replaying just `HAVING COUNT(*) >= floor` agrees
    * exactly. Singleton-common-neighbor pairs are the bulk of wedge
    * traffic in any real corpus and cannot reach a top-k score, so
    * the gate trades declared semantics (floor in the output
    * contract) for an exchange that carries only repeat pairs.
    */
  def adamicAdar(edges: DataFrame, maxDegree: Int = 64,
                 topK: Int = 100,
                 minCommonNeighbors: Int = 1): DataFrame = {
    require(minCommonNeighbors >= 1,
      s"minCommonNeighbors must be >= 1, got $minCommonNeighbors")
    val und = undirected(edges)
    val sym = bothWays(und, "w", "n")
    val deg = sym.groupBy("w").agg(count(lit(1)).cast(LongType).as("deg"))
    val midsAll = sym.join(
        deg.filter(col("deg") >= 2 && col("deg") <= maxDegree), Seq("w"))
      .withColumn("_c", floor(lit(1000000.0d) / log(col("deg").cast("double")))
        .cast(LongType))
    // endpoint prune (gated mode only): an endpoint n with
    // deg(n) < minCommonNeighbors cannot appear in any pair that
    // reaches the floor — drop it from the neighbor lists before the
    // in-task pair generation, so its wedges never reach the (u, v)
    // exchange at all. Phrased as a LEFT ANTI join against the
    // BELOW-floor node set (round-18): the below-floor complement is
    // the small side (deg-1 leaves at floor 2 — ~2% of nodes on the
    // order-part graph), so AQE broadcasts it; the round-17 left-semi
    // against the ABOVE-floor set shuffled the whole mids frame
    // against a 1.4M-row build side, which cost more than the
    // singleton wedges it saved (q304 measured ABOVE q271 once the
    // 32g heap un-spilled the aggregate).
    val mids =
      if (minCommonNeighbors <= 1) midsAll
      else midsAll.join(
        deg.filter(col("deg") < minCommonNeighbors)
          .select(col("w").as("n")), Seq("n"), "left_anti")
    // Wedge enumeration rides a BOUNDED per-middle neighbor list
    // (<= maxDegree entries by the cap above), pairs generated IN-TASK
    // from the sorted array (u < v by construction, <= maxDegree^2/2
    // structs per middle) — one aggregate replaces the w-keyed
    // self-join, whose build/probe shuffled the mids frame twice
    // (measured 1.7x on q271 solo at sf0.1). Map-side partial
    // aggregation then combines (u, v) wedge rows before the final
    // exchange — a ~0.07% reduction on real graphs (the round-17
    // profile: 99.93% of wedge pairs are singletons), which is why no
    // pre-aggregation scheme can cut this exchange: the count IS the
    // shuffle.
    val nbrs = mids.groupBy("w", "_c")
      .agg(sort_array(collect_list(col("n"))).as("_ns"))
    // round-19: the pair enumeration is the compiled kernel
    // [[graft.plans.SortedPairs]] — one tight JIT loop per array
    // instead of a NamedLambdaVariable binding + closure eval per
    // emitted struct plus a flattened array-of-arrays intermediate
    // (the round-18 spill audit: q271 is CPU-bound in exactly this
    // in-task generation — 0.17 GB shuffle read, zero spill).
    // Enumeration order is identical (row-major i < j over the sorted
    // array), so the downstream aggregate sees the same multiset in
    // the same order; PackedKernelsSpec pins kernel == HOF.
    def wedgesOf(src: DataFrame): DataFrame = src.select(col("_c"),
      explode(graft.plans.PairEnumExpressions.sortedPairs(col("_ns"))).as("_p"))
      .select(col("_p.u").as("u"), col("_p.v").as("v"), col("_c"))
    val scored = wedgesOf(nbrs).groupBy("u", "v").agg(
      sum("_c").as("aa_micro"),
      count(lit(1)).cast(LongType).as("common_neighbors"))
    val gated =
      if (minCommonNeighbors <= 1) scored
      else scored.filter(col("common_neighbors") >= minCommonNeighbors)
    gated
      .join(und.select(col("a").as("u"), col("b").as("v")),
        Seq("u", "v"), "left_anti")
      .orderBy(col("aa_micro").desc, col("u"), col("v"))
      .limit(topK)
  }

  /** SAMPLED Adamic–Adar — the 100 TB escape hatch the exact
    * operator's linear wedge model cannot provide: keep each wedge
    * `(w, u, v)` with deterministic probability `1 / sampleOneIn` and
    * scale every retained contribution by `sampleOneIn`, giving the
    * Horvitz–Thompson estimate
    * `aa_micro_est = sampleOneIn * sum of kept floor(1e6/ln(deg_w))`.
    * The exchange — THE cost at scale (round-17 profile: 99.93% of
    * wedge pairs are singletons, so the count IS the shuffle) —
    * shrinks by exactly `sampleOneIn`, because the keep decision is
    * evaluated in-task on the generated wedge BEFORE it is shuffled.
    *
    * The draw is md5-slot deterministic and CROSS-ENGINE replayable:
    * wedge `(w, u, v)` keeps iff `(h(w) + h(u) + h(v)) % sampleOneIn
    * == 0` with `h = `[[graft.Pipeline.wordHash32]] (first 8 md5 hex
    * digits as a long). One md5 per EDGE ENDPOINT (computed on the
    * ~|E| mids rows and carried through the neighbor lists), never
    * one per wedge — the md5-count-is-the-kernel-cost discipline; the
    * per-wedge decision is three adds and a mod on already-hashed
    * values. Hash sums of independent uniform 32-bit values are
    * uniform mod small `sampleOneIn`, and wedges sharing a middle or
    * an endpoint still differ in the third hash, so inclusions are
    * pairwise near-independent.
    *
    * Estimator quality: unbiased for every pair
    * (`E[aa_micro_est] = aa_micro`); variance per pair is
    * `(sampleOneIn - 1) * sum of c_i^2 <= (sampleOneIn - 1) *
    * aa_micro * max_i c_i` with `c_i <= floor(1e6/ln 2)` — relative
    * standard error shrinks as `1/sqrt(common_neighbors)`, so the
    * top-k (many-common-neighbor) pairs the ranking exists to find
    * are exactly the well-estimated ones; singletons are noisy and
    * that is the accepted trade. `sampleOneIn = 1` keeps every wedge:
    * output equals [[adamicAdar]] exactly (OpsSpec pins both).
    *
    * Output: global top `topK` by `(aa_micro_est desc, u, v)` over
    * NON-adjacent pairs, columns `(u, v, aa_micro_est,
    * common_neighbors_est)` — the estimated-count column is the
    * sample count scaled by `sampleOneIn`, NOT an exact count.
    */
  def adamicAdarSampled(edges: DataFrame, maxDegree: Int = 64,
                        topK: Int = 100,
                        sampleOneIn: Int = 10): DataFrame = {
    require(sampleOneIn >= 1, s"sampleOneIn must be >= 1, got $sampleOneIn")
    val und = undirected(edges)
    val sym = bothWays(und, "w", "n")
    val deg = sym.groupBy("w").agg(count(lit(1)).cast(LongType).as("deg"))
    val mids = sym.join(
        deg.filter(col("deg") >= 2 && col("deg") <= maxDegree), Seq("w"))
      .withColumn("_c", floor(lit(1000000.0d) / log(col("deg").cast("double")))
        .cast(LongType))
      .withColumn("_hn", graft.Pipeline.wordHash32(col("n").cast("string")))
    val nbrs = mids.groupBy("w", "_c")
      .agg(sort_array(collect_list(struct(col("n"), col("_hn")))).as("_ns"))
      .withColumn("_hw", graft.Pipeline.wordHash32(col("w").cast("string")))
    // round-19: compiled pair kernel over the (n, _hn) struct array —
    // same i < j enumeration the HOF form produced (the kernel emits
    // struct(u = elem_i, v = elem_j); the fields are projected out
    // below), one JIT loop per array instead of a closure per pair.
    val kept = nbrs.select(col("_c"), col("_hw"),
        explode(graft.plans.PairEnumExpressions.sortedPairs(col("_ns"))).as("_p"))
      .filter(pmod(col("_hw") + col("_p.u._hn") + col("_p.v._hn"),
        lit(sampleOneIn.toLong)) === 0)
      .select(col("_p.u.n").as("u"), col("_p.v.n").as("v"), col("_c"))
    kept.groupBy("u", "v").agg(
        (sum("_c") * sampleOneIn).as("aa_micro_est"),
        (count(lit(1)) * sampleOneIn).cast(LongType).as("common_neighbors_est"))
      .join(und.select(col("a").as("u"), col("b").as("v")),
        Seq("u", "v"), "left_anti")
      .orderBy(col("aa_micro_est").desc, col("u"), col("v"))
      .limit(topK)
  }

  /** Newman modularity of a GIVEN node partition — the quality score
    * that turns "we labeled communities" into a number: for each
    * community c, `Q_c = e_c/m - (d_c/2m)^2` (fraction of edges inside
    * c minus the fraction a degree-preserving random graph would put
    * there); `Q = sum_c Q_c`. The audit companion to the community
    * PRODUCERS ([[starComponents]], label propagation): score a
    * labeling, compare two labelings, or track drift as the graph
    * grows.
    *
    * ALL-INTEGER: per-community contribution
    * `(4*m*e_c - d_c^2) * 1e6 div (4*m^2)` in DECIMAL(38,0)
    * (d_c <= 2m and m is bounded by the edge count, so 38 digits hold
    * to ~1e9 edges; ppm floor, order-free). Nodes in `communities`
    * with no edges contribute degree 0 (harmless); edge endpoints
    * MISSING from `communities` fail loudly — a silent drop would
    * misreport e_c and d_c.
    *
    * Scale shape: one distinct over the edge list, two node-keyed
    * equi-joins onto the labeling (co-partitioned on the node key),
    * then bounded per-community aggregates — nothing corpus-squared,
    * no windows.
    *
    * Input: `edges` (2 cols, undirected; dups/self-loops dropped),
    * `communities` (nodeCol, communityCol). Output: one row per
    * community — `community, n_nodes, internal_edges, degree_sum,
    * contribution_ppm` — plus exact global `m` replicated for the
    * reader's Q = sum(contribution_ppm). The internal labeled-edge
    * cache (three consumers: the m+guard aggregate, internal-edge
    * counts, degree sums) is persisted through `scope`.
    */
  def modularity(edges: DataFrame, communities: DataFrame,
                 nodeCol: String, communityCol: String,
                 scope: CacheScope = new CacheScope): DataFrame = {
    val und = undirected(edges)
    val labels = communities
      .select(col(nodeCol).as("_node"), col(communityCol).as("community"))
    // Label both endpoints; an unlabeled endpoint surfaces as a NULL
    // community and trips the loud guard below (a silent drop would
    // misreport e_c and d_c). One bounded action covers m + the guard.
    val labeled = scope.persist(und
      .join(labels.select(col("_node").as("a"),
        col("community").as("_ca")), Seq("a"), "left")
      .join(labels.select(col("_node").as("b"),
        col("community").as("_cb")), Seq("b"), "left"),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val head = labeled.agg(
      count(lit(1)).as("_m"),
      sum(when(col("_ca").isNull || col("_cb").isNull, 1L)
        .otherwise(0L)).as("_missing")).head()
    val m = head.getLong(0)
    val missing = head.getLong(1)
    require(m > 0, "modularity needs at least one non-loop edge")
    require(missing == 0,
      s"modularity: $missing edge endpoint(s) missing from communities")
    val internal = labeled.filter(col("_ca") === col("_cb"))
      .groupBy(col("_ca").as("community"))
      .agg(count(lit(1)).cast(LongType).as("internal_edges"))
    val deg = labeled
      .select(col("a").as("_node"), col("_ca").as("community"))
      .unionAll(labeled.select(col("b").as("_node"),
        col("_cb").as("community")))
      .groupBy("_node", "community")
      .agg(count(lit(1)).cast(LongType).as("_deg"))
    val perC = deg.groupBy("community").agg(
      count(lit(1)).cast(LongType).as("n_nodes"),
      sum("_deg").cast(LongType).as("degree_sum"))
    perC.join(internal, Seq("community"), "left")
      .withColumn("internal_edges",
        coalesce(col("internal_edges"), lit(0L)))
      .withColumn("m_edges", lit(m))
      .withColumn("contribution_ppm", expr(
        "CAST((4 * CAST(m_edges AS DECIMAL(38,0)) * internal_edges" +
          " - CAST(degree_sum AS DECIMAL(38,0)) * degree_sum) * 1000000" +
          " div (4 * CAST(m_edges AS DECIMAL(38,0)) * m_edges)" +
          " AS BIGINT)"))
      .select("community", "n_nodes", "internal_edges", "degree_sum",
        "m_edges", "contribution_ppm")
  }

  /** Deterministic random-walk corpus (DeepWalk/node2vec input): one
    * length-`steps` walk per start node over the SYMMETRIZED edge
    * list, where the "random" neighbor at step t of walk w is
    * `argmin over neighbors n of md5(w || '_' || t || '_' || n)` —
    * a fresh uniform draw per (walk, step) that every engine, retry,
    * and re-run replays bit-identically (the md5-slot determinism
    * discipline). Walks stop early only at isolated nodes (the
    * symmetric neighbor set is never empty otherwise).
    *
    * Scale shape: each step is ONE node-keyed equi-join (frontier
    * onto the adjacency, both keyed on the current node) followed by
    * a per-walk `min(struct(hash, neighbor))` — a partial-combinable
    * aggregate (map-side combine), never a sort, with the neighbor id
    * as tiebreak so the choice is total even under hash collisions.
    * Volume per step is the sum of frontier degrees. `steps` is small
    * and fixed — the output is a training corpus, not a fixed point.
    *
    * Output: `(walk_id, step, node)` long format, step 0 = the start.
    * The adjacency cache (`steps` consumers — one join per step) is
    * persisted through `scope`.
    */
  def deterministicWalks(edges: DataFrame, steps: Int,
                         scope: CacheScope = new CacheScope): DataFrame = {
    require(steps >= 1, s"steps must be >= 1, got $steps")
    val und = undirected(edges)
    val adj = scope.persist(bothWays(und, "_cur", "_nbr"),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val starts = adj.select(col("_cur").as("walk_id")).distinct()
      .withColumn("step", lit(0L))
      .withColumn("node", col("walk_id"))
    // checkpointed hops: each feeds the next join AND the final union
    graft.Iterate.times(steps, starts) { (frontier, t) =>
      frontier.select(col("walk_id"), col("node").as("_cur"))
        .join(adj, Seq("_cur"))
        .withColumn("_h", graft.Pipeline.wordHash32(
          concat_ws("_", col("walk_id"), lit(t), col("_nbr"))))
        .groupBy("walk_id")
        .agg(min(struct(col("_h"), col("_nbr"))).as("_pick"))
        .select(col("walk_id"), lit(t.toLong).as("step"),
          col("_pick._nbr").as("node"))
    }.reduce(_ unionAll _)
  }

  /** Luby's maximal independent set with DETERMINISTIC md5 draws —
    * the log-round symmetry breaker behind distributed scheduling and
    * diversity selection ("pick a maximal set of mutually-non-similar
    * documents from a similarity graph" = MIS on that graph). Each
    * round every LIVE node draws `key = hash32(node, round) * 2^32 +
    * node` (a total order — node id breaks hash ties) and enters the
    * MIS iff its key beats every live neighbor's; winners and their
    * neighbors leave the graph. Expected O(log E) rounds (Luby 1986);
    * the md5 draws make the run bit-replayable across engines, runs,
    * and retries.
    *
    * Shape at scale per round: the live symmetric edge list (the
    * checkpointed full list semi-joined twice onto the live nodes),
    * one node-keyed equi-join of the draws onto it + a
    * partial-combinable min aggregate, and one node-keyed join that
    * settles every node's fate — the co-partitioned loop discipline of
    * [[pageRank]], one [[graft.Iterate.untilStable]] round per Luby
    * round, whose state is the node table. A truncated run would emit an
    * INDEPENDENT set that is not MAXIMAL (silently wrong for the
    * diversity use), so non-convergence within `maxIters` fails
    * loudly — the [[starComponents]] discipline.
    *
    * Node ids must be non-negative and < 2^40 for the key packing
    * (loudly enforced — the 2^32 bound failed loud on the sf100
    * replica ids, which is the guard doing its job; 2^40 covers
    * thousand-replica id spaces and the packed key still fits
    * DECIMAL(38,0)/HUGEINT). Returns `(node, round)` — MIS members with
    * the round that admitted them.
    */
  def maximalIndependentSet(edges: DataFrame, maxIters: Int = 25,
      onConverged: (Int, Boolean) => Unit = (_, _) => ()): DataFrame = {
    val und = undirected(edges)
    def keyOf(node: org.apache.spark.sql.Column, round: Int)
        : org.apache.spark.sql.Column = {
      val ok = when(node >= 0 && node < lit(1099511627776L), node)
        .otherwise(raise_error(lit(
          "maximalIndependentSet: node ids must be in [0, 2^40)")))
      graft.Pipeline.wordHash32(concat_ws("_", lit("mis"), node,
        lit(round))).cast("decimal(38,0)") * lit(1099511627776L) + ok
    }
    // state: one row per node still in play, `round` null while live
    // and the admitting round once a member; removed nodes drop out
    val init = und.select(col("a").as("x")).unionAll(und.select(col("b").as("x")))
      .distinct().select(col("x"), lit(null).cast(LongType).as("round"))
    graft.Iterate.untilStable("maximalIndependentSet", init, maxIters, onConverged,
        Seq(count(when(col("round").isNull, 1)).as("_live")),
        inputs = Seq(bothWays(und, "x", "y"))) { (state, r, inputs) =>
      val live = state.filter(col("round").isNull).select("x")
      val edges = inputs.head
        .join(live, Seq("x"), "left_semi")
        .join(live.select(col("x").as("y")), Seq("y"), "left_semi")
      val draws = live.select(col("x"), keyOf(col("x"), r).as("_k"))
      val nbrMin = edges
        .join(draws.select(col("x").as("y"), col("_k").as("_nk")), "y")
        .groupBy("x").agg(min("_nk").as("_mn"))
      val winners = draws.join(nbrMin, Seq("x"), "left")
        .filter(col("_mn").isNull || col("_k") < col("_mn")).select("x")
      // winners join the set; their neighbours (never winners: the keys
      // are a total order) leave the graph
      val fate = winners.select(col("x"), lit(true).as("_won"))
        .unionAll(edges.join(winners.select(col("x").as("y")), "y")
          .select(col("x"), lit(false).as("_won")).distinct())
      state.join(fate, Seq("x"), "left")
        .filter(col("_won").isNull || col("_won"))
        .select(col("x"), when(col("_won"), lit(r.toLong)).otherwise(col("round")).as("round"))
    }((_, now) => now("_live") == 0L)
      .filter(col("round").isNotNull).select(col("x").as("node"), col("round"))
  }

  /** Small-range (linear-counting) correction table for [[hyperBall]]
    * at m = 2^p: `lcTable(p)(V-1) = floor(m * ln(m / V))` for V empty
    * registers, V = 1..m — generated ONCE driver-side with
    * StrictMath.log (bit-reproducible across JVMs, unlike
    * platform-intrinsic Math.log) and interpolated as LITERALS into
    * both the plan and the oracle SQL (the Benford-table pattern), so
    * no RUNTIME `ln` whose libm floor could differ between engines
    * ever executes; whatever floor the driver computes is by
    * construction the floor both engines compare against. p = 6
    * reproduces the round-15 hand-written 64-entry table verbatim
    * (frozen as a spec assertion). Standard HLL policy applies the
    * correction when V > 0 and the raw estimate < 5m/2 — both tests
    * on exact integers, so the switch is engine-identical.
    */
  private[graft] def lcTable(p: Int): Seq[Long] = {
    require(p >= 4 && p <= 12, s"p must be in [4, 12], got $p")
    val m = 1L << p
    (1L to m).map(v =>
      math.floor(m.toDouble * StrictMath.log(m.toDouble / v.toDouble))
        .toLong)
  }

  /** The p = 6 table, kept named because the q286/q288/q301 oracle
    * builders interpolate it into their SQL. */
  private[graft] val LcTable: Seq[Long] = lcTable(6)

  /** The HyperBall round loop shared by [[hyperBall]] and
    * [[harmonicCentrality]]: per-node ball-size estimates at every
    * radius 0..`radius` as rows `(node, radius, est)` — registers
    * merged one hop per round, estimates through the integer RAW
    * estimator with [[LcTable]]'s linear-counting branch.
    *
    * Round-18 shape change (semantics identical, measured on the
    * row form first): the register table travels PACKED — one
    * `array<int>` of length m per node (index = bucket, value = max
    * rho, 0 = absent) instead of one row per (node, bucket). Per
    * round the hop join then moves ONE m-byte buffer per directed
    * edge (vs up to m rows at saturation), the merge is a node-keyed
    * [[graft.plans.RegisterMax]] elementwise max (one agg-map entry
    * per node instead of m — the spill-bound-aggregate lever), and
    * the per-round estimate drops its `groupBy(node)` EXCHANGE
    * entirely: [[graft.plans.HllRegisterEstimate]] reads the RAW+LC
    * estimate off the packed array as a scalar projection, exact
    * integer arithmetic unchanged. Elementwise max is the same
    * per-bucket MAX regardless of row order/partitioning, so the
    * registers — and every estimate — are bit-identical to the row
    * form the oracle replays.
    */
  private[graft] def hyperBallProfile(edges: DataFrame, radius: Int,
                                      p: Int): DataFrame = {
    require(radius >= 1 && radius <= 16,
      s"radius must be in [1, 16], got $radius")
    require(p >= 4 && p <= 12,
      s"p must be in [4, 12] ([[lcTable]]'s generated range; register " +
        s"cost is nodes * 2^p BYTES per round), got $p")
    val m = 1 << p
    val und = undirected(edges)
    val sym = bothWays(und, "x", "y")
      .localCheckpoint()
    val nodes = sym.select(col("x").as("node")).distinct()
    val lc = lcTable(p)
    // pack the single initial register (bucket, rho) into its slot;
    // rho >= 1 by hllCells' construction, so 0 marks an absent bucket
    val regs0 = Sketches.hllCells(nodes, Seq(col("node")), "node", p)
      .select(col("node"), expr(
        s"transform(sequence(0, ${m - 1}), i -> " +
          "IF(i = CAST(bucket AS INT), CAST(_rho AS INT), 0))").as("_rs"))
      .localCheckpoint()
    graft.Iterate.times(radius, regs0) { (regs, _) =>
      regs.unionAll(sym
          .join(regs.select(col("node").as("y"), col("_rs")), "y")
          .select(col("x").as("node"), col("_rs")))
        .groupBy("node")
        .agg(graft.plans.HllRegisterExpressions.registerMax(col("_rs"), m)
          .as("_rs"))
    }.zipWithIndex.map { case (regs, t) =>
      regs.select(col("node"), lit(t.toLong).as("radius"),
        graft.plans.HllRegisterExpressions.hllRegisterEst(col("_rs"), p, lc)
          .as("est"))
    }.reduce(_ unionAll _)
  }

  /** HyperBall (Boldi–Vigna 2013): the neighborhood function
    * `N(t) = sum over nodes of |ball(node, t)|` estimated by one
    * deterministic HLL register table per node, merged outward one
    * hop per round — reachability growth, effective-diameter and
    * mean-distance audits on graphs where exact all-pairs BFS is
    * quadratic fantasy. Registers are [[Sketches.hllCells]]'
    * md5-derived (bucket, rho) rows, so every engine/run/retry grows
    * the SAME balls; merging is per-bucket MAX (exactly the register
    * table of the union — the [[Sketches.hllMerge]] argument), so
    * the REGISTERS are monotone by construction (the estimate is
    * monotone within each estimator branch; a one-off wobble is
    * possible exactly at the linear-counting/raw switch, identical in
    * both engines). Estimates are
    * [[Sketches.hllEstimate]]'s integer RAW estimator WITH the
    * standard linear-counting small-range branch — the `ln` its
    * docstring rejects (libm floors vary by engine) enters only as
    * [[lcTable]]'s per-p driver-side `StrictMath.log` literals
    * (2^p entries, generated once for any p in [4, 12] and inlined
    * identically into both engines — q302 runs p=8 with a 256-entry
    * table), and both branch tests are exact-integer comparisons. The
    * raw-only form put N(0) at ~45 per singleton node (measured at
    * sf0.01: 22,640 for 500 nodes); with the branch N(0) counts
    * nodes almost exactly.
    *
    * Shape at scale per round: registers flow over edges as ONE
    * node-keyed equi-join (E * m rows — the honest HyperBall cost)
    * into a partial-combinable (node, bucket) MAX, localCheckpoint
    * per round; per-round totals are bounded aggregates. Fixed
    * `radius` — the output declares the horizon, no convergence
    * claim.
    *
    * Output: rows `(radius, reach_est, avg_distance_milli)` for
    * t = 0..radius — `reach_est` the summed ball-size estimate,
    * `avg_distance_milli` (replicated) the mean distance over pairs
    * discovered within the horizon:
    * `1000 * sum t*(N(t)-N(t-1)) div (N(radius)-N(0))`.
    */
  def hyperBall(edges: DataFrame, radius: Int = 6, p: Int = 6)
      : DataFrame = {
    val prof = hyperBallProfile(edges, radius, p)
      .groupBy("radius")
      .agg(coalesce(sum("est"), lit(0L)).cast(LongType).as("reach_est"))
    // bounded (radius+1)-row panel; registers only grow under MAX, so
    // the profile is monotone up to the documented estimator-branch
    // wobble
    val panel = prof.orderBy("radius").collect()
      .map(r => (r.getLong(0), BigInt(r.getLong(1))))
    // an edgeless input has no nodes, hence no profile rows: the
    // neighborhood function of the empty graph is empty, not a crash
    // (panel.last threw on this before round 16)
    if (panel.isEmpty)
      return prof.withColumn("avg_distance_milli", lit(0L))
        .select("radius", "reach_est", "avg_distance_milli")
    val gained = panel.sliding(2).collect {
      case Array((_, prev), (t, cur)) => BigInt(t) * (cur - prev)
    }.sum
    val avgMilli = (gained * 1000 /
      (panel.last._2 - panel.head._2).max(BigInt(1))).toLong
    prof.withColumn("avg_distance_milli", lit(avgMilli))
      .select("radius", "reach_est", "avg_distance_milli")
  }

  /** Harmonic centrality, HyperBall-estimated (Boldi–Vigna's own
    * headline application): per node
    * `sum over t in 1..radius of (|ball(t)| - |ball(t-1)|) / t` —
    * every node discovered at distance t contributes 1/t, so the
    * score rewards being CLOSE to many nodes and needs no
    * connectivity assumption (unreachable mass simply contributes 0,
    * where closeness centrality degenerates). Truncated at `radius`
    * (the output declares its horizon) and integer-exact in
    * milli-units: per-hop terms are `(gain * 1000) div t`, summed
    * order-free.
    *
    * Shape at scale: [[hyperBallProfile]]'s register rounds, then ONE
    * window over the per-node (radius+1)-row partitions (bounded per
    * node by construction) and a global top-k via
    * TakeOrderedAndProject. Output: the `topK` rows
    * `(node, harmonic_milli)` by (score desc, node).
    */
  def harmonicCentrality(edges: DataFrame, radius: Int = 6, p: Int = 6,
                         topK: Int = 100): DataFrame = {
    require(topK >= 1, s"topK must be positive, got $topK")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("node").orderBy("radius")
    hyperBallProfile(edges, radius, p)
      .withColumn("_gain", col("est") - lag("est", 1).over(w))
      .filter(col("_gain").isNotNull)
      .withColumn("_term", expr("(_gain * 1000) div radius"))
      .groupBy("node")
      .agg(sum("_term").cast(LongType).as("harmonic_milli"))
      .orderBy(col("harmonic_milli").desc, col("node"))
      .limit(topK)
  }

  /** Effective diameter (the HyperBall headline statistic): the
    * smallest radius t at which the estimated neighborhood function
    * reaches `permille`/1000 of its value at the horizon —
    * "90% of reachable pairs are within d hops", the number quoted
    * for every web/social graph, without all-pairs BFS. Computed on
    * [[hyperBallProfile]]'s bounded (radius+1)-row panel with exact
    * integer threshold math (`N(t) * 1000 >= N(radius) * permille`).
    * If the profile is still growing at the horizon the value is a
    * LOWER bound — `saturated_ppm` (N(radius-1)/N(radius)) is
    * emitted so the reader can see how close the horizon is to the
    * fixed point. Output one row: `(effective_diameter, n_radius,
    * reach_final, saturated_ppm)`.
    */
  def effectiveDiameter(edges: DataFrame, radius: Int = 6,
                        permille: Int = 900, p: Int = 6): DataFrame = {
    require(permille >= 1 && permille <= 1000,
      s"permille must be in [1, 1000], got $permille")
    val prof = hyperBallProfile(edges, radius, p)
      .groupBy("radius")
      .agg(coalesce(sum("est"), lit(0L)).cast(LongType).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy().orderBy(col("radius"))
    // (radius+1)-row panel: the unpartitioned windows are a non-issue
    prof
      .withColumn("_final", expr("max(n) OVER ()"))
      .withColumn("_prev", lag("n", 1).over(w))
      .withColumn("_hit",
        when(col("n") * 1000 >= col("_final") * permille, col("radius")))
      .agg(min("_hit").cast(LongType).as("effective_diameter"),
        max("radius").cast(LongType).as("n_radius"),
        max("_final").cast(LongType).as("reach_final"),
        expr("CAST(max(CASE WHEN radius = " + radius +
          " THEN _prev END) * 1000000 div greatest(max(_final), 1)" +
          " AS BIGINT)").as("saturated_ppm"))
  }

  /** Degree assortativity (Newman 2002): the Pearson correlation of
    * endpoint degrees over the DIRECTED pair list of an undirected
    * graph (each edge contributes (deg_u, deg_v) and (deg_v, deg_u))
    * — do hubs link hubs (>0, social-graph shape) or leaves (<0,
    * hub-and-spoke / star shape)? The one-number structural audit
    * next to [[clusteringCoefficient]] and [[modularity]].
    *
    * ALL-INTEGER, the [[Stats.spearmanCorr]] denominator discipline:
    * moment sums in DECIMAL(38,0), the final ratio on the collected
    * ONE-ROW panel with PER-FACTOR floor-sqrt
    * ([[graft.Similarity.isqrtPortable]]; sub-ppm slack at corpus
    * scale, shared exactly with the oracle's corrected sqrt window).
    * Shape: one degree aggregate + two node-keyed joins + one
    * six-sum aggregate. Output: `(n_pairs, assortativity_ppm)`.
    */
  def assortativity(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    val und = undirected(edges)
    val sym = bothWays(und, "x", "y")
    val deg = sym.groupBy(col("x").as("node"))
      .agg(count(lit(1)).cast(LongType).as("deg"))
    val pairs = sym
      .join(deg.select(col("node").as("x"), col("deg").as("_dx")), "x")
      .join(deg.select(col("node").as("y"), col("deg").as("_dy")), "y")
    import spark.implicits._
    Seq(Stats.pearsonPpm(pairs, "_dx", "_dy"))
      .toDF("n_pairs", "assortativity_ppm")
  }

  /** Local clustering coefficient per node — `2 * triangles /
    * (deg * (deg - 1))` in ppm — plus the inputs (`degree`, `n_tri`):
    * the neighborhood-density audit that separates clique-like link
    * farms (coeff -> 1e6) from chain/star organic linkage (coeff ->
    * 0), read alongside [[kCore]]'s density screen and
    * [[modularity]]'s labeling score. Degree-1 nodes have no defined
    * coefficient and report 0 over their (degree, n_tri) facts.
    *
    * Shape at scale: [[triangleCounts]]'s degree-oriented enumeration
    * (each triangle found exactly once from its lowest-degree corner
    * — wedge volume is sum of SQUARED ORIENTED degrees, the bound
    * that keeps hub wedges from exploding) plus one node-keyed degree
    * aggregate and a left join back; all integer, DECIMAL(38,0) on
    * the ppm product so 100x-degree hubs cannot overflow. Both internal
    * caches (its `und` frame and [[triangleCounts]]' oriented edge
    * frame) are persisted through `scope`.
    */
  def clusteringCoefficient(edges: DataFrame,
                            scope: CacheScope = new CacheScope): DataFrame = {
    // lazy persist: `und` feeds both the degree aggregate here and
    // [[triangleCounts]]' whole derivation — uncached it re-executes
    // the distinct per reference (see the triangleCounts note)
    val und = scope.persist(undirected(edges),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).cast(LongType).as("degree"))
    val tri = triangleCounts(
      und.select(col("a").as("src"), col("b").as("dst")), scope)
    deg.join(tri, Seq("node"), "left")
      .withColumn("n_tri", coalesce(col("n_tri"), lit(0L)))
      .withColumn("coeff_ppm", expr(
        "CASE WHEN degree >= 2 THEN CAST(" +
          "CAST(n_tri AS DECIMAL(38,0)) * 2000000" +
          " div (degree * CAST(degree - 1 AS DECIMAL(38,0))) AS BIGINT)" +
          " ELSE 0L END"))
  }
}
