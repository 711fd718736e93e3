package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.VectorExpressions

/** Specs for the custom Catalyst surface: the native cosine_sim
  * expression (eval + codegen paths) and the PrefixLevelPruning
  * optimizer rule (registered via GraftExtensions in the test session).
  */
class PlansSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("cosine_sim is bit-identical to the built-in fold composition") {
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), Pipeline.asDouble(col("embedding")).as("v"))
    val paired = e.as("x").join(e.as("y"), col("x.vec_id") === col("y.vec_id") - 250)
    val both = paired.select(
      VectorExpressions.cosineSim(col("x.v"), col("y.v")).as("native"),
      Pipeline.cosine(col("x.v"), col("y.v")).as("builtin"))
    val rows = both.collect()
    assert(rows.length == 250)
    rows.foreach { r =>
      // exact bit equality, not tolerance — both accumulate in index order
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
             java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("decontaminate derives each corpus's signatures once (plan cache)") {
    val docs = Tables.documents(spark, sf)
    val train = docs.filter(col("source") =!= "src0")
    val test0 = docs.filter(col("source") === "src0")
    val scope = new CacheScope
    val out = Dedup.decontaminate(train, test0, "doc_id", "text", threshold = 0.5,
      scope = scope)
    try {
      val cached = out.queryExecution.withCachedData
      // each corpus's signature frame feeds the LSH blocking AND the
      // exact-verify join-back: all four references must resolve to the
      // two cache entries, so the shingle+minhash pass runs once per
      // corpus instead of twice
      val imrs = cached.collect {
        case i: org.apache.spark.sql.execution.columnar.InMemoryRelation => i
      }
      assert(imrs.size == 4,
        s"expected 4 InMemoryRelation references (2 corpora x 2 consumers), got ${imrs.size}")
      // and the shingle derivation survives ONLY inside the cached
      // subtrees (InMemoryRelation is a leaf — collect doesn't descend)
      val shingleOutside = cached.collect {
        case p if p.expressions.exists(_.exists {
          case _: graft.plans.WordShingles => true
          case _ => false
        }) => p
      }
      assert(shingleOutside.isEmpty,
        s"shingle derivation re-appears outside the cache: $shingleOutside")
    } finally scope.release()
  }

  test("rhp_bucket is NULL-loud on degenerate vectors") {
    // short vector and null element must NOT silently bucket on a
    // prefix — in decontamination a quiet wrong bucket is silently
    // missed contamination
    val shortVec = spark.range(1)
      .select(array(lit(1.0), lit(2.0)).as("v"))
      .select(VectorExpressions.rhpBucket(col("v"), 64, 4).as("b")).head()
    assert(shortVec.isNullAt(0), "short vector must yield NULL bucket")
    val withNullElem = spark.range(1)
      .select(array(lit(1.0), lit(null).cast("double")).as("v"))
      .select(VectorExpressions.rhpBucket(col("v"), 2, 2).as("b")).head()
    assert(withNullElem.isNullAt(0), "null element must yield NULL bucket")
    val ok = spark.range(1)
      .select(array((1 to 64).map(i => lit(i.toDouble)): _*).as("v"))
      .select(VectorExpressions.rhpBucket(col("v"), 64, 4).as("b")).head()
    assert(!ok.isNullAt(0))
  }

  test("cosine_sim null handling and SQL registration via extensions") {
    val df = spark.sql(
      """SELECT cosine_sim(CAST(array(1.0, 2.0) AS array<double>),
        |                  CAST(array(2.0, 4.0) AS array<double>)) AS c,
        |       cosine_sim(CAST(NULL AS array<double>),
        |                  CAST(array(1.0) AS array<double>)) AS n""".stripMargin)
    val r = df.head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-15) // parallel vectors
    assert(r.isNullAt(1))
  }

  test("prefix filter on the warehouse triggers level partition pruning") {
    val wh = java.nio.file.Files.createTempDirectory("graft-prune").toString + "/warehouse"
    val api = new wilayah.Api(spark, wh, GeoJsonFixture.dir)
    api.sync("11.73")

    val q = api.warehouse.filter(col("kode_wilayah_kemendagri").startsWith("11.73.01"))
    val scans = q.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty)
    // rule injected level >= 3 -> partition filter on the scan
    val pf = scans.head.partitionFilters.mkString(";")
    assert(pf.contains("level"), s"expected level partition filter, got: $pf")
    // and the prefix itself pushes to parquet (row-group min/max
    // skipping on the kode-sorted files)
    val pushed = scans.head.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("StringStartsWith"), s"expected pushed prefix, got: $pushed")
    // and the result is still correct: 1 kecamatan + its kelurahan
    assert(q.count() == api.warehouse
      .filter(col("kode_wilayah_kemendagri").startsWith("11.73.01")).count())
  }

  test("no query silently plans a cartesian or unbounded nested-loop join") {
    // A nested-loop join is legitimate ONLY when its BUILD side is
    // bounded by construction — then the join is constant work per
    // probe row and safe at any corpus scale. This guard is
    // STRUCTURAL (round-11 verdict item 1: a name allowlist missed
    // q210 and reddened the suite): every BroadcastNestedLoopJoin in
    // every query's physical plan must show boundedness evidence on
    // its build subtree —
    //  - a global (groupless) aggregate anywhere below it: emits
    //    exactly one row (the ANN query vector, BM25/temperature-mix
    //    corpus stats, the PageRank dangling share, the bloom bitmap,
    //    the BPE merge-list array, the authority max-rank), or
    //  - an explicit limit, or a tiny literal relation;
    //  - otherwise the build subtree is EXECUTED and must produce
    //    <= 64 rows at test SF — the k-centroid / SemDeDup /
    //    IVF-probe builds (modulus-selected centroid frames): n x k
    //    comparisons IS the operator's semantics with k << n, which
    //    is a cardinality fact, not a plan shape. 64 discriminates:
    //    the fixed TPC-H dims (region 5, nation 25) pass — a cross
    //    against a fixed dim is constant per probe row — while every
    //    SF-growing table (documents/embeddings 500+ here) fails.
    // A CartesianProduct (both sides unbounded, no broadcast) is
    // never acceptable.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.{GlobalLimitExec, LocalLimitExec, LocalTableScanExec}
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft
    val maxBuildRows = 64
    // descends through exchange reuse (ReusedExchangeExec is a leaf
    // holding the referenced exchange — collect() won't walk it)
    def boundedEvidence(p: SparkPlan): Boolean = {
      val self = p match {
        case a: BaseAggregateExec => a.groupingExpressions.isEmpty
        case _: GlobalLimitExec | _: LocalLimitExec => true
        case l: LocalTableScanExec => l.rows.lengthCompare(maxBuildRows) <= 0
        case _ => false
      }
      self || (p match {
        case r: ReusedExchangeExec => boundedEvidence(r.child)
        case other => other.children.exists(boundedEvidence)
      })
    }
    def stripExchange(p: SparkPlan): SparkPlan = p match {
      case e: BroadcastExchangeExec => stripExchange(e.child)
      case r: ReusedExchangeExec => stripExchange(r.child)
      // codegen wrappers around the exchange (the BNLJ's build input
      // rides inside the join's WholeStageCodegen span)
      case i: org.apache.spark.sql.execution.InputAdapter => stripExchange(i.child)
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => stripExchange(w.child)
      case other => other
    }
    // AQE re-plans lazily (the executed plan is a single adaptive root
    // whose children only materialize on execution) — audit the static
    // physical plan
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      Queries.all.foreach { q =>
        val plan = q.build(spark, sf).queryExecution.executedPlan
        assert(plan.collect { case c: CartesianProductExec => c }.isEmpty,
          s"${q.name} plans a CartesianProduct")
        plan.collect { case j: BroadcastNestedLoopJoinExec => j }.foreach { j =>
          val build = if (j.buildSide == BuildLeft) j.left else j.right
          lazy val measured =
            try Some(stripExchange(build).executeTake(maxBuildRows + 1).length)
            catch { case scala.util.control.NonFatal(e) =>
              System.err.println(s"[nlj-guard] ${q.name} build-side " +
                s"execution failed: $e"); None }
          assert(boundedEvidence(build) ||
              measured.exists(_ <= maxBuildRows),
            s"${q.name} plans a BroadcastNestedLoopJoin whose build side " +
              s"shows no boundedness evidence (no groupless aggregate / " +
              s"limit; measured rows: ${measured.fold("unexecutable")(n =>
                if (n > maxBuildRows) s"> $maxBuildRows" else n.toString)}):\n$build")
        }
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("hot scan paths stay inside whole-stage codegen") {
    // queries whose per-row work is the cost: a missing codegen span
    // here means an interpreted hot loop (10x slower at scale)
    // AQE defers codegen decisions to runtime (explain reports 0
    // subtrees pre-execution), so inspect the static plan with AQE off
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      for (name <- Seq("q01_pricing_summary", "q21_scalar_funcs",
                       "q24_exact_dedup", "q33_quality_score",
                       "q66_repetition_score", "q67_quality_gate",
                       // round-8 scan-heavy additions: language margin
                       // (profile scoring per row), shard balance
                       // (hash + agg), length histogram (bit-length
                       // bucketing) — all pure scan projections whose
                       // cost IS the per-row expression work
                       "q134_language_margin", "q131_shard_balance",
                       "q123_length_histogram")) {
        val plan = Queries.byName(name).build(spark, sf)
          .queryExecution.explainString(org.apache.spark.sql.execution.CodegenMode)
        assert(!plan.startsWith("Found 0 WholeStageCodegen"), s"$name lost codegen")
      }
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("corpus mixing queries prune their scans to the referenced columns") {
    // q68's filter is pure hash math over doc_id: the scan must read
    // only (doc_id, source) — dragging `text` through a 100 TB corpus
    // scan for a sampling decision would dominate the job
    val q68 = Queries.byName("q68_stratified_sample").build(spark, sf)
    val scans = q68.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s }
    assert(scans.nonEmpty)
    val schema = scans.head.metadata.getOrElse("ReadSchema", "")
    assert(schema.contains("doc_id") && schema.contains("source"),
      s"expected doc_id+source in ReadSchema, got: $schema")
    assert(!schema.contains("text"),
      s"q68 scan must not read the text column: $schema")
    // q69 needs text only to count tokens; lang/n_chars stay unread.
    // The packing operator persists its range-sliced frame, so the
    // file scan sits INSIDE the InMemoryRelation's cached plan
    val q69 = Queries.byName("q69_sequence_packing").build(spark, sf)
    val top = q69.queryExecution.sparkPlan
    // the cached plan roots at an AdaptiveSparkPlanExec LEAF — unwrap
    // it or collect() never reaches the file scan
    val s69 = top.collect {
      case s: FileSourceScanExec => Seq(s)
      case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        (m.relation.cachedPlan match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            a.inputPlan
          case p => p
        }).collect { case s: FileSourceScanExec => s }
    }.flatten
    assert(s69.nonEmpty)
    val schema69 = s69.head.metadata.getOrElse("ReadSchema", "")
    assert(!schema69.contains("lang") && !schema69.contains("n_chars"),
      s"q69 scan reads unreferenced columns: $schema69")
  }

  test("GroupedTopK operator matches the window formulation and plans partial+final") {
    import org.apache.spark.sql.expressions.Window
    import graft.plans.{GroupedTopK, GroupedTopKExec}
    val li = Tables.lineitem(spark, sf)

    val custom = GroupedTopK.perKey(li, Seq("l_orderkey"), "l_extendedprice", k = 2)
    // plan: final exec over partial exec (AQE hides the tree behind
    // AdaptiveSparkPlanExec in executedPlan, so inspect sparkPlan)
    val execs = custom.queryExecution.sparkPlan.collect {
      case e: GroupedTopKExec => e.isFinal
    }
    assert(execs.sorted == Seq(false, true), s"expected partial+final, got $execs")

    // same (key, price) multiset as the window-based top-2
    val w = Window.partitionBy("l_orderkey").orderBy(col("l_extendedprice").desc)
    val viaWindow = li.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= 2).drop("_rn")
      .select("l_orderkey", "l_extendedprice").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted
    val viaCustom = custom.select("l_orderkey", "l_extendedprice").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted
    assert(viaCustom.toSeq == viaWindow.toSeq)

    // per-group bound holds and smallest-k works too
    val asc = GroupedTopK.perKey(li, Seq("l_orderkey"), "l_extendedprice",
      k = 1, largest = false)
    val mins = asc.groupBy("l_orderkey").count().filter(col("count") > 1).count()
    assert(mins == 0)
    val trueMin = li.groupBy("l_orderkey").agg(min("l_extendedprice").as("m"))
    assert(asc.select(col("l_orderkey"), col("l_extendedprice").as("m"))
      .except(trueMin.select(col("l_orderkey"), col("m"))).count() == 0)
  }

  test("all native kernels are callable from SQL via the extensions") {
    val r = spark.sql(
      """SELECT rhp_bucket(CAST(array(1.0, -2.0) AS array<double>), 2, 4) AS b,
        |       simhash32(array('a', 'b', 'a')) AS sh,
        |       word_shingles(array('a', 'b', 'c', 'b', 'c'), 3) AS ws,
        |       md5_hash32_array(array('a', 'b')) AS h,
        |       minhash_sig(array('a', 'b'), 4) AS sig,
        |       rolling_hash(array('a', 'b')) AS rh""".stripMargin).head()
    assert(!r.isNullAt(0))
    assert(r.getSeq[String](2) == Seq("a b c", "b c b", "c b c"))
    assert(r.getSeq[Long](3).length == 2 && r.getSeq[Long](4).length == 4)
    assert(r.getLong(5) > 0)
    // shape parameters must be literals, not per-row expressions
    val err = intercept[Exception](
      spark.sql("SELECT rhp_bucket(CAST(array(1.0) AS array<double>), id + 1, 4) " +
        "FROM range(1)").head())
    assert(err.getMessage.contains("integer literal"))
  }

  test("rhp_bucket native kernel is bit-identical to the HOF formulation") {
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), Pipeline.asDouble(col("embedding")).as("v"))
    val both = e.select(
      VectorExpressions.rhpBucket(col("v"), 64, 4).as("native"),
      Pipeline.rhpBucketHof(col("v"), 64, 4).as("hof"))
    val rows = both.collect()
    assert(rows.nonEmpty)
    // exact equality: both accumulate each plane's projection in
    // ascending index order, so even boundary cases (proj == 0) agree
    rows.foreach(r => assert(r.getInt(0) == r.getInt(1)))
    // null vector -> null bucket, like the HOF form
    val n = e.select(VectorExpressions.rhpBucket(
      when(lit(false), col("v")), 64, 4).as("b")).head()
    assert(n.isNullAt(0))
  }

  test("simhash32 native kernel equals the explode+groupBy formulation") {
    val docs = Tables.documents(spark, sf)
    val native = Pipeline.simhash32(docs, "doc_id", "text")
    val viaExplode = Pipeline.simhash32ViaExplode(docs, "doc_id", "text")
    assert(native.except(viaExplode).count() == 0)
    assert(viaExplode.except(native).count() == 0)
    assert(native.count() == docs.count())
    // and the native path plans no shuffle: signature is scan-side
    val plan = native.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"simhash32 should not shuffle:\n$plan")
  }

  test("text-hash kernels equal their HOF formulations exactly") {
    import graft.plans.TextExpressions
    val w = Pipeline.words(col("text"))
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), w.as("w"), Pipeline.wordShingles(w, 3).as("sh"),
        Pipeline.wordShinglesHof(w, 3).as("sh_hof"))
    // native shingles match the HOF strings element-for-element
    // (first-occurrence distinct order included)
    docs.select(col("sh"), col("sh_hof")).collect().foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1))
    }
    val both = docs.select(
      TextExpressions.md5Hash32Array(col("sh")).as("h_native"),
      transform(col("sh"), Pipeline.wordHash32(_)).as("h_hof"),
      Pipeline.minhashSignature(col("sh"), 16).as("sig_native"),
      Pipeline.minhashSignatureHof(col("sh"), 16).as("sig_hof"),
      Pipeline.rollingHash(col("w")).as("rh_native"),
      Pipeline.rollingHashHof(col("w")).as("rh_hof"))
    val rows = both.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1))
      assert(r.getSeq[Long](2) == r.getSeq[Long](3))
      assert(r.getLong(4) == r.getLong(5))
    }
    // degenerate input: empty array -> all-null signature, like the
    // HOF's array_min over an empty transform
    val empty = docs.limit(1).select(
      Pipeline.minhashSignature(array().cast("array<string>"), 4).as("sig"))
      .head().getSeq[Any](0)
    assert(empty.length == 4 && empty.forall(_ == null))
  }

  test("GroupedTopK stays exact on a pre-partitioned, pre-sorted child") {
    import org.apache.spark.sql.expressions.Window
    import graft.plans.GroupedTopK
    // regression: partial mode must NOT advertise the child's ordering —
    // here the child already satisfies the final exec's distribution AND
    // ordering, so a false claim would elide the final sort while the
    // heap flush scrambles row order
    val li = Tables.lineitem(spark, sf)
      .repartition(col("l_orderkey"))
      .sortWithinPartitions(col("l_orderkey"), col("l_extendedprice").desc)
    val custom = GroupedTopK.perKey(li, Seq("l_orderkey"), "l_extendedprice", k = 2)
      .select("l_orderkey", "l_extendedprice").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted
    val w = Window.partitionBy("l_orderkey").orderBy(col("l_extendedprice").desc)
    val viaWindow = Tables.lineitem(spark, sf).withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= 2)
      .select("l_orderkey", "l_extendedprice").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted
    assert(custom.toSeq == viaWindow.toSeq)
  }

  test("GroupedTopK is exact on a string-typed order column") {
    import org.apache.spark.sql.expressions.Window
    import graft.plans.GroupedTopK
    // regression: the partial heap once stored order values aliasing the
    // reused input-row buffer — only visible with buffer-backed types
    val docs = Tables.documents(spark, sf)
    val custom = GroupedTopK.perKey(docs, Seq("lang"), "text", k = 2)
      .select("lang", "text").collect().map(r => (r.getString(0), r.getString(1))).sorted
    val w = Window.partitionBy("lang").orderBy(col("text").desc)
    val viaWindow = docs.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= 2)
      .select("lang", "text").collect().map(r => (r.getString(0), r.getString(1))).sorted
    assert(custom.toSeq == viaWindow.toSeq)
  }

  test("GroupedTopK merges -0.0/0.0 double group keys like Aggregate/Window do") {
    import spark.implicits._
    import graft.plans.GroupedTopK
    val df = Seq((0.0, 1.0), (-0.0, 2.0), (0.0, 3.0), (-0.0, 4.0), (1.5, 5.0))
      .toDF("g", "v")
    val out = GroupedTopK.perKey(df, Seq("g"), "v", k = 2)
      .select("g", "v").collect().map(r => (math.abs(r.getDouble(0)), r.getDouble(1)))
      .sorted.toSeq
    // the two zero encodings are ONE logical group: top-2 overall, not
    // top-2 per encoding (which would emit 4 zero-group rows)
    assert(out == Seq((0.0, 3.0), (0.0, 4.0), (1.5, 5.0)))
  }

  test("GroupedTopK partial map bound: overflow passes through, result exact") {
    import org.apache.spark.sql.expressions.Window
    import graft.plans.GroupedTopK
    // force pathological overflow: cap the partial map far below the
    // group cardinality (every lineitem orderkey is a group)
    spark.conf.set(GroupedTopK.MaxPartialGroupsKey, "16")
    try {
      val li = Tables.lineitem(spark, sf)
      val custom = GroupedTopK.perKey(li, Seq("l_orderkey"), "l_extendedprice", k = 2)
        .select("l_orderkey", "l_extendedprice").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sorted
      val w = Window.partitionBy("l_orderkey").orderBy(col("l_extendedprice").desc)
      val viaWindow = li.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") <= 2)
        .select("l_orderkey", "l_extendedprice").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sorted
      assert(custom.toSeq == viaWindow.toSeq)
    } finally spark.conf.unset(GroupedTopK.MaxPartialGroupsKey)
  }

  test("reference-LM scoring shuffles gram keys only on model-sized frames") {
    // q218's contract: the CORPUS never shuffles on a gram key — the
    // model probes are broadcasts, and the only corpus exchanges are
    // doc-keyed. The model BUILD legitimately shuffles on gram keys,
    // but over the reference frame; structurally, those exchanges
    // carry no doc id anywhere in their output while every corpus-side
    // exchange does.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.catalyst.expressions.Attribute
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = Queries.byName("q218_ref_surprisal").build(spark, sf)
        .queryExecution.executedPlan
      // a sort-merge model probe would mean the corpus shuffled on the
      // join (gram) key
      assert(plan.collect { case j: SortMergeJoinExec => j }.isEmpty,
        "q218 model probes must broadcast, not sort-merge")
      val gramOnly = plan.collect { case e: ShuffleExchangeExec => e }
        .filter { e =>
          e.outputPartitioning match {
            case h: HashPartitioning =>
              val keys = h.expressions.flatMap(_.collect {
                case a: Attribute => a.name })
              keys.nonEmpty && keys.forall(Set("bg", "l", "r", "t"))
            case _ => false
          }
        }
      gramOnly.foreach { e =>
        assert(!e.output.exists(_.name.contains("doc_id")),
          s"corpus-side exchange keyed on a bare gram key:\n$e")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("trust-rank iterations probe the cached pre-partitioned edges") {
    // q219's loop contract: the prepared edge frame persists
    // repartitioned on src, so each of the 5 iterations probes the
    // cache (an InMemoryTableScan) instead of re-deriving + re-shuffling
    // the join chain that built the edges
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = Queries.byName("q219_trust_rank").build(spark, sf)
        .queryExecution.executedPlan
      val ims = plan.collect { case s: InMemoryTableScanExec => s }
      assert(ims.size >= 5,
        s"expected >= 5 cached-frame probes (one per iteration), got ${ims.size}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("pruning rule is OR-safe: optional-prefix pattern is untouched") {
    val wh = java.nio.file.Files.createTempDirectory("graft-prune2").toString + "/warehouse"
    val api = new wilayah.Api(spark, wh, GeoJsonFixture.dir)
    api.sync("11.73")
    val none: Option[String] = None
    // null-tolerant optional prefix (P6): must match ALL rows
    val q = api.warehouse.filter(
      lit(none.orNull).isNull ||
        col("kode_wilayah_kemendagri").startsWith("11.73.01.9999"))
    assert(q.count() == api.warehouse.count())
  }
}
