package graft

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Skew

/** Scale-technique specs: salted skew handling and bucketed
  * (co-located, shuffle-free) joins.
  */
class OpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("salted two-stage aggregation equals the direct aggregate") {
    val li = Tables.lineitem(spark, sf)
    val direct = li.groupBy("l_orderkey")
      .agg(count(lit(1)).as("n"), sum("l_quantity").as("total"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val salted = Skew.saltedCountSum(li, "l_orderkey", "l_quantity", salts = 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(salted.keySet == direct.keySet)
    // counts exact; sums within fp tolerance (different add order)
    salted.foreach { case (k, (n, s)) =>
      assert(n == direct(k)._1)
      assert(math.abs(s - direct(k)._2) < 1e-6)
    }
  }

  test("salted join equals the plain join") {
    val orders = Tables.orders(spark, sf).select(col("o_custkey").as("k"), col("o_orderkey"))
    val dim = Tables.customer(spark, sf).select(col("c_custkey").as("k"), col("c_mktsegment"))
    val plain = orders.join(dim, "k").count()
    val salted = Skew.saltedJoin(orders, dim, "k", salts = 4).count()
    assert(salted == plain)
  }

  test("bucketed tables join without a shuffle exchange") {
    import java.nio.file.Files
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
      Tables.orders(spark, sf)
        .write.bucketBy(4, "o_custkey").sortBy("o_custkey")
        .mode("overwrite").saveAsTable("b_orders")
      Tables.customer(spark, sf)
        .write.bucketBy(4, "c_custkey").sortBy("c_custkey")
        .mode("overwrite").saveAsTable("b_customer")

      val j = spark.table("b_orders").join(spark.table("b_customer"),
        col("o_custkey") === col("c_custkey"))
      val shuffles = j.queryExecution.executedPlan.collect {
        case s: ShuffleExchangeExec => s
      }
      assert(shuffles.isEmpty,
        s"bucketed join should be co-located, found ${shuffles.size} shuffles")
      assert(j.count() > 0)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
    }
  }

  test("ANN probes against a bucket-partitioned corpus prune to the probed partitions") {
    // the at-rest half of the ANN design (Similarity scaladoc): the RHP
    // bucket column doubles as the physical partition key, so a probe
    // reads only its bucket's files — PartitionFilters, not a full scan
    import java.nio.file.Files
    val dir = Files.createTempDirectory("ann_at_rest").toString
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
      .withColumn("bucket", Pipeline.rhpBucket(col("v"), 64, 4))
    e.write.partitionBy("bucket").mode("overwrite").parquet(dir)
    val probes = Seq(3, 7)  // a probe set (bucket + a hamming neighbour)
    val scan = spark.read.parquet(dir)
      .filter(col("bucket").isin(probes: _*))
    val fs = scan.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(fs.nonEmpty)
    val pf = fs.head.metadata.getOrElse("PartitionFilters", "")
    assert(pf.contains("bucket"), s"probe did not prune partitions: $pf")
    // the pruned read returns exactly the probed buckets' rows
    val expected = e.filter(col("bucket").isin(probes: _*)).count()
    assert(scan.count() == expected && expected > 0)
  }

  test("planesFor sizes RHP bucket count to the corpus") {
    assert(Pipeline.planesFor(1000, 1000) == 1)   // floor: always split once
    assert(Pipeline.planesFor(16000, 1000) == 4)
    assert(Pipeline.planesFor(1000000, 1000) == 10)
    assert(Pipeline.planesFor(100000000000L, 1000) == 27)
    assert(Pipeline.planesFor(Long.MaxValue, 1) == 30) // cap
    // the measured sf1 case: 20k vectors at the 1000-row target -> 5
    // planes (PLANS.md shows 8 planes restored linearity; the rule's
    // 32 buckets is the same order)
    assert(Pipeline.planesFor(20000) == 5)
  }

  test("stratified sampling is deterministic, rate-faithful, shuffle-free") {
    val docs = Tables.documents(spark, sf)
    val rates = Map("src0" -> 1000, "src1" -> 500, "src2" -> 250)
    def sample() = graft.ops.Sampling.stratified(docs, "doc_id", "source", rates, 100)
    val a = sample().select("doc_id").collect().map(_.getLong(0)).toSet
    val b = sample().select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b, "hash-based sampling must reproduce exactly across runs")
    // permille 1000 keeps the whole stratum
    val src0Total = docs.filter(col("source") === "src0").count()
    assert(sample().filter(col("source") === "src0").count() == src0Total)
    // per-stratum keep rates within loose binomial bounds
    for ((stratum, p) <- Seq("src1" -> 0.5, "src2" -> 0.25)) {
      val n = docs.filter(col("source") === stratum).count().toDouble
      val kept = sample().filter(col("source") === stratum).count().toDouble
      val sd = math.sqrt(n * p * (1 - p))
      assert(math.abs(kept - n * p) <= 4 * sd + 1,
        s"$stratum kept $kept of $n at rate $p")
    }
    // a pure filter: no exchange in the plan
    val plan = sample().queryExecution.executedPlan
    assert(plan.collect { case e: ShuffleExchangeExec => e }.isEmpty)
  }

  test("sequence packing fills contiguous bins within the token budget") {
    val budget = 2048L
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("source"),
      Pipeline.subwordTokenCount(Pipeline.words(col("text"))).as("n_tok"))
    val packed = graft.ops.Sampling.packSequences(docs, "doc_id", "source", "n_tok", budget)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(packed.nonEmpty)
    for ((_, rows) <- packed.groupBy(_._2)) {
      val ordered = rows.sortBy(_._1)
      // bins start at 0 (cumBefore of the first doc is 0) and every
      // assignment equals cumBefore div budget — which also implies
      // bins are non-decreasing in doc order
      assert(ordered.head._4 == 0L)
      var cum = 0L
      ordered.foreach { case (_, _, tok, bin) =>
        assert(cum / budget == bin, s"bin assignment must equal cumBefore div budget")
        cum += tok
      }
      // bins are reasonably full: total bins ~ total tokens / budget
      val totalTok = ordered.map(_._3).sum
      val nBins = ordered.map(_._4).distinct.length
      assert(nBins <= totalTok / budget + 1)
    }
  }

  test("hierarchical packing equals the single-window form and parallelizes one stratum") {
    import spark.implicits._
    // ONE stratum, many rows: the old partitionBy(stratum) window form
    // would serialize all of it through a single task — the scale
    // defect the two-pass form exists to fix
    val docs = (0L until 5000L).map(i => (i, "only", 100L + i % 7))
      .toDF("doc_id", "source", "n_tok")
    val budget = 2048L
    val packed = graft.ops.Sampling.packSequences(
      docs, "doc_id", "source", "n_tok", budget, chunks = 8)
    // exact reference: the semantics-defining single window
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val ref = docs
      .withColumn("_cb", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .withColumn("bin", expr(s"_cb div $budget")).drop("_cb")
    assert(packed.orderBy("doc_id").collect().toSeq ==
      ref.orderBy("doc_id").collect().toSeq)
    // chunk-boundary independence: a different chunk count, same output
    val packed3 = graft.ops.Sampling.packSequences(
      docs, "doc_id", "source", "n_tok", budget, chunks = 3)
    assert(packed3.orderBy("doc_id").collect().toSeq ==
      ref.orderBy("doc_id").collect().toSeq)
    // >1 task participates in packing the single stratum: the range
    // slicing spreads the rows, and the packing window keys on
    // (chunk, stratum) — not stratum alone
    val slices = docs.repartitionByRange(8, col("source"), col("doc_id"))
      .select(org.apache.spark.sql.functions.spark_partition_id().as("p"))
      .distinct().count()
    assert(slices > 1, "range slicing must engage more than one task")
    val wins = packed.queryExecution.optimizedPlan.collect {
      case n: org.apache.spark.sql.catalyst.plans.logical.Window => n.partitionSpec.size
    }
    assert(wins.contains(2), s"packing window must key on (chunk, stratum); got $wins")
  }

  test("PII redaction masks every occurrence and spares lookalikes") {
    import spark.implicits._
    import graft.ops.Redact
    val rows = Seq(
      // multiple occurrences of each kind in one string
      (1L, "a@b.com then c.d+e@sub.host.org and +1-555-0100 or +62-21-555 at 10.0.0.1 via 192.168.255.254"),
      // lookalikes that must SURVIVE: bare number (no +), version
      // string (3 dots but alpha), @ without domain dot, dotted triple
      (2L, "call 555-0100 about v1.2.3 or user@localhost at 10.0.1"),
      (3L, "no pii at all"))
      .toDF("id", "note")
    val out = rows.select(col("id"), Redact.pii(col("note")).as("r"),
        Redact.emailCount(col("note")).as("ne"),
        Redact.phoneCount(col("note")).as("np"),
        Redact.ipv4Count(col("note")).as("ni"))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out(1L) == (("<EMAIL> then <EMAIL> and <PHONE> or <PHONE> at <IP> via <IP>", 2L, 2L, 2L)))
    assert(out(2L) == (("call 555-0100 about v1.2.3 or user@localhost at 10.0.1", 0L, 0L, 0L)))
    assert(out(3L) == (("no pii at all", 0L, 0L, 0L)))
  }

  test("global row number equals the single-window form and parallelizes") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // many ties on the primary key force the id tiebreak across chunk
    // boundaries — the case where a partial order would be nondeterministic
    val docs = (0L until 4000L).map(i => (i, (i % 13).toInt))
      .toDF("doc_id", "score")
    val ranked = graft.ops.Ranking.globalRowNumber(
      docs, Seq(col("score").desc, col("doc_id")), "pos", chunks = 8)
    val ref = docs.withColumn("pos",
      row_number().over(Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
    assert(ranked.orderBy("doc_id").collect().toSeq ==
      ref.orderBy("doc_id").collect().toSeq)
    // chunk-boundary independence
    val ranked3 = graft.ops.Ranking.globalRowNumber(
      docs, Seq(col("score").desc, col("doc_id")), "pos", chunks = 3)
    assert(ranked3.orderBy("doc_id").collect().toSeq ==
      ref.orderBy("doc_id").collect().toSeq)
    // the LOCAL-PREFIX window must be partitioned by the chunk id — an
    // unpartitioned one would serialize the corpus through one task,
    // the exact scale-killer this operator exists to avoid. The window
    // expression's alias is compiler-generated (the sum nests inside a
    // coalesce), so the window is identified by its PARTITION KEY; the
    // assertion is non-vacuous (nonEmpty) and precise (only the
    // chunk-keyed node counts).
    val localWins = ranked.queryExecution.optimizedPlan.collect {
      case n: org.apache.spark.sql.catalyst.plans.logical.Window
          if n.partitionSpec.exists(_.references.exists(_.name == "_chunk")) =>
        n.partitionSpec.size
    }
    assert(localWins.nonEmpty,
      "chunk-partitioned local-prefix window not found in the plan")
  }

  test("snapshot diff labels every id with its churn status") {
    import spark.implicits._
    val old = Seq((1L, "same"), (2L, "will change"), (3L, "will vanish"))
      .toDF("doc_id", "text")
    val nw = Seq((1L, "same"), (2L, "changed!"), (4L, "brand new"))
      .toDF("doc_id", "text")
    val got = graft.ops.Diff.snapshotDiff(old, nw, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
    // NULL content: presence must come from the side marker, not the
    // hash (md5(NULL) is NULL) — NULL -> text is changed, NULL -> NULL
    // unchanged, and a NULL-content row can still be added/removed
    val oldN = Seq((1L, null: String), (2L, null: String), (3L, null: String))
      .toDF("doc_id", "text")
    val nwN = Seq((1L, "now set"), (2L, null: String), (4L, null: String))
      .toDF("doc_id", "text")
    val gotN = graft.ops.Diff.snapshotDiff(oldN, nwN, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(gotN == Map(1L -> "changed", 2L -> "unchanged",
      3L -> "removed", 4L -> "added"))
    val counts = graft.ops.Diff.snapshotDiffCounts(old, nw, "doc_id", "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("unchanged" -> 1L, "changed" -> 1L,
      "removed" -> 1L, "added" -> 1L))
  }

  test("int8 quantization stays in range and inverts within scale/127") {
    val q = Queries.byName("q76_embedding_quantization").build(spark, sf)
      .collect()
    assert(q.length > 0)
    q.foreach { r =>
      val scale = r.getDouble(1)
      // codes arrive serialized as a comma-joined string (scalar-only
      // output contract for the driver's hash compare)
      val codes = r.getString(2).split(",").map(_.toInt)
      assert(codes.length == 64)
      assert(codes.forall(c => c >= -127 && c <= 127))
      // the max-abs element must quantize to exactly +/-127
      assert(codes.exists(c => math.abs(c) == 127))
      assert(scale > 0.0)
    }
  }

  test("funnel enforces step order and the conversion window") {
    import spark.implicits._
    // u1 completes in order within window; u2 clicks BEFORE viewing
    // (order violation); u3 converts outside the window; u4 views only
    val ev = Seq(
      (1L, "view", 100L), (1L, "click", 200L), (1L, "buy", 300L),
      (2L, "click", 100L), (2L, "view", 200L), (2L, "buy", 300L),
      (3L, "view", 100L), (3L, "click", 5000L), (3L, "buy", 5100L),
      (4L, "view", 100L)
    ).toDF("u", "ty", "us")
    val got = graft.ops.Events.funnel(ev, "u", "ty", col("us"),
        Seq("view", "click", "buy"), windowUs = 1000L)
      .orderBy("step").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    // u2 DOES reach click: view@200 -> no later click... but funnel is
    // first-touch from the user's first view, so u2's click@100 < view@200
    // cannot count; u3's click@5000 misses the 1000us window
    assert(got.toSeq == Seq((1, "view", 4L), (2, "click", 1L), (3, "buy", 1L)))
  }

  test("funnelTimes returns per-user conversion chains for full converters") {
    import spark.implicits._
    val ev = Seq(
      (1L, "view", 100L), (1L, "click", 200L), (1L, "buy", 300L),
      (5L, "view", 10L), (5L, "click", 20L), (5L, "buy", 25L),
      (6L, "view", 10L), (6L, "click", 20L) // never buys
    ).toDF("u", "ty", "us")
    val got = graft.ops.Events.funnelTimes(ev, "u", "ty", col("us"),
        Seq("view", "click", "buy"), windowUs = 1000L)
      .orderBy("u").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((1L, 100L, 200L, 300L), (5L, 10L, 20L, 25L)))
  }

  test("cohort retention counts distinct active users per cohort/offset") {
    import spark.implicits._
    // u1 first seen day 0 (view), purchases day 0 and 2 (twice - distinct);
    // u2 first seen day 1, purchases day 1; u3 never purchases
    val ev = Seq(
      (1L, 0L, "view"), (1L, 0L, "purchase"), (1L, 2L, "purchase"),
      (1L, 2L, "purchase"),
      (2L, 1L, "purchase"), (2L, 3L, "view"),
      (3L, 0L, "view")
    ).toDF("u", "day", "ty")
    val got = graft.ops.Events.cohortRetention(ev, "u", col("day"),
        col("ty") === "purchase")
      .orderBy("cohort_day", "day_offset").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((0L, 0L, 1L), (0L, 2L, 1L), (1L, 0L, 1L)))
  }

  test("temperature mixing upweights low-resource strata deterministically") {
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("lang"))
    val kept = graft.ops.Sampling.temperatureMix(docs, "doc_id", "lang",
      alpha = 0.5, targetFrac = 0.5)
    val a = kept.collect().map(_.getLong(0)).sorted.toSeq
    val b = kept.collect().map(_.getLong(0)).sorted.toSeq
    assert(a == b, "hash-based sampling must be run-deterministic")
    // kept fraction per stratum: the rarest lang must keep a strictly
    // higher RATE than the most common one (that is the point of
    // temperature mixing), and the overall volume must be near target
    val byLang = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val keptByLang = kept.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val biggest = byLang.maxBy(_._2)._1
    val smallest = byLang.minBy(_._2)._1
    assert(byLang(biggest) > byLang(smallest), "corpus must be skewed for this spec")
    val rateBig = keptByLang(biggest).toDouble / byLang(biggest)
    val rateSmall = keptByLang.getOrElse(smallest, 0L).toDouble / byLang(smallest)
    assert(rateSmall > rateBig,
      s"low-resource $smallest rate $rateSmall should exceed $biggest rate $rateBig")
    val total = byLang.values.sum.toDouble
    val keptTotal = keptByLang.values.sum.toDouble
    assert(keptTotal / total > 0.3 && keptTotal / total < 0.7,
      s"overall kept fraction ${keptTotal / total} should be near the 0.5 target")
  }

  test("with-replacement mixing repeats rare strata by their exact rate") {
    import spark.implicits._
    // A: 90 rows, B: 10 rows; alpha=0.5, budget 2x:
    // tot_sn = sqrt(90)+sqrt(10); rate_B = 200*(sqrt(10)/tot_sn)/10 = 5.0
    // exactly, rate_A = 200*(sqrt(90)/tot_sn)/90 ~ 1.667
    val df = ((1 to 90).map(i => (i.toLong, "A")) ++
      (101 to 110).map(i => (i.toLong, "B"))).toDF("id", "s")
    val out = graft.ops.Sampling.temperatureMixWithReplacement(
      df, "id", "s", alpha = 0.5, targetFrac = 2.0)
    val copies = out.groupBy("id", "s").count().collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val bCopies = copies.filter(_._2 == "B").map(_._3)
    assert(bCopies.length == 10 && bCopies.forall(_ == 5L),
      s"rate_B is exactly 5.0 -> 5 copies each, got ${bCopies.toSeq}")
    val aCopies = copies.filter(_._2 == "A").map(_._3)
    assert(aCopies.forall(c => c == 1L || c == 2L))
    // copy indices are dense 0..k-1 per row
    val idx = out.filter(col("id") === 101).select("copy").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(idx == Seq(0L, 1L, 2L, 3L, 4L))
    // overall volume lands near the 2x budget
    val total = out.count()
    assert(total > 170 && total < 230, s"total $total should be near 200")
  }

  test("coverage thresholds equal the brute-force rank scan") {
    import spark.implicits._
    val counts = Seq(("a", 50L), ("b", 30L), ("c", 10L), ("d", 6L),
      ("e", 3L), ("f", 1L)).toDF("k", "n")
    val got = graft.ops.Ranking.coverageThresholds(counts, "k", "n",
        Seq(50, 90, 99)).orderBy("pct").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toMap
    // total 100: cum a=50 (50%), a+b=80, a+b+c=90 (90%), +d=96, +e=99 (99%)
    assert(got == Map(50 -> 1L, 90 -> 3L, 99 -> 5L))
    // degenerate: one key covers everything
    val one = Seq(("x", 7L)).toDF("k", "n")
    val g1 = graft.ops.Ranking.coverageThresholds(one, "k", "n", Seq(1, 100))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(g1 == Map(1 -> 1L, 100 -> 1L))
  }

  test("information score charges rare tokens their bit-length") {
    import spark.implicits._
    val docs = Seq((1L, "c c c c"), (2L, "c c c c"), (3L, "c c c z"))
      .toDF("doc_id", "text")
    // tot = 12, freq(c) = 11, freq(z) = 1:
    // bits(c) = floor(log2(12 div 11)) = 0, bits(z) = floor(log2(12)) = 3
    val tot = graft.ops.TextStats.totalTokens(docs, "text")
    assert(tot == 12L)
    val got = graft.ops.TextStats.informationScore(docs, "doc_id", "text", tot)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map(1L -> (4L, 0L), 2L -> (4L, 0L), 3L -> (4L, 3L)))
  }

  test("importance score ranks target-like docs above off-domain docs") {
    import spark.implicits._
    val raw = Seq((1L, "x x"), (2L, "q q")).toDF("doc_id", "text")
    val target = Seq((100L, "x x x x")).toDF("doc_id", "text")
    // N_raw=4, N_tgt=4; doc1 (x): bits_raw = floor(log2(4/2)) = 1,
    // ct = 4+1, bits_tgt = floor(log2(5 div 5)) = 0 -> +1 per occurrence
    // doc2 (q, absent from target): bits_tgt = floor(log2(5 div 1)) = 2
    // -> 1 - 2 = -1 per occurrence
    val got = graft.ops.TextStats.importanceScore(raw, target,
        "doc_id", "text", rawTotal = 4L, targetTotal = 4L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map(1L -> (2L, 2L), 2L -> (2L, -2L)))
  }

  test("max token run finds the first longest identical run") {
    import spark.implicits._
    val docs = Seq(
      (1L, "buy buy buy now now"),        // run of 3 "buy"
      (2L, "a b a b a b"),                // no run > 1
      (3L, "x x y y z"),                  // tie 2/2: FIRST longest ("x") wins
      (4L, "solo"))
      .toDF("doc_id", "text")
    val got = graft.ops.TextStats.maxTokenRun(docs, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    assert(got == Map(
      1L -> (5L, 3L, "buy"),
      2L -> (6L, 1L, "a"),
      3L -> (5L, 2L, "x"),
      4L -> (1L, 1L, "solo")))
  }

  test("quantile buckets match the rank formula, remainder to early buckets") {
    import spark.implicits._
    // 7 rows, 3 buckets: sizes 3/2/2 by ((rank-1)*3) div 7 + 1
    val df = (1L to 7L).map(i => (i, i * 10L)).toDF("id", "v")
    val got = graft.ops.Ranking.quantileBuckets(df, "v", "id", k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 2L, 5L -> 2L, 6L -> 3L, 7L -> 3L))
    // ties on value break by id: same input, equal values
    val ties = Seq((5L, 1L), (3L, 1L), (4L, 1L), (1L, 1L)).toDF("id", "v")
    val b = graft.ops.Ranking.quantileBuckets(ties, "v", "id", k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(b == Map(1L -> 1L, 3L -> 1L, 4L -> 2L, 5L -> 2L))
  }

  test("embedding diversity equals the brute-force pairwise dot sum") {
    import spark.implicits._
    // 3 vectors in 64 dims (zero-padded): u=(1,2,0..), v=(3,-1,0..), w=(0.5,0.5,0..)
    val pad = Seq.fill(62)(0f)
    val vecs = Seq(
      (1L, Seq(1f, 2f) ++ pad),
      (2L, Seq(3f, -1f) ++ pad),
      (3L, Seq(0.5f, 0.5f) ++ pad)).toDF("vec_id", "embedding")
    val row = graft.Similarity.embeddingDiversity(vecs, "embedding").head()
    assert(row.getLong(0) == 3L)
    // micro units: u=(1e6,2e6), v=(3e6,-1e6), w=(5e5,5e5)
    // self: (1+4) + (9+1) + (0.25+0.25) = 15.5e12
    assert(row.getLong(1) == 15500000000000L)
    // pairwise (ordered, both directions): 2*(u.v + u.w + v.w)
    // u.v = 3e12-2e12 = 1e12; u.w = .5e12+1e12 = 1.5e12; v.w = 1.5e12-0.5e12 = 1e12
    // sum = 2*3.5e12 = 7e12 — stringified at the edge (DECIMAL policy)
    assert(row.getString(2) == "7000000000000")
  }

  test("target mix hits exact per-stratum quotas at the feasible volume") {
    import spark.implicits._
    // supply: a=10, b=4, c=6; target 50/25/25 -> T = min(20, 16, 24) = 16
    // quotas: a=8, b=4, c=4 (b is the binding stratum: fully consumed)
    val docs = ((1L to 10L).map(i => (i, "a")) ++
      (11L to 14L).map(i => (i, "b")) ++
      (15L to 20L).map(i => (i, "c"))).toDF("doc_id", "stratum")
    val targets = Seq(("a", 500000), ("b", 250000), ("c", 250000))
    val got = graft.ops.Sampling.targetMix(docs, "doc_id", "stratum", targets)
    val bySt = got.groupBy("stratum").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySt == Map("a" -> 8L, "b" -> 4L, "c" -> 4L))
    // deterministic: the same call selects the same ids
    val ids1 = got.select("doc_id").as[Long].collect().toSet
    val ids2 = graft.ops.Sampling.targetMix(docs, "doc_id", "stratum", targets)
      .select("doc_id").as[Long].collect().toSet
    assert(ids1 == ids2)
    // mix_rank is dense 1..quota within each stratum
    val ranks = got.select("stratum", "mix_rank").as[(String, Long)]
      .collect().groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sorted.toSeq }
    assert(ranks("a") == (1L to 8L) && ranks("b") == (1L to 4L) &&
      ranks("c") == (1L to 4L))
    // a targeted stratum with no supply makes the mix infeasible
    val infeasible = graft.ops.Sampling.targetMix(docs, "doc_id", "stratum",
      Seq(("a", 500000), ("zz", 500000)))
    assert(infeasible.isEmpty)
    // ppm weights must sum to 1e6
    intercept[IllegalArgumentException] {
      graft.ops.Sampling.targetMix(docs, "doc_id", "stratum",
        Seq(("a", 500000), ("b", 400000)))
    }
  }

  test("BPE pair counts weight by word frequency, with in-word multiplicity") {
    import spark.implicits._
    // vocab: "aaa" x2, "ab" x3, "b" x1 (no pairs)
    // pairs: "aa" from "aaa" twice-per-occurrence-in-vocab, weighted by n_w=2 -> 4
    //        "ab" from "ab", n_w=3 -> 3
    val docs = Seq((1L, "aaa ab b"), (2L, "aaa ab ab")).toDF("doc_id", "text")
    val got = graft.ops.TextStats.bpePairCounts(docs, "text", k = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(got == Seq("aa" -> 4L, "ab" -> 3L))
  }

  test("bigram information score charges rare transitions, not rare tokens") {
    import spark.implicits._
    // corpus bigrams: "a b" x3 (docs 1,2), "a c" x1 (doc 3)
    // c_l(a) = 4; bits("a b") = floor(log2(4 div 3)) = 0,
    // bits("a c") = floor(log2(4 div 1)) = 2 — 'c' is a common TOKEN
    // made informative only by its unusual PREDECESSOR context
    val docs = Seq(
      (1L, "a b a b"),   // two "a b" occurrences... tokens: a,b,a,b -> bigrams "a b","b a","a b"
      (2L, "a b"),
      (3L, "a c"),
      (4L, "x"))          // single token: no bigrams, excluded
      .toDF("doc_id", "text")
    // full bigram tally: doc1 {"a b":2, "b a":1}, doc2 {"a b":1}, doc3 {"a c":1}
    // c_ab("a b")=3, c_ab("b a")=1, c_ab("a c")=1; c_l(a)=4, c_l(b)=1
    // doc1 bits = 2*floor(log2(4 div 3)) + 1*floor(log2(1 div 1)) = 0
    // doc2 bits = floor(log2(4 div 3)) = 0
    // doc3 bits = floor(log2(4 div 1)) = 2
    val got = graft.ops.TextStats.bigramInformationScore(docs, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got == Map(
      1L -> (3L, 0L, 0L),
      2L -> (1L, 0L, 0L),
      3L -> (1L, 2L, 2000L)))
  }

  test("duplicated-n-gram fraction flags only grams shared across docs") {
    import spark.implicits._
    val docs = Seq((1L, "a b c"), (2L, "a b x"), (3L, "p q r"))
      .toDF("doc_id", "text")
    val got = graft.ops.TextStats
      .duplicatedNgramFraction(docs, "doc_id", "text", n = 2)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // d1 {"a b","b c"}: "a b" also in d2 -> 1/2 = 500000 ppm
    assert(got(1L) == (2L, 1L, 500000L))
    assert(got(2L) == (2L, 1L, 500000L))
    assert(got(3L) == (2L, 0L, 0L))
  }

  test("keyword search is conjunctive and ranks by total tf") {
    import spark.implicits._
    val docs = Seq(
      (1L, "join hash scan other"),
      (2L, "join join hash scan scan"),
      (3L, "join hash join hash")) // no 'scan' -> excluded
      .toDF("doc_id", "text")
    val got = graft.ops.Search.keywordSearch(docs, "doc_id", "text",
        Seq("join", "hash", "scan"), k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((2L, 5L), (1L, 3L)))
  }

  test("boilerplate prefixes group per stratum and respect minDf") {
    import spark.implicits._
    val docs = Seq(
      (1L, "hdr one foo bar", "s1"),
      (2L, "hdr one baz qux", "s1"),
      (3L, "hdr one foo bar", "s2"), // same prefix, other source: df=1 there
      (4L, "solo text here x", "s1"))
      .toDF("doc_id", "text", "source")
    val got = graft.ops.TextStats.boilerplatePrefixes(
        docs, "doc_id", "text", "source", prefixLen = 2, minDf = 2)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(("s1", "hdr one") -> (2L, 1L)))
  }

  test("strip-boilerplate removes detected prefixes and spares the rest") {
    import spark.implicits._
    val docs = Seq(
      (1L, "hdr one foo bar", "s1"),
      (2L, "hdr one baz", "s1"),
      (3L, "hdr one foo bar", "s2"), // same prefix, df=1 in s2: spared
      (4L, "solo text here", "s1"),
      (5L, "hdr one", "s1")) // prefix-only doc strips to empty
      .toDF("doc_id", "text", "source")
    val got = graft.ops.TextStats.stripBoilerplate(
        docs, "doc_id", "text", "source", prefixLen = 2, minDf = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(r.fieldIndex("was_stripped")),
          r.getString(r.fieldIndex("text")))).toMap
    assert(got(1L) == (true, "foo bar"))
    assert(got(2L) == (true, "baz"))
    assert(got(3L) == (false, "hdr one foo bar"), "other stratum spared")
    assert(got(4L) == (false, "solo text here"))
    assert(got(5L) == (true, ""))
    // non-text columns survive the rewrite
    assert(graft.ops.TextStats.stripBoilerplate(docs, "doc_id", "text",
      "source").columns.contains("source"))
  }

  test("norm outliers return the exact-rank top fraction") {
    import spark.implicits._
    val embs = ((1L to 9L).map(i => (i, Array(1.0f, 0.0f, 0.0f, 0.0f))) :+
      (10L, Array(5.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    // frac 0.1 of 10 -> k = 1: only the planted big-norm row
    val got = graft.Similarity.normOutliers(embs, "vec_id", "embedding",
      n = 10L, frac = 0.1).collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(10L))
    assert(got.head.getDouble(1) == 25.0)
    // ceil semantics: frac 0.01 of 10 -> still 1 row, never 0
    assert(graft.Similarity.normOutliers(embs, "vec_id", "embedding",
      n = 10L, frac = 0.01).count() == 1L)
  }

  test("chunking windows cover the doc with the stated overlap; dedup map points at first occurrence") {
    import spark.implicits._
    // 10 tokens, size 4, overlap 2 (stride 2): ceil((10-2)/2) = 4
    // chunks starting at 1,3,5,7 — the last covers the tail, and no
    // redundant window whose tokens its predecessor already holds
    val docs = Seq((1L, (1 to 10).map(i => s"t$i").mkString(" ")),
      (2L, "t1 t2 t3"), // shorter than size: one chunk
      (3L, (1 to 10).map(i => s"t$i").mkString(" "))) // exact dup of doc 1
      .toDF("doc_id", "text")
    val ch = graft.ops.Chunking.chunk(docs, "doc_id", "text",
        size = 4, overlap = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getString(2), r.getLong(3))).toMap
    assert(ch((1L, 0L)) == ("t1 t2 t3 t4", 4L))
    assert(ch((1L, 1L)) == ("t3 t4 t5 t6", 4L))
    assert(ch((1L, 3L)) == ("t7 t8 t9 t10", 4L), "last chunk holds the tail")
    assert(!ch.contains((1L, 4L)), "no redundant tail window")
    assert(ch((2L, 0L)) == ("t1 t2 t3", 3L))
    assert(!ch.contains((2L, 1L)), "short doc yields exactly one chunk")
    // 11 tokens: ceil(9/2) = 5 chunks, last = partial tail
    val odd = graft.ops.Chunking.chunk(
        Seq((9L, (1 to 11).map(i => s"t$i").mkString(" "))).toDF("doc_id", "text"),
        "doc_id", "text", size = 4, overlap = 2)
      .collect().map(r => r.getLong(1) -> (r.getString(2), r.getLong(3))).toMap
    assert(odd(4L) == ("t9 t10 t11", 3L), "partial tail chunk kept")
    // every doc-1 chunk duplicates into doc 3 -> back-references
    val dup = graft.ops.Chunking.chunkDedupMap(docs, "doc_id", "text",
        size = 4, overlap = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    (0L to 3L).foreach { i =>
      assert(dup((3L, i)) == (1L, i), s"chunk $i canonical back-reference") }
    assert(!dup.keys.exists(_._1 == 1L), "canonical chunks emit no row")
  }

  test("hash splits are exhaustive, rate-faithful, and deterministic") {
    import spark.implicits._
    val df = (0L until 5000L).toDF("id")
    val splits = Seq(("train", 800), ("val", 100), ("test", 100))
    val out = graft.ops.Sampling.assignSplits(df, "id", splits)
    val byName = out.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byName.values.sum == 5000, "every row lands in exactly one split")
    assert(byName.keySet == Set("train", "val", "test"))
    // binomial tolerance around 4000/500/500
    assert(byName("train") > 3800 && byName("train") < 4200, byName.toString)
    assert(byName("val") > 400 && byName("val") < 600, byName.toString)
    // determinism: same assignment on re-run
    val a = out.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = graft.ops.Sampling.assignSplits(df, "id", splits)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a == b)
    // permilles must sum to 1000
    intercept[IllegalArgumentException] {
      graft.ops.Sampling.assignSplits(df, "id", Seq(("a", 500), ("b", 400)))
    }
  }

  test("dataset card reports exact corpus headline numbers") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c", "en", "s1", 5L),
      (2L, "a b c", "en", "s2", 5L), // exact dup
      (3L, "x y", "de", "s1", 3L),
      (4L, "p q r s", "en", "s1", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = graft.ops.TextStats.datasetCard(docs, "text", "lang", "source",
      "n_chars").collect().head
    assert(r.getAs[Long]("n_docs") == 4L)
    assert(r.getAs[Long]("n_unique") == 3L)
    assert(r.getAs[Long]("n_tokens") == 3 + 3 + 2 + 4)
    assert(r.getAs[Long]("n_langs") == 2L)
    assert(r.getAs[Long]("n_sources") == 2L)
    assert(r.getAs[Long]("min_chars") == 3L && r.getAs[Long]("max_chars") == 7L)
    assert(r.getAs[Long]("dup_ppm") == 250000L)
  }

  test("budget selection equals the single-window cut and takes best-first") {
    import spark.implicits._
    // values descend with id; tokens constant 10 -> budget 35 keeps
    // exactly the 3 best (30 tokens; the 4th would reach 40)
    val docs = (1L to 20L).map(i => (i, 100L - i, 10L))
      .toDF("id", "value", "n_tok")
    val got = graft.ops.Sampling.selectWithinBudget(
        docs, "id", "value", "n_tok", budget = 35L)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(got.keySet == Set(1L, 2L, 3L), s"best three fit: $got")
    assert(got(3L) == 20L, "cum_before counts the two better docs")
    // equals the semantics-defining single global window
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("value").desc, col("id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val ref = docs.withColumn("cum_before",
        coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .filter(col("cum_before") + col("n_tok") <= 35L)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(got == ref)
    // a boundary-straddling doc is dropped and blocks everything after
    val uneven = Seq((1L, 9L, 10L), (2L, 8L, 30L), (3L, 7L, 5L))
      .toDF("id", "value", "n_tok")
    val cut = graft.ops.Sampling.selectWithinBudget(
        uneven, "id", "value", "n_tok", budget = 20L)
      .collect().map(_.getLong(0)).toSet
    assert(cut == Set(1L), "budget CUT semantics: straddler blocks the tail")
  }

  test("leakage-safe split keeps every near-dup cluster in one split") {
    import spark.implicits._
    val docs = (0L until 300L).toDF("doc_id")
    // planted clusters: chains {0..4}, {10,11}, and a 3-cycle {20,21,22}
    val pairs = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("a_id", "b_id")
    val out = graft.Dedup.leakageSafeSplits(docs, pairs, "doc_id",
      Seq(("train", 800), ("val", 100), ("test", 100)))
    val rows = out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(rows.length == 300, "every doc labeled")
    val byDoc = rows.map(r => r._1 -> (r._2, r._3)).toMap
    // cluster labels: min id of the component; singletons self-labeled
    for (m <- Seq(Seq(0L, 1L, 2L, 3L, 4L), Seq(10L, 11L), Seq(20L, 21L, 22L))) {
      assert(m.map(byDoc(_)._1).toSet == Set(m.min), s"component $m label")
      assert(m.map(byDoc(_)._2).toSet.size == 1, s"component $m split cohesion")
    }
    assert(byDoc(42L)._1 == 42L, "singleton keeps its own id as cluster")
  }

  test("priority sample takes exactly k per stratum, equal to the window form") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val df = (0L until 200L).map(i => (i, if (i % 2 == 0) "A" else "B"))
      .toDF("id", "s")
    val got = graft.ops.Sampling.prioritySample(df, "id", "s", k = 5)
    val byStratum = got.groupBy("s").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byStratum == Map("A" -> 5L, "B" -> 5L))
    // equals the window-rank reference on the same priority value
    val pri = pmod(Pipeline.wordHash32(col("id").cast("string")),
      lit(1000000L)) * lit(1099511627776L) + pmod(col("id"), lit(1099511627776L))
    val expected = df.withColumn("pri", pri)
      .withColumn("rn", org.apache.spark.sql.functions.row_number()
        .over(Window.partitionBy("s").orderBy("pri")))
      .filter(col("rn") <= 5).select("id").collect().map(_.getLong(0)).toSet
    assert(got.select("id").collect().map(_.getLong(0)).toSet == expected)
    // deterministic: a second run returns the identical set
    assert(graft.ops.Sampling.prioritySample(df, "id", "s", k = 5)
      .select("id").collect().map(_.getLong(0)).toSet == expected)
  }

  test("boundary overlaps detect stitched shards, directionally") {
    import spark.implicits._
    val docs = Seq(
      (1L, "aa bb cc dd ee ff"),   // ends "ee ff"
      (2L, "ee ff gg hh ii jj"),   // starts "ee ff" -> 1 precedes 2
      (3L, "zz"),                  // shorter than k: exempt
      (4L, "qq rr ss tt uu vv")    // no seam
    ).toDF("doc_id", "text")
    val got = graft.ops.TextStats.boundaryOverlaps(docs, "doc_id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(got.toSet == Set((1L, 2L, "ee ff")), s"got ${got.toSeq}")
    // direction matters: the reversed pair is NOT reported
    assert(!got.contains((2L, 1L, "ee ff")))
  }

  test("canary scan reports hits, first doc, and zero-hit tripwires") {
    import spark.implicits._
    val docs = Seq(
      (10L, "clean text with nothing odd"),
      (11L, "contains the CANARY-XYZ sentinel today"),
      (12L, "another CANARY-XYZ carrier"),
      (13L, "substring canaries match inside tokensCANARY-XYZhere too")
    ).toDF("doc_id", "text")
    val got = graft.ops.Search.canaryHits(docs, "doc_id", "text",
        Seq("CANARY-XYZ", "never-fires"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    // raw substring: the mid-token occurrence in doc 13 counts
    assert(got("CANARY-XYZ") == ((3L, Some(11L))))
    // the zero-hit tripwire still gets its row — silence is a result
    assert(got("never-fires") == ((0L, None)))
  }

  test("incremental ingest drops warehouse and in-batch duplicates, keeps novel content") {
    import spark.implicits._
    val warehouse = Seq((1L, "alpha body"), (2L, "beta body")).toDF("doc_id", "text")
    val batch = Seq(
      (100L, "alpha body"),   // warehouse dup -> dropped
      (101L, "gamma body"),   // novel
      (102L, "delta body"),   // novel
      (103L, "gamma body")    // in-batch dup of 101 -> dropped
    ).toDF("doc_id", "text")
    val got = graft.ops.Diff.dedupAgainst(batch, warehouse, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(101L -> "gamma body", 102L -> "delta body"))
    // idempotent: appending the survivors and re-gating the same batch
    // yields nothing new
    val appended = warehouse.unionAll(Seq((101L, "gamma body"),
      (102L, "delta body")).toDF("doc_id", "text"))
    assert(graft.ops.Diff.dedupAgainst(batch, appended, "doc_id", "text")
      .count() == 0)
  }

  test("linear model scoring: weighted token sums plus bias, zero-match docs score bias") {
    import spark.implicits._
    val docs = Seq(
      (1L, "join join the"),          // 250*2 - 50 + bias
      (2L, "nothing relevant here"),  // bias only
      (3L, "hash a a scan")           // 150 - 30*2 + 100 + bias
    ).toDF("doc_id", "text")
    val weights = Seq(("join", 250L), ("hash", 150L), ("scan", 100L),
      ("the", -50L), ("a", -30L)).toDF("t", "wt")
    val got = graft.ops.TextStats.linearScore(docs, "doc_id", "text",
        weights, "t", "wt", bias = 100L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 550L, 2L -> 100L, 3L -> 290L))
  }

  test("embedding drift: identical snapshots ~1, orthogonal 0, opposite -1") {
    import spark.implicits._
    def vec(axis: Int, sign: Double) =
      (0 until 8).map(d => if (d == axis) sign else 0.0)
    val a = (0L until 10L).map(i => (i, vec(0, 1.0))).toDF("vec_id", "embedding")
    val same = Similarity.embeddingDrift(a, a, "embedding", dims = 8).head()
    assert(same.getLong(0) == 10L && same.getLong(1) == 10L)
    assert(math.abs(same.getDouble(2) - 1.0) < 1e-12)
    val ortho = (0L until 4L).map(i => (i, vec(1, 1.0))).toDF("vec_id", "embedding")
    assert(Similarity.embeddingDrift(a, ortho, "embedding", dims = 8)
      .head().getDouble(2) == 0.0)
    val opposite = (0L until 4L).map(i => (i, vec(0, -1.0))).toDF("vec_id", "embedding")
    assert(math.abs(Similarity.embeddingDrift(a, opposite, "embedding", dims = 8)
      .head().getDouble(2) + 1.0) < 1e-12)
  }

  test("bm25 ranking matches the integer formula and orders by relevance") {
    import spark.implicits._
    val docs = Seq(
      (1L, "aa aa bb xx yy"),           // dl=5, tf(aa)=2, tf(bb)=1
      (2L, "aa xx yy zz ww vv uu tt"),  // dl=8, tf(aa)=1
      (3L, "bb bb bb cc dd"),           // dl=5, tf(bb)=3
      (4L, "pp qq rr ss tt uu")         // no query terms
    ).toDF("doc_id", "text")
    val got = graft.ops.Search.bm25Search(docs, "doc_id", "text",
        Seq("aa", "bb"), k = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    // hand-rolled replica of the documented integer formula
    val n = 4L; val avgdl = (5L + 8L + 5L + 6L) / n
    val dfT = Map("aa" -> 2L, "bb" -> 2L)
    def term(tf: Long, dl: Long, df: Long): Long = {
      val idf = ((n - df) * 1000L + 500L) / (2 * df + 1)
      idf * (44 * tf * avgdl) / (20 * tf * avgdl + 6 * avgdl + 18 * dl)
    }
    val expected = Map(
      1L -> (term(2, 5, dfT("aa")) + term(1, 5, dfT("bb"))),
      2L -> term(1, 8, dfT("aa")),
      3L -> term(3, 5, dfT("bb")))
    assert(got.toMap == expected)
    // ranked: higher score first, no-term doc absent
    assert(got.map(_._1).toSeq == expected.toSeq.sortBy { case (id, s) => (-s, id) }.map(_._1))
    assert(!got.map(_._1).contains(4L))
    // tf saturation: tripling tf must NOT triple the term score
    assert(term(3, 5, 2) < 3 * term(1, 5, 2))
    // rarer term outweighs a common one at equal tf/dl
    assert(term(1, 5, 1) > term(1, 5, 3))
  }

  test("deterministic shuffle is a stable, seeded permutation") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val df = (0L until 200L).toDF("doc_id")
    val a = graft.ops.Sampling.deterministicShuffle(df, "doc_id", "s1")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // a permutation: positions are exactly 1..n
    assert(a.values.toSeq.sorted == (1L to 200L))
    // deterministic across runs
    val a2 = graft.ops.Sampling.deterministicShuffle(df, "doc_id", "s1")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == a2)
    // a different seed is a different permutation
    val b = graft.ops.Sampling.deterministicShuffle(df, "doc_id", "s2")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a != b)
    // equals the single-window reference order
    val ref = df.withColumn("_h", Pipeline.wordHash32(
        concat(lit("s1_"), col("doc_id").cast("string"))))
      .withColumn("pos", org.apache.spark.sql.functions.row_number()
        .over(Window.orderBy(col("_h"), col("doc_id"))).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(a == ref)
  }

  test("source divergence charges exactly the hand-computed TV distance") {
    import spark.implicits._
    // s1: a a b (n=3), s2: b c c (n=3); corpus: a=2 b=2 c=2, N=6
    // TV(s1) = (|2/3-1/3| + |1/3-1/3| + |0-1/3|)/2 = 1/3 -> 333333 ppm
    val docs = Seq(("s1", "a a b"), ("s2", "b c c")).toDF("source", "text")
    val tot = graft.ops.TextStats.totalTokens(docs, "text")
    assert(tot == 6L)
    val res = graft.ops.TextStats.sourceDivergence(docs, "source", "text", tot)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(res == Map("s1" -> (3L, 333333L), "s2" -> (3L, 333333L)))
    // a source identical to the corpus mixture diverges by 0
    val same = Seq(("x", "a b c"), ("y", "a b c")).toDF("source", "text")
    val res2 = graft.ops.TextStats
      .sourceDivergence(same, "source", "text", 6L)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(res2 == Map("x" -> 0L, "y" -> 0L))
  }

  test("collocations rank by the exact integer independence lift") {
    import spark.implicits._
    // "x y" occurs 5 times, unigrams x=5 y=5, N=20:
    // lift_ppm = 1e6 * 5 * 20 / (5*5) = 4_000_000 (= 4x independence)
    val docs = Seq("x y x y x y x y x y", "p q p q p q p q p q")
      .toDF("text")
    val res = graft.ops.TextStats.collocations(docs, "text", 20L,
        minCount = 5, k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // "y x" / "q p" occur only 4 times -> suppressed by minCount
    assert(res.toSeq == Seq(("p q", 5L, 4000000L), ("x y", 5L, 4000000L)))
  }

  test("pageRank matches the hand-iterated integer fixed point") {
    import spark.implicits._
    // 2-cycle: contrib 1000 div 1 -> 150 + 850 = 1000; a fixed point
    val cyc = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val prCyc = graft.ops.Graph.pageRank(cyc, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(prCyc == Map(1L -> 1000L, 2L -> 1000L))
    // star a-b, a-c (doubled): hand-iterated milli values
    val star = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L)).toDF("src", "dst")
    val it1 = graft.ops.Graph.pageRank(star, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(it1 == Map(1L -> 1850L, 2L -> 575L, 3L -> 575L), s"got $it1")
    val it2 = graft.ops.Graph.pageRank(star, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(it2 == Map(1L -> 1127L, 2L -> 936L, 3L -> 936L), s"got $it2")
    // DIRECTED chain 1->2->3: the source-only node must stay in the
    // frame at base rank (not silently drop out), still feeding its
    // out-edge every iteration; the sink accumulates
    val chain = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val d2 = graft.ops.Graph.pageRank(chain, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // iter2: pr(2) = 150 + 850*floor(150/1)//1000 = 277; pr(3) takes
    // iter-1 pr(2) = 1000
    assert(d2 == Map(1L -> 150L, 2L -> 277L, 3L -> 1000L), s"got $d2")
  }

  test("pageRank dangling-mass redistribution: hand-iterated + fixed point") {
    import spark.implicits._
    // no sinks -> redistribution is the identity: the 2-cycle fixed
    // point holds bit-for-bit with the flag on
    val cyc = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val prCyc = graft.ops.Graph.pageRank(cyc, iters = 3,
        redistributeDangling = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(prCyc == Map(1L -> 1000L, 2L -> 1000L), s"got $prCyc")
    // directed 1->2 (node 2 a sink), N=2, hand-iterated:
    // iter1: dm=1000, share=500
    //   pr(1) = 150 + 850*(0+500)//1000    = 575
    //   pr(2) = 150 + 850*(1000+500)//1000 = 1425
    // iter2: dm=1425, share=712; contrib(2)=575
    //   pr(1) = 150 + 850*712//1000        = 755
    //   pr(2) = 150 + 850*(575+712)//1000  = 1243
    val edge = Seq((1L, 2L)).toDF("src", "dst")
    val it1 = graft.ops.Graph.pageRank(edge, iters = 1,
        redistributeDangling = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(it1 == Map(1L -> 575L, 2L -> 1425L), s"got $it1")
    val it2 = graft.ops.Graph.pageRank(edge, iters = 2,
        redistributeDangling = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(it2 == Map(1L -> 755L, 2L -> 1243L), s"got $it2")
    // mass conservation up to integer floors: leak variant loses the
    // whole sink mass instead
    assert(it2.values.sum == 1998L)
  }

  test("transition matrix counts per-user consecutive pairs with exact ppm rows") {
    import spark.implicits._
    // u1: A,B,A,C -> A->B, B->A, A->C; u2: A,B -> A->B
    val ev = Seq((1L, 1L, 10L, "A"), (1L, 2L, 20L, "B"),
        (1L, 3L, 30L, "A"), (1L, 4L, 40L, "C"),
        (2L, 5L, 10L, "A"), (2L, 6L, 20L, "B"))
      .toDF("user_id", "event_id", "tus", "event_type")
    val m = graft.ops.Events.transitionMatrix(ev, "user_id", "event_type",
        Seq("tus", "event_id"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(m == Map(
      ("A", "B") -> (2L, 666666L),  // 2 of 3 transitions out of A
      ("A", "C") -> (1L, 333333L),
      ("B", "A") -> (1L, 1000000L)), s"got $m")
  }

  test("heavy hitters equal the window-form reference per stratum") {
    import spark.implicits._
    val docs = Seq(("s1", "a a a b b c"), ("s2", "z z y")).toDF("source", "text")
    val hh = graft.ops.TextStats.heavyHitters(docs, "source", "text", k = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(hh == Set(("s1", "a", 3L), ("s1", "b", 2L), ("s2", "z", 2L), ("s2", "y", 1L)))
    // corpus-scale check: set equality with the window formulation
    val corpus = Tables.documents(spark, sf)
    val viaOp = graft.ops.TextStats.heavyHitters(corpus, "source", "text", k = 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val w = org.apache.spark.sql.expressions.Window.partitionBy("stratum")
      .orderBy(col("_ord").desc)
    val viaWindow = corpus
      .select(col("source").as("stratum"), explode(Pipeline.words(col("text"))).as("t"))
      .groupBy("stratum", "t").agg(count(lit(1)).cast("long").as("n"))
      .withColumn("_ord", col("n") * 4294967296L + Pipeline.wordHash32(col("t")))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(viaOp == viaWindow)
  }

  test("farthest-point sample walks the geometry greedily") {
    import spark.implicits._
    val e = Seq(
      (0L, Seq(1.0, 0.0, 0.0)),
      (1L, Seq(1.0, 0.01, 0.0)),  // near-duplicate of 0
      (2L, Seq(0.0, 1.0, 0.0)),
      (3L, Seq(0.0, 0.0, 1.0))
    ).toDF("vec_id", "embedding")
    val picks = Similarity.farthestPointSample(e, "vec_id", "embedding",
        k = 4, seedId = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    // seed 0; then an orthogonal axis (lowest id 2); then the other
    // axis (3, still orthogonal to both); the near-dup of the seed last
    assert(picks.map(_._2).toSeq == Seq(0L, 2L, 3L, 1L), s"got ${picks.toSeq}")
    assert(picks(0)._3.isEmpty)
    assert(math.abs(picks(1)._3.get) < 1e-12)      // orthogonal to seed
    assert(math.abs(picks(2)._3.get) < 1e-12)      // orthogonal to both
    assert(picks(3)._3.get > 0.99)                 // the near-dup
  }

  test("exact quantiles return the value at the exact ceil rank") {
    import spark.implicits._
    val df = (1L to 10L).map(i => (i, i * 10)).toDF("doc_id", "v")
    val q = graft.ops.Ranking.exactQuantiles(df, "v", Seq(col("doc_id")),
        Seq(1, 500, 900, 1000))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(q == Map(
      1L -> (1L, 10L),       // ceil(0.001*10) = 1
      500L -> (5L, 50L),     // the lower median
      900L -> (9L, 90L),
      1000L -> (10L, 100L)), s"got $q")
  }

  test("shard assignment is deterministic, in-range, and formula-exact") {
    import spark.implicits._
    val df = (0L until 100L).toDF("doc_id")
    val a = graft.ops.Sampling.assignShards(df, "doc_id", 8, seed = "s")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a.values.forall(s => s >= 0 && s < 8))
    // every shard populated on 100 keys (uniformity smoke)
    assert(a.values.toSet.size == 8)
    // formula-exact vs the hash expression it documents
    val ref = df.select(col("doc_id"), pmod(Pipeline.wordHash32(
        concat(lit("s_"), col("doc_id").cast("string"))), lit(8L)).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == ref)
  }

  test("skip-gram collocations count all offsets within the window") {
    import spark.implicits._
    // five "x a y" docs: j=1 gives (x,a),(a,y); j=2 gives (x,y);
    // one "p p p p p" doc: (p,p) at j=1 (4) + j=2 (3) + j=3 (2) = 9
    val docs = (Seq.fill(5)("x a y") :+ "p p p p p").toDF("text")
    val res = graft.ops.TextStats.collocations(docs, "text", 20L,
        minCount = 5, k = 10, window = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // lift(p p) = 1e6*9*20/(5*5) = 7_200_000; the x/a/y pairs all
    // 1e6*5*20/(5*5) = 4_000_000, tie-broken alphabetically
    assert(res.toSeq == Seq(
      ("p p", 9L, 7200000L),
      ("a y", 5L, 4000000L), ("x a", 5L, 4000000L), ("x y", 5L, 4000000L)),
      s"got ${res.toSeq}")
  }

  test("score margin picks top/second and a scale-invariant ppm margin") {
    import spark.implicits._
    val df = Seq((1L, 10L, 5L, 2L), (2L, 0L, 0L, 0L), (3L, 7L, 7L, 1L))
      .toDF("id", "s_a", "s_b", "s_c")
    val m = graft.ops.TextStats.scoreMargin(df, "id", Seq("s_a", "s_b", "s_c"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(m == Map(
      1L -> (10L, 5L, 500000L),
      2L -> (0L, 0L, 0L),       // zero top score -> fully ambiguous
      3L -> (7L, 7L, 0L)))      // exact tie -> zero margin
  }

  test("source entropy charges bit-lengths under the corpus unigram model") {
    import spark.implicits._
    // corpus a=2, b=2, N=4: each token worth floor(log2(4/2)) = 1 bit
    val docs = Seq(("s1", "a a"), ("s2", "b b")).toDF("source", "text")
    val e = graft.ops.TextStats.sourceEntropy(docs, "source", "text", 4L)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(e == Map("s1" -> (2L, 2L, 1000L), "s2" -> (2L, 2L, 1000L)))
    // a single-token corpus has zero information content
    val uni = Seq(("u", "a a a a")).toDF("source", "text")
    val e2 = graft.ops.TextStats.sourceEntropy(uni, "source", "text", 4L)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(e2 == Map("u" -> 0L))
  }

  test("round-8 operators fail loudly or return empty on degenerate inputs") {
    import spark.implicits._
    val empty = Seq.empty[(String, String)].toDF("source", "text")
    // guarded preconditions fire instead of emitting div-by-zero junk
    intercept[IllegalArgumentException] {
      graft.ops.TextStats.sourceDivergence(empty, "source", "text", 0L) }
    intercept[IllegalArgumentException] {
      graft.ops.Ranking.exactQuantiles(
        Seq.empty[(Long, Long)].toDF("id", "v"), "v", Seq(col("id")), Seq(500)) }
    intercept[IllegalArgumentException] {
      graft.ops.Graph.pageRank(Seq((1L, 2L)).toDF("src", "dst"), iters = 0) }
    // unreachable minCount / short docs return EMPTY, never throw
    assert(graft.ops.TextStats.collocations(
      Seq("a b").toDF("text"), "text", 2L, minCount = 5).isEmpty)
    assert(graft.ops.TextStats.heavyHitters(empty, "source", "text").isEmpty)
    assert(Dedup.winnowedPairs(
      Seq((1L, "one two three"), (2L, "one two three")).toDF("doc_id", "text"),
      "doc_id", "text").isEmpty)  // 3 tokens < k + window - 1
  }

  test("BPE training learns the hand-computed merge sequence greedily") {
    import spark.implicits._
    // word freq: aaa x3, ab x2. Hand-run:
    //   step 1: (a,a) 2 per "aaa" x3 = 6 beats (a,b) 2 -> merge "aa";
    //           "aaa" -> [aa, a] (GREEDY left-to-right, not [a, aa])
    //   step 2: (aa,a) 3 beats (a,b) 2 -> merge "aaa"
    //   step 3: (a,b) 2 is all that remains -> merge "ab"
    //   step 4: no pairs left -> table ends at 3 rows
    val docs = Seq("aaa aaa ab", "aaa ab").toDF("text")
    val scope = new CacheScope
    val table = graft.ops.TextStats.bpeTrain(docs, "text", merges = 4, scope)
    val got = table.orderBy("step").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      (1L, "a", "a", "aa", 6L),
      (2L, "aa", "a", "aaa", 3L),
      (3L, "a", "b", "ab", 2L)))
    scope.release()

    // even-run greedy rule: "aaaa" + (a,a) -> [aa, aa] (so step 2's
    // top pair is (aa,aa) with the full word frequency, which the
    // non-greedy [aa, a, a] segmentation could not produce)
    val runs = Seq("aaaa aaaa").toDF("text")
    val scope2 = new CacheScope
    val t2 = graft.ops.TextStats.bpeTrain(runs, "text", merges = 3, scope2)
    val got2 = t2.orderBy("step").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    assert(got2.toSeq == Seq(
      (1L, "a", "a", "aa", 2L * 3),
      (2L, "aa", "aa", "aaaa", 2L)))
    scope2.release()
  }

  test("BPE apply counts real subword tokens under the learned merges") {
    import spark.implicits._
    val docs = Seq((1L, "aaa aaa ab"), (2L, "aaa ab")).toDF("doc_id", "text")
    val full = graft.ops.TextStats.bpeTrain(docs, "text", merges = 4)
    val gotFull = graft.ops.TextStats
      .bpeSegmentCounts(docs, "doc_id", "text", full)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // all three merges learned -> every word collapses to one token
    assert(gotFull.toSeq == Seq((1L, 3L, 3L), (2L, 2L, 2L)))
    // only the first merge -> "aaa" = [aa, a], "ab" = [a, b]: 2 each
    val one = graft.ops.TextStats.bpeTrain(docs, "text", merges = 1)
    val gotOne = graft.ops.TextStats
      .bpeSegmentCounts(docs, "doc_id", "text", one)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(gotOne.toSeq == Seq((1L, 3L, 6L), (2L, 2L, 4L)))
  }

  test("packing on BPE counts bins by the real token mass") {
    import spark.implicits._
    // budget 5: s-source docs pack on their BPE masses (3, 3, 2 under
    // the full merge set -> cum_before 0, 3, 6 -> bins 0, 0, 1), which
    // differ from the chars/4 heuristic (would be 3/3/1 -> all bin 0)
    val docs = Seq(
      (1L, "s", "aaa aaa ab"), (2L, "s", "aaa aaa ab"),
      (3L, "s", "aaa ab"), (4L, "t", "aaa ab")).toDF("doc_id", "source", "text")
    val merges = graft.ops.TextStats.bpeTrain(docs, "text", merges = 4)
    val counts = graft.ops.TextStats
      .bpeSegmentCounts(docs, "doc_id", "text", merges)
    val withSrc = docs.select("doc_id", "source")
      .join(counts.select(col("doc_id"), col("n_bpe_tokens").as("n_tok")),
        Seq("doc_id"))
    val got = graft.ops.Sampling
      .packSequences(withSrc, "doc_id", "source", "n_tok", budget = 5L)
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tok"),
        r.getAs[Long]("bin")))
    assert(got.toSeq == Seq((1L, 3L, 0L), (2L, 3L, 0L), (3L, 2L, 1L),
      (4L, 2L, 0L)))
  }

  test("duplicated spans vanish from every doc; survivors keep order") {
    import spark.implicits._
    // "a b c d" occurs in 3 docs (df 3 >= 2) -> removed everywhere,
    // including mid-document; unique spans and the short tail survive
    val docs = Seq(
      (1L, "a b c d x y z w"),
      (2L, "p q r s a b c d"),
      (3L, "a b c d"),
      (4L, "m n o")).toDF("doc_id", "text")
    val got = graft.ops.TextStats
      .stripDuplicateSpans(docs, "doc_id", "text", span = 4, minDf = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_spans"),
        r.getAs[Long]("n_removed"), r.getAs[String]("text")))
    assert(got.toSeq == Seq(
      (1L, 2L, 1L, "x y z w"),
      (2L, 2L, 1L, "p q r s"),
      (3L, 1L, 1L, ""),
      (4L, 1L, 0L, "m n o")))
  }

  test("encoding QA counts each broken-decode signature exactly") {
    import spark.implicits._
    val docs = Seq(
      (1L, "perfectly clean ascii text"),
      (2L, "repl \ufffd here \ufffd\ufffd end"),
      (3L, "moji \u00c3\u00a9 \u00c2\u00a0 mixed \u00c3"),
      (4L, "ctl \u0000 \u0007 and \u001b \u009d")).toDF("doc_id", "text")
    val got = graft.ops.TextStats.encodingQa(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_repl"),
        r.getAs[Long]("n_moji"), r.getAs[Long]("n_ctrl"),
        r.getAs[Boolean]("flagged")))
    assert(got.toSeq == Seq(
      (1L, 0L, 0L, 0L, false),
      (2L, 3L, 0L, 0L, true),
      (3L, 0L, 3L, 0L, true), // two Ã + one Â; é and NBSP NOT counted
      (4L, 0L, 0L, 4L, true)))
  }

  test("tokenizer fertility is the exact ppm ratio per group") {
    import spark.implicits._
    val counts = Seq(
      (1L, "en", 2L, 5L), (2L, "en", 3L, 7L), (3L, "de", 2L, 2L))
      .toDF("doc_id", "lang", "n_words", "n_bpe_tokens")
    val got = graft.ops.TextStats.tokenizerFertility(counts, "lang")
      .collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("n_words"),
        r.getAs[Long]("n_bpe_tokens"), r.getAs[Long]("fertility_ppm")))
    assert(got.toSeq == Seq(("de", 2L, 2L, 1000000L),
      ("en", 5L, 12L, 2400000L))) // (12 * 1e6) div 5
  }

  test("RRF fusion sums integer reciprocal ranks, absent side = 0") {
    import spark.implicits._
    val a = Seq((1L, 30L), (2L, 20L), (3L, 10L)).toDF("doc_id", "score")
    val b = Seq((2L, 9L), (4L, 8L)).toDF("doc_id", "score")
    val got = graft.ops.Search.rrfFuse(a, b, "doc_id", k = 10)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"),
        Option(r.getAs[java.lang.Long]("rank_a")).map(_.toLong),
        Option(r.getAs[java.lang.Long]("rank_b")).map(_.toLong),
        r.getAs[Long]("rrf_micro")))
    // 1e6 div 61 = 16393, div 62 = 16129, div 63 = 15873
    assert(got.toSeq == Seq(
      (2L, Some(2L), Some(1L), 32522L), // both lists -> sums
      (1L, Some(1L), None, 16393L),
      (4L, None, Some(2L), 16129L),
      (3L, Some(3L), None, 15873L)))
  }

  test("host extraction handles userinfo, ports, case, and junk URLs") {
    import spark.implicits._
    val urls = Seq(
      "https://example.com/path",
      "http://Sub.Example.COM:8080/x?q=1",
      "ftp://user:pw@Files.example.org/pub",
      "https://bare-host.net",
      "https://h.example.com#frag",
      "not a url at all")
      .toDF("url")
    val got = urls.select(graft.ops.Web.host(col("url")).as("h"))
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("example.com", "sub.example.com",
      "files.example.org", "bare-host.net", "h.example.com", ""))
  }

  test("host cap sample keeps small hosts whole and thins big ones") {
    import spark.implicits._
    // host a.com: 40 docs, host b.com: 2 docs; cap 10
    val docs = ((1L to 40L).map(i => (i, s"https://a.com/$i")) ++
        Seq((101L, "https://b.com/x"), (102L, "https://b.com/y")))
      .toDF("doc_id", "url")
    val got = graft.ops.Web.hostCapSample(docs, "doc_id", "url",
      maxDocsPerHost = 10).collect()
    val byHost = got.groupBy(_.getAs[String]("host"))
    // under-cap host: ppm = 1e6, everything kept
    assert(byHost("b.com").length == 2)
    assert(byHost("b.com").forall(_.getAs[Long]("keep_ppm") == 1000000L))
    // over-cap host: ppm = 250000, kept set is the md5-slot subset
    val aKept = byHost.getOrElse("a.com", Array.empty)
    assert(aKept.forall(_.getAs[Long]("keep_ppm") == 250000L))
    val expected = (1L to 40L).filter { i =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(i.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      java.lang.Long.parseLong(hex, 16) % 1000000L < 250000L
    }.toSet
    assert(aKept.map(_.getAs[Long]("doc_id")).toSet == expected)
  }

  test("length histogram buckets docs by power-of-two token count") {
    import spark.implicits._
    val docs = Seq("t", "t t t", "t t t t", "t t t t t t t",
        "t t t t t t t t").toDF("text")
    val res = graft.ops.TextStats.lengthHistogram(docs, "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(res.toSeq == Seq(
      1L -> (1L, 1L, 1L, 1L),   // the 1-token doc
      2L -> (1L, 3L, 3L, 3L),   // 3 tokens -> [2,4)
      4L -> (2L, 11L, 4L, 7L),  // 4 and 7 tokens -> [4,8)
      8L -> (1L, 8L, 8L, 8L)))  // 8 tokens -> [8,16)
  }

  test("KMV sketch: merge of shard sketches equals the direct sketch; " +
    "small groups estimate exactly; estimator lands within 4 RSE") {
    import spark.implicits._
    import graft.ops.Sketches
    val k = 32
    // group "big": 5000 distinct values; group "small": 7 distinct
    val vals = ((1 to 5000).map(i => ("big", s"v$i")) ++
      (1 to 7).map(i => ("small", s"s$i")) ++
      (1 to 500).map(i => ("big", s"v$i"))) // duplicates must not matter
      .toDF("g", "v")
    val direct = Sketches.kmvSketch(vals, Seq("g"), "v", k)
    // shard by value hash parity, sketch each shard, merge
    val shards = vals.withColumn("_p",
      pmod(graft.Pipeline.wordHash32(col("v")), lit(3)))
    val merged = Sketches.kmvMerge(
      Sketches.kmvSketch(shards, Seq("g", "_p"), "v", k), Seq("g"), k)
    val d = direct.collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val m = merged.collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(d == m, "merged shard sketches must equal the direct sketch")
    val est = Sketches.kmvEstimate(direct, k)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(est("small") == 7L, "under-k groups are exact by construction")
    // RSE for bottom-k is ~1/sqrt(k-2); 4 sigma on 5000 distinct
    val rse = 1.0 / math.sqrt(k - 2.0)
    assert(math.abs(est("big") - 5000.0) < 4 * rse * 5000,
      s"estimate ${est("big")} too far from 5000")
  }

  test("canonicalUrl: every rule, one assertion each") {
    import spark.implicits._
    import graft.ops.Web
    val cases = Seq(
      // scheme + host case, userinfo, default port, fragment, slash
      "HTTP://user:pw@WWW.Example.COM:80/A/b/?q=1#frag" ->
        "http://example.com/A/b/?q=1",
      "https://example.com:443/" -> "https://example.com",
      "https://example.com:8443/x" -> "https://example.com:8443/x",
      "http://www.example.com" -> "http://example.com",
      // path case preserved; non-www subdomain kept
      "https://cdn.Example.com/KeepCase" -> "https://cdn.example.com/KeepCase",
      // wwwx is not www.
      "http://wwwx.example.com/p" -> "http://wwwx.example.com/p",
      "not a url" -> "")
    val got = cases.map(_._1).toDF("url")
      .select(col("url"), Web.canonicalUrl(col("url")).as("c"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (in, want) =>
      assert(got(in) == want, s"canonicalUrl($in)") }
  }

  test("blocklistFilter: domain entry blocks subdomains, host entry " +
    "blocks exactly; survivors keep their columns") {
    import spark.implicits._
    import graft.ops.Web
    val docs = Seq(
      (1L, "https://spamfarm.biz/a"),        // blocked: bare domain
      (2L, "https://x.spamfarm.biz/b"),      // blocked: suffix
      (3L, "https://deep.x.spamfarm.biz/c"), // blocked: 2-deep suffix
      (4L, "https://cdn2.mixed.net/d"),      // blocked: exact host
      (5L, "https://cdn3.mixed.net/e"),      // kept: sibling host
      (6L, "https://mixed.net/f"),           // kept: bare domain not listed
      (7L, "https://goodsite.org/g"))        // kept
      .toDF("doc_id", "url")
    val block = Seq("spamfarm.biz", "cdn2.mixed.net").toDF("domain")
    val kept = Web.blocklistFilter(docs, "doc_id", "url", block)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(5L, 6L, 7L))
  }

  test("qualityLogit: hand-computed features and gate on a known doc") {
    import spark.implicits._
    val docs = Seq((1L, "the cat sat on the mat")).toDF("doc_id", "text")
    val r = graft.ops.TextStats.qualityLogit(docs, "doc_id", "text")
      .collect()(0)
    assert(r.getLong(1) == 1000000L * 5 / 6, "ttr: 5 distinct of 6")
    assert(r.getLong(2) == 1000000L * 2 / 6, "stop: two 'the' of 6")
    assert(r.getLong(3) == 1000L * 17 / 6, "mwl: 17 word chars over 6")
    val logit = -5000000L + 8 * r.getLong(1) + 6 * r.getLong(2) + 300 * r.getLong(3)
    assert(r.getLong(4) == logit)
    assert(r.getBoolean(5) == (logit >= 0))
  }

  test("htmlExtract: script with a '<' inside, style, entities, nested " +
    "link markup, whitespace collapse") {
    import spark.implicits._
    val html = "<html><head><style>p{x}</style>" +
      "<script>if(a<b){alert(1)}</script></head>" +
      "<body><h1>Title</h1><p>Hello &amp; welcome</p>" +
      "<a href=\"/x\"><b>bold link</b></a> tail&nbsp;end</body></html>"
    val r = graft.ops.Web.htmlExtract(
      Seq((1L, html)).toDF("doc_id", "html"), "doc_id", "html")
      .collect()(0)
    assert(r.getString(1) == "Title Hello & welcome bold link tail end")
    assert(r.getLong(2) == 40L)
    assert(r.getLong(3) == 9L, "link chars = len('bold link')")
    assert(r.getLong(4) == 1000000L * 9 / 40)
  }

  test("gopherRules: each rule trips on its target document") {
    import spark.implicits._
    val good = ("the quick brown fox jumps over a lazy dog while seven " +
      "wizards brew strong potions at dawn and they chant of old rites " +
      "that have kept with time ") * 2 + "end word here now"  // > 50 tokens
    val docs = Seq(
      (1L, good),                                   // passes all
      (2L, "the a short doc"),                      // fails wordcount only
      (3L, good + " ### ### ### ### ### ### ### ### ### ### ### ### " +
        "### ### ### ### ### ### ### ###"),         // fails symbols
      (4L, (1 to 60).map(_.toString).mkString(" ") + " the a"), // fails alpha
      (5L, Seq.fill(12)("wizard potion spell rune glyph")
        .mkString(" ")))                            // 60 tokens, no stopwords
      .toDF("doc_id", "text")
    val res = graft.ops.TextStats.gopherRules(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getBoolean(6), r.getBoolean(7),
        r.getBoolean(8), r.getBoolean(9), r.getBoolean(10), r.getBoolean(11)))
      .toMap
    assert(res(1L) == ((true, true, true, true, true, true)))
    assert(!res(2L)._1 && !res(2L)._6 && res(2L)._3 && res(2L)._4)
    assert(!res(3L)._3, "symbol-heavy doc must fail r_symbols")
    assert(!res(4L)._5, "digit doc must fail r_alpha")
    assert(!res(5L)._4, "stopword-stripped doc must fail r_stopwords")
  }

  test("templateFingerprint: same skeleton different text -> same hash; " +
    "one extra tag -> different hash") {
    import spark.implicits._
    val docs = Seq(
      (1L, "<html><body><p>alpha text</p></body></html>"),
      (2L, "<html><body><p>totally different words</p></body></html>"),
      (3L, "<html><body><p>alpha text</p><img src='x'/></body></html>"))
      .toDF("doc_id", "html")
    val h = graft.ops.Web.templateFingerprint(docs, "doc_id", "html")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(1L) == h(2L), "text must not affect the template hash")
    assert(h(1L) != h(3L), "an extra tag must change the template hash")
  }

  test("scriptProfile: pure and mixed-script docs profile exactly") {
    import spark.implicits._
    val mix = "model \u5b66\u4e60 " +
      "\u043e\u0431\u0443\u0447\u0435\u043d\u0438\u0435 123 train"
    val docs = Seq(
      (1L, "\u6df1\u5ea6 \u5b66\u4e60"),  // 4 CJK chars
      (2L, mix))                           // 10 latin, 2 cjk, 8 cyr, 3 digit
      .toDF("doc_id", "text")
    val r = graft.ops.TextStats.scriptProfile(docs, "doc_id", "text")
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4), x.getLong(5)))
      .toMap
    assert(r(1L) == ((4L, 0L, 1000000L, 0L, 0L)))
    val n = 23L
    assert(r(2L) == ((n, 1000000L * 10 / n, 1000000L * 2 / n,
      1000000L * 8 / n, 1000000L * 3 / n)))
  }

  test("hits: hand-iterated bipartite graph, integer-exact") {
    import spark.implicits._
    // 1 -> 3, 2 -> 3, 2 -> 4: hubs {1,2}, authorities {3,4}
    val edges = Seq((1L, 3L), (2L, 3L), (2L, 4L)).toDF("src", "dst")
    val r = graft.ops.Graph.hits(edges, iters = 2)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    // iter1: a_raw(3)=2e6, a_raw(4)=1e6, tot 3e6 -> a(3)=666666, a(4)=333333
    //        h_raw(1)=666666, h_raw(2)=999999, tot 1666665 -> norm 1
    // iter2: a_raw(3)=1666665, a_raw(4)=999999, tot 2666664 -> norm 2
    //        -> a(3)=833332, a(4)=499999
    //        h_raw(1)=833332, h_raw(2)=1333331, tot 2166663 -> norm 2
    //        -> h(1)=416666, h(2)=666665
    assert(r(1L) == ((416666L, 0L)))
    assert(r(2L) == ((666665L, 0L)))
    assert(r(3L) == ((0L, 833332L)))
    assert(r(4L) == ((0L, 499999L)))
  }

  test("contextBlocks: stream offsets, spans, and the frag flag") {
    import spark.implicits._
    val docs = Seq((1L, 300L), (2L, 300L), (3L, 50L), (4L, 600L), (5L, 0L))
      .toDF("doc_id", "n_tok")
    val r = graft.ops.Sampling.contextBlocks(docs, "doc_id", "n_tok", 512L)
      .collect().map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("tok_start"), x.getAs[Long]("first_block"),
          x.getAs[Long]("last_block"), x.getAs[Long]("n_blocks"),
          x.getAs[Boolean]("boundary_frag"))).toMap
    assert(r(1L) == ((0L, 0L, 0L, 1L, false)))
    assert(r(2L) == ((300L, 0L, 1L, 2L, true)), "straddles the 512 boundary")
    assert(r(3L) == ((600L, 1L, 1L, 1L, false)))
    assert(r(4L) == ((650L, 1L, 2L, 2L, true)), "600 tokens span two blocks")
    assert(r(5L) == ((1250L, 2L, 2L, 1L, false)),
      "zero-token doc occupies its start block nominally")
  }

  test("freshnessWeights halve exactly per elapsed half-life") {
    import spark.implicits._
    val rows = Seq((1L, 100L), (2L, 95L), (3L, 85L), (4L, 60L), (5L, 120L))
      .toDF("id", "day")
    val r = graft.ops.Sampling.freshnessWeights(rows, "id", col("day"),
        asOfDay = 100L, halfLifeDays = 10L)
      .collect().map(x => x.getAs[Long]("id") ->
        (x.getAs[Long]("age_days"), x.getAs[Long]("weight_ppm"),
          x.getAs[Boolean]("kept"))).toMap
    assert(r(1L)._1 == 0L && r(1L)._2 == 1000000L && r(1L)._3,
      "age 0 keeps everything")
    assert(r(2L)._2 == 1000000L, "within the first half-life, full weight")
    assert(r(3L) == ((15L, 500000L, r(3L)._3)))
    assert(r(4L) == ((40L, 62500L, r(4L)._3)), "4 half-lives = 1/16")
    assert(r(5L)._1 == 0L && r(5L)._2 == 1000000L && r(5L)._3,
      "future rows clamp to age 0")
  }

  test("repetitionRules: hand-computed top-gram and dup-gram charges") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x y x y z"),                              // 9 chars
      (2L, Seq.fill(4)("a b c").mkString(" ")),       // 23 chars, degenerate
      (3L, "hi"))                                     // too short for any gram
      .toDF("doc_id", "text")
    val r = graft.ops.TextStats.repetitionRules(docs, "doc_id", "text")
      .collect().map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("n_chars"), x.getAs[Long]("top_ppm"),
          x.getAs[Long]("dup_ppm"), x.getAs[Boolean]("pass"))).toMap
    // doc1: top 2-gram "x y" x2, len 3 -> 6 chars of 9; no dup 5-gram
    assert(r(1L) == ((9L, 1000000L * 6 / 9, 0L, false)))
    // doc2: 2-grams "a b"=4 "b c"=4 "c a"=3, tie breaks to "a b" (asc);
    // 5-grams all duplicated: counts 3+3+2, len 9 -> 72 chars "claimed"
    // of 23 (occurrence over-count can exceed 1e6 - documented)
    assert(r(2L) == ((23L, 1000000L * 12 / 23, 1000000L * 72 / 23, false)))
    // doc3: no grams at either width -> zero charges, passes
    assert(r(3L) == ((2L, 0L, 0L, true)))
  }

  test("hostDupStats counts only WITHIN-host digest repeats") {
    import spark.implicits._
    val docs = Seq(
      (1L, "https://a.com/1", "same text"),
      (2L, "https://a.com/2", "same text"),
      (3L, "https://A.com/3", "other text"),   // case-folds into a.com
      (4L, "https://b.com/1", "same text"))    // lone cross-host copy
      .toDF("doc_id", "url", "text")
    val r = graft.ops.Web.hostDupStats(docs, "url", "text")
      .collect().map(x => x.getAs[String]("host") ->
        (x.getAs[Long]("n_docs"), x.getAs[Long]("n_dup_docs"),
          x.getAs[Long]("dup_ppm"))).toMap
    assert(r("a.com") == ((3L, 2L, 666666L)))
    assert(r("b.com") == ((1L, 0L, 0L)),
      "a cross-host copy is not intra-host duplication")
  }

  test("hostLangProfile shares sum per host in integer ppm") {
    import spark.implicits._
    val docs = Seq(
      (1L, "https://a.com/1", "en"), (2L, "https://a.com/2", "en"),
      (3L, "https://a.com/3", "id"), (4L, "https://b.com/1", "en"))
      .toDF("doc_id", "url", "lang")
    val r = graft.ops.Web.hostLangProfile(docs, "url", "lang")
      .collect().map(x => (x.getAs[String]("host"), x.getAs[String]("lang")) ->
        (x.getAs[Long]("n_docs"), x.getAs[Long]("share_ppm"))).toMap
    assert(r(("a.com", "en")) == ((2L, 666666L)))
    assert(r(("a.com", "id")) == ((1L, 333333L)))
    assert(r(("b.com", "en")) == ((1L, 1000000L)))
  }

  test("dialog turnStats verdicts: alternation, role validity, token split") {
    import spark.implicits._
    val docs = Seq(
      (1L, "user: hi there | assistant: hello friend again"),
      (2L, "user: a | user: b | assistant: c"),       // alternation violated
      (3L, "user: only a question"),                  // no assistant turn
      (4L, "narrator: once upon | assistant: ok"),    // unknown role
      (5L, "assistant: unsolicited | user: what"))    // starts wrong, ends wrong
      .toDF("doc_id", "conv")
    val r = graft.ops.Dialog.turnStats(docs, "doc_id", "conv",
        delimRegex = " \\| ")
      .collect().map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("n_turns"), x.getAs[Boolean]("starts_user"),
          x.getAs[Boolean]("ends_assistant"), x.getAs[Boolean]("roles_ok"),
          x.getAs[Boolean]("alternation_ok"), x.getAs[Long]("user_tok"),
          x.getAs[Long]("asst_tok"), x.getAs[Boolean]("well_formed"))).toMap
    assert(r(1L) == ((2L, true, true, true, true, 2L, 3L, true)))
    assert(r(2L)._5 == false && r(2L)._8 == false, "user/user must fail")
    assert(r(3L) == ((1L, true, false, true, true, 3L, 0L, false)))
    assert(r(4L)._4 == false, "unknown role must fail roles_ok")
    assert(!r(5L)._2 && !r(5L)._3 && !r(5L)._8)
    // asst share: doc1 = 3 of 5 tokens
    val share = graft.ops.Dialog.turnStats(docs, "doc_id", "conv", " \\| ")
      .filter(col("doc_id") === 1L).head.getAs[Long]("asst_share_ppm")
    assert(share == 1000000L * 3 / 5)
  }

  test("promptDedup groups transcripts by first-turn body only") {
    import spark.implicits._
    val docs = Seq(
      (1L, "user: what is spark | assistant: an engine"),
      (2L, "user: what is spark | assistant: a framework"), // same prompt
      (3L, "user: what is duckdb | assistant: a database"))
      .toDF("doc_id", "conv")
    val r = graft.ops.Dialog.promptDedup(docs, "doc_id", "conv", " \\| ")
      .collect().map(x => x.getAs[Long]("keep_id") ->
        x.getAs[Long]("n_variants")).toMap
    assert(r == Map(1L -> 2L, 3L -> 1L),
      "same question with different answers must collapse to the lowest id")
  }

  test("luhnScreen: checksum separates valid PANs from near-misses") {
    import spark.implicits._
    val docs = Seq(
      (1L, "pay 4532015112830366 now"),      // valid 16-digit
      (2L, "pay 4532015112830367 now"),      // check digit broken
      (3L, "amex 378282246310005 ok"),       // valid 15-digit
      (4L, "order 123456789012 is short"),   // 12 digits: not a candidate
      (5L, "no digits at all here"),
      (6L, "two 4532015112830366 and 378282246310005 in one"))
      .toDF("doc_id", "text")
    val r = graft.ops.Redact.luhnScreen(docs, "doc_id", "text")
      .collect().map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("n_candidates"), x.getAs[Long]("n_luhn_valid"),
          x.getAs[Boolean]("flagged"))).toMap
    assert(r(1L) == ((1L, 1L, true)))
    assert(r(2L) == ((1L, 0L, false)), "failing checksum must not flag")
    assert(r(3L) == ((1L, 1L, true)))
    assert(r(4L) == ((0L, 0L, false)), "12 digits is below candidate length")
    assert(r(5L) == ((0L, 0L, false)))
    assert(r(6L) == ((2L, 2L, true)))
  }

  test("burstScreen flags days at >= factor x the type's lower median") {
    import spark.implicits._
    val events = (
      (1 to 10).map(i => ("a", 100L + i % 4)) ++        // a: days 100-103
        Seq.fill(30)(("a", 110L)) ++                    // a: burst day
        (1 to 8).map(i => ("b", 100L + i % 4))          // b: flat
      ).zipWithIndex.map { case ((t, d), i) => (i.toLong, t, d) }
      .toDF("event_id", "event_type", "day")
    val r = graft.ops.Events.burstScreen(events, "event_type", col("day"))
      .collect().map(x => (x.getAs[String]("event_type"), x.getAs[Long]("day")) ->
        (x.getAs[Long]("n"), x.getAs[Long]("med"), x.getAs[Boolean]("burst")))
      .toMap
    // a: day counts [2,2,3,3,30] -> rank (5+1)/2=3 under (n, day) -> med 3
    assert(r(("a", 110L)) == ((30L, 3L, true)), "30 >= 3x3 must flag")
    assert(!r(("a", 101L))._3 && !r(("a", 102L))._3)
    // b: [2,2,2,2] -> med 2; nothing reaches 6
    assert(r.filterKeys(_._1 == "b").values.forall(!_._3))
  }

  test("unkRate charges occurrences of below-cutoff tokens only") {
    import spark.implicits._
    val docs = Seq(
      (1L, "common common rare1 rare2"),
      (2L, "common common filler"),
      (3L, "common common common"))
      .toDF("doc_id", "text")
    val r = graft.ops.TextStats.unkRate(docs, "doc_id", "text", minCount = 3L)
      .collect().map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("n_tok"), x.getAs[Long]("n_unk"),
          x.getAs[Long]("unk_ppm"))).toMap
    // 'common' appears 7x (known); rare1/rare2/filler once each (unk)
    assert(r(1L) == ((4L, 2L, 500000L)))
    assert(r(2L) == ((3L, 1L, 1000000L / 3)))
    assert(r(3L) == ((3L, 0L, 0L)))
  }

  test("cdcChunks: boundaries re-sync after a leading edit; chunks cover the doc") {
    import spark.implicits._
    val a = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega " +
      "one two three four five six seven eight nine ten eleven twelve")
    val b = "inserted prefix words " + a
    val docs = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val ch = graft.ops.Chunking.cdcChunks(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // coverage: chunks joined in order reconstruct each doc exactly
    val rebuilt = ch.groupBy(_._1).map { case (id, cs) =>
      id -> cs.sortBy(_._2).map(_._3).mkString(" ") }
    assert(rebuilt(1L) == a && rebuilt(2L) == b)
    // re-sync: after the 3-token insertion, B's tail chunks are
    // byte-identical to A's (content-defined boundaries re-lock) —
    // positional chunking would share nothing
    val aChunks = ch.filter(_._1 == 1L).map(_._3).toSet
    val bChunks = ch.filter(_._1 == 2L).map(_._3).toSet
    assert((aChunks intersect bChunks).nonEmpty,
      s"no shared chunks after re-sync: a=$aChunks b=$bChunks")
    // and the dup report charges exactly the shared-token mass
    val stats = graft.ops.Chunking.cdcDupStats(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tok"), r.getAs[Long]("dup_tok"))).toMap
    val sharedTok = (aChunks intersect bChunks).toSeq
      .map(_.split(" ").length.toLong).sum
    assert(stats(1L) == ((36L, sharedTok)))
    assert(stats(2L) == ((39L, sharedTok)))
  }

  test("anchorTexts resolves destinations and ranks terms per host") {
    import spark.implicits._
    val docs = Seq(
      (1L, "https://x.com/1",
        """<a href="https://y.com/a">great search engine</a>""" +
          """<a href="/local">home page</a>"""),
      (2L, "https://z.com/1",
        """<a href="https://y.com/b">search results</a>"""))
      .toDF("doc_id", "url", "html")
    val r = graft.ops.Web.anchorTexts(docs, "url", "html", k = 2)
      .collect().map(x => (x.getString(0), x.getString(1)) -> x.getLong(2))
      .toMap
    // y.com: 'search' appears in two anchors (from different pages)
    assert(r(("y.com", "search")) == 2L)
    assert(r.keys.count(_._1 == "y.com") == 2, "k=2 caps y.com's terms")
    // the relative link's terms accrue to the PAGE's host
    assert(r.keys.filter(_._1 == "x.com").map(_._2).toSet
      .subsetOf(Set("home", "page")))
  }

  test("authorityWeightedSample keeps everything on the top host, " +
    "proportionally elsewhere") {
    import spark.implicits._
    val docs = (1L to 40L).map(i =>
      (i, s"https://${if (i <= 20) "big" else "small"}.com/$i"))
      .toDF("doc_id", "url")
    val ranks = Seq(("big.com", 4000L), ("small.com", 1000L))
      .toDF("host", "pr")
    val kept = graft.ops.Web.authorityWeightedSample(
        docs, "doc_id", "url", ranks)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Long]("keep_ppm"))
    // keep_ppm: big = 1e6 (max host -> slot always below), small = 250000
    assert(kept.filter(_._1 <= 20L).map(_._2).forall(_ == 1000000L))
    assert(kept.count(_._1 <= 20L) == 20, "max-pr host keeps every doc")
    assert(kept.filter(_._1 > 20L).map(_._2).forall(_ == 250000L))
    assert(kept.count(_._1 > 20L) < 20, "quarter-rate host thins")
  }

  test("bloom sketch: no false negatives; shard OR-merge equals direct") {
    import spark.implicits._
    val vals = (1 to 200).map(i => ("g", s"tok$i")).toDF("g", "v")
    val sketch = graft.ops.Sketches.bloomSketch(vals, Seq("g"), "v")
    // every inserted value must read present (the Bloom guarantee)
    val present = graft.ops.Sketches.bloomMightContain(
        sketch, vals.select(col("g"), col("v").as("p")), Seq("g"), "p")
      .collect()
    assert(present.length == 200 &&
      present.forall(_.getAs[Boolean]("might_contain")),
      "an inserted value must never read absent")
    // shard merge: two halves OR-merged == the direct whole-set sketch
    val sa = graft.ops.Sketches.bloomSketch(
      vals.filter(col("v") <= "tok150"), Seq("g"), "v")
    val sb = graft.ops.Sketches.bloomSketch(
      vals.filter(col("v") > "tok150"), Seq("g"), "v")
    val merged = graft.ops.Sketches.bloomMerge(sa.unionAll(sb), Seq("g"))
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    val direct = sketch
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(merged == direct, "OR-merge must equal the direct sketch")
    // bit 63 is never set (63-bit portable words): all masks positive
    assert(direct.values.forall(_ >= 0L))
  }

  test("count-min sketch: never under-counts; shard SUM-merge equals direct") {
    import spark.implicits._
    // skewed occurrences: tok1 x 50, tok2 x 10, the rest singletons
    val occs = (Seq.fill(50)("tok1") ++ Seq.fill(10)("tok2") ++
      (3 to 120).map(i => s"tok$i")).map(("g", _)).toDF("g", "v")
    val sketch = graft.ops.Sketches.cmsSketch(occs, Seq("g"), "v")
    val exact = occs.groupBy("v").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val probes = exact.keys.toSeq.map(("g", _)).toDF("g", "p")
    val est = graft.ops.Sketches.cmsEstimate(sketch, probes, Seq("g"), "p")
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    exact.foreach { case (v, n) =>
      assert(est(v) >= n, s"$v estimated ${est(v)} below true $n") }
    assert(est("tok1") == 50L && est("tok2") == 10L,
      "heavy tokens at this load estimate exactly (no heavy collisions)")
    // shard merge: two halves SUM-merged == the direct sketch
    val sa = graft.ops.Sketches.cmsSketch(occs.limit(80), Seq("g"), "v")
    val sb = graft.ops.Sketches.cmsSketch(
      occs.exceptAll(occs.limit(80)), Seq("g"), "v")
    val merged = graft.ops.Sketches.cmsMerge(sa.unionAll(sb), Seq("g"))
      .collect().map(r => (r.getLong(1), r.getLong(2)) -> r.getLong(3)).toMap
    val direct = sketch
      .collect().map(r => (r.getLong(1), r.getLong(2)) -> r.getLong(3)).toMap
    assert(merged == direct, "SUM-merge must equal the direct sketch")
  }

  test("canonicalUrlStrong sorts params, strips tracking, keeps the rest") {
    import spark.implicits._
    val urls = Seq(
      (1L, "https://a.com/p?b=2&a=1"),
      (2L, "https://www.a.com/p?a=1&b=2"),                 // reorder + www
      (3L, "https://a.com/p?utm_source=f&a=1&gclid=g&b=2"), // tracking interleaved
      (4L, "https://a.com/p?utm_campaign=x"),               // all-tracking
      (5L, "https://a.com/p?ref=hn&a=1"),                   // ref dropped
      (6L, "https://a.com/p?prefix_utm=keep&a=1"))          // not a tracking KEY
      .toDF("doc_id", "url")
    val r = urls.select(col("doc_id"),
        graft.ops.Web.canonicalUrlStrong(col("url")).as("c"))
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(r(1L) == "https://a.com/p?a=1&b=2")
    assert(r(2L) == r(1L), "order + www dressing must collapse")
    assert(r(3L) == r(1L), "tracking params must strip away")
    assert(r(4L) == "https://a.com/p", "all-tracking query -> bare path")
    assert(r(5L) == "https://a.com/p?a=1")
    assert(r(6L) == "https://a.com/p?a=1&prefix_utm=keep",
      "only anchored tracking KEYS are dropped")
  }

  test("targetMixTokens fills token quotas with the boundary-row rule") {
    import spark.implicits._
    // en: 3 docs x 100 tok = 300; de: 2 docs x 50 = 100
    // targets 750000/250000 -> T = min(300e6/750000, 100e6/250000) = 400
    // -> quotas: en 300 tokens (all docs), de 100 (both docs)
    val docs = Seq(
      (1L, "en", 100L), (2L, "en", 100L), (3L, "en", 100L),
      (10L, "de", 50L), (11L, "de", 50L))
      .toDF("doc_id", "lang", "n_tok")
    val kept = graft.ops.Sampling.targetMixTokens(docs, "doc_id", "lang",
        "n_tok", Seq(("en", 750000), ("de", 250000)))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 3L, 10L, 11L), "feasible mix keeps everything")
    // skewed target: de is binding -> en quota = 100 tokens -> exactly
    // ONE en doc survives (the boundary row completes the budget)
    val kept2 = graft.ops.Sampling.targetMixTokens(docs, "doc_id", "lang",
        "n_tok", Seq(("en", 500000), ("de", 500000)))
      .collect().map(r => r.getAs[String]("lang") -> r.getAs[Long]("doc_id"))
    assert(kept2.count(_._1 == "en") == 1,
      s"en must thin to its 100-token quota: ${kept2.toSeq}")
    assert(kept2.count(_._1 == "de") == 2, "binding stratum fully consumed")
  }

  test("degreeHistogram bands out- and in-degrees by power of two") {
    import spark.implicits._
    // out-degrees: 1 -> {3 edges}, 2 -> {1}; in-degrees: 3 <- 2, 4 <- 1, 5 <- 1
    val edges = Seq((1L, 3L), (1L, 4L), (1L, 5L), (2L, 3L))
      .toDF("src", "dst")
    val r = graft.ops.Graph.degreeHistogram(edges)
      .collect().map(x => (x.getString(0), x.getLong(1)) -> x.getLong(2))
      .toMap
    assert(r(("out", 2L)) == 1L, "node 1 has out-degree 3 -> band 2")
    assert(r(("out", 1L)) == 1L, "node 2 has out-degree 1 -> band 1")
    assert(r(("in", 2L)) == 1L, "node 3 has in-degree 2 -> band 2")
    assert(r(("in", 1L)) == 2L, "nodes 4 and 5 have in-degree 1")
    assert(r.size == 4)
  }

  test("outlinkHostEdges resolves links and drops self/junk edges") {
    import spark.implicits._
    val docs = Seq(
      (1L, "https://x.com/p",
        """<a href="https://y.com/a">abs</a> <a href="/rel">rel</a>""" +
          """ <a href="https://X.COM/self">self</a>""" +
          """ <a href="HTTPS://Z.com/up">case</a>"""),
      (2L, "notaurl", """<a href="https://y.com/b">from junk</a>"""),
      // round-11 href tolerances: attribute before href, single quotes
      (3L, "https://w.com/p",
        """<a class="nav" rel="x" href="https://q.com/a">attr-first</a>""" +
          """ <a href='https://sq.com/b'>single-quoted</a>"""))
      .toDF("doc_id", "url", "html")
    val edges = graft.ops.Web.outlinkHostEdges(docs, "url", "html")
      .collect().map(x => (x.getString(0), x.getString(1))).toSet
    // relative link -> own host -> self edge dropped; absolute self
    // link dropped; junk page host '' dropped; host case folds;
    // attribute-prefixed and single-quoted hrefs both lift
    assert(edges == Set(("x.com", "y.com"), ("x.com", "z.com"),
      ("w.com", "q.com"), ("w.com", "sq.com")))
  }

  test("anchorTexts tolerates attribute-prefixed and single-quoted anchors") {
    import spark.implicits._
    val docs = Seq(
      (1L, "https://x.com/p",
        """<a rel="nofollow" href='https://hub.com/h'>great hub</a>""" +
          """ <a href="https://hub.com/h2">great site</a>"""))
      .toDF("doc_id", "url", "html")
    val terms = graft.ops.Web.anchorTexts(docs, "url", "html", k = 3)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(terms == Map(("hub.com", "great") -> 2L,
      ("hub.com", "hub") -> 1L, ("hub.com", "site") -> 1L))
  }

  test("wordsAuto dispatches no-space scripts to char bigrams") {
    import spark.implicits._
    val rows = Seq(
      ("en", "hello world again"),
      ("zh", "春眠不觉晓处处闻啼鸟"),
      ("ja", "吾輩は猫である"),
      ("th", "สวัสดีครับผม"),
      ("mix-latin", "mostly latin text 春"),
      ("one", "春"))
      .toDF("k", "text")
    val got = rows.select(col("k"),
        graft.Pipeline.wordsAuto(col("text")).as("w"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(got("en") == Seq("hello", "world", "again"), "space split")
    assert(got("zh") == Seq("春眠", "眠不", "不觉", "觉晓", "晓处",
      "处处", "处闻", "闻啼", "啼鸟"), "adjacent char bigrams")
    assert(got("ja").head == "吾輩" && got("ja").length == 6)
    assert(got("th").length == "สวัสดีครับผม".length - 1, "Thai routes too")
    assert(got("mix-latin") == Seq("mostly", "latin", "text", "春"),
      "latin majority keeps space tokens")
    assert(got("one") == Seq("春"), "single char is its own token")
  }

  test("CJK near-dup has recall with wordsAuto and zero with words") {
    import spark.implicits._
    val docs = Seq(
      (1L, "春眠不觉晓处处闻啼鸟夜来风雨声花落知多少床前明月光疑是地上霜"),
      (2L, "春眠不觉晓处处闻啼鸟夜来风雨声花落知多少床前明月光疑是地上霜完"),
      (3L, "全然違う内容の文書でありまして前の二つとは何の関係も無いのです"))
      .toDF("doc_id", "text")
    def pairs(tok: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      Dedup.verifiedPairsHashed(
          Dedup.shingleSignatures(docs, "doc_id", "text", tokenizer = tok),
          "doc_id", threshold = 0.5, maxBucketSize = Int.MaxValue)
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs(graft.Pipeline.wordsAuto) == Set((1L, 2L)),
      "bigram tokens find the planted pair and spare the unrelated doc")
    // the space tokenizer sees each doc as ONE token; the shingle gate
    // (>= 3 tokens) drops everything — recall is exactly zero
    assert(pairs(graft.Pipeline.words).isEmpty)
  }

  test("registrableDomain walks the PSL boundary table") {
    import spark.implicits._
    val cases = Seq(
      // (url, expected registrable domain)
      ("https://a.b.example.co.uk/p", "example.co.uk"),   // 2-label suffix
      ("https://example.co.uk/p", "example.co.uk"),
      ("https://www.example.com.au/p", "example.com.au"),
      ("https://blog.example.com/p", "example.com"),      // implicit TLD rule
      ("https://example.com/p", "example.com"),
      ("http://deep.school.act.edu.au/p", "school.act.edu.au"), // 3-label
      ("https://foo.bar.ck/p", "foo.bar.ck"),             // *.ck wildcard
      ("https://www.ck/p", "www.ck"),                     // !www.ck exception
      ("https://co.uk/p", ""),                            // host IS a suffix
      ("https://bar.ck/p", ""),                           // wildcard suffix
      ("https://uk/p", ""),                               // bare TLD
      ("https://va.us/p", ""),                            // US state space
      ("https://city.va.us/p", "city.va.us"),
      ("not a url", ""))                                  // junk
    val got = cases.map(_._1).toDF("url")
      .select(col("url"),
        graft.ops.Web.registrableDomain(col("url")).as("reg"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (url, want) =>
      assert(got(url) == want, s"registrableDomain($url)")
    }
  }

  test("PslRules.fromFile parses the bundled PSL excerpt to exactly Psl.Icann") {
    val path = getClass.getResource("/public_suffix_excerpt.dat").getPath
    val parsed = graft.ops.Web.PslRules.fromFile(path)
    val icann = graft.ops.Web.Psl.Icann
    // rule-set equality field by field (order-free: the engine's InSet
    // probes are set semantics)
    assert(parsed.suffix2.toSet == icann.suffix2.toSet)
    assert(parsed.suffix3.toSet == icann.suffix3.toSet)
    assert(parsed.wild1.toSet == icann.wild1.toSet)
    assert(parsed.exception2.toSet == icann.exception2.toSet)
    // the excerpt's PRIVATE section (github.io, a deep wildcard) must
    // be skipped by the default icannOnly load — no leakage into any Seq
    assert(parsed.suffix4.isEmpty && parsed.wild2.isEmpty &&
      parsed.exception3.isEmpty)
    assert(!parsed.suffix2.contains("github.io"))
    // and the loaded rules drive registrableDomain identically
    import spark.implicits._
    val urls = Seq("https://a.b.example.co.uk/p", "https://foo.bar.ck/p",
      "https://www.ck/p", "https://city.va.us/p", "https://co.uk/p")
    val both = urls.toDF("url").select(
      graft.ops.Web.registrableDomain(col("url")).as("frozen"),
      graft.ops.Web.registrableDomain(col("url"), parsed).as("loaded"))
      .collect()
    both.foreach(r => assert(r.getString(0) == r.getString(1)))
    // loading the PRIVATE section too is LOUD, not lossy: its 3-deep
    // wildcard (*.compute.amazonaws.com) is outside the ladder and the
    // strict loader raises instead of silently degrading the boundary
    intercept[IllegalArgumentException] {
      graft.ops.Web.PslRules.fromFile(path, icannOnly = false)
    }
    // well-shaped private entries do load when asked for
    assert(graft.ops.Web.PslRules
      .fromLines(Seq("github.io", "blogspot.com"), icannOnly = false)
      .suffix2.toSet == Set("github.io", "blogspot.com"))
  }

  test("PslRules.fromLines rejects unsupported shapes; full ladder handles 4-label/2-wildcard/3-exception") {
    // the loader must be loud on shapes the ladder can't express
    intercept[IllegalArgumentException] {
      graft.ops.Web.PslRules.fromLines(Seq("a.b.c.d.e"))
    }
    intercept[IllegalArgumentException] {
      graft.ops.Web.PslRules.fromLines(Seq("*.a.b.c"))
    }
    intercept[IllegalArgumentException] {
      graft.ops.Web.PslRules.fromLines(Seq("!a.b.c.d"))
    }
    // the JP city registries: *.kawasaki.jp wildcard with the
    // !city.kawasaki.jp exception, plus the US 4-label k12 family —
    // today's complete ICANN section fits these shapes
    val r = graft.ops.Web.PslRules.fromLines(Seq(
      "// jp", "jp", "co.jp", "*.kawasaki.jp", "!city.kawasaki.jp",
      "// us", "pvt.k12.ma.us"))
    assert(r.wild2 == Seq("kawasaki.jp") && r.exception3 == Seq("city.kawasaki.jp")
      && r.suffix4 == Seq("pvt.k12.ma.us") && r.suffix2 == Seq("co.jp"))
    import spark.implicits._
    val cases = Seq(
      // *.kawasaki.jp: any single label under it is a public suffix
      ("https://x.a.kawasaki.jp/p", "x.a.kawasaki.jp"),
      ("https://a.kawasaki.jp/p", ""),              // host IS a suffix
      // the exception makes city.kawasaki.jp itself registrable
      ("https://city.kawasaki.jp/p", "city.kawasaki.jp"),
      ("https://sub.city.kawasaki.jp/p", "city.kawasaki.jp"),
      // 4-label explicit suffix
      ("https://school.pvt.k12.ma.us/p", "school.pvt.k12.ma.us"),
      ("https://pvt.k12.ma.us/p", ""),
      ("https://shop.example.co.jp/p", "example.co.jp"))
    val got = cases.map(_._1).toDF("url")
      .select(col("url"),
        graft.ops.Web.registrableDomain(col("url"), r).as("reg"))
      .collect().map(x => x.getString(0) -> x.getString(1)).toMap
    cases.foreach { case (url, want) =>
      assert(got(url) == want, s"registrableDomain($url) under loaded rules")
    }
  }

  test("registrable-only blocklist cannot match a bare public suffix") {
    import spark.implicits._
    val docs = Seq(
      (1L, "https://www.bad.co.uk/a"),
      (2L, "https://shop.bad.co.uk/b"),
      (3L, "https://good.co.uk/c"),
      (4L, "https://deep.good.co.uk/d"))
      .toDF("doc_id", "url")
    val bl = Seq("bad.co.uk", "co.uk").toDF("domain")
    val kept = graft.ops.Web.blocklistFilter(docs, "doc_id", "url", bl,
        registrableOnly = true)
      .select("doc_id").as[Long].collect().toSet
    // bad.co.uk blocks its subdomains; the bare suffix entry is inert
    assert(kept == Set(3L, 4L))
    // naive suffixes WOULD let co.uk wipe the registry — the contrast
    val naiveKept = graft.ops.Web.blocklistFilter(docs, "doc_id", "url", bl)
      .select("doc_id").as[Long].collect().toSet
    assert(naiveKept.isEmpty)
  }

  test("robotsRules: block semantics, multi-agent headers, comments, case") {
    import spark.implicits._
    val content =
      "User-agent: googlebot\n" +
      "Disallow: /gbot\n" +          // foreign agent — never emits
      "USER-AGENT: BingBot\r\n" +    // multi-agent header incl. * ...
      "user-agent: *\r\n" +          // ... with CRLF endings and case
      "disallow: /shared\n" +
      "Disallow: /x # trailing comment\n" +
      "Disallow:\n" +                // empty = allow-all, no rule
      "# Disallow: /commented\n" +   // comment line, no rule
      "User-agent: other\n" +
      "Disallow: /other"             // next block — foreign again
    val rules = graft.ops.Web.robotsRules(
        Seq(("h.example.com", content)).toDF("host", "content"),
        "host", "content")
      .as[(String, String)].collect().toSet
    assert(rules == Set(
      ("h.example.com", "/shared"),
      ("h.example.com", "/x")))
  }

  test("robotsFilter drops disallowed paths only on their own host") {
    import spark.implicits._
    val rules = Seq(("a.com", "/private"), ("b.com", "/tmp"))
      .toDF("host", "prefix")
    val docs = Seq(
      (1L, "https://a.com/private/x"),  // blocked (a.com /private)
      (2L, "https://b.com/private/x"),  // kept (rule is a.com's)
      (3L, "https://b.com/tmp/y"),      // blocked
      (4L, "https://a.com/public/z"),   // kept
      (5L, "https://a.com/private"))    // blocked (prefix == path)
      .toDF("doc_id", "url")
    val kept = graft.ops.Web.robotsFilter(docs, "doc_id", "url", rules)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 4L))
  }

  test("snapshotDelta classifies through the canonical url key") {
    import spark.implicits._
    val old = Seq(
      (1L, "HTTPS://www.a.com/p/1", "one"),
      (2L, "https://a.com/p/2", "two"),
      (3L, "https://a.com/p/3", "three"))
      .toDF("doc_id", "url", "text")
    val nw = Seq(
      (11L, "https://a.com/p/1/", "one"),        // unchanged (canon match)
      (12L, "https://a.com:443/p/2", "two v2"),  // changed
      (14L, "https://a.com/p/4", "four"))        // new
      .toDF("doc_id", "url", "text")
    val got = graft.ops.Web.snapshotDelta(old, nw, "doc_id", "url", "text")
      .select("doc_id", "status").as[(Long, String)].collect().toMap
    assert(got == Map(11L -> "unchanged", 12L -> "changed", 14L -> "new"))
  }

  test("dedupParagraphs keeps the first occurrence in place") {
    import spark.implicits._
    val docs = Seq(
      (1L, "intro\nbody\nintro\nbody\ntail"),  // two repeats
      (2L, "a\nb\nc"),                          // none
      (3L, "same\nsame\nsame"))                 // collapses to one
      .toDF("doc_id", "text")
    val got = graft.ops.TextStats.dedupParagraphs(docs, "doc_id", "text")
      .select("doc_id", "text", "n_para", "n_removed")
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == (("intro\nbody\ntail", 5L, 2L)))
    assert(got(2L) == (("a\nb\nc", 3L, 0L)))
    assert(got(3L) == (("same", 3L, 2L)))
  }

  test("softDedupWeights: cluster mass sums to one doc's worth; singletons full") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a_id", "b_id")
    val ids = (1L to 12L).toDF("doc_id")
    val got = Dedup.softDedupWeights(pairs, ids, "doc_id")
      .select("doc_id", "cluster", "cluster_size", "weight_ppm")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((1L, 3L, 333333L)))
    assert(got(2L) == ((1L, 3L, 333333L)))
    assert(got(3L) == ((1L, 3L, 333333L)))
    assert(got(10L) == ((10L, 2L, 500000L)))
    assert(got(11L) == ((10L, 2L, 500000L)))
    // untouched docs are their own cluster at full weight
    assert(got(5L) == ((5L, 1L, 1000000L)))
    assert(got.size == 12)
  }

  test("domainScoreGate: low-mean domain drops; under-evidence domain survives") {
    import spark.implicits._
    // bad-site: 3 docs, mean -10 < 0 -> dropped. good-site: 3 docs,
    // mean 10 -> kept. tiny-site: 2 docs (< minDocs=3), mean -100 ->
    // kept (not enough evidence to damn the site).
    val docs = Seq(
      (1L, "https://www.bad-site.com/a", -10L),
      (2L, "https://blog.bad-site.com/b", -10L),
      (3L, "https://bad-site.com/c", -10L),
      (4L, "https://good-site.com/a", 10L),
      (5L, "https://good-site.com/b", 10L),
      (6L, "https://good-site.com/c", 10L),
      (7L, "https://tiny-site.com/a", -100L),
      (8L, "https://tiny-site.com/b", -100L))
      .toDF("doc_id", "url", "score")
    val kept = graft.ops.Web.domainScoreGate(docs, "doc_id", "url", "score",
        minDocs = 3, minMeanMicro = 0L)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(4L, 5L, 6L, 7L, 8L))
  }

  test("domainBoilerplateStrip: template lines die per-domain, content survives elsewhere") {
    import spark.implicits._
    // footer shared by all 3 a.com docs (df 3 >= minDf 3) — stripped
    // there; the SAME line on b.com (df 1) is content and survives
    val docs = Seq(
      (1L, "https://a.com/1", "alpha\nfooter line\nbody one"),
      (2L, "https://a.com/2", "beta\nfooter line"),
      (3L, "https://www.a.com/3", "footer line\ngamma"),
      (4L, "https://b.com/1", "footer line\ndelta"))
      .toDF("doc_id", "url", "text")
    val got = graft.ops.Web.domainBoilerplateStrip(docs, "doc_id", "url",
        "text", minDf = 3)
      .select("doc_id", "text", "n_lines", "n_removed")
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == (("alpha\nbody one", 3L, 1L)))
    assert(got(2L) == (("beta", 2L, 1L)))
    assert(got(3L) == (("gamma", 2L, 1L)))   // www. folds into a.com
    assert(got(4L) == (("footer line\ndelta", 2L, 0L)))
  }

  test("markdownStrip applies every rule and charges removed chars") {
    import spark.implicits._
    val md = "# Title\n**bold** [text](http://u) `c`\n```\nhidden\n```\n*em* plain"
    val got = graft.ops.TextStats.markdownStrip(
        Seq((1L, md)).toDF("doc_id", "text"), "doc_id", "text")
      .select("text", "md_removed").as[(String, Long)].collect().head
    assert(got._1 == "Title bold text c em plain")
    assert(got._2 == md.length - got._1.length)
  }

  test("snapshotDelta detectMoves: relocated body is moved, not new") {
    import spark.implicits._
    val old = Seq(
      ("https://a.com/old-slug", "stable body"),
      ("https://a.com/p2", "two")).toDF("url", "text")
    val nw = Seq(
      (1L, "https://a.com/new-slug", "stable body"),  // moved
      (2L, "https://a.com/p2", "two"),                // unchanged
      (3L, "https://a.com/p3", "brand new"))          // new
      .toDF("doc_id", "url", "text")
    val got = graft.ops.Web.snapshotDelta(old, nw, "doc_id", "url", "text",
        detectMoves = true)
      .select("doc_id", "status").as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "moved", 2L -> "unchanged", 3L -> "new"))
  }

  test("urlPatternKey collapses path/query digits, never host digits; stats flag the farm") {
    import spark.implicits._
    val key = graft.ops.Web.urlPatternKey(col("url"))
    val got = Seq(
      "https://site1.com/article/123?page=7",
      "https://site1.com/article/99?page=2",
      "https://site2.com/article/123",
      "not a url")
      .toDF("url").select(col("url"), key.as("k"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("https://site1.com/article/123?page=7") ==
      "https://site1.com/article/N?page=N")
    assert(got("https://site1.com/article/99?page=2") ==
      "https://site1.com/article/N?page=N")
    // host digits are identity, never collapsed
    assert(got("https://site2.com/article/123") ==
      "https://site2.com/article/N")
    assert(got("not a url") == "")

    val docs = Seq(
      (1L, "https://farm.com/v?s=1", "same body"),
      (2L, "https://farm.com/v?s=2", "same body"),
      (3L, "https://farm.com/v?s=3", "same body"),
      (4L, "https://news.com/a/1", "story one"),
      (5L, "https://news.com/a/2", "story two"))
      .toDF("doc_id", "url", "text")
    val stats = graft.ops.Web.urlPatternStats(docs, "url", "text")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(stats("https://farm.com/v?s=N") == ((3L, 1L, 666666L)))
    assert(stats("https://news.com/a/N") == ((2L, 2L, 0L)))
  }

  test("hotKeyReport: shares, ceil-div salt recommendation, (n desc, key) order") {
    import spark.implicits._
    // 100 rows: key 1 holds 50, key 2 holds 30, keys 3..22 hold 1 each
    val rows = Seq.fill(50)(1L) ++ Seq.fill(30)(2L) ++ (3L to 22L)
    val rep = graft.ops.Skew.hotKeyReport(rows.toDF("k"), "k",
        topK = 3, parallelism = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(rep.toSeq == Seq(
      (1L, 50L, 500000L, 5L),   // 50% of 10 tasks -> 5 salts
      (2L, 30L, 300000L, 3L),
      (3L, 1L, 10000L, 1L)))    // fair share -> no salting
  }

  test("advisedCountSum closes the report->salt loop and equals the plain aggregate") {
    import spark.implicits._
    // hot key 1 (60%), warm key 2 (25%), cold keys 3..17 (1 row each);
    // values vary so SUM is a real check, not a row count in disguise
    val rows = (Seq.fill(60)(1L) ++ Seq.fill(25)(2L) ++ (3L to 17L))
      .zipWithIndex.map { case (k, i) => (k, (i % 7).toLong) }
    val df = rows.toDF("k", "v")
    val got = graft.ops.Skew.advisedCountSum(df, "k", "v",
        topK = 5, parallelism = 10)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    val want = df.groupBy("k")
      .agg(count(lit(1)).as("n"), sum("v").as("total"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got == want)
    // and the advice actually recommended spreading the hot key
    val rec = graft.ops.Skew.hotKeyReport(df, "k", topK = 5,
        parallelism = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(rec(1L) == 6L && rec(2L) == 3L) // ceil(.6*10), ceil(.25*10)
  }

  test("kmvOverlap is exact while sketches hold every hash; estimator tracks truth past k") {
    import spark.implicits._
    // 30 shared + 20 only-a + 10 only-b = union 60, J = 0.5
    val a = ((0 until 30) ++ (100 until 120)).map(i => ("g", s"tok$i"))
      .toDF("g", "w")
    val b = ((0 until 30) ++ (200 until 210)).map(i => ("g", s"tok$i"))
      .toDF("g", "w")
    def sk(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Sketches.kmvSketch(df, Seq("g"), "w", k = 64)
    // k=64 > 60 distinct: union sketch holds everything -> EXACT
    val exact = graft.ops.Sketches.kmvOverlap(sk(a), sk(b), Seq("g"), 64)
      .select("est_union", "jaccard_ppm", "est_intersection")
      .as[(Long, Long, Long)].collect().head
    assert(exact == ((60L, 500000L, 30L)))
    // k=16 < 60: an estimate now — jaccard within 3 sd (~3*sqrt(.25/16))
    val est = graft.ops.Sketches.kmvOverlap(
        graft.ops.Sketches.kmvSketch(a, Seq("g"), "w", 16),
        graft.ops.Sketches.kmvSketch(b, Seq("g"), "w", 16),
        Seq("g"), 16)
      .select("jaccard_ppm").as[Long].collect().head
    assert(math.abs(est - 500000L) <= 375000L, s"jaccard_ppm=$est")
  }

  test("bbit packing preserves signature parities; identical docs estimate 1e6") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),  // identical
      (3L, "totally different words in this other document here now"))
      .toDF("doc_id", "text")
    val sig = Dedup.shingleSignatures(docs, "doc_id", "text")
    val k = Pipeline.bandingFor(0.5)._1 * Pipeline.bandingFor(0.5)._2
    // packing round-trip: unpacked bit j == sig(j) % 2
    val row = sig.select(col("sig"),
        Dedup.bbitSignature("sig", k).as("bs")).collect().head
    val sigArr = row.getSeq[Long](0)
    val words = row.getSeq[Long](1)
    (0 until k).foreach { j =>
      val bit = (words(j / 63) >> (j % 63)) & 1L
      assert(bit == sigArr(j) % 2, s"bit $j")
    }
    val pairs = Dedup.estimatedPairsBbit(sig, "doc_id", threshold = 0.5)
      .select("a_id", "b_id", "agree", "est_ppm")
      .as[(Long, Long, Long, Long)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((1L, 2L)))
    assert(pairs.head._3 == k && pairs.head._4 == 1000000L)
  }

  test("curriculumOrder: contiguous score phases, deterministic re-seedable slots") {
    import spark.implicits._
    val df = (1L to 40L).map(i => (i, i * 7 % 40)).toDF("doc_id", "score")
    val a = graft.ops.Sampling.curriculumOrder(df, "doc_id", "score", 4)
      .select("doc_id", "score", "phase", "slot")
      .as[(Long, Long, Long, Long)].collect()
    // 4 equal phases; phases are contiguous ranges of the score order
    assert(a.map(_._3).distinct.sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    assert(a.count(_._3 == 1L) == 10)
    val maxByPhase = a.groupBy(_._3).view.mapValues(_.map(_._2).max).toMap
    val minByPhase = a.groupBy(_._3).view.mapValues(_.map(_._2).min).toMap
    (1L to 3L).foreach(p => assert(maxByPhase(p) <= minByPhase(p + 1)))
    // same seed — identical slots; different seed — a fresh permutation
    val b = graft.ops.Sampling.curriculumOrder(df, "doc_id", "score", 4)
      .select("doc_id", "slot").as[(Long, Long)].collect().toMap
    assert(a.forall(r => b(r._1) == r._4))
    val c = graft.ops.Sampling.curriculumOrder(df, "doc_id", "score", 4,
        seed = "ep2")
      .select("doc_id", "slot").as[(Long, Long)].collect().toMap
    assert(a.exists(r => c(r._1) != r._4))
  }

  test("mgSketch: exact under k, compress subtracts the (k+1)-th, merge re-compresses") {
    import spark.implicits._
    def bag(pairs: (String, Int)*): org.apache.spark.sql.DataFrame =
      pairs.flatMap { case (v, n) => Seq.fill(n)(v) }.toDF("v")
    // k >= distinct values: the summary IS the exact count table
    val exact = graft.ops.Sketches.mgSketch(
        bag("a" -> 3, "b" -> 2).withColumn("g", lit(1)), Seq("g"), "v", 8)
      .select("value", "n_lb").as[(String, Long)].collect().toMap
    assert(exact == Map("a" -> 3L, "b" -> 2L))
    // k = 2 over counts 10,7,3,2,1: csub = 3rd heaviest = 3
    val mg = graft.ops.Sketches.mgSketch(
        bag("a" -> 10, "b" -> 7, "c" -> 3, "d" -> 2, "e" -> 1)
          .withColumn("g", lit(1)), Seq("g"), "v", 2)
      .select("value", "n_lb").as[(String, Long)].collect().toMap
    assert(mg == Map("a" -> 7L, "b" -> 4L))
    // merge: shard1 {a6 c3} (exact at k=2), shard2 {b7 a4 d2 e1} -> csub 2
    // -> {b5 a2}; pooled {a8 b5 c3} -> csub 3 -> {a5 b2}
    val s1 = graft.ops.Sketches.mgSketch(
      bag("a" -> 6, "c" -> 3).withColumn("g", lit(1)), Seq("g"), "v", 2)
    val s2 = graft.ops.Sketches.mgSketch(
      bag("a" -> 4, "b" -> 7, "d" -> 2, "e" -> 1)
        .withColumn("g", lit(1)), Seq("g"), "v", 2)
    val merged = graft.ops.Sketches.mgMerge(s1.unionByName(s2), Seq("g"), 2)
      .select("value", "n_lb").as[(String, Long)].collect().toMap
    assert(merged == Map("a" -> 5L, "b" -> 2L))
    // MG guarantee on the merged summary: deficiency <= sum of shard N/(k+1)
    assert(10L - merged("a") <= 9L / 3 + 14L / 3 + 1)
  }

  test("histSketch buckets by bit length; merge sums; quantiles walk the CDF") {
    import spark.implicits._
    val vals = Seq(0L, 1L, 2L, 3L, 8L, 1000L).toDF("v").withColumn("g", lit(1))
    val sk = graft.ops.Sketches.histSketch(vals, Seq("g"), "v")
    val got = sk.select("bucket", "n").as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 1L, 1L -> 1L, 2L -> 2L, 4L -> 1L, 10L -> 1L))
    // shard/merge equals direct
    val sh = vals.withColumn("p", expr("v % 2"))
    val merged = graft.ops.Sketches.histMerge(
      graft.ops.Sketches.histSketch(sh, Seq("g", "p"), "v"), Seq("g"))
    assert(merged.select("bucket", "n").as[(Long, Long)].collect().toMap == got)
    // p50: target ceil(3) -> cum 1,2,4 -> bucket 2 (ub 3); p100 -> bucket 10
    val q = graft.ops.Sketches.histQuantiles(sk, Seq("g"),
        Seq(500000, 1000000))
      .select("q_ppm", "bucket", "value_ub").as[(Long, Long, Long)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(q(500000L) == ((2L, 3L)))
    assert(q(1000000L) == ((10L, 1023L)))
  }

  test("bloomPrunedAnti equals the exact anti join") {
    import spark.implicits._
    // NULL values in BOTH frames: a NULL key matches nothing in an
    // anti join, so null-valued docs must SURVIVE (round-11 advice:
    // md5(null) nulls the membership test — uncoalesced, both branches
    // dropped the row)
    val docs = ((1L to 300L).map(i => (i, s"text-$i")) ++
      Seq((1000L, null.asInstanceOf[String]), (1001L, null.asInstanceOf[String])))
      .toDF("doc_id", "v")
    val deny = ((1L to 300L).filter(_ % 7 == 0).map(i => s"text-$i") :+
      null.asInstanceOf[String]).toDF("d")
    val got = graft.ops.Sketches.bloomPrunedAnti(docs, "v", deny, "d",
        bits = 256, khash = 3) // tiny bitmap FORCES false positives
      .select("doc_id").as[Long].collect().toSet
    val want = docs.join(deny, docs("v") === deny("d"), "left_anti")
      .select("doc_id").as[Long].collect().toSet
    assert(got == want && want.size == 300 - 42 + 2)
    assert(got.contains(1000L) && got.contains(1001L))
  }

  test("zorderKey2 interleaves bits; file stats carry tight per-dim boxes") {
    import spark.implicits._
    // x=5 (101), y=3 (011): z = 1 + 2 + 8 + 16 = 27
    val z = Seq((5L, 3L)).toDF("x", "y")
      .select(graft.ops.Layout.zorderKey2("x", "y", 3).as("z"))
      .as[Long].head()
    assert(z == 27L)
    // a full 4x4 grid in 4-row files follows the curve: each file is a
    // 2x2 block — tight boxes on BOTH dims (a row-major sort would put
    // a whole x-row in one file and span all of y)
    val grid = (for { x <- 0 to 3; y <- 0 to 3 } yield (x.toLong, y.toLong))
      .toDF("x", "y")
    val stats = graft.ops.Layout.zorderFileStats(grid, "x", "y",
        bits = 2, rowsPerFile = 4L)
      .select("file_id", "n", "x_min", "x_max", "y_min", "y_max")
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(stats.length == 4 && stats.forall(_._2 == 4L))
    assert(stats.forall(s => s._4 - s._3 == 1L && s._6 - s._5 == 1L))
  }

  test("zorderKeyN bit table: 3- and 4-dim interleaves; N=2 equals zorderKey2") {
    import spark.implicits._
    // hand-computed: bit i of dim d lands at result bit N*i + d
    // N=3, bits=3: x=5(101)->bits at 0,6 =65; y=3(011)->1,4 =18;
    // w=6(110)->5,8 =288; z = 65+18+288 = 371
    val z3 = Seq((5L, 3L, 6L)).toDF("x", "y", "w")
      .select(graft.ops.Layout.zorderKeyN(Seq("x", "y", "w"), 3).as("z"))
      .as[Long].head()
    assert(z3 == 371L)
    // N=4, bits=1: four ones -> 1111b = 15
    val z4 = Seq((1L, 1L, 1L, 1L)).toDF("a", "b", "c", "d")
      .select(graft.ops.Layout.zorderKeyN(Seq("a", "b", "c", "d"), 1).as("z"))
      .as[Long].head()
    assert(z4 == 15L)
    // N=4, bits=2: a=2(10),b=0,c=1(01),d=3(11)
    // a: bit1 -> pos 4+0=4 (16); c: bit0 -> pos 2 (4);
    // d: bit0 -> pos 3 (8), bit1 -> pos 7 (128); z = 16+4+8+128 = 156
    val z42 = Seq((2L, 0L, 1L, 3L)).toDF("a", "b", "c", "d")
      .select(graft.ops.Layout.zorderKeyN(Seq("a", "b", "c", "d"), 2).as("z"))
      .as[Long].head()
    assert(z42 == 156L)
    // N=2 delegation: identical to zorderKey2 over a value grid
    val grid = (for { x <- 0 to 7; y <- 0 to 7 } yield (x.toLong, y.toLong))
      .toDF("x", "y")
    val diff = grid.select(
      graft.ops.Layout.zorderKey2("x", "y", 3).as("a"),
      graft.ops.Layout.zorderKeyN(Seq("x", "y"), 3).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(diff == 0L)
    // guardrails: dims in [2,4], N*bits <= 62
    intercept[IllegalArgumentException] {
      graft.ops.Layout.zorderKeyN(Seq("x"), 3)
    }
    intercept[IllegalArgumentException] {
      graft.ops.Layout.zorderKeyN(Seq("a", "b", "c", "d"), 16)
    }
  }

  test("targetMixTokensByPriority spends each quota best-first") {
    import spark.implicits._
    // toks: a=30, b=20; 50/50 targets -> T = min(60, 40) = 40 ->
    // quotas 20/20. Stratum a fills by priority asc: id2 (tb 0),
    // id3 (tb 10); id1 (worst, tb 20) is over quota and drops.
    val df = Seq((1L, "a", 10L, 5L), (2L, "a", 10L, 1L),
      (3L, "a", 10L, 3L), (4L, "b", 10L, 1L), (5L, "b", 10L, 2L))
      .toDF("id", "s", "tok", "prio")
    val out = graft.ops.Sampling.targetMixTokensByPriority(
        df, "id", "s", "tok", "prio",
        Seq(("a", 500000), ("b", 500000)))
      .select("id", "tok_before").as[(Long, Long)].collect().toMap
    assert(out == Map(2L -> 0L, 3L -> 10L, 4L -> 0L, 5L -> 10L))
  }

  test("histDistance is floor-ppm total variation over bucket shares") {
    import spark.implicits._
    // g1: A {b1:3, b2:1} (shares 750000/250000), B {b1:1, b3:1}
    // (500000/0/500000) -> sum|d| = 1e6 -> tv 500000
    // g2: identical histograms -> 0; g3: only in A -> omitted
    val a = Seq(("g1", 1L, 3L), ("g1", 2L, 1L), ("g2", 4L, 7L),
      ("g3", 1L, 5L)).toDF("g", "bucket", "n")
    val b = Seq(("g1", 1L, 1L), ("g1", 3L, 1L), ("g2", 4L, 7L))
      .toDF("g", "bucket", "n")
    val out = graft.ops.Sketches.histDistance(a, b, Seq("g"))
      .select("g", "n_a", "n_b", "tv_ppm")
      .as[(String, Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    assert(out == Map("g1" -> ((4L, 2L, 500000L)),
      "g2" -> ((7L, 7L, 0L))))
  }

  test("compactionPlan packs small files to target and spares big ones") {
    import spark.implicits._
    // smalls in (bytes, path) order: cb = 0,1,3,6 -> groups 0,0,0,1
    val files = Seq(("a", 1L), ("b", 2L), ("c", 3L), ("d", 4L),
      ("e", 10L)).toDF("path", "bytes")
    val out = graft.ops.Layout
      .compactionPlan(files, "path", "bytes", targetBytes = 5L)
      .select("path", "group_id").as[(String, Long)].collect().toMap
    assert(out == Map("a" -> 0L, "b" -> 0L, "c" -> 0L, "d" -> 1L,
      "e" -> -1L))
  }

  test("stratifiedQuantileBuckets cuts thirds within each stratum") {
    import spark.implicits._
    // stratum a: 5 rows -> (rk*3) div 5 + 1 = [1,1,2,2,3] in value order
    // stratum b: 3 rows -> one per bucket
    val df = Seq(("a", 50L, 5L), ("a", 10L, 1L), ("a", 30L, 3L),
      ("a", 20L, 2L), ("a", 40L, 4L),
      ("b", 9L, 10L), ("b", 7L, 11L), ("b", 8L, 12L))
      .toDF("g", "v", "id")
    val out = graft.ops.Ranking
      .stratifiedQuantileBuckets(df, Seq("g"), "v", "id", k = 3)
      .select("g", "id", "bucket").as[(String, Long, Long)]
      .collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(out == Map(("a", 1L) -> 1L, ("a", 2L) -> 1L, ("a", 3L) -> 2L,
      ("a", 4L) -> 2L, ("a", 5L) -> 3L,
      ("b", 11L) -> 1L, ("b", 12L) -> 2L, ("b", 10L) -> 3L))
  }

  test("hllSketch registers merge by max and estimate within HLL error") {
    import spark.implicits._
    val n = 3000
    val vals = (0 until n).map(i => (i % 2, s"value_$i")).toDF("shard", "v")
    // register table shape: bucket < m, 1 <= r <= 61-p
    val sk = graft.ops.Sketches.hllSketch(vals, Seq("shard"), "v", p = 6)
    val regs = sk.select("bucket", "r").as[(Long, Long)].collect()
    assert(regs.forall { case (b, r) => b >= 0 && b < 64 && r >= 1 && r <= 55 })
    assert(sk.groupBy("shard").count().as[(Int, Long)].collect()
      .forall(_._2 <= 64))
    // merge of the two shard sketches == the sketch of everything
    val merged = graft.ops.Sketches
      .hllMerge(sk.drop("shard").withColumn("g", lit(1)), Seq("g"))
      .select("bucket", "r").as[(Long, Long)].collect().toMap
    val direct = graft.ops.Sketches
      .hllSketch(vals.withColumn("g", lit(1)), Seq("g"), "v", p = 6)
      .select("bucket", "r").as[(Long, Long)].collect().toMap
    assert(merged == direct)
    // raw estimator within 4 standard errors (1.04/sqrt(64) ~ 13%)
    val est = graft.ops.Sketches
      .hllEstimate(graft.ops.Sketches
        .hllSketch(vals.withColumn("g", lit(1)), Seq("g"), "v", p = 6),
        Seq("g"), p = 6)
      .select("est_distinct").as[Long].head()
    assert(math.abs(est - n) < n * 0.52, s"est $est vs exact $n")
  }

  test("personalizedPageRank concentrates teleport mass on the seeds") {
    import spark.implicits._
    // 3-cycle 1->2->3->1, all out-degrees 1; seeds {1} (99 is absent
    // from the graph and must be ignored). N=3, S=1:
    //   p0 = (3000, 0, 0)
    //   p1: pr(1)=450+0, pr(2)=0+(850*3000)div 1000=2550, pr(3)=0
    //   p2: pr(1)=450, pr(2)=(850*450)div 1000=382,
    //       pr(3)=(850*2550)div 1000=2167
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val seeds = Seq(1L, 99L).toDF("node")
    def run(iters: Int): Map[Long, Long] = {
      val scope = new CacheScope
      val df = graft.ops.Graph.personalizedPageRank(edges, seeds, iters, scope)
      val out = df.as[(Long, Long)].collect().toMap
      scope.release(); out
    }
    assert(run(1) == Map(1L -> 450L, 2L -> 2550L, 3L -> 0L))
    assert(run(2) == Map(1L -> 450L, 2L -> 382L, 3L -> 2167L))
  }

  test("referenceSurprisal scores seen / backoff / OOV pairs") {
    import spark.implicits._
    // ref tokens a,b,a,c,a,b: tot=6, u(a)=3 u(b)=2 u(c)=1
    // ref bigrams: "a b"x2, "b a"x1, "a c"x1; cl(a)=3, cl(b)=1
    val ref = Seq("a b a c", "a b").toDF("text")
    val docs = Seq(1L -> "a b a c", 2L -> "c c", 3L -> "a z",
      4L -> "solo").toDF("doc_id", "text")
    val out = graft.ops.TextStats
      .referenceSurprisal(docs, ref, "doc_id", "text")
      .select("doc_id", "n_pairs", "bits", "mean_millibits")
      .as[(Long, Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    // doc 1 all seen: floor(lg 3/2)=0, floor(lg 1/1)=0, floor(lg 3/1)=1
    assert(out(1L) == ((3L, 1L, 333L)))
    // doc 2 "c c": unseen bigram, c in vocab -> 4 + floor(lg 6/1) = 6
    assert(out(2L) == ((1L, 6L, 6000L)))
    // doc 3 "a z": z OOV -> 8 + floor(lg 6) = 10
    assert(out(3L) == ((1L, 10L, 10000L)))
    // doc 4 has one token -> no pairs -> excluded
    assert(!out.contains(4L))
  }

  test("histQuantileBuckets rank-encodes from the mergeable histogram") {
    import spark.implicits._
    // 64 x value 1 (hist bucket 1), 32 x 2 (bucket 2), 16 x 10
    // (bucket 4), 16 x 100 (bucket 7); N=128. k=4 -> ppms 25/50/75:
    // q25 ub 1, q50 ub 1 (cum 64 >= 64), q75 ub 3 -> bounds [1, 3]
    val vals = Seq.fill(64)(1L) ++ Seq.fill(32)(2L) ++
      Seq.fill(16)(10L) ++ Seq.fill(16)(100L)
    val (bucketed, bounds) = graft.ops.Layout.histQuantileBuckets(
      vals.toDF("v"), "v", k = 4)
    assert(bounds == Seq(1L, 3L))
    val enc = bucketed.select("v", "v_qb").distinct()
      .as[(Long, Long)].collect().toMap
    assert(enc == Map(1L -> 0L, 2L -> 1L, 10L -> 2L, 100L -> 2L))
    // always fewer than 2^ceil(log2 k) buckets - safe as a zorder dim
    assert(enc.values.max < 4)
    intercept[IllegalArgumentException] {
      graft.ops.Layout.histQuantileBuckets(vals.toDF("v"), "v", 1)
    }
  }

  test("sortFileStats is the x-major baseline: tight x boxes, full-width y boxes") {
    import spark.implicits._
    // 16x16 grid in 64-row files: under sort (x, y) each file holds 4
    // full x-runs -> x width 3, y width 15; under z-order both are 7
    val grid = (for { x <- 0 to 15; y <- 0 to 15 } yield (x.toLong, y.toLong))
      .toDF("x", "y")
    val srt = graft.ops.Layout.sortFileStats(grid, Seq("x", "y"), 64L)
      .select("n", "x_min", "x_max", "y_min", "y_max")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(srt.length == 4 && srt.forall(_._1 == 64L))
    assert(srt.forall(s => s._3 - s._2 == 3L && s._5 - s._4 == 15L))
    val zo = graft.ops.Layout.zorderFileStatsN(grid, Seq("x", "y"), 4, 64L)
      .select("n", "x_min", "x_max", "y_min", "y_max")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(zo.length == 4 && zo.forall(_._1 == 64L))
    assert(zo.forall(s => s._3 - s._2 == 7L && s._5 - s._4 == 7L))
  }

  test("deobfuscate normalizes leet-speak; blocklist screen catches obfuscations") {
    import spark.implicits._
    val norm = Seq("V1agra! c@sino s.p.a.m b.a.d 3ggs")
      .toDF("t").select(graft.ops.Redact.deobfuscate(col("t")).as("n"))
      .as[String].head()
    assert(norm == "viagrai casino spam bad eggs")
    val docs = Seq(
      (1L, "buy v1agra now"), (2L, "c-a-s-i-n-o night"),
      (3L, "plain text"), (4L, "S.P.A.M and spam")).toDF("doc_id", "text")
    val got = graft.ops.Redact.obfuscatedBlocklistScreen(docs, "doc_id",
        "text", Seq("viagra", "casino", "spam"))
      .select("doc_id", "n_hits", "flagged")
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap
    assert(got == Map(1L -> ((1L, true)), 2L -> ((1L, true)),
      3L -> ((0L, false)), 4L -> ((2L, true))))
  }

  test("scd2 compresses state runs into validity intervals (null-safe)") {
    import spark.implicits._
    // key 1: a-a-b-a (run compression + re-entry = new version);
    // key 2: null-null-x (null run is ONE version, null-safe compare);
    // key 3: single event (one open version)
    val log = Seq(
      (1L, Some("a"), 10L, 1L), (1L, Some("a"), 20L, 2L),
      (1L, Some("b"), 30L, 3L), (1L, Some("a"), 40L, 4L),
      (2L, None, 10L, 5L), (2L, None, 20L, 6L), (2L, Some("x"), 30L, 7L),
      (3L, Some("z"), 99L, 8L)
    ).toDF("k", "state", "ts", "id")
    val got = graft.ops.Temporal.scd2(log, Seq("k"), "state", "ts", "id")
      .select("k", "version", "state", "valid_from", "valid_to", "is_current")
      .as[(Long, Long, Option[String], Long, Option[Long], Boolean)]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got == Seq(
      (1L, 1L, Some("a"), 10L, Some(30L), false),
      (1L, 2L, Some("b"), 30L, Some(40L), false),
      (1L, 3L, Some("a"), 40L, None, true),
      (2L, 1L, None, 10L, Some(30L), false),
      (2L, 2L, Some("x"), 30L, None, true),
      (3L, 1L, Some("z"), 99L, None, true)))
  }

  test("pointInTime picks the containing version; pre-first facts keep null") {
    import spark.implicits._
    val dim = graft.ops.Temporal.scd2(
      Seq((1L, "bronze", 10L, 1L), (1L, "gold", 30L, 2L))
        .toDF("k", "tier", "ts", "id"),
      Seq("k"), "tier", "ts", "id")
    val facts = Seq((1L, 5L), (1L, 10L), (1L, 29L), (1L, 30L), (1L, 99L),
      (2L, 50L)).toDF("k", "fts")
    val got = graft.ops.Temporal.pointInTime(facts, dim, Seq("k"), "fts")
      .select("k", "fts", "tier")
      .as[(Long, Long, Option[String])].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got == Map(
      (1L, 5L) -> None,               // before the first version
      (1L, 10L) -> Some("bronze"),    // valid_from inclusive
      (1L, 29L) -> Some("bronze"),
      (1L, 30L) -> Some("gold"),      // valid_to exclusive
      (1L, 99L) -> Some("gold"),      // open current version
      (2L, 50L) -> None))             // key with no dimension history
    // intervals partition time -> the left join cannot duplicate facts
    assert(graft.ops.Temporal.pointInTime(facts, dim, Seq("k"), "fts")
      .count() == facts.count())
  }

  test("rollup merge equals the full recount and keeps a fixed state schema") {
    import spark.implicits._
    val rows = (1 to 400).map(i =>
      (s"g${i % 7}", i.toDouble / 3.0, i.toLong)).toDF("g", "v", "id")
    def st(p: org.apache.spark.sql.Column) = graft.ops.Temporal.rollupState(
      rows.filter(p), Seq("g"), "v")
    val merged = graft.ops.Temporal.mergeRollup(
      st(col("id") % 3 =!= 0), st(col("id") % 3 === 0), Seq("g"))
    // chained merge (a later late batch) must NOT drift the sum type —
    // Spark widens decimal sums by 10 digits per aggregation unpinned
    val again = graft.ops.Temporal.mergeRollup(merged,
      st(col("id") < 0), Seq("g"))
    assert(again.schema("sum_value").dataType ==
      merged.schema("sum_value").dataType)
    val full = graft.ops.Temporal.rollupState(rows, Seq("g"), "v")
      .select(col("g"), col("n"), col("sum_value").cast("double"))
      .as[(String, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap
    val got = again.select(col("g"), col("n"), col("sum_value").cast("double"))
      .as[(String, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap
    assert(got == full) // decimal state: merge is EXACT, not approximate
  }

  test("sweep-line concurrency: overlap counts, back-to-back does not") {
    import spark.implicits._
    // a/b overlap on [5,10); c starts exactly where b ends (no overlap);
    // d is a 1-tick interval inside nothing
    val iv = Seq(("a", 0L, 10L), ("b", 5L, 15L), ("c", 15L, 20L),
      ("d", 50L, 51L)).toDF("id", "lo", "hi")
    val got = graft.ops.Events.concurrency(iv, "lo", "hi", Seq("id"))
      .select("t", "delta", "concurrency")
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got == Seq(
      (0L, 1L, 1L),    // a opens
      (5L, 1L, 2L),    // b opens: overlap
      (10L, -1L, 1L),  // a closes
      (15L, -1L, 0L),  // b closes BEFORE c opens at the same instant
      (15L, 1L, 1L),   // c opens: never concurrent with b
      (20L, -1L, 0L),
      (50L, 1L, 1L),
      (51L, -1L, 0L)))
    assert(got.forall(_._3 >= 0L)) // the order makes negatives impossible
  }

  test("kAnonymity counts risk classes and rows below k") {
    import spark.implicits._
    // QI (g, band): class (x,1) has 3 rows, (x,2) has 1, (y,1) has 5
    val rows = (Seq.fill(3)(("x", 1L)) ++ Seq(("x", 2L)) ++
      Seq.fill(5)(("y", 1L))).toDF("g", "band")
    val got = graft.ops.Redact.kAnonymity(rows, Seq("g", "band"),
        Seq("g"), k = 5L)
      .select("g", "n_rows", "n_classes", "risk_classes", "risk_rows",
        "min_class")
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    assert(got == Map(
      "x" -> ((4L, 2L, 2L, 4L, 1L)),   // both classes below k=5
      "y" -> ((5L, 1L, 0L, 0L, 5L))))  // exactly k is safe
    intercept[IllegalArgumentException] {
      graft.ops.Redact.kAnonymity(rows, Seq("g"), Seq("band"), 5L)
    }
  }

  test("triangleCounts: K4 has 3 per node; direction/dups/self-loops ignored") {
    import spark.implicits._
    // K4 on a,b,c,d (each node in C(3,2)=3 triangles) with noise the
    // undirected-simple reading must absorb: a reversed duplicate, an
    // exact duplicate, a self-loop, and a triangle-free tail e-f
    val edges = Seq(
      ("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
      ("c", "d"),
      ("b", "a"),           // reverse duplicate of (a,b)
      ("a", "c"),           // exact duplicate
      ("d", "d"),           // self-loop
      ("d", "e"), ("e", "f") // tail: e,f in no triangle
    ).toDF("src", "dst")
    val got = graft.ops.Graph.triangleCounts(edges)
      .as[(String, Long)].collect().toMap
    assert(got == Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L))
    // total triangles = sum / 3 = 4 (each counted once per vertex)
    assert(got.values.sum == 12L)
  }

  test("fellegiSunter scores blocked pairs; NULL fields disagree") {
    import spark.implicits._
    import graft.ops.Linkage.FieldRule
    val left = Seq((1L, Some("x"), 10L), (1L, None, 20L), (2L, Some("y"), 30L))
      .toDF("blk", "lv", "lid")
    val right = Seq((1L, "x", 11L), (2L, "z", 31L), (3L, "x", 99L))
      .toDF("blk", "rv", "rid")
    val got = graft.ops.Linkage.fellegiSunter(left, right, Seq("blk"),
        Seq(FieldRule(col("lv") === col("rv"), 1000L, -1000L),
          FieldRule(abs(col("lid") - col("rid")) <= 1, 500L, -500L)),
        upper = 1500L, lower = -500L)
      .select("lid", "rid", "score", "band")
      .as[(Long, Long, Long, String)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(got == Map(
      (10L, 11L) -> ((1500L, "match")),      // both rules agree
      (20L, 11L) -> ((-1500L, "non_match")), // NULL lv = disagreement
      (30L, 31L) -> ((-500L, "possible"))))  // value differs, id close
    // blk=3 right row pairs with nothing: blocking pruned it
    assert(!got.keySet.exists(_._2 == 99L))
  }

  test("prefixRecall: prefix-dim ranking divergence is measured per query") {
    import spark.implicits._
    // q1=(1,0,0,0): full top-1 is a (cos .8) but the 2-dim prefix
    // prefers b (prefix cos .9, full cos .40 — mass hidden in dim 3);
    // q2=(0,1,0,0): c is identical, so both rankings agree
    val rows = Seq(
      (1L, Seq(0.8f, 0.6f, 0f, 0f)),
      (2L, Seq(0.9f, 0.43589f, 2f, 0f)),
      (3L, Seq(0f, 1f, 0f, 0f)),
      (100L, Seq(1f, 0f, 0f, 0f)),
      (200L, Seq(0f, 1f, 0f, 0f))).toDF("vec_id", "embedding")
    val got = Similarity.prefixRecall(rows, "vec_id", "embedding",
        col("vec_id") >= 100L, prefixDims = 2, k = 1)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap
    assert(got == Map(100L -> ((0L, 0L)), 200L -> ((1L, 1000000L))))
  }

  test("columnStats: rows, nulls, width, ndv estimate per column") {
    import spark.implicits._
    val rows = Seq(
      (Some("aa"), 1L), (Some("aa"), 2L), (None, 3L), (Some("bbbb"), 3L)
    ).toDF("s", "k")
    val got = graft.ops.Stats.columnStats(rows, Seq("s", "k"))
      .select("col_name", "n_rows", "n_nulls", "avg_len_milli", "ndv_est")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    val (sN, sNull, sLen, sNdv) = got("s")
    assert((sN, sNull, sLen) == ((4L, 1L, (8L * 1000L) / 3L)))
    // small-range rule: occupied registers, not the biased raw
    // harmonic estimate (46 for n=2 before the rule)
    assert(sNdv >= 1L && sNdv <= 2L)   // 2 exact, 1 under a collision
    val (kN, kNull, kLen, kNdv) = got("k")
    assert((kN, kNull, kLen) == ((4L, 0L, 1000L)))
    assert(kNdv >= 2L && kNdv <= 3L)   // 3 exact
  }

  test("joinRollupDelta: stored + increment equals the full-join recount") {
    import spark.implicits._
    val left = Seq((1L, "p1"), (2L, "p1"), (3L, "p2"), (4L, "p2"))
      .toDF("k", "grp")
    val right = Seq((1L, 1.5), (1L, 2.5), (2L, 4.0), (3L, 8.0), (4L, 0.5))
      .toDF("k", "v")
    val dlPred = col("k") % 2 === 0
    val drPred = col("v") > 2.0
    def roll(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Temporal.rollupState(df, Seq("grp"), "v")
    val stored = roll(left.filter(!dlPred).join(right.filter(!drPred), "k")
      .select("grp", "v"))
    val inc = graft.ops.Temporal.joinRollupDelta(
      left.filter(!dlPred), left.filter(dlPred),
      right.filter(!drPred), right.filter(drPred),
      Seq("k"), Seq("grp"), "v")
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.select(col("grp"), col("n"), col("sum_value").cast("double"))
        .as[(String, Long, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
    val merged = shape(graft.ops.Temporal.mergeRollup(stored, inc, Seq("grp")))
    val full = shape(roll(left.join(right, "k").select("grp", "v")))
    assert(merged == full)
    assert(full == Map("p1" -> ((3L, 8.0)), "p2" -> ((2L, 8.5))))
  }

  test("lastTouchAttribution: window, strict-before, and organic cases") {
    import spark.implicits._
    val ev = Seq(
      // u1: click@10, buy@20 (within 100) -> click
      (1L, "click", 10L, 1L, 0.0), (1L, "buy", 20L, 2L, 5.0),
      // u1: view@200, buy@400 (gap 200 > window 100) -> organic
      (1L, "view", 200L, 3L, 0.0), (1L, "buy", 400L, 4L, 7.0),
      // u2: same-instant touch with an EARLIER tie precedes the
      // conversion in the (ts, tie) log order, so it counts
      (2L, "click", 50L, 5L, 0.0), (2L, "buy", 50L, 6L, 1.0),
      // u3: no touches at all
      (3L, "buy", 99L, 7L, 2.0)
    ).toDF("u", "ty", "us", "id", "value")
    val got = graft.ops.Events.lastTouchAttribution(ev, "u", "ty", "us",
        "id", convType = "buy", touchTypes = Seq("click", "view"),
        windowUs = 100L)
      .select("u", "us", "attributed")
      .as[(Long, Long, String)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got == Map(
      (1L, 20L) -> "click", (1L, 400L) -> "organic",
      (2L, 50L) -> "click", (3L, 99L) -> "organic"))
  }

  test("ndcgAtK: perfect order scores 1e6 ppm; inverted order less") {
    import spark.implicits._
    val disc = graft.ops.Search.ndcgDiscountsMicro(3)
    // q1: gains already descending (2,1,0) -> NDCG = 1.0
    // q2: gains inverted (0,1,2) -> hand-computed ratio
    // q3: all-zero gains -> defined 0
    val ranked = Seq(
      (1L, 1L, 2L), (1L, 2L, 1L), (1L, 3L, 0L),
      (2L, 1L, 0L), (2L, 2L, 1L), (2L, 3L, 2L),
      (3L, 1L, 0L), (3L, 2L, 0L), (3L, 3L, 0L)
    ).toDF("q", "rnk", "gain")
    val got = graft.ops.Search.ndcgAtK(ranked, Seq("q"), "rnk", "gain", 3)
      .select("q", "dcg_micro", "idcg_micro", "ndcg_ppm")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val ideal = 2L * disc(0) + 1L * disc(1)
    val invDcg = 1L * disc(1) + 2L * disc(2)
    assert(got(1L) == ((ideal, ideal, 1000000L)))
    assert(got(2L) == ((invDcg, ideal, invDcg * 1000000L / ideal)))
    assert(got(3L) == ((0L, 0L, 0L)))
  }

  test("audio VAD: stub energies, voiced ppm, and segment runs") {
    import spark.implicits._
    // 'a'=97 voiced, ' '=32 silent at threshold 64. With nFrames=4 and
    // the (i*37) mod len sampling over len=4: indices 0,1,2,3 -> the
    // payload "a ab" reads a,' ',a,b = voiced,silent,voiced,voiced ->
    // 2 segments, 3/4 voiced
    val media = Seq(
      graft.Multimodal.MediaDoc(1L, "a ab".getBytes("UTF-8")),
      graft.Multimodal.MediaDoc(2L, "    ".getBytes("UTF-8")), // all silent
      graft.Multimodal.MediaDoc(3L, Array.emptyByteArray)      // empty clip
    ).toDS()
    val got = graft.Multimodal.vadSegments(
        graft.Multimodal.audioFrameEnergies(media, nFrames = 4).toDF(),
        threshold = 64)
      .select("doc_id", "n_frames", "voiced_ppm", "n_segments")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == Map(
      1L -> ((4L, 750000L, 2L)),
      2L -> ((4L, 0L, 0L)),
      3L -> ((4L, 0L, 0L))))
  }

  test("mapMrrAtK: first-hit reciprocal and precision mass; no-hit is 0") {
    import spark.implicits._
    val ranked = Seq(
      (1L, 1L, false), (1L, 2L, true), (1L, 3L, false), (1L, 4L, true),
      (1L, 5L, false),
      (2L, 1L, false), (2L, 2L, false)
    ).toDF("q", "rnk", "rel")
    val got = graft.ops.Search.mapMrrAtK(ranked, Seq("q"), "rnk", "rel", 5)
      .select("q", "n_rel", "mrr_ppm", "ap_ppm")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // q1: hits at 2 and 4 -> MRR 1/2; AP = (1/2 + 2/4)/2 = 1/2
    assert(got(1L) == ((2L, 500000L, 500000L)))
    assert(got(2L) == ((0L, 0L, 0L)))
  }

  test("scd2Backfill: bounded correction equals the full rebuild") {
    import spark.implicits._
    val log = Seq(
      (1L, "a", 10L, 1L), (1L, "b", 30L, 3L),   // key 1 misses b@20
      (2L, "x", 10L, 4L), (2L, "y", 20L, 5L)    // key 2 untouched
    ).toDF("k", "state", "ts", "id")
    val stragglers = Seq((1L, "c", 20L, 2L)).toDF("k", "state", "ts", "id")
    val stored = graft.ops.Temporal.scd2(log, Seq("k"), "state", "ts", "id")
    def shape(df: org.apache.spark.sql.DataFrame) = df
      .select("k", "version", "state", "valid_from", "valid_to",
        "is_current")
      .as[(Long, Long, String, Long, Option[Long], Boolean)]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    val filled = shape(graft.ops.Temporal.scd2Backfill(stored, log,
      stragglers, Seq("k"), "state", "ts", "id"))
    val full = shape(graft.ops.Temporal.scd2(
      log.unionByName(stragglers), Seq("k"), "state", "ts", "id"))
    assert(filled == full)
    // the straggler split key 1's single a->b transition into a->c->b
    assert(filled.filter(_._1 == 1L).map(_._3) == Seq("a", "c", "b"))
  }

  test("scd2Repair: detect stragglers from the arrival log, repair equals rebuild") {
    import spark.implicits._
    // arrival order (`seq`) disagrees with event time for key 1: c@20
    // ARRIVES after b@30 was already absorbed — the streaming
    // maintainer drops it; the facade must find it and back-fill.
    // key 2 arrives in order and must keep its stored rows verbatim.
    val log = Seq(
      (1L, "a", 10L, 1L, 100L), (1L, "b", 30L, 3L, 101L),
      (1L, "c", 20L, 2L, 102L), // the straggler
      (2L, "x", 10L, 4L, 103L), (2L, "y", 20L, 5L, 104L)
    ).toDF("k", "state", "ts", "id", "seq")
    // the stored dim is what the stream built: everything EXCEPT the
    // dropped straggler
    val absorbed = log.filter(col("seq") =!= 102L)
      .drop("seq")
    val stored = graft.ops.Temporal.scd2(absorbed, Seq("k"), "state",
      "ts", "id")
    def shape(df: org.apache.spark.sql.DataFrame) = df
      .select("k", "version", "state", "valid_from", "valid_to",
        "is_current")
      .as[(Long, Long, String, Long, Option[Long], Boolean)]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    val repaired = shape(graft.ops.Temporal.scd2Repair(stored, log,
      Seq("k"), "state", "ts", "id", "seq"))
    val full = shape(graft.ops.Temporal.scd2(log.drop("seq"), Seq("k"),
      "state", "ts", "id"))
    assert(repaired == full,
      "repaired dimension must equal the full rebuild")
    assert(repaired.filter(_._1 == 1L).map(_._3) == Seq("a", "c", "b"))
  }

  test("joinCardinality reads the containment formula off the stats panel") {
    import spark.implicits._
    // left: 6 rows over 3 keys; right: 3 rows over 3 keys (dim) ->
    // small-range ndv is exact, est = 6*3/3 = 6 = the true join size
    val left = Seq(1L, 1L, 2L, 2L, 3L, 3L).toDF("k")
    val right = Seq(1L, 2L, 3L).toDF("j")
    val r = graft.ops.Stats.joinCardinality(left, "k", right, "j")
      .select("n_left", "n_right", "ndv_left", "ndv_right", "est_rows")
      .as[(Long, Long, Long, Long, Long)].head()
    assert((r._1, r._2) == ((6L, 3L)))
    assert(r._3 >= 2L && r._3 <= 3L && r._4 >= 2L && r._4 <= 3L)
    assert(r._5 == (6L * 3L) / math.max(r._3, r._4))
  }

  test("multiTouchAttribution splits credit; window and organic rules hold") {
    import spark.implicits._
    val ev = Seq(
      // u1: click@10 + view@20 share buy@30 (value 3.0 -> 1.5 each)
      (1L, "click", 10L, 1L, 0.0), (1L, "view", 20L, 2L, 0.0),
      (1L, "buy", 30L, 3L, 3.0),
      // u1: click@100 too old for buy@300 (window 100) -> organic
      (1L, "click", 100L, 4L, 0.0), (1L, "buy", 300L, 5L, 7.0),
      // u2: no touches -> organic
      (2L, "buy", 50L, 6L, 1.0)
    ).toDF("u", "ty", "us", "id", "v")
    val got = graft.ops.Events.multiTouchAttribution(ev, "u", "ty", "us",
        "id", "v", convType = "buy", touchTypes = Seq("click", "view"),
        windowUs = 100L)
      .select("user", "conv_us", "attributed", "credit_micro")
      .as[(Long, Long, String, Long)].collect().toSet
    assert(got == Set(
      (1L, 30L, "click", 1500000L), (1L, 30L, "view", 1500000L),
      (1L, 300L, "organic", 7000000L),
      (2L, 50L, "organic", 1000000L)))
  }

  test("multiTouchAttribution: same-instant conversions stay distinct pin targets") {
    import spark.implicits._
    // u1 converts TWICE at us=30 (ties 3 and 4) — the reason tieCol
    // exists. The click pins to exactly ONE of them (the nearest in
    // the (us, tie) order: tie 3); the other is organic; total credit
    // equals total value, nothing double-counted.
    val ev = Seq(
      (1L, "click", 10L, 1L, 0.0),
      (1L, "buy", 30L, 3L, 2.0), (1L, "buy", 30L, 4L, 5.0)
    ).toDF("u", "ty", "us", "id", "v")
    val got = graft.ops.Events.multiTouchAttribution(ev, "u", "ty", "us",
        "id", "v", convType = "buy", touchTypes = Seq("click", "view"),
        windowUs = 100L)
      .select("user", "conv_us", "attributed", "credit_micro")
      .as[(Long, Long, String, Long)].collect().toSeq.sortBy(_._4)
    assert(got.map(_._4).sum == 7000000L,
      "credit mass must equal the conversion value mass exactly")
    assert(got == Seq(
      (1L, 30L, "click", 2000000L),   // pinned to the tie-3 conversion
      (1L, 30L, "organic", 5000000L)))
  }

  test("editOnePairs: deletion blocking finds ED<=1; verify kills ED-2") {
    import spark.implicits._
    // 'ab'/'ba' share deletion variants 'a' AND 'b' but are ED 2 —
    // the exact verify must reject them
    val words = Seq("cat", "cats", "bat", "dog", "at", "ab", "ba", "cat")
      .toDF("w")
    val got = graft.Dedup.editOnePairs(words, "w")
      .as[(String, String, Long)].collect().toSet
    assert(got == Set(
      ("at", "bat", 1L), ("at", "cat", 1L), ("bat", "cat", 1L),
      ("cat", "cats", 1L),
      ("ab", "at", 1L),   // substitute b -> t
      ("ba", "bat", 1L))) // insert t
    assert(!got.exists(p => p._1 == "ab" && p._2 == "ba")) // ED 2 rejected
  }

  test("sortedNeighborhood pairs rows within w positions of the sort order") {
    import spark.implicits._
    // balances 10,11,50,51: hash-blocking on floor(bal/10) would
    // never pair 11 with 10? it would — but never 11 with 50; the
    // SORT order pairs adjacent values regardless of bucket edges
    val rows = Seq((1L, 10.0), (2L, 11.0), (3L, 50.0), (4L, 51.0))
      .toDF("id", "bal")
    val got = graft.ops.Linkage.sortedNeighborhood(rows,
        Seq(col("bal"), col("id")), w = 3)
      .select("a_id", "b_id", "gap")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set(
      (1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L),  // adjacent
      (1L, 3L, 2L), (2L, 4L, 2L)))               // distance 2
  }

  test("knnLabelVote: majority of exact neighbours; vote ties to smaller label") {
    import spark.implicits._
    // query 100 (label 9) sits in a cluster of two label-1 and one
    // label-2 vectors -> k=3 vote predicts 1 (majority); query 200 has
    // one label-3 and one label-4 equally near -> k=2 tie -> 3
    val rows = Seq(
      (1L, Seq(1f, 0f, 0f), 1), (2L, Seq(0.99f, 0.1f, 0f), 1),
      (3L, Seq(0.98f, 0.15f, 0f), 2),
      (10L, Seq(0f, 1f, 0f), 3), (11L, Seq(0f, 1f, 0.01f), 4),
      (100L, Seq(0.995f, 0.05f, 0f), 9),
      (200L, Seq(0f, 0.9999f, 0.005f), 9)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.knnLabelVote(rows, "vec_id", "embedding",
        "label", col("vec_id") >= 100L, k = 3)
      .select("query_id", "true_label", "predicted", "votes")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._3, r._4))).toMap
    assert(got(100L)._1 == 1L && got(100L)._2 == 2L)
    // 200's 3 nearest: 11 (lab 4), 10 (lab 3), and 3 (lab 2 — its
    // 0.15 second coordinate beats every remaining vector) — the vote
    // is 1-1-1 and ties resolve to the SMALLEST label, 2
    assert(got(200L)._1 == 2L && got(200L)._2 == 1L)
  }

  test("clusterPurity and confusionMatrix on hand contingencies") {
    import spark.implicits._
    val assigned = (Seq.fill(3)((10L, 7L)) ++ Seq((10L, 8L)) ++
      Seq.fill(2)((20L, 5L)) ++ Seq.fill(2)((20L, 4L)))
      .toDF("cell", "lab")
    val pur = graft.ops.Stats.clusterPurity(assigned, "cell", "lab")
      .select("cell", "n", "top_label", "top_n", "purity_ppm")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(pur(10L) == ((4L, 7L, 3L, 750000L)))
    assert(pur(20L) == ((4L, 4L, 2L, 500000L))) // tie -> smaller label
    val cls = Seq(("en", "en"), ("en", "en"), ("en", "de"),
      ("de", "de")).toDF("t", "p")
    val cm = graft.ops.Stats.confusionMatrix(cls, "t", "p")
      .select("true_class", "predicted", "n", "row_ppm")
      .as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(cm(("en", "en")) == ((2L, 666666L)))
    assert(cm(("en", "de")) == ((1L, 333333L)))
    assert(cm(("de", "de")) == ((1L, 1000000L)))
  }

  test("prefixFilterJoin is LOSSLESS: equals the brute-force Jaccard join") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e"), (2L, "a b c d f"),       // jac 4/6 = 0.667
      (3L, "a b c d e"),                          // dup of 1 -> 1.0
      (4L, "x y z"), (5L, "x y w"),               // jac 2/4 = 0.5
      (6L, "q")).toDF("id", "text")
    val toks = docs.select(col("id"),
      explode(split(col("text"), " ")).as("tok"))
    def run(tNum: Int, tDen: Int) =
      graft.ops.SetSim.prefixFilterJoin(toks, "id", "tok", tNum, tDen)
        .select("a_id", "b_id", "n_inter", "n_union")
        .as[(Long, Long, Long, Long)].collect().toSet
    // brute force over all pairs at each threshold
    val sets = docs.collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSet).toMap
    def brute(tNum: Int, tDen: Int) = (for {
      a <- sets.keys; b <- sets.keys if a < b
      inter = (sets(a) & sets(b)).size
      union = (sets(a) | sets(b)).size
      if inter * tDen >= union * tNum
    } yield (a, b, inter.toLong, union.toLong)).toSet
    for ((n, dn) <- Seq((6, 10), (1, 2), (9, 10), (1, 1)))
      assert(run(n, dn) == brute(n, dn), s"threshold $n/$dn")
    // scoped call: same rows, and releasing the scope drops BOTH
    // internal caches (long-lived sessions must not rely on
    // clearCache). Clear first: the unscoped runs above cached the SAME
    // logical plans
    // and CacheManager dedupes, which would skew the count. Track KEY
    // SETS, not counts: earlier tests' localCheckpoint RDDs sit in
    // getPersistentRDDs until the async ContextCleaner collects them,
    // and one vanishing between the snapshots failed this spec on a
    // plain size compare (round-16 flake) — only the RDDs THIS call
    // registered are the assertion's business.
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val scope = new CacheScope
    val rel = graft.ops.SetSim.prefixFilterJoin(toks, "id", "tok", 1, 2, scope)
    assert(rel.select("a_id", "b_id", "n_inter", "n_union")
      .as[(Long, Long, Long, Long)].collect().toSet == brute(1, 2))
    val mine = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(mine.nonEmpty, "the scoped call must register its caches")
    scope.release()
    assert((spark.sparkContext.getPersistentRDDs.keySet & mine).isEmpty,
      "release() must unpersist both internal caches")
  }

  test("starComponents: chains and cliques resolve in logarithmic rounds") {
    import spark.implicits._
    // one 64-node chain (diameter 63 — label propagation would need 63
    // rounds), one triangle, one isolated edge
    val chain = (0L until 63L).map(i => (i, i + 1))
    val edges = (chain ++ Seq((100L, 101L), (101L, 102L), (100L, 102L),
      (200L, 201L))).toDF("u", "v")
    var rounds = -1
    var conv = false
    val got = graft.ops.Graph.starComponents(edges,
        onConverged = (r, c) => { rounds = r; conv = c })
      .as[(Long, Long)].collect().toMap
    assert(conv, "callback must report convergence")
    assert((0L to 63L).forall(got(_) == 0L), "chain collapses to its head")
    assert(Seq(100L, 101L, 102L).forall(got(_) == 100L))
    assert(got(200L) == 200L && got(201L) == 200L)
    assert(rounds <= 10, s"star contraction must be logarithmic, took $rounds")
    // a too-small round budget must FAIL LOUDLY, never return a
    // non-star-forest labeling (the silent-wrong-output failure mode)
    val ex = intercept[IllegalArgumentException] {
      graft.ops.Graph.starComponents(edges, maxIters = 1).collect()
    }
    assert(ex.getMessage.contains("did not converge"))
  }

  test("aucRoc: midrank tie handling matches the hand-computed value") {
    import spark.implicits._
    // scores: pos {3, 2}, neg {2, 1}. Pairs: (3,2)+, (3,1)+, (2,1)+,
    // (2,2) tie=0.5 -> AUC = 3.5/4 = 0.875
    val scored = Seq((1, 3.0), (1, 2.0), (0, 2.0), (0, 1.0))
      .toDF("y", "s")
    val r = graft.ops.Stats.aucRoc(scored, "y", "s")
      .select("n_pos", "n_neg", "auc_ppm")
      .as[(Long, Long, Long)].head()
    assert(r == ((2L, 2L, 875000L)))
    // degenerate: single class reports 0 instead of dividing by zero
    val one = graft.ops.Stats.aucRoc(
        Seq((1, 1.0), (1, 2.0)).toDF("y", "s"), "y", "s")
      .select("auc_ppm").as[Long].head()
    assert(one == 0L)
    // grouped: two strata in ONE scaffold pass — a perfect separator
    // (AUC 1) next to a perfect inverter (AUC 0), plus the tie stratum
    val grouped = graft.ops.Stats.aucRocByGroup(
        Seq(("g1", 1, 9.0), ("g1", 0, 1.0),
          ("g2", 1, 1.0), ("g2", 0, 9.0),
          ("g3", 1, 3.0), ("g3", 1, 2.0), ("g3", 0, 2.0), ("g3", 0, 1.0))
          .toDF("g", "y", "s"), Seq("g"), "y", "s")
      .select("g", "auc_ppm").as[(String, Long)].collect().toMap
    assert(grouped == Map("g1" -> 1000000L, "g2" -> 0L, "g3" -> 875000L))
  }

  test("calibrationBins: deciles, gaps, and the weighted ECE") {
    import spark.implicits._
    val scored = Seq(
      (1, 0.95), (1, 0.95), (0, 0.95), (1, 0.95),   // bin 9: pred .95, obs .75
      (0, 0.05), (0, 0.05),                          // bin 0: pred .05, obs 0
      (1, 1.0))                                      // p = 1.0 clamps to bin 9
      .toDF("y", "p")
    val rows = graft.ops.Stats.calibrationBins(scored, "y", "p", 10)
      .select("bin", "n", "n_pos", "mean_pred_ppm", "obs_ppm", "gap_ppm",
        "ece_ppm")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(rows(0L)._2 == 2L && rows(0L)._5 == 0L && rows(0L)._6 == 50000L)
    assert(rows(9L)._2 == 5L && rows(9L)._3 == 4L)
    // bin 9: mean pred (4*.95 + 1.0)/5 = .96, obs .8 -> gap 160000
    assert(rows(9L)._4 == 960000L && rows(9L)._6 == 160000L)
    // ECE = (2*50000 + 5*160000) / 7 = 128571
    assert(rows.values.head._7 == 128571L)
  }

  test("signed rollup: retractions merge through the unchanged path") {
    import spark.implicits._
    val stored = graft.ops.Temporal.rollupStateSigned(
      Seq(("a", 1L, 2.5), ("a", 1L, 1.5), ("b", 1L, 4.0))
        .toDF("g", "sgn", "v"), Seq("g"), "v", "sgn")
    val delta = graft.ops.Temporal.rollupStateSigned(
      Seq(("a", -1L, 2.5), ("b", -1L, 4.0), ("b", 1L, 6.0), ("c", 1L, 9.0))
        .toDF("g", "sgn", "v"), Seq("g"), "v", "sgn")
    val merged = graft.ops.Temporal.compactRollup(
        graft.ops.Temporal.mergeRollup(stored, delta, Seq("g")))
      .select(col("g"), col("n"), col("sum_value").cast("double"))
      .as[(String, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // a: +2 -1 = 1 row, 4.0 - 2.5 = 1.5; b passes THROUGH zero and
    // back: +1 -1 +1 = 1, 4 - 4 + 6 = 6; c is insert-only
    assert(merged == Map("a" -> ((1L, 1.5)), "b" -> ((1L, 6.0)),
      "c" -> ((1L, 9.0))))
    // a group retracted to exactly zero disappears after compaction
    val gone = graft.ops.Temporal.compactRollup(
      graft.ops.Temporal.mergeRollup(stored,
        graft.ops.Temporal.rollupStateSigned(
          Seq(("b", -1L, 4.0)).toDF("g", "sgn", "v"), Seq("g"), "v",
          "sgn"), Seq("g")))
    assert(!gone.select("g").as[String].collect().contains("b"))
  }

  test("latenessCensus counts out-of-order arrivals and worst lateness") {
    import spark.implicits._
    // arrival order: ts 10, 30, 20(late by 10), 5(late by 25), key 2 clean
    val log = Seq(
      (1L, 10L, 1L, 100L), (1L, 30L, 2L, 101L), (1L, 20L, 3L, 102L),
      (1L, 5L, 4L, 103L), (2L, 7L, 5L, 104L), (2L, 9L, 6L, 105L)
    ).toDF("k", "ts", "tie", "arr")
    val got = graft.ops.Events.latenessCensus(log, Seq("k"), "ts", "tie",
        "arr")
      .select("k", "n_rows", "n_late", "max_lateness")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((4L, 2L, 25L)))
    assert(got(2L) == ((2L, 0L, 0L)))
  }

  test("pqAssign: codebook members map to themselves; ties to smaller code") {
    import spark.implicits._
    val cb = Seq(
      (0L, 0, Seq(1.0, 0.0)), (0L, 1, Seq(0.0, 1.0)),
      (7L, 0, Seq(0.0, 1.0)), (7L, 1, Seq(1.0, 0.0))
    ).toDF("code", "sub", "cv")
    val vecs = Seq(
      (10L, Seq(1.0, 0.0, 0.0, 1.0)),  // = code 0 in both subspaces
      (11L, Seq(0.0, 1.0, 1.0, 0.0)),  // = code 7 in both subspaces
      (12L, Seq(0.5, 0.5, 0.5, 0.5))   // equidistant -> smaller code 0
    ).toDF("id", "v")
    val got = graft.Similarity.pqAssign(vecs, "id", "v", cb, "code",
        "sub", "cv", m = 2, dims = 4)
      .as[(Long, Int, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got == Map((10L, 0) -> 0L, (10L, 1) -> 0L,
      (11L, 0) -> 7L, (11L, 1) -> 7L, (12L, 0) -> 0L, (12L, 1) -> 0L))
  }

  test("chiSquareCells and benfordScreen: exact integer audits") {
    import spark.implicits._
    // independent 2x2 (all margins equal) -> expected = observed,
    // chi2 contributions all zero
    val indep = Seq(("en", "s1"), ("en", "s2"), ("de", "s1"), ("de", "s2"))
      .toDF("l", "s")
    val cells = graft.ops.Stats.chiSquareCells(indep, "l", "s")
      .select("n", "expected_milli", "chi2_micro")
      .as[(Long, Long, Long)].collect()
    assert(cells.forall(c => c._1 == 1L && c._2 == 1000L && c._3 == 0L))
    // divisor guard: two rare margins in a large corpus floor
    // expected_milli to 0 (ra*cb*1000 < tot) — must yield a defined
    // chi2_micro, not null. 1 ("z","r") cell among 2001 rows:
    // 1*1*1000 div 2001 = 0 -> guarded divisor 1.
    val rare = ((1 to 1000).map(_ => ("en", "s1")) ++
      (1 to 1000).map(_ => ("de", "s2")) ++ Seq(("z", "r")))
      .toDF("l", "s")
    val zc = graft.ops.Stats.chiSquareCells(rare, "l", "s")
      .filter(col("a") === "z")
      .select("expected_milli", "chi2_micro")
      .as[(Long, Long)].head()
    assert(zc._1 == 0L && zc._2 == 1000000000L,
      s"guarded zero-expected cell, got $zc")
    // Benford: first significant digit via the micro-string — 0.5
    // reads 5, 123.4 reads 1, 0.007 reads 7; zero/negative drop
    val b = graft.ops.Stats.benfordScreen(
        Seq(0.5, 123.4, 0.007, 55.0, -3.0, 0.0).toDF("v"), "v")
      .select("digit", "n", "expected_ppm")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap
    assert(b == Map(5L -> ((2L, 79181L)), 1L -> ((1L, 301029L)),
      7L -> ((1L, 57991L))))
  }

  test("duplicatedSpans: maximal spans, intra-doc repeats, maxOcc policy") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x1 x2 c1 c2 c3 c4 c5 x3"),   // shared run at pos 3..7
      (2L, "y1 c1 c2 c3 c4 c5 y2 y3"),   // same run at pos 2..6
      (3L, "p q r z1 p q r"),            // INTRA-doc repeat, 2 islands
      (4L, "w1 w2")                      // shorter than l: no windows
    ).toDF("doc_id", "text")
    val got = graft.ops.SpanDedup
      .duplicatedSpans(docs, "doc_id", "text", l = 3)
      .as[(Long, Long, Long, Long)].collect().toSet
    // doc1: windows at 3,4,5 merge -> [3, 8); doc2: [2, 7);
    // doc3: "p q r" at 1 and 5, gap at 4 -> [1, 4) and [5, 8)
    assert(got == Set((1L, 3L, 8L, 5L), (2L, 2L, 7L, 5L),
      (3L, 1L, 4L, 3L), (3L, 5L, 8L, 3L)))
    // maxOcc policy knob: the c1..c3 window occurs twice; a third
    // occurrence pushes it past maxOcc=2 and out of the report, while
    // windows still at occ 2 stay
    val docs3 = docs.unionAll(Seq((5L, "z9 c1 c2 c3 z8")).toDF("doc_id", "text"))
    val capped = graft.ops.SpanDedup
      .duplicatedSpans(docs3, "doc_id", "text", l = 3, maxOcc = 2L)
      .as[(Long, Long, Long, Long)].collect().toSet
    // "c1 c2 c3" now occ=3 -> dropped; "c2 c3 c4"/"c3 c4 c5" remain
    // occ=2: doc1 span shrinks to [4, 8), doc2 to [3, 7), doc5 none
    assert(capped == Set((1L, 4L, 8L, 4L), (2L, 3L, 7L, 4L),
      (3L, 1L, 4L, 3L), (3L, 5L, 8L, 3L)))
  }

  test("weightedPrefixFilterJoin is LOSSLESS: equals brute-force weighted Jaccard") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e"), (2L, "a b c d f"),
      (3L, "a b c d e"), (4L, "x y z"), (5L, "x y w"), (6L, "q"))
      .toDF("id", "text")
    val toks = docs.select(col("id"),
      explode(split(col("text"), " ")).as("tok")).distinct()
    // idf-style global integer weights: 1e6 div df, floor 1
    val w = toks.groupBy("tok").agg(count(lit(1)).as("df"))
      .select(col("tok"), greatest(expr("1000000L div df"), lit(1L)).as("wt"))
    val weighted = toks.join(w, "tok").select("id", "tok", "wt")
    val wMap = w.as[(String, Long)].collect().toMap
    val sets = docs.collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSet).toMap
    def brute(tNum: Int, tDen: Int) = (for {
      a <- sets.keys; b <- sets.keys if a < b
      i = (sets(a) & sets(b)).toSeq.map(wMap).sum
      u = (sets(a) | sets(b)).toSeq.map(wMap).sum
      if i * tDen >= u * tNum
    } yield (a, b, i, u)).toSet
    for ((n, dn) <- Seq((1, 2), (7, 10), (9, 10), (1, 1))) {
      // string tokens: the generic HOF verify path
      val got = graft.ops.SetSim.weightedPrefixFilterJoin(
          weighted, "id", "tok", "wt", n, dn)
        .select("a_id", "b_id", "w_inter", "w_union")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got == brute(n, dn), s"threshold $n/$dn (HOF path)")
      // long tokens: the native merge-kernel verify path. hash60 is
      // injective on this vocabulary, so dfs/weights are unchanged
      // and the result must equal the same brute force.
      val gotL = graft.ops.SetSim.weightedPrefixFilterJoin(
          weighted.select(col("id"),
            graft.Pipeline.wordHash60(col("tok")).as("tok"), col("wt")),
          "id", "tok", "wt", n, dn)
        .select("a_id", "b_id", "w_inter", "w_union")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(gotL == brute(n, dn), s"threshold $n/$dn (kernel path)")
    }
    // releasing the scope drops both internal caches
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.size
    val scope = new CacheScope
    val rel = graft.ops.SetSim.weightedPrefixFilterJoin(
      weighted, "id", "tok", "wt", 1, 2, scope)
    rel.collect()
    scope.release()
    assert(spark.sparkContext.getPersistentRDDs.size == before)
  }

  test("kCore: peels cascades exactly, keeps within-core degrees, " +
      "fails loudly on a too-small round budget") {
    import spark.implicits._
    // K5 clique (5-node, degree 4) + a 3-node tail hanging off node 0
    // + a separate triangle. k=3: tail and triangle (degree <= 2) all
    // peel in round one; the clique survives with its internal degree
    // 4 — node 0's tail edge is gone, so its WITHIN-CORE degree is 4
    // like everyone else's.
    val clique = for (a <- 0L until 5L; b <- (a + 1) until 5L) yield (a, b)
    val tail = Seq((0L, 100L), (100L, 101L), (101L, 102L))
    val tri = Seq((200L, 201L), (201L, 202L), (200L, 202L))
    val edges = (clique ++ tail ++ tri).toDF("u", "v")
    var rounds = -1
    var conv = false
    val got = graft.ops.Graph.kCore(edges, k = 3, maxIters = 10,
        onConverged = (r, c) => { rounds = r; conv = c })
      .as[(Long, Long)].collect().toMap
    assert(conv, "callback must report convergence")
    assert(got == (0L until 5L).map(_ -> 4L).toMap)
    // cascade shape: k=2 on a 5-node path peels ONE layer per round
    // from each end (300/304, then 301/303, then 302) — the
    // data-dependent round count the scaladoc warns about
    val path = Seq((300L, 301L), (301L, 302L), (302L, 303L), (303L, 304L))
    var cascadeRounds = -1
    val core2 = graft.ops.Graph.kCore((path ++ tri).toDF("u", "v"),
        k = 2, maxIters = 10,
        onConverged = (r, _) => { cascadeRounds = r })
      .as[(Long, Long)].collect().toMap
    assert(core2 == Seq(200L, 201L, 202L).map(_ -> 2L).toMap)
    assert(cascadeRounds >= 3,
      s"path must cascade over rounds, took $cascadeRounds")
    // duplicate/reversed/self-loop edges do not inflate degrees
    val noisy = (clique ++ clique.map(_.swap) ++ Seq((0L, 0L))).toDF("u", "v")
    val got2 = graft.ops.Graph.kCore(noisy, k = 4)
      .as[(Long, Long)].collect().toMap
    assert(got2 == (0L until 5L).map(_ -> 4L).toMap)
    // k above the max degree: empty core converges (never throws)
    assert(graft.ops.Graph.kCore(edges, k = 10).count() == 0L)
    // truncated peel = silently-wrong membership -> must fail loudly
    // (maxIters=1: the first round still shrinks, no fixed point seen)
    val ex = intercept[IllegalArgumentException] {
      graft.ops.Graph.kCore(edges, k = 3, maxIters = 1).collect()
    }
    assert(ex.getMessage.contains("did not converge"))
  }

  test("adamicAdar: scores match the textbook formula; adjacent pairs " +
      "and over-cap middles excluded") {
    import spark.implicits._
    // path 1-2-3-4 plus hub 9 linked to {1, 3, 5}:
    //   (1,3): middles {2 (deg 2), 9 (deg 3)}
    //   (2,4): middle {3} (deg 3)
    //   (1,5)/(3,5): middle {9} (deg 3)
    //   (1,4): none (distance 3). (1,2) adjacent -> excluded.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (9L, 1L), (9L, 3L), (9L, 5L)).toDF("u", "v")
    def c(d: Long) = math.floor(1e6 / math.log(d.toDouble)).toLong
    val got = graft.ops.Graph.adamicAdar(edges)
      .as[(Long, Long, Long, Long)].collect().toSet
    // expectations computed by hand over the graph above; degrees:
    // 1 -> {2, 9} (2), 2 -> {1, 3} (2), 3 -> {2, 4, 9} (3),
    // 4 -> {3} (1), 5 -> {9} (1), 9 -> {1, 3, 5} (3)
    val expect = Set(
      (1L, 3L, c(2) + c(3), 2L), // middles: 2 (deg 2), 9 (deg 3)
      (2L, 4L, c(3), 1L),        // middle: 3 (deg 3)
      (1L, 5L, c(3), 1L),        // middle: 9
      (3L, 5L, c(3), 1L),        // middle: 9
      (2L, 9L, c(2) + c(3), 2L), // middles: 1 (deg 2), 3 (deg 3)
      (4L, 9L, c(3), 1L))        // middle: 3
    assert(got == expect)
    // degree cap: with maxDegree = 2 the hub 9 and node 3 stop being
    // middles; only deg-2 middles remain
    val capped = graft.ops.Graph.adamicAdar(edges, maxDegree = 2)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(capped == Set(
      (1L, 3L, c(2), 1L),        // middle 2 only
      (2L, 9L, c(2), 1L)))       // middle 1 only
    // topK truncates deterministically by (score desc, u, v)
    val top2 = graft.ops.Graph.adamicAdar(edges, topK = 2)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(top2 == expect.toSeq.sortBy(t => (-t._3, t._1, t._2)).take(2))
  }

  test("adamicAdar minCommonNeighbors gate: equals the exact output " +
      "filtered to the floor (the endpoint prune is lossless)") {
    import spark.implicits._
    // the spec graph above plus a deg-1 tail (6-4) that can only ever
    // make singleton wedges — the endpoint prune's target population
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (9L, 1L), (9L, 3L), (9L, 5L), (6L, 4L)).toDF("u", "v")
    val exact = graft.ops.Graph.adamicAdar(edges)
      .as[(Long, Long, Long, Long)].collect().toSet
    val gated = graft.ops.Graph.adamicAdar(edges, minCommonNeighbors = 2)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(gated == exact.filter(_._4 >= 2L))
    assert(gated.nonEmpty && gated.size < exact.size)
    // floor 1 IS exact mode
    val floor1 = graft.ops.Graph.adamicAdar(edges, minCommonNeighbors = 1)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(floor1 == exact)
    intercept[IllegalArgumentException] {
      graft.ops.Graph.adamicAdar(edges, minCommonNeighbors = 0)
    }
  }

  test("adamicAdarSampled: sampleOneIn=1 is the exact operator; the " +
      "md5-slot draw and HT scaling replay JVM-side") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (9L, 1L), (9L, 3L), (9L, 5L), (6L, 4L)).toDF("u", "v")
    val exact = graft.ops.Graph.adamicAdar(edges)
      .as[(Long, Long, Long, Long)].collect().toSet
    // denom 1 keeps every wedge: identical to exact (columns renamed)
    val all1 = graft.ops.Graph.adamicAdarSampled(edges, sampleOneIn = 1)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(all1 == exact)
    // denom 3: replay the draw JVM-side — first 8 md5 hex digits of
    // the node id's decimal string, summed over (w, u, v), mod 3 —
    // over a hand enumeration of the graph's wedges, then HT-scale
    def h32(x: Long): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.toString.getBytes("UTF-8")).take(4)
        .map(b => f"$b%02x").mkString, 16)
    val adj = Map(1L -> Set(2L, 9L), 2L -> Set(1L, 3L),
      3L -> Set(2L, 4L, 9L), 4L -> Set(3L, 6L), 5L -> Set(9L),
      6L -> Set(4L), 9L -> Set(1L, 3L, 5L))
    def c(d: Int) = math.floor(1e6 / math.log(d.toDouble)).toLong
    val wedges = for {
      (w, ns) <- adj.toSeq if ns.size >= 2 // maxDegree 64 never binds
      u <- ns; v <- ns if u < v
      if (h32(w) + h32(u) + h32(v)) % 3 == 0
    } yield (u, v, c(adj(w).size))
    val expect = wedges.groupBy(t => (t._1, t._2)).map { case ((u, v), ws) =>
        (u, v, 3L * ws.map(_._3).sum, 3L * ws.size)
      }.filterNot { case (u, v, _, _) => adj(u).contains(v) }.toSet
    val got = graft.ops.Graph.adamicAdarSampled(edges, sampleOneIn = 3)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == expect)
    assert(got.nonEmpty && got.size < exact.size) // denom 3 really drops
    intercept[IllegalArgumentException] {
      graft.ops.Graph.adamicAdarSampled(edges, sampleOneIn = 0)
    }
  }

  test("cohenKappa: hand-computed kappa, chance-only raters near 0, " +
      "and the zero-variance guard") {
    import spark.implicits._
    // 2x2 contingency: yy=45, yn=15, ny=10, nn=30 -> n=100, agree=75,
    // A: 60 yes / 40 no; B: 55 yes / 45 no.
    // pe = (60*55 + 40*45)/10000 = 0.51; kappa = 0.24/0.49
    val rows = Seq.fill(45)(("y", "y")) ++ Seq.fill(15)(("y", "n")) ++
      Seq.fill(10)(("n", "y")) ++ Seq.fill(30)(("n", "n"))
    val df = rows.toDF("a", "b")
    val r = graft.ops.Stats.cohenKappa(df, "a", "b")
      .as[(Long, Long, Long, Long, Long)].head()
    val (n, agree, po, pe, kappa) = r
    assert(n == 100L && agree == 75L && po == 750000L)
    assert(pe == 510000L)
    // exact integer rational: (100*75 - 5100) * 1e6 div (10000 - 5100)
    assert(kappa == (100L * 75L - 5100L) * 1000000L / (10000L - 5100L))
    // both raters constant on the same label: kappa undefined -> 0
    val const = Seq.fill(5)(("x", "x")).toDF("a", "b")
    val k0 = graft.ops.Stats.cohenKappa(const, "a", "b")
      .select("kappa_ppm").as[Long].head()
    assert(k0 == 0L)
    // systematic disagreement: negative kappa survives the floor
    val neg = (Seq.fill(9)(("y", "n")) ++ Seq.fill(9)(("n", "y")) ++
      Seq.fill(1)(("y", "y")) ++ Seq.fill(1)(("n", "n"))).toDF("a", "b")
    val kn = graft.ops.Stats.cohenKappa(neg, "a", "b")
      .select("kappa_ppm").as[Long].head()
    assert(kn < 0L, s"expected negative kappa, got $kn")
  }

  test("intervalJoinBucketed: containment semantics exact across " +
      "bucket boundaries; no nested-loop join in the plan") {
    import spark.implicits._
    val points = Seq(0L, 5L, 9L, 10L, 15L, 19L, 20L, 99L, 100L, 250L)
      .map(p => (p, s"p$p")).toDF("t", "tag")
    // [5, 15): spans buckets 0 and 1 at width 10; [10, 20): aligned;
    // [0, 100): LONG interval covering 10 buckets; [40, 40): empty;
    // [98, 102): boundary straddle
    val iv = Seq((1L, 5L, 15L), (2L, 10L, 20L), (3L, 0L, 100L),
      (4L, 40L, 40L), (5L, 98L, 102L)).toDF("iv", "s", "e")
    val joined = graft.ops.Events.intervalJoinBucketed(
      points, "t", iv, "s", "e", bucketWidth = 10L)
    val got = joined.select("iv", "t").as[(Long, Long)].collect().toSet
    val expect = (for {
      (i, s, e) <- Seq((1L, 5L, 15L), (2L, 10L, 20L), (3L, 0L, 100L),
        (4L, 40L, 40L), (5L, 98L, 102L))
      p <- Seq(0L, 5L, 9L, 10L, 15L, 19L, 20L, 99L, 100L, 250L)
      if p >= s && p < e
    } yield (i, p)).toSet
    assert(got == expect)
    // the whole point of the operator: the physical plan must be a
    // bucket EQUI-join, never BroadcastNestedLoopJoin
    val physical = joined.queryExecution.executedPlan.toString
    assert(!physical.contains("BroadcastNestedLoopJoin"),
      "bucketed interval join must not plan a nested loop")
    // zero bucketWidth rejected loudly
    intercept[IllegalArgumentException] {
      graft.ops.Events.intervalJoinBucketed(points, "t", iv, "s", "e", 0L)
    }
  }

  test("krippendorffAlpha: pinned reference value with missing " +
      "ratings; degenerate and overflow guards") {
    import spark.implicits._
    // independently computed (sequential Python replay): 6 items, 3
    // raters with gaps; item 5 single-rated -> excluded. n=13,
    // do_ppm=307692, de_ppm=756410, alpha_ppm=593220
    val ratings = Seq(
      (1L, "A", "a"), (1L, "B", "a"), (1L, "C", "a"),
      (2L, "A", "b"), (2L, "B", "b"),
      (3L, "A", "b"), (3L, "B", "c"), (3L, "C", "b"),
      (4L, "A", "a"), (4L, "C", "a"),
      (5L, "B", "d"),
      (6L, "A", "c"), (6L, "B", "c"), (6L, "C", "d"))
      .toDF("item", "rater", "label")
    val r = graft.ops.Stats.krippendorffAlpha(ratings, "item", "rater",
        "label")
      .as[(Long, Long, Long, Long, Long)].head()
    assert(r == ((13L, 5L, 307692L, 756410L, 593220L)))
    // perfect agreement -> alpha = 1.0 exactly
    val perfect = Seq((1L, "A", "x"), (1L, "B", "x"),
      (2L, "A", "y"), (2L, "B", "y")).toDF("item", "rater", "label")
    val p = graft.ops.Stats.krippendorffAlpha(perfect, "item", "rater",
        "label").select("alpha_ppm").as[Long].head()
    assert(p == 1000000L)
    // nothing pairable -> zeros, no division blowup
    val lonely = Seq((1L, "A", "x"), (2L, "B", "y"))
      .toDF("item", "rater", "label")
    val z = graft.ops.Stats.krippendorffAlpha(lonely, "item", "rater",
        "label").as[(Long, Long, Long, Long, Long)].head()
    assert(z == ((0L, 0L, 0L, 0L, 0L)))
    // > 10 ratings on one item breaks the K=2520 exactness -> loud
    val crowd = (0 until 11).map(i => (1L, s"r$i", "x"))
      .toDF("item", "rater", "label")
    val ex = intercept[Exception] {
      graft.ops.Stats.krippendorffAlpha(crowd, "item", "rater", "label")
        .collect()
    }
    assert(ex.getMessage.contains("krippendorffAlpha"))
  }

  test("ivfPqTopK: ADC ranking equals the brute-force replay on a " +
      "separable corpus") {
    import spark.implicits._
    // 3 cells of 8-dim vectors; codebook = 4 pinned corpus vectors.
    // m=2 subspaces of 4 dims. Deterministic integer-ish values.
    def vec(seed: Long): Seq[Float] =
      (0 until 8).map(d => (((seed * 31 + d * 7) % 13) - 6).toFloat)
    val corpus = (0L until 24L).map(i => (i, vec(i), i % 3))
      .toDF("vec_id", "embedding", "cell")
    val cb = (0L until 4L).map { c =>
      (c, vec(c * 5 + 1))
    }.toDF("code", "cv").select(col("code"),
      explode(expr("transform(sequence(0, 1)," +
        " x -> struct(x AS sub_idx, slice(cv, x * 4 + 1, 4) AS cs))"))
        .as("_e"))
      .select(col("code"), col("_e.sub_idx"), col("_e.cs"))
    val centroids = graft.Similarity.ivfIndex(corpus, "embedding", "cell")
    val got = graft.Similarity.ivfPqTopK(corpus, "vec_id", "embedding",
        "cell", centroids, cb, "code", "sub_idx", "cs",
        m = 2, dims = 8, queryId = 0L, k = 5, nProbe = 2)
      .as[(Long, Long)].collect().toSeq
    // brute-force replay in Scala: same probed cells, same PQ argmin,
    // same micro-floor ADC
    val cbv = (0L until 4L).map(c => c -> vec(c * 5 + 1).map(_.toDouble))
      .toMap
    val qv = vec(0).map(_.toDouble)
    def d2(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val cellCent = (0L until 3L).map { cell =>
      val members = (0L until 24L).filter(_ % 3 == cell)
        .map(i => vec(i).map(_.toDouble))
      cell -> (0 until 8).map(d => members.map(_(d)).sum / members.size)
    }.toMap
    def cos(a: Seq[Double], b: Seq[Double]) = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val probed = cellCent.toSeq.sortBy { case (c, v) => (-cos(qv, v), c) }
      .take(2).map(_._1).toSet
    val expect = (1L until 24L).filter(i => probed.contains(i % 3)).map { i =>
      val v = vec(i).map(_.toDouble)
      val adc = (0 until 2).map { s =>
        val sv = v.slice(s * 4, s * 4 + 4)
        val best = (0L until 4L).minBy(c =>
          (d2(sv, cbv(c).slice(s * 4, s * 4 + 4)), c))
        val qs = qv.slice(s * 4, s * 4 + 4)
        math.floor(d2(qs, cbv(best).slice(s * 4, s * 4 + 4)) * 1e6).toLong
      }.sum
      (i, adc)
    }.sortBy { case (i, adc) => (adc, i) }.take(5)
    assert(got == expect)
  }

  test("modularity: two triangles + bridge, communities = the triangles") {
    import spark.implicits._
    // classic: m = 7 edges, each triangle community has e_c = 3,
    // d_c = 7 -> contribution = (4*7*3 - 49) * 1e6 div (4*49) = 178571
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)).toDF("u", "v")
    val comm = Seq((1L, "a"), (2L, "a"), (3L, "a"),
      (4L, "b"), (5L, "b"), (6L, "b")).toDF("node", "c")
    val got = graft.ops.Graph.modularity(edges, comm, "node", "c")
      .orderBy("community")
      .select("community", "n_nodes", "internal_edges", "degree_sum",
        "m_edges", "contribution_ppm")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("a", 3L, 3L, 7L, 7L, 178571L),
      ("b", 3L, 3L, 7L, 7L, 178571L)))
    // Q = 0.357142 — the textbook value for this graph
    assert(got.map(_._6).sum == 357142L)
  }

  test("modularity fails loudly on an unlabeled edge endpoint") {
    import spark.implicits._
    val edges = Seq((1L, 2L)).toDF("u", "v")
    val comm = Seq((1L, "a")).toDF("node", "c")
    val e = intercept[Exception] {
      graft.ops.Graph.modularity(edges, comm, "node", "c").collect()
    }
    assert(e.getMessage.contains("missing from communities"))
  }

  test("priorityWeighted: k rows matching the brute-force top-k; tau-clamped estimator") {
    import spark.implicits._
    val rows = (1L to 40L).map(i => (i, 1L + (i * 7) % 100))
    val df = rows.toDF("id", "w")
    def h32(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).take(4).map(b => f"$b%02x")
        .mkString, 16)
    val pris = rows.map { case (i, w) =>
      (i, w, (w * 4294967296L).toDouble / (h32(i.toString) + 1L).toDouble)
    }.sortBy { case (i, _, p) => (-p, i) }
    val k = 10
    val tau = pris(k)._3 // (k+1)-th largest priority
    val expect = pris.take(k)
      .map { case (i, w, p) => (i, w, p, math.max(w.toDouble, tau)) }
    val got = graft.ops.Sampling.priorityWeighted(df, "id", "w", k)
      .orderBy(col("pri").desc, col("id"))
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(got == expect)
    // unbiasedness machinery sanity: every estimate >= its weight
    assert(got.forall { case (_, w, _, est) => est >= w })
  }

  test("priorityWeighted: corpus smaller than k returns all rows with w_est = w") {
    import spark.implicits._
    val df = Seq((1L, 5L), (2L, 9L)).toDF("id", "w")
    val got = graft.ops.Sampling.priorityWeighted(df, "id", "w", k = 10)
      .select("id", "w", "w_est")
      .as[(Long, Long, Double)].collect().toSet
    assert(got == Set((1L, 5L, 5.0), (2L, 9L, 9.0)))
  }

  test("priorityWeighted rejects out-of-range weights loudly") {
    import spark.implicits._
    val df = Seq((1L, 0L)).toDF("id", "w")
    val e = intercept[Exception] {
      graft.ops.Sampling.priorityWeighted(df, "id", "w", k = 1).collect()
    }
    assert(e.getMessage.contains("weights must be"))
  }

  test("isotonicCalibration: PAV pools the violating bins; micro-exact") {
    import spark.implicits._
    // bins at rates [1/2, 0/2, 2/2]: the 0.5 -> 0.0 violation pools
    // bins 0+1 to 1/4 = 250000 micro; bin 2 stays at 1000000
    val scored = Seq(
      (0.05, 1L), (0.08, 0L),  // bin 0: 1/2
      (0.45, 0L), (0.48, 0L),  // bin 1: 0/2
      (0.95, 1L), (0.98, 1L)   // bin 2 (clamped 9): 2/2
    ).toDF("p", "y")
    val got = graft.ops.Stats.isotonicCalibration(scored, "y", "p",
        bins = 10)
      .orderBy("bin")
      .select("bin", "n", "n_pos", "raw_micro", "fitted_micro")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (0L, 2L, 1L, 500000L, 250000L),
      (4L, 2L, 0L, 0L, 250000L),
      (9L, 2L, 2L, 1000000L, 1000000L)))
  }

  test("isotonicCalibration output is monotone and mass-preserving on real scores") {
    import spark.implicits._
    val scored = (1L to 400L).map { i =>
      val p = ((i * 37) % 100).toDouble / 100.0
      // noisy-but-correlated labels: higher p more likely positive
      val y = if ((i * 13) % 100 < (p * 80).toLong + 10) 1L else 0L
      (p, y)
    }.toDF("p", "y")
    val got = graft.ops.Stats.isotonicCalibration(scored, "y", "p",
        bins = 20)
      .orderBy("bin")
      .select("bin", "n", "n_pos", "fitted_micro")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got.map(_._4) == got.map(_._4).sorted) // monotone
    // PAV preserves the weighted mean: sum n*fit within 1 micro-unit
    // per bin of floor error of sum n*raw
    val fitMass = got.map(r => r._2 * r._4).sum
    val rawMass = got.map(r => r._3 * 1000000L).sum
    assert(math.abs(fitMass - rawMass) <= got.size * 1000000L)
  }

  test("deterministicWalks: argmin-hash steps on a path graph, exact replay") {
    import spark.implicits._
    // path 1-2-3: node 1's only neighbor is 2; from 2 the draw picks
    // between 1 and 3 — replay the md5 argmin here and expect exactly it
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("u", "v")
    def h32(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).take(4).map(b => f"$b%02x")
        .mkString, 16)
    val adj = Map(1L -> Seq(2L), 2L -> Seq(1L, 3L), 3L -> Seq(2L))
    def walk(start: Long, steps: Int): Seq[(Long, Long, Long)] = {
      var cur = start
      (0 to steps).map { t =>
        if (t > 0) cur = adj(cur).minBy(n => (h32(s"${start}_${t}_$n"), n))
        (start, t.toLong, cur)
      }
    }
    val expect = (1L to 3L).flatMap(walk(_, 3)).toSet
    val got = graft.ops.Graph.deterministicWalks(edges, steps = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == expect)
    // every consecutive hop is an edge
    val byWalk = got.groupBy(_._1).values
    byWalk.foreach { rows =>
      val path = rows.toSeq.sortBy(_._2).map(_._3)
      path.sliding(2).foreach { case Seq(a, b) =>
        assert(adj(a).contains(b), s"non-edge hop $a -> $b")
      }
    }
  }

  test("topPrincipalComponent recovers a planted dominant direction") {
    import spark.implicits._
    // 30 vectors along +-e1 (norm 10) + 6 small e2 vectors: the top
    // direction is e1 regardless of signs; sign canonicalization
    // makes v[0] positive
    val rows = (1 to 30).map { i =>
      val s = if (i % 2 == 0) 10f else -10f
      (i.toLong, Seq(s, 0f, 0f, 0f))
    } ++ (31 to 36).map(i => (i.toLong, Seq(0f, 1f, 0f, 0f)))
    val df = rows.toDF("vec_id", "embedding")
    val got = Similarity.topPrincipalComponent(df, "embedding",
        dims = 4, iters = 12)
      .orderBy("dim_idx")
      .select("dim_idx", "v_micro", "lambda_micro", "ev_ppm")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got.size == 4)
    val v = got.map(_._2)
    assert(v(0) > 990000L, s"dominant component should be ~1e6: $v")
    assert(v.tail.forall(x => math.abs(x) < 20000L), s"minor: $v")
    // lambda ~ 30 vectors * (10^2) * 1e6 micro = 3e9; trace adds the
    // 6 e2 vectors -> ev ~ 3000/3006
    assert(got.head._3 > 2900000000L && got.head._3 < 3100000000L)
    assert(got.head._4 > 990000L)
  }

  test("rankBiasedOverlap: identical, disjoint, and hand-computed partial lists") {
    import spark.implicits._
    def ranks(ids: Seq[Long]) = ids.zipWithIndex
      .map { case (id, i) => (id, (i + 1).toLong) }.toDF("id", "r")
    // identical lists at p=1/2, D=3: RBO = 1 - p^D = 7/8
    val same = graft.ops.Ranking.rankBiasedOverlap(
        ranks(Seq(1L, 2L, 3L)), ranks(Seq(1L, 2L, 3L)), "id", "r",
        depth = 3, pNum = 1, pDen = 2)
      .select("d", "overlap", "rbo_ppm")
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(same == Seq((1L, 1L, 875000L), (2L, 2L, 875000L),
      (3L, 3L, 875000L)))
    // disjoint lists: 0
    val disj = graft.ops.Ranking.rankBiasedOverlap(
        ranks(Seq(1L, 2L)), ranks(Seq(8L, 9L)), "id", "r",
        depth = 2, pNum = 1, pDen = 2)
      .select("rbo_ppm").as[Long].collect().toSeq
    assert(disj.forall(_ == 0L))
    // A=[x,y], B=[y,z] at p=1/2, D=2: (1/2)*(0 + (1/2)*(1/2)) = 1/8
    val part = graft.ops.Ranking.rankBiasedOverlap(
        ranks(Seq(10L, 20L)), ranks(Seq(20L, 30L)), "id", "r",
        depth = 2, pNum = 1, pDen = 2)
      .select("d", "overlap", "rbo_ppm")
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(part == Seq((1L, 0L, 125000L), (2L, 1L, 125000L)))
  }

  test("giniConcentration: flat corpus scores 0; concentrated mass scores high") {
    import spark.implicits._
    val flat = (1L to 40L).map((_, 100L)).toDF("id", "w")
    val g0 = graft.ops.Stats.giniConcentration(flat, "id", "w")
      .select("gini_ppm").as[Long].collect()
    assert(g0.forall(_ == 0L))
    // 3 zero-weight docs + one carrying all mass: G = (2*4*10 -
    // 5*10) / (4*10) = 0.75
    val skew = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 10L))
      .toDF("id", "w")
    val rows = graft.ops.Stats.giniConcentration(skew, "id", "w")
      .orderBy("decile")
      .select("decile", "n_docs", "decile_weight", "cum_weight_ppm",
        "gini_ppm")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(rows.forall(_._5 == 750000L))
    assert(rows.last._4 == 1000000L) // Lorenz curve ends at 100%
    assert(rows.map(_._4) == rows.map(_._4).sorted) // monotone
  }

  test("poissonBootstrap: exact JVM replay of multiplicities, means, variance") {
    import spark.implicits._
    val rows = (1L to 25L).map(i => (i, 10L + i % 7))
    val df = rows.toDF("id", "v")
    def h32(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).take(4).map(b => f"$b%02x")
        .mkString, 16)
    val th = Seq(367879L, 735758L, 919698L, 981011L, 996340L,
      999405L, 999916L, 999989L, 999998L, 999999L)
    val b = 8
    val expect = (0 until b).map { bi =>
      val ms = rows.map { case (id, v) =>
        val slot = h32(s"bs_${bi}_$id") % 1000000L
        (th.count(slot >= _).toLong, v)
      }
      val nEff = ms.map(_._1).sum
      val sv = ms.map { case (m, v) => m * v }.sum
      (bi.toLong, nEff, sv * 1000000L / math.max(nEff, 1L))
    }
    val s1 = expect.map(_._3).map(BigInt(_)).sum
    val s2 = expect.map(_._3).map(x => BigInt(x) * x).sum
    val expectVar = ((BigInt(b) * s2 - s1 * s1) /
      BigInt(b.toLong * (b - 1))).toLong
    val got = graft.ops.Stats.poissonBootstrap(df, "id", "v", b)
      .orderBy("resample")
      .select("resample", "n_eff", "mean_ppm", "var_ppm2")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got.map(r => (r._1, r._2, r._3)) == expect)
    assert(got.forall(_._4 == expectVar))
  }

  test("ksTwoSample: hand ECDFs, deterministic argmax, identical = 0") {
    import spark.implicits._
    val df = (Seq(1L, 2L, 3L, 4L).map(("a", _)) ++
      Seq(3L, 4L, 5L, 6L).map(("b", _)) ++
      Seq(99L).map(("other", _))).toDF("g", "v")
    // F_a - F_b = 0.5 first attained at v = 2 (then held at 3 and 4);
    // the 'other' group must be ignored
    val r = graft.ops.Stats.ksTwoSample(df, "v", "g", "a", "b")
      .select("at_value", "n_a", "n_b", "d_ppm")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(r == Seq((2L, 4L, 4L, 500000L)))
    val same = (Seq(1L, 2L, 2L, 7L).map(("a", _)) ++
      Seq(1L, 2L, 2L, 7L).map(("b", _))).toDF("g", "v")
    val r0 = graft.ops.Stats.ksTwoSample(same, "v", "g", "a", "b")
      .select("at_value", "d_ppm").as[(Long, Long)].collect().toSeq
    assert(r0 == Seq((1L, 0L)))
  }

  test("spearmanCorr: exact BigInt replay; monotone/anti/tied cases") {
    import spark.implicits._
    def replay(rows: Seq[(Long, Long)]): (Long, Long) = {
      val n = rows.size
      def r2(vs: Seq[Long]): Map[Long, BigInt] = {
        val sorted = vs.zipWithIndex.sortBy(identity)
          .zipWithIndex.map { case ((v, _), p) => (v, BigInt(p + 1)) }
        sorted.groupBy(_._1).map { case (v, ps) =>
          v -> (ps.map(_._2).min + ps.map(_._2).max)
        }
      }
      val rx = r2(rows.map(_._1)); val ry = r2(rows.map(_._2))
      val pairs = rows.map { case (x, y) => (rx(x), ry(y)) }
      val (sx, sy) = (pairs.map(_._1).sum, pairs.map(_._2).sum)
      val sxy = pairs.map(p => p._1 * p._2).sum
      val sxx = pairs.map(p => p._1 * p._1).sum
      val syy = pairs.map(p => p._2 * p._2).sum
      val num = n * sxy - sx * sy
      val a = n * sxx - sx * sx; val b = n * syy - sy * sy
      val den = (Similarity.isqrtPortable(a) *
        Similarity.isqrtPortable(b)).max(BigInt(1))
      (n.toLong, ((num * 1000000) / den).toLong)
    }
    def run(rows: Seq[(Long, Long)]): (Long, Long) = {
      val df = rows.zipWithIndex.map { case ((x, y), i) =>
        (x, y, i.toLong)
      }.toDF("x", "y", "id")
      val r = graft.ops.Stats.spearmanCorr(df, "x", "y", Seq("id"))
        .select("n_items", "rho_ppm").as[(Long, Long)].head()
      r
    }
    // strictly monotone (y = x^2 order-preserving), no ties
    val mono = (1L to 100L).map(x => (x, x * x))
    val gm = run(mono)
    assert(gm == replay(mono))
    assert(math.abs(gm._2 - 1000000L) <= 500,
      s"monotone rho ${gm._2} (per-factor floor-sqrt slack at n=100)")
    // strictly anti-monotone
    val anti = (1L to 100L).map(x => (x, 1000L - x))
    val ga = run(anti)
    assert(ga == replay(anti))
    assert(math.abs(ga._2 + 1000000L) <= 500)
    // heavy ties on x (3 values), independent-ish y: exact replay only
    val tied = (1L to 60L).map(i => (i % 3, (i * 37) % 41))
    assert(run(tied) == replay(tied))
  }

  test("clusteringCoefficient: triangle + pendant; duplicate edges dedup") {
    import spark.implicits._
    // triangle 1-2-3 with pendant 4 on node 3; reversed + repeated
    // edges must not change anything
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L),
      (2L, 1L), (1L, 2L), (4L, 3L)).toDF("src", "dst")
    val got = graft.ops.Graph.clusteringCoefficient(edges)
      .orderBy("node")
      .select("node", "degree", "n_tri", "coeff_ppm")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 2L, 1L, 1000000L),
      (2L, 2L, 1L, 1000000L),
      (3L, 3L, 1L, 333333L),
      (4L, 1L, 0L, 0L)))
  }

  test("neymanAllocation: quotas follow N_h * sd_h; caps; determinism") {
    import spark.implicits._
    // stratum a: constant (sd 0, 40 rows); b: high variance (20 rows);
    // c: tiny but spread (4 rows) — budget must concentrate on b, cap c
    val rows = (1L to 40L).map(i => ("a", i, 100L)) ++
      (1L to 20L).map(i => ("b", 100L + i, if (i % 2 == 0) 0L else 1000L)) ++
      (1L to 4L).map(i => ("c", 200L + i, i * 500L))
    val df = rows.toDF("s", "id", "v")
    val got = graft.ops.Sampling.neymanAllocation(df, "id", "s", "v", 12)
      .select("stratum", "id", "n_stratum", "sd_milli", "alloc_n")
      .collect()
    val byStratum = got.groupBy(_.getString(0))
    // zero-variance stratum draws nothing unless remainders bump it
    val allocs = got.map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(allocs.getOrElse("a", 0L) <= 1L)
    assert(allocs("b") >= 8L) // 20 * sd(~500k milli) dominates
    assert(allocs.get("c").forall(_ <= 4L)) // capped at N_c
    // sampled count per stratum == its quota
    byStratum.foreach { case (s, rs) =>
      assert(rs.length == rs.head.getLong(4), s"stratum $s")
    }
    // deterministic: same input -> same sample ids
    val again = graft.ops.Sampling.neymanAllocation(df, "id", "s", "v", 12)
      .select("id").as[Long].collect().sorted.toSeq
    assert(again == got.map(_.getLong(1)).sorted.toSeq)
  }

  test("maximalIndependentSet: independent, maximal, deterministic") {
    import spark.implicits._
    // path 1-2-3-4-5-6 plus triangle 10-11-12 plus isolated edge 20-21
    val edges = (Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (10L, 11L), (11L, 12L), (12L, 10L), (20L, 21L))).toDF("src", "dst")
    var rounds = 0
    val mis = graft.ops.Graph.maximalIndependentSet(edges,
        onConverged = (r, ok) => { rounds = r; assert(ok) })
      .select("node").as[Long].collect().toSet
    val adj = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (10L, 11L), (11L, 12L), (12L, 10L), (20L, 21L))
    // independent: no edge inside the set
    adj.foreach { case (a, b) =>
      assert(!(mis(a) && mis(b)), s"edge ($a,$b) inside MIS") }
    // maximal: every non-member has a member neighbor
    val nodes = adj.flatMap(e => Seq(e._1, e._2)).toSet
    (nodes -- mis).foreach { n =>
      val nbrs = adj.collect { case (a, b) if a == n => b
                               case (a, b) if b == n => a }
      assert(nbrs.exists(mis), s"non-member $n has no MIS neighbor")
    }
    // triangle contributes exactly 1, isolated edge exactly 1
    assert(Seq(10L, 11L, 12L).count(mis) == 1)
    assert(Seq(20L, 21L).count(mis) == 1)
    assert(rounds >= 1)
    // truncation fails loudly
    intercept[Exception] {
      graft.ops.Graph.maximalIndependentSet(
        (1L to 40L).sliding(2).map(p => (p(0), p(1))).toSeq
          .toDF("src", "dst"), maxIters = 1).collect()
    }
  }

  test("robustStats: exact lower median and MAD per stratum") {
    import spark.implicits._
    // odd stratum: 1,3,5,7,100 -> median 5, |d| = 4,2,0,2,95 -> mad 2
    // even stratum: 10,20,30,40 -> lower median 20, |d| = 10,0,10,20
    //   sorted 0,10,10,20 -> lower median (rank 2) = 10
    val df = (Seq(1L, 3L, 5L, 7L, 100L).map(("odd", _)) ++
      Seq(10L, 20L, 30L, 40L).map(("even", _)))
      .zipWithIndex.map { case ((s, v), i) => (s, v, i.toLong) }
      .toDF("s", "v", "id")
    val got = graft.ops.Stats.robustStats(df, "s", "v", "id")
      .orderBy("stratum")
      .select("stratum", "n_rows", "median", "mad")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("even", 4L, 20L, 10L), ("odd", 5L, 5L, 2L)))
  }

  test("hyperBall: exact register/estimator replay on a path; monotone") {
    import spark.implicits._
    val edgeSeq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val edges = edgeSeq.toDF("src", "dst")
    val radius = 3
    val got = graft.ops.Graph.hyperBall(edges, radius = radius, p = 6)
      .orderBy("radius")
      .select("radius", "reach_est", "avg_distance_milli")
      .as[(Long, Long, Long)].collect().toSeq
    // JVM replay: true balls via BFS, registers via the md5 recipe,
    // the raw integer estimator, then the panel distance math
    def h60(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).take(8).map(b => f"$b%02x")
        .mkString.take(15), 16)
    val adj = (edgeSeq ++ edgeSeq.map(_.swap))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val nodes = adj.keySet
    def ball(n: Long, t: Int): Set[Long] =
      (0 until t).foldLeft(Set(n))((s, _) => s ++ s.flatMap(adj))
    def est(members: Set[Long]): BigInt = {
      val regs = members.groupMapReduce { v => h60(v.toString) % 64 } {
        v =>
          val rest = h60(v.toString) / 64
          if (rest == 0) 55L
          else 55L - java.lang.Long.toBinaryString(rest).length
      }(math.max)
      val s = regs.values.map(r => BigInt(1) << (60 - r.toInt)).sum +
        BigInt(64 - regs.size) * (BigInt(1) << 60)
      val raw = (BigInt(709) * 64 * 64 * (BigInt(1) << 60)) /
        (BigInt(1000) * s)
      if (regs.size < 64 && raw < 160)
        BigInt(graft.ops.Graph.LcTable(64 - regs.size - 1))
      else raw
    }
    val expectNf = (0 to radius).map(t =>
      nodes.toSeq.map(n => est(ball(n, t))).sum)
    val gained = (1 to radius)
      .map(t => BigInt(t) * (expectNf(t) - expectNf(t - 1))).sum
    val expectAvg = (gained * 1000 /
      (expectNf(radius) - expectNf(0)).max(BigInt(1))).toLong
    assert(got.map(_._2) == expectNf.map(_.toLong))
    assert(got.map(_._1) == (0L to radius.toLong))
    assert(got.forall(_._3 == expectAvg))
    assert(got.map(_._2) == got.map(_._2).sorted) // monotone profile
  }

  test("assortativity: star = -1e6; regular graph reports 0") {
    import spark.implicits._
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("src", "dst")
    val s = graft.ops.Graph.assortativity(star)
      .select("n_pairs", "assortativity_ppm").as[(Long, Long)].head()
    assert(s == ((6L, -1000000L)))
    // 4-cycle: all degrees equal -> zero variance -> reported 0
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val c = graft.ops.Graph.assortativity(cyc)
      .select("assortativity_ppm").as[Long].head()
    assert(c == 0L)
  }

  test("amsF2: exact JVM sign replay; shard merge = one-shot; estimate") {
    import spark.implicits._
    val rows = (1L to 50L).map(i => (i, "g", s"tok${i % 7}"))
    val df = rows.toDF("id", "g", "w")
    def h60(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).take(8).map(b => f"$b%02x")
        .mkString.take(15), 16)
    val counters = 16
    val expectS = (0 until counters).map { c =>
      c.toLong -> rows.map { case (_, _, w) =>
        ((h60(s"ams_$w") >> c) & 1L) * 2 - 1
      }.sum
    }.toMap
    val oneShot = graft.ops.Sketches.amsF2Sketch(df, Seq("g"), "w",
        counters)
      .select("c", "s").as[(Long, Long)].collect().toMap
    assert(oneShot == expectS)
    // shard + merge equals the one-shot counters (sketches ADD)
    val sharded = graft.ops.Sketches.amsF2Merge(
      graft.ops.Sketches.amsF2Sketch(
        df.withColumn("_p", pmod(col("id"), lit(3))),
        Seq("g", "_p"), "w", counters),
      Seq("g"))
      .select("c", "s").as[(Long, Long)].collect().toMap
    assert(sharded == expectS)
    val est = graft.ops.Sketches.amsF2Estimate(
      graft.ops.Sketches.amsF2Sketch(df, Seq("g"), "w", counters),
      Seq("g"))
      .select("f2_est").as[Long].head()
    val expectEst = (expectS.values.map(s => BigInt(s) * s).sum /
      counters).toLong
    assert(est == expectEst)
  }

  test("harmonicCentrality: exact replay on a path graph") {
    import spark.implicits._
    val edgeSeq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val radius = 3
    val got = graft.ops.Graph.harmonicCentrality(
        edgeSeq.toDF("src", "dst"), radius = radius, p = 6, topK = 10)
      .select("node", "harmonic_milli").as[(Long, Long)].collect().toSeq
    def h60(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).take(8).map(b => f"$b%02x")
        .mkString.take(15), 16)
    val adj = (edgeSeq ++ edgeSeq.map(_.swap))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def ball(n: Long, t: Int): Set[Long] =
      (0 until t).foldLeft(Set(n))((s, _) => s ++ s.flatMap(adj))
    def est(members: Set[Long]): BigInt = {
      val regs = members.groupMapReduce { v => h60(v.toString) % 64 } {
        v =>
          val rest = h60(v.toString) / 64
          if (rest == 0) 55L
          else 55L - java.lang.Long.toBinaryString(rest).length
      }(math.max)
      val s = regs.values.map(r => BigInt(1) << (60 - r.toInt)).sum +
        BigInt(64 - regs.size) * (BigInt(1) << 60)
      val raw = (BigInt(709) * 64 * 64 * (BigInt(1) << 60)) /
        (BigInt(1000) * s)
      if (regs.size < 64 && raw < 160)
        BigInt(graft.ops.Graph.LcTable(64 - regs.size - 1))
      else raw
    }
    val expect = adj.keySet.toSeq.map { n =>
      val h = (1 to radius).map { t =>
        (est(ball(n, t)) - est(ball(n, t - 1))) * 1000 / BigInt(t)
      }.sum
      (n, h.toLong)
    }.sortBy { case (n, h) => (-h, n) }
    assert(got == expect)
  }

  test("cupedAdjust: perfect covariate removes ~all variance; means preserved") {
    import spark.implicits._
    // y = 2x + variant shift: pooled theta -> 2000 milli, per-variant
    // adjusted variance -> ~0, mean difference (a vs b) preserved
    val rows = (1L to 50L).flatMap { i =>
      Seq(("a", 2 * (i % 10) + 100, i % 10), ("b", 2 * (i % 10) + 110, i % 10))
    }
    val df = rows.toDF("v", "y", "x")
    val got = graft.ops.Stats.cupedAdjust(df, "v", "y", "x")
      .orderBy("variant")
      .select("variant", "n_rows", "theta_milli", "mean_y_milli",
        "mean_adj_milli", "var_reduction_ppm")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got.map(_._1) == Seq("a", "b"))
    assert(got.forall(_._3 == 2000L))
    // adjustment is a shared shift: the a-vs-b mean gap survives
    assert(got(1)._4 - got(0)._4 == 10000L)
    assert(got(1)._5 - got(0)._5 == 10000L)
    assert(got.forall(_._6 == 1000000L), s"full reduction, got $got")
    // zero-variance covariate: theta 0, adjusted = raw
    val flat = Seq(("a", 5L, 7L), ("a", 9L, 7L)).toDF("v", "y", "x")
    val g0 = graft.ops.Stats.cupedAdjust(flat, "v", "y", "x")
      .select("theta_milli", "mean_y_milli", "mean_adj_milli",
        "var_reduction_ppm").as[(Long, Long, Long, Long)].head()
    assert(g0 == ((0L, 7000L, 7000L, 0L)))
  }

  test("winsorizedMeans: hand strata; outlier clamped and trimmed") {
    import spark.implicits._
    // 10 rows 1..9 + 1000: 10% trim each side cuts rank 1 and keeps
    // through rank 9 (klo = khi = 1): trimmed mean of 2..9 = 5.5;
    // winsorized clamps 1000 -> 9 and 1 -> 2
    val df = ((1L to 9L) :+ 1000L).zipWithIndex
      .map { case (v, i) => ("s", v, i.toLong) }.toDF("g", "v", "id")
    val got = graft.ops.Stats.winsorizedMeans(df, "g", "v", "id",
        lowPermille = 100, highPermille = 100)
      .select("stratum", "n_rows", "lo_bound", "hi_bound",
        "trimmed_mean_milli", "winsorized_mean_milli")
      .as[(String, Long, Long, Long, Long, Long)].head()
    val winSum = 2L + (2 to 9).sum + 9L // clamped ends
    assert(got == (("s", 10L, 2L, 9L, 5500L, winSum * 100L)))
    // zero trim: both means equal the exact mean
    val g0 = graft.ops.Stats.winsorizedMeans(df, "g", "v", "id", 0, 0)
      .select("trimmed_mean_milli", "winsorized_mean_milli")
      .as[(Long, Long)].head()
    val exact = ((1L to 9L).sum + 1000L) * 100L
    assert(g0 == ((exact, exact)))
  }

  test("cusumChangepoint: planted mid-history shift is found at its onset") {
    import spark.implicits._
    // user u: 20 events at ref, then 10 events shifted +100: the
    // excursion grows from the shift onset; max at the last event,
    // E = 10 * (100 - slack). user v: flat at ref -> excursion ~ 0.
    val rows = (1L to 20L).map(i => ("u", i, i, 1000L)) ++
      (21L to 30L).map(i => ("u", i, i, 1100L)) ++
      (1L to 30L).map(i => ("v", 100 + i, 100 + i, 1000L))
    val df = rows.toDF("k", "ts", "id", "vm")
    val got = graft.ops.Events.cusumChangepoint(df, "k", "ts", "id",
        "vm", refMilli = 1000L, slackMilli = 20L, thresholdMilli = 500L)
      .orderBy("k")
      .select("k", "n_events", "max_excursion_milli", "at_event_id",
        "flagged")
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    // u: pre-shift drift = -20/event floors the running min at -400;
    // post-shift each event adds +80: E_max = 10*80 + 0 - (-400)?
    // No: P_30 = 20*(-20) + 10*80 = 400; min prefix = -400 (t=20);
    // E = 400 - (-400) = 800 at id 30.
    assert(got(0) == (("u", 30L, 800L, 30L, 1L)))
    // v: every deviation is -20 -> P decreasing, E = 0, first at id 101
    assert(got(1) == (("v", 30L, 0L, 101L, 0L)))
  }

  test("purgedTimeFolds: exact block edges; embargo zones; ends kept") {
    import spark.implicits._
    // ts 0..99, k = 4, span 100: folds are [0,25) [25,50) [50,75)
    // [75,100); embargo 3 purges ts in [25,28) U [22,25) etc.
    val df = (0L to 99L).map(t => (t, t)).toDF("id", "ts")
    val got = graft.ops.Temporal.purgedTimeFolds(df, "id", "ts",
        k = 4, embargo = 3L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got(0L) == ((0L, 0L)))   // corpus start: no boundary before
    assert(got(24L) == ((0L, 1L)))  // within 3 below boundary 25
    assert(got(22L) == ((0L, 1L)))  // 25 - 22 = 3 <= embargo
    assert(got(21L) == ((0L, 0L)))
    assert(got(25L) == ((1L, 1L)))  // at boundary: distance 0
    assert(got(27L) == ((1L, 1L)))
    assert(got(28L) == ((1L, 0L)))
    assert(got(99L) == ((3L, 0L)))  // corpus end: no boundary after
    assert(got.values.count(_._2 == 1L) == 6 * 3) // 3 boundaries x 6
  }

  test("smdBalance: constructed shift in one covariate; balanced other") {
    import spark.implicits._
    // cov1 shifted by +10 between variants with sd 2 -> |SMD| = 5;
    // cov2 identical -> SMD = 0
    val rows = (1L to 40L).map { i =>
      val x = if (i % 2 == 0) 2L else -2L
      ("a", 100L + x, 50L + (i % 5))
    } ++ (1L to 40L).map { i =>
      val x = if (i % 2 == 0) 2L else -2L
      ("b", 110L + x, 50L + (i % 5))
    }
    val df = rows.toDF("v", "cov1", "cov2")
    val got = graft.ops.Stats.smdBalance(df, "v", "a", "b",
        Seq("cov1", "cov2"))
      .orderBy("covariate")
      .select("covariate", "mean_a_milli", "mean_b_milli",
        "pooled_sd_milli", "smd_milli")
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got(0) == (("cov1", 100000L, 110000L, 2000L, -5000L)))
    assert(got(1)._5 == 0L)
    assert(got(1)._2 == got(1)._3)
  }

  test("coverageGreedy: hand corpus picks by marginal gain; early stop") {
    import spark.implicits._
    // doc 1 covers {a,b,c}; doc 2 {c,d}; doc 3 {a,b}; doc 4 {e}
    // greedy: 1 (gain 3), then 2 (gain 1: d) vs 4 (gain 1: e) -> doc 2
    // by id tiebreak? both gain 1 -> doc 2 wins (asc); then 4 (e);
    // then 3 has gain 0 -> unselectable -> early stop at 3 picks
    val toks = Seq((1L, "a"), (1L, "b"), (1L, "c"), (2L, "c"),
      (2L, "d"), (3L, "a"), (3L, "b"), (4L, "e")).toDF("doc", "tok")
    val got = graft.ops.Sampling.coverageGreedy(toks, "doc", "tok", 4)
      .orderBy("step")
      .select("step", "doc_id", "marginal_gain")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L, 3L), (2L, 2L, 1L), (3L, 4L, 1L)))
  }

  test("looInfluence: panel algebra; single-group guard") {
    import spark.implicits._
    // groups a: 2 rows of 10; b: 2 rows of 20 -> overall mean 15;
    // LOO(a) = 20, LOO(b) = 10
    val df = Seq(("a", 10L), ("a", 10L), ("b", 20L), ("b", 20L))
      .toDF("g", "v")
    val got = graft.ops.Stats.looInfluence(df, "g", "v")
      .orderBy("group")
      .select("group", "n_rows", "mean_all_milli", "loo_mean_milli",
        "delta_milli")
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("a", 2L, 15000L, 20000L, 5000L),
      ("b", 2L, 15000L, 10000L, -5000L)))
    val solo = graft.ops.Stats.looInfluence(
        Seq(("x", 7L)).toDF("g", "v"), "g", "v")
      .select("loo_mean_milli", "delta_milli").as[(Long, Long)].head()
    assert(solo == ((7000L, 0L)))
  }

  test("rendezvousMoves: JVM argmax replay; moves only to new shards") {
    import spark.implicits._
    val keys = (1L to 200L).map(_.toString)
    val df = keys.toDF("k")
    def h32(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).take(4).map(b => f"$b%02x")
        .mkString, 16)
    def owner(key: String, k: Int): Long =
      (0 until k).map(s => (h32(s"rv_${s}_$key"), s))
        .maxBy { case (h, s) => (h, -s) }._2.toLong
    val expect = keys.map(key => (owner(key, 4), owner(key, 6)))
    val rows = graft.ops.Layout.rendezvousMoves(df, "k", 4, 6)
      .collect()
    val (nKeys, moved, movedPpm, expPpm) = (rows.head.getLong(3),
      rows.head.getLong(4), rows.head.getLong(5), rows.head.getLong(6))
    assert(nKeys == 200L)
    assert(moved == expect.count { case (a, b) => a != b })
    assert(movedPpm == moved * 1000000L / 200L)
    assert(expPpm == 2L * 1000000L / 6L)
    // HRW invariant: a moved key lands ONLY on a NEW shard
    assert(expect.forall { case (a, b) => a == b || b >= 4 })
    // per-shard panel matches the replay
    val byShard = rows.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2))).toMap
    (0L until 6L).foreach { s =>
      val f = expect.count(_._1 == s).toLong
      val t = expect.count(_._2 == s).toLong
      if (f + t > 0) assert(byShard(s) == ((f, t)), s"shard $s")
    }
  }

  test("ringMoves: JVM successor replay; moves only to new shards") {
    import spark.implicits._
    val keys = (1L to 200L).map(_.toString)
    val df = keys.toDF("k")
    def owner(kp: Long, pos: Seq[Long], own: Seq[Long]): Long = {
      val idx = pos.count(_ <= kp)
      own(idx % pos.size)
    }
    val (posF, ownF) = graft.ops.Layout.ringOf(3, 4, "ring")
    val (posT, ownT) = graft.ops.Layout.ringOf(4, 4, "ring")
    val expect = keys.map { k =>
      val kp = Pipeline.wordHash60Jvm(s"ringk_$k")
      (owner(kp, posF, ownF), owner(kp, posT, ownT))
    }
    val rows = graft.ops.Layout.ringMoves(df, "k", 3, 4,
      vnodesPerShard = 4).collect()
    assert(rows.head.getLong(3) == 200L)
    assert(rows.head.getLong(4) ==
      expect.count { case (a, b) => a != b })
    // ring invariant: a moved key lands ONLY on a new shard
    assert(expect.forall { case (a, b) => a == b || b >= 3 })
    // the measured movement sits near the exact new-arc share
    val expPpm = rows.head.getLong(6)
    val movedPpm = rows.head.getLong(5)
    assert(math.abs(movedPpm - expPpm) < 120000,
      s"moved $movedPpm vs arc share $expPpm")
    val byShard = rows.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2))).toMap
    (0L until 4L).foreach { s =>
      val f = expect.count(_._1 == s).toLong
      val t = expect.count(_._2 == s).toLong
      if (f + t > 0) assert(byShard(s) == ((f, t)), s"shard $s")
    }
  }

  test("effectiveDiameter: path graph threshold pick; saturation ppm") {
    import spark.implicits._
    // 5-node path, radius 3: from the hyperBall spec's replay, N(t)
    // grows monotonically; the 90% threshold lands at some t <= 3 and
    // the whole panel math is the same recipe — pin the row against
    // a direct profile recomputation
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val prof = graft.ops.Graph.hyperBall(edges, radius = 3, p = 6)
      .orderBy("radius")
      .select("radius", "reach_est").as[(Long, Long)].collect()
    val fin = prof.map(_._2).max
    val expectEff = prof.collect {
      case (t, n) if n * 1000 >= fin * 900 => t
    }.min
    val got = graft.ops.Graph.effectiveDiameter(edges, radius = 3,
        permille = 900, p = 6)
      .select("effective_diameter", "n_radius", "reach_final",
        "saturated_ppm")
      .as[(Long, Long, Long, Long)].head()
    assert(got._1 == expectEff)
    assert(got._2 == 3L && got._3 == fin)
    assert(got._4 == prof(2)._2 * 1000000L / fin)
  }

  test("isqrtPortable equals exact floor sqrt across magnitudes") {
    val cases = Seq[BigInt](BigInt(0), BigInt(1), BigInt(2), BigInt(3),
      BigInt(4), BigInt(99), BigInt(100), BigInt(1L << 52),
      BigInt(10).pow(18), BigInt(10).pow(24) + 12345,
      BigInt(10).pow(30) - 1)
    cases.foreach { n =>
      val s = Similarity.isqrtPortable(n)
      assert(s * s <= n && (s + 1) * (s + 1) > n, s"isqrt($n) = $s")
    }
  }

  // ===== round 16: generated LC tables, p-parameterized hyperBall,
  // empty-graph guards, bounded rrfFuse =====

  test("lcTable: p=6 reproduces the frozen round-15 literals; p=8 sane") {
    val frozen = Seq(
      266L, 221L, 195L, 177L, 163L, 151L, 141L, 133L, 125L, 118L, 112L,
      107L, 102L, 97L, 92L, 88L, 84L, 81L, 77L, 74L, 71L, 68L, 65L, 62L,
      60L, 57L, 55L, 52L, 50L, 48L, 46L, 44L, 42L, 40L, 38L, 36L, 35L,
      33L, 31L, 30L, 28L, 26L, 25L, 23L, 22L, 21L, 19L, 18L, 17L, 15L,
      14L, 13L, 12L, 10L, 9L, 8L, 7L, 6L, 5L, 4L, 3L, 2L, 1L, 0L)
    assert(graft.ops.Graph.lcTable(6) == frozen)
    val t8 = graft.ops.Graph.lcTable(8)
    assert(t8.length == 256)
    assert(t8.head ==
      math.floor(256.0 * StrictMath.log(256.0)).toLong)
    assert(t8.last == 0L)
    // strictly the m*ln(m/V) closed form at every V, and non-increasing
    (1 to 256).foreach { v =>
      assert(t8(v - 1) ==
        math.floor(256.0 * StrictMath.log(256.0 / v)).toLong)
    }
    assert(t8 == t8.sorted(Ordering[Long].reverse))
    intercept[IllegalArgumentException] { graft.ops.Graph.lcTable(3) }
    intercept[IllegalArgumentException] { graft.ops.Graph.lcTable(13) }
  }

  test("hyperBall p=8: exact register/estimator replay on a path") {
    import spark.implicits._
    val edgeSeq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val radius = 3
    val got = graft.ops.Graph.hyperBall(
        edgeSeq.toDF("src", "dst"), radius = radius, p = 8)
      .orderBy("radius")
      .select("radius", "reach_est", "avg_distance_milli")
      .as[(Long, Long, Long)].collect().toSeq
    def h60(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).take(8).map(b => f"$b%02x")
        .mkString.take(15), 16)
    val adj = (edgeSeq ++ edgeSeq.map(_.swap))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val nodes = adj.keySet
    def ball(n: Long, t: Int): Set[Long] =
      (0 until t).foldLeft(Set(n))((s, _) => s ++ s.flatMap(adj))
    // m = 256: bucket = h % 256, rho base 61 - 8 = 53, alpha =
    // 7213m/(10000m + 10790), linear counting below 5m/2 = 640 —
    // the published general-m constants hllEstimate implements
    def est(members: Set[Long]): BigInt = {
      val m = 256
      val regs = members.groupMapReduce { v => h60(v.toString) % m } {
        v =>
          val rest = h60(v.toString) / m
          if (rest == 0) 53L
          else 53L - java.lang.Long.toBinaryString(rest).length
      }(math.max)
      val s = regs.values.map(r => BigInt(1) << (60 - r.toInt)).sum +
        BigInt(m - regs.size) * (BigInt(1) << 60)
      val raw = (BigInt(7213L * m) * m * m * (BigInt(1) << 60)) /
        (BigInt(10000L * m + 10790L) * s)
      if (regs.size < m && raw < 5 * m / 2)
        BigInt(graft.ops.Graph.lcTable(8)(m - regs.size - 1))
      else raw
    }
    val expectNf = (0 to radius).map(t =>
      nodes.toSeq.map(n => est(ball(n, t))).sum)
    val gained = (1 to radius)
      .map(t => BigInt(t) * (expectNf(t) - expectNf(t - 1))).sum
    val expectAvg = (gained * 1000 /
      (expectNf(radius) - expectNf(0)).max(BigInt(1))).toLong
    assert(got.map(_._2) == expectNf.map(_.toLong))
    assert(got.forall(_._3 == expectAvg))
    // at 5 nodes << m the LC branch should be pinning estimates to
    // the EXACT ball sizes — the small-range win p=8 buys
    val exactNf = (0 to radius).map(t =>
      nodes.toSeq.map(n => BigInt(ball(n, t).size)).sum)
    assert(expectNf == exactNf)
  }

  test("MIS + hyperBall: edgeless/self-loop-only graphs return empty, not crash") {
    import spark.implicits._
    val selfs = Seq((1L, 1L), (2L, 2L)).toDF("src", "dst")
    val mis = graft.ops.Graph.maximalIndependentSet(selfs)
    assert(mis.columns.toSeq == Seq("node", "round"))
    assert(mis.count() == 0L)
    val hb = graft.ops.Graph.hyperBall(selfs, radius = 2)
    assert(hb.columns.toSeq ==
      Seq("radius", "reach_est", "avg_distance_milli"))
    assert(hb.count() == 0L)
    val ed = graft.ops.Graph.effectiveDiameter(selfs, radius = 2)
    assert(ed.count() == 1L) // agg over empty: one all-null row, no crash
  }

  test("rrfFuse: corpus-sized inputs are cut to depth inside the operator") {
    import spark.implicits._
    // 5000-row "corpus" frames: scores descend with id
    val big = spark.range(5000).select(col("id").as("doc_id"),
      (lit(100000L) - col("id")).as("score"))
    val out = graft.ops.Search.rrfFuse(big, big, "doc_id",
        k = 10, kRrf = 60, depth = 50)
      .select("doc_id", "rank_a", "rank_b", "rrf_micro")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out.size == 10)
    // all ranks come from within the depth cut
    assert(out.forall { case (_, ra, rb, _) => ra <= 50 && rb <= 50 })
    // identical inputs: top doc is id 0 with rank 1 both sides
    assert(out.head == ((0L, 1L, 1L, 2 * (1000000L / 61))))
    // fusing deeper than you return is the contract
    intercept[IllegalArgumentException] {
      graft.ops.Search.rrfFuse(big, big, "doc_id",
        k = 100, kRrf = 60, depth = 50)
    }
  }

  test("CacheScope: every scoped op's caches drop on release()") {
    import spark.implicits._
    val docs = Seq((1L, "a b c a b c a b"), (2L, "a b d e f g h i"))
      .toDF("doc_id", "text")
    val toks = docs.select(col("doc_id").as("id"),
      explode(split(col("text"), " ")).as("tok")).distinct()
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
      .toDF("src", "dst")
    val comm = Seq((1L, "a"), (2L, "a"), (3L, "a"), (4L, "b"))
      .toDF("node", "c")
    val mix = Seq((1L, "a", 10L, 5L), (2L, "a", 10L, 1L),
      (3L, "a", 10L, 3L), (4L, "b", 10L, 1L), (5L, "b", 10L, 2L))
      .toDF("id", "s", "tok", "prio")
    val targets = Seq(("a", 500000), ("b", 500000))
    val grid = (for (x <- 0L until 8L; y <- 0L until 8L) yield (x, y))
      .toDF("x", "y")
    val scored = Seq(("g", 1, 3.0), ("g", 1, 2.0), ("g", 0, 2.0),
      ("g", 0, 1.0)).toDF("g", "y", "s")
    val iv = Seq(("a", 0L, 10L), ("b", 5L, 15L)).toDF("id", "lo", "hi")
    val vecs = Seq((1L, Seq(0.8f, 0.6f)), (2L, Seq(0f, 1f)),
      (100L, Seq(1f, 0f))).toDF("vec_id", "embedding")
    val cents = vecs.select(col("vec_id").as("cid"), col("embedding").as("cv"))
    val events = Seq((1L, "a", 1L), (1L, "b", 2L), (1L, "c", 3L), (2L, "a", 1L))
      .toDF("u", "t", "us")
    val pages = Seq((1L, "https://a.example.com/x",
      "<html><body><p>alpha beta gamma delta</p></body></html>"))
      .toDF("doc_id", "url", "html")
    val sourced = docs.withColumn("source", lit("s"))
    import graft.ops.{Events, Graph, Layout, Ranking, Sampling, SetSim,
      SpanDedup, Stats, TextStats}
    def op(label: String)(run: CacheScope => org.apache.spark.sql.DataFrame) =
      label -> run
    val ops = Seq(
      op("selectWithinBudget")(s => Sampling.selectWithinBudget(
        mix, "id", "prio", "tok", 25L, scope = s)),
      op("targetMix")(s => Sampling.targetMix(
        mix, "id", "s", targets, scope = s)),
      op("targetMixTokens")(s => Sampling.targetMixTokens(
        mix, "id", "s", "tok", targets, scope = s)),
      op("targetMixTokensByPriority")(s =>
        Sampling.targetMixTokensByPriority(
          mix, "id", "s", "tok", "prio", targets, scope = s)),
      op("packSequences")(s => Sampling.packSequences(
        mix, "id", "s", "tok", 20L, scope = s)),
      op("contextBlocks")(s => Sampling.contextBlocks(
        mix, "id", "tok", 16L, scope = s)),
      op("coverageThresholds")(s => Ranking.coverageThresholds(
        mix, "id", "tok", Seq(50, 100), scope = s)),
      op("globalRowNumber")(s => Ranking.globalRowNumber(
        mix, Seq(col("prio"), col("id")), scope = s)),
      op("concurrency")(s => Events.concurrency(iv, "lo", "hi", Seq("id"),
        scope = s)),
      op("duplicatedSpans")(s => SpanDedup.duplicatedSpans(
        docs, "doc_id", "text", l = 3, scope = s)),
      op("zorderFileStats")(s => Layout.zorderFileStats(
        grid, "x", "y", 3, 16L, scope = s)),
      op("zorderFileStatsN")(s => Layout.zorderFileStatsN(
        grid, Seq("x", "y"), 3, 16L, scope = s)),
      op("sortFileStats")(s => Layout.sortFileStats(
        grid, Seq("x", "y"), 16L, scope = s)),
      op("aucRoc")(s => Stats.aucRoc(scored, "y", "s", scope = s)),
      op("aucRocByGroup")(s => Stats.aucRocByGroup(
        scored, Seq("g"), "y", "s", scope = s)),
      op("giniConcentration")(s =>
        Stats.giniConcentration(mix, "id", "prio", s)),
      op("pageRank")(s =>
        Graph.pageRank(edges, 2, redistributeDangling = true, scope = s)),
      op("personalizedPageRank")(s => Graph.personalizedPageRank(
        edges, Seq(1L).toDF("node"), 2, s)),
      op("hits")(s => Graph.hits(edges, 2, s)),
      op("triangleCounts")(s => Graph.triangleCounts(edges, s)),
      op("modularity")(s => Graph.modularity(edges, comm, "node", "c", s)),
      op("deterministicWalks")(s => Graph.deterministicWalks(edges, 2, s)),
      op("clusteringCoefficient")(s =>
        Graph.clusteringCoefficient(edges, s)),
      op("prefixFilterJoin")(s => SetSim.prefixFilterJoin(
        toks, "id", "tok", 1, 2, s)),
      op("weightedPrefixFilterJoin")(s =>
        SetSim.weightedPrefixFilterJoin(
          toks.withColumn("wt", lit(1L)), "id", "tok", "wt", 1, 2, s)),
      op("bpeTrain")(s => TextStats.bpeTrain(docs, "text", 2, s)),
      op("collocations")(s => TextStats.collocations(
        docs, "text", 16L, minCount = 1, k = 5, window = 2, scope = s)),
      op("prefixRecall")(s => Similarity.prefixRecall(vecs, "vec_id",
        "embedding", col("vec_id") >= 100L, prefixDims = 1, k = 1,
        scope = s)),
      op("editOnePairs")(s => Dedup.editOnePairs(
        Seq("cat", "cut", "dog").toDF("w"), "w", s)),
      op("decontaminate")(s => Dedup.decontaminate(
        docs, docs.filter(col("doc_id") === 1L), "doc_id", "text", scope = s)),
      op("decontaminateByEmbedding")(s => Dedup.decontaminateByEmbedding(
        vecs, vecs.filter(col("vec_id") === 1L), "vec_id", "embedding",
        dims = 2, planes = 1, scope = s)),
      op("nearByEmbedding")(s => Dedup.nearByEmbedding(vecs, "vec_id",
        "embedding", dims = 2, planes = 1, scope = s)),
      op("near")(s => Dedup.near(docs, "doc_id", "text", scope = s)),
      op("containmentPairs")(s => Dedup.containmentPairs(
        Dedup.shingleSets(docs, "doc_id", "text"), "doc_id", scope = s)),
      op("duplicationMatrix")(s => Dedup.duplicationMatrix(
        sourced, "doc_id", "text", "source", scope = s)),
      op("nearKeepBest")(s => Dedup.nearKeepBest(
        docs, "doc_id", "text", "doc_id", scope = s)),
      op("semantic")(s => Dedup.semantic(vecs, "vec_id", "embedding",
        cents, "cid", "cv", threshold = 0.9, scope = s)),
      op("semanticBlocked")(s => Dedup.semanticBlocked(vecs, "vec_id",
        "embedding", cents, "cid", "cv", threshold = 0.9, planes = 1,
        dims = 2, scope = s)),
      op("funnel")(s => Events.funnel(events, "u", "t", col("us"),
        Seq("a", "b", "c"), 10L, s)),
      op("temperatureMix")(s => Sampling.temperatureMix(
        mix, "id", "s", scope = s)),
      op("temperatureMixWithReplacement")(s =>
        Sampling.temperatureMixWithReplacement(mix, "id", "s", scope = s)),
      op("recrawl")(s => CorpusPipeline.recrawl(pages, pages.limit(0),
        Seq("blocked.example.com").toDF("domain"), scope = s)._1),
      op("clean")(s => CorpusPipeline.clean(docs, minTokens = 1,
        maxStopRatio = 1.0, scope = s).corpus),
      op("prepare")(s => CorpusPipeline.prepare(sourced,
        Seq((9L, "x y z w")).toDF("doc_id", "text"), minTokens = 1,
        maxStopRatio = 1.0, scope = s).corpus))
    // Key-set discipline: only the RDDs THIS call registered are the
    // assertion's business (earlier tests' localCheckpoint RDDs vanish
    // from getPersistentRDDs whenever the async ContextCleaner runs),
    // and checkpoint RDDs (deterministicWalks' hops) are not caches.
    def cacheRdds(before: Set[Int]): Set[Int] =
      spark.sparkContext.getPersistentRDDs
        .collect { case (id, rdd) if !before(id) && !rdd.isCheckpointed => id }
        .toSet
    for ((label, run) <- ops) {
      spark.catalog.clearCache()
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val scope = new CacheScope
      run(scope).collect() // materialize so the lazy persists register
      val mine = cacheRdds(before)
      assert(mine.nonEmpty, s"$label must register its caches")
      scope.release()
      assert((spark.sparkContext.getPersistentRDDs.keySet & mine).isEmpty,
        s"$label: release() must unpersist every cache it registered")
    }
    // the default scope is never released: an unscoped call's caches
    // stay registered until clearCache — the cross-pass reuse a
    // query's timed passes depend on
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    Graph.modularity(edges, comm, "node", "c").collect()
    val mine = cacheRdds(before)
    assert(mine.nonEmpty, "unscoped modularity must register its cache")
    assert(mine.subsetOf(spark.sparkContext.getPersistentRDDs.keySet),
      "an unscoped call keeps its caches until clearCache")
    spark.catalog.clearCache()
    assert((spark.sparkContext.getPersistentRDDs.keySet & mine).isEmpty,
      "clearCache drops an unscoped call's caches")
    // the ops whose caches die inside the call: a local scope releases
    // them before it returns, so none is registered afterwards
    val local = Seq[(String, () => Any)](
      "clusterSizes" -> (() => Dedup.clusterSizes(docs, "doc_id", "text")),
      "dedupSavings" -> (() => Dedup.dedupSavings(docs, "doc_id", "text")),
      "kmeansFit" -> (() =>
        Similarity.kmeansFit(vecs, "vec_id", "embedding", k = 2, iters = 2)))
    for ((label, run) <- local) {
      spark.catalog.clearCache()
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      run()
      assert(cacheRdds(before).isEmpty,
        s"$label must release its caches before it returns")
    }
  }
}
