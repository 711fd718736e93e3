package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Streams

class StreamsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def ts(min: Int) = new Timestamp(3600_000L + min * 60_000L)

  /** Keys held by the query's one stateful operator after its last batch. */
  private def stateRows(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
    q.lastProgress.stateOperators(0).numRowsTotal

  /** Ids of the cache RDDs registered now. A monitor's static side is
    * the set registered after its build and first batch, and it stays
    * cached until the monitor's scope is released. */
  private def persistedRdds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet
  private def isCached(rdds: Set[Int]): Boolean = (persistedRdds & rdds).nonEmpty

  test("windowed counts with watermark over a memory stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val df = in.toDF().toDF("ts", "event_type", "value")
    val q = Streams.windowedCounts(df).writeStream
      .format("memory").queryName("win_counts").outputMode("update").start()
    try {
      in.addData((ts(0), "click", 1.0), (ts(10), "click", 2.0), (ts(20), "view", 5.0))
      q.processAllAvailable()
      val rows = spark.table("win_counts")
        .groupBy("event_type").agg(sum("n").as("n")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rows == Map("click" -> 2L, "view" -> 1L))
    } finally q.stop()
  }

  test("streaming dedup drops duplicate keys within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, String)]
    val df = in.toDF().toDF("doc_id", "ts", "text")
    val q = Streams.streamingDedup(df, "doc_id").writeStream
      .format("memory").queryName("dedup_out").outputMode("append").start()
    try {
      // duplicates of key 1 arrive at DIFFERENT event times — state is
      // keyed on the id alone, so they are dropped all the same
      in.addData((1L, ts(0), "a"), (1L, ts(1), "a-dup"), (2L, ts(1), "b"))
      q.processAllAvailable()
      in.addData((1L, ts(2), "a-dup2"), (3L, ts(2), "c"))
      q.processAllAvailable()
      val ids = spark.table("dedup_out").select("doc_id").as[Long].collect().sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("streaming PII audit redacts on arrival and windows the rates") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, String, String)]
    val df = in.toDF().toDF("ts", "doc_id", "source", "text")
    // source passes THROUGH the redaction, so the audit can slice on it
    val redacted = Streams.redactedStream(df, "text")
    val q = Streams.piiAuditWindows(redacted, groupCols = Seq("source"))
      .writeStream
      .format("memory").queryName("pii_audit").outputMode("update").start()
    val q2 = redacted.writeStream
      .format("memory").queryName("pii_redacted").outputMode("append").start()
    try {
      in.addData(
        (ts(0), 1L, "crawl", "mail me at a@b.com or call +1-555-0100"),
        (ts(5), 2L, "crawl", "server 10.0.0.1 and backup 10.0.0.2"),
        (ts(10), 3L, "curated", "nothing sensitive here"))
      q.processAllAvailable(); q2.processAllAvailable()
      val audit = spark.table("pii_audit")
        .select("source", "n_docs", "n_emails", "n_phones", "n_ips",
          "n_docs_with_pii")
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toMap
      assert(audit == Map(
        "crawl" -> ((2L, 1L, 1L, 2L, 2L)),
        "curated" -> ((1L, 0L, 0L, 0L, 0L))))
      val texts = spark.table("pii_redacted")
        .select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(texts(1L) == "mail me at <EMAIL> or call <PHONE>")
      assert(texts(2L) == "server <IP> and backup <IP>")
      assert(texts(3L) == "nothing sensitive here")
    } finally { q.stop(); q2.stop() }
  }

  test("watermarked stream-stream join matches clicks to later purchases") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val purchases = MemoryStream[(Timestamp, Long, Long)]
    val clicks = MemoryStream[(Timestamp, Long, Long)]
    val q = Streams.purchaseClickJoin(
        purchases.toDF().toDF("p_ts", "user_id", "p_id"),
        clicks.toDF().toDF("c_ts", "c_user", "c_id"))
      .writeStream.format("memory").queryName("ss_join").outputMode("append").start()
    try {
      clicks.addData((ts(0), 1L, 100L), (ts(2), 1L, 101L), (ts(0), 2L, 200L))
      purchases.addData((ts(4), 1L, 900L), (ts(30), 2L, 901L))
      q.processAllAvailable()
      val rows = spark.table("ss_join")
        .select("p_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // user 1: both clicks within [p_ts-5m, p_ts); user 2's click is 30m old
      assert(rows == Set((900L, 100L), (900L, 101L)))
    } finally q.stop()
  }

  test("mapGroupsWithState keeps a running per-user aggregate") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Streams.KeyedEvent]
    val q = Streams.userRunningState(in.toDS()).writeStream
      .format("memory").queryName("user_state").outputMode("update").start()
    try {
      in.addData(Streams.KeyedEvent(1, ts(0), 10.0), Streams.KeyedEvent(1, ts(1), 5.0),
                 Streams.KeyedEvent(2, ts(0), 1.0))
      q.processAllAvailable()
      in.addData(Streams.KeyedEvent(1, ts(2), 1.5))
      q.processAllAvailable()
      val last = spark.table("user_state")
        .groupBy("user_id").agg(max("n_events").as("n"), max("total").as("t"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(last(1L) == (3L, 16.5))
      assert(last(2L) == (1L, 1.0))
    } finally q.stop()
  }

  test("streaming fingerprint dedup drops reordered duplicate content") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val q = Streams.streamingFingerprintDedup(in.toDF().toDF("ts", "text"), "text")
      .writeStream.format("memory").queryName("fp_dedup").outputMode("append").start()
    try {
      // the reordered duplicate arrives LATER — fingerprint state alone
      // (not (fp, ts)) must drop it
      in.addData((ts(0), "alpha beta gamma"), (ts(2), "gamma beta alpha"),
                 (ts(1), "delta epsilon"))
      q.processAllAvailable()
      // the reordered duplicate shares the fingerprint -> dropped
      assert(spark.table("fp_dedup").count() == 2)
    } finally q.stop()
  }

  test("streaming ingest gate drops warehouse dups and in-stream copies") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val warehouse = Seq((100L, "already stored text"), (101L, "other stored"))
      .toDF("doc_id", "text")
    val in = MemoryStream[(Timestamp, Long, String)]
    val q = Streams.streamingIngestGate(
        in.toDF().toDF("ts", "doc_id", "text"), warehouse, "text")
      .writeStream.format("memory").queryName("ingest_gate")
      .outputMode("append").start()
    try {
      in.addData(
        (ts(0), 1L, "already stored text"),   // warehouse dup -> dropped
        (ts(1), 2L, "fresh novel content"),   // novel -> kept
        (ts(2), 3L, "fresh novel content"),   // in-stream copy -> dropped
        (ts(3), 4L, "another new doc"))       // novel -> kept
      q.processAllAvailable()
      val kept = spark.table("ingest_gate").collect()
        .map(_.getLong(1)).toSet
      assert(kept == Set(2L, 4L), s"got $kept")
      // a later micro-batch re-offering the same content within the
      // horizon is still dropped by the digest state
      in.addData((ts(4), 5L, "fresh novel content"))
      q.processAllAvailable()
      assert(spark.table("ingest_gate").count() == 2)
    } finally q.stop()
  }

  test("streaming crawl gate matches the batch ingest facade verdicts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def page(text: String) =
      s"<html><body><p>$text</p><a href='/l'>x</a></body></html>"
    val goodText = "the quick brown fox jumps over a lazy dog while the " +
      "seven wizards brew strong potions"
    val in = MemoryStream[(Timestamp, Long, String, String)]
    val q = Streams.streamingCrawlGate(
        in.toDF().toDF("ts", "doc_id", "url", "html"),
        blocked = Seq("spam.biz"))
      .writeStream.format("memory").queryName("crawl_gate")
      .outputMode("append").start()
    try {
      in.addData(
        (ts(0), 1L, "https://good.org/a", page(goodText)),       // kept
        (ts(1), 2L, "https://x.spam.biz/b", page(goodText)),     // blocklist
        (ts(2), 3L, "https://good.org/c", page(goodText)),       // kept
        (ts(3), 4L, "https://www.good.org/c/", page(goodText)),  // URL dup
        (ts(4), 5L, "https://good.org/farm", "<html><body>" +
          "<a href='/1'>click here now please</a>" +
          "<a href='/2'>more links over here</a><p>hi</p></body></html>"),
        (ts(5), 6L, "https://good.org/moji",
          page("broken � decode " + goodText)),             // mojibake
        (ts(6), 7L, "https://good.org/spam",
          page(Seq.fill(20)("spam").mkString(" "))))             // model gate
      q.processAllAvailable()
      val kept = spark.table("crawl_gate").collect()
        .map(_.getAs[Long]("doc_id")).toSet
      // identical verdicts to PipelineSpec's batch ingest fixture
      // (first-arrival URL dedup == lowest-id here: ids arrive in order)
      assert(kept == Set(1L, 3L), s"got $kept")
    } finally q.stop()
  }

  test("streaming snapshot delta matches the batch classification") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val old = Seq(
      ("HTTPS://www.a.com/p/1", "one"),
      ("https://a.com/p/2", "two"),
      ("https://a.com/p/3", "three"))
      .toDF("url", "text")
    val in = MemoryStream[(Timestamp, Long, String, String)]
    val pages = in.toDF().toDF("ts", "doc_id", "url", "text")
    val q = Streams.streamingSnapshotDelta(pages, old, keepUnchanged = true)
      .writeStream.format("memory").queryName("snap_delta")
      .outputMode("append").start()
    try {
      in.addData(
        (ts(0), 11L, "https://a.com/p/1/", "one"),        // unchanged
        (ts(1), 12L, "https://a.com:443/p/2", "two v2"),  // changed
        (ts(2), 14L, "https://a.com/p/4", "four"))        // new
      q.processAllAvailable()
      val got = spark.table("snap_delta").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("status")).toMap
      // identical verdicts to OpsSpec's batch snapshotDelta fixture
      assert(got == Map(11L -> "unchanged", 12L -> "changed", 14L -> "new"))
      // the default gate drops the unchanged majority on arrival
      val in2 = MemoryStream[(Timestamp, Long, String, String)]
      val q2 = Streams.streamingSnapshotDelta(
          in2.toDF().toDF("ts", "doc_id", "url", "text"), old)
        .writeStream.format("memory").queryName("snap_delta_gate")
        .outputMode("append").start()
      try {
        in2.addData(
          (ts(0), 11L, "https://a.com/p/1/", "one"),
          (ts(1), 12L, "https://a.com:443/p/2", "two v2"))
        q2.processAllAvailable()
        val kept = spark.table("snap_delta_gate").collect()
          .map(_.getAs[Long]("doc_id")).toSet
        assert(kept == Set(12L))
      } finally q2.stop()
    } finally q.stop()
  }

  test("scan-side curation (quality gate + split assignment) applies unchanged on a stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    // the SAME batch operators — qualityFilter is a Column predicate,
    // assignSplits a scan-side transform — compose onto a stream with
    // no streaming-specific rewrite: the batch/stream unification the
    // DataFrame layer promises
    val curated = graft.ops.Sampling.assignSplits(
      in.toDF().toDF("doc_id", "text")
        .filter(CorpusPipeline.qualityFilter("text", minTokens = 3,
          maxStopRatio = 0.9)),
      "doc_id", Seq(("train", 800), ("val", 100), ("test", 100)))
    val q = curated.writeStream.format("memory").queryName("curated")
      .outputMode("append").start()
    try {
      in.addData((1L, "alpha beta gamma delta"), (2L, "x"),
        (3L, "epsilon zeta eta theta"))
      q.processAllAvailable()
      val rows = spark.table("curated").collect()
        .map(r => r.getLong(0) -> r.getString(2)).toMap
      assert(rows.keySet == Set(1L, 3L), "short doc dropped by the gate")
      // split equals the BATCH assignment of the same ids — determinism
      // across execution modes
      val batch = graft.ops.Sampling.assignSplits(
          Seq(1L, 3L).toDF("doc_id"), "doc_id",
          Seq(("train", 800), ("val", 100), ("test", 100)))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(rows == batch)
    } finally q.stop()
  }

  test("streaming LSH candidates pair arriving near-dups against bucket state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, String)]
    val dup = "the quick brown fox jumps over the lazy dog again and again"
    val other = "completely unrelated content with no shared shingles at all here"
    val q = Streams.streamingLshCandidates(
        in.toDF().toDF("doc_id", "ts", "text"), "doc_id", "text")
      .writeStream.format("memory").queryName("lsh_cand").outputMode("append").start()
    try {
      in.addData((1L, ts(0), dup), (10L, ts(0), other))
      q.processAllAvailable()
      assert(spark.table("lsh_cand").count() == 0) // nothing to pair with yet
      // identical text arriving later collides in EVERY band
      in.addData((2L, ts(1), dup))
      q.processAllAvailable()
      val pairs = spark.table("lsh_cand")
        .select("a_id", "b_id").distinct().as[(Long, Long)].collect().toSet
      assert(pairs == Set((1L, 2L)))
      // one hit per band (threshold-derived band count at J>=0.5)
      assert(spark.table("lsh_cand").count() == Pipeline.bandingFor(0.5)._1)
      // a third copy pairs with BOTH prior members
      in.addData((3L, ts(2), dup))
      q.processAllAvailable()
      val pairs2 = spark.table("lsh_cand")
        .select("a_id", "b_id").distinct().as[(Long, Long)].collect().toSet
      assert(pairs2 == Set((1L, 2L), (1L, 3L), (2L, 3L)))
      // the unrelated doc never pairs
      assert(!spark.table("lsh_cand").as[Streams.LshCandidate]
        .collect().exists(c => c.a_id == 10L || c.b_id == 10L))
    } finally q.stop()
  }

  test("stream-static contamination monitor flags docs matching the test corpus") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val testCorpus = Seq((100L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text")
    val in = MemoryStream[(Long, Timestamp, String)]
    val (scope, before) = (new CacheScope, persistedRdds)
    val q = Streams.streamingContaminationHits(
        in.toDF().toDF("doc_id", "ts", "text"), testCorpus, "doc_id", "text",
        scope = scope)
      .writeStream.format("memory").queryName("contam").outputMode("append").start()
    try {
      in.addData(
        (1L, ts(0), "the quick brown fox jumps over the lazy dog tonight"), // exact match
        (2L, ts(0), "completely unrelated text about catalyst optimizer internals"))
      q.processAllAvailable()
      // the matching doc is flagged once, with its original columns
      val hits = spark.table("contam").select("doc_id").as[Long].collect().toSeq
      assert(hits == Seq(1L))
      assert(spark.table("contam").columns.toSet == Set("doc_id", "ts", "text"))
      // a re-arrival within the watermark horizon is not re-flagged
      in.addData((1L, ts(1), "the quick brown fox jumps over the lazy dog tonight"))
      q.processAllAvailable()
      assert(spark.table("contam").count() == 1)
      // the scope releases the cached static-side buckets
      val testBuckets = persistedRdds -- before
      assert(isCached(testBuckets))
      scope.release()
      assert(!isCached(testBuckets))
    } finally q.stop()
  }

  test("stream-static exact n-gram gate flags verbatim overlap, verified") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evalCorpus = Seq(
      (100L, "question alpha beta gamma delta epsilon answer"),
      (101L, "one two three four five"))
      .toDF("doc_id", "text")
    val in = MemoryStream[(Long, Timestamp, String)]
    val (scope, before) = (new CacheScope, persistedRdds)
    val q = Streams.streamingExactContaminationHits(
        in.toDF().toDF("doc_id", "ts", "text"), evalCorpus, "doc_id", "text",
        n = 5, scope = scope)
      .writeStream.format("memory").queryName("exact_gate").outputMode("append").start()
    try {
      in.addData(
        // carries the verbatim eval 5-gram
        (1L, ts(0), "intro words alpha beta gamma delta epsilon closing remark"),
        // only a 3-token fragment: no shared 5-gram, must NOT be flagged
        (2L, ts(0), "alpha beta gamma unrelated tail of a longer document"),
        // shares a 5-gram with the second eval doc
        (3L, ts(0), "padding one two three four five padding again"))
      q.processAllAvailable()
      val hits = spark.table("exact_gate").select("doc_id").as[Long].collect().toSet
      assert(hits == Set(1L, 3L))
      assert(spark.table("exact_gate").columns.toSet == Set("doc_id", "ts", "text"))
      // re-arrival within the horizon is not re-flagged
      in.addData((1L, ts(1), "intro words alpha beta gamma delta epsilon closing remark"))
      q.processAllAvailable()
      assert(spark.table("exact_gate").count() == 2)
      val evalGrams = persistedRdds -- before
      scope.release()
      assert(!isCached(evalGrams))
    } finally q.stop()
  }

  test("streaming verified near-dup pairs match batch verifiedPairsHashed exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val threshold = 0.5
    // the real corpus slice plus planted exact duplicates (shifted ids)
    // so the parity check is guaranteed non-vacuous
    val base = Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("source").isin("src0", "src1", "src2", "src3"))
      .select("doc_id", "text")
    val corpus = base.unionByName(
      base.orderBy("doc_id").limit(5)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    // batch truth: the dictionary-encoded exact-verify pair set
    val (k, _) = Pipeline.resolveBanding(threshold,
      Pipeline.AutoBanding, Pipeline.AutoBanding)
    val sig = Dedup.shingleSignatures(corpus, "doc_id", "text", 3, k)
    val batch = Dedup.verifiedPairsHashed(sig, "doc_id", threshold)
      .select("a_id", "b_id", "jaccard_ppm").as[(Long, Long, Long)]
      .collect().toSet
    assert(batch.nonEmpty, "planted duplicates produced no batch pairs")
    // stream the corpus itself as arrivals against the static corpus
    val arrivals = corpus.as[(Long, String)].collect().toSeq
      .map { case (id, text) => (id, ts(0), text) }
    val in = MemoryStream[(Long, Timestamp, String)]
    val (scope, before) = (new CacheScope, persistedRdds)
    val q = Streams.streamingVerifiedNearDupPairs(
      in.toDF().toDF("doc_id", "ts", "text"), corpus, "doc_id", "text", threshold,
      scope = scope)
      .writeStream.format("memory").queryName("vpairs").outputMode("append").start()
    try {
      in.addData(arrivals: _*)
      q.processAllAvailable()
      val got = spark.table("vpairs")
        .select("a_id", "b_id", "jaccard_ppm").as[(Long, Long, Long)]
        .collect().toSet
      // set equality INCLUDING the integer-exact jaccard_ppm values
      assert(got == batch)
      // re-arrivals within the horizon do not re-emit confirmed pairs
      in.addData(arrivals.take(10).map { case (id, _, t) => (id, ts(1), t) }: _*)
      q.processAllAvailable()
      assert(spark.table("vpairs").count() == batch.size)
      val staticBuckets = persistedRdds -- before
      scope.release()
      assert(!isCached(staticBuckets))
    } finally q.stop()
  }

  test("streaming canary tripwire flags sentinel substrings once per doc+canary") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, String)]
    val q = Streams.streamingCanaryHits(
        in.toDF().toDF("doc_id", "ts", "text"), "doc_id", "text",
        Seq("CANARY-A", "CANARY-B"))
      .writeStream.format("memory").queryName("canary").outputMode("append").start()
    try {
      in.addData(
        (1L, ts(0), "clean document with no sentinel"),
        (2L, ts(0), "leaked CANARY-A right here"),
        (3L, ts(0), "double hit CANARY-A plus CANARY-B too"))
      q.processAllAvailable()
      val hits = spark.table("canary").select("doc_id", "canary").as[(Long, String)]
        .collect().toSet
      assert(hits == Set((2L, "CANARY-A"), (3L, "CANARY-A"), (3L, "CANARY-B")))
      // re-arrival within the horizon is not re-flagged
      in.addData((2L, ts(1), "leaked CANARY-A right here"))
      q.processAllAvailable()
      assert(spark.table("canary").count() == 3)
    } finally q.stop()
  }

  test("embedding contamination monitor flags cosine matches, verified inline") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = Seq.tabulate(8)(d => (d + 1).toFloat)
    val orthogonal = Seq.tabulate(8)(d => if (d % 2 == 0) 1.0f else -1.0f)
    val testCorpus = Seq((100L, base)).toDF("vec_id", "embedding")
    val in = MemoryStream[(Long, Timestamp, Seq[Float])]
    val scope = new CacheScope
    val q = Streams.streamingEmbeddingContaminationHits(
      in.toDF().toDF("vec_id", "ts", "embedding"), testCorpus,
      "vec_id", "embedding", minCosine = 0.9, dims = 8, planes = 2,
      scope = scope)
      .writeStream.format("memory").queryName("econtam").outputMode("append").start()
    try {
      in.addData(
        (1L, ts(0), base),        // identical -> cosine 1, same bucket
        (2L, ts(0), orthogonal))  // cosine ~0 -> never flagged
      q.processAllAvailable()
      val hits = spark.table("econtam").select("vec_id").as[Long].collect().toSeq
      assert(hits == Seq(1L))
      // re-arrival within the horizon is not re-flagged
      in.addData((1L, ts(1), base))
      q.processAllAvailable()
      assert(spark.table("econtam").count() == 1)
      scope.release()
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionization closes sessions on gap and watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Streams.KeyedEvent]
    val q = Streams.userSessions(in.toDS(), gapMinutes = 5).writeStream
      .format("memory").queryName("sessions").outputMode("append").start()
    try {
      // session A: 3 events within gaps; then a 20-min jump starts B
      in.addData(Streams.KeyedEvent(1, ts(0), 1.0), Streams.KeyedEvent(1, ts(3), 1.0),
                 Streams.KeyedEvent(1, ts(6), 1.0))
      q.processAllAvailable()
      in.addData(Streams.KeyedEvent(1, ts(26), 1.0))
      q.processAllAvailable()
      // the gap closes session A within-batch or via watermark advance
      in.addData(Streams.KeyedEvent(2, ts(60), 1.0)) // push watermark forward
      q.processAllAvailable()
      val sessions = spark.table("sessions").as[Streams.Session].collect()
        .filter(_.user_id == 1L).sortBy(_.start.getTime)
      assert(sessions.nonEmpty)
      assert(sessions.head.n_events == 3)
      assert(sessions.head.start == ts(0) && sessions.head.end == ts(6))
    } finally q.stop()
  }

  test("checkpointed ingest stream survives restart without re-reading files") {
    val watch = Files.createTempDirectory("graft-ckpt-in")
    val wh = Files.createTempDirectory("graft-ckpt-wh").toString + "/warehouse"
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    val src = GeoJsonFixture.dir

    val q1 = Streams.ingestStream(spark, watch.toString, wh, checkpointDir = Some(ckpt))
    try {
      Files.copy(Paths.get(s"$src/11.73_Kota_Lhokseumawe.geojson"),
        watch.resolve("11.73_Kota_Lhokseumawe.geojson"), StandardCopyOption.REPLACE_EXISTING)
      q1.processAllAvailable()
    } finally q1.stop()
    val created1 = new wilayah.Api(spark, wh, src).warehouse
      .select(min("created_at")).head().getTimestamp(0)

    // restart from the same checkpoint; land one NEW file only
    val q2 = Streams.ingestStream(spark, watch.toString, wh, checkpointDir = Some(ckpt))
    try {
      Files.copy(Paths.get(s"$src/11.73_kecamatan.geojson"),
        watch.resolve("11.73_kecamatan.geojson"), StandardCopyOption.REPLACE_EXISTING)
      q2.processAllAvailable()
      val api = new wilayah.Api(spark, wh, src)
      assert(api.warehouse.count() == 5)
      assert(wilayah.Store.duplicateKeys(api.warehouse) == 0)
      // the old file was NOT re-ingested: its row's timestamps unchanged
      val created2 = api.warehouse.filter(col("level") === 2)
        .select(min("created_at")).head().getTimestamp(0)
      assert(created2 == created1)
    } finally q2.stop()
  }

  test("streaming transitions state survives a checkpointed restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft-trans-ckpt").toString
    val in = MemoryStream[Streams.TypedEvent]
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, String)]()
    def start() = Streams.streamingTransitions(in.toDS(), horizonMinutes = 30)
      .toDF()
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r =>
          out.add((r.getLong(0), r.getString(1), r.getString(2))))
      }
      .outputMode("append").start()
    val q1 = start()
    try {
      in.addData(Streams.TypedEvent(1, ts(0), "A"))
      q1.processAllAvailable()
      assert(out.isEmpty)  // first event: nothing to chain yet
    } finally q1.stop()
    // restart: the stored (type, ts) state must be recovered, so the
    // next arrival chains against the PRE-restart event
    val q2 = start()
    try {
      in.addData(Streams.TypedEvent(1, ts(1), "B"))
      q2.processAllAvailable()
      assert(out.asScala.toSet == Set((1L, "A", "B")), s"got ${out.asScala.toSet}")
    } finally q2.stop()
  }

  test("streaming LSH candidate state survives a checkpointed restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft-lsh-ckpt").toString
    val dup = "the quick brown fox jumps over the lazy dog again and again"
    val in = MemoryStream[(Long, Timestamp, String)]
    // foreachBatch sink: the memory sink refuses checkpoint RECOVERY
    val pairs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    def start() = Streams.streamingLshCandidates(
        in.toDF().toDF("doc_id", "ts", "text"), "doc_id", "text")
      .toDF()
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.select("a_id", "b_id").collect()
          .foreach(r => pairs.add((r.getLong(0), r.getLong(1))))
      }
      .outputMode("append").start()
    val q1 = start()
    try {
      in.addData((1L, ts(0), dup))
      q1.processAllAvailable()
      assert(pairs.isEmpty)
    } finally q1.stop()
    // restart from the checkpoint: bucket state (doc 1's membership)
    // must be restored, so the arriving duplicate pairs against it
    val q2 = start()
    try {
      in.addData((2L, ts(1), dup))
      q2.processAllAvailable()
      assert(pairs.asScala.toSet == Set((1L, 2L)))
    } finally q2.stop()
  }

  test("streaming GeoJSON ingest merges files into the warehouse incrementally") {
    val watch = Files.createTempDirectory("graft-stream-in")
    val wh = Files.createTempDirectory("graft-stream-wh").toString + "/warehouse"
    val src = GeoJsonFixture.dir

    val q = Streams.ingestStream(spark, watch.toString, wh)
    try {
      // land the kabupaten file -> 1 row
      Files.copy(Paths.get(s"$src/11.73_Kota_Lhokseumawe.geojson"),
        watch.resolve("11.73_Kota_Lhokseumawe.geojson"), StandardCopyOption.REPLACE_EXISTING)
      q.processAllAvailable()
      val api1 = new wilayah.Api(spark, wh, src)
      assert(api1.warehouse.count() == 1)

      // land the kecamatan file -> merged, now 5 rows, no dup keys
      Files.copy(Paths.get(s"$src/11.73_kecamatan.geojson"),
        watch.resolve("11.73_kecamatan.geojson"), StandardCopyOption.REPLACE_EXISTING)
      q.processAllAvailable()
      val api2 = new wilayah.Api(spark, wh, src)
      assert(api2.warehouse.count() == 5)
      assert(wilayah.Store.duplicateKeys(api2.warehouse) == 0)
      assert(api2.status("11.73") ==
        Map("provinsi" -> 0L, "kabupaten" -> 1L, "kecamatan" -> 4L, "kelurahan" -> 0L))
    } finally q.stop()
  }

  test("streaming transitions emit per-arrival pairs chained across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Streams.TypedEvent]
    val q = Streams.streamingTransitions(in.toDS(), horizonMinutes = 30)
      .writeStream.format("memory").queryName("transitions")
      .outputMode("append").start()
    try {
      in.addData(
        Streams.TypedEvent(1, ts(0), "A"),
        Streams.TypedEvent(1, ts(1), "B"),
        Streams.TypedEvent(2, ts(0), "A"))
      q.processAllAvailable()
      // u1's chain continues from the STORED state in a later batch
      in.addData(Streams.TypedEvent(1, ts(3), "A"),
        Streams.TypedEvent(2, ts(2), "B"))
      q.processAllAvailable()
      val rows = spark.table("transitions").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
      assert(rows.sorted == Seq(
        (1L, "A", "B"), (1L, "B", "A"), (2L, "A", "B")).sorted, s"got $rows")
      // matches the batch transition matrix on the same events
      val batch = graft.ops.Events.transitionMatrix(
          Seq((1L, 0L, "A"), (1L, 1L, "B"), (1L, 3L, "A"),
            (2L, 0L, "A"), (2L, 2L, "B")).toDF("user_id", "tus", "event_type"),
          "user_id", "event_type", Seq("tus"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val streamed = rows.groupBy(t => (t._2, t._3)).view.mapValues(_.size.toLong).toMap
      assert(streamed == batch.map { case (k, v) => k -> v })
      // a cross-batch straggler (above watermark, older than the
      // stored state) is dropped — no inverted transition, no state
      // regression (u1's state holds ts(3) "A"; ts(2) arrives late)
      in.addData(Streams.TypedEvent(1, ts(2), "C"))
      q.processAllAvailable()
      assert(spark.table("transitions").count() == rows.size)
    } finally q.stop()
  }

  test("streaming transitions evict a user whose last batch was all stragglers") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Streams.TypedEvent]
    val q = Streams.streamingTransitions(in.toDS(), horizonMinutes = 30)
      .writeStream.format("memory").queryName("transitions_evict")
      .outputMode("append").start()
    try {
      in.addData(Streams.TypedEvent(1, ts(0), "A"), Streams.TypedEvent(1, ts(5), "B"))
      q.processAllAvailable()
      // a straggler older than u1's stored B leaves its state unchanged
      in.addData(Streams.TypedEvent(1, ts(3), "C"))
      q.processAllAvailable()
      // u2 moves the watermark past u1's horizon (ts(5) + 30 min)
      in.addData(Streams.TypedEvent(2, ts(100), "A"))
      q.processAllAvailable()
      assert(stateRows(q) == 1L, "u1 must be evicted, only u2 held")
    } finally q.stop()
  }

  test("streaming funnel emits advances in order and enforces the window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Streams.TypedEvent]
    val q = Streams.funnelAdvances(in.toDS(),
        Seq("view", "click", "purchase"), windowMs = 10 * 60_000L)
      .writeStream.format("memory").queryName("funnel_adv")
      .outputMode("append").start()
    try {
      // u1 converts fully in-window; u2 clicks BEFORE viewing (the
      // click may not count) then views; u3's click misses the window
      in.addData(
        Streams.TypedEvent(1, ts(0), "view"),
        Streams.TypedEvent(1, ts(2), "click"),
        Streams.TypedEvent(1, ts(4), "purchase"),
        Streams.TypedEvent(2, ts(1), "click"),
        Streams.TypedEvent(2, ts(3), "view"),
        Streams.TypedEvent(3, ts(0), "view"))
      q.processAllAvailable()
      in.addData(Streams.TypedEvent(3, ts(30), "click")) // 30min > 10min window
      q.processAllAvailable()
      val adv = spark.table("funnel_adv").as[Streams.FunnelAdvance].collect()
      val u1 = adv.filter(_.user_id == 1).sortBy(_.step)
        .map(a => (a.step, a.event_type)).toSeq
      assert(u1 == Seq((1, "view"), (2, "click"), (3, "purchase")))
      // u2: only the view counts (click preceded it); u3: view only
      assert(adv.filter(_.user_id == 2).map(_.event_type).toSeq == Seq("view"))
      assert(adv.filter(_.user_id == 3).map(_.event_type).toSeq == Seq("view"))
      // a second 'view' for an already-advanced user is not re-emitted
      in.addData(Streams.TypedEvent(2, ts(5), "view"))
      q.processAllAvailable()
      assert(spark.table("funnel_adv").as[Streams.FunnelAdvance]
        .filter(_.user_id == 2).count() == 1)
    } finally q.stop()
  }

  test("streaming funnel survives a non-advancing event after its timeout passed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Streams.TypedEvent]
    val q = Streams.funnelAdvances(in.toDS(),
        Seq("view", "click", "purchase"), windowMs = 5 * 60_000L)
      .writeStream.format("memory").queryName("funnel_stale")
      .outputMode("append").start()
    try {
      // u7 advances at t=0 (timeout armed at t+5min)
      in.addData(Streams.TypedEvent(7, ts(0), "view"))
      q.processAllAvailable()
      // other users push the watermark far past u7's armed timeout
      in.addData(Streams.TypedEvent(8, ts(60), "view"))
      q.processAllAvailable()
      // a NON-advancing event for u7 (wrong step for its stage, and
      // outside its window): re-arming the stored stale timeout here
      // used to throw inside the state store and kill the query
      in.addData(Streams.TypedEvent(7, ts(61), "purchase"))
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"query died: ${q.exception}")
      val adv = spark.table("funnel_stale").as[Streams.FunnelAdvance].collect()
      assert(adv.count(_.user_id == 7) == 1) // only the original view
    } finally q.stop()
  }

  test("streaming funnel evicts a user whose last batch did not advance it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Streams.TypedEvent]
    val q = Streams.funnelAdvances(in.toDS(),
        Seq("view", "click", "purchase"), windowMs = 5 * 60_000L)
      .writeStream.format("memory").queryName("funnel_evict")
      .outputMode("append").start()
    try {
      in.addData(Streams.TypedEvent(1, ts(0), "view"))
      q.processAllAvailable()
      // the wrong step for u1's stage leaves its state unchanged
      in.addData(Streams.TypedEvent(1, ts(1), "purchase"))
      q.processAllAvailable()
      // u2 moves the watermark past u1's window (ts(0) + 5 min)
      in.addData(Streams.TypedEvent(2, ts(60), "view"))
      q.processAllAvailable()
      assert(stateRows(q) == 1L, "u1 must be evicted, only u2 held")
    } finally q.stop()
  }

  test("streaming prompt dedup drops same-question transcripts on arrival") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, String)]
    val df = in.toDF().toDF("doc_id", "ts", "conv")
    val q = Streams.streamingPromptDedup(df).writeStream
      .format("memory").queryName("prompt_dedup").outputMode("append").start()
    try {
      in.addData(
        (1L, ts(0), "user: what is spark ||| assistant: an engine"),
        (2L, ts(1), "user: what is duckdb ||| assistant: a database"))
      q.processAllAvailable()
      // same PROMPT, different answer, later micro-batch: dropped
      in.addData(
        (3L, ts(2), "user: what is spark ||| assistant: a framework"),
        (4L, ts(2), "user: what is scala ||| assistant: a language"))
      q.processAllAvailable()
      val ids = spark.table("prompt_dedup").select("doc_id")
        .as[Long].collect().sorted
      assert(ids.toSeq == Seq(1L, 2L, 4L),
        "first arrival wins; the repeated question must drop")
    } finally q.stop()
  }

  test("streaming host-cap counter state survives a checkpointed restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft-hostcap-ckpt").toString
    val in = MemoryStream[(Long, Timestamp, String)]
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def start() = Streams.streamingHostCapGate(
        in.toDF().toDF("doc_id", "ts", "url"), cap = 2)
      .toDF()
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => out.add(r.getLong(0)))
      }
      .outputMode("append").start()
    val q1 = start()
    try {
      in.addData((1L, ts(0), "https://a.com/1"), (2L, ts(1), "https://a.com/2"))
      q1.processAllAvailable()
      assert(out.asScala.toSet == Set(1L, 2L))
    } finally q1.stop()
    // restart: the per-host counter must be RECOVERED, so a.com stays
    // capped — without checkpoint recovery doc 3 would be re-admitted
    val q2 = start()
    try {
      in.addData((3L, ts(2), "https://a.com/3"), (4L, ts(2), "https://b.com/1"))
      q2.processAllAvailable()
      assert(out.asScala.toSet == Set(1L, 2L, 4L),
        s"a.com must stay capped across the restart; got ${out.asScala.toSet}")
    } finally q2.stop()
  }

  test("streaming bloom sketch converges bit-exactly to the batch sketch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, String)]
    val df = in.toDF().toDF("g", "v")
    val q = Streams.streamingBloomSketch(df, "g", "v").writeStream
      .format("memory").queryName("bloom_stream").outputMode("append").start()
    try {
      in.addData(("a", "alpha"), ("a", "beta"), ("b", "gamma"))
      q.processAllAvailable()
      // a duplicate value flips no bits -> no new emission for its words
      val n1 = spark.table("bloom_stream").count()
      in.addData(("a", "alpha"))
      q.processAllAvailable()
      assert(spark.table("bloom_stream").count() == n1,
        "re-inserting a value must not emit (no bits changed)")
      in.addData(("a", "delta"), ("b", "epsilon"))
      q.processAllAvailable()
      // latest emission per (group, word) == the batch sketch of all
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("group", "word_idx")
      import org.apache.spark.sql.functions.row_number
      val streamed = spark.table("bloom_stream")
        .withColumn("_rn", row_number().over(
          w.orderBy(org.apache.spark.sql.functions.col("bits").desc)))
        .filter(org.apache.spark.sql.functions.col("_rn") === 1)
        .select("group", "word_idx", "bits")
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      val batch = graft.ops.Sketches.bloomSketch(
          Seq(("a", "alpha"), ("a", "beta"), ("a", "delta"),
            ("b", "gamma"), ("b", "epsilon")).toDF("g", "v"),
          Seq("g"), "v")
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      assert(streamed == batch,
        "stream-maintained bitmap must equal the batch sketch bit-for-bit")
    } finally q.stop()
  }

  test("streaming host-cap gate can bucket on the registrable domain") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, String)]
    val df = in.toDF().toDF("doc_id", "ts", "url")
    val q = Streams.streamingHostCapGate(df, cap = 2, byRegistrable = true)
      .writeStream
      .format("memory").queryName("reg_cap").outputMode("append").start()
    try {
      // three SUBDOMAINS of one co.uk registrant share the allowance;
      // a different registrant under the same public suffix does not
      in.addData(
        (1L, ts(0), "https://www.bad.co.uk/1"),
        (2L, ts(1), "https://blog.bad.co.uk/2"),
        (3L, ts(2), "https://shop.bad.co.uk/3"),
        (10L, ts(0), "https://good.co.uk/1"))
      q.processAllAvailable()
      val got = spark.table("reg_cap").as[Streams.HostAdmit].collect()
      assert(got.map(_.doc_id).toSet == Set(1L, 2L, 10L),
        "the third subdomain arrival of bad.co.uk must drop")
      assert(got.forall(a => a.host == "bad.co.uk" || a.host == "good.co.uk"),
        "admission keys on the registrable domain, not the host")
    } finally q.stop()
  }

  test("streaming kmv sketch equals the batch sketch across a checkpointed restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft-kmv-ckpt").toString
    val in = MemoryStream[(String, String)]
    // latest emission per group (batches arrive in order)
    val latest = new java.util.concurrent.ConcurrentHashMap[String, Seq[Long]]()
    val emitted = new java.util.concurrent.atomic.AtomicLong()
    def start() = Streams.streamingKmvSketch(
        in.toDF().toDF("g", "v"), "g", "v", k = 4)
      .toDF()
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = b.collect()
        emitted.addAndGet(rows.length)
        rows.foreach(r => latest.put(r.getString(0), r.getSeq[Long](1)))
      }
      .outputMode("append").start()
    val q1 = start()
    try {
      in.addData(("a", "w1"), ("a", "w2"), ("a", "w3"), ("b", "x1"))
      q1.processAllAvailable()
    } finally q1.stop()
    // restart: the held bottom-k must be RECOVERED — without it the
    // re-minned union would restart from empty and under-fill
    val q2 = start()
    try {
      in.addData(("a", "w1"), ("a", "w4"), ("a", "w5"), ("a", "w6"),
        ("b", "x2"))
      q2.processAllAvailable()
      // a value hashing above the held k-th minimum changes nothing,
      // so it emits nothing (and leaves the sketch the batch one)
      val kth = latest.get("a").max
      val above = Iterator.from(7).map(i => s"w$i")
        .find(graft.Pipeline.wordHash60Jvm(_) > kth).get
      val n = emitted.get
      in.addData(("a", above))
      q2.processAllAvailable()
      assert(emitted.get == n, s"$above hashes above the k-th minimum yet emitted")
    } finally q2.stop()
    val batch = graft.ops.Sketches.kmvSketch(
        Seq(("a", "w1"), ("a", "w2"), ("a", "w3"), ("a", "w4"),
          ("a", "w5"), ("a", "w6"), ("b", "x1"), ("b", "x2"))
          .toDF("g", "v"),
        Seq("g"), "v", k = 4)
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(latest.asScala.toMap == batch,
      "stream-maintained bottom-k must equal the batch sketch exactly")
    assert(latest.get("a").length == 4, "group a overfilled its k slots")
  }

  test("streaming count-min sketch equals the batch sketch across a checkpointed restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft-cms-ckpt").toString
    val in = MemoryStream[(String, String)]
    // counters only grow, so latest emission per cell = max = current
    val latest =
      new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), Long]()
    def start() = Streams.streamingCmsSketch(
        in.toDF().toDF("g", "v"), "g", "v", depth = 2, width = 8)
      .toDF()
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r =>
          latest.put((r.getString(0), r.getLong(1), r.getLong(2)),
            r.getLong(3)))
      }
      .outputMode("append").start()
    val q1 = start()
    try {
      in.addData(("a", "t1"), ("a", "t1"), ("a", "t2"), ("b", "t1"))
      q1.processAllAvailable()
    } finally q1.stop()
    // restart: counters must resume from their checkpointed values —
    // a reset would under-count every earlier arrival
    val q2 = start()
    try {
      in.addData(("a", "t1"), ("b", "t3"))
      q2.processAllAvailable()
    } finally q2.stop()
    val batch = graft.ops.Sketches.cmsSketch(
        Seq(("a", "t1"), ("a", "t1"), ("a", "t2"), ("a", "t1"),
          ("b", "t1"), ("b", "t3")).toDF("g", "v"),
        Seq("g"), "v", depth = 2, width = 8)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) -> r.getLong(3))
      .toMap
    assert(latest.asScala.toMap == batch,
      "stream-maintained counters must equal the batch sketch exactly")
  }

  test("streaming MG sketch equals the batch-merge fold across a checkpointed restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft-mg-ckpt").toString
    val in = MemoryStream[(String, String)]
    // whole-summary emissions: latest per group = current summary
    val latest = new java.util.concurrent.ConcurrentHashMap[
      String, (Seq[String], Seq[Long])]()
    def start() = Streams.streamingMgSketch(
        in.toDF().toDF("g", "v"), "g", "v", k = 2)
      .toDF()
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => latest.put(r.getString(0),
          (r.getSeq[String](1), r.getSeq[Long](2))))
      }
      .outputMode("append").start()
    // batch 1: v1 x5, v2 x3, v3 x1 -> csub = 1 -> {v1 -> 4, v2 -> 2}
    val b1 = Seq.fill(5)("v1") ++ Seq.fill(3)("v2") ++ Seq("v3")
    val q1 = start()
    try {
      in.addData(b1.map(("a", _)): _*)
      q1.processAllAvailable()
      assert(latest.get("a") == ((Seq("v1", "v2"), Seq(4L, 2L))))
    } finally q1.stop()
    // restart: counters must be RECOVERED — a reset would forget v1/v2
    // entirely and the fold below would not match
    // batch 2: v4 x5, v5 x3 -> merged {v4 5, v1 4, v5 3, v2 2} ->
    // csub = 3 -> {v4 -> 2, v1 -> 1} (all counts distinct: no
    // hash-tie dependence in this fixture)
    val b2 = Seq.fill(5)("v4") ++ Seq.fill(3)("v5")
    val q2 = start()
    try {
      in.addData(b2.map(("a", _)): _*)
      q2.processAllAvailable()
    } finally q2.stop()
    assert(latest.get("a") == ((Seq("v4", "v1"), Seq(2L, 1L))))
    // the documented contract: = the left-fold of batch mgMerge over
    // the micro-batches (batch 2 enters as its exact count table)
    val s1 = graft.ops.Sketches.mgSketch(
      b1.map(("a", _)).toDF("g", "v"), Seq("g"), "v", 2)
    val s2exact = graft.ops.Sketches.mgSketch(
      b2.map(("a", _)).toDF("g", "v"), Seq("g"), "v", 8)
    val fold = graft.ops.Sketches.mgMerge(s1.unionByName(s2exact),
        Seq("g"), 2)
      .orderBy(org.apache.spark.sql.functions.col("n_lb").desc)
      .select("value", "n_lb").as[(String, Long)].collect()
    assert(fold.toSeq == Seq("v4" -> 2L, "v1" -> 1L),
      "streaming summary must equal the batch mgMerge fold")
  }

  test("streaming hist sketch equals the batch sketch across a checkpointed restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft-hist-ckpt").toString
    val in = MemoryStream[(String, Long)]
    // counters only grow: latest emission per (group, bucket) = current
    val latest =
      new java.util.concurrent.ConcurrentHashMap[(String, Long), Long]()
    def start() = Streams.streamingHistSketch(
        in.toDF().toDF("g", "v"), "g", "v")
      .toDF()
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r =>
          latest.put((r.getString(0), r.getLong(1)), r.getLong(2)))
      }
      .outputMode("append").start()
    val q1 = start()
    try {
      in.addData(("a", 0L), ("a", 1L), ("a", 5L), ("b", 9L))
      q1.processAllAvailable()
    } finally q1.stop()
    // restart: a reset would under-count the earlier arrivals
    val q2 = start()
    try {
      in.addData(("a", 5L), ("b", 1000L))
      q2.processAllAvailable()
    } finally q2.stop()
    val batch = graft.ops.Sketches.histSketch(
        Seq(("a", 0L), ("a", 1L), ("a", 5L), ("a", 5L),
          ("b", 9L), ("b", 1000L)).toDF("g", "v"),
        Seq("g"), "v")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(latest.asScala.toMap == batch,
      "stream-maintained histogram must equal the batch sketch exactly")
  }

  test("streaming surprisal gate scores with the batch model and gates on the threshold") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the OpsSpec reference: tot=6, u(a)=3 u(b)=2 u(c)=1; cl(a)=3 cl(b)=1
    val ref = Seq("a b a c", "a b").toDF("text")
    val in = MemoryStream[(Timestamp, Long, String)]
    val df = in.toDF().toDF("ts", "doc_id", "text")
    val q = Streams.streamingSurprisalGate(df, ref, maxMeanMillibits = 1000L)
      .writeStream
      .format("memory").queryName("surprisal_gate").outputMode("update")
      .start()
    try {
      in.addData((ts(0), 1L, "a b a c"), (ts(1), 2L, "c c"),
        (ts(2), 3L, "a z"), (ts(3), 4L, "solo"))
      q.processAllAvailable()
      val rows = spark.table("surprisal_gate")
        .select("doc_id", "n_pairs", "bits", "mean_millibits", "keep")
        .as[(Long, Long, Long, Long, Boolean)].collect()
        .map(t => t._1 -> ((t._2, t._3, t._4, t._5))).toMap
      // identical to the batch scorer's hand-computed values (OpsSpec)
      assert(rows == Map(
        1L -> ((3L, 1L, 333L, true)),     // head: kept
        2L -> ((1L, 6L, 6000L, false)),   // backoff-priced: dropped
        3L -> ((1L, 10L, 10000L, false)))) // OOV-priced: dropped
      // doc 4 has one token: no pairs, no verdict (routed upstream)
    } finally q.stop()
  }

  test("streaming hist drift scores live TV against the baseline sketch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // baseline a: values [1,1,5] -> buckets {1:2, 3:1}, total 3
    val baseline = graft.ops.Sketches.histSketch(
      Seq(("a", 1L), ("a", 1L), ("a", 5L)).toDF("g", "v"), Seq("g"), "v")
    val in = MemoryStream[(String, Long)]
    val latest =
      new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
    val q = Streams.streamingHistDrift(
        in.toDF().toDF("g", "v"), "g", "v", baseline)
      .toDF()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r =>
          latest.put(r.getString(0), (r.getLong(1), r.getLong(2))))
      }
      .outputMode("append").start()
    try {
      // a: [1, 9] -> {1:1, 4:1}, n=2. TV = (|500000-666666| +
      // |0-333333| + |500000-0|) div 2 = 999999 div 2 = 499999.
      // b has NO baseline row -> tv_ppm = -1, not silent
      in.addData(("a", 1L), ("a", 9L), ("b", 1L))
      q.processAllAvailable()
      assert(latest.asScala.toMap ==
        Map("a" -> ((2L, 499999L)), "b" -> ((1L, -1L))))
      // batch cross-check: the same TV from the batch operator
      val cur = graft.ops.Sketches.histSketch(
        Seq(("a", 1L), ("a", 9L)).toDF("g", "v"), Seq("g"), "v")
      val batchTv = graft.ops.Sketches
        .histDistance(cur, baseline, Seq("g"))
        .select("tv_ppm").as[Long].head()
      assert(batchTv == 499999L)
    } finally q.stop()
  }

  test("streaming priority sample equals the batch sample across a checkpointed restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft-pri-ckpt").toString
    val in = MemoryStream[(Long, String)]
    val latest =
      new java.util.concurrent.ConcurrentHashMap[String, Seq[Long]]()
    val emitted = new java.util.concurrent.atomic.AtomicLong()
    def start() = Streams.streamingPrioritySample(
        in.toDF().toDF("doc_id", "source"), "doc_id", "source", k = 4)
      .toDF()
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = b.collect()
        emitted.addAndGet(rows.length)
        rows.foreach(r => latest.put(r.getString(0), r.getSeq[Long](1)))
      }
      .outputMode("append").start()
    val batch1 = (1L to 12L).map(i => (i, if (i % 2 == 0) "a" else "b"))
    val batch2 = (13L to 24L).map(i => (i, if (i % 2 == 0) "a" else "b"))
    val q1 = start()
    try { in.addData(batch1: _*); q1.processAllAvailable() } finally q1.stop()
    // restart: a state reset would re-admit evicted high-priority ids
    val q2 = start()
    try {
      in.addData(batch2: _*)
      q2.processAllAvailable()
      // re-sent held ids change no sample, so they emit nothing
      val n = emitted.get
      in.addData(latest.get("a").map(id => (id, "a")): _*)
      q2.processAllAvailable()
      assert(emitted.get == n, "re-sending the held sample emitted")
    } finally q2.stop()
    val expected = graft.ops.Sampling.prioritySample(
        (batch1 ++ batch2).toDF("doc_id", "source"), "doc_id", "source",
        k = 4)
      .orderBy("source", "pri")
      .select("source", "doc_id").as[(String, Long)].collect()
      .groupBy(_._1).map { case (g, rows) => g -> rows.map(_._2).toSeq }
    assert(latest.asScala.toMap == expected,
      "stream-maintained sample must equal the batch prioritySample")
  }

  test("streaming hll sketch equals the batch registers across a checkpointed restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft-hll-ckpt").toString
    val in = MemoryStream[(String, String)]
    // registers only grow: latest emission per (group, bucket) = current
    val latest =
      new java.util.concurrent.ConcurrentHashMap[(String, Long), Long]()
    val emitted = new java.util.concurrent.atomic.AtomicLong()
    def start() = Streams.streamingHllSketch(
        in.toDF().toDF("g", "v"), "g", "v", p = 6)
      .toDF()
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = b.collect()
        emitted.addAndGet(rows.length)
        rows.foreach(r => latest.put((r.getString(0), r.getLong(1)), r.getLong(2)))
      }
      .outputMode("append").start()
    val vals1 = (0 until 40).map(i => ("a", s"tok_$i")) :+ ("b" -> "x")
    val vals2 = (30 until 70).map(i => ("a", s"tok_$i")) :+ ("b" -> "y")
    val q1 = start()
    try {
      in.addData(vals1: _*)
      q1.processAllAvailable()
    } finally q1.stop()
    // restart: a register reset would forget the earlier maxima
    val q2 = start()
    try {
      in.addData(vals2: _*)
      q2.processAllAvailable()
      // a repeated value raises no register, so it emits nothing
      val n = emitted.get
      in.addData(vals2.head)
      q2.processAllAvailable()
      assert(emitted.get == n, s"repeating ${vals2.head} emitted")
    } finally q2.stop()
    val batch = graft.ops.Sketches.hllSketch(
        (vals1 ++ vals2).toDF("g", "v"), Seq("g"), "v", p = 6)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(latest.asScala.toMap == batch,
      "stream-maintained registers must equal the batch sketch exactly")
  }

  test("streaming ams f2 counters equal the batch sketch across a checkpointed restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft-ams-ckpt").toString
    val in = MemoryStream[(String, String)]
    // counters ADD: latest emission per (group, counter) = current
    val latest =
      new java.util.concurrent.ConcurrentHashMap[(String, Long), Long]()
    def start() = Streams.streamingAmsF2Sketch(
        in.toDF().toDF("g", "v"), "g", "v", counters = 16)
      .toDF()
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r =>
          latest.put((r.getString(0), r.getLong(1)), r.getLong(2)))
      }
      .outputMode("append").start()
    val vals1 = (0 until 40).map(i => ("a", s"tok_${i % 9}")) :+
      ("b" -> "x")
    val vals2 = (0 until 30).map(i => ("a", s"tok_${i % 5}")) :+
      ("b" -> "y")
    val q1 = start()
    try {
      in.addData(vals1: _*)
      q1.processAllAvailable()
    } finally q1.stop()
    // restart: a counter reset would forget the earlier sums
    val q2 = start()
    try {
      in.addData(vals2: _*)
      q2.processAllAvailable()
    } finally q2.stop()
    val batch = graft.ops.Sketches.amsF2Sketch(
        (vals1 ++ vals2).toDF("g", "v"), Seq("g"), "v", counters = 16)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
      .filter(_._2 != 0L).toMap
    // absent state IS the zero counter: compare on nonzero cells
    assert(latest.asScala.toMap.filter(_._2 != 0L) == batch,
      "stream-maintained counters must equal the batch sketch exactly")
  }

  test("streaming cusum equals the batch operator under in-order arrival") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Long, Long, Long)]
    val latest =
      new java.util.concurrent.ConcurrentHashMap[String, (Long, Long, Long, Boolean)]()
    val q = Streams.streamingCusum(
        in.toDF().toDF("k", "ts", "id", "vm"), "k", "ts", "id", "vm",
        refMilli = 1000L, slackMilli = 20L, thresholdMilli = 500L)
      .toDF()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => latest.put(r.getString(0),
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))))
      }
      .outputMode("append").start()
    // the q294 spec shape split across two in-order batches
    val b1 = (1L to 20L).map(i => ("u", i, i, 1000L)) ++
      (1L to 15L).map(i => ("v", 100 + i, 100 + i, 1000L))
    val b2 = (21L to 30L).map(i => ("u", i, i, 1100L)) ++
      (16L to 30L).map(i => ("v", 100 + i, 100 + i, 1000L))
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val batch = graft.ops.Events.cusumChangepoint(
        (b1 ++ b2).toDF("k", "ts", "id", "vm"), "k", "ts", "id", "vm",
        refMilli = 1000L, slackMilli = 20L, thresholdMilli = 500L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4) == 1L))
      .toMap
    assert(latest.asScala.toMap == batch,
      "stream-maintained CUSUM must equal the batch operator")
  }

  test("streaming host-cap gate admits the first k arrivals per host") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, String)]
    val df = in.toDF().toDF("doc_id", "ts", "url")
    val q = Streams.streamingHostCapGate(df, cap = 2).writeStream
      .format("memory").queryName("host_cap").outputMode("append").start()
    try {
      in.addData(
        (1L, ts(0), "https://a.com/1"), (2L, ts(1), "https://a.com/2"),
        (3L, ts(2), "https://a.com/3"),   // third a.com arrival: dropped
        (10L, ts(0), "https://b.com/1"))
      q.processAllAvailable()
      val first = spark.table("host_cap").as[Streams.HostAdmit].collect()
      assert(first.map(_.doc_id).toSet == Set(1L, 2L, 10L))
      assert(first.filter(_.host == "a.com").map(a => a.doc_id -> a.seq)
        .toMap == Map(1L -> 1L, 2L -> 2L), "seq is the admission index")
      // the counter persists across micro-batches: a.com stays capped,
      // b.com still has allowance
      in.addData((4L, ts(3), "https://a.com/4"), (11L, ts(3), "https://b.com/2"))
      q.processAllAvailable()
      val ids = spark.table("host_cap").as[Streams.HostAdmit]
        .collect().map(_.doc_id).toSet
      assert(ids == Set(1L, 2L, 10L, 11L))
    } finally q.stop()
  }

  test("streaming url alias-farm monitor equals the batch advisory across a restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft-farm-ckpt").toString
    val in = MemoryStream[(String, String)]
    val latest = new java.util.concurrent.ConcurrentHashMap[
      String, (Long, Long, Long, Boolean)]()
    def start() = Streams.streamingUrlAliasFarms(
        in.toDF().toDF("url", "text"), "url", "text", maxBodies = 2)
      .toDF()
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => latest.put(r.getString(0),
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))))
      }
      .outputMode("append").start()
    // farm.com/view?session=N: 3 urls, 1 body; news.com/article/N:
    // 2 urls, 2 bodies
    val b1 = Seq(
      ("https://farm.com/view?session=1", "the farm body"),
      ("https://farm.com/view?session=2", "the farm body"),
      ("https://news.com/article/7", "story seven"))
    val q1 = start()
    try { in.addData(b1: _*); q1.processAllAvailable() } finally q1.stop()
    // restart: counts and digest sets must be RECOVERED — a reset
    // would see session=3's body as new and report 1 url / 1 body
    val b2 = Seq(
      ("https://farm.com/view?session=3", "the farm body"),
      ("https://news.com/article/8", "story eight"),
      ("https://news.com/article/9", "story nine")) // 3rd body: saturates
    val q2 = start()
    try { in.addData(b2: _*); q2.processAllAvailable() } finally q2.stop()
    assert(latest.get("https://farm.com/view?session=N") ==
      ((3L, 1L, 666666L, false)))
    // saturated pattern: n_bodies is a LOWER bound (maxBodies), ppm an
    // upper bound, and the flag says so
    assert(latest.get("https://news.com/article/N") ==
      ((3L, 2L, 333333L, true)))
    // below saturation the monitor equals the batch advisory exactly
    val batch = graft.ops.Web.urlPatternStats(
        (b1 ++ b2).toDF("url", "text"), "url", "text")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val farm = latest.get("https://farm.com/view?session=N")
    assert(batch("https://farm.com/view?session=N") ==
      ((farm._1, farm._2, farm._3)))
  }

  test("streaming hot-key monitor equals the batch report across a restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft-hotkey-ckpt").toString
    val in = MemoryStream[(String, String)]
    // each changed batch re-emits the full advice set; keep the rows
    // of the highest total per (group, key) = the current advice
    val latest = new java.util.concurrent.ConcurrentHashMap[
      (String, String), (Long, Long, Long, Long)]()
    def start() = Streams.streamingHotKeys(
        in.toDF().toDF("g", "v"), "g", "v", k = 8, parallelism = 10)
      .toDF()
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach { r =>
          val key = (r.getString(0), r.getString(1))
          val row = (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
          latest.merge(key, row,
            (a, b) => if (b._4 >= a._4) b else a)
        }
      }
      .outputMode("append").start()
    // batch 1: k1 x5, k2 x3, k3 x2 (10 arrivals)
    val b1 = Seq.fill(5)("k1") ++ Seq.fill(3)("k2") ++ Seq.fill(2)("k3")
    val q1 = start()
    try {
      in.addData(b1.map(("a", _)): _*); q1.processAllAvailable()
    } finally q1.stop()
    // restart: totals and counters recovered; batch 2 doubles k1
    val b2 = Seq.fill(5)("k1") ++ Seq.fill(5)("k4")
    val q2 = start()
    try {
      in.addData(b2.map(("a", _)): _*); q2.processAllAvailable()
    } finally q2.stop()
    // distinct keys (4) fit in k=8 -> counts exact -> row-for-row
    // equality with the batch report at the same parallelism
    val rep = graft.ops.Skew.hotKeyReport(
        (b1 ++ b2).map(("a", _)).map(_._2).toDF("v"), "v",
        topK = 8, parallelism = 10)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val live = latest.asScala.toMap
    assert(live.keySet == rep.keySet.map(("a", _)))
    rep.foreach { case (k, (n, share, salts)) =>
      assert(live(("a", k)) == ((n, share, salts, 20L)),
        s"advice for $k")
    }
  }

  test("streaming SCD2 equals the batch intervals across a checkpointed restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft-scd2-ckpt").toString
    val in = MemoryStream[(String, String, Long, Long)]
    // latest emission per (key, version) IS the SCD2 table
    val latest = new java.util.concurrent.ConcurrentHashMap[
      (String, Long), (Option[String], Long, Option[Long], Boolean)]()
    def start() = Streams.streamingScd2(
        in.toDF().toDF("k", "s", "t", "i"), "k", "s", "t", "i")
      .toDF()
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach { r =>
          latest.put((r.getString(0), r.getLong(1)),
            (Option(r.getString(2)), r.getLong(3),
             if (r.isNullAt(4)) None else Some(r.getLong(4)),
             r.getBoolean(5)))
        }
      }
      .outputMode("append").start()
    // batch 1 (out of order WITHIN the batch — the fold sorts):
    // u1 a@10 a@20 b@30 ; u2 x@5
    val b1 = Seq(("u1", "b", 30L, 3L), ("u1", "a", 10L, 1L),
      ("u1", "a", 20L, 2L), ("u2", "x", 5L, 4L))
    val q1 = start()
    try { in.addData(b1: _*); q1.processAllAvailable() } finally q1.stop()
    assert(latest.get(("u1", 1L)) == ((Some("a"), 10L, Some(30L), false)))
    assert(latest.get(("u1", 2L)) == ((Some("b"), 30L, None, true)))
    // restart: the open versions must be RECOVERED — a reset would
    // restart u1 at version 1 and corrupt the table
    // batch 2: u1 a@40 (re-entry = version 3), u2 x@50 (extend, no new
    // version), plus a STRAGGLER u1 c@25 that must be dropped (older
    // than the open version's last accepted ts)
    val b2 = Seq(("u1", "a", 40L, 5L), ("u2", "x", 50L, 6L),
      ("u1", "c", 25L, 7L))
    val q2 = start()
    try { in.addData(b2: _*); q2.processAllAvailable() } finally q2.stop()
    assert(latest.get(("u1", 2L)) == ((Some("b"), 30L, Some(40L), false)))
    assert(latest.get(("u1", 3L)) == ((Some("a"), 40L, None, true)))
    assert(latest.get(("u2", 1L)) == ((Some("x"), 5L, None, true)))
    // batch equality on the ACCEPTED rows (all but the straggler):
    // the latest-per-(key,version) table = Temporal.scd2 of the log
    val accepted = (b1 ++ b2).filterNot(_ == (("u1", "c", 25L, 7L)))
    val batch = graft.ops.Temporal.scd2(
        accepted.toDF("k", "s", "t", "i"), Seq("k"), "s", "t", "i")
      .select("k", "version", "s", "valid_from", "valid_to", "is_current")
      .as[(String, Long, Option[String], Long, Option[Long], Boolean)]
      .collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
    assert(latest.asScala.toMap == batch,
      "streaming SCD2 must equal the batch operator over accepted rows")
  }

  test("streaming last-touch attribution equals batch across a restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft-touch-ckpt").toString
    val in = MemoryStream[(String, String, Long, Long, Double)]
    val got = new java.util.concurrent.ConcurrentHashMap[
      (String, Long), (String, Option[Long], Double)]()
    def start() = Streams.streamingLastTouch(
        in.toDF().toDF("u", "ty", "t", "i", "v"), "u", "ty", "t", "i", "v",
        convType = "buy", touchTypes = Seq("click", "view"), windowUs = 100L)
      .toDF()
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach { r =>
          got.put((r.getString(0), r.getLong(1)),
            (r.getString(2),
             if (r.isNullAt(3)) None else Some(r.getLong(3)),
             r.getDouble(4)))
        }
      }
      .outputMode("append").start()
    // batch 1: u1 click@10 buy@20 (credited), view@200 (held in state)
    val b1 = Seq(("u1", "click", 10L, 1L, 0.0), ("u1", "buy", 20L, 2L, 5.0),
      ("u1", "view", 200L, 3L, 0.0))
    val q1 = start()
    try { in.addData(b1: _*); q1.processAllAvailable() } finally q1.stop()
    assert(got.get(("u1", 20L)) == (("click", Some(10L), 5.0)))
    // restart: the held view@200 must be RECOVERED — batch 2's buy@250
    // is only creditable through state written before the restart
    val b2 = Seq(("u1", "buy", 250L, 4L, 7.0),  // view@200, gap 50 <= 100
      ("u1", "buy", 400L, 5L, 9.0),             // gap 200 -> organic
      ("u2", "buy", 50L, 6L, 1.0))              // no touches ever
    val q2 = start()
    try { in.addData(b2: _*); q2.processAllAvailable() } finally q2.stop()
    assert(got.get(("u1", 250L)) == (("view", Some(200L), 7.0)))
    assert(got.get(("u1", 400L)) == (("organic", None, 9.0)))
    assert(got.get(("u2", 50L)) == (("organic", None, 1.0)))
    // equality with the batch operator over the full ordered log
    val batch = graft.ops.Events.lastTouchAttribution(
        (b1 ++ b2).toDF("u", "ty", "t", "i", "v"), "u", "ty", "t", "i",
        convType = "buy", touchTypes = Seq("click", "view"),
        windowUs = 100L)
      .select("u", "t", "attributed", "touch_us", "v")
      .as[(String, Long, String, Option[Long], Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    assert(got.asScala.toMap == batch,
      "streaming attribution must equal the batch operator")
  }

  test("streaming rollup store equals the full recount across a restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft-rollup-ckpt").toString
    val store = Files.createTempDirectory("graft-rollup-store").toString
    val in = MemoryStream[(String, Double)]
    def start() = Streams.rollupStream(
      in.toDF().toDF("g", "v"), Seq("g"), "v", store, ckpt)
    val b1 = Seq(("a", 1.5), ("a", 2.5), ("b", 4.0))
    val q1 = start()
    try { in.addData(b1: _*); q1.processAllAvailable() } finally q1.stop()
    def stored() = Streams.readRollupStore(spark, store)
      .select(col("g"), col("n"), col("sum_value").cast("double"))
      .as[(String, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(stored() == Map("a" -> ((2L, 4.0)), "b" -> ((1L, 4.0))))
    // restart: the second batch must MERGE into the recovered store,
    // and the committed-version fence must not skip it
    val b2 = Seq(("b", 6.0), ("c", 0.5))
    val q2 = start()
    try { in.addData(b2: _*); q2.processAllAvailable() } finally q2.stop()
    val full = graft.ops.Temporal.rollupState(
        (b1 ++ b2).toDF("g", "v"), Seq("g"), "v")
      .select(col("g"), col("n"), col("sum_value").cast("double"))
      .as[(String, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(stored() == full,
      "stored rollup must equal the batch recount of everything seen")
    // the fence state: exactly one committed version survives (older
    // versions GC'd), and its id advanced past the first batch
    val committed = Streams.committedRollupVersions(spark, store)
    assert(committed.length == 1 && committed.head >= 1L)
  }

  test("rollup store survives every crash window exactly-once") {
    import spark.implicits._
    val store = Files.createTempDirectory("graft-rollup-crash").toString
    def apply(rows: Seq[(String, Double)], id: Long) =
      Streams.applyRollupBatch(rows.toDF("g", "v"), id, Seq("g"), "v", store)
    def stored() = Streams.readRollupStore(spark, store)
      .select(col("g"), col("n"), col("sum_value").cast("double"))
      .as[(String, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val b0 = Seq(("a", 1.0), ("b", 2.0))
    val b1 = Seq(("a", 3.0), ("c", 5.0))
    def recount(batches: Seq[(String, Double)]*) =
      graft.ops.Temporal.rollupState(
          batches.flatten.toDF("g", "v"), Seq("g"), "v")
        .select(col("g"), col("n"), col("sum_value").cast("double"))
        .as[(String, Long, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
    apply(b0, 0L)
    assert(stored() == recount(b0))
    // window 1 — crash AFTER the version committed but BEFORE the
    // checkpoint commit: the engine replays the same batch id; the
    // fence must no-op (merge is not idempotent)
    apply(b0, 0L)
    assert(stored() == recount(b0), "replayed batch must not double-count")
    // window 2 — crash MID-WRITE of the next version: a torn v-1 dir
    // exists WITHOUT _SUCCESS; the replay must ignore it, merge from
    // v-0, and overwrite the leftover
    val torn = s"$store/data/v-1"
    Seq(("x", 9.9)).toDF("g", "v").write.parquet(torn)
    Files.delete(Paths.get(torn, "_SUCCESS"))
    assert(Streams.committedRollupVersions(spark, store) == Seq(0L),
      "a torn version must not read as committed")
    apply(b1, 1L)
    assert(stored() == recount(b0, b1),
      "recovery from a torn write must equal the full recount")
    assert(Streams.committedRollupVersions(spark, store) == Seq(1L),
      "the superseded version must be GC'd after commit")
    // window 3 — store LOSS must be loud, never absorbed as "first
    // batch": corrupt the committed version (data files gone, marker
    // intact) and the next batch must fail, not reset history
    Files.list(Paths.get(s"$store/data/v-1")).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .foreach(Files.delete)
    intercept[Exception] { apply(Seq(("d", 1.0)), 2L) }
    assert(Streams.committedRollupVersions(spark, store) == Seq(1L),
      "a failed batch must leave the committed pointer untouched")
  }

  test("signed rollup stream: retractions replay across crash windows " +
      "and equal the batch recount") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft-srollup-ckpt").toString
    val store = Files.createTempDirectory("graft-srollup-store").toString
    val in = MemoryStream[(String, Double, Int)]
    def start() = Streams.rollupStreamSigned(
      in.toDF().toDF("g", "v", "sgn"), Seq("g"), "v", "sgn", store, ckpt)
    def stored() = Streams.readRollupStore(spark, store)
      .select(col("g"), col("n"), col("sum_value").cast("double"))
      .as[(String, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    def recount(batches: Seq[(String, Double, Int)]*) =
      graft.ops.Temporal.rollupStateSigned(
          batches.flatten.toDF("g", "v", "sgn"), Seq("g"), "v", "sgn")
        .select(col("g"), col("n"), col("sum_value").cast("double"))
        .as[(String, Long, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
    // batch 0: inserts only; batch 1 (after restart): a CORRECTION
    // batch — retract one of a's rows, retract b entirely, insert c
    val b0 = Seq(("a", 1.5, 1), ("a", 2.5, 1), ("b", 4.0, 1))
    val b1 = Seq(("a", 2.5, -1), ("b", 4.0, -1), ("c", 7.0, 1))
    val q1 = start()
    try { in.addData(b0: _*); q1.processAllAvailable() } finally q1.stop()
    assert(stored() == recount(b0))
    val q2 = start()
    try { in.addData(b1: _*); q2.processAllAvailable() } finally q2.stop()
    assert(stored() == recount(b0, b1),
      "retractions must flow through the restart like appends")
    // fully-retracted group stays stored at net zero (compaction is
    // the reader's policy, not the merge's)
    assert(stored()("b") == ((0L, 0.0)))
    assert(graft.ops.Temporal.compactRollup(
        Streams.readRollupStore(spark, store))
      .select("g").as[String].collect().toSet == Set("a", "c"))
    // crash windows on the spec seam: a REPLAYED retraction batch must
    // no-op (un-fenced it would double-retract and flip signs)
    def apply(rows: Seq[(String, Double, Int)], id: Long) =
      Streams.applyRollupBatchSigned(
        rows.toDF("g", "v", "sgn"), id, Seq("g"), "v", "sgn", store)
    val replayId = Streams.committedRollupVersions(spark, store).max
    apply(b1, replayId)
    assert(stored() == recount(b0, b1),
      "replayed retraction batch must not double-retract")
    // torn write of the NEXT version (crash mid-write, no _SUCCESS):
    // replay must ignore it, merge from the committed version
    val torn = s"$store/data/v-${replayId + 1}"
    Seq(("x", 9.9, 1)).toDF("g", "v", "sgn").write.parquet(torn)
    Files.delete(Paths.get(torn, "_SUCCESS"))
    val b2 = Seq(("c", 7.0, -1), ("d", 1.0, 1))
    apply(b2, replayId + 1)
    assert(stored() == recount(b0, b1, b2),
      "recovery from a torn retraction write must equal the recount")
  }

  test("streaming span dedup matches batch duplicatedSpans exactly " +
      "(warehouse replayed as the arrival stream)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the OpsSpec fixture: shared runs, an intra-doc repeat (two
    // islands), and a doc too short to window
    val warehouse = Seq(
      (1L, "x1 x2 c1 c2 c3 c4 c5 x3"),
      (2L, "y1 c1 c2 c3 c4 c5 y2 y3"),
      (3L, "p q r z1 p q r"),
      (4L, "w1 w2")
    ).toDF("doc_id", "text")
    val batch = graft.ops.SpanDedup
      .duplicatedSpans(warehouse, "doc_id", "text", l = 3)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(batch.nonEmpty)
    val in = MemoryStream[(Long, Timestamp, String)]
    val (scope, before) = (new CacheScope, persistedRdds)
    val q = Streams.streamingSpanDedup(
      in.toDF().toDF("doc_id", "ts", "text"), warehouse,
      "doc_id", "text", l = 3, scope = scope)
      .writeStream.format("memory").queryName("span_dedup")
      .outputMode("append").start()
    try {
      in.addData(
        (1L, ts(0), "x1 x2 c1 c2 c3 c4 c5 x3"),
        (2L, ts(0), "y1 c1 c2 c3 c4 c5 y2 y3"),
        (3L, ts(0), "p q r z1 p q r"),
        (4L, ts(0), "w1 w2"))
      q.processAllAvailable()
      val got = spark.table("span_dedup")
        .select("id", "span_start", "span_end", "span_tokens")
        .as[(Long, Long, Long, Long)].collect().toSet
      // an arriving member's own windows are in the warehouse count,
      // so the stream set IS the batch set — the kernel is shared
      assert(got == batch, s"stream $got vs batch $batch")
      // a re-delivered doc within the horizon is not re-reported
      in.addData((3L, ts(1), "p q r z1 p q r"))
      q.processAllAvailable()
      assert(spark.table("span_dedup").count() == batch.size.toLong)
      // a NON-member arrival needs its span to occur minOcc times in
      // the warehouse alone: the c1..c5 run occurs twice there
      in.addData((9L, ts(2), "n1 c1 c2 c3 c4 c5 n2"))
      q.processAllAvailable()
      assert(spark.table("span_dedup")
        .filter(col("id") === 9L)
        .select("span_start", "span_end").as[(Long, Long)]
        .collect().toSet == Set((2L, 7L)))
      val occ = persistedRdds -- before
      scope.release()
      assert(!isCached(occ))
    } finally q.stop()
  }

  test("streaming span dedup evicts a re-delivered doc one horizon after its report") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val warehouse = Seq(
      (1L, "x1 x2 c1 c2 c3 c4 c5 x3"),
      (2L, "y1 c1 c2 c3 c4 c5 y2 y3")
    ).toDF("doc_id", "text")
    val in = MemoryStream[(Long, Timestamp, String)]
    val scope = new CacheScope
    val q = Streams.streamingSpanDedup(
      in.toDF().toDF("doc_id", "ts", "text"), warehouse,
      "doc_id", "text", l = 3, scope = scope)
      .writeStream.format("memory").queryName("span_dedup_evict")
      .outputMode("append").start()
    try {
      in.addData((1L, ts(0), "x1 x2 c1 c2 c3 c4 c5 x3"))
      q.processAllAvailable()
      // a re-delivery leaves doc 1's state unchanged
      in.addData((1L, ts(1), "x1 x2 c1 c2 c3 c4 c5 x3"))
      q.processAllAvailable()
      // doc 9 moves the watermark past doc 1's horizon (ts(0) + 10 min)
      in.addData((9L, ts(60), "n1 c1 c2 c3 c4 c5 n2"))
      q.processAllAvailable()
      assert(stateRows(q) == 1L, "doc 1 must be evicted, only doc 9 held")
    } finally { q.stop(); scope.release() }
  }

  test("streaming audio band candidates reproduce batch frameBandNearDup " +
      "(contour + chunk kernels shared; batch vote applied to stream set)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the q305 plant family: A; B = one-byte edit (re-encode-shaped —
    // few contour bits move); D = A rotated 5 bytes (an 8-frame shift
    // under the stub's (i*37) mod 97 walk — the trim plant, caught
    // position-free); E unrelated
    val a = ("silver drums echo across the midnight harbor while " +
      "nine quiet sailors hum a slow farewell tunexxx").take(97)
    val b = a.updated(40, 'Q')
    val d = a.substring(5) + a.substring(0, 5)
    val e = a.reverse.updated(7, 'z')
    val clips = Seq(1L -> a, 2L -> b, 3L -> d, 4L -> e)
      .map { case (i, s) => (i, s.getBytes("UTF-8")) }
    val sigs = graft.Multimodal.audioContourSignatures(
      graft.Multimodal.audioFrameEnergies(
        clips.map { case (i, bs) => graft.Multimodal.MediaDoc(i, bs) }.toDS(),
        nFrames = 128).toDF(),
      stride = 8)
    val batch = graft.Multimodal
      .frameBandNearDup(sigs, "doc_id", maxDist = 3, minShared = 1)
      .as[(Long, Long, Long)].collect().toSet
    assert(batch.nonEmpty && batch.map(t => (t._1, t._2)).contains((1L, 3L)),
      s"plant family must pair, incl. the trim plant: $batch")
    val in = MemoryStream[(Long, Timestamp, Array[Byte])]
    val cands = Streams.streamingAudioBandCandidates(
      in.toDF().toDF("doc_id", "ts", "content"), "doc_id",
      maxDist = 3, maxBucket = 64)
    val q = cands.writeStream.format("memory").queryName("audio_band")
      .outputMode("append").start()
    def streamVote(): Set[(Long, Long, Long)] = spark.table("audio_band")
      .select("a_id", "b_id", "a_frame_idx", "b_frame_idx").distinct()
      .groupBy("a_id", "b_id")
      .agg(countDistinct(col("a_frame_idx")).cast("long").as("n_close"))
      .as[(Long, Long, Long)].collect().toSet
    try {
      in.addData(clips.map { case (i, bs) => (i, ts(0), bs) }: _*)
      q.processAllAvailable()
      assert(streamVote() == batch, s"stream ${streamVote()} vs batch $batch")
      // a re-delivered clip within the horizon re-verifies against the
      // bucket members but mints no NEW distinct pair-frames: the
      // voted set is unchanged (the distinct-then-vote is the batch
      // closure, so re-deliveries are absorbed, not double-counted)
      in.addData((2L, ts(1), b.getBytes("UTF-8")))
      q.processAllAvailable()
      assert(streamVote() == batch)
    } finally q.stop()
  }
}
