package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-replica table generators (VERDICT r3 item 7): replicate sf0.1
  * 10x (and, below, 100x and 1000x) with decorrelated keys/content, so
  * queries can be timed at each scale to check the linearity argument
  * the 100 TB design rests on. Time them with `graft.Bench`:
  * `SPARK_GRAFT_SF_DIR=<Out> SPARK_GRAFT_BENCH_ONLY=<names>`. Results
  * land in PLANS.md.
  *
  * Replication keeps per-replica statistics identical while making
  * replicas mutually unrelated (no cross-replica near-dups or key
  * collisions), so a linear operator should cost ~10x:
  * - documents: ids shifted; every TOKEN suffixed per replica, so
  *   cross-replica Jaccard is 0 and within-replica structure intact
  * - embeddings: ids shifted; elements sign-flipped by a deterministic
  *   per-(replica, dim) pattern — cross-replica cosines decorrelate,
  *   within-replica cosines are EXACTLY preserved (same flips cancel)
  * - lineitem/orders/customer: join keys shifted consistently;
  *   nation/region dims copied once
  */
object ScaleGen {
  val Out = "/root/repo/target/sf1-bench"

  private def signs(i: Int): Seq[Double] =
    if (i == 0) Seq.fill(64)(1.0)
    else (0 until 64).map { d =>
      if ((((i.toLong * 64 + d) * 2654435761L >> 7) & 1L) == 0L) 1.0 else -1.0
    }

  def main(args: Array[String]): Unit = {
    val spark = Sessions.build("32", "scale-gen")
    val sf = "/root/testdata/sf0.1"
    val reps = 10

    // args = table-name subset to (re)generate; empty = everything
    def write(name: String, df: => DataFrame): Unit =
      if (args.isEmpty || args.contains(name)) {
        df.write.mode("overwrite").parquet(s"$Out/$name.parquet")
        println(s"wrote $name")
      }

    val docs = Tables.documents(spark, sf)
    write("documents", (0 until reps).map { i =>
      docs.select(
        (col("doc_id") + lit(i * 10000000L)).as("doc_id"),
        array_join(transform(split(col("text"), " "),
          x => concat(x, lit(s"_r$i"))), " ").as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionAll _))

    val emb = Tables.embeddings(spark, sf)
    // vec_id shift matches documents' doc_id shift so id-equality
    // joins across the two tables (q162 crossmodal) stay 1:1 per
    // replica; embedding-only queries only need uniqueness
    write("embeddings", (0 until reps).map { i =>
      emb.select(
        (col("vec_id") + lit(i * 10000000L)).as("vec_id"),
        zip_with(col("embedding"), typedLit(signs(i)),
          (x, s) => (x * s).cast("float")).as("embedding"),
        col("label"))
    }.reduce(_ unionAll _))

    val off = 100000000L
    val li = Tables.lineitem(spark, sf)
    write("lineitem", (0 until reps).map { i =>
      li.withColumn("l_orderkey", col("l_orderkey") + lit(i * off))
        .withColumn("l_partkey", col("l_partkey") + lit(i * off))
    }.reduce(_ unionAll _))

    val ord = Tables.orders(spark, sf)
    write("orders", (0 until reps).map { i =>
      ord.withColumn("o_orderkey", col("o_orderkey") + lit(i * off))
        .withColumn("o_custkey", col("o_custkey") + lit(i * off))
    }.reduce(_ unionAll _))

    val cust = Tables.customer(spark, sf)
    write("customer", (0 until reps).map { i =>
      cust.withColumn("c_custkey", col("c_custkey") + lit(i * off))
    }.reduce(_ unionAll _))

    // events: 10x the user population with the same per-user temporal
    // pattern — the event operators (funnel/retention/json) are
    // user-keyed, so decorrelated user ids are the scaling dimension
    val ev = Tables.events(spark, sf).drop("ts")
      .withColumnRenamed("ts_ns", "ts") // write back as raw nanos longs
    write("events", (0 until reps).map { i =>
      ev.withColumn("user_id", col("user_id") + lit(i * 1000000L))
        .withColumn("event_id", col("event_id") + lit(i * off))
    }.reduce(_ unionAll _))

    write("nation", Tables.nation(spark, sf))
    write("region", Tables.region(spark, sf))

    // part replicates with keys shifted consistently with
    // lineitem.l_partkey; supplier copies ONCE like the dims —
    // l_suppkey is deliberately unshifted (the hub-skew dimension the
    // PageRank sweeps exercise), so supplier joins stay consistent
    val prt = Tables.part(spark, sf)
    write("part", (0 until reps).map { i =>
      prt.withColumn("p_partkey", col("p_partkey") + lit(i * off))
    }.reduce(_ unionAll _))
    write("supplier", Tables.supplier(spark, sf))
    spark.stop()
  }
}

/** ~sf10 (100x sf0.1) documents replica set — the second decade of
  * scaling evidence for the flagship dedup chain (VERDICT r9 item 3).
  * Same decorrelation recipe as [[ScaleGen]]: ids shifted by replica,
  * every token suffixed per replica so cross-replica Jaccard is 0 and
  * within-replica near-dup structure intact.
  */
object Scale10Gen {
  val Out = "/root/repo/target/sf10-bench"
  def main(args: Array[String]): Unit = {
    val spark = Sessions.build("32", "scale10-gen")
    val sf = "/root/testdata/sf0.1"
    def write(name: String, df: => DataFrame): Unit =
      if (args.isEmpty || args.contains(name)) {
        df.repartition(32).write.mode("overwrite")
          .parquet(s"$Out/$name.parquet")
        println(s"wrote sf10 $name")
      }
    val docs = Tables.documents(spark, sf)
    write("documents", (0 until 100).map { i =>
      docs.select(
        (col("doc_id") + lit(i * 10000000L)).as("doc_id"),
        array_join(transform(split(col("text"), " "),
          x => concat(x, lit(s"_r$i"))), " ").as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionAll _))
    // lineitem/orders at 100x for the second decade of the trade-graph
    // family (q171/q184): keys shifted per replica like ScaleGen;
    // l_suppkey deliberately unshifted — the hub-skew dimension keeps
    // 100x degree on the supplier side, the adversarial shape
    val off = 100000000L
    val li = Tables.lineitem(spark, sf)
    write("lineitem", (0 until 100).map { i =>
      li.withColumn("l_orderkey", col("l_orderkey") + lit(i * off))
        .withColumn("l_partkey", col("l_partkey") + lit(i * off))
    }.reduce(_ unionAll _))
    val ord = Tables.orders(spark, sf)
    write("orders", (0 until 100).map { i =>
      ord.withColumn("o_orderkey", col("o_orderkey") + lit(i * off))
        .withColumn("o_custkey", col("o_custkey") + lit(i * off))
    }.reduce(_ unionAll _))
    // round 13: events at 100x users (temporal/warehouse family
    // q226-q230 — per-user history length is PRESERVED, the user
    // dimension scales; written back as raw nanos longs like ScaleGen
    // so Tables.events' LongType branch reads it), embeddings at 100x
    // (q233's corpus side; per-(rep, dim) sign flips decorrelate
    // cross-replica cosines, exactly ScaleGen.signs as a column
    // expression), customer at 100x with supplier copied once (q232's
    // blocked pair volume grows 100x on the customer side)
    val ev13 = Tables.events(spark, sf).drop("ts")
      .withColumnRenamed("ts_ns", "ts")
    write("events", ev13
      .select(col("*"), explode(expr("sequence(0, 99)")).as("rep"))
      .withColumn("user_id", col("user_id") + col("rep") * 1000000L)
      .withColumn("event_id", col("event_id") + col("rep") * off)
      .drop("rep").repartition(32))
    write("embeddings", Tables.embeddings(spark, sf)
      .select(col("*"), explode(expr("sequence(0, 99)")).as("rep"))
      .select(
        (col("vec_id") + col("rep") * 10000000L).as("vec_id"),
        zip_with(col("embedding"), expr("sequence(0, 63)"),
          (x, dIdx) => (x * when(
            expr("rep").cast("long").*(lit(64L)).+(dIdx.cast("long"))
              .*(lit(2654435761L)).bitwiseAND(lit(128L)) === 0L,
            lit(1.0d)).otherwise(lit(-1.0d))).cast("float"))
          .as("embedding"),
        col("label")).repartition(16))
    write("customer", Tables.customer(spark, sf)
      .select(col("*"), explode(expr("sequence(0, 99)")).as("rep"))
      .withColumn("c_custkey", col("c_custkey") + col("rep") * off)
      .drop("rep").repartition(8))
    write("supplier", Tables.supplier(spark, sf))
    spark.stop()
  }
}

/** Flagship dedup-chain timing at three decades (sf0.1 / ~sf1 / ~sf10):
  * decontaminate -> containment -> leakage-safe split, per-stage
  * attribution (one warmup + median of 3 per stage per scale).
  */
/** ~sf100 (1000x sf0.1) documents-only replica set — the THIRD decade
  * for the bounded-state sketch family (round-11 verdict item 8): the
  * flat lines (q208 MG, q209 histogram) claim corpus-size-free cost
  * beyond the map-side scan, and 1000x is where that claim matters.
  * Same decorrelation recipe as [[Scale10Gen]] (ids shifted, tokens
  * suffixed per replica), generated as ONE explode plan — a 1000-branch
  * union spends minutes in analysis for no reason.
  */
object Scale100Gen {
  val Out = "/root/repo/target/sf100-bench"
  def main(args: Array[String]): Unit = {
    val spark = Sessions.build("32", "scale100-gen")
    val sf = "/root/testdata/sf0.1"
    def want(n: String) = args.isEmpty || args.contains(n)
    if (want("documents")) {
      Tables.documents(spark, sf)
        .select(explode(expr("sequence(0, 999)")).as("rep"),
          col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
        .select(
          (col("doc_id") + col("rep") * 10000000L).as("doc_id"),
          array_join(transform(split(col("text"), " "),
            x => concat(x, lit("_r"), col("rep").cast("string"))), " ")
            .as("text"),
          col("lang"), col("source"), col("n_chars"))
        .repartition(64)
        .write.mode("overwrite").parquet(s"$Out/documents.parquet")
      println("wrote sf100 documents")
    }
    // trade tables at 1000x for the THIRD graph-family decade
    // (q219/q125 class): keys shifted per replica like Scale10Gen,
    // l_suppkey deliberately UNSHIFTED — 1000x supplier degree, the
    // adversarial hub-skew shape at its deepest measured point.
    // JOIN-KEY COLUMNS ONLY: the graph queries read nothing else
    // (pruning makes the scan identical), and the full-width tables at
    // 1000x (14 GB lineitem) left too little scratch for the sweep's
    // shuffle spill on this box — the first attempt died on disk, not
    // memory
    val off = 100000000L
    if (want("lineitem")) {
      Tables.lineitem(spark, sf).select("l_orderkey", "l_suppkey")
        .select(col("*"), explode(expr("sequence(0, 999)")).as("rep"))
        .withColumn("l_orderkey", col("l_orderkey") + col("rep") * off)
        .drop("rep")
        .repartition(128)
        .write.mode("overwrite").parquet(s"$Out/lineitem.parquet")
      println("wrote sf100 lineitem")
    }
    if (want("orders")) {
      Tables.orders(spark, sf).select("o_orderkey", "o_custkey")
        .select(col("*"), explode(expr("sequence(0, 999)")).as("rep"))
        .withColumn("o_orderkey", col("o_orderkey") + col("rep") * off)
        .withColumn("o_custkey", col("o_custkey") + col("rep") * off)
        .drop("rep")
        .repartition(128)
        .write.mode("overwrite").parquet(s"$Out/orders.parquet")
      println("wrote sf100 orders")
    }
    // round 13: events at 1000x users for the temporal-warehouse
    // family's third decade (q226 per-key windows, q229 QI-count
    // shuffle, q236 single window pass). Same recipe as Scale10Gen's
    // events (ts written back as raw nanos longs; per-user history
    // preserved, the user dimension scales); projected to the five
    // columns those queries read so the 100M-row table stays ~4 GB —
    // the full-width lesson from the lineitem attempt applied upfront.
    if (want("events")) {
      Tables.events(spark, sf).drop("ts")
        .withColumnRenamed("ts_ns", "ts")
        .select("user_id", "event_type", "ts", "event_id", "value")
        .select(col("*"), explode(expr("sequence(0, 999)")).as("rep"))
        .withColumn("user_id", col("user_id") + col("rep") * 1000000L)
        .withColumn("event_id", col("event_id") + col("rep") * off)
        .drop("rep")
        .repartition(128)
        .write.mode("overwrite").parquet(s"$Out/events.parquet")
      println("wrote sf100 events")
    }
    spark.stop()
  }
}
