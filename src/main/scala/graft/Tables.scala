package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-provided testdata tables (TESTDATA.md).
  *
  * Reads are plain parquet scans so Catalyst's column pruning and
  * predicate pushdown reach the file source (verify with
  * `.explain("formatted")`: `PushedFilters` / `ReadSchema`).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Repartition ONLY when the scan is under-parallel (the testdata
    * tables are single-row-group single files -> 1 input split, which
    * would pin downstream CPU work to one core). On real multi-file
    * inputs the partition count exceeds the core count and this is an
    * identity — no gratuitous full-table shuffle at scale.
    */
  def spread(df: DataFrame): DataFrame = {
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < math.max(2, parallelism / 2))
      df.repartition(parallelism)
    else df
  }

  /** Plant-id collision guard folded INTO the plan: a corpus doc that
    * lands on a planted id has its `text` rewritten to a sentinel the
    * oracle never applies, so a collision surfaces as a correctness
    * hash mismatch instead of costing a separate driver-side count job
    * per build. With no collision (true at every shipped SF) the
    * `when` is a scan-side no-op.
    */
  def guardPlantIds(df: DataFrame, ids: Seq[Long]): DataFrame =
    df.withColumn("text",
      when(col("doc_id").isin(ids: _*),
        lit("corpus doc occupies a planted id; re-site the plants"))
        .otherwise(col("text")))

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** `events.ts` has shipped as two physical types across testdata
    * generations: parquet TIMESTAMP(NANOS) (read as raw longs via
    * `nanosAsLong`) and plain TIMESTAMP(MICROS) (read as
    * TIMESTAMP_NTZ). Normalize both to the same surface:
    * `ts_ns` = epoch nanos as BIGINT, `ts` = micros TimestampType for
    * date/window functions. NOTE the ORACLE only ever sees micros
    * (DuckDB `epoch_us(ts)` on either physical type), so any
    * oracle-checked ordering/arithmetic must use the micros form
    * (`ts` or `ts_ns div 1000`) — raw-ns ordering would resolve
    * same-microsecond ties differently than the oracle's tiebreak
    * (q18/q19/q54 all truncate for exactly this). Epochs are positive,
    * so `div 1000` (floor) matches DuckDB's ns→us cast. The NTZ→epoch
    * conversion assumes a UTC session timezone (Sessions.build sets
    * it; set defensively here for foreign sessions) so the wall-clock
    * value is read as the same instant DuckDB reads.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    // defensive: runtime-settable and idempotent, so a driver invoking
    // SparkEntry.queries from its OWN session (never through
    // Sessions.build) reads both generations correctly
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val priorTz = s.conf.get("spark.sql.session.timeZone")
    // Overriding the session timezone would be a SESSION-WIDE side
    // effect that repoints the caller's other timestamp semantics, so a
    // non-UTC session fails loudly (repo-wide UTC invariant, PLANS.md).
    if (priorTz != "UTC")
      throw new IllegalStateException(
        s"graft.Tables.events requires a UTC session timezone (found " +
          s"'$priorTz'): epoch conversion of TIMESTAMP_NTZ data is " +
          "timezone-sensitive. Set spark.sql.session.timeZone=UTC.")
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => // TIMESTAMP(NANOS) gen
        raw.withColumn("ts_ns", col("ts"))
          .withColumn("ts", timestamp_micros(expr("ts div 1000L")))
      case _ => // TIMESTAMP(MICROS) gen (NTZ or LTZ)
        raw.withColumn("ts_ns",
            expr("unix_micros(cast(ts as timestamp)) * 1000L"))
          .withColumn("ts", col("ts").cast("timestamp"))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
