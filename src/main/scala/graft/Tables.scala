package graft

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

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

  /** Session confs that change the schema Parquet inference returns. */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  /** (qualified table path, values of [[inferenceConfs]]) ->
    * (every leaf file as (qualified path, mtime, length), the schema
    * inferred from those files under those confs). */
  private val schemas = new ConcurrentHashMap[
    (String, Seq[Option[String]]), (Seq[(String, Long, Long)], StructType)]

  /** Table `name` under `sfDir`, read with a declared schema so the
    * scan plans without a footer-reading inference job. The schema is
    * inferred once per JVM for each table path and setting of the
    * session's Parquet inference confs (`nanosAsLong`,
    * `binaryAsString`, `int96AsTimestamp`, `inferTimestampNTZ`,
    * `mergeSchema`). It is inferred again when the table's files
    * change: a call lists the path (one file, or every leaf file of a
    * directory table) and re-reads the footers when any file's path,
    * modification time or length differs from the inferred one's, or a
    * file was added or removed. The listing is a metadata call, no
    * Spark job.
    */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    spark.read.schema(schemaOf(spark, path)).parquet(path)
  }

  private def schemaOf(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val root = fs.makeQualified(p)
    val key = (root.toString, inferenceConfs.map(spark.conf.getOption))
    // a missing path lists as no files; inference then raises Spark's
    // own error, and nothing is cached
    val files = try leafFiles(fs, root) catch { case _: FileNotFoundException => Nil }
    Option(schemas.get(key)).collect { case (`files`, s) => s }.getOrElse {
      val s = spark.read.parquet(path).schema
      schemas.put(key, (files, s))
      s
    }
  }

  private def leafFiles(fs: FileSystem, root: Path): Seq[(String, Long, Long)] = {
    val it = fs.listFiles(root, true) // a file lists as itself
    val out = Seq.newBuilder[(String, Long, Long)]
    while (it.hasNext) {
      val f = it.next()
      out += ((f.getPath.toString, f.getModificationTime, f.getLen))
    }
    out.result().sorted
  }

  /** Repartition ONLY when the scan is under-parallel (the testdata
    * tables are single-row-group single files -> 1 input split, which
    * would pin downstream CPU work to one core). On real multi-file
    * inputs the partition count exceeds the core count and this is an
    * identity — no gratuitous full-table shuffle at scale. The split
    * count comes from the file index ([[splits]]), so deciding plans
    * nothing and runs no job.
    */
  def spread(df: DataFrame): DataFrame = {
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    if (splits(df) < math.max(2, parallelism / 2))
      df.repartition(parallelism)
    else df
  }

  /** The number of input partitions the file scan under `df` reads,
    * counted from the relation's file index the way the scan counts
    * them (`FilePartition.maxSplitBytes` under the relation's session,
    * each splittable file cut at that size, largest first, packed
    * with the open cost), so it equals `df.rdd.getNumPartitions`
    * without planning `df`. `df` must be a file table read under
    * `Project`, `Filter` and `SubqueryAlias` nodes only, which keep the
    * scan's partitions. Partition filters are not applied: a filtered
    * read of a partitioned table counts every partition's files
    * ([[load]] reads no partitioned table).
    */
  private[graft] def splits(df: DataFrame): Int = {
    def relation(p: LogicalPlan): HadoopFsRelation = p match {
      case Project(_, c) => relation(c)
      case Filter(_, c) => relation(c)
      case SubqueryAlias(_, c) => relation(c)
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r
      case other => throw new IllegalArgumentException(
        s"spread needs a file table read under Project/Filter/SubqueryAlias, found ${other.nodeName}")
    }
    val r = relation(df.queryExecution.analyzed)
    val session = r.sparkSession
    val dirs = r.location.listFiles(Nil, Nil)
    val maxSplitBytes = FilePartition.maxSplitBytes(session, dirs)
    val files = dirs.flatMap { d =>
      d.files.flatMap { f =>
        PartitionedFileUtil.splitFiles(f, f.getPath,
          r.fileFormat.isSplitable(session, r.options, f.getPath), maxSplitBytes, d.values)
      }
    }.sortBy(_.length)(Ordering[Long].reverse)
    FilePartition.getFilePartitions(session, files, maxSplitBytes).size
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
