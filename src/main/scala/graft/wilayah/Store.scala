package graft.wilayah

import java.nio.file.{Files, NoSuchFileException, Path, Paths}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.TimeUnit
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Warehouse + keyed upsert (MERGE) over Parquet — the Spark
  * re-expression of the reference's row-at-a-time
  * `INSERT ... ON CONFLICT (kode) DO UPDATE`
  * (/root/reference/server.js:90-98, /root/reference/init_db.sql:21-36):
  * one set-oriented job instead of one DB round-trip per feature.
  *
  * Layout: Parquet partitioned by `level` (4 partitions), rows sorted
  * by kode within files. At 100 TB the same recipe holds: level is the
  * partition column, the merge shuffles once on the key, and prefix
  * queries prune partitions + parquet row groups (min/max on kode).
  */
object Store {

  val Key = "kode_wilayah_kemendagri"

  /** The warehouse's declared schema: the columns of [[Wilayah]],
    * typed as there. */
  val schema: StructType = Encoders.product[Wilayah].schema

  private val columns = schema.fieldNames.toSeq

  /** The warehouse as written, or None if it does not exist. Read with
    * the declared [[schema]], so no Parquet footer is read to infer it
    * and an empty warehouse loads as an empty frame. */
  def load(spark: SparkSession, warehousePath: String): Option[DataFrame] =
    if (new java.io.File(warehousePath).exists())
      Some(spark.read.schema(schema).parquet(warehousePath))
    else None

  /** One directory entry of a [[stamp]]: name, file key (the inode
    * where the file system has one) and modification time in ns. */
  type StampEntry = (String, AnyRef, Long)

  /** What the warehouse looks like on disk, cheaply enough to check
    * before every read: the root and each of its `level=*` directories
    * by name, file key and modification time. One readdir, no Spark
    * job. Every writer changes it: [[swap]] puts a new directory (a new
    * inode) in place of a level, [[write]] a new root, and a level seen
    * for the first time adds an entry. Empty when the warehouse does
    * not exist. An entry renamed away while the stamp is taken is left
    * out, so a stamp taken during a swap differs from the one after it.
    */
  def stamp(warehousePath: String): Seq[StampEntry] = {
    val root = Paths.get(warehousePath)
    def entry(p: Path): Option[StampEntry] =
      try {
        val a = Files.readAttributes(p, classOf[BasicFileAttributes])
        Some((p.getFileName.toString, a.fileKey(), a.lastModifiedTime().to(TimeUnit.NANOSECONDS)))
      } catch { case _: NoSuchFileException => None }
    if (!Files.isDirectory(root)) Seq.empty
    else {
      val levels = Files.newDirectoryStream(root, "level=*")
      try (root +: levels.asScala.toSeq.sortBy(_.getFileName.toString)).flatMap(entry)
      finally levels.close()
    }
  }

  /** Last-writer-wins merge: for each key keep the newest row by
    * `updated_at` (ties: incoming wins), preserving the oldest
    * `created_at` — the ON CONFLICT DO UPDATE semantics of
    * /root/reference/init_db.sql:28-35 (created_at untouched,
    * updated_at refreshed). One shuffle on the key; partial-agg-free
    * window since the key is unique post-merge.
    */
  def merge(existing: Option[DataFrame], incoming: DataFrame): DataFrame = {
    val in = incoming.select(columns.map(col): _*).withColumn("prio", lit(1))
    val all = existing match {
      case Some(e) => e.select(columns.map(col): _*).withColumn("prio", lit(0))
        .unionByName(in)
      case None => in
    }
    val byKey = Window.partitionBy(Key)
    all
      .withColumn("rn", row_number().over(
        byKey.orderBy(col("updated_at").desc, col("prio").desc)))
      .withColumn("created_at", min("created_at").over(byKey))
      .filter(col("rn") === 1)
      .drop("rn", "prio")
  }

  /** Rewrite the warehouse with the merged state. Writes to a temp
    * location first (the merge reads the live files, and Spark cannot
    * overwrite its own input in-flight), then swaps atomically-enough
    * for a single-writer batch ETL.
    *
    * The shuffle is `repartitionByRange(level, kode)`, NOT
    * `repartition(level)`: hash-on-level caps write parallelism at
    * the number of DISTINCT LEVELS (4) — measured at 50x geometry
    * volume the whole rewrite serialized behind one fat level-4 task
    * (96 s for a 48 MB warehouse; PLANS.md round 9). Range
    * partitioning keeps every task a contiguous (level, kode) slice —
    * `partitionBy` still routes rows to their level directory, files
    * within a directory hold disjoint sorted kode ranges, so parquet
    * min/max row-group pruning on kode prefixes is exactly as sharp —
    * while the write fans out across the cluster. At 100 TB this is
    * the difference between 4 writers and all of them.
    */
  def write(df: DataFrame, warehousePath: String): Unit = {
    val spark = df.sparkSession
    val tmp = warehousePath + ".tmp"
    df.repartitionByRange(col("level"), col(Key))
      .sortWithinPartitions("level", Key)
      .write.mode(SaveMode.Overwrite)
      .partitionBy("level")
      .parquet(tmp)
    swap(new java.io.File(tmp), new java.io.File(warehousePath),
      new java.io.File(warehousePath + ".old"))
    // new files on disk — invalidate cached plans/file listings over
    // THIS path only. clearCache() (rounds <= 8) nuked every cache in
    // the session: in a long-lived cluster session that silently
    // un-persists unrelated frames (measured: a 50x replicate-and-sync
    // harness re-ran the JTS kernel once per branch, 98 s for a 7 s
    // write — PLANS.md round 9).
    spark.catalog.refreshByPath(warehousePath)
  }

  /** renameTo reports failure by RETURN VALUE — ignoring it would let a
    * failed swap masquerade as a successful sync while readers keep
    * serving the pre-merge warehouse.
    */
  private def rename(from: java.io.File, to: java.io.File): Unit =
    if (!from.renameTo(to))
      throw new java.io.IOException(s"warehouse swap failed: $from -> $to")

  /** Put `fresh` in place of `dst`. The live `dst` moves to `aside`
    * first and is renamed back if `fresh` cannot be renamed in, so a
    * failed swap throws with the old data still at `dst`. `aside` must
    * not sit inside the warehouse root, where it would be read as a
    * partition.
    */
  private[graft] def swap(fresh: java.io.File, dst: java.io.File,
                          aside: java.io.File): Unit = {
    deleteRec(aside)
    if (dst.exists()) rename(dst, aside)
    try rename(fresh, dst)
    catch {
      case e: java.io.IOException =>
        if (aside.exists() && !aside.renameTo(dst))
          e.addSuppressed(new java.io.IOException(
            s"restore failed, old data left at $aside"))
        throw e
    }
    deleteRec(aside)
  }

  /** Partition-scoped merge + write: only the level partitions present
    * in the incoming batch are merged and rewritten; untouched level
    * directories keep their existing files. Sound because a key's
    * level is a function of its code structure — a row can never
    * migrate between level partitions. At real scale (finer partition
    * keys) this is the difference between rewriting the warehouse and
    * rewriting a few directories per sync.
    */
  def mergeWritePartitions(
      spark: SparkSession, incoming: DataFrame, warehousePath: String): Unit = {
    import org.apache.spark.sql.functions.col
    val affected = incoming.select("level").distinct()
      .collect().map(_.getInt(0)).sorted
    // an empty batch leaves the warehouse as it was; creating the root
    // here would leave a warehouse with no level to read
    if (affected.isEmpty) return
    val existingAffected = load(spark, warehousePath)
      .map(_.filter(col("level").isin(affected.map(Integer.valueOf): _*)))
    val merged = merge(existingAffected, incoming)

    val tmp = new java.io.File(warehousePath + ".ptmp")
    deleteRec(tmp)
    // range-partitioned for the same reason as [[write]]: the rewrite
    // of a touched level must fan out, not serialize on one task
    merged.repartitionByRange(col("level"), col(Key))
      .sortWithinPartitions("level", Key)
      .write.mode(SaveMode.Overwrite)
      .partitionBy("level")
      .parquet(tmp.getPath)
    val whDir = new java.io.File(warehousePath)
    whDir.mkdirs()
    affected.foreach { l =>
      val fresh = new java.io.File(tmp, s"level=$l")
      val dst = new java.io.File(whDir, s"level=$l")
      if (fresh.exists()) swap(fresh, dst, new java.io.File(tmp, s"level=$l.old"))
    }
    deleteRec(tmp)
    // path-scoped invalidation, same rationale as [[write]]
    spark.catalog.refreshByPath(warehousePath)
  }

  /** Key-uniqueness check (the PK constraint Spark must emulate —
    * /root/reference/init_db.sql:6). Returns duplicate count, 0 = ok.
    */
  def duplicateKeys(df: DataFrame): Long =
    df.groupBy(Key).count().filter(col("count") > 1).count()

  private def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRec)
    f.delete()
  }
}
