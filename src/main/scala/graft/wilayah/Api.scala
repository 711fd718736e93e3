package graft.wilayah

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** The five query entry points of the reference service, over the
  * Parquet warehouse (reference paths cited per method). Each returns
  * a DataFrame; JSON shaping happens at the edge (`featureCollection`).
  *
  * Every read goes through one warehouse snapshot: the loaded frame
  * ([[Store.load]]) and the [[Store.stamp]] taken just before it. A
  * read first takes the stamp again (one readdir, no Spark job) and
  * loads a new snapshot only when it differs, so file listing and
  * schema resolution are paid once per write, not once per request.
  * Every writer changes the stamp: this Api's own `sync`/`seed`, another
  * Api on the same path, the ingest stream's merge and a direct
  * [[Store.write]], so each read sees every write that finished
  * before it.
  *
  * The snapshot holds one piece of data: its [[KeyIndex]], the
  * (kode, name, level) of every row, built by one projection job the
  * first time a key-only read (`search`, `status`, `stats`, `seed`)
  * meets the snapshot. It lives and dies with the snapshot, so the
  * stamp rule above invalidates it too; nothing is persisted in Spark.
  * Its size is bounded by the region directory, at about 320 bytes a
  * row with 30-character names: about 120 KB at Aceh's 388 rows and
  * about 27 MB for the ~84k desa of the whole country. Geometry is
  * never in it: `byLevel` and `geojson` stay Spark plans over the
  * snapshot's frame.
  */
class Api(spark: SparkSession, warehousePath: String, geojsonDir: String) {

  /** One load of the warehouse and the stamp taken just before it. */
  private final class Snapshot(val stamp: Seq[Store.StampEntry], val frame: DataFrame) {
    /** The search answer's columns over the whole warehouse. */
    lazy val keyColumns: DataFrame = frame.select(
      col(Store.Key).as("id"),
      col("nama_wilayah_kemendagri").as("name"),
      col("level"))
    lazy val keys: KeyIndex = KeyIndex(keyColumns)
  }

  /** The last snapshot; guarded by `this`, since the geojson slots
    * read concurrently. */
  private var snapshot: Option[Snapshot] = None

  /** The snapshot as of this call, reloaded first if the warehouse
    * changed on disk since it was taken. */
  private def current: Snapshot = synchronized {
    // stamp before loading: a write between the two then leaves an old
    // stamp on newer files (one extra reload), never the reverse
    val now = Store.stamp(warehousePath)
    snapshot.filter(_.stamp == now).getOrElse {
      val df = Store.load(spark, warehousePath).getOrElse(
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Store.schema))
      val s = new Snapshot(now, df)
      snapshot = Some(s)
      s
    }
  }

  /** The warehouse as of this call (see [[current]]). */
  def warehouse: DataFrame = current.frame

  /** Warehouse health summary: per-level counts, duplicate-key count
    * (must be 0 — the PK invariant the merge maintains, counted as
    * [[Store.duplicateKeys]] does), and row total.
    */
  def stats(): Map[String, Long] = {
    val keys = current.keys
    keys.perLevel.map { case (l, n) => s"level_$l" -> n } ++ Map(
      "total" -> keys.size.toLong,
      "duplicate_keys" -> keys.duplicateKeys)
  }

  /** Expose the warehouse to Spark SQL (`SELECT ... FROM <name>`), so
    * the reference's SQL-shaped read paths can run verbatim as SQL —
    * e.g. `SELECT level, COUNT(*) FROM wilayah WHERE
    * kode_wilayah_kemendagri LIKE '11.73%' GROUP BY level`.
    */
  def registerView(name: String = "wilayah"): Unit =
    warehouse.createOrReplaceTempView(name)

  // ===== ETL =====

  /** `POST /api/db/sync` (/root/reference/server.js:340-378): discover
    * files for the code, ingest + transform + geo-normalize, merge into
    * the warehouse. Returns the number of features processed.
    */
  def sync(code: String): Long = {
    val paths = Ingest.discover(geojsonDir, code)
    require(paths.nonEmpty, s"No GeoJSON files found for code: $code")
    syncPaths(paths)
  }

  private def syncPaths(paths: Seq[String]): Long = {
    val rows = Ingest.warehouseRows(Ingest.readFeatures(spark, paths))
    // cache: the normalized batch feeds both the count and the merge,
    // and the simplify kernel is the expensive step — evaluate it once
    rows.persist()
    try {
      val n = rows.count()
      // partition-scoped merge: only the level partitions this batch
      // touches are merged and rewritten (batch-internal dedup
      // included — same key twice in one sync = last wins)
      Store.mergeWritePartitions(spark, rows, warehousePath)
      n
    } finally rows.unpersist()
  }

  /** Startup seed (/root/reference/server.js:103-157): if no level-1
    * row exists, load the province boundary file(s) (`^\d{2}_...`).
    * Idempotent. Returns features processed (0 if already seeded).
    */
  def seed(): Long = {
    if (current.keys.perLevel.contains(1)) 0L
    else {
      // ONLY the province boundary file(s) — the reference seeds from
      // the single level-1 file, not the whole code prefix
      // (/root/reference/server.js:133-147).
      val l1 = Ingest.discover(geojsonDir, "")
        .filter(p => Ingest.levelOfFileName(p.split('/').last) == 1)
      if (l1.isEmpty) 0L else syncPaths(l1)
    }
  }

  // ===== Queries =====

  /** `GET /api/db/status` (/root/reference/server.js:256-268): per-level
    * counts under a code prefix, fanned into the 4-slot struct
    * {provinsi, kabupaten, kecamatan, kelurahan}. Counted from the key
    * index, no Spark job; the SQL form runs through [[registerView]].
    */
  def status(code: String): Map[String, Long] = {
    val byLevel = current.keys.perLevelUnder(code)
    Map(
      "provinsi" -> byLevel.getOrElse(1, 0L),
      "kabupaten" -> byLevel.getOrElse(2, 0L),
      "kecamatan" -> byLevel.getOrElse(3, 0L),
      "kelurahan" -> byLevel.getOrElse(4, 0L))
  }

  /** The COMPLETE `/api/db/status` response shape
    * (/root/reference/server.js:247-287): the four count slots plus
    * `available` (any warehouse row under the prefix) and
    * `fileAvailable` (a matching GeoJSON file exists on disk). The
    * reference's 2-char-code regex `^CODE_[^_]+\.geojson$` is a subset
    * of its prefix+suffix fallback, so file availability reduces to the
    * prefix match for every code length.
    */
  def statusFull(code: String): Map[String, Any] = {
    val counts = status(code)
    counts ++ Map(
      "available" -> (counts.valuesIterator.sum > 0),
      "fileAvailable" -> Ingest.discover(geojsonDir, code).nonEmpty)
  }

  /** `GET /api/search?q=` (/root/reference/server.js:292-330): min
    * 3-char trimmed query, case-insensitive substring on the name,
    * ordered by (level, name), top 10; ties break by code. Answered
    * from the key index on the driver with Spark's own string
    * semantics (see [[KeyIndex.search]]), so the returned frame is a
    * local relation of the hits and collecting it runs no job.
    */
  def search(q: String): DataFrame = {
    val snap = current
    val hits =
      if (q == null || q.trim.length < 3) Seq.empty
      else snap.keys.search(q.trim.toLowerCase, 10)
    spark.createDataFrame(hits.asJava, snap.keyColumns.schema)
  }

  /** `get_wilayah_by_level(level, parent)` (/root/reference/init_db.sql:
    * 63-84): rows at a level, optionally under a parent prefix — the
    * null-tolerant optional-filter pattern of init_db.sql:79-82. The
    * `level` equality prunes warehouse partitions.
    */
  def byLevel(level: Int, parentPrefix: Option[String] = None): DataFrame =
    byLevelOf(warehouse, level, parentPrefix)

  private def byLevelOf(wh: DataFrame, level: Int, parentPrefix: Option[String]): DataFrame =
    wh.filter(col("level") === level)
      .filter(lit(parentPrefix.orNull).isNull ||
        col(Store.Key).startsWith(parentPrefix.getOrElse("")))
      .select(
        col(Store.Key).as("id"),
        col("nama_wilayah_kemendagri").as("name"),
        col("geometry"))

  /** `GET /api/db/geojson?code=` (/root/reference/server.js:387-478):
    * code-length dispatch to 2-4 per-level fetches, each slotted into
    * the 4-level response. Length rules: 2 -> own province + its kabs;
    * 5 -> kab + its kecs + kels; 8 -> parent kab (prefix 5) + kecs +
    * kels; >=13 -> parent kec (prefix 8) + kels.
    */
  def geojsonPlan(code: String): Seq[(String, Int, String)] = code.length match {
    case 2 => Seq(("provinsi", 1, code), ("kabupaten", 2, code))
    case 5 => Seq(("kabupaten", 2, code), ("kecamatan", 3, code), ("kelurahan", 4, code))
    case 8 => Seq(("kabupaten", 2, code.substring(0, 5)),
                  ("kecamatan", 3, code), ("kelurahan", 4, code))
    case n if n >= 13 => Seq(("kecamatan", 3, code.substring(0, 8)),
                             ("kelurahan", 4, code))
    case _ => Seq.empty
  }

  /** The 2-4 per-level fetches are independent — run them as
    * concurrent Spark jobs (the reference awaits them sequentially,
    * /root/reference/server.js:429-476).
    * All slots read one snapshot, so a write landing mid-request cannot
    * mix versions in a response.
    */
  def geojson(code: String): Map[String, String] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val wh = warehouse
    val futures = geojsonPlan(code).map { case (slot, level, prefix) =>
      Future(slot -> featureCollection(byLevelOf(wh, level, Some(prefix))))
    }
    Await.result(Future.sequence(futures), Duration.Inf).toMap
  }

  /** Per-row Feature JSON — the distributed part of the
    * FeatureCollection assembly. The stored geometry text is spliced
    * in as it is: [[Geo.asGeoJson]] wrote it with the serializer a
    * parse-and-print would use, so re-parsing it would give the same
    * bytes (the mirror of the reference's string re-parse at
    * server.js:491-497). A null geometry leaves the key out, as
    * `to_json` does for a null field.
    */
  private def featureJson(rows: DataFrame): DataFrame =
    rows.select(
      concat(
        lit("""{"type":"Feature","properties":"""),
        to_json(struct(col("name"), col("id"))),
        coalesce(concat(lit(""","geometry":"""), col("geometry")), lit("")),
        lit("}"))
        .as("feature"))

  /** FeatureCollection assembly (/root/reference/server.js:486-506):
    * rows -> {type, features:[{type, properties:{name,id}, geometry}]}.
    * Features stream to the driver partition-by-partition
    * (toLocalIterator), so a large fetch never materializes all rows in
    * driver memory at once — only the response string itself (inherent
    * to returning one JSON body; bulk exports should use
    * [[writeFeatureCollectionJson]] instead, which never touches the
    * driver).
    */
  def featureCollection(rows: DataFrame): String = {
    val sb = new java.lang.StringBuilder("""{"type":"FeatureCollection","features":[""")
    val it = featureJson(rows).toLocalIterator()
    var first = true
    while (it.hasNext) {
      if (!first) sb.append(',')
      sb.append(it.next().getString(0))
      first = false
    }
    sb.append("]}").toString
  }

  /** Bulk export path: each Feature as one JSON line, written directly
    * by the executors (no driver assembly at all) — the shape a 100×
    * fetch should take.
    */
  def writeFeatureCollectionJson(rows: DataFrame, path: String): Unit =
    featureJson(rows).write.mode("overwrite").text(path)

  /** `GET /api/geojson` raw passthrough (/root/reference/server.js:
    * 509-565): matched files returned whole, bucketed into level slots
    * by filename, with sizes.
    */
  def passthrough(code: String): DataFrame = {
    val paths = Ingest.discoverExact(geojsonDir, code)
    require(paths.nonEmpty, s"No GeoJSON files found for code: $code")
    val slot = Map(1 -> "provinsi", 2 -> "kabupaten", 3 -> "kecamatan", 4 -> "kelurahan")
    spark.read.option("wholetext", true).text(paths: _*)
      .select(
        element_at(split(input_file_name(), "/"), -1).as("file_name"),
        col("value").as("content"))
      .withColumn("slot", Ingest.levelOfFileName(col("file_name"))
        .cast("int"))
      .withColumn("slot", element_at(
        map(slot.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*),
        col("slot")))
      .withColumn("size_bytes", length(col("content")).cast("long"))
  }
}

/** The key columns of one warehouse snapshot, on the driver: every
  * row's code, name and level, plus the name as Spark's `lower` gives
  * it, computed in the same projection job. Held in two orders, by code
  * for prefix counts and by (level, name, code) for search. Strings
  * stay Spark's `UTF8String`, so matching and ordering are the
  * byte-wise `contains` and `compareTo` that Spark's `contains` and
  * `ORDER BY` run.
  */
private[wilayah] final class KeyIndex private (entries: Array[KeyIndex.Entry]) {
  import KeyIndex._

  private val byKode = entries.sortBy(_.kode)(nullsFirst)
  private val byRank = entries.sorted(
    Ordering.by[Entry, Int](_.level).orElseBy(_.name)(nullsFirst).orElseBy(_.kode)(nullsFirst))

  def size: Int = entries.length

  /** Rows per level over the whole warehouse. */
  lazy val perLevel: Map[Int, Long] = countByLevel(entries.iterator)

  /** Rows per level whose code starts with `prefix`: in code order they
    * are one run, starting at the first code not below the prefix. */
  def perLevelUnder(prefix: String): Map[Int, Long] =
    if (prefix == null) Map.empty
    else {
      val p = UTF8String.fromString(prefix)
      var lo = 0
      var hi = byKode.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (nullsFirst.lt(byKode(mid).kode, p)) lo = mid + 1 else hi = mid
      }
      countByLevel(Iterator.range(lo, byKode.length).map(byKode).takeWhile(_.kode.startsWith(p)))
    }

  /** Keys seen more than once (a null key counts as one key, as in a
    * `GROUP BY`): the definition of [[Store.duplicateKeys]]. */
  def duplicateKeys: Long = {
    var dups = 0L
    var i = 0
    while (i < byKode.length) {
      var j = i + 1
      while (j < byKode.length && byKode(j).kode == byKode(i).kode) j += 1
      if (j - i > 1) dups += 1
      i = j
    }
    dups
  }

  /** The first `k` rows in (level, name, code) order whose lowered name
    * contains `needle`, as (id, name, level) rows. */
  def search(needle: String, k: Int): Seq[Row] = {
    val n = UTF8String.fromString(needle)
    byRank.iterator.filter(e => e.lower != null && e.lower.contains(n)).take(k)
      .map(e => Row(str(e.kode), str(e.name), e.level)).toSeq
  }
}

private[wilayah] object KeyIndex {
  final case class Entry(kode: UTF8String, name: UTF8String, lower: UTF8String, level: Int)

  /** `ORDER BY … ASC` on strings: byte order, nulls first. */
  val nullsFirst: Ordering[UTF8String] = (a, b) =>
    if (a eq b) 0 else if (a == null) -1 else if (b == null) 1 else a.compareTo(b)

  /** One job: the (id, name, level) rows of `keyColumns` with the
    * lowered name beside them. */
  def apply(keyColumns: DataFrame): KeyIndex =
    new KeyIndex(keyColumns.select(col("id"), col("name"), col("level"), lower(col("name")))
      .collect().map { r =>
        def utf8(i: Int) = if (r.isNullAt(i)) null else UTF8String.fromString(r.getString(i))
        Entry(utf8(0), utf8(1), utf8(3), r.getInt(2))
      })

  private def countByLevel(es: Iterator[Entry]): Map[Int, Long] =
    es.toSeq.groupMapReduce(_.level)(_ => 1L)(_ + _)

  private def str(u: UTF8String): String = if (u == null) null else u.toString
}
