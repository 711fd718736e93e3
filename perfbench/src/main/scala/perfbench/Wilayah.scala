package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import org.apache.spark.sql.{Row => SparkRow, SparkSession}
import org.apache.spark.sql.functions._
import graft.wilayah.{Api, Geo, Ingest, Store}

/** The generated corpus and its ground truth (manifest.tsv), plus the
  * live GeoJSON directory the program reads. Kabupaten that have an
  * `alt` version can be swapped between versions. The expected
  * warehouse follows the syncs: a sync upserts, by code, the rows of
  * the files it reads and deletes nothing. */
final class Corpus(run: Run) {
  private val root = new File(run.args("corpus"))
  val dir: File = new File(run.work, "geojson")

  final case class Row(version: String, kode: String, level: Int, nama: String)
  val rows: Seq[Row] = scala.io.Source.fromFile(new File(root, "manifest.tsv"), "UTF-8")
    .getLines().map(_.split("\t", -1)).map(f => Row(f(0), f(1), f(2).toInt, f(3))).toSeq
  val kabs: Seq[String] = rows.filter(r => r.version == "live" && r.level == 2).map(_.kode).sorted
  val swappable: Seq[String] = rows.filter(r => r.version == "alt" && r.level == 2).map(_.kode).sorted
  private var version = Map.empty[String, String].withDefaultValue("live")
  private var held: Map[String, Row] = rows.filter(_.version == "live").map(r => r.kode -> r).toMap

  Fs.deleteRec(dir)
  dir.mkdirs()
  filesOf("live", "").foreach(f => Files.copy(f.toPath, new File(dir, f.getName).toPath))

  private def filesOf(v: String, kab: String): Seq[File] =
    new File(root, v).listFiles().toSeq.filter(_.getName.startsWith(kab)).sortBy(_.getName)

  val inputBytes: Long = dir.listFiles().map(_.length()).sum

  /** Rows the warehouse should hold now, by code. */
  def current: Seq[Row] = held.values.toSeq.sortBy(_.kode)

  /** Replaces one kabupaten's files with its other version. */
  def swap(kab: String): Unit = {
    val next = if (version(kab) == "live") "alt" else "live"
    dir.listFiles().filter(_.getName.startsWith(kab + "_")).foreach(_.delete())
    filesOf(next, kab + "_").foreach(f => Files.copy(f.toPath, new File(dir, f.getName).toPath,
      StandardCopyOption.REPLACE_EXISTING))
    version += kab -> next
  }

  /** Applies a sync of `kab` to the expected warehouse; returns the
    * rows its files hold. */
  def synced(kab: String): Seq[Row] = {
    val fresh = rows.filter(r => r.version == version(kab) && r.kode.startsWith(kab))
    held ++= fresh.map(r => r.kode -> r)
    fresh
  }

  /** Puts every kabupaten's files back to the generated `live` version. */
  def restoreLive(): Unit = version.collect { case (kab, "alt") => kab }.foreach(swap)

  def levelCounts(prefix: String): Map[Int, Long] =
    current.filter(_.kode.startsWith(prefix)).groupBy(_.level).map { case (l, rs) => l -> rs.size.toLong }

  def search(q: String): Seq[(String, String, Int)] = {
    val ql = q.trim.toLowerCase
    if (ql.length < 3) Seq.empty
    else current.filter(_.nama.toLowerCase.contains(ql)).sortBy(r => (r.level, r.nama))
      .take(10).map(r => (r.kode, r.nama, r.level))
  }

  /** (id, name) of the rows at `level` under `prefix`, sorted. */
  def named(level: Int, prefix: String): Seq[(String, String)] =
    current.filter(r => r.level == level && r.kode.startsWith(prefix)).map(r => (r.kode, r.nama)).sorted

  /** The reference service's code-length dispatch for `/api/db/geojson`. */
  def geojsonSlots(code: String): Map[String, Seq[(String, String)]] = (code.length match {
    case 2 => Seq("provinsi" -> named(1, code), "kabupaten" -> named(2, code))
    case 5 => Seq("kabupaten" -> named(2, code), "kecamatan" -> named(3, code),
      "kelurahan" -> named(4, code))
    case 8 => Seq("kabupaten" -> named(2, code.take(5)), "kecamatan" -> named(3, code),
      "kelurahan" -> named(4, code))
    case _ => Seq("kecamatan" -> named(3, code.take(8)), "kelurahan" -> named(4, code))
  }).toMap

  /** Warehouse health through `Api.stats`: level counts match the
    * current rows and no key is duplicated. */
  def checkStats(api: Api, when: String): Boolean = {
    val st = api.stats()
    val want = levelCounts("")
    run.check(st.getOrElse("duplicate_keys", -1L) == 0L, s"$when: duplicate keys in $st") &&
      run.check((1 to 4).forall(l => st.getOrElse(s"level_$l", 0L) == want.getOrElse(l, 0L)) &&
        st.getOrElse("total", -1L) == want.values.sum, s"$when: stats $st, want $want")
  }
}

/** Read path with writes beside it: one client in a closed loop over a
  * warm warehouse, requests drawn by seed. */
final class ApiMixed(run: Run) extends Workload {
  private val corpus = new Corpus(run)
  private val wh = new File(run.work, "wh").getPath
  private var api: Api = _
  /** Kabupaten in Zipf rank order (exponent 1.1), shuffled by seed. */
  private val zipf: (Seq[String], Array[Double]) = {
    val order = run.rng.shuffle(corpus.kabs)
    val w = order.indices.map(i => 1.0 / math.pow(i + 1, 1.1))
    val cum = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    (order, cum)
  }
  private var keystrokes = List.empty[String]

  private def hotKab(): String = {
    val u = run.rng.nextDouble()
    zipf._1(zipf._2.indexWhere(_ >= u) max 0)
  }
  private def pick[A](xs: Seq[A]): A = xs(run.rng.nextInt(xs.size))

  /** One kabupaten synced into a fresh warehouse, then searched. */
  def warmUnit(spark: SparkSession): Unit = {
    val w = new File(run.work, "wh-warm")
    Fs.deleteRec(w)
    val a = new Api(spark, w.getPath, corpus.dir.getPath)
    a.sync(corpus.kabs.head)
    a.search(corpus.current.last.nama).collect()
    Fs.deleteRec(w)
  }

  /** The initial full sync of the warehouse the loop reads. */
  def prepare(spark: SparkSession): Unit = {
    Fs.deleteRec(new File(wh))
    api = new Api(spark, wh, corpus.dir.getPath)
    val t0 = run.now()
    val n = api.sync("11")
    run.put("full_sync", Map("ms" -> (run.now() - t0) / 1e6, "features" -> n,
      "input_bytes" -> corpus.inputBytes,
      "warehouse_bytes" -> Fs.parquetFiles(new File(wh)).map(_.length()).sum))
    run.check(n == corpus.current.size, s"full sync processed $n features")
    corpus.checkStats(api, "after the initial sync")
    // the first requests of each kind run slower while the JIT and
    // Spark's code generation catch up; a share of the run as long
    // would make the timed figures follow how warm each run got
    run.warmUp(for (_ <- 1 to ApiMixed.WarmUpRounds * round.size) request())
  }

  /** One round of the request mix, 20 requests: 9 searches, 4 status
    * (the province, two kabupaten, a kecamatan), 2 by-level, 4 geojson
    * (code lengths 2, 5, 8 and 13) and 1 resync, in a seed-drawn order.
    * Every round holds the same kinds of request, so the seed draws the
    * keys and the order but not the mix. */
  private val round = Seq.fill(9)("search") ++ Seq("status:2", "status:5", "status:5", "status:8") ++
    Seq.fill(2)("by_level") ++ Seq("geojson:2", "geojson:5", "geojson:8", "geojson:13") :+ "resync"
  private var schedule = List.empty[String]
  private var rounds = 0
  private var byLevels = 0
  private var resyncs = 0
  /** Resyncs visit the kabupaten that have a second version in a
    * seed-drawn order, each once before any comes again. */
  private val resyncOrder = run.rng.shuffle(corpus.swappable)

  /** The code of a row at `level` under `kab`, or anywhere if none. */
  private def codeUnder(level: Int, kab: String): String = {
    val under = corpus.current.filter(r => r.level == level && r.kode.startsWith(kab))
    pick(if (under.nonEmpty) under else corpus.current.filter(_.level == level)).kode
  }

  /** The next request: (kind, argument). Searches come in keystroke
    * runs that extend a 3+ character prefix of a name; 15% of runs
    * match nothing. */
  private def next(): (String, String) = {
    if (schedule.isEmpty) {
      schedule = run.rng.shuffle(round).toList
      rounds += 1
    }
    val kind = schedule.head
    schedule = schedule.tail
    kind.split(":") match {
      case Array("search") =>
        if (keystrokes.isEmpty) {
          val word =
            if (run.rng.nextDouble() < 0.15) "qx" + Seq.fill(6)(('a' + run.rng.nextInt(26)).toChar).mkString
            else {
              val kab = hotKab()
              pick(corpus.current.filter(_.kode.startsWith(kab))).nama.toLowerCase
            }
          val stop = math.min(word.length, 3 + run.rng.nextInt(6))
          keystrokes = (3 to stop).map(word.take).toList
        }
        val q = keystrokes.head
        keystrokes = keystrokes.tail
        ("search", q)
      case Array(read, len) =>
        val kab = hotKab()
        val code = len match {
          case "2" => "11"
          case "5" => kab
          case "8" => codeUnder(3, kab)
          case _ => codeUnder(4, kab)
        }
        (read, code)
      case Array("by_level") =>
        // levels 2, 3 and 4 in turn
        val level = 2 + byLevels % 3
        byLevels += 1
        ("by_level", s"$level:" + (if (level == 2) "11" else hotKab()))
      case Array("resync") =>
        resyncs += 1
        ("resync", resyncOrder((resyncs - 1) % resyncOrder.size))
    }
  }

  /** One read through the API, as it returns. */
  private def call(kind: String, arg: String): Any = kind match {
    case "search" => api.search(arg).collect()
    case "status" => api.status(arg)
    case "by_level" =>
      val Array(l, parent) = arg.split(":")
      api.byLevel(l.toInt, Some(parent)).collect()
    case "geojson" => api.geojson(arg)
  }

  /** A read's answer in the form the expected one takes, and the
    * number of rows (features, non-zero counts) it holds. */
  private def normalize(kind: String, got: Any): (Any, Int) = (kind, got) match {
    case ("search", rs: Array[SparkRow @unchecked]) =>
      val v = rs.map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSeq
      (v, v.size)
    case ("status", m: Map[String @unchecked, Long @unchecked]) => (m, m.values.count(_ > 0))
    case ("by_level", rs: Array[SparkRow @unchecked]) =>
      val v = rs.map(r => (r.getString(0), r.getString(1))).toSeq.sorted
      (v, v.size)
    case ("geojson", m: Map[String @unchecked, String @unchecked]) =>
      val v = m.map { case (slot, fc) => slot -> ApiMixed.features(fc) }
      (v, v.values.map(_.size).sum)
  }

  private def expected(kind: String, arg: String): Any = kind match {
    case "search" => corpus.search(arg)
    case "status" =>
      val want = corpus.levelCounts(arg)
      Map("provinsi" -> want.getOrElse(1, 0L), "kabupaten" -> want.getOrElse(2, 0L),
        "kecamatan" -> want.getOrElse(3, 0L), "kelurahan" -> want.getOrElse(4, 0L))
    case "by_level" =>
      val Array(l, parent) = arg.split(":")
      corpus.named(l.toInt, parent)
    case "geojson" => corpus.geojsonSlots(arg)
  }

  private def checkRead(kind: String, arg: String, got: Any, when: String): Boolean = {
    val want = expected(kind, arg)
    run.check(got == want, s"${when}$kind '$arg': got ${got.toString.take(400)}, " +
      s"want ${want.toString.take(400)}")
  }

  /** Whole rounds of the mix until `seconds` of operation time. */
  def loop(spark: SparkSession, seconds: Double): Unit = {
    var busy = 0.0
    while (busy < seconds * 1000 || schedule.nonEmpty) busy += request()
  }

  /** The next request of the mix, timed as one operation and then
    * checked; returns its latency in ms. */
  private def request(): Double = {
    val (kind, arg) = next()
    val (ok, latency) = kind match {
      case "resync" =>
        corpus.swap(arg)
        val (n, ms) = run.op("resync", "arg" -> arg, "round" -> rounds)(api.sync(arg))
        run.setLastOp("rows_out", n)
        val fresh = corpus.synced(arg)
        // read-your-writes: every kind of read serves the new version
        // of the kabupaten at once
        val probes = Seq("search" -> pick(fresh).nama, "status" -> arg, "by_level" -> s"3:$arg",
          "geojson" -> arg)
        (run.check(n == fresh.size, s"resync $arg processed $n, want ${fresh.size}") &&
          probes.forall { case (k, a) =>
            checkRead(k, a, normalize(k, call(k, a))._1, s"after resync $arg: ")
          } &&
          corpus.checkStats(api, s"after resync $arg"), ms)
      case read =>
        val (raw, ms) = run.op(read, "arg" -> arg, "round" -> rounds)(call(read, arg))
        val (got, rowsOut) = normalize(read, raw)
        run.setLastOp("rows_out", rowsOut)
        (checkRead(read, arg, got, ""), ms)
    }
    if (!ok) run.markLastOpFailed()
    latency
  }

  /** Layer walk: `Store.load` on its own, the call every read makes
    * first; then the steps `Api.sync` runs, called one by one through
    * the same public functions, each in its own span. */
  override def layers(spark: SparkSession): Unit = {
    corpus.restoreLive()
    val ms = (1 to 20).map { _ =>
      val t0 = run.now()
      run.span("store.load")(Store.load(spark, wh).get.schema)
      (run.now() - t0) / 1e6
    }
    run.put("layer.store.load_ms", ms)

    val dir = corpus.dir.getPath
    val paths = run.span("ingest.discover")(Ingest.discover(dir, "11"))
    run.put("layer.ingest.input_bytes", paths.map(p => new File(p).length()).sum)
    val features = Ingest.readFeatures(spark, paths)
    val nFeatures = features.count()
    run.span("ingest.parse_exec")(features.write.format("noop").mode("overwrite").save())
    run.span("geo.normalize_exec")(
      Ingest.warehouseRows(Ingest.readFeatures(spark, paths)).write.format("noop").mode("overwrite").save())
    val quarantined = run.span("ingest.quarantine")(
      Ingest.quarantine(Ingest.withKodeNama(Ingest.readFeatures(spark, paths))).count())
    run.put("layer.ingest.features", nFeatures)
    run.put("layer.ingest.quarantined", quarantined)

    // the simplifier, called directly on the normalised input
    import spark.implicits._
    val coords = run.span("geo.collect")(Ingest.withKodeNama(Ingest.readFeatures(spark, paths))
      .filter(Ingest.clean)
      .select(Geo.force2D(Geo.promoteMultiParts(col("geometry.type"), col("geometry.coordinates"))))
      .as[Geo.Coords].collect())
    var in, out, fallbacks = 0L
    run.span("geo.simplify") {
      coords.foreach { c =>
        val n = c.map(_.map(_.size).sum).sum
        in += n
        try out += Geo.simplifyCoords(c, Geo.SimplifyTolerance).map(_.map(_.size).sum).sum
        catch { case _: Exception => fallbacks += 1; out += n }
      }
    }
    run.put("layer.geo.points_in", in)
    run.put("layer.geo.points_out", out)
    run.put("layer.geo.simplify_fallbacks", fallbacks)

    // merge + write: the full batch into a fresh warehouse, then one
    // kabupaten into the full warehouse
    val fresh = new File(run.work, "wh-layers")
    Fs.deleteRec(fresh)
    def mergeWrite(label: String, ps: Seq[String]): Unit = {
      val rows = Ingest.warehouseRows(Ingest.readFeatures(spark, ps))
      rows.persist()
      try {
        rows.count()
        val incoming = rows.select(sum(coalesce(octet_length(col("kode_wilayah_kemendagri")), lit(0)) +
          coalesce(octet_length(col("nama_wilayah_kemendagri")), lit(0)) +
          coalesce(octet_length(col("geometry")), lit(0)) + lit(20))).head().getLong(0)
        val t0 = System.currentTimeMillis()
        run.span(s"store.merge_write.$label")(Store.mergeWritePartitions(spark, rows, fresh.getPath))
        val written = Fs.parquetFiles(fresh).filter(_.lastModified() >= t0)
        run.put(s"layer.store.$label.incoming_bytes", incoming)
        run.put(s"layer.store.$label.bytes_written", written.map(_.length()).sum)
        run.put(s"layer.store.$label.files_written", written.size)
      } finally rows.unpersist()
    }
    mergeWrite("full", paths)
    mergeWrite("resync", Ingest.discover(dir, corpus.swappable.head))
    Fs.deleteRec(fresh)
  }
}

object ApiMixed {
  /** Two rounds of the request mix, two resyncs among them. */
  val WarmUpRounds = 2
  private val Properties = "\"properties\":\\{([^}]*)\\}".r
  private val Id = "\"id\":\"([^\"]*)\"".r
  private val Name = "\"name\":\"([^\"]*)\"".r

  /** (id, name) of every feature of a FeatureCollection, sorted. */
  def features(fc: String): Seq[(String, String)] =
    Properties.findAllMatchIn(fc).map { m =>
      def field(re: scala.util.matching.Regex) = re.findFirstMatchIn(m.group(1)).fold("")(_.group(1))
      (field(Id), field(Name))
    }.toSeq.sorted
}
