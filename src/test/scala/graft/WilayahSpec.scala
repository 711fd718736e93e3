package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.wilayah.{Api, Geo, Ingest, Store}

/** End-to-end spec for the wilayah engine on the GeoJSON corpus of
  * [[GeoJsonFixture]]: the directory `GRAFT_GEOJSON_DIR` names, else
  * the reference's own corpus where it exists, else one generated from
  * the FIXTURES.md §1/§3 structure. The 11.73 slice (Kota Lhokseumawe:
  * 1 kabupaten + 4 kecamatan + 68 kelurahan features) exercises the
  * full SURVEY §2 inventory.
  */
class WilayahSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private lazy val geojsonDir = GeoJsonFixture.dir

  private def freshApi(): Api = {
    val wh = Files.createTempDirectory("graft-wh").toString + "/warehouse"
    new Api(spark, wh, geojsonDir)
  }

  test("level inference follows the filename rules, incl. the 11.01 subtlety") {
    assert(Ingest.levelOfFileName("11_Aceh.geojson") == 1)
    assert(Ingest.levelOfFileName("11.01_Aceh_Selatan.geojson") == 2) // '.' breaks ^\d{2}_
    assert(Ingest.levelOfFileName("11.01_kecamatan.geojson") == 3)
    assert(Ingest.levelOfFileName("11.73_kelurahan.geojson") == 4)
  }

  test("discovery: sync prefix match vs passthrough exact-province match") {
    val sync11 = Ingest.discover(geojsonDir, "11").map(_.split('/').last)
    assert(sync11.contains("11_Aceh.geojson"))
    assert(sync11.contains("11.01_Aceh_Selatan.geojson")) // prefix matches children
    val exact11 = Ingest.discoverExact(geojsonDir, "11").map(_.split('/').last)
    assert(exact11 == Seq("11_Aceh.geojson")) // ^11_[^_]+\.geojson$ only
  }

  test("code synthesis matches the transformProperties grammar on real data") {
    val feats = Ingest.withKodeNama(
      Ingest.readFeatures(spark, Ingest.discover(geojsonDir, "11.73")))
    val codes = feats.select("level", "kode_wilayah_kemendagri", "nama_wilayah_kemendagri")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2)))
    assert(codes.count(_._1 == 2) == 1)
    assert(codes.count(_._1 == 3) == 4)
    assert(codes.count(_._1 == 4) == 68)
    assert(codes.exists(c => c._2 == "11.73" && c._3 == "Kota Lhokseumawe"))
    // kd_kecamatan "001" -> slice(-2) -> "01"
    assert(codes.exists(_._2 == "11.73.01"))
    // kd_kelurahan "001" -> "2" + "001" -> "2001"
    assert(codes.exists(_._2.matches("""11\.73\.\d{2}\.2\d{3}""")))
  }

  test("force2D drops Z on the mixed 2-D/3-D corpus") {
    // coordinates arrive as raw JSON text; the promotion step parses
    val feats = Ingest.readFeatures(spark,
      Seq(s"$geojsonDir/11.73_kecamatan.geojson"))
    val typed = Geo.promoteMultiParts(col("geometry.type"), col("geometry.coordinates"))
    val dims = feats.select(
      size(element_at(element_at(element_at(typed, 1), 1), 1)).as("raw"),
      size(element_at(element_at(element_at(
        Geo.force2D(typed), 1), 1), 1)).as("flat"))
      .collect()
    assert(dims.forall(_.getInt(0) == 3)) // this file is 3-D
    assert(dims.forall(_.getInt(1) == 2))
  }

  test("simplify reduces vertices, keeps rings closed and >= 4 points") {
    val coords: Geo.Coords = {
      // a dense circle: 1000 points, radius ~0.01 deg
      val n = 1000
      val ring = (0 to n).map { i =>
        val a = 2 * math.Pi * (i % n) / n
        Seq(97.0 + 0.01 * math.cos(a), 5.0 + 0.01 * math.sin(a))
      }
      Seq(Seq(ring))
    }
    val out = Geo.simplifyCoords(coords, Geo.SimplifyTolerance)
    val ring = out.head.head
    assert(ring.size < coords.head.head.size)
    assert(ring.size >= 4)
    assert(ring.head == ring.last) // closed
  }

  test("geometry round-trips: asGeoJson text re-parses to the same coordinates") {
    import org.apache.spark.sql.functions.from_json
    val feats = Ingest.readFeatures(spark, Seq(s"$geojsonDir/11.73_kecamatan.geojson"))
    val flat = feats.select(Geo.force2D(
      Geo.promoteMultiParts(col("geometry.type"), col("geometry.coordinates"))).as("c"))
    val roundTrip = flat.select(
      col("c"),
      from_json(Geo.asGeoJson(col("c")), graft.wilayah.Model.geometryType)
        .getField("coordinates").as("c2"))
    assert(roundTrip.filter(col("c") =!= col("c2")).count() == 0)
    // and the stored (simplified) text is valid GeoJSON for the read path
    val stored = feats.select(
      Geo.normalizeToGeoJson(col("geometry.type"), col("geometry.coordinates")).as("g"))
    val parsed = stored.select(
      from_json(col("g"), graft.wilayah.Model.geometryType).as("geom"))
    assert(parsed.filter(col("geom.type") =!= "MultiPolygon").count() == 0)
    assert(parsed.filter(size(col("geom.coordinates")) < 1).count() == 0)
  }

  test("a JTS-rejected ring degrades to unsimplified instead of failing the batch") {
    import spark.implicits._
    import org.apache.spark.sql.functions.size
    // open triangle (not closed, 3 points): JTS createLinearRing throws
    val bad: Geo.Coords = Seq(Seq(Seq(Seq(97.0, 5.0), Seq(97.1, 5.0), Seq(97.1, 5.1))))
    val out = Seq(Tuple1(bad)).toDF("c")
      .select(Geo.simplifyUdf(col("c")).as("s"))
      .head().getSeq[Any](0)
    assert(out.nonEmpty) // passed through, no task failure
    intercept[Exception](Geo.simplifyCoords(bad, Geo.SimplifyTolerance))
  }

  test("sync 11.73 end-to-end: counts, search, geojson, idempotence") {
    val api = freshApi()
    val processed = api.sync("11.73")
    assert(processed == 73) // 1 + 4 + 68

    assert(Store.duplicateKeys(api.warehouse) == 0)
    val st = api.status("11.73")
    assert(st == Map("provinsi" -> 0L, "kabupaten" -> 1L,
                     "kecamatan" -> 4L, "kelurahan" -> 68L))

    val hits = api.search("lhok").collect()
    assert(hits.nonEmpty && hits.length <= 10)
    assert(hits.exists(_.getString(1).toLowerCase.contains("lhok")))
    assert(api.search("ab").count() == 0) // < 3 chars -> empty

    assert(api.stats() == Map("level_2" -> 1L, "level_3" -> 4L, "level_4" -> 68L,
      "total" -> 73L, "duplicate_keys" -> 0L))

    val fc = api.geojson("11.73")
    assert(fc.keySet == Set("kabupaten", "kecamatan", "kelurahan"))
    assert(fc("kabupaten").contains("\"FeatureCollection\""))
    assert(fc("kelurahan").contains("\"MultiPolygon\""))

    // idempotence: re-sync changes updated_at but not rows/created_at
    val created1 = api.warehouse.select(min("created_at")).head().getTimestamp(0)
    Thread.sleep(1100)
    assert(api.sync("11.73") == 73)
    assert(api.warehouse.count() == 73)
    assert(Store.duplicateKeys(api.warehouse) == 0)
    val created2 = api.warehouse.select(min("created_at")).head().getTimestamp(0)
    assert(created1 == created2)
    val touched = api.warehouse
      .filter(col("updated_at") > col("created_at")).count()
    assert(touched == 73)
  }

  test("ST_Multi promotes a bare Polygon to a valid MultiPolygon") {
    import spark.implicits._
    val polyJson =
      """{"type":"Polygon","coordinates":[[[97.0,5.0],[97.1,5.0],[97.1,5.1],[97.0,5.0]]]}"""
    val multiJson =
      """{"type":"MultiPolygon","coordinates":[[[[96.0,4.0],[96.1,4.0],[96.1,4.1],[96.0,4.0]]]]}"""
    val pointJson = """{"type":"Point","coordinates":[97.0,5.0]}"""
    val out = Seq(polyJson, multiJson, pointJson).toDF("g")
      .select(Geo.asGeoJson(Geo.simplifyUdf(Geo.force2D(
        Geo.promoteMultiFromJson(col("g"))))).as("norm"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getString(0))
    // Polygon wrapped once: same ring, now 4-deep under MultiPolygon
    assert(out(0) == """{"type":"MultiPolygon","coordinates":[[[[97.0,5.0],[97.1,5.0],[97.1,5.1],[97.0,5.0]]]]}""")
    // MultiPolygon passes through
    assert(out(1) == """{"type":"MultiPolygon","coordinates":[[[[96.0,4.0],[96.1,4.0],[96.1,4.1],[96.0,4.0]]]]}""")
    // unpromotable type -> NULL coordinates (to_json omits the null
    // field), never a fabricated geometry; sync paths quarantine these
    assert(out(2) == """{"type":"MultiPolygon"}""")
  }

  test("Polygon features sync promoted to MultiPolygon; other types quarantine") {
    val dir = Files.createTempDirectory("graft-poly")
    // second feature is Polygon-typed (the reference's ST_Multi stores
    // it promoted); third is a Point (unpromotable -> quarantine)
    val json = """{"type":"FeatureCollection","features":[
      {"type":"Feature","properties":{"kd_propinsi":"11","kd_dati2":"73","kd_kecamatan":"001","kd_kelurahan":"001","nm_kelurahan":"Ok"},
       "geometry":{"type":"MultiPolygon","coordinates":[[[[97.0,5.0],[97.1,5.0],[97.1,5.1],[97.0,5.0]]]]}},
      {"type":"Feature","properties":{"kd_propinsi":"11","kd_dati2":"73","kd_kecamatan":"001","kd_kelurahan":"002","nm_kelurahan":"Flat"},
       "geometry":{"type":"Polygon","coordinates":[[[97.0,5.0],[97.1,5.0],[97.1,5.1],[97.0,5.0]]]}},
      {"type":"Feature","properties":{"kd_propinsi":"11","kd_dati2":"73","kd_kecamatan":"001","kd_kelurahan":"003","nm_kelurahan":"Dot"},
       "geometry":{"type":"Point","coordinates":[97.0,5.0]}},
      {"type":"Feature","properties":{"kd_propinsi":"11","kd_dati2":"73","kd_kecamatan":"001","kd_kelurahan":"004","nm_kelurahan":"Broken"},
       "geometry":{"type":"Polygon","coordinates":42}}]}"""
    Files.writeString(dir.resolve("11.73_kelurahan.geojson"), json)
    val path = dir.toString + "/11.73_kelurahan.geojson"
    val withCodes = Ingest.withKodeNama(Ingest.readFeatures(spark, Seq(path)))
    assert(withCodes.filter(Ingest.clean).count() == 2) // Multi + promoted Polygon
    val bad = Ingest.quarantine(withCodes).collect()
    // quarantined: the unpromotable Point AND the Polygon whose
    // coordinates text fails to parse (never stored coordinate-less)
    assert(bad.length == 2)
    assert(bad.map(_.getAs[String]("geometry_type")).toSet == Set("Point", "Polygon"))
    // end-to-end: the Polygon row lands in the warehouse as a valid
    // MultiPolygon (the reference's init_db.sql:29 ST_Multi behavior)
    val wh = Files.createTempDirectory("graft-poly-wh").toString + "/warehouse"
    val api = new Api(spark, wh, dir.toString)
    assert(api.sync("11.73") == 2)
    val stored = api.warehouse
      .filter(col("kode_wilayah_kemendagri") === "11.73.01.2002")
      .select("geometry").head().getString(0)
    assert(stored.contains("\"MultiPolygon\""))
    assert(stored.contains("[[[[")) // 4-deep: the wrap really happened
  }

  test("statusFull carries the availability and file-availability block") {
    val api = freshApi()
    // before any sync: no rows, but the corpus files exist on disk
    assert(api.statusFull("11.73") == Map(
      "provinsi" -> 0L, "kabupaten" -> 0L, "kecamatan" -> 0L, "kelurahan" -> 0L,
      "available" -> false, "fileAvailable" -> true))
    api.sync("11.73")
    assert(api.statusFull("11.73") == Map(
      "provinsi" -> 0L, "kabupaten" -> 1L, "kecamatan" -> 4L, "kelurahan" -> 68L,
      "available" -> true, "fileAvailable" -> true))
    // unknown code: neither rows nor files
    assert(api.statusFull("99") == Map(
      "provinsi" -> 0L, "kabupaten" -> 0L, "kecamatan" -> 0L, "kelurahan" -> 0L,
      "available" -> false, "fileAvailable" -> false))
  }

  test("featureCollection streams large fetches without a driver collect") {
    import spark.implicits._
    val api = freshApi()
    val n = 5000
    val rows = spark.range(n).select(
      concat(lit("id"), col("id")).as("id"),
      concat(lit("name"), col("id")).as("name"),
      lit("""{"type":"MultiPolygon","coordinates":[[[[97.0,5.0],[97.1,5.0],[97.1,5.1],[97.0,5.0]]]]}""")
        .as("geometry"))
    val fc = api.featureCollection(rows)
    assert(fc.startsWith("""{"type":"FeatureCollection","features":["""))
    assert(fc.endsWith("]}"))
    assert(fc.sliding("\"Feature\"".length).count(_ == "\"Feature\"") == n)
    // bulk export: executors write directly, no driver assembly
    val out = Files.createTempDirectory("graft-fc").toString + "/features"
    api.writeFeatureCollectionJson(rows, out)
    assert(spark.read.text(out).count() == n)
  }

  test("dirty rows quarantine instead of producing undefined-laced codes") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft-dirty")
    // a level-4 file whose second feature is missing kd_kelurahan
    val json = """{"type":"FeatureCollection","features":[
      {"type":"Feature","properties":{"kd_propinsi":"11","kd_dati2":"73","kd_kecamatan":"001","kd_kelurahan":"001","nm_kelurahan":"Ok"},
       "geometry":{"type":"MultiPolygon","coordinates":[[[[97.0,5.0],[97.1,5.0],[97.1,5.1],[97.0,5.0]]]]}},
      {"type":"Feature","properties":{"kd_propinsi":"11","kd_dati2":"73","kd_kecamatan":"001","nm_kelurahan":"Broken"},
       "geometry":{"type":"MultiPolygon","coordinates":[[[[97.0,5.0],[97.1,5.0],[97.1,5.1],[97.0,5.0]]]]}}]}"""
    Files.writeString(dir.resolve("11.73_kelurahan.geojson"), json)
    val withCodes = wilayah.Ingest.withKodeNama(
      wilayah.Ingest.readFeatures(spark, Seq(dir.toString + "/11.73_kelurahan.geojson")))
    val good = withCodes.filter(col("kode_wilayah_kemendagri").isNotNull).collect()
    val bad = wilayah.Ingest.quarantine(withCodes).collect()
    assert(good.length == 1 && good.head.getAs[String]("kode_wilayah_kemendagri") == "11.73.01.2001")
    assert(bad.length == 1 && bad.head.getAs[Int]("level") == 4)
    // no "undefined"/partial codes ever surface
    assert(!withCodes.collect().exists(r =>
      Option(r.getAs[String]("kode_wilayah_kemendagri")).exists(_.contains("undefined"))))
  }

  test("partial corpus slice (11.01: kelurahan file elided) syncs cleanly") {
    val api = freshApi()
    // snapshot ships boundary + kecamatan but no kelurahan for 11.01
    assert(api.sync("11.01") == 19) // 1 kabupaten + 18 kecamatan
    assert(api.status("11.01") == Map("provinsi" -> 0L, "kabupaten" -> 1L,
      "kecamatan" -> 18L, "kelurahan" -> 0L))
    // geojson dispatch still answers with an empty kelurahan slot
    val fc = api.geojson("11.01")
    assert(fc("kelurahan").endsWith("\"features\":[]}"))
    assert(fc("kecamatan").contains("\"MultiPolygon\""))
  }

  test("queries on an empty warehouse return empty results, not errors") {
    val api = freshApi() // never synced
    assert(api.status("11") == Map("provinsi" -> 0L, "kabupaten" -> 0L,
      "kecamatan" -> 0L, "kelurahan" -> 0L))
    assert(api.search("lhok").count() == 0)
    assert(api.byLevel(2).count() == 0)
    assert(api.geojson("11.73").values.forall(_.endsWith("\"features\":[]}")))
    assert(api.stats() == Map("total" -> 0L, "duplicate_keys" -> 0L))
    intercept[IllegalArgumentException](api.sync("99"))        // no files
    intercept[IllegalArgumentException](api.passthrough("99")) // no files
  }

  test("seed loads only the level-1 province file, idempotently") {
    val api = freshApi()
    assert(api.seed() == 1)              // 11_Aceh.geojson: 1 feature
    assert(api.warehouse.count() == 1)
    assert(api.status("11")("provinsi") == 1L)
    assert(api.seed() == 0)              // second call: already seeded
    assert(api.warehouse.count() == 1)
  }

  test("geojson dispatch plans match the code-length rules") {
    val api = freshApi()
    assert(api.geojsonPlan("11").map(_._2) == Seq(1, 2))
    assert(api.geojsonPlan("11.73").map(_._2) == Seq(2, 3, 4))
    assert(api.geojsonPlan("11.73.01") == Seq(
      ("kabupaten", 2, "11.73"), ("kecamatan", 3, "11.73.01"), ("kelurahan", 4, "11.73.01")))
    assert(api.geojsonPlan("11.73.01.2001") == Seq(
      ("kecamatan", 3, "11.73.01"), ("kelurahan", 4, "11.73.01.2001")))
  }

  test("passthrough buckets whole files by filename slot") {
    val api = freshApi()
    val rows = api.passthrough("11.73").select("file_name", "slot", "size_bytes").collect()
    assert(rows.length == 3)
    val bySlot = rows.map(r => r.getString(1) -> r.getString(0)).toMap
    assert(bySlot("kabupaten") == "11.73_Kota_Lhokseumawe.geojson")
    assert(bySlot("kecamatan") == "11.73_kecamatan.geojson")
    assert(bySlot("kelurahan") == "11.73_kelurahan.geojson")
    assert(rows.forall(_.getLong(2) > 0))
  }

  test("warehouse registers as a SQL view and answers the status query in SQL") {
    val api = freshApi()
    api.sync("11.73")
    api.registerView("wilayah")
    val counts = spark.sql("""
      SELECT level, COUNT(*) AS n FROM wilayah
      WHERE kode_wilayah_kemendagri LIKE '11.73%' GROUP BY level""")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts == Map(2 -> 1L, 3 -> 4L, 4 -> 68L))
    // the search path as SQL, incl. cosine_sim availability via extensions
    val top = spark.sql("""
      SELECT kode_wilayah_kemendagri AS id, nama_wilayah_kemendagri AS name
      FROM wilayah WHERE LOWER(nama_wilayah_kemendagri) LIKE '%lhok%'
      ORDER BY level, name LIMIT 10""").count()
    assert(top > 0)
  }

  test("partition-scoped merge rewrites only the touched level directories") {
    val api = freshApi()
    api.sync("11.73")
    val whPath = api.warehouse.inputFiles.head.split("/level=").head
      .replace("file:", "")
    def filesOf(level: Int) =
      Option(new java.io.File(whPath, s"level=$level").listFiles())
        .getOrElse(Array.empty).map(f => f.getName -> f.lastModified()).toMap
    val l2Before = filesOf(2)
    val l4Before = filesOf(4)
    Thread.sleep(1100)
    // re-sync ONLY the kelurahan file: touches level 4, must not touch level 2
    assert(api.sync("11.73_kelurahan") == 68)
    assert(filesOf(2) == l2Before, "level=2 files must be untouched")
    assert(filesOf(4) != l4Before, "level=4 files must be rewritten")
    assert(api.warehouse.count() == 73)
    assert(Store.duplicateKeys(api.warehouse) == 0)
  }

  test("merge is last-writer-wins with batch-internal dedup") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000)
    val v1 = Seq(("11.01", "Old", 2, "g1", ts(100), ts(100)),
                 ("11.02", "Keep", 2, "g2", ts(100), ts(100)))
      .toDF("kode_wilayah_kemendagri", "nama_wilayah_kemendagri", "level",
            "geometry", "created_at", "updated_at")
    val v2 = Seq(("11.01", "New", 2, "g1b", ts(200), ts(200)),
                 ("11.01", "Newest", 2, "g1c", ts(200), ts(300)),
                 ("11.03", "Add", 2, "g3", ts(200), ts(200)))
      .toDF("kode_wilayah_kemendagri", "nama_wilayah_kemendagri", "level",
            "geometry", "created_at", "updated_at")
    val m = Store.merge(Some(v1), v2).collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getTimestamp(4))).toMap
    assert(m.keySet == Set("11.01", "11.02", "11.03"))
    assert(m("11.01")._1 == "Newest")     // newest updated_at wins
    assert(m("11.01")._2 == ts(100))      // created_at preserved from v1
    assert(m("11.02")._1 == "Keep")
  }
}
