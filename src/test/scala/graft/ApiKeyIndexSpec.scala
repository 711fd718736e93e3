package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.GeoJsonFixture.{feature, square, writeCollection}
import graft.wilayah.{Api, Model, Store}

/** The Api's key index: `search`, `status` and `stats` answer from the
  * snapshot's driver-side (code, name, level) rows exactly as the Spark
  * plans they replace, and a warm search or status starts no job. Also
  * the geojson Feature text, which splices the stored geometry instead
  * of re-parsing it. Self-contained: the GeoJSON corpus is written to a
  * temp directory.
  */
class ApiKeyIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val p73 = Seq("kd_propinsi" -> "11", "kd_dati2" -> "73")

  private def kec(k: Int, name: String) =
    feature(p73 ++ Seq("kd_kecamatan" -> f"$k%03d", "nm_kecamatan" -> name))

  private def desa(k: Int, d: Int, name: Option[String], geometry: String = square) =
    feature(p73 ++ Seq("kd_kecamatan" -> f"$k%03d", "kd_kelurahan" -> f"$d%03d") ++
      name.map("nm_kelurahan" -> _), geometry)

  /** Aceh, two kabupaten and under Lhokseumawe: mixed-case and
    * non-ASCII names, two kecamatan and two desa that tie on
    * (level, name), a desa with no name, and eleven desa a "desa"
    * search matches, so its top 10 cuts through the tie. */
  private def corpus(): (Path, String) = {
    val dir = Files.createTempDirectory("graft-keys-geojson")
    writeCollection(dir, "11_Aceh.geojson", Seq(feature(Seq("kd_propinsi" -> "11", "nm_propinsi" -> "Aceh"))))
    writeCollection(dir, "11.73_Kota_Lhokseumawe.geojson", Seq(feature(p73 :+ ("nm_dati2" -> "Kota LHOKSEUMAWE"))))
    writeCollection(dir, "11.74_Pidie.geojson",
      Seq(feature(Seq("kd_propinsi" -> "11", "kd_dati2" -> "74", "nm_dati2" -> "Blang Pidië"))))
    writeCollection(dir, "11.73_kecamatan.geojson", Seq(kec(1, "Banda Sakti"), kec(2, "Muara Dua"),
      kec(3, "Muara Dua"), kec(4, "İskandar Muda"), kec(5, "ÑAGAN Raya")))
    writeCollection(dir, "11.73_kelurahan.geojson",
      (1 to 9).map(d => desa(1, d, Some(s"Desa 0$d"))) ++ Seq(
        desa(2, 11, Some("Desa Kembar")), desa(3, 12, Some("Desa Kembar")),
        desa(3, 13, None), desa(4, 14, Some("GAMPONG PIDIË Baru")), desa(5, 15, Some("gampong ñagan"))))
    (dir, Files.createTempDirectory("graft-keys-wh").toString + "/warehouse")
  }

  // ----- the Spark plans the index replaces, restated as the oracle -----

  /** The search plan, with the code as the tie-break it lacked. */
  private def oracleSearch(wh: DataFrame, q: String): DataFrame = {
    val rows = wh.select(
      col(Store.Key).as("id"), col("nama_wilayah_kemendagri").as("name"), col("level"))
    if (q == null || q.trim.length < 3) rows.limit(0)
    else rows.filter(lower(col("name")).contains(q.trim.toLowerCase))
      .orderBy(col("level").asc, col("name").asc, col("id").asc)
      .limit(10)
  }

  private def oracleStatus(wh: DataFrame, code: String): Map[String, Long] = {
    val byLevel = wh.filter(col(Store.Key).startsWith(code))
      .groupBy("level").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    Seq("provinsi", "kabupaten", "kecamatan", "kelurahan").zipWithIndex
      .map { case (slot, i) => slot -> byLevel.getOrElse(i + 1, 0L) }.toMap
  }

  private def oracleStats(wh: DataFrame): Map[String, Long] =
    wh.groupBy("level").count().collect().map(r => s"level_${r.getInt(0)}" -> r.getLong(1)).toMap ++
      Map("total" -> wh.count(), "duplicate_keys" -> Store.duplicateKeys(wh))

  /** The Feature text as rendered by parsing the stored geometry and
    * printing it again. */
  private def oracleFeatures(rows: DataFrame): String =
    rows.select(to_json(struct(
      lit("Feature").as("type"),
      struct(col("name"), col("id")).as("properties"),
      from_json(col("geometry"), Model.geometryType).as("geometry"))))
      .collect().map(_.getString(0))
      .mkString("""{"type":"FeatureCollection","features":[""", ",", "]}")

  private val queries = Seq(null, "", "   ", "de", "  de  ", "desa", "  DESA  ", "Desa Kembar",
    "kembar", "muara dua", "pidië", "PIDIË", "idi", "iskandar", "İskandar", "ñagan", "NAGAN",
    "gampong", "qxzzz")
  private val prefixes = Seq("", "1", "11", "11.7", "11.73", "11.73.01", "11.73.03", "11.74",
    "11.73.03.2012", "99.99")

  private def assertSameAnswers(api: Api): Unit = {
    val wh = api.warehouse
    queries.foreach { q =>
      val want = oracleSearch(wh, q)
      val got = api.search(q)
      assert(got.schema == want.schema, s"search '$q' schema")
      assert(got.collect().toSeq == want.collect().toSeq, s"search '$q'")
    }
    prefixes.foreach(p => assert(api.status(p) == oracleStatus(wh, p), s"status '$p'"))
    assert(api.stats() == oracleStats(wh))
  }

  test("search, status and stats answer as the Spark plans they replace") {
    val (dir, wh) = corpus()
    val api = new Api(spark, wh, dir.toString)
    assertSameAnswers(api) // an absent warehouse
    assert(api.sync("11") == 22)
    assertSameAnswers(api)
    // the tie on (level, name) straddles the top-10 cut, so the code
    // decides which of the two comes back
    assert(api.search("desa").collect().map(_.getString(0)).last == "11.73.02.2011")
    assert(api.search("muara").collect().map(_.getString(0)).toSeq == Seq("11.73.02", "11.73.03"))
    assert(api.search("pidië").count() == 2)
    // a rewrite with a duplicated level: the index is rebuilt, and its
    // duplicate count is the one Store.duplicateKeys gives
    Store.write(api.warehouse.unionByName(api.warehouse.filter(col("level") === 3)), wh)
    assertSameAnswers(api)
    assert(api.stats()("duplicate_keys") == 5L)
  }

  test("a warm search or status starts no Spark job") {
    val (dir, wh) = corpus()
    val api = new Api(spark, wh, dir.toString)
    api.sync("11")
    val profile = graft.obs.Profile.attach(spark)
    try {
      /** Jobs `body` starts. */
      def jobsOf(body: => Unit): Int = {
        profile("keys")(body)
        profile.take("keys").jobs
      }
      // the first key read of a snapshot builds the index in one job
      assert(jobsOf(api.status("11")) == 1)
      assert(jobsOf {
        api.search("desa").collect()
        api.search("de").collect()
        api.search("qxzzz").collect()
        api.status("11.73")
        api.status("99")
        api.stats()
      } == 0)
      assert(jobsOf(api.search("kembar").collect()) == 0)
    } finally profile.close()
  }

  test("geojson slots are byte-identical to re-parsing the stored geometry") {
    val dir = Files.createTempDirectory("graft-keys-geo")
    val poly = """{"type":"Polygon","coordinates":[[[97.0,5.0],[97.2,5.0],[97.2,5.2],[97.0,5.0]]]}"""
    val threeD = """{"type":"MultiPolygon","coordinates":[[[[96.5,4.5,0.0],[96.6,4.5,0.0],""" +
      """[96.6,4.6,777.0],[96.5,4.5,0.0]]]]}"""
    // open three-point ring: the simplifier rejects it and the row is
    // stored unsimplified
    val open = """{"type":"MultiPolygon","coordinates":[[[[95.0,3.0],[95.1,3.0],[95.1,3.1]]]]}"""
    // a fine circle the simplifier thins, with long decimal coordinates
    val circle = (0 to 60).map { i =>
      val a = 2 * math.Pi * (i % 60) / 60
      s"[${97.5 + 0.0123 * math.cos(a)},${5.5 + 0.0123 * math.sin(a)}]"
    }.mkString("""{"type":"MultiPolygon","coordinates":[[[""", ",", "]]]}")
    writeCollection(dir, "11.73_Kota_Lhokseumawe.geojson", Seq(feature(p73 :+ ("nm_dati2" -> "Lhokseumawe"), poly)))
    writeCollection(dir, "11.73_kecamatan.geojson", Seq(
      feature(p73 ++ Seq("kd_kecamatan" -> "001", "nm_kecamatan" -> "Banda Sakti"), threeD),
      feature(p73 ++ Seq("kd_kecamatan" -> "002", "nm_kecamatan" -> """Blang \"Mangat\""""), circle)))
    writeCollection(dir, "11.73_kelurahan.geojson", Seq(
      desa(1, 1, Some("Hagu Barat Laut"), open), desa(1, 2, None, poly), desa(2, 3, Some("Ujong Blang"), circle)))
    val wh = Files.createTempDirectory("graft-keys-geo-wh").toString + "/warehouse"
    val api = new Api(spark, wh, dir.toString)
    assert(api.sync("11.73") == 6)
    val stored = api.warehouse.select("geometry").collect().map(_.getString(0))
    assert(stored.forall(_.startsWith("""{"type":"MultiPolygon","coordinates":[[[[""")))
    assert(!stored.exists(_.contains("777")))
    for (code <- Seq("11", "11.73", "11.73.01", "11.73.02", "11.73.01.2001", "11.73.02.2003");
         (slot, level, prefix) <- api.geojsonPlan(code))
      assert(api.geojson(code)(slot) == oracleFeatures(api.byLevel(level, Some(prefix))),
        s"geojson '$code' slot $slot")

    // a null geometry or name leaves its key out
    val rows = spark.createDataFrame(java.util.List.of(
      Row("11.73.01.2001", "Hagu", null), Row("11.73.01.2002", null, square), Row(null, null, null)),
      api.byLevel(4).schema)
    val fc = api.featureCollection(rows)
    assert(fc == oracleFeatures(rows))
    assert(fc.contains("""{"type":"Feature","properties":{"name":"Hagu","id":"11.73.01.2001"}}"""))
  }
}
