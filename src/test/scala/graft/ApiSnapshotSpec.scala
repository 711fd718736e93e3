package graft

import java.io.File
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.GeoJsonFixture.{feature, writeCollection}
import graft.wilayah.{Api, Ingest, Store}

/** The Api's warehouse snapshot: reads reuse one loaded frame until the
  * warehouse changes on disk, and every writer (the Api's own sync,
  * the ingest stream's merge, a direct [[Store.write]], a second Api)
  * is seen by the next read. Self-contained: the GeoJSON corpus is a
  * few generated features in a temp directory.
  */
class ApiSnapshotSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Kota Lhokseumawe (11.73) in version `v`: the kabupaten, `kecs`
    * kecamatan and two kelurahan under each, every name tagged `v`. */
  private def writeCorpus(dir: Path, v: String, kecs: Int): Unit = {
    val p = Seq("kd_propinsi" -> "11", "kd_dati2" -> "73")
    writeCollection(dir, "11_Aceh.geojson", Seq(feature(Seq("kd_propinsi" -> "11", "nm_propinsi" -> "Aceh"))))
    writeCollection(dir, "11.73_Kota_Lhokseumawe.geojson",
      Seq(feature(p :+ ("nm_dati2" -> s"Lhokseumawe $v"))))
    writeCollection(dir, "11.73_kecamatan.geojson", (1 to kecs).map(k =>
      feature(p ++ Seq("kd_kecamatan" -> f"$k%03d", "nm_kecamatan" -> s"Kec $k $v"))))
    writeCollection(dir, "11.73_kelurahan.geojson", for (k <- 1 to kecs; d <- 1 to 2) yield
      feature(p ++ Seq("kd_kecamatan" -> f"$k%03d", "kd_kelurahan" -> f"${k * 10 + d}%03d",
        "nm_kelurahan" -> s"Desa $k.$d $v")))
  }

  private def fixture(): (Path, String) = {
    val dir = Files.createTempDirectory("graft-snap-geojson")
    writeCorpus(dir, "rev1", kecs = 2)
    (dir, Files.createTempDirectory("graft-snap-wh").toString + "/warehouse")
  }

  private def counts(p: Long, k: Long, c: Long, d: Long) =
    Map("provinsi" -> p, "kabupaten" -> k, "kecamatan" -> c, "kelurahan" -> d)

  private def names(df: DataFrame): Set[String] =
    df.select("name").collect().map(_.getString(0)).toSet

  /** Rows of the 11.73 files as the sync would merge them. */
  private def rowsOf(dir: Path): DataFrame =
    Ingest.warehouseRows(Ingest.readFeatures(spark, Ingest.discover(dir.toString, "11.73")))

  private def emptyRows: DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Store.schema)

  test("reads with no write between them share one snapshot") {
    val (dir, wh) = fixture()
    val api = new Api(spark, wh, dir.toString)
    api.sync("11.73")
    val first = api.warehouse
    assert(api.search("desa").count() == 4)
    assert(api.status("11.73") == counts(0, 1, 2, 4))
    api.geojson("11.73")
    assert(api.warehouse eq first)
    // an empty sync writes nothing, so the snapshot stays
    Store.mergeWritePartitions(spark, emptyRows, wh)
    assert(api.warehouse eq first)
    api.sync("11.73")
    assert(api.warehouse ne first)
  }

  test("after sync every read serves the new rows") {
    val (dir, wh) = fixture()
    val api = new Api(spark, wh, dir.toString)
    assert(api.sync("11.73") == 7)
    assert(names(api.byLevel(3, Some("11.73"))) == Set("Kec 1 rev1", "Kec 2 rev1"))
    writeCorpus(dir, "rev2", kecs = 3)
    assert(api.sync("11.73") == 10)
    assert(api.status("11.73") == counts(0, 1, 3, 6))
    assert(api.search("rev2").collect().map(_.getString(1)).toSeq ==
      Seq("Lhokseumawe rev2", "Kec 1 rev2", "Kec 2 rev2", "Kec 3 rev2") ++
        Seq("1.1", "1.2", "2.1", "2.2", "3.1", "3.2").map(d => s"Desa $d rev2"))
    assert(api.search("rev1").count() == 0)
    assert(names(api.byLevel(3, Some("11.73"))) == Set("Kec 1 rev2", "Kec 2 rev2", "Kec 3 rev2"))
    val slots = api.geojson("11.73")
    assert(slots.keySet == Set("kabupaten", "kecamatan", "kelurahan"))
    assert(slots("kabupaten").contains("Lhokseumawe rev2"))
    assert(slots("kecamatan").contains("Kec 3 rev2") && !slots("kecamatan").contains("rev1"))
    assert(slots("kelurahan").contains("Desa 3.2 rev2") && !slots("kelurahan").contains("rev1"))
    assert(api.seed() == 1)
    assert(api.status("11") == counts(1, 1, 3, 6))
    assert(api.geojson("11")("provinsi").contains("\"Aceh\""))
    assert(api.stats() == Map("level_1" -> 1L, "level_2" -> 1L, "level_3" -> 3L,
      "level_4" -> 6L, "total" -> 11L, "duplicate_keys" -> 0L))
  }

  test("writes by the stream's merge, Store.write and a second Api are seen") {
    val (dir, wh) = fixture()
    val api = new Api(spark, wh, dir.toString)
    api.sync("11.73")
    assert(api.status("11.73") == counts(0, 1, 2, 4))

    // the ingest stream's path: a partition-scoped merge
    writeCorpus(dir, "rev2", kecs = 3)
    Store.mergeWritePartitions(spark, rowsOf(dir), wh)
    assert(api.status("11.73") == counts(0, 1, 3, 6))
    assert(names(api.search("kec 3")) == Set("Kec 3 rev2"))

    // a whole-warehouse rewrite replaces the root
    Store.write(Store.load(spark, wh).get.filter(col("level") =!= 4), wh)
    assert(api.status("11.73") == counts(0, 1, 3, 0))
    assert(api.geojson("11.73")("kelurahan").endsWith("\"features\":[]}"))

    // another Api on the same warehouse
    writeCorpus(dir, "rev3", kecs = 1)
    val other = new Api(spark, wh, dir.toString)
    assert(other.sync("11.73_kelurahan") == 2)
    assert(api.status("11.73") == counts(0, 1, 3, 2))
    assert(names(api.byLevel(4, Some("11.73"))) == Set("Desa 1.1 rev3", "Desa 1.2 rev3"))
  }

  test("a first sync whose features are all quarantined leaves reads working") {
    val dir = Files.createTempDirectory("graft-snap-dirty")
    // no kd_kelurahan: no key can be derived, so every feature is dropped
    writeCollection(dir, "11.73_kelurahan.geojson", (1 to 3).map(d =>
      feature(Seq("kd_propinsi" -> "11", "kd_dati2" -> "73", "kd_kecamatan" -> "001",
        "nm_kelurahan" -> s"Desa $d"))))
    val wh = Files.createTempDirectory("graft-snap-wh").toString + "/warehouse"
    val api = new Api(spark, wh, dir.toString)
    assert(api.sync("11.73") == 0)
    assert(api.status("11.73") == counts(0, 0, 0, 0))
    assert(api.search("desa").count() == 0)
    assert(api.byLevel(4).count() == 0)
    assert(api.stats() == Map("total" -> 0L, "duplicate_keys" -> 0L))
  }

  test("an empty batch leaves the warehouse untouched and an empty one loads") {
    val root = Files.createTempDirectory("graft-snap-empty").toString
    val absent = root + "/absent"
    Store.mergeWritePartitions(spark, emptyRows, absent)
    assert(!new File(absent).exists())
    assert(Store.load(spark, absent).isEmpty)

    // a warehouse root with no level in it loads as an empty frame of
    // the declared schema instead of failing schema inference
    val bare = root + "/bare"
    assert(new File(bare).mkdirs())
    val loaded = Store.load(spark, bare).get
    assert(loaded.count() == 0)
    assert(loaded.schema.fieldNames.sorted.sameElements(Store.schema.fieldNames.sorted))

    // an empty batch into a live warehouse rewrites nothing
    val (dir, wh) = fixture()
    Store.mergeWritePartitions(spark, rowsOf(dir), wh)
    val before = Store.stamp(wh)
    Store.mergeWritePartitions(spark, emptyRows, wh)
    assert(Store.stamp(wh) == before)
    assert(Store.load(spark, wh).get.count() == 7)
  }
}
