package graft

import java.io.File
import java.nio.file.{Files, Path}

/** The GeoJSON corpus the wilayah specs read, resolved once per JVM:
  *
  *  1. `GRAFT_GEOJSON_DIR`, when set. It must be an existing directory;
  *     a missing one fails every spec that reads the corpus, naming the
  *     path, and never falls back.
  *  2. The reference's own corpus at `/root/reference/geojson`, when it
  *     is a directory.
  *  3. Otherwise a corpus generated into a temp directory from the
  *     structure FIXTURES.md documents (§1 property schemas, §3 golden
  *     slice):
  *
  * {{{
  * file                            level  features
  * 11_Aceh.geojson                 1      1
  * 11.01_Aceh_Selatan.geojson      2      1    the filename-rule edge
  * 11.01_kecamatan.geojson         3      18   no 11.01 kelurahan file
  * 11.73_Kota_Lhokseumawe.geojson  2      1
  * 11.73_kecamatan.geojson         3      4    3-D, constant Z = 0.0
  * 11.73_kelurahan.geojson         4      68   17 per kecamatan
  * }}}
  *
  * Every geometry is a MultiPolygon of closed rings with at least 4
  * points; every file but `11.73_kecamatan` is 2-D.
  */
object GeoJsonFixture {
  private val EnvVar = "GRAFT_GEOJSON_DIR"
  private val ReferenceCorpus = "/root/reference/geojson"

  lazy val dir: String = sys.env.get(EnvVar) match {
    case Some(d) =>
      require(new File(d).isDirectory, s"$EnvVar=$d is not an existing directory")
      d
    case None if new File(ReferenceCorpus).isDirectory => ReferenceCorpus
    case None => generate().toString
  }

  private def generate(): Path = {
    val out = Files.createTempDirectory("graft-geojson")
    out.toFile.deleteOnExit()
    def write(name: String, features: Seq[String]): Unit =
      writeCollection(out, name, features).toFile.deleteOnExit()
    val aceh = Seq("kd_propinsi" -> "11")
    val selatan = aceh :+ ("kd_dati2" -> "01")
    val lhok = aceh :+ ("kd_dati2" -> "73")

    write("11_Aceh.geojson",
      Seq(feature(aceh :+ ("nm_propinsi" -> "Aceh"), blob(96.5, 4.4, 1.2))))
    write("11.01_Aceh_Selatan.geojson",
      Seq(feature(selatan :+ ("nm_dati2" -> "Aceh Selatan"), blob(97.4, 3.2, 0.3))))
    write("11.01_kecamatan.geojson", (1 to 18).map { k =>
      feature(selatan ++ Seq("kd_kecamatan" -> f"$k%03d", "nm_kecamatan" -> f"Kecamatan $k%02d"),
        blob(97.1 + 0.1 * (k % 6), 3.0 + 0.1 * (k / 6), 0.04))
    })

    val kecamatan = Seq("Banda Sakti", "Muara Dua", "Muara Satu", "Blang Mangat")
    def kecCentre(k: Int) = (97.11 + 0.08 * ((k - 1) % 2), 5.14 + 0.08 * ((k - 1) / 2))
    write("11.73_Kota_Lhokseumawe.geojson",
      Seq(feature(lhok :+ ("nm_dati2" -> "Kota Lhokseumawe"), blob(97.15, 5.18, 0.09))))
    write("11.73_kecamatan.geojson", kecamatan.zipWithIndex.map { case (name, i) =>
      val (x, y) = kecCentre(i + 1)
      feature(lhok ++ Seq("kd_kecamatan" -> f"${i + 1}%03d", "nm_kecamatan" -> name),
        blob(x, y, 0.035, z = Some(0.0)))
    })
    write("11.73_kelurahan.geojson", for (k <- 1 to 4; d <- 1 to 17) yield {
      val (x, y) = kecCentre(k)
      feature(lhok ++ Seq("kd_kecamatan" -> f"$k%03d", "kd_kelurahan" -> f"$d%03d",
          "nm_kelurahan" -> f"Gampong $k%02d.$d%02d"),
        blob(x - 0.024 + 0.012 * (d % 5), y - 0.024 + 0.012 * (d / 5), 0.005))
    })
    out
  }

  /** A 0.1-degree square MultiPolygon, the default geometry of [[feature]]. */
  val square: String =
    """{"type":"MultiPolygon","coordinates":[[[[97.0,5.0],[97.1,5.0],[97.1,5.1],[97.0,5.1],[97.0,5.0]]]]}"""

  /** One GeoJSON Feature with string `props`, in order, and `geometry` text. */
  def feature(props: Seq[(String, String)], geometry: String = square): String =
    props.map { case (k, v) => s""""$k":"$v"""" }
      .mkString("""{"type":"Feature","properties":{""", ",", s"""},"geometry":$geometry}""")

  /** Writes `features` as one FeatureCollection file `dir/name`, one
    * feature per line, and returns its path. */
  def writeCollection(dir: Path, name: String, features: Seq[String]): Path =
    Files.writeString(dir.resolve(name),
      features.mkString("""{"type":"FeatureCollection","features":[""", ",\n", "]}"))

  /** A one-polygon MultiPolygon: a closed 13-point ring (12 distinct
    * vertices) of radius about `r` degrees around (`x`, `y`), lobed so
    * the simplifier has vertices to drop. `z` adds a third ordinate. */
  private def blob(x: Double, y: Double, r: Double, z: Option[Double] = None): String = {
    def round(v: Double) = math.rint(v * 1e6) / 1e6
    val ring = (0 to 12).map { i =>
      val a = 2 * math.Pi * (i % 12) / 12
      val ri = r * (1 + 0.15 * math.sin(3 * a))
      (Seq(round(x + ri * math.cos(a)), round(y + ri * math.sin(a))) ++ z)
        .mkString("[", ",", "]")
    }
    ring.mkString("""{"type":"MultiPolygon","coordinates":[[[""", ",", "]]]}")
  }
}
