package graft

import java.sql.Timestamp
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.wilayah.Store

/** Property-based spec (SURVEY §5): random upsert sequences applied
  * through Store.merge must converge to exactly the last writer per
  * key, with the earliest created_at preserved — the executable form
  * of the reference's ON CONFLICT DO UPDATE contract.
  * (ScalaCheck generators driven by fixed seeds — scalatestplus is not
  * in the offline cache, so sampling is done directly.)
  */
class MergePropertySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private case class Up(kode: String, nama: String, t: Int)

  private val genBatch: Gen[List[Up]] = for {
    n <- Gen.choose(1, 12)
    ups <- Gen.listOfN(n, for {
      k <- Gen.oneOf("11.01", "11.02", "11.03", "11.73.01")
      nm <- Gen.alphaStr.map(s => "N" + s.take(6))
      t <- Gen.choose(0, 1000)
    } yield Up(k, nm, t))
  } yield ups

  private def toDF(ups: Seq[Up]) = {
    import spark.implicits._
    ups.map(u => (u.kode, u.nama, 2, "g",
        new Timestamp(u.t * 1000L), new Timestamp(u.t * 1000L)))
      .toDF("kode_wilayah_kemendagri", "nama_wilayah_kemendagri", "level",
            "geometry", "created_at", "updated_at")
  }

  private def sample(seed: Long): List[Up] =
    genBatch.apply(Gen.Parameters.default, Seed(seed)).getOrElse(Nil)

  test("code synthesis grammar: generated properties yield well-formed codes") {
    import org.apache.spark.sql.functions.col
    val genProps = for {
      prop <- Gen.listOfN(2, Gen.numChar).map(_.mkString)
      dati <- Gen.listOfN(2, Gen.numChar).map(_.mkString)
      kec <- Gen.listOfN(3, Gen.numChar).map(_.mkString)
      kel <- Gen.listOfN(3, Gen.numChar).map(_.mkString)
    } yield (prop, dati, kec, kel)
    val expectedLen = Map(1 -> 2, 2 -> 5, 3 -> 8, 4 -> 13)
    for (seed <- 1 to 10; level <- 1 to 4) {
      val (p, d, kc, kl) = genProps(Gen.Parameters.default, Seed(seed)).get
      import spark.implicits._
      val df = Seq((level, p, d, kc, kl))
        .toDF("level", "kd_propinsi", "kd_dati2", "kd_kecamatan", "kd_kelurahan")
        .selectExpr("level",
          "named_struct('kd_propinsi', kd_propinsi, 'nm_propinsi', 'N'," +
          " 'kd_dati2', kd_dati2, 'nm_dati2', 'N'," +
          " 'kd_kecamatan', kd_kecamatan, 'nm_kecamatan', 'N'," +
          " 'kd_kelurahan', kd_kelurahan, 'nm_kelurahan', 'N') AS p")
      val kode = graft.wilayah.Ingest.withKodeNama(df)
        .select(col("kode_wilayah_kemendagri")).head().getString(0)
      assert(kode.length == expectedLen(level), s"level $level: $kode")
      assert(kode.matches("[0-9.]+"))
      if (level >= 3) assert(kode.split('.')(2) == kc.takeRight(2))
      if (level == 4) assert(kode.split('.')(3) == "2" + kl)
    }
  }

  test("merge of random upsert batches is last-writer-wins per key") {
    for (s <- 1 to 15) {
      val (b1, b2) = (sample(s * 2L), sample(s * 2L + 1))
      val merged = Store.merge(Some(toDF(b1)), toDF(b2))
        .collect()
        .map(r => r.getString(0) -> (r.getString(1), r.getTimestamp(4).getTime / 1000))
        .toMap

      val all = b1.map((_, 0)) ++ b2.map((_, 1)) // batch index = precedence on ties
      val expectKeys = all.map(_._1.kode).toSet
      assert(merged.keySet == expectKeys)
      expectKeys.foreach { k =>
        val ups = all.filter(_._1.kode == k)
        val winner = ups.maxBy { case (u, prio) => (u.t, prio) }
        val oldestCreated = ups.map(_._1.t).min
        val (gotNama, gotCreated) = merged(k)
        // ties on (t, prio) can still be ambiguous between equal rows
        // within ONE batch; assert on the deterministic parts
        val tied = ups.filter { case (u, p) => u.t == winner._1.t && p == winner._2 }
        assert(tied.exists(_._1.nama == gotNama))
        assert(gotCreated == oldestCreated)
      }
    }
  }

  test("a failed warehouse swap keeps the live data and throws") {
    import java.nio.file.{Files, Path}
    def put(dir: Path, name: String, body: String): Unit = {
      Files.createDirectories(dir)
      Files.write(dir.resolve(name), body.getBytes("UTF-8"))
    }
    def contents(dir: Path): Map[String, String] =
      dir.toFile.listFiles().map(f =>
        f.getName -> new String(Files.readAllBytes(f.toPath), "UTF-8")).toMap
    val root = Files.createTempDirectory("swap")
    val dst = root.resolve("wh").resolve("level=2")
    val staging = root.resolve("wh.ptmp")
    val aside = staging.resolve("level=2.old")
    put(dst, "part-0.parquet", "old")
    Files.createDirectories(staging)

    // `fresh` is missing, so renaming it in fails after dst moved aside
    val e = intercept[java.io.IOException](
      Store.swap(staging.resolve("level=2").toFile, dst.toFile, aside.toFile))
    assert(e.getMessage.contains("warehouse swap failed"))
    assert(contents(dst) == Map("part-0.parquet" -> "old"))
    assert(!Files.exists(aside))

    put(staging.resolve("level=2"), "part-1.parquet", "new")
    Store.swap(staging.resolve("level=2").toFile, dst.toFile, aside.toFile)
    assert(contents(dst) == Map("part-1.parquet" -> "new"))
    assert(!Files.exists(aside) && !Files.exists(staging.resolve("level=2")))
  }
}
