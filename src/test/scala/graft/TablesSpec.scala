package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{BinaryType, StringType}
import org.scalatest.funsuite.AnyFunSuite
import graft.obs.Profile

/** [[Tables]]: a repeated read of an unchanged table runs no Spark job,
  * a changed file or a changed inference conf is inferred again, and
  * the split count `spread` takes from the file index is the one the
  * scan reads. Reads the sf0.01 tables; the other tables are written
  * to temp directories.
  */
class TablesSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.01"
  private lazy val spark = SparkTestSession.spark

  /** One Parquet file at `dir/name.parquet`, written from `df`. */
  private def writeFile(df: DataFrame, dir: Path, name: String): Unit = {
    val out = Files.createTempDirectory("graft-tables-out").resolve("t")
    df.coalesce(1).write.parquet(out.toString)
    val part = Files.list(out).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.move(part, dir.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
  }

  test("a second load + spread of every table runs no job") {
    Tables.names.foreach(n => Tables.spread(Tables.load(spark, sf, n)))
    Tables.events(spark, sf)
    val profile = Profile.attach(spark)
    try {
      profile("reload") {
        Tables.names.foreach(n => Tables.spread(Tables.load(spark, sf, n)))
        Tables.events(spark, sf)
      }
      val s = profile.take("reload")
      assert(s.jobs == 0, s"second reads ran jobs: ${s.actions}")
    } finally profile.close()
  }

  test("a table file rewritten with another schema is inferred again") {
    val dir = Files.createTempDirectory("graft-tables")
    writeFile(spark.range(0, 10).selectExpr("id AS a"), dir, "t")
    assert(Tables.load(spark, dir.toString, "t").columns.toSeq == Seq("a"))
    writeFile(spark.range(0, 10).selectExpr("id AS a", "id * 2 AS b"), dir, "t")
    val again = Tables.load(spark, dir.toString, "t")
    assert(again.columns.toSeq == Seq("a", "b"))
    assert(again.where("b = 18").count() == 1)
  }

  test("the binaryAsString conf is part of the inferred schema's key") {
    // written by plain parquet-mr: a Spark-written footer carries its
    // own schema, which inference takes over the conf
    val dir = Files.createTempDirectory("graft-tables")
    val schema = MessageTypeParser.parseMessageType("message m { required binary v; }")
    val w = ExampleParquetWriter.builder(new HPath(dir.resolve("b.parquet").toString))
      .withType(schema).build()
    try Seq("x", "y").foreach(v => w.write(new SimpleGroupFactory(schema).newGroup().append("v", v)))
    finally w.close()
    val child = spark.newSession()
    child.conf.set("spark.sql.parquet.binaryAsString", "false")
    assert(Tables.load(child, dir.toString, "b").schema("v").dataType == BinaryType)
    child.conf.set("spark.sql.parquet.binaryAsString", "true")
    assert(Tables.load(child, dir.toString, "b").schema("v").dataType == StringType)
    child.conf.set("spark.sql.parquet.binaryAsString", "false")
    assert(Tables.load(child, dir.toString, "b").schema("v").dataType == BinaryType)
  }

  test("the split count from the file index equals the scan's partitions") {
    def same(df: DataFrame, what: String): Int = {
      val n = Tables.splits(df)
      assert(n == df.rdd.getNumPartitions, what)
      n
    }
    Tables.names.foreach { n =>
      val df = Tables.load(spark, sf, n)
      same(df, n)
      same(df.filter("true").select(df.columns.head).as("x"), s"$n under Filter/Project/alias")
    }
    // one file cut into several splits
    val child = spark.newSession()
    child.conf.set("spark.sql.files.maxPartitionBytes", "65536")
    child.conf.set("spark.sql.files.openCostInBytes", "4096")
    assert(same(Tables.load(child, sf, "lineitem"), "lineitem at 64 KB splits") > 1)
    // a directory table of several files
    val dir = Files.createTempDirectory("graft-tables")
    spark.range(0, 50000, 1, 7).selectExpr("id", "id % 13 AS k")
      .write.parquet(dir.resolve("multi.parquet").toString)
    assert(same(Tables.load(spark, dir.toString, "multi"), "7-file directory") > 1)
    assert(same(Tables.load(child, dir.toString, "multi"), "7-file directory, 64 KB splits") > 1)
    intercept[IllegalArgumentException](
      Tables.splits(Tables.load(spark, sf, "nation").groupBy("n_regionkey").count()))
  }
}
