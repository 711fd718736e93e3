package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = Sessions.build("4", "graft-test")
}

class QueriesSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = SparkTestSession.spark

  test("every declared query runs and is non-empty at sf0.001") {
    Queries.all.foreach { q =>
      val df = q.build(spark, sf)
      assert(df.columns.nonEmpty, s"${q.name}: no columns")
      assert(df.count() > 0, s"${q.name}: empty result")
    }
  }

  test("every query output schema is scalar-only") {
    // The driver's DuckDB oracle checker sorts result columns with
    // pandas, which cannot order array/map/struct cells (round-6 q76
    // red row). Any nested output must be exploded or serialized.
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    Queries.all.foreach { q =>
      val bad = q.build(spark, sf).schema.fields.collect {
        case f if f.dataType.isInstanceOf[ArrayType] ||
                  f.dataType.isInstanceOf[MapType] ||
                  f.dataType.isInstanceOf[StructType] =>
          s"${f.name}: ${f.dataType.simpleString}"
      }
      assert(bad.isEmpty,
        s"${q.name}: non-scalar output column(s) ${bad.mkString(", ")}")
    }
  }

  test("oracle keys are a subset of query names") {
    val names = Queries.all.map(_.name).toSet
    assert(SparkEntry.oracleSql.keySet.subsetOf(names))
    assert(SparkEntry.queries.keySet == names)
  }

  test("Tables.events refuses a non-UTC session and names UTC") {
    val other = spark.newSession()
    other.conf.set("spark.sql.session.timeZone", "Asia/Jakarta")
    val e = intercept[IllegalStateException](Tables.events(other, sf))
    assert(e.getMessage.contains("UTC"), e.getMessage)
    assert(e.getMessage.contains("Asia/Jakarta"), e.getMessage)
    // the check reads the session it is given; it never repoints it
    assert(other.conf.get("spark.sql.session.timeZone") == "Asia/Jakarta")
  }

  test("q02 grouped count sums to table count") {
    import org.apache.spark.sql.functions._
    val total = Tables.events(spark, sf).count()
    val grouped = Queries.byName("q02_grouped_count").build(spark, sf)
      .agg(sum("n")).head().getLong(0)
    assert(grouped == total)
  }

  test("q18 last-writer-wins yields one row per user") {
    val df = Queries.byName("q18_last_writer_wins").build(spark, sf)
    val users = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(df.count() == users)
    assert(df.select("user_id").distinct().count() == users)
  }

  test("q04 pivot counts sum to orders count") {
    val row = Queries.byName("q04_status_pivot").build(spark, sf).head()
    val total = (0 until 3).map(row.getLong).sum
    assert(total == Tables.orders(spark, sf).count())
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
