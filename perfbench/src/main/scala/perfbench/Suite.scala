package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.{QueryDef, Queries}

/** The analytics layer: a fixed slice of `Queries.all` (every 40th by
  * name, 8 queries) over the benchmark's copy of the sf0.01 tables.
  * Same discipline as `graft.Bench`: sorted-name order, and per
  * query an untimed warm-up, timed passes into the `noop` sink, then
  * `clearCache`. The warm-up writes the answer as parquet, which
  * `run.py` compares with the query's DuckDB oracle SQL. */
final class SuiteSlice(run: Run) extends Workload {
  private val tables = run.args("tables")
  val slice: Seq[QueryDef] = {
    // a fixed order: in a fresh JVM the first queries run slower while
    // the JIT catches up, so under an order that changed from run to run
    // each query's time would follow its place in it
    val sorted = Queries.all.sortBy(_.name)
    sorted.indices.filter(_ % SuiteSlice.Stride == 0).map(sorted)
  }
  private val answers = new File(run.work, "answers")

  private def noop(q: QueryDef, spark: SparkSession): Unit =
    q.build(spark, tables).write.format("noop").mode("overwrite").save()

  def warmUnit(spark: SparkSession): Unit = {
    noop(slice.head, spark)
    spark.catalog.clearCache()
  }

  def prepare(spark: SparkSession): Unit = {
    run.put("queries", slice.map(_.name))
    val oracle = slice.flatMap(q => q.oracle.map(o => q.name -> o.trim)).toMap
    answers.mkdirs()
    Files.writeString(Paths.get(answers.getPath, "oracle_sql.json"), Json(oracle))
  }

  /** Query-major: per query an untimed warm-up that keeps the answer,
    * then the same number of timed passes for every query, as many as
    * fill `seconds` at the nominal query time. */
  def loop(spark: SparkSession, seconds: Double): Unit = {
    val passes = math.max(SuiteSlice.MinPasses,
      math.round(seconds / (slice.size * SuiteSlice.NominalQueryS)).toInt)
    slice.foreach { q =>
      try q.build(spark, tables).coalesce(1).write.mode("overwrite")
        .parquet(new File(answers, q.name).getPath)
      catch { case e: Exception => run.fail(s"${q.name} warm-up: $e") }
      for (_ <- 1 to passes) {
        var error: Option[Exception] = None
        run.op("query", "query" -> q.name) {
          try {
            val df = run.span("suite.build")(q.build(spark, tables))
            run.span("suite.exec")(df.write.format("noop").mode("overwrite").save())
          } catch { case e: Exception => error = Some(e) }
        }
        error.foreach { e => run.fail(s"${q.name}: $e"); run.markLastOpFailed() }
      }
      spark.catalog.clearCache()
    }
  }
}

object SuiteSlice {
  val Stride = 40
  val MinPasses = 2
  /** About the mean warm query time of the slice on 2 cores. */
  val NominalQueryS = 0.6
}
