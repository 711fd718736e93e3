package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  * Exits 1, after writing oracle_sql.json, when any query fails to dump. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional trailing args: query-name filter, comma- or
    // space-separated (local use)
    val only: Option[Set[String]] =
      if (args.length > 2)
        Some(args.drop(2).flatMap(_.split(",")).map(_.trim)
          .filter(_.nonEmpty).toSet)
      else None
    val spark = Sessions.fromEnv("graft-verify")
    new java.io.File(outDir).mkdirs()
    // dump queries 4 at a time: each writes its own directory, and the
    // Spark scheduler interleaves the independent jobs — roughly halves
    // the gate's wall-clock vs a sequential loop. Each future yields the
    // query's name when its dump failed.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    // Scalar-output invariant: the driver's DuckDB checker sorts result
    // columns with pandas, which cannot order array/map/struct cells
    // (round-6 q76 red row). Fail the dump loudly rather than hand the
    // checker a frame it will crash on.
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val dumps = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      scala.concurrent.Future {
        try {
          val df = fn(spark, sfDir)
          val nonScalar = df.schema.fields.collect {
            case f if f.dataType.isInstanceOf[ArrayType] ||
                      f.dataType.isInstanceOf[MapType] ||
                      f.dataType.isInstanceOf[StructType] =>
              s"${f.name}: ${f.dataType.simpleString}"
          }
          require(nonScalar.isEmpty,
            s"non-scalar output column(s) ${nonScalar.mkString(", ")} — " +
              "serialize (concat_ws) or explode to scalar columns")
          df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          None
        } catch { case NonFatal(e) =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name)
        }
      }
    }
    val failed = scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(dumps),
      scala.concurrent.duration.Duration.Inf).flatten.sorted
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} failed: " +
        failed.mkString(", "))
      sys.exit(1)
    }
  }
}
