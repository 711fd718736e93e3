package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Each repeated recipe lives once: the DuckDB renderings of engine
  * kernels in [[OracleSql]], and each query recipe several queries
  * share (session window, language-ID scorer, trade and order–part
  * graphs, banded frame near-dup tail, SCD2 projection) in the family
  * file that owns it. A second copy of a marker anywhere else in
  * `src/main` is a copy that can drift.
  */
class OracleSqlSpec extends AnyFunSuite {

  /** Marker → the one `src/main` file allowed to hold it. */
  private val owners = Seq(
    "strpos('0123456789abcdef'" -> "OracleSql.scala",
    "list_reduce(list_transform(range(1, " -> "OracleSql.scala",
    "gap > 300000000L" -> "WarehouseQueries.scala",
    "length(replace($text, '$bg', ''))" -> "PipelineQueries.scala",
    "occurrences2x(text, _)" -> "PipelineQueries.scala",
    "l_partkey + 1000000000000" -> "GraphQueries.scala",
    "o_custkey * 2 AS" -> "GraphQueries.scala",
    "FROM okc x JOIN okc y" -> "CurationQueries.scala",
    "col(\"valid_to\").as(\"valid_to_us\")" -> "WarehouseQueries.scala")

  private def mainSources: List[java.nio.file.Path] = {
    val main = Paths.get("src", "main")
    assert(Files.isDirectory(main),
      s"run from the repository root, not ${Paths.get("").toAbsolutePath}")
    Files.walk(main).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toList
  }

  private def holders(marker: String): Set[String] = mainSources
    .filter(p => new String(Files.readAllBytes(p), "UTF-8").contains(marker))
    .map(_.getFileName.toString).toSet

  private def checkOwners(keep: String => Boolean): Unit = {
    val copies = owners.collect {
      case (m, owner) if keep(owner) && holders(m) != Set(owner) =>
        s"`$m` in ${holders(m).toSeq.sorted.mkString(", ")} (owner $owner)"
    }
    assert(copies.isEmpty, copies.mkString("; "))
  }

  test("only OracleSql renders the md5-hex and vector-fold recipes") {
    checkOwners(_ == "OracleSql.scala")
  }

  test("each shared query recipe sits in exactly its owning family file") {
    checkOwners(_ != "OracleSql.scala")
  }

  test("queries are grouped by operator family, not by round") {
    val rounds = mainSources.map(_.getFileName.toString)
      .filter(_.matches("""Round\d+Queries\.scala"""))
    assert(rounds.isEmpty, s"round-batch query files: $rounds")
  }

  test("recipe loop variables cannot capture a caller's i, d or p") {
    // callers pass e.g. `w[i-2:i]` from inside their own `for i in ...`
    import OracleSql._
    val bindsCommon = """\b[idp] ->|for [idp] in""".r
    Seq(hash32("w[i-2:i]"), hash60("w[i-2:i]"), md5Digits("s", 9, 17),
        dot("a", "b"), cos("a", "b"), sqDist("a", "b", 16), rhpBucket("v"))
      .foreach(r => assert(bindsCommon.findFirstIn(r).isEmpty, r))
    assert(hash32("w[i-2:i]").contains("md5(w[i-2:i])"))
  }
}
