package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The DuckDB renderings of engine kernels live once, in
  * [[OracleSql]]; a hand-copied md5-hex fold or index-ordered vector
  * fold anywhere else in `src/main` is a second copy that can drift.
  */
class OracleSqlSpec extends AnyFunSuite {

  private val recipeMarkers = Seq(
    "strpos('0123456789abcdef'",
    "list_reduce(list_transform(range(1, ")

  test("only OracleSql renders the md5-hex and vector-fold recipes") {
    val main = Paths.get("src", "main")
    assert(Files.isDirectory(main),
      s"run from the repository root, not ${Paths.get("").toAbsolutePath}")
    val files = Files.walk(main).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toList
    def holders(marker: String): Set[String] = files
      .filter(p => new String(Files.readAllBytes(p), "UTF-8").contains(marker))
      .map(_.getFileName.toString).toSet
    recipeMarkers.foreach { m =>
      assert(holders(m) == Set("OracleSql.scala"), s"files rendering `$m`")
    }
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
