package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex
import org.scalatest.funsuite.AnyFunSuite

/** Each repeated recipe lives once: the DuckDB renderings of engine
  * kernels in [[OracleSql]], each query recipe several queries share
  * (session window, language-ID scorer, trade and order–part graphs,
  * banded frame near-dup tail, SCD2 projection, HyperBall registers,
  * retrieval and scored panels) in the family file that owns it, and
  * each engine recipe several operators share (undirected edges, rank
  * contributions, exact Pearson, mix quotas) in its op file. A second
  * copy of a marker anywhere else in `src/main` is a copy that can
  * drift.
  */
class OracleSqlSpec extends AnyFunSuite {

  /** A recipe marker: the one `src/main` file allowed to hold it, and
    * how often the recipe itself holds it there, so a second copy in
    * the owner fails too. A marker is a regex; most are literal text. */
  private case class Owner(marker: Regex, file: String, times: Int)
  private def lit(text: String, file: String, times: Int = 1) =
    Owner(Regex.quote(text).r, file, times)
  private val owners: Seq[Owner] = Seq(
    // kernel renderings
    lit("strpos('0123456789abcdef'", "OracleSql.scala"),
    lit("list_reduce(list_transform(range(1, ", "OracleSql.scala", 3),
    lit("reach(u, r)", "OracleSql.scala", 2),
    lit("list_contains(b.shingles", "OracleSql.scala"),
    lit("JOIN sh a ON a.doc_id = c.a_id", "OracleSql.scala"),
    lit("list_contains(b.hs,", "OracleSql.scala", 2),
    Owner("""- length\(bin\(\$?h // """.r, "OracleSql.scala", 1),
    lit("& 1 = 1 THEN 1 ELSE -1 END", "OracleSql.scala"),
    Owner(""">> \(.*\* 16\)\) & 65535""".r, "OracleSql.scala", 2),
    lit("lo)) + bit_count(xor(", "OracleSql.scala"),
    lit(")*9 + (", "OracleSql.scala", 2),
    lit("n * sxy - sx * sy AS num", "OracleSql.scala"),
    lit("(scheme = 'https' AND port = '443')", "OracleSql.scala"),
    lit("COALESCE(tt.ts, 0)", "OracleSql.scala"),
    lit("FILTER (o_from <> o_to)", "OracleSql.scala"),
    lit("<< (2*bb+1)", "OracleSql.scala"),
    // query recipes, each in its family file
    lit("gap > 300000000L", "WarehouseQueries.scala"),
    lit("length(replace($text, '$bg', ''))", "PipelineQueries.scala"),
    lit("occurrences2x(text, _)", "PipelineQueries.scala"),
    lit("l_partkey + 1000000000000", "GraphQueries.scala"),
    lit("o_custkey * 2 AS", "GraphQueries.scala"),
    lit("FROM okc x JOIN okc y", "CurationQueries.scala"),
    lit("col(\"valid_to\").as(\"valid_to_us\")", "WarehouseQueries.scala"),
    lit("g0 AS MATERIALIZED", "GraphQueries.scala"),
    lit("% 7) AS nf", "CurationQueries.scala"),
    lit("vec_id % 101", "PipelineQueries.scala", 2),
    lit("% 101 ===", "PipelineQueries.scala"),
    lit("x.centroid_id = y.centroid_id", "PipelineQueries.scala"),
    lit("SELECT cell, d, avg(x) AS m", "PipelineQueries.scala"),
    lit("x.source <> 'src0'", "PipelineQueries.scala"),
    lit("list_reduce(list(sqrt(", "PipelineQueries.scala"),
    lit("dfreq AS (SELECT t, CAST(COUNT(DISTINCT doc_id)", "AnalysisQueries.scala"),
    lit("(ua.c * ub.c)", "AnalysisQueries.scala"),
    lit("'sort', 'merge')", "WarehouseQueries.scala"),
    lit("CAST(label AS BIGINT) % 2 AS y", "WarehouseQueries.scala"),
    // engine recipes
    lit("filter(col(\"a\") =!= col(\"b\"))", "Graph.scala"),
    lit("expr(\"pr div deg\")", "Graph.scala"),
    lit("isqrtPortable(n * sxx", "Stats.scala"),
    lit("col(\"_q_stratum\")", "Sampling.scala"),
    lit("col(\"centroid\").as(\"_centroid\")", "Similarity.scala"),
    lit("lit(1L).as(\"f\"), lit(0L).as(\"t\")", "Layout.scala"),
    lit("shingleSignatures(docs, idCol, textCol, 3, k), Disk)", "Dedup.scala"),
    lit("array_intersect(col(\"_sa\"), col(\"_sb\"))", "Dedup.scala"),
    lit("1000000000000L - col(\"doc_id\")", "WarehouseQueries.scala"),
    lit("col(\"label\").cast(\"long\") % 2", "WarehouseQueries.scala"))

  private def mainSources: List[java.nio.file.Path] = {
    val main = Paths.get("src", "main")
    assert(Files.isDirectory(main),
      s"run from the repository root, not ${Paths.get("").toAbsolutePath}")
    Files.walk(main).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toList
  }

  /** File name → how often `marker` occurs in it, for every holder. */
  private def holders(marker: Regex): Map[String, Int] = mainSources
    .map(p => p.getFileName.toString ->
      marker.findAllIn(new String(Files.readAllBytes(p), "UTF-8")).size)
    .filter(_._2 > 0).toMap

  private def checkOwners(keep: String => Boolean): Unit = {
    val copies = owners.collect {
      case o if keep(o.file) && holders(o.marker) != Map(o.file -> o.times) =>
        s"`${o.marker.regex.stripPrefix("\\Q").stripSuffix("\\E")}` in " +
          holders(o.marker).toSeq.sorted.map { case (f, n) => s"$f ${n}x" }.mkString(", ") +
          s" (owner ${o.file}, ${o.times}x)"
    }
    assert(copies.isEmpty, copies.mkString("; "))
  }

  test("only OracleSql renders the engine kernels the oracle replays") {
    checkOwners(_ == "OracleSql.scala")
  }

  test("each shared query or engine recipe sits in exactly its owning file") {
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
        dot("a", "b"), cos("a", "b"), sqDist("a", "b", 16), rhpBucket("v"),
        shingleJaccard, verifiedCte("v"), verifiedHashedSql,
        simhashCtes("w[i]" -> "lo", "'x1_' || w[i]" -> "hi"),
        simhash64PairsSql, dhashSig, pearsonCtes("j", "x", "y"),
        targetMixTokensSql, morton("w[i]", "w[d]", 8))
      .foreach(r => assert(bindsCommon.findFirstIn(r).isEmpty, r))
    assert(simhashCtes("w[i]" -> "lo").contains("md5(w[i])"))
    assert(hash32("w[i-2:i]").contains("md5(w[i-2:i])"))
  }
}
