package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** Where a call appears in `src/main/scala/graft`, for the specs that
  * keep a primitive's calls inside it: IterateSpec (checkpoints) and
  * KeyedStateSpec (keyed state).
  */
object SourceSites {

  /** `"<file>:<member>" -> "<file>:<line>"` for each code line matching
    * `call`, outside the file named `owner`. The member is the nearest
    * top-level `def` above the line; comment lines are skipped.
    */
  def apply(call: Regex, owner: String): List[(String, String)] = {
    val main = Paths.get("src", "main", "scala", "graft")
    assert(Files.isDirectory(main),
      s"run from the repository root, not ${Paths.get("").toAbsolutePath}")
    val member = """^  (?:private(?:\[\w+\])? |override )?def (\w+)""".r.unanchored
    Files.walk(main).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != owner)
      .toList.flatMap { p: Path =>
        val file = main.relativize(p).toString
        var enclosing = "<top>"
        Files.readAllLines(p).asScala.zipWithIndex.flatMap { case (line, i) =>
          line match { case member(name) => enclosing = name; case _ => () }
          val code = line.trim
          if (Seq("//", "/*", "*").exists(code.startsWith) || call.findFirstIn(code).isEmpty) None
          else Some(s"$file:$enclosing" -> s"$file:${i + 1}")
        }
      }
  }

  /** Fails on a site missing from `allowed`, or an entry no site uses. */
  def assertAllowed(what: String, sites: List[(String, String)],
                    allowed: Map[String, String]): Unit = {
    val outside = sites.filterNot(s => allowed.contains(s._1))
    assert(outside.isEmpty, s"$what outside the allowlist: " +
      outside.map { case (site, at) => s"$site ($at)" }.mkString(", "))
    assert(sites.map(_._1).toSet == allowed.keySet,
      s"allowlist entries with no $what left: ${allowed.keySet -- sites.map(_._1)}")
  }
}
