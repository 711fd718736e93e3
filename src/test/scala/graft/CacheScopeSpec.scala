package graft

import org.scalatest.funsuite.AnyFunSuite

/** The guard that keeps cache lifetimes in `src/main` on
  * [[graft.CacheScope]]: an operator persists through the scope its
  * caller passes (or a local one it releases), so a raw `persist`,
  * `cache` or `unpersist` needs an allowlist entry saying why no scope
  * fits.
  *
  * A call counts as raw unless its receiver is a scope, told apart by
  * name: `scope` or an identifier ending in `Scope` (`sigScope`,
  * `roundScope`). A chained `.persist(` at the start of a line, `_`
  * and any other receiver are raw.
  */
class CacheScopeSpec extends AnyFunSuite {

  private val raw =
    """(?<![sS]cope)\.(?:persist|unpersist)\(|\.cache\(\)""".r

  /** Raw cache calls outside the query files, by file and enclosing
    * member, with the reason each stays. */
  private val allowed = Map(
    "wilayah/Api.scala:syncPaths" ->
      ("persists the sync batch and releases it in one try/finally: the count and " +
        "the merge both read it, and nothing outlives the call"),
    "streaming/Streams.scala:ingestStream" ->
      ("persists each micro-batch and releases it in one try/finally inside " +
        "foreachBatch: isEmpty, the merge's level collect and the write all read it"))

  /** Raw calls per query file. A query build returns a lazy frame under
    * the driver contract `(SparkSession, String) => DataFrame`, so its
    * caches must outlive the build; until the contract carries a
    * per-query scope each file is pinned to its count, and a new raw
    * call there fails too. */
  private val pinned = Map(
    "PipelineQueries.scala" -> 13,
    "DomainQueries.scala" -> 4,
    "AnalysisQueries.scala" -> 4,
    "CrawlQueries.scala" -> 1)

  test("raw cache calls in src/main go through CacheScope, the allowlist or a pinned query file") {
    val sites = SourceSites(raw, owner = "CacheScope.scala")
    def file(site: (String, String)) = site._1.takeWhile(_ != ':')
    val (inQueries, rest) = sites.partition(s => pinned.contains(file(s)))
    SourceSites.assertAllowed("raw cache calls", rest, allowed)
    val counts = inQueries.groupBy(file).map { case (f, s) => f -> s.size }
    assert(counts == pinned,
      s"raw cache calls per query file changed: ${inQueries.map(_._2).mkString(", ")}")
  }

  test("the guard tells a CacheScope receiver from a raw call") {
    val scoped = Seq("scope.persist(df, disk)", "val s = sigScope.persist(",
      "stages.foreach(scope.persist(_, disk))")
    val rawCalls = Seq("df.persist(disk)", ".persist(disk)", "_.persist(disk)",
      "rows.persist()", "d.unpersist()", "df.cache()", "scoped.persist(disk)")
    scoped.foreach(c => assert(raw.findFirstIn(c).isEmpty, c))
    rawCalls.foreach(c => assert(raw.findFirstIn(c).nonEmpty, c))
  }
}
