package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.obs.Profile

/** `graft.obs.Profile`: events are counted under the label whose job
  * group ran them, and the figures Bench reads (multi-stage jobs,
  * driver gap, shuffle bytes) mean what they say. Self-contained: the
  * scanned table is written to a temp directory.
  */
class ProfileSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def scanTable(): String = {
    val dir = Files.createTempDirectory("graft-profile").resolve("t").toString
    spark.range(0, 20000, 1, 4).selectExpr("id", "id % 7 AS k")
      .write.parquet(dir)
    dir
  }

  private def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  test("jobs run under one label are never counted under another") {
    val sc = spark.sparkContext
    val profile = Profile.attach(spark)
    try {
      def job(): Long = sc.parallelize(1 to 10, 2).count()
      profile("a") {
        job()
        profile("b")(job())
        job()
      }
      job() // outside every label
      profile("b")(job())
      val a = profile.take("a")
      val b = profile.take("b")
      assert((a.jobs, a.stages, a.tasks) == ((2, 2, 4)))
      assert((b.jobs, b.stages, b.tasks) == ((2, 2, 4)))
      assert(profile.take("never-opened").jobs == 0)
      // taken labels are forgotten
      assert(profile.take("a").jobs == 0)
    } finally profile.close()
  }

  test("an eager repartition count is a multi-stage job with shuffle bytes; a scan is neither") {
    val table = scanTable()
    val profile = Profile.attach(spark)
    try {
      profile("build")(spark.read.parquet(table).repartition(8).count())
      profile("scan")(noop(spark.read.parquet(table)))
      val build = profile.take("build")
      val scan = profile.take("scan")
      assert(build.multiStageJobs >= 1)
      assert(build.shuffleWriteBytes > 0 && build.shuffleReadBytes > 0)
      assert(build.actions == Seq("count"))
      assert(scan.jobs >= 1 && scan.multiStageJobs == 0)
      assert(scan.shuffleWriteBytes == 0 && scan.shuffleReadBytes == 0)
      assert(scan.actions == Seq("overwrite")) // a noop write in overwrite mode
      Seq(build, scan).foreach { s =>
        assert(s.driverGapMs >= 0 && s.driverGapMs <= s.wallMs, s)
        assert(s.jobCoveredMs > 0 && s.tasks >= s.jobs && s.runMs >= 0, s)
        assert(s.planMs >= 0 && s.planMs <= s.wallMs, s)
        assert(s.phasesMs.keySet.subsetOf(Set("analysis", "optimization", "planning")), s)
      }
    } finally profile.close()
  }

  test("actions of a child session (as the rank loops run) are counted") {
    val profile = Profile.attach(spark)
    try {
      val child = spark.newSession()
      profile("child")(child.range(10).collect())
      assert(profile.take("child").actions == Seq("collect"))
    } finally profile.close()
  }
}
