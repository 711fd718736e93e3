package graft

/** Plan-audit utility: `sbt "runMain graft.Explain q01_pricing_summary ..."`
  * prints the formatted physical plan of each named query — the
  * feedback loop for checking pushdown, pruning, join strategies, and
  * codegen spans (findings recorded in PLANS.md).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.fromEnv("graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    val sf = "/root/testdata/sf0.01"
    for (n <- args) {
      println(s"===== $n =====")
      Queries.byName(n).build(spark, sf).explain("formatted")
    }
    spark.stop()
  }
}
