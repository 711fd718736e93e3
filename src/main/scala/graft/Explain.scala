package graft

/** Plan-audit utility: `sbt "runMain graft.Explain q01_pricing_summary ..."`
  * prints the formatted physical plan of each named query — the
  * feedback loop for checking pushdown, pruning, join strategies, and
  * codegen spans (findings recorded in PLANS.md). With no names it
  * explains every query in name order; `tools/plan_diff.py` compares
  * two such runs. Tables are read from `SPARK_GRAFT_SF_DIR`
  * (default `/root/testdata/sf0.01`), as `graft.Bench` reads them.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.fromEnv("graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq else Queries.all.map(_.name).sorted
    for (n <- names) {
      println(s"===== $n =====")
      Queries.byName(n).build(spark, sf).explain("formatted")
    }
    spark.stop()
  }
}
