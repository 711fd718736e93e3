package graft.wilayah


/** Executable usage example: seed + sync + every query entry point,
  * against the corpus dir in arg0 (default /root/reference/geojson)
  * and a temp warehouse. `sbt "runMain graft.wilayah.Demo"`.
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val geojsonDir = args.headOption.getOrElse("/root/reference/geojson")
    val spark = graft.Sessions.fromEnv("graft-demo")
    spark.sparkContext.setLogLevel("ERROR")

    val wh = java.nio.file.Files.createTempDirectory("graft-demo").toString + "/warehouse"
    val api = new Api(spark, wh, geojsonDir)

    println(s"seed: processed=${api.seed()}")
    println(s"sync 11.73: processed=${api.sync("11.73")}")
    println(s"status 11.73: ${api.status("11.73")}")
    println(s"status 11:    ${api.status("11")}")
    println("search 'lhok':")
    api.search("lhok").show(truncate = false)
    val fc = api.geojson("11.73")
    println(s"geojson slots: ${fc.keySet}")
    println(s"kabupaten FC head: ${fc("kabupaten").take(160)}...")
    println(s"seed again (idempotent): processed=${api.seed()}")

    // ETL throughput: full-corpus sync (the reference's per-feature
    // sequential upsert loop is the contrast, server.js:368-375)
    val whFull = java.nio.file.Files.createTempDirectory("graft-demo-full").toString + "/warehouse"
    val apiFull = new Api(spark, whFull, geojsonDir)
    val t0 = System.nanoTime()
    val n = apiFull.sync("11")
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"full-corpus sync: $n features (67 MB GeoJSON, force2D+simplify+merge) in $secs%.1f s = ${n / secs}%.0f features/s")
    println("passthrough '11':")
    api.passthrough("11").select("file_name", "slot", "size_bytes").show(truncate = false)
    spark.stop()
  }
}
