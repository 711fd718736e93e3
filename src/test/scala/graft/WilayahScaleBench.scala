package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.wilayah.{Ingest, Store}

/** Wilayah merge at geometry volume (VERDICT r8 item 8): the geo
  * kernel + partition-scoped merge are spec'd on the GeoJSON corpus of
  * [[GeoJsonFixture]] (PLANS.md round 9 used the 37-file reference
  * corpus, ~7k features; the generated fallback has 6 files and 93
  * features, so set `GRAFT_GEOJSON_DIR` to reproduce those figures);
  * this harness replicates the NORMALIZED rows
  * N x (default 50 — the JTS simplify kernel runs once, replication
  * decorrelates keys with an `rNN|` prefix), builds a 1x and an Nx
  * warehouse, and times the same single-level incoming batch against
  * both. The claim under test: [[Store.mergeWritePartitions]] cost
  * tracks the TOUCHED level partition's size, not the warehouse's —
  * a level-3 batch against the Nx warehouse must not pay for the
  * (much larger) level-4 partition it never touches. Results →
  * PLANS.md round 9.
  *
  * Run: `Test/runMain graft.WilayahScaleBench [reps]`
  */
object WilayahScaleBench {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.build("32", "wilayah-scale")
    val reps = args.headOption.map(_.toInt).getOrElse(50)
    val root = "target/wilayah-scale"
    deleteRec(new java.io.File(root))

    // normalize the whole corpus ONCE (discover("") matches
    // every file), then replicate rows — key-prefixed per replica
    val files = Ingest.discover(GeoJsonFixture.dir, "")
    println(s"corpus: ${GeoJsonFixture.dir} (${files.size} files)")
    val base = Ingest.warehouseRows(Ingest.readFeatures(spark, files))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val t0 = System.nanoTime()
    val baseRows = base.count()
    println(f"normalize (JTS kernel, ${files.size} files): $baseRows rows, " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s")
    base.groupBy("level").count().orderBy("level").collect()
      .foreach(r => println(s"  level ${r.get(0)}: ${r.getLong(1)} rows"))

    def replica(df: DataFrame, i: Int): DataFrame =
      df.withColumn(Store.Key, concat(lit(f"r$i%02d|"), col(Store.Key)))
    def replicate(df: DataFrame, n: Int): DataFrame =
      (0 until n).map(replica(df, _)).reduce(_ unionByName _)

    def timed(label: String)(f: => Unit): Double = {
      val s = System.nanoTime(); f
      val sec = (System.nanoTime() - s) / 1e9
      println(f"[wsb] $label: $sec%.1f s"); sec
    }

    for (scale <- Seq(1, reps)) {
      val wh = s"$root/wh$scale"
      timed(s"initial write ${scale}x (${baseRows * scale} rows)") {
        Store.write(replicate(base, scale), wh)
      }
      // the same one-replica batch against both warehouses, per level:
      // updated_at bumped so LWW takes every incoming row (a real
      // re-sync, not a no-op)
      for (lvl <- Seq(3, 4)) {
        val batch = replica(base.filter(col("level") === lvl), 0)
          .withColumn("updated_at",
            col("updated_at") + expr("INTERVAL 1 HOUR"))
        // 2 passes (merge is LWW-idempotent on the same batch): the
        // second is the warm number PLANS.md records
        timed(s"merge L$lvl batch into ${scale}x warehouse (cold)") {
          Store.mergeWritePartitions(spark, batch, wh)
        }
        timed(s"merge L$lvl batch into ${scale}x warehouse (warm)") {
          Store.mergeWritePartitions(spark, batch, wh)
        }
      }
      // the unbounded alternative, for the ratio: whole-warehouse
      // merge + rewrite of the same L3 batch
      val batch3 = replica(base.filter(col("level") === 3), 0)
        .withColumn("updated_at", col("updated_at") + expr("INTERVAL 1 HOUR"))
      timed(s"MONOLITHIC merge+rewrite L3 batch, ${scale}x warehouse") {
        Store.write(Store.merge(Store.load(spark, wh), batch3), wh)
      }
    }
    spark.stop()
  }

  private def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRec)
    f.delete()
  }
}
