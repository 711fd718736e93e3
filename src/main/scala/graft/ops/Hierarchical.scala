package graft.ops

import graft.CacheScope
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Shared scaffold for scale-safe GLOBAL prefix computations — the one
  * delicate pattern behind both sequence packing and global row
  * numbering, kept in a single copy:
  *
  *  1. `repartitionByRange` on the sort keys gives each task a
  *     contiguous slice of the total order; an exclusive prefix sum of
  *     `measure` computed LOCALLY per (slice, strata) is embarrassingly
  *     parallel.
  *  2. Per-(slice, strata) totals — a slices x strata frame — prefix-sum
  *     into slice offsets and broadcast back; `offset + local_before`
  *     equals the single-window exclusive prefix sum for ANY boundary
  *     placement (prefix sums compose).
  *
  * The sliced frame is persisted because BOTH branches read it:
  * unpersisted, each branch would plan its own range exchange, and each
  * execution SAMPLES ITS OWN boundaries — on a non-order-stable input
  * the branches could disagree on the chunking and silently corrupt the
  * offsets. One cache entry = one boundary sample. The entry is owned
  * by the caller's [[graft.CacheScope]] and held until that scope is
  * released (or the session's `clearCache`).
  */
private[graft] object Hierarchical {

  /** Append `outCol` = EXCLUSIVE prefix sum of `measure` under the
    * total order `sort` (include a unique tiebreak key!), independently
    * per `strata` group (empty = one global order). The
    * boundary-consistency cache is persisted through `scope`.
    */
  def prefixSum(df: DataFrame, sort: Seq[Column], strata: Seq[String],
                measure: Column, outCol: String, chunks: Int,
                scope: CacheScope = new CacheScope): DataFrame = {
    val n = if (chunks > 0) chunks
            else df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val sliced = scope.persist(df
      .repartitionByRange(n, sort: _*)
      .withColumn("_chunk", spark_partition_id()),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val local = Window
      .partitionBy(("_chunk" +: strata).map(col): _*).orderBy(sort: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val withLocal = sliced.withColumn("_local_before",
      coalesce(sum(measure).over(local), lit(0L)))
    // slices x strata rows: tiny by construction, so the (possibly
    // unpartitioned) offsets window is a non-issue
    val offs = Window.partitionBy(strata.map(col): _*).orderBy("_chunk")
      .rowsBetween(Window.unboundedPreceding, -1)
    // every join key is RENAMED on the offsets side: joining a column
    // with itself leans on fragile dataset-id disambiguation
    val offCols = (col("_chunk").as("_off_chunk") +:
      strata.zipWithIndex.map { case (s, i) => col(s).as(s"_off_s$i") }) :+
      col("_offset")
    val offsets = sliced.groupBy(("_chunk" +: strata).map(col): _*)
      .agg(sum(measure).as("_chunk_tot"))
      .withColumn("_offset", coalesce(sum(col("_chunk_tot")).over(offs), lit(0L)))
      .select(offCols: _*)
    val cond = strata.zipWithIndex.foldLeft(col("_chunk") === col("_off_chunk")) {
      case (acc, (s, i)) => acc && (col(s) <=> col(s"_off_s$i"))
    }
    withLocal.join(broadcast(offsets), cond)
      .withColumn(outCol, col("_offset") + col("_local_before"))
      .drop(Seq("_chunk", "_local_before", "_off_chunk", "_offset") ++
        strata.indices.map(i => s"_off_s$i"): _*)
  }
}
