package graft.ops

import graft.CacheScope
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-LAYOUT operators: multi-dimensional clustering keys and the
  * file-level skipping audit that justifies them.
  *
  * At 100 TB the scan is the cost, and the scan is cheap only when the
  * writer clustered the data so readers can SKIP files: parquet min/max
  * footers prune a file iff the filtered column's values are locally
  * tight. A single-column sort makes ONE column tight; a Z-ORDER
  * (Morton) key interleaves the bits of several columns so every
  * interleaved dimension stays locally tight at once — the standard
  * multi-dimensional layout trick (used by Delta/Iceberg compaction)
  * expressed here as a pure Spark column + the range-partitioned write
  * path + an auditable per-file bounding-box report.
  */
object Layout {

  /** MORTON (Z-order) interleave of two non-negative dimension values,
    * `bits` bits each (bits <= 31; the result occupies 2*bits <= 62
    * bits, sign never touched). Dimension values must already be
    * bucketed/rank-encoded into [0, 2^bits) — interleaving raw skewed
    * values wastes high bits; interleaving ranks is what makes the
    * curve space-filling. Bit i of x lands at result bit 2i, bit i of
    * y at 2i+1. One codegen'd HOF per row; no shuffle, no UDF.
    * `x`/`y` are SQL expressions (the [[Sketches.bloomPositions]]
    * convention — the variable-amount shifts exist only in SQL form).
    */
  def zorderKey2(x: String, y: String, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")
    zorderKeyN(Seq(x, y), bits)
  }

  /** MORTON (Z-order) interleave of N (2-4) non-negative dimension
    * values, `bits` bits each (N*bits <= 62 — the result never touches
    * the sign bit). Round-robin placement: bit i of dimension d lands
    * at result bit N*i + d, so [[zorderKey2]] is exactly the N=2 case.
    * The bits budget splits EVENLY across dimensions by design — an
    * uneven split is just a different bucketing of the inputs, which
    * callers own (dimension values must already be bucketed/
    * rank-encoded into [0, 2^bits)). The interleave is UNROLLED into
    * a flat bitwise-OR of N*bits shift terms — straight-line long
    * arithmetic inside whole-stage codegen. The earlier form folded
    * over `sequence(0, bits-1)` with a lambda, which materialized an
    * array PER ROW on the hottest path in the layout family (the
    * Z-key is computed once per row per PASS of the range exchange:
    * the sampling pass and the shuffle pass each re-run the child
    * plan, so the per-row cost is paid twice) — the same
    * array-materializing-HOF cost that dominated q217's histogram
    * stage. No shuffle, no UDF.
    */
  def zorderKeyN(dims: Seq[String], bits: Int): Column = {
    require(dims.length >= 2 && dims.length <= 4,
      s"zorderKeyN interleaves 2-4 dimensions, got ${dims.length}")
    val n = dims.length
    require(bits >= 1 && n * bits <= 62,
      s"need bits >= 1 and ${n} * bits <= 62, got bits = $bits")
    // d0_bit0 << 0 | d1_bit0 << 1 | ... | d0_bit1 << N | ...
    val terms = for {
      i <- 0 until bits
      (d, j) <- dims.zipWithIndex
    } yield s"shiftleft(shiftright(CAST(($d) AS BIGINT), $i) & 1L, ${n * i + j})"
    expr(terms.mkString("(", " | ", ")"))
  }

  /** Z-ORDER FILE-LAYOUT AUDIT: lay the frame out along the Morton
    * curve of (xCol, yCol) in files of `rowsPerFile`, and report each
    * planned file's row count and per-dimension bounding box
    * (x_min..x_max, y_min..y_max) — the exact min/max a parquet footer
    * would carry, i.e. the data-skipping effectiveness of the layout,
    * auditable BEFORE burning a 100 TB rewrite. Under a Z-order both
    * boxes stay tight; under a one-column sort only that column's box
    * does — diff two audits to quantify the win.
    *
    * The global file assignment is rank/rowsPerFile under the total
    * order (z, x, y); the rank comes from [[Hierarchical.prefixSum]]
    * (range slices + broadcast offsets — never a single-task window).
    * Rows tying on (z, x, y) are interchangeable for every reported
    * statistic, so the output is deterministic even though their
    * relative order is not. Output: (file_id, n, x_min, x_max, y_min,
    * y_max), one row per planned file. The scaffold's cache is
    * persisted through `scope`.
    */
  def zorderFileStats(df: DataFrame, xCol: String, yCol: String,
                      bits: Int, rowsPerFile: Long, chunks: Int = 0,
                      scope: CacheScope = new CacheScope): DataFrame = {
    val named = df.select(col(xCol).cast("long").as("_zx"),
      col(yCol).cast("long").as("_zy"))
    zorderFileStatsN(named, Seq("_zx", "_zy"), bits, rowsPerFile, chunks,
      scope)
      .select(col("file_id"), col("n"),
        col("_zx_min").as("x_min"), col("_zx_max").as("x_max"),
        col("_zy_min").as("y_min"), col("_zy_max").as("y_max"))
  }

  /** N-dimensional [[zorderFileStats]]: lay the frame out
    * along the Morton curve of `dimCols` (2-4 dims, [[zorderKeyN]])
    * and report each planned file's row count and per-dimension
    * bounding box as `<col>_min`/`<col>_max`. Total order
    * (z, dims...) — rows tying on it are interchangeable for every
    * reported statistic. The scaffold's cache is persisted through
    * `scope`.
    */
  def zorderFileStatsN(df: DataFrame, dimCols: Seq[String], bits: Int,
                       rowsPerFile: Long, chunks: Int = 0,
                       scope: CacheScope = new CacheScope): DataFrame = {
    val base = df
      .select(dimCols.map(c => col(c).cast("long").as(c)): _*)
      .withColumn("_z", zorderKeyN(dimCols, bits))
    fileStatsBy(base, col("_z") +: dimCols.map(col), dimCols,
      rowsPerFile, chunks, scope)
  }

  /** The BASELINE a Z-order diff quantifies against: the same
    * file-layout audit under a plain lexicographic sort on `dimCols`
    * in the given order (the "one-column sort" layout — the first
    * column's boxes come out tight, every later column's span the
    * whole domain within each leading-value run). The trailing
    * columns participate in the total order only to make ties —
    * and therefore the reported boxes — deterministic. Diff against
    * [[zorderFileStatsN]] to put a number on the skipping win before
    * burning a 100 TB rewrite. The scaffold's cache is persisted
    * through `scope`.
    */
  def sortFileStats(df: DataFrame, dimCols: Seq[String],
                    rowsPerFile: Long, chunks: Int = 0,
                    scope: CacheScope = new CacheScope): DataFrame = {
    val base = df.select(dimCols.map(c => col(c).cast("long").as(c)): _*)
    fileStatsBy(base, dimCols.map(col), dimCols, rowsPerFile, chunks, scope)
  }

  /** SMALL-FILE compaction plan — the Delta/Iceberg OPTIMIZE
    * bin-packing decision as a deterministic, auditable assignment:
    * files under `targetBytes` pack into merge groups of ~target size
    * (group = exclusive prefix-sum of bytes under the (bytes, path)
    * total order, div target — contiguous cuts, so a group overshoots
    * by at most one boundary file), files already at or above target
    * keep `group_id = -1` (left as-is; rewriting them wins nothing).
    * Returns the input with `group_id` appended — feed it to the
    * writer as the repartition key, or aggregate it for the
    * files-per-group / bytes-per-group audit BEFORE paying the
    * rewrite.
    *
    * Scale shape: the inventory is table METADATA (one row per file —
    * still 1e7+ rows for a 100 TB table of small files, the exact
    * situation compaction exists to fix), and the global running sum
    * rides [[Hierarchical.prefixSum]] (range slices + broadcast
    * offsets, measure = bytes — never a single-task window over the
    * whole inventory). Same cache-release convention as the other
    * scaffold users.
    */
  def compactionPlan(files: DataFrame, pathCol: String, bytesCol: String,
                     targetBytes: Long, chunks: Int = 0): DataFrame = {
    require(targetBytes >= 1, s"targetBytes must be >= 1, got $targetBytes")
    val small = files.filter(col(bytesCol) < targetBytes)
    val packed = Hierarchical.prefixSum(small,
      Seq(col(bytesCol), col(pathCol)), Nil, col(bytesCol), "_cb", chunks)
      .withColumn("group_id", expr(s"_cb div ${targetBytes}L")).drop("_cb")
    packed.unionByName(
      files.filter(col(bytesCol) >= targetBytes)
        .withColumn("group_id", lit(-1L)))
  }

  /** Result of one [[compactTable]] pass. */
  case class CompactionResult(groups_rewritten: Long, files_before: Long,
                              files_after: Long)

  private def isDataFile(name: String): Boolean =
    !name.startsWith("_") && !name.startsWith(".")

  /** EXECUTE a [[compactionPlan]] pass over a parquet table DIRECTORY:
    * merge-groups of small files are rewritten into ~`targetBytes`
    * files, files at/above target (and single-file groups — rewriting
    * one file into one file wins nothing) are carried over by RENAME,
    * and the whole new table commits via an atomic directory swap.
    *
    * Commit protocol (the rollupStream exactly-once discipline applied
    * to the batch layout family):
    *
    *   1. stage: merged outputs Spark-written into `<table>._staged`
    *      as `compact-<token>-g<id>.parquet`
    *      (token fresh per pass — a prior pass's outputs may be this
    *      pass's keepers, and their names must never collide); then a `_KEEPERS` manifest (the
    *      carried-over file names) is written BEFORE any keeper moves,
    *      and keepers RENAME into the stage — metadata ops, so the
    *      bytes rewritten are proportional to the SMALL-file volume
    *      only (the OPTIMIZE cost contract; at 100 TB the keepers are
    *      most of the bytes and must never be copied).
    *   2. commit: `rename(table, <table>._backup)`,
    *      `rename(staged, table)`, delete backup — two atomic
    *      metadata ops around the swap instant.
    *
    * [[recoverTable]] runs on entry and completes or rolls back every
    * crash window (torn stage, half-moved keepers, between the two
    * renames, un-deleted backup), so a re-run after ANY mid-compaction
    * crash reads either the old table or the new one, never a mix —
    * the idempotence spec kills inside each window and re-runs.
    * Re-running a COMPLETED pass converges: once every small group
    * has one file, the pass is a no-op (fixpoint).
    *
    * The table is briefly unreadable between the two commit renames —
    * the maintenance-window model. Live-reader isolation needs a
    * version-pointer indirection instead (the
    * [[graft.streaming.Streams.readRollupStore]] pattern); the swap is
    * what the plain-directory contract can make atomic.
    *
    * `maxGroups` bounds one pass (driver-side group assembly and
    * rewrite volume) — production compacts a 1e7-file inventory
    * incrementally, a bounded slice per pass, each pass leaving the
    * table committed and readable. Group rewrites are independent
    * single-output jobs, submitted 4 at a time.
    */
  def compactTable(spark: org.apache.spark.sql.SparkSession,
                   tablePath: String, targetBytes: Long,
                   maxGroups: Int = Int.MaxValue): CompactionResult = {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val table = new Path(tablePath)
    val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
    recoverTable(spark, tablePath)
    val staged = new Path(table.getParent, table.getName + "._staged")
    val backup = new Path(table.getParent, table.getName + "._backup")
    val inv = fs.listStatus(table).toSeq
      .filter(st => st.isFile && isDataFile(st.getPath.getName))
      .map(st => (st.getPath.getName, st.getLen))
    val plan = compactionPlan(inv.toDF("path", "bytes"), "path", "bytes",
        targetBytes)
      .select(col("path"), col("group_id"))
      .as[(String, Long)].collect()
    // no-op (single-file) groups are dropped BEFORE the maxGroups
    // budget is applied — a bounded pass spends its whole budget on
    // real merges even when the plan's prefix is all singletons
    val merge = plan.filter(_._2 >= 0).groupBy(_._2).toSeq
      .map { case (g, fsOfG) => g -> fsOfG.map(_._1).sorted.toSeq }
      .filter(_._2.length >= 2)
      .sortBy(_._1).take(maxGroups)
    if (merge.isEmpty)
      return CompactionResult(0L, inv.length.toLong, inv.length.toLong)
    val merged = merge.map(_._2).flatten.toSet
    val keepers = inv.map(_._1).filterNot(merged.contains)
    // per-pass token in the output names: a keeper carried over from a
    // PREVIOUS pass may itself be named compact-...; an un-tokenized
    // output name would collide with it in the stage, the keeper
    // rename would no-op, and the swap would silently drop its rows
    // (caught by the re-run spec)
    val token = java.util.UUID.randomUUID().toString.take(8)
    fs.delete(staged, true)
    fs.mkdirs(staged)
    // group rewrites: independent jobs, 4 in flight (the Verify pool
    // shape); each group is ~targetBytes, so coalesce(1) is one
    // bounded streaming write task
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    // shutdown in finally: a failed group-rewrite Future makes
    // Await.result throw, and an unconditional shutdown is what keeps
    // a long-lived session from leaking a 4-thread executor per
    // failed pass
    try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val jobs = merge.map { case (g, names) =>
        scala.concurrent.Future {
          val tmp = new Path(staged, s"_g$g")
          spark.read.parquet(names.map(n => new Path(table, n).toString): _*)
            .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
          val part = fs.listStatus(tmp).map(_.getPath)
            .find(p => p.getName.startsWith("part-")).get
          require(fs.rename(part,
            new Path(staged, s"compact-$token-g$g.parquet")),
            s"stage rename failed for group $g")
          fs.delete(tmp, true)
        }
      }
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(jobs),
        scala.concurrent.duration.Duration.Inf)
    } finally pool.shutdown()
    // keeper manifest FIRST (write-once), then the metadata-only moves
    // — recovery replays the manifest to put half-moved keepers back
    writeLines(fs, new Path(staged, "_KEEPERS"), keepers)
    keepers.foreach(n => require(
      fs.rename(new Path(table, n), new Path(staged, n)),
      s"keeper rename failed: $n"))
    // the swap: two atomic renames; recovery covers the window between
    require(fs.rename(table, backup), s"swap rename failed: $table")
    require(fs.rename(staged, table), s"swap rename failed: $staged")
    fs.delete(backup, true)
    fs.delete(new Path(table, "_KEEPERS"), false)
    val after = fs.listStatus(table).count(st =>
      st.isFile && isDataFile(st.getPath.getName))
    CompactionResult(merge.length.toLong, inv.length.toLong, after.toLong)
  }

  /** Crash recovery for [[compactTable]] — idempotent, called on every
    * entry. Decision table over which of (table, staged, backup)
    * exist: a stage with the table still present rolls BACK (manifest
    * keepers move home, stage deleted); a completed stage with the
    * table renamed away rolls FORWARD (finish the swap); a surviving
    * backup after the swap is deleted.
    */
  def recoverTable(spark: org.apache.spark.sql.SparkSession,
                   tablePath: String): Unit = {
    import org.apache.hadoop.fs.Path
    val table = new Path(tablePath)
    val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
    val staged = new Path(table.getParent, table.getName + "._staged")
    val backup = new Path(table.getParent, table.getName + "._backup")
    val keepersMarker = new Path(staged, "_KEEPERS")
    if (fs.exists(table)) {
      if (fs.exists(staged)) {
        // staging (or the keeper moves) crashed: manifest keepers go
        // home, the torn stage is discarded
        if (fs.exists(keepersMarker))
          readLines(fs, keepersMarker).foreach { n =>
            if (fs.exists(new Path(staged, n)))
              fs.rename(new Path(staged, n), new Path(table, n))
          }
        fs.delete(staged, true)
      }
      // crash after the swap completed but before backup cleanup
      if (fs.exists(backup)) fs.delete(backup, true)
      fs.delete(new Path(table, "_KEEPERS"), false)
    } else if (fs.exists(staged) && fs.exists(backup)) {
      // crash between the two swap renames: the stage is complete by
      // construction (renames only follow a finished stage) — finish
      require(fs.rename(staged, table), s"recovery rename failed: $staged")
      fs.delete(backup, true)
      fs.delete(new Path(table, "_KEEPERS"), false)
    } else if (fs.exists(backup)) {
      // table and stage both gone with a backup left: not a state this
      // protocol produces — refuse to guess (the backup alone lacks
      // the keepers once they moved to the stage)
      throw new IllegalStateException(
        s"unrecoverable compaction state: only $backup exists")
    }
  }

  private def writeLines(fs: org.apache.hadoop.fs.FileSystem,
                         p: org.apache.hadoop.fs.Path,
                         lines: Seq[String]): Unit = {
    val out = fs.create(p, true)
    try out.write(lines.mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  private def readLines(fs: org.apache.hadoop.fs.FileSystem,
                        p: org.apache.hadoop.fs.Path): Seq[String] = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).toList
    finally in.close()
  }

  /** QUANTILE-BUCKET rank encoding for Z-order inputs — the missing
    * half of [[zorderKeyN]]'s contract ("dimension values must already
    * be bucketed/rank-encoded": interleaving RAW skewed values wastes
    * high bits; interleaving ranks is what makes the curve
    * space-filling). Boundaries come from the MERGEABLE log-bucket
    * histogram ([[Sketches.histSketch]] + [[Sketches.histQuantiles]]):
    * the k-1 quantile upper bounds (integer-pure, engine-portable)
    * collect to the driver — at most 63 longs, the bounded-summary
    * shape — and the bucket index is a scan-side HOF
    * (`|{b : b < v}|` over the literal boundary array), zero shuffle
    * beyond the sketch's own bounded aggregate. Adjacent quantiles
    * falling in one histogram bucket dedupe, so the encoding yields
    * AT MOST k buckets (fewer on concentrated distributions) — always
    * < 2^bits for `bits = ceil(log2 k)`.
    *
    * Returns the frame with `<valueCol>_qb` appended plus the
    * boundary list (for audits / replays). Values must be >= 0 after
    * long cast (the histogram's domain); floor-cast doubles BEFORE
    * calling if the column is continuous.
    */
  def histQuantileBuckets(df: DataFrame, valueCol: String,
                          k: Int): (DataFrame, Seq[Long]) = {
    val (bucketed, bounds) = histQuantileBucketsN(df, Seq(valueCol), k)
    (bucketed, bounds(valueCol))
  }

  /** [[histQuantileBuckets]] for SEVERAL dimensions in ONE pass: the
    * N per-dimension histograms ride a single (dim, bucket) aggregate
    * over an exploded (dim, value) projection and one driver collect
    * (<= N * 63 longs) — a Z-order prep for N dims pays one scan and
    * one bounded job instead of N of each (measured on q217: the
    * two-dimension derivation was the query's dominant cost). Appends
    * `<col>_qb` per dimension; returns the boundary lists by column.
    */
  def histQuantileBucketsN(df: DataFrame, valueCols: Seq[String],
                           k: Int): (DataFrame, Map[String, Seq[Long]]) = {
    require(k >= 2 && k <= 64, s"k must be in [2, 64], got $k")
    require(valueCols.nonEmpty, "need at least one dimension")
    val ppms = (1 until k).map(i => (i.toLong * 1000000L / k).toInt)
    val pairs = df.select(explode(array(valueCols.map(c =>
        struct(lit(c).as("_dim"), col(c).cast("long").as("_v"))): _*))
        .as("p"))
      .select(col("p._dim").as("_dim"), col("p._v").as("_v"))
    val sk = Sketches.histSketch(pairs, Seq("_dim"), "_v")
    val bounds = Sketches.histQuantiles(sk, Seq("_dim"), ppms)
      .select(col("_dim"), col("value_ub")).distinct()
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (dim, rows) =>
        dim -> rows.map(_._2).sorted.toSeq }
    val missing = valueCols.filterNot(bounds.contains)
    require(missing.isEmpty,
      s"no histogram rows for dimensions $missing (empty input?)")
    val bucketed = valueCols.foldLeft(df) { (acc, c) =>
      val arr = bounds(c).map(b => s"${b}L").mkString(", ")
      acc.withColumn(s"${c}_qb", expr(
        s"""CAST(size(filter(array($arr),
             b -> b < CAST($c AS BIGINT))) AS BIGINT)"""))
    }
    (bucketed, bounds)
  }

  /** Shared layout-audit core: global rank under `order` via
    * [[Hierarchical.prefixSum]] (range slices + broadcast offsets —
    * never a single-task window), fixed-size file cut, per-file count
    * + per-dimension min/max.
    */
  private def fileStatsBy(base: DataFrame, order: Seq[Column],
                          dimCols: Seq[String], rowsPerFile: Long,
                          chunks: Int, scope: CacheScope): DataFrame = {
    require(rowsPerFile >= 1, s"rowsPerFile must be >= 1, got $rowsPerFile")
    val aggs = count(lit(1)).cast("long").as("n") +: dimCols.flatMap(c =>
      Seq(min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max")))
    Hierarchical.prefixSum(base, order, Nil, lit(1L), "_rank", chunks, scope)
      .withColumn("file_id", expr(s"_rank div ${rowsPerFile}L"))
      .groupBy(col("file_id"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Rendezvous (highest-random-weight) placement rebalance audit:
    * assign every key to the shard maximizing `hash32(seed, shard,
    * key)` under `fromShards` and under `toShards` shards
    * (fromShards < toShards), and measure the movement. HRW's
    * guarantee — THE reason it (and its cousin consistent hashing)
    * runs under every distributed cache/shard router — is that
    * adding shards moves a key ONLY to a NEW shard (an old shard's
    * weight never changes), so expected movement is
    * `(to - from) / to`, not the ~100% a `mod k` rehash costs. This
    * operator measures that promise on real keys before a resharding
    * is executed.
    *
    * Exact + portable: ONE shared md5 hash family (`seed_s_key`),
    * argmax ties to the smallest shard; everything is scan-side
    * per-key arithmetic over a `toShards`-element array + two
    * bounded aggregates (per-shard panel; the movement count rides
    * the same pass). Output per shard: `(shard, n_from, n_to)` with
    * the replicated `(n_keys, moved, moved_ppm, expected_ppm)`.
    */
  def rendezvousMoves(df: DataFrame, keyCol: String, fromShards: Int,
                      toShards: Int, seed: String = "rv"): DataFrame = {
    require(fromShards >= 1 && toShards > fromShards && toShards <= 64,
      s"need 1 <= from < to <= 64, got $fromShards/$toShards")
    val arr = s"transform(sequence(0, ${toShards - 1}), s -> " +
      s"CAST(conv(substring(md5(concat('$seed', '_', s, '_', _k))," +
      s" 1, 8), 16, 10) AS BIGINT))"
    def owner(k: Int): String =
      s"array_min(filter(sequence(0, ${k - 1}), s -> " +
        s"element_at(_arr, s + 1) = " +
        s"array_max(slice(_arr, 1, $k))))"
    val assigned = df
      .select(col(keyCol).cast("string").as("_k"))
      .withColumn("_arr", expr(arr))
      .withColumn("_of", expr(owner(fromShards)).cast("long"))
      .withColumn("_ot", expr(owner(toShards)).cast("long"))
    movesPanel(assigned,
      (toShards - fromShards).toLong * 1000000L / toShards)
  }

  /** The consistent-hash ring for [[ringMoves]]: vnode positions
    * (60-bit md5 points) with aligned owners, sorted by position —
    * computed driver-side from the SAME `wordHash60` recipe the
    * column expressions use, so both engines consume identical
    * literal arrays. Distinct positions are loudly enforced (a
    * collision would make ownership order-dependent).
    */
  private[graft] def ringOf(shards: Int, vnodes: Int,
                            seed: String): (Seq[Long], Seq[Long]) = {
    val pts = for (s <- 0 until shards; v <- 0 until vnodes)
      yield (graft.Pipeline.wordHash60Jvm(s"${seed}_${s}_$v"), s.toLong)
    require(pts.map(_._1).distinct.size == pts.size,
      "ring vnode position collision — change the seed")
    val sorted = pts.sortBy(_._1)
    (sorted.map(_._1), sorted.map(_._2))
  }

  /** Consistent-hash ring rebalance audit — the companion of
    * [[rendezvousMoves]] in the OTHER classic placement scheme: keys
    * hash to a 60-bit ring position and belong to the next-clockwise
    * virtual node; adding shards inserts vnodes that claim arcs ONLY
    * from their ring predecessors, so keys move only TO new shards
    * and the expected movement is the new shards' exact arc share
    * (computed from the ring geometry, not an approximation — vnodes
    * trade per-shard variance for ring-size state, and this operator
    * measures the variance too, via the per-shard panel).
    *
    * The ring is a `shards * vnodesPerShard` literal array pair
    * (bounded; built by [[ringOf]] and inlined identically into both
    * engines); per key the successor lookup is ONE
    * `size(filter(ring, p <= keyPos))` scan-side fold — no join, no
    * broadcast frame. Output per shard: `(shard, n_from, n_to)` with
    * replicated `(n_keys, moved, moved_ppm, expected_ppm)` —
    * `expected_ppm` is the exact new-arc share of the ring.
    */
  def ringMoves(df: DataFrame, keyCol: String, fromShards: Int,
                toShards: Int, vnodesPerShard: Int = 8,
                seed: String = "ring"): DataFrame = {
    require(fromShards >= 1 && toShards > fromShards && toShards <= 64,
      s"need 1 <= from < to <= 64, got $fromShards/$toShards")
    require(vnodesPerShard >= 1 && vnodesPerShard <= 64,
      s"vnodesPerShard must be in [1, 64], got $vnodesPerShard")
    val (posF, ownF) = ringOf(fromShards, vnodesPerShard, seed)
    val (posT, ownT) = ringOf(toShards, vnodesPerShard, seed)
    def ownerExpr(pos: Seq[Long], own: Seq[Long]): String = {
      val pArr = pos.mkString("array(", "L, ", "L)")
      val oArr = own.mkString("array(", "L, ", "L)")
      s"element_at($oArr, (size(filter($pArr, p -> p <= _kp))" +
        s" % ${pos.size}) + 1)"
    }
    // exact expected movement: the ring-arc mass owned by NEW shards
    // in the target config, over the 2^60 ring
    val ring = BigInt(1) << 60
    val arcs = posT.zip(ownT)
    val newMass = arcs.indices.map { i =>
      val start = if (i == 0) posT.last - ring else BigInt(posT(i - 1))
      (BigInt(posT(i)) - start, ownT(i))
    }.collect { case (len, owner) if owner >= fromShards => len }.sum
    val expectedPpm = (newMass * 1000000 / ring).toLong
    val assigned = df
      .select(col(keyCol).cast("string").as("_key"))
      .withColumn("_kp",
        graft.Pipeline.wordHash60(concat(lit("ringk_"), col("_key"))))
      .withColumn("_of", expr(ownerExpr(posF, ownF)))
      .withColumn("_ot", expr(ownerExpr(posT, ownT)))
    movesPanel(assigned, expectedPpm)
  }

  /** The rebalance audits' output over per-key old/new owners
    * `(_of, _ot)`: per shard `(shard, n_from, n_to)`, with the one-row
    * `(n_keys, moved, moved_ppm, expected_ppm)` summary replicated.
    */
  private def movesPanel(assigned: DataFrame, expectedPpm: Long): DataFrame = {
    val summary = assigned.agg(
      count(lit(1)).cast("long").as("n_keys"),
      count(when(col("_of") =!= col("_ot"), 1)).cast("long").as("moved"))
      .withColumn("moved_ppm",
        expr("moved * 1000000L div greatest(n_keys, 1)"))
      .withColumn("expected_ppm", lit(expectedPpm))
    val perShard = assigned
      .select(explode(array(
        struct(col("_of").as("shard"), lit(1L).as("f"), lit(0L).as("t")),
        struct(col("_ot").as("shard"), lit(0L).as("f"), lit(1L).as("t"))))
        .as("_e"))
      .groupBy(col("_e.shard").as("shard"))
      .agg(sum("_e.f").cast("long").as("n_from"),
        sum("_e.t").cast("long").as("n_to"))
    perShard.crossJoin(broadcast(summary))
  }
}
