package graft.ops

import graft.CacheScope
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact substring-level (span) deduplication — the ExactSubstr
  * modality of Lee et al. 2022, "Deduplicating Training Data Makes
  * Language Models Better": find the MAXIMAL token spans of each
  * document that also occur elsewhere in the corpus, so a curation
  * pass can cut the repeated span instead of dropping (or keeping)
  * the whole document. Complements the document-level family: exact
  * fingerprint (whole doc), MinHash/SimHash (near-dup docs),
  * winnowing (sampled fingerprints), CDC chunks (shift-tolerant
  * blocks), PPJoin (exact set similarity) — this one is POSITIONAL
  * and exact at the token level.
  *
  * Method (the suffix-array result re-expressed in joins): a token
  * span of length >= L is corpus-duplicated iff every length-L
  * window inside it is duplicated, so length-L window hashes are a
  * complete anchor set. Per document position, hash the L-token
  * window (md5-based 60-bit key — the q140/q251 integer-narrowing
  * recipe; collisions at ~1e-18/pair are the documented contract);
  * count occurrences per hash CORPUS-WIDE (intra-document repeats
  * count — a doc that repeats its own boilerplate is self-duplicated,
  * exactly Lee et al.'s setting); keep positions whose window occurs
  * >= minOcc times; merge overlapping-or-adjacent windows per
  * document (gaps-and-islands) into maximal spans.
  *
  * Scale shape: one scan-side position fan-out (bounded by corpus
  * token count — the same fan-out every shingle operator pays), one
  * hash-keyed groupBy count + one equi-join back (two exchanges on
  * the anchor key; the groupBy streams with map-side combine, so a
  * hyper-frequent anchor never buffers in one task — that is why
  * this is NOT a count-over-window), one per-document window for the
  * island merge (partition = document, bounded by doc length), one
  * grouped aggregate for the span bounds. NEVER a suffix array over
  * the corpus in one task, never a pair join: coverage is computed
  * directly from corpus-wide window counts, so the posting-pair
  * explosion PPJoin has to filter (q251's measured 2.3e9-row death)
  * cannot occur here by construction.
  *
  * `maxOcc` is a POLICY knob, not a scale guard (no pair join exists
  * to blow up): windows occurring more than `maxOcc` times are
  * ambient boilerplate (site chrome, license headers) that a
  * separate boilerplate pass owns; excluding them keeps the span
  * report about genuine inter-document copying. Default keeps
  * everything.
  *
  * Output: one row per maximal duplicated span —
  * `(<idCol>, span_start, span_end, span_tokens)`, token positions
  * 1-based, `span_end` exclusive; exact integers an oracle replays.
  */
object SpanDedup {

  /** The position fan-out + L-token window hash shared VERBATIM by
    * [[duplicatedSpans]] and the streaming twin
    * ([[graft.streaming.Streams.streamingSpanDedup]]): pos ranges over
    * 1..n-l+1 (1-based, matching the oracle's list slicing), `_h` is
    * the md5-based 60-bit window key. `keep` carries extra columns
    * (the streaming side's event-time) through the fan-out.
    */
  private[graft] def windowAnchors(docs: DataFrame, idCol: String,
                                   textCol: String, l: Int,
                                   keep: Seq[String] = Nil): DataFrame = {
    val toks = docs
      .select(col(idCol).as("_id") +: split(col(textCol), " ").as("_l") +:
        keep.map(col): _*)
      .filter(size(col("_l")) >= l)
    toks
      .select(col("_id") +:
        explode(sequence(lit(1), size(col("_l")) - l + 1)).as("pos") +:
        col("_l") +: keep.map(col): _*)
      .select(col("_id") +: col("pos") +:
        graft.Pipeline.wordHash60(
          concat_ws(" ", slice(col("_l"), col("pos"), lit(l)))).as("_h") +:
        keep.map(col): _*)
  }

  /** Maximal duplicated token spans per document (see the header). The
    * one internal cache, the position-fanned window-anchor frame, is
    * persisted through `scope`.
    */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                      l: Int, minOcc: Long = 2L,
                      maxOcc: Long = Long.MaxValue,
                      scope: CacheScope = new CacheScope): DataFrame = {
    require(l >= 2, s"window length must be >= 2, got $l")
    require(minOcc >= 2, s"minOcc must be >= 2, got $minOcc")
    // round-19 (guide §5 reuse): the anchor frame feeds BOTH the
    // corpus-wide occurrence count and the join back; Catalyst does
    // not dedup common subtrees, so uncached the position fan-out —
    // one md5 window hash per token position, the operator's kernel
    // cost — executed twice. Persist the narrow (_id, pos, _h) frame
    // once; MEMORY_AND_DISK spills at the decades where the fan-out
    // outgrows memory.
    val anchors = scope.persist(windowAnchors(docs, idCol, textCol, l),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // corpus-wide occurrence count per window hash: groupBy (map-side
    // combine) + join back, NOT count-over-window — a window would
    // buffer a hyper-frequent anchor's whole partition in one task
    val occ = anchors.groupBy("_h")
      .agg(count(lit(1)).as("_occ"))
      .filter(col("_occ") >= minOcc && col("_occ") <= maxOcc)
    val dup = anchors.join(occ, "_h").select("_id", "pos")
    // gaps-and-islands per document: a window starting at pos merges
    // into the running span when it overlaps OR is adjacent to it
    // (pos <= max previous end); NULL prev-end (first window) opens
    // an island via the otherwise-branch in both engines
    val wPrev = Window.partitionBy("_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy("_id").orderBy("pos")
    dup
      .withColumn("_prev_end", max(col("pos") + l).over(wPrev))
      .withColumn("_new",
        when(col("pos") <= col("_prev_end"), 0).otherwise(1))
      .withColumn("_island", sum(col("_new")).over(wRun))
      .groupBy(col("_id").as(idCol), col("_island"))
      .agg(min("pos").cast("long").as("span_start"),
        (max("pos") + l).cast("long").as("span_end"))
      .withColumn("span_tokens", col("span_end") - col("span_start"))
      .select(idCol, "span_start", "span_end", "span_tokens")
  }
}
