package graft

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Curation queries: exact n-gram decontamination, bigram-model
  * information scoring, BPE merge-pair mining and tokenizer training,
  * target-distribution mixing, embedding-diversity audit, degenerate-
  * repetition screening, quantile bucketing, host and URL policy,
  * ExactSubstr span-level dedup (q264/q266/q267), and the multimodal
  * near-dup family over one stub-decoded media corpus — image pHash
  * (q151), cross-modal agreement (q162), video frame vote and banded
  * near-dup (q163/q303), audio banded near-dup (q305).
  *
  * Same oracle discipline as PipelineQueries/AnalysisQueries: integer
  * arithmetic wherever a float would be order- or rounding-sensitive
  * (bit-length for log2, ppm/micro-unit divisions, md5-hash
  * determinism), and every DuckDB mirror replays the identical math.
  */
object CurationQueries {
  import Tables._
  import OracleSql.{canonUrlCtes, chunk16Cte, cos, dhashSig, hamming64, hash32,
    hash60, host, simhash64PairsSql}

  // Oracle mirror of ops.TextStats.bpeTrain's k-iteration loop,
  // mechanically unrolled (the q148 unrolled-PageRank technique):
  // v0 = framed word-frequency table ("ab" -> "<a><b>"); per step i,
  // p_i = adjacent-symbol pair counts, b_i = the (n desc, l, r) argmax,
  // v_i = one literal replace applying the merge (left-to-right
  // non-overlapping — the greedy BPE rule, same builtin both engines).
  private def bpeCtes(k: Int): String = {
    val head = """
        v0 AS (SELECT regexp_replace(w, '(.)', '<\1>', 'g') AS s,
                      CAST(COUNT(*) AS BIGINT) AS n_w
               FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
               GROUP BY 1)"""
    val iters = (1 to k).map { i => s"""
        p$i AS (SELECT p.l AS l, p.r AS r, CAST(SUM(n_w) AS BIGINT) AS n
                FROM (SELECT unnest([{'l': sy[j], 'r': sy[j+1]}
                                     for j in range(1, len(sy))]) AS p, n_w
                      FROM (SELECT string_split(substr(s, 2, length(s) - 2),
                                                '><') AS sy, n_w
                            FROM v${i - 1}))
                GROUP BY p.l, p.r),
        b$i AS (SELECT CAST($i AS BIGINT) AS step, l, r, l || r AS merged, n
                FROM p$i ORDER BY n DESC, l, r LIMIT 1),
        v$i AS (SELECT replace(v.s, '<' || b.l || '><' || b.r || '>',
                               '<' || b.merged || '>') AS s, v.n_w
                FROM v${i - 1} v CROSS JOIN b$i b)"""
    }.mkString(",")
    head + "," + iters
  }

  private def bpeUnion(k: Int): String =
    (1 to k).map(i => s"SELECT * FROM b$i").mkString(" UNION ALL ")

  private val BpeMerges = 8

  // KMV sketch width for q159 — small enough that the oracle's window
  // replay stays cheap, large enough that ~700 distinct bigrams per
  // source engage the estimator branch (n >= k).
  private val KmvK = 64

  // Oracle mirror of ops.TextStats.bpeSegmentCounts' vocabulary table:
  // ms = the ordered merge list, vt = per-distinct-word subword count
  // after folding all k merges (shared by q150 and q154).
  private val BpeVtCtes: String = s"""
        ms AS (SELECT list(l || ' ' || r ORDER BY step) AS ms
               FROM (${bpeUnion(BpeMerges)})),
        vt AS (SELECT w, CAST(length(f) - length(replace(f, '<', ''))
                 AS BIGINT) AS n_sym
               FROM (SELECT w, list_reduce(
                       list_prepend(regexp_replace(w, '(.)', '<\\1>', 'g'),
                                    ms.ms),
                       (acc, x) -> replace(acc,
                         '<' || split_part(x, ' ', 1) || '><'
                             || split_part(x, ' ', 2) || '>',
                         '<' || replace(x, ' ', '') || '>')) AS f
                     FROM (SELECT DISTINCT unnest(string_split(text, ' ')) AS w
                           FROM documents)
                          CROSS JOIN ms))"""

  // q156 encoding-QA plants (the q151 discipline: fixed ids, text
  // shared character-for-character by engine and oracle). One per
  // broken-decode signature; Scala unicode escapes here, chr()
  // composition in the SQL via [[sqlStr]].
  private val EncPlantRepl = "clean prefix \ufffd\ufffd then more text"
  private val EncPlantMoji = "latin1 mirror \u00c3\u00a9 and \u00c2\u00a0 tail"
  private val EncPlantCtrl = "ctl \u0000 bell \u0007 esc \u001b end \u009d"

  // Render a Scala string as a DuckDB expression producing the IDENTICAL
  // string: printable-ASCII runs as literals, everything else (and
  // quotes) as chr(codepoint) — control characters never appear raw in
  // the SQL text, so the verify dump's JSON stays clean.
  private def sqlStr(s: String): String = {
    val parts = scala.collection.mutable.Buffer.empty[String]
    val sb = new StringBuilder
    def flush(): Unit =
      if (sb.nonEmpty) { parts += "'" + sb.toString + "'"; sb.clear() }
    s.foreach { c =>
      if (c >= ' ' && c < 127 && c != '\'') sb.append(c)
      else { flush(); parts += s"chr(${c.toInt})" }
    }
    flush()
    parts.mkString(" || ")
  }

  // Synthetic per-doc URL for the host-curation family (the corpus has
  // no URL column — the derivation is the multimodal-stub discipline:
  // deterministic, shared VERBATIM by engine and oracle, exercising
  // scheme/userinfo/mixed-case-host/port variation so the extraction
  // regex earns its groups). ~7 hosts per source.
  private val SynthUrlSql = """
        (CASE WHEN doc_id % 3 = 0 THEN 'http' ELSE 'https' END) || '://' ||
        (CASE WHEN doc_id % 11 = 0 THEN 'crawler:pw@' ELSE '' END) ||
        source || '-' || CAST(doc_id % 7 AS STRING) || '.Example.COM' ||
        (CASE WHEN doc_id % 5 = 0 THEN ':8080' ELSE '' END) ||
        '/docs/' || CAST(doc_id AS STRING)"""

  // q160 synthetic URLs: canonical VARIANTS of a smaller set of
  // resources — scheme case, www., default ports (:80/:443 — dropped)
  // vs a real :8443 (kept), a trailing slash, a fragment. doc_id and
  // doc_id+100 always canonicalize identically while differing in
  // www./slash/fragment dressing, so every rule participates in a
  // collapsed group. Shared verbatim by engine and oracle.
  private val CanonUrlSynthSql = """
        (CASE WHEN doc_id % 4 = 1 THEN 'HTTP'
              WHEN doc_id % 4 = 0 THEN 'http' ELSE 'https' END) || '://' ||
        (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END) ||
        (CASE WHEN doc_id % 2 = 0 THEN 'Site' ELSE 'site' END) ||
        CAST(doc_id % 25 AS STRING) || '.example.com' ||
        (CASE WHEN doc_id % 4 = 0 THEN ':80' WHEN doc_id % 4 = 2 THEN ':443'
              WHEN doc_id % 4 = 3 THEN ':8443' ELSE '' END) ||
        '/Page/' || CAST(doc_id % 2 AS STRING) ||
        (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END) ||
        (CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END)"""

  // q161 synthetic URLs: three registrable domains, one in five docs on
  // a cdnN. subdomain — so the suffix-blocklist gate must catch both a
  // whole domain (with its subdomains) and one exact host.
  private val BlockUrlSynthSql = """
        'https://' ||
        (CASE WHEN doc_id % 5 = 0
              THEN 'cdn' || CAST(doc_id % 4 AS STRING) || '.' ELSE '' END) ||
        (CASE WHEN doc_id % 3 = 0 THEN 'spamfarm.biz'
              WHEN doc_id % 3 = 1 THEN 'goodsite.org' ELSE 'mixed.net' END) ||
        '/p/' || CAST(doc_id AS STRING)"""

  // q165 synthetic HTML wrapper: script+style junk, a heading, the doc
  // text in a <p>, one link whose visible text carries entities, an
  // &nbsp; — every htmlExtract rule participates. Shared verbatim.
  private val HtmlSynthSql = """
        '<html><head><style>p{}</style><script>var x=1;</script></head><body><h1>T ' ||
        CAST(doc_id AS STRING) || '</h1><p>' || text || '</p><a href="/l/' ||
        CAST(doc_id % 9 AS STRING) || '">' || source ||
        ' more &amp; more</a>&nbsp;tail</body></html>'"""

  // q168 script plants (unicode escapes here, chr() composition in the
  // oracle via [[sqlStr]] — identical code points both sides).
  private val ScriptPlantCjk =
    "\u6df1\u5ea6 \u5b66\u4e60 \u6a21\u578b \u8bad\u7ec3 \u6570\u636e"
  private val ScriptPlantCyr =
    "\u043e\u0431\u0443\u0447\u0435\u043d\u0438\u0435 " +
      "\u043c\u043e\u0434\u0435\u043b\u0435\u0439 \u043d\u0430 " +
      "\u0434\u0430\u043d\u043d\u044b\u0445 \u0432\u0430\u0436\u043d\u043e"
  private val ScriptPlantMix =
    "model \u5b66\u4e60 \u043e\u0431\u0443\u0447\u0435\u043d\u0438\u0435 " +
      "123 train"

  // q167 synthetic HTML: the tag SKELETON varies on doc_id % 3 (nav
  // block) and % 4 (image+caption) -> four template families whose
  // member texts all differ. Shared verbatim.
  private val HtmlTemplSql = """
        '<html><body><h1>t</h1>' ||
        (CASE WHEN doc_id % 3 = 0
              THEN '<nav><a href="/">home</a></nav>' ELSE '' END) ||
        '<p>' || text || '</p>' ||
        (CASE WHEN doc_id % 4 = 0
              THEN '<img src="/i.png"/><p>cap</p>' ELSE '' END) ||
        '</body></html>'"""

  // Oracle mirror of ops.Web.htmlExtract's clean chain (DuckDB needs
  // the 'g' flag for global regexp_replace; Spark is global already).
  private[graft] def htmlDecodeSql(e: String): String =
    Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "''", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(e) { case (acc, (from, to)) =>
        s"replace($acc, '$from', '$to')" }
  private[graft] def htmlCleanSql(e: String): String =
    s"""trim(regexp_replace(${htmlDecodeSql(
      s"regexp_replace($e, '<[^>]*>', ' ', 'g')")}, '\\s+', ' ', 'g'))"""

  // q163 planted "videos": 97 bytes -> 7 stub frames of 13 disjoint
  // bytes each, sampled frames 0/2/4/6. B edits ONE byte (offset 26,
  // inside frame 2's slice — chosen so a gradient comparison actually
  // crosses) and exactly one sampled frame's signature flips: A/B
  // share 3 of 4 frames; C repeats A exactly (shares 4).
  private val VideoPlantA =
    "the quick brown fox jumps over the lazy dog while seven wizards brew strong potions at dawnxxxxxx"
  private val VideoPlantB =
    "the quick brown fox jumps Qver the lazy dog while seven wizards brew strong potions at dawnxxxxxx"

  // q151 planted near-dup "images" (101-byte ASCII payloads; the stub
  // decode samples byte (k*37) mod len as pixel k). B differs from A in
  // ONE byte (offset 50) -> at most 2 dHash bits flip; the third plant
  // repeats A exactly (distance 0). Ids sit in the 910001+ range, clash
  // -checked like q101's plants.
  private val PhashPlantA =
    "the quick brown fox jumps over the lazy dog while seven wizards brew strong potions at dawnxxxxxxxxxx"
  private val PhashPlantB =
    "the quick brown fox jumps over the lazy dog while Qeven wizards brew strong potions at dawnxxxxxxxxxx"
  private val PhashPlants =
    Seq(910001L -> PhashPlantA, 910002L -> PhashPlantB, 910003L -> PhashPlantA)
  private val VideoPlants =
    Seq(930001L -> VideoPlantA, 930002L -> VideoPlantB, 930003L -> VideoPlantA)

  /** The media corpus the multimodal queries (q151, q162, q163, q238,
    * q303, q305) decode: every document's text as a binary payload,
    * plus `plants` — `(id, payload)` witnesses past the corpus id
    * range, collision-guarded in the plan by [[Tables.guardPlantIds]].
    * `mediaCorpusSql` is the oracle's `corpus` CTE over the same rows.
    */
  private[graft] def mediaCorpus(s: SparkSession, d: String,
      plants: Seq[(Long, String)] = Nil): Dataset[Multimodal.MediaDoc] = {
    import s.implicits._
    val docs = spread(documents(s, d))
    val corpus =
      if (plants.isEmpty) docs
      else guardPlantIds(docs.select("doc_id", "text"), plants.map(_._1))
        .unionAll(plants.toDF("doc_id", "text"))
    corpus.select(col("doc_id"), col("text").cast("binary").as("content"))
      .as[Multimodal.MediaDoc]
  }
  private def mediaCorpusSql(plants: Seq[(Long, String)]): String =
    plants.map { case (id, text) => s"(CAST($id AS BIGINT), '$text')" }
      .mkString("""
        WITH corpus AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT * FROM (VALUES
            """, ",\n            ", ") v(doc_id, text)),")

  /** The video frame signatures (q163, q303), mirror of
    * [[Multimodal.frameSignatures]] over the `corpus` CTE: `nf = 1 +
    * len % 7` disjoint slices of `sl = len / nf` bytes, every second
    * frame sampled at 72 stub pixels, as `sig(doc_id, i, lo, hi)`.
    */
  private val frameSigCtes = s"""
        m AS (SELECT doc_id, text,
                     1 + (octet_length(CAST(text AS BLOB)) % 7) AS nf,
                     octet_length(CAST(text AS BLOB))
                       // (1 + (octet_length(CAST(text AS BLOB)) % 7)) AS sl
              FROM corpus),
        f AS (SELECT doc_id, text, sl, unnest(range(0, nf, 2)) AS i FROM m),
        px AS (SELECT doc_id, CAST(i AS INTEGER) AS i,
                 [CASE WHEN sl = 0 THEN 0
                       ELSE ascii(substr(text, i*sl + ((k*37) % sl) + 1, 1)) END
                  for k in range(0, 72)] AS p
               FROM f),
        sig AS (SELECT doc_id, i,$dhashSig
                FROM px)"""

  /** The banded frame near-dup oracle tail (q303, q305) over per-frame
    * signatures `sig(doc_id, i, lo, hi)`: 4 sixteen-bit chunks, the
    * df cap, position-free chunk matches verified by popcount
    * distance <= 3, and the >= 2 close a-side frames vote.
    */
  private val frameBandTailSql = chunk16Cte("doc_id, i") + s""",
        okc AS (SELECT ch.* FROM ch
                JOIN (SELECT c, chunk FROM ch GROUP BY c, chunk
                      HAVING COUNT(*) <= 1000) k
                  ON ch.c = k.c AND ch.chunk = k.chunk),
        mt AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id,
                      x.i AS fa, y.i AS fb
               FROM okc x JOIN okc y
                 ON x.c = y.c AND x.chunk = y.chunk
                    AND x.doc_id < y.doc_id
               WHERE $hamming64 <= 3)
        SELECT a_id, b_id, CAST(COUNT(DISTINCT fa) AS BIGINT) AS n_close
        FROM mt GROUP BY a_id, b_id HAVING COUNT(DISTINCT fa) >= 2
        ORDER BY a_id, b_id"""

  // Shared q264/q266/q267 oracle scaffolding: the planted-copy corpus
  // (source travels for q267's profile; wl/spq ignore it) and the
  // span pipeline — window hashes, corpus-wide counts, islands.
  private val CorpusCte = """
        corpus AS (SELECT doc_id, text, source FROM documents
                UNION ALL SELECT 9100001, 'a0 a1 d0 d1 d2 d3 d4 d5 d6 d7 d8 d9 da db a2 a3', 'planted'
                UNION ALL SELECT 9100002, 'b0 b1 b2 d0 d1 d2 d3 d4 d5 d6 d7 d8 d9 da db b3', 'planted')"""

  private def spanCtes: String = s"""
        wl AS (SELECT doc_id AS id, string_split(text, ' ') AS l FROM corpus),
        pp AS (SELECT id, l, unnest(range(1, len(l) - 6)) AS pos
               FROM wl WHERE len(l) >= 8),
        an AS (SELECT id, pos,
                 ${hash60("array_to_string(l[pos:pos+7], ' ')")} AS h
               FROM pp),
        oc AS (SELECT h, COUNT(*) AS occ FROM an GROUP BY h),
        du AS (SELECT id, pos FROM an JOIN oc USING (h) WHERE occ >= 2),
        fl AS (SELECT id, pos,
                 CASE WHEN pos <= MAX(pos + 8) OVER (PARTITION BY id
                   ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING) THEN 0 ELSE 1 END AS f
               FROM du),
        il AS (SELECT id, pos,
                 SUM(f) OVER (PARTITION BY id ORDER BY pos) AS island
               FROM fl),
        spq AS (SELECT id, CAST(MIN(pos) AS BIGINT) AS span_start,
                  CAST(MAX(pos) + 8 AS BIGINT) AS span_end
                FROM il GROUP BY id, island)"""

  private def plantedCorpus(s: org.apache.spark.sql.SparkSession,
                            d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    spread(documents(s, d)).select("doc_id", "text", "source")
      .unionAll(Seq(
        (9100001L, "a0 a1 d0 d1 d2 d3 d4 d5 d6 d7 d8 d9 da db a2 a3",
          "planted"),
        (9100002L, "b0 b1 b2 d0 d1 d2 d3 d4 d5 d6 d7 d8 d9 da db b3",
          "planted"))
        .toDF("doc_id", "text", "source"))
  }

  /** ExactSubstr span-level dedup ([[ops.SpanDedup.duplicatedSpans]]):
    * maximal token spans covered by a corpus-duplicated 8-token
    * window, merged per document. Two planted docs share a 12-token
    * run embedded at DIFFERENT offsets in different surroundings —
    * document-level dedup scores them low (4/16 words differ plus
    * order), span-level flags exactly the copied run: [3,15) and
    * [4,16). The oracle replays window hashes, corpus-wide counts,
    * and the gaps-and-islands merge verbatim.
    */
  private lazy val q264: QueryDef =
    QueryDef("q264_exact_substr_spans",
      Some(s"""
        WITH $CorpusCte, $spanCtes
        SELECT id AS doc_id, span_start, span_end,
               span_end - span_start AS span_tokens
        FROM spq
        ORDER BY doc_id, span_start"""),
      (s, d) =>
        graft.ops.SpanDedup.duplicatedSpans(plantedCorpus(s, d),
            "doc_id", "text", l = 8)
          .orderBy("doc_id", "span_start"))

  /** ExactSubstr REMOVAL — the composition Lee et al. actually run:
    * cut every corpus-duplicated span out of the text and re-emit the
    * cleaned corpus (plus how much was cut). Engine shape: q264's
    * spans collected per doc (few per doc) joined back on doc_id, one
    * scan-side token filter against the bounded span list — no second
    * corpus shuffle. The oracle takes the INDEPENDENT route (position
    * fan-out, cover anti-join, ordered string_agg), so the two
    * formulations check each other.
    */
  private lazy val q266: QueryDef =
    QueryDef("q266_exact_substr_removal",
      Some(s"""
        WITH $CorpusCte, $spanCtes,
        tp AS (SELECT id, unnest(range(1, len(l) + 1)) AS pos, l FROM wl),
        tp2 AS (SELECT id, pos, l[pos] AS t FROM tp),
        cov AS (SELECT DISTINCT t.id, t.pos FROM tp2 t JOIN spq s
                ON s.id = t.id AND t.pos >= s.span_start
                   AND t.pos < s.span_end),
        kept AS (SELECT t.id, t.pos, t.t FROM tp2 t
                 LEFT JOIN cov c ON c.id = t.id AND c.pos = t.pos
                 WHERE c.pos IS NULL),
        agg AS (SELECT id, COUNT(*) AS n_kept,
                  string_agg(t, ' ' ORDER BY pos) AS clean_text
                FROM kept GROUP BY id)
        SELECT w.id AS doc_id, CAST(len(w.l) AS BIGINT) AS n_tokens,
               CAST(len(w.l) - COALESCE(a.n_kept, 0) AS BIGINT)
                 AS n_removed_tokens,
               COALESCE(a.clean_text, '') AS clean_text
        FROM wl w LEFT JOIN agg a ON a.id = w.id
        ORDER BY doc_id"""),
      (s, d) => {
        val corpus = plantedCorpus(s, d)
        val spans = graft.ops.SpanDedup.duplicatedSpans(corpus,
          "doc_id", "text", l = 8)
        val spanArr = spans.groupBy("doc_id")
          .agg(collect_list(struct(col("span_start"), col("span_end")))
            .as("_spans"))
        corpus.join(spanArr, Seq("doc_id"), "left")
          .withColumn("_l", split(col("text"), " "))
          .withColumn("_kept", expr(
            "filter(transform(_l, (x, i) -> " +
              "struct(x AS t, CAST(i + 1 AS BIGINT) AS p)), " +
              "s -> _spans IS NULL OR NOT exists(_spans, " +
              "sp -> s.p >= sp.span_start AND s.p < sp.span_end))"))
          .select(col("doc_id"),
            size(col("_l")).cast("long").as("n_tokens"),
            (size(col("_l")) - size(col("_kept"))).cast("long")
              .as("n_removed_tokens"),
            array_join(expr("transform(_kept, s -> s.t)"), " ")
              .as("clean_text"))
          .orderBy("doc_id")
      })

  /** Span-duplication PROFILE by source — the curation dashboard
    * number behind the q266 cut: per source, docs, flagged docs,
    * token totals, duplicated-token ppm. One bounded aggregate over
    * q264's spans joined to the corpus dimension row.
    */
  private lazy val q267: QueryDef =
    QueryDef("q267_span_dup_profile",
      Some(s"""
        WITH $CorpusCte, $spanCtes,
        ds AS (SELECT id, SUM(span_end - span_start) AS dup_tokens
               FROM spq GROUP BY id),
        dt AS (SELECT w.id, len(w.l) AS n_tokens,
                 COALESCE(ds.dup_tokens, 0) AS dup_tokens
               FROM wl w LEFT JOIN ds ON ds.id = w.id)
        SELECT c.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN dt.dup_tokens > 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_docs_flagged,
               CAST(SUM(dt.n_tokens) AS BIGINT) AS n_tokens,
               CAST(SUM(dt.dup_tokens) AS BIGINT) AS n_dup_tokens,
               CAST(SUM(dt.dup_tokens) * 1000000 // SUM(dt.n_tokens)
                 AS BIGINT) AS dup_ppm
        FROM dt JOIN corpus c ON c.doc_id = dt.id
        GROUP BY c.source
        ORDER BY c.source"""),
      (s, d) => {
        val corpus = plantedCorpus(s, d)
        val perDoc = graft.ops.SpanDedup.duplicatedSpans(corpus,
            "doc_id", "text", l = 8)
          .groupBy("doc_id")
          .agg(sum(col("span_end") - col("span_start")).as("_dup"))
        corpus
          .withColumn("_nt", size(split(col("text"), " ")).cast("long"))
          .join(perDoc, Seq("doc_id"), "left")
          .withColumn("_dup", coalesce(col("_dup"), lit(0L)))
          .groupBy("source")
          .agg(count(lit(1)).cast("long").as("n_docs"),
            sum(when(col("_dup") > 0, 1).otherwise(0)).cast("long")
              .as("n_docs_flagged"),
            sum(col("_nt")).cast("long").as("n_tokens"),
            sum(col("_dup")).cast("long").as("n_dup_tokens"))
          .withColumn("dup_ppm",
            expr("n_dup_tokens * 1000000L div n_tokens"))
          .orderBy("source")
      })

  // q303 planted "videos" (97-byte payloads; the stub decoder reads
  // nf = 1 + 97 % 7 = 7 frames of slice 13, sampling frames 0/2/4/6):
  // B = A with one byte edited inside frame 2 (frames 0/4/6 survive at
  // distance 0; frame 2's signature moves > 3 bits), D = A rotated
  // left by TWO slices — the cross-container plant: D's sampled frame
  // i carries A's frame i+2, so D0~A2, D2~A4, D4~A6 match at distance
  // 0 but at DIFFERENT positions, which the exact q163 vote cannot
  // see. Ids sit beyond the corpus range and beyond q163's plants.
  private val BandPlants = Seq(940001L -> VideoPlantA, 940002L -> VideoPlantB,
    940003L ->
      "over the lazy dog while seven wizards brew strong potions at dawnxxxxxxthe quick brown fox jumps")

  /** Banded cross-container video near-dup
    * ([[Multimodal.frameSignatures]] ->
    * [[Multimodal.frameBandNearDup]]): per-frame dHash signatures band
    * into 4 sixteen-bit chunks (the simhash64 pigeonhole — distance
    * <= 3 forces a shared chunk), frame pairs meet POSITION-FREE on
    * (chunk_idx, chunk) under a df cap, verify by exact popcount
    * distance, and videos pair on >= 2 distinct close a-side frames.
    * Plants: (A,B) re-encode (3 same-position frames), (A,D) remux
    * (3 SHIFTED frames — invisible to q163), (B,D) both (2 frames).
    * The oracle replays slicing, signatures, banding, the cap, the
    * popcount verify, and the vote.
    */
  private lazy val q303: QueryDef =
    QueryDef("q303_video_band_neardup",
      Some(mediaCorpusSql(BandPlants) + frameSigCtes + "," + frameBandTailSql),
      (s, d) => {
        val media = mediaCorpus(s, d, BandPlants)
        Multimodal.frameBandNearDup(
            Multimodal.frameSignatures(media), "doc_id",
            maxDist = 3, minShared = 2)
          .orderBy("a_id", "b_id")
      })

  // q305 planted "audio clips" (97-byte payloads; the stub decoder
  // reads frame i's energy as byte (i*37) mod 97, 128 frames): B = A
  // with ONE byte edited (a re-encode-shaped localized change — each
  // contour window crossing the two affected frames moves <= 2 bits),
  // D = A rotated left by 5 bytes, which under the stub's (i*37) mod
  // 97 walk is EXACTLY an 8-frame shift of A's energy sequence
  // (37*8 = 296 = 5 mod 97) — the trim/remux plant: D's windows equal
  // A's at positions offset by one stride, invisible to any
  // same-position vote, caught position-free. Verified by simulation:
  // (A,B) pairs at 8 a-side windows, (A,D) at 7, (B,D) at 7.
  private val AudPlantA =
    "silver drums echo across the midnight harbor while nine quiet sailors hum a slow farewell tunexx" + "x"
  require(AudPlantA.length == 97 && AudPlantA(40) != 'Q',
    "q305 plant must be 97 bytes with a real byte-40 edit")
  private val AudPlants = Seq(950001L -> AudPlantA,
    950002L -> AudPlantA.updated(40, 'Q'),
    950003L -> (AudPlantA.substring(5) + AudPlantA.substring(0, 5)))

  /** Banded audio near-dup ([[Multimodal.audioFrameEnergies]] ->
    * [[Multimodal.audioContourSignatures]] ->
    * [[Multimodal.frameBandNearDup]]) — the modality that completes
    * the near-dup set (image q151 pHash, video q163 exact vote + q303
    * banded): 65-frame energy-CONTOUR windows (bit = energy rises,
    * gain-invariant) at stride 8 band into 4 sixteen-bit chunks, meet
    * position-free under the df cap, verify by exact popcount, and
    * clips pair on >= 2 distinct close a-side windows. The oracle
    * replays the stub byte walk, the contour fold, the banding, the
    * cap, and the vote over the documents corpus plus the three
    * plants.
    */
  private lazy val q305: QueryDef =
    QueryDef("q305_audio_band_neardup",
      Some(mediaCorpusSql(AudPlants) + s"""
        m AS (SELECT doc_id, text,
                     octet_length(CAST(text AS BLOB)) AS len FROM corpus),
        e AS (SELECT doc_id,
                [CASE WHEN len = 0 THEN 0
                      ELSE ascii(substr(text, ((k*37) % len) + 1, 1)) END
                 for k in range(0, 128)] AS es
              FROM m),
        w AS (SELECT doc_id, es, unnest(range(0, 64, 8)) AS s FROM e),
        sig AS (SELECT doc_id, CAST(s AS INTEGER) AS i,
                  CAST(list_sum([CASE WHEN es[s + k + 2] > es[s + k + 1]
                        THEN (CAST(1 AS BIGINT) << k) ELSE 0 END
                        for k in range(0, 32)]) AS BIGINT) AS lo,
                  CAST(list_sum([CASE WHEN es[s + k + 2] > es[s + k + 1]
                        THEN (CAST(1 AS BIGINT) << (k - 32)) ELSE 0 END
                        for k in range(32, 64)]) AS BIGINT) AS hi
                FROM w),""" + frameBandTailSql),
      (s, d) => {
        val media = mediaCorpus(s, d, AudPlants)
        Multimodal.frameBandNearDup(
            Multimodal.audioContourSignatures(
              Multimodal.audioFrameEnergies(media, nFrames = 128).toDF(),
              stride = 8),
            "doc_id", maxDist = 3, minShared = 2)
          .orderBy("a_id", "b_id")
      })

  val all: Seq[QueryDef] = Seq(q264, q266, q267, q303, q305,

    // EXACT n-gram decontamination ([[Dedup.exactNgramOverlap]]): per
    // train doc, the count of its distinct 4-grams appearing anywhere
    // in the eval corpus (source 'src0' plays the eval set, as in
    // q61). Membership is exact — no LSH banding lottery; recall at
    // the n-gram definition is 1.0 by construction. Both sides join on
    // the 60-bit gram hash (8 B through the shuffle), and the oracle
    // replays the hashed join verbatim. n=4 is this corpus's operating
    // point (3-grams flag every doc, 5-grams almost none — production
    // corpora with real sentences run n=8..13).
    QueryDef("q140_exact_decontamination",
      Some(s"""
        WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
        sh AS (SELECT doc_id, source,
                 list_distinct([array_to_string(w[i:i+3], ' ') for i in range(1, len(w)-2)]) AS grams
               FROM w WHERE len(w) >= 4),
        ev AS (SELECT DISTINCT ${hash60("g")} AS e
               FROM (SELECT unnest(grams) AS g FROM sh WHERE source = 'src0')),
        tr AS (SELECT doc_id, ${hash60("g")} AS h
               FROM (SELECT doc_id, unnest(grams) AS g FROM sh WHERE source <> 'src0'))
        SELECT tr.doc_id AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit
        FROM tr JOIN ev ON tr.h = ev.e
        GROUP BY tr.doc_id ORDER BY doc_id"""),
      (s, d) => {
        val docs = spread(documents(s, d))
        Dedup.exactNgramOverlap(
          docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"),
          "doc_id", "text", n = 4)
          .orderBy("doc_id")
      }),

    // Bigram-model information score ([[ops.TextStats
    // .bigramInformationScore]]): per-doc conditional self-information
    // under the corpus MLE bigram model, in integer bit-length charges
    // (floor(log2(c_left / c_ab)) per pair occurrence) — the
    // order-sensitive, perplexity-shaped sibling of q95's unigram
    // score, with the identical no-libm discipline. The window SUMs
    // cast back to BIGINT (DuckDB types them HUGEINT).
    QueryDef("q141_bigram_info",
      Some("""
        WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        bg AS (SELECT doc_id, unnest(w[1:len(w)-1]) AS l,
                       unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS bg
               FROM w WHERE len(w) >= 2),
        tf AS (SELECT doc_id, l, bg, CAST(COUNT(*) AS BIGINT) AS tf
               FROM bg GROUP BY doc_id, l, bg),
        f AS (SELECT doc_id, tf,
                CAST(SUM(tf) OVER (PARTITION BY bg) AS BIGINT) AS cab,
                CAST(SUM(tf) OVER (PARTITION BY l) AS BIGINT) AS cl
              FROM tf)
        SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
               CAST(SUM(tf * (length(bin(cl // cab)) - 1)) AS BIGINT) AS bits,
               (1000 * CAST(SUM(tf * (length(bin(cl // cab)) - 1)) AS BIGINT))
                 // CAST(SUM(tf) AS BIGINT) AS mean_millibits
        FROM f GROUP BY doc_id ORDER BY doc_id"""),
      (s, d) => graft.ops.TextStats.bigramInformationScore(
        spread(documents(s, d)), "doc_id", "text").orderBy("doc_id")),

    // BPE merge-candidate mining ([[ops.TextStats.bpePairCounts]]):
    // the first byte-pair-encoding training iteration — adjacent
    // char-pair counts weighted by word frequency over the
    // vocabulary-sized word-frequency table, top-20 (count desc, pair
    // asc). All integer; the pair explode touches each DISTINCT word
    // once regardless of its corpus frequency.
    QueryDef("q142_bpe_pairs",
      Some("""
        WITH wc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n_w
                    FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
                    GROUP BY w),
        p AS (SELECT unnest([substr(w, i, 2) for i in range(1, len(w))]) AS pair, n_w
              FROM wc WHERE len(w) >= 2)
        SELECT pair, CAST(SUM(n_w) AS BIGINT) AS n
        FROM p GROUP BY pair ORDER BY n DESC, pair LIMIT 20"""),
      (s, d) => graft.ops.TextStats.bpePairCounts(
        spread(documents(s, d)), "text", k = 20)),

    // Target-distribution mix ([[ops.Sampling.targetMix]]): the
    // LARGEST selection matching a 50/15/15/10/10 language target —
    // feasible volume T = min_s floor(n_s*1e6/ppm_s), per-stratum
    // quotas (T*ppm_s) div 1e6, rows chosen by md5-slot priority with
    // id tiebreak on the hierarchical prefix-sum scaffold (a DIFFERENT
    // quota per stratum, which fixed-k heaps can't express). All
    // integer; the oracle replays T, the quotas, and the slot order.
    QueryDef("q143_target_mix",
      Some(s"""
        WITH tg AS (SELECT * FROM (VALUES ('en', 500000), ('zh', 150000),
                      ('es', 150000), ('de', 100000), ('fr', 100000)) AS v(lang, ppm)),
        n AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_s FROM documents GROUP BY lang),
        t AS (SELECT MIN((n.n_s * 1000000) // tg.ppm) AS t FROM tg JOIN n USING (lang)),
        q AS (SELECT tg.lang, (t.t * tg.ppm) // 1000000 AS quota FROM tg CROSS JOIN t),
        r AS (SELECT doc_id, lang,
                ROW_NUMBER() OVER (PARTITION BY lang
                  ORDER BY ${hash32("CAST(doc_id AS VARCHAR)")} % 1000000, doc_id) AS rn
              FROM documents)
        SELECT r.doc_id, r.lang, CAST(r.rn AS BIGINT) AS mix_rank
        FROM r JOIN q ON r.lang = q.lang AND r.rn <= q.quota
        ORDER BY doc_id"""),
      (s, d) => graft.ops.Sampling.targetMix(
          spread(documents(s, d)), "doc_id", "lang",
          Seq(("en", 500000), ("zh", 150000), ("es", 150000),
            ("de", 100000), ("fr", 100000)))
        .select(col("doc_id"), col("lang"), col("mix_rank"))
        .orderBy("doc_id"))  ,

    // Embedding-diversity audit ([[Similarity.embeddingDiversity]]):
    // the exact sum of all pairwise dots in closed form
    // (||sum v||^2 - sum ||v||^2) — two scans + a 64-row aggregate,
    // never the n^2 pair join. Elements floor-quantized to micro-units
    // (floor, not cast: Spark truncates, DuckDB rounds), per-dim sums
    // squared through DECIMAL/HUGEINT; no division anywhere.
    QueryDef("q144_embedding_diversity",
      Some("""
        WITH e AS (SELECT list_transform(embedding,
                     x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS e
                   FROM embeddings),
        pd AS (SELECT d, SUM(e[d]) AS s
               FROM e CROSS JOIN (SELECT unnest(range(1, 65)) AS d) GROUP BY d),
        ss AS (SELECT SUM(CAST(s AS HUGEINT) * CAST(s AS HUGEINT)) AS ss FROM pd),
        sd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
                      CAST(SUM(list_reduce(list_transform(e, x -> x * x),
                               (a, b) -> a + b)) AS BIGINT) AS self_dot_e12
               FROM e)
        SELECT n_vecs, self_dot_e12,
               CAST(CAST(ss - self_dot_e12 AS DECIMAL(38,0)) AS VARCHAR)
                 AS pair_dot_sum_e12
        FROM sd CROSS JOIN ss"""),
      (s, d) => Similarity.embeddingDiversity(
        spread(embeddings(s, d)), "embedding")),

    // Degenerate-repetition screen ([[ops.TextStats.maxTokenRun]]):
    // longest identical-token run per doc, computed in one scan-side
    // HOF fold (zero shuffle); the oracle replays it as
    // gaps-and-islands with the same first-longest tiebreak.
    QueryDef("q145_max_token_run",
      Some("""
        WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w,
                          unnest(range(1, len(string_split(text, ' ')) + 1)) AS i
                   FROM documents),
        g AS (SELECT doc_id, w, i,
                     i - ROW_NUMBER() OVER (PARTITION BY doc_id, w ORDER BY i) AS grp
              FROM t),
        runs AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS run_len,
                        MIN(i) AS start
                 FROM g GROUP BY doc_id, w, grp),
        best AS (SELECT doc_id, run_len, w,
                        ROW_NUMBER() OVER (PARTITION BY doc_id
                          ORDER BY run_len DESC, start ASC) AS rn
                 FROM runs)
        SELECT d.doc_id,
               CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
               b.run_len AS max_run, b.w AS run_token
        FROM documents d JOIN best b ON b.doc_id = d.doc_id AND b.rn = 1
        ORDER BY d.doc_id"""),
      (s, d) => graft.ops.TextStats.maxTokenRun(
        spread(documents(s, d)), "doc_id", "text").orderBy("doc_id")),

    // Equi-width quantile bucketing ([[ops.Ranking.quantileBuckets]]):
    // decile assignment by document length under the (n_chars, doc_id)
    // total order — bucket = ((rank-1)*10) div n + 1 on the
    // hierarchical prefix-sum scaffold (exact and engine-portable
    // where ntile's remainder placement is engine-defined). Output is
    // the per-bucket audit: row count + value range.
    QueryDef("q146_quantile_buckets",
      Some("""
        WITH r AS (SELECT doc_id, n_chars,
                     ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS rn,
                     COUNT(*) OVER () AS n
                   FROM documents)
        SELECT ((rn - 1) * 10) // n + 1 AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(MIN(n_chars) AS BIGINT) AS min_chars,
               CAST(MAX(n_chars) AS BIGINT) AS max_chars
        FROM r GROUP BY bucket ORDER BY bucket"""),
      (s, d) => graft.ops.Ranking.quantileBuckets(
          spread(documents(s, d)).select("doc_id", "n_chars"),
          "n_chars", "doc_id", k = 10)
        .groupBy("bucket")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          min(col("n_chars")).cast("long").as("min_chars"),
          max(col("n_chars")).cast("long").as("max_chars"))
        .orderBy("bucket")),

    // DSIR-style importance score ([[ops.TextStats.importanceScore]]):
    // integer log-likelihood-ratio proxy toward a target domain
    // (source 'src0' plays the target): per token occurrence,
    // bits_raw - bits_target in bit-length charges, +1-smoothed target
    // counts. Raw-corpus frequency via a token-key window, target
    // frequency via one vocabulary-sized left join — the
    // classifier-free "tilt the crawl toward the domain" ranking.
    QueryDef("q147_importance_score",
      Some("""
        WITH rt AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                    FROM documents WHERE source <> 'src0'),
        tt AS (SELECT unnest(string_split(text, ' ')) AS w
               FROM documents WHERE source = 'src0'),
        nr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM rt),
        nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tt),
        tc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM tt GROUP BY w),
        tf AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf
               FROM rt GROUP BY doc_id, w),
        f AS (SELECT doc_id, tf,
                CAST(SUM(tf) OVER (PARTITION BY tf.w) AS BIGINT) AS cr,
                COALESCE(tc.c, 0) + 1 AS ct
              FROM tf LEFT JOIN tc ON tf.w = tc.w)
        SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tok,
               CAST(SUM(tf * ((length(bin(nr.n // cr)) - 1)
                            - (length(bin((nt.n + 1) // ct)) - 1))) AS BIGINT) AS score
        FROM f CROSS JOIN nr CROSS JOIN nt
        GROUP BY doc_id ORDER BY doc_id"""),
      (s, d) => {
        val docs = spread(documents(s, d))
        val raw = docs.filter(col("source") =!= "src0")
        val target = docs.filter(col("source") === "src0")
        graft.ops.TextStats.importanceScore(raw, target, "doc_id", "text",
            graft.ops.TextStats.totalTokens(raw, "text"),
            graft.ops.TextStats.totalTokens(target, "text"))
          .orderBy("doc_id")
      }),

    // Iterated BPE tokenizer training ([[ops.TextStats.bpeTrain]]):
    // the first 8 merge rules in training order — per step, the
    // (count desc, l, r) argmax adjacent-symbol pair under all prior
    // merges. q142 mines only step 1's candidates; this is the actual
    // training loop, vocabulary-sized per iteration, merge applied as
    // one literal replace over the framed symbol string (greedy
    // left-to-right — the same builtin semantics both engines). The
    // oracle unrolls all 8 iterations.
    QueryDef("q149_bpe_train",
      Some(s"""
        WITH ${bpeCtes(BpeMerges)}
        SELECT step, l, r, merged, n FROM (${bpeUnion(BpeMerges)})
        ORDER BY step"""),
      (s, d) => graft.ops.TextStats.bpeTrain(
        spread(documents(s, d)), "text", BpeMerges)),

    // BPE apply / real token counts ([[ops.TextStats
    // .bpeSegmentCounts]]): segment the corpus with the 8 learned
    // merges — the fold runs once per DISTINCT word (broadcast merge
    // list, one replace per step), then a token-explode join against
    // the vocabulary-sized count table. n_bpe_tokens is the REAL
    // subword count that replaces q34's heuristic estimate in packing
    // (q69) and length ops (q123).
    QueryDef("q150_bpe_segment",
      Some(s"""
        WITH ${bpeCtes(BpeMerges)},
        $BpeVtCtes,
        tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                FROM documents)
        SELECT tok.doc_id AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(vt.n_sym) AS BIGINT) AS n_bpe_tokens
        FROM tok JOIN vt USING (w)
        GROUP BY tok.doc_id ORDER BY doc_id"""),
      (s, d) => {
        val docs = spread(documents(s, d))
        graft.ops.TextStats.bpeSegmentCounts(docs, "doc_id", "text",
            graft.ops.TextStats.bpeTrain(docs, "text", BpeMerges))
          .orderBy("doc_id")
      }),

    // Perceptual-hash image near-dup ([[Multimodal.perceptualHash]] +
    // [[Pipeline.simhash64Pairs]]): 64-bit dHash over the stub-decoded
    // payload (9x8 sampled "pixels", horizontal-gradient bits), then
    // the SAME 4x16-bit pigeonhole blocking + exact hamming verify as
    // q101 — content-level image dedup where q35's md5 only catches
    // byte-exact copies. Natural corpus phashes sit far apart (no
    // pairs within dist 6 at sf0.01/0.1), so three plants exercise the
    // gate: one single-byte edit (dist <= 2) and one exact repeat
    // (dist 0). The oracle replays pixel sampling, both 32-bit halves,
    // chunking, and the verify.
    QueryDef("q151_phash_neardup",
      Some(mediaCorpusSql(PhashPlants) + s"""
        px AS (SELECT doc_id,
                 [ascii(substr(text, ((k*37) % greatest(octet_length(CAST(text AS BLOB)), 1)) + 1, 1))
                  for k in range(0, 72)] AS p
               FROM corpus),
        sig AS (SELECT doc_id,$dhashSig
                FROM px),$simhash64PairsSql"""),
      (s, d) => {
        Pipeline.simhash64Pairs(
            Multimodal.perceptualHash(mediaCorpus(s, d, PhashPlants)),
            "doc_id", maxDist = 3)
          .orderBy("a_id", "b_id")
      }),

    // Per-host corpus footprint ([[ops.Web.hostStats]]): host via one
    // engine-portable regexp_extract (NOT parse_url — no other engine
    // replays its corner cases), lower-cased, then a host-keyed
    // doc/token aggregate — the frame every per-host policy (caps,
    // priors, blocklists) starts from. The synthetic URLs exercise
    // scheme variation, userinfo skipping, a mixed-case host, and a
    // port that must NOT leak into the host.
    QueryDef("q152_host_stats",
      Some(s"""
        WITH u AS (SELECT doc_id, text, $SynthUrlSql AS url FROM documents),
        h AS (SELECT ${host("url")} AS host,
                     CAST(len(string_split(text, ' ')) AS BIGINT) AS t
              FROM u)
        SELECT host, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(t) AS BIGINT) AS n_tokens
        FROM h GROUP BY host ORDER BY host"""),
      (s, d) => graft.ops.Web.hostStats(
          spread(documents(s, d)).withColumn("url", expr(SynthUrlSql)),
          "url", "text")
        .orderBy("host")),

    // Per-host cap downweighting ([[ops.Web.hostCapSample]]): keep
    // each doc with probability min(1, cap / n_docs(host)) via the
    // md5-slot filter — over-represented hosts thin to a uniform
    // sample instead of dominating the mix (the web-corpus
    // downweighting staple; prioritySample keyed on host is the exact-
    // cap variant). The keep threshold is an INTEGER ppm (cap*1e6 div
    // n) — a double weight through floor(w*1e6) can land one slot off
    // across engines. The oracle replays host, counts, ppm, and slots.
    QueryDef("q153_host_cap_sample",
      Some(s"""
        WITH u AS (SELECT doc_id, $SynthUrlSql AS url FROM documents),
        h AS (SELECT doc_id, ${host("url")} AS host FROM u),
        k AS (SELECT host, least(1000000, (2 * 1000000) // COUNT(*)) AS keep_ppm
              FROM h GROUP BY host)
        SELECT h.doc_id, h.host, CAST(k.keep_ppm AS BIGINT) AS keep_ppm
        FROM h JOIN k USING (host)
        WHERE ${hash32("CAST(h.doc_id AS VARCHAR)")} % 1000000 < k.keep_ppm
        ORDER BY h.doc_id"""),
      (s, d) => graft.ops.Web.hostCapSample(
          spread(documents(s, d)).withColumn("url", expr(SynthUrlSql)),
          "doc_id", "url", maxDocsPerHost = 2)
        .select(col("doc_id"), col("host"), col("keep_ppm"))
        .orderBy("doc_id")),

    // REAL-tokenizer sequence packing: q69's greedy contiguous packing
    // driven by q150's learned-BPE subword counts instead of q34's
    // chars/4 heuristic — the composition the verdict asked for
    // ("wire real token counts into packing"). The bin assignment runs
    // on the same hierarchical prefix-sum scaffold (no single-task
    // global window); only the token-mass column changes. The oracle
    // replays the full train -> segment -> pack chain.
    QueryDef("q154_bpe_packing",
      Some(s"""
        WITH ${bpeCtes(BpeMerges)},
        $BpeVtCtes,
        tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                FROM documents),
        bt AS (SELECT tok.doc_id AS doc_id,
                      CAST(SUM(vt.n_sym) AS BIGINT) AS n_tok
               FROM tok JOIN vt USING (w) GROUP BY tok.doc_id),
        j AS (SELECT d.doc_id, d.source, bt.n_tok
              FROM documents d JOIN bt USING (doc_id))
        SELECT doc_id, source, n_tok,
               CAST((COALESCE(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2048) AS BIGINT) AS bin
        FROM j ORDER BY doc_id"""),
      (s, d) => {
        val docs = spread(documents(s, d))
        val counts = graft.ops.TextStats.bpeSegmentCounts(docs, "doc_id",
          "text", graft.ops.TextStats.bpeTrain(docs, "text", BpeMerges))
        val withSrc = docs.select("doc_id", "source")
          .join(counts.select(col("doc_id"),
            col("n_bpe_tokens").as("n_tok")), Seq("doc_id"))
        graft.ops.Sampling.packSequences(withSrc, "doc_id", "source",
            "n_tok", 2048L)
          .orderBy("doc_id")
      }),

    // Duplicated-span removal ([[ops.TextStats.stripDuplicateSpans]]):
    // CCNet/RefinedWeb-style corpus "line dedup" — every 4-token span
    // whose corpus-wide count reaches 2 is deleted from EVERY doc
    // carrying it, survivors reassembled in order (q105 strips only a
    // shared PREFIX; q107 maps duplicate chunks but removes nothing).
    // Span boundaries are positional because this corpus has no
    // newlines; production text chunks on real line breaks. The
    // small-vocabulary corpus collides 4-grams naturally, so the
    // operator fires without plants. Oracle replays chunking, the
    // 60-bit span hash, the df gate, and the ordered reassembly.
    QueryDef("q155_strip_dup_spans",
      Some(s"""
        WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        c AS (SELECT doc_id, unnest(range(0, greatest((len(w) + 3)//4, 1))) AS i, w FROM w),
        ch AS (SELECT doc_id, CAST(i AS BIGINT) AS i,
                      array_to_string(w[i*4+1 : i*4+4], ' ') AS chunk FROM c),
        hh AS (SELECT doc_id, i, chunk, ${hash60("chunk")} AS h FROM ch),
        hot AS (SELECT h FROM hh GROUP BY h HAVING COUNT(*) >= 2),
        m AS (SELECT doc_id, i, chunk,
                     h IN (SELECT h FROM hot) AS is_hot FROM hh)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
               CAST(SUM(CASE WHEN is_hot THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
               COALESCE(string_agg(CASE WHEN NOT is_hot THEN chunk END,
                                   ' ' ORDER BY i), '') AS text
        FROM m GROUP BY doc_id ORDER BY doc_id"""),
      (s, d) => graft.ops.TextStats.stripDuplicateSpans(
          spread(documents(s, d)).select("doc_id", "text"),
          "doc_id", "text", span = 4, minDf = 2)
        .orderBy("doc_id")),

    // Encoding/mojibake QA ([[ops.TextStats.encodingQa]]): per-doc
    // counts of U+FFFD replacement chars, UTF-8-as-Latin-1 marker
    // bytes (U+00C3/U+00C2), and never-in-text control chars (NUL,
    // BEL, ESC, U+009D) — pure scan-side translate()-diff arithmetic,
    // no regex engine. The corpus is clean ASCII, so three planted
    // docs (the q151 discipline: fixed ids, text shared
    // character-for-character with the oracle via chr() composition)
    // exercise each signature.
    QueryDef("q156_encoding_qa",
      Some(s"""
        WITH corpus AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT * FROM (VALUES
            (CAST(920001 AS BIGINT), ${sqlStr(EncPlantRepl)}),
            (CAST(920002 AS BIGINT), ${sqlStr(EncPlantMoji)}),
            (CAST(920003 AS BIGINT), ${sqlStr(EncPlantCtrl)})) v(doc_id, text))
        SELECT doc_id,
               CAST(length(text) - length(replace(text, chr(65533), '')) AS BIGINT) AS n_repl,
               CAST(length(text) - length(replace(replace(text, chr(195), ''), chr(194), '')) AS BIGINT) AS n_moji,
               CAST(length(text) - length(replace(replace(replace(replace(text,
                      chr(0), ''), chr(7), ''), chr(27), ''), chr(157), '')) AS BIGINT) AS n_ctrl,
               (length(text) - length(replace(text, chr(65533), '')))
                 + (length(text) - length(replace(replace(text, chr(195), ''), chr(194), '')))
                 + (length(text) - length(replace(replace(replace(replace(text,
                      chr(0), ''), chr(7), ''), chr(27), ''), chr(157), ''))) > 0 AS flagged
        FROM corpus ORDER BY doc_id"""),
      (s, d) => {
        import s.implicits._
        val planted = Seq((920001L, EncPlantRepl), (920002L, EncPlantMoji),
          (920003L, EncPlantCtrl)).toDF("doc_id", "text")
        graft.ops.TextStats.encodingQa(
            guardPlantIds(spread(documents(s, d)).select("doc_id", "text"),
              Seq(920001L, 920002L, 920003L))
              .unionAll(planted),
            "doc_id", "text")
          .orderBy("doc_id")
      }),

    // Tokenizer fertility audit ([[ops.TextStats.tokenizerFertility]]):
    // per language, subword tokens per word in exact integer ppm under
    // the q149 learned merges — the multilingual-fairness/cost metric
    // tokenizer reviews publish (high-fertility languages pay more
    // compute per word). Composes the q150 segment chain with one
    // lang-keyed aggregate.
    QueryDef("q157_tokenizer_fertility",
      Some(s"""
        WITH ${bpeCtes(BpeMerges)},
        $BpeVtCtes,
        tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                FROM documents),
        bt AS (SELECT tok.doc_id AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_w,
                      CAST(SUM(vt.n_sym) AS BIGINT) AS n_b
               FROM tok JOIN vt USING (w) GROUP BY tok.doc_id),
        j AS (SELECT d.lang, bt.n_w, bt.n_b
              FROM documents d JOIN bt USING (doc_id))
        SELECT lang, CAST(SUM(n_w) AS BIGINT) AS n_words,
               CAST(SUM(n_b) AS BIGINT) AS n_bpe_tokens,
               CAST((SUM(n_b) * 1000000) // SUM(n_w) AS BIGINT) AS fertility_ppm
        FROM j GROUP BY lang ORDER BY lang"""),
      (s, d) => {
        val docs = spread(documents(s, d))
        val counts = graft.ops.TextStats.bpeSegmentCounts(docs, "doc_id",
          "text", graft.ops.TextStats.bpeTrain(docs, "text", BpeMerges))
        graft.ops.TextStats.tokenizerFertility(
          counts.join(docs.select("doc_id", "lang"), Seq("doc_id")), "lang")
      }),

    // Hybrid retrieval fusion ([[ops.Search.rrfFuse]]): BM25 top-20
    // (q111's exact integer ranking) fused with a TF-IDF query-score
    // top-20 over the same terms by reciprocal-rank fusion — rank-only
    // combination, so the two incommensurable score scales never need
    // calibration; 1e6 div (60 + rank) integer micro-units per side.
    // The rank windows run over 20-row retrieval results (bounded by
    // construction, never the corpus). Oracle replays both rankings
    // and the fusion.
    QueryDef("q158_hybrid_rrf",
      Some(s"""
        WITH ${AnalysisQueries.Bm25Ctes},
        bm AS (SELECT doc_id, CAST(SUM(s) AS BIGINT) AS score
               FROM sc GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20),
        bmr AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank_bm25 FROM bm),
        t2 AS (SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS tf2 FROM m GROUP BY doc_id, t),
        d2 AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS df2 FROM t2 GROUP BY t),
        ti AS (SELECT doc_id, CAST(SUM(tf2 * ((1000000 * n_docs) // df2)) AS BIGINT) AS score
               FROM t2 JOIN d2 USING (t) CROSS JOIN stats GROUP BY doc_id
               ORDER BY score DESC, doc_id LIMIT 20),
        tir AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank_tfidf FROM ti)
        SELECT COALESCE(bmr.doc_id, tir.doc_id) AS doc_id, rank_bm25, rank_tfidf,
               CAST(COALESCE(1000000 // (60 + rank_bm25), 0)
                  + COALESCE(1000000 // (60 + rank_tfidf), 0) AS BIGINT) AS rrf_micro
        FROM bmr FULL OUTER JOIN tir ON bmr.doc_id = tir.doc_id
        ORDER BY rrf_micro DESC, doc_id LIMIT 10"""),
      (s, d) => {
        val docs = spread(documents(s, d))
        val terms = Seq("join", "hash", "scan")
        val bm = graft.ops.Search.bm25Search(docs, "doc_id", "text",
          terms, k = 20)
        val toks = docs
          .select(col("doc_id"),
            explode(graft.Pipeline.words(col("text"))).as("w"))
          .filter(col("w").isin(terms: _*))
        val tfd = toks.groupBy("doc_id", "w")
          .agg(count(lit(1)).cast("long").as("tf"))
        val dfq = tfd.groupBy("w").agg(count(lit(1)).cast("long").as("df"))
        // corpus size resolved to a literal up front (metadata-only
        // parquet count — the q75 discipline; a scalar cross join would
        // plan a nested-loop join)
        val n = documents(s, d).count()
        val tfidf = tfd.join(broadcast(dfq), "w")
          .withColumn("_s", expr(s"tf * ((1000000 * ${n}L) div df)"))
          .groupBy("doc_id").agg(sum(col("_s")).cast("long").as("score"))
          .orderBy(col("score").desc, col("doc_id")).limit(20)
        graft.ops.Search.rrfFuse(bm, tfidf, "doc_id", k = 10)
          .select(col("doc_id"), col("rank_a").as("rank_bm25"),
            col("rank_b").as("rank_tfidf"), col("rrf_micro"))
      }),

    // KMV distinct-count sketch ([[ops.Sketches]]): per-source distinct
    // BIGRAM cardinality (vocab alone is ~31/source — under k, exact
    // path only) via the bottom-64 estimator, next to the exact count
    // and the integer-ppm error. The ENGINE path goes through the
    // mergeable form — per-parity shard sketches merged with kmvMerge —
    // while the oracle computes the one-shot bottom-64 directly, so the
    // hash equality PROVES merge-exactness (bottom-k of a union is the
    // bottom-k of the pooled bottom-k's), not just the estimator.
    QueryDef("q159_kmv_distinct",
      Some(s"""
        WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
        b AS (SELECT source, unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS bg
              FROM w WHERE len(w) >= 2),
        d AS (SELECT DISTINCT source, ${hash60("bg")} AS h FROM b),
        r AS (SELECT source, h,
                     ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn,
                     COUNT(*) OVER (PARTITION BY source) AS n
              FROM d),
        kth AS (SELECT source, MAX(CASE WHEN rn = $KmvK THEN h END) AS hk,
                       CAST(MAX(n) AS BIGINT) AS n_exact
                FROM r GROUP BY source),
        e AS (SELECT source,
                     CASE WHEN n_exact < $KmvK THEN n_exact
                          ELSE CAST((CAST(${KmvK - 1} AS HUGEINT)
                                     * CAST(1152921504606846976 AS HUGEINT))
                                    // greatest(hk, 1) AS BIGINT) END AS est,
                     n_exact
              FROM kth)
        SELECT source, CAST(est AS BIGINT) AS est_distinct,
               n_exact AS exact_distinct,
               CAST((abs(est - n_exact) * 1000000) // n_exact AS BIGINT) AS err_ppm
        FROM e ORDER BY source"""),
      (s, d) => {
        val docs = spread(documents(s, d))
        val w = graft.Pipeline.words(col("text"))
        val bg = docs.filter(size(w) >= 2)
          .select(col("doc_id"), col("source"),
            explode(zip_with(
              slice(w, lit(1), size(w) - 1),
              slice(w, lit(2), size(w) - 1),
              (a, b) => concat(a, lit(" "), b))).as("bg"))
        val shards = bg.withColumn("_p", pmod(col("doc_id"), lit(2)))
        val perShard = graft.ops.Sketches.kmvSketch(
          shards, Seq("source", "_p"), "bg", KmvK)
        val est = graft.ops.Sketches.kmvEstimate(
          graft.ops.Sketches.kmvMerge(perShard, Seq("source"), KmvK), KmvK)
        val exact = bg.groupBy("source")
          .agg(countDistinct(col("bg")).cast("long").as("exact_distinct"))
        est.join(exact, "source")
          .select(col("source"), col("est_distinct"), col("exact_distinct"),
            expr("(abs(est_distinct - exact_distinct) * 1000000) div exact_distinct")
              .as("err_ppm"))
          .orderBy("source")
      }),

    // URL canonicalization + URL-level dedup ([[ops.Web.canonicalUrl]],
    // [[ops.Web.urlDedup]]): the cheapest dedup tier on a crawl — the
    // same resource fetched under cosmetic URL variants (scheme case,
    // www., default port, fragment, trailing slash) collapses on its
    // canonical form BEFORE any text is compared. One canonical-key
    // aggregate keeping the lowest doc_id. The oracle replays every
    // rule: the same component regexes, the same default-port and
    // empty-scheme cases.
    QueryDef("q160_url_dedup",
      Some(s"""
        WITH u AS (SELECT doc_id, $CanonUrlSynthSql AS url FROM documents),${canonUrlCtes("canon", "canon_url")}
        SELECT canon_url, MIN(doc_id) AS keep_id,
               CAST(COUNT(*) AS BIGINT) AS n_variants
        FROM canon GROUP BY canon_url ORDER BY canon_url"""),
      (s, d) => graft.ops.Web.urlDedup(
          spread(documents(s, d)).withColumn("url", expr(CanonUrlSynthSql)),
          "doc_id", "url")
        .orderBy("canon_url")),

    // Domain-blocklist filter ([[ops.Web.blocklistFilter]]): drop docs
    // whose host or ANY dot-suffix of it is listed — 'spamfarm.biz'
    // takes out the bare domain and every cdnN. subdomain, while
    // 'cdn2.mixed.net' takes out exactly that host and leaves its
    // siblings. Suffix explode (bounded by label count) -> semi-join
    // against the broadcast list -> id anti-join. The oracle replays
    // the suffix expansion and both match granularities.
    QueryDef("q161_blocklist_filter",
      Some(s"""
        WITH u AS (SELECT doc_id, $BlockUrlSynthSql AS url FROM documents),
        h AS (SELECT doc_id, ${host("url")} AS host FROM u),
        s AS (SELECT doc_id,
                unnest([array_to_string(l[i:], '.')
                        for i in range(1, greatest(len(l), 2))]) AS suf
              FROM (SELECT doc_id, string_split(host, '.') AS l FROM h)),
        b AS (SELECT DISTINCT doc_id FROM s
              WHERE suf IN ('spamfarm.biz', 'cdn2.mixed.net'))
        SELECT doc_id, host FROM h
        WHERE doc_id NOT IN (SELECT doc_id FROM b)
        ORDER BY doc_id"""),
      (s, d) => {
        import s.implicits._
        val docs = spread(documents(s, d))
          .withColumn("url", expr(BlockUrlSynthSql))
        val blocklist = Seq("spamfarm.biz", "cdn2.mixed.net").toDF("domain")
        graft.ops.Web.blocklistFilter(docs, "doc_id", "url", blocklist)
          .select(col("doc_id"), graft.ops.Web.host(col("url")).as("host"))
          .orderBy("doc_id")
      }),

    // Cross-modal agreement gate ([[Multimodal.crossModalAgreement]]):
    // cosine between each doc's stub IMAGE embedding (byte-sampled,
    // exact dyadic components — the disclosed-stub discipline standing
    // in for a vision encoder) and its text embedding, keeping pairs at
    // cosine >= 0.05 — the LAION-style filter that drops mismatched
    // caption/image pairs from a multimodal corpus. One id equi-join +
    // the fused cosine kernel; the oracle replays pixel sampling, the
    // centering arithmetic, and the q29 fold-order cosine.
    QueryDef("q162_crossmodal_agreement",
      Some(s"""
        WITH iv AS (SELECT doc_id,
                [CAST(ascii(substr(text, ((d*37) % greatest(octet_length(CAST(text AS BLOB)), 1)) + 1, 1)) - 128 AS DOUBLE) / 128.0
                 for d in range(0, 64)] AS v
              FROM documents),
        tv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS w FROM embeddings),
        j AS (SELECT iv.doc_id AS doc_id, ${cos("v", "w")} AS cosine
              FROM iv JOIN tv ON iv.doc_id = tv.vec_id)
        SELECT doc_id, cosine FROM j WHERE cosine >= 0.05 ORDER BY doc_id"""),
      (s, d) => {
        Multimodal.crossModalAgreement(mediaCorpus(s, d), embeddings(s, d),
            "vec_id", "embedding", minCos = 0.05)
          .orderBy("doc_id")
      }),

    // Video near-dup by frame vote ([[Multimodal.frameSignatures]] +
    // [[Multimodal.frameVoteNearDup]]): per-frame dHash over DISJOINT
    // payload slices (the real-codec layout the whole-payload q151
    // stub can't model), pairs voted by identical (position, signature)
    // frames — a localized edit flips one frame and the other frames
    // still vote. Plants: B = A with one byte edited inside frame 2
    // (shares 3 of 4 sampled frames), C = A exactly (shares 4). The
    // oracle replays slicing, per-frame sampling, both signature
    // halves, the df cap, and the vote.
    QueryDef("q163_video_frame_neardup",
      Some(mediaCorpusSql(VideoPlants) + frameSigCtes + s""",
        ok AS (SELECT s.* FROM sig s
               JOIN (SELECT i, lo, hi FROM sig GROUP BY i, lo, hi
                     HAVING COUNT(*) <= 1000) k
                 ON s.i = k.i AND s.lo = k.lo AND s.hi = k.hi)
        SELECT x.doc_id AS a_id, y.doc_id AS b_id,
               CAST(COUNT(DISTINCT x.i) AS BIGINT) AS n_shared
        FROM ok x JOIN ok y
          ON x.i = y.i AND x.lo = y.lo AND x.hi = y.hi
             AND x.doc_id < y.doc_id
        GROUP BY x.doc_id, y.doc_id HAVING COUNT(DISTINCT x.i) >= 2
        ORDER BY a_id, b_id"""),
      (s, d) => {
        val media = mediaCorpus(s, d, VideoPlants)
        Multimodal.frameVoteNearDup(
            Multimodal.frameSignatures(media), "doc_id", minShared = 2)
          .orderBy("a_id", "b_id")
      }),

    // Model-based quality gate ([[ops.TextStats.qualityLogit]]): a
    // FROZEN linear classifier (disclosed integer weights standing in
    // for an offline-trained fastText-style model) over three scan-side
    // features — type-token ratio, stopword share, mean word length —
    // with the sigmoid >= 0.5 keep rule reduced to logit >= 0, so no
    // transcendental ever evaluates and the gate replays exactly.
    // Splits this corpus ~63/37. Pure per-row projection: no shuffle.
    QueryDef("q164_quality_logit",
      Some("""
        WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
        f AS (SELECT doc_id,
                (1000000 * len(list_distinct(w))) // len(w) AS ttr_ppm,
                (1000000 * len(list_filter(w, x -> x IN ('a', 'the')))) // len(w) AS stop_ppm,
                (1000 * (length(text) - len(w) + 1)) // len(w) AS mwl_milli
              FROM t WHERE len(w) >= 1)
        SELECT doc_id, ttr_ppm, stop_ppm, mwl_milli,
               CAST(-5000000 + 8*ttr_ppm + 6*stop_ppm + 300*mwl_milli AS BIGINT) AS logit_micro,
               (-5000000 + 8*ttr_ppm + 6*stop_ppm + 300*mwl_milli) >= 0 AS kept
        FROM f ORDER BY doc_id"""),
      (s, d) => graft.ops.TextStats.qualityLogit(
          spread(documents(s, d)), "doc_id", "text")
        .orderBy("doc_id")),

    // HTML main-text extraction + link density ([[ops.Web.htmlExtract]]):
    // the first stage of a web corpus — script/style blocks removed
    // wholesale, tags to spaces, a fixed entity subset decoded (&amp;
    // last, single-pass), whitespace collapsed; link_density_ppm =
    // visible chars inside <a> over total visible chars, the
    // boilerplate/link-farm signal. Pure per-row regex projection. The
    // oracle replays the identical chain (with DuckDB's explicit 'g'
    // flags) over the shared synthetic wrapper.
    QueryDef("q165_html_extract",
      Some(s"""
        WITH u AS (SELECT doc_id, $HtmlSynthSql AS h FROM documents),
        s1 AS (SELECT doc_id, regexp_replace(regexp_replace(h,
                 '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
                 '(?s)<style[^>]*>.*?</style>', ' ', 'g') AS h2 FROM u),
        t AS (SELECT doc_id, ${htmlCleanSql("h2")} AS text,
                [CAST(length(${htmlCleanSql("x")}) AS BIGINT)
                 for x in regexp_extract_all(h2, '(?s)<a[^>]*>(.*?)</a>', 1)] AS lk
              FROM s1)
        SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n_chars,
               CAST(COALESCE(list_sum(lk), 0) AS BIGINT) AS link_chars,
               (1000000 * CAST(COALESCE(list_sum(lk), 0) AS BIGINT))
                 // greatest(length(text), 1) AS link_density_ppm
        FROM t ORDER BY doc_id"""),
      (s, d) => graft.ops.Web.htmlExtract(
          spread(documents(s, d)).withColumn("html", expr(HtmlSynthSql)),
          "doc_id", "html")
        .select("doc_id", "text", "n_chars", "link_chars",
          "link_density_ppm")
        .orderBy("doc_id")),

    // Gopher-style heuristic rule bundle ([[ops.TextStats
    // .gopherRules]]): the five Rae-et-al quality filters in exact
    // integer form, emit-all (per-rule verdicts + the conjunction).
    // The corpus splits the word-count and stopword rules naturally
    // (~277/500 and ~317/500 at sf0.01); two plants exercise the
    // symbol and alphabetic rules the clean corpus never trips.
    QueryDef("q166_gopher_rules",
      Some(s"""
        WITH corpus AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT * FROM (VALUES
            (CAST(940001 AS BIGINT),
             '### sale ### sale ... now ### sale ... now the a deal deal deal'),
            (CAST(940002 AS BIGINT), '111 222 333 444')) v(doc_id, text)),
        t AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM corpus
              WHERE len(string_split(text, ' ')) >= 1),
        f AS (SELECT doc_id,
                CAST(len(w) AS BIGINT) AS n_tok,
                (1000 * (length(text) - len(w) + 1)) // len(w) AS mwl_milli,
                (1000000 * ((length(text) - length(replace(text, '#', ''))) +
                  ((length(text) - length(replace(text, '...', ''))) // 3)))
                  // len(w) AS sym_ppm,
                CAST(len(list_intersect(list_distinct(w),
                  ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with', 'a']))
                  AS BIGINT) AS stop_kinds,
                (1000000 * len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]'))))
                  // len(w) AS alpha_ppm
              FROM t)
        SELECT doc_id, n_tok, mwl_milli, sym_ppm, stop_kinds, alpha_ppm,
               n_tok BETWEEN 50 AND 100000 AS r_wordcount,
               mwl_milli BETWEEN 3000 AND 10000 AS r_wordlen,
               sym_ppm <= 100000 AS r_symbols,
               stop_kinds >= 2 AS r_stopwords,
               alpha_ppm >= 800000 AS r_alpha,
               (n_tok BETWEEN 50 AND 100000) AND (mwl_milli BETWEEN 3000 AND 10000)
                 AND sym_ppm <= 100000 AND stop_kinds >= 2
                 AND alpha_ppm >= 800000 AS pass
        FROM f ORDER BY doc_id"""),
      (s, d) => {
        import s.implicits._
        val planted = Seq(
          (940001L,
            "### sale ### sale ... now ### sale ... now the a deal deal deal"),
          (940002L, "111 222 333 444")).toDF("doc_id", "text")
        graft.ops.TextStats.gopherRules(
            guardPlantIds(spread(documents(s, d)).select("doc_id", "text"),
              Seq(940001L, 940002L))
              .unionAll(planted),
            "doc_id", "text")
          .orderBy("doc_id")
      }),

    // HTML template fingerprint clusters ([[ops.Web
    // .templateFingerprint]]): pages grouped by the 60-bit hash of
    // their opening-tag skeleton — the same-generator signal
    // (SEO-farm/mirror-skin families) that text-level near-dup never
    // pairs because the TEXT differs. The synthetic wrapper varies the
    // skeleton on doc_id % 3 (a nav block) and % 4 (an image+caption),
    // yielding four template families; the oracle replays the tag
    // extraction, the join-and-hash, and the grouping.
    QueryDef("q167_template_clusters",
      Some(s"""
        WITH u AS (SELECT doc_id, $HtmlTemplSql AS h FROM documents),
        f AS (SELECT doc_id, ${hash60(
          "array_to_string(regexp_extract_all(h, '<([a-zA-Z][a-zA-Z0-9]*)', 1), ' ')")}
                AS tpl_hash
              FROM u)
        SELECT tpl_hash, CAST(COUNT(*) AS BIGINT) AS n_pages,
               MIN(doc_id) AS exemplar_id
        FROM f GROUP BY tpl_hash ORDER BY tpl_hash"""),
      (s, d) => graft.ops.Web.templateFingerprint(
          spread(documents(s, d)).withColumn("html", expr(HtmlTemplSql)),
          "doc_id", "html")
        .groupBy("tpl_hash")
        .agg(count(lit(1)).cast("long").as("n_pages"),
          min(col("doc_id")).as("exemplar_id"))
        .orderBy("tpl_hash")),

    // Unicode-script mix profile ([[ops.TextStats.scriptProfile]]):
    // per-doc ppm of non-space chars in Latin / BMP-CJK / Cyrillic /
    // digit ranges — the language-ID complement (an "en" doc that is
    // 40% CJK is mislabeled or spam). Explicit code-point RANGES, not
    // \\p{script=...} classes whose names differ per regex dialect.
    // The ASCII corpus is all-Latin, so three plants (chr-composed in
    // the oracle, escape-composed in Scala — identical code points)
    // exercise the CJK, Cyrillic, and mixed-script paths.
    QueryDef("q168_script_profile",
      Some(s"""
        WITH corpus AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT * FROM (VALUES
            (CAST(950001 AS BIGINT), ${sqlStr(ScriptPlantCjk)}),
            (CAST(950002 AS BIGINT), ${sqlStr(ScriptPlantCyr)}),
            (CAST(950003 AS BIGINT), ${sqlStr(ScriptPlantMix)})) v(doc_id, text)),
        f AS (SELECT doc_id,
                CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_chars,
                CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS BIGINT) AS lat,
                CAST(length(text) - length(regexp_replace(text,
                  '[' || chr(19968) || '-' || chr(40959) || ']', '', 'g')) AS BIGINT) AS cjk,
                CAST(length(text) - length(regexp_replace(text,
                  '[' || chr(1024) || '-' || chr(1279) || ']', '', 'g')) AS BIGINT) AS cyr,
                CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS dig
              FROM corpus)
        SELECT doc_id, n_chars,
               (1000000 * lat) // greatest(n_chars, 1) AS latin_ppm,
               (1000000 * cjk) // greatest(n_chars, 1) AS cjk_ppm,
               (1000000 * cyr) // greatest(n_chars, 1) AS cyrillic_ppm,
               (1000000 * dig) // greatest(n_chars, 1) AS digit_ppm
        FROM f ORDER BY doc_id"""),
      (s, d) => {
        import s.implicits._
        val planted = Seq((950001L, ScriptPlantCjk), (950002L, ScriptPlantCyr),
          (950003L, ScriptPlantMix)).toDF("doc_id", "text")
        graft.ops.TextStats.scriptProfile(
            guardPlantIds(spread(documents(s, d)).select("doc_id", "text"),
              Seq(950001L, 950002L, 950003L))
              .unionAll(planted),
            "doc_id", "text")
          .orderBy("doc_id")
      })
  )
}
