package graft

import org.apache.spark.sql.functions._

/** Domain, sketch and layout queries: PSL-backed registrable-domain
  * (eTLD+1) curation — the ownership-boundary upgrade of the
  * q152/q153/q161 host family (a naive 2-label tail treats `a.co.uk`
  * and `b.co.uk` as one registrant and makes a `co.uk` blocklist
  * entry expressible) — script-aware tokenization for no-space
  * scripts (CJK/Thai), where the space tokenizer has zero near-dup
  * recall; the mergeable sketches (KMV, b-bit minhash, Misra–Gries,
  * histograms, HLL, AMS F2); and the layout operators (z-order,
  * compaction, rendezvous and consistent-hash rebalancing).
  *
  * Oracle discipline: the PSL rule sets interpolate into the DuckDB
  * SQL from the SAME frozen Scala Seqs the engine evaluates
  * ([[graft.ops.Web.Psl.Icann]]), so engine and oracle cannot drift;
  * every sampling decision stays on the md5-slot integer recipe.
  */
object DomainQueries {
  import Tables._
  import OracleSql.{hash32, hash60, hllRank, host, labelCtes, morton,
    movesPanelSql, targetMixTokensSql, verifiedHashedSql}

  private def inList(xs: Seq[String]): String =
    xs.map(s => s"'$s'").mkString(", ")

  // The PSL walk as SQL over CTE columns `ls` (label list) and `n`
  // (label count) — the exact decision order of Web.pslMatchLen:
  // exception beats wildcard, explicit 3-label beats 2-label/wildcard,
  // the implicit `*` default makes every bare TLD a 1-label suffix.
  private val P = graft.ops.Web.Psl.Icann
  private val PslMatchLenSql = s"""
        CASE WHEN n >= 2 AND array_to_string(ls[n-1:n], '.') IN (${inList(P.exception2)}) THEN 1
             WHEN n >= 3 AND array_to_string(ls[n-2:n], '.') IN (${inList(P.suffix3)}) THEN 3
             WHEN ls[n] IN (${inList(P.wild1)})
                  OR (n >= 2 AND array_to_string(ls[n-1:n], '.') IN (${inList(P.suffix2)})) THEN 2
             ELSE 1 END"""

  // CTE chain host -> (ls, n) -> m -> reg, reusable by every query
  // here; expects a CTE `hh` with (…, h). Emits CTEs `l`, `mm`, `rd`
  // where `rd` carries the input columns plus `reg`.
  private def regDomainCtes(carry: String): String = s"""
        l AS (SELECT $carry, h, string_split(h, '.') AS ls,
                     len(string_split(h, '.')) AS n FROM hh),
        mm AS (SELECT $carry, h, ls, n, $PslMatchLenSql AS m FROM l),
        rd AS (SELECT $carry, h,
                 CASE WHEN h = '' OR n <= m THEN ''
                      ELSE array_to_string(ls[n-m:n], '.') END AS reg
               FROM mm)"""

  // q189 synthetic URLs: eight host shapes exercising every PSL rule
  // class — deep subdomain on a 2-label suffix (co.uk), www on com.au,
  // plain .com, a 3-label suffix (act.edu.au), a whole-TLD wildcard
  // (*.ck), the wildcard EXCEPTION (!www.ck), a host that IS a public
  // suffix (no registrable domain), and an unparseable URL. doc_id %
  // 5 varies the registrant label so grouping stays non-trivial.
  private val RegUrlSynthSql = """
        (CASE doc_id % 8
          WHEN 0 THEN 'https://a.b.site' || CAST(doc_id % 5 AS STRING) || '.co.uk/p'
          WHEN 1 THEN 'https://www.site' || CAST(doc_id % 5 AS STRING) || '.com.au/p'
          WHEN 2 THEN 'https://blog.site' || CAST(doc_id % 5 AS STRING) || '.com/p'
          WHEN 3 THEN 'https://deep.school' || CAST(doc_id % 5 AS STRING) || '.act.edu.au/p'
          WHEN 4 THEN 'https://foo.bar' || CAST(doc_id % 5 AS STRING) || '.ck/p'
          WHEN 5 THEN 'https://www.ck/p'
          WHEN 6 THEN 'https://co.uk/p'
          ELSE 'not a url ' || CAST(doc_id AS STRING)
         END)"""

  // q190 synthetic URLs: three subdomains (www/blog/shop) of each of
  // five co.uk registrants — one OWNERSHIP bucket spanning three
  // hosts, which a host-keyed cap would treat as three separate
  // allowances and a naive 2-label key would fuse across registrants.
  private val CapUrlSynthSql = """
        'https://' ||
        (CASE doc_id % 3 WHEN 0 THEN 'www.' WHEN 1 THEN 'blog.' ELSE 'shop.' END) ||
        'site' || CAST(doc_id % 5 AS STRING) || '.co.uk/docs/' ||
        CAST(doc_id AS STRING)"""

  // Oracle mirror of Pipeline.wordsAuto: char bigrams when the
  // majority of non-space chars are no-space-script codepoints, space
  // tokens otherwise. regexp_replace carries the 'g' flag (DuckDB
  // replaces first-only by default; Spark replaces all). The
  // comprehension variable is `bx`, not `i` (the q182 scoping trap).
  // The Z-order oracle (q211, q214): lineitem's (partkey, suppkey)
  // 256-buckets `v(x, y)` and their 16-bit Morton key `z(x, y, z)`,
  // the interleave [[ops.Layout.zorderFileStats]] sorts by.
  private val ZorderCtes = s"""
        v AS (SELECT l_partkey % 256 AS x, l_suppkey % 256 AS y
                   FROM lineitem),
        z AS (SELECT x, y, ${morton("x", "y", 8)} AS z FROM v)"""

  private def wordsAutoSql(text: String): String = {
    val stripped = s"regexp_replace($text, ' ', '', 'g')"
    val ns =
      s"length(regexp_replace($text, '${Pipeline.NotNoSpaceScriptClass}', '', 'g'))"
    s"""(CASE WHEN $ns * 2 > length($stripped)
          THEN (CASE WHEN length($stripped) <= 1 THEN [$stripped]
                     ELSE [substr($stripped, bx, 2)
                           for bx in range(1, length($stripped))] END)
          ELSE string_split($text, ' ') END)"""
  }

  // q192 synthetic corpus over doc_id < 24: two CJK near-dup families
  // (a Chinese and a Japanese base, each with three tail variants — a
  // space tokenizer sees each as ONE token and finds nothing), an
  // English near-dup family as the dispatch control (must route
  // through SPACE tokens), and per-doc noise rows that must pair with
  // nothing. Perturbation picks by doc_id % 12 range (no integer
  // division — `//` vs `div` differs between the engines).
  private val CjkBaseA =
    "春眠不觉晓处处闻啼鸟夜来风雨声花落知多少床前明月光疑是地上霜举头望明月低头思故乡"
  private val CjkBaseB =
    "吾輩は猫である名前はまだ無いどこで生れたかとんと見当がつかぬ何でも薄暗いじめじめした所で泣いていた事だけは記憶している"
  private val EngBase =
    "the quick brown fox jumps over the lazy dog while the cat sleeps near the warm fire"
  private val CjkSynthSql = s"""
        (CASE doc_id % 4
          WHEN 0 THEN '$CjkBaseA' ||
            (CASE WHEN doc_id % 12 < 4 THEN ''
                  WHEN doc_id % 12 < 8 THEN '完' ELSE '终了' END)
          WHEN 1 THEN '$CjkBaseB' ||
            (CASE WHEN doc_id % 12 < 4 THEN ''
                  WHEN doc_id % 12 < 8 THEN '完' ELSE '终了' END)
          WHEN 2 THEN '$EngBase' ||
            (CASE WHEN doc_id % 12 < 4 THEN ''
                  WHEN doc_id % 12 < 8 THEN ' indeed' ELSE ' very truly' END)
          ELSE 'noise' || CAST(doc_id AS STRING) ||
               ' filler' || CAST(doc_id AS STRING) ||
               ' tail' || CAST(doc_id AS STRING) ||
               ' end' || CAST(doc_id AS STRING)
         END)"""

  // [[ops.Web.canonicalUrl]] as one self-contained SQL expression over
  // a url-typed operand — the q160 canon CTE inlined so snapshot
  // queries can canonicalize two sides without CTE name collisions.
  private def canonUrlSql(u: String): String = {
    val scheme = s"lower(regexp_extract($u, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1))"
    val h = s"regexp_replace(lower(regexp_extract($u, '${graft.ops.Web.HostRegex}', 1)), '^www\\.', '')"
    val port = s"regexp_extract($u, '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?[^/?#:]+:([0-9]+)', 1)"
    val rest = s"""regexp_replace(regexp_replace(
      regexp_extract($u, '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?[^/?#]*(.*)$$', 1),
      '#.*$$', ''), '/$$', '')"""
    s"""(CASE WHEN $scheme = '' THEN '' ELSE $scheme || '://' || $h ||
          (CASE WHEN $port = '' OR ($scheme = 'http' AND $port = '80')
                     OR ($scheme = 'https' AND $port = '443')
                THEN '' ELSE ':' || $port END) || $rest END)"""
  }

  // q194 snapshot synth: the OLD snapshot fetched `HTTPS://www.…`, the
  // NEW one `https://…/` (scheme case, www., trailing slash) — the
  // delta must join through the canonical key, not the raw URL.
  // doc_id % 4 partitions the fates: 0 unchanged, 1 dropped from the
  // new snapshot (no output row), 2 changed (' v2' appended), 3 new
  // (absent from the old snapshot).
  private val SnapOldUrlSql =
    """'HTTPS://www.site' || CAST(doc_id % 5 AS STRING) || '.com/p/' || CAST(doc_id AS STRING)"""
  private val SnapNewUrlSql =
    """'https://site' || CAST(doc_id % 5 AS STRING) || '.com/p/' || CAST(doc_id AS STRING) || '/'"""

  // q215 recrawl synth (shared verbatim Spark/oracle). The NEW crawl's
  // url id drifts for doc_id % 8 = 6 (slug change onto doc_id-4's url
  // -> a canonical-url collision for the dedup stage AND a `changed`
  // verdict against the collided url's old digest); the url grammar
  // mixes a blockable domain (uid % 3 = 0) and an optional cdn
  // subdomain (uid % 5 = 0, exercises suffix blocking). The html
  // wrapper exercises every htmlExtract rule, plus a link-farm plant
  // (id % 10 = 4: the doc's own text as anchor text -> link density
  // hovers at the 50% gate, deterministically on both engines).
  private val RecrawlUidSql =
    "(CASE WHEN doc_id % 8 = 6 THEN doc_id - 4 ELSE doc_id END)"
  private def recrawlUrlSql(uid: String): String =
    s"""'https://' ||
        (CASE WHEN ($uid) % 5 = 0
              THEN 'cdn' || CAST(($uid) % 4 AS STRING) || '.' ELSE '' END) ||
        (CASE WHEN ($uid) % 3 = 0 THEN 'spamfarm.biz'
              WHEN ($uid) % 3 = 1 THEN 'goodsite.org' ELSE 'mixed.net' END) ||
        '/p/' || CAST(($uid) AS STRING)"""
  private def recrawlHtmlSql(id: String, txt: String): String =
    s"""'<html><head><style>p|BRACES|</style><script>var x=1;</script></head><body><h1>T ' ||
        CAST($id AS STRING) || '</h1><p>' || $txt || '</p><a href="/l/' ||
        CAST(($id) % 9 AS STRING) || '">' || source ||
        ' more &amp; more</a>&nbsp;tail' ||
        (CASE WHEN ($id) % 10 = 4
              THEN '<a href="/f">' || $txt || '</a>' ELSE '' END) ||
        '</body></html>'""".replace("|BRACES|", "{}")
  // the changed-rows rule: ' v2' suffix, one-in-five of them also
  // carrying a U+00C3 mojibake marker so the encoding gate has work
  // inside the owing set (appending outside it would flip the digest
  // and the status instead). chr(195), NOT chr(65533): Spark's chr
  // wraps its argument mod 256, so U+FFFD is inexpressible by the
  // shared-SQL discipline while 195 is the same code point on both
  // engines.
  private val RecrawlNewTextSql =
    """(CASE WHEN doc_id % 4 = 2
         THEN text || ' v2' ||
              (CASE WHEN doc_id % 20 = 2 THEN chr(195) ELSE '' END)
         ELSE text END)"""
  private val RecrawlMovedHtml = "<html><body><p>moved body</p></body></html>"

  // q196 paragraph synth: pa = first 5 words, pb = next 5; every third
  // doc repeats pa as its closing paragraph (the pagination stutter
  // the op removes), the rest close with a distinct variant.
  // Engine/oracle mirror each other (slice semantics clamp on both).

  // q197 domain synth: sites keyed by LANGUAGE (each lang community
  // runs its own .co.uk site — domain quality then genuinely varies),
  // plus a 'rare' site sampled at ~1% (doc_id % 97) that stays under
  // the minDocs evidence bar and must survive regardless of its mean.
  private val DomainUrlSynthSql = """
        (CASE WHEN doc_id % 97 = 0
          THEN 'https://www.rare-site.co.uk/p/' || CAST(doc_id AS STRING)
          ELSE 'https://www.' || lang || '-site.co.uk/p/' || CAST(doc_id AS STRING)
         END)"""

  // q198 robots synth (shared verbatim — chr(10) is the newline in
  // BOTH engines): per host hN, block 1 is a foreign agent, block 2 is
  // the `*` group (/private always; an empty Disallow and a comment
  // that must not emit; /tmp on even hosts), block 3 (host 3 only) is
  // a MULTI-AGENT header including `*` — its /multi rule applies —
  // and block 4 is another foreign agent.
  private val RobotsContentSql = """
        ('User-agent: googlebot' || chr(10) ||
         'Disallow: /gbot' || chr(10) ||
         'User-agent: *' || chr(10) ||
         'Disallow: /private' || chr(10) ||
         'Disallow:' || chr(10) ||
         '# crawl budget note' || chr(10) ||
         (CASE WHEN doc_id % 2 = 0 THEN 'Disallow: /tmp' || chr(10) ELSE '' END) ||
         (CASE WHEN doc_id % 5 = 3
           THEN 'User-agent: bingbot' || chr(10) || 'User-agent: *' || chr(10) ||
                'Disallow: /multi' || chr(10)
           ELSE '' END) ||
         'User-agent: other' || chr(10) ||
         'Disallow: /other')"""
  private val RobotsHostSql =
    """'h' || CAST(doc_id % 5 AS STRING) || '.example.com'"""
  // q199 corpus URLs over the same 5 hosts; paths cycle through the
  // rule surface (/private always blocked, /tmp blocked on even hosts,
  // /multi blocked on host 3 only, /public and /gbot never — the
  // googlebot rule must NOT fire for the `*` filter).
  private val RobotsUrlSynthSql = """
        ('https://h' || CAST(doc_id % 5 AS STRING) || '.example.com' ||
         (CASE doc_id % 7
           WHEN 0 THEN '/private/' || CAST(doc_id AS STRING)
           WHEN 1 THEN '/tmp/' || CAST(doc_id AS STRING)
           WHEN 2 THEN '/multi/' || CAST(doc_id AS STRING)
           WHEN 3 THEN '/gbot/' || CAST(doc_id AS STRING)
           ELSE '/public/' || CAST(doc_id AS STRING) END))"""

  // q202 markdown synth (shared verbatim): an ATX heading, emphasis +
  // a link + inline code, a fenced code block, then the document text
  // as the prose body — every strip rule fires on every row.
  private val MarkdownSynthSql = """
        ('# Title ' || CAST(doc_id AS STRING) || chr(10) ||
         '**intro** [link text](http://example.com/' || CAST(doc_id AS STRING) ||
         ') `code` sample' || chr(10) ||
         '```' || chr(10) || 'secret block ' || CAST(doc_id AS STRING) ||
         chr(10) || '```' || chr(10) || text)"""

  // Oracle replay of [[ops.Web.robotsRules]] over a CTE `rb(host,
  // content)`: line explode with index, comment/CR strip, block ids
  // from agent-run starts, star flag per (host, block), Disallow
  // prefixes of star blocks. Emits CTE `rules(host, prefix)`.
  private val RobotsRulesCtes = s"""
        ls AS (SELECT host, unnest(string_split(content, chr(10))) AS raw,
                      unnest(range(1, len(string_split(content, chr(10))) + 1)) AS i
               FROM rb),
        ln AS (SELECT host, i,
                 trim(regexp_replace(raw, '[#\r].*$$', '')) AS l
               FROM ls),
        ag AS (SELECT host, i, l,
                 regexp_matches(l, '(?i)^user-agent\\s*:') AS is_agent,
                 lower(trim(regexp_extract(l, '(?i)^user-agent\\s*:(.*)$$', 1))) AS agent
               FROM ln),
        st AS (SELECT host, i, l, is_agent, agent,
                 CASE WHEN is_agent AND NOT COALESCE(
                   LAG(is_agent) OVER (PARTITION BY host ORDER BY i), false)
                   THEN 1 ELSE 0 END AS starts
               FROM ag),
        bk AS (SELECT host, i, l, is_agent, agent,
                 SUM(starts) OVER (PARTITION BY host ORDER BY i) AS blk
               FROM st),
        sb AS (SELECT host, i, l, blk,
                 MAX(CASE WHEN is_agent AND agent = '*' THEN 1 ELSE 0 END)
                   OVER (PARTITION BY host, blk) AS star
               FROM bk),
        rules AS (SELECT DISTINCT host,
                    trim(regexp_extract(l, '(?i)^disallow\\s*:(.*)$$', 1)) AS prefix
                  FROM sb
                  WHERE star = 1 AND regexp_matches(l, '(?i)^disallow\\s*:')
                    AND trim(regexp_extract(l, '(?i)^disallow\\s*:(.*)$$', 1)) <> '')"""

  private val RobotsPathSql =
    """regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?[^/?#]*([^?#]*)', 1)"""

  /** AMS tug-of-war F2 sketch ([[ops.Sketches.amsF2Sketch]] -> merge
    * -> estimate): per-source second moment of the token frequency
    * vector — the self-join-size / groupBy-skew screen — via 60
    * counters whose signs are the BITS of one 60-bit md5 per token
    * (one md5 per row, the round-2 kernel lesson), built PER PARITY
    * SHARD and merged by counter ADDITION (the q221 merge-exactness
    * argument in the additive sketch), against the exact F2 with
    * `err_ppm`. All integer; the oracle builds the one-shot counters
    * directly, so hash equality proves the merge.
    */
  private lazy val q290: QueryDef =
    QueryDef("q290_ams_f2",
      Some(s"""
        WITH t AS (SELECT doc_id, source,
                     unnest(string_split(text, ' ')) AS w
                   FROM documents),
        hh AS (SELECT source, ${hash60("'ams_' || w")} AS h FROM t),
        e AS (SELECT source, h, unnest(range(0, 60)) AS c FROM hh),
        sg AS (SELECT source, c,
                 SUM(((h // (1::BIGINT << CAST(c AS INT))) % 2)
                   * 2 - 1) AS s
               FROM e GROUP BY source, c),
        est AS (SELECT source,
                  CAST(SUM(s::HUGEINT * s) // 60 AS BIGINT) AS f2_est
                FROM sg GROUP BY source),
        ex AS (SELECT source,
                 CAST(SUM(f::HUGEINT * f) AS BIGINT) AS f2_exact
               FROM (SELECT source, w, COUNT(*) AS f
                     FROM t GROUP BY source, w)
               GROUP BY source)
        SELECT est.source, f2_est, f2_exact,
               (abs(f2_est - f2_exact) * 1000000) // f2_exact AS err_ppm
        FROM est JOIN ex USING (source) ORDER BY est.source"""),
      (s, d) => {
        val toks = spread(documents(s, d)).select(col("doc_id"),
          col("source"),
          explode(graft.Pipeline.words(col("text"))).as("w"))
        val shards = toks.withColumn("_p", pmod(col("doc_id"), lit(2)))
        val merged = graft.ops.Sketches.amsF2Merge(
          graft.ops.Sketches.amsF2Sketch(shards, Seq("source", "_p"),
            "w", counters = 60),
          Seq("source"))
        val est = graft.ops.Sketches.amsF2Estimate(merged,
          Seq("source"))
        val exact = toks.groupBy("source", "w")
          .agg(count(lit(1)).cast("long").as("f"))
          .groupBy("source")
          .agg(sum(col("f").cast("decimal(38,0)") * col("f"))
            .cast("long").as("f2_exact"))
        est.join(exact, "source")
          .withColumn("err_ppm", expr(
            "(abs(f2_est - f2_exact) * 1000000) div f2_exact"))
          .select("source", "f2_est", "f2_exact", "err_ppm")
          .orderBy("source")
      })

  /** Rendezvous-hash rebalance audit ([[ops.Layout.rendezvousMoves]],
    * 16 -> 17 shards): measures HRW's minimal-movement promise on
    * real keys — a key moves ONLY to the new shard (old weights
    * never change), expected movement 1/17 vs the ~16/17 a `mod k`
    * rehash would cost. One shared md5 family, scan-side argmax,
    * two bounded aggregates; the oracle replays the array argmax
    * with the same tiebreak.
    */
  private lazy val q299: QueryDef =
    QueryDef("q299_rendezvous_moves",
      Some(s"""
        WITH ks AS (SELECT CAST(doc_id AS VARCHAR) AS k FROM documents),
        a AS (SELECT k, [${hash32("'rv_' || s || '_' || k")}
                for s in range(0, 17)] AS arr
              FROM ks),
        o AS (SELECT k,
                list_min([s for s in range(0, 16)
                  if arr[s+1] = list_max(arr[1:16])]) AS o_from,
                list_min([s for s in range(0, 17)
                  if arr[s+1] = list_max(arr[1:17])]) AS o_to
              FROM a),${movesPanelSql(1000000L / 17)}"""),
      (s, d) => graft.ops.Layout.rendezvousMoves(
          spread(documents(s, d)), "doc_id", fromShards = 16,
          toShards = 17)
        .orderBy("shard"))

  /** Consistent-hash ring rebalance audit ([[ops.Layout.ringMoves]],
    * 16 -> 17 shards, 8 vnodes each): the OTHER classic placement
    * scheme, with the expected movement computed EXACTLY as the new
    * shard's ring-arc share (geometry, not approximation). Both
    * engines consume identical literal vnode arrays built from the
    * shared wordHash60 recipe; the oracle replays the successor fold
    * and the per-shard panel.
    */
  private lazy val q300: QueryDef = {
    val (fromK, toK, v) = (16, 17, 8)
    val (posF, ownF) = graft.ops.Layout.ringOf(fromK, v, "ring")
    val (posT, ownT) = graft.ops.Layout.ringOf(toK, v, "ring")
    def ownerSql(pos: Seq[Long], own: Seq[Long]): String =
      s"([${own.mkString(", ")}])[" +
        s"(len(list_filter([${pos.mkString(", ")}]," +
        s" p -> p <= kp)) % ${pos.size}) + 1]"
    val ring = BigInt(1) << 60
    val arcs = posT.zip(ownT)
    val newMass = arcs.indices.map { i =>
      val start = if (i == 0) posT.last - ring else BigInt(posT(i - 1))
      (BigInt(posT(i)) - start, ownT(i))
    }.collect { case (len, owner) if owner >= fromK => len }.sum
    val expectedPpm = (newMass * 1000000 / ring).toLong
    QueryDef("q300_ring_moves",
      Some(s"""
        WITH ks AS (SELECT CAST(doc_id AS VARCHAR) AS k FROM documents),
        kp AS (SELECT k, ${hash60("'ringk_' || k")} AS kp FROM ks),
        o AS (SELECT k, ${ownerSql(posF, ownF)} AS o_from,
                     ${ownerSql(posT, ownT)} AS o_to
              FROM kp),${movesPanelSql(expectedPpm)}"""),
      (s, d) => graft.ops.Layout.ringMoves(
          spread(documents(s, d)), "doc_id", fromShards = fromK,
          toShards = toK, vnodesPerShard = v)
        .orderBy("shard"))
  }

  val all: Seq[QueryDef] = Seq(q290, q299, q300,

    // Registrable-domain extraction ([[ops.Web.registrableDomain]]):
    // the PSL walk (frozen ICANN snapshot) as pure scan-side
    // expressions — exceptions beat wildcards, 3-label rules beat
    // 2-label, every bare TLD is an implicit suffix, and a host that
    // IS a public suffix (or junk) yields '' rather than erroring.
    // The oracle replays the identical walk from the same rule Seqs.
    QueryDef("q189_registrable_domain",
      Some(s"""
        WITH u AS (SELECT doc_id, $RegUrlSynthSql AS url FROM documents),
        hh AS (SELECT doc_id, ${host("url")} AS h FROM u),
        ${regDomainCtes("doc_id")}
        SELECT doc_id, h AS host, reg AS reg_domain
        FROM rd ORDER BY doc_id"""),
      (s, d) => spread(documents(s, d))
        .withColumn("url", expr(RegUrlSynthSql))
        .select(col("doc_id"),
          graft.ops.Web.host(col("url")).as("host"),
          graft.ops.Web.registrableDomain(col("url")).as("reg_domain"))
        .orderBy("doc_id")),

    // Registrable-domain cap ([[ops.Web.hostCapSample]] with
    // byRegistrable): the q153 downweighting rule keyed on the
    // OWNERSHIP boundary — www/blog/shop subdomains of one co.uk
    // registrant share a single allowance (a host-keyed cap would
    // give each subdomain its own; a naive 2-label key would pool
    // every registrant under co.uk into one bucket). Counts, integer
    // keep_ppm, and md5 slots replay exactly.
    QueryDef("q190_registrable_cap",
      Some(s"""
        WITH u AS (SELECT doc_id, $CapUrlSynthSql AS url FROM documents),
        hh AS (SELECT doc_id, ${host("url")} AS h FROM u),
        ${regDomainCtes("doc_id")},
        k AS (SELECT reg, least(1000000, (20 * 1000000) // COUNT(*)) AS keep_ppm
              FROM rd GROUP BY reg)
        SELECT rd.doc_id, rd.reg AS host, CAST(k.keep_ppm AS BIGINT) AS keep_ppm
        FROM rd JOIN k USING (reg)
        WHERE ${hash32("CAST(rd.doc_id AS VARCHAR)")} % 1000000 < k.keep_ppm
        ORDER BY rd.doc_id"""),
      (s, d) => graft.ops.Web.hostCapSample(
          spread(documents(s, d)).withColumn("url", expr(CapUrlSynthSql)),
          "doc_id", "url", maxDocsPerHost = 20, byRegistrable = true)
        .select(col("doc_id"), col("host"), col("keep_ppm"))
        .orderBy("doc_id")),

    // Registrable-only blocklist ([[ops.Web.blocklistFilter]] with
    // registrableOnly): suffix matching stops AT the registrable
    // domain, so `site1.co.uk` blocks every one of its subdomains
    // while a blocklist entry naming the bare public suffix `co.uk`
    // matches nothing (with q161's naive suffixes it would block the
    // entire registry). Survivors replay as an anti-join over the
    // suffix window [registrable, host].
    QueryDef("q191_registrable_blocklist",
      Some(s"""
        WITH u AS (SELECT doc_id, $CapUrlSynthSql AS url FROM documents),
        hh AS (SELECT doc_id, ${host("url")} AS h FROM u),
        ${regDomainCtes("doc_id")},
        sf AS (SELECT mm.doc_id, mm.h,
                 [array_to_string(mm.ls[sx:mm.n], '.')
                  for sx in range(1, greatest(mm.n - mm.m, 1) + 1)] AS sufs
               FROM mm)
        SELECT doc_id, h AS host FROM sf
        WHERE len(list_filter(sufs,
                s -> s IN ('site1.co.uk', 'co.uk'))) = 0
        ORDER BY doc_id"""),
      (s, d) => {
        import s.implicits._
        val blocklist = Seq("site1.co.uk", "co.uk").toDF("domain")
        graft.ops.Web.blocklistFilter(
            spread(documents(s, d)).withColumn("url", expr(CapUrlSynthSql)),
            "doc_id", "url", blocklist, registrableOnly = true)
          .select(col("doc_id"),
            graft.ops.Web.host(col("url")).as("host"))
          .orderBy("doc_id")
      }),

    // Script-aware near-dup ([[Pipeline.wordsAuto]] feeding the full
    // q138 chain — shingles, MinHash, threshold-derived LSH bands,
    // hashed verify): CJK documents tokenize as char bigrams, so the
    // two planted CJK families PAIR (with the space tokenizer their
    // recall is exactly zero — each doc is one token and the shingle
    // gate drops it), while the English control family routes through
    // space tokens unchanged and noise rows pair with nothing. The
    // oracle replays the dispatch, the bigram surrogate, and the
    // entire LSH chain.
    QueryDef("q192_cjk_neardup",
      Some(s"""
        WITH corpus AS (SELECT doc_id, $CjkSynthSql AS text
                        FROM documents WHERE doc_id < 24),
        t AS (SELECT doc_id, ${wordsAutoSql("text")} AS w FROM corpus),
        sh AS (SELECT doc_id,
                 list_distinct([array_to_string(w[i:i+2], ' ')
                                for i in range(1, len(w)-1)]) AS shingles
               FROM t WHERE len(w) >= 3),
        ${PipelineQueries.minhashSigCte("doc_id", PipelineQueries.lshK05)}
        ${PipelineQueries.bandedCandCte(PipelineQueries.lshBands05,
          PipelineQueries.lshRows05)},$verifiedHashedSql"""),
      (s, d) => {
        val corpus = spread(documents(s, d)).filter(col("doc_id") < 24)
          .select(col("doc_id"), expr(CjkSynthSql).as("text"))
        val sig = Dedup.shingleSignatures(corpus, "doc_id", "text",
            tokenizer = Pipeline.wordsAuto)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        Dedup.verifiedPairsHashed(sig, "doc_id", threshold = 0.5,
            maxBucketSize = Int.MaxValue)
          .orderBy("a_id", "b_id")
      }),

    // Script-aware TOKEN-BUDGET mixing ([[Pipeline.tokenCountAuto]]
    // feeding [[ops.Sampling.targetMixTokens]]): the q188 machinery
    // over a bilingual corpus where the zh documents carry REAL CJK
    // text — with `size(split(text, ' '))` each would count as ONE
    // token and a "40% zh by tokens" budget would allocate zh nearly
    // nothing; the bigram surrogate charges them their character
    // mass. The oracle replays the dispatch, the surrogate counts,
    // totals, feasible volume, quotas, slot order, and token window.
    QueryDef("q193_cjk_token_budget",
      Some(s"""
        WITH tg AS (SELECT * FROM (VALUES ('en', 600000), ('zh', 400000)) AS v(lang, ppm)),
        c AS (SELECT doc_id, lang,
                (CASE WHEN lang = 'zh'
                      THEN substr(repeat('$CjkBaseA', 20), 1,
                                  (CAST(n_chars AS INTEGER) % 200) + 30)
                      ELSE text END) AS t
              FROM documents WHERE lang IN ('en', 'zh')),
        tok AS (SELECT doc_id, lang,
                  CAST(len(${wordsAutoSql("t")}) AS BIGINT) AS n_tok
                FROM c),$targetMixTokensSql"""),
      (s, d) => {
        val c = spread(documents(s, d))
          .filter(col("lang").isin("en", "zh"))
          .select(col("doc_id"), col("lang"),
            when(col("lang") === "zh",
              substr(repeat(lit(CjkBaseA), 20), lit(1),
                pmod(col("n_chars").cast("int"), lit(200)) + 30))
              .otherwise(col("text")).as("t"))
        graft.ops.Sampling.targetMixTokens(
            c.select(col("doc_id"), col("lang"),
              Pipeline.tokenCountAuto(col("t")).as("n_tok")),
            "doc_id", "lang", "n_tok",
            Seq(("en", 600000), ("zh", 400000)))
          .select("doc_id", "lang", "n_tok", "tok_before")
          .orderBy("doc_id")
      }),

    // Snapshot delta ([[ops.Web.snapshotDelta]]): classify the new
    // crawl snapshot against the previous one on the CANONICAL url key
    // — new / changed / unchanged — the incremental-recrawl gate that
    // keeps the unchanged majority out of the expensive downstream.
    // The synth snapshots disagree on scheme case, www., and trailing
    // slash, so the join only works through canonicalization; the
    // oracle replays the canon rules inline on both sides.
    QueryDef("q194_snapshot_delta",
      Some(s"""
        WITH o AS (SELECT doc_id, $SnapOldUrlSql AS url, text
                   FROM documents WHERE doc_id % 4 <> 3),
        n AS (SELECT doc_id, $SnapNewUrlSql AS url,
                text || (CASE WHEN doc_id % 4 = 2 THEN ' v2' ELSE '' END) AS text
              FROM documents WHERE doc_id % 4 <> 1),
        og AS (SELECT ${canonUrlSql("url")} AS url_key, MIN(md5(text)) AS odig
               FROM o GROUP BY url_key),
        nc AS (SELECT doc_id, ${canonUrlSql("url")} AS url_key,
                 md5(text) AS dig FROM n)
        SELECT nc.doc_id, nc.url_key,
               CASE WHEN og.odig IS NULL THEN 'new'
                    WHEN og.odig = nc.dig THEN 'unchanged'
                    ELSE 'changed' END AS status
        FROM nc LEFT JOIN og USING (url_key)
        ORDER BY nc.doc_id"""),
      (s, d) => {
        val docs = spread(documents(s, d))
        val old = docs.filter(col("doc_id") % 4 =!= 3)
          .select(col("doc_id"), expr(SnapOldUrlSql).as("url"), col("text"))
        val nw = docs.filter(col("doc_id") % 4 =!= 1)
          .select(col("doc_id"), expr(SnapNewUrlSql).as("url"),
            concat(col("text"),
              when(col("doc_id") % 4 === 2, lit(" v2")).otherwise(lit("")))
              .as("text"))
        graft.ops.Web.snapshotDelta(old, nw, "doc_id", "url", "text")
          .orderBy("doc_id")
      }),

    // Soft dedup ([[Dedup.softDedupWeights]]): keep every document,
    // down-weight near-dup clusters to one document's worth of
    // sampling mass — weight_ppm = 1e6 div cluster_size over the
    // LSH-candidate components (the q84 graph), singletons at 1e6.
    // The oracle replays the recursive transitive closure and the
    // integer weights; the frame feeds Sampling.weighted unchanged.
    QueryDef("q195_soft_dedup_weights",
      Some(s"""
        WITH RECURSIVE ${PipelineQueries.lshCte},${labelCtes("cand", node = "u")},
        sz AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS sz
               FROM lab GROUP BY cluster)
        SELECT d.doc_id,
               CAST(COALESCE(l.cluster, d.doc_id) AS BIGINT) AS cluster,
               COALESCE(s.sz, 1) AS cluster_size,
               1000000 // COALESCE(s.sz, 1) AS weight_ppm
        FROM documents d
        LEFT JOIN lab l ON l.u = d.doc_id
        LEFT JOIN sz s ON s.cluster = l.cluster
        ORDER BY d.doc_id"""),
      (s, d) => {
        val disk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        val docs = spread(documents(s, d))
        val sh = Dedup.shingleSignatures(docs, "doc_id", "text").persist(disk)
        val pairs = graft.Pipeline.lshCandidatePairs(sh, "doc_id",
          PipelineQueries.lshK05, PipelineQueries.lshBands05).persist(disk)
        Dedup.softDedupWeights(pairs, docs.select("doc_id"), "doc_id")
          .orderBy("doc_id")
      }),

    // Intra-document paragraph dedup ([[ops.TextStats.dedupParagraphs]]):
    // drop repeats of a paragraph WITHIN its own document, first
    // occurrence kept in place — the scraper-stutter cleaner. Every
    // third synth doc closes by repeating its opening paragraph; the
    // oracle replays the keep-first filter positionally (1-based
    // list_position vs 0-based lambda index, both sides exact).
    QueryDef("q196_paragraph_dedup",
      Some("""
        WITH c AS (SELECT doc_id,
                     array_to_string(string_split(text, ' ')[1:5], ' ') AS pa,
                     array_to_string(string_split(text, ' ')[6:10], ' ') AS pb
                   FROM documents),
        t AS (SELECT doc_id, pa || chr(10) || pb || chr(10) ||
                (CASE WHEN doc_id % 3 = 0 THEN pa ELSE pb || ' x' END) AS t2
              FROM c),
        p AS (SELECT doc_id, string_split(t2, chr(10)) AS ps FROM t),
        k AS (SELECT doc_id, ps,
                list_filter(ps, (x, i) -> list_position(ps, x) = i) AS ks
              FROM p)
        SELECT doc_id, array_to_string(ks, chr(10)) AS text,
               CAST(len(ps) AS BIGINT) AS n_para,
               CAST(len(ps) - len(ks) AS BIGINT) AS n_removed
        FROM k ORDER BY doc_id"""),
      (s, d) => {
        val w = split(col("text"), " ")
        val pa = array_join(slice(w, 1, 5), " ")
        val pb = array_join(slice(w, 6, 5), " ")
        val synth = spread(documents(s, d)).select(col("doc_id"),
          concat_ws("\n", pa, pb,
            when(col("doc_id") % 3 === 0, pa)
              .otherwise(concat(pb, lit(" x")))).as("text"))
        graft.ops.TextStats.dedupParagraphs(synth, "doc_id", "text")
          .orderBy("doc_id")
      }),

    // Domain-level score gate ([[ops.Web.domainScoreGate]] over
    // [[ops.TextStats.qualityLogitMicro]]): judge the SITE, not the
    // page — language-community sites inherit their language's logit
    // mean, the low-mean domain drops wholesale, and the ~1% 'rare'
    // site stays under the minDocs evidence bar and survives. One
    // domain-keyed aggregate; the oracle replays the PSL walk, the
    // per-doc logit, and the integer domain mean.
    QueryDef("q197_domain_score_gate",
      Some(s"""
        WITH u AS (SELECT doc_id, lang, text, $DomainUrlSynthSql AS url
                   FROM documents),
        sc AS (SELECT doc_id, url,
                 CASE WHEN len(string_split(text, ' ')) < 1 THEN -5000000 ELSE -5000000
                   + 8 * ((1000000 * len(list_distinct(string_split(text, ' ')))) // len(string_split(text, ' ')))
                   + 6 * ((1000000 * len(list_filter(string_split(text, ' '), x -> x IN ('a', 'the')))) // len(string_split(text, ' ')))
                   + 300 * ((1000 * (length(text) - len(string_split(text, ' ')) + 1)) // len(string_split(text, ' '))) END AS score
               FROM u),
        hh AS (SELECT doc_id, score, ${host("url")} AS h FROM sc),
        ${regDomainCtes("doc_id, score")},
        v AS (SELECT reg, CAST(COUNT(*) AS BIGINT) AS domain_docs,
                SUM(score) // COUNT(*) AS domain_mean_micro
              FROM rd GROUP BY reg),
        keep AS (SELECT reg, domain_docs, domain_mean_micro FROM v
                 WHERE domain_docs < 10 OR domain_mean_micro >= 700000)
        SELECT rd.doc_id, rd.reg AS reg_domain, k.domain_docs,
               CAST(k.domain_mean_micro AS BIGINT) AS domain_mean_micro
        FROM rd JOIN keep k USING (reg)
        ORDER BY rd.doc_id"""),
      (s, d) => graft.ops.Web.domainScoreGate(
          spread(documents(s, d))
            .select(col("doc_id"), expr(DomainUrlSynthSql).as("url"),
              graft.ops.TextStats.qualityLogitMicro("text").as("score")),
          "doc_id", "url", "score", minDocs = 10, minMeanMicro = 700000L)
        .select(col("doc_id"), col("reg_domain"), col("domain_docs"),
          col("domain_mean_micro"))
        .orderBy("doc_id")),

    // robots.txt parsing ([[ops.Web.robotsRules]]): Disallow rules of
    // the `User-agent: *` groups, with robots BLOCK semantics — a rule
    // belongs to every agent of its block's consecutive agent header,
    // so the multi-agent block counts as ours; foreign-agent rules,
    // empty Disallows, and comments never emit. The oracle replays the
    // line windows over the shared synth verbatim.
    QueryDef("q198_robots_rules",
      Some(s"""
        WITH rb AS (SELECT $RobotsHostSql AS host, $RobotsContentSql AS content
                    FROM documents WHERE doc_id < 5),
        $RobotsRulesCtes
        SELECT host, prefix FROM rules ORDER BY host, prefix"""),
      (s, d) => graft.ops.Web.robotsRules(
          spread(documents(s, d)).filter(col("doc_id") < 5)
            .select(expr(RobotsHostSql).as("host"),
              expr(RobotsContentSql).as("content")),
          "host", "content")
        .orderBy("host", "prefix")),

    // robots.txt filter ([[ops.Web.robotsFilter]]): apply the parsed
    // `*` rules to a corpus — /private dies everywhere, /tmp on even
    // hosts, /multi on host 3 only, and /gbot survives (that rule
    // belongs to googlebot, not to `*`). Broadcast rules join + path
    // prefix check + one anti-join; the oracle replays parse AND apply.
    QueryDef("q199_robots_filter",
      Some(s"""
        WITH rb AS (SELECT $RobotsHostSql AS host, $RobotsContentSql AS content
                    FROM documents WHERE doc_id < 5),
        $RobotsRulesCtes,
        u AS (SELECT doc_id, $RobotsUrlSynthSql AS url FROM documents),
        px AS (SELECT doc_id, url, ${host("url")} AS host, $RobotsPathSql AS path
               FROM u)
        SELECT doc_id, url FROM px
        WHERE NOT EXISTS (SELECT 1 FROM rules r
                          WHERE r.host = px.host
                            AND starts_with(px.path, r.prefix))
        ORDER BY doc_id"""),
      (s, d) => {
        val docs = spread(documents(s, d))
        val rules = graft.ops.Web.robotsRules(
          docs.filter(col("doc_id") < 5)
            .select(expr(RobotsHostSql).as("host"),
              expr(RobotsContentSql).as("content")),
          "host", "content")
        graft.ops.Web.robotsFilter(
            docs.select(col("doc_id"), expr(RobotsUrlSynthSql).as("url")),
            "doc_id", "url", rules)
          .orderBy("doc_id")
      }),

    // Curriculum schedule ([[ops.Sampling.curriculumOrder]]): exact
    // length-quartile phases on the prefix-sum scaffold (never a
    // single-partition ntile) + a deterministic md5 intra-phase
    // shuffle slot; the training order IS the (phase, slot, id) sort
    // key. The oracle replays the rank formula and the slot hash.
    QueryDef("q200_curriculum_order",
      Some(s"""
        WITH r AS (SELECT doc_id, n_chars,
                     ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS rn,
                     COUNT(*) OVER () AS n
                   FROM documents)
        SELECT doc_id, CAST(((rn - 1) * 4) // n + 1 AS BIGINT) AS phase,
               CAST(${hash32("'ep1_' || CAST(doc_id AS VARCHAR)")} % 1000000 AS BIGINT) AS slot
        FROM r ORDER BY phase, slot, doc_id"""),
      (s, d) => graft.ops.Sampling.curriculumOrder(
          spread(documents(s, d)).select("doc_id", "n_chars"),
          "doc_id", "n_chars", phases = 4, seed = "ep1")
        .select(col("doc_id"), col("phase"), col("slot"))
        .orderBy("phase", "slot", "doc_id")),

    // Per-domain boilerplate line removal ([[ops.Web
    // .domainBoilerplateStrip]]): a line in >= minDf distinct docs of
    // ONE registrable domain is template chrome and strips from that
    // domain only — each lang-site's shared copyright footer dies; the
    // same footer text on the under-threshold 'rare' site survives.
    // The oracle replays the PSL key, the 60-bit line hashes, the
    // distinct-doc df, and the index-ordered reassembly.
    QueryDef("q201_domain_boilerplate",
      Some(s"""
        WITH u AS (SELECT doc_id, lang, text, $DomainUrlSynthSql AS url
                   FROM documents),
        c AS (SELECT doc_id, url,
                array_to_string(string_split(text, ' ')[1:5], ' ') || chr(10) ||
                array_to_string(string_split(text, ' ')[6:10], ' ') || chr(10) ||
                'copyright ' || lang || ' site network' AS t2
              FROM u),
        hh AS (SELECT doc_id, t2, ${host("url")} AS h FROM c),
        ${regDomainCtes("doc_id, t2")},
        ln AS (SELECT doc_id, reg,
                 unnest(string_split(t2, chr(10))) AS l,
                 unnest(range(1, len(string_split(t2, chr(10))) + 1)) AS i
               FROM rd),
        lh AS (SELECT doc_id, reg, l, i, ${hash60("l")} AS lhash FROM ln),
        hot AS (SELECT reg, lhash FROM
                  (SELECT reg, lhash, COUNT(DISTINCT doc_id) AS df
                   FROM lh GROUP BY reg, lhash)
                WHERE df >= 5),
        k AS (SELECT lh.doc_id, lh.l, lh.i,
                (hot.lhash IS NOT NULL) AS ishot
              FROM lh LEFT JOIN hot
                ON hot.reg = lh.reg AND hot.lhash = lh.lhash)
        SELECT doc_id,
               COALESCE(string_agg(CASE WHEN NOT ishot THEN l END,
                                   chr(10) ORDER BY i), '') AS text,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(CASE WHEN ishot THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
        FROM k GROUP BY doc_id ORDER BY doc_id"""),
      (s, d) => {
        val w = split(col("text"), " ")
        val synth = spread(documents(s, d)).select(col("doc_id"),
          expr(DomainUrlSynthSql).as("url"),
          concat_ws("\n",
            array_join(slice(w, 1, 5), " "),
            array_join(slice(w, 6, 5), " "),
            concat(lit("copyright "), col("lang"), lit(" site network")))
            .as("text"))
        graft.ops.Web.domainBoilerplateStrip(synth, "doc_id", "url", "text",
            minDf = 5)
          .orderBy("doc_id")
      }),

    // Markdown -> plain text ([[ops.TextStats.markdownStrip]]): fenced
    // code blocks out wholesale, links/images keep their text/alt (the
    // URL never enters the prose stream), inline-code/emphasis markers
    // drop, ATX heading markers drop, whitespace collapses. The oracle
    // replays the identical regex chain (DuckDB 'g' flags, RE2 \\1
    // backreference vs Spark's $$1).
    QueryDef("q202_markdown_strip",
      Some(s"""
        WITH m AS (SELECT doc_id, $MarkdownSynthSql AS md FROM documents),
        s5 AS (SELECT doc_id, md, trim(regexp_replace(
                 regexp_replace(
                   translate(
                     regexp_replace(
                       regexp_replace(md, '(?s)```.*?```', ' ', 'g'),
                       '!?\\[([^\\]]*)\\]\\([^)]*\\)', '\\1', 'g'),
                     '`*_~', ''),
                   '(?m)^#+ *', '', 'g'),
                 '\\s+', ' ', 'g')) AS t
               FROM m)
        SELECT doc_id, t AS text,
               CAST(length(md) - length(t) AS BIGINT) AS md_removed
        FROM s5 ORDER BY doc_id"""),
      (s, d) => graft.ops.TextStats.markdownStrip(
          spread(documents(s, d))
            .select(col("doc_id"), expr(MarkdownSynthSql).as("text")),
          "doc_id", "text")
        .orderBy("doc_id")),

    // Move-aware snapshot delta ([[ops.Web.snapshotDelta]] with
    // detectMoves): a url-new page whose BODY existed in the old
    // snapshot under another URL is `moved`, not `new` — slug changes
    // re-use last snapshot's verdicts instead of re-paying the
    // pipeline. One extra digest-keyed join against the old distinct
    // digest set; the oracle replays both joins and the arbitration.
    QueryDef("q203_snapshot_moves",
      Some(s"""
        WITH o0 AS (SELECT doc_id, $SnapOldUrlSql AS url, text
                    FROM documents WHERE doc_id % 4 <> 3),
        o AS (SELECT * FROM o0
              UNION ALL SELECT -1, 'https://old.example.com/planted',
                'moved body here'),
        n AS (SELECT doc_id, $SnapNewUrlSql AS url,
                CASE WHEN doc_id % 8 = 7 THEN 'moved body here'
                     WHEN doc_id % 4 = 2 THEN text || ' v2'
                     ELSE text END AS text
              FROM documents WHERE doc_id % 4 <> 1),
        og AS (SELECT ${canonUrlSql("url")} AS url_key, MIN(md5(text)) AS odig
               FROM o GROUP BY url_key),
        od AS (SELECT DISTINCT md5(text) AS dig FROM o),
        nc AS (SELECT doc_id, ${canonUrlSql("url")} AS url_key,
                 md5(text) AS dig FROM n)
        SELECT nc.doc_id, nc.url_key,
               CASE WHEN og.odig IS NULL AND od.dig IS NULL THEN 'new'
                    WHEN og.odig IS NULL THEN 'moved'
                    WHEN og.odig = nc.dig THEN 'unchanged'
                    ELSE 'changed' END AS status
        FROM nc LEFT JOIN og USING (url_key)
                LEFT JOIN od ON od.dig = nc.dig
        ORDER BY nc.doc_id"""),
      (s, d) => {
        import s.implicits._
        val docs = spread(documents(s, d))
        val old = docs.filter(col("doc_id") % 4 =!= 3)
          .select(col("doc_id"), expr(SnapOldUrlSql).as("url"), col("text"))
          .unionAll(Seq((-1L, "https://old.example.com/planted",
            "moved body here")).toDF("doc_id", "url", "text"))
        val nw = docs.filter(col("doc_id") % 4 =!= 1)
          .select(col("doc_id"), expr(SnapNewUrlSql).as("url"),
            when(col("doc_id") % 8 === 7, lit("moved body here"))
              .when(col("doc_id") % 4 === 2, concat(col("text"), lit(" v2")))
              .otherwise(col("text")).as("text"))
        graft.ops.Web.snapshotDelta(old, nw, "doc_id", "url", "text",
            detectMoves = true)
          .orderBy("doc_id")
      }),

    // KMV set-overlap estimation ([[ops.Sketches.kmvOverlap]]): the
    // cross-corpus question (shared vocabulary between the even- and
    // odd-doc halves, per language) answered from two k-longs
    // sketches — union sketch by pooled bottom-k, Jaccard from sketch
    // membership, intersection by product — next to the EXACT overlap
    // for context. The oracle replays hashes, bottom-64 windows, the
    // union slice, and the HUGEINT estimator arithmetic.
    QueryDef("q204_kmv_overlap",
      Some(s"""
        WITH t AS (SELECT lang, doc_id % 2 AS side,
                     unnest(string_split(text, ' ')) AS w
                   FROM documents),
        d AS (SELECT DISTINCT lang, side, ${hash60("w")} AS h FROM t),
        r AS (SELECT lang, side, h,
                ROW_NUMBER() OVER (PARTITION BY lang, side ORDER BY h) AS rn
              FROM d),
        sk AS (SELECT lang, side, list(h ORDER BY h) AS l
               FROM r WHERE rn <= 64 GROUP BY lang, side),
        j AS (SELECT a.lang, a.l AS la, b.l AS lb,
                list_sort(list_distinct(a.l || b.l))[1:64] AS u
              FROM sk a JOIN sk b ON a.lang = b.lang
              WHERE a.side = 0 AND b.side = 1),
        e AS (SELECT lang, la, lb, u,
                CAST(len(list_filter(u, h ->
                  list_contains(la, h) AND list_contains(lb, h))) AS BIGINT) AS m,
                CASE WHEN len(u) < 64 THEN CAST(len(u) AS BIGINT)
                     ELSE CAST(CAST(63 AS HUGEINT)
                               * CAST(1152921504606846976 AS HUGEINT)
                               // greatest(u[64], 1) AS BIGINT) END AS est_union
              FROM j),
        est AS (SELECT lang, est_union,
                  (m * 1000000) // greatest(len(u), 1) AS jaccard_ppm,
                  CAST(CAST((m * 1000000) // greatest(len(u), 1) AS HUGEINT)
                       * CAST(est_union AS HUGEINT) // 1000000 AS BIGINT)
                    AS est_intersection
                FROM e),
        dw AS (SELECT DISTINCT lang, side, w FROM t),
        x AS (SELECT lang,
                CAST(COUNT(DISTINCT w) AS BIGINT) AS nu,
                CAST(COUNT(DISTINCT CASE WHEN inboth THEN w END) AS BIGINT) AS ni
              FROM (SELECT lang, w, COUNT(DISTINCT side) = 2 AS inboth
                    FROM dw GROUP BY lang, w)
              GROUP BY lang)
        SELECT est.lang, est.est_union, CAST(est.jaccard_ppm AS BIGINT) AS jaccard_ppm,
               est.est_intersection,
               (x.ni * 1000000) // x.nu AS exact_jaccard_ppm
        FROM est JOIN x ON est.lang = x.lang
        ORDER BY est.lang"""),
      (s, d) => {
        val toks = spread(documents(s, d))
          .select(col("lang"), (col("doc_id") % 2).as("side"),
            explode(Pipeline.words(col("text"))).as("w"))
        def sk(side: Int) = graft.ops.Sketches.kmvSketch(
          toks.filter(col("side") === side), Seq("lang"), "w", 64)
        val est = graft.ops.Sketches.kmvOverlap(sk(0), sk(1), Seq("lang"), 64)
        val sides = toks.select("lang", "w", "side").distinct()
          .groupBy("lang", "w")
          .agg((countDistinct(col("side")) === 2).as("both"))
        val exact = sides.groupBy("lang")
          .agg(countDistinct(col("w")).cast("long").as("_nu"),
            countDistinct(when(col("both"), col("w"))).cast("long").as("_ni"))
          .select(col("lang"),
            expr("(_ni * 1000000L) div _nu").as("exact_jaccard_ppm"))
        est.join(exact, "lang")
          .select(col("lang"), col("est_union"), col("jaccard_ppm"),
            col("est_intersection"), col("exact_jaccard_ppm"))
          .orderBy("lang")
      }),

    // 1-bit MinHash pair estimation ([[Dedup.estimatedPairsBbit]]):
    // the q113 estimate with the verify payload packed to PARITY WORDS
    // (two longs for k=120 — 63x less pair-shuffle payload), Jaccard
    // recovered by the Li-König 2·match−1 estimator over
    // bit_count(xor) agreement. The oracle replays the signature
    // parities, the 63-bit packing, and the integer estimator.
    QueryDef("q205_bbit_pairs",
      Some(s"""
        WITH ${PipelineQueries.lshCte},
        pk AS (SELECT doc_id, list_transform(range(0, 2), wx ->
                 list_reduce(list_transform(range(0, 63), jx ->
                   CASE WHEN wx * 63 + jx < ${PipelineQueries.lshK05}
                        THEN ((sig[wx * 63 + jx + 1] % 2) << jx)
                        ELSE 0 END),
                   (ax, bx) -> ax + bx)) AS pw
               FROM sig),
        v AS (SELECT c.a_id, c.b_id,
                CAST(${PipelineQueries.lshK05} - list_reduce(
                  list_transform(range(1, 3), wx ->
                    CAST(bit_count(xor(a.pw[wx], b.pw[wx])) AS BIGINT)),
                  (x, y) -> x + y) AS BIGINT) AS agree
              FROM cand c
              JOIN pk a ON a.doc_id = c.a_id
              JOIN pk b ON b.doc_id = c.b_id)
        SELECT a_id, b_id, CAST(agree AS BIGINT) AS agree,
               CAST(greatest(0, (2 * agree * 1000000) // ${PipelineQueries.lshK05}
                    - 1000000) AS BIGINT) AS est_ppm
        FROM v
        WHERE greatest(0, (2 * agree * 1000000) // ${PipelineQueries.lshK05}
              - 1000000) >= 500000
        ORDER BY a_id, b_id"""),
      (s, d) => {
        val sig = Dedup.shingleSignatures(spread(documents(s, d)),
            "doc_id", "text")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        Dedup.estimatedPairsBbit(sig, "doc_id", threshold = 0.5)
          .orderBy("a_id", "b_id")
      }),

    // Alias-farm detection ([[ops.Web.urlPatternStats]] over
    // [[ops.Web.urlPatternKey]]): URL families by digit-collapsed
    // canonical pattern, scored by urls-per-distinct-body — the
    // session-id farm (one body, many ?session=N aliases) reads
    // alias_ppm near 1e6 while the legitimate /article/N family
    // (every URL a distinct body) reads 0. The oracle replays canon,
    // the digit collapse, and both rollups.
    QueryDef("q206_url_alias_farms",
      Some(s"""
        WITH u AS (SELECT doc_id,
                     (CASE doc_id % 3
                       WHEN 0 THEN 'https://farm.com/view?session=' || CAST(doc_id AS STRING)
                       WHEN 1 THEN 'https://news.com/article/' || CAST(doc_id AS STRING)
                       ELSE 'https://static.org/about/page' || CAST(doc_id % 2 AS STRING)
                      END) AS url,
                     (CASE WHEN doc_id % 3 = 0 THEN 'the farm body'
                           ELSE text END) AS t
                   FROM documents),
        c AS (SELECT doc_id, ${canonUrlSql("url")} AS canon, t FROM u),
        p AS (SELECT CASE WHEN canon = '' THEN '' ELSE
                 regexp_extract(canon, '^([a-z][a-zA-Z0-9+.-]*://[^/?#]*)', 1) ||
                 regexp_replace(regexp_extract(canon, '^[a-z][a-zA-Z0-9+.-]*://[^/?#]*(.*)$$', 1),
                                '[0-9]+', 'N', 'g') END AS url_pattern,
                 md5(t) AS dig
              FROM c),
        g AS (SELECT url_pattern, dig, CAST(COUNT(*) AS BIGINT) AS n
              FROM p GROUP BY url_pattern, dig)
        SELECT url_pattern, CAST(SUM(n) AS BIGINT) AS n_urls,
               CAST(COUNT(*) AS BIGINT) AS n_bodies,
               CAST((1000000 * (SUM(n) - COUNT(*))) // SUM(n) AS BIGINT) AS alias_ppm
        FROM g GROUP BY url_pattern ORDER BY url_pattern"""),
      (s, d) => graft.ops.Web.urlPatternStats(
          spread(documents(s, d)).select(col("doc_id"),
            when(col("doc_id") % 3 === 0,
              concat(lit("https://farm.com/view?session="),
                col("doc_id").cast("string")))
              .when(col("doc_id") % 3 === 1,
                concat(lit("https://news.com/article/"),
                  col("doc_id").cast("string")))
              .otherwise(concat(lit("https://static.org/about/page"),
                (col("doc_id") % 2).cast("string"))).as("url"),
            when(col("doc_id") % 3 === 0, lit("the farm body"))
              .otherwise(col("text")).as("t")),
          "url", "t")
        .orderBy("url_pattern")),

    // Hot-key advisory report ([[ops.Skew.hotKeyReport]]): the
    // measurement half of the salting story — the topK heaviest
    // shuffle keys with integer corpus share and the salt count that
    // spreads each back to a fair task's load (ceil(share ·
    // parallelism)). Run before keying a 100 TB aggregate on a new
    // column. One map-side-combined count + a k-row TakeOrdered; the
    // oracle replays the count, the (n desc, key) tiebreak, and the
    // ceil-div recommendation.
    QueryDef("q207_hot_key_report",
      Some("""
        WITH c AS (SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n
                   FROM lineitem GROUP BY l_suppkey),
        t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c)
        SELECT l_suppkey, n,
               (n * 1000000) // t.total AS share_ppm,
               greatest(1, (n * 200 + t.total - 1) // t.total) AS rec_salts
        FROM c CROSS JOIN t
        ORDER BY n DESC, l_suppkey LIMIT 20"""),
      (s, d) => graft.ops.Skew.hotKeyReport(
          Tables.lineitem(s, d).select("l_suppkey"),
          "l_suppkey", topK = 20, parallelism = 200)),

    // Misra-Gries mergeable heavy hitters ([[ops.Sketches.mgSketch]] /
    // [[ops.Sketches.mgMerge]]): per-source word heavy-hitter
    // summaries built per SHARD (doc_id parity), then MERGED — the
    // gate runs the roll-up path, proving per-shard summaries combine
    // into a valid corpus summary exactly as the mergeable-summaries
    // result promises. Selection ties break on `n·2^60 + hash60(v)`,
    // so both engines pick identical survivors; the oracle replays
    // the per-shard compress, the counter-sum merge, and the
    // re-compress bit-for-bit.
    QueryDef("q208_mg_heavy_hitters",
      Some(s"""
        WITH w AS (SELECT source, doc_id % 2 AS p,
                          unnest(string_split(text, ' ')) AS v
                   FROM documents),
        c AS (SELECT source, p, v, CAST(COUNT(*) AS BIGINT) AS n
              FROM w GROUP BY source, p, v),
        o AS (SELECT source, p, v, n,
                CAST(n AS HUGEINT) * 1152921504606846976 + ${hash60("v")} AS ord
              FROM c),
        r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source, p
                                           ORDER BY ord DESC) AS rk FROM o),
        cs AS (SELECT source, p,
                      MAX(CASE WHEN rk = 9 THEN n ELSE 0 END) AS csub
               FROM r GROUP BY source, p),
        s AS (SELECT r.source, r.v, r.n - cs.csub AS n
              FROM r JOIN cs USING (source, p)
              WHERE r.rk <= 8 AND r.n > cs.csub),
        m AS (SELECT source, v, CAST(SUM(n) AS BIGINT) AS n
              FROM s GROUP BY source, v),
        o2 AS (SELECT source, v, n,
                 CAST(n AS HUGEINT) * 1152921504606846976 + ${hash60("v")} AS ord
               FROM m),
        r2 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                                            ORDER BY ord DESC) AS rk FROM o2),
        cs2 AS (SELECT source,
                       MAX(CASE WHEN rk = 9 THEN n ELSE 0 END) AS csub
                FROM r2 GROUP BY source)
        SELECT r2.source, r2.v AS value,
               CAST(r2.n - cs2.csub AS BIGINT) AS n_lb
        FROM r2 JOIN cs2 USING (source)
        WHERE r2.rk <= 8 AND r2.n > cs2.csub
        ORDER BY source, n_lb DESC, value"""),
      (s, d) => {
        val w = spread(documents(s, d)).select(col("source"),
          pmod(col("doc_id"), lit(2)).as("_p"),
          explode(graft.Pipeline.words(col("text"))).as("w"))
        val perShard = graft.ops.Sketches.mgSketch(
          w, Seq("source", "_p"), "w", k = 8)
        graft.ops.Sketches.mgMerge(perShard, Seq("source"), k = 8)
          .orderBy(col("source"), col("n_lb").desc, col("value"))
      }),

    // Log-bucket histogram quantiles ([[ops.Sketches.histSketch]] /
    // [[ops.Sketches.histMerge]] / [[ops.Sketches.histQuantiles]]):
    // doc-length p50/p90/p99 per source from per-shard 64-row
    // histograms rolled up by counter SUM — the mergeable quantile
    // summary (the gate runs the shard+merge path; merge is exactly
    // the direct histogram, so the oracle replays the direct
    // semantics: integer-pure bit-length buckets, CDF walk to
    // ceil(q·N/1e6), inclusive 2^b - 1 upper bound).
    QueryDef("q209_hist_quantiles",
      Some("""
        WITH b AS (SELECT source,
                     CAST(len(list_filter([(1::BIGINT << bb) for bb in range(0, 63)],
                                          p -> p <= n_chars)) AS BIGINT) AS bucket
                   FROM documents),
        h AS (SELECT source, bucket, CAST(COUNT(*) AS BIGINT) AS n
              FROM b GROUP BY source, bucket),
        t AS (SELECT source, CAST(SUM(n) AS BIGINT) AS total
              FROM h GROUP BY source),
        c AS (SELECT h.source, h.bucket,
                     SUM(h.n) OVER (PARTITION BY h.source
                                    ORDER BY h.bucket) AS cum, t.total
              FROM h JOIN t USING (source)),
        q AS (SELECT unnest([500000, 900000, 990000]) AS q_ppm)
        SELECT c.source, CAST(q.q_ppm AS BIGINT) AS q_ppm,
               MIN(c.bucket) AS bucket,
               CAST((1::BIGINT << CAST(MIN(c.bucket) AS INT)) - 1 AS BIGINT) AS value_ub
        FROM c CROSS JOIN q
        WHERE c.cum >= (CAST(q.q_ppm AS BIGINT) * c.total + 999999) // 1000000
        GROUP BY c.source, q.q_ppm
        ORDER BY source, q_ppm"""),
      (s, d) => {
        val sh = spread(documents(s, d)).select(col("source"),
          pmod(col("doc_id"), lit(2)).as("_p"), col("n_chars"))
        val merged = graft.ops.Sketches.histMerge(
          graft.ops.Sketches.histSketch(sh, Seq("source", "_p"), "n_chars"),
          Seq("source"))
        graft.ops.Sketches.histQuantiles(merged, Seq("source"),
            Seq(500000, 900000, 990000))
          .orderBy("source", "q_ppm")
      }),

    // Bloom-pruned exact decontamination
    // ([[ops.Sketches.bloomPrunedAnti]]): drop every document whose
    // text appears in the deny set (the doc_id % 11 rows), with the
    // deny side broadcast as a Bloom BITMAP instead of an exact set —
    // the clean majority is cleared scan-side (a Bloom "no" is
    // definitive) and only the maybe-sliver pays the exact verify
    // join. The RESULT is exactly the anti join, which is all the
    // oracle needs to say.
    QueryDef("q210_bloom_pruned_anti",
      Some("""
        SELECT doc_id FROM documents
        WHERE text NOT IN (SELECT text FROM documents WHERE doc_id % 11 = 0)
        ORDER BY doc_id"""),
      (s, d) => {
        val docs = spread(documents(s, d)).select(col("doc_id"), col("text"))
        val deny = documents(s, d).filter(col("doc_id") % 11 === 0)
          .select(col("text").as("t"))
        graft.ops.Sketches.bloomPrunedAnti(docs, "text", deny, "t",
            bits = 4096, khash = 3)
          .select("doc_id").orderBy("doc_id")
      }),

    // Z-order file-layout audit ([[ops.Layout.zorderFileStats]]): lay
    // lineitem out along the Morton curve of (partkey, suppkey)
    // buckets and report each planned 4096-row file's per-dimension
    // bounding box — the parquet-footer min/max a reader would prune
    // on, i.e. the data-skipping win of the layout, measured BEFORE a
    // 100 TB rewrite. The oracle replays the bit interleave, the
    // (z, x, y) total order, and the fixed-size file cut.
    QueryDef("q211_zorder_layout",
      Some(s"""
        WITH $ZorderCtes,
        r AS (SELECT x, y, ROW_NUMBER() OVER (ORDER BY z, x, y) - 1 AS rn
              FROM z)
        SELECT rn // 4096 AS file_id, CAST(COUNT(*) AS BIGINT) AS n,
               MIN(x) AS x_min, MAX(x) AS x_max,
               MIN(y) AS y_min, MAX(y) AS y_max
        FROM r GROUP BY file_id ORDER BY file_id"""),
      (s, d) => graft.ops.Layout.zorderFileStats(
          Tables.lineitem(s, d).select(
            (col("l_partkey") % 256).as("x"), (col("l_suppkey") % 256).as("y")),
          "x", "y", bits = 8, rowsPerFile = 4096L)
        .orderBy("file_id")),

    // Obfuscation-tolerant blocklist screen
    // ([[ops.Redact.obfuscatedBlocklistScreen]]): leet-speak
    // normalization (digit/symbol map + separator deletion) before
    // term matching, so "v1agra" / "c@sino" / "s.p.a.m" stop slipping
    // past a literal blocklist. Planted obfuscations by doc_id % 4
    // (one clean residue); the oracle replays the translate map, both
    // separator passes, and the whole-word match.
    QueryDef("q212_obfuscated_blocklist",
      Some("""
        WITH u AS (SELECT doc_id, text ||
                     (CASE doc_id % 4 WHEN 0 THEN ' v1agra w1n'
                        WHEN 1 THEN ' fr3e c@sino'
                        WHEN 2 THEN ' s.p.a.m inside' ELSE '' END) AS t
                   FROM documents),
        n1 AS (SELECT doc_id,
                 translate(lower(t), '0134578@$!', 'oieastbasi') AS t
               FROM u),
        n2 AS (SELECT doc_id, regexp_replace(regexp_replace(t,
                 '([a-z])[._*-]+([a-z])', '\1\2', 'g'),
                 '([a-z])[._*-]+([a-z])', '\1\2', 'g') AS t FROM n1),
        w AS (SELECT doc_id, string_split_regex(t, '[^a-z]+') AS w FROM n2)
        SELECT doc_id,
               CAST(len(list_filter(w, x ->
                 list_contains(['viagra', 'casino', 'spam'], x))) AS BIGINT)
                 AS n_hits,
               len(list_filter(w, x ->
                 list_contains(['viagra', 'casino', 'spam'], x))) > 0
                 AS flagged
        FROM w ORDER BY doc_id"""),
      (s, d) => graft.ops.Redact.obfuscatedBlocklistScreen(
          spread(documents(s, d)).select(col("doc_id"),
            concat(col("text"), element_at(array(lit(" v1agra w1n"),
              lit(" fr3e c@sino"), lit(" s.p.a.m inside"), lit("")),
              (pmod(col("doc_id"), lit(4)) + 1).cast("int"))).as("text")),
          "doc_id", "text", Seq("viagra", "casino", "spam"))
        .orderBy("doc_id")),

    // 3-dimensional Z-order layout audit ([[ops.Layout.zorderKeyN]] /
    // [[ops.Layout.zorderFileStatsN]]): the Morton curve generalized
    // to (partkey, suppkey, orderkey) buckets — bit i of dimension d
    // lands at result bit 3i+d, the bits budget split evenly. The
    // oracle replays the 3-way interleave, the (z, x, y, w) total
    // order, and the fixed-size file cut.
    QueryDef("q213_zorder3_layout",
      Some("""
        WITH v AS (SELECT l_partkey % 64 AS x, l_suppkey % 64 AS y,
                          l_orderkey % 64 AS w FROM lineitem),
        z AS (SELECT x, y, w,
                list_sum([(((x >> bb) & 1) << (3*bb)) +
                          (((y >> bb) & 1) << (3*bb+1)) +
                          (((w >> bb) & 1) << (3*bb+2))
                          for bb in range(0, 6)]) AS z
              FROM v),
        r AS (SELECT x, y, w,
                ROW_NUMBER() OVER (ORDER BY z, x, y, w) - 1 AS rn FROM z)
        SELECT rn // 4096 AS file_id, CAST(COUNT(*) AS BIGINT) AS n,
               MIN(x) AS x_min, MAX(x) AS x_max,
               MIN(y) AS y_min, MAX(y) AS y_max,
               MIN(w) AS w_min, MAX(w) AS w_max
        FROM r GROUP BY file_id ORDER BY file_id"""),
      (s, d) => graft.ops.Layout.zorderFileStatsN(
          Tables.lineitem(s, d).select(
            (col("l_partkey") % 64).as("x"), (col("l_suppkey") % 64).as("y"),
            (col("l_orderkey") % 64).as("w")),
          Seq("x", "y", "w"), bits = 6, rowsPerFile = 4096L)
        .orderBy("file_id")),

    // Z-order vs one-column-sort skipping DIFF ([[ops.Layout
    // .sortFileStats]] against [[ops.Layout.zorderFileStats]]): the
    // same data laid out both ways, each layout's per-file bounding
    // boxes rolled up to (files, total x-width, total y-width) — the
    // quantified claim behind the q211 audit: under the x-major sort
    // only x's boxes are tight (y's width sum approaches
    // files x domain), under the Z-order BOTH stay tight. Two rows;
    // the oracle replays both rank orders and the rollup.
    QueryDef("q214_layout_skipping_diff",
      Some(s"""
        WITH $ZorderCtes,
        rz AS (SELECT x, y, ROW_NUMBER() OVER (ORDER BY z, x, y) - 1 AS rn
               FROM z),
        fz AS (SELECT rn // 4096 AS f, MIN(x) AS xmn, MAX(x) AS xmx,
                      MIN(y) AS ymn, MAX(y) AS ymx FROM rz GROUP BY f),
        rs AS (SELECT x, y, ROW_NUMBER() OVER (ORDER BY x, y) - 1 AS rn
               FROM v),
        fs AS (SELECT rn // 4096 AS f, MIN(x) AS xmn, MAX(x) AS xmx,
                      MIN(y) AS ymn, MAX(y) AS ymx FROM rs GROUP BY f)
        SELECT 'zorder' AS layout, CAST(COUNT(*) AS BIGINT) AS n_files,
               CAST(SUM(xmx - xmn) AS BIGINT) AS x_width_sum,
               CAST(SUM(ymx - ymn) AS BIGINT) AS y_width_sum
        FROM fz
        UNION ALL
        SELECT 'sort_x' AS layout, CAST(COUNT(*) AS BIGINT) AS n_files,
               CAST(SUM(xmx - xmn) AS BIGINT) AS x_width_sum,
               CAST(SUM(ymx - ymn) AS BIGINT) AS y_width_sum
        FROM fs
        ORDER BY layout"""),
      (s, d) => {
        val v = Tables.lineitem(s, d).select(
          (col("l_partkey") % 256).as("x"), (col("l_suppkey") % 256).as("y"))
        def roll(stats: org.apache.spark.sql.DataFrame, tag: String) =
          stats.agg(
            count(lit(1)).cast("long").as("n_files"),
            sum(col("x_max") - col("x_min")).cast("long").as("x_width_sum"),
            sum(col("y_max") - col("y_min")).cast("long").as("y_width_sum"))
          .select(lit(tag).as("layout"), col("n_files"),
            col("x_width_sum"), col("y_width_sum"))
        roll(graft.ops.Layout.zorderFileStats(v, "x", "y",
            bits = 8, rowsPerFile = 4096L), "zorder")
          .unionByName(roll(graft.ops.Layout.sortFileStats(v, Seq("x", "y"),
            rowsPerFile = 4096L), "sort_x"))
          .orderBy("layout")
      }),

    // INCREMENTAL RECRAWL, end to end ([[CorpusPipeline.recrawl]]):
    // the delta -> gate -> reuse chain as ONE oracle row — snapshot
    // delta on the canonical url key (with move detection against the
    // old digest set), only `new`+`changed` pages paying the full
    // ingest chain (domain blocklist, canonical-url dedup, HTML
    // extraction + link-density gate, encoding QA, frozen model
    // gate). Unchanged/moved majorities never appear downstream —
    // the single biggest cost lever of a standing 100 TB pipeline,
    // previously PipelineSpec-only. The oracle replays every stage
    // from the shared synth SQL: both joins + the four-way status
    // arbitration, the host-suffix block, the min-id canon dedup, the
    // q165 extraction chain, the q156 marker count, the q164 logit.
    QueryDef("q215_recrawl_e2e",
      Some(s"""
        WITH base AS (SELECT doc_id, text, source FROM documents
                      WHERE doc_id NOT IN (910000, 910001)),
        o AS (SELECT doc_id, ${recrawlUrlSql("doc_id")} AS url,
                ${recrawlHtmlSql("doc_id", "text")} AS html
              FROM base WHERE doc_id % 4 <> 3
              UNION ALL
              SELECT 910000, 'https://goodsite.org/moved-old',
                     '$RecrawlMovedHtml'),
        nt AS (SELECT doc_id, source, $RecrawlNewTextSql AS text,
                 $RecrawlUidSql AS uid
               FROM base WHERE doc_id % 4 <> 1),
        n AS (SELECT doc_id, ${recrawlUrlSql("uid")} AS url,
                ${recrawlHtmlSql("doc_id", "text")} AS html
              FROM nt
              UNION ALL
              SELECT 910001, 'https://goodsite.org/moved-new',
                     '$RecrawlMovedHtml'),
        og AS (SELECT ${canonUrlSql("url")} AS url_key,
                      MIN(md5(html)) AS odig
               FROM o GROUP BY url_key),
        od AS (SELECT DISTINCT md5(html) AS dig FROM o),
        nc AS (SELECT doc_id, ${canonUrlSql("url")} AS url_key,
                 md5(html) AS dig FROM n),
        owing AS (SELECT nc.doc_id
                  FROM nc LEFT JOIN og USING (url_key)
                          LEFT JOIN od ON od.dig = nc.dig
                  WHERE (og.odig IS NULL AND od.dig IS NULL)
                     OR (og.odig IS NOT NULL AND og.odig <> nc.dig)),
        f AS (SELECT n.* FROM n JOIN owing USING (doc_id)),
        unb AS (SELECT * FROM f
                WHERE NOT (${host("url")} = 'spamfarm.biz'
                           OR ${host("url")} LIKE '%.spamfarm.biz')),
        ded AS (SELECT ${canonUrlSql("url")} AS cu, MIN(doc_id) AS keep
                FROM unb GROUP BY cu),
        uq AS (SELECT unb.* FROM unb
               JOIN ded ON ${canonUrlSql("unb.url")} = ded.cu
                       AND unb.doc_id = ded.keep),
        s1 AS (SELECT doc_id, url, regexp_replace(regexp_replace(html,
                 '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
                 '(?s)<style[^>]*>.*?</style>', ' ', 'g') AS h2 FROM uq),
        t AS (SELECT doc_id, url, ${CurationQueries.htmlCleanSql("h2")} AS text,
                [CAST(length(${CurationQueries.htmlCleanSql("x")}) AS BIGINT)
                 for x in regexp_extract_all(h2, '(?s)<a[^>]*>(.*?)</a>', 1)] AS lk
              FROM s1),
        x AS (SELECT doc_id, url, text,
                CAST(length(text) AS BIGINT) AS n_chars,
                CAST(COALESCE(list_sum(lk), 0) AS BIGINT) AS link_chars,
                (1000000 * CAST(COALESCE(list_sum(lk), 0) AS BIGINT))
                  // greatest(length(text), 1) AS link_density_ppm
              FROM t),
        ld AS (SELECT * FROM x WHERE link_density_ppm <= 500000),
        enc AS (SELECT * FROM ld
                WHERE (length(text) - length(replace(text, chr(65533), '')))
                  + (length(text) - length(replace(replace(text,
                      chr(195), ''), chr(194), '')))
                  + (length(text) - length(replace(replace(replace(replace(text,
                      chr(0), ''), chr(7), ''), chr(27), ''), chr(157), ''))) = 0),
        q AS (SELECT enc.*, string_split(text, ' ') AS w FROM enc)
        SELECT doc_id, url, text, n_chars, link_chars, link_density_ppm
        FROM q
        WHERE len(w) >= 1
          AND -5000000 + 8*((1000000 * len(list_distinct(w))) // len(w))
              + 6*((1000000 * len(list_filter(w, x -> x IN ('a', 'the')))) // len(w))
              + 300*((1000 * (length(text) - len(w) + 1)) // len(w)) >= 0
        ORDER BY doc_id"""),
      (s, d) => {
        import s.implicits._
        val base = documents(s, d)
          .filter(!col("doc_id").isin(910000L, 910001L))
          .select(col("doc_id"), col("text"), col("source"))
        val oldPages = spread(base.filter(col("doc_id") % 4 =!= 3))
          .withColumn("url", expr(recrawlUrlSql("doc_id")))
          .withColumn("html", expr(recrawlHtmlSql("doc_id", "text")))
          .select("doc_id", "url", "html")
          .unionAll(Seq((910000L, "https://goodsite.org/moved-old",
            RecrawlMovedHtml)).toDF("doc_id", "url", "html"))
        val newPages = spread(base.filter(col("doc_id") % 4 =!= 1))
          .withColumn("text", expr(RecrawlNewTextSql))
          .withColumn("uid", expr(RecrawlUidSql))
          .withColumn("url", expr(recrawlUrlSql("uid")))
          .withColumn("html", expr(recrawlHtmlSql("doc_id", "text")))
          .select("doc_id", "url", "html")
          .unionAll(Seq((910001L, "https://goodsite.org/moved-new",
            RecrawlMovedHtml)).toDF("doc_id", "url", "html"))
        val blocklist = Seq("spamfarm.biz").toDF("domain")
        val (gated, _) = graft.CorpusPipeline.recrawl(
          newPages, oldPages, blocklist)
        gated.select("doc_id", "url", "text", "n_chars", "link_chars",
            "link_density_ppm")
          .orderBy("doc_id")
      }),

    // Advised salted aggregation ([[ops.Skew.advisedCountSum]]): the
    // q207 hot-key report's per-key rec_salts broadcast back onto the
    // corpus — each hot key spreads over exactly its advised salt
    // count, cold keys stay unsalted — over the suite's natural skew
    // dimension (l_suppkey, 10 suppliers x 60k lineitems). COUNT and
    // SUM decompose over partial groups, so the oracle is the PLAIN
    // aggregate: the salting must be invisible in the result, which
    // is precisely the operator's contract (the q51 salted-agg
    // argument, now with the measurement loop choosing the salts).
    QueryDef("q216_advised_agg",
      Some("""
        SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(l_linenumber) AS BIGINT) AS total
        FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey"""),
      (s, d) => graft.ops.Skew.advisedCountSum(
          Tables.lineitem(s, d).select("l_suppkey", "l_linenumber"),
          "l_suppkey", "l_linenumber", topK = 20, parallelism = 32)
        .select(col("l_suppkey"), col("n").cast("long").as("n"),
          col("total").cast("long").as("total"))
        .orderBy("l_suppkey"))
  ) :+ q217 :+ q218 :+ q221 :+ q222 :+ q223 :+ q224 :+ q225

  // q217's boundary derivation as SQL, per dimension: the q209
  // histogram + CDF walk (global, no source grouping), distinct
  // value_ub of the k-1 quantiles. Emitted twice (x / y chains).
  private def histBoundsSql(src: String, vcol: String,
                            tag: String): String = s"""
        h$tag AS (SELECT CAST(len(list_filter([(1::BIGINT << bb) for bb in range(0, 63)],
                                p -> p <= $vcol)) AS BIGINT) AS bucket,
                         CAST(COUNT(*) AS BIGINT) AS n
                  FROM $src GROUP BY bucket),
        c$tag AS (SELECT h.bucket, SUM(h.n) OVER (ORDER BY h.bucket) AS cum,
                         t.total
                  FROM h$tag h CROSS JOIN
                       (SELECT CAST(SUM(n) AS BIGINT) AS total FROM h$tag) t),
        q$tag AS (SELECT q.q_ppm, MIN(c.bucket) AS bucket
                  FROM c$tag c CROSS JOIN
                       (SELECT unnest([125000, 250000, 375000, 500000,
                                       625000, 750000, 875000]) AS q_ppm) q
                  WHERE c.cum >= (CAST(q.q_ppm AS BIGINT) * c.total + 999999) // 1000000
                  GROUP BY q.q_ppm),
        b$tag AS (SELECT DISTINCT
                    CAST((1::BIGINT << CAST(bucket AS INT)) - 1 AS BIGINT) AS b
                  FROM q$tag)"""

  /** Quantile-bucketed Z-order audit ([[ops.Layout.histQuantileBuckets]]
    * feeding [[ops.Layout.zorderFileStatsN]]): the rank-encoding half
    * of the Morton contract done with the MERGEABLE histogram — raw
    * skewed values (price, quantity) bucket through the k-quantile
    * boundaries the log2 histogram derives, then interleave. The
    * oracle replays the histogram, the CDF walk, the boundary dedupe,
    * the per-row bucket index, and the q211 layout machinery.
    */
  private lazy val q217: QueryDef =
    QueryDef("q217_quantile_zorder",
      Some(s"""
        WITH v AS (SELECT CAST(floor(l_extendedprice) AS BIGINT) AS x,
                          CAST(floor(l_quantity) AS BIGINT) AS y
                   FROM lineitem),
        ${histBoundsSql("v", "x", "x")},
        ${histBoundsSql("v", "y", "yy")},
        e AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM bx WHERE bx.b < v.x) AS xb,
                     (SELECT CAST(COUNT(*) AS BIGINT) FROM byy WHERE byy.b < v.y) AS yb
              FROM v),
        z AS (SELECT xb, yb, ${morton("xb", "yb", 3)} AS z FROM e),
        r AS (SELECT xb, yb,
                ROW_NUMBER() OVER (ORDER BY z, xb, yb) - 1 AS rn FROM z)
        SELECT rn // 4096 AS file_id, CAST(COUNT(*) AS BIGINT) AS n,
               MIN(xb) AS xb_min, MAX(xb) AS xb_max,
               MIN(yb) AS yb_min, MAX(yb) AS yb_max
        FROM r GROUP BY file_id ORDER BY file_id"""),
      (s, d) => {
        val v = Tables.lineitem(s, d).select(
          expr("CAST(floor(l_extendedprice) AS BIGINT)").as("x"),
          expr("CAST(floor(l_quantity) AS BIGINT)").as("y"))
        // one pass for both dimensions: shared (dim, bucket) sketch job
        val (bxy, _) = graft.ops.Layout.histQuantileBucketsN(
          v, Seq("x", "y"), 8)
        // NO materialization before the audit's range exchange — the
        // round-16 A/B: a localCheckpoint of this 2-long-column frame
        // measured 1.79 -> 3.66 s at sf0.1 and 5.3 -> 12.4 s at sf1
        // (the eager write + double read cost MORE than letting the
        // boundary sampling and the exchange each recompute the cheap
        // scan + bucket chain). The old 7.2 s record was the HOF-array
        // histBucket, not the recompute.
        val enc = bxy
          .select(col("x_qb").as("xb"), col("y_qb").as("yb"))
        graft.ops.Layout.zorderFileStatsN(
            enc, Seq("xb", "yb"), bits = 3, rowsPerFile = 4096L)
          .orderBy("file_id")
      })

  /** CCNet-style reference-LM scoring
    * ([[ops.TextStats.referenceSurprisal]]): a bigram model trained on
    * the curated English slice (src0-src2) scores the WHOLE corpus —
    * seen bigrams at their MLE conditional bits, unseen-but-known
    * words through the unigram backoff (+4 bits), OOV words at the
    * <unk> price (+8 bits). The model is three reference-bounded
    * broadcast frames; the corpus never shuffles on a gram key. The
    * oracle replays model build, both fallbacks, and the integer
    * bit-length log.
    */
  // The q218 reference-model chain as shared CTEs (through the per-doc
  // score `sc`), reused verbatim by q222's banding so the two oracles
  // cannot drift.
  // lazy: `val all` above forces q218/q222 during object init, before
  // a plain val this far down the file would have been assigned
  private lazy val RefSurprisalCtes = """
        ref AS (SELECT text FROM documents
                WHERE lang = 'en' AND source IN ('src0', 'src1', 'src2')),
        rw AS (SELECT string_split(text, ' ') AS w FROM ref
               WHERE len(string_split(text, ' ')) >= 2),
        rp AS (SELECT unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS bg FROM rw),
        bt0 AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS b FROM rp GROUP BY bg),
        bt AS (SELECT bg, b,
                 CAST(SUM(b) OVER (PARTITION BY string_split(bg, ' ')[1]) AS BIGINT) AS cl
               FROM bt0),
        ru AS (SELECT unnest(string_split(text, ' ')) AS t FROM ref),
        ut AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS u FROM ru GROUP BY t),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS tot FROM ru),
        dw AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
               WHERE len(string_split(text, ' ')) >= 2),
        dp AS (SELECT doc_id,
                 unnest([{'bg': w[i] || ' ' || w[i+1], 'r': w[i+1]}
                         for i in range(1, len(w))]) AS p
               FROM dw),
        tf AS (SELECT doc_id, p.bg AS bg, p.r AS r,
                 CAST(COUNT(*) AS BIGINT) AS tf
               FROM dp GROUP BY 1, 2, 3),
        j AS (SELECT tf.doc_id, tf.tf,
                CASE WHEN bt.b IS NOT NULL THEN length(bin(bt.cl // bt.b)) - 1
                     WHEN ut.u IS NOT NULL THEN 4 + length(bin(tot.tot // ut.u)) - 1
                     ELSE 8 + length(bin(tot.tot)) - 1 END AS bits
              FROM tf LEFT JOIN bt USING (bg)
                      LEFT JOIN ut ON ut.t = tf.r CROSS JOIN tot),
        sc AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_pairs,
                 CAST(SUM(tf * bits) AS BIGINT) AS bits,
                 (1000 * CAST(SUM(tf * bits) AS BIGINT)) // CAST(SUM(tf) AS BIGINT)
                   AS mean_millibits
               FROM j GROUP BY doc_id)"""

  private lazy val q218: QueryDef =
    QueryDef("q218_ref_surprisal",
      Some(s"""
        WITH $RefSurprisalCtes
        SELECT doc_id, n_pairs, bits, mean_millibits
        FROM sc ORDER BY doc_id"""),
      (s, d) => {
        val docs = Tables.documents(s, d)
        val ref = docs
          .filter(col("lang") === "en" &&
            col("source").isin("src0", "src1", "src2"))
          .select("text")
        graft.ops.TextStats.referenceSurprisal(docs, ref, "doc_id", "text")
          .orderBy("doc_id")
      })

  /** Deterministic HyperLogLog ([[ops.Sketches.hllSketch]]/
    * [[ops.Sketches.hllMerge]]/[[ops.Sketches.hllEstimate]]):
    * per-source distinct-BIGRAM cardinality (~700/source — above the
    * 2.5m small-range threshold where the RAW estimator is valid; the
    * token vocab's ~31 would sit in the regime the docstring routes to
    * KMV/register-count instead) via md5-derived registers — the
    * ENGINE path builds per-parity-shard register tables and MERGES
    * them (per-bucket max), the oracle builds the one-shot table
    * directly, so the hash equality proves merge-exactness (max of
    * maxes) on top of the integer RAW estimator. The same portability
    * recipe as q159's KMV, in the denser summary: m 6-bit ranks
    * instead of k 60-bit order statistics.
    */
  private lazy val q221: QueryDef =
    QueryDef("q221_hll_distinct",
      Some(s"""
        WITH ws AS (SELECT doc_id, source, string_split(text, ' ') AS w
                    FROM documents),
        t AS (SELECT doc_id, source,
                unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS w
              FROM ws WHERE len(w) >= 2),
        h AS (SELECT DISTINCT source, ${hash60("w")} AS h FROM t),
        b AS (SELECT source, h % 64 AS bucket,
                     ${hllRank("h")} AS rho
              FROM h),
        reg AS (SELECT source, bucket, CAST(MAX(rho) AS BIGINT) AS r
                FROM b GROUP BY source, bucket),
        e AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_buckets,
                     SUM(1::HUGEINT * (1::BIGINT << CAST(60 - r AS INT))) AS s
              FROM reg GROUP BY source),
        est AS (SELECT source, n_buckets,
                  CAST((709::HUGEINT * 64 * 64 * (1::BIGINT << 60))
                       // (1000::HUGEINT *
                           (s + (64 - n_buckets)::HUGEINT * (1::BIGINT << 60)))
                       AS BIGINT) AS est_distinct
                FROM e),
        x AS (SELECT source, CAST(COUNT(DISTINCT w) AS BIGINT) AS exact_distinct
              FROM t GROUP BY source)
        SELECT est.source, est.n_buckets, est.est_distinct, x.exact_distinct,
               (abs(est.est_distinct - x.exact_distinct) * 1000000)
                 // x.exact_distinct AS err_ppm
        FROM est JOIN x ON est.source = x.source ORDER BY est.source"""),
      (s, d) => {
        val w = graft.Pipeline.words(col("text"))
        val toks = Tables.documents(s, d).filter(size(w) >= 2)
          .select(col("doc_id"), col("source"),
            explode(zip_with(
              slice(w, lit(1), size(w) - 1), slice(w, lit(2), size(w) - 1),
              (a, b) => concat(a, lit(" "), b))).as("w"))
        val shards = toks.withColumn("_p", pmod(col("doc_id"), lit(2)))
        val perShard = graft.ops.Sketches.hllSketch(
          shards, Seq("source", "_p"), "w", p = 6)
        val est = graft.ops.Sketches.hllEstimate(
          graft.ops.Sketches.hllMerge(perShard, Seq("source")),
          Seq("source"), p = 6)
        val exact = toks.groupBy("source")
          .agg(countDistinct(col("w")).cast("long").as("exact_distinct"))
        est.join(exact, "source")
          .select(col("source"), col("n_buckets"), col("est_distinct"),
            col("exact_distinct"),
            expr("(abs(est_distinct - exact_distinct) * 1000000) div exact_distinct")
              .as("err_ppm"))
          .orderBy("source")
      })

  /** CCNet head/middle/tail banding
    * ([[ops.TextStats.referenceSurprisal]] +
    * [[ops.Ranking.stratifiedQuantileBuckets]]): the q218 scores cut
    * into PER-LANGUAGE thirds under the (score, id) total order — the
    * paper's actual output shape (keep the head, sample the middle,
    * drop the tail, per language so one language's scale doesn't
    * swallow another's head). The per-stratum rank rides the
    * hierarchical prefix-sum scaffold — a per-lang ntile window would
    * hash a third of the corpus to one task. Oracle replays the shared
    * q218 CTEs, the stratified rank, and the integer third-cut.
    */
  private lazy val q222: QueryDef =
    QueryDef("q222_ccnet_bands",
      Some(s"""
        WITH $RefSurprisalCtes,
        sl AS (SELECT sc.doc_id, d.lang, sc.mean_millibits
               FROM sc JOIN documents d ON sc.doc_id = d.doc_id),
        r AS (SELECT doc_id, lang, mean_millibits,
                ROW_NUMBER() OVER (PARTITION BY lang
                  ORDER BY mean_millibits, doc_id) - 1 AS rk,
                COUNT(*) OVER (PARTITION BY lang) AS nl
              FROM sl)
        SELECT doc_id, lang, mean_millibits,
               CASE (rk * 3) // nl + 1 WHEN 1 THEN 'head'
                    WHEN 2 THEN 'middle' ELSE 'tail' END AS band
        FROM r ORDER BY doc_id"""),
      (s, d) => {
        val docs = Tables.documents(s, d)
        val ref = docs
          .filter(col("lang") === "en" &&
            col("source").isin("src0", "src1", "src2"))
          .select("text")
        val scored = graft.ops.TextStats
          .referenceSurprisal(docs, ref, "doc_id", "text")
          .join(docs.select("doc_id", "lang"), "doc_id")
          .select("doc_id", "lang", "mean_millibits")
        graft.ops.Ranking
          .stratifiedQuantileBuckets(scored, Seq("lang"),
            "mean_millibits", "doc_id", k = 3)
          .select(col("doc_id"), col("lang"), col("mean_millibits"),
            expr("CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle' " +
              "ELSE 'tail' END").as("band"))
          .orderBy("doc_id")
      })

  /** Small-file compaction audit ([[ops.Layout.compactionPlan]]): the
    * documents table as a file inventory (one row per file, bytes =
    * n_chars), packed into ~4 KB merge groups under the deterministic
    * (bytes, path) contiguous cut; files already at target keep
    * group_id -1. The report a table owner reads BEFORE paying a
    * 100 TB rewrite: files-per-group, bytes-per-group. Oracle replays
    * the prefix-sum cut as one window (the scaffold's semantics, not
    * its shape).
    */
  private lazy val q223: QueryDef =
    QueryDef("q223_compaction_plan",
      Some("""
        WITH f AS (SELECT 'docs/' || CAST(doc_id AS VARCHAR) AS path,
                          CAST(n_chars AS BIGINT) AS bytes
                   FROM documents),
        s AS (SELECT path, bytes,
                CAST(COALESCE(SUM(bytes) OVER (ORDER BY bytes, path
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS cb
              FROM f WHERE bytes < 4096),
        g AS (SELECT cb // 4096 AS group_id, bytes FROM s
              UNION ALL
              SELECT -1 AS group_id, bytes FROM f WHERE bytes >= 4096)
        SELECT group_id, CAST(COUNT(*) AS BIGINT) AS n_files,
               CAST(SUM(bytes) AS BIGINT) AS bytes
        FROM g GROUP BY group_id ORDER BY group_id"""),
      (s, d) => graft.ops.Layout.compactionPlan(
          Tables.documents(s, d).select(
            concat(lit("docs/"), col("doc_id").cast("string")).as("path"),
            col("n_chars").cast("long").as("bytes")),
          "path", "bytes", targetBytes = 4096L)
        .groupBy("group_id")
        .agg(count(lit(1)).cast("long").as("n_files"),
          sum(col("bytes")).cast("long").as("bytes"))
        .orderBy("group_id"))

  /** Histogram drift monitor ([[ops.Sketches.histDistance]]): per
    * source, the total-variation distance in ppm between the length
    * distributions of two md5-slot halves of the corpus (the
    * snapshot-vs-snapshot stand-in; the slot split because raw doc_id
    * PARITY is perfectly correlated with source in this testdata —
    * source = doc_id mod 20 — which would leave every source with one
    * empty half) — distribution drift answered from two 64-row
    * mergeable summaries, never the corpora. TV instead of KL/PSI
    * because it is bounded, handles empty buckets as plain share
    * differences, and needs no `ln` (engine-varying libm). The oracle
    * replays buckets, floor-ppm shares, and the half-sum.
    */
  private lazy val q224: QueryDef =
    QueryDef("q224_hist_drift",
      Some(s"""
        WITH bkt AS (SELECT source,
                       ${hash32("CAST(doc_id AS VARCHAR)")} % 2 AS half,
                       CAST(len(list_filter([(1::BIGINT << bb) for bb in range(0, 63)],
                              p -> p <= n_chars)) AS BIGINT) AS bucket
                     FROM documents),
        ha AS (SELECT source, bucket, CAST(COUNT(*) AS BIGINT) AS na
               FROM bkt WHERE half = 0 GROUP BY 1, 2),
        hb AS (SELECT source, bucket, CAST(COUNT(*) AS BIGINT) AS nb
               FROM bkt WHERE half = 1 GROUP BY 1, 2),
        j AS (SELECT COALESCE(ha.source, hb.source) AS source,
                     COALESCE(na, 0) AS na, COALESCE(nb, 0) AS nb
              FROM ha FULL OUTER JOIN hb
                ON ha.source = hb.source AND ha.bucket = hb.bucket),
        t AS (SELECT source, na, nb,
                     SUM(na) OVER (PARTITION BY source) AS ta,
                     SUM(nb) OVER (PARTITION BY source) AS tb
              FROM j)
        SELECT source, CAST(MAX(ta) AS BIGINT) AS n_a,
               CAST(MAX(tb) AS BIGINT) AS n_b,
               CAST(SUM(abs((na * 1000000) // ta - (nb * 1000000) // tb)) // 2
                 AS BIGINT) AS tv_ppm
        FROM t WHERE ta > 0 AND tb > 0
        GROUP BY source ORDER BY source"""),
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id", "source", "n_chars")
        def half(i: Int) = graft.ops.Sketches.histSketch(
          docs.filter(pmod(graft.Pipeline.wordHash32(
            col("doc_id").cast("string")), lit(2L)) === i),
          Seq("source"), "n_chars")
        graft.ops.Sketches.histDistance(half(0), half(1), Seq("source"))
          .orderBy("source")
      })

  /** Quality-ranked token-budget mix
    * ([[ops.Sampling.targetMixTokensByPriority]] fed by
    * [[ops.TextStats.referenceSurprisal]]): the q188 language token
    * targets, but each language's quota is spent on its BEST-scoring
    * documents first (reference-LM surprisal ascending, md5-slot + id
    * tiebreak) — the actual pretraining-mix recipe: targets hold by
    * token mass AND the budget goes quality-first within each
    * stratum. Oracle replays the shared q218 CTEs, the feasible-volume
    * quota math, and the priority-ordered token window.
    */
  private lazy val q225: QueryDef =
    QueryDef("q225_quality_mix",
      Some(s"""
        WITH $RefSurprisalCtes,
        base AS (SELECT sc.doc_id, d.lang,
                   CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok,
                   sc.mean_millibits
                 FROM sc JOIN documents d ON sc.doc_id = d.doc_id),
        tgt AS (SELECT unnest(['en', 'zh', 'es', 'de', 'fr']) AS lang,
                       unnest([500000, 150000, 150000, 100000, 100000]) AS ppm),
        tok AS (SELECT lang, CAST(SUM(n_tok) AS BIGINT) AS toks
                FROM base GROUP BY lang),
        tsel AS (SELECT MIN(toks::HUGEINT * 1000000 // ppm) AS t
                 FROM tok JOIN tgt USING (lang)),
        qq AS (SELECT lang, CAST(tsel.t * ppm // 1000000 AS BIGINT) AS quota
               FROM tgt CROSS JOIN tsel),
        r AS (SELECT doc_id, lang, n_tok, mean_millibits,
                CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY lang
                  ORDER BY mean_millibits,
                           ${hash32("CAST(doc_id AS VARCHAR)")} % 1000000,
                           doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS tb
              FROM base)
        SELECT r.doc_id, r.lang, r.n_tok, r.mean_millibits,
               r.tb AS tok_before
        FROM r JOIN qq ON r.lang = qq.lang AND r.tb < qq.quota
        ORDER BY r.doc_id"""),
      (s, d) => {
        val docs = Tables.documents(s, d)
        val ref = docs
          .filter(col("lang") === "en" &&
            col("source").isin("src0", "src1", "src2"))
          .select("text")
        val base = graft.ops.TextStats
          .referenceSurprisal(docs, ref, "doc_id", "text")
          .join(docs.select(col("doc_id"), col("lang"),
            size(split(col("text"), " ")).cast("long").as("n_tok")),
            "doc_id")
          .select("doc_id", "lang", "n_tok", "mean_millibits")
        graft.ops.Sampling.targetMixTokensByPriority(base, "doc_id",
            "lang", "n_tok", "mean_millibits",
            Seq(("en", 500000), ("zh", 150000), ("es", 150000),
              ("de", 100000), ("fr", 100000)))
          .select("doc_id", "lang", "n_tok", "mean_millibits",
            "tok_before")
          .orderBy("doc_id")
      })
}
