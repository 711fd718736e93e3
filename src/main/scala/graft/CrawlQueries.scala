package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Crawl and stream-shaping queries: intra-host duplication, host
  * language composition, anchor text and outlink extraction over the
  * synthetic crawl (`SynthUrlSql`/`LinkHtmlSql`, whose host graph
  * [[GraphQueries]] ranks), GPT-style context-window blocking,
  * freshness-decay weighting, the Gopher within-doc repetition bundle,
  * dialog and prompt dedup, PII screens, and the Bloom/count-min
  * membership sketches.
  *
  * Oracle discipline: integer arithmetic wherever a float would be
  * order- or rounding-sensitive, md5-hash determinism for every
  * sampling decision, and DuckDB mirrors that replay the identical
  * math.
  */
object CrawlQueries {
  import Tables._
  import OracleSql.{canonUrlCtes, hash32, hash60, host, targetMixTokensSql}

  // Synthetic per-doc URL (the q152 discipline: the corpus has no URL
  // column, so the derivation is deterministic and shared VERBATIM by
  // engine and oracle). ~7 hosts per source.
  private val SynthUrlSql = """
        (CASE WHEN doc_id % 3 = 0 THEN 'http' ELSE 'https' END) || '://' ||
        source || '-' || CAST(doc_id % 7 AS STRING) || '.example.com' ||
        '/docs/' || CAST(doc_id AS STRING)"""

  // q169 plants: three copies of one text — two on the SAME host
  // (960001 and 960008 share doc_id % 7 = 0 and source 'src0'), one
  // alone on another host (960003 % 7 = 2): the intra-host rule must
  // count the co-hosted pair and spare the lone cross-host copy.
  private val DupPlantText = "planted duplicate page body for host audit"

  // q172 synthetic page HTML: two absolute cross-host links (a ring
  // link to the source's next host and, on doc_id % 3 = 0, a link to
  // the shared 'hub.example.com') plus one RELATIVE link that resolves
  // to the page's own host and must drop as a self-edge. Two
  // tolerance plants exercise the round-11 href regex: a SINGLE-quoted
  // href behind a class attribute (quote built with chr(39) — Spark's
  // literal parser treats '' as juxtaposition, so a shared quoted
  // fragment would diverge between engines) and an href-not-first
  // double-quoted anchor.
  private val LinkHtmlSql = """
        '<p>body</p><a href="https://' || source || '-' ||
        CAST((doc_id + 1) % 7 AS STRING) ||
        '.example.com/p">ring</a> <a href="/local/nav">self</a>' ||
        (CASE WHEN doc_id % 3 = 0
              THEN ' <a href="https://hub.example.com/h">hub</a>'
              ELSE '' END) ||
        (CASE WHEN doc_id % 5 = 0
              THEN ' <a class="m" href=' || chr(39) ||
                   'https://alt.example.com/x' || chr(39) || '>alt</a>'
              ELSE '' END) ||
        (CASE WHEN doc_id % 4 = 1
              THEN ' <a rel="x" href="https://attr.example.com/y">attr</a>'
              ELSE '' END)"""

  /** The synthetic crawl's pages (`url`, `html`) and their outlink
    * host graph, shared by the host-graph queries (q172, q183, q220 in
    * [[GraphQueries]], q231 here): `hostGraphCtes` is the oracle's
    * rendering of [[ops.Web.outlinkHostEdges]] over `crawlPages` —
    * pages `u`, hrefs `x`, resolved destination hosts `r`, distinct
    * cross-host edges `e`.
    */
  private[graft] def crawlPages(s: SparkSession, d: String): DataFrame =
    spread(documents(s, d))
      .withColumn("url", expr(SynthUrlSql))
      .withColumn("html", expr(LinkHtmlSql))
  private[graft] val hostGraphCtes = s"""
        WITH u AS (SELECT doc_id, source, $SynthUrlSql AS url,
                          $LinkHtmlSql AS html
                   FROM documents),
        x AS (SELECT ${host("url")} AS src, unnest(regexp_extract_all(html,
                '${graft.ops.Web.sqlPatternLit(graft.ops.Web.HrefRegex)}', 1)) AS href
              FROM u),
        r AS (SELECT src,
                CASE WHEN regexp_matches(href, '^[a-zA-Z][a-zA-Z0-9+.-]*://')
                     THEN lower(regexp_extract(href, '${graft.ops.Web.HostRegex}', 1))
                     ELSE src END AS dst
              FROM x),
        e AS (SELECT DISTINCT src, dst FROM r
              WHERE src <> '' AND dst <> '' AND src <> dst),"""

  // plant-id collision guards ride Tables.guardPlantIds (plan-folded)

  // q175 plant: a degenerate chorus doc that trips BOTH repetition
  // rules (top-2-gram chars and duplicated-5-gram chars); the natural
  // corpus exercises the non-degenerate path.
  private val RepPlantText =
    Seq.fill(12)("buy now buy now limited offer").mkString(" ")

  // q176/q177 synthetic SFT transcript (turns joined by ' ||| ', each
  // 'role: body'; shared VERBATIM by engine and oracle). The first
  // turn is one of 25 prompts (so prompt dedup collapses ~20-doc
  // groups); doc_id % 4 steers the structure: 0 = clean pair, 1 =
  // user/user alternation violation, 2 = prompt-only (no assistant),
  // 3 = clean two-exchange transcript.
  private val SynthConvSql = """
        'user: question ' || CAST(doc_id % 25 AS STRING) ||
        (CASE doc_id % 4
          WHEN 0 THEN ' ||| assistant: ' || text
          WHEN 1 THEN ' ||| user: again please ||| assistant: ' || text
          WHEN 2 THEN ''
          ELSE ' ||| assistant: ' || text ||
               ' ||| user: ok thanks ||| assistant: short answer'
         END)"""

  // q178 plants: a Luhn-valid 16-digit PAN, the same number with the
  // check digit broken, and a valid 15-digit (Amex-length) number —
  // the screen must count 1/0/1 valid of 1/1/1 candidates. The
  // natural corpus has no 13-19-digit runs (all-word texts).
  private val LuhnPlantValid16 = "order 4532015112830366 confirmed"
  private val LuhnPlantInvalid = "ref 4532015112830367 pending"
  private val LuhnPlantValid15 = "amex 378282246310005 charged"

  // q180 plants: self-contained unk exercise — 'common' appears 4x
  // across the two plants (>= minCount 3, known), the zz* tokens once
  // each (unk). The natural corpus vocabulary has no count-<3 tokens
  // at any shipped SF, so without plants the rule never fires.
  private val UnkPlantA = "common common zzrare1 zzrare2"
  private val UnkPlantB = "common common zzfiller"

  // q181 synthetic HTML: three simple anchors per page — a ring link
  // to the source's next host (text varies with the source), a
  // RELATIVE link (resolves to the page's own host), and on every
  // third page a link to the shared hub with fixed text. Shared
  // verbatim; the q172 resolution rule applies.
  private val AnchorHtmlSql = """
        '<p>body</p><a href="https://' || source || '-' ||
        CAST((doc_id + 1) % 7 AS STRING) ||
        '.example.com/p">visit ' || source || ' mirror</a>' ||
        '<a href="/nav">home nav</a>' ||
        (CASE WHEN doc_id % 3 = 0
              THEN '<a href="https://hub.example.com/h">central hub resource</a>'
              ELSE '' END) ||
        (CASE WHEN doc_id % 5 = 2
              THEN '<a rel="nofollow" href=' || chr(39) ||
                   'https://hub.example.com/h' || chr(39) ||
                   '>trusted hub</a>'
              ELSE '' END)"""

  // q182 plants: B = A with three tokens INSERTED at the front — the
  // CDC showcase: content-defined boundaries re-sync after the edit,
  // so the tail chunks stay byte-identical and the duplication report
  // fires; positional chunking would share nothing.
  private val CdcPlantA =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda " +
      "mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega " +
      "one two three four five six seven eight nine ten eleven twelve"
  private val CdcPlantB = "inserted prefix words " + CdcPlantA

  // q187 synthetic URLs: four dressings of each of 20 resources —
  // two param ORDERINGS of the same query, a tracking-decorated
  // variant (utm_source + gclid interleaved with real params), and an
  // all-tracking variant (UPPERCASE key + a valueless gclid — the
  // case-insensitive optional-'=' tolerance) that must canonicalize
  // to the bare path. A www. on even ids keeps the base canonicalUrl
  // rules in play.
  private val TrackUrlSynthSql = """
        'https://' ||
        (CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END) ||
        'site' || CAST(doc_id % 20 AS STRING) || '.example.com/p' ||
        (CASE doc_id % 4
          WHEN 0 THEN '?a=1&b=2'
          WHEN 1 THEN '?b=2&a=1'
          WHEN 2 THEN '?utm_source=feed&a=1&gclid=xyz&b=2'
          ELSE '?UTM_Campaign=x&gclid'
         END)"""

  val all: Seq[QueryDef] = Seq(

    // Intra-host exact-duplication report ([[ops.Web.hostDupStats]]):
    // per host, docs whose md5 content digest repeats WITHIN the host
    // — the "template-y host" downweight signal, caught before any
    // text-level near-dup is paid for. The sf-corpus texts are all
    // distinct, so three plants exercise the rule: two copies co-hosted
    // (counted), a third copy alone on another host (spared — exact
    // cross-host duplication is q24's jurisdiction, not this report's).
    QueryDef("q169_host_dup",
      Some(s"""
        WITH corpus AS (
          SELECT doc_id, source, text FROM documents
          UNION ALL
          SELECT * FROM (VALUES
            (CAST(960001 AS BIGINT), 'src0', '$DupPlantText'),
            (CAST(960008 AS BIGINT), 'src0', '$DupPlantText'),
            (CAST(960003 AS BIGINT), 'src0', '$DupPlantText')) v(doc_id, source, text)),
        u AS (SELECT doc_id, text, $SynthUrlSql AS url FROM corpus),
        h AS (SELECT ${host("url")} AS host, md5(text) AS dig FROM u),
        g AS (SELECT host, dig, CAST(COUNT(*) AS BIGINT) AS n
              FROM h GROUP BY host, dig)
        SELECT host, CAST(SUM(n) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN n >= 2 THEN n ELSE 0 END) AS BIGINT) AS n_dup_docs,
               CAST((1000000 * SUM(CASE WHEN n >= 2 THEN n ELSE 0 END))
                 // SUM(n) AS BIGINT) AS dup_ppm
        FROM g GROUP BY host ORDER BY host"""),
      (s, d) => {
        import s.implicits._
        val planted = Seq((960001L, "src0", DupPlantText),
          (960008L, "src0", DupPlantText), (960003L, "src0", DupPlantText))
          .toDF("doc_id", "source", "text")
        graft.ops.Web.hostDupStats(
            guardPlantIds(
              spread(documents(s, d)).select("doc_id", "source", "text"),
              Seq(960001L, 960008L, 960003L))
              .unionAll(planted)
              .withColumn("url", expr(SynthUrlSql)),
            "url", "text")
          .orderBy("host")
      }),

    // Host × language composition ([[ops.Web.hostLangProfile]]): per
    // (host, lang) doc count and its integer-ppm share of the host —
    // the host-granularity mislabeling/mixed-content screen (a host
    // splitting 60/40 across languages is boilerplate-wrapped or
    // mislabeled). One bounded aggregate + a host-partitioned share
    // window over rows bounded by the language count.
    QueryDef("q170_host_lang_mix",
      Some(s"""
        WITH u AS (SELECT doc_id, lang, $SynthUrlSql AS url FROM documents),
        g AS (SELECT ${host("url")} AS host, lang, CAST(COUNT(*) AS BIGINT) AS n_docs
              FROM u GROUP BY 1, 2)
        SELECT host, lang, n_docs,
               CAST((1000000 * n_docs) //
                 CAST(SUM(n_docs) OVER (PARTITION BY host) AS BIGINT) AS BIGINT)
                 AS share_ppm
        FROM g ORDER BY host, lang"""),
      (s, d) => graft.ops.Web.hostLangProfile(
          spread(documents(s, d)).withColumn("url", expr(SynthUrlSql)),
          "url", "lang")
        .orderBy("host", "lang")),

    // GPT-style context-window blocking ([[ops.Sampling
    // .contextBlocks]]): the corpus as ONE token stream in doc_id
    // order, chopped into 512-token blocks — each doc's stream offset,
    // the blocks it spans, and the boundary-fragmentation flag (docs
    // cut by a block boundary train with severed context; their rate is
    // the metric a blocking review reports). Offsets ride the
    // hierarchical prefix-sum scaffold, never a single-task global
    // window; the oracle replays it as one window sum.
    QueryDef("q173_context_blocks",
      Some("""
        WITH t AS (SELECT doc_id,
                     CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
                   FROM documents),
        p AS (SELECT doc_id, n_tok,
                CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS tok_start
              FROM t)
        SELECT doc_id, n_tok, tok_start,
               tok_start // 512 AS first_block,
               (tok_start + greatest(n_tok, 1) - 1) // 512 AS last_block,
               (tok_start + greatest(n_tok, 1) - 1) // 512
                 - tok_start // 512 + 1 AS n_blocks,
               ((tok_start + greatest(n_tok, 1) - 1) // 512
                 - tok_start // 512 + 1) > 1 AS boundary_frag
        FROM p ORDER BY doc_id"""),
      (s, d) => graft.ops.Sampling.contextBlocks(
          spread(documents(s, d)).select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("n_tok")),
          "doc_id", "n_tok", ctxLen = 512L)
        .select("doc_id", "n_tok", "tok_start", "first_block",
          "last_block", "n_blocks", "boundary_frag")
        .orderBy("doc_id")),

    // Freshness-decay weighting ([[ops.Sampling.freshnessWeights]]):
    // each event weighted by a stepwise half-life rule — weight halves
    // EXACTLY per 7 elapsed days via an integer right-shift (1e6 >>
    // (age div 7)), bit-identical where a float exp() is not — and kept
    // by the md5-slot draw at that weight. `asOfDay` is a pinned
    // constant (day 19760; the corpus spans 19723-19752), never
    // wall-clock, so the scoring replays deterministically.
    QueryDef("q174_freshness_decay",
      Some(s"""
        WITH e AS (SELECT event_id,
                     epoch_us(ts) // 86400000000 AS day
                   FROM events),
        f AS (SELECT event_id,
                CAST(greatest(0, 19760 - day) AS BIGINT) AS age_days
              FROM e),
        w AS (SELECT event_id, age_days,
                CAST(1000000 >> least(age_days // 7, 62) AS BIGINT) AS weight_ppm
              FROM f)
        SELECT event_id, age_days, weight_ppm,
               ${hash32("CAST(event_id AS VARCHAR)")} % 1000000 < weight_ppm AS kept
        FROM w ORDER BY event_id"""),
      (s, d) => graft.ops.Sampling.freshnessWeights(
          events(s, d).select(col("event_id"),
            expr("(ts_ns div 1000) div 86400000000").as("_day")),
          "event_id", col("_day"), asOfDay = 19760L, halfLifeDays = 7L)
        .select("event_id", "age_days", "weight_ppm", "kept")
        .orderBy("event_id")),

    // Within-doc repetition bundle ([[ops.TextStats.repetitionRules]]
    // — the Gopher §A1.1 character-fraction family): chars claimed by
    // the most frequent 2-gram and by all duplicated 5-grams, in
    // occurrence-weighted integer ppm, with per-rule verdicts. The
    // planted chorus doc trips both rules; the natural corpus
    // exercises the pass path. Ties on the top gram break (count desc,
    // gram asc) — deterministic on both engines.
    QueryDef("q175_repetition_rules",
      Some(s"""
        WITH corpus AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT CAST(970001 AS BIGINT), '$RepPlantText'),
        b AS (SELECT doc_id, string_split(text, ' ') AS w,
                     CAST(length(text) AS BIGINT) AS n_chars
              FROM corpus),
        g2 AS (SELECT doc_id, array_to_string(w[i:i+1], ' ') AS g
               FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i
                     FROM b WHERE len(w) >= 2)),
        c2 AS (SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS n
               FROM g2 GROUP BY doc_id, g),
        t2 AS (SELECT doc_id, n * length(g) AS charge,
                      ROW_NUMBER() OVER (PARTITION BY doc_id
                        ORDER BY n DESC, g) AS rn
               FROM c2),
        top2 AS (SELECT doc_id, charge FROM t2 WHERE rn = 1),
        g5 AS (SELECT doc_id, array_to_string(w[i:i+4], ' ') AS g
               FROM (SELECT doc_id, w, unnest(range(1, len(w) - 3)) AS i
                     FROM b WHERE len(w) >= 5)),
        c5 AS (SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS n
               FROM g5 GROUP BY doc_id, g),
        dup5 AS (SELECT doc_id, CAST(SUM(n * length(g)) AS BIGINT) AS charge
                 FROM c5 WHERE n >= 2 GROUP BY doc_id)
        SELECT b.doc_id, b.n_chars,
               CAST((1000000 * COALESCE(top2.charge, 0))
                 // greatest(b.n_chars, 1) AS BIGINT) AS top_ppm,
               CAST((1000000 * COALESCE(dup5.charge, 0))
                 // greatest(b.n_chars, 1) AS BIGINT) AS dup_ppm,
               (1000000 * COALESCE(top2.charge, 0))
                 // greatest(b.n_chars, 1) <= 200000 AS r_top,
               (1000000 * COALESCE(dup5.charge, 0))
                 // greatest(b.n_chars, 1) <= 150000 AS r_dup,
               ((1000000 * COALESCE(top2.charge, 0))
                 // greatest(b.n_chars, 1) <= 200000) AND
               ((1000000 * COALESCE(dup5.charge, 0))
                 // greatest(b.n_chars, 1) <= 150000) AS pass
        FROM b LEFT JOIN top2 ON top2.doc_id = b.doc_id
               LEFT JOIN dup5 ON dup5.doc_id = b.doc_id
        ORDER BY b.doc_id"""),
      (s, d) => {
        import s.implicits._
        val planted = Seq((970001L, RepPlantText)).toDF("doc_id", "text")
        graft.ops.TextStats.repetitionRules(
            guardPlantIds(spread(documents(s, d)).select("doc_id", "text"),
              Seq(970001L))
              .unionAll(planted),
            "doc_id", "text")
          .orderBy("doc_id")
      }),

    // SFT transcript structure audit ([[ops.Dialog.turnStats]]): per
    // conversation — turn count, starts-user / ends-assistant, role
    // validity, alternation, and the role token split (the assistant
    // share IS the supervised token budget once user turns are loss-
    // masked). The synthetic transcripts exercise every verdict:
    // doc_id % 4 = 1 violates alternation, % 4 = 2 lacks the
    // assistant turn. Pure scan-side HOFs; the oracle replays the
    // anchored-regex parse over the identical transcript.
    QueryDef("q176_dialog_stats",
      Some(s"""
        WITH c AS (SELECT doc_id, $SynthConvSql AS conv FROM documents),
        t AS (SELECT doc_id, string_split(conv, ' ||| ') AS ts FROM c),
        r AS (SELECT doc_id, ts,
                [regexp_extract(x, '^(user|assistant|system): ', 1) for x in ts] AS roles,
                [regexp_replace(x, '^(user|assistant|system): ', '') for x in ts] AS bodies
              FROM t),
        f AS (SELECT doc_id,
                CAST(len(ts) AS BIGINT) AS n_turns,
                roles[1] = 'user' AS starts_user,
                roles[-1] = 'assistant' AS ends_assistant,
                len(list_filter(roles, r -> r = '')) = 0 AS roles_ok,
                CASE WHEN len(ts) < 2 THEN true
                     ELSE len([i for i in range(1, len(roles))
                               if roles[i] = roles[i+1]]) = 0 END AS alternation_ok,
                CAST(COALESCE(list_sum([CASE WHEN roles[i] = 'user'
                    THEN len(string_split(bodies[i], ' ')) ELSE 0 END
                  for i in range(1, len(roles) + 1)]), 0) AS BIGINT) AS user_tok,
                CAST(COALESCE(list_sum([CASE WHEN roles[i] = 'assistant'
                    THEN len(string_split(bodies[i], ' ')) ELSE 0 END
                  for i in range(1, len(roles) + 1)]), 0) AS BIGINT) AS asst_tok
              FROM r)
        SELECT doc_id, n_turns, starts_user, ends_assistant, roles_ok,
               alternation_ok, user_tok, asst_tok,
               (1000000 * asst_tok) // greatest(user_tok + asst_tok, 1) AS asst_share_ppm,
               starts_user AND ends_assistant AND roles_ok
                 AND alternation_ok AS well_formed
        FROM f ORDER BY doc_id"""),
      (s, d) => graft.ops.Dialog.turnStats(
          spread(documents(s, d)).withColumn("conv", expr(SynthConvSql)),
          "doc_id", "conv")
        .select("doc_id", "n_turns", "starts_user", "ends_assistant",
          "roles_ok", "alternation_ok", "user_tok", "asst_tok",
          "asst_share_ppm", "well_formed")
        .orderBy("doc_id")),

    // Prompt-level dedup ([[ops.Dialog.promptDedup]]): transcripts
    // sharing a first-turn body collapse (the same question with two
    // different answers is exactly the pair whole-transcript dedup
    // misses — and the one that teaches answer memorization). The 25
    // synthetic prompts collapse ~20-doc groups; keep = lowest id.
    QueryDef("q177_prompt_dedup",
      Some(s"""
        WITH c AS (SELECT doc_id, $SynthConvSql AS conv FROM documents),
        p AS (SELECT doc_id,
                md5(regexp_replace(string_split(conv, ' ||| ')[1],
                  '^(user|assistant|system): ', '')) AS prompt_digest
              FROM c)
        SELECT prompt_digest, MIN(doc_id) AS keep_id,
               CAST(COUNT(*) AS BIGINT) AS n_variants
        FROM p GROUP BY 1 ORDER BY prompt_digest"""),
      (s, d) => graft.ops.Dialog.promptDedup(
          spread(documents(s, d)).withColumn("conv", expr(SynthConvSql)),
          "doc_id", "conv")
        .orderBy("prompt_digest")),

    // Payment-card screen with the Luhn checksum ([[ops.Redact
    // .luhnScreen]]): maximal 13-19-digit runs (greedy extract-all +
    // HOF length filter — RE2 has no lookarounds, so no {13,19}
    // boundary pattern) checked by the exact integer mod-10 fold.
    // Plants: a valid 16-digit PAN, the same number with a broken
    // check digit (candidate but NOT valid — the checksum is what
    // separates card numbers from order ids), a valid 15-digit Amex.
    QueryDef("q178_luhn_screen",
      Some(s"""
        WITH corpus AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT * FROM (VALUES
            (CAST(980001 AS BIGINT), '$LuhnPlantValid16'),
            (CAST(980002 AS BIGINT), '$LuhnPlantInvalid'),
            (CAST(980003 AS BIGINT), '$LuhnPlantValid15')) v(doc_id, text)),
        c AS (SELECT doc_id,
                list_filter(regexp_extract_all(text, '[0-9]+'),
                  x -> length(x) BETWEEN 13 AND 19) AS cands
              FROM corpus),
        v AS (SELECT doc_id, cands,
                list_filter(cands, cd -> list_sum(
                  [CASE WHEN i % 2 = 1 THEN CAST(substr(reverse(cd), i, 1) AS INT)
                        WHEN 2 * CAST(substr(reverse(cd), i, 1) AS INT) > 9
                        THEN 2 * CAST(substr(reverse(cd), i, 1) AS INT) - 9
                        ELSE 2 * CAST(substr(reverse(cd), i, 1) AS INT) END
                   for i in range(1, length(cd) + 1)]) % 10 = 0) AS valids
              FROM c)
        SELECT doc_id, CAST(len(cands) AS BIGINT) AS n_candidates,
               CAST(len(valids) AS BIGINT) AS n_luhn_valid,
               len(valids) > 0 AS flagged
        FROM v ORDER BY doc_id"""),
      (s, d) => {
        import s.implicits._
        val planted = Seq((980001L, LuhnPlantValid16),
          (980002L, LuhnPlantInvalid), (980003L, LuhnPlantValid15))
          .toDF("doc_id", "text")
        graft.ops.Redact.luhnScreen(
            guardPlantIds(spread(documents(s, d)).select("doc_id", "text"),
              Seq(980001L, 980002L, 980003L))
              .unionAll(planted),
            "doc_id", "text")
          .orderBy("doc_id")
      }),

    // Event burst screen ([[ops.Events.burstScreen]]): per (type,
    // day) counts vs the type's exact lower-median daily count —
    // burst fires at >= 3x median (bot spikes / replay storms distort
    // behavioural statistics before they reach training). A planted
    // 300-event 'view' day (~4.5x the natural ~66/day) trips the
    // flag; id-range clash-checked like every plant.
    QueryDef("q179_event_bursts",
      Some("""
        WITH base AS (SELECT event_type,
                        epoch_us(ts) // 86400000000 AS day
                      FROM events
                      UNION ALL
                      SELECT 'view' AS event_type, 19740 AS day
                      FROM range(1, 301)),
        c AS (SELECT event_type, CAST(day AS BIGINT) AS day,
                     CAST(COUNT(*) AS BIGINT) AS n
              FROM base GROUP BY 1, 2),
        m AS (SELECT event_type, day, n,
                     ROW_NUMBER() OVER (PARTITION BY event_type
                       ORDER BY n, day) AS rn,
                     COUNT(*) OVER (PARTITION BY event_type) AS m
              FROM c),
        med AS (SELECT event_type, n AS med FROM m WHERE rn = (m + 1) // 2)
        SELECT c.event_type, c.day, c.n, med.med,
               c.n * 1000000 >= 3000000 * med.med AS burst
        FROM c JOIN med ON med.event_type = c.event_type
        ORDER BY c.event_type, c.day"""),
      (s, d) => {
        // the screen keys on (type, day) only — the plant needs no
        // event ids, so no id-range clash is possible at any SF
        val plant = s.range(1, 301)
          .select(lit("view").as("event_type"), lit(19740L).as("day"))
        val base = events(s, d).select(col("event_type"),
            expr("(ts_ns div 1000) div 86400000000").as("day"))
          .unionAll(plant)
        graft.ops.Events.burstScreen(base, "event_type", col("day"))
          .orderBy("event_type", "day")
      }),

    // UNK-rate audit ([[ops.TextStats.unkRate]]): per doc, the share
    // of token occurrences a minCount-3 vocabulary maps to <unk> —
    // the closed-vocab readability screen. The shipped corpus has no
    // count-<3 tokens (every natural doc scores 0 — the emit-all pass
    // path), so two self-contained plants exercise the rule: their
    // shared 'common' token clears the cutoff, the zz* singletons
    // fall under it.
    QueryDef("q180_unk_rate",
      Some(s"""
        WITH corpus AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT * FROM (VALUES
            (CAST(985001 AS BIGINT), '$UnkPlantA'),
            (CAST(985002 AS BIGINT), '$UnkPlantB')) v(doc_id, text)),
        tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM corpus),
        tf AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf
               FROM tok GROUP BY doc_id, w),
        f AS (SELECT doc_id, tf,
                     CAST(SUM(tf) OVER (PARTITION BY w) AS BIGINT) AS freq
              FROM tf)
        SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tok,
               CAST(SUM(CASE WHEN freq < 3 THEN tf ELSE 0 END) AS BIGINT) AS n_unk,
               (1000000 * CAST(SUM(CASE WHEN freq < 3 THEN tf ELSE 0 END) AS BIGINT))
                 // CAST(SUM(tf) AS BIGINT) AS unk_ppm
        FROM f GROUP BY doc_id ORDER BY doc_id"""),
      (s, d) => {
        import s.implicits._
        val planted = Seq((985001L, UnkPlantA), (985002L, UnkPlantB))
          .toDF("doc_id", "text")
        graft.ops.TextStats.unkRate(
            guardPlantIds(spread(documents(s, d)).select("doc_id", "text"),
              Seq(985001L, 985002L))
              .unionAll(planted),
            "doc_id", "text", minCount = 3L)
          .orderBy("doc_id")
      }),

    // Anchor-text profile ([[ops.Web.anchorTexts]]): the top-3 terms
    // the (synthetic) web uses to LINK to each host — the off-page
    // description signal search and domain classification key on.
    // Two-group extract-all zipped positionally, the q172 resolution
    // rule, and the q127 packed-order GroupedTopK; the oracle replays
    // the zip, the resolution, and the (n desc, hash desc) tiebreak.
    QueryDef("q181_anchor_text",
      Some(s"""
        WITH u AS (SELECT doc_id, source, $SynthUrlSql AS url,
                          $AnchorHtmlSql AS html
                   FROM documents),
        x AS (SELECT ${host("url")} AS src,
                regexp_extract_all(html, '${graft.ops.Web.sqlPatternLit(graft.ops.Web.AnchorRegex)}', 1) AS hs,
                regexp_extract_all(html, '${graft.ops.Web.sqlPatternLit(graft.ops.Web.AnchorRegex)}', 2) AS txt
              FROM u),
        p AS (SELECT src, unnest([{'h': hs[i], 't': txt[i]}
                                  for i in range(1, len(hs) + 1)]) AS l
              FROM x),
        r AS (SELECT CASE WHEN regexp_matches(l.h, '^[a-zA-Z][a-zA-Z0-9+.-]*://')
                          THEN lower(regexp_extract(l.h, '${graft.ops.Web.HostRegex}', 1))
                          ELSE src END AS dst_host,
                     unnest(string_split(lower(l.t), ' ')) AS term
              FROM p),
        c AS (SELECT dst_host, term, CAST(COUNT(*) AS BIGINT) AS n
              FROM r WHERE dst_host <> '' AND term <> ''
              GROUP BY dst_host, term),
        k AS (SELECT dst_host, term, n,
                     ROW_NUMBER() OVER (PARTITION BY dst_host
                       ORDER BY n DESC, ${hash32("term")} DESC) AS rn
              FROM c)
        SELECT dst_host, term, n FROM k WHERE rn <= 3
        ORDER BY dst_host, n DESC, term"""),
      (s, d) => graft.ops.Web.anchorTexts(
          spread(documents(s, d))
            .withColumn("url", expr(SynthUrlSql))
            .withColumn("html", expr(AnchorHtmlSql)),
          "url", "html", k = 3)
        .orderBy(col("dst_host"), col("n").desc, col("term"))),

    // Content-defined chunk duplication ([[ops.Chunking.cdcDupStats]]):
    // rsync/FastCDC-style chunking — a boundary falls where the hash
    // of the last 3 tokens ≡ 0 (mod 8), so boundaries are decided by
    // CONTENT and re-sync after an edit. The planted pair (B = A with
    // three tokens inserted at the front) shares its tail chunks —
    // the property fixed-width spans (q155) and positional chunks
    // (q106/q107) fundamentally lack. The oracle replays boundary
    // detection, slicing, the digest df gate, and the token charge.
    QueryDef("q182_cdc_dup",
      Some(s"""
        WITH corpus AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT * FROM (VALUES
            (CAST(975001 AS BIGINT), '$CdcPlantA'),
            (CAST(975002 AS BIGINT), '$CdcPlantB')) v(doc_id, text)),
        w AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
        b AS (SELECT doc_id, w,
                list_prepend(1, [i + 1 for i in range(3, len(w))
                  if ${hash60("array_to_string(w[i-2:i], ' ')")} % 8 = 0]) AS starts
              FROM w),
        ch AS (SELECT doc_id, unnest([{'idx': j - 1,
                 'chunk': array_to_string(w[starts[j] :
                   CASE WHEN j < len(starts) THEN starts[j+1] - 1
                        ELSE len(w) END], ' '),
                 'nt': (CASE WHEN j < len(starts) THEN starts[j+1]
                             ELSE len(w) + 1 END) - starts[j]}
                for j in range(1, len(starts) + 1)]) AS c
               FROM b),
        f AS (SELECT doc_id, c.chunk AS chunk, CAST(c.nt AS BIGINT) AS nt FROM ch),
        d AS (SELECT doc_id, nt,
                     COUNT(*) OVER (PARTITION BY md5(chunk)) AS df
              FROM f)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
               CAST(SUM(nt) AS BIGINT) AS n_tok,
               CAST(SUM(CASE WHEN df >= 2 THEN nt ELSE 0 END) AS BIGINT) AS dup_tok,
               (1000000 * CAST(SUM(CASE WHEN df >= 2 THEN nt ELSE 0 END) AS BIGINT))
                 // greatest(CAST(SUM(nt) AS BIGINT), 1) AS dup_ppm
        FROM d GROUP BY doc_id ORDER BY doc_id"""),
      (s, d) => {
        import s.implicits._
        val planted = Seq((975001L, CdcPlantA), (975002L, CdcPlantB))
          .toDF("doc_id", "text")
        graft.ops.Chunking.cdcDupStats(
            guardPlantIds(spread(documents(s, d)).select("doc_id", "text"),
              Seq(975001L, 975002L))
              .unionAll(planted),
            "doc_id", "text", window = 3, modulus = 8)
          .orderBy("doc_id")
      }),

    // Degree-distribution audit ([[ops.Graph.degreeHistogram]]): node
    // counts per power-of-two degree band, out and in separately,
    // over the directed trade graph — the power-law / hub-skew report
    // that sizes salting and caps BEFORE a graph workload runs (the
    // supplier hubs the scale sweeps keep exercising live in the top
    // in-band here). Two bounded aggregates; <= 64 rows per direction.
    QueryDef("q184_degree_histogram",
      Some(s"""
        WITH e AS (${GraphQueries.tradeEdgesSql()}),
        o AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY src),
        i AS (SELECT dst, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY dst),
        b AS (SELECT 'out' AS direction,
                     CASE WHEN deg <= 0 THEN CAST(0 AS BIGINT)
                          ELSE CAST(1 << (length(bin(deg)) - 1) AS BIGINT) END AS band_lo
              FROM o
              UNION ALL
              SELECT 'in' AS direction,
                     CASE WHEN deg <= 0 THEN CAST(0 AS BIGINT)
                          ELSE CAST(1 << (length(bin(deg)) - 1) AS BIGINT) END AS band_lo
              FROM i)
        SELECT direction, band_lo, CAST(COUNT(*) AS BIGINT) AS n_nodes
        FROM b GROUP BY direction, band_lo
        ORDER BY direction, band_lo"""),
      (s, d) => graft.ops.Graph.degreeHistogram(GraphQueries.tradeEdges(s, d))
        .orderBy("direction", "band_lo")),

    // Bloom membership sketch ([[ops.Sketches.bloomSketch]] /
    // [[ops.Sketches.bloomMightContain]]): per-source 1024-bit bitmap
    // over the token vocabulary in 63-bit words (bit 63 never set —
    // engine-portable shifts), probed with each source's 3 smallest
    // tokens (must read present: no false negatives) and 2 absent
    // sentinels. The at-scale membership pre-gate: a shard ships ~17
    // longs per group, never the vocabulary; OR-merge proven in the
    // spec. The oracle replays positions, masks, bit_or, and the
    // all-bits-set conjunction.
    QueryDef("q185_bloom_membership",
      Some(s"""
        WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
        dt AS (SELECT DISTINCT source, w FROM tok),
        pos AS (SELECT source, unnest([
                  ${hash60("'0_' || w")} % 1024,
                  ${hash60("'1_' || w")} % 1024,
                  ${hash60("'2_' || w")} % 1024]) AS p
                FROM dt),
        bm AS (SELECT source, p // 63 AS wi,
                      bit_or(1::BIGINT << CAST(p % 63 AS INT)) AS bits
               FROM pos GROUP BY 1, 2),
        pr AS (SELECT source, w AS probe
               FROM (SELECT source, w, ROW_NUMBER() OVER (
                       PARTITION BY source ORDER BY w) AS rn FROM dt)
               WHERE rn <= 3
               UNION ALL
               SELECT DISTINCT source, 'zzabsentbloom1' FROM dt
               UNION ALL
               SELECT DISTINCT source, 'zzabsentbloom2' FROM dt),
        pp AS (SELECT source, probe, unnest([
                 ${hash60("'0_' || probe")} % 1024,
                 ${hash60("'1_' || probe")} % 1024,
                 ${hash60("'2_' || probe")} % 1024]) AS p
               FROM pr),
        hit AS (SELECT pp.source AS source, pp.probe AS probe,
                  (COALESCE(bm.bits, 0) &
                    (1::BIGINT << CAST(pp.p % 63 AS INT))) <> 0 AS h
                FROM pp LEFT JOIN bm
                  ON bm.source = pp.source AND bm.wi = pp.p // 63),
        mc AS (SELECT source, probe, bool_and(h) AS might_contain
               FROM hit GROUP BY 1, 2)
        SELECT mc.source AS source, mc.probe AS probe, mc.might_contain,
               dt.w IS NOT NULL AS actually_in
        FROM mc LEFT JOIN dt ON dt.source = mc.source AND dt.w = mc.probe
        ORDER BY mc.source, mc.probe"""),
      (s, d) => {
        val dt = spread(documents(s, d))
          .select(col("source"), explode(split(col("text"), " ")).as("w"))
          .distinct()
        val sketch = graft.ops.Sketches.bloomSketch(dt, Seq("source"), "w")
        val w3 = org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy("w")
        val probes = dt.withColumn("_rn", row_number().over(w3))
          .filter(col("_rn") <= 3)
          .select(col("source"), col("w").as("probe"))
          .unionAll(dt.select("source").distinct()
            .select(col("source"), explode(array(lit("zzabsentbloom1"),
              lit("zzabsentbloom2"))).as("probe")))
        graft.ops.Sketches.bloomMightContain(sketch, probes,
            Seq("source"), "probe")
          .join(dt.select(col("source").as("_as"), col("w").as("_aw"),
              lit(true).as("_ai")),
            col("source") === col("_as") && col("probe") === col("_aw"),
            "left")
          .select(col("source"), col("probe"), col("might_contain"),
            coalesce(col("_ai"), lit(false)).as("actually_in"))
          .orderBy("source", "probe")
      }),

    // Count-min frequency sketch ([[ops.Sketches.cmsSketch]] /
    // [[ops.Sketches.cmsEstimate]]): per-source 4x256 integer counter
    // grid over token occurrences, probed with each source's 3 most
    // frequent tokens (deterministic tiebreak) and an absent sentinel
    // — estimates never under-count (collisions only add), the
    // bounded-memory frequency table for vocabularies too large to
    // materialize. The oracle replays the counter build and the
    // min-over-depth estimate bit-for-bit.
    QueryDef("q186_cms_frequency",
      Some(s"""
        WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
        sk AS (SELECT source, d, ${hash60("CAST(d AS VARCHAR) || '_' || w")} % 256 AS pos,
                      CAST(COUNT(*) AS BIGINT) AS n
               FROM tok CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS d)
               GROUP BY 1, 2, 3),
        ex AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS exact_n
               FROM tok GROUP BY 1, 2),
        pr AS (SELECT source, w AS probe, exact_n
               FROM (SELECT source, w, exact_n, ROW_NUMBER() OVER (
                       PARTITION BY source ORDER BY exact_n DESC, w) AS rn
                     FROM ex)
               WHERE rn <= 3
               UNION ALL
               SELECT DISTINCT source, 'zzabsentcms', CAST(0 AS BIGINT) FROM tok),
        pp AS (SELECT source, probe, exact_n, d,
                      ${hash60("CAST(d AS VARCHAR) || '_' || probe")} % 256 AS pos
               FROM pr CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS d)),
        est AS (SELECT pp.source AS source, pp.probe AS probe,
                       pp.exact_n AS exact_n,
                       CAST(MIN(COALESCE(sk.n, 0)) AS BIGINT) AS est_n
                FROM pp LEFT JOIN sk
                  ON sk.source = pp.source AND sk.d = pp.d AND sk.pos = pp.pos
                GROUP BY 1, 2, 3)
        SELECT source, probe, exact_n, est_n, est_n >= exact_n AS no_undercount
        FROM est ORDER BY source, probe"""),
      (s, d) => {
        val tok = spread(documents(s, d))
          .select(col("source"), explode(split(col("text"), " ")).as("w"))
        // round-19 (guide §2.3/§5): ONE (source, w) exact-count
        // exchange feeds the sketch build (cmsSketchOfCounts — depth
        // md5 positions per DISTINCT token, not per occurrence), the
        // probe truth, AND the distinct-source sentinel row — persist
        // the vocabulary-sized count table; the old shape re-counted
        // inside cmsSketch and re-derived the token stream per branch.
        val exact = tok.groupBy("source", "w")
          .agg(count(lit(1)).cast("long").as("exact_n"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val sketch = graft.ops.Sketches.cmsSketchOfCounts(exact,
          Seq("source"), "w", "exact_n")
        val w3 = org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy(col("exact_n").desc, col("w"))
        val probes = exact.withColumn("_rn", row_number().over(w3))
          .filter(col("_rn") <= 3)
          .select(col("source"), col("w").as("probe"), col("exact_n"))
          .unionAll(exact.select("source").distinct()
            .select(col("source"), lit("zzabsentcms").as("probe"),
              lit(0L).as("exact_n")))
        graft.ops.Sketches.cmsEstimate(sketch,
            probes.select("source", "probe"), Seq("source"), "probe")
          .join(probes, Seq("source", "probe"))
          .select(col("source"), col("probe"), col("exact_n"), col("est_n"),
            (col("est_n") >= col("exact_n")).as("no_undercount"))
          .orderBy("source", "probe")
      }),

    // STRONG URL canonicalization ([[ops.Web.canonicalUrlStrong]]):
    // q160's rules plus query-string normalization — tracking params
    // (utm_*, gclid, fbclid, msclkid, ref) dropped and the survivors
    // SORTED, so two orderings of the same query and any analytics
    // dressing collapse; an all-tracking query string reduces to the
    // bare path. The aggressive crawl-frontier dedup key (opt-in —
    // canonicalUrl stays the conservative default). The oracle
    // replays the full base chain plus split/filter/sort.
    QueryDef("q187_url_dedup_strong",
      Some(s"""
        WITH u AS (SELECT doc_id, $TrackUrlSynthSql AS url FROM documents),${canonUrlCtes("base", "b")},
        sp AS (SELECT doc_id, regexp_extract(b, '^([^?]*)', 1) AS path,
                      regexp_extract(b, '^[^?]*\\?(.*)$$', 1) AS qs
               FROM base),
        k AS (SELECT doc_id, path, qs,
                -- COALESCE: DuckDB's array_to_string([]) is NULL where
                -- Spark's array_join is '' — the all-tracking case
                COALESCE(array_to_string(list_sort(list_filter(string_split(qs, '&'),
                  p -> NOT regexp_matches(p,
                    '${graft.ops.Web.TrackingParamRegex}'))), '&'), '') AS kept
              FROM sp)
        SELECT CASE WHEN qs = '' OR kept = '' THEN path
                    ELSE path || '?' || kept END AS canon_url,
               MIN(doc_id) AS keep_id, CAST(COUNT(*) AS BIGINT) AS n_variants
        FROM k GROUP BY 1 ORDER BY canon_url"""),
      (s, d) => spread(documents(s, d))
        .withColumn("url", expr(TrackUrlSynthSql))
        .select(graft.ops.Web.canonicalUrlStrong(col("url")).as("canon_url"),
          col("doc_id"))
        .groupBy("canon_url")
        .agg(min(col("doc_id")).as("keep_id"),
          count(lit(1)).cast("long").as("n_variants"))
        .orderBy("canon_url")),

    // TOKEN-budget target mix ([[ops.Sampling.targetMixTokens]]):
    // q143's exact-distribution selection with the targets over TOKEN
    // MASS — how mixes are actually specified, and materially
    // different whenever strata have different length profiles. A row
    // is kept while its stratum's token prefix-sum is under the quota
    // (the boundary row completes the budget — the packSequences
    // greedy rule). The oracle replays totals, feasible volume,
    // quotas, the slot order, and the token window.
    QueryDef("q188_target_mix_tokens",
      Some(s"""
        WITH tg AS (SELECT * FROM (VALUES ('en', 500000), ('zh', 150000),
                      ('es', 150000), ('de', 100000), ('fr', 100000)) AS v(lang, ppm)),
        tok AS (SELECT doc_id, lang,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
                FROM documents),$targetMixTokensSql"""),
      (s, d) => graft.ops.Sampling.targetMixTokens(
          spread(documents(s, d))
            .select(col("doc_id"), col("lang"),
              size(split(col("text"), " ")).cast("long").as("n_tok")),
          "doc_id", "lang", "n_tok",
          Seq(("en", 500000), ("zh", 150000), ("es", 150000),
            ("de", 100000), ("fr", 100000)))
        .select("doc_id", "lang", "n_tok", "tok_before")
        .orderBy("doc_id")),

    // Per-host triangle counts ([[ops.Graph.triangleCounts]]) over the
    // q172 outlink host graph read undirected — the local clustering
    // signal link-farm screens key on (spam rings are triangle-dense).
    // Degree-ordered orientation bounds every wedge fan-out by
    // O(sqrt(E)) regardless of hub degree, so the enumeration cannot
    // go quadratic on the hub host; each triangle counts exactly once
    // at its lowest-ordered vertex. The oracle replays the edge
    // extraction, the orientation, the wedge join, and the closure.
    QueryDef("q231_host_triangles",
      Some(hostGraphCtes + s"""
        und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
                FROM e WHERE src <> dst),
        deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg
                FROM (SELECT a AS node FROM und
                      UNION ALL SELECT b FROM und)
                GROUP BY node),
        o AS (SELECT CASE WHEN af THEN a ELSE b END AS u,
                     CASE WHEN af THEN b ELSE a END AS v,
                     CASE WHEN af THEN db ELSE da END AS dv
              FROM (SELECT und.a, und.b, x.deg AS da, y.deg AS db,
                      (x.deg < y.deg OR (x.deg = y.deg AND und.a < und.b)) AS af
                    FROM und JOIN deg x ON und.a = x.node
                             JOIN deg y ON und.b = y.node)),
        wdg AS (SELECT o1.u, o1.v AS v1, o2.v AS v2
                FROM o o1 JOIN o o2 ON o1.u = o2.u
                WHERE o1.dv < o2.dv OR (o1.dv = o2.dv AND o1.v < o2.v)),
        tri AS (SELECT wdg.u, wdg.v1, wdg.v2
                FROM wdg JOIN o ON o.u = wdg.v1 AND o.v = wdg.v2),
        nn AS (SELECT u AS node FROM tri
               UNION ALL SELECT v1 FROM tri
               UNION ALL SELECT v2 FROM tri)
        SELECT node AS host, CAST(COUNT(*) AS BIGINT) AS n_tri
        FROM nn GROUP BY node ORDER BY host"""),
      (s, d) => {
        val pages = crawlPages(s, d)
        graft.ops.Graph.triangleCounts(
            graft.ops.Web.outlinkHostEdges(pages, "url", "html"))
          .select(col("node").as("host"), col("n_tri"))
          .orderBy("host")
      })
  )
}
