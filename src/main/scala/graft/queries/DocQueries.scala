package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Graphs, PlanCache, Sketch, TextOps, UnigramLM}
import graft.sources.Tables
import Canon._

/** Text-analysis + deduplication queries over the `documents` fixture —
  * the LLM-pipeline extension surface (builder prompt; SURVEY §7.2 item
  * 5). DuckDB twins are GENERATED from the same constants
  * (stopword lists, hash seeds, band layout) as the Spark operators so
  * the two sides cannot drift.
  */
object DocQueries {

  // --------------------------------------------------------- SQL builders

  private def sqlList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("[", ", ", "]")

  /** words CTE fragment: tokenized text per doc. */
  private val wordsSql = "string_split(text, ' ')"

  private def sqlWordHits(words: Seq[String]): String =
    s"len(list_filter($wordsSql, w_ -> list_contains(${sqlList(words)}, w_)))"

  /** n-gram shingles of the words list (duplicates preserved),
    * mirroring TextOps.wordShingles. */
  private def sqlShingles(n: Int): String =
    s"""CASE WHEN len($wordsSql) >= $n
       | THEN list_transform(range(1, len($wordsSql) - ${n - 2}),
       |        i_ -> array_to_string($wordsSql[i_:i_+${n - 1}], ' '))
       | ELSE [] END""".stripMargin

  /** Twin of [[graft.operators.Dedup.lineDedup]] at segment grain `w`
    * tokens — shared by the line (w=10) and paragraph (w=50) rows.
    * `hotWhere` restricts which docs BUILD the blocklist and
    * `reportWhere` which docs are reported — TRUE/TRUE is the full
    * self-dedup; a corpus/batch split is the incremental gate
    * ([[graft.operators.Dedup.lineDedupIncrement]]). */
  private def lineDedupSql(w: Int, hotWhere: String = "TRUE",
                           reportWhere: String = "TRUE"): String =
    s"""WITH toks AS (SELECT doc_id, $wordsSql AS t FROM documents),
       |lines AS MATERIALIZED (
       |  SELECT doc_id,
       |    CAST('0x' || substr(md5('line|' ||
       |      array_to_string(t[(i-1)*$w+1:i*$w], ' ')), 1, 15) AS BIGINT)
       |      AS h,
       |    len(t[(i-1)*$w+1:i*$w]) AS ntok
       |  FROM (SELECT doc_id, t,
       |          unnest(range(1, (len(t)+${w - 1})//$w + 1)) AS i FROM toks)),
       |hot AS (SELECT h FROM (
       |    SELECT h, COUNT(DISTINCT doc_id) AS nd FROM lines
       |    WHERE $hotWhere GROUP BY 1)
       |  WHERE nd >= 2)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines,
       |  CAST(SUM(CASE WHEN hot.h IS NOT NULL THEN 1 ELSE 0 END)
       |       AS BIGINT) AS n_dup_lines,
       |  CAST(SUM(CASE WHEN hot.h IS NULL THEN ntok ELSE 0 END)
       |       AS BIGINT) AS kept_tokens,
       |  CAST(SUM(CASE WHEN hot.h IS NOT NULL THEN 1 ELSE 0 END) * 1000
       |       // COUNT(*) AS BIGINT) AS removed_permille
       |FROM lines LEFT JOIN hot ON lines.h = hot.h
       |WHERE $reportWhere
       |GROUP BY doc_id""".stripMargin

  /** Shared CTE chain of the domain-scoped line-dedup family (twin of
    * [[graft.operators.Dedup.domainLineDedup]] at the 10-token grain):
    * ends in `dom(source, n_docs, n_lines, n_dup_lines, kept_tokens,
    * removed_permille)`. Mirrors [[lineDedupSql]]'s segment/hash
    * fragments with the hot rule scoped to (source, h); MATERIALIZED
    * because the mixture oracle reads `dom` twice (round-7 inlining
    * gotcha). */
  private val domainLineCtes: String =
    s"""dtoks AS (SELECT doc_id, source, $wordsSql AS t FROM documents),
       |dlines AS MATERIALIZED (
       |  SELECT doc_id, source,
       |    CAST('0x' || substr(md5('line|' ||
       |      array_to_string(t[(i-1)*10+1:i*10], ' ')), 1, 15) AS BIGINT)
       |      AS h,
       |    len(t[(i-1)*10+1:i*10]) AS ntok
       |  FROM (SELECT doc_id, source, t,
       |          unnest(range(1, (len(t)+9)//10 + 1)) AS i FROM dtoks)),
       |byh AS (SELECT source, h, CAST(COUNT(*) AS BIGINT) AS cnt,
       |    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd,
       |    CAST(MAX(ntok) AS BIGINT) AS ntok
       |  FROM dlines GROUP BY 1, 2),
       |ndocs AS (SELECT source,
       |    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
       |  FROM dlines GROUP BY 1),
       |dom AS MATERIALIZED (
       |  SELECT source, n_docs, CAST(SUM(cnt) AS BIGINT) AS n_lines,
       |    CAST(SUM(CASE WHEN nd >= 2 THEN cnt ELSE 0 END) AS BIGINT)
       |      AS n_dup_lines,
       |    CAST(SUM(CASE WHEN nd < 2 THEN cnt * ntok ELSE 0 END)
       |      AS BIGINT) AS kept_tokens,
       |    CAST(SUM(CASE WHEN nd >= 2 THEN cnt ELSE 0 END) * 1000
       |         // SUM(cnt) AS BIGINT) AS removed_permille
       |  FROM byh JOIN ndocs USING (source)
       |  GROUP BY 1, 2)""".stripMargin

  /** Shared CTE chain of the Naive-Bayes classifier oracles (twin of
    * [[nbScored]]/[[nbPred]]: even-doc_id train, odd-doc_id score,
    * add-1 smoothing, 1e-6-grid log₂ terms, alphabetical tie-break):
    * ends in `pred(doc_id, lang_pred)`. MATERIALIZED where referenced
    * twice (round-7 inlining gotcha). */
  private val nbCtes: String = {
    def lq(x: String) =
      s"CAST(round(log2(CAST($x AS DOUBLE)) * 1000000) AS BIGINT)"
    s"""nw AS MATERIALIZED (
       |  SELECT doc_id, lang, w
       |  FROM (SELECT doc_id, lang, unnest($wordsSql) AS w FROM documents)
       |  WHERE len(w) > 0),
       |nwc AS MATERIALIZED (
       |  SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM nw WHERE doc_id % 2 = 0 GROUP BY 1, 2),
       |nbv AS (SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v FROM nwc),
       |nbnl AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n_l
       |         FROM nwc GROUP BY 1),
       |nbpri AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS nd
       |          FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
       |nbndt AS (SELECT CAST(COUNT(*) AS BIGINT) AS ndt
       |          FROM documents WHERE doc_id % 2 = 0),
       |params AS (SELECT nbnl.lang,
       |    ${lq("nd")} - ${lq("ndt")} AS prior_q,
       |    ${lq("n_l + v")} AS lqv
       |  FROM nbnl JOIN nbpri USING (lang), nbv, nbndt),
       |term AS (SELECT lang, w, ${lq("c + 1")} AS t FROM nwc),
       |ndw AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS k
       |        FROM nw WHERE doc_id % 2 = 1 GROUP BY 1, 2),
       |dwsum AS (SELECT ndw.doc_id, term.lang,
       |    CAST(SUM(k * t) AS BIGINT) AS s
       |  FROM ndw JOIN term USING (w) GROUP BY 1, 2),
       |dtok AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_d
       |         FROM nw WHERE doc_id % 2 = 1 GROUP BY 1),
       |scored AS MATERIALIZED (
       |  SELECT dtok.doc_id, p.lang,
       |    prior_q - n_d * lqv + COALESCE(s, 0) AS score
       |  FROM dtok CROSS JOIN params p
       |  LEFT JOIN dwsum ON dwsum.doc_id = dtok.doc_id
       |                 AND dwsum.lang = p.lang),
       |best AS MATERIALIZED (
       |  SELECT doc_id, MAX(score) AS b FROM scored GROUP BY 1),
       |pred AS MATERIALIZED (
       |  SELECT s.doc_id, MIN(s.lang) AS lang_pred
       |  FROM scored s JOIN best ON s.doc_id = best.doc_id
       |                         AND s.score = best.b
       |  GROUP BY 1)""".stripMargin
  }

  /** Shared CTE chain of the stupid-backoff scorer oracles (twin of
    * [[TextOps.trigramBackoffNll]] at the doc_id % 2 train/score
    * split): ends at a `scored` CTE with the per-doc output columns.
    * The backoff discount rides [[TextOps.Qln04]] so the constant
    * cannot drift between engines. */
  private val trigramScoredSql: String = {
    def qln(x: String) =
      s"CAST(round(ln(CAST($x AS DOUBLE)) * 1000000) AS BIGINT)"
    val q04 = TextOps.Qln04
    s"""tr AS (SELECT text FROM documents WHERE doc_id % 2 = 0),
       |t3 AS MATERIALIZED (SELECT g, CAST(COUNT(*) AS BIGINT) AS c3
       |  FROM (SELECT unnest(${sqlShingles(3)}) AS g FROM tr) GROUP BY 1),
       |t2 AS MATERIALIZED (SELECT g2, CAST(COUNT(*) AS BIGINT) AS c2
       |  FROM (SELECT unnest(${sqlShingles(2)}) AS g2 FROM tr) GROUP BY 1),
       |t1 AS MATERIALIZED (SELECT w, CAST(COUNT(*) AS BIGINT) AS c1
       |  FROM (SELECT unnest($wordsSql) AS w FROM tr) GROUP BY 1),
       |nv AS (SELECT CAST(SUM(c1) AS BIGINT) AS n,
       |              CAST(COUNT(*) AS BIGINT) AS v FROM t1),
       |occ AS MATERIALIZED (
       |  SELECT doc_id, unnest(${sqlShingles(3)}) AS g
       |  FROM documents WHERE doc_id % 2 <> 0),
       |types AS MATERIALIZED (
       |  SELECT dg.g,
       |    CASE WHEN t3.c3 IS NOT NULL
       |           THEN ${qln("t3.c3")} - ${qln("b12.c2")}
       |         WHEN b23.c2 IS NOT NULL
       |           THEN ($q04) + ${qln("b23.c2")} - ${qln("u2.c1")}
       |         ELSE (${2 * q04}) + ${qln("COALESCE(u3.c1, 0) + 1")}
       |           - ${qln("nv.n + nv.v")}
       |    END AS s6,
       |    CASE WHEN t3.c3 IS NOT NULL THEN 0
       |         WHEN b23.c2 IS NOT NULL THEN 1 ELSE 2 END AS lvl
       |  FROM (SELECT DISTINCT g FROM occ) dg
       |  CROSS JOIN nv
       |  LEFT JOIN t3 ON t3.g = dg.g
       |  LEFT JOIN t2 b12 ON b12.g2 =
       |    split_part(dg.g, ' ', 1) || ' ' || split_part(dg.g, ' ', 2)
       |  LEFT JOIN t2 b23 ON b23.g2 =
       |    split_part(dg.g, ' ', 2) || ' ' || split_part(dg.g, ' ', 3)
       |  LEFT JOIN t1 u2 ON u2.w = split_part(dg.g, ' ', 2)
       |  LEFT JOIN t1 u3 ON u3.w = split_part(dg.g, ' ', 3)),
       |scored AS MATERIALIZED (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
       |    CAST(SUM(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_bo_bigram,
       |    CAST(SUM(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_bo_unigram,
       |    round(-(CAST(SUM(s6) AS BIGINT) / 1000000.0) / COUNT(*), 6) AS nll
       |  FROM occ JOIN types USING (g) GROUP BY doc_id)""".stripMargin
  }

  /** Mirror of TextOps.simHash: 16 bit-votes over per-word 16-bit md5
    * sketches. */
  private val simHashSql: String = {
    val sketch = s"CAST('0x' || substr(md5(w_), 1, 4) AS INTEGER)"
    val bits = (0 until TextOps.SimHashBits).map { b =>
      s"""CASE WHEN list_sum(list_transform($wordsSql,
         | w_ -> CASE WHEN ($sketch >> $b) & 1 = 1 THEN 1 ELSE -1 END)) >= 0
         | THEN ${1 << b} ELSE 0 END""".stripMargin
    }
    s"CAST(${bits.mkString(" + ")} AS INTEGER)"
  }

  /** DuckDB twin of [[TextOps.bpeMerges]], unrolled for a FIXED
    * (steps, batchK) pair and mirroring its BATCHED training exactly:
    * per batch b, one adjacent-pair count CTE p(b) over the current
    * word frame, one top-batchK candidate CTE c(b) (row_number over
    * the same count-desc/pair-asc total order as the Spark
    * TakeOrdered), then one w(s) CTE per merge applying candidate
    * rank j via scalar-subquery `replace` — sequential rank order,
    * stale in-batch counts, exactly as the engine does. DuckDB's
    * `replace` shares Spark's single-pass non-overlapping
    * left-to-right semantics, so the rewritten symbol strings are
    * byte-identical across engines. The COALESCE(chr(1)) guard makes
    * a missing candidate row (fewer distinct pairs than batchK — not
    * reachable at fixture scale) a no-op replace instead of a NULL
    * wipe. All compared columns are integers/strings — no float
    * canonicalization needed. Every multiply-referenced CTE is
    * MATERIALIZED (CLAUDE.md: DuckDB inlines per reference, which
    * goes exponential on a chained unroll). */
  private def bpeChainSql(steps: Int, batchK: Int): String = {
    val w0 =
      s"""w0 AS MATERIALIZED (SELECT ' ' || array_to_string(
         |    list_transform(range(1, len(word) + 1), i_ -> word[i_:i_]), ' ') || ' ' AS seq,
         |  CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM (SELECT unnest($wordsSql) AS word FROM documents) GROUP BY 1)""".stripMargin
    val nBatches = (steps + batchK - 1) / batchK
    val rounds = (1 to nBatches).map { bt =>
      val off = (bt - 1) * batchK
      val kb = math.min(batchK, steps - off)
      val cand =
        s"""p$bt AS MATERIALIZED (SELECT a, b, CAST(SUM(cnt) AS BIGINT) AS c FROM (
           |    SELECT unnest(list_transform(range(1, len(s)), i_ -> s[i_])) AS a,
           |           unnest(list_transform(range(1, len(s)), i_ -> s[i_ + 1])) AS b, cnt
           |    FROM (SELECT string_split(trim(seq), ' ') AS s, cnt FROM w$off) t_)
           |  GROUP BY 1, 2),
           |c$bt AS MATERIALIZED (SELECT a, b, c, rn FROM (
           |    SELECT a, b, c,
           |           row_number() OVER (ORDER BY c DESC, a ASC, b ASC) AS rn
           |    FROM p$bt) WHERE rn <= $kb)""".stripMargin
      val applies = (1 to kb).map { j =>
        val s = off + j
        s"""w$s AS MATERIALIZED (SELECT replace(seq,
           |    COALESCE((SELECT ' ' || a || ' ' || b || ' ' FROM c$bt WHERE rn = $j), chr(1)),
           |    COALESCE((SELECT ' ' || a || b || ' ' FROM c$bt WHERE rn = $j), chr(1))) AS seq,
           |  cnt FROM w${s - 1})""".stripMargin
      }
      (cand +: applies).mkString(",\n")
    }
    s"WITH $w0,\n${rounds.mkString(",\n")}"
  }

  private def bpeMergesSql(steps: Int, batchK: Int): String = {
    val nBatches = (steps + batchK - 1) / batchK
    val emit = (1 to nBatches).map { bt =>
      val off = (bt - 1) * batchK
      s"""SELECT CAST($off + rn AS BIGINT) AS step, a AS left_sym,
         |  b AS right_sym, a || b AS merged, c AS pair_count FROM c$bt""".stripMargin
    }
    s"${bpeChainSql(steps, batchK)}\n${emit.mkString("\nUNION ALL\n")}"
  }

  /** Encode-side twin: the oracle re-derives the merge table through the
    * same chain (no constants smuggled across), then measures the
    * encoded corpus off the final w(steps) symbol strings. */
  private def bpeEncodeSql(steps: Int, batchK: Int): String =
    s"""${bpeChainSql(steps, batchK)}
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_distinct_words,
       |  CAST(SUM(cnt) AS BIGINT) AS n_word_occurrences,
       |  CAST(SUM(cnt * len(replace(trim(seq), ' ', ''))) AS BIGINT) AS n_chars,
       |  CAST(SUM(cnt * len(string_split(trim(seq), ' '))) AS BIGINT) AS n_tokens,
       |  CAST(SUM(cnt * len(string_split(trim(seq), ' '))) AS BIGINT) * 1000
       |    // CAST(SUM(cnt * len(replace(trim(seq), ' ', ''))) AS BIGINT)
       |    AS compression_permille
       |FROM w$steps""".stripMargin

  // ------------------------------------------------------------- queries

  /** Token counting + quality scoring per document. */
  def textStats(s: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    Tables.spread(Tables.documents(s, dir)).select(
      col("doc_id"),
      TextOps.tokenCount(t).as("n_tokens"),
      TextOps.subTokenCount(t).as("n_subtokens"),
      TextOps.avgWordLen(t).as("avg_word_len"),
      TextOps.stopwordCount(t).as("n_stopwords"),
      TextOps.qualityScore(t).as("quality_score"))
  }

  /** Corpus-LM fluency scoring (see [[TextOps.unigramNll]]): per-doc
    * mean NLL under a Laplace unigram model trained on the corpus. */
  def textUnigramNll(s: SparkSession, dir: String): DataFrame =
    TextOps.unigramNll(
      Tables.spread(Tables.documents(s, dir)), "doc_id", "text")

  /** Bigram-LM fluency scoring (see [[TextOps.bigramNll]]): per-doc
    * mean NLL under an add-one bigram model trained on the corpus. */
  def textBigramNll(s: SparkSession, dir: String): DataFrame =
    TextOps.bigramNll(
      Tables.spread(Tables.documents(s, dir)), "doc_id", "text")

  /** Gopher-style rule-based quality report (Rae et al. 2021, "Scaling
    * Language Models: ... Gopher", table A1 heuristics): per-source
    * violation counts for the four rules the fixture corpus can
    * exercise — mean word length in [3,10], document length ≥ 50
    * tokens, ≥ 2 distinct English stopwords, duplicate-token fraction
    * ≤ 0.4 — plus the all-rules-pass count and clean-permille rate.
    * Every rule is evaluated in INTEGER arithmetic (the word-length
    * band compares total chars against 3n/10n, the repetition bound
    * cross-multiplies), so the hash compare never sees a float. One
    * scan, map-side conditional counts, a tiny per-source rollup —
    * at 100 TB this is the classic pre-filter pass that runs at scan
    * speed. */
  def textGopherRules(s: SparkSession, dir: String): DataFrame = {
    val f = TextOps.gopherFlags(col("text"))
    def fails(ok: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      sum(when(ok, 0L).otherwise(1L))
    Tables.documents(s, dir)
      .select(col("source"), f.getField("wl").as("wl"),
              f.getField("lo").as("lo"), f.getField("so").as("so"),
              f.getField("ro").as("ro"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           fails(col("wl")).as("n_wordlen_fail"),
           fails(col("lo")).as("n_len_fail"),
           fails(col("so")).as("n_stopword_fail"),
           fails(col("ro")).as("n_repetition_fail"),
           sum(when(col("wl") && col("lo") && col("so") && col("ro"), 1L)
                 .otherwise(0L)).as("n_clean"))
      .withColumn("clean_permille", expr("n_clean * 1000 DIV n_docs"))
  }

  /** C4/RefinedWeb line-level dedup report (see [[Dedup.lineDedup]]):
    * per-document boilerplate-line removal counts at the 10-token
    * segment grain, hot = a line in ≥ 2 distinct documents. */
  def pipeLineDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.lineDedup(Tables.documents(s, dir), "doc_id", "text")

  /** Paragraph-grain twin of [[pipeLineDedup]] (RefinedWeb §4.2 runs
    * BOTH grains — line and paragraph removal): 50-token segments,
    * same ≥ 2-distinct-docs hot rule. Shares the tokenized doc frame
    * with the line-grain row via PlanCache ([[Dedup.lineFrame]] reuses
    * the grain-independent tokenize projection), so the second grain
    * costs only its own segment explode + hash shuffle. */
  def pipeParaDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.lineDedup(Tables.documents(s, dir), "doc_id", "text",
                    segTokens = 50)

  /** Incremental line-dedup gate row: NEW docs (doc_id % 5 == 0, the
    * [[pipeIncrDedup]] split) probed against the standing hot-line
    * blocklist built from the CORPUS slice only ([[Dedup.hotLines]]) —
    * the batch-probes-persisted-artifacts contract; the streaming twin
    * ([[graft.streaming.StreamOps.lineDedupGateBatch]]) runs the same
    * probe per micro-batch, spec-pinned streamed ≡ batch. */
  def pipeLineDedupIncr(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    Dedup.lineDedupIncrement(
      Dedup.hotLines(docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text"),
      docs.filter(col("doc_id") % 5 === 0), "doc_id", "text")
  }

  /** Domain-scoped line-dedup report ([[Dedup.domainLineDedup]]):
    * hot = a 10-token segment in ≥ 2 distinct documents of the SAME
    * source — the RefinedWeb ordering where URL/domain-grain curation
    * precedes corpus-wide line removal, because nav/footer boilerplate
    * is a domain-local template. `source` is the fixture's domain key.
    * Shared (PlanCache) with [[pipeDomainMixture]], which prices
    * domains off this report's kept-token masses. */
  def pipeDomainLineDedup(s: SparkSession, dir: String): DataFrame =
    PlanCache.reuse(Dedup.domainLineDedup(
      Tables.documents(s, dir), "doc_id", "source", "text"))

  /** Per-doc composite quality + source, the frame [[pipeDomainQuality]]
    * and [[pipeGateKappa]] share (one construction → CacheManager
    * sameResult dedups the entropy/TTR build across both consumers). */
  private def domainQualityScored(s: SparkSession, dir: String): DataFrame =
    PlanCache.reuse(
      docQualityComposite(s, dir).select(col("doc_id"), col("quality_score"))
        .join(Tables.documents(s, dir).select(col("doc_id"), col("source")),
              Seq("doc_id")))

  /** Per-domain quality stratification — the panel a curation pipeline
    * reads before setting domain sampling rates: per source, doc
    * count, the exact summed composite quality mass (BIGINT; no mean —
    * a mean would put a possibly-negative DIV in a compared column,
    * the truncate-vs-floor trap), and how many docs clear the GLOBAL
    * median composite score (exact percentile interpolation, the
    * ccnet-buckets precedent). Rides the pinned
    * [[docQualityComposite]] frame; the median is a 1-row broadcast
    * (PlanGuard-allowlisted scalar). */
  def pipeDomainQuality(s: SparkSession, dir: String): DataFrame = {
    val scored = domainQualityScored(s, dir)
    val med = scored.agg(
      expr("percentile(quality_score, CAST(1 AS DOUBLE)/2)").as("med"))
    scored.crossJoin(broadcast(med))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("quality_score")).as("sum_quality"),
           sum(when(col("quality_score") > col("med"), 1L).otherwise(0L))
             .as("n_above_median"))
      .withColumn("hi_permille", expr("n_above_median * 1000 DIV n_docs"))
  }

  /** Per-domain mixture plan from the domain-dedup report: each
    * domain's post-boilerplate kept tokens vs the uniform per-domain
    * target (total DIV n_domains) become a capped sampling weight
    * (`weight_ppm` ≤ 10⁶ — downsample oversized domains) and a repeat
    * count (`n_epochs`, ceil — upsample small domains), the
    * Gopher/Dolma per-source mixture shape. All nonnegative exact
    * integers; the target×10⁶ product rides DECIMAL(38,0) ≡ HUGEINT so
    * web-scale token totals (≥ 10¹³) cannot hit the BIGINT cliff; a
    * fully-boilerplate domain (kept = 0) gets weight 0 / epochs 0
    * instead of an ANSI divide-by-zero. The totals row is a 1-row
    * broadcast (PlanGuard-allowlisted scalar). */
  def pipeDomainMixture(s: SparkSession, dir: String): DataFrame = {
    val kept = pipeDomainLineDedup(s, dir)
      .select(col("source"), col("kept_tokens"))
    val tot = kept.agg(sum(col("kept_tokens")).as("total_tokens"),
                       count(lit(1)).as("n_domains"))
    kept.crossJoin(broadcast(tot))
      .withColumn("target_tokens", expr("total_tokens DIV n_domains"))
      .withColumn("weight_ppm", expr(
        """CASE WHEN kept_tokens = 0 THEN 0
          | ELSE least(CAST(1000000 AS BIGINT),
          |   CAST(target_tokens AS DECIMAL(38,0)) * 1000000 DIV kept_tokens)
          | END""".stripMargin))
      .withColumn("n_epochs", expr(
        """CASE WHEN kept_tokens = 0 THEN 0
          | ELSE (target_tokens + kept_tokens - 1) DIV kept_tokens
          | END""".stripMargin))
      .select(col("source"), col("kept_tokens"), col("target_tokens"),
              col("weight_ppm"), col("n_epochs"))
  }

  /** Data-constrained token-budget planner (Muennighoff et al. 2023,
    * "Scaling Data-Constrained Language Models"): repeating data decays
    * in value, so a domain asked for `target_tokens` out of only
    * `unique_tokens` unique (post line-dedup) yields fewer EFFECTIVE
    * tokens than it ships. Per domain: the epoch count on the ppm grid,
    * the paper's effective-unique multiplier
    * `1 + R*·(1 − e^(−R_D/R*))` at the fitted R* = 15.4 (R_D = epochs−1;
    * ≤ epochs always, = 1 at one epoch), the resulting effective token
    * mass, and the utility share of the request the domain can actually
    * deliver — the number a mixture planner reads before upsampling a
    * small domain instead of widening the crawl.
    *
    * Determinism: epochs is an exact ratio of exact BIGINTs; the one
    * transcendental (exp) is quantized round(·, 6) on both engines (the
    * sanctioned rule); `eff_tokens` recovers an exact integer via
    * CAST(round(·)) on both sides (never a bare double cast). The
    * target×10⁶ ppm products ride DECIMAL(38,0) ≡ HUGEINT past the
    * BIGINT cliff. Shape: rides [[pipeDomainLineDedup]]'s shared frame;
    * the totals row is a 1-row broadcast (PlanGuard-allowlisted). */
  def pipeEpochDecay(s: SparkSession, dir: String): DataFrame = {
    val kept = pipeDomainLineDedup(s, dir)
      .select(col("source"), col("kept_tokens").as("unique_tokens"))
    val tot = kept.agg(sum(col("unique_tokens")).as("total_tokens"),
                       count(lit(1)).as("n_domains"))
    kept.crossJoin(broadcast(tot))
      .withColumn("target_tokens", expr("total_tokens DIV n_domains"))
      .withColumn("epochs_ppm", expr(
        """CASE WHEN unique_tokens = 0 THEN CAST(0 AS BIGINT)
          | ELSE CAST(target_tokens AS DECIMAL(38,0)) * 1000000
          |      DIV unique_tokens END""".stripMargin))
      .withColumn("eff_mult", expr(
        """CASE WHEN unique_tokens = 0 THEN CAST(0 AS DOUBLE)
          | ELSE round(1.0d + 15.4d * (1.0d - exp(
          |   -greatest(CAST(0 AS DOUBLE),
          |             CAST(target_tokens AS DOUBLE) / unique_tokens - 1.0d)
          |   / 15.4d)), 6) END""".stripMargin))
      .withColumn("eff_tokens", expr(
        """CASE WHEN unique_tokens = 0 THEN CAST(0 AS BIGINT)
          | ELSE least(target_tokens,
          |   CAST(round(unique_tokens * eff_mult) AS BIGINT)) END"""
          .stripMargin))
      .withColumn("utility_ppm", expr(
        """CASE WHEN target_tokens = 0 THEN CAST(0 AS BIGINT)
          | ELSE CAST(eff_tokens AS DECIMAL(38,0)) * 1000000
          |      DIV target_tokens END""".stripMargin))
      .select(col("source"), col("unique_tokens"), col("target_tokens"),
              col("epochs_ppm"), col("eff_mult"), col("eff_tokens"),
              col("utility_ppm"))
  }

  /** Inter-gate agreement (Cohen's κ) between the corpus's two
    * independent admission gates — the SCORE-based gate (composite
    * quality above the global median, [[pipeDomainQuality]]'s rule) and
    * the RULE-based gate ([[pipeBadwordsGate]]'s C4 blocklist drop).
    * Reports the 2×2 keep/drop census, observed agreement pₒ, and κ =
    * (pₒ−pₑ)/(1−pₑ), both exact permille — the check a curation team
    * runs before swapping a hand-rule gate for a trained one (κ ≈ 0
    * says the gates disagree on WHICH docs to drop even when their drop
    * rates match).
    *
    * Determinism: κ is pure integer cross-multiplication in
    * DECIMAL(38,0) ≡ HUGEINT (the n² chance terms pass the BIGINT cliff
    * at web scale); the possibly-negative numerator rides the shift
    * trick ((num+den)·1000 DIV den − 1000, nonneg since κ ≥ −1) so the
    * truncate-vs-floor divergence never fires; a degenerate pₑ = 1
    * (either gate constant) yields 0, not a divide error. Shape: one
    * doc-keyed equi join of two map-side flag projections into a 1-row
    * census; the median is the allowlisted 1-row broadcast; rides the
    * [[domainQualityScored]] shared frame. */
  def pipeGateKappa(s: SparkSession, dir: String): DataFrame = {
    val scored = domainQualityScored(s, dir)
    val med = scored.agg(
      expr("percentile(quality_score, CAST(1 AS DOUBLE)/2)").as("med"))
    val nBad = BadWords
      .map(w => regexp_count(col("text"), lit(s"\\b$w\\b")).cast("long"))
      .reduce(_ + _)
    val rules = Tables.documents(s, dir)
      .select(col("doc_id"), nBad.as("n_bad"))
    scored.crossJoin(broadcast(med))
      .withColumn("a_keep", col("quality_score") > col("med"))
      .join(rules, Seq("doc_id"))
      .withColumn("b_keep", col("n_bad") === 0)
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("a_keep") && col("b_keep"), 1L).otherwise(0L))
             .as("n_keep_keep"),
           sum(when(col("a_keep") && !col("b_keep"), 1L).otherwise(0L))
             .as("n_keep_drop"),
           sum(when(!col("a_keep") && col("b_keep"), 1L).otherwise(0L))
             .as("n_drop_keep"),
           sum(when(!col("a_keep") && !col("b_keep"), 1L).otherwise(0L))
             .as("n_drop_drop"))
      .withColumn("po_permille",
        expr("(n_keep_keep + n_drop_drop) * 1000 DIV n_docs"))
      .withColumn("pe_num", expr(
        """CAST(n_keep_keep + n_keep_drop AS DECIMAL(38,0))
          |  * (n_keep_keep + n_drop_keep)
          |+ CAST(n_drop_keep + n_drop_drop AS DECIMAL(38,0))
          |  * (n_keep_drop + n_drop_drop)""".stripMargin))
      .withColumn("den",
        expr("CAST(n_docs AS DECIMAL(38,0)) * n_docs - pe_num"))
      .withColumn("kappa_permille", expr(
        """CASE WHEN den = 0 THEN CAST(0 AS BIGINT)
          | ELSE (CAST(n_docs AS DECIMAL(38,0)) * (n_keep_keep + n_drop_drop)
          |        - pe_num + den) * 1000 DIV den - 1000 END""".stripMargin))
      .drop("pe_num", "den")
  }

  /** Gopher REPETITION panel (Rae et al. 2021 table A1, the repetition
    * block [[textGopherRules]] doesn't cover): per-source violation
    * counts for duplicate-line fraction ≤ 0.30, duplicate-paragraph
    * fraction ≤ 0.30, and top-2/3/4-gram character-mass share ≤
    * 0.20/0.18/0.16. Lines/paragraphs are the deterministic 10-/50-
    * token segment grain (single-line fixture corpus — a web corpus
    * splits on '\n' first); an n-gram's covered mass is
    * occurrences × characters of the MOST frequent n-gram (count
    * ties broken toward the longer gram via a composite-BIGINT max,
    * the winnowing argmin trick), over the document's total chars.
    *
    * Scale shape: line/paragraph duplicate fractions are pure
    * map-side expressions (array_distinct over the segment array — no
    * shuffle at all); the top-gram pass is one (doc, n, gram) hash
    * aggregate with map-side combine plus a doc-keyed rollup. Every
    * rule is integer cross-multiplied — no float ever reaches the
    * compare. */
  /** The SHARED (doc_id, n, c, glen) gram-count frame for n = 2..10
    * (r16): [[textGopherRepetition]] (n ≤ 4) and [[textGopherDupeNgrams]]
    * (n ≥ 5) each ran their own explode → (doc, n, gram) hash aggregate
    * over the corpus — together one 9-size pass split across two 1.7-1.9 s
    * rows. Both consumers only need the count and the gram's LENGTH past
    * the aggregate (top-gram tie-break and char-mass sums), so the cached
    * frame projects the gram string away — the group key stays the exact
    * gram (no hashing: a collision would merge distinct grams and change
    * counts). Listed in [[shared]]. */
  private[graft] def gopherGramCounts(s: SparkSession,
                                      dir: String): DataFrame = {
    val ns = 2 to 10
    PlanCache.reuse(
      Tables.spread(Tables.documents(s, dir))
        .select(col("doc_id"), explode(array(ns.map(n =>
          struct(lit(n).as("n"),
                 TextOps.wordShingles(col("text"), n).as("g"))): _*)).as("ng"))
        .select(col("doc_id"), col("ng.n").as("n"),
                explode(col("ng.g")).as("gram"))
        .groupBy(col("doc_id"), col("n"), col("gram"))
        .agg(count(lit(1)).as("c"))
        .select(col("doc_id"), col("n"), col("c"),
                length(col("gram")).cast("long").as("glen")))
  }

  def textGopherRepetition(s: SparkSession, dir: String): DataFrame = {
    val slots = 1L << 20
    val docs = PlanCache.reuse(
      Tables.spread(Tables.documents(s, dir))
        .select(col("doc_id"), col("source"), col("text"),
                TextOps.tokenize(col("text")).as("t")))
    // segment array in-expression; the lambda closes over the
    // MATERIALIZED `t` column (attribute read per element, not a
    // re-split — the round-5 HOF closure gotcha)
    def segArr(w: Int): org.apache.spark.sql.Column = {
      val nseg = expr(s"(size(t) + ${w - 1}) DIV $w")
      when(nseg >= 1, transform(sequence(lit(1), nseg),
        i => concat_ws(" ",
          slice(col("t"), (i - 1) * lit(w) + lit(1), lit(w)))))
        .otherwise(array().cast("array<string>"))
    }
    // top-gram coverage off the shared n = 2..10 gram-count frame (r16):
    // the n ≤ 4 slice of the pinned aggregate IS this query's previous
    // dedicated (doc, n, gram) count
    val cov = gopherGramCounts(s, dir)
      .filter(col("n") <= 4)
      .groupBy(col("doc_id"), col("n"))
      .agg(max(col("c") * lit(slots) + col("glen")).as("cm"))
      .select(col("doc_id"), col("n"),
              (expr(s"cm DIV $slots") * (col("cm") % lit(slots)))
                .as("covered"))
      .groupBy(col("doc_id"))
      .agg(max(when(col("n") === 2, col("covered"))).as("cov2"),
           max(when(col("n") === 3, col("covered"))).as("cov3"),
           max(when(col("n") === 4, col("covered"))).as("cov4"))
    def fails(ok: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      sum(when(ok, 0L).otherwise(1L))
    val lines = segArr(10)
    val paras = segArr(50)
    val chars = length(col("text")).cast("long")
    val flagged = docs.join(cov, Seq("doc_id"), "left")
      .select(col("source"),
        ((size(lines) - size(array_distinct(lines))) * 10 <=
          size(lines) * 3).as("dl"),
        ((size(paras) - size(array_distinct(paras))) * 10 <=
          size(paras) * 3).as("dp"),
        (coalesce(col("cov2"), lit(0L)) * 5 <= chars).as("t2"),
        (coalesce(col("cov3"), lit(0L)) * 50 <= chars * 9).as("t3"),
        (coalesce(col("cov4"), lit(0L)) * 25 <= chars * 4).as("t4"))
    flagged.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           fails(col("dl")).as("n_dupline_fail"),
           fails(col("dp")).as("n_duppara_fail"),
           fails(col("t2")).as("n_top2_fail"),
           fails(col("t3")).as("n_top3_fail"),
           fails(col("t4")).as("n_top4_fail"),
           sum(when(col("dl") && col("dp") && col("t2") && col("t3") &&
                    col("t4"), 1L).otherwise(0L)).as("n_clean"))
      .withColumn("clean_permille", expr("n_clean * 1000 DIV n_docs"))
  }

  /** The OTHER half of Gopher's repetition table (Rae et al. 2021
    * A1): for n = 5..10, the character mass inside DUPLICATED n-grams
    * (all grams occurring ≥ 2×, every occurrence counted — not just the
    * top gram, which is the n ≤ 4 rule [[textGopherRepetition]]
    * covers). Per (source, n): positional char masses, the corpus dup
    * share, and docs violating Gopher's per-n ceiling (0.15 at n=5
    * stepping to 0.10 at n=10, i.e. (20−n)% — integer
    * cross-multiplied, no float reaches the compare). Docs shorter
    * than n tokens have no grams and can't violate.
    *
    * Shape: one pass over text explodes all six gram sizes (native
    * WordShingles — a single codegen copy, not a ×6 union), one
    * (doc, n, gram) hash aggregate with map-side combine, a doc-keyed
    * rollup, and a doc-keyed source join; the ppm division rides
    * DECIMAL(38,0) past the BIGINT cliff (Σ char-mass × 1000 at corpus
    * scale). */
  def textGopherDupeNgrams(s: SparkSession, dir: String): DataFrame = {
    // duplicated-mass rollup off the shared n = 2..10 gram-count frame
    // (r16): the n ≥ 5 slice is this query's previous dedicated count
    val perDoc = gopherGramCounts(s, dir)
      .filter(col("n") >= 5)
      .groupBy(col("doc_id"), col("n"))
      .agg(sum(col("c") * col("glen")).as("tm"),
           sum(when(col("c") >= 2, col("c") * col("glen"))
             .otherwise(0L)).as("dm"))
    perDoc
      .join(Tables.documents(s, dir).select(col("doc_id"), col("source")),
            Seq("doc_id"))
      .groupBy(col("source"), col("n"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("tm")).as("total_mass"),
           sum(col("dm")).as("dup_mass"),
           sum(when(col("dm") * 100 > col("tm") * (lit(20) - col("n")), 1L)
             .otherwise(0L)).as("n_fail"))
      .withColumn("dup_permille", expr(
        """CASE WHEN total_mass = 0 THEN CAST(0 AS BIGINT)
          | ELSE CAST(dup_mass AS DECIMAL(38,0)) * 1000
          |      DIV total_mass END""".stripMargin))
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every
    * document by the mean per-token log importance ratio between a
    * TARGET distribution (here the `lang = 'en'` slice) and the RAW
    * corpus, over hashed unigram features (md5 → [[DsirBuckets]]
    * buckets, add-one smoothed). High scores = looks like target data;
    * the resampling step then keeps documents proportionally.
    *
    * Scale shape (100 TB): token bucketing is map-side; both bucket
    * histograms are [[DsirBuckets]]-row aggregates that BROADCAST back
    * onto the token stream; the per-doc aggregate is the one real
    * shuffle. The target slice never needs a separate corpus pass — its
    * histogram falls out of the same token stream, conditionally.
    *
    * Determinism: per-bucket log terms and the two corpus-constant logs
    * are quantized to the 1e-6 integer grid (sanctioned transcendental
    * rule); each doc's sum then runs over exact integers. */
  val DsirBuckets = 64
  def pipeDsirWeights(s: SparkSession, dir: String): DataFrame = {
    val b = DsirBuckets
    val tok = PlanCache.reuse(
      Tables.spread(Tables.documents(s, dir))
        .select(col("doc_id"), col("lang"),
                explode(TextOps.tokenize(col("text"))).as("w"))
        .withColumn("bkt",
          conv(substring(md5(concat(lit("dsir|"), col("w"))), 1, 4), 16, 10)
            .cast("long") % b))
    val hist = tok.groupBy(col("bkt"))
      .agg(count(lit(1)).as("cr"),
           sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"))
    val lp = hist.select(col("bkt"),
      (round(log((col("ct") + lit(1)).cast("double")) * lit(1e6)).cast("long")
        - round(log((col("cr") + lit(1)).cast("double")) * lit(1e6))
            .cast("long")).as("diff6"))
    val tot = hist.agg(
      (round(log((sum(col("cr")) + lit(b)).cast("double")) * lit(1e6))
         .cast("long")
        - round(log((sum(col("ct")) + lit(b)).cast("double")) * lit(1e6))
            .cast("long")).as("c6"))
    tok.join(broadcast(lp), Seq("bkt"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("diff6")).as("s6"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        round((col("s6").cast("double") / lit(1e6)) / col("n_tokens")
                + col("c6").cast("double") / lit(1e6), 6)
          .as("avg_logratio"))
  }

  /** DSIR's SELECTION step realized (Xie et al. 2023 §3.3 — after
    * importance weighting comes resampling): keep the top quartile by
    * importance weight (exact 75th-percentile threshold, strict >, so
    * the cut is deterministic without an RNG — the rank-threshold
    * variant the paper's hard-select ablation uses) and report per
    * language how the selection redistributes the corpus: docs kept,
    * token mass kept, and the keep rate in permille. The target slice
    * (en) should dominate the selection — the same law the DSIR spec
    * asserts on raw weights, here realized as an admission decision.
    * Rides [[pipeDsirWeights]]'s chain (shared `tok` frame persists —
    * no second corpus pass); the threshold is an allowlisted 1-row
    * broadcast. */
  def pipeDsirSelect(s: SparkSession, dir: String): DataFrame = {
    val wts = pipeDsirWeights(s, dir)
    val thr = wts.agg(
      expr("percentile(avg_logratio, CAST(3 AS DOUBLE)/4)").as("thr"))
    wts.crossJoin(broadcast(thr))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("avg_logratio") > col("thr"), 1L).otherwise(0L))
             .as("n_selected"),
           sum(when(col("avg_logratio") > col("thr"), col("n_tokens"))
             .otherwise(0L)).as("tok_selected"))
      .withColumn("share_permille", expr("n_selected * 1000 DIV n_docs"))
  }

  /** Vocabulary drift between two corpus snapshots (even vs odd
    * doc_ids, the NB-family split convention) — the check run before
    * deciding whether a tokenizer retrain is due after a crawl
    * refresh: each snapshot's top-2048 vocabulary by frequency
    * (deterministic (count desc, word asc) tie-break), their overlap,
    * and the Jaccard in exact permille. The rank filter compiles to a
    * WindowGroupLimit (map-side top-k per half — the kmv_intersect
    * precedent), so the window never sorts the full vocab at scale;
    * the final census is one vocab-bounded aggregate. */
  def pipeVocabDrift(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = 2048
    val wc = Tables.spread(Tables.documents(s, dir))
      .select((col("doc_id") % 2 === 0).as("half_a"),
              explode(TextOps.tokenize(col("text"))).as("w"))
      .groupBy(col("half_a"), col("w"))
      .agg(count(lit(1)).as("c"))
    val win = Window.partitionBy(col("half_a"))
      .orderBy(col("c").desc, col("w").asc)
    wc.withColumn("rk", row_number().over(win)).filter(col("rk") <= k)
      .groupBy(col("w"))
      .agg(count(lit(1)).as("halves"),
           sum(when(col("half_a"), 1L).otherwise(0L)).as("in_a"))
      .agg(sum(col("in_a")).as("n_a"),
           sum(col("halves") - col("in_a")).as("n_b"),
           sum(when(col("halves") === 2, 1L).otherwise(0L)).as("n_common"))
      .withColumn("jaccard_permille",
        expr("n_common * 1000 DIV (n_a + n_b - n_common)"))
  }

  /** URL host panel — the domain-level view every blocklist/allowlist
    * curation step needs (C4 drops by source URL; RefinedWeb's URL
    * filter is its FIRST gate). The fixture corpus carries no URLs, so
    * they are manufactured IN-PLAN from doc_id arithmetic (the
    * PII-injection pattern — every 4th doc an http URL, every 6th an
    * https www-prefixed one, so some docs carry both and the
    * www-strip normalization is exercised), replayed
    * formula-identically in the oracle. Hosts are extracted with a
    * (Java ∩ RE2)-safe group regex, normalized (www. strip), and
    * rolled up per host: URL occurrences and distinct docs — the
    * (host, doc) pre-aggregation avoids the count_distinct Expand
    * (the round-10 value-grain lesson). Scan + extract are pure
    * per-row map work. */
  def textUrlHosts(s: SparkSession, dir: String): DataFrame = {
    def d(c: org.apache.spark.sql.Column) = c.cast("string")
    val t2 = concat(col("text"),
      when(col("doc_id") % 4 === 0,
        concat(lit(" http://site"), d(col("doc_id") % 7),
               lit(".example.com/p"), d(col("doc_id")))).otherwise(lit("")),
      when(col("doc_id") % 6 === 0,
        concat(lit(" https://www.mirror"), d(col("doc_id") % 5),
               lit(".example.org/q"), d(col("doc_id")))).otherwise(lit("")))
    Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(regexp_extract_all(t2,
          lit("https?://([a-z0-9.-]+)"), lit(1))).as("host"))
      .withColumn("host", regexp_replace(col("host"), lit("^www\\."), lit("")))
      .groupBy(col("host"), col("doc_id"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("host"))
      .agg(sum(col("c")).as("n_urls"), count(lit(1)).as("n_docs"))
  }

  /** BPE merge-table training steps and per-recount batch size run by
    * [[textBpeMerges]] — the same constants parameterize the generated
    * DuckDB oracle so the two sides cannot drift. 512 steps at 32 per
    * recount = at most 16 pair-count jobs: real-vocab geometry (driver
    * round-trips stay steps/batchK regardless of vocabulary size, plan
    * depth stays ≤ batchK replaces between checkpoint truncations).
    * The fixture corpus exhausts its merge space well below the step
    * bound (139 merges at sf0.01), so the trainer's empty-recount
    * early-stop caps the ACTUAL driver jobs at ⌈exhaustion/batchK⌉,
    * and steps past exhaustion cost the ENGINE nothing.
    *
    * 512 is the ORACLE-replayability frontier, not an engine limit
    * (measured, r10): the unrolled chain is one `replace` CTE per
    * step, and DuckDB 1.0's binder (a) hard-fails past its default
    * max_expression_depth=1000 — 1024 steps throw BinderException,
    * and the driver's harness does not SET the limit up — and (b)
    * grows super-linearly below it (two-query oracle wall at sf0.01:
    * 22 s @ 256, 79 s @ 512, 218 s @ 896). A 30k-merge production
    * run keeps the same engine shape (steps/batchK recount jobs) and
    * would pin correctness by the in-JVM trainer spec instead of SQL
    * replay. Full analysis: SURVEY §8. */
  val BpeSteps = 512
  val BpeBatchK = 32

  /** Iterative BPE tokenizer training (see [[TextOps.bpeMerges]]): the
    * learned merge table after [[BpeSteps]] batched rounds. */
  def textBpeMerges(s: SparkSession, dir: String): DataFrame =
    TextOps.bpeMerges(Tables.spread(Tables.documents(s, dir)), "text",
                      BpeSteps, BpeBatchK)

  /** Tokenizer train→apply: learn [[BpeSteps]] merges, then encode the
    * corpus with them (see [[TextOps.bpeEncodeStats]]). The merge list
    * crosses to the encode plan as driver literals — the same shape as
    * shipping a trained tokenizer to a 1000-executor encode job. */
  def textBpeEncode(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(Tables.documents(s, dir))
    val merges = TextOps.bpeMerges(docs, "text", BpeSteps, BpeBatchK)
      .orderBy(col("step"))
      .select(col("left_sym"), col("right_sym"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    TextOps.bpeEncodeStats(docs, "text", merges)
  }

  /** Winnowing fingerprint index (see [[TextOps.winnowedFingerprints]]):
    * the selected (position, gram-hash) set per document at w = 4. */
  def textWinnowing(s: SparkSession, dir: String): DataFrame =
    TextOps.winnowedFingerprints(
      Tables.spread(Tables.documents(s, dir)), "doc_id", "text")

  /** Contamination screening over the WINNOWING index (the production
    * alternative to [[pipeContamination]]'s full shingle index): corpus
    * docs are scored by the share of their winnowing fingerprints that
    * appear in the held-out benchmark docs' fingerprint set. Winnowing
    * keeps ~2/(w+1) of grams, so the index (and the semi-join probe) is
    * ~2.5× smaller at the same ≥ w+2-token-overlap detection guarantee
    * — that trade IS the reason winnowing exists. Integer-only output. */
  def pipeContaminationWinnow(s: SparkSession, dir: String): DataFrame = {
    val fps = PlanCache.reuse(textWinnowing(s, dir))
    val bench = fps.filter(col("doc_id") % 10 === 0)
      .select(col("gram_hash")).distinct()
    val corpus = fps.filter(col("doc_id") % 10 =!= 0)
    val hits = corpus.join(bench, Seq("gram_hash"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
    corpus.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fprints"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_fprints"),
              coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("hit_permille", expr("n_hits * 1000 DIV n_fprints"))
  }

  /** Shared stupid-backoff scorer frame (see
    * [[TextOps.trigramBackoffNll]]): trigram counts trained on the
    * EVEN doc_id slice, the ODD slice scored — the train/score split
    * that makes backoff genuinely fire (scoring the training corpus
    * never backs off: every occurring trigram was seen). PlanCache-
    * shared by [[textTrigramBackoff]] and [[pipeCcnetBuckets]]. */
  private def trigramScored(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(Tables.documents(s, dir))
    PlanCache.reuse(TextOps.trigramBackoffNll(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 =!= 0), "doc_id", "text"))
  }

  /** Stupid-backoff trigram LM scoring row: per held-out doc, the mean
    * negative log-score plus how often each backoff level fired. */
  def textTrigramBackoff(s: SparkSession, dir: String): DataFrame =
    trigramScored(s, dir)

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020 §3.3): docs
    * are split per LANGUAGE into head/middle/tail terciles of the
    * trigram stupid-backoff score — the standard LM-quality filter
    * (keep head, usually drop tail). Cutpoints are EXACT percentiles
    * (cross-engine-identical interpolation over the round-6 doc
    * scores, the `evt_value_deciles` precedent); bucket counts are
    * integers. Scale shape: the scorer's shape plus one lang-keyed
    * 2-percentile aggregate (array form — one buffer) and a
    * broadcast-sized cutpoint join back. */
  def pipeCcnetBuckets(s: SparkSession, dir: String): DataFrame = {
    val scored = trigramScored(s, dir)
      .join(Tables.documents(s, dir).select(col("doc_id"), col("lang")),
            Seq("doc_id"))
    val cuts = scored.groupBy(col("lang"))
      .agg(expr("percentile(nll, array(cast(1 as double)/3, " +
                "cast(2 as double)/3))").as("cs"))
      .select(col("lang"), col("cs").getItem(0).as("cut33"),
              col("cs").getItem(1).as("cut67"))
    scored.join(broadcast(cuts), Seq("lang"))
      .groupBy(col("lang"), col("cut33"), col("cut67"))
      .agg(sum(when(col("nll") <= col("cut33"), 1L).otherwise(0L))
             .as("n_head"),
           sum(when(col("nll") > col("cut33") && col("nll") <= col("cut67"),
                    1L).otherwise(0L)).as("n_middle"),
           sum(when(col("nll") > col("cut67"), 1L).otherwise(0L))
             .as("n_tail"))
      .select(col("lang"), col("n_head"), col("n_middle"), col("n_tail"),
              col("cut33"), col("cut67"))
  }

  /** GPT-3-style exact 13-gram decontamination (Brown et al. 2020,
    * appendix C): a corpus document is flagged when ANY of its 13-gram
    * shingles appears in the held-out benchmark slice (doc_id % 10 ==
    * 0, the same split the other contamination rows use). Completes
    * the contamination triad: winnowing locality
    * ([[pipeContaminationWinnow]]) × BM25 retrieval ([[docBm25TopK]])
    * × exact n-gram overlap (this row). Grams ride the oracle-
    * replayable md5-60 hash idiom, so the probe set is packed longs.
    *
    * Scale shape (100 TB): eval suites are MBs while corpora are TBs —
    * the distinct benchmark-gram set is broadcast/bloom sized and the
    * probe is a LEFT SEMI join, never a corpus-side shuffle; totals
    * and hits are one doc-keyed hash aggregate each over the shared
    * (PlanCache) gram frame. Docs with < 13 tokens have no grams and
    * surface as clean via the left-join coalesce. */
  /** Per-doc 13-gram hash frame (md5-60 packed longs) shared by the
    * decontamination probe and the novelty profile — ONE helper so the
    * two consumers build the identical logical plan and CacheManager
    * sameResult dedup fires (the round-5 shared-sketch rule). */
  private[graft] def gram13(s: SparkSession, dir: String): DataFrame =
    PlanCache.reuse(
      Tables.spread(Tables.documents(s, dir)).select(col("doc_id"),
          explode(TextOps.wordShingles(col("text"), 13)).as("g"))
        .select(col("doc_id"),
          conv(substring(md5(concat(lit("g13|"), col("g")).cast("binary")),
                         1, 15), 16, 10).cast("long").as("h")))

  def pipeContaminationNgram(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(Tables.documents(s, dir))
    val g = gram13(s, dir)
    val bench = g.filter(col("doc_id") % 10 === 0).select(col("h")).distinct()
    val corpus = g.filter(col("doc_id") % 10 =!= 0)
    val hits = corpus.join(bench, Seq("h"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
    val totals = corpus.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
    docs.filter(col("doc_id") % 10 =!= 0).select(col("doc_id"))
      .join(totals, Seq("doc_id"), "left")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("contaminated", when(col("n_hits") > 0, 1L).otherwise(0L))
  }

  /** Per-source 13-gram NOVELTY profile — the memorization-risk panel a
    * curation pipeline reads next to its dedup reports (Lee et al. 2022
    * §5: repeated n-grams are what models memorize; a source whose
    * grams are mostly first seen elsewhere contributes little novel
    * signal). A distinct (doc, gram) carrier is NOVEL in the single
    * document with the smallest doc_id carrying it (deterministic
    * first-seen order, no timestamps needed); per source the report is
    * doc count, gram mass, novel mass, and novelty permille. Documents
    * with < 13 tokens carry no grams and are excluded from the panel on
    * both engines (same convention as [[pipeContaminationNgram]]).
    *
    * Scale shape (100 TB): rides the shared [[gram13]] frame — one
    * corpus-sized (doc, h) distinct + one gram-keyed aggregation for
    * the first-carrier map (min is algebraic, map-side combined; the
    * hot-gram skew a web corpus would have collapses into ONE row per
    * gram before the shuffle), then doc- and source-keyed rollups. The
    * first-carrier frame joins back by derivation, not by probing the
    * corpus: `n_novel` per doc is a plain count over `fst` grouped by
    * its min carrier — no second corpus pass, no gram-set broadcast. */
  def pipeGramNovelty(s: SparkSession, dir: String): DataFrame = {
    val dg = gram13Distinct(s, dir)
    val fst = dg.groupBy(col("h")).agg(min(col("doc_id")).as("first_doc"))
    val novel = fst.groupBy(col("first_doc").as("doc_id"))
      .agg(count(lit(1)).as("nn"))
    val per = dg.groupBy(col("doc_id")).agg(count(lit(1)).as("ng"))
    per.join(novel, Seq("doc_id"), "left")
      .join(Tables.documents(s, dir).select(col("doc_id"), col("source")),
            Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("ng")).as("n_grams"),
           sum(coalesce(col("nn"), lit(0L))).as("n_novel"))
      .withColumn("novelty_permille", expr("n_novel * 1000 DIV n_grams"))
  }

  /** Distinct (doc_id, h) 13-gram carrier frame — ONE helper shared by
    * [[pipeGramNovelty]] and [[pipeGramProvenance]] so both consumers
    * build the identical logical plan over the shared [[gram13]] frame
    * and CacheManager sameResult dedup fires on the corpus-sized
    * distinct (the round-5 shared-sketch rule). */
  private def gram13Distinct(s: SparkSession, dir: String): DataFrame =
    PlanCache.reuse(
      gram13(s, dir).select(col("doc_id"), col("h")).distinct())

  /** Cross-source 13-gram PROVENANCE matrix — the DIRECTIONAL
    * syndication detector a curation pipeline reads next to the
    * symmetric overlap graph ([[pipeDomainOverlap]] says two domains
    * share templates; this says who copied whom): for every distinct
    * (doc, gram) re-occurrence (carrier ≠ first carrier, first = the
    * smallest doc_id — the same deterministic first-seen order the
    * novelty profile uses), the (origin source → carrier source) cell
    * counts gram re-occurrences and carrying docs. A heavy off-diagonal
    * cell is cross-site syndication (dedup must stay corpus-global);
    * mass on the diagonal is in-house template duplication (safe to
    * dedup per-domain) — the decision [[dedup_cluster_purity]] makes at
    * cluster grain, here at flow grain.
    *
    * Scale shape (100 TB): rides the shared [[gram13Distinct]] frame —
    * the first-carrier map is one gram-keyed aggregation (min is
    * algebraic, map-side combined), the re-occurrence join is
    * gram-keyed (never all-pairs), and the doc→source maps are
    * id-keyed equi joins. `n_docs` is derived from a (cell, doc)
    * pre-aggregation, never a count_distinct Expand (the r10
    * value-grain rule). Output is |sources|²-bounded. */
  def pipeGramProvenance(s: SparkSession, dir: String): DataFrame = {
    val dg = gram13Distinct(s, dir)
    val fst = dg.groupBy(col("h")).agg(min(col("doc_id")).as("first_doc"))
    val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    val perCellDoc = dg.join(fst, Seq("h"))
      .filter(col("doc_id") =!= col("first_doc"))
      .join(src.select(col("doc_id").as("first_doc"),
                       col("source").as("src_origin")), Seq("first_doc"))
      .join(src.select(col("doc_id"), col("source").as("src_carrier")),
            Seq("doc_id"))
      .groupBy(col("src_origin"), col("src_carrier"), col("doc_id"))
      .agg(count(lit(1)).as("cnt"))
    perCellDoc.groupBy(col("src_origin"), col("src_carrier"))
      .agg(sum(col("cnt")).as("n_grams"), count(lit(1)).as("n_docs"))
  }

  /** Quality × duplication contingency matrix — the diagnostic linking
    * the two headline curation axes (are duplicated documents also the
    * low-quality ones? C4/RefinedWeb both observe boilerplate is): per
    * (composite-quality quartile, power-of-two duplication bucket)
    * cell, docs, exact token mass, and the canonical keepers exact
    * dedup would retain. Quartile cutpoints are EXACT percentile
    * interpolation over the integer quality scores (the ccnet-buckets
    * precedent); the dup bucket is the INTEGER bit length of the exact
    * group size (the [[pipeDupFactorHist]] rule — never floor(log2)).
    *
    * Scale shape (100 TB): rides the pinned [[domainQualityScored]]
    * frame (no second entropy/TTR pass) and the one content-hash
    * shuffle [[graft.operators.Dedup.exactGroups]] pays; the cutpoint
    * row is a 1-row broadcast (PlanGuard-allowlisted scalar); the cell
    * rollup is ≤ 4 × 64 groups. */
  def pipeQualityDupMatrix(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val scored = domainQualityScored(s, dir)
      .select(col("doc_id"), col("quality_score"))
    val cuts = scored.agg(expr(
      """percentile(quality_score, array(CAST(1 AS DOUBLE)/4,
        | CAST(1 AS DOUBLE)/2, CAST(3 AS DOUBLE)/4))""".stripMargin).as("qs"))
    val grp = Dedup.exactGroups(docs, "doc_id", "text")
      .select(col("content_hash"), col("n_docs").as("grp_n"),
              col("keeper_id"))
    docs.select(col("doc_id"),
        TextOps.contentHash(col("text")).as("content_hash"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .join(grp, Seq("content_hash"))
      .join(scored, Seq("doc_id"))
      .crossJoin(broadcast(cuts))
      .select(
        (lit(1L)
          + when(col("quality_score") > get(col("qs"), lit(0)), 1L)
              .otherwise(0L)
          + when(col("quality_score") > get(col("qs"), lit(1)), 1L)
              .otherwise(0L)
          + when(col("quality_score") > get(col("qs"), lit(2)), 1L)
              .otherwise(0L)).as("q_seg"),
        (length(bin(col("grp_n"))) - 1).cast("long").as("dup_bucket"),
        col("n_tokens"),
        when(col("doc_id") === col("keeper_id"), 1L).otherwise(0L)
          .as("is_keeper"))
      .groupBy(col("q_seg"), col("dup_bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("token_mass"),
           sum(col("is_keeper")).as("n_keepers"))
  }

  /** Context-length fit panel — the truncation/padding accounting a
    * pretraining pipeline runs before fixing its sequence length (what
    * [[pipePackBins]] packs, this sizes): for each candidate context
    * length, docs over the limit, the exact token mass truncation
    * loses, the mass kept, and the padding wasted by naive
    * one-doc-per-row batching (the number packing recovers). Lengths
    * {16, 32, 64} bracket the fixture's 10-99-token docs so every
    * branch exercises; production lengths only change the literals.
    * kept_permille derives from the in-group identity kept + lost =
    * total — no corpus-total broadcast needed.
    *
    * Scale shape (100 TB): one corpus pass — the per-doc token count
    * projects the text away, the ×3 fan-out is a map-side explode of a
    * 3-element literal (one codegen copy, the round-5 union-multiplier
    * rule), and the rollup has exactly |lengths| groups. */
  def pipeContextFit(s: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.documents(s, dir))
      .select(size(split(col("text"), " ")).cast("long").as("n"),
              explode(typedlit(Seq(16L, 32L, 64L))).as("ctx_len"))
      .groupBy(col("ctx_len"))
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("n") > col("ctx_len"), 1L).otherwise(0L))
             .as("n_truncated"),
           sum(least(col("n"), col("ctx_len"))).as("kept_mass"),
           sum(greatest(col("n") - col("ctx_len"), lit(0L)))
             .as("trunc_loss"),
           sum(col("ctx_len") - least(col("n"), col("ctx_len")))
             .as("pad_waste"))
      .withColumn("kept_permille",
        expr("kept_mass * 1000 DIV (kept_mass + trunc_loss)"))

  /** END-TO-END curation funnel — the survival report every corpus
    * paper tables (RefinedWeb table 2, Dolma §2): doc and token mass
    * remaining after each gate, applied in the canonical order
    * quality (Gopher rules) → fuzzy dedup (jaccard-cluster losers
    * dropped, canonical keepers kept) → decontamination (benchmark
    * slice and 13-gram-contaminated docs dropped). One row, eight
    * exact-integer masses; each gate is the SAME predicate its
    * standalone report row proves ([[textGopherRules]],
    * [[pipeDedupKeep]], [[pipeContaminationNgram]]), composed via two
    * left joins of the (tiny) loser/contaminated id sets against one
    * corpus pass — conditional sums, no per-stage rescans. */
  def pipeFunnelReport(s: SparkSession, dir: String): DataFrame = {
    val dedupKeep = col("q") && col("is_loser").isNull
    val fin = dedupKeep && col("doc_id") % 10 =!= 0 && col("is_contam").isNull
    funnelFlags(s, dir)
      .agg(count(lit(1)).as("n_raw"), sum(col("n_tok")).as("tok_raw"),
           sum(when(col("q"), 1L).otherwise(0L)).as("n_quality"),
           sum(when(col("q"), col("n_tok")).otherwise(0L)).as("tok_quality"),
           sum(when(dedupKeep, 1L).otherwise(0L)).as("n_dedup"),
           sum(when(dedupKeep, col("n_tok")).otherwise(0L)).as("tok_dedup"),
           sum(when(fin, 1L).otherwise(0L)).as("n_final"),
           sum(when(fin, col("n_tok")).otherwise(0L)).as("tok_final"))
  }

  /** Per-doc funnel gate flags — (n_tok, q, is_loser, is_contam) per
    * doc, the NARROW (no text) joined frame [[pipeFunnelReport]] and
    * [[pipeFunnelAblation]] share via PlanCache (one cluster fixpoint
    * + one 13-gram pass total, not per consumer). Gate predicates are
    * the SAME expressions the standalone rows prove
    * ([[textGopherRules]], [[pipeDedupKeep]],
    * [[pipeContaminationNgram]]). */
  private def funnelFlags(s: SparkSession, dir: String): DataFrame = {
    val f = TextOps.gopherFlags(col("text"))
    val base = Tables.documents(s, dir).select(col("doc_id"),
      size(TextOps.tokenize(col("text"))).cast("long").as("n_tok"),
      (f.getField("wl") && f.getField("lo") && f.getField("so") &&
       f.getField("ro")).as("q"))
    val losers = dedupClusters(s, dir)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"), lit(true).as("is_loser"))
    val g = gram13(s, dir)
    val bench = g.filter(col("doc_id") % 10 === 0).select(col("h")).distinct()
    val contam = g.filter(col("doc_id") % 10 =!= 0)
      .join(bench, Seq("h"), "left_semi")
      .select(col("doc_id")).distinct()
      .withColumn("is_contam", lit(true))
    PlanCache.reuse(
      base.join(losers, Seq("doc_id"), "left")
        .join(contam, Seq("doc_id"), "left"))
  }

  /** Leave-one-out funnel ablation — the gate-attribution panel a
    * curation review reads NEXT to the survival funnel: for each gate
    * (quality / fuzzy dedup / decontamination), the token mass kept
    * when that ONE gate is switched off with the others held, and the
    * mass each gate UNIQUELY removes (tok_no_X − tok_all — docs no
    * other gate would have caught). Redundant gates (high overlap,
    * tiny unique mass) are retirement candidates; a gate whose unique
    * mass dominates is load-bearing. One pass over the shared
    * [[funnelFlags]] frame — conditional sums, no per-ablation rescans
    * (the naive form runs the funnel K+1 times). All exact integers;
    * the marginals are nonnegative by construction so the permille
    * DIVs never see a negative operand. */
  def pipeFunnelAblation(s: SparkSession, dir: String): DataFrame = {
    val gq = col("q")
    val gd = col("is_loser").isNull
    val gc = col("doc_id") % 10 =!= 0 && col("is_contam").isNull
    funnelFlags(s, dir)
      .agg(sum(col("n_tok")).as("tok_raw"),
           sum(when(gq && gd && gc, col("n_tok")).otherwise(0L))
             .as("tok_all"),
           sum(when(gd && gc, col("n_tok")).otherwise(0L))
             .as("tok_no_quality"),
           sum(when(gq && gc, col("n_tok")).otherwise(0L))
             .as("tok_no_dedup"),
           sum(when(gq && gd, col("n_tok")).otherwise(0L))
             .as("tok_no_decontam"))
      .withColumn("uniq_quality_permille",
        expr("(tok_no_quality - tok_all) * 1000 DIV tok_raw"))
      .withColumn("uniq_dedup_permille",
        expr("(tok_no_dedup - tok_all) * 1000 DIV tok_raw"))
      .withColumn("uniq_decontam_permille",
        expr("(tok_no_decontam - tok_all) * 1000 DIV tok_raw"))
  }

  /** Output-writer shard balance audit — the LAST stage of a curation
    * pipeline (sharded corpus write) has a straggler problem exactly
    * when doc token masses skew: per md5-hash shard (32, the writer
    * width), doc count and token mass plus their load factors on the
    * permille grid (1000 = perfectly balanced). Hash sharding
    * guarantees doc-count balance to ~√n noise but NOT token balance —
    * this row is the check that catches a token-skewed corpus before
    * it serializes a 1000-executor write behind one fat shard. Map-side
    * shard tag, one 32-group aggregate, 1-row totals broadcast
    * (allowlisted); load products ride DECIMAL(38,0) past the BIGINT
    * cliff. */
  def pipeShardAssign(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(
      (conv(substring(md5(concat(lit("shard|"),
        col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long")
        % 32).as("shard"),
      size(TextOps.tokenize(col("text"))).cast("long").as("n_tok"))
    val tot = docs.agg(count(lit(1)).as("total_docs"),
                       sum(col("n_tok")).as("total_tokens"))
    docs.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("token_mass"))
      .crossJoin(broadcast(tot))
      .withColumn("doc_load_permille",
        expr("CAST(n_docs AS DECIMAL(38,0)) * 32000 DIV total_docs"))
      .withColumn("tok_load_permille",
        expr("CAST(token_mass AS DECIMAL(38,0)) * 32000 DIV total_tokens"))
      .select(col("shard"), col("n_docs"), col("token_mass"),
              col("doc_load_permille"), col("tok_load_permille"))
  }

  /** Duplication-factor histogram — the corpus-health spectrum the
    * C4/CCNet papers publish (how much of the corpus sits in
    * singleton vs 2-4× vs heavy-duplicate groups): exact-dedup group
    * sizes bucketed by power of two. The bucket is the INTEGER bit
    * length (length(bin(n)) − 1 on both engines) — never floor(log2):
    * a 1-ulp-low log2 at an exact power of two would flip the bucket.
    * One hash aggregation + one ≤64-bucket rollup. */
  def pipeDupFactorHist(s: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(Tables.documents(s, dir), "doc_id", "text")
      .select((length(bin(col("n_docs"))) - 1).cast("long").as("bucket"),
              col("n_docs"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_groups"), sum(col("n_docs")).as("n_docs"))

  /** Cross-domain template-overlap edges ([[Dedup.domainOverlap]]) at
    * the 10-token segment grain over the fixture's `source` domains. */
  def pipeDomainOverlap(s: SparkSession, dir: String): DataFrame =
    Dedup.domainOverlap(Tables.documents(s, dir), "doc_id", "source",
                        "text")

  /** Per-language WordPiece FERTILITY panel — the standard
    * tokenizer-quality metric (pieces per word; SentencePiece/mBERT
    * evals report exactly this per language to detect under-served
    * scripts): exact integer sums over the per-doc encode stats, plus
    * pieces-per-char compression and the unknown-word mass. Rides the
    * SAME trained encoder as `text_wordpiece_encode` (the vocab
    * collects re-run but hit the PlanCache-cached word-frequency
    * frames); one doc-keyed join + a |langs|-bounded rollup on top. */
  def textWordpieceFertility(s: SparkSession, dir: String): DataFrame =
    graft.operators.WordPiece
      .encodeStats(Tables.documents(s, dir), "doc_id", "text")
      .join(Tables.documents(s, dir).select(col("doc_id"), col("lang")),
            Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_words")).as("n_words"),
           sum(col("n_pieces")).as("n_pieces"),
           sum(col("n_unk_words")).as("n_unk_words"),
           sum(col("n_chars")).as("n_chars"))
      // ANSI: a language whose encoded half yields only empty tokens
      // would have n_words = n_chars = 0 — guard like encodeStats'
      // pieces_permille instead of throwing (ADVICE r11)
      .withColumn("fertility_permille",
        when(col("n_words") > 0, expr("n_pieces * 1000 DIV n_words"))
          .otherwise(lit(0L)))
      .withColumn("compression_permille",
        when(col("n_chars") > 0, expr("n_pieces * 1000 DIV n_chars"))
          .otherwise(lit(0L)))

  /** 1e-6-grid log₂ term (the sanctioned transcendental quantization —
    * both engines round the 1-ulp-divergent log to a 1e-6 integer grid
    * BEFORE any sum, so every downstream reduction is exact-integer). */
  private def lq6(x: Column): Column =
    round(log2(x.cast("double")) * 1000000d).cast("long")

  /** Multinomial Naive-Bayes language classifier — the trained
    * fastText-analog quality/language filter (Joulin et al. 2016;
    * CCNet trains exactly this shape for lang-ID): add-1-smoothed
    * per-class word log-likelihoods + doc-count priors, trained on the
    * even-doc_id half and scored on the odd half. All model terms ride
    * the 1e-6 log₂ grid, so scores are exact BIGINTs and the argmax is
    * engine-independent; the class sum needs NO zero-count (class,
    * word) rows because an unseen word's smoothed numerator term is
    * lq(0+1) = 0 — the decomposition
    * `score = prior − n_tokens·lq(N_c+V) + Σ_w k_w·lq(c_wc+1)`
    * keeps the join inner. Ties break to the alphabetically-first
    * class via an exact-equality join back to the per-doc max (scores
    * are integers, so the equality is safe). Zero-token documents have
    * no score rows and are excluded (consistent on both engines).
    *
    * Scale shape (100 TB): the model is (class × vocab)-bounded and
    * built by one map-side-combined aggregation; scoring is ONE
    * word-keyed shuffle join of per-doc word counts against the term
    * table (vocab-sized — AQE broadcasts it at fixture scale, shuffles
    * at web scale) followed by (doc, class) and doc-keyed aggregations.
    * The 5-row class-parameter frame rides an allowlisted broadcast
    * BNLJ. Width: |score| ≤ n_tokens·6.4·10⁷, safe to ~1.4·10¹¹ tokens
    * per document in BIGINT. */
  /** FROZEN NB model from a labeled training frame (doc_id, lang,
    * text): `(params(lang, prior_q, lqv), term(lang, w, t))`. The two
    * frames are the complete trained artifact — persist/broadcast them
    * and [[nbClassify]] scores any future frame (or micro-batch: the
    * streaming gate reuses exactly these) without touching the
    * training corpus again. */
  private[graft] def nbModel(train: DataFrame): (DataFrame, DataFrame) = {
    val words = train.select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
    val wc = PlanCache.reuse(
      words.groupBy(col("lang"), col("w")).agg(count(lit(1)).as("c")))
    val nl = wc.groupBy(col("lang")).agg(sum(col("c")).as("n_l"))
    val v = wc.select(col("w")).distinct().agg(count(lit(1)).as("v"))
    val pri = train.groupBy(col("lang")).agg(count(lit(1)).as("nd"))
    val ndt = train.agg(count(lit(1)).as("ndt"))
    val params = nl.join(pri, Seq("lang"))
      .crossJoin(broadcast(v)).crossJoin(broadcast(ndt))
      .select(col("lang"),
        (lq6(col("nd")) - lq6(col("ndt"))).as("prior_q"),
        lq6(col("n_l") + col("v")).as("lqv"))
    val term = wc.select(col("lang"), col("w"), lq6(col("c") + 1).as("t"))
    (params, term)
  }

  /** Apply a frozen NB model to a docs frame → (doc_id, lang_pred):
    * per-class exact-integer scores, argmax with ties to the
    * alphabetically-first class (equality join back to the per-doc
    * max — safe because scores are integers). Zero-token docs have no
    * score rows and are excluded. Per-doc independence means the
    * union of per-batch outputs equals one batch run for ANY
    * partitioning of the input — the streaming-gate law
    * (StreamingSpec). */
  private[graft] def nbClassify(docs: DataFrame, params: DataFrame,
                                term: DataFrame): DataFrame = {
    val scored = nbScored(docs, params, term)
    val best = scored.groupBy(col("doc_id")).agg(max(col("score")).as("b"))
    scored.join(best, Seq("doc_id"))
      .filter(col("score") === col("b"))
      .groupBy(col("doc_id")).agg(min(col("lang")).as("lang_pred"))
  }

  /** The per-(doc, class) exact-integer score frame of [[nbClassify]],
    * exposed for calibration analyses (reuse'd — the classify argmax
    * and the calibration margins share one build via CacheManager
    * sameResult). */
  private[graft] def nbScored(docs: DataFrame, params: DataFrame,
                              term: DataFrame): DataFrame = {
    val test = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
    val dw = test.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("k"))
    val dwSum = dw.join(term, Seq("w"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("k") * col("t")).as("s"))
    val docTok = test.groupBy(col("doc_id")).agg(count(lit(1)).as("n_d"))
    PlanCache.reuse(docTok.crossJoin(broadcast(params))
      .join(dwSum, Seq("doc_id", "lang"), "left")
      .select(col("doc_id"), col("lang"),
        (col("prior_q") - col("n_d") * col("lqv") +
         coalesce(col("s"), lit(0L))).as("score")))
  }

  /** Held-out scored frame on the same even/odd split as
    * [[nbPredFrom]] (identical plan construction → CacheManager
    * sameResult dedups the build between the two). */
  private[graft] def nbScoredFrom(docs: DataFrame): DataFrame = {
    val (params, term) = nbModel(docs.filter(col("doc_id") % 2 === 0))
    nbScored(docs.filter(col("doc_id") % 2 =!= 0), params, term)
  }

  /** Held-out (doc_id, lang_pred): train on the even-doc_id half,
    * classify the odd half. Takes the raw docs frame so specs can feed
    * a hand-computed corpus. */
  private[graft] def nbPredFrom(docs: DataFrame): DataFrame = {
    val (params, term) = nbModel(docs.filter(col("doc_id") % 2 === 0))
    PlanCache.reuse(
      nbClassify(docs.filter(col("doc_id") % 2 =!= 0), params, term))
  }

  /** Held-out label × prediction confusion matrix of the TRAINED
    * Naive-Bayes classifier ([[nbScored]]) — the companion to the
    * heuristic [[textLangConfusion]], measuring what a trained filter
    * would actually do before it gates a corpus. */
  def textNbConfusion(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"), col("lang"))
      .join(nbPredFrom(Tables.spread(Tables.documents(s, dir))), Seq("doc_id"))
      .groupBy(col("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"))

  /** Per-class held-out accuracy of the Naive-Bayes classifier, in
    * exact permille. */
  def textNbAccuracy(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"), col("lang"))
      .join(nbPredFrom(Tables.spread(Tables.documents(s, dir))), Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("lang") === col("lang_pred"), 1L).otherwise(0L))
             .as("n_correct"))
      .withColumn("acc_permille", expr("n_correct * 1000 DIV n_docs"))

  /** Per-class precision / recall / F1 of the trained NB classifier in
    * exact permille — the standard report that completes the
    * classifier-eval ladder (confusion → accuracy → calibration →
    * gate). Every metric is a ratio of confusion-matrix integers, and
    * F1 collapses to ONE exact integral divide: F1 = 2·tp/(2·tp+fp+fn)
    * = 2000·tp DIV (n_true + n_pred). Derived entirely from the
    * reuse'd |langs|²-row confusion frame — no second scoring pass;
    * classes the model never predicts get precision 0, not a divide
    * error. */
  def textNbF1(s: SparkSession, dir: String): DataFrame = {
    val conf = PlanCache.reuse(textNbConfusion(s, dir))
    val trues = conf.groupBy(col("lang"))
      .agg(sum(col("n_docs")).as("n_true"))
    val preds = conf.groupBy(col("lang_pred"))
      .agg(sum(col("n_docs")).as("n_pred"))
      .withColumnRenamed("lang_pred", "lang")
    val diag = conf.filter(col("lang") === col("lang_pred"))
      .select(col("lang"), col("n_docs").as("tp"))
    trues.join(preds, Seq("lang"), "left")
      .join(diag, Seq("lang"), "left")
      .select(col("lang"), coalesce(col("tp"), lit(0L)).as("tp"),
              col("n_true"), coalesce(col("n_pred"), lit(0L)).as("n_pred"))
      .withColumn("prec_permille", expr(
        """CASE WHEN n_pred = 0 THEN CAST(0 AS BIGINT)
          | ELSE tp * 1000 DIV n_pred END""".stripMargin))
      .withColumn("rec_permille", expr("tp * 1000 DIV n_true"))
      .withColumn("f1_permille", expr("tp * 2000 DIV (n_true + n_pred)"))
  }

  /** Reliability panel of the trained Naive-Bayes classifier —
    * predicted-margin buckets vs observed held-out accuracy, the
    * calibration check every curation paper runs before thresholding
    * a quality/language classifier (CCNet keeps only docs whose
    * classifier margin clears a bucket-calibrated cut). Margin =
    * best score − runner-up score (exact BIGINTs on the 1e-6 log₂
    * grid; ties → 0); buckets are the INTEGER bit length of the
    * margin (`length(bin(m)) − 1`, the [[pipeDupFactorHist]] rule —
    * never floor(log2)). Rides the SAME reuse'd scored frame as
    * [[nbPredFrom]] (identical construction → CacheManager
    * sameResult), so no second training pass; the rollup is one
    * ≤64-bucket aggregation. */
  def textNbCalibration(s: SparkSession, dir: String): DataFrame = {
    val scored = nbScoredFrom(Tables.spread(Tables.documents(s, dir)))
    val best = scored.groupBy(col("doc_id")).agg(max(col("score")).as("b"))
    val marg = scored.join(best, Seq("doc_id"))
      .groupBy(col("doc_id"), col("b"))
      .agg(max(when(col("score") < col("b"), col("score"))).as("s2"),
           min(when(col("score") === col("b"), col("lang"))).as("lang_pred"))
      .withColumn("margin", col("b") - coalesce(col("s2"), col("b")))
    marg
      .join(Tables.documents(s, dir).select(col("doc_id"), col("lang")),
            Seq("doc_id"))
      .select((length(bin(col("margin"))) - 1).cast("long").as("bucket"),
              when(col("lang") === col("lang_pred"), 1L).otherwise(0L)
                .as("ok"),
              col("margin"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("ok")).as("n_correct"),
           min(col("margin")).as("min_margin"),
           max(col("margin")).as("max_margin"))
      .withColumn("acc_permille", expr("n_correct * 1000 DIV n_docs"))
  }

  /** Margin cut for [[textNbGate]]: 10⁶ µ-log₂ units = 1 full bit of
    * likelihood ratio between the best and runner-up class — the
    * calibration table's bucket ~20 boundary. */
  private[graft] val NbGateMarginCut = 1000000L

  /** The calibrated classifier AS A GATE — CCNet's final step: admit a
    * document to its predicted language shard only when the margin
    * clears the cut; per predicted class, how many docs the gate
    * ships, and the precision AMONG the admitted (the quantity the
    * calibration panel predicts bucket-wise, here realized at one
    * operating point). Same reuse'd scored frame as
    * [[textNbCalibration]] / [[nbPredFrom]] — no new corpus or
    * training pass; integer margins make the cut engine-exact. */
  def textNbGate(s: SparkSession, dir: String): DataFrame = {
    val scored = nbScoredFrom(Tables.spread(Tables.documents(s, dir)))
    val best = scored.groupBy(col("doc_id")).agg(max(col("score")).as("b"))
    val marg = scored.join(best, Seq("doc_id"))
      .groupBy(col("doc_id"), col("b"))
      .agg(max(when(col("score") < col("b"), col("score"))).as("s2"),
           min(when(col("score") === col("b"), col("lang"))).as("lang_pred"))
      .withColumn("margin", col("b") - coalesce(col("s2"), col("b")))
    marg
      .join(Tables.documents(s, dir).select(col("doc_id"), col("lang")),
            Seq("doc_id"))
      .withColumn("admit",
        when(col("margin") >= NbGateMarginCut, 1L).otherwise(0L))
      .groupBy(col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("admit")).as("n_admitted"),
           sum(col("admit") *
               when(col("lang") === col("lang_pred"), 1L).otherwise(0L))
             .as("n_admitted_correct"))
      .withColumn("admit_permille", expr("n_admitted * 1000 DIV n_docs"))
      .withColumn("admitted_precision_permille",
        when(col("n_admitted") > 0,
             expr("n_admitted_correct * 1000 DIV n_admitted"))
          .otherwise(lit(0L)))
  }

  // ---------------------------------------------- trained LR filter

  /** Even-doc_id training half with the en-vs-rest target — the NB
    * family's split convention, reused for the LR filter. Training is
    * EAGER driver-batched ([[graft.operators.LogReg.train]]), so the
    * trained (B+1)-row literal is memoized per fixture dir — the three
    * registry consumers (and every bench pass) train exactly once per
    * JVM; the weights are deterministic, so a re-run could only
    * reproduce the same literal. */
  // the memo stores the COLLECTED weight rows, not a DataFrame: a
  // cached DataFrame stays bound to the SparkSession that trained it,
  // and a stop/recreate cycle would serve a frame on a dead session
  // (ADVICE r13). The 65-row literal rebuilds on the CURRENT session
  // per call — free next to the training it memoizes.
  private val lrWeightsMemo =
    scala.collection.concurrent.TrieMap.empty[String, Seq[(Long, Long)]]
  private def lrWeights(s: SparkSession, dir: String): DataFrame = {
    val rows = lrWeightsMemo.getOrElseUpdate(dir, {
      import s.implicits._
      graft.operators.LogReg.train(
        graft.operators.LogReg.features(
          Tables.spread(Tables.documents(s, dir))
            .filter(col("doc_id") % 2 === 0),
          "doc_id", "text", col("lang") === "en"))
        .as[(Long, Long)].collect().toSeq
    })
    import s.implicits._
    rows.toDF("bkt", "w_micro")
  }

  /** Held-out scored frame (odd doc_ids) under the frozen trained
    * weights — identical construction across the gate and calibration
    * rows, so CacheManager sameResult dedups the build. */
  private def lrScoredFrom(s: SparkSession, dir: String): DataFrame =
    PlanCache.reuse(graft.operators.LogReg.score(
      graft.operators.LogReg.features(
        Tables.spread(Tables.documents(s, dir))
          .filter(col("doc_id") % 2 =!= 0),
        "doc_id", "text", col("lang") === "en"),
      lrWeights(s, dir)))

  /** The trained hard-sigmoid logistic-regression quality filter's
    * weight table ([[graft.operators.LogReg]]) — 8 integer-grid
    * full-batch GD steps over hashed bigram features on the even-half
    * corpus; the oracle replays the ENTIRE training as an unrolled
    * MATERIALIZED-CTE chain, so the trained model itself is
    * cross-engine hash-exact. */
  def textLrTrain(s: SparkSession, dir: String): DataFrame =
    lrWeights(s, dir)

  /** The trained LR filter AS A GATE (the CCNet/DoReMi admission
    * step): held-out docs admitted at p̂ ≥ 0.6, reported per true
    * label — the separation table (admit rate among true-en vs rest)
    * that tells a pipeline owner what the filter would ship. */
  def textLrGate(s: SparkSession, dir: String): DataFrame =
    lrScoredFrom(s, dir)
      .groupBy(col("y"))
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("p_micro") >= graft.operators.LogReg.GateCutMicro,
                    1L).otherwise(0L)).as("n_admitted"),
           sum(col("p_micro")).as("p_mass_micro"))
      .withColumn("admit_permille", expr("n_admitted * 1000 DIV n_docs"))

  /** Reliability panel of the trained LR filter — predicted-probability
    * deciles vs observed positive rate on the held-out half (the
    * textNbCalibration shape for the regression family). Everything
    * integer: buckets are p̂ DIV 100000 clamped to 9, the observed rate
    * is exact permille. */
  def textLrCalibration(s: SparkSession, dir: String): DataFrame =
    lrScoredFrom(s, dir)
      .select(least(lit(9L), expr("p_micro DIV 100000")).as("bucket"),
              col("y"), col("p_micro"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("y")).as("n_pos"),
           sum(col("p_micro")).as("p_mass"))
      .select(col("bucket"), col("n_docs"),
              expr("n_pos * 1000 DIV n_docs").as("pos_permille"),
              expr("p_mass DIV n_docs").as("mean_p_micro"))

  /** Exact AUC of the trained LR filter on the held-out half — the
    * threshold-free eval completing the classifier ladder (confusion →
    * accuracy → F1 → calibration → gate → AUC). Mann-Whitney midrank
    * arithmetic over the score grain ([[AnalyticsQueries.ksMannWhitney]]
    * verbatim): 2U = 2·R₊ − n₊(n₊+1) stays integer under ties, and
    * auc_micro = U·10⁶/(n₊n₋) rides DECIMAL(38,0) past the BIGINT
    * cliff (n₊n₋ ~ 2.5·10¹⁷ at 10⁹ held-out docs). The cumulative
    * window is unpartitioned but SCORE-GRID-bounded: p̂ lives on the
    * clamped micro grid, so the frame never exceeds 10⁶+1 rows at any
    * corpus size. */
  def textLrAuc(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perValue = lrScoredFrom(s, dir)
      .groupBy(col("p_micro").as("v"))
      .agg(sum(col("y")).as("ca"), sum(lit(1L) - col("y")).as("cb"))
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = perValue
      .withColumn("cuma", sum(col("ca")).over(w))
      .withColumn("cumb", sum(col("cb")).over(w))
    val totals = cum.agg(max(col("cuma")).as("na"),
                         max(col("cumb")).as("nb"))
    cum.crossJoin(broadcast(totals))
      .agg(sum(col("ca") * ((col("cuma") + col("cumb") - col("ca") -
                             col("cb")) * 2 + col("ca") + col("cb") + 1))
             .as("r2a"),
           max(col("na")).as("n_pos"), max(col("nb")).as("n_neg"))
      .withColumn("u2", col("r2a") - col("n_pos") * (col("n_pos") + 1))
      .select(col("n_pos"), col("n_neg"), col("u2"),
        expr("""CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
          | ELSE CAST(CAST(u2 AS DECIMAL(38,0)) * 1000000 DIV
          |   (2 * CAST(n_pos AS DECIMAL(38,0)) * n_neg) AS BIGINT)
          | END""".stripMargin).as("auc_micro"))
  }

  /** Expected / maximum calibration error of the LR filter — the one-
    * number summary of [[textLrCalibration]]'s panel, EXACT by mass
    * cross-multiplication: per decile |mean p̂ − positive rate|·n_b =
    * |Σp̂ − n₊·10⁶| without any per-bucket division, so
    * ECE_micro = Σ_b |pm_b − pos_b·10⁶| DIV n (the mass-weighted gap)
    * and MCE takes the per-bucket integral gap. */
  def textLrEce(s: SparkSession, dir: String): DataFrame =
    lrScoredFrom(s, dir)
      .select(least(lit(9L), expr("p_micro DIV 100000")).as("bucket"),
              col("y"), col("p_micro"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("nb"), sum(col("y")).as("pos"),
           sum(col("p_micro")).as("pm"))
      .agg(count(lit(1)).as("n_buckets"),
           sum(col("nb")).as("n_docs"),
           sum(abs(col("pm") - col("pos") * 1000000L)).as("gap_mass"),
           max(expr("abs(pm - pos * 1000000) DIV nb")).as("mce_micro"))
      .select(col("n_buckets"), col("n_docs"),
        expr("""CASE WHEN n_docs = 0 THEN NULL
          | ELSE gap_mass DIV n_docs END""".stripMargin).as("ece_micro"),
        col("mce_micro"))

  /** Precision/recall/F1 of the LR filter at the nine decile
    * thresholds — the full operating curve behind the single-point
    * [[textLrGate]], read before picking a production cut. All
    * integer: confusion counts per threshold + exact permille ratios
    * (the textNbF1 arithmetic, including the one-divide
    * F1 = 2000·tp DIV (admitted + positives)). One 9× explode over the
    * reuse'd scored frame, a 9-row rollup. */
  def textLrPrCurve(s: SparkSession, dir: String): DataFrame = {
    val sc = lrScoredFrom(s, dir)
    val tot = sc.agg(sum(col("y")).as("n_pos_total"))
    sc.crossJoin(broadcast(tot))
      .select(explode(array((1 to 9).map(i => lit(i * 100000L)): _*))
                .as("thr_micro"),
              col("y"), col("p_micro"), col("n_pos_total"))
      .groupBy(col("thr_micro"), col("n_pos_total"))
      .agg(sum(when(col("p_micro") >= col("thr_micro"), 1L).otherwise(0L))
             .as("n_admitted"),
           sum(when(col("p_micro") >= col("thr_micro"), col("y"))
                 .otherwise(0L)).as("tp"))
      .select(col("thr_micro"), col("n_admitted"), col("tp"),
        expr("""CASE WHEN n_admitted = 0 THEN CAST(0 AS BIGINT)
          | ELSE tp * 1000 DIV n_admitted END""".stripMargin)
          .as("precision_permille"),
        expr("""CASE WHEN n_pos_total = 0 THEN CAST(0 AS BIGINT)
          | ELSE tp * 1000 DIV n_pos_total END""".stripMargin)
          .as("recall_permille"),
        expr("""CASE WHEN tp = 0 THEN CAST(0 AS BIGINT)
          | ELSE tp * 2000 DIV (n_admitted + n_pos_total) END"""
          .stripMargin).as("f1_permille"))
  }

  /** Zipf-law fit over the corpus frequency spectrum: OLS of ln(freq)
    * on ln(rank) for the top-100 tokens (deterministic count-desc/token
    * tie-break), reporting slope (Zipf exponent ≈ −1 for natural
    * language — a corpus-health signal: synthetic or template text
    * bends it), intercept, and R². Exactness: ln(rank)/ln(freq) are
    * quantized to the 1e-6 integer grid per row (sanctioned
    * transcendental rule), every OLS moment is then an exact BIGINT,
    * and slope/intercept/R² derive in bit-identical IEEE steps — the
    * only doubles are three final divisions over exact integers. The
    * rank window is over the 100 selected rows (bounded, KMV pattern);
    * the corpus-scale work is one word-count shuffle. */
  def textZipfFit(s: SparkSession, dir: String): DataFrame = {
    val wc = TextOps.wordCounts(Tables.spread(Tables.documents(s, dir)), "text")
    val top = wc.orderBy(col("n_occurrences").desc, col("word")).limit(100)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_occurrences").desc, col("word"))
    val xy = top.withColumn("rk", row_number().over(w))
      .select(
        round(log(col("rk").cast("double")) * lit(1e6)).cast("long").as("x6"),
        round(log(col("n_occurrences").cast("double")) * lit(1e6))
          .cast("long").as("y6"))
    xy.agg(count(lit(1)).as("n"),
           sum(col("x6")).as("sx"), sum(col("y6")).as("sy"),
           sum(col("x6") * col("y6")).as("sxy"),
           sum(col("x6") * col("x6")).as("sxx"),
           sum(col("y6") * col("y6")).as("syy"))
      .select(col("n").as("n_top"),
        (((col("n") * col("sxy") - col("sx") * col("sy")).cast("double"))
          / ((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")))
          .as("slope"),
        ((col("sy").cast("double") / lit(1e6)
            - (((col("n") * col("sxy") - col("sx") * col("sy")).cast("double"))
               / ((col("n") * col("sxx") - col("sx") * col("sx"))
                    .cast("double")))
              * col("sx").cast("double") / lit(1e6))
          / col("n").cast("double")).as("intercept"),
        (((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
            * (col("n") * col("sxy") - col("sx") * col("sy")).cast("double"))
          / ((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
             * (col("n") * col("syy") - col("sy") * col("sy")).cast("double")))
          .as("r2"))
  }

  /** LEAKAGE-FREE train/val/test split: the deterministic md5 split
    * every pipeline uses, but keyed on the document's duplicate-CLUSTER
    * id (connected components over the ≥ 0.5-Jaccard pair graph) rather
    * than the document id — near-duplicate documents can never straddle
    * splits, the train/test contamination channel a doc-keyed split
    * leaves open. Split draw: md5 bucket of the cluster id, 80/10/10.
    * One broadcast-sized cluster join over the prewarm-shared pair
    * chain; the split itself is map-side. Reports per-(split, lang)
    * doc/cluster counts. */
  def pipeLeakageSplit(s: SparkSession, dir: String): DataFrame = {
    val clusters = dedupClusters(s, dir) // (doc_id, cluster_id)
    val docs = Tables.documents(s, dir)
      .join(clusters, Seq("doc_id"), "left")
      .withColumn("ckey", coalesce(col("cluster_id"), col("doc_id")))
    val bucket = conv(substring(
      md5(concat(lit("split|"), col("ckey").cast("string"))), 1, 4), 16, 10)
      .cast("long") % 100
    docs
      .withColumn("split",
        when(bucket < 80, lit("train"))
          .when(bucket < 90, lit("val")).otherwise(lit("test")))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           countDistinct(col("ckey")).as("n_clusters"))
  }

  /** Language ID vs the labeled `lang` column. */
  def textLangId(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"), col("lang"),
      TextOps.langId(col("text")).as("lang_pred"))

  /** Classifier evaluation: label × prediction confusion matrix with
    * per-cell share of the label's row — the quality report for the
    * language-ID heuristic. */
  def textLangConfusion(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.spread(Tables.documents(s, dir))
      .groupBy(col("lang"), TextOps.langId(col("text")).as("lang_pred"))
      .agg(count(lit(1)).as("n_docs"))
    counts.withColumn("row_share",
      col("n_docs").cast("double") /
        sum(col("n_docs")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))))
  }

  /** Content + MinHash + SimHash fingerprints per document. */
  def textFingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.documents(s, dir)).select(
      col("doc_id"),
      TextOps.contentHash(col("text")).as("content_hash"),
      TextOps.minShingleHash(col("text"), 3).as("min_shingle_hash"),
      TextOps.simHash(col("text")).as("simhash"))

  /** Exact dedup groups over document content. */
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(Tables.documents(s, dir), "doc_id", "text")

  /** Exact row-dedup summary over events (dropDuplicates cardinality). */
  def dedupExactRows(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col("user_id"), col("event_type"), col("value"))
        .as("n_distinct"))

  /** MinHash-LSH candidate near-duplicate pairs (constants shared with
    * the generated oracle SQL — see MinHashK/RowsPerBand/ShingleN). */
  def dedupMinHashPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.minHashCandidatePairs(Tables.documents(s, dir), "doc_id", "text",
                                shingleN = ShingleN, k = MinHashK,
                                rowsPerBand = RowsPerBand)

  /** Exact 3-gram Jaccard pairs ≥ 0.5 via shingle inverted index. */
  def dedupJaccardPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairs(Tables.documents(s, dir), "doc_id", "text")

  /** SimHash near-dup pairs (hamming ≤ 3) via nibble banding. */
  def dedupSimHashPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.simHashPairs(Tables.documents(s, dir), "doc_id", "text")

  /** Directed containment pairs C(A→B) = |A∩B|/|A| ≥ 0.8 — the
    * quote-inclusion detector (see [[Dedup.containmentPairs]]). */
  def dedupContainmentPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(Tables.documents(s, dir), "doc_id", "text")

  /** Dedup METHOD-AGREEMENT matrix — the QA report a pipeline owner
    * reads before trusting a cheap sketch family: for every unordered
    * candidate pair surfaced by ANY of exact-Jaccard (≥ 0.5),
    * MinHash-LSH banding, or SimHash nibble banding, which subset of
    * the three methods surfaced it (2³ membership combinations →
    * pair counts). High jaccard-only counts mean the sketches miss
    * real dups (recall gap); high minhash-only counts quantify LSH
    * false-candidate rate. All three pair tables are already
    * oracle-exact and PlanCache/prewarm-shared, so this is two
    * full-outer joins over small pair tables plus a tiny rollup —
    * nothing rescans text at any scale. */
  def dedupMethodAgreement(s: SparkSession, dir: String): DataFrame = {
    val j = dedupJaccardPairs(s, dir)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("in_jaccard"))
    val m = dedupMinHashPairs(s, dir)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("in_minhash"))
    val sh = dedupSimHashPairs(s, dir)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("in_simhash"))
    j.join(m, Seq("doc_a", "doc_b"), "full_outer")
      .join(sh, Seq("doc_a", "doc_b"), "full_outer")
      .groupBy(coalesce(col("in_jaccard"), lit(0L)).as("in_jaccard"),
               coalesce(col("in_minhash"), lit(0L)).as("in_minhash"),
               coalesce(col("in_simhash"), lit(0L)).as("in_simhash"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Jensen-Shannon divergence between language word distributions —
    * the corpus-mixing distance (Lin 1991) a curation pipeline tracks
    * when a new slice shifts the language/domain mix. For each
    * unordered language pair, JSD = H(M) − ½H(P) − ½H(Q) with
    * M = (P+Q)/2, computed entirely on common integer denominators:
    * the mixture's per-word mass is `n_w = a·N_b + b·N_a` over
    * D = 2·N_a·N_b (Σ n_w = D exactly), each entropy follows the
    * [[graft.operators.TextOps.charDiversity]] recipe (per-TYPE log₂
    * terms quantized to the 1e-6 grid, exact integer rollups in
    * DECIMAL(38,0) ≡ HUGEINT), and the output is `2·H(M) − H(P) −
    * H(Q)` in micro-bits (×2 keeps the ½ exact). 0 for identical
    * distributions, 2·10⁶ for disjoint vocabularies.
    *
    * Scale shape: word counts are ONE vocab-bounded (lang, word)
    * aggregation (Heaps' law); the 10-row pair table broadcasts into
    * it (disjunctive membership join — allowlisted few-row BNLJ), and
    * everything downstream is (pairs × union-vocab)-bounded. Width:
    * n_w and n_w·lq ride DECIMAL(38,0) ≡ HUGEINT end-to-end (ADVICE
    * r10: the former BIGINT products were a ~10⁹-words-per-language
    * overflow cliff); the remaining BIGINT term is the 2·na·nb divisor,
    * good to ~2.1·10⁹ words per language. */
  def textLangJsd(s: SparkSession, dir: String): DataFrame = {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val wc = PlanCache.reuse(
      Tables.spread(Tables.documents(s, dir))
        .select(col("lang"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("c")))
    val tot = wc.groupBy(col("lang")).agg(sum(col("c")).as("n"))
    val p = tot.select(col("lang").as("la"), col("n").as("na"))
      .join(tot.select(col("lang").as("lb"), col("n").as("nb")),
            col("la") < col("lb"))
    val lq = (x: String) =>
      s"CAST(round(log2(CAST($x AS DOUBLE)) * 1000000) AS BIGINT)"
    wc.join(broadcast(p), col("lang") === col("la") ||
                          col("lang") === col("lb"))
      .groupBy(col("la"), col("lb"), col("na"), col("nb"), col("w"))
      .agg(sum(when(col("lang") === col("la"), col("c")).otherwise(0L))
             .as("a"),
           sum(when(col("lang") === col("lb"), col("c")).otherwise(0L))
             .as("b"))
      // the mixture mass and its log-term product route through
      // DECIMAL(38,0) (≡ DuckDB HUGEINT) BEFORE any multiply: computed
      // in BIGINT, a·N_b and n_w·lq(n_w) hit the 2⁶³ cliff (ANSI throw)
      // once per-language totals reach ~10⁹ words — with the wide
      // intermediates only the genuinely-bounded inputs (per-language
      // totals < 2.1·10⁹ via the 2·na·nb divisor) constrain scale
      .withColumn("nw",
        expr("CAST(a AS DECIMAL(38,0)) * nb + CAST(b AS DECIMAL(38,0)) * na"))
      .groupBy(col("la"), col("lb"), col("na"), col("nb"))
      .agg(count(lit(1)).as("n_types"),
           sum(expr(s"nw * ${lq("nw")}")).cast(dec38).as("sm"),
           sum(expr(s"CASE WHEN a > 0 THEN a * ${lq("a")} ELSE 0 END"))
             .as("sa"),
           sum(expr(s"CASE WHEN b > 0 THEN b * ${lq("b")} ELSE 0 END"))
             .as("sb"))
      .select(col("la").as("lang_a"), col("lb").as("lang_b"),
        col("n_types"),
        (expr(s"${lq("2 * na * nb")} - (sm div (2 * na * nb))")).as("h_m_micro"),
        (expr(s"${lq("na")} - (sa DIV na)")).as("h_a_micro"),
        (expr(s"${lq("nb")} - (sb DIV nb)")).as("h_b_micro"))
      .withColumn("jsd_micro2",
        expr("2 * h_m_micro - h_a_micro - h_b_micro"))
  }

  /** LSH recall curve — the calibration table for the MinHash banding
    * config (12 hashes × 3 rows/band): exact-Jaccard pairs (≥ 0.5, the
    * region the prefix/stop-shingle index makes exact) bucketed into
    * 0.05-wide similarity bins (`floor(jaccard·20)` on bit-identical
    * doubles), each bin reporting how many pairs the banding surfaced
    * as candidates — the observed S-curve an operator compares against
    * the theoretical 1−(1−j^r)^b before trusting the sketch at a new
    * threshold. Both pair frames are the prewarm-shared tables the
    * agreement row reads; this adds one co-keyed left join + a ≤
    * 11-bin rollup — nothing rescans text. */
  def dedupLshRecallCurve(s: SparkSession, dir: String): DataFrame = {
    val j = dedupJaccardPairs(s, dir)
      .select(col("doc_a"), col("doc_b"),
              expr("CAST(floor(jaccard * 20) AS BIGINT)").as("bin"))
    val m = dedupMinHashPairs(s, dir)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("cand"))
    j.join(m, Seq("doc_a", "doc_b"), "left")
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_pairs"),
           sum(coalesce(col("cand"), lit(0L))).as("n_candidates"))
      .select(col("bin"), col("n_pairs"), col("n_candidates"),
              expr("n_candidates * 1000 DIV n_pairs").as("recall_permille"))
  }

  /** Exact threshold-Jaccard join (t = 0.6) via prefix filtering — the
    * lossless scale path (no stop-shingle cap, no missed pairs); the
    * oracle replays the full all-pairs threshold join. */
  def dedupPrefixPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.prefixFilterJaccardPairs(Tables.documents(s, dir), "doc_id", "text",
                                   minJaccard = 0.6)

  /** Per-document duplicated-substring exposure: maximal cross-document
    * duplicated 5-gram spans ([[graft.operators.Dedup.substringSpans]])
    * rolled up to (span count, duplicated tokens, permille of the
    * document) — the position-level dedup report a training pipeline
    * cuts or down-weights documents by. Integer-only compared columns
    * (`DIV` permille), so the hash compare is arithmetic-free. */
  def dedupSubstringSpans(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val spans = Dedup.substringSpans(docs, "doc_id", "text", k = 5)
    val perDoc = spans.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"), sum(col("span_tokens")).as("dup_tokens"))
    val tok = docs.select(col("doc_id"),
                          size(split(col("text"), " ")).as("n_tokens"))
    perDoc.join(tok, Seq("doc_id"))
      .select(col("doc_id"), col("n_spans"), col("dup_tokens"), col("n_tokens"),
              expr("dup_tokens * 1000 DIV n_tokens").as("dup_permille"))
  }

  /** Incremental dedup: a NEW batch (doc_id % 5 = 0, ~20%) deduped
    * against the STANDING corpus without rescanning it — the production
    * shape where the corpus side contributes only precomputed artifacts
    * (content-hash set, LSH band buckets) and only the small batch is
    * sketched fresh. Exact dups via content-hash semi join; near-dup
    * candidates via shared MinHash band buckets (same 12/3 layout as
    * `dedup_minhash_pairs`); decision = drop on either hit. At 100 TB
    * the corpus artifacts are written once by the previous run and the
    * batch side is broadcast-sized — nothing here rescans corpus text.
    * Sub-shingle batch docs have no signature and default to keep
    * (left join + coalesce), mirroring the LSH family's contract. */
  def pipeIncrDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val exactHit = batch
      .select(col("doc_id"), TextOps.contentHash(col("text")).as("ch"))
      .join(corpus.select(TextOps.contentHash(col("text")).as("ch")).distinct(),
            Seq("ch"), "left_semi")
      .select(col("doc_id"), lit(true).as("exact_dup"))
    val batchBands = Dedup.lshBands(
      Dedup.minHashSignatures(batch, "doc_id", "text", 3, 12), "doc_id", 12, 3)
    val corpusBands = Dedup.lshBands(
      Dedup.minHashSignatures(corpus, "doc_id", "text", 3, 12), "doc_id", 12, 3)
      .select(col("band"), col("bucket")).distinct()
    val nearHit = batchBands
      .join(corpusBands, Seq("band", "bucket"), "left_semi")
      .select(col("doc_id")).distinct()
      .select(col("doc_id"), lit(true).as("near_cand"))
    batch.select(col("doc_id"))
      .join(exactHit, Seq("doc_id"), "left")
      .join(nearHit, Seq("doc_id"), "left")
      .select(col("doc_id"),
              coalesce(col("exact_dup"), lit(false)).as("exact_dup"),
              coalesce(col("near_cand"), lit(false)).as("near_cand"),
              when(coalesce(col("exact_dup"), lit(false)) ||
                   coalesce(col("near_cand"), lit(false)), lit("drop"))
                .otherwise(lit("keep")).as("decision"))
  }

  /** Composed cleaning pipeline — the operators chained the way a
    * training-data job would: docs ⋈ embeddings (broadcast), quality +
    * language + token features, exact-dup flag via a hash-window, then
    * a quality gate. One broadcast join + one small window shuffle. */
  def pipeCleanCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("label"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(TextOps.contentHash(col("text")))
    docs.join(broadcast(emb), col("doc_id") === col("vec_id"))
      .withColumn("n_tokens", TextOps.tokenCount(col("text")))
      .withColumn("quality_score", TextOps.qualityScore(col("text")))
      .withColumn("lang_pred", TextOps.langId(col("text")))
      .withColumn("is_dup", count(lit(1)).over(w) > 1)
      .filter(col("quality_score") >= 0.3)
      .select(col("doc_id"), col("label"), col("n_tokens"),
              col("quality_score"), col("lang_pred"), col("is_dup"))
  }

  /** Corpus word counts (map-side-combine canonical workload). */
  def docWordCounts(s: SparkSession, dir: String): DataFrame =
    TextOps.wordCounts(Tables.documents(s, dir), "text")

  /** Global top-20 word bigrams: shingle explode → map-side-combined
    * count → TakeOrderedAndProject (no full sort; ties broken by the
    * bigram itself). */
  def docTopBigrams(s: SparkSession, dir: String): DataFrame =
    graft.operators.Relational.globalTopK(
      Tables.spread(Tables.documents(s, dir))
        .select(explode(TextOps.wordShingles(col("text"), 2)).as("bigram"))
        .groupBy(col("bigram")).agg(count(lit(1)).as("n")),
      Seq(col("n").desc, col("bigram").asc), 20)

  /** Bigram coverage score: per document, the permille of its bigram
    * occurrences that fall in the corpus's top-500 bigrams — an
    * LM-free fluency proxy (natural prose re-uses frequent
    * collocations; gibberish and boilerplate sit in the tail).
    * Deterministic top-K tie-break (count desc, bigram asc); broadcast
    * top set, map-side-combined per-doc counts, integer `DIV`
    * permille. Docs with < 2 tokens have no bigrams and no row
    * (explode drops them), avoiding the 0-division corner. At 100 TB
    * the top set is fixed-size (500 rows) however large the corpus —
    * the coverage join never shuffles the bigram stream. */
  def textBigramCoverage(s: SparkSession, dir: String): DataFrame = {
    val bg = PlanCache.reuse(Tables.spread(Tables.documents(s, dir))
      .select(col("doc_id"),
              explode(TextOps.wordShingles(col("text"), 2)).as("bigram")))
    val top = graft.operators.Relational.globalTopK(
        bg.groupBy(col("bigram")).agg(count(lit(1)).as("n")),
        Seq(col("n").desc, col("bigram").asc), 500)
      .select(col("bigram"), lit(1L).as("hit"))
    bg.join(broadcast(top), Seq("bigram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
           sum(coalesce(col("hit"), lit(0L))).as("n_covered"))
      .select(col("doc_id"), col("n_bigrams"), col("n_covered"),
              expr("n_covered * 1000 DIV n_bigrams").as("coverage_permille"))
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank over
    * the corpus-wide word co-occurrence graph — adjacent content-word
    * pairs (length ≥ 4, the stopword-free proxy the fixture's
    * synthetic vocabulary supports) become undirected edges weighted by
    * corpus co-occurrence count, hapax edges (w < 2) pruned, and 3
    * rounds of [[graft.operators.Graphs.pageRank]]'s integer fixed
    * point rank the vocabulary; top-30 by (rank, word). The classic
    * unsupervised keyword shape of an LLM-corpus labeling pass.
    *
    * Scale shape: pair extraction is the shuffle-free native
    * [[TextOps.wordShingles]] explode (no HOF closure re-evaluation);
    * the edge build is ONE map-side-combined count whose key space is
    * vocabulary-bounded (Heaps' law), not corpus-bounded; ranking runs
    * on the pinned-partitioner RDD core (one shuffle per round); top-k
    * is a TakeOrdered. The oracle unrolls the identical integer
    * recurrence, so ranks are hash-exact. */
  def docTextrankKeywords(s: SparkSession, dir: String): DataFrame = {
    val bg = Tables.spread(Tables.documents(s, dir))
      .select(explode(TextOps.wordShingles(col("text"), 2)).as("bg"))
      .select(split(col("bg"), " ").getItem(0).as("wa"),
              split(col("bg"), " ").getItem(1).as("wb"))
      .filter(length(col("wa")) >= 4 && length(col("wb")) >= 4 &&
              col("wa") =!= col("wb"))
    val und = bg
      .groupBy(least(col("wa"), col("wb")).as("a"),
               greatest(col("wa"), col("wb")).as("b"))
      .agg(count(lit(1)).as("w"))
      .filter(col("w") >= 2)
    val edges = und.select(col("a").as("src"), col("b").as("dst"), col("w"))
      .unionAll(und.select(col("b").as("src"), col("a").as("dst"), col("w")))
    graft.operators.Relational.globalTopK(
      Graphs.pageRank(edges, "src", "dst", "w", iters = 3),
      Seq(col("rank").desc, col("node").asc), 30)
  }

  /** Per-document character-distribution diversity — the cheap junk /
    * binary / keyboard-mash filter a quality stack runs before any LM
    * scoring: exact Gini-Simpson collision mass `Σ n_c²·10⁶ DIV n²`
    * (low = diverse, 10⁶ = single repeated char) plus Shannon entropy
    * in micro-bits. Entropy is transcendental, so it follows the
    * corpus-LM recipe rather than the round-6 fallback: each log₂ term
    * is computed once per (doc, char) TYPE, quantized onto the 1e-6
    * integer grid, and the doc rollup `log₂(n)·10⁶ − (Σ n_c·lq) DIV n`
    * is an exact integer sum — no order-dependent float summation in
    * any compared column.
    *
    * Scale shape: one (doc, char) hash aggregation (alphabet-bounded
    * per doc) with map-side combine, then a doc-keyed rollup — no
    * joins, no broadcasts. */
  def textCharEntropy(s: SparkSession, dir: String): DataFrame =
    PlanCache.reuse(
      TextOps.charDiversity(Tables.spread(Tables.documents(s, dir)),
                            "doc_id", "text"))

  /** Segmental type-token ratio (Johnson 1944; the windowed form of
    * lexical diversity MATTR approximates): tokens split into fixed
    * 16-token segments by RAW split position (empty tokens occupy a
    * slot but don't count — both engines segment on the same index),
    * per-segment `TTR = n_types·10⁶ DIV n_toks`, then per doc the
    * segment count, mean and min segment TTR — low TTR = looping /
    * template text a repetition filter should drop. All exact
    * integers.
    *
    * Scale shape: one (doc, seg, tok) projection into a (doc, seg)
    * aggregation (the distinct count plans as the standard two-phase
    * partial distinct), then a doc rollup — no joins. */
  def textTtrSegmental(s: SparkSession, dir: String): DataFrame =
    PlanCache.reuse(Tables.spread(Tables.documents(s, dir))
      .select(col("doc_id"),
              posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      .filter(length(col("tok")) > 0)
      .select(col("doc_id"), expr("pos DIV 16").as("seg"), col("tok"))
      .groupBy(col("doc_id"), col("seg"))
      .agg(count(lit(1)).as("n_toks"),
           countDistinct(col("tok")).as("n_types"))
      .withColumn("ttr_ppm", expr("n_types * 1000000 DIV n_toks"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n_toks")).as("n_tokens"), count(lit(1)).as("n_segs"),
           sum(col("ttr_ppm")).as("sttr"), min(col("ttr_ppm")).as("min_ttr_ppm"))
      .select(col("doc_id"), col("n_tokens"), col("n_segs"),
              expr("sttr DIV n_segs").as("mean_ttr_ppm"),
              col("min_ttr_ppm")))

  /** Composite quality score — the capstone join a curation pipeline
    * ranks documents by before mixture sampling: the char-diversity and
    * segmental-TTR frames (both PlanCache-shared with their standalone
    * rows) combined into the exact integer
    * `entropy_micro + 2·mean_ttr_ppm − simpson_ppm` (diversity up,
    * repetition down; weights documented, not tuned) with a per-language
    * rank. Both inputs are doc-keyed co-partitioned equi joins; the
    * window is language-partitioned (never a global sort). */
  def docQualityComposite(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ent = textCharEntropy(s, dir)
      .select(col("doc_id"), col("entropy_micro"), col("simpson_ppm"))
    val ttr = textTtrSegmental(s, dir)
      .select(col("doc_id"), col("mean_ttr_ppm"))
    val lang = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
    ent.join(ttr, Seq("doc_id")).join(lang, Seq("doc_id"))
      .withColumn("quality_score",
        expr("entropy_micro + 2 * mean_ttr_ppm - simpson_ppm"))
      .select(col("doc_id"), col("lang"), col("quality_score"))
      .withColumn("lang_rank",
        row_number().over(Window.partitionBy(col("lang"))
          .orderBy(col("quality_score").desc, col("doc_id").asc))
          .cast("long"))
  }

  /** Regex scanning per language: total pattern occurrences + matching-
    * document counts. Patterns stay in the ASCII subset where Java
    * regex and RE2 agree (char classes, word boundaries, alternation —
    * no lookaround, no backreferences). */
  def textRegexScan(s: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.documents(s, dir))
      .withColumn("n_s_words", regexp_count(col("text"), lit("\\bs[a-z]+")))
      .withColumn("has_vv", regexp_like(col("text"), lit("value [a-z]+ value")))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_s_words")).cast("long").as("n_s_words"),
           sum(when(col("has_vv"), 1L).otherwise(0L)).as("n_docs_vv"))

  /** Readability panel per language — the Flesch-style complexity
    * screen quality filters band on (HuggingFace/C4 audits report
    * exactly these axes): a syllable PROXY as vowel-run count
    * (`[aeiou]+` — the classic heuristic; char-class-only regex, in
    * the (Java ∩ RE2) subset both engines match identically), words,
    * syllables-per-word and long-word (≥ 3 vowel runs) share on the
    * permille grid. Word counts are ≥ 1 per doc so no divide guard is
    * needed; a vowel-free script (zh chars) degrades to 0, not an
    * error.
    *
    * Scale shape (100 TB): pure per-row map work into a |langs|-group
    * rollup — no shuffle before the aggregate's map-side combine. The
    * per-word vowel filter is a higher-order `filter` whose lambda
    * touches ONLY its argument (the round-5 HOF rule: nothing closed
    * over re-evaluates per element). */
  def textReadability(s: SparkSession, dir: String): DataFrame = {
    val words = split(col("text"), " ")
    Tables.spread(Tables.documents(s, dir))
      .select(col("lang"),
        size(words).cast("long").as("nw"),
        regexp_count(col("text"), lit("[aeiou]+")).cast("long").as("syl"),
        size(filter(words, w => regexp_count(w, lit("[aeiou]+")) >= 3))
          .cast("long").as("nlong"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nw")).as("n_words"),
           sum(col("syl")).as("n_syllables"),
           sum(col("nlong")).as("n_longwords"))
      .withColumn("syl_permille", expr("n_syllables * 1000 DIV n_words"))
      .withColumn("longword_permille",
        expr("n_longwords * 1000 DIV n_words"))
  }

  /** MinHash Jaccard ESTIMATE per LSH candidate pair: matching signature
    * components / k — the quantity real dedup pipelines threshold on
    * (the exact-Jaccard verify pass is `dedup_jaccard_pairs`). Division
    * of a small int by the constant k is bit-exact cross-engine. */
  def dedupMinHashEstimate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val sigs = Dedup.minHashSignatures(docs, "doc_id", "text", ShingleN, MinHashK)
    val pairs = dedupMinHashPairs(s, dir)
    val sa = sigs.select(col("doc_id").as("doc_a") +:
      (1 to MinHashK).map(i => col(s"h$i").as(s"a$i")): _*)
    val sb = sigs.select(col("doc_id").as("doc_b") +:
      (1 to MinHashK).map(i => col(s"h$i").as(s"b$i")): _*)
    val nMatch = (1 to MinHashK)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    pairs.join(sa, Seq("doc_a")).join(sb, Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), nMatch.as("n_match"),
              (nMatch.cast("double") / lit(MinHashK.toDouble)).as("est_jaccard"))
  }

  /** Pretraining chunking: overlapping token windows (stride =
    * chunk − overlap) per document — pure map-side transform+explode,
    * no shuffle; the grain change (doc → chunk) is what the downstream
    * shard writer consumes. Output: chunk bounds + a content prefix. */
  def pipeChunkDocs(s: SparkSession, dir: String,
                    chunk: Int = 64, overlap: Int = 16): DataFrame = {
    val stride = chunk - overlap
    val toks = split(col("text"), " ")
    val nChunks = when(size(toks) <= chunk, lit(1)).otherwise(
      ceil((size(toks) - lit(chunk)).cast("double") / lit(stride))
        .cast("int") + 1)
    Tables.spread(Tables.documents(s, dir))
      .select(col("doc_id"), col("text"), toks.as("toks"), nChunks.as("nc"))
      .select(col("doc_id"),
              explode(transform(sequence(lit(0), col("nc") - 1),
                c => struct(
                  c.as("chunk_idx"),
                  (c * stride + 1).as("start_tok"),
                  least(c * stride + chunk, size(col("toks"))).as("end_tok"),
                  element_at(col("toks"), c * stride + 1).as("first_word"))))
                .as("ch"))
      .select(col("doc_id"), col("ch.chunk_idx"), col("ch.start_tok"),
              col("ch.end_tok"),
              (col("ch.end_tok") - col("ch.start_tok") + 1).as("n_tokens"),
              col("ch.first_word"))
  }

  /** Sequence packing: documents assigned to ~`binTokens`-token bins by
    * a prefix-sum over a deterministic order WITHIN each shard (doc_id
    * mod nShards) — greedy fixed-order packing exactly as a per-writer
    * packing task runs it. A global-order pack would be an unpartitioned
    * window (single-partition sort, will not scale); sharded packing is
    * both the scalable plan and the production semantics. */
  def pipePackBins(s: SparkSession, dir: String,
                   binTokens: Int = 2048, nShards: Int = 8): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("doc_id").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    Tables.documents(s, dir)
      .select(col("doc_id"), (col("doc_id") % nShards).as("shard"),
              TextOps.tokenCount(col("text")).as("n_tokens"))
      .withColumn("prefix", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      // integer DIV, not double-divide-then-cast: DuckDB's double→int
      // cast ROUNDS while Spark's truncates
      .withColumn("bin", expr(s"prefix DIV $binTokens"))
      .groupBy(col("shard"), col("bin"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_tokens")).cast("long").as("bin_tokens"),
           min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
  }

  /** Repetition scoring: distinct-trigram ratio per document (low ratio
    * = repetitive boilerplate — a standard pretraining quality gate).
    * Row-local array ops only; integer ratio division is exact. */
  def textRepetition(s: SparkSession, dir: String): DataFrame = {
    // total trigrams is just max(tokens-2, 0) — only the DISTINCT count
    // needs the shingle array built (once; a size(shingles) twin would
    // double the dominant allocation)
    val sh = TextOps.wordShingles(col("text"), 3)
    Tables.spread(Tables.documents(s, dir))
      .select(col("doc_id"),
              greatest(TextOps.tokenCount(col("text")) - 2, lit(0))
                .as("n_trigrams"),
              size(array_distinct(sh)).as("n_distinct"))
      .withColumn("rep_ratio",
        when(col("n_trigrams") > 0,
             col("n_distinct").cast("double") / col("n_trigrams"))
          .otherwise(lit(1.0)))
  }

  /** Duplication-rate report per source: share of documents whose
    * content hash appears more than once — the per-provenance quality
    * metric that decides which sources need aggressive dedup. One
    * hash-window pass + one aggregation. */
  def docDupRateBySource(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(TextOps.contentHash(col("text")))
    Tables.spread(Tables.documents(s, dir))
      .withColumn("is_dup", count(lit(1)).over(w) > 1)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup_docs"),
           (sum(when(col("is_dup"), 1L).otherwise(0L)).cast("double") /
             count(lit(1))).as("dup_rate"))
  }

  /** Deterministic stratified sampling: a seeded md5 bucket on the key
    * (no RNG — reproducible across engines, runs, and cluster sizes)
    * keeps ~20% per language; counts audit the realized rate. */
  def pipeStratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val bucket = conv(substring(
      md5(concat(lit("smp|"), col("doc_id").cast("string"))), 1, 4), 16, 10)
      .cast("long") % 100
    Tables.documents(s, dir)
      .withColumn("keep", bucket < 20)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_total"),
           sum(when(col("keep"), 1L).otherwise(0L)).as("n_sampled"),
           (sum(when(col("keep"), 1L).otherwise(0L)).cast("double") /
             count(lit(1))).as("sample_rate"))
  }

  /** Top TF-IDF term per document (rank-limited window over the joined
    * tf/df tables). The score is quantized to 6 decimals before ranking
    * AND output: ln() is not correctly rounded and differs by 1 ulp
    * (~1e-15 absolute here) between Math.log and DuckDB's libm, so raw
    * doubles cannot be bit-compared — the registry's one sanctioned
    * non-exact canonicalization (see CLAUDE.md), inherent to
    * transcendentals; at 6 decimals the boundary-crossing probability is
    * ~1e-9 per value. */
  def docTfIdfTopTerms(s: SparkSession, dir: String): DataFrame =
    graft.operators.Relational.topKPerGroup(
      TextOps.tfIdf(Tables.documents(s, dir), "doc_id", "text")
        .withColumn("tf_idf", round(col("tf_idf"), 6)),
      Seq("doc_id"), Seq(col("tf_idf").desc, col("term").asc), 1, "rn")
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("tf_idf"))

  /** BM25 formula fragments — ONE string each, parsed verbatim by BOTH
    * Spark (`expr`) and DuckDB, so the floating expression trees are
    * structurally identical and every IEEE step agrees bit-for-bit.
    * idf is Robertson-Sparck-Jones with the +1 floor (Lucene's form),
    * quantized to the 1e-6 integer grid (sanctioned transcendental
    * rule); the per-term contribution is rounded onto the same grid
    * BEFORE the per-(query, doc) sum, so the only float reduction runs
    * over exact BIGINTs. k1 = 1.2, b = 0.75 (the standard defaults). */
  private val bm25Idf6 =
    "CAST(round(ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / " +
      "(CAST(df AS DOUBLE) + 0.5) + 1.0) * 1000000) AS BIGINT)"
  private val bm25C6 =
    "CAST(round(CAST(idf6 AS DOUBLE) * (CAST(tf AS DOUBLE) * " +
      "CAST(2.2 AS DOUBLE)) / (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE) * " +
      "(CAST(0.25 AS DOUBLE) + (CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE) * " +
      "CAST(n_docs AS DOUBLE)) / CAST(sdl AS DOUBLE)))) AS BIGINT)"

  /** The [[bm25Scored]] oracle twin: CTE chain (no WITH keyword) ending
    * in `scored(query_id, doc_id, score6, n_terms_hit)` — shared by the
    * doc_bm25_topk oracle and the sim_rrf_fusion oracle so the two SQL
    * replays cannot drift from one another. */
  private[queries] val bm25ScoredCte: String =
    s"""d AS MATERIALIZED (SELECT doc_id, $wordsSql AS toks,
       |    CAST(len($wordsSql) AS BIGINT) AS dl FROM documents),
       |tf AS MATERIALIZED (SELECT doc_id, dl, term,
       |    CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d)
       |  GROUP BY 1, 2, 3),
       |dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
       |        FROM tf GROUP BY 1),
       |consts AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |           CAST(SUM(dl) AS BIGINT) AS sdl FROM d),
       |q AS (SELECT doc_id AS query_id,
       |        unnest(list_distinct(toks[1:4])) AS term
       |      FROM d WHERE doc_id % 50 = 0),
       |joined AS (SELECT query_id, tf.doc_id, tf.tf, tf.dl, dfq.df,
       |             consts.n_docs, consts.sdl
       |           FROM q JOIN tf USING (term) JOIN dfq USING (term)
       |           CROSS JOIN consts),
       |w6 AS (SELECT *, $bm25Idf6 AS idf6 FROM joined),
       |scored AS (SELECT query_id, doc_id,
       |    CAST(SUM($bm25C6) AS BIGINT) AS score6,
       |    CAST(COUNT(*) AS BIGINT) AS n_terms_hit
       |  FROM w6 GROUP BY 1, 2)""".stripMargin

  /** BM25 top-k retrieval — the benchmark-contamination search shape:
    * every doc_id % 50 == 0 document's first 4 distinct tokens form a
    * "benchmark query", and the corpus is ranked against each by BM25
    * (Robertson et al., Okapi; Lucene-default k1/b). This is the
    * retrieval half a decontamination pipeline runs against eval-set
    * queries (the winnowing index covers the exact-overlap half).
    *
    * Scale shape (100 TB): tf is the one corpus-scale shuffle
    * (map-side combined); df is vocab-bound; the query→postings join
    * is an inverted-index probe that touches only matching terms'
    * postings; corpus constants (N, Σdl) are a 1-row broadcast. Top-k
    * is a per-query window over the scored candidates only. */
  def docBm25TopK(s: SparkSession, dir: String): DataFrame =
    graft.operators.Relational.topKPerGroup(bm25Scored(s, dir), Seq("query_id"),
        Seq(col("score6").desc, col("doc_id").asc), 5, "rank")
      .select(col("query_id"), col("rank").cast("long").as("rank"),
              col("doc_id"), col("n_terms_hit"), col("score6"))

  /** The [[docBm25TopK]] pipeline up through the per-(query, doc) BM25
    * score — shared with the hybrid-fusion row
    * ([[VectorQueries.simRrfFusion]]), which re-ranks the same scored
    * frame at a deeper k. Returns (query_id, doc_id, score6,
    * n_terms_hit). */
  private[queries] def bm25Scored(s: SparkSession, dir: String): DataFrame = {
    val docs = PlanCache.reuse(
      Tables.spread(Tables.documents(s, dir))
        .select(col("doc_id"), TextOps.tokenize(col("text")).as("toks"))
        .withColumn("dl", size(col("toks")).cast("long")))
    val tf = PlanCache.reuse(
      docs.select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
        .groupBy(col("doc_id"), col("dl"), col("term"))
        .agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val consts = docs.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sdl"))
    val queries = docs.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("query_id"),
              explode(array_distinct(slice(col("toks"), 1, 4))).as("term"))
    queries
      .join(tf, Seq("term"))
      .join(dfreq, Seq("term"))
      .crossJoin(broadcast(consts))
      .withColumn("idf6", expr(bm25Idf6))
      .withColumn("c6", expr(bm25C6))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("c6")).as("score6"), count(lit(1)).as("n_terms_hit"))
  }

  /** Duplicate clusters: connected components over the ≥0.5-Jaccard pair
    * edges ([[graft.operators.Graphs.ccStar]]), every member labeled
    * with its component's min doc_id — the step that turns pairwise
    * dedup output into keep-one-per-cluster decisions. Oracle: recursive
    * CTE transitive closure over the same edges. */
  def dedupClusters(s: SparkSession, dir: String): DataFrame =
    Graphs.ccStar(dedupJaccardPairs(s, dir), "doc_a", "doc_b")
      .select(col("id").as("doc_id"), col("cluster_id"))

  /** Duplicate-cluster provenance purity — whether duplication is
    * INTRA-site (template/boilerplate: clusters drawn from one source)
    * or CROSS-site (syndication/mirroring: mixed sources), the
    * diagnostic that decides if dedup can run per-domain (cheap, the
    * domain-grain family) or must stay global. Per cluster-size bucket
    * (integer bit length — the dup_factor_hist rule): cluster count,
    * single-source ("pure") cluster count, and the mean majority-source
    * share in exact permille. Shape: the cluster labels join their
    * sources doc-keyed, then two small-grain aggregates — the pair
    * graph is already bucketed-LSH-bounded upstream. */
  def dedupClusterPurity(s: SparkSession, dir: String): DataFrame = {
    val perCs = dedupClusters(s, dir)
      .join(Tables.documents(s, dir).select(col("doc_id"), col("source")),
            Seq("doc_id"))
      .groupBy(col("cluster_id"), col("source"))
      .agg(count(lit(1)).as("c"))
    perCs.groupBy(col("cluster_id"))
      .agg(sum(col("c")).as("sz"), max(col("c")).as("maj"))
      .select((length(bin(col("sz"))) - 1).cast("long").as("bucket"),
              col("sz"), col("maj"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_clusters"),
           sum(when(col("maj") === col("sz"), 1L).otherwise(0L)).as("n_pure"),
           sum(expr("maj * 1000 DIV sz")).as("sp"))
      .withColumn("mean_purity_permille", expr("sp DIV n_clusters"))
      .drop("sp")
  }

  /** The dedup DECISION step: materialize the kept corpus — every doc
    * except non-canonical members of a duplicate cluster (keeper = min
    * doc_id, i.e. cluster_id). One left-anti join against the (small)
    * cluster table. */
  def pipeDedupKeep(s: SparkSession, dir: String): DataFrame = {
    val losers = dedupClusters(s, dir)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"))
    Tables.documents(s, dir)
      .join(losers, Seq("doc_id"), "left_anti")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"),
           sum(col("n_chars")).as("kept_chars"))
  }

  /** Redaction policy for [[pipeRedact]] — the PII-scrubbing mechanism
    * (word-boundary alternation, global replace) with a synthetic policy,
    * since the fixture text contains no real emails/phones/ids. The
    * pattern stays in the Java-regex/RE2 common subset. */
  val RedactPattern = "\\b(customer|user)\\b"

  /** Policy-driven redaction: count matches, rewrite the text, and
    * fingerprint the redacted output so the oracle proves the rewritten
    * BYTES are identical cross-engine, not just the counts. Pure per-row
    * map — no shuffle; at 100 TB this is a scan-rewrite-scan pipeline
    * stage with perfect data parallelism. */
  def pipeRedact(s: SparkSession, dir: String): DataFrame = {
    val masked = regexp_replace(col("text"), RedactPattern, "[PII]")
    Tables.documents(s, dir).select(
      col("doc_id"),
      regexp_count(col("text"), lit(RedactPattern)).as("n_redacted"),
      md5(masked.cast("binary")).as("redacted_hash"),
      length(masked).as("redacted_len"))
  }

  /** Benchmark-contamination check: the fraction of each corpus doc's
    * 5-gram shingle occurrences that appear in a held-out benchmark set
    * (docs with doc_id % 10 == 0), aggregated per source. The benchmark
    * shingle set drives a LEFT SEMI join — at 100 TB the benchmark side
    * is small (eval suites are MBs, corpora are TBs), so the probe is a
    * broadcast/bloom prune, never a corpus-side shuffle. */
  def pipeContamination(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(Tables.documents(s, dir))
    // three branches consume the exploded shingle table (bench distinct,
    // semi-join probe, totals) with no exchange between them to reuse —
    // materialize it once or the scan+explode runs 3x (CLAUDE.md rule)
    val sh = graft.operators.PlanCache.reuse(
      docs.select(col("doc_id"),
        explode(TextOps.wordShingles(col("text"), 5)).as("s5")))
    val bench = sh.filter(col("doc_id") % 10 === 0).select(col("s5")).distinct()
    val corpus = sh.filter(col("doc_id") % 10 =!= 0)
    val hits = corpus.join(bench, Seq("s5"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
    val totals = corpus.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
    val perDoc = totals.join(hits, Seq("doc_id"), "left")
      .withColumn("share",
        coalesce(col("n_hits"), lit(0L)).cast("double") / col("n_shingles"))
    docs.filter(col("doc_id") % 10 =!= 0)
      .join(perDoc.select(col("doc_id"), col("share")), Seq("doc_id"), "left")
      .withColumn("share", coalesce(col("share"), lit(0.0)))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("share") > 0, 1L).otherwise(0L)).as("n_contaminated"),
           max(col("share")).as("max_share"))
  }

  /** Heaps-law vocabulary growth — vocabulary size vs corpus size at
    * the doc_id quartile prefixes (the sublinear-growth curve a
    * tokenizer-budget planner reads next to [[textZipfFit]]: if vocab
    * still grows fast at 100% the crawl is lexically unsaturated): per
    * quarter, cumulative docs, token mass, and DISTINCT vocabulary.
    * The cumulative vocabulary needs no per-prefix rescan — a word's
    * first-carrier doc (min doc_id, the [[pipeGramNovelty]] order)
    * fully determines every prefix membership, so ONE word-keyed
    * aggregate serves all four cuts. Cutpoints are exact doc_id
    * percentiles (p100 ≡ max on both engines).
    *
    * Scale shape (100 TB): one token-count projection + one
    * first-carrier word aggregate; the cut row and the two 1-row
    * conditional rollups ride 1-row broadcasts
    * (PlanGuard-allowlisted); output is exactly 4 rows via stack. */
  def textVocabGrowth(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(Tables.documents(s, dir))
    val toks = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n"))
    val fw = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w")).agg(min(col("doc_id")).as("first_doc"))
    val cuts = toks.agg(expr(
      """percentile(doc_id, array(CAST(1 AS DOUBLE)/4,
        | CAST(1 AS DOUBLE)/2, CAST(3 AS DOUBLE)/4,
        | CAST(1 AS DOUBLE)))""".stripMargin).as("qs"))
    val tAgg = toks.crossJoin(broadcast(cuts)).agg(
      sum(when(col("doc_id") <= get(col("qs"), lit(0)), 1L)
        .otherwise(0L)).as("d1"),
      (1 to 3).flatMap(i => Seq(
        sum(when(col("doc_id") <= get(col("qs"), lit(i)), 1L)
          .otherwise(0L)).as(s"d${i + 1}"))) ++
      (0 to 3).map(i =>
        sum(when(col("doc_id") <= get(col("qs"), lit(i)), col("n"))
          .otherwise(0L)).as(s"t${i + 1}")): _*)
    val vAgg = fw.crossJoin(broadcast(cuts)).agg(
      sum(when(col("first_doc") <= get(col("qs"), lit(0)), 1L)
        .otherwise(0L)).as("v1"),
      (1 to 3).map(i =>
        sum(when(col("first_doc") <= get(col("qs"), lit(i)), 1L)
          .otherwise(0L)).as(s"v${i + 1}")): _*)
    tAgg.crossJoin(vAgg).select(expr(
      "stack(4, " + (1 to 4).map(i =>
        s"CAST($i AS BIGINT), d$i, t$i, v$i").mkString(", ") +
      ") AS (quarter, docs_cum, tokens_cum, vocab_cum)"))
  }

  /** Crawl-refresh delta — the snapshot diff a curation pipeline reads
    * after a recrawl (CommonCrawl dumps overlap heavily; the delta
    * decides how much reprocessing the refresh actually buys): exact
    * content-hash groups of the even-doc_id half (the OLD snapshot, the
    * [[pipeVocabDrift]] convention) full-outer-joined against the odd
    * half (NEW), rolled up into retained / removed / added content with
    * doc and token masses on both sides.
    *
    * Scale shape (100 TB): two content-hash aggregations (map-side
    * combined) + ONE hash-keyed full outer join carrying one row per
    * DISTINCT content — never doc-grain — then a 3-row rollup. */
  def pipeCrawlDelta(s: SparkSession, dir: String): DataFrame = {
    def half(even: Boolean) =
      Tables.spread(Tables.documents(s, dir))
        .filter(if (even) col("doc_id") % 2 === 0 else col("doc_id") % 2 === 1)
        .groupBy(TextOps.contentHash(col("text")).as("content_hash"))
        .agg(count(lit(1)).as("n_docs"),
             sum(size(split(col("text"), " ")).cast("long")).as("tok"))
    half(even = true).select(col("content_hash"),
        col("n_docs").as("docs_old"), col("tok").as("tok_old"))
      .join(half(even = false).select(col("content_hash"),
        col("n_docs").as("docs_new"), col("tok").as("tok_new")),
        Seq("content_hash"), "full_outer")
      .select(
        when(col("docs_old").isNotNull && col("docs_new").isNotNull,
          "retained")
          .when(col("docs_new").isNull, "removed")
          .otherwise("added").as("status"),
        coalesce(col("docs_old"), lit(0L)).as("docs_old"),
        coalesce(col("docs_new"), lit(0L)).as("docs_new"),
        coalesce(col("tok_old"), lit(0L)).as("tok_old"),
        coalesce(col("tok_new"), lit(0L)).as("tok_new"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_groups"),
           sum(col("docs_old")).as("docs_old"),
           sum(col("docs_new")).as("docs_new"),
           sum(col("tok_old")).as("tok_old"),
           sum(col("tok_new")).as("tok_new"))
  }

  /** Length-outlier screen — the robust per-source length filter every
    * curation recipe runs before the content rules (truncated or
    * concatenated crawl records show up as token-count outliers):
    * per source, the exact-percentile median token count, the median
    * absolute deviation (both exact interpolation — the
    * order-independent robust pair), and docs outside median ± 3·MAD
    * with the outlier share in permille. A zero-MAD source (constant
    * lengths) flags any deviation, not a divide error.
    *
    * Scale shape (100 TB): one narrow (source, n) projection feeds two
    * source-keyed percentile aggregates (array-form buffers) and a
    * source-keyed join — no global sort, no broadcast beyond the
    * |sources|-row med/mad dims. */
  def pipeLengthOutliers(s: SparkSession, dir: String): DataFrame = {
    val n = Tables.spread(Tables.documents(s, dir))
      .select(col("source"), size(split(col("text"), " "))
        .cast("long").as("n"))
    val med = n.groupBy(col("source"))
      .agg(expr("percentile(n, CAST(1 AS DOUBLE)/2)").as("med"))
    val mad = n.join(med, Seq("source"))
      .select(col("source"), abs(col("n") - col("med")).as("dev"))
      .groupBy(col("source"))
      .agg(expr("percentile(dev, CAST(1 AS DOUBLE)/2)").as("mad"))
    n.join(med, Seq("source")).join(mad, Seq("source"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           first(col("med")).as("med"), first(col("mad")).as("mad"),
           sum(when(abs(col("n") - col("med")) > lit(3.0) * col("mad"),
             1L).otherwise(0L)).as("n_outliers"))
      .withColumn("outlier_permille",
        expr("n_outliers * 1000 DIV n_docs"))
  }

  /** Temperature-scaled language sampling (the XLM-R/mBERT rule,
    * Conneau et al. 2020 §3.1: q_i ∝ s_i^τ at τ = 0.7) — the standard
    * multilingual rebalance that upsamples tail languages without
    * flattening the head. Per language: docs, exact token mass, the
    * raw share and the temperature share on the ppm grid, and the
    * upsample flag. Determinism: the raw share is an exact integer
    * ppm; the ONE transcendental (pow) is immediately recovered to an
    * integer micro-grid via CAST(round(·1e6)) on BOTH engines (the
    * epoch-decay rule), so the normalization below it is pure integer
    * arithmetic — no float sum order can differ.
    *
    * Scale shape (100 TB): one |langs|-group corpus rollup; both the
    * token total and the temperature normalizer are 1-row broadcasts
    * (PlanGuard-allowlisted scalars); everything past the rollup is
    * |langs|-sized. */
  def pipeMixtureTemperature(s: SparkSession, dir: String): DataFrame = {
    val perLang = Tables.spread(Tables.documents(s, dir))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           sum(size(split(col("text"), " ")).cast("long")).as("tok_mass"))
    val tot = perLang.agg(sum(col("tok_mass")).as("total_tok"))
    val shared = PlanCache.reuse(perLang.crossJoin(broadcast(tot))
      .withColumn("share_ppm",
        expr("CAST(CAST(tok_mass AS DECIMAL(38,0)) * 1000000" +
             " DIV total_tok AS BIGINT)"))
      .withColumn("am",
        expr("CAST(round(pow(CAST(share_ppm AS DOUBLE) / 1000000, 0.7)" +
             " * 1000000) AS BIGINT)")))
    val norm = shared.agg(sum(col("am")).as("sum_am"))
    shared.crossJoin(broadcast(norm))
      .withColumn("temp_ppm",
        expr("CAST(CAST(am AS DECIMAL(38,0)) * 1000000" +
             " DIV sum_am AS BIGINT)"))
      .withColumn("upsampled",
        (col("temp_ppm") > col("share_ppm")).cast("long"))
      .select(col("lang"), col("n_docs"), col("tok_mass"),
              col("share_ppm"), col("temp_ppm"), col("upsampled"))
  }

  /** DoReMi-style domain reweighting (Xie et al. 2023, public): turn
    * per-domain EXCESS LOSS under a trained proxy into a sampling-
    * weight table — the canonical curation step composing the two
    * halves already in the registry (the trained LR filter's held-out
    * scores and the temperature row's integer-grid normalization).
    * Per source: mean p̂ under the frozen LR weights; excess =
    * max(0, corpus mean − source mean) on the micro grid (the filter
    * score is a quality proxy, so LOW-scoring domains carry excess
    * loss and get UPWEIGHTED — DoReMi's multiplicative-weights
    * direction); domain mass m = n_docs·(10⁶ + excess) (the softmax-
    * free multiplicative update on the baseline doc-share, exact in
    * DECIMAL(38,0) ≡ HUGEINT); and the final weights by CUMULATIVE-
    * ROUNDING allocation — w_i = ⌊C_i·10⁶/Σm⌋ − ⌊C_{i−1}·10⁶/Σm⌋ over
    * the source-ordered prefix sums C_i, which telescopes to EXACTLY
    * 10⁶ ppm (the cent-conservation discipline of
    * `evt_attribution_linear`, spec-pinned).
    *
    * Scale shape (100 TB): one doc_id-keyed join of the reuse'd scored
    * frame onto the source map, one |sources|-group rollup; everything
    * past it is |sources|-sized — the totals are 1-row broadcasts
    * (PlanGuard-allowlisted) and the allocation window orders ≤
    * |domains| rows (domains are bounded — RefinedWeb §3 — so the
    * unpartitioned window is constant-size at any corpus). */
  def pipeDomainWeights(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = lrScoredFrom(s, dir)
      .join(Tables.documents(s, dir).select(col("doc_id"), col("source")),
            Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("p_micro")).as("p_mass"))
    val tot = per.agg(sum(col("n_docs")).as("n_total"),
                      sum(col("p_mass")).as("p_mass_total"))
    val scored = per.crossJoin(broadcast(tot))
      .withColumn("mean_p_micro", expr("p_mass DIV n_docs"))
      .withColumn("excess_micro",
        expr("greatest(CAST(0 AS BIGINT), " +
             "p_mass_total DIV n_total - p_mass DIV n_docs)"))
      .withColumn("m",
        expr("CAST(n_docs AS DECIMAL(38,0)) * (1000000 + excess_micro)"))
    val msum = scored.agg(sum(col("m")).as("m_sum"))
    val w = Window.orderBy(col("source"))
    scored.crossJoin(broadcast(msum))
      .withColumn("cum_m", sum(col("m")).over(w))
      .withColumn("weight_ppm",
        expr("CAST(cum_m * 1000000 DIV m_sum AS BIGINT) - " +
             "CAST((cum_m - m) * 1000000 DIV m_sum AS BIGINT)"))
      .select(col("source"), col("n_docs"), col("mean_p_micro"),
              col("excess_micro"), col("weight_ppm"))
  }

  /** Data-mixture rebalancing plan: given target language weights, the
    * largest corpus that honors the mixture is bounded by the scarcest
    * language (total_cap = min over langs of count/weight); each lang
    * then keeps weight*cap docs. Counts are a tiny aggregate and the cap
    * a 1-row broadcast — the plan costs one scan regardless of corpus
    * size; the downstream keep-step is [[pipeStratifiedSample]]'s
    * deterministic hash bucketing at rate keep_rate. */
  def pipeMixturePlan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val weights = Seq(("en", 0.4), ("de", 0.15), ("es", 0.15),
                      ("fr", 0.15), ("zh", 0.15)).toDF("lang", "target_w")
    val counts = Tables.documents(s, dir).groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"))
    val joined = counts.join(broadcast(weights), Seq("lang"))
    val cap = joined.agg(min(col("n_docs") / col("target_w")).as("total_cap"))
    joined.join(broadcast(cap))
      .select(col("lang"), col("n_docs"), col("target_w"),
        least(lit(1.0), col("target_w") * col("total_cap") / col("n_docs"))
          .as("keep_rate"),
        floor(col("target_w") * col("total_cap")).as("n_keep"))
  }

  /** UDTF path (SURVEY §2.10): top trigrams through the custom
    * [[graft.functions.ShingleGen]] Generator via `LATERAL VIEW` —
    * streams one row per shingle without materializing the per-doc
    * shingle array that the explode(builtin) form allocates. Same
    * downstream shape as [[docTopBigrams]]: map-side partial counts +
    * TakeOrdered. */
  def docUdtfTrigrams(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir).createOrReplaceTempView("docs_udtf")
    s.sql(
      """SELECT shingle AS trigram, COUNT(*) AS n
        |FROM docs_udtf LATERAL VIEW shingle_gen(text, 3) t AS shingle
        |GROUP BY shingle ORDER BY n DESC, trigram ASC LIMIT 20""".stripMargin)
  }

  /** Mixture-plan EXECUTION: apply [[pipeMixturePlan]]'s per-language
    * keep_rate with the seeded-md5 bucket sampler (same mechanism as
    * [[pipeStratifiedSample]] — no RNG, reproducible on any cluster
    * layout). The plan is a 5-row broadcast joined onto the corpus scan;
    * the audit compares realized keeps against the plan's n_keep.
    * Bucketing at 1e6 granularity keeps the realized rate within ~0.1%
    * of target at corpus scale. */
  def pipeMixtureApply(s: SparkSession, dir: String): DataFrame = {
    val plan = pipeMixturePlan(s, dir)
      .select(col("lang"), col("keep_rate"), col("n_keep"))
    val bucket = conv(substring(
      md5(concat(lit("mix|"), col("doc_id").cast("string"))), 1, 8), 16, 10)
      .cast("long") % 1000000
    Tables.documents(s, dir)
      .join(broadcast(plan), Seq("lang"))
      .withColumn("keep", bucket < col("keep_rate") * 1000000)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_total"),
           sum(when(col("keep"), 1L).otherwise(0L)).as("n_realized"),
           min(col("n_keep")).as("n_planned"))
  }

  /** Admission policy: the language codes this corpus accepts. Distinct
    * from TextOps.LangStopwords (the langId MODEL's coverage — it has no
    * zh stopword list): zh is a valid corpus language the gate must not
    * flag. */
  val KnownLangs: Seq[String] = Seq("en", "de", "es", "fr", "zh")

  /** Data-quality gate report: per-source constraint violations — null
    * or empty text, metadata/content length mismatch, unknown language
    * code (vs [[KnownLangs]], the admission policy). The validation pass
    * every ingest pipeline runs before admitting a source batch; one
    * scan, map-side conditional counts, no shuffle beyond the tiny
    * per-source rollup. */
  /** Blocklist terms for [[pipeBadwordsGate]] — the mechanism under
    * C4's "bad words" page drop (Raffel et al. 2020 §2.2 filter every
    * page containing any listed word). Fixture-vocabulary terms so the
    * gate exercises real hits; the patterns stay in the proven
    * (Java ∩ RE2) `\b`-bounded subset ([[graft.operators.Pii]]). */
  private[graft] val BadWords = Seq("slow", "merge", "window")

  /** C4-style blocklist page gate: a document is dropped if ANY
    * blocklist term appears as a whole word; per source the flagged
    * doc count, total term hits, and the EXACT token mass the gate
    * removes — the cost/benefit accounting a filter review needs
    * (C4's own gate removed a documented share of the corpus). Pure
    * per-row regexp counts (map work, no shuffle) into one rollup;
    * the blocklist ships as literals (at real scale: a broadcast
    * variable compiled into one alternation). */
  /** Per-doc blocklist stats over an arbitrary (doc_id, source, text)
    * frame — shared by the batch gate below and the STREAMING gate
    * ([[graft.streaming.StreamOps.badwordsGateBatch]]): stateless pure
    * map work, so streamed micro-batch outputs union to exactly one
    * batch pass. */
  private[graft] def badwordsDocStats(docs: DataFrame): DataFrame = {
    val nBad = BadWords
      .map(w => regexp_count(col("text"), lit(s"\\b$w\\b")).cast("long"))
      .reduce(_ + _)
    docs.withColumn("n_bad", nBad)
      .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
      .select(col("doc_id"), col("source"), col("n_bad"), col("n_tok"),
              (col("n_bad") > 0).as("flagged"))
  }

  def pipeBadwordsGate(s: SparkSession, dir: String): DataFrame = {
    badwordsDocStats(Tables.spread(Tables.documents(s, dir)))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("n_bad") > 0, 1L).otherwise(0L)).as("n_flagged"),
           sum(col("n_bad")).as("n_bad_hits"),
           sum(col("n_tok")).as("tokens_total"),
           sum(when(col("n_bad") > 0, col("n_tok")).otherwise(0L))
             .as("tokens_flagged"))
      .withColumn("removed_permille",
        expr("tokens_flagged * 1000 DIV tokens_total"))
  }

  def pipeQualityGates(s: SparkSession, dir: String): DataFrame = {
    val known = KnownLangs
    Tables.documents(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("text").isNull || length(col("text")) === 0, 1L)
                 .otherwise(0L)).as("n_empty_text"),
           sum(when(length(col("text")) =!= col("n_chars"), 1L)
                 .otherwise(0L)).as("n_len_mismatch"),
           sum(when(!col("lang").isin(known: _*), 1L).otherwise(0L))
             .as("n_unknown_lang"))
  }

  /** Count-min-sketch heavy hitters: the exact top-20 tokens by count
    * (deterministic tie-break on the token) with their CMS estimates
    * from a 4×256 sketch, plus the sketch's never-underestimates
    * guarantee as a projected boolean. Both sides replay the identical
    * seeded-md5 bucket family, so the estimates — not just a bound —
    * are hash-exact. The exact top-20 here is the fixture-side ground
    * truth; at 100 TB the CMS probe path serves frequency queries with
    * a depth×width-cell broadcast where the exact groupBy would shuffle
    * a row per distinct token (see [[graft.operators.Sketch]]).
    */
  def textHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    val (depth, width, k) = (4, 256, 20)
    val toks = PlanCache.reuse(
      Tables.spread(Tables.documents(s, dir))
        .select(explode(split(col("text"), " ")).as("tok"))
        .filter(length(col("tok")) > 0))
    val cells = Sketch.cmsBuild(toks, "tok", depth, width)
    val top = toks.groupBy(col("tok")).agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("tok")).limit(k)
    Sketch.cmsEstimate(cells, top, "tok", depth, width)
      .select(col("tok"), col("exact_n"), col("cms_n"),
              (col("cms_n") >= col("exact_n")).as("never_underestimates"))
  }

  /** Word-association mining: top-50 co-occurring token pairs by LIFT
    * — P(ab)/(P(a)·P(b)) — over doc-level presence, emitted as the
    * exact scaled integer `n_ab·N·1000 DIV (n_a·n_b)` so no float (or
    * log, as PMI would need) enters the compared columns. Shape: the
    * frequent-token set (support ≥ 25 docs) broadcasts into the
    * presence list, the doc-level self-join's fan-out is (frequent
    * tokens per doc)², and the pair aggregation map-combines — the
    * standard bounded co-occurrence mining plan; the support floor is
    * the fan-out knob at scale. Deterministic top-50: full (lift,
    * tok_a, tok_b) ordering. */
  def docAssocPairs(s: SparkSession, dir: String): DataFrame = {
    val dt = PlanCache.reuse(
      Tables.spread(Tables.documents(s, dir))
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .filter(length(col("tok")) > 0)
        .distinct())
    val nDocs = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
    val freq = dt.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 25)
    val ft = dt.join(broadcast(freq), "tok")
    val pairs = ft.select(col("doc_id"), col("tok").as("tok_a"),
                          col("df").as("n_a"))
      .join(ft.select(col("doc_id"), col("tok").as("tok_b"),
                      col("df").as("n_b")), "doc_id")
      .filter(col("tok_a") < col("tok_b"))
      .groupBy(col("tok_a"), col("tok_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("n_ab"))
    pairs.crossJoin(nDocs)
      .select(col("tok_a"), col("tok_b"), col("n_ab"), col("n_a"),
              col("n_b"),
              expr("n_ab * n_docs * 1000 DIV (n_a * n_b)").as("lift_milli"))
      .orderBy(col("lift_milli").desc, col("tok_a"), col("tok_b"))
      .limit(50)
  }

  /** EXACT-size stratified sample: exactly k=10 docs per language,
    * ranked by a seeded md5 of the key (no RNG — the same reproducible
    * sample on every engine, run, and cluster size; the rate-based
    * twin is [[pipeStratifiedSample]]). The per-stratum rank filter is
    * WindowGroupLimit-optimized: each partition keeps only its top-k
    * before the stratum shuffle, so heavy strata never materialize. */
  /** Weighted systematic (PPS) sampling: exactly m = 100 picks with
    * inclusion probability proportional to document token count — the
    * token-budget-proportional selection a mixture builder wants (long
    * documents carry more training signal per pick). A document is
    * picked once per multiple of W/m inside its cumulative-weight
    * interval `[ws, we)`; all threshold arithmetic is integer
    * (`(we·m−1) DIV W` differences), so the draw is reproducible on
    * any engine, run, or cluster size, and Σ n_picks = m exactly.
    *
    * The prefix sum is TWO-LEVEL — per-shard windows (32 deterministic
    * md5 shards) plus a 32-row offset ladder — because a global
    * `SUM OVER (ORDER BY …)` is a single-partition sort (round-1's
    * forbidden pattern). The oracle's global window over (shard, rk)
    * reproduces the identical total order. Caveat at extreme scale:
    * `we·m` must fit a long — move the product to DECIMAL(38,0) past
    * ~10¹⁸/m total weight. */
  def pipeWeightedSample(s: SparkSession, dir: String): DataFrame = {
    val m = 100
    // w > 0: a zero-weight doc is a zero-width [ws, ws) interval, but the
    // ws = 0 branch of the threshold CASE would still award the corpus's
    // very first doc a pick if its weight were 0 — drop weightless docs
    // before the prefix sum (PPS semantics: p ∝ w, so w = 0 ⇒ p = 0).
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"),
              TextOps.tokenCount(col("text")).cast("long").as("w"))
      .filter(col("w") > 0)
    val rk = conv(substring(
      md5(concat(lit("ws|"), col("doc_id").cast("string"))), 1, 15),
      16, 10).cast("long")
    val base = docs.withColumn("rk", rk)
      .withColumn("shard", (col("rk") % 32).cast("int"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("rk"), col("doc_id"))
    val local = base.withColumn("cum_in", sum(col("w")).over(win) - col("w"))
    val shardTot = base.groupBy(col("shard")).agg(sum(col("w")).as("st"))
    // 32-row ladder: the unpartitioned window is over #shards rows,
    // constant in corpus size
    val offWin = org.apache.spark.sql.expressions.Window
      .orderBy(col("shard"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offsets = shardTot
      .withColumn("off", coalesce(sum(col("st")).over(offWin), lit(0L)))
      .select(col("shard"), col("off"))
    val total = shardTot.agg(sum(col("st")).as("tw"))
    local.join(broadcast(offsets), Seq("shard"))
      .withColumn("ws", col("cum_in") + col("off"))
      .withColumn("we", col("ws") + col("w"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("w"),
        expr(s"(we * $m - 1) DIV tw - " +
             s"(CASE WHEN ws = 0 THEN -1 ELSE (ws * $m - 1) DIV tw END)")
          .as("n_picks"))
      .filter(col("n_picks") >= 1)
  }

  def pipeSampleExactK(s: SparkSession, dir: String): DataFrame = {
    val k = 10
    val h = conv(substring(
      md5(concat(lit("exk|"), col("doc_id").cast("string"))), 1, 15),
      16, 10).cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(h.asc, col("doc_id").asc)
    Tables.documents(s, dir)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("lang"), col("doc_id"), col("rk").cast("long").as("rk"))
  }

  /** This family's entries in [[graft.SparkEntry.sharedFrames]]:
    *  - the three bottom-level dedup sketches at the registry defaults
    *    (shingle set, MinHash signatures, SimHash sketch);
    *  - the Jaccard pair table (`dedup_jaccard_pairs`, `dedup_clusters`,
    *    `pipe_dedup_keep`, ...), the MinHash candidate pairs
    *    (`dedup_minhash_pairs`, `dedup_minhash_est`) and the SimHash
    *    pairs (`dedup_simhash_pairs`, `dedup_method_agreement`);
    *  - the n = 2..10 gram counts of both Gopher repetition rows, the BPE
    *    word-frequency frame (`text_bpe_merges`, `text_bpe_encode`), the
    *    winnowing fingerprints, the BM25 scores (`doc_bm25_topk`,
    *    `sim_rrf_fusion`), the char-entropy and segmental-TTR frames
    *    (their rows and `doc_quality_composite`), the trigram scorer
    *    (`text_trigram_backoff`, `pipe_ccnet_buckets`);
    *  - the LR weights, whose driver-batched training runs eagerly at
    *    construction, so it is timed here and not on the first
    *    `text_lr_*` row. */
  val shared: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "shingle_set"    -> ((s, dir) => Dedup.shingleSet(
      Tables.documents(s, dir), "doc_id", "text", ShingleN)),
    "minhash_sigs"   -> ((s, dir) => Dedup.minHashSignatures(
      Tables.documents(s, dir), "doc_id", "text", ShingleN, MinHashK)),
    "simhash"        -> ((s, dir) => Dedup.simHashSketch(
      Tables.documents(s, dir), "doc_id", "text")),
    "jaccard_pairs"  -> (dedupJaccardPairs _),
    "minhash_pairs"  -> (dedupMinHashPairs _),
    "simhash_pairs"  -> (dedupSimHashPairs _),
    "gopher_grams"   -> (gopherGramCounts _),
    "bpe_word_freq"  -> ((s, dir) => TextOps.bpeWordFreq(
      Tables.spread(Tables.documents(s, dir)), "text")),
    "winnow_fps"     -> (textWinnowing _),
    "bm25_scored"    -> (bm25Scored _),
    "char_entropy"   -> (textCharEntropy _),
    "ttr_segmental"  -> (textTtrSegmental _),
    "trigram_scored" -> (trigramScored _),
    "lr_weights"     -> (lrWeights _))

  val registry: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipe_sample_exact_k" -> (pipeSampleExactK _),
    "pipe_weighted_sample" -> (pipeWeightedSample _),
    "doc_assoc_pairs"     -> (docAssocPairs _),
    "text_heavy_hitters"  -> (textHeavyHitters _),
    "pipe_quality_gates"  -> (pipeQualityGates _),
    "pipe_badwords_gate"  -> (pipeBadwordsGate _),
    "pipe_mixture_apply"  -> (pipeMixtureApply _),
    "doc_udtf_trigrams"   -> (docUdtfTrigrams _),
    "pipe_pii_redact"     -> (pipeRedact _),
    "pipe_contamination"  -> (pipeContamination _),
    "pipe_mixture_plan"   -> (pipeMixturePlan _),
    "pipe_mixture_temperature" -> (pipeMixtureTemperature _),
    "pipe_domain_weights" -> (pipeDomainWeights _),
    "pipe_crawl_delta"    -> (pipeCrawlDelta _),
    "pipe_length_outliers" -> (pipeLengthOutliers _),
    "text_vocab_growth"   -> (textVocabGrowth _),
    "pipe_dedup_keep"     -> (pipeDedupKeep _),
    "doc_word_counts"     -> (docWordCounts _),
    "doc_tfidf_top_terms" -> (docTfIdfTopTerms _),
    "doc_bm25_topk"       -> (docBm25TopK _),
    "dedup_clusters"      -> (dedupClusters _),
    "pipe_clean_corpus"   -> (pipeCleanCorpus _),
    "text_stats"          -> (textStats _),
    "text_lang_id"        -> (textLangId _),
    "text_lang_confusion" -> (textLangConfusion _),
    "doc_dup_rate_by_source" -> (docDupRateBySource _),
    "text_fingerprint"    -> (textFingerprint _),
    "dedup_exact"         -> (dedupExact _),
    "dedup_exact_rows"    -> (dedupExactRows _),
    "dedup_minhash_pairs" -> (dedupMinHashPairs _),
    "dedup_minhash_est"   -> (dedupMinHashEstimate _),
    "doc_top_bigrams"     -> (docTopBigrams _),
    "doc_textrank_keywords" -> (docTextrankKeywords _),
    "text_regex_scan"     -> (textRegexScan _),
    "text_readability"    -> (textReadability _),
    "text_char_entropy"   -> (textCharEntropy _),
    "text_ttr_segmental"  -> (textTtrSegmental _),
    "doc_quality_composite" -> (docQualityComposite _),
    "pipe_stratified_sample" -> (pipeStratifiedSample _),
    "pipe_chunk_docs"     -> ((s: SparkSession, d: String) => pipeChunkDocs(s, d)),
    "pipe_pack_bins"      -> ((s: SparkSession, d: String) => pipePackBins(s, d)),
    "text_repetition"     -> (textRepetition _),
    "dedup_jaccard_pairs" -> (dedupJaccardPairs _),
    "dedup_simhash_pairs" -> (dedupSimHashPairs _),
    "dedup_containment_pairs" -> (dedupContainmentPairs _),
    "dedup_method_agreement" -> (dedupMethodAgreement _),
    "dedup_lsh_recall_curve" -> (dedupLshRecallCurve _),
    "text_lang_jsd"       -> (textLangJsd _),
    "dedup_prefix_pairs"  -> (dedupPrefixPairs _),
    "dedup_substring_spans" -> (dedupSubstringSpans _),
    "pipe_incr_dedup"     -> (pipeIncrDedup _),
    "text_bigram_coverage" -> (textBigramCoverage _),
    "text_unigram_nll"    -> (textUnigramNll _),
    "text_bigram_nll"     -> (textBigramNll _),
    "text_winnowing"      -> (textWinnowing _),
    "pipe_contamination_winnow" -> (pipeContaminationWinnow _),
    "pipe_contamination_ngram" -> (pipeContaminationNgram _),
    "pipe_gram_novelty"   -> (pipeGramNovelty _),
    "pipe_gram_provenance" -> (pipeGramProvenance _),
    "pipe_quality_dup_matrix" -> (pipeQualityDupMatrix _),
    "pipe_context_fit"    -> (pipeContextFit _),
    "text_nb_confusion"   -> (textNbConfusion _),
    "text_nb_f1"          -> (textNbF1 _),
    "text_nb_accuracy"    -> (textNbAccuracy _),
    "text_nb_calibration" -> (textNbCalibration _),
    "text_nb_gate"        -> (textNbGate _),
    "text_lr_train"       -> (textLrTrain _),
    "text_lr_gate"        -> (textLrGate _),
    "text_lr_calibration" -> (textLrCalibration _),
    "text_lr_auc"         -> (textLrAuc _),
    "text_lr_ece"         -> (textLrEce _),
    "text_lr_pr_curve"    -> (textLrPrCurve _),
    "pipe_dup_factor_hist" -> (pipeDupFactorHist _),
    "pipe_domain_overlap" -> (pipeDomainOverlap _),
    "text_wordpiece_fertility" -> (textWordpieceFertility _),
    "pipe_funnel_report"  -> (pipeFunnelReport _),
    "pipe_funnel_ablation" -> (pipeFunnelAblation _),
    "pipe_shard_assign"   -> (pipeShardAssign _),
    "text_zipf_fit"       -> (textZipfFit _),
    "pipe_leakage_split"  -> (pipeLeakageSplit _),
    "text_gopher_rules"   -> (textGopherRules _),
    "text_gopher_repetition" -> (textGopherRepetition _),
    "pipe_line_dedup"     -> (pipeLineDedup _),
    "pipe_para_dedup"     -> (pipeParaDedup _),
    "pipe_line_dedup_incr" -> (pipeLineDedupIncr _),
    "pipe_domain_line_dedup" -> (pipeDomainLineDedup _),
    "pipe_domain_quality" -> (pipeDomainQuality _),
    "pipe_domain_mixture" -> (pipeDomainMixture _),
    "pipe_epoch_decay"    -> (pipeEpochDecay _),
    "pipe_gate_kappa"     -> (pipeGateKappa _),
    "text_gopher_dupe_ngrams" -> (textGopherDupeNgrams _),
    "pipe_dsir_weights"   -> (pipeDsirWeights _),
    "pipe_dsir_select"    -> (pipeDsirSelect _),
    "pipe_vocab_drift"    -> (pipeVocabDrift _),
    "text_url_hosts"      -> (textUrlHosts _),
    "dedup_cluster_purity" -> (dedupClusterPurity _),
    "text_bpe_merges"     -> (textBpeMerges _),
    "text_bpe_encode"     -> (textBpeEncode _),
    "text_unigram_tokenizer" -> ((s: SparkSession, d: String) =>
      UnigramLM.train(Tables.documents(s, d), "text")),
    "text_unigram_encode" -> ((s: SparkSession, d: String) =>
      UnigramLM.encodeStats(Tables.documents(s, d), "doc_id", "text")),
    "text_wordpiece_encode" -> ((s: SparkSession, d: String) =>
      graft.operators.WordPiece.encodeStats(Tables.documents(s, d),
                                            "doc_id", "text")),
    "text_trigram_backoff" -> (textTrigramBackoff _),
    "pipe_ccnet_buckets"  -> (pipeCcnetBuckets _),
  )

  // ------------------------------------------------------------- oracles

  private val nTok = s"len($wordsSql)"
  private val avgWl = s"CAST(length(text) - ($nTok - 1) AS DOUBLE) / $nTok"
  private val stopCnt = sqlWordHits(TextOps.EnglishStopwords)

  /** Gopher flag projections (twin of [[TextOps.gopherFlags]]) — ONE
    * source for the per-flag report oracle and the funnel's composed
    * quality gate, so the two cannot drift. */
  private val gopherFlagsSelSql: String = {
    val stopd = s"len(list_filter(list_distinct($wordsSql), " +
      s"w_ -> list_contains(${sqlList(TextOps.EnglishStopwords)}, w_)))"
    val chars = s"(length(text) - ($nTok - 1))"
    s"""$chars >= 3 * $nTok AND $chars <= 10 * $nTok AS wl,
       |    $nTok >= 50 AS lo,
       |    $stopd >= 2 AS so,
       |    ($nTok - len(list_distinct($wordsSql))) * 5 <= $nTok * 2 AS ro""".stripMargin
  }

  /** MinHash layout constants — the SINGLE source for both the Spark call
    * (dedupMinHashPairs) and the generated oracle SQL below. */
  private val MinHashK = 12
  private val RowsPerBand = 3
  private val ShingleN = 3

  private def sigsSqlWhere(pred: String): String = {
    val mins = (1 to MinHashK).map(i =>
      s"min(CAST('0x' || substr(md5('$i|' || shingle), 1, 15) AS BIGINT)) AS h$i")
      .mkString(",\n")
    s"""SELECT doc_id, $mins
       |FROM (SELECT DISTINCT doc_id, unnest(${sqlShingles(ShingleN)}) AS shingle
       |      FROM documents WHERE $pred)
       |GROUP BY doc_id""".stripMargin
  }
  private val sigsSql: String = sigsSqlWhere("TRUE")

  /** Shared by dedup_jaccard_pairs and dedup_clusters (edge source). */
  private[queries] val jaccardPairsSql: String =
    s"""WITH docsh AS (
       |  SELECT DISTINCT doc_id, unnest(${sqlShingles(ShingleN)}) AS shingle
       |  FROM documents),
       |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM docsh GROUP BY 1),
       |sdf AS (SELECT shingle, COUNT(*) AS c FROM docsh GROUP BY 1),
       |filtered AS (
       |  SELECT doc_id, docsh.shingle FROM docsh
       |  JOIN sdf ON docsh.shingle = sdf.shingle WHERE sdf.c <= 1000),
       |common AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
       |  FROM filtered a JOIN filtered b ON a.shingle = b.shingle
       |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
       |SELECT doc_a, doc_b, n_common,
       |  CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) AS jaccard
       |FROM common
       |JOIN sizes sa ON sa.doc_id = doc_a
       |JOIN sizes sb ON sb.doc_id = doc_b
       |WHERE CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) >= 0.5""".stripMargin

  /** Directed containment twin of [[jaccardPairsSql]] (same shingle
    * index and stop-shingle cap; ordered pairs, divide by the contained
    * side's size only). */
  private val containmentPairsSql: String =
    s"""WITH docsh AS (
       |  SELECT DISTINCT doc_id, unnest(${sqlShingles(ShingleN)}) AS shingle
       |  FROM documents),
       |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM docsh GROUP BY 1),
       |sdf AS (SELECT shingle, COUNT(*) AS c FROM docsh GROUP BY 1),
       |filtered AS (
       |  SELECT doc_id, docsh.shingle FROM docsh
       |  JOIN sdf ON docsh.shingle = sdf.shingle WHERE sdf.c <= 1000),
       |common AS (
       |  SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
       |    COUNT(*) AS n_common
       |  FROM filtered a JOIN filtered b ON a.shingle = b.shingle
       |  WHERE a.doc_id <> b.doc_id GROUP BY 1, 2)
       |SELECT contained_id, container_id, n_common,
       |  CAST(n_common AS DOUBLE) / s.sz AS containment
       |FROM common JOIN sizes s ON s.doc_id = contained_id
       |WHERE CAST(n_common AS DOUBLE) / s.sz >= 0.8""".stripMargin

  private def bandsSqlFrom(src: String): String =
    (0 until MinHashK / RowsPerBand).map { b =>
      val cols = (1 to RowsPerBand)
        .map(r => s"CAST(h${b * RowsPerBand + r} AS VARCHAR)")
        .mkString(", ")
      s"SELECT doc_id, $b AS band, md5(concat_ws('|', $cols)) AS bucket FROM $src"
    }.mkString("\nUNION ALL\n")
  private val bandsSql: String = bandsSqlFrom("sigs")

  /** Shared mixture-plan CTE prefix (weights → counts → cap → plan) —
    * single source for pipe_mixture_plan and pipe_mixture_apply. */
  /** Shared CTE body for the char-diversity family, ending in
    * `entq(doc_id, n_chars, n_distinct, simpson_ppm, entropy_micro)` —
    * mirrors [[graft.operators.TextOps.charDiversity]]. */
  private val charEntropyCtes: String =
    s"""cc AS (
       |  SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS nc
       |  FROM (SELECT doc_id, unnest(string_split(text, '')) AS c
       |        FROM documents)
       |  WHERE len(c) > 0 GROUP BY 1, 2),
       |cd AS (SELECT doc_id, CAST(SUM(nc) AS BIGINT) AS n,
       |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
       |  CAST(SUM(nc * nc) AS BIGINT) AS s2,
       |  CAST(SUM(nc * CAST(round(log2(CAST(nc AS DOUBLE)) * 1000000)
       |    AS BIGINT)) AS BIGINT) AS slq
       |  FROM cc GROUP BY 1),
       |entq AS MATERIALIZED (
       |  SELECT doc_id, n AS n_chars, n_distinct,
       |    CAST(s2 * 1000000 // (n * n) AS BIGINT) AS simpson_ppm,
       |    CAST(round(log2(CAST(n AS DOUBLE)) * 1000000) AS BIGINT)
       |      - slq // n AS entropy_micro
       |  FROM cd)""".stripMargin

  /** Shared CTE body for the segmental-TTR family, ending in
    * `ttrq(doc_id, n_tokens, n_segs, mean_ttr_ppm, min_ttr_ppm)`. */
  private val ttrSegmentalCtes: String =
    s"""tk0 AS (SELECT doc_id, string_split(text, ' ') AS t
       |        FROM documents),
       |tk1 AS (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i
       |        FROM tk0),
       |tk AS (SELECT doc_id, (i - 1) // 16 AS seg, t[i] AS tok
       |       FROM tk1 WHERE len(t[i]) > 0),
       |sg AS (SELECT doc_id, seg, CAST(COUNT(*) AS BIGINT) AS n_toks,
       |         CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_types
       |       FROM tk GROUP BY 1, 2),
       |sts AS (SELECT doc_id, n_toks,
       |          n_types * 1000000 // n_toks AS ttr_ppm FROM sg),
       |ttrq AS MATERIALIZED (
       |  SELECT doc_id, CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
       |    CAST(COUNT(*) AS BIGINT) AS n_segs,
       |    CAST(SUM(ttr_ppm) // COUNT(*) AS BIGINT) AS mean_ttr_ppm,
       |    CAST(MIN(ttr_ppm) AS BIGINT) AS min_ttr_ppm
       |  FROM sts GROUP BY 1)""".stripMargin

  private val mixturePlanCte: String =
    s"""w(lang, target_w) AS (VALUES
       |  ('en', CAST(0.4 AS DOUBLE)), ('de', CAST(0.15 AS DOUBLE)),
       |  ('es', CAST(0.15 AS DOUBLE)), ('fr', CAST(0.15 AS DOUBLE)),
       |  ('zh', CAST(0.15 AS DOUBLE))),
       |c AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY 1),
       |j AS (SELECT c.lang, n_docs, target_w FROM c JOIN w ON c.lang = w.lang),
       |cap AS (SELECT MIN(CAST(n_docs AS DOUBLE) / target_w) AS total_cap
       |        FROM j)""".stripMargin

  /** Winnowing-fingerprint twin (shared by text_winnowing and
    * pipe_contamination_winnow): identical composite-BIGINT argmin —
    * h·2^20 + (2^20−1−pos), min per window, full windows = exactly 4
    * members. */
  private val winnowSql: String =
    s"""WITH base AS (SELECT doc_id, ${sqlShingles(3)} AS sh FROM documents),
       |grams AS MATERIALIZED (SELECT doc_id, CAST(i_ AS BIGINT) AS pos,
       |    CAST('0x' || substr(md5('win|' || sh[CAST(i_ AS INTEGER)]),
       |         1, 10) AS BIGINT) AS h
       |  FROM (SELECT doc_id, sh, unnest(range(1, len(sh) + 1)) AS i_
       |        FROM base)),
       |cand AS (SELECT doc_id, pos, h, pos + k AS q FROM grams
       |  CROSS JOIN (SELECT unnest(range(0, 4)) AS k)),
       |win AS (SELECT doc_id, q, COUNT(*) AS n,
       |    MIN(h * 1048576 + (1048575 - pos)) AS cm
       |  FROM cand GROUP BY 1, 2)
       |SELECT DISTINCT doc_id, CAST(1048575 - cm % 1048576 AS BIGINT) AS pos,
       |  CAST(cm // 1048576 AS BIGINT) AS gram_hash
       |FROM win WHERE n = 4""".stripMargin

  /** Shared 13-gram carrier chain, ending in `dg(doc_id, h)` (distinct
    * carriers) and `fst(h, first_doc)` (first-carrier map) — single-
    * sourced by the novelty and provenance oracles so the gram hash
    * idiom cannot drift between them. */
  private lazy val gram13Ctes: String =
    s"""g AS MATERIALIZED (
       |  SELECT doc_id,
       |    CAST('0x' || substr(md5('g13|' || gram), 1, 15) AS BIGINT) AS h
       |  FROM (SELECT doc_id, unnest(${sqlShingles(13)}) AS gram
       |        FROM documents)),
       |dg AS MATERIALIZED (SELECT DISTINCT doc_id, h FROM g),
       |fst AS MATERIALIZED (
       |  SELECT h, MIN(doc_id) AS first_doc FROM dg GROUP BY 1)""".stripMargin

  /** Recursive transitive closure over the jaccard pair graph (twin of
    * [[graft.operators.Graphs.ccStar]]), ending in
    * `clusters(doc_id, cluster_id)` — single-sourced by the
    * dedup_clusters, funnel, and cluster-purity oracles. Callers
    * prepend `WITH RECURSIVE`. */
  private lazy val clusterClosureCtes: String =
    s"""pairs AS MATERIALIZED (
       |  SELECT doc_a, doc_b FROM ($jaccardPairsSql) jp),
       |edges AS MATERIALIZED (SELECT doc_a AS s, doc_b AS d FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |nodes AS (SELECT DISTINCT s AS id FROM edges),
       |reach(id, r) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.d, reach.r FROM reach JOIN edges e ON e.s = reach.id),
       |clusters AS (SELECT id AS doc_id, MIN(r) AS cluster_id
       |             FROM reach GROUP BY id)""".stripMargin

  /** Shared CTE chain of the funnel family (twin of [[funnelFlags]]):
    * gopher flags + jaccard-cluster losers + 13-gram contamination,
    * single-sourced so the report and ablation oracles cannot drift;
    * `funnelJoinSql` is the shared per-doc flag join tail. */
  private lazy val funnelCtes: String =
    s"""WITH RECURSIVE
       |fb AS (SELECT doc_id,
       |    CAST($nTok AS BIGINT) AS n_tok,
       |    (wl AND lo AND so AND ro) AS q
       |  FROM (SELECT doc_id, text,
       |    $gopherFlagsSelSql
       |  FROM documents)),
       |$clusterClosureCtes,
       |losers AS (SELECT doc_id FROM clusters WHERE doc_id <> cluster_id),
       |g AS MATERIALIZED (
       |  SELECT doc_id,
       |    CAST('0x' || substr(md5('g13|' || gram), 1, 15) AS BIGINT) AS h
       |  FROM (SELECT doc_id, unnest(${sqlShingles(13)}) AS gram
       |        FROM documents)),
       |bench AS (SELECT DISTINCT h FROM g WHERE doc_id % 10 = 0),
       |contam AS (SELECT DISTINCT doc_id FROM g
       |           WHERE doc_id % 10 <> 0 AND h IN (SELECT h FROM bench))"""
      .stripMargin

  /** Shared CTE chain of the DSIR family (twin of [[pipeDsirWeights]]):
    * hashed-unigram bucket log-ratios ending in
    * `dsw(doc_id, lang, n_tokens, avg_logratio)` — single source for
    * the weights and selection oracles. `tok`/`hist` MATERIALIZED
    * (multiply referenced — round-7 inlining gotcha); `dsw`
    * MATERIALIZED for the selection oracle (threshold + rollup both
    * read it). */
  private lazy val dsirCtes: String =
    s"""tok AS MATERIALIZED (SELECT doc_id, lang,
       |    CAST('0x' || substr(md5('dsir|' || w), 1, 4) AS BIGINT) % 64 AS bkt
       |  FROM (SELECT doc_id, lang, unnest($wordsSql) AS w FROM documents)),
       |hist AS MATERIALIZED (SELECT bkt, CAST(COUNT(*) AS BIGINT) AS cr,
       |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ct
       |  FROM tok GROUP BY 1),
       |lp AS (SELECT bkt,
       |    CAST(round(ln(CAST(ct + 1 AS DOUBLE)) * 1000000) AS BIGINT)
       |  - CAST(round(ln(CAST(cr + 1 AS DOUBLE)) * 1000000) AS BIGINT) AS diff6
       |  FROM hist),
       |tot AS (SELECT
       |    CAST(round(ln(CAST(SUM(cr) + 64 AS DOUBLE)) * 1000000) AS BIGINT)
       |  - CAST(round(ln(CAST(SUM(ct) + 64 AS DOUBLE)) * 1000000) AS BIGINT) AS c6
       |  FROM hist),
       |d AS (SELECT doc_id, lang, COUNT(*) AS n_tokens,
       |        CAST(SUM(diff6) AS BIGINT) AS s6
       |      FROM tok JOIN lp USING (bkt) GROUP BY 1, 2),
       |dsw AS MATERIALIZED (SELECT doc_id, lang, n_tokens,
       |  round((CAST(s6 AS DOUBLE) / 1000000.0) / n_tokens
       |        + CAST(c6 AS DOUBLE) / 1000000.0, 6) AS avg_logratio
       |FROM d, tot)""".stripMargin

  private val funnelJoinSql: String =
    """FROM fb
      |LEFT JOIN (SELECT doc_id, 1 AS L FROM losers) lo USING (doc_id)
      |LEFT JOIN (SELECT doc_id, 1 AS C FROM contam) ct USING (doc_id)"""
      .stripMargin

  /** Unrolled oracle twin of [[graft.operators.LogReg]]: featurization,
    * then [[graft.operators.LogReg.Steps]] chained (z → r → g → w)
    * CTE layers replaying the integer GD recurrence exactly (every
    * multiply-referenced CTE MATERIALIZED — round-7 discipline; the
    * chain length 4·Steps+4 is far under the binder budget). Ends with
    * the trained `lrw<Steps>` plus the held-out scored frame `lrsc`. */
  private lazy val lrCtes: String = {
    import graft.operators.LogReg.{Buckets => B, Steps, Shift, UpdK}
    def phat(z: String) =
      s"""GREATEST(CAST(0 AS BIGINT), LEAST(CAST(1000000 AS BIGINT),
         |      500000 + (($z + $Shift) // 4 - ${Shift / 4})))""".stripMargin
    def featSel(pred: String) =
      s"""SELECT DISTINCT doc_id, y,
         |    CAST('0x' || substr(md5('lr|' || g), 1, 4) AS BIGINT) % $B
         |      AS bkt
         |  FROM (SELECT doc_id, y, unnest(${sqlShingles(2)}) AS g
         |        FROM lrd WHERE $pred)
         |  UNION ALL
         |  SELECT doc_id, y, CAST($B AS BIGINT) AS bkt
         |  FROM lrd WHERE $pred""".stripMargin
    val base =
      s"""lrd AS MATERIALIZED (
         |  SELECT doc_id,
         |    CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS y,
         |    text FROM documents),
         |lrf AS MATERIALIZED (
         |  ${featSel("doc_id % 2 = 0")}),
         |lrn AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n
         |        FROM lrf),
         |lrw0 AS (SELECT CAST(unnest(range(0, ${B + 1})) AS BIGINT) AS bkt,
         |         CAST(0 AS BIGINT) AS w)""".stripMargin
    val steps = (1 to Steps).map { t =>
      s"""lrz$t AS (SELECT f.doc_id, ANY_VALUE(f.y) AS y,
         |    CAST(SUM(w.w) AS BIGINT) AS z
         |  FROM lrf f JOIN lrw${t - 1} w USING (bkt) GROUP BY 1),
         |lrr$t AS (SELECT doc_id,
         |    ${phat("z")} - y * 1000000 AS r FROM lrz$t),
         |lrg$t AS (SELECT f.bkt, CAST(SUM(r.r) AS BIGINT) AS g
         |  FROM lrf f JOIN lrr$t r USING (doc_id) GROUP BY 1),
         |lrw$t AS MATERIALIZED (
         |  SELECT w.bkt,
         |    w.w - ((COALESCE(g.g, 0) + 4 * n * $UpdK) // (4 * n) - $UpdK)
         |      AS w
         |  FROM lrw${t - 1} w LEFT JOIN lrg$t g USING (bkt)
         |  CROSS JOIN lrn)""".stripMargin
    }
    val serve =
      s"""lsf AS MATERIALIZED (
         |  ${featSel("doc_id % 2 <> 0")}),
         |lsz AS (SELECT f.doc_id, ANY_VALUE(f.y) AS y,
         |    CAST(SUM(w.w) AS BIGINT) AS z
         |  FROM lsf f JOIN lrw$Steps w USING (bkt) GROUP BY 1),
         |lrsc AS (SELECT doc_id, y, ${phat("z")} AS p FROM lsz)"""
        .stripMargin
    (base +: steps :+ serve).mkString(",\n")
  }

  val oracles: Map[String, String] = Map(
    "pipe_sample_exact_k" ->
      s"""SELECT lang, doc_id, CAST(rk AS BIGINT) AS rk FROM (
         |  SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
         |    ORDER BY CAST('0x' || substr(md5('exk|' ||
         |      CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) ASC,
         |      doc_id ASC) AS rk
         |  FROM documents)
         |WHERE rk <= 10""".stripMargin,
    "pipe_weighted_sample" ->
      s"""WITH docs AS (SELECT * FROM (SELECT doc_id,
         |    CAST($nTok AS BIGINT) AS w FROM documents) WHERE w > 0),
         |b2 AS (SELECT doc_id, w,
         |  CAST('0x' || substr(md5('ws|' || CAST(doc_id AS VARCHAR)),
         |    1, 15) AS BIGINT) AS rk FROM docs),
         |b3 AS (SELECT doc_id, w, rk, rk % 32 AS shard FROM b2),
         |cum AS (SELECT doc_id, w,
         |  CAST(SUM(w) OVER (ORDER BY shard, rk, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - w
         |    AS BIGINT) AS ws FROM b3),
         |tot AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM docs),
         |sel AS (SELECT doc_id, w, ws, ws + w AS we FROM cum)
         |SELECT doc_id, w,
         |  CAST((we * 100 - 1) // tw -
         |    (CASE WHEN ws = 0 THEN -1 ELSE (ws * 100 - 1) // tw END)
         |    AS BIGINT) AS n_picks
         |FROM sel CROSS JOIN tot
         |WHERE (we * 100 - 1) // tw -
         |  (CASE WHEN ws = 0 THEN -1 ELSE (ws * 100 - 1) // tw END)
         |  >= 1""".stripMargin,
    "doc_assoc_pairs" ->
      s"""WITH dt AS (
         |  SELECT DISTINCT doc_id, tok
         |  FROM (SELECT doc_id, unnest($wordsSql) AS tok FROM documents)
         |  WHERE len(tok) > 0),
         |freq AS (SELECT tok, COUNT(*) AS df FROM dt GROUP BY 1
         |         HAVING COUNT(*) >= 25),
         |ft AS (SELECT dt.doc_id, dt.tok, f.df
         |       FROM dt JOIN freq f ON dt.tok = f.tok),
         |nn AS (SELECT COUNT(*) AS n_docs FROM documents),
         |pairs AS (
         |  SELECT a.tok AS tok_a, b.tok AS tok_b, a.df AS n_a,
         |         b.df AS n_b, COUNT(*) AS n_ab
         |  FROM ft a JOIN ft b
         |    ON a.doc_id = b.doc_id AND a.tok < b.tok
         |  GROUP BY 1, 2, 3, 4)
         |SELECT tok_a, tok_b, n_ab, n_a, n_b,
         |  n_ab * nn.n_docs * 1000 // (n_a * n_b) AS lift_milli
         |FROM pairs CROSS JOIN nn
         |ORDER BY lift_milli DESC, tok_a, tok_b LIMIT 50""".stripMargin,
    "text_heavy_hitters" -> {
      // the same seeded-md5 bucket family as Sketch.cmsBucket
      val bucket = "CAST('0x' || substr(md5(CAST(r AS VARCHAR) || '|' || tok)," +
        " 1, 8) AS BIGINT) % 256"
      s"""WITH toks AS (
         |  SELECT tok FROM (SELECT unnest($wordsSql) AS tok FROM documents)
         |  WHERE len(tok) > 0),
         |rs AS (SELECT unnest([0, 1, 2, 3]) AS r),
         |cells AS (
         |  SELECT r, $bucket AS bucket, COUNT(*) AS cell_n
         |  FROM toks CROSS JOIN rs GROUP BY 1, 2),
         |top AS (
         |  SELECT tok, COUNT(*) AS exact_n FROM toks GROUP BY 1
         |  ORDER BY exact_n DESC, tok LIMIT 20),
         |probes AS (
         |  SELECT tok, exact_n, r, $bucket AS bucket
         |  FROM top CROSS JOIN rs)
         |SELECT p.tok, p.exact_n, MIN(c.cell_n) AS cms_n,
         |  MIN(c.cell_n) >= p.exact_n AS never_underestimates
         |FROM probes p JOIN cells c ON p.r = c.r AND p.bucket = c.bucket
         |GROUP BY p.tok, p.exact_n""".stripMargin
    },
    "pipe_quality_gates" -> {
      val known = KnownLangs.map(l => s"'$l'").mkString(", ")
      s"""SELECT source, COUNT(*) AS n_docs,
         |CAST(SUM(CASE WHEN text IS NULL OR length(text) = 0
         |  THEN 1 ELSE 0 END) AS BIGINT) AS n_empty_text,
         |CAST(SUM(CASE WHEN length(text) != n_chars
         |  THEN 1 ELSE 0 END) AS BIGINT) AS n_len_mismatch,
         |CAST(SUM(CASE WHEN lang NOT IN ($known)
         |  THEN 1 ELSE 0 END) AS BIGINT) AS n_unknown_lang
         |FROM documents GROUP BY source""".stripMargin
    },
    "pipe_badwords_gate" -> {
      val nBad = BadWords
        .map(w => s"len(regexp_extract_all(text, '\\b$w\\b'))")
        .mkString(" + ")
      s"""WITH b AS (SELECT source, CAST($nBad AS BIGINT) AS n_bad,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
         |  FROM documents)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN n_bad > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_flagged,
         |  CAST(SUM(n_bad) AS BIGINT) AS n_bad_hits,
         |  CAST(SUM(n_tok) AS BIGINT) AS tokens_total,
         |  CAST(SUM(CASE WHEN n_bad > 0 THEN n_tok ELSE 0 END) AS BIGINT)
         |    AS tokens_flagged,
         |  CAST(SUM(CASE WHEN n_bad > 0 THEN n_tok ELSE 0 END) * 1000
         |    // SUM(n_tok) AS BIGINT) AS removed_permille
         |FROM b GROUP BY 1""".stripMargin
    },
    "pipe_mixture_apply" -> {
      val bucket = "CAST('0x' || substr(md5('mix|' || CAST(doc_id AS VARCHAR))," +
        " 1, 8) AS BIGINT) % 1000000"
      s"""WITH $mixturePlanCte,
         |plan AS (
         |  SELECT lang,
         |    least(1.0, target_w * total_cap / CAST(n_docs AS DOUBLE))
         |      AS keep_rate,
         |    CAST(floor(target_w * total_cap) AS BIGINT) AS n_keep
         |  FROM j CROSS JOIN cap)
         |SELECT d.lang, COUNT(*) AS n_total,
         |CAST(SUM(CASE WHEN $bucket < keep_rate * 1000000 THEN 1 ELSE 0 END)
         |  AS BIGINT) AS n_realized,
         |MIN(n_keep) AS n_planned
         |FROM documents d JOIN plan ON d.lang = plan.lang
         |GROUP BY d.lang""".stripMargin
    },
    "doc_udtf_trigrams" ->
      s"""SELECT s5 AS trigram, COUNT(*) AS n
         |FROM (SELECT unnest(${sqlShingles(3)}) AS s5 FROM documents)
         |GROUP BY s5 ORDER BY n DESC, trigram ASC LIMIT 20""".stripMargin,
    "pipe_pii_redact" ->
      s"""SELECT doc_id,
         |CAST(len(regexp_extract_all(text, '\\b(customer|user)\\b'))
         |  AS INTEGER) AS n_redacted,
         |md5(regexp_replace(text, '\\b(customer|user)\\b', '[PII]', 'g'))
         |  AS redacted_hash,
         |CAST(length(regexp_replace(text, '\\b(customer|user)\\b', '[PII]', 'g'))
         |  AS INTEGER) AS redacted_len
         |FROM documents""".stripMargin,
    "pipe_contamination" ->
      s"""WITH sh AS (
         |  SELECT doc_id, unnest(${sqlShingles(5)}) AS s5 FROM documents),
         |bench AS (SELECT DISTINCT s5 FROM sh WHERE doc_id % 10 = 0),
         |hits AS (
         |  SELECT doc_id, COUNT(*) AS n_hits FROM sh
         |  WHERE doc_id % 10 != 0 AND s5 IN (SELECT s5 FROM bench)
         |  GROUP BY 1),
         |totals AS (
         |  SELECT doc_id, COUNT(*) AS n_shingles FROM sh
         |  WHERE doc_id % 10 != 0 GROUP BY 1),
         |per_doc AS (
         |  SELECT d.doc_id, d.source,
         |    COALESCE(CAST(h.n_hits AS DOUBLE) / t.n_shingles, 0.0) AS share
         |  FROM documents d
         |  LEFT JOIN totals t ON d.doc_id = t.doc_id
         |  LEFT JOIN hits h ON d.doc_id = h.doc_id
         |  WHERE d.doc_id % 10 != 0)
         |SELECT source, COUNT(*) AS n_docs,
         |CAST(SUM(CASE WHEN share > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |  AS n_contaminated,
         |MAX(share) AS max_share
         |FROM per_doc GROUP BY source""".stripMargin,
    "pipe_mixture_plan" ->
      s"""WITH $mixturePlanCte
         |SELECT lang, n_docs, target_w,
         |least(1.0, target_w * total_cap / CAST(n_docs AS DOUBLE)) AS keep_rate,
         |CAST(floor(target_w * total_cap) AS BIGINT) AS n_keep
         |FROM j CROSS JOIN cap""".stripMargin,
    "text_vocab_growth" -> {
      val qs = Seq("CAST(1 AS DOUBLE)/4", "CAST(1 AS DOUBLE)/2",
                   "CAST(3 AS DOUBLE)/4", "CAST(1 AS DOUBLE)")
      val cutCols = qs.zipWithIndex.map { case (q, i) =>
        s"percentile_cont($q) WITHIN GROUP (ORDER BY doc_id) AS q${i + 1}"
      }.mkString(",\n    ")
      val tCols = (1 to 4).map(i =>
        s"""SUM(CASE WHEN doc_id <= q$i THEN 1 ELSE 0 END) AS d$i,
           |    SUM(CASE WHEN doc_id <= q$i THEN n ELSE 0 END) AS t$i"""
          .stripMargin).mkString(",\n    ")
      val vCols = (1 to 4).map(i =>
        s"SUM(CASE WHEN first_doc <= q$i THEN 1 ELSE 0 END) AS v$i")
        .mkString(",\n    ")
      val rows = (1 to 4).map(i =>
        s"""SELECT CAST($i AS BIGINT) AS quarter,
           |  CAST(d$i AS BIGINT) AS docs_cum,
           |  CAST(t$i AS BIGINT) AS tokens_cum,
           |  CAST(v$i AS BIGINT) AS vocab_cum
           |FROM ta CROSS JOIN va""".stripMargin).mkString("\nUNION ALL\n")
      s"""WITH toks AS MATERIALIZED (
         |  SELECT doc_id, CAST($nTok AS BIGINT) AS n FROM documents),
         |cut AS MATERIALIZED (SELECT
         |    $cutCols
         |  FROM toks),
         |fw AS MATERIALIZED (SELECT w, MIN(doc_id) AS first_doc
         |  FROM (SELECT doc_id, unnest($wordsSql) AS w FROM documents)
         |  GROUP BY 1),
         |ta AS MATERIALIZED (SELECT
         |    $tCols
         |  FROM toks CROSS JOIN cut),
         |va AS MATERIALIZED (SELECT
         |    $vCols
         |  FROM fw CROSS JOIN cut)
         |$rows""".stripMargin
    },
    "pipe_crawl_delta" ->
      s"""WITH oldh AS (SELECT md5(text) AS ch,
         |    CAST(COUNT(*) AS BIGINT) AS docs_old,
         |    CAST(SUM($nTok) AS BIGINT) AS tok_old
         |  FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
         |newh AS (SELECT md5(text) AS ch,
         |    CAST(COUNT(*) AS BIGINT) AS docs_new,
         |    CAST(SUM($nTok) AS BIGINT) AS tok_new
         |  FROM documents WHERE doc_id % 2 = 1 GROUP BY 1),
         |j AS (SELECT
         |    CASE WHEN docs_old IS NOT NULL AND docs_new IS NOT NULL
         |      THEN 'retained'
         |      WHEN docs_new IS NULL THEN 'removed'
         |      ELSE 'added' END AS status,
         |    COALESCE(docs_old, 0) AS docs_old,
         |    COALESCE(docs_new, 0) AS docs_new,
         |    COALESCE(tok_old, 0) AS tok_old,
         |    COALESCE(tok_new, 0) AS tok_new
         |  FROM oldh FULL OUTER JOIN newh USING (ch))
         |SELECT status, CAST(COUNT(*) AS BIGINT) AS n_groups,
         |  CAST(SUM(docs_old) AS BIGINT) AS docs_old,
         |  CAST(SUM(docs_new) AS BIGINT) AS docs_new,
         |  CAST(SUM(tok_old) AS BIGINT) AS tok_old,
         |  CAST(SUM(tok_new) AS BIGINT) AS tok_new
         |FROM j GROUP BY 1""".stripMargin,
    "pipe_length_outliers" ->
      s"""WITH n AS (SELECT source, CAST($nTok AS BIGINT) AS n
         |           FROM documents),
         |med AS (SELECT source,
         |    percentile_cont(CAST(1 AS DOUBLE)/2)
         |      WITHIN GROUP (ORDER BY n) AS med
         |  FROM n GROUP BY 1),
         |mad AS (SELECT n.source,
         |    percentile_cont(CAST(1 AS DOUBLE)/2)
         |      WITHIN GROUP (ORDER BY abs(n.n - med.med)) AS mad
         |  FROM n JOIN med USING (source) GROUP BY 1)
         |SELECT n.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  ANY_VALUE(med.med) AS med, ANY_VALUE(mad.mad) AS mad,
         |  CAST(SUM(CASE WHEN abs(n.n - med.med) > 3.0 * mad.mad
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
         |  CAST(SUM(CASE WHEN abs(n.n - med.med) > 3.0 * mad.mad
         |    THEN 1 ELSE 0 END) * 1000 // COUNT(*) AS BIGINT)
         |    AS outlier_permille
         |FROM n JOIN med USING (source) JOIN mad ON mad.source = n.source
         |GROUP BY 1""".stripMargin,
    // temperature sampling: the one pow() is recovered to an integer
    // micro-grid via CAST(round(·1e6)) BEFORE normalization, so the
    // normalizer sum is exact integer arithmetic on both engines
    "pipe_mixture_temperature" ->
      s"""WITH pl AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM($nTok) AS BIGINT) AS tok_mass
         |  FROM documents GROUP BY 1),
         |tot AS (SELECT SUM(tok_mass) AS total_tok FROM pl),
         |sh AS MATERIALIZED (SELECT lang, n_docs, tok_mass,
         |    CAST(CAST(tok_mass AS HUGEINT) * 1000000 // total_tok
         |         AS BIGINT) AS share_ppm,
         |    CAST(round(pow(CAST(CAST(tok_mass AS HUGEINT) * 1000000
         |           // total_tok AS BIGINT) / 1000000.0, 0.7) * 1000000)
         |         AS BIGINT) AS am
         |  FROM pl CROSS JOIN tot),
         |nr AS (SELECT SUM(am) AS sum_am FROM sh)
         |SELECT lang, n_docs, tok_mass, share_ppm,
         |  CAST(CAST(am AS HUGEINT) * 1000000 // sum_am AS BIGINT)
         |    AS temp_ppm,
         |  CAST(CASE WHEN CAST(am AS HUGEINT) * 1000000 // sum_am
         |         > share_ppm THEN 1 ELSE 0 END AS BIGINT) AS upsampled
         |FROM sh CROSS JOIN nr""".stripMargin,
    // the full trained-LR chain replays, then the DoReMi rollup: mean
    // held-out p̂ per source, nonnegative excess vs the corpus point,
    // multiplicative-weights mass, cumulative-rounding ppm allocation
    "pipe_domain_weights" ->
      s"""WITH $lrCtes,
         |dwp AS (SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(s.p) AS BIGINT) AS p_mass
         |  FROM lrsc s JOIN documents d USING (doc_id) GROUP BY 1),
         |dwt AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total,
         |    CAST(SUM(p_mass) AS BIGINT) AS p_mass_total FROM dwp),
         |dws AS (SELECT source, n_docs,
         |    p_mass // n_docs AS mean_p_micro,
         |    GREATEST(0, p_mass_total // n_total - p_mass // n_docs)
         |      AS excess_micro,
         |    CAST(n_docs AS HUGEINT) *
         |      (1000000 + GREATEST(0,
         |         p_mass_total // n_total - p_mass // n_docs)) AS m
         |  FROM dwp CROSS JOIN dwt),
         |dwm AS (SELECT SUM(m) AS m_sum FROM dws),
         |dwc AS (SELECT source, n_docs, mean_p_micro, excess_micro, m,
         |    SUM(m) OVER (ORDER BY source) AS cum_m FROM dws)
         |SELECT source, n_docs,
         |  CAST(mean_p_micro AS BIGINT) AS mean_p_micro,
         |  CAST(excess_micro AS BIGINT) AS excess_micro,
         |  CAST(cum_m * 1000000 // m_sum
         |       - (cum_m - m) * 1000000 // m_sum AS BIGINT) AS weight_ppm
         |FROM dwc CROSS JOIN dwm""".stripMargin,
    "pipe_clean_corpus" -> {
      val scores = TextOps.LangStopwords.map { case (lang, words) =>
        lang -> sqlWordHits(words)
      }
      val best = s"greatest(${scores.map(_._2).mkString(", ")})"
      val langCase = "CASE " + scores.map { case (lang, sc) =>
        s"WHEN $sc = $best AND $sc > 0 THEN '$lang'"
      }.mkString("\n") + " ELSE 'und' END"
      val quality =
        s"""0.4 * (CAST($stopCnt AS DOUBLE) / $nTok)
           | + 0.4 * least(1.0, CAST($nTok AS DOUBLE) / 50.0)
           | + 0.2 * greatest(0.0, 1.0 - abs(($avgWl) - 5.5) / 5.5)""".stripMargin
      s"""SELECT doc_id, label, n_tokens, quality_score, lang_pred, is_dup
         |FROM (
         |  SELECT d.doc_id, e.label, $nTok AS n_tokens,
         |    $quality AS quality_score,
         |    $langCase AS lang_pred,
         |    COUNT(*) OVER (PARTITION BY md5(text)) > 1 AS is_dup
         |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id)
         |WHERE quality_score >= 0.3""".stripMargin
    },
    "text_stats" ->
      s"""SELECT doc_id, $nTok AS n_tokens,
         |len(regexp_extract_all(text, '${TextOps.SubTokenPattern}')) AS n_subtokens,
         |$avgWl AS avg_word_len,
         |$stopCnt AS n_stopwords,
         |0.4 * (CAST($stopCnt AS DOUBLE) / $nTok)
         | + 0.4 * least(1.0, CAST($nTok AS DOUBLE) / 50.0)
         | + 0.2 * greatest(0.0, 1.0 - abs(($avgWl) - 5.5) / 5.5) AS quality_score
         |FROM documents""".stripMargin,
    "text_lang_id" -> {
      val scores = TextOps.LangStopwords.map { case (lang, words) =>
        lang -> sqlWordHits(words)
      }
      val best = s"greatest(${scores.map(_._2).mkString(", ")})"
      val cases = scores.map { case (lang, sc) =>
        s"WHEN $sc = best_ AND $sc > 0 THEN '$lang'"
      }.mkString("\n")
      s"""SELECT doc_id, lang,
         |CASE $cases ELSE 'und' END AS lang_pred
         |FROM (SELECT doc_id, lang, text, $best AS best_ FROM documents)""".stripMargin
    },
    "doc_dup_rate_by_source" ->
      s"""SELECT source, COUNT(*) AS n_docs,
         |CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
         |  AS n_dup_docs,
         |CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS DOUBLE)
         |  / COUNT(*) AS dup_rate
         |FROM (SELECT source,
         |        COUNT(*) OVER (PARTITION BY md5(text)) > 1 AS is_dup
         |      FROM documents)
         |GROUP BY source""".stripMargin,
    "text_lang_confusion" -> {
      val scores = TextOps.LangStopwords.map { case (lang, words) =>
        lang -> sqlWordHits(words)
      }
      val best = s"greatest(${scores.map(_._2).mkString(", ")})"
      val cases = scores.map { case (lang, sc) =>
        s"WHEN $sc = best_ AND $sc > 0 THEN '$lang'"
      }.mkString("\n")
      s"""WITH preds AS (
         |  SELECT lang, CASE $cases ELSE 'und' END AS lang_pred
         |  FROM (SELECT lang, text, $best AS best_ FROM documents)),
         |counts AS (
         |  SELECT lang, lang_pred, COUNT(*) AS n_docs
         |  FROM preds GROUP BY 1, 2)
         |SELECT lang, lang_pred, n_docs,
         |  CAST(n_docs AS DOUBLE) /
         |    SUM(n_docs) OVER (PARTITION BY lang) AS row_share
         |FROM counts""".stripMargin
    },
    "text_fingerprint" ->
      s"""SELECT doc_id, md5(text) AS content_hash,
         |list_aggregate(list_transform(${sqlShingles(3)}, s_ -> md5(s_)), 'min')
         |  AS min_shingle_hash,
         |$simHashSql AS simhash
         |FROM documents""".stripMargin,
    "dedup_exact" ->
      s"""SELECT md5(text) AS content_hash, COUNT(*) AS n_docs,
         |MIN(doc_id) AS keeper_id FROM documents GROUP BY 1""".stripMargin,
    "dedup_exact_rows" ->
      s"""SELECT COUNT(*) AS n_rows,
         |COUNT(DISTINCT (user_id, event_type, value)) AS n_distinct
         |FROM events""".stripMargin,
    "dedup_minhash_pairs" ->
      s"""WITH sigs AS ($sigsSql),
         |bands AS ($bandsSql)
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
         |WHERE a.doc_id < b.doc_id""".stripMargin,
    "dedup_minhash_est" -> {
      val matches = (1 to MinHashK)
        .map(i => s"CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH sigs AS ($sigsSql),
         |bands AS ($bandsSql),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
         |  WHERE a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b,
         |  CAST($matches AS BIGINT) AS n_match,
         |  CAST($matches AS DOUBLE) / $MinHashK.0 AS est_jaccard
         |FROM cand
         |JOIN sigs sa ON sa.doc_id = doc_a
         |JOIN sigs sb ON sb.doc_id = doc_b""".stripMargin
    },
    "doc_top_bigrams" ->
      s"""SELECT bigram, COUNT(*) AS n
         |FROM (SELECT unnest(${sqlShingles(2)}) AS bigram FROM documents)
         |GROUP BY bigram
         |ORDER BY n DESC, bigram ASC LIMIT 20""".stripMargin,
    "doc_textrank_keywords" -> {
      // word co-occurrence edges + the Graphs.pageRank(scale=1e9,
      // d=85/100, iters=3) unroll — same recipe as evt_pagerank's oracle
      val scale = 1000000000L
      val base =
        s"""toks AS (SELECT $wordsSql AS t FROM documents),
           |pr0 AS (SELECT t, unnest(range(1, len(t))) AS i FROM toks),
           |pairs AS (SELECT t[i] AS wa, t[i+1] AS wb FROM pr0
           |  WHERE len(t[i]) >= 4 AND len(t[i+1]) >= 4 AND t[i] <> t[i+1]),
           |und AS MATERIALIZED (
           |  SELECT least(wa, wb) AS a, greatest(wa, wb) AS b,
           |    CAST(COUNT(*) AS BIGINT) AS w
           |  FROM pairs GROUP BY 1, 2 HAVING COUNT(*) >= 2),
           |edges AS MATERIALIZED (
           |  SELECT a AS src, b AS dst, w FROM und
           |  UNION ALL SELECT b, a, w FROM und),
           |outw AS MATERIALIZED (SELECT src, CAST(SUM(w) AS BIGINT) AS out_w
           |         FROM edges GROUP BY 1),
           |nodes AS MATERIALIZED (SELECT src AS node FROM edges
           |          UNION SELECT dst FROM edges),
           |nn AS (SELECT COUNT(*) AS n_nodes FROM nodes),
           |r0 AS (SELECT node, CAST($scale AS BIGINT) // n_nodes AS rank
           |       FROM nodes CROSS JOIN nn)""".stripMargin
      val rounds = (1 to 3).map { i =>
        s"""c$i AS (
           |  SELECT e.dst AS node,
           |    CAST(SUM(r.rank * 85 * e.w // (100 * o.out_w)) AS BIGINT)
           |      AS in_c
           |  FROM r${i - 1} r JOIN edges e ON r.node = e.src
           |  JOIN outw o ON e.src = o.src GROUP BY 1),
           |r$i AS (
           |  SELECT n.node, CAST(${scale * 15} AS BIGINT)
           |      // (100 * nn.n_nodes) + COALESCE(c$i.in_c, 0) AS rank
           |  FROM nodes n CROSS JOIN nn
           |  LEFT JOIN c$i ON c$i.node = n.node)""".stripMargin
      }
      s"WITH ${(base +: rounds).mkString(",\n")}\n" +
        "SELECT node, rank FROM r3 ORDER BY rank DESC, node ASC LIMIT 30"
    },
    "text_regex_scan" ->
      s"""SELECT lang, COUNT(*) AS n_docs,
         |CAST(SUM(len(regexp_extract_all(text, '\\bs[a-z]+'))) AS BIGINT)
         |  AS n_s_words,
         |CAST(SUM(CASE WHEN regexp_matches(text, 'value [a-z]+ value')
         |             THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_vv
         |FROM documents GROUP BY lang""".stripMargin,
    "text_readability" ->
      s"""WITH d AS (SELECT lang,
         |    CAST($nTok AS BIGINT) AS nw,
         |    CAST(len(regexp_extract_all(text, '[aeiou]+')) AS BIGINT)
         |      AS syl,
         |    CAST(len(list_filter($wordsSql,
         |      w_ -> len(regexp_extract_all(w_, '[aeiou]+')) >= 3))
         |      AS BIGINT) AS nlong
         |  FROM documents)
         |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(nw) AS BIGINT) AS n_words,
         |  CAST(SUM(syl) AS BIGINT) AS n_syllables,
         |  CAST(SUM(nlong) AS BIGINT) AS n_longwords,
         |  CAST(SUM(syl) * 1000 // SUM(nw) AS BIGINT) AS syl_permille,
         |  CAST(SUM(nlong) * 1000 // SUM(nw) AS BIGINT)
         |    AS longword_permille
         |FROM d GROUP BY 1""".stripMargin,
    "text_char_entropy" ->
      s"""WITH $charEntropyCtes
         |SELECT doc_id, n_chars, n_distinct, simpson_ppm, entropy_micro
         |FROM entq""".stripMargin,
    "text_ttr_segmental" ->
      s"""WITH $ttrSegmentalCtes
         |SELECT doc_id, n_tokens, n_segs, mean_ttr_ppm, min_ttr_ppm
         |FROM ttrq""".stripMargin,
    "doc_quality_composite" ->
      s"""WITH $charEntropyCtes,
         |$ttrSegmentalCtes,
         |j AS (
         |  SELECT e.doc_id, d.lang,
         |    e.entropy_micro + 2 * t.mean_ttr_ppm - e.simpson_ppm
         |      AS quality_score
         |  FROM entq e JOIN ttrq t ON e.doc_id = t.doc_id
         |  JOIN documents d ON d.doc_id = e.doc_id)
         |SELECT doc_id, lang, quality_score,
         |  CAST(row_number() OVER (PARTITION BY lang
         |    ORDER BY quality_score DESC, doc_id ASC) AS BIGINT)
         |    AS lang_rank
         |FROM j""".stripMargin,
    "pipe_chunk_docs" -> {
      val (chunk, overlap) = (64, 16)
      val stride = chunk - overlap
      s"""SELECT doc_id, CAST(c AS INTEGER) AS chunk_idx,
         |  CAST(c * $stride + 1 AS INTEGER) AS start_tok,
         |  CAST(least(c * $stride + $chunk, nt) AS INTEGER) AS end_tok,
         |  CAST(least(c * $stride + $chunk, nt) - c * $stride AS INTEGER)
         |    AS n_tokens,
         |  toks[CAST(c * $stride + 1 AS INTEGER)] AS first_word
         |FROM (
         |  SELECT doc_id, $wordsSql AS toks, len($wordsSql) AS nt,
         |    unnest(range(0, CASE WHEN len($wordsSql) <= $chunk THEN 1
         |      ELSE CAST(ceil((len($wordsSql) - $chunk) / $stride.0) AS BIGINT)
         |           + 1 END)) AS c
         |  FROM documents)""".stripMargin
    },
    "pipe_pack_bins" ->
      s"""WITH sized AS (
         |  SELECT doc_id, doc_id % 8 AS shard, len($wordsSql) AS n_tokens
         |  FROM documents),
         |binned AS (
         |  SELECT shard, doc_id, n_tokens,
         |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard
         |      ORDER BY doc_id ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      // 2048 AS BIGINT) AS bin
         |  FROM sized)
         |SELECT shard, bin, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
         |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         |FROM binned GROUP BY 1, 2""".stripMargin,
    "text_repetition" ->
      s"""SELECT doc_id,
         |  CAST(len(${sqlShingles(3)}) AS INTEGER) AS n_trigrams,
         |  CAST(len(list_distinct(${sqlShingles(3)})) AS INTEGER) AS n_distinct,
         |  CASE WHEN len(${sqlShingles(3)}) > 0
         |    THEN CAST(len(list_distinct(${sqlShingles(3)})) AS DOUBLE)
         |           / len(${sqlShingles(3)})
         |    ELSE 1.0 END AS rep_ratio
         |FROM documents""".stripMargin,
    "pipe_stratified_sample" -> {
      val bucket =
        "CAST('0x' || substr(md5('smp|' || CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 100"
      s"""SELECT lang, COUNT(*) AS n_total,
         |CAST(SUM(CASE WHEN $bucket < 20 THEN 1 ELSE 0 END) AS BIGINT)
         |  AS n_sampled,
         |CAST(SUM(CASE WHEN $bucket < 20 THEN 1 ELSE 0 END) AS DOUBLE)
         |  / COUNT(*) AS sample_rate
         |FROM documents GROUP BY lang""".stripMargin
    },
    "dedup_jaccard_pairs" -> jaccardPairsSql,
    // prefix filtering is exact: the oracle is the FULL all-pairs
    // threshold join at t=0.6 with no frequency cap
    "dedup_prefix_pairs" ->
      s"""WITH docsh AS (
         |  SELECT DISTINCT doc_id, unnest(${sqlShingles(ShingleN)}) AS shingle
         |  FROM documents),
         |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM docsh GROUP BY 1),
         |common AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
         |  FROM docsh a JOIN docsh b ON a.shingle = b.shingle
         |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
         |SELECT doc_a, doc_b, n_common,
         |  CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) AS jaccard
         |FROM common
         |JOIN sizes sa ON sa.doc_id = doc_a
         |JOIN sizes sb ON sb.doc_id = doc_b
         |WHERE CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common)
         |  >= 0.6""".stripMargin,
    "dedup_substring_spans" ->
      s"""WITH base AS (SELECT doc_id, ${sqlShingles(5)} AS sh FROM documents),
         |pos1 AS (SELECT doc_id, unnest(range(1, len(sh) + 1)) AS i, sh
         |         FROM base),
         |ph AS (SELECT doc_id, i - 1 AS pos,
         |         CAST('0x' || substr(md5(sh[i]), 1, 15) AS BIGINT) AS h
         |       FROM pos1),
         |dup AS (SELECT h FROM ph GROUP BY h
         |        HAVING COUNT(DISTINCT doc_id) >= 2),
         |dp AS (SELECT doc_id, pos FROM ph
         |       WHERE h IN (SELECT h FROM dup)),
         |mk AS (SELECT doc_id, pos,
         |         CASE WHEN pos - lag(pos) OVER
         |           (PARTITION BY doc_id ORDER BY pos) > 5
         |         THEN 1 ELSE 0 END AS brk FROM dp),
         |isl AS (SELECT doc_id, pos, SUM(brk) OVER
         |          (PARTITION BY doc_id ORDER BY pos) AS island FROM mk),
         |sp AS (SELECT doc_id, island, MIN(pos) AS span_start,
         |         MAX(pos) + 4 AS span_end FROM isl GROUP BY 1, 2),
         |agg AS (SELECT doc_id, COUNT(*) AS n_spans,
         |          CAST(SUM(span_end - span_start + 1) AS BIGINT)
         |            AS dup_tokens
         |        FROM sp GROUP BY 1),
         |tok AS (SELECT doc_id, len($wordsSql) AS n_tokens FROM documents)
         |SELECT a.doc_id, n_spans, dup_tokens, n_tokens,
         |  dup_tokens * 1000 // n_tokens AS dup_permille
         |FROM agg a JOIN tok USING (doc_id)""".stripMargin,
    "pipe_incr_dedup" ->
      s"""WITH bsigs AS (${sigsSqlWhere("doc_id % 5 = 0")}),
         |csigs AS (${sigsSqlWhere("doc_id % 5 <> 0")}),
         |bbands AS (${bandsSqlFrom("bsigs")}),
         |cbands AS (SELECT DISTINCT band, bucket
         |           FROM (${bandsSqlFrom("csigs")})),
         |exacth AS (
         |  SELECT doc_id FROM documents WHERE doc_id % 5 = 0
         |  AND md5(text) IN
         |    (SELECT md5(text) FROM documents WHERE doc_id % 5 <> 0)),
         |nearh AS (SELECT DISTINCT b.doc_id FROM bbands b
         |          JOIN cbands c USING (band, bucket)),
         |flags AS (
         |  SELECT d.doc_id,
         |    d.doc_id IN (SELECT doc_id FROM exacth) AS exact_dup,
         |    d.doc_id IN (SELECT doc_id FROM nearh) AS near_cand
         |  FROM documents d WHERE d.doc_id % 5 = 0)
         |SELECT doc_id, exact_dup, near_cand,
         |  CASE WHEN exact_dup OR near_cand THEN 'drop' ELSE 'keep' END
         |    AS decision
         |FROM flags""".stripMargin,
    "text_bigram_coverage" ->
      s"""WITH bg AS (SELECT doc_id, unnest(${sqlShingles(2)}) AS bigram
         |            FROM documents),
         |top AS (SELECT bigram FROM (
         |  SELECT bigram, COUNT(*) AS n FROM bg GROUP BY 1
         |  ORDER BY n DESC, bigram ASC LIMIT 500)),
         |cov AS (SELECT doc_id, COUNT(*) AS n_bigrams,
         |  CAST(SUM(CASE WHEN bigram IN (SELECT bigram FROM top)
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
         |  FROM bg GROUP BY 1)
         |SELECT doc_id, n_bigrams, n_covered,
         |  n_covered * 1000 // n_bigrams AS coverage_permille
         |FROM cov""".stripMargin,
    "doc_word_counts" ->
      s"""SELECT word, COUNT(*) AS n_occurrences
         |FROM (SELECT unnest($wordsSql) AS word FROM documents)
         |GROUP BY word""".stripMargin,
    "text_bpe_merges" -> bpeMergesSql(BpeSteps, BpeBatchK),
    "text_bpe_encode" -> bpeEncodeSql(BpeSteps, BpeBatchK),
    "text_unigram_tokenizer" -> UnigramLM.chainSql(),
    "text_unigram_encode" -> UnigramLM.encodeSql(),
    "text_wordpiece_encode" -> graft.operators.WordPiece.encodeSql(),
    // the per-doc encode chain as a derived table (DuckDB allows WITH
    // inside a parenthesized subquery), rolled up per language
    "text_wordpiece_fertility" ->
      s"""SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(e.n_words) AS BIGINT) AS n_words,
         |  CAST(SUM(e.n_pieces) AS BIGINT) AS n_pieces,
         |  CAST(SUM(e.n_unk_words) AS BIGINT) AS n_unk_words,
         |  CAST(SUM(e.n_chars) AS BIGINT) AS n_chars,
         |  CAST(CASE WHEN SUM(e.n_words) > 0
         |       THEN SUM(e.n_pieces) * 1000 // SUM(e.n_words)
         |       ELSE 0 END AS BIGINT) AS fertility_permille,
         |  CAST(CASE WHEN SUM(e.n_chars) > 0
         |       THEN SUM(e.n_pieces) * 1000 // SUM(e.n_chars)
         |       ELSE 0 END AS BIGINT) AS compression_permille
         |FROM (${graft.operators.WordPiece.encodeSql()}) e
         |JOIN documents d USING (doc_id)
         |GROUP BY 1""".stripMargin,
    // formula strings are the SAME Scala vals the Spark plan parses —
    // the two engines cannot drift structurally
    "doc_bm25_topk" ->
      s"""WITH $bm25ScoredCte
         |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id,
         |  n_terms_hit, score6
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY score6 DESC, doc_id ASC) AS rank
         |      FROM scored)
         |WHERE rank <= 5""".stripMargin,
    "text_trigram_backoff" ->
      s"""WITH $trigramScoredSql
         |SELECT doc_id, n_trigrams, n_bo_bigram, n_bo_unigram, nll
         |FROM scored""".stripMargin,
    "pipe_ccnet_buckets" ->
      s"""WITH $trigramScoredSql,
         |sl AS MATERIALIZED (
         |  SELECT s.doc_id, s.nll, d.lang
         |  FROM scored s JOIN documents d USING (doc_id)),
         |cuts AS (SELECT lang,
         |    percentile_cont(CAST(1 AS DOUBLE)/3)
         |      WITHIN GROUP (ORDER BY nll) AS cut33,
         |    percentile_cont(CAST(2 AS DOUBLE)/3)
         |      WITHIN GROUP (ORDER BY nll) AS cut67
         |  FROM sl GROUP BY 1)
         |SELECT sl.lang,
         |  CAST(SUM(CASE WHEN nll <= cut33 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_head,
         |  CAST(SUM(CASE WHEN nll > cut33 AND nll <= cut67 THEN 1 ELSE 0 END)
         |       AS BIGINT) AS n_middle,
         |  CAST(SUM(CASE WHEN nll > cut67 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_tail,
         |  cut33, cut67
         |FROM sl JOIN cuts USING (lang)
         |GROUP BY sl.lang, cut33, cut67""".stripMargin,
    "text_bigram_nll" ->
      // same 1e-6-grid quantization discipline as text_unigram_nll; the
      // bigram table (`big`) feeds both the type counts and the per-doc
      // join, so it is MATERIALIZED (DuckDB inlines per reference)
      s"""WITH tok AS (SELECT doc_id, unnest($wordsSql) AS w FROM documents),
         |uni AS MATERIALIZED (SELECT w, COUNT(*) AS cu FROM tok GROUP BY 1),
         |vt AS (SELECT COUNT(*) AS v FROM uni),
         |big AS MATERIALIZED (SELECT doc_id, unnest(${sqlShingles(2)}) AS bg
         |                     FROM documents),
         |bc AS (SELECT bg, COUNT(*) AS cb FROM big GROUP BY 1),
         |lp AS (SELECT bg,
         |    CAST(round(ln(CAST(cb + 1 AS DOUBLE)) * 1000000) AS BIGINT)
         |  - CAST(round(ln(CAST(cu + (SELECT v FROM vt) AS DOUBLE)) * 1000000)
         |         AS BIGINT) AS lp6
         |  FROM bc JOIN uni ON split_part(bg, ' ', 1) = uni.w),
         |d AS (SELECT doc_id, COUNT(*) AS n_bigrams,
         |        CAST(SUM(lp6) AS BIGINT) AS s6
         |      FROM big JOIN lp USING (bg) GROUP BY 1)
         |SELECT doc_id, n_bigrams,
         |  round(-(CAST(s6 AS DOUBLE) / 1000000.0) / n_bigrams, 6) AS nll
         |FROM d""".stripMargin,
    "text_gopher_rules" ->
      s"""SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN wl THEN 0 ELSE 1 END) AS BIGINT) AS n_wordlen_fail,
         |  CAST(SUM(CASE WHEN lo THEN 0 ELSE 1 END) AS BIGINT) AS n_len_fail,
         |  CAST(SUM(CASE WHEN so THEN 0 ELSE 1 END) AS BIGINT) AS n_stopword_fail,
         |  CAST(SUM(CASE WHEN ro THEN 0 ELSE 1 END) AS BIGINT) AS n_repetition_fail,
         |  CAST(SUM(CASE WHEN wl AND lo AND so AND ro THEN 1 ELSE 0 END)
         |       AS BIGINT) AS n_clean,
         |  CAST(SUM(CASE WHEN wl AND lo AND so AND ro THEN 1 ELSE 0 END) * 1000
         |       // COUNT(*) AS BIGINT) AS clean_permille
         |FROM (SELECT source,
         |    $gopherFlagsSelSql
         |  FROM documents)
         |GROUP BY source""".stripMargin,
    // segment grain mirrors Dedup.lineFrame (10-token "lines",
    // 50-token "paragraphs"); hot = >= 2 DISTINCT docs (C4/RefinedWeb)
    "pipe_line_dedup" -> lineDedupSql(10),
    "pipe_domain_line_dedup" ->
      s"""WITH $domainLineCtes
         |SELECT source, n_docs, n_lines, n_dup_lines, kept_tokens,
         |  removed_permille
         |FROM dom""".stripMargin,
    "pipe_domain_quality" ->
      s"""WITH $charEntropyCtes,
         |$ttrSegmentalCtes,
         |dq AS MATERIALIZED (
         |  SELECT e.doc_id, d.source,
         |    e.entropy_micro + 2 * t.mean_ttr_ppm - e.simpson_ppm AS q
         |  FROM entq e JOIN ttrq t ON e.doc_id = t.doc_id
         |  JOIN documents d ON d.doc_id = e.doc_id),
         |med AS (SELECT percentile_cont(CAST(1 AS DOUBLE)/2)
         |          WITHIN GROUP (ORDER BY q) AS med FROM dq)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(q) AS BIGINT) AS sum_quality,
         |  CAST(SUM(CASE WHEN q > med THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_above_median,
         |  CAST(SUM(CASE WHEN q > med THEN 1 ELSE 0 END) * 1000
         |       // COUNT(*) AS BIGINT) AS hi_permille
         |FROM dq, med
         |GROUP BY source""".stripMargin,
    "pipe_domain_mixture" ->
      s"""WITH $domainLineCtes,
         |tot AS (SELECT CAST(SUM(kept_tokens) AS BIGINT) AS total_tokens,
         |               CAST(COUNT(*) AS BIGINT) AS n_domains FROM dom)
         |SELECT source, kept_tokens,
         |  total_tokens // n_domains AS target_tokens,
         |  CASE WHEN kept_tokens = 0 THEN CAST(0 AS BIGINT)
         |       ELSE CAST(least(CAST(1000000 AS HUGEINT),
         |         CAST(total_tokens // n_domains AS HUGEINT) * 1000000
         |           // kept_tokens) AS BIGINT) END AS weight_ppm,
         |  CASE WHEN kept_tokens = 0 THEN CAST(0 AS BIGINT)
         |       ELSE (total_tokens // n_domains + kept_tokens - 1)
         |            // kept_tokens END AS n_epochs
         |FROM dom, tot""".stripMargin,
    "pipe_epoch_decay" ->
      s"""WITH $domainLineCtes,
         |tot AS (SELECT CAST(SUM(kept_tokens) AS BIGINT) AS total_tokens,
         |               CAST(COUNT(*) AS BIGINT) AS n_domains FROM dom),
         |p AS (SELECT source, kept_tokens AS unique_tokens,
         |        total_tokens // n_domains AS target_tokens
         |      FROM dom, tot),
         |m AS (SELECT source, unique_tokens, target_tokens,
         |  CASE WHEN unique_tokens = 0 THEN CAST(0 AS BIGINT)
         |       ELSE CAST(CAST(target_tokens AS HUGEINT) * 1000000
         |                 // unique_tokens AS BIGINT) END AS epochs_ppm,
         |  CASE WHEN unique_tokens = 0 THEN CAST(0 AS DOUBLE)
         |       ELSE round(1.0 + 15.4 * (1.0 - exp(
         |         -greatest(CAST(0 AS DOUBLE),
         |            CAST(target_tokens AS DOUBLE) / unique_tokens - 1.0)
         |         / 15.4)), 6) END AS eff_mult
         |  FROM p),
         |m2 AS (SELECT *,
         |  CASE WHEN unique_tokens = 0 THEN CAST(0 AS BIGINT)
         |       ELSE least(target_tokens,
         |         CAST(round(unique_tokens * eff_mult) AS BIGINT))
         |       END AS eff_tokens
         |  FROM m)
         |SELECT source, unique_tokens, target_tokens, epochs_ppm, eff_mult,
         |  eff_tokens,
         |  CASE WHEN target_tokens = 0 THEN CAST(0 AS BIGINT)
         |       ELSE CAST(CAST(eff_tokens AS HUGEINT) * 1000000
         |                 // target_tokens AS BIGINT) END AS utility_ppm
         |FROM m2""".stripMargin,
    "pipe_gate_kappa" -> {
      val nBad = BadWords
        .map(w => s"len(regexp_extract_all(text, '\\b$w\\b'))")
        .mkString(" + ")
      s"""WITH $charEntropyCtes,
         |$ttrSegmentalCtes,
         |dq AS (SELECT e.doc_id,
         |    e.entropy_micro + 2 * t.mean_ttr_ppm - e.simpson_ppm AS q
         |  FROM entq e JOIN ttrq t ON e.doc_id = t.doc_id),
         |med AS (SELECT percentile_cont(CAST(1 AS DOUBLE)/2)
         |          WITHIN GROUP (ORDER BY q) AS med FROM dq),
         |b AS (SELECT doc_id, CAST($nBad AS BIGINT) AS n_bad
         |      FROM documents),
         |g AS (SELECT q > med AS a_keep, n_bad = 0 AS b_keep
         |      FROM dq CROSS JOIN med JOIN b ON dq.doc_id = b.doc_id),
         |c AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
         |    CAST(SUM(CASE WHEN a_keep AND b_keep THEN 1 ELSE 0 END)
         |      AS HUGEINT) AS kk,
         |    CAST(SUM(CASE WHEN a_keep AND NOT b_keep THEN 1 ELSE 0 END)
         |      AS HUGEINT) AS kd,
         |    CAST(SUM(CASE WHEN NOT a_keep AND b_keep THEN 1 ELSE 0 END)
         |      AS HUGEINT) AS dk,
         |    CAST(SUM(CASE WHEN NOT a_keep AND NOT b_keep THEN 1 ELSE 0 END)
         |      AS HUGEINT) AS dd
         |  FROM g),
         |k AS (SELECT n, kk, kd, dk, dd,
         |    (kk + kd) * (kk + dk) + (dk + dd) * (kd + dd) AS pe_num
         |  FROM c)
         |SELECT CAST(n AS BIGINT) AS n_docs,
         |  CAST(kk AS BIGINT) AS n_keep_keep,
         |  CAST(kd AS BIGINT) AS n_keep_drop,
         |  CAST(dk AS BIGINT) AS n_drop_keep,
         |  CAST(dd AS BIGINT) AS n_drop_drop,
         |  CAST((kk + dd) * 1000 // n AS BIGINT) AS po_permille,
         |  CASE WHEN n * n - pe_num = 0 THEN CAST(0 AS BIGINT)
         |       ELSE CAST((n * (kk + dd) - pe_num + n * n - pe_num) * 1000
         |                 // (n * n - pe_num) - 1000 AS BIGINT)
         |  END AS kappa_permille
         |FROM k""".stripMargin
    },
    "text_gopher_dupe_ngrams" -> {
      val branches = Seq(5, 6, 7, 8, 9, 10).map(n =>
        s"SELECT doc_id, $n AS n, unnest(${sqlShingles(n)}) AS gram" +
          " FROM documents").mkString("\n  UNION ALL ")
      s"""WITH g AS ($branches),
         |pd AS (SELECT doc_id, n, gram, COUNT(*) AS c FROM g GROUP BY 1,2,3),
         |pdoc AS (SELECT doc_id, n,
         |    CAST(SUM(c * length(gram)) AS BIGINT) AS tm,
         |    CAST(SUM(CASE WHEN c >= 2 THEN c * length(gram) ELSE 0 END)
         |      AS BIGINT) AS dm
         |  FROM pd GROUP BY 1, 2)
         |SELECT d.source, pdoc.n, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(tm) AS BIGINT) AS total_mass,
         |  CAST(SUM(dm) AS BIGINT) AS dup_mass,
         |  CAST(SUM(CASE WHEN dm * 100 > tm * (20 - pdoc.n) THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_fail,
         |  CASE WHEN SUM(tm) = 0 THEN CAST(0 AS BIGINT)
         |       ELSE CAST(SUM(dm) * 1000 // SUM(tm) AS BIGINT)
         |  END AS dup_permille
         |FROM pdoc JOIN documents d USING (doc_id)
         |GROUP BY 1, 2""".stripMargin
    },
    "pipe_para_dedup" -> lineDedupSql(50),
    "pipe_line_dedup_incr" ->
      lineDedupSql(10, hotWhere = "doc_id % 5 <> 0",
                   reportWhere = "doc_id % 5 = 0"),
    "text_gopher_repetition" -> {
      val segs = (w: Int) =>
        s"""[array_to_string(t[(i_-1)*$w+1:i_*$w], ' ')
           | FOR i_ IN range(1, (len(t)+${w - 1})//$w + 1)]""".stripMargin
      s"""WITH base AS (SELECT doc_id, source, text, $wordsSql AS t
         |  FROM documents),
         |seg AS (SELECT doc_id, source, text,
         |    ${segs(10)} AS lines,
         |    ${segs(50)} AS paras
         |  FROM base),
         |g AS (SELECT doc_id, 2 AS n, unnest(${sqlShingles(2)}) AS gram
         |        FROM documents
         |      UNION ALL SELECT doc_id, 3, unnest(${sqlShingles(3)})
         |        FROM documents
         |      UNION ALL SELECT doc_id, 4, unnest(${sqlShingles(4)})
         |        FROM documents),
         |c AS (SELECT doc_id, n, gram, COUNT(*) AS c FROM g GROUP BY 1, 2, 3),
         |-- count ties break toward the longer gram: composite max
         |topg AS (SELECT doc_id, n, MAX(c * 1048576 + length(gram)) AS cm
         |         FROM c GROUP BY 1, 2),
         |cov AS (SELECT doc_id,
         |    MAX(CASE WHEN n = 2 THEN (cm // 1048576) * (cm % 1048576) END)
         |      AS cov2,
         |    MAX(CASE WHEN n = 3 THEN (cm // 1048576) * (cm % 1048576) END)
         |      AS cov3,
         |    MAX(CASE WHEN n = 4 THEN (cm // 1048576) * (cm % 1048576) END)
         |      AS cov4
         |  FROM topg GROUP BY 1),
         |f AS (SELECT source,
         |    (len(lines) - len(list_distinct(lines))) * 10
         |      <= len(lines) * 3 AS dl,
         |    (len(paras) - len(list_distinct(paras))) * 10
         |      <= len(paras) * 3 AS dp,
         |    COALESCE(cov2, 0) * 5 <= length(text) AS t2,
         |    COALESCE(cov3, 0) * 50 <= length(text) * 9 AS t3,
         |    COALESCE(cov4, 0) * 25 <= length(text) * 4 AS t4
         |  FROM seg LEFT JOIN cov USING (doc_id))
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN dl THEN 0 ELSE 1 END) AS BIGINT)
         |    AS n_dupline_fail,
         |  CAST(SUM(CASE WHEN dp THEN 0 ELSE 1 END) AS BIGINT)
         |    AS n_duppara_fail,
         |  CAST(SUM(CASE WHEN t2 THEN 0 ELSE 1 END) AS BIGINT) AS n_top2_fail,
         |  CAST(SUM(CASE WHEN t3 THEN 0 ELSE 1 END) AS BIGINT) AS n_top3_fail,
         |  CAST(SUM(CASE WHEN t4 THEN 0 ELSE 1 END) AS BIGINT) AS n_top4_fail,
         |  CAST(SUM(CASE WHEN dl AND dp AND t2 AND t3 AND t4 THEN 1 ELSE 0 END)
         |       AS BIGINT) AS n_clean,
         |  CAST(SUM(CASE WHEN dl AND dp AND t2 AND t3 AND t4 THEN 1 ELSE 0 END)
         |       * 1000 // COUNT(*) AS BIGINT) AS clean_permille
         |FROM f GROUP BY source""".stripMargin
    },
    "pipe_dsir_weights" ->
      s"""WITH $dsirCtes
         |SELECT doc_id, lang, n_tokens, avg_logratio FROM dsw""".stripMargin,
    "pipe_dsir_select" ->
      s"""WITH $dsirCtes,
         |thr AS (SELECT percentile_cont(CAST(3 AS DOUBLE)/4)
         |          WITHIN GROUP (ORDER BY avg_logratio) AS thr FROM dsw)
         |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN avg_logratio > thr THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_selected,
         |  CAST(SUM(CASE WHEN avg_logratio > thr THEN n_tokens ELSE 0 END)
         |    AS BIGINT) AS tok_selected,
         |  CAST(SUM(CASE WHEN avg_logratio > thr THEN 1 ELSE 0 END) * 1000
         |    // COUNT(*) AS BIGINT) AS share_permille
         |FROM dsw CROSS JOIN thr GROUP BY 1""".stripMargin,
    "pipe_vocab_drift" ->
      s"""WITH wc AS (SELECT (doc_id % 2 = 0) AS half_a, w,
         |    CAST(COUNT(*) AS BIGINT) AS c
         |  FROM (SELECT doc_id, unnest($wordsSql) AS w FROM documents)
         |  GROUP BY 1, 2),
         |top AS (SELECT half_a, w FROM (
         |    SELECT half_a, w, row_number() OVER (
         |      PARTITION BY half_a ORDER BY c DESC, w ASC) AS rk FROM wc)
         |  WHERE rk <= 2048),
         |m AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS halves,
         |    CAST(SUM(CASE WHEN half_a THEN 1 ELSE 0 END) AS BIGINT) AS in_a
         |  FROM top GROUP BY 1),
         |z AS (SELECT CAST(SUM(in_a) AS BIGINT) AS n_a,
         |    CAST(SUM(halves - in_a) AS BIGINT) AS n_b,
         |    CAST(SUM(CASE WHEN halves = 2 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_common
         |  FROM m)
         |SELECT n_a, n_b, n_common,
         |  n_common * 1000 // (n_a + n_b - n_common) AS jaccard_permille
         |FROM z""".stripMargin,
    "text_url_hosts" -> {
      val t2 = "text" +
        " || (CASE WHEN doc_id % 4 = 0 THEN ' http://site'" +
        " || CAST(doc_id % 7 AS VARCHAR) || '.example.com/p'" +
        " || CAST(doc_id AS VARCHAR) ELSE '' END)" +
        " || (CASE WHEN doc_id % 6 = 0 THEN ' https://www.mirror'" +
        " || CAST(doc_id % 5 AS VARCHAR) || '.example.org/q'" +
        " || CAST(doc_id AS VARCHAR) ELSE '' END)"
      s"""WITH h AS (SELECT doc_id,
         |    regexp_replace(host, '^www\\.', '') AS host
         |  FROM (SELECT doc_id, unnest(regexp_extract_all($t2,
         |          'https?://([a-z0-9.-]+)', 1)) AS host
         |        FROM documents)),
         |hd AS (SELECT host, doc_id, CAST(COUNT(*) AS BIGINT) AS c
         |       FROM h GROUP BY 1, 2)
         |SELECT host, CAST(SUM(c) AS BIGINT) AS n_urls,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs
         |FROM hd GROUP BY 1""".stripMargin
    },
    "text_winnowing" -> winnowSql,
    "text_zipf_fit" ->
      // every OLS moment is an exact BIGINT over 1e-6-grid logs; the
      // three output doubles are single divisions over exact integers
      s"""WITH wc AS (SELECT w AS word, COUNT(*) AS n
         |  FROM (SELECT unnest($wordsSql) AS w FROM documents) GROUP BY 1),
         |top AS (SELECT word, n,
         |    row_number() OVER (ORDER BY n DESC, word) AS rk
         |  FROM wc ORDER BY n DESC, word LIMIT 100),
         |xy AS (SELECT
         |    CAST(round(ln(CAST(rk AS DOUBLE)) * 1000000) AS BIGINT) AS x6,
         |    CAST(round(ln(CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS y6
         |  FROM top),
         |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(x6) AS BIGINT) AS sx, CAST(SUM(y6) AS BIGINT) AS sy,
         |    CAST(SUM(x6 * y6) AS BIGINT) AS sxy,
         |    CAST(SUM(x6 * x6) AS BIGINT) AS sxx,
         |    CAST(SUM(y6 * y6) AS BIGINT) AS syy FROM xy)
         |SELECT n AS n_top,
         |  CAST(n * sxy - sx * sy AS DOUBLE)
         |    / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
         |  (CAST(sy AS DOUBLE) / 1000000.0
         |     - CAST(n * sxy - sx * sy AS DOUBLE)
         |       / CAST(n * sxx - sx * sx AS DOUBLE)
         |       * CAST(sx AS DOUBLE) / 1000000.0)
         |    / CAST(n AS DOUBLE) AS intercept,
         |  (CAST(n * sxy - sx * sy AS DOUBLE)
         |     * CAST(n * sxy - sx * sy AS DOUBLE))
         |    / (CAST(n * sxx - sx * sx AS DOUBLE)
         |       * CAST(n * syy - sy * sy AS DOUBLE)) AS r2
         |FROM m""".stripMargin,
    "pipe_leakage_split" ->
      s"""WITH RECURSIVE
         |pairs AS MATERIALIZED (SELECT doc_a, doc_b FROM ($jaccardPairsSql) jp),
         |edges AS MATERIALIZED (SELECT doc_a AS s, doc_b AS d FROM pairs
         |          UNION SELECT doc_b, doc_a FROM pairs),
         |nodes AS (SELECT DISTINCT s AS id FROM edges),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.d, reach.r FROM reach JOIN edges e ON e.s = reach.id),
         |clusters AS (SELECT id AS doc_id, MIN(r) AS cluster_id
         |             FROM reach GROUP BY id),
         |d AS (SELECT documents.doc_id, lang,
         |        COALESCE(cluster_id, documents.doc_id) AS ckey
         |      FROM documents LEFT JOIN clusters
         |        ON documents.doc_id = clusters.doc_id),
         |b AS (SELECT lang, ckey,
         |    CAST('0x' || substr(md5('split|' || CAST(ckey AS VARCHAR)),
         |         1, 4) AS BIGINT) % 100 AS bk FROM d)
         |SELECT CASE WHEN bk < 80 THEN 'train' WHEN bk < 90 THEN 'val'
         |            ELSE 'test' END AS split,
         |  lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(COUNT(DISTINCT ckey) AS BIGINT) AS n_clusters
         |FROM b GROUP BY 1, 2""".stripMargin,
    "pipe_contamination_winnow" ->
      s"""WITH fps AS MATERIALIZED (SELECT * FROM ($winnowSql) wq),
         |bench AS (SELECT DISTINCT gram_hash FROM fps WHERE doc_id % 10 = 0),
         |corpus AS MATERIALIZED (SELECT doc_id, gram_hash FROM fps
         |                        WHERE doc_id % 10 <> 0),
         |hits AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
         |  FROM corpus WHERE gram_hash IN (SELECT gram_hash FROM bench)
         |  GROUP BY 1)
         |SELECT t.doc_id, t.n_fprints, COALESCE(h.n_hits, 0) AS n_hits,
         |  CAST(COALESCE(h.n_hits, 0) * 1000 // t.n_fprints AS BIGINT)
         |    AS hit_permille
         |FROM (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fprints
         |      FROM corpus GROUP BY 1) t
         |LEFT JOIN hits h ON t.doc_id = h.doc_id""".stripMargin,
    // GPT-3 13-gram decontamination: same bench split, md5-60 gram keys
    "pipe_contamination_ngram" ->
      s"""WITH g AS MATERIALIZED (
         |  SELECT doc_id,
         |    CAST('0x' || substr(md5('g13|' || gram), 1, 15) AS BIGINT) AS h
         |  FROM (SELECT doc_id, unnest(${sqlShingles(13)}) AS gram
         |        FROM documents)),
         |bench AS (SELECT DISTINCT h FROM g WHERE doc_id % 10 = 0),
         |corpus AS MATERIALIZED (SELECT doc_id, h FROM g
         |                        WHERE doc_id % 10 <> 0),
         |tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams
         |        FROM corpus GROUP BY 1),
         |hit AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
         |        FROM corpus WHERE h IN (SELECT h FROM bench) GROUP BY 1)
         |SELECT d.doc_id,
         |  CAST(COALESCE(tot.n_grams, 0) AS BIGINT) AS n_grams,
         |  CAST(COALESCE(hit.n_hits, 0) AS BIGINT) AS n_hits,
         |  CAST(CASE WHEN COALESCE(hit.n_hits, 0) > 0 THEN 1 ELSE 0 END
         |       AS BIGINT) AS contaminated
         |FROM documents d
         |LEFT JOIN tot ON d.doc_id = tot.doc_id
         |LEFT JOIN hit ON d.doc_id = hit.doc_id
         |WHERE d.doc_id % 10 <> 0""".stripMargin,
    // the composed funnel: every gate is byte-identical to its
    // standalone report's predicate (gopher flags / jaccard-cluster
    // losers / 13-gram contamination), so the masses reconcile with
    // those rows by construction
    "pipe_funnel_report" ->
      s"""$funnelCtes
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_raw,
         |  CAST(SUM(n_tok) AS BIGINT) AS tok_raw,
         |  CAST(SUM(CASE WHEN q THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
         |  CAST(SUM(CASE WHEN q THEN n_tok ELSE 0 END) AS BIGINT)
         |    AS tok_quality,
         |  CAST(SUM(CASE WHEN q AND L IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dedup,
         |  CAST(SUM(CASE WHEN q AND L IS NULL THEN n_tok ELSE 0 END)
         |    AS BIGINT) AS tok_dedup,
         |  CAST(SUM(CASE WHEN q AND L IS NULL AND doc_id % 10 <> 0
         |                 AND C IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_final,
         |  CAST(SUM(CASE WHEN q AND L IS NULL AND doc_id % 10 <> 0
         |                 AND C IS NULL THEN n_tok ELSE 0 END) AS BIGINT)
         |    AS tok_final
         |$funnelJoinSql""".stripMargin,
    "pipe_funnel_ablation" ->
      s"""$funnelCtes,
         |a AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS tok_raw,
         |  CAST(SUM(CASE WHEN q AND L IS NULL AND doc_id % 10 <> 0
         |                 AND C IS NULL THEN n_tok ELSE 0 END) AS BIGINT)
         |    AS tok_all,
         |  CAST(SUM(CASE WHEN L IS NULL AND doc_id % 10 <> 0
         |                 AND C IS NULL THEN n_tok ELSE 0 END) AS BIGINT)
         |    AS tok_no_quality,
         |  CAST(SUM(CASE WHEN q AND doc_id % 10 <> 0
         |                 AND C IS NULL THEN n_tok ELSE 0 END) AS BIGINT)
         |    AS tok_no_dedup,
         |  CAST(SUM(CASE WHEN q AND L IS NULL THEN n_tok ELSE 0 END)
         |    AS BIGINT) AS tok_no_decontam
         |$funnelJoinSql)
         |SELECT tok_raw, tok_all, tok_no_quality, tok_no_dedup,
         |  tok_no_decontam,
         |  (tok_no_quality - tok_all) * 1000 // tok_raw
         |    AS uniq_quality_permille,
         |  (tok_no_dedup - tok_all) * 1000 // tok_raw
         |    AS uniq_dedup_permille,
         |  (tok_no_decontam - tok_all) * 1000 // tok_raw
         |    AS uniq_decontam_permille
         |FROM a""".stripMargin,
    "pipe_shard_assign" ->
      s"""WITH d AS (SELECT
         |    CAST('0x' || substr(md5('shard|' || CAST(doc_id AS VARCHAR)),
         |      1, 8) AS BIGINT) % 32 AS shard,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
         |  FROM documents),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total_docs,
         |               CAST(SUM(n_tok) AS BIGINT) AS total_tokens FROM d),
         |sh AS (SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |         CAST(SUM(n_tok) AS BIGINT) AS token_mass
         |       FROM d GROUP BY 1)
         |SELECT shard, n_docs, token_mass,
         |  CAST(CAST(n_docs AS HUGEINT) * 32000 // total_docs AS BIGINT)
         |    AS doc_load_permille,
         |  CAST(CAST(token_mass AS HUGEINT) * 32000 // total_tokens
         |    AS BIGINT) AS tok_load_permille
         |FROM sh CROSS JOIN tot""".stripMargin,
    // integer bit-length buckets (never floor(log2): 1-ulp-low logs at
    // exact powers of two would flip the bucket)
    "pipe_dup_factor_hist" ->
      s"""WITH gg AS (SELECT md5(text) AS ch, CAST(COUNT(*) AS BIGINT) AS n
         |            FROM documents GROUP BY 1)
         |SELECT CAST(length(bin(n)) - 1 AS BIGINT) AS bucket,
         |  CAST(COUNT(*) AS BIGINT) AS n_groups,
         |  CAST(SUM(n) AS BIGINT) AS n_docs
         |FROM gg GROUP BY 1""".stripMargin,
    // cross-domain template sharing over the same segment-hash grain as
    // the domain dedup family; universal boilerplate (df > 20 domains)
    // and single-domain hashes dropped BEFORE the self-join
    "pipe_domain_overlap" ->
      s"""WITH $domainLineCtes,
         |odh AS MATERIALIZED (SELECT DISTINCT source, h FROM dlines),
         |okeep AS (SELECT h FROM odh GROUP BY h
         |          HAVING COUNT(*) BETWEEN 2 AND 20)
         |SELECT a.source AS domain_a, b.source AS domain_b,
         |  CAST(COUNT(*) AS BIGINT) AS n_shared
         |FROM odh a JOIN odh b ON a.h = b.h AND a.source < b.source
         |JOIN okeep k ON k.h = a.h
         |GROUP BY 1, 2""".stripMargin,
    // first-carrier novelty over the same md5-60 13-gram frame
    "pipe_gram_novelty" ->
      s"""WITH $gram13Ctes,
         |nov AS (SELECT first_doc AS doc_id,
         |          CAST(COUNT(*) AS BIGINT) AS nn FROM fst GROUP BY 1),
         |per AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS ng
         |        FROM dg GROUP BY 1)
         |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(per.ng) AS BIGINT) AS n_grams,
         |  CAST(SUM(COALESCE(nov.nn, 0)) AS BIGINT) AS n_novel,
         |  CAST(SUM(COALESCE(nov.nn, 0)) * 1000 // SUM(per.ng) AS BIGINT)
         |    AS novelty_permille
         |FROM per JOIN documents d USING (doc_id)
         |LEFT JOIN nov ON nov.doc_id = per.doc_id
         |GROUP BY 1""".stripMargin,
    // directional first-carrier flow matrix over the SAME gram chain
    "pipe_gram_provenance" ->
      s"""WITH $gram13Ctes,
         |re AS (SELECT dg.doc_id, fst.first_doc
         |       FROM dg JOIN fst USING (h)
         |       WHERE dg.doc_id <> fst.first_doc),
         |pd AS (SELECT o.source AS src_origin, c.source AS src_carrier,
         |         re.doc_id, CAST(COUNT(*) AS BIGINT) AS cnt
         |       FROM re JOIN documents o ON o.doc_id = re.first_doc
         |       JOIN documents c ON c.doc_id = re.doc_id
         |       GROUP BY 1, 2, 3)
         |SELECT src_origin, src_carrier,
         |  CAST(SUM(cnt) AS BIGINT) AS n_grams,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs
         |FROM pd GROUP BY 1, 2""".stripMargin,
    // quality quartile × dup bucket contingency; cutpoints are exact
    // percentile interpolation (identical on both engines), the dup
    // bucket the same bit-length rule as pipe_dup_factor_hist
    "pipe_quality_dup_matrix" ->
      s"""WITH $charEntropyCtes,
         |$ttrSegmentalCtes,
         |q AS MATERIALIZED (
         |  SELECT e.doc_id,
         |    e.entropy_micro + 2 * t.mean_ttr_ppm - e.simpson_ppm
         |      AS quality_score
         |  FROM entq e JOIN ttrq t ON e.doc_id = t.doc_id),
         |cut AS (SELECT
         |  percentile_cont(CAST(1 AS DOUBLE)/4)
         |    WITHIN GROUP (ORDER BY quality_score) AS q1,
         |  percentile_cont(CAST(1 AS DOUBLE)/2)
         |    WITHIN GROUP (ORDER BY quality_score) AS q2,
         |  percentile_cont(CAST(3 AS DOUBLE)/4)
         |    WITHIN GROUP (ORDER BY quality_score) AS q3
         |  FROM q),
         |gg AS (SELECT md5(text) AS ch, CAST(COUNT(*) AS BIGINT) AS grp_n,
         |         MIN(doc_id) AS keeper_id
         |       FROM documents GROUP BY 1),
         |pd AS (SELECT d.doc_id, len(string_split(d.text, ' ')) AS n_tokens,
         |         gg.grp_n, gg.keeper_id
         |       FROM documents d JOIN gg ON md5(d.text) = gg.ch)
         |SELECT CAST(1 + (CASE WHEN quality_score > q1 THEN 1 ELSE 0 END)
         |         + (CASE WHEN quality_score > q2 THEN 1 ELSE 0 END)
         |         + (CASE WHEN quality_score > q3 THEN 1 ELSE 0 END)
         |       AS BIGINT) AS q_seg,
         |  CAST(length(bin(grp_n)) - 1 AS BIGINT) AS dup_bucket,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS token_mass,
         |  CAST(SUM(CASE WHEN pd.doc_id = keeper_id THEN 1 ELSE 0 END)
         |       AS BIGINT) AS n_keepers
         |FROM pd JOIN q USING (doc_id) CROSS JOIN cut
         |GROUP BY 1, 2""".stripMargin,
    // truncation/padding accounting per candidate context length;
    // kept + lost = total, so the permille needs no corpus-total CTE
    "pipe_context_fit" ->
      s"""WITH t AS (SELECT $nTok AS n FROM documents),
         |f AS (SELECT n, unnest([16, 32, 64]) AS ctx_len FROM t)
         |SELECT CAST(ctx_len AS BIGINT) AS ctx_len,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN n > ctx_len THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_truncated,
         |  CAST(SUM(least(n, ctx_len)) AS BIGINT) AS kept_mass,
         |  CAST(SUM(greatest(n - ctx_len, 0)) AS BIGINT) AS trunc_loss,
         |  CAST(SUM(ctx_len - least(n, ctx_len)) AS BIGINT) AS pad_waste,
         |  CAST(SUM(least(n, ctx_len)) * 1000
         |       // (SUM(least(n, ctx_len)) + SUM(greatest(n - ctx_len, 0)))
         |       AS BIGINT) AS kept_permille
         |FROM f GROUP BY ctx_len""".stripMargin,
    "text_nb_confusion" ->
      s"""WITH $nbCtes
         |SELECT d.lang, p.lang_pred, CAST(COUNT(*) AS BIGINT) AS n_docs
         |FROM documents d JOIN pred p USING (doc_id)
         |GROUP BY 1, 2""".stripMargin,
    "text_nb_f1" ->
      s"""WITH $nbCtes,
         |conf AS MATERIALIZED (
         |  SELECT d.lang, p.lang_pred, CAST(COUNT(*) AS BIGINT) AS n_docs
         |  FROM documents d JOIN pred p USING (doc_id)
         |  GROUP BY 1, 2),
         |t AS (SELECT lang, CAST(SUM(n_docs) AS BIGINT) AS n_true
         |      FROM conf GROUP BY 1),
         |pr AS (SELECT lang_pred AS lang,
         |         CAST(SUM(n_docs) AS BIGINT) AS n_pred
         |       FROM conf GROUP BY 1),
         |dg AS (SELECT lang, n_docs AS tp FROM conf WHERE lang = lang_pred),
         |j AS (SELECT t.lang, COALESCE(tp, 0) AS tp, n_true,
         |        COALESCE(n_pred, 0) AS n_pred
         |      FROM t LEFT JOIN pr USING (lang) LEFT JOIN dg USING (lang))
         |SELECT lang, tp, n_true, n_pred,
         |  CASE WHEN n_pred = 0 THEN CAST(0 AS BIGINT)
         |       ELSE CAST(tp * 1000 // n_pred AS BIGINT) END AS prec_permille,
         |  CAST(tp * 1000 // n_true AS BIGINT) AS rec_permille,
         |  CAST(tp * 2000 // (n_true + n_pred) AS BIGINT) AS f1_permille
         |FROM j""".stripMargin,
    "text_nb_accuracy" ->
      s"""WITH $nbCtes
         |SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN d.lang = p.lang_pred THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_correct,
         |  CAST(SUM(CASE WHEN d.lang = p.lang_pred THEN 1 ELSE 0 END)
         |    * 1000 // COUNT(*) AS BIGINT) AS acc_permille
         |FROM documents d JOIN pred p USING (doc_id)
         |GROUP BY 1""".stripMargin,
    // margin = best − runner-up (exact BIGINTs); bit-length buckets
    // (the pipe_dup_factor_hist rule — never floor(log2))
    "text_nb_calibration" ->
      s"""WITH $nbCtes,
         |snd AS (SELECT s.doc_id, MAX(s.score) AS s2
         |        FROM scored s JOIN best USING (doc_id)
         |        WHERE s.score < best.b GROUP BY 1),
         |marg AS (SELECT best.doc_id,
         |           CAST(best.b - COALESCE(snd.s2, best.b) AS BIGINT)
         |             AS margin
         |         FROM best LEFT JOIN snd USING (doc_id)),
         |mb AS (SELECT m.doc_id,
         |         CAST(length(bin(m.margin)) - 1 AS BIGINT) AS bucket,
         |         m.margin,
         |         CASE WHEN d.lang = p.lang_pred THEN 1 ELSE 0 END AS ok
         |       FROM marg m JOIN pred p USING (doc_id)
         |       JOIN documents d USING (doc_id))
         |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(ok) AS BIGINT) AS n_correct,
         |  CAST(MIN(margin) AS BIGINT) AS min_margin,
         |  CAST(MAX(margin) AS BIGINT) AS max_margin,
         |  CAST(SUM(ok) * 1000 // COUNT(*) AS BIGINT) AS acc_permille
         |FROM mb GROUP BY 1""".stripMargin,
    // the calibrated classifier as an admission gate at a fixed
    // integer margin cut (1 bit of likelihood ratio)
    "text_nb_gate" ->
      s"""WITH $nbCtes,
         |snd AS (SELECT s.doc_id, MAX(s.score) AS s2
         |        FROM scored s JOIN best USING (doc_id)
         |        WHERE s.score < best.b GROUP BY 1),
         |marg AS (SELECT best.doc_id,
         |           CAST(best.b - COALESCE(snd.s2, best.b) AS BIGINT)
         |             AS margin
         |         FROM best LEFT JOIN snd USING (doc_id)),
         |ga AS (SELECT p.lang_pred,
         |         CASE WHEN m.margin >= $NbGateMarginCut
         |              THEN 1 ELSE 0 END AS admit,
         |         CASE WHEN d.lang = p.lang_pred THEN 1 ELSE 0 END AS ok
         |       FROM marg m JOIN pred p USING (doc_id)
         |       JOIN documents d USING (doc_id))
         |SELECT lang_pred, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(admit) AS BIGINT) AS n_admitted,
         |  CAST(SUM(admit * ok) AS BIGINT) AS n_admitted_correct,
         |  CAST(SUM(admit) * 1000 // COUNT(*) AS BIGINT) AS admit_permille,
         |  CAST(CASE WHEN SUM(admit) > 0
         |       THEN SUM(admit * ok) * 1000 // SUM(admit)
         |       ELSE 0 END AS BIGINT) AS admitted_precision_permille
         |FROM ga GROUP BY 1""".stripMargin,
    "text_lr_train" -> {
      val steps = graft.operators.LogReg.Steps
      s"""WITH $lrCtes
         |SELECT bkt, CAST(w AS BIGINT) AS w_micro FROM lrw$steps"""
        .stripMargin
    },
    "text_lr_gate" -> {
      val cut = graft.operators.LogReg.GateCutMicro
      s"""WITH $lrCtes
         |SELECT y, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN p >= $cut THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_admitted,
         |  CAST(SUM(p) AS BIGINT) AS p_mass_micro,
         |  CAST(SUM(CASE WHEN p >= $cut THEN 1 ELSE 0 END) * 1000
         |    // COUNT(*) AS BIGINT) AS admit_permille
         |FROM lrsc GROUP BY 1""".stripMargin
    },
    "text_lr_calibration" ->
      s"""WITH $lrCtes
         |SELECT LEAST(9, p // 100000) AS bucket,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(y) * 1000 // COUNT(*) AS BIGINT) AS pos_permille,
         |  CAST(SUM(p) // COUNT(*) AS BIGINT) AS mean_p_micro
         |FROM lrsc GROUP BY 1""".stripMargin,
    "text_lr_auc" ->
      s"""WITH $lrCtes,
         |apv AS (SELECT p AS v, CAST(SUM(y) AS BIGINT) AS ca,
         |          CAST(SUM(1 - y) AS BIGINT) AS cb
         |        FROM lrsc GROUP BY 1),
         |acum AS (SELECT v, ca, cb,
         |    SUM(ca) OVER (ORDER BY v) AS cuma,
         |    SUM(cb) OVER (ORDER BY v) AS cumb
         |  FROM apv),
         |atot AS (SELECT CAST(MAX(cuma) AS BIGINT) AS n_pos,
         |           CAST(MAX(cumb) AS BIGINT) AS n_neg FROM acum)
         |SELECT n_pos, n_neg,
         |  CAST(SUM(ca * ((cuma + cumb - ca - cb) * 2 + ca + cb + 1))
         |    - n_pos * (n_pos + 1) AS BIGINT) AS u2,
         |  CAST(CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
         |    ELSE CAST(SUM(ca * ((cuma + cumb - ca - cb) * 2 + ca + cb
         |        + 1)) - n_pos * (n_pos + 1) AS HUGEINT) * 1000000
         |      // (2 * CAST(n_pos AS HUGEINT) * n_neg)
         |    END AS BIGINT) AS auc_micro
         |FROM acum, atot GROUP BY n_pos, n_neg""".stripMargin,
    "text_lr_ece" ->
      s"""WITH $lrCtes,
         |eb AS (SELECT LEAST(9, p // 100000) AS bucket,
         |    CAST(COUNT(*) AS BIGINT) AS nb,
         |    CAST(SUM(y) AS BIGINT) AS pos,
         |    CAST(SUM(p) AS BIGINT) AS pm
         |  FROM lrsc GROUP BY 1)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
         |  CAST(SUM(nb) AS BIGINT) AS n_docs,
         |  CAST(CASE WHEN SUM(nb) = 0 THEN NULL
         |    ELSE SUM(abs(pm - pos * 1000000)) // SUM(nb)
         |    END AS BIGINT) AS ece_micro,
         |  CAST(MAX(abs(pm - pos * 1000000) // nb) AS BIGINT)
         |    AS mce_micro
         |FROM eb""".stripMargin,
    "text_lr_pr_curve" ->
      s"""WITH $lrCtes,
         |ptot AS (SELECT CAST(SUM(y) AS BIGINT) AS n_pos_total
         |         FROM lrsc),
         |pth AS (SELECT t.thr_micro, n_pos_total,
         |    CAST(SUM(CASE WHEN p >= t.thr_micro THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_admitted,
         |    CAST(SUM(CASE WHEN p >= t.thr_micro THEN y ELSE 0 END)
         |      AS BIGINT) AS tp
         |  FROM lrsc CROSS JOIN ptot
         |  CROSS JOIN (SELECT CAST(unnest([${
             (1 to 9).map(_ * 100000L).mkString(", ")}]) AS BIGINT)
         |              AS thr_micro) t
         |  GROUP BY 1, 2)
         |SELECT thr_micro, n_admitted, tp,
         |  CAST(CASE WHEN n_admitted = 0 THEN 0
         |    ELSE tp * 1000 // n_admitted END AS BIGINT)
         |    AS precision_permille,
         |  CAST(CASE WHEN n_pos_total = 0 THEN 0
         |    ELSE tp * 1000 // n_pos_total END AS BIGINT)
         |    AS recall_permille,
         |  CAST(CASE WHEN tp = 0 THEN 0
         |    ELSE tp * 2000 // (n_admitted + n_pos_total) END AS BIGINT)
         |    AS f1_permille
         |FROM pth""".stripMargin,
    "text_unigram_nll" ->
      // ln() quantization mirrors TextOps.unigramNll: per-word log-probs
      // land on a 1e-6 integer grid BEFORE the per-doc sum, so the only
      // float reduction is over exact integers (order-independent); the
      // two ln() call sites carry the sanctioned round-6 quantization
      s"""WITH tok AS (SELECT doc_id, unnest($wordsSql) AS w FROM documents),
         |vc AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY 1),
         |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t, COUNT(*) AS v FROM vc),
         |lp AS (SELECT w, CAST(round(ln(CAST(c + 1 AS DOUBLE)) * 1000000) AS BIGINT) AS lp6
         |       FROM vc),
         |d AS (SELECT doc_id, COUNT(*) AS n_tokens,
         |        CAST(SUM(lp6) AS BIGINT) AS s6
         |      FROM tok JOIN lp USING (w) GROUP BY 1)
         |SELECT doc_id, n_tokens,
         |  round(round(ln(CAST(t + v AS DOUBLE)), 6)
         |        - (CAST(s6 AS DOUBLE) / 1000000.0) / n_tokens, 6) AS nll
         |FROM d, tot""".stripMargin,
    "doc_tfidf_top_terms" -> {
      // ROUND(...,6) mirrors the Spark quantization — ln() is 1-ulp
      // engine-dependent (see docTfIdfTopTerms scaladoc)
      val score =
        s"""ROUND(CAST(tf.tf AS DOUBLE) *
           |  ln(CAST((SELECT n FROM n) AS DOUBLE) / CAST(dfq.df AS DOUBLE)), 6)""".stripMargin
      s"""WITH tok AS (SELECT doc_id, unnest($wordsSql) AS term FROM documents),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
         |dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT COUNT(*) AS n FROM documents)
         |SELECT doc_id, term, tf, df, tf_idf FROM (
         |  SELECT tf.doc_id, tf.term, tf.tf, dfq.df, $score AS tf_idf,
         |    ROW_NUMBER() OVER (PARTITION BY tf.doc_id
         |      ORDER BY $score DESC, tf.term ASC) AS rn
         |  FROM tf JOIN dfq ON tf.term = dfq.term)
         |WHERE rn = 1""".stripMargin
    },
    "pipe_dedup_keep" ->
      s"""WITH RECURSIVE
         |pairs AS MATERIALIZED (SELECT doc_a, doc_b FROM ($jaccardPairsSql) jp),
         |edges AS MATERIALIZED (SELECT doc_a AS s, doc_b AS d FROM pairs
         |          UNION SELECT doc_b, doc_a FROM pairs),
         |nodes AS (SELECT DISTINCT s AS id FROM edges),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.d, reach.r FROM reach JOIN edges e ON e.s = reach.id),
         |clusters AS (SELECT id AS doc_id, MIN(r) AS cluster_id
         |             FROM reach GROUP BY id),
         |losers AS (SELECT doc_id FROM clusters WHERE doc_id <> cluster_id)
         |SELECT lang, COUNT(*) AS n_kept,
         |  CAST(SUM(n_chars) AS BIGINT) AS kept_chars
         |FROM documents
         |WHERE NOT EXISTS (SELECT 1 FROM losers WHERE losers.doc_id = documents.doc_id)
         |GROUP BY lang""".stripMargin,
    "dedup_clusters" ->
      s"""WITH RECURSIVE
         |$clusterClosureCtes
         |SELECT doc_id, cluster_id FROM clusters""".stripMargin,
    "dedup_cluster_purity" ->
      s"""WITH RECURSIVE
         |$clusterClosureCtes,
         |cs AS (SELECT cluster_id, d.source, CAST(COUNT(*) AS BIGINT) AS c
         |       FROM clusters JOIN documents d USING (doc_id)
         |       GROUP BY 1, 2),
         |pc AS (SELECT cluster_id, CAST(SUM(c) AS BIGINT) AS sz,
         |              CAST(MAX(c) AS BIGINT) AS maj
         |       FROM cs GROUP BY 1)
         |SELECT CAST(length(bin(sz)) - 1 AS BIGINT) AS bucket,
         |  CAST(COUNT(*) AS BIGINT) AS n_clusters,
         |  CAST(SUM(CASE WHEN maj = sz THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_pure,
         |  CAST(SUM(maj * 1000 // sz) // COUNT(*) AS BIGINT)
         |    AS mean_purity_permille
         |FROM pc GROUP BY 1""".stripMargin,
    "dedup_containment_pairs" -> containmentPairsSql,
    // Method-agreement rollup over the three pair sets. Every pair CTE
    // is MATERIALIZED: each is referenced from the chained FULL JOIN
    // and DuckDB 1.0 inlines multi-referenced CTEs (the jaccard chain
    // would otherwise replay per reference — CLAUDE.md).
    "text_lang_jsd" -> {
      def lq(x: String) =
        s"CAST(round(log2(CAST($x AS DOUBLE)) * 1000000) AS BIGINT)"
      s"""WITH wc AS MATERIALIZED (
         |  SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS w
         |        FROM documents)
         |  WHERE len(w) > 0 GROUP BY 1, 2),
         |tot AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n
         |        FROM wc GROUP BY 1),
         |p AS (SELECT a.lang AS la, a.n AS na, b.lang AS lb, b.n AS nb
         |      FROM tot a JOIN tot b ON a.lang < b.lang),
         |e AS (SELECT p.la, p.lb, p.na, p.nb, wc.w,
         |  CAST(SUM(CASE WHEN wc.lang = p.la THEN wc.c ELSE 0 END)
         |    AS BIGINT) AS a,
         |  CAST(SUM(CASE WHEN wc.lang = p.lb THEN wc.c ELSE 0 END)
         |    AS BIGINT) AS b
         |  FROM wc JOIN p ON wc.lang = p.la OR wc.lang = p.lb
         |  GROUP BY 1, 2, 3, 4, 5),
         |t AS (SELECT la, lb, na, nb, a, b,
         |  CAST(a AS HUGEINT) * nb + CAST(b AS HUGEINT) * na AS nw FROM e),
         |g AS (SELECT la, lb, na, nb, CAST(COUNT(*) AS BIGINT) AS n_types,
         |  SUM(nw * ${lq("nw")}) AS sm,
         |  CAST(SUM(CASE WHEN a > 0 THEN a * ${lq("a")} ELSE 0 END)
         |    AS BIGINT) AS sa,
         |  CAST(SUM(CASE WHEN b > 0 THEN b * ${lq("b")} ELSE 0 END)
         |    AS BIGINT) AS sb
         |  FROM t GROUP BY 1, 2, 3, 4),
         |h AS (SELECT la AS lang_a, lb AS lang_b, n_types,
         |  ${lq("2 * na * nb")} - CAST(sm // (2 * na * nb) AS BIGINT)
         |    AS h_m_micro,
         |  ${lq("na")} - sa // na AS h_a_micro,
         |  ${lq("nb")} - sb // nb AS h_b_micro
         |  FROM g)
         |SELECT lang_a, lang_b, n_types, h_m_micro, h_a_micro, h_b_micro,
         |  2 * h_m_micro - h_a_micro - h_b_micro AS jsd_micro2
         |FROM h""".stripMargin
    },
    "dedup_lsh_recall_curve" ->
      s"""WITH jp AS MATERIALIZED (
         |  SELECT doc_a, doc_b, CAST(floor(jaccard * 20) AS BIGINT) AS bin
         |  FROM ($jaccardPairsSql) jpx),
         |sigs AS ($sigsSql),
         |bands AS ($bandsSql),
         |mp AS MATERIALIZED (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, 1 AS cand
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bucket = b.bucket
         |  WHERE a.doc_id < b.doc_id)
         |SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  CAST(SUM(COALESCE(cand, 0)) AS BIGINT) AS n_candidates,
         |  CAST(SUM(COALESCE(cand, 0)) * 1000 // COUNT(*) AS BIGINT)
         |    AS recall_permille
         |FROM jp LEFT JOIN mp USING (doc_a, doc_b)
         |GROUP BY 1""".stripMargin,
    "dedup_method_agreement" ->
      s"""WITH jp AS MATERIALIZED (
         |  SELECT doc_a, doc_b, 1 AS in_jaccard FROM ($jaccardPairsSql) jpx),
         |sigs AS ($sigsSql),
         |bands AS ($bandsSql),
         |mp AS MATERIALIZED (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    1 AS in_minhash
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bucket = b.bucket
         |  WHERE a.doc_id < b.doc_id),
         |sk AS (SELECT doc_id, $simHashSql AS sh FROM documents),
         |sbanded AS (
         |  ${(0 until 4).map(b =>
               s"SELECT doc_id, sh, $b AS band, (sh >> ${b * 4}) & 15 AS nib FROM sk")
              .mkString("\n  UNION ALL\n  ")}),
         |sp AS MATERIALIZED (
         |  SELECT doc_a, doc_b, 1 AS in_simhash FROM (
         |    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |      bit_count(xor(a.sh, b.sh)) AS hamming
         |    FROM sbanded a JOIN sbanded b
         |      ON a.band = b.band AND a.nib = b.nib
         |    WHERE a.doc_id < b.doc_id) spx
         |  WHERE hamming <= 3)
         |SELECT CAST(COALESCE(in_jaccard, 0) AS BIGINT) AS in_jaccard,
         |  CAST(COALESCE(in_minhash, 0) AS BIGINT) AS in_minhash,
         |  CAST(COALESCE(in_simhash, 0) AS BIGINT) AS in_simhash,
         |  COUNT(*) AS n_pairs
         |FROM jp
         |FULL OUTER JOIN mp USING (doc_a, doc_b)
         |FULL OUTER JOIN sp USING (doc_a, doc_b)
         |GROUP BY 1, 2, 3""".stripMargin,
    "dedup_simhash_pairs" ->
      s"""WITH sk AS (SELECT doc_id, $simHashSql AS sh FROM documents),
         |banded AS (
         |  ${(0 until 4).map(b =>
               s"SELECT doc_id, sh, $b AS band, (sh >> ${b * 4}) & 15 AS nib FROM sk")
              .mkString("\n  UNION ALL\n  ")}),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    bit_count(xor(a.sh, b.sh)) AS hamming
         |  FROM banded a JOIN banded b ON a.band = b.band AND a.nib = b.nib
         |  WHERE a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, hamming FROM cand WHERE hamming <= 3""".stripMargin,
  )
}
