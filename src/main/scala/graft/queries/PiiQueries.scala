package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{PlanCache, Pii}
import graft.sources.Tables

/** PII detection / redaction panel over the `documents` fixture — the
  * LLM-curation staple (see [[graft.operators.Pii]] for the rule
  * families and the cross-engine regex constraints). The fixture text
  * carries no PII, so every query runs over
  * [[graft.operators.Pii.withSyntheticPii]]'s deterministic in-plan
  * augmentation (pure integer arithmetic over doc_id, replayed
  * formula-identically in the oracle SQL — the RasterQueries
  * manufacture-in-plan pattern).
  *
  * Scale shape: scan + redact are per-row map work (no shuffle); the
  * per-doc stats frame is narrow (id, source, 4 counts, 4 masses,
  * 1 flag — the TEXT columns are projected away before the reuse
  * persist, so the cache never holds a second copy of the corpus) and
  * every panel query is one map-side-combined aggregation over it. */
object PiiQueries {

  /** Per-doc PII stats for an arbitrary (doc_id, source, text) frame —
    * the unit the streaming gate emits per micro-batch. Stateless and
    * per-doc independent, so streamed ∪ ≡ batch for any partitioning
    * (StreamingSpec law). */
  private[graft] def docStatsFor(docs: DataFrame): DataFrame = {
    val aug = docs.select(col("doc_id"), col("source"),
      Pii.withSyntheticPii(col("doc_id"), col("text")).as("pii_text"))
      .withColumn("red_text", Pii.redact(col("pii_text")))
    Pii.scanCounts(aug, "pii_text")
      .select(col("doc_id"), col("source"),
        col("n_email"), col("n_phone"), col("n_ipv4"), col("n_id9"),
        length(col("pii_text")).cast("long").as("chars_before"),
        length(col("red_text")).cast("long").as("chars_after"),
        size(split(col("pii_text"), " ")).cast("long").as("tokens_before"),
        size(split(col("red_text"), " ")).cast("long").as("tokens_after"),
        when(col("pii_text") =!= col("red_text"), 1L).otherwise(0L)
          .as("is_redacted"))
  }

  /** The panel's shared narrow per-doc stats frame (5 consumers, all
    * alphabetically adjacent in the registry, so the first consumer's
    * reuse() covers the rest without a prewarm). */
  private def docStats(s: SparkSession, dir: String): DataFrame =
    PlanCache.reuse(docStatsFor(Tables.spread(Tables.documents(s, dir))))

  /** Per-source PII density across all four rule families: hit totals,
    * any-PII document counts, and hits per million chars (exact
    * integer permille-style ratio). */
  def piiDensity(s: SparkSession, dir: String): DataFrame =
    docStats(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_email")).as("n_email"),
           sum(col("n_phone")).as("n_phone"),
           sum(col("n_ipv4")).as("n_ipv4"),
           sum(col("n_id9")).as("n_id9"),
           sum(when(col("n_email") + col("n_phone") + col("n_ipv4") +
                    col("n_id9") > 0, 1L).otherwise(0L)).as("n_docs_pii"),
           sum(col("chars_before")).as("n_chars"))
      .withColumn("hits_ppm_chars",
        expr("(n_email + n_phone + n_ipv4 + n_id9) * 1000000 DIV n_chars"))

  /** Redaction transform with exact mass accounting: per source, the
    * char and whitespace-token masses before/after the masked rewrite
    * plus the redacted-doc count. Token mass is INVARIANT under these
    * families (replacement tokens contain no whitespace) — the panel
    * proves it rather than assuming it. */
  def piiRedactMass(s: SparkSession, dir: String): DataFrame =
    docStats(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("is_redacted")).as("n_docs_redacted"),
           sum(col("chars_before")).as("chars_before"),
           sum(col("chars_after")).as("chars_after"),
           sum(col("tokens_before")).as("tokens_before"),
           sum(col("tokens_after")).as("tokens_after"))
      .withColumn("chars_removed",
        col("chars_before") - col("chars_after"))

  /** Long-format per-rule-family rollup (corpus grain): total hits,
    * documents hit, and the document hit rate in exact permille —
    * the shape a redaction-policy review reads. stack() unpivots the
    * wide counts; every doc contributes one row per family, so the
    * per-family count(*) is the corpus size. */
  def piiRuleHits(s: SparkSession, dir: String): DataFrame =
    docStats(s, dir)
      .selectExpr("doc_id",
        "stack(4, 'email', n_email, 'phone', n_phone, " +
          "'ipv4', n_ipv4, 'id9', n_id9) AS (family, n)")
      .groupBy(col("family"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n")).as("n_hits"),
           sum(when(col("n") > 0, 1L).otherwise(0L)).as("n_docs_hit"))
      .withColumn("hit_rate_permille",
        expr("n_docs_hit * 1000 DIV n_docs"))

  /** Detector evaluation against the ARITHMETIC ground truth: the
    * synthetic injection makes "which docs carry family f" a pure
    * doc_id formula (email ⇔ id%3=0, phone ⇔ id%5=0, ip ⇔ id%7=0,
    * id9 ⇔ id%11=0), so exact TP/FP/FN — and precision/recall in
    * exact permille — are computable with no labeled fixture. The
    * harness shape every rule-based scrubber needs before running at
    * corpus scale; on this corpus the regexes are exact (word-salad
    * text can't collide with any family), which the row PROVES rather
    * than assumes. Guarded permilles: a family with zero truth or
    * zero detections reports 0, not a divide-by-zero. */
  def piiDetectorEval(s: SparkSession, dir: String): DataFrame = {
    val mods = Seq("email" -> 3, "phone" -> 5, "ipv4" -> 7, "id9" -> 11)
    val stackArgs = mods.map { case (f, m) =>
      s"'$f', CASE WHEN doc_id % $m = 0 THEN 1L ELSE 0L END, " +
        s"CASE WHEN n_$f > 0 THEN 1L ELSE 0L END"
    }.mkString(", ")
    docStats(s, dir)
      .selectExpr("doc_id",
        s"stack(4, $stackArgs) AS (family, truth, det)")
      .groupBy(col("family"))
      .agg(sum(col("truth")).as("n_truth"),
           sum(col("det")).as("n_detected"),
           sum(col("truth") * col("det")).as("n_tp"),
           sum((lit(1L) - col("truth")) * col("det")).as("n_fp"),
           sum(col("truth") * (lit(1L) - col("det"))).as("n_fn"))
      .withColumn("precision_permille",
        when(col("n_detected") > 0,
             expr("n_tp * 1000 DIV n_detected")).otherwise(lit(0L)))
      .withColumn("recall_permille",
        when(col("n_truth") > 0,
             expr("n_tp * 1000 DIV n_truth")).otherwise(lit(0L)))
  }

  /** PII co-occurrence histogram — the re-identification risk panel
    * (one identifier leaks little; an email AND a phone AND an IP in
    * one document is a linkage record): docs bucketed by how many
    * DISTINCT rule families fire in them, with hit and char masses
    * per bucket. One map-side bucket + a ≤5-row rollup. */
  def piiCooccurrence(s: SparkSession, dir: String): DataFrame =
    docStats(s, dir)
      .withColumn("n_families",
        (when(col("n_email") > 0, 1L).otherwise(0L) +
         when(col("n_phone") > 0, 1L).otherwise(0L) +
         when(col("n_ipv4") > 0, 1L).otherwise(0L) +
         when(col("n_id9") > 0, 1L).otherwise(0L)))
      .groupBy(col("n_families"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_email") + col("n_phone") + col("n_ipv4") +
               col("n_id9")).as("n_hits"),
           sum(col("chars_before")).as("n_chars"))

  // ------------------------------------------------------------ oracle

  /** Shared CTE chain: synthetic augmentation + per-doc stats, the
    * formula-identical DuckDB twin of [[docStatsFor]]. */
  private val piiCtes: String = {
    val red = Pii.redactSql("pii_text")
    def cnt(pat: String, as: String) =
      s"CAST(len(regexp_extract_all(pii_text, '$pat')) AS BIGINT) AS $as"
    s"""pii AS MATERIALIZED (
       |  SELECT doc_id, source,
       |    ${Pii.syntheticSql("doc_id", "text")} AS pii_text
       |  FROM documents),
       |pst AS MATERIALIZED (
       |  SELECT doc_id, source,
       |    ${cnt(Pii.Email, "n_email")},
       |    ${cnt(Pii.Phone, "n_phone")},
       |    ${cnt(Pii.Ipv4, "n_ipv4")},
       |    ${cnt(Pii.Id9, "n_id9")},
       |    CAST(length(pii_text) AS BIGINT) AS chars_before,
       |    CAST(length($red) AS BIGINT) AS chars_after,
       |    CAST(len(string_split(pii_text, ' ')) AS BIGINT) AS tokens_before,
       |    CAST(len(string_split($red, ' ')) AS BIGINT) AS tokens_after,
       |    CASE WHEN $red <> pii_text THEN CAST(1 AS BIGINT)
       |         ELSE CAST(0 AS BIGINT) END AS is_redacted
       |  FROM pii)""".stripMargin
  }

  val registry: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pii_density"       -> (piiDensity _),
    "pii_redact_mass"   -> (piiRedactMass _),
    "pii_rule_hits"     -> (piiRuleHits _),
    "pii_detector_eval" -> (piiDetectorEval _),
    "pii_cooccurrence"  -> (piiCooccurrence _),
  )

  val oracles: Map[String, String] = Map(
    "pii_density" ->
      s"""WITH $piiCtes
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_email) AS BIGINT) AS n_email,
         |  CAST(SUM(n_phone) AS BIGINT) AS n_phone,
         |  CAST(SUM(n_ipv4) AS BIGINT) AS n_ipv4,
         |  CAST(SUM(n_id9) AS BIGINT) AS n_id9,
         |  CAST(SUM(CASE WHEN n_email + n_phone + n_ipv4 + n_id9 > 0
         |           THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_pii,
         |  CAST(SUM(chars_before) AS BIGINT) AS n_chars,
         |  CAST((SUM(n_email) + SUM(n_phone) + SUM(n_ipv4) + SUM(n_id9))
         |    * 1000000 // SUM(chars_before) AS BIGINT) AS hits_ppm_chars
         |FROM pst GROUP BY 1""".stripMargin,
    "pii_redact_mass" ->
      s"""WITH $piiCtes
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(is_redacted) AS BIGINT) AS n_docs_redacted,
         |  CAST(SUM(chars_before) AS BIGINT) AS chars_before,
         |  CAST(SUM(chars_after) AS BIGINT) AS chars_after,
         |  CAST(SUM(tokens_before) AS BIGINT) AS tokens_before,
         |  CAST(SUM(tokens_after) AS BIGINT) AS tokens_after,
         |  CAST(SUM(chars_before) - SUM(chars_after) AS BIGINT)
         |    AS chars_removed
         |FROM pst GROUP BY 1""".stripMargin,
    "pii_rule_hits" ->
      s"""WITH $piiCtes,
         |long AS (
         |  SELECT doc_id, 'email' AS family, n_email AS n FROM pst
         |  UNION ALL SELECT doc_id, 'phone', n_phone FROM pst
         |  UNION ALL SELECT doc_id, 'ipv4', n_ipv4 FROM pst
         |  UNION ALL SELECT doc_id, 'id9', n_id9 FROM pst)
         |SELECT family, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n) AS BIGINT) AS n_hits,
         |  CAST(SUM(CASE WHEN n > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_docs_hit,
         |  CAST(SUM(CASE WHEN n > 0 THEN 1 ELSE 0 END) * 1000 // COUNT(*)
         |    AS BIGINT) AS hit_rate_permille
         |FROM long GROUP BY 1""".stripMargin,
    "pii_detector_eval" -> {
      val branches = Seq(("email", 3), ("phone", 5), ("ipv4", 7),
                         ("id9", 11)).map { case (f, m) =>
        s"""SELECT doc_id, '$f' AS family,
           |  CASE WHEN doc_id % $m = 0 THEN 1 ELSE 0 END AS truth,
           |  CASE WHEN n_$f > 0 THEN 1 ELSE 0 END AS det FROM pst"""
          .stripMargin
      }.mkString("\n  UNION ALL ")
      s"""WITH $piiCtes,
         |long AS ($branches)
         |SELECT family, CAST(SUM(truth) AS BIGINT) AS n_truth,
         |  CAST(SUM(det) AS BIGINT) AS n_detected,
         |  CAST(SUM(truth * det) AS BIGINT) AS n_tp,
         |  CAST(SUM((1 - truth) * det) AS BIGINT) AS n_fp,
         |  CAST(SUM(truth * (1 - det)) AS BIGINT) AS n_fn,
         |  CAST(CASE WHEN SUM(det) > 0
         |       THEN SUM(truth * det) * 1000 // SUM(det)
         |       ELSE 0 END AS BIGINT) AS precision_permille,
         |  CAST(CASE WHEN SUM(truth) > 0
         |       THEN SUM(truth * det) * 1000 // SUM(truth)
         |       ELSE 0 END AS BIGINT) AS recall_permille
         |FROM long GROUP BY 1""".stripMargin
    },
    "pii_cooccurrence" ->
      s"""WITH $piiCtes
         |SELECT CAST((CASE WHEN n_email > 0 THEN 1 ELSE 0 END)
         |  + (CASE WHEN n_phone > 0 THEN 1 ELSE 0 END)
         |  + (CASE WHEN n_ipv4 > 0 THEN 1 ELSE 0 END)
         |  + (CASE WHEN n_id9 > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_families,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_email + n_phone + n_ipv4 + n_id9) AS BIGINT)
         |    AS n_hits,
         |  CAST(SUM(chars_before) AS BIGINT) AS n_chars
         |FROM pst GROUP BY 1""".stripMargin,
  )
}
