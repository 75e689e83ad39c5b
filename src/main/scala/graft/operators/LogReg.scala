package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Trained hard-sigmoid logistic-regression quality filter — the
  * DoReMi/CCNet curation step past Naive Bayes: a linear classifier
  * over hashed bigram PRESENCE features, trained by a FIXED number of
  * full-batch gradient steps with ALL arithmetic on the 1e-6 integer
  * grid, so training itself — not just scoring — replays bit-exactly
  * in oracle SQL and is invariant to partitioning.
  *
  * The activation is the piecewise-linear HARD sigmoid
  * σ̂(z) = clamp(½ + z/4, 0, 1) (the binary-net/"hard sigmoid"
  * activation of Courbariaux et al. 2015, public), which keeps the
  * whole GD recurrence in exact integers — a true logistic would put a
  * transcendental INSIDE the training loop, where per-step quantized
  * rounding error compounds instead of cancelling. Per step:
  * p̂ = clamp(500000 + z DIV 4), residual r = p̂ − y·10⁶,
  * grad_b = Σ_{train docs ∋ b} r, w_b ← w_b − grad_b DIV (4n) —
  * learning rate ¼ with every DIV shifted nonnegative first (Spark DIV
  * truncates toward zero while DuckDB // floors; they agree only on
  * nonnegative operands — the power-iteration discipline).
  *
  * Scale shape (100 TB): featurization is ONE distinct shuffle at
  * (doc, bucket) grain; each training step is a (B+1)-row broadcast
  * join plus two aggregates over the PERSISTED feature frame — the
  * corpus text is read once, ever, and each step's exchange carries
  * ≤ B+1 rows per map partition (map-side combine on the bucket key).
  * The trained weights are (B+1) rows: a frozen broadcast artifact at
  * serving time (the nbClassifyGateBatch pattern), and the serving
  * score is a pure per-doc map + one doc-keyed aggregate.
  */
object LogReg {

  /** Hashed feature space (DSIR's 64-bucket md5 family, seed "lr|"). */
  val Buckets = 64

  /** The bias feature rides bucket [[Buckets]] — present in every doc,
    * so no document is ever dropped by the score join. */
  val BiasBkt: Int = Buckets

  /** Full-batch GD steps — fixed, so the unrolled oracle twin stays
    * well under the DuckDB binder budget (CLAUDE.md: ~512 steps). */
  val Steps = 8

  /** 2^40, a multiple of 4: the z-shift keeping the hard-sigmoid DIV
    * nonnegative (|z| ≤ (B+1)·max|w| ≤ 65·(Steps·2.5e5 + 5e5) ≪ 2^40). */
  val Shift: Long = 1L << 40

  /** Update shift constant: |grad| ≤ n·10⁶ < 4·n·K at K = 2^20, so the
    * shifted gradient divide never sees a negative left operand. */
  val UpdK: Long = 1L << 20

  /** Admission cut for the gate rows: p̂ ≥ 0.6 — above the σ̂(0) = 0.5
    * indifference point by one calibration decile. */
  val GateCutMicro = 600000L

  /** clamp(500000 + z/4, [0, 10⁶]) over a micro-grid z column name —
    * shared verbatim (modulo DIV spelling) with the oracle twin. */
  def pHatExpr(zCol: String): Column =
    expr(s"greatest(CAST(0 AS BIGINT), least(CAST(1000000 AS BIGINT), " +
         s"500000 + (($zCol + $Shift) DIV 4 - ${Shift / 4})))")

  /** Hashed-bigram presence features `(doc_id, y, bkt)` plus one bias
    * row per document. Presence (distinct), not counts — the standard
    * hashing-trick featurization; `y` is the 0/1 target. */
  def features(docs: DataFrame, idCol: String, textCol: String,
               y: Column): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"), y.cast("long").as("y"),
                           col(textCol).as("t"))
    val grams = base
      .select(col("doc_id"), col("y"),
              explode(TextOps.wordShingles(col("t"), 2)).as("g"))
      .select(col("doc_id"), col("y"),
        (conv(substring(md5(concat(lit("lr|"), col("g"))), 1, 4), 16, 10)
           .cast("long") % Buckets).as("bkt"))
      .distinct()
    grams.unionByName(
      base.select(col("doc_id"), col("y"), lit(BiasBkt.toLong).as("bkt")))
  }

  /** [[Steps]] full-batch GD steps from w = 0 over a feature frame —
    * returns the trained `(bkt, w_micro)` table (a (B+1)-row literal).
    *
    * Driver-batched (the BPE-trainer pattern): each step runs ONE
    * distributed aggregate chain over the persisted feature frame and
    * collects the (B+1)-row gradient — weights re-enter the next step
    * as a [[typedlit]] map (ONE Literal node — the r9 CreateMap rule).
    * The in-plan alternative (each step's frame joining the previous
    * step's frame) embeds w_{t−1} TWICE per step (once under the score
    * join, once under the update), so the logical plan grows 2^Steps —
    * measured as a >2 GB plan string at Steps = 8. EAGER at
    * construction (Steps+1 bounded driver actions — the documented
    * BPE wart); callers that need laziness memoize the returned
    * literal. */
  def train(feats: DataFrame): DataFrame = {
    val f = PlanCache.reuse(feats)
    val spark = f.sparkSession
    import spark.implicits._
    val n = f.select(col("doc_id")).distinct().count()
    // training is EAGER: an empty/filtered-out split must fail legibly
    // here, not as a bare ArithmeticException in the 4n divide below
    // (ADVICE r13)
    require(n > 0,
      "LogReg.train: empty training split (0 distinct docs) — nothing to fit")
    var w: Map[Long, Long] = (0L to Buckets.toLong).map(_ -> 0L).toMap
    for (_ <- 1 to Steps) {
      val wm = typedlit(w)
      val r = f.groupBy(col("doc_id"), col("y"))
        .agg(sum(try_element_at(wm, col("bkt"))).as("z"))
        .select(col("doc_id"),
                (pHatExpr("z") - col("y") * lit(1000000L)).as("r"))
      val g = f.join(r, Seq("doc_id"))
        .groupBy(col("bkt")).agg(sum(col("r")).as("g"))
        .as[(Long, Long)].collect().toMap
      w = w.map { case (b, wv) =>
        // g + 4nK >= 0 (|g| <= n·10⁶ < 4nK), so Scala / == Spark DIV
        b -> (wv - ((g.getOrElse(b, 0L) + 4L * n * UpdK) / (4L * n) - UpdK))
      }
    }
    w.toSeq.sortBy(_._1).toDF("bkt", "w_micro")
  }

  /** Score a feature frame against frozen weights: per doc the micro
    * z and hard-sigmoid p̂. The bias feature guarantees every doc
    * survives the inner join. */
  def score(feats: DataFrame, weights: DataFrame): DataFrame =
    feats
      .join(broadcast(weights.select(col("bkt"),
                                     col("w_micro").as("w"))), Seq("bkt"))
      .groupBy(col("doc_id"), col("y"))
      .agg(sum(col("w")).as("z"))
      .select(col("doc_id"), col("y"), col("z"),
              pHatExpr("z").as("p_micro"))
}
