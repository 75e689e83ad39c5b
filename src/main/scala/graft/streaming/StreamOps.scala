package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface (SURVEY §2.9: the reference is batch-only
  * — this is the engine's extension for the driver's `events` stream
  * shape). Same logical operators as `queries.EventQueries`'s batch
  * twins, expressed over an unbounded source:
  * `readStream → withWatermark → window/session_window/state → writeStream`.
  *
  * All transforms are DataFrame → DataFrame so they bind to any source
  * (Kafka, files, rate, MemoryStream in tests) and run identically in a
  * batch DataFrame — that equivalence is what the ScalaTest spec checks.
  */
object StreamOps {

  /** Tumbling event-time counts with a watermark: late rows beyond
    * `watermark` are dropped, window state is evicted past it — bounded
    * state at any scale. */
  def tumblingCounts(events: DataFrame, watermark: String = "10 minutes",
                     window_ : String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
              col("n_events"), col("sum_value"))

  /** Built-in session windows (gap-based) — the declarative form. */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
                    watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("session_start"), col("w.end").as("session_end"),
              col("user_id"), col("n_events"))

  /** Stream-stream interval join: actions of `leftType` matched to a
    * PRIOR action of `rightType` by the same user within `withinMinutes`.
    * Watermarks on both sides bound the join state (rows older than the
    * watermark minus the interval are evicted) — the standard
    * click-attribution shape. */
  def intervalJoin(events: DataFrame, leftType: String, rightType: String,
                   withinMinutes: Int = 10,
                   watermark: String = "10 minutes"): DataFrame =
    intervalJoinImpl(events, leftType, rightType, withinMinutes, watermark,
                     "inner")

  private def intervalJoinImpl(events: DataFrame, leftType: String,
                               rightType: String, withinMinutes: Int,
                               watermark: String,
                               joinType: String): DataFrame = {
    val left = events.filter(col("event_type") === leftType)
      .select(col("user_id"), col("event_id").as("left_id"),
              col("ts").as("left_ts"))
      .withWatermark("left_ts", watermark)
    val right = events.filter(col("event_type") === rightType)
      .select(col("user_id").as("r_user_id"), col("event_id").as("right_id"),
              col("ts").as("right_ts"))
      .withWatermark("right_ts", watermark)
    left.join(right,
      col("user_id") === col("r_user_id") &&
      col("right_ts") <= col("left_ts") &&
      col("right_ts") >= col("left_ts") - expr(s"INTERVAL $withinMinutes MINUTES"),
      joinType)
      .select(col("user_id"), col("left_id"), col("right_id"),
              col("left_ts"), col("right_ts"))
  }

  /** LEFT OUTER stream-stream interval join: like [[intervalJoin]] but
    * unmatched left rows are EMITTED (with null right columns) once the
    * watermark passes their join window — the attribution form that
    * keeps unconverted events. Outer results are inherently watermark-
    * delayed: state for a left row can only be released as "no match"
    * when no future right row could still fall in its interval. */
  def intervalJoinOuter(events: DataFrame, leftType: String, rightType: String,
                        withinMinutes: Int = 10,
                        watermark: String = "10 minutes"): DataFrame =
    intervalJoinImpl(events, leftType, rightType, withinMinutes, watermark,
                     "left_outer")

  /** Streaming exact dedup: drop re-deliveries of the same key, keeping
    * state only within the watermark horizon
    * (`dropDuplicatesWithinWatermark`) — unbounded-stream-safe, unlike
    * plain dropDuplicates whose key state grows forever. */
  def dedupeStream(events: DataFrame, keyCols: Seq[String],
                   watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Stream-static enrichment join: each micro-batch joins against the
    * (re-readable) static dimension — stateless on the stream side, so
    * no watermark is required and state never grows. The static side is
    * broadcast when under the threshold; at scale this is THE pattern
    * for attaching dimensions to a firehose without a shuffle. */
  def enrichStream(events: DataFrame, dim: DataFrame,
                   keyCol: String): DataFrame =
    events.join(broadcast(dim), Seq(keyCol), "left_outer")

  /** Online corpus-LM scoring: a batch-trained unigram model
    * (`TextOps.unigramModel` vocab table + the pre-rounded ln(T+V)
    * scalar) applied to a document stream. The stream side explodes
    * tokens and joins the BROADCAST static vocab; the per-doc aggregate
    * is unwindowed keyed state — one row per in-flight doc. Same
    * integer-grid arithmetic as the batch scorer, so on a shared corpus
    * the streamed scores are bit-identical to `TextOps.unigramNll`
    * (spec-pinned). Tokens outside the training vocab are dropped by
    * the inner join — the standard closed-vocab convention; widen with
    * a left join + OOV smoothing constant if the stream drifts. */
  def scoreStream(docs: DataFrame, lp: DataFrame, lnTV6: Double): DataFrame =
    // the ONE tokenizer (TextOps.tokenize), not a re-spelled split: the
    // bit-identical-to-batch contract would otherwise depend on two
    // copies staying in sync (ADVICE r7)
    docs.select(col("doc_id"),
                explode(graft.operators.TextOps.tokenize(col("text"))).as("w"))
      .join(broadcast(lp), Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("lp6")).as("s6"))
      .select(col("doc_id"), col("n_tokens"),
        round(lit(lnTV6) -
          (col("s6").cast("double") / lit(1e6)) / col("n_tokens"), 6)
          .as("nll"))

  /** Streaming admission gate: the Gopher quality-rule panel applied
    * per document on an ingest stream — STATELESS map-side flags plus
    * the keep/drop decision, so the gate adds no streaming state at
    * all and scales with the micro-batch scan. The rule expressions
    * are `TextOps.gopherFlags`, the same single definition the batch
    * report aggregates, so streamed decisions are bit-identical to a
    * batch replay (spec-pinned). */
  def gateStream(docs: DataFrame): DataFrame = {
    val f = graft.operators.TextOps.gopherFlags(col("text"))
    docs.select(col("doc_id"),
        f.getField("wl").as("wordlen_ok"),
        f.getField("lo").as("len_ok"),
        f.getField("so").as("stopword_ok"),
        f.getField("ro").as("repetition_ok"))
      .withColumn("decision",
        when(col("wordlen_ok") && col("len_ok") && col("stopword_ok") &&
             col("repetition_ok"), lit("keep")).otherwise(lit("drop")))
  }

  /** Stateless character-diversity admission gate — the streaming twin
    * of the batch `text_char_entropy` row: the SAME quantized metrics
    * (Gini-Simpson ppm, micro-bit entropy) computed per ROW from the
    * document's own char array instead of a corpus aggregation, so the
    * gate adds zero streaming state. The per-char counts ride one
    * `transform(array_distinct(cs), c -> size(filter(cs, ...)))` whose
    * inner lambda reads only materialized column attributes (the
    * round-5 HOF-closure rule: nothing recomputed per element), and
    * both rollups are exact integer `aggregate` folds with the same
    * 1e-6 log₂ grid as the batch — a spec pins the two implementations
    * row-identical. Empty documents are dropped (the batch aggregation
    * produces no row for them). */
  def charDiversityGate(docs: DataFrame,
                        maxSimpsonPpm: Long = 200000L): DataFrame =
    docs
      .withColumn("cs", filter(split(col("text"), ""),
                               c => length(c) > 0))
      .filter(size(col("cs")) > 0)
      .withColumn("counts",
        transform(array_distinct(col("cs")),
          c => size(filter(col("cs"), x => x === c)).cast("long")))
      .select(col("doc_id"),
        size(col("cs")).cast("long").as("n_chars"),
        size(col("counts")).cast("long").as("n_distinct"),
        expr("aggregate(counts, 0L, (a, x) -> a + x * x)").as("s2"),
        expr("""aggregate(counts, 0L, (a, x) -> a + x *
                CAST(round(log2(CAST(x AS DOUBLE)) * 1000000) AS BIGINT))""")
          .as("slq"))
      .select(col("doc_id"), col("n_chars"), col("n_distinct"),
        expr("s2 * 1000000 DIV (n_chars * n_chars)").as("simpson_ppm"),
        (expr("CAST(round(log2(CAST(n_chars AS DOUBLE)) * 1000000) AS BIGINT)")
          - expr("slq DIV n_chars")).as("entropy_micro"))
      .withColumn("decision",
        when(col("simpson_ppm") <= maxSimpsonPpm, lit("keep"))
          .otherwise(lit("drop")))

  /** Running per-key totals in update mode: an unwindowed streaming
    * aggregate whose state is one row per key — bounded by key
    * cardinality (event types here), not by stream length. Exposes the
    * update/complete output-mode axis the windowed ops don't. */
  def runningTotals(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))

  /** Streaming LINE-DEDUP gate: each micro-batch of new documents is
    * probed against a STANDING hot-line blocklist artifact
    * ([[graft.operators.Dedup.hotLines]], persisted by the previous
    * batch run) and the per-doc boilerplate report is handed to
    * `sink`. The corpus is never rescanned — the stream-static join,
    * whose strategy Spark's size rule picks, touches only the
    * blocklist and the micro-batch's own lines; state is EXTERNAL
    * (the artifact), so the query itself is stateless and trivially
    * scales. Building a batch's report runs no job of its own. Because a
    * document's report depends only on (doc, blocklist), the union of
    * streamed outputs equals one batch [[graft.operators.Dedup
    * .lineDedupIncrement]] over the same docs for ANY micro-batch
    * partitioning (StreamingSpec pins this). */
  def lineDedupGateBatch(newDocs: DataFrame, blocklist: DataFrame,
                         segTokens: Int = 10)
                        (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    gate(newDocs, sink)(graft.operators.Dedup.lineDedupIncrement(
      blocklist, _, "doc_id", "text", segTokens))

  /** Streaming CLASSIFICATION gate: each micro-batch of new documents
    * is scored against a FROZEN Naive-Bayes model (the
    * `(params, term)` artifact of
    * [[graft.queries.DocQueries.nbModel]], trained offline) and the
    * (doc_id, lang_pred) verdicts are handed to `sink` — the
    * routing/filter stage a live ingestion pipeline runs before
    * admitting a document to a language shard. State is EXTERNAL (the
    * model frames), the query itself is stateless; the model is
    * class×vocab-bounded so at production scale the term table is a
    * persisted/broadcast artifact exactly like the dedup blocklist.
    * Because classification is per-doc independent, the union of
    * streamed outputs equals one batch [[DocQueries.nbClassify]] over
    * the same docs for ANY micro-batch partitioning (StreamingSpec
    * pins this). */
  def nbClassifyGateBatch(newDocs: DataFrame, params: DataFrame,
                          term: DataFrame)
                         (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // persist the frozen model before the first batch, so no batch's
    // scope owns (and releases) it
    graft.operators.PlanCache.reuse(params)
    graft.operators.PlanCache.reuse(term)
    gate(newDocs, sink)(graft.queries.DocQueries.nbClassify(_, params, term))
  }

  /** Streaming LR quality gate: each micro-batch of new (doc_id, lang,
    * text) documents is featurized and scored against the FROZEN
    * trained logistic-regression weights
    * ([[graft.operators.LogReg.score]]) — the admission filter a live
    * ingestion pipeline runs with a model trained offline. State is
    * EXTERNAL (the (B+1)-row weight table, persisted before the first
    * batch like the NB model); scoring is per-doc independent, so the
    * union of streamed outputs equals one batch
    * [[graft.operators.LogReg.score]] over the same docs for ANY
    * micro-batch partitioning (StreamingSpec pins this). */
  def lrScoreGateBatch(newDocs: DataFrame, weights: DataFrame)
                      (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    graft.operators.PlanCache.reuse(weights)
    gate(newDocs, sink)(batch => graft.operators.LogReg.score(
      graft.operators.LogReg.features(
        batch, "doc_id", "text", col("lang") === "en"),
      weights))
  }

  /** Streaming PII gate: each micro-batch of new documents runs the
    * scan+redact rule families ([[graft.operators.Pii]]) and hands the
    * per-doc stats rows ([[graft.queries.PiiQueries.docStatsFor]] —
    * counts per family, char/token masses before/after, redacted flag)
    * to `sink` — the admission scrubber a live ingestion pipeline runs
    * before a document reaches the corpus store. Entirely STATELESS
    * (pure per-row map work, no model, no blocklist), so the union of
    * streamed outputs equals one batch pass for ANY micro-batch
    * partitioning (StreamingSpec pins this). */
  def piiScanGateBatch(newDocs: DataFrame)
                      (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    gate(newDocs, sink)(graft.queries.PiiQueries.docStatsFor)

  /** Streaming C4 bad-words gate: each micro-batch of (doc_id, source,
    * text) runs the batch gate's per-doc blocklist stats
    * ([[graft.queries.DocQueries.badwordsDocStats]] — hit count, token
    * mass, flagged) and hands them to `sink` — the page-drop decision a
    * live ingestion pipeline applies at admission. STATELESS (the
    * blocklist is a constant; no model, no history), so streamed
    * outputs union to exactly one batch pass for ANY micro-batch
    * partitioning (StreamingSpec pins this). */
  def badwordsGateBatch(newDocs: DataFrame)
                       (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    gate(newDocs, sink)(graft.queries.DocQueries.badwordsDocStats)

  /** The per-batch gate shape shared by the gates above: `stage` maps a
    * micro-batch to its report and `sink` consumes it. Frames the batch
    * newly persisted through [[graft.operators.PlanCache.reuse]] (e.g.
    * [[graft.queries.DocQueries.nbScored]]) are released once the sink
    * returns, so a long-running gate's cache stays the size of one
    * batch; frames cached before the batch (the frozen model) stay. */
  private def gate(input: DataFrame, sink: (DataFrame, Long) => Unit)
                  (stage: DataFrame => DataFrame)
      : org.apache.spark.sql.streaming.StreamingQuery =
    input.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.PlanCache.scoped(sink(stage(batch), batchId))
      }
      .start()

  // ------------------------------------------------------- upsert sink

  /** Streaming MERGE: maintain a keyed current-state table from a change
    * stream via foreachBatch, with versioned-snapshot commits that make
    * batch REPLAY idempotent (the missing half of exactly-once for
    * non-transactional sinks).
    *
    * Each micro-batch merges into the last committed snapshot with
    * last-writer-wins per key (highest `orderCol`; within-batch dups
    * collapse the same way), writes the merged state to
    * `stateDir/v_<batchId>`, then commits by atomically moving a pointer
    * file. A crash between write and commit replays the batch into the
    * same version directory (overwrite) and re-commits — converging, not
    * duplicating. This is the same version+pointer protocol Delta/Iceberg
    * commit with; at production scale the snapshot write is partitioned
    * and the merge is the [[graft.operators.ChangeCapture]] shuffle, one
    * per batch on the merge key.
    *
    * Reads of the current state go through [[currentState]]. */
  def upsertForeachBatch(updates: DataFrame, keyCols: Seq[String],
                         orderCol: String, stateDir: String,
                         checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    updates.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val merged = mergeSnapshot(
          currentState(s, stateDir, batch.schema), batch, keyCols, orderCol)
        merged.write.mode("overwrite").parquet(s"$stateDir/v_$batchId")
        val tmp = java.nio.file.Paths.get(stateDir, "_latest.tmp")
        java.nio.file.Files.write(tmp, batchId.toString.getBytes("UTF-8"))
        java.nio.file.Files.move(tmp,
          java.nio.file.Paths.get(stateDir, "_latest"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        ()
      }
      .start()

  /** One merge step: last-writer-wins per key between a committed
    * snapshot and a batch of updates (highest `orderCol` survives; the
    * batch side is the upsert). Idempotent — merging the same batch
    * twice yields the same snapshot, which is what makes the versioned
    * replay safe. */
  def mergeSnapshot(prev: DataFrame, batch: DataFrame, keyCols: Seq[String],
                    orderCol: String): DataFrame = {
    val u = prev.unionByName(batch)
    // Deterministic total order: equal-orderCol ties break on a content
    // hash over every HASHABLE column (name-sorted), so replayed merges
    // produce the SAME surviving row regardless of union/partition order
    // — the idempotent-replay contract needs a total order, not just
    // orderCol. Map-typed columns are excluded: Spark disallows hashing
    // MapType (spark.sql.legacy.allowHashOnMapType), so including one
    // would fail at analysis (ADVICE r7); rows identical on every
    // hashable column tie, and either survivor is then the same row for
    // snapshot purposes unless they differ ONLY in a map column — the
    // documented restriction of this sink.
    def hashable(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: org.apache.spark.sql.types.MapType => false
      case s: org.apache.spark.sql.types.StructType =>
        s.fields.forall(f => hashable(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => hashable(a.elementType)
      case _ => true
    }
    val hashCols = u.columns.sorted.filter(c => hashable(u.schema(c).dataType))
    val tieBreak =
      if (hashCols.nonEmpty) xxhash64(hashCols.map(col): _*) else lit(0L)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col(orderCol).desc, tieBreak.asc)
    u.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** The last committed upsert snapshot (empty with `schema` before the
    * first commit). */
  def currentState(s: SparkSession, stateDir: String,
                   schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val ptr = java.nio.file.Paths.get(stateDir, "_latest")
    if (java.nio.file.Files.exists(ptr)) {
      val v = new String(java.nio.file.Files.readAllBytes(ptr), "UTF-8").trim
      s.read.parquet(s"$stateDir/v_$v")
    } else s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
                             schema)
  }

  // ---------------------------------------------------- custom state op

  case class StreamEvent(event_id: Long, ts: Timestamp, user_id: Long,
                         event_type: String, value: Double)
  case class SessionState(startUs: Long, lastUs: Long, n: Int)
  case class SessionOut(user_id: Long, start_us: Long, end_us: Long, n_events: Int)

  /** Microsecond event time — Timestamp.getTime alone is milliseconds
    * and would truncate the fixture's µs precision (diverging from the
    * batch twin's ts_us ordering). */
  private def micros(ts: Timestamp): Long =
    math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L

  case class DriftIn(event_type: String, day: Long, c: Long)
  case class DriftState(lastDay: Long, sPos: Long, sNeg: Long)
  case class DriftOut(event_type: String, day: Long, s_pos: Long,
                      s_neg: Long, alarm: Boolean)

  /** Streaming CUSUM drift monitor — the online half of the batch
    * `evt_cusum_changepoint` scan, in the frozen-artifact pattern
    * (mm_phash_incr / lineDedupGateBatch): the baseline daily rate per
    * event type is a persisted artifact `(base_days, base_total)` from
    * a previous batch run, and the stream maintains Page's two-sided
    * recurrence on exact cross-multiplied integers —
    * `dev = c·base_days − base_total`, `s⁺ ← max(0, s⁺ + dev)`,
    * `s⁻ ← max(0, s⁻ − dev)` — with an alarm when either side exceeds
    * `alarmDays` baseline-days of accumulated deviation. State is one
    * 3-long record per event type (`flatMapGroupsWithState`, Update
    * mode), never a history buffer; late or duplicate days (≤ the last
    * processed day) are dropped so replays can't double-count — the
    * same monotone-day contract the batch scan's day grid gives for
    * free. Streamed outputs equal the in-JVM recurrence for ANY
    * micro-batch split (spec-pinned). */
  def cusumDriftStream(dayCounts: Dataset[DriftIn],
                       baseline: Map[String, (Long, Long)],
                       alarmDays: Long = 5L): Dataset[DriftOut] = {
    import dayCounts.sparkSession.implicits._
    dayCounts.groupByKey(_.event_type)
      .flatMapGroupsWithState[DriftState, DriftOut](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (et: String, rows: Iterator[DriftIn], state: GroupState[DriftState]) =>
          val (bd, bt) = baseline.getOrElse(et, (1L, 0L))
          var st = state.getOption.getOrElse(DriftState(Long.MinValue, 0L, 0L))
          val out = rows.toSeq.sortBy(_.day).flatMap { r =>
            if (r.day <= st.lastDay) None
            else {
              val dev = r.c * bd - bt
              st = DriftState(r.day, math.max(0L, st.sPos + dev),
                              math.max(0L, st.sNeg - dev))
              Some(DriftOut(et, r.day, st.sPos, st.sNeg,
                            st.sPos > alarmDays * bt ||
                            st.sNeg > alarmDays * bt))
            }
          }
          state.update(st)
          out.iterator
      }
  }

  /** Running per-user RFM state maintained by a stream — the live
    * feature store under [[graft.queries.EventQueries.rfmSegments]]'
    * batch census: last-activity µs, event count, exact purchase
    * cents. Every component is COMMUTATIVE-mergeable (max / count /
    * sum), so unlike the day-ordered monitors the final state equals
    * the batch aggregate under ANY micro-batch split or arrival order
    * (spec-pinned); quintile bucketing stays a batch pass over the
    * |users|-bounded state, exactly where the batch row does it. */
  case class RfmState(last_us: Long, frequency: Long,
                      monetary_cents: Long)
  case class RfmOut(user_id: Long, last_us: Long, frequency: Long,
                    monetary_cents: Long)

  def rfmStateStream(events: Dataset[StreamEvent]): Dataset[RfmOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[RfmState, RfmOut](GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[StreamEvent],
         state: GroupState[RfmState]) =>
          var st = state.getOption.getOrElse(RfmState(Long.MinValue, 0L, 0L))
          rows.foreach { e =>
            st = RfmState(math.max(st.last_us, micros(e.ts)),
              st.frequency + 1L,
              st.monetary_cents + (if (e.event_type == "purchase")
                math.round(e.value * 100) else 0L))
          }
          state.update(st)
          RfmOut(user, st.last_us, st.frequency, st.monetary_cents)
      }
  }

  /** Daily-count input row for [[spikeEwmaStream]]. */
  case class EwmaIn(event_type: String, day: Long, cnt: Long)
  /** Ring of the ≤ 8 most recent observed daily counts, oldest first. */
  case class EwmaRing(cnts: Seq[Long])
  case class EwmaOut(event_type: String, day: Long, cnt: Long,
                     fnum: Long, fden: Long, is_spike: Boolean)

  /** Streaming twin of the batch binary-decay EWMA spike monitor
    * ([[graft.queries.EventQueries.spikeEwma]]'s lag-window frame):
    * each arriving (type, day, cnt) is scored against the forecast over
    * the ≤ 8 PRECEDING observed days with weights 2^(8−j) — the whole
    * recurrence stays exact BIGINT (spike = cnt·fden > 2·fnum by
    * integer cross-multiplication; division never runs) — then pushed
    * into the ring. State is a ≤ 8-long ring per event type
    * (`flatMapGroupsWithState`, Update mode), never a history buffer;
    * with per-type day-ordered arrival (the same monotone-day contract
    * as [[cusumDriftStream]]) the emitted rows equal the batch
    * lag-window frame row-for-row for ANY micro-batch split
    * (spec-pinned against the registered batch rollup). */
  def spikeEwmaStream(daily: Dataset[EwmaIn]): Dataset[EwmaOut] = {
    import daily.sparkSession.implicits._
    daily.groupByKey(_.event_type)
      .flatMapGroupsWithState[EwmaRing, EwmaOut](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (et: String, rows: Iterator[EwmaIn], state: GroupState[EwmaRing]) =>
          var ring = state.getOption.getOrElse(EwmaRing(Nil)).cnts
          val outs = rows.toSeq.sortBy(_.day).map { r =>
            val hist = ring.reverse // hist(0) = lag 1, newest first
            val fnum = hist.zipWithIndex
              .map { case (c, i) => c << (7 - i) }.sum
            val fden = hist.zipWithIndex
              .map { case (_, i) => 1L << (7 - i) }.sum
            val spike = fnum > 0 && r.cnt * fden > fnum * 2
            ring = (ring :+ r.cnt).takeRight(8)
            EwmaOut(et, r.day, r.cnt, fnum, fden, spike)
          }
          state.update(EwmaRing(ring))
          outs.iterator
      }
  }

  case class CepState(lastClickUs: Long, lastAbUs: Long, nStage2: Long,
                      nComplete: Long, firstCompleteUs: Long)
  case class CepOut(user_id: Long, n_stage2: Long, n_complete: Long,
                    first_complete_us: Option[Long], has_pattern: Boolean)

  /** Strict-sequence CEP as a stream — the production half of the batch
    * `evt_cep_sequence` query (EventQueries.cepSequenceFrame): detect
    * click → view → purchase with each step within `gapMinutes` of its
    * predecessor, per user, emitting the running per-user pattern
    * counts in Update mode.
    *
    * The batch form is two chained conditional running-max windows;
    * that recurrence carries EXACTLY three µs values per user — the
    * latest click, the latest completed (click,view) stage, and the
    * first full completion — so the stream state is one tiny fixed
    * record per user (`mapGroupsWithState`), never an event buffer.
    * Micro-batches are processed in (event-time, event_id) order, the
    * same total order as the batch window frames, so with per-user
    * in-order arrival the final emits equal the batch aggregate
    * row-for-row (spec-pinned). NoTimeout keeps every user's record
    * live (the batch query is an all-history aggregate); a production
    * deployment bounding state adds an event-time TTL timeout exactly
    * like [[sessionizeWithState]]'s. */
  def cepSequenceStream(events: Dataset[StreamEvent],
                        gapMinutes: Long = 30): Dataset[CepOut] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    events.groupByKey(_.user_id)
      .mapGroupsWithState[CepState, CepOut](GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[StreamEvent], state: GroupState[CepState]) =>
          var st = state.getOption.getOrElse(
            CepState(Long.MinValue, Long.MinValue, 0L, 0L, Long.MaxValue))
          rows.toSeq.sortBy(e => (micros(e.ts), e.event_id)).foreach { e =>
            val us = micros(e.ts)
            e.event_type match {
              case "click" =>
                st = st.copy(lastClickUs = math.max(st.lastClickUs, us))
              case "view" =>
                // sentinel guard BEFORE subtraction: us − Long.MinValue
                // overflows
                if (st.lastClickUs != Long.MinValue &&
                    us - st.lastClickUs <= gapUs)
                  st = st.copy(lastAbUs = math.max(st.lastAbUs, us),
                               nStage2 = st.nStage2 + 1)
              case "purchase" =>
                if (st.lastAbUs != Long.MinValue &&
                    us - st.lastAbUs <= gapUs)
                  st = st.copy(nComplete = st.nComplete + 1,
                               firstCompleteUs =
                                 math.min(st.firstCompleteUs, us))
              case _ => ()
            }
          }
          state.update(st)
          CepOut(user, st.nStage2, st.nComplete,
                 if (st.firstCompleteUs == Long.MaxValue) None
                 else Some(st.firstCompleteUs),
                 st.nComplete > 0L)
      }
  }

  /** Sessionization via `flatMapGroupsWithState` — the imperative-state
    * escape hatch for semantics `session_window` can't express (e.g.
    * emitting per-event session updates, custom merge rules). State is
    * one small record per active user; an EVENT-TIME timeout emits and
    * evicts a user's open session once the watermark passes its gap
    * horizon, so state stays bounded and final sessions are not lost.
    * Callers must set a watermark on `ts` (see the spec / Smoke). */
  def sessionizeWithState(events: Dataset[StreamEvent],
                          gapMinutes: Long = 30): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[StreamEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            Iterator.single(SessionOut(user, st.startUs, st.lastUs, st.n))
          } else {
            // within a trigger, order the user's micro-batch by event time
            val sorted = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))
            var st = state.getOption.orNull
            val closed = Seq.newBuilder[SessionOut]
            sorted.foreach { e =>
              val us = micros(e.ts)
              st match {
                case null =>
                  st = SessionState(us, us, 1)
                case SessionState(s0, last, n) if us - last > gapUs =>
                  closed += SessionOut(user, s0, last, n)
                  st = SessionState(us, us, 1)
                case SessionState(s0, _, n) =>
                  st = SessionState(s0, us, n + 1)
              }
            }
            if (st != null) {
              state.update(st)
              // fire once the event-time watermark passes the gap after
              // the session's last activity — CEILING to ms so µs
              // truncation can never fire the timeout early (an event
              // still inside the gap must find its state alive)
              state.setTimeoutTimestamp(
                math.floorDiv(st.lastUs + gapUs + 999L, 1000L))
            } else state.remove()
            closed.result().iterator
          }
      }
  }
}
