package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.operators.{Graphs, PlanCache}
import graft.sources.Tables
import Canon._

/** Event-time windowing over the `events` fixture — the batch
  * realizations of the streaming surface (tumbling / sliding / session
  * windows, per-window ranking). `graft.streaming.StreamOps` wires the
  * same logic as real Structured Streaming queries; these batch twins
  * are what the DuckDB oracle can replay.
  *
  * Time canonicalization: DuckDB's parquet reader truncates the
  * fixture's TIMESTAMP(NANOS) to microseconds, so all bucket arithmetic
  * is on epoch-µs (`ts_ns DIV 1000` ≡ DuckDB `epoch_us(ts)`); window
  * starts are rebuilt with `timestamp_micros`/`make_timestamp`.
  */
object EventQueries {

  private val HourUs = 3600L * 1000000L
  private val HalfHourUs = 1800L * 1000000L
  private val DayUs = 86400L * 1000000L

  private def withTsUs(df: DataFrame): DataFrame =
    df.withColumn("ts_us", expr("ts_ns DIV 1000"))

  // ------------------------------------------------------------------
  // Family-shared frames (r16 evt pass — VERDICT r15 #1): the event
  // family's recurring subtrees, built ONCE (PlanCache.reuse, prewarm-
  // pinned) instead of once per consumer. At fixture scale every evt row
  // is driver-latency-bound (events is 100 k rows; 8 cores ≈ 32 cores on
  // the family, PERF_r15 scaling block), so the win is skipping whole
  // scan→shuffle subtrees per query, not CPU. At corpus scale the same
  // frames are the family's natural materialization grain: user-day
  // activity (bounded by user-days, not raw events), the per-user
  // lifetime panel (|users| rows), the type-transition matrix
  // (|types|²·|users| at the mid grain).
  // ------------------------------------------------------------------

  /** Deduplicated (user_id, day) activity — consumed by
    * [[stickiness]], [[AnalyticsQueries.dauWau]], [[retentionDaily]],
    * [[hllWau]] (register max is dedup-invariant) and, via
    * [[userFirstDay]], the first-seen queries. */
  private[queries] def userDays(s: SparkSession, dir: String): DataFrame =
    PlanCache.reuse(
      Tables.events(s, dir)
        .select(col("user_id"), expr(s"ts_ns DIV 1000 DIV $DayUs").as("day"))
        .distinct())

  /** Per-user first-seen day (min over the deduplicated day set ≡ min
    * over raw events) — consumed by [[newUsersDaily]] and
    * [[retentionDaily]]'s cohorts. */
  private[queries] def userFirstDay(s: SparkSession, dir: String): DataFrame =
    PlanCache.reuse(
      userDays(s, dir).groupBy(col("user_id"))
        .agg(min(col("day")).as("first_day")))

  /** Per-user lifetime panel: one corpus scan + one user-keyed hash
    * aggregate serving five registry rows' per-user bases —
    * [[userConcentration]] (n_events, cents), [[rfmSegments]]
    * (last_us, n_events, purchase_cents), [[funnel]] / [[funnelTiming]]
    * (per-type first timestamps), [[windowFunnel]]'s anchor stage
    * (signup_us), [[AnalyticsQueries.userValueDeciles]] (total_dec).
    * Every column is an exact aggregate (BIGINT / DECIMAL / conditional
    * min), so each consumer's values are bit-identical to its previous
    * dedicated aggregate. |users|-bounded at any corpus size. */
  private[queries] def userPanel(s: SparkSession, dir: String): DataFrame =
    PlanCache.reuse(
      withTsUs(Tables.events(s, dir))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
             max(col("ts_us")).as("last_us"),
             sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"),
             sum(when(col("event_type") === "purchase",
                 expr("CAST(round(value * 100) AS BIGINT)"))
               .otherwise(0L)).as("purchase_cents"),
             sum(Canon.dec(col("value"))).as("total_dec"),
             min(when(col("event_type") === "signup", col("ts_us")))
               .as("signup_us"),
             min(when(col("event_type") === "click", col("ts_us")))
               .as("click_us"),
             min(when(col("event_type") === "purchase", col("ts_us")))
               .as("purchase_us")))

  /** Tumbling 1-hour windows × event_type — Spark's native `window()`
    * (struct of ntz start/end), exact-decimal value sums. */
  def tumblingHourly(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), exactSum(col("value")).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
              col("n_events"), col("sum_value"))

  /** Sliding 1-hour windows every 30 minutes (each event in 2 windows). */
  def slidingCounts(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), exactAvg(col("value")).as("avg_value"))
      .select(col("w.start").as("window_start"), col("n_events"), col("avg_value"))

  /** Session windows per user with a 30-minute inactivity gap — the
    * batch form of `mapGroupsWithState` sessionization: lag → gap flag →
    * prefix-sum session ids → per-session aggregates. Two window passes
    * over one shuffle on user_id (same partitioning reused). */
  def sessionWindows(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
    // the session table is CacheManager-shared (r16): [[topSessions]]
    // consumes the same frame one bench slot later, and without the
    // reuse it re-ran the whole lag→cumsum→aggregate sessionization
    // (the dedup_simhash_pairs precedent)
    PlanCache.reuse(withTsUs(Tables.events(s, dir))
      .withColumn("prev_us", lag(col("ts_us"), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_us").isNull ||
             col("ts_us") - col("prev_us") > lit(HalfHourUs), 1).otherwise(0))
      .withColumn("session_id", sum(col("is_new")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
           min(col("ts_us")).as("start_us"),
           max(col("ts_us")).as("end_us"))
      .withColumn("duration_min",
        (col("end_us") - col("start_us")).cast(DoubleType) / lit(60000000.0)))
  }

  /** Top-10 longest sessions corpus-wide: the session labeling composed
    * with the global top-k operator (TakeOrderedAndProject — no full
    * sort of the session table). Tie-broken by (user, session). */
  def topSessions(s: SparkSession, dir: String): DataFrame =
    graft.operators.Relational.globalTopK(
      sessionWindows(s, dir)
        .select(col("user_id"), col("session_id"), col("n_events"),
                col("duration_min")),
      Seq(col("duration_min").desc, col("user_id").asc,
          col("session_id").asc), 10)

  /** Sessionization via Spark's BUILT-IN session_window (batch mode) —
    * cross-validates the declarative operator against the lag/cumsum
    * oracle: same membership and counts; the builtin's window end is
    * last-event + gap by definition, replayed in SQL as end_us + gap. */
  def sessionBuiltin(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
              expr("unix_micros(CAST(w.start AS TIMESTAMP))").as("start_us"),
              expr("unix_micros(CAST(w.end AS TIMESTAMP))").as("end_us"),
              col("n_events"))

  /** Per-(user, day) top event by value — rank-limited window. */
  def dailyTopEvent(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("day"))
      .orderBy(col("value").desc, col("event_id").asc)
    withTsUs(Tables.events(s, dir))
      .withColumn("day", expr(s"ts_us DIV $DayUs"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("day"), col("event_id"), col("value"))
  }

  /** Daily event-type share: grouped counts + a second windowed pass for
    * the day totals (count ratios of identical longs — exact). */
  def dailyTypeShare(s: SparkSession, dir: String): DataFrame = {
    val counts = withTsUs(Tables.events(s, dir))
      .withColumn("day", expr(s"ts_us DIV $DayUs"))
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    counts.withColumn("share",
      col("n_events").cast(DoubleType) /
        sum(col("n_events")).over(Window.partitionBy(col("day"))))
  }

  /** JSON scalar extraction from the props payload column + grouped
    * integer stats (exact: int sums, double division of identical
    * values). */
  def jsonExtract(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(count(col("k")).as("n"),
           sum(col("k")).as("sum_k"),
           (sum(col("k")).cast(DoubleType) / count(col("k"))).as("avg_k"))

  /** 7-day rolling revenue per user via a RANGE frame (set-based, so
    * order-free and exactly cross-engine): day-grain pre-aggregation,
    * then rangeBetween(-6, 0) over the day number. */
  def rolling7d(s: SparkSession, dir: String): DataFrame = {
    val daily = withTsUs(Tables.events(s, dir))
      .withColumn("day", expr(s"ts_us DIV $DayUs"))
      .groupBy(col("user_id"), col("day"))
      .agg(sum(Canon.dec(col("value"))).as("day_value"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rangeBetween(-6, 0)
    daily
      .withColumn("rolling_7d", sum(col("day_value")).over(w).cast(DoubleType))
      .withColumn("day_value", col("day_value").cast(DoubleType))
  }

  /** AS-OF join: every click attributed to the user's latest prior (or
    * simultaneous) purchase — `Relational.asofJoin` composition; the
    * oracle is DuckDB's native ASOF LEFT JOIN. Purchases pre-deduped to
    * one row per (user, µs) so the tie payload is deterministic. */
  def asofAttribution(s: SparkSession, dir: String): DataFrame = {
    val ev = withTsUs(Tables.events(s, dir))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts_us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts_us"))
      .agg(max(col("event_id")).as("purchase_id"))
    graft.operators.Relational.asofJoin(
      clicks, purchases, Seq("user_id"), "ts_us", "ts_us", "purchase_id")
      .select(col("user_id"), col("click_id"),
              col("__asof").as("last_purchase_id"))
  }

  /** Batch range join: click ↔ purchases of the same user within the
    * preceding 5 minutes (equi-key + range predicate → sort-merge join
    * on user_id with the range as a join filter; never a cross join). */
  def rangeJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = withTsUs(Tables.events(s, dir))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
              col("ts_us").as("c_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
              col("ts_us").as("p_ts"))
    clicks.join(purchases, Seq("user_id"))
      .filter(col("p_ts") <= col("c_ts") &&
              col("p_ts") >= col("c_ts") - lit(300L * 1000000L))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
              (col("c_ts") - col("p_ts")).as("gap_us"))
  }

  /** Daily new + cumulative users: first-seen day per user (min
    * aggregation), daily new-user counts, prefix-sum for the cumulative
    * curve. The standard growth-analytics query — distinct-counting over
    * an expanding window WITHOUT a per-day distinct pass. */
  def newUsersDaily(s: SparkSession, dir: String): DataFrame = {
    // shared first-seen frame (r16): min over the pinned user-day set is
    // identical to min over raw events
    val firstSeen = userFirstDay(s, dir)
      .select(col("user_id"), col("first_day").as("day"))
    val daily = firstSeen.groupBy(col("day")).agg(count(lit(1)).as("n_new"))
    // unpartitioned window is fine HERE: input is already day-grain
    // (one row per day), so the single-partition pass sees ≤ days rows
    daily.withColumn("n_cumulative",
      sum(col("n_new")).over(Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Classic cohort retention matrix — the growth table every product
    * analytics stack draws: users cohorted by FIRST-seen day, and for
    * each offset k = 0..7, how many of the cohort were active on day
    * cohort+k (any event), with exact permille retention. k = 0 is
    * 1000‰ by construction (the first event itself) — the identity the
    * spec pins.
    *
    * Scale shape (100 TB): one user-keyed min-aggregate (cohorts), one
    * (user, day)-distinct aggregate (activity — bounded by user-days,
    * not raw events), one user-keyed equi join, then a (cohort, k)
    * rollup of size days×8. No windows, no cross join. */
  def retentionDaily(s: SparkSession, dir: String,
                     maxK: Long = 7L): DataFrame = {
    // shared frames (r16): activity rides the pinned user-day set,
    // cohorts the pinned first-seen frame — both value-identical to the
    // dedicated scans they replace
    val cohorts = userFirstDay(s, dir)
      .select(col("user_id"), col("first_day").as("cohort_day"))
    val sizes = cohorts.groupBy(col("cohort_day"))
      .agg(count(lit(1)).as("n_cohort"))
    userDays(s, dir).join(cohorts, Seq("user_id"))
      .select(col("cohort_day"), (col("day") - col("cohort_day")).as("k"))
      .filter(col("k") >= 0 && col("k") <= maxK)
      .groupBy(col("cohort_day"), col("k"))
      .agg(count(lit(1)).as("n_active"))
      .join(sizes, Seq("cohort_day"))
      .withColumn("retention_permille",
        expr("n_active * 1000 DIV n_cohort"))
  }

  /** L7 stickiness — daily DAU / trailing-7-day WAU, the engagement
    * ratio product dashboards chart next to retention. Exact (no HLL):
    * WAU(d) counts distinct users active in [d−6, d], computed by
    * exploding each (user, day) row to the 7 report days it covers —
    * a bounded 7× fan-out of the user-day grain (never raw events) —
    * then deduplicating per (user, report day). Report days are
    * restricted to days that actually occur (a left-semi join against
    * the day spine), so leading/trailing phantom days never appear.
    *
    * Scale shape (100 TB): two distinct shuffles at user-day grain
    * (the 7× fan-out rides map-side), day-grain rollups; no windows,
    * no cross join. */
  def stickiness(s: SparkSession, dir: String): DataFrame = {
    val ud = userDays(s, dir)
    val days = ud.select(col("day")).distinct()
    val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(col("user_id"),
              explode(sequence(col("day"), col("day") + 6)).as("day"))
      .distinct()
      .join(days, Seq("day"), "left_semi")
      .groupBy(col("day")).agg(count(lit(1)).as("wau"))
    dau.join(wau, Seq("day"))
      .withColumn("stickiness_permille", expr("dau * 1000 DIV wau"))
  }

  /** Z-score outliers per event_type: exact decimal moments → mean and
    * stddev in double → |v-mean|/stddev > 3. Unlike ln(), sqrt and
    * division are correctly-rounded IEEE ops, so z-scores are bit-exact
    * cross-engine with NO quantization. Two passes over events with the
    * per-type stats broadcast back (tiny). */
  def outliers(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val n = count(lit(1)).cast(DoubleType)
    val sx = sum(Canon.dec(col("value"))).cast(DoubleType)
    val sxx = sum(Canon.dec(col("value")) * Canon.dec(col("value"))).cast(DoubleType)
    val stats = ev.groupBy(col("event_type")).agg(
      (sx / n).as("mean_v"),
      sqrt((sxx - sx * sx / n) / (n - lit(1.0))).as("sd_v"))
    ev.join(broadcast(stats), Seq("event_type"))
      .withColumn("z", (col("value") - col("mean_v")) / col("sd_v"))
      .filter(abs(col("z")) > 3.0)
      .select(col("event_type"), col("event_id"), col("value"), col("z"))
  }

  /** Value histogram: fixed-width integer bucketing (floor division) —
    * the distribution profile pass. */
  def valueHistogram(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy((floor(col("value") / 50.0) * 50).cast("long").as("bucket_lo"))
      .agg(count(lit(1)).as("n_events"),
           exactAvg(col("value")).as("avg_in_bucket"))

  /** Funnel conversion: signup → click → purchase ordered by each
    * user's FIRST occurrence of each step. One conditional-min pivot per
    * user (single shuffle), then integer flag counting. */
  def funnel(s: SparkSession, dir: String): DataFrame = {
    // per-type firsts read off the shared user panel (r16) — the panel's
    // conditional mins are this query's previous dedicated aggregate
    val perUser = userPanel(s, dir)
      .select(col("signup_us"), col("click_us"), col("purchase_us"))
    perUser.agg(
      count(lit(1)).as("n_users"),
      sum(when(col("signup_us").isNotNull, 1).otherwise(0)).as("n_signup"),
      sum(when(col("signup_us") < col("click_us"), 1).otherwise(0))
        .as("n_signup_click"),
      sum(when(col("signup_us") < col("click_us") &&
               col("click_us") < col("purchase_us"), 1).otherwise(0))
        .as("n_full_funnel"))
  }

  /** Funnel step timing — the companion to [[funnel]]'s conversion
    * counts: for users whose first signup precedes their first click
    * (and click precedes purchase), the step-gap distribution as exact
    * percentile interpolation over µs BIGINTs (median + p90 per step,
    * the SLA numbers a conversion report carries next to the rates).
    * One per-user firsts aggregate (PlanCache-shared across the two
    * step branches), then a scalar panel per step over the tiny
    * converting-user set. */
  def funnelTiming(s: SparkSession, dir: String): DataFrame = {
    // per-type firsts off the shared user panel (r16; both step branches
    // scan the one pinned frame)
    val perUser = userPanel(s, dir)
      .select(col("signup_us"), col("click_us"), col("purchase_us"))
    def step(name: String, gap: org.apache.spark.sql.Column,
             cond: org.apache.spark.sql.Column): DataFrame =
      perUser.filter(cond)
        .select(gap.as("gap_us"))
        .agg(count(lit(1)).as("n_users"),
             expr("""percentile(gap_us, array(CAST(1 AS DOUBLE)/2,
                   | CAST(9 AS DOUBLE)/10))""".stripMargin).as("qs"))
        .select(lit(name).as("step"), col("n_users"),
                get(col("qs"), lit(0)).as("p50_us"),
                get(col("qs"), lit(1)).as("p90_us"))
    step("signup_click", col("click_us") - col("signup_us"),
         col("signup_us") < col("click_us"))
      .union(step("click_purchase", col("purchase_us") - col("click_us"),
        col("signup_us") < col("click_us") &&
          col("click_us") < col("purchase_us")))
  }

  /** Event-sequence transition mining: (prev_type → type) bigram counts
    * over each user's time-ordered stream — the Markov transition matrix
    * behind user-path analysis. One shuffle on user_id feeds the lag;
    * the tiny (from,to) matrix then aggregates with map-side combine.
    * Ordering is exact: µs event time with event_id as the unique
    * tie-break (fixture ns timestamps can collide at µs grain). */
  def transitions(s: SparkSession, dir: String): DataFrame =
    // off the shared (src, dst, user) mid-grain frame (r16): Σc per pair
    // ≡ the raw transition count, rows per pair ≡ COUNT(DISTINCT user)
    transitionUserEdges(s, dir)
      .groupBy(col("src").as("prev_type"), col("dst").as("event_type"))
      .agg(sum(col("c")).as("n_transitions"),
           count(lit(1)).as("n_users"))

  /** The SHARED event-type transition digraph: (src, dst, w) weighted
    * edges from each user's time-ordered event stream, built once
    * ([[graft.operators.PlanCache.reuse]], prewarm-pinned) and consumed
    * by [[pagerank]], [[hitsScores]] and [[reach]] — the
    * unshared-family disease (VERDICT r11 #1: each consumer re-ran the
    * corpus-scale lag+groupBy to rebuild a dozens-of-nodes graph). One
    * shuffle on user_id feeds the lag; the (from, to) matrix is
    * event-TYPE-bounded, so the cached frame is tiny at any corpus
    * scale. */
  private[graft] def transitionEdges(s: SparkSession,
                                     dir: String): DataFrame =
    // Σc over the mid grain ≡ COUNT(*) over raw transitions (r16); the
    // corpus-scale lag+shuffle runs once, in the mid frame
    graft.operators.PlanCache.reuse(
      transitionUserEdges(s, dir)
        .groupBy(col("src"), col("dst"))
        .agg(sum(col("c")).as("w")))

  /** The (src, dst, user_id) mid-grain transition counts — ONE
    * lag-window pass over the corpus (the family's only transition
    * shuffle), consumed by [[transitions]] (per-pair totals + distinct
    * users fall out of the grain) and by [[transitionEdges]] (the
    * (src, dst, w) digraph is its Σc rollup). |types|²·|users|-bounded. */
  private[graft] def transitionUserEdges(s: SparkSession,
                                         dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
    graft.operators.PlanCache.reuse(
      withTsUs(Tables.events(s, dir))
        .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type").as("src"), col("event_type").as("dst"),
                 col("user_id"))
        .agg(count(lit(1)).as("c")))
  }

  /** User-concentration (Pareto) panel — the "what share of traffic do
    * the heaviest users carry" audit read before training on
    * user-generated data (a corpus dominated by a few accounts is a
    * bot/spam risk the [[botRegularity]] screen then inspects): per
    * user event counts, the exact 90th-percentile cutpoint, and the
    * event/value mass carried by the top decile vs the rest, with
    * permille shares. Strictly-above-cutpoint membership is
    * deterministic (exact interpolation on both engines).
    *
    * Scale shape (100 TB): one user-keyed aggregate; the cutpoint and
    * the 2-group rollup ride a 1-row broadcast
    * (PlanGuard-allowlisted). */
  def userConcentration(s: SparkSession, dir: String): DataFrame = {
    // per-user counts/cents off the shared panel (r16); the three
    // references (cutpoint, totals, rollup) each scan the pinned frame
    val perUser = userPanel(s, dir)
      .select(col("user_id"), col("n_events"), col("cents"))
    val cut = perUser.agg(
      expr("percentile(n_events, CAST(9 AS DOUBLE)/10)").as("p90"))
    val tot = perUser.agg(sum(col("n_events")).as("tot_events"),
                          sum(col("cents")).as("tot_cents"))
    perUser.crossJoin(broadcast(cut)).crossJoin(broadcast(tot))
      .select(when(col("n_events") > col("p90"), "top_decile")
                .otherwise("rest").as("band"),
              col("n_events"), col("cents"),
              col("tot_events"), col("tot_cents"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_users"),
           sum(col("n_events")).as("n_events"),
           sum(col("cents")).as("cents"),
           expr("CAST(SUM(n_events) * 1000 DIV first(tot_events)" +
                " AS BIGINT)").as("event_share_permille"),
           expr("CAST(SUM(cents) * 1000 DIV first(tot_cents)" +
                " AS BIGINT)").as("cents_share_permille"))
  }

  /** Markov transition entropy per source event type — the
    * predictability panel over the SAME shared digraph as
    * pagerank/HITS (a type whose outgoing distribution has near-zero
    * entropy is a deterministic flow edge; high entropy marks genuine
    * branching): per src, out-degree, total outgoing weight, and the
    * outgoing-distribution entropy on the 1e-6 log₂ grid via the
    * char-entropy identity H = lq(n) − Σ w·lq(w) DIV n — all exact
    * BIGINT, the one log₂ recovered to the integer micro-grid on both
    * engines (the NLL-family rule). Weights are ≥ 1 and totals ≥ 1 so
    * no divide guard is needed.
    *
    * Scale shape (100 TB): consumes the prewarm-pinned
    * [[transitionEdges]] frame — the marginal cost is one
    * |types|²-row aggregation. */
  def markovEntropy(s: SparkSession, dir: String): DataFrame = {
    def lq(x: String): String =
      s"CAST(round(log2(CAST($x AS DOUBLE)) * 1000000) AS BIGINT)"
    transitionEdges(s, dir)
      .groupBy(col("src"))
      .agg(count(lit(1)).as("n_out"),
           sum(col("w")).as("total_w"),
           sum(col("w") * expr(lq("w"))).as("swl"))
      .select(col("src"), col("n_out"), col("total_w"),
              (expr(lq("total_w")) - expr("swl DIV total_w"))
                .as("entropy_micro"))
  }

  /** This family's entries in [[graft.SparkEntry.sharedFrames]]: the
    * mid-grain transition frame (the digraph and `evt_transitions`),
    * the transition digraph ([[pagerank]], [[hitsScores]], [[reach]]),
    * and the user-day activity (4 consumers), first-seen day (2) and
    * per-user lifetime panel (6). The inner frame is listed before the
    * digraph built on it, so its build is timed in its own right. */
  val shared: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "transition_user"  -> (transitionUserEdges _),
    "transition_edges" -> (transitionEdges _),
    "evt_user_days"    -> (userDays _),
    "evt_first_day"    -> (userFirstDay _),
    "evt_user_panel"   -> (userPanel _))

  /** Weighted PageRank over the event-type transition digraph
    * ([[transitionEdges]] is the shared edge builder), 3 iterations of
    * [[graft.operators.Graphs.pageRank]]'s fixed-point integer
    * formulation — the oracle unrolls the identical integer recurrence,
    * so the ranks are hash-exact, not approximately compared. */
  def pagerank(s: SparkSession, dir: String): DataFrame =
    Graphs.pageRank(transitionEdges(s, dir), "src", "dst", "w", iters = 3)

  /** HITS hubs & authorities over the same event-type transition
    * digraph as [[pagerank]] — which event types funnel attention in
    * (authorities) vs fan it out (hubs). Two rounds of
    * [[graft.operators.Graphs.hits]]'s L1-normalized integer fixed
    * point; the oracle unrolls the identical recurrence (raw sums, then
    * `raw·10⁶ // Σraw`), so scores are hash-exact. The edge list is
    * event-type-bounded, so this rides [[Graphs.hits]]'s dense driver
    * core — zero per-round exchanges. */
  def hitsScores(s: SparkSession, dir: String): DataFrame =
    Graphs.hits(transitionEdges(s, dir), "src", "dst", "w", iters = 2)

  /** CUSUM changepoint scan (Page 1954) over per-type daily volumes —
    * the drift monitor a pipeline runs on ingest streams: for each
    * event type, the day maximizing the n-scaled cumulative deviation
    * `|n_days·prefix − t·total|` (≡ n·|prefix − (t/n)·total| — the
    * classic CUSUM statistic cross-multiplied so no float enters any
    * compared column). Emits the argmax day (ties to the earliest),
    * its |CUSUM|, and the per-type totals.
    *
    * Scale shape: one corpus scan into a (type, day) hash aggregation
    * with map-side combine; all CUSUM work is type-partitioned windows
    * over those ≤ types·days cells — corpus-size-independent past the
    * first aggregation. Width: n_days·total < 2⁶³ holds to ~2.5·10¹⁵
    * events per type at a 10-year grid. */
  def cusumChangepoint(s: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val wAll = Window.partitionBy(col("event_type"))
    val daily = withTsUs(Tables.events(s, dir))
      .withColumn("day", expr(s"ts_us DIV $DayUs"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("c"))
    daily
      .withColumn("p", sum(col("c")).over(wOrd))
      .withColumn("t_idx", row_number().over(wOrd).cast("long"))
      .withColumn("n_days", count(lit(1)).over(wAll))
      .withColumn("total", sum(col("c")).over(wAll))
      .withColumn("s_abs",
        abs(col("n_days") * col("p") - col("t_idx") * col("total")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("event_type"))
          .orderBy(col("s_abs").desc, col("day").asc)))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("n_days"), col("total").as("n_events"),
              col("day").as("cp_day"), col("s_abs").as("cusum_abs"))
  }

  /** Day-of-week seasonality panel — the uniform-expectation
    * chi-square complement to [[cusumChangepoint]]'s drift scan: per
    * (event_type, weekday) the observed count and the exact scaled
    * cell statistic `(7·O − T)²·10⁶ DIV (7·T)` (the cross-multiplied
    * (O−E)²/E at E = T/7), plus the per-type total. Weekday derives
    * from epoch days as `(day + 4) % 7` (0 = Sunday) — pure integer on
    * both engines; Spark's `dayofweek` is 1-based-Sunday while
    * DuckDB's is 0-based, so calendar functions are deliberately kept
    * out of the compared columns. One corpus scan into a ≤ types×7
    * aggregation; marginals are windows over those cells. Width:
    * (7·T)²·10⁶ < 2⁶³ holds to T ≈ 4·10⁵ per type in BIGINT — the
    * squared term runs in DECIMAL(38,0) so the real bound is the
    * chi-square row's n < 3·10⁹. */
  def dowSeasonality(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
    withTsUs(Tables.events(s, dir))
      .withColumn("dow", expr(s"(ts_us DIV $DayUs + 4) % 7"))
      .groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("n_events"))
      .withColumn("t", sum(col("n_events")).over(w))
      .withColumn("chi_ppm",
        expr("""CAST(CAST(7 * n_events - t AS DECIMAL(38,0))
                  * (7 * n_events - t) * 1000000 AS DECIMAL(38,0))
                div (7 * CAST(t AS DECIMAL(38,0)))"""))
      .select(col("event_type"), col("dow"), col("n_events"),
              col("chi_ppm"),
              sum(col("chi_ppm")).over(w).as("chi_total_ppm"))
  }

  /** BFS reachability: hop distance from the `signup` event type over
    * the transition digraph ([[graft.operators.Graphs.shortestHops]],
    * 3 synchronous rounds — enough to saturate any reachable node in a
    * ≤ handful-of-types graph; unreached stay NULL). */
  def reach(s: SparkSession, dir: String): DataFrame =
    // the shared weighted digraph's (src, dst) pairs are already
    // distinct (groupBy grain) — same reachability as the raw lag
    // pairs, without a second corpus scan
    Graphs.shortestHops(transitionEdges(s, dir).select(col("src"),
        col("dst")), "src", "dst", col("node") === "signup", 3)

  /** Interval-overlap join via [[graft.operators.Intervals.overlapJoin]]:
    * click intervals × view intervals per user (interval = [ts, ts +
    * value minutes]), binned to 1-hour equi-join keys — the scale path
    * that replaces the BroadcastNestedLoopJoin a raw range predicate
    * produces. Duration derives from the exact 2-decimal recovery
    * `round(value·100)·0.6s` (a direct double→long cast would truncate
    * in Spark but round in DuckDB). Overlap micros are pure integer
    * arithmetic — exact on both engines. */
  def intervalOverlap(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "view"))
      .select(col("user_id"), col("event_id"), col("event_type"),
              expr("ts_ns DIV 1000").as("start_us"),
              (expr("ts_ns DIV 1000") +
                expr("CAST(round(value * 100) AS BIGINT) * 600000"))
                .as("end_us"))
    val clicks = e.filter(col("event_type") === "click").drop("event_type")
    val views = e.filter(col("event_type") === "view").drop("event_type")
    graft.operators.Intervals
      .overlapJoin(clicks, views, Seq("user_id"), "start_us", "end_us",
                   binWidthUs = 3600000000L)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"),
           sum(least(col("l_end_us"), col("r_end_us")) -
               greatest(col("l_start_us"), col("r_start_us")))
             .as("sum_overlap_us"))
  }

  /** CUPED variance-reduced experiment readout (Deng et al. 2013,
    * "Improving the Sensitivity of Online Controlled Experiments"):
    * users split into two variants by seeded md5 (no RNG), the metric Y
    * is each user's spend in the experiment half of the time range, the
    * covariate X their spend in the pre-period half (midpoint = integer
    * µs midrange, computed in-plan). θ = cov(X,Y)/var(X) is estimated
    * POOLED across variants; the adjusted mean Ŷ_v − θ·(X̄_v − X̄) is
    * the variance-reduced readout every experimentation platform ships.
    *
    * Exactness: per-event values are recovered as exact scaled integers
    * (`round(value·100)` — 2-decimal fixture), so every moment (Σx, Σy,
    * Σx², Σxy) is an exact BIGINT on both engines; θ and the means then
    * derive in bit-identical IEEE double steps. Scale: one scan + one
    * per-user shuffle; moments and variant rollups are map-combined;
    * the θ frame is a 1-row broadcast. Overflow ceiling: the pooled
    * moments bound as Σx² ≤ max_user(x)·Σx (a CORPUS-total bound, not
    * just per-user — ADVICE r8), so BIGINT holds while
    * max(x)·Σx < 2⁶³ ≈ 9.2·10¹⁸ scaled-spend units²; past that, route
    * sxx/sxy through DECIMAL(38,0) on both sides. ANSI mode makes the
    * breach loud (Spark throws, DuckDB's BIGINT cast errors), never
    * silent. */
  def cuped(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(
      col("user_id"),
      expr("ts_ns DIV 1000").as("us"),
      expr("CAST(round(value * 100) AS BIGINT)").as("v100"))
    val mid = ev.agg(expr("(MIN(us) + MAX(us)) DIV 2").as("mid"))
    val per = graft.operators.PlanCache.reuse(
      ev.crossJoin(broadcast(mid))
        .groupBy(col("user_id"))
        .agg(sum(when(col("us") <= col("mid"), col("v100")).otherwise(0L))
               .as("x"),
             sum(when(col("us") > col("mid"), col("v100")).otherwise(0L))
               .as("y"))
        .withColumn("variant",
          (conv(substring(md5(concat(lit("cuped|"),
            col("user_id").cast("string"))), 1, 4), 16, 10)
            .cast("long") % 2).cast("int")))
    val theta = per.agg(
        count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
      .select(
        ((col("sxy").cast("double")
            - col("sx").cast("double") * col("sy").cast("double")
                / col("n").cast("double"))
          / (col("sxx").cast("double")
            - col("sx").cast("double") * col("sx").cast("double")
                / col("n").cast("double"))).as("theta"),
        (col("sx").cast("double") / lit(100.0) / col("n").cast("double"))
          .as("mean_x_all"))
    per.groupBy(col("variant"))
      .agg(count(lit(1)).as("n_users"),
           sum(col("x")).as("sxv"), sum(col("y")).as("syv"))
      .crossJoin(broadcast(theta))
      .select(col("variant"), col("n_users"),
        (col("syv").cast("double") / lit(100.0)
          / col("n_users").cast("double")).as("mean_y"),
        col("theta"),
        ((col("syv").cast("double") / lit(100.0)
            / col("n_users").cast("double"))
          - col("theta")
            * ((col("sxv").cast("double") / lit(100.0)
                 / col("n_users").cast("double")) - col("mean_x_all")))
          .as("mean_y_adj"))
  }

  /** Strict-sequence CEP: users completing click → view → purchase in
    * ORDER, each step within 30 min of its predecessor — the pattern-
    * match primitive (SQL MATCH_RECOGNIZE's common case) expressed as
    * two chained conditional running-max windows: a view completes a
    * (click, view) stage iff the latest EARLIER click is within the
    * gap; a purchase completes the pattern iff the latest earlier
    * stage-completion is within the gap. This is exact for
    * latest-predecessor matching (non-greedy in the first element:
    * a late click can rescue a view an early click couldn't).
    *
    * One shuffle on the user key; frames are ROWS-based over the
    * deterministic (ts, event_id) order, so both engines replay the
    * same scan. Output: per-user stage counts and the earliest
    * completion, µs-integer arithmetic throughout. */
  def cepSequence(s: SparkSession, dir: String): DataFrame =
    cepSequenceFrame(withTsUs(Tables.events(s, dir))
      .select(col("user_id"), col("event_id"), col("ts_us").as("us"),
              col("event_type")))

  /** The chained-window CEP core over any (user_id, event_id, us,
    * event_type) frame — shared by the registered fixture query and the
    * streaming-twin spec ([[graft.streaming.StreamOps.cepSequenceStream]]
    * must equal this on the same rows). */
  def cepSequenceFrame(e: DataFrame): DataFrame = {
    val gapUs = HalfHourUs
    val wPrev = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val s1 = e.withColumn("prev_click",
      max(when(col("event_type") === "click", col("us"))).over(wPrev))
    val s2 = s1.withColumn("ab_us",
      when(col("event_type") === "view" &&
           col("us") - col("prev_click") <= gapUs, col("us")))
    val s3 = s2.withColumn("prev_ab", max(col("ab_us")).over(wPrev))
      .withColumn("abc_us",
        when(col("event_type") === "purchase" &&
             col("us") - col("prev_ab") <= gapUs, col("us")))
    s3.groupBy(col("user_id"))
      .agg(sum(when(col("ab_us").isNotNull, 1L).otherwise(0L))
             .as("n_stage2"),
           sum(when(col("abc_us").isNotNull, 1L).otherwise(0L))
             .as("n_complete"),
           min(col("abc_us")).as("first_complete_us"))
      .withColumn("has_pattern", col("n_complete") > 0)
  }

  /** Binary-decay EWMA spike monitor over daily event-type counts —
    * the anomaly pass an event pipeline runs per ingest day. The
    * forecast for day t is the exponentially-weighted mean of the 8
    * preceding OBSERVED days with weight 2^(8−j) at lag j (α = 1/2
    * decay on the binary grid — weights are exact BIGINTs, so unlike a
    * float EWMA the whole recurrence is integer arithmetic); ragged
    * series starts just shrink the denominator. A day spikes when its
    * count exceeds 2× the forecast — compared by integer
    * cross-multiplication (cnt·den > 2·num), division never runs. Per
    * type: observed days, spike days, and the worst count/forecast
    * ratio in permille. One day-grain pre-aggregation, one
    * type-partitioned window (never a global sort), a type-keyed
    * rollup. */
  def spikeEwma(s: SparkSession, dir: String): DataFrame = {
    val daily = withTsUs(Tables.events(s, dir))
      .withColumn("day", expr(s"ts_us DIV $DayUs"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val num = (1 to 8).map(j =>
      coalesce(lag(col("cnt"), j).over(w) * lit(1L << (8 - j)), lit(0L)))
      .reduce(_ + _)
    val den = (1 to 8).map(j =>
      when(lag(col("cnt"), j).over(w).isNotNull, lit(1L << (8 - j)))
        .otherwise(lit(0L))).reduce(_ + _)
    daily.withColumn("fnum", num).withColumn("fden", den)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
           sum(when(col("fnum") > 0 &&
                    col("cnt") * col("fden") > col("fnum") * 2, 1L)
             .otherwise(0L)).as("n_spikes"),
           coalesce(max(when(col("fnum") > 0,
               expr("cnt * 1000 * fden DIV fnum"))), lit(0L))
             .as("max_ratio_permille"))
  }

  /** Linear multi-touch attribution — the marketing-analytics ledger
    * behind "which touch gets the credit": every purchase's EXACT
    * cents are split across the user's click touches in the preceding
    * 24 h (each touch gets cents DIV n; the earliest touch also gets
    * the remainder, so credit conserves to the cent — no float split),
    * bucketed solo / first / middle / last (the position-based
    * attribution compare), plus an `unattributed` row for purchases
    * with no qualifying touch. Touch order ties break on event_id.
    * Purchases are guarded to cents >= 0 on BOTH engines: Spark DIV
    * truncates toward zero while DuckDB // floors (and DuckDB's %
    * breaks the quotient-remainder identity for negatives), so a
    * refund-style negative value would silently diverge and break
    * cent conservation — the guard keeps the split well-defined.
    *
    * Scale shape (100 TB): one user-keyed equi join with a range
    * predicate (events per user are bounded); the count/row_number
    * windows partition per PURCHASE (tiny partitions, never a global
    * sort); the rollup is 5 rows. */
  def attributionLinear(s: SparkSession, dir: String,
                        windowHours: Long = 24L): DataFrame = {
    val w = windowHours * HourUs
    val ev = PlanCache.reuse(withTsUs(Tables.events(s, dir))
      .select(col("user_id"), col("event_id"), col("event_type"),
              col("ts_us"),
              expr("CAST(round(value * 100) AS BIGINT)").as("cents")))
    val purchases = ev.filter(col("event_type") === "purchase" &&
                              col("cents") >= 0)
      .select(col("user_id"), col("event_id").as("p_id"),
              col("ts_us").as("p_us"), col("cents"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("c_id"),
              col("ts_us").as("c_us"))
    val touches = PlanCache.reuse(purchases.join(clicks, Seq("user_id"))
      .filter(col("c_us") < col("p_us") &&
              col("c_us") >= col("p_us") - lit(w))
      .select(col("p_id"), col("cents"), col("c_us"), col("c_id")))
    val byP = Window.partitionBy(col("p_id"))
    val credited = touches
      .withColumn("n", count(lit(1)).over(byP))
      .withColumn("rn", row_number().over(
        byP.orderBy(col("c_us").asc, col("c_id").asc)))
      .withColumn("credit", expr(
        "cents DIV n + CASE WHEN rn = 1 THEN cents % n ELSE 0 END"))
      .withColumn("bucket",
        when(col("n") === 1, "solo").when(col("rn") === 1, "first")
          .when(col("rn") === col("n"), "last").otherwise("middle"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_touches"),
           sum(col("credit")).as("credited_cents"))
    val un = purchases
      .join(touches.select(col("p_id")).distinct(), Seq("p_id"),
            "left_anti")
      .agg(count(lit(1)).as("n_touches"),
           coalesce(sum(col("cents")), lit(0L)).as("credited_cents"))
      .select(lit("unattributed").as("bucket"), col("n_touches"),
              col("credited_cents"))
    credited.unionAll(un)
  }

  /** Windowed funnel (the ClickHouse `windowFunnel` shape, strict-order
    * greedy variant): per user, the deepest signup → click → purchase
    * chain where every later step lands within `windowHours` of the
    * user's FIRST signup and strictly after the previous step, each
    * step taken at its EARLIEST qualifying time (greedy-earliest is
    * deterministic and maximizes reachable depth for a fixed anchor).
    * Unlike [[funnel]] (lifetime firsts), this bounds conversion to an
    * attribution window — the form growth dashboards actually chart.
    * Output: users per reached level (1-3).
    *
    * Scale shape (100 TB): three user-keyed equi joins over the one
    * reused event projection (no broadcast, no window function, no
    * global sort); each stage's aggregate combines map-side; the
    * rollup is 3 rows. */
  def windowFunnel(s: SparkSession, dir: String,
                   windowHours: Long = 24L): DataFrame = {
    val w = windowHours * HourUs
    val ev = PlanCache.reuse(withTsUs(Tables.events(s, dir))
      .select(col("user_id"), col("event_type"), col("ts_us")))
    // anchor stage off the shared panel (r16): signup_us is the panel's
    // conditional min, NULL-filtered — identical rows to the dedicated
    // filter+min aggregate it replaces
    val s1 = userPanel(s, dir).filter(col("signup_us").isNotNull)
      .select(col("user_id"), col("signup_us"))
    val s2 = ev.filter(col("event_type") === "click")
      .join(s1, Seq("user_id"))
      .filter(col("ts_us") > col("signup_us") &&
              col("ts_us") <= col("signup_us") + lit(w))
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("click_us"))
    val s3 = ev.filter(col("event_type") === "purchase")
      .join(s1, Seq("user_id")).join(s2, Seq("user_id"))
      .filter(col("ts_us") > col("click_us") &&
              col("ts_us") <= col("signup_us") + lit(w))
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("purchase_us"))
    s1.join(s2, Seq("user_id"), "left").join(s3, Seq("user_id"), "left")
      .select((lit(1L)
        + when(col("click_us").isNotNull, 1L).otherwise(0L)
        + when(col("purchase_us").isNotNull, 1L).otherwise(0L))
        .as("level"))
      .groupBy(col("level")).agg(count(lit(1)).as("n_users"))
  }

  /** RFM (recency / frequency / monetary) segmentation — the classic
    * customer-grid rollup a growth report runs over an event stream:
    * per user, days since last activity (µs grid), event count, and
    * exact purchase cents; each axis bucketed 1-5 by EXACT quintile
    * cutpoints (percentile interpolation — an unpartitioned ntile would
    * be a single-partition global sort, the round-2 rule), then one
    * ≤125-cell census. The reference epoch is the stream's own max
    * timestamp, so the panel is reproducible (no wall clock).
    *
    * Scale shape (100 TB): one user-keyed aggregate over the stream;
    * the reference row and the quintile row are 1-row broadcasts
    * (PlanGuard-allowlisted scalars); everything downstream of the
    * per-user frame is |users|-sized, and the census is bounded at
    * 5³ cells. */
  def rfmSegments(s: SparkSession, dir: String): DataFrame = {
    // recency/frequency/monetary base off the shared panel (r16)
    val perUser = userPanel(s, dir)
      .select(col("user_id"), col("last_us"),
              col("n_events").as("frequency"),
              col("purchase_cents").as("monetary_cents"))
    val ref = perUser.agg(max(col("last_us")).as("ref_us"))
    val rfm = perUser.crossJoin(broadcast(ref))
      .withColumn("recency_days",
        expr("(ref_us - last_us) DIV 86400000000"))
    def quintiles(c: String) = expr(
      s"""percentile($c, array(CAST(1 AS DOUBLE)/5, CAST(2 AS DOUBLE)/5,
         | CAST(3 AS DOUBLE)/5, CAST(4 AS DOUBLE)/5))""".stripMargin)
    val cuts = rfm.agg(quintiles("recency_days").as("rq"),
                       quintiles("frequency").as("fq"),
                       quintiles("monetary_cents").as("mq"))
    def seg(c: String, q: String) =
      (0 to 3).map(i => when(col(c) > get(col(q), lit(i)), 1L)
        .otherwise(0L)).foldLeft(lit(1L))(_ + _)
    rfm.crossJoin(broadcast(cuts))
      .select(seg("recency_days", "rq").as("r_seg"),
              seg("frequency", "fq").as("f_seg"),
              seg("monetary_cents", "mq").as("m_seg"),
              col("frequency"), col("monetary_cents"))
      .groupBy(col("r_seg"), col("f_seg"), col("m_seg"))
      .agg(count(lit(1)).as("n_users"),
           sum(col("frequency")).as("n_events"),
           sum(col("monetary_cents")).as("monetary_cents"))
  }

  /** Inter-arrival REGULARITY panel — the rule-based bot screen run
    * before training on user-generated data (scripted clients fire on
    * timers; humans are bursty): per user with ≥ 8 gaps, the exact gap
    * stats and the squared coefficient of variation
    * CV² = Var/mean² = (n·Σg² − (Σg)²) / (Σg)² on the ppm grid —
    * Poisson (human-ish) arrivals sit near 10⁶, timers near 0; the
    * flag cuts at CV² < 1/4 (CV < 1/2). All integer arithmetic: Σg²
    * rides DECIMAL(38,0) ≡ HUGEINT (µs gaps square past the BIGINT
    * cliff), the numerator is ≥ 0 by Cauchy-Schwarz so DIV is safe,
    * and ordering ties at equal µs don't change the gap multiset.
    *
    * Scale shape (100 TB): one user-partitioned window (the same
    * shuffle the sessionizers ride) into a user-keyed aggregate; no
    * global sort, no broadcast, output |users|-bounded. */
  def botRegularity(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
    withTsUs(Tables.events(s, dir))
      .withColumn("prev_us", lag(col("ts_us"), 1).over(byUser))
      .filter(col("prev_us").isNotNull)
      .select(col("user_id"), (col("ts_us") - col("prev_us")).as("gap_us"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_gaps"),
           sum(col("gap_us")).as("sum_gap_us"),
           min(col("gap_us")).as("min_gap_us"),
           max(col("gap_us")).as("max_gap_us"),
           sum(col("gap_us").cast("decimal(38,0)") * col("gap_us"))
             .as("sum_sq"))
      .filter(col("n_gaps") >= 8)
      .select(col("user_id"), col("n_gaps"),
              expr("sum_gap_us DIV n_gaps").as("mean_gap_us"),
              col("min_gap_us"), col("max_gap_us"),
              // all-zero gaps (sum = 0) are perfectly regular, not a
              // divide error: Var = 0 ⇒ CV² = 0 by convention
              expr("""CASE WHEN sum_gap_us = 0 THEN CAST(0 AS BIGINT)
                | ELSE CAST((sum_sq * n_gaps
                |   - CAST(sum_gap_us AS DECIMAL(38,0)) * sum_gap_us)
                |   * 1000000
                |   DIV (CAST(sum_gap_us AS DECIMAL(38,0)) * sum_gap_us)
                |   AS BIGINT) END""".stripMargin).as("cv2_ppm"))
      .withColumn("is_regular",
        when(col("cv2_ppm") < 250000L, 1L).otherwise(0L))
  }

  val registry: Map[String, (SparkSession, String) => DataFrame] = Map(
    "evt_rfm_segments"   -> (rfmSegments _),
    "evt_window_funnel"  -> ((s: SparkSession, d: String) =>
      windowFunnel(s, d)),
    "evt_attribution_linear" -> ((s: SparkSession, d: String) =>
      attributionLinear(s, d)),
    "evt_markov_entropy" -> (markovEntropy _),
    "evt_user_concentration" -> (userConcentration _),
    "evt_bot_regularity" -> (botRegularity _),
    "evt_spike_ewma"     -> (spikeEwma _),
    "evt_cep_sequence"     -> (cepSequence _),
    "evt_cuped"            -> (cuped _),
    "evt_interval_overlap" -> (intervalOverlap _),
    "evt_transitions"      -> (transitions _),
    "evt_pagerank"         -> (pagerank _),
    "evt_hits"             -> (hitsScores _),
    "evt_cusum_changepoint" -> (cusumChangepoint _),
    "evt_dow_seasonality"  -> (dowSeasonality _),
    "evt_reach"            -> (reach _),
    "evt_funnel"           -> (funnel _),
    "evt_funnel_timing"    -> (funnelTiming _),
    "evt_outliers"         -> (outliers _),
    "evt_value_histogram"  -> (valueHistogram _),
    "evt_new_users_daily"  -> (newUsersDaily _),
    "evt_retention_daily"  -> ((s: SparkSession, d: String) =>
      retentionDaily(s, d)),
    "evt_stickiness"       -> (stickiness _),
    "evt_asof_attribution" -> (asofAttribution _),
    "evt_range_join"      -> (rangeJoin _),
    "evt_rolling_7d"      -> (rolling7d _),
    "evt_json_extract"    -> (jsonExtract _),
    "evt_tumbling_hourly" -> (tumblingHourly _),
    "evt_sliding_counts"  -> (slidingCounts _),
    "evt_session_windows" -> (sessionWindows _),
    "evt_top_sessions"    -> (topSessions _),
    "evt_session_builtin" -> (sessionBuiltin _),
    "evt_daily_top_event" -> (dailyTopEvent _),
    "evt_daily_type_share" -> (dailyTypeShare _),
  )

  private val usExpr = "epoch_us(ts)"

  /** Quintile-cutpoint SELECT fragment: 4 exact percentile_cont lines
    * over `m`, aliased `$p1..$p4`. */
  private def quintileSql(m: String, p: String): String =
    (1 to 4).map(i =>
      s"""percentile_cont(CAST($i AS DOUBLE)/5)
         |    WITHIN GROUP (ORDER BY $m) AS $p$i""".stripMargin)
      .mkString(",\n  ")

  /** 1-5 segment expression from four cutpoints. */
  private def segSql(m: String, p: String): String =
    s"CAST(1 + ${(1 to 4).map(i =>
      s"(CASE WHEN $m > $p$i THEN 1 ELSE 0 END)").mkString(" + ")} AS BIGINT)"

  private val cv2Sql: String =
    """CAST(CASE WHEN sum_gap_us = 0 THEN 0
      |  ELSE (sum_sq * n_gaps - CAST(sum_gap_us AS HUGEINT) * sum_gap_us)
      |    * 1000000
      |    // (CAST(sum_gap_us AS HUGEINT) * sum_gap_us)
      |  END AS BIGINT)""".stripMargin

  val oracles: Map[String, String] = Map(
    "evt_user_concentration" ->
      s"""WITH pu AS MATERIALIZED (
         |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
         |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         |      AS cents
         |  FROM events GROUP BY 1),
         |cut AS (SELECT percentile_cont(CAST(9 AS DOUBLE)/10)
         |    WITHIN GROUP (ORDER BY n_events) AS p90 FROM pu),
         |tot AS (SELECT CAST(SUM(n_events) AS BIGINT) AS tot_events,
         |    CAST(SUM(cents) AS BIGINT) AS tot_cents FROM pu)
         |SELECT CASE WHEN n_events > p90 THEN 'top_decile'
         |         ELSE 'rest' END AS band,
         |  CAST(COUNT(*) AS BIGINT) AS n_users,
         |  CAST(SUM(n_events) AS BIGINT) AS n_events,
         |  CAST(SUM(cents) AS BIGINT) AS cents,
         |  CAST(SUM(n_events) * 1000 // ANY_VALUE(tot_events) AS BIGINT)
         |    AS event_share_permille,
         |  CAST(SUM(cents) * 1000 // ANY_VALUE(tot_cents) AS BIGINT)
         |    AS cents_share_permille
         |FROM pu CROSS JOIN cut CROSS JOIN tot GROUP BY 1""".stripMargin,
    "evt_markov_entropy" ->
      s"""WITH edges AS (
         |  SELECT prev_type AS src, event_type AS dst,
         |    CAST(COUNT(*) AS BIGINT) AS w
         |  FROM (SELECT user_id, event_type,
         |          lag(event_type) OVER (PARTITION BY user_id
         |            ORDER BY $usExpr ASC, event_id ASC) AS prev_type
         |        FROM events)
         |  WHERE prev_type IS NOT NULL GROUP BY 1, 2)
         |SELECT src, CAST(COUNT(*) AS BIGINT) AS n_out,
         |  CAST(SUM(w) AS BIGINT) AS total_w,
         |  CAST(round(log2(CAST(SUM(w) AS DOUBLE)) * 1000000) AS BIGINT)
         |    - CAST(SUM(w * CAST(round(log2(CAST(w AS DOUBLE)) * 1000000)
         |        AS BIGINT)) // SUM(w) AS BIGINT) AS entropy_micro
         |FROM edges GROUP BY 1""".stripMargin,
    "evt_attribution_linear" -> {
      val w = 24L * HourUs
      s"""WITH ev AS MATERIALIZED (SELECT user_id, event_id, event_type,
         |    $usExpr AS us, CAST(round(value * 100) AS BIGINT) AS cents
         |  FROM events),
         |p AS MATERIALIZED (SELECT user_id, event_id AS p_id, us AS p_us,
         |    cents FROM ev WHERE event_type = 'purchase' AND cents >= 0),
         |c AS (SELECT user_id, event_id AS c_id, us AS c_us FROM ev
         |      WHERE event_type = 'click'),
         |t AS MATERIALIZED (
         |  SELECT p.p_id, p.cents, c.c_us, c.c_id
         |  FROM p JOIN c USING (user_id)
         |  WHERE c.c_us < p.p_us AND c.c_us >= p.p_us - $w),
         |r AS (SELECT p_id, cents,
         |    COUNT(*) OVER (PARTITION BY p_id) AS n,
         |    ROW_NUMBER() OVER (PARTITION BY p_id
         |      ORDER BY c_us, c_id) AS rn
         |  FROM t),
         |cr AS (SELECT CASE WHEN n = 1 THEN 'solo'
         |    WHEN rn = 1 THEN 'first' WHEN rn = n THEN 'last'
         |    ELSE 'middle' END AS bucket,
         |    cents // n + CASE WHEN rn = 1 THEN cents % n ELSE 0 END
         |      AS credit
         |  FROM r)
         |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_touches,
         |  CAST(SUM(credit) AS BIGINT) AS credited_cents
         |FROM cr GROUP BY 1
         |UNION ALL
         |SELECT 'unattributed', CAST(COUNT(*) AS BIGINT),
         |  CAST(COALESCE(SUM(cents), 0) AS BIGINT)
         |FROM p WHERE NOT EXISTS
         |  (SELECT 1 FROM t WHERE t.p_id = p.p_id)""".stripMargin
    },
    "evt_window_funnel" -> {
      val w = 24L * HourUs
      s"""WITH s1 AS MATERIALIZED (
         |  SELECT user_id, MIN($usExpr) AS signup_us
         |  FROM events WHERE event_type = 'signup' GROUP BY 1),
         |s2 AS MATERIALIZED (
         |  SELECT e.user_id, MIN($usExpr) AS click_us
         |  FROM events e JOIN s1 USING (user_id)
         |  WHERE e.event_type = 'click' AND $usExpr > signup_us
         |    AND $usExpr <= signup_us + $w
         |  GROUP BY 1),
         |s3 AS (SELECT e.user_id, MIN($usExpr) AS purchase_us
         |  FROM events e JOIN s1 USING (user_id) JOIN s2 USING (user_id)
         |  WHERE e.event_type = 'purchase' AND $usExpr > click_us
         |    AND $usExpr <= signup_us + $w
         |  GROUP BY 1)
         |SELECT CAST(1 + (CASE WHEN s2.user_id IS NOT NULL
         |           THEN 1 ELSE 0 END)
         |         + (CASE WHEN s3.user_id IS NOT NULL THEN 1 ELSE 0 END)
         |       AS BIGINT) AS level,
         |  CAST(COUNT(*) AS BIGINT) AS n_users
         |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
         |GROUP BY 1""".stripMargin
    },
    "evt_rfm_segments" ->
      s"""WITH pu AS MATERIALIZED (
         |  SELECT user_id, MAX($usExpr) AS last_us,
         |    CAST(COUNT(*) AS BIGINT) AS frequency,
         |    CAST(SUM(CASE WHEN event_type = 'purchase'
         |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
         |      AS BIGINT) AS monetary_cents
         |  FROM events GROUP BY 1),
         |ref AS (SELECT MAX(last_us) AS ref_us FROM pu),
         |rfm AS MATERIALIZED (
         |  SELECT user_id,
         |    (ref_us - last_us) // 86400000000 AS recency_days,
         |    frequency, monetary_cents
         |  FROM pu CROSS JOIN ref),
         |cut AS (SELECT
         |  ${quintileSql("recency_days", "r")},
         |  ${quintileSql("frequency", "f")},
         |  ${quintileSql("monetary_cents", "m")}
         |  FROM rfm)
         |SELECT ${segSql("recency_days", "r")} AS r_seg,
         |  ${segSql("frequency", "f")} AS f_seg,
         |  ${segSql("monetary_cents", "m")} AS m_seg,
         |  CAST(COUNT(*) AS BIGINT) AS n_users,
         |  CAST(SUM(frequency) AS BIGINT) AS n_events,
         |  CAST(SUM(monetary_cents) AS BIGINT) AS monetary_cents
         |FROM rfm CROSS JOIN cut GROUP BY 1, 2, 3""".stripMargin,
    "evt_bot_regularity" ->
      s"""WITH g AS (SELECT user_id,
         |    $usExpr - lag($usExpr) OVER (PARTITION BY user_id
         |      ORDER BY $usExpr, event_id) AS gap_us
         |  FROM events),
         |pu AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_gaps,
         |    CAST(SUM(gap_us) AS BIGINT) AS sum_gap_us,
         |    CAST(MIN(gap_us) AS BIGINT) AS min_gap_us,
         |    CAST(MAX(gap_us) AS BIGINT) AS max_gap_us,
         |    SUM(CAST(gap_us AS HUGEINT) * gap_us) AS sum_sq
         |  FROM g WHERE gap_us IS NOT NULL GROUP BY 1
         |  HAVING COUNT(*) >= 8)
         |SELECT user_id, n_gaps,
         |  CAST(sum_gap_us // n_gaps AS BIGINT) AS mean_gap_us,
         |  min_gap_us, max_gap_us,
         |  $cv2Sql AS cv2_ppm,
         |  CAST(CASE WHEN $cv2Sql < 250000 THEN 1 ELSE 0 END AS BIGINT)
         |    AS is_regular
         |FROM pu""".stripMargin,
    "evt_spike_ewma" -> {
      val num = (1 to 8).map(j =>
        s"COALESCE(lag(cnt, $j) OVER w * ${1L << (8 - j)}, 0)")
        .mkString("\n    + ")
      val den = (1 to 8).map(j =>
        s"(CASE WHEN lag(cnt, $j) OVER w IS NOT NULL" +
          s" THEN ${1L << (8 - j)} ELSE 0 END)")
        .mkString("\n    + ")
      s"""WITH daily AS (SELECT event_type, $usExpr // $DayUs AS day,
         |    CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM events GROUP BY 1, 2),
         |l AS (SELECT event_type, cnt,
         |    $num AS fnum,
         |    $den AS fden
         |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day))
         |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
         |  CAST(SUM(CASE WHEN fnum > 0 AND cnt * fden > fnum * 2
         |                THEN 1 ELSE 0 END) AS BIGINT) AS n_spikes,
         |  CAST(COALESCE(MAX(CASE WHEN fnum > 0
         |                THEN cnt * 1000 * fden // fnum END), 0) AS BIGINT)
         |    AS max_ratio_permille
         |FROM l GROUP BY 1""".stripMargin
    },
    "evt_cep_sequence" -> {
      val gapUs = HalfHourUs
      s"""WITH e AS (SELECT user_id, event_id, $usExpr AS us, event_type
         |           FROM events),
         |s1 AS (SELECT *,
         |    max(CASE WHEN event_type = 'click' THEN us END) OVER (
         |      PARTITION BY user_id ORDER BY us, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |      AS prev_click
         |  FROM e),
         |s2 AS (SELECT *,
         |    CASE WHEN event_type = 'view' AND us - prev_click <= $gapUs
         |         THEN us END AS ab_us
         |  FROM s1),
         |s3 AS (SELECT *,
         |    max(ab_us) OVER (PARTITION BY user_id ORDER BY us, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_ab
         |  FROM s2),
         |s4 AS (SELECT *,
         |    CASE WHEN event_type = 'purchase' AND us - prev_ab <= $gapUs
         |         THEN us END AS abc_us
         |  FROM s3)
         |SELECT user_id,
         |  CAST(SUM(CASE WHEN ab_us IS NOT NULL THEN 1 ELSE 0 END)
         |       AS BIGINT) AS n_stage2,
         |  CAST(SUM(CASE WHEN abc_us IS NOT NULL THEN 1 ELSE 0 END)
         |       AS BIGINT) AS n_complete,
         |  MIN(abc_us) AS first_complete_us,
         |  SUM(CASE WHEN abc_us IS NOT NULL THEN 1 ELSE 0 END) > 0
         |    AS has_pattern
         |FROM s4 GROUP BY 1""".stripMargin
    },
    "evt_cuped" ->
      s"""WITH ev AS (SELECT user_id, $usExpr AS us,
         |    CAST(round(value * 100) AS BIGINT) AS v100 FROM events),
         |m AS (SELECT (MIN(us) + MAX(us)) // 2 AS mid FROM ev),
         |per AS MATERIALIZED (SELECT user_id,
         |    CAST(SUM(CASE WHEN us <= (SELECT mid FROM m) THEN v100
         |             ELSE 0 END) AS BIGINT) AS x,
         |    CAST(SUM(CASE WHEN us > (SELECT mid FROM m) THEN v100
         |             ELSE 0 END) AS BIGINT) AS y,
         |    CAST(CAST('0x' || substr(md5('cuped|' ||
         |      CAST(user_id AS VARCHAR)), 1, 4) AS BIGINT) % 2 AS INTEGER)
         |      AS variant
         |  FROM ev GROUP BY 1),
         |mom AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         |    CAST(SUM(x * x) AS BIGINT) AS sxx,
         |    CAST(SUM(x * y) AS BIGINT) AS sxy FROM per),
         |t AS (SELECT
         |    (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
         |       / CAST(n AS DOUBLE))
         |    / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
         |       / CAST(n AS DOUBLE)) AS theta,
         |    CAST(sx AS DOUBLE) / 100.0 / CAST(n AS DOUBLE) AS mean_x_all
         |  FROM mom)
         |SELECT variant, CAST(COUNT(*) AS BIGINT) AS n_users,
         |  CAST(SUM(y) AS DOUBLE) / 100.0 / CAST(COUNT(*) AS DOUBLE) AS mean_y,
         |  theta,
         |  (CAST(SUM(y) AS DOUBLE) / 100.0 / CAST(COUNT(*) AS DOUBLE))
         |    - theta * ((CAST(SUM(x) AS DOUBLE) / 100.0
         |        / CAST(COUNT(*) AS DOUBLE)) - mean_x_all) AS mean_y_adj
         |FROM per, t GROUP BY variant, theta, mean_x_all""".stripMargin,
    "evt_interval_overlap" ->
      s"""WITH e AS (
         |  SELECT user_id, event_id, event_type, $usExpr AS s,
         |    $usExpr + CAST(round(value * 100) AS BIGINT) * 600000 AS e_
         |  FROM events WHERE event_type IN ('click', 'view'))
         |SELECT a.user_id, COUNT(*) AS n_pairs,
         |CAST(SUM(least(a.e_, b.e_) - greatest(a.s, b.s)) AS BIGINT)
         |  AS sum_overlap_us
         |FROM e a JOIN e b ON a.user_id = b.user_id
         |  AND a.event_type = 'click' AND b.event_type = 'view'
         |  AND a.s <= b.e_ AND b.s <= a.e_
         |GROUP BY 1""".stripMargin,
    "evt_transitions" ->
      s"""SELECT prev_type, event_type, COUNT(*) AS n_transitions,
         |COUNT(DISTINCT user_id) AS n_users
         |FROM (SELECT user_id, event_type,
         |        lag(event_type) OVER (PARTITION BY user_id
         |          ORDER BY $usExpr ASC, event_id ASC) AS prev_type
         |      FROM events)
         |WHERE prev_type IS NOT NULL
         |GROUP BY 1, 2""".stripMargin,
    "evt_pagerank" -> {
      // unrolled fixed-point recurrence — same constants as
      // Graphs.pageRank(scale = 1e9, d = 85/100, iters = 3)
      val scale = 1000000000L
      val base =
        s"""edges AS (
           |  SELECT prev_type AS src, event_type AS dst, COUNT(*) AS w
           |  FROM (SELECT user_id, event_type,
           |          lag(event_type) OVER (PARTITION BY user_id
           |            ORDER BY $usExpr ASC, event_id ASC) AS prev_type
           |        FROM events)
           |  WHERE prev_type IS NOT NULL GROUP BY 1, 2),
           |outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS out_w
           |         FROM edges GROUP BY 1),
           |nodes AS (SELECT src AS node FROM edges
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
      s"WITH ${(base +: rounds).mkString(",\n")}\nSELECT node, rank FROM r3"
    },
    "evt_hits" -> {
      // unrolled L1-normalized integer fixed point — same constants as
      // Graphs.hits(scale = 1e6, iters = 2)
      val base =
        s"""edges AS MATERIALIZED (
           |  SELECT prev_type AS src, event_type AS dst,
           |    CAST(COUNT(*) AS BIGINT) AS w
           |  FROM (SELECT user_id, event_type,
           |          lag(event_type) OVER (PARTITION BY user_id
           |            ORDER BY $usExpr ASC, event_id ASC) AS prev_type
           |        FROM events)
           |  WHERE prev_type IS NOT NULL GROUP BY 1, 2),
           |nodes AS MATERIALIZED (SELECT src AS node FROM edges
           |          UNION SELECT dst FROM edges),
           |h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS hub FROM nodes)"""
          .stripMargin
      val rounds = (1 to 2).map { i =>
        // the tot guard mirrors Graphs.hits' l1Norm zero/NULL case
        // (ADVICE r11): unreachable on this fixture (w = COUNT(*) ≥ 1)
        // but keeps the two engines' empty-graph fixed points aligned
        s"""ar$i AS (SELECT e.dst AS node,
           |    CAST(SUM(h.hub * e.w) AS BIGINT) AS raw
           |  FROM h${i - 1} h JOIN edges e ON h.node = e.src GROUP BY 1),
           |at$i AS (SELECT CAST(SUM(raw) AS BIGINT) AS tot FROM ar$i),
           |a$i AS MATERIALIZED (SELECT n.node,
           |    CAST(CASE WHEN t.tot IS NULL OR t.tot = 0 THEN 0
           |         ELSE COALESCE(r.raw, 0) * 1000000 // t.tot
           |         END AS BIGINT) AS auth
           |  FROM nodes n CROSS JOIN at$i t
           |  LEFT JOIN ar$i r ON r.node = n.node),
           |hr$i AS (SELECT e.src AS node,
           |    CAST(SUM(a.auth * e.w) AS BIGINT) AS raw
           |  FROM a$i a JOIN edges e ON a.node = e.dst GROUP BY 1),
           |ht$i AS (SELECT CAST(SUM(raw) AS BIGINT) AS tot FROM hr$i),
           |h$i AS MATERIALIZED (SELECT n.node,
           |    CAST(CASE WHEN t.tot IS NULL OR t.tot = 0 THEN 0
           |         ELSE COALESCE(r.raw, 0) * 1000000 // t.tot
           |         END AS BIGINT) AS hub
           |  FROM nodes n CROSS JOIN ht$i t
           |  LEFT JOIN hr$i r ON r.node = n.node)""".stripMargin
      }
      s"WITH ${(base +: rounds).mkString(",\n")}\n" +
        "SELECT a2.node, a2.auth, h2.hub FROM a2 JOIN h2 ON a2.node = h2.node"
    },
    "evt_reach" -> {
      // unrolled 3-round BFS, same shape as Graphs.shortestHops
      val base =
        s"""edges AS (
           |  SELECT DISTINCT prev_type AS src, event_type AS dst
           |  FROM (SELECT user_id, event_type,
           |          lag(event_type) OVER (PARTITION BY user_id
           |            ORDER BY $usExpr ASC, event_id ASC) AS prev_type
           |        FROM events)
           |  WHERE prev_type IS NOT NULL),
           |nodes AS (SELECT src AS node FROM edges
           |          UNION SELECT dst FROM edges),
           |d0 AS (SELECT node, CASE WHEN node = 'signup'
           |         THEN CAST(0 AS BIGINT) END AS hops FROM nodes)""".stripMargin
      val rounds = (1 to 3).map { i =>
        s"""n$i AS (
           |  SELECT e.dst AS node, MIN(d.hops + 1) AS h
           |  FROM d${i - 1} d JOIN edges e ON d.node = e.src
           |  WHERE d.hops IS NOT NULL GROUP BY 1),
           |d$i AS (
           |  SELECT d.node, least(d.hops, n$i.h) AS hops
           |  FROM d${i - 1} d LEFT JOIN n$i ON n$i.node = d.node)""".stripMargin
      }
      s"WITH ${(base +: rounds).mkString(",\n")}\nSELECT node, hops FROM d3"
    },
    "evt_funnel_timing" ->
      s"""WITH pu AS MATERIALIZED (SELECT user_id,
         |    min(CASE WHEN event_type = 'signup' THEN $usExpr END)
         |      AS signup_us,
         |    min(CASE WHEN event_type = 'click' THEN $usExpr END)
         |      AS click_us,
         |    min(CASE WHEN event_type = 'purchase' THEN $usExpr END)
         |      AS purchase_us
         |  FROM events GROUP BY 1)
         |SELECT 'signup_click' AS step, CAST(COUNT(*) AS BIGINT) AS n_users,
         |  percentile_cont(CAST(1 AS DOUBLE)/2)
         |    WITHIN GROUP (ORDER BY click_us - signup_us) AS p50_us,
         |  percentile_cont(CAST(9 AS DOUBLE)/10)
         |    WITHIN GROUP (ORDER BY click_us - signup_us) AS p90_us
         |FROM pu WHERE signup_us < click_us
         |UNION ALL
         |SELECT 'click_purchase' AS step, CAST(COUNT(*) AS BIGINT),
         |  percentile_cont(CAST(1 AS DOUBLE)/2)
         |    WITHIN GROUP (ORDER BY purchase_us - click_us),
         |  percentile_cont(CAST(9 AS DOUBLE)/10)
         |    WITHIN GROUP (ORDER BY purchase_us - click_us)
         |FROM pu WHERE signup_us < click_us AND click_us < purchase_us"""
        .stripMargin,
    "evt_funnel" ->
      s"""SELECT COUNT(*) AS n_users,
         |CAST(SUM(CASE WHEN signup_us IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |  AS n_signup,
         |CAST(SUM(CASE WHEN signup_us < click_us THEN 1 ELSE 0 END) AS BIGINT)
         |  AS n_signup_click,
         |CAST(SUM(CASE WHEN signup_us < click_us AND click_us < purchase_us
         |  THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
         |FROM (SELECT user_id,
         |        MIN(CASE WHEN event_type = 'signup' THEN $usExpr END) AS signup_us,
         |        MIN(CASE WHEN event_type = 'click' THEN $usExpr END) AS click_us,
         |        MIN(CASE WHEN event_type = 'purchase' THEN $usExpr END) AS purchase_us
         |      FROM events GROUP BY user_id)""".stripMargin,
    "evt_outliers" -> {
      val n = "CAST(COUNT(*) AS DOUBLE)"
      val sx = sqlSum("value")
      val sxx = sqlSumProd("value", "value")
      s"""WITH stats AS (
         |  SELECT event_type, ($sx) / ($n) AS mean_v,
         |    sqrt((($sxx) - ($sx) * ($sx) / ($n)) / (($n) - 1.0)) AS sd_v
         |  FROM events GROUP BY event_type)
         |SELECT e.event_type, e.event_id, e.value,
         |  (e.value - s.mean_v) / s.sd_v AS z
         |FROM events e JOIN stats s ON e.event_type = s.event_type
         |WHERE abs((e.value - s.mean_v) / s.sd_v) > 3.0""".stripMargin
    },
    "evt_value_histogram" ->
      s"""SELECT CAST(floor(value / 50.0) * 50 AS BIGINT) AS bucket_lo,
         |COUNT(*) AS n_events, ${sqlAvg("value")} AS avg_in_bucket
         |FROM events GROUP BY 1""".stripMargin,
    "evt_new_users_daily" ->
      s"""SELECT day, n_new,
         |CAST(SUM(n_new) OVER (ORDER BY day
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |  AS n_cumulative
         |FROM (SELECT day, COUNT(*) AS n_new
         |      FROM (SELECT user_id, MIN($usExpr // $DayUs) AS day
         |            FROM events GROUP BY user_id)
         |      GROUP BY day)""".stripMargin,
    "evt_stickiness" ->
      s"""WITH ud AS MATERIALIZED (
         |  SELECT DISTINCT user_id, $usExpr // $DayUs AS day
         |  FROM events),
         |dsp AS (SELECT DISTINCT day FROM ud),
         |dau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau
         |        FROM ud GROUP BY 1),
         |cover AS (SELECT DISTINCT user_id, day + i AS day
         |  FROM ud CROSS JOIN (SELECT unnest(range(0, 7)) AS i)),
         |wau AS (SELECT c.day, CAST(COUNT(*) AS BIGINT) AS wau
         |        FROM cover c JOIN dsp USING (day) GROUP BY 1)
         |SELECT dau.day, dau.dau, wau.wau,
         |  CAST(dau.dau * 1000 // wau.wau AS BIGINT)
         |    AS stickiness_permille
         |FROM dau JOIN wau ON dau.day = wau.day""".stripMargin,
    "evt_retention_daily" ->
      s"""WITH ev AS MATERIALIZED (
         |  SELECT user_id, $usExpr // $DayUs AS day FROM events),
         |coh AS MATERIALIZED (
         |  SELECT user_id, MIN(day) AS cohort_day FROM ev GROUP BY 1),
         |act AS (SELECT DISTINCT user_id, day FROM ev),
         |sz AS (SELECT cohort_day, CAST(COUNT(*) AS BIGINT) AS n_cohort
         |       FROM coh GROUP BY 1),
         |ret AS (SELECT c.cohort_day, a.day - c.cohort_day AS k,
         |          CAST(COUNT(*) AS BIGINT) AS n_active
         |        FROM act a JOIN coh c USING (user_id)
         |        WHERE a.day - c.cohort_day BETWEEN 0 AND 7
         |        GROUP BY 1, 2)
         |SELECT r.cohort_day, r.k, r.n_active, s.n_cohort,
         |  CAST(r.n_active * 1000 // s.n_cohort AS BIGINT)
         |    AS retention_permille
         |FROM ret r JOIN sz s ON r.cohort_day = s.cohort_day"""
        .stripMargin,
    "evt_asof_attribution" ->
      s"""WITH c AS (SELECT user_id, event_id AS click_id, $usExpr AS ts_us
         |           FROM events WHERE event_type = 'click'),
         |p AS (SELECT user_id, $usExpr AS ts_us, MAX(event_id) AS purchase_id
         |      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
         |SELECT c.user_id, c.click_id, p.purchase_id AS last_purchase_id
         |FROM c ASOF LEFT JOIN p
         |  ON c.user_id = p.user_id AND p.ts_us <= c.ts_us""".stripMargin,
    "evt_range_join" ->
      s"""SELECT c.user_id, c.click_id, p.purchase_id,
         |  c.c_ts - p.p_ts AS gap_us
         |FROM (SELECT user_id, event_id AS click_id, $usExpr AS c_ts
         |      FROM events WHERE event_type = 'click') c
         |JOIN (SELECT user_id, event_id AS purchase_id, $usExpr AS p_ts
         |      FROM events WHERE event_type = 'purchase') p
         |ON c.user_id = p.user_id
         |  AND p.p_ts <= c.c_ts AND p.p_ts >= c.c_ts - 300000000""".stripMargin,
    "evt_rolling_7d" ->
      s"""SELECT user_id, day, ${sqlToDouble("day_value")} AS day_value,
         |${sqlToDouble(
             """SUM(day_value) OVER (PARTITION BY user_id ORDER BY day
               |  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin)}
         |  AS rolling_7d
         |FROM (SELECT user_id, $usExpr // $DayUs AS day,
         |        SUM(${sqlDec("value")}) AS day_value
         |      FROM events GROUP BY 1, 2)""".stripMargin,
    "evt_json_extract" ->
      s"""SELECT event_type, COUNT(k) AS n, CAST(SUM(k) AS BIGINT) AS sum_k,
         |CAST(SUM(k) AS DOUBLE) / COUNT(k) AS avg_k
         |FROM (SELECT event_type, CAST(props ->> 'k' AS BIGINT) AS k FROM events)
         |GROUP BY event_type""".stripMargin,
    "evt_tumbling_hourly" ->
      s"""SELECT make_timestamp(($usExpr // $HourUs) * $HourUs) AS window_start,
         |event_type, COUNT(*) AS n_events, ${sqlSum("value")} AS sum_value
         |FROM events GROUP BY 1, 2""".stripMargin,
    "evt_sliding_counts" ->
      s"""SELECT make_timestamp(h * $HalfHourUs) AS window_start,
         |COUNT(*) AS n_events, ${sqlAvg("value")} AS avg_value
         |FROM (SELECT unnest([($usExpr // $HalfHourUs),
         |                     ($usExpr // $HalfHourUs) - 1]) AS h, value
         |      FROM events)
         |GROUP BY 1""".stripMargin,
    "evt_session_windows" ->
      s"""WITH flagged AS (
         |  SELECT user_id, event_id, $usExpr AS ts_us,
         |    CASE WHEN lag($usExpr) OVER w IS NULL
         |           OR $usExpr - lag($usExpr) OVER w > $HalfHourUs
         |         THEN 1 ELSE 0 END AS is_new
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY $usExpr ASC, event_id ASC)),
         |sessions AS (
         |  SELECT user_id, ts_us,
         |    CAST(SUM(is_new) OVER (PARTITION BY user_id
         |      ORDER BY ts_us ASC, event_id ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS session_id
         |  FROM flagged)
         |SELECT user_id, session_id, COUNT(*) AS n_events,
         |  MIN(ts_us) AS start_us, MAX(ts_us) AS end_us,
         |  CAST(MAX(ts_us) - MIN(ts_us) AS DOUBLE) / 60000000.0 AS duration_min
         |FROM sessions GROUP BY user_id, session_id""".stripMargin,
    "evt_top_sessions" ->
      s"""WITH flagged AS (
         |  SELECT user_id, event_id, $usExpr AS ts_us,
         |    CASE WHEN lag($usExpr) OVER w IS NULL
         |           OR $usExpr - lag($usExpr) OVER w > $HalfHourUs
         |         THEN 1 ELSE 0 END AS is_new
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY $usExpr ASC, event_id ASC)),
         |sessions AS (
         |  SELECT user_id, ts_us,
         |    CAST(SUM(is_new) OVER (PARTITION BY user_id
         |      ORDER BY ts_us ASC, event_id ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS session_id
         |  FROM flagged),
         |agged AS (
         |  SELECT user_id, session_id, COUNT(*) AS n_events,
         |    CAST(MAX(ts_us) - MIN(ts_us) AS DOUBLE) / 60000000.0
         |      AS duration_min
         |  FROM sessions GROUP BY user_id, session_id)
         |SELECT user_id, session_id, n_events, duration_min FROM agged
         |ORDER BY duration_min DESC, user_id ASC, session_id ASC
         |LIMIT 10""".stripMargin,
    "evt_session_builtin" ->
      s"""WITH flagged AS (
         |  SELECT user_id, event_id, $usExpr AS ts_us,
         |    CASE WHEN lag($usExpr) OVER w IS NULL
         |           OR $usExpr - lag($usExpr) OVER w > $HalfHourUs
         |         THEN 1 ELSE 0 END AS is_new
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY $usExpr ASC, event_id ASC)),
         |sessions AS (
         |  SELECT user_id, ts_us,
         |    SUM(is_new) OVER (PARTITION BY user_id
         |      ORDER BY ts_us ASC, event_id ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
         |  FROM flagged)
         |SELECT user_id, MIN(ts_us) AS start_us,
         |  MAX(ts_us) + $HalfHourUs AS end_us, COUNT(*) AS n_events
         |FROM sessions GROUP BY user_id, session_id""".stripMargin,
    "evt_daily_top_event" ->
      s"""SELECT user_id, day, event_id, value FROM (
         |  SELECT user_id, $usExpr // $DayUs AS day, event_id, value,
         |    ROW_NUMBER() OVER (PARTITION BY user_id, $usExpr // $DayUs
         |      ORDER BY value DESC, event_id ASC) AS rn
         |  FROM events) WHERE rn = 1""".stripMargin,
    "evt_daily_type_share" ->
      s"""SELECT day, event_type, n_events,
         |  CAST(n_events AS DOUBLE) /
         |    SUM(n_events) OVER (PARTITION BY day) AS share
         |FROM (SELECT $usExpr // $DayUs AS day, event_type,
         |        COUNT(*) AS n_events
         |      FROM events GROUP BY 1, 2)""".stripMargin,
    "evt_dow_seasonality" ->
      s"""WITH cells AS (
         |  SELECT event_type, ($usExpr // $DayUs + 4) % 7 AS dow,
         |    CAST(COUNT(*) AS BIGINT) AS n_events
         |  FROM events GROUP BY 1, 2),
         |wt AS (SELECT event_type, dow, n_events,
         |  CAST(SUM(n_events) OVER (PARTITION BY event_type) AS BIGINT)
         |    AS t
         |  FROM cells),
         |g AS (SELECT event_type, dow, n_events,
         |  CAST(CAST(7 * n_events - t AS HUGEINT) * (7 * n_events - t)
         |    * 1000000 // (7 * CAST(t AS HUGEINT)) AS BIGINT) AS chi_ppm
         |  FROM wt)
         |SELECT event_type, dow, n_events, chi_ppm,
         |  CAST(SUM(chi_ppm) OVER (PARTITION BY event_type) AS BIGINT)
         |    AS chi_total_ppm
         |FROM g""".stripMargin,
    "evt_cusum_changepoint" ->
      s"""WITH daily AS (
         |  SELECT event_type, $usExpr // $DayUs AS day,
         |    CAST(COUNT(*) AS BIGINT) AS c
         |  FROM events GROUP BY 1, 2),
         |cs AS (SELECT event_type, day,
         |  CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY day)
         |    AS BIGINT) AS p,
         |  CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
         |    AS BIGINT) AS t_idx,
         |  CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT)
         |    AS n_days,
         |  CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS total
         |  FROM daily),
         |g AS (SELECT event_type, day, n_days, total,
         |  abs(n_days * p - t_idx * total) AS s_abs FROM cs)
         |SELECT event_type, n_days, total AS n_events, day AS cp_day,
         |  s_abs AS cusum_abs
         |FROM (SELECT *, row_number() OVER (PARTITION BY event_type
         |        ORDER BY s_abs DESC, day ASC) AS rn FROM g)
         |WHERE rn = 1""".stripMargin,
  )
}
