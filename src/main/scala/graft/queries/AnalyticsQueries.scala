package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.sources.Tables
import Canon._

/** Second relational/analytics slab: window-function navigation and
  * ranking, full-outer / cross joins, multi-join market-share and
  * stock-concentration (TPC-H Q8/Q11 shapes), cohort retention and
  * inter-arrival statistics over events.
  *
  * Scale posture: navigation/ranking windows shuffle once on their
  * partition key; the market-share query broadcasts every dimension and
  * shuffles only lineitem⋈orders; cohorts pre-aggregate to (user, week)
  * grain before the distinct count so the shuffle carries deduplicated
  * rows, not raw events.
  */
object AnalyticsQueries {

  private val DayUs = 86400L * 1000000L
  private val WeekUs = 7L * DayUs

  /** Cache a small intermediate referenced from two plan branches (the
    * second reference would otherwise re-run the full upstream
    * aggregation — same contract as Dedup.reused, same bounded
    * [[graft.operators.PlanCache]] lifecycle). */
  private def reused(df: DataFrame): DataFrame =
    graft.operators.PlanCache.reuse(df)

  // ------------------------------------------------------------- queries

  /** Window navigation suite: lag / lead / first_value / last_value over
    * each customer's order history in (date, key) order. Gap arithmetic
    * in epoch-µs (both engines read the ms-precision fixture exactly). */
  def windowNav(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(s, dir)
      .withColumn("ts_us",
        expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))"))
      .select(
        col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        ((col("ts_us") - lag(col("ts_us"), 1).over(w)) / lit(DayUs))
          .cast("long").as("gap_days"),
        first(col("o_totalprice")).over(full).as("first_price"),
        last(col("o_totalprice")).over(full).as("last_price"))
  }

  /** Window ranking suite: row_number / percent_rank / cume_dist /
    * ntile(4) within order priority. The tie-broken (price, key) order
    * makes every rank — ntile included — deterministic; percent_rank and
    * cume_dist are ratios of identical integers, hence bit-exact. */
  def windowRank(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(s, dir).select(
      col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
      row_number().over(w).as("rn"),
      percent_rank().over(w).as("pct_rank"),
      cume_dist().over(w).as("cume"),
      ntile(4).over(w).as("quartile"))
  }

  /** FULL OUTER join of two filtered per-nation aggregates — both sides
    * have keys the other lacks, so genuine left-only and right-only rows
    * survive; COALESCE rebuilds the key and zero-fills the counts. */
  def fullOuterNations(s: SparkSession, dir: String): DataFrame = {
    val custs = Tables.customer(s, dir)
      .filter(col("c_mktsegment") === "MACHINERY")
      .groupBy(col("c_nationkey").as("nk"))
      .agg(count(lit(1)).as("n_cust"))
    val supps = Tables.supplier(s, dir)
      .filter(col("s_acctbal") > 5000)
      .groupBy(col("s_nationkey").as("nk2"))
      .agg(count(lit(1)).as("n_supp"))
    custs.join(supps, col("nk") === col("nk2"), "full_outer")
      .select(coalesce(col("nk"), col("nk2")).as("nationkey"),
              coalesce(col("n_cust"), lit(0L)).as("n_cust"),
              coalesce(col("n_supp"), lit(0L)).as("n_supp"))
  }

  /** CROSS JOIN of two small distinct dimensions (priority × status) with
    * observed counts left-joined in — the zero-filled contingency matrix
    * a plain GROUP BY cannot produce. Both sides of the cartesian product
    * are broadcast-sized by construction. */
  def crossMatrix(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(s, dir)
    val prios = ord.select(col("o_orderpriority")).distinct()
    val stats = ord.select(col("o_orderstatus")).distinct()
    val counts = ord.groupBy(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"))
    prios.crossJoin(stats)
      .join(counts, Seq("o_orderpriority", "o_orderstatus"), "left_outer")
      .select(col("o_orderpriority"), col("o_orderstatus"),
              coalesce(col("n"), lit(0L)).as("n_orders"))
  }

  /** TPC-H Q8-shaped market share: per (order year, supplier region),
    * revenue and its share of the year total. Dimensions broadcast;
    * lineitem⋈orders is the only shuffled join; the year total is a
    * second windowed pass over the small grouped result, not a re-scan.
    * Shares divide two varchar-routed exact-decimal sums in double. */
  def marketShare(s: SparkSession, dir: String): DataFrame = {
    val supNation = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)),
            col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)),
            col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("r_name"))
    val grouped = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir).filter(
              year(col("o_orderdate")).between(1996, 1997)),
            col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supNation), col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).as("o_year"), col("r_name"))
      .agg(sum(dec(col("l_extendedprice")) * dec(lit(1.0) - col("l_discount")))
             .as("rev_dec"))
    val yearTotal = Window.partitionBy(col("o_year"))
    grouped.select(
        col("o_year"), col("r_name"),
        col("rev_dec").cast(DoubleType).as("region_rev"),
        sum(col("rev_dec")).over(yearTotal).cast(DoubleType).as("year_rev"))
      .withColumn("share", col("region_rev") / col("year_rev"))
  }

  /** TPC-H Q11-shaped concentration: parts whose lineitem revenue
    * exceeds 1.5× the MEAN part revenue (1-row broadcast scalar, not a
    * driver round-trip), rolled up per brand. The threshold is relative
    * — a fixed fraction of the grand total selects nothing as the part
    * count grows, so it would pass vacuously at every scale. */
  def stockConcentration(s: SparkSession, dir: String): DataFrame = {
    // revenue stays DECIMAL through every cross-row sum (a double
    // round-trip would re-round through DECIMAL(18,4) and lose the
    // 8-decimal product exactness); doubles appear only at comparison
    // and output boundaries
    val perPart = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey"))
      .agg(sum(dec(col("l_extendedprice")) * dec(lit(1.0) - col("l_discount")))
             .as("pv_dec"))
      .withColumn("part_value", col("pv_dec").cast(DoubleType))
    val total = perPart.agg(
      (sum(col("pv_dec")).cast(DoubleType) / count(lit(1)))
        .as("mean_part_value"))
    perPart.join(broadcast(total))
      .filter(col("part_value") > col("mean_part_value") * lit(1.5))
      .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_parts"),
           sum(col("pv_dec")).cast(DoubleType).as("brand_value"))
  }

  /** Cohort retention: users bucketed by first-seen week, counted per
    * (cohort week, week offset). Activity is pre-deduplicated to
    * (user, week) grain before the join+count, so the final shuffle
    * carries one row per user-week, never raw events. */
  def retentionCohorts(s: SparkSession, dir: String): DataFrame = {
    val weeks = reused(Tables.events(s, dir)
      .select(col("user_id"), expr(s"ts_ns DIV 1000 DIV $WeekUs").as("week")))
    val userWeeks = weeks.distinct()
    val cohorts = weeks.groupBy(col("user_id"))
      .agg(min(col("week")).as("cohort_week"))
    userWeeks.join(cohorts, Seq("user_id"))
      .groupBy(col("cohort_week"),
               (col("week") - col("cohort_week")).as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Inter-arrival statistics per event type: integer-µs deltas from a
    * tie-broken lag, aggregated exactly (BIGINT sums; the mean divides
    * two identical integers in double). */
  def interArrival(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
    Tables.events(s, dir)
      .withColumn("ts_us", expr("ts_ns DIV 1000"))
      .withColumn("gap_us", col("ts_us") - lag(col("ts_us"), 1).over(w))
      .groupBy(col("event_type"))
      .agg(count(col("gap_us")).as("n_gaps"),
           sum(col("gap_us")).as("sum_gap_us"),
           (sum(col("gap_us")).cast(DoubleType) / count(col("gap_us")))
             .as("avg_gap_us"),
           max(col("gap_us")).as("max_gap_us"))
  }

  /** Forward as-of join: each click attributed to the NEXT purchase at
    * or after it (lookahead conversion) — the direction DuckDB's native
    * ASOF can't express directly, so the oracle is an independent
    * correlated-subquery replay. Same single-shuffle union+window shape
    * as the backward variant. */
  def asofForward(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).withColumn("ts_us", expr("ts_ns DIV 1000"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts_us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts_us"))
      .agg(max(col("event_id")).as("purchase_id"))
    graft.operators.Relational
      .asofJoin(clicks, purchases, Seq("user_id"), "ts_us", "ts_us",
                "purchase_id", forward = true)
      .select(col("user_id"), col("click_id"),
              col("__asof").as("next_purchase_id"))
  }

  /** Robust outlier counts per event type: median and MAD from exact
    * interpolated percentiles (two grouped passes, the second over
    * broadcast-joined medians), then a 3-MAD gate. */
  def madOutliers(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val medians = reused(ev.groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.5)").as("median_value")))
    // narrow (type, median, dev) projection cached: it feeds both the
    // MAD aggregate and the outlier count, and recomputing it means a
    // second events scan + median join
    val withDev = reused(ev.join(broadcast(medians), Seq("event_type"))
      .select(col("event_type"), col("median_value"),
              abs(col("value") - col("median_value")).as("abs_dev")))
    val stats = withDev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           first(col("median_value")).as("median_value"),
           expr("percentile(abs_dev, 0.5)").as("mad"))
    val outliers = withDev
      .join(broadcast(stats.select(col("event_type"), col("mad"))),
            Seq("event_type"))
      .filter(col("abs_dev") > col("mad") * 3)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n_outliers"))
    stats.join(broadcast(outliers), Seq("event_type"), "left_outer")
      .select(col("event_type"), col("n_events"), col("median_value"),
              col("mad"), coalesce(col("n_outliers"), lit(0L)).as("n_outliers"))
  }

  /** Per-user lifetime-value decile buckets. Deliberately NOT a global
    * ntile: an unpartitioned window is a single-partition sort — the
    * canonical will-not-scale plan. Instead: exact interpolated decile
    * cutpoints (percentile is a partial-merge aggregate) broadcast back,
    * bucket by comparison. Equal-width-by-rank up to ties, and every
    * stage distributes. Decimal totals keep cross-user sums order-free;
    * the interpolation `lower + (higher-lower)*frac` is the same IEEE
    * expression in both engines (see rel_percentiles). */
  def userValueDeciles(s: SparkSession, dir: String): DataFrame = {
    // per-user decimal totals off the shared pinned panel (r16): the
    // panel's total_dec is this query's previous dedicated aggregate
    val perUser = EventQueries.userPanel(s, dir)
      .select(col("user_id"), col("total_dec"))
      .withColumn("total_d", col("total_dec").cast(DoubleType))
    val cuts = perUser.agg(expr(
      "percentile(total_d, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))")
      .as("cuts"))
    val decile = (1 to 9).map(i =>
      when(col("total_d") > element_at(col("cuts"), i), 1).otherwise(0))
      .reduce(_ + _) + 1
    perUser.join(broadcast(cuts))
      .withColumn("decile", decile)
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_users"),
           sum(col("total_dec")).cast(DoubleType).as("sum_value"),
           min(col("total_dec")).cast(DoubleType).as("min_value"),
           max(col("total_dec")).cast(DoubleType).as("max_value"))
  }

  /** TPC-H Q17-shaped correlated-scalar filter: lineitems under 20% of
    * their part's average quantity, revenue per brand. Expressed as a
    * manual decorrelation (per-part aggregate joined back) — the same
    * plan Catalyst's subquery decorrelation produces; the oracle keeps
    * the correlated form. */
  def smallQuantityRevenue(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val perPart = li.groupBy(col("l_partkey").as("pk"))
      .agg(exactAvg(col("l_quantity")).as("avg_qty"))
    li.join(perPart, col("l_partkey") === col("pk"))
      .filter(col("l_quantity") < col("avg_qty") * lit(0.2))
      .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_lines"),
           (exactSum(col("l_extendedprice")) / lit(7.0)).as("avg_yearly"))
  }

  /** TPC-H Q14-shaped promo share: conditional revenue ratio in one
    * grouped pass (no second scan — the CASE splits the same exact
    * decimal sum), part dim broadcast. */
  def promoShare(s: SparkSession, dir: String): DataFrame = {
    val joined = Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
      .withColumn("y", year(col("l_shipdate")))
    val rev = dec(col("l_extendedprice")) * dec(lit(1.0) - col("l_discount"))
    // sum() skips the CASE's nulls — a year with no promo lines yields
    // NULL share in both engines, no zero-literal typing needed
    joined.groupBy(col("y"))
      .agg((sum(when(col("p_type") === "PROMO", rev))
              .cast(DoubleType) * lit(100.0) /
            sum(rev).cast(DoubleType)).as("promo_share"),
           count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q19-shaped OR-of-ANDs predicate join: disjunctive brand ×
    * size × quantity windows — the CNF-conversion / pushdown stress
    * shape (each disjunct prunes at the scan, the join stays equi). */
  def multiPredRevenue(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val p = Tables.part(s, dir)
    val cond =
      (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
         col("l_quantity").between(1, 20)) ||
      (col("p_brand") === "Brand#2" && col("p_size").between(10, 30) &&
         col("l_quantity").between(10, 30)) ||
      (col("p_brand") === "Brand#3" && col("p_size").between(20, 50) &&
         col("l_quantity").between(20, 40))
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .filter(cond)
      .groupBy(col("p_brand"))
      .agg(exactSumProd(col("l_extendedprice"), lit(1.0) - col("l_discount"))
             .as("revenue"),
           count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q4-shaped EXISTS: orders with at least one lineitem shipped
    * more than 90 days after the order date, counted per priority —
    * left-semi join with a non-equi conjunct. */
  def latePriorityOrders(s: SparkSession, dir: String): DataFrame = {
    val late = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_shipdate"))
    Tables.orders(s, dir)
      .join(late,
            col("o_orderkey") === col("l_orderkey") &&
              col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
            "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
  }

  /** Typed JSON parsing: `from_json` with an explicit schema (vs
    * evt_json_extract's path-string route) → struct field access,
    * malformed rows null out per from_json's PERMISSIVE default. */
  def jsonTyped(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("p", from_json(col("props"), lit("k BIGINT")))
      .groupBy(col("event_type"))
      .agg(count(col("p.k")).as("n_parsed"),
           min(col("p.k")).as("min_k"), max(col("p.k")).as("max_k"),
           countDistinct(col("p.k")).as("n_distinct_k"))

  /** The SQL front-end exercised end-to-end: a CTE + window report a
    * reference user would type verbatim (weekly actives/revenue with
    * week-over-week deltas via lag) — same engine, same oracle
    * machinery, raw SQL entry path. */
  def sqlWeeklyReport(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir).createOrReplaceTempView("events_sql")
    s.sql(
      s"""WITH weekly AS (
         |  SELECT ts_ns DIV 1000 DIV $WeekUs AS week,
         |    COUNT(DISTINCT user_id) AS actives,
         |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         |  FROM events_sql GROUP BY 1)
         |SELECT week, actives, revenue,
         |  actives - lag(actives) OVER (ORDER BY week) AS actives_delta,
         |  revenue - lag(revenue) OVER (ORDER BY week) AS revenue_delta
         |FROM weekly""".stripMargin)
  }

  /** Array aggregation: collect_set sorted for determinism (collection
    * order is partial-aggregation-order dependent; the sort — and the
    * string join for the hash compare — canonicalize it). Per customer:
    * the distinct order priorities ever used, as a sorted CSV string. */
  def collectPriorities(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
           concat_ws(",", array_sort(collect_set(col("o_orderpriority"))))
             .as("priorities"),
           size(collect_set(col("o_orderpriority"))).as("n_priorities"))

  /** Salted skew join: lineitem salted on line identity, orders
    * replicated ×8 — result must equal the plain join (the oracle IS
    * the plain form), the point is the shuffle shape. */
  def saltedJoinRevenue(s: SparkSession, dir: String): DataFrame =
    graft.operators.Relational.saltedJoin(
        Tables.lineitem(s, dir),
        Tables.orders(s, dir).select(col("o_orderkey").as("l_orderkey"),
                                     col("o_orderpriority")),
        "l_orderkey", col("l_orderkey") * lit(31) + col("l_linenumber"), 8)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
           exactSum(col("l_quantity")).as("sum_qty"))

  /** Bloom-pruned semi join: orders having a high-quantity lineitem —
    * probe side pre-filtered by an 8 Mbit bloom over the build keys
    * before the exact semi join; result ≡ plain EXISTS (the oracle). */
  def bloomSemiHighQuantity(s: SparkSession, dir: String): DataFrame =
    graft.operators.Relational.bloomSemiJoin(
        Tables.orders(s, dir),
        Tables.lineitem(s, dir).filter(col("l_quantity") >= 45)
          .select(col("l_orderkey")),
        "o_orderkey", "l_orderkey")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
           exactSum(col("o_totalprice")).as("sum_price"))

  /** Dimension enrichment — the batch twin of StreamOps.enrichStream
    * over an in-code weight dimension (broadcast, left-outer so
    * unmatched types survive with a default weight): weighted value
    * totals per event type. */
  def enrichWeighted(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dim = Seq(("click", 2L), ("view", 1L), ("purchase", 10L))
      .toDF("event_type", "weight")
    graft.streaming.StreamOps.enrichStream(
        Tables.events(s, dir), dim, "event_type")
      .withColumn("w", coalesce(col("weight"), lit(1L)))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           first(col("w")).as("weight"),
           (sum(dec(col("value")) * col("w"))).cast(DoubleType)
             .as("weighted_value"))
  }

  /** Time-series densification: a generated day spine (sequence +
    * explode of the [min, max] day range — one 1-row aggregate, no
    * driver round-trip) left-joined to daily counts, gaps zero-filled.
    * The spine is the row-preserved LEFT side, so the (small) counts
    * table is the broadcast build side; `daily` feeds both the spine
    * bounds and the join, hence the cache. */
  def dailyGapfill(s: SparkSession, dir: String): DataFrame = {
    val daily = reused(Tables.events(s, dir)
      .select(expr(s"ts_ns DIV 1000 DIV $DayUs").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("n_events")))
    val spine = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(expr("sequence(d0, d1)")).as("day"))
    spine.join(daily, Seq("day"), "left_outer")
      .select(col("day"), coalesce(col("n_events"), lit(0L)).as("n_events"))
  }

  /** Referential-integrity audit: orphan foreign-key counts across the
    * star schema in one result, union'd into a
    * (relation, n_rows, n_orphans) report — the data-quality gate that
    * runs before any pipeline trusts its joins. ONE scan per relation:
    * a left-outer join against the distinct dimension keys feeds both
    * counts (total + null-probe) in the same aggregation; join strategy
    * is left to AQE (small dims broadcast themselves, orders-sized key
    * sets go sort-merge — an unconditional broadcast would OOM at
    * scale). */
  def fkAudit(s: SparkSession, dir: String): DataFrame = {
    def audit(name: String, fact: DataFrame, key: String,
              dim: DataFrame, dimKey: String): DataFrame = {
      val keys = dim.select(col(dimKey).as(key)).distinct()
        .withColumn("__hit", lit(1))
      fact.select(col(key))
        .join(keys, Seq(key), "left_outer")
        .agg(count(lit(1)).as("n_rows"),
             count(when(col("__hit").isNull, 1)).as("n_orphans"))
        .select(lit(name).as("relation"), col("n_rows"), col("n_orphans"))
    }
    audit("lineitem->orders", Tables.lineitem(s, dir), "l_orderkey",
          Tables.orders(s, dir), "o_orderkey")
      .unionAll(audit("orders->customer", Tables.orders(s, dir), "o_custkey",
                      Tables.customer(s, dir), "c_custkey"))
      .unionAll(audit("customer->nation", Tables.customer(s, dir), "c_nationkey",
                      Tables.nation(s, dir), "n_nationkey"))
      .unionAll(audit("lineitem->part", Tables.lineitem(s, dir), "l_partkey",
                      Tables.part(s, dir), "p_partkey"))
  }

  /** DAU / WAU / stickiness: daily actives, trailing-7-day actives, and
    * their ratio. Exact windowed distinct counts via a TRUE bounded
    * fan-out: each deduplicated (user, day) row is exploded into the ≤7
    * trailing windows it belongs to and EQUI-joined to the day spine —
    * a hash join whose compute AND shuffle are 7× the user-day table.
    * (A range-condition join against the spine would plan as a
    * nested-loop: bounded output, but compute linear in the date
    * range.) */
  def dauWau(s: SparkSession, dir: String): DataFrame = {
    // shared pinned user-day frame (r16 evt pass)
    val userDays = EventQueries.userDays(s, dir)
    val dau = userDays.groupBy(col("day"))
      .agg(count(lit(1)).as("dau"))
    val spine = userDays.select(col("day")).distinct()
      .withColumnRenamed("day", "d")
    val wau = userDays
      .select(col("user_id"), col("day"),
              explode(sequence(lit(0L), lit(6L))).as("off"))
      .select(col("user_id"), (col("day") + col("off")).as("d"))
      .join(broadcast(spine), Seq("d"))
      .groupBy(col("d").as("day"))
      .agg(countDistinct(col("user_id")).as("wau"))
    dau.join(wau, Seq("day"))
      .withColumn("stickiness", col("dau").cast(DoubleType) / col("wau"))
  }

  /** HLL-sketched WAU twin of [[dauWau]] — the pre-aggregable form the
    * exact fan-out can't give you at 100 TB. Per-day HyperLogLog
    * registers of the user set ([[graft.operators.Sketch.hllRegisters]],
    * width 64, seeded md5, no RNG), then each trailing 7-day window's
    * register set is the bucket-wise MAX merge of its member days
    * ([[graft.operators.Sketch.hllMerge]]) — ≤ 64·7 register rows per
    * window versus the exact query's re-scan of raw user-days. Output is
    * the integer register STATE per window day
    * ([[graft.operators.Sketch.hllState]]: n_regs, Σρ, checksum, scaled
    * harmonic denominator — all exact BIGINTs), cross-engine hash-exact;
    * the float estimate stays out of compared columns (transcendental
    * rule) and its accuracy is spec-pinned in-JVM.
    *
    * Scale: ONE corpus shuffle keyed (day, bucket) with map-side MAX
    * combine — no distinct-user pre-shuffle needed, duplicate events
    * collapse inside the max; the 7× fan-out and merge act on the
    * register table (≤ 64 rows/day), not the corpus. */
  def hllWau(s: SparkSession, dir: String): DataFrame = {
    val w = 64
    // shared pinned user-day frame (r16): per-bucket register MAX is
    // dedup-invariant, so registers over the distinct (user, day) set
    // are bit-identical to registers over raw events
    val days = EventQueries.userDays(s, dir)
    val regs = graft.operators.Sketch.hllRegisters(days, "user_id",
                                                   Seq("day"), w)
    val spine = regs.select(col("day")).distinct()
      .withColumnRenamed("day", "d")
    val fanned = regs
      .select(col("day"), col("bucket"), col("reg"),
              explode(sequence(lit(0L), lit(6L))).as("off"))
      .select((col("day") + col("off")).as("day"), col("bucket"), col("reg"))
      .join(broadcast(spine), col("day") === col("d"))
      .select(col("day"), col("bucket"), col("reg"))
    graft.operators.Sketch.hllState(
      graft.operators.Sketch.hllMerge(fanned), Seq("day"), w)
  }

  /** Time-hierarchy ROLLUP: (year, quarter, month) subtotal ladder in
    * one pass, grouping_id disambiguating natural NULLs. Pre-aggregated
    * to the (y, q, m) leaf grain first (r15 Expand sweep — see
    * RelationalQueries.cubeSales): the rollup's ×4 Expand then multiplies
    * ~84 month cells, not the orders table; decimal partials and counts
    * regroup exactly. */
  def rollupTime(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(year(col("o_orderdate")).as("y"),
               quarter(col("o_orderdate")).as("q"),
               month(col("o_orderdate")).as("m"))
      .agg(count(lit(1)).as("c"),
           sum(Canon.dec(col("o_totalprice"))).as("s_dec"))
      .rollup(col("y"), col("q"), col("m"))
      .agg(sum(col("c")).as("n_orders"),
           sum(col("s_dec")).cast(org.apache.spark.sql.types.DoubleType)
             .as("sum_price"),
           grouping_id().as("gid"))

  /** Two-sample distribution tests in pure INTEGER arithmetic —
    * Kolmogorov-Smirnov D and Mann-Whitney U between returned ('R') and
    * delivered ('N') line quantities. Every statistic is a ratio of
    * exact integers (tie-averaged rank sums are half-integers, so 2·R is
    * an integer; D's numerator is max|cA·nB − cB·nA|), and a single
    * IEEE division of bit-identical integers is bit-identical — no
    * transcendental, no quantization. The heavy lifting is one
    * aggregation to the DISTINCT-VALUE grain (≤ |value domain| rows, 50
    * here), so the ordered window that builds CDFs and rank ranges runs
    * over a tiny frame regardless of corpus size — the standard
    * value-histogram compression for rank tests at scale. */
  def ksMannWhitney(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .filter(col("l_returnflag").isin("R", "N"))
      .select(col("l_quantity").as("v"),
              when(col("l_returnflag") === "R", 1L).otherwise(0L).as("isA"))
    val perValue = li.groupBy(col("v"))
      .agg(sum(col("isA")).as("ca"), sum(lit(1L) - col("isA")).as("cb"))
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = perValue
      .withColumn("cuma", sum(col("ca")).over(w))
      .withColumn("cumb", sum(col("cb")).over(w))
    val totals = cum.agg(max(col("cuma")).as("na"), max(col("cumb")).as("nb"))
    // 2·(rank sum of A) with tie-averaged ranks: each distinct value's
    // occupants share avg rank = prior_total + (cnt+1)/2, so
    // 2·contribution = ca · (2·prior_total + cnt + 1) — all integers
    val withPrior = cum
      .withColumn("prior", col("cuma") + col("cumb") - col("ca") - col("cb"))
    // grouped by the totals, like the oracle's GROUP BY na, nb: an
    // empty input then yields no row, not one all-NULL row
    val stats = withPrior.crossJoin(broadcast(totals))
      .groupBy(col("na").as("n_a"), col("nb").as("n_b"))
      .agg(
        max(abs(col("cuma") * col("nb") - col("cumb") * col("na")))
          .as("ks_num"),
        sum(col("ca") * (col("prior") * 2 + col("ca") + col("cb") + 1))
          .as("r2a"))
    stats.select(
      col("n_a"), col("n_b"),
      col("ks_num"),
      (col("ks_num").cast(DoubleType) /
        (col("n_a") * col("n_b")).cast(DoubleType)).as("ks_d"),
      // 2·U_A = 2·R_A − nA(nA+1)
      (col("r2a") - col("n_a") * (col("n_a") + 1)).as("u2_a"))
  }

  /** Poisson(1) inverse-CDF thresholds on the 2³² grid (floor(cdf·2³²),
    * exact integers — computed once from the series e⁻¹/k!, k = 0..5;
    * weights cap at 6, beyond which mass is < 6·10⁻⁴ per draw). A
    * seeded-md5 uniform u ∈ [0, 2³²) maps to the bootstrap weight
    * w = |{k : u ≥ t_k}| with ZERO float arithmetic. */
  private[graft] val PoissonCdf32 = Seq(1580030168L, 3160060337L,
    3950075421L, 4213413783L, 4279248373L, 4292415291L)

  /** Poisson-bootstrap confidence intervals for mean order value per
    * priority — the uncertainty quantification an eval/report pipeline
    * attaches to point estimates. Multinomial resampling needs a global
    * n (a driver-side barrier); Poissonization (Chamandy et al. 2012)
    * makes each replicate weight an independent Poisson(1) draw — a
    * pure per-row map, the only bootstrap that distributes. 64
    * deterministic replicates: weight from a seeded-md5 uniform against
    * the exact integer [[PoissonCdf32]] thresholds (no RNG, no float in
    * the resample — reproducible on any cluster layout), per-replicate
    * weighted means over exact DECIMAL sums, then the 2.5/50/97.5
    * percentiles across replicate means by exact interpolation (the
    * evt_value_deciles precedent) next to the plain point estimate.
    *
    * Scale shape: the ×64 fan-out is one broadcast range join (single
    * codegen copy — the round-5 union-multiplier gotcha; allowlisted
    * BNLJ), the per-(priority, rep) aggregate combines map-side, and
    * the percentile pass sees only groups×64 rows. */
  def bootstrapCi(s: SparkSession, dir: String): DataFrame = {
    val reps = broadcast(s.range(64).toDF("rep"))
    // spread BEFORE the ×64 fan-out: the broadcast join preserves the
    // streamed side's partitioning, so a one-split parquet would run
    // the whole 64× md5 expansion on a single task
    val o = Tables.spread(Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice")))
    val u = conv(substring(md5(concat(
      lit("boot|"), col("o_orderkey").cast("string"),
      lit("|"), col("rep").cast("string"))), 1, 8), 16, 10).cast("long")
    val w = PoissonCdf32
      .map(t => when(col("u") >= lit(t), 1L).otherwise(0L)).reduce(_ + _)
    val repMeans = o.crossJoin(reps)
      .withColumn("u", u)
      .withColumn("w", w)
      .drop("u")
      .groupBy(col("o_orderpriority"), col("rep"))
      .agg(sum(dec(col("o_totalprice")) * col("w")).as("sw"),
           sum(col("w")).as("nw"))
      .withColumn("rep_mean", col("sw").cast(DoubleType) / col("nw"))
    val point = o.groupBy(col("o_orderpriority"))
      .agg(exactAvg(col("o_totalprice")).as("point_mean"))
    repMeans.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_reps"),
           expr("""percentile(rep_mean, array(CAST(1 AS DOUBLE)/40,
                 | CAST(1 AS DOUBLE)/2, CAST(39 AS DOUBLE)/40))"""
             .stripMargin).as("qs"))
      .join(point, Seq("o_orderpriority"))
      .select(col("o_orderpriority"), col("n_reps"),
              get(col("qs"), lit(0)).as("ci_lo"),
              get(col("qs"), lit(1)).as("boot_median"),
              get(col("qs"), lit(2)).as("ci_hi"),
              col("point_mean"))
  }

  /** Benford expected first-digit shares in permille
    * (round(log10(1 + 1/d)·1000) — they sum to exactly 1000). Embedded
    * as integer literals on both engines: no transcendental ever
    * reaches the compare. */
  private val BenfordPermille: Seq[(String, Long)] = Seq(
    "1" -> 301L, "2" -> 176L, "3" -> 125L, "4" -> 97L, "5" -> 79L,
    "6" -> 67L, "7" -> 58L, "8" -> 51L, "9" -> 46L)

  /** Benford first-digit audit over order totals — the data-quality /
    * fraud screen every financial-ish column gets (fabricated or
    * capped values bend the leading-digit law). Per digit: observed
    * count and permille vs the Benford expectation, and the absolute
    * deviation. The first digit is taken from the INTEGER cents string
    * (CAST(round(x·100) AS BIGINT) — the sanctioned exact-integer
    * recovery — then BIGINT→VARCHAR, identical renderings), so no
    * log10/power arithmetic can disagree at a decade boundary. One
    * map-side digit tag, a 9-group aggregate, an allowlisted 1-row
    * total broadcast. */
  def benfordAudit(s: SparkSession, dir: String): DataFrame = {
    val expMap = typedlit(BenfordPermille.toMap)
    val digits = Tables.orders(s, dir).select(
      substring(expr("CAST(round(o_totalprice * 100) AS BIGINT)")
        .cast("string"), 1, 1).as("digit"))
    val tot = digits.agg(count(lit(1)).as("n"))
    digits.groupBy(col("digit"))
      .agg(count(lit(1)).as("n_obs"))
      .crossJoin(broadcast(tot))
      .withColumn("obs_permille", expr("n_obs * 1000 DIV n"))
      .withColumn("exp_permille", element_at(expMap, col("digit")))
      .withColumn("dev_permille",
        abs(col("obs_permille") - col("exp_permille")))
      .select(col("digit"), col("n_obs"), col("obs_permille"),
              col("exp_permille"), col("dev_permille"))
  }

  /** Differentially-private noisy counts via the two-sided GEOMETRIC
    * mechanism (Ghosh-Roughgarden-Sundararajan 2009 — the discrete
    * Laplace analogue, utility-optimal for counts; α = 1/2 ⇒ ε = ln 2
    * per released count). Noise needs NO RNG and NO float: the
    * magnitude has P(m) = 2⁻⁽ᵐ⁺¹⁾, realized EXACTLY as
    * 16 − bit_length(v) for a seeded-md5 uniform v ∈ [1, 2¹⁶]
    * (bit-length buckets are exact powers of two — the same integer
    * inverse-CDF discipline as [[bootstrapCi]]'s Poisson thresholds;
    * the one v = 2¹⁶ edge clamps to 0), the sign from an independent
    * hash slice, and the release clamped at zero. Per nation: true
    * customer count, the drawn noise, the DP release, and the absolute
    * error — the utility panel a DP deployment publishes next to its ε.
    *
    * Scale shape: one map-side-combined count per nation, noise a pure
    * per-row expression over the |nations|-row frame, names a
    * broadcast dim join. */
  def dpGeometricCounts(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .groupBy(col("c_nationkey")).agg(count(lit(1)).as("true_cnt"))
      .withColumn("u", conv(substring(md5(concat(lit("dp|"),
        col("c_nationkey").cast("string"))), 1, 15), 16, 10).cast("long"))
      .withColumn("v", expr("u % 65536 + 1"))
      .withColumn("m", expr("greatest(16 - length(bin(v)), 0)"))
      .withColumn("noise", expr(
        "CAST(CASE WHEN (u DIV 65536) % 2 = 1 THEN -m ELSE m END AS BIGINT)"))
      .withColumn("noisy_cnt",
        expr("greatest(true_cnt + noise, CAST(0 AS BIGINT))"))
      .withColumn("abs_err", expr("abs(noisy_cnt - true_cnt)"))
      .join(broadcast(Tables.nation(s, dir)
        .select(col("n_nationkey").as("c_nationkey"), col("n_name"))),
        Seq("c_nationkey"))
      .select(col("n_name"), col("true_cnt"), col("noise"),
              col("noisy_cnt"), col("abs_err"))

  val registry: Map[String, (SparkSession, String) => DataFrame] = Map(
    "rel_dp_geometric"     -> (dpGeometricCounts _),
    "rel_bootstrap_ci"     -> (bootstrapCi _),
    "rel_benford_audit"    -> (benfordAudit _),
    "rel_ks_mannwhitney"   -> (ksMannWhitney _),
    "evt_dau_wau"        -> (dauWau _),
    "evt_hll_wau"        -> (hllWau _),
    "rel_rollup_time"    -> (rollupTime _),
    "rel_fk_audit"       -> (fkAudit _),
    "evt_daily_gapfill"  -> (dailyGapfill _),
    "evt_enrich_weighted" -> (enrichWeighted _),
    "rel_bloom_semi"     -> (bloomSemiHighQuantity _),
    "rel_salted_join"    -> (saltedJoinRevenue _),
    "rel_collect_array"  -> (collectPriorities _),
    "evt_json_typed"     -> (jsonTyped _),
    "sql_weekly_report"  -> (sqlWeeklyReport _),
    "rel_promo_share"    -> (promoShare _),
    "rel_multi_pred"     -> (multiPredRevenue _),
    "rel_late_priority"  -> (latePriorityOrders _),
    "evt_asof_forward"   -> (asofForward _),
    "evt_mad_outliers"   -> (madOutliers _),
    "evt_value_deciles"  -> (userValueDeciles _),
    "rel_small_qty_revenue" -> (smallQuantityRevenue _),
    "rel_window_nav"     -> (windowNav _),
    "rel_window_rank"    -> (windowRank _),
    "rel_full_outer"     -> (fullOuterNations _),
    "rel_cross_matrix"   -> (crossMatrix _),
    "rel_market_share"   -> (marketShare _),
    "rel_stock_concentration" -> (stockConcentration _),
    "evt_retention_cohorts"   -> (retentionCohorts _),
    "evt_interarrival"   -> (interArrival _),
  )

  // ------------------------------------------------------------- oracles

  private val usExpr = "epoch_us(ts)"

  val oracles: Map[String, String] = Map(
    "rel_dp_geometric" ->
      s"""WITH cnt AS (SELECT c_nationkey,
         |    CAST(COUNT(*) AS BIGINT) AS true_cnt
         |  FROM customer GROUP BY 1),
         |h AS (SELECT c_nationkey, true_cnt,
         |    CAST('0x' || substr(md5('dp|' || CAST(c_nationkey AS VARCHAR)),
         |         1, 15) AS BIGINT) AS u
         |  FROM cnt),
         |d AS (SELECT c_nationkey, true_cnt, u, u % 65536 + 1 AS v FROM h),
         |e AS (SELECT c_nationkey, true_cnt,
         |    CAST(CASE WHEN (u // 65536) % 2 = 1
         |      THEN -(greatest(16 - length(bin(v)), 0))
         |      ELSE greatest(16 - length(bin(v)), 0) END AS BIGINT) AS noise
         |  FROM d)
         |SELECT na.n_name, e.true_cnt, e.noise,
         |  CAST(greatest(true_cnt + noise, 0) AS BIGINT) AS noisy_cnt,
         |  CAST(abs(greatest(true_cnt + noise, 0) - true_cnt) AS BIGINT)
         |    AS abs_err
         |FROM e JOIN nation na ON na.n_nationkey = e.c_nationkey"""
        .stripMargin,
    "rel_benford_audit" -> {
      val expCase = "CASE digit " + BenfordPermille
        .map { case (d, p) => s"WHEN '$d' THEN $p" }
        .mkString(" ") + " END"
      s"""WITH d AS (SELECT substr(CAST(CAST(round(o_totalprice * 100)
         |    AS BIGINT) AS VARCHAR), 1, 1) AS digit FROM orders),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d),
         |g AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs
         |      FROM d GROUP BY 1),
         |g2 AS (SELECT digit, n_obs,
         |    CAST(n_obs * 1000 // n AS BIGINT) AS obs_permille,
         |    CAST($expCase AS BIGINT) AS exp_permille
         |  FROM g CROSS JOIN tot)
         |SELECT digit, n_obs, obs_permille, exp_permille,
         |  CAST(abs(obs_permille - exp_permille) AS BIGINT) AS dev_permille
         |FROM g2""".stripMargin
    },
    "rel_bootstrap_ci" -> {
      val w = PoissonCdf32
        .map(t => s"(CASE WHEN u >= $t THEN 1 ELSE 0 END)")
        .mkString("\n    + ")
      s"""WITH reps AS (SELECT unnest(range(64)) AS rep),
         |e AS (SELECT o_orderpriority, rep,
         |    CAST('0x' || substr(md5('boot|' || CAST(o_orderkey AS VARCHAR)
         |      || '|' || CAST(rep AS VARCHAR)), 1, 8) AS BIGINT) AS u,
         |    ${sqlDec("o_totalprice")} AS x
         |  FROM orders CROSS JOIN reps),
         |wt AS (SELECT o_orderpriority, rep, x,
         |    $w AS w FROM e),
         |rm AS (SELECT o_orderpriority, rep,
         |    ${sqlToDouble("SUM(x * w)")} / CAST(SUM(w) AS BIGINT)
         |      AS rep_mean
         |  FROM wt GROUP BY 1, 2),
         |ci AS (SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_reps,
         |    percentile_cont([CAST(1 AS DOUBLE)/40, CAST(1 AS DOUBLE)/2,
         |                     CAST(39 AS DOUBLE)/40])
         |      WITHIN GROUP (ORDER BY rep_mean) AS qs
         |  FROM rm GROUP BY 1),
         |pm AS (SELECT o_orderpriority, ${sqlAvg("o_totalprice")}
         |    AS point_mean FROM orders GROUP BY 1)
         |SELECT ci.o_orderpriority, n_reps, qs[1] AS ci_lo,
         |  qs[2] AS boot_median, qs[3] AS ci_hi, point_mean
         |FROM ci JOIN pm ON ci.o_orderpriority = pm.o_orderpriority"""
        .stripMargin
    },
    "rel_ks_mannwhitney" ->
      s"""WITH pv AS (
         |  SELECT l_quantity AS v,
         |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS ca,
         |    CAST(SUM(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS cb
         |  FROM lineitem WHERE l_returnflag IN ('R', 'N') GROUP BY 1),
         |cum AS (
         |  SELECT v, ca, cb,
         |    SUM(ca) OVER (ORDER BY v) AS cuma,
         |    SUM(cb) OVER (ORDER BY v) AS cumb
         |  FROM pv),
         |tot AS (SELECT CAST(MAX(cuma) AS BIGINT) AS na,
         |          CAST(MAX(cumb) AS BIGINT) AS nb FROM cum)
         |SELECT na AS n_a, nb AS n_b,
         |  CAST(MAX(abs(cuma * nb - cumb * na)) AS BIGINT) AS ks_num,
         |  CAST(MAX(abs(cuma * nb - cumb * na)) AS DOUBLE)
         |    / CAST(na * nb AS DOUBLE) AS ks_d,
         |  CAST(SUM(ca * ((cuma + cumb - ca - cb) * 2 + ca + cb + 1))
         |    - na * (na + 1) AS BIGINT) AS u2_a
         |FROM cum, tot GROUP BY na, nb""".stripMargin,
    "rel_window_nav" ->
      s"""SELECT o_custkey, o_orderkey, o_totalprice,
         |  lag(o_totalprice, 1) OVER w AS prev_price,
         |  lead(o_totalprice, 1) OVER w AS next_price,
         |  CAST((epoch_us(o_orderdate) -
         |        lag(epoch_us(o_orderdate), 1) OVER w) // $DayUs AS BIGINT)
         |    AS gap_days,
         |  first_value(o_totalprice) OVER wf AS first_price,
         |  last_value(o_totalprice) OVER wf AS last_price
         |FROM orders
         |WINDOW w AS (PARTITION BY o_custkey
         |             ORDER BY o_orderdate ASC, o_orderkey ASC),
         |       wf AS (PARTITION BY o_custkey
         |              ORDER BY o_orderdate ASC, o_orderkey ASC
         |              ROWS BETWEEN UNBOUNDED PRECEDING
         |                       AND UNBOUNDED FOLLOWING)""".stripMargin,
    "rel_window_rank" ->
      s"""SELECT o_orderpriority, o_orderkey, o_totalprice,
         |  CAST(row_number() OVER w AS INTEGER) AS rn,
         |  percent_rank() OVER w AS pct_rank,
         |  cume_dist() OVER w AS cume,
         |  CAST(ntile(4) OVER w AS INTEGER) AS quartile
         |FROM orders
         |WINDOW w AS (PARTITION BY o_orderpriority
         |             ORDER BY o_totalprice DESC, o_orderkey ASC)""".stripMargin,
    "rel_full_outer" ->
      s"""SELECT COALESCE(c.nk, s.nk2) AS nationkey,
         |  COALESCE(c.n_cust, 0) AS n_cust,
         |  COALESCE(s.n_supp, 0) AS n_supp
         |FROM (SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer
         |      WHERE c_mktsegment = 'MACHINERY' GROUP BY 1) c
         |FULL OUTER JOIN
         |     (SELECT s_nationkey AS nk2, COUNT(*) AS n_supp FROM supplier
         |      WHERE s_acctbal > 5000 GROUP BY 1) s
         |ON c.nk = s.nk2""".stripMargin,
    "rel_cross_matrix" ->
      s"""SELECT p.o_orderpriority, st.o_orderstatus,
         |  COALESCE(c.n, 0) AS n_orders
         |FROM (SELECT DISTINCT o_orderpriority FROM orders) p
         |CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) st
         |LEFT JOIN (SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n
         |           FROM orders GROUP BY 1, 2) c
         |ON p.o_orderpriority = c.o_orderpriority
         |AND st.o_orderstatus = c.o_orderstatus""".stripMargin,
    "rel_market_share" -> {
      val revDec = s"SUM(${sqlDec("l_extendedprice")} * ${sqlDec("(1.0 - l_discount)")})"
      s"""WITH grouped AS (
         |  SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year, r_name,
         |    $revDec AS rev_dec
         |  FROM lineitem
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN nation ON s_nationkey = n_nationkey
         |  JOIN region ON n_regionkey = r_regionkey
         |  WHERE year(o_orderdate) BETWEEN 1996 AND 1997
         |  GROUP BY 1, 2)
         |SELECT o_year, r_name,
         |  ${sqlToDouble("rev_dec")} AS region_rev,
         |  ${sqlToDouble("SUM(rev_dec) OVER (PARTITION BY o_year)")} AS year_rev,
         |  ${sqlToDouble("rev_dec")} /
         |    ${sqlToDouble("SUM(rev_dec) OVER (PARTITION BY o_year)")} AS share
         |FROM grouped""".stripMargin
    },
    "rel_stock_concentration" ->
      s"""WITH per_part AS (
         |  SELECT l_partkey,
         |    SUM(${sqlDec("l_extendedprice")} * ${sqlDec("(1.0 - l_discount)")})
         |      AS pv_dec
         |  FROM lineitem GROUP BY 1),
         |total AS (
         |  SELECT ${sqlToDouble("SUM(pv_dec)")} / COUNT(*) AS mean_part_value
         |  FROM per_part)
         |SELECT p_brand, COUNT(*) AS n_parts,
         |  ${sqlToDouble("SUM(pv_dec)")} AS brand_value
         |FROM per_part JOIN part ON l_partkey = p_partkey
         |CROSS JOIN total
         |WHERE ${sqlToDouble("pv_dec")} > mean_part_value * 1.5
         |GROUP BY p_brand""".stripMargin,
    "evt_retention_cohorts" ->
      s"""WITH weeks AS (
         |  SELECT user_id, $usExpr // $WeekUs AS week FROM events),
         |user_weeks AS (SELECT DISTINCT user_id, week FROM weeks),
         |cohorts AS (
         |  SELECT user_id, MIN(week) AS cohort_week FROM weeks GROUP BY 1)
         |SELECT cohort_week, week - cohort_week AS week_offset,
         |  COUNT(*) AS n_users
         |FROM user_weeks JOIN cohorts USING (user_id)
         |GROUP BY 1, 2""".stripMargin,
    "evt_dau_wau" ->
      s"""WITH user_days AS (
         |  SELECT DISTINCT user_id, $usExpr // $DayUs AS day FROM events),
         |dau AS (SELECT day, COUNT(*) AS dau FROM user_days GROUP BY 1),
         |spine AS (SELECT DISTINCT day AS d FROM user_days),
         |wau AS (
         |  SELECT d AS day, COUNT(DISTINCT user_id) AS wau
         |  FROM user_days JOIN spine
         |    ON user_days.day BETWEEN spine.d - 6 AND spine.d
         |  GROUP BY 1)
         |SELECT day, dau, wau,
         |  CAST(dau AS DOUBLE) / wau AS stickiness
         |FROM dau JOIN wau USING (day)""".stripMargin,
    // HLL register state replay: the same seeded-md5 slices (2-hex
    // bucket, leading-zero rank of the next 40 bits) rebuilt with
    // DuckDB string algebra; every compared column is an exact BIGINT
    // (HUGEINT sums re-cast per the round-2 gotcha).
    "evt_hll_wau" ->
      s"""WITH r AS MATERIALIZED (
         |  SELECT day, CAST('0x' || substr(m, 1, 2) AS BIGINT) % 64 AS bucket,
         |    MAX(CASE WHEN t = '' THEN 41
         |        ELSE (10 - length(t)) * 4 + 1 +
         |          CASE WHEN substr(t, 1, 1) = '1' THEN 3
         |               WHEN substr(t, 1, 1) IN ('2', '3') THEN 2
         |               WHEN substr(t, 1, 1) IN ('4', '5', '6', '7') THEN 1
         |               ELSE 0 END END) AS reg
         |  FROM (
         |    SELECT $usExpr // $DayUs AS day,
         |      md5('hll|' || CAST(user_id AS VARCHAR)) AS m,
         |      ltrim(substr(md5('hll|' || CAST(user_id AS VARCHAR)), 3, 10),
         |            '0') AS t
         |    FROM events)
         |  GROUP BY 1, 2),
         |spine AS (SELECT DISTINCT day AS d FROM r),
         |w AS (
         |  SELECT s.d AS day, bucket, MAX(reg) AS reg
         |  FROM r JOIN spine s ON s.d BETWEEN r.day AND r.day + 6
         |  GROUP BY 1, 2)
         |SELECT day, CAST(COUNT(*) AS BIGINT) AS n_regs,
         |  CAST(SUM(reg) AS BIGINT) AS sum_rho,
         |  CAST(SUM((bucket * 64 + reg) % 1000003) AS BIGINT) AS chk,
         |  CAST(SUM(CAST(1 AS BIGINT) << CAST(41 - reg AS INTEGER))
         |       + (64 - COUNT(*)) * (CAST(1 AS BIGINT) << 41) AS BIGINT)
         |    AS t_scaled
         |FROM w GROUP BY 1""".stripMargin,
    "rel_rollup_time" ->
      s"""SELECT CAST(year(o_orderdate) AS INTEGER) AS y,
         |  CAST(quarter(o_orderdate) AS INTEGER) AS q,
         |  CAST(month(o_orderdate) AS INTEGER) AS m,
         |  COUNT(*) AS n_orders,
         |  ${sqlSum("o_totalprice")} AS sum_price,
         |  CAST(GROUPING(year(o_orderdate), quarter(o_orderdate),
         |                month(o_orderdate)) AS BIGINT) AS gid
         |FROM orders
         |GROUP BY ROLLUP (year(o_orderdate), quarter(o_orderdate),
         |                 month(o_orderdate))""".stripMargin,
    "rel_fk_audit" ->
      s"""SELECT 'lineitem->orders' AS relation,
         |  (SELECT COUNT(*) FROM lineitem) AS n_rows,
         |  (SELECT COUNT(*) FROM lineitem WHERE NOT EXISTS (
         |     SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)) AS n_orphans
         |UNION ALL
         |SELECT 'orders->customer',
         |  (SELECT COUNT(*) FROM orders),
         |  (SELECT COUNT(*) FROM orders WHERE NOT EXISTS (
         |     SELECT 1 FROM customer WHERE c_custkey = o_custkey))
         |UNION ALL
         |SELECT 'customer->nation',
         |  (SELECT COUNT(*) FROM customer),
         |  (SELECT COUNT(*) FROM customer WHERE NOT EXISTS (
         |     SELECT 1 FROM nation WHERE n_nationkey = c_nationkey))
         |UNION ALL
         |SELECT 'lineitem->part',
         |  (SELECT COUNT(*) FROM lineitem),
         |  (SELECT COUNT(*) FROM lineitem WHERE NOT EXISTS (
         |     SELECT 1 FROM part WHERE p_partkey = l_partkey))""".stripMargin,
    "evt_daily_gapfill" ->
      s"""WITH daily AS (
         |  SELECT $usExpr // $DayUs AS day, COUNT(*) AS n_events
         |  FROM events GROUP BY 1),
         |spine AS (
         |  SELECT unnest(range((SELECT MIN(day) FROM daily),
         |                      (SELECT MAX(day) FROM daily) + 1)) AS day)
         |SELECT spine.day, COALESCE(daily.n_events, 0) AS n_events
         |FROM spine LEFT JOIN daily ON spine.day = daily.day""".stripMargin,
    "evt_enrich_weighted" ->
      s"""SELECT e.event_type, COUNT(*) AS n_events,
         |CAST(ANY_VALUE(COALESCE(w.weight, 1)) AS BIGINT) AS weight,
         |${sqlToDouble(s"SUM(${sqlDec("e.value")} * COALESCE(w.weight, 1))")}
         |  AS weighted_value
         |FROM events e LEFT JOIN (VALUES ('click', 2), ('view', 1),
         |  ('purchase', 10)) AS w(event_type, weight)
         |ON e.event_type = w.event_type
         |GROUP BY 1""".stripMargin,
    "rel_bloom_semi" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n_orders,
         |${sqlSum("o_totalprice")} AS sum_price
         |FROM orders WHERE EXISTS (
         |  SELECT 1 FROM lineitem
         |  WHERE l_orderkey = o_orderkey AND l_quantity >= 45)
         |GROUP BY o_orderpriority""".stripMargin,
    "rel_salted_join" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n_lines,
         |${sqlSum("l_quantity")} AS sum_qty
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderpriority""".stripMargin,
    "rel_collect_array" ->
      s"""SELECT o_custkey, COUNT(*) AS n_orders,
         |array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',')
         |  AS priorities,
         |CAST(COUNT(DISTINCT o_orderpriority) AS INTEGER) AS n_priorities
         |FROM orders GROUP BY o_custkey""".stripMargin,
    // TRY_CAST over a json_valid() guard replays from_json's PERMISSIVE
    // null-on-malformed semantics; a bare CAST would hard-error the oracle
    // on any malformed props row instead of diverging gracefully.
    "evt_json_typed" ->
      s"""WITH typed AS (
         |  SELECT event_type,
         |    TRY_CAST(CASE WHEN json_valid(props) THEN props->>'k' END
         |             AS BIGINT) AS k
         |  FROM events)
         |SELECT event_type,
         |COUNT(k) AS n_parsed,
         |MIN(k) AS min_k,
         |MAX(k) AS max_k,
         |COUNT(DISTINCT k) AS n_distinct_k
         |FROM typed GROUP BY event_type""".stripMargin,
    "sql_weekly_report" ->
      s"""WITH weekly AS (
         |  SELECT $usExpr // $WeekUs AS week,
         |    COUNT(DISTINCT user_id) AS actives,
         |    ${sqlSum("value")} AS revenue
         |  FROM events GROUP BY 1)
         |SELECT week, actives, revenue,
         |  actives - lag(actives) OVER (ORDER BY week) AS actives_delta,
         |  revenue - lag(revenue) OVER (ORDER BY week) AS revenue_delta
         |FROM weekly""".stripMargin,
    "rel_promo_share" -> {
      val revDec = s"${sqlDec("l_extendedprice")} * ${sqlDec("(1.0 - l_discount)")}"
      s"""SELECT CAST(year(l_shipdate) AS INTEGER) AS y,
         |${sqlToDouble(s"SUM(CASE WHEN p_type = 'PROMO' THEN $revDec END)")}
         |  * 100.0 / ${sqlToDouble(s"SUM($revDec)")} AS promo_share,
         |COUNT(*) AS n_lines
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |GROUP BY 1""".stripMargin
    },
    "rel_multi_pred" ->
      s"""SELECT p_brand,
         |${sqlSumProd("l_extendedprice", "(1.0 - l_discount)")} AS revenue,
         |COUNT(*) AS n_lines
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
         |       AND l_quantity BETWEEN 1 AND 20)
         |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
         |       AND l_quantity BETWEEN 10 AND 30)
         |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
         |       AND l_quantity BETWEEN 20 AND 40)
         |GROUP BY p_brand""".stripMargin,
    "rel_late_priority" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n_orders
         |FROM orders WHERE EXISTS (
         |  SELECT 1 FROM lineitem
         |  WHERE l_orderkey = o_orderkey
         |    AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
         |GROUP BY o_orderpriority""".stripMargin,
    "evt_asof_forward" ->
      s"""WITH c AS (SELECT user_id, event_id AS click_id, $usExpr AS ts_us
         |           FROM events WHERE event_type = 'click'),
         |p AS (SELECT user_id, $usExpr AS ts_us, MAX(event_id) AS purchase_id
         |      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
         |SELECT c.user_id, c.click_id,
         |  (SELECT p.purchase_id FROM p
         |   WHERE p.user_id = c.user_id AND p.ts_us >= c.ts_us
         |   ORDER BY p.ts_us ASC LIMIT 1) AS next_purchase_id
         |FROM c""".stripMargin,
    "evt_mad_outliers" ->
      s"""WITH med AS (
         |  SELECT event_type,
         |    percentile_cont(0.5) WITHIN GROUP (ORDER BY value) AS median_value
         |  FROM events GROUP BY 1),
         |dev AS (
         |  SELECT e.event_type, med.median_value,
         |    abs(e.value - med.median_value) AS abs_dev
         |  FROM events e JOIN med USING (event_type)),
         |stats AS (
         |  SELECT event_type, COUNT(*) AS n_events,
         |    ANY_VALUE(median_value) AS median_value,
         |    percentile_cont(0.5) WITHIN GROUP (ORDER BY abs_dev) AS mad
         |  FROM dev GROUP BY 1)
         |SELECT s.event_type, s.n_events, s.median_value, s.mad,
         |  CAST((SELECT COUNT(*) FROM dev
         |        WHERE dev.event_type = s.event_type
         |          AND dev.abs_dev > s.mad * 3) AS BIGINT) AS n_outliers
         |FROM stats s""".stripMargin,
    "evt_value_deciles" -> {
      val bucket = (1 to 9).map(i =>
        s"CASE WHEN total_d > cuts[$i] THEN 1 ELSE 0 END")
        .mkString(" + ", " + ", " + 1")
      s"""WITH per_user AS (
         |  SELECT user_id, SUM(${sqlDec("value")}) AS total_dec,
         |    ${sqlToDouble(s"SUM(${sqlDec("value")})")} AS total_d
         |  FROM events GROUP BY 1),
         |cutq AS (
         |  SELECT percentile_cont([0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9])
         |    WITHIN GROUP (ORDER BY total_d) AS cuts
         |  FROM per_user)
         |SELECT CAST(0 $bucket AS INTEGER) AS decile,
         |  COUNT(*) AS n_users,
         |  ${sqlToDouble("SUM(total_dec)")} AS sum_value,
         |  ${sqlToDouble("MIN(total_dec)")} AS min_value,
         |  ${sqlToDouble("MAX(total_dec)")} AS max_value
         |FROM per_user, cutq
         |GROUP BY 1""".stripMargin
    },
    "rel_small_qty_revenue" ->
      s"""SELECT p_brand, COUNT(*) AS n_lines,
         |${sqlSum("l_extendedprice")} / 7.0 AS avg_yearly
         |FROM lineitem l1 JOIN part ON l_partkey = p_partkey
         |WHERE l_quantity < 0.2 * (
         |  SELECT ${sqlAvg("l_quantity")} FROM lineitem l2
         |  WHERE l2.l_partkey = l1.l_partkey)
         |GROUP BY p_brand""".stripMargin,
    "evt_interarrival" ->
      s"""SELECT event_type, COUNT(gap_us) AS n_gaps,
         |  CAST(SUM(gap_us) AS BIGINT) AS sum_gap_us,
         |  CAST(SUM(gap_us) AS DOUBLE) / COUNT(gap_us) AS avg_gap_us,
         |  MAX(gap_us) AS max_gap_us
         |FROM (SELECT event_type,
         |        $usExpr - lag($usExpr, 1) OVER (
         |          PARTITION BY event_type
         |          ORDER BY $usExpr ASC, event_id ASC) AS gap_us
         |      FROM events)
         |GROUP BY event_type""".stripMargin,
  )
}
