package graft.queries

import java.time.LocalDateTime

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.operators.{Graphs, PlanCache, Relational, Sketch}
import graft.sources.Tables
import Canon._

/** Relational-algebra suite over the TPC-H-ish star schema: joins
  * (broadcast/semi/anti), grouped+rollup aggregation, window functions,
  * global and per-group top-k, set operations, distinct aggregation.
  * The reference has none of these (SURVEY §2.3, §2.5-2.7); they complete
  * the engine's query surface.
  */
object RelationalQueries {

  private def ts(s: String): java.time.LocalDateTime =
    LocalDateTime.parse(s + "T00:00:00")

  /** TPC-H Q1-shaped pricing summary: scan-side filter, grouped exact
    * sums and means, incl. the 12-decimal-exact charge product. */
  def pricingSummary(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).filter(col("l_shipdate") <= lit(ts("2000-12-01")))
    val discFactor = (lit(1.0) - col("l_discount"))
    val taxFactor = (lit(1.0) + col("l_tax"))
    // 1±x of a 2-decimal double is an exact 2-decimal double; the
    // pre-combined 8-decimal factor keeps the 3-way product inside
    // DECIMAL(38,12) in both engines (no precision-loss truncation).
    val chargeFactor = (dec(discFactor) * dec(taxFactor)).cast(DecimalType(18, 8))
    li.groupBy(col("l_returnflag"), col("l_linestatus")).agg(
      exactSum(col("l_quantity")).as("sum_qty"),
      exactSum(col("l_extendedprice")).as("sum_base_price"),
      exactSumProd(col("l_extendedprice"), discFactor).as("sum_disc_price"),
      sum(dec(col("l_extendedprice")) * chargeFactor).cast(DoubleType).as("sum_charge"),
      exactAvg(col("l_quantity")).as("avg_qty"),
      exactAvg(col("l_extendedprice")).as("avg_price"),
      exactAvg(col("l_discount")).as("avg_disc"),
      count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** TPC-H Q3-shaped: broadcast dim join x2 + grouped revenue + global
    * top-10 (TakeOrderedAndProject — no full sort at scale). */
  def shippingPriority(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
    val ord = Tables.orders(s, dir).filter(col("o_orderdate") < lit(ts("1998-01-01")))
    val li = Tables.lineitem(s, dir).filter(col("l_shipdate") > lit(ts("1998-01-01")))
    val joined = li
      .join(broadcast(ord), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
    val grouped = joined
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(exactSumProd(col("l_extendedprice"), lit(1.0) - col("l_discount"))
             .as("revenue"))
    Relational.globalTopK(grouped,
      Seq(col("revenue").desc, col("l_orderkey").asc), 10)
  }

  /** TPC-H Q5-shaped 6-way star join: local-supplier revenue per nation.
    * region/nation/supplier/customer broadcast; orders⋈lineitem is the
    * only shuffled join. */
  def localSupplierVolume(s: SparkSession, dir: String): DataFrame = {
    val asia = Tables.region(s, dir).filter(col("r_name") === "ASIA")
    val joined = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir).filter(
              col("o_orderdate") >= lit(ts("1996-01-01")) &&
              col("o_orderdate") < lit(ts("1998-01-01"))),
            col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.supplier(s, dir)),
            col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(asia), col("n_regionkey") === col("r_regionkey"))
    joined.groupBy(col("n_name"))
      .agg(exactSumProd(col("l_extendedprice"), lit(1.0) - col("l_discount"))
             .as("revenue"),
           count(lit(1)).as("n_lines"))
  }

  /** Left-semi join (EXISTS): orders having at least one high-discount
    * line, counted per priority. */
  def semiJoinHighDiscount(s: SparkSession, dir: String): DataFrame = {
    val hot = Tables.lineitem(s, dir).filter(col("l_discount") >= 0.08)
      .select(col("l_orderkey"))
    Tables.orders(s, dir)
      .join(hot, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
           exactSum(col("o_totalprice")).as("sum_price"))
  }

  /** Left-anti join (NOT EXISTS): customers with no orders since 2000,
    * per segment (the date filter makes the anti side non-trivial — every
    * fixture customer has *some* order). */
  def antiJoinNoOrders(s: SparkSession, dir: String): DataFrame = {
    val ordered = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit(ts("2000-01-01")))
      .select(col("o_custkey"))
    Tables.customer(s, dir)
      .join(ordered, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
           exactSum(col("c_acctbal")).as("sum_acctbal"))
  }

  /** ROLLUP over (returnflag, linestatus): grand total + per-flag
    * subtotals + leaves in one pass (the (file×band)→(band) rollup
    * generalization of SURVEY §2.4). Leaf-grain pre-aggregate before the
    * rollup's Expand — see [[cubeSales]]; ×3 of ~6 rows instead of ×3 of
    * the table. */
  def rollupSales(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(dec(col("l_quantity"))).as("s_dec"),
           count(lit(1)).as("c"))
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("s_dec")).cast(DoubleType).as("sum_qty"),
           sum(col("c")).as("n_lines"))

  /** Per-group top-k via rank-limited window (WindowGroupLimit pushdown):
    * top-3 orders per customer, fully tie-broken ordering. */
  def topOrdersPerCustomer(s: SparkSession, dir: String): DataFrame =
    Relational.topKPerGroup(
      Tables.orders(s, dir).select(col("o_custkey"), col("o_orderkey"),
                                   col("o_totalprice")),
      Seq("o_custkey"),
      Seq(col("o_totalprice").desc, col("o_orderkey").asc), 3)

  /** Running (prefix) sum per supplier over a deterministic total order.
    * (l_orderkey, l_linenumber) is NOT unique in the synthetic fixture,
    * so quantities are first aggregated per (suppkey, orderkey) — an
    * order-free step — making orderkey a unique (total) sort key within
    * each supplier partition; exact decimal accumulation keeps every
    * prefix cross-engine stable. */
  def runningQuantity(s: SparkSession, dir: String): DataFrame = {
    val perOrder = Tables.lineitem(s, dir)
      .groupBy(col("l_suppkey"), col("l_orderkey"))
      .agg(sum(dec(col("l_quantity"))).as("order_qty"))
    Relational.runningAgg(perOrder, Seq("l_suppkey"),
                          Seq(col("l_orderkey").asc),
                          sum(col("order_qty")), "running_qty")
      .withColumn("order_qty", col("order_qty").cast(DoubleType))
      .withColumn("running_qty", col("running_qty").cast(DoubleType))
  }

  /** UNION / INTERSECT / EXCEPT in one result, tagged by op: BUILDING
    * customers vs customers with >10k-total orders in 1997. */
  def setOps(s: SparkSession, dir: String): DataFrame = {
    val building = Tables.customer(s, dir)
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val bigSpenders = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit(ts("1997-01-01")) &&
              col("o_orderdate") < lit(ts("1998-01-01")) &&
              col("o_totalprice") > 10000)
      .select(col("o_custkey").as("c_custkey")).distinct()
    building.intersect(bigSpenders).withColumn("op", lit("intersect"))
      .unionAll(building.except(bigSpenders).withColumn("op", lit("except")))
      .unionAll(building.union(bigSpenders).distinct().withColumn("op", lit("union")))
  }

  /** Distinct aggregation per segment (COUNT(DISTINCT) expands to a
    * two-phase aggregate — no driver-side dedup). */
  def distinctAgg(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).groupBy(col("c_mktsegment"))
      .agg(countDistinct(col("c_nationkey")).as("n_nations"),
           count(lit(1)).as("n_customers"),
           exactAvg(col("c_acctbal")).as("avg_acctbal"))

  /** Global top-20 (TakeOrderedAndProject). */
  def topLineitems(s: SparkSession, dir: String): DataFrame =
    Relational.globalTopK(
      Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_linenumber"),
                                     col("l_extendedprice")),
      Seq(col("l_extendedprice").desc, col("l_orderkey").asc,
          col("l_linenumber").asc), 20)

  /** TPC-H Q13-shaped: orders-per-customer histogram via left outer join
    * + two-level aggregation. */
  def customerOrderHistogram(s: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.customer(s, dir)
      .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
    perCust.groupBy(col("c_count")).agg(count(lit(1)).as("n_customers"))
  }

  /** CUBE over (returnflag, linestatus): all 4 grouping-set combinations
    * in one pass, with grouping_id to disambiguate natural NULLs.
    *
    * Pre-aggregated to the leaf grain FIRST (r15 Expand sweep): `cube`
    * plans an Expand that multiplies its INPUT ×4 through the exchange,
    * so cubing raw lineitem shuffles 4n rows while cubing the
    * (flag, status) pre-aggregate shuffles 4·|distinct combos| (~6 here,
    * corpus-size-independent past the first aggregation — the shape that
    * survives 100 TB). Decimal partial sums and counts regroup exactly,
    * so the rewrite is hash-identical; the double export happens once,
    * at the end. Measured 1.64 → 0.77 s same-mode min-of-3. */
  def cubeSales(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(dec(col("l_extendedprice"))).as("s_dec"),
           count(lit(1)).as("c"))
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("s_dec")).cast(DoubleType).as("sum_price"),
           sum(col("c")).as("n_lines"),
           grouping_id().as("gid"))

  /** Scalar-subquery filter: orders above the global average total price.
    * The average is a 1-row broadcast, not a driver round-trip. */
  def aboveAvgOrders(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(s, dir)
    val avgPrice = ord.agg(exactAvg(col("o_totalprice")).as("avg_price"))
    ord.join(broadcast(avgPrice))
      .filter(col("o_totalprice") > col("avg_price"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
           exactSum(col("o_totalprice")).as("sum_price"))
  }

  /** Second-moment statistics with bit-exact cross-engine parity:
    * stddev/variance/correlation derived in double from EXACT decimal
    * moments (Σx, Σx², Σxy — products of ≤4-decimal values are exact
    * 8-decimal rationals), instead of Spark's streaming covariance
    * update whose result is summation-order-dependent. Same shuffle
    * shape as the built-ins (partial+final hash agg). */
  def momentStats(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val n = count(lit(1)).cast(DoubleType)
    val sx = sum(dec(col("l_quantity"))).cast(DoubleType)
    val sxx = sum(dec(col("l_quantity")) * dec(col("l_quantity"))).cast(DoubleType)
    val sy = sum(dec(col("l_discount"))).cast(DoubleType)
    val syy = sum(dec(col("l_discount")) * dec(col("l_discount"))).cast(DoubleType)
    val sxy = sum(dec(col("l_quantity")) * dec(col("l_discount"))).cast(DoubleType)
    li.groupBy(col("l_returnflag")).agg(
      n.as("n"), sx.as("sum_x"),
      ((sxx - sx * sx / n) / (n - lit(1.0))).as("var_qty"),
      sqrt((sxx - sx * sx / n) / (n - lit(1.0))).as("stddev_qty"),
      ((sxy - sx * sy / n) /
        (sqrt(sxx - sx * sx / n) * sqrt(syy - sy * sy / n))).as("corr_qty_disc"))
  }

  /** Salted (skew-safe) aggregation — must equal the plain GROUP BY
    * (the oracle IS the plain form). Counts and exact decimal sums are
    * algebraic, so the two-phase merge is lossless. */
  def saltedAgg(s: SparkSession, dir: String): DataFrame =
    Relational.saltedAgg(
      Tables.lineitem(s, dir), Seq("l_returnflag"), col("l_orderkey"), 16,
      Seq(
        (count(lit(1)), "n_lines", (c: org.apache.spark.sql.Column) =>
          sum(c).cast("long")),
        (sum(dec(col("l_quantity"))), "sum_qty", (c: org.apache.spark.sql.Column) =>
          sum(c).cast(DoubleType))))

  /** String-function suite: case mapping, trim, substring, concat,
    * regexp extraction, LIKE — all codegen'd built-ins. */
  def stringFuncs(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir).select(
      col("p_partkey"),
      upper(col("p_brand")).as("brand_upper"),
      substring(col("p_type"), 1, 5).as("type_prefix"),
      length(col("p_name")).as("name_len"),
      concat_ws("/", col("p_brand"), col("p_type")).as("brand_type"),
      regexp_extract(col("p_brand"), "#(\\d+)", 1).cast("int").as("brand_num"),
      col("p_type").like("%BRUSHED%").as("is_brushed"))

  /** Date/time-function suite over order dates: extract fields,
    * truncate, day arithmetic. */
  def dateFuncs(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .withColumn("y", year(col("o_orderdate")))
      .withColumn("q", quarter(col("o_orderdate")))
      .withColumn("m", month(col("o_orderdate")))
      .groupBy(col("y"), col("q"))
      .agg(count(lit(1)).as("n_orders"),
           countDistinct(col("m")).as("n_months"),
           max(dayofmonth(col("o_orderdate"))).as("max_dom"))

  /** Exact percentiles (median / p90) per group — full-sort-free: Spark's
    * `percentile` aggregates per group with partial merge. */
  def percentiles(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_quantity, 0.5)").as("p50_qty"),
           expr("percentile(l_quantity, 0.9)").as("p90_qty"))

  /** Sketch aggregate: HyperLogLog++ distinct counts. The raw estimate
    * is engine-specific (DuckDB's HLL differs from Spark's), so the
    * compared columns are the exact counts plus a BOUND CHECK — is the
    * HLL estimate within 5% relative error of exact? The oracle computes
    * the exact side and asserts TRUE, turning sketch *quality* into a
    * hash-comparable contract (rsd=0.02 makes 5% a ≥2.5σ margin). The
    * production form drops the exact columns and keeps only the sketch —
    * that is the whole point of HLL at 100 TB. */
  def approxDistinct(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    // Sketch side: one plain aggregate — approx_count_distinct is a
    // mergeable HLL buffer, not a DISTINCT aggregate, so no Expand.
    val sketch = li.groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey"), 0.02).as("ap"),
           approx_count_distinct(col("l_suppkey"), 0.02).as("as_"))
    // Exact side: two direct countDistinct on DIFFERENT columns in one
    // aggregate plan an Expand that triples lineitem through the
    // exchange (the rel_profile_columns anti-pattern, VERDICT r14 #1).
    // Instead unpivot to a (flag, col_id, key) grain in ONE scan (a
    // 2-branch explode, codegen'd), distinct it — a standard two-phase
    // partial-distinct aggregate whose post-shuffle volume is bounded
    // by the true NDVs, never the table — and read both counts off the
    // distinct grain.
    // count(when(..., k)) — not count(when(..., lit(1))) — so a NULL
    // key survives the distinct but is NOT counted, preserving
    // COUNT(DISTINCT)'s null-excluding semantics on any future
    // NULL-bearing fixture roll (fixtures regenerate every round).
    val exact = li.select(col("l_returnflag"), explode(array(
          struct(lit(1).as("cid"), col("l_partkey").as("k")),
          struct(lit(2).as("cid"), col("l_suppkey").as("k")))).as("x"))
      .select(col("l_returnflag"), col("x.cid").as("cid"),
              col("x.k").as("k"))
      .distinct()
      .groupBy(col("l_returnflag"))
      .agg(count(when(col("cid") === 1, col("k"))).as("exact_parts"),
           count(when(col("cid") === 2, col("k"))).as("exact_supps"))
      .withColumnRenamed("l_returnflag", "flag_e")
    // 3-row × 3-row join on the group key — AQE broadcasts it.
    // NULL-SAFE equality (<=>): both aggregates emit a NULL-flag group
    // if the fixture ever carries one, and a plain equi-join would
    // silently drop that output row the old single-aggregate form kept.
    sketch.join(exact, col("l_returnflag") <=> col("flag_e"))
      .select(col("l_returnflag"), col("exact_parts"), col("exact_supps"),
        (abs(col("ap") - col("exact_parts")).cast("double") /
          col("exact_parts") <= 0.10).as("parts_within_10pct"),
        (abs(col("as_") - col("exact_supps")).cast("double") /
          col("exact_supps") <= 0.10).as("supps_within_10pct"))
  }

  /** Sketch quantiles: approx_percentile (GK/KLL-family) against the
    * exact percentile, as a rank-error bound check — same contract shape
    * as [[approxDistinct]]. accuracy=1000 guarantees rank error
    * ≤ 0.1%·N; the asserted window is the exact value span at ±2.5
    * quantile points (25σ of the guarantee), so the boolean is stable
    * across scales and partition layouts while still pinning sketch
    * quality. The compared columns are the exact percentiles (canonical
    * cross-engine doubles) + the bound booleans. */
  def approxPercentileBound(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val qs = Seq(0.25, 0.5, 0.9)
    // ONE exact-percentile buffer and ONE sketch, not 12: every
    // percentile(col, q) aggregate is imperative and collects its own
    // copy of all group values, so the scalar form paid 9 full value
    // buffers per group (measured 5.4 s steady-state at sf0.1; the
    // array form is ~4x cheaper with identical interpolation).
    val exactQs = qs.flatMap(q => Seq(q - 0.025, q, q + 0.025))
    val aggs = Seq(
      expr(s"percentile(l_extendedprice, array(${exactQs.mkString(", ")}))")
        .as("ex"),
      expr(s"approx_percentile(l_extendedprice, array(${qs.mkString(", ")})," +
        " 1000)").as("ap"))
    val flags = qs.zipWithIndex.flatMap { case (q, i) =>
      val t = (q * 100).toInt
      Seq(col("ex").getItem(3 * i + 1).as(s"exact_p$t"),
          (col("ap").getItem(i) >= col("ex").getItem(3 * i) &&
           col("ap").getItem(i) <= col("ex").getItem(3 * i + 2))
            .as(s"p${t}_in_bound"))
    }
    li.groupBy(col("l_returnflag")).agg(aggs.head, aggs.tail: _*)
      .select(col("l_returnflag") +: flags: _*)
  }

  /** Join-size estimation by count-min inner product (the AMS-style
    * sketch primitive behind optimizer cardinality estimates): |A ⋈ B|
    * on a shared key is upper-bounded by min over sketch rows of
    * Σ_bucket cA·cB. Both sides sketch in one bounded-exchange pass
    * each (≤ depth×width cells — see [[graft.operators.Sketch]]), the
    * inner product is a join of two tiny cell tables; the exact join
    * count is computed alongside as fixture-side ground truth. Width
    * is the accuracy knob: collisions add ~|A|·|B|/width per row, so
    * size width ≳ distinct-keys for a tight estimate. */
  def joinSizeEst(s: SparkSession, dir: String): DataFrame = {
    val (depth, width) = (4, 4096)
    val o = Tables.orders(s, dir)
      .select(col("o_custkey").cast("string").as("k"))
    val c = Tables.customer(s, dir)
      .select(col("c_custkey").cast("string").as("k"))
    val co = Sketch.cmsBuild(o, "k", depth, width)
      .withColumnRenamed("cell_n", "n_o")
    val cc = Sketch.cmsBuild(c, "k", depth, width)
      .withColumnRenamed("cell_n", "n_c")
    val est = co.join(cc, Seq("r", "bucket"))
      .groupBy(col("r")).agg(sum(col("n_o") * col("n_c")).as("est_r"))
      .agg(min(col("est_r")).as("est_n"))
    val exact = o.join(c, "k").agg(count(lit(1)).as("exact_n"))
    exact.crossJoin(est)
      .select(col("exact_n"), col("est_n"),
              (col("est_n") >= col("exact_n")).as("never_underestimates"))
  }

  /** Key-skew estimation: lineitem's l_orderkey second moment by the
    * AMS tug-of-war sketch ([[graft.operators.Sketch.amsF2]]) against
    * the exact Σ count², with a ±20% bound boolean (measured error
    * 0.3-3.1% across fixture scales at width 4096 under the r10
    * one-digest slice family — the bound is ~9σ). F2/n² is the
    * salt-or-not signal `rel_salted_join` acts on, here measured in
    * one bounded pass instead of a per-key shuffle. */
  def skewF2Est(s: SparkSession, dir: String): DataFrame = {
    val keys = Tables.lineitem(s, dir)
      .select(col("l_orderkey").cast("string").as("k"))
    val est = Sketch.amsF2(keys, "k", depth = 4, width = 4096)
    // exact side groups on the RAW long key — the string cast exists
    // only for the md5 hash family; shuffling interpreted strings for a
    // plain count would be pure overhead
    val exact = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("c"))
      .agg(sum(col("c") * col("c")).as("exact_f2"))
    exact.crossJoin(est)
      .select(col("exact_f2"), col("est_f2"),
              (abs(col("est_f2") - col("exact_f2")) * 5 <=
                col("exact_f2")).as("within_20pct"))
  }

  /** Quantile-sketch constants, shared verbatim with the oracle replay:
    * survivor capacity per level, deepest level, and the probed
    * quantiles (permille). cap = 1024 keeps the estimation sample in
    * (512, 1024] across every fixture scale (lineitem 6k → 600k rows)
    * so the 5σ rank bound stays ≤ ~0.11. */
  private[graft] val KllCap = 1024
  private[graft] val KllQs = Seq(10, 250, 500, 750, 990)

  /** The value stream the KLL rows sketch: exact lineitem price cents
    * plus the deterministic per-row hash key. The key need not be
    * unique — identical rows co-sample, which changes nothing in the
    * exact replay and only correlates the sample at md5-collision
    * rates. Two group keys ride along: `par` (orderkey parity) is the
    * shard key of the merge rows — it partitions the ROW stream into
    * two disjoint halves, which is exactly what the merge laws require
    * (counts add, bottom-caps re-truncate) — and `flag` (return flag)
    * is the group key of the per-group row. Because the level/tiebreak
    * hashes ignore everything but `rk`, filtering the shared leveled
    * stream by a key IS that slice's leveled stream, no second corpus
    * scan. */
  private def kllBase(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).select(
      expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"),
      concat_ws("|", col("l_orderkey"), col("l_linenumber"),
                col("l_partkey"), col("l_suppkey")).as("rk"),
      (col("l_orderkey") % 2).as("par"),
      col("l_returnflag").as("flag"))

  /** Mergeable quantile sketch over lineitem prices (the missing member
    * of the sketch family — VERDICT r12 #2): KLL-style geometric level
    * sampling derandomized via seeded md5 ([[Sketch.kllLeveled]]),
    * bounded per-level survivor sets, estimates read from the
    * shallowest untruncated level. The scale substitute for the exact
    * `percentile` calls that buffer full groups (CLAUDE.md round-5
    * gotcha): the sketch is ≤ cap·13 longs at ANY corpus size and
    * merges across shards/days by count-sum + bottom-cap re-truncation
    * (spec-pinned merge law). Deterministic end to end → the estimates
    * themselves hash-match the oracle's identical replay.
    *
    * This is the ONE leveled stream every KLL row reads (r16): it
    * carries both group keys, so [[kllLev]] (par shards) and
    * [[kllLevGrp]] (return-flag groups) are pure projections of one
    * md5 + conv + explode build over lineitem — bit-identical rows, one
    * corpus pass, one cache entry (the `kll_shared` prewarm frame, so
    * the ~1-2 s build lands in the bench's attributed line, not on
    * whichever row runs first). */
  private[graft] def kllLevShared(s: SparkSession, dir: String): DataFrame =
    PlanCache.reuse(
      Sketch.kllLeveled(kllBase(s, dir), Seq("par", "flag"),
                        col("cents"), col("rk")))

  private def kllLev(s: SparkSession, dir: String): DataFrame =
    kllLevShared(s, dir).select(col("par"), col("l"), col("v"), col("h2"))

  def kllQuantilesQuery(s: SparkSession, dir: String): DataFrame = {
    val lev = kllLev(s, dir)
    // the 5-row estimate frame is itself reuse'd AND prewarm-pinned
    // (r14): its build runs the survivor windows over the 1.2M-row
    // leveled stream, and with two consumers (this row + the error
    // row) the build otherwise lands inside whichever consumer runs
    // first — on the driver box that was rel_kll_error at ~8 s pass-1
    // (BENCH_r13 retried map), exactly the alphabetically-first
    // absorption the prewarm exists for.
    // serving path (r14): the l_star pick is pushed BELOW the survivor
    // selection, so the bottom-cap window sorts ~cap rows instead of
    // the full 1.2M-row leveled stream — output proven ≡ the
    // sketch-materializing path (spec), which rel_kll_merge still
    // exercises in full
    PlanCache.reuse(
      Sketch.kllQuantilesServing(Sketch.kllCounts(lev, Nil), lev, Nil,
                                 KllCap, KllQs))
  }

  /** Probe grid of the merge row — distinct from [[KllQs]] so the row
    * is not a byte-copy of `rel_kll_quantiles`' output. */
  private[graft] val KllMergeQs = Seq(50, 100, 900, 950, 999)

  /** KLL mergeability in production shape (VERDICT r13 #2): the corpus
    * is sharded by orderkey parity, each shard builds an INDEPENDENT
    * sketch (counts + bottom-cap survivors), and the shard sketches are
    * merged — counts by cell-wise sum, survivors by union +
    * re-truncation ([[Sketch.kllMergeCounts]]/[[Sketch.kllMergeSurvivors]],
    * the KMV-closure law) — before estimation. This is the entire point
    * of the sketch at 100 TB: per-partition/per-day sketches of ≤
    * cap·levels longs merge at read time instead of re-scanning raw
    * data. The ORACLE replays the whole-corpus sketch directly, so the
    * hash compare is a cross-engine proof of merge(A, B) ≡ sketch(A∪B);
    * the in-JVM twin (TextDedupSpec) pins the same law against
    * [[kllQuantilesQuery]]'s machinery at the merge grid. */
  def kllMergeQuery(s: SparkSession, dir: String): DataFrame = {
    val lev = kllLev(s, dir)
    def half(p: Int) = lev.filter(col("par") === p)
    Sketch.kllQuantiles(
      Sketch.kllMergeCounts(Sketch.kllCounts(half(0), Nil),
                            Sketch.kllCounts(half(1), Nil)),
      Sketch.kllMergeSurvivors(KllCap,
                               Sketch.kllSurvivors(half(0), Nil, KllCap),
                               Sketch.kllSurvivors(half(1), Nil, KllCap)),
      Nil, KllCap, KllMergeQs)
  }

  /** Probe grid of the DISK-roundtrip merge row — distinct from both
    * [[KllQs]] and [[KllMergeQs]] so no row is a byte-copy of a
    * sibling's output. */
  private[graft] val KllDiskQs = Seq(25, 200, 600, 800, 995)

  /** Per-JVM scratch token: two concurrent JVMs constructing
    * [[kllMergeDiskQuery]] against the SAME sf dir (a background gate's
    * Verify plus a test suite's PlanGuard plan-build, say) must not
    * alias one scratch path — one side's Overwrite would delete
    * directories the other is mid-read on. pid@host is stable within the JVM (same-session
    * re-runs stay Overwrite-idempotent) and unique across processes;
    * the per-process dirs are KB-sized and live under build `target/`. */
  private lazy val scratchToken: String =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getName
      .replaceAll("[^A-Za-z0-9._-]", "_")

  /** [[kllMergeQuery]] with the sketches actually ROUND-TRIPPED THROUGH
    * STORAGE (VERDICT r14 #5): each parity shard's state — per-level
    * counts + bottom-cap survivors, ≤ cap·levels longs — is WRITTEN as
    * parquet via [[graft.sources.Sinks]], read back as independent
    * frames, and only then merged (count-sum + union-re-truncate) and
    * estimated. This is the 100-TB operating mode the in-memory merge
    * row only gestures at: per-shard/per-day sketch files persisted at
    * ingest, merged at read time from storage with the raw corpus never
    * re-scanned — the read side touches KBs regardless of corpus size.
    * The parquet hop is also the serialization proof: the sketch state
    * is plain (l, n) / (l, v, h2) longs, so no in-JVM object identity
    * survives, only the mergeable-state contract. Oracle replays the
    * whole-corpus sketch (merge(A,B) ≡ sketch(A∪B), cross-engine), at
    * the [[KllDiskQs]] grid. Writes are Overwrite-idempotent and land
    * under the build's scratch dir, keyed by the sf dir so concurrent
    * scales never alias. */
  def kllMergeDiskQuery(s: SparkSession, dir: String): DataFrame = {
    val lev = kllLev(s, dir)
    val tag = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val base = s"${sys.props("user.dir")}/target/graft-scratch/" +
      s"kll_shards/$scratchToken/$tag"
    // ONE job per state half, hive-partitioned by shard (`par=0/`,
    // `par=1/` directories): the group-keyed builders derive every
    // shard's cells in a single pass over the pinned leveled stream, and
    // writePartitioned gives the read side directory pruning on the
    // shard predicate — 2 write jobs instead of 4 per-shard ones (at N
    // shards/days: 2 jobs instead of 2N, the same per-shard layout a
    // real ingest would leave). In-registry cost is ~2.5 s, ~1.4 s over
    // the in-memory merge row: the two write jobs' driver barriers plus
    // the 4 read-back scans — the price of actually exercising the
    // persist→read path rather than an in-JVM shortcut.
    // read back with the written frames' schemas: over empty input no
    // shard file is written, and schema inference would fail
    val shards = Map(
      "counts" -> Sketch.kllCounts(lev, Seq("par")),
      "survivors" -> Sketch.kllSurvivors(lev, Seq("par"), KllCap))
    shards.foreach { case (sub, df) =>
      graft.sources.Sinks.writePartitioned(df, Seq("par"), s"$base/$sub") }
    def rd(sub: String, p: Int) =
      s.read.schema(shards(sub).schema).parquet(s"$base/$sub")
        .filter(col("par") === p).drop("par")
    Sketch.kllQuantiles(
      Sketch.kllMergeCounts(rd("counts", 0), rd("counts", 1)),
      Sketch.kllMergeSurvivors(KllCap, rd("survivors", 0),
                               rd("survivors", 1)),
      Nil, KllCap, KllDiskQs)
  }

  /** Error audit of [[kllQuantilesQuery]] against the EXACT value
    * distribution: each estimate's true CDF bracket [count(v < est),
    * count(v ≤ est)]/n in ppm vs the probed quantile, with a 5σ
    * binomial rank bound (σ = √(q(1−q)/n_s)) plus one sample-step of
    * discreteness slack — ≥5σ per the round-5 probabilistic-gate rule,
    * so the flag never flips across fixture re-rolls. The bracket (not
    * a point) absorbs value ties. The bound arithmetic is shared
    * verbatim with the oracle (floor of correctly-rounded double ops
    * on identical inputs — bit-exact across engines). */
  def kllErrorQuery(s: SparkSession, dir: String): DataFrame = {
    val est = kllQuantilesQuery(s, dir)
    kllBase(s, dir).crossJoin(broadcast(est))
      .groupBy(col("q_permille"), col("sample_n"), col("est_cents"))
      .agg(count(lit(1)).as("n_total"),
           sum(when(col("cents") < col("est_cents"), 1L).otherwise(0L))
             .as("n_lt"),
           sum(when(col("cents") <= col("est_cents"), 1L).otherwise(0L))
             .as("n_le"))
      .select(col("q_permille"), col("sample_n"), col("est_cents"),
        expr("n_lt * 1000000 DIV n_total").as("lo_ppm"),
        expr("n_le * 1000000 DIV n_total").as("hi_ppm"),
        expr("CAST(floor(5000000 * sqrt(CAST(q_permille * (1000 - " +
             "q_permille) AS DOUBLE) / 1000000.0 / " +
             "CAST(sample_n AS DOUBLE))) AS BIGINT) + " +
             "1000000 DIV sample_n").as("bound_ppm"))
      .withColumn("within_bound",
        col("q_permille") * 1000 >= col("lo_ppm") - col("bound_ppm") &&
        col("q_permille") * 1000 <= col("hi_ppm") + col("bound_ppm"))
  }

  /** The group-keyed leveled stream (prewarm-pinned, same rationale
    * as [[kllLev]]). */
  private def kllLevGrp(s: SparkSession, dir: String): DataFrame =
    kllLevShared(s, dir).select(col("flag"), col("l"), col("v"), col("h2"))

  /** Per-GROUP quantile sketch — the [[kllQuantilesQuery]] machinery in
    * its actual production shape: one shared scan builds an independent
    * sketch per return flag (group-keyed level sets, group-partitioned
    * bottom-cap windows), the group-wise replacement for exact
    * `percentile` calls that buffer every group's full value set.
    * Hashes ignore the group key, so each group's estimates are
    * bit-identical to running the ungrouped sketch on that group's
    * slice (spec-pinned law, and what makes shard→group merges
    * composable). */
  def kllGroupQuantilesQuery(s: SparkSession, dir: String): DataFrame = {
    val lev = kllLevGrp(s, dir)
    // serving path (r14) — the survivor sort sees each flag's
    // estimation level only (≤ cap rows/flag), not the full grouped
    // stream; measured 2.2 → ~1.1 s on the fixture (§8)
    Sketch.kllQuantilesServing(Sketch.kllCounts(lev, Seq("flag")),
                               lev, Seq("flag"), KllCap, KllQs)
  }

  /** Distinct-intersection estimation across customer-activity years by
    * KMV sketch ([[graft.operators.Sketch.kmvSketch]]) — "how many
    * customers were active in BOTH year X and year Y" from k-long
    * synopses instead of a base-table self-join; the exact self-join
    * runs alongside as ground truth (per-key fan-out ≤ #years). The
    * fixture overlap is partial (~78%), so the estimate is doing real
    * work. KMV arithmetic is integral and md5-deterministic, so
    * `est_inter` itself hash-matches the oracle bit-exactly; the 40%
    * bound (≥5σ at k=256 for this Jaccard) is quality documentation,
    * not slack in the compare. */
  def kmvIntersect(s: SparkSession, dir: String): DataFrame = {
    val k = 256
    val dk = PlanCache.reuse(Tables.orders(s, dir)
      .select(year(col("o_orderdate")).as("f"), col("o_custkey").as("p"))
      .distinct())
    val kmv = Sketch.kmvSketch(dk, "f", "p", k)
    val est = Sketch.kmvIntersectEstimates(kmv, "f", k)
    val ex1 = dk.groupBy(col("f")).agg(count(lit(1)).as("n"))
    val exi = dk.select(col("f").as("fa"), col("p"))
      .join(dk.select(col("f").as("fb"), col("p")), Seq("p"))
      .filter(col("fa") < col("fb"))
      .groupBy(col("fa"), col("fb")).agg(count(lit(1)).as("exact_inter"))
    exi.join(ex1.select(col("f").as("fa"), col("n").as("exact_a")), Seq("fa"))
      .join(ex1.select(col("f").as("fb"), col("n").as("exact_b")), Seq("fb"))
      .join(est, Seq("fa", "fb"))
      .select(col("fa"), col("fb"), col("exact_a"), col("exact_b"),
              col("exact_inter"), col("est_inter"),
              (abs(col("est_inter") - col("exact_inter")) * 5 <=
                col("exact_inter") * 2).as("within_40pct"))
  }

  /** Connected components over the per-customer order chains via
    * large-star/small-star contraction ([[graft.operators.Graphs
    * .ccStar]]). Chains (consecutive orders of one customer linked) are
    * the ADVERSARIAL shape for min-label CC — diameter up to the
    * per-customer order count, one shuffle round per hop — while the
    * star algorithm contracts them in O(log n) rounds; running the
    * general operator here exercises exactly that path. The fixture's
    * chain structure is known, so the oracle is closed-form (component
    * = customer, label = min orderkey, no recursive SQL): the general
    * algorithm is hash-checked against the independent ground truth.
    * Singleton customers enter as self-loop nodes and label
    * themselves. */
  def ccChain(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(col("o_custkey"), col("o_orderkey"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
    val edges = o.withColumn("nxt", lead(col("o_orderkey"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .select(col("o_orderkey").as("a"), col("nxt").as("b"))
      // self-pairs keep single-order customers in the node set
      .unionAll(o.select(col("o_orderkey").as("a"),
                         col("o_orderkey").as("b")))
    Graphs.ccStar(edges, "a", "b")
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("n_orders"))
  }

  /** Triangle census of the supplier co-shipping graph — suppliers are
    * adjacent when they ship the SAME PART on the SAME DAY (per-order
    * co-occurrence is complete at any fixture scale; the (part, day)
    * grain yields real sparse structure). Degree-oriented counting via
    * [[graft.operators.Graphs.triangleCensus]]; the edge build self-joins
    * a DISTINCT (part, day, supplier) projection on its (part, day) key —
    * bounded per-key fan-out, then the census's orientation bounds the
    * wedge join. Integer-only output. */
  def triangleCount(s: SparkSession, dir: String): DataFrame =
    Graphs.triangleCensus(coShipEdges(s, dir), "sa", "sb")

  /** The [[triangleCount]] supplier co-shipping edge list: suppliers
    * adjacent when they ship the same part on the same day. */
  private def coShipEdges(s: SparkSession, dir: String): DataFrame = {
    val ps = Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_shipdate"), col("l_suppkey")).distinct()
    ps.select(col("l_partkey"), col("l_shipdate"), col("l_suppkey").as("sa"))
      .join(ps.select(col("l_partkey"), col("l_shipdate"),
                      col("l_suppkey").as("sb")),
            Seq("l_partkey", "l_shipdate"))
      .filter(col("sa") < col("sb"))
      .select(col("sa"), col("sb"))
  }

  /** Per-vertex local clustering coefficient of the same supplier
    * co-shipping graph as [[triangleCount]] — which suppliers sit in
    * tightly-knit shipping cliques vs star hubs
    * ([[graft.operators.Graphs.localClustering]]: degree-oriented
    * triangle enumeration, 3-corner fan-out, one co-partitioned join;
    * every compared column an exact BIGINT). */
  def relClusteringCoeff(s: SparkSession, dir: String): DataFrame =
    Graphs.localClustering(coShipEdges(s, dir), "sa", "sb")

  /** Common-neighbor link prediction over the [[relKCore]] co-purchase
    * graph — the top-50 part pairs never co-ordered but sharing the
    * most co-purchase neighbors ([[graft.operators.Graphs.linkPredict]]:
    * hub-capped wedge generation, full-degree Jaccard denominators,
    * exact scaled-integer scores, TakeOrdered top-k). */
  def relLinkPredict(s: SparkSession, dir: String): DataFrame =
    Graphs.linkPredict(coPurchaseEdges(s, dir), "a", "b")

  /** NULL-semantics suite (the fixtures ship no NULLs, so they are
    * manufactured with nullif): COUNT skips NULLs, AVG ignores them,
    * COALESCE backfills, null-safe equality — the SQL three-valued-logic
    * corners every engine must agree on. */
  def nullSemantics(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .withColumn("d", when(col("l_discount") === 0, lit(null)).otherwise(col("l_discount")))
    li.groupBy(col("l_returnflag")).agg(
      count(lit(1)).as("n_rows"),
      count(col("d")).as("n_nonnull"),
      (exactSum(col("d")) / count(col("d"))).as("avg_nonzero_disc"),
      exactSum(coalesce(col("d"), lit(0.0))).as("sum_coalesced"),
      sum(when(col("d") <=> lit(null), 1).otherwise(0)).as("n_nullsafe_eq_null"))
  }

  /** Multiset (ALL) set operations: supplier keys of two disjoint date
    * ranges with duplicates retained — EXCEPT ALL / INTERSECT ALL. */
  def setOpsAll(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val a = li.filter(col("l_shipdate") >= lit(ts("1996-01-01")) &&
                      col("l_shipdate") < lit(ts("1996-03-01")))
      .select(col("l_suppkey"))
    val b = li.filter(col("l_shipdate") >= lit(ts("1996-03-01")) &&
                      col("l_shipdate") < lit(ts("1996-05-01")))
      .select(col("l_suppkey"))
    a.exceptAll(b).withColumn("op", lit("except_all"))
      .unionAll(a.intersectAll(b).withColumn("op", lit("intersect_all")))
      .groupBy(col("op"), col("l_suppkey")).agg(count(lit(1)).as("n"))
  }

  /** Explicit GROUPING SETS through the engine's SQL front-end
    * (`spark.sql` over a registered view — the raw-SQL entry path a
    * reference user gets alongside the DataFrame API). */
  def groupingSets(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_gs")
    // leaf-grain pre-aggregate before the grouping-sets Expand (r15
    // Expand sweep — see cubeSales): the ×2 multiplication applies to
    // ~6 (flag, status) cells, never the table
    s.sql(
      s"""WITH pre AS (
         |  SELECT l_returnflag, l_linestatus,
         |    SUM(CAST(l_quantity AS DECIMAL(18,4))) AS s_dec,
         |    COUNT(*) AS c
         |  FROM lineitem_gs GROUP BY l_returnflag, l_linestatus)
         |SELECT l_returnflag, l_linestatus,
         |CAST(SUM(s_dec) AS DOUBLE) AS sum_qty,
         |CAST(SUM(c) AS BIGINT) AS n_lines
         |FROM pre
         |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))""".stripMargin)
  }

  /** TPC-H Q2-shaped min-cost supplier: the correlated
    * `WHERE cost = (SELECT MIN(cost) ... WHERE same part)` is
    * decorrelated into aggregate-and-rejoin — per-(part,supplier) unit
    * cost, per-part min, equality join back — exactly the plan Catalyst's
    * own subquery decorrelation produces. Unit cost is a per-row double
    * quotient (correctly rounded, bit-identical cross-engine); MIN and
    * the equality filter then operate on identical bits. */
  def minCostSupplier(s: SparkSession, dir: String): DataFrame = {
    val ps = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(col("l_extendedprice") / col("l_quantity")).as("unit_cost"))
    val mn = ps.groupBy(col("l_partkey")).agg(min(col("unit_cost")).as("min_cost"))
    ps.join(mn, Seq("l_partkey"))
      .filter(col("unit_cost") === col("min_cost"))
      .join(broadcast(Tables.part(s, dir).filter(col("p_size") < 10)),
            col("l_partkey") === col("p_partkey"))
      .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
      .select(col("p_partkey"), col("s_name"), col("n_name"), col("unit_cost"))
  }

  /** TPC-H Q7-shaped bilateral volume: revenue between two nations in
    * both directions. The two nation dims are pre-filtered to the pair
    * BEFORE broadcasting, so the fact scan is pruned at the join instead
    * of after a full 6-way product; the symmetric (OR of the two
    * orientations) predicate only excludes the 1↔1 / 2↔2 combinations. */
  def nationVolume(s: SparkSession, dir: String): DataFrame = {
    val pair = Seq("NATION_1", "NATION_2")
    val n1 = Tables.nation(s, dir).filter(col("n_name").isin(pair: _*))
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(s, dir).filter(col("n_name").isin(pair: _*))
      .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
      .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .withColumn("l_year", year(col("l_shipdate")))
      .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      .agg(exactSumProd(col("l_extendedprice"), lit(1.0) - col("l_discount"))
             .as("revenue"),
           count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q9-shaped profit: revenue minus a retail-price-based cost
    * proxy (the fixture has no partsupp.supplycost), per supplier nation
    * and order year. Both terms are exact decimal sums exported to
    * double; the subtract/scale arithmetic then runs on identical bits
    * in both engines. */
  def productProfit(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir).filter(col("p_type") === "PROMO")),
            col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
      .withColumn("o_year", year(col("o_orderdate")))
      .groupBy(col("n_name"), col("o_year"))
      .agg((exactSumProd(col("l_extendedprice"), lit(1.0) - col("l_discount")) -
            exactSumProd(col("p_retailprice"), col("l_quantity")) * lit(0.1))
             .as("profit"),
           count(lit(1)).as("n_lines"))

  /** TPC-H Q15-shaped top supplier: quarterly revenue per supplier, keep
    * the row(s) equal to the global max — an aggregate-equality scalar
    * subquery. The comparison runs in the EXACT decimal domain (not the
    * exported double), so ties and the max are engine-independent. */
  def topSupplier(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit(ts("1997-01-01")) &&
              col("l_shipdate") < lit(ts("1997-04-01")))
      .groupBy(col("l_suppkey"))
      .agg(sum(dec(col("l_extendedprice")) * dec(lit(1.0) - col("l_discount")))
             .as("rev_dec"))
    rev.join(broadcast(rev.agg(max(col("rev_dec")).as("max_rev"))))
      .filter(col("rev_dec") === col("max_rev"))
      .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
              col("rev_dec").cast(DoubleType).as("total_rev"))
  }

  /** TPC-H Q18-shaped large-volume orders: the `o_orderkey IN (SELECT
    * ... HAVING SUM(qty) > 300)` subquery is the aggregate itself — the
    * filtered per-order sums (a tiny set after HAVING) drive the join,
    * carrying sum_qty so lineitem is scanned ONCE, not re-joined. */
  def bigOrders(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).groupBy(col("l_orderkey"))
      .agg(sum(dec(col("l_quantity"))).as("qty_dec"))
      .filter(col("qty_dec") > 300)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("o_orderkey"), col("o_orderdate"),
              col("o_totalprice"), col("qty_dec").cast(DoubleType).as("sum_qty"))

  /** TPC-H Q22-shaped idle wealthy customers: above-average balance
    * (broadcast scalar subquery) AND no recent orders (anti join), rolled
    * up per nation — scalar subquery + NOT EXISTS composed in one plan. */
  def idleCustomers(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
    val avgBal = cust.agg(exactAvg(col("c_acctbal")).as("avg_bal"))
    val recent = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit(ts("1999-01-01")))
      .select(col("o_custkey"))
    cust.join(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_customers"),
           exactSum(col("c_acctbal")).as("sum_acctbal"))
  }

  /** Relational division (the FOR ALL quantifier): suppliers whose
    * high-discount Q1-1997 lines reached customers in EVERY market
    * segment. Division by counting: distinct (supplier, segment) pairs,
    * count per supplier, keep rows matching the divisor's cardinality
    * (a 1-row broadcast) — no N-way self-join. */
  def divisionSuppliers(s: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.lineitem(s, dir)
      .filter(col("l_discount") >= 0.09 &&
              col("l_shipdate") >= lit(ts("1997-01-01")) &&
              col("l_shipdate") < lit(ts("1997-04-01")))
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
      .select(col("l_suppkey"), col("c_mktsegment")).distinct()
    pairs.groupBy(col("l_suppkey"))
      .agg(countDistinct(col("c_mktsegment")).as("n_segments"))
      .join(broadcast(
        Tables.customer(s, dir).agg(countDistinct(col("c_mktsegment")).as("n_total"))))
      .filter(col("n_segments") === col("n_total"))
      .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_segments"))
  }

  /** TPC-H Q21-shaped waiting-supplier report: suppliers that were the
    * ONLY late shipper on a multi-supplier order. The two correlated
    * self-EXISTS of the textbook form (another supplier exists / no other
    * late supplier exists) are decorrelated into one aggregation ladder —
    * per-(order,supplier) late flag → per-order supplier and late-supplier
    * counts → filter — so lineitem is scanned once and shuffled once on
    * the order key, instead of three correlated probes of the fact table.
    *
    * The per-order counts ride an unbounded WINDOW over the same order
    * key instead of a perSupp ⋈ perOrder self-join (r15, guide §2.4
    * "two operations keyed the same way share one exchange"): the join
    * form planned the whole scan→join→per-(order,supp) aggregate
    * pipeline TWICE feeding a SortMergeJoin (5 exchanges, 2 sorts in the
    * static plan); the window form computes it once — 3 exchanges, 1
    * sort, window state = two running counters per order group. Measured
    * only 1.59 → 1.54 s (same-mode min-of-4): AQE's runtime stage reuse
    * was already deduplicating the doubled subtree at fixture scale, so
    * the win is the plan shape (fewer exchange barriers, no SMJ sort of
    * perSupp against perOrder), not wall-clock here. */
  def waitingSupplier(s: SparkSession, dir: String): DataFrame = {
    val lo = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderdate")),
            col("l_orderkey") === col("o_orderkey"))
      .withColumn("is_late",
        (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
          .cast("int"))
    val perSupp = lo.groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(col("is_late")).as("supp_late"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_orderkey"))
    perSupp
      .withColumn("n_supp", count(lit(1)).over(w))
      .withColumn("n_late", sum(col("supp_late")).over(w))
      .filter(col("supp_late") === 1 && col("n_supp") >= 2 && col("n_late") === 1)
      .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("n_waiting_orders"))
  }

  /** UDAF path (SURVEY §2.10): the typed [[graft.functions.WeightedMeanMicros]]
    * Aggregator — exact micro-unit integer arithmetic, so the custom
    * aggregate is order-independent and oracle-matchable like a built-in.
    * The plan is still partial+final (distributive Long merges). */
  def udafWeightedMean(s: SparkSession, dir: String): DataFrame = {
    graft.functions.WeightedMeanMicros.register(s)
    Tables.lineitem(s, dir).groupBy(col("l_returnflag"))
      .agg(call_function("wmean_micros", col("l_quantity"), col("l_discount"))
             .as("w_mean_qty"),
           count(lit(1)).as("n_lines"))
  }

  /** Array-function suite: per-order quantity vectors through the
    * higher-order-function surface — sorted collect, slice, filter,
    * transform, ordered fold, containment. The collect is
    * deterministically ordered (sort_array on exact decimals), so every
    * downstream HOF is oracle-replayable; one shuffle builds the arrays,
    * everything after is per-row. */
  def arrayFuncs(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(dec(col("l_quantity"))), asc = false)
             .as("qtys"),
           exactSum(col("l_quantity")).as("total_qty"))
      .select(
        col("l_orderkey"),
        size(col("qtys")).as("n_lines"),
        element_at(col("qtys"), 1).cast("double").as("max_qty"),
        // decimal→string is exact digits in both engines ("31.0000"),
        // unlike double→string whose shortest-repr formatting differs
        concat_ws(",", transform(slice(col("qtys"), 1, 3),
                                 q => q.cast("string"))).as("top3_qty"),
        size(filter(col("qtys"), q => q > lit(30))).as("n_big"),
        col("total_qty"),
        exists(col("qtys"), q => q === lit(1)).as("has_single"))

  /** Join-strategy control surface: the same orders⋈customer rollup
    * under an explicit SORT-MERGE hint — the planner override a user
    * reaches for when size estimates are wrong (a mis-broadcast dim
    * OOMs executors at 100 TB; the hint forces the safe exchange). The
    * result is strategy-invariant — the oracle is the plain join — and
    * the spec asserts the physical operator actually flips
    * (SortMergeJoin here, ShuffledHashJoin for the sibling hint). */
  def mergeJoinHint(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .join(Tables.customer(s, dir).hint("merge"),
            col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
           exactSum(col("o_totalprice")).as("sum_price"))

  /** Null-aware anti join — the NOT IN trap: when the subquery's value
    * set contains a NULL, three-valued logic makes `x NOT IN (...)`
    * UNKNOWN for every x, so rows only survive against the null-free
    * branch. Spark plans this as BroadcastNestedLoopJoin/null-aware
    * anti; the query contrasts NOT IN (nullable set) with the NOT
    * EXISTS form on identical data — engines must agree on both. The
    * probed set here: priorities of orders above a price threshold,
    * with a NULL manufactured for one priority class. */
  def notInNulls(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(s, dir)
    ord.createOrReplaceTempView("orders_nin")
    s.sql(
      """SELECT
        |  (SELECT COUNT(*) FROM orders_nin
        |   WHERE o_orderpriority NOT IN (
        |     SELECT nullif(o_orderpriority, '5-LOW') FROM orders_nin
        |     WHERE o_totalprice > 90000)) AS n_not_in_nullable,
        |  (SELECT COUNT(*) FROM orders_nin o1
        |   WHERE NOT EXISTS (
        |     SELECT 1 FROM orders_nin o2 WHERE o2.o_totalprice > 90000
        |     AND nullif(o2.o_orderpriority, '5-LOW') = o1.o_orderpriority))
        |    AS n_not_exists""".stripMargin)
  }

  /** Z-order locality audit: bucket lineitem by the top bits of the
    * (partkey, suppkey) Morton key and report each bucket's spread in
    * BOTH dimensions. Every aligned 2^14 z-range is a 128×128 aligned
    * rectangle, so both per-bucket ranges are provably ≤ 127 — the
    * property that makes footer min/max stats prune multi-dimensional
    * predicates after [[graft.operators.Layout.clusterByZ]]. */
  def zorderLocality(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(
        shiftright(graft.operators.Layout.zorderKey(
          col("l_partkey"), col("l_suppkey")), 14).as("zbucket"),
        graft.operators.Layout.zmod(col("l_partkey")).as("pm"),
        graft.operators.Layout.zmod(col("l_suppkey")).as("sm"))
      .groupBy(col("zbucket"))
      .agg(count(lit(1)).as("n_lines"),
           min(col("pm")).as("min_p"), max(col("pm")).as("max_p"),
           min(col("sm")).as("min_s"), max(col("sm")).as("max_s"))

  /** Blocked fuzzy entity matching — the record-linkage primitive: find
    * near-identical part names via edit distance WITHOUT an all-pairs
    * scan. Dictionary-encode first (group rows by exact name — the name
    * table is VOCAB-sized, here 64 rows vs 2000+ parts), block on the
    * head noun (last token), and run `levenshtein` only inside blocks;
    * each surviving name pair reports the ROW-pair count it stands for
    * (n_a·n_b). At 100 TB the comparison cost is vocab²/blocks, not
    * rows² — the standard blocking design (Fellegi-Sunter linkage);
    * skewed blocks fall to AQE. Spark's and DuckDB's `levenshtein` are
    * both the classic unit-cost DP — integer-exact across engines. */
  def fuzzyMatch(s: SparkSession, dir: String): DataFrame = {
    val names = Tables.part(s, dir)
      .groupBy(col("p_name")).agg(count(lit(1)).as("n_parts"))
      .withColumn("noun", substring_index(col("p_name"), " ", -1))
    val a = names.select(col("p_name").as("name_a"),
                         col("n_parts").as("na"), col("noun"))
    val b = names.select(col("p_name").as("name_b"),
                         col("n_parts").as("nb"), col("noun"))
    a.join(b, Seq("noun"))
      .filter(col("name_a") < col("name_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= 3)
      .select(col("noun"), col("name_a"), col("name_b"),
              col("dist").cast("long").as("dist"),
              (col("na") * col("nb")).as("n_pairs"))
  }

  /** Entity canonicalization — the step after [[fuzzyMatch]]: connected
    * components over the distance-≤ 3 name-pair edges collapse fuzzy
    * variants to one canonical surface form (the component's
    * lexicographic minimum); every name maps to its canonical name with
    * its row count. The standard record-linkage resolve: blocked fuzzy
    * join → match graph → transitive closure → canonical pick. The
    * cluster step runs on the VOCAB-sized name table, never on rows. */
  def fuzzyClusters(s: SparkSession, dir: String): DataFrame = {
    val names = PlanCache.reuse(
      Tables.part(s, dir)
        .groupBy(col("p_name")).agg(count(lit(1)).as("n_parts"))
        .withColumn("noun", substring_index(col("p_name"), " ", -1)))
    val a = names.select(col("p_name").as("name_a"), col("noun"))
    val b = names.select(col("p_name").as("name_b"), col("noun"))
    val edges = a.join(b, Seq("noun"))
      .filter(col("name_a") < col("name_b"))
      .filter(levenshtein(col("name_a"), col("name_b")) <= 3)
      .select(col("name_a"), col("name_b"))
    val clusters = Graphs.ccStar(edges, "name_a", "name_b")
    names.join(clusters, col("p_name") === col("id"), "left")
      .select(col("p_name"),
              coalesce(col("cluster_id"), col("p_name")).as("canonical_name"),
              col("n_parts"))
  }

  /** k-core of the co-purchase graph (parts appearing in the same order,
    * both lines with quantity > 40): 6 peeling rounds at k = 5 on the
    * pinned-partitioner RDD core ([[Graphs.kCore]]). Survivors = the
    * cohesive product cluster; the graph-cohesion filter corpus
    * curation applies to link graphs. The oracle unrolls the identical
    * 6 rounds as MATERIALIZED CTEs. */
  def relKCore(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).filter(col("l_quantity") > 40)
      .select(col("l_orderkey"), col("l_partkey"))
    val l1 = li.select(col("l_orderkey"), col("l_partkey").as("a"))
    val l2 = li.select(col("l_orderkey"), col("l_partkey").as("b"))
    // no .distinct() here: kCore's symmetric view dedupes edges itself
    val edges = l1.join(l2, "l_orderkey").filter(col("a") < col("b"))
      .select(col("a"), col("b"))
    Graphs.kCore(edges, "a", "b", k = 5, rounds = 6)
      .select(col("node").as("part_node"), col("deg").as("core_deg"))
  }

  /** Label-propagation communities of the same co-purchase graph as
    * [[relKCore]] (parts co-ordered with quantity > 40), 4 synchronous
    * rounds with the deterministic self-vote + smallest-label tie-break
    * ([[Graphs.labelPropagation]]) — the community grain curation
    * pipelines use to block candidate dup/spam clusters. The oracle
    * unrolls the identical 4 rounds; each round's label frame is
    * referenced twice (neighbor join + self vote), so every round CTE
    * is MATERIALIZED (round-7 DuckDB inlining gotcha). */
  /** The [[relKCore]] co-purchase edge list (parts co-ordered with
    * quantity > 40, a < b), shared by the LPA/modularity rows. */
  private def coPurchaseEdges(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).filter(col("l_quantity") > 40)
      .select(col("l_orderkey"), col("l_partkey"))
    val l1 = li.select(col("l_orderkey"), col("l_partkey").as("a"))
    val l2 = li.select(col("l_orderkey"), col("l_partkey").as("b"))
    l1.join(l2, "l_orderkey").filter(col("a") < col("b"))
      .select(col("a"), col("b"))
  }

  /** The 4-round LPA labels of [[coPurchaseEdges]], shared by
    * [[relLabelProp]] and [[relModularity]]. */
  private def coPurchaseCommunities(s: SparkSession, dir: String): DataFrame =
    Graphs.labelPropagation(coPurchaseEdges(s, dir), "a", "b", rounds = 4)

  def relLabelProp(s: SparkSession, dir: String): DataFrame =
    coPurchaseCommunities(s, dir)
      .select(col("node").as("part_node"), col("label").as("community"))

  /** Modularity audit of the [[relLabelProp]] communities — per
    * community the exact-integer `Q·4m²` term ([[Graphs.modularity]]):
    * the quality score by which a curation pipeline decides whether
    * LPA's clusters are real structure or noise, with the float
    * division left to the consumer so every compared column stays
    * BIGINT. Oracle shares the 4-round LPA unroll CTEs. */
  def relModularity(s: SparkSession, dir: String): DataFrame =
    Graphs.modularity(coPurchaseEdges(s, dir), "a", "b",
                      coPurchaseCommunities(s, dir))

  /** The lineitem columns profiled by [[relProfileColumns]] — the
    * numeric surface (strings/timestamps excluded by the
    * [[Relational.profileColumns]] contract). */
  private val ProfiledCols = Seq(
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** Numeric-column profile of lineitem — the pre-training
    * schema-quality audit (count / nulls / exact NDV / min / max /
    * exact sum per column) in one scan; see
    * [[Relational.profileColumns]] for the unpivot-first shape. */
  def relProfileColumns(s: SparkSession, dir: String): DataFrame =
    Relational.profileColumns(Tables.lineitem(s, dir), ProfiledCols)

  /** Decision-stump split finder: for each candidate feature
    * (quantity, discount — recovered onto the exact 2-decimal integer
    * grid) and each observed threshold `v` (split = `x ≤ v`), the
    * 3-class (returnflag) weighted Gini impurity as the exact scaled
    * integer
    * `Σ_side (n_side² − Σ_c cnt_c²)·10⁶ DIV (n_side·n)`,
    * plus the deterministic per-feature rank (impurity asc, threshold
    * asc → rk 1 is the stump a CART trainer would pick). The
    * feature-selection / label-leakage audit shape of an ML data prep
    * pass, with no float division in any compared column.
    *
    * Scale shape: ONE corpus scan (a 2-branch explode, codegen'd)
    * into a (feature, value, class) hash aggregation whose key space
    * is value-grid-bounded (61 × 3 cells here), then all
    * threshold/cumulative work happens on those cells with
    * feature-partitioned windows — corpus-size-independent past the
    * first aggregation. Width budget: n²·10⁶ < 2⁶³ needs n < 3·10⁶
    * rows per feature; larger corpora drop the ppm scale a digit. */
  def relGiniSplit(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val cells = Tables.lineitem(s, dir)
      .select(explode(array(
          struct(lit("quantity").as("feature"),
                 expr("CAST(round(l_quantity * 100) AS BIGINT)").as("v")),
          struct(lit("discount").as("feature"),
                 expr("CAST(round(l_discount * 100) AS BIGINT)").as("v"))
        )).as("x"), col("l_returnflag").as("cls"))
      .groupBy(col("x.feature").as("feature"), col("x.v").as("v"))
      .agg(sum(when(col("cls") === "A", 1L).otherwise(0L)).as("a"),
           sum(when(col("cls") === "N", 1L).otherwise(0L)).as("b"),
           sum(when(col("cls") === "R", 1L).otherwise(0L)).as("c"))
    val cum = w.partitionBy(col("feature")).orderBy(col("v"))
    val tot = w.partitionBy(col("feature"))
    val sides = cells.select(col("feature"), col("v"),
        sum(col("a")).over(cum).as("la"), sum(col("b")).over(cum).as("lb"),
        sum(col("c")).over(cum).as("lc"),
        sum(col("a")).over(tot).as("ta"), sum(col("b")).over(tot).as("tb"),
        sum(col("c")).over(tot).as("tc"))
      .select(col("feature"), col("v"), col("la"), col("lb"), col("lc"),
              (col("ta") - col("la")).as("ra"), (col("tb") - col("lb")).as("rb"),
              (col("tc") - col("lc")).as("rc"))
      .withColumn("nl", expr("la + lb + lc"))
      .withColumn("nr", expr("ra + rb + rc"))
      .filter(col("nr") > 0)
    sides.select(col("feature"), col("v").as("threshold_c"),
        col("nl").as("n_left"), col("nr").as("n_right"),
        expr("""(nl*nl - la*la - lb*lb - lc*lc) * 1000000
                  DIV (nl * (nl + nr)) +
                (nr*nr - ra*ra - rb*rb - rc*rc) * 1000000
                  DIV (nr * (nl + nr))""").as("wgini_ppm"))
      .withColumn("rk", row_number().over(
          w.partitionBy(col("feature"))
           .orderBy(col("wgini_ppm").asc, col("threshold_c").asc))
        .cast("long"))
  }

  /** Pearson chi-square independence panel over two categorical pairs
    * (returnflag × linestatus, returnflag × ship-year) — the
    * label-vs-covariate drift audit run before training on a slice.
    * Per cell the exact scaled contribution
    * `(n·O − R·C)²·10⁶ DIV (n·R·C)` (the n-multiplied form of
    * (O−E)²/E, so no float enters any compared column) plus the
    * per-pair total. Numerators square up to n² so they run in
    * DECIMAL(38,0) (≡ DuckDB HUGEINT); width holds to n < 3·10⁹ rows
    * per pair at ppm scale — past that, drop a scale digit.
    *
    * Scale shape: ONE corpus scan (2-branch explode) into a hash
    * aggregation whose key space is the contingency grid (≤ 27 cells
    * here); marginals and totals are windows over those cells, never a
    * second scan or a scalar broadcast. */
  def relChisqIndependence(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val cells = Tables.lineitem(s, dir)
      .select(explode(array(
          struct(lit("flag_status").as("pair"),
                 col("l_returnflag").as("x"), col("l_linestatus").as("y")),
          struct(lit("flag_year").as("pair"), col("l_returnflag").as("x"),
                 year(col("l_shipdate")).cast("string").as("y"))
        )).as("c"))
      .groupBy(col("c.pair").as("pair"), col("c.x").as("x"),
               col("c.y").as("y"))
      .agg(count(lit(1)).as("o"))
    cells
      .withColumn("rr", sum(col("o")).over(w.partitionBy("pair", "x")))
      .withColumn("cc", sum(col("o")).over(w.partitionBy("pair", "y")))
      .withColumn("n", sum(col("o")).over(w.partitionBy("pair")))
      .withColumn("chi_ppm",
        expr("""CAST(CAST(n*o - rr*cc AS DECIMAL(38,0)) * (n*o - rr*cc)
                  * 1000000 AS DECIMAL(38,0))
                div (CAST(n AS DECIMAL(38,0)) * rr * cc)"""))
      .select(col("pair"), col("x"), col("y"), col("o").as("n_obs"),
              col("chi_ppm"),
              sum(col("chi_ppm")).over(w.partitionBy("pair"))
                .as("chi_total_ppm"))
  }

  /** Data-quality rule panel — the one-stop pre-training audit table
    * (the Deequ/great-expectations shape): eight constraint rules
    * across lineitem/orders/customer, each reporting rows checked,
    * violations, and violation ppm — exact integers. Rules share
    * scans: the two lineitem range rules ride ONE scan, the
    * ship-before-order and orphan-order rules ride ONE lineitem⋈orders
    * left join, the orphan-customer rule one orders⋈customer left
    * join, and the duplicate-PK rule one keyed aggregation. At scale
    * every join is FK-shaped (equi, co-partitionable) and every rule
    * is a map-side-combined 1-row aggregate — the union is 8 rows. */
  def relDqRules(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    val liAgg = li.agg(
      count(lit(1)).as("n"),
      sum(when(col("l_quantity") <= 0, 1L).otherwise(0L)).as("v1"),
      sum(when(col("l_discount") < 0 || col("l_discount") > 0.1, 1L)
        .otherwise(0L)).as("v2"),
      sum(when(col("l_tax") < 0, 1L).otherwise(0L)).as("v3"))
    val lo = li.select(col("l_orderkey"), col("l_shipdate"))
      .join(o.select(col("o_orderkey"), col("o_orderdate")),
            col("l_orderkey") === col("o_orderkey"), "left")
      .agg(count(lit(1)).as("n"),
           sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("v1"),
           sum(when(col("l_shipdate") < col("o_orderdate"), 1L)
             .otherwise(0L)).as("v2"))
    val oc = o.select(col("o_custkey"), col("o_totalprice"))
      .join(c.select(col("c_custkey")),
            col("o_custkey") === col("c_custkey"), "left")
      .agg(count(lit(1)).as("n"),
           sum(when(col("c_custkey").isNull, 1L).otherwise(0L)).as("v1"),
           sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)).as("v2"))
    val dup = o.groupBy(col("o_orderkey")).agg(count(lit(1)).as("k"))
      .agg(sum(col("k")).as("n"),
           sum(col("k") - 1).as("v1"))
    def rules(agg: DataFrame, names: Seq[(String, String)]): DataFrame =
      agg.select(explode(array(names.map { case (r, v) =>
        struct(lit(r).as("rule"), col("n").as("n_checked"),
               col(v).as("n_violations"))
      }: _*)).as("x")).select(col("x.*"))
    rules(liAgg, Seq("lineitem_qty_nonpositive" -> "v1",
                     "lineitem_discount_range" -> "v2",
                     "lineitem_tax_negative" -> "v3"))
      .unionAll(rules(lo, Seq("lineitem_orphan_order" -> "v1",
                              "lineitem_ship_before_order" -> "v2")))
      .unionAll(rules(oc, Seq("orders_orphan_customer" -> "v1",
                              "orders_price_nonpositive" -> "v2")))
      .unionAll(rules(dup, Seq("orders_duplicate_pk" -> "v1")))
      .withColumn("violation_ppm",
        expr("n_violations * 1000000 DIV n_checked"))
  }

  /** k-anonymity audit over a 3-level quasi-identifier generalization
    * ladder (Sweeney 2002) — the re-identification risk table a
    * privacy review runs before any per-user data enters a training
    * corpus: for each generalization level (nation+segment+balance-kilo
    * bucket → nation+segment → nation) the group count, the minimum
    * group size (the k in k-anonymity), the rows in groups below
    * k = 10, and the at-risk share in permille. Exact integers
    * throughout.
    *
    * Scale shape: one customer scan (3-branch explode) into a
    * (level, qid) hash aggregation with map-side combine — the qid key
    * space is the generalization grid, so the second rollup is
    * grid-bounded; no joins, no broadcasts. */
  def relKAnonymity(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .select(explode(array(
          struct(lit("nation_seg_bal").as("level"),
                 // +100000 cents keeps the DIV operand nonnegative
                 // (acctbal can be negative; floor vs truncation would
                 // otherwise disagree across engines at the sign flip)
                 concat_ws("|", col("c_nationkey"), col("c_mktsegment"),
                           expr("(CAST(round(c_acctbal * 100) AS BIGINT)" +
                                " + 100000) DIV 100000")).as("qid")),
          struct(lit("nation_seg").as("level"),
                 concat_ws("|", col("c_nationkey"),
                           col("c_mktsegment")).as("qid")),
          struct(lit("nation").as("level"),
                 col("c_nationkey").cast("string").as("qid"))
        )).as("q"))
      .groupBy(col("q.level").as("level"), col("q.qid").as("qid"))
      .agg(count(lit(1)).as("gsz"))
      .groupBy(col("level"))
      .agg(count(lit(1)).as("n_groups"), min(col("gsz")).as("k_anonymity"),
           sum(when(col("gsz") < 10, col("gsz")).otherwise(0L))
             .as("rows_at_risk"),
           sum(col("gsz")).as("n_rows"))
      .select(col("level"), col("n_groups"), col("k_anonymity"),
              col("rows_at_risk"),
              expr("rows_at_risk * 1000 DIV n_rows").as("risk_permille"))

  /** 2-D skyline (pareto frontier): parts no other part dominates on
    * (price ↓, size ↑) — the classic multi-criteria operator (Börzsönyi
    * et al. 2001). NOT computed with a global sort: prices bucket into
    * fixed $50 bands (price100 DIV 5000 — deterministic, corpus-size-
    * independent), each band finds its local frontier with BAND-
    * partitioned windows (strictly-cheaper prefix max via an exact
    * integer RANGE frame, same-price group max), and bands compose
    * through a prefix-max ladder over the ~band-count rows (the
    * [[DocQueries.pipeWeightedSample]] ladder pattern — constant in
    * corpus size, broadcast back). A row survives iff it tops its price
    * group and beats every cheaper row's size, in-band or any earlier
    * band. Ties: equal (price, size) rows dominate nobody — all kept,
    * matching the oracle's strict-dominance NOT EXISTS. */
  def skyline(s: SparkSession, dir: String): DataFrame = {
    val p = PlanCache.reuse(
      Tables.part(s, dir)
        .select(col("p_partkey"), col("p_name"), col("p_retailprice"),
                col("p_size"),
                expr("CAST(round(p_retailprice * 100) AS BIGINT)")
                  .as("price100"))
        .withColumn("bucket", expr("price100 DIV 5000")))
    val wPrev = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket")).orderBy(col("price100"))
      .rangeBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
                    -1)
    val wSame = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket"), col("price100"))
    val bmax = p.groupBy(col("bucket")).agg(max(col("p_size")).as("bmax"))
    val wLadder = org.apache.spark.sql.expressions.Window
      .orderBy(col("bucket"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
                   -1)
    val ladder = bmax
      .withColumn("lmax", max(col("bmax")).over(wLadder))
      .select(col("bucket"), col("lmax"))
    p.withColumn("m_prev", max(col("p_size")).over(wPrev))
      .withColumn("m_same", max(col("p_size")).over(wSame))
      .join(broadcast(ladder), Seq("bucket"))
      .filter(col("p_size") === col("m_same") &&
        col("p_size") > greatest(coalesce(col("m_prev"), lit(-1)),
                                 coalesce(col("lmax"), lit(-1))))
      .select(col("p_partkey"), col("p_name"), col("p_retailprice"),
              col("p_size").cast("long").as("p_size"))
  }

  /** Deterministic random walks (DeepWalk-style corpus generation,
    * Perozzi et al. 2014) over the co-purchase graph: 3 steps from
    * every node, the neighbor at each step picked by a seeded md5 rank
    * (`md5("walk|t|u") % deg(u)` into the node's id-ordered adjacency) —
    * no RNG, so the walk corpus is reproducible on any engine, run, or
    * cluster layout, and the DuckDB twin replays it hash-for-hash.
    * Scale shape: the rank is computed from a (node, deg) lookup BEFORE
    * each hop's join, so every hop is an EQUI-join on (node, rank) —
    * no adjacency fan-out per walker; 3 hops = 3 bounded shuffles. */
  def graphWalks(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).filter(col("l_quantity") > 40)
      .select(col("l_orderkey"), col("l_partkey"))
    val l1 = li.select(col("l_orderkey"), col("l_partkey").as("a"))
    val l2 = li.select(col("l_orderkey"), col("l_partkey").as("b"))
    val base = l1.join(l2, "l_orderkey").filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    val sym = PlanCache.reuse(
      base.select(col("a").as("s"), col("b").as("d"))
        .unionAll(base.select(col("b").as("s"), col("a").as("d"))))
    val wAdj = org.apache.spark.sql.expressions.Window
      .partitionBy(col("s")).orderBy(col("d"))
    val adj = PlanCache.reuse(
      sym.withColumn("rn", row_number().over(wAdj).cast("long")))
    val degs = PlanCache.reuse(
      sym.groupBy(col("s")).agg(count(lit(1)).as("deg")))
    def rank(t: Int, cur: org.apache.spark.sql.Column) =
      conv(substring(md5(concat(lit(s"walk|$t|"), cur.cast("string"))),
                     1, 8), 16, 10).cast("long") % col("deg") + 1L
    var walk = degs.select(col("s").as("start_node"), col("s").as("cur"))
    for (t <- 1 to 3) {
      walk = walk
        .join(degs, col("cur") === col("s"))
        .withColumn("rk", rank(t, col("cur")))
        .drop("s", "deg")
        .join(adj, col("cur") === col("s") && col("rk") === col("rn"))
        .withColumn(s"n$t", col("d"))
        .drop("s", "d", "rn", "rk", "cur")
        .withColumn("cur", col(s"n$t"))
    }
    walk.select(col("start_node"), col("n1"), col("n2"), col("n3"))
  }

  /** Seed-expansion via personalized PageRank: random-walk-with-restart
    * from the curated seed set (parts with p_size = 50) over the
    * WEIGHTED co-purchase graph (edge weight = co-occurrence count, so
    * frequently-bundled parts pull more rank). Output = the 3-hop seed
    * neighborhood with exact fixed-point ranks — the "expand a curated
    * seed list through the co-occurrence graph" primitive of corpus
    * labeling pipelines ([[Graphs.personalizedPageRank]]). */
  def relPprSeeds(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).filter(col("l_quantity") > 40)
      .select(col("l_orderkey"), col("l_partkey"))
    val l1 = li.select(col("l_orderkey"), col("l_partkey").as("a"))
    val l2 = li.select(col("l_orderkey"), col("l_partkey").as("b"))
    val pc = l1.join(l2, "l_orderkey").filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("w"))
    val sym = pc.select(col("a").as("src"), col("b").as("dst"), col("w"))
      .unionAll(pc.select(col("b").as("src"), col("a").as("dst"), col("w")))
    val seeds = Tables.part(s, dir).filter(col("p_size") === 50)
      .select(col("p_partkey"))
    Graphs.personalizedPageRank(sym, "src", "dst", "w", seeds, "p_partkey",
                                iters = 3)
      .filter(col("rank") > 0)
      .select(col("node").as("part_node"), col("rank"))
  }

  /** This family's entries in [[graft.SparkEntry.sharedFrames]]:
    *  - `kll_shared`: the ONE KLL leveled stream every `rel_kll_*` row
    *    projects ([[kllLevShared]]);
    *  - `kll_estimates`: the 5-row estimate frame read by
    *    `rel_kll_quantiles` and `rel_kll_error`'s broadcast side; its
    *    build runs the survivor windows over the leveled stream;
    *  - `co_purchase_edges` / `lpa_labels`: the co-purchase graph
    *    (`rel_kcore`, `rel_link_predict`) and its 4-round LPA labels
    *    (`rel_label_prop`, `rel_modularity`; the per-round
    *    [[PlanCache.reuse]] in [[Graphs.labelPropagation]] keeps each
    *    round's logical plan, so `sameResult` can match it);
    *  - `co_ship_edges`: the supplier co-shipping graph
    *    (`rel_triangle_count`, `rel_clustering_coeff`). */
  val shared: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "kll_shared"        -> (kllLevShared _),
    "kll_estimates"     -> (kllQuantilesQuery _),
    "co_purchase_edges" -> (coPurchaseEdges _),
    "lpa_labels"        -> (coPurchaseCommunities _),
    "co_ship_edges"     -> (coShipEdges _))

  val registry: Map[String, (SparkSession, String) => DataFrame] = Map(
    "rel_ppr_seeds"         -> (relPprSeeds _),
    "rel_skyline"           -> (skyline _),
    "rel_graph_walks"       -> (graphWalks _),
    "rel_fuzzy_match"       -> (fuzzyMatch _),
    "rel_fuzzy_clusters"    -> (fuzzyClusters _),
    "rel_kcore"             -> (relKCore _),
    "rel_label_prop"        -> (relLabelProp _),
    "rel_modularity"        -> (relModularity _),
    "rel_clustering_coeff"  -> (relClusteringCoeff _),
    "rel_link_predict"      -> (relLinkPredict _),
    "rel_profile_columns"   -> (relProfileColumns _),
    "rel_gini_split"        -> (relGiniSplit _),
    "rel_chisq_independence" -> (relChisqIndependence _),
    "rel_k_anonymity"       -> (relKAnonymity _),
    "rel_dq_rules"          -> (relDqRules _),
    "rel_approx_pct_bound"  -> (approxPercentileBound _),
    "rel_triangle_count"    -> (triangleCount _),
    "rel_zorder_locality"   -> (zorderLocality _),
    "rel_not_in_nulls"      -> (notInNulls _),
    "rel_merge_join"        -> (mergeJoinHint _),
    "rel_array_funcs"       -> (arrayFuncs _),
    "rel_udaf_weighted"     -> (udafWeightedMean _),
    "rel_waiting_supplier"  -> (waitingSupplier _),
    "rel_min_cost_supplier" -> (minCostSupplier _),
    "rel_nation_volume"     -> (nationVolume _),
    "rel_product_profit"    -> (productProfit _),
    "rel_top_supplier"      -> (topSupplier _),
    "rel_big_orders"        -> (bigOrders _),
    "rel_idle_customers"    -> (idleCustomers _),
    "rel_division"          -> (divisionSuppliers _),
    "rel_grouping_sets"     -> (groupingSets _),
    "rel_null_semantics"    -> (nullSemantics _),
    "rel_set_ops_all"       -> (setOpsAll _),
    "rel_percentiles"       -> (percentiles _),
    "rel_approx_distinct"   -> (approxDistinct _),
    "rel_join_size_est"     -> (joinSizeEst _),
    "rel_skew_f2_est"       -> (skewF2Est _),
    "rel_kll_quantiles"     -> (kllQuantilesQuery _),
    "rel_kll_error"         -> (kllErrorQuery _),
    "rel_kll_group_quantiles" -> (kllGroupQuantilesQuery _),
    "rel_kll_merge"         -> (kllMergeQuery _),
    "rel_kll_merge_disk"    -> (kllMergeDiskQuery _),
    "rel_kmv_intersect"     -> (kmvIntersect _),
    "rel_cc_chain"          -> (ccChain _),
    "rel_cube_sales"        -> (cubeSales _),
    "rel_above_avg_orders"  -> (aboveAvgOrders _),
    "rel_moment_stats"      -> (momentStats _),
    "rel_salted_agg"        -> (saltedAgg _),
    "rel_string_funcs"      -> (stringFuncs _),
    "rel_date_funcs"        -> (dateFuncs _),
    "rel_pricing_summary"   -> (pricingSummary _),
    "rel_shipping_priority" -> (shippingPriority _),
    "rel_local_supplier"    -> (localSupplierVolume _),
    "rel_semi_join"         -> (semiJoinHighDiscount _),
    "rel_anti_join"         -> (antiJoinNoOrders _),
    "rel_rollup_sales"      -> (rollupSales _),
    "rel_top_orders_per_customer" -> (topOrdersPerCustomer _),
    "rel_running_quantity"  -> (runningQuantity _),
    "rel_set_ops"           -> (setOps _),
    "rel_distinct_agg"      -> (distinctAgg _),
    "rel_top_lineitems"     -> (topLineitems _),
    "rel_customer_order_histogram" -> (customerOrderHistogram _),
  )

  private val revenueSql = sqlSumProd("l_extendedprice", "(1.0 - l_discount)")

  /** Moment shorthand for the stats oracle — identical double ops on
    * identical (varchar-routed) exact sums. */
  private val momentsSql: String = {
    val n = "CAST(COUNT(*) AS DOUBLE)"
    val sx = sqlSum("l_quantity")
    val sxx = sqlSumProd("l_quantity", "l_quantity")
    val sy = sqlSum("l_discount")
    val syy = sqlSumProd("l_discount", "l_discount")
    val sxy = sqlSumProd("l_quantity", "l_discount")
    s"""SELECT l_returnflag, $n AS n, $sx AS sum_x,
       |(($sxx) - ($sx) * ($sx) / ($n)) / (($n) - 1.0) AS var_qty,
       |sqrt((($sxx) - ($sx) * ($sx) / ($n)) / (($n) - 1.0)) AS stddev_qty,
       |(($sxy) - ($sx) * ($sy) / ($n)) /
       |  (sqrt(($sxx) - ($sx) * ($sx) / ($n)) *
       |   sqrt(($syy) - ($sy) * ($sy) / ($n))) AS corr_qty_disc
       |FROM lineitem GROUP BY l_returnflag""".stripMargin
  }

  /** 6-round k=5 peeling unroll for rel_kcore — every CTE MATERIALIZED
    * (each round references its predecessor 2-3×; DuckDB inlines per
    * reference, which goes exponential on a chained unroll). */
  private val kCoreSql: String = {
    val (k, rounds) = (5, 6)
    val base =
      s"""base AS MATERIALIZED (
         |  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
         |  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
         |  WHERE l1.l_partkey < l2.l_partkey
         |    AND l1.l_quantity > 40 AND l2.l_quantity > 40),
         |e0 AS MATERIALIZED (SELECT a AS s, b AS d FROM base
         |                    UNION ALL SELECT b, a FROM base)""".stripMargin
    val rs = (1 to rounds).map { r =>
      val peel =
        s"""d$r AS MATERIALIZED (SELECT s AS v, COUNT(*) AS deg
           |  FROM e${r - 1} GROUP BY 1),
           |a$r AS MATERIALIZED (SELECT v, deg FROM d$r WHERE deg >= $k)""".stripMargin
      if (r == rounds) peel
      else peel + s""",
           |e$r AS MATERIALIZED (SELECT e.s, e.d FROM e${r - 1} e
           |  JOIN a$r x ON e.s = x.v JOIN a$r y ON e.d = y.v)""".stripMargin
    }
    s"""WITH $base,
       |${rs.mkString(",\n")}
       |SELECT v AS part_node, CAST(deg AS BIGINT) AS core_deg
       |FROM a$rounds""".stripMargin
  }

  /** 4-round synchronous label-propagation unroll for rel_label_prop,
    * over the same co-purchase base as [[kCoreSql]]. Per round: votes =
    * neighbor labels ⊎ the node's own label, argmax by the composite
    * BIGINT `n·2^41 + (2^41−1−label)` (most votes, then smallest label)
    * — COUNT(*)·2^41 stays in BIGINT because votes ≤ degree+1 < 2^22.
    * Label frames are referenced twice per round → MATERIALIZED. */
  private val lpaRounds = 4

  /** The shared 4-round LPA unroll CTE block (base co-purchase edges →
    * symmetric view → l0..l4 label frames), composed by both
    * [[labelPropSql]] and [[modularitySql]]. */
  private val lpaCtes: String = {
    val C = 1L << 41
    val rs = (1 to lpaRounds).map { r =>
      s"""l$r AS MATERIALIZED (
         |  SELECT d AS node,
         |    ${C - 1} - MAX(n * $C + (${C - 1} - label)) % $C AS label
         |  FROM (
         |    SELECT d, label, COUNT(*) AS n FROM (
         |      SELECT e.d, l.label FROM sym e JOIN l${r - 1} l ON e.s = l.node
         |      UNION ALL SELECT node AS d, label FROM l${r - 1})
         |    GROUP BY 1, 2)
         |  GROUP BY 1)""".stripMargin
    }
    s"""base AS MATERIALIZED (
       |  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
       |  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
       |  WHERE l1.l_partkey < l2.l_partkey
       |    AND l1.l_quantity > 40 AND l2.l_quantity > 40),
       |sym AS MATERIALIZED (SELECT a AS s, b AS d FROM base
       |                     UNION ALL SELECT b, a FROM base),
       |l0 AS MATERIALIZED (
       |  SELECT DISTINCT CAST(s AS BIGINT) AS node, CAST(s AS BIGINT) AS label
       |  FROM sym),
       |${rs.mkString(",\n")}""".stripMargin
  }

  private val labelPropSql: String =
    s"""WITH $lpaCtes
       |SELECT node AS part_node, label AS community FROM l$lpaRounds""".stripMargin

  /** Modularity terms over the l4 communities: m from base, degrees
    * from sym, intra-community edges from base joined to l4 twice —
    * every projected column an exact BIGINT (HUGEINT sums re-cast). */
  private val modularitySql: String =
    s"""WITH $lpaCtes,
       |deg AS (SELECT s AS node, COUNT(*) AS dg FROM sym GROUP BY 1),
       |mm AS (SELECT COUNT(*) AS m FROM base),
       |lc AS (SELECT la.label AS community, COUNT(*) AS l_in
       |       FROM base e JOIN l$lpaRounds la ON e.a = la.node
       |                   JOIN l$lpaRounds lb ON e.b = lb.node
       |       WHERE la.label = lb.label GROUP BY 1),
       |ds AS (SELECT label AS community, CAST(COUNT(*) AS BIGINT) AS n_nodes,
       |              CAST(SUM(dg) AS BIGINT) AS d_sum
       |       FROM deg JOIN l$lpaRounds l ON deg.node = l.node GROUP BY 1)
       |SELECT community, n_nodes,
       |  CAST(COALESCE(l_in, 0) AS BIGINT) AS l_in, d_sum,
       |  4 * m * CAST(COALESCE(l_in, 0) AS BIGINT) - d_sum * d_sum AS q_term
       |FROM ds LEFT JOIN lc USING (community) CROSS JOIN mm""".stripMargin

  /** 3-hop deterministic-walk unroll for rel_graph_walks: the same
    * co-purchase base as [[kCoreSql]] (no quantity-filter drift), id-
    * ordered adjacency ranks, and the seeded md5 hop rank replayed per
    * step. */
  private val graphWalksSql: String = {
    val base =
      s"""base AS MATERIALIZED (
         |  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
         |  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
         |  WHERE l1.l_partkey < l2.l_partkey
         |    AND l1.l_quantity > 40 AND l2.l_quantity > 40),
         |sym AS MATERIALIZED (SELECT a AS s, b AS d FROM base
         |                     UNION ALL SELECT b, a FROM base),
         |adj AS MATERIALIZED (SELECT s, d,
         |    CAST(row_number() OVER (PARTITION BY s ORDER BY d) AS BIGINT)
         |      AS rn FROM sym),
         |degs AS MATERIALIZED (SELECT s, CAST(COUNT(*) AS BIGINT) AS deg
         |                      FROM sym GROUP BY 1),
         |w0 AS (SELECT s AS start_node, s AS cur FROM degs)""".stripMargin
    val hops = (1 to 3).map { t =>
      val prev = (1 until t).map(i => s"w${t - 1}.n$i, ").mkString
      s"""w$t AS MATERIALIZED (SELECT w${t - 1}.start_node, ${prev}adj.d AS n$t,
         |    adj.d AS cur
         |  FROM w${t - 1}
         |  JOIN degs ON degs.s = w${t - 1}.cur
         |  JOIN adj ON adj.s = w${t - 1}.cur
         |    AND adj.rn = CAST('0x' || substr(md5('walk|$t|' ||
         |      CAST(w${t - 1}.cur AS VARCHAR)), 1, 8) AS BIGINT)
         |      % degs.deg + 1)""".stripMargin
    }
    s"""WITH $base,
       |${hops.mkString(",\n")}
       |SELECT start_node, n1, n2, n3 FROM w3""".stripMargin
  }

  /** 3-round personalized-PageRank unroll (seed-restricted teleport,
    * same fixed-point constants as the evt_pagerank twin). */
  private val pprSeedsSql: String = {
    val scale = 1000000000L
    val base =
      s"""base AS MATERIALIZED (
         |  SELECT l1.l_partkey AS a, l2.l_partkey AS b,
         |    CAST(COUNT(*) AS BIGINT) AS w
         |  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
         |  WHERE l1.l_partkey < l2.l_partkey
         |    AND l1.l_quantity > 40 AND l2.l_quantity > 40
         |  GROUP BY 1, 2),
         |ed AS MATERIALIZED (SELECT a AS src, b AS dst, w FROM base
         |                    UNION ALL SELECT b, a, w FROM base),
         |outw AS MATERIALIZED (SELECT src, CAST(SUM(w) AS BIGINT) AS out_w
         |                      FROM ed GROUP BY 1),
         |sd AS MATERIALIZED (SELECT node,
         |    node IN (SELECT p_partkey FROM part WHERE p_size = 50) AS is_seed
         |  FROM (SELECT DISTINCT src AS node FROM ed)),
         |-- GREATEST(.,1) mirrors the engine's max(nSeeds,1) guard: an
         |-- empty seed set must yield an empty result, not a div-by-zero
         |ns AS (SELECT GREATEST(CAST(COUNT(*) AS BIGINT), 1) AS n
         |       FROM sd WHERE is_seed),
         |r0 AS (SELECT node, is_seed,
         |    CASE WHEN is_seed THEN CAST($scale AS BIGINT) // (SELECT n FROM ns)
         |         ELSE CAST(0 AS BIGINT) END AS rank
         |  FROM sd)""".stripMargin
    val rounds = (1 to 3).map { i =>
      s"""c$i AS (
         |  SELECT e.dst AS node,
         |    CAST(SUM(r.rank * 85 * e.w // (100 * o.out_w)) AS BIGINT) AS in_c
         |  FROM r${i - 1} r JOIN ed e ON r.node = e.src
         |  JOIN outw o ON e.src = o.src GROUP BY 1),
         |r$i AS MATERIALIZED (
         |  SELECT s.node, s.is_seed,
         |    CASE WHEN s.is_seed THEN CAST(${scale * 15} AS BIGINT)
         |           // (100 * (SELECT n FROM ns)) ELSE CAST(0 AS BIGINT) END
         |      + COALESCE(c$i.in_c, 0) AS rank
         |  FROM sd s LEFT JOIN c$i ON c$i.node = s.node)""".stripMargin
    }
    s"""WITH ${(base +: rounds).mkString(",\n")}
       |SELECT node AS part_node, CAST(rank AS BIGINT) AS rank
       |FROM r3 WHERE rank > 0""".stripMargin
  }

  /** Shared oracle CTE chain of the KLL quantile-sketch rows —
    * hash/levels/populations/survivors/estimates, mirroring the
    * ungrouped (`groupCols = Nil`) [[graft.operators.Sketch.kllLeveled]]
    * → `kllCounts`/`kllSurvivors` → `kllQuantiles` chain constants
    * exactly (level CASE generated from the same maxL; bucket slice hex
    * 1-4, tiebreak slice hex 5-19 — disjoint); `kllQuantilesServing`
    * produces the same estimates. Ends in `kest(q_permille,
    * sample_level, sample_n, est_cents)`; `kb(v, …)` stays in scope for
    * the error row's exact CDF side. Parameterized by the probe grid:
    * the merge rows replay the WHOLE-corpus sketch at [[KllMergeQs]] /
    * [[KllDiskQs]] — the oracle side of the cross-engine merge-law
    * proof. */
  private def kllCtes(qs: Seq[Int] = KllQs): String = {
    val maxL = Sketch.KllMaxLevel
    val lvlCase = (maxL to 1 by -1)
      .map(l => s"WHEN b % ${1L << l} = 0 THEN $l")
      .mkString("CASE ", " ", " ELSE 0 END")
    s"""kh AS MATERIALIZED (
       |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
       |    md5('kll|' || concat_ws('|', l_orderkey, l_linenumber,
       |                            l_partkey, l_suppkey)) AS m
       |  FROM lineitem),
       |kb AS MATERIALIZED (
       |  SELECT v, $lvlCase AS toplvl,
       |    CAST('0x' || substr(m, 5, 15) AS BIGINT) AS h2
       |  FROM (SELECT v, m, CAST('0x' || substr(m, 1, 4) AS BIGINT) AS b
       |        FROM kh)),
       |lv AS MATERIALIZED (
       |  SELECT ls.l, kb.v, kb.h2
       |  FROM kb JOIN (SELECT unnest(range(0, ${maxL + 1})) AS l) ls
       |    ON ls.l <= kb.toplvl),
       |cnt AS (SELECT l, CAST(COUNT(*) AS BIGINT) AS n FROM lv
       |        GROUP BY 1),
       |lsr AS (SELECT COALESCE(MIN(CASE WHEN n <= $KllCap THEN l END),
       |                        MAX(l)) AS l_star FROM cnt),
       |kept AS (SELECT l, v, h2 FROM (
       |  SELECT l, v, h2,
       |    ROW_NUMBER() OVER (PARTITION BY l ORDER BY h2, v) AS rn
       |  FROM lv) WHERE rn <= $KllCap),
       |sam AS (SELECT v, h2 FROM kept CROSS JOIN lsr
       |        WHERE kept.l = lsr.l_star),
       |sr AS (
       |  SELECT v, ROW_NUMBER() OVER (ORDER BY v, h2) AS rn,
       |    CAST(COUNT(*) OVER () AS BIGINT) AS ns FROM sam),
       |kest AS MATERIALIZED (
       |  SELECT CAST(q AS BIGINT) AS q_permille,
       |    CAST(l_star AS BIGINT) AS sample_level,
       |    ns AS sample_n, v AS est_cents
       |  FROM sr CROSS JOIN lsr
       |  CROSS JOIN (SELECT unnest([${qs.mkString(", ")}]) AS q) qs
       |  WHERE rn = (q * ns + 999) // 1000)""".stripMargin
  }

  /** Group-keyed twin of [[kllCtes]] (return-flag grain, the same
    * chain with `groupCols = Seq("flag")`), ending in
    * `gkest(flag, q_permille, sample_level, sample_n, est_cents)`. */
  private val kllGrpCtes: String = {
    val maxL = Sketch.KllMaxLevel
    val lvlCase = (maxL to 1 by -1)
      .map(l => s"WHEN b % ${1L << l} = 0 THEN $l")
      .mkString("CASE ", " ", " ELSE 0 END")
    s"""gkb AS MATERIALIZED (
       |  SELECT flag, v, $lvlCase AS toplvl,
       |    CAST('0x' || substr(m, 5, 15) AS BIGINT) AS h2
       |  FROM (SELECT flag, v, m,
       |          CAST('0x' || substr(m, 1, 4) AS BIGINT) AS b
       |        FROM (SELECT l_returnflag AS flag,
       |                CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
       |                md5('kll|' || concat_ws('|', l_orderkey,
       |                  l_linenumber, l_partkey, l_suppkey)) AS m
       |              FROM lineitem))),
       |glv AS MATERIALIZED (
       |  SELECT gkb.flag, ls.l, gkb.v, gkb.h2
       |  FROM gkb JOIN (SELECT unnest(range(0, ${maxL + 1})) AS l) ls
       |    ON ls.l <= gkb.toplvl),
       |gcnt AS (SELECT flag, l, CAST(COUNT(*) AS BIGINT) AS n
       |         FROM glv GROUP BY 1, 2),
       |glsr AS (SELECT flag,
       |    COALESCE(MIN(CASE WHEN n <= $KllCap THEN l END), MAX(l))
       |      AS l_star
       |  FROM gcnt GROUP BY 1),
       |gkept AS (SELECT flag, l, v, h2 FROM (
       |  SELECT flag, l, v, h2,
       |    ROW_NUMBER() OVER (PARTITION BY flag, l ORDER BY h2, v) AS rn
       |  FROM glv) WHERE rn <= $KllCap),
       |gsam AS (SELECT k.flag, k.v, k.h2
       |  FROM gkept k JOIN glsr ON k.flag = glsr.flag
       |  WHERE k.l = glsr.l_star),
       |gsr AS (SELECT flag, v,
       |    ROW_NUMBER() OVER (PARTITION BY flag ORDER BY v, h2) AS rn,
       |    CAST(COUNT(*) OVER (PARTITION BY flag) AS BIGINT) AS ns
       |  FROM gsam),
       |gkest AS (
       |  SELECT gsr.flag, CAST(q AS BIGINT) AS q_permille,
       |    CAST(l_star AS BIGINT) AS sample_level,
       |    ns AS sample_n, v AS est_cents
       |  FROM gsr JOIN glsr ON gsr.flag = glsr.flag
       |  CROSS JOIN (SELECT unnest([${KllQs.mkString(", ")}]) AS q) qs
       |  WHERE rn = (q * ns + 999) // 1000)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "rel_ppr_seeds" -> pprSeedsSql,
    "rel_skyline" ->
      s"""SELECT p_partkey, p_name, p_retailprice,
         |  CAST(p_size AS BIGINT) AS p_size
         |FROM part a WHERE NOT EXISTS (
         |  SELECT 1 FROM part b
         |  WHERE b.p_retailprice <= a.p_retailprice
         |    AND b.p_size >= a.p_size
         |    AND (b.p_retailprice < a.p_retailprice
         |         OR b.p_size > a.p_size))""".stripMargin,
    "rel_graph_walks" -> graphWalksSql,
    "rel_fuzzy_match" ->
      s"""WITH names AS MATERIALIZED (
         |  SELECT p_name, CAST(COUNT(*) AS BIGINT) AS n_parts,
         |    string_split(p_name, ' ')[-1] AS noun
         |  FROM part GROUP BY 1)
         |SELECT a.noun, a.p_name AS name_a, b.p_name AS name_b,
         |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist,
         |  a.n_parts * b.n_parts AS n_pairs
         |FROM names a JOIN names b
         |  ON a.noun = b.noun AND a.p_name < b.p_name
         |WHERE levenshtein(a.p_name, b.p_name) <= 3""".stripMargin,
    "rel_fuzzy_clusters" ->
      s"""WITH RECURSIVE names AS MATERIALIZED (
         |  SELECT p_name, CAST(COUNT(*) AS BIGINT) AS n_parts,
         |    string_split(p_name, ' ')[-1] AS noun
         |  FROM part GROUP BY 1),
         |pairs AS MATERIALIZED (
         |  SELECT a.p_name AS na, b.p_name AS nb
         |  FROM names a JOIN names b ON a.noun = b.noun AND a.p_name < b.p_name
         |  WHERE levenshtein(a.p_name, b.p_name) <= 3),
         |edges AS (SELECT na AS s, nb AS d FROM pairs
         |          UNION SELECT nb, na FROM pairs),
         |nodes AS (SELECT DISTINCT s AS id FROM edges),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.d, reach.r FROM reach JOIN edges e ON e.s = reach.id),
         |clusters AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY 1)
         |SELECT names.p_name,
         |  COALESCE(clusters.cluster_id, names.p_name) AS canonical_name,
         |  n_parts
         |FROM names LEFT JOIN clusters ON names.p_name = clusters.id""".stripMargin,
    "rel_kcore" -> kCoreSql,
    "rel_label_prop" -> labelPropSql,
    "rel_modularity" -> modularitySql,
    "rel_clustering_coeff" ->
      s"""WITH ps AS (
         |  SELECT DISTINCT l_partkey, l_shipdate, l_suppkey FROM lineitem),
         |e AS MATERIALIZED (
         |  SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
         |  FROM ps a JOIN ps b
         |  ON a.l_partkey = b.l_partkey AND a.l_shipdate = b.l_shipdate
         |  WHERE a.l_suppkey < b.l_suppkey),
         |deg AS MATERIALIZED (
         |  SELECT x, COUNT(*) AS d FROM (
         |    SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e)
         |  GROUP BY 1),
         |tri AS MATERIALIZED (
         |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
         |  FROM e e1 JOIN e e2 ON e1.v = e2.u
         |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
         |tc AS (
         |  SELECT x, COUNT(*) AS nt FROM (
         |    SELECT a AS x FROM tri UNION ALL SELECT b FROM tri
         |    UNION ALL SELECT c FROM tri) GROUP BY 1)
         |SELECT deg.x AS node, CAST(d AS BIGINT) AS deg,
         |  CAST(COALESCE(nt, 0) AS BIGINT) AS n_tri,
         |  CAST(CASE WHEN d >= 2
         |       THEN 2 * COALESCE(nt, 0) * 1000000 // (d * (d - 1))
         |       ELSE 0 END AS BIGINT) AS lcc_ppm
         |FROM deg LEFT JOIN tc ON deg.x = tc.x""".stripMargin,
    "rel_link_predict" ->
      s"""WITH base AS MATERIALIZED (
         |  SELECT DISTINCT l1.l_partkey AS u, l2.l_partkey AS v
         |  FROM lineitem l1 JOIN lineitem l2
         |    ON l1.l_orderkey = l2.l_orderkey
         |  WHERE l1.l_partkey < l2.l_partkey
         |    AND l1.l_quantity > 40 AND l2.l_quantity > 40),
         |sym AS MATERIALIZED (
         |  SELECT u AS ctr, v AS nb FROM base
         |  UNION ALL SELECT v, u FROM base),
         |deg AS MATERIALIZED (
         |  SELECT ctr AS x, COUNT(*) AS d FROM sym GROUP BY 1),
         |capped AS MATERIALIZED (
         |  SELECT s.ctr, s.nb FROM sym s JOIN deg ON s.ctr = deg.x
         |  WHERE deg.d <= 128),
         |cn AS (
         |  SELECT s1.nb AS u, s2.nb AS v, COUNT(*) AS n_common
         |  FROM capped s1 JOIN capped s2 ON s1.ctr = s2.ctr
         |  WHERE s1.nb < s2.nb GROUP BY 1, 2),
         |cand AS (
         |  SELECT cn.u, cn.v, cn.n_common FROM cn
         |  LEFT JOIN base ON cn.u = base.u AND cn.v = base.v
         |  WHERE base.u IS NULL)
         |SELECT c.u, c.v, CAST(c.n_common AS BIGINT) AS n_common,
         |  CAST(du.d AS BIGINT) AS deg_u, CAST(dv.d AS BIGINT) AS deg_v,
         |  CAST(c.n_common * 1000000 // (du.d + dv.d - c.n_common)
         |       AS BIGINT) AS jaccard_ppm
         |FROM cand c JOIN deg du ON c.u = du.x JOIN deg dv ON c.v = dv.x
         |ORDER BY n_common DESC, jaccard_ppm DESC, c.u, c.v
         |LIMIT 50""".stripMargin,
    "rel_gini_split" ->
      s"""WITH f AS (
         |  SELECT 'quantity' AS feature,
         |    CAST(round(l_quantity * 100) AS BIGINT) AS v,
         |    l_returnflag AS cls FROM lineitem
         |  UNION ALL
         |  SELECT 'discount', CAST(round(l_discount * 100) AS BIGINT),
         |    l_returnflag FROM lineitem),
         |byv AS (SELECT feature, v,
         |  CAST(SUM(CASE WHEN cls = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS a,
         |  CAST(SUM(CASE WHEN cls = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS b,
         |  CAST(SUM(CASE WHEN cls = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS c
         |  FROM f GROUP BY 1, 2),
         |cum AS (SELECT feature, v,
         |  CAST(SUM(a) OVER (PARTITION BY feature ORDER BY v) AS BIGINT) AS la,
         |  CAST(SUM(b) OVER (PARTITION BY feature ORDER BY v) AS BIGINT) AS lb,
         |  CAST(SUM(c) OVER (PARTITION BY feature ORDER BY v) AS BIGINT) AS lc,
         |  CAST(SUM(a) OVER (PARTITION BY feature) AS BIGINT) AS ta,
         |  CAST(SUM(b) OVER (PARTITION BY feature) AS BIGINT) AS tb,
         |  CAST(SUM(c) OVER (PARTITION BY feature) AS BIGINT) AS tc
         |  FROM byv),
         |sides AS (SELECT feature, v, la, lb, lc,
         |  ta - la AS ra, tb - lb AS rb, tc - lc AS rc,
         |  la + lb + lc AS nl,
         |  (ta - la) + (tb - lb) + (tc - lc) AS nr
         |  FROM cum),
         |g AS (SELECT feature, v AS threshold_c,
         |  nl AS n_left, nr AS n_right,
         |  CAST((nl*nl - la*la - lb*lb - lc*lc) * 1000000
         |         // (nl * (nl + nr)) +
         |       (nr*nr - ra*ra - rb*rb - rc*rc) * 1000000
         |         // (nr * (nl + nr)) AS BIGINT) AS wgini_ppm
         |  FROM sides WHERE nr > 0)
         |SELECT feature, threshold_c, n_left, n_right, wgini_ppm,
         |  CAST(row_number() OVER (PARTITION BY feature
         |    ORDER BY wgini_ppm ASC, threshold_c ASC) AS BIGINT) AS rk
         |FROM g""".stripMargin,
    "rel_dq_rules" ->
      s"""WITH li AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS v1,
         |    CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1
         |      THEN 1 ELSE 0 END) AS BIGINT) AS v2,
         |    CAST(SUM(CASE WHEN l_tax < 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS v3
         |  FROM lineitem),
         |lo AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS v1,
         |    CAST(SUM(CASE WHEN l.l_shipdate < o.o_orderdate
         |      THEN 1 ELSE 0 END) AS BIGINT) AS v2
         |  FROM lineitem l LEFT JOIN orders o
         |    ON l.l_orderkey = o.o_orderkey),
         |oc AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS v1,
         |    CAST(SUM(CASE WHEN o.o_totalprice <= 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS v2
         |  FROM orders o LEFT JOIN customer c
         |    ON o.o_custkey = c.c_custkey),
         |dup AS (
         |  SELECT CAST(SUM(k) AS BIGINT) AS n,
         |    CAST(SUM(k - 1) AS BIGINT) AS v1
         |  FROM (SELECT COUNT(*) AS k FROM orders GROUP BY o_orderkey)),
         |r AS (
         |  SELECT 'lineitem_qty_nonpositive' AS rule, n AS n_checked,
         |    v1 AS n_violations FROM li
         |  UNION ALL SELECT 'lineitem_discount_range', n, v2 FROM li
         |  UNION ALL SELECT 'lineitem_tax_negative', n, v3 FROM li
         |  UNION ALL SELECT 'lineitem_orphan_order', n, v1 FROM lo
         |  UNION ALL SELECT 'lineitem_ship_before_order', n, v2 FROM lo
         |  UNION ALL SELECT 'orders_orphan_customer', n, v1 FROM oc
         |  UNION ALL SELECT 'orders_price_nonpositive', n, v2 FROM oc
         |  UNION ALL SELECT 'orders_duplicate_pk', n, v1 FROM dup)
         |SELECT rule, n_checked, n_violations,
         |  CAST(n_violations * 1000000 // n_checked AS BIGINT)
         |    AS violation_ppm
         |FROM r""".stripMargin,
    "rel_k_anonymity" ->
      s"""WITH f AS (
         |  SELECT 'nation_seg_bal' AS level,
         |    concat_ws('|', c_nationkey, c_mktsegment,
         |      (CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 100000)
         |      AS qid
         |  FROM customer
         |  UNION ALL
         |  SELECT 'nation_seg',
         |    concat_ws('|', c_nationkey, c_mktsegment) FROM customer
         |  UNION ALL
         |  SELECT 'nation', CAST(c_nationkey AS VARCHAR) FROM customer),
         |g AS (SELECT level, qid, CAST(COUNT(*) AS BIGINT) AS gsz
         |      FROM f GROUP BY 1, 2)
         |SELECT level, CAST(COUNT(*) AS BIGINT) AS n_groups,
         |  CAST(MIN(gsz) AS BIGINT) AS k_anonymity,
         |  CAST(SUM(CASE WHEN gsz < 10 THEN gsz ELSE 0 END) AS BIGINT)
         |    AS rows_at_risk,
         |  CAST(SUM(CASE WHEN gsz < 10 THEN gsz ELSE 0 END) * 1000
         |    // SUM(gsz) AS BIGINT) AS risk_permille
         |FROM g GROUP BY 1""".stripMargin,
    "rel_chisq_independence" ->
      s"""WITH f AS (
         |  SELECT 'flag_status' AS pair, l_returnflag AS x,
         |    l_linestatus AS y FROM lineitem
         |  UNION ALL
         |  SELECT 'flag_year', l_returnflag,
         |    CAST(year(l_shipdate) AS VARCHAR) FROM lineitem),
         |cells AS (SELECT pair, x, y, CAST(COUNT(*) AS BIGINT) AS o
         |          FROM f GROUP BY 1, 2, 3),
         |w AS (SELECT pair, x, y, o,
         |  CAST(SUM(o) OVER (PARTITION BY pair, x) AS BIGINT) AS rr,
         |  CAST(SUM(o) OVER (PARTITION BY pair, y) AS BIGINT) AS cc,
         |  CAST(SUM(o) OVER (PARTITION BY pair) AS BIGINT) AS n
         |  FROM cells),
         |g AS (SELECT pair, x, y, o AS n_obs,
         |  CAST(CAST(n*o - rr*cc AS HUGEINT) * (n*o - rr*cc) * 1000000
         |    // (CAST(n AS HUGEINT) * rr * cc) AS BIGINT) AS chi_ppm
         |  FROM w)
         |SELECT pair, x, y, n_obs, chi_ppm,
         |  CAST(SUM(chi_ppm) OVER (PARTITION BY pair) AS BIGINT)
         |    AS chi_total_ppm
         |FROM g""".stripMargin,
    "rel_profile_columns" -> {
      val branches = ProfiledCols.map(c =>
        s"SELECT '$c' AS col_name, CAST($c AS DOUBLE) AS v FROM lineitem")
      s"""WITH u AS (
         |${branches.mkString("", "\nUNION ALL\n", "")})
         |SELECT col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(COUNT(*) - COUNT(v) AS BIGINT) AS n_null,
         |  CAST(COUNT(DISTINCT v) AS BIGINT) AS ndv,
         |  MIN(v) AS min_v, MAX(v) AS max_v,
         |  ${Canon.sqlToDouble("SUM(CAST(v AS DECIMAL(38,4)))")} AS sum_v
         |FROM u GROUP BY col_name""".stripMargin
    },
    "rel_approx_pct_bound" ->
      s"""SELECT l_returnflag,
         |percentile_cont(0.25) WITHIN GROUP (ORDER BY l_extendedprice)
         |  AS exact_p25, TRUE AS p25_in_bound,
         |percentile_cont(0.5) WITHIN GROUP (ORDER BY l_extendedprice)
         |  AS exact_p50, TRUE AS p50_in_bound,
         |percentile_cont(0.9) WITHIN GROUP (ORDER BY l_extendedprice)
         |  AS exact_p90, TRUE AS p90_in_bound
         |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "rel_triangle_count" ->
      s"""WITH ps AS (
         |  SELECT DISTINCT l_partkey, l_shipdate, l_suppkey FROM lineitem),
         |e AS (
         |  SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
         |  FROM ps a JOIN ps b
         |  ON a.l_partkey = b.l_partkey AND a.l_shipdate = b.l_shipdate
         |  WHERE a.l_suppkey < b.l_suppkey),
         |deg AS (
         |  SELECT x, COUNT(*) AS d FROM (
         |    SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e)
         |  GROUP BY 1)
         |SELECT
         |  (SELECT COUNT(*) FROM deg) AS n_vertices,
         |  (SELECT COUNT(*) FROM e) AS n_edges,
         |  (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) FROM deg)
         |    AS n_wedges,
         |  (SELECT COUNT(*)
         |   FROM e e1 JOIN e e2 ON e1.v = e2.u
         |   JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v) AS n_triangles""".stripMargin,
    "rel_array_funcs" ->
      s"""SELECT l_orderkey,
         |CAST(len(qtys) AS INTEGER) AS n_lines,
         |${sqlToDouble("qtys[1]")} AS max_qty,
         |array_to_string(list_transform(qtys[1:3],
         |  x_ -> CAST(x_ AS VARCHAR)), ',') AS top3_qty,
         |CAST(len(list_filter(qtys, x_ -> x_ > 30)) AS INTEGER) AS n_big,
         |${sqlToDouble("total_dec")} AS total_qty,
         |list_contains(qtys, 1) AS has_single
         |FROM (SELECT l_orderkey,
         |        list_sort(list(${sqlDec("l_quantity")}), 'DESC') AS qtys,
         |        SUM(${sqlDec("l_quantity")}) AS total_dec
         |      FROM lineitem GROUP BY 1)""".stripMargin,
    "rel_merge_join" ->
      s"""SELECT c_mktsegment, COUNT(*) AS n_orders,
         |${sqlSum("o_totalprice")} AS sum_price
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY c_mktsegment""".stripMargin,
    "rel_not_in_nulls" ->
      s"""SELECT
         |  (SELECT COUNT(*) FROM orders
         |   WHERE o_orderpriority NOT IN (
         |     SELECT nullif(o_orderpriority, '5-LOW') FROM orders
         |     WHERE o_totalprice > 90000)) AS n_not_in_nullable,
         |  (SELECT COUNT(*) FROM orders o1
         |   WHERE NOT EXISTS (
         |     SELECT 1 FROM orders o2 WHERE o2.o_totalprice > 90000
         |     AND nullif(o2.o_orderpriority, '5-LOW') = o1.o_orderpriority))
         |    AS n_not_exists""".stripMargin,
    "rel_zorder_locality" -> {
      val z = graft.operators.Layout.zorderSqlExpr(
        "l_partkey % 65536", "l_suppkey % 65536")
      s"""SELECT (zkey >> 14) AS zbucket, COUNT(*) AS n_lines,
         |MIN(pm) AS min_p, MAX(pm) AS max_p,
         |MIN(sm) AS min_s, MAX(sm) AS max_s
         |FROM (SELECT $z AS zkey, (l_partkey % 65536) AS pm,
         |        (l_suppkey % 65536) AS sm
         |      FROM lineitem)
         |GROUP BY 1""".stripMargin
    },
    "rel_waiting_supplier" ->
      s"""WITH lo AS (
         |  SELECT l_orderkey, l_suppkey,
         |    CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
         |      THEN 1 ELSE 0 END AS is_late
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |per_supp AS (
         |  SELECT l_orderkey, l_suppkey, MAX(is_late) AS supp_late
         |  FROM lo GROUP BY 1, 2),
         |per_order AS (
         |  SELECT l_orderkey, COUNT(*) AS n_supp, SUM(supp_late) AS n_late
         |  FROM per_supp GROUP BY 1)
         |SELECT s_name, COUNT(*) AS n_waiting_orders
         |FROM per_supp JOIN per_order USING (l_orderkey)
         |JOIN supplier ON l_suppkey = s_suppkey
         |WHERE supp_late = 1 AND n_supp >= 2 AND n_late = 1
         |GROUP BY s_name""".stripMargin,
    "rel_udaf_weighted" ->
      s"""SELECT l_returnflag,
         |CASE WHEN SUM(CAST(round(l_discount * 10000) AS BIGINT)) = 0
         |  THEN 0.0
         |  ELSE (CAST(SUM(CAST(round(l_quantity * l_discount * 100000000)
         |          AS BIGINT)) AS DOUBLE) / 100000000.0)
         |     / (CAST(SUM(CAST(round(l_discount * 10000) AS BIGINT))
         |          AS DOUBLE) / 10000.0) END AS w_mean_qty,
         |COUNT(*) AS n_lines
         |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "rel_min_cost_supplier" ->
      s"""WITH ps AS (
         |  SELECT l_partkey, l_suppkey,
         |    MIN(l_extendedprice / l_quantity) AS unit_cost
         |  FROM lineitem GROUP BY 1, 2),
         |mn AS (SELECT l_partkey, MIN(unit_cost) AS min_cost
         |       FROM ps GROUP BY 1)
         |SELECT p_partkey, s_name, n_name, unit_cost
         |FROM ps JOIN mn USING (l_partkey)
         |JOIN part ON l_partkey = p_partkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |WHERE unit_cost = min_cost AND p_size < 10""".stripMargin,
    "rel_nation_volume" ->
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |CAST(year(l_shipdate) AS INTEGER) AS l_year,
         |$revenueSql AS revenue, COUNT(*) AS n_lines
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         |   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
         |GROUP BY 1, 2, 3""".stripMargin,
    "rel_product_profit" ->
      s"""SELECT n_name, CAST(year(o_orderdate) AS INTEGER) AS o_year,
         |$revenueSql - ${sqlSumProd("p_retailprice", "l_quantity")} * 0.1
         |  AS profit,
         |COUNT(*) AS n_lines
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |WHERE p_type = 'PROMO'
         |GROUP BY 1, 2""".stripMargin,
    "rel_top_supplier" ->
      s"""WITH rev AS (
         |  SELECT l_suppkey,
         |    SUM(${sqlDec("l_extendedprice")} * ${sqlDec("(1.0 - l_discount)")})
         |      AS rev_dec
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
         |    AND l_shipdate < TIMESTAMP '1997-04-01'
         |  GROUP BY 1)
         |SELECT s_suppkey, s_name, ${sqlToDouble("rev_dec")} AS total_rev
         |FROM rev JOIN supplier ON l_suppkey = s_suppkey
         |WHERE rev_dec = (SELECT MAX(rev_dec) FROM rev)""".stripMargin,
    "rel_big_orders" ->
      s"""SELECT c_name, o_orderkey, o_orderdate, o_totalprice,
         |${sqlToDouble("qty_dec")} AS sum_qty
         |FROM (SELECT l_orderkey, SUM(${sqlDec("l_quantity")}) AS qty_dec
         |      FROM lineitem GROUP BY 1)
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE qty_dec > 300""".stripMargin,
    "rel_idle_customers" ->
      s"""SELECT n_name, COUNT(*) AS n_customers,
         |${sqlSum("c_acctbal")} AS sum_acctbal
         |FROM customer JOIN nation ON c_nationkey = n_nationkey
         |WHERE c_acctbal > (SELECT ${sqlAvg("c_acctbal")} FROM customer)
         |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
         |                  AND o_orderdate >= TIMESTAMP '1999-01-01')
         |GROUP BY n_name""".stripMargin,
    "rel_division" ->
      s"""WITH pairs AS (
         |  SELECT DISTINCT l_suppkey, c_mktsegment
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  WHERE l_discount >= 0.09
         |    AND l_shipdate >= TIMESTAMP '1997-01-01'
         |    AND l_shipdate < TIMESTAMP '1997-04-01')
         |SELECT s_suppkey, s_name,
         |  COUNT(DISTINCT c_mktsegment) AS n_segments
         |FROM pairs JOIN supplier ON l_suppkey = s_suppkey
         |GROUP BY 1, 2
         |HAVING COUNT(DISTINCT c_mktsegment) =
         |  (SELECT COUNT(DISTINCT c_mktsegment) FROM customer)""".stripMargin,
    "rel_grouping_sets" ->
      s"""SELECT l_returnflag, l_linestatus,
         |${sqlSum("l_quantity")} AS sum_qty, COUNT(*) AS n_lines
         |FROM lineitem
         |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))""".stripMargin,
    "rel_null_semantics" ->
      s"""SELECT l_returnflag, COUNT(*) AS n_rows, COUNT(d) AS n_nonnull,
         |${sqlSum("d")} / COUNT(d) AS avg_nonzero_disc,
         |${sqlSum("COALESCE(d, 0.0)")} AS sum_coalesced,
         |CAST(SUM(CASE WHEN d IS NOT DISTINCT FROM NULL THEN 1 ELSE 0 END)
         |  AS BIGINT) AS n_nullsafe_eq_null
         |FROM (SELECT l_returnflag, NULLIF(l_discount, 0) AS d FROM lineitem)
         |GROUP BY l_returnflag""".stripMargin,
    "rel_set_ops_all" ->
      s"""WITH a AS (SELECT l_suppkey FROM lineitem
         |           WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         |             AND l_shipdate < TIMESTAMP '1996-03-01'),
         |b AS (SELECT l_suppkey FROM lineitem
         |      WHERE l_shipdate >= TIMESTAMP '1996-03-01'
         |        AND l_shipdate < TIMESTAMP '1996-05-01')
         |SELECT op, l_suppkey, COUNT(*) AS n FROM (
         |  SELECT l_suppkey, 'except_all' AS op
         |  FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
         |  UNION ALL
         |  SELECT l_suppkey, 'intersect_all' AS op
         |  FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b))
         |GROUP BY op, l_suppkey""".stripMargin,
    "rel_percentiles" ->
      s"""SELECT l_returnflag,
         |percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity) AS p50_qty,
         |percentile_cont(0.9) WITHIN GROUP (ORDER BY l_quantity) AS p90_qty
         |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "rel_cube_sales" ->
      s"""SELECT l_returnflag, l_linestatus,
         |${sqlSum("l_extendedprice")} AS sum_price, COUNT(*) AS n_lines,
         |CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
         |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,
    "rel_above_avg_orders" ->
      s"""SELECT o_orderstatus, COUNT(*) AS n_orders,
         |${sqlSum("o_totalprice")} AS sum_price
         |FROM orders
         |WHERE o_totalprice > (SELECT ${sqlAvg("o_totalprice")} FROM orders)
         |GROUP BY o_orderstatus""".stripMargin,
    "rel_moment_stats" -> momentsSql,
    "rel_salted_agg" ->
      s"""SELECT l_returnflag, COUNT(*) AS n_lines,
         |${sqlSum("l_quantity")} AS sum_qty
         |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "rel_string_funcs" ->
      s"""SELECT p_partkey, upper(p_brand) AS brand_upper,
         |substr(p_type, 1, 5) AS type_prefix,
         |CAST(length(p_name) AS INTEGER) AS name_len,
         |concat_ws('/', p_brand, p_type) AS brand_type,
         |CAST(regexp_extract(p_brand, '#(\\d+)', 1) AS INTEGER) AS brand_num,
         |(p_type LIKE '%BRUSHED%') AS is_brushed
         |FROM part""".stripMargin,
    "rel_date_funcs" ->
      s"""SELECT CAST(year(o_orderdate) AS INTEGER) AS y,
         |CAST(quarter(o_orderdate) AS INTEGER) AS q,
         |COUNT(*) AS n_orders,
         |COUNT(DISTINCT month(o_orderdate)) AS n_months,
         |CAST(MAX(dayofmonth(o_orderdate)) AS INTEGER) AS max_dom
         |FROM orders GROUP BY 1, 2""".stripMargin,
    "rel_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |${sqlSum("l_quantity")} AS sum_qty,
         |${sqlSum("l_extendedprice")} AS sum_base_price,
         |$revenueSql AS sum_disc_price,
         |${sqlToDouble(s"""SUM(${sqlDec("l_extendedprice")} *
         |  CAST(${sqlDec("(1.0 - l_discount)")} * ${sqlDec("(1.0 + l_tax)")} AS DECIMAL(18,8)))""")}
         |  AS sum_charge,
         |${sqlAvg("l_quantity")} AS avg_qty,
         |${sqlAvg("l_extendedprice")} AS avg_price,
         |${sqlAvg("l_discount")} AS avg_disc,
         |COUNT(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "rel_shipping_priority" ->
      s"""SELECT l_orderkey, o_orderdate, o_orderpriority, $revenueSql AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1998-01-01'
         |  AND l_shipdate > TIMESTAMP '1998-01-01'
         |GROUP BY l_orderkey, o_orderdate, o_orderpriority
         |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin,
    "rel_local_supplier" ->
      s"""SELECT n_name, $revenueSql AS revenue, COUNT(*) AS n_lines
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01'
         |  AND o_orderdate < TIMESTAMP '1998-01-01'
         |GROUP BY n_name""".stripMargin,
    "rel_semi_join" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n_orders,
         |${sqlSum("o_totalprice")} AS sum_price
         |FROM orders WHERE EXISTS (
         |  SELECT 1 FROM lineitem
         |  WHERE l_orderkey = o_orderkey AND l_discount >= 0.08)
         |GROUP BY o_orderpriority""".stripMargin,
    "rel_anti_join" ->
      s"""SELECT c_mktsegment, COUNT(*) AS n_customers,
         |${sqlSum("c_acctbal")} AS sum_acctbal
         |FROM customer WHERE NOT EXISTS (
         |  SELECT 1 FROM orders WHERE o_custkey = c_custkey
         |  AND o_orderdate >= TIMESTAMP '2000-01-01')
         |GROUP BY c_mktsegment""".stripMargin,
    "rel_rollup_sales" ->
      s"""SELECT l_returnflag, l_linestatus,
         |${sqlSum("l_quantity")} AS sum_qty, COUNT(*) AS n_lines
         |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "rel_top_orders_per_customer" ->
      s"""SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
         |  SELECT o_custkey, o_orderkey, o_totalprice,
         |    ROW_NUMBER() OVER (PARTITION BY o_custkey
         |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
         |  FROM orders) WHERE rn <= 3""".stripMargin,
    "rel_running_quantity" ->
      s"""SELECT l_suppkey, l_orderkey,
         |${sqlToDouble("order_qty")} AS order_qty,
         |${sqlToDouble(
             """SUM(order_qty) OVER (
               |  PARTITION BY l_suppkey ORDER BY l_orderkey ASC
               |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin)}
         |  AS running_qty
         |FROM (SELECT l_suppkey, l_orderkey,
         |        SUM(${sqlDec("l_quantity")}) AS order_qty
         |      FROM lineitem GROUP BY 1, 2)""".stripMargin,
    "rel_set_ops" ->
      s"""WITH building AS (
         |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
         |big AS (
         |  SELECT DISTINCT o_custkey AS c_custkey FROM orders
         |  WHERE o_orderdate >= TIMESTAMP '1997-01-01'
         |    AND o_orderdate < TIMESTAMP '1998-01-01'
         |    AND o_totalprice > 10000)
         |SELECT c_custkey, 'intersect' AS op FROM (SELECT * FROM building INTERSECT SELECT * FROM big)
         |UNION ALL
         |SELECT c_custkey, 'except' AS op FROM (SELECT * FROM building EXCEPT SELECT * FROM big)
         |UNION ALL
         |SELECT c_custkey, 'union' AS op FROM (SELECT * FROM building UNION SELECT * FROM big)""".stripMargin,
    // sketch values are engine-specific; the contract hashed here is the
    // exact counts + "Spark's HLL estimate is within 10% of exact"
    // booleans (the oracle asserts TRUE — a drifted sketch flips the
    // hash). 10%, not 5%: at rsd=0.02 a 5% bound is ~2.5σ PER CELL and
    // each verification scale re-rolls the estimate — across 6 cells ×
    // tri-scale the one-in-hundreds flip becomes a realistic gate risk;
    // 10% (~5σ) keeps the row a meaningful quality bound with no
    // realistic false-failure probability.
    "rel_approx_distinct" ->
      s"""SELECT l_returnflag,
         |CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
         |CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS exact_supps,
         |TRUE AS parts_within_10pct,
         |TRUE AS supps_within_10pct
         |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "rel_join_size_est" -> {
      // the same seeded-md5 bucket family as Sketch.cmsBucket
      def cells(table: String, keyCol: String, a: String): String = {
        val b = "CAST('0x' || substr(md5(CAST(r AS VARCHAR) || '|' || k)," +
          " 1, 8) AS BIGINT) % 4096"
        s"""$a AS (
           |  SELECT r, $b AS bucket, COUNT(*) AS n_$a
           |  FROM (SELECT CAST($keyCol AS VARCHAR) AS k FROM $table)
           |  CROSS JOIN rs GROUP BY 1, 2)""".stripMargin
      }
      s"""WITH rs AS (SELECT unnest([0, 1, 2, 3]) AS r),
         |${cells("orders", "o_custkey", "co")},
         |${cells("customer", "c_custkey", "cc")},
         |est AS (
         |  SELECT CAST(MIN(est_r) AS BIGINT) AS est_n FROM (
         |    SELECT a.r, CAST(SUM(a.n_co * b.n_cc) AS BIGINT) AS est_r
         |    FROM co a JOIN cc b ON a.r = b.r AND a.bucket = b.bucket
         |    GROUP BY 1)),
         |exact AS (
         |  SELECT COUNT(*) AS exact_n FROM orders
         |  JOIN customer ON o_custkey = c_custkey)
         |SELECT exact_n, est_n, est_n >= exact_n AS never_underestimates
         |FROM exact CROSS JOIN est""".stripMargin
    },
    "rel_skew_f2_est" ->
      // ONE digest per key; estimator r reads its disjoint 5-hex slice
      // (4 hex bucket, 1 hex sign) — mirrors Sketch.amsF2 exactly
      s"""WITH rs AS (SELECT unnest([0, 1, 2, 3]) AS r),
         |keys AS (SELECT CAST(l_orderkey AS VARCHAR) AS k FROM lineitem),
         |hashed AS (SELECT md5('f2|' || k) AS m FROM keys),
         |cells AS (
         |  SELECT r,
         |    CAST('0x' || substr(m, 5*r + 1, 4) AS BIGINT) % 4096 AS bucket,
         |    CAST(SUM(CASE WHEN CAST('0x' || substr(m, 5*r + 5, 1)
         |        AS INTEGER) % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS cell
         |  FROM hashed CROSS JOIN rs GROUP BY 1, 2),
         |ests AS (SELECT r, CAST(SUM(cell * cell) AS BIGINT) AS est_r
         |         FROM cells GROUP BY 1),
         |est AS (SELECT list(est_r ORDER BY est_r)[2] AS est_f2 FROM ests),
         |exact AS (SELECT CAST(SUM(c * c) AS BIGINT) AS exact_f2 FROM (
         |  SELECT COUNT(*) AS c FROM keys GROUP BY k))
         |SELECT exact_f2, est_f2,
         |  abs(est_f2 - exact_f2) * 5 <= exact_f2 AS within_20pct
         |FROM exact CROSS JOIN est""".stripMargin,
    "rel_kll_quantiles" ->
      s"""WITH ${kllCtes()}
         |SELECT q_permille, sample_level, sample_n, est_cents
         |FROM kest""".stripMargin,
    // the Spark side merges two independently-built parity-shard
    // sketches; the oracle replays the WHOLE-corpus sketch — hash
    // equality IS the cross-engine merge-law proof
    "rel_kll_merge" ->
      s"""WITH ${kllCtes(KllMergeQs)}
         |SELECT q_permille, sample_level, sample_n, est_cents
         |FROM kest""".stripMargin,
    // the Spark side writes each parity shard's sketch state to parquet,
    // reads it back, and merges FROM STORAGE; the oracle is still the
    // whole-corpus replay — hash equality proves the full
    // persist→read→merge path, not just the in-memory merge law
    "rel_kll_merge_disk" ->
      s"""WITH ${kllCtes(KllDiskQs)}
         |SELECT q_permille, sample_level, sample_n, est_cents
         |FROM kest""".stripMargin,
    "rel_kll_error" ->
      s"""WITH ${kllCtes()},
         |cdf AS (
         |  SELECT e.q_permille, e.sample_n, e.est_cents,
         |    CAST(SUM(CASE WHEN kb.v < e.est_cents THEN 1 ELSE 0 END)
         |      * 1000000 // COUNT(*) AS BIGINT) AS lo_ppm,
         |    CAST(SUM(CASE WHEN kb.v <= e.est_cents THEN 1 ELSE 0 END)
         |      * 1000000 // COUNT(*) AS BIGINT) AS hi_ppm,
         |    CAST(floor(5000000 * sqrt(CAST(e.q_permille * (1000 -
         |      e.q_permille) AS DOUBLE) / 1000000.0 /
         |      CAST(e.sample_n AS DOUBLE))) AS BIGINT) +
         |      1000000 // e.sample_n AS bound_ppm
         |  FROM kb CROSS JOIN kest e
         |  GROUP BY e.q_permille, e.sample_n, e.est_cents)
         |SELECT q_permille, sample_n, est_cents, lo_ppm, hi_ppm,
         |  bound_ppm,
         |  q_permille * 1000 >= lo_ppm - bound_ppm AND
         |  q_permille * 1000 <= hi_ppm + bound_ppm AS within_bound
         |FROM cdf""".stripMargin,
    "rel_kll_group_quantiles" ->
      s"""WITH $kllGrpCtes
         |SELECT flag, q_permille, sample_level, sample_n, est_cents
         |FROM gkest""".stripMargin,
    "rel_kmv_intersect" ->
      s"""WITH dk AS (SELECT DISTINCT year(o_orderdate) AS f,
         |                            o_custkey AS p FROM orders),
         |h AS (SELECT f, CAST('0x' || substr(md5(CAST(p AS VARCHAR)),
         |        1, 15) AS BIGINT) AS h FROM dk),
         |kmv AS (SELECT f, h FROM (
         |  SELECT f, h, row_number() OVER (PARTITION BY f ORDER BY h)
         |    AS rn FROM h) WHERE rn <= 256),
         |flags AS (SELECT DISTINCT f FROM dk),
         |pairs AS (SELECT a.f AS fa, b.f AS fb
         |          FROM flags a JOIN flags b ON a.f < b.f),
         |merged AS (SELECT DISTINCT fa, fb, h FROM (
         |  SELECT p2.fa, p2.fb, k.h FROM pairs p2 JOIN kmv k
         |  ON k.f = p2.fa OR k.f = p2.fb)),
         |un AS (SELECT fa, fb, h, row_number() OVER
         |         (PARTITION BY fa, fb ORDER BY h) AS rn FROM merged),
         |unk AS (SELECT fa, fb, MAX(h) AS uk, COUNT(*) AS n_un
         |        FROM un WHERE rn <= 256 GROUP BY 1, 2),
         |rho AS (SELECT u.fa, u.fb, COUNT(*) AS rho FROM un u
         |        JOIN kmv ka ON ka.f = u.fa AND ka.h = u.h
         |        JOIN kmv kb ON kb.f = u.fb AND kb.h = u.h
         |        WHERE u.rn <= 256 GROUP BY 1, 2),
         |est AS (SELECT fa, fb,
         |  CASE WHEN n_un < 256 THEN COALESCE(rho, 0)
         |  ELSE CAST(COALESCE(rho, 0) *
         |    ((255 * CAST(1152921504606846976 AS HUGEINT)) // uk) // 256
         |    AS BIGINT) END AS est_inter
         |  FROM unk LEFT JOIN rho USING (fa, fb)),
         |ex1 AS (SELECT f, COUNT(*) AS n FROM dk GROUP BY 1),
         |exi AS (SELECT a.f AS fa, b.f AS fb, COUNT(*) AS exact_inter
         |        FROM dk a JOIN dk b ON a.p = b.p AND a.f < b.f
         |        GROUP BY 1, 2)
         |SELECT fa, fb, ea.n AS exact_a, eb.n AS exact_b,
         |  exact_inter, est_inter,
         |  abs(est_inter - exact_inter) * 5 <= exact_inter * 2
         |    AS within_40pct
         |FROM exi JOIN ex1 ea ON ea.f = fa JOIN ex1 eb ON eb.f = fb
         |JOIN est USING (fa, fb)""".stripMargin,
    "rel_cc_chain" ->
      s"""SELECT MIN(o_orderkey) AS cluster_id, COUNT(*) AS n_orders
         |FROM orders GROUP BY o_custkey""".stripMargin,
    "rel_distinct_agg" ->
      s"""SELECT c_mktsegment, COUNT(DISTINCT c_nationkey) AS n_nations,
         |COUNT(*) AS n_customers, ${sqlAvg("c_acctbal")} AS avg_acctbal
         |FROM customer GROUP BY c_mktsegment""".stripMargin,
    "rel_top_lineitems" ->
      s"""SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
         |ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
         |LIMIT 20""".stripMargin,
    "rel_customer_order_histogram" ->
      s"""SELECT c_count, COUNT(*) AS n_customers FROM (
         |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
         |  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
         |  GROUP BY c_custkey) GROUP BY c_count""".stripMargin,
  )
}
