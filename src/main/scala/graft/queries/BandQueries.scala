package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{BandStats, Composite}
import graft.sources.Tables
import Canon._

/** Reference-parity band-statistics queries (SURVEY §2.1-2.4, §2.8),
  * fixture-realized per FIXTURES.md §3: fixture group keys stand in for
  * (file, band). */
object BandQueries {

  /** A1: per-(file,band) filtered mean — events (user_id, event_type)
    * realization, nodata filter on value. */
  def bandFileMeans(s: SparkSession, dir: String): DataFrame =
    BandStats.bandFileMeans(Tables.events(s, dir), "user_id", "event_type",
                            "value", exact = true)

  /** Level-1 over lineitem used by the level-2 rollups: per
    * (order, returnflag) exact mean of non-zero discounts (level 2
    * quantizes it to DECIMAL(18,6), as `meansSql` does). */
  private def orderDiscountMeans(s: SparkSession, dir: String): DataFrame =
    BandStats.bandFileMeans(
      Tables.lineitem(s, dir).withColumnRenamed("l_orderkey", "file"),
      "file", "l_returnflag", "l_discount", exact = true)

  private val meansSql =
    s"""SELECT l_orderkey AS file, l_returnflag,
       |CAST(${sqlAvg("l_discount")} AS DECIMAL(18,6)) AS mean_value
       |FROM lineitem WHERE l_discount <> 0 GROUP BY 1, 2""".stripMargin

  /** A2+A3+A4 fused: mean/max/min-of-means in one shuffle. */
  def bandStatsFlagship(s: SparkSession, dir: String): DataFrame =
    BandStats.bandStats(orderDiscountMeans(s, dir), "l_returnflag",
                        exact = true)

  /** A2: mean-of-means alone (collective-mean program semantics). */
  def bandMeanOfMeans(s: SparkSession, dir: String): DataFrame =
    bandStatsFlagship(s, dir).select("l_returnflag", "mean_of_means", "n_files")

  /** A3: max-of-means alone (`band_max_computation.cpp`). */
  def bandMaxOfMeans(s: SparkSession, dir: String): DataFrame =
    bandStatsFlagship(s, dir).select("l_returnflag", "max_of_means")

  /** A4: min-of-means alone — intended (non-buggy) semantics of
    * `band_min_computation.cpp` (SURVEY §2.4). */
  def bandMinOfMeans(s: SparkSession, dir: String): DataFrame =
    bandStatsFlagship(s, dir).select("l_returnflag", "min_of_means")

  /** A1 keep-empty variant: groups whose every value is nodata survive
    * with mean 0.0 (the reference's ternary at
    * band_mean_computation.cpp:45). Values <= 100 are mapped to the
    * nodata sentinel so whole groups actually become empty. */
  def bandFileMeansKeepEmpty(s: SparkSession, dir: String): DataFrame = {
    val shifted = Tables.events(s, dir)
      .withColumn("v", when(col("value") > 100, col("value")).otherwise(lit(0.0)))
    BandStats.bandFileMeansKeepEmpty(shifted, "user_id", "event_type", "v",
                                     exact = true)
  }

  /** Pixel-weighted global mean (single-level) — the correctness foil to
    * mean-of-means. */
  def bandWeightedMean(s: SparkSession, dir: String): DataFrame =
    BandStats.bandWeightedMean(Tables.events(s, dir), "event_type", "value",
                               exact = true)

  /** P3+S3: composite pivot — three chosen event types recombined into
    * per-user (r,g,b)-style columns. Raw max, no arithmetic, so doubles
    * compare exactly. */
  def compositePivot(s: SparkSession, dir: String): DataFrame =
    Composite.pivotBands(Tables.events(s, dir), Seq("user_id"), "event_type",
                         "value",
                         Seq("purchase" -> "r", "click" -> "g", "view" -> "b"))

  /** The same recombination through Spark's first-class `.pivot()`
    * operator (explicit value list → static schema, no driver-side
    * distinct pass; SURVEY §3.3). */
  def compositePivotDynamic(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("event_type").isin("purchase", "click", "view"))
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("purchase", "click", "view"))
      .agg(max(col("value")))
      .withColumnRenamed("purchase", "r")
      .withColumnRenamed("click", "g")
      .withColumnRenamed("view", "b")

  /** Multi-aggregate pivot: each pivot cell carries BOTH a max and a
    * count (Spark names the columns `<value>_<aggAlias>`) — the wide
    * per-entity feature matrix in one pass. */
  def compositePivotMulti(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("event_type").isin("purchase", "click"))
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("purchase", "click"))
      .agg(max(col("value")).as("mx"), count(lit(1)).as("n"))

  /** Pivot → unpivot roundtrip: melt the wide (r,g,b) matrix back to
    * long form. Spark's `unpivot` keeps NULL cells, DuckDB's UNPIVOT
    * drops them — the explicit not-null filter pins one semantics. */
  def compositeUnpivot(s: SparkSession, dir: String): DataFrame =
    compositePivot(s, dir)
      .unpivot(Array(col("user_id")), Array(col("r"), col("g"), col("b")),
               "band", "value")
      .filter(col("value").isNotNull)

  val registry: Map[String, (SparkSession, String) => DataFrame] = Map(
    "composite_pivot_multi"      -> (compositePivotMulti _),
    "composite_unpivot"          -> (compositeUnpivot _),
    "composite_pivot_dynamic"    -> (compositePivotDynamic _),
    "band_file_means"            -> (bandFileMeans _),
    "band_mean_of_means"         -> (bandMeanOfMeans _),
    "band_max_of_means"          -> (bandMaxOfMeans _),
    "band_min_of_means"          -> (bandMinOfMeans _),
    "band_stats"                 -> (bandStatsFlagship _),
    "band_file_means_keep_empty" -> (bandFileMeansKeepEmpty _),
    "band_weighted_mean"         -> (bandWeightedMean _),
    "composite_pivot"            -> (compositePivot _),
  )

  val oracles: Map[String, String] = Map(
    "composite_pivot_dynamic" ->
      s"""SELECT user_id,
         |MAX(CASE WHEN event_type = 'purchase' THEN value END) AS r,
         |MAX(CASE WHEN event_type = 'click' THEN value END) AS g,
         |MAX(CASE WHEN event_type = 'view' THEN value END) AS b
         |FROM events WHERE event_type IN ('purchase', 'click', 'view')
         |GROUP BY user_id""".stripMargin,
    "band_file_means" ->
      s"""SELECT user_id, event_type, ${sqlAvg("value")} AS mean_value,
         |COUNT(value) AS n_valid FROM events WHERE value <> 0
         |GROUP BY user_id, event_type""".stripMargin,
    "band_mean_of_means" ->
      s"""SELECT l_returnflag,
         |CAST(CAST(SUM(mean_value) AS VARCHAR) AS DOUBLE) / COUNT(*) AS mean_of_means,
         |COUNT(*) AS n_files FROM ($meansSql) GROUP BY l_returnflag""".stripMargin,
    "band_max_of_means" ->
      s"""SELECT l_returnflag, CAST(CAST(MAX(mean_value) AS VARCHAR) AS DOUBLE) AS max_of_means
         |FROM ($meansSql) GROUP BY l_returnflag""".stripMargin,
    "band_min_of_means" ->
      s"""SELECT l_returnflag, CAST(CAST(MIN(mean_value) AS VARCHAR) AS DOUBLE) AS min_of_means
         |FROM ($meansSql) GROUP BY l_returnflag""".stripMargin,
    "band_stats" ->
      s"""SELECT l_returnflag,
         |CAST(CAST(SUM(mean_value) AS VARCHAR) AS DOUBLE) / COUNT(*) AS mean_of_means,
         |CAST(CAST(MAX(mean_value) AS VARCHAR) AS DOUBLE) AS max_of_means,
         |CAST(CAST(MIN(mean_value) AS VARCHAR) AS DOUBLE) AS min_of_means,
         |COUNT(*) AS n_files FROM ($meansSql) GROUP BY l_returnflag""".stripMargin,
    "band_file_means_keep_empty" ->
      s"""SELECT user_id, event_type,
         |COALESCE(${sqlAvg("CASE WHEN v <> 0 THEN v END")}, 0.0) AS mean_value,
         |COUNT(CASE WHEN v <> 0 THEN v END) AS n_valid
         |FROM (SELECT user_id, event_type,
         |        CASE WHEN value > 100 THEN value ELSE 0.0 END AS v FROM events)
         |GROUP BY user_id, event_type""".stripMargin,
    "band_weighted_mean" ->
      s"""SELECT event_type, ${sqlAvg("value")} AS weighted_mean,
         |COUNT(value) AS n_pixels FROM events WHERE value <> 0
         |GROUP BY event_type""".stripMargin,
    "composite_pivot" ->
      s"""SELECT user_id,
         |MAX(CASE WHEN event_type = 'purchase' THEN value END) AS r,
         |MAX(CASE WHEN event_type = 'click' THEN value END) AS g,
         |MAX(CASE WHEN event_type = 'view' THEN value END) AS b
         |FROM events WHERE event_type IN ('purchase', 'click', 'view')
         |GROUP BY user_id""".stripMargin,
    "composite_pivot_multi" ->
      s"""SELECT user_id,
         |MAX(CASE WHEN event_type = 'purchase' THEN value END) AS purchase_mx,
         |CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |  AS BIGINT) AS purchase_n,
         |MAX(CASE WHEN event_type = 'click' THEN value END) AS click_mx,
         |CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
         |  AS BIGINT) AS click_n
         |FROM events WHERE event_type IN ('purchase', 'click')
         |GROUP BY user_id""".stripMargin,
    "composite_unpivot" ->
      s"""SELECT user_id,
         |CASE event_type WHEN 'purchase' THEN 'r'
         |                WHEN 'click' THEN 'g' ELSE 'b' END AS band,
         |MAX(value) AS value
         |FROM events WHERE event_type IN ('purchase', 'click', 'view')
         |GROUP BY 1, 2""".stripMargin,
  )
}
