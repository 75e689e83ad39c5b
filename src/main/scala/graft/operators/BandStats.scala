package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import graft.queries.Canon

/** The reference's entire statistical surface, generalized.
  *
  * The reference computes a two-level aggregation over rasters
  * (`band_mean_computation.cpp:11-50,143-158` and the max/min twins):
  *
  *   level 1: per-(file, band) MEAN over pixels with value != 0 (nodata)
  *   level 2: per-band {MEAN | MAX | MIN} over the level-1 means
  *
  * The reference runs each statistic as its own program; here level 1 is
  * [[bandFileMeans]] and level 2 is [[bandStats]], which computes all
  * three statistics in one aggregate — a caller wanting one of them
  * selects its column, and Catalyst prunes the unused aggregates.
  *
  * Both levels are plain Catalyst aggregates over arbitrary key columns —
  * `(file, band)` in raster terms, any fixture key pair in the oracle
  * harness. Catalyst runs each `groupBy.agg` as a partial (map-side) +
  * final (post-shuffle) `HashAggregateExec` pair, which is exactly the
  * reference's local-fold + `MPI_Reduce` shape
  * (`band_mean_computation.cpp:143-153`) — but dynamic, spill-safe, and
  * whole-stage-codegen'd. Over a decoded pixel frame
  * ([[graft.sources.Raster.pixels]]), level 1's partial half is instead a
  * [[graft.plans.RasterPlaneAggregateExec]]: the same filter and
  * aggregate expressions, folded over each decoded band plane in the scan
  * task like the reference's per-`GDALRasterIO` loop
  * (`band_mean_computation.cpp:25-45`), with no pixel rows; its output
  * rows, and so the exchange and the final aggregate, are the partial
  * `HashAggregateExec`'s. No UDAF is needed anywhere. The only shuffle is
  * on the level-1 group key; level 2 runs over the (much smaller) level-1
  * output, so at 100 TB the cost is one hash-partitioned exchange of
  * partial aggregates, not of raw pixels.
  *
  * == The `exact` flag ==
  * Default (`exact = false`): plain double `avg`. `exact = true`: means
  * are [[graft.queries.Canon.exactSum]]s of the values as DECIMAL(18,4),
  * divided (in IEEE double) by the count. Because the fixture inputs are
  * exact ≤4-decimal values, the decimal sum is order-independent and
  * *bit-identical* across engines, which is what the DuckDB-oracle hash
  * compare requires (SURVEY §7.4: double summation order differs between
  * Spark's partial aggregation and DuckDB). Level 2 quantizes the level-1
  * means to DECIMAL(18,6) (see [[bandStats]]) so its sum is again exact.
  * `exactSum` aggregates two BIGINT sums per group, so both paths are
  * codegen'd primitive aggregates with the same partial/final split and
  * shuffle shape, and exact costs about 1.2× the double path (SCALING.md
  * §Band statistics).
  *
  * Deliberate semantic decisions vs the reference (SURVEY.md §2.4) are
  * documented on [[bandStats]] (level 2) and [[bandFileMeansKeepEmpty]]
  * (all-nodata groups).
  */
object BandStats {
  /** Quantization applied to the level-1 means in exact level 2. */
  private val MeanDec = DecimalType(18, 6)

  /** The reference's nodata value: a pixel equal to it is not a sample
    * (`band_mean_computation.cpp:11-50`). */
  private val NoData = 0.0

  private def meanAgg(value: Column, exact: Boolean): Column =
    if (exact) Canon.exactAvg(value) else avg(value)

  /** Level 1: per-(file, band) mean of non-nodata values.
    * `filter(v != 0) → groupBy(file, band) → avg` — the Spark form of
    * `calculate_band_means` (`band_mean_computation.cpp:11-50`).
    */
  def bandFileMeans(df: DataFrame, fileCol: String, bandCol: String,
                    valueCol: String, exact: Boolean = false): DataFrame =
    df.filter(col(valueCol) =!= lit(NoData))
      .groupBy(col(fileCol), col(bandCol))
      .agg(meanAgg(col(valueCol), exact).as("mean_value"),
           count(col(valueCol)).as("n_valid"))

  /** Level 1 keeping all-nodata groups as mean 0.0 — the exact contract of
    * `band_mean_computation.cpp:45` (`count > 0 ? sum/count : 0.0`).
    * Conditional aggregation instead of a pre-filter so empty groups
    * survive with a defined value.
    */
  def bandFileMeansKeepEmpty(df: DataFrame, fileCol: String, bandCol: String,
                             valueCol: String, exact: Boolean = false): DataFrame = {
    val valid = when(col(valueCol) =!= lit(NoData), col(valueCol))
    df.groupBy(col(fileCol), col(bandCol))
      .agg(coalesce(meanAgg(valid, exact), lit(0.0)).as("mean_value"),
           count(valid).as("n_valid"))
  }

  private def l2Mean(exact: Boolean): Column =
    if (exact) Canon.exactSum(col("mean_value"), MeanDec) / count(lit(1))
    else avg(col("mean_value"))
  private def l2Extreme(f: Column => Column, exact: Boolean): Column =
    if (exact) f(col("mean_value").cast(MeanDec)).cast(DoubleType)
    else f(col("mean_value"))

  /** Level 2: per-band mean, max and min of the level-1 means in one
    * pass (one shuffle, not three) — the reference's collective-mean,
    * max and min programs (`band_mean_computation.cpp:143-158`,
    * `band_max_computation.cpp:143-153`, `band_min_computation.cpp`).
    *
    *  - `mean_of_means` divides by the number of groups *present* (files
    *    that produced a level-1 row, `n_files`): `MPI_SUM` then
    *    `/ total_files` over present groups is sum(mean)/count(*) ≡
    *    avg(mean). It is the only well-defined form once the
    *    reference's zeros-on-error rows (`band_mean_computation.cpp:13-16`)
    *    are dropped.
    *  - `max_of_means` / `min_of_means` use true fold semantics, not the
    *    reference's 0.0-init clamp (`band_min_computation.cpp:143` makes
    *    its min a constant-0 bug; SURVEY §2.4) or its p2p merge bugs.
    *  - In exact mode the level-1 means are quantized to DECIMAL(18,6)
    *    here, per group, before the sum: the casts are order-independent
    *    and decimal sums are exact, so the rollup is bit-identical to its
    *    DuckDB oracle and invariant under repartitioning even over a
    *    double-typed level 1 — the property spec's process-count axis.
    *
    * One statistic alone is a column selection, e.g.
    * `bandStats(l1, "band").select("band", "max_of_means")`. */
  def bandStats(level1: DataFrame, bandCol: String,
                exact: Boolean = false): DataFrame =
    level1.groupBy(col(bandCol)).agg(
      l2Mean(exact).as("mean_of_means"),
      l2Extreme(max, exact).as("max_of_means"),
      l2Extreme(min, exact).as("min_of_means"),
      count(lit(1)).as("n_files"))

  /** Pixel-weighted global mean per band — the statistically-correct
    * alternative to mean-of-means (a single-level aggregate the reference
    * never computes but implies; SURVEY §7.2 item 4). One shuffle on
    * `band` only.
    */
  def bandWeightedMean(df: DataFrame, bandCol: String, valueCol: String,
                       exact: Boolean = false): DataFrame =
    df.filter(col(valueCol) =!= lit(NoData))
      .groupBy(col(bandCol))
      .agg(meanAgg(col(valueCol), exact).as("weighted_mean"),
           count(col(valueCol)).as("n_pixels"))
}
