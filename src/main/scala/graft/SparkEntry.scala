package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator in SURVEY.md §2 (plus the LLM-pipeline extensions) is
  * registered as a named query over the parquet fixtures, with an
  * ANSI-SQL twin in [[oracleSql]] runnable by DuckDB on the same tables.
  * Query definitions live in `graft.queries.*`; float determinism across
  * engines is handled by [[graft.queries.Canon]] (exact DECIMAL sums —
  * no rounding, no tolerance).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's headline computation: two-level band statistics
    * (per-group filtered means, then per-band mean/max/min of means).
    */
  def entry(spark: SparkSession): DataFrame =
    BandQueries.bandStatsFlagship(spark, "/root/testdata/sf0.001")

  private val groups: Seq[(Map[String, (SparkSession, String) => DataFrame],
                           Map[String, String])] = Seq(
    (BandQueries.registry, BandQueries.oracles),
    (RasterQueries.registry, RasterQueries.oracles),
    (RelationalQueries.registry, RelationalQueries.oracles),
    (TpchQueries.registry, TpchQueries.oracles),
    (CdcQueries.registry, CdcQueries.oracles),
    (AnalyticsQueries.registry, AnalyticsQueries.oracles),
    (DocQueries.registry, DocQueries.oracles),
    (PiiQueries.registry, PiiQueries.oracles),
    (VectorQueries.registry, VectorQueries.oracles),
    (EventQueries.registry, EventQueries.oracles),
    (MediaQueries.registry, MediaQueries.oracles),
  )

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    groups.map(_._1).reduce(_ ++ _)

  def oracleSql: Map[String, String] = groups.map(_._2).reduce(_ ++ _)

  /** The catalog of cross-query shared frames: each name is one frame
    * that several registry queries read, built by the same builder its
    * consumers call, so once it is persisted through
    * [[graft.operators.PlanCache.reuse]], CacheManager's `sameResult`
    * lookup serves it to every consumer. A family lists its frames in a
    * `shared` sequence next to its `registry`; within a family a frame
    * comes after the frames it reads. Bench's prewarm builds exactly
    * this list (`_shared_frames`). */
  def sharedFrames: Seq[(String, (SparkSession, String) => DataFrame)] =
    RelationalQueries.shared ++ DocQueries.shared ++ VectorQueries.shared ++
      EventQueries.shared
}
