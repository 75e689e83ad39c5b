package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Tracked registry of plan-reuse persists (Dedup signature/pair tables,
  * Similarity codebooks, the query families' shared frames).
  *
  * These operators persist small intermediates that their plans reference
  * from multiple subtrees (self-join sides, codebook consumers) or that
  * several queries share through CacheManager's `sameResult` lookup —
  * without the persist, Spark re-executes the full upstream pipeline once
  * per reference. Lifecycle:
  *
  *  - [[reuse]] persists (MEMORY_AND_DISK) once per plan and tracks the
  *    frame; a plan already cached is a hit and is returned unchanged.
  *  - Tracked frames stay persisted until [[releaseAll]] (session
  *    teardown, or between bench passes that must re-measure cold cost).
  *    Nothing unpersists mid-session, so a frame one query built is still
  *    cached for every later consumer of the same plan.
  *  - [[scoped]] bounds a repeated unit of work (a stream gate's
  *    micro-batch): it releases the frames that unit newly persisted.
  */
private[graft] object PlanCache {
  private val live = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
  // frames newly persisted inside the current thread's [[scoped]] block
  private val scope = new ThreadLocal[scala.collection.mutable.ArrayBuffer[DataFrame]]

  // Telemetry: `hits` = reuse() found the plan already cached; `misses` =
  // a new persist was issued. Bench snapshots these into bench_detail.json.
  private var nHits, nMisses = 0L

  def reuse(df: DataFrame): DataFrame = synchronized {
    if (df.storageLevel != StorageLevel.NONE) nHits += 1
    else {
      nMisses += 1
      df.persist(StorageLevel.MEMORY_AND_DISK)
      live += df
      Option(scope.get).foreach(_ += df)
    }
    df
  }

  /** Run `body`, then unpersist and untrack every frame it newly
    * persisted through [[reuse]] on this thread. Frames that were
    * already cached when `body` reused them stay cached. */
  def scoped[T](body: => T): T = {
    val outer = scope.get
    val mine = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    scope.set(mine)
    try body
    finally {
      scope.set(outer)
      synchronized {
        mine.foreach(_.unpersist(blocking = false))
        live.filterInPlace(df => !mine.exists(_ eq df))
      }
    }
  }

  def releaseAll(): Unit = synchronized {
    live.foreach(_.unpersist(blocking = false))
    live.clear()
  }

  /** Untrack frames an external `spark.catalog.clearCache()` already
    * released, so `live` counts only cached frames again. */
  def pruneStale(): Unit = synchronized {
    live.filterInPlace(_.storageLevel != StorageLevel.NONE)
  }

  /** Tracked-entry count (spec observability). */
  def liveCount: Int = synchronized(live.size)

  /** The tracked frames themselves (spec observability). */
  def liveFrames: Seq[DataFrame] = synchronized(live.toList)

  /** Counter snapshot for bench telemetry. `evictions` stays 0: nothing
    * is unpersisted before [[releaseAll]]; the key is kept for readers
    * of earlier bench_detail.json files. */
  def stats: Map[String, Long] = synchronized(Map(
    "hits" -> nHits, "misses" -> nMisses, "evictions" -> 0L,
    "live" -> live.size.toLong))

  /** Zero the counters (between bench passes; occupancy is untouched). */
  def resetStats(): Unit = synchronized { nHits = 0; nMisses = 0 }
}
