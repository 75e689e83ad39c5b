package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import graft.operators.PlanCache

/** The shared-frame catalog ([[SparkEntry.sharedFrames]]) against the
  * registry at sf0.001. A catalog frame helps only if its builder makes
  * the same plan its consumers make: otherwise Bench's prewarm persists
  * and builds it, and no query ever reads it. So each frame, once
  * persisted, must appear as an `InMemoryRelation` in some registry
  * query's cached plan or in a frame some query's construction
  * persists, directly or inside another cached frame's plan. */
class SharedFramesSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val dir = "/root/testdata/sf0.001"

  /** The catalog, persisted in catalog order as Bench's prewarm does. */
  private lazy val frames: Seq[(String, DataFrame)] = {
    PlanCache.releaseAll()
    spark.catalog.clearCache()
    SparkEntry.sharedFrames.map { case (name, build) =>
      name -> PlanCache.reuse(build(spark, dir))
    }
  }

  override def afterAll(): Unit = PlanCache.releaseAll()

  test("shared-frame catalog names are unique") {
    val names = SparkEntry.sharedFrames.map(_._1)
    assert(names.nonEmpty)
    assert(names.distinct == names,
      s"duplicate names: ${names.diff(names.distinct).mkString(", ")}")
  }

  test("every shared frame builds") {
    val failed = frames.flatMap { case (name, df) =>
      try { df.queryExecution.toRdd.count(); None }
      catch { case e: Throwable => Some(s"$name: ${e.getMessage}") }
    }
    assert(failed.isEmpty, s"frames that do not build:\n${failed.mkString("\n")}")
  }

  test("every shared frame is read by a registry query") {
    val cacheManager = spark.sharedState.cacheManager
    def relation(df: DataFrame): Option[InMemoryRelation] = cacheManager
      .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .map(_.cachedRepresentation)
    val catalog = frames.map { case (name, df) => (name, df, relation(df)) }
    assert(catalog.forall(_._3.isDefined),
      s"not cached: ${catalog.filter(_._3.isEmpty).map(_._1).mkString(", ")}")
    // a query reads a frame in its final plan, or at construction, through
    // a frame it persists over it (the BPE trainer's loop input)
    val before = PlanCache.liveFrames
    val plans = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (_, fn) =>
      try fn(spark, dir).queryExecution.withCachedData
        .collect { case r: InMemoryRelation => r }
      catch { case _: Throwable => Nil } // PlanGuardSpec names build failures
    }
    val persisted = PlanCache.liveFrames
      .filterNot(f => before.exists(_ eq f)).flatMap(relation)
    // a relation, then every relation its cached plan scans, and so on
    def nested(r: InMemoryRelation): Seq[InMemoryRelation] =
      r +: collect(r.cacheBuilder.cachedPlan) {
        case s: InMemoryTableScanExec => s.relation }.flatMap(nested)
    val read = (plans ++ persisted).flatMap(nested).map(_.cacheBuilder)
    val unread = catalog.collect {
      case (name, _, Some(r)) if !read.exists(_ eq r.cacheBuilder) => name }
    assert(unread.isEmpty,
      s"catalog frames no registry query reads: ${unread.mkString(", ")}")
  }
}
