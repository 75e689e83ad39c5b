package graft

import org.apache.spark.storage.StorageLevel

import graft.operators.PlanCache

/** Lifecycle contract of the plan-reuse persist registry: frames persist
  * once per plan and stay cached until releaseAll; a scope releases only
  * what it newly persisted. */
class PlanCacheSpec extends SparkSpec {

  test("a stale entry never uncaches a re-cached plan (r14 scenario)") {
    PlanCache.releaseAll()
    // a tracked entry left STALE by an external clearCache with no
    // pruneStale — the state Bench's warm-up used to leave behind
    val stale = PlanCache.reuse(spark.range(7777, 7877).toDF())
    spark.catalog.clearCache()
    // the same PLAN re-cached through a fresh instance
    val recached = PlanCache.reuse(spark.range(7777, 7877).toDF())
    assert(recached.storageLevel != StorageLevel.NONE)
    // a long run of later reuse() calls: nothing unpersists mid-session,
    // so the stale entry can never uncache the plan by sameResult
    (0 until 200).foreach(i => PlanCache.reuse(spark.range(i, i + 50).toDF()))
    assert(recached.storageLevel != StorageLevel.NONE,
      "the re-cached frame must still be persisted")
    assert(PlanCache.stats("evictions") == 0)
    PlanCache.releaseAll()
    assert(stale.storageLevel == StorageLevel.NONE)
  }

  test("scoped releases only the frames it newly persisted") {
    PlanCache.releaseAll()
    val before = PlanCache.reuse(spark.range(0, 30).toDF())
    val inner = spark.range(100, 130).toDF()
    PlanCache.scoped {
      PlanCache.reuse(spark.range(0, 30).toDF()) // a hit: not the scope's
      PlanCache.reuse(inner)
      assert(inner.storageLevel != StorageLevel.NONE)
    }
    assert(inner.storageLevel == StorageLevel.NONE)
    assert(before.storageLevel != StorageLevel.NONE)
    assert(PlanCache.liveCount == 1)
    PlanCache.releaseAll()
  }

  test("reuse is idempotent on already-cached plans") {
    PlanCache.releaseAll()
    val df = spark.range(0, 50).toDF()
    PlanCache.reuse(df)
    val n = PlanCache.liveCount
    PlanCache.reuse(df) // same (now cached) plan — must not re-track
    assert(PlanCache.liveCount == n)
    PlanCache.releaseAll()
  }

  test("releaseAll unpersists everything and empties the registry") {
    PlanCache.releaseAll()
    val dfs = (0 until 3).map(i => spark.range(i * 7, i * 7 + 10).toDF())
    dfs.foreach(PlanCache.reuse)
    assert(PlanCache.liveCount == 3)
    PlanCache.releaseAll()
    assert(PlanCache.liveCount == 0)
    assert(dfs.forall(_.storageLevel == StorageLevel.NONE))
  }
}
