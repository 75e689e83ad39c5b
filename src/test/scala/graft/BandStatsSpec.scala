package graft

import org.apache.spark.sql.functions._
import graft.operators.BandStats

/** SURVEY §2.4 semantic cliffs: nodata-only groups, negative min/max
  * (the reference's 0.0-init trap), mean-of-means vs weighted mean,
  * empty input, repartition invariance. */
class BandStatsSpec extends SparkSpec {

  import spark.implicits._

  private def pixels = Seq(
    // (file, band, value)
    ("f1", 1, 10.0), ("f1", 1, 20.0), ("f1", 1, 0.0),   // nodata dropped
    ("f2", 1, 40.0),
    ("f1", 2, 0.0), ("f1", 2, 0.0),                     // all-nodata group
    ("f2", 2, -5.0), ("f1", 3, -2.0), ("f2", 3, -8.0)   // negatives
  ).toDF("file", "band", "value")

  test("bandFileMeans drops nodata and all-nodata groups") {
    val m = BandStats.bandFileMeans(pixels, "file", "band", "value")
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(m(("f1", 1)) == 15.0)       // (10+20)/2, the 0 excluded
    assert(!m.contains(("f1", 2)))     // all-nodata group absent
    assert(m(("f2", 2)) == -5.0)
  }

  test("keep-empty variant yields 0.0 for all-nodata groups (cpp:45 ternary)") {
    val m = BandStats.bandFileMeansKeepEmpty(pixels, "file", "band", "value")
      .collect().map(r => (r.getString(0), r.getInt(1)) -> (r.getDouble(2), r.getLong(3))).toMap
    assert(m(("f1", 2)) == ((0.0, 0L)))
    assert(m(("f1", 1)) == ((15.0, 2L)))
  }

  test("min/max of means use true fold semantics on negative values") {
    val l1 = BandStats.bandFileMeans(pixels, "file", "band", "value")
    val mx = BandStats.bandStats(l1, "band").select("band", "max_of_means")
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val mn = BandStats.bandStats(l1, "band").select("band", "min_of_means")
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    // reference's 0.0-init would clamp these to 0; we must not
    assert(mx(3) == -2.0 && mn(3) == -8.0)
    assert(mn(1) == 15.0 && mx(1) == 40.0)
  }

  test("mean-of-means differs from pixel-weighted mean by design") {
    val l1 = BandStats.bandFileMeans(pixels, "file", "band", "value")
    val mom = BandStats.bandStats(l1, "band").filter($"band" === 1)
      .select("mean_of_means").as[Double].head()
    val wm = BandStats.bandWeightedMean(pixels, "band", "value")
      .filter($"band" === 1).select("weighted_mean").as[Double].head()
    assert(mom == (15.0 + 40.0) / 2)          // per-file means averaged
    assert(wm == (10.0 + 20.0 + 40.0) / 3)    // pixels pooled
    assert(mom != wm)
  }

  test("empty input yields empty result, not a divide-by-zero (cpp:158)") {
    val empty = pixels.filter(lit(false))
    assert(BandStats.bandStats(
      BandStats.bandFileMeans(empty, "file", "band", "value"), "band").count() == 0)
  }

  test("aggregation invariant under repartitioning (the process-count axis)") {
    val base = BandStats.bandStats(
      BandStats.bandFileMeans(pixels, "file", "band", "value", exact = true),
      "band", exact = true).collect().toSet
    Seq(1, 3, 7).foreach { n =>
      val re = BandStats.bandStats(
        BandStats.bandFileMeans(pixels.repartition(n), "file", "band", "value",
                                exact = true),
        "band", exact = true).collect().toSet
      assert(re == base, s"repartition($n) changed results")
    }
  }
}
