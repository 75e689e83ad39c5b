package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.{ColumnarToRowExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.operators.BandStats
import graft.plans.{RasterPixelsExec, RasterPlaneAggregateExec}
import graft.queries.RasterQueries
import graft.sources.Raster
import graft.sources.Raster.GraftRasterCodec

/** The plane partial aggregate ([[graft.plans.RasterPlaneAggregate]]):
  * which plans fold band planes, and that they return what the stock
  * row-path aggregate returns. The reference runs the same aggregate over
  * `px.localCheckpoint()`, a checkpointed pixel frame with the same
  * partitions that is not a `RasterPixels` node, so it plans pixel rows. */
class RasterPlaneAggregateSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def withAqe[T](on: Boolean)(body: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    val before = spark.conf.get(key)
    spark.conf.set(key, on.toString)
    try body finally spark.conf.set(key, before)
  }

  private def nodes(df: DataFrame): Seq[SparkPlan] =
    collect(df.queryExecution.executedPlan) { case p => p }

  private def folds(df: DataFrame): Boolean =
    nodes(df).exists(_.isInstanceOf[RasterPlaneAggregateExec])

  /** Rows sorted, floats and doubles as their raw bits. */
  private def bits(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq.map {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case f: Float => java.lang.Float.floatToRawIntBits(f)
    case v => v
  }).sortBy(_.mkString("|"))

  private def blob(w: Int, h: Int, bands: Int)(v: (Int, Int) => Float): Array[Byte] =
    GraftRasterCodec.encode(w, h, Array.tabulate(bands)(b => Array.tabulate(w * h)(v(b + 1, _))))

  /** Five 7×5 3-band blobs over 4 partitions; the last task holds files d
    * (values near 1e16) and e (near 1), so a double sum of both depends on
    * whether they fold into one buffer. Non-integer values with nodata
    * zeros; file c's band 1 holds NaN and −0.0. */
  private def floatFiles: DataFrame = Seq.tabulate(5) { f =>
    val name = s"${"abcde"(f)}.graftraster"
    name -> blob(7, 5, 3) { (b, p) =>
      if (f == 2 && b == 1 && p == 3) Float.NaN
      else if (f == 2 && b == 1 && p % 4 == 1) -0.0f
      else ((f * 31 + b * 17 + p * 7) % 23) / 7f *
        Array(1e-3f, 1f, 1e3f, 1e16f, 1f)(f) * Array(1f, 0.1f, 10f)(p % 3)
    }
  }.toDF("path", "content")

  /** Quarter-step values (exact on the DECIMAL path); d's band 2 is all
    * nodata. */
  private def exactFiles: DataFrame = Seq.tabulate(5) { f =>
    val name = s"${"abcde"(f)}.graftraster"
    name -> blob(6, 4, 3) { (b, p) =>
      if (f == 3 && b == 2) 0f else ((f * 13 + b * 5 + p * 3) % 11) * 0.25f
    }
  }.toDF("path", "content")

  private def parity(px: DataFrame)(query: DataFrame => DataFrame): Unit =
    for (aqe <- Seq(true, false)) withAqe(aqe) {
      val (got, ref) = (query(px), query(px.localCheckpoint()))
      val (g, r) = (bits(got), bits(ref))
      assert(g.nonEmpty)
      assert(g == r, s"aqe=$aqe")
      assert(folds(got), s"aqe=$aqe: ${got.queryExecution.executedPlan}")
      assert(!folds(ref), s"aqe=$aqe: ${ref.queryExecution.executedPlan}")
    }

  private def rasterDir(): String = {
    val dir = Files.createTempDirectory("graft_planes").toFile
    for (f <- 0 until 3)
      Files.write(new java.io.File(dir, s"scene$f.graftraster").toPath,
        blob(8, 6, 6)((b, p) => ((f * 7 + b * 11 + p) % 9) * 0.5f))
    dir.getAbsolutePath
  }

  // ------------------------------------------------------------- plans

  test("goal 2 folds planes: plane aggregate, no ColumnarToRow over the pixel operator") {
    val dir = rasterDir()
    for (aqe <- Seq(true, false)) withAqe(aqe) {
      val px = Raster.pixels(spark, dir)
      def goal2(p: DataFrame) = BandStats.bandStats(
        BandStats.bandFileMeans(p, "file", "band", "value", exact = true), "band", exact = true)
      val got = goal2(px)
      assert(bits(got) == bits(goal2(px.localCheckpoint())), s"aqe=$aqe")
      val plan = nodes(got)
      assert(plan.exists(_.isInstanceOf[RasterPlaneAggregateExec]), s"aqe=$aqe: $plan")
      assert(!plan.exists {
        case c: ColumnarToRowExec => c.exists(_.isInstanceOf[RasterPixelsExec])
        case _ => false
      }, s"aqe=$aqe: $plan")
    }
  }

  test("raster_band_stats and raster_stats_rollup fold planes") {
    // the raster_* rows build their blobs from the documents table's doc_id alone
    val dir = Files.createTempDirectory("graft_docs").toFile.getAbsolutePath
    spark.range(200).toDF("doc_id").write.parquet(s"$dir/documents.parquet")
    for (aqe <- Seq(true, false); q <- Seq("raster_band_stats", "raster_stats_rollup"))
      withAqe(aqe) {
        val df = RasterQueries.registry(q)(spark, dir)
        assert(df.collect().nonEmpty)
        assert(folds(df), s"$q aqe=$aqe: ${df.queryExecution.executedPlan}")
      }
  }

  test("other aggregate shapes keep the stock aggregate, with the same rows") {
    val px = Raster.decodePixels(exactFiles)
    val shapes: Seq[(String, DataFrame => DataFrame)] = Seq(
      "groupBy(file, y)" -> (_.groupBy("file", "y").agg(sum("value"), count(lit(1)))),
      "collect_list" -> (_.groupBy("file", "band")
        .agg(sort_array(collect_list("value")).as("vs"))),
      "countDistinct" -> (_.groupBy("file").agg(countDistinct("value"))),
      "FILTER clause" -> (_.groupBy("file", "band")
        .agg(expr("sum(value) FILTER (WHERE y > 0)"), count(lit(1)))))
    for (aqe <- Seq(true, false); (name, q) <- shapes) withAqe(aqe) {
      val got = q(px)
      assert(bits(got) == bits(q(px.localCheckpoint())), s"$name aqe=$aqe")
      val plan = nodes(got)
      assert(!plan.exists(_.isInstanceOf[RasterPlaneAggregateExec]), s"$name aqe=$aqe: $plan")
      assert(plan.exists(_.isInstanceOf[RasterPixelsExec]), s"$name aqe=$aqe: $plan")
    }
  }

  // ------------------------------------------------------------ parity

  test("double path: bit-identical to the row path, NaN and -0.0 included") {
    val px = Raster.decodePixels(floatFiles)
    parity(px)(BandStats.bandFileMeans(_, "file", "band", "value"))
    parity(px)(BandStats.bandFileMeansKeepEmpty(_, "file", "band", "value"))
    parity(px)(BandStats.bandWeightedMean(_, "band", "value"))
    parity(px)(p => BandStats.bandStats(BandStats.bandFileMeans(p, "file", "band", "value"), "band"))
    parity(px)(_.groupBy("band", "file")
      .agg(sum("value"), min("value"), max("value"), avg(col("y") * col("x") + col("value"))))
    // one key over all files: the task holding two files folds both planes into one buffer
    parity(px)(_.groupBy("band").agg(sum("value"), sum(col("value") * col("x"))))
  }

  test("exact path, and an all-nodata plane: no level-1 row, keep-empty 0.0") {
    val px = Raster.decodePixels(exactFiles)
    parity(px)(BandStats.bandFileMeans(_, "file", "band", "value", exact = true))
    parity(px)(BandStats.bandFileMeansKeepEmpty(_, "file", "band", "value", exact = true))
    val key: Column = $"file" === "d.graftraster" && $"band" === 2
    val l1 = BandStats.bandFileMeans(px, "file", "band", "value", exact = true)
    assert(l1.count() == 14 && l1.filter(key).isEmpty)
    val kept = BandStats.bandFileMeansKeepEmpty(px, "file", "band", "value", exact = true)
    assert(kept.count() == 15)
    assert(kept.filter(key).select("mean_value", "n_valid").as[(Double, Long)].collect()
      .toSeq == Seq((0.0, 0L)))
  }

  test("a null path is one key") {
    val files = Seq[(String, Array[Byte])](
      (null, blob(3, 2, 2)((b, p) => b * 0.5f + p)),
      ("x.graftraster", blob(3, 2, 2)((b, p) => b + p * 0.25f)),
      (null, blob(3, 2, 2)((b, p) => (b + p) % 3 * 1.5f))).toDF("path", "content")
    val px = Raster.decodePixels(files)
    parity(px)(BandStats.bandFileMeans(_, "file", "band", "value", exact = true))
    parity(px)(BandStats.bandFileMeans(_, "file", "band", "value"))
    assert(BandStats.bandFileMeans(px, "file", "band", "value").filter($"file".isNull).count() == 2)
  }

  test("exact level 1 over a decoded 1e14 still raises NUMERIC_VALUE_OUT_OF_RANGE") {
    val px = Raster.decodePixels(Seq("big.graftraster" ->
      GraftRasterCodec.encode(2, 1, Array(Array(1e14f, 1f)))).toDF("path", "content"))
    for (aqe <- Seq(true, false)) withAqe(aqe) {
      val l1 = BandStats.bandFileMeans(px, "file", "band", "value", exact = true)
      val e = intercept[Exception](l1.collect())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("NUMERIC_VALUE_OUT_OF_RANGE")), e)
      if (!aqe) assert(folds(l1), l1.queryExecution.executedPlan)
    }
  }
}
