package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's RGB composite (`color_image_composite.cpp:175-185`):
  * select three bands of each file and recombine them positionally into
  * one row per pixel with (r, g, b) columns, output band order R,G,B =
  * input bands 4,3,2 (`color_image_composite.cpp:34-53,179-181`).
  *
  * Spark-first form: a conditional-aggregation pivot —
  * `filter(band IN ...) → groupBy(keys) → max(CASE band WHEN ...)`.
  * Explicit `when` columns rather than `.pivot()` so the output schema is
  * static (no driver-side distinct pass over band values, which at 100 TB
  * would be an extra job) and the whole plan stays in one hash aggregate.
  * The aggregate always shuffles on the pixel key (file, y, x), whatever
  * the source's partitioning. The TIFF sink
  * ([[graft.sources.Raster.writeCompositeTiff]]) does not pivot: it is
  * map-only, like the reference's composite (SURVEY §3.3).
  */
object Composite {

  /** Generic N-way recombine: one output column per selected band value. */
  def pivotBands(df: DataFrame, keyCols: Seq[String], bandCol: String,
                 valueCol: String, bands: Seq[(Any, String)]): DataFrame = {
    val aggs: Seq[Column] = bands.map { case (bandValue, outName) =>
      max(when(col(bandCol) === lit(bandValue), col(valueCol))).as(outName)
    }
    df.filter(col(bandCol).isin(bands.map(_._1): _*))
      .groupBy(keyCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** The reference's exact composite: bands 4,3,2 → r,g,b per pixel. */
  def rgbComposite(pixels: DataFrame): DataFrame =
    pivotBands(pixels, Seq("file", "y", "x"), "band", "value",
               Seq(4 -> "r", 3 -> "g", 2 -> "b"))

  /** Output path derivation `dataset/foo.tif → colorimage/foo_color.tif`
    * (`color_image_composite.cpp:15-19,173`) as a column transform. */
  def colorOutputPath(path: Column, outDir: String): Column =
    concat(lit(outDir), lit("/"),
           regexp_replace(element_at(split(path, "/"), -1),
                          "\\.tif$", "_color.tif"))
}
