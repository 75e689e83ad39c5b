package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{BandStats, Composite}
import graft.sources.{Raster, Tables}
import Canon._

/** Oracle-checked raster-path queries (SURVEY §2.1 S2/S3/S4, §2.2 P1/P2,
  * §2.8 F1/F2) — the rows VERDICT r3 flagged as spec-only because no
  * raster fixtures exist.
  *
  * The trick (same as `mm_byte_stats`): manufacture deterministic raster
  * BLOBS in-plan from the `documents` fixture — pixel value is pure
  * integer arithmetic over (doc_id, band, y, x) — encode them with the
  * real codecs ([[Raster.GraftRasterCodec]] and the javax.imageio TIFF
  * writer), push them through the real decode+explode path
  * ([[Raster.decodePixels]]), and aggregate. The DuckDB twin never sees a
  * blob: it replays the generating arithmetic over `doc_id × band × y ×
  * x` ranges. A hash match therefore proves the ENCODE → MAGIC-DISPATCH →
  * DECODE → EXPLODE pipeline is lossless, not just that two SQL engines
  * agree.
  *
  * All compared aggregates are integer (counts / int-cast sums / min /
  * max) or exact-DECIMAL means per [[Canon]] — the pixel values are
  * small non-negative integers, exactly representable at every step.
  *
  * File selection is `doc_id % 17 = 3` so the raster corpus SCALES with
  * the fixture (sf0.1 → ~2.9k files); the decode runs inside the scan
  * task per file, so at 100 TB this is the reference's embarrassingly
  * parallel map (SURVEY §3.3) with split scheduling instead of static
  * block partitioning.
  */
object RasterQueries {

  private[queries] val W = 8
  private[queries] val H = 6

  /** Deterministic raster corpus: one blob per selected doc_id, band b ∈
    * [1, nBands], pixel (y, x) value `(id·7 + b·13 + y·3 + x·5) mod m`.
    * `tiff = true` routes through the baseline-RGB TIFF writer (3 bands,
    * m must be ≤ 256); otherwise the GraftRasterCodec float layout. The
    * lambda is self-contained (locals + static codec calls only) so the
    * closure serializes without dragging this object along. */
  private def blobs(s: SparkSession, dir: String, nBands: Int, m: Int,
                    tiff: Boolean): DataFrame = {
    import s.implicits._
    val (w, h) = (W, H)
    Tables.documents(s, dir)
      .filter(col("doc_id") % 17 === 3).select(col("doc_id")).as[Long]
      .map { id =>
        val bands = Array.tabulate(nBands) { b =>
          Array.tabulate(w * h) { pos =>
            val y = pos / w; val x = pos % w
            ((id * 7 + (b + 1) * 13 + y * 3 + x * 5) % m).toFloat
          }
        }
        val bytes =
          if (tiff) Raster.TiffCodec.encodeRgb(w, h, bands)
          else Raster.GraftRasterCodec.encode(w, h, bands)
        (id, s"dataset/doc_$id.tif", bytes)
      }
      .toDF("doc_id", "path", "content")
  }

  /** The real-TIFF blob corpus as (doc_id, path, content) — shared with
    * MediaQueries' `mm_decode_features` row so the multimodal decode runs
    * over the SAME manufactured TIFFs this module's oracles prove
    * lossless. */
  private[queries] def tiffBlobCorpus(s: SparkSession, dir: String): DataFrame =
    blobs(s, dir, nBands = 3, m = 256, tiff = true)

  /** Decoded pixel rows of [[tiffBlobCorpus]] (file, band, y, x, value)
    * through the real imageio path — shared with MediaQueries'
    * perceptual-hash dedup so its hashes come from DECODED bytes, not
    * the generating formula. */
  private[queries] def tiffPixels(s: SparkSession, dir: String): DataFrame =
    Raster.decodePixels(tiffBlobCorpus(s, dir))

  /** Shared oracle scaffolding: the SQL twin of [[blobs]]+decode — pixel
    * rows (file, band, y, x, v) for nBands bands mod m. */
  private def pxSql(nBands: Int, m: Int): String =
    s"""ids AS (SELECT doc_id FROM documents WHERE doc_id % 17 = 3),
       |px AS (
       |  SELECT doc_id, 'dataset/doc_' || doc_id || '.tif' AS file,
       |    CAST(band AS INTEGER) AS band, CAST(y AS INTEGER) AS y,
       |    CAST(x AS INTEGER) AS x,
       |    (doc_id*7 + band*13 + y*3 + x*5) % $m AS v
       |  FROM ids
       |  CROSS JOIN (SELECT unnest(range(1, ${nBands + 1})) AS band)
       |  CROSS JOIN (SELECT unnest(range(0, $H)) AS y)
       |  CROSS JOIN (SELECT unnest(range(0, $W)) AS x))""".stripMargin

  /** S2+S1: toy-codec decode audit — per (file, band) integer pixel
    * stats. A hash match proves header parse, band-major layout, and the
    * posexplode (y, x) reconstruction all at once. */
  def rasterBandStats(s: SparkSession, dir: String): DataFrame =
    Raster.decodePixels(blobs(s, dir, nBands = 4, m = 97, tiff = false))
      .groupBy(col("file"), col("band"))
      .agg(count(lit(1)).as("n_pixels"),
           sum(col("value").cast("long")).as("sum_v"),
           min(col("value").cast("int")).as("min_v"),
           max(col("value").cast("int")).as("max_v"))

  /** S2 via the REAL TIFF path: encodeRgb (javax.imageio writer) →
    * magic-byte dispatch → ImageIO decode → explode. Values are 0-255
    * ints, so the RGB roundtrip is lossless and oracle-exact. */
  def rasterTiffStats(s: SparkSession, dir: String): DataFrame =
    Raster.decodePixels(blobs(s, dir, nBands = 3, m = 256, tiff = true))
      .groupBy(col("file"), col("band"))
      .agg(count(lit(1)).as("n_pixels"),
           sum(col("value").cast("long")).as("sum_v"),
           min(col("value").cast("int")).as("min_v"),
           max(col("value").cast("int")).as("max_v"))

  /** A1 on decoded rasters (P2 nodata): the reference's level-1 filtered
    * mean over REAL decoded pixels — mod-97 values hit 0 (nodata)
    * regularly, so the filter does real work. */
  def rasterBandFileMeans(s: SparkSession, dir: String): DataFrame =
    BandStats.bandFileMeans(
      Raster.decodePixels(blobs(s, dir, nBands = 4, m = 97, tiff = false)),
      "file", "band", "value", exact = true)

  /** A2+A3+A4 on decoded rasters: the reference's COMPLETE two-level
    * pipeline (decode → filtered per-file means → per-band
    * mean/max/min-of-means) end-to-end on raster bytes. */
  def rasterStatsRollup(s: SparkSession, dir: String): DataFrame =
    BandStats.bandStats(
      BandStats.bandFileMeans(
        Raster.decodePixels(blobs(s, dir, nBands = 4, m = 97, tiff = false)),
        "file", "band", "value", exact = true),
      "band", exact = true)

  /** S4+F2+P3: the reference's composite program — bands 4,3,2 of each
    * decoded raster recombined to (r,g,b) per pixel, output path derived
    * by [[Composite.colorOutputPath]] (`dataset/foo.tif →
    * colorimage/foo_color.tif`), rolled up per file. */
  def rasterCompositePaths(s: SparkSession, dir: String): DataFrame =
    Composite.rgbComposite(
        Raster.decodePixels(blobs(s, dir, nBands = 4, m = 97, tiff = false)))
      .withColumn("out_file", Composite.colorOutputPath(col("file"), "colorimage"))
      .groupBy(col("file"), col("out_file"))
      .agg(count(lit(1)).as("n_pixels"),
           sum(col("r").cast("long")).as("sum_r"),
           sum(col("g").cast("long")).as("sum_g"),
           sum(col("b").cast("long")).as("sum_b"))

  val registry: Map[String, (SparkSession, String) => DataFrame] = Map(
    "raster_band_stats"      -> (rasterBandStats _),
    "raster_tiff_stats"      -> (rasterTiffStats _),
    "raster_band_file_means" -> (rasterBandFileMeans _),
    "raster_stats_rollup"    -> (rasterStatsRollup _),
    "raster_composite_paths" -> (rasterCompositePaths _),
  )

  private def statsSelect(withSrc: String): String =
    s"""SELECT file, band, COUNT(*) AS n_pixels,
       |CAST(SUM(v) AS BIGINT) AS sum_v,
       |CAST(MIN(v) AS INTEGER) AS min_v, CAST(MAX(v) AS INTEGER) AS max_v
       |FROM $withSrc GROUP BY 1, 2""".stripMargin

  /** Level-1 means over the synthetic pixels, quantized as
    * `BandStats.bandStats` quantizes them in exact mode. */
  private val rasterMeansSql =
    s"""SELECT file, band,
       |CAST(${sqlAvg("v")} AS DECIMAL(18,6)) AS mean_value
       |FROM px WHERE v <> 0 GROUP BY 1, 2""".stripMargin

  val oracles: Map[String, String] = Map(
    "raster_band_stats" ->
      s"""WITH ${pxSql(4, 97)}
         |${statsSelect("px")}""".stripMargin,
    "raster_tiff_stats" ->
      s"""WITH ${pxSql(3, 256)}
         |${statsSelect("px")}""".stripMargin,
    "raster_band_file_means" ->
      s"""WITH ${pxSql(4, 97)}
         |SELECT file, band, ${sqlAvg("v")} AS mean_value,
         |COUNT(v) AS n_valid FROM px WHERE v <> 0
         |GROUP BY file, band""".stripMargin,
    "raster_stats_rollup" ->
      s"""WITH ${pxSql(4, 97)}
         |SELECT band,
         |CAST(CAST(SUM(mean_value) AS VARCHAR) AS DOUBLE) / COUNT(*) AS mean_of_means,
         |CAST(CAST(MAX(mean_value) AS VARCHAR) AS DOUBLE) AS max_of_means,
         |CAST(CAST(MIN(mean_value) AS VARCHAR) AS DOUBLE) AS min_of_means,
         |COUNT(*) AS n_files FROM ($rasterMeansSql) GROUP BY band""".stripMargin,
    // pivot per pixel FIRST (mirrors rgbComposite's grouping) so
    // n_pixels counts pixel positions, not band rows
    "raster_composite_paths" ->
      s"""WITH ${pxSql(4, 97)},
         |rgb AS (
         |  SELECT doc_id, file, y, x,
         |    MAX(CASE WHEN band = 4 THEN v END) AS r,
         |    MAX(CASE WHEN band = 3 THEN v END) AS g,
         |    MAX(CASE WHEN band = 2 THEN v END) AS b
         |  FROM px WHERE band IN (2, 3, 4) GROUP BY 1, 2, 3, 4)
         |SELECT file,
         |  'colorimage/doc_' || doc_id || '_color.tif' AS out_file,
         |  COUNT(*) AS n_pixels,
         |  CAST(SUM(r) AS BIGINT) AS sum_r,
         |  CAST(SUM(g) AS BIGINT) AS sum_g,
         |  CAST(SUM(b) AS BIGINT) AS sum_b
         |FROM rgb GROUP BY 1, 2""".stripMargin,
  )
}
