package graft.sources

import java.io.ByteArrayInputStream
import java.nio.{ByteBuffer, ByteOrder}

import org.apache.hadoop.fs.{ChecksumFileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.plans.RasterPixels

/** Raster ingestion: directory of raster blobs → long-format pixels
  * DataFrame `pixels(file, band, y, x, value)` — the Spark-native form
  * of the reference's GDAL read path (`GDALOpen` + per-band
  * `GDALRasterIO`, band_mean_computation.cpp:12-31; SURVEY §1.4).
  *
  * Two wire formats, dispatched on magic bytes:
  *  - real TIFF via the JDK's bundled javax.imageio TIFF plugin
  *    (public API, JDK 9+) — the GeoTIFF-shaped path ([[TiffCodec]]);
  *  - [[GraftRasterCodec]], a deterministic header+Float32 layout for
  *    float bands beyond what baseline TIFF carries.
  * The decode is per-file inside the scan task, whole band planes at a
  * time like the reference's `GDALRasterIO`; the pixel frame is its own
  * plan node ([[graft.plans.RasterPixels]]), whose operator hands Spark
  * one columnar batch per decoded plane. Row consumers (filters, joins,
  * and aggregates keyed by anything but `file` and `band`) read pixel
  * rows. The composite sink reads the planes, and so does the partial
  * half of every aggregate keyed by `file` and/or `band` over
  * declarative functions, such as both level-1 means of
  * [[graft.operators.BandStats]]: it folds each plane in the scan task
  * ([[graft.plans.RasterPlaneAggregateExec]]).
  * Pixels never leave the task until an aggregation shuffles
  * *statistics*, not pixels, and every downstream operator is
  * format-agnostic.
  */
object Raster {

  /** Toy raster wire format: little-endian
    * [w: Int][h: Int][nBands: Int] then nBands × (w·h) Float32s,
    * band-major (the reference's band-at-a-time layout, SURVEY §1.3). */
  object GraftRasterCodec {
    def encode(w: Int, h: Int, bands: Array[Array[Float]]): Array[Byte] = {
      require(bands.forall(_.length == w * h), "band size must be w*h")
      val buf = ByteBuffer.allocate(12 + 4 * bands.length * w * h)
        .order(ByteOrder.LITTLE_ENDIAN)
      buf.putInt(w).putInt(h).putInt(bands.length)
      bands.foreach(b => b.foreach(buf.putFloat))
      buf.array()
    }

    /** → (w, h, bands). Malformed input → None (the reference turns I/O
      * failures into synthetic zero rows, band_mean_computation.cpp:13-16;
      * we surface them as an absent decode instead — explicit, testable). */
    def decode(bytes: Array[Byte]): Option[(Int, Int, Array[Array[Float]])] = {
      if (bytes == null || bytes.length < 12) return None
      val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      val w = buf.getInt; val h = buf.getInt; val nb = buf.getInt
      // compared by division: 4L * nb * w * h overflows Long for header
      // ints read from a non-raster blob, and the guard would then pass
      if (w <= 0 || h <= 0 || nb <= 0 ||
          w.toLong * h > (bytes.length - 12) / 4 / nb) return None
      val floats = buf.asFloatBuffer() // bulk reads, in the buffer's byte order
      Some((w, h, Array.fill(nb) { val plane = new Array[Float](w * h); floats.get(plane); plane }))
    }
  }

  /** Real TIFF decode/encode through javax.imageio (the JDK bundles a
    * TIFF reader AND writer since JDK 9 — public API, no native lib).
    * This is the GDAL stand-in the reference actually needs: its inputs
    * are multi-band GeoTIFFs read band-at-a-time
    * (band_mean_computation.cpp:12-26). Samples come off the decoded
    * `java.awt.image.Raster` per band, so any sample layout ImageIO
    * understands (banded, interleaved, palette) lands in the same
    * band-major float arrays as [[GraftRasterCodec]]. */
  object TiffCodec {
    // ImageIO's default useCache=true backs EVERY read/write stream with
    // a temp FILE: a corpus-scale decode pass then creates one /tmp file
    // per image, and the creations contend on the filesystem — measured
    // as ANTI-scaling (28k decodes: 4.8 s at 8 cores, 8.0 s at 32).
    // Blobs here are in-memory byte arrays; memory-cached streams are
    // strictly better. JVM-wide static, set once per executor.
    javax.imageio.ImageIO.setUseCache(false)

    /** TIFF magic: little-endian "II*\0" or big-endian "MM\0*". */
    def isTiff(bytes: Array[Byte]): Boolean =
      bytes != null && bytes.length >= 4 &&
        ((bytes(0) == 'I' && bytes(1) == 'I' && bytes(2) == 42 && bytes(3) == 0) ||
         (bytes(0) == 'M' && bytes(1) == 'M' && bytes(2) == 0 && bytes(3) == 42))

    def decode(bytes: Array[Byte]): Option[(Int, Int, Array[Array[Float]])] = {
      if (!isTiff(bytes)) return None
      val img = javax.imageio.ImageIO.read(new ByteArrayInputStream(bytes))
      if (img == null) return None
      val raster = img.getRaster
      val (w, h, nb) = (raster.getWidth, raster.getHeight, raster.getNumBands)
      Some((w, h, Array.tabulate(nb)(b =>
        raster.getSamples(0, 0, w, h, b, new Array[Float](w * h)))))
    }

    /** Encode three 0-255 bands as a baseline RGB TIFF (band 1→R, 2→G,
      * 3→B — the reference's band-number convention, 1-based). */
    def encodeRgb(w: Int, h: Int, bands: Array[Array[Float]]): Array[Byte] = {
      require(bands.length == 3, "baseline RGB TIFF carries exactly 3 bands")
      require(bands.forall(_.length == w * h), "band size must be w*h")
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      // the image's own 0xRRGGBB pixels, row-major with stride w: the
      // values setRGB would store, without its per-pixel colour model call
      val rgb = img.getRaster.getDataBuffer.asInstanceOf[java.awt.image.DataBufferInt].getData
      def clamp(f: Float): Int = math.max(0, math.min(255, f.toInt))
      var i = 0
      while (i < w * h) {
        rgb(i) = (clamp(bands(0)(i)) << 16) | (clamp(bands(1)(i)) << 8) | clamp(bands(2)(i))
        i += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      val ok = javax.imageio.ImageIO.write(img, "tiff", bos)
      require(ok, "no TIFF ImageIO writer available (requires JDK 9+)")
      bos.toByteArray
    }
  }

  /** Format dispatch: TIFF by magic, else the toy codec. */
  def decodeAny(bytes: Array[Byte]): Option[(Int, Int, Array[Array[Float]])] =
    if (TiffCodec.isTiff(bytes)) TiffCodec.decode(bytes)
    else GraftRasterCodec.decode(bytes)

  /** The one decode walk over `(path, content)` rows, in row order: per
    * decodable blob, `(file, w, h, planes)` with `file` the path cloned
    * out of the (reused) row, null for a null path, and `planes` band
    * ascending. Undecodable blobs yield nothing. The pixel operator
    * ([[graft.plans.RasterPixelsExec]]), the plane aggregate
    * ([[graft.plans.RasterPlaneAggregateExec]]) and [[writeCompositeTiff]]
    * all read their blobs through it. */
  def decodeBlobs(rows: Iterator[InternalRow])
      : Iterator[(UTF8String, Int, Int, Array[Array[Float]])] =
    rows.flatMap { r =>
      val file = Option(r.getUTF8String(0)).map(_.clone()).orNull
      decodeAny(r.getBinary(1)).map { case (w, h, planes) => (file, w, h, planes) }
    }

  private val PixelSchema: StructType = new StructType()
    .add("file", StringType).add("band", IntegerType, nullable = false)
    .add("y", IntegerType).add("x", IntegerType).add("value", FloatType, nullable = false)

  /** The decode core over ANY (path, content) DataFrame — the binaryFile
    * scan ([[pixels]]) and in-plan blob derivations (the oracle-checked
    * `raster_*` queries, which manufacture deterministic blobs from the
    * documents fixture) share this exact path. Returns the frame
    * `(file, band, y, x, value)`, with `band` and `value` not null: per
    * file, band ascending, then row-major pixels; undecodable blobs yield
    * no rows.
    * The decode runs inside the upstream task and hands its planes to
    * whatever filter, join or aggregate follows as columnar batches, read
    * as pixel rows; a `(file, band)`-keyed aggregate instead folds each
    * plane directly in its partial half
    * ([[graft.plans.RasterPlaneAggregateExec]]), with no pixel rows. The
    * bare frame is also what [[writeCompositeTiff]] accepts. */
  def decodePixels(files: DataFrame): DataFrame =
    ColumnShim.frame(files.sparkSession, RasterPixels(DataTypeUtils.toAttributes(PixelSchema),
      files.select(col("path"), col("content")).queryExecution.analyzed))

  /** binaryFile scan (+ glob pushdown) → [[decodePixels]]. Column
    * pruning keeps `content` out of any plan that only needs metadata. */
  def pixels(spark: SparkSession, dir: String, glob: String = "*.graftraster"): DataFrame =
    decodePixels(Tables.binaryFiles(spark, dir, glob)
      .select(col("path"), col("content")))

  /** Scala-side twin of [[graft.operators.Composite.colorOutputPath]]:
    * `dataset/foo.tif → <subdir>/foo_color.tif` (the reference's naming,
    * color_image_composite.cpp:15-19,173). */
  def colorOutputName(path: String, subdir: String): String = {
    val base = path.substring(path.lastIndexOf('/') + 1)
    subdir + "/" + base.replaceAll("\\.tif$", "_color.tif")
  }

  /** REAL `.tif` composite sink — the reference's actual output format
    * (`color_image_composite.cpp:11-57,173`: one GTiff per input, output
    * band order R,G,B = input bands 4,3,2, `<stem>_color.tif` under
    * `colorimage/`). Input: the frame [[decodePixels]] (or [[pixels]])
    * returns, as it returns it; any other frame (repartitioned, unioned,
    * filtered, projected, hinted) is refused by name and nothing is
    * written. The sink runs that frame's `(path, content)` source itself,
    * map-only like the reference's per-process loop (SURVEY §3.3): each
    * task decodes its files, takes bands 4,3,2 as planes, encodes a
    * baseline RGB TIFF ([[TiffCodec.encodeRgb]]) and writes it through
    * `outDir`'s Hadoop `FileSystem`, without `.crc` files. No pixel rows,
    * no shuffle. A file without band 4, 3 or 2 is refused by name;
    * undecodable blobs are skipped, as they yield no pixel rows. Eager: the
    * writes happen exactly once, here, in one job; a source that lists a
    * path twice is refused after the fact. Returns the audit frame
    * (file, out_path, w, h, n_bytes). */
  def writeCompositeTiff(pixels: DataFrame, outDir: String,
                         subdir: String = "colorimage"): DataFrame = {
    val spark = pixels.sparkSession
    import spark.implicits._
    val files = pixels.queryExecution.analyzed match {
      case p: RasterPixels => ColumnShim.frame(spark, p.child)
      case other => throw new IllegalArgumentException("writeCompositeTiff takes the frame " +
        s"decodePixels returns, not a ${other.nodeName} over it")
    }
    val conf = spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sessionState.newHadoopConf()))
    val audit = files.queryExecution.toRdd.mapPartitions(decodeBlobs(_).map {
      case (path, w, h, bands) =>
        val file = path.toString
        for (band <- Seq(4, 3, 2))
          require(band <= bands.length, s"composite input $file has no band $band")
        val bytes = TiffCodec.encodeRgb(w, h, Array(bands(3), bands(2), bands(1)))
        val dest = new Path(outDir, colorOutputName(file, subdir))
        val fs = dest.getFileSystem(conf.value.value) match {
          case c: ChecksumFileSystem => c.getRawFileSystem
          case fs => fs
        }
        val os = fs.create(dest)
        try os.write(bytes) finally os.close()
        (file, dest.toString, w, h, bytes.length.toLong)
    }).collect()
    val repeated = audit.groupBy(_._1).collect {
      case (file, runs) if runs.length > 1 => s"$file written ${runs.length} times" }
    require(repeated.isEmpty, "composite source lists a path more than once: " +
      repeated.toSeq.sorted.mkString(", "))
    audit.toSeq.toDF("file", "out_path", "w", "h", "n_bytes")
  }
}
