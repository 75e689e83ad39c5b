package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import graft.sources.Raster.GraftRasterCodec

/** Seeded 6-band raster corpus in the engine's float codec.
  *
  * Pixel values are integers 1..255, a fixed share of pixels is nodata
  * (0), and a few whole (file, band) groups are all-nodata. Integer
  * values make both checks exact: the `exact = true` band statistics
  * are order-independent DECIMAL sums, and the RGB composite survives
  * the 8-bit TIFF round trip unchanged.
  *
  * Every file draws from its own generator seeded by (seed, file index),
  * so a file's bytes never depend on how many files precede it.
  */
final case class Corpus(seed: Long, files: Int, width: Int, height: Int) {
  import Corpus._

  val bands = 6
  def pixelsPerBand: Int = width * height
  /** Decoded pixel rows of one pass: files × bands × w × h. */
  def pixelRows: Long = files.toLong * bands * pixelsPerBand
  def name(i: Int): String = f"scene_$i%04d.tif"

  /** (file, band) groups that are all nodata: `AllNodataGroups` distinct
    * pairs, never all six bands of one file. Bands are 1-based. */
  lazy val emptyGroups: Set[(Int, Int)] = {
    val rng = new SplittableRandom(seed ^ 0x5eed0fa11L)
    val out = scala.collection.mutable.LinkedHashSet.empty[(Int, Int)]
    while (out.size < math.min(AllNodataGroups, files))
      out += ((rng.nextInt(files), 1 + rng.nextInt(bands)))
    out.toSet
  }

  /** Band-major planes of file `i`, exactly as written to disk. */
  def planes(i: Int): Array[Array[Float]] = {
    val rng = new SplittableRandom(seed * 1000003L + i)
    Array.tabulate(bands) { b =>
      val empty = emptyGroups((i, b + 1))
      val plane = new Array[Float](pixelsPerBand)
      var p = 0
      while (p < plane.length) {
        val v = 1 + rng.nextInt(255)
        plane(p) = if (empty || rng.nextInt(NodataOneIn) == 0) 0f else v.toFloat
        p += 1
      }
      plane
    }
  }

  def bytes(i: Int): Array[Byte] = GraftRasterCodec.encode(width, height, planes(i))

  /** Write every file into `dir` (created); returns the bytes written. */
  def write(dir: Path): Long = {
    Files.createDirectories(dir)
    (0 until files).map { i =>
      val b = bytes(i)
      Files.write(dir.resolve(name(i)), b)
      b.length.toLong
    }.sum
  }

  /** The paper's goal-2 answer computed in plain Scala, with the engine's
    * exact-mode arithmetic: level-1 mean = exact integer sum / count over
    * non-zero pixels (groups without any are dropped); level 2 works on
    * those means rounded HALF_UP to DECIMAL(18,6), as Spark's double →
    * decimal cast does. */
  def expectedStats: Seq[BandExpect] = {
    val sums = Array.ofDim[Long](files, bands)
    val counts = Array.ofDim[Long](files, bands)
    for (i <- 0 until files) {
      val ps = planes(i)
      for (b <- 0 until bands) {
        var s = 0L; var n = 0L; var p = 0
        val plane = ps(b)
        while (p < plane.length) {
          if (plane(p) != 0f) { s += plane(p).toLong; n += 1 }
          p += 1
        }
        sums(i)(b) = s; counts(i)(b) = n
      }
    }
    (0 until bands).flatMap { b =>
      val means = (0 until files).filter(i => counts(i)(b) > 0).map { i =>
        BigDecimal(sums(i)(b).toDouble / counts(i)(b))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      }
      if (means.isEmpty) None else Some(BandExpect(b + 1,
        means.sum.bigDecimal.doubleValue / means.size,
        means.max.bigDecimal.doubleValue,
        means.min.bigDecimal.doubleValue,
        means.size.toLong))
    }
  }
}

object Corpus {
  /** The benchmark's corpus: 32 files of 6 bands at 256 x 256 pixels. */
  val BenchFiles = 32
  val BenchSide = 256
  /** One pixel in `NodataOneIn` is nodata (outside the empty groups). */
  val NodataOneIn = 10
  val AllNodataGroups = 3
}

/** One row of `BandStats.bandStats` output. */
final case class BandExpect(band: Int, meanOfMeans: Double, maxOfMeans: Double,
                            minOfMeans: Double, nFiles: Long)
