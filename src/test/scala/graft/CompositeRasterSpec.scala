package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.operators.Composite
import graft.sources.Raster
import graft.sources.Raster.GraftRasterCodec

/** Golden composite test (SURVEY §5.2): fixed synthetic 4×4 6-band
  * raster → byte-exact RGB output with the reference's band contract
  * (R,G,B) = (band4, band3, band2) (color_image_composite.cpp:34-53,
  * 179-181), plus the decode → long-format → pivot pipeline end-to-end
  * and the path-derivation rule. */
class CompositeRasterSpec extends SparkSpec {
  import spark.implicits._

  private val W = 4; private val H = 4
  /** band b, pixel (y,x) → 100·b + 10·y + x — unique, easy to assert. */
  private def bandVals(b: Int): Array[Float] =
    Array.tabulate(W * H)(p => (100 * b + 10 * (p / W) + (p % W)).toFloat)

  test("codec round-trips") {
    val bands = Array.tabulate(6)(i => bandVals(i + 1))
    bands(5)(0) = -0.0f; bands(5)(1) = Float.MinPositiveValue; bands(5)(2) = Float.NaN
    val Some((w, h, back)) = GraftRasterCodec.decode(
      GraftRasterCodec.encode(W, H, bands))
    assert(w == W && h == H && back.length == 6)
    def bits(b: Array[Array[Float]]) = b.map(_.map(java.lang.Float.floatToRawIntBits).toSeq).toSeq
    assert(bits(back) == bits(bands))
  }

  test("decodePixels: pinned schema and row order (band ascending, then row-major)") {
    val files = Seq(("a.graftraster", GraftRasterCodec.encode(3, 2,
      Array.tabulate(2)(b => Array.tabulate(6)(p => (10 * b + p).toFloat)))),
      ("junk", Array[Byte](1, 2, 3))).toDF("path", "content")
    val px = Raster.decodePixels(files)
    assert(px.schema.map(f => (f.name, f.dataType.simpleString, f.nullable)) == Seq(
      ("file", "string", true), ("band", "int", false), ("y", "int", true),
      ("x", "int", true), ("value", "float", false)))
    assert(px.collect().toSeq.map(r => (r.getString(0), r.getInt(1), r.getInt(2),
      r.getInt(3), r.getFloat(4))) == (for (b <- 0 until 2; p <- 0 until 6)
      yield ("a.graftraster", b + 1, p / 3, p % 3, (10 * b + p).toFloat)))
  }

  test("a self-join of a pixel frame resolves") {
    val files = Seq(("s", GraftRasterCodec.encode(2, 2,
      Array.tabulate(2)(b => Array.tabulate(4)(p => (b * 4 + p).toFloat))))).toDF("path", "content")
    val px = Raster.decodePixels(files)
    val (b1, b2) = (px.filter($"band" === 1).as("l"), px.filter($"band" === 2).as("r"))
    val joined = b1.join(b2, $"l.y" === $"r.y" && $"l.x" === $"r.x")
      .select($"l.y", $"l.x", ($"r.value" - $"l.value").as("d")).orderBy("y", "x")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getFloat(2))).toSeq
    // band 2 = band 1 + 4 at every pixel
    assert(joined == Seq((0, 0, 4f), (0, 1, 4f), (1, 0, 4f), (1, 1, 4f)))
  }

  test("malformed blobs decode to None (reference zeros-on-error, cpp:13-16)") {
    assert(GraftRasterCodec.decode(null).isEmpty)
    assert(GraftRasterCodec.decode(Array[Byte](1, 2, 3)).isEmpty)
    // header promising more data than present
    val truncated = GraftRasterCodec.encode(W, H, Array.tabulate(6)(i => bandVals(i + 1)))
      .take(20)
    assert(GraftRasterCodec.decode(truncated).isEmpty)
    // a 12-byte non-raster blob: its header ints make 4·nb·w·h wrap Long
    assert(GraftRasterCodec.decode("hello world!".getBytes("US-ASCII")).isEmpty)
  }

  test("golden composite: (r,g,b) = bands (4,3,2) per pixel") {
    val dir = Files.createTempDirectory("graft_raster").toFile
    val blob = GraftRasterCodec.encode(W, H, Array.tabulate(6)(i => bandVals(i + 1)))
    Files.write(new java.io.File(dir, "scene1.graftraster").toPath, blob)

    val px = Raster.pixels(spark, dir.getAbsolutePath)
    assert(px.count() == 6L * W * H)

    val rgb = Composite.rgbComposite(px).orderBy("y", "x").collect()
    assert(rgb.length == W * H)
    rgb.foreach { r =>
      val (y, x) = (r.getInt(1), r.getInt(2))
      assert(r.getFloat(3) == 400f + 10 * y + x, "r must be band 4")
      assert(r.getFloat(4) == 300f + 10 * y + x, "g must be band 3")
      assert(r.getFloat(5) == 200f + 10 * y + x, "b must be band 2")
    }
  }

  test("output path derivation (cpp:15-19)") {
    val out = Seq("dataset/foo.tif").toDF("path")
      .select(Composite.colorOutputPath($"path", "colorimage").as("p"))
      .as[String].head()
    assert(out == "colorimage/foo_color.tif")
  }

  test("TIFF roundtrip: encodeRgb → isTiff → ImageIO decode, byte-exact") {
    val rgb = Array.tabulate(3)(b =>
      Array.tabulate(W * H)(p => ((b * 83 + p * 7) % 256).toFloat))
    val blob = Raster.TiffCodec.encodeRgb(W, H, rgb)
    assert(Raster.TiffCodec.isTiff(blob), "writer output must carry TIFF magic")
    assert(!Raster.TiffCodec.isTiff(GraftRasterCodec.encode(W, H, rgb)))
    val Some((w, h, back)) = Raster.TiffCodec.decode(blob)
    assert(w == W && h == H && back.length == 3)
    assert(back.zip(rgb).forall { case (a, b) => a.sameElements(b) },
           "0-255 RGB samples must survive the ImageIO roundtrip exactly")
    // decodeAny dispatches on magic to the same result
    val Some((_, _, viaAny)) = Raster.decodeAny(blob)
    assert(viaAny.zip(rgb).forall { case (a, b) => a.sameElements(b) })
  }

  test("TIFF blobs flow through decodePixels (magic dispatch in-plan)") {
    val rgb = Array.tabulate(3)(b =>
      Array.tabulate(W * H)(p => ((b * 83 + p * 7) % 256).toFloat))
    val files = Seq(("dataset/t.tif", Raster.TiffCodec.encodeRgb(W, H, rgb)))
      .toDF("path", "content")
    val px = Raster.decodePixels(files)
    assert(px.count() == 3L * W * H)
    val band2sum = px.filter($"band" === 2).agg(sum($"value")).head().getDouble(0)
    assert(band2sum == rgb(1).sum.toDouble)
  }

  /** Golden roundtrip for the REAL `.tif` composite sink
    * (color_image_composite.cpp:34-53,173-181): write a fixed synthetic
    * corpus, read the emitted files back through the library's own
    * decoder, and byte-compare every band plane. Values stay in [0,256)
    * so the writer's unsigned-byte clamp is the identity. */
  test("writeCompositeTiff golden roundtrip: R,G,B = bands 4,3,2, _color.tif naming") {
    val inDir = Files.createTempDirectory("graft_tifin").toFile
    val outDir = Files.createTempDirectory("graft_tifout").toFile
    // band b (1..6), pixel p → (37·b + 5·y + x) mod 256 — unique per
    // (file shift), integer, clamp-free
    def vals(shift: Int, b: Int): Array[Float] =
      Array.tabulate(W * H)(p =>
        ((shift + 37 * b + 5 * (p / W) + (p % W)) % 256).toFloat)
    for ((name, shift) <- Seq("scene1.tif" -> 0, "scene2.tif" -> 11)) {
      val blob = GraftRasterCodec.encode(W, H, Array.tabulate(6)(i => vals(shift, i + 1)))
      Files.write(new java.io.File(inDir, name).toPath, blob)
    }

    val px = Raster.pixels(spark, inDir.getAbsolutePath, "*.tif")
    val audit = Raster.writeCompositeTiff(px, outDir.getAbsolutePath)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2),
                           r.getInt(3), r.getLong(4))).sortBy(_._1)
    assert(audit.length == 2)
    assert(audit.forall { case (_, _, w, h, n) => w == W && h == H && n > 0 })
    // naming contract: <outDir>/colorimage/<stem>_color.tif
    assert(audit.map(_._2.split('/').takeRight(2).mkString("/")).toSeq ==
      Seq("colorimage/scene1_color.tif", "colorimage/scene2_color.tif"))

    // roundtrip 1: direct decode of the written bytes, byte-exact planes
    for ((file, outPath, _, _, _) <- audit) {
      val shift = if (file.endsWith("scene1.tif")) 0 else 11
      val Some((w, h, bands)) = Raster.TiffCodec.decode(
        Files.readAllBytes(java.nio.file.Paths.get(outPath)))
      assert(w == W && h == H && bands.length == 3)
      // output band order R,G,B = input bands 4,3,2 (cpp:34-53)
      assert(bands(0).sameElements(vals(shift, 4)), "R plane must be input band 4")
      assert(bands(1).sameElements(vals(shift, 3)), "G plane must be input band 3")
      assert(bands(2).sameElements(vals(shift, 2)), "B plane must be input band 2")
    }

    // roundtrip 2: the emitted files re-enter the DISTRIBUTED scan path
    val back = Raster.pixels(spark, outDir.getAbsolutePath + "/colorimage",
                             "*_color.tif")
    assert(back.count() == 2L * 3 * W * H)
    val b1 = back.filter($"file".endsWith("scene1_color.tif") && $"band" === 1)
      .agg(sum($"value")).head().getDouble(0)
    assert(b1 == vals(0, 4).sum.toDouble, "re-scanned R plane ≡ band 4 of scene1")
    // written through the Hadoop FileSystem without checksum side files
    assert(new java.io.File(outDir, "colorimage").list().sorted.toSeq ==
      Seq("scene1_color.tif", "scene2_color.tif"))
  }

  test("writeCompositeTiff refuses an input without band 4 by name") {
    val inDir = Files.createTempDirectory("graft_tifmixed").toFile
    val outDir = Files.createTempDirectory("graft_tifmixed_out").toFile
    // a 3-band RGB TIFF next to a 6-band raster: the RGB file has no
    // band 4 to become the composite's R plane
    val rgb = Array.tabulate(3)(b => Array.tabulate(W * H)(p => ((b + p) % 256).toFloat))
    Files.write(new java.io.File(inDir, "rgb.tif").toPath,
                Raster.TiffCodec.encodeRgb(W, H, rgb))
    Files.write(new java.io.File(inDir, "scene6.tif").toPath,
                GraftRasterCodec.encode(W, H, Array.tabulate(6)(i => bandVals(i + 1))))
    val px = Raster.pixels(spark, inDir.getAbsolutePath, "*.tif")
    val e = intercept[Exception] {
      Raster.writeCompositeTiff(px, outDir.getAbsolutePath).collect()
    }
    val msgs = messages(e)
    assert(msgs.exists(m => m.contains("rgb.tif") && m.contains("has no band 4")),
           msgs.mkString("\n"))
  }

  /** `n` 6-band 8×8 rasters named `scene<i>.tif`; returns their pixel rows
    * and a fresh output directory. */
  private def scenes(n: Int): (org.apache.spark.sql.DataFrame, String) = {
    val inDir = Files.createTempDirectory("graft_scenes").toFile
    for (i <- 1 to n)
      Files.write(new java.io.File(inDir, s"scene$i.tif").toPath,
        GraftRasterCodec.encode(8, 8, Array.tabulate(6)(b =>
          Array.tabulate(64)(p => ((i + 37 * b + p) % 256).toFloat))))
    (Raster.pixels(spark, inDir.getAbsolutePath, "*.tif"),
     Files.createTempDirectory("graft_scenes_out").toString)
  }

  private def messages(e: Throwable): Seq[String] =
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq

  /** The sink's refusal of `frame`, checked to name `node` and to leave
    * `out` without a file. */
  private def refused(frame: org.apache.spark.sql.DataFrame, out: String, node: String): Unit = {
    val msgs = messages(intercept[Exception](Raster.writeCompositeTiff(frame, out)))
    assert(msgs.exists(_.contains(s"not a $node over it")), msgs.mkString("\n"))
    assert(Files.walk(java.nio.file.Paths.get(out)).filter(Files.isRegularFile(_)).count() == 0)
  }

  test("writeCompositeTiff refuses repartitioned pixel rows by name") {
    val (px, out) = scenes(2)
    refused(px.repartition(3), out, "Repartition")
  }

  test("writeCompositeTiff refuses a union of pixel frames by name") {
    val (px, out) = scenes(2)
    refused(px.union(px), out, "Union")
  }

  test("writeCompositeTiff refuses band-filtered and projected pixel frames by name") {
    val (px, out) = scenes(2)
    refused(px.filter($"band".isin(4, 3, 2)), out, "Filter")
    refused(px.select("file", "band", "y", "x", "value"), out, "Project")
  }

  test("writeCompositeTiff refuses a source that lists a path twice as a duplicate write") {
    val inDir = Files.createTempDirectory("graft_dup").toFile
    Files.write(new java.io.File(inDir, "scene1.tif").toPath,
      GraftRasterCodec.encode(W, H, Array.tabulate(6)(i => bandVals(i + 1))))
    val blobs = graft.sources.Tables.binaryFiles(spark, inDir.getAbsolutePath, "*.tif")
    val msgs = messages(intercept[Exception] {
      Raster.writeCompositeTiff(Raster.decodePixels(blobs.union(blobs)),
        Files.createTempDirectory("graft_dup_out").toString)
    })
    assert(msgs.exists(_.contains("scene1.tif written 2 times")), msgs.mkString("\n"))
  }

  test("writeCompositeTiff is map-only: its stages write no shuffle bytes") {
    import org.apache.spark.scheduler._
    val (px, out) = scenes(3)
    val sc = spark.sparkContext
    val (sink, marker) = ("composite-sink-probe", "composite-sink-probe-end")
    val (jobs, stages, shuffled) = (new java.util.concurrent.atomic.AtomicInteger,
      new java.util.concurrent.atomic.AtomicInteger, new java.util.concurrent.atomic.AtomicLong)
    val drained = new java.util.concurrent.CountDownLatch(1)
    @volatile var markerJob = -1
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        shuffled.addAndGet(e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.job.description")) match {
          case Some(`marker`) => markerJob = e.jobId
          case Some(`sink`) => jobs.incrementAndGet()
          case _ =>
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob) drained.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobDescription(sink)
      try assert(Raster.writeCompositeTiff(px, out).collect().length == 3)
      finally sc.setJobDescription(null)
      // the listener bus delivers in order: once the marker job's end
      // arrives, every stage of the sink has been counted
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    assert(jobs.get == 1, s"the sink ran ${jobs.get} jobs")
    assert(stages.get > 1, "the listener saw the sink's stages")
    assert(shuffled.get == 0L, s"the sink shuffled ${shuffled.get} bytes")
  }
}
