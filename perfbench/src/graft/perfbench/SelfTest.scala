package graft.perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, desc, when}

/** The benchmark's own checks, on tiny inputs:
  * `python3 perfbench/selftest.py` (which also checks the metric names). */
object SelfTest {
  private val results = mutable.ArrayBuffer.empty[Boolean]

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => e.printStackTrace(); false }
    println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $name")
    results += ok
  }

  private def files(dir: Path): Seq[Array[Byte]] = {
    val s = Files.list(dir)
    try s.sorted().toArray.toSeq.map(p => Files.readAllBytes(p.asInstanceOf[Path]))
    finally s.close()
  }

  /** Rewrite one non-nodata pixel of `band` (1-based) in the first file
    * that has one. */
  private def corruptPixel(c: Corpus, dir: Path, band: Int): Unit = {
    val i = (0 until c.files).find(i => c.planes(i)(band - 1).exists(_ != 0f)).get
    val f = dir.resolve(c.name(i))
    val plane = c.planes(i)(band - 1)
    val p = plane.indexWhere(_ != 0f)
    val buf = ByteBuffer.wrap(Files.readAllBytes(f)).order(ByteOrder.LITTLE_ENDIAN)
    buf.putFloat(12 + 4 * ((band - 1) * c.pixelsPerBand + p), plane(p) % 255 + 1)
    Files.write(f, buf.array())
  }

  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0))
    val small = Corpus(7, 4, 16, 12)

    check("the same seed gives a byte-identical corpus") {
      small.write(work.resolve("a")); Corpus(7, 4, 16, 12).write(work.resolve("b"))
      files(work.resolve("a")).map(_.toSeq) == files(work.resolve("b")).map(_.toSeq)
    }
    check("another seed gives a different corpus of the same size") {
      Corpus(8, 4, 16, 12).write(work.resolve("c"))
      val (a, c) = (files(work.resolve("a")), files(work.resolve("c")))
      a.map(_.length) == c.map(_.length) && a.map(_.toSeq) != c.map(_.toSeq)
    }

    val spark = Main.startSession(2, work)
    def raster(tag: String): RasterPipeline = {
      val w = new RasterPipeline(small, work.resolve(tag)); w.generate(); w
    }
    check("raster_pipeline matches the plain-Scala expectation exactly") {
      raster("s0").pass(spark, 0, None).ok
    }
    check("the stats check catches a one-pixel corruption") {
      val w = raster("s1")
      corruptPixel(small, w.inputDir, band = 1)
      w.compositePass(spark, 0).ok && !w.statsPass(spark, 0).ok
    }
    check("the composite check passes, then catches a one-pixel corruption") {
      val w = raster("c0")
      val before = w.compositePass(spark, 0).ok
      corruptPixel(small, w.inputDir, band = 4)
      before && !w.compositePass(spark, 1).ok
    }
    check("an undecodable file reads as failed, by name in the trace") {
      val w = raster("s2")
      // shorter than the codec's 12-byte header
      Files.write(w.inputDir.resolve(small.name(1)), "junk".getBytes)
      val plain = w.pass(spark, 0, None)
      val tr = new Tracer(spark.sparkContext)
      spark.sparkContext.addSparkListener(tr)
      val traced = w.pass(spark, 1, Some(tr))
      spark.sparkContext.removeSparkListener(tr)
      // the traced pass has several messages (decode probe, stats check,
      // composite check) for its one failed operation
      !plain.ok && traced.layers("raster.undecodable") == 1.0 &&
        traced.failures.exists(_.contains(small.name(1))) &&
        traced.failures.size > 1 && traced.failed == 1
    }
    check("the row checksum ignores order, survives parquet, sees one value") {
      val df = spark.range(200).selectExpr("id", "CAST(id AS DOUBLE) / 3 AS d",
        "CAST(id AS STRING) AS s", "array(id, id + 1) AS a", "map(id, 'x') AS m")
      val dest = work.resolve("rows").toString
      df.write.parquet(dest)
      val h = RowHash.of(df)
      h == RowHash.of(df.orderBy(desc("id"))) && h == RowHash.of(spark.read.parquet(dest)) &&
        h != RowHash.of(df.withColumn("d", when(col("id") === 42, col("d") + 1).otherwise(col("d"))))
    }
    check("a throwing query reads as failed") {
      val fine = (s: SparkSession, _: String) => s.range(10).toDF()
      val w = new RegistryMix(1, "", Map("fine" -> RowHash.of(fine(spark, ""))),
        Seq("fine", "throws"), Map(
          "fine" -> fine,
          "throws" -> ((_: SparkSession, _: String) => throw new IllegalStateException("boom"))))
      val r = w.pass(spark, 0, None)
      r.attempted == 2 && r.failed == 1 && r.failures.size == 1 &&
        r.failures.head.startsWith("throws:")
    }
    // Main.run with --seconds 0 runs exactly Main.MinPasses passes; every
    // odd-numbered one passes in 1.5 s, every even-numbered one fails
    def flakyRun(tag: String, fail: Int => PassResult): String = {
      val flaky = new Workload {
        val name = "flaky"
        def generate(): Unit = ()
        def warmUp(spark: SparkSession): Unit = ()
        def pass(spark: SparkSession, n: Int, tr: Option[Tracer]): PassResult =
          if (n % 2 == 0) fail(n) else PassResult.single(1.5, Nil)
        def throughput(seconds: Double): (String, Double) = "mpix_per_s" -> 1 / seconds
      }
      Main.run(Main.Opts("flaky", 1, 0, trace = false, 2, work.resolve(tag),
        work.resolve(s"$tag.json"), None, "", None), flaky)
    }
    val half = s"\"attempted\":${Main.MinPasses},\"failed\":${(Main.MinPasses + 1) / 2},"
    check("a throwing pass counts as failed and stays out of pass_s") {
      val out = flakyRun("m1", _ => throw new RuntimeException("boom"))
      out.contains(half) && out.contains("\"pass_s\":1.5")
    }
    check("a pass with two failure messages counts as one failed operation") {
      val out = flakyRun("m2", _ => PassResult.single(1.0, Seq("first", "second")))
      out.contains(half) && out.contains("\"pass_s\":1.5")
    }
    SparkSession.getActiveSession.foreach(Main.stopSession)
    println(s"[selftest] ${results.count(identity)}/${results.size} passed")
    sys.exit(if (results.forall(identity)) 0 else 1)
  }
}
