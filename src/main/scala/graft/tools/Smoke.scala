package graft.tools

import org.apache.spark.sql.SparkSession
import graft.SparkEntry
import graft.sources.Tables

/** Dev-only smoke: read every fixture table (incl. the timestamp[ns]
  * events parquet) and run every registered query at sf0.001. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = graft.GraftSession.tuned(
        SparkSession.builder().master("local[8]"), 8)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.all.foreach { t =>
      try {
        val df = Tables.load(spark, dir, t)
        println(s"[smoke] $t rows=${df.count()} schema=${df.schema.simpleString}")
      } catch { case e: Throwable =>
        println(s"[smoke] $t FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    SparkEntry.queries.foreach { case (name, fn) =>
      try {
        val df = fn(spark, dir)
        println(s"[smoke] query $name rows=${df.count()}")
        df.show(3, truncate = false)
      } catch { case e: Throwable =>
        println(s"[smoke] query $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    println(s"[smoke] entry rows=${SparkEntry.entry(spark).count()}")

    // raster pipeline end-to-end: encode blob → binaryFile scan → decode →
    // long-format pixels → RGB composite → TIFF sink
    val rdir = java.nio.file.Files.createTempDirectory("graft_smoke_raster")
    val bands = Array.tabulate(6)(b => Array.tabulate(16)(p => (100 * (b + 1) + p).toFloat))
    java.nio.file.Files.write(rdir.resolve("scene.graftraster"),
      graft.sources.Raster.GraftRasterCodec.encode(4, 4, bands))
    val px = graft.sources.Raster.pixels(spark, rdir.toString)
    val rgb = graft.operators.Composite.rgbComposite(px)
    val audit = graft.sources.Raster.writeCompositeTiff(px, rdir.resolve("out").toString)
    println(s"[smoke] raster pixels=${px.count()} rgb=${rgb.count()} " +
      s"sink=${audit.count()}")

    // streaming end-to-end over a file stream of the events fixture
    // watermarks require TIMESTAMP (not NTZ) event time
    val events = graft.sources.Tables.events(spark, dir)
      .withColumn("ts", org.apache.spark.sql.functions.col("ts").cast("timestamp"))
    val sdir = java.nio.file.Files.createTempDirectory("graft_smoke_stream")
    events.write.mode("overwrite").parquet(sdir.resolve("in").toString)
    val stream = spark.readStream.schema(events.schema)
      .parquet(sdir.resolve("in").toString)
    val q = graft.streaming.StreamOps.tumblingCounts(stream)
      .writeStream.format("memory").queryName("smoke_stream")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    println(s"[smoke] streaming windows=${spark.table("smoke_stream").count()}")

    val q2 = graft.streaming.StreamOps.intervalJoin(stream, "purchase", "click")
      .writeStream.format("memory").queryName("smoke_attrib")
      .outputMode("append").start()
    q2.processAllAvailable(); q2.stop()
    println(s"[smoke] streaming interval-join rows=${spark.table("smoke_attrib").count()}")
    spark.stop()
  }
}
