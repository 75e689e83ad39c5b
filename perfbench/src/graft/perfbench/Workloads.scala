package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkEntry
import graft.operators.{BandStats, Composite}
import graft.sources.Raster

/** Outcome of one cold pass. `wallS` covers the engine calls only, never
  * the output check. `attempted` and `failed` count operations (a raster
  * pass, or one query of the registry mix); `failures` holds the messages,
  * which may be several per failed operation. `layers` is filled on traced
  * passes. */
final case class PassResult(wallS: Double, attempted: Int, failed: Int, failures: Seq[String],
                            layers: Map[String, Double] = Map.empty) {
  def ok: Boolean = failed == 0
}

object PassResult {
  /** A pass that is one operation: failed when it has any message. */
  def single(wallS: Double, failures: Seq[String],
             layers: Map[String, Double] = Map.empty): PassResult =
    PassResult(wallS, 1, if (failures.isEmpty) 0 else 1, failures, layers)
}

/** One benchmark workload: its inputs, warm-up and cold pass. */
trait Workload {
  def name: String
  /** Input generation (part of set-up). */
  def generate(): Unit
  /** Untimed JIT and codegen warm-up (part of set-up). */
  def warmUp(spark: SparkSession): Unit
  /** One cold pass with its output check. With a tracer, spans wrap each
    * engine call and the layer numbers of the pass are returned. */
  def pass(spark: SparkSession, n: Int, tr: Option[Tracer]): PassResult
  /** Throughput of a pass of `seconds`, under its reported name. */
  def throughput(seconds: Double): (String, Double)
  /** A run measures whole blocks of this many passes. */
  def passBlock: Int = 1
}

object Workload {
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def span[T](tr: Option[Tracer], name: String, n: Int)(body: => T): T =
    tr.fold(body)(_.span(name, n)(body))

  def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}"

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }
}

/** The paper's pipeline over the seeded corpus on disk. A pass runs goal 2
  * (per-(file, band) mean of non-nodata pixels, then the per-band mean /
  * max / min of those means, in exact mode) and then goal 3 (bands 4,3,2 →
  * one RGB TIFF per input file), each from its own `Raster.pixels` decode
  * (dispatch by magic bytes). */
final class RasterPipeline(corpus: Corpus, work: Path) extends Workload {
  import Workload._
  val name = "raster_pipeline"
  val inputDir: Path = work.resolve("corpus")
  private lazy val expected = corpus.expectedStats
  private def outDir(n: Int): Path = work.resolve(s"out-$n")
  /** The warm-up covers files 0-3 only: the same plans and code paths as a
    * pass, at a fraction of its cost. */
  val WarmUpGlob = "scene_000[0-3].tif"

  def generate(): Unit = corpus.write(inputDir)

  /** Corpus pixel rows through the whole pipeline per second. */
  def throughput(seconds: Double): (String, Double) =
    "mpix_per_s" -> corpus.pixelRows / seconds / 1e6

  def pixels(spark: SparkSession, glob: String = "*.tif"): DataFrame =
    Raster.pixels(spark, inputDir.toString, glob)

  def level1(spark: SparkSession, tr: Option[Tracer], n: Int,
             glob: String = "*.tif"): DataFrame = {
    val px = span(tr, "raster.pixels", n)(pixels(spark, glob))
    span(tr, "bandstats.bandFileMeans", n)(
      BandStats.bandFileMeans(px, "file", "band", "value", exact = true))
  }

  /** Goal 2's engine calls, through `collect`. */
  private def stats(spark: SparkSession, tr: Option[Tracer], n: Int,
                    glob: String = "*.tif"): Array[Row] = span(tr, "stats", n) {
    val l1 = level1(spark, tr, n, glob)
    val df = span(tr, "bandstats.bandStats", n)(BandStats.bandStats(l1, "band", exact = true))
    span(tr, "collect", n)(df.collect())
  }

  /** Goal 3's engine calls; returns the sink's audit rows. */
  private def composite(spark: SparkSession, tr: Option[Tracer], n: Int,
                        glob: String = "*.tif"): Array[Row] = span(tr, "composite", n) {
    val px = span(tr, "raster.pixels", n)(pixels(spark, glob))
    span(tr, "sink.writeCompositeTiff", n)(
      Raster.writeCompositeTiff(px, outDir(n).toString).collect())
  }

  private def checkStats(rows: Array[Row]): Seq[String] =
    RasterStats.compare(rows.map(r => BandExpect(r.getInt(0), r.getDouble(1), r.getDouble(2),
      r.getDouble(3), r.getLong(4))).sortBy(_.band).toSeq, expected)

  private def checkComposite(audit: Array[Row], n: Int): Seq[String] =
    try RasterComposite.check(corpus, outDir(n), audit.length)
    finally deleteTree(outDir(n))

  def warmUp(spark: SparkSession): Unit = {
    stats(spark, None, -1, WarmUpGlob)
    composite(spark, None, -1, WarmUpGlob)
    deleteTree(outDir(-1))
  }

  /** Goal 2 alone, timed and checked (the scaling runs and self-tests). */
  def statsPass(spark: SparkSession, n: Int): PassResult = {
    val (rows, wall) = timed(stats(spark, None, n))
    PassResult.single(wall, checkStats(rows))
  }

  /** Goal 3 alone, timed and checked (self-tests). */
  def compositePass(spark: SparkSession, n: Int): PassResult = {
    val (audit, wall) = timed(composite(spark, None, n))
    PassResult.single(wall, checkComposite(audit, n))
  }

  /** The decode layer alone: materializes `Raster.pixels`, counting pixel
    * rows and the files that produced any (rows arrive grouped by file). */
  def decodeProbe(spark: SparkSession): (Long, Set[String]) = {
    val parts = pixels(spark).queryExecution.toRdd.mapPartitions { it =>
      var n = 0L
      var last: UTF8String = null
      val files = mutable.Set.empty[String]
      it.foreach { r =>
        n += 1
        val f = r.getUTF8String(0)
        if (last == null || f != last) { last = f.clone(); files += f.toString }
      }
      Iterator.single((n, files.toSet))
    }.collect()
    (parts.map(_._1).sum, parts.flatMap(_._2).toSet)
  }

  /** Prefix probes of a traced pass, each in its own span: decode alone,
    * decode + level 1, level 2 alone over the level-1 rows (loaded as a
    * local frame), and decode + the 4,3,2 pivot. */
  private def probes(spark: SparkSession, t: Tracer, n: Int): (Map[String, Double], Seq[String]) = {
    val (rows, decoded) = t.span("raster.decode", n)(decodeProbe(spark))
    val l1 = level1(spark, None, n)
    val groups = t.span("bandstats.level1", n)(l1.collect())
    val local = spark.createDataFrame(java.util.Arrays.asList(groups: _*), l1.schema)
    t.span("bandstats.level2", n)(BandStats.bandStats(local, "band", exact = true).collect())
    t.span("composite.rgbComposite", n)(
      Composite.rgbComposite(pixels(spark)).queryExecution.toRdd.count())
    val decode = t.last("raster.decode")
    val c = t.inclusive(decode)
    val pivot = t.last("composite.rgbComposite")
    val p = t.inclusive(pivot)
    val missing = (0 until corpus.files).map(corpus.name)
      .filterNot(f => decoded.exists(_.endsWith("/" + f)))
    (Map(
      "raster.decode_s" -> decode.seconds,
      "raster.pixels" -> rows.toDouble,
      "raster.files" -> decoded.size.toDouble,
      "raster.undecodable" -> missing.size.toDouble,
      "raster.input_bytes" -> c.inputBytes.toDouble,
      "raster.mpix_per_task_s" -> rows / math.max(c.runMs / 1e3, 1e-9) / 1e6,
      "bandstats.level1_self_s" -> (t.last("bandstats.level1").seconds - decode.seconds),
      "bandstats.level2_self_s" -> t.last("bandstats.level2").seconds,
      "bandstats.groups" -> groups.length.toDouble,
      "composite.pivot_self_s" -> (pivot.seconds - decode.seconds),
      "composite.shuffle_write_bytes" -> p.shuffleWrite.toDouble,
      "composite.shuffle_read_bytes" -> p.shuffleRead.toDouble,
      "composite.spill_bytes" -> p.spill.toDouble,
      "composite.fetch_wait_s" -> p.fetchWaitMs / 1e3),
     if (missing.isEmpty) Nil else Seq(s"undecodable files: ${missing.mkString(",")}"))
  }

  def pass(spark: SparkSession, n: Int, tr: Option[Tracer]): PassResult = {
    val probed = tr.map(probes(spark, _, n))
    val ((rows, audit), wall) = timed(span(tr, "pass", n)(
      (stats(spark, tr, n), composite(spark, tr, n))))
    val failures = checkStats(rows) ++ checkComposite(audit, n) ++ probed.toSeq.flatMap(_._2)
    val layers = (probed, tr) match {
      case (Some((probe, _)), Some(t)) => probe ++ Map(
        "pipeline.stats_s" -> t.last("stats").seconds,
        "pipeline.composite_s" -> t.last("composite").seconds,
        "bandstats.shuffle_write_bytes" -> t.inclusive(t.last("stats")).shuffleWrite.toDouble,
        "sink.write_self_s" ->
          (t.last("composite").seconds - t.last("composite.rgbComposite").seconds),
        "sink.files_written" -> audit.length.toDouble,
        "sink.bytes_written" -> audit.map(_.getLong(4)).sum.toDouble)
      case _ => Map.empty[String, Double]
    }
    PassResult.single(wall, failures, layers)
  }
}

object RasterStats {
  /** Exact comparison; a short `n_files` on every band means whole files
    * were dropped, which the decode layer does only for undecodable ones. */
  def compare(got: Seq[BandExpect], want: Seq[BandExpect]): Seq[String] = {
    val short = want.map(_.nFiles).sum - got.map(_.nFiles).sum
    if (got == want) Nil
    else if (got.size == want.size && got.zip(want).forall { case (g, w) => g.nFiles < w.nFiles })
      Seq(s"undecodable or dropped files: n_files short by $short over all bands")
    else Seq(s"band stats differ: got ${got.mkString(";")} want ${want.mkString(";")}")
  }
}

object RasterComposite {
  /** Decode every written TIFF and compare it with bands 4, 3, 2 of the
    * generator, pixel for pixel. */
  def check(corpus: Corpus, out: Path, audited: Int): Seq[String] = {
    val bad = (0 until corpus.files).flatMap { i =>
      val f = out.resolve("colorimage").resolve(corpus.name(i).replaceAll("\\.tif$", "_color.tif"))
      if (!Files.exists(f)) Some(s"${corpus.name(i)}: no output")
      else Raster.TiffCodec.decode(Files.readAllBytes(f)) match {
        case None => Some(s"${corpus.name(i)}: output not a TIFF")
        case Some((w, h, rgb)) =>
          val planes = corpus.planes(i)
          val want = Array(planes(3), planes(2), planes(1))
          if (w != corpus.width || h != corpus.height || rgb.length != 3)
            Some(s"${corpus.name(i)}: output is ${w}x$h with ${rgb.length} bands")
          else if (!rgb.indices.forall(b => java.util.Arrays.equals(rgb(b), want(b))))
            Some(s"${corpus.name(i)}: composite pixels differ")
          else None
      }
    }
    val count = if (audited != corpus.files) Seq(s"audit lists $audited files, want ${corpus.files}") else Nil
    if (bad.isEmpty) count else count :+ s"${bad.size} composite outputs wrong: ${bad.take(5).mkString("; ")}"
  }
}

/** A fixed, name-listed slice of the query registry over the read-only
  * fixture tables, run one query after another on the calling thread.
  * Every result must match its recorded checksum (`reference`). */
final class RegistryMix(seed: Long, sfDir: String, reference: Map[String, Checksum],
                        mix: Seq[String] = RegistryMix.Mix,
                        queries: Map[String, (SparkSession, String) => DataFrame] =
                          SparkEntry.queries) extends Workload {
  import Workload._
  val name = "registry_mix"
  /** Query order of pass `n`: passes come in pairs, an order drawn from the
    * seed and then its reverse. The order changes which query pays for a
    * shared frame, and what runs before what, by about 10 % of a pass; a
    * pair puts every query before and after every other once, so each run
    * measures the same mix of orders whatever the seed. */
  private def order(n: Int): Seq[String] = {
    val drawn = new scala.util.Random(seed * 7919 + n / 2).shuffle(mix)
    if (n % 2 == 0) drawn else drawn.reverse
  }
  override def passBlock: Int = 2

  def generate(): Unit = ()

  def throughput(seconds: Double): (String, Double) =
    "queries_per_min" -> mix.size * 60.0 / seconds

  def warmUp(spark: SparkSession): Unit = pass(spark, -1, None)

  def pass(spark: SparkSession, n: Int, tr: Option[Tracer]): PassResult = {
    val runs = span(tr, "pass", n)(order(n).map { q =>
      span(tr, s"query.$q", n) {
        try {
          val (df, c) = timed(span(tr, "construct", n)(queries(q)(spark, sfDir)))
          val (_, p) = timed(span(tr, "plan", n)(df.queryExecution.executedPlan))
          val (sum, e) = timed(span(tr, "exec", n)(RowHash.of(df)))
          val failure = reference.get(q) match {
            case None => Some(s"$q: no reference checksum")
            case Some(want) if want != sum => Some(s"$q: checksum $sum, want $want")
            case _ => None
          }
          (q, Seq(c, p, e), failure)
        } catch { case e: Throwable => (q, Nil, Some(s"$q: ${describe(e)}")) }
      }
    })
    val layers = tr.fold(Map.empty[String, Double]) { t =>
      def total(step: Int): Double = runs.map(_._2.lift(step).getOrElse(0.0)).sum
      val constructJobs = t.spans("construct", n).map(t.inclusive(_).jobs).sum
      runs.map { case (q, ts, _) => s"query.${q}_s" -> ts.sum }.toMap ++ Map(
        "queries.construct_s" -> total(0),
        "queries.construct_jobs" -> constructJobs.toDouble,
        "queries.plan_s" -> total(1),
        "queries.exec_s" -> total(2))
    }
    val failures = runs.flatMap(_._3)
    PassResult(runs.map(_._2.sum).sum, runs.size, failures.size, failures, layers)
  }
}

object RegistryMix {
  /** The recorded checksums: one `query rows:sum` line per query, `#`
    * starts a comment (written by `perfbench/record_registry.py`). */
  def load(p: Path): Map[String, Checksum] =
    Files.readAllLines(p).asScala.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(q, c) = l.split("\\s+"); q -> Checksum.parse(c) }.toMap

  /** Runs every query of the mix once, writes its result as parquet under
    * `dir` next to `oracle_sql.json` (the DuckDB twin of each query), and
    * returns the checksum of each parquet round trip. */
  def record(spark: SparkSession, sfDir: String, dir: Path): Map[String, Checksum] = {
    Files.createDirectories(dir)
    val sql = Mix.map(q => q -> SparkEntry.oracleSql.getOrElse(q, null)).toMap
    Files.writeString(dir.resolve("oracle_sql.json"), Json.render(sql))
    Mix.map { q =>
      val dest = dir.resolve(q).toString
      SparkEntry.queries(q)(spark, sfDir).write.parquet(dest)
      q -> RowHash.of(spark.read.parquet(dest))
    }.toMap
  }

  /** Rows of the ROADMAP layer probe, one class each, plus a shared-frame pair. */
  val Mix: Seq[String] = Seq(
    "rel_bootstrap_ci",   // compute-bound: md5 per (row, replicate)
    "rel_kll_quantiles",  // shared frame: both consume kll_shared, built with
    "rel_kll_error")      // construction-time jobs; the second is a PlanCache hit
}
