package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.operators.PlanCache

/** The benchmark's JVM side: set-up, timed cold passes, optional trace.
  *
  * {{{
  * Main --workload W --seed N --seconds S --trace 0|1 --cores C
  *      --work DIR --out RESULT.json [--trace-out TRACE.json]
  *      [--sf-dir DIR --reference CHECKSUMS]
  * }}}
  * Writes one JSON object to `--out`; `perfbench/run.py` validates the
  * metric names and prints the final line.
  */
object Main {
  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3
  /** Passes measured at least, even past `--seconds`. */
  val MinPasses = 2
  val MinTracedPasses = 2

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        cores: Int, work: Path, out: Path, traceOut: Option[Path],
                        sfDir: String, reference: Option[Path])

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
         kv("cores").toInt, Paths.get(kv("work")), Paths.get(kv("out")),
         kv.get("trace-out").map(Paths.get(_)), kv.getOrElse("sf-dir", ""),
         kv.get("reference").map(Paths.get(_)))
  }

  def workload(o: Opts): Workload = {
    val corpus = Corpus(o.seed, Corpus.BenchFiles, Corpus.BenchSide, Corpus.BenchSide)
    o.workload match {
      case "raster_pipeline" => new RasterPipeline(corpus, o.work.resolve("raster"))
      case "registry_mix" => new RegistryMix(o.seed, o.sfDir, RegistryMix.load(o.reference.get))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }

  def startSession(cores: Int, work: Path): SparkSession = {
    val s = GraftSession.tuned(
        SparkSession.builder().master(s"local[$cores]").appName("perfbench"), cores)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def stopSession(spark: SparkSession): Unit = {
    PlanCache.releaseAll()
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Every pass starts cold: no cached frames, no tracked PlanCache entries. */
  def coldStart(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    PlanCache.releaseAll()
    PlanCache.pruneStale()
    PlanCache.resetStats()
    System.gc()
  }

  /** A pass that throws counts as one failed operation with no time. */
  def safePass(w: Workload, spark: SparkSession, n: Int, tr: Option[Tracer]): PassResult =
    try w.pass(spark, n, tr)
    catch { case e: Throwable => PassResult(Double.NaN, 1, 1, Seq(s"pass $n: ${Workload.describe(e)}")) }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN on no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** JVM high-water resident set, MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Files.writeString(o.out, run(o, workload(o)))
  }

  def run(o: Opts, w: Workload): String = {
    val t0 = System.nanoTime()
    var spark: SparkSession = null
    val setups = (1 to SetupReps).map { rep =>
      val start = System.nanoTime()
      spark = startSession(o.cores, o.work)
      val session = (System.nanoTime() - start) / 1e9
      w.generate()
      coldStart(spark)
      w.warmUp(spark)
      val total = (System.nanoTime() - start) / 1e9
      if (rep < SetupReps) stopSession(spark)
      (total, session)
    }

    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    def more(done: Int, min: Int): Boolean = done < min || System.nanoTime() < deadline

    var n = 0
    val untraced = Seq.newBuilder[PassResult]
    val traced = Seq.newBuilder[PassResult]
    val tracer = if (o.trace) new Tracer(spark.sparkContext) else null
    while (more(n, if (o.trace) MinTracedPasses else MinPasses) || n % w.passBlock != 0) {
      coldStart(spark)
      untraced += safePass(w, spark, n, None)
      if (o.trace) {
        coldStart(spark)
        spark.sparkContext.addSparkListener(tracer)
        val t = safePass(w, spark, n, Some(tracer))
        spark.sparkContext.removeSparkListener(tracer)
        traced += (if (!t.ok) t else {
          val s = tracer.last("pass")
          // PlanCache counters were zeroed by coldStart: they cover this pass
          val cache = PlanCache.stats
          t.copy(layers = t.layers ++ tracer.sparkMetrics(s, o.cores) ++ Map(
            "trace.unaccounted_s" -> tracer.unaccounted(s),
            "plancache.hits" -> cache("hits").toDouble,
            "plancache.misses" -> cache("misses").toDouble,
            "plancache.evictions" -> cache("evictions").toDouble,
            "plancache.live" -> cache("live").toDouble))
        })
      }
      n += 1
    }
    val plain = untraced.result()
    val withTrace = traced.result()
    val all = plain ++ withTrace
    val okPass = plain.filter(_.ok).map(_.wallS)
    val passS = median(okPass)
    val attempted = all.map(_.attempted).sum
    val failed = all.map(_.failed).sum
    val failures = all.flatMap(_.failures)
    val (tpName, tp) = w.throughput(passS)

    val metrics: Map[String, Double] =
      if (!o.trace) Map(
        "setup_s" -> median(setups.map(_._1)),
        "pass_s" -> passS,
        "peak_rss_mb" -> peakRssMb())
      else {
        val keys = withTrace.flatMap(_.layers.keys).distinct
        val layers = keys.map(k => k -> median(withTrace.flatMap(_.layers.get(k)))).toMap
        val tracedPass = median(withTrace.filter(_.ok).map(_.wallS))
        val scaling = w match {
          case r: RasterPipeline => Scaling.run(o, r, spark)
          case _ => Map.empty[String, Double]
        }
        layers ++ scaling ++ Map(
          "session.start_s" -> median(setups.map(_._2)),
          "trace.pass_s" -> tracedPass,
          "trace.untraced_pass_s" -> passS,
          "trace.overhead_s" -> (tracedPass - passS),
          tpName -> tp,
          "failed_frac" -> failed.toDouble / math.max(attempted, 1))
      }
    if (tracer != null) o.traceOut.foreach { p =>
      Files.createDirectories(p.getParent)
      Files.writeString(p, Json.obj("workload" -> w.name, "seed" -> o.seed,
        "cores" -> o.cores, "spans" -> RawJson(tracer.toJson(t0))))
    }
    SparkSession.getActiveSession.foreach(stopSession)

    Json.obj(
      "workload" -> w.name,
      "attempted" -> attempted,
      "failed" -> failed,
      "failures" -> failures.distinct.take(20),
      "metrics" -> metrics,
      "info" -> Map(
        "pass_q1_s" -> quantile(okPass, 0.25),
        "pass_q3_s" -> quantile(okPass, 0.75),
        "passes" -> plain.size,
        "passes_s" -> plain.map(_.wallS),
        "ok_passes" -> okPass.size,
        tpName -> tp,
        "failed_frac" -> failed.toDouble / math.max(attempted, 1),
        "setups_s" -> setups.map(_._1),
        "cores" -> o.cores))
  }
}

/** Records the registry mix's reference checksums; see
  * `perfbench/record_registry.py`.
  * {{{
  * Record --sf-dir DIR --work DIR --out CHECKSUMS --cores C
  * }}}
  * Writes each result as parquet under `DIR/oracle` for the DuckDB
  * compare, and `query rows:sum` lines to `--out`. */
object Record {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(kv("work"))
    val spark = Main.startSession(kv("cores").toInt, work)
    val sums = RegistryMix.record(spark, kv("sf-dir"), work.resolve("oracle"))
    Main.stopSession(spark)
    Files.writeString(Paths.get(kv("out")),
      RegistryMix.Mix.map(q => s"$q ${sums(q)}\n").mkString)
  }
}

/** Pre-rendered JSON, embedded as is. */
final case class RawJson(text: String)

/** The paper's own question on goal 2 of the raster pipeline (the band
  * statistics): run time at local[1], local[2] and local[cores], each in a
  * fresh session with the shuffle width matched, after the measured passes. */
object Scaling {
  def run(o: Main.Opts, w: RasterPipeline, current: SparkSession): Map[String, Double] = {
    Main.stopSession(current)
    val counts = Seq(1, 2, o.cores).distinct
    val t = counts.map { k =>
      val spark = Main.startSession(k, o.work)
      Main.coldStart(spark)
      val r = try w.statsPass(spark, -1)
              catch { case e: Throwable => PassResult.single(Double.NaN, Seq(Workload.describe(e))) }
      Main.stopSession(spark)
      k -> (if (r.ok) r.wallS else Double.NaN)
    }.toMap
    val speedup = t(1) / t(o.cores)
    Map(
      "scaling.t1_s" -> t(1),
      "scaling.t2_s" -> t.getOrElse(2, Double.NaN),
      "scaling.tn_s" -> t(o.cores),
      "scaling.speedup" -> speedup,
      "scaling.efficiency" -> speedup / o.cores,
      // Karp-Flatt: the serial fraction an Amdahl fit to (1, n) implies
      "scaling.serial_frac" ->
        (if (o.cores > 1) (1 / speedup - 1.0 / o.cores) / (1 - 1.0 / o.cores) else Double.NaN))
  }
}
