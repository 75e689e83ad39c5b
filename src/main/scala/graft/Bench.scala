package graft
import org.apache.spark.sql.SparkSession
import graft.operators.PlanCache
object Bench {
  /** One timed run: `Right(seconds)`, or `Left(error)` when `run` throws.
    * A failed run is reported as failed, never as the (partial) time it
    * took to fail — that would read as fast and lower the total. */
  private[graft] def timeRun(run: => Any): Either[String, Double] = {
    val t0 = System.nanoTime()
    try { run; Right((System.nanoTime() - t0) / 1e9) }
    catch { case e: Throwable =>
      Left(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}")
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Steady-state certification (VERDICT r7 #6): time the registry
    // SPARK_GRAFT_RUNS times (default 2) and report the per-query MIN —
    // host CPU-steal spikes individual queries 5-10x over steady state
    // (CLAUDE.md), and one contended reading in a single-pass run is
    // indistinguishable from a plan regression. Each pass starts from a
    // released cache + a re-timed prewarm, so no pass is cache-warm from
    // the previous one.
    val nRuns = math.max(1, sys.env.getOrElse("SPARK_GRAFT_RUNS", "2").toInt)
    // dev-only: comma-separated subset of query names to bench in the
    // given order (cold-vs-warm profiling; repeats get a #n suffix so
    // the warm timing doesn't overwrite the cold one); unset = full
    // registry
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
    def selected: Seq[(String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame)] =
      only match {
        case Some(names) =>
          val unknown = names.filterNot(SparkEntry.queries.contains)
          require(unknown.isEmpty,
            s"SPARK_GRAFT_ONLY: unknown queries ${unknown.mkString(", ")}")
          val seen = scala.collection.mutable.Map.empty[String, Int]
          names.map { n =>
            val k = seen.updateWith(n)(c => Some(c.getOrElse(0) + 1)).get
            (if (k == 1) n else s"$n#$k") -> SparkEntry.queries(n)
          }
        // name-sorted: Map iteration order reshuffles whenever the
        // registry grows, silently re-assigning which family member
        // pays a shared sketch's build — a fixed order keeps per-query
        // history comparable across rounds
        case None => SparkEntry.queries.toSeq.sortBy(_._1)
      }
    val spark = GraftSession.tuned(
        SparkSession.builder().master(s"local[$cpus]"), cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Shared-frame prewarm, timed as its own line: every frame of
    // SparkEntry.sharedFrames is read by several queries, so after a
    // cache clear its build would land on whichever consumer runs first
    // (measured 10x per-query history jumps while family totals stayed
    // flat). Persisting the catalog here makes every family timing
    // steady-state; the build cost still counts, in this labeled line.
    // Each frame's construction (eager driver jobs, such as the LR
    // training) plus its build is recorded per frame, as the MAX over
    // prewarms (the cold build), and written into bench_detail.json as
    // "shared_pins". A frame that throws is named in `prewarmFailed`
    // (as `_shared_frames/<name>`), not swallowed: its build would
    // otherwise move silently into its consumers' timings.
    val pinSecs = scala.collection.mutable.Map.empty[String, Double]
    // build seconds of each frame's latest prewarm: the pool's order
    val lastBuild = scala.collection.mutable.Map.empty[String, Double]
    val prewarmFailed = scala.collection.mutable.SortedSet.empty[String]
    def record(name: String, r: Either[String, Double],
               constructSec: Double = 0.0): Unit = pinSecs.synchronized {
      r match {
        case Right(sec) =>
          lastBuild(name) = sec
          pinSecs(name) = math.max(pinSecs.getOrElse(name, 0.0), constructSec + sec)
        case Left(e) =>
          prewarmFailed += s"_shared_frames/$name"
          System.err.println(s"[bench] shared frame $name failed: $e")
      }
    }
    def prewarm(): Unit = {
      // construct sequentially, in catalog order: a frame that reads an
      // earlier frame is then planned over its cached relation, so the
      // sameResult wiring is the same on every run
      val frames = SparkEntry.sharedFrames.flatMap { case (name, build) =>
        var df: org.apache.spark.sql.DataFrame = null
        timeRun { df = PlanCache.reuse(build(spark, sfDir)) } match {
          case Right(sec) => Some((name, sec, df))
          case Left(e) => record(name, Left(e)); None
        }
      }
      // Materialize CONCURRENTLY: each build is exchange-barrier-bound,
      // not CPU-bound, so overlapping them recovers wall-clock (measured
      // 24.4 s sequential on a 32-core host). Shared uncached subtrees
      // dedup at the BlockManager's per-block compute lock, so two
      // frames racing into one subtree never compute it twice; a
      // consumer started before its producer just parks a pool thread.
      // Heaviest first (LPT), by the build seconds this JVM last
      // recorded; frames with no record yet keep catalog order, ahead
      // of the rest. Per-frame seconds are wall-clock under overlap.
      val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
      try {
        frames.sortBy { case (n, _, _) =>
          -lastBuild.getOrElse(n, Double.PositiveInfinity) }
          .map { case (name, constructSec, df) =>
            pool.submit(new Runnable {
              def run(): Unit = record(name,
                timeRun(df.queryExecution.toRdd.count()), constructSec)
            })
          }.foreach(_.get())
      } finally pool.shutdown()
    }
    // untimed warm-up at the TARGET sf: JIT tiering + codegen compilation
    // of the exact AQE plan variants otherwise lands on whichever queries
    // happen to run first (measured ±10s scatter on trivial queries; a
    // smaller-sf warm-up does not compile the same plans). Its frames
    // stay cached until the releaseAll below, so pass 1 starts cold.
    // It opens with one prewarm, so pass 1's prewarm already builds
    // heaviest first; only `lastBuild` outlives it, and `shared_pins`
    // and `failed` report the timed prewarms alone.
    val warmupDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR", sfDir)
    if (new java.io.File(warmupDir).isDirectory && only.isEmpty) {
      prewarm()
      pinSecs.clear()
      prewarmFailed.clear()
      SparkEntry.queries.foreach { case (_, fn) =>
        try fn(spark, warmupDir).queryExecution.toRdd.count()
        catch { case _: Throwable => () }
      }
      PlanCache.releaseAll()
      // absorb the post-warm-up cliff OUTSIDE any query's timing: the
      // warm-up's freed caches leave a major-GC debt + JIT churn that
      // otherwise lands on whichever query happens to run first
      // (measured 5-20s on a query whose steady-state cost is ~1s)
      System.gc()
      spark.range(50000000L).selectExpr("sum(id)").collect()
    }
    // execute the FULL physical plan: df.count() would let Catalyst prune
    // every column (a map-only query would be timed as a bare row count);
    // toRdd.count() materializes each query's actual output rows
    def timeOne(name: String, fn: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame): Either[String, Double] = {
      val r = timeRun(fn(spark, sfDir).queryExecution.toRdd.count())
      r.swap.foreach(e => System.err.println(s"[bench] $name failed: $e"))
      r
    }
    // One timing pass over the registry: timed prewarm + first pass +
    // outlier retries. Host CPU-steal bursts spike individual queries
    // 5-10x over their steady state (measured: same query 1.5s and 12.4s
    // within one JVM, box otherwise idle); re-time >5s outliers once and
    // keep the min. Release the cache first on retry: the first run may
    // have persisted its own intermediates, and a cache-warm retry would
    // understate real cost — but re-prewarm the shared frames UNTIMED
    // afterwards, or the retry pays a rebuild its steady state never
    // sees. A failed first run is not retried, and a failed retry fails
    // the row: no failure is ever min'd into a time. The pass also
    // returns its PlanCache counters as they stand before any retry, so
    // `plan_cache` does not vary with the number of retries.
    val RetryOverSec = 5.0
    def onePass(): (Map[String, Either[String, Double]], Map[String, Double],
                    Map[String, Long]) = {
      PlanCache.resetStats()
      val sharedEntry: Seq[(String, Either[String, Double])] =
        if (only.isEmpty) Seq("_shared_frames" -> timeRun(prewarm()))
        else Seq.empty
      val firstPass = selected.map { case (name, fn) => name -> timeOne(name, fn) }
      val cacheStats = PlanCache.stats
      val slow = firstPass.collect {
        case (name, Right(t)) if t > RetryOverSec => name -> t }.toMap
      val pass = (sharedEntry ++ firstPass.map {
        case (name, Right(t)) if slow.contains(name) =>
          PlanCache.releaseAll()
          if (only.isEmpty) prewarm()
          val base = name.takeWhile(_ != '#')
          name -> timeOne(name, SparkEntry.queries(base)).map(math.min(t, _))
        case other => other
      }).toMap
      (pass, slow, cacheStats)
    }
    val passes = (1 to nRuns).map { i =>
      if (i > 1) {
        PlanCache.releaseAll()
        System.gc()
      }
      onePass()
    }
    // a row that failed in any pass is failed, and stays out of the
    // total; prewarm frame failures are named alongside the rows
    val failedRows = passes.flatMap(_._1.collect { case (k, Left(_)) => k }).toSet
    val failed = (failedRows ++ prewarmFailed).toSeq.sorted
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // steady state = per-query min across passes; `median` = lower
    // median (for 2 passes that coincides with the min) so no synthetic
    // averaged value ever enters the file
    def timings(p: Map[String, Either[String, Double]]): Map[String, Double] =
      p.collect { case (k, Right(v)) if !failedRows(k) => k -> v }
    def combine(f: Seq[Double] => Double): Map[String, Double] =
      passes.flatMap(p => timings(p._1).keys).distinct
        .map(k => k -> f(passes.flatMap(p => timings(p._1).get(k)))).toMap
    val results = combine(_.min)
    val medians = combine(vs => vs.sorted.apply((vs.size - 1) / 2))
    val retriedAll = passes.zipWithIndex.flatMap { case ((_, r, _), i) =>
      r.map { case (k, v) => s"$k@${i + 1}" -> v } }
    val retried = retriedAll.map { case (k, v) =>
      s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    // the last pass's PlanCache counters, before its retries
    val cacheStats = passes.last._3
      .map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
    def fmt(m: Iterable[(String, Double)]): String =
      m.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
        .mkString("{", ",", "}")
    def sortByName(m: Map[String, Double]): Seq[(String, Double)] =
      m.toSeq.sortBy(_._1)
    // the prewarm line is real spent time but NOT a registry query: it
    // counts in the total, is reported in its own field, and is excluded
    // from n_queries (ADVICE r7 — a phantom 178th query otherwise)
    val sharedSec = results.getOrElse("_shared_frames", 0.0)
    val qResults = results - "_shared_frames"
    val nQueries = qResults.size + failedRows.size
    val total = results.values.sum
    // Full per-query detail: printed first (may scroll out of the
    // harness's bounded tail capture) and persisted next to the build.
    val perPass = passes.map(p => fmt(sortByName(timings(p._1)))).mkString("[", ",", "]")
    val detail =
      s"""{"metric":"detail","value":$total,"unit":"sec","n_queries":$nQueries,"n_failed":${failed.size},"failed":$failedJson,"n_runs":$nRuns,"shared_frames_sec":${f"$sharedSec%.3f"},"shared_pins":${fmt(pinSecs.toSeq.sortBy(_._1))},"queries":${fmt(sortByName(qResults))},"median":${fmt(sortByName(medians - "_shared_frames"))},"runs":$perPass,"retried":$retried,"plan_cache":$cacheStats,"sf":"$sfDir"}"""
    println(detail)
    try {
      val p = java.nio.file.Paths.get("bench_detail.json")
      java.nio.file.Files.write(p, detail.getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    // Contract line LAST and compact: the harness keeps only the final
    // ~2000 chars of output, and a 134-entry queries map (~5 KB) gets
    // its opening brace truncated away — so the parseable line carries
    // the total plus a fixed headline subset and stays well under the
    // buffer. Full timings live in the detail line / bench_detail.json.
    val headline = Seq(
      "rel_pricing_summary", "rel_nation_volume", "rel_top_lineitems",
      "rel_cube_sales", "rel_salted_join", "rel_window_rank",
      "band_file_means", "band_stats", "composite_pivot",
      "dedup_exact", "dedup_minhash_pairs", "dedup_clusters",
      "sim_topk_brute", "sim_topk_ivf", "sim_topk_ivfpq",
      "text_stats", "doc_tfidf_top_terms", "pipe_dedup_keep",
      "evt_asof_attribution", "evt_tumbling_hourly", "mm_byte_stats")
    val head = only match {
      case Some(_) => sortByName(qResults)
      case None    => headline.flatMap(n => qResults.get(n).map(n -> _))
    }
    // contract line LAST on stdout, after session teardown: shutdown
    // warnings can otherwise interleave past it in a combined-stream
    // tail capture, and the driver parses the final line as JSON
    val contract =
      s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","n_queries":$nQueries,"n_failed":${failed.size},"failed":$failedJson,"n_runs":$nRuns,"shared_frames_sec":${f"$sharedSec%.3f"},"queries":${fmt(head)},"sf":"$sfDir"}"""
    // teardown must never eat the contract: if stop() throws, the
    // driver's last-line JSON parse would see a stack trace (ADVICE r9)
    try {
      spark.sparkContext.setLogLevel("ERROR")
      spark.stop()
    } catch { case _: Throwable => () }
    println(contract)
  }
}
