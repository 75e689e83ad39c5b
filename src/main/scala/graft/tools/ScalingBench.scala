package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkEntry}
import graft.sources.Tables

/** Speedup / parallel-efficiency sweep — the reference assignment's
  * central measurement (`/root/reference/README.md:5-7`: run time,
  * speedup, efficiency vs MPI process count), re-expressed on Spark's
  * axis: executor threads in `local[n]`.
  *
  * For each core count the session is torn down and rebuilt (fresh
  * SparkContext, shuffle width = n, same AQE profile as production) and a
  * fixed panel of representative queries runs to completion
  * (`toRdd.count()` — full physical plan, same convention as
  * [[graft.Bench]]). Each (cores, query) cell is timed twice and keeps
  * the min, damping host CPU-steal outliers ([[cellTime]]). An untimed
  * warm-up at the first core count absorbs JIT/codegen compilation so
  * the 1-core cell isn't penalized for tiering.
  *
  * Output: one JSON line per core count plus a final summary line with
  * speedup (T_1/T_n) and efficiency (speedup/n), and the same table as
  * `scaling_sweep.json` for SCALING.md's measured section. Cells that
  * threw are named in `failed` on both; the summary's totals, speed-up,
  * efficiency and serial table cover only cells that passed at every
  * core count.
  *
  * Caveat printed with the data: local[n] shares one JVM heap and one
  * OS page cache across all n threads, so super/sub-linear artifacts of
  * shared caches appear that a real N-executor cluster would not show;
  * the artifact measures operator scalability, not cluster scalability.
  */
object ScalingBench {

  /** Representative fixture panel: one per operator family. Measured
    * finding (sf0.1, idle host): every entry costs ≈1 core-second, so
    * the panel total is FLAT across core counts — it measures the
    * per-query latency floor (plan/analyze/schedule), not operator
    * scalability. Kept for exactly that reason; speedup/efficiency come
    * from the compute-scaled panel below. */
  private val Panel = Seq(
    "rel_pricing_summary",  // scan-heavy exact-decimal aggregation
    "rel_min_cost_supplier",// multi-join + correlated-min
    "band_file_means",      // two-level reference aggregation
    "dedup_minhash_pairs",  // map-side MinHash + band shuffle
    "sim_topk_ivf",         // vector scoring + centroid probe
    "doc_tfidf_top_terms",  // explode + join + window
    "evt_sliding_counts",   // time-window aggregation
    "raster_band_stats"     // blob encode/decode pipeline
  )

  /** `n` in-plan copies of every row of `df`, via a broadcast cross
    * join with `range(n)`: n× the downstream expression/aggregation
    * work with zero setup, no side data, no disk writes.
    *
    * NOT a union of n scans: whole-stage codegen inlines a union
    * branch's full expression tree once PER BRANCH into one generated
    * method — an 8-way union of the shingle+MinHash pipeline blew the
    * 64 KB method limit and silently fell back to interpreted eval
    * (measured: ~100× slower, `StringSplit.nullSafeEval` hot). The
    * cross join keeps exactly one codegen'd copy of the expressions.
    *
    * The input is round-robin repartitioned to `defaultParallelism`
    * FIRST: every fixture parquet is a single row group (checked with
    * pyarrow), so the raw scan is one split and the whole replicated
    * pipeline would otherwise run on one core at every `local[n]` —
    * measured exactly that (scaled subtotal flat 25→22 s from 1→8
    * cores). The repartition shuffles only the 1× table (1-12 MB),
    * negligible against the tens of core-seconds it unlocks; the
    * explicit partition count also keeps AQE from coalescing it back. */
  private def rep(df: DataFrame, n: Int): DataFrame = {
    val s = df.sparkSession
    df.repartition(s.sparkContext.defaultParallelism)
      .crossJoin(broadcast(s.range(n))).drop("id")
  }

  /** Compute-scaled panel: the same operator families with enough
    * in-plan work (tens of core-seconds per query) that parallel
    * speedup is measurable above the latency floor — the sweep's
    * speedup/efficiency rows are computed from THIS subtotal, the
    * Spark-axis twin of the reference's MPI process-count study. */
  private val ScaledPanel: Seq[(String, (SparkSession, String) => DataFrame)] =
    Seq(
      // exact-decimal pricing aggregation over 16x lineitem
      "scaled_pricing" -> ((s: SparkSession, dir: String) =>
        rep(Tables.lineitem(s, dir), 16)
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(sum(col("l_quantity").cast("decimal(18,4)")).as("sum_qty"),
               sum(col("l_extendedprice").cast("decimal(18,4)"))
                 .as("sum_price"),
               count(lit(1)).as("n"))),
      // md5-bound MinHash sketches over 32x documents (pure map-side CPU;
      // 32x because the native WordShingles path dropped per-doc cost ~50x
      // vs the interpreted-HOF form this panel was first sized against)
      "scaled_minhash" -> ((s: SparkSession, dir: String) =>
        rep(Tables.documents(s, dir), 32)
          .select(graft.functions.TextHashFunctions.minHashSigs(
            graft.operators.TextOps.wordShingles(col("text"), 3), 12)
            .as("sigs"))
          .select(explode(col("sigs")).as("h"))
          // modular checksum: raw 60-bit mins would overflow an ANSI
          // BIGINT sum after a few hundred thousand rows
          .agg(sum(col("h") % lit(1000003L)).as("chk"),
               count(lit(1)).as("n"))),
      // BPE ENCODE corpus half over 512x documents: tokenize + explode +
      // word-count shuffle is the part that grows with corpus bytes (the
      // merge fold is vocab-bound BY DESIGN — replication leaves distinct
      // words unchanged, exactly as 100 TB of corpus leaves a 30k vocab
      // unchanged); fixed literal merge list = a shipped tokenizer
      "scaled_bpe_encode" -> ((s: SparkSession, dir: String) =>
        graft.operators.TextOps.bpeEncodeStats(
          rep(Tables.documents(s, dir), 512), "text",
          Seq("v" -> "a", "va" -> "l", "u" -> "e", "val" -> "ue",
              "r" -> "e", "c" -> "o", "re" -> "c", "co" -> "r",
              "t" -> "h", "th" -> "e", "i" -> "n", "a" -> "n"))),
      // winnowing fingerprint selection over 64x documents: the w-fold
      // equi-key fan-out + composite-min aggregation is the corpus-scale
      // cost (~120M candidate rows at 64x). Copies get DISTINCT doc ids
      // (doc_id*64 + copy) — replicated ids would merge windows across
      // copies and collapse the aggregation shape being measured
      "scaled_winnowing" -> ((s: SparkSession, dir: String) => {
        val n = 64
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("text"))
          .repartition(s.sparkContext.defaultParallelism)
          .crossJoin(broadcast(s.range(n)))
          .select((col("doc_id") * n + col("id")).as("doc_id"), col("text"))
        graft.operators.TextOps.winnowedFingerprints(docs, "doc_id", "text")
          // modular checksum (ANSI: raw 40-bit sums are safe here, but
          // keep the family convention) + count, so the output is tiny
          .agg(count(lit(1)).as("n_fprints"),
               sum(col("gram_hash") % lit(1000003L)).as("chk"))
      }),
      // SemDeDup cell-scoring kernel over 4096x embeddings: every vector
      // against the broadcast trained centroids (codegen'd cosine), the
      // map-side half that dominates semantic dedup at corpus scale;
      // training runs once on the 1x corpus (quantizers don't grow with
      // the stream — the frozen-centroid contract of
      // Similarity.semanticDedupIncrement)
      "scaled_semdedup" -> ((s: SparkSession, dir: String) => {
        graft.functions.VectorFunctions.register(s)
        val emb = Tables.embeddings(s, dir)
        val cents = graft.operators.Similarity.kmeansCentroids(
          emb, "vec_id", "embedding", 8, 1)
        rep(emb.select(col("vec_id"), col("embedding")), 4096)
          .crossJoin(broadcast(cents))
          .select(col("cell"),
            graft.functions.VectorFunctions
              .cosineSim(col("embedding"), col("centroid")).as("cs"))
          .groupBy(col("cell"))
          .agg(count(when(col("cs") >= 0.4, 1)).as("n_near"),
               count(lit(1)).as("n_scored"))
      }),
      // perceptual-hash image-dedup kernel over a 768x TIFF corpus
      // (~226k decodes, ~98M pixel rows): real imageio decode
      // (per-image map-side CPU) + aHash + band census — the round-8
      // media-dedup heavy (VERDICT r8 #9). Sizing history: 16x sat
      // under the latency floor, and BEFORE Raster.TiffCodec disabled
      // ImageIO's file-backed stream cache the kernel ANTI-scaled
      // (one /tmp file per decode; 96x: 4.8 s at 8 cores → 8.0 s at
      // 32) — with memory-cached streams 96x fell to 0.7 s, so 768x
      // restores a measurable compute body.
      // (768x swept 14.9 s @ 1 core → 1.7 s @ 16 = 8.8x but only 7.4x
      // at 32 — the ~1 s per-exchange driver floor; 1536x doubles the
      // compute body so the floor stops capping the 32-core cell)
      "scaled_phash" -> ((s: SparkSession, dir: String) =>
        graft.queries.MediaQueries.scaledPhashKernel(s, dir, 1536)),
      // strict-sequence CEP over 512x events (51M rows) with DISTINCT
      // user ids: more users, same per-user history depth — how a
      // cluster sees corpus growth (replicated ids would instead deepen
      // every window partition). Two chained windows on one user
      // shuffle. (128x swept 8.2 s @ 1 core → 1.5 s @ 32 = 5.6x: the
      // compute body was ~7 s against a ~1 s serial floor — 512x grows
      // the parallel fraction, Gustafson-style.)
      // C4/RefinedWeb line-dedup kernel over 256x documents with
      // DISTINCT doc ids (corpus growth, not repetition depth): segment
      // explode + per-line md5 + the line-hash shuffle for distinct-doc
      // counts + probe-back + doc rollup — the hot-set-detect shape the
      // panel lacked (winnowing is per-doc local; this aggregates the
      // corpus and joins the result back onto itself). Built inline
      // WITHOUT PlanCache: caching a replicated multi-GB line frame
      // would measure persist I/O, not the operator (the lines frame is
      // simply computed twice — constant factor, same at every core
      // count). Every copy shares its lines with 511 others, so the hot
      // set is line-vocabulary sized — the web-scale regime, probed via
      // the plain shuffle join that Dedup.lineDedup plans once the hot
      // set passes autoBroadcastJoinThreshold.
      "scaled_line_dedup" -> ((s: SparkSession, dir: String) => {
        val n = 256
        val w = 10
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("text"))
          .repartition(s.sparkContext.defaultParallelism)
          .crossJoin(broadcast(s.range(n)))
          .select((col("doc_id") * n + col("id")).as("doc_id"), col("text"))
        def lines(d: DataFrame): DataFrame = d
          .select(col("doc_id"),
                  graft.operators.TextOps.tokenize(col("text")).as("t"))
          .withColumn("nseg", expr(s"(size(t) + ${w - 1}) DIV $w"))
          .select(col("doc_id"), col("t"),
            explode(when(col("nseg") >= 1, sequence(lit(1), col("nseg")))
              .otherwise(array().cast("array<int>"))).as("ln"))
          .select(col("doc_id"),
            conv(substring(md5(concat(lit("line|"), concat_ws(" ",
                slice(col("t"), (col("ln") - 1) * lit(w) + lit(1), lit(w))))
              .cast("binary")), 1, 15), 16, 10).cast("long").as("h"))
        val l = lines(docs)
        val hot = lines(docs).groupBy(col("h"))
          .agg(count_distinct(col("doc_id")).as("nd"))
          .filter(col("nd") >= 2).select(col("h"), lit(1L).as("dup"))
        l.join(hot, Seq("h"), "left")
          .groupBy(col("doc_id"))
          .agg(sum(when(col("dup").isNotNull, 1L).otherwise(0L)).as("nd"))
          .agg(count(lit(1)).as("n_docs"),
               sum(col("nd") % lit(1000003L)).as("chk"))
      }),
      // stupid-backoff trigram scoring kernel: model table trained
      // ONCE on the 1x corpus (a tokenizer/LM doesn't grow with the
      // stream — the frozen-artifact contract of scaled_semdedup /
      // scaled_bpe_encode), then a 512x replicated corpus is scored
      // through the broadcast model. Model AND stream are keyed on
      // xxhash64 LONGS: the identical probe with interpreted string
      // keys scaled 2.1x vs 5.7x long-keyed on this body (the round-5
      // sketch-keying rule, now measured for broadcast-map probes —
      // string BytesToBytesMap lookups saturate shared memory
      // bandwidth where LongHashedRelation stays core-local). A
      // doc-grain rollup is deliberately absent: its 2.5M-group
      // partial-agg tables per task are a single-heap local[n]
      // artifact (measured 2.8x cap), and the big-group rollup shape
      // is already covered by scaled_cep / scaled_line_dedup.
      "scaled_trigram_lm" -> ((s: SparkSession, dir: String) => {
        val n = 512
        val base = Tables.documents(s, dir)
          .select(col("doc_id"), col("text"))
        val sh3 = graft.operators.TextOps.wordShingles(col("text"), 3)
        val t3 = base.repartition(s.sparkContext.defaultParallelism)
          .select(explode(sh3).as("g"))
          .groupBy(col("g"))
          .agg(round(log(count(lit(1)).cast("double")) * lit(1e6))
            .cast("long").as("s6"))
          .select(xxhash64(col("g")).as("k"), col("s6"))
        val occ = base
          .repartition(s.sparkContext.defaultParallelism)
          .crossJoin(broadcast(s.range(n)))
          .select(explode(sh3).as("g"))
          .select(xxhash64(col("g")).as("k"))
        occ.join(broadcast(t3), Seq("k"), "left")
          .agg(count(lit(1)).as("n_trigrams"),
               sum(coalesce(col("s6"), lit(2 * graft.operators.TextOps.Qln04))
                     % lit(1000003L)).as("chk"))
      }),
      "scaled_cep" -> ((s: SparkSession, dir: String) => {
        val n = 512
        val ev = Tables.events(s, dir)
          .select(col("user_id"), col("event_id"),
                  expr("ts_ns DIV 1000").as("us"), col("event_type"))
          .repartition(s.sparkContext.defaultParallelism)
          .crossJoin(broadcast(s.range(n)))
          .select((col("user_id") * n + col("id")).as("user_id"),
                  col("event_id"), col("us"), col("event_type"))
        graft.queries.EventQueries.cepSequenceFrame(ev)
          .agg(count(lit(1)).as("n_users"),
               sum(col("n_stage2")).as("total_stage2"),
               sum(col("n_complete")).as("total_complete"))
      }),
      // round-11 domain-grain curation family: domainLineDedup's shape
      // over 256x documents with DISTINCT per-copy doc ids but the
      // FIXED 20-source domain set — corpus growth at constant domain
      // cardinality, exactly how a cluster sees it (RefinedWeb §3: the
      // web has ~bounded registrable domains vs unbounded pages). The
      // measured body: segment explode + md5-60 line hash, the
      // corpus-sized (domain, h, doc) value-grain pre-aggregation, then
      // the tiny (domain, h) and domain rollups — two shuffles past the
      // tag, no count_distinct Expand, no broadcast. Built inline
      // WITHOUT PlanCache (the scaled_line_dedup rule: persisting a
      // replicated multi-GB grain frame would measure cache I/O, not
      // the operator).
      "scaled_domain_dedup" -> ((s: SparkSession, dir: String) => {
        val n = 256
        val w = 10
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"), col("text"))
          .repartition(s.sparkContext.defaultParallelism)
          .crossJoin(broadcast(s.range(n)))
          .select((col("doc_id") * n + col("id")).as("doc_id"),
                  col("source"), col("text"))
        val lines = docs
          .select(col("doc_id"), col("source"),
                  graft.operators.TextOps.tokenize(col("text")).as("t"))
          .withColumn("nseg", expr(s"(size(t) + ${w - 1}) DIV $w"))
          .select(col("doc_id"), col("source"), col("t"),
            explode(when(col("nseg") >= 1, sequence(lit(1), col("nseg")))
              .otherwise(array().cast("array<int>"))).as("ln"))
          .select(col("doc_id"), col("source"),
            conv(substring(md5(concat(lit("line|"), concat_ws(" ",
                slice(col("t"), (col("ln") - 1) * lit(w) + lit(1), lit(w))))
              .cast("binary")), 1, 15), 16, 10).cast("long").as("h"),
            size(slice(col("t"), (col("ln") - 1) * lit(w) + lit(1), lit(w)))
              .cast("long").as("ntok"))
        val grain = lines
          .groupBy(col("source"), col("h"), col("doc_id"))
          .agg(count(lit(1)).as("c"), max(col("ntok")).as("ntok"))
        val byHash = grain
          .groupBy(col("source"), col("h"))
          .agg(sum(col("c")).as("cnt"), count(lit(1)).as("nd"),
               max(col("ntok")).as("ntok"))
        byHash.groupBy(col("source"))
          .agg(sum(col("cnt")).as("n_lines"),
               sum(when(col("nd") >= 2, col("cnt")).otherwise(0L))
                 .as("n_dup_lines"),
               sum(when(col("nd") < 2, col("cnt") * col("ntok"))
                     .otherwise(0L)).as("kept_tokens"))
          .agg(count(lit(1)).as("n_domains"),
               sum(col("n_lines")).as("n_lines"),
               sum(col("n_dup_lines") % lit(1000003L)).as("chk"))
      }),
      // round-12 bootstrap family: the Poisson-resample fan-out over
      // 256x orders with DISTINCT order keys — md5-per-(row, rep) CPU
      // work through one broadcast fan-out join into a map-side-
      // combined (priority, rep) aggregate. The canonical
      // embarrassingly-parallel shape (ZERO corpus shuffles before the
      // 320-cell rollup), so its serial fraction bounds the pure
      // per-stage scheduling overhead of the harness itself.
      // (sized 4x: the ×64 replicate fan-out ALREADY multiplies work —
      // 4×150k orders × 64 reps ≈ 38M md5 rows ≈ 40-80 s at 1 core;
      // the as-coded-in-r12 256x cell was ~2.5 BILLION md5s and never
      // actually swept — it ran >19 min at 1 core before this resize)
      "scaled_bootstrap" -> ((s: SparkSession, dir: String) => {
        val n = 4
        val o = Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_orderpriority"),
                  col("o_totalprice"))
          .repartition(s.sparkContext.defaultParallelism)
          .crossJoin(broadcast(s.range(n)))
          .select((col("o_orderkey") * n + col("id")).as("o_orderkey"),
                  col("o_orderpriority"), col("o_totalprice"))
        val reps = broadcast(s.range(64).toDF("rep"))
        val u = conv(substring(md5(concat(
          lit("boot|"), col("o_orderkey").cast("string"),
          lit("|"), col("rep").cast("string"))), 1, 8), 16, 10).cast("long")
        val w = graft.queries.AnalyticsQueries.PoissonCdf32
          .map(t => when(col("u") >= lit(t), 1L).otherwise(0L))
          .reduce(_ + _)
        o.crossJoin(reps)
          .withColumn("u", u).withColumn("w", w)
          .groupBy(col("o_orderpriority"), col("rep"))
          .agg(sum(graft.queries.Canon.dec(col("o_totalprice")) * col("w"))
                 .as("sw"),
               sum(col("w")).as("nw"))
          .agg(count(lit(1)).as("n_cells"), sum(col("nw")).as("total_w"),
               sum(col("sw"))
                 .cast(org.apache.spark.sql.types.DoubleType).as("chk"))
      }),
      // round-12 PII scan family: the pure per-row-map shape the panel
      // lacked (regex detect + masked redact, ZERO shuffles before a
      // 1-row rollup) over a 256x corpus with DISTINCT doc ids — the
      // synthetic-injection arithmetic keys on doc_id, so distinct ids
      // keep every rule family firing at its fixture rate across
      // copies. Measures the map-side regex engine (java.util.regex
      // under codegen'd regexp_count/regexp_replace), the admission-
      // scrubber cost at corpus scale.
      // (sized 64x: ~320k docs ≈ 10 regex passes each ≈ 30-60 s at 1
      // core — the panel's t1 band; 256x measured minutes/cell)
      "scaled_pii_scan" -> ((s: SparkSession, dir: String) => {
        val n = 64
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"), col("text"))
          .repartition(s.sparkContext.defaultParallelism)
          .crossJoin(broadcast(s.range(n)))
          .select((col("doc_id") * n + col("id")).as("doc_id"),
                  col("source"), col("text"))
        graft.queries.PiiQueries.docStatsFor(docs)
          .agg(count(lit(1)).as("n_docs"),
               sum(col("n_email") + col("n_phone") + col("n_ipv4") +
                   col("n_id9")).as("n_hits"),
               sum(col("chars_after") % lit(1000003L)).as("chk"))
      }),
      // round-14 sketch family: the KLL quantile-sketch BUILD over 4x
      // lineitem with DISTINCT row keys (distinct keys = corpus growth:
      // each copy levels independently under the seeded md5; replicated
      // keys would co-sample every copy identically and halve the
      // effective body). The measured shape: per-row md5 leveling + the
      // ~2x level explode + the per-level bottom-cap WindowGroupLimit
      // selection + the level-population aggregate — the value-grain
      // bounded-survivor-window family the panel lacked (VERDICT r13
      // #6). Built WITHOUT PlanCache (the scaled_line_dedup rule):
      // counts and survivors each re-derive the leveled stream —
      // constant factor, same at every core count. Sized per the r13
      // lesson: 4x·600k rows -> ~4.8M leveled rows per pass, 2 passes.
      // (sized 4x = measured t1 ≈ 37 s: the leveled stream is derived
      // TWICE — counts + survivors, no persist — and the 1-core cell
      // sorts each derivation's full leveled stream in one task; the
      // first-coded 8x cell ran >3 min/run at 1 core — the r13
      // scaled_bootstrap mistake repeated, caught in-round this time
      // by sizing the cell alone via SPARK_GRAFT_SCALED_ONLY: 2x
      // measured 18.7 s, and 2x's 32-core cell would sit on the ~1 s
      // latency floor)
      "scaled_kll" -> ((s: SparkSession, dir: String) => {
        val n = 4
        val cap = 1024
        val li = Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_linenumber"),
                  col("l_partkey"), col("l_suppkey"),
                  col("l_extendedprice"))
          .repartition(s.sparkContext.defaultParallelism)
          .crossJoin(broadcast(s.range(n)))
          .select(
            expr("CAST(round(l_extendedprice * 100) AS BIGINT)")
              .as("cents"),
            concat_ws("|", col("l_orderkey") * n + col("id"),
                      col("l_linenumber"), col("l_partkey"),
                      col("l_suppkey")).as("rk"))
        def lev = graft.operators.Sketch.kllLeveled(li, Nil, col("cents"),
                                                    col("rk"))
        val counts = graft.operators.Sketch.kllCounts(lev, Nil)
        val surv = graft.operators.Sketch.kllSurvivors(lev, Nil, cap)
        surv.agg(count(lit(1)).as("n_survivors"),
                 sum(col("h2") % lit(1000003L)).as("chk"))
          .crossJoin(counts.agg(sum(col("n")).as("n_leveled")))
      }),
      // round-15 prefix-filter dedup shape (VERDICT r14 #6): the
      // PPJoin pipeline — df counts, per-doc (sdf, shingle) prefix
      // windows, the prefix-postings self-join + PPJoin length bound,
      // and the |A∩B|-bounded intersection verify — over an 8x corpus
      // whose copies get DISJOINT shingle universes (xxhash64 salted
      // with the copy id) and distinct doc ids. Disjoint universes are
      // the point: they model CORPUS GROWTH (candidates and output
      // pairs scale ~n, sdf per shingle unchanged), where replicated
      // universes would make every cross-copy pair a J=1 candidate — a
      // quadratic n²·|docs| blow-up no real 8x corpus has. Built inline
      // WITHOUT PlanCache (the scaled_line_dedup rule): the shingle
      // stream is re-derived per consumer (~4x, constant at every core
      // count). t = 0.6 per the round-5 economics note (t >= 0.5 or the
      // prefix filter loses its power).
      "scaled_prefix_dedup" -> ((s: SparkSession, dir: String) => {
        val n = 8
        val t = 0.6
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("text"))
          .repartition(s.sparkContext.defaultParallelism)
          .crossJoin(broadcast(s.range(n)))
        def sh = docs.select(
            (col("doc_id") * n + col("id")).as("d"),
            explode(array_distinct(
              graft.operators.TextOps.wordShingles(col("text"), 3)))
              .as("shingle"),
            col("id"))
          .select(col("d"), xxhash64(col("shingle"), col("id")).as("h"))
        val sdf = sh.groupBy(col("h")).agg(count(lit(1)).as("sdf"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("d")).orderBy(col("sdf").asc, col("h").asc)
        val wsz = org.apache.spark.sql.expressions.Window
          .partitionBy(col("d"))
        val prefixes = sh.join(sdf, "h")
          .withColumn("pos", row_number().over(w))
          .withColumn("sz", count(lit(1)).over(wsz))
          .filter(col("pos") <= col("sz") - ceil(lit(t) * col("sz")) + 1)
          .select(col("d"), col("h"), col("sz"))
        val candidates = prefixes
          .select(col("d").as("a"), col("h"), col("sz").as("sz_a"))
          .join(prefixes.select(col("d").as("b"), col("h"),
                                col("sz").as("sz_b")), Seq("h"))
          .filter(col("a") < col("b") &&
                  least(col("sz_a"), col("sz_b")) >=
                    lit(t) * greatest(col("sz_a"), col("sz_b")))
          .select(col("a"), col("b"), col("sz_a"), col("sz_b"))
          .distinct()
        candidates
          .join(sh.select(col("d").as("a"), col("h")), Seq("a"))
          .join(sh.select(col("d").as("b"), col("h")), Seq("b", "h"))
          .groupBy(col("a"), col("b"), col("sz_a"), col("sz_b"))
          .agg(count(lit(1)).as("n_common"))
          .filter(col("n_common").cast("double") /
                    (col("sz_a") + col("sz_b") - col("n_common")) >= t)
          .agg(count(lit(1)).as("n_pairs"),
               sum(col("n_common") % lit(1000003L)).as("chk"))
      }),
      // round-10 quality-filter family: char-diversity over 256x
      // documents with DISTINCT per-copy doc ids — the (doc, char)
      // explode + two map-side-combined hash aggregations is the
      // canonical one-scan quality-metric shape; replicated ids would
      // merge per-doc alphabets and collapse the rollup being measured
      // round-16 evt family (VERDICT r15 #7): the family's most
      // shuffle-heavy shape — exact windowed-distinct DAU/WAU — over
      // 64x events with DISTINCT per-copy user ids (user growth at a
      // fixed day range, how a production event stream actually
      // scales). Measured body: the (user, day) DISTINCT shuffle, the
      // bounded 7x trailing-window fan-out, and the second
      // (window-day, user) distinct-grain shuffle — DAU rides the same
      // pass as an off==0 flag, so the cell consumes the distinct
      // frame ONCE (no PlanCache, the scaled_line_dedup rule). Phantom
      // lead-out days past the fixture range stay (synthetic cell, no
      // oracle twin — the registry row keeps the spine semi-join).
      "scaled_dau_wau" -> ((s: SparkSession, dir: String) => {
        val n = 128
        val ud = Tables.events(s, dir)
          .select(col("user_id"),
                  expr("ts_ns DIV 1000 DIV 86400000000").as("day"))
          .repartition(s.sparkContext.defaultParallelism)
          .crossJoin(broadcast(s.range(n)))
          .select((col("user_id") * n + col("id")).as("user_id"),
                  col("day"))
          .distinct()
        val perDay = ud
          .select(col("user_id"), col("day"),
                  explode(sequence(lit(0L), lit(6L))).as("off"))
          .select(col("user_id"), (col("day") + col("off")).as("d"),
                  when(col("off") === 0, 1L).otherwise(0L).as("d0"))
          .groupBy(col("d"), col("user_id"))
          .agg(max(col("d0")).as("active"))
          .groupBy(col("d"))
          .agg(count(lit(1)).as("wau"), sum(col("active")).as("dau"))
        perDay.agg(count(lit(1)).as("n_days"),
                   sum(col("wau") % lit(1000003L)).as("chk_wau"),
                   sum(col("dau") % lit(1000003L)).as("chk_dau"))
      }),
      "scaled_entropy" -> ((s: SparkSession, dir: String) => {
        val n = 256
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("text"))
          .repartition(s.sparkContext.defaultParallelism)
          .crossJoin(broadcast(s.range(n)))
          .select((col("doc_id") * n + col("id")).as("doc_id"), col("text"))
        graft.operators.TextOps.charDiversity(docs, "doc_id", "text")
          .agg(count(lit(1)).as("n_docs"),
               sum(col("entropy_micro") % lit(1000003L)).as("chk"),
               sum(col("simpson_ppm")).as("simpson_sum"))
      })
    )

  /** One (cores, query) cell: the min of two timed runs, `reset` (the
    * cache clear) before each repeat. Host CPU-steal events on a shared
    * host last minutes and can hit BOTH runs of a min-of-2 (measured:
    * scaled_pricing 73 s at 2 cores / 175 s at 32 cores for a ~7 s
    * query). When the two runs disagree by >2x the measurement is
    * noise-suspect — take a third and keep the overall min; costs nothing
    * when the box is quiet. A run that throws makes the cell `Left(error)`
    * ([[graft.Bench.timeRun]]'s contract): a failed cell is never a time. */
  private[graft] def cellTime(run: => Any, reset: => Unit): Either[String, Double] = {
    def again(): Either[String, Double] = { reset; graft.Bench.timeRun(run) }
    for {
      a <- graft.Bench.timeRun(run)
      b <- again()
      t <- if (math.max(a, b) > 2.0 * math.min(a, b)) again().map(math.min(math.min(a, b), _))
           else Right(math.min(a, b))
    } yield t
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val coreSteps = sys.env.getOrElse("SPARK_GRAFT_CORES", "1,2,4,8,16,32")
      .split(',').toSeq.map(_.trim.toInt)
    val panel = Panel.filter(SparkEntry.queries.contains)
    // dev-only subset filter for sizing new scaled cells without paying
    // the whole panel (comma-separated scaled-row names)
    val onlyScaled = sys.env.get("SPARK_GRAFT_SCALED_ONLY")
      .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty).toSet)

    def session(cores: Int): SparkSession = {
      val s = GraftSession.tuned(
          SparkSession.builder().master(s"local[$cores]"), cores)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }

    val allQueries: Seq[(String, (SparkSession, String) => DataFrame)] =
      onlyScaled match {
        case Some(names) => ScaledPanel.filter(q => names(q._1))
        case None => panel.map(n => n -> SparkEntry.queries(n)) ++ ScaledPanel
      }

    def runPanel(s: SparkSession): Seq[(String, Either[String, Double])] =
      allQueries.map { case (name, fn) =>
        name -> cellTime(fn(s, sfDir).queryExecution.toRdd.count(),
                         s.catalog.clearCache())
      }

    def json(names: Iterable[String]): String =
      names.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val scaledNames = ScaledPanel.map(_._1).toSet
    val runs = coreSteps.map { n =>
      val s = session(n)
      if (n == coreSteps.head) { runPanel(s); s.catalog.clearCache() } // JIT warm-up, untimed
      val cells = runPanel(s)
      s.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val ok = cells.collect { case (k, Right(v)) => k -> v }
      val failed = cells.collect { case (k, Left(_)) => k }
      val fixture = ok.filterNot(c => scaledNames(c._1)).map(_._2).sum
      val scaled = ok.filter(c => scaledNames(c._1)).map(_._2).sum
      val qs = ok.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
        .mkString("{", ",", "}")
      println(s"""{"metric":"scaling","cores":$n,"fixture_sec":${f"$fixture%.3f"},"scaled_sec":${f"$scaled%.3f"},"queries":$qs,"failed":${json(failed)},"sf":"$sfDir"}""")
      n -> ok.toMap
    }
    // a cell that failed at any core count has no speed-up: the totals,
    // speed-up, efficiency and serial table cover only the cells that
    // passed at every core count
    val failedAnywhere = allQueries.map(_._1).filterNot(q => runs.forall(_._2.contains(q)))
    val cellsByCores: Map[Int, Map[String, Double]] =
      runs.map { case (n, ok) => n -> ok.filter(c => !failedAnywhere.contains(c._1)) }.toMap
    val totals = runs.map { case (n, _) =>
      val (scaled, fixture) = cellsByCores(n).partition(c => scaledNames(c._1))
      (n, fixture.values.sum, scaled.values.sum)
    }

    // speedup/efficiency from the compute-scaled subtotal; the fixture
    // subtotal is reported alongside as the per-query latency floor
    val t1 = totals.head._3
    val rows = totals.map { case (n, fixture, t) =>
      val speedup = t1 / t
      s"""{"cores":$n,"scaled_sec":${f"$t%.3f"},"fixture_sec":${f"$fixture%.3f"},"speedup":${f"$speedup%.3f"},"efficiency":${f"${speedup / n}%.3f"}}"""
    }
    // Per-query Amdahl decomposition from the sweep ENDPOINTS (needs a
    // 1-core baseline step): solving T_n = T_1·(s + (1−s)/n) for the
    // serial fraction, s = (n·T_n/T_1 − 1)/(n − 1). The implied 32-core
    // ceiling 1/(s + (1−s)/n) says how much of the remaining gap is
    // Amdahl-structural (driver barriers per exchange, codegen compile,
    // final single-partition merges) vs noise — a row AT its ceiling
    // cannot be improved by more cores, only by removing exchanges.
    val serialRows =
      if (totals.head._1 == 1 && totals.size > 1) {
        val nMax = totals.last._1
        val c1 = cellsByCores(1); val cn = cellsByCores(nMax)
        ScaledPanel.map(_._1).flatMap { q =>
          for { a <- c1.get(q); b <- cn.get(q) if a > 0 && b > 0 } yield {
            val s = math.max(0.0, (nMax * b / a - 1) / (nMax - 1))
            val ceil = 1.0 / (s + (1 - s) / nMax)
            s"""{"q":"$q","t1":${f"$a%.2f"},"t$nMax":${f"$b%.2f"},"speedup":${f"${a / b}%.1f"},"serial_frac":${f"$s%.3f"},"amdahl_ceiling":${f"$ceil%.1f"}}"""
          }
        }
      } else Seq.empty
    val serialJson =
      if (serialRows.nonEmpty) s""","serial_table":[${serialRows.mkString(",")}]"""
      else ""
    val summary =
      s"""{"metric":"scaling_summary","baseline_cores":${totals.head._1},"rows":[${rows.mkString(",")}],"panel":${allQueries.size},"failed":${json(failedAnywhere)}$serialJson,"sf":"$sfDir"}"""
    println(summary)
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("scaling_sweep.json"), summary.getBytes("UTF-8"))
    catch { case _: Throwable => () }
  }
}
