package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Count-min sketch over a key column — the fixed-memory heavy-hitter
  * primitive a training-data pipeline reaches for when exact per-token
  * counts stop fitting. Hash family is seeded md5 (no RNG), the same
  * constants the DuckDB oracle replays, so estimates are deterministic
  * and cross-engine hash-exact.
  *
  * Scale shape: building the sketch is ONE shuffle whose exchange
  * carries at most depth×width rows per map partition (hash aggregation
  * pre-combines inside the scan task). The sketch size is independent
  * of the corpus: an exact token count at 100 TB shuffles one row per
  * DISTINCT token (billions), the CMS always shuffles depth×width
  * cells. Estimates never underestimate; overestimate is ≤ e/width·N
  * with probability 1−e^(−depth) per probe (Cormode & Muthukrishnan,
  * J. Algorithms 2005).
  */
object Sketch {

  /** Row-r bucket for a key: first 8 hex digits of md5("r|key") mod
    * width — non-negative, so Spark `%` and DuckDB `%` agree. */
  def cmsBucket(row: Column, key: Column, width: Int): Column =
    conv(substring(md5(concat(row.cast("string"), lit("|"), key)), 1, 8),
         16, 10).cast("long") % width

  private def rowIds(depth: Int): Column =
    explode(array((0 until depth).map(lit): _*))

  /** The sketch itself: (r, bucket, cell_n) cell counts, ≤ depth·width
    * rows regardless of input size. */
  def cmsBuild(keys: DataFrame, keyCol: String,
               depth: Int, width: Int): DataFrame =
    keys.select(col(keyCol), rowIds(depth).as("r"))
      .groupBy(col("r"), cmsBucket(col("r"), col(keyCol), width).as("bucket"))
      .agg(count(lit(1)).as("cell_n"))

  /** Second-moment (F2 = Σ_key count²) estimate by the AMS tug-of-war
    * sketch: per row, bucket cells accumulate signed counts and
    * Σ cell² estimates F2 unbiasedly; the lower median over rows
    * concentrates it (variance ~2·F2²/width per row). F2/n² is the
    * key-skew signal — the quantity behind the salt-or-not decision —
    * computed in one bounded-exchange pass (≤ depth×width cells)
    * where the exact form shuffles every distinct key. All integer,
    * deterministic hash family → oracle-exact.
    *
    * ALL rows' buckets and signs come from ONE md5 per KEY (r10; the
    * earlier family hashed once per (row, key), and that per-row md5
    * was the measured hot path — 2.8 s of the 3.1 s sf0.1 row, VERDICT
    * r9 #5): estimator r reads its own disjoint 5-hex slice of the
    * digest — 4 hex (16 bits) route the bucket, the 5th hex's parity
    * is the tug-of-war sign. Slices are disjoint so bucket and sign
    * never share bits (a sign bit inside the bucket's bits would make
    * same-bucket keys same-sign and the cell a raw count); md5 bits
    * are independent across positions, which is all AMS's pairwise
    * independence argument needs from a seeded-hash family. Bounds:
    * depth ≤ 6 (6·5 hex ≤ 32) and width ≤ 65536 a power of two (the
    * 16-bit slice mod width stays uniform). */
  def amsF2(keys: DataFrame, keyCol: String,
            depth: Int, width: Int): DataFrame = {
    require(depth >= 1 && width >= 1, s"amsF2 needs depth/width ≥ 1, got $depth×$width")
    require(depth <= 6, s"amsF2 one-digest slicing holds depth ≤ 6, got $depth")
    require(width <= 65536 && (width & (width - 1)) == 0,
      s"amsF2 needs a power-of-two width ≤ 65536, got $width")
    keys.select(md5(concat(lit("f2|"), col(keyCol))).as("m"))
      .select(explode(array((0 until depth).map { r =>
        struct(lit(r).as("r"),
          (conv(substring(col("m"), 5 * r + 1, 4), 16, 10).cast("long")
             % width).as("bucket"),
          when(conv(substring(col("m"), 5 * r + 5, 1), 16, 10)
                 .cast("int") % 2 === 0, 1L).otherwise(-1L).as("s"))
      }: _*)).as("x"))
      .groupBy(col("x.r").as("r"), col("x.bucket").as("bucket"))
      .agg(sum(col("x.s")).as("cell"))
      .groupBy(col("r")).agg(sum(col("cell") * col("cell")).as("est_r"))
      // get(), not getItem(): ANSI mode throws INVALID_ARRAY_INDEX on
      // the empty collected array (degenerate empty input) where get()
      // returns NULL. Median index (d-1)/2 (0-based): lower-middle for
      // even depth (unchanged vs the registered even-depth oracles),
      // TRUE median for odd depth (depth/2 - 1 undershot it by one).
      .agg(get(sort_array(collect_list(col("est_r"))), lit((depth - 1) / 2))
             .as("est_f2"))
  }

  /** Union of independently-built sketches by cell-wise sum — CMS is a
    * linear sketch, so `merge(build(A), build(B)) == build(A ∪ B)`
    * exactly (spec-pinned). This is the property that makes the sketch
    * distributed-friendly: shards/streams/partitions sketch locally and
    * merge in one tiny aggregation, no re-scan of the raw data. */
  def cmsMerge(sketches: DataFrame*): DataFrame =
    sketches.reduce(_ unionAll _)
      .groupBy(col("r"), col("bucket"))
      .agg(sum(col("cell_n")).as("cell_n"))

  /** k-minimum-values (KMV) distinct sketch per set: the k smallest
    * md5-60 hashes of the key column's DISTINCT values (Beyer et al.,
    * "On Synopses for Distinct-Value Estimation Under Multiset
    * Operations", SIGMOD 2007). The one sketch family here that
    * supports SET INTERSECTION estimates — HLL unions but cannot
    * intersect without inclusion-exclusion error blow-up.
    *
    * Scale shape: one distinct shuffle on (set, key), then the
    * `row_number ≤ k` rank filter — Spark 4 plans that as
    * WindowGroupLimit, which keeps only k rows per set on the MAP side
    * before the exchange, so the sort never sees the full distinct
    * table. Sketch size is k longs per set regardless of cardinality.
    * Deterministic md5 → both the sketch and every estimate derived
    * from it replay bit-exactly in the oracle. */
  def kmvSketch(df: DataFrame, setCol: String, keyCol: String,
                k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(setCol)).orderBy(col("h"))
    df.select(col(setCol), col(keyCol)).distinct()
      .select(col(setCol),
              conv(substring(md5(col(keyCol).cast("string")), 1, 15), 16, 10)
                .cast("long").as("h"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col(setCol), col("h"))
  }

  /** Pairwise distinct-intersection estimates from a [[kmvSketch]]
    * table, for every unordered pair of sets: merge the two sketches,
    * re-take the k smallest (= the KMV sketch of A ∪ B, KMV's closure
    * property), count survivors present in BOTH input sketches (ρ, a
    * Jaccard estimator on the union sketch), and scale:
    * `D̂(A∩B) = ρ · D̂(A∪B) / k` with `D̂ = (k−1)·2⁶⁰ / h_k`.
    * All arithmetic is integral (DECIMAL(38,0) product, integral
    * division — same truncation as DuckDB HUGEINT `//` on positives),
    * so estimates are cross-engine bit-exact, not bound-checked.
    * When the union sketch is unsaturated (< k values) it IS the exact
    * union and ρ the exact intersection, so ρ is returned directly.
    *
    * Everything here is sketch-sized (k rows per pair): only sketches
    * shuffle, never base data — the point of the synopsis. */
  def kmvIntersectEstimates(kmv: DataFrame, setCol: String,
                            k: Int): DataFrame = {
    val M = 1152921504606846976L // 2^60: md5-60 hash space
    val flags = kmv.select(col(setCol).as("f")).distinct()
    val pairs = flags.select(col("f").as("fa"))
      .crossJoin(flags.select(col("f").as("fb")))
      .filter(col("fa") < col("fb"))
    val ka = kmv.select(col(setCol).as("fa"), col("h"))
    val kb = kmv.select(col(setCol).as("fb"), col("h"))
    val merged = pairs.join(ka, Seq("fa"))
      .select(col("fa"), col("fb"), col("h"))
      .unionByName(pairs.join(kb, Seq("fb"))
        .select(col("fa"), col("fb"), col("h")))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fa"), col("fb")).orderBy(col("h"))
    val un = merged.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k).select(col("fa"), col("fb"), col("h"))
    val unk = un.groupBy(col("fa"), col("fb"))
      .agg(max(col("h")).as("uk"), count(lit(1)).as("n_un"))
    val rho = un.join(ka, Seq("fa", "h"), "left_semi")
      .join(kb, Seq("fb", "h"), "left_semi")
      .groupBy(col("fa"), col("fb")).agg(count(lit(1)).as("rho"))
    unk.join(rho, Seq("fa", "fb"), "left")
      .select(col("fa"), col("fb"),
        when(col("n_un") < k, coalesce(col("rho"), lit(0L)))
          .otherwise(expr(
            s"coalesce(rho, 0) * ((CAST(${k - 1} AS DECIMAL(38,0)) * " +
            s"CAST($M AS DECIMAL(38,0))) DIV uk) DIV $k"))
          .as("est_inter"))
  }

  /** Point estimates for every row of `probes`: min over the sketch's
    * depth rows of the probed cell, appended as `cms_n`. The sketch is
    * tiny by construction → broadcast; missing cells (key never counted)
    * estimate 0. */
  def cmsEstimate(cells: DataFrame, probes: DataFrame, keyCol: String,
                  depth: Int, width: Int): DataFrame = {
    val probeCols = probes.columns.toSeq.map(col)
    probes.select(col("*"), rowIds(depth).as("r"))
      .withColumn("bucket", cmsBucket(col("r"), col(keyCol), width))
      .join(broadcast(cells), Seq("r", "bucket"), "left")
      .groupBy(probeCols: _*)
      .agg(min(coalesce(col("cell_n"), lit(0L))).as("cms_n"))
  }

  /** Deterministic HyperLogLog registers (Flajolet et al. 2007) per
    * group: bucket = the first 2 hex of a seeded md5, rank ρ = leading
    * zero bits of the NEXT 40 hash bits + 1 (∈ [1, 41]), register =
    * max(ρ). No RNG anywhere — the same digest slices replay in oracle
    * SQL, so the full register STATE is cross-engine hash-exact (the
    * estimate itself involves a harmonic mean and stays out of compared
    * columns per the transcendental rule; accuracy is spec-asserted
    * in-JVM from the integer state).
    *
    * Scale shape: ONE shuffle keyed (group…, bucket) with map-side max
    * combine; the exchange carries ≤ width rows per group per map
    * partition regardless of corpus size. Registers are MAX-mergeable:
    * `merge(hll(A), hll(B)) == hll(A ∪ B)` exactly (spec-pinned), which
    * is what lets 100 TB pre-aggregate per day/shard and answer sliding
    * windows by merging ≤ width·7 rows instead of re-scanning the raw
    * key table — see the `evt_hll_wau` registered twin of the exact
    * `evt_dau_wau` fan-out.
    *
    * ρ is computed on the hex STRING (leading-'0' run × 4 + a 15-way
    * nibble CASE), not via log/bit_length — both engines share the
    * identical string algebra. Truncating the rank domain to 40 bits
    * caps ρ at 41, so the scaled harmonic term 2^(41−ρ) is an exact
    * BIGINT and Σ over ≤ 256 buckets stays < 2^49 — integer overflow
    * can't occur and the estimate ladder is replayable without floats. */
  def hllRegisters(keys: DataFrame, keyCol: String, groupCols: Seq[String],
                   width: Int): DataFrame = {
    require(width >= 2 && width <= 256 && (width & (width - 1)) == 0,
      s"hllRegisters needs a power-of-two width in [2, 256], got $width")
    val m = md5(concat(lit("hll|"), col(keyCol)))
    val t = ltrim(substring(m, 3, 10), "0")
    val c = substring(t, 1, 1)
    val lz = when(c === "1", 3).when(c.isin("2", "3"), 2)
      .when(c.isin("4", "5", "6", "7"), 1).otherwise(0)
    val rho = when(t === "", lit(41))
      .otherwise((lit(10) - length(t)) * 4 + lz + 1)
    keys
      .groupBy(groupCols.map(col) :+
        (conv(substring(m, 1, 2), 16, 10).cast("long") % width).as("bucket"): _*)
      .agg(max(rho.cast("long")).as("reg"))
  }

  /** Union of register sets by bucket-wise max — the HLL merge law.
    * Grouping is by every column except `reg`, so callers can re-key
    * (e.g. day → window) before merging. */
  def hllMerge(regs: DataFrame*): DataFrame = {
    val keys = regs.head.columns.filterNot(_ == "reg").toSeq
    regs.reduce(_ unionAll _)
      .groupBy(keys.map(col): _*).agg(max(col("reg")).as("reg"))
  }

  /** Integer register-state digest per group: register count, Σρ, a
    * modular (bucket, ρ) checksum, and the scaled harmonic-mean
    * denominator T = Σ 2^(41−ρ) with absent buckets contributing 2^41
    * (ρ = 0) — everything the HLL estimate needs, as exact BIGINTs.
    * est = α_m·m²·2^41 / T (linear-counting correction from the
    * zero-register count width − n_regs); the float division happens
    * in specs, never in compared columns. */
  def hllState(regs: DataFrame, groupCols: Seq[String], width: Int): DataFrame =
    regs.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_regs"),
           sum(col("reg")).as("sum_rho"),
           sum((col("bucket") * 64L + col("reg")) % 1000003L).as("chk"),
           (sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(41 - reg AS INT))")) +
             (lit(width.toLong) - count(lit(1))) * (1L << 41)).as("t_scaled"))

  // ------------------------------------------------------------------
  // KLL-style deterministic mergeable quantile sketch
  // ------------------------------------------------------------------

  /** Deepest sampling level of the quantile sketch (rate 2^-12): with
    * `cap` = 1024 the sketch serves exact-sample estimation up to
    * ~4M rows and degrades to a uniform `cap`-subsample beyond. */
  val KllMaxLevel = 12

  /** Geometric level sampling for the quantile sketch (Karnin–Lang–
    * Liberty, FOCS 2016, derandomized): KLL's compactor keeps each
    * item with a fair coin per level; here the "coin flips" are the
    * trailing-zero count of a 16-bit seeded-md5 slice — item x
    * survives to level l iff slice(x) ≡ 0 (mod 2^l), so level l is a
    * rate-2^-l uniform sample and S_{l+1} ⊆ S_l (populations are
    * monotone non-increasing, exactly, not just in expectation). The
    * HLL/AMS precedent: no RNG anywhere, the same digest slices replay
    * in oracle SQL, so the full sketch state and every estimate
    * derived from it are cross-engine hash-exact.
    *
    * Returns the leveled item stream `(groupCols…, l, v, h2)` — one row
    * per (item, level ≤ its top level); expected 2 rows per input row
    * (Σ 2^-l). `h2` is a DISJOINT 60-bit md5 slice used as the
    * bounded-memory survivor tiebreak ([[kllSurvivors]]); bucket and
    * tiebreak never share bits (the amsF2 rule — a shared bit would
    * correlate membership with survivorship).
    *
    * Every KLL function here is group-keyed: `groupCols` rides through
    * the stream so each group builds an independent sketch over ONE
    * shared scan — the shape of "per-source length quantiles" at corpus
    * scale (the exact `percentile` alternative buffers every group's
    * full value set per executor). Hashes ignore the group, so a
    * group's sketch is bit-identical to sketching that group's slice
    * alone (spec-pinned law). `groupCols = Nil` is the ungrouped
    * sketch: one group, the whole input. */
  def kllLeveled(rows: DataFrame, groupCols: Seq[String], value: Column,
                 rowKey: Column, maxL: Int = KllMaxLevel): DataFrame = {
    val m = md5(concat(lit("kll|"), rowKey))
    // the slice `b` is its own column: inside the chain's nested CASE WHEN
    // branches common-subexpression elimination cannot share it, so an
    // inline slice would convert once per level; CollapseProject keeps an
    // expensive column used 12 times in its own projection
    val lvl = (1 to maxL).foldLeft(lit(0)) { (acc, l) =>
      when(col("b") % (1L << l) === 0, lit(l)).otherwise(acc)
    }
    rows
      .select(groupCols.map(col) ++ Seq(value.as("v"),
        conv(substring(m, 1, 4), 16, 10).cast("long").as("b"),
        conv(substring(m, 5, 15), 16, 10).cast("long").as("h2")): _*)
      .select(groupCols.map(col) ++ Seq(col("v"), lvl.as("toplvl"), col("h2")): _*)
      .select(groupCols.map(col) ++ Seq(
        explode(sequence(lit(0), col("toplvl"))).as("l"),
        col("v"), col("h2")): _*)
  }

  /** Exact per-(group, level) populations `(groupCols…, l, n)` — the
    * merge-summable half of the sketch state (counts add across
    * disjoint shards). Levels with zero population are simply absent;
    * populations are monotone in `l`, which is what lets
    * [[kllQuantiles]] pick the estimation level with one MIN. */
  def kllCounts(leveled: DataFrame, groupCols: Seq[String]): DataFrame =
    leveled.groupBy((groupCols :+ "l").map(col): _*)
      .agg(count(lit(1)).as("n"))

  /** Bounded survivor sets: per (group, level), the `cap` items with
    * the smallest `(h2, v)` — the KMV closure argument makes this
    * mergeable (the union's bottom-cap is contained in the union of
    * the shards' bottom-caps, so re-truncating a union of sketches
    * equals sketching the union; spec-pinned). Because the tiebreak
    * hash is independent of the value, a TRUNCATED level's survivors
    * are themselves a uniform size-`cap` subsample — the estimator
    * degrades gracefully instead of failing past the design scale.
    *
    * Scale shape (100 TB): the rank-≤cap filter plans as Spark 4
    * WindowGroupLimit (the kmvSketch precedent) — every map task
    * forwards at most `cap` rows per (group, level), so the exchange
    * carries ≤ cap·levels rows per group per map partition and the
    * final sketch is ≤ cap·(maxL+1) longs per group regardless of
    * corpus size. */
  def kllSurvivors(leveled: DataFrame, groupCols: Seq[String],
                   cap: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy((groupCols :+ "l").map(col): _*)
      .orderBy(col("h2"), col("v"))
    leveled.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= cap)
      .select((groupCols ++ Seq("l", "v", "h2")).map(col): _*)
  }

  /** Merge law, counts half: cell-wise sum (shards must partition the
    * data — sample sketches double-count overlaps, like every linear
    * sketch here). Grouping is by every column except `n`, so the
    * same merge serves grouped and ungrouped state (the [[hllMerge]]
    * rule). */
  def kllMergeCounts(sides: DataFrame*): DataFrame = {
    val keys = sides.head.columns.filterNot(_ == "n").toSeq
    sides.reduce(_ unionAll _)
      .groupBy(keys.map(col): _*).agg(sum(col("n")).as("n"))
  }

  /** Merge law, survivors half: union then re-truncate bottom-`cap`
    * per (group, level) — exact by KMV closure. The group columns are
    * every column except the state `(l, v, h2)`. */
  def kllMergeSurvivors(cap: Int, sides: DataFrame*): DataFrame = {
    val groupCols = sides.head.columns
      .filterNot(Set("l", "v", "h2")).toSeq
    kllSurvivors(sides.reduce(_ unionAll _), groupCols, cap)
  }

  /** Per-group quantile estimates from the sketch state: pick the
    * SHALLOWEST level whose full population fits `cap` (no truncation
    * there, so the kept set IS the exact rate-2^-l sample; monotone
    * populations make this one MIN), fall back to the deepest
    * POPULATED level when every populated level overflows (max(l) over
    * the counts — a static max-level fallback could name an EMPTY level
    * past the design scale and silently return zero estimate rows,
    * ADVICE r13), and read value-rank `ceil(q·n_s)` within the sample
    * ordered by `(v, h2)`. Rank error vs the true quantile is binomial:
    * σ = √(q(1−q)/n_s) with n_s ∈ (cap/2, cap] at design scale — the
    * error-bound companion query asserts 5σ.
    *
    * The level pick is a group-keyed equi join, sketch-sized on both
    * sides (one row per group; with no group columns a 1-row side that
    * Catalyst plans as a BroadcastHashJoin on `l = l_star`). The rank
    * windows are group-partitioned and SKETCH-sized by construction
    * (≤ cap rows per group past the level filter), never corpus-sized —
    * the documented exception to the no-unpartitioned-window rule for
    * the ungrouped case. */
  def kllQuantiles(counts: DataFrame, survivors: DataFrame,
                   groupCols: Seq[String], cap: Int,
                   qsPermille: Seq[Int]): DataFrame = {
    val sam = survivors.join(lStar(counts, groupCols, cap), groupCols)
      .filter(col("l") === col("l_star"))
    estimateTail(sam, groupCols, qsPermille)
  }

  /** Serving-path estimates straight from the LEVELED stream: push the
    * l_star pick BELOW the survivor selection, so the per-(group,
    * level) bottom-cap window sorts only each group's estimation level
    * (≤ cap at design scale; the rate-2^-maxL deepest level in the
    * fallback case) instead of the full Σ-levels stream — measured 2×
    * on the grouped fixture row, and at corpus scale the difference
    * between sorting ~cap rows and sorting 2n. Output ≡
    * `kllQuantiles(counts, kllSurvivors(leveled, …), …)`: filtering to
    * l_star commutes with per-level truncation because truncation is
    * per-level to begin with (spec-pinned). Use the [[kllSurvivors]]
    * path when the SKETCH ITSELF is the artifact to persist or merge —
    * this path never materializes the other levels' survivor sets. */
  def kllQuantilesServing(counts: DataFrame, leveled: DataFrame,
                          groupCols: Seq[String], cap: Int,
                          qsPermille: Seq[Int]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*).orderBy(col("h2"), col("v"))
    val sam = leveled.join(lStar(counts, groupCols, cap), groupCols)
      .filter(col("l") === col("l_star"))
      .withColumn("rn0", row_number().over(w))
      .filter(col("rn0") <= cap).drop("rn0")
    estimateTail(sam, groupCols, qsPermille)
  }

  /** Per-group estimation level: shallowest level with `n ≤ cap`, else
    * the deepest populated one. */
  private def lStar(counts: DataFrame, groupCols: Seq[String],
                    cap: Int): DataFrame =
    counts.groupBy(groupCols.map(col): _*)
      .agg(coalesce(min(when(col("n") <= cap, col("l"))), max(col("l")))
             .as("l_star"))

  /** Shared estimation tail: rank + sample-size windows over each
    * group's selected-level sample (≤ cap rows — sketch-sized by
    * construction) and the ceil-rank probe reads. */
  private def estimateTail(sam: DataFrame, groupCols: Seq[String],
                           qsPermille: Seq[Int]): DataFrame = {
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*).orderBy(col("v"), col("h2"))
    val wn = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*)
    sam.withColumn("rn", row_number().over(wr))
      .withColumn("sample_n", count(lit(1)).over(wn))
      .select(groupCols.map(col) ++ Seq(
        explode(array(qsPermille.map(lit): _*)).as("q_permille"),
        col("l_star"), col("sample_n"), col("rn"), col("v")): _*)
      .filter(col("rn") === expr("(q_permille * sample_n + 999) DIV 1000"))
      .select(groupCols.map(col) ++ Seq(
        col("q_permille").cast("long").as("q_permille"),
        col("l_star").cast("long").as("sample_level"),
        col("sample_n"), col("v").as("est_cents")): _*)
  }

  /** The HLL estimate from one [[hllState]] row — driver-side math for
    * specs and callers that want the number (α_m from Flajolet et al.
    * 2007 §4; linear counting below 2.5·m when empty buckets remain). */
  def hllEstimate(width: Int, nRegs: Long, tScaled: Long): Double = {
    val m = width.toDouble
    val alpha =
      if (width >= 128) 0.7213 / (1 + 1.079 / m)
      else if (width >= 64) 0.709
      else if (width >= 32) 0.697
      else 0.673
    val raw = alpha * m * m * math.pow(2.0, 41) / tScaled.toDouble
    val zeros = width - nRegs
    if (raw <= 2.5 * m && zeros > 0) m * math.log(m / zeros.toDouble)
    else raw
  }
}
