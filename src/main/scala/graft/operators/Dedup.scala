package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for an LLM training-data pipeline: exact,
  * MinHash+LSH, n-gram Jaccard, and SimHash near-dup — each expressed as
  * shuffle-conscious DataFrame composition.
  *
  * Scale posture (100 TB): every variant is
  *   per-doc map-side sketch  →  shuffle on a SMALL key (hash / band
  *   bucket / shingle)  →  bucket-local pair generation,
  * never an all-pairs cross join. The candidate-pair step's cost is
  * bounded by bucket sizes, which the band/shingle granularity controls.
  *
  * Determinism: hash families are md5 with distinct string prefixes as
  * seeds (no RNG), so results are reproducible across engines and runs —
  * the DuckDB oracle replays the identical computation in SQL.
  */
object Dedup {

  /** Mark a small intermediate that the plan references from BOTH sides
    * of a self-join for reuse. Without this, Spark recomputes the full
    * upstream pipeline per reference (no exchange to reuse under a
    * broadcast join). At production scale the equivalent is a
    * materialized stage (write to a bucketed table); in-process,
    * MEMORY_AND_DISK persist expresses the same reuse — tracked by
    * [[PlanCache]] until `PlanCache.releaseAll()` (teardown). Idempotent
    * on already-cached plans. */
  private def reused(df: DataFrame): DataFrame = PlanCache.reuse(df)

  /** Exact dedup groups: content-hash → group size + canonical keeper
    * (min id). `SELECT hash, count, min(id)` — one shuffle on the hash.
    * `dropDuplicates` semantics = keep rows whose id == keeper_id.
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(TextOps.contentHash(col(textCol)).as("content_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keeper_id"))

  /** MinHash signatures: k seeded hashes, each the min over shingles of
    * the first 60 bits of md5(seed || '|' || shingle) as a long, computed
    * by the native `MinHashSigs` expression in ONE pass over each doc's
    * shingle array — fully map-side, no explode, no shuffle at all
    * (earlier designs paid an exploded-shingle shuffle, and hex-string
    * mins additionally forced a SortAggregate). Output: k BIGINT columns
    * h1..hk; the oracle replays CAST('0x'||substr(md5(..),1,15) AS BIGINT).
    */
  def minHashSignatures(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int, k: Int): DataFrame = {
    val sigs = graft.functions.TextHashFunctions.minHashSigs(
      TextOps.wordShingles(col(textCol), shingleN), k)
    // signatures are referenced from multiple downstream shapes (banding,
    // estimate self-joins) — cache the narrow (id, k longs) table so the
    // shingle+hash pass over full text runs once per corpus
    reused(graft.sources.Tables.spread(df).select(col(idCol), sigs.as("sigs"))
      .filter(col("sigs").isNotNull) // sub-shingle docs have no signature
      .select(col(idCol) +: (1 to k).map(i =>
        element_at(col("sigs"), i).as(s"h$i")): _*))
  }

  /** LSH banding: split the k-column signature into bands of `rowsPerBand`
    * consecutive hashes, bucket key = md5 of the band's concatenation.
    * Output long format: (id, band, bucket). */
  def lshBands(sigs: DataFrame, idCol: String, k: Int,
               rowsPerBand: Int): DataFrame = {
    require(k % rowsPerBand == 0, s"k=$k not divisible by rowsPerBand=$rowsPerBand")
    val bands = (0 until k / rowsPerBand).map { b =>
      val cols = (1 to rowsPerBand)
        .map(r => col(s"h${b * rowsPerBand + r}").cast("string"))
      // delimited concat: without the separator, distinct signatures like
      // (12,3,..) and (1,23,..) would collapse into one bucket string
      struct(lit(b).as("band"),
             md5(concat_ws("|", cols: _*).cast("binary")).as("bucket"))
    }
    sigs.select(col(idCol), explode(array(bands: _*)).as("bb"))
      .select(col(idCol), col("bb.band"), col("bb.bucket"))
  }

  /** MinHash-LSH candidate duplicate pairs: docs sharing ≥1 band bucket.
    * The self-join shuffles on (band, bucket) — bucket-local pair
    * blow-up is the standard LSH cost model, tuned by k/rowsPerBand.
    * Docs with fewer than `shingleN` tokens have an empty shingle set,
    * hence no signature and no candidacy — route such stubs through
    * [[exactGroups]] instead.
    */
  def minHashCandidatePairs(df: DataFrame, idCol: String, textCol: String,
                            shingleN: Int = 3, k: Int = 12,
                            rowsPerBand: Int = 3): DataFrame = {
    val bands = reused(lshBands(
      minHashSignatures(df, idCol, textCol, shingleN, k), idCol, k, rowsPerBand))
    val a = bands.select(col(idCol).as("doc_a"), col("band"), col("bucket"))
    val b = bands.select(col(idCol).as("doc_b"), col("band"), col("bucket"))
    // the candidate-pair table is consumed by multiple downstream shapes
    // (pair listing, similarity estimates) — cache it like the Jaccard
    // pair table so siblings share one self-join
    reused(a.join(b, Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct())
  }

  /** Exact n-gram Jaccard similarity for pairs sharing ≥1 shingle:
    * J = |A∩B| / (|A|+|B|-|A∩B|). Shuffles on the shingle (inverted
    * index); only co-occurring pairs are ever materialized. At scale,
    * hot shingles are the skew risk — cap or drop shingles with
    * document frequency above a threshold (stop-shingles), standard
    * practice mirrored by `maxShingleDf`. */
  /** The exploded distinct-shingle set (id, shingle) — THE shared
    * sketch of the text-dedup family. Always built through this helper:
    * PlanCache/CacheManager dedupe by plan sameResult, so every
    * shingle-based operator in a session materializes the explode (the
    * family's dominant cost — an interpreted-lambda transform over every
    * document) exactly once. */
  private[graft] def shingleSet(df: DataFrame, idCol: String,
                                textCol: String, shingleN: Int): DataFrame =
    reused(graft.sources.Tables.spread(df).select(
      col(idCol),
      explode(array_distinct(TextOps.wordShingles(col(textCol), shingleN)))
        .as("shingle")))

  /** Symmetric Jaccard near-dup pairs over distinct shingle sets via an
    * inverted-index self-join (stop-shingle capped). A lazy plan
    * builder: construction runs no Spark job. The hot-shingle anti
    * join carries no hint — Spark's size rule picks its strategy
    * (`spark.sql.autoBroadcastJoinThreshold` at planning, again in AQE
    * at runtime): a broadcast while the blocklist is small, a shuffled
    * anti join once df > cap shingles grow with web-scale vocabulary.
    * AQE sizes the hot set by its aggregate's exchange, not by the
    * filtered rows, so at scale it may keep the shuffled anti join;
    * that is the right fallback, not a reason for a hint. The result
    * is strategy-invariant (spec-pinned). */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   shingleN: Int = 3, minJaccard: Double = 0.5,
                   maxShingleDf: Int = 1000): DataFrame = {
    val docShingles = shingleSet(df, idCol, textCol, shingleN)
    val sizes = docShingles.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    // stop-shingle cap via a partial-aggregated count + anti join: only
    // (shingle, partial count) pairs shuffle, never the full posting
    // rows (an earlier window-over-shingle variant sorted the whole
    // inverted index just to count it)
    val hot = docShingles.groupBy(col("shingle"))
      .agg(count(lit(1)).as("df")).filter(col("df") > maxShingleDf)
      .select(col("shingle"))
    val filtered = reused(docShingles.join(hot, Seq("shingle"), "left_anti"))
    val common = filtered.select(col(idCol).as("doc_a"), col("shingle"))
      .join(filtered.select(col(idCol).as("doc_b"), col("shingle")), Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_common"))
    // the pair table itself is reused: downstream operators (clustering,
    // keep-canonical) reference it repeatedly, and it is orders of
    // magnitude smaller than the corpus by construction
    reused(common
      .join(sizes.select(col(idCol).as("doc_a"), col("sz").as("sz_a")), Seq("doc_a"))
      .join(sizes.select(col(idCol).as("doc_b"), col("sz").as("sz_b")), Seq("doc_b"))
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("sz_a") + col("sz_b") - col("n_common")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("jaccard")))
  }

  /** ASYMMETRIC containment near-dup pairs: C(A→B) = |A∩B| / |A| over
    * distinct n-gram shingle sets (Broder's containment measure, the
    * companion of resemblance in "On the resemblance and containment of
    * documents", 1997). This is the quote-inclusion / boilerplate-
    * wrapping detector symmetric Jaccard misses: a short document fully
    * embedded in a long one has containment 1.0 but Jaccard ≈
    * |A|/|B| → 0, so a resemblance threshold never fires. Output is
    * DIRECTED — one row per ordered (contained, container) pair with
    * containment ≥ `minContainment`; a near-identical pair passes in
    * both directions.
    *
    * Same inverted-index shape (and the same shared pinned shingle set)
    * as [[jaccardPairs]]: shuffle on the shingle, only co-occurring
    * ordered pairs materialize, hot shingles capped by `maxShingleDf`
    * (documented lossy stop-shingle bound — identical caveat). The
    * directed join emits both orders from one shuffle (no union, no
    * second scan); containment is one int/int double division —
    * bit-exact cross-engine. Like [[jaccardPairs]], a lazy plan
    * builder whose hot-shingle anti join Spark sizes itself. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       shingleN: Int = 3, minContainment: Double = 0.8,
                       maxShingleDf: Int = 1000): DataFrame = {
    val docShingles = shingleSet(df, idCol, textCol, shingleN)
    val sizes = docShingles.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val hot = docShingles.groupBy(col("shingle"))
      .agg(count(lit(1)).as("df")).filter(col("df") > maxShingleDf)
      .select(col("shingle"))
    val filtered = reused(docShingles.join(hot, Seq("shingle"), "left_anti"))
    filtered.select(col(idCol).as("contained_id"), col("shingle"))
      .join(filtered.select(col(idCol).as("container_id"), col("shingle")),
            Seq("shingle"))
      .filter(col("contained_id") =!= col("container_id"))
      .groupBy(col("contained_id"), col("container_id"))
      .agg(count(lit(1)).as("n_common"))
      .join(sizes.select(col(idCol).as("contained_id"), col("sz")),
            Seq("contained_id"))
      .withColumn("containment",
        col("n_common").cast("double") / col("sz"))
      .filter(col("containment") >= minContainment)
      .select(col("contained_id"), col("container_id"), col("n_common"),
              col("containment"))
  }

  /** SimHash near-dup pairs: band the 16-bit sketch into 4 nibbles
    * (pigeonhole: hamming ≤ 3 ⇒ at least one nibble equal), verify exact
    * hamming on candidates. Shuffle key = (band, nibble).
    *
    * The candidate join runs over DISTINCT sketch values, not documents:
    * a 16-bit space saturates (≤65k values regardless of corpus size),
    * so doc-level banding would blow up quadratically with duplicates of
    * each value, while value-level banding is bounded by the space size.
    * Doc pairs are recovered by joining the value-pair table back to the
    * (small) doc→value map on each side. */
  /** The (id, simhash) sketch — [[simHashPairs]]' shared base, built
    * through ONE helper so prewarm and query produce the same plan. */
  private[graft] def simHashSketch(df: DataFrame, idCol: String,
                                   textCol: String): DataFrame =
    reused(graft.sources.Tables.spread(df)
      .select(col(idCol), TextOps.simHash(col(textCol)).as("sh")))

  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame = {
    val sketched = simHashSketch(df, idCol, textCol)
    val values = sketched.select(col("sh")).distinct()
    val banded = values.select(col("sh"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
               shiftright(col("sh"), b * 4).bitwiseAND(lit(15)).as("nib"))): _*))
        .as("bn"))
      .select(col("sh"), col("bn.band"), col("bn.nib"))
    val valuePairs = banded.select(col("sh").as("sh_a"), col("band"), col("nib"))
      .join(banded.select(col("sh").as("sh_b"), col("band"), col("nib")),
            Seq("band", "nib"))
      .filter(col("sh_a") <= col("sh_b"))
      .select(col("sh_a"), col("sh_b"))
      .distinct()
      .withColumn("hamming", TextOps.hammingDist(col("sh_a"), col("sh_b")))
      .filter(col("hamming") <= maxHamming)
    // symmetric orientations so doc_a < doc_b can land on either sketch
    val sym = valuePairs.unionAll(
      valuePairs.filter(col("sh_a") < col("sh_b"))
        .select(col("sh_b").as("sh_a"), col("sh_a").as("sh_b"), col("hamming")))
    // the pair table is reused like its jaccard/minhash siblings: two
    // registry consumers (the pair listing and the method-agreement
    // panel) share one value-space band join via CacheManager sameResult
    reused(sym
      .join(sketched.select(col(idCol).as("doc_a"), col("sh").as("sh_a")), Seq("sh_a"))
      .join(sketched.select(col(idCol).as("doc_b"), col("sh").as("sh_b")), Seq("sh_b"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("hamming")))
  }

  /** Exact threshold-Jaccard join via PREFIX FILTERING (PPJoin family):
    * the scale path that needs NO stop-shingle cap and loses NO pairs.
    *
    * Order every document's shingles by ascending global document
    * frequency (rarest first; shingle value tie-breaks make the order
    * total) and index only each doc's first |x| − ⌈t·|x|⌉ + 1 shingles:
    * two sets with J ≥ t MUST share a prefix shingle under any common
    * total order (if the prefixes were disjoint, the overlap is at most
    * min of the suffix lengths, forcing J < t). The inverted index
    * shrinks from all postings to prefix postings — and because the
    * frequency order puts RARE shingles in prefixes, hot-shingle
    * buckets (the skew killer `maxShingleDf` papers over in
    * [[jaccardPairs]]) mostly vanish instead of being dropped: a hot
    * shingle appears in a prefix only for docs that contain almost
    * nothing else. Candidates then verify with one exact
    * intersection count. Identical output to the naive all-pairs
    * threshold join — spec-proven, and the oracle is the full O(n²)
    * replay. */
  def prefixFilterJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                               shingleN: Int = 3,
                               minJaccard: Double = 0.5): DataFrame = {
    // shingles carry as xxhash64 BIGINTs from here on: every downstream
    // join/group/sort keys on a long, not an interpreted string (the
    // string ops live once in the shared [[shingleSet]] sketch; a 64-bit
    // collision anywhere in the corpus is ~|shingles|²/2⁶⁵ —
    // negligible).
    // NOTE prefix size is |x|−⌈t·|x|⌉+1: LOW thresholds mean WEAK
    // filtering (t=0.4 indexes 60% of every set); the economics want
    // t ≥ ~0.5.
    val strShingles = shingleSet(df, idCol, textCol, shingleN)
    val docShingles = reused(
      strShingles.select(col(idCol), xxhash64(col("shingle")).as("shingle")))
    val sdf = docShingles.groupBy(col("shingle"))
      .agg(count(lit(1)).as("sdf"))
    // rank within doc by (global frequency, shingle); per-doc windows are
    // bounded by document length, so the sort is small and local. The
    // set size rides along as a SECOND window over the same partitioning
    // (count over the unordered doc partition — one exchange serves
    // both), instead of a separate groupBy + join: that sizes table used
    // to cost one shuffle here and two more joins at the end, three
    // exchanges whose ~0.3-1 s driver barriers dominated this operator
    // at fixture scale. prefixes is persisted: it is read from both
    // self-join sides, and an unpersisted branch re-runs the join+window
    // chain per reference.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("sdf").asc, col("shingle").asc)
    val wsz = org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))
    val prefixes = reused(docShingles
      .join(sdf, "shingle")
      .withColumn("pos", row_number().over(w))
      .withColumn("sz", count(lit(1)).over(wsz))
      .filter(col("pos") <= col("sz") - ceil(lit(minJaccard) * col("sz")) + 1)
      .select(col(idCol), col("shingle"), col("sz")))
    // PPJoin length bound: J ≥ t forces t·max(|A|,|B|) ≤ min(|A|,|B|),
    // so size-incompatible matches are dropped IN the postings join —
    // before the distinct and, more importantly, before the ×|A|
    // intersection expansion below (measured: ~40% of size-random pairs
    // fail the bound at t=0.5 on the fixture). Output-neutral: every
    // pruned pair would fail the final jaccard ≥ t filter anyway.
    // Sizes stay ON the pair rows through the distinct (functionally
    // dependent on the doc ids) so the final jaccard needs no size join.
    val candidates = prefixes
      .select(col(idCol).as("doc_a"), col("shingle"), col("sz").as("sz_a"))
      .join(prefixes.select(col(idCol).as("doc_b"), col("shingle"),
                            col("sz").as("sz_b")), Seq("shingle"))
      .filter(col("doc_a") < col("doc_b") &&
              least(col("sz_a"), col("sz_b")) >=
                lit(minJaccard) * greatest(col("sz_a"), col("sz_b")))
      .select(col("doc_a"), col("doc_b"), col("sz_a"), col("sz_b"))
      .distinct()
    // intersection count via equi-join on (doc, shingle) — expanding a
    // pair to A-shingles then equi-matching B's postings keeps the work
    // |A∩B| + |A|, never the |A|·|B| cross product
    candidates
      .join(docShingles.select(col(idCol).as("doc_a"), col("shingle")), Seq("doc_a"))
      .join(docShingles.select(col(idCol).as("doc_b"), col("shingle")),
            Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b"), col("sz_a"), col("sz_b"))
      .agg(count(lit(1)).as("n_common"))
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("sz_a") + col("sz_b") - col("n_common")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("jaccard"))
  }

  /** Cross-document duplicated-substring spans — position-level exact
    * dedup (the ExactSubstr recipe of Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", ACL 2022, done
    * Spark-shaped): a token position is duplicated when its k-gram
    * occurs in ≥ `minDocs` DISTINCT documents; runs of overlapping
    * duplicated k-grams merge into maximal spans `[span_start,
    * span_end]` (token-index grain, 0-based; two k-grams merge when
    * their start gap ≤ k, i.e. the token ranges overlap or touch).
    * Within-doc-only repetition is deliberately out of scope (the
    * `text_repetition` query covers that axis).
    *
    * Scale shape: instead of the paper's monolithic suffix array
    * (super-linear memory, single machine), this is two bounded
    * shuffles on a 60-bit k-gram hash — (1) distinct-doc counts per
    * hash (map-side-combined), (2) a semi join marking duplicated
    * positions — plus per-document windows (bounded by document
    * length) for the island merge. Hot k-grams (boilerplate) fan out
    * only their own posting list, and only to a count — the positions
    * table never expands. Hash family is the oracle-replayable md5-60
    * idiom; a 60-bit collision needs ~2³⁰ distinct k-grams per false
    * mark at corpus scale (and only ever OVER-marks a span). */
  def substringSpans(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 5, minDocs: Int = 2): DataFrame = {
    // positions matter here — duplicates are KEPT (posexplode), unlike
    // the set-semantics shingleSet the jaccard family shares
    val ph = reused(graft.sources.Tables.spread(df).select(
      col(idCol),
      posexplode(TextOps.wordShingles(col(textCol), k)).as(Seq("pos", "shingle")))
      .select(col(idCol), col("pos"),
              conv(substring(md5(col("shingle")), 1, 15), 16, 10)
                .cast("long").as("h")))
    val dup = ph.groupBy(col("h"))
      .agg(count_distinct(col(idCol)).as("nd"))
      .filter(col("nd") >= minDocs).select(col("h"))
    // semi join, not inner: a position appears once no matter how many
    // other documents share its k-gram
    val dupPos = ph.join(dup, Seq("h"), "left_semi")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
    // islands: running count of breaks (gap > k) splits span groups;
    // first row's lag is NULL → NULL > k is NULL → no break
    val marked = dupPos
      .withColumn("brk", when(col("pos") - lag(col("pos"), 1).over(w) > k, 1)
                           .otherwise(0))
      .withColumn("island", sum(col("brk")).over(w))
    marked.groupBy(col(idCol), col("island"))
      .agg(min(col("pos")).as("span_start"),
           (max(col("pos")) + lit(k - 1)).as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end"),
              (col("span_end") - col("span_start") + 1).as("span_tokens"))
  }

  /** The exploded line table behind [[lineDedup]]: one row per
    * (document, line) with the line's 60-bit content hash and token
    * count. "Line" = `segTokens` consecutive tokens, non-overlapping,
    * last segment ragged — the deterministic segment grain for the
    * single-line fixture corpus; a production web corpus splits on
    * '\n' FIRST and feeds each physical line through the identical
    * plan (the grain choice changes only this frame's first
    * projection). Shared (PlanCache) so the dedup query and any
    * line-grain sibling materialize the explode once. */
  def lineFrame(df: DataFrame, idCol: String, textCol: String,
                segTokens: Int): DataFrame = {
    val w = segTokens
    // the tokenized projection is grain-INDEPENDENT and shared
    // (PlanCache) across segment grains: the line (10-token) and
    // paragraph (50-token) dedup rows explode different segmentations
    // of the same tokenize pass, so the scan+split runs once
    val toks = reused(graft.sources.Tables.spread(df)
      .select(col(idCol), TextOps.tokenize(col(textCol)).as("t")))
    // guard nseg >= 1: Spark's sequence(1, 0) yields the DESCENDING
    // [1, 0], not an empty array — an empty doc would fabricate lines
    val base = toks
      .withColumn("nseg", expr(s"(size(t) + ${w - 1}) DIV $w"))
    reused(base
      .select(col(idCol), col("t"),
        explode(when(col("nseg") >= 1, sequence(lit(1), col("nseg")))
          .otherwise(array().cast("array<int>"))).as("line_no"))
      .withColumn("seg",
        concat_ws(" ", slice(col("t"),
          (col("line_no") - 1) * lit(w) + lit(1), lit(w))))
      .select(col(idCol), col("line_no"),
        conv(substring(md5(concat(lit("line|"), col("seg")).cast("binary")),
                       1, 15), 16, 10).cast("long").as("h"),
        size(slice(col("t"), (col("line_no") - 1) * lit(w) + lit(1), lit(w)))
          .cast("long").as("ntok")))
  }

  /** C4/RefinedWeb-style LINE-LEVEL dedup (Raffel et al. 2020 §2.2;
    * Penedo et al. 2023 §4.2): a line occurring in ≥ `minDocs`
    * DISTINCT documents is boilerplate (navigation, license headers,
    * cookie banners) and is removed from every document that carries
    * it. Per-document report: line count, removed-line count, tokens
    * surviving the cut, and the removed permille — the standard
    * web-corpus cleaning pass between exact dedup (document grain,
    * [[exactGroups]]) and ExactSubstr (position grain,
    * [[substringSpans]]).
    *
    * Scale shape (100 TB): one bounded shuffle on the 60-bit line
    * hash with map-side combine for the distinct-doc counts (the
    * line-hash table is line-VOCABULARY sized, not corpus sized).
    * The hot-line probe join carries no hint: at fixture scale the
    * blocklist is a handful of boilerplate lines and Spark's size
    * rule broadcasts it back onto the line stream, but a web-scale
    * corpus carries billions of distinct cross-document lines, and
    * past `spark.sql.autoBroadcastJoinThreshold` the probe is a
    * shuffle join on `h` — co-partitioned with the distinct-doc
    * count's existing hash exchange, so it adds no new corpus-keyed
    * shuffle. A lazy plan builder: construction runs no Spark job.
    * The per-doc rollup is the one remaining shuffle on the doc key.
    * Hash family is the oracle-replayable md5-60 idiom (no RNG);
    * over-marking needs a 60-bit collision against a hot line. */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
                segTokens: Int = 10, minDocs: Int = 2): DataFrame =
    lineRollup(lineFrame(df, idCol, textCol, segTokens),
               hotLines(df, idCol, textCol, segTokens, minDocs), idCol)

  /** The standing hot-line BLOCKLIST artifact behind [[lineDedup]]:
    * one `h` row per line hash occurring in ≥ `minDocs` distinct
    * documents. This is what a production pipeline PERSISTS between
    * runs — the incremental gate ([[lineDedupIncrement]]) probes new
    * docs against it without rescanning the corpus (the
    * `pipe_incr_dedup` signature-artifact contract). Rides the shared
    * [[lineFrame]], so building it next to the full report costs no
    * extra corpus pass. */
  def hotLines(df: DataFrame, idCol: String, textCol: String,
               segTokens: Int = 10, minDocs: Int = 2): DataFrame =
    lineFrame(df, idCol, textCol, segTokens)
      .groupBy(col("h"))
      .agg(count_distinct(col(idCol)).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("h"))

  /** Incremental line-dedup gate: NEW documents probed against a
    * standing [[hotLines]] blocklist — same per-doc report as
    * [[lineDedup]], but the corpus contributes only its persisted
    * artifact; only the batch is segmented fresh. Streamed form:
    * [[graft.streaming.StreamOps.lineDedupGateBatch]] runs this per
    * micro-batch (foreachBatch), and because each document's report
    * depends only on (doc, blocklist), streamed ≡ batch over any
    * micro-batch partitioning (spec-pinned). */
  def lineDedupIncrement(blocklist: DataFrame, batch: DataFrame,
                         idCol: String, textCol: String,
                         segTokens: Int = 10): DataFrame =
    lineRollup(lineFrame(batch, idCol, textCol, segTokens),
               blocklist.select(col("h")), idCol)

  /** Shared probe + doc rollup: left join the line stream against the
    * hot set, then one doc-keyed aggregation. */
  private def lineRollup(lines: DataFrame, hot: DataFrame,
                         idCol: String): DataFrame =
    lines.join(hot.select(col("h"), lit(1L).as("dup")), Seq("h"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_lines"),
           sum(when(col("dup").isNotNull, 1L).otherwise(0L))
             .as("n_dup_lines"),
           sum(when(col("dup").isNull, col("ntok")).otherwise(0L))
             .as("kept_tokens"))
      .withColumn("removed_permille",
        expr("n_dup_lines * 1000 DIV n_lines"))

  /** DOMAIN-scoped line dedup (RefinedWeb §3/§4: URL/domain curation
    * precedes corpus-wide line removal — nav bars, footers and cookie
    * banners are DOMAIN-local templates, so scoping the hot rule to the
    * domain catches boilerplate a corpus-global ≥ minDocs rule both
    * over-fires on (common English lines across unrelated sites) and
    * under-prices (a 50-doc site's template never crosses a global
    * threshold that web-scale hot lines set)). Hot = a segment hash in
    * ≥ `minDocs` distinct documents OF THE SAME domain; output is the
    * per-domain curation report (docs, lines, dup lines, kept tokens,
    * removed permille) a pipeline uses to rank domains by boilerplate
    * mass. Documents with zero lines (empty after tokenize) carry no
    * rows, matching [[lineDedup]]'s per-doc report.
    *
    * Scale shape — deliberately JOIN-FREE past the domain tag: the
    * shared [[lineFrame]] (the same pinned explode the line/paragraph
    * rows read) is tagged with its domain via ONE doc-keyed equi join,
    * then everything derives from a (domain, h, doc) pre-aggregation —
    * the r10 value-grain discipline: `nd` falls out as a plain count
    * (no count_distinct Expand), dup/kept masses as Σ over (cnt, ntok)
    * cells (equal h ⇒ equal segment text ⇒ equal ntok), so no hot-set
    * probe join and no broadcast ever materializes. The per-domain doc
    * count rides the same grain. Two shuffles total after the tag:
    * corpus-sized (domain, h, doc), then the tiny (domain, h) and
    * domain rollups. */
  /** Cross-domain TEMPLATE-SHARING graph (RefinedWeb §3 observes
    * mirror/syndication sites: the same boilerplate segments recur
    * across domains): for each unordered domain pair, how many distinct
    * segment hashes both carry. The curation read: a heavy edge means
    * one of the two is a mirror/scraper whose "unique" kept tokens are
    * another domain's content — rank edges before setting per-domain
    * mixture weights ([[domainLineDedup]]).
    *
    * Scale shape: (domain, h) DISTINCT grain (corpus-sized shuffle,
    * map-side combined), then a SELF-JOIN ON THE SEGMENT HASH — the
    * classic pair blowup, bounded the [[jaccardPairs]] way: a hash
    * carried by more than `maxDomains` domains (universal boilerplate —
    * cookie banners, "all rights reserved") is dropped BEFORE the
    * self-join, capping per-hash fan-out at maxDomains² rows, and
    * single-domain hashes are dropped too (they form no pair). The cap
    * is the df-cap/stop-shingle treatment, applied at domain grain
    * where it is also semantically right: a segment on 1000 domains
    * says nothing about any PAIR of them. */
  def domainOverlap(df: DataFrame, idCol: String, domainCol: String,
                    textCol: String, segTokens: Int = 10,
                    maxDomains: Int = 20): DataFrame = {
    val lines = lineFrame(df, idCol, textCol, segTokens)
    val dh = reused(lines
      .join(df.select(col(idCol), col(domainCol)), Seq(idCol))
      .select(col(domainCol), col("h")).distinct())
    val spread = dh.groupBy(col("h")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2 && col("nd") <= maxDomains)
      .select(col("h"))
    val kept = reused(dh.join(spread, Seq("h"), "left_semi"))
    kept.select(col(domainCol).as("domain_a"), col("h"))
      .join(kept.select(col(domainCol).as("domain_b"), col("h")), Seq("h"))
      .filter(col("domain_a") < col("domain_b"))
      .groupBy(col("domain_a"), col("domain_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  def domainLineDedup(df: DataFrame, idCol: String, domainCol: String,
                      textCol: String, segTokens: Int = 10,
                      minDocs: Int = 2): DataFrame = {
    val lines = lineFrame(df, idCol, textCol, segTokens)
    val tagged = lines.join(
      df.select(col(idCol), col(domainCol)), Seq(idCol))
    val grain = reused(tagged
      .groupBy(col(domainCol), col("h"), col(idCol))
      .agg(count(lit(1)).as("c"), max(col("ntok")).as("ntok")))
    val byHash = grain
      .groupBy(col(domainCol), col("h"))
      .agg(sum(col("c")).as("cnt"), count(lit(1)).as("nd"),
           max(col("ntok")).as("ntok"))
    val nDocs = grain.select(col(domainCol), col(idCol)).distinct()
      .groupBy(col(domainCol)).agg(count(lit(1)).as("n_docs"))
    byHash.groupBy(col(domainCol))
      .agg(sum(col("cnt")).as("n_lines"),
           sum(when(col("nd") >= minDocs, col("cnt")).otherwise(0L))
             .as("n_dup_lines"),
           sum(when(col("nd") < minDocs, col("cnt") * col("ntok"))
                 .otherwise(0L)).as("kept_tokens"))
      .join(nDocs, Seq(domainCol))
      .select(col(domainCol), col("n_docs"), col("n_lines"),
              col("n_dup_lines"), col("kept_tokens"))
      .withColumn("removed_permille",
        expr("n_dup_lines * 1000 DIV n_lines"))
  }
}
