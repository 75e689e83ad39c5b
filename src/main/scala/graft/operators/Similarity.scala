package graft.operators

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Approximate-nearest-neighbor / similarity search over an embedding
  * column (`array<float>`) — the extension surface of SURVEY §7.2 item 5.
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k of a (small, broadcast)
  *    query set against the full corpus — the correctness baseline.
  *    Scales as |Q|·|corpus| map-side work with NO shuffle of the corpus
  *    (queries broadcast; top-k via rank-limited window on query id).
  *  - [[lshTopK]]: random-hyperplane (sign) LSH — corpus is bucketed by a
  *    deterministic nBits-bit signature; candidates are same-bucket only.
  *    This is the 100 TB path: bucketing is one map pass + a shuffle on
  *    the (small) bucket key, and each query probes one bucket.
  *
  * Determinism: hyperplanes are ±1 Rademacher vectors derived from md5
  * of "p<plane>|<dim>" at build time (no RNG) — the same constants are
  * embedded in the DuckDB oracle, and ±1·float products are exact, so
  * signatures agree bit-for-bit across engines.
  */
object Similarity {

  /** Deterministic ±1 hyperplane matrix: planes(j)(d) ∈ {-1f, +1f}. */
  def planeSigns(nPlanes: Int, dims: Int): Array[Array[Float]] = {
    val md = MessageDigest.getInstance("MD5")
    Array.tabulate(nPlanes) { j =>
      Array.tabulate(dims) { d =>
        val h = md.digest(s"p$j|$d".getBytes(StandardCharsets.UTF_8))
        if ((h(0) & 1) == 1) 1.0f else -1.0f
      }
    }
  }

  /** nBits-bit LSH bucket id of an embedding column: bit j = sign of the
    * dot product with plane j (computed by the native codegen'd
    * DotProductFloat — sequential accumulation, oracle-replayable). */
  def lshBucket(emb: Column, planes: Array[Array[Float]]): Column =
    planes.zipWithIndex.map { case (p, j) =>
      when(VectorFunctions.dotProduct(emb, lit(p)) >= 0, lit(1 << j))
        .otherwise(lit(0))
    }.reduce(_ + _)

  /** Exact cosine top-k: query rows (filtered by `queryPred`) broadcast
    * against the full corpus. Output: query_id, neighbor_id, cosine. */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String,
                     queryPred: Column, k: Int): DataFrame = {
    val corpus = emb.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"))
    val queries = emb.filter(queryPred)
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    val scored = corpus.crossJoin(broadcast(queries))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
              VectorFunctions.cosineSim(col("qvec"), col("cvec")).as("cosine"))
    Relational.topKPerGroup(scored, Seq("query_id"),
      Seq(col("cosine").desc, col("neighbor_id").asc), k, "rank")
  }

  /** Metadata key carrying the fixed width of an embedding column
    * (parquet array types don't encode length). [[graft.sources.Tables
    * .embeddings]] stamps it on the fixture; any producer with a known
    * width can do the same and make dims inference free. */
  val DimsMetadataKey = "dims"

  /** Embedding width read off the column's schema metadata when present
    * (`DimsMetadataKey`, zero cost, no job), else measured from one row —
    * so LSH callers can't silently bucketize a non-fixture corpus on a
    * wrong-width plane matrix. The one-row fallback is a LIMIT-1 job that
    * runs eagerly at plan-construction time (plans prune to the scan);
    * pass `dims` explicitly or stamp the metadata to avoid it. */
  def embeddingDims(emb: DataFrame, vecCol: String): Int = {
    val md = emb.schema(vecCol).metadata
    if (md.contains(DimsMetadataKey)) {
      val d = md.getLong(DimsMetadataKey).toInt
      require(d > 0, s"$vecCol metadata '$DimsMetadataKey' must be positive, got $d")
      return d
    }
    val firstVec = emb.select(col(vecCol)).filter(col(vecCol).isNotNull)
      .limit(1).collect()
    require(firstVec.nonEmpty, s"cannot infer dims: no non-null $vecCol row")
    firstVec(0).getSeq[Float](0).length
  }

  /** LSH-blocked approximate top-k: candidates share the query's bucket.
    * Recall is governed by nPlanes (fewer bits → bigger buckets → higher
    * recall & cost); [[lshMultiProbeTopK]] is the multi-probe extension
    * (more recall at query time, same index). `dims` must match the
    * corpus embedding width (pass it when known; ≤ 0 infers via
    * [[embeddingDims]]). */
  def lshTopK(emb: DataFrame, idCol: String, vecCol: String,
              queryPred: Column, k: Int, nPlanes: Int = 8,
              dims: Int = -1): DataFrame = {
    val d = if (dims > 0) dims else embeddingDims(emb, vecCol)
    val planes = planeSigns(nPlanes, d)
    val bucketed = emb.select(col(idCol), col(vecCol),
                              lshBucket(col(vecCol), planes).as("bucket"))
    val corpus = bucketed.select(col(idCol).as("neighbor_id"),
                                 col(vecCol).as("cvec"), col("bucket"))
    val queries = bucketed.filter(queryPred)
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"), col("bucket"))
    val scored = corpus.join(broadcast(queries), Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
              VectorFunctions.cosineSim(col("qvec"), col("cvec")).as("cosine"))
    Relational.topKPerGroup(scored, Seq("query_id"),
      Seq(col("cosine").desc, col("neighbor_id").asc), k, "rank")
  }

  /** Probe-mask set for multi-probe LSH: every nBits-wide mask with at
    * most `maxFlips` bits set, ascending — bucket ⊕ mask enumerates the
    * Hamming ball around the query's signature. */
  def probeMasks(nBits: Int, maxFlips: Int): Seq[Int] =
    (0 until (1 << nBits)).filter(Integer.bitCount(_) <= maxFlips)

  /** Multi-probe LSH top-k: the standard recall extension of [[lshTopK]]
    * — each query probes its own bucket PLUS every bucket within Hamming
    * distance `maxFlips` of its signature (sign-LSH's near-miss buckets:
    * a plane whose dot product is near zero flips its bit under small
    * perturbations, so adjacent buckets hold the closest misses).
    * Candidates grow ~C(nPlanes, ≤maxFlips)× at UNCHANGED index cost —
    * same one-pass bucketing, same build — which is the knob's whole
    * point: recall is bought at query time, not index time.
    *
    * Scale shape: identical to [[lshTopK]] — the probe expansion
    * multiplies only the broadcast query side (|Q| × masks rows); the
    * corpus still partitions by its single bucket id and never
    * replicates. Each corpus row joins at most once per query (buckets
    * are disjoint), so no candidate dedup pass is needed. */
  def lshMultiProbeTopK(emb: DataFrame, idCol: String, vecCol: String,
                        queryPred: Column, k: Int, nPlanes: Int = 8,
                        maxFlips: Int = 2, dims: Int = -1): DataFrame = {
    val d = if (dims > 0) dims else embeddingDims(emb, vecCol)
    val planes = planeSigns(nPlanes, d)
    val masks = probeMasks(nPlanes, maxFlips)
    val bucketed = emb.select(col(idCol), col(vecCol),
                              lshBucket(col(vecCol), planes).as("bucket"))
    val corpus = bucketed.select(col(idCol).as("neighbor_id"),
                                 col(vecCol).as("cvec"), col("bucket"))
    val queries = bucketed.filter(queryPred)
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"), col("bucket"))
      .withColumn("mask", explode(lit(masks.toArray)))
      .select(col("query_id"), col("qvec"),
              col("bucket").bitwiseXOR(col("mask")).as("bucket"))
    val scored = corpus.join(broadcast(queries), Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
              VectorFunctions.cosineSim(col("qvec"), col("cvec")).as("cosine"))
    Relational.topKPerGroup(scored, Seq("query_id"),
      Seq(col("cosine").desc, col("neighbor_id").asc), k, "rank")
  }

  /** Per-cell centroid vectors (per-dimension medians, ordered, float) —
    * the coarse "training" step shared by [[ivfTopK]] and the IVF-PQ
    * probe. Medians, not means: `percentile` is an exact partial-merge
    * aggregate whose interpolated result is order-independent, so —
    * unlike a float mean, which depends on partial-aggregation order —
    * centroids are deterministic and oracle-replayable. */
  def cellCentroids(emb: DataFrame, vecCol: String, cellCol: String): DataFrame =
    emb
      .select(col(cellCol).as("cell"), posexplode(col(vecCol)).as(Seq("d", "v")))
      .groupBy(col("cell"), col("d"))
      .agg(expr("percentile(v, 0.5)").as("cv"))
      .groupBy(col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("d"), col("cv")))),
                     x => x.getField("cv").cast("float")).as("centroid"))

  /** Deterministic spherical k-means coarse quantizer — the *trained*
    * alternative to a pre-existing label column for [[ivfTopK]], so ANN
    * serving works on unlabeled corpora. No RNG anywhere, so the trained
    * cells are identical across runs, partitionings, and engines:
    *
    *  - '''init''': the `c` corpus vectors ranked first by
    *    `md5(cast(id as string))` — a seeded sample selected by a
    *    distributed top-c (`orderBy.limit` → TakeOrderedAndProject,
    *    never a global sort); cell ids are ranks within those c rows.
    *  - '''assignment''': argmax cosine against the broadcast centroids
    *    (codegen'd [[graft.functions.VectorFunctions.cosineSim]]), ties
    *    broken toward the smaller cell id.
    *  - '''update''': per-dimension MEDIAN centroids ([[cellCentroids]])
    *    — order-independent where a float mean is not, which is what
    *    keeps `iters` rounds of re-assignment deterministic.
    *
    * Scale: each iteration broadcasts c·d floats, does one map-side
    * argmax pass over the corpus, and one posexplode aggregation for the
    * update — the corpus itself never shuffles. A cell abandoned by
    * re-assignment simply disappears (both engines agree row-for-row).
    *
    * Returns `(idCol, vecCol, cell)` — the final assignment against the
    * last trained centroids, persisted ([[PlanCache]]) because IVF
    * consumers reference it from centroid/corpus/query subtrees.
    */
  def kmeansCells(emb: DataFrame, idCol: String, vecCol: String,
                  c: Int, iters: Int): DataFrame =
    PlanCache.reuse(assignCells(emb, idCol, vecCol,
                                kmeansCentroids(emb, idCol, vecCol, c, iters)))

  /** Nearest-centroid assignment: argmax cosine against the broadcast
    * centroid table (ties to the smaller cell) — the serving half of
    * [[kmeansCells]], exposed separately so a FROZEN trained quantizer
    * can assign a new batch (incremental SemDeDup, online ingest)
    * without retraining. */
  def assignCells(emb: DataFrame, idCol: String, vecCol: String,
                  cents: DataFrame): DataFrame =
    Relational.topKPerGroup(
      emb.select(col(idCol), col(vecCol)).crossJoin(broadcast(cents))
        .select(col(idCol), col(vecCol), col("cell"),
                VectorFunctions.cosineSim(col(vecCol), col("centroid"))
                  .as("cs")),
      Seq(idCol), Seq(col("cs").desc, col("cell").asc), 1, "rn")
      .select(col(idCol), col(vecCol), col("cell"))

  /** The trained centroid table `(cell, centroid)` of [[kmeansCells]] —
    * the persistable quantizer artifact. Same training loop; exposed so
    * incremental consumers can freeze it. */
  def kmeansCentroids(emb: DataFrame, idCol: String, vecCol: String,
                      c: Int, iters: Int): DataFrame = {
    val seeds = emb
      .select(col(idCol), col(vecCol),
              md5(col(idCol).cast("string")).as("sk"))
      .orderBy(col("sk"), col(idCol)).limit(c)
    // unpartitioned window is safe here: it runs AFTER the limit, over
    // exactly c rows (the corpus-wide ranking above is the distributed
    // top-c, not this window)
    val seedW = org.apache.spark.sql.expressions.Window
      .orderBy(col("sk"), col(idCol))
    var cents = seeds.select(row_number().over(seedW).as("cell"),
                             col(vecCol).as("centroid"))
    for (_ <- 1 to iters)
      cents = cellCentroids(assignCells(emb, idCol, vecCol, cents),
                            vecCol, "cell")
    cents
  }

  /** IVF (inverted-file) approximate top-k — the other standard ANN
    * scale path: the corpus is partitioned into coarse cells, each query
    * probes only the `nprobe` cells whose centroids are nearest, and
    * exact scoring runs within those cells. `cellCol` supplies the
    * coarse assignment (a trained quantizer's output in production; the
    * fixture's `label` column here); centroids come from
    * [[cellCentroids]] — one posexplode + aggregate pass, no driver-side
    * k-means loop. */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String, cellCol: String,
              queryPred: Column, k: Int, nprobe: Int = 2): DataFrame = {
    val centroids = cellCentroids(emb, vecCol, cellCol)
    val queries = emb.filter(queryPred)
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    val probed = Relational.topKPerGroup(
      queries.crossJoin(broadcast(centroids))
        .select(col("query_id"), col("qvec"), col("cell"),
                VectorFunctions.cosineSim(col("qvec"), col("centroid")).as("cc")),
      Seq("query_id"), Seq(col("cc").desc, col("cell").asc), nprobe, "cell_rank")
    val corpus = emb.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"),
                            col(cellCol).as("cell"))
    val scored = corpus.join(broadcast(probed.select(col("query_id"), col("qvec"),
                                                     col("cell"))),
                             Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
              VectorFunctions.cosineSim(col("qvec"), col("cvec")).as("cosine"))
    Relational.topKPerGroup(scored, Seq("query_id"),
      Seq(col("cosine").desc, col("neighbor_id").asc), k, "rank")
  }

  /** SemDeDup-style semantic deduplication (Abbas et al., "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication", arXiv:2303.09540 — public): cluster embeddings
    * with a coarse quantizer, call two documents semantic duplicates
    * when they share a cell AND their cosine exceeds `minCosine`, and
    * keep per near-dup group the representative with the smallest id.
    * "Smallest id" here is the LOCAL-MINIMUM rule — a vector is dropped
    * iff SOME smaller-id in-cell neighbor is a near-dup — which is the
    * standard greedy SemDeDup selection, deterministic, and (unlike a
    * full transitive closure) closed-form replayable in one SQL EXISTS.
    *
    * Scale shape: the pair join is cell-blocked (the whole point of the
    * clustering step — within-cell pairs only, never all-pairs), one
    * shuffle on the cell key; the discard set is a distinct id list
    * joined back in one more shuffle. `cells` is a (id, vec, cellCol)
    * frame — [[kmeansCells]] output for unlabeled corpora (its training
    * is PlanCache-shared with the trained-IVF serving path, so dedup
    * and ANN pay for ONE quantizer). */
  def semanticDedup(cells: DataFrame, idCol: String, vecCol: String,
                    cellCol: String, minCosine: Double): DataFrame = {
    val base = PlanCache.reuse(
      cells.select(col(idCol), col(vecCol), col(cellCol).as("cell")))
    val dups = base.select(col("cell"), col(idCol).as("vec_a"),
                           col(vecCol).as("va"))
      .join(base.select(col("cell"), col(idCol).as("vec_b"),
                        col(vecCol).as("vb")), Seq("cell"))
      .filter(col("vec_a") < col("vec_b"))
      .filter(VectorFunctions.cosineSim(col("va"), col("vb")) >= minCosine)
      .select(col("vec_b").as(idCol)).distinct()
    base.join(dups.withColumn("dup", lit(1L)), Seq(idCol), "left")
      .select(col(idCol), col("cell"),
              when(col("dup").isNotNull, 0L).otherwise(1L).as("keep"))
  }

  /** INCREMENTAL SemDeDup: keep/drop decisions for a new batch against
    * an already-deduplicated corpus, from persisted artifacts — the
    * trained quantizer stays frozen and the corpus is represented by its
    * (id, vec, cell) assignment table, never re-trained or re-scanned as
    * raw data. A batch vector is dropped iff SOME smaller-id same-cell
    * near-dup exists in corpus ∪ batch — exactly [[semanticDedup]]'s
    * local-minimum rule restricted to batch rows, so incremental ≡ full
    * recompute over the union under the same frozen centroids
    * (spec-pinned; the streaming twin feeds ascending-id micro-batches
    * through this per batch and the union of decisions matches one big
    * recompute).
    *
    * Scale shape: one shuffle on the cell key joins the (small) batch
    * against in-cell corpus rows; the EXISTS never fans out past the
    * batch's own cells. Corpus cells are what a production pipeline
    * persists between runs (mirror of `pipe_incr_dedup`'s
    * signature-artifact contract, `Dedup.scala`). */
  def semanticDedupIncrement(corpusCells: DataFrame, batchCells: DataFrame,
                             idCol: String, vecCol: String, cellCol: String,
                             minCosine: Double): DataFrame = {
    def norm(df: DataFrame) =
      df.select(col(cellCol).as("cell"), col(idCol), col(vecCol))
    val batch = PlanCache.reuse(norm(batchCells))
    val pool = norm(corpusCells).unionByName(batch)
    val dups = batch.select(col("cell"), col(idCol).as("vec_b"),
                            col(vecCol).as("vb"))
      .join(pool.select(col("cell"), col(idCol).as("vec_a"),
                        col(vecCol).as("va")), Seq("cell"))
      .filter(col("vec_a") < col("vec_b"))
      .filter(VectorFunctions.cosineSim(col("va"), col("vb")) >= minCosine)
      .select(col("vec_b").as(idCol)).distinct()
    batch.join(dups.withColumn("dup", lit(1L)), Seq(idCol), "left")
      .select(col(idCol), col("cell"),
              when(col("dup").isNotNull, 0L).otherwise(1L).as("keep"))
  }

  /** LSH-blocked near-dup pairs: same deterministic bucketing as
    * [[lshTopK]], pairs within a bucket above the cosine threshold.
    * The 100 TB form of [[cosineNearDupPairs]] (blocking instead of the
    * all-pairs cross join), fully oracle-replayable. */
  def lshNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                      minCosine: Double, nPlanes: Int = 8,
                      dims: Int = -1): DataFrame = {
    val d = if (dims > 0) dims else embeddingDims(emb, vecCol)
    val planes = planeSigns(nPlanes, d)
    val bucketed = emb.select(col(idCol), col(vecCol),
                              lshBucket(col(vecCol), planes).as("bucket"))
    val a = bucketed.select(col(idCol).as("vec_a"), col(vecCol).as("va"),
                            col("bucket"))
    val b = bucketed.select(col(idCol).as("vec_b"), col(vecCol).as("vb"),
                            col("bucket"))
    a.join(b, Seq("bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
              VectorFunctions.cosineSim(col("va"), col("vb")).as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /** Exact all-pairs above a cosine threshold — embedding near-dup
    * detection, naive crossJoin form. Kept ONLY as the spec baseline
    * that [[tiledNearDupPairs]] (the registered, distributable form)
    * is proven equal against; not registered itself. */
  def cosineNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                         minCosine: Double): DataFrame = {
    val a = emb.select(col(idCol).as("vec_a"), col(vecCol).as("va"))
    val b = emb.select(col(idCol).as("vec_b"), col(vecCol).as("vb"))
    a.crossJoin(b).filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
              VectorFunctions.cosineSim(col("va"), col("vb")).as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /** TILE-PARTITIONED exact all-pairs cosine threshold join — the
    * distributable form of [[cosineNearDupPairs]], output-identical
    * (spec-proven).
    *
    * Honesty about the asymptotics: an EXACT threshold join over
    * isotropic embeddings is inherently Θ(n²) in verification work —
    * any sub-quadratic candidate generator (LSH bands, quantizer
    * cells) has false negatives on near-orthogonal data, which is
    * exactly the recall the `sim_neardup_lsh` / `sim_semantic_dedup`
    * production paths trade away. What CAN scale is the
    * distribution of that quadratic work, and a `crossJoin` does it
    * worst: one CartesianProduct/BNLJ node whose parallelism is
    * capped by the stream side's partitioning and which re-streams
    * (or broadcasts whole) the build side per task.
    *
    * This form blocks ids into `blocks` hash groups and enumerates
    * the blocks·(blocks+1)/2 unordered block pairs as a literal tile
    * table: the pair space becomes balanced, size-bounded equi-join
    * tiles — the same decomposition a distributed GEMM uses. Each
    * tile's two input blocks fit executor memory by construction
    * (n/blocks rows each); parallelism grows quadratically with
    * `blocks` (pick blocks ≈ √(2·executors) at scale; 100 TB of
    * embeddings at 1000 executors → blocks ≈ 45 → ~1k tiles). No
    * cartesian or nested-loop node anywhere in the plan
    * (PlanGuardSpec-enforced). Block assignment hashes the id
    * (xxhash64) rather than casting it: type-agnostic and ANSI-safe
    * for non-numeric ids (a cast would throw), and balanced even when
    * ids are clustered. Null ids never emit a pair — the `ia < ib` /
    * least/greatest orientation is null-rejecting by design. */
  def tiledNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                        minCosine: Double, blocks: Int = 8): DataFrame = {
    val session = emb.sparkSession
    import session.implicits._
    val base = PlanCache.reuse(emb.select(col(idCol), col(vecCol),
      pmod(xxhash64(col(idCol)), lit(blocks.toLong)).as("blk")))
    val tiles = (for (i <- 0 until blocks; j <- i until blocks)
      yield (i.toLong, j.toLong)).toDF("ba", "bb")
    val a = base.select(col("blk").as("ba"), col(idCol).as("ia"),
                        col(vecCol).as("va"))
    val b = base.select(col("blk").as("bb"), col(idCol).as("ib"),
                        col(vecCol).as("vb"))
    a.join(broadcast(tiles), Seq("ba"))
      .join(b, Seq("bb"))
      // diagonal tiles order in-tile; off-diagonal tiles see each
      // unordered pair exactly once (x∈i as build, y∈j as probe) and
      // orient it afterwards — least/greatest, cosine is symmetric
      .filter(col("ba") =!= col("bb") || col("ia") < col("ib"))
      .select(least(col("ia"), col("ib")).as("vec_a"),
              greatest(col("ia"), col("ib")).as("vec_b"),
              VectorFunctions.cosineSim(col("va"), col("vb")).as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /** Per-(code, subspace) PQ codebook: ordered double centroid slices —
    * per-dimension MEDIANS over the coarse cells (`cellCol`), the IVF
    * determinism recipe: training is a partial-merge aggregate with no
    * RNG and no iteration. Shared by [[pqCodes]] and [[ivfPqTopK]].
    * Requires `dims % m == 0` — an uneven split would silently drop
    * trailing dimensions and leave a phantom partial subspace. */
  def pqCodebook(emb: DataFrame, vecCol: String, cellCol: String,
                 m: Int, dims: Int): DataFrame = {
    require(dims % m == 0, s"dims=$dims must be divisible by m=$m subspaces")
    val subDims = dims / m
    emb
      .select(col(cellCol).as("code"), posexplode(col(vecCol)).as(Seq("d", "v")))
      .groupBy(col("code"), col("d"))
      .agg(expr("percentile(v, 0.5)").as("cv"))
      .withColumn("sub", (col("d") / subDims).cast("int"))
      .groupBy(col("code"), col("sub"))
      .agg(transform(array_sort(collect_list(struct(col("d"), col("cv")))),
                     x => x.getField("cv")).as("cent"))
  }

  /** Coarse cell centroids derived from an already-built PQ codebook
    * (flatten the ordered subspace slices, cast float) — value-identical
    * to [[cellCentroids]] but free when the codebook exists. */
  private def centroidsFromCodebook(codebook: DataFrame): DataFrame =
    codebook.groupBy(col("code").as("cell"))
      .agg(transform(
        flatten(transform(array_sort(collect_list(struct(col("sub"), col("cent")))),
                          x => x.getField("cent"))),
        v => v.cast("float")).as("centroid"))

  /** Ordered L2 fold over a subspace pair — the sequential-sum contract
    * shared with the generated oracle SQL. */
  private def l2Fold(a: String, b: String): Column = expr(
    s"aggregate(zip_with($a, $b, (x, c) -> (x - c) * (x - c))," +
      " CAST(0.0 AS DOUBLE), (acc, t) -> acc + t)")

  /** Product quantization candidate distances: split each vector into
    * `m` contiguous subspaces and score it against EVERY codebook entry
    * per subspace — one row per (vector, subspace, codebook entry), L2
    * as an ORDERED left fold (`aggregate(zip_with(...))`, the same
    * sequential-sum contract as the native dot product) so every
    * distance is bit-identical cross-engine. Callers pick the code via
    * a (dist asc, code asc) rank — see `sim_pq_codes` / [[ivfPqTopK]].
    *
    * Shuffle shape at 100 TB: codebook = (cells × dims) medians — tiny,
    * broadcast; scoring is a map-side cross of each vector row with
    * m×cells codebook entries, no corpus shuffle. */
  def pqCodes(emb: DataFrame, idCol: String, vecCol: String, cellCol: String,
              m: Int, dims: Int): DataFrame =
    pqCodes(emb, idCol, vecCol, m, dims,
            pqCodebook(emb, vecCol, cellCol, m, dims))

  /** [[pqCodes]] against a pre-built codebook (avoids re-training when
    * the caller already has one — see [[ivfPqTopK]]). */
  def pqCodes(emb: DataFrame, idCol: String, vecCol: String,
              m: Int, dims: Int, codebook: DataFrame): DataFrame = {
    require(dims % m == 0, s"dims=$dims must be divisible by m=$m subspaces")
    val subDims = dims / m
    emb.select(col(idCol).as("vec_id"), col(vecCol).as("vec"))
      .withColumn("sub", explode(sequence(lit(0), lit(m - 1))))
      .withColumn("svec", expr(
        s"transform(slice(vec, sub * $subDims + 1, $subDims)," +
          " x -> CAST(x AS DOUBLE))"))
      .join(broadcast(codebook), Seq("sub"))
      .withColumn("dist", l2Fold("svec", "cent"))
      .select(col("vec_id"), col("sub"), col("code"), col("dist"))
  }

  /** IVF-PQ serving path: probe the `nprobe` nearest coarse cells (by
    * cosine to the cell centroid, as [[ivfTopK]]), then score every
    * candidate by ASYMMETRIC distance — the exact query subvector
    * against the candidate's quantized code centroid, summed over
    * subspaces in FIXED subspace order (conditional-aggregate sum, not
    * an unordered float reduction) so the ADC score is bit-deterministic.
    * At scale: codes are m small ints per vector (the 4× memory win),
    * the codebook broadcasts, and scoring reads codes — never the
    * original candidate vectors. */
  def ivfPqTopK(emb: DataFrame, idCol: String, vecCol: String,
                cellCol: String, queryPred: Column, k: Int,
                m: Int, dims: Int, nprobe: Int = 2): DataFrame = {
    val subDims = dims / m
    // train ONCE: the codebook feeds the code assignment, the ADC
    // scorer, AND (flattened) the coarse probe centroids — three
    // independent DataFrame subtrees would otherwise each re-run the
    // posexplode + two-level percentile pass over the corpus
    val cents = PlanCache.reuse(pqCodebook(emb, vecCol, cellCol, m, dims))
    val codes = Relational.topKPerGroup(
      pqCodes(emb, idCol, vecCol, m, dims, cents),
      Seq("vec_id", "sub"), Seq(col("dist").asc, col("code").asc), 1, "rn")
      .select(col("vec_id").as("neighbor_id"), col("sub"), col("code"))
    val probed = Relational.topKPerGroup(
      emb.filter(queryPred)
        .select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
        .crossJoin(broadcast(centroidsFromCodebook(cents)))
        .select(col("query_id"), col("qvec"), col("cell"),
                graft.functions.VectorFunctions
                  .cosineSim(col("qvec"), col("centroid")).as("cc")),
      Seq("query_id"), Seq(col("cc").desc, col("cell").asc), nprobe, "cell_rank")
      .select(col("query_id"), col("qvec"), col("cell"))
    val candidates = emb
      .select(col(idCol).as("neighbor_id"), col(cellCol).as("cell"))
      .join(broadcast(probed), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
    val subScores = candidates
      .join(codes, Seq("neighbor_id"))
      .join(broadcast(cents), Seq("sub", "code"))
      .withColumn("qsvec", expr(
        s"transform(slice(qvec, sub * $subDims + 1, $subDims)," +
          " x -> CAST(x AS DOUBLE))"))
      .withColumn("sd", l2Fold("qsvec", "cent"))
    val adc = subScores.groupBy(col("query_id"), col("neighbor_id"))
      .agg((0 until m).map(i => max(when(col("sub") === i, col("sd"))))
             .reduce(_ + _).as("adc"))
    Relational.topKPerGroup(adc, Seq("query_id"),
      Seq(col("adc").asc, col("neighbor_id").asc), k, "rank")
  }

  // --------------------------------------------------------- mean pooling

  /** Chunk→group mean pooling: per-dimension mean vector of each group —
    * how a pipeline turns chunk/passage embeddings into document- or
    * class-level vectors before ANN.
    *
    * A cross-row float mean is summation-order dependent, so each
    * element is quantized ONCE to a 1e-7 integer grid (below float32's
    * own resolution for |x| ≤ 1) and the group reduction sums exact
    * integers — deterministic at any parallelism and replayable by the
    * oracle. One (group, dim) shuffle with map-side combine.
    *
    * Output: (groupCol, dim [1-based], n_vecs, pooled). */
  def meanPool(df: DataFrame, groupCol: String, vecCol: String): DataFrame =
    df.select(col(groupCol), posexplode(col(vecCol)).as(Seq("pos", "x")))
      .select(col(groupCol), (col("pos") + 1).as("dim"),
        round(col("x").cast("double") * lit(1e7)).cast("long").as("q"))
      .groupBy(col(groupCol), col("dim"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("q")).as("sq"))
      .select(col(groupCol), col("dim"), col("n_vecs"),
        (col("sq").cast("double") / lit(1e7) / col("n_vecs")).as("pooled"))

  /** Nearest-centroid assignment eval: every vector is assigned to the
    * label whose mean embedding it is most cosine-similar to, and the
    * result is the label × predicted-label confusion — the standard
    * "are these clusters separable" probe of embedding quality.
    *
    * Exactness design: cosine is scale-invariant, so centroids are SUM
    * vectors (never divided by the member count) — built from the same
    * 1e-7 integer grid as [[meanPool]], every cross-row reduction is an
    * exact integer/decimal sum, and the only doubles are the final
    * dot/√(n·n) on bit-identical inputs. Dot terms reach qv·sc ≈ 1e18
    * per element, so the dot/centroid-norm sums run in DECIMAL(38,0)
    * (Spark) ≡ HUGEINT (DuckDB), exported through the VARCHAR-routed
    * double cast (Canon.sqlToDouble parity).
    *
    * Scale shape: the centroid table is (labels × dims) — broadcast
    * regardless of corpus size; the element×centroid join fans out
    * ONLY by the label count, and the (vec, cand) partial sums combine
    * map-side. Ties (incl. zero vectors, cos=0 everywhere) break to
    * the smallest label on both engines. */
  def centroidAssign(df: DataFrame, idCol: String, vecCol: String,
                     labelCol: String): DataFrame = {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val q = PlanCache.reuse(
      df.select(col(idCol), col(labelCol),
          posexplode(col(vecCol)).as(Seq("pos", "x")))
        .select(col(idCol), col(labelCol), (col("pos") + 1).as("dim"),
          round(col("x").cast("double") * lit(1e7)).cast("long").as("qv")))
    val cent = q.groupBy(col(labelCol).as("cand"), col("dim"))
      .agg(sum(col("qv")).as("sc"))
    val cnorm = cent.groupBy(col("cand"))
      .agg(sum(col("sc").cast(dec38) * col("sc")).as("nc2d"))
      .select(col("cand"), col("nc2d").cast("double").as("nc2"))
    val vnorm = q.groupBy(col(idCol))
      .agg(sum(col("qv") * col("qv")).as("nv2"))
    val dots = q.join(broadcast(cent), Seq("dim"))
      .groupBy(col(idCol), col(labelCol), col("cand"))
      .agg(sum(col("qv").cast(dec38) * col("sc")).as("dotd"))
      .select(col(idCol), col(labelCol), col("cand"),
        col("dotd").cast("double").as("dot"))
    val cos = dots.join(broadcast(cnorm), Seq("cand"))
      .join(vnorm, Seq(idCol))
      .withColumn("cos",
        when(col("nv2") === 0 || col("nc2") === 0, lit(0.0))
          .otherwise(col("dot") /
            sqrt(col("nv2").cast("double") * col("nc2"))))
    Relational.topKPerGroup(cos, Seq(idCol),
        Seq(col("cos").desc, col("cand").asc), 1, "rn")
      .groupBy(col(labelCol), col("cand").as("pred_label"))
      .agg(count(lit(1)).as("n_vecs"))
  }

  /** Exact Gram matrix G = XᵀX over an embedding column — the d×d
    * second-moment table that whitening / PCA-prep / feature-correlation
    * audits start from. Emitted as the upper triangle (dim_i ≤ dim_j,
    * d(d+1)/2 rows) with the term count and G[i,j] on the 1e-7 grid.
    *
    * Exactness: components quantize to the [[meanPool]] 1e-7 integer
    * grid, each qi·qj ≤ ~1e15 stays in BIGINT, and the cross-row sum
    * runs in DECIMAL(38,0) (≡ DuckDB HUGEINT — room for ~1e8 rows per
    * cell even at full |q| ≈ 1e7 magnitudes) so the only double is the
    * final correctly-rounded export divided by the grid² constant on
    * bit-identical inputs.
    *
    * Scale shape: this is the standard SQL GEMM — the exploded
    * component frame is built ONCE ([[PlanCache.reuse]]; d rows per
    * vector), the self-equi-join on the row id is co-partitioned (one
    * exchange feeds both sides via Spark's exchange reuse), and the
    * d²-cell aggregation combines map-side, so the shuffle after the
    * join carries at most (partitions × d²) partial rows regardless of
    * corpus size. No broadcast, no cartesian; output is d(d+1)/2 rows.
    */
  /** The 1e-7-grid exploded component frame shared by [[gramState]]
    * and [[corrMatrix]]'s per-dim sums (PlanCache sameResult dedup). */
  private def qGrid(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    PlanCache.reuse(
      df.select(col(idCol).as("rid"),
          posexplode(col(vecCol)).as(Seq("pos", "x")))
        .select(col("rid"), (col("pos") + 1).as("dim"),
          round(col("x").cast("double") * lit(1e7)).cast("long").as("qv")))

  /** Integer Gram state: (dim_i ≤ dim_j, n_terms, gq) with gq the
    * exact DECIMAL(38,0) Σ qvᵢ·qvⱼ on the grid² scale. */
  def gramState(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val q = qGrid(df, idCol, vecCol)
    val a = q.select(col("rid"), col("dim").as("dim_i"), col("qv").as("qi"))
    val b = q.select(col("rid"), col("dim").as("dim_j"), col("qv").as("qj"))
    a.join(b, Seq("rid"))
      .filter(col("dim_j") >= col("dim_i"))
      .groupBy(col("dim_i"), col("dim_j"))
      .agg(count(lit(1)).as("n_terms"),
           sum(col("qi").cast(dec38) * col("qj")).as("gq"))
  }

  def gramMatrix(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    gramState(df, idCol, vecCol)
      .select(col("dim_i"), col("dim_j"), col("n_terms"),
              (col("gq").cast("double") / lit(1e14)).as("gram"))

  /** Pearson correlation per dimension pair (dim_i < dim_j) — the
    * feature-correlation audit, derived from the SAME integer moments
    * as [[gramMatrix]]: corr = (n·Sij − Si·Sj) / √((n·Sii − Si²)(n·Sjj
    * − Sj²)) with every S an exact grid sum (the 1e-7 grid factors
    * cancel in the ratio). The moments cross into doubles through the
    * correctly-rounded decimal→double cast and the final arithmetic is
    * identical IEEE ops on bit-identical inputs on both engines;
    * zero-variance dims guard to 0. Requires fixed-width vectors (the
    * per-cell n is the cell's own term count).
    *
    * Scale shape: the pair moments are [[gramState]]'s GEMM; the
    * per-dim frame is d rows (broadcast), so everything after the one
    * Gram aggregation is dimension-bound. */
  def corrMatrix(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val st = PlanCache.reuse(gramState(df, idCol, vecCol))
    val s = qGrid(df, idCol, vecCol)
      .groupBy(col("dim")).agg(sum(col("qv").cast(dec38)).as("sd"))
    val diag = st.filter(col("dim_i") === col("dim_j"))
      .select(col("dim_i").as("dim"), col("gq").as("ssd"))
    val dstats = s.join(diag, Seq("dim"))
      .select(col("dim"), col("sd").cast("double").as("sv"),
              col("ssd").cast("double").as("ssv"))
    val di = dstats.select(col("dim").as("dim_i"), col("sv").as("si"),
                           col("ssv").as("ssi"))
    val dj = dstats.select(col("dim").as("dim_j"), col("sv").as("sj"),
                           col("ssv").as("ssj"))
    val n = col("n_terms").cast("double")
    val den = (n * col("ssi") - col("si") * col("si")) *
              (n * col("ssj") - col("sj") * col("sj"))
    st.filter(col("dim_i") < col("dim_j"))
      .join(broadcast(di), Seq("dim_i"))
      .join(broadcast(dj), Seq("dim_j"))
      .select(col("dim_i"), col("dim_j"), col("n_terms"),
        when(den > 0,
          (n * col("gq").cast("double") - col("si") * col("sj")) / sqrt(den))
          .otherwise(lit(0.0)).as("corr"))
  }

  /** Top principal direction of the embedding second-moment matrix by
    * L∞-normalized integer power iteration — the PCA-prep step that
    * tells a curation pipeline which direction dominates its embedding
    * space (anisotropy audit; Mu & Viswanath 2018 postprocessing). The
    * recurrence is exact on both engines: u ← G·v over the shared
    * integer Gram state ([[gramState]], DECIMAL(38,0) ≡ HUGEINT), then
    * v ← (u + m)·scale DIV m − scale with m = max|u| — the shift keeps
    * the DIV operand nonnegative, so truncating and floor division
    * agree and the step is engine-agnostic even when components go
    * negative. v₀ = all-`scale` (never orthogonal to the top
    * eigenvector of a PSD matrix with nonneg diagonal dominance in
    * practice; ties are impossible — pure arithmetic).
    *
    * Scale shape: the only corpus-scale work is the ONE Gram GEMM
    * (shared with `sim_gram_matrix`/`sim_corr_matrix` via PlanCache);
    * every round is a d²-row join + a d-row aggregate + a 1-row max
    * broadcast (PlanGuard scalar-allowlist shape). Width budget:
    * |G| ≤ n·grid² = n·10¹⁴ and each u term ≤ d·|G|·scale, so the
    * shifted product (2·d·n·10¹⁴)·scale² needs n < ~10⁸ rows at
    * d = 64, scale = 10⁶ — beyond that, drop a digit of scale. */
  def powerIteration(df: DataFrame, idCol: String, vecCol: String,
                     iters: Int, scale: Long = 1000000L): DataFrame = {
    val st = PlanCache.reuse(gramState(df, idCol, vecCol))
    val g = PlanCache.reuse(
      st.select(col("dim_i").as("i"), col("dim_j").as("j"), col("gq"))
        .unionAll(st.filter(col("dim_i") =!= col("dim_j"))
          .select(col("dim_j").as("i"), col("dim_i").as("j"), col("gq"))))
    var v = g.select(col("i").as("dim")).distinct()
      .select(col("dim"), lit(scale).as("vq"))
    for (_ <- 1 to iters) {
      val u = g.join(v.select(col("dim").as("j"), col("vq")), Seq("j"))
        .groupBy(col("i").as("dim"))
        .agg(sum(col("gq") * col("vq")).as("uq"))
      val m = u.agg(max(abs(col("uq"))).as("m"))
      // PlanCache.reuse, not localCheckpoint: the persist keeps the
      // LOGICAL plan intact (localCheckpoint rewrites it to a LogicalRDD
      // with a fresh id), so a second consumer building the identical
      // chain (sim_aniso_energy after sim_power_iter) gets a
      // CacheManager sameResult hit instead of re-running every round —
      // measured 2.91 s → shared. 3 rounds keep the un-truncated
      // lineage trivially small.
      v = PlanCache.reuse(u.crossJoin(broadcast(m))
        .select(col("dim"),
                when(col("m") === 0, lit(0L)).otherwise(
                  expr(s"((uq + m) * ${scale}L) div m") - scale).as("vq")))
    }
    v
  }

  /** Per-vector energy share along the dominant direction — the
    * follow-on audit to [[powerIteration]] (Mu & Viswanath 2018: how
    * much of each embedding lives in the common top component that
    * all-but-the-top postprocessing would remove): share = cos²(x, v)
    * on the ppm grid, `(x·v)²·10⁶ DIV (|x|²·|v|²)`, plus the projection
    * sign. All inputs are exact grid integers (qv on 1e-7, vq on the
    * power-iteration 1e-6 grid); the squares run in DECIMAL(38,0) ≡
    * HUGEINT and the squared numerator makes the DIV operand
    * nonnegative, so the division is engine-agnostic. Zero vectors (or
    * a degenerate all-zero eigenvector) guard to share 0.
    *
    * Scale shape: the eigenvector is a d-row broadcast join into the
    * shared component frame; the per-vector moments are ONE rid-keyed
    * aggregation with map-side combine; |v|² rides a 1-row broadcast
    * (PlanGuard scalar-allowlist shape). */
  def anisoEnergy(df: DataFrame, idCol: String, vecCol: String,
                  iters: Int): DataFrame = {
    val v = PlanCache.reuse(powerIteration(df, idCol, vecCol, iters))
    val q = qGrid(df, idCol, vecCol)
    val dots = q.join(broadcast(v), Seq("dim"))
      .groupBy(col("rid"))
      .agg(sum(col("qv") * col("vq")).as("dot"),
           sum(col("qv") * col("qv")).as("x2"))
    val vn = v.agg(sum(col("vq") * col("vq")).as("v2"))
    dots.crossJoin(broadcast(vn))
      .select(col("rid").as(idCol), col("x2").as("nrm2_q"),
        signum(col("dot")).cast("long").as("proj_sign"),
        when(col("x2") === 0 || col("v2") === 0, lit(0L)).otherwise(
          expr("""CAST(CAST(dot AS DECIMAL(38,0)) * dot * 1000000
                    AS DECIMAL(38,0))
                  div (CAST(x2 AS DECIMAL(38,0)) * v2)"""))
          .as("share_ppm"))
  }

  /** Corpus-level residual energy after removing the dominant
    * direction — the 1-row summary next to [[anisoEnergy]]'s
    * per-vector panel (Mu & Viswanath 2018: all-but-the-top removes
    * the common component; this is the exact accounting of how much
    * energy that postprocess would delete corpus-wide). total = Σ|x|²,
    * top = Σ (x·v)² DIV |v|² (per-vector truncated integral divide,
    * mirrored on both engines), residual_ppm on the exact ppm grid.
    * The ppm product rides DECIMAL(38,0) ≡ HUGEINT past the BIGINT
    * cliff; a degenerate all-zero eigenvector guards to top = 0.
    * The energy TOTALS are emitted on a 10⁻⁶ grid (`*_mega = Σ DIV
    * 10⁶`): raw per-vector x2 is ~10¹⁴ for unit vectors, so a raw
    * BIGINT emission overflows past ~9·10⁴ vectors — the mega grid
    * moves the documented output bound to ~9·10¹⁰ unit vectors
    * (ADVICE r13; residual_ppm itself is overflow-safe at any size).
    *
    * Scale shape: consumes the prewarmed eigenvector and the
    * shared component frame; one rid-keyed aggregate + a 1-row rollup
    * (the |v|² side is a 1-row broadcast, PlanGuard-allowlisted). */
  def residualEnergy(df: DataFrame, idCol: String, vecCol: String,
                     iters: Int): DataFrame = {
    val v = PlanCache.reuse(powerIteration(df, idCol, vecCol, iters))
    val q = qGrid(df, idCol, vecCol)
    val dots = q.join(broadcast(v), Seq("dim"))
      .groupBy(col("rid"))
      .agg(sum(col("qv") * col("vq")).as("dot"),
           sum(col("qv") * col("qv")).as("x2"))
    val vn = v.agg(sum(col("vq") * col("vq")).as("v2"))
    dots.crossJoin(broadcast(vn))
      .select(col("x2"),
        expr("""CASE WHEN v2 = 0 THEN CAST(0 AS BIGINT)
          | ELSE CAST(CAST(dot AS DECIMAL(38,0)) * dot DIV v2 AS BIGINT)
          | END""".stripMargin).as("top_e"))
      .agg(count(lit(1)).as("n_vecs"),
           sum(col("x2").cast("decimal(38,0)")).as("te_d"),
           sum(col("top_e").cast("decimal(38,0)")).as("tp_d"))
      .withColumn("residual_ppm",
        expr("""CASE WHEN te_d = 0 THEN CAST(0 AS BIGINT)
          | ELSE CAST((te_d - tp_d) * 1000000 DIV te_d AS BIGINT)
          | END""".stripMargin))
      // Accumulate in DECIMAL(38,0) — per-vector x2 is ~1e14 for unit
      // vectors, so a plain BIGINT sum crosses the ANSI overflow cliff
      // past ~92k vectors mid-aggregation; emit on the mega grid (DIV
      // 10⁶, truncation identical to DuckDB HUGEINT // on nonnegative
      // sums) so the BIGINT projection holds to ~9e10 unit vectors.
      .select(col("n_vecs"),
              expr("CAST(te_d DIV 1000000 AS BIGINT)")
                .as("total_energy_mega"),
              expr("CAST(tp_d DIV 1000000 AS BIGINT)")
                .as("top_energy_mega"),
              col("residual_ppm"))
  }

  /** Maximal-marginal-relevance re-rank (Carbonell & Goldstein 1998):
    * greedily select `k` of each query's candidates maximizing
    * `0.7·rel − 0.3·max_{s∈selected} sim(d, s)` — relevance traded
    * against redundancy, the standard diversified-retrieval pass after
    * any dense/hybrid top-N. Selection is deterministic (score desc,
    * doc asc); round 1's empty-selection penalty is 0, so pick 1 is the
    * plain relevance argmax.
    *
    * Inputs: `cand(query_id, doc_id, rel)` — the per-query candidate
    * pool (top-N from a first-stage retriever, bounded per query) —
    * and `pairs(query_id, a, b, sim)`, the DIRECTED candidate-pair
    * similarities within each query's pool (both orientations present).
    *
    * Scale shape: everything after the first-stage retriever touches
    * only candidate rows — N per query for state, ≤ N² per query for
    * pairs — independent of corpus size. Each of the k rounds is one
    * query-partitioned window (argmax) plus one co-keyed join (penalty
    * update); lineage is truncated per round (`localCheckpoint`, the
    * iterative-DataFrame rule). λ = 0.7 enters both engines as the
    * nearest-double of decimal 0.7 and the score is evaluated in the
    * same association (`0.7·rel − 0.3·msel`), so scores replay
    * bit-identically in the oracle. */
  def mmrRerank(cand: DataFrame, pairs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("mmr").desc, col("doc_id").asc)
    var state = cand.select(col("query_id"), col("doc_id"), col("rel"))
      .withColumn("msel", lit(0.0))
    val picks = (1 to k).map { i =>
      val ranked = state
        .withColumn("mmr", lit(0.7) * col("rel") - lit(0.3) * col("msel"))
        .withColumn("rn", row_number().over(w))
        .localCheckpoint()
      val winner = ranked.filter(col("rn") === 1)
      state = ranked.filter(col("rn") > 1)
        .join(pairs.join(
                winner.select(col("query_id"), col("doc_id").as("a")),
                Seq("query_id", "a"))
              .select(col("query_id"), col("b").as("doc_id"), col("sim")),
              Seq("query_id", "doc_id"), "left")
        .select(col("query_id"), col("doc_id"), col("rel"),
                greatest(col("msel"),
                         coalesce(col("sim"), col("msel"))).as("msel"))
      winner.select(col("query_id"), lit(i.toLong).as("pick"),
                    col("doc_id"), col("rel"), col("mmr"))
    }
    picks.reduce(_ unionAll _)
  }
}
