package graft.operators

import scala.reflect.ClassTag

import org.apache.spark.{HashPartitioner, SparkContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

/** Distributed graph primitives over edge-list DataFrames: connected
  * components ([[Graphs.ccStar]]), rank and hub/authority fixed points,
  * hop distances, k-core peeling, label propagation, and the counting
  * side: degree-oriented triangle and wedge counting, the core of
  * clustering-coefficient / cohesion analytics.
  *
  * Scale: the naive triangle join (E ⋈ E ⋈ E) explodes on high-degree
  * vertices — a celebrity node with degree d contributes d² wedge rows.
  * Degree orientation is the standard fix: orient every edge from its
  * lower-(degree, id) endpoint to the higher one; every vertex's
  * oriented out-degree is then O(√|E|) regardless of its raw degree, so
  * the wedge join's fan-out is bounded and skew-resistant. Each triangle
  * is counted exactly once (its unique minimum-(degree, id) corner emits
  * the wedge; the closing edge check is an equi-join).
  */
object Graphs {

  /** Canonical undirected simple edge set as (u < v) rows — self-loops
    * and duplicate/reversed edges removed, materialized once (consumed
    * by 2+ subtrees in every caller). */
  private def canonEdges(edges: DataFrame, aCol: String,
                         bCol: String): DataFrame =
    PlanCache.reuse(edges
      .select(least(col(aCol), col(bCol)).as("u"),
              greatest(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct())

  /** Per-vertex degree of a [[canonEdges]] frame: (x, deg). */
  private def degrees(e: DataFrame): DataFrame =
    e.select(col("u").as("x")).unionAll(e.select(col("v").as("x")))
      .groupBy(col("x")).agg(count(lit(1)).as("deg"))

  /** Degree orientation: u→v iff (deg, id) of u precedes (deg, id) of
    * v — a total order, so exactly one direction survives per edge and
    * every vertex's out-degree is O(√|E|) (see object scaladoc). */
  private def orient(e: DataFrame, deg: DataFrame): DataFrame =
    PlanCache.reuse(e
      .join(deg.select(col("x").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("x").as("v"), col("deg").as("dv")), Seq("v"))
      .select(
        when(col("du") < col("dv") ||
             (col("du") === col("dv") && col("u") < col("v")),
             struct(col("u").as("src"), col("v").as("dst")))
          .otherwise(struct(col("v").as("src"), col("u").as("dst")))
          .as("o"))
      .select(col("o.src"), col("o.dst")))

  /** Each triangle exactly once as (c1, c2, c3) — c1 the wedge corner
    * (minimum under the orientation order), c2 < c3 its out-neighbors. */
  private def triangleRows(oriented: DataFrame): DataFrame = {
    // wedges at the oriented source; dst pair ordered by id so each
    // unordered out-neighbor pair appears once
    val wedges = oriented.select(col("src"), col("dst").as("w1"))
      .join(oriented.select(col("src"), col("dst").as("w2")), Seq("src"))
      .filter(col("w1") < col("w2"))
    // closing edge exists in EITHER orientation between w1 and w2
    val closing = oriented
      .select(least(col("src"), col("dst")).as("cu"),
              greatest(col("src"), col("dst")).as("cv"))
    wedges.join(closing, col("w1") === col("cu") && col("w2") === col("cv"))
      .select(col("src").as("c1"), col("w1").as("c2"), col("w2").as("c3"))
  }

  /** Triangle census of an undirected simple graph given as (a, b) edge
    * rows (self-loops and duplicate/reversed edges tolerated — the edge
    * set is canonicalized first). Returns one row:
    * n_vertices, n_edges, n_wedges, n_triangles. */
  def triangleCensus(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val e = canonEdges(edges, aCol, bCol)
    val deg = degrees(e)
    val nTri = triangleRows(orient(e, deg)).agg(count(lit(1)).as("n_triangles"))
    val nWedge = deg.agg(
      sum(expr("(deg * (deg - 1)) DIV 2")).as("n_wedges"),
      count(lit(1)).as("n_vertices"))
    val nEdge = e.agg(count(lit(1)).as("n_edges"))
    nWedge.crossJoin(nEdge).crossJoin(nTri)
      .select(col("n_vertices"), col("n_edges"), col("n_wedges"),
              col("n_triangles"))
  }

  /** Hash partitioner self-sized from an OBSERVED row count: ~64k rows
    * per partition, capped at defaultParallelism. The RDD cores' stages
    * are latency-bound at small sizes — 32 near-empty tasks per stage
    * cost ~2× a whole small loop (measured 6.5 s → 3.2 s at 4 partitions
    * on 135k edges) — while cluster-scale graphs still use every core
    * (CLAUDE.md round-7 rule). */
  private def sizedPartitioner(sc: SparkContext, rows: Long): HashPartitioner =
    new HashPartitioner(
      math.min(sc.defaultParallelism.toLong, rows / 65536L + 1L).toInt.max(1))

  /** Weighted PageRank over a directed edge list, in FIXED-POINT integer
    * arithmetic: ranks are "nano-ranks" summing to ~`scale` (1e9), every
    * per-edge contribution is `rank·85·w DIV (100·out_w)` and the
    * teleport is `scale·15 DIV (100·N)` — all BIGINT, all truncating
    * `DIV`, so a fixed iteration count is bit-exact across engines and
    * row orders (float PageRank is neither: double summation is
    * order-dependent). Dangling-node mass is dropped (the standard
    * simplification; total rank decays slightly per round — documented,
    * deterministic). Overflow headroom: rank < scale=1e9, ×85 ×w needs
    * w < 1e8 per edge — far above any per-pair transition count at
    * target scale.
    *
    * Same-typed src/dst run on [[rankCore]] with every node a seed (then
    * its init and teleport are exactly this recurrence's). Mixed types
    * would need the SQL union's type widening, so they run on
    * [[pageRankSql]] rather than guessing a coercion. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               weightCol: String, iters: Int,
               scale: Long = 1000000000L): DataFrame =
    if (edges.schema(srcCol).dataType == edges.schema(dstCol).dataType)
      rankCore(edges, srcCol, dstCol, weightCol, None, iters, scale)
    else pageRankSql(edges, srcCol, dstCol, weightCol, iters, scale)

  /** DataFrame formulation of the [[pageRank]] recurrence — kept as the
    * reference implementation the RDD core is spec-pinned against, and
    * as the path for mixed src/dst types. Each
    * round re-plans and materializes at every adaptive exchange
    * (~0.3-1 s of driver barrier per exchange — the cost the RDD core
    * exists to avoid; see [[ccStar]]'s rationale). */
  private[graft] def pageRankSql(edges: DataFrame, srcCol: String,
                                 dstCol: String, weightCol: String,
                                 iters: Int, scale: Long): DataFrame = {
    val e = PlanCache.reuse(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
                   col(weightCol).cast("long").as("w")))
    val outw = e.groupBy(col("src")).agg(sum(col("w")).as("out_w"))
    val nodes = PlanCache.reuse(
      e.select(col("src").as("node")).union(e.select(col("dst"))).distinct())
    // N enters the plan as a 1-row cross join, not an eager count job
    val nRow = nodes.agg(count(lit(1)).as("n_nodes"))
    var ranks = nodes.crossJoin(nRow)
      .select(col("node"), expr(s"CAST($scale AS BIGINT) DIV n_nodes")
                .as("rank"), col("n_nodes"))
    for (_ <- 1 to iters) {
      val contrib = ranks.select(col("node").as("src"), col("rank"))
        .join(e, "src").join(outw, "src")
        .select(col("dst").as("node"),
                expr("rank * 85 * w DIV (100 * out_w)").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("in_c"))
      ranks = ranks.select(col("node"), col("n_nodes"))
        .join(contrib, Seq("node"), "left")
        .select(col("node"),
                (expr(s"CAST(${scale * 15} AS BIGINT) DIV (100 * n_nodes)") +
                  coalesce(col("in_c"), lit(0L))).as("rank"),
                col("n_nodes"))
        .localCheckpoint()
    }
    ranks.select(col("node"), col("rank"))
  }

  /** Personalized PageRank: the [[pageRank]] fixed-point integer
    * recurrence with the teleport mass restricted to a SEED set — the
    * seed-expansion primitive (random-walk-with-restart) that curated-
    * seed corpus labeling and similar-item expansion build on. Ranks
    * start at `scale DIV |S∩V|` on seeds and 0 elsewhere; each round a
    * seed receives `scale·15 DIV (100·|S∩V|)` teleport and every node
    * the usual damped contributions. Output ranks are exact BIGINTs of
    * the same recurrence the DuckDB twin unrolls; nodes never reached
    * keep rank 0 (callers filter for the seed neighborhood). Seeds
    * outside the graph are ignored (and excluded from |S∩V|). */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                           weightCol: String, seeds: DataFrame,
                           seedCol: String, iters: Int,
                           scale: Long = 1000000000L): DataFrame =
    rankCore(edges, srcCol, dstCol, weightCol,
             Some(seeds.select(col(seedCol))), iters, scale)

  /** The iterative core of [[pageRank]] and [[personalizedPageRank]] on
    * RDDs — same rationale as [[ccStar]]'s: a fixed-iteration integer
    * recurrence re-plans nothing between rounds, so Catalyst/AQE buy
    * zero and their per-exchange materialize-and-replan barriers
    * dominate the loop (measured: the 3-round SQL loop reads ~3 s where
    * its own steady state is <1 s). The RDD loop pins ONE hash
    * partitioner ([[sizedPartitioner]] over the observed edge count)
    * across all rounds; the static (edge, out-weight) table is
    * co-partitioned with the rank table once, so each round is exactly
    * ONE shuffle (the contribution reduceByKey) plus narrow
    * co-partitioned joins — zero driver-synchronized jobs inside the
    * loop. The seed flag rides the node table, so the per-round teleport
    * needs no extra join; `seeds = None` makes every node a seed and
    * skips the seed join altogether.
    *
    * Node ids stay in their JVM form (`Row.get`) keyed by
    * hashCode/equals — string or integral ids both work, and the output
    * schema preserves the input's node type exactly. Arithmetic is the
    * same fixed-point recurrence as the SQL path: all-positive BIGINT
    * products with truncating division, so JVM `/` ≡ SQL `DIV` and the
    * two paths are bit-identical (spec-pinned). */
  private def rankCore(edges: DataFrame, srcCol: String, dstCol: String,
                       weightCol: String, seeds: Option[DataFrame],
                       iters: Int, scale: Long): DataFrame = {
    val spark = edges.sparkSession
    val raw = edges
      .select(col(srcCol), col(dstCol), col(weightCol).cast("long"))
      .rdd.map(r => (r.get(0), (r.get(1), r.getLong(2))))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val part = sizedPartitioner(spark.sparkContext, raw.count())
    // static across rounds: per-edge (dst, w, out_w) keyed+partitioned by
    // src — contributions then need no per-round join against out-weights
    val outw = raw.mapValues(_._2).reduceByKey(part, _ + _)
    val ew = raw.join(outw, part)
      .mapValues { case ((dst, w), ow) => (dst, w, ow) }
      .persist(StorageLevel.MEMORY_AND_DISK)
    val keyed = raw.flatMap { case (s, (d, _)) => Iterator(s, d) }
      .distinct(part.numPartitions)
      .map(n => (n, ()))
      .partitionBy(part)
    val nodes = (seeds match {
      case None => keyed.mapValues(_ => true)
      case Some(sd) =>
        val seedRdd = sd.rdd.map(r => (r.get(0), ()))
          .distinct(part.numPartitions).partitionBy(part)
        keyed.leftOuterJoin(seedRdd, part)
          .mapValues { case (_, s) => s.isDefined }
    }).persist(StorageLevel.MEMORY_AND_DISK)
    val nSeeds = math.max(nodes.filter(_._2).count(), 1L)
    val init = scale / nSeeds
    val teleport = (scale * 15L) / (100L * nSeeds)
    var ranks = nodes.mapValues(s => if (s) init else 0L)
    for (_ <- 1 to iters) {
      // ONE shuffle: per-edge contributions reduce onto dst; the join
      // with the co-partitioned static edge table is narrow
      val contrib = ew.join(ranks, part)
        .map { case (_, ((dst, w, ow), r)) =>
          (dst, r * 85L * w / (100L * ow)) }
        .reduceByKey(part, _ + _)
      // narrow: nodes and contrib share the pinned partitioner
      ranks = nodes.leftOuterJoin(contrib, part)
        .mapValues { case (isSeed, c) =>
          (if (isSeed) teleport else 0L) + c.getOrElse(0L) }
    }
    val schema = StructType(Seq(
      StructField("node", edges.schema(srcCol).dataType),
      StructField("rank", LongType)))
    // eager: materialize BEFORE releasing the loop's persisted RDDs
    val out = spark.createDataFrame(ranks.map { case (n, r) => Row(n, r) },
                                    schema).localCheckpoint()
    raw.unpersist(blocking = false)
    ew.unpersist(blocking = false)
    nodes.unpersist(blocking = false)
    out
  }

  /** Connected components by alternating large-star/small-star
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014): each round hooks every node to the minimum of its
    * neighborhood and contracts paths, converging in O(log n) rounds
    * where plain min-label propagation needs O(diameter) — the
    * difference between 10 and 10 000 shuffles on a chain-shaped 100 TB
    * graph. Output: (id, cluster_id = component minimum), every node of
    * `pairs` labeled once; a self-pair (v, v) enters v as an isolated
    * node. The label is the minimum the oracle's recursive CTE picks.
    * Fixpoint detected by (count, hash-checksum) signature equality;
    * loud `require` on non-convergence.
    *
    * Id types: both columns integral (byte, short, int, long), keyed as
    * `Long` — cast in, and the output cast back when both columns share
    * a narrower type; or both strings of Spark's default UTF8_BINARY
    * collation, keyed as Spark's own `UTF8String` and ordered as Spark
    * orders them ([[Utf8Order]]: UTF-8 byte order, the order SQL `min`
    * uses). Any other type is refused by name.
    *
    * The loop runs on RDDs — the one place in this engine where dropping
    * below DataFrames is the RIGHT call: an iterative contraction
    * re-plans nothing between rounds, so Catalyst/AQE buy zero and their
    * per-exchange materialize-and-replan barriers (~0.3-1 s each under
    * adaptive execution) dominate a loop whose per-round data is small
    * and shrinking. One [[sizedPartitioner]] is pinned across all rounds
    * (sized from the initial signature's edge count, so free); each
    * round pays exactly 2 shuffles (the two groupBys; star emission and
    * orientation are narrow); TWO star rounds run per convergence probe,
    * a single `aggregate` job — per-job driver latency, not executor
    * work, dominates small rounds, and a fixpoint is invariant under
    * extra rounds, so a convergence reached on an odd round costs one
    * idempotent extra round instead of one extra probe job. A call fires
    * 2 + (probes) jobs: the initial signature, one per probe, and the
    * eager output checkpoint.
    *
    * Per-center neighbor sets are deduplicated locally (`toSet`), which
    * bounds task memory by the center's DISTINCT degree. Late rounds
    * concentrate a component's members on its root (inherent to star
    * contraction), so a giant component of billions of nodes makes one
    * task's set large; such callers should pre-chunk. Checksums are
    * order-independent sums of a fixed mix of the keys' `hashCode`s, so
    * convergence detection is deterministic at any parallelism. */
  def ccStar(pairs: DataFrame, aCol: String, bCol: String,
             maxIter: Int = 30): DataFrame = {
    val (dtA, dtB) = (pairs.schema(aCol).dataType, pairs.schema(bCol).dataType)
    def integral(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    if (integral(dtA) && integral(dtB)) {
      val spark = pairs.sparkSession
      import spark.implicits._
      val out = ccCore(spark, pairs
        .select(col(aCol).cast("long"), col(bCol).cast("long"))
        .as[(Long, Long)].rdd, Ordering.Long, LongType, identity[Long], maxIter)
      if (dtA == LongType || dtA != dtB) out
      else out.select(col("id").cast(dtA).as("id"),
                      col("cluster_id").cast(dtA).as("cluster_id"))
    } else if (dtA == StringType && dtB == StringType) // UTF8_BINARY only
      ccCore(pairs.sparkSession, pairs.select(col(aCol), col(bCol)).rdd
               .map(r => (UTF8String.fromString(r.getString(0)),
                          UTF8String.fromString(r.getString(1)))),
             Utf8Order, StringType, (u: UTF8String) => u.toString, maxIter)
    else throw new IllegalArgumentException(
      s"ccStar: unsupported id types $aCol ${dtA.sql}, $bCol ${dtB.sql} " +
        "(both integral or both UTF8_BINARY strings)")
  }

  /** Spark's own string order: `UTF8String` binary compare, i.e. UTF-8
    * byte order, the order SQL `min` uses. (`String.compareTo` compares
    * UTF-16 units and puts U+1F600 before U+E000.) */
  private object Utf8Order extends Ordering[UTF8String] {
    def compare(x: UTF8String, y: UTF8String): Int = x.binaryCompare(y)
  }

  /** The [[ccStar]] contraction over keys of one type, ordered by `ord`;
    * `external` maps a key to its value in an output row of `keyType`. */
  private def ccCore[K: ClassTag](spark: SparkSession, raw: RDD[(K, K)],
                                  ord: Ordering[K], keyType: DataType,
                                  external: K => Any,
                                  maxIter: Int): DataFrame = {
    def mix(u: K, v: K): Long =
      ((u.hashCode.toLong * 0x9E3779B97F4A7C15L + 0x165667B19E3779F9L) ^
        (v.hashCode.toLong * 0xC2B2AE3D27D4EB4FL)) % 2147483647L

    // large-star: per center c over distinct symmetric neighbors N(c),
    // m = min(N(c) ∪ {c}); every neighbor LARGER than c hooks to m
    def largeStar(e: RDD[(K, K)], part: HashPartitioner): RDD[(K, K)] =
      e.flatMap { case (u, v) =>
          if (u == v) Iterator.empty else Iterator((u, v), (v, u)) }
        .groupByKey(part)
        .flatMap { case (c, ns) =>
          val set = ns.iterator.filter(_ != c).toSet
          var m = c
          set.foreach(n => if (ord.lt(n, m)) m = n)
          set.iterator.filter(ord.gt(_, c)).map(n => (n, m))
        }

    // small-star: orient large→small (center = max endpoint), m = min
    // neighbor; smaller neighbors and the center itself hook to m
    def smallStar(e: RDD[(K, K)], part: HashPartitioner): RDD[(K, K)] =
      e.map { case (u, v) => if (ord.gteq(u, v)) (u, v) else (v, u) }
        .groupByKey(part)
        .flatMap { case (c, ns) =>
          val set = ns.iterator.toSet
          var m = c
          set.foreach(n => if (ord.lt(n, m)) m = n)
          set.iterator.filter(_ != m).map(n => (n, m)) ++ Iterator((c, m))
        }

    // (count, checksum) in ONE job over the persisted round output
    def sigOf(e: RDD[(K, K)]): (Long, Long) =
      e.aggregate((0L, 0L))(
        { case ((n, h), (u, v)) => (n + 1, h + mix(u, v)) },
        { case ((n1, h1), (n2, h2)) => (n1 + n2, h1 + h2) })

    // the raw pair base is persisted once: the final fold derives node
    // self-labels narrowly from it, so the upstream plan runs once
    val base = raw.persist(StorageLevel.MEMORY_AND_DISK)
    var e: RDD[(K, K)] = base.filter { case (u, v) => u != v }
    var prev = sigOf(e)
    val part = sizedPartitioner(spark.sparkContext, prev._1)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val next = smallStar(largeStar(smallStar(largeStar(e, part), part), part), part)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val now = sigOf(next)
      e.unpersist(blocking = false)
      e = next
      converged = now == prev
      prev = now
      iter += 2
    }
    require(converged,
      s"ccStar did not converge within $maxIter rounds (needs ~log2(n))")
    // stars point members at the component min; roots and isolated
    // nodes (self-labeled seeds) fold in via the same min. Self-labels
    // come narrowly off the cached pair base (duplicates collapse in
    // the reduce — no distinct pass) on the loop's partitioner: e is
    // already part-partitioned (narrow side), and label cardinality is
    // nodes-bounded
    val labels = base
      .flatMap { case (a, b) => Iterator((a, a), (b, b)) }
      .union(e)
      .reduceByKey(part, ord.min(_, _))
    val schema = StructType(Seq(StructField("id", keyType, nullable = false),
                                StructField("cluster_id", keyType, nullable = false)))
    // eager: materialize labels BEFORE releasing the loop's persisted
    // RDDs, or a downstream re-execution would replay the whole loop
    val rows = labels.map { case (a, b) => Row(external(a), external(b)) }
    val out = spark.createDataFrame(rows, schema).localCheckpoint()
    base.unpersist(blocking = false)
    e.unpersist(blocking = false)
    out
  }

  /** BFS hop distances from a source node set over a directed edge
    * list: `rounds` synchronous frontier expansions of min-label
    * propagation; unreached nodes keep NULL hops. Same iterate shape
    * as [[pageRank]] (edges materialized once, one rank-table-sized
    * shuffle + one map-combined min aggregation per round,
    * lineage-truncated) — integer labels, so bit-exact at any
    * parallelism. `sources` is a predicate over the `node` column. */
  def shortestHops(edges: DataFrame, srcCol: String, dstCol: String,
                   sources: Column, rounds: Int): DataFrame = {
    val e = PlanCache.reuse(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct())
    val nodes = PlanCache.reuse(
      e.select(col("src").as("node")).union(e.select(col("dst"))).distinct())
    var dist = nodes.select(col("node"),
      when(sources, lit(0L)).otherwise(lit(null).cast("long")).as("hops"))
    for (_ <- 1 to rounds) {
      val next = dist.filter(col("hops").isNotNull)
        .select(col("node").as("src"), col("hops"))
        .join(e, "src")
        .groupBy(col("dst").as("node")).agg(min(col("hops") + 1L).as("h"))
      // least() ignores nulls on both engines: an unreached node takes
      // the frontier's label, a reached one keeps its (smaller) hops
      dist = dist.join(next, Seq("node"), "left")
        .select(col("node"), least(col("hops"), col("h")).as("hops"))
        .localCheckpoint()
    }
    dist
  }

  /** k-core peeling: `rounds` synchronous iterations of (count degrees →
    * keep nodes with degree ≥ k → keep edges with both endpoints kept)
    * over an undirected simple graph — the cohesion filter graph-based
    * corpus curation uses to drop weakly-connected spam clusters.
    * Output: the surviving nodes with the degree the final gate tested
    * (their degree in the last round's INPUT subgraph). A fixed round
    * count is the cross-engine contract (the DuckDB twin unrolls the
    * same rounds); once a round deletes nothing the loop is at its
    * fixpoint and the remaining rounds are provably no-ops, so the
    * engine exits early without changing the result.
    *
    * Scale shape: the [[ccStar]] RDD core pattern — one pinned
    * [[sizedPartitioner]] over the observed edge count; per round
    * the degree count and the src-side filter are narrow (co-
    * partitioned reduce/join) and only the dst-side re-key shuffles, so
    * a round costs ONE shuffle and no AQE replan barriers (the measured
    * dominant cost of DataFrame loops — CLAUDE.md round-7). Peak state
    * is the (shrinking) symmetric edge list; nothing is ever collected
    * to the driver. */
  def kCore(edges: DataFrame, aCol: String, bCol: String, k: Int,
            rounds: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val sc = spark.sparkContext
    // symmetric + DISTINCT view: duplicate and reversed input edges
    // collapse (both expand to the same two directed copies), so degrees
    // count distinct neighbors; self-loops are dropped
    val raw = edges
      .select(col(aCol).cast("long"), col(bCol).cast("long"))
      .as[(Long, Long)].rdd
      .flatMap { case (a, b) =>
        if (a == b) Iterator.empty else Iterator((a, b), (b, a)) }
      .distinct(sc.defaultParallelism)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nSym = raw.count()
    val part = sizedPartitioner(sc, nSym)
    var cur = raw.partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK)
    var alive = cur.mapValues(_ => 1L).reduceByKey(part, _ + _)
      .filter(_._2 >= k).persist(StorageLevel.MEMORY_AND_DISK)
    var prevEdges = nSym
    var r = 1
    var fixed = false
    while (r <= rounds && !fixed) {
      // src side narrow (co-partitioned), dst side = the round's one
      // shuffle; result is keyed by dst = the symmetric set again
      val kept = cur.join(alive, part).map { case (s, (d, _)) => (d, s) }
      val next = kept.partitionBy(part).join(alive, part)
        .mapValues { case (s, _) => s }
        .persist(StorageLevel.MEMORY_AND_DISK)
      val nNext = next.count() // convergence probe, one aggregate job
      cur.unpersist(blocking = false)
      cur = next
      if (nNext == prevEdges) fixed = true // fixpoint: rest are no-ops
      else if (r < rounds) {
        val nextAlive = cur.mapValues(_ => 1L).reduceByKey(part, _ + _)
          .filter(_._2 >= k).persist(StorageLevel.MEMORY_AND_DISK)
        alive.unpersist(blocking = false)
        alive = nextAlive
      }
      prevEdges = nNext
      r += 1
    }
    // survivors carry the degree the final gate tested (deg in the last
    // round's input graph) — eager materialize before releasing state
    val out = spark.createDataset(alive).toDF("node", "deg").localCheckpoint()
    raw.unpersist(blocking = false)
    cur.unpersist(blocking = false)
    alive.unpersist(blocking = false)
    out
  }

  /** Label-propagation community detection (Raghavan et al., Phys. Rev.
    * E 2007), in the deterministic synchronous-with-self-vote form:
    * labels start as node ids; each round every node adopts the most
    * frequent label among its neighbors PLUS ITSELF, ties broken toward
    * the smallest label. The self-vote is the standard stabilizer for
    * the synchronous schedule (without it bipartite structures — stars,
    * bridges — oscillate period-2 forever); with it the triangle/clique
    * cases converge in one round and a fixed round count is the
    * cross-engine contract, exactly the [[kCore]] discipline. The
    * asynchronous variant the paper favors is order-dependent and so
    * unreplayable in oracle SQL — synchronous + deterministic tie-break
    * is the curation-pipeline form (community = candidate dedup/spam
    * cluster grain).
    *
    * Per-round argmax rides ONE hash aggregation via the composite-
    * BIGINT max `votes·2^41 + (2^41−1−label)` (most votes, then
    * smallest label) — width budget: node ids < 2^41, votes (degree+1)
    * < 2^22. Each round costs the label-join shuffle + the vote
    * aggregation; the vote union references the round's label frame
    * twice, so each round's label frame is persisted ([[PlanCache.reuse]]
    * — the round-2 union-branch re-execution trap), and the symmetric
    * edge view is persisted once for all rounds. Nothing touches the
    * driver.
    *
    * Persist, NOT `localCheckpoint`: a checkpoint rewrites every round
    * into a fresh-id LogicalRDD, so CacheManager `sameResult` could
    * never fire when a second query (rel_modularity) rebuilds the same
    * 4-round chain — it re-ran the whole loop (VERDICT r10 #1, the
    * graph-side twin of the sim_aniso_energy fix). With per-round
    * `reuse` the logical plan survives, so an identical rebuild — or a
    * prewarm-pinned copy of the final frame — is a cache hit at any
    * subtree. 4 rounds is far below the depth where Catalyst
    * re-analysis cost matters (the CLAUDE.md short-loop rule).
    */
  def labelPropagation(edges: DataFrame, aCol: String, bCol: String,
                       rounds: Int): DataFrame = {
    require(rounds >= 1, s"labelPropagation needs rounds ≥ 1, got $rounds")
    val e = edges
      .select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
    val sym = PlanCache.reuse(
      e.select(col("a").as("s"), col("b").as("d"))
        .unionAll(e.select(col("b").as("s"), col("a").as("d")))
        .distinct())
    val C = 1L << 41
    var labels = PlanCache.reuse(
      sym.select(col("s").as("node")).distinct()
        .withColumn("label", col("node")))
    for (_ <- 1 to rounds) {
      val votes = sym
        .join(labels, sym("s") === labels("node"))
        .select(sym("d"), labels("label"))
        .unionAll(labels.select(col("node").as("d"), col("label")))
        .groupBy(col("d"), col("label")).agg(count(lit(1)).as("n"))
      labels = PlanCache.reuse(votes
        .groupBy(col("d").as("node"))
        .agg(max(col("n") * C + (lit(C - 1L) - col("label"))).as("m"))
        .select(col("node"), (lit(C - 1L) - col("m") % C).as("label")))
    }
    labels
  }

  /** Newman-Girvan modularity of a community assignment (Newman 2004),
    * in the exact-integer form `Q·4m²`: per community c the term
    * `4m·L_c − d_c²` (L_c = intra-community edges, d_c = degree sum,
    * m = undirected edge count), so Q = Σ q_term / 4m² — every compared
    * column is an exact BIGINT and the float division stays with the
    * caller (the [[Sketch.hllState]] discipline). Width budget:
    * 4m·L_c ≤ 4m² and d_c² ≤ 4m², so BIGINT holds to m ≈ 1.5·10⁹
    * undirected edges per component of the computation.
    *
    * Scale shape: the canonical edge set is materialized once and
    * consumed by three aggregations (edge count, degree fan-out,
    * intra-community filter); labels join on node keys (two renames of
    * one checkpointed frame); m rides a 1-row broadcast cross join
    * (PlanGuard-allowlisted scalar). No step is more than one shuffle
    * over the edge table.
    */
  def modularity(edges: DataFrame, aCol: String, bCol: String,
                 labels: DataFrame): DataFrame = {
    // reuse, not localCheckpoint: three aggregations consume `und`, and
    // keeping the logical plan lets a prewarm-pinned canonical edge
    // frame hit via CacheManager sameResult (the r10 LPA-duplication fix)
    val und = PlanCache.reuse(edges
      .select(col(aCol).cast("long").as("x"), col(bCol).cast("long").as("y"))
      .filter(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("a"),
              greatest(col("x"), col("y")).as("b"))
      .distinct())
    val lab = labels.select(col("node"), col("label"))
    val mframe = und.agg(count(lit(1)).as("m"))
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("dg"))
    val la = lab.select(col("node").as("a"), col("label").as("la"))
    val lb = lab.select(col("node").as("b"), col("label").as("lb"))
    val lc = und.join(la, "a").join(lb, "b")
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("community")).agg(count(lit(1)).as("l_in"))
    val ds = deg.join(lab, "node")
      .groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("dg")).as("d_sum"))
    ds.join(lc, Seq("community"), "left")
      .crossJoin(broadcast(mframe))
      .select(col("community"), col("n_nodes"),
              coalesce(col("l_in"), lit(0L)).as("l_in"), col("d_sum"),
              (lit(4L) * col("m") * coalesce(col("l_in"), lit(0L)) -
               col("d_sum") * col("d_sum")).as("q_term"))
  }

  /** Per-vertex local clustering coefficient (Watts-Strogatz): the
    * fraction of a vertex's neighbor pairs that are themselves adjacent,
    * emitted as the exact scaled integer
    * `lcc_ppm = 2·n_tri·10⁶ DIV (deg·(deg−1))` (0 for deg < 2) so no
    * float division enters compared columns. The cohesion audit behind
    * "is this node's neighborhood a community or a hub's spokes".
    *
    * Scale shape: triangles are enumerated ONCE via the same
    * degree-oriented wedge join as [[triangleCensus]] (per-vertex
    * fan-out O(√|E|), skew-safe); each triangle then fans out exactly 3
    * corner rows into one map-side-combined count, and the final
    * degree⋈triangle join is co-partitioned on the vertex id. Width:
    * 2·n_tri·10⁶ needs n_tri < 4.6·10¹² per vertex (deg ≲ 3·10⁶) —
    * far above any real neighborhood. */
  def localClustering(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val e = canonEdges(edges, aCol, bCol)
    val deg = degrees(e)
    val tri = triangleRows(orient(e, deg))
    val perVertex = tri.select(col("c1").as("x"))
      .unionAll(tri.select(col("c2").as("x")))
      .unionAll(tri.select(col("c3").as("x")))
      .groupBy(col("x")).agg(count(lit(1)).as("n_tri"))
    deg.join(perVertex, Seq("x"), "left")
      .withColumn("nt", coalesce(col("n_tri"), lit(0L)))
      .select(col("x").as("node"), col("deg"), col("nt").as("n_tri"),
              when(col("deg") >= 2,
                   expr("2 * nt * 1000000 DIV (deg * (deg - 1))"))
                .otherwise(lit(0L)).as("lcc_ppm"))
  }

  /** Common-neighbor link prediction: for every non-adjacent vertex
    * pair at distance 2, the number of shared neighbors and the exact
    * neighborhood-Jaccard `cn·10⁶ DIV (deg_u + deg_v − cn)`; the top-k
    * candidate edges under the full deterministic
    * (n_common, jaccard, u, v) order. The "which parts co-purchase
    * next" / entity-resolution-candidate shape.
    *
    * Scale shape: distance-2 pairs are generated by self-joining the
    * symmetric adjacency on the CENTER vertex, so per-center fan-out is
    * deg² — unbounded at a hub. Centers with deg > `maxCenterDeg` are
    * excluded from pair GENERATION (their endpoints keep their full
    * degree for the Jaccard denominator): the standard hub cap — a
    * shared celebrity neighbor carries ~no link signal (the same reason
    * Adamic-Adar downweights by 1/log deg), and it bounds the wedge
    * shuffle at maxCenterDeg²·|hubs| instead of Σdeg². The cap is part
    * of the operator's contract and mirrored in the oracle. Top-k is a
    * TakeOrdered (per-partition heads + driver merge), never a global
    * sort. */
  def linkPredict(edges: DataFrame, aCol: String, bCol: String,
                  maxCenterDeg: Long = 128L, topK: Int = 50): DataFrame = {
    val e = canonEdges(edges, aCol, bCol)
    val deg = PlanCache.reuse(degrees(e))
    val sym = e.select(col("u").as("ctr"), col("v").as("nb"))
      .unionAll(e.select(col("v").as("ctr"), col("u").as("nb")))
    val capped = sym.join(deg.select(col("x").as("ctr"), col("deg")), Seq("ctr"))
      .filter(col("deg") <= maxCenterDeg)
      .select(col("ctr"), col("nb"))
    val cand = capped.select(col("ctr"), col("nb").as("u"))
      .join(capped.select(col("ctr"), col("nb").as("v")), Seq("ctr"))
      .filter(col("u") < col("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("n_common"))
      .join(e, Seq("u", "v"), "left_anti")
    cand
      .join(deg.select(col("x").as("u"), col("deg").as("deg_u")), Seq("u"))
      .join(deg.select(col("x").as("v"), col("deg").as("deg_v")), Seq("v"))
      .select(col("u"), col("v"), col("n_common"), col("deg_u"), col("deg_v"),
              expr("n_common * 1000000 DIV (deg_u + deg_v - n_common)")
                .as("jaccard_ppm"))
      .orderBy(col("n_common").desc, col("jaccard_ppm").desc,
               col("u").asc, col("v").asc)
      .limit(topK)
  }

  /** HITS hubs & authorities (Kleinberg) over a weighted digraph, as an
    * exact integer fixed point so the scores are hash-comparable: each
    * round computes raw authority `Σ_{u→v} hub(u)·w` and raw hub
    * `Σ_{u→v} auth(v)·w`, then L1-normalizes each onto the `scale` grid
    * with truncating division (`raw·scale DIV Σraw` — the integer
    * analogue of the usual norm step, which is what keeps the recurrence
    * from overflowing across rounds: post-normalization every score is
    * ≤ scale).
    *
    * Scale shape: both half-steps are ONE map-side-combined aggregation
    * over the edge table joined to the |V|-sized score frame; the L1
    * total enters the plan as a 1-row broadcast cross join (PlanGuard
    * scalar-allowlist shape), never an eager driver action. Width
    * budget: raw ≤ scale·W (W = total edge weight) and the norm step
    * computes raw·scale, so scale²·W < 2⁶³ — at the default scale=10⁶
    * that is W < 9.2·10⁶; callers with heavier graphs lower `scale`
    * (the published scores only need the grid, not the headroom).
    * Lineage is truncated per round (`localCheckpoint`) per the
    * iterative-DataFrame rule ([[pageRankSql]]); `weightCol` is
    * truncated to long (fractional weights need pre-scaling by the
    * caller).
    *
    * Two cores, one recurrence (spec-pinned identical):
    *  - DENSE driver core when the materialized edge list is ≤
    *    [[DenseMaxEdges]] rows (one count probe over the cached frame —
    *    construction is EAGER).
    *    HITS scores a WHOLE graph at once, so a bounded edge list is a
    *    bounded driver object (the vocab-collect rule); the loop then
    *    pays ZERO per-round exchanges where the DataFrame loop paid ~4
    *    AQE barriers + 2 checkpoints per round for a dozens-of-nodes
    *    digraph (VERDICT r11 #1, evt_hits). The corpus-scale work —
    *    building the edge aggregate — stays distributed in the caller.
    *  - DataFrame loop otherwise (web-scale graphs): the shape
    *    documented above. JVM `/` on the dense path ≡ Spark `DIV`
    *    (both truncate toward zero; operands here are nonnegative). */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           weightCol: String, iters: Int,
           scale: Long = 1000000L): DataFrame = {
    val e = PlanCache.reuse(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
                   col(weightCol).cast("long").as("w")))
    if (e.count() <= DenseMaxEdges)
      hitsDense(e, edges.schema(srcCol).dataType, iters, scale)
    else hitsSql(e, iters, scale)
  }

  /** [[hits]]' dense-core bound: an edge list this small is a bounded
    * driver object. */
  private val DenseMaxEdges = 65536L

  /** Driver-dense HITS core: the [[hits]] integer recurrence over a
    * collected (src, dst, w) edge array. Node identity is JVM
    * equals/hashCode (string or integral ids); output preserves the
    * input node type. Long sums are order-independent, so the result is
    * deterministic regardless of collect order. */
  private def hitsDense(e: DataFrame,
                        nodeType: DataType,
                        iters: Int, scale: Long): DataFrame = {
    val spark = e.sparkSession
    val rows = e.collect() // ≤ DenseMaxEdges by the caller's probe
    val nodes = scala.collection.mutable.LinkedHashSet.empty[Any]
    rows.foreach { r => nodes += r.get(0); nodes += r.get(1) }
    val idx = nodes.iterator.zipWithIndex.toMap
    val es = rows.map(r => (idx(r.get(0)), idx(r.get(1)), r.getLong(2)))
    val n = nodes.size
    var hub = Array.fill(n)(scale)
    var auth = Array.fill(n)(scale)
    // zero guard mirrors the SQL path: an all-zero raw total (possible
    // when weightCol truncates to zero) emits 0 scores — the
    // empty-graph fixed point — instead of dividing by zero
    def l1(raw: Array[Long]): Array[Long] = {
      val tot = raw.sum
      if (tot == 0L) Array.fill(n)(0L) else raw.map(_ * scale / tot)
    }
    for (_ <- 1 to iters) {
      val araw = new Array[Long](n)
      es.foreach { case (s, d, w) => araw(d) += hub(s) * w }
      auth = l1(araw)
      val hraw = new Array[Long](n)
      es.foreach { case (s, d, w) => hraw(s) += auth(d) * w }
      hub = l1(hraw)
    }
    val schema = StructType(Seq(StructField("node", nodeType),
                                StructField("auth", LongType),
                                StructField("hub", LongType)))
    val out = nodes.iterator.zipWithIndex.map { case (nd, i) =>
      Row(nd, auth(i), hub(i)) }.toSeq
    spark.createDataFrame(spark.sparkContext.parallelize(out, 1), schema)
  }

  /** DataFrame formulation of the [[hits]] recurrence — the
    * web-scale path, and the reference the dense core is spec-pinned
    * against. `e` is the caller's cached (src, dst, w) frame. */
  private[graft] def hitsSql(e: DataFrame, iters: Int,
                             scale: Long): DataFrame = {
    val nodes = PlanCache.reuse(
      e.select(col("src").as("node")).union(e.select(col("dst"))).distinct())
    // zero guard mirrors powerIteration's m === 0 case: an all-zero (or
    // fractional-truncated-to-zero, weightCol is CAST long) weight set
    // makes tot 0/NULL, which would be an ANSI divide-by-zero / NULL
    // score — emit 0 scores instead, the empty-graph fixed point
    def l1Norm(raw: DataFrame, rawCol: String, outCol: String): DataFrame = {
      val tot = raw.agg(sum(col(rawCol)).as("tot"))
      nodes.join(raw, Seq("node"), "left")
        .crossJoin(broadcast(tot))
        .select(col("node"),
                when(col("tot").isNull || col("tot") === 0L, lit(0L))
                  .otherwise(expr(s"coalesce($rawCol, 0L) * $scale DIV tot"))
                  .as(outCol))
    }
    var hub = nodes.select(col("node"), lit(scale).as("hub"))
    var auth = nodes.select(col("node"), lit(scale).as("auth"))
    for (_ <- 1 to iters) {
      val araw = hub.select(col("node").as("src"), col("hub"))
        .join(e, "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(expr("hub * w")).as("araw"))
      auth = l1Norm(araw, "araw", "auth").localCheckpoint()
      val hraw = auth.select(col("node").as("dst"), col("auth"))
        .join(e, "dst")
        .groupBy(col("src").as("node"))
        .agg(sum(expr("auth * w")).as("hraw"))
      hub = l1Norm(hraw, "hraw", "hub").localCheckpoint()
    }
    auth.join(hub, "node").select(col("node"), col("auth"), col("hub"))
  }
}
