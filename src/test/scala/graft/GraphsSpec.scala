package graft

import graft.operators.Graphs

/** Degree-oriented triangle census laws on known graphs. */
class GraphsSpec extends SparkSpec {
  import spark.implicits._

  private def census(edges: Seq[(Long, Long)]): (Long, Long, Long, Long) =
    Graphs.triangleCensus(edges.toDF("a", "b"), "a", "b")
      .as[(Long, Long, Long, Long)].head()

  test("K4: 4 vertices, 6 edges, 12 wedges, 4 triangles") {
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    assert(census(k4) == ((4L, 6L, 12L, 4L)))
  }

  test("star graph: many wedges, zero triangles") {
    val star = (2L to 11L).map(i => (1L, i))
    assert(census(star) == ((11L, 10L, 45L, 0L)))
  }

  test("duplicate, reversed, and self-loop edges are canonicalized away") {
    val tri = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (1L, 1L), (2L, 3L))
    assert(census(tri) == ((3L, 3L, 3L, 1L)))
  }

  test("two disjoint triangles sharing no vertex") {
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 20L), (20L, 30L), (10L, 30L))
    assert(census(g) == ((6L, 6L, 6L, 2L)))
  }

  test("triangle with a pendant: wedge count includes the open wedge") {
    // vertices 1-2-3 closed, 4 hangs off 1: deg(1)=3 → C(3,2)=3 wedges
    // at vertex 1, plus 1 each at 2 and 3 → 5 wedges, 1 triangle
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L))
    assert(census(g) == ((4L, 4L, 5L, 1L)))
  }

  private def lcc(edges: Seq[(Long, Long)]): Map[Long, (Long, Long, Long)] =
    Graphs.localClustering(edges.toDF("a", "b"), "a", "b")
      .as[(Long, Long, Long, Long)].collect()
      .map { case (n, d, t, c) => n -> ((d, t, c)) }.toMap

  test("local clustering: triangle with a pendant") {
    // 1-2-3 closed, 4 hangs off 1: lcc(1) = 1/C(3,2) = 1/3,
    // lcc(2) = lcc(3) = 1, pendant deg 1 → 0 by convention
    val m = lcc(Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L)))
    assert(m(1L) == ((3L, 1L, 333333L)))
    assert(m(2L) == ((2L, 1L, 1000000L)))
    assert(m(3L) == ((2L, 1L, 1000000L)))
    assert(m(4L) == ((1L, 0L, 0L)))
  }

  test("local clustering: K4 is all-ones, star center is zero") {
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    assert(lcc(k4).values.forall(_ == ((3L, 3L, 1000000L))))
    val star = (2L to 5L).map(i => (1L, i))
    assert(lcc(star)(1L) == ((4L, 0L, 0L)))
  }

  test("local clustering: sum of per-vertex triangles is 3x the census") {
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (3L, 5L),
                (1L, 5L))
    val nTri = census(g)._4
    assert(lcc(g).values.map(_._2).sum == 3 * nTri)
  }

  private def predict(edges: Seq[(Long, Long)], cap: Long = 128L) =
    Graphs.linkPredict(edges.toDF("a", "b"), "a", "b", maxCenterDeg = cap)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq

  test("link predict: path endpoints share the middle, adjacents excluded") {
    // path 1-2-3: only candidate is (1,3) via center 2; jaccard
    // 1/(1+1-1) = 1. The existing edges never appear.
    assert(predict(Seq((1L, 2L), (2L, 3L))) ==
           Seq((1L, 3L, 1L, 1L, 1L, 1000000L)))
  }

  test("link predict: square ranks diagonals by common-neighbor count") {
    // 4-cycle 1-2-3-4: diagonals (1,3) and (2,4) each have 2 common
    // neighbors, jaccard 2/(2+2-2) = 1
    val r = predict(Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)))
    assert(r.toSet == Set((1L, 3L, 2L, 2L, 2L, 1000000L),
                          (2L, 4L, 2L, 2L, 2L, 1000000L)))
  }

  test("link predict: hub cap removes hub-mediated candidates only") {
    // star center 1 with leaves 2..5 plus edge 2-3: with the cap below
    // deg(1)=4 the only remaining centers are 2 and 3 (deg 2), whose
    // wedges propose (1,3)? no — (1,3) is adjacent; wedge at 2 gives
    // (1,3) adjacent, at 3 gives (1,2) adjacent → no candidates at all
    val g = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L), (2L, 3L))
    assert(predict(g, cap = 3L).isEmpty)
    // uncapped: leaves pair through the hub; (2,3) is adjacent so 5
    // remaining leaf pairs, each cn=1; e.g. (4,5): jaccard 1/(1+1-1)
    val full = predict(g)
    assert(full.size == 5 && !full.exists(r => r._1 == 2L && r._2 == 3L))
    assert(full.contains((4L, 5L, 1L, 1L, 1L, 1000000L)))
    // deg_u/deg_v stay FULL degrees under the cap: 2-3 edge removed →
    // (2,3) becomes a candidate through center 1 only when uncapped
  }

  private def ranks(edges: Seq[(String, String, Long)],
                    iters: Int): Map[String, Long] =
    Graphs.pageRank(edges.toDF("src", "dst", "w"), "src", "dst", "w", iters)
      .as[(String, Long)].collect().toMap

  test("pagerank: symmetric cycle is a fixed point of the integer recurrence") {
    // 3-cycle, unit weights: r0 = 1e9 DIV 3 = 333333333; teleport
    // 15e9 DIV 300 = 50000000 plus 333333333*85 DIV 100 = 283333333
    // reproduces 333333333 exactly — stable at every iteration count
    val cycle = Seq(("a", "b", 1L), ("b", "c", 1L), ("c", "a", 1L))
    assert(ranks(cycle, 1) == Map("a" -> 333333333L, "b" -> 333333333L,
                                  "c" -> 333333333L))
    assert(ranks(cycle, 3) == Map("a" -> 333333333L, "b" -> 333333333L,
                                  "c" -> 333333333L))
  }

  test("pagerank: source gets bare teleport, dangling sink converges") {
    // a→b: N=2, teleport 15e9 DIV 200 = 75M. a never receives mass →
    // rank(a) settles at 75M after iter 1; from iter 2 on rank(b) =
    // 75M + 75M*85 DIV 100 = 138750000 (b's own mass is dangling, lost)
    val r = ranks(Seq(("a", "b", 1L)), 3)
    assert(r == Map("a" -> 75000000L, "b" -> 138750000L))
  }

  private def hitsMap(edges: Seq[(String, String, Long)],
                      iters: Int): Map[String, (Long, Long)] =
    Graphs.hits(edges.toDF("src", "dst", "w"), "src", "dst", "w", iters)
      .as[(String, Long, Long)].collect()
      .map { case (n, a, h) => n -> (a, h) }.toMap

  test("hits: two sources feeding one sink — sink is the sole authority") {
    // round 1: araw(c) = 2e6 → auth(c) = 1e6, others 0; hraw(a) =
    // hraw(b) = 1e6, tot 2e6 → hub = 500000 each, hub(c) = 0.
    // A fixed point: iters 1 and 2 agree exactly.
    val star = Seq(("a", "c", 1L), ("b", "c", 1L))
    val expect = Map("a" -> (0L, 500000L), "b" -> (0L, 500000L),
                     "c" -> (1000000L, 0L))
    assert(hitsMap(star, 1) == expect)
    assert(hitsMap(star, 2) == expect)
  }

  test("hits: edge weights split hub mass proportionally") {
    // a→c w=3, b→c w=1: auth(c) = 1e6; hraw(a) = 3e6, hraw(b) = 1e6,
    // tot 4e6 → hub(a) = 750000, hub(b) = 250000
    val r = hitsMap(Seq(("a", "c", 3L), ("b", "c", 1L)), 2)
    assert(r == Map("a" -> (0L, 750000L), "b" -> (0L, 250000L),
                    "c" -> (1000000L, 0L)))
  }

  test("hits: L1 mass stays on the scale grid minus truncation loss") {
    // hash-derived 200-node digraph: after each round Σauth and Σhub
    // are ≤ 1e6 and lose < |V| to truncating division
    val edges = (1 to 600).map { i =>
      (s"n${i % 200}", s"n${(i * 7 + 3) % 200}", (i % 5 + 1).toLong)
    }.filter { case (u, v, _) => u != v }
    val r = hitsMap(edges, 2)
    val sa = r.values.map(_._1).sum
    val sh = r.values.map(_._2).sum
    assert(sa <= 1000000L && sa > 1000000L - r.size)
    assert(sh <= 1000000L && sh > 1000000L - r.size)
  }

  test("hits: dense driver core ≡ DataFrame loop on a 200-node digraph") {
    // the two cores run the same integer recurrence; a 600-edge graph
    // takes the dense one, and hitsSql runs the distributed loop on the
    // same cached (src, dst, w) frame
    import org.apache.spark.sql.functions.col
    val edges = (1 to 600).map { i =>
      (s"n${i % 200}", s"n${(i * 7 + 3) % 200}", (i % 5 + 1).toLong)
    }.filter { case (u, v, _) => u != v }
    val df = edges.toDF("src", "dst", "w")
    def m(res: org.apache.spark.sql.DataFrame): Map[String, (Long, Long)] =
      res.as[(String, Long, Long)].collect()
        .map { case (n, a, h) => n -> (a, h) }.toMap
    val dense = m(Graphs.hits(df, "src", "dst", "w", iters = 2))
    val e = graft.operators.PlanCache.reuse(
      df.select(col("src"), col("dst"), col("w").cast("long").as("w")))
    val sql = m(Graphs.hitsSql(e, iters = 2, scale = 1000000L))
    assert(dense == sql)
    assert(dense.nonEmpty)
  }

  test("hits: dense core preserves an integral node type") {
    val df = Seq((1L, 2L, 1L), (2L, 3L, 2L)).toDF("src", "dst", "w")
    val r = Graphs.hits(df, "src", "dst", "w", iters = 1)
    assert(r.schema("node").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(r.count() == 3L)
  }

  test("shortest hops: chain distances, min over paths, frontier cutoff") {
    import org.apache.spark.sql.functions.col
    def hops(edges: Seq[(String, String)], rounds: Int): Map[String, Option[Long]] =
      Graphs.shortestHops(edges.toDF("src", "dst"), "src", "dst",
                          col("node") === "a", rounds)
        .as[(String, Option[Long])].collect().toMap
    val chain = Seq(("a", "b"), ("b", "c"))
    assert(hops(chain, 3) ==
      Map("a" -> Some(0L), "b" -> Some(1L), "c" -> Some(2L)))
    // one round: c is beyond the frontier, stays NULL
    assert(hops(chain, 1)("c").isEmpty)
    // shortcut a→c beats the 2-hop path
    assert(hops(chain :+ (("a", "c")), 3)("c") == Some(1L))
    // edges are directed: nothing reaches a
    assert(hops(Seq(("b", "a"), ("b", "c")), 3) ==
      Map("a" -> Some(0L), "b" -> None, "c" -> None))
  }

  test("pagerank: heavier in-weight ranks higher, total stays near scale") {
    val r = ranks(Seq(("a", "c", 9L), ("a", "b", 1L),
                      ("b", "c", 1L), ("c", "a", 1L)), 3)
    assert(r("c") > r("b"), "c receives 9x b's weight from a")
    val total = r.values.sum
    assert(total <= 1000000000L && total > 900000000L)
  }

  test("pagerank: 10k-node hash-derived graph — mass conserved, iterate scales") {
    import org.apache.spark.sql.functions._
    // deterministic pseudo-random digraph: 3 out-edges per node with
    // md5-derived endpoints — no dangling nodes, so total rank must stay
    // within the teleport-truncation loss of scale (< 1 nano per node
    // per round per term)
    val n = 10000
    val edges = spark.range(0, n).toDF("src")
      .select(col("src"), explode(array(lit(1), lit(2), lit(3))).as("j"))
      .select(col("src"),
        (conv(substring(md5(concat(col("src"), lit("|"), col("j"))), 1, 8),
              16, 10).cast("long") % n).as("dst"),
        lit(1L).as("w"))
    val r = Graphs.pageRank(edges, "src", "dst", "w", iters = 3)
      .agg(sum(col("rank")), count(lit(1))).as[(Long, Long)].head()
    assert(r._2 > 9900L, "nearly all nodes appear in the edge list")
    assert(r._1 > 999000000L && r._1 <= 1000000000L,
           s"rank mass ${r._1} outside conservation window")
  }

  test("pagerank: RDD core is bit-identical to the DataFrame recurrence") {
    import org.apache.spark.sql.functions._
    // the pinned-partitioner RDD loop and the Catalyst loop must agree
    // rank-for-rank on a graph with skewed weights, dangling mass, and
    // teleport-only sources — the integer recurrence leaves no tolerance
    val n = 2000
    val edges = spark.range(0, n).toDF("src")
      .select(col("src"), explode(array(lit(1), lit(2), lit(3))).as("j"))
      .select(col("src"),
        (conv(substring(md5(concat(col("src"), lit("|"), col("j"))), 1, 8),
              16, 10).cast("long") % n).as("dst"),
        (col("src") % 7 + 1).as("w"))
      // drop some sources entirely → teleport-only + dangling structure
      .filter(col("src") % 13 =!= 0)
    val viaRdd = Graphs.pageRank(edges, "src", "dst", "w", iters = 3)
      .as[(Long, Long)].collect().toMap
    val viaSql = Graphs.pageRankSql(edges, "src", "dst", "w", iters = 3,
                                    scale = 1000000000L)
      .as[(Long, Long)].collect().toMap
    assert(viaRdd.size == viaSql.size && viaRdd == viaSql)
    graft.operators.PlanCache.releaseAll()
  }

  test("ccStar: logarithmic convergence on a 999-diameter chain; equals min-label CC") {
    import org.apache.spark.sql.functions.col
    // a 1000-node chain has diameter 999: min-label propagation needs
    // ~999 rounds; star contraction MUST land in ~log2(1000) ≈ 10 —
    // maxIter = 15 is the convergence-rate assertion, not headroom
    val chain = spark.range(0, 999).toDF("a")
      .select(col("a"), (col("a") + 1).as("b"))
    val labels = Graphs.ccStar(chain, "a", "b", maxIter = 15)
    assert(labels.count() == 1000)
    assert(labels.filter(col("cluster_id") =!= 0L).count() == 0,
           "every chain node must label to the component minimum 0")
    // min-label CC on a multi-component graph with a cycle, a path, an
    // isolated self-loop node: every node labeled with its component min
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (12L, 12L),
                    (20L, 21L), (21L, 22L), (22L, 20L)).toDF("a", "b")
    val star = Graphs.ccStar(pairs, "a", "b")
      .as[(Long, Long)].collect().toSeq.sorted
    assert(star === Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L),
                        (12L, 12L), (20L, 20L), (21L, 20L), (22L, 20L)))
  }

  test("ccStar: string ids are labeled as the same ids are as longs") {
    import org.apache.spark.sql.functions.{col, format_string}
    // zero-padded so the string MIN coincides with the numeric
    // component minimum
    val longPairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (12L, 12L),
                        (20L, 21L), (21L, 22L), (22L, 20L),
                        (5L, 3L), (30L, 31L)).toDF("a", "b")
    val asLongs = Graphs.ccStar(longPairs, "a", "b")
      .as[(Long, Long)].collect().toSet
      .map { p: (Long, Long) => (f"${p._1}%04d", f"${p._2}%04d") }
    val strPairs = longPairs.select(
      format_string("%04d", col("a")).as("a"),
      format_string("%04d", col("b")).as("b"))
    val asStrings = Graphs.ccStar(strPairs, "a", "b")
      .as[(String, String)].collect().toSet
    assert(asStrings === asLongs)
    graft.operators.PlanCache.releaseAll()
  }

  test("ccStar: string labels follow SQL min's UTF-8 order, not UTF-16 order") {
    import org.apache.spark.sql.functions.{col, min}
    // U+E000 vs U+1F600 (a surrogate pair): String.compareTo puts the
    // emoji first, UTF-8 bytes (EE.. < F0..) and so SQL min put it last
    val (pua, emoji) = ("\uE000", "\uD83D\uDE00")
    val pairs = Seq((emoji, pua), ("y", "x")).toDF("a", "b")
    val sqlMin = Seq(pua, emoji).toDF("id").agg(min(col("id")))
      .as[String].head()
    val got = Graphs.ccStar(pairs, "a", "b")
      .as[(String, String)].collect().toMap
    assert(got == Map(pua -> sqlMin, emoji -> sqlMin, "x" -> "x", "y" -> "x"))
  }

  test("ccStar refuses other id types by name, a collated string included") {
    import org.apache.spark.sql.functions.{col, collate}
    val pairs = Seq(("b", "a")).toDF("a", "b")
    val err = intercept[IllegalArgumentException](
      Graphs.ccStar(Seq((1.0, 2.0)).toDF("a", "b"), "a", "b"))
    assert(err.getMessage.contains("DOUBLE"))
    val lcase = pairs.select(collate(col("a"), "UTF8_LCASE").as("a"), col("b"))
    assert(intercept[IllegalArgumentException](Graphs.ccStar(lcase, "a", "b"))
      .getMessage.contains("UTF8_LCASE"))
  }

  test("ccStar on a small string-id graph fires 4 Spark jobs") {
    // the initial signature, one aggregate per 2-round probe (this graph
    // needs 2: the second sees the fixpoint), and the eager output
    // checkpoint. The DataFrame star loop this core replaced fired 32.
    val pairs = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("x", "y"), ("z", "z"))
      .toDF("a", "b")
    val sc = spark.sparkContext
    val group = "ccstar-jobs"
    sc.setJobGroup(group, "ccStar on a string-id graph")
    val labels = try Graphs.ccStar(pairs, "a", "b")
                 finally sc.clearJobGroup()
    assert(sc.statusTracker.getJobIdsForGroup(group).length == 4)
    assert(labels.as[(String, String)].collect().toMap ==
      Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a",
          "x" -> "x", "y" -> "x", "z" -> "z"))
  }

  test("degenerate inputs: empty edge lists yield empty results, no throw") {
    import org.apache.spark.sql.functions.col
    val none = Seq.empty[(String, String, Long)].toDF("src", "dst", "w")
    assert(Graphs.pageRank(none, "src", "dst", "w", iters = 2).isEmpty)
    assert(Graphs.shortestHops(none.drop("w"), "src", "dst",
                               col("node") === "a", 2).isEmpty)
    // self-loop-only graph: node feeds itself, rank mass is conserved
    val selfLoop = Seq(("a", "a", 1L)).toDF("src", "dst", "w")
    val r = Graphs.pageRank(selfLoop, "src", "dst", "w", iters = 3)
      .as[(String, Long)].head()
    assert(r._1 == "a" && r._2 > 990000000L && r._2 <= 1000000000L)
  }

  test("shortest hops: 1k-node chain advances exactly one frontier per round") {
    import org.apache.spark.sql.functions._
    val chain = spark.range(0, 999).toDF("src")
      .select(col("src"), (col("src") + 1L).as("dst"))
    val d = Graphs.shortestHops(chain, "src", "dst", col("node") === 0L, 5)
      .as[(Long, Option[Long])].collect().toMap
    (0L to 5L).foreach(i => assert(d(i) == Some(i)))
    assert(d(6L).isEmpty && d(999L).isEmpty, "beyond the 5-round frontier")
  }

  test("personalized PageRank with the all-nodes seed set equals plain PageRank") {
    import org.apache.spark.sql.functions.col
    val edges = Seq(("a", "b", 1L), ("b", "c", 2L), ("c", "a", 1L),
                    ("a", "c", 3L)).toDF("src", "dst", "w")
    val allNodes = edges.select(col("src").as("n"))
      .union(edges.select(col("dst"))).distinct()
    val ppr = Graphs
      .personalizedPageRank(edges, "src", "dst", "w", allNodes, "n", 3)
      .as[(String, Long)].collect().toMap
    val pr = Graphs.pageRank(edges, "src", "dst", "w", 3)
      .as[(String, Long)].collect().toMap
    assert(ppr == pr)
  }

  test("personalized PageRank: mass flows out from the seed, hop by hop") {
    val chain = Seq(("a", "b", 1L), ("b", "c", 1L), ("c", "d", 1L))
      .toDF("src", "dst", "w")
    val seeds = Seq("a").toDF("n")
    val r = Graphs
      .personalizedPageRank(chain, "src", "dst", "w", seeds, "n", 2)
      .as[(String, Long)].collect().toMap
    // init a=1e9; round 1: a=150M (teleport), b=850M; round 2:
    // b=150M*85%=127.5M, c=850M*85%=722.5M, d still untouched
    assert(r == Map("a" -> 150000000L, "b" -> 127500000L,
                    "c" -> 722500000L, "d" -> 0L))
  }

  private def core(edges: Seq[(Long, Long)], k: Int,
                   rounds: Int): Map[Long, Long] =
    Graphs.kCore(edges.toDF("a", "b"), "a", "b", k, rounds)
      .as[(Long, Long)].collect().toMap

  test("kCore: pendant peels off, survivors report post-peel degrees") {
    // triangle 1-2-3 plus pendant 4 on 1: round 1 drops 4 (deg 1 < 2);
    // node 1's reported degree is 2 — measured AFTER the peel
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L))
    assert(core(g, 2, 3) == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("kCore: chain unravels end-in; extra no-op rounds don't change it") {
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    assert(core(chain, 2, 4).isEmpty)
    assert(core(chain, 2, 30).isEmpty)
  }

  test("kCore: K4 is its own 3-core — fixpoint at round 1") {
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    assert(core(k4, 3, 6) ==
      Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("kCore: duplicate, reversed, and self-loop edges don't inflate degrees") {
    val g = Seq((1L, 2L), (2L, 1L), (1L, 1L), (2L, 3L), (1L, 3L), (2L, 3L))
    assert(core(g, 2, 3) == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // with honest degrees the triangle dies at k = 3
    assert(core(g, 3, 3).isEmpty)
  }

  test("kCore: round budget caps the cascade mid-peel") {
    // chain of 5: round 1 drops both ends, round 2 drops 2 and 4 — a
    // 1-round budget reports the mid-cascade state (3 nodes, deg from
    // round 1's input), not the empty fixpoint
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    assert(core(chain, 2, 1) == Map(2L -> 2L, 3L -> 2L, 4L -> 2L))
    assert(core(chain, 2, 4).isEmpty)
  }

  private def lp(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] =
    Graphs.labelPropagation(edges.toDF("a", "b"), "a", "b", rounds)
      .as[(Long, Long)].collect().toMap

  /** Independent in-JVM synchronous LPA — self-vote, most-votes-then-
    * smallest-label tie-break — as the reference implementation. */
  private def lpRef(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val sym = edges.filter(e => e._1 != e._2)
      .flatMap(e => Seq(e, e.swap)).distinct
    val adj = sym.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    var labels: Map[Long, Long] = adj.keys.map(n => n -> n).toMap
    for (_ <- 1 to rounds)
      labels = adj.map { case (n, nbrs) =>
        n -> (nbrs.map(labels) :+ labels(n))
          .groupBy(identity).view.mapValues(_.size).toSeq
          .minBy { case (l, c) => (-c, l) }._1
      }
    labels
  }

  test("labelPropagation: bridged triangles split into two communities") {
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L),
                (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
    val expect = Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
                     4L -> 4L, 5L -> 4L, 6L -> 4L)
    assert(lp(g, 4) == expect)
    assert(lpRef(g, 4) == expect)   // and it IS the converged fixpoint
    assert(lp(g, 6) == expect)
  }

  test("labelPropagation: self-vote stabilizes the star in one round") {
    // without the self-vote the synchronous schedule oscillates
    // period-2 on any star; with it everything adopts the hub's label
    val star = (2L to 6L).map(i => (1L, i))
    assert(lp(star, 1) == (1L to 6L).map(_ -> 1L).toMap)
    assert(lp(star, 2) == (1L to 6L).map(_ -> 1L).toMap)
  }

  test("labelPropagation: matches the in-JVM reference round by round") {
    // barbell + pendant chain — asymmetric degrees, a bridge, a tail
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 7L), (7L, 8L),
                (8L, 9L), (9L, 10L), (4L, 5L), (4L, 6L), (5L, 6L), (6L, 7L))
    for (r <- 1 to 3) assert(lp(g, r) == lpRef(g, r), s"round $r")
  }

  test("labelPropagation: duplicate, reversed, self-loop edges don't skew votes") {
    val g = Seq((1L, 2L), (2L, 1L), (1L, 1L), (2L, 3L), (2L, 3L))
    assert(lp(g, 2) == lpRef(Seq((1L, 2L), (2L, 3L)), 2))
  }

  // rows: (community, n_nodes, l_in, d_sum, q_term)
  private def mod(edges: Seq[(Long, Long)],
                  labels: Map[Long, Long]): Set[(Long, Long, Long, Long, Long)] =
    Graphs.modularity(edges.toDF("a", "b"), "a", "b",
                      labels.toSeq.toDF("node", "label"))
      .as[(Long, Long, Long, Long, Long)].collect().toSet

  test("modularity: bridged triangles — exact integer terms and Q") {
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L),
                (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
    val rows = mod(g, lp(g, 4))
    // m = 7; each triangle: L_c = 3 intra edges, d_c = 7, so
    // q_term = 4·7·3 − 49 = 35; Q = (35 + 35) / (4·49) = 5/14
    assert(rows == Set((1L, 3L, 3L, 7L, 35L), (4L, 3L, 3L, 7L, 35L)))
    val m = 7L
    assert(rows.toSeq.map(_._5).sum.toDouble / (4 * m * m) == 5.0 / 14)
  }

  test("modularity: one clique as one community scores exactly zero") {
    // L = m and d_sum = 2m → q_term = 4m·m − 4m² = 0
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    assert(mod(k4, lp(k4, 2)) == Set((1L, 4L, 6L, 12L, 0L)))
  }

  test("modularity: bookkeeping laws — Σd_sum = 2m, Σl_in ≤ m, dups ignored") {
    val g = Seq((1L, 2L), (2L, 1L), (1L, 1L), (2L, 3L), (3L, 4L),
                (4L, 5L), (5L, 6L), (6L, 4L), (2L, 3L))
    val rows = mod(g, lp(g, 3))
    val m = 6L                        // canonical undirected edges
    assert(rows.toSeq.map(_._4).sum == 2 * m)
    assert(rows.toSeq.map(_._3).sum <= m)
    rows.foreach { case (_, _, lIn, dSum, q) =>
      assert(q == 4 * m * lIn - dSum * dSum)
    }
  }
}
